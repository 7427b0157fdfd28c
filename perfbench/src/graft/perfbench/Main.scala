package graft.perfbench

import java.io.File
import java.lang.management.ManagementFactory

import org.apache.spark.sql.SparkSession
import org.json4s.DefaultFormats
import org.json4s.jackson.Serialization

/** One workload in this JVM: set up, warm up, measure for `--seconds`,
  * check, and print a record line then the result line. See README.md.
  *
  *   graft.perfbench.Main --workload <name> --seed <n> --seconds <s>
  *     --trace <0|1> --work <scratch dir> --out <output dir>
  */
object Main {
  val LoadReps = 3
  val MinWarmBlocks = 2
  val WarmSeconds = 12.0
  val Settle = 0.25

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val traced = opts("trace") == "1"
    val work = new File(opts("work"))
    val out = new File(opts("out"))
    Counters.gcMillis(): Unit // registers the GC pause listener
    val host0 = Host.snapshot()

    val cpus = Runtime.getRuntime.availableProcessors
    val settings = Seq(
      "spark.master" -> s"local[$cpus]",
      "spark.sql.shuffle.partitions" -> cpus.toString,
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.coalescePartitions.minPartitionSize" -> "64k",
      "spark.sql.streaming.checkpoint.fileChecksum.enabled" -> "false",
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      "spark.sql.sources.v2.bucketing.pushPartValues.enabled" -> "true",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.ui.enabled" -> "false",
      "spark.sql.warehouse.dir" -> new File(work, "warehouse").toURI.toString)
    val spark = settings.foldLeft(SparkSession.builder()
      .withExtensions(new graft.functions.GraftExtensions)) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val tap = new Counters.JobTap
    spark.sparkContext.addSparkListener(tap)
    val sessionS = ManagementFactory.getRuntimeMXBean.getUptime / 1000.0
    val tmpAtStart = tmpDirs()

    val ctx = Ctx(spark, seed, work, cpus)
    val w = Workload(workload, ctx)
    val failures = scala.collection.mutable.ArrayBuffer.empty[String]
    def time(body: => Unit): Double = { val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9 }
    val loads = (0 until LoadReps).map(rep => time(w.load(rep)))
    val prepareS = time(w.prepare())

    val rng = new java.util.Random(seed * 7919L)
    /** A window of `n` ops numbered from 0. */
    def drive(n: Long): Seq[OpRecord] = (0L until n).map(seq => w.runOp(seq, rng))
    def p50(rs: Seq[OpRecord]) = Workload.median(rs.map(_.nanos / 1e6))

    // Warm-up: a fixed number of whole blocks, at least two and at least
    // `WarmSeconds` at the nominal block time, so that every op kind
    // warms and set-up time does not jump by a block when a settle test
    // passes or fails. Whether each kind's median settled over the last
    // two blocks is recorded.
    val warmBlockCount = math.max(MinWarmBlocks.toLong, math.round(WarmSeconds / w.nominalBlockSeconds))
    val warm0 = System.nanoTime()
    val warmBlocks = (1L to warmBlockCount).map(_ => drive(w.block))
    val warmS = (System.nanoTime() - warm0) / 1e9
    val warmOps = warmBlocks.flatten
    val warmKindP50 = warmBlocks.map(_.groupBy(_.kind).map { case (kind, of) => kind -> p50(of) })
    val warmSettled = warmKindP50.takeRight(2) match {
      case Seq(prev, last) => last.forall { case (kind, v) =>
        prev.get(kind).exists(p => math.abs(v - p) <= Settle * p) }
      case _ => false
    }
    val setupS = sessionS + Workload.median(loads) + prepareS + warmS

    // A measured window is a fixed number of whole blocks, as many as fit
    // in `seconds` at the workload's nominal block time, so that the op
    // count, the mix under each median and the tail percentile do not
    // change with host speed.
    val blocks = math.max(1L, math.round(seconds / w.nominalBlockSeconds))
    def window(): Seq[OpRecord] = drive(blocks * w.block)
    val ops = window()
    val metrics = scala.collection.mutable.LinkedHashMap.empty[String, (Double, String)]
    val record = scala.collection.mutable.LinkedHashMap.empty[String, Any]

    def kindP50(rs: Seq[OpRecord], kind: String): Double = {
      val of = rs.filter(_.kind == kind)
      p50(if (of.isEmpty) rs else of)
    }
    val allOps = warmOps ++ ops
    val sorted = ops.map(_.nanos / 1e6).sorted
    val tailIdx = (sorted.size - 11).max(0)
    val docs = ops.map(_.docs).sum.toDouble
    val opSeconds = ops.map(_.nanos).sum / 1e9
    var tracedOps: Seq[OpRecord] = Nil

    if (traced) {
      val meter = new Counters.Meter(tap)
      Trace.enabled = true
      val tops = window()
      val twin = meter.stop()
      tracedOps = tops
      val layer = w.layerMetrics(tops)
      Trace.enabled = false
      val spans = Trace.summary
      def selfMs(n: String) = spans.get(n).map { case (c, _, self) => self / 1e6 / c }.getOrElse(0.0)
      def totalMs(n: String) = spans.get(n).map { case (c, total, _) => total / 1e6 / c }.getOrElse(0.0)
      val n = tops.size.max(1).toDouble
      val tdocs = tops.map(_.docs).sum.max(1L).toDouble
      val written = tops.map(_.written).sum
      val cpuMs = tops.map(_.nanos).sum / 1e6 * cpus
      val perLayer = Seq(
        "mql.compile_ms" -> selfMs("mql.compile"),
        "spark.plan_ms" -> selfMs("spark.plan"),
        "sources.scan_exec_ms" -> selfMs("sources.scan_exec"),
        "sources.bytes_read_per_doc" -> twin.fs.bytesRead / tdocs,
        "sources.arrow_write_ms" -> selfMs("sources.arrow_write"),
        "sources.arrow_read_ms" -> selfMs("sources.arrow_read"),
        "sources.opmsg_fetch_ms" -> selfMs("sources.opmsg_fetch"),
        "sources.opmsg_client_decode_ms" -> selfMs("sources.opmsg_client_decode"),
        "sources.opmsg_direct_ms" -> totalMs("sources.opmsg_direct"),
        "sources.opmsg_landed_bytes_per_doc" -> layer.getOrElse("sources.opmsg_landed_bytes_per_doc", 0.0),
        "sinks.write_ms" -> selfMs("sinks.write"),
        "sinks.append_ms" -> selfMs("sinks.append"),
        "sinks.bytes_written_per_doc" -> layer.getOrElse("sinks.bytes_written_per_doc",
          if (written == 0) 0.0 else twin.fs.bytesWritten.toDouble / written),
        "sinks.files_per_collection" -> w.filesPerCollection(),
        "spark.jobs_per_op" -> twin.jobs / n,
        "spark.tasks_per_op" -> twin.tasks / n,
        "spark.task_busy_share" -> (if (cpuMs == 0) 0.0 else twin.taskRunMs / cpuMs),
        "spark.task_wait_ms" -> twin.taskWaitMs,
        "spark.shuffle_bytes_per_doc" -> twin.shuffleBytes / tdocs,
        "jvm.gc_ms_per_op" -> twin.gcMs / n,
        "jvm.gc_pause_max_ms" -> twin.gcPauseMaxMs.toDouble,
        "jvm.heap_peak_mb" -> twin.heapPeakMb,
        "trace.overhead_ms" -> (p50(tops) - p50(ops)),
        "trace.op_self_share" -> spans.get("op").map { case (_, t, s) => s.toDouble / t }.getOrElse(0.0),
        "bench.warmup_ops" -> warmOps.size.toDouble)
      val streaming = Seq("trigger_ms", "add_batch_ms", "latest_offset_ms", "query_planning_ms",
        "wal_commit_ms", "state_commit_ms", "rows_per_batch").map("streaming." + _)
      (perLayer ++ streaming.map(k => k -> layer.getOrElse(k, 0.0)) ++
        layer.toSeq.filterNot { case (k, _) => k.startsWith("streaming.") || perLayer.exists(_._1 == k) }
          .sortBy(_._1))
        .foreach { case (k, v) => metrics(k) = (v, unitOf(k)) }
      Trace.writeJsonl(new File(out, s"spans-$workload-s$seed.jsonl").toPath)
      record("spans") = spans.toSeq.sortBy(_._1).map { case (k, (c, t, s)) =>
        k -> Map("calls" -> c, "total_ms" -> t / 1e6, "self_ms" -> s / 1e6) }.toMap
    } else {
      metrics("setup_s") = (setupS, "s")
      metrics("docs_per_s") = (docs / opSeconds.max(1e-9), "docs/s")
      metrics("op_p50_ms") = (p50(ops), "ms")
      metrics("op_tail_ms") = (if (sorted.isEmpty) 0.0 else sorted(tailIdx), "ms")
      metrics("alloc_bytes_per_doc") = (ops.map(_.timed.alloc).sum / docs.max(1.0), "B/doc")
      metrics("ok_share") = (ops.count(_.ok).toDouble / ops.size.max(1), "ratio")
      metrics("find_p50_ms") = (kindP50(ops, "find"), "ms")
      metrics("aggregate_p50_ms") = (kindP50(ops, "aggregate"), "ms")
      metrics("insert_p50_ms") = (kindP50(ops, "insert"), "ms")
      metrics("stored_bytes_per_doc") = (w.storedBytesPerDoc(), "B/doc")
    }

    val measuredAt = ManagementFactory.getRuntimeMXBean.getUptime / 1000.0
    failures ++= w.finalChecks()
    val measured = ops ++ tracedOps
    failures ++= allOps.filterNot(_.ok).map(_.error) ++ tracedOps.filterNot(_.ok).map(_.error)
    w.close()
    val leaked = tmpDirs() -- tmpAtStart
    if (leaked.nonEmpty) failures += s"temp dirs left behind: ${leaked.toSeq.sorted.take(10).mkString(", ")}"
    val host1 = Host.snapshot()
    val finishedAt = ManagementFactory.getRuntimeMXBean.getUptime / 1000.0

    record ++= Seq(
      "workload" -> workload, "seed" -> seed, "held_out_seed" -> Host.HeldOutSeed,
      "seconds" -> seconds, "trace" -> traced, "block_ops" -> w.block, "blocks" -> blocks,
      "rev" -> sys.props.getOrElse("perfbench.rev", "unknown"),
      "nproc" -> cpus, "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576,
      "session" -> settings.toMap,
      "loadavg_start" -> host0.loadavg, "loadavg_end" -> host1.loadavg,
      "steal_ticks" -> (host1.steal - host0.steal), "cpu_ticks" -> (host1.total - host0.total),
      "setup" -> Map("session_s" -> sessionS, "load_s" -> loads, "prepare_s" -> prepareS,
        "warmup_s" -> warmS, "warmup_ops" -> warmOps.size,
        "warmup_kind_p50_ms" -> warmKindP50, "warmup_settled" -> warmSettled,
        "uptime_measured_s" -> measuredAt, "uptime_finished_s" -> finishedAt),
      "ops" -> ops.size, "traced_ops" -> tracedOps.size,
      "op_ms" -> ops.map(o => Seq(String.valueOf(o.param), o.nanos / 1e6)),
      "op_tail_percentile" -> (if (sorted.size > 10) 100.0 * (sorted.size - 10) / sorted.size else 0.0),
      "op_tail_samples_beyond" -> (sorted.size - 1 - tailIdx),
      "ops_by_kind" -> measured.groupBy(_.kind).map { case (k, v) => k -> v.size },
      "check_failures" -> failures.filter(_ != null).distinct.take(50))
    spark.stop()

    val failedOps = measured.count(!_.ok)
    val correct = failures.isEmpty
    println(Serialization.write(record.toMap)(DefaultFormats))
    println(Serialization.write(Map("correct" -> correct, "attempted" -> measured.size, "failed" -> failedOps,
      "metrics" -> metrics.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) }.toMap))(
      DefaultFormats))
    System.out.flush()
    sys.exit(if (correct) 0 else 1)
  }

  /** A per-layer metric's unit, from its name less any .shape/.codec. */
  def unitOf(name: String): String = {
    val k = (Gen.Shapes ++ Probes.Codecs.map(_._1)).foldLeft(name)((n, s) => n.stripSuffix("." + s))
    if (k.endsWith("_ms")) "ms"
    else if (k.endsWith("_ns_per_doc")) "ns/doc"
    else if (k.endsWith("bytes_per_doc")) "B/doc"
    else if (k.endsWith("_mb")) "MB"
    else if (k.endsWith("_per_op") || k.endsWith("_per_batch") || k.endsWith("_per_collection") ||
      k.endsWith("_ops")) "count"
    else "ratio"
  }

  /** Directories in java.io.tmpdir, less the session's own (Spark removes
    * those at stop; the runner checks the bytes after exit). */
  private def tmpDirs(): Set[String] =
    Option(new File(System.getProperty("java.io.tmpdir")).listFiles).toSeq.flatten
      .filter(_.isDirectory).map(_.getName)
      .filterNot(n => Seq("spark-", "artifacts-", "blockmgr-").exists(n.startsWith)).toSet
}

/** Host record: /proc/loadavg and the /proc/stat steal counter. */
object Host {
  /** Claims made against this benchmark are confirmed on this seed,
    * which is kept out of tuning. */
  val HeldOutSeed = 9001L

  final case class Snap(loadavg: String, steal: Long, total: Long)
  def snapshot(): Snap = {
    def read(p: String) = try new String(java.nio.file.Files.readAllBytes(new File(p).toPath)).trim
      catch { case _: Exception => "" }
    val cpu = read("/proc/stat").linesIterator.find(_.startsWith("cpu "))
      .map(_.split("\\s+").drop(1).map(_.toLong)).getOrElse(Array.empty[Long])
    Snap(read("/proc/loadavg"), if (cpu.length > 7) cpu(7) else 0L, cpu.sum)
  }
}
