package graft

import scala.collection.mutable.ArrayBuffer
import scala.util.{Failure, Success, Try}

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Dev profiler for declared queries, under the bench's own session
  * ([[Session.local]]):
  *
  *   runMain graft.Prof <time|stages|plan|stream> <sfDir> <reps> <query...>
  *
  * Each run materializes every output column (`toRdd.count()`, as
  * [[Bench]] times it) and then drops persisted intermediates
  * ([[Session.reset]]). No query names: every declared query.
  *
  *  - `time`: per query, each run's seconds and their min. A failing
  *    query prints FAILED, never a plausible timing.
  *  - `stages`: per run, every completed stage's wall, task, CPU and GC
  *    time, input and shuffle bytes and records, costliest first — so a
  *    slow query's expensive stage shows without the UI.
  *  - `plan`: the formatted physical plan. With `reps > 0` the query
  *    runs first, so the plan is AQE's final one, followed by every
  *    node's non-zero SQL metrics from the last run.
  *  - `stream`: per run of a streaming gate, each micro-batch's
  *    `durationMs` breakdown and state-operator sizes. Two stream-only
  *    knobs: `SPARK_GRAFT_AB=<conf key>` runs every rep with the key
  *    `true` then `false` (JVM-level noise cancels out), and
  *    `SPARK_GRAFT_DUMP_MS=<ms>` dumps task-thread stacks at that
  *    period (`SPARK_GRAFT_DUMP_ALL` widens it to every runnable
  *    thread).
  */
object Prof {
  private object PlanWalk extends org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
  private val Modes = Set("time", "stages", "plan", "stream")

  private case class Stage(id: Int, name: String, wallMs: Long, taskMs: Long,
                           inBytes: Long, inRecs: Long, shReadBytes: Long,
                           shWriteBytes: Long, shWriteRecs: Long, tasks: Int,
                           cpuMs: Long, gcMs: Long)

  def main(args: Array[String]): Unit = {
    require(args.length >= 3 && Modes(args(0)),
      "usage: graft.Prof <time|stages|plan|stream> <sfDir> <reps> <query...>")
    val Array(mode, sfDir, repsArg) = args.take(3)
    val reps = repsArg.toInt
    val names = if (args.length > 3) args.drop(3).toSeq else SparkEntry.queries.keys.toSeq.sorted
    val unknown = names.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries ${unknown.mkString(", ")} (valid: " +
      SparkEntry.queries.keys.toSeq.sorted.mkString(", ") + ")")
    val spark = Session.local()

    val stages = ArrayBuffer.empty[Stage]
    if (mode == "stages") spark.sparkContext.addSparkListener(new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val si = e.stageInfo
        val m = si.taskMetrics
        val wall = (for (a <- si.completionTime; b <- si.submissionTime) yield a - b).getOrElse(0L)
        stages.synchronized {
          stages += Stage(si.stageId, si.name.takeWhile(_ != '\n').take(90), wall,
            m.executorRunTime, m.inputMetrics.bytesRead, m.inputMetrics.recordsRead,
            m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
            m.shuffleWriteMetrics.recordsWritten, si.numTasks,
            m.executorCpuTime / 1000000, m.jvmGCTime)
        }
      }
    })
    if (mode == "stream") {
      spark.streams.addListener(new StreamingQueryListener {
        import StreamingQueryListener._
        override def onQueryStarted(e: QueryStartedEvent): Unit = ()
        override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
        override def onQueryProgress(e: QueryProgressEvent): Unit = {
          val p = e.progress
          println(s"[probe] batch=${p.batchId} rows=${p.numInputRows} " +
            s"durations=${p.durationMs} state=${p.stateOperators.map(s =>
              s"(rows=${s.numRowsTotal} updated=${s.numRowsUpdated} " +
              s"commitMs=${s.commitTimeMs} mem=${s.memoryUsedBytes})").mkString}")
        }
      })
      sys.env.get("SPARK_GRAFT_DUMP_MS").foreach(ms => stackDumper(ms.toLong).start())
    }
    // warmup like Bench: the fact table spins up codegen and IO pools
    if (mode != "plan") spark.read.parquet(s"$sfDir/lineitem.parquet").count()

    val ab = if (mode == "stream") sys.env.get("SPARK_GRAFT_AB") else None
    for (name <- names) {
      val fn = SparkEntry.queries(name)
      val runs = for (r <- 1 to reps; v <- ab.fold(Seq(""))(_ => Seq("true", "false"))) yield {
        ab.foreach(spark.conf.set(_, v))
        stages.synchronized(stages.clear())
        val t0 = System.nanoTime()
        val df = Try(fn(spark, sfDir))
        val rows = df.map(_.queryExecution.toRdd.count())
        val s = (System.nanoTime() - t0) / 1e9
        Session.reset(spark)
        mode match {
          case "stages" =>
            Thread.sleep(300) // let the listener drain the job's stage events
            println(f"\n===== $name #$r total=$s%.2f s rows=${rows.getOrElse(-1L)} =====")
            printStages(stages.synchronized(stages.toVector))
          case "stream" =>
            println(f"[probe] $name${ab.fold("")(k => s" $k=$v")} total=$s%.2f s " +
              s"rows=${rows.getOrElse(-1L)}")
          case _ =>
        }
        (df, rows.map(_ => s))
      }
      mode match {
        case "plan" =>
          // the last run's plan, or a fresh unexecuted one at reps = 0
          val last = runs.lastOption.fold(Try(fn(spark, sfDir)))(_._1)
          println(s"\n===== $name =====")
          last match {
            case Success(d) =>
              println(d.queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode))
              // the formatted plan carries no metric values: after a run,
              // list every node's non-zero SQL metrics (the graftdocs
              // scan's decode counters among them)
              if (runs.nonEmpty) PlanWalk.foreach(d.queryExecution.executedPlan) { n =>
                val ms = n.metrics.collect { case (k, m) if m.value != 0 => s"$k=${m.value}" }
                if (ms.nonEmpty) println(s"[metrics] ${n.nodeName}: ${ms.toSeq.sorted.mkString(", ")}")
              }
            case Failure(e) => println(s"failed: ${e.getMessage}")
          }
        case _ => runs.collectFirst { case (_, Failure(e)) => e } match {
          case Some(e) => println(f"$name%-28s FAILED: ${String.valueOf(e.getMessage)}")
          case None if mode == "time" && runs.nonEmpty =>
            val ts = runs.map(_._2.get)
            println(f"$name%-28s min=${ts.min}%.3f  runs=[${ts.map(t => f"$t%.3f").mkString(", ")}]")
          case None =>
        }
      }
    }
    if (mode == "stream") Thread.sleep(500) // let the last progress event print
    spark.stop()
  }

  private def printStages(snap: Seq[Stage]): Unit = {
    println(f"${"stage"}%-6s${"tasks"}%6s${"wall_ms"}%8s${"task_ms"}%9s${"cpu_ms"}%8s" +
      f"${"gc_ms"}%7s${"in_MB"}%8s${"in_rec"}%10s${"shRd_MB"}%9s${"shWr_MB"}%9s" +
      f"${"shWr_rec"}%10s  name")
    snap.sortBy(-_.taskMs).take(18).foreach { s =>
      println(f"${s.id}%-6d${s.tasks}%6d${s.wallMs}%8d${s.taskMs}%9d${s.cpuMs}%8d" +
        f"${s.gcMs}%7d${s.inBytes / 1e6}%8.1f${s.inRecs}%10d${s.shReadBytes / 1e6}%9.2f" +
        f"${s.shWriteBytes / 1e6}%9.2f${s.shWriteRecs}%10d  ${s.name}")
    }
    println(f"stages=${snap.size} sum_task_ms=${snap.map(_.taskMs).sum} " +
      f"sum_cpu_ms=${snap.map(_.cpuMs).sum} sum_gc_ms=${snap.map(_.gcMs).sum}")
  }

  /** A daemon thread printing busy task threads' stacks every `ms`. */
  private def stackDumper(ms: Long): Thread = {
    val all = sys.env.contains("SPARK_GRAFT_DUMP_ALL")
    val t = new Thread(() => {
      try {
        while (true) {
          Thread.sleep(ms)
          Thread.getAllStackTraces.forEach { (t, st) =>
            val interesting =
              if (all) t.getState == Thread.State.RUNNABLE && st.nonEmpty &&
                !t.getName.contains("dispatcher") && !t.getName.startsWith("RemoteBlock")
              else t.getName.startsWith("Executor task launch") && st.nonEmpty
            if (interesting) {
              println(s"[dump] ${t.getName} ${t.getState}")
              st.take(14).foreach(f => println(s"[dump]    $f"))
            }
          }
          println("[dump] ---")
        }
      } catch { case _: InterruptedException => () }
    })
    t.setDaemon(true)
    t
  }
}
