package graft.sources

import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkFixture

/** File-level zone maps (`.zmap` sidecars) in the graftdocs connector:
  * the writer stages per-column min/max/nulls alongside every batch
  * file, and a scan with pushed doc-field filters drops the files whose
  * predicate is provably false — parquet row-group skipping, doc-source
  * form. The scale claim under test: a range query over a range-
  * clustered layout must open only the intersecting files, and a
  * skipped file must never change an answer (soundness). */
class ZoneMapSpec extends AnyFunSuite {
  private lazy val spark = SparkFixture.spark
  import spark.implicits._

  private def tmp(): String =
    graft.TestDirs.temp("graft_zmap").toString

  private lazy val orders =
    spark.read.parquet("/root/testdata/sf0.001/orders.parquet")

  private def listFiles(path: String, suffix: String): Seq[java.io.File] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
    walk(new java.io.File(path))
      .filter(f => !f.getName.startsWith(".") && f.getName.endsWith(suffix))
  }

  private def plannedPartitions(df: org.apache.spark.sql.DataFrame): Int =
    df.queryExecution.executedPlan.collectLeaves().head
      .asInstanceOf[BatchScanExec].inputRDD.getNumPartitions

  /** Range-clustered layout: 8 files with disjoint o_orderkey ranges. */
  private def writeClustered(path: String, format: String = "jsonl"): Unit =
    orders.repartitionByRange(8, $"o_orderkey")
      .sortWithinPartitions($"o_orderkey")
      .write.format("graftdocs").option("format", format)
      .mode("overwrite").save(path)

  test("writer stages one committed .zmap sidecar per batch file") {
    val path = tmp()
    writeClustered(path)
    val data = listFiles(path, ".jsonl")
    val zmaps = listFiles(path, ".zmap")
    assert(data.nonEmpty && zmaps.size == data.size,
      s"${data.size} data files vs ${zmaps.size} sidecars")
    // sidecar names its data file and records its exact length
    data.foreach { f =>
      val z = new java.io.File(f.getPath + ".zmap")
      assert(z.exists(), s"missing sidecar for ${f.getName}")
      val json = new String(java.nio.file.Files.readAllBytes(z.toPath))
      assert(json.contains("\"len\":" + f.length()), s"stale len in $json")
      assert(json.contains("o_orderkey") && json.contains("o_totalprice"))
    }
  }

  test("range filter skips non-intersecting files at planning (jsonl + bson)") {
    for (fmt <- Seq("jsonl", "bson")) {
      val path = tmp()
      writeClustered(path, fmt)
      val total = listFiles(path, "." + fmt).size
      assert(total >= 4, s"expected a multi-file layout, got $total")
      val back = spark.read.format("graftdocs").schema(orders.schema).load(path)
      val lo = orders.agg(min("o_orderkey")).head.getLong(0)
      val q = back.where($"o_orderkey" <= lo + 5)
      val planned = plannedPartitions(q)
      assert(planned < total, s"[$fmt] no zone skipping: $planned of $total")
      assert(q.queryExecution.executedPlan.toString.contains("ZoneMapPruned:"),
        q.queryExecution.executedPlan.toString)
      // answers are identical to the unclustered truth
      assert(q.count() == orders.where($"o_orderkey" <= lo + 5).count())
    }
  }

  test("soundness: skipped files are truly never opened, and kept rows are exact") {
    val path = tmp()
    writeClustered(path)
    val back = spark.read.format("graftdocs").schema(orders.schema).load(path)
    val hi = orders.agg(max("o_orderkey")).head.getLong(0)
    val pred = $"o_orderkey" >= hi - 5
    val expected = orders.where(pred).select(sum("o_totalprice")).head.getDouble(0)
    // poison every file the zone maps exclude: if the scan opened one,
    // the query would throw instead of answering
    val q0 = back.where(pred)
    val opened = q0.queryExecution.executedPlan.collectLeaves().head
      .asInstanceOf[BatchScanExec].partitions.flatten
      .map(_.asInstanceOf[GraftFilePartition].path).toSet
    val all = listFiles(path, ".jsonl")
    assert(opened.size < all.size)
    // delete every excluded file outright (the IVF partitioned-layout
    // spec's trick): if the answer needed any of them, it changes
    all.filterNot(f => opened.contains("file:" + f.getPath) ||
        opened.contains(f.getPath))
      .foreach { f =>
        assert(f.delete())
        new java.io.File(f.getPath + ".zmap").delete()
      }
    val got = spark.read.format("graftdocs").schema(orders.schema).load(path)
      .where(pred).select(sum("o_totalprice")).head.getDouble(0)
    assert(got == expected)
  }

  test("stale sidecar (length mismatch) is distrusted: no skipping, still correct") {
    val path = tmp()
    writeClustered(path)
    // grow every data file by one document: sidecar lengths now lie
    // (drop the local-FS checksum shadows — out-of-band mutation)
    val extra = orders.limit(1)
    listFiles(path, ".jsonl").foreach { f =>
      val line = graft.sinks.DocWriter.encodeJsonLine(extra.head, orders.schema) + "\n"
      java.nio.file.Files.write(f.toPath, line.getBytes,
        java.nio.file.StandardOpenOption.APPEND)
      new java.io.File(f.getParent, "." + f.getName + ".crc").delete()
    }
    val back = spark.read.format("graftdocs").schema(orders.schema).load(path)
    val lo = orders.agg(min("o_orderkey")).head.getLong(0)
    val total = listFiles(path, ".jsonl").size
    val q = back.where($"o_orderkey" === lo)
    assert(plannedPartitions(q) == total, "stale sidecars must not prune")
    assert(q.count() == orders.where($"o_orderkey" === lo).count() + total)
  }

  test("null semantics: IsNull keeps only files with nulls; IsNotNull skips all-null files") {
    val path = tmp()
    val df = Seq[(java.lang.Long, String)]((1L, "a"), (2L, "b")).toDF("k", "v")
      .union(Seq[(java.lang.Long, String)]((3L, null), (4L, null)).toDF("k", "v"))
      .repartitionByRange(2, $"k") // file 1: no nulls, file 2: all null v
    df.write.format("graftdocs").mode("overwrite").save(path)
    val total = listFiles(path, ".jsonl").size
    assert(total == 2)
    val back = spark.read.format("graftdocs").schema(df.schema).load(path)
    assert(plannedPartitions(back.where($"v".isNull)) == 1)
    assert(back.where($"v".isNull).count() == 2)
    assert(plannedPartitions(back.where($"v".isNotNull)) == 1)
    assert(back.where($"v".isNotNull).count() == 2)
    // equality on v skips the all-null file too
    assert(plannedPartitions(back.where($"v" === "a")) == 1)
    assert(back.where($"v" === "a").count() == 1)
  }

  test("NaN/Infinity: stats stay sound under the NaN→null decode coercion") {
    val path = tmp()
    val df = Seq((1L, 1.0), (2L, Double.NaN)).toDF("k", "x")
      .union(Seq((3L, Double.PositiveInfinity), (4L, 3.0)).toDF("k", "x"))
      .repartitionByRange(2, $"k")
    df.write.format("graftdocs").mode("overwrite").save(path)
    // nullable read schema: NaN decodes to null (coercion matrix), so a
    // non-nullable declaration would violate the source contract
    val schema = org.apache.spark.sql.types.StructType(df.schema.map(_.copy(nullable = true)))
    val back = spark.read.format("graftdocs").schema(schema).load(path)
    // the decoder nulls NaN (reference coercion matrix), so the NaN row
    // can never match a comparison — but its file's max=NaN stats must
    // not break anything, and the small-x row in the SAME file must
    // still be findable (a zone map that widened NaN into the range
    // would be fine; one that dropped the file would be a wrong answer)
    assert(back.where($"x" <= 1.0).select("k").as[Long].collect().toSet == Set(1L))
    assert(back.where($"x" > 100.0).select("k").as[Long].collect().toSet == Set(3L))
    assert(back.where($"x".isNull).select("k").as[Long].collect().toSet == Set(2L))
  }

  test("oversized strings poison the column's stats, never mis-prune") {
    val path = tmp()
    val big = "z" * 500 // > MaxStatString: stats for v must be dropped
    val df = Seq((1L, big), (2L, "a" * 10)).toDF("k", "v").coalesce(1)
    df.write.format("graftdocs").mode("overwrite").save(path)
    val back = spark.read.format("graftdocs").schema(df.schema).load(path)
    assert(back.where($"v" === big).count() == 1)
    val json = new String(java.nio.file.Files.readAllBytes(
      listFiles(path, ".zmap").head.toPath))
    assert(!json.contains("\"v\""), s"oversized string column kept stats: $json")
    assert(json.contains("\"k\""))
  }

  test("zonemaps=false disables writing and pruning") {
    val path = tmp()
    orders.repartitionByRange(4, $"o_orderkey").write.format("graftdocs")
      .option("zonemaps", "false").mode("overwrite").save(path)
    assert(listFiles(path, ".zmap").isEmpty)
    writeClustered(path) // rewrite WITH zone maps
    val back = spark.read.format("graftdocs").schema(orders.schema)
      .option("zonemaps", "false").load(path)
    val lo = orders.agg(min("o_orderkey")).head.getLong(0)
    val total = listFiles(path, ".jsonl").size
    assert(plannedPartitions(back.where($"o_orderkey" === lo)) == total)
  }

  test("truncate removes prior sidecars; abort stages nothing visible") {
    val path = tmp()
    writeClustered(path)
    val before = listFiles(path, ".zmap").size
    assert(before > 0)
    orders.limit(10).write.format("graftdocs").mode("overwrite").save(path)
    val zmaps = listFiles(path, ".zmap")
    val data = listFiles(path, ".jsonl")
    assert(zmaps.size == data.size, s"stale sidecars survive truncate: $zmaps")
    // every surviving sidecar matches a surviving data file
    assert(zmaps.map(_.getName.stripSuffix(".zmap")).toSet ==
      data.map(_.getName).toSet)
  }

  test("doc-column MIN/MAX is answered from sidecars alone (metadata-only)") {
    val path = tmp()
    writeClustered(path)
    val back = spark.read.format("graftdocs").schema(orders.schema).load(path)
    val q = back.agg(min("o_totalprice").as("lo"), max("o_totalprice").as("hi"),
      max("o_orderkey").as("hik"), min("o_orderdate").as("lod"),
      min("o_orderstatus").as("los"))
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("MIN(o_totalprice) zmap") && plan.contains("(metadata-only)"),
      plan)
    val truth = orders.agg(min("o_totalprice"), max("o_totalprice"),
      max("o_orderkey"), min("o_orderdate"), min("o_orderstatus")).head
    assert(q.head == truth)
    // PROOF nothing reads a document: overwrite every data file with
    // same-length garbage (sidecar trust is length-keyed, so stats stay
    // trusted; a real scan would now throw or answer differently)
    listFiles(path, ".jsonl").foreach { f =>
      java.nio.file.Files.write(f.toPath,
        Array.fill[Byte](f.length().toInt)('x'))
      new java.io.File(f.getParent, "." + f.getName + ".crc").delete()
    }
    val again = spark.read.format("graftdocs").schema(orders.schema).load(path)
      .agg(min("o_totalprice"), max("o_totalprice"),
        max("o_orderkey"), min("o_orderdate"), min("o_orderstatus")).head
    assert(again == truth)
  }

  test("doc MIN/MAX composes with COUNT(*) on the split path") {
    val path = tmp()
    writeClustered(path)
    val back = spark.read.format("graftdocs").schema(orders.schema).load(path)
    val q = back.agg(count(lit(1)).as("n"), min("o_totalprice").as("lo"),
      max("o_orderkey").as("hik"))
    assert(q.queryExecution.executedPlan.toString.contains("MIN(o_totalprice) zmap"))
    val got = q.head
    val truth = orders.agg(count(lit(1)), min("o_totalprice"), max("o_orderkey")).head
    assert(got == truth)
  }

  test("COUNT(col) — the non-null count — is answered from sidecars alone") {
    val path = tmp()
    val df = Seq[(java.lang.Long, java.lang.Double)](
      (1L, 1.5), (2L, null), (3L, Double.NaN), (4L, 4.0))
      .toDF("k", "x").repartitionByRange(2, $"k")
    df.write.format("graftdocs").mode("overwrite").save(path)
    val schema = org.apache.spark.sql.types.StructType(df.schema.map(_.copy(nullable = true)))
    val back = spark.read.format("graftdocs").schema(schema).load(path)
    val q = back.agg(count($"x").as("nx"), count($"k").as("nk"),
      count(lit(1)).as("n"))
    assert(q.queryExecution.executedPlan.toString.contains("COUNT(x) zmap"),
      q.queryExecution.executedPlan.toString)
    // NaN decodes to null (coercion matrix), so COUNT(x) must be 2 — the
    // sidecar counted the NaN row as a null at write time
    assert(q.head == org.apache.spark.sql.Row(2L, 4L, 4L))
    // provenance: corrupt the data files under the same length — the
    // SIDECAR-answered counts must not change (COUNT(*) is deliberately
    // excluded: it counts real line bytes, which we just destroyed)
    listFiles(path, ".jsonl").foreach { f =>
      java.nio.file.Files.write(f.toPath, Array.fill[Byte](f.length().toInt)('x'))
      new java.io.File(f.getParent, "." + f.getName + ".crc").delete()
    }
    val again = spark.read.format("graftdocs").schema(schema).load(path)
      .agg(count($"x"), count($"k")).head
    assert(again == org.apache.spark.sql.Row(2L, 4L))
  }

  test("cross-type reads distrust the stats: no mis-prune, no mis-count") {
    // write DOUBLES; read the same column as LONG — the coercion matrix
    // truncates 2.7 → 2 at decode, so write-time stats (min 2.7) must
    // prove NOTHING about post-coercion values
    val path = tmp()
    val df = Seq((1L, 2.7), (2L, 5.9)).toDF("k", "x").coalesce(1)
    df.write.format("graftdocs").mode("overwrite").save(path)
    val back = spark.read.format("graftdocs").schema("k long, x long").load(path)
    // pre-guard, min=2.7 "proved" x <= 2 impossible and dropped the file;
    // the truncated row x=2 must survive
    assert(back.where($"x" <= 2L).select("k").as[Long].collect().toSeq == Seq(1L))
    // COUNT(x) under the mismatched tag must fall back to a real scan,
    // not answer rows-nulls from a sidecar describing doubles
    val q = back.agg(count($"x"))
    assert(!q.queryExecution.executedPlan.toString.contains("COUNT(x) zmap"),
      q.queryExecution.executedPlan.toString)
    assert(q.head.getLong(0) == 2L)
    // same-tag sibling still prunes: k is long on both sides
    assert(plannedPartitions(back.where($"k" >= 100L)) == 0 ||
      back.where($"k" >= 100L).count() == 0)
  }

  test("doc MIN/MAX refuses without sidecars, on poisoned stats, and for all-null columns") {
    // zonemaps=false write: no sidecars → aggregate falls back to a real scan
    val p1 = tmp()
    orders.coalesce(1).write.format("graftdocs").option("zonemaps", "false")
      .mode("overwrite").save(p1)
    val b1 = spark.read.format("graftdocs").schema(orders.schema).load(p1)
    val q1 = b1.agg(min("o_totalprice"))
    assert(!q1.queryExecution.executedPlan.toString.contains("PushedAggregation"))
    assert(q1.head.getDouble(0) == orders.agg(min("o_totalprice")).head.getDouble(0))

    // oversized string poisons v's stats → refuse v, but k still pushes
    val p2 = tmp()
    val big = "z" * 500
    Seq((1L, big), (2L, "a")).toDF("k", "v").coalesce(1)
      .write.format("graftdocs").mode("overwrite").save(p2)
    val b2 = spark.read.format("graftdocs")
      .schema("k long, v string").load(p2)
    val q2 = b2.agg(max("v"))
    assert(!q2.queryExecution.executedPlan.toString.contains("PushedAggregation"))
    assert(q2.head.getString(0) == big)
    val q2k = b2.agg(max("k"))
    assert(q2k.queryExecution.executedPlan.toString.contains("MAX(k) zmap"))
    assert(q2k.head.getLong(0) == 2L)

    // all-null column: pushed, and the metadata answer is null
    val p3 = tmp()
    Seq[(java.lang.Long, String)]((1L, null), (2L, null)).toDF("k", "v")
      .coalesce(1).write.format("graftdocs").mode("overwrite").save(p3)
    val b3 = spark.read.format("graftdocs").schema("k long, v string").load(p3)
    val q3 = b3.agg(min("v"), max("v"))
    assert(q3.queryExecution.executedPlan.toString.contains("MIN(v) zmap"))
    val r3 = q3.head
    assert(r3.isNullAt(0) && r3.isNullAt(1))
  }

  test("composes with partition pruning and decode-time filters") {
    val path = tmp()
    orders.withColumn("bucket", ($"o_orderkey" % 2).cast("int"))
      .repartitionByRange(4, $"o_orderkey")
      .write.format("graftdocs").option("partitionBy", "bucket")
      .mode("overwrite").save(path)
    val schema = orders.withColumn("bucket", ($"o_orderkey" % 2).cast("int")).schema
    val back = spark.read.format("graftdocs").schema(schema).load(path)
    val lo = orders.agg(min("o_orderkey")).head.getLong(0)
    val q = back.where($"bucket" === 0 && $"o_orderkey" <= lo + 3)
    val expected = orders.where($"o_orderkey" % 2 === 0 && $"o_orderkey" <= lo + 3).count()
    assert(q.count() == expected)
    val desc = q.queryExecution.executedPlan.toString
    assert(desc.contains("PartitionPruned:") && desc.contains("ZoneMapPruned:"), desc)
  }

  // ---- per-file Bloom filters (bloomColumns write option) ------------------

  /** Hash-distributed layout: every file spans ~the whole key range, so
    * min/max alone can prove nothing about a point lookup. */
  private def writeHashed(path: String, bloomCols: String): Unit =
    orders.repartition(8, $"o_orderkey")
      .write.format("graftdocs").option("bloomColumns", bloomCols)
      .mode("overwrite").save(path)

  test("bloom: point lookup on a hash layout skips files min/max cannot") {
    val path = tmp()
    writeHashed(path, "o_orderkey")
    val total = listFiles(path, ".jsonl").size
    assert(total >= 4)
    val back = spark.read.format("graftdocs").schema(orders.schema).load(path)
    // a MID-RANGE key: every hash bucket's [min,max] contains it (edge
    // keys would let plain min/max prune, hiding the bloom's work)
    val r = orders.agg(min("o_orderkey"), max("o_orderkey")).head
    val key = (r.getLong(0) + r.getLong(1)) / 2
    // control: the same layout WITHOUT blooms cannot prune (every
    // file's [min,max] contains the key)
    val ctrlPath = tmp()
    orders.repartition(8, $"o_orderkey")
      .write.format("graftdocs").mode("overwrite").save(ctrlPath)
    val ctrl = spark.read.format("graftdocs").schema(orders.schema).load(ctrlPath)
    assert(plannedPartitions(ctrl.where($"o_orderkey" === key)) ==
      listFiles(ctrlPath, ".jsonl").size, "control layout should not prune")
    // bloom: only admitting files are planned (1 true + ~0.8% FP each)
    val q = back.where($"o_orderkey" === key)
    val planned = plannedPartitions(q)
    assert(planned < total, s"no bloom skipping: $planned of $total")
    assert(q.count() == 1 && q.head.getLong(0) == key)
  }

  test("bloom: $in probes and string columns; soundness via file deletion") {
    val path = tmp()
    val df = orders.withColumn("oid", concat(lit("id-"), $"o_orderkey".cast("string")))
      .repartition(8, $"o_orderkey")
    df.write.format("graftdocs").option("bloomColumns", "oid")
      .mode("overwrite").save(path)
    val total = listFiles(path, ".jsonl").size
    val back = spark.read.format("graftdocs").schema(df.schema).load(path)
    val rr = orders.agg(min("o_orderkey"), max("o_orderkey")).head
    val lo = (rr.getLong(0) + rr.getLong(1)) / 2 // mid-range: min/max can't help
    val q = back.where($"oid".isin(s"id-$lo", s"id-${lo + 1}", "id-nonexistent"))
    assert(plannedPartitions(q) < total)
    // the zone-map soundness trick: delete every file the plan excludes;
    // if the answer needed one, it changes
    val opened = q.queryExecution.executedPlan.collectLeaves().head
      .asInstanceOf[BatchScanExec].partitions.flatten
      .map(_.asInstanceOf[GraftFilePartition].path).toSet
    listFiles(path, ".jsonl")
      .filterNot(f => opened.contains("file:" + f.getPath) ||
        opened.contains(f.getPath))
      .foreach { f => assert(f.delete()); new java.io.File(f.getPath + ".zmap").delete() }
    val got = spark.read.format("graftdocs").schema(df.schema).load(path)
      .where($"oid".isin(s"id-$lo", s"id-${lo + 1}", "id-nonexistent"))
      .select("o_orderkey").as[Long].collect().toSet
    assert(got == Set(lo, lo + 1))
  }

  test("bloom: no false negatives over every written value (exhaustive)") {
    // unit-level: every value that went into a Collector must be
    // admitted by the loaded filter — a false negative is a lost row
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("k",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("s",
        org.apache.spark.sql.types.StringType)))
    val coll = new ZoneMaps.Collector(schema, Set("k", "s"))
    val rng = new scala.util.Random(42)
    val rows = (0 until 5000).map { i =>
      org.apache.spark.sql.Row(rng.nextLong(), s"v${rng.nextInt(100000)}-$i")
    }
    rows.foreach(coll.update)
    val bytes = coll.encode(123L)
    val dir = graft.TestDirs.temp("graft_bloom_u")
    val dataF = dir.resolve("d.jsonl"); val zF = dir.resolve("d.jsonl.zmap")
    java.nio.file.Files.write(dataF, Array.fill[Byte](123)('x'))
    java.nio.file.Files.write(zF, bytes)
    val fs = new org.apache.hadoop.fs.Path(dataF.toString)
      .getFileSystem(new org.apache.hadoop.conf.Configuration())
    val st = ZoneMaps.load(fs, dataF.toString, 123L).get
    val kb = st.cols("k").bloom.get
    val sb = st.cols("s").bloom.get
    rows.foreach { r =>
      assert(kb.mightContain(ZoneMaps.bloomHash("i64", r.getLong(0)).get),
        s"false negative for k=${r.getLong(0)}")
      assert(sb.mightContain(ZoneMaps.bloomHash("str", r.getString(1)).get),
        s"false negative for s=${r.getString(1)}")
    }
    // and the FP rate is in the designed ballpark (10 bits/key ≈ 0.8%)
    val misses = (0 until 5000).count(i =>
      kb.mightContain(ZoneMaps.bloomHash("i64", rng.nextLong()).get))
    assert(misses < 250, s"FP rate ${misses / 5000.0} far above design")
  }

  test("bloom: cross-kind literals abstain; min/max still judges them") {
    // a Double literal against an i64 bloom must NOT hash-compare (5.0
    // vs hash(5L) differs) — the verdict falls back to range stats only
    import org.apache.spark.sql.sources.{EqualTo => Eq}
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("k",
        org.apache.spark.sql.types.LongType)))
    val coll = new ZoneMaps.Collector(schema, Set("k"))
    Seq(5L, 7L).foreach(v => coll.update(org.apache.spark.sql.Row(v))) // gap at 6
    val dir = graft.TestDirs.temp("graft_bloom_x")
    val dataF = dir.resolve("d.jsonl")
    java.nio.file.Files.write(dataF, Array.fill[Byte](9)('x'))
    java.nio.file.Files.write(dir.resolve("d.jsonl.zmap"), coll.encode(9L))
    val fs = new org.apache.hadoop.fs.Path(dataF.toString)
      .getFileSystem(new org.apache.hadoop.conf.Configuration())
    val cols = ZoneMaps.load(fs, dataF.toString, 9L).get.cols
    // in-range double: bloom abstains (no unsound hash compare), kept
    assert(ZoneMaps.mayMatch(Eq("k", java.lang.Double.valueOf(6.0)), cols))
    // exact integral kinds DO consult the bloom: the in-range gap —
    // invisible to min/max — is a proof of absence to the bloom
    assert(!ZoneMaps.mayMatch(Eq("k", java.lang.Long.valueOf(6L)), cols),
      "in-range absent key must be skipped by the bloom")
    assert(ZoneMaps.mayMatch(Eq("k", java.lang.Long.valueOf(5L)), cols))
    assert(ZoneMaps.mayMatch(Eq("k", java.lang.Integer.valueOf(7)), cols),
      "Integer literal must hash like the written Long")
  }

  test("bloom: date and timestamp keys skip in-range gaps; both literal spellings consult") {
    import org.apache.spark.sql.sources.{EqualTo => Eq}
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("d",
        org.apache.spark.sql.types.DateType),
      org.apache.spark.sql.types.StructField("t",
        org.apache.spark.sql.types.TimestampType)))
    val coll = new ZoneMaps.Collector(schema, Set("d", "t"))
    // dates 2024-01-01 and 2024-01-03 (gap at -02); matching instants
    Seq("2024-01-01", "2024-01-03").foreach { s =>
      coll.update(org.apache.spark.sql.Row(
        java.sql.Date.valueOf(s),
        java.sql.Timestamp.valueOf(s + " 10:00:00")))
    }
    val dir = graft.TestDirs.temp("graft_bloom_d")
    val dataF = dir.resolve("d.jsonl")
    java.nio.file.Files.write(dataF, Array.fill[Byte](9)('x'))
    java.nio.file.Files.write(dir.resolve("d.jsonl.zmap"), coll.encode(9L))
    val fs = new org.apache.hadoop.fs.Path(dataF.toString)
      .getFileSystem(new org.apache.hadoop.conf.Configuration())
    val cols = ZoneMaps.load(fs, dataF.toString, 9L).get.cols
    // the in-range GAP date — invisible to min/max — is bloom-skipped,
    // in BOTH the java.sql and java.time literal spellings
    assert(!ZoneMaps.mayMatch(Eq("d", java.sql.Date.valueOf("2024-01-02")), cols))
    assert(!ZoneMaps.mayMatch(Eq("d", java.time.LocalDate.parse("2024-01-02")), cols))
    assert(ZoneMaps.mayMatch(Eq("d", java.sql.Date.valueOf("2024-01-03")), cols))
    assert(ZoneMaps.mayMatch(Eq("d", java.time.LocalDate.parse("2024-01-01")), cols))
    // timestamps: present instants admit in both spellings, gaps skip
    val present = java.sql.Timestamp.valueOf("2024-01-01 10:00:00")
    assert(ZoneMaps.mayMatch(Eq("t", present), cols))
    assert(ZoneMaps.mayMatch(Eq("t", present.toInstant), cols))
    assert(!ZoneMaps.mayMatch(
      Eq("t", java.sql.Timestamp.valueOf("2024-01-02 10:00:00")), cols))
  }

  test("bloom: option validation fails loudly") {
    val df = orders.limit(10)
    def expectBad(w: => Unit, frag: String): Unit = {
      val e = intercept[Exception](w)
      assert(e.getMessage != null && e.getMessage.contains(frag), e.getMessage)
    }
    expectBad(df.write.format("graftdocs")
      .option("bloomColumns", "nope").mode("overwrite").save(tmp()),
      "not in schema")
    expectBad(df.write.format("graftdocs")
      .option("bloomColumns", "o_totalprice").mode("overwrite").save(tmp()),
      "non-bloomable")
    expectBad(df.write.format("graftdocs")
      .option("bloomColumns", "o_orderkey").option("zonemaps", "false")
      .mode("overwrite").save(tmp()), "requires zoneMaps")
    expectBad(df.write.format("graftdocs")
      .option("partitionBy", "o_orderstatus")
      .option("bloomColumns", "o_orderstatus")
      .mode("overwrite").save(tmp()), "partition column")
  }
}
