package graft

import org.apache.spark.sql.{functions => F}

/** Decode-path A/B harness: times a full-column decode of the bulk
  * orders fixture through each reader path — direct (bytes/tokens →
  * vectors, no tree) and the row path (`columnar=false`, a JsonNode
  * tree and a Row per document) — for both the jsonl and bson layouts,
  * on a flat and a nested document shape. Prints one JSON line of
  * median seconds per (shape, format, path).
  *
  * Measured on a 4-vCPU VM (sf0.1×10 = 1.5M docs, 8 files, local[4],
  * median of 5 after a warmup sweep; the middle of three runs per
  * reader): the jsonl rows, from the per-byte `BufferedInputStream.read()`
  * line reader to the 64 KiB chunked one (`JsonlRawLines`): flat direct
  * 3.39 → 1.20 s, row 3.84 → 1.58; nested direct 4.39 → 1.41, row
  * 5.09 → 2.70. With the per-byte reader every flat jsonl path took
  * about the same 3.4–3.8 s: the byte reads, not Jackson lexing, set
  * that time. The direct path's win is the per-doc tree and Row it
  * stops allocating, so it grows with document width/nesting.
  *
  * Usage: runMain graft.DecodeBench <sfDir> [reps]
  */
object DecodeBench {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val reps = if (args.length > 1) args(1).toInt else 5
    val spark = Session.local()

    // replicate 10× so decode work dominates job overhead
    val base = api.Graft.table(spark, sfDir, "orders")
    val orders = (1 to 10).map(_ => base).reduce(_ union _)
    val tmp = System.getProperty("java.io.tmpdir")
    val n = orders.count()

    def ensure(format: String): String = {
      val dir = s"$tmp/graft_decbench_${format}_${math.abs(sfDir.hashCode)}_$n"
      val done = new java.io.File(dir, "_bench_done")
      if (!done.exists) {
        orders.repartition(8).write.format("graftdocs")
          .option("format", format).mode("overwrite").save(dir)
        done.createNewFile()
      }
      dir
    }

    val schema = orders.schema
    def time(path: String, columnar: Boolean): Double = {
      val t0 = System.nanoTime()
      val got = spark.read.format("graftdocs").schema(schema)
        .option("columnar", columnar)
        .load(path)
        // sum every column so no decode work can be pruned away
        .agg(F.count(F.lit(1)), F.sum(F.col("o_orderkey")),
          F.sum(F.col("o_custkey")), F.sum(F.length(F.col("o_orderstatus"))),
          F.sum(F.col("o_totalprice")),
          F.max(F.col("o_orderdate")), F.sum(F.length(F.col("o_orderpriority"))))
        .head.getLong(0)
      require(got == n, s"decoded $got of $n")
      (System.nanoTime() - t0) / 1e9
    }

    def median(xs: Seq[Double]): Double = xs.sorted.apply(xs.length / 2)
    // one untimed warmup of every config first: JIT compilation otherwise
    // lands entirely on whichever config happens to run first
    val paths = Seq("direct" -> true, "row" -> false)
    for (format <- Seq("jsonl", "bson"); (_, col) <- paths)
      time(ensure(format), col)
    val flat = for {
      format <- Seq("jsonl", "bson")
      path = ensure(format)
      (label, col) <- paths
    } yield {
      val times = (1 to reps).map(_ => time(path, col))
      s""""${format}_$label": ${f"${median(times)}%.3f"}"""
    }

    // nested shape: where tree materialization dominates the decode
    val nested = orders.selectExpr("o_orderkey",
      "named_struct('custkey', o_custkey, 'status', o_orderstatus, " +
        "'price', o_totalprice, 'inner', named_struct('d', o_orderdate, " +
        "'p', o_orderpriority)) as meta",
      "array(o_totalprice, o_totalprice * 0.5, 1.0) as amounts",
      "array(o_orderpriority, o_orderstatus) as tags")
    val nestedSchema = nested.schema
    def ensureNested(format: String): String = {
      val dir = s"$tmp/graft_decbench_n_${format}_${math.abs(sfDir.hashCode)}_$n"
      val done = new java.io.File(dir, "_bench_done")
      if (!done.exists) {
        nested.repartition(8).write.format("graftdocs")
          .option("format", format).mode("overwrite").save(dir)
        done.createNewFile()
      }
      dir
    }
    def timeNested(path: String, columnar: Boolean): Double = {
      val t0 = System.nanoTime()
      val got = spark.read.format("graftdocs").schema(nestedSchema)
        .option("columnar", columnar)
        .load(path)
        .agg(F.count(F.lit(1)), F.sum(F.col("meta.custkey")),
          F.sum(F.length(F.col("meta.inner.p"))),
          F.sum(F.element_at(F.col("amounts"), 1)),
          F.sum(F.size(F.col("tags"))))
        .head.getLong(0)
      require(got == n, s"decoded $got of $n")
      (System.nanoTime() - t0) / 1e9
    }
    for (format <- Seq("jsonl", "bson"); (_, col) <- paths)
      timeNested(ensureNested(format), col)
    val nestedRes = for {
      format <- Seq("jsonl", "bson")
      path = ensureNested(format)
      (label, col) <- paths
    } yield {
      val times = (1 to reps).map(_ => timeNested(path, col))
      s""""nested_${format}_$label": ${f"${median(times)}%.3f"}"""
    }
    println(s"""{"rows": $n, ${(flat ++ nestedRes).mkString(", ")}}""")
    spark.stop()
  }
}
