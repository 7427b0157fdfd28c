package graft.sources

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkFixture

/** Micro-batch tail of a graftdocs batch directory: continuous document
  * ingest (the streaming twin of the reference's cursor loop). Files
  * arriving between micro-batches are picked up exactly once via the
  * (mtime, name) watermark offset. */
class StreamingDocSourceSpec extends AnyFunSuite {
  private lazy val spark = SparkFixture.spark

  private val schema = StructType(Seq(
    StructField("id", LongType), StructField("grp", StringType)))

  private def writeWave(dir: java.nio.file.Path, name: String,
                        ids: Range, grp: String): Unit = {
    val sb = new StringBuilder
    ids.foreach(i => sb.append(s"""{"id": $i, "grp": "$grp"}\n"""))
    java.nio.file.Files.write(dir.resolve(name), sb.toString.getBytes("UTF-8"))
  }

  test("readStream tails the directory; later files arrive in later batches") {
    val dir = graft.TestDirs.temp("graft_stream_src")
    writeWave(dir, "w1.jsonl", 0 until 100, "a")

    val q = spark.readStream.format("graftdocs").schema(schema)
      .load(dir.toString)
      .groupBy("grp").agg(count(lit(1)).as("n"))
      .writeStream.format("memory").queryName("doc_tail")
      .outputMode("complete").start()
    try {
      q.processAllAvailable()
      val r1 = spark.table("doc_tail").collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(r1 == Map("a" -> 100L))

      // second wave lands after the first batch committed; ensure a
      // LATER mtime even on coarse filesystem clocks
      Thread.sleep(1100)
      writeWave(dir, "w2.jsonl", 0 until 40, "b")
      q.processAllAvailable()
      val r2 = spark.table("doc_tail").collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(r2 == Map("a" -> 100L, "b" -> 40L), s"got $r2")
    } finally q.stop()
  }

  test("restart from checkpoint resumes at the watermark (no reprocessing)") {
    val dir = graft.TestDirs.temp("graft_stream_ckpt")
    val ckpt = graft.TestDirs.temp("graft_stream_ckpt_loc")
    val out = graft.TestDirs.temp("graft_stream_ckpt_out")
    writeWave(dir, "w1.jsonl", 0 until 60, "a")
    // memory sink can't recover a checkpoint — use the file sink
    def start() = spark.readStream.format("graftdocs").schema(schema)
      .load(dir.toString)
      .writeStream.format("parquet")
      .option("checkpointLocation", ckpt.toString)
      .option("path", out.toString)
      .outputMode("append").start()
    val q1 = start()
    try q1.processAllAvailable() finally q1.stop()
    assert(spark.read.parquet(out.toString).count() == 60)

    // restart: the offset round-trips through deserializeOffset; only
    // the new wave lands (append mode would double rows on replay)
    Thread.sleep(1100)
    writeWave(dir, "w2.jsonl", 0 until 25, "b")
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()
    val counts = spark.read.parquet(out.toString).groupBy("grp").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts == Map("a" -> 60L, "b" -> 25L), s"got $counts")
  }

  test("maxFilesPerTrigger paces a backfill into bounded micro-batches") {
    val dir = graft.TestDirs.temp("graft_stream_paced")
    // five pre-existing files: the all-available default would own them
    // all in ONE first batch; the paced read admits one per trigger
    (0 until 5).foreach(i => writeWave(dir, f"w$i.jsonl", i * 10 until (i + 1) * 10, s"g$i"))
    val q = spark.readStream.format("graftdocs").schema(schema)
      .option("maxFilesPerTrigger", 1)
      .load(dir.toString)
      .groupBy().agg(count(lit(1)).as("n"))
      .writeStream.format("memory").queryName("doc_paced")
      .outputMode("complete").start()
    try {
      q.processAllAvailable()
      assert(spark.table("doc_paced").collect().head.getLong(0) == 50)
      val dataBatches = q.recentProgress.count(_.numInputRows > 0)
      assert(dataBatches >= 5,
        s"expected >=5 paced batches, got $dataBatches: " +
          q.recentProgress.map(_.numInputRows).mkString(","))
    } finally q.stop()
  }

  test("maxBytesPerTrigger admits a contiguous prefix and always drains") {
    val dir = graft.TestDirs.temp("graft_stream_bytes")
    writeWave(dir, "w1.jsonl", 0 until 300, "a")   // ~300 lines, > budget
    writeWave(dir, "w2.jsonl", 0 until 10, "b")
    writeWave(dir, "w3.jsonl", 0 until 10, "c")
    val q = spark.readStream.format("graftdocs").schema(schema)
      .option("maxBytesPerTrigger", 512) // smaller than w1 alone
      .load(dir.toString)
      .groupBy("grp").agg(count(lit(1)).as("n"))
      .writeStream.format("memory").queryName("doc_bytes")
      .outputMode("complete").start()
    try {
      q.processAllAvailable() // oversized first file must still be admitted
      val got = spark.table("doc_bytes").collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(got == Map("a" -> 300L, "b" -> 10L, "c" -> 10L), s"got $got")
      assert(q.recentProgress.count(_.numInputRows > 0) >= 2)
    } finally q.stop()
  }

  test("streamed decode equals batch decode over the same files") {
    val dir = graft.TestDirs.temp("graft_stream_eq")
    writeWave(dir, "w1.jsonl", 0 until 500, "x")
    writeWave(dir, "w2.jsonl", 500 until 800, "y")

    val q = spark.readStream.format("graftdocs").schema(schema)
      .load(dir.toString)
      .groupBy("grp").agg(count(lit(1)).as("n"), sum("id").as("s"))
      .writeStream.format("memory").queryName("doc_eq")
      .outputMode("complete").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("doc_eq").orderBy("grp").collect().toSeq.map(_.toSeq)
      val batch = spark.read.format("graftdocs").schema(schema).load(dir.toString)
        .groupBy("grp").agg(count(lit(1)).as("n"), sum("id").as("s"))
        .orderBy("grp").collect().toSeq.map(_.toSeq)
      assert(streamed == batch)
    } finally q.stop()
  }
}
