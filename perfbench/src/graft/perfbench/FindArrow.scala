package graft.perfbench

import java.io.File

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StructType

import graft.api.Graft
import graft.schema.MSchema

/** The paper's read benchmark: `Graft.findWithSchema` over the four
  * reference shapes stored as graftdocs BSON, every column materialised
  * (checksummed). Ops run in blocks of eight, one per (shape, ranged)
  * pair, each half-block holding every shape, two of them ranged: a
  * seeded range on the file-ordered `_id` (zone maps prune to one
  * file). One op per half-block, rotating through the pairs, exports
  * its result through `graftarrow` and reads it back. */
final class FindArrow(ctx: Ctx) extends Workload {
  import Workload._
  val block = 8
  val nominalBlockSeconds = 2.5
  private val StreamProbeBatches = 12

  private val files = 2 * ctx.cpus
  /** Documents per shape, a multiple of the file count so each `_id`
    * bucket is exactly one file. */
  private val sizes = Map("small" -> 200000L, "large" -> 30000L,
    "nested" -> 15000L, "extension" -> 80000L).map { case (k, n) => k -> n / files * files }
  private val root = ctx.dir("find_store")
  private def path(shape: String) = new File(root, shape).toString
  private def gen(shape: String): DataFrame =
    Gen.shape(ctx.spark, shape, 0, sizes(shape), ctx.seed, files)
  // generated once (first load), then reused by every load and the oracle
  private var inputs = Map.empty[String, DataFrame]
  private val schemas: Map[String, StructType] = Gen.Shapes.map(s => s -> gen(s).schema).toMap
  private def bucketSize(shape: String) = sizes(shape) / files

  // expected checksums per (shape, _id bucket) of the same find run on
  // the generated frame; the full find is their sum
  private var expected = Map.empty[(String, Long), Check.Sums]
  private def expectedFull(shape: String): Check.Sums =
    (0L until files).map(b => expected((shape, b))).reduce(Check.add)

  /** Writes the four shapes concurrently, one job each. */
  def load(rep: Int): Unit = {
    if (inputs.isEmpty) inputs = Gen.Shapes.map(s => s -> gen(s).persist()).toMap
    val writers = Gen.Shapes.map { s =>
      val t = new Thread(() => Counters.aside(ctx.sc) {
        inputs(s).write.format("graftdocs").option("format", "bson").mode("overwrite").save(path(s))
      })
      t.start(); t
    }
    writers.foreach(_.join())
    Gen.Shapes.foreach(s => require(new File(path(s)).isDirectory, s"load of $s failed"))
  }

  def prepare(): Unit = Counters.aside(ctx.sc) {
    expected = Gen.Shapes.flatMap { s =>
      Check.aggBy(Graft.findWithSchema(inputs(s), MSchema(schemas(s)))
        .withColumn(Check.Key, (col("_id") / bucketSize(s)).cast("long")), text = false)
        .collect().map(r => (s, r.getAs[Long](Check.Key)) -> Check.sums(r))
    }.toMap
  }

  def runOp(seq: Long, rng: java.util.Random): OpRecord = {
    val (block, j) = ((seq / 8).toInt, (seq % 8).toInt)
    val shape = Gen.Shapes(j % 4)
    val bucket = if ((j % 4 >= 2) != (j >= 4)) Some(rng.nextInt(files).toLong) else None
    val arrow = j == block % 4 || j == 4 + (block + 2) % 4
    val filter = bucket.map(b => s"""{"_id": {"$$gte": ${b * bucketSize(shape)}, """ +
      s""""$$lt": ${(b + 1) * bucketSize(shape)}}}""").getOrElse("{}")
    val want = bucket.map(b => expected((shape, b))).getOrElse(expectedFull(shape))
    val out = new File(ctx.tmp, s"perfbench-arrow-$seq")
    var t = Timed(0L, 0L)
    try {
      val (got, timing) = timed(seq) {
        val src = ctx.spark.read.format("graftdocs").schema(schemas(shape)).load(path(shape))
        val df = Trace.span("mql.compile")(Graft.findWithSchema(src, MSchema(schemas(shape)), filter))
        if (!arrow) {
          val sums = Check.agg(df, text = false)
          Trace.span("spark.plan")(sums.queryExecution.executedPlan)
          Trace.span("sources.scan_exec")(Check.collect(sums))
        } else {
          Trace.span("sources.arrow_write")(df.write.format("graftarrow").mode("overwrite").save(out.toString))
          Trace.span("sources.arrow_read")(Check.collect(Check.agg(
            ctx.spark.read.format("graftarrow").load(out.toString), text = false)))
        }
      }
      t = timing
      val err = Check.diff(s"find $shape $filter${if (arrow) " via graftarrow" else ""}", want, got)
      OpRecord("find", t, Check.rows(got), err.isEmpty, err.orNull,
        param = s"$shape${if (bucket.isDefined) "/range" else ""}${if (arrow) "/arrow" else ""}")
    } catch { case e: Exception => failed("find", t, e) }
    finally if (arrow) deleteTree(out)
  }

  private var probeFailures = Seq.empty[String]

  def finalChecks(): Seq[String] = probeFailures

  def storedBytesPerDoc(): Double = treeBytes(root).toDouble / sizes.values.sum

  def filesPerCollection(): Double = mean(Gen.Shapes.map(s => dataFiles(new File(path(s))).size.toDouble))

  /** The kernel and frame probes, plus the probes of the layers no
    * workload drives end to end: bulk writes and streaming. */
  def layerMetrics(traced: Seq[OpRecord]): Map[String, Double] = {
    val (bulk, bulkFailures) = BulkIngest.probe(ctx)
    val (streaming, streamFailures) = StreamTail.probe(ctx, StreamProbeBatches)
    probeFailures = bulkFailures ++ streamFailures
    bulk ++ streaming ++ Probes.shapes(ctx) ++
      Probes.frames(Probes.docs(ctx, Gen.shape(ctx.spark, "large", 0, 4000, ctx.seed, 1)))
  }

  def close(): Unit = {
    inputs.values.foreach(_.unpersist())
    deleteTree(root)
  }
}
