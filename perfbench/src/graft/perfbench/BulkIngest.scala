package graft.perfbench

import org.apache.spark.sql.types.{Metadata, StructType}

import graft.schema.MSchema
import graft.sinks.DocStore

/** The bulk-write probe of `find_arrow`'s traced run, measuring the
  * reference's write()/insert_many path: five seeded frames (the four
  * shapes and TPC-H-like `orders`) each written with DocStore.write (the
  * staged-swap commit) in a `sinks.write` span, after one untraced
  * round, and read back and checked. It is not a workload of its own
  * (see README.md). */
object BulkIngest {
  private val Sizes = Map("small" -> 20000L, "large" -> 4000L, "nested" -> 2000L,
    "extension" -> 10000L, "orders" -> 4000L)
  private val Rounds = 3

  /** Returns sinks.bytes_written_per_doc and failure messages. */
  def probe(ctx: Ctx): (Map[String, Double], Seq[String]) = {
    val root = ctx.dir("bulk_store")
    val store = new DocStore(ctx.spark, root.toString, "graftdocs")
    val names = Gen.Shapes :+ "orders"
    val frames = Counters.aside(ctx.sc) {
      names.map { n =>
        val df = if (n == "orders") Gen.orders(ctx.spark, 1, Sizes(n) + 1, 15000L, ctx.seed, ctx.cpus)
          else Gen.shape(ctx.spark, n, 0, Sizes(n), ctx.seed, ctx.cpus)
        n -> df.persist()
      }.toMap
    }
    try {
      val expected = Counters.aside(ctx.sc)(frames.map { case (n, df) =>
        n -> Check.collect(Check.agg(df, text = false)) })
      var bytes = 0L; var docs = 0L
      val failures = (0 until Rounds).flatMap(round => names.flatMap { n =>
        val coll = s"bulk_$n"
        val fs0 = Counters.fs()
        try {
          if (round == 0) store.write(frames(n), coll)
          else Trace.span("sinks.write")(store.write(frames(n), coll))
          if (round > 0) { bytes += (Counters.fs() - fs0).bytesWritten; docs += Sizes(n) }
          // Known defect: the jsonl sink behind DocStore.write stores every
          // Binary as subtype 00, so a subtype-10 column cannot be read back
          // under its own declared schema. It is read back with the subtype
          // tags dropped (bytes still compared).
          val readSchema = StructType(frames(n).schema.fields.map(f =>
            if (f.metadata.contains(MSchema.BinarySubtypeKey)) f.copy(metadata = Metadata.empty) else f))
          val got = Counters.aside(ctx.sc)(Check.collect(Check.agg(ctx.spark.read.format("graftdocs")
            .schema(readSchema).load(store.path(coll)), text = false)))
          Check.diff(s"bulk write $n read-back", expected(n), got)
        } catch { case e: Exception => Some(s"bulk write $n: ${e.getClass.getSimpleName}: ${e.getMessage}") }
      })
      (Map("sinks.bytes_written_per_doc" -> bytes.toDouble / docs.max(1L)), failures)
    } finally {
      frames.values.foreach(_.unpersist(true))
      Workload.deleteTree(root)
    }
  }
}
