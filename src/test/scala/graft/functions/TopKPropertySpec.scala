package graft.functions

import org.scalacheck.Gen
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkFixture
import graft.mql.PipelineCompiler

/** Property layer for the BoundedTopK aggregate: on generated inputs
  * with UNIQUE full sort keys (the determinism contract — full-key ties
  * are explicitly unspecified), $topN/$bottomN through the pipeline
  * compiler must equal a Scala-side sort + slice, for every direction
  * combination and n, including n > group size and multi-partition
  * input (exercises partial-aggregate merge + serialization). */
class TopKPropertySpec extends AnyFunSuite {
  private lazy val spark = SparkFixture.spark
  import spark.implicits._
  import org.apache.spark.sql.functions.col

  private def sample[A](g: Gen[A]): A =
    Iterator.continually(g.sample).flatten.next()

  test("topN/bottomN equal sort+slice on unique keys (all directions)") {
    val rnd = new scala.util.Random(42)
    for (trial <- 1 to 8) {
      // k1 intentionally collides so the k2 tiebreak direction matters;
      // (k1, k2) stays unique via the index suffix. 4 groups of 15 rows
      // with n up to 20 also exercises n > group size.
      val rows = (0 until 60).map { i =>
        (i % 4, rnd.nextInt(4), f"${rnd.nextInt(100)}%03d-$i%02d", i.toLong)
      }
      val df = rows.toDF("grp", "k1", "k2", "out").repartition(5)
      val n = sample(Gen.choose(1, 20))
      val (d1, d2) = (trial % 2 == 0, (trial / 2) % 2 == 0)
      def dir(b: Boolean) = if (b) 1 else -1

      val got = PipelineCompiler.run(df, s"""[
        {"$$group": {"_id": "$$grp",
          "top": {"$$topN": {"output": "$$out",
                  "sortBy": {"k1": ${dir(d1)}, "k2": ${dir(d2)}}, "n": $n}},
          "bot": {"$$bottomN": {"output": "$$out",
                  "sortBy": {"k1": ${dir(d1)}, "k2": ${dir(d2)}}, "n": $n}}}},
        {"$$sort": {"_id": 1}}]""")
        .collect().map(r => (r.getInt(0),
          r.getSeq[Long](1).toList, r.getSeq[Long](2).toList)).toList

      val expect = rows.groupBy(_._1).toList.sortBy(_._1).map { case (g, rs) =>
        val sorted = rs.sortWith { (a, b) =>
          val c1 = if (d1) a._2.compareTo(b._2) else b._2.compareTo(a._2)
          if (c1 != 0) c1 < 0
          else (if (d2) a._3.compareTo(b._3) else b._3.compareTo(a._3)) < 0
        }.map(_._4)
        (g, sorted.take(n), sorted.takeRight(n))
      }
      assert(got == expect, s"trial $trial n=$n dirs=($d1,$d2)")
    }
  }

  test("decode-time filter never drops rows Catalyst keeps (decimal/string edges)") {
    import graft.sinks.DocWriter
    // decimal fractions + supplementary-plane strings — the two
    // wrong-drop bugs found in review. U+1F400 sorts BELOW U+FFFD in
    // UTF-16 code units (surrogate 0xD83D < 0xFFFD) but ABOVE it in
    // UTF-8 bytes (F0 > EF) — exactly the divergence being pinned.
    val supp = "x🐀"
    val df = Seq(
      (new java.math.BigDecimal("5000.9000"), "a"),
      (new java.math.BigDecimal("5000.0000"), supp),
      (new java.math.BigDecimal("4999.1000"), "x�"))
      .toDF("bal", "name")
      .select(col("bal").cast("decimal(18,4)").as("bal"), col("name"))
    val path = graft.TestDirs.temp("graft_fprop").toString
    DocWriter.write(df, path)
    val back = spark.read.format("graftdocs").schema(df.schema).load(path)
    assert(back.where(col("bal") > 5000.0).count()
      == df.where(col("bal") > 5000.0).count())
    val gotSup = back.where(col("name") > "x�").collect()
    assert(df.where(col("name") > "x�").count() == 1) // supp row, UTF-8 order
    assert(gotSup.map(_.getString(1)).toSeq == Seq(supp))
  }
}
