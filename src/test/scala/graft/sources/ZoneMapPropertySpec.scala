package graft.sources

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkFixture

/** Randomized soundness sweep for zone-map data skipping: for random
  * typed corpora (nulls, NaN, duplicates, constant files) under random
  * range-clustered layouts and random pushed filters, the kept-row set
  * with pruning enabled must equal the set with pruning disabled. A
  * wrongly skipped file silently loses rows — the one failure mode the
  * sidecar verdicts must never have, so it gets the adversarial
  * generator, not just hand-picked corners. */
class ZoneMapPropertySpec extends AnyFunSuite {
  private lazy val spark = SparkFixture.spark
  import spark.implicits._

  private def tmp(): String =
    graft.TestDirs.temp("graft_zprop").toString

  test("pruned and unpruned scans agree on 40 random corpus × filter draws") {
    val rnd = new scala.util.Random(20260814L)
    for (round <- 1 to 40) {
      val n = 20 + rnd.nextInt(60)
      val rows = (0 until n).map { i =>
        val l: java.lang.Long =
          if (rnd.nextInt(10) == 0) null else java.lang.Long.valueOf(rnd.nextInt(40) - 20)
        val d: java.lang.Double =
          if (rnd.nextInt(10) == 0) null
          else if (rnd.nextInt(12) == 0) java.lang.Double.valueOf(Double.NaN)
          else java.lang.Double.valueOf(math.round(rnd.nextGaussian() * 50) / 10.0)
        val s: String =
          if (rnd.nextInt(10) == 0) null
          else ("" + ('a' + rnd.nextInt(4)).toChar) * (1 + rnd.nextInt(3))
        (i.toLong, l, d, s)
      }
      val clusterCol = Seq("k", "l", "d")(rnd.nextInt(3))
      val df = rows.toDF("k", "l", "d", "s")
        .repartitionByRange(1 + rnd.nextInt(5), col(clusterCol))
      val path = tmp()
      df.write.format("graftdocs").mode("overwrite").save(path)
      val schema = org.apache.spark.sql.types.StructType(
        df.schema.map(_.copy(nullable = true)))

      // random filter over a random column, mixing comparison kinds
      def lit1(c: String): Column = c match {
        case "k" => lit(rnd.nextInt(n).toLong)
        case "l" => lit((rnd.nextInt(40) - 20).toLong)
        case "d" => lit(math.round(rnd.nextGaussian() * 50) / 10.0)
        case _   => lit(("" + ('a' + rnd.nextInt(4)).toChar) * (1 + rnd.nextInt(3)))
      }
      def onePred(): Column = {
        val c = Seq("k", "l", "d", "s")(rnd.nextInt(4))
        rnd.nextInt(7) match {
          case 0 => col(c) === lit1(c)
          case 1 => col(c) > lit1(c)
          case 2 => col(c) >= lit1(c)
          case 3 => col(c) < lit1(c)
          case 4 => col(c) <= lit1(c)
          case 5 => col(c).isNull
          case _ => col(c).isNotNull
        }
      }
      val pred = rnd.nextInt(3) match {
        case 0 => onePred()
        case 1 => onePred() && onePred()
        case _ => onePred() || onePred()
      }

      def keys(zonemaps: Boolean): Set[Long] =
        spark.read.format("graftdocs").schema(schema)
          .option("zonemaps", zonemaps.toString).load(path)
          .where(pred).select("k").as[Long].collect().toSet
      val pruned = keys(zonemaps = true)
      val full = keys(zonemaps = false)
      assert(pruned == full,
        s"round $round: cluster=$clusterCol pred=$pred → " +
          s"pruned ${pruned.size} vs full ${full.size}; " +
          s"missing=${(full -- pruned).take(5)} extra=${(pruned -- full).take(5)}")
    }
  }

  test("bloom pruning never loses rows on 40 random hash-layout draws") {
    // the bloom-specific adversarial sweep: HASH-distributed layouts
    // (min/max can prove nothing, so the bloom is the only
    // discriminator), equality-heavy random filters including $in
    // probes, null-safe equality, absent keys, null literals, and
    // CROSS-KIND literals (a Double against the i64 bloom must abstain,
    // never hash-compare). A false negative here is a silently lost row.
    val rnd = new scala.util.Random(20260815L)
    for (round <- 1 to 40) {
      val n = 20 + rnd.nextInt(80)
      val rows = (0 until n).map { i =>
        val l: java.lang.Long =
          if (rnd.nextInt(10) == 0) null else java.lang.Long.valueOf(rnd.nextInt(50) - 25)
        val s: String =
          if (rnd.nextInt(10) == 0) null
          else ("" + ('a' + rnd.nextInt(5)).toChar) * (1 + rnd.nextInt(3))
        val dt: java.sql.Date =
          if (rnd.nextInt(10) == 0) null
          else java.sql.Date.valueOf(f"2024-01-${1 + rnd.nextInt(20)}%02d")
        (i.toLong, l, s, dt)
      }
      val df = rows.toDF("k", "l", "s", "dt").repartition(1 + rnd.nextInt(6), col("k"))
      val path = tmp()
      df.write.format("graftdocs")
        .option("bloomColumns",
          Seq("l", "s", "l,s", "k,l,s,dt", "dt")(rnd.nextInt(5)))
        .mode("overwrite").save(path)
      val schema = org.apache.spark.sql.types.StructType(
        df.schema.map(_.copy(nullable = true)))

      def longLit(): Column =
        // half in-domain, half absent (absent keys exercise the skip)
        if (rnd.nextBoolean()) lit((rnd.nextInt(50) - 25).toLong)
        else lit((1000 + rnd.nextInt(50)).toLong)
      def strLit(): Column =
        if (rnd.nextBoolean())
          lit(("" + ('a' + rnd.nextInt(5)).toChar) * (1 + rnd.nextInt(3)))
        else lit("zz" + rnd.nextInt(10))
      def dateLit(): Column =
        if (rnd.nextBoolean())
          lit(java.sql.Date.valueOf(f"2024-01-${1 + rnd.nextInt(20)}%02d"))
        else lit(java.sql.Date.valueOf("2030-06-15")) // absent
      def onePred(): Column = rnd.nextInt(12) match {
        case 0 => col("l") === longLit()
        case 1 => col("s") === strLit()
        case 2 => col("l").isin((0 until 1 + rnd.nextInt(4))
          .map(_ => (rnd.nextInt(60) - 30).toLong): _*)
        case 3 => col("s").isin("a", "zz9", "bb")
        case 4 => col("l") <=> longLit()
        case 5 => col("s") <=> lit(null)
        case 6 => col("l") === lit(null)
        // cross-kind: a DOUBLE literal on the i64-bloomed column — the
        // bloom must abstain and the range stats must judge alone
        case 7 => col("l") === lit((rnd.nextInt(50) - 25).toDouble)
        case 8 => col("k") === lit(rnd.nextInt(n).toLong)
        case 9 => col("dt") === dateLit()
        case 10 => col("dt").isin(
          java.sql.Date.valueOf("2024-01-03"), java.sql.Date.valueOf("2024-01-11"))
        case _ => col("l").isNotNull
      }
      val pred = rnd.nextInt(3) match {
        case 0 => onePred()
        case 1 => onePred() && onePred()
        case _ => onePred() || onePred()
      }
      def keys(zonemaps: Boolean): Set[Long] =
        spark.read.format("graftdocs").schema(schema)
          .option("zonemaps", zonemaps.toString).load(path)
          .where(pred).select("k").as[Long].collect().toSet
      val pruned = keys(zonemaps = true)
      val full = keys(zonemaps = false)
      assert(pruned == full,
        s"round $round: pred=$pred → pruned ${pruned.size} vs full " +
          s"${full.size}; missing=${(full -- pruned).take(5)} " +
          s"extra=${(pruned -- full).take(5)}")
    }
  }

  test("cross-type declared schemas never lose rows to stale stats (20 draws)") {
    val rnd = new scala.util.Random(42L)
    for (round <- 1 to 20) {
      val n = 10 + rnd.nextInt(30)
      val rows = (0 until n).map { i =>
        (i.toLong, math.round(rnd.nextGaussian() * 100) / 10.0)
      }
      val path = tmp()
      rows.toDF("k", "x").repartitionByRange(1 + rnd.nextInt(4), $"x")
        .write.format("graftdocs").mode("overwrite").save(path)
      // declare x as LONG: every value truncates toward zero at decode,
      // so the written-double stats must be distrusted for pruning
      val cut = (rnd.nextInt(20) - 10).toLong
      val pred = rnd.nextInt(2) match {
        case 0 => $"x" <= cut
        case _ => $"x" === cut
      }
      def keys(zonemaps: Boolean): Set[Long] =
        spark.read.format("graftdocs").schema("k long, x long")
          .option("zonemaps", zonemaps.toString).load(path)
          .where(pred).select("k").as[Long].collect().toSet
      val pruned = keys(zonemaps = true)
      val full = keys(zonemaps = false)
      assert(pruned == full,
        s"round $round: pred=$pred → pruned $pruned vs full $full")
    }
  }
}
