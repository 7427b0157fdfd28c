package graft.functions

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkFixture

/** HashedShingles must be byte-identical to the HOF chain it fuses
  * (round-12 optimization): `array_sort(transform(word_shingles(
  * filter(split(trim(text), "\s+"), len > 0), n), s => xxhash64(s)))`.
  * The sorted hash array is load-bearing — it feeds the minhash band
  * kernel AND the JaccardSimLong verification, so a silent tokenization
  * or hash divergence would shift near-dup candidate sets — so the
  * fused kernel is pinned against the composed Spark plan on
  * randomized inputs (nulls, empties, whitespace-only, unicode,
  * repeated shingles), not against itself. */
class HashedShinglesSpec extends AnyFunSuite {
  private lazy val spark = SparkFixture.spark
  import spark.implicits._

  private def referenceChain(n: Int) = {
    graft.functions.GraftFunctions.register(spark)
    val toks = filter(split(trim(col("text")), "\\s+"), t => length(t) > 0)
    array_sort(transform(
      call_function("word_shingles", toks, lit(n)), s => xxhash64(s)))
  }

  test("fused pass equals tokenize -> shingle -> xxhash64 -> sort chain") {
    val rnd = new scala.util.Random(11)
    val words = Vector("the", "cat", "sat", "on", "a", "mat", "émile",
      "データ", "x", "", "longerword", "Tab\there")
    def doc(): String = {
      val k = rnd.nextInt(12)
      (0 until k).map(_ => words(rnd.nextInt(words.size)))
        .mkString(if (rnd.nextBoolean()) " " else "   ")
    }
    val rows: Seq[(Long, String)] =
      (0L until 300L).map(i => i -> doc()) ++ Seq(
        300L -> null, 301L -> "", 302L -> "   ", 303L -> "one",
        304L -> "one two", 305L -> "a b c a b c a b c",
        306L -> " leading and trailing \t\n")
    val df = rows.toDF("id", "text")
    for (n <- Seq(2, 3, 5)) {
      val expected = df.select(col("id"), referenceChain(n).as("hs"))
        .collect().map(r => r.getLong(0) ->
          (if (r.isNullAt(1)) null else r.getSeq[Long](1).toVector)).toMap
      val got = df.select(col("id"),
          call_function("hashed_shingles", col("text"), lit(n)).as("hs"))
        .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toVector).toMap
      rows.foreach { case (id, text) =>
        if (text == null) {
          // chain: null text -> null tokens -> word_shingles maps to
          // [""] -> one hash; the fused kernel matches that contract
          assert(got(id).length == 1, s"id $id: null text must hash ['']")
          assert(got(id) == expected(id), s"id $id (null text) diverged")
        } else {
          assert(got(id) == expected(id), s"id $id: n=$n diverged for '$text'")
        }
      }
    }
  }

  test("shingle widths: an int-range BIGINT literal is accepted, a " +
       "non-foldable width fails loudly") {
    GraftFunctions.register(spark)
    val df = Seq((1, "a b c d"), (2, "x y")).toDF("w", "text")
    val asInt = df.select(call_function("hashed_shingles", col("text"), lit(3)))
      .collect().map(_.getSeq[Long](0))
    val asLong = df.select(call_function("hashed_shingles", col("text"), lit(3L)))
      .collect().map(_.getSeq[Long](0))
    assert(asLong.toSeq == asInt.toSeq)
    assert(spark.sql("SELECT word_shingles(array('a','b','c'), 2L) AS s")
      .head.getSeq[String](0) == Seq("a b", "b c"))
    for (fn <- Seq("hashed_shingles", "word_shingles")) {
      val arg = if (fn == "hashed_shingles") col("text")
        else split(col("text"), " ")
      val e = intercept[Exception](
        df.select(call_function(fn, arg, col("w"))).collect())
      val iae = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .collectFirst { case x: IllegalArgumentException => x }
      assert(iae.exists(_.getMessage.contains(
        s"$fn: width argument must be a foldable integer literal")), e.toString)
    }
  }
}
