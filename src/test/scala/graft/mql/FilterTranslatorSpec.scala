package graft.mql

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources._
import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.Gen
import graft.SparkFixture

/** Round-trip property for the pushdown-translation layer: for every
  * translatable Spark source Filter, compiling its MQL rendering back
  * through FilterCompiler keeps exactly the rows Spark's own filter
  * semantics keep, over a corpus with nulls in every column. Filters
  * declared untranslatable must be the ones whose MQL form would
  * actually diverge (negation over nullable fields, null $in members).
  */
class FilterTranslatorSpec extends AnyFunSuite {
  private lazy val spark = SparkFixture.spark

  private lazy val corpus = {
    val rows = Seq[(java.lang.Long, String, java.lang.Double, String)](
      (1L, "alpha", 1.5, "2021-03-01"),
      (2L, "beta", -2.0, "2021-06-15"),
      (3L, null, 0.0, null),
      (4L, "alpha beta", null, "2022-01-01"),
      (null.asInstanceOf[java.lang.Long], "", 9.75, "2021-03-01"),
      (6L, "Alpha", 1.5, "2023-12-31"))
    import spark.implicits._
    rows.toDF("i", "s", "d", "ds")
      .withColumn("dt", col("ds").cast("date")).drop("ds")
      .cache()
  }

  /** The DEFINITIONAL Spark semantics of a source filter (the Filter
    * scaladoc contract) — what a file source evaluates post-scan. */
  private def sparkColumn(f: Filter): Column = f match {
    case EqualTo(a, v) => col(a) === lit(v)
    case EqualNullSafe(a, v) => col(a) <=> lit(v)
    case GreaterThan(a, v) => col(a) > lit(v)
    case GreaterThanOrEqual(a, v) => col(a) >= lit(v)
    case LessThan(a, v) => col(a) < lit(v)
    case LessThanOrEqual(a, v) => col(a) <= lit(v)
    case IsNull(a) => col(a).isNull
    case IsNotNull(a) => col(a).isNotNull
    case In(a, vs) => col(a).isin(vs.toIndexedSeq: _*)
    case StringStartsWith(a, s) => col(a).startsWith(s)
    case StringEndsWith(a, s) => col(a).endsWith(s)
    case StringContains(a, s) => col(a).contains(s)
    case And(l, r) => sparkColumn(l) && sparkColumn(r)
    case Or(l, r) => sparkColumn(l) || sparkColumn(r)
    case Not(c) => !sparkColumn(c)
    case other => throw new IllegalArgumentException(other.toString)
  }

  private def keptIds(c: Column): Set[Any] =
    corpus.where(c).select("i").collect().map(_.get(0)).toSet

  private def assertRoundTrip(f: Filter): Unit =
    FilterTranslator.translate(f).foreach { doc =>
      val compiled = FilterCompiler.compile(FilterTranslator.render(doc))
      assert(keptIds(compiled) == keptIds(sparkColumn(f)),
        s"filter $f != MQL ${FilterTranslator.render(doc)}")
    }

  // ---- generators ----------------------------------------------------------
  private val longLeaf: Gen[Filter] = for {
    v <- Gen.oneOf(Seq[Any](0L, 1L, 2L, 5L, -1L))
    f <- Gen.oneOf[Any => Filter](EqualTo("i", _), GreaterThan("i", _),
      GreaterThanOrEqual("i", _), LessThan("i", _), LessThanOrEqual("i", _),
      EqualNullSafe("i", _))
  } yield f(v)

  private val strLeaf: Gen[Filter] = for {
    v <- Gen.oneOf("alpha", "beta", "Alpha", "", "zeta", "a")
    f <- Gen.oneOf[String => Filter](EqualTo("s", _), StringStartsWith("s", _),
      StringEndsWith("s", _), StringContains("s", _), LessThan("s", _),
      GreaterThanOrEqual("s", _))
  } yield f(v)

  private val dblLeaf: Gen[Filter] = for {
    v <- Gen.oneOf(0.0, 1.5, -2.0, 100.0)
    f <- Gen.oneOf[Any => Filter](EqualTo("d", _), GreaterThan("d", _),
      LessThanOrEqual("d", _))
  } yield f(v)

  private val nullLeaf: Gen[Filter] = for {
    a <- Gen.oneOf("i", "s", "d", "dt")
    f <- Gen.oneOf[String => Filter](
      (x: String) => IsNull(x), (x: String) => IsNotNull(x),
      (x: String) => Not(IsNull(x)), (x: String) => Not(IsNotNull(x)),
      (x: String) => EqualNullSafe(x, null),
      (x: String) => Not(EqualNullSafe(x, null)))
  } yield f(a)

  private val inLeaf: Gen[Filter] = for {
    vs <- Gen.nonEmptyListOf(Gen.oneOf[Any](1L, 2L, 7L))
  } yield In("i", vs.toArray)

  private val neLeaf: Gen[Filter] = for {
    v <- Gen.oneOf(Seq[Any](1L, 5L))
  } yield Not(EqualNullSafe("i", v))

  private val leaf: Gen[Filter] =
    Gen.oneOf(longLeaf, strLeaf, dblLeaf, nullLeaf, inLeaf, neLeaf)

  private def tree(depth: Int): Gen[Filter] =
    if (depth == 0) leaf
    else Gen.frequency(
      3 -> leaf,
      2 -> (for { l <- tree(depth - 1); r <- tree(depth - 1) } yield And(l, r)),
      2 -> (for { l <- tree(depth - 1); r <- tree(depth - 1) } yield Or(l, r)))

  private def sample[A](g: Gen[A]): A =
    Iterator.continually(g.sample).flatten.next()

  test("property: translate → FilterCompiler preserves kept-row sets") {
    // plain ScalaCheck sampling loop (scalatestplus bridge not among
    // the offline deps) — 120 random depth-2 filter trees
    for (_ <- 1 to 120) assertRoundTrip(sample(tree(2)))
  }

  test("date and timestamp literals round-trip through $date") {
    assertRoundTrip(EqualTo("dt", java.sql.Date.valueOf("2021-03-01")))
    assertRoundTrip(GreaterThan("dt", java.sql.Date.valueOf("2021-06-01")))
    assertRoundTrip(LessThanOrEqual("dt", java.sql.Date.valueOf("2021-06-15")))
  }

  test("divergent shapes stay residual") {
    // Mongo $in with null member matches null fields; Spark In never does
    assert(FilterTranslator.translate(In("i", Array(1L, null))).isEmpty)
    // general negation: $not/$nor keep missing/null, Spark's Not drops
    assert(FilterTranslator.translate(Not(EqualTo("i", 1L))).isEmpty)
    assert(FilterTranslator.translate(Not(GreaterThan("i", 1L))).isEmpty)
    // EqualTo null never matches in Spark, {$eq: null} matches null in MQL
    assert(FilterTranslator.translate(EqualTo("i", null)).isEmpty)
  }

  test("translateAll conjoins translatable filters and returns residuals") {
    val fs = Seq[Filter](GreaterThan("i", 1L), Not(EqualTo("s", "x")),
      IsNotNull("d"))
    val (doc, residual) = FilterTranslator.translateAll(fs)
    assert(residual == Seq(Not(EqualTo("s", "x"))))
    val kept = keptIds(FilterCompiler.compile(FilterTranslator.render(doc)))
    assert(kept == keptIds(sparkColumn(And(GreaterThan("i", 1L), IsNotNull("d")))))
  }

  test("scan description surfaces the MQL wire form") {
    import org.apache.spark.sql.types._
    val df = corpus
    val dir = graft.TestDirs.temp("graft_mqlpush").toString
    df.write.format("graftdocs").mode("overwrite").save(dir)
    val q = spark.read.format("graftdocs").schema(df.schema).load(dir)
      .where(col("i") > 1L && col("s") === "alpha")
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("PushedMqlFilter"), plan)
    assert(plan.contains("$gt"), plan)
  }
}
