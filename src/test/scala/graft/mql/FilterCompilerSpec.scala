package graft.mql

import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkFixture
import graft.api.Graft

/** Mongo filter semantics that the DuckDB oracle queries can't observe:
  * null/missing handling, array operators, $not. Mirrors the matrix the
  * reference's own tests delegate to the server (test_arrow.py:113-252). */
class FilterCompilerSpec extends AnyFunSuite {
  private lazy val spark = SparkFixture.spark
  import spark.implicits._

  // id, a (nullable int), tags (nullable array)
  private lazy val df = Seq(
    (1, Some(5), Some(Seq(1, 2, 3))),
    (2, Some(10), Some(Seq(2, 4))),
    (3, None, Some(Seq.empty[Int])),
    (4, Some(5), None)
  ).toDF("id", "a", "tags")

  private def ids(filter: String): Seq[Int] =
    df.where(FilterCompiler.withSchema(Some(df.schema))(
        FilterCompiler.compile(filter)))
      .select("id").as[Int].collect().toSeq.sorted

  test("equality and $eq") {
    assert(ids("""{"a": 5}""") == Seq(1, 4))
    assert(ids("""{"a": {"$eq": 5}}""") == Seq(1, 4))
  }

  test("$eq null matches missing") {
    assert(ids("""{"a": null}""") == Seq(3))
    assert(ids("""{"a": {"$eq": null}}""") == Seq(3))
  }

  test("$ne matches missing (Mongo semantics)") {
    assert(ids("""{"a": {"$ne": 5}}""") == Seq(2, 3))
    assert(ids("""{"a": {"$ne": null}}""") == Seq(1, 2, 4))
  }

  test("$gt/$lte ignore nulls") {
    assert(ids("""{"a": {"$gt": 5}}""") == Seq(2))
    assert(ids("""{"a": {"$lte": 5}}""") == Seq(1, 4))
  }

  test("$in / $nin with and without null") {
    assert(ids("""{"a": {"$in": [5, 10]}}""") == Seq(1, 2, 4))
    assert(ids("""{"a": {"$in": [5, null]}}""") == Seq(1, 3, 4))
    assert(ids("""{"a": {"$nin": [5]}}""") == Seq(2, 3))
  }

  test("$exists maps to null checks") {
    assert(ids("""{"a": {"$exists": true}}""") == Seq(1, 2, 4))
    assert(ids("""{"a": {"$exists": false}}""") == Seq(3))
  }

  test("$not negates with missing matching") {
    assert(ids("""{"a": {"$not": {"$gt": 5}}}""") == Seq(1, 3, 4))
  }

  test("$and / $or / $nor") {
    assert(ids("""{"$and": [{"a": {"$gte": 5}}, {"a": {"$lt": 10}}]}""") == Seq(1, 4))
    assert(ids("""{"$or": [{"a": 10}, {"id": 3}]}""") == Seq(2, 3))
    assert(ids("""{"$nor": [{"a": 5}, {"a": 10}]}""") == Seq(3))
  }

  test("array ops: $size, $all, $elemMatch") {
    assert(ids("""{"tags": {"$size": 2}}""") == Seq(2))
    assert(ids("""{"tags": {"$all": [2, 3]}}""") == Seq(1))
    assert(ids("""{"tags": {"$elemMatch": {"$gte": 4}}}""") == Seq(2))
  }

  test("$regex with $options") {
    val words = Seq((1, "Alpha"), (2, "beta"), (3, "alphabet")).toDF("id", "w")
    val got = words.where(FilterCompiler.compile(
      """{"w": {"$regex": "^alpha", "$options": "i"}}"""))
      .select("id").as[Int].collect().toSeq.sorted
    assert(got == Seq(1, 3))
  }

  test("$mod") {
    assert(ids("""{"a": {"$mod": [3, 1]}}""") == Seq(2))
  }

  test("unsupported operator raises MqlException") {
    intercept[MqlException](ids("""{"a": {"$near": 1}}"""))
  }

  test("$type matches BSON type names, 'null', and the 'number' alias") {
    assert(ids("""{"a": {"$type": "int"}}""") == Seq(1, 2, 4))
    assert(ids("""{"a": {"$type": "null"}}""") == Seq(3))
    assert(ids("""{"a": {"$type": "number"}}""") == Seq(1, 2, 4))
    assert(ids("""{"a": {"$type": "string"}}""") == Seq())
    assert(ids("""{"tags": {"$type": "array"}}""") == Seq(1, 2, 3))
    assert(ids("""{"a": {"$type": ["string", "int"]}}""") == Seq(1, 2, 4))
  }

  test("$type resolves statically — no runtime typeof survives optimization") {
    // BsonTypeOf is RuntimeReplaceable on the column's static plan type;
    // the previous runtime typeof() call failed Janino compilation and
    // silently fell back to interpreted execution
    val plan = df.where(FilterCompiler.compile("""{"a": {"$type": "number"}}"""))
      .queryExecution.optimizedPlan.toString.toLowerCase
    assert(!plan.contains("typeof"))
    assert(!plan.contains("bsontypeof"))
  }

  test("$bits*: mask forms, integral guard, null/non-integral never match") {
    // n: 0b0101=5, 0b0110=6, 0b1010=10, null, and a fractional double
    val bitsDf = Seq(
      (1, Some(5.0)), (2, Some(6.0)), (3, Some(10.0)),
      (4, None), (5, Some(5.5))
    ).toDF("id", "n")
    def bids(filter: String): Seq[Int] =
      bitsDf.where(FilterCompiler.compile(filter))
        .select("id").as[Int].collect().toSeq.sorted
    assert(bids("""{"n": {"$bitsAllSet": 5}}""") == Seq(1))       // 101
    assert(bids("""{"n": {"$bitsAllSet": [0, 2]}}""") == Seq(1))  // same mask
    assert(bids("""{"n": {"$bitsAnySet": 4}}""") == Seq(1, 2))
    assert(bids("""{"n": {"$bitsAllClear": 1}}""") == Seq(2, 3))
    assert(bids("""{"n": {"$bitsAnyClear": 5}}""") == Seq(2, 3))
    // combined ops AND together like any field op doc
    assert(bids("""{"n": {"$bitsAnySet": 2, "$bitsAllClear": 8}}""") == Seq(2))
    intercept[MqlException](bids("""{"n": {"$bitsAllSet": -3}}"""))
    intercept[MqlException](bids("""{"n": {"$bitsAllSet": [63]}}"""))
  }

  test("$geoWithin: box/center planar, centerSphere radians, polygon, geometry") {
    val geoDf = Seq(
      (1, Some(Seq(0.0, 0.0))),
      (2, Some(Seq(3.0, 4.0))),    // planar dist 5 from origin
      (3, Some(Seq(50.0, 0.0))),
      (4, None)
    ).toDF("id", "loc")
    def gids(filter: String): Seq[Int] =
      geoDf.where(FilterCompiler.compile(filter))
        .select("id").as[Int].collect().toSeq.sorted
    assert(gids("""{"loc": {"$geoWithin":
      {"$box": [[-1, -1], [4, 5]]}}}""") == Seq(1, 2))
    assert(gids("""{"loc": {"$geoWithin":
      {"$center": [[0, 0], 5]}}}""") == Seq(1, 2))
    // 10° central angle ≈ 0.1745 rad: (3,4)° is ~0.0873 rad out
    assert(gids("""{"loc": {"$geoWithin":
      {"$centerSphere": [[0, 0], 0.1]}}}""") == Seq(1, 2))
    assert(gids("""{"loc": {"$geoWithin":
      {"$centerSphere": [[0, 0], 0.05]}}}""") == Seq(1))
    assert(gids("""{"loc": {"$geoWithin":
      {"$polygon": [[-1, -2], [8, -1], [2, 8]]}}}""") == Seq(1, 2))
    assert(gids("""{"loc": {"$geoWithin": {"$geometry": {"type": "Polygon",
      "coordinates": [[[-1, -2], [8, -1], [2, 8], [-1, -2]]]}}}}""") == Seq(1, 2))
    intercept[MqlException](gids("""{"loc": {"$geoWithin": {}}}"""))
    intercept[MqlException](gids("""{"loc": {"$geoWithin":
      {"$geometry": {"type": "MultiPolygon", "coordinates": []}}}}"""))
  }

  test("$geoIntersects: polygon containment and point equality") {
    val geoDf = Seq(
      (1, Some(Seq(0.0, 0.0))),
      (2, Some(Seq(3.0, 4.0))),
      (3, Some(Seq(50.0, 0.0))),
      (4, None)
    ).toDF("id", "loc")
    def gids(filter: String): Seq[Int] =
      geoDf.where(FilterCompiler.compile(filter))
        .select("id").as[Int].collect().toSeq.sorted
    assert(gids("""{"loc": {"$geoIntersects": {"$geometry": {"type": "Polygon",
      "coordinates": [[[-1, -2], [8, -1], [2, 8], [-1, -2]]]}}}}""") == Seq(1, 2))
    assert(gids("""{"loc": {"$geoIntersects": {"$geometry": {"type": "Point",
      "coordinates": [3, 4]}}}}""") == Seq(2))
    intercept[MqlException](gids("""{"loc": {"$geoIntersects":
      {"$box": [[0, 0], [1, 1]]}}}"""))
  }

  test("$near/$nearSphere: bounds, units matrix, nearest-first order") {
    val geoDf = Seq(
      (1, Some(Seq(0.0, 0.0))),
      (2, Some(Seq(3.0, 4.0))),    // planar dist 5; central angle ~0.0873 rad
      (3, Some(Seq(50.0, 0.0))),
      (4, None)
    ).toDF("id", "loc")
    def fids(filter: String): Seq[Int] =
      Graft.find(geoDf, filter).select("id").as[Int].collect().toSeq
    // legacy $near: planar units, nearest first, null point never matches
    assert(fids("""{"loc": {"$near": [1, 1], "$maxDistance": 10}}""") == Seq(1, 2))
    assert(fids("""{"loc": {"$near": [1, 1], "$minDistance": 3,
                            "$maxDistance": 10}}""") == Seq(2))
    // nearest-first: (3,4) is closer to (4,4) than (0,0) is
    assert(fids("""{"loc": {"$near": [4, 4], "$maxDistance": 10}}""") == Seq(2, 1))
    // legacy $nearSphere: radians
    assert(fids("""{"loc": {"$nearSphere": [0, 0], "$maxDistance": 0.1}}""") == Seq(1, 2))
    assert(fids("""{"loc": {"$nearSphere": [0, 0], "$maxDistance": 0.05}}""") == Seq(1))
    // GeoJSON form: meters on the R=6378100 sphere, bounds inside the op
    assert(fids("""{"loc": {"$near": {"$geometry":
      {"type": "Point", "coordinates": [0, 0]},
      "$maxDistance": 600000}}}""") == Seq(1, 2))
    assert(fids("""{"loc": {"$near": {"$geometry":
      {"type": "Point", "coordinates": [0, 0]},
      "$minDistance": 300000, "$maxDistance": 600000}}}""") == Seq(2))
    // non-near sibling operators still AND in
    assert(fids("""{"loc": {"$near": [1, 1], "$maxDistance": 10, "$size": 2}}""")
      == Seq(1, 2))
    // explicit sort() overrides the geo order
    assert(Graft.find(geoDf, """{"loc": {"$near": [4, 4], "$maxDistance": 10}}""",
      sort = Some("""{"id": 1}""")).select("id").as[Int].collect().toSeq == Seq(1, 2))
    // $near is find-only: $match and nested contexts reject it
    intercept[MqlException](geoDf.where(FilterCompiler.compile(
      """{"loc": {"$near": [0, 0]}}""")))
    intercept[MqlException](Graft.find(geoDf,
      """{"$or": [{"loc": {"$near": [0, 0]}}, {"id": 1}]}"""))
  }

  test("$text: OR terms, required phrases, negation, textScore column") {
    val df = Seq(
      (1, "Spark query engine"),
      (2, "the spark spark runtime"),
      (3, "query planner"),
      (4, "unrelated words"),
      (5, "spark hive query")
    ).toDF("id", "text")
    def tids(filter: String): Seq[Int] =
      Graft.find(df, filter).select("id").as[Int].collect().toSeq.sorted
    // bare terms OR; matching is case-insensitive by default
    assert(tids("""{"$text": {"$search": "spark planner", "$path": "text"}}""")
      == Seq(1, 2, 3, 5))
    // -term excludes
    assert(tids("""{"$text": {"$search": "spark -hive", "$path": "text"}}""")
      == Seq(1, 2))
    // a phrase gates matching; bare terms become score-only
    assert(tids("""{"$text": {"$search": "\"spark query\" planner",
      "$path": "text"}}""") == Seq(1))
    // negated phrase
    assert(tids("""{"$text": {"$search": "spark -\"spark query\"",
      "$path": "text"}}""") == Seq(2, 5))
    // case-sensitive matching keeps the raw tokens
    assert(tids("""{"$text": {"$search": "Spark",
      "$path": "text", "$caseSensitive": true}}""") == Seq(1))
    // textScore = sum of positive-clause tf, exposed via {$meta}
    val scored = Graft.find(df,
      """{"$text": {"$search": "spark query", "$path": "text"}}""",
      projection = Some("""{"id": 1, "score": {"$meta": "textScore"}}"""))
      .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
    assert(scored == Map(1 -> 2.0, 2 -> 2.0, 3 -> 1.0, 5 -> 2.0))
    // $text is find-only and needs $path and a positive clause
    intercept[MqlException](df.where(FilterCompiler.compile(
      """{"$text": {"$search": "spark", "$path": "text"}}""")))
    intercept[MqlException](tids("""{"$text": {"$search": "spark"}}"""))
    intercept[MqlException](tids("""{"$text": {"$search": "-spark",
      "$path": "text"}}"""))
    intercept[MqlException](tids("""{"$text": {"$search": "spark",
      "$path": "text", "$language": "english"}}"""))
  }

  test("collation: strength<=2 folds string comparisons, numerics untouched") {
    val df = Seq(
      (1, "Alpha", 10), (2, "ALPHA", 20), (3, "beta", 30), (4, "Beta", 5)
    ).toDF("id", "name", "n")
    def cids(filter: String, strength: Int): Seq[Int] =
      Graft.findWithOptions(df, filter,
        Map("collation" -> s"""{"locale": "en", "strength": $strength}"""))
        .select("id").as[Int].collect().toSeq.sorted
    // equality folds at strength 1/2, stays binary at 3
    assert(cids("""{"name": "alpha"}""", 2) == Seq(1, 2))
    assert(cids("""{"name": "alpha"}""", 3) == Seq())
    assert(cids("""{"name": {"$ne": "beta"}}""", 2) == Seq(1, 2))
    assert(cids("""{"name": {"$in": ["ALPHA", "BETA"]}}""", 1) == Seq(1, 2, 3, 4))
    // range comparison on folded strings; numeric predicates untouched
    assert(cids("""{"name": {"$gte": "b"}}""", 2) == Seq(3, 4))
    assert(cids("""{"name": {"$gte": "b"}, "n": {"$gt": 10}}""", 2) == Seq(3))
    // sort folds string keys (id tiebreak via the raw column)
    val sorted = Graft.find(df, sort = Some("""{"name": 1, "id": 1}"""),
      collation = Some(FilterCompiler.Collation(caseInsensitive = true)))
      .select("id").as[Int].collect().toSeq
    assert(sorted.take(2).toSet == Set(1, 2) && sorted.drop(2).toSet == Set(3, 4))
    // unknown collation fields reject; strength domain checked
    intercept[MqlException](cids("""{"name": "x"}""", 9))
    // numericOrdering is now a supported field (round 11) — a truly
    // unknown field still rejects
    intercept[MqlException](Graft.findWithOptions(df, "{}",
      Map("collation" -> """{"locale": "en", "backwards": true}""")))
  }

  test("aggregate-level collation: $match/$sort fold; grouping stages refused") {
    val df = Seq(
      (1, "Alpha", 10), (2, "ALPHA", 20), (3, "beta", 30), (4, "Beta", 5)
    ).toDF("id", "name", "n")
    val ci = Map[String, Any](
      "collation" -> """{"locale": "en", "strength": 2}""")
    val out = Graft.aggregateWithOptions(df, """[
      {"$match": {"name": "alpha"}},
      {"$sort": {"name": 1, "id": 1}},
      {"$project": {"id": 1}}]""", ci)
      .as[Int].collect().toSeq
    // folded keys tie → raw-column tiebreak ranks "ALPHA" before "Alpha"
    assert(out == Seq(2, 1))
    // strength 3 (binary) leaves equality untouched
    assert(Graft.aggregateWithOptions(df, """[
      {"$match": {"name": "alpha"}}]""",
      Map[String, Any]("collation" -> """{"locale": "en", "strength": 3}"""))
      .count() == 0)
    // grouping/join equality under ci collation is refused, not silently
    // case-sensitive
    intercept[MqlException](Graft.aggregateWithOptions(df, """[
      {"$group": {"_id": "$name", "n": {"$count": {}}}}]""", ci))
    intercept[MqlException](Graft.aggregateWithOptions(df, """[
      {"$sortByCount": "$name"}]""", ci))
  }

  test("$jsonSchema: required/properties/type gates/enum/combinators") {
    val df = Seq(
      (1, Some("alpha"), Some(10.0), Some(Seq(1, 2, 3))),
      (2, Some("beta"),  Some(55.0), Some(Seq(1, 1))),
      (3, None,          Some(30.0), Some(Seq.empty[Int])),
      (4, Some("gamma"), None,       None)
    ).toDF("id", "name", "score", "tags")
    def jids(schema: String): Seq[Int] =
      df.where(FilterCompiler.compile(s"""{"$$jsonSchema": $schema}"""))
        .select("id").as[Int].collect().toSeq.sorted
    // required = present (non-null); missing properties pass their schema
    assert(jids("""{"required": ["name", "score"]}""") == Seq(1, 2))
    assert(jids("""{"properties": {"score": {"minimum": 20}}}""")
      == Seq(2, 3, 4)) // 4: score missing → passes
    assert(jids("""{"required": ["score"],
      "properties": {"score": {"minimum": 20, "maximum": 40}}}""") == Seq(3))
    // exclusive bounds (draft-4 boolean form)
    assert(jids("""{"properties": {"score": {"minimum": 30,
      "exclusiveMinimum": true}}}""") == Seq(2, 4))
    // string keywords gate on type; numbers pass pattern untouched
    assert(jids("""{"properties": {"name": {"pattern": "^b"},
      "score": {"pattern": "ignored"}}}""") == Seq(2, 3))
    assert(jids("""{"properties": {"name": {"minLength": 5}}}""") == Seq(1, 3, 4))
    // bsonType / type, "number" alias, array form
    assert(jids("""{"properties": {"score": {"bsonType": "double"}}}""")
      == Seq(1, 2, 3, 4))
    assert(jids("""{"properties": {"score": {"type": "number"}}}""")
      == Seq(1, 2, 3, 4))
    intercept[MqlException](jids("""{"properties": {"score": {"type": "double"}}}"""))
    // array keywords: minItems / uniqueItems / items
    assert(jids("""{"properties": {"tags": {"minItems": 2}}}""") == Seq(1, 2, 4))
    assert(jids("""{"properties": {"tags": {"uniqueItems": true}}}""")
      == Seq(1, 3, 4))
    assert(jids("""{"properties": {"tags": {"items": {"maximum": 2}}}}""")
      == Seq(2, 3, 4))
    // enum + combinators
    assert(jids("""{"properties": {"name": {"enum": ["alpha", "gamma"]}}}""")
      == Seq(1, 3, 4))
    assert(jids("""{"anyOf": [{"required": ["name"], "properties":
      {"name": {"enum": ["beta"]}}}, {"properties": {"score":
      {"maximum": 15}}}]}""") == Seq(1, 2, 4))
    assert(jids("""{"not": {"required": ["tags"]}}""") == Seq(4))
    assert(jids("""{"oneOf": [{"properties": {"score": {"minimum": 25}}},
      {"required": ["name"]}]}""") == Seq(1, 3))
    intercept[MqlException](jids("""{"patternProperties": {}}"""))
  }

  test("implicit array-traversal equality: {field: v} matches containing arrays") {
    // tags is array<int>: equality means "contains" (Mongo's tag idiom)
    assert(ids("""{"tags": 2}""") == Seq(1, 2))
    assert(ids("""{"tags": {"$eq": 4}}""") == Seq(2))
    assert(ids("""{"tags": 99}""") == Seq())
    // numeric cross-width: 2.0 matches int element 2; 2.5 matches nothing
    assert(ids("""{"tags": 2.0}""") == Seq(1, 2))
    assert(ids("""{"tags": 2.5}""") == Seq())
    // whole-array equality
    assert(ids("""{"tags": [2, 4]}""") == Seq(2))
    assert(ids("""{"tags": []}""") == Seq(3))
    // $ne on arrays: not-contains; missing field matches; an array
    // containing ONLY other values matches even with a null around
    assert(ids("""{"tags": {"$ne": 2}}""") == Seq(3, 4))
    assert(ids("""{"tags": {"$ne": 99}}""") == Seq(1, 2, 3, 4))
    // type-incompatible element value: never equal, loudly false not an error
    assert(ids("""{"tags": "x"}""") == Seq())
    // scalar equality is untouched (plan + semantics)
    assert(ids("""{"a": 5}""") == Seq(1, 4))
    assert(ids("""{"a": {"$ne": 5}}""") == Seq(2, 3))
    // $in on arrays: list ∩ array nonempty; array members = whole-array eq
    assert(ids("""{"tags": {"$in": [4, 99]}}""") == Seq(2))
    assert(ids("""{"tags": {"$in": [[1, 2, 3], 4]}}""") == Seq(1, 2))
    assert(ids("""{"tags": {"$in": [null]}}""") == Seq(4))
    assert(ids("""{"tags": {"$in": ["x"]}}""") == Seq())
    // $nin: no member matches; missing field matches
    assert(ids("""{"tags": {"$nin": [2, 99]}}""") == Seq(3, 4))
    assert(ids("""{"tags": {"$nin": [null]}}""") == Seq(1, 2, 3))
    // scalar $eq still reaches the parquet reader as a pushed filter
    val dir = graft.TestDirs.temp("graft_meq").toString
    df.select("id", "a").write.mode("overwrite").parquet(dir)
    val q = spark.read.parquet(dir).where(FilterCompiler.compile("""{"a": 5}"""))
    val scan = q.queryExecution.executedPlan.toString
    assert(scan.contains("PushedFilters: [IsNotNull(a), EqualTo(a,5)]"), scan)
  }

  test("collation depth: numericOrdering / caseFirst / alternate " +
       "shifted — each field's semantics pinned (no DuckDB ICU twin)") {
    import FilterCompiler.Collation
    val df = spark.createDataFrame(Seq(
      (1, "doc9"), (2, "doc10"), (3, "doc007"), (4, "doc7"),
      (5, "Apple"), (6, "apple"), (7, "hello-world"), (8, "helloworld"),
      (9, "hello world"))).toDF("id", "s")
    def ids(filter: String, c: Collation): Seq[Int] =
      FilterCompiler.withCollation(Some(c))(
        df.where(FilterCompiler.compile(filter)))
        .select("id").orderBy("id").collect().map(_.getInt(0)).toSeq
    val num = Collation(caseInsensitive = false, numericOrdering = true)
    // digit runs compare as NUMBERS: doc9 < doc10 under numericOrdering
    // (hello*/apple order by their letters as usual)
    assert(ids("""{"s": {"$gt": "doc9"}}""", num) == Seq(2, 7, 8, 9))
    assert(ids("""{"s": {"$lt": "doc9"}}""", num) == Seq(3, 4, 5, 6))
    // leading zeros are insignificant: doc007 == doc7
    assert(ids("""{"s": "doc7"}""", num) == Seq(3, 4))
    assert(ids("""{"s": {"$in": ["doc007", "doc10"]}}""", num) ==
      Seq(2, 3, 4))
    // binary (no collation twin): doc10 < doc9, doc007 != doc7
    assert(ids("""{"s": {"$gt": "doc9"}}""",
      Collation(caseInsensitive = false)) == Seq(7, 8, 9))
    assert(ids("""{"s": "doc7"}""",
      Collation(caseInsensitive = false)) == Seq(4))
    // caseFirst orders case variants at the SECONDARY level: the
    // primary (case-folded) order is untouched — Apple/apple both sit
    // strictly below "banana" — while equal-primary strings order by
    // the preferred case
    val upper = Collation(caseInsensitive = false, caseFirst = "upper")
    val lower = Collation(caseInsensitive = false, caseFirst = "lower")
    assert(ids("""{"s": {"$lt": "apple"}}""", upper) == Seq(5))
    assert(ids("""{"s": {"$lt": "Apple"}}""", lower) == Seq(6))
    // both case variants stay < "banana" for either option
    assert(ids("""{"s": {"$lt": "banana"}}""", upper)
      .intersect(Seq(5, 6)) == Seq(5, 6))
    // alternate shifted: whitespace + punctuation are ignorable
    val shifted = Collation(caseInsensitive = false, shifted = true)
    assert(ids("""{"s": "helloworld"}""", shifted) == Seq(7, 8, 9))
    assert(ids("""{"s": "hello-world"}""", shifted) == Seq(7, 8, 9))
    // ...and composable with ci (strength <= 2)
    val ciShift = Collation(caseInsensitive = true, shifted = true)
    assert(ids("""{"s": "HELLO WORLD"}""", ciShift) == Seq(7, 8, 9))
    // SORT under keyed collations: numericOrdering orders doc7 < doc9
    // < doc10 (binary would put doc10 first); caseFirst=lower puts
    // apple before Apple
    def sortIds(sortJson: String, c: Collation): Seq[Int] =
      graft.api.Graft.find(df.where(org.apache.spark.sql.functions.col("id") <= 4), sort = Some(sortJson),
        collation = Some(c)).select("id").collect().map(_.getInt(0)).toSeq
    assert(sortIds("""{"s": 1, "id": 1}""", num) == Seq(3, 4, 1, 2))
    assert(sortIds("""{"s": 1, "id": 1}""",
      Collation(caseInsensitive = false)) == Seq(3, 2, 4, 1))
    assert(graft.api.Graft.find(df.where(org.apache.spark.sql.functions.col("id").isin(5, 6)),
      sort = Some("""{"s": 1}"""), collation = Some(lower))
      .select("id").collect().map(_.getInt(0)).toSeq == Seq(6, 5))
    // parse surface: every field validates; caseFirst needs strength 3+
    assert(Collation.parse(
      """{"locale": "en", "numericOrdering": true,
         "caseFirst": "upper", "alternate": "shifted"}""") ==
      Collation(caseInsensitive = false, numericOrdering = true,
        caseFirst = "upper", shifted = true))
    val e = intercept[MqlException](Collation.parse(
      """{"strength": 1, "caseFirst": "upper"}"""))
    assert(e.getMessage.contains("case-sensitive"), e.getMessage)
    intercept[MqlException](Collation.parse("""{"alternate": "odd"}"""))
    intercept[MqlException](Collation.parse("""{"backwards": true}"""))
  }

  test("$where refuses NAMING the operator and the JS exclusion") {
    val e = intercept[MqlException](
      FilterCompiler.compile("""{"$where": "this.a > 1"}"""))
    assert(e.getMessage.contains("$where"), e.getMessage)
    assert(e.getMessage.contains("JavaScript is out of scope"), e.getMessage)
    assert(e.getMessage.contains("$expr"), e.getMessage)
  }
}
