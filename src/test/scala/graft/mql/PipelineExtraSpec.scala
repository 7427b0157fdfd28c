package graft.mql

import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkFixture

/** Round-1 widening: $facet, $fill, $let, $dateAdd/$dateDiff, $minN/$maxN. */
class PipelineExtraSpec extends AnyFunSuite {
  private lazy val spark = SparkFixture.spark
  import spark.implicits._

  private lazy val sales = Seq(
    (1, "a", 10.0), (2, "a", 20.0), (3, "b", 30.0), (4, "b", 40.0), (5, "b", 50.0)
  ).toDF("id", "grp", "amt")

  test("$facet runs branches over the same input, one row out") {
    val out = PipelineCompiler.run(sales, """[
      {"$facet": {
        "byGrp": [{"$group": {"_id": "$grp", "n": {"$count": {}}}},
                  {"$sort": {"_id": 1}}],
        "top":   [{"$sort": {"amt": -1}}, {"$limit": 2},
                  {"$project": {"id": 1}}]}}]""")
    assert(out.count() == 1)
    val row = out.head
    assert(row.getSeq[Row](out.columns.indexOf("byGrp")).map(r => (r.getString(0), r.getLong(1)))
      == Seq(("a", 2L), ("b", 3L)))
    assert(row.getSeq[Row](out.columns.indexOf("top")).map(_.getInt(0)) == Seq(5, 4))
  }

  test("$fill value and locf") {
    val gaps = Seq[(Int, String, Option[Double])](
      (1, "a", Some(1.0)), (2, "a", None), (3, "a", Some(3.0)),
      (4, "b", None), (5, "b", Some(5.0)), (6, "b", None)
    ).toDF("id", "grp", "v")
    val locf = PipelineCompiler.run(gaps, """[
      {"$fill": {"partitionBy": "$grp", "sortBy": {"id": 1},
                 "output": {"v": {"method": "locf"}}}},
      {"$sort": {"id": 1}}]""")
    assert(locf.select("v").collect().map(r => if (r.isNullAt(0)) null else r.getDouble(0)).toSeq
      == Seq(1.0, 1.0, 3.0, null, 5.0, 5.0))
    val filled = PipelineCompiler.run(gaps, """[
      {"$fill": {"output": {"v": {"value": -1}}}}, {"$sort": {"id": 1}}]""")
    assert(filled.select("v").as[Double].collect().toSeq
      == Seq(1.0, -1.0, 3.0, -1.0, 5.0, -1.0))
  }

  test("$let binds variables with shadowing env") {
    val out = sales.select(ExprCompiler.compile(Mql.parse(
      """{"$let": {"vars": {"half": {"$multiply": ["$amt", 0.5]}},
                   "in": {"$add": ["$$half", 1]}}}""")).as("r"))
      .orderBy("r").as[Double].collect()
    assert(out.toSeq == Seq(6.0, 11.0, 16.0, 21.0, 26.0))
  }

  test("$dateAdd / $dateDiff") {
    val one = Seq(1).toDF("x")
    def eval(e: String) =
      one.select(ExprCompiler.compile(Mql.parse(e)).as("r")).head.get(0)
    val d = """{"$date": "2024-03-05T00:00:00Z"}"""
    assert(eval(s"""{"$$dateAdd": {"startDate": $d, "unit": "day", "amount": 10}}""")
      .asInstanceOf[java.sql.Timestamp].toInstant.toString == "2024-03-15T00:00:00Z")
    assert(eval(s"""{"$$dateDiff": {"startDate": {"$$date": "2024-01-01T12:00:00Z"},
      "endDate": {"$$date": "2024-01-03T00:30:00Z"}, "unit": "day"}}""") == 2L)
    assert(eval(s"""{"$$dateDiff": {"startDate": {"$$date": "2024-01-01T00:00:00Z"},
      "endDate": {"$$date": "2024-03-01T00:00:00Z"}, "unit": "month"}}""") == 2L)
    assert(eval(s"""{"$$dateDiff": {"startDate": {"$$date": "2024-01-01T10:59:00Z"},
      "endDate": {"$$date": "2024-01-01T12:01:00Z"}, "unit": "hour"}}""") == 2L)
    // week boundaries follow startOfWeek, DEFAULT SUNDAY (not Spark's
    // Monday): Sat 2024-03-02 → Sun 2024-03-03 crosses one Sunday
    // boundary, but zero Monday boundaries
    assert(eval(s"""{"$$dateDiff": {"startDate": {"$$date": "2024-03-02T00:00:00Z"},
      "endDate": {"$$date": "2024-03-03T00:00:00Z"}, "unit": "week"}}""") == 1L)
    assert(eval(s"""{"$$dateDiff": {"startDate": {"$$date": "2024-03-02T00:00:00Z"},
      "endDate": {"$$date": "2024-03-03T00:00:00Z"}, "unit": "week",
      "startOfWeek": "monday"}}""") == 0L)
    // Sun → Mon under monday crosses one boundary
    assert(eval(s"""{"$$dateDiff": {"startDate": {"$$date": "2024-03-03T00:00:00Z"},
      "endDate": {"$$date": "2024-03-04T00:00:00Z"}, "unit": "week",
      "startOfWeek": "monday"}}""") == 1L)
  }

  test("$dateFromString onError/onNull") {
    val one = Seq(1).toDF("x")
    def eval(e: String) =
      one.select(ExprCompiler.compile(Mql.parse(e)).as("r")).head.get(0)
    def ts(s: String) = java.sql.Timestamp.from(java.time.Instant.parse(s))
    assert(eval("""{"$dateFromString": {"dateString": "2024-03-05T06:07:08Z"}}""")
      == ts("2024-03-05T06:07:08Z"))
    // parse failure: default raises (ANSI), onError substitutes
    assertThrows[Exception](eval(
      """{"$dateFromString": {"dateString": "not a date"}}"""))
    assert(eval("""{"$dateFromString": {"dateString": "not a date",
      "onError": {"$date": "1970-01-02T00:00:00Z"}}}""")
      == ts("1970-01-02T00:00:00Z"))
    // null input is the onNull case — NEVER onError
    assert(eval("""{"$dateFromString": {"dateString": null,
      "onError": {"$date": "1970-01-02T00:00:00Z"}}}""") == null)
    assert(eval("""{"$dateFromString": {"dateString": null,
      "onNull": {"$date": "1999-12-31T00:00:00Z"},
      "onError": {"$date": "1970-01-02T00:00:00Z"}}}""")
      == ts("1999-12-31T00:00:00Z"))
    // format + onError together take the try-parse path
    assert(eval("""{"$dateFromString": {"dateString": "05-03-2024",
      "format": "%d-%m-%Y"}}""") == ts("2024-03-05T00:00:00Z"))
    assert(eval("""{"$dateFromString": {"dateString": "XX-03-2024",
      "format": "%d-%m-%Y", "onError": {"$date": "1970-01-02T00:00:00Z"}}}""")
      == ts("1970-01-02T00:00:00Z"))
  }

  test("$sort before $group makes $first/$last deterministic (min_by/max_by)") {
    val out = PipelineCompiler.run(sales, """[
      {"$sort": {"amt": 1}},
      {"$group": {"_id": "$grp", "cheapest": {"$first": "$id"},
                  "dearest": {"$last": "$id"}}},
      {"$sort": {"_id": 1}}]""")
    assert(out.collect().map(r => (r.getString(0), r.getInt(1), r.getInt(2))).toSeq
      == Seq(("a", 1, 2), ("b", 3, 5)))
    // desc sort flips the mapping
    val desc = PipelineCompiler.run(sales, """[
      {"$sort": {"amt": -1}},
      {"$group": {"_id": "$grp", "top": {"$first": "$id"}}},
      {"$sort": {"_id": 1}}]""")
    assert(desc.collect().map(r => (r.getString(0), r.getInt(1))).toSeq
      == Seq(("a", 2), ("b", 5)))
    // plan is an aggregate, not a window hack
    assert(out.queryExecution.executedPlan.toString.contains("min_by"))
  }

  test("$lookup with uncorrelated pipeline attaches filtered array") {
    val dims = Seq(("a", 1), ("b", 2), ("c", 3)).toDF("code", "rank")
    val out = PipelineCompiler.run(sales, """[
      {"$lookup": {"from": "dims", "as": "d",
        "pipeline": [{"$match": {"rank": {"$lte": 2}}}]}},
      {"$project": {"id": 1, "n": {"$size": "$d"}}}]""",
      _ => dims)
    assert(out.select("n").distinct().head.getInt(0) == 2)
    // correlated form with pipeline pre-filter
    val out2 = PipelineCompiler.run(sales, """[
      {"$lookup": {"from": "dims", "localField": "grp", "foreignField": "code",
        "as": "d", "pipeline": [{"$match": {"rank": {"$gte": 2}}}]}},
      {"$project": {"id": 1, "n": {"$size": "$d"}}},
      {"$sort": {"id": 1}}]""",
      _ => dims)
    assert(out2.select("n").as[Int].collect().toSeq == Seq(0, 0, 1, 1, 1))
  }

  test("$graphLookup walks the hierarchy breadth-first with depth cap") {
    val orgDf = Seq(
      ("ceo", null.asInstanceOf[String]),
      ("vp1", "ceo"), ("vp2", "ceo"),
      ("mgr1", "vp1"), ("eng1", "mgr1"), ("eng2", "mgr1")
    ).toDF("name", "boss")
    val people = Seq(("eng1"), ("vp2")).toDF("who")
    // walk up the management chain from each person
    val out = PipelineCompiler.run(people, """[
      {"$graphLookup": {"from": "org", "startWith": "$who",
        "connectFromField": "boss", "connectToField": "name",
        "as": "chain", "maxDepth": 10, "depthField": "d"}}]""",
      _ => orgDf)
    val chains = out.collect().map { r =>
      r.getString(0) -> r.getSeq[Row](1)
        .map(x => (x.getString(0), x.getLong(2))).sortBy(_._2).toList
    }.toMap
    assert(chains("eng1") == List(("eng1", 0L), ("mgr1", 1L), ("vp1", 2L), ("ceo", 3L)))
    assert(chains("vp2") == List(("vp2", 0L), ("ceo", 1L)))
    // depth cap truncates
    val capped = PipelineCompiler.run(people, """[
      {"$graphLookup": {"from": "org", "startWith": "$who",
        "connectFromField": "boss", "connectToField": "name",
        "as": "chain", "maxDepth": 1}}]""", _ => orgDf)
    assert(capped.where($"who" === "eng1").head.getSeq[Any](1).size == 2)
  }

  test("$topN/$bottomN carry their own deterministic sortBy") {
    val out = PipelineCompiler.run(sales, """[
      {"$group": {"_id": "$grp",
        "top2": {"$topN": {"output": "$id", "sortBy": {"amt": -1}, "n": 2}},
        "bot1": {"$bottom": {"output": "$id", "sortBy": {"amt": -1}}}}},
      {"$sort": {"_id": 1}}]""")
    val rows = out.collect()
    assert(rows.map(_.getSeq[Int](1)).toSeq == Seq(Seq(2, 1), Seq(5, 4)))
    assert(rows.map(_.getInt(2)).toSeq == Seq(1, 3))
  }

  test("$setWindowFields output entry that is not a document is refused by name") {
    val e = intercept[MqlException](PipelineCompiler.run(sales, """[
      {"$setWindowFields": {"sortBy": {"id": 1}, "output": {"bad": 1}}}]"""))
    assert(e.getMessage ==
      "$setWindowFields: output field bad takes a document, got 1", e.getMessage)
  }

  test("$shift looks forward/backward with default") {
    val out = PipelineCompiler.run(sales, """[
      {"$setWindowFields": {"partitionBy": "$grp", "sortBy": {"id": 1},
        "output": {
          "next_amt": {"$shift": {"output": "$amt", "by": 1, "default": -1.0}},
          "prev_amt": {"$shift": {"output": "$amt", "by": -1, "default": -1.0}}}}},
      {"$sort": {"id": 1}}]""")
    assert(out.select("next_amt").as[Double].collect().toSeq
      == Seq(20.0, -1.0, 40.0, 50.0, -1.0))
    assert(out.select("prev_amt").as[Double].collect().toSeq
      == Seq(-1.0, 10.0, -1.0, 30.0, 40.0))
  }

  test("window ops: $addToSet/$first/$last/$stdDevPop/$covariancePop") {
    val out = PipelineCompiler.run(sales, """[
      {"$setWindowFields": {"partitionBy": "$grp", "sortBy": {"id": 1},
        "output": {
          "seen": {"$addToSet": "$grp"},
          "fst": {"$first": "$amt"},
          "lst": {"$last": "$amt"},
          "sd": {"$stdDevPop": "$amt",
                 "window": {"documents": ["unbounded", "unbounded"]}},
          "cv": {"$covariancePop": ["$id", "$amt"],
                 "window": {"documents": ["unbounded", "unbounded"]}}}}},
      {"$sort": {"id": 1}}]""")
    val r = out.where($"id" === 1).head()
    assert(r.getAs[scala.collection.Seq[String]]("seen").toSeq == Seq("a"))
    assert(r.getAs[Double]("fst") == 10.0)
    // Mongo's default window is the WHOLE partition even with sortBy:
    // $last sees the partition's last value, not the current row
    assert(r.getAs[Double]("lst") == 20.0)
    assert(r.getAs[Double]("sd") == 5.0) // pop stddev of {10, 20}
    assert(r.getAs[Double]("cv") == 2.5) // pop covariance of {(1,10),(2,20)}
    val r3 = out.where($"id" === 3).head()
    assert(r3.getAs[Double]("fst") == 30.0)
    assert(r3.getAs[Double]("lst") == 50.0)
    // documents window with unit is rejected
    intercept[MqlException](PipelineCompiler.run(sales, """[
      {"$setWindowFields": {"sortBy": {"id": 1},
        "output": {"x": {"$sum": "$amt",
          "window": {"documents": [-1, 0], "unit": "hour"}}}}}]"""))
  }

  test("$documents replaces the input with literal docs") {
    val out = PipelineCompiler.run(sales, """[
      {"$documents": [{"x": 1, "y": "a"}, {"x": 2, "y": "b"}]},
      {"$match": {"x": {"$gte": 2}}}]""")
    assert(out.columns.toSeq == Seq("x", "y"))
    assert(out.collect().map(r => (r.getInt(0), r.getString(1))).toSeq
      == Seq((2, "b")))
  }

  test("$fill linear interpolates between known points only") {
    val df = Seq(
      (1, Some(10.0)), (2, None), (3, None), (4, Some(40.0)),
      (5, None), // after last known → stays null
      (0, None)  // before first known → stays null
    ).toDF("t", "v")
    val out = PipelineCompiler.run(df, """[
      {"$fill": {"sortBy": {"t": 1}, "output": {"v": {"method": "linear"}}}},
      {"$sort": {"t": 1}}]""")
    val got = out.select("v").collect()
      .map(r => if (r.isNullAt(0)) null else r.getDouble(0)).toSeq
    assert(got == Seq(null, 10.0, 20.0, 30.0, 40.0, null))
    // repeated sortBy values are rejected (Mongo errors; interpolation
    // would be ill-defined)
    val dup = Seq((1, Some(1.0)), (1, None)).toDF("t", "v")
    intercept[Exception] {
      PipelineCompiler.run(dup, """[
        {"$fill": {"sortBy": {"t": 1}, "output": {"v": {"method": "linear"}}}}]""")
        .collect()
    }
  }

  test("$median accepts Mongo's {input, method} document form") {
    val out = PipelineCompiler.run(sales, """[
      {"$group": {"_id": null,
        "m": {"$median": {"input": "$amt", "method": "approximate"}}}}]""")
    assert(out.head.getDouble(1) == 30.0)
  }

  test("$documents: only first stage; empty array yields zero docs") {
    intercept[MqlException](PipelineCompiler.run(sales, """[
      {"$match": {}}, {"$documents": [{"x": 1}]}]"""))
    assert(PipelineCompiler.run(sales, """[{"$documents": []}]""").count() == 0)
  }

  test("$expMovingAvg follows the Mongo recurrence") {
    val out = PipelineCompiler.run(sales, """[
      {"$setWindowFields": {"partitionBy": "$grp", "sortBy": {"id": 1},
        "output": {"ema": {"$expMovingAvg": {"input": "$amt", "alpha": 0.5}}}}},
      {"$sort": {"id": 1}}]""")
    val got = out.select("ema").as[Double].collect().toSeq
    // grp a: 10; .5*20+.5*10=15 | grp b: 30; .5*40+.5*30=35; .5*50+.5*35=42.5
    assert(got == Seq(10.0, 15.0, 30.0, 35.0, 42.5))
    // N form: alpha = 2/(N+1)
    val n3 = PipelineCompiler.run(sales, """[
      {"$setWindowFields": {"partitionBy": "$grp", "sortBy": {"id": 1},
        "output": {"ema": {"$expMovingAvg": {"input": "$amt", "N": 3}}}}},
      {"$sort": {"id": 1}}]""").select("ema").as[Double].collect()
    assert(math.abs(n3(1) - (0.5 * 20 + 0.5 * 10)) < 1e-9)
    // null handling: leading nulls leave the buffer null, a null after
    // a value poisons it, the next non-null value restarts
    val withNulls = Seq(
      (1, "g", None: Option[Double]), (2, "g", Some(8.0)),
      (3, "g", None: Option[Double]), (4, "g", Some(6.0))
    ).toDF("id", "grp", "amt")
    val nOut = PipelineCompiler.run(withNulls, """[
      {"$setWindowFields": {"partitionBy": "$grp", "sortBy": {"id": 1},
        "output": {"ema": {"$expMovingAvg": {"input": "$amt", "alpha": 0.5}}}}},
      {"$sort": {"id": 1}}]""").select("ema").collect()
      .map(r => if (r.isNullAt(0)) null else r.getDouble(0))
    assert(nOut.toSeq == Seq(null, 8.0, null, 6.0))
    // long-history sanity: the recurrence is one pass per partition —
    // 50k rows in one partition completes in seconds, not the minutes
    // the old per-row prefix fold would take
    val big = (1 to 50000).map(i => (i, "g", i.toDouble)).toDF("id", "grp", "amt")
    val t0 = System.nanoTime()
    val last = PipelineCompiler.run(big, """[
      {"$setWindowFields": {"partitionBy": "$grp", "sortBy": {"id": 1},
        "output": {"ema": {"$expMovingAvg": {"input": "$amt", "alpha": 0.1}}}}},
      {"$sort": {"id": -1}}, {"$limit": 1}]""")
      .select("ema").as[Double].collect().head
    assert((System.nanoTime() - t0) / 1e9 < 30.0)
    // steady state: ema of a +1 ramp converges to x - (1-a)/a = x - 9
    assert(math.abs(last - (50000 - 9)) < 1e-6)
  }

  test("$setWindowFields time-range window (unit) scales bounds to the sort field") {
    val ts = java.sql.Timestamp.valueOf(_: String)
    val df = Seq(
      (1, "u", ts("2024-01-01 10:00:00"), 1.0),
      (2, "u", ts("2024-01-01 10:30:00"), 2.0),
      (3, "u", ts("2024-01-01 11:15:00"), 4.0),
      (4, "u", ts("2024-01-01 13:00:00"), 8.0)
    ).toDF("id", "grp", "t", "v")
    val out = PipelineCompiler.run(df, """[
      {"$setWindowFields": {"partitionBy": "$grp", "sortBy": {"t": 1},
        "output": {"hr_sum": {"$sum": "$v",
          "window": {"range": [-1, 0], "unit": "hour"}}}}},
      {"$sort": {"id": 1}}]""")
    // trailing 1h (inclusive): 1 | 1+2 | 2+4 (10:30 within 1h of 11:15) | 8
    assert(out.select("hr_sum").as[Double].collect().toSeq
      == Seq(1.0, 3.0, 6.0, 8.0))
  }

  test("$topN supports mixed sort directions (comparator path)") {
    val df = Seq((1, "a", 10.0), (2, "a", 10.0), (3, "a", 5.0), (4, "b", 1.0))
      .toDF("id", "grp", "amt")
    // amt desc, id asc: group a → amt 10 ties broken by id asc → [1, 2]
    val out = PipelineCompiler.run(df, """[
      {"$group": {"_id": "$grp",
        "top2": {"$topN": {"output": "$id",
                 "sortBy": {"amt": -1, "id": 1}, "n": 2}}}},
      {"$sort": {"_id": 1}}]""")
    assert(out.collect().map(_.getSeq[Int](1)).toSeq == Seq(Seq(1, 2), Seq(4)))
    // bottomN keeps sortBy order and takes the tail slice
    val bot = PipelineCompiler.run(df, """[
      {"$group": {"_id": "$grp",
        "bot2": {"$bottomN": {"output": "$id",
                 "sortBy": {"amt": -1, "id": 1}, "n": 2}}}},
      {"$sort": {"_id": 1}}]""")
    assert(bot.collect().map(_.getSeq[Int](1)).toSeq == Seq(Seq(2, 3), Seq(4)))
  }

  test("$shift default applies only outside partition bounds, not on stored nulls") {
    val withNull = Seq((1, "a", Some(10.0)), (2, "a", None), (3, "a", Some(30.0)))
      .toDF("id", "grp", "amt")
    val out = PipelineCompiler.run(withNull, """[
      {"$setWindowFields": {"partitionBy": "$grp", "sortBy": {"id": 1},
        "output": {
          "next_amt": {"$shift": {"output": "$amt", "by": 1, "default": -1.0}}}}},
      {"$sort": {"id": 1}}]""")
    // id=1 shifts onto the stored null (stays null); id=3 falls off the end (default)
    assert(out.select("next_amt").collect().map(r =>
      if (r.isNullAt(0)) null else r.getDouble(0)).toSeq == Seq(null, 30.0, -1.0))
  }

  test("review regressions: _id:0-only projection, bottomN order, null-safe lookup") {
    // {"_id": 0} alone keeps all other fields
    val withId = sales.withColumnRenamed("id", "_id")
    val out = PipelineCompiler.run(withId, """[{"$project": {"_id": 0}}]""")
    assert(out.columns.toSeq == Seq("grp", "amt"))
    // $bottomN preserves sortBy order (ascending: [3,4] not [4,3])
    val b = PipelineCompiler.run(sales, """[
      {"$group": {"_id": "$grp",
        "bot2": {"$bottomN": {"output": "$id", "sortBy": {"amt": 1}, "n": 2}}}},
      {"$sort": {"_id": 1}}]""")
    assert(b.collect().map(_.getSeq[Int](1)).toSeq == Seq(Seq(1, 2), Seq(4, 5)))
    // null localField matches null foreignField (Mongo semantics)
    val left = Seq((1, Some("a")), (2, None)).toDF("id", "k")
    val right = Seq((Some("a"), 10), (None, 20)).toDF("k2", "v")
    val j = PipelineCompiler.run(left,
      """[{"$lookup": {"from": "r", "localField": "k", "foreignField": "k2",
                       "as": "m"}}]""", _ => right)
    val sizes = j.selectExpr("id", "size(m)").collect()
      .map(r => (r.getInt(0), r.getInt(1))).toMap
    assert(sizes == Map(1 -> 1, 2 -> 1)) // null key row matched too
  }

  test("review regressions: $week Sunday-zero-based, $dateToString default, $avg empty") {
    val one = Seq(1).toDF("x")
    def eval(e: String) =
      one.select(ExprCompiler.compile(Mql.parse(e)).as("r")).head.get(0)
    // 2026-01-01 is a Thursday → Mongo week 0
    assert(eval("""{"$week": {"$date": "2026-01-01T00:00:00Z"}}""") == 0)
    // first Sunday of 2026 is Jan 4 → week 1
    assert(eval("""{"$week": {"$date": "2026-01-04T00:00:00Z"}}""") == 1)
    assert(eval("""{"$dateToString": {"date": {"$date": "2024-03-05T06:07:08.120Z"}}}""")
      == "2024-03-05T06:07:08.120Z")
    assert(eval("""{"$avg": [[]]}""") == null)
    assert(eval("""{"$setIntersection": [[1, 2], [2, 3]]}""") == Seq(2))
  }

  test("$firstN/$lastN keep document order and stored nulls") {
    val withNull = Seq((1, "a", Some(10.0)), (2, "a", None), (3, "a", Some(30.0)),
      (4, "a", Some(40.0)), (5, "b", Some(50.0)))
      .toDF("id", "grp", "amt")
    val out = PipelineCompiler.run(withNull, """[
      {"$sort": {"id": 1}},
      {"$group": {"_id": "$grp",
        "f2": {"$firstN": {"input": "$amt", "n": 2}},
        "l2": {"$lastN": {"input": "$amt", "n": 2}}}},
      {"$sort": {"_id": 1}}]""")
    val rows = out.collect()
    def arr(r: org.apache.spark.sql.Row, i: Int) =
      r.getSeq[Any](i).map(x => if (x == null) null else x).toList
    // group a sorted by id: amts [10, null, 30, 40] → first 2 keeps the null
    assert(arr(rows(0), 1) == List(10.0, null))
    assert(arr(rows(0), 2) == List(30.0, 40.0))
    // group b has fewer than n values
    assert(arr(rows(1), 1) == List(50.0))
    assert(arr(rows(1), 2) == List(50.0))
    // desc sort flips which end is "first"
    val desc = PipelineCompiler.run(withNull, """[
      {"$sort": {"id": -1}},
      {"$group": {"_id": "$grp", "f2": {"$firstN": {"input": "$amt", "n": 2}}}},
      {"$sort": {"_id": 1}}]""")
    assert(arr(desc.collect()(0), 1) == List(40.0, 30.0))
  }

  test("$percentRank/$derivative/$integral window operators") {
    val ts = java.sql.Timestamp.valueOf(_: String)
    val df = Seq(
      (1, "u", ts("2024-01-01 10:00:00"), 0.0),
      (2, "u", ts("2024-01-01 11:00:00"), 10.0),
      (3, "u", ts("2024-01-01 13:00:00"), 30.0)
    ).toDF("id", "grp", "t", "v")
    val out = PipelineCompiler.run(df, """[
      {"$setWindowFields": {"partitionBy": "$grp", "sortBy": {"t": 1},
        "output": {
          "pr": {"$percentRank": {}},
          "dv": {"$derivative": {"input": "$v", "unit": "hour"},
                 "window": {"documents": [-1, 0]}},
          "ar": {"$integral": {"input": "$v", "unit": "hour"},
                 "window": {"documents": ["unbounded", "current"]}}}}},
      {"$sort": {"id": 1}}]""")
    val rows = out.orderBy("id").collect()
    def d(i: Int, c: String) = rows(i).getAs[Double](c)
    assert(d(0, "pr") == 0.0 && d(1, "pr") == 0.5 && d(2, "pr") == 1.0)
    // derivative over trailing pair: Δv/Δt(h) → (10-0)/1, (30-10)/2
    assert(d(1, "dv") == 10.0 && d(2, "dv") == 10.0)
    // trapezoid areas: 0 | (0+10)/2*1 = 5 | 5 + (10+30)/2*2 = 45
    assert(d(0, "ar") == 0.0 && d(1, "ar") == 5.0 && d(2, "ar") == 45.0)
  }

  test("$integral null poisoning and bounded frames") {
    val ts = java.sql.Timestamp.valueOf(_: String)
    val df = Seq(
      (1, "u", ts("2024-01-01 10:00:00"), Some(0.0)),
      (2, "u", ts("2024-01-01 11:00:00"), None: Option[Double]),
      (3, "u", ts("2024-01-01 12:00:00"), Some(20.0)),
      (4, "u", ts("2024-01-01 13:00:00"), Some(40.0))
    ).toDF("id", "grp", "t", "v")
    val out = PipelineCompiler.run(df, """[
      {"$setWindowFields": {"partitionBy": "$grp", "sortBy": {"t": 1},
        "output": {
          "run": {"$integral": {"input": "$v", "unit": "hour"},
                  "window": {"documents": ["unbounded", "current"]}},
          "tail": {"$integral": {"input": "$v", "unit": "hour"},
                   "window": {"documents": [-1, 0]}}}}},
      {"$sort": {"id": 1}}]""")
    val rows = out.orderBy("id").collect()
    def g(i: Int, c: String): Any =
      if (rows(i).isNullAt(rows(i).fieldIndex(c))) null
      else rows(i).getAs[Double](c)
    // running: first point alone → 0; any frame containing the null
    // pair → null (the fold's poisoning, preserved by decomposition)
    assert(g(0, "run") == 0.0)
    assert(g(1, "run") == null && g(2, "run") == null && g(3, "run") == null)
    // trailing 2-point frame: frames touching the null point are null,
    // the clean pair (20,40) integrates to 30; single-point frame at
    // the partition head is 0 even though its predecessor is absent
    assert(g(0, "tail") == 0.0)
    assert(g(1, "tail") == null && g(2, "tail") == null)
    assert(g(3, "tail") == 30.0)
  }

  test("$minN / $maxN accumulators") {
    val out = PipelineCompiler.run(sales, """[
      {"$group": {"_id": "$grp",
        "lo2": {"$minN": {"input": "$amt", "n": 2}},
        "hi2": {"$maxN": {"input": "$amt", "n": 2}}}},
      {"$sort": {"_id": 1}}]""")
    val rows = out.collect()
    assert(rows.map(_.getSeq[Double](1)).toSeq == Seq(Seq(10.0, 20.0), Seq(30.0, 40.0)))
    assert(rows.map(_.getSeq[Double](2)).toSeq == Seq(Seq(20.0, 10.0), Seq(50.0, 40.0)))
    // nulls are ignored, not sorted in (Mongo $minN/$maxN semantics)
    val withNull = Seq((1, "a", Some(5.0)), (2, "a", None), (3, "a", Some(1.0)))
      .toDF("id", "grp", "amt")
    val nn = PipelineCompiler.run(withNull, """[
      {"$group": {"_id": "$grp", "lo2": {"$minN": {"input": "$amt", "n": 2}}}}]""")
    assert(nn.head.getSeq[Double](1) == Seq(1.0, 5.0))
  }

  test("$locf and $linearFill window operators") {
    val ts = Seq(
      (1L, "g", Some(10.0)), (2L, "g", None), (3L, "g", None),
      (4L, "g", Some(40.0)), (5L, "g", None),
      (1L, "h", None), (2L, "h", Some(7.0))
    ).toDF("t", "grp", "v")
    val out = PipelineCompiler.run(ts, """[
      {"$setWindowFields": {"partitionBy": "$grp", "sortBy": {"t": 1},
         "output": {"lo": {"$locf": "$v"}, "li": {"$linearFill": "$v"}}}},
      {"$sort": {"grp": 1, "t": 1}}]""")
      .select("grp", "t", "lo", "li")
      .as[(String, Long, Option[Double], Option[Double])].collect().toSeq
    assert(out == Seq(
      ("g", 1L, Some(10.0), Some(10.0)),
      ("g", 2L, Some(10.0), Some(20.0)),  // interpolated on t axis
      ("g", 3L, Some(10.0), Some(30.0)),
      ("g", 4L, Some(40.0), Some(40.0)),
      ("g", 5L, Some(40.0), None),        // after last known → null
      ("h", 1L, None, None),              // before first known → null
      ("h", 2L, Some(7.0), Some(7.0))))
  }

  test("$linearFill window op rejects repeated sortBy values at a gap") {
    // Mongo errors on repeated sortBy values for $linearFill; a zero Δs
    // would otherwise emit NaN/Infinity silently
    // both known neighbors of the null share sortBy value 1 → Δs = 0
    val dup = Seq((1L, "g", Some(1.0)), (1L, "g", None), (1L, "g", Some(3.0)))
      .toDF("t", "grp", "v")
    val ex = intercept[Exception] {
      PipelineCompiler.run(dup, """[
        {"$setWindowFields": {"partitionBy": "$grp", "sortBy": {"t": 1},
           "output": {"li": {"$linearFill": "$v"}}}}]""").collect()
    }
    assert(ex.getMessage.contains("$linearFill") ||
      Option(ex.getCause).exists(_.getMessage.contains("$linearFill")))
  }

  test("$graphLookup follows array fields in all three positions") {
    val nodes = Seq(
      ("root", Seq("a", "b")),
      ("a", Seq("c")),
      ("b", Seq.empty[String]),
      ("c", Seq.empty[String]),
      ("z", Seq("root"))).toDF("name", "children")
    val resolver: String => org.apache.spark.sql.DataFrame = {
      case "g" => nodes
      case o => fail(s"unexpected table $o")
    }
    def names(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().head.getSeq[org.apache.spark.sql.Row](1)
        .map(_.getAs[String]("name")).sorted
    // descendants: array connectFromField fans the frontier out
    val down = PipelineCompiler.run(Seq((1L, "root")).toDF("id", "top"), """[
      {"$graphLookup": {"from": "g", "startWith": "$top",
         "connectFromField": "children", "connectToField": "name",
         "as": "m", "maxDepth": 5}},
      {"$project": {"id": 1, "m": 1}}]""", resolver)
    assert(names(down) == Seq("a", "b", "c", "root"))
    // ancestors: array connectToField matches any element
    val up = PipelineCompiler.run(Seq((1L, "c")).toDF("id", "leaf"), """[
      {"$graphLookup": {"from": "g", "startWith": "$leaf",
         "connectFromField": "name", "connectToField": "children",
         "as": "m", "maxDepth": 5}},
      {"$project": {"id": 1, "m": 1}}]""", resolver)
    assert(names(up) == Seq("a", "root", "z"))
    // array startWith seeds one frontier entry per element
    val multi = PipelineCompiler.run(
      Seq((1L, Seq("b", "c"))).toDF("id", "tops"), """[
      {"$graphLookup": {"from": "g", "startWith": "$tops",
         "connectFromField": "children", "connectToField": "name",
         "as": "m", "maxDepth": 0}},
      {"$project": {"id": 1, "m": 1}}]""", resolver)
    assert(names(multi) == Seq("b", "c"))
  }

  test("$lookup with an ARRAY localField matches any element, once per doc") {
    val left = Seq(
      (1L, Seq(10L, 20L)),          // two elements, two distinct fk groups
      (2L, Seq(10L, 10L)),          // duplicate elements: docs appear once
      (3L, Seq(99L)),               // no match
      (4L, Seq.empty[Long]),        // empty array ~ null scalar
      (5L, null.asInstanceOf[Seq[Long]])
    ).toDF("id", "keys")
    val right = Seq((10L, "a"), (10L, "b"), (20L, "c"), (30L, "d"))
      .toDF("fk", "tag")
    val resolver: String => org.apache.spark.sql.DataFrame = {
      case "r" => right
      case o => fail(s"unexpected table $o")
    }
    val out = PipelineCompiler.run(left, """[
      {"$lookup": {"from": "r", "as": "m", "localField": "keys",
         "foreignField": "fk"}},
      {"$project": {"id": 1, "n": {"$size": "$m"},
        "tags": {"$sortArray": {"input":
          {"$map": {"input": "$m", "in": "$$this.tag"}}, "sortBy": 1}}}},
      {"$sort": {"id": 1}}]""", resolver)
    val got = out.collect().map(r =>
      (r.getLong(0), r.getInt(1), r.getSeq[String](2))).toSeq
    assert(got == Seq(
      (1L, 3, Seq("a", "b", "c")),
      (2L, 2, Seq("a", "b")),
      (3L, 0, Seq.empty),
      (4L, 0, Seq.empty),
      (5L, 0, Seq.empty)))

    // ARRAY foreignField: scalar local matches any element of the
    // foreign array; both-arrays matches on any common element, docs
    // deduped even when two elements hit the same doc
    val rightArr = Seq(
      (Seq(10L, 20L), "a"), (Seq(20L), "b"), (Seq(30L, 30L), "c"))
      .toDF("fks", "tag")
    val resolver2: String => org.apache.spark.sql.DataFrame = {
      case "ra" => rightArr
      case o => fail(s"unexpected table $o")
    }
    val scalarLeft = Seq((1L, 20L), (2L, 30L), (3L, 99L)).toDF("id", "k")
    val g2 = PipelineCompiler.run(scalarLeft, """[
      {"$lookup": {"from": "ra", "as": "m", "localField": "k",
         "foreignField": "fks"}},
      {"$project": {"id": 1, "tags": {"$sortArray": {"input":
        {"$map": {"input": "$m", "in": "$$this.tag"}}, "sortBy": 1}}}},
      {"$sort": {"id": 1}}]""", resolver2)
      .collect().map(r => (r.getLong(0), r.getSeq[String](1))).toSeq
    assert(g2 == Seq((1L, Seq("a", "b")), (2L, Seq("c")), (3L, Seq.empty)))
    val bothLeft = Seq((1L, Seq(10L, 20L))).toDF("id", "keys")
    val g3 = PipelineCompiler.run(bothLeft, """[
      {"$lookup": {"from": "ra", "as": "m", "localField": "keys",
         "foreignField": "fks"}},
      {"$project": {"id": 1, "tags": {"$sortArray": {"input":
        {"$map": {"input": "$m", "in": "$$this.tag"}}, "sortBy": 1}}}}]""", resolver2)
      .collect().map(r => (r.getLong(0), r.getSeq[String](1))).toSeq
    // doc "a" matched via BOTH 10 and 20 → appears once
    assert(g3 == Seq((1L, Seq("a", "b"))))
  }

  test("$lookup let + $expr: correlated join with prefix stage and empty match") {
    val left = Seq((1L, 10.0), (2L, 35.0), (3L, 99.0)).toDF("id", "lim")
    val right = Seq((1L, 5.0, "x"), (1L, 20.0, "y"), (2L, 30.0, "z"),
      (2L, 40.0, "w")).toDF("fk", "amt", "tag")
    val resolver: String => org.apache.spark.sql.DataFrame = {
      case "r" => right
      case o => fail(s"unexpected table $o")
    }
    val out = PipelineCompiler.run(left, """[
      {"$lookup": {"from": "r", "as": "m",
        "let": {"lid": "$id", "cap": "$lim"},
        "pipeline": [
          {"$match": {"amt": {"$gt": 0}}},
          {"$match": {"$expr": {"$and": [
            {"$eq": ["$fk", "$$lid"]},
            {"$lt": ["$amt", "$$cap"]}]}}}]}},
      {"$project": {"id": 1, "n": {"$size": "$m"}}},
      {"$sort": {"id": 1}}]""", resolver)
    assert(out.as[(Long, Int)].collect().toSeq
      == Seq((1L, 1), (2L, 1), (3L, 0))) // 3 matches nothing → empty array
    // suffix stages after the correlated $match: array-op compilation
    // ($sort comparator, $limit slice, $project element rebuild)
    val suf = PipelineCompiler.run(left, """[
      {"$lookup": {"from": "r", "as": "m", "let": {"lid": "$id"},
        "pipeline": [
          {"$match": {"$expr": {"$eq": ["$fk", "$$lid"]}}},
          {"$sort": {"amt": -1}},
          {"$limit": 1},
          {"$project": {"tag": 1}}]}},
      {"$project": {"id": 1,
        "t": {"$ifNull": [{"$arrayElemAt": ["$m.tag", 0]}, "-"]}}},
      {"$sort": {"id": 1}}]""", resolver)
    assert(suf.as[(Long, String)].collect().toSeq
      == Seq((1L, "y"), (2L, "w"), (3L, "-"))) // highest amt's tag
    // $unset suffix drops a field from the match elements
    val uns = PipelineCompiler.run(left, """[
      {"$lookup": {"from": "r", "as": "m", "let": {"lid": "$id"},
        "pipeline": [
          {"$match": {"$expr": {"$eq": ["$fk", "$$lid"]}}},
          {"$unset": ["fk", "amt"]}]}},
      {"$sort": {"id": 1}}]""", resolver)
    assert(uns.schema("m").dataType.asInstanceOf[
      org.apache.spark.sql.types.ArrayType].elementType
      .asInstanceOf[org.apache.spark.sql.types.StructType]
      .fieldNames.toSeq == Seq("tag"))
    // per-row pipeline shapes stay rejected: $group suffix, $$vars past
    // the join stage
    intercept[MqlException](PipelineCompiler.run(left, """[
      {"$lookup": {"from": "r", "as": "m", "let": {"lid": "$id"},
        "pipeline": [
          {"$match": {"$expr": {"$eq": ["$fk", "$$lid"]}}},
          {"$group": {"_id": null, "n": {"$count": {}}}}]}}]""", resolver))
    intercept[MqlException](PipelineCompiler.run(left, """[
      {"$lookup": {"from": "r", "as": "m", "let": {"lid": "$id"},
        "pipeline": [
          {"$match": {"$expr": {"$eq": ["$fk", "$$lid"]}}},
          {"$addFields": {"z": "$$lid"}}]}}]""", resolver))
  }

  test("$arrayElemAt out of range yields missing (null), not an ANSI error") {
    val df = Seq((1L, Seq("a", "b"))).toDF("id", "xs")
    val out = PipelineCompiler.run(df, """[
      {"$project": {"id": 1,
        "oob":  {"$arrayElemAt": ["$xs", 9]},
        "neg":  {"$arrayElemAt": ["$xs", -9]},
        "f":    {"$first": [[]]},
        "l":    {"$last": [[]]}}}]""")
    val r = out.collect().head
    assert(r.isNullAt(1) && r.isNullAt(2) && r.isNullAt(3) && r.isNullAt(4))
  }

  test("$median/$percentile accept explicit documents windows") {
    val out = PipelineCompiler.run(sales, """[
      {"$setWindowFields": {"partitionBy": "$grp", "sortBy": {"id": 1},
         "output": {
           "m3": {"$median": {"input": "$amt", "method": "approximate"},
                  "window": {"documents": [-1, 0]}},
           "p":  {"$percentile": {"input": "$amt", "p": [0.5],
                                  "method": "approximate"},
                  "window": {"documents": ["unbounded", "current"]}}}}},
      {"$sort": {"id": 1}}]""")
    // sales: grp a → amts 10,20 by id; grp b → 30,40,50
    assert(out.select("m3").as[Double].collect().toSeq
      == Seq(10.0, 15.0, 30.0, 35.0, 45.0))
    assert(out.select("p").collect().map(_.getSeq[Double](0).head).toSeq
      == Seq(10.0, 15.0, 30.0, 35.0, 40.0))
  }

  test("$vectorSearch: exact scoring, pre-filter, $meta projection") {
    val vecs = Seq(
      (1L, Seq(1.0, 0.0)), (2L, Seq(0.8, 0.6)), (3L, Seq(0.0, 1.0)),
      (4L, Seq(-1.0, 0.0)), (5L, Seq(1.0, 0.1))
    ).toDF("id", "v")
    val out = PipelineCompiler.run(vecs, """[
      {"$vectorSearch": {"path": "v", "queryVector": [1.0, 0.0],
        "limit": 3, "exact": true, "tieBreaker": "id",
        "filter": {"id": {"$ne": 5}}}},
      {"$project": {"id": 1, "score": {"$meta": "vectorSearchScore"}}},
      {"$sort": {"score": -1, "id": 1}}]""")
      .as[(Long, Double)].collect().toSeq
    def s(cos: Double) = math.rint((cos + 1) / 2 * 1e6) / 1e6
    // id 5 filtered out pre-scoring; top-3 by cosine: 1 (1.0), 2 (0.8), 3 (0)
    assert(out == Seq((1L, s(1.0)), (2L, s(0.8)), (3L, s(0.0))))
  }

  test("$vectorSearch ANN path scores a probed subset identically") {
    val vecs = (1L to 40L).map(i =>
      (i, Seq(math.cos(i.toDouble), math.sin(i.toDouble)))).toDF("id", "v")
    val exact = PipelineCompiler.run(vecs, """[
      {"$vectorSearch": {"path": "v", "queryVector": [1.0, 0.0],
        "limit": 40, "exact": true, "tieBreaker": "id"}}]""")
      .select("id", "vectorSearchScore").as[(Long, Double)].collect().toMap
    val ann = PipelineCompiler.run(vecs, """[
      {"$vectorSearch": {"path": "v", "queryVector": [1.0, 0.0],
        "limit": 5, "nCells": 4, "numCandidates": 10,
        "tieBreaker": "id"}}]""")
      .select("id", "vectorSearchScore").as[(Long, Double)].collect()
    assert(ann.nonEmpty && ann.length <= 5)
    // probing narrows WHICH rows are scored, never the score
    ann.foreach { case (id, sc) => assert(exact(id) == sc, s"score drift id=$id") }
    // required fields are enforced
    intercept[MqlException](PipelineCompiler.run(vecs,
      """[{"$vectorSearch": {"path": "v", "limit": 3}}]"""))
  }

  test("$redact: level-wise prune/descend/keep over nested structs") {
    val docs = Seq(
      (1L, 1, Some((5, "secret-a", Some((1, "note-a"))))),
      (2L, 5, Some((1, "open-b", Some((1, "note-b"))))),
      (3L, 1, Some((2, "open-c", Some((5, "secret-c"))))),
      (4L, 1, None)
    ).toDF("id", "level", "detail")
      .withColumn("detail", org.apache.spark.sql.functions.col("detail").cast(
        "struct<level:int, body:string, inner:struct<level:int, note:string>>"))
    val cond = """{"$cond": [{"$lte": ["$level", 3]}, "$$DESCEND", "$$PRUNE"]}"""
    val out = PipelineCompiler.run(docs, s"""[
      {"$$redact": $cond}, {"$$sort": {"id": 1}}]""")
    val rows = out.select("id", "detail.body", "detail.inner.note")
      .as[(Long, Option[String], Option[String])].collect().toSeq
    // doc 2 pruned at root; doc 1's detail pruned (level 5); doc 3
    // descends into detail but prunes inner (level 5); doc 4's null
    // detail passes through
    assert(rows == Seq(
      (1L, None, None), (3L, Some("open-c"), None), (4L, None, None)))

    // $$KEEP freezes the subtree even where a deeper level would prune
    val keepCond = """{"$cond": [{"$lte": ["$level", 3]}, "$$KEEP", "$$PRUNE"]}"""
    val kept = PipelineCompiler.run(docs, s"""[
      {"$$redact": $keepCond}, {"$$sort": {"id": 1}}]""")
      .select("id", "detail.body").as[(Long, Option[String])].collect().toSeq
    assert(kept == Seq((1L, Some("secret-a")), (3L, Some("open-c")), (4L, None)))

    // arrays of documents redact element-wise: pruned elements drop,
    // surviving elements descend into their own subdocs
    val withArr = Seq(
      (1L, 1, Seq((1, "a1"), (5, "a2"), (2, "a3"))),
      (2L, 1, Seq.empty[(Int, String)])
    ).toDF("id", "level", "items")
      .withColumn("items", org.apache.spark.sql.functions.col("items")
        .cast("array<struct<level:int, tag:string>>"))
    val arrOut = PipelineCompiler.run(withArr, s"""[
      {"$$redact": $cond}, {"$$sort": {"id": 1}}]""")
      .select("id", "items.tag")
      .as[(Long, Seq[String])].collect().toSeq
    assert(arrOut == Seq((1L, Seq("a1", "a3")), (2L, Seq.empty)))

    // a non-decision result raises
    val bad = intercept[Exception](PipelineCompiler.run(docs,
      """[{"$redact": "$level"}]""").collect())
    val chain = Iterator.iterate[Throwable](bad)(_.getCause)
      .takeWhile(_ != null).take(8)
      .flatMap(t => Option(t.getMessage)).mkString(" | ")
    assert(chain.contains("$redact"), s"unexpected error chain: $chain")
  }

  test("$rankFusion: weighted RRF over ranked sub-pipelines") {
    val docs = Seq(
      (1L, "spark spark fast", 10),
      (2L, "slow database", 30),
      (3L, "spark", 20)
    ).toDF("id", "text", "views")
    val out = PipelineCompiler.run(docs, """[
      {"$rankFusion": {
        "idField": "id",
        "input": {"pipelines": {
          "lexical": [{"$search": {"text": {"query": "spark", "path": "text"},
                       "limit": 5, "tieBreaker": "id"}}],
          "popular": [{"$sort": {"views": -1, "id": 1}}, {"$limit": 2}]}},
        "combination": {"weights": {"lexical": 2}}}},
      {"$project": {"id": 1, "score": {"$meta": "score"}}}]""")
      .as[(Long, Double)].collect().toSeq
    // lexical ranks (bm25): 3 then 1 (length norm); popular: 2 then 3.
    // fused: id3 = 2/61+1/62, id1 = 2/62, id2 = 1/61
    def r(x: Double) = math.rint(x * 1e6) / 1e6
    assert(out == Seq(
      (3L, r(2.0 / 61 + 1.0 / 62)), (1L, r(2.0 / 62)), (2L, r(1.0 / 61))))

    // a sub-pipeline without a ranking tail is rejected
    intercept[MqlException](PipelineCompiler.run(docs, """[
      {"$rankFusion": {"idField": "id", "input": {"pipelines": {
        "bad": [{"$match": {"views": {"$gt": 0}}}]}}}}]"""))
    // unknown weight name is rejected
    intercept[MqlException](PipelineCompiler.run(docs, """[
      {"$rankFusion": {"idField": "id",
        "input": {"pipelines": {"a": [{"$sort": {"id": 1}},
                                      {"$limit": 5}]}},
        "combination": {"weights": {"zzz": 1}}}}]"""))
    // an UNBOUNDED $sort-ranked sub-pipeline is rejected: its rank is
    // one global window, which would funnel the whole collection
    // through a single task at scale
    val unbounded = intercept[MqlException](PipelineCompiler.run(docs, """[
      {"$rankFusion": {"idField": "id", "input": {"pipelines": {
        "all": [{"$sort": {"views": -1, "id": 1}}]}}}}]"""))
    assert(unbounded.getMessage.contains("bounding $limit"))
    // same for a limit-less $search sub-pipeline
    intercept[MqlException](PipelineCompiler.run(docs, """[
      {"$rankFusion": {"idField": "id", "input": {"pipelines": {
        "lex": [{"$search": {"text": {"query": "spark", "path": "text"},
                 "tieBreaker": "id"}}]}}}}]"""))
    // an input that already carries a `score` field is refused rather
    // than silently shadowed
    intercept[MqlException](PipelineCompiler.run(
      docs.withColumnRenamed("views", "score"), """[
      {"$rankFusion": {"idField": "id", "input": {"pipelines": {
        "s": [{"$sort": {"score": -1, "id": 1}}, {"$limit": 2}]}}}}]"""))
  }

  test("$rankFusion scoreDetails: per-pipeline rank/weight/contribution") {
    val docs = Seq(
      (1L, "spark spark fast", 10),
      (2L, "slow database", 30),
      (3L, "spark", 20)
    ).toDF("id", "text", "views")
    val out = PipelineCompiler.run(docs, """[
      {"$rankFusion": {
        "idField": "id", "scoreDetails": true,
        "input": {"pipelines": {
          "lexical": [{"$search": {"text": {"query": "spark", "path": "text"},
                       "limit": 5, "tieBreaker": "id"}}],
          "popular": [{"$sort": {"views": -1, "id": 1}}, {"$limit": 2}]}},
        "combination": {"weights": {"lexical": 2}}}},
      {"$project": {"id": 1, "score": {"$meta": "score"},
        "details": "$scoreDetails.details"}}]""")
    val rows = out.selectExpr("id", "score",
        "transform(details, d -> struct(d.inputPipelineName, d.rank, d.weight))")
      .as[(Long, Double, Seq[(String, Long, Double)])].collect()
      .map(r => r._1 -> r._3).toMap
    // doc 3: lexical rank 1 (weight 2) + popular rank 2 (weight 1)
    assert(rows(3L) == Seq(("lexical", 1L, 2.0), ("popular", 2L, 1.0)))
    // doc 1: lexical rank 2 only
    assert(rows(1L) == Seq(("lexical", 2L, 2.0)))
    // doc 2: popular rank 1 only
    assert(rows(2L) == Seq(("popular", 1L, 1.0)))
    // the struct's value field sums to the fused score
    val sums = out.selectExpr("id", "score",
      "round(aggregate(details, 0.0d, (a, d) -> a + d.value), 6) AS s")
      .where("score <> s").count()
    assert(sums == 0L)
  }

  test("$search phrase slop: in-order subsequence within stretched span") {
    val docs = Seq(
      (1L, "spark runs fast queries"), (2L, "spark very fast"), (3L, "fast spark")
    ).toDF("id", "text")
    def r6(x: Double) = math.rint(x * 1e6) / 1e6
    // slop 0: no doc has the consecutive phrase
    val strict = PipelineCompiler.run(docs, """[
      {"$search": {"phrase": {"query": "spark fast", "path": "text"}}}]""")
      .count()
    assert(strict == 0L)
    // slop 1: docs 1 and 2 fit (span 2 ≤ 1+1); doc 3 is out of order
    // and in-order matching is the documented contract
    val out = PipelineCompiler.run(docs, """[
      {"$search": {"phrase": {"query": "spark fast", "path": "text",
        "slop": 1}}},
      {"$project": {"id": 1, "score": {"$meta": "searchScore"}}},
      {"$sort": {"score": -1, "id": 1}}]""")
      .as[(Long, Double)].collect().toSeq
    // phrase pseudo-term: N=3, avgdl=3, df=2, tf=1 in both docs
    val idf = math.log(1.6)
    def s(dl: Double) = r6(idf * 2.2 / (1 + 1.2 * (0.25 + 0.75 * dl / 3)))
    assert(out == Seq((2L, s(3)), (1L, s(4))))
    // repeated starts each count: tf reflects every valid start position
    val rep = Seq((1L, "a b a c b")).toDF("id", "text")
    val tf2 = PipelineCompiler.run(rep, """[
      {"$search": {"phrase": {"query": "a b", "path": "text", "slop": 1}}}]""")
      .count()
    assert(tf2 == 1L) // matches (both starts valid, one doc)
    intercept[MqlException](PipelineCompiler.run(docs, """[
      {"$search": {"phrase": {"query": "spark fast", "path": "text",
        "slop": -1}}}]"""))
  }

  test("$search text fuzzy: edit-distance matching with prefixLength") {
    val docs = Seq(
      (1L, "spark"), (2L, "sprak"), (3L, "spork"), (4L, "xxxx")
    ).toDF("id", "text")
    def ids(pipe: String): Set[Long] =
      PipelineCompiler.run(docs, pipe).select("id").as[Long].collect().toSet
    // maxEdits 1: spark (0 edits) and spork (1); sprak is 2 plain edits
    assert(ids("""[{"$search": {"text": {"query": "spark", "path": "text",
      "fuzzy": {"maxEdits": 1}}}}]""") == Set(1L, 3L))
    // maxEdits 2 (the default) also admits the transposition
    assert(ids("""[{"$search": {"text": {"query": "spark", "path": "text",
      "fuzzy": {}}}}]""") == Set(1L, 2L, 3L))
    // prefixLength pins the leading chars exactly: spork/sprak share
    // only "sp" with the query, so prefixLength 3 leaves the exact term
    assert(ids("""[{"$search": {"text": {"query": "spark", "path": "text",
      "fuzzy": {"maxEdits": 2, "prefixLength": 3}}}}]""") == Set(1L))
    assert(ids("""[{"$search": {"text": {"query": "spark", "path": "text",
      "fuzzy": {"maxEdits": 2, "prefixLength": 2}}}}]""") == Set(1L, 2L, 3L))
    // BM25 over fuzzy-expanded tf/df: N=4, avgdl=1, df=2 at maxEdits 1
    val out = PipelineCompiler.run(docs, """[
      {"$search": {"text": {"query": "spark", "path": "text",
        "fuzzy": {"maxEdits": 1}}}},
      {"$project": {"id": 1, "score": {"$meta": "searchScore"}}},
      {"$sort": {"id": 1}}]""").as[(Long, Double)].collect().toSeq
    val exp = math.rint(math.log(2.0) * 1e6) / 1e6
    assert(out == Seq((1L, exp), (3L, exp)))
    // maxEdits outside 1..2 and unknown fuzzy options are rejected
    intercept[MqlException](ids("""[{"$search": {"text": {"query": "spark",
      "path": "text", "fuzzy": {"maxEdits": 3}}}}]"""))
    intercept[MqlException](ids("""[{"$search": {"text": {"query": "spark",
      "path": "text", "fuzzy": {"transpositions": true}}}}]"""))
  }

  test("$search sort option: field ordering replaces relevance") {
    val docs = Seq(
      (1L, "spark spark fast", 10), (2L, "slow database", 30), (3L, "spark", 20)
    ).toDF("id", "text", "views")
    val out = PipelineCompiler.run(docs, """[
      {"$search": {"text": {"query": "spark", "path": "text"},
        "sort": {"views": -1}, "limit": 2}},
      {"$project": {"id": 1}}]""").as[Long].collect().toSeq
    // matches are docs 1 and 3; views desc puts 3 first
    assert(out == Seq(3L, 1L))
    intercept[MqlException](PipelineCompiler.run(docs, """[
      {"$search": {"text": {"query": "spark", "path": "text"},
        "sort": {"views": 0}}}]"""))
  }

  test("$scoreFusion: weighted average of raw sub-pipeline scores") {
    val docs = Seq(
      (1L, "spark spark fast", Seq(1.0, 0.0)),
      (2L, "slow database", Seq(0.8, 0.6)),
      (3L, "spark", Seq(0.0, 1.0))
    ).toDF("id", "text", "v")
    def r6(x: Double) = math.rint(x * 1e6) / 1e6
    // lexical: bm25 over N=3, avgdl=2, df(spark)=2 (same corpus as the
    // $search spec); vector: (cos+1)/2 against [1,0], top-2 = docs 1, 2
    val idf = math.log(1 + 1.5 / 2.5)
    def bm(tf: Double, dl: Double) =
      r6(idf * tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * dl / 2.0)))
    val out = PipelineCompiler.run(docs, """[
      {"$scoreFusion": {
        "idField": "id",
        "input": {"pipelines": {
          "lexical": [{"$search": {"text": {"query": "spark", "path": "text"},
                       "limit": 5, "tieBreaker": "id"}}],
          "vector": [{"$vectorSearch": {"path": "v", "queryVector": [1.0, 0.0],
                      "limit": 2, "exact": true, "tieBreaker": "id"}}]},
          "normalization": "none"},
        "combination": {"weights": {"vector": 2}}}},
      {"$project": {"id": 1, "score": {"$meta": "score"}}}]""")
      .as[(Long, Double)].collect().toSeq
    // fused = Σ w·score / P with P = 2 pipelines, absent docs contribute 0
    assert(out == Seq(
      (1L, r6((bm(2, 3) + 2 * 1.0) / 2)),
      (2L, r6(2 * 0.9 / 2)),
      (3L, r6(bm(1, 1) / 2))))

    // minMaxScaler rescales per pipeline to [0,1]: lexical has two docs
    // (3 → 1, 1 → 0), vector has two (1 → 1, 2 → 0)
    val mm = PipelineCompiler.run(docs, """[
      {"$scoreFusion": {
        "idField": "id",
        "input": {"pipelines": {
          "lexical": [{"$search": {"text": {"query": "spark", "path": "text"},
                       "limit": 5, "tieBreaker": "id"}}],
          "vector": [{"$vectorSearch": {"path": "v", "queryVector": [1.0, 0.0],
                      "limit": 2, "exact": true, "tieBreaker": "id"}}]},
          "normalization": "minMaxScaler"},
        "combination": {"weights": {"vector": 2}}}},
      {"$project": {"id": 1, "score": {"$meta": "score"}}}]""")
      .as[(Long, Double)].collect().toSeq
    assert(mm == Seq((1L, 1.0), (3L, 0.5), (2L, 0.0)))

    // sigmoid squashes each raw score through 1/(1+e^-x)
    val sg = PipelineCompiler.run(docs, """[
      {"$scoreFusion": {
        "idField": "id",
        "input": {"pipelines": {
          "vector": [{"$vectorSearch": {"path": "v", "queryVector": [1.0, 0.0],
                      "limit": 2, "exact": true, "tieBreaker": "id"}}]},
          "normalization": "sigmoid"}}},
      {"$project": {"id": 1, "score": {"$meta": "score"}}}]""")
      .as[(Long, Double)].collect().toSeq
    def sig(x: Double) = 1.0 / (1.0 + math.exp(-x))
    assert(sg == Seq((1L, r6(sig(1.0))), (2L, r6(sig(0.9)))))

    // a sub-pipeline that is not scored ($sort is rank, not score) is rejected
    intercept[MqlException](PipelineCompiler.run(docs, """[
      {"$scoreFusion": {"idField": "id", "input": {"pipelines": {
        "bad": [{"$sort": {"id": 1}}, {"$limit": 2}]}}}}]"""))
    // a limit-less $search sub-pipeline is rejected
    intercept[MqlException](PipelineCompiler.run(docs, """[
      {"$scoreFusion": {"idField": "id", "input": {"pipelines": {
        "lex": [{"$search": {"text": {"query": "spark", "path": "text"},
                 "tieBreaker": "id"}}]}}}}]"""))
    // unknown weight name / normalization / combination.method are rejected
    intercept[MqlException](PipelineCompiler.run(docs, """[
      {"$scoreFusion": {"idField": "id",
        "input": {"pipelines": {"v": [{"$vectorSearch": {"path": "v",
          "queryVector": [1.0, 0.0], "limit": 2, "exact": true,
          "tieBreaker": "id"}}]}},
        "combination": {"weights": {"zzz": 1}}}}]"""))
    intercept[MqlException](PipelineCompiler.run(docs, """[
      {"$scoreFusion": {"idField": "id",
        "input": {"pipelines": {"v": [{"$vectorSearch": {"path": "v",
          "queryVector": [1.0, 0.0], "limit": 2, "exact": true,
          "tieBreaker": "id"}}]}, "normalization": "zscore"}}}]"""))
    intercept[MqlException](PipelineCompiler.run(docs, """[
      {"$scoreFusion": {"idField": "id",
        "input": {"pipelines": {"v": [{"$vectorSearch": {"path": "v",
          "queryVector": [1.0, 0.0], "limit": 2, "exact": true,
          "tieBreaker": "id"}}]}},
        "combination": {"method": "expression"}}}]"""))
    // an input that already carries `score` is refused, not shadowed
    intercept[MqlException](PipelineCompiler.run(
      docs.withColumn("score", org.apache.spark.sql.functions.lit(1.0)), """[
      {"$scoreFusion": {"idField": "id", "input": {"pipelines": {
        "v": [{"$vectorSearch": {"path": "v", "queryVector": [1.0, 0.0],
               "limit": 2, "exact": true, "tieBreaker": "id"}}]}}}}]"""))

    // combination.method "expression": $$<pipelineName> vars over the
    // normalized scores; a doc absent from a pipeline contributes 0
    val ex = PipelineCompiler.run(docs, """[
      {"$scoreFusion": {
        "idField": "id",
        "input": {"pipelines": {
          "lexical": [{"$search": {"text": {"query": "spark", "path": "text"},
                       "limit": 5, "tieBreaker": "id"}}],
          "vector": [{"$vectorSearch": {"path": "v", "queryVector": [1.0, 0.0],
                      "limit": 2, "exact": true, "tieBreaker": "id"}}]},
          "normalization": "none"},
        "combination": {"method": "expression",
          "expression": {"$add": [{"$multiply": [0.7, "$$lexical"]},
                                  "$$vector"]}}}},
      {"$project": {"id": 1, "score": {"$meta": "score"}}}]""")
      .as[(Long, Double)].collect().toSeq
    assert(ex == Seq(
      (1L, r6(0.7 * bm(2, 3) + 1.0)),
      (2L, r6(0.9)),
      (3L, r6(0.7 * bm(1, 1)))).sortBy { case (i, s) => (-s, i) })
    // weights cannot ride with a custom expression
    intercept[MqlException](PipelineCompiler.run(docs, """[
      {"$scoreFusion": {"idField": "id",
        "input": {"pipelines": {"v": [{"$vectorSearch": {"path": "v",
          "queryVector": [1.0, 0.0], "limit": 2, "exact": true,
          "tieBreaker": "id"}}]}},
        "combination": {"method": "expression", "weights": {"v": 2},
          "expression": "$$v"}}}]"""))
    // expression without method "expression" is rejected
    intercept[MqlException](PipelineCompiler.run(docs, """[
      {"$scoreFusion": {"idField": "id",
        "input": {"pipelines": {"v": [{"$vectorSearch": {"path": "v",
          "queryVector": [1.0, 0.0], "limit": 2, "exact": true,
          "tieBreaker": "id"}}]}},
        "combination": {"expression": "$$v"}}}]"""))
  }

  test("$scoreFusion scoreDetails: per-pipeline raw/weight/normalized value") {
    val docs = Seq(
      (1L, "spark spark fast", Seq(1.0, 0.0)),
      (2L, "slow database", Seq(0.8, 0.6)),
      (3L, "spark", Seq(0.0, 1.0))
    ).toDF("id", "text", "v")
    val out = PipelineCompiler.run(docs, """[
      {"$scoreFusion": {
        "idField": "id", "scoreDetails": true,
        "input": {"pipelines": {
          "lexical": [{"$search": {"text": {"query": "spark", "path": "text"},
                       "limit": 5, "tieBreaker": "id"}}],
          "vector": [{"$vectorSearch": {"path": "v", "queryVector": [1.0, 0.0],
                      "limit": 2, "exact": true, "tieBreaker": "id"}}]},
          "normalization": "none"},
        "combination": {"weights": {"vector": 2}}}},
      {"$project": {"id": 1, "score": {"$meta": "score"},
        "details": "$scoreDetails.details"}}]""")
    val rows = out.selectExpr("id",
        "transform(details, d -> struct(d.inputPipelineName, d.weight))")
      .as[(Long, Seq[(String, Double)])].collect().toMap
    assert(rows(1L) == Seq(("lexical", 1.0), ("vector", 2.0)))
    assert(rows(2L) == Seq(("vector", 2.0)))
    assert(rows(3L) == Seq(("lexical", 1.0)))
    // weighted normalized values average back to the fused score
    val bad = out.selectExpr("score",
      "round(aggregate(details, 0.0d, (a, d) -> a + d.weight * d.value) / 2, 6) AS s")
      .where("abs(score - s) > 1e-6").count()
    assert(bad == 0L)
  }

  test("$search text operator: BM25 scores, only matching docs, $meta") {
    val docs = Seq(
      (1L, "spark spark fast"), (2L, "slow database"), (3L, "spark")
    ).toDF("id", "text")
    val out = PipelineCompiler.run(docs, """[
      {"$search": {"text": {"query": "spark", "path": "text"},
        "limit": 5, "tieBreaker": "id"}},
      {"$project": {"id": 1, "score": {"$meta": "searchScore"}}},
      {"$sort": {"score": -1, "id": 1}}]""")
      .as[(Long, Double)].collect().toSeq
    // same corpus as the bm25TopK spec: N=3, avgdl=2, df(spark)=2;
    // doc 2 matches nothing and must be absent
    val idf = math.log(1 + 1.5 / 2.5)
    def s(tf: Double, dl: Double) =
      math.rint(idf * tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * dl / 2.0)) * 1e6) / 1e6
    assert(out == Seq((3L, s(1, 1)), (1L, s(2, 3))))
    // multi-term query sums per-term contributions
    val multi = PipelineCompiler.run(docs, """[
      {"$search": {"text": {"query": "spark database", "path": "text"}}}]""")
      .select("id").as[Long].collect().toSet
    assert(multi == Set(1L, 2L, 3L))

    // compound: must + mustNot
    val comp = PipelineCompiler.run(docs, """[
      {"$search": {"compound": {
        "must": [{"text": {"query": "spark", "path": "text"}}],
        "mustNot": [{"text": {"query": "fast", "path": "text"}}]}}},
      {"$project": {"id": 1, "score": {"$meta": "searchScore"}}},
      {"$sort": {"id": 1}}]""").as[(Long, Double)].collect().toSeq
    // doc1 contains "fast" → excluded; doc2 fails must; doc3 survives
    assert(comp == Seq((3L, s(1, 1))))

    // compound: should-only needs ≥1 matching clause; scores sum
    val sh = PipelineCompiler.run(docs, """[
      {"$search": {"compound": {"should": [
        {"text": {"query": "spark", "path": "text"}},
        {"text": {"query": "database", "path": "text"}}]}}},
      {"$project": {"id": 1, "score": {"$meta": "searchScore"}}},
      {"$sort": {"id": 1}}]""").as[(Long, Double)].collect().toSeq
    // df(database)=1 → idf = ln(1 + 2.5/1.5); doc2 dl=2, tf=1 →
    // denominator 2.2 cancels the k1+1 numerator: score = idf
    val sDb = math.rint(math.log(1 + 2.5 / 1.5) * 1e6) / 1e6
    assert(sh == Seq((1L, s(2, 3)), (2L, sDb), (3L, s(1, 1))))

    // unsupported compound clause lists / operators are rejected
    intercept[MqlException](PipelineCompiler.run(docs, """[
      {"$search": {"compound": {"near": [], "should": [
        {"text": {"query": "spark", "path": "text"}}]}}}]"""))
    intercept[MqlException](PipelineCompiler.run(docs, """[
      {"$search": {"embeddedDocument": {"path": "items"}}}]"""))
  }

  test("$search text matchCriteria: all requires every analyzed term") {
    val docs = Seq(
      (1L, "spark spark fast"), (2L, "slow database"), (3L, "spark"),
      (4L, "spark database fast")
    ).toDF("id", "text")
    def ids(spec: String): Seq[Long] = PipelineCompiler.run(docs, s"""[
      {"$$search": $spec}, {"$$project": {"id": 1}},
      {"$$sort": {"id": 1}}]""").as[Long].collect().toSeq
    // any (default): union of term matches
    assert(ids("""{"text": {"query": "spark database", "path": "text"}}""")
      == Seq(1L, 2L, 3L, 4L))
    // all: intersection — only doc 4 carries both terms
    assert(ids("""{"text": {"query": "spark database", "path": "text",
        "matchCriteria": "all"}}""") == Seq(4L))
    // all + fuzzy: every term needs an edit-distance match
    assert(ids("""{"text": {"query": "spark databose", "path": "text",
        "matchCriteria": "all", "fuzzy": {"maxEdits": 1}}}""") == Seq(4L))
    // a repeated query term dedupes before the all-count (distinct
    // terms, not occurrences)
    assert(ids("""{"text": {"query": "spark spark", "path": "text",
        "matchCriteria": "all"}}""") == Seq(1L, 3L, 4L))
    // scoring is unchanged (BM25 sum over the terms) — matchCriteria
    // only gates WHICH docs qualify
    val scored = PipelineCompiler.run(docs, """[
      {"$search": {"text": {"query": "spark database", "path": "text",
        "matchCriteria": "all"}}},
      {"$project": {"id": 1, "score": {"$meta": "searchScore"}}}]""")
      .as[(Long, Double)].collect().toSeq
    val any = PipelineCompiler.run(docs, """[
      {"$search": {"text": {"query": "spark database", "path": "text"}}},
      {"$project": {"id": 1, "score": {"$meta": "searchScore"}}}]""")
      .as[(Long, Double)].collect().toMap
    assert(scored == Seq((4L, any(4L))))
    // bad value refuses
    intercept[MqlException](ids(
      """{"text": {"query": "x", "path": "text",
          "matchCriteria": "most"}}"""))
  }

  test("$search compound minimumShouldMatch and score boost/constant") {
    val docs = Seq(
      (1L, "spark spark fast"), (2L, "slow database"), (3L, "spark")
    ).toDF("id", "text")
    // minimumShouldMatch 2: only docs matching BOTH should clauses
    val msm = PipelineCompiler.run(docs, """[
      {"$search": {"compound": {"minimumShouldMatch": 2, "should": [
        {"text": {"query": "spark", "path": "text"}},
        {"text": {"query": "fast", "path": "text"}}]}}}]""")
      .select("id").as[Long].collect().toSeq
    assert(msm == Seq(1L))
    // exceeding the should count is rejected
    intercept[MqlException](PipelineCompiler.run(docs, """[
      {"$search": {"compound": {"minimumShouldMatch": 3, "should": [
        {"text": {"query": "spark", "path": "text"}}]}}}]"""))
    // constant score replaces BM25; boost scales it
    val const = PipelineCompiler.run(docs, """[
      {"$search": {"text": {"query": "spark", "path": "text",
        "score": {"constant": {"value": 5}}}}},
      {"$project": {"id": 1, "score": {"$meta": "searchScore"}}},
      {"$sort": {"id": 1}}]""").as[(Long, Double)].collect().toSeq
    assert(const == Seq((1L, 5.0), (3L, 5.0)))
    val plain = PipelineCompiler.run(docs, """[
      {"$search": {"text": {"query": "spark", "path": "text"}}},
      {"$project": {"id": 1, "score": {"$meta": "searchScore"}}}]""")
      .as[(Long, Double)].collect().toMap
    val boosted = PipelineCompiler.run(docs, """[
      {"$search": {"text": {"query": "spark", "path": "text",
        "score": {"boost": {"value": 3}}}}},
      {"$project": {"id": 1, "score": {"$meta": "searchScore"}}}]""")
      .as[(Long, Double)].collect().toMap
    boosted.foreach { case (id, sc) =>
      assert(math.abs(sc - math.rint(plain(id) * 3 * 1e6) / 1e6) < 2e-6) }
  }

  test("$search score.function: path/constant/multiply/log1p/gauss") {
    val docs = Seq(
      (1L, "spark fast", 2.0), (2L, "slow database", 9.0), (3L, "spark", 4.0)
    ).toDF("id", "text", "quality")
    // function replaces relevance: score = quality × 2
    val fn = PipelineCompiler.run(docs, """[
      {"$search": {"text": {"query": "spark", "path": "text",
        "score": {"function": {"multiply": [
          {"path": "quality"}, {"constant": 2}]}}}}},
      {"$project": {"id": 1, "score": {"$meta": "searchScore"}}},
      {"$sort": {"id": 1}}]""").as[(Long, Double)].collect().toSeq
    assert(fn == Seq((1L, 4.0), (3L, 8.0))) // doc 2 doesn't match → absent
    // relevance reference scales the BM25 base; log1p = log10(x+1)
    val plain2 = PipelineCompiler.run(docs, """[
      {"$search": {"text": {"query": "spark", "path": "text"}}},
      {"$project": {"id": 1, "score": {"$meta": "searchScore"}}}]""")
      .as[(Long, Double)].collect().toMap
    val rel = PipelineCompiler.run(docs, """[
      {"$search": {"text": {"query": "spark", "path": "text",
        "score": {"function": {"log1p": {"multiply": [
          {"score": "relevance"}, {"constant": 9}]}}}}}},
      {"$project": {"id": 1, "score": {"$meta": "searchScore"}}}]""")
      .as[(Long, Double)].collect().toMap
    rel.foreach { case (id, sc) =>
      assert(math.abs(sc -
        math.rint(math.log10(plain2(id) * 9 + 1) * 1e6) / 1e6) < 2e-6) }
    // gauss decay: exact at origin boundary (|v−origin| ≤ offset → 1),
    // decay value at |v−origin| = offset + scale
    val g = PipelineCompiler.run(docs, """[
      {"$search": {"text": {"query": "spark", "path": "text",
        "score": {"function": {"gauss": {"path": "quality",
          "origin": 2.0, "scale": 2.0, "decay": 0.5}}}}}},
      {"$project": {"id": 1, "score": {"$meta": "searchScore"}}},
      {"$sort": {"id": 1}}]""").as[(Long, Double)].collect().toMap
    assert(g(1L) == 1.0)           // quality 2 = origin
    assert(math.abs(g(3L) - 0.5) < 1e-9) // |4−2| = scale → decay
    // path.undefined default; unsupported function node rejected
    val und = PipelineCompiler.run(docs.withColumn("quality",
      org.apache.spark.sql.functions.when($"id" === 1, $"quality")), """[
      {"$search": {"text": {"query": "spark", "path": "text",
        "score": {"function": {"path": {"value": "quality",
                                        "undefined": 7.0}}}}}},
      {"$project": {"id": 1, "score": {"$meta": "searchScore"}}},
      {"$sort": {"id": 1}}]""").as[(Long, Double)].collect().toSeq
    assert(und == Seq((1L, 2.0), (3L, 7.0)))
    intercept[MqlException](PipelineCompiler.run(docs, """[
      {"$search": {"text": {"query": "spark", "path": "text",
        "score": {"function": {"exp": {"constant": 1}}}}}}]"""))
  }

  test("$search scoreDetails: per-clause contribution breakdown") {
    val docs = Seq(
      (1L, "spark spark fast", Seq(1.0, 0.0)),
      (2L, "slow database", Seq(0.8, 0.6)),
      (3L, "spark", Seq(0.0, 1.0))
    ).toDF("id", "text", "v")
    val out = PipelineCompiler.run(docs, """[
      {"$search": {"compound": {
         "must": [{"text": {"query": "spark", "path": "text"}}],
         "should": [{"exists": {"path": "v",
           "score": {"constant": {"value": 2}}}}]},
        "scoreDetails": true}},
      {"$project": {"id": 1,
        "total": {"$meta": "searchScore"},
        "d": {"$meta": "searchScoreDetails"}}},
      {"$sort": {"id": 1}}]""")
    val rows = out.collect()
    rows.foreach { r =>
      val d = r.getStruct(2)
      // details sum to the total; descriptions name clause kind + path
      val parts = d.getSeq[org.apache.spark.sql.Row](2)
      assert(math.abs(parts.map(_.getDouble(0)).sum - r.getDouble(1)) < 2e-6)
      assert(parts.map(_.getString(1)) ==
        Seq("text:text", "exists:v (constant)"))
      assert(d.getDouble(0) == r.getDouble(1))
    }
  }

  test("$search highlight: hit/text runs via $meta searchHighlights") {
    val docs = Seq(
      (1L, "Spark makes spark queries fast"),
      (2L, "nothing relevant here"),
      (3L, "spark")
    ).toDF("id", "text")
    val out = PipelineCompiler.run(docs, """[
      {"$search": {"text": {"query": "spark fast", "path": "text"},
        "highlight": {"path": "text"}}},
      {"$project": {"id": 1, "h": {"$meta": "searchHighlights"}}},
      {"$sort": {"id": 1}}]""")
    val rows = out.collect()
    // doc 1: hits Spark, spark, fast (case-folded) → one passage,
    // score 3, alternating runs
    val p1 = rows(0).getSeq[org.apache.spark.sql.Row](1).head
    assert(p1.getDouble(0) == 3.0 && p1.getString(1) == "text")
    val texts = p1.getSeq[org.apache.spark.sql.Row](2)
      .map(r => (r.getString(0), r.getString(1)))
    assert(texts == Seq(("Spark", "hit"), ("makes", "text"),
      ("spark", "hit"), ("queries", "text"), ("fast", "hit")))
    // doc 3: single hit, no text runs
    val p3 = rows(1).getSeq[org.apache.spark.sql.Row](1).head
    assert(p3.getDouble(0) == 1.0)
    // a doc matched by OTHER clauses but without hits on the highlight
    // path gets an empty array (compound: match on id-ish equals)
    val none = PipelineCompiler.run(docs, """[
      {"$search": {"compound": {
        "must": [{"exists": {"path": "text"}}],
        "should": [{"text": {"query": "zebra", "path": "text"}}]},
        "highlight": {"path": "text"}}},
      {"$project": {"id": 1, "n": {"$size": {"$meta": "searchHighlights"}}}},
      {"$sort": {"id": 1}}]""").as[(Long, Int)].collect().toSeq
    assert(none.map(_._2).forall(_ == 0))
    intercept[MqlException](PipelineCompiler.run(docs, """[
      {"$search": {"text": {"query": "spark", "path": "text"},
        "highlight": {"paths": "text"}}}]"""))
  }

  test("$search phrase operator: consecutive-subsequence BM25") {
    val docs = Seq(
      (1L, "spark spark fast"), (2L, "slow database"), (3L, "spark")
    ).toDF("id", "text")
    // "spark fast" occurs only in doc 1 (positions 2-3); doc 3 has
    // "spark" but no following "fast" → phrase does not match
    val out = PipelineCompiler.run(docs, """[
      {"$search": {"phrase": {"query": "spark fast", "path": "text"}}},
      {"$project": {"id": 1, "score": {"$meta": "searchScore"}}}]""")
      .as[(Long, Double)].collect().toSeq
    // N=3, avgdl=2, phrase df=1, ptf=1, dl=3
    val idf = math.log(1 + 2.5 / 1.5)
    val exp = math.rint(idf * 2.2 / (1 + 1.2 * (0.25 + 0.75 * 3 / 2.0)) * 1e6) / 1e6
    assert(out == Seq((1L, exp)))
    // repeated occurrences count: "spark spark" in doc 1 has ptf 1,
    // and "a a" in a doc "a a a" would have ptf 2 (overlapping)
    val rep = PipelineCompiler.run(Seq((1L, "a a a")).toDF("id", "text"), """[
      {"$search": {"phrase": {"query": "a a", "path": "text"}}},
      {"$project": {"id": 1, "score": {"$meta": "searchScore"}}}]""")
      .as[(Long, Double)].collect().toSeq
    // N=1, df=1, ptf=2, dl=3, avgdl=3
    val idf1 = math.log(1 + 0.5 / 1.5)
    val exp2 = math.rint(idf1 * 2 * 2.2 / (2 + 1.2 * (0.25 + 0.75)) * 1e6) / 1e6
    assert(rep == Seq((1L, exp2)))
  }

  test("$search equals/range/wildcard operators and compound filter") {
    val docs = Seq(
      (1L, "spark spark fast", "web", 10),
      (2L, "slow database", "book", 30),
      (3L, "spark", "web", 20)
    ).toDF("id", "text", "source", "views")
    // equals: constant score 1
    val eq = PipelineCompiler.run(docs, """[
      {"$search": {"equals": {"path": "source", "value": "web"}}},
      {"$project": {"id": 1, "score": {"$meta": "searchScore"}}},
      {"$sort": {"id": 1}}]""").as[(Long, Double)].collect().toSeq
    assert(eq == Seq((1L, 1.0), (3L, 1.0)))
    // range: half-open bounds
    val rg = PipelineCompiler.run(docs, """[
      {"$search": {"range": {"path": "views", "gte": 20, "lt": 30}}}]""")
      .select("id").as[Long].collect().toSeq
    assert(rg == Seq(3L))
    // wildcard over analyzed terms
    val wc = PipelineCompiler.run(docs, """[
      {"$search": {"wildcard": {"path": "text", "query": "data*se"}}}]""")
      .select("id").as[Long].collect().toSeq
    assert(wc == Seq(2L))
    // compound filter: must-semantics, zero score contribution
    val fl = PipelineCompiler.run(docs, """[
      {"$search": {"compound": {
        "must": [{"text": {"query": "spark", "path": "text"}}],
        "filter": [{"range": {"path": "views", "gte": 15}}]}}},
      {"$project": {"id": 1, "score": {"$meta": "searchScore"}}}]""")
      .as[(Long, Double)].collect().toSeq
    // doc1 fails the filter; doc3 survives with its text score only
    val idf = math.log(1 + 1.5 / 2.5)
    val s3 = math.rint(idf * 2.2 / (1 + 1.2 * (0.25 + 0.75 * 1 / 2.0)) * 1e6) / 1e6
    assert(fl == Seq((3L, s3)))
    // filter-only compound: all filter-matching docs at score 0
    val fo = PipelineCompiler.run(docs, """[
      {"$search": {"compound": {
        "filter": [{"equals": {"path": "source", "value": "web"}}]}}},
      {"$project": {"id": 1, "score": {"$meta": "searchScore"}}},
      {"$sort": {"id": 1}}]""").as[(Long, Double)].collect().toSeq
    assert(fo == Seq((1L, 0.0), (3L, 0.0)))
  }

  test("$search autocomplete/in/exists operators") {
    val docs = Seq(
      (1L, "spark sparkles fast", Some("web")), (2L, "slow database", Some("book")),
      (3L, "sparse matrix", None)
    ).toDF("id", "text", "source")
    // single-token prefix: "spar" hits spark/sparkles/sparse
    val ac1 = PipelineCompiler.run(docs, """[
      {"$search": {"autocomplete": {"query": "spar", "path": "text"}}},
      {"$sort": {"id": 1}}]""").select("id").as[Long].collect().toSeq
    assert(ac1 == Seq(1L, 3L))
    // multi-token: exact leading run + prefix last token
    val ac2 = PipelineCompiler.run(docs, """[
      {"$search": {"autocomplete": {"query": "spark spark", "path": "text"}}}]""")
      .select("id").as[Long].collect().toSeq
    assert(ac2 == Seq(1L))  // "spark sparkles"; doc 3 has no exact "spark"
    // in: set membership, constant score
    val in = PipelineCompiler.run(docs, """[
      {"$search": {"in": {"path": "source", "value": ["web", "zine"]}}},
      {"$project": {"id": 1, "score": {"$meta": "searchScore"}}}]""")
      .as[(Long, Double)].collect().toSeq
    assert(in == Seq((1L, 1.0)))
    // exists: field presence
    val ex = PipelineCompiler.run(docs, """[
      {"$search": {"compound": {
        "must": [{"text": {"query": "database matrix", "path": "text"}}],
        "mustNot": [{"exists": {"path": "source"}}]}}}]""")
      .select("id").as[Long].collect().toSeq
    assert(ex == Seq(3L))
  }

  test("$search near operator: distance-decay score") {
    val docs = Seq((1L, 100), (2L, 150), (3L, 400))
      .toDF("id", "views")
    val out = PipelineCompiler.run(docs, """[
      {"$search": {"near": {"path": "views", "origin": 150, "pivot": 50}}},
      {"$project": {"id": 1, "score": {"$meta": "searchScore"}}},
      {"$sort": {"id": 1}}]""").as[(Long, Double)].collect().toSeq
    assert(out == Seq((1L, 0.5), (2L, 1.0), (3L, 0.166667)))
    intercept[MqlException](PipelineCompiler.run(docs, """[
      {"$search": {"near": {"path": "views", "origin": 1, "pivot": 0}}}]"""))
  }

  test("$search: mustNot over a missing/null path keeps the doc") {
    val docs = Seq(
      (1L, "spark fast", Some("beta")), (2L, "spark slow", None)
    ).toDF("id", "text", "tag")
    // doc 2 has a null tag: the mustNot clause trivially holds there
    val out = PipelineCompiler.run(docs, """[
      {"$search": {"compound": {
        "must": [{"text": {"query": "spark", "path": "text"}}],
        "mustNot": [{"text": {"query": "beta", "path": "tag"}}]}}},
      {"$sort": {"id": 1}}]""").select("id").as[Long].collect().toSeq
    assert(out == Seq(2L))
    // $search.text BM25 stats exclude zero-token docs from N/avgdl —
    // bm25TopK parity (its doc-length frame is built from exploded
    // tokens, where an empty doc contributes no rows)
    val corpus = Seq((1L, "spark"), (2L, ""), (3L, "spark spark other"))
      .toDF("doc_id", "text")
    val viaSearch = PipelineCompiler.run(corpus, """[
      {"$search": {"text": {"query": "spark", "path": "text"},
        "limit": 5, "tieBreaker": "doc_id"}},
      {"$project": {"doc_id": 1, "score": {"$meta": "searchScore"}}}]""")
      .as[(Long, Double)].collect().toMap
    val viaBm25 = graft.llmops.TfIdf.bm25TopK(corpus, "doc_id", "text",
      Seq("spark"), k = 5).select("doc_id", "score")
      .as[(Long, Double)].collect().toMap
    assert(viaSearch == viaBm25)
  }

  test("$search regex operator: anchored match over analyzed terms") {
    val docs = Seq(
      (1L, "spark fast"), (2L, "sparkle dust"), (3L, "slow db")
    ).toDF("id", "text")
    val out = PipelineCompiler.run(docs, """[
      {"$search": {"regex": {"query": "sp.rk", "path": "text"}}},
      {"$sort": {"id": 1}}]""").select("id").as[Long].collect().toSeq
    assert(out == Seq(1L)) // anchored: 'sparkle' does not match
    val runs = PipelineCompiler.run(docs, """[
      {"$search": {"regex": {"query": "sp.*", "path": "text"}}},
      {"$sort": {"id": 1}}]""").select("id").as[Long].collect().toSeq
    assert(runs == Seq(1L, 2L))
    intercept[MqlException](PipelineCompiler.run(docs, """[
      {"$search": {"regex": {"query": "sp[", "path": "text"}}}]"""))
  }

  test("$search queryString: boolean grammar, Lucene-sum scoring") {
    val docs = Seq(
      (1L, "spark fast db", "alpha"), (2L, "slow db", "beta"),
      (3L, "spark slow", "alpha")
    ).toDF("id", "text", "tag")
    // AND binds tighter than OR; NOT excludes; parens group
    val out = PipelineCompiler.run(docs, """[
      {"$search": {"queryString": {"defaultPath": "text",
        "query": "spark AND (fast OR slow) NOT db"}}},
      {"$sort": {"id": 1}}]""").select("id").as[Long].collect().toSeq
    assert(out == Seq(3L))
    // field:term prefix + quoted phrase + wildcard term
    val fielded = PipelineCompiler.run(docs, """[
      {"$search": {"queryString": {"defaultPath": "text",
        "query": "tag:beta \"spark fast\" slo?"}}},
      {"$sort": {"id": 1}}]""").select("id").as[Long].collect().toSeq
    assert(fielded == Seq(1L, 2L, 3L)) // implicit OR of the three atoms
    // single-term queryString scores exactly like the text operator
    val viaQs = PipelineCompiler.run(docs, """[
      {"$search": {"queryString": {"defaultPath": "text", "query": "spark"}}},
      {"$project": {"id": 1, "score": {"$meta": "searchScore"}}}]""")
      .as[(Long, Double)].collect().toMap
    val viaText = PipelineCompiler.run(docs, """[
      {"$search": {"text": {"query": "spark", "path": "text"}}},
      {"$project": {"id": 1, "score": {"$meta": "searchScore"}}}]""")
      .as[(Long, Double)].collect().toMap
    assert(viaQs == viaText)
    // parser rejections
    intercept[MqlException](PipelineCompiler.run(docs, """[
      {"$search": {"queryString": {"defaultPath": "text", "query": "(spark"}}}]"""))
    intercept[MqlException](PipelineCompiler.run(docs, """[
      {"$search": {"queryString": {"defaultPath": "text", "query": "\"open"}}}]"""))
  }

  test("$search moreLikeThis: like-doc terms as a scored disjunction") {
    val docs = Seq(
      (1L, "spark fast"), (2L, "slow db"), (3L, "spark slow")
    ).toDF("id", "text")
    val viaMlt = PipelineCompiler.run(docs, """[
      {"$search": {"moreLikeThis": {"like": {"text": "spark fast"}}}},
      {"$project": {"id": 1, "score": {"$meta": "searchScore"}}}]""")
      .as[(Long, Double)].collect().toMap
    val viaText = PipelineCompiler.run(docs, """[
      {"$search": {"text": {"query": "spark fast", "path": "text"}}},
      {"$project": {"id": 1, "score": {"$meta": "searchScore"}}}]""")
      .as[(Long, Double)].collect().toMap
    assert(viaMlt == viaText)
    // multiple like docs merge their terms per field
    val merged = PipelineCompiler.run(docs, """[
      {"$search": {"moreLikeThis": {"like": [
        {"text": "spark"}, {"text": "db"}]}}},
      {"$sort": {"id": 1}}]""").select("id").as[Long].collect().toSeq
    assert(merged == Seq(1L, 2L, 3L))
    intercept[MqlException](PipelineCompiler.run(docs, """[
      {"$search": {"moreLikeThis": {"like": {"text": ""}}}}]"""))
  }

  test("$searchMeta count collector: exact count over the matched set") {
    val docs = Seq(
      (1L, "spark fast", 120L), (2L, "slow db", 80L), (3L, "spark db", 300L)
    ).toDF("id", "text", "n")
    val total = PipelineCompiler.run(docs, """[
      {"$searchMeta": {"text": {"query": "spark", "path": "text"},
        "count": {"type": "total"}}}]""")
    assert(total.columns.toSeq == Seq("count"))
    assert(total.select("count.total").as[Long].head() == 2L)
    // default field name is lowerBound (value still exact)
    val lb = PipelineCompiler.run(docs, """[
      {"$searchMeta": {"range": {"path": "n", "gte": 100}}}]""")
    assert(lb.select("count.lowerBound").as[Long].head() == 2L)
    intercept[MqlException](PipelineCompiler.run(docs, """[
      {"$searchMeta": {"count": {"type": "total"}}}]"""))
    intercept[MqlException](PipelineCompiler.run(docs, """[
      {"$searchMeta": {"text": {"query": "spark", "path": "text"},
        "count": {"type": "estimate"}}}]"""))
  }

  test("$searchMeta facet collector: string + number buckets") {
    val docs = Seq(
      (1L, "en", 120L), (2L, "en", 80L), (3L, "de", 300L),
      (4L, "fr", 150L), (5L, "de", 500L), (6L, "en", 900L)
    ).toDF("id", "lang", "n")
    val out = PipelineCompiler.run(docs, """[
      {"$searchMeta": {"facet": {
        "operator": {"range": {"path": "n", "gte": 100}},
        "facets": {
          "byLang": {"type": "string", "path": "lang", "numBuckets": 2},
          "bySize": {"type": "number", "path": "n",
                     "boundaries": [100, 200, 400], "default": "other"}}}}}]""")
    // matched: docs 1,3,4,5,6 (n>=100). byLang counts: en 2, de 2, fr 1 →
    // top-2 by count desc then value asc = de, en
    val row = out.head
    assert(out.select("count.lowerBound").as[Long].head() == 5L)
    val byLang = out.select("facet.byLang.buckets").head.getSeq[Row](0)
      .map(b => (b.getString(0), b.getLong(1)))
    assert(byLang == Seq(("de", 2L), ("en", 2L)))
    // bySize over matched: [100,200): 120,150 → 2; [200,400): 300 → 1;
    // default: 500, 900 → 2
    val bySize = out.select("facet.bySize.buckets").head.getSeq[Row](0)
      .map(b => (b.getString(0), b.getLong(1)))
    assert(bySize == Seq(("100", 2L), ("200", 1L), ("other", 2L)))
    assert(row.schema.fieldNames.toSeq == Seq("count", "facet"))
    // no operator → facets over the whole collection
    val all = PipelineCompiler.run(docs, """[
      {"$searchMeta": {"facet": {"facets": {
        "byLang": {"type": "string", "path": "lang"}}}}}]""")
    assert(all.select("count.lowerBound").as[Long].head() == 6L)
    // date facet: interval counts over timestamp boundaries, ISO _ids
    val dated = docs.withColumn("ts",
      org.apache.spark.sql.functions.expr(
        "timestamp'2024-01-01 00:00:00' + make_interval(0, 0, 0, CAST(id * 40 AS INT))"))
    val dout = PipelineCompiler.run(dated, """[
      {"$searchMeta": {"facet": {"facets": {
        "byDay": {"type": "date", "path": "ts",
          "boundaries": [{"$date": "2024-01-01T00:00:00Z"},
                         {"$date": "2024-03-01T00:00:00Z"},
                         {"$date": "2024-06-01T00:00:00Z"}],
          "default": "other"}}}}}]""")
    // ids 1..6 → +40d steps: Feb10, Mar21, Apr30, Jun09, Jul19, Aug28
    // → [Jan,Mar): 1; [Mar,Jun): 2; other: 3
    val byDay = dout.select("facet.byDay.buckets").head.getSeq[Row](0)
      .map(b => (b.getString(0), b.getLong(1)))
    assert(byDay == Seq(("2024-01-01T00:00:00Z", 1L),
      ("2024-03-01T00:00:00Z", 2L), ("other", 3L)))
    // rejections: date without boundaries, unsorted boundaries, missing
    // facets
    intercept[MqlException](PipelineCompiler.run(docs, """[
      {"$searchMeta": {"facet": {"facets": {
        "f": {"type": "date", "path": "n"}}}}}]"""))
    intercept[MqlException](PipelineCompiler.run(docs, """[
      {"$searchMeta": {"facet": {"facets": {
        "f": {"type": "number", "path": "n", "boundaries": [200, 100]}}}}}]"""))
    intercept[MqlException](PipelineCompiler.run(docs, """[
      {"$searchMeta": {"facet": {}}}]"""))
  }

  test("$firstN/$lastN window ops require a single-field stage sortBy") {
    // without it the slice would be partition-order-dependent
    intercept[MqlException](PipelineCompiler.run(sales, """[
      {"$setWindowFields": {"partitionBy": "$grp",
         "output": {"f2": {"$firstN": {"input": "$amt", "n": 2}}}}}]"""))
    intercept[MqlException](PipelineCompiler.run(sales, """[
      {"$setWindowFields": {"partitionBy": "$grp",
         "sortBy": {"id": 1, "amt": 1},
         "output": {"l2": {"$lastN": {"input": "$amt", "n": 2}}}}}]"""))
  }

  test("$search geoWithin: box, circle, polygon over [lon, lat] points") {
    val docs = Seq(
      (1L, Some(Seq(0.0, 0.0))),    // origin
      (2L, Some(Seq(5.0, 5.0))),    // inside box/triangle, ~786 km away
      (3L, Some(Seq(50.0, 0.0))),   // far east
      (4L, Some(Seq(-5.0, 20.0))),  // north, outside triangle
      (5L, None)                    // missing point
    ).toDF("id", "loc")
    def ids(pipe: String): Set[Long] =
      PipelineCompiler.run(docs, pipe).select("id").as[Long].collect().toSet
    assert(ids("""[{"$search": {"geoWithin": {"path": "loc",
      "box": {"bottomLeft": [-10, -10], "topRight": [10, 10]}}}}]""")
      == Set(1L, 2L))
    // 1000 km circle around the origin: doc 2 is ~786 km out, doc 4 is
    // ~2,230 km; GeoJSON Point form for the center
    assert(ids("""[{"$search": {"geoWithin": {"path": "loc",
      "circle": {"center": {"type": "Point", "coordinates": [0, 0]},
                 "radius": 1000000}}}}]""") == Set(1L, 2L))
    // triangle (-10,-10) (20,-10)... no horizontal edges: use
    // (-10,-8) (20,-10) (0,25); docs 1 and 2 inside, 4 outside
    assert(ids("""[{"$search": {"geoWithin": {"path": "loc",
      "geometry": {"type": "Polygon", "coordinates":
        [[[-10, -8], [20, -10], [0, 25], [-10, -8]]]}}}}]""") == Set(1L, 2L))
    intercept[MqlException](ids("""[{"$search": {"geoWithin":
      {"path": "loc", "circle": {"center": [0, 0], "radius": -1}}}}]"""))
    intercept[MqlException](ids("""[{"$search": {"geoWithin":
      {"path": "loc"}}}]"""))
  }

  test("$geoNear: spherical/planar distance, bounds, query, includeLocs") {
    val docs = Seq(
      (1L, Some(Seq(0.0, 0.0)), "a"),
      (2L, Some(Seq(3.0, 4.0)), "a"),   // planar distance 5 from origin
      (3L, Some(Seq(10.0, 0.0)), "b"),
      (4L, None, "a")                   // no point => not "indexed"
    ).toDF("id", "loc", "grp")
    // legacy [x, y] near without spherical => planar Euclidean units
    val planar = PipelineCompiler.run(docs, """[
      {"$geoNear": {"near": [0, 0], "key": "loc", "distanceField": "d"}}]""")
      .select("id", "d").as[(Long, Double)].collect()
    assert(planar.map(_._1).toSeq == Seq(1L, 2L, 3L)) // nearest first
    assert(planar(1)._2 == 5.0)
    // GeoJSON near => haversine meters; maxDistance bounds the raw
    // meters; multiplier scales the output to km; query pre-filters;
    // includeLocs copies the matched point
    val sph = PipelineCompiler.run(docs, """[
      {"$geoNear": {"near": {"type": "Point", "coordinates": [0, 0]},
        "key": "loc", "distanceField": "dkm", "query": {"grp": "a"},
        "maxDistance": 600000, "distanceMultiplier": 0.001,
        "includeLocs": "where"}}]""")
    val rows = sph.select("id", "dkm").as[(Long, Double)].collect()
    assert(rows.map(_._1).toSeq == Seq(1L, 2L))
    assert(rows(0)._2 == 0.0)
    assert(rows(1)._2 > 500 && rows(1)._2 < 600) // (3,4)° ~ 556 km
    assert(sph.columns.contains("where"))
    // rejections: missing key/distanceField/near, unknown option
    intercept[MqlException](PipelineCompiler.run(docs, """[
      {"$geoNear": {"near": [0, 0], "distanceField": "d"}}]"""))
    intercept[MqlException](PipelineCompiler.run(docs, """[
      {"$geoNear": {"near": [0, 0], "key": "loc"}}]"""))
    intercept[MqlException](PipelineCompiler.run(docs, """[
      {"$geoNear": {"key": "loc", "distanceField": "d"}}]"""))
    intercept[MqlException](PipelineCompiler.run(docs, """[
      {"$geoNear": {"near": [0, 0], "key": "loc", "distanceField": "d",
        "num": 5}}]"""))
    // scale shape: a following $limit collapses the distance ordering
    // to TakeOrderedAndProject — no global sort materializes
    val plan = PipelineCompiler.run(docs, """[
      {"$geoNear": {"near": [0, 0], "key": "loc", "distanceField": "d"}},
      {"$limit": 2}]""").queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"))
    // nested distanceField/includeLocs rebuild the enclosing struct
    val nested = docs.selectExpr("id", "loc",
      "named_struct('tag', grp) AS meta")
    val nst = PipelineCompiler.run(nested, """[
      {"$geoNear": {"near": [0, 0], "key": "loc",
        "distanceField": "meta.dist", "includeLocs": "meta.pt"}},
      {"$project": {"id": 1, "d": "$meta.dist",
                    "px": {"$arrayElemAt": ["$meta.pt", 0]}}}]""")
      .as[(Long, Double, Double)].collect()
    assert(nst.map(_._1).toSeq == Seq(1L, 2L, 3L))
    assert(nst(1)._2 == 5.0 && nst(1)._3 == 3.0)
  }

  test("$search geoShape: within/intersects/disjoint for point fields") {
    val docs = Seq(
      (1L, Some(Seq(0.0, 0.0))), (2L, Some(Seq(50.0, 40.0))), (3L, None)
    ).toDF("id", "loc")
    def ids(pipe: String): Set[Long] =
      PipelineCompiler.run(docs, pipe).select("id").as[Long].collect().toSet
    val tri = """{"type": "Polygon", "coordinates":
      [[[-10, -8], [20, -10], [0, 25], [-10, -8]]]}"""
    assert(ids(s"""[{"$$search": {"geoShape": {"path": "loc",
      "relation": "within", "geometry": $tri}}}]""") == Set(1L))
    assert(ids(s"""[{"$$search": {"geoShape": {"path": "loc",
      "relation": "intersects", "geometry": $tri}}}]""") == Set(1L))
    // disjoint: has the field AND lies outside — the missing-point doc
    // matches nothing, mirroring Lucene's missing-field contract
    assert(ids(s"""[{"$$search": {"geoShape": {"path": "loc",
      "relation": "disjoint", "geometry": $tri}}}]""") == Set(2L))
    intercept[MqlException](ids(s"""[{"$$search": {"geoShape": {"path": "loc",
      "relation": "contains", "geometry": $tri}}}]"""))
    // compound: geo clauses compose with text scoring in clause lists
    val mixed = Seq(
      (1L, Some(Seq(0.0, 0.0)), "spark fast"),
      (2L, Some(Seq(5.0, 5.0)), "slow database"),
      (3L, Some(Seq(80.0, 0.0)), "spark query")
    ).toDF("id", "loc", "text")
    val out = PipelineCompiler.run(mixed, """[
      {"$search": {"compound": {
        "must": [{"text": {"query": "spark", "path": "text"}}],
        "filter": [{"geoWithin": {"path": "loc",
          "box": {"bottomLeft": [-10, -10], "topRight": [10, 10]}}}]}}},
      {"$project": {"id": 1}}]""").as[Long].collect().toSet
    assert(out == Set(1L))
  }

  test("$search count option: $$SEARCH_META.count over the full matched set") {
    val docs = Seq(
      (1L, "spark fast"), (2L, "spark slow"), (3L, "spark query"),
      (4L, "database")
    ).toDF("id", "text")
    // limit 2 bounds the rows; the count sees all 3 matches
    val out = PipelineCompiler.run(docs, """[
      {"$search": {"text": {"query": "spark", "path": "text"},
        "count": {"type": "total"}, "limit": 2, "tieBreaker": "id"}},
      {"$project": {"id": 1, "total": "$$SEARCH_META.count.total"}},
      {"$sort": {"id": 1}}]""").as[(Long, Long)].collect().toSeq
    assert(out.map(_._2).distinct == Seq(3L) && out.length == 2)
    // default type names the field lowerBound (still exact)
    val lb = PipelineCompiler.run(docs, """[
      {"$search": {"text": {"query": "spark", "path": "text"},
        "count": {}, "limit": 1, "tieBreaker": "id"}},
      {"$project": {"n": "$$SEARCH_META.count.lowerBound"}}]""")
      .as[Long].collect().toSeq
    assert(lb == Seq(3L))
    intercept[MqlException](PipelineCompiler.run(docs, """[
      {"$search": {"text": {"query": "spark", "path": "text"},
        "count": {"type": "estimate"}}}]"""))
  }

  test("$search embeddedDocument: element-level compound, sum scoring") {
    val docs = Seq(
      (1L, Seq(("laptop bag", 5), ("usb cable", 2))),
      (2L, Seq(("laptop stand", 20), ("laptop case", 9))),
      (3L, Seq(("desk lamp", 7))),
      (4L, Seq.empty[(String, Int)])
    ).toDF("id", "items")
      .selectExpr("id",
        "transform(items, x -> named_struct('name', x._1, 'qty', x._2)) AS items")
    def rows(pipe: String): Seq[(Long, Double)] =
      PipelineCompiler.run(docs, pipe)
        .selectExpr("id", "searchScore").as[(Long, Double)].collect().toSeq
        .sortBy(_._1)
    // sum aggregate (default): score = matching-element count
    val out = rows("""[{"$search": {"embeddedDocument": {"path": "items",
      "operator": {"compound": {"must": [
        {"text": {"query": "laptop", "path": "items.name"}},
        {"range": {"path": "items.qty", "lt": 25}}]}}}}}]""")
    assert(out == Seq((1L, 1.0), (2L, 2.0)))
    // maximum collapses to 1 under constant element scores
    val mx = rows("""[{"$search": {"embeddedDocument": {"path": "items",
      "operator": {"text": {"query": "laptop", "path": "items.name"}},
      "score": {"embedded": {"aggregate": "maximum"}}}}}]""")
    assert(mx == Seq((1L, 1.0), (2L, 1.0)))
    // relative sub-paths resolve too; mustNot excludes within elements
    val rel = rows("""[{"$search": {"embeddedDocument": {"path": "items",
      "operator": {"compound": {
        "must": [{"text": {"query": "laptop", "path": "name"}}],
        "mustNot": [{"equals": {"path": "qty", "value": 20}}]}}}}}]""")
    assert(rel == Seq((1L, 1.0), (2L, 1.0)))
    intercept[MqlException](rows("""[{"$search": {"embeddedDocument":
      {"path": "items", "operator": {"phrase": {"query": "laptop bag",
        "path": "items.name"}}}}}]"""))
    intercept[MqlException](rows("""[{"$search": {"embeddedDocument":
      {"path": "items", "operator": {"text": {"query": "x", "path": "name"}},
       "score": {"embedded": {"aggregate": "median"}}}}}]"""))
  }
}
