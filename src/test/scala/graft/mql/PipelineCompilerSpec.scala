package graft.mql

import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkFixture

class PipelineCompilerSpec extends AnyFunSuite {
  private lazy val spark = SparkFixture.spark
  import spark.implicits._

  private lazy val people = Seq(
    (1, "ann", "eng", 10.0, Seq("a", "b")),
    (2, "bob", "eng", 20.0, Seq("b")),
    (3, "cat", "ops", 30.0, Seq.empty[String]),
    (4, "dan", "ops", 40.0, null.asInstanceOf[Seq[String]])
  ).toDF("id", "name", "dept", "score", "tags")

  private def run(p: String) = PipelineCompiler.run(people, p)

  test("$out and $merge rejected like the reference (api.py:235-240)") {
    intercept[MqlException](run("""[{"$out": "x"}]"""))
    intercept[MqlException](run("""[{"$match": {}}, {"$merge": {"into": "x"}}]"""))
  }

  test("$collStats: count form only, first stage only") {
    val r = run("""[{"$collStats": {"count": {}}}]""").collect()
    assert(r.length == 1 && r(0).getLong(0) == 4L)
    intercept[MqlException](
      run("""[{"$match": {}}, {"$collStats": {"count": {}}}]"""))
    intercept[MqlException](
      run("""[{"$collStats": {"storageStats": {}}}]"""))
  }

  test("$project exclusion mode drops columns") {
    assert(run("""[{"$project": {"tags": 0, "score": 0}}]""").columns.toSeq
      == Seq("id", "name", "dept"))
  }

  test("$project dotted inclusion rebuilds nested structs") {
    val nested = people.selectExpr("id", "named_struct('x', name, 'y', score) AS s")
    val out = PipelineCompiler.run(nested, """[{"$project": {"id": 1, "s.x": 1}}]""")
    assert(out.schema.fieldNames.toSeq == Seq("id", "s"))
    assert(out.select("s.x").as[String].collect().sorted.toSeq
      == Seq("ann", "bob", "cat", "dan"))
  }

  test("nested targets: $addFields a.b and $project exclusion a.b") {
    val nested = people.selectExpr("id", "named_struct('x', name, 'y', score) AS s")
    val added = PipelineCompiler.run(nested,
      """[{"$addFields": {"s.z": {"$multiply": ["$s.y", 2]}}}]""")
    assert(added.select("s.z").as[Double].collect().sorted.toSeq
      == Seq(20.0, 40.0, 60.0, 80.0))
    val excluded = PipelineCompiler.run(nested, """[{"$project": {"s.y": 0}}]""")
    assert(excluded.select("s.*").columns.toSeq == Seq("x"))
    assert(excluded.columns.toSeq == Seq("id", "s"))
  }

  test("$group with null _id aggregates globally") {
    val r = run("""[{"$group": {"_id": null, "total": {"$sum": "$score"}, "n": {"$count": {}}}}]""")
    val row = r.select("total", "n").head
    assert(row.getDouble(0) == 100.0 && row.getLong(1) == 4L)
  }

  test("$group compound _id exposed as struct for $_id.k refs") {
    val r = run("""[
      {"$group": {"_id": {"d": "$dept"}, "mx": {"$max": "$score"}}},
      {"$project": {"_id": 0, "dept": "$_id.d", "mx": 1}},
      {"$sort": {"dept": 1}}]""")
    assert(r.collect().map(x => (x.getString(0), x.getDouble(1))).toSeq
      == Seq(("eng", 20.0), ("ops", 40.0)))
  }

  test("$unwind drops null/empty unless preserveNullAndEmptyArrays") {
    assert(run("""[{"$unwind": "$tags"}]""").count() == 3)
    val pres = run("""[{"$unwind": {"path": "$tags", "preserveNullAndEmptyArrays": true}}]""")
    assert(pres.count() == 5) // 3 elements + id=3 (empty) + id=4 (null)
    val idx = run("""[{"$unwind": {"path": "$tags", "includeArrayIndex": "i"}}]""")
    assert(idx.where($"id" === 1).select("i").as[Long].collect().sorted.toSeq == Seq(0L, 1L))
  }

  test("$unwind nested path with includeArrayIndex") {
    val df = Seq((1L, ("a", Seq(10, 20))), (2L, ("b", Seq.empty[Int])))
      .toDF("id", "s").withColumnRenamed("s", "doc")
      .selectExpr("id", "named_struct('tag', doc._1, 'xs', doc._2) AS doc")
    val out = PipelineCompiler.run(df, """[
      {"$unwind": {"path": "$doc.xs", "includeArrayIndex": "i",
                   "preserveNullAndEmptyArrays": true}},
      {"$project": {"id": 1, "x": "$doc.xs", "i": 1}},
      {"$sort": {"id": 1, "i": 1}}]""")
    val rows = out.collect().map(r =>
      (r.getLong(0), if (r.isNullAt(1)) -1 else r.getInt(1),
        if (r.isNullAt(2)) -1L else r.getLong(2))).toSeq
    // id=2's empty array survives with null element and null index
    assert(rows == Seq((1L, 10, 0L), (1L, 20, 1L), (2L, -1, -1L)))
    intercept[MqlException](PipelineCompiler.run(df, """[
      {"$unwind": {"path": "$doc.xs", "includeArrayIndex": "a.b"}}]"""))
  }

  test("$lookup fills non-matching rows with empty array") {
    val depts = Seq(("eng", "Engineering")).toDF("code", "label")
    val out = PipelineCompiler.run(people,
      """[{"$lookup": {"from": "depts", "localField": "dept",
                       "foreignField": "code", "as": "d"}}]""",
      name => { assert(name == "depts"); depts })
    val sizes = out.selectExpr("id", "size(d)").as[(Int, Int)].collect().toMap
    assert(sizes == Map(1 -> 1, 2 -> 1, 3 -> 0, 4 -> 0))
  }

  test("$replaceRoot promotes struct fields") {
    val out = run("""[
      {"$addFields": {"wrap": {"n2": {"$toUpper": "$name"}, "s2": "$score"}}},
      {"$replaceRoot": {"newRoot": "$wrap"}}]""")
    assert(out.columns.toSeq == Seq("n2", "s2"))
    assert(out.where($"n2" === "ANN").select("s2").as[Double].head() == 10.0)
  }

  test("$unionWith merges mismatched schemas by name") {
    val other = Seq((9, "zed")).toDF("id", "name")
    val out = PipelineCompiler.run(people, """[{"$unionWith": "more"}]""", _ => other)
    assert(out.count() == 5)
    assert(out.where($"id" === 9).select("dept").head.isNullAt(0))
  }

  test("$bucketAuto above the exact threshold: no window, equal-ish buckets") {
    // force the scale path (approx_percentile boundaries + when-chain)
    spark.conf.set("spark.graft.bucketAuto.exactThreshold", "10")
    try {
      val big = spark.range(1, 1001).selectExpr("id AS v")
      val out = PipelineCompiler.run(big,
        """[{"$bucketAuto": {"groupBy": "$v", "buckets": 4}}]""")
      val plan = out.queryExecution.optimizedPlan.toString.toLowerCase
      assert(!plan.contains("window"), s"scale path must not plan a window:\n$plan")
      val rows = out.collect()
      assert(rows.length == 4)
      // each bucket holds ~250 of 1000 (approx_percentile at accuracy
      // 10000 is exact for 1000 distinct values)
      assert(rows.map(_.getLong(1)).sum == 1000L)
      rows.foreach(r => assert(math.abs(r.getLong(1) - 250L) <= 5,
        s"bucket counts should be near-equal: ${rows.mkString(",")}"))
      // buckets tile the domain in order
      val mins = rows.map(_.getStruct(0).getLong(0))
      assert(mins.sorted.sameElements(mins) && mins.head == 1L)
    } finally spark.conf.unset("spark.graft.bucketAuto.exactThreshold")
  }

  test("$bucketAuto granularity: series-rounded boundaries, degenerate " +
       "and error cases") {
    // 1..100 into 4 buckets under R20: raw boundaries 25/50/75 round up
    // to 28/56/80, min 1 down to 1, max 100 up to 100
    val vals = spark.range(1, 101).selectExpr("CAST(id AS DOUBLE) AS v")
    val out = PipelineCompiler.run(vals,
      """[{"$bucketAuto": {"groupBy": "$v", "buckets": 4,
           "granularity": "R20"}}]""").collect()
    val ids = out.map(r => (r.getStruct(0).getDouble(0), r.getStruct(0).getDouble(1)))
    // min 1 rounds down to 1; raw boundaries 25/50/75 round up onto the
    // series (25 and 50 are series values, 75 → 80); max 100 rounds to 100
    assert(ids.toSeq == Seq((1.0, 25.0), (25.0, 50.0), (50.0, 80.0), (80.0, 100.0)))
    // boundaries tile: each max equals the next min, counts cover all
    assert(ids.sliding(2).forall { case Array(a, b) => a._2 == b._1; case _ => true })
    assert(out.map(_.getLong(1)).sum == 100L)
    // POWERSOF2
    val p2 = PipelineCompiler.run(vals,
      """[{"$bucketAuto": {"groupBy": "$v", "buckets": 3,
           "granularity": "POWERSOF2"}}]""").collect()
    val p2ids = p2.map(r => (r.getStruct(0).getDouble(0), r.getStruct(0).getDouble(1)))
    assert(p2ids.head._1 == 1.0 && p2ids.last._2 == 128.0)
    p2ids.foreach { case (a, b) =>
      def pow2(x: Double) = x == 0 || math.pow(2, math.round(math.log(x) / math.log(2)).toDouble) == x
      assert(pow2(a) && pow2(b)) }
    // identical values: one bucket [v, strictly-greater series value)
    val same = Seq(5.0, 5.0, 5.0).toDF("v")
    val one = PipelineCompiler.run(same,
      """[{"$bucketAuto": {"groupBy": "$v", "buckets": 3,
           "granularity": "R5"}}]""").collect()
    assert(one.length == 1)
    assert(one.head.getStruct(0).getDouble(0) == 4.0)   // roundDown(5) in R5
    assert(one.head.getStruct(0).getDouble(1) == 6.3)
    assert(one.head.getLong(1) == 3L)
    // rejection matrix: negative values, non-numeric groupBy, bad series
    intercept[MqlException](PipelineCompiler.run(Seq(-1.0).toDF("v"),
      """[{"$bucketAuto": {"groupBy": "$v", "buckets": 2,
           "granularity": "R5"}}]""").collect())
    intercept[MqlException](PipelineCompiler.run(Seq("x").toDF("v"),
      """[{"$bucketAuto": {"groupBy": "$v", "buckets": 2,
           "granularity": "R5"}}]"""))
    intercept[MqlException](PipelineCompiler.run(vals,
      """[{"$bucketAuto": {"groupBy": "$v", "buckets": 2,
           "granularity": "R7"}}]""").collect())
    // series sanity: E96 formula values match the published table spots
    assert(PipelineCompiler.granularityRound(1.01, "E96", up = true) == 1.02)
    assert(PipelineCompiler.granularityRound(310.0, "E24", up = true) == 330.0)
    assert(PipelineCompiler.granularityRound(0.97, "R10", up = true) == 1.0)
    assert(PipelineCompiler.granularityRound(0.0, "R10", up = true) == 0.0)
  }

  test("$bucket routes out-of-range to default") {
    val out = run("""[{"$bucket": {"groupBy": "$score",
      "boundaries": [0.0, 15.0, 35.0], "default": -1.0}}]""")
    val m = out.collect().map(r => (r.getDouble(0), r.getLong(1))).toMap
    assert(m == Map(0.0 -> 1L, 15.0 -> 2L, -1.0 -> 1L))
  }

  test("$setWindowFields default window is the whole partition (Mongo), even with sortBy") {
    val out = run("""[
      {"$setWindowFields": {"partitionBy": "$dept", "sortBy": {"id": 1},
        "output": {"tot": {"$sum": "$score"}, "rk": {"$rank": {}},
                   "run": {"$sum": "$score",
                           "window": {"documents": ["unbounded", "current"]}}}}},
      {"$sort": {"id": 1}}]""")
    assert(out.select("tot").as[Double].collect().toSeq == Seq(30.0, 30.0, 70.0, 70.0))
    assert(out.select("run").as[Double].collect().toSeq == Seq(10.0, 30.0, 30.0, 70.0))
  }

  test("empty input: Mongo emits no documents for $count/global $group") {
    val empty = people.where($"id" < 0)
    assert(run("""[{"$match": {"id": -99}}, {"$count": "n"}]""").count() == 0)
    val g = PipelineCompiler.run(empty,
      """[{"$group": {"_id": null, "t": {"$sum": "$score"}}}]""")
    assert(g.count() == 0)
    // non-empty input still yields exactly one document
    assert(run("""[{"$count": "n"}]""").as[Long].head() == 4L)
    assert(run("""[{"$group": {"_id": null, "t": {"$sum": "$score"}}}]""").count() == 1)
    // Mongo-legal names that Spark's column parser would choke on
    val star = run("""[{"$count": "*"}]""")
    assert(star.columns.toSeq == Seq("*") && star.head.getLong(0) == 4L)
    // user accumulator shadowing the internal sentinel name
    val shadow = run("""[{"$group": {"_id": null, "__graft_n": {"$sum": 1}}}]""")
    assert(shadow.select("__graft_n").as[Long].head() == 4L)
  }

  test("empty input flows through transform stages without error") {
    val empty = people.where($"id" < 0)
    val stages = Seq(
      """[{"$sort": {"id": 1}}, {"$limit": 3}]""",
      """[{"$unwind": "$tags"}]""",
      """[{"$group": {"_id": "$dept", "n": {"$count": {}}}}]""",
      """[{"$project": {"id": 1, "up": {"$toUpper": "$name"}}}]""",
      """[{"$setWindowFields": {"partitionBy": "$dept", "sortBy": {"id": 1},
          "output": {"r": {"$rank": {}}}}}]""")
    stages.foreach { p =>
      assert(PipelineCompiler.run(empty, p).count() == 0, s"pipeline $p")
    }
  }

  test("filter pushdown reaches the parquet scan") {
    val dir = graft.TestDirs.temp("graft_pd").toString
    people.write.mode("overwrite").parquet(dir)
    val scan = spark.read.parquet(dir)
    val out = scan.where(FilterCompiler.compile("""{"score": {"$gt": 15.0}, "dept": "eng"}"""))
      .select("id")
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("GreaterThan(score,15.0)"),
      s"filter not pushed:\n$plan")
    // column pruning: only the needed columns are read
    assert(plan.contains("ReadSchema: struct<id:int,dept:string,score:double>"),
      s"columns not pruned:\n$plan")
  }

  test("the server-side-JavaScript surface refuses NAMING each operator " +
       "($function / $accumulator / $where) and the exclusion reason") {
    val df = spark.range(3).toDF("id")
    def msg(body: => Any): String =
      intercept[MqlException](body).getMessage
    val f = msg(PipelineCompiler.run(df,
      """[{"$project": {"x": {"$function": {"body": "f", "args": [],
         "lang": "js"}}}}]"""))
    assert(f.contains("$function") && f.contains("JavaScript is out of scope"), f)
    val a = msg(PipelineCompiler.run(df,
      """[{"$group": {"_id": null, "x": {"$accumulator": {"init": "i",
         "accumulate": "a", "merge": "m", "lang": "js"}}}}]"""))
    assert(a.contains("$accumulator") &&
      a.contains("JavaScript is out of scope"), a)
    val w = msg(PipelineCompiler.run(df,
      """[{"$match": {"$expr": {"$where": "x"}}}]"""))
    assert(w.contains("$where") && w.contains("JavaScript is out of scope"), w)
  }
}
