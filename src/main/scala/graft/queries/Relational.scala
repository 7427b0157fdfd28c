package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.api.Graft

/** The MQL / relational operator battery (SURVEY.md §2.B–C): every entry
  * runs through the engine's own compilers (FilterCompiler /
  * PipelineCompiler), so the DuckDB oracle validates the compiler output,
  * not hand-written DataFrame code.
  */
object Relational {
  private def agg(coll: String, pipeline: String)(s: SparkSession, dir: String): DataFrame =
    Graft.aggregate(s, dir, coll, pipeline)

  val all: Seq[QueryDef] = Seq(

    QueryDef("q_find_filter",
      (s, dir) => Graft.find(Graft.table(s, dir, "lineitem"),
        filter = """{"l_quantity": {"$gt": 45.0}, "l_returnflag": "R"}""",
        projection = Some("""{"l_orderkey": 1, "l_linenumber": 1, "l_quantity": 1}"""),
        // (l_orderkey, l_linenumber) is not unique in the fixture — sort
        // over every projected column for an engine-independent order
        sort = Some("""{"l_orderkey": 1, "l_linenumber": 1, "l_quantity": 1}""")),
      Some("""SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
              WHERE l_quantity > 45.0 AND l_returnflag = 'R'
              ORDER BY l_orderkey, l_linenumber, l_quantity""")),

    QueryDef("q_find_in",
      (s, dir) => Graft.find(Graft.table(s, dir, "orders"),
        filter = """{"o_orderpriority": {"$in": ["1-URGENT", "2-HIGH"]},
                     "o_orderstatus": {"$ne": "F"}}""",
        projection = Some("""{"o_orderkey": 1, "o_orderpriority": 1, "o_orderstatus": 1}"""),
        sort = Some("""{"o_orderkey": 1}""")),
      Some("""SELECT o_orderkey, o_orderpriority, o_orderstatus FROM orders
              WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')
                AND (o_orderstatus IS NULL OR o_orderstatus <> 'F')
              ORDER BY o_orderkey""")),

    QueryDef("q_find_or_range",
      (s, dir) => Graft.find(Graft.table(s, dir, "lineitem"),
        filter = """{"$or": [{"l_discount": {"$gte": 0.09}}, {"l_quantity": {"$lt": 2.0}}],
                     "l_shipdate": {"$gte": {"$date": "1995-01-01T00:00:00Z"}}}""",
        projection = Some("""{"l_orderkey": 1, "l_linenumber": 1, "l_discount": 1, "l_quantity": 1}"""),
        // (l_orderkey, l_linenumber) is NOT unique in the fixture (dup at
        // 5254/6) — tiebreak on the remaining projected columns so the
        // order is total and engine-independent
        sort = Some("""{"l_orderkey": 1, "l_linenumber": 1, "l_discount": 1, "l_quantity": 1}""")),
      Some("""SELECT l_orderkey, l_linenumber, l_discount, l_quantity FROM lineitem
              WHERE (l_discount >= 0.09 OR l_quantity < 2.0)
                AND l_shipdate >= TIMESTAMP '1995-01-01 00:00:00'
              ORDER BY l_orderkey, l_linenumber, l_discount, l_quantity""")),

    QueryDef("q_find_regex",
      (s, dir) => Graft.find(Graft.table(s, dir, "part"),
        filter = """{"p_name": {"$regex": "^large", "$options": "i"}, "p_size": {"$gte": 10}}""",
        projection = Some("""{"p_partkey": 1, "p_name": 1, "p_size": 1}"""),
        sort = Some("""{"p_partkey": 1}""")),
      Some("""SELECT p_partkey, p_name, p_size FROM part
              WHERE regexp_matches(p_name, '(?i)^large') AND p_size >= 10
              ORDER BY p_partkey""")),

    QueryDef("q_find_mod_nin",
      (s, dir) => Graft.find(Graft.table(s, dir, "lineitem"),
        filter = """{"l_partkey": {"$mod": [7, 3]},
                     "l_returnflag": {"$nin": ["N"]}}""",
        projection = Some("""{"l_orderkey": 1, "l_linenumber": 1, "l_partkey": 1, "l_returnflag": 1}"""),
        sort = Some("""{"l_orderkey": 1, "l_linenumber": 1, "l_partkey": 1, "l_returnflag": 1}""")),
      Some("""SELECT l_orderkey, l_linenumber, l_partkey, l_returnflag FROM lineitem
              WHERE l_partkey % 7 = 3
                AND NOT coalesce(l_returnflag IN ('N'), FALSE)
              ORDER BY l_orderkey, l_linenumber, l_partkey, l_returnflag""")),

    // $bits* bitmask query operators: mask-number and bit-position-array
    // forms; the DuckDB twin repeats the & arithmetic on BIGINTs
    QueryDef("q_find_bits",
      (s, dir) => Graft.find(Graft.table(s, dir, "orders"),
        filter = """{"o_custkey": {"$bitsAllSet": [0, 2], "$bitsAnyClear": 96},
                     "o_orderkey": {"$bitsAnySet": 12}}""",
        projection = Some("""{"o_orderkey": 1, "o_custkey": 1}"""),
        sort = Some("""{"o_orderkey": 1}""")),
      Some("""SELECT o_orderkey, o_custkey FROM orders
              WHERE (o_custkey & 5) = 5 AND (o_custkey & 96) <> 96
                AND (o_orderkey & 12) <> 0
              ORDER BY o_orderkey""")),

    // $geoWithin query operator inside $match ($centerSphere radians OR
    // planar $polygon); the twin repeats the identical haversine/PNPOLY
    // operation order so float decisions agree bit for bit
    QueryDef("q_find_geowithin",
      (s, dir) => Graft.aggregate(s, dir, "events", """[
        {"$addFields": {"loc": [
          {"$subtract": [{"$mod": ["$value", 180]}, 90]},
          {"$subtract": [{"$mod": ["$user_id", 120]}, 60]}]}},
        {"$match": {"$or": [
          {"loc": {"$geoWithin": {"$centerSphere": [[-30, 20], 0.3]}}},
          {"loc": {"$geoWithin": {"$polygon": [[-40, -35], [45, -25], [10, 50]]}}}]}},
        {"$project": {"event_id": 1}},
        {"$sort": {"event_id": 1}}]"""),
      Some("""WITH m AS (SELECT event_id, (value % 180) - 90 AS x,
                     CAST((user_id % 120) - 60 AS DOUBLE) AS y FROM events)
              SELECT event_id FROM m
              WHERE 2 * asin(sqrt(
                      pow(sin(radians(y - 20.0) / 2), 2) +
                      cos(radians(20.0)) * cos(radians(y)) *
                        pow(sin(radians(x - -30.0) / 2), 2))) <= 0.3
                 OR ((CASE WHEN (-35.0 > y) <> (-25.0 > y)
                       THEN CAST(x < 85.0 * (y - -35.0) / 10.0 + -40.0 AS INT)
                       ELSE 0 END) +
                     (CASE WHEN (-25.0 > y) <> (50.0 > y)
                       THEN CAST(x < -35.0 * (y - -25.0) / 75.0 + 45.0 AS INT)
                       ELSE 0 END) +
                     (CASE WHEN (50.0 > y) <> (-35.0 > y)
                       THEN CAST(x < -50.0 * (y - 50.0) / -85.0 + 10.0 AS INT)
                       ELSE 0 END)) % 2 = 1
              ORDER BY event_id""")),

    // find-only $near (GeoJSON form → meters on the R=6378100 sphere):
    // bounds checked by the gate; the implicit nearest-first order is
    // spec-pinned (an explicit sort overrides it here for determinism)
    QueryDef("q_find_near",
      (s, dir) => {
        val docs = Graft.aggregate(s, dir, "events", """[
          {"$addFields": {"loc": [
            {"$subtract": [{"$mod": ["$value", 180]}, 90]},
            {"$subtract": [{"$mod": ["$user_id", 120]}, 60]}]}}]""")
        Graft.find(docs,
          filter = """{"loc": {"$near": {"$geometry":
            {"type": "Point", "coordinates": [10, -20]},
            "$minDistance": 2000000, "$maxDistance": 7000000}}}""",
          projection = Some("""{"event_id": 1}"""),
          sort = Some("""{"event_id": 1}"""))
      },
      Some("""WITH m AS (SELECT event_id, (value % 180) - 90 AS x,
                     CAST((user_id % 120) - 60 AS DOUBLE) AS y FROM events),
                   d AS (SELECT event_id, 2 * 6378100 * asin(sqrt(
                     pow(sin(radians(y - -20.0) / 2), 2) +
                     cos(radians(-20.0)) * cos(radians(y)) *
                       pow(sin(radians(x - 10.0) / 2), 2))) AS dist FROM m)
              SELECT event_id FROM d
              WHERE dist >= 2000000 AND dist <= 7000000
              ORDER BY event_id""")),

    // $geoIntersects in $match: for point fields the polygon test is the
    // same PNPOLY arithmetic as $geoWithin.$geometry (twin repeats it)
    QueryDef("q_find_geointersects",
      (s, dir) => Graft.aggregate(s, dir, "events", """[
        {"$addFields": {"loc": [
          {"$subtract": [{"$mod": ["$value", 180]}, 90]},
          {"$subtract": [{"$mod": ["$user_id", 120]}, 60]}]}},
        {"$match": {"loc": {"$geoIntersects": {"$geometry": {"type": "Polygon",
          "coordinates": [[[-40, -35], [45, -25], [10, 50], [-40, -35]]]}}}}},
        {"$project": {"event_id": 1}},
        {"$sort": {"event_id": 1}}]"""),
      Some("""WITH m AS (SELECT event_id, (value % 180) - 90 AS x,
                     CAST((user_id % 120) - 60 AS DOUBLE) AS y FROM events)
              SELECT event_id FROM m
              WHERE ((CASE WHEN (-35.0 > y) <> (-25.0 > y)
                       THEN CAST(x < 85.0 * (y - -35.0) / 10.0 + -40.0 AS INT)
                       ELSE 0 END) +
                     (CASE WHEN (-25.0 > y) <> (50.0 > y)
                       THEN CAST(x < -35.0 * (y - -25.0) / 75.0 + 45.0 AS INT)
                       ELSE 0 END) +
                     (CASE WHEN (50.0 > y) <> (-35.0 > y)
                       THEN CAST(x < -50.0 * (y - 50.0) / -85.0 + 10.0 AS INT)
                       ELSE 0 END)) % 2 = 1
              ORDER BY event_id""")),

    // $jsonSchema validation filter (draft-4 subset): required = present,
    // missing properties pass, keyword type gates constant-fold. The twin
    // spells each property as (col IS NULL OR <keyword predicates>).
    QueryDef("q_find_jsonschema",
      (s, dir) => Graft.find(Graft.table(s, dir, "part"),
        filter = """{"$jsonSchema": {
          "required": ["p_brand", "p_size"],
          "properties": {
            "p_size": {"minimum": 10, "maximum": 40, "multipleOf": 2},
            "p_type": {"pattern": "^(ECONOMY|STANDARD)", "minLength": 5},
            "p_name": {"minLength": 5}},
          "anyOf": [{"properties": {"p_retailprice": {"maximum": 1500}}},
                    {"properties": {"p_size": {"minimum": 30}}}]}}""",
        projection = Some("""{"p_partkey": 1, "p_size": 1, "p_name": 1}"""),
        sort = Some("""{"p_partkey": 1}""")),
      Some("""SELECT p_partkey, p_size, p_name FROM part
              WHERE p_brand IS NOT NULL AND p_size IS NOT NULL
                AND (p_size IS NULL OR (p_size >= 10 AND p_size <= 40
                     AND CAST(p_size AS DOUBLE) % 2 = 0))
                AND (p_type IS NULL OR (regexp_matches(p_type, '^(ECONOMY|STANDARD)')
                     AND length(p_type) >= 5))
                AND (p_name IS NULL OR length(p_name) >= 5)
                AND ((p_retailprice IS NULL OR p_retailprice <= 1500)
                  OR (p_size IS NULL OR p_size >= 30))
              ORDER BY p_partkey""")),

    // legacy $text find operator: OR terms, -term negation, textScore =
    // Σ tf over positive clauses (the documented simplification); the
    // twin repeats the whitespace-lowercase tokenization
    QueryDef("q_find_text",
      (s, dir) => Graft.find(Graft.table(s, dir, "documents"),
        filter = """{"$text": {"$search": "spark -hive model", "$path": "text"}}""",
        projection = Some("""{"doc_id": 1, "score": {"$meta": "textScore"}}"""),
        sort = Some("""{"doc_id": 1}""")),
      Some("""WITH toks AS (SELECT doc_id,
                list_filter(string_split_regex(trim(lower(text)), '\s+'),
                            x -> x <> '') AS t FROM documents)
              SELECT doc_id,
                CAST(len(list_filter(t, x -> x = 'spark')) +
                     len(list_filter(t, x -> x = 'model')) AS DOUBLE) AS score
              FROM toks
              WHERE (list_contains(t, 'spark') OR list_contains(t, 'model'))
                AND NOT list_contains(t, 'hive')
              ORDER BY doc_id""")),

    // find collation (strength 2): string comparisons fold through
    // lower() — the twin repeats the fold; numeric predicate untouched
    QueryDef("q_find_collation",
      (s, dir) => Graft.findWithOptions(Graft.table(s, dir, "part"),
        filter = """{"p_type": {"$in": ["Economy", "STANDARD"]},
                     "p_name": {"$gte": "RED"}, "p_size": {"$lt": 30}}""",
        options = Map(
          "collation" -> """{"locale": "en", "strength": 2}"""))
        .select("p_partkey", "p_name", "p_type", "p_size")
        .orderBy("p_partkey"),
      Some("""SELECT p_partkey, p_name, p_type, p_size FROM part
              WHERE lower(p_type) IN ('economy', 'standard')
                AND lower(p_name) >= 'red' AND p_size < 30
              ORDER BY p_partkey""")),

    QueryDef("q_match_expr",
      (s, dir) => agg("lineitem", """[
        {"$match": {"$expr": {"$gt": ["$l_extendedprice",
                                      {"$multiply": [1500, "$l_quantity"]}]}}},
        {"$project": {"l_orderkey": 1, "l_linenumber": 1,
                      "l_extendedprice": 1, "l_quantity": 1}},
        {"$sort": {"l_orderkey": 1, "l_linenumber": 1,
                   "l_extendedprice": 1, "l_quantity": 1}}]""")(s, dir),
      Some("""SELECT l_orderkey, l_linenumber, l_extendedprice, l_quantity FROM lineitem
              WHERE l_extendedprice > 1500 * l_quantity
              ORDER BY l_orderkey, l_linenumber, l_extendedprice, l_quantity""")),

    QueryDef("q_project_compute",
      (s, dir) => agg("part", """[
        {"$project": {
           "p_partkey": 1,
           "name_upper": {"$toUpper": "$p_name"},
           "brand_type": {"$concat": ["$p_brand", "#", "$p_type"]},
           "half_price": {"$multiply": [0.5, "$p_retailprice"]},
           "size_class": {"$switch": {"branches": [
              {"case": {"$lt": ["$p_size", 10]}, "then": "small"},
              {"case": {"$lt": ["$p_size", 30]}, "then": "medium"}],
              "default": "big"}}}},
        {"$sort": {"p_partkey": 1}}]""")(s, dir),
      Some("""SELECT p_partkey, upper(p_name) AS name_upper,
                     p_brand || '#' || p_type AS brand_type,
                     0.5 * p_retailprice AS half_price,
                     CASE WHEN p_size < 10 THEN 'small'
                          WHEN p_size < 30 THEN 'medium'
                          ELSE 'big' END AS size_class
              FROM part ORDER BY p_partkey""")),

    QueryDef("q_project_date",
      (s, dir) => agg("orders", """[
        {"$project": {
           "o_orderkey": 1,
           "y":  {"$toLong": {"$year": "$o_orderdate"}},
           "m":  {"$toLong": {"$month": "$o_orderdate"}},
           "d":  {"$toLong": {"$dayOfMonth": "$o_orderdate"}},
           "ds": {"$dateToString": {"date": "$o_orderdate", "format": "%Y-%m-%d"}}}},
        {"$sort": {"o_orderkey": 1}}]""")(s, dir),
      Some("""SELECT o_orderkey,
                     CAST(year(o_orderdate) AS BIGINT) AS y,
                     CAST(month(o_orderdate) AS BIGINT) AS m,
                     CAST(day(o_orderdate) AS BIGINT) AS d,
                     strftime(o_orderdate, '%Y-%m-%d') AS ds
              FROM orders ORDER BY o_orderkey""")),

    // TPC-H Q1 shape — the headline aggregation
    QueryDef("q_group_pricing",
      (s, dir) => agg("lineitem", """[
        {"$match": {"l_shipdate": {"$lte": {"$date": "1998-09-01T00:00:00Z"}}}},
        {"$group": {"_id": {"rf": "$l_returnflag", "ls": "$l_linestatus"},
           "sum_qty":  {"$sum": {"$toDecimal": "$l_quantity"}},
           "sum_base": {"$sum": {"$toDecimal": "$l_extendedprice"}},
           "sum_disc_price": {"$sum": {"$multiply": [
              {"$toDecimal": "$l_extendedprice"},
              {"$toDecimal": {"$subtract": [1, "$l_discount"]}}]}},
           "n": {"$count": {}}}},
        {"$project": {"_id": 0,
           "l_returnflag": "$_id.rf", "l_linestatus": "$_id.ls",
           "sum_qty": {"$toDouble": "$sum_qty"},
           "sum_base": {"$toDouble": "$sum_base"},
           "sum_disc_price": {"$toDouble": "$sum_disc_price"},
           "avg_qty": {"$divide": [{"$toDouble": "$sum_qty"}, "$n"]},
           "n": 1}},
        {"$sort": {"l_returnflag": 1, "l_linestatus": 1}}]""")(s, dir),
      Some("""SELECT l_returnflag, l_linestatus,
                     CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
                     CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_base,
                     CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))
                              * CAST(1 - l_discount AS DECIMAL(18,4))) AS DOUBLE) AS sum_disc_price,
                     CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*) AS avg_qty,
                     CAST(COUNT(*) AS BIGINT) AS n
              FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-01 00:00:00'
              GROUP BY l_returnflag, l_linestatus
              ORDER BY l_returnflag, l_linestatus""")),

    QueryDef("q_group_year",
      (s, dir) => agg("orders", """[
        {"$group": {"_id": {"$toLong": {"$year": "$o_orderdate"}},
           "total": {"$sum": {"$toDecimal": "$o_totalprice"}},
           "n": {"$count": {}}}},
        {"$project": {"_id": 0, "y": "$_id",
           "total": {"$toDouble": "$total"}, "n": 1}},
        {"$sort": {"y": 1}}]""")(s, dir),
      Some("""SELECT CAST(year(o_orderdate) AS BIGINT) AS y,
                     CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total,
                     CAST(COUNT(*) AS BIGINT) AS n
              FROM orders GROUP BY 1 ORDER BY y""")),

    QueryDef("q_group_set_join",
      (s, dir) => agg("documents", """[
        {"$group": {"_id": "$lang", "srcs": {"$addToSet": "$source"},
                    "n": {"$count": {}}}},
        {"$project": {"_id": 0, "lang": "$_id", "n": 1,
           "sources": {"$reduce": {
              "input": {"$sortArray": {"input": "$srcs", "sortBy": 1}},
              "initialValue": "",
              "in": {"$concat": ["$$value",
                 {"$cond": [{"$eq": ["$$value", ""]}, "", "|"]}, "$$this"]}}}}},
        {"$sort": {"lang": 1}}]""")(s, dir),
      Some("""SELECT lang, CAST(COUNT(*) AS BIGINT) AS n,
                     array_to_string(list_sort(list(DISTINCT source)), '|') AS sources
              FROM documents GROUP BY lang ORDER BY lang""")),

    QueryDef("q_unwind_embed",
      (s, dir) => agg("embeddings", """[
        {"$match": {"vec_id": {"$lt": 100}}},
        {"$unwind": {"path": "$embedding", "includeArrayIndex": "idx"}},
        {"$project": {"vec_id": 1, "idx": 1, "embedding": 1}},
        {"$sort": {"vec_id": 1, "idx": 1}}]""")(s, dir),
      Some("""SELECT vec_id, CAST(generate_subscripts(embedding, 1) - 1 AS BIGINT) AS idx,
                     unnest(embedding) AS embedding
              FROM embeddings WHERE vec_id < 100 ORDER BY vec_id, idx""")),

    QueryDef("q_lookup_unwind",
      (s, dir) => agg("orders", """[
        {"$match": {"o_totalprice": {"$gt": 50000.0}}},
        {"$lookup": {"from": "customer", "localField": "o_custkey",
                     "foreignField": "c_custkey", "as": "c"}},
        {"$unwind": "$c"},
        {"$project": {"o_orderkey": 1, "o_custkey": 1,
                      "c_name": "$c.c_name", "c_acctbal": "$c.c_acctbal"}},
        {"$sort": {"o_orderkey": 1}}]""")(s, dir),
      Some("""SELECT o_orderkey, o_custkey, c_name, c_acctbal
              FROM orders JOIN customer ON o_custkey = c_custkey
              WHERE o_totalprice > 50000.0 ORDER BY o_orderkey""")),

    QueryDef("q_lookup_size",
      (s, dir) => agg("customer", """[
        {"$lookup": {"from": "orders", "localField": "c_custkey",
                     "foreignField": "o_custkey", "as": "o"}},
        {"$project": {"c_custkey": 1, "n_orders": {"$toLong": {"$size": "$o"}}}},
        {"$sort": {"c_custkey": 1}}]""")(s, dir),
      Some("""SELECT c_custkey, CAST(COUNT(o_orderkey) AS BIGINT) AS n_orders
              FROM customer LEFT JOIN orders ON c_custkey = o_custkey
              GROUP BY c_custkey ORDER BY c_custkey""")),

    QueryDef("q_sort_skip_limit",
      (s, dir) => agg("orders", """[
        {"$sort": {"o_totalprice": -1, "o_orderkey": 1}},
        {"$skip": 100}, {"$limit": 50},
        {"$project": {"o_orderkey": 1, "o_totalprice": 1}}]""")(s, dir),
      Some("""SELECT o_orderkey, o_totalprice FROM orders
              ORDER BY o_totalprice DESC, o_orderkey LIMIT 50 OFFSET 100""")),

    QueryDef("q_count",
      (s, dir) => agg("lineitem", """[
        {"$match": {"l_returnflag": "A"}},
        {"$count": "n"}]""")(s, dir),
      Some("""SELECT CAST(COUNT(*) AS BIGINT) AS n FROM lineitem
              WHERE l_returnflag = 'A'""")),

    // $collStats count form (first-stage-only, like Mongo): a 0-key
    // aggregate — over a graftdocs frame it rides the COUNT(*)
    // metadata pushdown (zero documents decoded)
    QueryDef("q_collstats",
      (s, dir) => agg("lineitem", """[
        {"$collStats": {"count": {}}}]""")(s, dir),
      Some("""SELECT CAST(COUNT(*) AS BIGINT) AS count FROM lineitem""")),

    QueryDef("q_distinct",
      (s, dir) => agg("lineitem", """[
        {"$group": {"_id": {"rf": "$l_returnflag", "ls": "$l_linestatus"}}},
        {"$project": {"_id": 0, "l_returnflag": "$_id.rf", "l_linestatus": "$_id.ls"}},
        {"$sort": {"l_returnflag": 1, "l_linestatus": 1}}]""")(s, dir),
      Some("""SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem
              ORDER BY l_returnflag, l_linestatus""")),

    QueryDef("q_bucket",
      (s, dir) => agg("part", """[
        {"$bucket": {"groupBy": "$p_size",
           "boundaries": [1, 11, 21, 31, 41, 51],
           "output": {"n": {"$sum": 1},
                      "sum_price": {"$sum": {"$toDecimal": "$p_retailprice"}}}}},
        {"$project": {"_id": 0, "bucket_lo": {"$toLong": "$_id"},
           "n": {"$toLong": "$n"},
           "sum_price": {"$toDouble": "$sum_price"}}},
        {"$sort": {"bucket_lo": 1}}]""")(s, dir),
      Some("""SELECT CAST(CASE WHEN p_size >= 1 AND p_size < 11 THEN 1
                         WHEN p_size >= 11 AND p_size < 21 THEN 11
                         WHEN p_size >= 21 AND p_size < 31 THEN 21
                         WHEN p_size >= 31 AND p_size < 41 THEN 31
                         WHEN p_size >= 41 AND p_size < 51 THEN 41 END AS BIGINT) AS bucket_lo,
                     CAST(COUNT(*) AS BIGINT) AS n,
                     CAST(SUM(CAST(p_retailprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price
              FROM part GROUP BY 1 ORDER BY bucket_lo""")),

    QueryDef("q_window_rank",
      (s, dir) => agg("orders", """[
        {"$setWindowFields": {
           "partitionBy": "$o_orderpriority",
           "sortBy": {"o_totalprice": -1, "o_orderkey": 1},
           "output": {
             "rnk": {"$documentNumber": {}},
             "running": {"$sum": {"$toDecimal": "$o_totalprice"},
                         "window": {"documents": ["unbounded", "current"]}}}}},
        {"$match": {"rnk": {"$lte": 10}}},
        {"$project": {"o_orderpriority": 1, "o_orderkey": 1,
           "rnk": {"$toLong": "$rnk"},
           "running": {"$toDouble": "$running"}}},
        {"$sort": {"o_orderpriority": 1, "rnk": 1}}]""")(s, dir),
      Some("""SELECT o_orderpriority, o_orderkey, rnk, running FROM (
                SELECT o_orderpriority, o_orderkey,
                       CAST(ROW_NUMBER() OVER w AS BIGINT) AS rnk,
                       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) OVER
                         (PARTITION BY o_orderpriority
                          ORDER BY o_totalprice DESC, o_orderkey
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running
                FROM orders
                WINDOW w AS (PARTITION BY o_orderpriority
                             ORDER BY o_totalprice DESC, o_orderkey))
              WHERE rnk <= 10 ORDER BY o_orderpriority, rnk""")),

    QueryDef("q_addfields_replaceroot",
      (s, dir) => agg("nation", """[
        {"$addFields": {"wrap": {"name": {"$toUpper": "$n_name"},
                                 "region": "$n_regionkey",
                                 "key2": {"$multiply": ["$n_nationkey", 2]}}}},
        {"$replaceWith": "$wrap"},
        {"$sort": {"name": 1}}]""")(s, dir),
      Some("""SELECT upper(n_name) AS name, n_regionkey AS region,
                     n_nationkey * 2 AS key2
              FROM nation ORDER BY name""")),

    QueryDef("q_unset",
      (s, dir) => agg("orders", """[
        {"$unset": ["o_orderdate", "o_orderpriority", "o_orderstatus"]},
        {"$sort": {"o_orderkey": 1}}]""")(s, dir),
      Some("""SELECT o_orderkey, o_custkey, o_totalprice
              FROM orders ORDER BY o_orderkey""")),

    QueryDef("q_sortbycount",
      (s, dir) => agg("documents", """[
        {"$sortByCount": "$lang"}]""")(s, dir),
      Some("""SELECT lang AS _id, CAST(COUNT(*) AS BIGINT) AS count
              FROM documents GROUP BY lang
              ORDER BY count DESC, _id""")),

    QueryDef("q_bucket_auto",
      (s, dir) => agg("part", """[
        {"$bucketAuto": {"groupBy": "$p_partkey", "buckets": 4,
           "output": {"n": {"$sum": 1},
                      "sum_price": {"$sum": {"$toDecimal": "$p_retailprice"}}}}},
        {"$project": {"_id": 0, "lo": "$_id.min", "hi": "$_id.max",
           "n": {"$toLong": "$n"}, "sum_price": {"$toDouble": "$sum_price"}}},
        {"$sort": {"lo": 1}}]""")(s, dir),
      Some("""WITH b AS (SELECT p_partkey, p_retailprice,
                                ntile(4) OVER (ORDER BY p_partkey) AS bk
                         FROM part)
              SELECT min(p_partkey) AS lo, max(p_partkey) AS hi,
                     CAST(COUNT(*) AS BIGINT) AS n,
                     CAST(SUM(CAST(p_retailprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price
              FROM b GROUP BY bk ORDER BY lo""")),

    // $bucketAuto with granularity: POWERSOF2 boundaries are DuckDB-
    // derivable (power(2, ceil/floor(log2(x))) + the strictly-increasing
    // fold + the strictUp(last)=last*2 top rule). The series rounding
    // ABSORBS the sketch-vs-exact quantile difference: on the uniform
    // p_partkey domain every raw quartile sits far from a power of two
    // at all shipped SFs, so both engines round to identical bounds.
    QueryDef("q_bucket_auto_granular",
      (s, dir) => agg("part", """[
        {"$bucketAuto": {"groupBy": "$p_partkey", "buckets": 4,
           "granularity": "POWERSOF2",
           "output": {"n": {"$sum": 1},
                      "sum_price": {"$sum": {"$toDecimal": "$p_retailprice"}}}}},
        {"$project": {"_id": 0, "lo": "$_id.min", "hi": "$_id.max",
           "n": {"$toLong": "$n"}, "sum_price": {"$toDouble": "$sum_price"}}},
        {"$sort": {"lo": 1}}]""")(s, dir),
      Some("""WITH s AS (SELECT CAST(min(p_partkey) AS DOUBLE) AS mn,
                     CAST(max(p_partkey) AS DOUBLE) AS mx,
                     CAST(quantile_disc(p_partkey, 0.25) AS DOUBLE) AS q1,
                     CAST(quantile_disc(p_partkey, 0.50) AS DOUBLE) AS q2,
                     CAST(quantile_disc(p_partkey, 0.75) AS DOUBLE) AS q3
                   FROM part),
              r AS (SELECT CASE WHEN mn <= 0 THEN 0
                                ELSE power(2, floor(log2(mn))) END AS b0,
                     list_sort(list_distinct([power(2, ceil(log2(q1))),
                                              power(2, ceil(log2(q2))),
                                              power(2, ceil(log2(q3)))])) AS rs,
                     power(2, ceil(log2(mx))) AS rt
                   FROM s),
              b AS (SELECT list_concat([b0], list_filter(rs, x -> x > b0)) AS mids,
                           rt FROM r),
              bb AS (SELECT list_concat(mids,
                       [CASE WHEN rt > mids[len(mids)] THEN rt
                             ELSE mids[len(mids)] * 2 END]) AS bounds FROM b),
              seg AS (SELECT i, bounds[i] AS lo, bounds[i+1] AS hi,
                             len(bounds) - 1 AS nb
                      FROM bb, unnest(generate_series(1, len(bounds) - 1)) AS t(i))
              SELECT seg.lo AS lo, seg.hi AS hi, CAST(COUNT(*) AS BIGINT) AS n,
                     CAST(SUM(CAST(p_retailprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price
              FROM part JOIN seg
                ON p_partkey >= seg.lo AND (p_partkey < seg.hi OR seg.i = seg.nb)
              GROUP BY seg.lo, seg.hi ORDER BY lo""")),

    QueryDef("q_percentiles",
      (s, dir) => agg("lineitem", """[
        {"$group": {"_id": "$l_returnflag",
           "pcts": {"$percentile": {"input": "$l_quantity",
                                    "p": [0.25, 0.5, 0.9], "method": "approximate"}},
           "n": {"$count": {}}}},
        {"$project": {"_id": 0, "l_returnflag": "$_id", "n": 1,
           "p25": {"$round": [{"$arrayElemAt": ["$pcts", 0]}, 6]},
           "p50": {"$round": [{"$arrayElemAt": ["$pcts", 1]}, 6]},
           "p90": {"$round": [{"$arrayElemAt": ["$pcts", 2]}, 6]}}},
        {"$sort": {"l_returnflag": 1}}]""")(s, dir),
      Some("""SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS n,
                     round(quantile_cont(l_quantity, 0.25), 6) AS p25,
                     round(quantile_cont(l_quantity, 0.50), 6) AS p50,
                     round(quantile_cont(l_quantity, 0.90), 6) AS p90
              FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""")),

    // (l_orderkey, l_linenumber) is NOT unique in the fixtures, so the
    // sort key gets a partkey tiebreak to stay total — compiled to
    // min_by/max_by because the $sort immediately precedes the $group
    QueryDef("q_group_firstlast",
      (s, dir) => agg("lineitem", """[
        {"$addFields": {"sk": {"$add": [
           {"$multiply": [{"$toLong": "$l_linenumber"}, 1000000000]},
           "$l_partkey"]}}},
        {"$sort": {"sk": 1}},
        {"$group": {"_id": "$l_orderkey",
           "first_part": {"$first": "$l_partkey"},
           "last_part": {"$last": "$l_partkey"},
           "n": {"$count": {}}}},
        {"$project": {"_id": 0, "l_orderkey": "$_id",
           "first_part": 1, "last_part": 1, "n": 1}},
        {"$sort": {"l_orderkey": 1}}]""")(s, dir),
      Some("""SELECT l_orderkey,
                     min_by(l_partkey, CAST(l_linenumber AS BIGINT)*1000000000 + l_partkey) AS first_part,
                     max_by(l_partkey, CAST(l_linenumber AS BIGINT)*1000000000 + l_partkey) AS last_part,
                     CAST(COUNT(*) AS BIGINT) AS n
              FROM lineitem GROUP BY l_orderkey ORDER BY l_orderkey""")),

    QueryDef("q_date_math",
      (s, dir) => agg("orders", """[
        {"$project": {
           "o_orderkey": 1,
           "ship_by": {"$dateAdd": {"startDate": "$o_orderdate", "unit": "day", "amount": 30}},
           "days_since": {"$dateDiff": {"startDate": {"$date": "1995-01-01T00:00:00Z"},
                                        "endDate": "$o_orderdate", "unit": "day"}},
           "months_since": {"$dateDiff": {"startDate": {"$date": "1995-01-01T00:00:00Z"},
                                          "endDate": "$o_orderdate", "unit": "month"}}}},
        {"$sort": {"o_orderkey": 1}}]""")(s, dir),
      Some("""SELECT o_orderkey,
                     o_orderdate + INTERVAL 30 DAY AS ship_by,
                     CAST(date_diff('day', TIMESTAMP '1995-01-01', o_orderdate) AS BIGINT) AS days_since,
                     CAST(date_diff('month', TIMESTAMP '1995-01-01', o_orderdate) AS BIGINT) AS months_since
              FROM orders ORDER BY o_orderkey""")),

    QueryDef("q_union",
      (s, dir) => agg("region", """[
        {"$project": {"name": "$r_name", "src": "REGION"}},
        {"$unionWith": {"coll": "nation",
           "pipeline": [{"$project": {"name": "$n_name", "src": "NATION"}}]}},
        {"$sort": {"name": 1, "src": 1}}]""")(s, dir),
      Some("""SELECT r_name AS name, 'REGION' AS src FROM region
              UNION ALL SELECT n_name, 'NATION' FROM nation
              ORDER BY name, src""")),

    // TPC-H Q18 shape end-to-end through the MQL compiler: grouped
    // having-filter → two $lookup joins → top-100. The having $group is
    // a map-side-combined aggregation; both lookups broadcast under AQE.
    QueryDef("q_tpch_q18",
      (s, dir) => agg("lineitem", """[
        {"$group": {"_id": "$l_orderkey", "qty": {"$sum": {"$toDecimal": "$l_quantity"}}}},
        {"$match": {"$expr": {"$gt": ["$qty", 250]}}},
        {"$lookup": {"from": "orders", "localField": "_id",
                     "foreignField": "o_orderkey", "as": "o"}},
        {"$unwind": "$o"},
        {"$lookup": {"from": "customer", "localField": "o.o_custkey",
                     "foreignField": "c_custkey", "as": "c"}},
        {"$unwind": "$c"},
        {"$project": {"_id": 0, "c_name": "$c.c_name", "c_custkey": "$c.c_custkey",
                      "o_orderkey": "$o.o_orderkey", "o_totalprice": "$o.o_totalprice",
                      "qty": {"$toDouble": "$qty"}}},
        {"$sort": {"o_totalprice": -1, "o_orderkey": 1}},
        {"$limit": 100}]""")(s, dir),
      Some("""WITH q AS (SELECT l_orderkey,
                       SUM(CAST(l_quantity AS DECIMAL(18,4))) AS qty
                     FROM lineitem GROUP BY l_orderkey
                     HAVING qty > 250)
              SELECT c_name, c_custkey, o_orderkey, o_totalprice,
                     CAST(qty AS DOUBLE) AS qty
              FROM q JOIN orders ON o_orderkey = l_orderkey
                     JOIN customer ON c_custkey = o_custkey
              ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""")),

    // time-unit range window: trailing 1-hour decimal-exact sum per user
    // (sortBy a timestamp + unit scales the range bounds to micros)
    QueryDef("q_window_timerange",
      (s, dir) => agg("events", """[
        {"$setWindowFields": {"partitionBy": "$user_id", "sortBy": {"ts": 1},
           "output": {"trail": {"$sum": {"$toDecimal": "$value"},
             "window": {"range": [-1, 0], "unit": "hour"}}}}},
        {"$project": {"_id": 0, "event_id": 1, "user_id": 1,
                      "trail": {"$toDouble": "$trail"}}},
        {"$sort": {"event_id": 1}}]""")(s, dir),
      Some("""SELECT event_id, user_id,
                     CAST(SUM(CAST(value AS DECIMAL(18,4))) OVER (
                       PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP)
                       RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW)
                       AS DOUBLE) AS trail
              FROM events ORDER BY event_id""")),

    // $graphLookup ancestors over a derived binary-tree hierarchy
    // (parent = user_id div 2): bounded BFS vs a recursive CTE. Depth d
    // is the BFS round of first reach (0 = startWith match).
    QueryDef("q_graphlookup",
      (s, dir) => {
        import org.apache.spark.sql.functions.{col, expr}
        val users = Graft.table(s, dir, "events")
          .where(col("user_id") >= 1)
          .select(col("user_id")).distinct()
          .withColumn("parent", expr("user_id div 2"))
        graft.mql.PipelineCompiler.run(users, """[
          {"$graphLookup": {"from": "users", "startWith": "$parent",
            "connectFromField": "parent", "connectToField": "user_id",
            "as": "anc", "maxDepth": 2, "depthField": "d"}},
          {"$unwind": "$anc"},
          {"$project": {"user_id": 1, "anc_id": "$anc.user_id", "depth": "$anc.d"}},
          {"$sort": {"user_id": 1, "depth": 1}}]""", _ => users)
      },
      Some("""WITH RECURSIVE u AS (
                SELECT DISTINCT user_id, user_id // 2 AS parent FROM events
                WHERE user_id >= 1),
              anc AS (
                SELECT c.user_id AS user_id, p.user_id AS anc_id,
                       p.parent AS nxt, 0 AS depth
                FROM u c JOIN u p ON p.user_id = c.parent
                UNION ALL
                SELECT a.user_id, p.user_id, p.parent, a.depth + 1
                FROM anc a JOIN u p ON p.user_id = a.nxt
                WHERE a.depth < 2)
              SELECT user_id, anc_id, CAST(depth AS BIGINT) AS depth
              FROM anc ORDER BY user_id, depth""")),

    // $topN accumulator + $unwind includeArrayIndex: per-group top-k in
    // one grouped aggregation (no global sort)
    QueryDef("q_topn_group",
      (s, dir) => agg("lineitem", """[
        {"$group": {"_id": "$l_returnflag",
           "top3": {"$topN": {"output": "$l_orderkey",
                    "sortBy": {"l_extendedprice": -1, "l_orderkey": 1}, "n": 3}}}},
        {"$unwind": {"path": "$top3", "includeArrayIndex": "pos"}},
        {"$project": {"_id": 0, "flag": "$_id", "pos": 1, "okey": "$top3"}},
        {"$sort": {"flag": 1, "pos": 1}}]""")(s, dir),
      Some("""SELECT flag, pos, okey FROM (
                SELECT l_returnflag AS flag, l_orderkey AS okey,
                       CAST(ROW_NUMBER() OVER (PARTITION BY l_returnflag
                         ORDER BY l_extendedprice DESC, l_orderkey) - 1 AS BIGINT) AS pos
                FROM lineitem)
              WHERE pos <= 2 ORDER BY flag, pos""")),

    // $fill locf + $shift with out-of-bounds default (nulls synthesized
    // on every 7th event so locf has gaps to carry over)
    QueryDef("q_fill_shift",
      (s, dir) => agg("events", """[
        {"$set": {"v": {"$cond": [{"$eq": [{"$mod": ["$event_id", 7]}, 0]},
                                  null, "$value"]}}},
        {"$fill": {"partitionBy": "$user_id", "sortBy": {"event_id": 1},
                   "output": {"v": {"method": "locf"}}}},
        {"$setWindowFields": {"partitionBy": "$user_id", "sortBy": {"event_id": 1},
           "output": {"nxt": {"$shift": {"output": "$value", "by": 1,
                                         "default": -1.0}}}}},
        {"$project": {"_id": 0, "event_id": 1, "user_id": 1, "v": 1, "nxt": 1}},
        {"$sort": {"event_id": 1}}]""")(s, dir),
      Some("""SELECT event_id, user_id,
                     last_value(CASE WHEN event_id % 7 = 0 THEN NULL ELSE value END
                                IGNORE NULLS)
                       OVER (PARTITION BY user_id ORDER BY event_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v,
                     lead(value, 1, -1.0)
                       OVER (PARTITION BY user_id ORDER BY event_id) AS nxt
              FROM events ORDER BY event_id""")),

    // $densify over a day-of-month grid per event_type ("full" bounds =
    // global min..max for every partition); generated rows carry null
    // event_id, so the post-group count distinguishes real from filled
    QueryDef("q_densify_day",
      (s, dir) => agg("events", """[
        {"$set": {"day": {"$dayOfMonth": "$ts"}}},
        {"$densify": {"field": "day", "partitionByFields": ["event_type"],
                      "range": {"step": 1, "bounds": "full"}}},
        {"$set": {"has": {"$cond": [{"$eq": ["$event_id", null]}, 0, 1]}}},
        {"$group": {"_id": {"type": "$event_type", "day": "$day"},
                    "n": {"$sum": "$has"}}},
        {"$project": {"_id": 0, "event_type": "$_id.type",
                      "day": {"$toLong": "$_id.day"}, "n": {"$toLong": "$n"}}},
        {"$sort": {"event_type": 1, "day": 1}}]""")(s, dir),
      Some("""WITH e AS (SELECT event_type,
                       CAST(day(CAST(ts AS TIMESTAMP)) AS BIGINT) AS day FROM events),
              b AS (SELECT min(day) AS lo, max(day) AS hi FROM e),
              t AS (SELECT DISTINCT event_type FROM e),
              g AS (SELECT t.event_type, gs.day
                    FROM t, (SELECT unnest(range((SELECT lo FROM b),
                                                 (SELECT hi FROM b) + 1)) AS day) gs),
              c AS (SELECT event_type, day, CAST(COUNT(*) AS BIGINT) AS n
                    FROM e GROUP BY 1, 2)
              SELECT g.event_type, g.day, COALESCE(c.n, 0) AS n
              FROM g LEFT JOIN c USING (event_type, day)
              ORDER BY event_type, day""")),

    // $documents replaces the input with literal docs (first stage only)
    QueryDef("q_documents",
      (s, dir) => agg("region", """[
        {"$documents": [
          {"k": 1, "name": "alpha", "score": 1.5},
          {"k": 2, "name": "beta",  "score": 2.5},
          {"k": 3, "name": "gamma", "score": -1.0}]},
        {"$project": {"k": {"$toLong": "$k"}, "name": 1, "score": 1}},
        {"$sort": {"k": 1}}]""")(s, dir),
      Some("""SELECT * FROM (VALUES
                (CAST(1 AS BIGINT), 'alpha', CAST(1.5 AS DOUBLE)),
                (CAST(2 AS BIGINT), 'beta',  CAST(2.5 AS DOUBLE)),
                (CAST(3 AS BIGINT), 'gamma', CAST(-1.0 AS DOUBLE)))
              AS t(k, name, score) ORDER BY k""")),

    // $convert with onError fallback: "3-MEDIUM" fails int parse → -1,
    // its leading digit parses → 3; round-trip long → string succeeds
    QueryDef("q_convert",
      (s, dir) => agg("orders", """[
        {"$project": {"o_orderkey": 1,
          "pri": {"$convert": {"input": "$o_orderpriority", "to": "int",
                               "onError": -1}},
          "key_str": {"$convert": {"input": "$o_orderkey", "to": "string"}},
          "pri_digit": {"$convert": {"input": {"$substrCP": ["$o_orderpriority", 0, 1]},
                                     "to": "long", "onError": -2}}}},
        {"$project": {"o_orderkey": 1, "pri": {"$toLong": "$pri"},
                      "key_str": 1, "pri_digit": 1}},
        {"$sort": {"o_orderkey": 1}}]""")(s, dir),
      Some("""SELECT o_orderkey,
                     CAST(coalesce(TRY_CAST(o_orderpriority AS INTEGER), -1) AS BIGINT) AS pri,
                     CAST(o_orderkey AS VARCHAR) AS key_str,
                     coalesce(TRY_CAST(substr(o_orderpriority, 1, 1) AS BIGINT), -2) AS pri_digit
              FROM orders ORDER BY o_orderkey""")),

    // correlated $lookup with a sub-pipeline pre-filter on the foreign side
    QueryDef("q_lookup_pipeline",
      (s, dir) => agg("orders", """[
        {"$lookup": {"from": "lineitem", "localField": "o_orderkey",
           "foreignField": "l_orderkey", "as": "big_items",
           "pipeline": [{"$match": {"l_quantity": {"$gte": 30.0}}}]}},
        {"$project": {"o_orderkey": 1,
                      "n_big": {"$toLong": {"$size": "$big_items"}}}},
        {"$sort": {"o_orderkey": 1}}]""")(s, dir),
      Some("""SELECT o.o_orderkey, CAST(count(l.l_orderkey) AS BIGINT) AS n_big
              FROM orders o LEFT JOIN lineitem l
                ON l.l_orderkey = o.o_orderkey AND l.l_quantity >= 30.0
              GROUP BY o.o_orderkey ORDER BY o.o_orderkey""")),

    // correlated $lookup (let + $expr): per-event orders of the same
    // user below an event-derived price cap — equality conjunct becomes
    // the hash-join key, the inequality rides along as a join filter
    QueryDef("q_lookup_let",
      (s, dir) => agg("events", """[
        {"$lookup": {"from": "orders", "as": "m",
           "let": {"uid": "$user_id",
                   "cap": {"$multiply": ["$value", 1000]}},
           "pipeline": [
             {"$match": {"$expr": {"$and": [
               {"$eq": ["$o_custkey", "$$uid"]},
               {"$lt": ["$o_totalprice", "$$cap"]}]}}}]}},
        {"$project": {"_id": 0, "event_id": 1, "n": {"$size": "$m"}}},
        {"$sort": {"event_id": 1}}]""")(s, dir),
      Some("""SELECT e.event_id,
                     CAST((SELECT COUNT(*) FROM orders o
                           WHERE o.o_custkey = e.user_id
                             AND o.o_totalprice < e.value * 1000) AS INT) AS n
              FROM events e ORDER BY event_id""")),

    // ARRAY-valued localField (Mongo: matches foreign docs whose scalar
    // foreignField equals ANY element, no $unwind needed) — compiled as
    // explode(distinct) → hash join → flatten+dedup regroup
    QueryDef("q_lookup_array",
      (s, dir) => agg("events", """[
        {"$project": {"event_id": 1,
           "keys": ["$user_id", {"$add": ["$user_id", 1]}]}},
        {"$lookup": {"from": "orders", "localField": "keys",
           "foreignField": "o_custkey", "as": "m"}},
        {"$project": {"event_id": 1, "n": {"$size": "$m"},
           "tot": {"$round": [{"$sum":
             {"$map": {"input": "$m", "in": "$$this.o_totalprice"}}}, 2]}}},
        {"$sort": {"event_id": 1}}]""")(s, dir),
      Some("""SELECT e.event_id,
                CAST((SELECT COUNT(*) FROM orders o
                      WHERE o.o_custkey = e.user_id
                         OR o.o_custkey = e.user_id + 1) AS INT) AS n,
                (SELECT round(coalesce(sum(o.o_totalprice), 0.0), 2)
                 FROM orders o
                 WHERE o.o_custkey = e.user_id
                    OR o.o_custkey = e.user_id + 1) AS tot
              FROM events e ORDER BY event_id""")),

    // the SAME array-localField lookup under the uniqueKey assertion
    // (event_id is unique+non-null): the regroup row id is the key
    // column itself, so the plan carries NO monotonically_increasing_id
    // + localCheckpoint freeze — the 100×-scale fix; results must be
    // byte-identical to the keyless twin (same oracle as q_lookup_array)
    QueryDef("q_lookup_unique",
      (s, dir) => Graft.aggregate(s, dir, "events", """[
        {"$project": {"event_id": 1,
           "keys": ["$user_id", {"$add": ["$user_id", 1]}]}},
        {"$lookup": {"from": "orders", "localField": "keys",
           "foreignField": "o_custkey", "as": "m"}},
        {"$project": {"event_id": 1, "n": {"$size": "$m"},
           "tot": {"$round": [{"$sum":
             {"$map": {"input": "$m", "in": "$$this.o_totalprice"}}}, 2]}}},
        {"$sort": {"event_id": 1}}]""", Some("event_id")),
      Some("""SELECT e.event_id,
                CAST((SELECT COUNT(*) FROM orders o
                      WHERE o.o_custkey = e.user_id
                         OR o.o_custkey = e.user_id + 1) AS INT) AS n,
                (SELECT round(coalesce(sum(o.o_totalprice), 0.0), 2)
                 FROM orders o
                 WHERE o.o_custkey = e.user_id
                    OR o.o_custkey = e.user_id + 1) AS tot
              FROM events e ORDER BY event_id""")),

    // the SAME lookup through a CATALOG collection carrying a
    // PERSISTED unique-key declaration (setUniqueKey → the sidecar's
    // `uniquekey` option): Db.aggregate auto-engages the keyless-
    // freeze-free path — no uniqueKey argument at the call site, no
    // monotonically_increasing_id/localCheckpoint in the plan
    // (plan-asserted in GraftCatalogSpec); same oracle as the twins
    QueryDef("q_lookup_catalog",
      (s, dir) => {
        val root = Staging.scratch("graft_lkcat")
          .toString
        val st = new graft.sinks.DocStore(s, root, "graftdocs")
        st.write(Graft.table(s, dir, "events")
          .select("event_id", "user_id"), "events")
        st.write(Graft.table(s, dir, "orders")
          .select("o_custkey", "o_totalprice"), "orders")
        val cat = s"graftlk${System.nanoTime()}"
        s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
        s.conf.set(s"spark.sql.catalog.$cat.dir", root)
        val db = Graft.Db(s, cat)
        db.setUniqueKey("events", "event_id")
        db.aggregate("events", """[
          {"$project": {"event_id": 1,
             "keys": ["$user_id", {"$add": ["$user_id", 1]}]}},
          {"$lookup": {"from": "orders", "localField": "keys",
             "foreignField": "o_custkey", "as": "m"}},
          {"$project": {"event_id": 1, "n": {"$size": "$m"},
             "tot": {"$round": [{"$sum":
               {"$map": {"input": "$m", "in": "$$this.o_totalprice"}}}, 2]}}},
          {"$sort": {"event_id": 1}}]""")
      },
      Some("""SELECT e.event_id,
                CAST((SELECT COUNT(*) FROM orders o
                      WHERE o.o_custkey = e.user_id
                         OR o.o_custkey = e.user_id + 1) AS INT) AS n,
                (SELECT round(coalesce(sum(o.o_totalprice), 0.0), 2)
                 FROM orders o
                 WHERE o.o_custkey = e.user_id
                    OR o.o_custkey = e.user_id + 1) AS tot
              FROM events e ORDER BY event_id""")),

    // correlated $lookup with SUFFIX stages after the join $match (the
    // Mongo-docs canonical shape): $sort/$limit/$project compile to
    // array ops on the collected match array — comparator array_sort,
    // slice, element-struct rebuild — never a per-left-row re-execution
    QueryDef("q_lookup_let_suffix",
      (s, dir) => agg("events", """[
        {"$lookup": {"from": "orders", "as": "m",
           "let": {"uid": "$user_id",
                   "cap": {"$multiply": ["$value", 1000]}},
           "pipeline": [
             {"$match": {"$expr": {"$and": [
               {"$eq": ["$o_custkey", "$$uid"]},
               {"$lt": ["$o_totalprice", "$$cap"]}]}}},
             {"$sort": {"o_totalprice": -1, "o_orderkey": 1}},
             {"$limit": 3},
             {"$project": {"o_orderkey": 1, "o_totalprice": 1}}]}},
        {"$project": {"_id": 0, "event_id": 1,
           "n_top": {"$size": "$m"},
           "best": {"$arrayElemAt": [
             {"$map": {"input": "$m", "in": "$$this.o_orderkey"}}, 0]},
           "top_sum": {"$round": [{"$sum":
             {"$map": {"input": "$m", "in": "$$this.o_totalprice"}}}, 2]}}},
        {"$sort": {"event_id": 1}}]""")(s, dir),
      Some("""SELECT e.event_id,
                (SELECT CAST(count(*) AS INT) FROM (
                   SELECT 1 FROM orders o
                   WHERE o.o_custkey = e.user_id
                     AND o.o_totalprice < e.value * 1000
                   ORDER BY o.o_totalprice DESC, o.o_orderkey LIMIT 3) t) AS n_top,
                (SELECT o.o_orderkey FROM orders o
                   WHERE o.o_custkey = e.user_id
                     AND o.o_totalprice < e.value * 1000
                   ORDER BY o.o_totalprice DESC, o.o_orderkey LIMIT 1) AS best,
                (SELECT round(coalesce(sum(p), 0.0), 2) FROM (
                   SELECT o.o_totalprice AS p FROM orders o
                   WHERE o.o_custkey = e.user_id
                     AND o.o_totalprice < e.value * 1000
                   ORDER BY o.o_totalprice DESC, o.o_orderkey LIMIT 3) t) AS top_sum
              FROM events e ORDER BY event_id""")),

    // $facet: two branches over the same input; the group branch is
    // unwound back to rows, the top-N branch is folded to a scalar via
    // $map/$sortArray/$reduce ($sortArray because collect_list order is
    // partition-nondeterministic)
    QueryDef("q_facet",
      (s, dir) => agg("nation", """[
        {"$facet": {
           "byRegion": [{"$group": {"_id": "$n_regionkey", "n": {"$count": {}}}}],
           "names":    [{"$sort": {"n_nationkey": 1}}, {"$limit": 3},
                        {"$project": {"n_name": 1}}]}},
        {"$project": {"byRegion": 1,
           "nameList": {"$sortArray": {"input":
             {"$map": {"input": "$names", "in": "$$this.n_name"}}, "sortBy": 1}}}},
        {"$unwind": "$byRegion"},
        {"$project": {"regionkey": "$byRegion._id", "n": "$byRegion.n",
           "names_joined": {"$reduce": {"input": "$nameList", "initialValue": "",
             "in": {"$concat": ["$$value", "|", "$$this"]}}}}},
        {"$sort": {"regionkey": 1}}]""")(s, dir),
      Some("""WITH br AS (SELECT n_regionkey AS regionkey,
                                 CAST(count(*) AS BIGINT) AS n
                          FROM nation GROUP BY n_regionkey),
                   nm AS (SELECT '|' || string_agg(n_name, '|' ORDER BY n_name)
                            AS names_joined
                          FROM (SELECT n_name FROM nation
                                ORDER BY n_nationkey LIMIT 3))
              SELECT br.regionkey, br.n, nm.names_joined
              FROM br, nm ORDER BY br.regionkey""")),

    // nested-path $unwind: the array lives one struct level down and is
    // replaced in place by each element (golden-twin of the reference's
    // nested flow, test_arrow.py:586-599)
    QueryDef("q_unwind_nested",
      (s, dir) => agg("orders", """[
        {"$project": {"o_orderkey": 1,
           "wrap": {"parts": {"$split": ["$o_orderpriority", "-"]}}}},
        {"$unwind": "$wrap.parts"},
        {"$project": {"o_orderkey": 1, "word": "$wrap.parts"}},
        {"$sort": {"o_orderkey": 1, "word": 1}}]""")(s, dir),
      Some("""SELECT o_orderkey,
                     unnest(string_split(o_orderpriority, '-')) AS word
              FROM orders ORDER BY o_orderkey, word""")),

    // $firstN/$lastN: document order from the preceding uniform $sort;
    // array elements projected out as scalars (driver compare is
    // column-wise)
    QueryDef("q_firstn_group",
      (s, dir) => agg("orders", """[
        {"$sort": {"o_orderkey": 1}},
        {"$group": {"_id": "$o_orderstatus",
           "first3": {"$firstN": {"input": "$o_totalprice", "n": 3}},
           "last2":  {"$lastN":  {"input": "$o_totalprice", "n": 2}}}},
        {"$project": {"_id": 0, "o_orderstatus": "$_id",
           "f0": {"$arrayElemAt": ["$first3", 0]},
           "f2": {"$arrayElemAt": ["$first3", 2]},
           "l1": {"$arrayElemAt": ["$last2", -1]},
           "nf": {"$toLong": {"$size": "$first3"}}}},
        {"$sort": {"o_orderstatus": 1}}]""")(s, dir),
      Some("""WITH l AS (SELECT o_orderstatus,
                     list(o_totalprice ORDER BY o_orderkey) AS lst
                   FROM orders GROUP BY o_orderstatus)
              SELECT o_orderstatus, lst[1] AS f0, lst[3] AS f2,
                     lst[-1] AS l1,
                     CAST(least(len(lst), 3) AS BIGINT) AS nf
              FROM l ORDER BY o_orderstatus""")),

    // $percentRank / $derivative / $integral over the event_id axis
    // (unique per user → fully deterministic ordering)
    QueryDef("q_window_calculus",
      (s, dir) => agg("events", """[
        {"$setWindowFields": {"partitionBy": "$user_id",
          "sortBy": {"event_id": 1},
          "output": {
            "pr": {"$percentRank": {}},
            "dv": {"$derivative": {"input": "$value"},
                   "window": {"documents": [-1, 0]}},
            "ar": {"$integral": {"input": "$value"},
                   "window": {"documents": ["unbounded", "current"]}}}}},
        {"$project": {"_id": 0, "event_id": 1, "user_id": 1,
           "pr": {"$round": ["$pr", 6]},
           "dv": {"$cond": [{"$eq": ["$dv", null]}, -1.0, {"$round": ["$dv", 6]}]},
           "ar": {"$round": ["$ar", 6]}}},
        {"$sort": {"event_id": 1}}]""")(s, dir),
      Some("""WITH w AS (
                SELECT event_id, user_id, value,
                       percent_rank() OVER (PARTITION BY user_id ORDER BY event_id) AS pr,
                       lag(value) OVER (PARTITION BY user_id ORDER BY event_id) AS pv,
                       lag(event_id) OVER (PARTITION BY user_id ORDER BY event_id) AS pid
                FROM events),
              t AS (SELECT event_id, user_id, pr,
                       CASE WHEN pid IS NULL THEN NULL
                            ELSE (value - pv) / (event_id - pid) END AS dv,
                       CASE WHEN pid IS NULL THEN 0.0
                            ELSE (value + pv) / 2 * (event_id - pid) END AS trap
                    FROM w)
              SELECT event_id, user_id, round(pr, 6) AS pr,
                     coalesce(round(dv, 6), -1.0) AS dv,
                     round(sum(trap) OVER (PARTITION BY user_id ORDER BY event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6) AS ar
              FROM t ORDER BY event_id""")),

    // $replaceOne (first occurrence only — DuckDB regexp_replace is
    // non-global by default) + byte-indexed $indexOfBytes
    QueryDef("q_string_ops",
      (s, dir) => agg("orders", """[
        {"$project": {"o_orderkey": 1,
          "pri2": {"$replaceOne": {"input": "$o_orderpriority",
                                   "find": "-", "replacement": "_"}},
          "dash_at": {"$toLong": {"$indexOfBytes": ["$o_orderpriority", "-"]}}}},
        {"$sort": {"o_orderkey": 1}}]""")(s, dir),
      Some("""SELECT o_orderkey,
                     regexp_replace(o_orderpriority, '-', '_') AS pri2,
                     CAST(strpos(o_orderpriority, '-') - 1 AS BIGINT) AS dash_at
              FROM orders ORDER BY o_orderkey""")),

    // $locf / $linearFill as $setWindowFields output operators (the
    // window-op twins of $fill's methods); nulls planted every 5th event
    QueryDef("q_window_fill",
      (s, dir) => agg("events", """[
        {"$set": {"v": {"$cond": [{"$eq": [{"$mod": ["$event_id", 5]}, 0]},
                                  null, "$value"]}}},
        {"$setWindowFields": {"partitionBy": "$user_id",
           "sortBy": {"event_id": 1},
           "output": {"v_locf": {"$locf": "$v"},
                      "v_lin":  {"$linearFill": "$v"}}}},
        {"$project": {"_id": 0, "event_id": 1, "user_id": 1,
           "v_locf": {"$round": ["$v_locf", 6]},
           "v_lin":  {"$round": ["$v_lin", 6]}}},
        {"$sort": {"event_id": 1}}]""")(s, dir),
      Some("""WITH t AS (SELECT event_id, user_id,
                  CASE WHEN event_id % 5 = 0 THEN NULL ELSE value END AS v,
                  CAST(event_id AS DOUBLE) AS s
                FROM events),
              w AS (SELECT event_id, user_id, v, s,
                  last_value(v IGNORE NULLS) OVER (PARTITION BY user_id
                    ORDER BY event_id ROWS BETWEEN UNBOUNDED PRECEDING
                    AND CURRENT ROW) AS v_locf,
                  last_value(v IGNORE NULLS) OVER (PARTITION BY user_id
                    ORDER BY event_id ROWS BETWEEN UNBOUNDED PRECEDING
                    AND CURRENT ROW) AS pv,
                  last_value(CASE WHEN v IS NOT NULL THEN s END IGNORE NULLS)
                    OVER (PARTITION BY user_id ORDER BY event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ps,
                  first_value(v IGNORE NULLS) OVER (PARTITION BY user_id
                    ORDER BY event_id ROWS BETWEEN CURRENT ROW
                    AND UNBOUNDED FOLLOWING) AS nv,
                  first_value(CASE WHEN v IS NOT NULL THEN s END IGNORE NULLS)
                    OVER (PARTITION BY user_id ORDER BY event_id
                    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS ns
                FROM t)
            SELECT event_id, user_id, round(v_locf, 6) AS v_locf,
                   round(CASE WHEN v IS NOT NULL THEN v
                              WHEN pv IS NOT NULL AND nv IS NOT NULL
                              THEN pv + (nv - pv) * (s - ps) / (ns - ps)
                         END, 6) AS v_lin
            FROM w ORDER BY event_id""")),

    // n-value / percentile accumulators as window operators: $median,
    // $minN (ascending, null-skipping), $firstN (document order per the
    // window sortBy) over the whole partition. Array results are unpacked
    // to scalar columns ($arrayElemAt / DuckDB list index): the driver's
    // pandas-side sort cannot order ndarray cells, so array-valued output
    // columns would error the gate before comparison.
    QueryDef("q_window_acc",
      (s, dir) => agg("events", """[
        {"$setWindowFields": {"partitionBy": "$user_id",
           "sortBy": {"event_id": 1},
           "output": {
             "med":    {"$median": {"input": "$value", "method": "approximate"}},
             "med3":   {"$median": {"input": "$value", "method": "approximate"},
                        "window": {"documents": [-2, 0]}},
             "low2":   {"$minN":   {"input": "$value", "n": 2}},
             "first2": {"$firstN": {"input": "$event_id", "n": 2}}}}},
        {"$project": {"_id": 0, "event_id": 1, "user_id": 1,
           "med": {"$round": ["$med", 6]},
           "med3": {"$round": ["$med3", 6]},
           "low2_a":   {"$round": [{"$arrayElemAt": ["$low2", 0]}, 6]},
           "low2_b":   {"$round": [{"$arrayElemAt": ["$low2", 1]}, 6]},
           "first2_a": {"$arrayElemAt": ["$first2", 0]},
           "first2_b": {"$arrayElemAt": ["$first2", 1]}}},
        {"$sort": {"event_id": 1}}]""")(s, dir),
      Some("""WITH w AS (SELECT event_id, user_id,
                round(median(value) OVER (PARTITION BY user_id), 6) AS med,
                round(median(value) OVER (PARTITION BY user_id
                   ORDER BY event_id
                   ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 6) AS med3,
                list_sort(list(value) OVER (PARTITION BY user_id)) AS low2,
                list(event_id) OVER (PARTITION BY user_id ORDER BY event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
                  AS first2
              FROM events)
              SELECT event_id, user_id, med, med3,
                round(low2[1], 6) AS low2_a, round(low2[2], 6) AS low2_b,
                first2[1] AS first2_a, first2[2] AS first2_b
              FROM w ORDER BY event_id""")),

    // $dateToParts, both calendar and iso8601 shapes, flattened via
    // nested-path refs (DuckDB: year/isoyear/isodow twins)
    QueryDef("q_date_parts",
      (s, dir) => agg("orders", """[
        {"$project": {"_id": 0, "o_orderkey": 1,
           "p": {"$dateToParts": {"date": "$o_orderdate"}},
           "i": {"$dateToParts": {"date": "$o_orderdate", "iso8601": true}}}},
        {"$project": {"o_orderkey": 1,
           "y": "$p.year", "m": "$p.month", "d": "$p.day",
           "iso_y": "$i.isoWeekYear", "iso_w": "$i.isoWeek",
           "iso_d": "$i.isoDayOfWeek"}},
        {"$sort": {"o_orderkey": 1}}]""")(s, dir),
      Some("""SELECT o_orderkey,
                CAST(year(o_orderdate) AS INT) AS y,
                CAST(month(o_orderdate) AS INT) AS m,
                CAST(day(o_orderdate) AS INT) AS d,
                CAST(isoyear(o_orderdate) AS INT) AS iso_y,
                CAST(weekofyear(o_orderdate) AS INT) AS iso_w,
                CAST(isodow(o_orderdate) AS INT) AS iso_d
              FROM orders ORDER BY o_orderkey""")),

    // as-of join (latest order at or before each event, per user):
    // union + one keyed window pass — single shuffle, no row explosion.
    // The oracle is the rank-then-filter formulation it replaces.
    QueryDef("q_asof_join",
      (s, dir) => {
        import org.apache.spark.sql.functions.col
        val e = Graft.table(s, dir, "events")
        val o = Graft.table(s, dir, "orders")
        graft.operators.AsOfJoin.latestPrior(e, o,
          leftKey = "user_id", rightKey = "o_custkey",
          leftTs = "ts", rightTs = "o_orderdate",
          payload = Seq("o_orderkey", "o_totalprice"), tiebreak = "o_orderkey")
          .select(col("event_id"), col("user_id"),
            col("o_orderkey").as("order_key"),
            col("o_totalprice").as("order_price"))
          .orderBy("event_id")
      },
      Some("""WITH c AS (
                SELECT e.event_id, e.user_id, o.o_orderkey, o.o_totalprice,
                       ROW_NUMBER() OVER (PARTITION BY e.event_id
                         ORDER BY o.o_orderdate DESC, o.o_orderkey DESC) AS rn
                FROM events e LEFT JOIN orders o
                  ON e.user_id = o.o_custkey AND o.o_orderdate <= e.ts)
              SELECT event_id, user_id, o_orderkey AS order_key,
                     o_totalprice AS order_price
              FROM c WHERE rn = 1 ORDER BY event_id""")),

    // $bsonSize over a projected document: the twin re-derives the BSON
    // wire size arithmetically (4-byte length + per-element tag + cstring
    // name + value + terminator), pinning the sink encoder's layout
    QueryDef("q_bson_size",
      (s, dir) => agg("nation", """[
        {"$project": {"n_nationkey": 1,
          "sz": {"$bsonSize": {"name": "$n_name", "rk": "$n_regionkey"}}}},
        {"$sort": {"n_nationkey": 1}}]""")(s, dir),
      Some("""SELECT n_nationkey, CAST(
                4
                + 1 + strlen('name') + 1 + 4 + strlen(n_name) + 1
                + 1 + strlen('rk') + 1   + 4
                + 1 AS INTEGER) AS sz
              FROM nation ORDER BY n_nationkey""")),

    // hyperbolic trig family ($sinh/$cosh/$tanh/$asinh/$acosh/$atanh):
    // DuckDB 1.0 lacks the functions, so the oracle evaluates the
    // textbook exp/ln forms. `x` is keyed off an INTEGER grid
    // (o_orderkey % 281 - 140)/100 ∈ [-1.40, 1.40]: integer mod and a
    // single exactly-rounded IEEE divide are bit-identical across
    // engines, unlike the previous round's fmod(double)+round(…,2)
    // derivation whose last-bit drift the driver's oracle caught.
    // Exhaustive sweep of all 281 grid points × 6 outputs: worst
    // distance to a round-6 half-up boundary is 4.5e-11 while libm vs
    // exp-form drift measures ≤ 5.2e-17 — four orders of safety margin.
    QueryDef("q_hyperbolic",
      (s, dir) => agg("orders", """[
        {"$project": {"o_orderkey": 1,
          "x": {"$divide": [{"$subtract": [{"$mod": ["$o_orderkey", 281]}, 140]}, 100.0]}}},
        {"$project": {"o_orderkey": 1, "x": 1,
          "sh":  {"$round": [{"$sinh": "$x"}, 6]},
          "ch":  {"$round": [{"$cosh": "$x"}, 6]},
          "th":  {"$round": [{"$tanh": "$x"}, 6]},
          "ash": {"$round": [{"$asinh": "$x"}, 6]},
          "ach": {"$round": [{"$acosh": {"$add": [1.0, {"$abs": "$x"}]}}, 6]},
          "ath": {"$round": [{"$atanh": {"$multiply": ["$x", 0.7]}}, 6]}}},
        {"$sort": {"o_orderkey": 1}}]""")(s, dir),
      Some("""WITH t AS (SELECT o_orderkey,
                     (o_orderkey % 281 - 140) / 100.0 AS x
                   FROM orders),
              u AS (SELECT o_orderkey, x,
                     1.0 + abs(x) AS cx, x * 0.7 AS tx FROM t)
              SELECT o_orderkey, x,
                round((exp(x) - exp(-x)) / 2, 6) AS sh,
                round((exp(x) + exp(-x)) / 2, 6) AS ch,
                round((exp(2*x) - 1) / (exp(2*x) + 1), 6) AS th,
                round(ln(x + sqrt(x*x + 1)), 6) AS ash,
                round(ln(cx + sqrt(cx*cx - 1)), 6) AS ach,
                round(0.5 * ln((1 + tx) / (1 - tx)), 6) AS ath
              FROM u ORDER BY o_orderkey""")),

    // expression-context statistics over a pushed array ($stdDevPop/
    // $stdDevSamp/$median/$percentile in $project, Mongo 7.0 surface):
    // array sorted first so both engines fold identical element order
    QueryDef("q_expr_stats",
      (s, dir) => agg("orders", """[
        {"$group": {"_id": "$o_custkey", "prices": {"$push": "$o_totalprice"}}},
        {"$match": {"$expr": {"$gte": [{"$size": "$prices"}, 3]}}},
        {"$project": {"_id": 0, "custkey": "$_id",
          "prices": {"$sortArray": {"input": "$prices", "sortBy": 1}}}},
        {"$project": {"custkey": 1,
          "sd_pop":  {"$round": [{"$stdDevPop": "$prices"}, 6]},
          "sd_samp": {"$round": [{"$stdDevSamp": "$prices"}, 6]},
          "med":     {"$round": [{"$median": {"input": "$prices",
                                              "method": "approximate"}}, 6]},
          "p90":     {"$round": [{"$arrayElemAt": [
                        {"$percentile": {"input": "$prices", "p": [0.9],
                                         "method": "approximate"}}, 0]}, 6]}}},
        {"$sort": {"custkey": 1}}]""")(s, dir),
      Some("""WITH g AS (
                SELECT o_custkey AS custkey,
                       list_sort(list(o_totalprice)) AS prices
                FROM orders GROUP BY o_custkey HAVING count(*) >= 3),
              t AS (
                SELECT custkey, prices,
                       len(prices) AS n,
                       -- sequential left-to-right folds (list_reduce), the
                       -- exact IEEE op order of Spark's aggregate() fold —
                       -- bit-identical, no rounding slack needed
                       list_reduce(prices, (a, b) -> a + b) AS s1,
                       list_reduce(list_transform(prices, x -> x * x),
                                   (a, b) -> a + b) AS s2
                FROM g),
              q AS (
                SELECT custkey, prices, n, s1, s2,
                       0.5 * (n - 1) AS mpos, 0.9 * (n - 1) AS ppos
                FROM t)
              SELECT custkey,
                -- greatest-0 clamp mirrors the engine (cancellation can
                -- push the radicand epsilon-negative on near-constant data)
                round(sqrt(greatest((s2 - s1 * s1 / n) / n, 0.0)), 6) AS sd_pop,
                round(sqrt(greatest((s2 - s1 * s1 / n) / (n - 1), 0.0)), 6) AS sd_samp,
                round(prices[CAST(floor(mpos) AS INTEGER) + 1]
                  + (prices[least(CAST(floor(mpos) AS INTEGER) + 2, n)]
                     - prices[CAST(floor(mpos) AS INTEGER) + 1])
                    * (mpos - floor(mpos)), 6) AS med,
                round(prices[CAST(floor(ppos) AS INTEGER) + 1]
                  + (prices[least(CAST(floor(ppos) AS INTEGER) + 2, n)]
                     - prices[CAST(floor(ppos) AS INTEGER) + 1])
                    * (ppos - floor(ppos)), 6) AS p90
              FROM q ORDER BY custkey"""))
  )
}
