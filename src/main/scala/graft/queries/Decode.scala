package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.api.Graft
import graft.bson.{DocDecoder, SchemaInference}
import graft.schema.MSchema

/** Drives the document-decode surface (the reference's core capability:
  * schema-directed decoding of document streams into typed columns)
  * through the driver contract, using events.props — a JSON-document
  * column — as the document stream. */
object Decode {
  val all: Seq[QueryDef] = Seq(

    // bulk decode THROUGHPUT — the reference's signature benchmark
    // shape (its asv suite exists to showcase columnar-builder decode
    // of large result sets): the whole orders table as a document
    // collection, decoded back through the graftdocs columnar path
    // into aggregates that consume EVERY column (so column pruning
    // can't shrink the decode). The collection is a memoized one-time
    // fixture (staged swap ⇒ existence = complete; a row-count tag
    // revalidates against the source), so bench timings measure the
    // DECODE, not the setup write.
    QueryDef("q_decode_bulk",
      (s, dir) => {
        // per-process staging (Staging.dir): the fixture collection is
        // rebuilt from parquet once per JVM invocation, never shared
        // across runs (optimization-round no-precomputation contract)
        val store = new graft.sinks.DocStore(s,
          Staging.dir("q_decode_bulk", dir), "graftdocs")
        val orders = Graft.table(s, dir, "orders")
        // 8 files: a one-file collection decodes on one task under the
        // default split size — the multi-file layout any real ingest
        // produces is also what lets the scan parallelize
        val n = orders.count()
        if (!store.exists("orders_docs") ||
            !store.readTag("orders_docs", "rows").contains(s"$n:8"))
          store.write(orders.repartition(8), "orders_docs",
            tags = Map("rows" -> s"$n:8"))
        store.read("orders_docs")
          .groupBy("o_orderpriority")
          .agg(count(lit(1)).as("n"),
            sum(col("o_totalprice").cast("decimal(18,4)")).cast("double")
              .as("total"),
            countDistinct(col("o_custkey")).as("custs"),
            sum(col("o_orderkey")).as("key_sum"),
            min(col("o_orderstatus")).as("status_min"),
            min(col("o_orderdate")).as("d_min"),
            max(col("o_orderdate")).as("d_max"))
          .orderBy("o_orderpriority")
      },
      Some("""SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n,
                     CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total,
                     CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS custs,
                     CAST(SUM(o_orderkey) AS BIGINT) AS key_sum,
                     MIN(o_orderstatus) AS status_min,
                     MIN(o_orderdate) AS d_min, MAX(o_orderdate) AS d_max
              FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""")),

    // inferred-schema decode (reference inferred mode §1.3) → typed agg
    QueryDef("q_decode_infer",
      (s, dir) => {
        import s.implicits._
        val docs = Graft.table(s, dir, "events").select("props").as[String]
        val decoded = DocDecoder.decode(docs, SchemaInference.infer(docs),
          allowInvalid = true)
        decoded.groupBy(col("k")).agg(count(lit(1)).as("n"))
          .select(col("k").cast(LongType).as("k"), col("n")).orderBy("k")
      },
      Some("""SELECT CAST(json_extract(props, '$.k') AS BIGINT) AS k,
                     CAST(COUNT(*) AS BIGINT) AS n
              FROM events GROUP BY 1 ORDER BY k""")),

    // declared-schema decode: strict typing straight to LongType
    QueryDef("q_decode_declared",
      (s, dir) => {
        import s.implicits._
        val docs = Graft.table(s, dir, "events").select("props").as[String]
        val schema = StructType(Seq(StructField("k", LongType)))
        DocDecoder.decode(docs, schema)
          .groupBy().agg(sum(col("k")).as("sum_k"), count(lit(1)).as("n"))
      },
      Some("""SELECT CAST(SUM(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
                     CAST(COUNT(*) AS BIGINT) AS n
              FROM events""")),

    // full engine loop: typed table → graftdocs DSv2 write (batched
    // extended-JSON sink) → graftdocs DSv2 source (pruned decode) →
    // aggregation; the oracle sees only the original table, so any
    // encode/decode drift fails.
    QueryDef("q_connector_roundtrip",
      (s, dir) => {
        val df = Graft.table(s, dir, "customer")
        val path = java.nio.file.Files.createTempDirectory("graft_conn").toString
        df.write.format("graftdocs").mode("overwrite").save(path)
        s.read.format("graftdocs").schema(df.schema).load(path)
          .groupBy(col("c_mktsegment"))
          .agg(count(lit(1)).as("n"),
            sum(col("c_acctbal").cast(org.apache.spark.sql.types.DecimalType(18, 4)))
              .cast(org.apache.spark.sql.types.DoubleType).as("sum_bal"))
          .orderBy("c_mktsegment")
      },
      Some("""SELECT c_mktsegment, CAST(COUNT(*) AS BIGINT) AS n,
                     CAST(SUM(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE) AS sum_bal
              FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment""")),

    // wire connector loop over REAL OP_MSG framing: pushed Catalyst
    // filters translate to the MQL wire document inside a `find`
    // command, the loopback server evaluates it and streams raw BSON
    // batches through the cursor lifecycle, the client decodes them
    // through the direct BSON→vector scan — the reference's
    // find_raw_batches client shape (api.py:175) end-to-end without a
    // mongod. (The legacy length-prefixed DocWire protocol retired in
    // round 9 — OpMsg.find subsumes it; the containment assertions
    // moved to OpMsgSpec.) Oracle replays the predicate on the table.
    QueryDef("q_wire_find",
      (s, dir) => {
        val store = new graft.sinks.DocStore(s,
          java.nio.file.Files.createTempDirectory("graft_wireq").toString,
          "graftdocs")
        store.write(Graft.table(s, dir, "customer")
          .select("c_custkey", "c_mktsegment", "c_acctbal"), "customer")
        val server = new graft.sources.OpMsg.Server(s, store)
        try {
          graft.sources.OpMsg.find(s, "127.0.0.1", server.port, "graft",
            "customer",
            Seq(org.apache.spark.sql.sources.EqualTo("c_mktsegment", "BUILDING"),
              org.apache.spark.sql.sources.GreaterThan("c_acctbal", 1000.0)))
            .groupBy(col("c_mktsegment"))
            .agg(count(lit(1)).as("n"),
              sum(col("c_acctbal").cast(org.apache.spark.sql.types.DecimalType(18, 4)))
                .cast(org.apache.spark.sql.types.DoubleType).as("sum_bal"))
            .orderBy("c_mktsegment")
          // the socket interaction happens eagerly inside find() — the
          // returned frame reads the landed batches, so the server can die
        } finally server.stop()
      },
      Some("""SELECT c_mktsegment, CAST(COUNT(*) AS BIGINT) AS n,
                     CAST(SUM(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE) AS sum_bal
              FROM customer
              WHERE c_mktsegment = 'BUILDING' AND c_acctbal > 1000.0
              GROUP BY c_mktsegment ORDER BY c_mktsegment""")),

    // OP_MSG wire read (LIVE_CONNECTOR.md item 1's framing, item 2's
    // cursor loop): the same find as q_wire_find but over MongoDB's
    // real message envelope — opcode 2013 header, kind-0 BSON command
    // documents, and the full find → getMore → cursor.id=0 lifecycle
    // (batchSize 64 forces multiple round trips at sf0.01). The oracle
    // replays the predicate on the source table.
    QueryDef("q_wire_opmsg",
      (s, dir) => {
        val store = new graft.sinks.DocStore(s,
          java.nio.file.Files.createTempDirectory("graft_opmsgq").toString,
          "graftdocs")
        store.write(Graft.table(s, dir, "customer")
          .select("c_custkey", "c_mktsegment", "c_acctbal"), "customer")
        val server = new graft.sources.OpMsg.Server(s, store)
        try {
          graft.sources.OpMsg.find(s, "127.0.0.1", server.port, "graft",
            "customer",
            Seq(org.apache.spark.sql.sources.EqualTo("c_mktsegment", "BUILDING"),
              org.apache.spark.sql.sources.GreaterThan("c_acctbal", 1000.0)),
            batchSize = 64)
            .groupBy(col("c_mktsegment"))
            .agg(count(lit(1)).as("n"),
              sum(col("c_acctbal").cast(org.apache.spark.sql.types.DecimalType(18, 4)))
                .cast(org.apache.spark.sql.types.DoubleType).as("sum_bal"))
            .orderBy("c_mktsegment")
        } finally server.stop()
      },
      Some("""SELECT c_mktsegment, CAST(COUNT(*) AS BIGINT) AS n,
                     CAST(SUM(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE) AS sum_bal
              FROM customer
              WHERE c_mktsegment = 'BUILDING' AND c_acctbal > 1000.0
              GROUP BY c_mktsegment ORDER BY c_mktsegment""")),

    // the AUTHENTICATED form: the same find over a server requiring
    // SCRAM-SHA-256 — the full RFC 7677 conversation (saslStart/
    // saslContinue inside OP_MSG, mutual authentication: the client
    // verifies the server signature back) precedes the cursor loop
    QueryDef("q_wire_opmsg_auth",
      (s, dir) => {
        val store = new graft.sinks.DocStore(s,
          java.nio.file.Files.createTempDirectory("graft_opmsga").toString,
          "graftdocs")
        store.write(Graft.table(s, dir, "customer")
          .select("c_custkey", "c_mktsegment", "c_acctbal"), "customer")
        val server = new graft.sources.OpMsg.Server(s, store,
          auth = Some(("pipeline", "s3cr3t-pw")))
        try {
          graft.sources.OpMsg.find(s, "127.0.0.1", server.port, "graft",
            "customer",
            Seq(org.apache.spark.sql.sources.EqualTo("c_mktsegment", "AUTOMOBILE"),
              org.apache.spark.sql.sources.LessThan("c_acctbal", 5000.0)),
            batchSize = 64,
            credentials = Some(("pipeline", "s3cr3t-pw")))
            .groupBy(col("c_mktsegment"))
            .agg(count(lit(1)).as("n"),
              sum(col("c_acctbal").cast(org.apache.spark.sql.types.DecimalType(18, 4)))
                .cast(org.apache.spark.sql.types.DoubleType).as("sum_bal"))
            .orderBy("c_mktsegment")
        } finally server.stop()
      },
      Some("""SELECT c_mktsegment, CAST(COUNT(*) AS BIGINT) AS n,
                     CAST(SUM(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE) AS sum_bal
              FROM customer
              WHERE c_mktsegment = 'AUTOMOBILE' AND c_acctbal < 5000.0
              GROUP BY c_mktsegment ORDER BY c_mktsegment""")),

    // aggregate over OP_MSG — the reference's second entry point
    // (aggregate_raw_batches, api.py:252): the pipeline document crosses
    // as BSON inside the aggregate command, the server runs it through
    // the engine's own PipelineCompiler, results page back through the
    // cursor loop (batchSize 3 forces getMore) and the raw-batch decode
    QueryDef("q_wire_opmsg_agg",
      (s, dir) => {
        val store = new graft.sinks.DocStore(s,
          java.nio.file.Files.createTempDirectory("graft_opmsgg").toString,
          "graftdocs")
        store.write(Graft.table(s, dir, "customer")
          .select("c_custkey", "c_mktsegment", "c_acctbal"), "customer")
        val server = new graft.sources.OpMsg.Server(s, store)
        try {
          graft.sources.OpMsg.aggregate(s, "127.0.0.1", server.port, "graft",
            "customer",
            """[
              {"$match": {"c_acctbal": {"$gt": 0}}},
              {"$group": {"_id": "$c_mktsegment",
                "n": {"$sum": 1},
                "total": {"$sum": {"$toLong": {"$round": ["$c_acctbal", 0]}}}}},
              {"$sort": {"_id": 1}}]""",
            batchSize = 3)
            .select(col("_id").as("seg"), col("n"), col("total"))
            .orderBy("seg")
        } finally server.stop()
      },
      Some("""SELECT c_mktsegment AS seg, CAST(COUNT(*) AS BIGINT) AS n,
                     CAST(SUM(CAST(round(c_acctbal, 0) AS BIGINT)) AS BIGINT)
                       AS total
              FROM customer WHERE c_acctbal > 0
              GROUP BY 1 ORDER BY 1""")),

    // OP_COMPRESSED (opcode 2012, zlib): hello negotiates the
    // compressor, then find + every getMore cross the wire deflated
    // both ways — the optional transport feature production drivers
    // enable with compressors=zlib. Same data contract as
    // q_wire_opmsg; the oracle replays the predicate.
    QueryDef("q_wire_opmsg_zlib",
      (s, dir) => {
        val store = new graft.sinks.DocStore(s,
          java.nio.file.Files.createTempDirectory("graft_opmsgz").toString,
          "graftdocs")
        store.write(Graft.table(s, dir, "customer")
          .select("c_custkey", "c_mktsegment", "c_acctbal"), "customer")
        val server = new graft.sources.OpMsg.Server(s, store)
        try {
          graft.sources.OpMsg.find(s, "127.0.0.1", server.port, "graft",
            "customer",
            Seq(org.apache.spark.sql.sources.GreaterThan("c_acctbal", 500.0)),
            batchSize = 64, compress = true)
            .groupBy(col("c_mktsegment"))
            .agg(count(lit(1)).as("n"),
              sum(col("c_acctbal").cast(org.apache.spark.sql.types.DecimalType(18, 4)))
                .cast(org.apache.spark.sql.types.DoubleType).as("sum_bal"))
            .orderBy("c_mktsegment")
        } finally server.stop()
      },
      Some("""SELECT c_mktsegment, CAST(COUNT(*) AS BIGINT) AS n,
                     CAST(SUM(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE) AS sum_bal
              FROM customer
              WHERE c_acctbal > 500.0
              GROUP BY c_mktsegment ORDER BY c_mktsegment""")),

    // zstd OP_COMPRESSED (compressor id 3): the connection negotiates
    // zstd via hello and every post-handshake message crosses as a
    // zstd-jni frame (level 3) in both directions. Oracle replays the
    // predicate.
    QueryDef("q_wire_opmsg_zstd",
      (s, dir) => {
        val store = new graft.sinks.DocStore(s,
          java.nio.file.Files.createTempDirectory("graft_opmsgzs").toString,
          "graftdocs")
        store.write(Graft.table(s, dir, "customer")
          .select("c_custkey", "c_mktsegment", "c_acctbal"), "customer")
        val server = new graft.sources.OpMsg.Server(s, store)
        try {
          graft.sources.OpMsg.find(s, "127.0.0.1", server.port, "graft",
            "customer",
            Seq(org.apache.spark.sql.sources.GreaterThan("c_acctbal", 750.0)),
            batchSize = 64, compress = true, compressor = "zstd")
            .groupBy(col("c_mktsegment"))
            .agg(count(lit(1)).as("n"),
              sum(col("c_acctbal").cast(org.apache.spark.sql.types.DecimalType(18, 4)))
                .cast(org.apache.spark.sql.types.DoubleType).as("sum_bal"))
            .orderBy("c_mktsegment")
        } finally server.stop()
      },
      Some("""SELECT c_mktsegment, CAST(COUNT(*) AS BIGINT) AS n,
                     CAST(SUM(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE) AS sum_bal
              FROM customer
              WHERE c_acctbal > 750.0
              GROUP BY c_mktsegment ORDER BY c_mktsegment""")),

    // Exhaust cursor streaming (exhaustAllowed → moreToCome): after the
    // first batch, ONE getMore permits the server to stream every
    // remaining batch without per-batch round trips — the wire shape
    // MongoDB uses for change streams and bulk reads. batchSize 64 at
    // sf0.01 forces a multi-reply stream.
    QueryDef("q_wire_opmsg_exhaust",
      (s, dir) => {
        val store = new graft.sinks.DocStore(s,
          java.nio.file.Files.createTempDirectory("graft_opmsgx").toString,
          "graftdocs")
        store.write(Graft.table(s, dir, "customer")
          .select("c_custkey", "c_mktsegment", "c_acctbal"), "customer")
        val server = new graft.sources.OpMsg.Server(s, store)
        try {
          graft.sources.OpMsg.find(s, "127.0.0.1", server.port, "graft",
            "customer",
            Seq(org.apache.spark.sql.sources.LessThan("c_acctbal", 9000.0)),
            batchSize = 64, exhaust = true)
            .groupBy(col("c_mktsegment"))
            .agg(count(lit(1)).as("n"),
              sum(col("c_acctbal").cast(org.apache.spark.sql.types.DecimalType(18, 4)))
                .cast(org.apache.spark.sql.types.DoubleType).as("sum_bal"))
            .orderBy("c_mktsegment")
        } finally server.stop()
      },
      Some("""SELECT c_mktsegment, CAST(COUNT(*) AS BIGINT) AS n,
                     CAST(SUM(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE) AS sum_bal
              FROM customer
              WHERE c_acctbal < 9000.0
              GROUP BY c_mktsegment ORDER BY c_mktsegment""")),

    // insert over OP_MSG — the reference's WRITE path (write() →
    // insert_many) over authentic framing: rows encode to raw BSON
    // client-side and cross as kind-1 "documents" sequences (batched,
    // here 64 docs per insert command to force several), the server
    // appends through the graftdocs decode, and the collection read
    // back equals the source — the oracle replays the predicate
    // aggregate on the source table.
    QueryDef("q_wire_opmsg_insert",
      (s, dir) => {
        val store = new graft.sinks.DocStore(s,
          java.nio.file.Files.createTempDirectory("graft_opmsgi").toString,
          "graftdocs")
        val server = new graft.sources.OpMsg.Server(s, store)
        try {
          val src = Graft.table(s, dir, "customer")
            .select("c_custkey", "c_mktsegment", "c_acctbal")
            .where(col("c_acctbal") > 2000.0)
          graft.sources.OpMsg.insert(s, "127.0.0.1", server.port, "graft",
            "customer", src, maxBatchDocs = 64): Unit
          store.read("customer")
            .groupBy(col("c_mktsegment"))
            .agg(count(lit(1)).as("n"),
              sum(col("c_acctbal").cast(org.apache.spark.sql.types.DecimalType(18, 4)))
                .cast(org.apache.spark.sql.types.DoubleType).as("sum_bal"))
            .orderBy("c_mktsegment")
        } finally server.stop()
      },
      Some("""SELECT c_mktsegment, CAST(COUNT(*) AS BIGINT) AS n,
                     CAST(SUM(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE) AS sum_bal
              FROM customer
              WHERE c_acctbal > 2000.0
              GROUP BY c_mktsegment ORDER BY c_mktsegment""")),

    // Parallel cursors over OP_MSG (the reference's thread-pool
    // raw-batch read on authentic framing): splitVector plans key
    // ranges, one full find → getMore cursor per range runs
    // concurrently, all landed batches decode through ONE graftdocs
    // scan. Half-open ranges share endpoints, so the union is exactly
    // the filtered collection; the oracle replays the predicate.
    QueryDef("q_wire_opmsg_parallel",
      (s, dir) => {
        val store = new graft.sinks.DocStore(s,
          java.nio.file.Files.createTempDirectory("graft_opmsgpq").toString,
          "graftdocs")
        store.write(Graft.table(s, dir, "customer")
          .select("c_custkey", "c_mktsegment", "c_acctbal"), "customer")
        val server = new graft.sources.OpMsg.Server(s, store)
        try {
          graft.sources.OpMsg.findParallel(s, "127.0.0.1", server.port,
            "graft", "customer", splitKey = "c_custkey", numSplits = 4,
            filters = Seq(org.apache.spark.sql.sources.GreaterThan("c_acctbal", 0.0)),
            batchSize = 128)
            .groupBy(col("c_mktsegment"))
            .agg(count(lit(1)).as("n"),
              sum(col("c_acctbal").cast(org.apache.spark.sql.types.DecimalType(18, 4)))
                .cast(org.apache.spark.sql.types.DoubleType).as("sum_bal"))
            .orderBy("c_mktsegment")
        } finally server.stop()
      },
      Some("""SELECT c_mktsegment, CAST(COUNT(*) AS BIGINT) AS n,
                     CAST(SUM(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE) AS sum_bal
              FROM customer
              WHERE c_acctbal > 0.0
              GROUP BY c_mktsegment ORDER BY c_mktsegment""")),

    // Parallel-cursor wire read (LIVE_CONNECTOR.md item 3, reference
    // api.py:181-199 thread-pool cursors): the client plans key ranges
    // from server-side quantiles, sends one find per range (the range
    // rides as an $and conjunct), and decodes all landed batch files
    // through ONE graftdocs scan — each cursor one Spark partition.
    // Half-open ranges share endpoints, so the union is exactly the
    // collection; the oracle replays the predicate on the source table.
    QueryDef("q_wire_find_parallel",
      (s, dir) => {
        val store = new graft.sinks.DocStore(s,
          java.nio.file.Files.createTempDirectory("graft_wirepq").toString,
          "graftdocs")
        store.write(Graft.table(s, dir, "customer")
          .select("c_custkey", "c_mktsegment", "c_acctbal"), "customer")
        val server = new graft.sources.OpMsg.Server(s, store)
        try {
          graft.sources.OpMsg.findParallel(s, "127.0.0.1", server.port,
            "graft", "customer", splitKey = "c_custkey", numSplits = 4,
            filters = Seq(org.apache.spark.sql.sources.GreaterThan("c_acctbal", 0.0)))
            .groupBy(col("c_mktsegment"))
            .agg(count(lit(1)).as("n"),
              sum(col("c_acctbal").cast(org.apache.spark.sql.types.DecimalType(18, 4)))
                .cast(org.apache.spark.sql.types.DoubleType).as("sum_bal"))
            .orderBy("c_mktsegment")
        } finally server.stop()
      },
      Some("""SELECT c_mktsegment, CAST(COUNT(*) AS BIGINT) AS n,
                     CAST(SUM(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE) AS sum_bal
              FROM customer
              WHERE c_acctbal > 0.0
              GROUP BY c_mktsegment ORDER BY c_mktsegment""")),

    // the DSv2 wire connector (format "graftwire"): partition-per-
    // cursor planning (splitVector quantiles → one find→getMore cursor
    // PER SPARK TASK), Catalyst filters translated to one MQL document
    // evaluated server-side, column pruning as the find projection,
    // direct BSON→vector decode — the production Mongo↔Spark bridge
    // shape end-to-end on authentic framing. Oracle replays the
    // predicate aggregate on the source table.
    QueryDef("q_wire_source",
      (s, dir) => {
        val store = new graft.sinks.DocStore(s,
          java.nio.file.Files.createTempDirectory("graft_wsrcq").toString,
          "graftdocs")
        store.write(Graft.table(s, dir, "customer")
          .select("c_custkey", "c_mktsegment", "c_acctbal"), "customer")
        // preload: one cursor sits in EVERY Spark task; the same-JVM
        // stand-in serves finds from LocalRelations, never a Spark job
        val server = new graft.sources.OpMsg.Server(s, store, preload = true)
        try {
          val out = s.read.format("graftwire")
            .option("host", "127.0.0.1").option("port", server.port)
            .option("collection", "customer")
            .option("splitKey", "c_custkey").option("numSplits", 4)
            .load()
            .where(col("c_acctbal") > 1000.0)
            .groupBy(col("c_mktsegment"))
            .agg(count(lit(1)).as("n"),
              sum(col("c_acctbal").cast(org.apache.spark.sql.types.DecimalType(18, 4)))
                .cast(org.apache.spark.sql.types.DoubleType).as("sum_bal"))
            .orderBy("c_mktsegment")
          // graftwire scans lazily (cursors open at execution) — run the
          // wire interaction NOW so the server can die with the fixture
          val rows = out.collect().toSeq
          s.createDataFrame(
            scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava,
            out.schema)
        } finally server.stop()
      },
      Some("""SELECT c_mktsegment, CAST(COUNT(*) AS BIGINT) AS n,
                     CAST(SUM(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE) AS sum_bal
              FROM customer
              WHERE c_acctbal > 1000.0
              GROUP BY c_mktsegment ORDER BY c_mktsegment""")),

    // pipeline reads through the DSv2 connector: the `pipeline` option
    // makes the scan the server's AGGREGATE output (the reference's
    // aggregate_raw_batches as a DataFrame source) — $match/$group run
    // server-side, results page back through the cursor loop and the
    // raw-batch decode. Oracle replays the aggregation.
    QueryDef("q_wire_source_agg",
      (s, dir) => {
        val store = new graft.sinks.DocStore(s,
          java.nio.file.Files.createTempDirectory("graft_wsrca").toString,
          "graftdocs")
        store.write(Graft.table(s, dir, "customer")
          .select("c_custkey", "c_mktsegment", "c_acctbal"), "customer")
        val server = new graft.sources.OpMsg.Server(s, store, preload = true)
        try {
          val out = s.read.format("graftwire")
            .option("host", "127.0.0.1").option("port", server.port)
            .option("collection", "customer")
            .option("pipeline", """[
              {"$match": {"c_acctbal": {"$gt": 0}}},
              {"$group": {"_id": "$c_mktsegment",
                "n": {"$sum": 1},
                "total": {"$sum": {"$toLong": {"$round": ["$c_acctbal", 0]}}}}},
              {"$sort": {"_id": 1}}]""")
            .load()
            .select(col("_id").as("seg"), col("n"), col("total"))
            .orderBy("seg")
          val rows = out.collect().toSeq
          s.createDataFrame(
            scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava,
            out.schema)
        } finally server.stop()
      },
      Some("""SELECT c_mktsegment AS seg, CAST(COUNT(*) AS BIGINT) AS n,
                     CAST(SUM(CAST(round(c_acctbal, 0) AS BIGINT)) AS BIGINT)
                       AS total
              FROM customer WHERE c_acctbal > 0
              GROUP BY 1 ORDER BY 1""")),

    // streaming ingest over the wire: readStream.format("graftwire")
    // tails the collection in offsetKey micro-batches (each batch ONE
    // half-open key range riding the wire as a find filter) — the
    // JDBC-style incremental twin of the continuous-cursor loop. The
    // streamed rows land in a memory sink and aggregate against the
    // batch oracle.
    QueryDef("q_wire_stream",
      (s, dir) => {
        val store = new graft.sinks.DocStore(s,
          java.nio.file.Files.createTempDirectory("graft_wstr").toString,
          "graftdocs")
        store.write(Graft.table(s, dir, "customer")
          .select("c_custkey", "c_mktsegment", "c_acctbal"), "customer")
        val server = new graft.sources.OpMsg.Server(s, store, preload = true)
        try {
          val qn = s"graft_wire_stream_${System.nanoTime()}"
          val q = s.readStream.format("graftwire")
            .option("host", "127.0.0.1").option("port", server.port)
            .option("collection", "customer")
            .option("offsetKey", "c_custkey")
            .schema(store.read("customer").schema).load()
            .writeStream.format("memory").queryName(qn)
            .outputMode("append").start()
          try q.processAllAvailable() finally q.stop()
          s.table(qn)
            .groupBy(col("c_mktsegment"))
            .agg(count(lit(1)).as("n"),
              sum(col("c_acctbal").cast(org.apache.spark.sql.types.DecimalType(18, 4)))
                .cast(org.apache.spark.sql.types.DoubleType).as("sum_bal"))
            .orderBy("c_mktsegment")
        } finally server.stop()
      },
      Some("""SELECT c_mktsegment, CAST(COUNT(*) AS BIGINT) AS n,
                     CAST(SUM(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE) AS sum_bal
              FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment""")),

    // $out over the wire: mongod executes write stages SERVER-SIDE
    // and answers an empty cursor — the aggregate ships as BSON, the
    // server runs the engine's own pipeline + staged-swap write, and
    // the materialized collection reads back through a second wire
    // find; the oracle replays the transform on the source table
    QueryDef("q_wire_out",
      (s, dir) => {
        val store = new graft.sinks.DocStore(s,
          java.nio.file.Files.createTempDirectory("graft_wout").toString,
          "graftdocs")
        store.write(Graft.table(s, dir, "customer")
          .select("c_custkey", "c_mktsegment", "c_acctbal"), "customer")
        val server = new graft.sources.OpMsg.Server(s, store)
        try {
          // returns the empty cursor frame; the WRITE is the effect
          graft.sources.OpMsg.aggregate(s, "127.0.0.1", server.port,
            "graft", "customer",
            """[
              {"$match": {"c_acctbal": {"$gt": 2000.0}}},
              {"$project": {"c_custkey": 1, "c_mktsegment": 1,
                "c_acctbal": 1}},
              {"$out": "rich_customers"}]"""): Unit
          graft.sources.OpMsg.find(s, "127.0.0.1", server.port, "graft",
            "rich_customers")
            .groupBy(col("c_mktsegment"))
            .agg(count(lit(1)).as("n"),
              sum(col("c_acctbal").cast(org.apache.spark.sql.types.DecimalType(18, 4)))
                .cast(org.apache.spark.sql.types.DoubleType).as("sum_bal"))
            .orderBy("c_mktsegment")
        } finally server.stop()
      },
      Some("""SELECT c_mktsegment, CAST(COUNT(*) AS BIGINT) AS n,
                     CAST(SUM(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE) AS sum_bal
              FROM customer
              WHERE c_acctbal > 2000.0
              GROUP BY c_mktsegment ORDER BY c_mktsegment""")),

    // find OPTIONS over the wire: sort + skip + limit compose
    // server-side (mongod's paging trio) and an exclusion projection
    // drops columns. Oracle = ORDER BY ... OFFSET ... LIMIT on a
    // unique key, so the page is deterministic.
    QueryDef("q_wire_find_page",
      (s, dir) => {
        val store = new graft.sinks.DocStore(s,
          java.nio.file.Files.createTempDirectory("graft_wpag").toString,
          "graftdocs")
        store.write(Graft.table(s, dir, "customer")
          .select("c_custkey", "c_name", "c_mktsegment", "c_acctbal"),
          "customer")
        val server = new graft.sources.OpMsg.Server(s, store)
        try {
          import org.json4s._
          val reply = graft.sources.OpMsg.command(
            "127.0.0.1", server.port, "graft", JObject(List(
              "find" -> JString("customer"),
              "filter" -> graft.mql.Mql.parse(
                """{"c_acctbal": {"$gt": 0}}"""),
              "sort" -> JObject(List("c_acctbal" -> JInt(-1),
                "c_custkey" -> JInt(1))),
              "skip" -> JInt(25),
              "limit" -> JInt(50),
              "projection" -> JObject(List("c_name" -> JInt(0))),
              "batchSize" -> JInt(1000))))
          val rows = reply("cursor").asInstanceOf[JObject].obj.toMap
            .apply("firstBatch") match {
            case JArray(ds) => ds.map(_.asInstanceOf[JObject].obj.toMap)
            case other => throw new IllegalStateException(s"bad $other")
          }
          import s.implicits._
          rows.map { d =>
            val key = d("c_custkey") match {
              case JLong(k) => k; case JInt(k) => k.toLong
              case other => throw new IllegalStateException(s"bad $other")
            }
            val seg = d("c_mktsegment") match {
              case JString(x) => x
              case other => throw new IllegalStateException(s"bad $other")
            }
            val bal = d("c_acctbal") match {
              case JDouble(b) => b
              case other => throw new IllegalStateException(s"bad $other")
            }
            (key, seg, bal, d.contains("c_name"))
          }.toDF("c_custkey", "c_mktsegment", "c_acctbal", "leaked_name")
            .orderBy("c_custkey")
        } finally server.stop()
      },
      Some("""SELECT c_custkey, c_mktsegment, c_acctbal,
                     FALSE AS leaked_name
              FROM (SELECT * FROM customer WHERE c_acctbal > 0
                    ORDER BY c_acctbal DESC, c_custkey
                    OFFSET 25 LIMIT 50)
              ORDER BY c_custkey""")),

    // multi-document TRANSACTIONS over the wire (mongod's
    // startTransaction / autocommit:false / commitTransaction): a
    // committed transaction's update + delete + insert land together
    // atomically; an aborted one leaves no trace. Oracle replays the
    // committed ops as SQL (CASE projection, anti-filter, UNION ALL
    // literal) — the aborted zero-out must NOT appear.
    QueryDef("q_wire_txn",
      (s, dir) => {
        val store = new graft.sinks.DocStore(s,
          java.nio.file.Files.createTempDirectory("graft_wtxn").toString,
          "graftdocs")
        // bounded seed (ORDER BY + LIMIT): the gate measures the
        // transaction protocol, not rewrite throughput — its cost
        // stays constant across scale factors (bench-signal hygiene)
        store.write(Graft.table(s, dir, "customer")
          .select("c_custkey", "c_mktsegment", "c_acctbal")
          .orderBy("c_custkey").limit(1000), "customer")
        val server = new graft.sources.OpMsg.Server(s, store)
        try {
          import org.json4s._
          def tx(start: Boolean, txn: Long, doc: (String, JValue)*)
              : Map[String, JValue] =
            graft.sources.OpMsg.command("127.0.0.1", server.port, "graft",
              JObject(doc.toList ++
                (if (start) List(
                  "startTransaction" -> (JBool(true): JValue)) else Nil) :+
                ("autocommit" -> (JBool(false): JValue))),
              session = Some(("gate-txn", txn)))
          // committed: +100 on BUILDING, drop negatives, one marker row
          tx(start = true, 1L, "update" -> JString("customer"),
            "updates" -> JArray(List(JObject(List(
              "q" -> graft.mql.Mql.parse("""{"c_mktsegment": "BUILDING"}"""),
              "u" -> graft.mql.Mql.parse("""{"$inc": {"c_acctbal": 100}}"""),
              "multi" -> JBool(true))))))
          tx(start = false, 1L, "delete" -> JString("customer"),
            "deletes" -> JArray(List(JObject(List(
              "q" -> graft.mql.Mql.parse("""{"c_acctbal": {"$lt": 0}}"""),
              "limit" -> JInt(0))))))
          tx(start = false, 1L, "insert" -> JString("customer"),
            "documents" -> JArray(List(JObject(List(
              "c_custkey" -> JLong(-1L), "c_mktsegment" -> JString("TXN"),
              "c_acctbal" -> JDouble(42.5))))))
          tx(start = false, 1L, "commitTransaction" -> JInt(1))
          // aborted: a zero-out that must leave no trace
          tx(start = true, 2L, "update" -> JString("customer"),
            "updates" -> JArray(List(JObject(List(
              "q" -> JObject(Nil),
              "u" -> graft.mql.Mql.parse("""{"$set": {"c_acctbal": 0}}"""),
              "multi" -> JBool(true))))))
          tx(start = false, 2L, "abortTransaction" -> JInt(1))
          val reply = graft.sources.OpMsg.command(
            "127.0.0.1", server.port, "graft", JObject(List(
              "find" -> JString("customer"),
              "batchSize" -> JInt(1 << 20))))
          val rows = reply("cursor").asInstanceOf[JObject].obj.toMap
            .apply("firstBatch") match {
            case JArray(ds) => ds.map(_.asInstanceOf[JObject].obj.toMap)
            case other => throw new IllegalStateException(s"bad $other")
          }
          import s.implicits._
          rows.map { d =>
            val key = d("c_custkey") match {
              case JLong(k) => k; case JInt(k) => k.toLong
              case other => throw new IllegalStateException(s"bad $other")
            }
            val seg = d("c_mktsegment") match {
              case JString(x) => x
              case other => throw new IllegalStateException(s"bad $other")
            }
            val bal = d("c_acctbal") match {
              case JDouble(b) => b
              case other => throw new IllegalStateException(s"bad $other")
            }
            (key, seg, bal)
          }.toDF("c_custkey", "c_mktsegment", "c_acctbal")
            .orderBy("c_custkey")
        } finally server.stop()
      },
      Some("""SELECT * FROM (
                SELECT c_custkey, c_mktsegment,
                       CASE WHEN c_mktsegment = 'BUILDING'
                            THEN c_acctbal + 100.0
                            ELSE c_acctbal END AS c_acctbal
                FROM (SELECT c_custkey, c_mktsegment, c_acctbal
                      FROM customer ORDER BY c_custkey LIMIT 1000)
                WHERE NOT (CASE WHEN c_mktsegment = 'BUILDING'
                                THEN c_acctbal + 100.0
                                ELSE c_acctbal END < 0.0)
                UNION ALL
                SELECT CAST(-1 AS BIGINT), 'TXN', 42.5
              ) ORDER BY c_custkey""")),

    // per-operation COLLATION over the wire: a strength-1 find filter
    // matches case-insensitively server-side. Oracle = the lower()
    // fold in SQL.
    QueryDef("q_wire_collation",
      (s, dir) => {
        val store = new graft.sinks.DocStore(s,
          java.nio.file.Files.createTempDirectory("graft_wcoll").toString,
          "graftdocs")
        store.write(Graft.table(s, dir, "customer")
          .select("c_custkey", "c_mktsegment", "c_acctbal"), "customer")
        val server = new graft.sources.OpMsg.Server(s, store)
        try {
          import org.json4s._
          val reply = graft.sources.OpMsg.command(
            "127.0.0.1", server.port, "graft", JObject(List(
              "find" -> JString("customer"),
              "filter" -> graft.mql.Mql.parse(
                """{"c_mktsegment": "building",
                    "c_acctbal": {"$gt": 5000}}"""),
              "collation" -> JObject(List(
                "locale" -> JString("simple"), "strength" -> JInt(1))),
              "sort" -> JObject(List("c_custkey" -> JInt(1))),
              "limit" -> JInt(200),
              "batchSize" -> JInt(1000))))
          val rows = reply("cursor").asInstanceOf[JObject].obj.toMap
            .apply("firstBatch") match {
            case JArray(ds) => ds.map(_.asInstanceOf[JObject].obj.toMap)
            case other => throw new IllegalStateException(s"bad $other")
          }
          import s.implicits._
          rows.map { d =>
            val k = d("c_custkey") match {
              case JLong(x) => x; case JInt(x) => x.toLong
              case other => throw new IllegalStateException(s"bad $other")
            }
            val b = d("c_acctbal") match {
              case JDouble(x) => x
              case other => throw new IllegalStateException(s"bad $other")
            }
            (k, b)
          }.toDF("c_custkey", "c_acctbal").orderBy("c_custkey")
        } finally server.stop()
      },
      Some("""SELECT c_custkey, c_acctbal FROM customer
              WHERE lower(c_mktsegment) = 'building' AND c_acctbal > 5000
              ORDER BY c_custkey LIMIT 200""")),

    // db-level aggregate (aggregate: 1, $documents first): the literal
    // table runs the full pipeline server-side. Oracle = the same
    // literals in SQL.
    QueryDef("q_wire_docs_agg",
      (s, dir) => {
        val store = new graft.sinks.DocStore(s,
          java.nio.file.Files.createTempDirectory("graft_wdocs").toString,
          "graftdocs")
        val server = new graft.sources.OpMsg.Server(s, store)
        try {
          import org.json4s._
          val reply = graft.sources.OpMsg.command(
            "127.0.0.1", server.port, "graft", JObject(List(
              "aggregate" -> JInt(1),
              "pipeline" -> JArray(List(
                JObject(List("$documents" -> JArray(List(
                  JObject(List("k" -> JString("a"), "v" -> JInt(3))),
                  JObject(List("k" -> JString("b"), "v" -> JInt(1))),
                  JObject(List("k" -> JString("c"), "v" -> JInt(7))),
                  JObject(List("k" -> JString("d"), "v" -> JInt(5))))))),
                JObject(List("$match" -> JObject(List("v" -> JObject(List(
                  "$gte" -> JInt(3))))))),
                JObject(List("$addFields" -> JObject(List(
                  "doubled" -> JObject(List("$multiply" -> JArray(List(
                    JString("$v"), JInt(2))))))))),
                JObject(List("$sort" -> JObject(List("k" -> JInt(1))))))),
              "cursor" -> JObject(Nil))))
          val rows = reply("cursor").asInstanceOf[JObject].obj.toMap
            .apply("firstBatch") match {
            case JArray(ds) => ds.map(_.asInstanceOf[JObject].obj.toMap)
            case other => throw new IllegalStateException(s"bad $other")
          }
          import s.implicits._
          rows.map { d =>
            val k = d("k") match {
              case JString(x) => x
              case other => throw new IllegalStateException(s"bad $other")
            }
            def num(n: String): Long = d(n) match {
              case JInt(x) => x.toLong; case JLong(x) => x
              case other => throw new IllegalStateException(s"bad $other")
            }
            (k, num("v"), num("doubled"))
          }.toDF("k", "v", "doubled").orderBy("k")
        } finally server.stop()
      },
      Some("""SELECT k, v, v * 2 AS doubled FROM (
                SELECT 'a' AS k, CAST(3 AS BIGINT) AS v
                UNION ALL SELECT 'b', 1
                UNION ALL SELECT 'c', 7
                UNION ALL SELECT 'd', 5)
              WHERE v >= 3 ORDER BY k""")),

    // CAPPED collections over the wire (mongod `create` with
    // capped:true): a 20-doc budget over 30 inserts (12+12+6 batches)
    // evicts the oldest 10 exactly — one whole-file drop never fires
    // here, both evictions are straddling-file head rewrites. Oracle =
    // the same last-20 window in SQL (OFFSET past the evicted head).
    QueryDef("q_wire_capped",
      (s, dir) => {
        val store = new graft.sinks.DocStore(s,
          java.nio.file.Files.createTempDirectory("graft_wcap").toString,
          "graftdocs")
        val server = new graft.sources.OpMsg.Server(s, store)
        try {
          import org.json4s._
          val seed = Graft.table(s, dir, "orders")
            .select("o_orderkey", "o_totalprice")
            .orderBy("o_orderkey").limit(30).collect()
            .map(r => JObject(List(
              "o_orderkey" -> JLong(r.getLong(0)),
              "o_totalprice" -> JDouble(r.getDouble(1)))))
          graft.sources.OpMsg.command("127.0.0.1", server.port, "graft",
            JObject(List("create" -> JString("cap"),
              "capped" -> JBool(true), "max" -> JInt(20))))
          Seq(seed.slice(0, 12), seed.slice(12, 24), seed.slice(24, 30))
            .foreach { chunk =>
              graft.sources.OpMsg.command("127.0.0.1", server.port,
                "graft", JObject(List("insert" -> JString("cap"),
                  "documents" -> JArray(chunk.toList))))
            }
          val reply = graft.sources.OpMsg.command(
            "127.0.0.1", server.port, "graft", JObject(List(
              "find" -> JString("cap"),
              "sort" -> JObject(List("o_orderkey" -> JInt(1))),
              "batchSize" -> JInt(1000))))
          val rows = reply("cursor").asInstanceOf[JObject].obj.toMap
            .apply("firstBatch") match {
            case JArray(ds) => ds.map(_.asInstanceOf[JObject].obj.toMap)
            case other => throw new IllegalStateException(s"bad $other")
          }
          import s.implicits._
          rows.map { d =>
            val k = d("o_orderkey") match {
              case JLong(x) => x; case JInt(x) => x.toLong
              case other => throw new IllegalStateException(s"bad $other")
            }
            val p = d("o_totalprice") match {
              case JDouble(x) => x
              case other => throw new IllegalStateException(s"bad $other")
            }
            (k, p)
          }.toDF("o_orderkey", "o_totalprice").orderBy("o_orderkey")
        } finally server.stop()
      },
      Some("""SELECT o_orderkey, o_totalprice FROM (
                SELECT o_orderkey, o_totalprice FROM orders
                ORDER BY o_orderkey LIMIT 30)
              ORDER BY o_orderkey OFFSET 10""")),

    // TAILABLE cursor over the wire (mongod's oplog-follow shape): a
    // tailable find drains the capped collection's existing docs
    // (phase 1), the cursor survives the drain, and a later getMore
    // serves exactly the docs appended in between (phase 2) in
    // insertion order. Oracle = the two insert windows tagged by
    // phase.
    QueryDef("q_wire_tail",
      (s, dir) => {
        val store = new graft.sinks.DocStore(s,
          java.nio.file.Files.createTempDirectory("graft_wtail").toString,
          "graftdocs")
        val server = new graft.sources.OpMsg.Server(s, store)
        try {
          import org.json4s._
          val seed = Graft.table(s, dir, "orders")
            .select("o_orderkey").orderBy("o_orderkey").limit(25)
            .collect().map(r => JObject(List(
              "o_orderkey" -> JLong(r.getLong(0)))))
          def insert(chunk: Seq[JObject]): Unit =
            graft.sources.OpMsg.command("127.0.0.1", server.port,
              "graft", JObject(List("insert" -> JString("tail"),
                "documents" -> JArray(chunk.toList)))): Unit
          graft.sources.OpMsg.command("127.0.0.1", server.port, "graft",
            JObject(List("create" -> JString("tail"),
              "capped" -> JBool(true), "max" -> JInt(1000))))
          insert(seed.slice(0, 15))
          val open = graft.sources.OpMsg.command(
            "127.0.0.1", server.port, "graft", JObject(List(
              "find" -> JString("tail"), "tailable" -> JBool(true),
              "awaitData" -> JBool(true), "batchSize" -> JInt(1000))))
          def rowsOf(reply: Map[String, JValue], key: String)
              : List[Long] = {
            val cur = reply("cursor").asInstanceOf[JObject].obj.toMap
            cur(key) match {
              case JArray(ds) => ds.map(_.asInstanceOf[JObject].obj.toMap
                .apply("o_orderkey") match {
                case JLong(x) => x; case JInt(x) => x.toLong
                case other =>
                  throw new IllegalStateException(s"bad $other")
              })
              case other => throw new IllegalStateException(s"bad $other")
            }
          }
          val cursorId = open("cursor").asInstanceOf[JObject].obj.toMap
            .apply("id") match {
            case JLong(x) => x; case JInt(x) => x.toLong
            case other => throw new IllegalStateException(s"bad $other")
          }
          val phase1 = rowsOf(open, "firstBatch")
          insert(seed.slice(15, 25))
          val more = graft.sources.OpMsg.command(
            "127.0.0.1", server.port, "graft", JObject(List(
              "getMore" -> JLong(cursorId),
              "collection" -> JString("tail"))))
          val phase2 = rowsOf(more, "nextBatch")
          import s.implicits._
          (phase1.map((_, 1)) ++ phase2.map((_, 2)))
            .toDF("o_orderkey", "phase")
            .orderBy("o_orderkey")
        } finally server.stop()
      },
      Some("""SELECT * FROM (
                SELECT o_orderkey, 1 AS phase FROM (
                  SELECT o_orderkey FROM orders
                  ORDER BY o_orderkey LIMIT 15)
                UNION ALL
                SELECT o_orderkey, 2 AS phase FROM (
                  SELECT o_orderkey FROM orders
                  ORDER BY o_orderkey LIMIT 10 OFFSET 15)
              ) ORDER BY o_orderkey""")),

    // VIEWS over the wire (mongod `create` with viewOn + pipeline): a
    // stored aggregation pipeline resolves on every read — the wire
    // find on the view applies a FURTHER filter that prunes into the
    // underlying scan (the plan is fully declarative end to end). The
    // oracle composes both layers as nested SELECTs.
    QueryDef("q_wire_view",
      (s, dir) => {
        val store = new graft.sinks.DocStore(s,
          java.nio.file.Files.createTempDirectory("graft_wview").toString,
          "graftdocs")
        store.write(Graft.table(s, dir, "customer")
          .select("c_custkey", "c_nationkey", "c_mktsegment", "c_acctbal"),
          "customer")
        val server = new graft.sources.OpMsg.Server(s, store)
        try {
          graft.sources.OpMsg.command("127.0.0.1", server.port, "graft",
            org.json4s.JObject(List(
              "create" -> org.json4s.JString("building_rich"),
              "viewOn" -> org.json4s.JString("customer"),
              "pipeline" -> graft.mql.Mql.parse(
                """[{"$match": {"c_mktsegment": "BUILDING",
                                "c_acctbal": {"$gt": 1000.0}}},
                    {"$project": {"c_custkey": 1, "c_nationkey": 1,
                                  "c_acctbal": 1}}]""")))): Unit
          graft.sources.OpMsg.find(s, "127.0.0.1", server.port, "graft",
            "building_rich",
            Seq(org.apache.spark.sql.sources.LessThan("c_nationkey", 13)))
            .groupBy(col("c_nationkey"))
            .agg(count(lit(1)).as("n"),
              sum(col("c_acctbal").cast(org.apache.spark.sql.types.DecimalType(18, 4)))
                .cast(org.apache.spark.sql.types.DoubleType).as("sum_bal"))
            .orderBy("c_nationkey")
        } finally server.stop()
      },
      Some("""SELECT c_nationkey, CAST(COUNT(*) AS BIGINT) AS n,
                     CAST(SUM(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE) AS sum_bal
              FROM (SELECT c_custkey, c_nationkey, c_acctbal FROM customer
                    WHERE c_mktsegment = 'BUILDING' AND c_acctbal > 1000.0)
              WHERE c_nationkey < 13
              GROUP BY c_nationkey ORDER BY c_nationkey""")),

    // mongod 8.0's `bulkWrite` over the wire: ONE command carrying a
    // mixed ordered batch — a multi update ($inc on small parts), a
    // multi delete (oversized parts), and one pinned insert — against
    // nsInfo-indexed collections. The oracle replays the batch as SQL:
    // CASE for the update, complement for the delete, UNION ALL for
    // the insert.
    QueryDef("q_wire_bulk",
      (s, dir) => {
        val store = new graft.sinks.DocStore(s,
          java.nio.file.Files.createTempDirectory("graft_wblk").toString,
          "graftdocs")
        store.write(Graft.table(s, dir, "part")
          .select("p_partkey", "p_size", "p_retailprice"), "part")
        val server = new graft.sources.OpMsg.Server(s, store)
        try {
          import org.json4s._
          graft.sources.OpMsg.command("127.0.0.1", server.port, "graft",
            JObject(List(
              "bulkWrite" -> JInt(1),
              "ops" -> JArray(List(
                JObject(List("update" -> JInt(0),
                  "filter" -> graft.mql.Mql.parse("""{"p_size": {"$lte": 10}}"""),
                  "updateMods" -> graft.mql.Mql.parse(
                    """{"$inc": {"p_retailprice": 50}}"""),
                  "multi" -> JBool(true))),
                JObject(List("delete" -> JInt(0),
                  "filter" -> graft.mql.Mql.parse("""{"p_size": {"$gt": 45}}"""),
                  "multi" -> JBool(true))),
                JObject(List("insert" -> JInt(0),
                  "document" -> JObject(List(
                    "p_partkey" -> JLong(-1L),
                    "p_size" -> JInt(0),
                    "p_retailprice" -> JDouble(1.0))))))),
              "nsInfo" -> JArray(List(
                JObject(List("ns" -> JString("graft.part")))))))): Unit
          store.read("part")
            .groupBy(col("p_size"))
            .agg(count(lit(1)).as("n"),
              sum(col("p_retailprice").cast(org.apache.spark.sql.types.DecimalType(18, 4)))
                .cast(org.apache.spark.sql.types.DoubleType).as("price_sum"))
            .orderBy("p_size")
        } finally server.stop()
      },
      Some("""WITH after AS (
                SELECT p_size,
                       CASE WHEN p_size <= 10 THEN p_retailprice + 50
                            ELSE p_retailprice END AS pr
                FROM part WHERE p_size <= 45
                UNION ALL SELECT 0, 1.0)
              SELECT p_size, CAST(COUNT(*) AS BIGINT) AS n,
                     CAST(SUM(CAST(pr AS DECIMAL(18,4))) AS DOUBLE)
                       AS price_sum
              FROM after GROUP BY p_size ORDER BY p_size""")),

    // POSITIONAL update over the wire ($[identifier] + arrayFilters —
    // mongod's per-element update surface): each order's quantities
    // live as ONE array column, the update $incs only the elements the
    // arrayFilters condition admits (one `transform` lambda per row,
    // no unwind/regroup), and the read-back re-aggregates. The oracle
    // replays the element CASE on the flat source table.
    QueryDef("q_wire_update_positional",
      (s, dir) => {
        val store = new graft.sinks.DocStore(s,
          java.nio.file.Files.createTempDirectory("graft_wupp").toString,
          "graftdocs")
        store.write(Graft.table(s, dir, "lineitem")
          .where(col("l_orderkey") < 2000)
          .groupBy(col("l_orderkey"))
          .agg(sort_array(collect_list(col("l_quantity"))).as("qtys")),
          "orders_q")
        val server = new graft.sources.OpMsg.Server(s, store)
        try {
          graft.sources.OpMsg.update(
            "127.0.0.1", server.port, "graft", "orders_q", Seq(
              graft.sources.OpMsg.UpdateSpec("{}",
                """{"$inc": {"qtys.$[big]": 100}}""", multi = true,
                arrayFilters = Some("""[{"big": {"$gte": 30}}]""")))): Unit
          store.read("orders_q")
            .select(col("l_orderkey"), explode(col("qtys")).as("q"))
            .groupBy("l_orderkey")
            .agg(sum(col("q").cast(org.apache.spark.sql.types.DecimalType(18, 4)))
              .cast(org.apache.spark.sql.types.DoubleType).as("qty_sum"))
            .orderBy("l_orderkey")
        } finally server.stop()
      },
      Some("""SELECT l_orderkey,
                     CAST(SUM(CAST(CASE WHEN l_quantity >= 30
                                   THEN l_quantity + 100
                                   ELSE l_quantity END
                              AS DECIMAL(18,4))) AS DOUBLE) AS qty_sum
              FROM lineitem WHERE l_orderkey < 2000
              GROUP BY l_orderkey ORDER BY l_orderkey""")),

    // mongod's `distinct` command over the wire (the classic read
    // helper every driver exposes as collection.distinct): key +
    // query evaluate server-side, the sorted distinct values cross as
    // one reply. The oracle is SELECT DISTINCT with the same filter.
    QueryDef("q_wire_distinct",
      (s, dir) => {
        val store = new graft.sinks.DocStore(s,
          java.nio.file.Files.createTempDirectory("graft_wdst").toString,
          "graftdocs")
        store.write(Graft.table(s, dir, "orders")
          .select("o_orderkey", "o_orderpriority", "o_totalprice"),
          "orders")
        val server = new graft.sources.OpMsg.Server(s, store)
        try {
          val reply = graft.sources.OpMsg.command(
            "127.0.0.1", server.port, "graft",
            org.json4s.JObject(List(
              "distinct" -> org.json4s.JString("orders"),
              "key" -> org.json4s.JString("o_orderpriority"),
              "query" -> graft.mql.Mql.parse(
                """{"o_totalprice": {"$gt": 150000.0}}"""))))
          val values = reply("values") match {
            case org.json4s.JArray(vs) => vs.collect {
              case org.json4s.JString(v) => v }
            case other => throw new IllegalStateException(s"bad $other")
          }
          import s.implicits._
          values.toDF("o_orderpriority").orderBy("o_orderpriority")
        } finally server.stop()
      },
      Some("""SELECT DISTINCT o_orderpriority FROM orders
              WHERE o_totalprice > 150000.0
              ORDER BY o_orderpriority""")),

    // mongod's `count` command over the wire: query + skip + limit
    // arithmetic server-side. The oracle replays it as bounded COUNT.
    QueryDef("q_wire_count",
      (s, dir) => {
        val store = new graft.sinks.DocStore(s,
          java.nio.file.Files.createTempDirectory("graft_wcnt").toString,
          "graftdocs")
        store.write(Graft.table(s, dir, "customer")
          .select("c_custkey", "c_mktsegment", "c_acctbal"), "customer")
        val server = new graft.sources.OpMsg.Server(s, store)
        try {
          def n(doc: (String, org.json4s.JValue)*): Long =
            graft.sources.OpMsg.command("127.0.0.1", server.port, "graft",
              org.json4s.JObject(List("count" ->
                (org.json4s.JString("customer"): org.json4s.JValue)) ++
                doc.toList))("n") match {
              case org.json4s.JLong(v) => v
              case org.json4s.JInt(v) => v.toLong
              case other => throw new IllegalStateException(s"bad $other")
            }
          val filtered = n("query" -> graft.mql.Mql.parse(
            """{"c_mktsegment": "BUILDING", "c_acctbal": {"$gt": 0}}"""))
          val skipped = n("query" -> graft.mql.Mql.parse(
            """{"c_acctbal": {"$gt": 0}}"""),
            "skip" -> org.json4s.JInt(100),
            "limit" -> org.json4s.JInt(500))
          import s.implicits._
          Seq(("filtered", filtered), ("skip_limit", skipped))
            .toDF("which", "n").orderBy("which")
        } finally server.stop()
      },
      Some("""SELECT 'filtered' AS which, CAST(COUNT(*) AS BIGINT) AS n
              FROM customer
              WHERE c_mktsegment = 'BUILDING' AND c_acctbal > 0
              UNION ALL
              SELECT 'skip_limit',
                     LEAST(GREATEST(CAST(COUNT(*) AS BIGINT) - 100, 0), 500)
              FROM customer WHERE c_acctbal > 0
              ORDER BY which""")),

    // mongod's `update` command over the wire (the CRUD write a real
    // driver issues on update_many/replace_one — the reference client
    // itself writes via insert_many only, api.py:602-713): one
    // multi:true operator update ($inc + $set lowers to a single CASE
    // projection + staged-swap write server-side) plus one upsert with
    // every column pinned (deterministic insert image). The oracle
    // replays the update as SQL — the CASE projection IS the update
    // semantics — and the upsert as a UNION ALL literal row.
    QueryDef("q_wire_update",
      (s, dir) => {
        val store = new graft.sinks.DocStore(s,
          java.nio.file.Files.createTempDirectory("graft_wupd").toString,
          "graftdocs")
        store.write(Graft.table(s, dir, "supplier")
          .select("s_suppkey", "s_name", "s_nationkey", "s_acctbal"),
          "supplier")
        val server = new graft.sources.OpMsg.Server(s, store)
        try {
          graft.sources.OpMsg.update(
            "127.0.0.1", server.port, "graft", "supplier", Seq(
              graft.sources.OpMsg.UpdateSpec(
                """{"s_acctbal": {"$lt": 0}}""",
                """{"$inc": {"s_acctbal": 1000}, "$set": {"s_name": "RESCUED"}}""",
                multi = true),
              graft.sources.OpMsg.UpdateSpec(
                """{"s_suppkey": -1}""",
                """{"$set": {"s_name": "UPSERTED", "s_nationkey": 0,
                             "s_acctbal": 0.0}}""",
                upsert = true))): Unit
          store.read("supplier")
            .select(col("s_suppkey"), col("s_name"), col("s_nationkey"),
              col("s_acctbal"))
            .orderBy("s_suppkey")
        } finally server.stop()
      },
      Some("""SELECT s_suppkey,
                     CASE WHEN s_acctbal < 0 THEN 'RESCUED' ELSE s_name END
                       AS s_name,
                     s_nationkey,
                     CASE WHEN s_acctbal < 0
                          THEN CAST(s_acctbal + 1000 AS DOUBLE)
                          ELSE s_acctbal END AS s_acctbal
              FROM supplier
              UNION ALL
              SELECT CAST(-1 AS BIGINT), 'UPSERTED', 0, 0.0
              ORDER BY s_suppkey""")),

    // mongod's `delete` command over the wire: two set-based deletes
    // (limit 0) in one command — each an anti-filter + staged swap
    // server-side. The oracle keeps the complement.
    QueryDef("q_wire_delete",
      (s, dir) => {
        val store = new graft.sinks.DocStore(s,
          java.nio.file.Files.createTempDirectory("graft_wdel").toString,
          "graftdocs")
        store.write(Graft.table(s, dir, "customer")
          .select("c_custkey", "c_mktsegment", "c_acctbal"), "customer")
        val server = new graft.sources.OpMsg.Server(s, store)
        try {
          graft.sources.OpMsg.delete(
            "127.0.0.1", server.port, "graft", "customer", Seq(
              ("""{"c_mktsegment": "MACHINERY"}""", 0),
              ("""{"c_acctbal": {"$lt": 0}}""", 0))): Unit
          store.read("customer")
            .groupBy(col("c_mktsegment"))
            .agg(count(lit(1)).as("n"),
              sum(col("c_acctbal").cast(org.apache.spark.sql.types.DecimalType(18, 4)))
                .cast(org.apache.spark.sql.types.DoubleType).as("sum_bal"))
            .orderBy("c_mktsegment")
        } finally server.stop()
      },
      Some("""SELECT c_mktsegment, CAST(COUNT(*) AS BIGINT) AS n,
                     CAST(SUM(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE) AS sum_bal
              FROM customer
              WHERE c_mktsegment <> 'MACHINERY' AND c_acctbal >= 0
              GROUP BY c_mktsegment ORDER BY c_mktsegment""")),

    // mongod's `findAndModify` over the wire: query + sort select ONE
    // document (the lowest nationkey in region 2), a $set applies, the
    // post-image collection reads back. The oracle replays "first by
    // sort order" as a scalar subquery.
    QueryDef("q_wire_find_modify",
      (s, dir) => {
        val store = new graft.sinks.DocStore(s,
          java.nio.file.Files.createTempDirectory("graft_wfam").toString,
          "graftdocs")
        store.write(Graft.table(s, dir, "nation")
          .select(col("n_nationkey").as("_id"), col("n_name"),
            col("n_regionkey")), "nation")
        val server = new graft.sources.OpMsg.Server(s, store)
        try {
          graft.sources.OpMsg.findAndModify(
            "127.0.0.1", server.port, "graft", "nation",
            query = """{"n_regionkey": 2}""",
            sort = Some("""{"_id": 1}"""),
            update = Some("""{"$set": {"n_name": "MODIFIED"}}"""),
            returnNew = true): Unit
          store.read("nation")
            .select(col("_id").as("n_nationkey"), col("n_name"),
              col("n_regionkey"))
            .orderBy("n_nationkey")
        } finally server.stop()
      },
      Some("""SELECT n_nationkey,
                     CASE WHEN n_nationkey = (SELECT min(n_nationkey)
                                              FROM nation
                                              WHERE n_regionkey = 2)
                          THEN 'MODIFIED' ELSE n_name END AS n_name,
                     n_regionkey
              FROM nation ORDER BY n_nationkey""")),

    // NATIVE streaming write over the wire: a micro-batch stream of
    // half the customer table lands through writeStream.format(
    // "graftwire") — per-partition insert connections, every command
    // tagged {lsid, txnNumber} so a replayed micro-batch acknowledges
    // from the server's retryable-write log instead of double-
    // inserting (effectively-once). The read-back aggregate must
    // equal a plain batch predicate on the source — any replay
    // duplication or lost batch breaks the hash.
    QueryDef("q_wire_stream_write",
      (s, dir) => {
        val store = new graft.sinks.DocStore(s,
          java.nio.file.Files.createTempDirectory("graft_wsw").toString,
          "graftdocs")
        val server = new graft.sources.OpMsg.Server(s, store)
        try {
          import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
          implicit val sc: org.apache.spark.sql.SQLContext = s.sqlContext
          val half = Graft.table(s, dir, "customer")
            .select("c_custkey", "c_mktsegment", "c_acctbal")
            .where(col("c_custkey") % 2 === 0)
          val in = MemoryStream[org.apache.spark.sql.Row](
            org.apache.spark.sql.Encoders.row(half.schema), sc)
          val q = in.toDF()
            .writeStream.format("graftwire")
            .option("host", "127.0.0.1").option("port", server.port)
            .option("collection", "cust_stream")
            .option("streamId", "q-wire-stream-write")
            .option("checkpointLocation", java.nio.file.Files
              .createTempDirectory("graft_wsw_ck").toString)
            .outputMode("append").start()
          try {
            val rows = half.collect()
            val (a, b) = rows.splitAt(rows.length / 2)
            in.addData(a.toIndexedSeq)
            q.processAllAvailable()
            in.addData(b.toIndexedSeq)
            q.processAllAvailable()
          } finally q.stop()
          store.read("cust_stream")
            .groupBy(col("c_mktsegment"))
            .agg(count(lit(1)).as("n"),
              sum(col("c_acctbal").cast(org.apache.spark.sql.types.DecimalType(18, 4)))
                .cast(org.apache.spark.sql.types.DoubleType).as("sum_bal"))
            .orderBy("c_mktsegment")
        } finally server.stop()
      },
      Some("""SELECT c_mktsegment, CAST(COUNT(*) AS BIGINT) AS n,
                     CAST(SUM(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE) AS sum_bal
              FROM customer WHERE c_custkey % 2 = 0
              GROUP BY c_mktsegment ORDER BY c_mktsegment""")),

    // SQL-catalog loop: the same document collection resolved through
    // the GraftCatalog TableCatalog (spark.sql over `<cat>.<coll>` —
    // the session-catalog twin of the reference's database[collection]
    // handle, api.py:129); filter + aggregation run through the DSv2
    // pushdowns exactly like the format("graftdocs") path
    QueryDef("q_sql_catalog",
      (s, dir) => {
        val root = java.nio.file.Files.createTempDirectory("graft_cat").toString
        Graft.table(s, dir, "customer")
          .write.format("graftdocs").mode("overwrite").save(s"$root/customer_docs")
        val cat = s"graftcat${System.nanoTime()}"
        s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
        s.conf.set(s"spark.sql.catalog.$cat.dir", root)
        s.sql(s"""SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n,
                         CAST(sum(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE) AS sum_bal
                  FROM $cat.customer_docs WHERE c_custkey <= 1000
                  GROUP BY c_mktsegment ORDER BY c_mktsegment""")
      },
      Some("""SELECT c_mktsegment, CAST(COUNT(*) AS BIGINT) AS n,
                     CAST(SUM(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE) AS sum_bal
              FROM customer WHERE c_custkey <= 1000
              GROUP BY c_mktsegment ORDER BY c_mktsegment""")),

    // SQL time travel: two curation generations land via writeVersioned
    // (pointer-rename snapshots), then ONE statement reads both — the
    // retired generation through VERSION AS OF, the live one directly.
    // The oracle replays the curation filter per branch.
    QueryDef("q_sql_time_travel",
      (s, dir) => {
        val root = java.nio.file.Files.createTempDirectory("graft_tt").toString
        val store = new graft.sinks.DocStore(s, root, "graftdocs")
        val cust = Graft.table(s, dir, "customer")
        store.writeVersioned(cust, "cust"): Unit
        store.writeVersioned(cust.where(col("c_custkey") <= 1000), "cust"): Unit
        val cat = s"grafttt${System.nanoTime()}"
        s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
        s.conf.set(s"spark.sql.catalog.$cat.dir", root)
        s.sql(s"""SELECT snap, c_mktsegment, n, sum_bal FROM (
                    SELECT 'v1' AS snap, c_mktsegment,
                           CAST(count(*) AS BIGINT) AS n,
                           CAST(sum(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE) AS sum_bal
                    FROM $cat.cust VERSION AS OF 1 GROUP BY c_mktsegment
                    UNION ALL
                    SELECT 'live', c_mktsegment, CAST(count(*) AS BIGINT),
                           CAST(sum(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE)
                    FROM $cat.cust GROUP BY c_mktsegment)
                  ORDER BY snap, c_mktsegment""")
      },
      Some("""SELECT snap, c_mktsegment, n, sum_bal FROM (
                SELECT 'v1' AS snap, c_mktsegment,
                       CAST(COUNT(*) AS BIGINT) AS n,
                       CAST(SUM(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE) AS sum_bal
                FROM customer GROUP BY c_mktsegment
                UNION ALL
                SELECT 'live', c_mktsegment, CAST(COUNT(*) AS BIGINT),
                       CAST(SUM(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE)
                FROM customer WHERE c_custkey <= 1000 GROUP BY c_mktsegment)
              ORDER BY snap, c_mktsegment""")),

    // raw binary BSON loop (the reference's native format,
    // process_bson_stream lib.pyx:296-311): typed table → .bson batch
    // files → binary parse + schema-directed decode → aggregation
    QueryDef("q_decode_bson",
      (s, dir) => {
        val df = Graft.table(s, dir, "orders")
        val path = java.nio.file.Files.createTempDirectory("graft_bson_q").toString
        // spread the encode input: the single-file fixture otherwise
        // plans the per-row BSON encode as ONE write task (StageProf
        // round 12: 0.8 s of the gate on one core)
        graft.operators.Spread.cpuDense(df)
          .write.format("graftdocs").option("format", "bson")
          .mode("overwrite").save(path)
        s.read.format("graftdocs").schema(df.schema).load(path)
          .groupBy(col("o_orderstatus"))
          .agg(count(lit(1)).as("n"),
            sum(col("o_totalprice").cast(org.apache.spark.sql.types.DecimalType(18, 4)))
              .cast(org.apache.spark.sql.types.DoubleType).as("sum_price"),
            max(col("o_orderdate")).as("last_date"))
          .orderBy("o_orderstatus")
      },
      Some("""SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n,
                     CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price,
                     max(o_orderdate) AS last_date
              FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""")),

    // continuous document ingest: typed table → DSv2 doc sink →
    // `readStream.format("graftdocs")` micro-batch tail ((mtime, name)
    // watermark offsets) → streaming aggregate — the streaming twin of
    // the reference's cursor loop, closed against the batch oracle
    QueryDef("q_stream_docs",
      (s, dir) => {
        val df = Graft.table(s, dir, "customer")
        val path = java.nio.file.Files.createTempDirectory("graft_stream_q").toString
        df.write.format("graftdocs").mode("overwrite").save(path)
        val qName = "graft_stream_docs_sink"
        val q = s.readStream.format("graftdocs").schema(df.schema).load(path)
          .groupBy(col("c_mktsegment"))
          .agg(count(lit(1)).as("n"),
            sum(col("c_acctbal").cast(org.apache.spark.sql.types.DecimalType(18, 4)))
              .cast(org.apache.spark.sql.types.DoubleType).as("sum_bal"))
          .writeStream.format("memory").queryName(qName)
          .outputMode("complete").start()
        try q.processAllAvailable() finally q.stop()
        s.table(qName).orderBy("c_mktsegment")
      },
      Some("""SELECT c_mktsegment, CAST(COUNT(*) AS BIGINT) AS n,
                     CAST(SUM(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE) AS sum_bal
              FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment""")),

    // COUNT(*) pushdown: the count comes from length-prefix hops (bson)
    // + line-byte counts (jsonl) — no document ever decodes (plan-
    // asserted in ColumnarReadSpec); the oracle checks the VALUE here
    QueryDef("q_doc_count",
      (s, dir) => {
        val df = Graft.table(s, dir, "supplier")
        val path = java.nio.file.Files.createTempDirectory("graft_cnt_q").toString
        df.limit(1000).write.format("graftdocs").mode("overwrite").save(path)
        df.limit(1000).write.format("graftdocs").option("format", "bson")
          .mode("append").save(path) // mixed-format dir: both counters
        s.read.format("graftdocs").schema(df.schema).load(path)
          .groupBy().count().select(col("count").as("n"))
      },
      Some("""SELECT CAST(2 * least(COUNT(*), 1000) AS BIGINT) AS n
              FROM supplier""")),

    // tz-aware timestamp semantics (SURVEY §1.4): a tz-tagged field is
    // an absolute instant carrying its display zone in metadata;
    // Graft.localize materializes the zone's wall clock (incl. DST
    // transitions — both engines consult the IANA tzdb). Previously
    // spec-only (TimezoneSpec); the wall-clock hour histogram gives it
    // an oracle row.
    QueryDef("q_tz_localize",
      (s, dir) => {
        val ev = Graft.table(s, dir, "events").where(col("ts").isNotNull)
        val meta = new org.apache.spark.sql.types.MetadataBuilder()
          .putString(graft.schema.MSchema.TimezoneKey, "America/New_York").build()
        val tagged = ev.select(col("event_id"), col("ts").as("ts", meta))
        Graft.localize(tagged)
          .groupBy(hour(col("ts")).as("h"))
          .agg(count(lit(1)).as("n"))
          .select(col("h").cast(LongType).as("h"), col("n"))
          .orderBy("h")
      },
      Some("""SELECT CAST(hour(timezone('America/New_York',
                       timezone('UTC', CAST(ts AS TIMESTAMP)))) AS BIGINT) AS h,
                     CAST(COUNT(*) AS BIGINT) AS n
              FROM events WHERE ts IS NOT NULL
              GROUP BY 1 ORDER BY h""")),

    // the complete reference loop: document batches → graftdocs source
    // (columnar decode) → the SAME MQL pipeline surface a mongod user
    // runs — find+aggregate against the connector frame, not parquet
    QueryDef("q_mql_on_docs",
      (s, dir) => {
        // spread the single-row-group lineitem scan before the document
        // write: the JSON-encoding sink otherwise runs as ONE task
        // (operators/Spread rationale; the gate's aggregate output is
        // row-order independent)
        val df = graft.operators.Spread.cpuDense(Graft.table(s, dir, "lineitem")
          .select("l_orderkey", "l_quantity", "l_returnflag", "l_shipdate"))
        val path = java.nio.file.Files.createTempDirectory("graft_mqldoc").toString
        df.write.format("graftdocs").mode("overwrite").save(path)
        val docs = s.read.format("graftdocs").schema(df.schema).load(path)
        Graft.aggregate(docs, """[
          {"$match": {"l_quantity": {"$gte": 30.0}}},
          {"$group": {"_id": "$l_returnflag",
             "n": {"$count": {}},
             "sum_qty": {"$sum": {"$toDecimal": "$l_quantity"}},
             "last_ship": {"$max": "$l_shipdate"}}},
          {"$project": {"_id": 0, "l_returnflag": "$_id", "n": 1,
             "sum_qty": {"$toDouble": "$sum_qty"}, "last_ship": 1}},
          {"$sort": {"l_returnflag": 1}}]""")
      },
      Some("""SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS n,
                     CAST(SUM(CAST(l_quantity AS DECIMAL(38,10))) AS DOUBLE) AS sum_qty,
                     max(l_shipdate) AS last_ship
              FROM lineitem WHERE l_quantity >= 30.0
              GROUP BY l_returnflag ORDER BY l_returnflag""")),

    // hive-style partitioned document layout: partitioned write routes
    // each doc into k=v directories; the partition-filtered read PRUNES
    // the excluded directories at planning (exact three-valued verdict
    // over the constant dir values — the filter is fully handled, no
    // post-scan re-evaluation) and fills the partition column from a
    // constant vector. At 100 TB this answers a tenant/date-filtered
    // query by listing, never opening, the excluded directories.
    QueryDef("q_doc_partition_prune",
      (s, dir) => {
        val df = Graft.table(s, dir, "customer")
        val path = java.nio.file.Files.createTempDirectory("graft_part_q").toString
        df.write.format("graftdocs").option("partitionBy", "c_mktsegment")
          .mode("overwrite").save(path)
        s.read.format("graftdocs").schema(df.schema).load(path)
          .where(col("c_mktsegment") === "BUILDING")
          .groupBy(col("c_nationkey"))
          .agg(count(lit(1)).as("n"),
            sum(col("c_acctbal").cast(org.apache.spark.sql.types.DecimalType(18, 4)))
              .cast(org.apache.spark.sql.types.DoubleType).as("sum_bal"))
          .select(col("c_nationkey").cast(LongType).as("c_nationkey"),
            col("n"), col("sum_bal"))
          .orderBy("c_nationkey")
      },
      Some("""SELECT CAST(c_nationkey AS BIGINT) AS c_nationkey,
                     CAST(COUNT(*) AS BIGINT) AS n,
                     CAST(SUM(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE) AS sum_bal
              FROM customer WHERE c_mktsegment = 'BUILDING'
              GROUP BY c_nationkey ORDER BY c_nationkey""")),

    // file-level zone maps: the batch writer stages per-column min/max/
    // nulls sidecars (.zmap) through the same hidden-rename commit as
    // each data file; a range-filtered read drops the files whose
    // predicate is provably false — parquet row-group skipping, doc-
    // source form. On this range-clustered layout the o_orderkey filter
    // opens only the low-key files; at 100 TB a point/range query over
    // a sorted corpus reads the intersecting files, not the table.
    QueryDef("q_zonemap_prune",
      (s, dir) => {
        val df = Graft.table(s, dir, "orders")
        val path = java.nio.file.Files.createTempDirectory("graft_zmap_q").toString
        df.repartitionByRange(8, col("o_orderkey"))
          .sortWithinPartitions(col("o_orderkey"))
          .write.format("graftdocs").mode("overwrite").save(path)
        s.read.format("graftdocs").schema(df.schema).load(path)
          .where(col("o_orderkey") < 1000L) // nonempty at every fixture SF
          .groupBy(col("o_orderstatus"))
          .agg(count(lit(1)).as("n"),
            sum(col("o_totalprice").cast(org.apache.spark.sql.types.DecimalType(18, 4)))
              .cast(org.apache.spark.sql.types.DoubleType).as("sum_price"))
          .orderBy("o_orderstatus")
      },
      Some("""SELECT o_orderstatus,
                     CAST(COUNT(*) AS BIGINT) AS n,
                     CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price
              FROM orders WHERE o_orderkey < 1000
              GROUP BY o_orderstatus ORDER BY o_orderstatus""")),

    // per-file Bloom filters (bloomColumns write option): on a HASH-
    // distributed layout every file spans the whole key range — min/max
    // zone maps can prove nothing — yet a point lookup / $in probe
    // opens only the files whose bloom admits the key (parquet's
    // per-column bloom, doc-source form; ~10 bits per distinct key in
    // the .zmap sidecar). ZoneMapSpec proves files are actually skipped
    // and that a skip is sound; this row gates the RESULT end-to-end.
    // At 100 TB: an id lookup costs sidecar reads + ONE file scan.
    QueryDef("q_bloom_prune",
      (s, dir) => {
        val df = Graft.table(s, dir, "orders")
        val path = java.nio.file.Files.createTempDirectory("graft_bloom_q").toString
        df.repartition(8, col("o_orderkey"))
          .write.format("graftdocs").option("bloomColumns", "o_orderkey")
          .mode("overwrite").save(path)
        s.read.format("graftdocs").schema(df.schema).load(path)
          .where(col("o_orderkey").isin(1L, 7L, 33L))
          .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
          .orderBy("o_orderkey")
      },
      Some("""SELECT o_orderkey, o_custkey, o_totalprice FROM orders
              WHERE o_orderkey IN (1, 7, 33) ORDER BY o_orderkey""")),

    // metadata-only MIN/MAX over DOCUMENT columns: the same .zmap
    // sidecars that prune range scans also answer bare min/max
    // aggregates with zero document decodes (parquet footer stats, doc-
    // source form; the spec proves it by corrupting the data files).
    // COUNT(*) composes on the split path. At 100 TB the answer costs
    // one tiny sidecar read per file.
    QueryDef("q_zonemap_minmax",
      (s, dir) => {
        val df = Graft.table(s, dir, "orders")
        val path = java.nio.file.Files.createTempDirectory("graft_zmm_q").toString
        df.repartitionByRange(8, col("o_orderkey"))
          .sortWithinPartitions(col("o_orderkey"))
          .write.format("graftdocs").mode("overwrite").save(path)
        s.read.format("graftdocs").schema(df.schema).load(path)
          .agg(min(col("o_totalprice")).as("lo_price"),
            max(col("o_totalprice")).as("hi_price"),
            min(col("o_orderkey")).as("lo_key"),
            max(col("o_orderkey")).as("hi_key"),
            min(col("o_orderstatus")).as("lo_status"),
            count(col("o_custkey")).as("n_cust"),
            count(lit(1)).as("n"))
      },
      Some("""SELECT MIN(o_totalprice) AS lo_price, MAX(o_totalprice) AS hi_price,
                     MIN(o_orderkey) AS lo_key, MAX(o_orderkey) AS hi_key,
                     MIN(o_orderstatus) AS lo_status,
                     CAST(COUNT(o_custkey) AS BIGINT) AS n_cust,
                     CAST(COUNT(*) AS BIGINT) AS n
              FROM orders""")),

    // persisted id→(file, offset) index + point fetch: the engine's
    // `_id`-index twin (the reference delegates point lookups to the
    // server's B-tree). An id lookup costs an index probe plus ONE
    // ranged read per document — DocIdIndexSpec proves it by garbaging
    // every non-target file; this row gates the fetched rows
    // end-to-end against the oracle. At 100 TB: O(1) document fetch.
    QueryDef("q_point_fetch",
      (s, dir) => {
        val df = Graft.table(s, dir, "orders")
        val data = java.nio.file.Files.createTempDirectory("graft_pf_d").toString
        val idx = java.nio.file.Files.createTempDirectory("graft_pf_i").toString
        df.repartition(8).write.format("graftdocs").option("format", "bson")
          .mode("overwrite").save(data)
        graft.sources.DocIdIndex.build(s, data, "o_orderkey", df.schema, idx)
        graft.sources.DocIdIndex.fetch(s, idx, df.schema,
          Seq(1L, 7L, 33L, 250L))
          .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
            col("o_orderstatus"))
          .orderBy("o_orderkey")
      },
      Some("""SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus
              FROM orders WHERE o_orderkey IN (1, 7, 33, 250)
              ORDER BY o_orderkey""")),

    // grouped aggregate pushdown: GROUP BY a partition column answers
    // the whole query from metadata — groups ARE directories, counts
    // hop bytes, min/max of doc columns come from the .zmap sidecars
    // (DocPartitionSpec proves zero decodes). At 100 TB the per-source
    // corpus dashboard costs metadata reads only.
    QueryDef("q_group_pushdown",
      (s, dir) => {
        val df = Graft.table(s, dir, "documents").select(
          col("doc_id"), col("lang"), col("source"), col("n_chars"))
        val path = java.nio.file.Files.createTempDirectory("graft_gagg_q").toString
        df.write.format("graftdocs").option("partitionBy", "lang")
          .mode("overwrite").save(path)
        s.read.format("graftdocs").schema(df.schema).load(path)
          .groupBy(col("lang"))
          .agg(count(lit(1)).as("n"),
            min(col("n_chars")).as("lo_chars"),
            max(col("n_chars")).as("hi_chars"))
          .orderBy("lang")
      },
      Some("""SELECT lang, CAST(COUNT(*) AS BIGINT) AS n,
                     MIN(n_chars) AS lo_chars, MAX(n_chars) AS hi_chars
              FROM documents GROUP BY lang ORDER BY lang""")),

    // storage-partitioned join: both sides hive-partitioned on the join
    // key report KeyGroupedPartitioning, so the equi-join runs with NO
    // shuffle on either side (spec-asserted plan; this row gates the
    // RESULT end-to-end). At 100 TB: co-partitioned corpora join
    // exchange-free — the directory layout is the shuffle.
    QueryDef("q_spj_join",
      (s, dir) => {
        val df = Graft.table(s, dir, "orders")
        val factPath = java.nio.file.Files.createTempDirectory("graft_spj_f").toString
        val dimPath = java.nio.file.Files.createTempDirectory("graft_spj_d").toString
        df.write.format("graftdocs").option("partitionBy", "o_orderstatus")
          .mode("overwrite").save(factPath)
        df.groupBy("o_orderstatus")
          .agg(count(lit(1)).as("status_n"))
          .write.format("graftdocs").option("partitionBy", "o_orderstatus")
          .mode("overwrite").save(dimPath)
        val fact = s.read.format("graftdocs").schema(df.schema).load(factPath)
        val dim = s.read.format("graftdocs")
          .schema("status_n long, o_orderstatus string").load(dimPath)
          .withColumnRenamed("o_orderstatus", "st")
        fact.join(dim, col("o_orderstatus") === col("st"))
          .groupBy(col("o_orderstatus"))
          .agg(count(lit(1)).as("n"), max(col("status_n")).as("status_n"))
          .orderBy("o_orderstatus")
      },
      Some("""WITH d AS (SELECT o_orderstatus AS st,
                                CAST(COUNT(*) AS BIGINT) AS status_n
                         FROM orders GROUP BY 1)
              SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n,
                     MAX(status_n) AS status_n
              FROM orders JOIN d ON o_orderstatus = st
              GROUP BY o_orderstatus ORDER BY o_orderstatus""")),

    // tabular interop (reference §2.A: Arrow tables hand off to pandas/
    // polars/parquet): typed frame → CSV → re-read with declared schema
    // → MQL aggregate; any serialization drift breaks the oracle hash
    QueryDef("q_interop_csv",
      (s, dir) => {
        import graft.api.implicits._
        val df = Graft.table(s, dir, "nation")
        val path = java.nio.file.Files.createTempDirectory("graft_csv").toString
        df.write.mode("overwrite").option("header", "true").csv(path)
        s.read.schema(df.schema).option("header", "true").csv(path)
          .mqlAggregate("""[
            {"$group": {"_id": "$n_regionkey",
               "n": {"$count": {}},
               "names": {"$push": "$n_name"}}},
            {"$project": {"_id": 0, "n_regionkey": "$_id", "n": 1,
               "first_name": {"$arrayElemAt": [
                 {"$sortArray": {"input": "$names", "sortBy": 1}}, 0]}}},
            {"$sort": {"n_regionkey": 1}}]""")
      },
      Some("""SELECT CAST(n_regionkey AS BIGINT) AS n_regionkey,
                     CAST(COUNT(*) AS BIGINT) AS n,
                     min(n_name) AS first_name
              FROM nation GROUP BY n_regionkey ORDER BY n_regionkey"""))
  )
}
