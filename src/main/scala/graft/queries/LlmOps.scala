package graft.queries

import org.apache.spark.sql.functions._
import graft.api.Graft
import graft.llmops.{Bpe, Decontaminate, Dedup, Dsir, LineFreqIndex, Multimodal, NearDupIndex, Sampling, Similarity, TextAnalysis, TfIdf}

/** Training-data pipeline operators over the documents/embeddings
  * fixtures: text analysis, dedup (exact → minhash/simhash near-dup),
  * similarity search, multimodal plumbing.
  *
  * Oracle notes: every entry is hash-checked against DuckDB. Where a
  * signature hash is involved, it is built from md5 (shared by both
  * engines): simhash/media-features/LSH-planes use md5-derived values
  * (see Dedup.portableHash60, Similarity.planeSign,
  * Multimodal.fakeDecode); only minhash keeps xxhash64 — its output is
  * exact-verified pairs, so the exact-jaccard oracle covers it.
  */
object LlmOps {
  // CPU-dense gates read the text/vector fixtures through Spread
  // (operators/Spread.scala): a small single-row-group parquet file
  // otherwise scans as ONE task and serializes the tokenization /
  // hashing kernels on one core of the session. Applied PER GATE, not
  // blanket: a round-12 A/B over all 88 documents/embeddings gates at
  // 32 AND 8 cores showed the exchange is a net loss for gates that
  // consume the read on several plan branches or feed an aggregation
  // shuffle right away (dedup family, top-k, index builds, sampling —
  // each 0.1–1.0 s faster on the plain read at BOTH core counts), and
  // a clear win only where a heavy per-row kernel dominates the scan
  // stage (tokenization / shingling / scoring / media decode). docsT /
  // embT = spread (kernel gates); docsP / embP = plain read.
  private def docsT(s: org.apache.spark.sql.SparkSession, dir: String) =
    graft.operators.Spread.cpuDense(Graft.table(s, dir, "documents"))
  private def embT(s: org.apache.spark.sql.SparkSession, dir: String) =
    graft.operators.Spread.cpuDense(Graft.table(s, dir, "embeddings"))
  private def docsP(s: org.apache.spark.sql.SparkSession, dir: String) =
    Graft.table(s, dir, "documents")
  private def embP(s: org.apache.spark.sql.SparkSession, dir: String) =
    Graft.table(s, dir, "embeddings")

  // DuckDB-side token list, mirrored from TextAnalysis.tokens
  private val duckToks =
    """list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '')"""
  private val duckToksLower =
    """list_filter(string_split_regex(trim(lower(text)), '\s+'), x -> x <> '')"""
  // DuckDB-side GPT-2 pre-tokenizer, mirrored from
  // TextAnalysis.BpeSplitPattern (leading apostrophe doubled for the
  // SQL string literal; the pattern itself is RE2-safe by design)
  private val duckBpeSplit =
    """''(?:s|t|re|ve|m|ll|d)| ?[a-zA-Z]+| ?[0-9]+| ?[^a-zA-Z0-9\s]+|\s+"""
  // DuckDB-side 3-gram shingle list, mirrored from Dedup.shingles
  private val duckShingles =
    s"""list_distinct([array_to_string(w[i:i+2], ' ')
        for i in range(1, greatest(len(w) - 1, 1))])"""
  // DuckDB-side composite quality score, mirrored from
  // TextAnalysis.qualityScore (same formula as the q_text_quality twin)
  private val duckQuality = {
    val sw = TextAnalysis.EnglishStopwords.map("'" + _ + "'").mkString(",")
    s"""round(0.4 * least(len($duckToks)::DOUBLE / 100.0, 1.0)
        + 0.3 * (1.0 - (length(text) - length(regexp_replace(text, '[.!?,;:]', '', 'g')))::DOUBLE
                       / greatest(length(text), 1))
        + 0.3 * least(5.0 * len(list_filter($duckToksLower, x -> x IN ($sw)))::DOUBLE
                      / greatest(len($duckToks), 1), 1.0), 6)"""
  }
  // DuckDB-side normalized-text digest, mirrored from Dedup.exact
  private val duckNormDigest =
    """md5(regexp_replace(lower(text), '\s+', ' ', 'g'))"""

  /** Exact n-gram-jaccard near-dup pairs (the dedup ground truth):
    * rarest-4-shingle blocking + exact verification, mirroring
    * Dedup.jaccardPairs stage for stage. */
  private val nearDupOracle: String =
    s"""WITH t AS (
         SELECT doc_id, $duckShingles AS sh
         FROM (SELECT doc_id, $duckToks AS w FROM documents)),
       e AS (SELECT doc_id, unnest(sh) AS s FROM t),
       f AS (SELECT s, COUNT(*) AS fr FROM e GROUP BY s),
       k AS (SELECT doc_id, s AS key FROM (
               SELECT e.doc_id, e.s,
                      ROW_NUMBER() OVER (PARTITION BY e.doc_id
                                         ORDER BY f.fr, e.s) AS rn
               FROM e JOIN f ON e.s = f.s) WHERE rn <= 4),
       c AS (SELECT DISTINCT a.doc_id AS ia, b.doc_id AS ib
             FROM k a JOIN k b ON a.key = b.key AND a.doc_id < b.doc_id),
       j AS (SELECT ia, ib,
               round(len(list_intersect(ta.sh, tb.sh))::DOUBLE
                     / len(list_distinct(ta.sh || tb.sh)), 6) AS jac
             FROM c JOIN t ta ON ta.doc_id = c.ia
                    JOIN t tb ON tb.doc_id = c.ib)
       SELECT ia AS id_a, ib AS id_b, jac AS jaccard FROM j
       WHERE jac >= 0.8 ORDER BY id_a, id_b"""

  /** Exact cosine top-10 for query vectors vec_id<5 (brute-force ground
    * truth; also the oracle for IVF-with-exhaustive-probing). */
  private val knnOracle: String =
    """WITH u AS (SELECT vec_id, unnest(embedding)::DOUBLE AS e,
                         generate_subscripts(embedding, 1) AS i FROM embeddings),
         n AS (SELECT vec_id, sqrt(sum(e*e)) AS nrm FROM u GROUP BY vec_id),
         d AS (SELECT q.vec_id AS query_id, c.vec_id AS match_id,
                      sum(q.e * c.e) AS dt
               FROM u q JOIN u c ON q.i = c.i AND q.vec_id <> c.vec_id
               WHERE q.vec_id < 5 GROUP BY 1, 2),
         sc AS (SELECT query_id, match_id,
                       round(dt / (nq.nrm * nc.nrm), 6) AS cos
                FROM d JOIN n nq ON nq.vec_id = query_id
                       JOIN n nc ON nc.vec_id = match_id),
         r AS (SELECT query_id, match_id, cos,
                      CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                        ORDER BY cos DESC, match_id) AS BIGINT) AS rnk
               FROM sc)
       SELECT query_id, match_id, cos, rnk FROM r WHERE rnk <= 10
       ORDER BY query_id, rnk"""

  val all: Seq[QueryDef] = Seq(

    // BPE-ish pre-tokenization budget count vs the whitespace count;
    // the pattern is RE2-safe so DuckDB re-tokenizes identically
    QueryDef("q_bpe_tokens",
      (s, dir) => docsP(s, dir).select(col("doc_id"),
        graft.llmops.TextAnalysis.tokenCount(col("text")).as("ws_tokens"),
        graft.llmops.TextAnalysis.bpeTokenCount(col("text")).as("bpe_tokens"))
        .orderBy("doc_id"),
      Some("""SELECT doc_id,
                CAST(len(list_filter(string_split_regex(trim(text), '\s+'),
                     x -> x <> '')) AS BIGINT) AS ws_tokens,
                CAST(len(regexp_extract_all(text,
                  '''(?:s|t|re|ve|m|ll|d)| ?[a-zA-Z]+| ?[0-9]+| ?[^a-zA-Z0-9\s]+|\s+'))
                  AS BIGINT) AS bpe_tokens
              FROM documents ORDER BY doc_id""")),

    // $toUUID + $convert(format "uuid") round trip over synthesized
    // dashed UUID strings (md5-derived); $binarySize sees 16 bytes
    QueryDef("q_to_uuid",
      (s, dir) => {
        val h = md5(concat(lit("uuid:"), col("doc_id").cast("string")))
        val docs = docsT(s, dir)
          .withColumn("u_str", concat_ws("-",
            substring(h, 1, 8), substring(h, 9, 4), substring(h, 13, 4),
            substring(h, 17, 4), substring(h, 21, 12)))
        Graft.aggregate(docs, """[
          {"$project": {"doc_id": 1,
            "rt": {"$convert": {"input": {"$toUUID": "$u_str"},
                                "to": "string", "format": "uuid"}},
            "b_size": {"$binarySize": {"$toUUID": "$u_str"}}}},
          {"$sort": {"doc_id": 1}}]""")
      },
      Some("""SELECT doc_id,
                substr(md5('uuid:' || doc_id), 1, 8) || '-' ||
                substr(md5('uuid:' || doc_id), 9, 4) || '-' ||
                substr(md5('uuid:' || doc_id), 13, 4) || '-' ||
                substr(md5('uuid:' || doc_id), 17, 4) || '-' ||
                substr(md5('uuid:' || doc_id), 21, 12) AS rt,
                16 AS b_size
              FROM documents ORDER BY doc_id""")),

    QueryDef("q_text_stats",
      (s, dir) => {
        // one native text_stats pass; each metric a cheap field derive
        val d = docsT(s, dir)
          .withColumn("__s", TextAnalysis.textStats(col("text")))
        val nTok = col("__s.n_tok")
        d.select(
          col("doc_id"),
          nTok.as("n_tokens"),
          col("__s.n_chars").as("n_chars"),
          round(col("__s.punct_chars").cast("double") /
            greatest(col("__s.n_chars"), lit(1L)).cast("double"), 6)
            .as("punct_ratio"),
          round(col("__s.sum_tok_chars").cast("double") /
            greatest(nTok, lit(1L)).cast("double"), 6).as("avg_word_len"))
          .orderBy("doc_id")
      },
      Some(s"""SELECT doc_id,
                 CAST(len($duckToks) AS BIGINT) AS n_tokens,
                 CAST(length(text) AS BIGINT) AS n_chars,
                 round((length(text) - length(regexp_replace(text, '[.!?,;:]', '', 'g')))::DOUBLE
                       / greatest(length(text), 1), 6) AS punct_ratio,
                 round(list_aggregate(list_transform($duckToks, x -> length(x)), 'sum')::DOUBLE
                       / greatest(len($duckToks), 1), 6) AS avg_word_len
               FROM documents ORDER BY doc_id""")),

    QueryDef("q_text_quality",
      (s, dir) => {
        val d = docsT(s, dir)
        d.select(
          col("doc_id"),
          TextAnalysis.langId(col("text")).as("lang_guess"),
          TextAnalysis.qualityScore(col("text")).as("quality"))
          .orderBy("doc_id")
      },
      Some {
        val score = TextAnalysis.LangMarkers.map { case (lang, ms) =>
          lang -> s"len(list_intersect(list_distinct($duckToksLower), [${ms.map("'" + _ + "'").mkString(",")}]))"
        }.toMap
        val sw = TextAnalysis.EnglishStopwords.map("'" + _ + "'").mkString(",")
        s"""SELECT doc_id,
              CASE WHEN ${score("es")} > ${score("en")}
                        AND ${score("es")} >= ${score("de")} THEN 'es'
                   WHEN ${score("de")} > ${score("en")}
                        AND ${score("de")} > ${score("es")} THEN 'de'
                   ELSE 'en' END AS lang_guess,
              round(0.4 * least(len($duckToks)::DOUBLE / 100.0, 1.0)
                  + 0.3 * (1.0 - (length(text) - length(regexp_replace(text, '[.!?,;:]', '', 'g')))::DOUBLE
                                 / greatest(length(text), 1))
                  + 0.3 * least(5.0 * len(list_filter($duckToksLower, x -> x IN ($sw)))::DOUBLE
                                / greatest(len($duckToks), 1), 1.0), 6) AS quality
            FROM documents ORDER BY doc_id"""
      }),

    // distributed BPE tokenizer training, step 1: the corpus-wide word
    // dictionary + first-iteration merge-pair frequencies (explode →
    // two hash aggs, the word-count shape). The oracle recomputes the
    // pair expansion directly in DuckDB; full ordering makes the top-25
    // deterministic.
    QueryDef("q_bpe_pairs",
      (s, dir) => Bpe.pairCounts(docsP(s, dir), "text")
        .orderBy(desc("freq"), col("p1"), col("p2")).limit(25),
      Some(s"""WITH w AS (SELECT unnest(regexp_extract_all(text,
                 '$duckBpeSplit')) AS word FROM documents),
               d AS (SELECT word, COUNT(*) AS cnt FROM w GROUP BY 1),
               p AS (SELECT word[i:i] AS p1, word[i+1:i+1] AS p2, cnt
                     FROM d, LATERAL (SELECT unnest(generate_series(1,
                       len(word) - 1)) AS i) g)
               SELECT p1, p2, CAST(SUM(cnt) AS BIGINT) AS freq
               FROM p GROUP BY 1, 2
               ORDER BY freq DESC, p1, p2 LIMIT 25""")),

    // step 2, applying a trained vocabulary corpus-wide: train the
    // single highest-frequency merge (one bounded argmax collect — the
    // IVF-seed pattern), bake it into the codegen'd bpe_encode
    // expression, and count tokens per document. The oracle exploits
    // that a one-merge BPE pass over single-char symbols equals
    // DuckDB's greedy leftmost replace: token count = len after
    // replacing the pair with one sentinel char. Deeper merge tables
    // have no SQL twin (rank-ordered symbol rewriting) — BpeSpec pins
    // them against hand-worked merges and the trained-table invariant.
    QueryDef("q_bpe_encode",
      (s, dir) => {
        val docs = docsT(s, dir)
        val m = Bpe.train(docs, "text", nMerges = 1, minFreq = 1)
          .map(x => (x._1, x._2))
        docs.select(col("doc_id"),
            size(Bpe.encode(col("text"), m)).cast("long").as("n_bpe"))
          .orderBy("doc_id")
      },
      Some(s"""WITH w AS (SELECT unnest(regexp_extract_all(text,
                 '$duckBpeSplit')) AS word FROM documents),
               d AS (SELECT word, COUNT(*) AS cnt FROM w GROUP BY 1),
               p AS (SELECT word[i:i] AS p1, word[i+1:i+1] AS p2, cnt
                     FROM d, LATERAL (SELECT unnest(generate_series(1,
                       len(word) - 1)) AS i) g),
               best AS (SELECT p1 || p2 AS pair FROM p GROUP BY p1, p2
                        ORDER BY SUM(cnt) DESC, p1, p2 LIMIT 1),
               toks AS (SELECT doc_id, unnest(regexp_extract_all(text,
                 '$duckBpeSplit')) AS tok FROM documents)
               SELECT doc_id, CAST(COALESCE(SUM(len(replace(tok,
                        (SELECT pair FROM best), chr(1)))), 0) AS BIGINT)
                        AS n_bpe
               FROM documents LEFT JOIN toks USING (doc_id)
               GROUP BY doc_id ORDER BY doc_id""")),

    // the end-to-end pretraining data shape: TRAIN the tokenizer on the
    // corpus (one merge — the oracle-replayable depth), ENCODE every
    // document with it (codegen'd, vocabulary a plan constant), PACK
    // the real token counts into fixed-512-token sequences. Chains
    // q_bpe_encode's replace identity into q_packing's cumsum replay.
    QueryDef("q_bpe_pack",
      (s, dir) => {
        val docs = docsP(s, dir)
        val m = Bpe.train(docs, "text", nMerges = 1, minFreq = 1)
          .map(x => (x._1, x._2))
        Sampling.packSequences(docs, "doc_id", "source",
          size(Bpe.encode(col("text"), m)).cast("long"), 512L)
          .select(col("source"), col("doc_id"), col("start_offset"),
            col("pack_first"), col("pack_last"))
          .orderBy("source", "start_offset", "doc_id")
      },
      Some(s"""WITH w AS (SELECT unnest(regexp_extract_all(text,
                 '$duckBpeSplit')) AS word FROM documents),
               d AS (SELECT word, COUNT(*) AS cnt FROM w GROUP BY 1),
               p AS (SELECT word[i:i] AS p1, word[i+1:i+1] AS p2, cnt
                     FROM d, LATERAL (SELECT unnest(generate_series(1,
                       len(word) - 1)) AS i) g),
               best AS (SELECT p1 || p2 AS pair FROM p GROUP BY p1, p2
                        ORDER BY SUM(cnt) DESC, p1, p2 LIMIT 1),
               toks AS (SELECT doc_id, unnest(regexp_extract_all(text,
                 '$duckBpeSplit')) AS tok FROM documents),
               bt AS (SELECT doc_id, CAST(COALESCE(SUM(len(replace(tok,
                        (SELECT pair FROM best), chr(1)))), 0) AS BIGINT)
                        AS n_tok
                      FROM documents LEFT JOIN toks USING (doc_id)
                      GROUP BY doc_id),
               t AS (SELECT dd.source, dd.doc_id, bt.n_tok,
                       ('0x' || substr(md5('pack:' || dd.doc_id), 1, 8))::BIGINT
                         % 1000000 AS hb
                     FROM documents dd JOIN bt USING (doc_id)),
               c AS (SELECT source, doc_id, n_tok,
                       CAST(SUM(n_tok) OVER (PARTITION BY source
                         ORDER BY hb, doc_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                         AS BIGINT) AS cum
                     FROM t)
               SELECT source, doc_id, cum - n_tok AS start_offset,
                      CAST(floor((cum - n_tok) / 512) AS BIGINT) AS pack_first,
                      CAST(floor(greatest(cum - 1, cum - n_tok) / 512)
                           AS BIGINT) AS pack_last
               FROM c ORDER BY source, start_offset, doc_id""")),

    // Unicode/whitespace canonicalization (CCNet-style pre-hash cleanup).
    // The fixture is ASCII-NFC, so `changed` is false throughout — the
    // Unicode branches (composition, NFKC folding, zero-width strip) are
    // pinned by LineDedupSpec; this row pins the cleanup pipeline
    // + oracle agreement (DuckDB's independent nfc_normalize + RE2).
    QueryDef("q_text_normalize",
      (s, dir) => docsT(s, dir)
        .select(col("doc_id"),
          TextAnalysis.cleanText(col("text")).as("clean"),
          (TextAnalysis.cleanText(col("text")) =!= col("text")).as("changed"))
        .orderBy("doc_id"),
      Some("""SELECT doc_id, clean, (clean <> text) AS changed FROM (
                SELECT doc_id, text,
                  trim(regexp_replace(regexp_replace(regexp_replace(
                    nfc_normalize(text),
                    '\s+', ' ', 'g'), '[\p{Cc}\p{Cf}]', '', 'g'),
                    ' +', ' ', 'g')) AS clean
                FROM documents) ORDER BY doc_id""")),

    // CCNet line-level dedup on the fixture's only segmentation (space-
    // separated segments; real corpora use sep="\n"): drop segments in
    // >78% of docs, rebuild docs in original order. The 0.78 threshold
    // deliberately lands INSIDE the fixture's common-word band so both
    // branches (kept / dropped) are exercised at every SF.
    QueryDef("q_line_dedup",
      (s, dir) => Dedup.dropFrequentLines(Graft.table(s, dir, "documents"),
        "doc_id", "text", sep = " ", maxDocFrac = 0.78).orderBy("doc_id"),
      Some("""WITH expl AS (SELECT doc_id, i, arr[i] AS line FROM
                (SELECT doc_id, string_split(text, ' ') AS arr FROM documents),
                LATERAL (SELECT unnest(generate_series(1, len(arr))) AS i) g),
              freq AS (SELECT line, COUNT(DISTINCT doc_id) AS n_docs
                       FROM expl GROUP BY 1),
              tot AS (SELECT COUNT(*) AS n FROM documents)
              SELECT e.doc_id, string_agg(e.line, ' ' ORDER BY e.i) AS text
              FROM expl e JOIN freq f ON e.line = f.line
              WHERE f.n_docs <= 0.78 * (SELECT n FROM tot)
              GROUP BY e.doc_id ORDER BY e.doc_id""")),

    QueryDef("q_boilerplate",
      (s, dir) => Dedup.boilerplateLines(docsP(s, dir),
        "doc_id", "text", sep = " ", minDocFrac = 0.78).orderBy("line"),
      Some("""WITH expl AS (SELECT doc_id, unnest(string_split(text, ' ')) AS line
                            FROM documents),
              freq AS (SELECT line, COUNT(DISTINCT doc_id) AS n_docs
                       FROM expl GROUP BY 1)
              SELECT line, n_docs FROM freq
              WHERE n_docs >= 0.78 * (SELECT COUNT(*) FROM documents)
              ORDER BY line""")),

    // the line-frequency INDEX (merge-on-read): three crawl shards fold
    // as per-epoch deltas (O(batch) writes, history files untouched —
    // LineFreqIndexSpec pins that), then the boilerplate report runs
    // against the ACCUMULATED corpus view (sum across epochs). The
    // oracle is the one-shot frequency query — merged deltas must be
    // indistinguishable from having scanned everything at once.
    QueryDef("q_line_index",
      (s, dir) => {
        val docs = Graft.table(s, dir, "documents")
        val store = new graft.sinks.DocStore(s,
          Staging.scratch("graft_lfidx").toString,
          format = "graftdocs")
        LineFreqIndex.writePartitioned(store, LineFreqIndex.build(
          docs.where(col("doc_id") % 3 === 0), "doc_id", "text", " "), "lf")
        Seq(1L, 2L).foreach { m =>
          LineFreqIndex.foldBatch(store, "lf",
            docs.where(col("doc_id") % 3 === m), m, "doc_id", "text", " ")
        }
        LineFreqIndex.boilerplate(store, "lf", 0.78).orderBy("line")
      },
      Some("""WITH expl AS (SELECT doc_id, unnest(string_split(text, ' ')) AS line
                            FROM documents),
              freq AS (SELECT line, COUNT(DISTINCT doc_id) AS n_docs
                       FROM expl GROUP BY 1)
              SELECT line, n_docs FROM freq
              WHERE n_docs >= 0.78 * (SELECT COUNT(*) FROM documents)
              ORDER BY line""")),

    QueryDef("q_dedup_exact",
      (s, dir) => Dedup.exact(docsP(s, dir), "doc_id", "text")
        .orderBy("digest"),
      Some("""SELECT md5(text) AS digest, min(doc_id) AS keep_id,
                     CAST(COUNT(*) AS BIGINT) AS n_copies
              FROM documents GROUP BY md5(text) ORDER BY digest""")),

    QueryDef("q_dedup_norm",
      (s, dir) => Dedup.exact(docsP(s, dir), "doc_id", "text",
        normalize = true).orderBy("digest"),
      Some("""SELECT md5(regexp_replace(lower(text), '\s+', ' ', 'g')) AS digest,
                     min(doc_id) AS keep_id, CAST(COUNT(*) AS BIGINT) AS n_copies
              FROM documents GROUP BY 1 ORDER BY digest""")),

    QueryDef("q_fingerprint_groups",
      (s, dir) => docsP(s, dir)
        .groupBy(TextAnalysis.fingerprint(col("text")).as("fp"))
        .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_docs"))
        .orderBy("fp"),
      Some(s"""SELECT md5(array_to_string(list_sort(list_distinct($duckToksLower)), ' ')) AS fp,
                      min(doc_id) AS keep_id, CAST(COUNT(*) AS BIGINT) AS n_docs
               FROM documents GROUP BY 1 ORDER BY fp""")),

    // exact near-dup ground truth (rarest-4-shingle blocking, recall ~1 at j≥0.8)
    QueryDef("q_jaccard_pairs",
      (s, dir) => Dedup.jaccardPairs(Graft.table(s, dir, "documents"),
        "doc_id", "text", shingleN = 3, threshold = 0.8, blockKeys = 4)
        .orderBy("id_a", "id_b"),
      Some(nearDupOracle)),
    // MinHash-LSH: output = exact-verified pairs, and recall on j≥0.8
    // pairs is 1 − (1−j⁴)¹⁶ ≥ 1 − 2e-18 at the fixtures' j≈0.99, so the
    // exact-jaccard ground truth doubles as its oracle.
    QueryDef("q_minhash_pairs",
      (s, dir) => Dedup.minhashPairs(docsP(s, dir),
        "doc_id", "text", shingleN = 3, numHashes = 64, bands = 16, threshold = 0.8)
        .orderBy("id_a", "id_b"),
      Some(nearDupOracle)),

    // simhash is md5-based (Dedup.portableHash60) so DuckDB rebuilds the
    // identical 60-bit signatures; the oracle skips chunk blocking and
    // compares all pairs (complete for hamming ≤ 3 by pigeonhole, so the
    // outputs agree).
    QueryDef("q_simhash_pairs",
      (s, dir) => Dedup.simhashPairs(docsT(s, dir),
        "doc_id", "text", maxDist = 3).orderBy("id_a", "id_b"),
      Some(s"""WITH tok AS (SELECT doc_id, unnest($duckToks) AS t FROM documents),
             h AS (SELECT doc_id, ('0x' || substr(md5(t),1,15))::BIGINT AS h FROM tok),
             bits AS (SELECT doc_id, i,
                        sum(CASE WHEN (h >> i) & 1 = 1 THEN 1 ELSE -1 END) AS vote
                      FROM h, range(60) r(i) GROUP BY 1, 2),
             sig AS (SELECT doc_id,
                       sum(CASE WHEN vote > 0 THEN (1::BIGINT << i) ELSE 0 END) AS sig
                     FROM bits GROUP BY 1),
             p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                          CAST(bit_count(xor(a.sig::BIGINT, b.sig::BIGINT)) AS BIGINT) AS hamming
                   FROM sig a JOIN sig b ON a.doc_id < b.doc_id)
           SELECT id_a, id_b, hamming FROM p
           WHERE hamming <= 3 ORDER BY id_a, id_b""")),

    // per-language tokenizer fertility (BPE pieces per whitespace
    // word): the multilingual-tokenizer audit every i18n pipeline runs
    // — a language whose fertility balloons is being under-served by
    // the vocab. Two map-side counters + one hash agg.
    QueryDef("q_tokenizer_fertility",
      (s, dir) => docsT(s, dir)
        .select(col("lang"),
          TextAnalysis.tokenCount(col("text")).as("__w"),
          TextAnalysis.bpeTokenCount(col("text")).as("__b"))
        .groupBy("lang")
        .agg(sum(col("__w")).as("ws_tokens"), sum(col("__b")).as("bpe_tokens"),
          round(sum(col("__b")).cast("double") / sum(col("__w")), 6)
            .as("fertility"))
        .orderBy("lang"),
      Some("""SELECT lang,
                CAST(SUM(len(list_filter(string_split_regex(trim(text), '\s+'),
                     x -> x <> ''))) AS BIGINT) AS ws_tokens,
                CAST(SUM(len(regexp_extract_all(text,
                  '''(?:s|t|re|ve|m|ll|d)| ?[a-zA-Z]+| ?[0-9]+| ?[^a-zA-Z0-9\s]+|\s+')))
                  AS BIGINT) AS bpe_tokens,
                ROUND(SUM(len(regexp_extract_all(text,
                  '''(?:s|t|re|ve|m|ll|d)| ?[a-zA-Z]+| ?[0-9]+| ?[^a-zA-Z0-9\s]+|\s+')))::DOUBLE
                  / SUM(len(list_filter(string_split_regex(trim(text), '\s+'),
                     x -> x <> ''))), 6) AS fertility
              FROM documents GROUP BY lang ORDER BY lang""")),

    // near-dup detector EVALUATION: simhash candidates scored against
    // the exact-jaccard ground truth — the precision/recall report a
    // curation team runs before trusting a cheap detector at corpus
    // scale. Three bounded 1-row aggregates crossJoined; the pair sets
    // themselves come from the existing blocked generators.
    QueryDef("q_dedup_eval",
      (s, dir) => {
        val docs = docsP(s, dir)
        val exact = Dedup.jaccardPairs(docs, "doc_id", "text",
          shingleN = 3, threshold = 0.8, blockKeys = 4)
          .select(col("id_a"), col("id_b"))
        val cand = Dedup.simhashPairs(docs, "doc_id", "text", maxDist = 3)
          .select(col("id_a").as("ca"), col("id_b").as("cb"))
        val hit = cand.join(exact,
          col("ca") === col("id_a") && col("cb") === col("id_b"), "left_semi")
        exact.agg(count(lit(1)).as("n_exact"))
          .crossJoin(broadcast(cand.agg(count(lit(1)).as("n_cand"))))
          .crossJoin(broadcast(hit.agg(count(lit(1)).as("n_hit"))))
          .select(col("n_exact"), col("n_cand"), col("n_hit"),
            round(col("n_hit").cast("double") / col("n_cand"), 6)
              .as("precision"),
            round(col("n_hit").cast("double") / col("n_exact"), 6)
              .as("recall"))
      },
      Some(s"""WITH RECURSIVE pairs AS ($nearDupOracle),
             cand AS (
               WITH tok AS (SELECT doc_id, unnest($duckToks) AS t FROM documents),
                 h AS (SELECT doc_id, ('0x' || substr(md5(t),1,15))::BIGINT AS h
                       FROM tok),
                 bits AS (SELECT doc_id, i,
                            sum(CASE WHEN (h >> i) & 1 = 1 THEN 1 ELSE -1 END) AS vote
                          FROM h, range(60) r(i) GROUP BY 1, 2),
                 sig AS (SELECT doc_id,
                           sum(CASE WHEN vote > 0 THEN (1::BIGINT << i) ELSE 0 END) AS sig
                         FROM bits GROUP BY 1)
               SELECT a.doc_id AS ca, b.doc_id AS cb
               FROM sig a JOIN sig b ON a.doc_id < b.doc_id
               WHERE bit_count(xor(a.sig::BIGINT, b.sig::BIGINT)) <= 3),
             hit AS (SELECT count(*) AS n FROM cand
                     WHERE EXISTS (SELECT 1 FROM pairs
                                   WHERE id_a = ca AND id_b = cb))
           SELECT (SELECT count(*) FROM pairs) AS n_exact,
                  (SELECT count(*) FROM cand) AS n_cand,
                  (SELECT n FROM hit) AS n_hit,
                  round((SELECT n FROM hit)::DOUBLE
                        / (SELECT count(*) FROM cand), 6) AS precision,
                  round((SELECT n FROM hit)::DOUBLE
                        / (SELECT count(*) FROM pairs), 6) AS recall""")),

    // perceptual-hash-style media near-dup: 60-bit simhash over the
    // binary payload's byte chunks, banded candidates, exact hamming —
    // the decode-free multimodal analogue of q_simhash_pairs (payload
    // is the fixture text's utf8 bytes, so the twin chunks the VARCHAR:
    // byte == char for the ASCII fixture)
    QueryDef("q_media_near_dup",
      (s, dir) => Multimodal.mediaNearDupPairs(
        Multimodal.asMediaTable(docsT(s, dir),
          "doc_id", "text"),
        "media_id", "payload", chunkBytes = 8, maxDist = 3)
        .orderBy("id_a", "id_b"),
      Some(s"""WITH n AS (SELECT doc_id, text,
                 greatest(CAST(ceil(length(text)::DOUBLE / 8) AS INT), 1) AS nc
               FROM documents),
             e AS (SELECT doc_id, text,
                     unnest(generate_series(0, nc - 1)) AS i FROM n),
             ch AS (SELECT doc_id, substr(text, i*8 + 1, 8) AS c FROM e),
             h AS (SELECT doc_id,
                     ('0x' || substr(md5(c), 1, 15))::BIGINT AS h FROM ch),
             bits AS (SELECT doc_id, i,
                        sum(CASE WHEN (h >> i) & 1 = 1 THEN 1 ELSE -1 END)
                          AS vote
                      FROM h, range(60) r(i) GROUP BY 1, 2),
             sig AS (SELECT doc_id,
                       sum(CASE WHEN vote > 0 THEN (1::BIGINT << i) ELSE 0 END)
                         AS sig
                     FROM bits GROUP BY 1),
             p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                          CAST(bit_count(xor(a.sig::BIGINT, b.sig::BIGINT))
                               AS BIGINT) AS hamming
                   FROM sig a JOIN sig b ON a.doc_id < b.doc_id)
           SELECT id_a, id_b, hamming FROM p
           WHERE hamming <= 3 ORDER BY id_a, id_b""")),

    // END-TO-END curation pipeline — the composition claim made real:
    // normalized exact-dedup (keep representatives) → Gopher rule
    // filter → deterministic train split → per-source token budget, as
    // ONE lazy plan (each stage a library operator; the oracle chains
    // the same four CTEs). Map-only filters ride the scan; the only
    // shuffles are the dedup digest agg and the budget window.
    QueryDef("q_curation_pipeline",
      (s, dir) => {
        val d = docsP(s, dir)
        val reps = Dedup.exact(d, "doc_id", "text", normalize = true)
          .select(col("keep_id").as("doc_id"))
        val deduped = d.join(reps, Seq("doc_id"), "left_semi")
        val kept = deduped
          .withColumn("__s", TextAnalysis.textStats(col("text")))
          .where(TextAnalysis.ruleFilterFromStats(col("__s")).getField("keep"))
          .drop("__s")
        val train = Sampling.hashSplit(kept, "doc_id",
          Seq("train" -> 0.9, "val" -> 0.05, "test" -> 0.05))
          .where(col("split") === "train")
        Sampling.tokenBudget(train, "doc_id", "source",
          TextAnalysis.tokenCount(col("text")), budget = 600L)
          .select(col("source"), col("doc_id"), col("cum_tokens"))
          .orderBy("source", "cum_tokens", "doc_id")
      },
      Some {
        val sw = TextAnalysis.EnglishStopwords.map("'" + _ + "'").mkString(",")
        s"""WITH reps AS (
              SELECT min(doc_id) AS doc_id FROM documents
              GROUP BY $duckNormDigest),
            dd AS (SELECT d.* FROM documents d
                   JOIN reps USING (doc_id)),
            q AS (SELECT doc_id, source, text,
                    CAST(len($duckToks) AS BIGINT) AS n_tok,
                    round(list_aggregate(list_transform($duckToks,
                        x -> length(x)), 'sum')::DOUBLE
                      / greatest(len($duckToks), 1), 6) AS awl,
                    round((length(text) - length(regexp_replace(text,
                        '[.!?,;:]', '', 'g')))::DOUBLE
                      / greatest(length(text), 1), 6) AS punct,
                    len(list_intersect(list_distinct($duckToksLower),
                        [$sw])) AS stop_hits
                  FROM dd),
            kept AS (SELECT doc_id, source, n_tok FROM q
                     WHERE n_tok BETWEEN 5 AND 100000
                       AND awl BETWEEN 2.0 AND 12.0
                       AND punct <= 0.2 AND stop_hits >= 1),
            train AS (SELECT * FROM kept
                      WHERE ('0x' || substr(md5('split:' || doc_id), 1, 8))::BIGINT
                            % 1000000 < 900000),
            c AS (SELECT source, doc_id,
                    CAST(sum(n_tok) OVER (PARTITION BY source
                      ORDER BY ('0x' || substr(md5('budget:' || doc_id), 1, 8))::BIGINT
                               % 1000000, doc_id
                      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
                  FROM train)
          SELECT source, doc_id, cum_tokens FROM c
          WHERE cum_tokens <= 600
          ORDER BY source, cum_tokens, doc_id"""
      }),

    // corpus-wide token frequency (the tokenizer-vocab building block):
    // explode → two-level hash agg (map-side partial) → global top-k
    QueryDef("q_tokens_topk",
      (s, dir) => {
        val d = docsT(s, dir)
        d.select(explode(TextAnalysis.tokens(lower(col("text")))).as("token"))
          .groupBy("token").agg(count(lit(1)).as("n"))
          .orderBy(col("n").desc, col("token").asc)
          .limit(100)
      },
      Some(s"""SELECT token, CAST(COUNT(*) AS BIGINT) AS n
               FROM (SELECT unnest($duckToksLower) AS token FROM documents)
               GROUP BY token ORDER BY n DESC, token ASC LIMIT 100""")),

    QueryDef("q_knn_topk",
      (s, dir) => {
        val e = embP(s, dir)
        Similarity.bruteForceTopK(e.where(col("vec_id") < 5), e, k = 10)
          .orderBy("query_id", "rnk")
      },
      Some(knnOracle)),

    // hard-negative mining (contrastive pair prep): per query, the
    // top-k most-similar vectors whose LABEL differs — same-label
    // pairs are the positives (anti-joined out, never collected), and
    // near-duplicates (cos ≥ 0.999) drop as probable unlabeled
    // positives. The twin re-derives scoring, the label-pair
    // exclusion, the cos ceiling, and the ranking.
    QueryDef("q_hard_negatives",
      (s, dir) => {
        val e = embP(s, dir)
        val q = e.where(col("vec_id") < 5)
        val positives = q.select(col("vec_id").as("query_id"), col("label"))
          .join(e.select(col("vec_id").as("match_id"), col("label").as("cl")),
            col("label") === col("cl"))
          .select("query_id", "match_id")
        Similarity.hardNegatives(q, e, positives, k = 10, maxCos = 0.999)
          .orderBy("query_id", "rnk")
      },
      Some("""WITH u AS (SELECT vec_id, unnest(embedding)::DOUBLE AS e,
                         generate_subscripts(embedding, 1) AS i FROM embeddings),
                 n AS (SELECT vec_id, sqrt(sum(e*e)) AS nrm FROM u GROUP BY vec_id),
                 d AS (SELECT q.vec_id AS query_id, c.vec_id AS match_id,
                              sum(q.e * c.e) AS dt
                       FROM u q JOIN u c ON q.i = c.i AND q.vec_id <> c.vec_id
                       WHERE q.vec_id < 5 GROUP BY 1, 2),
                 sc AS (SELECT query_id, match_id,
                               round(dt / (nq.nrm * nc.nrm), 6) AS cos
                        FROM d JOIN n nq ON nq.vec_id = query_id
                               JOIN n nc ON nc.vec_id = match_id),
                 neg AS (SELECT s.query_id, s.match_id, s.cos
                         FROM sc s
                         JOIN embeddings eq ON eq.vec_id = s.query_id
                         JOIN embeddings ec ON ec.vec_id = s.match_id
                         WHERE eq.label <> ec.label AND s.cos < 0.999),
                 r AS (SELECT query_id, match_id, cos,
                              CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY cos DESC, match_id) AS BIGINT) AS rnk
                       FROM neg)
             SELECT query_id, match_id, cos, rnk FROM r WHERE rnk <= 10
             ORDER BY query_id, rnk""")),

    // hard-negative mining on the ANN leg (the 100 TB path): candidates
    // come from the IVF probe (8 md5-hash-seeded cells, 3 probed — each
    // query scores ~3/8 of the corpus, never all of it), top-20
    // over-fetch per query, THEN the cos ceiling, label anti-join, and
    // final re-rank to k=10. The twin replays the identical index build
    // (portable seed hash), probe selection, candidate cut, and filters.
    QueryDef("q_hard_negatives_ann",
      (s, dir) => {
        val e = embP(s, dir)
        val q = e.where(col("vec_id") < 5)
        val positives = q.select(col("vec_id").as("query_id"), col("label"))
          .join(e.select(col("vec_id").as("match_id"), col("label").as("cl")),
            col("label") === col("cl"))
          .select("query_id", "match_id")
        Similarity.hardNegatives(q, e, positives, k = 10, maxCos = 0.999,
          scorer = "ivf", candidates = 20, nCells = 8, nProbe = 3,
          portableSeed = true)
          .orderBy("query_id", "rnk")
      },
      Some("""WITH u AS (SELECT vec_id, unnest(embedding)::DOUBLE AS e,
                    generate_subscripts(embedding, 1) - 1 AS i FROM embeddings),
              n AS (SELECT vec_id, sqrt(sum(e*e)) AS nrm FROM u GROUP BY vec_id),
              iseeds AS (SELECT vec_id AS cell
                         FROM (SELECT vec_id,
                                 ('0x' || substr(md5(vec_id::VARCHAR), 1, 15))::BIGINT AS h
                               FROM embeddings ORDER BY h, vec_id LIMIT 8)),
              cells AS (SELECT cell, ROW_NUMBER() OVER (ORDER BY cell) - 1 AS ci
                        FROM iseeds),
              cv AS (SELECT c.ci, u.i, u.e / n.nrm AS ce
                     FROM cells c JOIN u ON u.vec_id = c.cell
                                  JOIN n ON n.vec_id = c.cell),
              sim AS (SELECT u.vec_id, cv.ci, SUM(u.e * cv.ce) AS s
                      FROM u JOIN cv ON u.i = cv.i GROUP BY 1, 2),
              asg AS (SELECT vec_id, ci FROM (
                        SELECT vec_id, ci, ROW_NUMBER() OVER (
                          PARTITION BY vec_id ORDER BY s DESC, ci) AS r
                        FROM sim) WHERE r = 1),
              probes AS (SELECT vec_id AS query_id, ci FROM (
                           SELECT vec_id, ci, ROW_NUMBER() OVER (
                             PARTITION BY vec_id ORDER BY s DESC, ci) AS r
                           FROM sim WHERE vec_id < 5) WHERE r <= 3),
              cand0 AS (SELECT DISTINCT p.query_id, a.vec_id AS match_id
                        FROM probes p JOIN asg a ON a.ci = p.ci
                        WHERE a.vec_id <> p.query_id),
              sc AS (SELECT c0.query_id, c0.match_id,
                            round(SUM(uq.e * um.e) / (nq.nrm * nm.nrm), 6) AS cos
                     FROM cand0 c0
                          JOIN u uq ON uq.vec_id = c0.query_id
                          JOIN u um ON um.vec_id = c0.match_id AND um.i = uq.i
                          JOIN n nq ON nq.vec_id = c0.query_id
                          JOIN n nm ON nm.vec_id = c0.match_id
                     GROUP BY 1, 2, nq.nrm, nm.nrm),
              cand AS (SELECT query_id, match_id, cos FROM (
                         SELECT query_id, match_id, cos, ROW_NUMBER() OVER (
                           PARTITION BY query_id ORDER BY cos DESC, match_id) AS r
                         FROM sc) WHERE r <= 20),
              neg AS (SELECT c.query_id, c.match_id, c.cos
                      FROM cand c
                      JOIN embeddings eq ON eq.vec_id = c.query_id
                      JOIN embeddings ec ON ec.vec_id = c.match_id
                      WHERE eq.label <> ec.label AND c.cos < 0.999)
            SELECT query_id, match_id, cos,
                   CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                     ORDER BY cos DESC, match_id) AS BIGINT) AS rnk
            FROM neg QUALIFY rnk <= 10 ORDER BY query_id, rnk""")),

    // chunk→document mean pooling: a typed Aggregator whose shuffle
    // partials are one dim-length array + count per group (map-side
    // combine collapses each partition's vectors first — the wire
    // carries G·dim doubles, never the chunk embeddings). Exploded to
    // scalar rows + 6-decimal rounding for the checker and to absorb
    // summation-order drift between engines.
    QueryDef("q_mean_pool",
      (s, dir) => {
        val e = embP(s, dir)
        e.groupBy(col("label"))
          .agg(Similarity.meanPool(col("embedding")).as("pooled"),
            count(lit(1)).as("n"))
          .select(col("label"), col("n"),
            posexplode(col("pooled")).as(Seq("i", "v")))
          .select(col("label"), col("n"), col("i").cast("long").as("i"),
            round(col("v"), 6).as("v"))
          .orderBy("label", "i")
      },
      Some("""WITH u AS (SELECT label, vec_id,
                                generate_subscripts(embedding, 1) - 1 AS i,
                                unnest(embedding)::DOUBLE AS x
                         FROM embeddings),
                 c AS (SELECT label, CAST(COUNT(*) AS BIGINT) AS n
                       FROM embeddings GROUP BY label)
              SELECT u.label AS label, c.n, CAST(u.i AS BIGINT) AS i,
                     round(avg(u.x), 6) AS v
              FROM u JOIN c ON u.label = c.label
              GROUP BY u.label, c.n, u.i ORDER BY u.label, i""")),

    // Euclidean k-means, 2 Lloyd iterations from the 4 lowest-id seeds;
    // the twin replays both iterations (assign → mean → assign → mean)
    // in SQL, anchored on COALESCE for the empty-cluster rule
    QueryDef("q_kmeans_lloyd",
      (s, dir) => Similarity.kmeansLloyd(Graft.table(s, dir, "embeddings"),
        "vec_id", "embedding", k = 4, iters = 2),
      Some("""WITH e AS (SELECT vec_id, embedding FROM embeddings
                         WHERE embedding IS NOT NULL),
               u AS (SELECT vec_id, generate_subscripts(embedding, 1) AS i,
                       unnest(embedding)::DOUBLE AS x FROM e),
               s AS (SELECT vec_id, ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cl
                     FROM e ORDER BY vec_id LIMIT 4),
               c0 AS (SELECT s.cl, u.i, u.x FROM s JOIN u USING (vec_id)),
               d1 AS (SELECT u.vec_id, c.cl, SUM((u.x - c.x) * (u.x - c.x)) AS d
                      FROM u JOIN c0 c ON u.i = c.i GROUP BY 1, 2),
               a1 AS (SELECT vec_id, cl FROM (
                        SELECT vec_id, cl, ROW_NUMBER() OVER (
                          PARTITION BY vec_id ORDER BY d, cl) AS rn FROM d1)
                      WHERE rn = 1),
               m1 AS (SELECT a1.cl, u.i, AVG(u.x) AS x
                      FROM a1 JOIN u USING (vec_id) GROUP BY 1, 2),
               c1 AS (SELECT c0.cl, c0.i, COALESCE(m1.x, c0.x) AS x
                      FROM c0 LEFT JOIN m1 ON m1.cl = c0.cl AND m1.i = c0.i),
               d2 AS (SELECT u.vec_id, c.cl, SUM((u.x - c.x) * (u.x - c.x)) AS d
                      FROM u JOIN c1 c ON u.i = c.i GROUP BY 1, 2),
               a2 AS (SELECT vec_id, cl FROM (
                        SELECT vec_id, cl, ROW_NUMBER() OVER (
                          PARTITION BY vec_id ORDER BY d, cl) AS rn FROM d2)
                      WHERE rn = 1),
               m2 AS (SELECT a2.cl, u.i, AVG(u.x) AS x
                      FROM a2 JOIN u USING (vec_id) GROUP BY 1, 2),
               c2 AS (SELECT c1.cl, c1.i, COALESCE(m2.x, c1.x) AS x
                      FROM c1 LEFT JOIN m2 ON m2.cl = c1.cl AND m2.i = c1.i),
               nrm AS (SELECT cl, round(sqrt(SUM(x * x)), 6) AS c_norm
                       FROM c2 GROUP BY cl)
             SELECT a2.cl AS cluster, CAST(COUNT(*) AS BIGINT) AS n, nrm.c_norm
             FROM a2 JOIN nrm ON nrm.cl = a2.cl
             GROUP BY a2.cl, nrm.c_norm ORDER BY cluster""")),

    QueryDef("q_cos_pairs",
      (s, dir) => {
        val e = embT(s, dir)
        Similarity.cosinePairs(e.where(col("vec_id") < 200), e, threshold = 0.4)
          .orderBy("id_a", "id_b")
      },
      Some("""WITH u AS (SELECT vec_id, unnest(embedding)::DOUBLE AS e,
                                generate_subscripts(embedding, 1) AS i FROM embeddings),
                n AS (SELECT vec_id, sqrt(sum(e*e)) AS nrm FROM u GROUP BY vec_id),
                d AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b, sum(a.e * b.e) AS dt
                      FROM u a JOIN u b ON a.i = b.i AND a.vec_id < b.vec_id
                      WHERE a.vec_id < 200 GROUP BY 1, 2)
              SELECT id_a, id_b, round(dt / (na.nrm * nb.nrm), 6) AS cos
              FROM d JOIN n na ON na.vec_id = id_a JOIN n nb ON nb.vec_id = id_b
              WHERE round(dt / (na.nrm * nb.nrm), 6) >= 0.4
              ORDER BY id_a, id_b""")),

    // IVF probing every cell is exactly brute force → shares its oracle;
    // the approximate path (nProbe < nCells) is pinned in LlmOpsSpec
    QueryDef("q_ivf_topk",
      (s, dir) => {
        val e = embP(s, dir)
        Similarity.ivfTopK(e.where(col("vec_id") < 5), e, k = 10,
          nCells = 8, nProbe = 8).orderBy("query_id", "rnk")
      },
      Some(knnOracle)),

    // ANN recall evaluation harness — the report a 100 TB deployment
    // tunes nProbe with: recall@10 of IVF probing at 1/2/4 probes
    // against the brute-force ground truth, one row per probe budget.
    // Fully distributed (per-budget results union, hits counted by an
    // equi-join on the exact pair set, total a 1-row broadcast); the
    // oracle replays seed selection, cell assignment, probe ranking,
    // in-cell top-k, AND the exact top-k in SQL — both engines run the
    // identical deterministic algorithm, so recall matches bit-for-bit.
    QueryDef("q_ann_recall",
      (s, dir) => {
        val e = embP(s, dir)
        val qs = e.where(col("vec_id") < 5)
        val exact = Similarity.bruteForceTopK(qs, e, k = 10)
          .select(col("query_id"), col("match_id"))
        val idx = Similarity.buildIvf(e, nCells = 8, lloydIters = 0,
          persistIndex = false, portableSeed = true)
        val budgets = Seq(1L, 2L, 4L)
        val approx = budgets.map(np =>
          Similarity.ivfQuery(idx, qs, k = 10, nProbe = np.toInt)
            .select(lit(np).as("nprobe"), col("query_id"), col("match_id")))
          .reduce(_ unionByName _)
        val hits = approx.join(exact, Seq("query_id", "match_id"))
          .groupBy("nprobe").agg(count(lit(1)).as("hits"))
        val total = exact.select(count(lit(1)).as("__t"))
        import s.implicits._
        budgets.toDF("nprobe")
          .join(hits, Seq("nprobe"), "left")
          .crossJoin(broadcast(total))
          .select(col("nprobe"),
            round(coalesce(col("hits"), lit(0L)) / col("__t"), 6).as("recall"))
          .orderBy("nprobe")
      },
      Some("""WITH u AS (SELECT vec_id, unnest(embedding)::DOUBLE AS e,
                    generate_subscripts(embedding, 1) AS i FROM embeddings),
              n AS (SELECT vec_id, sqrt(sum(e*e)) AS nrm FROM u GROUP BY vec_id),
              exd AS (SELECT q.vec_id AS query_id, c.vec_id AS match_id,
                             sum(q.e * c.e) AS dt
                      FROM u q JOIN u c ON q.i = c.i AND q.vec_id <> c.vec_id
                      WHERE q.vec_id < 5 GROUP BY 1, 2),
              exr AS (SELECT query_id, match_id, ROW_NUMBER() OVER (
                        PARTITION BY query_id ORDER BY
                          round(dt / (nq.nrm * nc.nrm), 6) DESC, match_id) AS r
                      FROM exd JOIN n nq ON nq.vec_id = query_id
                               JOIN n nc ON nc.vec_id = match_id),
              ex AS (SELECT query_id, match_id FROM exr WHERE r <= 10),
              cells AS (SELECT cell, ROW_NUMBER() OVER (ORDER BY cell) - 1 AS ci
                        FROM (SELECT vec_id AS cell FROM (SELECT vec_id,
                                ('0x' || substr(md5(vec_id::VARCHAR), 1, 15))::BIGINT AS h
                              FROM embeddings ORDER BY h, vec_id LIMIT 8))),
              cv AS (SELECT c.ci, c.cell, u.i, u.e, n.nrm
                     FROM cells c JOIN u ON u.vec_id = c.cell
                                  JOIN n ON n.vec_id = c.cell),
              asg AS (SELECT vec_id, ci FROM (
                        SELECT u.vec_id, cv.ci, ROW_NUMBER() OVER (
                          PARTITION BY u.vec_id ORDER BY
                            SUM(u.e * cv.e / cv.nrm) DESC, cv.ci) AS r
                        FROM u JOIN cv ON u.i = cv.i GROUP BY u.vec_id, cv.ci) z
                      WHERE r = 1),
              pr AS (SELECT q.vec_id AS query_id, cv.ci, ROW_NUMBER() OVER (
                       PARTITION BY q.vec_id ORDER BY
                         SUM(q.e * cv.e) / (nq.nrm * MIN(cv.nrm)) DESC,
                         MIN(cv.cell)) AS r
                     FROM u q JOIN cv ON q.i = cv.i
                              JOIN n nq ON nq.vec_id = q.vec_id
                     WHERE q.vec_id < 5 GROUP BY q.vec_id, cv.ci, nq.nrm),
              pv AS (SELECT * FROM (VALUES (1), (2), (4)) t(np)),
              cand AS (SELECT pv.np, pr.query_id, a.vec_id AS match_id
                       FROM pv JOIN pr ON pr.r <= pv.np
                               JOIN asg a ON a.ci = pr.ci
                       WHERE a.vec_id <> pr.query_id),
              apr AS (SELECT np, query_id, match_id, ROW_NUMBER() OVER (
                        PARTITION BY np, query_id ORDER BY
                          round(dt / (nq.nrm * nc.nrm), 6) DESC, match_id) AS r
                      FROM cand JOIN exd USING (query_id, match_id)
                               JOIN n nq ON nq.vec_id = query_id
                               JOIN n nc ON nc.vec_id = match_id),
              hits AS (SELECT np, COUNT(*) AS h FROM apr
                       JOIN ex USING (query_id, match_id)
                       WHERE apr.r <= 10 GROUP BY np)
              SELECT CAST(pv.np AS BIGINT) AS nprobe,
                     round(COALESCE(h, 0)::DOUBLE
                           / (SELECT COUNT(*) FROM ex), 6) AS recall
              FROM pv LEFT JOIN hits USING (np) ORDER BY nprobe""")),

    // LSH planes are md5-derived ±1 components (Similarity.planeSign),
    // so DuckDB recomputes the same sign buckets and verifies the same
    // candidate pairs.
    QueryDef("q_lsh_cos_pairs",
      (s, dir) => Similarity.lshCosinePairs(embP(s, dir),
        "vec_id", "embedding", planes = 8, threshold = 0.4, dim = 64)
        .orderBy("id_a", "id_b"),
      Some("""WITH pl AS (SELECT p, i,
                  CASE WHEN ('0x' || substr(md5(p || ':' || i),1,15))::BIGINT & 1 = 1
                       THEN 1.0 ELSE -1.0 END AS c
                FROM range(8) tp(p), range(64) ti(i)),
              u AS (SELECT vec_id, unnest(embedding)::DOUBLE AS e,
                           generate_subscripts(embedding, 1) - 1 AS i FROM embeddings),
              proj AS (SELECT u.vec_id, pl.p, sum(u.e * pl.c) AS s
                       FROM u JOIN pl ON u.i = pl.i GROUP BY 1, 2),
              sig AS (SELECT vec_id,
                        sum(CASE WHEN s > 0 THEN (1::BIGINT << p) ELSE 0 END) AS b
                      FROM proj GROUP BY 1),
              n AS (SELECT vec_id, sqrt(sum(e*e)) AS nrm FROM u GROUP BY vec_id),
              c AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b
                    FROM sig a JOIN sig b ON a.b = b.b AND a.vec_id < b.vec_id),
              d AS (SELECT id_a, id_b, sum(ua.e * ub.e) AS dt
                    FROM c JOIN u ua ON ua.vec_id = id_a
                           JOIN u ub ON ub.vec_id = id_b AND ua.i = ub.i
                    GROUP BY 1, 2)
            SELECT id_a, id_b, round(dt / (na.nrm * nb.nrm), 6) AS cos
            FROM d JOIN n na ON na.vec_id = id_a JOIN n nb ON nb.vec_id = id_b
            WHERE round(dt / (na.nrm * nb.nrm), 6) >= 0.4
            ORDER BY id_a, id_b""")),

    // embedding-cosine near-dup dedup on a bounded slice (exact pair
    // scoring = the oracle-checkable ground truth; the LSH-candidate
    // variant is the corpus-scale path, spec-pinned for precision)
    QueryDef("q_emb_dedup",
      (s, dir) => {
        val e = embP(s, dir).where(col("vec_id") < 300)
        // exact = true: this entry IS the oracle-checked ground truth
        // over a bounded 300-row slice (the scale default is LSH)
        Dedup.embeddingDedup(e, "vec_id", "embedding", threshold = 0.4,
          exact = true)
          .select("vec_id").orderBy("vec_id")
      },
      Some("""WITH s AS (SELECT * FROM embeddings WHERE vec_id < 300),
              u AS (SELECT vec_id, unnest(embedding)::DOUBLE AS e,
                           generate_subscripts(embedding, 1) AS i FROM s),
              n AS (SELECT vec_id, sqrt(sum(e*e)) AS nrm FROM u GROUP BY vec_id),
              d AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b, sum(a.e * b.e) AS dt
                    FROM u a JOIN u b ON a.i = b.i AND a.vec_id < b.vec_id
                    GROUP BY 1, 2),
              dup AS (SELECT DISTINCT id_b FROM d
                      JOIN n na ON na.vec_id = id_a JOIN n nb ON nb.vec_id = id_b
                      WHERE round(dt / (na.nrm * nb.nrm), 6) >= 0.4)
              SELECT vec_id FROM s WHERE vec_id NOT IN (SELECT id_b FROM dup)
              ORDER BY vec_id""")),

    // Arrow IPC materialization (the reference's identity: results AS
    // Arrow batches): orders slice + embeddings (list<float32>) write
    // through the graftarrow sink and read back through its zero-copy
    // columnar scan; the gate aggregates the round-tripped frames, the
    // oracle the source parquet — any loss in the IPC encode/decode
    // (values, nulls, list boundaries) breaks the hash
    QueryDef("q_arrow_roundtrip",
      (s, dir) => {
        val tgt = Staging.scratch("graft_ipc").toString
        Graft.table(s, dir, "orders")
          .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
            "o_orderdate")
          .where(col("o_orderkey") % 3 === 0)
          .write.format("graftarrow").option("batchRows", "512")
          .mode("overwrite").save(s"$tgt/orders")
        Graft.table(s, dir, "embeddings")
          .write.format("graftarrow").mode("overwrite")
          .save(s"$tgt/emb")
        val o = s.read.format("graftarrow").load(s"$tgt/orders")
        val e = s.read.format("graftarrow").load(s"$tgt/emb")
        val byStatus = o.groupBy("o_orderstatus")
          .agg(count(lit(1)).as("n"),
            sum(col("o_totalprice").cast("decimal(18,4)")).cast("double")
              .as("total"),
            max("o_orderdate").as("last_date"))
        val embAgg = e.select(explode(col("embedding")).as("x"),
            col("vec_id") % 4 as "g")
          .groupBy("g").agg(round(sum("x"), 4).as("esum"))
          .agg(count(lit(1)).as("n"),
            round(sum("esum"), 4).cast("double").as("total"),
            lit(null).cast("string").as("last_date"))
          .select(lit("__emb").as("o_orderstatus"), col("n"), col("total"),
            col("last_date"))
        byStatus.select(col("o_orderstatus"), col("n"), col("total"),
            col("last_date").cast("string").as("last_date"))
          .unionByName(embAgg).orderBy("o_orderstatus")
      },
      Some("""WITH o AS (SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n,
                     CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE)
                       AS total,
                     CAST(MAX(o_orderdate) AS VARCHAR) AS last_date
                   FROM orders WHERE o_orderkey % 3 = 0 GROUP BY 1),
              g AS (SELECT vec_id % 4 AS g, round(SUM(x), 4) AS esum
                    FROM (SELECT vec_id, unnest(embedding) AS x
                          FROM embeddings) GROUP BY 1),
              e AS (SELECT '__emb' AS o_orderstatus,
                     CAST(COUNT(*) AS BIGINT) AS n,
                     CAST(round(SUM(esum), 4) AS DOUBLE) AS total,
                     CAST(NULL AS VARCHAR) AS last_date FROM g)
            SELECT * FROM o UNION ALL SELECT * FROM e
            ORDER BY o_orderstatus""")),

    // NESTED Arrow interchange — the reference's defining artifact is a
    // nested Arrow table (DocumentBuilder → StructArray, P/lib.pyx:
    // 813-839; nested matrices T/test_arrow.py:376-504): orders fold to
    // a struct header (with a decimal leaf) + a sorted list<struct> of
    // their lineitems, cross the IPC boundary as Arrow struct/list
    // columns, and the gate re-derives scalar aggregates FROM the
    // round-tripped nesting (struct field reads, list size, a lambda
    // fold over list elements, last-element access) — any loss in
    // struct validity, list boundaries, or nested decimal scale breaks
    // the hash against the oracle's flat join
    QueryDef("q_arrow_nested",
      (s, dir) => {
        val tgt = Staging.scratch("graft_ipcn").toString
        val o = Graft.table(s, dir, "orders")
        val li = Graft.table(s, dir, "lineitem")
        o.where(col("o_orderkey") % 7 === 0)
          .join(li, col("o_orderkey") === col("l_orderkey"))
          .groupBy("o_orderkey")
          .agg(
            first(struct(col("o_custkey").as("cust"),
              col("o_totalprice").cast("decimal(12,2)").as("total"))).as("hdr"),
            sort_array(collect_list(struct(col("l_linenumber").as("ln"),
              col("l_quantity").as("qty")))).as("lines"))
          .write.format("graftarrow").option("batchRows", "64")
          .mode("overwrite").save(tgt)
        val back = s.read.format("graftarrow").load(tgt)
        back.select(col("o_orderkey"),
            col("hdr.cust").as("cust"),
            col("hdr.total").cast("double").as("total"),
            size(col("lines")).as("nlines"),
            round(aggregate(col("lines"), lit(0.0d),
              (acc, x) => acc + x.getField("qty")), 4).as("qty_sum"),
            element_at(col("lines"), -1).getField("ln").as("last_ln"))
          .orderBy("o_orderkey")
      },
      Some("""SELECT o.o_orderkey, o.o_custkey AS cust,
                     CAST(CAST(o.o_totalprice AS DECIMAL(12,2)) AS DOUBLE)
                       AS total,
                     CAST(COUNT(*) AS INT) AS nlines,
                     round(SUM(l.l_quantity), 4) AS qty_sum,
                     MAX(l.l_linenumber) AS last_ln
              FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
              WHERE o.o_orderkey % 7 = 0
              GROUP BY 1, 2, 3 ORDER BY 1""")),

    // the IPC STREAM format (.arrows — what pipes/sockets and
    // pyarrow's open_stream speak): nested orders fold through
    // stream-format files and re-derive the same scalar aggregates;
    // any loss in the schema-first message framing breaks the hash
    // against the same flat-join oracle as q_arrow_nested
    QueryDef("q_arrow_stream",
      (s, dir) => {
        val tgt = Staging.scratch("graft_ipcs").toString
        val o = Graft.table(s, dir, "orders")
        val li = Graft.table(s, dir, "lineitem")
        o.where(col("o_orderkey") % 7 === 0)
          .join(li, col("o_orderkey") === col("l_orderkey"))
          .groupBy("o_orderkey")
          .agg(
            first(struct(col("o_custkey").as("cust"),
              col("o_totalprice").cast("decimal(12,2)").as("total"))).as("hdr"),
            sort_array(collect_list(struct(col("l_linenumber").as("ln"),
              col("l_quantity").as("qty")))).as("lines"))
          .write.format("graftarrow").option("batchRows", "64")
          .option("ipcFormat", "stream")
          .mode("overwrite").save(tgt)
        val back = s.read.format("graftarrow").load(tgt)
        back.select(col("o_orderkey"),
            col("hdr.cust").as("cust"),
            col("hdr.total").cast("double").as("total"),
            size(col("lines")).as("nlines"),
            round(aggregate(col("lines"), lit(0.0d),
              (acc, x) => acc + x.getField("qty")), 4).as("qty_sum"),
            element_at(col("lines"), -1).getField("ln").as("last_ln"))
          .orderBy("o_orderkey")
      },
      Some("""SELECT o.o_orderkey, o.o_custkey AS cust,
                     CAST(CAST(o.o_totalprice AS DECIMAL(12,2)) AS DOUBLE)
                       AS total,
                     CAST(COUNT(*) AS INT) AS nlines,
                     round(SUM(l.l_quantity), 4) AS qty_sum,
                     MAX(l.l_linenumber) AS last_ln
              FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
              WHERE o.o_orderkey % 7 = 0
              GROUP BY 1, 2, 3 ORDER BY 1""")),

    // FOREIGN Arrow files (what pyarrow emits, our sink never writes):
    // a dictionary-encoded string column + zstd-compressed record-batch
    // bodies, written with arrow-java directly. The reader must report
    // the dictionary's VALUE type, decode against the dictionary batch,
    // inflate the bodies, and produce exactly what the parquet replay
    // gives — plus a compressed twin of our own sink (codec=zstd) read
    // through the same path.
    QueryDef("q_arrow_dict",
      (s, dir) => {
        val docs = Graft.table(s, dir, "documents")
          .select("doc_id", "source").where(col("doc_id") < 2000)
        // bounded fixture sample (≤2000 rows) — foreign-file generation
        // is driver-side by nature (pyarrow stand-in), not a data path
        val rows = docs.orderBy("doc_id").collect()
          .map(r => (r.getLong(0), r.getString(1))).toSeq
        val foreignDir = Staging.scratch("graft_dict").toString
        graft.sources.ArrowForeign.write(foreignDir, rows,
          Some(org.apache.arrow.vector.compression
            .CompressionUtil.CodecType.ZSTD), batches = 4)
        val ownDir = Staging.scratch("graft_dictown").toString
        docs.write.format("graftarrow").option("codec", "zstd")
          .mode("overwrite").save(ownDir)
        val foreign = s.read.format("graftarrow").load(foreignDir)
        val own = s.read.format("graftarrow").load(ownDir)
        foreign.groupBy("source")
          .agg(count(lit(1)).as("n"), sum("doc_id").as("id_sum"))
          .join(own.groupBy("source")
            .agg(count(lit(1)).as("n2"), sum("doc_id").as("id_sum2")),
            Seq("source"))
          .select(col("source"), col("n"), col("id_sum"),
            (col("n") === col("n2") &&
             col("id_sum") === col("id_sum2")).as("twin_match"))
          .orderBy("source")
      },
      Some("""SELECT source, CAST(COUNT(*) AS BIGINT) AS n,
                     CAST(SUM(doc_id) AS BIGINT) AS id_sum,
                     TRUE AS twin_match
              FROM documents WHERE doc_id < 2000
              GROUP BY source ORDER BY source""")),

    // NESTED dictionary-encoded Arrow columns (pyarrow: a categorical
    // inside a struct, a list of categoricals) — the reader resolves
    // dictionary fields at ANY depth to their value types and decodes
    // through composite wrappers; values must equal the parquet replay.
    QueryDef("q_arrow_dict_nested",
      (s, dir) => {
        val docs = Graft.table(s, dir, "documents")
          .select("doc_id", "source", "n_chars", "lang")
          .where(col("doc_id") < 2000)
        // bounded fixture sample — foreign-file generation is driver-
        // side by nature (pyarrow stand-in), not a data path
        val rows = docs.orderBy("doc_id").collect().map(r =>
          (r.getLong(0), r.getString(1), r.getLong(2),
            Seq(r.getString(3), r.getString(1)))).toSeq
        val foreignDir = Staging.scratch("graft_dictn").toString
        graft.sources.ArrowForeign.writeNested(foreignDir, rows)
        s.read.format("graftarrow").load(foreignDir)
          .select(col("doc_id"), col("meta.source").as("source"),
            col("meta.rank").as("rank"), col("tags"))
          .groupBy("source")
          .agg(count(lit(1)).as("n"), sum("rank").as("rank_sum"),
            sum(size(col("tags"))).cast("bigint").as("n_tags"),
            min(element_at(col("tags"), 1)).as("first_tag"))
          .orderBy("source")
      },
      Some("""SELECT source, CAST(COUNT(*) AS BIGINT) AS n,
                     CAST(SUM(n_chars) AS BIGINT) AS rank_sum,
                     CAST(2 * COUNT(*) AS BIGINT) AS n_tags,
                     MIN(lang) AS first_tag
              FROM documents WHERE doc_id < 2000
              GROUP BY source ORDER BY source""")),

    // zone-map pruning on the Arrow source: 8 range-disjoint files, a
    // point range admits one — the skip must be invisible to results
    // (sidecar soundness), which is exactly what the hash checks
    QueryDef("q_arrow_prune",
      (s, dir) => {
        val tgt = Staging.scratch("graft_ipcz").toString
        Graft.table(s, dir, "orders")
          .select("o_orderkey", "o_custkey", "o_totalprice")
          .repartitionByRange(8, col("o_orderkey"))
          .sortWithinPartitions("o_orderkey")
          .write.format("graftarrow").mode("overwrite").save(tgt)
        s.read.format("graftarrow").load(tgt)
          .where(col("o_orderkey") >= 500 && col("o_orderkey") < 600)
          .groupBy((col("o_orderkey") % 10).as("bucket"))
          .agg(count(lit(1)).as("n"),
            sum(col("o_totalprice").cast("decimal(18,4)")).cast("double")
              .as("total"))
          .orderBy("bucket")
      },
      Some("""SELECT o_orderkey % 10 AS bucket, CAST(COUNT(*) AS BIGINT) AS n,
                     CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE)
                       AS total
              FROM orders WHERE o_orderkey >= 500 AND o_orderkey < 600
              GROUP BY 1 ORDER BY 1""")),

    QueryDef("q_media_meta",
      (s, dir) => Multimodal.asMediaTable(docsP(s, dir),
        "doc_id", "text")
        .select(col("media_id"), col("meta.mime").as("mime"),
          col("meta.width").as("width"), col("meta.height").as("height"),
          col("meta.duration_ms").as("duration_ms"))
        .orderBy("media_id"),
      Some("""SELECT doc_id AS media_id, 'text/plain' AS mime,
                     CAST(octet_length(CAST(text AS BLOB)) % 1920 AS INT) AS width,
                     CAST(octet_length(CAST(text AS BLOB)) % 1080 AS INT) AS height,
                     CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS duration_ms
              FROM documents ORDER BY media_id""")),

    // REAL container-header decode (MediaHeader expression): the gate
    // synthesizes spec-correct PNG (magic+IHDR), JPEG (APP0 segment →
    // SOF0, discovered by the marker walk, not a fixed offset), and GIF
    // (little-endian logical screen) payloads from fixture columns,
    // plus raw-text bytes as the unrecognized case. The oracle builds
    // byte-identical blobs as hex strings and parses the same header
    // fields back out of them. Unknowns coalesce to ('unknown', 0, 0)
    // so every output column stays non-null (checker dtype stability).
    QueryDef("q_media_decode",
      (s, dir) => {
        val docs = docsT(s, dir)
        val w = (col("doc_id") % 640 + 1).cast("int")
        val h = (col("n_chars") % 480 + 1).cast("int")
        def hx(c: org.apache.spark.sql.Column, n: Int) =
          lpad(hex(c), n, "0")
        val png = concat(lit("89504E470D0A1A0A0000000D49484452"),
          hx(w, 8), hx(h, 8), lit("0806000000"))
        val jpg = concat(
          lit("FFD8FFE000104A46494600010100000100010000FFC0001108"),
          hx(h, 4), hx(w, 4), lit("03011100021101031101FFD9"))
        val gif = concat(lit("474946383961"),
          hx(w.bitwiseAND(lit(255)), 2), hx(shiftright(w, 8), 2),
          hx(h.bitwiseAND(lit(255)), 2), hx(shiftright(h, 8), 2),
          lit("F7000000"))
        val payload = when(col("doc_id") % 4 === 0, unhex(png))
          .when(col("doc_id") % 4 === 1, unhex(jpg))
          .when(col("doc_id") % 4 === 2, unhex(gif))
          .otherwise(col("text").cast("binary"))
        docs.select(col("doc_id"),
            Multimodal.headerMeta(payload).as("__h"))
          .select(col("doc_id"),
            coalesce(col("__h.format"), lit("unknown")).as("format"),
            coalesce(col("__h.width"), lit(0)).as("width"),
            coalesce(col("__h.height"), lit(0)).as("height"))
          .orderBy("doc_id")
      },
      Some("""WITH src AS (SELECT doc_id, doc_id % 4 AS m,
                     CAST(doc_id % 640 + 1 AS INT) AS w,
                     CAST(n_chars % 480 + 1 AS INT) AS h
                   FROM documents),
              hx AS (SELECT doc_id, m,
                CASE WHEN m = 0 THEN '89504E470D0A1A0A0000000D49484452'
                       || lpad(to_hex(w), 8, '0') || lpad(to_hex(h), 8, '0')
                       || '0806000000'
                     WHEN m = 1 THEN
                       'FFD8FFE000104A46494600010100000100010000FFC0001108'
                       || lpad(to_hex(h), 4, '0') || lpad(to_hex(w), 4, '0')
                       || '03011100021101031101FFD9'
                     WHEN m = 2 THEN '474946383961'
                       || lpad(to_hex(w & 255), 2, '0')
                       || lpad(to_hex(w >> 8), 2, '0')
                       || lpad(to_hex(h & 255), 2, '0')
                       || lpad(to_hex(h >> 8), 2, '0') || 'F7000000'
                     ELSE NULL END AS b
                FROM src)
            SELECT doc_id,
                   CASE WHEN m = 0 THEN 'png' WHEN m = 1 THEN 'jpeg'
                        WHEN m = 2 THEN 'gif' ELSE 'unknown' END AS format,
                   CAST(CASE WHEN m = 0 THEN ('0x' || substr(b, 33, 8))::BIGINT
                        WHEN m = 1 THEN ('0x' || substr(b, 55, 4))::BIGINT
                        WHEN m = 2 THEN ('0x' || substr(b, 15, 2)
                                              || substr(b, 13, 2))::BIGINT
                        ELSE 0 END AS INT) AS width,
                   CAST(CASE WHEN m = 0 THEN ('0x' || substr(b, 41, 8))::BIGINT
                        WHEN m = 1 THEN ('0x' || substr(b, 51, 4))::BIGINT
                        WHEN m = 2 THEN ('0x' || substr(b, 19, 2)
                                              || substr(b, 17, 2))::BIGINT
                        ELSE 0 END AS INT) AS height
            FROM hx ORDER BY doc_id""")),

    // the stub decode is md5-based (Multimodal.fakeDecode), so DuckDB
    // reproduces the features; values are 16-bit/2^16 → float-exact, so
    // the norm is order-insensitive and engine-exact before rounding.
    QueryDef("q_media_features",
      (s, dir) => Multimodal.extractFeatures(
        Multimodal.asMediaTable(docsT(s, dir), "doc_id", "text"),
        dim = 8)
        .select(col("media_id"),
          round(Similarity.norm(col("features")), 6).as("feat_norm"))
        .orderBy("media_id"),
      Some("""WITH f AS (SELECT doc_id AS media_id,
                   [('0x' || substr(md5(text), 1+4*i, 4))::BIGINT / 65536.0
                    for i in range(0, 8)] AS feats
                 FROM documents)
            SELECT media_id,
                   round(sqrt(list_aggregate(list_transform(feats, x -> x*x),
                                             'sum')), 6) AS feat_norm
            FROM f ORDER BY media_id""")),

    // frame sampling: map-only explode of (frame_idx, ts) per media row
    // at a 250 ms interval; duration_ms = octet_length(text) in the
    // synthesized media table, so DuckDB rebuilds the frame grid
    QueryDef("q_frame_sample",
      (s, dir) => Multimodal.sampleFrames(
        Multimodal.asMediaTable(docsP(s, dir),
          "doc_id", "text"), intervalMs = 250L)
        .orderBy("media_id", "frame_idx"),
      Some("""WITH m AS (SELECT doc_id AS media_id,
                   CAST(octet_length(encode(text)) AS BIGINT) AS dur
                 FROM documents)
             SELECT media_id,
                    unnest(generate_series(0,
                      greatest(dur - 1, 0) // 250)) AS frame_idx,
                    unnest(generate_series(0,
                      greatest(dur - 1, 0) // 250)) * 250 AS frame_ts_ms
             FROM m ORDER BY media_id, frame_idx""")),

    // near-dup pairs → duplicate CLUSTERS: hash-min connected components
    // (oracle: recursive-CTE label propagation over the same pair set)
    QueryDef("q_dup_clusters",
      (s, dir) => {
        val pairs = Dedup.jaccardPairs(docsP(s, dir),
          "doc_id", "text", shingleN = 3, threshold = 0.8, blockKeys = 4)
        graft.operators.Components.fromPairs(pairs, "id_a", "id_b")
          .select(col("id").as("doc_id"), col("cluster_id"),
            col("cluster_size").cast("long").as("cluster_size"))
          .orderBy("doc_id")
      },
      Some(s"""WITH RECURSIVE pairs AS ($nearDupOracle),
             edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
                       UNION SELECT id_b, id_a FROM pairs),
             reach(id, lbl) AS (
               SELECT DISTINCT src, src FROM edges
               UNION
               SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.id),
             comp AS (SELECT id AS doc_id, min(lbl) AS cluster_id
                      FROM reach GROUP BY id)
           SELECT doc_id, cluster_id,
                  CAST(COUNT(*) OVER (PARTITION BY cluster_id) AS BIGINT)
                    AS cluster_size
           FROM comp ORDER BY doc_id"""),
    ),

    // end-to-end near-dedup: transitive closure of the pair set, keep
    // the min-id representative per cluster, anti-join the rest away
    QueryDef("q_near_dedup",
      (s, dir) => Dedup.dropNearDuplicates(docsP(s, dir),
        "doc_id", "text", shingleN = 3, threshold = 0.8)
        .select("doc_id").orderBy("doc_id"),
      Some(s"""WITH RECURSIVE pairs AS ($nearDupOracle),
             edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
                       UNION SELECT id_b, id_a FROM pairs),
             reach(id, lbl) AS (
               SELECT DISTINCT src, src FROM edges
               UNION
               SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.id),
             comp AS (SELECT id AS doc_id, min(lbl) AS cluster_id
                      FROM reach GROUP BY id)
           SELECT doc_id FROM documents
           WHERE doc_id NOT IN
             (SELECT doc_id FROM comp WHERE doc_id <> cluster_id)
           ORDER BY doc_id"""),
    ),

    // deterministic per-stratum sampling: seeded md5 bucket < per-lang
    // rate — pure map work (no shuffle), reproducible by any engine
    QueryDef("q_stratified_sample",
      (s, dir) => Sampling.stratifiedSample(docsP(s, dir),
        "doc_id", "lang",
        rates = Map("en" -> 0.1, "es" -> 0.5, "de" -> 1.0),
        defaultRate = 0.25)
        .select("doc_id", "lang").orderBy("doc_id"),
      Some("""SELECT doc_id, lang FROM documents
              WHERE ('0x' || substr(md5('strat:' || doc_id), 1, 8))::BIGINT
                    % 1000000
                    < CASE lang WHEN 'en' THEN 100000 WHEN 'es' THEN 500000
                                WHEN 'de' THEN 1000000 ELSE 250000 END
              ORDER BY doc_id""")),

    // deterministic train/val/test split: map-only seeded-hash label,
    // reproducible across engines (oracle rebuilds identical buckets)
    QueryDef("q_hash_split",
      (s, dir) => Sampling.hashSplit(docsT(s, dir),
        "doc_id", Seq("train" -> 0.9, "val" -> 0.05, "test" -> 0.05))
        .select("doc_id", "split").orderBy("doc_id"),
      Some("""SELECT doc_id,
                CASE WHEN ('0x' || substr(md5('split:' || doc_id), 1, 8))::BIGINT
                          % 1000000 < 900000 THEN 'train'
                     WHEN ('0x' || substr(md5('split:' || doc_id), 1, 8))::BIGINT
                          % 1000000 < 950000 THEN 'val'
                     ELSE 'test' END AS split
              FROM documents ORDER BY doc_id""")),

    // fill-in-the-middle pretraining transform (Bavarian et al. 2022):
    // seeded-deterministic half of the corpus rewrites into
    // <fim_prefix>P<fim_suffix>S<fim_middle>M with md5-derived
    // character cuts; the oracle recomputes every cut and slice
    QueryDef("q_fim_split",
      (s, dir) => Sampling.fimTransform(
        docsT(s, dir), "doc_id", "text", rate = 0.5)
        .select("doc_id", "fim_applied", "fim_text").orderBy("doc_id"),
      Some("""WITH t AS (SELECT doc_id, text, length(text) AS n,
                ('0x' || substr(md5('fim:' || doc_id), 1, 8))::BIGINT
                  % 1000000 AS selb,
                ('0x' || substr(md5('fim#a:' || doc_id), 1, 8))::BIGINT
                  % 1000000 AS ha,
                ('0x' || substr(md5('fim#b:' || doc_id), 1, 8))::BIGINT
                  % 1000000 AS hb
              FROM documents),
              c AS (SELECT doc_id, text, n,
                -- COALESCE: a null text must read as applied=FALSE, not
                -- NULL, matching the engine's isNotNull guard
                selb < 500000 AND COALESCE(n, 0) > 0 AS fim_applied,
                LEAST(ha % (n + 1), hb % (n + 1)) AS lo,
                GREATEST(ha % (n + 1), hb % (n + 1)) AS hi FROM t)
              SELECT doc_id, fim_applied,
                CASE WHEN fim_applied THEN
                  '<fim_prefix>' || substr(text, 1, lo) ||
                  '<fim_suffix>' || substr(text, hi + 1, n - hi) ||
                  '<fim_middle>' || substr(text, lo + 1, hi - lo)
                ELSE text END AS fim_text
              FROM c ORDER BY doc_id""")),

    // T5 span corruption (arXiv:1910.10683 §3.1.4, char-level twin of
    // q_fim_split): two seeded masked spans → sentinel-joined input +
    // target. The twin re-derives all four sorted cut points.
    QueryDef("q_span_corrupt",
      (s, dir) => Sampling.spanCorrupt(
        docsT(s, dir), "doc_id", "text", rate = 0.5)
        .select("doc_id", "corrupt_applied", "corrupt_input", "corrupt_target")
        .orderBy("doc_id"),
      Some("""WITH t AS (SELECT doc_id, text, length(text) AS n,
                ('0x' || substr(md5('t5:' || doc_id), 1, 8))::BIGINT
                  % 1000000 AS selb,
                list_sort([
                  ('0x' || substr(md5('t5#a:' || doc_id), 1, 8))::BIGINT % 1000000 % (length(text) + 1),
                  ('0x' || substr(md5('t5#b:' || doc_id), 1, 8))::BIGINT % 1000000 % (length(text) + 1),
                  ('0x' || substr(md5('t5#c:' || doc_id), 1, 8))::BIGINT % 1000000 % (length(text) + 1),
                  ('0x' || substr(md5('t5#d:' || doc_id), 1, 8))::BIGINT % 1000000 % (length(text) + 1)
                ]) AS cuts
              FROM documents),
              c AS (SELECT doc_id, text, n,
                selb < 500000 AND COALESCE(n, 0) > 0 AS corrupt_applied,
                cuts[1] AS c1, cuts[2] AS c2, cuts[3] AS c3, cuts[4] AS c4
              FROM t)
              SELECT doc_id, corrupt_applied,
                CASE WHEN corrupt_applied THEN
                  substr(text, 1, c1) ||
                  '<extra_id_0>' || substr(text, c2 + 1, c3 - c2) ||
                  '<extra_id_1>' || substr(text, c4 + 1, n - c4)
                ELSE text END AS corrupt_input,
                CASE WHEN corrupt_applied THEN
                  '<extra_id_0>' || substr(text, c1 + 1, c2 - c1) ||
                  '<extra_id_1>' || substr(text, c3 + 1, c4 - c3) ||
                  '<extra_id_2>'
                ELSE NULL END AS corrupt_target
              FROM c ORDER BY doc_id""")),

    // deterministic corpus shuffle layout: chunked positions, no global
    // single-partition sort (keyed window + nChunks-row prefix sum)
    QueryDef("q_corpus_shuffle",
      (s, dir) => Sampling.shuffleChunks(docsT(s, dir),
        "doc_id", nChunks = 64)
        .select("doc_id", "chunk", "pos", "global_pos").orderBy("doc_id"),
      Some("""WITH h AS (SELECT doc_id,
                ('0x' || substr(md5('shuf:' || doc_id), 1, 8))::BIGINT
                  % 1000000 % 64 AS chunk,
                md5('shuf#' || doc_id) AS k FROM documents),
              p AS (SELECT doc_id, chunk,
                CAST(ROW_NUMBER() OVER (PARTITION BY chunk
                  ORDER BY k, doc_id) - 1 AS BIGINT) AS pos FROM h),
              c AS (SELECT chunk, count(*) AS cnt FROM p GROUP BY chunk),
              o AS (SELECT chunk, CAST(sum(cnt) OVER (ORDER BY chunk) - cnt
                      AS BIGINT) AS offs FROM c)
              SELECT p.doc_id, p.chunk, p.pos, p.pos + o.offs AS global_pos
              FROM p JOIN o USING (chunk) ORDER BY p.doc_id""")),

    // Lee-et-al exact-substring duplication signal: cross-doc repeated
    // 8-token spans + per-doc covered-token fraction
    QueryDef("q_repeated_spans",
      (s, dir) => Dedup.repeatedSpans(docsT(s, dir),
        "doc_id", "text", n = 8, minDocs = 2)
        .orderBy("doc_id"),
      Some(s"""WITH t AS (SELECT doc_id, $duckToks AS w FROM documents),
              win AS (SELECT doc_id, nt, unnest(generate_series(1, nt - 7)) AS i, w
                      FROM (SELECT doc_id, w, len(w) AS nt FROM t)
                      WHERE nt >= 8),
              winh AS (SELECT doc_id, nt, i,
                        md5(array_to_string(w[i:i+7], ' ')) AS h FROM win),
              d AS (SELECT h FROM winh GROUP BY h
                    HAVING count(DISTINCT doc_id) >= 2),
              f AS (SELECT winh.doc_id, winh.nt, winh.i
                    FROM winh JOIN d USING (h)),
              cov AS (SELECT doc_id, nt,
                        count(DISTINCT i) AS n_spans, count(DISTINCT p) AS cv
                      FROM (SELECT doc_id, nt, i,
                              unnest(generate_series(i, i + 7)) AS p FROM f)
                      GROUP BY doc_id, nt)
              SELECT doc_id, CAST(n_spans AS BIGINT) AS n_spans,
                     round(cv::DOUBLE / nt, 6) AS dup_frac
              FROM cov ORDER BY doc_id""")),

    // exact-substring dedup transform (Lee et al.): remove every token
    // covered by a cross-doc repeated 8-gram, return the rewritten text
    // — DuckDB rebuilds the surviving token list per doc
    QueryDef("q_drop_spans",
      (s, dir) => Dedup.dropRepeatedSpans(docsT(s, dir),
        "doc_id", "text", n = 8, minDocs = 2).orderBy("doc_id"),
      Some(s"""WITH t AS (SELECT doc_id, $duckToks AS w FROM documents),
              win AS (SELECT doc_id, nt, unnest(generate_series(1, nt - 7)) AS i, w
                      FROM (SELECT doc_id, w, len(w) AS nt FROM t)
                      WHERE nt >= 8),
              winh AS (SELECT doc_id, i,
                        md5(array_to_string(w[i:i+7], ' ')) AS h FROM win),
              d AS (SELECT h FROM winh GROUP BY h
                    HAVING count(DISTINCT doc_id) >= 2),
              cov AS (SELECT doc_id, count(DISTINCT p) AS nrem,
                             list(DISTINCT p) AS ps
                      FROM (SELECT winh.doc_id,
                              unnest(generate_series(winh.i, winh.i + 7)) AS p
                            FROM winh JOIN d USING (h))
                      GROUP BY doc_id)
              SELECT t.doc_id,
                     CASE WHEN t.w IS NULL THEN NULL
                          WHEN cov.doc_id IS NULL THEN array_to_string(t.w, ' ')
                          ELSE coalesce(array_to_string(
                            [t.w[j] for j in generate_series(1, len(t.w))
                             if NOT list_contains(cov.ps, j)], ' '), '') END AS text,
                     CAST(coalesce(cov.nrem, 0) AS BIGINT) AS n_removed
              FROM t LEFT JOIN cov USING (doc_id) ORDER BY t.doc_id""")),

    // fastText-shaped hashed-feature linear classifier (deterministic
    // stand-in weights — see TextAnalysis.classifierScore); DuckDB
    // re-derives weight, mean, and sigmoid token for token
    QueryDef("q_classifier_score",
      (s, dir) => docsP(s, dir)
        .select(col("doc_id"),
          TextAnalysis.classifierScore(col("text")).as("cls_score"))
        .orderBy("doc_id"),
      Some(s"""SELECT doc_id,
                round(1.0 / (1.0 + exp(-(CASE WHEN len($duckToksLower) > 0
                  THEN list_aggregate(list_transform($duckToksLower,
                    t -> ((('0x' || substr(md5(t), 1, 15))::BIGINT % 1048576)::DOUBLE
                          / 1048576 * 2.0 - 1.0)), 'sum') / len($duckToksLower)
                  ELSE 0.0 END))), 6) AS cls_score
              FROM documents ORDER BY doc_id""")),

    // document clustering: the IVF cell assignment as a first-class
    // clustering output, summarized as per-cluster sizes — the oracle
    // re-derives seeds, centroids, and nearest-cell assignment
    QueryDef("q_cluster_sizes",
      (s, dir) => Similarity.clusterAssignments(
          embP(s, dir), nCells = 8, portableSeed = true)
        .groupBy("cell_id")
        .agg(count(lit(1)).as("n"), min(col("vec_id")).as("min_vec"))
        .orderBy("cell_id"),
      Some("""WITH u AS (SELECT vec_id, unnest(embedding)::DOUBLE AS e,
                    generate_subscripts(embedding, 1) - 1 AS i FROM embeddings),
              nr AS (SELECT vec_id, sqrt(sum(e*e)) AS nrm FROM u GROUP BY vec_id),
              iseeds AS (SELECT vec_id AS cell,
                           ROW_NUMBER() OVER (ORDER BY h, vec_id) - 1 AS rn
                         FROM (SELECT vec_id,
                                 ('0x' || substr(md5(vec_id::VARCHAR), 1, 15))::BIGINT AS h
                               FROM embeddings ORDER BY h, vec_id LIMIT 8)),
              cells AS (SELECT cell, ROW_NUMBER() OVER (ORDER BY cell) - 1 AS ci
                        FROM iseeds),
              cv AS (SELECT c.ci, u.i, u.e / nr.nrm AS ce
                     FROM cells c JOIN u ON u.vec_id = c.cell
                                  JOIN nr ON nr.vec_id = c.cell),
              sim AS (SELECT u.vec_id, cv.ci, SUM(u.e * cv.ce) AS s
                      FROM u JOIN cv ON u.i = cv.i GROUP BY 1, 2),
              asg AS (SELECT vec_id, ci FROM (
                        SELECT vec_id, ci, ROW_NUMBER() OVER (
                          PARTITION BY vec_id ORDER BY s DESC, ci) AS r
                        FROM sim) WHERE r = 1)
              SELECT cells.cell AS cell_id, CAST(COUNT(*) AS BIGINT) AS n,
                     MIN(asg.vec_id) AS min_vec
              FROM asg JOIN cells USING (ci)
              GROUP BY 1 ORDER BY 1""")),

    // semantic decontamination: corpus rows within 0.25 cosine of any
    // benchmark embedding (vec_id < 5 plays the benchmark) — catches
    // the paraphrased leakage n-gram decontamination misses
    QueryDef("q_semantic_decon",
      (s, dir) => {
        val e = embP(s, dir)
        Decontaminate.semanticContaminationHits(
          e.where(col("vec_id") >= 5), "vec_id", "embedding",
          e.where(col("vec_id") < 5), "embedding", threshold = 0.25)
          .orderBy("vec_id")
      },
      Some("""WITH u AS (SELECT vec_id, unnest(embedding)::DOUBLE AS e,
                                generate_subscripts(embedding, 1) AS i FROM embeddings),
                n AS (SELECT vec_id, sqrt(sum(e*e)) AS nrm FROM u GROUP BY vec_id),
                d AS (SELECT c.vec_id, b.vec_id AS bid, sum(c.e * b.e) AS dt
                      FROM u c JOIN u b ON c.i = b.i
                      WHERE c.vec_id >= 5 AND b.vec_id < 5 GROUP BY 1, 2),
                sc AS (SELECT d.vec_id, round(dt / (nc.nrm * nb.nrm), 6) AS cos
                       FROM d JOIN n nc ON nc.vec_id = d.vec_id
                              JOIN n nb ON nb.vec_id = d.bid)
              SELECT vec_id, CAST(count(*) AS BIGINT) AS hits,
                     max(cos) AS max_cos
              FROM sc WHERE cos >= 0.25 GROUP BY 1 ORDER BY 1""")),

    // Gopher-style rule filter: per-rule flags + verdict, map-only
    QueryDef("q_quality_filter",
      (s, dir) => {
        // the scale-correct shape: ONE native text_stats pass
        // materialized, every rule a cheap field comparison (getField
        // on a raw ruleFilter expression re-inlines the whole metric
        // tree per output column — ~8 tokenizations per row)
        docsP(s, dir)
          .withColumn("__s", TextAnalysis.textStats(col("text")))
          .withColumn("__f", TextAnalysis.ruleFilterFromStats(col("__s")))
          .select(col("doc_id"), col("__f.len_ok").as("len_ok"),
            col("__f.word_len_ok").as("word_len_ok"),
            col("__f.punct_ok").as("punct_ok"),
            col("__f.stopword_ok").as("stopword_ok"),
            col("__f.keep").as("keep"))
          .orderBy("doc_id")
      },
      Some {
        val sw = TextAnalysis.EnglishStopwords.map("'" + _ + "'").mkString(",")
        s"""WITH t AS (SELECT doc_id,
              CAST(len($duckToks) AS BIGINT) AS n_tok,
              round(list_aggregate(list_transform($duckToks, x -> length(x)), 'sum')::DOUBLE
                    / greatest(len($duckToks), 1), 6) AS awl,
              round((length(text) - length(regexp_replace(text, '[.!?,;:]', '', 'g')))::DOUBLE
                    / greatest(length(text), 1), 6) AS punct,
              len(list_intersect(list_distinct($duckToksLower), [$sw])) AS stop_hits
            FROM documents)
          SELECT doc_id,
            n_tok BETWEEN 5 AND 100000 AS len_ok,
            awl BETWEEN 2.0 AND 12.0 AS word_len_ok,
            punct <= 0.2 AS punct_ok,
            stop_hits >= 1 AS stopword_ok,
            (n_tok BETWEEN 5 AND 100000) AND (awl BETWEEN 2.0 AND 12.0)
              AND punct <= 0.2 AND stop_hits >= 1 AS keep
          FROM t ORDER BY doc_id"""
      }),

    // per-source token budget: deterministic hash order + running token
    // total, cut at the budget — one keyed window pass
    QueryDef("q_token_budget",
      (s, dir) => Sampling.tokenBudget(docsT(s, dir),
        "doc_id", "source", TextAnalysis.tokenCount(col("text")), budget = 700L)
        .select(col("source"), col("doc_id"), col("cum_tokens"))
        .orderBy("source", "cum_tokens", "doc_id"),
      Some(s"""WITH t AS (SELECT source, doc_id,
                 CAST(len($duckToks) AS BIGINT) AS n_tok,
                 ('0x' || substr(md5('budget:' || doc_id), 1, 8))::BIGINT
                   % 1000000 AS hb
               FROM documents),
             c AS (SELECT source, doc_id,
                     CAST(sum(n_tok) OVER (PARTITION BY source
                       ORDER BY hb, doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS BIGINT) AS cum_tokens
                   FROM t)
             SELECT source, doc_id, cum_tokens FROM c
             WHERE cum_tokens <= 700 ORDER BY source, cum_tokens, doc_id""")),

    // benchmark decontamination: training docs sharing any 3-gram with
    // the (broadcast) benchmark slice; hits = distinct shared shingles
    QueryDef("q_decontaminate",
      (s, dir) => {
        val d = docsP(s, dir)
        Decontaminate.contaminationHits(
          d.where(col("doc_id") % 20 =!= 0), "doc_id", "text",
          d.where(col("doc_id") % 20 === 0), "text", shingleN = 3)
          .orderBy("doc_id")
      },
      Some(s"""WITH t AS (SELECT doc_id, $duckShingles AS sh
                 FROM (SELECT doc_id, $duckToks AS w FROM documents)),
               b AS (SELECT DISTINCT unnest(sh) AS s FROM t WHERE doc_id % 20 = 0),
               d AS (SELECT doc_id, unnest(sh) AS s FROM t WHERE doc_id % 20 <> 0)
             SELECT d.doc_id, CAST(COUNT(*) AS BIGINT) AS hits
             FROM d JOIN b ON d.s = b.s
             GROUP BY d.doc_id ORDER BY doc_id""")),

    // bloom-filter decontamination (the bench-set-too-big-to-broadcast
    // path): probabilistic membership → no DuckDB twin (driver records
    // the rows-only check); the no-false-negative superset contract vs
    // the exact path is spec-pinned in CurationSpec
    QueryDef("q_decontaminate_bloom",
      (s, dir) => {
        val d = docsP(s, dir)
        Decontaminate.contaminationHitsBloom(
          d.where(col("doc_id") % 20 =!= 0), "doc_id", "text",
          d.where(col("doc_id") % 20 === 0), "text", shingleN = 3,
          fpp = 0.001)
          .orderBy("doc_id")
      },
      None),

    // tf-idf top terms per doc (smoothed idf, deterministic tie-break)
    QueryDef("q_tfidf_top",
      (s, dir) => TfIdf.topTerms(docsT(s, dir),
        "doc_id", "text", k = 3)
        .withColumn("rnk", col("rnk").cast("long"))
        .orderBy("doc_id", "rnk"),
      Some(s"""WITH toks AS (SELECT doc_id, unnest($duckToksLower) AS term
                 FROM documents),
               tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
               df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
               n AS (SELECT COUNT(*) AS n FROM documents),
               sc AS (SELECT doc_id, term, CAST(tf AS BIGINT) AS tf,
                        round(tf * (ln((n + 1)::DOUBLE / (df + 1)) + 1), 6) AS score
                      FROM tf JOIN df USING (term) CROSS JOIN n),
               r AS (SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY doc_id
                       ORDER BY score DESC, term) AS BIGINT) AS rnk FROM sc)
             SELECT doc_id, term, tf, score, rnk FROM r
             WHERE rnk <= 3 ORDER BY doc_id, rnk""")),

    // Gopher-style repetition metric: duplicate 2-/3-gram fraction per
    // doc, map-only (docs shorter than n tokens score 0)
    QueryDef("q_repetition",
      (s, dir) => docsT(s, dir)
        .select(col("doc_id"),
          TextAnalysis.dupNgramFrac(col("text"), 2).as("dup2"),
          TextAnalysis.dupNgramFrac(col("text"), 3).as("dup3"))
        .orderBy("doc_id"),
      Some(s"""WITH t AS (SELECT doc_id, $duckToks AS w FROM documents)
             SELECT doc_id,
               round(CASE WHEN len(w) < 2 THEN 0.0 ELSE
                 1.0 - len(list_distinct([array_to_string(w[i:i+1], ' ')
                             for i in range(1, len(w))]))::DOUBLE
                     / (len(w) - 1) END, 6) AS dup2,
               round(CASE WHEN len(w) < 3 THEN 0.0 ELSE
                 1.0 - len(list_distinct([array_to_string(w[i:i+2], ' ')
                             for i in range(1, len(w) - 1)]))::DOUBLE
                     / (len(w) - 2) END, 6) AS dup3
             FROM t ORDER BY doc_id""")),

    // per-domain cap: keep the 5 largest docs per source (rank by
    // n_chars desc, id tie-break) — the per-domain cap of a web pipeline
    QueryDef("q_domain_cap",
      (s, dir) => Sampling.capPerGroup(docsP(s, dir),
        "source", "doc_id", col("n_chars"), k = 5)
        .select(col("source"), col("doc_id"), col("n_chars"),
          col("rnk").cast("long").as("rnk"))
        .orderBy("source", "rnk"),
      Some("""WITH r AS (SELECT source, doc_id, n_chars,
                 CAST(ROW_NUMBER() OVER (PARTITION BY source
                   ORDER BY n_chars DESC, doc_id) AS BIGINT) AS rnk
               FROM documents)
             SELECT source, doc_id, n_chars, rnk FROM r
             WHERE rnk <= 5 ORDER BY source, rnk""")),

    // deterministic mixture resampling: en upsampled 2.5x, es kept,
    // de halved, other langs dropped; copy = 1-based repeat index
    QueryDef("q_mixture",
      (s, dir) => Sampling.resampleMixture(docsP(s, dir),
        "doc_id", "lang",
        weights = Map("en" -> 2.5, "es" -> 1.0, "de" -> 0.5),
        defaultWeight = 0.0)
        .select("doc_id", "lang", "copy").orderBy("doc_id", "copy"),
      Some("""WITH t AS (SELECT doc_id, lang,
                 CASE lang WHEN 'en' THEN 2.5 WHEN 'es' THEN 1.0
                           WHEN 'de' THEN 0.5 ELSE 0.0 END AS w,
                 ('0x' || substr(md5('mix:' || doc_id), 1, 8))::BIGINT
                   % 1000000 AS hb
               FROM documents),
             c AS (SELECT doc_id, lang,
                     CAST(floor(w) AS BIGINT) +
                     CASE WHEN hb < (w - floor(w)) * 1000000 THEN 1 ELSE 0 END
                       AS n
                   FROM t)
             SELECT doc_id, lang, unnest(generate_series(1, n)) AS copy
             FROM c WHERE n >= 1 ORDER BY doc_id, copy""")),

    // temperature-scaled mixture (alpha-smoothed multilingual sampling,
    // arXiv:1901.07291 §3.1): rates DERIVED from corpus counts —
    // n^alpha shares renormalized, low-resource langs upsample. The
    // twin re-derives counts, shares, the 6-decimal rate rounding, and
    // the seeded fractional-copy rule.
    QueryDef("q_temp_mixture",
      (s, dir) => Sampling.temperatureResample(docsP(s, dir),
        "doc_id", "lang", alpha = 0.5)
        .select("doc_id", "lang", "copy").orderBy("doc_id", "copy"),
      Some("""WITH g AS (SELECT lang, CAST(COUNT(*) AS DOUBLE) AS cnt
                         FROM documents GROUP BY lang),
                 tot AS (SELECT sum(cnt) AS N, sum(sqrt(cnt)) AS Z FROM g),
                 r AS (SELECT lang,
                         round(sqrt(cnt) / Z * N / cnt, 6) AS w
                       FROM g, tot),
                 t AS (SELECT d.doc_id, d.lang, r.w,
                         ('0x' || substr(md5('temp:' || d.doc_id), 1, 8))::BIGINT
                           % 1000000 AS hb
                       FROM documents d
                       JOIN r ON d.lang IS NOT DISTINCT FROM r.lang),
                 c AS (SELECT doc_id, lang,
                         CAST(floor(w) AS BIGINT) +
                         CASE WHEN hb < (w - floor(w)) * 1000000
                              THEN 1 ELSE 0 END AS nc
                       FROM t)
             SELECT doc_id, lang, unnest(generate_series(1, nc)) AS copy
             FROM c WHERE nc >= 1 ORDER BY doc_id, copy""")),

    // PII redaction over deterministically doctored text (the fixture
    // has no planted PII, so both engines inject the same synthetic
    // email/phone/IP before scrubbing)
    QueryDef("q_pii_redact",
      (s, dir) => {
        val doctored = concat(col("text"),
          lit(" contact user"), col("doc_id").cast("string"),
          lit("@mail.example.com tel 555-"),
          lpad((col("doc_id") % 10000).cast("string"), 4, "0"),
          lit(" from 10.0."), (col("doc_id") % 256).cast("string"), lit(".7"))
        docsT(s, dir)
          .select(col("doc_id"),
            TextAnalysis.redactPii(doctored).as("clean"))
          .orderBy("doc_id")
      },
      Some("""WITH t AS (SELECT doc_id,
                 text || ' contact user' || CAST(doc_id AS VARCHAR)
                      || '@mail.example.com tel 555-'
                      || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                      || ' from 10.0.' || CAST(doc_id % 256 AS VARCHAR)
                      || '.7' AS txt
               FROM documents)
             SELECT doc_id, regexp_replace(regexp_replace(regexp_replace(txt,
                 '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
                 '<EMAIL>', 'g'),
                 '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
                 '\b\d{3}[- ]\d{4}\b', '<PHONE>', 'g') AS clean
             FROM t ORDER BY doc_id""")),

    // unigram surprisal: mean -ln p(token) under the corpus's own
    // unigram distribution — model-free quality/outlier score
    QueryDef("q_surprisal",
      (s, dir) => TfIdf.unigramSurprisal(docsT(s, dir),
        "doc_id", "text").orderBy("doc_id"),
      Some(s"""WITH toks AS (SELECT doc_id, unnest($duckToksLower) AS term
                 FROM documents),
               f AS (SELECT term, COUNT(*) AS cf FROM toks GROUP BY 1),
               tot AS (SELECT SUM(cf) AS tot FROM f)
             SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tok,
                    round(AVG(-ln(cf::DOUBLE / tot)), 6) AS surprisal
             FROM toks JOIN f USING (term) CROSS JOIN tot
             GROUP BY doc_id ORDER BY doc_id""")),

    // DSIR-style importance weights (Xie et al. 2023): log ratio of a
    // target sample's unigram distribution vs the raw corpus's, add-1
    // smoothed — the importance-resampling selection signal; src0 docs
    // stand in as the target domain sample
    QueryDef("q_dsir_weights",
      (s, dir) => TfIdf.importanceWeights(docsT(s, dir),
        "doc_id", "text", col("source") === "src0").orderBy("doc_id"),
      Some(s"""WITH toks AS (SELECT doc_id, (source = 'src0') AS t,
                        unnest($duckToksLower) AS term FROM documents),
               st AS (SELECT term, COUNT(*) AS cr,
                        SUM(CASE WHEN t THEN 1 ELSE 0 END) AS ct
                      FROM toks GROUP BY 1),
               tot AS (SELECT SUM(cr) AS tr, SUM(ct) AS tt, COUNT(*) AS v FROM st),
               r AS (SELECT term,
                       ln((ct + 1)::DOUBLE / (tt + v)) -
                       ln((cr + 1)::DOUBLE / (tr + v)) AS lr
                     FROM st CROSS JOIN tot)
             SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tok,
                    round(SUM(lr), 6) AS log_weight
             FROM toks JOIN r USING (term)
             GROUP BY doc_id ORDER BY doc_id""")),

    // sliding-window chunking (RAG/long-doc prep): 40-token windows,
    // 10-token overlap; the twin re-derives the identical slice layout
    QueryDef("q_chunk_docs",
      (s, dir) => Sampling.chunkDocuments(docsT(s, dir),
        "doc_id", "text", chunkSize = 40, overlap = 10)
        .orderBy("doc_id", "chunk_id"),
      Some(s"""WITH toks AS (SELECT doc_id, $duckToks AS t FROM documents),
               n AS (SELECT doc_id, t, len(t) AS n FROM toks WHERE len(t) > 0),
               c AS (SELECT doc_id, t, n,
                 greatest(CAST(ceil((n - 10)::DOUBLE / 30) AS INT), 1) AS nc
                 FROM n),
               e AS (SELECT doc_id, t, n,
                 unnest(generate_series(0, nc - 1)) AS i FROM c)
              SELECT doc_id, CAST(i AS BIGINT) AS chunk_id,
                array_to_string(t[i*30+1 : i*30+40], ' ') AS chunk_text,
                CAST(len(t[i*30+1 : i*30+40]) AS BIGINT) AS n_tokens
              FROM e ORDER BY doc_id, chunk_id""")),

    // Gopher within-doc repetition battery over synthesized multi-line
    // text (the fixture is single-line; the concat plants duplicate
    // lines deterministically in BOTH engines)
    QueryDef("q_gopher_rep",
      (s, dir) => {
        val d = docsT(s, dir)
          .withColumn("mtext", concat_ws("\n", col("text"),
            substring(col("text"), 1, 40), substring(col("text"), 1, 40),
            substring(col("text"), 41, 25)))
        d.select(col("doc_id"),
          graft.llmops.TextAnalysis.gopherRepetition(col("mtext")).as("g"))
          .select(col("doc_id"), col("g.dup_line_frac"),
            col("g.dup_line_char_frac"), col("g.top_ngram_char_frac"))
          .orderBy("doc_id")
      },
      Some("""WITH m AS (SELECT doc_id,
                text || chr(10) || substr(text, 1, 40) || chr(10) ||
                substr(text, 1, 40) || chr(10) || substr(text, 41, 25) AS mt
              FROM documents),
              L AS (SELECT doc_id,
                list_filter(list_transform(string_split(mt, chr(10)),
                  x -> trim(x)), x -> x <> '') AS ls FROM m),
              la AS (SELECT doc_id, len(ls) AS nl, len(list_distinct(ls)) AS nd,
                list_sum(list_transform(ls, x -> len(x))) AS lc,
                list_sum(list_transform(list_distinct(ls), x ->
                  CASE WHEN len(list_filter(ls, y -> y = x)) = 1
                       THEN len(x) ELSE 0 END)) AS uc
              FROM L),
              toks AS (SELECT doc_id,
                list_filter(string_split_regex(trim(lower(mt)), '\s+'),
                  x -> x <> '') AS t FROM m),
              bg AS (SELECT doc_id, unnest(t[1:len(t)-1]) AS g1,
                            unnest(t[2:len(t)]) AS g2
                     FROM toks WHERE len(t) >= 2),
              gc AS (SELECT doc_id, g1 || ' ' || g2 AS g, COUNT(*) AS c
                     FROM bg GROUP BY 1, 2),
              top AS (SELECT doc_id, c, len(g) AS lg FROM
                       (SELECT *, row_number() OVER (PARTITION BY doc_id
                          ORDER BY c DESC, len(g) DESC, g DESC) AS rn FROM gc)
                      WHERE rn = 1),
              tc AS (SELECT doc_id,
                list_sum(list_transform(t, x -> len(x))) AS tchars FROM toks)
              SELECT la.doc_id,
                CASE WHEN la.nl > 1 THEN
                  round((la.nl - la.nd)::DOUBLE / la.nl, 6) ELSE 0.0
                END AS dup_line_frac,
                CASE WHEN la.nl > 1 AND la.lc > 0 THEN
                  round((la.lc - la.uc)::DOUBLE / la.lc, 6) ELSE 0.0
                END AS dup_line_char_frac,
                least(round(top.c * (top.lg - 1)::DOUBLE / tc.tchars, 6), 1.0)
                  AS top_ngram_char_frac
              FROM la JOIN top USING (doc_id) JOIN tc USING (doc_id)
              ORDER BY la.doc_id""")),

    // A-ES weighted sampling without replacement: inclusion odds ∝
    // n_chars, key = u^(1/w) from the seeded md5 uniform; the twin
    // re-derives u and the keys and repeats the (wkey, id) ordering
    QueryDef("q_weighted_sample",
      (s, dir) => Sampling.weightedSample(docsP(s, dir),
        "doc_id", col("n_chars"), k = 50)
        .select("doc_id", "n_chars", "wkey"),
      Some("""SELECT doc_id, n_chars,
                round(pow((('0x' || substr(md5('wsamp:' || doc_id), 1, 8))::BIGINT
                           % 1000000 + 0.5) / 1000000.0,
                          1.0 / CAST(n_chars AS DOUBLE)), 6) AS wkey
              FROM documents
              WHERE n_chars IS NOT NULL AND n_chars > 0
              ORDER BY wkey DESC, doc_id ASC
              LIMIT 50""")),

    // CCNet-style bigram-LM log-perplexity (Jelinek–Mercer interpolation,
    // λ=0.9): the twin re-trains the same counts and repeats the
    // interpolation formula term for term
    QueryDef("q_bigram_ppl",
      (s, dir) => TfIdf.bigramLogPerplexity(docsT(s, dir),
        "doc_id", "text").orderBy("doc_id"),
      Some(s"""WITH toks AS (SELECT doc_id, $duckToksLower AS t FROM documents),
               big AS (SELECT doc_id, unnest(t[1:len(t)-1]) AS w1,
                              unnest(t[2:len(t)]) AS w2
                       FROM toks WHERE len(t) >= 2),
               uni AS (SELECT w, COUNT(*) AS c FROM
                         (SELECT unnest(t) AS w FROM toks) GROUP BY 1),
               tot AS (SELECT CAST(SUM(c) AS DOUBLE) AS T FROM uni),
               bg AS (SELECT w1, w2, COUNT(*) AS c12 FROM big GROUP BY 1, 2),
               sc AS (SELECT big.doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
                        round(AVG(-ln(
                          0.9 * CAST(bg.c12 AS DOUBLE) / CAST(u1.c AS DOUBLE) +
                          0.1 * CAST(u2.c AS DOUBLE) / tot.T)), 6) AS logppl
                      FROM big
                      JOIN bg ON big.w1 = bg.w1 AND big.w2 = bg.w2
                      JOIN uni u1 ON big.w1 = u1.w
                      JOIN uni u2 ON big.w2 = u2.w
                      CROSS JOIN tot
                      GROUP BY big.doc_id)
             SELECT d.doc_id, coalesce(sc.n_bigrams, 0) AS n_bigrams, sc.logppl
             FROM documents d LEFT JOIN sc ON d.doc_id = sc.doc_id
             ORDER BY d.doc_id""")),

    // incremental (cross-snapshot) dedup: the "new crawl" (doc_id >= 100)
    // dedups against the accumulated corpus's DIGEST SET (doc_id < 100)
    // — the old snapshot ships fingerprints, never text
    QueryDef("q_dedup_incremental",
      (s, dir) => {
        val docs = docsP(s, dir)
        Dedup.dedupAgainst(
          docs.where(col("doc_id") >= 100),
          docs.where(col("doc_id") < 100),
          "doc_id", "text", normalize = true)
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n_kept"), sum(col("n_chars")).as("chars_kept"))
          .orderBy("source")
      },
      Some("""WITH ref AS (SELECT DISTINCT md5(regexp_replace(lower(text),
                             '\s+', ' ', 'g')) AS d
                           FROM documents WHERE doc_id < 100),
               kept AS (SELECT * FROM documents f
                        WHERE doc_id >= 100 AND NOT EXISTS (
                          SELECT 1 FROM ref WHERE ref.d =
                            md5(regexp_replace(lower(f.text), '\s+', ' ', 'g'))))
             SELECT source, CAST(COUNT(*) AS BIGINT) AS n_kept,
                    CAST(SUM(n_chars) AS BIGINT) AS chars_kept
             FROM kept GROUP BY source ORDER BY source""")),

    // incremental NEAR-dup ingest against a persisted MinHash-LSH band
    // index: the new batch (doc_id % 5 = 0) probes history's band
    // buckets — an equi-join on the batch's own bucket keys, never a
    // corpus rescan — and verifies candidates by exact jaccard over the
    // index's stored hash sets. The oracle is the exact cross-pair
    // ground truth (rarest-shingle blocking, complete at this
    // threshold), so LSH recall itself is under test.
    QueryDef("q_neardup_index",
      (s, dir) => {
        val docs = docsP(s, dir)
        // no index-level persist: queryBatch's two index consumers hit
        // DIFFERENT union branches (kind='band' / kind='doc'), which
        // Catalyst prunes — the only shared subplan is the hashed corpus,
        // and build's internal CacheScope bounds that to one tokenization.
        // Caching the whole union would only add serialization cost.
        val idx = NearDupIndex.build(docs.where(col("doc_id") % 5 =!= 0),
          "doc_id", "text")
        NearDupIndex.queryBatch(idx, docs.where(col("doc_id") % 5 === 0),
          "doc_id", "text", threshold = 0.8)
          .orderBy("fresh_id", "index_id")
      },
      Some(s"""WITH t AS (
             SELECT doc_id, $duckShingles AS sh
             FROM (SELECT doc_id, $duckToks AS w FROM documents)),
           e AS (SELECT doc_id, unnest(sh) AS s FROM t),
           f AS (SELECT s, COUNT(*) AS fr FROM e GROUP BY s),
           k AS (SELECT doc_id, s AS key FROM (
                   SELECT e.doc_id, e.s,
                          ROW_NUMBER() OVER (PARTITION BY e.doc_id
                                             ORDER BY f.fr, e.s) AS rn
                   FROM e JOIN f ON e.s = f.s) WHERE rn <= 4),
           c AS (SELECT DISTINCT a.doc_id AS fi, b.doc_id AS ii
                 FROM k a JOIN k b ON a.key = b.key
                 WHERE a.doc_id % 5 = 0 AND b.doc_id % 5 <> 0),
           j AS (SELECT fi, ii,
                   round(len(list_intersect(ta.sh, tb.sh))::DOUBLE
                         / len(list_distinct(ta.sh || tb.sh)), 6) AS jac
                 FROM c JOIN t ta ON ta.doc_id = c.fi
                        JOIN t tb ON tb.doc_id = c.ii)
           SELECT fi AS fresh_id, ii AS index_id, jac AS jaccard FROM j
           WHERE jac >= 0.8 ORDER BY fresh_id, index_id""")),

    // the full ingest step on top of the index: near-dup'd batch docs
    // are dropped, survivors summarized per source — what an arriving
    // crawl shard actually does before folding into history
    QueryDef("q_neardup_ingest",
      (s, dir) => {
        val docs = docsP(s, dir)
        val batch = docs.where(col("doc_id") % 5 === 0)
        val idx = NearDupIndex.build(docs.where(col("doc_id") % 5 =!= 0),
          "doc_id", "text")
        val dupIds = NearDupIndex.queryBatch(idx, batch, "doc_id", "text",
          threshold = 0.8).select(col("fresh_id").as("doc_id")).distinct()
        batch.join(dupIds, Seq("doc_id"), "left_anti")
          .groupBy("source")
          .agg(count(lit(1)).as("n_kept"), sum("n_chars").as("chars_kept"))
          .orderBy("source")
      },
      Some(s"""WITH t AS (
             SELECT doc_id, $duckShingles AS sh
             FROM (SELECT doc_id, $duckToks AS w FROM documents)),
           e AS (SELECT doc_id, unnest(sh) AS s FROM t),
           f AS (SELECT s, COUNT(*) AS fr FROM e GROUP BY s),
           k AS (SELECT doc_id, s AS key FROM (
                   SELECT e.doc_id, e.s,
                          ROW_NUMBER() OVER (PARTITION BY e.doc_id
                                             ORDER BY f.fr, e.s) AS rn
                   FROM e JOIN f ON e.s = f.s) WHERE rn <= 4),
           c AS (SELECT DISTINCT a.doc_id AS fi, b.doc_id AS ii
                 FROM k a JOIN k b ON a.key = b.key
                 WHERE a.doc_id % 5 = 0 AND b.doc_id % 5 <> 0),
           dup AS (SELECT DISTINCT fi FROM c
                   JOIN t ta ON ta.doc_id = c.fi
                   JOIN t tb ON tb.doc_id = c.ii
                   WHERE round(len(list_intersect(ta.sh, tb.sh))::DOUBLE
                         / len(list_distinct(ta.sh || tb.sh)), 6) >= 0.8),
           kept AS (SELECT * FROM documents
                    WHERE doc_id % 5 = 0 AND doc_id NOT IN (SELECT fi FROM dup))
           SELECT source, CAST(COUNT(*) AS BIGINT) AS n_kept,
                  CAST(SUM(n_chars) AS BIGINT) AS chars_kept
           FROM kept GROUP BY source ORDER BY source""")),

    // the EPOCH-PARTITIONED fold — the at-scale form of the index
    // lifecycle: two sequential crawl shards fold into an epoch-
    // partitioned index (each fold writes ONLY its own epoch=N leaf;
    // history partitions are never rewritten), and shard B dedups
    // against history PLUS shard A's survivors — the sequential
    // dependency the oracle replays step by step. Gate = final indexed
    // id set per source against the exact-jaccard ground truth.
    QueryDef("q_neardup_fold",
      (s, dir) => {
        val docs = Graft.table(s, dir, "documents")
        val store = Staging.store(s, "q_neardup_fold", dir, "graftdocs")
        Staging.memo(store, "nd", s"v1:${docs.count()}") {
          NearDupIndex.writePartitioned(store, NearDupIndex.build(
            docs.where(col("doc_id") % 2 === 1), "doc_id", "text"), "nd")
          Seq(0L, 2L).zipWithIndex.foreach { case (m, i) =>
            val epoch = i + 1L
            val batch = docs.where(col("doc_id") % 4 === m).select("doc_id", "text")
            // persist-with-release: queryBatch reads the index three times
            val idx = store.read("nd")
              .where(col(NearDupIndex.EpochCol) =!= epoch.toString).persist()
            try {
              val dup = NearDupIndex.queryBatch(idx, batch, "doc_id", "text",
                  threshold = 0.8)
                .select(col("fresh_id").as("doc_id")).distinct()
              NearDupIndex.foldPartitionedBatch(store, "nd",
                batch.join(dup, Seq("doc_id"), "left_anti"), epoch,
                "doc_id", "text")
            } finally idx.unpersist(false): Unit
          }
        }
        store.read("nd").where(col("kind") === "doc").select("doc_id")
          .join(docs.select("doc_id", "source"), "doc_id")
          .groupBy("source").agg(count(lit(1)).as("n_indexed"))
          .orderBy("source")
      },
      Some(s"""WITH t AS (
             SELECT doc_id, $duckShingles AS sh
             FROM (SELECT doc_id, $duckToks AS w FROM documents)),
           e AS (SELECT doc_id, unnest(sh) AS s FROM t),
           f AS (SELECT s, COUNT(*) AS fr FROM e GROUP BY s),
           k AS (SELECT doc_id, s AS key FROM (
                   SELECT e.doc_id, e.s,
                          ROW_NUMBER() OVER (PARTITION BY e.doc_id
                                             ORDER BY f.fr, e.s) AS rn
                   FROM e JOIN f ON e.s = f.s) WHERE rn <= 4),
           p AS (SELECT DISTINCT a.doc_id AS x, b.doc_id AS y
                 FROM k a JOIN k b ON a.key = b.key
                 WHERE a.doc_id <> b.doc_id),
           d AS (SELECT x, y FROM p
                 JOIN t ta ON ta.doc_id = p.x JOIN t tb ON tb.doc_id = p.y
                 WHERE round(len(list_intersect(ta.sh, tb.sh))::DOUBLE
                       / len(list_distinct(ta.sh || tb.sh)), 6) >= 0.8),
           dup1 AS (SELECT DISTINCT x AS doc_id FROM d
                    WHERE x % 4 = 0 AND y % 2 = 1),
           s1 AS (SELECT doc_id FROM documents WHERE doc_id % 4 = 0
                  AND doc_id NOT IN (SELECT doc_id FROM dup1)),
           dup2 AS (SELECT DISTINCT x AS doc_id FROM d
                    WHERE x % 4 = 2 AND (y % 2 = 1
                      OR y IN (SELECT doc_id FROM s1))),
           kept AS (SELECT doc_id FROM documents WHERE doc_id % 2 = 1
                    UNION ALL SELECT doc_id FROM s1
                    UNION ALL SELECT doc_id FROM documents
                      WHERE doc_id % 4 = 2
                        AND doc_id NOT IN (SELECT doc_id FROM dup2))
           SELECT source, CAST(COUNT(*) AS BIGINT) AS n_indexed
           FROM kept JOIN documents USING (doc_id)
           GROUP BY source ORDER BY source""")),

    // the STREAMING member of the near-dup index family (the trio with
    // q_stream_index / q_stream_vec_index): history seeds the band
    // index, an arriving shard streams in, near-dups drop against
    // history (bucket equi-join, no corpus rescan), survivors fold
    // under the batchId exactly-once tag. Gate = the final indexed id
    // set per source; the oracle replays the exact-jaccard ground truth
    // (so LSH recall is graded, same contract as q_neardup_index).
    QueryDef("q_stream_neardup",
      (s, dir) => graft.streaming.EventStream.runNearDupStreamOnFixture(s, dir),
      Some(s"""WITH t AS (
             SELECT doc_id, $duckShingles AS sh
             FROM (SELECT doc_id, $duckToks AS w FROM documents)),
           e AS (SELECT doc_id, unnest(sh) AS s FROM t),
           f AS (SELECT s, COUNT(*) AS fr FROM e GROUP BY s),
           k AS (SELECT doc_id, s AS key FROM (
                   SELECT e.doc_id, e.s,
                          ROW_NUMBER() OVER (PARTITION BY e.doc_id
                                             ORDER BY f.fr, e.s) AS rn
                   FROM e JOIN f ON e.s = f.s) WHERE rn <= 4),
           c AS (SELECT DISTINCT a.doc_id AS fi, b.doc_id AS ii
                 FROM k a JOIN k b ON a.key = b.key
                 WHERE a.doc_id % 5 = 0 AND b.doc_id % 5 <> 0),
           dup AS (SELECT DISTINCT fi FROM c
                   JOIN t ta ON ta.doc_id = c.fi
                   JOIN t tb ON tb.doc_id = c.ii
                   WHERE round(len(list_intersect(ta.sh, tb.sh))::DOUBLE
                         / len(list_distinct(ta.sh || tb.sh)), 6) >= 0.8),
           kept AS (SELECT doc_id, source FROM documents
                    WHERE doc_id % 5 <> 0
                       OR doc_id NOT IN (SELECT fi FROM dup))
           SELECT source, CAST(COUNT(*) AS BIGINT) AS n_indexed
           FROM kept GROUP BY source ORDER BY source""")),

    // CCNet head/middle/tail: equal-mass perplexity tiers from ONE
    // 1-row percentile aggregate + map-only assignment (no global
    // sort/window); short unscored docs land in bucket 0
    QueryDef("q_ppl_buckets",
      (s, dir) => TfIdf.perplexityBuckets(docsP(s, dir),
        "doc_id", "text", buckets = 3)
        .groupBy("bucket")
        .agg(count(lit(1)).as("n"), round(avg("logppl"), 6).as("avg_ppl"))
        .orderBy("bucket"),
      Some(s"""WITH toks AS (SELECT doc_id, $duckToksLower AS t FROM documents),
               big AS (SELECT doc_id, unnest(t[1:len(t)-1]) AS w1,
                              unnest(t[2:len(t)]) AS w2
                       FROM toks WHERE len(t) >= 2),
               uni AS (SELECT w, COUNT(*) AS c FROM
                         (SELECT unnest(t) AS w FROM toks) GROUP BY 1),
               tot AS (SELECT CAST(SUM(c) AS DOUBLE) AS T FROM uni),
               bg AS (SELECT w1, w2, COUNT(*) AS c12 FROM big GROUP BY 1, 2),
               sc AS (SELECT big.doc_id,
                        round(AVG(-ln(
                          0.9 * CAST(bg.c12 AS DOUBLE) / CAST(u1.c AS DOUBLE) +
                          0.1 * CAST(u2.c AS DOUBLE) / tot.T)), 6) AS logppl
                      FROM big
                      JOIN bg ON big.w1 = bg.w1 AND big.w2 = bg.w2
                      JOIN uni u1 ON big.w1 = u1.w
                      JOIN uni u2 ON big.w2 = u2.w
                      CROSS JOIN tot
                      GROUP BY big.doc_id),
               ppl AS (SELECT d.doc_id, sc.logppl
                       FROM documents d LEFT JOIN sc ON d.doc_id = sc.doc_id),
               q AS (SELECT quantile_cont(logppl, [1.0/3, 2.0/3]) AS qs FROM ppl),
               b AS (SELECT doc_id, logppl,
                       CASE WHEN logppl IS NULL THEN 0 ELSE
                         1 + (CASE WHEN logppl > qs[1] THEN 1 ELSE 0 END)
                           + (CASE WHEN logppl > qs[2] THEN 1 ELSE 0 END) END AS bucket
                     FROM ppl CROSS JOIN q)
             SELECT CAST(bucket AS INT) AS bucket, CAST(COUNT(*) AS BIGINT) AS n,
                    round(AVG(logppl), 6) AS avg_ppl
             FROM b GROUP BY bucket ORDER BY bucket""")),

    // concat-then-chunk sequence packing: deterministic per-source token
    // stream cut into 512-token packs; docs may straddle pack bounds
    QueryDef("q_packing",
      (s, dir) => Sampling.packSequences(docsP(s, dir),
        "doc_id", "source", TextAnalysis.tokenCount(col("text")), 512L)
        .select(col("source"), col("doc_id"), col("start_offset"),
          col("pack_first"), col("pack_last"))
        .orderBy("source", "start_offset", "doc_id"),
      Some(s"""WITH t AS (SELECT source, doc_id,
                 CAST(len($duckToks) AS BIGINT) AS n_tok,
                 ('0x' || substr(md5('pack:' || doc_id), 1, 8))::BIGINT
                   % 1000000 AS hb
               FROM documents),
               c AS (SELECT source, doc_id, n_tok,
                       CAST(SUM(n_tok) OVER (PARTITION BY source
                         ORDER BY hb, doc_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                         AS BIGINT) AS cum
                     FROM t)
             SELECT source, doc_id, cum - n_tok AS start_offset,
                    CAST(floor((cum - n_tok) / 512) AS BIGINT) AS pack_first,
                    CAST(floor(greatest(cum - 1, cum - n_tok) / 512)
                         AS BIGINT) AS pack_last
             FROM c ORDER BY source, start_offset, doc_id""")),

    // deflate compressibility per doc — zlib-build-dependent values, so
    // no DuckDB oracle (driver records the rows-only check); ordering
    // properties are spec-pinned in CurationSpec
    QueryDef("q_compress_ratio",
      (s, dir) => docsT(s, dir)
        .select(col("doc_id"),
          TextAnalysis.compressionRatio(col("text")).as("ratio"))
        .orderBy("doc_id"),
      None),

    // int8 scalar quantization: per-vector params, code checksum, and
    // mean squared reconstruction error — map-only over the embeddings
    QueryDef("q_emb_quant",
      (s, dir) => {
        // materialize the one-pass quantizer struct ONCE, then getField
        // — inline references would re-run the pass per field
        embP(s, dir)
          .select(col("vec_id"),
            Similarity.quantizeInt8Full(col("embedding")).as("__q"))
          .select(col("vec_id"),
            round(col("__q.minv"), 6).as("minv"),
            round(col("__q.scale"), 6).as("scale"),
            aggregate(col("__q.codes"), lit(0L),
              (a, c) => a + c.cast("long")).as("code_sum"),
            round(col("__q.mse"), 6).as("mse"))
          .orderBy("vec_id")
      },
      Some("""WITH u AS (SELECT vec_id, unnest(embedding)::DOUBLE AS e
                 FROM embeddings),
               s AS (SELECT vec_id, min(e) AS mn,
                       (max(e) - min(e)) / 255.0 AS sc, COUNT(*) AS d
                     FROM u GROUP BY 1),
               c AS (SELECT u.vec_id,
                       CASE WHEN sc = 0 THEN 0
                            ELSE CAST(round((e - mn) / sc) AS INT) END AS code,
                       e, mn, sc, d
                     FROM u JOIN s USING (vec_id))
             SELECT vec_id, round(any_value(mn), 6) AS minv,
                    round(any_value(sc), 6) AS scale,
                    CAST(SUM(code) AS BIGINT) AS code_sum,
                    round(SUM((e - (mn + code * sc)) * (e - (mn + code * sc)))
                          / any_value(d), 6) AS mse
             FROM c GROUP BY vec_id ORDER BY vec_id""")),

    // SemDeDup: cluster around 8 md5-hash-sampled centroids (DuckDB
    // rebuilds the identical assignment), prune within clusters only
    QueryDef("q_semdedup",
      (s, dir) => Dedup.semanticDedup(embP(s, dir),
        "vec_id", "embedding", threshold = 0.4, nCells = 8)
        .select("vec_id").orderBy("vec_id"),
      Some("""WITH u AS (SELECT vec_id, unnest(embedding)::DOUBLE AS e,
                    generate_subscripts(embedding, 1) AS i FROM embeddings),
              n AS (SELECT vec_id, sqrt(sum(e*e)) AS nrm FROM u GROUP BY vec_id),
              seeds AS (SELECT vec_id AS cell FROM embeddings
                        ORDER BY ('0x' || substr(md5(vec_id::VARCHAR), 1, 15))::BIGINT,
                                 vec_id LIMIT 8),
              cells AS (SELECT cell, ROW_NUMBER() OVER (ORDER BY cell) - 1 AS ci
                        FROM seeds),
              cv AS (SELECT c.ci, u.i, u.e / n.nrm AS ce
                     FROM cells c JOIN u ON u.vec_id = c.cell
                                  JOIN n ON n.vec_id = c.cell),
              sim AS (SELECT u.vec_id, cv.ci, SUM(u.e * cv.ce) AS s
                      FROM u JOIN cv ON u.i = cv.i GROUP BY 1, 2),
              asg AS (SELECT vec_id, ci FROM (
                        SELECT vec_id, ci, ROW_NUMBER() OVER (
                          PARTITION BY vec_id ORDER BY s DESC, ci) AS r
                        FROM sim) WHERE r = 1),
              p AS (SELECT a.vec_id AS ia, b.vec_id AS ib
                    FROM asg a JOIN asg b ON a.ci = b.ci AND a.vec_id < b.vec_id),
              d AS (SELECT ia, ib, SUM(ua.e * ub.e) AS dt
                    FROM p JOIN u ua ON ua.vec_id = ia
                           JOIN u ub ON ub.vec_id = ib AND ua.i = ub.i
                    GROUP BY 1, 2),
              dup AS (SELECT DISTINCT ib FROM d
                      JOIN n na ON na.vec_id = ia JOIN n nb ON nb.vec_id = ib
                      WHERE round(dt / (na.nrm * nb.nrm), 6) >= 0.4)
            SELECT vec_id FROM embeddings
            WHERE vec_id NOT IN (SELECT ib FROM dup) ORDER BY vec_id""")),

    // IVF-PQ composite, NON-exhaustive (3 of 8 cells probed): the IVF
    // half bounds WHICH rows are ADC-scored, the PQ half bounds WHAT
    // ships — the billion-scale index layout, end to end. DuckDB
    // re-derives the cells (portable md5 seeds + max-cosine assignment,
    // the q_semdedup machinery), re-selects each query's probes, and
    // re-trains/re-encodes/re-scores the PQ index (the q_pq_topk
    // machinery) — the full composite, not just its exhaustive
    // degenerate form (that reduction to pqTopK stays spec-pinned in
    // AnnDedupSpec).
    QueryDef("q_ivfpq_topk",
      (s, dir) => {
        val e = Graft.table(s, dir, "embeddings")
        Similarity.ivfPqTopK(e.where(col("vec_id") < 5), e, k = 10,
          nCells = 8, nProbe = 3, portableSeed = true)
          .orderBy("query_id", "rnk")
      },
      Some("""WITH u AS (SELECT vec_id, unnest(embedding)::DOUBLE AS e,
                    generate_subscripts(embedding, 1) - 1 AS i FROM embeddings),
              n AS (SELECT vec_id, sqrt(sum(e*e)) AS nrm FROM u GROUP BY vec_id),
              iseeds AS (SELECT vec_id AS cell,
                           ROW_NUMBER() OVER (ORDER BY h, vec_id) - 1 AS rn
                         FROM (SELECT vec_id,
                                 ('0x' || substr(md5(vec_id::VARCHAR), 1, 15))::BIGINT AS h
                               FROM embeddings ORDER BY h, vec_id LIMIT 8)),
              cells AS (SELECT cell, ROW_NUMBER() OVER (ORDER BY cell) - 1 AS ci
                        FROM iseeds),
              cv AS (SELECT c.ci, u.i, u.e / n.nrm AS ce
                     FROM cells c JOIN u ON u.vec_id = c.cell
                                  JOIN n ON n.vec_id = c.cell),
              sim AS (SELECT u.vec_id, cv.ci, SUM(u.e * cv.ce) AS s
                      FROM u JOIN cv ON u.i = cv.i GROUP BY 1, 2),
              asg AS (SELECT vec_id, ci FROM (
                        SELECT vec_id, ci, ROW_NUMBER() OVER (
                          PARTITION BY vec_id ORDER BY s DESC, ci) AS r
                        FROM sim) WHERE r = 1),
              probes AS (SELECT vec_id AS query_id, ci FROM (
                           SELECT vec_id, ci, ROW_NUMBER() OVER (
                             PARTITION BY vec_id ORDER BY s DESC, ci) AS r
                           FROM sim WHERE vec_id < 5) WHERE r <= 3),
              pseeds AS (SELECT vec_id, ROW_NUMBER() OVER (ORDER BY h, vec_id) - 1 AS j
                         FROM (SELECT vec_id,
                                 ('0x' || substr(md5(vec_id::VARCHAR), 1, 15))::BIGINT AS h
                               FROM embeddings ORDER BY h, vec_id LIMIT 16)),
              cb AS (SELECT u.i // 8 AS s, pseeds.j, u.i % 8 AS t, u.e AS v
                     FROM u JOIN pseeds ON u.vec_id = pseeds.vec_id),
              dist AS (SELECT u.vec_id, cb.s, cb.j,
                              SUM((u.e - cb.v) * (u.e - cb.v)) AS d
                       FROM u JOIN cb ON u.i // 8 = cb.s AND u.i % 8 = cb.t
                       GROUP BY 1, 2, 3),
              code AS (SELECT vec_id, s, j FROM (
                         SELECT vec_id, s, j, ROW_NUMBER() OVER (
                           PARTITION BY vec_id, s ORDER BY d, j) AS r
                         FROM dist) WHERE r = 1),
              adc AS (SELECT p.query_id, a.vec_id AS match_id,
                             round(SUM(qd.d), 6) AS adc
                      FROM probes p JOIN asg a ON a.ci = p.ci
                           JOIN code c ON c.vec_id = a.vec_id
                           JOIN dist qd ON qd.vec_id = p.query_id
                                       AND qd.s = c.s AND qd.j = c.j
                      WHERE a.vec_id <> p.query_id
                      GROUP BY 1, 2)
            SELECT query_id, match_id, adc,
                   CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                     ORDER BY adc, match_id) AS BIGINT) AS rnk
            FROM adc QUALIFY rnk <= 10 ORDER BY query_id, rnk""")),

    // PQ-ADC approximate top-10: md5-hash-sampled codebooks (16 codes ×
    // 8 subspaces), so DuckDB re-trains, re-encodes, and re-scores the
    // identical index
    QueryDef("q_pq_topk",
      (s, dir) => {
        val e = embP(s, dir)
        Similarity.pqTopK(e.where(col("vec_id") < 5), e, k = 10)
          .orderBy("query_id", "rnk")
      },
      Some("""WITH u AS (SELECT vec_id, unnest(embedding)::DOUBLE AS e,
                    generate_subscripts(embedding, 1) - 1 AS i FROM embeddings),
              seeds AS (SELECT vec_id, ROW_NUMBER() OVER (ORDER BY h, vec_id) - 1 AS j
                        FROM (SELECT vec_id,
                                ('0x' || substr(md5(vec_id::VARCHAR), 1, 15))::BIGINT AS h
                              FROM embeddings ORDER BY h, vec_id LIMIT 16)),
              cb AS (SELECT u.i // 8 AS s, seeds.j, u.i % 8 AS t, u.e AS v
                     FROM u JOIN seeds ON u.vec_id = seeds.vec_id),
              dist AS (SELECT u.vec_id, cb.s, cb.j,
                              SUM((u.e - cb.v) * (u.e - cb.v)) AS d
                       FROM u JOIN cb ON u.i // 8 = cb.s AND u.i % 8 = cb.t
                       GROUP BY 1, 2, 3),
              code AS (SELECT vec_id, s, j FROM (
                         SELECT vec_id, s, j, ROW_NUMBER() OVER (
                           PARTITION BY vec_id, s ORDER BY d, j) AS r
                         FROM dist) WHERE r = 1),
              adc AS (SELECT qd.vec_id AS query_id, c.vec_id AS match_id,
                             round(SUM(qd.d), 6) AS adc
                      FROM code c JOIN dist qd ON qd.s = c.s AND qd.j = c.j
                      WHERE qd.vec_id < 5 AND qd.vec_id <> c.vec_id
                      GROUP BY 1, 2)
            SELECT query_id, match_id, adc,
                   CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                     ORDER BY adc, match_id) AS BIGINT) AS rnk
            FROM adc QUALIFY rnk <= 10 ORDER BY query_id, rnk""")),

    // Atlas-style $vectorSearch through the MQL pipeline compiler:
    // exact scoring + pre-filter + $meta score projection. The query
    // vector is the alternating unit pattern, so DuckDB rebuilds the
    // identical scores
    QueryDef("q_vector_search",
      (s, dir) => {
        val qvec = (0 until 64).map(i => if (i % 2 == 0) "1.0" else "0.0")
          .mkString(", ")
        Graft.aggregate(s, dir, "embeddings",
          s"""[
            {"$$vectorSearch": {"path": "embedding",
              "queryVector": [$qvec], "limit": 10, "exact": true,
              "tieBreaker": "vec_id",
              "filter": {"vec_id": {"$$gte": 5}}}},
            {"$$project": {"vec_id": 1,
              "score": {"$$meta": "vectorSearchScore"}}},
            {"$$sort": {"score": -1, "vec_id": 1}}]""")
      },
      Some("""WITH u AS (SELECT vec_id, unnest(embedding)::DOUBLE AS e,
                    generate_subscripts(embedding, 1) AS i FROM embeddings),
              s AS (SELECT vec_id,
                      round((sum(e * CASE WHEN i % 2 = 1 THEN 1.0 ELSE 0.0 END)
                             / (sqrt(sum(e * e)) * sqrt(32.0)) + 1) / 2, 6) AS score
                    FROM u WHERE vec_id >= 5 GROUP BY vec_id)
            SELECT vec_id, score FROM s
            ORDER BY score DESC, vec_id LIMIT 10""")),

    // $vectorSearch ANN path (exact: false): treeAggregate seed build,
    // driver-side probe selection, map-only nearest-cell candidate
    // filter — exercised end to end with EXHAUSTIVE probes
    // (numCandidates ≥ corpus), so candidates = everything and the
    // oracle is the exact-scoring twin; non-exhaustive recall is
    // spec-pinned (the IVF machinery is shared with ivfTopK)
    QueryDef("q_vector_search_ann",
      (s, dir) => {
        val qvec = (0 until 64).map(i => if (i % 2 == 0) "1.0" else "0.0")
          .mkString(", ")
        Graft.aggregate(s, dir, "embeddings",
          s"""[
            {"$$vectorSearch": {"path": "embedding",
              "queryVector": [$qvec], "limit": 10, "exact": false,
              "nCells": 4, "numCandidates": 1000000,
              "tieBreaker": "vec_id",
              "filter": {"vec_id": {"$$gte": 5}}}},
            {"$$project": {"vec_id": 1,
              "score": {"$$meta": "vectorSearchScore"}}},
            {"$$sort": {"score": -1, "vec_id": 1}}]""")
      },
      Some("""WITH u AS (SELECT vec_id, unnest(embedding)::DOUBLE AS e,
                    generate_subscripts(embedding, 1) AS i FROM embeddings),
              s AS (SELECT vec_id,
                      round((sum(e * CASE WHEN i % 2 = 1 THEN 1.0 ELSE 0.0 END)
                             / (sqrt(sum(e * e)) * sqrt(32.0)) + 1) / 2, 6) AS score
                    FROM u WHERE vec_id >= 5 GROUP BY vec_id)
            SELECT vec_id, score FROM s
            ORDER BY score DESC, vec_id LIMIT 10""")),

    // $vectorSearch against a PERSISTED index: buildIvf's centroid
    // frame written to a DocStore collection, then the query resolves
    // it by name — paying only the bounded centroid collect + map-only
    // probe, never a per-query corpus seeding pass (the Atlas index
    // lifecycle: build once, probe per query). numCandidates covers
    // the corpus → all cells probed → exact oracle.
    QueryDef("q_vector_index",
      (s, dir) => {
        val store = Staging.store(s, "q_vector_index", dir)
        val emb = Graft.table(s, dir, "embeddings")
        Staging.memo(store, "emb_ivf", s"v1:${emb.count()}") {
          val idx = graft.llmops.Similarity.buildIvf(emb, nCells = 4,
            lloydIters = 0, persistIndex = false)
          store.write(graft.llmops.Similarity.centroidFrame(idx), "emb_ivf")
        }
        val resolve: graft.mql.PipelineCompiler.TableResolver = {
          case "emb_ivf" => store.read("emb_ivf")
          case t => Graft.table(s, dir, t)
        }
        val qvec = (0 until 64).map(i => if (i % 2 == 0) "1.0" else "0.0")
          .mkString(", ")
        graft.mql.PipelineCompiler.run(emb,
          s"""[
            {"$$vectorSearch": {"index": "emb_ivf", "path": "embedding",
              "queryVector": [$qvec], "limit": 10,
              "numCandidates": 1000000, "tieBreaker": "vec_id"}},
            {"$$project": {"vec_id": 1,
              "score": {"$$meta": "vectorSearchScore"}}},
            {"$$sort": {"score": -1, "vec_id": 1}}]""", resolve)
      },
      Some("""WITH u AS (SELECT vec_id, unnest(embedding)::DOUBLE AS e,
                    generate_subscripts(embedding, 1) AS i FROM embeddings),
              s AS (SELECT vec_id,
                      round((sum(e * CASE WHEN i % 2 = 1 THEN 1.0 ELSE 0.0 END)
                             / (sqrt(sum(e * e)) * sqrt(32.0)) + 1) / 2, 6) AS score
                    FROM u GROUP BY vec_id)
            SELECT vec_id, score FROM s
            ORDER BY score DESC, vec_id LIMIT 10""")),

    // streaming ingest into the partitioned IVF layout: even half
    // seeds (portable-hash centroids), odd half streams in, each batch
    // rewriting only its touched cell partitions; the final layout
    // must equal assigning the whole corpus against the seed centroids
    QueryDef("q_stream_vec_index",
      (s, dir) => {
        val store = Staging.store(s, "q_stream_vec_index", dir, "graftdocs")
        val emb = Graft.table(s, dir, "embeddings")
        Staging.memo(store, "vecs", s"v1:${emb.count()}") {
          graft.streaming.EventStream
            .runVecIndexStreamOnFixture(s, dir, Some(store)): Unit
        }
        store.read("vecs")
          .select(col("vec_id"), col("cell").cast("long").as("cell"),
            round(col("vnorm"), 6).as("vnorm"))
          .orderBy("vec_id")
      },
      Some("""WITH u AS (SELECT vec_id, unnest(embedding)::DOUBLE AS e,
                    generate_subscripts(embedding, 1) AS i FROM embeddings),
              n AS (SELECT vec_id, sqrt(sum(e*e)) AS nrm FROM u GROUP BY vec_id),
              seeds AS (SELECT vec_id AS cell FROM embeddings
                        WHERE vec_id % 2 = 0
                        ORDER BY ('0x' || substr(md5(vec_id::VARCHAR), 1, 15))::BIGINT,
                                 vec_id LIMIT 4),
              cv AS (SELECT s.cell, u.i, u.e / n.nrm AS ce
                     FROM seeds s JOIN u ON u.vec_id = s.cell
                                  JOIN n ON n.vec_id = s.cell),
              sim AS (SELECT u.vec_id, cv.cell, SUM(u.e * cv.ce) AS sc
                      FROM u JOIN cv ON u.i = cv.i GROUP BY 1, 2),
              asg AS (SELECT vec_id, cell FROM (
                        SELECT vec_id, cell, ROW_NUMBER() OVER (
                          PARTITION BY vec_id ORDER BY sc DESC, cell) AS r
                        FROM sim) WHERE r = 1)
            SELECT a.vec_id, a.cell, round(n.nrm, 6) AS vnorm
            FROM asg a JOIN n ON n.vec_id = a.vec_id
            ORDER BY a.vec_id""")),

    // the partitioned IVF layout: corpus vectors cell-partitioned in a
    // graftdocs collection, centroids alongside; the probe reads ONLY
    // the probed cells' directories (partition pruning — the 100 TB
    // layout where nProbe is an I/O bound). All cells probed here →
    // exact, so the brute-force oracle applies; the pruning itself is
    // spec-proven by physically deleting unprobed partitions.
    QueryDef("q_ivf_part",
      (s, dir) => {
        val store = Staging.store(s, "q_ivf_part", dir, "graftdocs")
        val emb = Graft.table(s, dir, "embeddings")
        Staging.memo(store, "emb_part", s"v1:${emb.count()}") {
          val idx = graft.llmops.Similarity.buildIvf(emb, nCells = 4,
            lloydIters = 0, persistIndex = false)
          graft.llmops.Similarity.writeIvfPartitioned(store, idx, "emb_part")
        }
        val qvec = (0 until 64).map(i => if (i % 2 == 0) 1.0 else 0.0)
        graft.llmops.Similarity.ivfPartitionedTopK(store, "emb_part",
          qvec, k = 10, nProbe = 4)
      },
      Some("""WITH u AS (SELECT vec_id, unnest(embedding)::DOUBLE AS e,
                    generate_subscripts(embedding, 1) AS i FROM embeddings),
              s AS (SELECT vec_id,
                      round((sum(e * CASE WHEN i % 2 = 1 THEN 1.0 ELSE 0.0 END)
                             / (sqrt(sum(e * e)) * sqrt(32.0)) + 1) / 2, 6) AS score
                    FROM u GROUP BY vec_id)
            SELECT vec_id, score FROM s
            ORDER BY score DESC, vec_id LIMIT 10""")),

    // $rankFusion: weighted RRF over a $search ranking and a length
    // ranking of the same collection (DuckDB rebuilds both rankings
    // and the fusion)
    QueryDef("q_rank_fusion",
      (s, dir) => Graft.aggregate(s, dir, "documents",
        """[
          {"$rankFusion": {"idField": "doc_id",
            "input": {"pipelines": {
              "lexical": [{"$search": {"text": {"query": "spark query window",
                "path": "text"}, "limit": 20, "tieBreaker": "doc_id"}}],
              "longest": [{"$sort": {"n_chars": -1, "doc_id": 1}},
                          {"$limit": 20}]}},
            "combination": {"weights": {"lexical": 2}}}},
          {"$project": {"doc_id": 1, "score": {"$meta": "score"}}},
          {"$sort": {"score": -1, "doc_id": 1}}]"""),
      Some(s"""WITH toks AS (SELECT doc_id, unnest($duckToksLower) AS term
                 FROM documents),
              dl AS (SELECT doc_id, COUNT(*) AS dl FROM toks GROUP BY 1),
              st AS (SELECT COUNT(*) AS n, AVG(dl) AS avgdl FROM dl),
              tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks
                     WHERE term IN ('spark', 'query', 'window') GROUP BY 1, 2),
              dfq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
              sc AS (SELECT tf.doc_id,
                       round(SUM(ln(1 + (st.n - dfq.df + 0.5) / (dfq.df + 0.5)) *
                         tf.tf * 2.2 / (tf.tf + 1.2 *
                           (1 - 0.75 + 0.75 * dl.dl / st.avgdl))), 6) AS score
                     FROM tf JOIN dfq USING (term) JOIN dl USING (doc_id)
                          CROSS JOIN st
                     GROUP BY 1),
              lex AS (SELECT doc_id, ROW_NUMBER() OVER (
                        ORDER BY score DESC, doc_id) AS rnk
                      FROM sc QUALIFY rnk <= 20),
              pop AS (SELECT doc_id, ROW_NUMBER() OVER (
                        ORDER BY n_chars DESC, doc_id) AS rnk
                      FROM documents QUALIFY rnk <= 20),
              fused AS (SELECT doc_id, round(SUM(c), 6) AS score FROM (
                          SELECT doc_id, 2.0 / (60 + rnk) AS c FROM lex
                          UNION ALL
                          SELECT doc_id, 1.0 / (60 + rnk) FROM pop)
                        GROUP BY doc_id)
            SELECT doc_id, score FROM fused
            ORDER BY score DESC, doc_id""")),

    // $rankFusion scoreDetails: the per-pipeline contribution structs,
    // checked through MQL expressions over the details array ($size +
    // $reduce sum of per-pipeline values) — DuckDB re-derives the
    // contributing-pipeline count and the rounded-contribution sum
    QueryDef("q_rank_fusion_details",
      (s, dir) => Graft.aggregate(s, dir, "documents",
        """[
          {"$rankFusion": {"idField": "doc_id", "scoreDetails": true,
            "input": {"pipelines": {
              "lexical": [{"$search": {"text": {"query": "spark query window",
                "path": "text"}, "limit": 20, "tieBreaker": "doc_id"}}],
              "longest": [{"$sort": {"n_chars": -1, "doc_id": 1}},
                          {"$limit": 20}]}},
            "combination": {"weights": {"lexical": 2}}}},
          {"$project": {"doc_id": 1, "score": {"$meta": "score"},
            "n_pipelines": {"$size": "$scoreDetails.details"},
            "detail_sum": {"$round": [{"$reduce": {
              "input": "$scoreDetails.details", "initialValue": 0.0,
              "in": {"$add": ["$$value", "$$this.value"]}}}, 6]}}},
          {"$sort": {"score": -1, "doc_id": 1}}]"""),
      Some(s"""WITH toks AS (SELECT doc_id, unnest($duckToksLower) AS term
                 FROM documents),
              dl AS (SELECT doc_id, COUNT(*) AS dl FROM toks GROUP BY 1),
              st AS (SELECT COUNT(*) AS n, AVG(dl) AS avgdl FROM dl),
              tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks
                     WHERE term IN ('spark', 'query', 'window') GROUP BY 1, 2),
              dfq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
              sc AS (SELECT tf.doc_id,
                       round(SUM(ln(1 + (st.n - dfq.df + 0.5) / (dfq.df + 0.5)) *
                         tf.tf * 2.2 / (tf.tf + 1.2 *
                           (1 - 0.75 + 0.75 * dl.dl / st.avgdl))), 6) AS score
                     FROM tf JOIN dfq USING (term) JOIN dl USING (doc_id)
                          CROSS JOIN st
                     GROUP BY 1),
              lex AS (SELECT doc_id, ROW_NUMBER() OVER (
                        ORDER BY score DESC, doc_id) AS rnk
                      FROM sc QUALIFY rnk <= 20),
              pop AS (SELECT doc_id, ROW_NUMBER() OVER (
                        ORDER BY n_chars DESC, doc_id) AS rnk
                      FROM documents QUALIFY rnk <= 20),
              fused AS (SELECT doc_id, round(SUM(c), 6) AS score,
                               CAST(COUNT(*) AS BIGINT) AS n_pipelines,
                               round(SUM(round(c, 6)), 6) AS detail_sum
                        FROM (SELECT doc_id, 2.0 / (60 + rnk) AS c FROM lex
                              UNION ALL
                              SELECT doc_id, 1.0 / (60 + rnk) FROM pop)
                        GROUP BY doc_id)
            SELECT doc_id, score, n_pipelines, detail_sum FROM fused
            ORDER BY score DESC, doc_id""")),

    // $scoreFusion: weighted average of per-pipeline minMax-normalized
    // BM25 scores over two $search rankings of the same collection
    // (DuckDB rebuilds both scored top-20 sets, normalizes each to
    // [0,1], and fuses with the same weights)
    QueryDef("q_score_fusion",
      (s, dir) => Graft.aggregate(docsT(s, dir),
        """[
          {"$scoreFusion": {"idField": "doc_id",
            "input": {"pipelines": {
              "lex_a": [{"$search": {"text": {"query": "spark query window",
                "path": "text"}, "limit": 20, "tieBreaker": "doc_id"}}],
              "lex_b": [{"$search": {"text": {"query": "hash join merge",
                "path": "text"}, "limit": 20, "tieBreaker": "doc_id"}}]},
              "normalization": "minMaxScaler"},
            "combination": {"weights": {"lex_a": 2}}}},
          {"$project": {"doc_id": 1, "score": {"$meta": "score"}}},
          {"$sort": {"score": -1, "doc_id": 1}}]"""),
      Some(s"""WITH toks AS (SELECT doc_id, unnest($duckToksLower) AS term
                 FROM documents),
              dl AS (SELECT doc_id, COUNT(*) AS dl FROM toks GROUP BY 1),
              st AS (SELECT COUNT(*) AS n, AVG(dl) AS avgdl FROM dl),
              tfa AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks
                      WHERE term IN ('spark', 'query', 'window') GROUP BY 1, 2),
              dfa AS (SELECT term, COUNT(*) AS df FROM tfa GROUP BY 1),
              sca AS (SELECT tfa.doc_id,
                        round(SUM(ln(1 + (st.n - dfa.df + 0.5) / (dfa.df + 0.5)) *
                          tfa.tf * 2.2 / (tfa.tf + 1.2 *
                            (1 - 0.75 + 0.75 * dl.dl / st.avgdl))), 6) AS score
                      FROM tfa JOIN dfa USING (term) JOIN dl USING (doc_id)
                           CROSS JOIN st
                      GROUP BY 1),
              lexa AS (SELECT doc_id, score FROM sca
                       QUALIFY ROW_NUMBER() OVER (
                         ORDER BY score DESC, doc_id) <= 20),
              na AS (SELECT doc_id, CASE WHEN mx > mn
                          THEN (score - mn) / (mx - mn) ELSE 1.0 END AS nv
                     FROM lexa CROSS JOIN (SELECT MIN(score) AS mn,
                          MAX(score) AS mx FROM lexa)),
              tfb AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks
                      WHERE term IN ('hash', 'join', 'merge') GROUP BY 1, 2),
              dfb AS (SELECT term, COUNT(*) AS df FROM tfb GROUP BY 1),
              scb AS (SELECT tfb.doc_id,
                        round(SUM(ln(1 + (st.n - dfb.df + 0.5) / (dfb.df + 0.5)) *
                          tfb.tf * 2.2 / (tfb.tf + 1.2 *
                            (1 - 0.75 + 0.75 * dl.dl / st.avgdl))), 6) AS score
                      FROM tfb JOIN dfb USING (term) JOIN dl USING (doc_id)
                           CROSS JOIN st
                      GROUP BY 1),
              lexb AS (SELECT doc_id, score FROM scb
                       QUALIFY ROW_NUMBER() OVER (
                         ORDER BY score DESC, doc_id) <= 20),
              nb AS (SELECT doc_id, CASE WHEN mx > mn
                          THEN (score - mn) / (mx - mn) ELSE 1.0 END AS nv
                     FROM lexb CROSS JOIN (SELECT MIN(score) AS mn,
                          MAX(score) AS mx FROM lexb)),
              fused AS (SELECT doc_id, round(SUM(c) / 2, 6) AS score FROM (
                          SELECT doc_id, 2.0 * nv AS c FROM na
                          UNION ALL
                          SELECT doc_id, 1.0 * nv FROM nb)
                        GROUP BY doc_id)
            SELECT doc_id, score FROM fused
            ORDER BY score DESC, doc_id""")),

    // $scoreFusion combination.method "expression": the fused score is
    // the user combination over $$<pipeline> normalized-score vars
    // (absent pipeline → 0), not the weighted average
    QueryDef("q_score_fusion_expr",
      (s, dir) => Graft.aggregate(s, dir, "documents",
        """[
          {"$scoreFusion": {"idField": "doc_id",
            "input": {"pipelines": {
              "lex_a": [{"$search": {"text": {"query": "spark query window",
                "path": "text"}, "limit": 20, "tieBreaker": "doc_id"}}],
              "lex_b": [{"$search": {"text": {"query": "hash join merge",
                "path": "text"}, "limit": 20, "tieBreaker": "doc_id"}}]},
              "normalization": "none"},
            "combination": {"method": "expression",
              "expression": {"$add": [{"$multiply": [0.7, "$$lex_a"]},
                                      "$$lex_b"]}}}},
          {"$project": {"doc_id": 1, "score": {"$meta": "score"}}},
          {"$sort": {"score": -1, "doc_id": 1}}]"""),
      Some(s"""WITH toks AS (SELECT doc_id, unnest($duckToksLower) AS term
                 FROM documents),
              dl AS (SELECT doc_id, COUNT(*) AS dl FROM toks GROUP BY 1),
              st AS (SELECT COUNT(*) AS n, AVG(dl) AS avgdl FROM dl),
              tfa AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks
                      WHERE term IN ('spark', 'query', 'window') GROUP BY 1, 2),
              dfa AS (SELECT term, COUNT(*) AS df FROM tfa GROUP BY 1),
              sca AS (SELECT tfa.doc_id,
                        round(SUM(ln(1 + (st.n - dfa.df + 0.5) / (dfa.df + 0.5)) *
                          tfa.tf * 2.2 / (tfa.tf + 1.2 *
                            (1 - 0.75 + 0.75 * dl.dl / st.avgdl))), 6) AS score
                      FROM tfa JOIN dfa USING (term) JOIN dl USING (doc_id)
                           CROSS JOIN st
                      GROUP BY 1),
              lexa AS (SELECT doc_id, score FROM sca
                       QUALIFY ROW_NUMBER() OVER (
                         ORDER BY score DESC, doc_id) <= 20),
              tfb AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks
                      WHERE term IN ('hash', 'join', 'merge') GROUP BY 1, 2),
              dfb AS (SELECT term, COUNT(*) AS df FROM tfb GROUP BY 1),
              scb AS (SELECT tfb.doc_id,
                        round(SUM(ln(1 + (st.n - dfb.df + 0.5) / (dfb.df + 0.5)) *
                          tfb.tf * 2.2 / (tfb.tf + 1.2 *
                            (1 - 0.75 + 0.75 * dl.dl / st.avgdl))), 6) AS score
                      FROM tfb JOIN dfb USING (term) JOIN dl USING (doc_id)
                           CROSS JOIN st
                      GROUP BY 1),
              lexb AS (SELECT doc_id, score FROM scb
                       QUALIFY ROW_NUMBER() OVER (
                         ORDER BY score DESC, doc_id) <= 20)
            SELECT coalesce(a.doc_id, b.doc_id) AS doc_id,
                   round(0.7 * coalesce(a.score, 0) + coalesce(b.score, 0), 6)
                     AS score
            FROM lexa a FULL JOIN lexb b USING (doc_id)
            ORDER BY score DESC, doc_id""")),

    // $scoreFusion scoreDetails under normalization "none": the
    // per-pipeline raw/weight/value structs, checked via $size and the
    // weighted $reduce sum (which must reproduce the fused score)
    QueryDef("q_score_fusion_details",
      (s, dir) => Graft.aggregate(s, dir, "documents",
        """[
          {"$scoreFusion": {"idField": "doc_id", "scoreDetails": true,
            "input": {"pipelines": {
              "lex_a": [{"$search": {"text": {"query": "spark query window",
                "path": "text"}, "limit": 20, "tieBreaker": "doc_id"}}],
              "lex_b": [{"$search": {"text": {"query": "hash join merge",
                "path": "text"}, "limit": 20, "tieBreaker": "doc_id"}}]},
              "normalization": "none"},
            "combination": {"weights": {"lex_a": 2}}}},
          {"$project": {"doc_id": 1, "score": {"$meta": "score"},
            "n_pipelines": {"$size": "$scoreDetails.details"},
            "detail_sum": {"$round": [{"$divide": [{"$reduce": {
              "input": "$scoreDetails.details", "initialValue": 0.0,
              "in": {"$add": ["$$value", {"$multiply":
                ["$$this.weight", "$$this.value"]}]}}}, 2]}, 6]}}},
          {"$sort": {"score": -1, "doc_id": 1}}]"""),
      Some(s"""WITH toks AS (SELECT doc_id, unnest($duckToksLower) AS term
                 FROM documents),
              dl AS (SELECT doc_id, COUNT(*) AS dl FROM toks GROUP BY 1),
              st AS (SELECT COUNT(*) AS n, AVG(dl) AS avgdl FROM dl),
              tfa AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks
                      WHERE term IN ('spark', 'query', 'window') GROUP BY 1, 2),
              dfa AS (SELECT term, COUNT(*) AS df FROM tfa GROUP BY 1),
              sca AS (SELECT tfa.doc_id,
                        round(SUM(ln(1 + (st.n - dfa.df + 0.5) / (dfa.df + 0.5)) *
                          tfa.tf * 2.2 / (tfa.tf + 1.2 *
                            (1 - 0.75 + 0.75 * dl.dl / st.avgdl))), 6) AS score
                      FROM tfa JOIN dfa USING (term) JOIN dl USING (doc_id)
                           CROSS JOIN st
                      GROUP BY 1),
              lexa AS (SELECT doc_id, score FROM sca
                       QUALIFY ROW_NUMBER() OVER (
                         ORDER BY score DESC, doc_id) <= 20),
              tfb AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks
                      WHERE term IN ('hash', 'join', 'merge') GROUP BY 1, 2),
              dfb AS (SELECT term, COUNT(*) AS df FROM tfb GROUP BY 1),
              scb AS (SELECT tfb.doc_id,
                        round(SUM(ln(1 + (st.n - dfb.df + 0.5) / (dfb.df + 0.5)) *
                          tfb.tf * 2.2 / (tfb.tf + 1.2 *
                            (1 - 0.75 + 0.75 * dl.dl / st.avgdl))), 6) AS score
                      FROM tfb JOIN dfb USING (term) JOIN dl USING (doc_id)
                           CROSS JOIN st
                      GROUP BY 1),
              lexb AS (SELECT doc_id, score FROM scb
                       QUALIFY ROW_NUMBER() OVER (
                         ORDER BY score DESC, doc_id) <= 20),
              fused AS (SELECT doc_id, round(SUM(c) / 2, 6) AS score,
                               CAST(COUNT(*) AS BIGINT) AS n_pipelines,
                               round(SUM(c) / 2, 6) AS detail_sum
                        FROM (SELECT doc_id, 2.0 * score AS c FROM lexa
                              UNION ALL
                              SELECT doc_id, 1.0 * score FROM lexb)
                        GROUP BY doc_id)
            SELECT doc_id, score, n_pipelines, detail_sum FROM fused
            ORDER BY score DESC, doc_id""")),

    // $redact: level-wise prune/descend over a nested doc built by
    // $project (root level = doc_id%5, subdoc level = doc_id%7; both
    // redact at level > 3) — DuckDB twin is the equivalent CASE/WHERE
    QueryDef("q_redact",
      (s, dir) => Graft.aggregate(s, dir, "documents",
        """[
          {"$project": {"doc_id": 1, "lang": 1,
            "level": {"$mod": ["$doc_id", 5]},
            "meta": {"level": {"$mod": ["$doc_id", 7]}, "src": "$source"}}},
          {"$redact": {"$cond": [{"$lte": ["$level", 3]},
            "$$DESCEND", "$$PRUNE"]}},
          {"$project": {"doc_id": 1, "lang": 1, "src": "$meta.src"}},
          {"$sort": {"doc_id": 1}}]"""),
      Some("""SELECT doc_id, lang,
                     CASE WHEN doc_id % 7 <= 3 THEN source END AS src
              FROM documents WHERE doc_id % 5 <= 3 ORDER BY doc_id""")),

    // hybrid-retrieval fusion: RRF over the exact cosine ranking and
    // the PQ-ADC ranking for the same queries (DuckDB rebuilds both
    // systems and the fusion)
    QueryDef("q_rrf_fusion",
      (s, dir) => {
        val e = embT(s, dir)
        val q = e.where(col("vec_id") < 5)
        val exact = Similarity.bruteForceTopK(q, e, 10)
          .select("query_id", "match_id", "rnk")
        val pq = Similarity.pqTopK(q, e, 10)
          .select("query_id", "match_id", "rnk")
        Similarity.rrfFuse(Seq(exact, pq), topK = 10)
          .orderBy("query_id", "rnk")
      },
      Some("""WITH u AS (SELECT vec_id, unnest(embedding)::DOUBLE AS e,
                    generate_subscripts(embedding, 1) - 1 AS i FROM embeddings),
              n AS (SELECT vec_id, sqrt(sum(e*e)) AS nrm FROM u GROUP BY vec_id),
              d AS (SELECT q.vec_id AS query_id, c.vec_id AS match_id,
                           SUM(q.e * c.e) AS dt
                    FROM u q JOIN u c ON q.i = c.i AND c.vec_id <> q.vec_id
                    WHERE q.vec_id < 5 GROUP BY 1, 2),
              exk AS (SELECT query_id, match_id, rnk FROM (
                        SELECT query_id, match_id, ROW_NUMBER() OVER (
                          PARTITION BY query_id
                          ORDER BY round(dt / (nq.nrm * nc.nrm), 6) DESC,
                                   match_id) AS rnk
                        FROM d JOIN n nq ON nq.vec_id = query_id
                               JOIN n nc ON nc.vec_id = match_id)
                      WHERE rnk <= 10),
              seeds AS (SELECT vec_id, ROW_NUMBER() OVER (ORDER BY h, vec_id) - 1 AS j
                        FROM (SELECT vec_id,
                                ('0x' || substr(md5(vec_id::VARCHAR), 1, 15))::BIGINT AS h
                              FROM embeddings ORDER BY h, vec_id LIMIT 16)),
              cb AS (SELECT u.i // 8 AS s, seeds.j, u.i % 8 AS t, u.e AS v
                     FROM u JOIN seeds ON u.vec_id = seeds.vec_id),
              dist AS (SELECT u.vec_id, cb.s, cb.j,
                              SUM((u.e - cb.v) * (u.e - cb.v)) AS d
                       FROM u JOIN cb ON u.i // 8 = cb.s AND u.i % 8 = cb.t
                       GROUP BY 1, 2, 3),
              code AS (SELECT vec_id, s, j FROM (
                         SELECT vec_id, s, j, ROW_NUMBER() OVER (
                           PARTITION BY vec_id, s ORDER BY d, j) AS r
                         FROM dist) WHERE r = 1),
              adc AS (SELECT qd.vec_id AS query_id, c.vec_id AS match_id,
                             round(SUM(qd.d), 6) AS adc
                      FROM code c JOIN dist qd ON qd.s = c.s AND qd.j = c.j
                      WHERE qd.vec_id < 5 AND qd.vec_id <> c.vec_id
                      GROUP BY 1, 2),
              pqk AS (SELECT query_id, match_id, rnk FROM (
                        SELECT query_id, match_id, ROW_NUMBER() OVER (
                          PARTITION BY query_id ORDER BY adc, match_id) AS rnk
                        FROM adc) WHERE rnk <= 10),
              fused AS (SELECT query_id, match_id,
                               round(SUM(1.0 / (60 + rnk)), 6) AS rrf
                        FROM (SELECT * FROM exk UNION ALL SELECT * FROM pqk)
                        GROUP BY 1, 2)
            SELECT query_id, match_id, rrf,
                   CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                     ORDER BY rrf DESC, match_id) AS BIGINT) AS rnk
            FROM fused QUALIFY rnk <= 10 ORDER BY query_id, rnk""")),

    // Atlas-style $search (text operator) through the pipeline
    // compiler: same BM25 formula as q_bm25, so the oracle twin is the
    // same statistics pipeline with the matching-docs semantics
    QueryDef("q_search_text",
      (s, dir) => Graft.aggregate(s, dir, "documents",
        """[
          {"$search": {"text": {"query": "spark query window",
            "path": "text"}, "limit": 20, "tieBreaker": "doc_id"}},
          {"$project": {"doc_id": 1,
            "score": {"$meta": "searchScore"}}},
          {"$sort": {"score": -1, "doc_id": 1}}]"""),
      Some(s"""WITH toks AS (SELECT doc_id, unnest($duckToksLower) AS term
                 FROM documents),
              dl AS (SELECT doc_id, COUNT(*) AS dl FROM toks GROUP BY 1),
              st AS (SELECT COUNT(*) AS n, AVG(dl) AS avgdl FROM dl),
              tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks
                     WHERE term IN ('spark', 'query', 'window') GROUP BY 1, 2),
              df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
              sc AS (SELECT tf.doc_id,
                       round(SUM(ln(1 + (st.n - df.df + 0.5) / (df.df + 0.5)) *
                         tf.tf * 2.2 / (tf.tf + 1.2 *
                           (1 - 0.75 + 0.75 * dl.dl / st.avgdl))), 6) AS score
                     FROM tf JOIN df USING (term) JOIN dl USING (doc_id)
                          CROSS JOIN st
                     GROUP BY 1)
            SELECT doc_id, score FROM sc
            ORDER BY score DESC, doc_id LIMIT 20""")),

    // text.matchCriteria "all" (Mongo 7.0+): every analyzed query term
    // must occur — the match set is the INTERSECTION of term matches
    // (default "any" = union); scoring stays the same BM25 sum
    QueryDef("q_search_match_all",
      (s, dir) => Graft.aggregate(s, dir, "documents",
        """[
          {"$search": {"text": {"query": "spark query window merge",
            "path": "text", "matchCriteria": "all"},
            "limit": 20, "tieBreaker": "doc_id"}},
          {"$project": {"doc_id": 1,
            "score": {"$meta": "searchScore"}}},
          {"$sort": {"score": -1, "doc_id": 1}}]"""),
      Some(s"""WITH toks AS (SELECT doc_id, unnest($duckToksLower) AS term
                 FROM documents),
              dl AS (SELECT doc_id, COUNT(*) AS dl FROM toks GROUP BY 1),
              st AS (SELECT COUNT(*) AS n, AVG(dl) AS avgdl FROM dl),
              tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks
                     WHERE term IN ('spark', 'query', 'window', 'merge')
                     GROUP BY 1, 2),
              hasall AS (SELECT doc_id FROM tf GROUP BY 1
                         HAVING COUNT(DISTINCT term) = 4),
              df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
              sc AS (SELECT tf.doc_id,
                       round(SUM(ln(1 + (st.n - df.df + 0.5) / (df.df + 0.5)) *
                         tf.tf * 2.2 / (tf.tf + 1.2 *
                           (1 - 0.75 + 0.75 * dl.dl / st.avgdl))), 6) AS score
                     FROM tf JOIN df USING (term) JOIN dl USING (doc_id)
                          JOIN hasall USING (doc_id)
                     CROSS JOIN st
                     GROUP BY 1)
            SELECT doc_id, score FROM sc
            ORDER BY score DESC, doc_id LIMIT 20""")),

    // Atlas analyzer selection: lucene.standard (lowercase + Unicode
    // word-break) over TPC-H customer names. The analyzer is
    // load-bearing: "Customer#000000042" is ONE whitespace token but
    // TWO standard tokens, so the must clause ("Customer") matches
    // every row ONLY under lucene.standard, and the should clause lifts
    // the two named keys to the top. The oracle replays the tokenizer
    // with the same regex (letter/digit runs, apostrophe-joined) and
    // the same BM25.
    QueryDef("q_search_analyzer",
      (s, dir) => Graft.aggregate(s, dir, "customer",
        """[
          {"$search": {"analyzer": "lucene.standard",
            "compound": {
              "must": [{"text": {"query": "Customer", "path": "c_name"}}],
              "should": [{"text": {"query": "000000042 000000057",
                "path": "c_name"}}]},
            "limit": 10, "tieBreaker": "c_custkey"}},
          {"$project": {"c_custkey": 1,
            "score": {"$meta": "searchScore"}}},
          {"$sort": {"score": -1, "c_custkey": 1}}]"""),
      Some(s"""WITH toks AS (SELECT c_custkey,
                 unnest(regexp_extract_all(lower(c_name),
                   '[\\p{L}\\p{N}]+(?:''[\\p{L}\\p{N}]+)*')) AS term
                 FROM customer),
              dl AS (SELECT c_custkey, COUNT(*) AS dl FROM toks GROUP BY 1),
              st AS (SELECT COUNT(*) AS n, AVG(dl) AS avgdl FROM dl),
              tf AS (SELECT c_custkey, term, COUNT(*) AS tf FROM toks
                     WHERE term IN ('customer', '000000042', '000000057')
                     GROUP BY 1, 2),
              df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
              sc AS (SELECT tf.c_custkey,
                       round(SUM(ln(1 + (st.n - df.df + 0.5) / (df.df + 0.5)) *
                         tf.tf * 2.2 / (tf.tf + 1.2 *
                           (1 - 0.75 + 0.75 * dl.dl / st.avgdl))), 6) AS score
                     FROM tf JOIN df USING (term) JOIN dl USING (c_custkey)
                          CROSS JOIN st
                     GROUP BY 1)
            SELECT c_custkey, score FROM sc
            ORDER BY score DESC, c_custkey LIMIT 10""")),

    // CUSTOM analyzer (Atlas custom-analyzer definition, inline): the
    // standard tokenizer + an ordered token-filter chain — lowercase,
    // a stopword list (drops the corpus-common 'data'/'the'/'a'),
    // length 3..8. BM25 scores change because document lengths and the
    // stats universe are computed over the FILTERED token stream; the
    // oracle replays the same chain with list_transform/list_filter.
    QueryDef("q_search_analyzer_custom",
      (s, dir) => Graft.aggregate(s, dir, "documents",
        """[
          {"$search": {
            "analyzer": {"tokenizer": "standard", "tokenFilters": [
              {"type": "lowercase"},
              {"type": "stopword", "tokens": ["the", "a", "data"]},
              {"type": "length", "min": 3, "max": 8}]},
            "text": {"query": "spark window merge", "path": "text"},
            "limit": 20, "tieBreaker": "doc_id"}},
          {"$project": {"doc_id": 1,
            "score": {"$meta": "searchScore"}}},
          {"$sort": {"score": -1, "doc_id": 1}}]"""),
      Some(s"""WITH raw AS (SELECT doc_id,
                 list_filter(list_transform(
                     regexp_extract_all(text,
                       '[\\p{L}\\p{N}]+(?:''[\\p{L}\\p{N}]+)*'),
                     t -> lower(t)),
                   t -> len(t) >= 3 AND len(t) <= 8
                        AND t NOT IN ('the', 'a', 'data')) AS w
                 FROM documents),
              toks AS (SELECT doc_id, unnest(w) AS term FROM raw),
              dl AS (SELECT doc_id, COUNT(*) AS dl FROM toks GROUP BY 1),
              st AS (SELECT COUNT(*) AS n, AVG(dl) AS avgdl FROM dl),
              tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks
                     WHERE term IN ('spark', 'window', 'merge')
                     GROUP BY 1, 2),
              df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
              sc AS (SELECT tf.doc_id,
                       round(SUM(ln(1 + (st.n - df.df + 0.5) / (df.df + 0.5)) *
                         tf.tf * 2.2 / (tf.tf + 1.2 *
                           (1 - 0.75 + 0.75 * dl.dl / st.avgdl))), 6) AS score
                     FROM tf JOIN df USING (term) JOIN dl USING (doc_id)
                          CROSS JOIN st
                     GROUP BY 1)
            SELECT doc_id, score FROM sc
            ORDER BY score DESC, doc_id LIMIT 20""")),

    // charFilters: htmlStrip runs on the RAW text before tokenization —
    // the gate wraps the corpus in markup mid-pipeline, and without the
    // strip the tag fragments (p/class/x) would enter the token stream
    // and shift every BM25 length statistic; the oracle replays the
    // strip + tokenize + fold chain
    QueryDef("q_search_charfilter",
      (s, dir) => Graft.aggregate(s, dir, "documents",
        """[
          {"$addFields": {"html": {"$concat":
            ["<p class='x'>", "$text", "</p>"]}}},
          {"$search": {
            "analyzer": {"tokenizer": "standard",
              "charFilters": ["htmlStrip"],
              "tokenFilters": [{"type": "lowercase"}]},
            "text": {"query": "spark window", "path": "html"},
            "limit": 20, "tieBreaker": "doc_id"}},
          {"$project": {"doc_id": 1,
            "score": {"$meta": "searchScore"}}},
          {"$sort": {"score": -1, "doc_id": 1}}]"""),
      Some(s"""WITH raw AS (SELECT doc_id,
                 list_transform(regexp_extract_all(
                     regexp_replace('<p class=''x''>' || text || '</p>',
                       '<[^>]*>', ' ', 'g'),
                     '[\\p{L}\\p{N}]+(?:''[\\p{L}\\p{N}]+)*'),
                   t -> lower(t)) AS w
                 FROM documents),
              toks AS (SELECT doc_id, unnest(w) AS term FROM raw),
              dl AS (SELECT doc_id, COUNT(*) AS dl FROM toks GROUP BY 1),
              st AS (SELECT COUNT(*) AS n, AVG(dl) AS avgdl FROM dl),
              tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks
                     WHERE term IN ('spark', 'window') GROUP BY 1, 2),
              df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
              sc AS (SELECT tf.doc_id,
                       round(SUM(ln(1 + (st.n - df.df + 0.5) / (df.df + 0.5)) *
                         tf.tf * 2.2 / (tf.tf + 1.2 *
                           (1 - 0.75 + 0.75 * dl.dl / st.avgdl))), 6) AS score
                     FROM tf JOIN df USING (term) JOIN dl USING (doc_id)
                          CROSS JOIN st
                     GROUP BY 1)
            SELECT doc_id, score FROM sc
            ORDER BY score DESC, doc_id LIMIT 20""")),

    // edgeGram (the Atlas-autocomplete gram family): the analyzer
    // expands every token to its 3..5-char prefixes on BOTH sides —
    // the query "spark merge" analyzes to 6 gram terms, so a partial
    // prefix typed by a user matches the indexed grams; the oracle
    // replays the expansion with generate_series + substr and re-scores
    // BM25 over the gram stream (every length statistic shifts with
    // the expansion — a one-gram divergence breaks the hash)
    QueryDef("q_search_edgegram",
      (s, dir) => Graft.aggregate(docsT(s, dir),
        """[
          {"$search": {
            "analyzer": {"tokenizer": "standard", "tokenFilters": [
              {"type": "lowercase"},
              {"type": "edgeGram", "minGram": 3, "maxGram": 5}]},
            "text": {"query": "spark merge", "path": "text"},
            "limit": 20, "tieBreaker": "doc_id"}},
          {"$project": {"doc_id": 1,
            "score": {"$meta": "searchScore"}}},
          {"$sort": {"score": -1, "doc_id": 1}}]"""),
      Some(s"""WITH raw AS (SELECT doc_id,
                 flatten(list_transform(
                     list_filter(list_transform(
                         regexp_extract_all(text,
                           '[\\p{L}\\p{N}]+(?:''[\\p{L}\\p{N}]+)*'),
                         t -> lower(t)),
                       t -> len(t) >= 3),
                     t -> list_transform(
                       generate_series(3, least(5, len(t))),
                       g -> substr(t, 1, CAST(g AS INT))))) AS w
                 FROM documents),
              toks AS (SELECT doc_id, unnest(w) AS term FROM raw),
              dl AS (SELECT doc_id, COUNT(*) AS dl FROM toks GROUP BY 1),
              st AS (SELECT COUNT(*) AS n, AVG(dl) AS avgdl FROM dl),
              tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks
                     WHERE term IN ('spa', 'spar', 'spark',
                                    'mer', 'merg', 'merge')
                     GROUP BY 1, 2),
              df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
              sc AS (SELECT tf.doc_id,
                       round(SUM(ln(1 + (st.n - df.df + 0.5) / (df.df + 0.5)) *
                         tf.tf * 2.2 / (tf.tf + 1.2 *
                           (1 - 0.75 + 0.75 * dl.dl / st.avgdl))), 6) AS score
                     FROM tf JOIN df USING (term) JOIN dl USING (doc_id)
                          CROSS JOIN st
                     GROUP BY 1)
            SELECT doc_id, score FROM sc
            ORDER BY score DESC, doc_id LIMIT 20""")),

    // shingle: the token stream gains its 2-token windows (unigrams
    // kept — Lucene outputUnigrams default), so the adjacent pair
    // "spark window" scores as ONE term with its own df/tf alongside
    // the unigrams; the oracle rebuilds the windows with list slicing
    QueryDef("q_search_shingle",
      (s, dir) => Graft.aggregate(docsT(s, dir),
        """[
          {"$search": {
            "analyzer": {"tokenizer": "standard", "tokenFilters": [
              {"type": "lowercase"},
              {"type": "shingle",
               "minShingleSize": 2, "maxShingleSize": 2}]},
            "text": {"query": "spark window merge", "path": "text"},
            "limit": 20, "tieBreaker": "doc_id"}},
          {"$project": {"doc_id": 1,
            "score": {"$meta": "searchScore"}}},
          {"$sort": {"score": -1, "doc_id": 1}}]"""),
      Some(s"""WITH base AS (SELECT doc_id,
                 list_transform(regexp_extract_all(text,
                     '[\\p{L}\\p{N}]+(?:''[\\p{L}\\p{N}]+)*'),
                   t -> lower(t)) AS w0
                 FROM documents),
              raw AS (SELECT doc_id,
                 w0 || list_transform(
                   generate_series(1, len(w0) - 1),
                   i -> w0[CAST(i AS INT)] || ' ' ||
                        w0[CAST(i AS INT) + 1]) AS w
                 FROM base),
              toks AS (SELECT doc_id, unnest(w) AS term FROM raw),
              dl AS (SELECT doc_id, COUNT(*) AS dl FROM toks GROUP BY 1),
              st AS (SELECT COUNT(*) AS n, AVG(dl) AS avgdl FROM dl),
              tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks
                     WHERE term IN ('spark', 'window', 'merge',
                                    'spark window', 'window merge')
                     GROUP BY 1, 2),
              df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
              sc AS (SELECT tf.doc_id,
                       round(SUM(ln(1 + (st.n - df.df + 0.5) / (df.df + 0.5)) *
                         tf.tf * 2.2 / (tf.tf + 1.2 *
                           (1 - 0.75 + 0.75 * dl.dl / st.avgdl))), 6) AS score
                     FROM tf JOIN df USING (term) JOIN dl USING (doc_id)
                          CROSS JOIN st
                     GROUP BY 1)
            SELECT doc_id, score FROM sc
            ORDER BY score DESC, doc_id LIMIT 20""")),

    // the INDEX-declared form of the same analyzer: TextIndex built with
    // analyzers = {c_name -> lucene.standard} records the analyzer as a
    // kind='analyzer' row; naming the index applies it to BOTH document
    // tokenization and query analysis with no stage-level option — and
    // the looked-up statistics reproduce the corpus-pass scores exactly
    // (same oracle as q_search_analyzer). A mismatched stage analyzer
    // against this index refuses (spec-pinned in AnalyzerSpec).
    QueryDef("q_search_analyzer_index",
      (s, dir) => {
        val store = new graft.sinks.DocStore(s,
          Staging.scratch("graft_aidx").toString)
        val cust = Graft.table(s, dir, "customer")
        store.write(graft.llmops.TextIndex.build(cust, Seq("c_name"),
          Map("c_name" -> "lucene.standard")), "cust_name")
        val resolve: graft.mql.PipelineCompiler.TableResolver = {
          case "cust_name" => store.read("cust_name")
          case t => Graft.table(s, dir, t)
        }
        graft.mql.PipelineCompiler.run(cust,
          """[
            {"$search": {"index": "cust_name",
              "compound": {
                "must": [{"text": {"query": "Customer", "path": "c_name"}}],
                "should": [{"text": {"query": "000000042 000000057",
                  "path": "c_name"}}]},
              "limit": 10, "tieBreaker": "c_custkey"}},
            {"$project": {"c_custkey": 1,
              "score": {"$meta": "searchScore"}}},
            {"$sort": {"score": -1, "c_custkey": 1}}]""", resolve)
      },
      Some(s"""WITH toks AS (SELECT c_custkey,
                 unnest(regexp_extract_all(lower(c_name),
                   '[\\p{L}\\p{N}]+(?:''[\\p{L}\\p{N}]+)*')) AS term
                 FROM customer),
              dl AS (SELECT c_custkey, COUNT(*) AS dl FROM toks GROUP BY 1),
              st AS (SELECT COUNT(*) AS n, AVG(dl) AS avgdl FROM dl),
              tf AS (SELECT c_custkey, term, COUNT(*) AS tf FROM toks
                     WHERE term IN ('customer', '000000042', '000000057')
                     GROUP BY 1, 2),
              df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
              sc AS (SELECT tf.c_custkey,
                       round(SUM(ln(1 + (st.n - df.df + 0.5) / (df.df + 0.5)) *
                         tf.tf * 2.2 / (tf.tf + 1.2 *
                           (1 - 0.75 + 0.75 * dl.dl / st.avgdl))), 6) AS score
                     FROM tf JOIN df USING (term) JOIN dl USING (c_custkey)
                          CROSS JOIN st
                     GROUP BY 1)
            SELECT c_custkey, score FROM sc
            ORDER BY score DESC, c_custkey LIMIT 10""")),

    // lucene.english (Lucene's EnglishAnalyzer chain: standard tokenizer
    // → possessive strip → lowercase → 33-word stop list → Porter
    // stemming): "merging"/"merged"/"merges" and "windows"/"window" all
    // index under one stem, so the stemmed query recalls morphological
    // variants a literal analyzer misses. Porter stemming has no DuckDB
    // replay (no FTS extension offline), so this gate is rows-only; the
    // algorithm itself is pinned against the Porter paper's example
    // tables in PorterSpec, and the doc/query agreement in AnalyzerSpec.
    QueryDef("q_search_english",
      (s, dir) => Graft.aggregate(docsT(s, dir),
        """[
          {"$search": {"analyzer": "lucene.english",
            "text": {"query": "merging windows", "path": "text"},
            "limit": 20, "tieBreaker": "doc_id"}},
          {"$project": {"doc_id": 1,
            "score": {"$meta": "searchScore"}}},
          {"$sort": {"score": -1, "doc_id": 1}}]"""),
      None),

    // $search against a PERSISTED text index (TextIndex.build stored in
    // a DocStore, resolved by the `index` option): BM25 statistics come
    // from a bounded lookup of stored (term, df) rows + the path
    // summary — the stats become plan literals and the per-query corpus
    // stats pass disappears. Same query and oracle as q_search_text:
    // stored statistics are bit-identical to the computed ones.
    QueryDef("q_search_index",
      (s, dir) => {
        val store = Staging.store(s, "q_search_index", dir)
        val docs = Graft.table(s, dir, "documents")
        Staging.memo(store, "docs_text", s"v1:${docs.count()}") {
          store.write(graft.llmops.TextIndex.build(docs, Seq("text")),
            "docs_text")
        }
        val resolve: graft.mql.PipelineCompiler.TableResolver = {
          case "docs_text" => store.read("docs_text")
          case t => Graft.table(s, dir, t)
        }
        graft.mql.PipelineCompiler.run(docs,
          """[
            {"$search": {"index": "docs_text",
              "text": {"query": "spark query window",
              "path": "text"}, "limit": 20, "tieBreaker": "doc_id"}},
            {"$project": {"doc_id": 1,
              "score": {"$meta": "searchScore"}}},
            {"$sort": {"score": -1, "doc_id": 1}}]""", resolve)
      },
      Some(s"""WITH toks AS (SELECT doc_id, unnest($duckToksLower) AS term
                 FROM documents),
              dl AS (SELECT doc_id, COUNT(*) AS dl FROM toks GROUP BY 1),
              st AS (SELECT COUNT(*) AS n, AVG(dl) AS avgdl FROM dl),
              tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks
                     WHERE term IN ('spark', 'query', 'window') GROUP BY 1, 2),
              df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
              sc AS (SELECT tf.doc_id,
                       round(SUM(ln(1 + (st.n - df.df + 0.5) / (df.df + 0.5)) *
                         tf.tf * 2.2 / (tf.tf + 1.2 *
                           (1 - 0.75 + 0.75 * dl.dl / st.avgdl))), 6) AS score
                     FROM tf JOIN df USING (term) JOIN dl USING (doc_id)
                          CROSS JOIN st
                     GROUP BY 1)
            SELECT doc_id, score FROM sc
            ORDER BY score DESC, doc_id LIMIT 20""")),

    // $search through a FULL inverted index (postings): winners decided
    // from the index alone — per-doc tfs from posting rows, dl from doc
    // rows, the same BM25 with stored stats, k-th-score threshold — and
    // ONE left-semi join fetches only the winning documents; the corpus
    // is never scanned for scoring. Same query and oracle as
    // q_search_text: the plan changes, the answer cannot.
    QueryDef("q_search_postings",
      (s, dir) => {
        val store = Staging.store(s, "q_search_postings", dir)
        val docs = Graft.table(s, dir, "documents")
        Staging.memo(store, "docs_inv", s"v1:${docs.count()}") {
          store.write(graft.llmops.TextIndex.build(docs, Seq("text"),
            Some("doc_id")), "docs_inv")
        }
        val resolve: graft.mql.PipelineCompiler.TableResolver = {
          case "docs_inv" => store.read("docs_inv")
          case t => Graft.table(s, dir, t)
        }
        graft.mql.PipelineCompiler.run(docs,
          """[
            {"$search": {"index": "docs_inv",
              "text": {"query": "spark query window",
              "path": "text"}, "limit": 20, "tieBreaker": "doc_id"}},
            {"$project": {"doc_id": 1,
              "score": {"$meta": "searchScore"}}},
            {"$sort": {"score": -1, "doc_id": 1}}]""", resolve)
      },
      Some(s"""WITH toks AS (SELECT doc_id, unnest($duckToksLower) AS term
                 FROM documents),
              dl AS (SELECT doc_id, COUNT(*) AS dl FROM toks GROUP BY 1),
              st AS (SELECT COUNT(*) AS n, AVG(dl) AS avgdl FROM dl),
              tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks
                     WHERE term IN ('spark', 'query', 'window') GROUP BY 1, 2),
              df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
              sc AS (SELECT tf.doc_id,
                       round(SUM(ln(1 + (st.n - df.df + 0.5) / (df.df + 0.5)) *
                         tf.tf * 2.2 / (tf.tf + 1.2 *
                           (1 - 0.75 + 0.75 * dl.dl / st.avgdl))), 6) AS score
                     FROM tf JOIN df USING (term) JOIN dl USING (doc_id)
                          CROSS JOIN st
                     GROUP BY 1)
            SELECT doc_id, score FROM sc
            ORDER BY score DESC, doc_id LIMIT 20""")),

    // search-as-you-type (Atlas autocomplete), corpus pass: the query's
    // leading tokens as an exact consecutive run with the last token a
    // PREFIX of the next doc token. Oracle: the normalized lowercased
    // token stream as one spaced string, matched with a plain LIKE.
    QueryDef("q_autocomplete",
      (s, dir) => graft.mql.PipelineCompiler.run(
        docsT(s, dir),
        """[
          {"$search": {"autocomplete": {"query": "the qu", "path": "text"}}},
          {"$project": {"doc_id": 1, "score": {"$meta": "searchScore"}}},
          {"$sort": {"doc_id": 1}}]""",
        Graft.tables(s, dir)),
      Some("""SELECT doc_id, CAST(1.0 AS DOUBLE) AS score FROM documents
              WHERE ' ' || regexp_replace(trim(lower(text)), '\s+', ' ', 'g')
                    || ' ' LIKE '% the qu%'
              ORDER BY doc_id""")),

    // the SAME autocomplete served from a PERSISTED edgeGram index (the
    // Atlas autocomplete field type): the query terms truncate to
    // maxGram, their gram postings INTERSECT into the candidate ids,
    // one left-semi join fetches only those documents (plan-asserted in
    // TextIndexSpec), and the consecutive-run match re-runs over the
    // fetched rows — identical oracle to the corpus pass, corpus never
    // scanned for non-candidates.
    QueryDef("q_autocomplete_index",
      (s, dir) => {
        val store = Staging.store(s, "q_autocomplete_index", dir)
        val docs = Graft.table(s, dir, "documents")
        val auto = """{"tokenizer": "whitespace", "tokenFilters": [
          {"type": "lowercase"},
          {"type": "edgeGram", "minGram": 2, "maxGram": 4}]}"""
        Staging.memo(store, "docs_ac", s"v1:${docs.count()}") {
          store.write(graft.llmops.TextIndex.build(docs, Seq("text"),
            Some("doc_id"), Map("text" -> auto)), "docs_ac")
        }
        val resolve: graft.mql.PipelineCompiler.TableResolver = {
          case "docs_ac" => store.read("docs_ac")
          case t => Graft.table(s, dir, t)
        }
        graft.mql.PipelineCompiler.run(docs,
          """[
            {"$search": {"index": "docs_ac",
              "autocomplete": {"query": "the qu", "path": "text"}}},
            {"$project": {"doc_id": 1, "score": {"$meta": "searchScore"}}},
            {"$sort": {"doc_id": 1}}]""", resolve)
      },
      Some("""SELECT doc_id, CAST(1.0 AS DOUBLE) AS score FROM documents
              WHERE ' ' || regexp_replace(trim(lower(text)), '\s+', ' ', 'g')
                    || ' ' LIKE '% the qu%'
              ORDER BY doc_id""")),

    // returnStoredSource over a stored-source index: match, score, AND
    // output all come from index rows (the kind='stored' JSON payloads
    // parsed through the recorded schema) — the corpus contributes
    // zero I/O to the query path. Output includes a stored non-search
    // field (source) to prove the stored fetch.
    QueryDef("q_search_stored",
      (s, dir) => {
        val store = Staging.store(s, "q_search_stored", dir)
        val docs = Graft.table(s, dir, "documents")
        Staging.memo(store, "docs_st", s"v1:${docs.count()}") {
          store.write(graft.llmops.TextIndex.build(docs, Seq("text"),
            Some("doc_id"), Seq("doc_id", "text", "source")), "docs_st")
        }
        val resolve: graft.mql.PipelineCompiler.TableResolver = {
          case "docs_st" => store.read("docs_st")
          case t => Graft.table(s, dir, t)
        }
        graft.mql.PipelineCompiler.run(docs,
          """[
            {"$search": {"index": "docs_st", "returnStoredSource": true,
              "text": {"query": "spark query window",
              "path": "text"}, "limit": 20, "tieBreaker": "doc_id"}},
            {"$project": {"doc_id": 1, "source": 1,
              "score": {"$meta": "searchScore"}}},
            {"$sort": {"score": -1, "doc_id": 1}}]""", resolve)
      },
      Some(s"""WITH toks AS (SELECT doc_id, unnest($duckToksLower) AS term
                 FROM documents),
              dl AS (SELECT doc_id, COUNT(*) AS dl FROM toks GROUP BY 1),
              st AS (SELECT COUNT(*) AS n, AVG(dl) AS avgdl FROM dl),
              tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks
                     WHERE term IN ('spark', 'query', 'window') GROUP BY 1, 2),
              df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
              sc AS (SELECT tf.doc_id,
                       round(SUM(ln(1 + (st.n - df.df + 0.5) / (df.df + 0.5)) *
                         tf.tf * 2.2 / (tf.tf + 1.2 *
                           (1 - 0.75 + 0.75 * dl.dl / st.avgdl))), 6) AS score
                     FROM tf JOIN df USING (term) JOIN dl USING (doc_id)
                          CROSS JOIN st
                     GROUP BY 1)
            SELECT sc.doc_id, d.source, sc.score FROM sc
            JOIN documents d USING (doc_id)
            ORDER BY score DESC, doc_id LIMIT 20""")),

    // incremental text-index maintenance: build on half the corpus,
    // fold the other half in WITHOUT rescanning the first (term dfs
    // add, summaries weighted-merge) — gate checks the merged index
    // equals the full-corpus index the oracle computes directly
    QueryDef("q_index_merge",
      (s, dir) => {
        val d = docsP(s, dir)
        val idx = graft.llmops.TextIndex.build(
          d.where(col("doc_id") % 2 === 0), Seq("text"))
        graft.llmops.TextIndex.update(idx,
          d.where(col("doc_id") % 2 =!= 0), Seq("text"))
          .select(col("kind"), col("path"), col("term"), col("df"),
            col("n_docs"), round(col("avgdl"), 6).as("avgdl"))
          .orderBy("kind", "term")
      },
      Some(s"""WITH t AS (SELECT doc_id, $duckToksLower AS w FROM documents),
               n AS (SELECT doc_id, len(w) AS dl FROM t WHERE len(w) > 0),
               su AS (SELECT 'summary' AS kind, 'text' AS path,
                        NULL AS term, CAST(0 AS BIGINT) AS df,
                        CAST(COUNT(*) AS BIGINT) AS n_docs,
                        ROUND(AVG(dl::DOUBLE), 6) AS avgdl FROM n),
               tm AS (SELECT 'term' AS kind, 'text' AS path, term,
                        CAST(COUNT(*) AS BIGINT) AS df,
                        CAST(0 AS BIGINT) AS n_docs, NULL::DOUBLE AS avgdl
                      FROM (SELECT doc_id, unnest(list_distinct(w)) AS term
                            FROM t) GROUP BY term)
             SELECT * FROM su UNION ALL SELECT * FROM tm
             ORDER BY kind, term""")),

    // STREAMING index maintenance: the odd half of the corpus streams
    // into the standing index built from the even half (foreachBatch →
    // TextIndex.update, exactly-once batchId tag); the final index
    // must equal the full-corpus build — same oracle as q_index_merge
    QueryDef("q_stream_index",
      (s, dir) => graft.streaming.EventStream.runIndexStreamOnFixture(s, dir)
        .select(col("kind"), col("path"), col("term"), col("df"),
          col("n_docs"), round(col("avgdl"), 6).as("avgdl"))
        .orderBy("kind", "term"),
      Some(s"""WITH t AS (SELECT doc_id, $duckToksLower AS w FROM documents),
               n AS (SELECT doc_id, len(w) AS dl FROM t WHERE len(w) > 0),
               su AS (SELECT 'summary' AS kind, 'text' AS path,
                        NULL AS term, CAST(0 AS BIGINT) AS df,
                        CAST(COUNT(*) AS BIGINT) AS n_docs,
                        ROUND(AVG(dl::DOUBLE), 6) AS avgdl FROM n),
               tm AS (SELECT 'term' AS kind, 'text' AS path, term,
                        CAST(COUNT(*) AS BIGINT) AS df,
                        CAST(0 AS BIGINT) AS n_docs, NULL::DOUBLE AS avgdl
                      FROM (SELECT doc_id, unnest(list_distinct(w)) AS term
                            FROM t) GROUP BY term)
             SELECT * FROM su UNION ALL SELECT * FROM tm
             ORDER BY kind, term""")),

    // the DELETE path of index maintenance: drop the odd docs from a
    // postings-bearing index using only index rows (their term sets
    // come from their own postings, lengths from their doc rows — the
    // corpus contributes zero I/O); the result must equal the index
    // BUILT from the surviving docs, row for row
    QueryDef("q_index_remove",
      (s, dir) => {
        val d = Graft.table(s, dir, "documents")
        val idx = graft.llmops.TextIndex.build(d, Seq("text"), Some("doc_id"))
        graft.llmops.TextIndex.remove(idx,
          d.where(col("doc_id") % 2 =!= 0).select("doc_id"), "doc_id")
          .select(col("kind"), col("path"), col("term"), col("df"),
            col("n_docs"), round(col("avgdl"), 6).as("avgdl"),
            col("doc_id"), col("tf"), col("dl"))
          .orderBy("kind", "term", "doc_id")
      },
      Some(s"""WITH t AS (SELECT doc_id, $duckToksLower AS w FROM documents
                          WHERE doc_id % 2 = 0),
               n AS (SELECT doc_id, len(w) AS dl FROM t WHERE len(w) > 0),
               su AS (SELECT 'summary' AS kind, 'text' AS path,
                        NULL AS term, CAST(0 AS BIGINT) AS df,
                        CAST(COUNT(*) AS BIGINT) AS n_docs,
                        ROUND(AVG(dl::DOUBLE), 6) AS avgdl,
                        NULL::BIGINT AS doc_id, NULL::BIGINT AS tf,
                        NULL::BIGINT AS dl FROM n),
               tm AS (SELECT 'term', 'text', term, CAST(COUNT(*) AS BIGINT),
                        CAST(0 AS BIGINT), NULL::DOUBLE, NULL::BIGINT,
                        NULL::BIGINT, NULL::BIGINT
                      FROM (SELECT doc_id, unnest(list_distinct(w)) AS term
                            FROM t) GROUP BY term),
               po AS (SELECT 'posting', 'text', term, CAST(0 AS BIGINT),
                        CAST(0 AS BIGINT), NULL::DOUBLE, doc_id,
                        CAST(COUNT(*) AS BIGINT), NULL::BIGINT
                      FROM (SELECT doc_id, unnest(w) AS term FROM t)
                      GROUP BY doc_id, term),
               dc AS (SELECT 'doc', 'text', NULL, CAST(0 AS BIGINT),
                        CAST(0 AS BIGINT), NULL::DOUBLE, doc_id,
                        NULL::BIGINT, CAST(dl AS BIGINT) FROM n),
               me AS (SELECT 'meta', 'text', 'doc_id', CAST(0 AS BIGINT),
                        CAST(0 AS BIGINT), NULL::DOUBLE, NULL::BIGINT,
                        NULL::BIGINT, NULL::BIGINT)
             SELECT * FROM su UNION ALL SELECT * FROM tm
             UNION ALL SELECT * FROM po UNION ALL SELECT * FROM dc
             UNION ALL SELECT * FROM me
             ORDER BY kind, term, doc_id""")),

    // per-doc n-gram novelty: share of shingles appearing in NO other
    // doc — the inverse of repeated-span detection, word-count shape
    QueryDef("q_novelty",
      (s, dir) => graft.llmops.TfIdf.ngramNovelty(
        docsT(s, dir), "doc_id", "text")
        .orderBy("doc_id"),
      Some(s"""WITH t AS (SELECT doc_id, $duckShingles AS sh
                 FROM (SELECT doc_id, $duckToks AS w FROM documents)),
               e AS (SELECT doc_id, unnest(sh) AS s FROM t),
               d AS (SELECT s, COUNT(DISTINCT doc_id) AS df FROM e GROUP BY s)
             SELECT e.doc_id, CAST(COUNT(*) AS BIGINT) AS n_shingles,
                    CAST(SUM(CASE WHEN d.df = 1 THEN 1 ELSE 0 END) AS BIGINT)
                      AS novel,
                    ROUND(SUM(CASE WHEN d.df = 1 THEN 1 ELSE 0 END)::DOUBLE
                          / COUNT(*), 6) AS novelty
             FROM e JOIN d USING (s) GROUP BY e.doc_id ORDER BY doc_id""")),

    // per-source distribution drift: truncated smoothed KL of each
    // source's unigram distribution from the corpus blend
    QueryDef("q_source_drift",
      (s, dir) => graft.llmops.TfIdf.distributionDrift(
        docsP(s, dir), "source", "text")
        .orderBy("source"),
      Some(s"""WITH toks AS (SELECT source AS g, unnest($duckToksLower) AS term
                 FROM documents),
               corpus AS (SELECT term, COUNT(*) AS cf FROM toks GROUP BY term),
               tot AS (SELECT SUM(cf) AS tot, COUNT(*) AS v FROM corpus),
               grp AS (SELECT g, term, COUNT(*) AS gf FROM toks GROUP BY g, term),
               gt AS (SELECT g, SUM(gf) AS gtot FROM grp GROUP BY g)
             SELECT g AS source, CAST(SUM(gf) AS BIGINT) AS n_tok,
                    ROUND(SUM(((gf + 0.5) / (gtot + 0.5 * v)) *
                          ln(((gf + 0.5) / (gtot + 0.5 * v)) /
                             ((cf + 0.5) / (tot + 0.5 * v)))), 6) AS kl
             FROM grp JOIN corpus USING (term) JOIN gt USING (g) CROSS JOIN tot
             GROUP BY g ORDER BY source""")),

    // cross-source contamination matrix: distinct shared content
    // fingerprints per source pair — the fp→sources pivot bounds the
    // pair work by (sources per fingerprint)², never corpus²
    QueryDef("q_source_overlap",
      (s, dir) => Dedup.sourceOverlap(
        docsP(s, dir), "text", "source")
        .orderBy("src_a", "src_b"),
      Some(s"""WITH d AS (SELECT DISTINCT
                 md5(array_to_string(list_sort(list_distinct($duckToksLower)), ' ')) AS fp,
                 source
               FROM documents)
             SELECT a.source AS src_a, b.source AS src_b,
                    CAST(COUNT(*) AS BIGINT) AS n_shared
             FROM d a JOIN d b ON a.fp = b.fp AND a.source < b.source
             GROUP BY 1, 2 ORDER BY src_a, src_b""")),

    // per-source bigram type/token diversity: template-spam detector a
    // per-doc repetition score can't see (one explode + one distinct agg)
    QueryDef("q_ngram_diversity",
      (s, dir) => TextAnalysis.ngramDiversity(
        docsP(s, dir), "text", "source", n = 2)
        .orderBy("source"),
      Some(s"""WITH g AS (SELECT source,
                 unnest(list_transform(range(len(w) - 1),
                   i -> w[i+1] || ' ' || w[i+2])) AS gram
               FROM (SELECT source, $duckToksLower AS w FROM documents))
             SELECT source, CAST(COUNT(DISTINCT gram) AS BIGINT) AS n_types,
                    CAST(COUNT(*) AS BIGINT) AS n_total,
                    ROUND(COUNT(DISTINCT gram)::DOUBLE / COUNT(*), 6) AS ttr
             FROM g GROUP BY 1 ORDER BY source""")),

    // deterministic training-shard manifest: stable md5 shard keyed by
    // doc id; per shard the loader-plan stats (docs, tokens, id range)
    QueryDef("q_shard_manifest",
      (s, dir) => Sampling.shardManifest(
        docsP(s, dir), "doc_id",
        TextAnalysis.tokenCount(col("text")), nShards = 16)
        .orderBy("shard"),
      Some(s"""SELECT ('0x' || substr(md5('shard:' || doc_id), 1, 8))::BIGINT
                        % 1000000 % 16 AS shard,
                      CAST(COUNT(*) AS BIGINT) AS n_docs,
                      CAST(SUM(len($duckToks)) AS BIGINT) AS n_tokens,
                      MIN(doc_id) AS min_id, MAX(doc_id) AS max_id
               FROM documents GROUP BY 1 ORDER BY shard""")),

    // temperature-scaled multilingual mixture (q ∝ p^0.5): the XLM-R
    // resampling table — alpha .5 rides sqrt, the correctly-rounded op
    QueryDef("q_lang_mixture",
      (s, dir) => Sampling.temperatureMixture(
        docsP(s, dir), "lang", alpha = 0.5)
        .orderBy("lang"),
      Some("""WITH c AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n
                         FROM documents GROUP BY 1),
                t AS (SELECT lang, n,
                             n::DOUBLE / (SELECT SUM(n) FROM c) AS p FROM c),
                z AS (SELECT lang, n, p, sqrt(p) AS pa,
                             (SELECT SUM(sqrt(p)) FROM t) AS zz FROM t)
              SELECT lang, n, ROUND(p, 6) AS p, ROUND(pa / zz, 6) AS q,
                     ROUND(pa / zz * (SELECT SUM(n) FROM c), 3) AS expected_n
              FROM z ORDER BY lang""")),

    // $search highlight: the searchHighlights payload flattened to a
    // hashable rendering — hits bracketed, runs re-joined — which the
    // twin reproduces token for token from the same analyzer
    QueryDef("q_search_highlight",
      (s, dir) => Graft.aggregate(s, dir, "documents",
        """[
          {"$search": {"text": {"query": "spark query window",
            "path": "text"},
            "highlight": {"path": "text"},
            "limit": 20, "tieBreaker": "doc_id"}},
          {"$project": {"doc_id": 1,
            "hits": {"$toLong": {"$arrayElemAt": [
              {"$map": {"input": {"$meta": "searchHighlights"},
                        "in": "$$this.score"}}, 0]}},
            "marked": {"$reduce": {
              "input": {"$getField": {"field": "texts",
                "input": {"$arrayElemAt": [{"$meta": "searchHighlights"}, 0]}}},
              "initialValue": "",
              "in": {"$concat": ["$$value",
                {"$cond": [{"$eq": ["$$value", ""]}, "", " "]},
                {"$cond": [{"$eq": ["$$this.type", "hit"]},
                  {"$concat": ["[", "$$this.value", "]"]},
                  "$$this.value"]}]}}}}},
          {"$sort": {"doc_id": 1}}]"""),
      Some(s"""WITH toks AS (SELECT doc_id, unnest($duckToksLower) AS term
                 FROM documents),
              dl AS (SELECT doc_id, COUNT(*) AS dl FROM toks GROUP BY 1),
              st AS (SELECT COUNT(*) AS n, AVG(dl) AS avgdl FROM dl),
              tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks
                     WHERE term IN ('spark', 'query', 'window') GROUP BY 1, 2),
              df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
              sc AS (SELECT tf.doc_id,
                       round(SUM(ln(1 + (st.n - df.df + 0.5) / (df.df + 0.5)) *
                         tf.tf * 2.2 / (tf.tf + 1.2 *
                           (1 - 0.75 + 0.75 * dl.dl / st.avgdl))), 6) AS score
                     FROM tf JOIN df USING (term) JOIN dl USING (doc_id)
                          CROSS JOIN st
                     GROUP BY 1),
              top AS (SELECT doc_id FROM sc
                      ORDER BY score DESC, doc_id LIMIT 20),
              raw AS (SELECT d.doc_id,
                        list_filter(string_split_regex(trim(d.text), '\\s+'),
                          x -> x <> '') AS w
                      FROM documents d JOIN top USING (doc_id))
              SELECT doc_id,
                CAST(len(list_filter(w, x ->
                  lower(x) IN ('spark', 'query', 'window'))) AS BIGINT) AS hits,
                array_to_string(list_transform(w, x ->
                  CASE WHEN lower(x) IN ('spark', 'query', 'window')
                       THEN '[' || x || ']' ELSE x END), ' ') AS marked
              FROM raw ORDER BY doc_id""")),

    // $search score.function: the Atlas custom-score tree —
    // relevance × log1p(n_chars), the standard length/recency-boost
    // idiom; the twin re-derives raw BM25 and applies the identical
    // arithmetic before the one final round
    QueryDef("q_search_fn_score",
      (s, dir) => Graft.aggregate(s, dir, "documents",
        """[
          {"$search": {"text": {"query": "spark query window",
            "path": "text",
            "score": {"function": {"multiply": [{"score": "relevance"},
              {"log1p": {"path": "n_chars"}}]}}},
            "limit": 20, "tieBreaker": "doc_id"}},
          {"$project": {"doc_id": 1,
            "score": {"$meta": "searchScore"}}},
          {"$sort": {"score": -1, "doc_id": 1}}]"""),
      Some(s"""WITH toks AS (SELECT doc_id, unnest($duckToksLower) AS term
                 FROM documents),
              dl AS (SELECT doc_id, COUNT(*) AS dl FROM toks GROUP BY 1),
              st AS (SELECT COUNT(*) AS n, AVG(dl) AS avgdl FROM dl),
              tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks
                     WHERE term IN ('spark', 'query', 'window') GROUP BY 1, 2),
              df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
              sc AS (SELECT tf.doc_id,
                       SUM(ln(1 + (st.n - df.df + 0.5) / (df.df + 0.5)) *
                         tf.tf * 2.2 / (tf.tf + 1.2 *
                           (1 - 0.75 + 0.75 * dl.dl / st.avgdl))) AS raw
                     FROM tf JOIN df USING (term) JOIN dl USING (doc_id)
                          CROSS JOIN st
                     GROUP BY 1)
            SELECT sc.doc_id,
                   round(raw * log10(d.n_chars + 1), 6) AS score
            FROM sc JOIN documents d USING (doc_id)
            ORDER BY score DESC, doc_id LIMIT 20""")),

    // $search phrase operator: "spark query" as a CONSECUTIVE token
    // subsequence, BM25-scored with the phrase as one pseudo-term —
    // DuckDB rebuilds occurrence counts from positioned tokens
    QueryDef("q_search_phrase",
      (s, dir) => Graft.aggregate(s, dir, "documents",
        """[
          {"$search": {"phrase": {"query": "spark query",
            "path": "text"}, "limit": 20, "tieBreaker": "doc_id"}},
          {"$project": {"doc_id": 1,
            "score": {"$meta": "searchScore"}}},
          {"$sort": {"score": -1, "doc_id": 1}}]"""),
      Some(s"""WITH toks AS (SELECT doc_id, unnest($duckToksLower) AS term,
                       generate_subscripts($duckToksLower, 1) AS pos
                 FROM documents),
              dl AS (SELECT doc_id, COUNT(*) AS dl FROM toks GROUP BY 1),
              st AS (SELECT COUNT(*) AS n, AVG(dl) AS avgdl FROM dl),
              ptf AS (SELECT a.doc_id, COUNT(*) AS tf
                      FROM toks a JOIN toks b
                        ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
                      WHERE a.term = 'spark' AND b.term = 'query' GROUP BY 1),
              pdf AS (SELECT COUNT(*) AS df FROM ptf),
              sc AS (SELECT ptf.doc_id,
                       round(ln(1 + (st.n - pdf.df + 0.5) / (pdf.df + 0.5)) *
                         ptf.tf * 2.2 / (ptf.tf + 1.2 *
                           (1 - 0.75 + 0.75 * dl.dl / st.avgdl)), 6) AS score
                     FROM ptf JOIN dl USING (doc_id)
                          CROSS JOIN st CROSS JOIN pdf)
            SELECT doc_id, score FROM sc
            ORDER BY score DESC, doc_id LIMIT 20""")),

    // $search text with fuzzy matching: a doc token counts for a query
    // term at Levenshtein distance <= maxEdits ('spark' also collects
    // 'part' at 2 edits in this corpus) — DuckDB's levenshtein()
    // recomputes the expanded tf/df exactly
    QueryDef("q_search_fuzzy",
      (s, dir) => Graft.aggregate(s, dir, "documents",
        """[
          {"$search": {"text": {"query": "spark", "path": "text",
            "fuzzy": {"maxEdits": 2}}, "limit": 25, "tieBreaker": "doc_id"}},
          {"$project": {"doc_id": 1,
            "score": {"$meta": "searchScore"}}},
          {"$sort": {"score": -1, "doc_id": 1}}]"""),
      Some(s"""WITH toks AS (SELECT doc_id, unnest($duckToksLower) AS term
                 FROM documents),
              dl AS (SELECT doc_id, COUNT(*) AS dl FROM toks GROUP BY 1),
              st AS (SELECT COUNT(*) AS n, AVG(dl) AS avgdl FROM dl),
              tf AS (SELECT doc_id, COUNT(*) AS tf FROM toks
                     WHERE levenshtein(term, 'spark') <= 2 GROUP BY 1),
              df AS (SELECT COUNT(*) AS df FROM tf),
              sc AS (SELECT tf.doc_id,
                       round(ln(1 + (st.n - df.df + 0.5) / (df.df + 0.5)) *
                         tf.tf * 2.2 / (tf.tf + 1.2 *
                           (1 - 0.75 + 0.75 * dl.dl / st.avgdl)), 6) AS score
                     FROM tf JOIN dl USING (doc_id)
                          CROSS JOIN st CROSS JOIN df)
            SELECT doc_id, score FROM sc
            ORDER BY score DESC, doc_id LIMIT 25""")),

    // $search phrase with slop: in-order token subsequence whose span
    // stretches at most `slop` beyond consecutive; tf counts start
    // positions with a completion in range (greedy-earliest == exists
    // for the 2-term phrase, so the positioned-token join is exact)
    QueryDef("q_search_slop",
      (s, dir) => Graft.aggregate(s, dir, "documents",
        """[
          {"$search": {"phrase": {"query": "spark query", "path": "text",
            "slop": 2}, "limit": 20, "tieBreaker": "doc_id"}},
          {"$project": {"doc_id": 1,
            "score": {"$meta": "searchScore"}}},
          {"$sort": {"score": -1, "doc_id": 1}}]"""),
      Some(s"""WITH toks AS (SELECT doc_id, unnest($duckToksLower) AS term,
                       generate_subscripts($duckToksLower, 1) AS pos
                 FROM documents),
              dl AS (SELECT doc_id, COUNT(*) AS dl FROM toks GROUP BY 1),
              st AS (SELECT COUNT(*) AS n, AVG(dl) AS avgdl FROM dl),
              ptf AS (SELECT a.doc_id, COUNT(DISTINCT a.pos) AS tf
                      FROM toks a JOIN toks b
                        ON b.doc_id = a.doc_id
                       AND b.pos > a.pos AND b.pos <= a.pos + 3
                      WHERE a.term = 'spark' AND b.term = 'query' GROUP BY 1),
              pdf AS (SELECT COUNT(*) AS df FROM ptf),
              sc AS (SELECT ptf.doc_id,
                       round(ln(1 + (st.n - pdf.df + 0.5) / (pdf.df + 0.5)) *
                         ptf.tf * 2.2 / (ptf.tf + 1.2 *
                           (1 - 0.75 + 0.75 * dl.dl / st.avgdl)), 6) AS score
                     FROM ptf JOIN dl USING (doc_id)
                          CROSS JOIN st CROSS JOIN pdf)
            SELECT doc_id, score FROM sc
            ORDER BY score DESC, doc_id LIMIT 20""")),

    // $search sort option: field ordering replaces relevance; the match
    // set is still the text predicate, the cut is TakeOrdered on the
    // user sort with the tieBreaker closing residual ties
    QueryDef("q_search_sort",
      (s, dir) => Graft.aggregate(s, dir, "documents",
        """[
          {"$search": {"text": {"query": "window", "path": "text"},
            "sort": {"n_chars": -1}, "limit": 15, "tieBreaker": "doc_id"}},
          {"$project": {"doc_id": 1, "n_chars": 1}}]"""),
      Some(s"""SELECT doc_id, n_chars FROM documents
               WHERE list_contains($duckToksLower, 'window')
               ORDER BY n_chars DESC, doc_id LIMIT 15""")),

    // $search pagination: searchAfter resumes strictly past the token's
    // sort position — a MAP-ONLY lexicographic filter on the sort keys
    // (no skip-N scan; the scale-correct way to page). Token format:
    // base64 JSON of the sort-key values; the per-row token surfaces as
    // {"$meta": "searchSequenceToken"} and the oracle re-derives it.
    // Token below = {"k0":300,"k1":250} (n_chars 300, doc_id 250).
    QueryDef("q_search_after",
      (s, dir) => Graft.aggregate(s, dir, "documents",
        """[
          {"$search": {"text": {"query": "window", "path": "text"},
            "sort": {"n_chars": -1, "doc_id": 1}, "limit": 15,
            "searchAfter": "eyJrMCI6MzAwLCJrMSI6MjUwfQ=="}},
          {"$project": {"doc_id": 1, "n_chars": 1,
            "tok": {"$meta": "searchSequenceToken"}}}]"""),
      Some(s"""SELECT doc_id, n_chars,
                      to_base64(encode('{"k0":' || n_chars || ',"k1":' || doc_id || '}')) AS tok
               FROM documents
               WHERE list_contains($duckToksLower, 'window')
                 AND (n_chars < 300 OR (n_chars = 300 AND doc_id > 250))
               ORDER BY n_chars DESC, doc_id LIMIT 15""")),

    // searchBefore: strictly before the token position, presented in
    // REVERSE sort order (the page reads toward the reference point)
    QueryDef("q_search_before",
      (s, dir) => Graft.aggregate(s, dir, "documents",
        """[
          {"$search": {"text": {"query": "window", "path": "text"},
            "sort": {"n_chars": -1, "doc_id": 1}, "limit": 15,
            "searchBefore": "eyJrMCI6MzAwLCJrMSI6MjUwfQ=="}},
          {"$project": {"doc_id": 1, "n_chars": 1}}]"""),
      Some(s"""SELECT doc_id, n_chars FROM documents
               WHERE list_contains($duckToksLower, 'window')
                 AND (n_chars > 300 OR (n_chars = 300 AND doc_id < 250))
               ORDER BY n_chars ASC, doc_id DESC LIMIT 15""")),

    // $search text with a synonyms mapping collection: query-time term
    // expansion through an equivalent + explicit dictionary (a bounded
    // driver-side constant — query rewriting, the corpus never joins).
    // "spark" →(explicit) engine, cluster; "window" →(equivalent)
    // window, query, table; oracle scores the expanded term set.
    QueryDef("q_search_synonyms",
      (s, dir) => {
        import s.implicits._
        val syn = Seq(
          ("equivalent", Option.empty[Seq[String]], Seq("window", "query", "table")),
          ("explicit", Some(Seq("spark")), Seq("engine", "cluster")))
          .toDF("mappingType", "input", "synonyms")
        val base = Graft.tables(s, dir)
        val resolve: graft.mql.PipelineCompiler.TableResolver = {
          case "eng_synonyms" => syn
          case n => base(n)
        }
        graft.mql.PipelineCompiler.run(base("documents"), """[
          {"$search": {"text": {"query": "spark window", "path": "text",
            "synonyms": "eng_synonyms"}, "limit": 20, "tieBreaker": "doc_id"}},
          {"$project": {"doc_id": 1,
            "score": {"$meta": "searchScore"}}},
          {"$sort": {"score": -1, "doc_id": 1}}]""", resolve)
      },
      Some(s"""WITH toks AS (SELECT doc_id, unnest($duckToksLower) AS term
                 FROM documents),
              dl AS (SELECT doc_id, COUNT(*) AS dl FROM toks GROUP BY 1),
              st AS (SELECT COUNT(*) AS n, AVG(dl) AS avgdl FROM dl),
              tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks
                     WHERE term IN ('spark', 'engine', 'cluster',
                                    'window', 'query', 'table')
                     GROUP BY 1, 2),
              df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
              sc AS (SELECT tf.doc_id,
                       round(SUM(ln(1 + (st.n - df.df + 0.5) / (df.df + 0.5)) *
                         tf.tf * 2.2 / (tf.tf + 1.2 *
                           (1 - 0.75 + 0.75 * dl.dl / st.avgdl))), 6) AS score
                     FROM tf JOIN df USING (term) JOIN dl USING (doc_id)
                          CROSS JOIN st
                     GROUP BY 1)
            SELECT doc_id, score FROM sc
            ORDER BY score DESC, doc_id LIMIT 20""")),

    // $search geoWithin: haversine circle (R = 6378100 m) must-clause
    // with a mustNot box carve-out, over a [lon, lat] point derived from
    // events numerics — DuckDB re-derives the same trig row by row
    QueryDef("q_search_geo",
      (s, dir) => Graft.aggregate(s, dir, "events",
        """[
          {"$addFields": {"loc": [
            {"$subtract": [{"$mod": ["$value", 180]}, 90]},
            {"$subtract": [{"$mod": ["$user_id", 120]}, 60]}]}},
          {"$search": {"compound": {
            "must": [{"geoWithin": {"path": "loc",
              "circle": {"center": [0, 0], "radius": 3000000}}}],
            "mustNot": [{"geoWithin": {"path": "loc",
              "box": {"bottomLeft": [-10, -10], "topRight": [10, 10]}}}]}}},
          {"$project": {"event_id": 1}},
          {"$sort": {"event_id": 1}}]"""),
      Some("""WITH m AS (SELECT event_id, (value % 180) - 90 AS x,
                     CAST((user_id % 120) - 60 AS DOUBLE) AS y FROM events)
              SELECT event_id FROM m
              WHERE 2 * 6378100 * asin(sqrt(
                      pow(sin(radians(y - 0.0) / 2), 2) +
                      cos(radians(0.0)) * cos(radians(y)) *
                        pow(sin(radians(x - 0.0) / 2), 2))) <= 3000000
                AND NOT (x >= -10 AND x <= 10 AND y >= -10 AND y <= 10)
              ORDER BY event_id""")),

    // $search geoShape within a triangle: PNPOLY ray casting unrolled
    // per edge; the twin repeats the identical crossing tests (same
    // operation order, so float decisions agree bit for bit)
    QueryDef("q_search_geo_poly",
      (s, dir) => Graft.aggregate(s, dir, "events",
        """[
          {"$addFields": {"loc": [
            {"$subtract": [{"$mod": ["$value", 180]}, 90]},
            {"$subtract": [{"$mod": ["$user_id", 120]}, 60]}]}},
          {"$search": {"geoShape": {"path": "loc", "relation": "within",
            "geometry": {"type": "Polygon", "coordinates":
              [[[-40, -35], [45, -25], [10, 50], [-40, -35]]]}}}},
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

    // $geoNear: spherical haversine distance (GeoJSON near => meters),
    // query pre-filter, maxDistance on the raw meters, multiplier to km.
    // The twin repeats the identical formula so doubles agree bit for
    // bit; both sides round to mm and tie-break on event_id
    QueryDef("q_geonear",
      (s, dir) => Graft.aggregate(s, dir, "events",
        """[
          {"$addFields": {"loc": [
            {"$subtract": [{"$mod": ["$value", 180]}, 90]},
            {"$subtract": [{"$mod": ["$user_id", 120]}, 60]}]}},
          {"$geoNear": {"near": {"type": "Point", "coordinates": [12.5, -7.25]},
            "key": "loc", "distanceField": "dist_km",
            "query": {"user_id": {"$lte": 400}},
            "maxDistance": 2500000, "distanceMultiplier": 0.001}},
          {"$project": {"event_id": 1, "dist_km": {"$round": ["$dist_km", 6]}}},
          {"$sort": {"dist_km": 1, "event_id": 1}}]"""),
      Some("""WITH m AS (SELECT event_id, (value % 180) - 90 AS x,
                     CAST((user_id % 120) - 60 AS DOUBLE) AS y
              FROM events WHERE user_id <= 400),
              d AS (SELECT event_id,
                     2 * 6378100 * asin(sqrt(
                       pow(sin(radians(y - -7.25) / 2), 2) +
                       cos(radians(-7.25)) * cos(radians(y)) *
                         pow(sin(radians(x - 12.5) / 2), 2))) AS dist_m
                    FROM m)
              SELECT event_id, round(dist_m * 0.001, 6) AS dist_km
              FROM d WHERE dist_m <= 2500000
              ORDER BY dist_km, event_id""")),

    // $search embeddedDocument: element-level compound (equals + range)
    // over an array-of-documents built in-pipeline; sum aggregate means
    // score = matching-element count, which DuckDB re-counts per row
    QueryDef("q_search_embedded",
      (s, dir) => Graft.aggregate(s, dir, "documents",
        """[
          {"$addFields": {"items": [
            {"tag": "$lang", "n": "$n_chars"},
            {"tag": "$lang", "n": {"$multiply": ["$n_chars", 2]}}]}},
          {"$search": {"embeddedDocument": {"path": "items",
            "operator": {"compound": {"must": [
              {"equals": {"path": "items.tag", "value": "en"}},
              {"range": {"path": "items.n", "gte": 300, "lt": 900}}]}}}}},
          {"$project": {"doc_id": 1, "score": {"$meta": "searchScore"}}},
          {"$sort": {"doc_id": 1}}]"""),
      Some("""WITH m AS (SELECT doc_id,
                (CASE WHEN lang = 'en' AND n_chars >= 300 AND n_chars < 900
                      THEN 1 ELSE 0 END) +
                (CASE WHEN lang = 'en' AND n_chars * 2 >= 300
                      AND n_chars * 2 < 900
                      THEN 1 ELSE 0 END) AS c FROM documents)
              SELECT doc_id, CAST(c AS DOUBLE) AS score FROM m
              WHERE c > 0 ORDER BY doc_id""")),

    // $search count option + $$SEARCH_META: top-10 page plus the exact
    // size of the FULL matched set, carried to later stages the way
    // Atlas surfaces it
    QueryDef("q_search_meta_var",
      (s, dir) => Graft.aggregate(s, dir, "documents",
        """[
          {"$search": {"text": {"query": "spark", "path": "text"},
            "count": {"type": "total"}, "limit": 10,
            "tieBreaker": "doc_id"}},
          {"$project": {"doc_id": 1,
            "total": "$$SEARCH_META.count.total"}},
          {"$sort": {"doc_id": 1}}]"""),
      Some(s"""WITH toks AS (SELECT doc_id, unnest($duckToksLower) AS term
                 FROM documents),
              dl AS (SELECT doc_id, COUNT(*) AS dl FROM toks GROUP BY 1),
              st AS (SELECT COUNT(*) AS n, AVG(dl) AS avgdl FROM dl),
              tf AS (SELECT doc_id, COUNT(*) AS tf FROM toks
                     WHERE term = 'spark' GROUP BY 1),
              df AS (SELECT COUNT(*) AS df FROM tf),
              sc AS (SELECT tf.doc_id,
                       round(ln(1 + (st.n - df.df + 0.5) / (df.df + 0.5)) *
                         tf.tf * 2.2 / (tf.tf + 1.2 *
                           (1 - 0.75 + 0.75 * dl.dl / st.avgdl)), 6) AS score
                     FROM tf JOIN dl USING (doc_id)
                          CROSS JOIN st CROSS JOIN df),
              page AS (SELECT doc_id FROM sc
                       ORDER BY score DESC, doc_id LIMIT 10)
            SELECT doc_id, (SELECT CAST(count(*) AS BIGINT) FROM tf) AS total
            FROM page ORDER BY doc_id""")),

    // $search near operator: distance-decay proximity score
    // pivot/(pivot+|v-origin|) over n_chars — a pure arithmetic twin
    QueryDef("q_search_near",
      (s, dir) => Graft.aggregate(s, dir, "documents",
        """[
          {"$search": {"near": {"path": "n_chars", "origin": 200,
            "pivot": 50}, "limit": 30, "tieBreaker": "doc_id"}},
          {"$project": {"doc_id": 1,
            "score": {"$meta": "searchScore"}}},
          {"$sort": {"score": -1, "doc_id": 1}}]"""),
      Some("""SELECT doc_id,
                     round(50.0 / (50.0 + abs(n_chars - 200.0)), 6) AS score
              FROM documents WHERE n_chars IS NOT NULL
              ORDER BY score DESC, doc_id LIMIT 30""")),

    // $search compound: scored text must + zero-score range filter +
    // phrase mustNot, all three clause lists in one query
    QueryDef("q_search_compound",
      (s, dir) => Graft.aggregate(s, dir, "documents",
        """[
          {"$search": {"compound": {
            "must": [{"text": {"query": "spark window", "path": "text"}}],
            "filter": [{"range": {"path": "n_chars", "gte": 100}}],
            "mustNot": [{"phrase": {"query": "slow table", "path": "text"}}]},
            "limit": 50, "tieBreaker": "doc_id"}},
          {"$project": {"doc_id": 1,
            "score": {"$meta": "searchScore"}}},
          {"$sort": {"score": -1, "doc_id": 1}}]"""),
      Some(s"""WITH toks AS (SELECT doc_id, unnest($duckToksLower) AS term,
                       generate_subscripts($duckToksLower, 1) AS pos
                 FROM documents),
              dl AS (SELECT doc_id, COUNT(*) AS dl FROM toks GROUP BY 1),
              st AS (SELECT COUNT(*) AS n, AVG(dl) AS avgdl FROM dl),
              tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks
                     WHERE term IN ('spark', 'window') GROUP BY 1, 2),
              dfq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
              mn AS (SELECT DISTINCT a.doc_id
                     FROM toks a JOIN toks b
                       ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
                     WHERE a.term = 'slow' AND b.term = 'table'),
              sc AS (SELECT tf.doc_id,
                       round(SUM(ln(1 + (st.n - dfq.df + 0.5) / (dfq.df + 0.5)) *
                         tf.tf * 2.2 / (tf.tf + 1.2 *
                           (1 - 0.75 + 0.75 * dl.dl / st.avgdl))), 6) AS score
                     FROM tf JOIN dfq USING (term) JOIN dl USING (doc_id)
                          CROSS JOIN st
                     GROUP BY 1)
            SELECT d.doc_id AS doc_id, sc.score
            FROM documents d JOIN sc ON sc.doc_id = d.doc_id
            WHERE d.n_chars >= 100
              AND d.doc_id NOT IN (SELECT mn.doc_id FROM mn)
            ORDER BY sc.score DESC, d.doc_id LIMIT 50""")),

    // $search regex operator: anchored pattern over analyzed terms,
    // constant score — the filter semantics are the whole check
    QueryDef("q_search_regex",
      (s, dir) => Graft.aggregate(s, dir, "documents",
        """[
          {"$search": {"regex": {"query": "quer.*", "path": "text"}}},
          {"$project": {"doc_id": 1}},
          {"$sort": {"doc_id": 1}}]"""),
      Some(s"""SELECT doc_id FROM documents
               WHERE len(list_filter($duckToksLower,
                     x -> regexp_matches(x, '^(?:quer.*)$$'))) > 0
               ORDER BY doc_id""")),

    // $search queryString: Lucene occurrence semantics (AND marks both
    // neighbors required, NOT prohibits) with BM25 sum over the
    // matching positive term leaves — DuckDB re-derives both the
    // boolean match set and the score
    QueryDef("q_search_querystring",
      (s, dir) => Graft.aggregate(s, dir, "documents",
        """[
          {"$search": {"queryString": {"defaultPath": "text",
            "query": "spark AND window NOT slow"}, "limit": 40,
            "tieBreaker": "doc_id"}},
          {"$project": {"doc_id": 1,
            "score": {"$meta": "searchScore"}}},
          {"$sort": {"score": -1, "doc_id": 1}}]"""),
      Some(s"""WITH toks AS (SELECT doc_id, unnest($duckToksLower) AS term
                 FROM documents),
              dl AS (SELECT doc_id, COUNT(*) AS dl FROM toks GROUP BY 1),
              st AS (SELECT COUNT(*) AS n, AVG(dl) AS avgdl FROM dl),
              tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks
                     WHERE term IN ('spark', 'window') GROUP BY 1, 2),
              dfq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
              m AS (SELECT a.doc_id
                    FROM (SELECT DISTINCT doc_id FROM toks WHERE term = 'spark') a
                    JOIN (SELECT DISTINCT doc_id FROM toks WHERE term = 'window') b
                      USING (doc_id)
                    WHERE a.doc_id NOT IN
                      (SELECT doc_id FROM toks WHERE term = 'slow')),
              sc AS (SELECT tf.doc_id,
                       round(SUM(ln(1 + (st.n - dfq.df + 0.5) / (dfq.df + 0.5)) *
                         tf.tf * 2.2 / (tf.tf + 1.2 *
                           (1 - 0.75 + 0.75 * dl.dl / st.avgdl))), 6) AS score
                     FROM tf JOIN dfq USING (term) JOIN dl USING (doc_id)
                          CROSS JOIN st
                     GROUP BY 1)
            SELECT sc.doc_id, sc.score FROM sc JOIN m USING (doc_id)
            ORDER BY score DESC, doc_id LIMIT 40""")),

    // $search moreLikeThis: like-document terms as a BM25-scored
    // disjunction — the twin is the text-operator pipeline over the
    // extracted terms
    QueryDef("q_search_mlt",
      (s, dir) => Graft.aggregate(s, dir, "documents",
        """[
          {"$search": {"moreLikeThis": {"like":
            {"text": "vector stream merge"}}, "limit": 25,
            "tieBreaker": "doc_id"}},
          {"$project": {"doc_id": 1,
            "score": {"$meta": "searchScore"}}},
          {"$sort": {"score": -1, "doc_id": 1}}]"""),
      Some(s"""WITH toks AS (SELECT doc_id, unnest($duckToksLower) AS term
                 FROM documents),
              dl AS (SELECT doc_id, COUNT(*) AS dl FROM toks GROUP BY 1),
              st AS (SELECT COUNT(*) AS n, AVG(dl) AS avgdl FROM dl),
              tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks
                     WHERE term IN ('vector', 'stream', 'merge') GROUP BY 1, 2),
              dfq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
              sc AS (SELECT tf.doc_id,
                       round(SUM(ln(1 + (st.n - dfq.df + 0.5) / (dfq.df + 0.5)) *
                         tf.tf * 2.2 / (tf.tf + 1.2 *
                           (1 - 0.75 + 0.75 * dl.dl / st.avgdl))), 6) AS score
                     FROM tf JOIN dfq USING (term) JOIN dl USING (doc_id)
                          CROSS JOIN st
                     GROUP BY 1)
            SELECT doc_id, score FROM sc
            ORDER BY score DESC, doc_id LIMIT 25""")),

    // $searchMeta facet collector: string + number facets over the
    // range-matched set, exploded to (facet, id, count) rows so the
    // hash gate can compare (the stage's native output is ONE nested
    // doc). String facet top-k is count-desc/value-asc deterministic;
    // number facet keeps zero-count intervals.
    // $searchMeta date facet over events.ts: interval counts between
    // ISO boundaries, out-of-range into the default bucket
    QueryDef("q_searchmeta_facet_date",
      (s, dir) => {
        val meta = Graft.aggregate(s, dir, "events",
          """[
            {"$searchMeta": {"facet": {"facets": {
              "by_month": {"type": "date", "path": "ts",
                "boundaries": [{"$date": "2024-02-01T00:00:00Z"},
                               {"$date": "2024-04-01T00:00:00Z"},
                               {"$date": "2024-06-01T00:00:00Z"}],
                "default": "outside"}}}}}]""")
        meta.select(explode(col("facet.by_month.buckets")).as("b"))
          .select(col("b._id").as("id"), col("b.count").as("count"))
          .orderBy("id")
      },
      Some("""SELECT '2024-02-01T00:00:00Z' AS id,
                     CAST(sum(CASE WHEN ts >= TIMESTAMP '2024-02-01'
                              AND ts < TIMESTAMP '2024-04-01'
                              THEN 1 ELSE 0 END) AS BIGINT) AS count FROM events
              UNION ALL
              SELECT '2024-04-01T00:00:00Z',
                     CAST(sum(CASE WHEN ts >= TIMESTAMP '2024-04-01'
                              AND ts < TIMESTAMP '2024-06-01'
                              THEN 1 ELSE 0 END) AS BIGINT) FROM events
              UNION ALL
              SELECT 'outside',
                     CAST(sum(CASE WHEN ts IS NOT NULL
                              AND (ts < TIMESTAMP '2024-02-01'
                                   OR ts >= TIMESTAMP '2024-06-01')
                              THEN 1 ELSE 0 END) AS BIGINT) FROM events
              ORDER BY id""")),

    QueryDef("q_searchmeta_facet",
      (s, dir) => {
        val meta = Graft.aggregate(s, dir, "documents",
          """[
            {"$searchMeta": {"facet": {
              "operator": {"range": {"path": "n_chars", "gte": 100}},
              "facets": {
                "by_lang": {"type": "string", "path": "lang",
                            "numBuckets": 4},
                "by_size": {"type": "number", "path": "n_chars",
                            "boundaries": [100, 200, 400, 800],
                            "default": "other"}}}}}]""")
        val lang = meta.select(explode(col("facet.by_lang.buckets")).as("b"))
          .select(lit("by_lang").as("facet"), col("b._id").as("id"),
            col("b.count").as("count"))
        val size = meta.select(explode(col("facet.by_size.buckets")).as("b"))
          .select(lit("by_size").as("facet"), col("b._id").as("id"),
            col("b.count").as("count"))
        lang.unionAll(size).orderBy("facet", "id")
      },
      Some("""WITH m AS (SELECT * FROM documents WHERE n_chars >= 100),
              l AS (SELECT CAST(lang AS VARCHAR) AS id,
                           CAST(count(*) AS BIGINT) AS count
                    FROM m WHERE lang IS NOT NULL
                    GROUP BY lang ORDER BY count DESC, id ASC LIMIT 4),
              s AS (SELECT '100' AS id,
                           CAST(sum(CASE WHEN n_chars >= 100 AND n_chars < 200
                                    THEN 1 ELSE 0 END) AS BIGINT) AS count FROM m
                    UNION ALL
                    SELECT '200', CAST(sum(CASE WHEN n_chars >= 200 AND n_chars < 400
                                    THEN 1 ELSE 0 END) AS BIGINT) FROM m
                    UNION ALL
                    SELECT '400', CAST(sum(CASE WHEN n_chars >= 400 AND n_chars < 800
                                    THEN 1 ELSE 0 END) AS BIGINT) FROM m
                    UNION ALL
                    SELECT 'other', CAST(sum(CASE WHEN n_chars IS NOT NULL
                                    AND (n_chars < 100 OR n_chars >= 800)
                                    THEN 1 ELSE 0 END) AS BIGINT) FROM m)
            SELECT facet, id, count FROM (
              SELECT 'by_lang' AS facet, id, count FROM l
              UNION ALL SELECT 'by_size' AS facet, id, count FROM s)
            ORDER BY facet, id""")),

    // $searchMeta facets through a STORED-SOURCE index: the operator
    // matches via postings, and the facet fields (lang, n_chars) come
    // from the index's stored payload rows — the whole metadata query
    // answers from index rows alone
    QueryDef("q_searchmeta_stored",
      (s, dir) => {
        val store = Staging.store(s, "q_searchmeta_stored", dir)
        val docs = Graft.table(s, dir, "documents")
        Staging.memo(store, "docs_stm", s"v1:${docs.count()}") {
          store.write(graft.llmops.TextIndex.build(docs, Seq("text"),
            Some("doc_id"), Seq("doc_id", "text", "lang", "n_chars")),
            "docs_stm")
        }
        val resolve: graft.mql.PipelineCompiler.TableResolver = {
          case "docs_stm" => store.read("docs_stm")
          case t => Graft.table(s, dir, t)
        }
        val meta = graft.mql.PipelineCompiler.run(docs,
          """[
            {"$searchMeta": {"facet": {
              "operator": {"index": "docs_stm", "returnStoredSource": true,
                "text": {"query": "spark query window", "path": "text"}},
              "facets": {
                "by_lang": {"type": "string", "path": "lang",
                            "numBuckets": 4},
                "by_size": {"type": "number", "path": "n_chars",
                            "boundaries": [100, 200, 400, 800],
                            "default": "other"}}}}}]""", resolve)
        val lang = meta.select(explode(col("facet.by_lang.buckets")).as("b"))
          .select(lit("by_lang").as("facet"), col("b._id").as("id"),
            col("b.count").as("count"))
        val size = meta.select(explode(col("facet.by_size.buckets")).as("b"))
          .select(lit("by_size").as("facet"), col("b._id").as("id"),
            col("b.count").as("count"))
        lang.unionAll(size).orderBy("facet", "id")
      },
      Some(s"""WITH m AS (SELECT * FROM documents
                          WHERE len(list_intersect($duckToksLower,
                                ['spark', 'query', 'window'])) > 0),
              l AS (SELECT CAST(lang AS VARCHAR) AS id,
                           CAST(count(*) AS BIGINT) AS count
                    FROM m WHERE lang IS NOT NULL
                    GROUP BY lang ORDER BY count DESC, id ASC LIMIT 4),
              s AS (SELECT '100' AS id,
                           CAST(sum(CASE WHEN n_chars >= 100 AND n_chars < 200
                                    THEN 1 ELSE 0 END) AS BIGINT) AS count FROM m
                    UNION ALL
                    SELECT '200', CAST(sum(CASE WHEN n_chars >= 200 AND n_chars < 400
                                    THEN 1 ELSE 0 END) AS BIGINT) FROM m
                    UNION ALL
                    SELECT '400', CAST(sum(CASE WHEN n_chars >= 400 AND n_chars < 800
                                    THEN 1 ELSE 0 END) AS BIGINT) FROM m
                    UNION ALL
                    SELECT 'other', CAST(sum(CASE WHEN n_chars IS NOT NULL
                                    AND (n_chars < 100 OR n_chars >= 800)
                                    THEN 1 ELSE 0 END) AS BIGINT) FROM m)
            SELECT facet, id, count FROM (
              SELECT 'by_lang' AS facet, id, count FROM l
              UNION ALL SELECT 'by_size' AS facet, id, count FROM s)
            ORDER BY facet, id""")),

    // $searchMeta count collector: exact total over the text-matched
    // set, unwrapped to a scalar via $project on the nested path
    QueryDef("q_searchmeta_count",
      (s, dir) => Graft.aggregate(s, dir, "documents",
        """[
          {"$searchMeta": {"text": {"query": "spark", "path": "text"},
            "count": {"type": "total"}}},
          {"$project": {"n": "$count.total"}}]"""),
      Some(s"""SELECT CAST(count(*) AS BIGINT) AS n FROM documents
               WHERE list_contains($duckToksLower, 'spark')""")),

    // $searchMeta count through the postings index: the matched-set
    // size computed ENTIRELY from the stored posting rows (distinct doc
    // ids across the query terms) — zero corpus I/O for the metadata
    // entry point, as in a real search engine
    QueryDef("q_searchmeta_index",
      (s, dir) => {
        val store = Staging.store(s, "q_searchmeta_index", dir)
        val docs = Graft.table(s, dir, "documents")
        Staging.memo(store, "docs_inv", s"v1:${docs.count()}") {
          store.write(graft.llmops.TextIndex.build(docs, Seq("text"),
            Some("doc_id")), "docs_inv")
        }
        val resolve: graft.mql.PipelineCompiler.TableResolver = {
          case "docs_inv" => store.read("docs_inv")
          case t => Graft.table(s, dir, t)
        }
        graft.mql.PipelineCompiler.run(docs,
          """[
            {"$searchMeta": {"index": "docs_inv",
              "text": {"query": "spark query window", "path": "text"},
              "count": {"type": "total"}}},
            {"$project": {"n": "$count.total"}}]""", resolve)
      },
      Some(s"""SELECT CAST(count(*) AS BIGINT) AS n FROM documents
               WHERE len(list_intersect($duckToksLower,
                 ['spark', 'query', 'window'])) > 0""")),

    // BM25 top-20 retrieval for a 3-term query over the corpus
    QueryDef("q_bm25",
      (s, dir) => TfIdf.bm25TopK(Graft.table(s, dir, "documents"),
        "doc_id", "text", Seq("spark", "query", "window"), k = 20)
        .orderBy("rnk"),
      Some(s"""WITH toks AS (SELECT doc_id, unnest($duckToksLower) AS term
                 FROM documents),
              dl AS (SELECT doc_id, COUNT(*) AS dl FROM toks GROUP BY 1),
              st AS (SELECT COUNT(*) AS n, AVG(dl) AS avgdl FROM dl),
              tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks
                     WHERE term IN ('spark', 'query', 'window') GROUP BY 1, 2),
              df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
              sc AS (SELECT tf.doc_id,
                       round(SUM(ln(1 + (st.n - df.df + 0.5) / (df.df + 0.5)) *
                         tf.tf * 2.2 / (tf.tf + 1.2 *
                           (1 - 0.75 + 0.75 * dl.dl / st.avgdl))), 6) AS score
                     FROM tf JOIN df USING (term) JOIN dl USING (doc_id)
                          CROSS JOIN st
                     GROUP BY 1)
            SELECT doc_id, score,
                   CAST(ROW_NUMBER() OVER (ORDER BY score DESC, doc_id)
                        AS BIGINT) AS rnk
            FROM sc QUALIFY rnk <= 20 ORDER BY rnk""")),

    // DSIR, HASHED-feature variant (Xie et al. 2023 §2.2 — the paper's
    // actual recipe, complementing q_dsir_weights' unigram-vocab form):
    // unigram+bigram occurrences hashed into a FIXED 256-bucket space,
    // so the fitted-model table is constant-size at any corpus scale;
    // weight = per-doc log-likelihood ratio. Broadcast 256-row ratio
    // table; the corpus shuffles only (feature → doc id), word-count
    // shape. Target = every 10th doc, raw = the rest.
    QueryDef("q_dsir_hashed",
      (s, dir) => {
        val d = docsT(s, dir)
        Dsir.importanceWeights(
          d.where(col("doc_id") % 10 =!= 0),
          d.where(col("doc_id") % 10 === 0),
          "doc_id", "text", buckets = 256, alpha = 0.5)
          .orderBy("doc_id")
      },
      Some(s"""WITH w AS (SELECT doc_id, $duckToks AS w FROM documents),
               f AS (SELECT doc_id, list_concat(w,
                       [array_to_string(w[i:i+1], ' ')
                        for i in range(1, greatest(len(w), 1))]) AS fs
                     FROM w),
               occ AS (SELECT doc_id,
                         ('0x' || substr(md5(f), 1, 8))::BIGINT % 256 AS b
                       FROM (SELECT doc_id, unnest(fs) AS f FROM f)),
               tc AS (SELECT b, COUNT(*) AS nt FROM occ
                      WHERE doc_id % 10 = 0 GROUP BY b),
               rc AS (SELECT b, COUNT(*) AS nr FROM occ
                      WHERE doc_id % 10 <> 0 GROUP BY b),
               j AS (SELECT COALESCE(rc.b, tc.b) AS b,
                       COALESCE(nt, 0) AS nt, COALESCE(nr, 0) AS nr
                     FROM rc FULL OUTER JOIN tc ON rc.b = tc.b),
               tot AS (SELECT SUM(nt) AS tt, SUM(nr) AS tr FROM j),
               lr AS (SELECT b, ln((nt + 0.5) / (tt + 128.0)) -
                        ln((nr + 0.5) / (tr + 128.0)) AS lr FROM j, tot),
               s AS (SELECT o.doc_id, COUNT(*) AS n_feats, SUM(lr) AS w
                     FROM occ o JOIN lr USING (b)
                     WHERE o.doc_id % 10 <> 0 GROUP BY o.doc_id)
             SELECT d.doc_id,
                    CAST(COALESCE(n_feats, 0) AS BIGINT) AS n_feats,
                    ROUND(COALESCE(w, 0.0), 6) AS weight
             FROM documents d LEFT JOIN s USING (doc_id)
             WHERE d.doc_id % 10 <> 0 ORDER BY d.doc_id""")),

    // DSIR Gumbel-top-k resampling over those weights: deterministic
    // "sample 50 without replacement ∝ exp(weight)" via seeded-md5
    // Gumbel noise — plans as TakeOrdered, never a full sort
    QueryDef("q_dsir_sample",
      (s, dir) => {
        val d = docsT(s, dir)
        Dsir.resample(
          Dsir.importanceWeights(
            d.where(col("doc_id") % 10 =!= 0),
            d.where(col("doc_id") % 10 === 0),
            "doc_id", "text", buckets = 256, alpha = 0.5),
          "doc_id", k = 50)
      },
      Some(s"""WITH w AS (SELECT doc_id, $duckToks AS w FROM documents),
               f AS (SELECT doc_id, list_concat(w,
                       [array_to_string(w[i:i+1], ' ')
                        for i in range(1, greatest(len(w), 1))]) AS fs
                     FROM w),
               occ AS (SELECT doc_id,
                         ('0x' || substr(md5(f), 1, 8))::BIGINT % 256 AS b
                       FROM (SELECT doc_id, unnest(fs) AS f FROM f)),
               tc AS (SELECT b, COUNT(*) AS nt FROM occ
                      WHERE doc_id % 10 = 0 GROUP BY b),
               rc AS (SELECT b, COUNT(*) AS nr FROM occ
                      WHERE doc_id % 10 <> 0 GROUP BY b),
               j AS (SELECT COALESCE(rc.b, tc.b) AS b,
                       COALESCE(nt, 0) AS nt, COALESCE(nr, 0) AS nr
                     FROM rc FULL OUTER JOIN tc ON rc.b = tc.b),
               tot AS (SELECT SUM(nt) AS tt, SUM(nr) AS tr FROM j),
               lr AS (SELECT b, ln((nt + 0.5) / (tt + 128.0)) -
                        ln((nr + 0.5) / (tr + 128.0)) AS lr FROM j, tot),
               s AS (SELECT o.doc_id, SUM(lr) AS w
                     FROM occ o JOIN lr USING (b)
                     WHERE o.doc_id % 10 <> 0 GROUP BY o.doc_id),
               ws AS (SELECT d.doc_id, ROUND(COALESCE(w, 0.0), 6) AS weight
                      FROM documents d LEFT JOIN s USING (doc_id)
                      WHERE d.doc_id % 10 <> 0),
               g AS (SELECT doc_id, weight,
                       ROUND(weight - ln(-ln(
                         (('0x' || substr(md5('dsir:' || doc_id), 1, 8))::BIGINT
                          % 1000000 + 0.5) / 1000000.0)), 6) AS gkey
                     FROM ws)
             SELECT doc_id, weight, gkey FROM g
             ORDER BY gkey DESC, doc_id LIMIT 50""")),

    // chunk-level dedup with document reconstruction (Dolma-style
    // paragraph dedup; fixed 10-token chunks stand in for paragraphs):
    // keep the globally-first occurrence of every chunk, rebuild docs
    QueryDef("q_chunk_dedup",
      (s, dir) => Dedup.dedupChunks(docsT(s, dir),
        "doc_id", "text", chunkSize = 10)
        .orderBy("doc_id"),
      Some(s"""WITH toks AS (SELECT doc_id, $duckToks AS t FROM documents),
               n AS (SELECT doc_id, t, len(t) AS n FROM toks WHERE len(t) > 0),
               c AS (SELECT doc_id, t,
                       greatest(CAST(ceil(n::DOUBLE / 10) AS INT), 1) AS nc
                     FROM n),
               e AS (SELECT doc_id, t,
                       unnest(generate_series(0, nc - 1)) AS i FROM c),
               ch AS (SELECT doc_id, CAST(i AS BIGINT) AS cid,
                        array_to_string(t[i*10+1 : i*10+10], ' ') AS ct FROM e),
               r AS (SELECT doc_id, cid, ct,
                       ROW_NUMBER() OVER (PARTITION BY ct
                         ORDER BY doc_id, cid) AS rn FROM ch),
               g AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_chunks,
                       CAST(COUNT(*) FILTER (WHERE rn = 1) AS BIGINT) AS n_kept,
                       COALESCE(string_agg(ct, ' ' ORDER BY cid)
                         FILTER (WHERE rn = 1), '') AS text_dedup
                     FROM r GROUP BY doc_id)
             SELECT d.doc_id, COALESCE(n_chunks, 0) AS n_chunks,
                    COALESCE(n_kept, 0) AS n_kept,
                    COALESCE(text_dedup, '') AS text_dedup
             FROM documents d LEFT JOIN g USING (doc_id)
             ORDER BY d.doc_id""")),

    // longest-contiguous-overlap decontamination (GPT-3-appendix-style
    // span check): longest run of consecutive benchmark 3-gram hits per
    // doc — distinguishes verbatim quotes from scattered hits
    QueryDef("q_overlap_decon",
      (s, dir) => {
        val d = docsT(s, dir)
        Decontaminate.overlapSpans(
          d.where(col("doc_id") % 20 =!= 0), "doc_id", "text",
          d.where(col("doc_id") % 20 === 0), "text", shingleN = 3)
          .orderBy("doc_id")
      },
      Some(s"""WITH t AS (SELECT doc_id, $duckToks AS w FROM documents),
               b AS (SELECT DISTINCT unnest($duckShingles) AS s
                     FROM t WHERE doc_id % 20 = 0),
               ps AS (SELECT doc_id,
                        unnest(generate_series(1, len(w) - 2)) AS pos, w
                      FROM t WHERE doc_id % 20 <> 0 AND len(w) >= 3),
               pss AS (SELECT doc_id, pos,
                         array_to_string(w[pos:pos+2], ' ') AS s FROM ps),
               m AS (SELECT doc_id, pos FROM pss JOIN b USING (s)),
               i AS (SELECT doc_id, pos,
                       pos - ROW_NUMBER() OVER (PARTITION BY doc_id
                         ORDER BY pos) AS isl FROM m),
               r AS (SELECT doc_id, isl, COUNT(*) AS run
                     FROM i GROUP BY doc_id, isl)
             SELECT doc_id, CAST(MAX(run) AS BIGINT) AS max_run,
                    CAST(MAX(run) + 2 AS BIGINT) AS overlap_tokens,
                    CAST(SUM(run) AS BIGINT) AS n_hits
             FROM r GROUP BY doc_id ORDER BY doc_id""")),

    // quality-canonical near-dup resolution: per cluster keep the
    // HIGHEST-QUALITY doc (production policy), not the min id
    QueryDef("q_canonical_pick",
      (s, dir) => Dedup.canonicalPick(docsP(s, dir),
        "doc_id", "text", TextAnalysis.qualityScore(col("text")))
        .orderBy("doc_id"),
      Some(s"""WITH RECURSIVE pairs AS ($nearDupOracle),
               edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
                         UNION SELECT id_b, id_a FROM pairs),
               reach(id, lbl) AS (
                 SELECT DISTINCT src, src FROM edges
                 UNION
                 SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.id),
               comp AS (SELECT id AS doc_id, min(lbl) AS cluster_id
                        FROM reach GROUP BY id),
               q AS (SELECT doc_id, $duckQuality AS quality FROM documents),
               cl AS (SELECT q.doc_id,
                        COALESCE(comp.cluster_id, q.doc_id) AS cluster_id,
                        quality
                      FROM q LEFT JOIN comp USING (doc_id)),
               rep AS (SELECT cluster_id, doc_id AS rep_id FROM
                        (SELECT cluster_id, doc_id,
                           ROW_NUMBER() OVER (PARTITION BY cluster_id
                             ORDER BY quality DESC, doc_id ASC) AS rn FROM cl)
                       WHERE rn = 1)
             SELECT cl.doc_id, cl.cluster_id, rep.rep_id,
                    cl.doc_id = rep.rep_id AS keep, cl.quality
             FROM cl JOIN rep USING (cluster_id) ORDER BY cl.doc_id""")),

    // matryoshka embedding truncation: 16-dim prefix, L2 renorm,
    // retained-energy ratio — map-only, two-step to dodge the
    // quadratic-capture bug class (truncStats materialized first).
    // The renormed prefix is emitted as a comma-joined string of
    // round-6-scaled integers (×1e6 → BIGINT), not a raw array: the
    // driver's checker sorts gate outputs with pandas, which cannot
    // hash array cells — gate outputs must be scalar (GateSchemaLint
    // pins this for every query).
    QueryDef("q_emb_truncate",
      (s, dir) => embT(s, dir)
        .select(col("vec_id"),
          graft.llmops.Similarity.truncStats(col("embedding"), 16).as("__s"),
          col("embedding"))
        .select(col("vec_id"),
          col("__s.norm_t").as("norm_t"), col("__s.energy").as("energy"),
          array_join(transform(
            graft.llmops.Similarity.renorm(col("embedding"), 16,
              col("__s.norm_t")),
            x => round(x * lit(1000000.0)).cast("long").cast("string")),
            ",").as("v"))
        .orderBy("vec_id"),
      Some("""WITH t AS (SELECT vec_id, embedding AS e,
                 list_sum(list_transform(embedding[1:16],
                   x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) AS e2,
                 list_sum(list_transform(embedding,
                   x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) AS f2
               FROM embeddings),
               n AS (SELECT vec_id, e, ROUND(sqrt(e2), 6) AS norm_t,
                       ROUND(CASE WHEN f2 > 0 THEN e2 / f2 ELSE 0.0 END, 6)
                         AS energy
                     FROM t)
             SELECT vec_id, norm_t, energy,
                    array_to_string(list_transform(e[1:16], x ->
                      CAST(ROUND(ROUND(CASE WHEN norm_t > 0
                            THEN CAST(x AS DOUBLE) / norm_t
                            ELSE 0.0 END, 6) * 1000000.0) AS BIGINT)), ',') AS v
             FROM n ORDER BY vec_id""")),

    // per-(source,lang) curation report: doc/token counts, mean
    // quality, global byte-dup incidence — the mixing-decision summary
    QueryDef("q_curation_report",
      (s, dir) => TextAnalysis.curationReport(
        docsP(s, dir), "text", Seq("source", "lang"))
        .orderBy("source", "lang"),
      Some(s"""WITH d AS (SELECT source, lang, text, $duckNormDigest AS dg,
                 $duckQuality AS q, len($duckToks) AS t FROM documents),
               f AS (SELECT source, lang, q, t,
                       COUNT(*) OVER (PARTITION BY dg) > 1 AS dup FROM d)
             SELECT source, lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
                    CAST(SUM(t) AS BIGINT) AS n_tokens,
                    ROUND(CAST(SUM(CAST(q AS DECIMAL(18,6))) AS DOUBLE)
                          / COUNT(*), 6) AS mean_quality,
                    CAST(SUM(CASE WHEN dup THEN 1 ELSE 0 END) AS BIGINT)
                      AS dup_docs
             FROM f GROUP BY source, lang ORDER BY source, lang"""))
  )
}
