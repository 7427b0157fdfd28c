package graft

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.joins.CartesianProductExec
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.catalyst.plans.physical.SinglePartition
import org.scalatest.funsuite.AnyFunSuite

/** Scale regression gate: sweeps EVERY declared gate query, builds its
  * physical plan, and refuses the plan shapes that break at 100 TB —
  * the automation of the per-round manual plan audits:
  *
  *  1. no `CartesianProductExec` anywhere (a broadcast nested-loop join
  *     over a bounded side is fine and planned differently);
  *  2. no unpartitioned `Window` fed by unbounded input — a global
  *     window funnels the whole dataset through one task. The known
  *     bounded sites (post-limit rank windows, size-gated ntile,
  *     nChunks-row prefix sums) are whitelisted BY QUERY with the
  *     justification recorded here; a new global window fails until a
  *     justification is added;
  *  3. single-partition shuffles only where the input is provably
  *     small: below an aggregate (1 row per upstream partition), a
  *     limit, or inside a whitelisted query.
  *
  * AQE is disabled for the lint session so the inspected plan is the
  * concrete initial physical plan, not an adaptive wrapper (at run time
  * AQE only improves on it).
  */
class PlanLintSpec extends AnyFunSuite {
  private val sfDir = "/root/testdata/sf0.001"

  private lazy val spark = {
    SparkFixture.spark // ensure the shared context exists first
    val s = SparkFixture.spark.newSession()
    s.conf.set("spark.sql.adaptive.enabled", "false")
    org.apache.spark.sql.SparkSession.setActiveSession(s)
    s
  }

  /** query → justification for an intentionally-global window. */
  private val globalWindowAllowed: Map[String, String] = Map(
    "q_bm25" -> "rank window runs AFTER the top-k limit (bounded rows)",
    "q_rank_fusion" -> "rank windows guarded: every sub-pipeline carries $limit",
    "q_rank_fusion_details" -> "same guard as q_rank_fusion",
    "q_score_fusion" -> "sub-pipelines carry $limit before the window",
    "q_score_fusion_details" -> "same guard as q_score_fusion",
    "q_score_fusion_expr" -> "same guard as q_score_fusion",
    "q_bucket_auto" -> "ntile over a size-gated input (bucketAuto refuses unbounded)",
    "q_corpus_shuffle" -> "prefix-sum window over nChunks rows only",
    "q_chunk_docs" -> "prefix-sum window over nChunks rows only",
    "q_token_budget" -> "running-total cutoff over an already-sampled slice",
    "q_packing" -> "bin offsets over nBins rows only",
    "q_dsir_hashed" -> "log-ratio totals window over the ≤buckets-row fitted-model table (Dsir.importanceWeights)",
    "q_dsir_sample" -> "same bounded totals window as q_dsir_hashed")

  /** query → justification for a known single-partition funnel that is
    * not below an aggregate/limit in the same stage. */
  private val singlePartitionAllowed: Map[String, String] = Map(
    "q_bucket_auto" -> ("exact-mode ntile sorts through one task BELOW the " +
      "exactThreshold row gate (PipelineCompiler $bucketAuto: >1M rows " +
      "switches to the distributed approx_percentile plan, no window)"))

  /** query → justification for a BroadcastNestedLoopJoin whose broadcast
    * side is NOT a 1-row stats frame. 1-row stats broadcasts (BM25
    * corpus stats, $$SEARCH_META counts, tf-idf totals) are allowed
    * everywhere — they are the join-free scalar-attach idiom; anything
    * else is O(|corpus|·|broadcast|) per-row work and must carry a
    * written bound here (the cosinePairs "bounded query slice" ground-
    * truth contract, Similarity.scala). */
  private val nestedLoopAllowed: Map[String, String] = Map(
    "q_cos_pairs" -> "opt-in exact ground-truth tool; broadcast side is a bounded query slice by contract",
    "q_knn_topk" -> "brute-force baseline; broadcast side is the bounded query set",
    "q_hard_negatives" -> "same bounded query-set broadcast as q_knn_topk; the positives side is an equi anti-join, never broadcast-NLJ",
    "q_hard_negatives_ann" -> "IVF scoring leg: broadcast sides are the bounded query set and the ≤nCells centroid constants (the q_ivf_topk shape); candidate pool capped at the over-fetch budget before the anti-join",
    "q_semantic_decon" -> "broadcast side is the benchmark suite (bounded by definition)",
    "q_decontaminate" -> "broadcast side is the benchmark n-gram set (bounded)",
    "q_emb_dedup" -> "broadcast seed/codebook constants; pair work bounded per cell",
    "q_semdedup" -> "broadcast centroid constants; pair work Σ|cell|² by construction",
    "q_ivf_topk" -> "broadcast side is the QUERY vector set (bounded probe input); corpus side filtered by nearest-cell first",
    "q_ivfpq_topk" -> "same bounded query-set broadcast; corpus ships 8-byte PQ codes only",
    "q_pq_topk" -> "same bounded query-set broadcast over PQ codes",
    "q_ann_recall" -> "recall harness: broadcast sides are the bounded query set (brute-force baseline) and the ≤nCells centroid constants (probe ranking), per budget",
    "q_rrf_fusion" -> "joined sides are the per-list top-k results — each bounded by its $limit (rank-window guard enforces it)",
    "q_score_fusion" -> "same: per-pipeline inputs carry $limit before fusion; stats sides are per-pipeline aggregates")

  /** A plan subtree that provably emits ≤1 row (global aggregate with
    * no grouping keys, or an explicit 1-row limit): broadcasting it is
    * the scalar-attach idiom, never a scale hazard. */
  private def oneRowSide(p: SparkPlan): Boolean =
    collectAll(p).exists {
      case a: org.apache.spark.sql.execution.aggregate.BaseAggregateExec =>
        a.groupingExpressions.isEmpty
      case l: org.apache.spark.sql.execution.GlobalLimitExec =>
        l.limit <= 1
      case _ => false
    }

  private def collectAll(p: SparkPlan): Seq[SparkPlan] =
    (p +: p.children.flatMap(collectAll)) ++
      p.subqueries.flatMap(collectAll) ++
      // a ReusedExchange is a LEAF pointing at an earlier exchange —
      // follow the pointer or a provably-1-row broadcast reused twice
      // reads as an unbounded side (q_lang_mixture's Z reuse hit this)
      (p match {
        case r: org.apache.spark.sql.execution.exchange.ReusedExchangeExec =>
          collectAll(r.child)
        case _ => Nil
      })

  /** true when the subtree below (stopping at nothing — conservative:
    * any aggregate/limit/TakeOrdered below the exchange bounds what
    * reaches the single partition). */
  private def boundedBelow(p: SparkPlan): Boolean =
    collectAll(p).exists {
      case _: org.apache.spark.sql.execution.aggregate.BaseAggregateExec => true
      case _: org.apache.spark.sql.execution.GlobalLimitExec => true
      case _: org.apache.spark.sql.execution.LocalLimitExec => true
      case _: org.apache.spark.sql.execution.TakeOrderedAndProjectExec => true
      case _ => false
    }

  private def lint(name: String, plan: SparkPlan): Seq[String] = {
    val nodes = collectAll(plan)
    val findings = scala.collection.mutable.ArrayBuffer.empty[String]
    nodes.foreach {
      case _: CartesianProductExec =>
        findings += s"$name: CartesianProduct in plan"
      case w: WindowExec if w.partitionSpec.isEmpty =>
        if (!globalWindowAllowed.contains(name))
          findings += s"$name: unpartitioned Window (add a justification " +
            "to globalWindowAllowed if the input is provably bounded)"
      case e: ShuffleExchangeExec if e.outputPartitioning == SinglePartition =>
        if (!boundedBelow(e.child) && !singlePartitionAllowed.contains(name))
          findings += s"$name: single-partition Exchange over unbounded input"
      case j: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec =>
        val broadcastSide = j.buildSide match {
          case org.apache.spark.sql.catalyst.optimizer.BuildLeft => j.left
          case _ => j.right
        }
        if (!oneRowSide(broadcastSide) && !nestedLoopAllowed.contains(name))
          findings += s"$name: nested-loop join with a non-1-row broadcast " +
            "side (add a written bound to nestedLoopAllowed if the side is " +
            "provably bounded)"
      case _ => ()
    }
    findings.toSeq
  }

  // Queries whose BUILDER executes side effects too heavy or stateful
  // for a plan-only sweep (streaming checkpoints, sink writes). Their
  // plans are still audited: the batch result frame they return is
  // linted; these four are excluded only when construction itself
  // cannot run twice in one JVM.
  private val skip: Set[String] = Set.empty

  // directories only: codec jars (snappy-java, zstd-jni) extract their
  // native library to a temp FILE on first use and delete it on exit
  private def tmpDirs(): Set[String] =
    Option(new java.io.File(System.getProperty("java.io.tmpdir")).listFiles())
      .toSet.flatten.filter(_.isDirectory).map(_.getName)

  /** Every declared query built once, in name order (a builder that
    * throws is kept as its error), and the top-level `java.io.tmpdir`
    * directories the builds added. */
  private lazy val sweep
      : (Seq[(String, Either[Throwable, org.apache.spark.sql.DataFrame])], Set[String]) = {
    val before = tmpDirs()
    val built = SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      name -> (try Right(fn(spark, sfDir)) catch { case e: Throwable => Left(e) })
    }
    (built, tmpDirs() -- before)
  }

  test("gate query names are unique across defs") {
    // SparkEntry.queries/oracleSql are name-keyed maps — a duplicate
    // QueryDef name silently SHADOWS the earlier query and its oracle
    // (this bit round 6: a second q_dsir_weights displaced the first)
    val names = SparkEntry.defs.map(_.name)
    val dups = names.groupBy(identity).collect { case (n, g) if g.size > 1 => n }
    assert(dups.isEmpty, s"duplicate gate query names: ${dups.mkString(", ")}")
  }

  test("every gate query output schema is driver-checker-sortable") {
    // The driver's oracle compare loads each gate output with pandas and
    // sorts rows by ALL columns — an array/struct/map-typed column makes
    // that sort crash (numpy.ndarray is unhashable), leaving the row
    // effectively untested (this bit round 6: q_emb_truncate). Gate
    // outputs must therefore be scalar-only; emit vectors as joined
    // strings (q_emb_truncate's ×1e6 BIGINT join) or exploded rows.
    import org.apache.spark.sql.types.{ArrayType, MapType, StructType}
    val failures = scala.collection.mutable.ArrayBuffer.empty[String]
    sweep._1.foreach {
      case (name, Right(df)) =>
        df.schema.fields.foreach { f =>
          f.dataType match {
            case _: ArrayType | _: MapType | _: StructType =>
              failures += s"$name.${f.name}: ${f.dataType.simpleString} is " +
                "not sortable by the driver's pandas checker"
            case _ => ()
          }
        }
      case (name, Left(e)) => failures += s"$name: failed to build: ${e.getMessage}"
    }
    assert(failures.isEmpty, s"\n${failures.mkString("\n")}")
  }

  test("every gate query plans clean at 100 TB shape rules") {
    val failures = scala.collection.mutable.ArrayBuffer.empty[String]
    sweep._1.foreach { case (name, built) =>
      if (!skip(name)) {
        try {
          val df = built.fold(throw _, identity)
          failures ++= lint(name, df.queryExecution.executedPlan)
        } catch {
          case e: Throwable =>
            failures += s"$name: failed to build plan: ${e.getMessage}"
        }
      }
    }
    assert(failures.isEmpty, s"\n${failures.mkString("\n")}")
  }

  test("building every declared query leaves no temp directory outside the staging root") {
    // declared queries take their scratch directories from
    // Staging.scratch, under the per-process root a shutdown hook deletes
    val stray = sweep._2.filterNot(_.startsWith("graft_stage_"))
    assert(stray.isEmpty, s"new java.io.tmpdir directories: ${stray.toSeq.sorted.mkString(", ")}")
  }
}
