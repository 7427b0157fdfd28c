package graft.mql

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.json4s._
import Mql._
import graft.sinks.DocStore

/** `$out` / `$merge` pipeline tails, executed against a [[DocStore]].
  *
  * The reference client REJECTS these stages (bindings/python/
  * pymongoarrow/api.py:235-240) because on a live deployment they run
  * server-side — a user's pipeline ending in `$out`/`$merge` still runs,
  * just not through the Arrow cursor. An engine that replaces the server
  * must therefore implement them; `PipelineCompiler.run` keeps the
  * reference's rejection (parity), and `runWithWrites` is the explicit
  * opt-in that executes the write tail.
  *
  * Semantics implemented (MongoDB manual, `$merge`/`$out`):
  *  - `$out: "coll" | {db, coll}` — atomically replace the target
  *    collection with the pipeline result (staged swap, [[DocStore]]).
  *  - `$merge: {into, on, let, whenMatched, whenNotMatched}` — join the
  *    pipeline result ("new" documents) to the target on the `on` keys:
  *      whenMatched:    replace | keepExisting | merge (default) | fail |
  *                      [update pipeline] ($$new / let vars available)
  *      whenNotMatched: insert (default) | discard | fail
  *    Unmatched TARGET documents always pass through unchanged.
  *
  * Documented deltas from a document store (fixed-schema engine):
  *  - field presence is COLUMN-level: "merge" overlays every column the
  *    source schema declares (a source null overwrites), target-only
  *    columns keep their values; "replace" nulls target-only columns.
  *  - `on`-key uniqueness is not enforced (Mongo requires a unique
  *    index); duplicate keys fan out through the join like any SQL merge.
  *  - `fail` modes are checked BEFORE any write, so a failing merge
  *    leaves the target untouched (stronger than Mongo's mid-write halt).
  *
  * Scale: ONE full-outer shuffle join on the `on` keys; the scalar
  * whenMatched modes lower to a single-pass CASE projection over it (no
  * second scan). The pipeline form splits matched/unmatched branches and
  * re-unions — identical exchanges, so AQE reuses the shuffle.
  */
object WriteStages {
  private[graft] val WriteStageNames = Set("$out", "$merge")

  /** Partition-scoped merge cap: beyond this many touched partitions
    * the pruning predicate (an OR of per-tuple conjunctions) stops
    * paying for itself and the full-collection path runs instead. */
  private val MaxScopedPartitions = 256

  /** Pipeline-form whenMatched may use exactly these stages (Mongo's
    * documented whitelist for the `$merge` update pipeline). */
  private val MergePipelineStages =
    Set("$addFields", "$set", "$project", "$unset", "$replaceRoot", "$replaceWith")

  /** Executes one write stage against `store`; returns the target
    * collection name. `result` is the compiled pipeline prefix. `tags`
    * are committed atomically with the written collection
    * (DocStore.write) — the exactly-once hook for streaming merges. */
  def execute(result: DataFrame, op: String, spec: JValue,
              store: DocStore,
              tags: Map[String, String] = Map.empty,
              atomicCommit: Boolean = false): String = op match {
    case "$out"   => out(result, spec, store, tags)
    case "$merge" => merge(result, spec, store, tags, atomicCommit)
    case other    => throw new MqlException(s"not a write stage: $other")
  }

  /** Target collection of a `$out`/`$merge`-tailed pipeline, without
    * compiling it (pre-flight: replay checks, permissions). None when
    * the pipeline has no write tail. */
  def pipelineTarget(pipelineJson: String): Option[String] =
    (parse(pipelineJson) match {
      case JArray(ss) => ss.lastOption
      case _ => None
    }).collect {
      case JObject(List(("$out", spec))) => collName(spec, "$out")
      case JObject(List(("$merge", spec))) => spec match {
        case JString(coll) => coll
        case JObject(fields) => fields.collectFirst {
          case ("into", v) => collName(v, "$merge.into")
        }.getOrElse(throw new MqlException("$merge: missing 'into'"))
        case other => throw new MqlException(s"$$merge: bad spec $other")
      }
    }

  // ---- $out ---------------------------------------------------------------

  private def collName(v: JValue, ctx: String): String = v match {
    case JString(coll) => coll
    case JObject(fields) =>
      fields.foreach {
        case ("db", _) | ("coll", _) => // a DocStore is a single database
        case (k, _) => throw new MqlException(s"$ctx: unsupported option '$k'")
      }
      fields.collectFirst { case ("coll", JString(c)) => c }
        .getOrElse(throw new MqlException(s"$ctx: missing 'coll'"))
    case other => throw new MqlException(s"$ctx: bad target $other")
  }

  private def out(result: DataFrame, spec: JValue, store: DocStore,
                  tags: Map[String, String]): String = {
    val name = collName(spec, "$out")
    store.write(result, name, tags)
    name
  }

  // ---- $merge -------------------------------------------------------------

  private val SP = "__graft_s_"   // renamed source columns in the joined frame
  private val NewCol = "__graft_new"

  /** `atomicCommit = true` (streaming merges): a PARTITIONED target
    * commits through the single whole-collection staged swap instead of
    * per-partition swaps — overwritePartitions writes its tags after
    * the leaf swaps, so a crash mid-commit would replay a non-idempotent
    * fold against partially-folded partitions and double-count. The
    * single swap is tag-atomic; the cost is a full-collection rewrite
    * per batch, which is the unpartitioned path's cost anyway. Batch
    * (non-streaming) merges keep the partition-scoped fast path: they
    * are not checkpoint-replayed. */
  private def merge(source: DataFrame, spec: JValue, store: DocStore,
                    tags: Map[String, String],
                    atomicCommit: Boolean = false): String = {
    // -- parse the spec ----------------------------------------------------
    val fields = spec match {
      case JString(coll)   => List(("into", JString(coll)))
      case JObject(fs)     => fs
      case other           => throw new MqlException(s"$$merge: bad spec $other")
    }
    var into: Option[String] = None
    var on: Seq[String] = Seq("_id")
    var lets: List[(String, JValue)] = Nil
    // a mode name, or the update pipeline's stages
    var whenMatched: Either[String, List[JValue]] = Left("merge")
    var whenNotMatched: String = "insert"
    fields.foreach {
      case ("into", v) => into = Some(collName(v, "$merge.into"))
      case ("on", JString(f)) => on = Seq(f)
      case ("on", JArray(fs)) => on = fs.map(strValue(_, "$merge.on"))
      case ("let", v) => lets = asObj(v, "$merge.let")
      case ("whenMatched", JString(m)) => whenMatched = Left(m)
      case ("whenMatched", JArray(stages)) => whenMatched = Right(stages)
      case ("whenMatched", v) => throw new MqlException(
        s"$$merge: whenMatched takes a mode name or a pipeline array, " +
          s"got ${FilterTranslator.render(v)}")
      case ("whenNotMatched", JString(m)) => whenNotMatched = m
      case (k, v) => throw new MqlException(s"$$merge: bad option $k: $v")
    }
    val name = into.getOrElse(throw new MqlException("$merge: missing 'into'"))
    if (!Set("insert", "discard", "fail")(whenNotMatched))
      throw new MqlException(s"$$merge: bad whenNotMatched '$whenNotMatched'")
    whenMatched match {
      case Left(m) if !Set("replace", "keepExisting", "merge", "fail")(m) =>
        throw new MqlException(s"$$merge: bad whenMatched '$m'")
      case _ =>
    }
    on.foreach { k =>
      if (k.contains("."))
        throw new MqlException(s"$$merge: dotted on-field '$k' unsupported")
      if (!source.columns.contains(k))
        throw new MqlException(s"$$merge: on-field '$k' missing from pipeline result")
    }

    // -- no existing target: every row is whenNotMatched -------------------
    if (!store.exists(name)) {
      val result = whenNotMatched match {
        case "insert"  => source
        case "discard" => source.limit(0)
        case "fail" =>
          if (!source.isEmpty) throw new MqlException(
            "$merge: whenNotMatched 'fail' and the target does not exist")
          source.limit(0)
      }
      store.write(result, name, tags)
      return name
    }

    // -- partition-scoped merge: when the target is a PARTITIONED
    // collection and the on-keys cover its partition columns, only the
    // partitions the source touches are read (partition-pruned scan)
    // and rewritten (per-partition swap) — a 100 TB collection is
    // never rewritten for a merge that lands in one day's partitions.
    // Falls back to the full-collection path beyond MaxScopedPartitions
    // touched partitions (a huge OR defeats pruning and codegen). The
    // fail modes stay correct under scoping: on-keys cover the
    // partition columns, so a source row's match can only live in its
    // own partition — which the scope always includes.
    val partCols = store.partitionColumnsOf(name)
    val scopedTuples: Option[Seq[org.apache.spark.sql.Row]] =
      if (!atomicCommit && partCols.nonEmpty && partCols.forall(on.contains)) {
        val ts = source.select(partCols.map(col): _*).distinct()
          .limit(MaxScopedPartitions + 1).collect().toSeq
        if (ts.size <= MaxScopedPartitions) Some(ts) else None
      } else None

    val targetAll = store.read(name)
    on.foreach { k =>
      if (!targetAll.columns.contains(k))
        throw new MqlException(s"$$merge: on-field '$k' missing from target '$name'")
    }
    val target = scopedTuples match {
      case Some(tuples) if tuples.nonEmpty =>
        targetAll.where(tuples.map(t =>
          partCols.zipWithIndex.map { case (c, i) =>
            col(c) <=> lit(t.get(i)) }.reduce(_ && _)).reduce(_ || _))
      case Some(_) => targetAll.limit(0) // empty source: no partition touched
      case None => targetAll
    }
    val tCols = target.columns.toSeq
    val sCols = source.columns.toSeq

    // -- source side: let vars (evaluated against the NEW document, as in
    // Mongo), then rename every column so the join is ambiguity-free ------
    // A user-supplied `let` replaces the default {new: "$$ROOT"}.
    val rootStruct = struct(sCols.map(col): _*)
    val letCols = lets.map { case (k, v) =>
      val c = ExprCompiler.compile(v, Map("ROOT" -> rootStruct))
      s"__graft_let_$k" -> c
    }
    val sPrep = source
      .select(sCols.map(c => col(c).as(SP + c)) ++
              letCols.map { case (n, c) => c.as(n) } :+
              lit(true).as(SP + "present"): _*)
    val tPrep = target.withColumn("__graft_t_present", lit(true))

    val joinCond = on.map(k => col(k) <=> col(SP + k)).reduce(_ && _)
    val joined = tPrep.join(sPrep, joinCond, "full_outer")

    val tP = coalesce(col("__graft_t_present"), lit(false))
    val sP = coalesce(col(SP + "present"), lit(false))
    val matched = tP && sP
    val srcOnly = !tP && sP

    // -- fail modes: checked before any write ------------------------------
    if (whenMatched == Left("fail") && !joined.where(matched).isEmpty)
      throw new MqlException("$merge: whenMatched 'fail' and a document matched")
    if (whenNotMatched == "fail" && !joined.where(srcOnly).isEmpty)
      throw new MqlException("$merge: whenNotMatched 'fail' and a document had no match")

    val result = whenMatched match {
      case Left(mode) =>
        // single-pass CASE projection: one shuffle, one output scan
        val outCols = (tCols ++ sCols.filterNot(tCols.contains)).map { c =>
          val sC = if (sCols.contains(c)) col(SP + c) else lit(null)
          val tC = if (tCols.contains(c)) col(c) else lit(null)
          val onMatch = mode match {
            case "replace"      => sC
            case "keepExisting" => tC
            case _              => if (sCols.contains(c)) sC else tC // merge|fail
          }
          when(matched, onMatch).when(srcOnly, sC).otherwise(tC).as(c)
        }
        val kept = if (whenNotMatched == "insert") joined else joined.where(!srcOnly)
        kept.select(outCols: _*)

      case Right(stages) =>
        // update-pipeline form: matched rows carry the old document as
        // top-level columns and the new one as $$new (plus let vars)
        val newStruct = struct(sCols.map(c => col(SP + c).as(c)): _*)
        val matchedDf = joined.where(matched).select(
          tCols.map(col) ++ letCols.map { case (n, _) => col(n) } :+
            newStruct.as(NewCol): _*)
        val env: Map[String, Column] =
          (if (lets.isEmpty) Map("new" -> col(NewCol))
           else lets.map { case (k, _) => k -> col(s"__graft_let_$k") }.toMap)
        val transformed = ExprCompiler.withLetVars(env) {
          stages.foldLeft(matchedDf) { (acc, st) =>
            asObj(st, "$merge.whenMatched stage") match {
              case List((n, sp)) if MergePipelineStages(n) =>
                PipelineCompiler.applyStage(acc, n, sp, _ =>
                  throw new MqlException("$merge pipeline cannot read collections"))
              case List((n, _)) => throw new MqlException(
                s"$$merge: stage $n not allowed in a whenMatched pipeline")
              case other => throw new MqlException(s"bad stage: $other")
            }
          }
        }.drop(NewCol).drop(letCols.map(_._1): _*)
        val tgtOnlyDf = joined.where(!sP).select(tCols.map(col): _*)
        val srcOnlyDf = joined.where(srcOnly)
          .select(sCols.map(c => col(SP + c).as(c)): _*)
        val parts = Seq(tgtOnlyDf, transformed) ++
          (if (whenNotMatched == "insert") Seq(srcOnlyDf) else Nil)
        parts.reduce(_.unionByName(_, allowMissingColumns = true))
    }
    // a partitioned target is ALWAYS rewritten through the partitioned
    // writer (a flat write would destroy the layout); merge never drops
    // rows, so swapping every partition present in `result` IS the full
    // rewrite when the scope didn't prune
    if (partCols.nonEmpty && !atomicCommit)
      store.overwritePartitions(result, name, partCols, tags)
    else store.write(result, name, tags,
      partitionBy = if (partCols.nonEmpty) partCols else Seq.empty)
    name
  }
}
