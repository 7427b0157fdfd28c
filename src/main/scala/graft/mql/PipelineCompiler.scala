package graft.mql

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.json4s._
import Mql._

/** Compiles MQL aggregation pipelines into DataFrame transformations.
  *
  * The reference forwards pipelines verbatim to the server
  * (bindings/python/pymongoarrow/api.py:252) and only rejects
  * $out/$merge tails (api.py:235-240) — that rejection is mirrored here.
  * Every stage lowers to declarative Dataset ops so Catalyst keeps
  * pushdown/pruning/join-selection; nothing drops to RDDs.
  *
  * Scale notes:
  *  - $group/$lookup shuffle on their keys only; map-side partial
  *    aggregation is automatic for all accumulators used here.
  *  - $lookup packs the foreign table once (groupBy foreignField) and
  *    lets AQE broadcast the packed side when small.
  *  - $sort is only safe as a final presentation stage at 100 TB; the
  *    compiler keeps it lazy so a following $limit becomes TakeOrdered.
  */
object PipelineCompiler {
  /** Resolves a collection name ($lookup/$unionWith `from`) to a DataFrame. */
  type TableResolver = String => DataFrame

  /** The query-side analyzer shared by `$search` clause parsing and the
    * `$searchMeta` postings count — EXACTLY the document tokenizer
    * (lowercase whitespace split, empties dropped). One definition so
    * the two can never drift. */
  private def queryTokens(q: String): Seq[String] =
    q.toLowerCase.trim.split("\\s+").filter(_.nonEmpty).toSeq

  private val noTables: TableResolver =
    name => throw new MqlException(s"no table resolver provided for '$name'")

  def run(df: DataFrame, pipelineJson: String): DataFrame =
    run(df, pipelineJson, noTables)

  def run(df: DataFrame, pipelineJson: String, resolve: TableResolver): DataFrame =
    run(df, pipelineJson, resolve, None)

  /** `uniqueKey` is the caller's assertion that the named input column is
    * UNIQUE and NON-NULL per row (Mongo's `_id` collection contract).
    * With it, `$lookup`/`$graphLookup` use the column itself as the
    * regroup row identity instead of `monotonically_increasing_id` +
    * eager `localCheckpoint(true)`: the identity is then stable by
    * construction (pure data, no partition-dependent ids), so the
    * full-input materialization the freeze costs at scale disappears.
    * Uniqueness is tracked conservatively across stages ([[keyAfter]]);
    * any stage that may duplicate rows or rewrite the column drops the
    * assertion and the keyless freeze returns for later lookups.
    * Supplying a column that is NOT unique+non-null attaches match
    * arrays to the wrong rows — same as duplicate `_id`s in Mongo. */
  def run(df: DataFrame, pipelineJson: String, resolve: TableResolver,
          uniqueKey: Option[String]): DataFrame = {
    val stages = parseStages(pipelineJson)
    // mirror reference api.py:235-240: refuse server-side-write tails
    // (runWithWrites is the explicit opt-in that executes them)
    stages.foreach {
      case JObject(List((op, _))) if WriteStages.WriteStageNames(op) =>
        throw new MqlException(s"$op is not supported (reference rejects it too)")
      case _ =>
    }
    uniqueKey.foreach { k =>
      if (!df.columns.contains(k))
        throw new MqlException(s"uniqueKey: no input column '$k'")
    }
    runStages(df, stages, resolve, uniqueKey)
  }

  /** Executes a pipeline ENDING in `$out`/`$merge`: the prefix compiles
    * exactly like [[run]], the write tail executes against `store`
    * ([[WriteStages]] — staged-swap replace / keyed merge). Returns the
    * target collection name. The plain [[run]] keeps the reference
    * client's rejection of these stages (api.py:235-240); this entry is
    * the server-side behavior a standalone engine must supply. */
  def runWithWrites(df: DataFrame, pipelineJson: String,
                    resolve: TableResolver,
                    store: graft.sinks.DocStore,
                    tags: Map[String, String] = Map.empty,
                    atomicCommit: Boolean = false): String = {
    val stages = parseStages(pipelineJson)
    if (stages.isEmpty)
      throw new MqlException("runWithWrites: empty pipeline")
    stages.init.foreach {
      case JObject(List((op, _))) if WriteStages.WriteStageNames(op) =>
        throw new MqlException(s"$op must be the last pipeline stage")
      case _ =>
    }
    stages.last match {
      case JObject(List((op, spec))) if WriteStages.WriteStageNames(op) =>
        WriteStages.execute(runStages(df, stages.init, resolve), op, spec,
          store, tags, atomicCommit)
      case _ => throw new MqlException(
        "runWithWrites: pipeline must end in $out or $merge")
    }
  }

  private def parseStages(pipelineJson: String): List[JValue] =
    parse(pipelineJson) match {
      case JArray(ss) => ss
      case other => throw new MqlException(s"pipeline must be an array, got $other")
    }

  private def runStages(df: DataFrame, stages: List[JValue],
                        resolve: TableResolver,
                        uniqueKey0: Option[String] = None): DataFrame = {
    // $documents replaces the input wholesale, so Mongo (and we) only
    // allow it first
    stages.zipWithIndex.foreach {
      case (JObject(List(("$documents", _))), i) if i > 0 =>
        throw new MqlException("$documents must be the first stage")
      case (JObject(List(("$collStats", _))), i) if i > 0 =>
        throw new MqlException("$collStats must be the first stage")
      case _ =>
    }
    // a $sort immediately before $group makes $first/$last deterministic
    // (compiled to min_by/max_by over the sort key); the unique-key
    // assertion survives only through stages keyAfter proves safe
    stages.zipWithIndex.foldLeft((df, Option.empty[JValue], uniqueKey0)) {
      case ((acc, prevSort, key), (s, i)) =>
      asObj(s, "stage") match {
        case List(("$group", spec)) =>
          // $group rides its own dispatch (prevSort threading) — apply
          // the collation gate here too
          if (FilterCompiler.collationCaseInsensitive)
            throw new MqlException(
              "collation: $group under a case-insensitive collation is " +
                "unsupported (its string grouping equality would silently " +
                "ignore the collation)")
          (group(acc, asObj(spec, "$group"), prevSort), None, None)
        case List((name, spec)) =>
          // remaining stages feed the $lookup foreign-side projection
          // pushdown (LookupPrune); other stages ignore the lookahead
          (applyStage(acc, name, spec, resolve, stages.drop(i + 1), key),
            if (name == "$sort") Some(spec) else None,
            keyAfter(name, spec, key))
        case other => throw new MqlException(s"stage must have exactly one key: $other")
      }
    }._1
  }

  /** Re-executing a plan yields the same ROW SET only when no operator
    * picks an arbitrary subset (limit/offset/sample take whatever arrives
    * first under scheduling) and every expression is deterministic. The
    * unique-key fast path needs this on the id-bearing side — it executes
    * twice (keys + regroup join), and a shifting row set would attach
    * empty arrays to rows the other execution never saw. Checked
    * dynamically at the freeze site, so it also covers nondeterminism in
    * the caller's input plan that stage tracking can't see. */
  private def stableRowSet(df: DataFrame): Boolean = {
    import org.apache.spark.sql.catalyst.plans.logical.{
      GlobalLimit, LocalLimit, Offset, Sample}
    df.queryExecution.analyzed.collectFirst {
      case _: GlobalLimit | _: LocalLimit | _: Sample | _: Offset => ()
      case p if p.expressions.exists(e => !e.deterministic) => ()
    }.isEmpty
  }

  /** Unique-key preservation across one stage: `Some(k)` survives only
    * when the stage provably neither duplicates/creates rows nor
    * rewrites column `k` (whole or a subfield — pruning a subfield of a
    * struct key can collapse distinct values). Conservative: any stage
    * or spec shape not proven safe drops to None, and the keyless
    * localCheckpoint freeze returns for downstream lookups. */
  private def keyAfter(name: String, spec: JValue,
                       key: Option[String]): Option[String] = key.filter { k =>
    def specObj: List[(String, JValue)] =
      scala.util.Try(asObj(spec, name)).getOrElse(Nil)
    def subpath(n: String): Boolean = n == k || n.startsWith(k + ".")
    name match {
      // row-preserving (filter/reorder/prefix), no column rewrites
      case "$match" | "$sort" | "$limit" | "$skip" | "$sample" => true
      case "$addFields" | "$set" => !specObj.exists { case (n, _) => subpath(n) }
      case "$unset" =>
        val paths = spec match {
          case JString(f) => Seq(f)
          case JArray(fs) => fs.collect { case JString(s) => s }
          case _ => Seq(k) // unknown shape: assume it touches the key
        }
        !paths.exists(subpath)
      case "$project" =>
        val fs = specObj
        def on(v: JValue): Option[Boolean] = v match {
          case JBool(b)   => Some(b)
          case JInt(i)    => Some(i != 0)
          case JLong(l)   => Some(l != 0)
          case JDouble(d) => Some(d != 0)
          case _          => None // computed expression
        }
        if (fs.exists { case (n, _) => n != k && n.startsWith(k + ".") }) false
        else {
          // Mongo form detection: any non-_id inclusion/computed entry
          // makes it an inclusion projection
          val inclusion = fs.exists { case (n, v) =>
            n != "_id" && !on(v).contains(false) }
          if (inclusion)
            fs.collectFirst { case (n, v) if n == k => v }.map(on) match {
              case Some(Some(true)) => true // plain {k: 1} — value untouched
              case Some(_) => false         // computed/excluded k
              case None => k == "_id"       // _id rides inclusion by default
            }
          else !fs.exists(_._1 == k)        // exclusion form not naming k
        }
      // row-preserving stages that ADD one output column: safe while the
      // output name is not the key (or a subfield of it)
      case "$lookup" | "$graphLookup" =>
        specObj.collectFirst { case ("as", JString(a)) => a }.exists(!subpath(_))
      case _ => false
    }
  }

  // stages whose STRING EQUALITY semantics a case-insensitive collation
  // must change (grouping keys, join keys): a silently case-sensitive
  // result would be wrong, so they are refused loudly rather than
  // approximated. $match folding and $sort ordering ARE supported —
  // the same contract as the find path.
  private val CollationUnsupportedStages = Set(
    "$group", "$bucket", "$bucketAuto", "$sortByCount",
    "$lookup", "$graphLookup", "$unionWith", "$densify",
    // partitionBy on a string key is grouping equality too — a ci
    // collation would leave the partitions silently case-sensitive
    "$setWindowFields", "$fill")

  private[mql] def applyStage(df: DataFrame, name: String, spec: JValue,
                              resolve: TableResolver,
                              rest: List[JValue] = Nil,
                              uniqueKey: Option[String] = None): DataFrame = {
    if (FilterCompiler.collationCaseInsensitive &&
        CollationUnsupportedStages(name))
      throw new MqlException(
        s"collation: $name under a case-insensitive collation is " +
          "unsupported (its string grouping/join equality would silently " +
          "ignore the collation)")
    applyStage0(df, name, spec, resolve, rest, uniqueKey)
  }

  private def applyStage0(df: DataFrame, name: String, spec: JValue,
                          resolve: TableResolver,
                          rest: List[JValue] = Nil,
                          uniqueKey: Option[String] = None): DataFrame = name match {
    // collection statistics (Mongo: first stage only, like $documents —
    // enforced in runStages). Only the `count` form has engine
    // semantics here; latencyStats/storageStats/queryExecStats are
    // server-process telemetry with no analogue, refused loudly. The
    // count is a declarative 0-key aggregate, so over a graftdocs
    // frame it rides the COUNT(*) metadata pushdown (zero decode).
    case "$collStats" =>
      val fields = asObj(spec, "$collStats")
      fields.collectFirst {
        case (k, _) if k != "count" => throw new MqlException(
          s"$$collStats: only the 'count' form is supported, got '$k'")
      }
      if (!fields.exists(_._1 == "count"))
        throw new MqlException("$collStats: missing 'count'")
      df.groupBy().agg(count(lit(1)).as("count"))

    // literal-document input (Mongo: first stage of a db-level
    // aggregate): replaces the incoming frame entirely
    case "$documents" => spec match {
      case JArray(Nil) => // zero documents, zero columns (no schema to infer)
        df.sparkSession.emptyDataFrame
      case JArray(docs) =>
        val structs = docs.map(d => ExprCompiler.compile(d))
        df.sparkSession.range(1)
          .select(explode(array(structs: _*)).as("__doc"))
          .select(col("__doc.*"))
      case other => throw new MqlException(s"bad $$documents: $other")
    }
    case "$match"   => df.where( // schema visible: array fields get
      // Mongo's implicit array-traversal equality
      FilterCompiler.withSchema(Some(df.schema))(FilterCompiler.compile(spec)))
    case "$limit"   => df.limit(intValue(spec, "$limit"))
    case "$skip"    => df.offset(intValue(spec, "$skip"))
    case "$sort"    =>
      // under a case-insensitive collation, string sort keys fold
      // through lower() with the raw column as tiebreak (the find-path
      // contract); non-string keys are untouched (Mongo: collation
      // never affects non-string comparison)
      val cols =
        if (!FilterCompiler.collationCaseInsensitive) sortCols(spec)
        else asObj(spec, "$sort").flatMap {
          case (k, JInt(d))  => foldedSortKey(df, k, d >= 0)
          case (k, JLong(d)) => foldedSortKey(df, k, d >= 0)
          case (k, o) => throw new MqlException(s"bad sort direction for $k: $o")
        }
      df.orderBy(cols: _*)
    case "$count"   => // Mongo emits NO doc for empty input
      val n = strValue(spec, "$count")
      val sentinel = freshName(Set(n))
      // aggregate + filter under a safe internal name: user names may be
      // anything Mongo allows ("*", backticks, dots) and must not go
      // through Spark's column parser
      df.groupBy().agg(count(lit(1)).as(sentinel)).where(col(sentinel) > 0)
        .withColumnRenamed(sentinel, n)
    case "$project" => project(df, asObj(spec, "$project"))
    case "$addFields" | "$set" =>
      asObj(spec, name).foldLeft(df) { case (acc, (k, e)) =>
        if (k.contains(".")) { // nested target: rebuild the struct in place
          val head = k.substring(0, k.indexOf('.'))
          val rest = k.substring(k.indexOf('.') + 1)
          acc.withColumn(head, col(head).withField(rest, ExprCompiler.compile(e)))
        } else acc.withColumn(k, ExprCompiler.compile(e))
      }
    case "$unset" =>
      val paths = spec match {
        case JString(f) => Seq(f)
        case JArray(fs) => fs.map(strValue(_, "$unset"))
        case other => throw new MqlException(s"bad $$unset: $other")
      }
      val (nested, flat) = paths.partition(_.contains("."))
      nested.foldLeft(df.drop(flat: _*)) { (acc, p) => // nested via dropFields
        val head = p.substring(0, p.indexOf('.'))
        acc.withColumn(head, col(head).dropFields(p.substring(p.indexOf('.') + 1)))
      }
    case "$group"          => group(df, asObj(spec, "$group"), None)
    case "$unwind"         => unwind(df, spec)
    case "$lookup"         => lookup(df, asObj(spec, "$lookup"), resolve, rest,
                                     uniqueKey)
    case "$replaceRoot"    =>
      val root = asObj(spec, "$replaceRoot")
        .collectFirst { case ("newRoot", e) => e }
        .getOrElse(throw new MqlException("$replaceRoot needs newRoot"))
      df.select(ExprCompiler.compile(root).as("__root")).select("__root.*")
    case "$replaceWith"    =>
      df.select(ExprCompiler.compile(spec).as("__root")).select("__root.*")
    case "$sample" =>
      val n = asObj(spec, "$sample").collectFirst { case ("size", s) => intValue(s, "$sample") }
        .getOrElse(throw new MqlException("$sample needs size"))
      df.orderBy(rand(42)).limit(n) // deterministic sample (seeded)
    case "$sortByCount" =>
      df.groupBy(ExprCompiler.compile(spec).as("_id"))
        .agg(count(lit(1)).as("count"))
        .orderBy(desc("count"), asc("_id"))
    case "$unionWith" => spec match {
      case JString(coll) => df.unionByName(resolve(coll), allowMissingColumns = true)
      case JObject(s) =>
        val coll = strValue(s.collectFirst { case ("coll", c) => c }
          .getOrElse(throw new MqlException("$unionWith needs coll")), "$unionWith")
        val other = s.collectFirst { case ("pipeline", JArray(ps)) => ps }
          .map(ps => ps.foldLeft(resolve(coll)) { (acc, st) =>
            asObj(st, "stage") match {
              case List((n2, sp2)) => applyStage(acc, n2, sp2, resolve)
              case o => throw new MqlException(s"bad stage $o")
            }
          }).getOrElse(resolve(coll))
        df.unionByName(other, allowMissingColumns = true)
      case other => throw new MqlException(s"bad $$unionWith: $other")
    }
    case "$bucket"          => bucket(df, asObj(spec, "$bucket"))
    case "$bucketAuto"      => bucketAuto(df, asObj(spec, "$bucketAuto"))
    case "$setWindowFields" => setWindowFields(df, asObj(spec, "$setWindowFields"))
    case "$facet"           => facet(df, asObj(spec, "$facet"), resolve)
    case "$fill"            => fill(df, asObj(spec, "$fill"))
    case "$densify"         => densify(df, asObj(spec, "$densify"))
    case "$graphLookup"     => graphLookup(df, asObj(spec, "$graphLookup"), resolve,
                                           uniqueKey)
    case "$geoNear"         => geoNear(df, asObj(spec, "$geoNear"))
    case "$vectorSearch"    => vectorSearch(df, asObj(spec, "$vectorSearch"), resolve)
    case "$search"          => search(df, asObj(spec, "$search"), resolve)
    case "$searchMeta"      => searchMeta(df, asObj(spec, "$searchMeta"), resolve)
    case "$redact"          => redact(df, spec)
    case "$rankFusion"      => rankFusion(df, asObj(spec, "$rankFusion"), resolve)
    case "$scoreFusion"     => scoreFusion(df, asObj(spec, "$scoreFusion"), resolve)
    case other => throw new MqlException(s"unsupported pipeline stage $other")
  }

  /** The one refusal message for mongod's server-side-JavaScript
    * surface (`$where` / `$function` / `$accumulator`) — named per
    * operator at each site so a user hitting it knows exactly what is
    * excluded and why (SURVEY §2.C lists it as a conscious exclusion:
    * this engine ships no JS runtime). */
  private[mql] val JsOutOfScope =
    "server-side JavaScript is out of scope for this engine (no JS " +
      "runtime) — express the logic with standard MQL operators"

  /** Internal column name guaranteed not to collide with user names. */
  private def freshName(avoid: Set[String]): String = {
    var s = "__graft_n"
    while (avoid(s)) s += "_"
    s
  }

  private def sortCols(spec: JValue): Seq[Column] =
    asObj(spec, "$sort").map {
      case (k, JInt(d))  => if (d >= 0) fieldCol(k).asc else fieldCol(k).desc
      case (k, JLong(d)) => if (d >= 0) fieldCol(k).asc else fieldCol(k).desc
      case (k, other)    => throw new MqlException(s"bad sort direction for $k: $other")
    }

  /** Leaf type of a (possibly dotted) path through the frame's schema;
    * None when any segment is missing or a non-struct is traversed. */
  private[mql] def leafType(df: DataFrame, path: String)
      : Option[org.apache.spark.sql.types.DataType] = {
    import org.apache.spark.sql.types.{DataType, StructType}
    path.split('.').foldLeft(Option(df.schema: DataType)) {
      case (Some(st: StructType), seg) => st.find(_.name == seg).map(_.dataType)
      case _ => None
    }
  }

  private def foldedSortKey(df: DataFrame, k: String, asc: Boolean): Seq[Column] = {
    // Dotted paths resolve to their leaf type so nested string sort keys
    // fold under the collation too (a top-level-only check left "a.b"
    // silently case-sensitive).
    val isStr = leafType(df, k).contains(org.apache.spark.sql.types.StringType)
    val keys = if (isStr) Seq(lower(fieldCol(k)), fieldCol(k)) else Seq(fieldCol(k))
    keys.map(c => if (asc) c.asc else c.desc)
  }

  // ---- $project ----------------------------------------------------------
  // Inclusion specs build a nested tree so dotted paths reconstruct structs
  // (mirrors the reference's projection synthesis, schema.py:68-85, which
  // recurses structs with dotted names).
  private sealed trait ProjNode
  private case class Leaf(c: Column) extends ProjNode
  private case class Branch(children: scala.collection.mutable.LinkedHashMap[String, ProjNode]) extends ProjNode

  private def isIncludeMarker(v: JValue): Boolean = v match {
    case JBool(true) | JInt(_) | JLong(_) | JDouble(_) => v match {
      case JBool(b) => b
      case JInt(i) => i != 0
      case JLong(l) => l != 0
      case JDouble(d) => d != 0
      case _ => false
    }
    case _ => false
  }
  private def isExcludeMarker(v: JValue): Boolean = v match {
    case JBool(false) => true
    case JInt(i) => i == 0
    case JLong(l) => l == 0
    case JDouble(d) => d == 0
    case _ => false
  }

  private def project(df: DataFrame, fields: List[(String, JValue)]): DataFrame = {
    val (idSpecs, rest) = fields.partition(_._1 == "_id")
    // {"_id": 0} alone is an exclusion projection (keep everything else)
    val exclusionMode = rest.forall { case (_, v) => isExcludeMarker(v) } &&
      (rest.nonEmpty || idSpecs.exists { case (_, v) => isExcludeMarker(v) })
    if (exclusionMode) {
      val dropId = idSpecs.exists { case (_, v) => isExcludeMarker(v) }
      val (nested, flat) = rest.map(_._1).partition(_.contains("."))
      val dropped = df.drop(flat ++ (if (dropId) Seq("_id") else Nil): _*)
      nested.foldLeft(dropped) { (acc, p) => // nested exclusion via dropFields
        val head = p.substring(0, p.indexOf('.'))
        val inner = p.substring(p.indexOf('.') + 1)
        acc.withColumn(head, col(head).dropFields(inner))
      }
    } else {
      val root = Branch(scala.collection.mutable.LinkedHashMap.empty)
      def insert(path: List[String], node: Branch, leaf: => Column): Unit = path match {
        case last :: Nil => node.children(last) = Leaf(leaf)
        case head :: tail =>
          val child = node.children.getOrElseUpdate(head,
            Branch(scala.collection.mutable.LinkedHashMap.empty)) match {
            case b: Branch => b
            case _ => throw new MqlException(s"projection path conflict at $head")
          }
          insert(tail, child, leaf)
        case Nil => throw new MqlException("empty projection path")
      }
      // _id included by default when present and not excluded
      val includeId = idSpecs.headOption match {
        case Some((_, v)) => !isExcludeMarker(v)
        case None => df.columns.contains("_id")
      }
      if (includeId && (df.columns.contains("_id") || idSpecs.exists(f => !isIncludeMarker(f._2) && !isExcludeMarker(f._2))))
        idSpecs.headOption match {
          case Some((_, v)) if !isIncludeMarker(v) && !isExcludeMarker(v) =>
            insert(List("_id"), root, ExprCompiler.compile(v))
          case _ => insert(List("_id"), root, fieldCol("_id"))
        }
      rest.foreach { case (path, v) =>
        val segs = path.split('.').toList
        if (isIncludeMarker(v)) insert(segs, root, fieldCol(path))
        else if (isExcludeMarker(v))
          throw new MqlException(s"cannot mix include and exclude: $path")
        else insert(segs, root, ExprCompiler.compile(v))
      }
      def render(n: ProjNode): Column = n match {
        case Leaf(c) => c
        case Branch(ch) => struct(ch.map { case (k, sub) => render(sub).as(k) }.toSeq: _*)
      }
      val cols = root.children.map { case (k, sub) => render(sub).as(k) }.toSeq
      df.select(cols: _*)
    }
  }

  // ---- $group ------------------------------------------------------------
  /** `sortKey`: (struct-of-sort-columns, allAscending) when the group is
    * preceded by a uniform-direction $sort — $first/$last then compile
    * to min_by/max_by (deterministic under shuffle, unlike first/last). */
  /** Accumulator compilation shared by $group and $setWindowFields.
    * `w` attaches a window spec to each RAW aggregate expression (before
    * any post-processing wrapper like transform/element_at — .over()
    * applied to a wrapped Column never reaches the inner aggregate);
    * the $group path passes identity. */
  private def accumulator(op: String, arg: JValue,
                          sortKey: Option[(Column, Boolean)],
                          w: Column => Column = identity): Column = {
    def e = ExprCompiler.compile(arg)
    op match {
      // Mongo $sum: 0 — not null — when no valid value contributes
      // (all-null group, empty window frame)
      case "$sum"       => coalesce(w(sum(e)), lit(0L))
      case "$avg"       => w(avg(e))
      case "$min"       => w(min(e))
      case "$max"       => w(max(e))
      case "$push" => // Mongo keeps nulls in position (collect_list drops)
        transform(w(collect_list(struct(e.isNull.as("n"), e.as("v")))),
          x => when(x.getField("n"), lit(null)).otherwise(x.getField("v")))
      case "$addToSet" => // Mongo's set includes an explicit null
        when(w(max(when(e.isNull, 1).otherwise(0))) === 1,
          array_append(w(collect_set(e)), lit(null)))
          .otherwise(w(collect_set(e)))
      case "$first" => sortKey match {
        case Some((k, asc)) => w(if (asc) min_by(e, k) else max_by(e, k))
        case None => w(first(e, ignoreNulls = false))
      }
      case "$last" => sortKey match {
        case Some((k, asc)) => w(if (asc) max_by(e, k) else min_by(e, k))
        case None => w(last(e, ignoreNulls = false))
      }
      case "$count"     => w(count(lit(1)))
      case "$stdDevPop" => w(stddev_pop(e))
      case "$stdDevSamp" => w(stddev_samp(e))
      // Mongo's document form {input, method}; the bare-expression form
      // is kept as a convenience. method: "approximate" (the only value
      // Mongo accepts) gets EXACT results here — a strictly-more-precise
      // deliberate deviation, same as $percentile below.
      // percentile(0.5) rather than median(): identical exact
      // interpolated semantics, but Spark's median rejects window
      // frames while percentile accepts them — one code path serves
      // the group form, the default window, and explicit frames
      case "$median" => arg match {
        case JObject(spec) if spec.exists(_._1 == "input") =>
          w(percentile(ExprCompiler.compile(
            spec.collectFirst { case ("input", x) => x }.get), lit(0.5)))
        case _ => w(percentile(e, lit(0.5)))
      }
      case "$percentile" => arg match {
        case JObject(spec) =>
          val input = ExprCompiler.compile(spec.collectFirst { case ("input", x) => x }
            .getOrElse(throw new MqlException("$percentile needs input")))
          val ps = spec.collectFirst { case ("p", JArray(vs)) => vs }
            .getOrElse(throw new MqlException("$percentile needs p array"))
            .map {
              case JDouble(p) => p
              case JInt(p) => p.toDouble
              case o => throw new MqlException(s"bad percentile $o")
            }
          // exact interpolated percentile (Spark `percentile` ≡ DuckDB
          // quantile_cont); $percentile always returns an array
          w(percentile(input, array(ps.map(lit): _*)))
        case other => throw new MqlException(s"bad $$percentile: $other")
      }
      // $topN/$bottomN carry their own sortBy → deterministic by spec.
      // Backed by the BoundedTopK TypedImperativeAggregate: O(n) state
      // per group regardless of group size (a collect_list+slice
      // formulation buffers the whole group), map-side partials ship at
      // most n rows per group, mixed sort directions supported (Mongo
      // null order: first ascending, last descending).
      case "$topN" | "$top" | "$bottomN" | "$bottom" => arg match {
        case JObject(spec) =>
          val output = ExprCompiler.compile(spec.collectFirst { case ("output", x) => x }
            .getOrElse(throw new MqlException(s"$op needs output")))
          val sortBy = spec.collectFirst { case ("sortBy", s) => s }
            .getOrElse(throw new MqlException(s"$op needs sortBy"))
          val specs = asObj(sortBy, s"$op sortBy").map {
            case (k, JInt(d))  => (k, d >= 0)
            case (k, JLong(d)) => (k, d >= 0)
            case (k, o) => throw new MqlException(s"bad sort direction for $k: $o")
          }
          val n = spec.collectFirst { case ("n", x) => intValue(x, op) }
            .getOrElse(1)
          if (n < 1) throw new MqlException(s"$op: n must be >= 1, got $n")
          // both families keep sortBy order in the output; $top* keeps the
          // head of that order, $bottom* the tail
          val wantHead = op == "$topN" || op == "$top"
          graft.functions.GraftFunctions.register(
            org.apache.spark.sql.SparkSession.active)
          val keyed = struct(
            (specs.zipWithIndex.map { case ((k, _), i) => fieldCol(k).as(s"__k$i") }
              :+ output.as("__o")): _*)
          val sliced = w(call_function("graft_top_k", keyed, lit(n),
            lit(wantHead), lit(specs.map(s => if (s._2) "1" else "0").mkString(","))))
          if (op == "$top" || op == "$bottom") element_at(sliced, 1) else sliced
        case other => throw new MqlException(s"bad $op: $other")
      }
      // $minN ascending / $maxN descending output order (Mongo), via the
      // same bounded heap as $topN — O(n) state per group
      case "$minN" | "$maxN" => arg match {
        case JObject(spec) =>
          val input = ExprCompiler.compile(spec.collectFirst { case ("input", x) => x }
            .getOrElse(throw new MqlException(s"$op needs input")))
          val n = spec.collectFirst { case ("n", x) => intValue(x, op) }
            .getOrElse(throw new MqlException(s"$op needs n"))
          if (n < 1) throw new MqlException(s"$op: n must be >= 1, got $n")
          graft.functions.GraftFunctions.register(
            org.apache.spark.sql.SparkSession.active)
          // null input → null struct → skipped by the aggregate, matching
          // collect_list's null-dropping (Mongo ignores nulls here)
          w(call_function("graft_top_k",
            when(input.isNotNull, struct(input.as("__k0"), input.as("__o"))),
            lit(n), lit(true), lit(if (op == "$minN") "1" else "0")))
        case other => throw new MqlException(s"bad $op: $other")
      }
      // $firstN/$lastN: first/last n values in document order, nulls
      // KEPT (unlike $minN/$maxN). Deterministic via a preceding uniform
      // $sort (same contract as $first/$last): BoundedTopK over the sort
      // key — O(n) state per group; without a sort, partition order.
      case "$firstN" | "$lastN" => arg match {
        case JObject(spec) =>
          val input = ExprCompiler.compile(spec.collectFirst { case ("input", x) => x }
            .getOrElse(throw new MqlException(s"$op needs input")))
          val n = spec.collectFirst { case ("n", x) => intValue(x, op) }
            .getOrElse(throw new MqlException(s"$op needs n"))
          if (n < 1) throw new MqlException(s"$op: n must be >= 1, got $n")
          val packed = struct(input.isNull.as("n"), input.as("v"))
          def unwrap(arr: Column): Column =
            transform(arr, x =>
              when(x.getField("n"), lit(null)).otherwise(x.getField("v")))
          sortKey match {
            case Some((k, asc)) =>
              graft.functions.GraftFunctions.register(
                org.apache.spark.sql.SparkSession.active)
              val sliced = w(call_function("graft_top_k",
                struct(k.as("__k0"), packed.as("__o")),
                lit(n), lit(op == "$firstN"), lit(if (asc) "1" else "0")))
              unwrap(sliced)
            case None =>
              val lst = unwrap(w(collect_list(packed)))
              if (op == "$firstN") slice(lst, 1, n)
              else when(size(lst) <= n, lst).otherwise(slice(lst, -n, n))
          }
        case other => throw new MqlException(s"bad $op: $other")
      }
      case "$accumulator" => throw new MqlException(
        s"$$accumulator: $JsOutOfScope (use the built-in accumulators)")
      case "$function" => throw new MqlException(
        s"$$function: $JsOutOfScope")
      case other => throw new MqlException(s"unsupported accumulator $other")
    }
  }

  private def group(df: DataFrame, fields: List[(String, JValue)],
                    precedingSort: Option[JValue]): DataFrame = {
    // uniform-direction preceding $sort → deterministic $first/$last key
    val sortKey: Option[(Column, Boolean)] = precedingSort.flatMap { s =>
      val specs = asObj(s, "$sort").map {
        case (k, JInt(d))  => (k, d >= 0)
        case (k, JLong(d)) => (k, d >= 0)
        case (k, o) => throw new MqlException(s"bad sort direction for $k: $o")
      }
      val dirs = specs.map(_._2).distinct
      if (dirs.size == 1)
        Some((struct(specs.map(x => fieldCol(x._1)): _*), dirs.head))
      else None
    }
    val idExpr = fields.collectFirst { case ("_id", e) => e }
      .getOrElse(throw new MqlException("$group requires _id"))
    val accs = fields.filterNot(_._1 == "_id").map {
      case (n, JObject(List((op, arg)))) => accumulator(op, arg, sortKey).as(n)
      case (n, other) => throw new MqlException(s"bad accumulator for $n: $other")
    }
    def agg(g: org.apache.spark.sql.RelationalGroupedDataset): DataFrame = accs match {
      case head :: tail => g.agg(head, tail: _*)
      case Nil => g.agg(count(lit(1)).as("__n")).drop("__n")
    }
    idExpr match {
      case JNull => // global group; Mongo emits NO doc for empty input
        val sentinel = freshName(fields.map(_._1).toSet)
        val all = count(lit(1)).as(sentinel) +: accs
        df.groupBy().agg(all.head, all.tail: _*)
          .where(col(sentinel) > 0).drop(sentinel)
          .select(lit(null).cast(IntegerType).as("_id"), col("*"))
      case JObject(ks) if !isOperatorDoc(ks) =>
        // compound key → struct-valued _id, so "$_id.k" refs resolve
        val keyCols = ks.map { case (k, e) => ExprCompiler.compile(e).as(k) }
        val grouped = df.groupBy(struct(keyCols: _*).as("_id"))
        agg(grouped)
      case e =>
        agg(df.groupBy(ExprCompiler.compile(e).as("_id")))
    }
  }

  // ---- $unwind -----------------------------------------------------------
  private def unwind(df: DataFrame, spec: JValue): DataFrame = {
    val (path, preserve, idxField) = spec match {
      case JString(p) => (p, false, None)
      case JObject(s) =>
        val p = strValue(s.collectFirst { case ("path", x) => x }
          .getOrElse(throw new MqlException("$unwind needs path")), "$unwind")
        val pres = s.collectFirst { case ("preserveNullAndEmptyArrays", JBool(b)) => b }
          .getOrElse(false)
        val idx = s.collectFirst { case ("includeArrayIndex", JString(f)) => f }
        (p, pres, idx)
      case other => throw new MqlException(s"bad $$unwind: $other")
    }
    val fieldName = if (path.startsWith("$")) path.drop(1) else path
    if (fieldName.contains(".")) {
      // one struct level: explode the nested array, then rebuild the
      // struct with the element in place (withField after the generator)
      val segs = fieldName.split('.')
      if (segs.length != 2)
        throw new MqlException(s"$$unwind: path deeper than one struct level: $fieldName")
      val (outer, inner) = (segs(0), segs(1))
      return idxField match {
        case None =>
          val gen = if (preserve) explode_outer(col(fieldName)) else explode(col(fieldName))
          df.withColumn("__graft_unwind", gen)
            .withColumn(outer, col(outer).withField(inner, col("__graft_unwind")))
            .drop("__graft_unwind")
        case Some(ix) if !ix.contains(".") =>
          // posexplode pairs the element with its position; null/empty
          // arrays under preserveNull carry a null index (Mongo contract)
          val gen = if (preserve) posexplode_outer(col(fieldName))
                    else posexplode(col(fieldName))
          df.select((df.columns.map(col) :+
              gen.as(Seq("__graft_pos", "__graft_unwind"))): _*)
            .withColumn(outer, col(outer).withField(inner, col("__graft_unwind")))
            .withColumn(ix, col("__graft_pos").cast(LongType))
            .drop("__graft_pos", "__graft_unwind")
        case Some(ix) => throw new MqlException(
          s"$$unwind: dotted includeArrayIndex target unsupported: $ix")
      }
    }
    val others = df.columns.filterNot(_ == fieldName).map(col)
    idxField match {
      case None =>
        val gen = if (preserve) explode_outer(col(fieldName)) else explode(col(fieldName))
        df.withColumn(fieldName, gen)
      case Some(idx) =>
        val gen = if (preserve) posexplode_outer(col(fieldName)) else posexplode(col(fieldName))
        df.select((others :+ gen.as(Seq(idx, fieldName))): _*)
          .withColumn(idx, col(idx).cast(LongType))
    }
  }

  // ---- $lookup -----------------------------------------------------------
  // Equality form: pack the foreign side per key (one shuffle on the
  // foreign table, one on `df` unless co-partitioned), left join, missing
  // match → empty array (Mongo semantics). AQE broadcasts small packed
  // sides automatically.
  private def lookup(df: DataFrame, spec: List[(String, JValue)],
                     resolve: TableResolver,
                     rest: List[JValue] = Nil,
                     uniqueKey: Option[String] = None): DataFrame = {
    def getOpt(k: String) = spec.collectFirst { case (`k`, x) => x }
      .map(strValue(_, "$lookup"))
    def get(k: String) = getOpt(k)
      .getOrElse(throw new MqlException(s"$$lookup needs $k"))
    val from = get("from"); val as = get("as")
    // correlated form: let + pipeline whose join stage is $match($expr)
    // over $$vars — takes priority over the uncorrelated pipeline fold
    spec.collectFirst { case ("let", JObject(vars)) => vars } match {
      case Some(vars) =>
        val pipe = spec.collectFirst { case ("pipeline", JArray(ps)) => ps }
          .getOrElse(throw new MqlException("$lookup with let needs pipeline"))
        return correlatedLookup(df, resolve(from), as, vars, pipe, resolve,
          rest, uniqueKey)
      case None =>
    }
    // optional uncorrelated sub-pipeline applied to the foreign table
    val fromDf = spec.collectFirst { case ("pipeline", JArray(ps)) => ps }
      .map(_.foldLeft(resolve(from)) { (acc, st) =>
        asObj(st, "lookup pipeline stage") match {
          case List((n2, sp2)) => applyStage(acc, n2, sp2, resolve)
          case o => throw new MqlException(s"bad stage $o")
        }
      }).getOrElse(resolve(from))
    // foreign-side projection pushdown: when the remaining stages prove
    // that only SOME element fields of `as` are consumed (LookupPrune),
    // pack just those columns — the group-by shuffle, the join, and the
    // per-row arrays ship slim structs instead of whole foreign rows.
    // Catalyst cannot prune through collect_list, so it happens here,
    // where the struct is born. `None` keeps the exact previous shape.
    def prunedCols(keyCol: Option[String]): Seq[String] = {
      val avail = fromDf.columns.toSeq
      val kept = for {
        _ <- Option.when(rest.nonEmpty)(())
        fs <- LookupPrune.usedFields(as, rest)
        // every proven field must be a real foreign column (a nested or
        // misattributed name means the proof doesn't apply — keep all)
        if fs.forall(avail.contains)
        keep0 = avail.filter(c => fs.contains(c) || keyCol.contains(c))
        // only the array's LENGTH is consumed (e.g. a lone $size):
        // elements still need one column to exist
        keep = if (keep0.isEmpty) avail.take(1) else keep0
        if keep.length < avail.length
      } yield keep
      kept.getOrElse(avail)
    }
    (getOpt("localField"), getOpt("foreignField")) match {
      case (Some(local), Some(foreign)) =>
        // an ARRAY foreignField also matches by element (Mongo equality
        // over arrays): explode distinct elements into the join key so
        // each foreign doc lands in every element's group; duplicate
        // matches from a both-sides-array join are deduped in the
        // array-local branch below
        val foreignIsArray = fromDf.select(col(foreign)).schema.head.dataType
          .isInstanceOf[org.apache.spark.sql.types.ArrayType]
        val pcols = prunedCols(Some(foreign))
        val pruning = pcols.length < fromDf.columns.length
        // the dedup identity must (a) be assigned BEFORE the array-
        // foreignField explode — copies of one foreign doc (one per
        // matching element) must share it, or array_distinct keeps a
        // doc once per matched element — and (b) be a CONTENT hash of
        // the full row, not a unique row id: the unpruned baseline
        // dedups on whole-row equality, so byte-identical foreign rows
        // collapse to one entry there, and the pruned path must agree
        // (64-bit hash collisions between different rows are the same
        // accepted risk as every hash-dedup path here)
        val fidSource =
          if (pruning) fromDf.withColumn("__graft_fid",
            xxhash64(fromDf.columns.map(col): _*))
          else fromDf
        val foreignKeyed =
          if (foreignIsArray) {
            // a NULL/missing foreign array joins the null group (Mongo's
            // null-equality), but an EMPTY array has no values and must
            // match nothing — explode_outer would emit a null key for it
            // and spuriously attach the doc to null-localField rows
            val et = fromDf.select(col(foreign)).schema.head.dataType
              .asInstanceOf[org.apache.spark.sql.types.ArrayType].elementType
            fidSource.withColumn("__graft_fk",
              explode(when(col(foreign).isNull, array(lit(null).cast(et)))
                .otherwise(array_distinct(col(foreign)))))
          } else fidSource.withColumn("__graft_fk", col(foreign))
        val localIsArray = df.select(col(local)).schema.head.dataType
          .isInstanceOf[org.apache.spark.sql.types.ArrayType]
        if (localIsArray) {
          // Mongo semantics for an ARRAY localField: match foreign docs
          // whose scalar foreignField equals ANY element (no $unwind
          // needed), each matching doc appearing once. Compiled as
          // explode(distinct elements) → hash join on the element →
          // flatten+dedup the per-element match groups back onto the
          // row. A null/empty local array behaves like a null scalar
          // (joins the null-foreignField group), mirroring the
          // null-safe scalar branch below.
          //
          // Under pruning the dedup needs a per-foreign-row identity:
          // array_distinct on projected structs would collapse two
          // DIFFERENT foreign docs whose kept fields happen to be
          // equal. The row id (assigned pre-explode, see fidSource)
          // rides inside the struct through the dedup and is stripped
          // from the final arrays.
          val structCols =
            if (pruning) pcols :+ "__graft_fid" else fromDf.columns.toSeq
          val packed = foreignKeyed
            .groupBy(col("__graft_fk"))
            .agg(collect_list(struct(structCols.map(col): _*)).as(as))
          val elemType = packed.schema(as).dataType
          // the row id feeds BOTH the keys side and the final regroup
          // join. With a caller-asserted unique key the id IS that
          // column — pure data, stable across re-executions, no
          // materialization. Keyless inputs freeze a synthetic id
          // (localCheckpoint) or a nondeterministic upstream ($sample,
          // unsorted $limit, AQE repartition) re-executes with different
          // ids and match arrays attach to the wrong rows.
          val withId = uniqueKey.filter(_ => stableRowSet(df)) match {
            case Some(k) => df.withColumn("__graft_rid", col(k))
            case None => df.withColumn("__graft_rid", monotonically_increasing_id())
              .localCheckpoint(true)
          }
          val keys = withId.select(col("__graft_rid"),
            explode_outer(array_distinct(col(local))).as("__graft_k"))
          val matched = keys
            .join(packed, col("__graft_k") <=> col("__graft_fk"), "inner")
            .groupBy(col("__graft_rid"))
            .agg(array_distinct(flatten(collect_list(col(as)))).as("__graft_m"))
          val full = coalesce(col("__graft_m"), array().cast(elemType))
          val finalArr =
            if (pruning) transform(full, e =>
              struct(pcols.map(c => e.getField(c).as(c)): _*))
            else full
          withId.join(matched, Seq("__graft_rid"), "left")
            .withColumn(as, finalArr)
            .drop("__graft_rid", "__graft_m")
        } else {
          // null-safe equality: Mongo joins null/missing localField to
          // foreign docs whose foreignField is null/missing
          val packed = foreignKeyed
            .groupBy(col("__graft_fk"))
            .agg(collect_list(struct(pcols.map(col): _*)).as(as))
          val elemType = packed.schema(as).dataType
          val joined = df.join(packed, col(local) <=> col("__graft_fk"), "left")
            .drop("__graft_fk")
          joined.withColumn(as, coalesce(col(as), array().cast(elemType)))
        }
      case (None, None) => // whole pipeline result attached to every row
        df.crossJoin(broadcast(
          fromDf.agg(collect_list(struct(prunedCols(None).map(col): _*)).as(as))))
      case _ => throw new MqlException(
        "$lookup needs both localField and foreignField (or neither with pipeline)")
    }
  }

  // ---- correlated $lookup (let + $expr) ----------------------------------
  // Mongo's general correlated lookup: `let` binds left-side expressions,
  // the sub-pipeline joins with {"$match": {"$expr": cond}} over $$vars.
  // Supported shape: any var-free PREFIX stages (applied to the foreign
  // table before the join — filters/projections Catalyst can push down),
  // then exactly one $match($expr) join stage; stages after it are
  // rejected (they would run per left row). Compilation:
  //   - let values materialize as temp columns on the LEFT (so the join
  //     condition never resolves a name ambiguously),
  //   - foreign columns are renamed with a __r_ prefix and the $expr's
  //     `$field` refs are rewritten to match ($$var refs resolve to the
  //     let columns via the compiler env),
  //   - the join runs on the compiled condition — Catalyst extracts any
  //     equality conjuncts as hash-join keys, so the classic
  //     foreign-key-plus-predicate lookup is a plain shuffled (or AQE
  //     broadcast) hash join, not a nested loop,
  //   - matches regroup to Mongo's per-row array on a synthetic row id;
  //     the left side is localCheckpoint'd first so the id assignment is
  //     frozen across the join and the regroup-join branches (on a
  //     cluster: checkpoint, or pass a unique key column instead).
  private def correlatedLookup(df: DataFrame, fromDf: DataFrame, as: String,
                               vars: List[(String, JValue)],
                               pipe: List[JValue],
                               resolve: TableResolver,
                               outerRest: List[JValue] = Nil,
                               uniqueKey: Option[String] = None): DataFrame = {
    def usesVars(v: JValue): Boolean = v match {
      case JString(s)  => s.startsWith("$$")
      case JObject(fs) => fs.exists { case (_, x) => usesVars(x) }
      case JArray(es)  => es.exists(usesVars)
      case _           => false
    }
    val (prefix, rest) = pipe.span(st => !usesVars(st))
    val (joined, suffix) = rest match {
      case JObject(List(("$match", JObject(List(("$expr", cond)))))) :: tail =>
        (cond, tail)
      case JObject(List(("$match", _))) :: _ => throw new MqlException(
        "$lookup let: the correlated $match must use $expr")
      case _ => throw new MqlException(
        "$lookup let: pipeline needs a correlated {$match: {$expr: ...}} stage")
    }
    // suffix stages run per left row over the matched set — they become
    // array operations on the collected match array (no per-row
    // re-execution): $sort → array_sort comparator, $limit/$skip →
    // slice, $project/$unset → element struct rebuild. $$var refs past
    // the join stage would need true per-row pipelines — rejected loudly.
    suffix.find(usesVars).foreach { st => throw new MqlException(
      s"$$lookup let: $$$$var references after the correlated $$match are unsupported: $st") }
    val pre = prefix.foldLeft(fromDf) { (acc, st) =>
      asObj(st, "lookup pipeline stage") match {
        case List((n2, sp2)) => applyStage(acc, n2, sp2, resolve)
        case o => throw new MqlException(s"bad stage $o")
      }
    }
    // rewrite right-side field refs to the prefixed names ($$vars stay;
    // $literal bodies are VERBATIM VALUES — a literal string starting
    // with '$' must not be corrupted into a field reference, the same
    // carve-out $redact's rewrite applies)
    def rewrite(v: JValue): JValue = v match {
      case lit @ JObject(List(("$literal", _))) => lit
      case JString(s) if s.startsWith("$") && !s.startsWith("$$") =>
        JString("$__r_" + s.drop(1))
      case JObject(fs) => JObject(fs.map { case (k, x) => (k, rewrite(x)) })
      case JArray(es)  => JArray(es.map(rewrite))
      case other       => other
    }
    val rightCols = pre.columns.toSeq
    val rightR = rightCols.foldLeft(pre) { (acc, c) =>
      acc.withColumnRenamed(c, "__r_" + c)
    }
    val letCols = vars.map { case (n, e) => s"__let_$n" -> ExprCompiler.compile(e) }
    val left2base = letCols.foldLeft(df) { case (acc, (n, c)) => acc.withColumn(n, c) }
    // a caller-asserted unique key IS the row id (stable by construction,
    // no materialization); keyless inputs freeze a synthetic id — see the
    // array-localField branch for the full rationale
    val left2 = uniqueKey.filter(_ => stableRowSet(left2base)) match {
      case Some(k) => left2base.withColumn("__graft_rowid", col(k))
      case None => left2base.withColumn("__graft_rowid", monotonically_increasing_id())
        .localCheckpoint(true)
    }
    val env = vars.map { case (n, _) => n -> col(s"__let_$n") }.toMap
    val condCol = ExprCompiler.compile(rewrite(joined), env)
    // foreign-side projection pushdown (same analysis as the
    // uncorrelated path): when no suffix stages reshape the elements
    // and the post-lookup stages prove a bounded field set, the
    // collected struct is born slim — Catalyst then prunes the foreign
    // scan to (join-condition fields ∪ kept fields) on its own. No
    // dedup identity needed here: the inner join emits each matching
    // foreign row once per left row.
    val keepCols: Seq[String] =
      if (suffix.nonEmpty || outerRest.isEmpty) rightCols
      else LookupPrune.usedFields(as, outerRest) match {
        case Some(fs) if fs.forall(rightCols.contains) =>
          val k = rightCols.filter(fs.contains)
          if (k.isEmpty) rightCols.take(1) else k
        case _ => rightCols
      }
    val matched0 = left2.join(rightR, condCol, "inner")
      .groupBy(col("__graft_rowid"))
      .agg(collect_list(struct(
        keepCols.map(c => col("__r_" + c).as(c)): _*)).as(as))
    // apply the suffix stages to the match array (fields tracks the
    // element struct shape across $project/$unset rebuilds)
    val (suffixCol, _) = suffix.foldLeft((col(as), keepCols)) {
      case ((arr, fields), st) => asObj(st, "lookup suffix stage") match {
        case List(("$limit", n)) =>
          (slice(arr, 1, intValue(n, "$limit")), fields)
        case List(("$skip", n)) =>
          val k = intValue(n, "$skip")
          (slice(arr, lit(k + 1), greatest(size(arr) - lit(k), lit(0))), fields)
        case List(("$sort", JObject(keys))) =>
          // Mongo sort order: nulls lowest ascending; multi-key
          // comparator folded right-to-left so the first key dominates
          val cmp: (Column, Column) => Column = (l, r) =>
            keys.foldRight(lit(0): Column) { case ((k, dv), acc) =>
              val d = intValue(dv, "$sort direction") // 1 | -1
              val lk = l.getField(k); val rk = r.getField(k)
              when(lk <=> rk, acc)
                .when(lk.isNull, lit(-d)).when(rk.isNull, lit(d))
                .when(lk < rk, lit(-d)).otherwise(lit(d))
            }
          (array_sort(arr, cmp), fields)
        case List(("$project", JObject(fs))) =>
          // Mongo $project semantics: booleans accepted alongside 0/1;
          // the inclusion form keeps _id by default when the element
          // HAS one (exclude with {_id: 0})
          def on(v: JValue): Boolean = v match {
            case JBool(b) => b
            case other => intValue(other, "$project") != 0
          }
          val inclNonId = fs.collect { case (k, v) if k != "_id" && on(v) => k }
          val idOn = fs.collectFirst { case ("_id", v) => on(v) }
          val kept =
            if (inclNonId.nonEmpty) {
              if (idOn.getOrElse(true) && fields.contains("_id"))
                "_id" +: inclNonId
              else inclNonId
            } else { // exclusion form
              val excl = fs.map(_._1).toSet
              fields.filterNot(excl)
            }
          (transform(arr, e =>
            struct(kept.map(k => e.getField(k).as(k)): _*)), kept)
        case List(("$unset", u)) =>
          val excl = (u match {
            case JString(s)  => List(s)
            case JArray(es)  => es.map(strValue(_, "$unset"))
            case other => throw new MqlException(s"bad $$unset: $other")
          }).toSet
          val kept = fields.filterNot(excl)
          (transform(arr, e =>
            struct(kept.map(k => e.getField(k).as(k)): _*)), kept)
        case o => throw new MqlException(
          s"$$lookup let: unsupported stage after the correlated $$match: $o")
      }
    }
    val matched = matched0.withColumn(as, suffixCol)
    val elemType = matched.schema(as).dataType
    left2.join(matched, Seq("__graft_rowid"), "left")
      .withColumn(as, coalesce(col(as), array().cast(elemType)))
      .drop("__graft_rowid" +: letCols.map(_._1): _*)
  }

  // ---- $geoNear ------------------------------------------------------------
  // Geospatial proximity: adds `distanceField` (distance from `near` to
  // the document's point in `key`) and returns documents nearest-first.
  // Mongo resolves the point field from the collection's 2d/2dsphere
  // index, so an index-free engine requires `key` spelled out. GeoJSON
  // `near` (or `spherical: true`) measures meters on MongoDB's sphere
  // (haversine, R = 6378100 m — the same constant as the $search geo
  // operators); legacy [x, y] with `spherical: false` is planar
  // Euclidean in coordinate units. `minDistance`/`maxDistance` bound the
  // RAW distance; `distanceMultiplier` scales only the emitted value.
  // Documents without a 2-element point are dropped (they would not be
  // in the geo index). Mongo additionally requires $geoNear to be the
  // pipeline's first stage — an index artifact this engine deliberately
  // does not reproduce (points built by an earlier $addFields work).
  // Scale shape: one map-side distance expression + bound filters, then
  // ORDER BY distance — range-partitioned like any sort; a following
  // $limit collapses it to TakeOrderedAndProject.
  private def geoNear(df: DataFrame, spec: List[(String, JValue)]): DataFrame = {
    def numOf(v: JValue, ctx: String): Double = v match {
      case JInt(i)     => i.toDouble
      case JLong(l)    => l.toDouble
      case JDouble(d)  => d
      case JDecimal(d) => d.toDouble
      case other => throw new MqlException(s"$ctx: expected a number, got $other")
    }
    val known = Set("near", "distanceField", "key", "spherical",
      "distanceMultiplier", "minDistance", "maxDistance", "includeLocs", "query")
    spec.map(_._1).find(!known.contains(_)).foreach { k =>
      throw new MqlException(s"$$geoNear: unsupported option '$k'") }
    val nearJ = spec.collectFirst { case ("near", v) => v }
      .getOrElse(throw new MqlException("$geoNear needs near"))
    val isGeoJson = nearJ.isInstanceOf[JObject]
    val (cx, cy) = nearJ match {
      case JArray(List(x, y)) =>
        (numOf(x, "$geoNear.near"), numOf(y, "$geoNear.near"))
      case jo: JObject => asObj(jo, "$geoNear.near").collectFirst {
          case ("coordinates", JArray(List(x, y))) =>
            (numOf(x, "$geoNear.near"), numOf(y, "$geoNear.near")) }
        .getOrElse(throw new MqlException(
          "$geoNear.near: GeoJSON Point needs coordinates [lon, lat]"))
      case other => throw new MqlException(
        s"$$geoNear.near: expected [lon, lat] or a GeoJSON Point, got $other")
    }
    val distField = spec.collectFirst { case ("distanceField", JString(s)) => s }
      .getOrElse(throw new MqlException("$geoNear needs distanceField"))
    val key = spec.collectFirst { case ("key", JString(s)) => s }
      .getOrElse(throw new MqlException(
        "$geoNear needs key (no geo index exists to infer the point field)"))
    val spherical = isGeoJson ||
      spec.collectFirst { case ("spherical", JBool(b)) => b }.getOrElse(false)
    val mult = spec.collectFirst { case ("distanceMultiplier", v) =>
      numOf(v, "$geoNear.distanceMultiplier") }
    val minD = spec.collectFirst { case ("minDistance", v) =>
      numOf(v, "$geoNear.minDistance") }
    val maxD = spec.collectFirst { case ("maxDistance", v) =>
      numOf(v, "$geoNear.maxDistance") }
    val includeLocs = spec.collectFirst { case ("includeLocs", JString(s)) => s }
    // nested output targets rebuild the enclosing struct in place, the
    // same shape as $addFields' dotted-path branch
    def setPath(d: DataFrame, path: String, value: Column): DataFrame =
      if (path.contains(".")) {
        val head = path.substring(0, path.indexOf('.'))
        val rest = path.substring(path.indexOf('.') + 1)
        d.withColumn(head, col(head).withField(rest, value))
      } else d.withColumn(path, value)
    val pt  = fieldCol(key)
    val lon = element_at(pt, 1).cast("double")
    val lat = element_at(pt, 2).cast("double")
    val rawDist =
      if (spherical) {
        val a = pow(sin(radians(lat - lit(cy)) / 2), 2) +
          cos(radians(lit(cy))) * cos(radians(lat)) *
            pow(sin(radians(lon - lit(cx)) / 2), 2)
        lit(2.0 * 6378100.0) * asin(sqrt(a))
      } else sqrt(pow(lon - lit(cx), 2) + pow(lat - lit(cy), 2))
    var out = df.where(pt.isNotNull && size(pt) === 2)
    spec.collectFirst { case ("query", q) => q }
      .foreach(q => out = out.where(
        FilterCompiler.withSchema(Some(out.schema))(FilterCompiler.compile(q))))
    minD.foreach(m => out = out.where(rawDist >= lit(m)))
    maxD.foreach(m => out = out.where(rawDist <= lit(m)))
    out = setPath(out, distField,
      mult.map(m => rawDist * lit(m)).getOrElse(rawDist))
    includeLocs.foreach(f => out = setPath(out, f, pt))
    out.orderBy(fieldCol(distField).asc)
  }

  // ---- $bucketAuto -------------------------------------------------------
  // Equal-count buckets. Two plans sharing one shape (assign bucket id →
  // groupBy → min/max/accumulators):
  //  * exact (≤ spark.graft.bucketAuto.exactThreshold rows, default 1M):
  //    ntile over a global sort — exact Mongo semantics; the single-task
  //    window is fine at this size by construction.
  //  * scale (above threshold): approx_percentile boundaries + a
  //    when-chain — fully distributed (one agg pass for boundaries, one
  //    hash agg for output; no window, no global sort). Same statistical
  //    intent, different tie behavior at bucket borders; duplicate
  //    boundary values under heavy skew collapse to fewer buckets, which
  //    matches Mongo's fewer-buckets-than-requested behavior.
  // ---- $rankFusion ---------------------------------------------------------
  // Hybrid search (Mongo 8.1 surface): N named RANKED sub-pipelines run
  // against the same collection; documents fuse by weighted reciprocal
  // rank — score(d) = Σ_p weight_p / (60 + rank_p(d)) — and come back
  // ordered by the fused score ({"$meta": "score"} resolves to it).
  // A sub-pipeline is "ranked" when its last non-$limit/$skip stage is
  // $sort, $search, or $vectorSearch (their orderings define the rank).
  // `idField` names the document identity (extension; Mongo assumes
  // _id). Scale shape: each sub-pipeline is top-k-bounded by its own
  // $limit (at 100 TB, ALWAYS bound them — the rank window is global
  // by definition of "rank"); the fusion itself aggregates
  // k·pipelines rows and joins back by id, which AQE broadcasts.
  private def rankFusion(df: DataFrame, spec: List[(String, JValue)],
                         resolve: TableResolver): DataFrame = {
    val pipelines = spec.collectFirst { case ("input", i) =>
      asObj(i, "$rankFusion.input").collectFirst {
        case ("pipelines", JObject(ps)) => ps }
        .getOrElse(throw new MqlException("$rankFusion.input needs pipelines"))
    }.getOrElse(throw new MqlException("$rankFusion needs input.pipelines"))
    if (pipelines.isEmpty)
      throw new MqlException("$rankFusion needs at least one pipeline")
    def numDouble(v: JValue): Double = v match {
      case JInt(i) => i.toDouble
      case JLong(l) => l.toDouble
      case JDouble(d) => d
      case other => throw new MqlException(s"bad $$rankFusion weight: $other")
    }
    val weights: Map[String, Double] = spec.collectFirst { case ("combination", c) =>
      asObj(c, "$rankFusion.combination").collectFirst {
        case ("weights", JObject(ws)) =>
          ws.map { case (k, v) => k -> numDouble(v) }.toMap }
        .getOrElse(Map.empty[String, Double])
    }.getOrElse(Map.empty[String, Double])
    weights.keys.find(k => !pipelines.exists(_._1 == k)).foreach(k =>
      throw new MqlException(s"$$rankFusion weight for unknown pipeline '$k'"))
    val scoreDetails = spec.exists {
      case ("scoreDetails", JBool(v)) => v; case _ => false }
    val idField = spec.collectFirst { case ("idField", JString(f)) => f }
      .getOrElse("_id")
    // the fused score joins back as a REAL column named `score`
    // ({"$meta": "score"} resolves to it) — refuse a collection that
    // already carries one rather than silently shadowing it
    ("score" +: (if (scoreDetails) Seq("scoreDetails") else Nil)).foreach { c =>
      if (df.columns.contains(c)) throw new MqlException(
        s"$$rankFusion: input already has a '$c' field")
    }
    // the ordering a ranked sub-pipeline ends with (skipping $limit/$skip)
    def rankingKeys(stages: List[JValue]): Seq[Column] = {
      val suffix = stages.reverse.takeWhile {
        case JObject(List((n, _))) => n == "$limit" || n == "$skip"
        case _ => false
      }
      val effective = stages.reverse.drop(suffix.length)
      def requireBounded(bounded: Boolean, what: String): Unit = {
        val hasLimit = suffix.exists {
          case JObject(List(("$limit", _))) => true; case _ => false }
        // rank = row_number over ONE unpartitioned window — by
        // definition of "rank". Safe only because the ranked input is
        // top-k-bounded; an unbounded $sort would funnel the whole
        // collection through a single task, so it is refused (the
        // $bucketAuto/$firstN guard doctrine).
        if (!bounded && !hasLimit) throw new MqlException(
          s"$$rankFusion: $what sub-pipeline needs a bounding $$limit " +
            "(the rank window is global)")
      }
      effective.headOption match {
        case Some(JObject(List(("$sort", s)))) =>
          requireBounded(bounded = false, "$sort-ranked"); sortCols(s)
        case Some(JObject(List(("$search", s)))) =>
          val o = asObj(s, "$search")
          val tie = o.collectFirst { case ("tieBreaker", JString(t)) => t }
            .getOrElse(throw new MqlException(
              "$rankFusion: $search sub-pipeline needs tieBreaker for deterministic ranks"))
          requireBounded(o.exists(_._1 == "limit"), "$search")
          Seq(col("searchScore").desc, fieldCol(tie).asc)
        case Some(JObject(List(("$vectorSearch", s)))) =>
          // $vectorSearch always top-k-bounds (limit is mandatory)
          val tie = asObj(s, "$vectorSearch").collectFirst {
            case ("tieBreaker", JString(t)) => t }
            .getOrElse(throw new MqlException(
              "$rankFusion: $vectorSearch sub-pipeline needs tieBreaker for deterministic ranks"))
          Seq(col("vectorSearchScore").desc, fieldCol(tie).asc)
        case other => throw new MqlException(
          s"$$rankFusion sub-pipelines must end in $$sort/$$search/$$vectorSearch, got $other")
      }
    }
    val contribs = pipelines.map {
      case (name, JArray(stages)) =>
        val out = stages.foldLeft(df) { (acc, st) =>
          asObj(st, "stage") match {
            case List((n2, sp2)) => applyStage(acc, n2, sp2, resolve)
            case o => throw new MqlException(s"bad stage $o")
          }
        }
        val w = weights.getOrElse(name, 1.0)
        out.withColumn("__rf_r",
            row_number().over(Window.orderBy(rankingKeys(stages): _*)))
          .select(fieldCol(idField).as("__rf_id"),
            (lit(w) / (lit(60.0) + col("__rf_r"))).as("__rf_c"),
            lit(name).as("__rf_p"), col("__rf_r").cast("long").as("__rf_rank"),
            lit(w).as("__rf_w"))
      case (name, other) =>
        throw new MqlException(s"$$rankFusion pipeline '$name' must be an array, got $other")
    }
    // Mongo's scoreDetails shape: {value, description, details:
    // [{inputPipelineName, rank, weight, value}]}, details ordered by
    // pipeline name (array_sort on the struct's leading field)
    val detailAggs =
      if (scoreDetails) Seq(array_sort(collect_list(struct(
        col("__rf_p").as("inputPipelineName"), col("__rf_rank").as("rank"),
        col("__rf_w").as("weight"), round(col("__rf_c"), 6).as("value"))))
        .as("__rf_details"))
      else Nil
    val fused = contribs.reduce(_.unionByName(_))
      .groupBy(col("__rf_id"))
      .agg(round(sum(col("__rf_c")), 6).as("__rf_score"), detailAggs: _*)
    val joined = df.join(fused, fieldCol(idField) === fused("__rf_id"))
      .drop("__rf_id")
      .withColumnRenamed("__rf_score", "score")
    val out = if (!scoreDetails) joined
      else joined.withColumn("scoreDetails", struct(
          col("score").as("value"),
          lit("value output by reciprocal rank fusion algorithm, computed as " +
            "sum of (weight * (1 / (60 + rank))) across input pipelines")
            .as("description"),
          col("__rf_details").as("details")))
        .drop("__rf_details")
    out.orderBy(col("score").desc, fieldCol(idField).asc)
  }

  // ---- $scoreFusion --------------------------------------------------------
  // Hybrid search on raw SCORES (Mongo 8.2 surface), the companion to
  // $rankFusion's rank-based recipe: N named SCORED sub-pipelines
  // (ending in $search or $vectorSearch, whose score columns define the
  // input) normalize per pipeline — `none`, `sigmoid`
  // (1/(1+e^-score)), or `minMaxScaler` (per-pipeline [0,1] rescale; a
  // constant pipeline maps to 1) — then fuse as the weighted
  // combination.method = "avg": score(d) = Σ_p w_p·norm_p(d) / P with
  // P = pipeline count and a missing document contributing 0.
  // Scale shape: better than $rankFusion — no rank window at all; each
  // sub-pipeline is already top-k-bounded, minMaxScaler adds one 1-row
  // min/max agg per pipeline (broadcast), fusion aggregates k·P rows
  // and joins back by id (AQE broadcasts).
  private def scoreFusion(df: DataFrame, spec: List[(String, JValue)],
                          resolve: TableResolver): DataFrame = {
    val inputSpec = spec.collectFirst { case ("input", i) =>
      asObj(i, "$scoreFusion.input") }
      .getOrElse(throw new MqlException("$scoreFusion needs input"))
    val pipelines = inputSpec.collectFirst { case ("pipelines", JObject(ps)) => ps }
      .getOrElse(throw new MqlException("$scoreFusion.input needs pipelines"))
    if (pipelines.isEmpty)
      throw new MqlException("$scoreFusion needs at least one pipeline")
    val normalization = inputSpec.collectFirst {
      case ("normalization", JString(n)) => n }.getOrElse("none")
    if (!Set("none", "sigmoid", "minMaxScaler").contains(normalization))
      throw new MqlException(
        s"$$scoreFusion: unsupported normalization '$normalization'")
    def numDouble(v: JValue): Double = v match {
      case JInt(i) => i.toDouble
      case JLong(l) => l.toDouble
      case JDouble(d) => d
      case other => throw new MqlException(s"bad $$scoreFusion weight: $other")
    }
    val combo = spec.collectFirst { case ("combination", c) =>
      asObj(c, "$scoreFusion.combination") }.getOrElse(Nil)
    val method = combo.collectFirst { case ("method", JString(m)) => m }
      .getOrElse("avg")
    if (!Set("avg", "expression").contains(method)) throw new MqlException(
      s"$$scoreFusion: unsupported combination.method '$method'")
    // custom combination: scores referenced as $$<pipelineName> vars;
    // a document absent from a pipeline contributes 0 (Mongo contract)
    val comboExpr: Option[JValue] =
      combo.collectFirst { case ("expression", e) => e }
    if (method == "expression" && comboExpr.isEmpty) throw new MqlException(
      "$scoreFusion: combination.method 'expression' needs combination.expression")
    if (method != "expression" && comboExpr.nonEmpty) throw new MqlException(
      "$scoreFusion: combination.expression requires method 'expression'")
    val weights: Map[String, Double] = combo.collectFirst {
      case ("weights", JObject(ws)) =>
        ws.map { case (k, v) => k -> numDouble(v) }.toMap }
      .getOrElse(Map.empty[String, Double])
    if (method == "expression" && weights.nonEmpty) throw new MqlException(
      "$scoreFusion: combination.weights cannot be used with method 'expression'")
    weights.keys.find(k => !pipelines.exists(_._1 == k)).foreach(k =>
      throw new MqlException(s"$$scoreFusion weight for unknown pipeline '$k'"))
    val scoreDetails = spec.exists {
      case ("scoreDetails", JBool(v)) => v; case _ => false }
    val idField = spec.collectFirst { case ("idField", JString(f)) => f }
      .getOrElse("_id")
    ("score" +: (if (scoreDetails) Seq("scoreDetails") else Nil)).foreach { c =>
      if (df.columns.contains(c)) throw new MqlException(
        s"$$scoreFusion: input already has a '$c' field")
    }
    // the score column a scored sub-pipeline ends with ($limit/$skip
    // tails allowed); $search must be bounded, $vectorSearch always is
    def scoreColOf(stages: List[JValue]): String = {
      val effective = stages.reverse.dropWhile {
        case JObject(List((n, _))) => n == "$limit" || n == "$skip"
        case _ => false
      }
      effective.headOption match {
        case Some(JObject(List(("$search", s)))) =>
          val bounded = asObj(s, "$search").exists(_._1 == "limit") ||
            stages.exists { case JObject(List(("$limit", _))) => true; case _ => false }
          if (!bounded) throw new MqlException(
            "$scoreFusion: $search sub-pipeline needs a bounding limit")
          "searchScore"
        case Some(JObject(List(("$vectorSearch", _)))) => "vectorSearchScore"
        case other => throw new MqlException(
          s"$$scoreFusion sub-pipelines must end in $$search/$$vectorSearch " +
            s"(scored), got $other")
      }
    }
    val contribs = pipelines.map {
      case (name, JArray(stages)) =>
        val out = stages.foldLeft(df) { (acc, st) =>
          asObj(st, "stage") match {
            case List((n2, sp2)) => applyStage(acc, n2, sp2, resolve)
            case o => throw new MqlException(s"bad stage $o")
          }
        }
        val w = weights.getOrElse(name, 1.0)
        val raw = out.select(fieldCol(idField).as("__sf_id"),
          col(scoreColOf(stages)).cast("double").as("__sf_raw"))
        val norm = normalization match {
          case "none" => raw.withColumn("__sf_n", col("__sf_raw"))
          case "sigmoid" => raw.withColumn("__sf_n",
            lit(1.0) / (lit(1.0) + exp(-col("__sf_raw"))))
          case _ => // minMaxScaler: 1-row min/max agg, broadcast back
            raw.crossJoin(broadcast(raw.agg(
                min(col("__sf_raw")).as("__sf_min"),
                max(col("__sf_raw")).as("__sf_max"))))
              .withColumn("__sf_n",
                when(col("__sf_max") > col("__sf_min"),
                  (col("__sf_raw") - col("__sf_min")) /
                    (col("__sf_max") - col("__sf_min")))
                  .otherwise(lit(1.0)))
              .drop("__sf_min", "__sf_max")
        }
        norm.select(col("__sf_id"), (lit(w) * col("__sf_n")).as("__sf_c"),
          lit(name).as("__sf_p"), round(col("__sf_raw"), 6).as("__sf_rawv"),
          lit(w).as("__sf_w"), round(col("__sf_n"), 6).as("__sf_nv"))
      case (name, other) =>
        throw new MqlException(s"$$scoreFusion pipeline '$name' must be an array, got $other")
    }
    val nPipes = pipelines.length
    val detailAggs =
      if (scoreDetails) Seq(array_sort(collect_list(struct(
        col("__sf_p").as("inputPipelineName"),
        col("__sf_rawv").as("inputPipelineRawScore"),
        col("__sf_w").as("weight"), col("__sf_nv").as("value"))))
        .as("__sf_details"))
      else Nil
    val union = contribs.reduce(_.unionByName(_)).groupBy(col("__sf_id"))
    val fused = method match {
      case "avg" =>
        union.agg(
          round(sum(col("__sf_c")) / lit(nPipes.toDouble), 6).as("__sf_score"),
          detailAggs: _*)
      case _ => // expression: pivot per-pipeline normalized scores, then
        // evaluate the user combination with $$<name> bound to each
        // (absent pipeline → 0.0); one aggregate, no extra shuffle
        val perPipe = pipelines.zipWithIndex.map { case ((name, _), i) =>
          sum(when(col("__sf_p") === name, col("__sf_c"))).as(s"__sf_v_$i")
        }
        val agged = union.agg(perPipe.head, (perPipe.tail ++ detailAggs): _*)
        val env = pipelines.zipWithIndex.map { case ((name, _), i) =>
          name -> coalesce(col(s"__sf_v_$i"), lit(0.0))
        }.toMap
        agged.withColumn("__sf_score",
            round(ExprCompiler.compile(comboExpr.get, env).cast("double"), 6))
          .drop(pipelines.indices.map(i => s"__sf_v_$i"): _*)
    }
    val joined = df.join(fused, fieldCol(idField) === fused("__sf_id"))
      .drop("__sf_id")
      .withColumnRenamed("__sf_score", "score")
    val out = if (!scoreDetails) joined
      else joined.withColumn("scoreDetails", struct(
          col("score").as("value"),
          lit(if (method == "avg")
            "value output by score fusion algorithm, computed as the " +
              "weighted average of normalized sub-pipeline scores"
          else
            "value output by score fusion algorithm, computed by the " +
              "custom combination.expression over normalized sub-pipeline scores")
            .as("description"),
          col("__sf_details").as("details")))
        .drop("__sf_details")
    out.orderBy(col("score").desc, fieldCol(idField).asc)
  }

  // ---- $redact -------------------------------------------------------------
  // Level-wise document redaction: the condition expression evaluates at
  // the root, at every STRUCT-typed field, and at every element of an
  // array of documents (recursively), with field paths rebinding to the
  // level under inspection — Mongo's "$field" ≡ "$$CURRENT.field"
  // contract, realized by rewriting the condition ONCE to explicit
  // $$CURRENT references and compiling it with CURRENT bound to the
  // level's Column (which also works inside array-transform lambdas,
  // where no field path could address the element). $$PRUNE drops the
  // row (root) / nulls the subdoc / removes the array element; $$KEEP
  // freezes the subtree verbatim; $$DESCEND keeps this level's scalars
  // and recurses into its subdocuments. Everything is a pure Column
  // expression — a row filter plus struct/array rebuilds, zero shuffles.
  // Residual restrictions (documented): directly-nested arrays of
  // arrays of documents are kept verbatim, and a literal null array
  // ELEMENT is dropped like a pruned one (Spark's filter cannot
  // distinguish them post-transform).
  private def redact(df: DataFrame, cond: JValue): DataFrame = {
    val P = "__graft_prune"; val D = "__graft_descend"; val K = "__graft_keep"
    val sysEnv = Map("PRUNE" -> lit(P), "DESCEND" -> lit(D), "KEEP" -> lit(K))
    // "$path" → "$$CURRENT.path" (vars "$$..." and $literal bodies excluded)
    def rewrite(v: JValue): JValue = v match {
      case JString(s) if s.startsWith("$$") => v
      case JString(s) if s.startsWith("$") => JString("$$CURRENT." + s.drop(1))
      case JObject(List(("$literal", _))) => v
      case JObject(fields) => JObject(fields.map { case (k, x) => (k, rewrite(x)) })
      case JArray(es) => JArray(es.map(rewrite(_)))
      case other => other
    }
    val condCur = rewrite(cond)
    def guard(c0: Column): Column = {
      // compare as string: a non-string decision value must reach the
      // $redact diagnostic below, not die in an isin type-coercion cast
      val c = c0.cast("string")
      when(c.isin(P, D, K), c).otherwise(raise_error(concat(
        lit("$redact expression must return $$PRUNE/$$DESCEND/$$KEEP, got "),
        coalesce(c, lit("null")))))
    }
    def decision(current: Column): Column =
      guard(ExprCompiler.compile(condCur, sysEnv + ("CURRENT" -> current)))
    // redact one value under a parent DESCEND
    def redactValue(child: Column, dt: DataType): Column = dt match {
      case cst: StructType =>
        val d = decision(child)
        when(child.isNull, child) // a null subdoc stays null
          .when(d === lit(P), lit(null).cast(dt))
          .when(d === lit(K), child)
          .otherwise(descend(child, cst))
      case ArrayType(est: StructType, _) =>
        when(child.isNull, child).otherwise(
          filter(transform(child, x => {
            val d = decision(x)
            when(x.isNull, lit(null).cast(est))
              .when(d === lit(P), lit(null).cast(est))
              .when(d === lit(K), x)
              .otherwise(descend(x, est))
          }), v => v.isNotNull))
      case _ => child
    }
    def descend(structCol: Column, st: StructType): Column =
      struct(st.fields.toIndexedSeq.map(f =>
        redactValue(structCol.getField(f.name), f.dataType).as(f.name)): _*)
    val rootCurrent = struct(df.columns.toIndexedSeq.map(col): _*)
    // the root condition keeps its original field paths (plus CURRENT,
    // so explicit $$CURRENT works at the root too)
    val d0 = guard(ExprCompiler.compile(cond, sysEnv + ("CURRENT" -> rootCurrent)))
    val kept = df.withColumn("__graft_d0", d0)
      .where(col("__graft_d0") =!= lit(P))
    val redacted = df.schema.fields.foldLeft(kept) { (acc, f) =>
      f.dataType match {
        case _: StructType | ArrayType(_: StructType, _) =>
          acc.withColumn(f.name,
            when(col("__graft_d0") === lit(K), col(f.name))
              .otherwise(redactValue(col(f.name), f.dataType)))
        case _ => acc
      }
    }
    redacted.drop("__graft_d0")
  }

  /** Lucene wildcard pattern → anchored Java regex (* = any run,
    * ? = one char, everything else literal). */
  private def wildRx(q: String): String =
    "^" + q.flatMap {
      case '*' => ".*"
      case '?' => "."
      case c if "\\.[]{}()<>+-=!$^|".contains(c) => "\\" + c
      case c => c.toString
    } + "$"

  /** $search.queryString expression tree (Lucene query-string
    * mini-grammar): terms, quoted phrases, optional `field:` prefixes,
    * AND / OR / NOT (upper-case, Lucene's operators), parentheses.
    * Semantics follow Lucene's classic QueryParser FLAT occurrence
    * model, not a binary operator tree: each parenthesis level is a
    * clause list where NOT marks its clause prohibited, AND marks BOTH
    * its neighbors required, and everything else is optional (bare
    * adjacency = OR, Lucene's default operator). A level matches when
    * every required clause matches, no prohibited clause matches, and —
    * if there are no required clauses — at least one optional does; a
    * pure-negative level matches nothing (Lucene's contract). A term
    * containing * or ? becomes a wildcard leaf (constant-score, like
    * the wildcard operator). Field defaults resolve at compile time
    * against `defaultPath`. */
  private sealed trait QsNode
  private object QsNode {
    case class QLevel(required: Seq[QsNode], optional: Seq[QsNode],
                      prohibited: Seq[QsNode]) extends QsNode
    case class QTerm(field: Option[String], term: String) extends QsNode
    case class QPhrase(field: Option[String], terms: Seq[String]) extends QsNode
    case class QWild(field: Option[String], regex: String) extends QsNode
  }

  /** One positive-polarity enumeration pass: kind 0 = term (BM25),
    * 1 = phrase (BM25), 2 = wildcard (constant score). Leaves under a
    * NOT never score (Lucene: prohibited clauses contribute no score). */
  private case class QsLeaf(idx: Int, path: String, terms: Seq[String],
                            kind: Int, positive: Boolean)
  private def qsLeaves(tree: QsNode, dp: String): IndexedSeq[QsLeaf] = {
    val buf = scala.collection.mutable.ArrayBuffer[QsLeaf]()
    def walk(n: QsNode, pos: Boolean): Unit = n match {
      case QsNode.QLevel(req, opt, proh) =>
        (req ++ opt).foreach(walk(_, pos))
        proh.foreach(walk(_, pos = false))
      case QsNode.QTerm(f, t)    =>
        buf += QsLeaf(buf.length, f.getOrElse(dp), Seq(t), 0, pos)
      case QsNode.QPhrase(f, ts) =>
        buf += QsLeaf(buf.length, f.getOrElse(dp), ts, 1, pos)
      case QsNode.QWild(f, rx)   =>
        buf += QsLeaf(buf.length, f.getOrElse(dp), Seq(rx), 2, pos)
    }
    walk(tree, pos = true)
    buf.toIndexedSeq
  }

  private def parseQueryString(q: String): QsNode = {
    sealed trait Tok
    case object LP extends Tok; case object RP extends Tok
    case object TAnd extends Tok; case object TOr extends Tok
    case object TNot extends Tok
    case class TAtom(field: Option[String], text: String, phrase: Boolean) extends Tok
    val toks = scala.collection.mutable.ArrayBuffer[Tok]()
    val n = q.length
    var i = 0
    def quoted(ctx: String): String = {
      i += 1; val s = i
      while (i < n && q(i) != '"') i += 1
      if (i >= n) throw new MqlException(s"$$search.queryString: unterminated phrase")
      val body = q.substring(s, i); i += 1
      body
    }
    def word(): String = {
      val s = i
      while (i < n && !q(i).isWhitespace && q(i) != '(' && q(i) != ')' &&
             q(i) != ':' && q(i) != '"') i += 1
      q.substring(s, i)
    }
    while (i < n) {
      val c = q(i)
      if (c.isWhitespace) i += 1
      else if (c == '(') { toks += LP; i += 1 }
      else if (c == ')') { toks += RP; i += 1 }
      else if (c == '"') toks += TAtom(None, quoted("phrase"), phrase = true)
      else {
        val w = word()
        if (w.isEmpty) throw new MqlException(
          s"$$search.queryString: unexpected '${q(i)}'")
        if (w == "AND") toks += TAnd
        else if (w == "OR") toks += TOr
        else if (w == "NOT") toks += TNot
        else if (i < n && q(i) == ':') {
          i += 1
          if (i < n && q(i) == '"') toks += TAtom(Some(w), quoted(w), phrase = true)
          else {
            val t = word()
            if (t.isEmpty) throw new MqlException(
              s"$$search.queryString: missing term after '$w:'")
            toks += TAtom(Some(w), t, phrase = false)
          }
        } else toks += TAtom(None, w, phrase = false)
      }
    }
    var p = 0
    def peek: Option[Tok] = if (p < toks.length) Some(toks(p)) else None
    def atomNode(a: TAtom): QsNode =
      if (a.phrase) {
        val ts = a.text.toLowerCase.trim.split("\\s+").filter(_.nonEmpty).toSeq
        if (ts.isEmpty) throw new MqlException("$search.queryString: empty phrase")
        QsNode.QPhrase(a.field, ts)
      }
      else if (a.text.exists(ch => ch == '*' || ch == '?'))
        QsNode.QWild(a.field, wildRx(a.text.toLowerCase))
      else QsNode.QTerm(a.field, a.text.toLowerCase)
    // one parenthesis level = a clause list with occurrence flags
    def level(): QsNode = {
      case class Item(andBefore: Boolean, not: Boolean, node: QsNode)
      val items = scala.collection.mutable.ArrayBuffer[Item]()
      var go = true
      while (go) {
        var andBefore = false
        peek match {
          case Some(TAnd) if items.nonEmpty => andBefore = true; p += 1
          case Some(TOr) if items.nonEmpty => p += 1
          case _ =>
        }
        var not = false
        while (peek.contains(TNot)) { not = !not; p += 1 }
        peek match {
          case Some(LP) =>
            p += 1; val e = level()
            if (!peek.contains(RP))
              throw new MqlException("$search.queryString: expected ')'")
            p += 1; items += Item(andBefore, not, e)
          case Some(a: TAtom) =>
            p += 1; items += Item(andBefore, not, atomNode(a))
          case other =>
            if (andBefore || not || peek.exists(t => t == TAnd || t == TOr))
              throw new MqlException(
                s"$$search.queryString: dangling operator before ${other.map(_.toString).getOrElse("end of query")}")
            go = false
        }
      }
      if (items.isEmpty)
        throw new MqlException("$search.queryString: empty clause group")
      // AND marks both neighbors required; NOT wins over required
      val req = Array.fill(items.length)(false)
      items.zipWithIndex.foreach { case (it, i) =>
        if (it.andBefore) { req(i - 1) = true; req(i) = true } }
      val grouped = items.zipWithIndex.map { case (it, i) =>
        val occ = if (it.not) 2 else if (req(i)) 1 else 0
        (occ, it.node) }
      QsNode.QLevel(
        grouped.collect { case (1, nd) => nd }.toSeq,
        grouped.collect { case (0, nd) => nd }.toSeq,
        grouped.collect { case (2, nd) => nd }.toSeq)
    }
    val tree = level()
    if (p < toks.length)
      throw new MqlException("$search.queryString: trailing tokens")
    tree
  }

  // ---- $search (text/phrase/equals/range/wildcard + compound) --------------
  // Atlas Search's lexical stage:
  //   {"$search": {"text": {"query": "spark window", "path": "text"}}}
  //   {"$search": {"phrase": {"query": "spark query", "path": "text"}}}
  //   {"$search": {"compound": {"must": [...], "should": [...],
  //                             "mustNot": [...], "filter": [...]}}}
  // Operators:
  //  * text — matches documents containing ≥1 query token, scored by
  //    BM25 (k1=1.2, b=0.75, the Lucene defaults Atlas inherits).
  //  * phrase — the query tokens as a CONSECUTIVE subsequence of the
  //    path's token stream (Lucene PhraseQuery, slop 0), scored by BM25
  //    with the phrase as one pseudo-term (tf = occurrence count,
  //    df = docs containing the phrase).
  //  * equals / range — null-safe field comparison / open-or-closed
  //    numeric-string-date bounds; constant score 1 (Lucene's
  //    constant-score rewrite for non-scoring predicates).
  //  * wildcard — Lucene wildcard pattern (* = any run, ? = one char)
  //    against ANALYZED terms (allowAnalyzedField semantics): matches
  //    when any token matches the anchored pattern; constant score 1.
  //  * autocomplete — search-as-you-type: the query's leading tokens as
  //    an exact consecutive run with the last token a PREFIX of the
  //    following doc token; constant score 1 (the edge-gram index is a
  //    physical detail — prefix-on-analyzed-terms is its semantics).
  //  * in / exists — set membership (null-safe) / field presence;
  //    constant score 1.
  // Compound semantics (Lucene BooleanQuery): every `must` and every
  // `filter` clause matches, no `mustNot` clause matches, and when
  // there is no must/filter at least one `should` must; the score is
  // the sum of matching must/should clause scores — `filter` never
  // contributes score. Appended as `searchScore` ({"$meta":
  // "searchScore"} resolves to it). Optional `limit` bounds the result
  // (ORDER BY + LIMIT → TakeOrdered); `tieBreaker` orders equal scores
  // (same extension as $vectorSearch).
  //
  // Plan shape — deliberately JOIN-FREE on the document side: the corpus
  // statistics BM25 needs (one N/avgdl pair per scored path, one df per
  // scored term/phrase) are query-sized, so they aggregate into ONE row
  // in ONE corpus pass that broadcast-cross-joins back; per-document
  // tf/length are pure Column expressions over per-path token arrays
  // materialized once in the scoring scan. The corpus is scanned twice
  // (stats, scoring) and shuffles nothing but the 1-row stats frame.
  // N and avgdl count only documents with ≥1 token on the path —
  // matching bm25TopK, whose doc-length frame is built from exploded
  // tokens (a zero-token doc contributes no rows there).
  private def search(df: DataFrame, spec: List[(String, JValue)],
                     resolve: TableResolver = noTables): DataFrame = {
    val (k1, b) = (1.2, 0.75)
    // "synonyms": query-time term expansion through a synonym mapping
    // collection (Atlas: {mappingType: equivalent|explicit, input?,
    // synonyms}). The dictionary is a bounded driver-side constant —
    // expansion is query REWRITING, not per-document work, exactly how a
    // search engine applies synonym graphs at analysis time; the corpus
    // never sees a join.
    def expandSynonyms(terms: Seq[String], mapping: String, ctx: String): Seq[String] = {
      val dict = resolve(mapping)
      val rows = dict.limit(100001).collect()
      if (rows.length > 100000) throw new MqlException(
        s"$ctx.synonyms: mapping '$mapping' exceeds 100k entries")
      def strSeq(r: org.apache.spark.sql.Row, f: String): Seq[String] =
        if (r.schema.fieldNames.contains(f) && !r.isNullAt(r.fieldIndex(f)))
          r.getSeq[String](r.fieldIndex(f)).map(_.toLowerCase)
        else Seq.empty
      terms.flatMap { t =>
        t +: rows.toSeq.flatMap { r =>
          val syns = strSeq(r, "synonyms")
          r.getAs[String]("mappingType") match {
            case "equivalent" => if (syns.contains(t)) syns else Nil
            case "explicit" => if (strSeq(r, "input").contains(t)) syns else Nil
            case other => throw new MqlException(
              s"$ctx.synonyms: unsupported mappingType '$other'")
          }
        }
      }.distinct
    }
    // ---- analyzers ------------------------------------------------------
    // Analysis is an INDEX-side contract in Atlas (per-field analyzers on
    // the index definition; default lucene.standard). Engine surface:
    //  - an index built with per-path analyzers (TextIndex.build) carries
    //    them as kind='analyzer' rows; naming it via `index` applies them
    //    to BOTH document tokenization and query analysis;
    //  - the stage-level "analyzer" option mirrors the index-definition
    //    default-analyzer slot for index-less corpus-pass queries;
    //  - a stage analyzer that DISAGREES with a loaded index's declared
    //    analyzer refuses — scoring standard-analyzed queries against
    //    whitespace-analyzed statistics would silently mis-score.
    // The engine default stays the historical lowercase whitespace
    // tokenizer (graft.whitespace) so pre-analyzer indexes keep working.
    // the option value is a plain name OR an inline custom-analyzer
    // document ({tokenizer, tokenFilters}); both normalize to the
    // canonical string form the index rows store, so equality between
    // stage and index is spelling-independent
    val stageAnalyzer: Option[String] =
      spec.collectFirst {
        case ("analyzer", JString(a)) => a
        case ("analyzer", o: JObject) =>
          org.json4s.jackson.JsonMethods.compact(
            org.json4s.jackson.JsonMethods.render(o))
      }.map(a => graft.llmops.Analyzers.normalize(a, "$search.analyzer"))
    val loadedIndex: Option[(String, DataFrame)] =
      spec.collectFirst { case ("index", JString(nm)) => nm }.flatMap { nm =>
        (try Some(resolve(nm)) catch { case _: Exception => None }).map { idf =>
          val have = idf.columns.toSet
          if (!Set("kind", "path", "term", "df", "n_docs", "avgdl").subsetOf(have))
            throw new MqlException(s"$$search.index: '$nm' resolves to a " +
              "collection without text-index columns " +
              "(kind/path/term/df/n_docs/avgdl) — not a text index")
          (nm, idf)
        }
      }
    val indexAnalyzers: Map[String, String] = loadedIndex
      .map { case (_, idf) => graft.llmops.TextIndex.indexAnalyzers(idf) }
      .getOrElse(Map.empty)
    def analyzerOf(path: String): String = {
      val fromIdx = loadedIndex.map { case (nm, _) =>
        (nm, indexAnalyzers.getOrElse(path, graft.llmops.Analyzers.Default)) }
      (stageAnalyzer, fromIdx) match {
        case (Some(s), Some((nm, i))) if s != i => throw new MqlException(
          s"$$search.analyzer '$s' disagrees with index '$nm', which " +
            s"declares analyzer '$i' for path '$path' — query and index " +
            "analysis must agree (rebuild the index or drop the option)")
        case (s, i) =>
          s.orElse(i.map(_._2)).getOrElse(graft.llmops.Analyzers.Default)
      }
    }
    def analyzerFolds(path: String): Boolean =
      graft.llmops.Analyzers.lowercases(analyzerOf(path))
    // operators whose analysis contract is their own (autocomplete's
    // edge-grams, queryString's parser-lowercased terms, highlight's
    // passage scan) run on the DEFAULT analyzer only — a non-default
    // analyzer on their path refuses rather than silently mis-scoring
    def requireDefaultAnalyzer(path: String, ctx: String): Unit = {
      val a = analyzerOf(path)
      if (a != graft.llmops.Analyzers.Default) throw new MqlException(
        s"$ctx: path '$path' is analyzed with '$a'; this operator " +
          "supports only the default analyzer (graft.whitespace)")
    }
    sealed trait SClause { def path: String }
    // fuzzy = (maxEdits, prefixLength): Lucene FuzzyQuery's two knobs
    case class TextCl(terms: Seq[String], path: String,
                      fuzzy: Option[(Int, Int)] = None,
                      matchAll: Boolean = false) extends SClause
    case class PhraseCl(terms: Seq[String], path: String,
                        slop: Int = 0) extends SClause
    case class EqualsCl(path: String, value: Column) extends SClause
    case class RangeCl(path: String, bounds: Seq[(String, Column)]) extends SClause
    case class WildcardCl(path: String, regex: String) extends SClause
    case class AutoCl(terms: Seq[String], path: String) extends SClause
    case class InCl(path: String, values: Seq[Column]) extends SClause
    case class ExistsCl(path: String) extends SClause
    case class NearCl(path: String, origin: Double, pivot: Double) extends SClause
    case class RegexCl(path: String, regex: String) extends SClause
    // geo shapes are query-time constants; the doc path must resolve to
    // a GeoJSON-style [lon, lat] point stored as array<numeric>
    sealed trait GShape
    case class GBox(x1: Double, y1: Double, x2: Double, y2: Double) extends GShape
    case class GCircle(cx: Double, cy: Double, r: Double) extends GShape
    case class GPolygon(vs: Seq[(Double, Double)]) extends GShape
    // relation: "within" (geoWithin and geoShape within/intersects —
    // identical for point fields) or "disjoint" (the complement over
    // docs that HAVE the field)
    case class GeoCl(path: String, shape: GShape, relation: String) extends SClause
    // embeddedDocument: some element of the array-of-documents at
    // `path` satisfies `pred`; score aggregates constant-1 element
    // scores (`sum` = matching-element count, the Atlas default;
    // maximum/minimum/mean collapse to 1 under constant element scores —
    // the embedded-BM25 index statistics Atlas keeps per nested doc are
    // an index-side artifact this engine does not reproduce)
    case class EmbCl(path: String, pred: Column => Column,
                     agg: String) extends SClause
    case class QsCl(path: String, tree: QsNode) extends SClause
    // moreLikeThis: per like-doc field, the distinct analyzed terms
    case class MltCl(fields: Seq[(String, Seq[String])]) extends SClause {
      def path: String = fields.head._1
    }
    def obj(v: JValue, ctx: String) = asObj(v, ctx)
    def pathOf(o: List[(String, JValue)], ctx: String): String =
      o.collectFirst { case ("path", JString(x)) => x }
        .getOrElse(throw new MqlException(s"$ctx needs path"))
    def queryOf(o: List[(String, JValue)], ctx: String): String =
      o.collectFirst { case ("query", JString(x)) => x }
        .getOrElse(throw new MqlException(s"$ctx needs query"))
    // the same analyzer the document side uses for this path (default:
    // lowercase whitespace split, empties dropped)
    def qTokens(q: String, ctx: String, path: String): Seq[String] = {
      val t = graft.llmops.Analyzers.queryTerms(analyzerOf(path), q)
      if (t.isEmpty) throw new MqlException(s"$ctx: empty query")
      t
    }
    def litOf(v: JValue, ctx: String): Column = v match {
      case JString(s) => lit(s)
      case JInt(i)    => lit(i.toLong)
      case JLong(l)   => lit(l)
      case JDouble(d) => lit(d)
      case JBool(x)   => lit(x)
      case JNull      => lit(null)
      case other => throw new MqlException(s"$ctx: unsupported value $other")
    }
    // per-clause score option: {"score": {"boost": {"value": w}}} scales
    // the clause's BM25/constant score; {"constant": {"value": k}}
    // replaces it with k for matching docs (Atlas's two modifiers)
    case class Cl(c: SClause, boost: Double, constant: Option[Double],
                  fn: Option[JValue] = None)
    def numOf(v: JValue, ctx: String): Double = v match {
      case JInt(i) => i.toDouble
      case JLong(l) => l.toDouble
      case JDouble(d) => d
      case other => throw new MqlException(s"$ctx: expected a number, got $other")
    }
    def scoreOpt(o: List[(String, JValue)], ctx: String): (Double, Option[Double]) =
      o.collectFirst { case ("score", sv) => obj(sv, s"$ctx.score") match {
        case List(("boost", b)) =>
          (obj(b, s"$ctx.score.boost").collectFirst { case ("value", x) =>
            numOf(x, s"$ctx.score.boost") }
            .getOrElse(throw new MqlException(s"$ctx.score.boost needs value")), None)
        case List(("constant", c)) =>
          (1.0, Some(obj(c, s"$ctx.score.constant").collectFirst { case ("value", x) =>
            numOf(x, s"$ctx.score.constant") }
            .getOrElse(throw new MqlException(s"$ctx.score.constant needs value"))))
        case List(("function", _)) => (1.0, None) // attached by parseClause
        case _ => throw new MqlException(
          s"$ctx.score supports boost, constant, or function")
      }}.getOrElse((1.0, None))
    // score.function rides OUTSIDE the per-operator parse: extract it
    // here once and attach to whatever clause the branch built
    def parseClause(v: JValue, ctx: String): Cl = {
      val cl = parseClause0(v, ctx)
      val fn = v match {
        case JObject(List((_, t))) => t match {
          case JObject(fs) => fs.collectFirst { case ("score", JObject(ss)) =>
            ss.collectFirst { case ("function", f) => f } }.flatten
          case _ => None
        }
        case _ => None
      }
      fn.map(f => cl.copy(fn = Some(f))).getOrElse(cl)
    }
    def parseClause0(v: JValue, ctx: String): Cl = obj(v, ctx) match {
      case List(("text", t)) =>
        val o = obj(t, "$search.text")
        val (b, k) = scoreOpt(o, "$search.text")
        // fuzzy: a doc token matches a query term when their edit
        // distance is ≤ maxEdits (default 2) and they share the first
        // prefixLength chars (default 0). maxExpansions is accepted and
        // ignored — it caps the candidate-term set Lucene expands the
        // query into, an index-side physical detail; matching against
        // analyzed terms directly is its semantics without the cap.
        val fuzzy = o.collectFirst { case ("fuzzy", fv) =>
          val fo = obj(fv, "$search.text.fuzzy")
          fo.foreach { case (fk, _) =>
            if (!Set("maxEdits", "prefixLength", "maxExpansions").contains(fk))
              throw new MqlException(
                s"$$search.text.fuzzy: unsupported option '$fk'") }
          val me = fo.collectFirst { case ("maxEdits", x) =>
            intValue(x, "$search.text.fuzzy.maxEdits") }.getOrElse(2)
          if (me < 1 || me > 2)
            throw new MqlException("$search.text.fuzzy.maxEdits must be 1 or 2")
          val pl = fo.collectFirst { case ("prefixLength", x) =>
            intValue(x, "$search.text.fuzzy.prefixLength") }.getOrElse(0)
          if (pl < 0)
            throw new MqlException("$search.text.fuzzy.prefixLength must be >= 0")
          (me, pl)
        }
        val tPath = pathOf(o, "$search.text")
        val baseTerms =
          qTokens(queryOf(o, "$search.text"), "$search.text", tPath).distinct
        val terms = o.collectFirst { case ("synonyms", JString(m)) => m } match {
          case Some(m) =>
            if (fuzzy.isDefined) throw new MqlException(
              "$search.text: synonyms cannot combine with fuzzy (Atlas rule)")
            if (!analyzerFolds(tPath)) throw new MqlException(
              "$search.text: synonyms require a case-folding analyzer " +
                s"(path '$tPath' uses '${analyzerOf(tPath)}')")
            expandSynonyms(baseTerms, m, "$search.text")
          case None => baseTerms
        }
        val matchAll = o.collectFirst { case ("matchCriteria", JString(m)) =>
          m match {
            case "any" => false
            case "all" => true
            case other => throw new MqlException(
              s"$$search.text.matchCriteria must be 'any' or 'all', got '$other'")
          }
        }.getOrElse(false)
        Cl(TextCl(terms, tPath, fuzzy, matchAll), b, k)
      case List(("phrase", t)) =>
        val o = obj(t, "$search.phrase")
        val (b, k) = scoreOpt(o, "$search.phrase")
        val slop = o.collectFirst { case ("slop", x) =>
          intValue(x, "$search.phrase.slop") }.getOrElse(0)
        if (slop < 0) throw new MqlException("$search.phrase.slop must be >= 0")
        // order matters and repeats are positions, so NOT distinct
        val phPath = pathOf(o, "$search.phrase")
        Cl(PhraseCl(qTokens(queryOf(o, "$search.phrase"), "$search.phrase",
          phPath), phPath, slop), b, k)
      case List(("equals", t)) =>
        val o = obj(t, "$search.equals")
        val value = o.collectFirst { case ("value", x) => x }
          .getOrElse(throw new MqlException("$search.equals needs value"))
        val (b, k) = scoreOpt(o, "$search.equals")
        Cl(EqualsCl(pathOf(o, "$search.equals"), litOf(value, "$search.equals")), b, k)
      case List(("range", t)) =>
        val o = obj(t, "$search.range")
        val bounds = o.collect {
          case (k @ ("gt" | "gte" | "lt" | "lte"), x) =>
            k -> litOf(x, s"$$search.range.$k") }
        if (bounds.isEmpty)
          throw new MqlException("$search.range needs gt/gte/lt/lte")
        val (b, k) = scoreOpt(o, "$search.range")
        Cl(RangeCl(pathOf(o, "$search.range"), bounds), b, k)
      case List(("wildcard", t)) =>
        val o = obj(t, "$search.wildcard")
        val (b, k) = scoreOpt(o, "$search.wildcard")
        // the pattern matches ANALYZED terms: fold it only when the
        // path's analyzer folds (a case-preserving analyzer must match
        // case-sensitively)
        val wPath = pathOf(o, "$search.wildcard")
        val wq = queryOf(o, "$search.wildcard")
        Cl(WildcardCl(wPath,
          wildRx(if (analyzerFolds(wPath)) wq.toLowerCase else wq)), b, k)
      case List(("regex", t)) =>
        // Lucene regex against ANALYZED terms (allowAnalyzedField
        // semantics, same stance as wildcard): matches when any token
        // matches the anchored pattern, case-insensitively (tokens are
        // lowercased by analysis); constant score 1
        val o = obj(t, "$search.regex")
        val q = queryOf(o, "$search.regex")
        try java.util.regex.Pattern.compile(q)
        catch { case e: java.util.regex.PatternSyntaxException =>
          throw new MqlException(s"$$search.regex: bad pattern — ${e.getMessage}") }
        val (b, k) = scoreOpt(o, "$search.regex")
        // (?i) only under a folding analyzer — case-preserving terms
        // must match case-sensitively
        val rPath = pathOf(o, "$search.regex")
        val ci = if (analyzerFolds(rPath)) "(?i)" else ""
        Cl(RegexCl(rPath, s"$ci^(?:$q)$$"), b, k)
      case List(("queryString", t)) =>
        val o = obj(t, "$search.queryString")
        val dp = o.collectFirst { case ("defaultPath", JString(x)) => x }
          .getOrElse(throw new MqlException("$search.queryString needs defaultPath"))
        val (b, k) = scoreOpt(o, "$search.queryString")
        // the queryString grammar lowercases its terms at parse time —
        // its leaves run on the default analyzer only
        val qsTree = parseQueryString(queryOf(o, "$search.queryString"))
        qsLeaves(qsTree, dp).map(_.path).distinct.foreach(p =>
          requireDefaultAnalyzer(p, "$search.queryString"))
        Cl(QsCl(dp, qsTree), b, k)
      case List(("moreLikeThis", t)) =>
        // representative-terms extraction simplified to ALL analyzed
        // terms of every string field in the like documents (Atlas
        // selects a top subset; the full set is deterministic and
        // errs toward recall) — scored as a text disjunction per field
        val o = obj(t, "$search.moreLikeThis")
        val likeDocs: Seq[JValue] = o.collectFirst {
          case ("like", JArray(xs)) => xs }
          .orElse(o.collectFirst { case ("like", jo: JObject) => Seq(jo: JValue) })
          .getOrElse(throw new MqlException("$search.moreLikeThis needs like"))
        val acc = scala.collection.mutable.LinkedHashMap[String, Vector[String]]()
        likeDocs.foreach { d =>
          asObj(d, "$search.moreLikeThis.like").foreach {
            case (f, JString(text)) =>
              acc(f) = acc.getOrElse(f, Vector()) ++
                graft.llmops.Analyzers.queryTerms(analyzerOf(f), text)
            case (f, other) => throw new MqlException(
              s"$$search.moreLikeThis.like.$f must be a string, got $other")
          }
        }
        val fields = acc.toSeq.map { case (f, ts) => (f, ts.distinct.toSeq) }
          .filter(_._2.nonEmpty)
        if (fields.isEmpty)
          throw new MqlException("$search.moreLikeThis: like documents have no terms")
        val (b, k) = scoreOpt(o, "$search.moreLikeThis")
        Cl(MltCl(fields), b, k)
      case List(("autocomplete", t)) =>
        val o = obj(t, "$search.autocomplete")
        val (b, k) = scoreOpt(o, "$search.autocomplete")
        // Atlas autocomplete fields carry their own edge-gram analyzer:
        // an index path analyzed with the autocomplete shape (default
        // chain + edgeGram, Analyzers.autocompleteGrams) is the
        // accelerated form — candidates come from the gram postings
        // while match/score keep default-token semantics, so results
        // are identical to the corpus pass. Any OTHER non-default
        // analyzer would silently change prefix semantics — refuse.
        val aPath = pathOf(o, "$search.autocomplete")
        if (graft.llmops.Analyzers.autocompleteGrams(analyzerOf(aPath))
              .isEmpty)
          requireDefaultAnalyzer(aPath, "$search.autocomplete")
        // the query analyzes with the DEFAULT chain in both forms (the
        // gram expansion belongs to the index side only)
        val qts = graft.llmops.Analyzers.queryTerms(
          graft.llmops.Analyzers.Default, queryOf(o, "$search.autocomplete"))
        if (qts.isEmpty)
          throw new MqlException("$search.autocomplete: empty query")
        Cl(AutoCl(qts, aPath), b, k)
      case List(("in", t)) =>
        val o = obj(t, "$search.in")
        val vs = o.collectFirst { case ("value", JArray(xs)) =>
            xs.map(litOf(_, "$search.in")) }
          .orElse(o.collectFirst { case ("value", x) =>
            Seq(litOf(x, "$search.in")) })
          .getOrElse(throw new MqlException("$search.in needs value"))
        val (b, k) = scoreOpt(o, "$search.in")
        Cl(InCl(pathOf(o, "$search.in"), vs), b, k)
      case List(("exists", t)) =>
        val o = obj(t, "$search.exists")
        val (b, k) = scoreOpt(o, "$search.exists")
        Cl(ExistsCl(pathOf(o, "$search.exists")), b, k)
      case List(("near", t)) =>
        // numeric proximity: score = pivot / (pivot + |value - origin|)
        // (Atlas's distance-decay contract; numeric origins only — the
        // date form is the same formula over epoch millis)
        val o = obj(t, "$search.near")
        val origin = o.collectFirst { case ("origin", x) =>
          numOf(x, "$search.near.origin") }
          .getOrElse(throw new MqlException("$search.near needs origin"))
        val pivot = o.collectFirst { case ("pivot", x) =>
          numOf(x, "$search.near.pivot") }
          .getOrElse(throw new MqlException("$search.near needs pivot"))
        if (pivot <= 0) throw new MqlException("$search.near: pivot must be > 0")
        val (b, k) = scoreOpt(o, "$search.near")
        Cl(NearCl(pathOf(o, "$search.near"), origin, pivot), b, k)
      case List(("geoWithin", t)) =>
        val o = obj(t, "$search.geoWithin")
        val (b, k) = scoreOpt(o, "$search.geoWithin")
        Cl(GeoCl(pathOf(o, "$search.geoWithin"),
          geoWithinShape(o, "$search.geoWithin"), "within"), b, k)
      case List(("geoShape", t)) =>
        // for point fields `within` and `intersects` coincide (a point
        // intersects a polygon iff it lies inside it); `contains` would
        // need the INDEXED side to be a polygon — rejected, the engine's
        // geo fields are points
        val o = obj(t, "$search.geoShape")
        val rel = o.collectFirst { case ("relation", JString(r)) => r }
          .getOrElse(throw new MqlException("$search.geoShape needs relation"))
        val rel2 = rel match {
          case "within" | "intersects" => "within"
          case "disjoint" => "disjoint"
          case other => throw new MqlException(
            s"$$search.geoShape: unsupported relation '$other' (point fields " +
              "support within/intersects/disjoint)")
        }
        val geom = o.collectFirst { case ("geometry", g) => g }
          .getOrElse(throw new MqlException("$search.geoShape needs geometry"))
        val (b, k) = scoreOpt(o, "$search.geoShape")
        Cl(GeoCl(pathOf(o, "$search.geoShape"),
          geoGeometry(geom, "$search.geoShape.geometry"), rel2), b, k)
      case List(("embeddedDocument", t)) =>
        val o = obj(t, "$search.embeddedDocument")
        val p = pathOf(o, "$search.embeddedDocument")
        val opSpec = o.collectFirst { case ("operator", x) => x }
          .getOrElse(throw new MqlException(
            "$search.embeddedDocument needs operator"))
        // score.embedded.aggregate (sum|maximum|minimum|mean); boost/
        // constant modifiers also accepted via the shared scoreOpt path
        val agg = o.collectFirst { case ("score", sv) =>
          obj(sv, "$search.embeddedDocument.score") }.flatMap(_.collectFirst {
            case ("embedded", ev) =>
              obj(ev, "$search.embeddedDocument.score.embedded").collectFirst {
                case ("aggregate", JString(a)) => a }.getOrElse("sum") })
        agg.foreach { a =>
          if (!Set("sum", "maximum", "minimum", "mean").contains(a))
            throw new MqlException(
              s"$$search.embeddedDocument: unsupported aggregate '$a'") }
        val (b, k) = if (agg.isDefined) (1.0, None)
          else scoreOpt(o, "$search.embeddedDocument")
        Cl(EmbCl(p, embPred(opSpec, p), agg.getOrElse("sum")), b, k)
      case other => throw new MqlException(
        s"$ctx: unsupported operator ${other.map(_._1).mkString(",")}")
    }
    // element-level predicate for embeddedDocument: sub-operator paths
    // are full Atlas-style ("items.name") or relative ("name"); the
    // element-scoped field is reached with getField, and the text
    // sub-operator tokenizes the element's string field the same way
    // the top-level analyzer does
    def embField(x: Column, p: String, base: String): Column = {
      val rel = if (p == base) ""
        else if (p.startsWith(base + ".")) p.drop(base.length + 1) else p
      rel.split('.').filter(_.nonEmpty).foldLeft(x)(_ getField _)
    }
    def embPred(v: JValue, base: String): Column => Column = {
      val ctx = "$search.embeddedDocument.operator"
      obj(v, ctx) match {
        case List(("text", t)) =>
          val o = obj(t, s"$ctx.text")
          val p = pathOf(o, s"$ctx.text")
          val terms = qTokens(queryOf(o, s"$ctx.text"), s"$ctx.text", p).distinct
          x => coalesce(size(array_intersect(
            graft.llmops.Analyzers.docTokens(analyzerOf(p),
              embField(x, p, base)),
            array(terms.map(lit): _*))) > 0, lit(false))
        case List(("equals", t)) =>
          val o = obj(t, s"$ctx.equals")
          val value = o.collectFirst { case ("value", x) =>
              litOf(x, s"$ctx.equals") }
            .getOrElse(throw new MqlException(s"$ctx.equals needs value"))
          val p = pathOf(o, s"$ctx.equals")
          x => embField(x, p, base) <=> value
        case List(("range", t)) =>
          val o = obj(t, s"$ctx.range")
          val p = pathOf(o, s"$ctx.range")
          val bounds = o.collect {
            case (op @ ("gt" | "gte" | "lt" | "lte"), x) =>
              (op, litOf(x, s"$ctx.range.$op")) }
          if (bounds.isEmpty)
            throw new MqlException(s"$ctx.range needs gt/gte/lt/lte")
          x => coalesce(bounds.map {
              case ("gt", v)  => embField(x, p, base) > v
              case ("gte", v) => embField(x, p, base) >= v
              case ("lt", v)  => embField(x, p, base) < v
              case (_, v)     => embField(x, p, base) <= v
            }.reduce(_ && _), lit(false))
        case List(("in", t)) =>
          val o = obj(t, s"$ctx.in")
          val vs = o.collectFirst { case ("value", JArray(xs)) =>
              xs.map(litOf(_, s"$ctx.in")) }
            .orElse(o.collectFirst { case ("value", x) =>
              Seq(litOf(x, s"$ctx.in")) })
            .getOrElse(throw new MqlException(s"$ctx.in needs value"))
          val p = pathOf(o, s"$ctx.in")
          x => vs.map(v => embField(x, p, base) <=> v).reduce(_ || _)
        case List(("exists", t)) =>
          val p = pathOf(obj(t, s"$ctx.exists"), s"$ctx.exists")
          x => embField(x, p, base).isNotNull
        case List(("compound", t)) =>
          val comp = obj(t, s"$ctx.compound")
          comp.foreach { case (key, _) =>
            if (!Set("must", "should", "mustNot", "filter").contains(key))
              throw new MqlException(
                s"$ctx.compound: unsupported clause list '$key'") }
          def preds(name: String): Seq[Column => Column] =
            comp.collectFirst { case (`name`, JArray(cs)) =>
              cs.map(embPred(_, base)) }.getOrElse(Nil)
          val (m, s, n, f) =
            (preds("must"), preds("should"), preds("mustNot"), preds("filter"))
          if (m.isEmpty && s.isEmpty && f.isEmpty) throw new MqlException(
            s"$ctx.compound needs must, should, or filter clauses")
          x => ((m ++ f).map(_(x)) ++
            n.map(q => !coalesce(q(x), lit(false))) ++
            (if (m.isEmpty && f.isEmpty && s.nonEmpty)
               Seq(s.map(_(x)).reduce(_ || _)) else Nil)
            ).reduce(_ && _)
        case other => throw new MqlException(
          s"$ctx: unsupported embedded operator ${other.map(_._1).mkString(",")}")
      }
    }
    def geoPoint(v: JValue, ctx: String): (Double, Double) = v match {
      case JArray(List(x, y)) => (numOf(x, ctx), numOf(y, ctx))
      case jo: JObject => obj(jo, ctx).collectFirst {
          case ("coordinates", JArray(List(x, y))) =>
            (numOf(x, ctx), numOf(y, ctx)) }
        .getOrElse(throw new MqlException(
          s"$ctx: expected a GeoJSON Point or [lon, lat]"))
      case other => throw new MqlException(s"$ctx: expected a point, got $other")
    }
    def geoGeometry(v: JValue, ctx: String): GShape = {
      val o = obj(v, ctx)
      o.collectFirst { case ("type", JString(t)) => t } match {
        case Some("Polygon") =>
          val rings = o.collectFirst { case ("coordinates", JArray(rs)) => rs }
            .getOrElse(throw new MqlException(s"$ctx: Polygon needs coordinates"))
          if (rings.length != 1) throw new MqlException(
            s"$ctx: only single-ring polygons (no holes) are supported")
          val pts = rings.head match {
            case JArray(ps) => ps.map(geoPoint(_, ctx))
            case other => throw new MqlException(s"$ctx: bad ring $other")
          }
          // GeoJSON closes the ring (first == last); PNPOLY wants it open
          val open = if (pts.length > 1 && pts.head == pts.last) pts.init else pts
          if (open.length < 3)
            throw new MqlException(s"$ctx: polygon needs >= 3 distinct vertices")
          GPolygon(open)
        case Some(other) => throw new MqlException(
          s"$ctx: unsupported geometry type '$other' (Polygon only)")
        case None => throw new MqlException(s"$ctx: geometry needs type")
      }
    }
    def geoWithinShape(o: List[(String, JValue)], ctx: String): GShape = {
      val shapes = o.collect {
        case ("box", bv) =>
          val bo = obj(bv, s"$ctx.box")
          val (x1, y1) = bo.collectFirst { case ("bottomLeft", p) =>
              geoPoint(p, s"$ctx.box.bottomLeft") }
            .getOrElse(throw new MqlException(s"$ctx.box needs bottomLeft"))
          val (x2, y2) = bo.collectFirst { case ("topRight", p) =>
              geoPoint(p, s"$ctx.box.topRight") }
            .getOrElse(throw new MqlException(s"$ctx.box needs topRight"))
          GBox(x1, y1, x2, y2)
        case ("circle", cv) =>
          val co = obj(cv, s"$ctx.circle")
          val (cx, cy) = co.collectFirst { case ("center", p) =>
              geoPoint(p, s"$ctx.circle.center") }
            .getOrElse(throw new MqlException(s"$ctx.circle needs center"))
          val r = co.collectFirst { case ("radius", x) =>
              numOf(x, s"$ctx.circle.radius") }
            .getOrElse(throw new MqlException(s"$ctx.circle needs radius"))
          if (r <= 0) throw new MqlException(s"$ctx.circle: radius must be > 0")
          GCircle(cx, cy, r)
        case ("geometry", gv) => geoGeometry(gv, s"$ctx.geometry")
      }
      if (shapes.length != 1) throw new MqlException(
        s"$ctx needs exactly one of box, circle, geometry")
      shapes.head
    }
    def clauseList(v: JValue, ctx: String): Seq[Cl] = v match {
      case JArray(cs) => cs.map(parseClause(_, ctx))
      case other => throw new MqlException(s"$ctx must be an array, got $other")
    }
    val topOps = Set("text", "phrase", "equals", "range", "wildcard",
      "autocomplete", "in", "exists", "near", "regex", "queryString",
      "moreLikeThis", "geoWithin", "geoShape", "embeddedDocument")
    val (must, should, mustNot, filterCls) =
      spec.collectFirst { case ("compound", c) => obj(c, "$search.compound") } match {
        case Some(comp) =>
          comp.foreach { case (k, _) =>
            if (!Set("must", "should", "mustNot", "filter",
                     "minimumShouldMatch").contains(k))
              throw new MqlException(
                s"$$search.compound: unsupported clause list '$k'") }
          def cl(name: String) = comp.collectFirst { case (`name`, v) =>
            clauseList(v, s"$$search.compound.$name") }.getOrElse(Nil)
          (cl("must"), cl("should"), cl("mustNot"), cl("filter"))
        case None =>
          val c = spec.collectFirst { case (op, t) if topOps(op) =>
            parseClause(JObject(List(op -> t)), "$search") }
            .getOrElse(throw new MqlException(
              "$search supports the text/phrase/equals/range/wildcard/" +
                "autocomplete/in/exists/near/regex/queryString/" +
                "moreLikeThis/geoWithin/geoShape/embeddedDocument/" +
                "compound operators"))
          (Seq(c), Nil, Nil, Nil)
      }
    if (must.isEmpty && should.isEmpty && filterCls.isEmpty)
      throw new MqlException("$search.compound needs must, should, or filter clauses")
    val minShould = spec.collectFirst { case ("compound", c) =>
      obj(c, "$search.compound") }.flatMap(_.collectFirst {
        case ("minimumShouldMatch", v) =>
          intValue(v, "$search.compound.minimumShouldMatch") }).getOrElse(0)
    if (minShould > should.length) throw new MqlException(
      s"$$search.compound: minimumShouldMatch=$minShould exceeds ${should.length} should clauses")
    val scoredClauses = must ++ should
    // paths whose token arrays any clause needs, materialized once
    val tokPaths = (scoredClauses ++ mustNot ++ filterCls).map(_.c).flatMap {
      case c: TextCl => Seq(c.path)
      case c: PhraseCl => Seq(c.path)
      case c: WildcardCl => Seq(c.path)
      case c: AutoCl => Seq(c.path)
      case c: RegexCl => Seq(c.path)
      case QsCl(dp, tree) => qsLeaves(tree, dp).map(_.path)
      case MltCl(fields) => fields.map(_._1)
      case _ => Nil
    }.distinct
    val pIdx = tokPaths.zipWithIndex.toMap
    // autocomplete over a gram-analyzed index path: doc tokens for the
    // match are the DEFAULT-chain tokens (the index's grams serve only
    // candidate selection). Mixing another clause kind on the same path
    // would need the gram tokens in the same column — refuse loudly.
    val autoGramPaths: Set[String] =
      (scoredClauses ++ mustNot ++ filterCls).map(_.c).collect {
        case AutoCl(_, p) if graft.llmops.Analyzers
          .autocompleteGrams(analyzerOf(p)).isDefined => p
      }.toSet
    (scoredClauses ++ mustNot ++ filterCls).map(_.c).foreach {
      case _: AutoCl => ()
      case c if autoGramPaths.contains(c.path) => throw new MqlException(
        s"$$search: path '${c.path}' is an autocomplete (edgeGram) " +
          "index field — only the autocomplete operator can query it " +
          "in the same stage as an autocomplete clause")
      case _ => ()
    }
    def toksOf(p: String) =
      graft.llmops.Analyzers.docTokens(
        if (autoGramPaths.contains(p)) graft.llmops.Analyzers.Default
        else analyzerOf(p), fieldCol(p))
    def tokCol(p: String) = col(s"__graft_toks_${pIdx(p)}")
    // does doc token x count as an occurrence of query term t?
    def tokPred(x: Column, t: String, fuzzy: Option[(Int, Int)]): Column =
      fuzzy match {
        case None => x === lit(t)
        case Some((me, pl)) =>
          val d = levenshtein(x, lit(t)) <= lit(me)
          if (pl <= 0) d
          else substring(x, 1, pl) === lit(t.take(pl)) && d
      }
    // occurrence count of `terms` in `toks`: slop 0 = consecutive
    // subsequence; slop s = in-order subsequence whose span stretches at
    // most s positions beyond consecutive (counted by start position,
    // matching each start greedily — the earliest completion minimizes
    // the span, so greedy is exact for existence). Lucene's sloppy
    // PhraseQuery also admits out-of-order arrangements at slop ≥ 2
    // (a transposition costs 2); the in-order contract is this engine's
    // documented simplification.
    // occurrence count of `terms` in `toks`: slop 0 = consecutive
    // subsequence; slop s = in-order subsequence whose span stretches at
    // most s beyond consecutive (greedy earliest completion — exact for
    // existence). One codegen'd loop (PhraseTf expression): the HOF
    // position-scan formulation this replaced evaluated interpreted
    // lambdas per position per row and dominated the phrase bench.
    def phraseTf(toks: Column, terms: Seq[String], slop: Int = 0): Column =
      ExprCompiler.graftFn("graft_phrase_tf", toks,
        array(terms.map(lit): _*), lit(slop))
    // ONE corpus pass for every statistic any scored text/phrase clause
    // needs: per-path N + avgdl over docs with ≥1 token, per-term df,
    // per-phrase df
    // constant-score clauses never touch BM25 stats
    val statPaths = scoredClauses.filter(_.constant.isEmpty).map(_.c).flatMap {
      case c: TextCl => Seq(c.path)
      case c: PhraseCl => Seq(c.path)
      case QsCl(dp, tree) =>
        qsLeaves(tree, dp).filter(l => l.positive && l.kind <= 1).map(_.path)
      case MltCl(fields) => fields.map(_._1)
      case _ => Nil
    }.distinct
    // stat aggregates run over the token-materializing project (tokCol,
    // not toksOf): the agg's child projects each path's tokens ONCE per
    // row and every stat function references the attribute — previously
    // each of the ~3 functions per clause re-ran the split per row
    val statCols: Seq[Column] =
      statPaths.flatMap { p =>
        Seq(sum(when(size(tokCol(p)) > 0, 1L).otherwise(0L)).cast("double")
              .as(s"__n_${pIdx(p)}"),
            avg(when(size(tokCol(p)) > 0, size(tokCol(p)).cast("double")))
              .as(s"__avgdl_${pIdx(p)}"))
      } ++
      scoredClauses.zipWithIndex.flatMap {
        case (Cl(TextCl(terms, p, fz, _), _, None, _), ci) =>
          terms.zipWithIndex.map { case (t, ti) =>
            val hit = if (fz.isEmpty) array_contains(tokCol(p), t)
              else coalesce(exists(tokCol(p), x => tokPred(x, t, fz)), lit(false))
            sum(when(hit, 1L).otherwise(0L)).as(s"__df_${ci}_$ti") }
        case (Cl(PhraseCl(terms, p, slop), _, None, _), ci) =>
          Seq(sum(when(phraseTf(tokCol(p), terms, slop) > 0, 1L).otherwise(0L))
            .as(s"__pdf_$ci"))
        case (Cl(QsCl(dp, tree), _, None, _), ci) =>
          qsLeaves(tree, dp).filter(l => l.positive && l.kind <= 1).map { l =>
            if (l.kind == 0)
              sum(when(array_contains(tokCol(l.path), l.terms.head), 1L)
                .otherwise(0L)).as(s"__qst_${ci}_${l.idx}")
            else
              sum(when(phraseTf(tokCol(l.path), l.terms) > 0, 1L)
                .otherwise(0L)).as(s"__qsp_${ci}_${l.idx}")
          }
        case (Cl(MltCl(fields), _, None, _), ci) =>
          fields.zipWithIndex.flatMap { case ((f, ts), fi) =>
            ts.zipWithIndex.map { case (t, ti) =>
              sum(when(array_contains(tokCol(f), t), 1L).otherwise(0L))
                .as(s"__mlt_${ci}_${fi}_$ti") } }
        case _ => Nil
      }
    def bm25(tf: Column, dfT: Column, p: String): Column = {
      val dl = size(tokCol(p)).cast("double")
      val idf = log(lit(1.0) +
        (col(s"__n_${pIdx(p)}") - dfT + lit(0.5)) / (dfT + lit(0.5)))
      when(tf > 0,
        idf * tf * (lit(k1) + 1.0) /
          (tf + lit(k1) * (lit(1.0) - lit(b) +
            lit(b) * dl / col(s"__avgdl_${pIdx(p)}"))))
        .otherwise(lit(0.0))
    }
    def matches(c: SClause): Column = c match {
      // coalesce: a null path (missing field) matches nothing — in
      // particular a mustNot over a missing path must NOT exclude the doc
      case TextCl(terms, p, None, false) => coalesce(
        size(array_intersect(tokCol(p), array(terms.map(lit): _*))) > 0, lit(false))
      // matchCriteria "all": every analyzed query term must occur
      case TextCl(terms, p, None, true) => coalesce(
        size(array_intersect(tokCol(p), array(terms.map(lit): _*))) ===
          terms.length, lit(false))
      case TextCl(terms, p, fz, all) => coalesce(
        terms.map(t => exists(tokCol(p), x => tokPred(x, t, fz)))
          .reduce((a, b) => if (all) a && b else a || b),
        lit(false))
      case PhraseCl(terms, p, slop) =>
        coalesce(phraseTf(tokCol(p), terms, slop) > 0, lit(false))
      case EqualsCl(p, v) => fieldCol(p) <=> v
      case RangeCl(p, bounds) => coalesce(bounds.map {
          case ("gt", v)  => fieldCol(p) > v
          case ("gte", v) => fieldCol(p) >= v
          case ("lt", v)  => fieldCol(p) < v
          case (_, v)     => fieldCol(p) <= v
        }.reduce(_ && _), lit(false))
      case WildcardCl(p, rx) =>
        coalesce(exists(tokCol(p), x => x.rlike(rx)), lit(false))
      // autocomplete: the query's leading tokens as an exact consecutive
      // run with the LAST token a prefix of the next doc token — the
      // search-as-you-type contract over analyzed terms. Built by
      // ZIPPING L shifted slices (the shingle lesson): the token column
      // is an UNEVALUATED expression after projection collapse, so it
      // must appear O(L) times — an element_at(tok, i) inside the
      // position lambda re-ran the tokenizer once PER POSITION
      // (measured 6.7 s warm at sf0.1; this shape 0.3 s, same output)
      case AutoCl(terms, p) =>
        val L = terms.length
        val pre = terms.last
        val arr = tokCol(p)
        val m =
          if (L == 1) exists(arr, x => x.startsWith(pre))
          else {
            val n1 = size(arr) - lit(L - 1)
            val first = transform(slice(arr, lit(1), n1),
              x => x === lit(terms.head))
            val mid = terms.init.zipWithIndex.drop(1).foldLeft(first) {
              case (acc, (t, o)) => zip_with(acc,
                slice(arr, lit(1 + o), n1), (a, x) => a && x === lit(t))
            }
            array_contains(zip_with(mid, slice(arr, lit(L), n1),
              (a, x) => a && x.startsWith(lit(pre))), true)
          }
        coalesce(when(size(arr) >= L, m), lit(false))
      case InCl(p, vs) => vs.map(v => fieldCol(p) <=> v).reduce(_ || _)
      case ExistsCl(p) => fieldCol(p).isNotNull
      // point-in-shape over a [lon, lat] array field — pure Column
      // arithmetic, zero shuffle, codegen-friendly. Circle distance is
      // haversine on a sphere of radius 6378100 m (MongoDB's Earth
      // radius); polygon is PNPOLY ray casting with the query polygon
      // unrolled into per-edge literals (horizontal edges contribute
      // false via the parity conjunct, so the div-by-zero branch is
      // never selected).
      case GeoCl(p, shape, rel) =>
        val pt = fieldCol(p)
        val lon = element_at(pt, 1).cast("double")
        val lat = element_at(pt, 2).cast("double")
        val in = shape match {
          case GBox(x1, y1, x2, y2) =>
            lon >= lit(x1) && lon <= lit(x2) && lat >= lit(y1) && lat <= lit(y2)
          case GCircle(cx, cy, r) =>
            val a = pow(sin(radians(lat - lit(cy)) / 2), 2) +
              cos(radians(lit(cy))) * cos(radians(lat)) *
                pow(sin(radians(lon - lit(cx)) / 2), 2)
            lit(2.0 * 6378100.0) * asin(sqrt(a)) <= lit(r)
          case GPolygon(vs) =>
            val crossings = vs.indices.map { i =>
              val (xi, yi) = vs(i)
              val (xj, yj) = vs((i + 1) % vs.length)
              val c = (lit(yi) > lat) =!= (lit(yj) > lat) &&
                lon < lit(xj - xi) * (lat - lit(yi)) / lit(yj - yi) + lit(xi)
              when(c, 1).otherwise(0)
            }
            crossings.reduce(_ + _) % 2 === 1
        }
        val within = coalesce(in, lit(false))
        if (rel == "disjoint") pt.isNotNull && !within else within
      case EmbCl(p, pred, _) =>
        coalesce(exists(fieldCol(p), pred), lit(false))
      case NearCl(p, _, _) => fieldCol(p).isNotNull
      case RegexCl(p, rx) =>
        coalesce(exists(tokCol(p), x => x.rlike(rx)), lit(false))
      case QsCl(dp, tree) => evalQs(tree, dp)
      case MltCl(fields) => fields.map { case (f, ts) =>
        coalesce(size(array_intersect(tokCol(f), array(ts.map(lit): _*))) > 0,
          lit(false)) }.reduce(_ || _)
    }
    def evalQs(n: QsNode, dp: String): Column = n match {
      case QsNode.QLevel(req, opt, proh) =>
        if (req.isEmpty && opt.isEmpty) lit(false) // pure-negative: Lucene matches nothing
        else (req.map(evalQs(_, dp)) ++
          proh.map(x => !coalesce(evalQs(x, dp), lit(false))) ++
          (if (req.isEmpty) Seq(opt.map(evalQs(_, dp)).reduce(_ || _)) else Nil)
          ).reduce(_ && _)
      case QsNode.QTerm(f, t) =>
        coalesce(array_contains(tokCol(f.getOrElse(dp)), t), lit(false))
      case QsNode.QPhrase(f, ts) =>
        coalesce(phraseTf(tokCol(f.getOrElse(dp)), ts) > 0, lit(false))
      case QsNode.QWild(f, rx) =>
        coalesce(exists(tokCol(f.getOrElse(dp)), x => x.rlike(rx)), lit(false))
    }
    // per-clause term frequencies, materialized as columns of their own
    // project stage: bm25's saturation formula references tf THREE times,
    // and a multiply-referenced non-cheap alias survives CollapseProject —
    // so each interpreted position-scan/filter runs once per row, not 3×
    // (measured 2.5× on the sf0.1 phrase bench queries)
    val tfCols: Seq[(String, Column)] = scoredClauses.zipWithIndex.flatMap {
      case (Cl(TextCl(terms, p, fz, _), _, None, _), ci) =>
        terms.zipWithIndex.map { case (t, ti) =>
          s"__tf_${ci}_$ti" ->
            size(filter(tokCol(p), x => tokPred(x, t, fz))).cast("double") }
      case (Cl(PhraseCl(terms, p, slop), _, None, _), ci) =>
        Seq(s"__tf_$ci" -> phraseTf(tokCol(p), terms, slop))
      case (Cl(QsCl(dp, tree), _, None, _), ci) =>
        qsLeaves(tree, dp).filter(l => l.positive && l.kind <= 1).map { l =>
          s"__tfq_${ci}_${l.idx}" -> (
            if (l.kind == 0)
              size(filter(tokCol(l.path), x => x === lit(l.terms.head)))
                .cast("double")
            else phraseTf(tokCol(l.path), l.terms)) }
      case (Cl(MltCl(fields), _, None, _), ci) =>
        fields.zipWithIndex.flatMap { case ((f, ts), fi) =>
          ts.zipWithIndex.map { case (t, ti) =>
            s"__tf_${ci}_${fi}_$ti" ->
              size(filter(tokCol(f), x => x === lit(t))).cast("double") } }
      case _ => Nil
    }
    // Atlas score.function tree → Column, with {score: "relevance"}
    // bound to the clause's base relevance score. Supported: score,
    // constant, path (with undefined default), add, multiply, log
    // (log10, per Atlas), log1p, gauss (Lucene decay:
    // decay^(max(0, |v−origin|−offset)² / scale²) via σ² =
    // −scale²/(2·ln decay)). All pure arithmetic — stays in codegen.
    def fnScore(v: JValue, rel: Column): Column = v match {
      case JObject(List(("score", JString("relevance")))) => rel
      case JObject(List(("constant", n))) => lit(numOf(n, "score.function.constant"))
      case JObject(List(("path", JString(p)))) => fieldCol(p).cast("double")
      case JObject(List(("path", JObject(po)))) =>
        val p = po.collectFirst { case ("value", JString(x)) => x }
          .getOrElse(throw new MqlException("score.function.path needs value"))
        po.collectFirst { case ("undefined", u) =>
          coalesce(fieldCol(p).cast("double"),
            lit(numOf(u, "score.function.path.undefined"))) }
          .getOrElse(fieldCol(p).cast("double"))
      case JObject(List(("add", JArray(es)))) =>
        es.map(fnScore(_, rel)).reduce(_ + _)
      case JObject(List(("multiply", JArray(es)))) =>
        es.map(fnScore(_, rel)).reduce(_ * _)
      case JObject(List(("log", e))) => log10(fnScore(e, rel))
      case JObject(List(("log1p", e))) => log10(fnScore(e, rel) + lit(1.0))
      case JObject(List(("gauss", JObject(gs)))) =>
        def num(k: String, d: Option[Double] = None): Double =
          gs.collectFirst { case (`k`, x) => numOf(x, s"gauss.$k") }
            .orElse(d).getOrElse(
              throw new MqlException(s"score.function.gauss needs $k"))
        val p = gs.collectFirst { case ("path", JString(x)) => JString(x): JValue }
          .orElse(gs.collectFirst { case ("path", o: JObject) => o: JValue })
          .getOrElse(throw new MqlException("score.function.gauss needs path"))
        val origin = num("origin"); val scale = num("scale")
        val offset = num("offset", Some(0.0)); val decay = num("decay", Some(0.5))
        if (decay <= 0 || decay >= 1)
          throw new MqlException("gauss.decay must be in (0, 1)")
        val v2 = fnScore(JObject(List("path" -> p)), rel)
        val dist = greatest(abs(v2 - lit(origin)) - lit(offset), lit(0.0))
        val sigma2 = -scale * scale / (2.0 * math.log(decay))
        exp(dist * dist / lit(-2.0 * sigma2))
      case other => throw new MqlException(
        s"unsupported score.function expression: $other")
    }
    def score(cl: Cl, ci: Int): Column = cl match {
      case Cl(c, _, Some(k), _) => when(matches(c), lit(k)).otherwise(lit(0.0))
      case Cl(c, boost, None, fnOpt) =>
        val base = c match {
          case TextCl(terms, p, fz, _) =>
            terms.zipWithIndex.map { case (t, ti) =>
              bm25(col(s"__tf_${ci}_$ti"),
                col(s"__df_${ci}_$ti").cast("double"), p)
            }.reduce(_ + _)
          case PhraseCl(terms, p, slop) =>
            bm25(col(s"__tf_$ci"),
              col(s"__pdf_$ci").cast("double"), p)
          case NearCl(p, origin, pivot) =>
            when(fieldCol(p).isNotNull, lit(pivot) /
              (lit(pivot) + abs(fieldCol(p).cast("double") - lit(origin))))
              .otherwise(lit(0.0))
          // sum = matching-element count; the other aggregates collapse
          // to 1 under constant element scores (see EmbCl note)
          case EmbCl(p, pred, agg) =>
            val cnt = coalesce(size(filter(fieldCol(p), pred)), lit(0))
              .cast("double")
            if (agg == "sum") cnt else when(cnt > 0, lit(1.0)).otherwise(lit(0.0))
          // Lucene BooleanQuery scoring: sum over MATCHING positive
          // leaves (a non-matching OR branch contributes 0; prohibited
          // clauses never score); wildcard leaves are constant-score
          case QsCl(dp, tree) =>
            qsLeaves(tree, dp).map { l =>
              if (!l.positive) lit(0.0)
              else l.kind match {
                case 0 => bm25(col(s"__tfq_${ci}_${l.idx}"),
                  col(s"__qst_${ci}_${l.idx}").cast("double"), l.path)
                case 1 => bm25(col(s"__tfq_${ci}_${l.idx}"),
                  col(s"__qsp_${ci}_${l.idx}").cast("double"), l.path)
                case _ => when(coalesce(
                    exists(tokCol(l.path), x => x.rlike(l.terms.head)),
                    lit(false)), lit(1.0)).otherwise(lit(0.0))
              }
            }.reduce(_ + _)
          case MltCl(fields) =>
            fields.zipWithIndex.flatMap { case ((f, ts), fi) =>
              ts.zipWithIndex.map { case (t, ti) =>
                bm25(col(s"__tf_${ci}_${fi}_$ti"),
                  col(s"__mlt_${ci}_${fi}_$ti").cast("double"), f) } }
              .reduce(_ + _)
          case c2 => when(matches(c2), lit(1.0)).otherwise(lit(0.0))
        }
        val boosted = if (boost == 1.0) base else base * lit(boost)
        // a function REPLACES the relevance score, gated on the clause
        // matching (a non-matching should clause must contribute 0 —
        // an ungated {constant: 5} would score every document)
        fnOpt.map(f => when(matches(c), fnScore(f, boosted))
          .otherwise(lit(0.0))).getOrElse(boosted)
    }
    val clauseScores = scoredClauses.zipWithIndex.map { case (c, ci) => score(c, ci) }
    // Lucene BooleanQuery semantics: every must+filter clause holds, no
    // mustNot holds, and at least max(minimumShouldMatch, 1-if-no-
    // positive-clause) should clauses hold
    val effMinShould = math.max(minShould,
      if (must.isEmpty && filterCls.isEmpty && should.nonEmpty) 1 else 0)
    val matched = (
      (must ++ filterCls).map(cl => matches(cl.c)) ++
        mustNot.map(cl => !matches(cl.c)) ++
        (if (effMinShould > 0)
           Seq(should.map(cl => when(matches(cl.c), 1).otherwise(0))
             .reduce(_ + _) >= effMinShould) else Nil)
      ).reduce(_ && _)
    // tokenize once: the token project feeds BOTH the stats aggregate
    // (whose functions reference the token attributes) and the scoring
    // side, then per-clause tf columns land in their own project
    // (loadedIndex is resolved up top, before clause parsing — query
    // analysis needs the index's declared analyzers)
    // ---- stored source -------------------------------------------------
    // `returnStoredSource: true` against an index that CARRIES stored
    // rows (TextIndex.build(storedSource = …)) re-materializes the scan
    // base from the index itself: each kind='stored' row's JSON payload
    // parses through the recorded storedmeta schema, and match, score,
    // and output all run over that frame — the corpus contributes zero
    // I/O to the query. Every tokenized path must be among the stored
    // fields (scoring runs off the stored copy; a silently missing
    // column would score wrong — refuse instead). Without stored rows
    // the option stays a no-op: the full row already IS the stored
    // source in this engine.
    val wantStoredSource = spec.exists {
      case ("returnStoredSource", JBool(true)) => true; case _ => false }
    val storedBase: Option[DataFrame] =
      if (!wantStoredSource) None
      else loadedIndex.flatMap { case (nm, idf) =>
        if (!idf.columns.contains("sval")) None
        else {
          val ddl = idf.where(col("kind") === "storedmeta")
            .select("term").collect().headOption.map(_.getString(0))
            .getOrElse(throw new MqlException(
              s"$$search.index '$nm': stored rows without a storedmeta schema"))
          val fields = org.apache.spark.sql.types.StructType.fromDDL(ddl)
            .fieldNames.toSet
          tokPaths.find(p => !fields.contains(p)).foreach(p =>
            throw new MqlException(
              s"$$search.returnStoredSource: index '$nm' does not store " +
                s"path '$p' — scoring would read a missing column"))
          Some(idf.where(col("kind") === "stored")
            .select(from_json(col("sval"), ddl,
              java.util.Collections.emptyMap[String, String]()).as("__s"))
            .select(col("__s.*")))
        }
      }
    val searchSrc = storedBase.getOrElse(df)
    // (stats-literal map, per-(path,term) dfs, per-path (n, avgdl))
    val indexInfo: Option[(Map[String, Column],
                           Map[(String, String), Long],
                           Map[String, (Double, Double)])] =
      loadedIndex.flatMap { case (nm, idf) =>
        {
          val derivable = scoredClauses.filter(_.constant.isEmpty).map(_.c)
            .forall {
              case TextCl(_, _, fz, _) => fz.isEmpty
              case _: PhraseCl => false
              case QsCl(dp, tree) =>
                qsLeaves(tree, dp).forall(l => !(l.positive && l.kind == 1))
              case _ => true // no BM25 statistics consumed
            }
          if (!derivable) None
          else {
            val needs: Seq[(String, String, String)] = // (stat, path, term)
              scoredClauses.zipWithIndex.flatMap {
                case (Cl(TextCl(terms, p, fz, _), _, None, _), ci) if fz.isEmpty =>
                  terms.zipWithIndex.map { case (t, ti) =>
                    (s"__df_${ci}_$ti", p, t) }
                case (Cl(QsCl(dp, tree), _, None, _), ci) =>
                  qsLeaves(tree, dp).filter(l => l.positive && l.kind == 0)
                    .map(l => (s"__qst_${ci}_${l.idx}", l.path, l.terms.head))
                case (Cl(MltCl(fields), _, None, _), ci) =>
                  fields.zipWithIndex.flatMap { case ((f, ts), fi) =>
                    ts.zipWithIndex.map { case (t, ti) =>
                      (s"__mlt_${ci}_${fi}_$ti", f, t) } }
                case _ => Nil
              }
            val wantTerms = needs.map(_._3).distinct
            val rows = idf.where(col("path").isin(statPaths: _*) &&
                (col("kind") === "summary" ||
                 (col("kind") === "term" && col("term").isin(wantTerms: _*))))
              .select("kind", "path", "term", "df", "n_docs", "avgdl")
              .limit(100001).collect()
            if (rows.length > 100000) throw new MqlException(
              s"$$search.index: '$nm' returned >100k rows for this query's terms")
            val dfMap = rows.filter(_.getString(0) == "term")
              .map(r => (r.getString(1), r.getString(2)) -> r.getLong(3)).toMap
            val sums = rows.filter(_.getString(0) == "summary")
              .map(r => r.getString(1) ->
                ((r.getLong(4).toDouble,
                  if (r.isNullAt(5)) 0.0 else r.getDouble(5)))).toMap
            // a queried path absent from the index would silently score
            // everything 0 (worse: a 0-doc idf turns negative) — refuse
            statPaths.find(p => !sums.contains(p)).foreach { p =>
              throw new MqlException(
                s"$$search.index: '$nm' does not cover path '$p'") }
            val m = Map.newBuilder[String, Column]
            statPaths.foreach { p =>
              val (n, ad) = sums(p)
              m += (s"__n_${pIdx(p)}" -> lit(n))
              m += (s"__avgdl_${pIdx(p)}" ->
                (if (n == 0.0) lit(null).cast("double") else lit(ad)))
            }
            needs.foreach { case (stat, p, t) =>
              m += (stat -> lit(dfMap.getOrElse((p, t), 0L))) }
            Some((m.result(), dfMap, sums))
          }
        }
      }
    val indexStats: Option[Map[String, Column]] = indexInfo.map(_._1)
    // ---- postings-only candidate selection (inverted-index plan) -------
    // With a postings-bearing index (TextIndex.build(postingsIdCol=…))
    // and a single plain text clause, the MATCHED doc ids come from the
    // index alone — the distinct doc ids across the query terms'
    // posting rows — and ONE left-semi join fetches only those
    // documents: the corpus is never scanned for match/scoring work on
    // non-matching rows (the overwhelming majority for selective
    // terms). Scoring re-runs over the fetched candidates through the
    // ordinary expression path with the same stats literals, so every
    // output column (score, details, highlights) and the final top-k
    // are byte-identical to the index-less plan — and because the
    // candidate set is the full matched set (not a precomputed top-k),
    // the plan stays correct when `$search` runs over an upstream-
    // filtered frame: the semi-join only ever REMOVES rows the match
    // filter would drop anyway.
    val postingsCandidates: Option[DataFrame] = for {
      (_, idf) <- loadedIndex
      _ <- indexInfo // stats must be index-derivable literals
      if Seq("doc_id", "tf", "dl").forall(idf.columns.contains)
      // (gram terms to INTERSECT, path). Text: the query terms verbatim
      // (any = union ⇒ intersect-count 1 per term — handled by the
      // distinct union below). Autocomplete over a gram-analyzed path:
      // each query term truncated to maxGram is one of the index's
      // edge-grams whenever it is at least minGram long — a doc whose
      // tokens satisfy the autocomplete run necessarily carries ALL of
      // them, so the intersection is a superset of the matched set and
      // the re-run match predicate keeps results byte-identical.
      tp <- scoredClauses match {
        // matchCriteria 'all' needs a postings INTERSECTION - that
        // query keeps the corpus pass (any = union of term postings)
        case Seq(Cl(TextCl(ts, p0, None, false), bo, None, None)) if bo == 1.0 =>
          Some((ts, p0, false))
        case Seq(Cl(AutoCl(ts, p0), _, _, _))
            if autoGramPaths.contains(p0) =>
          graft.llmops.Analyzers.autocompleteGrams(analyzerOf(p0))
            .map { case (mn, mx) =>
              (ts.map(_.take(mx)).filter(_.length >= mn).distinct, p0, true) }
            .filter(_._1.nonEmpty) // no usable gram → corpus pass
        case _ => None
      }
      if mustNot.isEmpty && filterCls.isEmpty && (must ++ should).size == 1
      idColName <- idf.where(col("kind") === "meta" && col("path") === tp._2)
        .select("term").collect().headOption.map(_.getString(0))
      if searchSrc.columns.contains(idColName)
    } yield {
      val (terms, p, intersect) = tp
      val postings = idf.where(col("kind") === "posting" &&
        col("path") === p && col("term").isin(terms: _*))
      val matchedIds =
        if (!intersect)
          postings.select(col("doc_id").as("__graft_win")).distinct()
        else postings.groupBy(col("doc_id"))
          .agg(countDistinct(col("term")).as("__graft_k"))
          .where(col("__graft_k") === terms.length)
          .select(col("doc_id").as("__graft_win"))
      searchSrc.join(matchedIds,
        searchSrc(idColName).cast("long") === col("__graft_win"), "left_semi")
    }
    val scanBase = postingsCandidates.getOrElse(searchSrc)
    val tokDf = tokPaths.foldLeft(scanBase) { (acc, p) =>
      acc.withColumn(s"__graft_toks_${pIdx(p)}", toksOf(p))
    }
    // ---- persisted text index (Atlas index lifecycle) ------------------
    // When `index` resolves to a TextIndex.build collection AND every
    // stats-consuming clause is term-derivable (exact-term text,
    // queryString TERM leaves, moreLikeThis), the per-query corpus
    // stats pass is replaced by a bounded lookup of the stored
    // (term, df) rows + per-path summaries — the statistics become
    // literals in the plan, so scoring is pure map work over the scan.
    // Phrase/fuzzy statistics are positional/edit-distance-derived:
    // those queries keep the corpus pass (results identical). Index
    // stats are collection-level, like Lucene's — a `$search` applied
    // mid-pipeline over a filtered frame intentionally still scores
    // with whole-collection statistics when an index is named.
    val base = indexStats match {
      case Some(m) =>
        m.foldLeft(tokDf) { case (acc, (n, c)) => acc.withColumn(n, c) }
      case None if statCols.isEmpty => tokDf
      case None =>
        tokDf.crossJoin(broadcast(tokDf.agg(statCols.head, statCols.tail: _*)))
    }
    val withToks = tfCols.foldLeft(base) { (acc, nc) =>
      acc.withColumn(nc._1, nc._2)
    }
    val dropCols = tokPaths.map(p => s"__graft_toks_${pIdx(p)}") ++
      tfCols.map(_._1) ++
      statPaths.flatMap(p => Seq(s"__n_${pIdx(p)}", s"__avgdl_${pIdx(p)}")) ++
      scoredClauses.zipWithIndex.flatMap {
        case (Cl(TextCl(terms, _, _, _), _, None, _), ci) =>
          terms.indices.map(ti => s"__df_${ci}_$ti")
        case (Cl(_: PhraseCl, _, None, _), ci) => Seq(s"__pdf_$ci")
        case (Cl(QsCl(dp, tree), _, None, _), ci) =>
          qsLeaves(tree, dp).filter(l => l.positive && l.kind <= 1).map { l =>
            if (l.kind == 0) s"__qst_${ci}_${l.idx}" else s"__qsp_${ci}_${l.idx}" }
        case (Cl(MltCl(fields), _, None, _), ci) =>
          fields.zipWithIndex.flatMap { case ((_, ts), fi) =>
            ts.indices.map(ti => s"__mlt_${ci}_${fi}_$ti") }
        case _ => Nil
      }
    val totalScore =
      if (clauseScores.isEmpty) lit(0.0) else clauseScores.reduce(_ + _)
    // "scoreDetails": true → the per-clause contribution breakdown as
    // `searchScoreDetails` ({"$meta": "searchScoreDetails"} resolves to
    // it) — computed BEFORE the stat/tf columns drop, since the clause
    // scores reference them
    val wantDetails = spec.exists {
      case ("scoreDetails", JBool(v)) => v; case _ => false }
    def clauseDesc(cl: Cl): String = {
      // local case classes carry a "$N" suffix on getSimpleName
      val kind = cl.c.getClass.getSimpleName.takeWhile(_ != '$')
        .stripSuffix("Cl").toLowerCase(java.util.Locale.ROOT)
      val mod =
        if (cl.constant.isDefined) " (constant)"
        else if (cl.fn.isDefined) " (function)"
        else if (cl.boost != 1.0) s" (boost ${cl.boost})"
        else ""
      s"$kind:${cl.c.path}$mod"
    }
    var scored = withToks
      .withColumn("searchScore", round(totalScore, 6))
    if (wantDetails)
      scored = scored.withColumn("searchScoreDetails", struct(
        col("searchScore").as("value"),
        lit("sum of the matched clauses' contributions").as("description"),
        array(scoredClauses.zipWithIndex.map { case (cl, ci) =>
          struct(round(score(cl, ci), 6).as("value"),
            lit(clauseDesc(cl)).as("description"))
        }: _*).as("details")))
    scored = scored
      .where(matched)
      .drop(dropCols: _*)
    // "highlight": {path} → the `searchHighlights` carrier column
    // ({"$meta": "searchHighlights"} resolves to it). Hit terms = the
    // analyzed terms of every positive text-ish clause targeting that
    // path; the SearchHighlights expression documents the passage
    // simplifications. maxCharsToExamine/maxNumPassages are accepted
    // and ignored (index-side physical knobs).
    spec.collectFirst { case ("highlight", hv) => obj(hv, "$search.highlight") }
      .foreach { ho =>
        ho.map(_._1).find(k =>
            !Set("path", "maxCharsToExamine", "maxNumPassages").contains(k))
          .foreach(k => throw new MqlException(
            s"$$search.highlight: unsupported option '$k'"))
        val hPath = ho.collectFirst { case ("path", JString(p)) => p }
          .getOrElse(throw new MqlException("$search.highlight needs path"))
        // the passage scanner tokenizes with the default analyzer
        requireDefaultAnalyzer(hPath, "$search.highlight")
        val hTerms = scoredClauses.map(_.c).collect {
          case TextCl(ts, p, _, _) if p == hPath => ts
          case PhraseCl(ts, p, _) if p == hPath => ts
          case AutoCl(ts, p) if p == hPath => ts
          case MltCl(fields) => fields.collect {
            case (f, ts) if f == hPath => ts }.flatten
        }.flatten.distinct
        graft.functions.GraftFunctions.register(
          org.apache.spark.sql.SparkSession.active)
        scored = scored.withColumn("searchHighlights",
          call_function("search_highlights", fieldCol(hPath),
            array(hTerms.map(lit): _*), lit(hPath)))
      }
    val tieBreaker = spec.collectFirst { case ("tieBreaker", JString(t)) => t }
    // "sort": {field: 1|-1, ...} replaces relevance ordering with a
    // field sort (Atlas's indexed-sort option); tieBreaker still breaks
    // residual ties. With a limit it plans as TakeOrdered either way.
    val userSortKeys: Option[Seq[(String, Boolean)]] =
      spec.collectFirst { case ("sort", sv) =>
        val entries = asObj(sv, "$search.sort")
        if (entries.isEmpty) throw new MqlException("$search.sort is empty")
        entries.map { case (f, d) =>
          intValue(d, s"$$search.sort.$f") match {
            case 1  => (f, true)
            case -1 => (f, false)
            case o => throw new MqlException(
              s"$$search.sort.$f must be 1 or -1, got $o")
          }
        }
      }
    // "returnStoredSource": with a stored-source index it switched the
    // scan base to the index's stored rows above (zero corpus I/O);
    // without one it is a no-op — the full row already IS the stored
    // source in this engine. "tracking" is Atlas query-telemetry with
    // no result semantics; accepted and ignored.
    spec.collectFirst { case ("returnStoredSource", v) =>
      if (!v.isInstanceOf[JBool]) throw new MqlException(
        "$search.returnStoredSource must be a boolean") }
    spec.collectFirst { case ("tracking", v) => obj(v, "$search.tracking") }

    // ---- pagination: searchAfter / searchBefore ---------------------------
    // The sequence token is the base64'd JSON of the row's sort-key
    // values ({"k0": v0, "k1": v1, ...}) — engine-defined but stable,
    // exposed per-row as {"$meta": "searchSequenceToken"}. Resuming is a
    // MAP-ONLY lexicographic filter on the sort keys (the whole point of
    // token pagination at scale: no skip-N scan, no state).
    val afterTok = spec.collectFirst { case ("searchAfter", v) =>
      strValue(v, "$search.searchAfter") }
    val beforeTok = spec.collectFirst { case ("searchBefore", v) =>
      strValue(v, "$search.searchBefore") }
    if (afterTok.isDefined && beforeTok.isDefined)
      throw new MqlException("$search: searchAfter and searchBefore are exclusive")
    if ((afterTok.isDefined || beforeTok.isDefined) && userSortKeys.isEmpty)
      throw new MqlException(
        "$search: searchAfter/searchBefore require an explicit sort " +
          "(the token encodes the sort-key position)")
    userSortKeys.foreach { keys =>
      val kvs = keys.zipWithIndex.map { case ((f, _), i) => fieldCol(f).as(s"k$i") }
      scored = scored.withColumn("searchSequenceToken",
        base64(to_json(struct(kvs: _*))))
    }
    def tokenPredicate(tok: String, before: Boolean): Column = {
      val keys = userSortKeys.get
      val decoded = try new String(java.util.Base64.getDecoder.decode(tok),
        java.nio.charset.StandardCharsets.UTF_8)
      catch { case _: IllegalArgumentException =>
        throw new MqlException("$search: malformed pagination token") }
      val fields = Mql.parse(decoded) match {
        case JObject(fs) => fs.toMap
        case _ => throw new MqlException("$search: malformed pagination token")
      }
      val vals = keys.indices.map(i => fields.getOrElse(s"k$i",
        throw new MqlException("$search: pagination token arity mismatch")))
      // strictly-past-the-token lexicographic chain:
      // gt1 || (eq1 && (gt2 || (eq2 && ... false)))
      keys.zip(vals).foldRight(lit(false)) { case (((f, asc), v), rest) =>
        val c = fieldCol(f); val l = Mql.literal(v)
        val past = if (asc ^ before) c > l else c < l
        past || (c === l && rest)
      }
    }
    afterTok.foreach(t => scored = scored.where(tokenPredicate(t, before = false)))
    beforeTok.foreach(t => scored = scored.where(tokenPredicate(t, before = true)))

    // searchBefore presents results in reverse sort order (the page
    // reads toward the reference point, nearest first — Atlas contract)
    val flip = beforeTok.isDefined
    def dir(c: Column, asc: Boolean): Column =
      if (asc ^ flip) c.asc else c.desc
    val tieCols = tieBreaker.map(t => Seq(dir(fieldCol(t), asc = true)))
      .getOrElse(Seq.empty)
    val userSort = userSortKeys.map(_.map { case (f, asc) => dir(fieldCol(f), asc) })
    val ordering = userSort.getOrElse(Seq(dir(col("searchScore"), asc = false))) ++ tieCols
    val limited =
      spec.collectFirst { case ("limit", l) => intValue(l, "$search") } match {
        case Some(n) => scored.orderBy(ordering: _*).limit(n)
        case None =>
          // relevance order is part of $search's contract even without
          // an inline limit: [{$search}, {$limit: 10}] must take the 10
          // BEST-scored docs, not 10 arbitrary matches. The sort is
          // lazy — a following $limit collapses it to TakeOrdered
          // (top-k, never a global sort), the same doctrine as $sort.
          scored.orderBy(ordering: _*)
      }
    // "count": {"type": "total"|"lowerBound"} — the matched-set size,
    // exposed to later stages as $$SEARCH_META.count.<type> (the
    // variable resolves to the carrier column, see ExprCompiler.varRef).
    // The count is exact either way ('lowerBound' only names the field,
    // as in $searchMeta); it costs one extra matched-set aggregation,
    // joined back as a broadcast 1-row cross join onto the (bounded)
    // result — the corpus itself is never re-shuffled.
    spec.collectFirst { case ("count", cv) => obj(cv, "$search.count") } match {
      case None => limited
      case Some(co) =>
        val ctype = co.collectFirst { case ("type", JString(t)) => t }
          .getOrElse("lowerBound")
        if (!Set("total", "lowerBound").contains(ctype))
          throw new MqlException(
            "$search.count.type must be total or lowerBound")
        val total = withToks.where(matched).agg(count(lit(1)).as(ctype))
        limited.crossJoin(broadcast(
          total.select(struct(struct(col(ctype)).as("count"))
            .as("__graft_search_meta"))))
    }
  }

  // ---- $searchMeta ---------------------------------------------------------
  // Atlas's metadata-only search entry point. Two collector forms:
  //  * operator (+ optional {"count": {"type": "total"|"lowerBound"}}):
  //    one row {"count": {<type>: n}} over the matched set. The engine
  //    always counts exactly; `lowerBound` is the field NAME Atlas
  //    defaults to, not an approximation here.
  //  * {"facet": {"operator": ..., "facets": {...}}}: one row
  //    {"count": {"lowerBound": n}, "facet": {<name>: {"buckets":
  //    [{"_id", "count"}]}}}. String facets return the top `numBuckets`
  //    (default 10) values by count desc then value asc; number facets
  //    return one bucket per [b_i, b_i+1) interval of `boundaries` in
  //    order (zero counts retained — deterministic, where Atlas may
  //    elide empty buckets) plus the optional `default` bucket counting
  //    non-null out-of-range values. Bucket `_id` is always a string
  //    (Spark arrays are homogeneous; Mongo mixes the numeric lower
  //    bound with the `default` name string in one buckets array).
  //
  // Plan shape: operator matching reuses $search (join-free, one
  // broadcast stats row only if a text/phrase clause scores). On top of
  // the matched set: ALL number facets + the total count aggregate in
  // ONE full-agg pass (map-side partial sums, 1-row result), and ALL
  // string facets share ONE explode→groupBy shuffle whose post-agg
  // cardinality is the facets' distinct-value count, with per-facet
  // top-k taken by a window over that already-aggregated frame. Two
  // corpus passes total, independent of facet count.
  private def searchMeta(df: DataFrame, spec: List[(String, JValue)],
                         resolve: TableResolver = noTables): DataFrame = {
    def numOf(v: JValue, ctx: String): Double = v match {
      case JInt(i)    => i.toDouble
      case JLong(l)   => l.toDouble
      case JDouble(d) => d
      case other => throw new MqlException(s"$ctx: expected a number, got $other")
    }
    // integral boundaries render without the trailing ".0" ("100", not
    // "100.0") so bucket ids read like the spec that declared them
    def fmtNum(d: Double): String =
      if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString else d.toString
    spec.collectFirst { case ("facet", f) => asObj(f, "$searchMeta.facet") } match {
      case None =>
        val countType = spec.collectFirst { case ("count", c) =>
          asObj(c, "$searchMeta.count").collectFirst {
            case ("type", JString(t)) => t }.getOrElse("lowerBound") }
          .getOrElse("lowerBound")
        if (!Set("lowerBound", "total").contains(countType))
          throw new MqlException(s"$$searchMeta.count: unsupported type '$countType'")
        val opSpec = spec.filterNot(_._1 == "count")
        if (opSpec.isEmpty)
          throw new MqlException("$searchMeta needs an operator or a facet collector")
        // postings-index count: with a postings-bearing index and a
        // single plain text operator, the matched set is the distinct
        // doc ids across the query terms' posting rows; the count runs
        // over the incoming frame SEMI-JOINED to those ids — one
        // id-column pass instead of tokenizing and matching every
        // document, and still correct when the frame was filtered
        // upstream. An index not covering the queried path falls
        // through to the $search path, which refuses loudly.
        val indexOnly: Option[DataFrame] = for {
          nm <- opSpec.collectFirst { case ("index", JString(n)) => n }
          idf <- (try Some(resolve(nm)) catch { case _: Exception => None })
          if Seq("kind", "path", "term", "doc_id").forall(idf.columns.contains)
          tp <- opSpec.filterNot(_._1 == "index") match {
            case List(("text", tv)) =>
              val o = asObj(tv, "$searchMeta.text")
              if (!o.map(_._1).toSet.subsetOf(Set("query", "path"))) None
              else for {
                q <- o.collectFirst { case ("query", JString(x)) => x }
                p <- o.collectFirst { case ("path", JString(x)) => x }
                // posting terms were analyzed with the index's declared
                // analyzer — the query must analyze the same way
                ts = graft.llmops.Analyzers.queryTerms(
                  graft.llmops.TextIndex.indexAnalyzers(idf)
                    .getOrElse(p, graft.llmops.Analyzers.Default), q)
                if ts.nonEmpty
              } yield (ts, p)
            case _ => None
          }
          idColName <- idf.where(col("kind") === "meta" &&
              col("path") === tp._2)
            .select("term").collect().headOption.map(_.getString(0))
          if df.columns.contains(idColName)
        } yield {
          val matchedIds = idf.where(col("kind") === "posting" &&
              col("path") === tp._2 && col("term").isin(tp._1: _*))
            .select(col("doc_id").as("__graft_win")).distinct()
          df.join(matchedIds,
              df(idColName).cast("long") === col("__graft_win"), "left_semi")
            .agg(count(lit(1)).as("__c"))
            .select(struct(col("__c").as(countType)).as("count"))
        }
        indexOnly.getOrElse(
          search(df, opSpec, resolve).drop("searchScore")
            .agg(count(lit(1)).as("__c"))
            .select(struct(col("__c").as(countType)).as("count")))
      case Some(fs) =>
        fs.foreach { case (k, _) =>
          if (!Set("operator", "facets").contains(k))
            throw new MqlException(s"$$searchMeta.facet: unsupported key '$k'") }
        val matched = fs.collectFirst { case ("operator", o) =>
          search(df, asObj(o, "$searchMeta.facet.operator"), resolve)
            .drop("searchScore") }
          .getOrElse(df)
        val facetDefs = fs.collectFirst { case ("facets", v) =>
          asObj(v, "$searchMeta.facet.facets") }
          .getOrElse(throw new MqlException("$searchMeta.facet needs facets"))
        if (facetDefs.isEmpty)
          throw new MqlException("$searchMeta.facet: facets must be non-empty")
        sealed trait FDef { def name: String; def path: String }
        case class SFacet(name: String, path: String, numBuckets: Int) extends FDef
        case class NFacet(name: String, path: String, boundaries: Seq[Double],
                          default: Option[String]) extends FDef
        case class DFacet(name: String, path: String,
                          boundaries: Seq[java.time.Instant],
                          default: Option[String]) extends FDef
        val defs: Seq[FDef] = facetDefs.map { case (name, fv) =>
          val ctx = s"$$searchMeta.facet.facets.$name"
          val o = asObj(fv, ctx)
          val path = o.collectFirst { case ("path", JString(p)) => p }
            .getOrElse(throw new MqlException(s"$ctx needs path"))
          o.collectFirst { case ("type", JString(t)) => t } match {
            case Some("string") =>
              SFacet(name, path, o.collectFirst { case ("numBuckets", v) =>
                intValue(v, ctx) }.getOrElse(10))
            case Some("number") =>
              val bs = o.collectFirst { case ("boundaries", JArray(xs)) =>
                xs.map(numOf(_, s"$ctx.boundaries")) }
                .getOrElse(throw new MqlException(s"$ctx needs boundaries"))
              if (bs.length < 2 || bs.zip(bs.tail).exists { case (a, b) => a >= b })
                throw new MqlException(
                  s"$ctx: boundaries must be ≥2 strictly increasing numbers")
              NFacet(name, path, bs,
                o.collectFirst { case ("default", JString(d)) => d })
            case Some("date") =>
              // boundaries as extended-JSON {"$date": iso} (or bare iso
              // strings); bucket _ids render as the ISO instant
              val bs = o.collectFirst { case ("boundaries", JArray(xs)) =>
                xs.map {
                  case JObject(List(("$date", JString(s)))) =>
                    java.time.Instant.parse(s)
                  case JString(s) => java.time.Instant.parse(s)
                  case other => throw new MqlException(
                    s"$ctx.boundaries: expected dates, got $other")
                } }
                .getOrElse(throw new MqlException(s"$ctx needs boundaries"))
              if (bs.length < 2 ||
                  bs.zip(bs.tail).exists { case (a, b) => !a.isBefore(b) })
                throw new MqlException(
                  s"$ctx: boundaries must be ≥2 strictly increasing dates")
              DFacet(name, path, bs,
                o.collectFirst { case ("default", JString(d)) => d })
            case other => throw new MqlException(
              s"$ctx: unsupported facet type ${other.getOrElse("<missing>")}")
          }
        }
        // pass 1: total count + every number/date-facet interval, one
        // full agg (dates compare as timestamps, same interval shape)
        val nDefs = defs.zipWithIndex.collect { case (n: NFacet, i) => (n, i) }
        val dDefs = defs.zipWithIndex.collect { case (d: DFacet, i) => (d, i) }
        val aggCols: Seq[Column] = count(lit(1)).as("__total") +:
          (nDefs.flatMap { case (nf, fi) =>
            val v = fieldCol(nf.path).cast("double")
            nf.boundaries.sliding(2).toSeq.zipWithIndex.map { case (Seq(lo, hi), bi) =>
              coalesce(sum(when(v >= lo && v < hi, 1L).otherwise(0L)), lit(0L))
                .as(s"__nb_${fi}_$bi") } ++
            nf.default.map(_ => coalesce(sum(when(v.isNotNull &&
                (v < nf.boundaries.head || v >= nf.boundaries.last), 1L)
              .otherwise(0L)), lit(0L)).as(s"__nd_$fi"))
          } ++
          dDefs.flatMap { case (dfc, fi) =>
            val v = fieldCol(dfc.path).cast("timestamp")
            def ts(i: java.time.Instant) = lit(java.sql.Timestamp.from(i))
            dfc.boundaries.sliding(2).toSeq.zipWithIndex.map { case (Seq(lo, hi), bi) =>
              coalesce(sum(when(v >= ts(lo) && v < ts(hi), 1L).otherwise(0L)),
                lit(0L)).as(s"__db_${fi}_$bi") } ++
            dfc.default.map(_ => coalesce(sum(when(v.isNotNull &&
                (v < ts(dfc.boundaries.head) || v >= ts(dfc.boundaries.last)), 1L)
              .otherwise(0L)), lit(0L)).as(s"__dd_$fi"))
          })
        val numRow = matched.agg(aggCols.head, aggCols.tail: _*)
        // pass 2: every string facet through one explode→groupBy; facet
        // index rides along so one shuffle serves them all
        val sDefs = defs.zipWithIndex.collect { case (s: SFacet, i) => (s, i) }
        val row = if (sDefs.isEmpty) numRow else {
          val pairs = sDefs.map { case (sf, fi) =>
            struct(lit(fi).as("fi"), fieldCol(sf.path).cast("string").as("v")) }
          val nbByIdx = typedlit(sDefs.map { case (sf, _) => sf.numBuckets })
          val posCol = sDefs.zipWithIndex.foldLeft(lit(0)) { case (acc, ((_, fi), pos)) =>
            when(col("fi") === fi, lit(pos + 1)).otherwise(acc) }
          val grouped = matched.select(explode(array(pairs: _*)).as("p"))
            .where(col("p.v").isNotNull)
            .groupBy(col("p.fi").as("fi"), col("p.v").as("v"))
            .agg(count(lit(1)).as("cnt"))
          val topK = grouped.withColumn("__rn", row_number().over(
              Window.partitionBy(col("fi")).orderBy(col("cnt").desc, col("v").asc)))
            .where(col("__rn") <= element_at(nbByIdx, posCol))
          val sRow = topK.agg(collect_list(struct(col("fi"), col("v"), col("cnt")))
            .as("__sb"))
          numRow.crossJoin(sRow)
        }
        def buckets(d: FDef, fi: Int): Column = d match {
          case nf: NFacet =>
            val items = nf.boundaries.init.zipWithIndex.map { case (lo, bi) =>
              struct(lit(fmtNum(lo)).as("_id"), col(s"__nb_${fi}_$bi").as("count")) } ++
              nf.default.map(dn =>
                struct(lit(dn).as("_id"), col(s"__nd_$fi").as("count")))
            array(items: _*)
          case dfc: DFacet =>
            val items = dfc.boundaries.init.zipWithIndex.map { case (lo, bi) =>
              struct(lit(lo.toString).as("_id"),
                col(s"__db_${fi}_$bi").as("count")) } ++
              dfc.default.map(dn =>
                struct(lit(dn).as("_id"), col(s"__dd_$fi").as("count")))
            array(items: _*)
          case _: SFacet =>
            val mine = filter(col("__sb"), b => b("fi") === fi)
            val sorted = array_sort(mine, (l, r) =>
              when(l("cnt") > r("cnt"), -1).when(l("cnt") < r("cnt"), 1)
                .when(l("v") < r("v"), -1).when(l("v") > r("v"), 1).otherwise(0))
            transform(sorted, b => struct(b("v").as("_id"), b("cnt").as("count")))
        }
        row.select(
          struct(col("__total").as("lowerBound")).as("count"),
          struct(defs.zipWithIndex.map { case (d, fi) =>
            struct(buckets(d, fi).as("buckets")).as(d.name) }: _*).as("facet"))
    }
  }

  // ---- $vectorSearch -----------------------------------------------------
  // Atlas Search's ANN stage (public surface: path/queryVector/limit/
  // numCandidates/exact/filter), lowered onto the engine's similarity
  // machinery. Scoring follows Atlas's cosine normalization
  // score = (1 + cos)/2 ∈ [0, 1], appended as a `vectorSearchScore`
  // column ({"$meta": "vectorSearchScore"} resolves to it, so the
  // standard $project idiom works verbatim).
  //  * exact: true — full-scan scoring; ORDER BY + LIMIT plans as
  //    TakeOrderedAndProject (per-partition top-k, no global sort).
  //  * exact: false — IVF: deterministic hash-sampled centroids
  //    (portable seeds), map-only cell assignment, and only the probed
  //    cells are scored. numCandidates maps to the probe count the way
  //    Atlas documents it (candidates considered ≈ numCandidates):
  //    nProbe = ceil(numCandidates / (N / nCells)).
  //  * tieBreaker (extension): a field that orders equal scores —
  //    without one, rows tied at `limit`'s edge are engine-chosen
  //    (Mongo makes the same non-guarantee).
  private def vectorSearch(df: DataFrame, spec: List[(String, JValue)],
                           resolve: TableResolver = noTables): DataFrame = {
    import graft.llmops.Similarity
    val path = spec.collectFirst { case ("path", JString(p)) => p }
      .getOrElse(throw new MqlException("$vectorSearch needs path"))
    val qv: Seq[Double] = spec.collectFirst { case ("queryVector", JArray(xs)) =>
      xs.map {
        case JDouble(d) => d
        case JInt(i)    => i.toDouble
        case JLong(l)   => l.toDouble
        case other => throw new MqlException(s"bad queryVector element: $other")
      }
    }.getOrElse(throw new MqlException("$vectorSearch needs queryVector"))
    val limitN = spec.collectFirst { case ("limit", l) => intValue(l, "$vectorSearch") }
      .getOrElse(throw new MqlException("$vectorSearch needs limit"))
    val exact = spec.collectFirst { case ("exact", JBool(b)) => b }.getOrElse(false)
    val filtered = spec.collectFirst { case ("filter", f) => f }
      .map(f => df.where(
        FilterCompiler.withSchema(Some(df.schema))(FilterCompiler.compile(f))))
      .getOrElse(df)
    val qn = math.sqrt(qv.map(x => x * x).sum)
    if (qn == 0.0) throw new MqlException("$vectorSearch: zero query vector")
    val vcol = fieldCol(path).cast("array<double>")
    val score = round((Similarity.dot(vcol, typedlit(qv)) /
      (Similarity.norm(vcol) * lit(qn)) + 1.0) / 2.0, 6)
    val tieCols = spec.collectFirst { case ("tieBreaker", JString(t)) => t }
      .map(t => Seq(fieldCol(t).asc)).getOrElse(Seq.empty)
    val numCandidates0 = spec.collectFirst {
      case ("numCandidates", c) => intValue(c, "$vectorSearch") }
      .getOrElse(limitN * 10)
    // centroid→probe selection shared by the persisted-index and
    // self-seeding ANN paths: driver-side scoring of the query vector
    // against ≤nCells centroids, then one map-only cell filter
    def probeCells(seeds: IndexedSeq[Seq[Double]], corpusN: Long): DataFrame = {
      val n = corpusN.max(1L)
      val nProbe = math.min(seeds.length.toLong,
        (numCandidates0.toLong * seeds.length + n - 1) / n).toInt.max(1)
      val probed = seeds.zipWithIndex.map { case (c, i) =>
        val cn = math.sqrt(c.map(x => x * x).sum)
        (i, if (cn == 0.0) 0.0 else
          qv.zip(c).map { case (a, b) => a * b }.sum / cn)
      }.sortBy { case (i, sc) => (-sc, i) }.take(nProbe).map(_._1)
      filtered.where(
        Similarity.nearestCell(vcol, seeds).isInCollection(probed))
    }
    // Atlas-style persisted index: `index` names a centroid collection
    // (Similarity.centroidFrame written to a store) — the query then
    // pays ONLY the bounded centroid collect + the map-only probe
    // filter, never a per-query corpus seeding pass. An `index` naming
    // no resolvable collection falls back to self-seeding (the Atlas
    // default-index emulation — the reference client forwards index
    // names without validating them, api.py:252); a collection that
    // resolves but has no (cell_id, centroid) columns is refused
    // loudly (a typo pointing at a DATA collection must not silently
    // scan it as centroids).
    val indexFrame: Option[DataFrame] =
      // exact:true scans everything — don't resolve (or validate) an
      // index the path will never read
      spec.collectFirst { case ("index", JString(nm)) if !exact => nm }.flatMap { nm =>
        (try Some(resolve(nm)) catch { case _: Exception => None }).map { idf =>
          val cols = idf.columns.toSet
          if (!cols.contains("cell_id") || !cols.contains("centroid"))
            throw new MqlException(s"$$vectorSearch.index: '$nm' resolves " +
              "to a collection without (cell_id, centroid) columns — not a vector index")
          idf
        }
      }
    val candidates =
      if (exact) filtered
      else if (indexFrame.isDefined) {
        val idf = indexFrame.get
        val hasN = idf.columns.contains("n_members")
        val rows = idf.select(col("cell_id"),
            col("centroid").cast("array<double>").as("centroid"),
            (if (hasN) col("n_members").cast("long") else lit(0L)).as("n_members"))
          .orderBy(col("cell_id")).limit(65537).collect()
        if (rows.length > 65536)
          throw new MqlException("$vectorSearch.index: more than 65536 cells")
        if (rows.isEmpty) filtered.limit(0)
        else probeCells(rows.map(_.getSeq[Double](1)).toIndexedSeq,
          rows.map(_.getLong(2)).sum)
      }
      else {
        val nCells = spec.collectFirst { case ("nCells", c) => intValue(c, "$vectorSearch") }
          .getOrElse(16)
        // IVF without any synthetic row id: centroid seeds are the
        // nCells rows with the smallest hash OF THE VECTOR ITSELF (a
        // deterministic sample needing no key column — duplicate
        // vectors tie on the hash but contribute the identical
        // centroid, so the seed SET is stable), and candidate
        // selection is one map-only nearest-cell filter — no join, no
        // id plumbing. Seeds AND the corpus count come out of ONE
        // treeAggregate pass (count + bounded top-nCells-by-hash per
        // partition, log-depth merge) — the build prelude is a single
        // job, not a TakeOrdered plus a separate count
        val (n0, seedHeap) = filtered
          .select(xxhash64(vcol).as("__h"), vcol.as("__v"))
          .where(col("__v").isNotNull && size(col("__v")) > 0)
          .rdd.treeAggregate(
            (0L, Vector.empty[(Long, Seq[Double])]))(
            { case ((cnt, top), r) =>
              val cand = top :+ (r.getLong(0) -> r.getSeq[Double](1))
              (cnt + 1,
                if (cand.length <= nCells) cand
                else cand.sortBy(_._1).take(nCells)) },
            { case ((c1, t1), (c2, t2)) =>
              (c1 + c2, (t1 ++ t2).sortBy(_._1).take(nCells)) })
        val seeds = seedHeap.sortBy(_._1).take(nCells).map(_._2).toIndexedSeq
        if (seeds.isEmpty) filtered.limit(0)
        else probeCells(seeds, n0)
      }
    candidates.withColumn("vectorSearchScore", score)
      .orderBy(col("vectorSearchScore").desc +: tieCols: _*)
      .limit(limitN)
  }

  // Ties in the groupBy expression straddle bucket borders
  // nondeterministically on both paths — pick a unique expression.
  // Preferred-number series for $bucketAuto granularity (the tables
  // Mongo hardcodes in granularity_rounder_preferred_numbers.cpp; all
  // public standard Renard/E-series values). E48 and coarser carry the
  // standard's historical irregularities, so they are spelled out;
  // E96/E192 follow the 10^(k/N) significant-digit formula exactly.
  private val GranularitySeries: Map[String, Seq[Double]] = {
    def eSeries(n: Int, sig: Int): Seq[Double] =
      (0 until n).map { k =>
        val raw = math.pow(10, k.toDouble / n)
        BigDecimal(raw).round(new java.math.MathContext(sig)).toDouble
      }
    Map(
      "R5"  -> Seq(1.0, 1.6, 2.5, 4.0, 6.3),
      "R10" -> Seq(1.0, 1.25, 1.6, 2.0, 2.5, 3.15, 4.0, 5.0, 6.3, 8.0),
      "R20" -> Seq(1.0, 1.12, 1.25, 1.4, 1.6, 1.8, 2.0, 2.24, 2.5, 2.8,
        3.15, 3.55, 4.0, 4.5, 5.0, 5.6, 6.3, 7.1, 8.0, 9.0),
      "R40" -> Seq(1.0, 1.06, 1.12, 1.18, 1.25, 1.32, 1.4, 1.5, 1.6, 1.7,
        1.8, 1.9, 2.0, 2.12, 2.24, 2.36, 2.5, 2.65, 2.8, 3.0, 3.15, 3.35,
        3.55, 3.75, 4.0, 4.25, 4.5, 4.75, 5.0, 5.3, 5.6, 6.0, 6.3, 6.7,
        7.1, 7.5, 8.0, 8.5, 9.0, 9.5),
      "R80" -> Seq(1.0, 1.03, 1.06, 1.09, 1.12, 1.15, 1.18, 1.22, 1.25,
        1.28, 1.32, 1.36, 1.4, 1.45, 1.5, 1.55, 1.6, 1.65, 1.7, 1.75, 1.8,
        1.85, 1.9, 1.95, 2.0, 2.06, 2.12, 2.18, 2.24, 2.3, 2.36, 2.43,
        2.5, 2.58, 2.65, 2.72, 2.8, 2.9, 3.0, 3.07, 3.15, 3.25, 3.35,
        3.45, 3.55, 3.65, 3.75, 3.87, 4.0, 4.12, 4.25, 4.37, 4.5, 4.62,
        4.75, 4.87, 5.0, 5.15, 5.3, 5.45, 5.6, 5.8, 6.0, 6.15, 6.3, 6.5,
        6.7, 6.9, 7.1, 7.3, 7.5, 7.75, 8.0, 8.25, 8.5, 8.75, 9.0, 9.25,
        9.5, 9.75),
      "1-2-5" -> Seq(1.0, 2.0, 5.0),
      "E6"  -> Seq(1.0, 1.5, 2.2, 3.3, 4.7, 6.8),
      "E12" -> Seq(1.0, 1.2, 1.5, 1.8, 2.2, 2.7, 3.3, 3.9, 4.7, 5.6, 6.8, 8.2),
      "E24" -> Seq(1.0, 1.1, 1.2, 1.3, 1.5, 1.6, 1.8, 2.0, 2.2, 2.4, 2.7,
        3.0, 3.3, 3.6, 3.9, 4.3, 4.7, 5.1, 5.6, 6.2, 6.8, 7.5, 8.2, 9.1),
      "E48" -> Seq(1.00, 1.05, 1.10, 1.15, 1.21, 1.27, 1.33, 1.40, 1.47,
        1.54, 1.62, 1.69, 1.78, 1.87, 1.96, 2.05, 2.15, 2.26, 2.37, 2.49,
        2.61, 2.74, 2.87, 3.01, 3.16, 3.32, 3.48, 3.65, 3.83, 4.02, 4.22,
        4.42, 4.64, 4.87, 5.11, 5.36, 5.62, 5.90, 6.19, 6.49, 6.81, 7.15,
        7.50, 7.87, 8.25, 8.66, 9.09, 9.53),
      "E96"  -> eSeries(96, 3),
      "E192" -> eSeries(192, 3))
  }

  /** Smallest value of the form series(i)·10^k that is ≥ x (roundUp) or
    * the largest ≤ x (roundDown); 0 maps to 0, negatives reject (as in
    * Mongo — preferred-number series are positive by construction). */
  private[mql] def granularityRound(x: Double, series: String,
                                    up: Boolean): Double = {
    if (x < 0) throw new MqlException(
      s"$$bucketAuto: granularity requires non-negative values, got $x")
    if (x == 0) return 0.0
    if (series == "POWERSOF2") {
      val l = math.log(x) / math.log(2)
      return math.pow(2, if (up) math.ceil(l) else math.floor(l))
    }
    val s = GranularitySeries.getOrElse(series, throw new MqlException(
      s"$$bucketAuto: unknown granularity '$series'"))
    val exp = math.floor(math.log10(x)).toInt
    // scan the decade of x, falling over to the neighbor decade when x
    // sits past the series' last value (or before its first)
    val candidates = (exp - 1 to exp + 1).flatMap(e => s.map(v =>
      BigDecimal(v) * BigDecimal(10).pow(e))).map(_.toDouble)
    if (up) candidates.filter(_ >= x).min else candidates.filter(_ <= x).max
  }

  private def bucketAuto(df: DataFrame, spec: List[(String, JValue)]): DataFrame = {
    val gb = ExprCompiler.compile(spec.collectFirst { case ("groupBy", e) => e }
      .getOrElse(throw new MqlException("$bucketAuto needs groupBy")))
    val n = spec.collectFirst { case ("buckets", b) => intValue(b, "$bucketAuto") }
      .getOrElse(throw new MqlException("$bucketAuto needs buckets"))
    val granularity = spec.collectFirst { case ("granularity", JString(g)) => g }
    val accDefs = spec.collectFirst { case ("output", JObject(out)) => out }
      .getOrElse(List("count" -> JObject(List("$sum" -> JInt(1)))))
    val accCols = accDefs.map {
      case (nm, JObject(List((op, arg)))) => accumulator(op, arg, None).as(nm)
      case (nm, other) => throw new MqlException(s"bad output $nm: $other")
    }
    granularity.foreach(g => return bucketAutoGranular(df, gb, n, g, accDefs, accCols))
    bucketAutoPlain(df, gb, n, accDefs, accCols)
  }

  // $bucketAuto with granularity: equal-count raw boundaries (one
  // percentile_approx sketch pass, accuracy 10000 — exact on small
  // inputs) rounded onto the preferred-number series: first boundary
  // roundDown(min), the rest roundUp, kept strictly increasing (Mongo's
  // fewer-buckets-under-skew behavior). The rounded boundaries ARE the
  // reported _id {min, max} (with granularity Mongo reports series
  // values, not per-bucket data extremes). Assignment is a literal
  // when-chain — map-only; the only shuffle is the final hash agg.
  private def bucketAutoGranular(df: DataFrame, gb: Column, n: Int,
      series: String, accDefs: List[(String, JValue)],
      accCols: Seq[Column]): DataFrame = {
    df.select(gb.as("__gb")).schema.head.dataType match {
      case _: org.apache.spark.sql.types.NumericType => ()
      case t => throw new MqlException(
        s"$$bucketAuto: granularity needs a numeric groupBy, got ${t.simpleString}")
    }
    def strictUp(x: Double): Double =
      granularityRound(math.nextUp(x), series, up = true) match {
        case v if v > x => v
        case _ => granularityRound(x * (1 + 1e-9), series, up = true)
      }
    // n == 1 still sketches one (ignored) percentile — an empty
    // percentage array is an analysis error
    val probs = array(((1 until n).map(i => lit(i.toDouble / n)) match {
      case Seq() => Seq(lit(0.5)); case ps => ps }): _*)
    val stats = df.agg(min(gb).cast("double").as("mn"),
      max(gb).cast("double").as("mx"),
      percentile_approx(gb.cast("double"), probs, lit(10000)).as("bs")).first()
    val mn = if (stats.isNullAt(0)) 0.0 else stats.getDouble(0)
    val mx = if (stats.isNullAt(1)) 0.0 else stats.getDouble(1)
    val raws: Seq[Double] =
      if (n <= 1 || stats.isNullAt(2)) Seq.empty else stats.getSeq[Double](2)
    var bounds = Vector(granularityRound(mn, series, up = false))
    raws.foreach { r =>
      val v = granularityRound(r, series, up = true)
      if (v > bounds.last) bounds :+= v
    }
    val top = granularityRound(mx, series, up = true)
    bounds :+= (if (top > bounds.last) top else strictUp(bounds.last))
    val nB = bounds.length - 1
    // nulls sort first, as in the plain path → bucket 1
    val bucketCol = bounds.slice(1, nB).zipWithIndex
      .foldLeft(when(gb.isNull, lit(1))) { case (acc, (b, i)) =>
        acc.when(gb.cast("double") < lit(b), lit(i + 1))
      }.otherwise(lit(nB))
    val bMin = element_at(array(bounds.init.map(lit): _*), col("__graft_bucket"))
    val bMax = element_at(array(bounds.tail.map(lit): _*), col("__graft_bucket"))
    df.withColumn("__graft_bucket", bucketCol)
      .groupBy(col("__graft_bucket"))
      .agg(accCols.head, accCols.tail: _*)
      .select(struct(bMin.as("min"), bMax.as("max")).as("_id")
        +: accDefs.map(d => col(d._1)): _*)
      .orderBy(col("_id.min"))
  }

  private def bucketAutoPlain(df: DataFrame, gb: Column, n: Int,
      accDefs: List[(String, JValue)], accCols: Seq[Column]): DataFrame = {
    val threshold = df.sparkSession.conf
      .get("spark.graft.bucketAuto.exactThreshold", "1000000").toLong
    // percentile_approx sketches numerics only; other groupBy types
    // (string/bool) keep the exact ntile plan at any size
    val sketchable = df.select(gb.as("__gb")).schema.head.dataType match {
      case _: org.apache.spark.sql.types.NumericType => true
      case _ => false
    }
    // ONE stat pass decides the path AND fetches the boundary sketch
    // (the upstream plan re-executes once here and once in the final
    // agg — the price of never letting a global sort touch large data).
    // Skipped entirely when the count could not change the chosen plan:
    // non-sketchable types, and inputs whose Catalyst size estimate is
    // far below the threshold (32 bytes/row nominal). The estimate is
    // compressed bytes, so an extreme columnar compression ratio can
    // understate rows — bounded consequence: the exact path sorts a few
    // × threshold rows in one task instead of switching, slow but
    // correct. Small inputs (the common case) pay zero extra actions.
    val provablySmall =
      df.queryExecution.optimizedPlan.stats.sizeInBytes < threshold * 32
    val probs = array((1 until n).map(i => lit(i.toDouble / n)): _*)
    val bounds =
      if (!sketchable || provablySmall) None
      else {
        val stats =
          df.agg(count(lit(1)), percentile_approx(gb, probs, lit(10000))).first()
        if (stats.getLong(0) > threshold) Option(stats.getSeq[Any](1)) else None
      }
    val bucketCol = bounds match {
      case None => ntile(n).over(Window.orderBy(gb.asc))
      case Some(bs) if bs.isEmpty => lit(1) // single bucket (n == 1)
      case Some(bs) =>
        // nulls sort first (as in the ntile path's asc ordering) → bucket 1
        bs.zipWithIndex.foldLeft(when(gb.isNull, lit(1))) {
          case (acc, (b, i)) => acc.when(gb < lit(b), lit(i + 1))
        }.otherwise(lit(n))
    }
    val aggCols = Seq(min(gb).as("__min"), max(gb).as("__max")) ++ accCols
    df.withColumn("__graft_bucket", bucketCol)
      .groupBy(col("__graft_bucket"))
      .agg(aggCols.head, aggCols.tail: _*)
      .select(struct(col("__min").as("min"), col("__max").as("max")).as("_id")
        +: accDefs.map(d => col(d._1)): _*)
      .orderBy(col("_id.min"))
  }

  // ---- $graphLookup ------------------------------------------------------
  // Bounded BFS as maxDepth+1 rounds of equi-joins (the Spark-native
  // shape for iterative graph expansion: each round is one shuffle join,
  // the frontier shrinks as visited nodes are anti-joined away).
  // maxDepth is required here — an unbounded traversal has no place in a
  // declarative plan (Mongo's default is unbounded; callers pick the cap).
  private def graphLookup(df: DataFrame, spec: List[(String, JValue)],
                          resolve: TableResolver,
                          uniqueKey: Option[String] = None): DataFrame = {
    def get(k: String) = strValue(spec.collectFirst { case (`k`, x) => x }
      .getOrElse(throw new MqlException(s"$$graphLookup needs $k")), "$graphLookup")
    val fromDf = resolve(get("from"))
    val startWith = spec.collectFirst { case ("startWith", e) => e }
      .getOrElse(throw new MqlException("$graphLookup needs startWith"))
    val connectFrom = get("connectFromField"); val connectTo = get("connectToField")
    val as = get("as")
    val maxDepth = spec.collectFirst { case ("maxDepth", d) => intValue(d, "$graphLookup") }
      .getOrElse(throw new MqlException(
        "$graphLookup requires maxDepth (unbounded traversal is not plannable)"))
    val depthField = spec.collectFirst { case ("depthField", JString(f)) => f }

    // the rid feeds the frontier seeding AND the final regroup join: a
    // caller-asserted unique key IS the rid (stable by construction);
    // keyless inputs freeze a synthetic id (localCheckpoint) or a
    // nondeterministic upstream would re-execute with different ids
    val withRid = uniqueKey.filter(_ => stableRowSet(df)) match {
      case Some(k) => df.withColumn("__graft_rid", col(k))
      case None => df.withColumn("__graft_rid", monotonically_increasing_id())
        .localCheckpoint(true)
    }
    val doc = struct(fromDf.columns.map(col): _*)
    // Mongo traverses ARRAY fields element-wise in all three positions
    // (the adjacency-list graph encoding: children: ["a","b"]): an
    // array connectToField matches any element, an array
    // connectFromField fans the frontier out through each element, and
    // an array startWith seeds one frontier entry per element. Each is
    // an explode over distinct elements; (rid, doc) dedup below keeps
    // multi-element hits single.
    def isArray(dt: org.apache.spark.sql.types.DataType) =
      dt.isInstanceOf[org.apache.spark.sql.types.ArrayType]
    val toIsArray = isArray(fromDf.select(col(connectTo)).schema.head.dataType)
    val fromIsArray = isArray(fromDf.select(col(connectFrom)).schema.head.dataType)
    val nodes = fromDf.select(
      (if (toIsArray) explode_outer(array_distinct(col(connectTo)))
       else col(connectTo)).as("__to"),
      col(connectFrom).as("__from"), doc.as("__doc"))

    // each round is localCheckpoint'ed: truncates lineage (else the
    // anti-join-against-union plan grows super-linearly in depth) and
    // lets the empty-frontier early exit stop the traversal cheaply
    val sw = ExprCompiler.compile(startWith)
    val swIsArray = isArray(withRid.select(sw).schema.head.dataType)
    var frontier = withRid.select(col("__graft_rid"),
      (if (swIsArray) explode(array_distinct(sw)) else sw).as("__v"))
    var visited = nodes.sparkSession.emptyDataFrame
    var first = true
    var d = 0
    var done = false
    while (d <= maxDepth && !done) {
      val matched = frontier.join(nodes, col("__v") === col("__to"))
        .select(col("__graft_rid"), col("__doc"), col("__from"),
          lit(d.toLong).as("__depth"))
      val freshPlan =
        if (first) matched.dropDuplicates("__graft_rid", "__doc")
        else {
          val seen = visited.select(col("__graft_rid").as("__vrid"),
            col("__doc").as("__seen"))
          matched.join(seen,
            matched("__graft_rid") === seen("__vrid") &&
              matched("__doc") === seen("__seen"), "left_anti")
            .dropDuplicates("__graft_rid", "__doc")
        }
      val fresh = freshPlan.localCheckpoint(true)
      if (fresh.isEmpty) done = true
      else {
        visited = if (first) fresh else visited.unionByName(fresh)
        first = false
        frontier = fresh.select(col("__graft_rid"),
          (if (fromIsArray) explode(array_distinct(col("__from")))
           else col("__from")).as("__v"))
      }
      d += 1
    }
    if (first) { // no matches at all → every row gets an empty array
      val ridType = withRid.schema("__graft_rid").dataType
      visited = nodes.limit(0).select(lit(null).cast(ridType).as("__graft_rid"),
        col("__doc"), col("__from"), lit(0L).as("__depth"))
    }
    val resultDoc = depthField match {
      case Some(f) => col("__doc").withField(f, col("__depth"))
      case None => col("__doc")
    }
    val packed = visited
      .groupBy("__graft_rid")
      .agg(collect_list(resultDoc).as(as))
    val joined = withRid.join(packed, Seq("__graft_rid"), "left")
    val elemType = packed.schema(as).dataType
    joined.withColumn(as, coalesce(col(as), array().cast(elemType)))
      .drop("__graft_rid")
  }

  // ---- $bucket -----------------------------------------------------------
  private def bucket(df: DataFrame, spec: List[(String, JValue)]): DataFrame = {
    val gb = ExprCompiler.compile(spec.collectFirst { case ("groupBy", e) => e }
      .getOrElse(throw new MqlException("$bucket needs groupBy")))
    val bounds = spec.collectFirst { case ("boundaries", JArray(bs)) => bs }
      .getOrElse(throw new MqlException("$bucket needs boundaries"))
      .map(literal)
    val default = spec.collectFirst { case ("default", d) => literal(d) }
    val bucketCol = bounds.sliding(2).toList.foldLeft(when(lit(false), lit(null))) {
      case (acc, List(lo, hi)) => acc.when(gb >= lo && gb < hi, lo)
      case (acc, _) => acc
    }
    val withDefault = default.map(bucketCol.otherwise).getOrElse(bucketCol)
    val accs = spec.collectFirst { case ("output", JObject(out)) => out }
      .getOrElse(List("count" -> JObject(List("$sum" -> JInt(1)))))
      .map { case (n, JObject(List((op, arg)))) => accumulator(op, arg, None).as(n)
             case (n, other) => throw new MqlException(s"bad output $n: $other") }
    df.groupBy(withDefault.as("_id")).agg(accs.head, accs.tail: _*)
  }

  // ---- $facet ------------------------------------------------------------
  // Each sub-pipeline runs on the same input; every branch reduces to one
  // array-of-docs column, joined into a single row. Branches execute as
  // independent Spark jobs (fan-out parallelism is free).
  private def facet(df: DataFrame, spec: List[(String, JValue)],
                    resolve: TableResolver): DataFrame = {
    val branches = spec.map { case (name, stages) =>
      val sub = stages match {
        case JArray(ss) => ss.foldLeft(df) { (acc, st) =>
          asObj(st, "facet stage") match {
            case List((n2, sp2)) => applyStage(acc, n2, sp2, resolve)
            case o => throw new MqlException(s"bad facet stage $o")
          }
        }
        case other => throw new MqlException(s"$$facet branch $name: $other")
      }
      sub.agg(collect_list(struct(sub.columns.map(col): _*)).as(name))
    }
    branches.reduce(_.crossJoin(_))
  }

  // ---- $fill -------------------------------------------------------------
  // output: {field: {value: expr}} → coalesce with the expression;
  //         {field: {method: "locf"}} → last non-null over the sort order.
  private def fill(df: DataFrame, spec: List[(String, JValue)]): DataFrame = {
    val partCols: Seq[Column] = spec.collectFirst { case ("partitionBy", e) => e } match {
      case None | Some(JNull) => Seq(lit(0))
      case Some(e) => Seq(ExprCompiler.compile(e))
    }
    val sortBy = spec.collectFirst { case ("sortBy", s) => sortCols(s) }
    val output = spec.collectFirst { case ("output", JObject(out)) => out }
      .getOrElse(throw new MqlException("$fill needs output"))
    output.foldLeft(df) {
      case (acc, (name, JObject(List(("value", e))))) =>
        acc.withColumn(name, coalesce(col(name), ExprCompiler.compile(e)))
      case (acc, (name, JObject(List(("method", JString("locf")))))) =>
        val sorts = sortBy.getOrElse(throw new MqlException("$fill locf needs sortBy"))
        val w = Window.partitionBy(partCols: _*).orderBy(sorts: _*)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        acc.withColumn(name, last(col(name), ignoreNulls = true).over(w))
      // linear: interpolate proportionally to the (numeric) sortBy field
      // between the surrounding known points; nulls before the first or
      // after the last known value stay null (Mongo semantics)
      case (acc, (name, JObject(List(("method", JString("linear")))))) =>
        val sortField = spec.collectFirst { case ("sortBy", s) => s } match {
          case Some(JObject(List((f, _)))) => fieldCol(f).cast(DoubleType)
          case _ => throw new MqlException("$fill linear needs a single sortBy field")
        }
        val sorts = sortBy.get
        val v = col(name)
        val before = Window.partitionBy(partCols: _*).orderBy(sorts: _*)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val after = Window.partitionBy(partCols: _*).orderBy(sorts: _*)
          .rowsBetween(Window.currentRow, Window.unboundedFollowing)
        val prevV = last(v, ignoreNulls = true).over(before)
        val prevS = last(when(v.isNotNull, sortField), ignoreNulls = true).over(before)
        val nextV = first(v, ignoreNulls = true).over(after)
        val nextS = first(when(v.isNotNull, sortField), ignoreNulls = true).over(after)
        // Mongo rejects repeated sortBy values for linear (interpolation
        // is ill-defined and window prev/next become order-dependent)
        val dupes = count(lit(1)).over(
          Window.partitionBy((partCols :+ sortField): _*))
        acc.withColumn(name,
          when(dupes > 1, raise_error(concat(
            lit("$fill linear: repeated sortBy value "),
            sortField.cast(StringType))).cast(DoubleType))
          .when(v.isNotNull, v)
          .otherwise(
            when(prevV.isNotNull && nextV.isNotNull,
              prevV + (nextV - prevV) * (sortField - prevS) / (nextS - prevS))))
      case (_, (name, other)) =>
        throw new MqlException(s"bad $$fill output for $name: $other")
    }
  }

  // ---- $densify ----------------------------------------------------------
  // Missing grid points are generated with sequence()+explode per
  // partition-combo (one small dimension join, no driver loop); generated
  // rows carry nulls everywhere but the densified + partition fields,
  // matching Mongo's output shape.
  private def densify(df: DataFrame, spec: List[(String, JValue)]): DataFrame = {
    val fieldName = strValue(spec.collectFirst { case ("field", f) => f }
      .getOrElse(throw new MqlException("$densify needs field")), "$densify")
    val range = spec.collectFirst { case ("range", JObject(r)) => r }
      .getOrElse(throw new MqlException("$densify needs range"))
    val partFields = spec.collectFirst { case ("partitionByFields", JArray(fs)) =>
      fs.map(strValue(_, "$densify")) }.getOrElse(Nil)
    val step = range.collectFirst { case ("step", s) => s }
      .getOrElse(throw new MqlException("$densify range needs step"))
    val unit = range.collectFirst { case ("unit", u) => strValue(u, "$densify") }
    val stepCol: Column = unit match {
      case Some(u) => expr(s"INTERVAL ${intValue(step, "$densify")} $u")
      case None => literal(step)
    }
    val bounds = range.collectFirst { case ("bounds", b) => b }
      .getOrElse(JString("full"))
    val f = col(fieldName)
    val partCols = partFields.map(col)
    // Mongo: "full" densifies the GLOBAL min..max inclusive in every
    // partition; "partition" uses each partition's own min..max;
    // explicit [lo, hi) is half-open — filter the sequence below hi
    val defaultCombos =
      if (partCols.nonEmpty) df.select(partCols: _*).distinct()
      else df.sparkSession.range(1).select()
    val (combos, lo, hi, hiExclusive) = bounds match {
      case JString("full") =>
        val r = df.agg(min(f), max(f)).head
        (defaultCombos, lit(r.get(0)), lit(r.get(1)), false)
      case JString("partition") =>
        if (partCols.isEmpty) throw new MqlException(
          "$densify bounds 'partition' requires partitionByFields")
        (df.groupBy(partCols: _*).agg(min(f).as("__lo"), max(f).as("__hi")),
          col("__lo"), col("__hi"), false)
      case JArray(List(l, h)) => (defaultCombos, literal(l), literal(h), true)
      case other => throw new MqlException(s"bad $$densify bounds: $other")
    }
    val seqCol = sequence(lo, hi, stepCol)
    val gridVals = if (hiExclusive) filter(seqCol, x => x < hi) else seqCol
    val grid = combos.withColumn(fieldName, explode(gridVals))
      .drop("__lo", "__hi")
    val keys = fieldName +: partFields
    // null-SAFE anti-join: a null partition-key group must still match
    // its own grid rows (plain equality never matches null and would
    // duplicate every existing point of that group)
    val existing = df.select(keys.map(col): _*)
    val missing = grid.as("g").join(existing.as("e"),
      keys.map(k => col(s"g.$k") <=> col(s"e.$k")).reduce(_ && _),
      "left_anti")
    df.unionByName(missing, allowMissingColumns = true)
  }

  // ---- $setWindowFields --------------------------------------------------
  private def setWindowFields(df: DataFrame, spec: List[(String, JValue)]): DataFrame = {
    val partCols: Seq[Column] = spec.collectFirst { case ("partitionBy", e) => e } match {
      case None | Some(JNull) => Seq.empty
      case Some(e) => Seq(ExprCompiler.compile(e))
    }
    val sortBy = spec.collectFirst { case ("sortBy", s) => sortCols(s) }
    val output = spec.collectFirst { case ("output", JObject(out)) => out }
      .getOrElse(throw new MqlException("$setWindowFields needs output"))

    def frameBound(v: JValue, default: Long): Long = v match {
      case JString("unbounded") => default
      case JString("current")   => 0L
      case JInt(i)              => i.toLong
      case JLong(l)             => l
      case other => throw new MqlException(s"bad window bound: $other")
    }

    def unitToMicros(u: String): Long = u match {
      case "millisecond" => 1000L
      case "second" => 1000000L
      case "minute" => 60000000L
      case "hour"   => 3600000000L
      case "day"    => 86400000000L
      case "week"   => 604800000000L
      case other => throw new MqlException(
        s"$$setWindowFields: calendar-variable unit '$other' unsupported")
    }

    /** The single-field sortBy these order-dependent operators need
      * (unit range frames, $derivative, $integral). */
    def singleAscSortField(ctx: String): String =
      spec.collectFirst { case ("sortBy", s) => s } match {
        case Some(JObject(List((f, dir)))) if frameBound(dir, 1L) == 1L => f
        case _ => throw new MqlException(
          s"$ctx needs a single ascending sortBy")
      }

    output.foldLeft(df) { case (acc, (name, entry)) =>
      val fspec = entry match {
        case JObject(fs) => fs
        case other => throw new MqlException(
          s"$$setWindowFields: output field $name takes a document, got " +
            FilterTranslator.render(other))
      }
      val windowDoc = fspec.collectFirst { case ("window", JObject(w)) => w }
      val opEntry = fspec.collectFirst {
        case (op, arg) if op.startsWith("$") => (op, arg)
      }.getOrElse(throw new MqlException(s"window output $name needs an operator"))
      val (op, arg) = opEntry

      val base: WindowSpec =
        if (partCols.nonEmpty) Window.partitionBy(partCols: _*)
        else Window.partitionBy(lit(0))
      val ranked = op match {
        case "$rank" | "$denseRank" | "$documentNumber" | "$percentRank" => true
        case _ => false
      }
      val sorted = sortBy.map(sc => base.orderBy(sc: _*)).getOrElse(base)
      // time-range windows: a "unit" key scales the range bounds and
      // sorts on epoch micros of the (single, ascending) sortBy field
      val unitScale: Option[Long] = windowDoc.flatMap(_.collectFirst {
        case ("unit", JString(u)) => unitToMicros(u)
      })
      val framed: WindowSpec = windowDoc.flatMap(_.collectFirst {
        case ("documents", JArray(List(lo, hi))) =>
          if (unitScale.isDefined) throw new MqlException(
            "$setWindowFields: 'unit' is only valid with a range window")
          sorted.rowsBetween(
            frameBound(lo, Window.unboundedPreceding),
            frameBound(hi, Window.unboundedFollowing))
        case ("range", JArray(List(lo, hi))) => unitScale match {
          case None =>
            sorted.rangeBetween(
              frameBound(lo, Window.unboundedPreceding),
              frameBound(hi, Window.unboundedFollowing))
          case Some(micros) =>
            val sortField = singleAscSortField("$setWindowFields: unit range window")
            def scaled(v: JValue, default: Long): Long = v match {
              case JString("unbounded") => default // never scale the sentinels
              case JString("current")   => 0L
              case JInt(i)              => i.toLong * micros
              case JLong(l)             => l * micros
              case other => throw new MqlException(s"bad window bound: $other")
            }
            base.orderBy(unix_micros(fieldCol(sortField)))
              .rangeBetween(scaled(lo, Window.unboundedPreceding),
                scaled(hi, Window.unboundedFollowing))
        }
      }).getOrElse {
        // Mongo's default window is the WHOLE partition even when sortBy
        // is present (SQL's order-by-implies-running-frame does not apply)
        if (ranked) sorted
        else sorted.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      }
      // $integral decomposes into per-row trapezoid increments (lag
      // against the partition predecessor) summed over the frame — two
      // chained window projections over ONE sort, instead of the old
      // collect_list+fold that re-walked the whole frame per row
      // (O(frame²) per partition: quadratic on unbounded windows).
      if (op == "$integral") arg match {
        case JObject(dspec) =>
          val y = ExprCompiler.compile(
            dspec.collectFirst { case ("input", x) => x }
              .getOrElse(throw new MqlException("$integral needs input")))
            .cast(DoubleType)
          val argUnit = dspec.collectFirst { case ("unit", JString(u)) =>
            unitToMicros(u) }
          val sf = fieldCol(singleAscSortField("$integral"))
          val t = argUnit match {
            case Some(micros) =>
              unix_micros(sf).cast(DoubleType) / lit(micros.toDouble)
            case None => sf.cast(DoubleType)
          }
          // inc_i = trapezoid between row i and its predecessor; 0 at
          // the partition head. The frame's first row pairs with a point
          // OUTSIDE the frame, so the frame aggregate subtracts it back
          // out. Null semantics match the fold it replaces: any null
          // trapezoid among the in-frame consecutive pairs nulls the
          // result (poisoning), and a single-point frame is 0.0 even
          // when its y is null.
          val rn = row_number().over(sorted)
          val inc = "__graft_itg_inc"
          val bad = "__graft_itg_bad"
          val staged = acc
            .withColumn(inc, when(rn === 1, lit(0.0)).otherwise(
              (y + lag(y, 1).over(sorted)) / 2 *
                (t - lag(t, 1).over(sorted))))
            .withColumn(bad, when(rn === 1, lit(0))
              .otherwise(when(col(inc).isNull, lit(1)).otherwise(lit(0))))
          val nn = sum(col(bad)).over(framed) - first(col(bad)).over(framed)
          val ss = sum(col(inc)).over(framed) -
            coalesce(first(col(inc)).over(framed), lit(0.0))
          staged.withColumn(name,
              when(nn > lit(0), lit(null).cast(DoubleType))
                .otherwise(coalesce(ss, lit(0.0))))
            .drop(inc, bad)
        case other => throw new MqlException(s"bad $op: $other")
      } else {
      val wcol = op match {
        case "$rank"           => rank().over(framed)
        case "$denseRank"      => dense_rank().over(framed)
        case "$documentNumber" => row_number().over(framed)
        case "$percentRank"    => percent_rank().over(framed)
        case "$shift" => arg match { // lag/lead with default
          case JObject(sspec) =>
            val out = sspec.collectFirst { case ("output", x) => ExprCompiler.compile(x) }
              .getOrElse(throw new MqlException("$shift needs output"))
            val by = sspec.collectFirst { case ("by", x) => intValue(x, "$shift") }
              .getOrElse(throw new MqlException("$shift needs by"))
            val dflt = sspec.collectFirst { case ("default", x) => ExprCompiler.compile(x) }
              .getOrElse(lit(null))
            // Default applies only when the shifted position falls outside the
            // partition (lag's out-of-bounds default); a stored null inside the
            // window must surface as null, so no coalesce on the value.
            lag(out, -by, dflt).over(sorted) // Mongo: by>0 looks FORWARD
          case other => throw new MqlException(s"bad $$shift: $other")
        }
        case "$sum"   => // Mongo: empty/all-null frame sums to 0
          // (integer zero: coalesce coercion keeps the sum's own type
          // — a double literal would break decimal-exact sums)
          coalesce(sum(ExprCompiler.compile(arg)).over(framed), lit(0L))
        case "$avg"   => avg(ExprCompiler.compile(arg)).over(framed)
        case "$min"   => min(ExprCompiler.compile(arg)).over(framed)
        case "$max"   => max(ExprCompiler.compile(arg)).over(framed)
        case "$count" => count(lit(1)).over(framed)
        case "$push" => // Mongo keeps nulls in position; collect_list
          // drops them — collect (isNull, value) structs instead
          val v = ExprCompiler.compile(arg)
          transform(
            collect_list(struct(v.isNull.as("n"), v.as("v"))).over(framed),
            e => when(e.getField("n"), lit(null)).otherwise(e.getField("v")))
        case "$addToSet" => // Mongo's set includes an explicit null
          val v = ExprCompiler.compile(arg)
          val s = collect_set(v).over(framed)
          val sawNull = max(when(v.isNull, 1).otherwise(0)).over(framed)
          when(sawNull === 1, array_append(s, lit(null))).otherwise(s)
        case "$first" => first(ExprCompiler.compile(arg)).over(framed)
        case "$last"  => last(ExprCompiler.compile(arg)).over(framed)
        case "$stdDevPop"  => stddev_pop(ExprCompiler.compile(arg)).over(framed)
        case "$stdDevSamp" => stddev_samp(ExprCompiler.compile(arg)).over(framed)
        // ema_1 = x_1; ema_i = a*x_i + (1-a)*ema_(i-1). A native
        // running-frame window aggregate (ExpMovingAvgWin) evaluates
        // the recurrence incrementally — O(1) per row over the one
        // partition sort, where the previous collect_list+fold
        // re-walked the history per row (O(rows²) per partition).
        case "$expMovingAvg" => arg match {
          case JObject(espec) =>
            if (windowDoc.isDefined) throw new MqlException(
              "$expMovingAvg does not accept a window")
            val input = ExprCompiler.compile(
              espec.collectFirst { case ("input", x) => x }
                .getOrElse(throw new MqlException("$expMovingAvg needs input")))
            val alphaOpt = espec.collectFirst { case ("alpha", JDouble(a)) => a }
            val nOpt = espec.collectFirst { case ("N", n) =>
              2.0 / (intValue(n, "$expMovingAvg") + 1) }
            if (alphaOpt.isDefined && nOpt.isDefined) throw new MqlException(
              "$expMovingAvg takes alpha or N, not both")
            val alpha: Double = alphaOpt.orElse(nOpt)
              .getOrElse(throw new MqlException("$expMovingAvg needs alpha or N"))
            if (sortBy.isEmpty)
              throw new MqlException("$expMovingAvg requires sortBy")
            graft.functions.GraftFunctions.register(
              org.apache.spark.sql.SparkSession.active)
            // no explicit frame: AggregateWindowFunction pins its own
            // running frame (unbounded preceding .. current row)
            call_function("exp_moving_avg", input, lit(alpha)).over(sorted)
          case other => throw new MqlException(s"bad $$expMovingAvg: $other")
        }
        case "$covariancePop" | "$covarianceSamp" => arg match {
          case JArray(List(a, b)) =>
            val (x, y) = (ExprCompiler.compile(a), ExprCompiler.compile(b))
            (if (op == "$covariancePop") covar_pop(x, y) else covar_samp(x, y))
              .over(framed)
          case other => throw new MqlException(s"bad $op: $other")
        }
        // rate of change over the window against the sortBy axis;
        // `unit` (dates) scales the time delta ($integral is handled
        // above the match: it needs a staged helper projection)
        case "$derivative" => arg match {
          case JObject(dspec) =>
            val y = ExprCompiler.compile(
              dspec.collectFirst { case ("input", x) => x }
                .getOrElse(throw new MqlException(s"$op needs input")))
              .cast(DoubleType)
            val argUnit = dspec.collectFirst { case ("unit", JString(u)) =>
              unitToMicros(u) }
            val sf = fieldCol(singleAscSortField(op))
            val t = argUnit match {
              case Some(micros) => unix_micros(sf).cast(DoubleType) / lit(micros.toDouble)
              case None => sf.cast(DoubleType)
            }
            // single-point frame → Δt = 0 → null (not an ANSI error)
            try_divide(last(y).over(framed) - first(y).over(framed),
              last(t).over(framed) - first(t).over(framed))
          case other => throw new MqlException(s"bad $op: $other")
        }
        // n-value / percentile accumulators are also window operators in
        // Mongo: reuse the group-side accumulator Columns over the frame
        // ($firstN/$lastN take the window's single sortBy as their
        // deterministic key, same contract as the group form).
        // Spark's median/percentile reject ordered/framed window specs —
        // they get the bare partition window (Mongo's default window is
        // the whole partition anyway).
        case "$median" | "$percentile" =>
          // explicit documents/range windows run the exact interpolated
          // percentile over the frame (Spark 4's percentile aggregate
          // accepts ordered framed windows); the default stays the
          // whole partition via the UNORDERED base spec — Mongo's
          // default window ignores sortBy for these
          val win = if (windowDoc.isDefined) framed else base
          accumulator(op, arg, None, _.over(win))
        case "$minN" | "$maxN" | "$firstN" | "$lastN" | "$topN" | "$top" |
             "$bottomN" | "$bottom" =>
          val wSortKey: Option[(Column, Boolean)] =
            spec.collectFirst { case ("sortBy", s) => s } match {
              case Some(JObject(List((f, JInt(d)))))  => Some((fieldCol(f), d >= 0))
              case Some(JObject(List((f, JLong(d))))) => Some((fieldCol(f), d >= 0))
              case _ => None
            }
          // $firstN/$lastN mean "first/last n in the sortBy order" —
          // without a single-field stage sortBy the slice would fall back
          // to whole-partition collect_list in PARTITION order, which is
          // shuffle-dependent and nondeterministic. Mongo requires the
          // stage sortBy here; mirror $expMovingAvg/$locf and refuse.
          if ((op == "$firstN" || op == "$lastN") && wSortKey.isEmpty)
            throw new MqlException(
              s"$op as a window operator requires a single-field stage sortBy " +
                "(document order is undefined without it)")
          // key-driven, order-insensitive: the default window needs no
          // sort; an explicit documents/range window uses the frame
          val accWin = if (windowDoc.isDefined) framed
            else base.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
          accumulator(op, arg, wSortKey, _.over(accWin))
        // window-op twins of $fill's methods (Mongo 5.2): carry the last
        // non-null forward / interpolate along the sortBy axis
        case "$locf" =>
          if (sortBy.isEmpty) throw new MqlException("$locf requires sortBy")
          if (windowDoc.isDefined) throw new MqlException(
            "$locf does not accept a window")
          last(ExprCompiler.compile(arg), ignoreNulls = true)
            .over(sorted.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        case "$linearFill" =>
          if (windowDoc.isDefined) throw new MqlException(
            "$linearFill does not accept a window")
          // timestamps cast to double are epoch seconds — monotone, so
          // interpolation is identical to micros up to a constant factor
          val sf = fieldCol(singleAscSortField("$linearFill")).cast(DoubleType)
          val v = ExprCompiler.compile(arg).cast(DoubleType)
          val before = sorted.rowsBetween(Window.unboundedPreceding, Window.currentRow)
          val after = sorted.rowsBetween(Window.currentRow, Window.unboundedFollowing)
          val prevV = last(v, ignoreNulls = true).over(before)
          val prevS = last(when(v.isNotNull, sf), ignoreNulls = true).over(before)
          val nextV = first(v, ignoreNulls = true).over(after)
          val nextS = first(when(v.isNotNull, sf), ignoreNulls = true).over(after)
          // Mongo rejects repeated sortBy values for $linearFill; a zero
          // denominator here would silently emit NaN/Infinity. Fail loudly
          // (only when interpolation actually hits the degenerate gap).
          val denom = nextS - prevS
          when(v.isNotNull, v).otherwise(
            when(prevV.isNotNull && nextV.isNotNull,
              when(denom === lit(0.0), raise_error(lit(
                "$linearFill requires distinct sortBy values within a partition")))
                .otherwise(prevV + (nextV - prevV) * (sf - prevS) / denom)))
        case other => throw new MqlException(s"unsupported window operator $other")
      }
      acc.withColumn(name, wcol)
      }
    }
  }
}
