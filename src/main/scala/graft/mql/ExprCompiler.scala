package graft.mql

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.json4s._
import Mql._

/** Compiles MQL aggregation expressions — the computed-projection /
  * $expr surface the reference forwards to the server (e.g. the
  * `{"$multiply": [2, "$data"]}` projection exercised at
  * bindings/python/test/test_arrow.py:140-156) — into Catalyst Columns.
  *
  * Everything maps to `org.apache.spark.sql.functions` builtins, so the
  * result stays inside whole-stage codegen (no UDFs anywhere).
  *
  * `env` carries lambda variables ($$this / $$value / named `as` vars
  * introduced by $filter/$map/$reduce).
  */
object ExprCompiler {
  /** Decimal used by $toDecimal: wide enough for exact sums of the
    * fixtures' 2-decimal monetary doubles; matches the oracle's
    * CAST(x AS DECIMAL(38,10)) so double-summation order can't cause
    * hash mismatches. */
  val DecimalParity: DecimalType = DecimalType(38, 10)

  def compile(v: JValue): Column = compile(v, Map.empty)

  def compile(v: JValue, env: Map[String, Column]): Column = v match {
    case JString(s) if s.startsWith("$$") => varRef(s.drop(2), env)
    case JString(s) if s.startsWith("$")  => fieldCol(s.drop(1))
    case JObject(List(("$date", _))) => literal(v) // extended-JSON literal
    case JObject(List((op, args))) if op.startsWith("$") => compileOp(op, args, env)
    case JObject(fields) if isOperatorDoc(fields) =>
      throw new MqlException(s"multi-operator expression document: $fields")
    case JObject(fields) => // document expression → struct
      struct(fields.map { case (k, e) => compile(e, env).as(k) }: _*)
    case JArray(es) => array(es.map(compile(_, env)): _*)
    case other => literal(other)
  }

  // command-level `let` variables (aggregate(..., let={...})): ambient
  // for the duration of one pipeline compilation — lambda/`$let` vars in
  // `env` shadow them, as in Mongo
  private val baseEnv =
    new scala.util.DynamicVariable[Map[String, Column]](Map.empty)

  def withLetVars[T](vars: Map[String, Column])(f: => T): T =
    baseEnv.withValue(vars)(f)

  private def varRef(name: String, env: Map[String, Column]): Column = {
    val parts = name.split('.')
    val base = env.get(parts.head)
      .orElse(baseEnv.value.get(parts.head))
      // $$SEARCH_META reads the carrier column a preceding $search with
      // a "count" option attached (analysis fails with a missing-column
      // error if no such stage ran — mirroring Mongo, where the
      // variable is undefined outside that context)
      .orElse(if (parts.head == "SEARCH_META")
        Some(col("__graft_search_meta")) else None)
      .getOrElse(throw new MqlException(s"unknown variable $$$$${parts.head}"))
    parts.tail.foldLeft(base)(_.getField(_))
  }

  private def argList(v: JValue, env: Map[String, Column]): List[Column] = v match {
    case JArray(es) => es.map(compile(_, env))
    case single     => List(compile(single, env))
  }

  private def field(spec: List[(String, JValue)], key: String, ctx: String): JValue =
    spec.collectFirst { case (`key`, x) => x }
      .getOrElse(throw new MqlException(s"$ctx: missing '$key'"))

  private def fieldOpt(spec: List[(String, JValue)], key: String): Option[JValue] =
    spec.collectFirst { case (`key`, x) => x }

  /** date_part/extract by field name (e.g. YEAROFWEEK, the ISO
    * week-numbering year). */
  private def expr_extract(part: String, c: Column): Column =
    call_function("date_part", lit(part), c)

  /** Backtick-quote a LITERAL field name for withField/dropFields (which
    * otherwise parse dots as nested paths); embedded backticks double. */
  private def quoteIdent(name: String): String =
    "`" + name.replace("`", "``") + "`"

  /** MQL $indexOfCP: 0-based first occurrence, -1 when absent. */
  /** Optional "timezone" option of an object-form date operator; shifts
    * to that zone's wall clock (in) / back to the instant (out) under
    * the session-UTC convention (SURVEY §1.4 — every entry point pins
    * spark.sql.session.timeZone=UTC). from_utc_timestamp applies the
    * zone offset AT the instant, so DST is honored. */
  private def specTz(spec: List[(String, JValue)], op: String): Option[String] =
    spec.collectFirst { case ("timezone", tz) => strValue(tz, op) }
  private def tzIn(d: Column, tz: Option[String]): Column =
    tz.map(z => from_utc_timestamp(d, z)).getOrElse(d)
  private def tzOut(d: Column, tz: Option[String]): Column =
    tz.map(z => to_utc_timestamp(d, z)).getOrElse(d)

  private def locate_as_index(haystack: Column, needle: Column): Column = {
    val pos = call_function("locate", needle, haystack)
    when(pos === 0, -1).otherwise(pos - 1)
  }

  /** Call a graft-registered native function, registering the function
    * set on the active session first (idempotent). */
  private[mql] def graftFn(name: String, cols: Column*): Column = {
    graft.functions.GraftFunctions.register(
      org.apache.spark.sql.SparkSession.active)
    call_function(name, cols: _*)
  }

  /** MQL truthiness: null, false, and numeric 0 are falsy; every other
    * value — including the strings "false" and "0" — is truthy. Static
    * type dispatch via the BsonTruthy RuntimeReplaceable (the optimizer
    * swaps in only the branch matching the column's plan type). */
  private def truthy(e: Column): Column = graftFn("graft_truthy", e)

  /** Operators whose compiled form is already BooleanType — their
    * results pass a truthiness context unwrapped, keeping the hot
    * relational shapes ($expr comparisons in $match) inside whole-stage
    * codegen (graft_truthy is an interpreted fallback expression). */
  private val BoolYielding = Set(
    "$eq", "$ne", "$gt", "$gte", "$lt", "$lte", "$and", "$or", "$not",
    "$in", "$isArray", "$isNumber", "$anyElementTrue", "$allElementsTrue",
    "$setIsSubset", "$setEquals", "$regexMatch")

  /** Compile `v` as a CONDITION with Mongo truthiness: null/0/false are
    * falsy, everything else (incl. "" and empty arrays) truthy. A bare
    * field ref or numeric expression wraps in graft_truthy; shapes that
    // already yield booleans skip the wrap (null → null, which every
    // conditional context treats as the false branch — Mongo agrees,
    // since its comparisons never return null).
    */
  private def asCond(v: JValue, env: Map[String, Column]): Column = {
    val compiled = compile(v, env)
    v match {
      case JBool(_) => compiled
      case JObject(List((op, _))) if BoolYielding(op) => compiled
      case _ => truthy(compiled)
    }
  }

  /** BSON type name of a value ($type / filter {$type}), resolved
    * statically from the column's plan type by the BsonTypeOf
    * RuntimeReplaceable; only the null check is per-row. */
  private[mql] def bsonTypeName(c: Column): Column = graftFn("graft_bson_type", c)

  // MQL %-format → java.time format used by date_format. Literal letters
  // (e.g. the T/Z in ISO timestamps) must be quoted or Spark reads them
  // as pattern fields; week-based %G/%u have no Spark 3+ equivalent.
  private[mql] def dateFormat(f: String): String = {
    val sb = new StringBuilder
    var i = 0
    while (i < f.length) {
      val ch = f.charAt(i)
      if (ch == '%' && i + 1 < f.length) {
        sb.append(f.charAt(i + 1) match {
          case 'Y' => "yyyy"; case 'm' => "MM";  case 'd' => "dd"
          case 'H' => "HH";   case 'M' => "mm";  case 'S' => "ss"
          case 'L' => "SSS";  case 'j' => "DDD"; case '%' => "%"
          case c   => throw new MqlException(
            s"unsupported date format %$c (no Spark 3+ pattern equivalent)")
        })
        i += 2
      } else {
        if (ch.isLetter) sb.append('\'').append(ch).append('\'')
        else if (ch == '\'') sb.append("''")
        else sb.append(ch)
        i += 1
      }
    }
    sb.toString
  }

  private def compileOp(op: String, v: JValue, env: Map[String, Column]): Column = {
    def c  = argList(v, env)
    def c0 = c.head
    // Date-part operand: bare expression, [expr], or the documented
    // {date, timezone} object form — the timezone renders the instant
    // as that zone's wall clock (from_utc_timestamp applies the zone's
    // offset AT the instant, so DST is honored). Relies on the engine's
    // session-UTC convention (every entry point pins
    // spark.sql.session.timeZone=UTC; SURVEY §1.4).
    def dOp: Column = v match {
      case JObject(spec) if spec.exists(_._1 == "date") =>
        val d = compile(field(spec, "date", op), env)
        spec.collectFirst { case ("timezone", tz) => strValue(tz, op) }
          .map(tz => from_utc_timestamp(d, tz)).getOrElse(d)
      case JArray(List(x)) => compile(x, env)
      case other => compile(other, env)
    }
    op match {
      // ---- metadata ----
      // $vectorSearch appends its score as a real column (Spark has no
      // out-of-band metadata channel), so the Mongo $meta idiom
      // resolves to it directly
      case "$meta" => v match {
        case JString("vectorSearchScore") => col("vectorSearchScore")
        case JString("searchScore")       => col("searchScore")
        case JString("score")             => col("score") // $rankFusion
        case JString("textScore")         => col("textScore") // find $text
        case JString("searchHighlights")  => col("searchHighlights")
        case JString("searchSequenceToken") => col("searchSequenceToken")
        case JString("searchScoreDetails") => col("searchScoreDetails")
        case other => throw new MqlException(s"unsupported $$meta: $other")
      }
      // ---- arithmetic ----
      case "$add"      => c.reduce(_ + _)
      case "$subtract" => c(0) - c(1)
      case "$multiply" => c.reduce(_ * _)
      case "$divide"   => c(0) / c(1)
      case "$mod"      => c(0) % c(1)
      case "$abs"      => abs(c0)
      case "$ceil"     => ceil(c0)
      case "$floor"    => floor(c0)
      // Mongo raises on math-domain violations where IEEE yields
      // NaN/±Inf silently; nulls pass through (missing → null result)
      case "$sqrt" => when(c0 < 0, raise_error(lit(
          "$sqrt's argument must be greater than or equal to 0")))
        .otherwise(sqrt(c0))
      case "$exp"      => exp(c0)
      case "$ln" => when(c0 <= 0, raise_error(lit(
          "$ln's argument must be a positive number"))).otherwise(log(c0))
      case "$log10" => when(c0 <= 0, raise_error(lit(
          "$log10's argument must be a positive number"))).otherwise(log10(c0))
      case "$log" => // [x, base]
        when(c(0) <= 0, raise_error(lit(
            "$log's argument must be a positive number")))
          .when(c(1) <= 0 || c(1) === 1, raise_error(lit(
            "$log's base must be a positive number not equal to 1")))
          .otherwise(log(c(0)) / log(c(1)))
      case "$pow" => when(c(0) === 0 && c(1) < 0, raise_error(lit(
          "$pow cannot raise 0 to a negative exponent")))
        .otherwise(pow(c(0), c(1)))
      // DOCUMENTED DEVIATION (ties only): Mongo's $round is half-to-even
      // over the EXACT binary expansion (it quantizes via Decimal128);
      // Spark's round()/bround() quantize the SHORTEST decimal repr, and
      // DuckDB's round()/round_even() a scaled product — at values within
      // 1 ulp of a rounding-digit tie the three disagree in either tie
      // direction (measured: bround vs round_even split on the same gate
      // rows). No Spark builtin is Mongo-exact here, so we pin HALF_UP on
      // the shortest repr — the pairing the DuckDB oracle replays
      // bit-exactly (5 rounds of gate evidence) — rather than a
      // banker's-rounding lookalike that is neither Mongo-true nor
      // oracle-replayable. Spec-pinned in ExprCompilerSpec.
      case "$round" => v match {
        case JArray(List(x, n)) => round(compile(x, env), intValue(n, "$round"))
        case _ => round(c0, 0)
      }
      case "$trunc" => v match {
        case JArray(List(x, n)) =>
          val d = intValue(n, "$trunc"); val p = pow(lit(10.0), lit(d))
          (compile(x, env) * p).cast(LongType) / p
        case _ => c0.cast(LongType)
      }
      case "$sin" => sin(c0);   case "$cos" => cos(c0);   case "$tan" => tan(c0)
      case "$asin" => when(c0 < -1 || c0 > 1, raise_error(lit(
          "$asin's argument must be in [-1, 1]"))).otherwise(asin(c0))
      case "$acos" => when(c0 < -1 || c0 > 1, raise_error(lit(
          "$acos's argument must be in [-1, 1]"))).otherwise(acos(c0))
      case "$atan" => atan(c0)
      case "$sinh" => sinh(c0); case "$cosh" => cosh(c0); case "$tanh" => tanh(c0)
      case "$asinh" => asinh(c0); case "$acosh" => acosh(c0); case "$atanh" => atanh(c0)
      case "$atan2" => atan2(c(0), c(1))
      case "$degreesToRadians" => radians(c0)
      case "$radiansToDegrees" => degrees(c0)

      // ---- comparison / boolean ----
      // Operand types are unresolved at compile time, so string operands
      // under a case-insensitive collation can't be folded here — refuse
      // loudly rather than compare silently case-sensitive (same contract
      // as the stage-level collation gate).
      case "$eq" | "$ne" | "$gt" | "$gte" | "$lt" | "$lte" | "$cmp"
          if FilterCompiler.collationCaseInsensitive =>
        throw new MqlException(
          s"collation: $op inside $$expr under a case-insensitive " +
            "collation is unsupported (string operands would silently " +
            "compare case-sensitively)")
      case "$eq"  => c(0) <=> c(1)
      case "$ne"  => !(c(0) <=> c(1))
      case "$gt"  => c(0) > c(1)
      case "$gte" => c(0) >= c(1)
      case "$lt"  => c(0) < c(1)
      case "$lte" => c(0) <= c(1)
      case "$cmp" => when(c(0) < c(1), -1).when(c(0) > c(1), 1).otherwise(0)
      // Mongo truthiness over the operands: {"$and": [1, "$flag"]} and
      // {"$not": ["$maybeMissing"]} evaluate numbers/strings/nulls as
      // Mongo does instead of failing analysis or null-poisoning
      case "$and" => v match {
        case JArray(es) => es.map(asCond(_, env)).reduce(_ && _)
        case _ => truthy(c0)
      }
      case "$or" => v match {
        case JArray(es) => es.map(asCond(_, env)).reduce(_ || _)
        case _ => truthy(c0)
      }
      case "$not" => v match {
        case JArray(List(one)) => !coalesce(asCond(one, env), lit(false))
        // Mongo: "Expression $not takes exactly 1 arguments" — without
        // this arm a 2-element array would compile as an array literal,
        // whose truthiness is constant-true, i.e. silently false
        case JArray(es) => throw new MqlException(
          s"Expression $$not takes exactly 1 arguments. ${es.length} were passed in.")
        case _ => !coalesce(asCond(v, env), lit(false))
      }

      // ---- conditional ----
      case "$cond" => v match {
        case JArray(List(i, t, e)) =>
          when(asCond(i, env), compile(t, env)).otherwise(compile(e, env))
        case JObject(spec) =>
          when(asCond(field(spec, "if", "$cond"), env),
               compile(field(spec, "then", "$cond"), env))
            .otherwise(compile(field(spec, "else", "$cond"), env))
        case other => throw new MqlException(s"bad $$cond: $other")
      }
      case "$ifNull" => coalesce(c: _*)
      case "$switch" => v match {
        case JObject(spec) =>
          val branches = field(spec, "branches", "$switch") match {
            case JArray(bs) if bs.nonEmpty => bs.map(b => asObj(b, "$switch branch"))
            case JArray(_) => throw new MqlException(
              "$switch requires at least one branch")
            case other => throw new MqlException(s"bad branches: $other")
          }
          // no default + no matching branch RAISES (Mongo server error
          // 40066), not null — a silent null would mask authoring bugs
          val dflt = fieldOpt(spec, "default").map(compile(_, env)).getOrElse(
            raise_error(lit("$switch could not find a matching branch for an " +
              "input, and no default was specified.")))
          branches.foldRight(dflt) { (b, acc) =>
            when(asCond(field(b, "case", "$switch"), env),
                 compile(field(b, "then", "$switch"), env)).otherwise(acc)
          }
        case other => throw new MqlException(s"bad $$switch: $other")
      }

      // ---- strings ----
      case "$concat"      => concat(c: _*)
      case "$toUpper"     => upper(c0)
      case "$toLower"     => lower(c0)
      case "$strLenCP"    => length(c0)
      case "$strLenBytes" => octet_length(c0)
      case "$substrCP" =>
        // MQL is 0-indexed; negative start/length RAISE (server errors
        // 34455/34456) — Spark's substr would silently count from the end
        when(c(1) < 0, raise_error(lit(
            "$substrCP: the starting index must be a nonnegative integer")))
          .when(c(2) < 0, raise_error(lit(
            "$substrCP: the length must be a nonnegative integer")))
          .otherwise(c(0).substr(c(1) + lit(1), c(2)))
      case "$substrBytes" | "$substr" => // byte-indexed ($substr is the deprecated byte alias)
        // native expression: Mongo RAISES when a byte boundary splits a
        // multi-byte UTF-8 character (the binary-slice-then-cast form
        // silently emitted replacement characters instead)
        graftFn("substr_bytes", c(0), c(1).cast(IntegerType), c(2).cast(IntegerType))
      case "$split" => v match {
        case JArray(List(_, JString(""))) => throw new MqlException(
          "$split requires a non-empty separator") // server error 40087
        case JArray(List(s, JString(delim))) =>
          split(compile(s, env), java.util.regex.Pattern.quote(delim))
        case other => throw new MqlException(s"bad $$split: $other")
      }
      case "$trim" | "$ltrim" | "$rtrim" => v match {
        case JObject(spec) =>
          val in = compile(field(spec, "input", op), env)
          val chars = fieldOpt(spec, "chars").map(x => strValue(x, op))
          (op, chars) match {
            case ("$trim", None)     => trim(in)
            case ("$trim", Some(ch)) => trim(in, ch)
            case ("$ltrim", None)    => ltrim(in)
            case ("$ltrim", Some(ch)) => ltrim(in, ch)
            case ("$rtrim", None)    => rtrim(in)
            case (_, Some(ch))       => rtrim(in, ch)
            case _ => throw new MqlException(s"bad $op")
          }
        case other => throw new MqlException(s"bad $op: $other")
      }
      case "$toString" => c0.cast(StringType)
      case "$strcasecmp" =>
        when(lower(c(0)) < lower(c(1)), -1)
          .when(lower(c(0)) > lower(c(1)), 1).otherwise(0)
      // 0-based, -1 when absent (locate is 1-based); optional start/end
      // restrict the search WINDOW in code points — the occurrence must
      // lie fully inside it, and the returned index is in the ORIGINAL
      // string (the $indexOfArray contract, string form)
      case "$indexOfCP" => v match {
        case JArray(s :: t :: rest) if rest.nonEmpty =>
          val str = compile(s, env); val sub = compile(t, env)
          val startC = compile(rest.head, env).cast(IntegerType)
          val endC = rest.drop(1).headOption.map(compile(_, env).cast(IntegerType))
            .getOrElse(length(str))
          val win = str.substr(startC + 1, greatest(endC - startC, lit(0)))
          val pos = call_function("locate", sub, win)
          when(pos === 0, lit(-1)).otherwise(startC + pos - 1)
        case _ => locate_as_index(c(0), c(1))
      }
      // byte offset of the first occurrence; optional start/end are
      // BYTE indices (native expression — byte-level search, so a
      // window has no mid-character hazard)
      case "$indexOfBytes" => v match {
        case JArray(s :: t :: rest) if rest.nonEmpty =>
          val startC = compile(rest.head, env).cast(IntegerType)
          val endC = rest.drop(1).headOption.map(compile(_, env).cast(IntegerType))
            .getOrElse(lit(null).cast(IntegerType))
          graftFn("index_of_bytes", compile(s, env), compile(t, env), startC, endC)
        case _ => graftFn("index_of_bytes", c(0), c(1),
          lit(0), lit(null).cast(IntegerType))
      }
      case "$replaceOne" => v match { // first occurrence only
        case JObject(spec) =>
          val in = compile(field(spec, "input", op), env)
          val find = compile(field(spec, "find", op), env)
          val repl = compile(field(spec, "replacement", op), env)
          val pos = call_function("locate", find, in)
          when(in.isNull || find.isNull || repl.isNull, lit(null))
            .when(pos === 0, in)
            .otherwise(concat(
              in.substr(lit(1), pos - 1), repl,
              in.substr(pos + length(find), length(in))))
        case other => throw new MqlException(s"bad $$replaceOne: $other")
      }
      case "$regexMatch" => v match {
        case JObject(spec) =>
          val in = compile(field(spec, "input", op), env)
          val re = strValue(field(spec, "regex", op), op)
          val opts = fieldOpt(spec, "options").map(x => strValue(x, op)).getOrElse("")
          in.rlike((if (opts.nonEmpty) s"(?$opts)" else "") + re)
        case other => throw new MqlException(s"bad $$regexMatch: $other")
      }
      case "$replaceAll" => v match {
        case JObject(spec) =>
          regexp_replace(compile(field(spec, "input", op), env),
            java.util.regex.Pattern.quote(strValue(field(spec, "find", op), op)),
            java.util.regex.Matcher.quoteReplacement(
              strValue(field(spec, "replacement", op), op)))
        case other => throw new MqlException(s"bad $$replaceAll: $other")
      }

      // ---- dates ----
      case "$year" => year(dOp);           case "$month" => month(dOp)
      case "$dayOfMonth" => dayofmonth(dOp); case "$hour" => hour(dOp)
      case "$minute" => minute(dOp);       case "$second" => second(dOp)
      case "$millisecond" => date_format(dOp, "SSS").cast(IntegerType)
      case "$dayOfWeek" => dayofweek(dOp)
      case "$dayOfYear" => dayofyear(dOp)
      // MQL $week: zero-based Sunday-start weeks (week 0 before the
      // first Sunday); Spark's weekofyear is ISO — derive directly
      case "$week" =>
        floor((dayofyear(dOp) + lit(7) - dayofweek(dOp)) / lit(7)).cast(IntegerType)
      case "$isoWeek" => weekofyear(dOp)
      case "$isoWeekYear" => expr_extract("YEAROFWEEK", dOp)
      case "$isoDayOfWeek" => weekday(dOp) + lit(1)
      // onError: the value when parsing FAILS (default: raise, which is
      // also Spark's ANSI to_timestamp); onNull: the value when the
      // input is null/missing (default null)
      case "$dateFromString" => v match {
        case JObject(spec) =>
          val ds = compile(field(spec, "dateString", op), env)
          def parse(strict: Boolean) = (fieldOpt(spec, "format"), strict) match {
            case (Some(f), true)  => to_timestamp(ds, dateFormat(strValue(f, op)))
            case (Some(f), false) => try_to_timestamp(ds, lit(dateFormat(strValue(f, op))))
            case (None, true)     => to_timestamp(ds)
            case (None, false)    => try_to_timestamp(ds)
          }
          // the timezone shift applies to the PARSED wall-clock only —
          // onError/onNull fallbacks are verbatim instants in Mongo,
          // never re-interpreted in the spec's zone
          val withErr = fieldOpt(spec, "onError") match {
            case Some(oe) =>
              // try-parse; a failing row yields onError instead of raising
              coalesce(tzOut(parse(strict = false), specTz(spec, op)),
                compile(oe, env).cast(TimestampType))
            case None => tzOut(parse(strict = true), specTz(spec, op))
          }
          // a null INPUT is the onNull case (default null), never onError
          val onNull = fieldOpt(spec, "onNull")
            .map(compile(_, env).cast(TimestampType)).getOrElse(lit(null))
          when(ds.isNull, onNull).otherwise(withErr)
        case other => throw new MqlException(s"bad $$dateFromString: $other")
      }
      case "$dateFromParts" => v match {
        case JObject(spec) =>
          def part(k: String, dflt: Int) =
            fieldOpt(spec, k).map(compile(_, env)).getOrElse(lit(dflt))
          tzOut(make_timestamp(
            compile(field(spec, "year", op), env), part("month", 1), part("day", 1),
            part("hour", 0), part("minute", 0), part("second", 0)),
            specTz(spec, op))
        case other => throw new MqlException(s"bad $$dateFromParts: $other")
      }
      case "$dateToString" => v match {
        case JObject(spec) =>
          val d = compile(field(spec, "date", op), env)
          val f = fieldOpt(spec, "format").map(x => strValue(x, op))
            .getOrElse("%Y-%m-%dT%H:%M:%S.%LZ")
          val rendered = date_format(tzIn(d, specTz(spec, op)), dateFormat(f))
          fieldOpt(spec, "onNull") match {
            case Some(on) => when(d.isNull, compile(on, env)).otherwise(rendered)
            case None => rendered
          }
        case other => throw new MqlException(s"bad $$dateToString: $other")
      }
      // Document of calendar parts; iso8601:true swaps in the ISO triple
      // (isoWeekYear/isoWeek/isoDayOfWeek), mirroring MQL's two shapes.
      case "$dateToParts" => v match {
        case JObject(spec) =>
          val d = tzIn(compile(field(spec, "date", op), env), specTz(spec, op))
          val iso = fieldOpt(spec, "iso8601").exists {
            case JBool(b) => b
            case other    => throw new MqlException(s"bad iso8601: $other")
          }
          if (iso)
            struct(
              expr_extract("YEAROFWEEK", d).as("isoWeekYear"),
              weekofyear(d).as("isoWeek"),
              (weekday(d) + lit(1)).as("isoDayOfWeek"),
              hour(d).as("hour"), minute(d).as("minute"), second(d).as("second"),
              date_format(d, "SSS").cast(IntegerType).as("millisecond"))
          else
            struct(
              year(d).as("year"), month(d).as("month"), dayofmonth(d).as("day"),
              hour(d).as("hour"), minute(d).as("minute"), second(d).as("second"),
              date_format(d, "SSS").cast(IntegerType).as("millisecond"))
        case other => throw new MqlException(s"bad $$dateToParts: $other")
      }
      // binSize bins anchor at Mongo's documented reference point
      // 2000-01-01T00:00:00Z (a Saturday); for week units the anchor
      // moves to the first `startOfWeek` ON OR AFTER it (for binSize 1
      // any 7-day-congruent anchor yields the same grid, so only
      // multi-week bins depend on that direction — pinned in the spec).
      // startOfWeek defaults to SUNDAY (Mongo), not Spark date_trunc's
      // Monday — so week truncation always takes the arithmetic path.
      case "$dateTrunc" => v match {
        case JObject(spec) =>
          val tz = specTz(spec, op)
          val d = tzIn(compile(field(spec, "date", op), env), tz)
          val unit = strValue(field(spec, "unit", op), op)
          val binSize = fieldOpt(spec, "binSize").map(x => intValue(x, op)).getOrElse(1)
          if (binSize < 1) throw new MqlException(
            "$dateTrunc: binSize must be a positive integer")
          val refMs = 946684800000L // 2000-01-01T00:00:00Z
          val unitMs = Map("millisecond" -> 1L, "second" -> 1000L,
            "minute" -> 60000L, "hour" -> 3600000L, "day" -> 86400000L,
            "week" -> 604800000L)
          val unitMonths = Map("month" -> 1, "quarter" -> 3, "year" -> 12)
          unit match {
            case _ if unitMs.contains(unit) =>
              val ref =
                if (unit != "week") refMs
                else {
                  val sow = fieldOpt(spec, "startOfWeek")
                    .map(x => strValue(x, op).toLowerCase).getOrElse("sunday")
                  val idx = Seq("saturday", "sunday", "monday", "tuesday",
                    "wednesday", "thursday", "friday").indexOf(sow)
                  if (idx < 0) throw new MqlException(
                    s"$$dateTrunc: unknown startOfWeek '$sow'")
                  refMs + idx * 86400000L // first such weekday ≥ 2000-01-01
                }
              val per = unitMs(unit) * binSize
              val ms = unix_millis(d)
              tzOut(timestamp_millis(ms - pmod(ms - lit(ref), lit(per))), tz)
            case _ if unitMonths.contains(unit) =>
              if (binSize == 1 && unit != "quarter") tzOut(date_trunc(unit, d), tz)
              else {
                val m = (year(d) - lit(2000)) * 12 + (month(d) - 1)
                val per = unitMonths(unit) * binSize
                val mb = m - pmod(m, lit(per))
                tzOut(make_timestamp(
                  lit(2000) + floor(mb / lit(12.0)).cast(IntegerType),
                  pmod(mb, lit(12)) + 1, lit(1), lit(0), lit(0), lit(0)), tz)
              }
            case other => throw new MqlException(s"$$dateTrunc unit $other unsupported")
          }
        case other => throw new MqlException(s"bad $$dateTrunc: $other")
      }
      case "$dateAdd" | "$dateSubtract" => v match {
        case JObject(spec) =>
          val tz = specTz(spec, op)
          val d = tzIn(compile(field(spec, "startDate", op), env), tz)
          val unit = strValue(field(spec, "unit", op), op)
          val amount = intValue(field(spec, "amount", op), op) *
            (if (op == "$dateSubtract") -1 else 1)
          // calendar arithmetic happens in the zone's wall clock (a
          // day added across a DST change is a calendar day, not 24 h)
          tzOut(d + expr(s"INTERVAL $amount $unit"), tz)
        case other => throw new MqlException(s"bad $op: $other")
      }
      case "$dateDiff" => v match {
        case JObject(spec) =>
          val tzd = specTz(spec, op)
          val s0 = tzIn(compile(field(spec, "startDate", op), env), tzd)
          val e0 = tzIn(compile(field(spec, "endDate", op), env), tzd)
          strValue(field(spec, "unit", op), op) match {
            case "year"  => (year(e0) - year(s0)).cast(LongType)
            case "month" => ((year(e0) - year(s0)) * 12 + (month(e0) - month(s0))).cast(LongType)
            // day/hour/…: boundary crossings == floored ms delta after
            // truncating both ends to the unit (Mongo semantics). Week
            // boundaries follow startOfWeek — default SUNDAY (Mongo),
            // not Spark date_trunc's Monday — via the same
            // 2000-01-01-anchored arithmetic as $dateTrunc.
            case u @ ("day" | "hour" | "minute" | "second" | "week") =>
              val msPer = Map("day" -> 86400000L, "hour" -> 3600000L,
                "minute" -> 60000L, "second" -> 1000L, "week" -> 604800000L)(u)
              def truncU(d: Column): Column =
                if (u != "week") date_trunc(u, d)
                else {
                  val sow = fieldOpt(spec, "startOfWeek")
                    .map(x => strValue(x, op).toLowerCase).getOrElse("sunday")
                  val idx = Seq("saturday", "sunday", "monday", "tuesday",
                    "wednesday", "thursday", "friday").indexOf(sow)
                  if (idx < 0) throw new MqlException(
                    s"$$dateDiff: unknown startOfWeek '$sow'")
                  val ref = 946684800000L + idx * 86400000L
                  val ms = unix_millis(d)
                  timestamp_millis(ms - pmod(ms - lit(ref), lit(604800000L)))
                }
              floor((unix_millis(truncU(e0)) - unix_millis(truncU(s0))) /
                lit(msPer.toDouble)).cast(LongType)
            case other => throw new MqlException(s"$$dateDiff unit $other unsupported")
          }
        case other => throw new MqlException(s"bad $$dateDiff: $other")
      }
      case "$let" => v match {
        case JObject(spec) =>
          val vars = asObj(field(spec, "vars", op), "$let vars")
            .foldLeft(env) { case (e, (name, ve)) => e + (name -> compile(ve, e)) }
          compile(field(spec, "in", op), vars)
        case other => throw new MqlException(s"bad $$let: $other")
      }

      // ---- type conversion ----
      case "$toInt"     => c0.cast(IntegerType)
      case "$toLong"    => c0.cast(LongType)
      case "$toDouble"  => c0.cast(DoubleType)
      case "$toBool"    => c0.cast(BooleanType)
      case "$toDecimal" => c0.cast(DecimalParity)
      case "$toDate"    => c0.cast(TimestampType)
      case "$convert" => v match {
        case JObject(spec) =>
          val in = compile(field(spec, "input", op), env)
          val format = spec.collectFirst { case ("format", JString(f)) => f }
          val toName = strValue(field(spec, "to", op), op)
          val to = toName match {
            case "int" => IntegerType;  case "long" => LongType
            case "double" => DoubleType; case "decimal" => DecimalParity
            case "string" => StringType; case "bool" => BooleanType
            case "date" => TimestampType
            case other => throw new MqlException(s"$$convert to $other unsupported")
          }
          format.foreach { f =>
            if (toName != "string") throw new MqlException(
              "$convert: format is only supported with to: 'string'")
            if (!Set("uuid", "hex", "base64").contains(f))
              throw new MqlException(s"$$convert format '$f' unsupported")
          }
          // binData → string renderings (Mongo 8.0 format option): the
          // engine models BinData as BinaryType, so these are pure
          // byte-level formats; "uuid" additionally requires 16 bytes
          // (null otherwise — the try_cast contract)
          val casted = (toName, format) match {
            case ("string", Some("uuid")) =>
              val h = lower(hex(in.cast(BinaryType)))
              when(org.apache.spark.sql.functions.length(in.cast(BinaryType)) === 16,
                concat_ws("-", substring(h, 1, 8), substring(h, 9, 4),
                  substring(h, 13, 4), substring(h, 17, 4), substring(h, 21, 12)))
            case ("string", Some("hex")) => lower(hex(in.cast(BinaryType)))
            case ("string", Some("base64")) => base64(in.cast(BinaryType))
            case ("string", Some(f)) =>
              throw new MqlException(s"$$convert format '$f' unsupported")
            // int/long: the resolve-time-dispatched non-throwing parser
            // (try_cast's string branch raises+catches per failing row —
            // ~50× slower when most rows hit onError)
            case ("int", None)  => graftFn("try_to_int", in)
            case ("long", None) => graftFn("try_to_long", in)
            case _ => in.try_cast(to) // null on parse failure (ANSI-safe)
          }
          val withErr = fieldOpt(spec, "onError")
            .map(e => when(in.isNotNull && casted.isNull, compile(e, env)).otherwise(casted))
            .getOrElse(casted)
          fieldOpt(spec, "onNull")
            .map(e => when(in.isNull, compile(e, env)).otherwise(withErr))
            .getOrElse(withErr)
        case other => throw new MqlException(s"bad $$convert: $other")
      }
      case "$literal"   => literal(v)

      // ---- n-ary / array math (MQL reuses accumulator names in
      // expression context: array form folds the array, list form is
      // element-wise across operands) ----
      case "$max" => v match {
        case JArray(es) if es.length > 1 => greatest(c: _*)
        case _ => array_max(c0)
      }
      case "$min" => v match {
        case JArray(es) if es.length > 1 => least(c: _*)
        case _ => array_min(c0)
      }
      // Mongo's numeric folds IGNORE null/missing elements ($sum of
      // [1, null, 2] is 3, $avg is 1.5 — divided by the numeric count):
      // a raw fold would null-poison instead
      case "$sum" => v match {
        case JArray(es) if es.length > 1 =>
          c.map(x => coalesce(x, lit(0))).reduce(_ + _)
        case _ => aggregate(filter(c0, x => x.isNotNull), lit(0.0),
          (acc, x) => acc + x.cast(DoubleType))
      }
      case "$avg" => v match {
        case JArray(es) if es.length > 1 =>
          val nn = c.map(x => when(x.isNotNull, 1).otherwise(0)).reduce(_ + _)
          when(nn === 0, lit(null))
            .otherwise(c.map(x => coalesce(x.cast(DoubleType), lit(0.0)))
              .reduce(_ + _) / nn.cast(DoubleType))
        case _ => // Mongo: $avg over an empty/all-null array is null, not 0
          val nums = filter(c0, x => x.isNotNull)
          when(coalesce(size(nums), lit(0)) === 0, lit(null))
            .otherwise(aggregate(nums, lit(0.0), (acc, x) => acc + x.cast(DoubleType)) /
              size(nums).cast(DoubleType))
      }
      // expression forms folding one array argument (the group/window
      // forms live in PipelineCompiler). Sum/sum-of-squares single pass;
      // the DuckDB twins reproduce the same formula term-for-term so
      // float decisions agree bit for bit.
      case "$stdDevPop" | "$stdDevSamp" =>
        val arr0 = v match {
          case JArray(List(one)) => compile(one, env)
          case JArray(_) => throw new MqlException(
            s"$op expression form takes one array argument")
          case _ => c0
        }
        // numeric elements only (the Mongo fold contract — see $sum)
        val arr = filter(arr0, x => x.isNotNull)
        val n  = size(arr).cast(DoubleType)
        val s1 = aggregate(arr, lit(0.0), (a, x) => a + x.cast(DoubleType))
        val s2 = aggregate(arr, lit(0.0),
          (a, x) => a + x.cast(DoubleType) * x.cast(DoubleType))
        // greatest(_, 0): catastrophic cancellation on near-constant
        // large-magnitude arrays can push the radicand epsilon-negative
        // → NaN where Mongo returns 0 (twins carry the same clamp)
        if (op == "$stdDevPop")
          when(size(arr) >= 1,
            sqrt(greatest((s2 - s1 * s1 / n) / n, lit(0.0)))).otherwise(lit(null))
        else
          when(size(arr) >= 2,
            sqrt(greatest((s2 - s1 * s1 / n) / (n - lit(1.0)), lit(0.0))))
            .otherwise(lit(null))
      // expression forms over an array input (Mongo 7.0 allows
      // $median/$percentile in $project). Exact interpolated percentile
      // — identical formula to DuckDB quantile_cont — computed on the
      // sorted array: pos = p·(n−1), linear blend of the two bracketing
      // elements. "approximate" input method gets exact results, the
      // same documented strictly-more-precise deviation as the
      // accumulator form (PipelineCompiler).
      case "$median" | "$percentile" =>
        val spec = v match {
          case JObject(fs) => fs
          case other => throw new MqlException(s"bad $op: $other")
        }
        val input  = compile(field(spec, "input", op), env)
        val sorted = array_sort(transform(input, _.cast(DoubleType)))
        val n      = size(sorted)
        def interp(p: Double): Column = {
          val pos  = lit(p) * (n.cast(DoubleType) - lit(1.0))
          val lo   = floor(pos).cast(IntegerType)
          val frac = pos - floor(pos)
          val vlo  = element_at(sorted, lo + 1)
          val vhi  = element_at(sorted, least(lo + lit(2), n))
          when(n === 0, lit(null)).otherwise(vlo + (vhi - vlo) * frac)
        }
        if (op == "$median") interp(0.5)
        else {
          val ps = spec.collectFirst { case ("p", JArray(vs)) => vs }
            .getOrElse(throw new MqlException("$percentile needs p array"))
            .map {
              case JDouble(p) => p
              case JInt(p)    => p.toDouble
              case o => throw new MqlException(s"bad percentile $o")
            }
          array(ps.map(interp): _*)
        }
      // BSON-serialized byte size via the sink encoder (exact bytes the
      // doc sink writes); int32 like Mongo
      case "$bsonSize" => graftFn("graft_bson_size", c0)

      // ---- arrays ----
      case "$size" => size(c0)
      // try_element_at, not element_at: Mongo's out-of-range $arrayElemAt
      // yields missing (null); ANSI-mode element_at would raise instead
      case "$arrayElemAt" => v match {
        case JArray(List(a, idx)) =>
          val arr = compile(a, env)
          idx match {
            case JInt(i) if i >= 0 => try_element_at(arr, lit(i.toInt + 1))
            case JInt(i)           => try_element_at(arr, lit(i.toInt))
            case _ =>
              val ic = compile(idx, env)
              when(ic >= 0, get(arr, ic)).otherwise(try_element_at(arr, ic))
          }
        case other => throw new MqlException(s"bad $$arrayElemAt: $other")
      }
      case "$first" => try_element_at(c0, lit(1))
      case "$last"  => try_element_at(c0, lit(-1))
      // Mongo: ANY null/missing operand nulls the result. Runtime nulls
      // propagate through Spark's concat already; a LITERAL null has no
      // array type and would fail analysis, so it short-circuits here
      // (keeping the concat of the rest only to type the null).
      case "$concatArrays" => v match {
        case JArray(es) if es.contains(JNull) =>
          val rest = es.filterNot(_ == JNull).map(compile(_, env))
          if (rest.isEmpty) lit(null).cast("array<string>")
          else when(lit(false), concat(rest: _*)).otherwise(lit(null))
        case _ => concat(c: _*)
      }
      // Mongo clamps an out-of-range negative position to the array START
      // (returns the whole tail), where Spark's slice() returns empty for
      // |start| > length — so negative forms clamp explicitly. 1-indexed
      // start = max(len + pos, 0) + 1.
      case "$slice" => v match {
        case JArray(List(a, n)) =>
          val arr = compile(a, env); val k = intValue(n, "$slice")
          if (k >= 0) slice(arr, lit(1), lit(k))
          else slice(arr, greatest(size(arr) + lit(k), lit(0)) + 1, lit(-k))
        case JArray(List(a, p, n)) =>
          val arr = compile(a, env)
          val pos = intValue(p, "$slice"); val k = intValue(n, "$slice")
          if (k <= 0) throw new MqlException(
            "$slice: the third argument must be positive") // server 28729
          if (pos >= 0) slice(arr, lit(pos + 1), lit(k))
          else slice(arr, greatest(size(arr) + lit(pos), lit(0)) + 1, lit(k))
        case other => throw new MqlException(s"bad $$slice: $other")
      }
      case "$in" => array_contains(c(1), c(0))
      // start/end restrict the SEARCH WINDOW, but the returned index is
      // in the original array (Mongo contract); not-found → -1 (the
      // 2-arg form gets that for free: array_position 0 − 1)
      case "$indexOfArray" => v match {
        case JArray(a :: t :: rest) if rest.nonEmpty =>
          val arr = compile(a, env)
          val tgt = compile(t, env)
          val startC = compile(rest.head, env).cast(IntegerType)
          val endC = rest.drop(1).headOption.map(compile(_, env).cast(IntegerType))
            .getOrElse(size(arr))
          val len = greatest(endC - startC, lit(0))
          val pos = array_position(slice(arr, startC + 1, len), tgt)
          when(pos > 0, pos - 1 + startC.cast(LongType)).otherwise(lit(-1L))
        case _ => array_position(c(0), c(1)) - lit(1)
      }
      case "$range" => v match {
        case JArray(es) =>
          val step = es.drop(2).headOption.map(intValue(_, "$range")).getOrElse(1)
          if (step == 0) throw new MqlException(
            "$range requires a non-zero step value")
          val start = compile(es(0), env); val end = compile(es(1), env)
          val stop = if (step > 0) end - lit(1) else end + lit(1)
          // MQL range is half-open and may be empty; sequence() rejects
          // a start beyond stop, so guard the empty case explicitly
          val nonEmpty = if (step > 0) start < end else start > end
          when(nonEmpty, sequence(start, stop, lit(step)))
            .otherwise(array().cast("array<int>"))
        case other => throw new MqlException(s"bad $$range: $other")
      }
      case "$reverseArray" => reverse(c0)
      case "$sortArray" => v match {
        case JObject(spec) =>
          val in = compile(field(spec, "input", op), env)
          val ascending = field(spec, "sortBy", "$sortArray") match {
            case JInt(d)  => d >= 0
            case JLong(d) => d >= 0
            case other => throw new MqlException(s"$$sortArray sortBy must be 1/-1: $other")
          }
          sort_array(in, asc = ascending)
        case other => throw new MqlException(s"bad $$sortArray: $other")
      }
      // ---- n-value ARRAY-EXPRESSION forms (Mongo 5.2; the accumulator
      // and window forms live in PipelineCompiler). $firstN/$lastN slice
      // in stored order keeping nulls; $minN/$maxN drop nulls and sort.
      case "$firstN" | "$lastN" | "$minN" | "$maxN" => v match {
        case JObject(spec) =>
          val in = compile(field(spec, "input", op), env)
          val n = field(spec, "n", op) match {
            case JInt(i)  => i.toInt
            case JLong(l) => l.toInt
            case other => throw new MqlException(s"$op n must be an int: $other")
          }
          op match {
            case "$firstN" => slice(in, 1, n)
            case "$lastN" => // keep stored order; short arrays pass whole
              when(size(in) <= n, in).otherwise(slice(in, -n, n))
            case "$minN" =>
              slice(array_sort(filter(in, x => x.isNotNull)), 1, n)
            case "$maxN" =>
              slice(reverse(array_sort(filter(in, x => x.isNotNull))), 1, n)
          }
        case other => throw new MqlException(s"bad $op: $other")
      }
      case "$setUnion"     => array_distinct(concat(c: _*))
      case "$setIntersection" | "$setIntersect" => c.reduce(array_intersect)
      case "$setDifference" => array_except(c(0), c(1))
      // ---- bitwise (Mongo 6.3+) ----
      case "$bitAnd" => c.reduce(_.bitwiseAND(_))
      case "$bitOr"  => c.reduce(_.bitwiseOR(_))
      case "$bitXor" => c.reduce(_.bitwiseXOR(_))
      case "$bitNot" => bitwise_not(c0)
      // document union, later fields win (colliding fields must share a
      // type — Spark structs are statically typed)
      case "$mergeObjects" => graftFn("graft_merge_objects", c: _*)
      case "$setIsSubset" =>
        if (c.size != 2) throw new MqlException("$setIsSubset needs exactly 2 arrays")
        size(array_except(c(0), c(1))) === 0
      case "$setEquals" =>
        if (c.size < 2) throw new MqlException("$setEquals needs >= 2 arrays")
        c.zip(c.tail).map { case (a, b) =>
          size(array_except(a, b)) === 0 && size(array_except(b, a)) === 0
        }.reduce(_ && _)
      // MQL truthiness: null/false/0 falsy; EVERY string (incl. "false",
      // "0"), date, array, object truthy — so dispatch on the element's
      // static type (typeof folds to a constant per column)
      case "$anyElementTrue" => exists(c0, truthy)
      case "$allElementsTrue" => forall(c0, truthy)
      // $zip shortest-length form: [[a0,b0],[a1,b1],...] (inputs must
      // share a type — Spark arrays are homogeneous)
      case "$zip" => v match {
        case JObject(spec) =>
          val inputSpecs = field(spec, "inputs", op) match {
            case JArray(as) => as
            case other => throw new MqlException(s"bad $$zip inputs: $other")
          }
          if (inputSpecs.size < 2) throw new MqlException("$zip needs >= 2 inputs")
          // a LITERAL null input folds to null at compile (an untyped NULL
          // can't analyze through zip_with/size); runtime nulls propagate
          // through the typed columns below
          if (inputSpecs.exists(_ == JNull)) return lit(null)
          val inputs = inputSpecs.map(compile(_, env))
          val useLongest = fieldOpt(spec, "useLongestLength").exists {
            case JBool(b) => b
            case other => throw new MqlException(s"bad useLongestLength: $other")
          }
          val defaults = fieldOpt(spec, "defaults").map {
            case JArray(ds) =>
              if (!useLongest) throw new MqlException( // server error 34514
                "$zip: defaults requires useLongestLength: true")
              if (ds.size != inputs.size) throw new MqlException(
                "$zip: defaults and inputs must have the same length")
              ds.map(compile(_, env))
            case other => throw new MqlException(s"bad $$zip defaults: $other")
          }
          if (!useLongest) {
            val zipped = inputs.tail.foldLeft(transform(inputs.head, x => array(x))) {
              (acc, nxt) => zip_with(acc, nxt, (xs, y) => concat(xs, array(y)))
            }
            // zip_with pads to the longest input; Mongo's default is the
            // shortest — truncate (a null input nulls `zipped`, matching
            // Mongo's any-null-input → null)
            slice(zipped, lit(1), inputs.map(size).reduce(least(_, _)))
          } else {
            // longest form: index positions 0..maxLen-1, each input padded
            // with ITS default (null when unspecified) where it runs out.
            // Pads key off length, not element nullness — a real null
            // element stays null, only missing positions take the default.
            val maxLen = inputs.map(size).reduce(greatest(_, _))
            val idx = when(maxLen > 0, sequence(lit(0), maxLen - 1))
              .otherwise(array().cast("array<int>"))
            val dflts = defaults.getOrElse(inputs.map(_ => lit(null)))
            val rows = transform(idx, i => array(inputs.zip(dflts).map {
              case (inp, d) => when(i < size(inp), get(inp, i)).otherwise(d)
            }: _*))
            // any null input → null result (Mongo contract)
            when(inputs.map(_.isNull).reduce(_ || _), lit(null)).otherwise(rows)
          }
        case other => throw new MqlException(s"bad $$zip: $other")
      }
      // BSON type name, resolved from the static plan type at analysis
      case "$type" => bsonTypeName(c0)
      case "$isNumber" => graftFn("graft_is_number", c0)
      case "$isArray" => bsonTypeName(c0) === "array"
      // [{k, v}, ...] → document. Dynamic keys have no static struct
      // twin (Spark structs are compile-time typed), so the result is a
      // map — the same homogeneity restriction documented on
      // $objectToArray, in reverse.
      case "$arrayToObject" => map_from_entries(c0)
      case "$rand" => rand()
      // hex string → 12-byte ObjectId binary (schema-level metadata
      // tags the column; see MSchema.objectIdField)
      case "$toObjectId" => unhex(c0)
      // dashed/bare UUID string → 16-byte BinData(4) (Mongo 8.0
      // $toUUID); null on malformed input like the try-converts. The
      // reverse rendering is $convert {to: "string", format: "uuid"}.
      case "$toUUID" =>
        val bare = regexp_replace(c0, "-", "")
        when(bare.rlike("^[0-9a-fA-F]{32}$"), unhex(bare))
      // BSON internal replication timestamp decodes as {t: seconds,
      // i: increment} (BsonBinary 0x11) — the accessors are field reads
      case "$tsSecond"    => c0.getField("t")
      case "$tsIncrement" => c0.getField("i")
      case "$binarySize" => octet_length(c0)
      case "$filter" => v match {
        case JObject(spec) =>
          val in = compile(field(spec, "input", op), env)
          val as = fieldOpt(spec, "as").map(x => strValue(x, op)).getOrElse("this")
          val cond = field(spec, "cond", op)
          val out = filter(in, x => compile(cond, env + (as -> x) + ("this" -> x)))
          fieldOpt(spec, "limit").map(l => slice(out, 1, intValue(l, op))).getOrElse(out)
        case other => throw new MqlException(s"bad $$filter: $other")
      }
      case "$map" => v match {
        case JObject(spec) =>
          val in = compile(field(spec, "input", op), env)
          val as = fieldOpt(spec, "as").map(x => strValue(x, op)).getOrElse("this")
          val body = field(spec, "in", op)
          transform(in, x => compile(body, env + (as -> x) + ("this" -> x)))
        case other => throw new MqlException(s"bad $$map: $other")
      }
      case "$reduce" => v match {
        case JObject(spec) =>
          val in = compile(field(spec, "input", op), env)
          val init = compile(field(spec, "initialValue", op), env)
          val body = field(spec, "in", op)
          aggregate(in, init,
            (acc, x) => compile(body, env + ("value" -> acc) + ("this" -> x)))
        case other => throw new MqlException(s"bad $$reduce: $other")
      }
      case "$getField" => v match {
        case JObject(spec) =>
          compile(field(spec, "input", op), env)
            .getField(strValue(field(spec, "field", op), op))
        case JString(f) => fieldCol(f)
        case other => throw new MqlException(s"bad $$getField: $other")
      }
      // field names are LITERAL in Mongo — backtick-quote so dots don't
      // parse as nested paths in withField/dropFields
      case "$setField" => v match {
        case JObject(spec) =>
          compile(field(spec, "input", op), env).withField(
            quoteIdent(strValue(field(spec, "field", op), op)),
            compile(field(spec, "value", op), env))
        case other => throw new MqlException(s"bad $$setField: $other")
      }
      case "$unsetField" => v match {
        case JObject(spec) =>
          compile(field(spec, "input", op), env)
            .dropFields(quoteIdent(strValue(field(spec, "field", op), op)))
        case other => throw new MqlException(s"bad $$unsetField: $other")
      }
      // struct → [{k, v}] — requires a common field type (Spark arrays
      // are homogeneous; Mongo's mixed-type form has no DataFrame twin)
      case "$objectToArray" => graftFn("graft_object_to_array", c0)
      // first regex match as {match, idx, captures}; null when no match;
      // non-participating groups null (RegexFind native expression, one
      // Matcher evaluation per row)
      case "$regexFind" | "$regexFindAll" => v match {
        case JObject(spec) =>
          val input = compile(field(spec, "input", op), env)
          val pattern = strValue(field(spec, "regex", op), op)
          val opts = fieldOpt(spec, "options").map(x => strValue(x, op)).getOrElse("")
          val p = (if (opts.nonEmpty) s"(?$opts)" else "") + pattern
          graftFn(
            if (op == "$regexFind") "graft_regex_find" else "graft_regex_find_all",
            input, lit(p))
        case other => throw new MqlException(s"bad $op: $other")
      }

      case "$function" => throw new MqlException(
        s"$$function: ${PipelineCompiler.JsOutOfScope}")
      case "$where" => throw new MqlException(
        s"$$where: ${PipelineCompiler.JsOutOfScope} ($$expr takes its place)")
      case other => throw new MqlException(s"unsupported expression operator $other")
    }
  }
}
