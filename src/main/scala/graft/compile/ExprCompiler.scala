package graft.compile

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, IntegerType, LongType}

import graft.query.{Expr, ExprParseException}
import graft.functions.{contains_count, parsetime, ref_lit, timefmt}

/**
 * Static type tag for a compiled expression — the Spark-side stand-in
 * for the reference's dynamically-typed `expr::Value`
 * (reference: src/expr/value.h:25-113). Nil ≡ SQL NULL throughout; the
 * Bool variant surfaces as numeric 0/1 (search-expressions.md
 * "Logical Operators").
 */
sealed trait VTag
object VTag {
  case object Num extends VTag
  case object Str extends VTag
  case object Bool extends VTag
}

final case class TypedCol(c: Column, tag: VTag)

/**
 * Compiles an expression AST to a Spark Column, reproducing the
 * reference's dynamic-value semantics (src/expr/value.cc) over
 * statically-typed columns:
 *
 *  - arithmetic coerces via strtod; failure → Nil; Nil propagates;
 *    x/0 → NaN (value.cc:351-362)
 *  - comparisons follow the prioritized rules of value.cc:271-319 and
 *    value.h:135-161 — both-Nil ⇒ EQUAL; one-Nil or NaN ⇒ UNORDERED,
 *    where UNORDERED makes `==`, `<=`, `>=` TRUE and `<`, `>`, `!=`
 *    FALSE (a deliberate delta from SQL three-valued logic)
 *  - `&&`/`||` are Nil-propagating (value.cc:387-409), unlike SQL's
 *    `false AND NULL = false`
 *  - numeric fns return NaN (not Nil) for non-Nil unconvertible input
 *    (value.cc NumericUnaryNil, 1.2.1 semantics)
 *
 * @param resolve  field alias → column + tag for the current record
 *                 (record schema evolves across FT.AGGREGATE stages)
 * @param params   PARAMS values, substituted as string constants
 * @param emulate  `search.emulate-release` pin: a gated 1.2.1 fix
 *                 (value.cc VALKEY_SEARCH_COMPATIBILITY_FIX sites)
 *                 compiles its LEGACY branch when emulate < fix version
 * @param legacyUsed callback per legacy-gated site compiled (feeds the
 *                 reference's `compatibility-<label>` INFO counters)
 */
final class ExprCompiler(
    resolve: String => Option[TypedCol],
    params: Map[String, String] = Map.empty,
    emulate: graft.model.ValkeyVersion = graft.model.ValkeyVersion.Module,
    legacyUsed: String => Unit = _ => ()) {

  import Expr._
  import VTag._

  private val nan = lit(Double.NaN)
  private val posInf = lit(Double.PositiveInfinity)
  private val negInf = lit(Double.NegativeInfinity)

  /** VALKEY_SEARCH_COMPATIBILITY_FIX (valkey_search_options.h:180-197):
    * compile `fixed` when the pin covers the fix version, else count
    * the legacy use under `label` and compile `legacy`. */
  private def fix[A](major: Int, minor: Int, patch: Int, label: String)(
      fixed: => A)(legacy: => A): A =
    if (emulate >= graft.model.ValkeyVersion(major, minor, patch)) fixed
    else { legacyUsed(label); legacy }

  // ------------------------------------------------------------------ //
  // Value conversions (reference value.cc AsDouble/AsStringView/AsBool) //
  // ------------------------------------------------------------------ //

  /** strtod coercion: empty string → 0.0 (strtod quirk, value.cc:129-150);
    * unparseable → NULL (Nil). try_cast, NOT cast — ANSI mode would
    * otherwise throw where the reference produces Nil. */
  private def asNum(t: TypedCol): Column = t.tag match {
    case Num => t.c
    case Bool => t.c.cast(DoubleType)
    case Str => when(t.c === lit(""), lit(0.0)).otherwise(t.c.try_cast(DoubleType))
  }

  /** AsStringView: doubles format with %.11g (value.cc:88-100). */
  private def asStr(t: TypedCol): Column = t.tag match {
    case Str => t.c
    case Bool => when(t.c, lit("1")).otherwise(lit("0"))
    case Num => graft.functions.format_g(t.c)
  }

  /** AsBool (value.cc:102-127): NaN → true, number → ≠0, string →
    * non-empty (1.2.1 `asbool_string_truthy`; pre-1.2.1 every non-Nil
    * string was false); Nil → NULL (the &&/||/Not callers propagate it
    * — the reference checks IsNil before AsBool at those sites). */
  private def asBool(t: TypedCol): Column = t.tag match {
    case Bool => t.c
    case Num => when(isnan(t.c), lit(true)).otherwise(t.c =!= lit(0.0))
    case Str => fix(1, 2, 1, "asbool_string_truthy")(
      octet_length(t.c) > 0)(
      when(t.c.isNull, lit(null).cast(org.apache.spark.sql.types.BooleanType))
        .otherwise(lit(false)))
  }

  /** IsTrue (value.h:81-84): Nil ⇒ false. The FILTER-stage predicate. */
  def isTrue(t: TypedCol): Column = coalesce(asBool(t), lit(false))

  // ------------------------------------------------------------------ //
  // Public API                                                          //
  // ------------------------------------------------------------------ //

  def compile(e: Expr): TypedCol = e match {
    // by reference: a new number reuses the compiled class (RefLiteral)
    case NumLit(v) => TypedCol(ref_lit(v), Num)
    case StrLit(v) => TypedCol(lit(v), Str)
    case ParamRef(n) => TypedCol(
      lit(params.getOrElse(n, throw new ExprParseException(s"Unknown parameter $$$n"))), Str)
    case FieldRef(n) => resolve(n).getOrElse(
      throw new ExprParseException(s"Unknown field @$n"))
    case Not(inner) =>
      TypedCol(!asBool(compile(inner)), Bool) // NULL-propagating like FuncNot
    case Dyadic(op, l, r) => dyadic(op, compile(l), compile(r))
    case Call(name, args) => call(name, args.map(compile))
  }

  /** Surface form: Bool → numeric 0/1 (search-expressions.md:103). */
  def compileToColumn(e: Expr): Column = {
    val t = compile(e)
    t.tag match {
      case Bool => t.c.cast(DoubleType)
      case _ => t.c
    }
  }

  /** FILTER-stage form: IsTrue semantics, Nil ⇒ drop. */
  def compileToPredicate(e: Expr): Column = isTrue(compile(e))

  /** Numeric coercion of a compiled value (reducer inputs). */
  def toNum(t: TypedCol): Column = asNum(t)

  /** Surface form of a compiled value: Bool → 0/1 double. */
  def surface(t: TypedCol): Column = t.tag match {
    case Bool => t.c.cast(DoubleType)
    case _ => t.c
  }

  // ------------------------------------------------------------------ //
  // Operators                                                           //
  // ------------------------------------------------------------------ //

  private def dyadic(op: String, l: TypedCol, r: TypedCol): TypedCol = op match {
    case "+" => TypedCol(asNum(l) + asNum(r), Num)
    case "-" => TypedCol(asNum(l) - asNum(r), Num)
    case "*" => TypedCol(asNum(l) * asNum(r), Num)
    case "/" =>
      val (ln, rn) = (asNum(l), asNum(r))
      // x/0 → NaN, not Infinity/NULL (value.cc:351-362)
      TypedCol(when(rn === lit(0.0), nan).otherwise(ln / rn), Num)
    case "^" =>
      // C99 pow semantics (the reference evaluates with libm pow,
      // expr.cc), where Java diverges: pow(+1, y) = 1 for ANY y
      // including NaN/±inf, and pow(-1, ±inf) = 1 — Java returns NaN
      // for |x| == 1 with infinite y (compat corpus
      // test_aggregate_dyadic_ops pins these cells)
      val (bn, en) = (asNum(l), asNum(r))
      TypedCol(
        when(bn === lit(1.0), lit(1.0))
          .when(abs(bn) === lit(1.0) && (en === lit(Double.PositiveInfinity) ||
            en === lit(Double.NegativeInfinity)), lit(1.0))
          .otherwise(pow(bn, en)), Num)
    case "&&" | "||" =>
      val (lb, rb) = (asBool(l), asBool(r))
      // Nil-propagating, NOT SQL three-valued logic (value.cc:387-409)
      val res = if (op == "&&") lb && rb else lb || rb
      TypedCol(when(lb.isNull || rb.isNull, lit(null)).otherwise(res), Bool)
    case relop => TypedCol(comparison(relop, l, r), Bool)
  }

  /**
   * Ordering column: -1 | 0 | 1, NULL = UNORDERED. Encodes
   * value.cc:271-319 `Compare` incl. both-Nil ⇒ EQUAL and the
   * promote-to-double rule for mixed types.
   */
  private def ordering(l0: TypedCol, r0: TypedCol): Column = {
    // Bool participates in comparisons via its numeric form.
    val l = if (l0.tag == Bool) TypedCol(asNum(l0), Num) else l0
    val r = if (r0.tag == Bool) TypedCol(asNum(r0), Num) else r0

    def numOrd(a: Column, b: Column): Column =
      when(isnan(a) || isnan(b), lit(null).cast(IntegerType))
        .when(a < b, lit(-1)).when(a === b, lit(0)).otherwise(lit(1))
    def strOrd(a: Column, b: Column): Column =
      when(a < b, lit(-1)).when(a === b, lit(0)).otherwise(lit(1))

    val typedOrd = (l.tag, r.tag) match {
      case (Num, Num) => numOrd(l.c, r.c)
      case (Str, Str) => strOrd(l.c, r.c) // rule 4 precedes numeric promotion
      case _ =>
        val (ln, rn) = (asNum(l), asNum(r))
        when(ln.isNotNull && rn.isNotNull, numOrd(ln, rn))
          .otherwise(strOrd(asStr(l), asStr(r)))
    }
    when(l.c.isNull && r.c.isNull, lit(0))
      .when(l.c.isNull || r.c.isNull, lit(null).cast(IntegerType))
      .otherwise(typedOrd)
  }

  /** UNORDERED ⇒ ==, <=, >= true; <, >, != false (value.h:135-161). */
  private def comparison(op: String, l: TypedCol, r: TypedCol): Column = {
    val ord = ordering(l, r)
    op match {
      case "<" => coalesce(ord === -1, lit(false))
      case "<=" => coalesce(ord =!= 1, lit(true))
      case "==" => coalesce(ord === 0, lit(true))
      case "!=" => coalesce(ord === -1 || ord === 1, lit(false))
      case ">" => coalesce(ord === 1, lit(false))
      case ">=" => coalesce(ord =!= -1, lit(true))
    }
  }

  // ------------------------------------------------------------------ //
  // Functions (reference expr.cc:192-223 table, value.cc bodies)        //
  // ------------------------------------------------------------------ //

  /** Numeric-fn input: Nil stays Nil; non-Nil unconvertible → NaN
    * (value.cc NumericUnaryNil, 1.2.1 `numeric_unary_nan_on_unparsable`;
    * pre-1.2.1 unconvertible → Nil). The time functions share this
    * conversion but Nil the NaN again behind their own guards, so the
    * gate is only observable through the unary numeric functions —
    * matching the reference, where only NumericUnaryNil is gated. */
  private def numArg(t: TypedCol): Column = t.tag match {
    case Str => fix(1, 2, 1, "numeric_unary_nan_on_unparsable")(
      when(t.c.isNull, lit(null).cast(DoubleType))
        .otherwise(coalesce(asNum(t), nan)))(
      asNum(t))
    case _ => asNum(t)
  }

  private def call(name: String, args: List[TypedCol]): TypedCol = name match {
    case "exists" => TypedCol(args.head.c.isNotNull, Bool)

    case "abs" => TypedCol(abs(numArg(args.head)), Num)
    case "exp" => TypedCol(exp(numArg(args.head)), Num)
    case "sqrt" => TypedCol(sqrt(numArg(args.head)), Num) // sqrt(<0) → NaN, like C
    case "ceil" | "floor" =>
      val d = numArg(args.head)
      // Spark's ceil/floor return LongType and break on NaN/Inf; C's
      // return the input unchanged there (math.h).
      val f = if (name == "ceil") ceil(d) else floor(d)
      TypedCol(when(isnan(d) || d === posInf || d === negInf, d)
        .otherwise(f.cast(DoubleType)), Num)
    case "log" | "log2" =>
      val d = numArg(args.head)
      val f = if (name == "log") log(d) else log2(d)
      // C log: log(0) → -Inf, log(<0) → NaN; Spark yields NULL for both.
      TypedCol(when(d.isNull, lit(null).cast(DoubleType))
        .when(isnan(d), nan)
        .when(d === lit(0.0), negInf)
        .when(d < 0, nan)
        .otherwise(f), Num)

    case "upper" | "lower" =>
      // 1.2.1 semantics: non-string input → Nil (value.cc FuncLower,
      // `lower_non_string_to_nil`/`upper_non_string_to_nil`; pre-1.2.1
      // passed numeric/bool through via AsStringView unchanged).
      // ASCII-ONLY case mapping (value.cc:567-622: codepoints ≥ 0x80
      // pass through untouched) — translate(), not Unicode upper/lower.
      def asciiMap(c: Column): Column =
        if (name == "upper") translate(c, AsciiLowerChars, AsciiUpperChars)
        else translate(c, AsciiUpperChars, AsciiLowerChars)
      args.head.tag match {
        case Str => TypedCol(asciiMap(args.head.c), Str)
        case _ => fix(1, 2, 1, s"${name}_non_string_to_nil")(
          TypedCol(lit(null).cast(org.apache.spark.sql.types.StringType), Str))(
          TypedCol(asciiMap(asStr(args.head)), Str))
      }
    case "strlen" => TypedCol(octet_length(asStr(args.head)).cast(DoubleType), Num)
    case "startswith" =>
      TypedCol(asStr(args.head).startsWith(asStr(args(1))), Bool)
    case "contains" => // occurrence count (value.cc:511-532)
      TypedCol(contains_count(asStr(args.head), asStr(args(1))), Num)
    case "substr" => TypedCol(substrValkey(args.head, args(1), args(2)), Str)
    case "concat" =>
      if (args.isEmpty) TypedCol(lit(""), Str)
      else TypedCol(concat(args.map(asStr): _*), Str)

    case "dayofweek" =>
      // pure arithmetic like the reference (FuncDayofweek
      // value.cc:675-697: FLOORED day count, (days+4) mod 7 — ts=0 was
      // a Thursday) rather than gmtime extraction: exact under the
      // relaxed pre-1.2.1 negative-ts guard, where a time_t cast would
      // truncate toward zero instead of flooring (ts=-0.5 is still
      // Wednesday), and identical for every non-negative timestamp
      val d = validTs(args.head)
      TypedCol(pmod(floor(d / lit(86400.0)) + lit(4L), lit(7L))
        .cast(DoubleType), Num) // 0=Sunday
    case "dayofmonth" => TypedCol(timeField(args.head, t => dayofmonth(t)), Num)
    case "dayofyear" => TypedCol(timeField(args.head, t => dayofyear(t) - 1), Num) // 0-based
    case "monthofyear" => TypedCol(timeField(args.head, t => month(t) - 1), Num) // 0-based
    case "year" => TypedCol(timeField(args.head, t => year(t)), Num)
    // day/hour/minute ROUND the timestamp down to the period start
    // (value.cc RoundToPeriod:800-815 — pure floor arithmetic; they are
    // NOT the component extractors the stale doc table suggests, and
    // the golden expr corpus pins the rounding: day(0)=0, day(3.14)=0).
    case "day" => TypedCol(roundToPeriod(args.head, 86400.0), Num)
    case "hour" => TypedCol(roundToPeriod(args.head, 3600.0), Num)
    case "minute" => TypedCol(roundToPeriod(args.head, 60.0), Num)
    // month rounds to the FIRST of the month (value.cc FuncMonth:766-797:
    // gmtime_r + mday=1 + mktime — month lengths vary, so no fixed
    // period; pre-1.2.1 `month_mday_off_by_one` set mday=0, which
    // mktime rolls back one day — off by exactly 86400 seconds)
    case "month" =>
      val first =
        date_trunc("MONTH", timestamp_seconds(validTs(args.head).cast(LongType)))
          .cast(LongType).cast(DoubleType)
      TypedCol(fix(1, 2, 1, "month_mday_off_by_one")(first)(
        first - lit(86400.0)), Num)

    case "timefmt" =>
      // unlike the component extractors, timefmt formats PRE-EPOCH
      // (negative) timestamps (value.cc FuncTimefmt:704-705 note); only
      // NaN/Inf (and unconvertible) Nil here — the C (time_t) cast
      // truncation toward zero is StrfTime's ts.toLong
      val fmt = if (args.size > 1) asStr(args(1)) else lit("%FT%TZ")
      val d = numArg(args.head)
      val finiteTs = when(d.isNull || isnan(d) || d === posInf || d === negInf,
        lit(null).cast(DoubleType)).otherwise(d)
      // pre-1.2.1 `timefmt_empty_format_to_nil`: an empty format
      // fast-pathed to "" (reached only after the timestamp checks)
      TypedCol(fix(1, 2, 1, "timefmt_empty_format_to_nil")(
        timefmt(finiteTs, fmt))(
        when(finiteTs.isNotNull && octet_length(fmt) === 0, lit(""))
          .otherwise(timefmt(finiteTs, fmt))), Str)
    case "parsetime" =>
      val fmt = if (args.size > 1) asStr(args(1)) else lit("%FT%TZ")
      val s = asStr(args.head)
      // pre-1.2.1 `parsetime_format_mismatch_to_nil`: a failed strptime
      // fed the zeroed tm to mktime anyway → the constant -2209075200
      // (Dec 31 1899 UTC); Nil operands still propagate as Nil
      TypedCol(fix(1, 2, 1, "parsetime_format_mismatch_to_nil")(
        parsetime(s, fmt))(
        when(s.isNull || fmt.isNull, lit(null).cast(DoubleType))
          .otherwise(coalesce(parsetime(s, fmt), lit(-2209075200.0)))), Num)

    case other => throw new ExprParseException(s"Function $other is unknown")
  }

  /** Timestamp guard (value.cc TIME_FUNCTION): non-finite → Nil always
    * (UB hardening in the reference; keeps ANSI mode from throwing on
    * cast(NaN AS BIGINT)); negative → Nil under the 1.2.1
    * `date_fn_negative_ts_to_nil` fix, computed pre-1.2.1. */
  private def validTs(t: TypedCol): Column = {
    val d = numArg(t)
    val bad = d.isNull || isnan(d) || d === posInf || d === negInf
    val cond = fix(1, 2, 1, "date_fn_negative_ts_to_nil")(bad || d < 0)(bad)
    when(cond, lit(null).cast(DoubleType)).otherwise(d)
  }

  /** gmtime field extraction: integer unix seconds, UTC session TZ. */
  private def timeField(t: TypedCol, f: Column => Column): Column =
    f(timestamp_seconds(validTs(t).cast(LongType))).cast(DoubleType)

  /** Fixed-period rounding (value.cc RoundToPeriod:800-815):
    * floor(ts / period) · period on the DOUBLE — guards first. */
  private def roundToPeriod(t: TypedCol, period: Double): Column = {
    val d = validTs(t)
    floor(d / lit(period)) * lit(period)
  }

  /**
   * FuncSubstr (value.cc:534-566): negative offset counts from the end;
   * out-of-range offset or length 0 → ""; negative length keeps
   * (size − offset) + length bytes (so −1 drops the last byte).
   */
  private def substrValkey(s0: TypedCol, off0: TypedCol, len0: TypedCol): Column = {
    val s = asStr(s0)
    // BYTE-based like the reference (std::string::substr over UTF-8
    // bytes): slice the binary form, then reinterpret as string — a
    // multibyte codepoint CAN be split, matching value.cc exactly.
    val b = s.cast(org.apache.spark.sql.types.BinaryType)
    val size = octet_length(s)
    val offRaw = asNum(off0).cast(LongType)
    val lenArg = asNum(len0).cast(LongType)
    val off = when(offRaw >= 0, offRaw).otherwise(offRaw + size)
    val tailLen = (size - off) + lenArg
    def slice(len: Column) =
      substring(b, (off + 1).cast(IntegerType), len.cast(IntegerType))
        .cast(org.apache.spark.sql.types.StringType)
    when(s.isNull || offRaw.isNull || lenArg.isNull, lit(null).cast(org.apache.spark.sql.types.StringType))
      .when(off > size || off < 0 || lenArg === 0, lit(""))
      .when(lenArg >= 0, slice(lenArg))
      .when(tailLen < 0, lit(""))
      .otherwise(slice(tailLen))
  }

  private val AsciiLowerChars = "abcdefghijklmnopqrstuvwxyz"
  private val AsciiUpperChars = "ABCDEFGHIJKLMNOPQRSTUVWXYZ"
}
