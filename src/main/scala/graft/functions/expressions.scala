package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/**
 * Distance between two FLOAT32 vectors — the hot inner loop of KNN
 * (reference metrics: L2 squared / inner-product / cosine,
 * src/indexes/vector_base.cc:60-75 via hnswlib spaces; cosine vectors are
 * unit-normalized at ingest, vector_base.cc:113-133).
 *
 * Accumulates in double for numeric parity with a double-precision
 * oracle. Codegen emits a tight primitive loop inside whole-stage
 * codegen — no boxing, no UDF call overhead.
 *
 * Metrics: "L2" → Σ(a-b)² (squared, as hnswlib), "IP" → 1 − a·b,
 * "COSINE" → 1 − a·b/(|a||b|).
 */
case class VectorDistance(left: Expression, right: Expression, metric: String)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = s"vector_distance_$metric"

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val n = math.min(a.numElements(), b.numElements())
    metric match {
      case "L2" =>
        var acc = 0.0; var i = 0
        while (i < n) { val d = a.getFloat(i).toDouble - b.getFloat(i); acc += d * d; i += 1 }
        acc
      case "IP" =>
        var acc = 0.0; var i = 0
        while (i < n) { acc += a.getFloat(i).toDouble * b.getFloat(i); i += 1 }
        1.0 - acc
      case "COSINE" =>
        var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
        while (i < n) {
          val x = a.getFloat(i).toDouble; val y = b.getFloat(i).toDouble
          dot += x * y; na += x * x; nb += y * y; i += 1
        }
        val denom = math.sqrt(na) * math.sqrt(nb)
        if (denom == 0.0) 1.0 else 1.0 - dot / denom
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      metric match {
        case "L2" =>
          val acc = ctx.freshName("acc"); val d = ctx.freshName("d")
          s"""
             |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
             |double $acc = 0.0;
             |for (int $i = 0; $i < $n; $i++) {
             |  double $d = (double) $a.getFloat($i) - (double) $b.getFloat($i);
             |  $acc += $d * $d;
             |}
             |${ev.value} = $acc;
           """.stripMargin
        case "IP" =>
          val acc = ctx.freshName("acc")
          s"""
             |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
             |double $acc = 0.0;
             |for (int $i = 0; $i < $n; $i++) {
             |  $acc += (double) $a.getFloat($i) * (double) $b.getFloat($i);
             |}
             |${ev.value} = 1.0 - $acc;
           """.stripMargin
        case "COSINE" =>
          val dot = ctx.freshName("dot"); val na = ctx.freshName("na")
          val nb = ctx.freshName("nb"); val den = ctx.freshName("den")
          val x = ctx.freshName("x"); val y = ctx.freshName("y")
          s"""
             |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
             |double $dot = 0.0; double $na = 0.0; double $nb = 0.0;
             |for (int $i = 0; $i < $n; $i++) {
             |  double $x = (double) $a.getFloat($i);
             |  double $y = (double) $b.getFloat($i);
             |  $dot += $x * $y; $na += $x * $x; $nb += $y * $y;
             |}
             |double $den = java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb);
             |${ev.value} = ($den == 0.0) ? 1.0 : 1.0 - $dot / $den;
           """.stripMargin
      }
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression) =
    copy(left = l, right = r)
}

/**
 * Occurrence count of `needle` in `haystack` — the expression language's
 * `contains(s1, s2)` returns a COUNT, not a boolean (reference:
 * src/expr/expr.cc FuncContains; empty needle → len+1; non-overlapping
 * scan advancing by needle length).
 */
case class ContainsCount(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "contains_count"

  override def nullSafeEval(l: Any, r: Any): Any = {
    val hay = l.asInstanceOf[UTF8String].toString
    val needle = r.asInstanceOf[UTF8String].toString
    if (needle.isEmpty) (hay.getBytes("UTF-8").length + 1).toDouble
    else {
      var count = 0; var pos = hay.indexOf(needle)
      while (pos >= 0) { count += 1; pos = hay.indexOf(needle, pos + needle.length) }
      count.toDouble
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (hay, needle) => {
      val cls = classOf[ContainsCount].getName
      s"${ev.value} = $cls.count($hay.toString(), $needle.toString());"
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression) =
    copy(left = l, right = r)
}

object ContainsCount {
  // Called from generated code.
  def count(hay: String, needle: String): Double = {
    if (needle.isEmpty) return (hay.getBytes("UTF-8").length + 1).toDouble
    var count = 0; var pos = hay.indexOf(needle)
    while (pos >= 0) { count += 1; pos = hay.indexOf(needle, pos + needle.length) }
    count.toDouble
  }
}

/**
 * Whole-stage-codegen via ONE compiled call per row into the
 * expression's own JVM eval: `CodegenFallback` would instead force
 * every enclosing operator out of whole-stage codegen (the round-10
 * TagsOf regression mechanism — an interpreted Filter/Project island
 * plus per-row eval plumbing). These traits generate
 * `ev.value = ((Boxed) ref.genEval(v)).unbox()` — for expressions
 * whose per-row work (hashing a document, scanning a codebook) dwarfs
 * one virtual call and, for primitive results, one box.
 * Expressions that can return null from a non-null input must NOT use
 * these (they assume non-null results); see StrfTime/ParseTime.
 */
private[functions] trait UnaryRefEval extends UnaryExpression {
  /** Called from generated code. */
  def genEval(v: AnyRef): AnyRef = nullSafeEval(v).asInstanceOf[AnyRef]
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.{boxedType, javaType}
    val ref = ctx.addReferenceObj("refExpr", this, getClass.getName)
    val (jt, bt) = (javaType(dataType), boxedType(dataType))
    val unbox = if (jt != bt) s".${jt}Value()" else ""
    nullSafeCodeGen(ctx, ev, v => s"${ev.value} = (($bt) $ref.genEval($v))$unbox;")
  }
}

private[functions] trait BinaryRefEval extends BinaryExpression {
  /** Called from generated code. */
  def genEval(l: AnyRef, r: AnyRef): AnyRef = nullSafeEval(l, r).asInstanceOf[AnyRef]
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.{boxedType, javaType}
    val ref = ctx.addReferenceObj("refExpr", this, getClass.getName)
    val (jt, bt) = (javaType(dataType), boxedType(dataType))
    val unbox = if (jt != bt) s".${jt}Value()" else ""
    nullSafeCodeGen(ctx, ev,
      (l, r) => s"${ev.value} = (($bt) $ref.genEval($l, $r))$unbox;")
  }
}

/**
 * Damerau-Levenshtein (optimal string alignment) edit distance, for the
 * fuzzy text operator `%word%` (reference: src/indexes/text/fuzzy.h:24,
 * predicate.h:315-345). Early-exits on length-difference > max.
 */
case class DamerauLevenshtein(left: Expression, right: Expression)
    extends BinaryExpression with BinaryRefEval {

  override def dataType: DataType = IntegerType
  override def prettyName: String = "damerau_levenshtein"

  override def nullSafeEval(l: Any, r: Any): Any =
    DamerauLevenshtein.distance(l.toString, r.toString)

  override protected def withNewChildrenInternal(l: Expression, r: Expression) =
    copy(left = l, right = r)
}

object DamerauLevenshtein {
  /** Optimal-string-alignment variant (single transposition step). */
  def distance(a: String, b: String): Int = {
    val n = a.length; val m = b.length
    if (n == 0) return m
    if (m == 0) return n
    val d = Array.ofDim[Int](n + 1, m + 1)
    var i = 0
    while (i <= n) { d(i)(0) = i; i += 1 }
    var j = 0
    while (j <= m) { d(0)(j) = j; j += 1 }
    i = 1
    while (i <= n) {
      j = 1
      while (j <= m) {
        val cost = if (a.charAt(i - 1) == b.charAt(j - 1)) 0 else 1
        var v = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1), d(i - 1)(j - 1) + cost)
        if (i > 1 && j > 1 && a.charAt(i - 1) == b.charAt(j - 2) &&
            a.charAt(i - 2) == b.charAt(j - 1))
          v = math.min(v, d(i - 2)(j - 2) + cost)
        d(i)(j) = v
        j += 1
      }
      i += 1
    }
    d(n)(m)
  }
}

/**
 * `timefmt(ts, fmt)` — strftime over UTC unix seconds (reference:
 * src/expr/expr.cc:211-222, gmtime-based). Supports the common strftime
 * directives; unknown directives pass through literally.
 */
case class StrfTime(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = StringType
  // NaN/Inf timestamps format to null even from non-null inputs
  override def nullable: Boolean = true
  override def prettyName: String = "timefmt"

  override def nullSafeEval(l: Any, r: Any): Any = {
    val ts = l.asInstanceOf[Double]
    if (ts.isNaN || ts.isInfinite) return null
    // empty format → Nil (value.cc FuncTimefmt:710-717, the 1.2.1
    // timefmt_empty_format_to_nil fix; golden expr corpus pins it)
    if (r.toString.isEmpty) return null
    UTF8String.fromString(StrfTime.format(ts.toLong, r.toString))
  }

  /** Called from generated code; null on NaN/Inf or empty format. */
  def genEval(ts: Double, fmt: UTF8String): UTF8String =
    if (ts.isNaN || ts.isInfinite || fmt.numBytes() == 0) null
    else UTF8String.fromString(StrfTime.format(ts.toLong, fmt.toString))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("strfExpr", this, classOf[StrfTime].getName)
    nullSafeCodeGen(ctx, ev, (l, r) =>
      s"""
         |${ev.value} = $ref.genEval($l, $r);
         |${ev.isNull} = ${ev.value} == null;
       """.stripMargin)
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression) =
    copy(left = l, right = r)
}

object StrfTime {
  import java.time.{Instant, ZoneOffset}
  import java.time.temporal.ChronoField

  def format(epochSec: Long, fmt: String): String = {
    val t = Instant.ofEpochSecond(epochSec).atZone(ZoneOffset.UTC)
    val sb = new StringBuilder
    var i = 0
    while (i < fmt.length) {
      val c = fmt.charAt(i)
      if (c == '%' && i + 1 < fmt.length) {
        i += 1
        fmt.charAt(i) match {
          case 'Y' => sb.append(f"${t.getYear}%04d")
          case 'm' => sb.append(f"${t.getMonthValue}%02d")
          case 'd' => sb.append(f"${t.getDayOfMonth}%02d")
          case 'H' => sb.append(f"${t.getHour}%02d")
          case 'M' => sb.append(f"${t.getMinute}%02d")
          case 'S' => sb.append(f"${t.getSecond}%02d")
          case 'y' => sb.append(f"${t.getYear % 100}%02d")
          case 'j' => sb.append(f"${t.getDayOfYear}%03d")
          case 'e' => sb.append(f"${t.getDayOfMonth}%2d")
          case 'u' => sb.append(t.getDayOfWeek.getValue.toString) // 1-7 Mon-Sun
          case 'w' => sb.append((t.getDayOfWeek.getValue % 7).toString) // 0-6 Sun-Sat
          case 'a' => sb.append(t.getDayOfWeek.getDisplayName(
            java.time.format.TextStyle.SHORT, java.util.Locale.US))
          case 'b' => sb.append(t.getMonth.getDisplayName(
            java.time.format.TextStyle.SHORT, java.util.Locale.US))
          case 'T' => sb.append(f"${t.getHour}%02d:${t.getMinute}%02d:${t.getSecond}%02d")
          case 'F' => sb.append(f"${t.getYear}%04d-${t.getMonthValue}%02d-${t.getDayOfMonth}%02d")
          case 's' => sb.append(epochSec.toString)
          case '%' => sb.append('%')
          case other => sb.append('%').append(other)
        }
        i += 1
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  /** strptime counterpart for `parsetime`. */
  def parse(s: String, fmt0: String): Option[Long] = {
    // Composite specifiers expand first (C strptime: %F = %Y-%m-%d,
    // %T = %H:%M:%S), then the simple subset translates to a regex.
    val fmt = fmt0.replace("%F", "%Y-%m-%d").replace("%T", "%H:%M:%S")
    val fields = scala.collection.mutable.Map.empty[Char, Int]
    val rx = new StringBuilder
    val order = scala.collection.mutable.ArrayBuffer.empty[Char]
    var i = 0
    while (i < fmt.length) {
      val c = fmt.charAt(i)
      if (c == '%' && i + 1 < fmt.length) {
        i += 1
        val d = fmt.charAt(i)
        d match {
          case 'Y' => rx.append("(\\d{1,4})"); order += 'Y'
          case 'm' => rx.append("(\\d{1,2})"); order += 'm'
          case 'd' => rx.append("(\\d{1,2})"); order += 'd'
          case 'H' => rx.append("(\\d{1,2})"); order += 'H'
          case 'M' => rx.append("(\\d{1,2})"); order += 'M'
          case 'S' => rx.append("(\\d{1,2})"); order += 'S'
          case '%' => rx.append("%")
          case o => rx.append(java.util.regex.Pattern.quote(o.toString))
        }
        i += 1
      } else { rx.append(java.util.regex.Pattern.quote(c.toString)); i += 1 }
    }
    // strptime PREFIX-matches: trailing input bytes are fine (it
    // returns a pointer past the consumed prefix) — lookingAt, not
    // matches (golden expr corpus: parsetime("hello","hell") succeeds)
    val m = java.util.regex.Pattern.compile(rx.toString).matcher(s)
    if (!m.lookingAt()) return None
    order.zipWithIndex.foreach { case (f, idx) => fields(f) = m.group(idx + 1).toInt }
    try {
      // C semantics (value.cc FuncParsetime:736-763): the tm starts
      // ZEROED — tm_year=0 (1900), tm_mon=0 (January), tm_mday=0, which
      // mktime rolls back one day to Dec 31 1899 (-2209075200, the
      // value the golden corpus pins for every field-free parse). A
      // parsed %d supplies mday ≥ 1 and no rollback happens.
      val mday = fields.getOrElse('d', 0)
      val dt0 = java.time.LocalDateTime.of(
        fields.getOrElse('Y', 1900), fields.getOrElse('m', 1),
        math.max(mday, 1), fields.getOrElse('H', 0),
        fields.getOrElse('M', 0), fields.getOrElse('S', 0))
      val dt = if (mday == 0) dt0.minusDays(1) else dt0
      Some(dt.toEpochSecond(ZoneOffset.UTC))
    } catch { case _: Exception => None }
  }
}

/** `parsetime(str, fmt)` → unix seconds as double; Nil on parse failure. */
case class ParseTime(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "parsetime"
  override def nullSafeEval(l: Any, r: Any): Any =
    StrfTime.parse(l.toString, r.toString).map(_.toDouble).orNull

  /** Called from generated code; null on parse failure. */
  def genEval(s: UTF8String, fmt: UTF8String): java.lang.Double =
    StrfTime.parse(s.toString, fmt.toString)
      .map(v => java.lang.Double.valueOf(v.toDouble)).orNull

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("parseTimeExpr", this, classOf[ParseTime].getName)
    nullSafeCodeGen(ctx, ev, (l, r) => {
      val tmp = ctx.freshName("parsed")
      s"""
         |java.lang.Double $tmp = $ref.genEval($l, $r);
         |if ($tmp == null) { ${ev.isNull} = true; }
         |else { ${ev.value} = $tmp.doubleValue(); }
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression) =
    copy(left = l, right = r)
}

/**
 * C `snprintf("%.11g")` double formatting — how the reference renders a
 * numeric Value as a string (src/expr/value.cc:88-100 FormatDouble):
 * NaN → "nan"/"-nan", infinities → "inf"/"-inf", trailing zeros
 * trimmed (Java's %g keeps them, so we post-process).
 */
case class FormatG(child: Expression)
    extends UnaryExpression {

  override def dataType: DataType = StringType
  override def prettyName: String = "format_g"

  override def nullSafeEval(d: Any): Any =
    UTF8String.fromString(FormatG.format(d.asInstanceOf[Double]))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, d => {
      val cls = FormatG.getClass.getName.stripSuffix("$") + "$.MODULE$"
      s"${ev.value} = org.apache.spark.unsafe.types.UTF8String.fromString($cls.format($d));"
    })

  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

object FormatG {
  /** Called from generated code. */
  def format(d: Double): String = {
    if (java.lang.Double.isNaN(d)) {
      if ((java.lang.Double.doubleToRawLongBits(d) & Long.MinValue) != 0L) "-nan" else "nan"
    } else if (d == Double.PositiveInfinity) "inf"
    else if (d == Double.NegativeInfinity) "-inf"
    else {
      val s = String.format(java.util.Locale.ROOT, "%.11g", java.lang.Double.valueOf(d))
      val eIdx = s.indexWhere(c => c == 'e' || c == 'E')
      if (eIdx >= 0) {
        var mant = s.substring(0, eIdx)
        if (mant.contains('.')) mant = mant.replaceAll("0+$", "").stripSuffix(".")
        mant + s.substring(eIdx)
      } else if (s.contains('.')) s.replaceAll("0+$", "").stripSuffix(".")
      else s
    }
  }
}

/**
 * NUMERIC-field ingest conversion with the NaN invalid sentinel: NULL
 * in → NULL (field missing); parseable number → its double (grammar =
 * Spark's string→double cast: java Double.parseDouble, falling back to
 * the trimmed case-insensitive inf/infinity/nan literal table); junk →
 * NaN. NaN doubles as the reference's invalid-data marker
 * (numeric_index_test.cc:93-95 rejects nan) — the whole-key drop
 * removes every NaN row from the serving relation, so downstream
 * predicates never see the sentinel.
 *
 * Exists so the validity filter costs ONE evaluation of the source
 * expression: deriving "present but unparsable" from (src, try_cast)
 * pairs re-evaluates the source inside a Filter, where whole-stage
 * codegen has no subexpression elimination — measured 2× on a
 * JSONPath-extraction scan (q_json_field, r13→r14 adjudication).
 */
case class TryDoubleOrNan(child: Expression)
    extends UnaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "try_double_or_nan"

  override def nullSafeEval(s: Any): Any =
    TryDoubleOrNan.parse(s.asInstanceOf[UTF8String].toString)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, s => {
      val cls = TryDoubleOrNan.getClass.getName.stripSuffix("$") + "$.MODULE$"
      s"${ev.value} = $cls.parse($s.toString());"
    })

  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

object TryDoubleOrNan {
  /** Called from generated code. Never returns null — NaN marks junk. */
  def parse(s: String): Double =
    try java.lang.Double.parseDouble(s)
    catch {
      case _: NumberFormatException =>
        // Spark Cast.processFloatingPointSpecialLiterals table
        s.trim.toLowerCase(java.util.Locale.ROOT) match {
          case "inf" | "+inf" | "infinity" | "+infinity" => Double.PositiveInfinity
          case "-inf" | "-infinity" => Double.NegativeInfinity
          case _ => Double.NaN // incl. "nan": invalid data either way
        }
    }
}

/**
 * MinHash signature over an array<string> of shingles: for hash i,
 * min over shingles of (a_i·h(s) + b_i) mod p, p = 2³¹−1, h = FNV-1a 64
 * of the UTF-8 bytes. One tight JVM loop per row — the higher-order-
 * function formulation interprets a lambda per (shingle × hash) pair,
 * ~10× slower at 128 hashes.
 */
case class MinHashSig(child: Expression, a: Array[Long], b: Array[Long])
    extends UnaryExpression with UnaryRefEval {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "minhash_sig"

  // array<long> input = pre-hashed shingles ([[HashedShingles]]): skip
  // the per-element string hash, signatures are identical by construction.
  private lazy val preHashed = child.dataType match {
    case ArrayType(LongType, _) => true
    case _ => false
  }

  override def nullSafeEval(v: Any): Any = {
    val arr = v.asInstanceOf[ArrayData]
    val n = a.length
    val sig = Array.fill(n)(MinHashSig.P)
    var s = 0
    val cnt = arr.numElements()
    while (s < cnt) {
      val raw =
        if (preHashed) arr.getLong(s)
        else MinHashSig.fnv1a64(arr.getUTF8String(s).getBytes)
      val h = raw % MinHashSig.P
      val hp = if (h < 0) h + MinHashSig.P else h
      var i = 0
      while (i < n) {
        val v2 = (a(i) * hp + b(i)) % MinHashSig.P
        if (v2 < sig(i)) sig(i) = v2
        i += 1
      }
      s += 1
    }
    org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(sig)
  }

  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

/**
 * LSH band keys of a MinHash signature in ONE row-local JVM loop:
 * array<long> → array<struct<band:int, bh:long>>, one element per band
 * j, with bh = xxhash64(j, concat_ws(",", slice(sig, j·r + 1, r))) —
 * bit-identical to that Column formula (Spark's seed 42: the hash of
 * int j seeds the hash of the comma-joined decimal digits). The
 * Column form unrolls `bands` cast/join/hash branches (~300 KB of
 * generated Java at 32 bands). `concat_ws` skips nulls, so a null
 * signature hashes every band over the empty string and null elements
 * are skipped; the result is never null.
 */
case class BandKeys(child: Expression, bands: Int, rowsPerBand: Int)
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"band_keys needs array<bigint>, got ${t.simpleString}")
  }
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("band", IntegerType, nullable = false),
    StructField("bh", LongType, nullable = false))), containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "band_keys"

  override def eval(input: InternalRow): Any =
    keys(child.eval(input).asInstanceOf[ArrayData])

  /** Called from generated code; `sig` may be null. */
  def keys(sig: ArrayData): ArrayData = {
    val n = if (sig == null) 0 else sig.numElements()
    val joined = new java.lang.StringBuilder
    val out = new Array[Any](bands)
    var j = 0
    while (j < bands) {
      joined.setLength(0)
      var i = j * rowsPerBand
      val end = math.min(n, i + rowsPerBand)
      while (i < end) {
        if (!sig.isNullAt(i)) {
          if (joined.length > 0) joined.append(',')
          joined.append(sig.getLong(i))
        }
        i += 1
      }
      val bytes = joined.toString.getBytes(java.nio.charset.StandardCharsets.US_ASCII)
      out(j) = InternalRow(j, XXH64.hashUnsafeBytes(bytes,
        org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET, bytes.length, XXH64.hashInt(j, 42L)))
      j += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    val ref = ctx.addReferenceObj("bandKeysExpr", this, classOf[BandKeys].getName)
    val c = child.genCode(ctx)
    ev.copy(code = code"""
      |${c.code}
      |ArrayData ${ev.value} = $ref.keys(${c.isNull} ? null : ${c.value});
      """.stripMargin, isNull = org.apache.spark.sql.catalyst.expressions.codegen.FalseLiteral)
  }

  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

/**
 * Word n-gram shingling + 64-bit hashing in ONE row-local JVM loop:
 * array<string> of words → sorted-distinct array<long> where each
 * element is FNV-1a 64 of the space-joined n-gram — bit-identical to
 * hashing the [[graft.pipeline.Dedup.shingles]] strings, without ever
 * materializing them. Cuts the dedup pipelines' cache/shuffle bytes
 * (8 B per shingle vs the full n-gram string) and skips the
 * concat/slice/distinct string work that dominated profile time.
 * Sorting makes the output order deterministic; set semantics
 * (MinHash, array_intersect) are order-insensitive.
 */
case class HashedShingles(child: Expression, n: Int)
    extends UnaryExpression with UnaryRefEval {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "hashed_shingles"

  override def nullSafeEval(v: Any): Any = {
    val arr = v.asInstanceOf[ArrayData]
    val cnt = arr.numElements()
    if (cnt < n)
      return org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(Array.empty[Long])
    val words = new Array[Array[Byte]](cnt)
    var i = 0
    while (i < cnt) { words(i) = arr.getUTF8String(i).getBytes; i += 1 }
    val m = cnt - n + 1
    val hashes = new Array[Long](m)
    i = 0
    while (i < m) {
      var h = 0xcbf29ce484222325L
      var j = 0
      while (j < n) {
        if (j > 0) { h ^= ' '.toLong & 0xffL; h *= 0x100000001b3L }
        val w = words(i + j)
        var k = 0
        while (k < w.length) { h ^= w(k) & 0xffL; h *= 0x100000001b3L; k += 1 }
        j += 1
      }
      hashes(i) = h
      i += 1
    }
    java.util.Arrays.sort(hashes)
    var out = 0
    i = 0
    while (i < m) { // in-place dedup of the sorted hashes
      if (i == 0 || hashes(i) != hashes(i - 1)) { hashes(out) = hashes(i); out += 1 }
      i += 1
    }
    org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(
      java.util.Arrays.copyOf(hashes, out))
  }

  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

/**
 * Distinct space-joined word n-grams in ONE row-local JVM loop:
 * array<string> of words (empties skipped) → array<string> of the
 * first-occurrence-ordered distinct n-grams — the string-typed sibling
 * of [[HashedShingles]] for consumers that must keep the n-gram TEXT
 * (decontamination joins an oracle-checkable string set). Replaces the
 * `filter` + `transform(sequence)` + `array_join(slice)` +
 * `array_distinct` HOF chain, which interprets a lambda per (position
 * × row) and rebuilds intermediate arrays at every step.
 */
case class WordNgrams(child: Expression, n: Int)
    extends UnaryExpression with UnaryRefEval {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "word_ngrams"

  private val Empty =
    org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(Array.empty[UTF8String])

  override def nullSafeEval(v: Any): Any = {
    val arr = v.asInstanceOf[ArrayData]
    val cnt = arr.numElements()
    val words = new java.util.ArrayList[UTF8String](cnt)
    var i = 0
    while (i < cnt) {
      val w = arr.getUTF8String(i)
      if (w.numBytes() > 0) words.add(w)
      i += 1
    }
    val m = words.size - n + 1
    if (m <= 0) return Empty
    val seen = new java.util.LinkedHashSet[UTF8String](m * 2)
    val space = UTF8String.fromString(" ")
    val parts = new Array[UTF8String](2 * n - 1)
    var j = 1
    while (j < parts.length) { parts(j) = space; j += 2 } // gram = w0 ' ' w1 ' ' …
    i = 0
    while (i < m) {
      j = 0
      while (j < n) { parts(2 * j) = words.get(i + j); j += 1 }
      seen.add(UTF8String.concat(parts: _*))
      i += 1
    }
    org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(
      seen.toArray(new Array[UTF8String](seen.size)))
  }

  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

/**
 * DSIR hashed-n-gram buckets in ONE row-local JVM loop: array<string>
 * of words (empties skipped) → array<int> holding every unigram's
 * bucket, then every adjacent `a + " " + b` bigram's, where a gram's
 * bucket is its first 4 md5 bytes (unsigned, big-endian) mod
 * `nBuckets` — the value of `pmod(conv(substring(md5(g), 1, 8), 16,
 * 10), nBuckets)`, so the DuckDB oracle reproduces it bit-for-bit.
 * Replaces a `filter` + `zip_with` + `transform` HOF chain that ran
 * interpreted lambdas and a hex/decimal string round trip per gram.
 */
case class DsirBuckets(child: Expression, nBuckets: Int)
    extends UnaryExpression with UnaryRefEval {
  require(nBuckets > 0, s"nBuckets must be > 0, got $nBuckets")

  // containsNull: the type dsirBuckets has always declared (pmod is nullable)
  override def dataType: DataType = ArrayType(IntegerType, containsNull = true)
  override def prettyName: String = "dsir_buckets"

  override def nullSafeEval(v: Any): Any = {
    val arr = v.asInstanceOf[ArrayData]
    val cnt = arr.numElements()
    val words = new java.util.ArrayList[Array[Byte]](cnt)
    var i = 0
    while (i < cnt) {
      val w = arr.getUTF8String(i)
      if (w.numBytes() > 0) words.add(w.getBytes)
      i += 1
    }
    val m = words.size
    val out = new Array[Int](if (m == 0) 0 else 2 * m - 1)
    val md = java.security.MessageDigest.getInstance("MD5")
    i = 0
    while (i < out.length) {
      if (i < m) md.update(words.get(i))
      else {
        md.update(words.get(i - m))
        md.update(' '.toByte)
        md.update(words.get(i - m + 1))
      }
      val d = md.digest()
      val h = ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
        ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
      out(i) = (h % nBuckets).toInt
      i += 1
    }
    org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(out)
  }

  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

/**
 * Int8 scalar quantization of a float32 vector: symmetric per-vector
 * scale (maxAbs/127), codes = round(v/scale) in [-127, 127]. Output
 * struct `(scale float, code array<byte>)` — 4× smaller than the
 * float32 column (the standard first compression step for an
 * embedding corpus; at 100 TB of vectors that is 75 TB less IO).
 * All-zero and empty vectors encode with scale 0 (codes all 0).
 */
case class SqEncode(child: Expression)
    extends UnaryExpression with UnaryRefEval {

  override def dataType: DataType = StructType(Seq(
    StructField("scale", FloatType, nullable = false),
    StructField("code", ArrayType(ByteType, containsNull = false), nullable = false)))
  override def prettyName: String = "sq_encode"

  override def nullSafeEval(v: Any): Any = {
    val a = v.asInstanceOf[ArrayData]
    val n = a.numElements()
    var maxAbs = 0f
    var i = 0
    while (i < n) { val x = math.abs(a.getFloat(i)); if (x > maxAbs) maxAbs = x; i += 1 }
    val scale = if (maxAbs == 0f) 0f else maxAbs / 127f
    val code = new Array[Byte](n)
    if (scale != 0f) {
      i = 0
      while (i < n) {
        code(i) = math.max(-127, math.min(127,
          math.round(a.getFloat(i) / scale))).toByte
        i += 1
      }
    }
    org.apache.spark.sql.catalyst.InternalRow(scale,
      org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(code))
  }

  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

/**
 * Asymmetric distance between a FLOAT32 query and an int8-quantized
 * base vector (`sq_encode` struct): the base reconstructs as
 * scale·code inside the loop — no dequantized array is ever
 * materialized. Metrics: L2 (squared) and IP (1 − dot); cosine
 * corpora should normalize at ingest and use IP, exactly like the
 * engine's vector fields. Codegen'd: this is the hot scan loop of the
 * quantized first stage, same treatment as [[VectorDistance]].
 */
case class SqDistance(left: Expression, right: Expression, metric: String)
    extends BinaryExpression {
  require(metric == "L2" || metric == "IP", s"SQ metric L2|IP, got $metric")

  override def dataType: DataType = DoubleType
  override def prettyName: String = s"sq_distance_$metric"

  override def nullSafeEval(l: Any, r: Any): Any = {
    val s = l.asInstanceOf[InternalRow] // sq struct
    val q = r.asInstanceOf[ArrayData]
    val scale = s.getFloat(0).toDouble
    val code = s.getArray(1)
    val n = math.min(code.numElements(), q.numElements())
    if (metric == "L2") {
      var acc = 0.0; var i = 0
      while (i < n) { val d = q.getFloat(i).toDouble - scale * code.getByte(i); acc += d * d; i += 1 }
      acc
    } else {
      var acc = 0.0; var i = 0
      while (i < n) { acc += q.getFloat(i).toDouble * (scale * code.getByte(i)); i += 1 }
      1.0 - acc
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (s, q) => {
      val i = ctx.freshName("i"); val n = ctx.freshName("n")
      val sc = ctx.freshName("sc"); val code = ctx.freshName("code")
      val acc = ctx.freshName("acc")
      val body = if (metric == "L2") {
        val d = ctx.freshName("d")
        s"""|  double $d = (double) $q.getFloat($i) - $sc * $code.getByte($i);
            |  $acc += $d * $d;""".stripMargin
      } else
        s"  $acc += (double) $q.getFloat($i) * ($sc * $code.getByte($i));"
      s"""
         |double $sc = (double) $s.getFloat(0);
         |ArrayData $code = $s.getArray(1);
         |int $n = java.lang.Math.min($code.numElements(), $q.numElements());
         |double $acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |$body
         |}
         |${ev.value} = ${if (metric == "L2") acc else s"1.0 - $acc"};
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression) =
    copy(left = l, right = r)
}

/**
 * Product-quantization encode: each of the `m` subvectors maps to the
 * index of its nearest codebook centroid (squared L2, ties to the
 * lower index — the same argmin rule as [[NearestCentroid]]). Output
 * is `array<byte>` of length m — at dim 64 / m 8 that is 8 bytes per
 * vector vs 256 for float32: the 32× compression PQ exists for
 * (Jégou/Douze/Schmid, TPAMI'11). Codebooks ride the expression as a
 * literal table (≤ 256 × dsub floats per subspace — a few hundred KB
 * at most, like [[NearestCentroid]]'s centroids). Codes are stored as
 * SIGNED bytes; readers mask with 0xFF (codebook sizes go to 256).
 * Vectors shorter than m·dsub fail loudly — a silent truncation would
 * quantize garbage.
 */
case class PqEncode(child: Expression, books: Array[Array[Array[Float]]])
    extends UnaryExpression with UnaryRefEval {
  require(books.nonEmpty && books.forall(_.nonEmpty), "empty PQ codebook")

  private val m = books.length
  private val dsub = books(0)(0).length

  override def dataType: DataType =
    ArrayType(ByteType, containsNull = false)
  override def prettyName: String = "pq_encode"

  private lazy val isFloat = child.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  override def nullSafeEval(v: Any): Any = {
    val arr = v.asInstanceOf[ArrayData]
    val n = arr.numElements()
    if (n < m * dsub)
      throw new IllegalArgumentException(
        s"pq_encode: vector dim $n < m*dsub = ${m * dsub}")
    val codes = new Array[Byte](m)
    var j = 0
    while (j < m) {
      val off = j * dsub
      val book = books(j)
      var best = 0
      var bestD = Double.MaxValue
      var c = 0
      while (c < book.length) {
        val cent = book(c)
        var d = 0.0
        var i = 0
        while (i < dsub) {
          val x = if (isFloat) arr.getFloat(off + i).toDouble
                  else arr.getDouble(off + i)
          val t = x - cent(i)
          d += t * t
          i += 1
        }
        if (d < bestD) { bestD = d; best = c }
        c += 1
      }
      codes(j) = best.toByte
      j += 1
    }
    org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(codes)
  }

  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

/**
 * PQ asymmetric distance (ADC): the per-query lookup tables are
 * precomputed ONCE on the driver (lut[off(j) + c] = the metric
 * contribution of subspace j's centroid c against the query's j-th
 * subvector), so the corpus-wide scan does m table lookups + adds per
 * row — no multiplies, no float vector read. `addConst` carries the
 * metric's affine constant (0 for L2, 1 for IP's `1 − Σ dot`).
 * Codegen'd: this is the hot first-stage scan loop of [[topKPq]],
 * same treatment as [[SqDistance]]; the LUT rides the generated code
 * as a referenced object.
 */
case class PqAdc(child: Expression, lut: Array[Float],
                 offsets: Array[Int], addConst: Double)
    extends UnaryExpression {
  require(offsets.nonEmpty, "empty PQ offsets")

  override def dataType: DataType = DoubleType
  override def prettyName: String = "pq_adc"

  override def nullSafeEval(v: Any): Any = {
    val codes = v.asInstanceOf[ArrayData]
    val m = math.min(codes.numElements(), offsets.length)
    var acc = addConst
    var j = 0
    while (j < m) {
      acc += lut(offsets(j) + (codes.getByte(j) & 0xFF))
      j += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val lutRef = ctx.addReferenceObj("pqLut", lut, "float[]")
    val offRef = ctx.addReferenceObj("pqOffsets", offsets, "int[]")
    nullSafeCodeGen(ctx, ev, codes => {
      val j = ctx.freshName("j"); val mv = ctx.freshName("m")
      val acc = ctx.freshName("acc")
      s"""
         |int $mv = java.lang.Math.min($codes.numElements(), $offRef.length);
         |double $acc = $addConst;
         |for (int $j = 0; $j < $mv; $j++) {
         |  $acc += $lutRef[$offRef[$j] + ($codes.getByte($j) & 0xFF)];
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

/**
 * Gopher-style repetition statistics in one row-local pass: the text
 * splits on '\n', empty lines drop, and the output struct carries
 * `n_lines`, `dup_line_frac` = (lines − distinct lines) / lines, and
 * `dup_char_frac` = characters in beyond-first occurrences of a
 * repeated line over all line characters — the duplicate-line quality
 * signals LLM corpus filters cut on (Gopher §A.1.1 / RefinedWeb-class
 * rules). Zero lines → (0, 0.0, 0.0).
 */
case class RepetitionStats(child: Expression)
    extends UnaryExpression with UnaryRefEval {

  override def dataType: DataType = StructType(Seq(
    StructField("n_lines", IntegerType, nullable = false),
    StructField("dup_line_frac", DoubleType, nullable = false),
    StructField("dup_char_frac", DoubleType, nullable = false)))
  override def prettyName: String = "repetition_stats"

  override def nullSafeEval(v: Any): Any = {
    val parts = v.asInstanceOf[UTF8String].split(UTF8String.fromString("\n"), -1)
    // per-line (occurrences, chars): one hash map, one pass
    val counts = new java.util.HashMap[UTF8String, Array[Long]]()
    var total = 0
    var i = 0
    while (i < parts.length) {
      val line = parts(i)
      if (line.numBytes() > 0) {
        total += 1
        val e = counts.get(line)
        if (e == null) counts.put(line, Array(1L, line.numChars().toLong))
        else e(0) += 1
      }
      i += 1
    }
    if (total == 0)
      return org.apache.spark.sql.catalyst.InternalRow(0, 0.0, 0.0)
    var totChars = 0L
    var dupChars = 0L
    val it = counts.values().iterator()
    while (it.hasNext) {
      val e = it.next()
      totChars += e(0) * e(1)
      dupChars += (e(0) - 1) * e(1)
    }
    org.apache.spark.sql.catalyst.InternalRow(total,
      (total - counts.size).toDouble / total,
      if (totChars == 0) 0.0 else dupChars.toDouble / totChars)
  }

  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

/**
 * Gopher duplicate word-n-gram statistics (Rae et al. 2021, table A1)
 * in one row-local pass — the other half of the repetition family next
 * to [[RepetitionStats]]' line rules:
 *
 *  - `top_{2,3,4}gram_char_frac`: characters covered by occurrences of
 *    the MOST FREQUENT n-gram over all word characters. Coverage marks
 *    word positions (overlapping occurrences never double-count, so
 *    the fraction is bounded by 1). The top gram is chosen by
 *    (count desc, gram length desc, gram asc) — a total order both
 *    engines can reproduce.
 *  - `dup_{5..10}gram_char_frac`: characters covered by ANY n-gram
 *    occurring more than once, over all word characters — the
 *    standard position-marking formulation of Gopher's "fraction of
 *    characters inside duplicate n-grams".
 *
 * Words split on whitespace; fewer than n words → 0.0 for that n;
 * empty text → all zeros. O(Σn × words) per row, map-only at any
 * scale.
 */
case class NgramRepetitionStats(child: Expression)
    extends UnaryExpression with UnaryRefEval {

  import NgramRepetitionStats.{TopNs, DupNs}

  override def dataType: DataType = StructType(
    TopNs.map(n => StructField(s"top_${n}gram_char_frac", DoubleType, nullable = false)) ++
      DupNs.map(n => StructField(s"dup_${n}gram_char_frac", DoubleType, nullable = false)))
  override def prettyName: String = "ngram_repetition_stats"

  override def nullSafeEval(v: Any): Any = {
    val words = v.asInstanceOf[UTF8String].toString
      .split("\\s+").filterNot(_.isEmpty)
    val lens = words.map(_.length)
    var totalChars = 0L
    var i = 0
    while (i < lens.length) { totalChars += lens(i); i += 1 }
    val out = new Array[Any](TopNs.length + DupNs.length)
    var oi = 0
    TopNs.foreach { n =>
      out(oi) = if (totalChars == 0) 0.0 else topFrac(words, lens, totalChars, n)
      oi += 1
    }
    DupNs.foreach { n =>
      out(oi) = if (totalChars == 0) 0.0 else dupFrac(words, lens, totalChars, n)
      oi += 1
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(out)
  }

  private def gramAt(words: Array[String], i: Int, n: Int): String = {
    val sb = new java.lang.StringBuilder(words(i))
    var j = 1
    while (j < n) { sb.append(' ').append(words(i + j)); j += 1 }
    sb.toString
  }

  private def markedFrac(words: Array[String], lens: Array[Int],
                         totalChars: Long, n: Int,
                         covers: String => Boolean): Double = {
    val marked = new Array[Boolean](words.length)
    var i = 0
    while (i + n <= words.length) {
      if (covers(gramAt(words, i, n))) {
        var j = i
        while (j < i + n) { marked(j) = true; j += 1 }
      }
      i += 1
    }
    var chars = 0L
    i = 0
    while (i < words.length) { if (marked(i)) chars += lens(i); i += 1 }
    chars.toDouble / totalChars
  }

  private def counts(words: Array[String], n: Int): java.util.HashMap[String, Array[Int]] = {
    val m = new java.util.HashMap[String, Array[Int]]()
    var i = 0
    while (i + n <= words.length) {
      val g = gramAt(words, i, n)
      val e = m.get(g)
      if (e == null) m.put(g, Array(1)) else e(0) += 1
      i += 1
    }
    m
  }

  private def topFrac(words: Array[String], lens: Array[Int],
                      totalChars: Long, n: Int): Double = {
    if (words.length < n) return 0.0
    val m = counts(words, n)
    var best: String = null
    var bestC = 0
    val it = m.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      val g = e.getKey; val c = e.getValue()(0)
      if (best == null || c > bestC ||
          (c == bestC && (g.length > best.length ||
            (g.length == best.length && g.compareTo(best) < 0)))) {
        best = g; bestC = c
      }
    }
    markedFrac(words, lens, totalChars, n, _ == best)
  }

  private def dupFrac(words: Array[String], lens: Array[Int],
                      totalChars: Long, n: Int): Double = {
    if (words.length < n) return 0.0
    val m = counts(words, n)
    markedFrac(words, lens, totalChars, n, g => m.get(g)(0) >= 2)
  }

  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

object NgramRepetitionStats {
  val TopNs: Seq[Int] = Seq(2, 3, 4)
  val DupNs: Seq[Int] = Seq(5, 6, 7, 8, 9, 10)
  /** The paper's rejection thresholds per measurement (table A1):
    * a document FAILS when a fraction exceeds its threshold. */
  val Thresholds: Map[String, Double] = Map(
    "top_2gram_char_frac" -> 0.20, "top_3gram_char_frac" -> 0.18,
    "top_4gram_char_frac" -> 0.16, "dup_5gram_char_frac" -> 0.15,
    "dup_6gram_char_frac" -> 0.14, "dup_7gram_char_frac" -> 0.13,
    "dup_8gram_char_frac" -> 0.12, "dup_9gram_char_frac" -> 0.11,
    "dup_10gram_char_frac" -> 0.10)
}

/**
 * Winnowing document fingerprint (Schleimer/Wilkerson/Aiken, SIGMOD'03)
 * in ONE row-local pass: xxhash64 of every k-char (code-point) gram —
 * the same `xxhash64('fp', substr(text, i, k))` chain the HOF
 * formulation computed — then the minimum of each w-gram window via a
 * monotonic deque (O(chars) total), distinct + sorted ascending.
 * Replaces a `transform(sequence)` formulation that textually inlined
 * the grams array into the window lambda, re-evaluating ALL gram
 * hashes for every window position: O(chars × w) interpreted lambda
 * evals per row (measured: minutes over a 5k-doc corpus; this
 * expression makes it one linear scan). Texts shorter than k+w-1
 * chars fingerprint to the empty array.
 */
case class WinnowFingerprint(child: Expression, k: Int, w: Int)
    extends UnaryExpression with UnaryRefEval {
  require(k >= 1 && w >= 1, "k and w must be >= 1")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "winnow_fingerprint"

  // seed chain parity with xxhash64('fp', gram): seed 42 hashes 'fp',
  // the result seeds each gram hash
  private val FpSeed: Long = {
    val fp = UTF8String.fromString("fp")
    org.apache.spark.sql.catalyst.expressions.XXH64.hashUnsafeBytes(
      fp.getBaseObject, fp.getBaseOffset, fp.numBytes(), 42L)
  }

  override def nullSafeEval(v: Any): Any = {
    val s = v.asInstanceOf[UTF8String]
    val nBytes = s.numBytes()
    val base = s.getBaseObject
    val off = s.getBaseOffset
    // code-point byte offsets (substr semantics are code-point-based)
    val starts = new Array[Int](s.numChars() + 1)
    var nChars = 0
    var b = 0
    while (b < nBytes) {
      starts(nChars) = b
      b += UTF8String.numBytesForFirstByte(
        org.apache.spark.unsafe.Platform.getByte(base, off + b))
      nChars += 1
    }
    starts(nChars) = nBytes
    val nGrams = nChars - k + 1
    val nWins = nGrams - w + 1
    if (nWins <= 0)
      return org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(
        Array.empty[Long])
    val mins = new Array[Long](nWins)
    var out = 0
    // monotonic deque of gram indices; values grow toward the tail
    val deque = new Array[Int](nGrams)
    var head = 0
    var tail = 0 // exclusive
    val hashes = new Array[Long](nGrams)
    var i = 0
    while (i < nGrams) {
      val h = org.apache.spark.sql.catalyst.expressions.XXH64.hashUnsafeBytes(
        base, off + starts(i), starts(i + k) - starts(i), FpSeed)
      hashes(i) = h
      while (tail > head && hashes(deque(tail - 1)) >= h) tail -= 1
      deque(tail) = i
      tail += 1
      if (deque(head) <= i - w) head += 1
      if (i >= w - 1) { mins(out) = hashes(deque(head)); out += 1 }
      i += 1
    }
    java.util.Arrays.sort(mins)
    var distinct = 0
    i = 0
    while (i < mins.length) {
      if (i == 0 || mins(i) != mins(i - 1)) { mins(distinct) = mins(i); distinct += 1 }
      i += 1
    }
    org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(
      java.util.Arrays.copyOf(mins, distinct))
  }

  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

object MinHashSig {
  val P: Long = 2147483647L // 2^31 − 1

  def fnv1a64(bytes: Array[Byte]): Long = {
    var h = 0xcbf29ce484222325L
    var i = 0
    while (i < bytes.length) { h ^= bytes(i) & 0xffL; h *= 0x100000001b3L; i += 1 }
    h
  }
}

/**
 * Any-token pattern match over the enriched token-struct array
 * (`array<struct<tok,pos>>`): ONE JVM pass with early exit. Replaces
 * the `transform(structs, _.tok)` + `exists(tokens, p)` HOF pair,
 * which interprets two lambdas per (token × row) and materializes the
 * extracted token array. Prefix/suffix/infix compare UTF8String
 * bytes in place (zero copy); fuzzy falls back to the DL distance
 * with the length-band early exit.
 */
case class TokenMatch(child: Expression, pattern: String,
                      mode: TokenMatch.Mode, maxDist: Int = 0)
    extends UnaryExpression {

  override def dataType: DataType = BooleanType
  override def prettyName: String = "token_match"

  @transient private lazy val patU =
    org.apache.spark.unsafe.types.UTF8String.fromString(pattern)

  def matchesTokens(arr: ArrayData): Boolean = {
    val n = arr.numElements()
    var i = 0
    while (i < n) {
      val tokU = arr.getStruct(i, 2).getUTF8String(0)
      val hit = mode match {
        case TokenMatch.Exact => tokU.equals(patU)
        case TokenMatch.Prefix => tokU.startsWith(patU)
        case TokenMatch.Suffix => tokU.endsWith(patU)
        case TokenMatch.Infix => tokU.contains(patU)
        case TokenMatch.Fuzzy =>
          val tok = tokU.toString
          math.abs(tok.length - pattern.length) <= maxDist &&
            DamerauLevenshtein.distance(tok, pattern) <= maxDist
      }
      if (hit) return true
      i += 1
    }
    false
  }

  override def nullSafeEval(v: Any): Any = matchesTokens(v.asInstanceOf[ArrayData])

  // One compiled method call per ROW keeps the enclosing Filter inside
  // the scan's whole-stage-codegen span — a CodegenFallback here
  // evicted the ENTIRE pattern/fuzzy/verbatim filter from codegen (the
  // round-10 TagsOf regression mechanism, found again by SmellAudit).
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("tokenMatchExpr", this, classOf[TokenMatch].getName)
    nullSafeCodeGen(ctx, ev, v => s"${ev.value} = $ref.matchesTokens($v);")
  }

  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

object TokenMatch {
  sealed trait Mode extends Serializable
  case object Exact extends Mode
  case object Prefix extends Mode
  case object Suffix extends Mode
  case object Infix extends Mode
  case object Fuzzy extends Mode
}

/**
 * SLOP/INORDER positional match over the token-struct array — the
 * [[graft.text.Proximity]] matcher as a native expression: reads
 * (token, pos) straight from the columnar structs instead of paying
 * the UDF's per-row Seq[Row] conversion.
 */
case class ProximityMatch(child: Expression,
                          specs: Seq[graft.text.Proximity.Spec],
                          slop: Int, inorder: Boolean)
    extends UnaryExpression {

  override def dataType: DataType = BooleanType
  override def prettyName: String = "proximity_match"

  def matchesTokens(arr: ArrayData): Boolean = {
    val n = arr.numElements()
    val toks = new Array[(String, Int)](n)
    var i = 0
    while (i < n) {
      val st = arr.getStruct(i, 2)
      toks(i) = (st.getUTF8String(0).toString, st.getInt(1))
      i += 1
    }
    graft.text.Proximity.matches(
      scala.collection.immutable.ArraySeq.unsafeWrapArray(toks),
      specs, slop, inorder)
  }

  override def nullSafeEval(v: Any): Any = matchesTokens(v.asInstanceOf[ArrayData])

  // keep the SLOP filter inside the scan's codegen span (see TokenMatch)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("proxMatchExpr", this, classOf[ProximityMatch].getName)
    nullSafeCodeGen(ctx, ev, v => s"${ev.value} = $ref.matchesTokens($v);")
  }

  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

/**
 * Any-element-has-any-prefix over a plain `array<string>` (TAG prefix
 * patterns, tag.cc prefix semantics): one JVM pass with early exit,
 * zero-copy UTF8String byte comparison. Replaces the per-prefix
 * `exists(tags, _.startsWith(p))` HOF chain, whose interpreted lambdas
 * evicted every tag-PREFIX Filter from whole-stage codegen (the exact
 * mechanism the round-10 TagsOf fix closed for tag MEMBERSHIP).
 */
case class AnyPrefixMatch(child: Expression, prefixes: Seq[String])
    extends UnaryExpression {
  require(prefixes.nonEmpty, "AnyPrefixMatch needs at least one prefix")

  override def dataType: DataType = BooleanType
  override def prettyName: String = "any_prefix_match"

  @transient private lazy val prefU =
    prefixes.map(org.apache.spark.unsafe.types.UTF8String.fromString).toArray

  def matchesAny(arr: ArrayData): Boolean = {
    val n = arr.numElements()
    var i = 0
    while (i < n) {
      val el = arr.getUTF8String(i)
      if (el != null) {
        var j = 0
        while (j < prefU.length) {
          if (el.startsWith(prefU(j))) return true
          j += 1
        }
      }
      i += 1
    }
    false
  }

  override def nullSafeEval(v: Any): Any = matchesAny(v.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("anyPrefixExpr", this, classOf[AnyPrefixMatch].getName)
    nullSafeCodeGen(ctx, ev, v => s"${ev.value} = $ref.matchesAny($v);")
  }

  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

/**
 * Nearest-centroid id (IVF cell assignment): argmin over squared-L2
 * distances to a literal centroid table, ties to the lower index. One
 * JVM pass per row — the Column-algebra argmin (nCells ×
 * aggregate(zip_with(…)) + struct-min) runs interpreted lambdas per
 * (element × centroid) pair.
 */
case class NearestCentroid(child: Expression, centroids: Array[Array[Double]])
    extends UnaryExpression with UnaryRefEval {

  override def dataType: DataType = IntegerType
  override def prettyName: String = "nearest_centroid"

  private lazy val isFloat = child.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  override def nullSafeEval(v: Any): Any = {
    val arr = v.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val x = new Array[Double](n)
    var i = 0
    while (i < n) {
      x(i) = if (isFloat) arr.getFloat(i).toDouble else arr.getDouble(i)
      i += 1
    }
    var best = 0
    var bestD = Double.MaxValue
    var c = 0
    while (c < centroids.length) {
      val cent = centroids(c)
      val m = math.min(n, cent.length)
      var d = 0.0
      i = 0
      while (i < m) { val t = x(i) - cent(i); d += t * t; i += 1 }
      if (d < bestD) { bestD = d; best = c }
      c += 1
    }
    best
  }

  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

/**
 * Random-hyperplane sign-LSH signature: bit i of the output long is
 * set iff vec · planes(i) ≥ 0. ONE pass over the vector per row — the
 * Column-algebra formulation (numPlanes × aggregate(zip_with(…)))
 * evaluates an interpreted lambda per (element × plane) pair and
 * re-reads the array numPlanes times.
 */
case class SignLsh(child: Expression, planes: Array[Array[Double]])
    extends UnaryExpression with UnaryRefEval {

  override def dataType: DataType = LongType
  override def prettyName: String = "sign_lsh"

  private lazy val isFloat = child.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  override def nullSafeEval(v: Any): Any = {
    val arr = v.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val x = new Array[Double](n)
    var i = 0
    while (i < n) {
      x(i) = if (isFloat) arr.getFloat(i).toDouble else arr.getDouble(i)
      i += 1
    }
    var bits = 0L
    var p = 0
    while (p < planes.length) {
      val plane = planes(p)
      val m = math.min(n, plane.length)
      var dot = 0.0
      i = 0
      while (i < m) { dot += x(i) * plane(i); i += 1 }
      if (dot >= 0) bits |= (1L << p)
      p += 1
    }
    bits
  }

  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

/**
 * 64-bit SimHash over an array<string> of tokens: each bit of
 * h(token) (FNV-1a 64) votes ±1 per token; sign of each counter packs
 * into the output bit. Native loop for the same reason as
 * [[MinHashSig]] — the HOF formulation interprets a lambda per
 * (token × bit) pair.
 */
case class SimHash64(child: Expression)
    extends UnaryExpression with UnaryRefEval {

  override def dataType: DataType = LongType
  override def prettyName: String = "simhash64"

  override def nullSafeEval(v: Any): Any = {
    val arr = v.asInstanceOf[ArrayData]
    val counts = new Array[Int](64)
    var i = 0
    val n = arr.numElements()
    while (i < n) {
      val h = MinHashSig.fnv1a64(arr.getUTF8String(i).getBytes)
      var k = 0
      while (k < 64) {
        if (((h >>> k) & 1L) == 1L) counts(k) += 1 else counts(k) -= 1
        k += 1
      }
      i += 1
    }
    var sim = 0L
    var k = 0
    while (k < 64) { if (counts(k) >= 0) sim |= (1L << k); k += 1 }
    sim
  }

  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

/**
 * Rolling polynomial hash of every `len`-token window, ONE pass per
 * row: each token hashes once (FNV-1a over its UTF-8 bytes — the
 * [[MinHashSig.fnv1a64]] chain the shingle family uses), then the
 * window hash rolls — h(i+1) = (h(i) − tok(i)·B^(len−1))·B +
 * tok(i+len) over 2⁶⁴ — so total work is O(tokens), not
 * O(tokens × len). Output is `array<long>` of length
 * max(0, n − len + 1); rows with fewer than `len` tokens hash to the
 * empty array. Equality is 64-bit-hash equality (the same convention
 * the exact-dedup md5 and shingle joins use): collisions are
 * possible at 2⁻⁶⁴ per pair, which downstream consumers accept in
 * exchange for never materializing window STRINGS.
 */
case class TokenWindowHashes(child: Expression, len: Int)
    extends UnaryExpression with UnaryRefEval {
  require(len >= 1, s"window length must be >= 1, got $len")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "token_window_hashes"

  // odd multiplier (golden-gamma): invertible mod 2^64, good mixing
  private val B = 0x9E3779B97F4A7C15L
  private lazy val bPowLen: Long = {
    var p = 1L; var i = 0
    while (i < len - 1) { p *= B; i += 1 }
    p // B^(len-1)
  }

  override def nullSafeEval(v: Any): Any = {
    val arr = v.asInstanceOf[ArrayData]
    val n = arr.numElements()
    if (n < len)
      return ArrayData.toArrayData(Array.empty[Long])
    val tok = new Array[Long](n)
    var i = 0
    while (i < n) {
      tok(i) = MinHashSig.fnv1a64(arr.getUTF8String(i).getBytes); i += 1
    }
    val m = n - len + 1
    val out = new Array[Long](m)
    var h = 0L
    i = 0
    while (i < len) { h = h * B + tok(i); i += 1 }
    out(0) = h
    i = 1
    while (i < m) {
      h = (h - tok(i - 1) * bPowLen) * B + tok(i + len - 1)
      out(i) = h
      i += 1
    }
    ArrayData.toArrayData(out)
  }

  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

/**
 * Drop every token covered by a `len`-token window starting at any of
 * `positions` (sorted ascending), rejoining survivors with single
 * spaces — the cut step of ExactSubstr dedup (Lee et al., ACL'22).
 * One merge-and-cut pass: overlapping/adjacent windows coalesce into
 * spans implicitly by tracking the furthest covered end. Positions at
 * or past the token count are ignored (defensive; the operator derives
 * them from the same tokenization).
 */
case class CutSpans(left: Expression, right: Expression, len: Int)
    extends BinaryExpression with BinaryRefEval {
  require(len >= 1, s"window length must be >= 1, got $len")

  override def dataType: DataType = StringType
  override def prettyName: String = "cut_spans"

  override def nullSafeEval(wordsV: Any, posV: Any): Any = {
    val words = wordsV.asInstanceOf[ArrayData]
    val pos = posV.asInstanceOf[ArrayData]
    val n = words.numElements()
    val np = pos.numElements()
    val kept = new java.util.ArrayList[UTF8String](n)
    var coveredUntil = 0 // exclusive token index
    var p = 0
    var i = 0
    while (i < n) {
      while (p < np && pos.getInt(p) <= i) {
        val end = pos.getInt(p) + len
        if (end > coveredUntil) coveredUntil = end
        p += 1
      }
      if (i >= coveredUntil) kept.add(words.getUTF8String(i))
      i += 1
    }
    UTF8String.concatWs(UTF8String.fromString(" "),
      kept.toArray(new Array[UTF8String](kept.size)): _*)
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression) =
    copy(left = l, right = r)
}

/**
 * Bloom-filter membership probe over a LONG hash column. The filter
 * rides the expression as its SERIALIZED bytes (robust transport to
 * executors) and deserializes lazily once per JVM; codegen probes
 * through a reference to this expression. One-sided error: false
 * POSITIVES at the filter's configured fpp, never false negatives —
 * a caller that REMOVES matches therefore over-removes slightly,
 * the conservative direction for decontamination. Backed by
 * [[graft.util.Bloom64]], not Spark's sketch, whose double-hashing
 * probe independence collapses at small bit sizes (measured 3.5e-3
 * admits on a filter built for 1e-6).
 */
case class BloomMightContainLong(child: Expression, bits: Array[Byte])
    extends UnaryExpression {
  require(bits.nonEmpty, "empty bloom filter")

  override def dataType: DataType = BooleanType
  override def prettyName: String = "bloom_might_contain"

  @transient private lazy val filter = graft.util.Bloom64.deserialize(bits)

  def test(v: Long): Boolean = filter.mightContain(v)

  override def nullSafeEval(v: Any): Any = test(v.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("bloomExpr", this,
      classOf[BloomMightContainLong].getName)
    nullSafeCodeGen(ctx, ev, v => s"${ev.value} = $ref.test($v);")
  }

  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

/**
 * TAG-field tokenization in ONE row-local JVM pass: split on the
 * LITERAL separator, trim ASCII spaces (0x20 — Spark `trim`
 * semantics), ASCII-fold A-Z unless `caseSensitive` (reference
 * tag.cc:87 folds ASCII only, not Unicode lower), drop empties.
 * Replaces the `split` + `transform(trim)` + `transform(translate)` +
 * `filter(length > 0)` chain, whose lambdas evaluate interpreted per
 * (element × row) and whose CollapseProject-inlining into TAG
 * predicates pushed every tag Filter OUT of whole-stage codegen; this
 * expression generates one compiled method call, keeping the
 * scan→filter stage fused.
 */
case class TagsOf(child: Expression, sep: String, caseSensitive: Boolean)
    extends UnaryExpression {
  require(sep.nonEmpty, "empty tag separator")

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "tags_of"

  def tagsOf(s: UTF8String): ArrayData = {
    val str = s.toString
    val out = scala.collection.mutable.ArrayBuffer.empty[UTF8String]
    var start = 0
    var more = true
    while (more) {
      val idx = str.indexOf(sep, start)
      val end = if (idx < 0) str.length else idx
      var a = start
      var b = end
      while (a < b && str.charAt(a) == ' ') a += 1
      while (b > a && str.charAt(b - 1) == ' ') b -= 1
      if (b > a) {
        if (caseSensitive) out += UTF8String.fromString(str.substring(a, b))
        else {
          val arr = new Array[Char](b - a)
          var i = a
          while (i < b) {
            val c = str.charAt(i)
            arr(i - a) = if (c >= 'A' && c <= 'Z') (c + 32).toChar else c
            i += 1
          }
          out += UTF8String.fromString(new String(arr))
        }
      }
      if (idx < 0) more = false else start = idx + sep.length
    }
    ArrayData.toArrayData(out.toArray)
  }

  override def nullSafeEval(v: Any): Any = tagsOf(v.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("tagsOfExpr", this, classOf[TagsOf].getName)
    nullSafeCodeGen(ctx, ev, v => s"${ev.value} = $ref.tagsOf($v);")
  }

  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

/**
 * b-bit minwise sketch (Li & König, CACM '11): the LOW BYTE of each
 * MinHash signature component, packed into a fixed-width binary. The
 * staged LSH verify ships this 1-byte-per-component sketch to the
 * candidate-pair prefilter instead of the full variable-width shingle
 * set — at the sharp oracle banding (4 rows/band) a dup-heavy corpus
 * floods the verify join with tens of millions of low-Jaccard
 * candidates, and the payload drops ~8× vs 8-byte components and
 * 10-100× vs raw shingle arrays ([[graft.pipeline.Dedup]]).
 */
case class SigPackBytes(child: Expression)
    extends UnaryExpression {

  override def dataType: DataType = BinaryType
  override def prettyName: String = "sig_pack_bytes"

  def pack(v: ArrayData): Array[Byte] = {
    val n = v.numElements()
    val out = new Array[Byte](n)
    var i = 0
    while (i < n) { out(i) = v.getLong(i).toByte; i += 1 }
    out
  }

  override def nullSafeEval(v: Any): Any = pack(v.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("sigPackExpr", this, classOf[SigPackBytes].getName)
    nullSafeCodeGen(ctx, ev, v => s"${ev.value} = $ref.pack($v);")
  }

  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

/**
 * Fraction of equal bytes between two equal-length binaries — the
 * b-bit minwise agreement A. The unbiased Jaccard estimate is
 * (A − 2⁻⁸)/(1 − 2⁻⁸) (a random non-matching component still agrees
 * on its low byte with probability 1/256); [[graft.pipeline.Dedup]]
 * applies that correction in Column algebra.
 */
case class ByteAgreeFrac(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "byte_agree_frac"

  def agree(a: Array[Byte], b: Array[Byte]): Double = {
    require(a.length == b.length,
      s"sketch length mismatch: ${a.length} vs ${b.length}")
    if (a.length == 0) return 1.0
    var eq = 0
    var i = 0
    while (i < a.length) { if (a(i) == b(i)) eq += 1; i += 1 }
    eq.toDouble / a.length
  }

  override def nullSafeEval(a: Any, b: Any): Any =
    agree(a.asInstanceOf[Array[Byte]], b.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("byteAgreeExpr", this, classOf[ByteAgreeFrac].getName)
    nullSafeCodeGen(ctx, ev, (a, b) => s"${ev.value} = $ref.agree($a, $b);")
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression) =
    copy(left = l, right = r)
}

/**
 * All whitespace-token text statistics in ONE row-local pass — the
 * counts behind [[graft.pipeline.TextMetrics]] (token count, stopword
 * hits, summed token length, ASCII-keep chars for the punctuation
 * ratio, per-language marker hits). The Column-algebra formulation
 * re-split the text per metric (4+ regex splits per document) and ran
 * `filter`/`aggregate` HOF lambdas interpreted per (token × row); at
 * curation scale these metrics should run at scan speed. Tokenization
 * reproduces `split(text, "\\s+")` with Spark's limit=-1 semantics
 * (Java `Pattern.split(s, -1)`: leading empty token kept when the
 * text starts with whitespace, trailing empties kept, "" → [""]);
 * token length is code points (Spark `length`); marker/stopword hits
 * are exact string equality — the differential fuzz spec pins all of
 * this against the original formulas.
 */
case class TextStats(child: Expression, stopwords: Seq[String],
                     profiles: Seq[Seq[String]])
    extends UnaryExpression {

  override def dataType: DataType = StructType(Seq(
    StructField("n_chars", LongType, nullable = false),
    StructField("octets", LongType, nullable = false),
    StructField("n_tokens", LongType, nullable = false),
    StructField("stop_hits", LongType, nullable = false),
    StructField("sum_token_len", LongType, nullable = false),
    StructField("ascii_keep", LongType, nullable = false),
    StructField("lang_hits", ArrayType(LongType, containsNull = false),
      nullable = false)))
  override def prettyName: String = "text_stats"

  @transient private lazy val ws = java.util.regex.Pattern.compile("\\s+")
  @transient private lazy val stopSet = stopwords.toSet
  // a marker word may appear in several profiles ("de" is in both the
  // Spanish and pinyin-Chinese lists) — map to ALL its profile indexes
  @transient private lazy val marker: Map[String, Array[Int]] =
    profiles.zipWithIndex
      .flatMap { case (words, i) => words.map(_ -> i) }
      .groupBy(_._1).map { case (w, xs) => w -> xs.map(_._2).toArray }

  def compute(s: UTF8String): InternalRow = {
    val str = s.toString
    val nChars = s.numChars().toLong
    val octets = s.numBytes().toLong
    var asciiKeep = 0L
    var i = 0
    while (i < str.length) {
      val c = str.charAt(i)
      if ((c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z') ||
          (c >= '0' && c <= '9') || c == ' ') asciiKeep += 1
      i += 1
    }
    val toks = ws.split(str, -1)
    var stopHits = 0L
    var sumLen = 0L
    val lang = new Array[Long](profiles.length)
    var j = 0
    while (j < toks.length) {
      val t = toks(j)
      sumLen += t.codePointCount(0, t.length)
      if (stopSet.contains(t)) stopHits += 1
      marker.get(t) match {
        case Some(idxs) =>
          var k = 0
          while (k < idxs.length) { lang(idxs(k)) += 1; k += 1 }
        case None =>
      }
      j += 1
    }
    InternalRow(nChars, octets, toks.length.toLong, stopHits, sumLen,
      asciiKeep, ArrayData.toArrayData(lang))
  }

  override def nullSafeEval(v: Any): Any = compute(v.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("textStatsExpr", this, classOf[TextStats].getName)
    nullSafeCodeGen(ctx, ev, v => s"${ev.value} = $ref.compute($v);")
  }

  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

/**
 * Raw counts behind [[graft.pipeline.TextMetrics.gopherRules]] in ONE
 * row-local pass (word split, line split, symbol scan, stopword set) —
 * the Column-algebra bundle re-split the text per rule and ran five
 * interpreted HOF lambdas plus three per-element `rlike` regexes per
 * document. The ratio/rounding arithmetic stays in Column space on
 * this struct, so numeric semantics are untouched. Parity notes:
 * word split is `split(text, "\\s+")` minus empties; line trim
 * removes ASCII space 0x20 only (Spark `trim`); the symbol count
 * reproduces `regexp_extract_all(text, "#|\\.\\.\\.")` leftmost-first
 * alternation (`#` at a position wins, `...` consumes three dots);
 * stopword hits count DISTINCT stops present among Unicode-lowercased
 * words (`array_intersect(array_distinct(transform(_, lower)), …)`).
 */
case class GopherCounts(child: Expression)
    extends UnaryExpression with UnaryRefEval {

  override def dataType: DataType = StructType(Seq(
    StructField("n_words", LongType, nullable = false),
    StructField("sum_word_len", LongType, nullable = false),
    StructField("symbol_matches", LongType, nullable = false),
    StructField("n_lines", LongType, nullable = false),
    StructField("bullet_lines", LongType, nullable = false),
    StructField("ellipsis_lines", LongType, nullable = false),
    StructField("alpha_words", LongType, nullable = false),
    StructField("stop_hits", LongType, nullable = false)))
  override def prettyName: String = "gopher_counts"

  @transient private lazy val ws = java.util.regex.Pattern.compile("\\s+")
  @transient private lazy val stops =
    graft.pipeline.TextMetrics.GopherStops.map(UTF8String.fromString).toArray

  override def nullSafeEval(v: Any): Any = {
    val u = v.asInstanceOf[UTF8String]
    val str = u.toString

    var nWords = 0L
    var sumLen = 0L
    var alphaWords = 0L
    var stopMask = 0L
    val toks = ws.split(str, -1)
    var i = 0
    while (i < toks.length) {
      val t = toks(i)
      if (t.nonEmpty) {
        nWords += 1
        sumLen += t.codePointCount(0, t.length)
        var hasAlpha = false
        var j = 0
        while (!hasAlpha && j < t.length) {
          val c = t.charAt(j)
          if ((c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z')) hasAlpha = true
          j += 1
        }
        if (hasAlpha) alphaWords += 1
        if (t.length <= 6) { // longest stop is 4 chars; cheap pre-cut
          val lw = UTF8String.fromString(t).toLowerCase
          var s = 0
          while (s < stops.length) {
            if (lw.equals(stops(s))) stopMask |= (1L << s)
            s += 1
          }
        }
      }
      i += 1
    }

    // leftmost-first "#|\.\.\." scan
    var symbols = 0L
    i = 0
    while (i < str.length) {
      val c = str.charAt(i)
      if (c == '#') { symbols += 1; i += 1 }
      else if (c == '.' && i + 2 < str.length &&
               str.charAt(i + 1) == '.' && str.charAt(i + 2) == '.') {
        symbols += 1; i += 3
      } else i += 1
    }

    var nLines = 0L
    var bullets = 0L
    var ellipses = 0L
    var start = 0
    var more = true
    while (more) {
      val nl = str.indexOf('\n', start)
      val end = if (nl < 0) str.length else nl
      var a = start
      var b = end
      while (a < b && str.charAt(a) == ' ') a += 1   // Spark trim: 0x20 only
      while (b > a && str.charAt(b - 1) == ' ') b -= 1
      if (b > a) {
        nLines += 1
        val f = str.charAt(a)
        if (f == '-' || f == '*') bullets += 1
        if (b - a >= 3 && str.charAt(b - 1) == '.' &&
            str.charAt(b - 2) == '.' && str.charAt(b - 3) == '.') ellipses += 1
      }
      if (nl < 0) more = false else start = nl + 1
    }

    InternalRow(nWords, sumLen, symbols, nLines, bullets, ellipses,
      alphaWords, java.lang.Long.bitCount(stopMask).toLong)
  }

  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

/**
 * Evaluation barrier: forwards its child unchanged but reports
 * `deterministic = false`, which stops the optimizer from (a) collapsing
 * the projection that computes it into consumers and (b) pushing filters
 * through that projection — the two rewrites that inline an expensive
 * struct expression once per referencing predicate (optimization guide
 * §4.4: Catalyst re-evaluates a filtered derived column below AND above
 * the pushed filter; FilterExec does no common-subexpression
 * elimination, so a pass predicate over an 8-field metrics struct pays
 * the struct once per conjunct). The child IS deterministic — results
 * are bit-identical; only plan shape changes. Use on expensive
 * struct-producing expressions whose fields feed a filter.
 *
 * Allowed contexts (EvalOnceSpec): a projected column, read by a Filter
 * above it, persisted, joined or grouped on ANOTHER key. Spark treats
 * the barrier as nondeterministic, so as a join key it fails analysis
 * with INVALID_NON_DETERMINISTIC_EXPRESSIONS, and as a grouping key the
 * plan is rejected with "Non-deterministic expression … should not
 * appear in grouping expression": project it first and key on the
 * column.
 */
case class EvalOnce(child: Expression) extends UnaryExpression {
  override lazy val deterministic: Boolean = false
  override def foldable: Boolean = false
  override def nullable: Boolean = child.nullable
  override def dataType: DataType = child.dataType
  override def eval(input: InternalRow): Any = child.eval(input)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    ev.copy(code = c.code, isNull = c.isNull, value = c.value)
  }
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}
