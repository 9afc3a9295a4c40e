package graft.resp

import java.io.ByteArrayOutputStream
import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.Row

import graft.engine.{Commands, SearchEngine, SearchOptions}
import graft.query.FilterParser

/**
 * RESP2 wire encoding — the five reply types the reference's command
 * surface emits (valkey module API Reply* calls). Values are rendered
 * into a byte stream so bulk strings stay binary-safe.
 */
object Resp {
  def simple(s: String): Array[Byte] = s"+$s\r\n".getBytes(UTF_8)
  def error(msg: String): Array[Byte] = s"-$msg\r\n".getBytes(UTF_8)
  def integer(n: Long): Array[Byte] = s":$n\r\n".getBytes(UTF_8)
  val nullBulk: Array[Byte] = "$-1\r\n".getBytes(UTF_8)
  def bulk(s: String): Array[Byte] = {
    val b = s.getBytes(UTF_8)
    val out = new ByteArrayOutputStream(b.length + 16)
    out.write(s"$$${b.length}\r\n".getBytes(UTF_8)); out.write(b)
    out.write("\r\n".getBytes(UTF_8)); out.toByteArray
  }
  def array(elems: Seq[Array[Byte]]): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    out.write(s"*${elems.length}\r\n".getBytes(UTF_8))
    elems.foreach(out.write)
    out.toByteArray
  }

  /** Decode one RESP2 value from `bytes` (the inverse of the encoders
    * above): arrays → Vector, bulk/simple strings → String, integers
    * → Long, errors → RespError, null bulk → null. Trailing bytes are
    * an error — a reply is exactly one value. Used by the round-trip
    * oracle gates: the wire layer itself is DuckDB-checked by
    * serializing a reply and parsing it back. */
  final case class RespError(message: String)
  def decode(bytes: Array[Byte]): Any = {
    val (v, rest) = decodeOne(bytes)
    require(rest.isEmpty, s"trailing bytes after RESP value: ${rest.length}")
    v
  }
  private def decodeOne(b: Array[Byte]): (Any, Array[Byte]) = {
    val nl = b.indexOfSlice("\r\n".getBytes(UTF_8))
    require(nl > 0, "malformed RESP: missing CRLF")
    val head = new String(b.slice(1, nl), UTF_8)
    val rest = b.drop(nl + 2)
    b(0).toChar match {
      case '+' => (head, rest)
      case '-' => (RespError(head), rest)
      case ':' => (head.toLong, rest)
      case '$' =>
        val n = head.toInt
        if (n < 0) (null, rest)
        else (new String(rest.take(n), UTF_8), rest.drop(n + 2))
      case '*' =>
        var r = rest
        val items = Vector.newBuilder[Any]
        (0 until head.toInt).foreach { _ =>
          val (v, r2) = decodeOne(r); r = r2; items += v
        }
        (items.result(), r)
      case c => throw new IllegalArgumentException(s"unknown RESP type byte '$c'")
    }
  }

  /** C-style `%.12g` (the reference's snprintf score/value rendering,
    * ft_search.cc:70): Java's %g keeps trailing zeros, C's trims them
    * — strip the zero tail (and a bare trailing '.') from the
    * mantissa, preserving any exponent. */
  def fmtG(d: Double): String = {
    // C printf renders non-finite as inf/-inf/nan; Java says Infinity/NaN
    if (java.lang.Double.isNaN(d))
      return if ((java.lang.Double.doubleToRawLongBits(d) & Long.MinValue) != 0L) "-nan" else "nan"
    if (d == Double.PositiveInfinity) return "inf"
    if (d == Double.NegativeInfinity) return "-inf"
    val s = String.format(java.util.Locale.ROOT, "%.12g", Double.box(d))
    val (mant, exp) = s.indexOf('e') match {
      case -1 => (s, "")
      case i => (s.substring(0, i), s.substring(i))
    }
    val trimmed =
      if (mant.contains('.')) mant.reverse.dropWhile(_ == '0').reverse.stripSuffix(".")
      else mant
    trimmed + exp
  }

  /** Render a Spark-typed value the way a Valkey HASH stores it: the
    * raw string. Integral doubles drop the ".0" (a hash field "95"
    * round-trips as "95"); fractional doubles use C-style %.12g like
    * the reference's rendering (ft_aggregate.cc:199 uses %.11g for
    * numerics, ft_search.cc:70 %.12g for scores). */
  def render(v: Any): String = v match {
    case null => ""
    case d: Double =>
      if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
      else fmtG(d)
    case f: Float => render(f.toDouble)
    case s: scala.collection.Seq[_] => s.map(render).mkString(",")
    case other => other.toString
  }
}

/**
 * Thin RESP adapter over the engine's command surface (round-9 verdict
 * #7 stretch): `execute` takes the same argv [[Commands]] takes and
 * returns the RESP2 byte reply the reference renders —
 *
 *  - FT.SEARCH (ft_search.cc:40-190): `[total, key, fields…]`;
 *    NOCONTENT → `[total, key…]`; WITHSORTKEYS inserts `#sortkey`
 *    after each key; vector queries lead each field array with
 *    `(score_as, "%.12g" score)`; per-record field arrays are
 *    `(identifier, value)` pairs with nil attributes skipped.
 *  - FT.AGGREGATE (ft_aggregate.cc GenerateResponse:369-404):
 *    `[n, [name, value, …]…]` with nil fields skipped.
 *  - FT.INFO: flat `[name, value, …]` with `prefixes` as a nested
 *    array (index_schema.cc:1206-1210).
 *  - FT._LIST → array of names; FT.CREATE/FT.DROPINDEX → `+OK`;
 *    parse/arity errors → `-ERR`-style error with the reference's
 *    message text.
 *
 * The engine stays a DataFrame library — this adapter only SERIALIZES
 * collected replies, it owns no query semantics.
 */
final class RespCommands(engine: SearchEngine, cmds: Commands) {
  import Resp._

  // FT.AGGREGATE replies are cached as wire bytes in the engine's
  // aggReplyCache; the key captures the epoch BEFORE execute (the
  // engine's newEpoch ordering contract). Errors throw past the insert.
  private def ftAggregate(argv: Seq[String]): Array[Byte] = {
    val cache = engine.aggReplyCache
    val key = argv.lift(1).map(idx => cache.key(idx, engine.registrationEpoch(idx), argv: _*))
    key.flatMap(k => cache.get(Seq(k))).getOrElse {
      val bytes = aggregateReply(
        cmds.execute(argv).asInstanceOf[org.apache.spark.sql.DataFrame])
      key.foreach(cache.put(_, bytes))
      bytes
    }
  }

  def execute(argv: Seq[String]): Array[Byte] =
    try {
      argv.head.toUpperCase match {
        case "FT.SEARCH" => ftSearch(argv)
        case "FT.AGGREGATE" => ftAggregate(argv)
        case "FT.INFO" => infoReply(
          cmds.execute(argv).asInstanceOf[org.apache.spark.sql.DataFrame])
        case "FT._LIST" =>
          array(cmds.execute(argv).asInstanceOf[Seq[String]].map(bulk))
        case "CONFIG" if argv.length >= 2 && argv(1).equalsIgnoreCase("GET") =>
          // flat [name, value, ...] array, Valkey CONFIG GET shape
          array(cmds.execute(argv).asInstanceOf[Seq[String]].map(bulk))
        case _ =>
          cmds.execute(argv) match {
            case s: String => simple(s)
            case other => bulk(String.valueOf(other))
          }
      }
    } catch {
      case e: Exception =>
        if (sys.props.contains("graft.resp.debugErrors")) e.printStackTrace()
        error(String.valueOf(e.getMessage))
    }

  private def ftSearch(argv: Seq[String]): Array[Byte] = {
    val (index, query, opts) = cmds.parseFtSearch(argv.tail)
    val reply = engine.searchReply(index, query, opts)
    val schema = engine.index(index)._1
    val parsed = FilterParser.parse(query, opts.params,
      fuzzyMaxDistance = engine.fuzzyMaxDistance, analyzer = schema.analyzer)
    val scoreName = parsed.knn.map(k =>
      k.asName.getOrElse(schema.scoreField(k.field)))
    val rows = reply.rows
    if (opts.noContent) {
      val keys = rows.map(r => bulk(render(r.get(r.fieldIndex(schema.keyColumn)))))
      return array(integer(reply.total) +: keys.toSeq)
    }
    val elems = Seq.newBuilder[Array[Byte]]
    elems += integer(reply.total)
    rows.foreach { r =>
      val names = r.schema.fieldNames
      elems += bulk(render(r.get(r.fieldIndex(schema.keyColumn))))
      if (opts.withSortKeys && names.contains("__sortkey"))
        elems += bulk(render(r.get(r.fieldIndex("__sortkey"))))
      val pairs = Seq.newBuilder[Array[Byte]]
      // vector replies lead with (score_as, score) — ft_search.cc:67-73
      scoreName.filter(names.contains).foreach { sn =>
        val i = r.fieldIndex(sn)
        if (!r.isNullAt(i)) {
          pairs += bulk(sn)
          pairs += bulk(fmtG(r.getDouble(i)))
        }
      }
      if (schema.onJson && opts.returnFields.isEmpty) {
        // ON JSON no-RETURN content (response_generator.cc
        // GetContentNoReturnJson): the SORTBY attribute (under the
        // alias the command named, skipped when missing) plus the
        // whole serialized document under `$` — never the per-field
        // pairs the HASH model serves.
        opts.sortBy.map(_._1)
          .filterNot(f => scoreName.contains(f)) // score pair already led
          .foreach { f =>
            val aliasCol = schema.field(f).map(_.alias).getOrElse(f)
            val i = names.indexOf(aliasCol)
            if (i >= 0 && !r.isNullAt(i)) {
              pairs += bulk(f)
              pairs += bulk(render(r.get(i)))
            }
          }
        val di = names.indexOf(graft.model.IndexSchema.DocColumn)
        if (di >= 0 && !r.isNullAt(di)) {
          pairs += bulk(graft.model.IndexSchema.DocColumn)
          pairs += bulk(render(r.get(di)))
        }
      } else {
      // content pairs = the document's STORED attributes (reference
      // attribute_contents reads the hash, not the index —
      // response_generator.cc): skip the key/sortkey/score plus the
      // enrichment internals (`__alias__tags`/`__alias__raw`/... all
      // start with "__"), which have no hash-field analogue. A field
      // whose indexed value is null may still be PRESENT in the
      // document (an indexing failure: junk numeric, wrong-dim
      // vector) — the reference returns the stored bytes regardless,
      // so fall back to the preserved raw column when enrichment
      // nulled the alias (compat corpus 'bad numbers'/'bad vectors').
      names.zipWithIndex.foreach { case (n, i) =>
        if (n != schema.keyColumn && !scoreName.contains(n) && !n.startsWith("__")) {
          if (!r.isNullAt(i)) {
            pairs += bulk(n)
            pairs += bulk(render(r.get(i)))
          } else {
            val rawIdx = names.indexOf(graft.sources.Documents.rawCol(n))
            if (rawIdx >= 0 && !r.isNullAt(rawIdx)) {
              pairs += bulk(n)
              pairs += bulk(render(r.get(rawIdx)))
            }
          }
        }
      }
      }
      elems += array(pairs.result())
    }
    array(elems.result())
  }

  private def aggregateReply(df: org.apache.spark.sql.DataFrame): Array[Byte] = {
    val rows = graft.engine.Metrics.aggregateLatency.timed(
      engine.executeWithTimeout(df))
    val recs = rows.map { r =>
      val pairs = Seq.newBuilder[Array[Byte]]
      r.schema.fieldNames.zipWithIndex.foreach { case (n, i) =>
        if (!r.isNullAt(i)) { pairs += simple2(n); pairs += bulk(render(r.get(i))) }
      }
      array(pairs.result())
    }
    array(integer(rows.length.toLong) +: recs.toSeq)
  }

  // the reference replies field NAMES as simple strings in aggregate
  // records (ft_aggregate.cc:171) but bulk in search replies
  private def simple2(s: String): Array[Byte] = simple(s)

  private val perFieldInfoCols =
    Set("field", "identifier", "field_type", "num_tracked", "attached_indexes")

  /** FT.INFO: our info() DataFrame is one row PER FIELD with the
    * index-level values repeated — serialize index-level pairs once
    * from the head row, then the per-field columns as a nested
    * `attributes` array of pair-arrays (the reference's attribute
    * blocks, index_schema.cc:1211-1240). */
  private def infoReply(df: org.apache.spark.sql.DataFrame): Array[Byte] = {
    val rows = df.collect()
    val r = rows.head
    val elems = Seq.newBuilder[Array[Byte]]
    r.schema.fieldNames.zipWithIndex.foreach { case (n, i) =>
      if (!perFieldInfoCols(n)) {
        elems += bulk(n)
        r.get(i) match {
          case s: scala.collection.Seq[_] => elems += array(s.toSeq.map(v => bulk(render(v))).toIndexedSeq)
          case v => elems += bulk(render(v))
        }
      }
    }
    elems += bulk("attributes")
    elems += array(rows.toSeq.map { fr =>
      array(fr.schema.fieldNames.zipWithIndex.collect {
        case (n, i) if perFieldInfoCols(n) =>
          Seq(bulk(n), bulk(render(fr.get(i))))
      }.flatten.toSeq)
    })
    array(elems.result())
  }
}
