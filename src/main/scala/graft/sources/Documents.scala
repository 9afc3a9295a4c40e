package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.model._
import graft.text.Analyzer

/**
 * Loader: raw table → canonical document DataFrame for an [[IndexSchema]].
 *
 * Mirrors the reference's ingest pipeline (S2 backfill + S3/S4 readers,
 * src/index_schema.cc:560-999, src/attribute_data_type.cc) as a batch
 * enrichment: each declared field gets its derived search columns
 * computed *at scan time* (pure projections — no shuffle, fully
 * parallel, safe at any scale):
 *
 *  - TAG     → `__f__tags`:   array<string>, split on separator, trimmed,
 *              case-folded unless CASESENSITIVE (src/indexes/tag.cc:107).
 *  - TEXT    → `__f__tokens`: array<struct<tok,pos>> (post stop-word
 *              positions, search-data-formats.md:255),
 *              `__f__terms`:  array<string> distinct stems,
 *              `__f__joined`: " tok1 tok2 ... " for phrase adjacency.
 *  - VECTOR  → cosine metric: unit-normalize + keep `__f__magnitude`
 *              (src/indexes/vector_base.cc:113-133); reject wrong-dim
 *              vectors by nulling them (index_base.h:43-47 drop
 *              semantics).
 *  - NUMERIC → cast to double (non-numeric → null ≡ untracked).
 *
 * At 100 TB these projections would be materialized once at ingest and
 * written back to Parquet; the query path below works identically on
 * either the enriched table or the raw one.
 */
object Documents {

  // Cosine ingest-normalization (vector_base.cc:113-133): L2 magnitude
  // in double precision, each element divided in double then cast back
  // to float — bit-identical to the former aggregate/transform lambda
  // chain, which had to go (see textDerivedUdf).
  private val magnitudeUdf = udf((v: Seq[Float]) =>
    if (v == null) null
    else {
      var acc = 0.0
      v.foreach(x => acc += x.toDouble * x.toDouble)
      java.lang.Double.valueOf(math.sqrt(acc))
    })
  private val unitNormalizeUdf = udf((v: Seq[Float]) =>
    if (v == null) null
    else {
      var acc = 0.0
      v.foreach(x => acc += x.toDouble * x.toDouble)
      val mag = math.sqrt(acc)
      if (mag > 0d) v.map(x => (x.toDouble / mag).toFloat) else v
    })

  // All three text-derived columns from ONE tokenization (the terms
  // set and the joined phrase string are pure functions of the token
  // stream), extracted via getField — which matters twice over:
  //  - ingest throughput: one tokenizer pass per document instead of
  //    three separate UDFs each re-tokenizing;
  //  - correctness: NOT transform(tokens, t => t("_1")) + array_join,
  //    because every higher-order-function lambda carries a
  //    NamedLambdaVariable whose value slot is SHARED by all plans
  //    referencing the expression instance, and the enriched relation
  //    registered in an engine catalog is exactly such a shared plan —
  //    two threads whose queries both drive the optimizer's
  //    driver-side local-relation fold (or any interpreted eval) race
  //    on the slot and corrupt each other's rows (found as a ~1/500
  //    missing-document flicker under concurrent serving +
  //    maintenance; STATUS.md "Round 11 — a real wrong-results race
  //    found, root-caused, and fixed").
  //    Ingest-side projections must therefore stay lambda-free.
  private def textDerivedUdf(cfg: Analyzer.Config) =
    udf((s: String) =>
      if (s == null) null
      else {
        val toks = Analyzer.tokenize(s, cfg)
        val terms = toks.map(t => Analyzer.stemToken(t.token, cfg)).distinct
        (toks.map(t => (t.token, t.pos)), terms,
          toks.map(_.token).mkString(" ", " ", " "))
      })

  def load(spark: SparkSession, path: String, schema: IndexSchema,
           keyExpr: Option[Column] = None,
           analyzer: Option[Analyzer.Config] = None): DataFrame = {
    enrich(spark.read.parquet(path), schema, keyExpr, analyzer)
  }

  /**
   * Field identifier resolution — the S3/S4 reader pair:
   *  - plain identifiers read a column (HASH member,
   *    attribute_data_type.h:83-116);
   *  - `col:$.path` identifiers extract a JSONPath scalar from a JSON
   *    string column (`$.a.b AS alias`, attribute_data_type.h:117-135),
   *    normalized to the same scalar form HASH values take
   *    (ft_aggregate.cc:265-267 NormalizeJsonRecord).
   */
  /** Raw source expression for an identifier (plain column, `col:$.path`
    * JSON extraction, or a bare `$.path` — the ON JSON attribute form,
    * attribute_data_type.h:117-135 — extracting from the serialized
    * document column [[graft.model.IndexSchema.DocColumn]]) — also used
    * by FT.INFO to count indexing failures against the enriched value.
    *
    * get_json_object replicates NormalizeJsonRecord + JsonUnquote
    * (attribute_data_type.cc:140-170) exactly: string values come back
    * unescaped ("" stays a present empty string), numbers/booleans as
    * their JSON literal text, arrays/objects as compact JSON, missing
    * paths as NULL (≡ NotFoundError). */
  private[graft] def sourceColumn(identifier: String): Column =
    if (isRootedJsonPath(identifier))
      get_json_object(col(graft.model.IndexSchema.DocColumn), identifier)
    else identifier.indexOf(":$") match {
      case -1 => col(identifier)
      case i => get_json_object(col(identifier.substring(0, i)), identifier.substring(i + 1))
    }

  /** A `$`-rooted JSONPath identifier (the ON JSON attribute grammar). */
  private[graft] def isRootedJsonPath(identifier: String): Boolean =
    identifier == "$" || identifier.startsWith("$.") || identifier.startsWith("$[")

  private[graft] def isJsonPath(identifier: String): Boolean =
    identifier.contains(":$") || isRootedJsonPath(identifier)

  /** Name of the preserved pre-enrichment value when enrichment
    * replaces a same-named column (numeric cast, vector sizing). */
  private[graft] def rawCol(alias: String): String = s"__${alias}__raw"

  /** Subscribed-key-prefix normalization (reference
    * index_schema.cc:321-334, table replayed from
    * index_schema_test.cc:684-733): an empty list subscribes
    * everything (≡ the "" prefix); a prefix is kept only when no
    * ALREADY-KEPT entry is a prefix of it — one declared-order pass,
    * so {"pre","prefix"} → {"pre"} but {"prefix","pre"} keeps both,
    * exactly like the reference. */
  def normalizePrefixes(prefixes: Seq[String]): Seq[String] =
    if (prefixes.isEmpty) Seq("")
    else prefixes.foldLeft(Vector.empty[String]) { (acc, p) =>
      if (acc.exists(p.startsWith)) acc else acc :+ p
    }

  /** Which keys an index with these PREFIX subscriptions covers — the
    * batch/stream analogue of the keyspace-notification prefix match:
    * one boolean predicate, pushable to the scan. A key matching
    * several prefixes is indexed once (a filter admits a row once;
    * the reference gets the same effect from the normalized set). */
  def keyPrefixPredicate(keyCol: Column, prefixes: Seq[String]): Column =
    normalizePrefixes(prefixes)
      .map(p => if (p.isEmpty) lit(true) else keyCol.startsWith(p))
      .reduce(_ || _)

  /** String → float vector, the reference's NormalizeStringRecord
    * (vector_base.cc:532-551, table replayed by vector_test.cc:293-349):
    * a leading `[` is consumed (with its trailing `]` ONLY then), the
    * body splits on `,`, empty/whitespace-only elements are skipped
    * (absl::SkipWhitespace), and every remaining element must parse as
    * a float — one bad element fails the WHOLE record to NULL
    * (≡ nullptr, an indexing failure), never a partial vector. */
  private[graft] def parseVectorString(src: Column): Column =
    parseVectorUdf(src.cast(StringType))

  // Same semantics as the former filter/transform/exists column chain,
  // in one lambda-free UDF (see textDerivedUdf for why registered-relation
  // projections must not carry HOF lambdas). The element-parse contract
  // is absl::SimpleAtof — the reference's vector-string parser
  // (vector_base.cc ingest path; strtod grammar via absl::from_chars
  // with chars_format::general): decimal/scientific spellings, plus the
  // case-insensitive inf/infinity/nan literals WITH optional sign.
  // Two deliberate divergences from Spark's try_cast(FloatType)
  // special-literal table, both in the reference's favor:
  //   * signed nan ('+nan'/'-nan') is accepted — the strtod grammar
  //     applies the sign production to nan; try_cast lists only
  //     unsigned 'nan';
  //   * Java-only spellings are REJECTED — trailing f/F/d/D suffixes
  //     ('1.5f') and hex floats ('0x1.8p1') parse under
  //     Float.parseFloat but fail SimpleAtof, so they must fail the
  //     record to NULL here exactly as the reference NULLs them.
  private val NonWs = java.util.regex.Pattern.compile("\\S")
  // The SimpleAtof decimal grammar (chars_format::general: fixed or
  // scientific, no hex, no type suffix). Float.parseFloat then does the
  // actual conversion — it accepts a superset, so the regex is the
  // gate, never the converter.
  private val SimpleAtofDec = java.util.regex.Pattern.compile(
    """[+-]?(\d+(\.\d*)?|\.\d+)([eE][+-]?\d+)?""")
  /** One float element, absl::SimpleAtof semantics (see block comment
    * above). Throws NumberFormatException on anything else. */
  private def parseFloatElement(trimmed: String): Float = {
    val (sign, mag0) =
      if (trimmed.startsWith("-")) (-1f, trimmed.substring(1))
      else if (trimmed.startsWith("+")) (1f, trimmed.substring(1))
      else (1f, trimmed)
    val mag = mag0.toLowerCase(java.util.Locale.ROOT)
    if (mag == "inf" || mag == "infinity") sign * Float.PositiveInfinity
    else if (mag == "nan") Float.NaN
    else if (SimpleAtofDec.matcher(trimmed).matches())
      java.lang.Float.parseFloat(trimmed)
    else throw new NumberFormatException(trimmed)
  }
  private[graft] val parseVectorUdf =
    udf((s: String) =>
      if (s == null) null
      else {
        val body =
          if (s.startsWith("[")) {
            val b = s.substring(1)
            if (b.endsWith("]")) b.substring(0, b.length - 1) else b
          } else s
        // absl::SkipWhitespace skips elements that are ENTIRELY
        // whitespace of any kind (tab/newline, not only 0x20)
        val elems = body.split(",", -1).filter(e => NonWs.matcher(e).find())
        val out = new Array[Float](elems.length)
        var i = 0
        var ok = true
        while (ok && i < elems.length) {
          try { out(i) = parseFloatElement(elems(i).trim) }
          catch { case _: NumberFormatException => ok = false }
          i += 1
        }
        // one bad element fails the WHOLE record to NULL (≡ nullptr, an
        // indexing failure), never a partial vector
        if (ok) out else null
      })

  /** @param legacyInvalidData pre-1.3.0 `invalid_data_drops_key`
    *   emulation (reference index_schema.cc:713-727, gated on
    *   search.emulate-release): the offending FIELD is treated as
    *   MISSING (NULL — no NaN sentinel, no whole-key drop) instead of
    *   removing the key from every index. Raw values are still
    *   preserved so FT.INFO counts the per-field failures either way. */
  def enrich(raw: DataFrame, schema: IndexSchema,
             keyExpr: Option[Column] = None,
             analyzer: Option[Analyzer.Config] = None,
             legacyInvalidData: Boolean = false): DataFrame = {
    // default: the schema's own index-level text options (FT.CREATE
    // STOPWORDS/PUNCTUATION/MINSTEMSIZE/NOSTEM)
    val idxCfg = analyzer.getOrElse(schema.analyzer)
    var df = keyExpr match {
      case Some(k) => raw.withColumn(schema.keyColumn, k.cast(StringType))
      case None =>
        if (raw.columns.contains(schema.keyColumn)) raw
        else raw.withColumn(schema.keyColumn,
          concat_ws("|", raw.columns.map(col).toIndexedSeq: _*))
    }
    // Invalid-data whole-key drop (reference index_schema.cc
    // SyncProcessMutation → RemoveKeyFromAllIndexes, enabled ≥1.3.0 and
    // exercised by the compatibility corpus' 'bad numbers'/'bad
    // vectors' goldens): a document whose ANY present indexed
    // attribute fails type conversion is removed from the index AS A
    // WHOLE — not just from the offending attribute's index. A MISSING
    // attribute is fine; present-but-unparsable drops the key. Each
    // condition reads post-enrichment columns (the preserved raw where
    // the cast replaced a same-named column, the live source
    // otherwise), so the filter composes as one pushable predicate.
    var invalidConds: List[Column] = Nil
    schema.fields.foreach { fd =>
      val src = sourceColumn(fd.identifier)
      fd.ftype match {
        case NumericField =>
          // Invalid-data exists exactly where a CONVERSION can fail:
          // string sources (wire bytes, junk text) and JSONPath
          // extractions (always strings). A NATIVE numeric column —
          // including float/double, where NaN is a representable VALUE
          // of the type — is typed data with no reference analogue
          // (the reference's sources are hash byte-strings and JSON
          // documents; its invalid-data concept IS conversion
          // failure), so it gets no validity conjunct and no raw copy:
          // the serving scan stays prunable to RETURN ∪ filter
          // identifiers (the reference's own fetch model,
          // response_generator.cc expected_fetched_identifiers —
          // pinned by ResponseGeneratorParitySpec — and the r13
          // q_json_field isolated-pair lesson: a vacuous conjunct
          // widens every scan on the index). FT.INFO's failure counter
          // applies the SAME boundary, so serving and metrics agree:
          // native NaN is data (Spark NaN ordering applies), never a
          // hash_indexing_failure.
          val srcType = df.select(src).schema.head.dataType
          val canFail = srcType == StringType
          if (canFail) {
            // NaN-sentinel encoding: NULL = field missing, NaN =
            // present-but-invalid (junk text OR a literal NaN — the
            // reference's numeric index rejects both as invalid data,
            // numeric_index_test.cc:93-95), finite = indexed value.
            // NaN is free as a sentinel precisely BECAUSE it is
            // invalid: the whole-key drop removes every NaN row from
            // the serving relation, so predicates/sorts/replies never
            // see one. The payoff is the validity conjunct below —
            // ONE evaluation of the (possibly expensive: JSONPath
            // extraction) source expression per row, where deriving
            // invalid from (src, alias) pairs re-evaluated the source
            // inside a Filter, which has no codegen subexpression
            // elimination (the r13 q_json_field isolated-pair
            // regression: 2× on a JSON-extraction scan). String
            // sources convert through the single-pass
            // [[graft.functions.try_double_or_nan]] expression.
            if (!isJsonPath(fd.identifier) && fd.alias == fd.identifier)
              // the cast REPLACES a same-named column; keep the raw
              // value reachable (column-pruned unless read) so FT.INFO
              // can count indexing failures (hash_indexing_failures)
              // and replies can serve the stored bytes. rawCol presence
              // is also FT.INFO's marker that this alias carries the
              // sentinel encoding.
              df = df.withColumn(rawCol(fd.alias), src)
            val converted = graft.functions.try_double_or_nan(src)
            if (legacyInvalidData)
              // pre-1.3.0: invalid ≡ missing — NULL the field, keep the
              // key; FT.INFO recovers the failure count from (raw
              // present, alias NULL) like the vector path
              df = df.withColumn(fd.alias,
                when(isnan(converted), lit(null).cast(DoubleType))
                  .otherwise(converted))
            else {
              df = df.withColumn(fd.alias, converted)
              invalidConds ::= isnan(col(fd.alias))
            }
          } else if (isJsonPath(fd.identifier) || fd.alias != fd.identifier ||
                     srcType != DoubleType)
            // native numeric source (incl. float — the widening cast is
            // total and NaN passes through as a value): no raw
            // preservation, no invalid conjunct, scan stays prunable
            df = df.withColumn(fd.alias, src.try_cast(DoubleType))
        case TagField(sep, caseSensitive) =>
          // aliased/JSON tag fields also need the raw value reachable
          // under the alias (RETURN projections, FT.INFO counts)
          if (fd.alias != fd.identifier || isJsonPath(fd.identifier))
            df = df.withColumn(fd.alias, src.cast(StringType))
          // one-pass JVM tokenization (split on the literal separator,
          // trim, ASCII-only fold per tag.cc:87, drop empties): the
          // former split/transform/transform/filter HOF chain inlined
          // into every TAG predicate (CollapseProject) and its
          // interpreted lambdas forced the Filter out of whole-stage
          // codegen — tags_of generates one compiled call instead
          df = df.withColumn(schema.tagsCol(fd.alias),
            graft.functions.tags_of(src.cast(StringType), sep, caseSensitive))
        case tf: TextField =>
          if (fd.alias != fd.identifier || isJsonPath(fd.identifier))
            df = df.withColumn(fd.alias, src.cast(StringType))
          val cfg = idxCfg.copy(stem = idxCfg.stem && !tf.noStem,
            minStemSize = if (tf.minStemSize > 0) tf.minStemSize
                          else idxCfg.minStemSize)
          val derived = textDerivedUdf(cfg)(src.cast(StringType))
          val tmp = s"__${fd.alias}__derived"
          df = df
            .withColumn(tmp, derived)
            .withColumn(schema.tokensCol(fd.alias), col(tmp).getField("_1"))
            .withColumn(s"__${fd.alias}__terms", col(tmp).getField("_2"))
            .withColumn(s"__${fd.alias}__joined", col(tmp).getField("_3"))
            .drop(tmp)
        case vf: VectorField =>
          // Wrong-dimension vectors are dropped from the index
          // (reference index_base.h:43-47) — represented as null here.
          if (!isJsonPath(fd.identifier) && fd.alias == fd.identifier)
            df = df.withColumn(rawCol(fd.alias), src)
          // String-encoded vectors (the JSON data-type path — a JSONPath
          // hit is always a string) parse per the reference's
          // NormalizeStringRecord (vector_base.cc:532-551); array
          // sources pass through.
          val srcIsString =
            df.select(src).schema.head.dataType == StringType
          val vecSrc = if (srcIsString) parseVectorString(src) else src
          val sized = when(size(vecSrc) === vf.dim, vecSrc).otherwise(lit(null))
          if (vf.metric == DistanceMetric.Cosine && vf.normalizeAtIngest) {
            // lambda-free (see joinedUdf): magnitude + unit-normalize as
            // UDFs instead of aggregate/transform lambdas
            df = df
              .withColumn(s"__${fd.alias}__magnitude", magnitudeUdf(sized))
              .withColumn(fd.alias, unitNormalizeUdf(sized))
          } else if (fd.alias != fd.identifier) {
            df = df.withColumn(fd.alias, sized)
          } else {
            df = df.withColumn(fd.alias, sized)
          }
          // unparsable string / wrong dimension = invalid data
          // (pre-1.3.0: the NULL alias already IS missing semantics —
          // no whole-key conjunct)
          if (!legacyInvalidData) invalidConds ::=
            (if (!isJsonPath(fd.identifier) && fd.alias == fd.identifier)
               col(rawCol(fd.alias)).isNotNull
             else src.isNotNull) && col(fd.alias).isNull
      }
    }
    // The predicate lands as a MARKER column, not a filter: createIndex
    // filters it out of the serving relation (queries/postings/ANN never
    // see invalid docs) while FT.INFO keeps the unfiltered view so
    // hash_indexing_failures still counts the skipped keys — the
    // reference's split between the index (key removed) and the
    // keyspace/metrics (key + counter remain). Absent when no field can
    // fail (typed numeric columns, no vectors): well-typed tables pay
    // nothing.
    invalidConds.reduceOption(_ || _).foreach(c =>
      df = df.withColumn(InvalidCol, coalesce(c, lit(false))))
    df
  }

  /** Marker column [[enrich]] adds when invalid data is possible: true
    * on documents the reference's whole-key drop removes from the index
    * (index_schema.cc SyncProcessMutation → RemoveKeyFromAllIndexes). */
  val InvalidCol = "__invalid"
}
