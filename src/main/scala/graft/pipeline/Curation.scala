package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Training-data curation operators — the pipeline stages between raw
 * corpus and training shards that the dedup/metrics families don't
 * cover: PII redaction, benchmark decontamination, deterministic
 * sampling, and sequence packing.
 *
 * Scale stance (100 TB): every operator here is either map-only
 * (redaction, sampling — pure codegen'd column expressions, no
 * shuffle, no UDF) or shuffles ONLY metadata-sized relations
 * (decontamination broadcasts the benchmark n-gram set and ships one
 * (key, ngram) pair per candidate hit; packing windows within shards
 * so no global sort exists anywhere).
 */
object Curation {

  // ------------------------- PII redaction ------------------------- //

  /** Email pattern (local@domain.tld). Both `java.util.regex` and RE2
    * resolve these greedy character classes identically — parity with
    * the DuckDB oracle holds by construction. */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"

  /** International-format phone: +CC NNN NNN NNNN. */
  val PhoneRe = "\\+\\d{1,2} \\d{3} \\d{3} \\d{4}"

  /** Dotted-quad IPv4 (word-bounded so version strings like
    * `1.2.3.4567` don't half-match). */
  val Ipv4Re = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"

  /**
   * Redact emails, phones and IPv4s from `textCol`: adds `redacted`
   * (the scrubbed text) and `n_pii` (replacements performed).
   * Patterns apply in sequence — email first (its local part may
   * contain digits), then phone, then IP — and each count is taken on
   * the text AS THE PREVIOUS PASS LEFT IT, so `n_pii` is exactly the
   * number of substitutions made, never a double count of overlapping
   * matches. Map-only: three codegen'd regexp passes, no shuffle.
   */
  def redactPii(df: DataFrame, textCol: String,
                emailTag: String = "<EMAIL>",
                phoneTag: String = "<PHONE>",
                ipTag: String = "<IP>"): DataFrame = {
    val t0 = col(textCol)
    val t1 = regexp_replace(t0, EmailRe, emailTag)
    val t2 = regexp_replace(t1, PhoneRe, phoneTag)
    val t3 = regexp_replace(t2, Ipv4Re, ipTag)
    df.withColumn("n_pii",
        regexp_count(t0, lit(EmailRe)) +
          regexp_count(t1, lit(PhoneRe)) +
          regexp_count(t2, lit(Ipv4Re)))
      .withColumn("redacted", t3)
  }

  // --------------------- decontamination --------------------------- //

  /** Distinct word `n`-grams of a text column: lowercase, split on
    * non-alphanumeric runs, join `n` consecutive words with single
    * spaces. Documents shorter than `n` words have no n-grams. One
    * row-local pass ([[graft.functions.WordNgrams]]) — profiled ~4 s
    * of interpreted higher-order-function time per decontamination run
    * at sf0.1 before the switch. */
  def wordShingles(textCol: Column, n: Int): Column =
    graft.functions.word_ngrams(split(lower(textCol), "[^a-z0-9]+"), n)

  /**
   * Benchmark decontamination: which candidate documents share a word
   * `n`-gram with the benchmark set (eval/test corpora that must not
   * leak into training data)? Returns `(__key, n_hits)` — one row per
   * CONTAMINATED candidate, `n_hits` = distinct shared n-grams.
   *
   * Shape for 100 TB: the benchmark n-gram set is metadata-sized
   * (eval suites are thousands of documents) and BROADCASTS; the
   * corpus explodes its n-grams map-side and semi-joins against the
   * broadcast — the corpus itself never shuffles on content. The
   * per-key aggregation shuffles only the hit pairs.
   */
  def contaminationHits(candidates: DataFrame, keyCol: String, textCol: String,
                        benchmark: DataFrame, benchTextCol: String,
                        n: Int = 8): DataFrame = {
    // NOT widened (Parallelism.ensure): measured at sf0.1, the added
    // exchanges cost more than the one-pass native n-gram expression
    // they would parallelize (isolated pair: 0.36 s → 0.88 s with the
    // widen) — the explode+broadcast-probe is shuffle-bound, not
    // compute-bound
    val benchNg = benchmark
      .select(explode(wordShingles(col(benchTextCol), n)).as("ng")).distinct()
    candidates
      .select(col(keyCol).as("__key"), explode(wordShingles(col(textCol), n)).as("ng"))
      .join(broadcast(benchNg), "ng")
      .groupBy("__key").agg(count(lit(1)).cast("double").as("n_hits"))
  }

  /** The candidates with every contaminated document REMOVED (the
    * production step after reviewing [[contaminationHits]]). */
  def decontaminate(candidates: DataFrame, keyCol: String, textCol: String,
                    benchmark: DataFrame, benchTextCol: String,
                    n: Int = 8): DataFrame =
    candidates.join(
      contaminationHits(candidates, keyCol, textCol, benchmark, benchTextCol, n)
        .select(col("__key").as(keyCol)),
      Seq(keyCol), "left_anti")

  /**
   * Serialized Bloom filter over the benchmark's distinct n-gram
   * xxhash64 values — the FIXED-SIZE broadcast for decontamination at
   * scale. [[contaminationHits]] broadcasts the n-gram STRINGS, fine
   * while eval suites are thousands of documents; when the blocklist
   * grows to ~10⁸-10⁹ n-grams the strings are gigabytes where the
   * Bloom bits are `n·ln(1/fpp)/ln²2` ≈ 2.4 bytes per n-gram at
   * fpp 1e-4 — ~10-50× smaller, with ONE-SIDED error: contaminated
   * documents are ALWAYS caught (no false negatives); clean documents
   * are over-removed at ≈ n-grams-per-doc × fpp (choose fpp
   * accordingly). Deterministic: same benchmark set → same bits
   * (insertion is order-free OR, so the distributed merge is too).
   * Built on [[graft.util.Bloom64]] — NOT Spark's sketch, whose
   * double-hashed probes measured ~3.5e-3 false admits on a filter
   * sized for 1e-6 (probe independence collapses at small bit
   * counts); Bloom64's per-probe splitmix64 mixes hold the textbook
   * rate. The build aggregates executor-side (treeAggregate of OR'd
   * bit arrays): the blocklist never collects to the driver.
   */
  def benchmarkBloom(benchmark: DataFrame, benchTextCol: String,
                     n: Int = 8, fpp: Double = 1e-4): Array[Byte] = {
    val hashes = benchmark
      .select(explode(wordShingles(col(benchTextCol), n)).as("ng"))
      .select(xxhash64(col("ng")).as("h")).distinct()
    val cnt = math.max(1L, hashes.count())
    val spark = benchmark.sparkSession
    import spark.implicits._
    hashes.as[Long].rdd
      .treeAggregate(graft.util.Bloom64.create(cnt, fpp))(
        (b, v) => { b.put(v); b }, (a, b) => a.merge(b))
      .serialize
  }

  /** [[contaminationHits]] against a [[benchmarkBloom]] filter: the
    * corpus explodes n-grams map-side and probes the Bloom bits (one
    * codegen'd hash + probe per n-gram — no join at all). `n_hits`
    * counts n-grams the filter ADMITS, so it can exceed the true hit
    * count by the fpp share; membership of the output (which docs
    * surface) is what the one-sided bound governs. */
  def contaminationHitsBloom(candidates: DataFrame, keyCol: String,
                             textCol: String, bloomBits: Array[Byte],
                             n: Int = 8): DataFrame =
    candidates
      .select(col(keyCol).as("__key"),
        explode(wordShingles(col(textCol), n)).as("ng"))
      .filter(graft.functions.bloom_might_contain(xxhash64(col("ng")), bloomBits))
      .groupBy("__key").agg(count(lit(1)).cast("double").as("n_hits"))

  /** [[decontaminate]] through the Bloom path: removes a SUPERSET of
    * the exact removals (never misses a contaminated doc; over-removes
    * clean docs at ≈ n-grams-per-doc × fpp). */
  def decontaminateBloom(candidates: DataFrame, keyCol: String,
                         textCol: String, bloomBits: Array[Byte],
                         n: Int = 8): DataFrame =
    candidates.join(
      contaminationHitsBloom(candidates, keyCol, textCol, bloomBits, n)
        .select(col("__key").as(keyCol)),
      Seq(keyCol), "left_anti")

  // ----------------------- deterministic sampling ------------------ //

  /** Stable per-key bucket in [0, 65536): the first four hex digits of
    * `md5(key)` — reproducible across engines, runs and partitionings
    * (unlike `rand()`, and unlike `TABLESAMPLE`, which samples
    * partitions). */
  def hashBucket(keyCol: Column): Column =
    conv(substring(md5(keyCol.cast("string")), 1, 4), 16, 10).cast("int")

  /** Deterministic Bernoulli-style sample: keep keys whose
    * [[hashBucket]] falls under `fraction` (granularity 1/65536).
    * Map-only; the SAME keys survive on every run at every scale, so
    * downstream joins between independently-sampled tables of the same
    * keyspace stay consistent. */
  def sampleByHash(df: DataFrame, keyCol: String, fraction: Double): DataFrame =
    df.filter(hashBucket(col(keyCol)) < math.round(fraction * 65536).toInt)

  /**
   * Deterministic stratified sample: at most `perGroup` rows per group,
   * chosen by md5-hash order of the key — the same rows survive on
   * every run, at every scale, under any partitioning (a per-group
   * `limit` has none of those properties). The window sorts within
   * each group only, so groups parallelize; for tail-heavy groups at
   * 100 TB where even a per-group sort hurts, [[sampleByTemperature]]
   * is the sort-free threshold alternative.
   */
  def sampleStratified(df: DataFrame, keyCol: String,
                       groupCols: Seq[String], perGroup: Int): DataFrame = {
    require(groupCols.nonEmpty && perGroup > 0, "need groups and perGroup > 0")
    val w = Window.partitionBy(groupCols.map(col): _*)
      .orderBy(md5(col(keyCol).cast("string")), col(keyCol))
    df.withColumn("__rk", row_number().over(w))
      .filter(col("__rk") <= perGroup).drop("__rk")
  }

  /**
   * Temperature-weighted group sampling — the multilingual / multi-
   * source mix shape (sampling weight ∝ count^alpha, the standard
   * upweight-the-tail rebalance): group g with count c_g gets weight
   * c_g^alpha / Σ c^alpha, and its keep fraction toward a `target`
   * total row count is min(1, target·w_g / c_g), applied through the
   * same deterministic [[hashBucket]] rule as [[sampleByHash]] —
   * key-stable, partitioning-independent, no sort anywhere. alpha = 1
   * reproduces proportional sampling; alpha → 0 equalizes groups.
   *
   * Plan shape: one map-side-combined count per group (metadata-
   * sized), one scalar total, keep thresholds broadcast-joined back —
   * the corpus itself is filtered map-only.
   */
  def sampleByTemperature(df: DataFrame, keyCol: String,
                          groupCols: Seq[String], alpha: Double,
                          target: Long): DataFrame = {
    require(groupCols.nonEmpty, "need group columns")
    require(alpha > 0 && target > 0, "need alpha > 0 and target > 0")
    val counts = df.groupBy(groupCols.map(col): _*)
      .agg(count(lit(1)).as("__cg"))
      .withColumn("__wg", pow(col("__cg").cast("double"), alpha))
    // Σ c^alpha: one tiny scalar job over the group-cardinality relation
    val totalW = counts.agg(sum(col("__wg"))).head().getDouble(0)
    val keep = counts.withColumn("__thresh",
        round(least(lit(1.0), lit(target.toDouble) * col("__wg") / lit(totalW)
          / col("__cg")) * 65536).cast("int"))
      .drop("__cg", "__wg")
    df.join(broadcast(keep), groupCols)
      .filter(hashBucket(col(keyCol)) < col("__thresh"))
      .drop("__thresh")
  }

  // --------------------- boilerplate-line removal ------------------ //

  /**
   * C4-style boilerplate-line removal: a non-empty line occurring in
   * ≥ `minDocs` DISTINCT documents (site headers, footers, cookie
   * banners) is dropped from every document; empty lines are
   * structural and never counted or removed. Returns exactly
   * `(keyCol, clean_text, n_removed)` — the reconstruction group-by
   * keeps only the key, so callers wanting the other input columns
   * join back on `keyCol` (deliberate: carrying every column through
   * the line explode would shuffle the whole corpus width twice).
   * Documents survive even when every line is boilerplate (empty
   * `clean_text`).
   *
   * Shape at 100 TB (this is the classic C4/RefinedWeb pass): one
   * map-side-combined distinct-doc count per line (the only corpus
   * shuffle moves (line, key) pairs once), the boilerplate set is
   * tiny BY CONSTRUCTION (lines frequent across ≥ minDocs docs), and
   * reconstruction re-groups each document's own lines — AQE picks
   * the join strategy against the small boilerplate relation.
   */
  def removeBoilerplateLines(df: DataFrame, keyCol: String, textCol: String,
                             minDocs: Int): DataFrame = {
    require(minDocs > 1, "minDocs must be > 1")
    val lines = df.select(col(keyCol).as("__key"),
        posexplode(split(col(textCol), "\n")).as(Seq("__pos", "__line")))
    val boiler = lines.filter(col("__line") =!= "")
      .select(col("__line"), col("__key")).distinct()
      .groupBy("__line").agg(count(lit(1)).as("__docs"))
      .filter(col("__docs") >= minDocs)
      .select(col("__line"), lit(true).as("__boiler"))
    lines.join(boiler, Seq("__line"), "left")
      .groupBy(col("__key"))
      .agg(
        array_join(transform(array_sort(collect_list(
          when(col("__boiler").isNull, struct(col("__pos"), col("__line"))))),
          x => x.getField("__line")), "\n").as("clean_text"),
        sum(when(col("__boiler").isNotNull, 1).otherwise(0))
          .cast("int").as("n_removed"))
      .withColumnRenamed("__key", keyCol)
  }

  // ------------------------- document chunking --------------------- //

  /**
   * Overlapping token-window chunking (the RAG / long-document
   * pretraining shape): each document splits into windows of `size`
   * whitespace tokens advancing by `size - overlap`; the last window
   * may be short; an empty document yields one empty chunk. Emits one
   * row per chunk with `chunk_idx`, `chunk_text`, `n_tok_chunk`.
   *
   * Map-only: tokenize → per-row window expansion (posexplode) — the
   * output is bounded by ~n/(size-overlap) rows per doc and no shuffle
   * exists anywhere; at 100 TB this runs at scan speed and the chunk
   * stream feeds packing/dedup/embedding stages directly.
   */
  def chunkTokens(df: DataFrame, keyCol: String, textCol: String,
                  size: Int, overlap: Int): DataFrame = {
    require(size > 0 && overlap >= 0 && overlap < size,
      "need size > 0 and 0 <= overlap < size")
    val stride = size - overlap
    val w = filter(split(col(textCol), " "), x => x =!= "")
    val n = org.apache.spark.sql.functions.size(w)
    // chunk count via integer ceil((n - overlap) / stride), min 1
    val m = greatest(lit(1),
      floor(((n - overlap + stride - 1).cast("double")) / stride).cast("int"))
    graft.util.Parallelism.ensure(df).withColumn("__w", w).withColumn("__n", n)
      .select(col(keyCol), col("__w"), col("__n"),
        posexplode(transform(sequence(lit(0), m - 1), i => struct(
          array_join(slice(col("__w"), i * stride + 1, lit(size)), " ").as("chunk_text"),
          least(lit(size), col("__n") - i * stride).as("n_tok_chunk")))))
      .select(col(keyCol), col("pos").as("chunk_idx"),
        col("col.chunk_text"), col("col.n_tok_chunk"))
  }

  // ------------------------- sequence packing ---------------------- //

  /**
   * Sequence packing (training-shard layout): documents concatenate in
   * `keyCol` order within each shard and cut every `budget` tokens; a
   * document belongs to the chunk where it STARTS. Adds `n_tok` (the
   * evaluated token count), `chunk_id` (0-based within the shard) and
   * `chunk_offset` (token offset where the document starts inside its
   * chunk).
   *
   * The window partitions by `shardCols` — there is deliberately NO
   * global variant: a corpus-wide ordered cumulative sum cannot
   * parallelize, while per-shard packing (by source, date, bucket...)
   * is embarrassingly parallel and is what a 100-TB layout job does
   * anyway. Callers wanting one global stream can pass a constant
   * shard column and eat the single partition consciously.
   */
  def packSequences(df: DataFrame, keyCol: String, tokens: Column,
                    budget: Int, shardCols: Seq[String]): DataFrame = {
    require(shardCols.nonEmpty,
      "packSequences shards by column(s); pass a constant column for a global pack")
    require(budget > 0, "budget must be positive")
    val w = Window.partitionBy(shardCols.map(col): _*)
      .orderBy(col(keyCol)).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val before = sum(tokens).over(w) - tokens // tokens packed before this doc
    df.withColumn("n_tok", tokens)
      .withColumn("chunk_id", floor(before / budget))
      .withColumn("chunk_offset", before % budget)
  }

  // ---- LM-perplexity quality scoring (CCNet-style) --------------- //

  /**
   * Token unigram counts of a reference corpus, capped to the most
   * frequent `vocabSize` tokens — the LM behind [[lmScore]]. Returns
   * (token, cnt). The cap is a TakeOrdered (partition-local heaps, no
   * global sort), so the relation is bounded by construction and
   * AQE broadcasts it in the scoring join.
   */
  def lmCounts(ref: DataFrame, textCol: String,
               vocabSize: Int = 65536): DataFrame =
    ref.select(explode(split(col(textCol), " ")).as("token"))
      .filter(col("token") =!= "")
      .groupBy("token").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("token").asc)
      .limit(vocabSize)

  /**
   * CCNet-style language-model quality score (Wenzek et al. 2020,
   * arXiv:1911.00359 — their filter ranks documents by the perplexity
   * of a reference-corpus LM): score every document by the mean
   * negative log-likelihood of its tokens under an add-k-smoothed
   * unigram LM trained on `refCounts` ([[lmCounts]] output). Returns
   * the SCORES relation `(keyCol, n_tok, nll, ppl)` — one row per
   * document with at least one token (lower ppl = closer to the
   * reference distribution). Deliberately NOT joined back onto the
   * input: scores are metadata-sized and the corpus should never
   * shuffle its text for a score lookup — the caller joins (or
   * semi-joins a ppl threshold) only where the use case needs it,
   * the same contract as [[removeBoilerplateLines]].
   *
   * Scale shape: tokens explode map-side and join the BROADCAST count
   * relation (bounded by vocabSize), then one groupBy on the doc key
   * with partial aggregation — explode preserves row locality, so
   * each doc contributes one partial per partition and the shuffle
   * carries (key, partial) pairs, never text. The published filter uses a 5-gram KenLM;
   * the unigram form keeps the engine dependency-free and
   * SQL-oracle-able, and the plan shape (broadcast LM + map-side
   * score + key-grouped mean) is identical to what a higher-order LM
   * would need.
   *
   * @param addK add-k smoothing mass; unseen tokens get
   *             addK / (total + addK·(vocab+1))
   */
  def lmScore(df: DataFrame, keyCol: String, textCol: String,
              refCounts: DataFrame, addK: Double = 1.0): DataFrame = {
    val totals = refCounts.agg(
      sum(col("cnt")).cast("double").as("__total"),
      count(lit(1)).cast("double").as("__vocab"))
    val toks = df.select(col(keyCol).as("__k"),
        explode(split(col(textCol), " ")).as("token"))
      .filter(col("token") =!= "")
    val scored = toks
      .join(broadcast(refCounts), Seq("token"), "left")
      .crossJoin(broadcast(totals))
      .select(col("__k"),
        (-log((coalesce(col("cnt").cast("double"), lit(0.0)) + lit(addK)) /
          (col("__total") + lit(addK) * (col("__vocab") + lit(1.0))))).as("__nll"))
      .groupBy("__k")
      .agg(count(lit(1)).as("n_tok"), avg("__nll").as("nll"))
      .withColumn("ppl", exp(col("nll")))
    scored.withColumnRenamed("__k", keyCol)
  }

  // ------------- DSIR importance resampling (selection) ------------- //
  // Xie/Santurkar/Ma/Liang, "Data Selection for Language Models via
  // Importance Resampling" (NeurIPS'23): score raw documents by the
  // log-likelihood ratio of hashed-n-gram bag models fit on a target
  // corpus vs the raw corpus, then resample via Gumbel top-k. The
  // Spark shape: both bucket histograms are ONE map-side-combined agg
  // each (the model is B counts — broadcastable, never the data);
  // scoring is map-only against the B-entry ratio shipped as a single
  // plan literal; selection is TakeOrderedAndProject. At 100 TB the
  // raw histogram runs on a hash-sample (distributions converge long
  // before the corpus is exhausted) — pass `df.sample` or a
  // `sampleByHash` slice as `df`; the estimator is unchanged.

  /** Hashed unigram+bigram feature buckets of `text`: lowercase
    * alphanumeric tokens; bucket = first 8 md5 hex digits mod B (md5
    * so the DuckDB oracle reproduces buckets bit-for-bit, the
    * [[sampleByHash]] convention). Tokenization stays in Catalyst
    * (`split(lower(text), "[^a-z0-9]+")`); dropping empty words, forming
    * the unigrams then bigrams and hashing each gram is one native call
    * per row ([[graft.functions.DsirBuckets]]). Map-only. */
  def dsirBuckets(text: Column, nBuckets: Int): Column =
    graft.functions.dsir_buckets(split(lower(text), "[^a-z0-9]+"), nBuckets)

  /** Bucket histogram of a corpus: B counts on the driver (this is the
    * MODEL — B ≈ 10⁴ longs — not data). One agg with map-side partial
    * combine; nothing else reaches the driver. */
  def dsirBucketCounts(df: DataFrame, textCol: String, nBuckets: Int): Array[Long] = {
    val rows = graft.util.Parallelism.ensure(df)
      .select(explode(dsirBuckets(col(textCol), nBuckets)).as("b"))
      .groupBy("b").agg(count(lit(1)).as("c")).collect()
    val out = new Array[Long](nBuckets)
    rows.foreach(r => out(r.getAs[Int]("b")) = r.getAs[Long]("c"))
    out
  }

  /** Both DSIR histograms in ONE corpus scan for the common fit shape
    * where the target is a predicate over the pool ("the English
    * subset"): per bucket, the pool count and the count over rows
    * satisfying `targetPred`. Identical counts to two
    * [[dsirBucketCounts]] calls — at half the dominant model-fit cost
    * (the n-gram explode + md5 hashing runs once, not twice). Returns
    * (target, pool). */
  def dsirBucketCountsSplit(pool: DataFrame, textCol: String,
                            targetPred: Column,
                            nBuckets: Int): (Array[Long], Array[Long]) = {
    val rows = graft.util.Parallelism.ensure(pool)
      .select(targetPred.as("__t"),
        explode(dsirBuckets(col(textCol), nBuckets)).as("b"))
      .groupBy("b").agg(count(lit(1)).as("c"),
        sum(when(col("__t"), 1L).otherwise(0L)).as("ct"))
      .collect()
    val raw = new Array[Long](nBuckets)
    val tgt = new Array[Long](nBuckets)
    rows.foreach { r =>
      raw(r.getAs[Int]("b")) = r.getAs[Long]("c")
      tgt(r.getAs[Int]("b")) = r.getAs[Long]("ct")
    }
    (tgt, raw)
  }

  /** Per-bucket log importance ratio log p̂_T(b) − log p̂_R(b), add-1
    * smoothed on both bag models (paper §2.2's hashed generative
    * models; smoothing keeps buckets unseen in either corpus finite). */
  def dsirLogRatio(target: Array[Long], raw: Array[Long]): Array[Double] = {
    require(target.length == raw.length, "histogram sizes differ")
    val b = target.length
    val tTot = target.sum.toDouble + b
    val rTot = raw.sum.toDouble + b
    Array.tabulate(b)(i =>
      math.log((target(i) + 1.0) / tTot) - math.log((raw(i) + 1.0) / rTot))
  }

  /** Add `__dsir_logw`: each doc folds its buckets over the B-entry
    * ratio literal — map-only, no join, no shuffle. */
  def dsirScore(df: DataFrame, textCol: String,
                logRatio: Array[Double]): DataFrame =
    graft.util.Parallelism.ensure(df).withColumn("__dsir_logw",
      aggregate(dsirBuckets(col(textCol), logRatio.length), lit(0.0),
        (acc, b) => acc + element_at(typedLit(logRatio.toSeq), b + 1)))

  /** Gumbel-top-k resampling, deterministic: u ∈ (0,1) from
    * md5(key‖seed), g = −ln(−ln u), keep the k largest logw + g —
    * sampling without replacement ∝ softmax(logw) (the paper's
    * resampling step), reproducible across runs and engines. The only
    * non-map operator is the bounded top-k. */
  def dsirResample(df: DataFrame, keyCol: String, textCol: String,
                   logRatio: Array[Double], k: Int,
                   seed: String = "dsir"): DataFrame = {
    val h = conv(substring(md5(concat(col(keyCol).cast("string"), lit(seed))),
      1, 8), 16, 10).cast("double")
    val u = (h + lit(0.5)) / lit(4294967296.0)
    dsirScore(df, textCol, logRatio)
      .withColumn("__dsir_score", col("__dsir_logw") - log(-log(u)))
      .orderBy(col("__dsir_score").desc, col(keyCol).cast("string").asc)
      .limit(k)
  }

  /**
   * Fused DSIR selection for the standard predicate-target shape: fit
   * ([[dsirBucketCountsSplit]] → [[dsirLogRatio]]) and select
   * ([[dsirResample]]) with the n-gram BUCKET ARRAYS computed ONCE.
   *
   * Equivalent by construction to
   * {{{
   *   val (t, r) = dsirBucketCountsSplit(pool, textCol, targetPred, nB)
   *   dsirResample(pool, keyCol, textCol, dsirLogRatio(t, r), k, seed)
   * }}}
   * — the histogram explodes, and the scorer folds, the SAME
   * materialized array the single [[dsirBuckets]] evaluation produced
   * (bucket values are deterministic per row, and the fold order is
   * the array order either way, so logw is bit-identical) — but the
   * dominant model cost (tokenize + md5 per unigram/bigram) is paid
   * once instead of twice, and the upstream `pool` plan (often a whole
   * dedup/decontamination chain) EXECUTES once instead of twice: the
   * bucketed relation is persisted across the fit action and released
   * after the selection materializes (k rows, checkpointed — callers
   * compose further stages without re-running the chain).
   */
  def dsirSelectSplit(pool: DataFrame, keyCol: String, textCol: String,
                      targetPred: Column, nBuckets: Int, k: Int,
                      seed: String = "dsir"): DataFrame = {
    val bCol = "__dsir_buckets"
    val bucketed = graft.util.Parallelism.ensure(pool)
      .withColumn(bCol, dsirBuckets(col(textCol), nBuckets))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // fit: same counts as dsirBucketCountsSplit, read off the cache
      val rows = bucketed.select(targetPred.as("__t"),
          explode(col(bCol)).as("b"))
        .groupBy("b").agg(count(lit(1)).as("c"),
          sum(when(col("__t"), 1L).otherwise(0L)).as("ct"))
        .collect()
      val raw = new Array[Long](nBuckets)
      val tgt = new Array[Long](nBuckets)
      rows.foreach { r =>
        raw(r.getAs[Int]("b")) = r.getAs[Long]("c")
        tgt(r.getAs[Int]("b")) = r.getAs[Long]("ct")
      }
      val logRatio = dsirLogRatio(tgt, raw)
      // select: dsirResample's exact expressions, folding the cached
      // array instead of re-deriving it from the text
      val h = conv(substring(md5(concat(col(keyCol).cast("string"), lit(seed))),
        1, 8), 16, 10).cast("double")
      val u = (h + lit(0.5)) / lit(4294967296.0)
      val selected = bucketed
        .withColumn("__dsir_logw",
          aggregate(col(bCol), lit(0.0),
            (acc, b) => acc + element_at(typedLit(logRatio.toSeq), b + 1)))
        .withColumn("__dsir_score", col("__dsir_logw") - log(-log(u)))
        .orderBy(col("__dsir_score").desc, col(keyCol).cast("string").asc)
        .limit(k)
        .drop(bCol)
      // k rows: eager checkpoint so the cache can be released before
      // the caller composes downstream stages
      selected.localCheckpoint(eager = true)
    } finally bucketed.unpersist(blocking = false)
  }
}
