package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Document deduplication for large-scale training-data pipelines:
 * exact, MinHash+LSH, SimHash and n-gram-Jaccard near-dup detection.
 *
 * Scale design — filter, then verify:
 *  - signatures (shingles, MinHash, SimHash) are row-local column
 *    expressions — map-only, no shuffle, whole-stage codegen;
 *  - every banded family (MinHash bands, SimHash/dHash Hamming cells,
 *    embedding sign-LSH bands, n-gram shingles) finds its candidates
 *    through ONE operator, [[bucketPairs]]: one shuffle into per-bucket
 *    member lists, a per-list cap and salting decided from the list's
 *    own size, then codegen'd pair emission — never a cross join or a
 *    band self-join;
 *  - each family keeps only its verifier: n-gram counts the pairs,
 *    MinHash takes them distinct through a sketch prefilter and exact
 *    Jaccard, Hamming takes `bit_count(xor)`, embedding LSH takes exact
 *    cosine;
 *  - at 100 TB the only all-pairs work happens inside buckets, whose
 *    expected size is O(1) for a fixed collision threshold.
 *
 * All hashing is seeded and deterministic (xxhash64 + affine rehash
 * mod 2^31−1), so signatures are stable across runs and executors.
 */
object Dedup {

  private val MersennePrime = 2147483647L // 2^31 − 1

  /**
   * Materialize a (small: near-dup pairs) result eagerly via a local
   * checkpoint, then release the intermediate persisted relations the
   * plan no longer needs. Keeps the persist lifecycle inside the
   * operator: callers get a self-contained DataFrame and executors
   * retain no shingle/band caches after the call returns.
   */
  private def materializeAndRelease(result: DataFrame,
                                    intermediates: DataFrame*): DataFrame =
    // finally: a failed materialization (task failure, cancellation)
    // must release the intermediates too — a long-lived driver session
    // retrying a flaky corpus would otherwise accumulate them
    try result.localCheckpoint(eager = true)
    finally intermediates.foreach(_.unpersist(blocking = false))

  /** Distinct word n-gram shingles of a whitespace-tokenized text.
    * Built by iterated zip_with(acc, ws[k..]) so every lambda touches
    * only its own elements — slicing the outer `ws` tree inside a
    * transform lambda would defeat subexpression elimination and
    * re-split the text per shingle, O(tokens²)/doc (the HOF-lambda
    * rule, STATUS round 8; hot paths use the one-pass JVM
    * [[graft.functions.HashedShingles]] instead). Incomplete tail
    * positions stay null through the fold (zip_with pads, concat
    * propagates) and are filtered once at the end. */
  def shingles(text: Column, n: Int): Column = {
    val ws = split(text, " ")
    if (n == 1) array_distinct(ws)
    else {
      val full = (2 to n).foldLeft(ws) { (acc, k) =>
        zip_with(acc, slice(ws, lit(k), greatest(size(ws) - (k - 1), lit(0))),
          (a, b) => concat(a, lit(" "), b))
      }
      array_distinct(filter(full, x => x.isNotNull))
    }
  }

  /**
   * Sorted-distinct 64-bit hashes of the same shingles, computed in one
   * row-local JVM loop ([[graft.functions.HashedShingles]]). Set
   * operations (Jaccard, MinHash, posting joins) are hash-equivalent,
   * and the relation is ~4× smaller to cache/shuffle than the strings —
   * the representation every dedup pipeline here uses internally.
   */
  def hashedShingles(text: Column, n: Int): Column =
    graft.functions.hashed_shingles(split(text, " "), n)

  /**
   * Exact duplicate grouping by content hash (the 100 TB-safe version
   * of GROUP BY text: hash first so the shuffle moves 16-byte keys,
   * not documents).
   */
  def exactDupGroups(df: DataFrame, keyCol: String, textCol: String): DataFrame =
    df.select(col(keyCol).cast("string").as("__key"),
        md5(col(textCol)).as("content_hash"))
      .groupBy("content_hash")
      .agg(count(lit(1)).cast("double").as("n_dups"),
        min("__key").as("keep_key"))

  /** Deterministic affine rehash coefficients for MinHash. */
  private def coeffs(numHashes: Int, seed: Long): (Array[Long], Array[Long]) = {
    val rnd = new scala.util.Random(seed)
    val a = Array.fill(numHashes)(1L + math.abs(rnd.nextLong()) % (MersennePrime - 1))
    val b = Array.fill(numHashes)(math.abs(rnd.nextLong()) % MersennePrime)
    (a, b)
  }

  /**
   * MinHash signature: array<long> of `numHashes` minima of affine
   * rehashes of xxhash64(shingle). Row-local; O(|shingles|·numHashes).
   *
   * Implemented as a native expression ([[graft.functions.MinHashSig]])
   * with one tight JVM loop per row. The naive
   * "numHashes × array_min(transform(shingles, …))" HOF form lets
   * CollapseProject inline the shingle-construction expression into
   * every branch — re-tokenizing each row numHashes times, measured
   * ~16× slower at sf0.1 — and HOF lambdas are interpreted per
   * (shingle × hash) pair besides.
   */
  def minhashSignature(shingleCol: Column, numHashes: Int = 128,
                       seed: Long = 42L): Column = {
    val (a, b) = coeffs(numHashes, seed)
    graft.functions.minhash_sig(shingleCol, a, b)
  }

  /**
   * LSH banding: emit (bandIdx, bandHash) per band; docs sharing any
   * band bucket become candidate pairs. bands × rowsPerBand must equal
   * the signature length. Band j hashes as
   * `xxhash64(j, concat_ws(",", slice(sig, j·rowsPerBand + 1, rowsPerBand)))`,
   * computed for all bands in one native call per row
   * ([[graft.functions.BandKeys]]); the Column formula unrolled one
   * cast/join/hash branch per band into the generated code.
   */
  def bandKeys(sig: Column, bands: Int, rowsPerBand: Int): Column =
    graft.functions.band_keys(sig, bands, rowsPerBand)

  /** Sentinel for [[minhashNearDups]]' `maxBandFreq`: derive the cap
    * from the corpus' own band-bucket histogram (see the hot-bucket
    * guard notes in the method body). */
  val BandFreqAuto: Option[Int] = Some(-1)

  /** Data-driven `maxBandFreq` (the reference planner's crossover
    * pattern, src/query/planner.cc:21-46 — decide from measured
    * cardinalities, not a constant): from the band-bucket SIZE
    * histogram (a tiny (size, buckets) relation), pick the
    * LARGEST cap whose surviving banded pair mass Σ_{n ≤ cap} m·C(n,2)
    * stays within `budgetPerDoc · nDocs` — candidates linear in the
    * corpus, the invariant that makes sharp bandings (4 rows/band,
    * τ=0.5) complete at 100× instead of drowning in O(corpus²)
    * common-shingle buckets. Floored at [[BandFreqFloor]]: true
    * near-dup pairs surface through pair-specific SMALL buckets (they
    * share rare shingles), so any cap ≥ the floor keeps the guard's
    * recall argument; on the driver's gate corpora every bucket is
    * under the floor (sf0.01 max ≈ tens), so the auto cap never binds
    * there and the capped gate stays hash-equal to the uncapped
    * oracle. */
  val BandFreqFloor = 64
  val BandFreqBudgetPerDoc = 64L
  private[graft] def deriveBandFreq(sizes: Array[(Long, Long)],
                                    bands: Int): Int = {
    // nDocs falls out of the histogram itself: every doc emits exactly
    // `bands` banded rows, so Σ n·m = nDocs · bands — no extra scan
    val sorted = sizes.sortBy(_._1)
    val nDocs = math.max(1L, sorted.map { case (n, m) => n * m }.sum / bands)
    val budget = BandFreqBudgetPerDoc * nDocs
    // a single cap admits ALL buckets ≤ it, so the choice is a prefix
    // walk: accumulate pair mass ascending and stop at the first size
    // that busts the budget (floor-sized buckets are always admitted)
    var surviving = 0L
    var cap = BandFreqFloor.toLong
    var done = false
    sorted.foreach { case (n, m) =>
      if (!done) {
        val mass = m * n * (n - 1) / 2
        if (n <= BandFreqFloor || surviving + mass <= budget) {
          surviving += mass
          cap = math.max(cap, n)
        } else done = true
      }
    }
    math.min(cap, Int.MaxValue.toLong).toInt
  }

  /** (k, sh) rows: a document key and its hashed shingles. The shingle
    * hashing runs under `eval_once`, so a filter later placed on `sh`
    * or `k` stays above this projection: pushed below it (and below a
    * widening exchange), it would re-hash the text once per reference
    * (`explode(sh)` infers `size(sh) > 0 AND isnotnull(sh)`). */
  private def shingled(df: DataFrame, keyCol: String, textCol: String,
                       shingleN: Int): DataFrame =
    df.select(col(keyCol).as("k"),
      graft.functions.eval_once(hashedShingles(col(textCol), shingleN)).as("sh"))

  /** (k, sig, sz) rows of a (k, sh) relation: the MinHash signature and
    * the shingle-set size. */
  private def signatures(sh: DataFrame, numHashes: Int, seed: Long): DataFrame =
    sh.select(col("k"), minhashSignature(col("sh"), numHashes, seed).as("sig"),
      size(col("sh")).as("sz"))

  /** (band, bh, m) member rows of a (k, sig) relation: one per band
    * bucket, `m` = struct(k). */
  private def bandRows(sigs: DataFrame, bands: Int, rowsPerBand: Int): DataFrame =
    sigs.select(struct(col("k")).as("m"),
        explode(bandKeys(col("sig"), bands, rowsPerBand)).as("bk"))
      .select(col("bk.band").as("band"), col("bk.bh").as("bh"), col("m"))

  /** (buckets…, freq): the member count of every bucket. */
  private def bucketFreqs(rows: DataFrame, buckets: Seq[String]): DataFrame =
    rows.groupBy(buckets.map(col): _*).agg(count(lit(1)).as("freq"))

  /** The list SIZE histogram (size n → m lists) of [[bucketLists]]
    * output — what [[deriveBandFreq]] reads. */
  private def listSizeHistogram(lists: DataFrame): Array[(Long, Long)] =
    lists.groupBy(size(col("ms")).cast("long").as("n")).agg(count(lit(1)).as("m"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))

  /** The cap [[BandFreqAuto]] would choose for this corpus/banding —
    * the disclosure companion ([[cappedBandBuckets]] takes an explicit
    * cap; this recomputes the histogram the detector derives from, so
    * a capped run's drop set stays checkable under auto too). */
  def autoBandFreq(df: DataFrame, keyCol: String, textCol: String,
                   shingleN: Int = 2, numHashes: Int = 128, bands: Int = 32,
                   seed: Long = 42L): Int = {
    val sigs = signatures(shingled(df, keyCol, textCol, shingleN), numHashes, seed)
    val lists = bucketLists(bandRows(sigs, bands, numHashes / bands), Seq("band", "bh"))
    deriveBandFreq(listSizeHistogram(lists), bands)
  }

  /**
   * MinHash+LSH near-duplicate pairs, verified with exact shingle
   * Jaccard ≥ `threshold`. Returns (key_a, key_b, jaccard) with
   * key_a < key_b. Probabilistic recall (standard LSH S-curve),
   * exact precision (verification step).
   *
   * `maxBandFreq`: `Some(n)` caps hot band buckets at n members;
   * `None` disables the cap; the default [[BandFreqAuto]] derives the
   * cap from the corpus' own band-bucket histogram (see
   * [[deriveBandFreq]]) — scale-safe without hand-tuning.
   */
  def minhashNearDups(df: DataFrame, keyCol: String, textCol: String,
                      shingleN: Int = 2, numHashes: Int = 128, bands: Int = 32,
                      threshold: Double = 0.7, seed: Long = 42L,
                      sketchPrefilter: Boolean = true,
                      maxBandFreq: Option[Int] = BandFreqAuto): DataFrame = {
    val rowsPerBand = numHashes / bands
    require(bands * rowsPerBand == numHashes, "bands must divide numHashes")
    // Persist the (k, hashed shingles) base: it feeds the signature
    // pipeline AND both sides of the verification join — without the
    // persist the shingle construction executes three times (no subplan
    // reuse across DataFrame join branches).
    // widen a byte-small input: shingle hashing + signatures are the
    // compute wall (scale-adaptive — no-op when the scan already has
    // ≥ cores partitions)
    val base = shingled(graft.util.Parallelism.ensure(df), keyCol, textCol, shingleN)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // Persist the fixed-width (k, sig, sz) relation: the signature is
    // the expensive upstream (O(|shingles|·numHashes) per doc) and
    // feeds the banding, the auto-cap histogram and the verify
    // prefilter below — without the persist it would be recomputed per
    // consumer. ~1 KB/doc at the default 128 hashes.
    val sigs = signatures(base, numHashes, seed)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    // Hot-bucket guard (the banding analogue of ngramJaccardPairs'
    // maxShingleFreq stop-shingle cap): a band bucket's candidate
    // contribution is C(members, 2), and on natural text sharp
    // bandings (few rows/band) grow buckets CORRELATED with common
    // shingles — every doc containing the globally-minimal common
    // shingles for a band's hash functions lands in one bucket, so
    // the bucket is O(corpus) and its pair count O(corpus²) [measured:
    // at 100× data the 4-row τ=0.5 banding puts 2.14e9 of 2.43e9
    // banded pair rows in 329 buckets of >1000 members — one 28,649-
    // member bucket alone implies 4.1e8 pairs, all J≈0.05 rejects].
    // Buckets over the cap are dropped from candidate generation; a
    // pair is missed IFF ALL its agreeing bands are capped
    // ([[cappedBandBuckets]] disclosure, checkable per pair like the
    // hamming tier's [[cappedCells]]). A true near-dup pair shares
    // its RARE shingles too, so its agreeing bands include pair-
    // specific small buckets; the capped buckets are precisely the
    // common-min ones that carry no near-dup signal. None disables.
    //
    // Auto ([[BandFreqAuto]]) reads the cap off the lists' own size
    // histogram, so the lists are persisted: built once, read by the
    // histogram job and the pair emission (each plan scans them once).
    val auto = maxBandFreq.exists(_ < 0)
    val lists = {
      val l = bucketLists(bandRows(sigs, bands, rowsPerBand), Seq("band", "bh"))
      if (auto) l.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK) else l
    }
    val cap = if (auto) Some(deriveBandFreq(listSizeHistogram(lists), bands)) else maxBandFreq
    val cands = listPairs(lists, cap, saltAbove = None, saltGroups = 1)
      .select(col("a.k").as("key_a"), col("b.k").as("key_b"))
      .distinct()

    // Candidate-pair size is DATA-DEPENDENT (dup-heavy or short-doc
    // corpora push LSH candidates into the tens of millions), so the
    // verify joins must NOT force a broadcast: the r10 100× rehearsal
    // killed a forced broadcast(cands) here with driver.maxResultSize
    // (1.1 GiB of candidate pairs). AQE picks broadcast when the
    // runtime size is actually small and falls back to a shuffled
    // join when it is not.
    //
    // STAGE 1 — fixed-width prefilter (r10 verdict #4): the exact
    // verify payload is O(candidates × |shingle set|), which a sharp
    // low-threshold banding (4 rows/band → J⁴ false-positive tail)
    // turns into an ~80 GB single-box shuffle at 100× data. The first
    // pass ships only a 1-byte-per-component b-bit minwise sketch
    // (Li & König, CACM '11) plus the set size per side:
    //  - size bound (EXACT): J(A,B) ≤ min(|A|,|B|)/max(|A|,|B|), so
    //    pairs failing it cannot qualify — never drops a true pair;
    //  - sketch bound (4σ): the corrected byte-agreement estimate is
    //    unbiased for J with σ ≤ 0.5/√numHashes; cutting at
    //    threshold − 2/√numHashes keeps a qualifying pair unless its
    //    estimate sits > 4σ below its mean (P < 3.2e-5 — far inside
    //    the operator's documented LSH S-curve recall term).
    // Survivors — the true pairs plus a thin near-threshold shell —
    // pay the exact shingle-set verify in STAGE 2. Precision stays
    // exact either way.
    val verified = if (sketchPrefilter) {
      val sk = sigs.select(col("k"),
        graft.functions.sig_pack_bytes(col("sig")).as("p8"), col("sz"))
      val est = (graft.functions.byte_agree_frac(col("p8_a"), col("p8_b"))
        - lit(1.0 / 256)) * lit(256.0 / 255)
      val margin = 2.0 / math.sqrt(numHashes.toDouble)
      cands
        .join(sk.select(col("k").as("key_a"), col("p8").as("p8_a"),
          col("sz").as("sz_a")), "key_a")
        .join(sk.select(col("k").as("key_b"), col("p8").as("p8_b"),
          col("sz").as("sz_b")), "key_b")
        .filter(least(col("sz_a"), col("sz_b")).cast("double") >=
          lit(threshold) * greatest(col("sz_a"), col("sz_b")).cast("double"))
        .filter(est >= lit(threshold - margin))
        .select("key_a", "key_b")
    } else cands
    // STAGE 2 — exact verify on the survivors only: the cached
    // shingle relation shuffles narrow (k, sh) rows.
    val withSh = verified
      .join(base.select(col("k").as("key_a"), col("sh").as("sh_a")), "key_a")
      .join(base.select(col("k").as("key_b"), col("sh").as("sh_b")), "key_b")
    val result = withSh
      .withColumn("jaccard", jaccard(col("sh_a"), col("sh_b")))
      .filter(col("jaccard") >= threshold)
      .select(col("key_a").cast("string").as("key_a"),
        col("key_b").cast("string").as("key_b"), col("jaccard"))
    materializeAndRelease(result, base, sigs, lists)
  }

  /**
   * Disclosure for [[minhashNearDups]]' `maxBandFreq` guard (the
   * minhash analogue of [[cappedCells]]): the (band, bh, freq) band
   * buckets the cap DROPS from candidate generation, built by the
   * detector's own shingle→signature→banding helpers so it counts
   * exactly the lists the detector drops. The recall bound it
   * makes checkable: a pair present at `maxBandFreq = None` is absent
   * from the capped run IFF every band the two signatures agree on
   * hashes into one of these buckets (agreement is recomputable per
   * pair from [[minhashSignature]] + [[bandKeys]]). Empty when the
   * cap never binds — the common case away from sharp bandings.
   */
  def cappedBandBuckets(df: DataFrame, keyCol: String, textCol: String,
                        shingleN: Int = 2, numHashes: Int = 128,
                        bands: Int = 32, seed: Long = 42L,
                        maxBandFreq: Int = 1000): DataFrame = {
    val rowsPerBand = numHashes / bands
    require(bands * rowsPerBand == numHashes, "bands must divide numHashes")
    val sigs = signatures(shingled(df, keyCol, textCol, shingleN), numHashes, seed)
    bucketFreqs(bandRows(sigs, bands, rowsPerBand), Seq("band", "bh"))
      .filter(col("freq") > maxBandFreq)
  }

  /**
   * Curation convenience: drop near-duplicates, keeping one document
   * per duplicate pair-chain. Greedy keep-lowest-key policy: any doc
   * appearing as the GREATER side of a near-dup pair is dropped — the
   * standard single-pass policy for training-data dedup (a full
   * connected-components pass would need iterative joins; greedy
   * removal is the accepted approximation and never drops BOTH sides
   * of a pair).
   *
   * @param pairs (key_a, key_b) near-dup pairs with key_a < key_b, from
   *              any of the detectors in this object
   */
  def dropNearDups(df: DataFrame, keyCol: String, pairs: DataFrame): DataFrame = {
    val losers = pairs.select(col("key_b").as("__loser")).distinct()
    df.join(losers, col(keyCol).cast("string") === col("__loser"), "left_anti")
  }

  /** Exact Jaccard of two distinct-element arrays. */
  def jaccard(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b)).cast("double")
    val uni = (size(a) + size(b)).cast("double") - inter
    when(uni === 0, lit(1.0)).otherwise(inter / uni)
  }

  /**
   * The candidate generator every banded near-dup family shares
   * (filter-then-verify: this is the filter, each family keeps its
   * verifier). Member rows `(buckets…, m)` — `m` a struct whose first
   * field is the key `k` — shuffle ONCE into per-bucket member lists
   * sorted by `m` (the inverted-index pattern), and each list emits its
   * member pairs `(a, b)` with `a.k < b.k` through codegen'd generators
   * (`posexplode` of the list, `explode` of the slice after each
   * position): one row per bucket the pair shares, so a family counts
   * them or takes them `distinct`. Null and repeated keys never pair,
   * but they count toward a list's size.
   *
   * Skew is a per-list decision taken from the list's own size:
   *  - a list longer than `cap` is dropped (the family's disclosed
   *    recall cap; None keeps every list). It is still built once, so a
   *    capped bucket costs its member rows, never its pair count;
   *  - a list longer than `saltAbove` is cut into `saltGroups`
   *    contiguous slices, emitted as g(g+1)/2 slice-pair units — a
   *    same-slice unit pairs within its slice, a cross unit pairs the
   *    lower slice's members with the higher one's — and with salting
   *    on, every unit goes through one round-robin repartition, so a
   *    hot bucket's pair work lands on many tasks instead of one
   *    straggler. Each pair lies in exactly one unit: same pairs for
   *    any g. None keeps every list one unit in the list shuffle's own
   *    AQE-sized layout (forcing the spread on the small LSH buckets of
   *    the sf0.1 gates cost more in task overhead than it saved).
   *
   * Why one read of the input, and no join: a band self-join reads its
   * input once per side and per hot-set probe. Over a persisted input
   * AQE plans each such scan as its own TableCacheQueryStage and reuses
   * NO exchange above them (measured on a 6,000-doc corpus: 10 cache
   * scans, ReusedExchange 8 → 0, 48 stages against 11 on the same input
   * uncached; STATUS.md, top section).
   */
  private[graft] def bucketPairs(members: DataFrame, buckets: Seq[String],
                                 cap: Option[Int], saltAbove: Option[Int],
                                 saltGroups: Int): DataFrame =
    listPairs(bucketLists(members, buckets), cap, saltAbove, saltGroups)

  /** [[bucketPairs]]' first half: (buckets…, ms) — each bucket's
    * member structs, sorted — in one shuffle. */
  private def bucketLists(members: DataFrame, buckets: Seq[String]): DataFrame =
    members.groupBy(buckets.map(col): _*)
      .agg(sort_array(collect_list(col("m"))).as("ms"))

  /** [[bucketPairs]]' second half: the pairs of [[bucketLists]] output. */
  private def listPairs(lists: DataFrame, cap: Option[Int], saltAbove: Option[Int],
                        saltGroups: Int): DataFrame = {
    require(saltGroups >= 1, s"saltGroups must be >= 1, got $saltGroups")
    val g = saltGroups
    val n = size(col("ms"))
    val kept = lists.filter(n.between(2, cap.getOrElse(Int.MaxValue)))
    // unit (i, j) of a list cut into slices of c members: slice i against
    // slice j; an unsalted list is the single unit (0, 0) with c = n
    val hot = saltAbove.fold(lit(false))(t => n > t)
    val triangle = (for (i <- 0 until g; j <- i until g) yield (i, j)).toList
    val c = when(hot, ceil(n / g).cast("int")).otherwise(n)
    def sliceOf(u: String) = slice(col("ms"), col(u) * col("c") + 1, col("c"))
    // eval_once: the posexplode's inferred non-empty filter on `xs` would
    // otherwise sink below this projection and slice `ms` twice more
    val units = kept
      .select(col("ms"), c.as("c"),
        explode(when(hot, typedLit(triangle)).otherwise(typedLit(Seq((0, 0))))).as("u"))
      .select(graft.functions.eval_once(sliceOf("u._1")).as("xs"),
        when(col("u._1") =!= col("u._2"), sliceOf("u._2")).as("ys"))
    // salting spreads a hot list's units over tasks: the list shuffle is
    // byte-small but its pair work quadratic, so AQE would coalesce it
    // into too few tasks
    saltAbove.fold(units)(_ => units.repartition(
        lists.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt))
      // a same-slice unit (ys null) pairs each member with those after it
      .select(col("xs"), col("ys"), posexplode(col("xs")).as(Seq("i", "a")))
      .select(col("a"), explode(coalesce(col("ys"),
        slice(col("xs"), col("i") + 2, size(col("xs")) - col("i") - 1))).as("b"))
      .filter(col("a.k") < col("b.k"))
  }

  /**
   * Exact n-gram Jaccard near-dup pairs in ONE pass over the input: no
   * cross join, self-join, broadcast anti/semi-join or size join. Each
   * doc's hashed shingles explode into (shingle, {key, set size}) rows
   * that [[bucketPairs]] groups per shingle and pairs; `common` is a
   * pair's row count, and Jaccard follows from the set sizes the members
   * carry. `keyCol` must be unique per row (a document key); null keys
   * never pair and do not count toward a shingle's frequency.
   *
   * `maxShingleFreq` drops lists longer than that many docs — the
   * standard stop-shingle guard against skew at scale. It defaults ON
   * (1000): a shingle shared by >1000 documents carries no near-dup
   * signal but makes its list's pair work quadratic; pass None only for
   * exact-Jaccard oracle runs on corpora known to be skew-free.
   *
   * `saltAbove` keeps the MIDDLE band exact instead of relying on the
   * cap alone: a list longer than `saltAbove` is spread over
   * `saltGroups`(`saltGroups`+1)/2 slice-pair units (see
   * [[bucketPairs]]) — same pairs, same Jaccard. None (default) keeps
   * every list one unit.
   *
   * No persist: the operator reads its input once, so a persisted
   * input costs one cache scan (PipelineSpec pins it).
   */
  def ngramJaccardPairs(df: DataFrame, keyCol: String, textCol: String,
                        shingleN: Int = 2, threshold: Double = 0.5,
                        maxShingleFreq: Option[Int] = Some(1000),
                        saltAbove: Option[Int] = None,
                        saltGroups: Int = 8): DataFrame = {
    val members = shingled(graft.util.Parallelism.ensure(df), keyCol, textCol, shingleN)
      .filter(col("k").isNotNull)
      .select(struct(col("k"), size(col("sh")).as("sz")).as("m"),
        explode(col("sh")).as("s"))
    bucketPairs(members, Seq("s"), maxShingleFreq, saltAbove, saltGroups)
      // length filter: J <= min/max of the set sizes (both sides rounded
      // by the same division, so no pair that passes below is dropped)
      .filter(least(col("a.sz"), col("b.sz")) / greatest(col("a.sz"), col("b.sz")) >= threshold)
      .groupBy(col("a.k").as("key_a"), col("b.k").as("key_b"),
        col("a.sz").as("sz_a"), col("b.sz").as("sz_b"))
      .agg(count(lit(1)).cast("double").as("common"))
      .withColumn("jaccard",
        col("common") / (col("sz_a") + col("sz_b") - col("common")))
      .filter(col("jaccard") >= threshold)
      .select(col("key_a").cast("string").as("key_a"),
        col("key_b").cast("string").as("key_b"), col("jaccard"))
  }

  /**
   * 64-bit SimHash over distinct whitespace tokens — row-local, no
   * shuffle: per token, each of the 64 bits of h(token) votes ±1; the
   * sign of each counter becomes the output bit. Native expression
   * ([[graft.functions.SimHash64]]) — the HOF form interprets a lambda
   * per (token × bit) pair.
   */
  def withSimhash64(df: DataFrame, textCol: String, outCol: String): DataFrame =
    df.withColumn(outCol,
      graft.functions.simhash64(array_distinct(split(col(textCol), " "))))

  /** (k, hash, band, bv) rows of a (k, hash) relation: the four 16-bit
    * pigeonhole cells of each 64-bit hash. */
  private def cellRows(rows: DataFrame): DataFrame =
    rows.select(col("k"), col("hash"),
        explode(array((0 until 4).map(j => struct(lit(j).as("band"),
          shiftrightunsigned(col("hash"), j * 16).bitwiseAND(lit(0xFFFFL)).as("bv"))): _*))
          .as("bk"))
      .select(col("k"), col("hash"), col("bk.band").as("band"), col("bk.bv").as("bv"))

  /** The identical-hash class tier over non-null (k, hash) rows:
    * `members` — every row with its class's min key `rep` and size
    * `m` — and the cell-candidate set: the (k, hash) rows of classes of
    * ≤ `cliqueCap` plus ONE (rep, hash) row per larger class. */
  private def hashClasses(sigs: DataFrame, cliqueCap: Int): (DataFrame, DataFrame) = {
    val classes = sigs.groupBy(col("hash"))
      .agg(min(col("k")).as("rep"), count(lit(1)).as("m"))
    val members = sigs.join(classes, Seq("hash"))
    val joinSet = members.filter(col("m") <= cliqueCap).select(col("k"), col("hash"))
      .unionByName(classes.filter(col("m") > cliqueCap)
        .select(col("rep").as("k"), col("hash")))
    (members, joinSet)
  }

  /**
   * Guarded all-pairs Hamming near-dup core over a `(k, hash)` relation
   * (64-bit hashes, 4×16-bit pigeonhole bands): any pair within Hamming
   * distance ≤ 3 must agree on at least one whole band, so candidates
   * come from the band cells through [[bucketPairs]] and
   * `bit_count(xor)` verifies. Dispersed hashes need nothing more, but
   * degenerate corpora (blank images, silent audio, boilerplate pages
   * all land on ONE identical hash) would put O(modal²) pair work in
   * each of that hash's cells. Two guards:
   *
   *  1. **Identical hashes are exact dups** (hamming = 0) — they group,
   *     they don't band. A class of ≤ `cliqueCap` members emits its
   *     exact pair clique (one [[bucketPairs]] list per class); a larger
   *     class emits a STAR from its min-key representative — O(m) edges
   *     that keep the class connected. Downstream consumers are
   *     unaffected: connected components and [[dropNearDups]] survivors
   *     are IDENTICAL under star edges (the component's min key never
   *     has a smaller neighbor in either graph; every other member keeps
   *     one). The cells then see members of small classes but only the
   *     REPRESENTATIVE of a > `cliqueCap` class, so a modal class adds
   *     one member per cell, not millions (cross edges to it attach at
   *     its rep; connectivity via its star).
   *  2. **Hot cells salt, hotter cells cap**: a cell over `saltAbove`
   *     members is spread over g(g+1)/2 slice-pair units (same pairs);
   *     a cell over both `saltAbove` and `maxBandFreq` is dropped — a
   *     DISCLOSED recall cap ([[cappedCells]]: a pair is missed only if
   *     ALL its agreeing bands are capped); pass None for the exact
   *     oracle configuration.
   *
   * The class tier runs only when a class exceeds `cliqueCap` or a
   * cell exceeds `saltAbove`; otherwise the cells alone give the same
   * pairs, identical hashes included. The cell histogram decides it
   * cheaply: at most 4·2^16 cells, so map-side partial aggregation
   * bounds its shuffle however large the corpus, and a class lands
   * whole in each of its four cells, so the hottest cell bounds the
   * largest class. Only a corpus whose hottest cell falls between
   * `cliqueCap` and `saltAbove` pays an exact class count (the sf0.1
   * `p_dedup_simhash` corpus: hottest cell 1,362, largest class 281).
   *
   * Null hashes never pair: they are filtered up front — otherwise
   * groupBy(hash) would fuse every null-hash row (e.g. simhash of null
   * text) into one giant spurious "identical" class, declaring distinct
   * documents exact dups. Keys are expected unique per row (document or
   * media ids): cell pairs are distinct, but the class tier emits its
   * clique and star edges per member row, so a repeated key repeats them.
   */
  // saltAbove calibrates to TASK time, not row count: an 8192-row cell
  // is ~32M pair-checks — sub-second in one task; salting below that
  // buys nothing.
  private[graft] def hammingNearDups(hashes: DataFrame, maxHamming: Int,
                                     cliqueCap: Int = 1000,
                                     saltAbove: Int = 8192, saltGroups: Int = 8,
                                     maxBandFreq: Option[Int] = Some(100000)): DataFrame = {
    require(maxHamming <= 3, "4-band pigeonhole guarantees recall only for distance <= 3")
    // Persist the NARROW (k, hash) relation — computing `hash`
    // upstream (e.g. simhash over full text) is the expensive part;
    // it feeds the cell stat and the pairs job.
    val sigs = hashes.filter(col("hash").isNotNull).select(col("k"), col("hash"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // a cell is dropped only past BOTH thresholds
    val cellCap = maxBandFreq.map(math.max(_, saltAbove))
    val cRow = bucketFreqs(cellRows(sigs), Seq("band", "bv"))
      .agg(max(col("freq"))).collect()(0)
    val maxCell = if (cRow.isNullAt(0)) 0L else cRow.getLong(0)
    // the exact largest class, paid only in the band where the cell stat
    // cannot bound it (cliqueCap < maxCell ≤ saltAbove) — an ~n-group
    // shuffle that partial aggregation cannot compress
    def maxClass = {
      val mRow = sigs.groupBy(col("hash")).agg(count(lit(1)).as("m"))
        .agg(max(col("m"))).collect()(0)
      if (mRow.isNullAt(0)) 0L else mRow.getLong(0)
    }
    val tiered = maxCell > saltAbove || (maxCell > cliqueCap && maxClass > cliqueCap)
    // in the tiered plan the class tier owns every hamming-0 pair
    val minHamming = if (tiered) 1 else 0
    def cellPairs(rows: DataFrame) = bucketPairs(
        cellRows(rows).select(col("band"), col("bv"),
          struct(col("k"), col("hash")).as("m")),
        // no list can pass saltAbove unless the hottest cell does
        Seq("band", "bv"), cellCap, Some(saltAbove).filter(_ < maxCell), saltGroups)
      .select(col("a.k").as("key_a"), col("b.k").as("key_b"),
        bit_count(col("a.hash").bitwiseXOR(col("b.hash"))).as("hamming"))
      .filter(col("hamming").between(minHamming, maxHamming))
      .distinct()
    if (!tiered) return materializeAndRelease(cellPairs(sigs), sigs)
    val (members, joinSet) = hashClasses(sigs, cliqueCap)
    // 1. within-class (hamming = 0): exact clique below the cap, star above
    val clique = bucketPairs(
        members.filter(col("m") <= cliqueCap).select(col("hash"), struct(col("k")).as("m")),
        Seq("hash"), cap = None, saltAbove = None, saltGroups = 1)
      .select(col("a.k").as("key_a"), col("b.k").as("key_b"), lit(0).as("hamming"))
    val star = members.filter(col("m") > cliqueCap && col("k") =!= col("rep"))
      .select(col("rep").as("key_a"), col("k").as("key_b"), lit(0).as("hamming"))
    // 2. cross-class candidates: small-class members + oversized reps
    materializeAndRelease(
      clique.unionByName(star).unionByName(cellPairs(joinSet)), sigs)
  }

  /**
   * Disclosure companion for [[hammingNearDups]]' capped tier: the
   * (band, bv, freq) cells the given configuration DROPS, i.e. the
   * exact recall liability of a `maxBandFreq` run — a candidate pair
   * is missed iff ALL of its agreeing bands appear here. Frequencies
   * are measured over the detector's own cell-candidate set
   * (small-class members plus one representative per > `cliqueCap`
   * identical-hash class, nulls dropped), NOT the raw corpus: an
   * oversized class contributes ONE row per cell, so a raw-corpus
   * histogram would overstate cell heat and disclose cells the
   * detector never actually drops. Empty when the corpus skips the
   * class tier (that requires every cell ≤ `saltAbove`, below any cap).
   */
  def cappedCells(hashes: DataFrame, cliqueCap: Int = 1000,
                  saltAbove: Int = 8192,
                  maxBandFreq: Int = 100000): DataFrame = {
    val (_, joinSet) = hashClasses(
      hashes.filter(col("hash").isNotNull).select(col("k"), col("hash")), cliqueCap)
    bucketFreqs(cellRows(joinSet), Seq("band", "bv"))
      .filter(col("freq") > saltAbove && col("freq") > maxBandFreq)
  }

  /**
   * SimHash near-dup pairs with Hamming distance ≤ `maxHamming` (< 16)
   * through the guarded [[hammingNearDups]] core: exact recall for
   * maxHamming ≤ 3 on every class ≤ `cliqueCap` and every band cell
   * ≤ `maxBandFreq`; degenerate/modal corpora degrade to documented
   * connectivity-preserving star edges instead of a straggler task.
   *
   * SEMANTICS OF THE DEFAULTS (changed in r9, aligned in r10): with
   * the default guard thresholds the RAW PAIR SET is exact only below
   * the tiers — an identical-hash class larger than `cliqueCap` emits
   * a star (m−1 edges) instead of its m(m−1)/2 clique, and a band
   * cell hotter than `maxBandFreq` is dropped (a pair is missed only
   * if ALL its agreeing bands are capped). Connected components and
   * [[dropNearDups]] survivors are IDENTICAL either way; callers
   * consuming raw pairs or pair counts who need the exact set must
   * pass `maxBandFreq = None` and a `cliqueCap` above their largest
   * duplicate class. The default cap equals the core's (100000 —
   * ~1.4·10^8 pair-checks per salted task-group before a cell is
   * dropped); r9 briefly defaulted 10000 here with no rationale for
   * diverging from the core.
   */
  def simhashNearDups(df: DataFrame, keyCol: String, textCol: String,
                      maxHamming: Int = 3, cliqueCap: Int = 1000,
                      maxBandFreq: Option[Int] = Some(100000)): DataFrame = {
    // eval_once: hammingNearDups' null-hash filter would otherwise sink
    // below the projection with simhash64 inlined into it
    val sigs = withSimhash64(
      df.select(col(keyCol).as("k"), col(textCol)),
      textCol, "sim").select(col("k"), graft.functions.eval_once(col("sim")).as("hash"))
    hammingNearDups(sigs, maxHamming, cliqueCap = cliqueCap,
        maxBandFreq = maxBandFreq)
      .select(col("key_a").cast("string").as("key_a"),
        col("key_b").cast("string").as("key_b"),
        col("hamming").cast("double").as("hamming"))
  }

  /** Cosine similarity of two float-array columns (via the codegen'd
    * VectorDistance expression: cos = 1 − cosine_distance). */
  def cosineSim(a: Column, b: Column): Column =
    lit(1.0) - graft.functions.cosine_distance(a, b)

  /**
   * Exact embedding near-dup pairs (cosine ≥ minCosine) via a
   * broadcast self-join. Correctness oracle for the LSH variant; use
   * only when one side fits in a broadcast (e.g. a sampled block).
   */
  def embeddingNearDupsExact(df: DataFrame, keyCol: String, vecCol: String,
                             minCosine: Double): DataFrame = {
    // widen the probe side: the O(n²) cosine loop is pure compute
    val base = graft.util.Parallelism.ensure(df)
      .select(col(keyCol).as("k"), col(vecCol).as("v"))
    base.as("a").join(broadcast(base.as("b")), col("a.k") < col("b.k"))
      .withColumn("cosine", cosineSim(col("a.v"), col("b.v")))
      .filter(col("cosine") >= minCosine)
      .select(col("a.k").cast("string").as("key_a"),
        col("b.k").cast("string").as("key_b"), col("cosine"))
  }

  /** Deterministic random hyperplanes for sign-LSH. */
  private[pipeline] def hyperplanes(numPlanes: Int, dim: Int, seed: Long): Array[Array[Double]] = {
    val rnd = new scala.util.Random(seed)
    Array.fill(numPlanes)(Array.fill(dim)(rnd.nextGaussian()))
  }

  /** Sign-LSH bit signature of a vector: bit i = sign(v · plane_i).
    * Native one-pass expression ([[graft.functions.SignLsh]]) — the
    * HOF formulation re-reads the vector once per plane through
    * interpreted lambdas. */
  def signBits(vec: Column, planes: Array[Array[Double]]): Column =
    graft.functions.sign_lsh(vec, planes)

  /**
   * Embedding near-dup pairs via random-hyperplane LSH: `numPlanes`
   * sign bits split into `bands` bands; same-band-value vectors become
   * candidates through [[bucketPairs]], verified by exact cosine. The
   * 100 TB path: shuffle on (band, value), never all-pairs.
   *
   * @param dim embedding dimensionality; defaults to -1 = infer from
   *            the first row (one LIMIT-1 probe — cheap, and wrong-dim
   *            hyperplanes would silently degrade signatures otherwise)
   */
  def embeddingNearDupsLsh(df: DataFrame, keyCol: String, vecCol: String,
                           minCosine: Double, numPlanes: Int = 16,
                           bands: Int = 4, seed: Long = 42L,
                           dim: Int = -1): DataFrame = {
    require(numPlanes % bands == 0)
    val bitsPerBand = numPlanes / bands
    val mask = (1L << bitsPerBand) - 1
    val planeDim =
      if (dim > 0) dim
      else df.select(size(col(vecCol)).as("d")).limit(1).collect()
        .headOption.map(_.getInt(0)).getOrElse(1)
    val planes = hyperplanes(numPlanes, planeDim, seed)
    val base = graft.util.Parallelism.ensure(df)
      .select(col(keyCol).as("k"), col(vecCol).as("v"))
      .withColumn("sig", signBits(col("v"), planes))
    val bandStructs = array((0 until bands).map(j => struct(lit(j).as("band"),
      shiftrightunsigned(col("sig"), j * bitsPerBand).bitwiseAND(lit(mask)).as("bv"))): _*)
    val members = base.select(struct(col("k"), col("v")).as("m"),
        explode(bandStructs).as("bk"))
      .select(col("bk.band").as("band"), col("bk.bv").as("bv"), col("m"))
    val result = bucketPairs(members, Seq("band", "bv"), cap = None,
        saltAbove = None, saltGroups = 1)
      .select(col("a.k").as("key_a"), col("b.k").as("key_b"),
        col("a.v").as("va"), col("b.v").as("vb"))
      .distinct()
      .withColumn("cosine", cosineSim(col("va"), col("vb")))
      .filter(col("cosine") >= minCosine)
      .select(col("key_a").cast("string").as("key_a"),
        col("key_b").cast("string").as("key_b"), col("cosine"))
    materializeAndRelease(result)
  }

  // ---- transitive duplicate resolution (connected components) ---- //

  /**
   * Connected components of the near-dup pair graph: every node
   * labeled with the least key (string order) of its component —
   * `(key, cluster)` with `cluster` the canonical representative.
   *
   * Alternating large-star / small-star (Kiveris et al., "Connected
   * Components in MapReduce and Beyond", SoCC 2014): both rounds are
   * a groupBy-min plus a join against that min table — no per-node
   * neighbor arrays, so a hot node (one doc near-duplicated a million
   * times) costs a shuffle key, not an executor OOM. Converges in
   * O(log² n) rounds; each round's result is `localCheckpoint`ed to
   * truncate the iterative-join lineage, and convergence is an exact
   * symmetric-difference check, not a hash heuristic.
   *
   * Scale shape: this runs on the PAIR graph — |pairs| rows, the
   * output of a detector, tiny relative to the corpus (only detected
   * duplicates appear at all). The corpus itself is never touched.
   *
   * Why not [[dropNearDups]]: greedy pair-removal is not transitive —
   * with pairs (a,c),(b,c) it keeps BOTH a and b even though they sit
   * in one duplicate component. Components are the policy used by the
   * published large-scale text dedup pipelines; pair-greedy is the
   * cheap approximation.
   *
   * Two physical paths, one semantics (spec-pinned equal): a pair
   * graph at or below `localEdgeThreshold` distinct edges collects to
   * the driver and resolves with union-find — the bounded-collect
   * pattern the broadcast joins use, and the right plan for the
   * common case where detectors emit thousands of pairs, not
   * billions (star rounds on a tiny graph pay per-round scheduling
   * for nothing). Above it, the distributed star rounds run; a 100 TB
   * corpus whose detector emits billions of pairs never touches the
   * driver.
   *
   * @param pairs (key_a, key_b, ...) from any detector in this object
   * @param localEdgeThreshold distinct-edge count at or below which
   *        the driver union-find path runs (default 2M edges ≈ 100 MB
   *        of keys — same order as a broadcast threshold); 0 forces
   *        the distributed path
   */
  def dupClusters(pairs: DataFrame, maxIters: Int = 50,
                  localEdgeThreshold: Long = 2L << 20): DataFrame = {
    // large-star: every node connects its larger neighbors to its
    // (self-inclusive) min neighbor — long tails collapse toward roots
    def largeStar(e: DataFrame): DataFrame = {
      val b = e.unionByName(e.select(col("v").as("u"), col("u").as("v")))
      val m = b.groupBy("u").agg(min(col("v")).as("__mn"))
        .select(col("u"), least(col("u"), col("__mn")).as("__m"))
      b.join(m, "u").filter(col("v") > col("u"))
        .select(col("v").as("u"), col("__m").as("v")).distinct()
    }
    // small-star: edges directed (greater → smaller); every node
    // reconnects its smaller neighbors (and itself) to its min one
    def smallStar(e: DataFrame): DataFrame = {
      val b = e.select(greatest(col("u"), col("v")).as("u"),
          least(col("u"), col("v")).as("v"))
        .filter(col("u") =!= col("v")).distinct()
      val m = b.groupBy("u").agg(min(col("v")).as("__m"))
      b.join(m, "u").filter(col("v") =!= col("__m"))
        .select(col("v").as("u"), col("__m").as("v"))
        .unionByName(m.select(col("u"), col("__m").as("v")))
        .distinct()
    }
    var e = pairs
      .select(col("key_a").cast("string").as("u"),
        col("key_b").cast("string").as("v"))
      .filter(col("u") =!= col("v")).distinct().localCheckpoint()
    if (e.count() <= localEdgeThreshold) {
      val edges = e.collect().map(r => (r.getString(0), r.getString(1)))
      val parent = scala.collection.mutable.HashMap.empty[String, String]
      def find(x: String): String = {
        var r = x
        while (parent.getOrElse(r, r) != r) r = parent(r)
        var c = x
        while (c != r) { val n = parent(c); parent(c) = r; c = n }
        r
      }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) {
          if (ra < rb) parent(rb) = ra else parent(ra) = rb
        }
      }
      val nodes = edges.iterator.flatMap(p => Iterator(p._1, p._2)).toSet
      val sp = pairs.sparkSession
      import sp.implicits._
      return nodes.iterator.map(n => (n, find(n))).toSeq
        .toDF("key", "cluster")
    }
    var converged = false
    var it = 0
    while (!converged && it < maxIters) {
      val next = smallStar(largeStar(e)).localCheckpoint()
      converged = next.except(e).unionByName(e.except(next)).isEmpty
      e = next
      it += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"dupClusters did not converge in $maxIters star rounds")
    // fixpoint = one star per component, rooted at the component min:
    // every edge is (member, root); roots label themselves
    e.select(col("u").as("key"), col("v").as("cluster"))
      .unionByName(e.select(col("v"), col("v")).distinct()
        .toDF("key", "cluster"))
  }

  /**
   * Transitive near-dup removal: keep exactly ONE document per
   * connected component of the pair graph (the component's canonical
   * representative from [[dupClusters]]) plus every unpaired
   * document. Strictly stronger than [[dropNearDups]]'s greedy
   * policy — see [[dupClusters]] for the chain case greedy misses.
   */
  def dedupTransitive(df: DataFrame, keyCol: String,
                      pairs: DataFrame): DataFrame = {
    val losers = dupClusters(pairs)
      .filter(col("key") =!= col("cluster")).select(col("key").as("__loser"))
    df.join(losers, col(keyCol).cast("string") === col("__loser"), "left_anti")
  }

  // ---- semantic (embedding-cluster) dedup ------------------------ //

  /**
   * Within-cell embedding near-dup pairs — the SemDeDup recipe (Abbas
   * et al. 2023, arXiv:2303.09540): k-means-cluster the embedding
   * space, then compute exact cosine ONLY within a cell. The
   * clustering is the candidate generator — the role LSH bands play
   * in [[embeddingNearDupsLsh]], but aligned with the corpus's own
   * semantic structure: near-identical embeddings concentrate in one
   * cell (identical ones provably do), which is exactly where
   * semantic duplicates live. Pair work is bounded by the largest
   * cell, never n²; both join sides shuffle once on `cell`.
   *
   * Centroids come from [[Ann.kmeansCentroids]] (deterministic
   * hash-ordered sample + farthest-point init — layout-invariant);
   * assignment is the codegen'd one-pass argmin. Reported pairs carry
   * EXACT cosine (precision 1.0 by construction); recall is bounded
   * by cell splitting of true near-pairs, the measured property the
   * gate pins.
   *
   * Scale shape (the 100 TB defaults): `nCells = 0` auto-scales to
   * √n clamped [16, 4096] ([[Ann.autoCells]] — the same default the
   * `knnJoin` facade uses), so expected cell size grows only as √n
   * instead of n/constant; and in-cell scoring runs as a grouped
   * tight JVM loop (the [[Ann.knnJoinIvf]] cogroup pattern), which
   * shuffles each row ONCE on `cell` and never materializes the
   * in-cell pair cross product as rows — only pairs PASSING the
   * cosine threshold are emitted. Executor memory per task is one
   * cell's rows (≈ √n vectors under auto-cells), not its pair count.
   */
  def semanticNearDups(df: DataFrame, keyCol: String, vecCol: String,
                       minCosine: Double = 0.95,
                       nCells: Int = 0): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val cells = if (nCells > 0) nCells else Ann.autoCells(df.count())
    val centroids = Ann.kmeansCentroids(df, vecCol, cells)
    // NOT widened (Parallelism.ensure): r16's widen re-paired WORSE at
    // the benched SF in r17 (alternated pairs: no-widen 1.15/1.18 s vs
    // widen 1.24/1.38 s; the driver's r16 run agreed at ×0.84) — the
    // groupByKey(cell) below shuffles anyway, so the extra round-robin
    // exchange ahead of it buys nothing
    val base = df
      .select(col(keyCol).cast("string").as("k"),
        col(vecCol).cast("array<float>").as("v"))
      .withColumn("cell", Ann.cellId(col("v"), centroids))
    val minC = minCosine
    base.as[(String, Array[Float], Int)]
      .groupByKey(_._3)
      .flatMapGroups { (_, it) =>
        val rows = it.toArray
        rows.indices.iterator.flatMap { i =>
          val (ki, vi, _) = rows(i)
          if (vi == null) Iterator.empty
          else (i + 1 until rows.length).iterator.flatMap { j =>
            val (kj, vj, _) = rows(j)
            if (vj == null) Iterator.empty
            else {
              // same arithmetic as the cosineSim expression (jvmDist
              // mirrors VectorDistance bit-identically), so results
              // are unchanged from the join formulation
              val cos = 1.0 - Ann.jvmDist("COSINE", vi, vj)
              if (cos >= minC) {
                val (a, b) = if (ki < kj) (ki, kj) else (kj, ki)
                Iterator.single((a, b, cos))
              } else Iterator.empty
            }
          }
        }
      }
      .toDF("key_a", "key_b", "cosine")
  }

  /** SemDeDup end-to-end: within-cell pairs → components → keep one
    * representative per component plus all unpaired rows.
    * `nCells = 0` auto-scales cells to √n (see [[semanticNearDups]]). */
  def semanticDedup(df: DataFrame, keyCol: String, vecCol: String,
                    minCosine: Double = 0.95, nCells: Int = 0): DataFrame =
    dedupTransitive(df, keyCol,
      semanticNearDups(df, keyCol, vecCol, minCosine, nCells))

  // ------------- exact duplicated-substring removal ----------------- //

  /**
   * Every duplicated `minTokens`-token window in the corpus, with its
   * canonical (keeper) occurrence — the inspection surface under
   * [[dedupSubstrings]] and the Spark shape of ExactSubstr dedup
   * (Lee et al., "Deduplicating Training Data Makes Language Models
   * Better", ACL'22: their suffix array finds byte runs ≥ 50 tokens
   * appearing twice; a token-window rolling-hash join finds exactly
   * the same runs, up to 64-bit hash equality — the convention
   * [[exactDupGroups]]'s md5 and the shingle joins already use).
   *
   * Scale shape: the exploded relation is one (hash, key, pos) row
   * per token — LINEAR in corpus tokens, the documented price of
   * exact-substring coverage (the suffix array it replaces is ~8
   * bytes/token on one machine). The hash groupBy partial-aggregates
   * map-side; the join back is a shuffle join on the window hash
   * whose hot keys (boilerplate windows duplicated across millions of
   * docs) AQE's skew-join splits — and each such row must be cut
   * anyway, so the work is output-bound, not plan-inflated. Text
   * itself never shuffles: only (key, pos) pairs do, joined back to
   * the corpus by key at the end.
   *
   * Output: (`__key`, `__pos`, `__wh`, `keeper` struct) — one row per
   * duplicated-window occurrence.
   */
  def duplicatedWindows(df: DataFrame, keyCol: String, textCol: String,
                        minTokens: Int = 50): DataFrame = {
    require(minTokens >= 1, s"minTokens must be >= 1, got $minTokens")
    // eval_once: the posexplode's inferred non-empty filter on `__hs`
    // would otherwise sink below this projection, hashing each text
    // three times
    val win = graft.util.Parallelism.ensure(df)
      .select(col(keyCol).cast("string").as("__key"),
        graft.functions.eval_once(graft.functions.token_window_hashes(
          split(col(textCol), " "), minTokens)).as("__hs"))
      .select(col("__key"), posexplode(col("__hs")).as(Seq("__pos", "__wh")))
    val dup = win.groupBy("__wh")
      .agg(count(lit(1)).as("__n"),
        min(struct(col("__key"), col("__pos"))).as("keeper"))
      .filter(col("__n") > 1)
      .select("__wh", "keeper")
    win.join(dup, "__wh")
      .select(col("__key"), col("__pos"), col("__wh"), col("keeper"))
  }

  /**
   * ExactSubstr dedup (Lee et al., ACL'22): remove every token run of
   * ≥ `minTokens` tokens that appears elsewhere in the corpus, keeping
   * ONE canonical occurrence — the minimum (key, pos) of each
   * duplicated window survives; every other occurrence's tokens are
   * cut, overlapping windows coalescing into spans
   * ([[graft.functions.CutSpans]] merges as it cuts). Untouched docs
   * keep their text byte-for-byte; cut docs re-join surviving tokens
   * with single spaces (token-level semantics, as the paper's).
   *
   * Within-doc repeats count: a run repeated twice in one doc keeps
   * its first occurrence. Docs shorter than `minTokens` tokens are
   * never touched.
   */
  def dedupSubstrings(df: DataFrame, keyCol: String, textCol: String,
                      minTokens: Int = 50): DataFrame = {
    val dup = duplicatedWindows(df, keyCol, textCol, minTokens)
    val cuts = dup
      .filter(!(struct(col("__key"), col("__pos")) === col("keeper")))
      .groupBy("__key")
      .agg(sort_array(collect_list(col("__pos"))).as("__cuts"))
    val outCols = df.columns.map {
      case c if c == textCol =>
        when(col("__cuts").isNull, col(textCol))
          .otherwise(graft.functions.cut_spans(
            split(col(textCol), " "), col("__cuts"), minTokens))
          .as(textCol)
      case c => col(c)
    }
    df.withColumn("__jk", col(keyCol).cast("string"))
      .join(cuts, col("__jk") === cuts("__key"), "left")
      .select(outCols.toIndexedSeq: _*)
  }
}
