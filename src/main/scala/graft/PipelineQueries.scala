package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.pipeline.{Ann, Curation, Dedup, Multimodal, TextMetrics}

/**
 * Training-data pipeline gate queries: dedup family, similarity search,
 * text analysis (SURVEY layering beyond the reference's own surface).
 *
 * Oracle policy: operators with SQL-expressible semantics get a DuckDB
 * oracle; probabilistic-recall ops (MinHash/LSH candidates, IVF probes)
 * and ops defined in terms of xxhash64 (SimHash, winnowing) are
 * registered without one (driver records a rows-only check) and are
 * instead pinned by unit specs in PipelineSpec.
 *
 * Pairwise oracles restrict to a doc_id-modulus subset so the DuckDB
 * side stays O((n/5)²) at sf0.1; the engine side uses the same subset
 * through the same public API it would use on the full table.
 */
object PipelineQueries {

  private def docs(s: SparkSession, dir: String): DataFrame =
    Fixtures.table(s, dir, "documents")
  private def embs(s: SparkSession, dir: String): DataFrame =
    Fixtures.table(s, dir, "embeddings")

  private val ivfStores = scala.collection.concurrent.TrieMap.empty[(SparkSession, String), Ann.IvfStore]
  /** Maintained-IVF fixture: built on vec_id%3!=0, one batch upserts
    * the held-out third and deletes vec_id%5==0 of the REST (disjoint
    * ops — the Ingest.dedupePerKey contract). Memoized per dir so
    * bench reps measure the query, not the build. */
  private def ivfStore(s: SparkSession, dir: String): Ann.IvfStore =
    ivfStores.getOrElseUpdate((s, dir), {
      val e = embs(s, dir)
      val path = java.nio.file.Files.createTempDirectory("graft-ivf-inc").toString
      val store = Ann.initIvfStore(e.filter(col("vec_id") % 3 =!= 0),
        "vec_id", "embedding", nCells = 16, path)
      val adds = e.filter(col("vec_id") % 3 === 0)
        .select(lit("upsert").as("op"), col("vec_id").cast("string").as("__key"),
          col("embedding").cast("array<float>").as("vec"))
      val dels = e.filter(col("vec_id") % 3 =!= 0 && col("vec_id") % 5 === 0)
        .select(lit("delete").as("op"), col("vec_id").cast("string").as("__key"),
          lit(null).cast("array<float>").as("vec"))
      store.applyBatch(adds.unionByName(dels))
      store
    })

  private val nswJoinIdx = scala.collection.concurrent.TrieMap.empty[(SparkSession, String), graft.pipeline.Nsw.NswIndex]
  /** NSW graph over the p_ann_join base split (vec_id%101!=0), memoized
    * per dir so bench reps measure the batched join, not the build. */
  private def nswIdx(s: SparkSession, dir: String): graft.pipeline.Nsw.NswIndex =
    nswJoinIdx.getOrElseUpdate((s, dir),
      graft.pipeline.Nsw.build(embs(s, dir).filter(col("vec_id") % 101 =!= 0),
        "vec_id", "embedding", metric = "L2", numPartitions = 8))

  // ---- memoized exact yardsticks --------------------------------- //
  // The exact side of a recall property is a FIXTURE, not operator
  // cost: computed once per dir and collected (bounded: |queries| × k
  // pairs / top-k keys / true near-dup pairs), so bench reps time the
  // approximate operator alone — round 5's gate medians were dominated
  // by re-running the exact yardstick inside every rep.

  /** Exact (query, neighbor) pairs for the %101 query/base split at
    * k=5 / L2 — recall yardstick for the approximate join gates. */
  private val exactJoinCache = scala.collection.concurrent.TrieMap.empty[String, (Set[(String, String)], Long)]
  private[graft] def exactJoinPairs(s: SparkSession, dir: String): (Set[(String, String)], Long) =
    exactJoinCache.getOrElseUpdate(dir, {
      val e = embs(s, dir)
      val rows = Ann.knnJoinExact(
        e.filter(col("vec_id") % 101 === 0), "vec_id", "embedding",
        e.filter(col("vec_id") % 101 =!= 0), "vec_id", "embedding",
        k = 5, metric = "L2")
        .select("__key", "neighbor").collect()
        .map(r => (r.getString(0), r.getString(1)))
      (rows.toSet, rows.length.toLong)
    })

  private[graft] val SqQueryVec: Array[Float] =
    Array.tabulate(64)(i => (i % 16) * 0.125f - 1.0f)

  /** Exact float32 top-10 keys for the SQ probe vector (L2). */
  private val exactSqTopCache = scala.collection.concurrent.TrieMap.empty[String, Set[String]]
  private[graft] def exactSqTop(s: SparkSession, dir: String): Set[String] =
    exactSqTopCache.getOrElseUpdate(dir,
      Ann.topK(embs(s, dir), "vec_id", "embedding", SqQueryVec,
          k = 10, metric = "L2")
        .collect().map(_.getString(0)).toSet)

  /** Bloom-decontamination fixtures (memoized per dir: the filter
    * build is blocklist-index work, and the exact contaminated-key
    * yardstick keeps the timed gate body measuring the Bloom probe).
    * Both hold collected values — session-safe. */
  private val bloomBitsCache = scala.collection.concurrent.TrieMap.empty[String, Array[Byte]]
  private[graft] def bloomBits(s: SparkSession, dir: String): Array[Byte] =
    bloomBitsCache.getOrElseUpdate(dir,
      Curation.benchmarkBloom(
        docs(s, dir).filter(col("doc_id") % 97 === 0), "text", n = 8, fpp = 1e-4))
  private val exactContamCache = scala.collection.concurrent.TrieMap.empty[String, Set[String]]
  private[graft] def exactContamKeys(s: SparkSession, dir: String): Set[String] = {
    val d = docs(s, dir)
    exactContamCache.getOrElseUpdate(dir,
      Curation.contaminationHits(
        d.filter(col("doc_id") % 97 =!= 0), "doc_id", "text",
        d.filter(col("doc_id") % 97 === 0), "text", n = 8)
        .select(col("__key").cast("string")).collect().map(_.getString(0)).toSet)
  }

  /** PQ codebook fixture (memoized: training is index-build work, not
    * the per-query operator — bench reps measure encode + ADC search).
    * Holds collected float arrays only, so a dir key is session-safe. */
  private val pqModelCache = scala.collection.concurrent.TrieMap.empty[String, Ann.PqModel]
  private[graft] def pqModel(s: SparkSession, dir: String): Ann.PqModel =
    pqModelCache.getOrElseUpdate(dir,
      Ann.trainPq(embs(s, dir), "embedding", m = 8))

  /** Exact cosine top-20 keys for the shared gate probe vector. */
  private val exactCosTopCache = scala.collection.concurrent.TrieMap.empty[String, Set[String]]
  private[graft] def exactCosTop20(s: SparkSession, dir: String): Set[String] =
    exactCosTopCache.getOrElseUpdate(dir,
      Ann.topK(embs(s, dir), "vec_id", "embedding", Queries.queryVec,
          k = 20, metric = "COSINE")
        .collect().map(_.getString(0)).toSet)

  /** IVF index fixture (memoized: bench reps measure the probe-and-
    * rank, not k-means + assignment). Keyed by (session, dir) — the
    * index holds an `assigned` DataFrame BOUND to the session that
    * built it, so a dir-only key would hand a later session a plan
    * referencing a stopped one (the other caches hold collected
    * values and are session-free). */
  private val ivfIdxCache = scala.collection.concurrent.TrieMap.empty[(SparkSession, String), Ann.IvfIndex]
  private[graft] def ivfIdx(s: SparkSession, dir: String): Ann.IvfIndex =
    ivfIdxCache.getOrElseUpdate((s, dir),
      Ann.buildIvf(embs(s, dir), "vec_id", "embedding", nCells = 16))

  /** Exact cosine ≥ 0.3 pairs over the FULL embeddings table — the
    * sign-LSH recall/precision yardstick. */
  private val exactCosPairCache = scala.collection.concurrent.TrieMap.empty[String, Set[(String, String)]]
  private[graft] def exactCosPairs(s: SparkSession, dir: String): Set[(String, String)] =
    exactCosPairCache.getOrElseUpdate(dir,
      Dedup.embeddingNearDupsExact(embs(s, dir), "vec_id", "embedding",
          minCosine = 0.3)
        .select("key_a", "key_b").collect()
        .map(r => (r.getString(0), r.getString(1))).toSet)

  /** Key offset for planted near-duplicate copies (far above any
    * doc_id, so (orig, orig + offset) identifies a planted pair). */
  private[graft] val PlantOffset = 10000000L

  /** MinHash near-dup pairs over the full documents table (threshold
    * 0.5) — the connected-components gates' input FIXTURE. The
    * detector itself is timed by p_dedup_minhash_lsh; the CC gates
    * time component resolution alone. Collected: a pair graph is the
    * detector's output, tiny relative to the corpus by construction. */
  private val minhashPairCache = scala.collection.concurrent.TrieMap.empty[String, Seq[(String, String)]]
  private[graft] def minhashPairs(s: SparkSession, dir: String): Seq[(String, String)] =
    minhashPairCache.getOrElseUpdate(dir,
      Dedup.minhashNearDups(docs(s, dir), "doc_id", "text",
          shingleN = 2, numHashes = 128, bands = 32, threshold = 0.5)
        .select("key_a", "key_b").collect()
        .map(r => (r.getString(0), r.getString(1))).toSeq)

  /** Embeddings plus planted identical copies of every vec_id%13==0
    * row under shifted keys — the SemDeDup gate corpus. */
  private[graft] def semCorpus(s: SparkSession, dir: String): DataFrame = {
    val e = embs(s, dir).select(col("vec_id"), col("embedding"))
    e.unionByName(e.filter(col("vec_id") % 13 === 0)
      .select((col("vec_id") + PlantOffset).as("vec_id"), col("embedding")))
  }

  /** Exact cosine ≥ 0.95 pairs over [[semCorpus]], canonicalized as
    * (string-min, string-max) — the SemDeDup precision/recall
    * yardstick (fixture: computed once per dir). */
  private val exactSemPairCache = scala.collection.concurrent.TrieMap.empty[String, Set[(String, String)]]
  private[graft] def exactSemPairs(s: SparkSession, dir: String): Set[(String, String)] =
    exactSemPairCache.getOrElseUpdate(dir,
      Dedup.embeddingNearDupsExact(semCorpus(s, dir), "vec_id", "embedding",
          minCosine = 0.95)
        .select("key_a", "key_b").collect()
        .map { r =>
          val (a, b) = (r.getString(0), r.getString(1))
          (if (a < b) a else b, if (a < b) b else a)
        }.toSet)

  /** SimHash planted-oracle yardstick (fixture: computed once per
    * dir): planted-base count and the DIRECT per-pair hamming count of
    * the (original, edited-copy) pairs — the baseline the banded join
    * is judged against. Round-6 verdict #3: yardstick work out of the
    * timed gate body, like the join gates' exact fixtures. */
  private val simhashYardCache = scala.collection.concurrent.TrieMap.empty[String, (Long, Long)]
  private[graft] def simhashYardstick(s: SparkSession, dir: String): (Long, Long) =
    simhashYardCache.getOrElseUpdate(dir, {
      val base = docs(s, dir).filter(col("doc_id") % 7 === 0)
        .select(col("doc_id"), col("text"))
      val directNear = Dedup.withSimhash64(
        Dedup.withSimhash64(
          base.withColumn("text2", concat(col("text"), lit(" plantedtail"))),
          "text", "sa"),
        "text2", "sb")
        .filter(bit_count(col("sa").bitwiseXOR(col("sb"))) <= 3).count()
      (base.count(), directNear)
    })

  /** Winnowing-fingerprint property yardsticks (fixture: once per
    * dir): digest-is-content-function over the whole corpus, planted
    * near-dup fingerprint Jaccard (double-winnow baseline), planted
    * count, and the corpus's distinct-digest count (so the timed gate
    * body can pin ITS one winnow pass against it). */
  private val fpYardCache = scala.collection.concurrent.TrieMap.empty[String, (Boolean, Boolean, Long, Long)]
  private[graft] def fpYardstick(s: SparkSession, dir: String): (Boolean, Boolean, Long, Long) =
    fpYardCache.getOrElseUpdate(dir, {
      val d = docs(s, dir)
      val consistent = d
        .select(md5(col("text")).as("h"),
          TextMetrics.fingerprintDigest("text").as("fp"))
        .groupBy("h").agg(countDistinct("fp").as("n"))
        .agg(max("n")).collect()(0).getLong(0) == 1L
      val planted = d.filter(col("doc_id") % 7 === 0)
        .withColumn("text2", concat(col("text"), lit(" plantedtail")))
      // pre-project the two fingerprint arrays so each evaluates ONCE
      // (inlining them into intersect+union runs the winnow pass twice
      // per side), and fold the count into the same single job
      val agg = planted
        .select(TextMetrics.fingerprint("text").as("f1"),
          TextMetrics.fingerprint("text2").as("f2"))
        .select((size(array_intersect(col("f1"), col("f2"))).cast("double") /
          size(array_union(col("f1"), col("f2")))).as("j"))
        .agg(min("j"), count(lit(1))).collect()(0)
      val nDistinct = d.select(TextMetrics.fingerprintDigest("text").as("fp"))
        .agg(countDistinct("fp")).collect()(0).getLong(0)
      (consistent, agg.getDouble(0) >= 0.65, agg.getLong(1), nDistinct)
    })

  private def q(name: String)(fn: Queries.Q)(oracle: String): (String, Queries.Q, Option[String]) =
    (name, fn, Some(oracle))
  private def qNoOracle(name: String)(fn: Queries.Q): (String, Queries.Q, Option[String]) =
    (name, fn, None)

  /** DuckDB bigram-shingle list for a `text` column named in SQL. */
  private val bigramSql =
    "list_distinct(list_filter(list_transform(list_zip(string_split(text,' ')," +
      " string_split(text,' ')[2:]), p -> p[1] || ' ' || p[2]), x -> x IS NOT NULL))"

  private val triples: Seq[(String, Queries.Q, Option[String])] = Seq(

    // -------------------- deduplication ---------------------------- //

    q("p_dedup_exact") { (s, dir) =>
      Dedup.exactDupGroups(docs(s, dir), "doc_id", "text")
        .orderBy(col("content_hash").asc)
        .limit(200)
    } {
      """SELECT md5(text) AS content_hash,
        |  CAST(count(*) AS DOUBLE) AS n_dups,
        |  CAST(min(doc_id) AS VARCHAR) AS keep_key
        |FROM documents GROUP BY 1 ORDER BY 1 ASC LIMIT 200""".stripMargin
    },

    q("p_dedup_ngram_jaccard") { (s, dir) =>
      Dedup.ngramJaccardPairs(
        docs(s, dir).filter(col("doc_id") % 5 === 0), "doc_id", "text",
        shingleN = 2, threshold = 0.3)
        .withColumn("jaccard", round(col("jaccard"), 4))
        .orderBy(col("key_a").cast("long").asc, col("key_b").cast("long").asc)
    } {
      s"""WITH d AS (
         |  SELECT doc_id, $bigramSql AS sh
         |  FROM documents WHERE doc_id % 5 = 0),
         |p AS (
         |  SELECT CAST(a.doc_id AS VARCHAR) AS key_a,
         |    CAST(b.doc_id AS VARCHAR) AS key_b,
         |    round(len(list_intersect(a.sh, b.sh))::DOUBLE /
         |      (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))), 4) AS jaccard
         |  FROM d a JOIN d b ON a.doc_id < b.doc_id)
         |SELECT * FROM p WHERE jaccard >= 0.3
         |ORDER BY CAST(key_a AS BIGINT) ASC, CAST(key_b AS BIGINT) ASC""".stripMargin
    },

    // Same pairs through the SALTED plan: a shingle shared by > 8 docs
    // has its member list cut into 4 key-ordered slices and emitted as
    // 10 slice-pair units, which one round-robin repartition spreads
    // over tasks — the path a 100 TB corpus needs when a hot shingle
    // would otherwise pin one straggler partition. NOTE on the bench
    // number: the synthetic corpus has a ~925-shingle vocabulary and
    // ~97% of shingles exceed the threshold at sf0.1, so this gate
    // measures the WORST case — nearly every list salted. The extra
    // cost over the plain plan is the unit repartition only the salted
    // plan runs, where a salted list's member travels g times (its own
    // slice's unit and g−1 cross units); the pair work is the same.
    // Identical oracle as p_dedup_ngram_jaccard: salting is exact.
    q("p_dedup_ngram_salted") { (s, dir) =>
      Dedup.ngramJaccardPairs(
        docs(s, dir).filter(col("doc_id") % 5 === 0), "doc_id", "text",
        shingleN = 2, threshold = 0.3,
        saltAbove = Some(8), saltGroups = 4)
        .withColumn("jaccard", round(col("jaccard"), 4))
        .orderBy(col("key_a").cast("long").asc, col("key_b").cast("long").asc)
    } {
      s"""WITH d AS (
         |  SELECT doc_id, $bigramSql AS sh
         |  FROM documents WHERE doc_id % 5 = 0),
         |p AS (
         |  SELECT CAST(a.doc_id AS VARCHAR) AS key_a,
         |    CAST(b.doc_id AS VARCHAR) AS key_b,
         |    round(len(list_intersect(a.sh, b.sh))::DOUBLE /
         |      (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))), 4) AS jaccard
         |  FROM d a JOIN d b ON a.doc_id < b.doc_id)
         |SELECT * FROM p WHERE jaccard >= 0.3
         |ORDER BY CAST(key_a AS BIGINT) ASC, CAST(key_b AS BIGINT) ASC""".stripMargin
    },

    // MinHash+LSH candidates verified by exact Jaccard. Oracle-able
    // here: precision is exact, and every qualifying pair in the
    // corpus has J ≥ 0.81, where 32-band/4-row LSH miss probability is
    // (1 − J⁴)³² < 1e-8 — the candidate set equals the exact set.
    q("p_dedup_minhash_lsh") { (s, dir) =>
      Dedup.minhashNearDups(docs(s, dir), "doc_id", "text",
        shingleN = 2, numHashes = 128, bands = 32, threshold = 0.5)
        .withColumn("jaccard", round(col("jaccard"), 4))
        .orderBy(col("key_a").cast("long").asc, col("key_b").cast("long").asc)
    } {
      s"""WITH d AS (
         |  SELECT doc_id, $bigramSql AS sh FROM documents),
         |p AS (
         |  SELECT CAST(a.doc_id AS VARCHAR) AS key_a,
         |    CAST(b.doc_id AS VARCHAR) AS key_b,
         |    round(len(list_intersect(a.sh, b.sh))::DOUBLE /
         |      (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))), 4) AS jaccard
         |  FROM d a JOIN d b ON a.doc_id < b.doc_id)
         |SELECT * FROM p WHERE jaccard >= 0.5
         |ORDER BY CAST(key_a AS BIGINT) ASC, CAST(key_b AS BIGINT) ASC""".stripMargin
    },

    // Connected components over the minhash pair graph: every node of
    // the graph labeled with its component's least key (large-star /
    // small-star alternation — the published MapReduce CC algorithm).
    // The pair set is the memoized minhash fixture, provably equal to
    // the exact-Jaccard ≥ 0.5 pair set on this corpus (see
    // p_dedup_minhash_lsh's miss-probability note), so the oracle
    // recomputes the SAME pairs in SQL and resolves components with a
    // recursive CTE — hash-exact, no property bound needed. This is
    // the transitive step greedy pair-dropping misses: (a,c),(b,c)
    // pairs put a, b, c in ONE cluster here.
    q("p_dedup_clusters") { (s, dir) =>
      val sp = s
      import sp.implicits._
      Dedup.dupClusters(minhashPairs(s, dir).toDF("key_a", "key_b"))
        .orderBy(col("key").cast("long").asc)
    } {
      s"""WITH RECURSIVE
         |d AS (SELECT doc_id, $bigramSql AS sh FROM documents),
         |p AS (
         |  SELECT CAST(a.doc_id AS VARCHAR) AS key_a,
         |    CAST(b.doc_id AS VARCHAR) AS key_b
         |  FROM d a JOIN d b ON a.doc_id < b.doc_id
         |  WHERE len(list_intersect(a.sh, b.sh))::DOUBLE /
         |    (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) >= 0.5),
         |e AS (SELECT key_a AS u, key_b AS v FROM p
         |      UNION SELECT key_b AS u, key_a AS v FROM p),
         |reach(u, v) AS (
         |  SELECT u, v FROM e
         |  UNION
         |  SELECT r.u, e2.v FROM reach r JOIN e e2 ON r.v = e2.u)
         |SELECT u AS key, least(u, min(v)) AS cluster
         |FROM reach GROUP BY u
         |ORDER BY CAST(u AS BIGINT) ASC""".stripMargin
    },

    // Transitive dedup end-to-end: survivors = one representative per
    // component plus every unpaired document. Same recursive-CTE
    // derivation, negated (drop non-root component members).
    q("p_dedup_transitive") { (s, dir) =>
      val sp = s
      import sp.implicits._
      Dedup.dedupTransitive(docs(s, dir), "doc_id",
          minhashPairs(s, dir).toDF("key_a", "key_b"))
        .select(col("doc_id").cast("string").as("__key"))
        .orderBy(col("__key").cast("long").asc)
    } {
      s"""WITH RECURSIVE
         |d AS (SELECT doc_id, $bigramSql AS sh FROM documents),
         |p AS (
         |  SELECT CAST(a.doc_id AS VARCHAR) AS key_a,
         |    CAST(b.doc_id AS VARCHAR) AS key_b
         |  FROM d a JOIN d b ON a.doc_id < b.doc_id
         |  WHERE len(list_intersect(a.sh, b.sh))::DOUBLE /
         |    (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) >= 0.5),
         |e AS (SELECT key_a AS u, key_b AS v FROM p
         |      UNION SELECT key_b AS u, key_a AS v FROM p),
         |reach(u, v) AS (
         |  SELECT u, v FROM e
         |  UNION
         |  SELECT r.u, e2.v FROM reach r JOIN e e2 ON r.v = e2.u),
         |lab AS (SELECT u AS key, least(u, min(v)) AS cluster
         |        FROM reach GROUP BY u)
         |SELECT CAST(doc_id AS VARCHAR) AS __key FROM documents
         |WHERE CAST(doc_id AS VARCHAR) NOT IN
         |  (SELECT key FROM lab WHERE key <> cluster)
         |ORDER BY doc_id ASC""".stripMargin
    },

    // SimHash is DEFINED via xxhash64, so instead of pinning hash
    // values the gate pins the banded join's CONTRACT on planted pairs
    // (round-5 verdict: property oracles for the rows-only gates).
    // Every doc_id%7==0 doc gets (a) an exact copy — hamming 0, the
    // 4-band pigeonhole MUST surface every one — and (b) a copy with
    // one appended token, whose hamming is whatever the signature
    // says it is (measured: usually > 3 on this small-vocab corpus —
    // one token swings many near-balanced bits): the banded join must
    // find exactly the edited pairs whose directly-computed hamming is
    // ≤ 3 — completeness from the pigeonhole (≤ 3 differing bits
    // leave one of four 16-bit bands intact), precision from the
    // verify filter. Pair identity is key arithmetic (copy = original
    // + PlantOffset), so the planted count is SQL-predictable and
    // both directions of the iff are booleans the oracle pins TRUE.
    q("p_dedup_simhash") { (s, dir) =>
      val d = docs(s, dir).select(col("doc_id"), col("text"))
      val base = d.filter(col("doc_id") % 7 === 0)
      val exactCopies = base
        .select((col("doc_id") + lit(PlantOffset)).as("doc_id"), col("text"))
      val editedCopies = base
        .select((col("doc_id") + lit(2 * PlantOffset)).as("doc_id"),
          concat(col("text"), lit(" plantedtail")).as("text"))
      // timed per rep: the banded-join OPERATOR over the planted
      // corpus + two bounded counts; the direct-hamming baseline and
      // planted count are per-dir fixtures ([[simhashYardstick]])
      val pairs = Dedup.simhashNearDups(
        d.unionByName(exactCopies).unionByName(editedCopies),
        "doc_id", "text", maxHamming = 3)
        .select(col("key_a").cast("long").as("a"), col("key_b").cast("long").as("b"))
        .persist()
      val foundExact = pairs
        .filter(col("b") - col("a") === PlantOffset && col("a") % 7 === 0).count()
      val foundEdited = pairs
        .filter(col("b") - col("a") === 2 * PlantOffset && col("a") % 7 === 0).count()
      pairs.unpersist()
      val (nPlanted, directNear) = simhashYardstick(s, dir)
      val sp = s
      import sp.implicits._
      Seq((nPlanted.toDouble, foundExact == nPlanted, foundEdited == directNear))
        .toDF("n_planted", "all_exact_copies_found", "edited_matches_direct")
    } {
      """SELECT CAST(count(*) AS DOUBLE) AS n_planted,
        |  TRUE AS all_exact_copies_found, TRUE AS edited_matches_direct
        |FROM documents WHERE doc_id % 7 = 0""".stripMargin
    },

    // The degenerate-corpus guard (round-8 verdict, wrong #1): 12k rows
    // carrying ONE identical text — the blank-image/boilerplate mode real
    // corpora are full of — must dedup through the hamming=0 groupBy tier
    // as a LINEAR star anchored at the min key (11,999 edges), never an
    // O(modal²) band self-join straggler; the natural corpus rides along
    // so the guard is exercised in the presence of dispersed hashes too.
    q("p_dedup_simhash_degenerate") { (s, dir) =>
      val boiler = s.range(12000).select(
        (col("id") + lit(PlantOffset)).as("doc_id"),
        lit("the same boilerplate page body repeated across the whole crawl")
          .as("text"))
      val d = docs(s, dir).select(col("doc_id"), col("text"))
        .unionByName(boiler)
        // 17k trivial rows: the 33-partition union (32-way range leaf +
        // the scan) pays ~70 near-empty tasks per downstream stage;
        // four partitions keep the simhash map parallel at ~0 task tax
        .coalesce(4)
      val pairs = Dedup.simhashNearDups(d, "doc_id", "text")
        .select(col("key_a").cast("long").as("a"),
          col("key_b").cast("long").as("b"), col("hamming"))
        .filter(col("a") >= PlantOffset) // planted-planted edges only
        .persist()
      val nEdges = pairs.count()
      val anchored = pairs.filter(col("a") === PlantOffset).count()
      val allZero = pairs.filter(col("hamming") =!= 0.0).count() == 0L
      pairs.unpersist()
      val sp = s
      import sp.implicits._
      Seq((nEdges.toDouble, anchored.toDouble, allZero))
        .toDF("n_edges", "n_anchored", "all_hamming_zero")
    } {
      """SELECT CAST(11999 AS DOUBLE) AS n_edges,
        |  CAST(11999 AS DOUBLE) AS n_anchored,
        |  TRUE AS all_hamming_zero""".stripMargin
    },

    // The maxBandFreq capped tier EXECUTED (round-9 verdict, wrong #2:
    // the disclosed-drop accounting was code-reviewed, never run).
    // Planted two-part corpus, thresholds lowered (saltAbove=8,
    // cap=20) so the cap binds: group A = 40 singleton hashes sharing
    // bands 1-3 (three freq-40 cells, all capped) and differing by
    // ≤ 3 low bits — every A near-pair's agreeing bands are ALL
    // capped, so the capped run MUST miss all of them; group B = 15
    // planted pairs sharing bands 0-1 across the whole group (two
    // freq-30 capped cells) but each pair agreeing alone on a private
    // band-3 value (freq-2 cold cell) — one uncapped agreeing band,
    // so every B pair MUST survive. The recall bound ("a pair is
    // missed only if ALL its agreeing bands are capped") is checked
    // literally per pair against [[Dedup.cappedCells]] — the
    // disclosure artifact — in BOTH directions, and the capped output
    // is pinned a subset of the exact (maxBandFreq=None) oracle
    // configuration, whose pair count DuckDB re-derives from the
    // same bit arithmetic.
    q("p_dedup_hamming_capped") { (s, dir) =>
      val baseA = 0x0123456789ABCDEFL
      val aRows = (0L until 40L).map(i => (i, baseA ^ i))
      val bRows = (0 until 15).flatMap { p =>
        val b0 = ((p.toLong * 0x1111L) << 48) | (0x00A5L << 32) |
          (0xF00DL << 16) | 0xBEEFL
        Seq((1000L + 2 * p, b0), (1001L + 2 * p, b0 ^ (1L << (32 + (p % 3)))))
      }
      val sp = s
      import sp.implicits._
      // 70-row planted fixture: two partitions, not the 32 the local-
      // relation leaf default would give — per-task overhead owns this
      // gate otherwise (tasks carry ~nothing)
      val df = (aRows ++ bRows).toDF("k", "hash").coalesce(2)
      // saltGroups = 2 (not the default 8): identical semantics — the
      // triangle construction emits the same pairs for any g — but 3
      // task-groups instead of 36 on this 70-row corpus, where group
      // scheduling is the entire cost
      val exactSet = Dedup.hammingNearDups(df, maxHamming = 3,
          cliqueCap = 1000, saltAbove = 8, saltGroups = 2, maxBandFreq = None)
        .select("key_a", "key_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val cappedSet = Dedup.hammingNearDups(df, maxHamming = 3,
          cliqueCap = 1000, saltAbove = 8, saltGroups = 2, maxBandFreq = Some(20))
        .select("key_a", "key_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val cellSet = Dedup.cappedCells(df, cliqueCap = 1000,
          saltAbove = 8, maxBandFreq = 20)
        .collect().map(r => (r.getInt(0), r.getLong(1))).toSet
      val hashOf = (aRows ++ bRows).toMap
      def agreeing(a: Long, b: Long): Seq[(Int, Long)] =
        (0 until 4).flatMap { j =>
          val va = (hashOf(a) >>> (16 * j)) & 0xFFFFL
          val vb = (hashOf(b) >>> (16 * j)) & 0xFFFFL
          if (va == vb) Some((j, va)) else None
        }
      val missed = exactSet -- cappedSet
      val missedOnlyAllCapped = missed.nonEmpty &&
        missed.forall(p => agreeing(p._1, p._2).forall(cellSet.contains))
      val survivorsUncapped = cappedSet.nonEmpty &&
        cappedSet.forall(p => agreeing(p._1, p._2).exists(c => !cellSet.contains(c)))
      Seq((exactSet.size.toDouble, cappedSet.size.toDouble,
          cellSet.size.toDouble, missedOnlyAllCapped, survivorsUncapped,
          cappedSet.subsetOf(exactSet)))
        .toDF("n_exact", "n_capped", "n_capped_cells",
          "missed_only_all_capped", "survivors_have_uncapped",
          "capped_subset_exact")
    } {
      """SELECT
        |  CAST((SELECT count(*)
        |        FROM generate_series(0, 39) s(i), generate_series(0, 39) t(j)
        |        WHERE i < j AND bit_count(CAST(xor(i, j) AS BIGINT)) <= 3)
        |       + 15 AS DOUBLE) AS n_exact,
        |  CAST(15 AS DOUBLE) AS n_capped,
        |  CAST(5 AS DOUBLE) AS n_capped_cells,
        |  TRUE AS missed_only_all_capped,
        |  TRUE AS survivors_have_uncapped,
        |  TRUE AS capped_subset_exact""".stripMargin
    },

    // minhashNearDups' maxBandFreq hot-bucket cap EXECUTING where it
    // binds (the minhash analogue of p_dedup_hamming_capped; r11 —
    // STATUS.md "Round 11 — staged LSH verify + the REAL sharp-config
    // bottleneck": sharp bandings put 88% of 2.4e9 banded
    // pair rows into common-shingle buckets at 100×). Planted corpus:
    // a 60-doc family sharing a 40-token common block (pairwise
    // J = 39/43 ≈ 0.907 — mutual TRUE near-dups, but every agreeing
    // band carries the family-common band value, bucket size ≈ 60 >
    // cap 20 → all capped → all C(60,2) family pairs missed, by
    // construction), plus 10 disjoint-vocabulary keeper pairs
    // (J = 18/20 = 0.9, pair-specific size-2 buckets → kept). The
    // recall bound is checked literally per pair in both directions
    // against the cappedBandBuckets disclosure: missed ⇒ ALL agreeing
    // bands capped; surviving ⇒ ≥1 uncapped agreeing band.
    q("p_dedup_minhash_capped") { (s, dir) =>
      val sp = s
      import sp.implicits._
      val common = (0 until 40).map(i => s"c$i").mkString(" ")
      val family = (0 until 60).map(i => (100L + i, s"$common f$i"))
      val keepers = (0 until 10).flatMap { p =>
        val toks = (0 until 20).map(t => s"k${p}_$t")
        Seq((1000L + 2 * p, toks.mkString(" ")),
          (1001L + 2 * p, (toks.init :+ s"k${p}_x").mkString(" ")))
      }
      // 140-row planted fixture: same narrow-layout rationale as
      // p_dedup_hamming_capped
      val df = (family ++ keepers).toDF("doc_id", "text").coalesce(2)
      def run(cap: Option[Int]) = Dedup.minhashNearDups(df, "doc_id", "text",
          shingleN = 2, numHashes = 128, bands = 32, threshold = 0.5,
          maxBandFreq = cap)
        .select("key_a", "key_b").collect()
        .map(r => (r.getString(0), r.getString(1))).toSet
      val exactSet = run(None)
      val cappedSet = run(Some(20))
      val bucketSet = Dedup.cappedBandBuckets(df, "doc_id", "text",
          shingleN = 2, numHashes = 128, bands = 32, maxBandFreq = 20)
        .collect().map(r => (r.getInt(0), r.getLong(1))).toSet
      // per-doc band values, recomputed through the same public pieces
      val bandOf = df.select(col("doc_id").cast("string").as("k"),
          explode(Dedup.bandKeys(Dedup.minhashSignature(
            Dedup.hashedShingles(col("text"), 2), 128, 42L), 32, 4)).as("bk"))
        .select(col("k"), col("bk.band"), col("bk.bh")).collect()
        .groupBy(_.getString(0))
        .map { case (k, rows) =>
          k -> rows.map(r => (r.getInt(1), r.getLong(2))).toSet }
      def agreeing(a: String, b: String): Set[(Int, Long)] =
        bandOf(a).intersect(bandOf(b))
      val missed = exactSet -- cappedSet
      val missedOnlyAllCapped = missed.nonEmpty &&
        missed.forall(p => agreeing(p._1, p._2).forall(bucketSet.contains))
      val survivorsUncapped = cappedSet.nonEmpty &&
        cappedSet.forall(p =>
          agreeing(p._1, p._2).exists(c => !bucketSet.contains(c)))
      Seq((exactSet.size.toDouble, cappedSet.size.toDouble,
          bucketSet.nonEmpty, missedOnlyAllCapped, survivorsUncapped,
          cappedSet.subsetOf(exactSet)))
        .toDF("n_exact", "n_capped", "cap_binds",
          "missed_only_all_capped", "survivors_have_uncapped",
          "capped_subset_exact")
    } {
      """SELECT
        |  CAST((SELECT count(*) FROM generate_series(0, 59) s(i),
        |        generate_series(0, 59) t(j) WHERE i < j)
        |       + 10 AS DOUBLE) AS n_exact,
        |  CAST(10 AS DOUBLE) AS n_capped,
        |  TRUE AS cap_binds,
        |  TRUE AS missed_only_all_capped,
        |  TRUE AS survivors_have_uncapped,
        |  TRUE AS capped_subset_exact""".stripMargin
    },

    // ExactSubstr dedup (Lee et al. ACL'22): every duplicated
    // ≥20-token window survives only at its canonical (min key, pos)
    // occurrence; other occurrences are cut, overlaps merging into
    // spans. The oracle is a FULL independent reimplementation in
    // DuckDB SQL — window STRINGS as group keys (no hashes),
    // row_number keeper, token-level cover + rebuild — hash-compared
    // on the complete output corpus (the planted full-copy docs AND
    // the corpus's natural cross-doc duplicates both exercise it).
    q("p_dedup_substr") { (s, dir) =>
      val d = docs(s, dir).select(col("doc_id"), col("text"))
      val copies = d.filter(col("doc_id") % 7 === 0)
        .select((col("doc_id") + lit(PlantOffset)).as("doc_id"), col("text"))
      Dedup.dedupSubstrings(d.unionByName(copies), "doc_id", "text",
          minTokens = 20)
        .orderBy(col("doc_id").asc)
    } {
      s"""WITH corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + $PlantOffset, text FROM documents WHERE doc_id % 7 = 0
        |),
        |toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM corpus),
        |winidx AS (
        |  SELECT doc_id, w, unnest(generate_series(1, len(w) - 20 + 1)) AS i
        |  FROM toks
        |),
        |win AS (
        |  SELECT doc_id, i - 1 AS pos,
        |    array_to_string(w[CAST(i AS INT) : CAST(i + 20 - 1 AS INT)], ' ') AS wstr
        |  FROM winidx
        |),
        |win2 AS (
        |  SELECT doc_id, pos, count(*) OVER (PARTITION BY wstr) AS n,
        |    row_number() OVER (PARTITION BY wstr
        |      ORDER BY CAST(doc_id AS VARCHAR), pos) AS rn
        |  FROM win
        |),
        |cuts AS (SELECT doc_id, pos FROM win2 WHERE n > 1 AND rn > 1),
        |tokidx AS (
        |  SELECT doc_id, w, unnest(generate_series(1, len(w))) AS i FROM toks),
        |tok AS (SELECT doc_id, i, w[CAST(i AS INT)] AS t FROM tokidx),
        |cover AS (
        |  SELECT DISTINCT doc_id, i FROM (
        |    SELECT doc_id, unnest(generate_series(pos + 1, pos + 20)) AS i
        |    FROM cuts)
        |),
        |kept AS (
        |  SELECT t.doc_id, t.i, t.t
        |  FROM tok t LEFT JOIN cover cv ON t.doc_id = cv.doc_id AND t.i = cv.i
        |  WHERE cv.i IS NULL
        |),
        |rebuilt AS (
        |  SELECT doc_id, coalesce(string_agg(t, ' ' ORDER BY i), '') AS text
        |  FROM kept GROUP BY doc_id
        |)
        |SELECT c.doc_id,
        |  CASE WHEN cd.doc_id IS NULL THEN c.text
        |       ELSE coalesce(rb.text, '') END AS text
        |FROM corpus c
        |LEFT JOIN (SELECT DISTINCT doc_id FROM cuts) cd ON c.doc_id = cd.doc_id
        |LEFT JOIN rebuilt rb ON c.doc_id = rb.doc_id
        |ORDER BY c.doc_id""".stripMargin
    },

    q("p_embed_neardup") { (s, dir) =>
      Dedup.embeddingNearDupsExact(
        embs(s, dir).filter(col("vec_id") % 2 === 0), "vec_id", "embedding",
        minCosine = 0.35)
        .withColumn("cosine", round(col("cosine"), 4))
        .orderBy(col("key_a").cast("long").asc, col("key_b").cast("long").asc)
    } {
      """WITH e AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) v
        |  FROM embeddings WHERE vec_id % 2 = 0),
        |p AS (
        |  SELECT CAST(a.vec_id AS VARCHAR) AS key_a,
        |    CAST(b.vec_id AS VARCHAR) AS key_b,
        |    round(list_cosine_similarity(a.v, b.v), 4) AS cosine
        |  FROM e a JOIN e b ON a.vec_id < b.vec_id)
        |SELECT * FROM p WHERE cosine >= 0.35
        |ORDER BY CAST(key_a AS BIGINT) ASC, CAST(key_b AS BIGINT) ASC""".stripMargin
    },

    // Sign-LSH near-dup: precision is exact BY CONSTRUCTION (every
    // candidate verifies with exact cosine before emission) and recall
    // vs the exact pair set is deterministic (seeded hyperplanes, fixed
    // corpus) — both oracle-checked properties now (round-5 verdict):
    // every emitted pair must be a true cosine ≥ 0.3 pair, and the
    // emitted set must cover ≥ 35% of the exact pairs — measured
    // 0.40-0.45 across sf0.001-0.1, right on the sign-LSH theory value
    // for cosine-0.3 pairs (per-plane agreement 1−acos(0.3)/π ≈ 0.60;
    // 1−(1−0.60⁴)⁴ ≈ 0.42). Banding trades exactly this recall for
    // never shuffling all-pairs — the exact-oracled sibling is
    // p_embed_neardup.
    q("p_embed_neardup_lsh") { (s, dir) =>
      val got = Dedup.embeddingNearDupsLsh(embs(s, dir), "vec_id", "embedding",
          minCosine = 0.3, numPlanes = 16, bands = 4)
        .select("key_a", "key_b").collect()
        .map(r => (r.getString(0), r.getString(1)))
      val exact = exactCosPairs(s, dir)
      val sp = s
      import sp.implicits._
      Seq((got.forall(exact.contains),
          got.count(exact.contains).toDouble / math.max(1, exact.size) >= 0.35))
        .toDF("precision_exact", "recall_ok")
    } {
      "SELECT TRUE AS precision_exact, TRUE AS recall_ok"
    },

    // SemDeDup (arXiv:2303.09540): k-means cells as the candidate
    // generator, exact cosine within cells, components, keep one per
    // component. Planted identical-embedding copies are GUARANTEED
    // same-cell (argmin of an identical vector is identical), so
    // every planted pair must surface (booleans, not probabilities);
    // precision is exact (pairs ⊆ the broadcast-exact τ=0.95 pair
    // fixture); recall vs that fixture is the measured cell-split
    // trade the gate pins; and exactly one of each planted (orig,
    // copy) pair may survive the end-to-end dedup.
    q("p_embed_semdedup") { (s, dir) =>
      val corpus = semCorpus(s, dir)
      val pairRows = Dedup.semanticNearDups(corpus, "vec_id", "embedding",
          minCosine = 0.95, nCells = 8)
        .select("key_a", "key_b").collect()
        .map { r =>
          val (a, b) = (r.getString(0), r.getString(1))
          (if (a < b) a else b, if (a < b) b else a)
        }
      val gotSet = pairRows.toSet
      val exact = exactSemPairs(s, dir)
      val planted = embs(s, dir).filter(col("vec_id") % 13 === 0)
        .select(col("vec_id").cast("string")).collect().map(_.getString(0))
      val plantedPairs = planted.map { k =>
        val c = (k.toLong + PlantOffset).toString
        (if (k < c) k else c, if (k < c) c else k)
      }.toSet
      val sp = s
      import sp.implicits._
      // survivors from the already-computed pair set: times CC +
      // anti-join, not a second k-means+join pass
      val survivors = Dedup.dedupTransitive(corpus, "vec_id",
          pairRows.toSeq.toDF("key_a", "key_b"))
        .select(col("vec_id").cast("string")).collect().map(_.getString(0)).toSet
      Seq((corpus.count().toDouble,
          plantedPairs.forall(gotSet.contains),
          gotSet.forall(exact.contains),
          gotSet.count(exact.contains).toDouble / math.max(1, exact.size) >= 0.95,
          plantedPairs.forall { case (a, b) => survivors(a) ^ survivors(b) }))
        .toDF("n_input", "planted_found", "precision_exact", "recall_ok",
          "one_survivor_each")
    } {
      """SELECT CAST((SELECT count(*) FROM embeddings)
        |  + (SELECT count(*) FROM embeddings WHERE vec_id % 13 = 0) AS DOUBLE)
        |  AS n_input,
        |  TRUE AS planted_found, TRUE AS precision_exact,
        |  TRUE AS recall_ok, TRUE AS one_survivor_each""".stripMargin
    },

    // -------------------- similarity search ------------------------ //

    q("p_ann_bruteforce") { (s, dir) =>
      Ann.topK(embs(s, dir), "vec_id", "embedding", Queries.queryVec,
        k = 20, metric = "COSINE")
        .withColumn("distance", round(col("distance"), 4))
    } {
      val vecSql = Queries.queryVec.map(v => f"$v%.3f")
        .mkString("CAST([", ", ", "] AS DOUBLE[])")
      s"""SELECT CAST(vec_id AS VARCHAR) AS __key,
         |  round(1.0 - list_cosine_similarity(CAST(embedding AS DOUBLE[]), $vecSql), 4) AS distance
         |FROM embeddings
         |ORDER BY 1.0 - list_cosine_similarity(CAST(embedding AS DOUBLE[]), $vecSql) ASC,
         |  __key ASC LIMIT 20""".stripMargin
    },

    // AUTO-planned single-query top-k (the reference planner's
    // per-query data-driven choice, src/query/planner.cc:21-46, on the
    // pipeline ANN surface): no plan override — the facade measures
    // corpus shape and picks. At gate scale nBase·dim is far under the
    // single-query exact budget, so the choice is "exact" (regimes
    // spec-pinned in PipelineSpec) and DuckDB's ordered scan is a
    // hash-equal oracle of the WHOLE path: measure → choose → execute.
    q("p_ann_topk_auto") { (s, dir) =>
      Ann.topKAuto(embs(s, dir), "vec_id", "embedding", Queries.queryVec,
        k = 20, metric = "COSINE")
        .withColumn("distance", round(col("distance"), 4))
    } {
      val vecSql = Queries.queryVec.map(v => f"$v%.3f")
        .mkString("CAST([", ", ", "] AS DOUBLE[])")
      s"""SELECT CAST(vec_id AS VARCHAR) AS __key,
         |  round(1.0 - list_cosine_similarity(CAST(embedding AS DOUBLE[]), $vecSql), 4) AS distance
         |FROM embeddings
         |ORDER BY 1.0 - list_cosine_similarity(CAST(embedding AS DOUBLE[]), $vecSql) ASC,
         |  __key ASC LIMIT 20""".stripMargin
    },

    // IVF partial probes trade recall for scanned bytes BY DESIGN, so
    // the oracle-checked contract is the recall property (round-5
    // verdict: property oracles for the rows-only gates): 4/16 probes
    // must recover ≥ 40% of the exact cosine top-20 (measured
    // 0.45-0.70 across sf0.001-0.1 — the gate embeddings are uniform
    // random, IVF's known worst case; clustered corpora recall ~1.0,
    // STATUS sweep) — deterministic on the fixed corpus (hash-ordered
    // sample, seeded k-means). Index build memoized: bench reps
    // measure the probe-and-rank.
    q("p_ann_ivf") { (s, dir) =>
      val got = ivfIdx(s, dir)
        .search(Queries.queryVec, k = 20, nProbe = 4, metric = "COSINE")
        .select("__key").collect().map(_.getString(0))
      val exact = exactCosTop20(s, dir)
      val sp = s
      import sp.implicits._
      Seq((got.length.toDouble,
          got.count(exact.contains).toDouble / exact.size >= 0.4))
        .toDF("n_results", "recall_ok")
    } {
      "SELECT CAST(20 AS DOUBLE) AS n_results, TRUE AS recall_ok"
    },

    // MAINTAINED IVF, exact-oracled: the store is built on 2/3 of the
    // vectors, then one batch upserts the held-out third and deletes
    // %5==0 of the rest (cell-partitioned LSM segments — probes prune
    // main AND delta dirs). FULL probes make the search exact, so
    // DuckDB's top-k over the post-change corpus is a hash-equal
    // oracle: a stale tombstone, lost upsert, or wrong cell assignment
    // all break the compare.
    q("p_ann_ivf_inc") { (s, dir) =>
      val ivf = ivfStore(s, dir)
      ivf.view.search(Queries.queryVec, k = 20,
          nProbe = ivf.centroids.length, metric = "COSINE")
        .withColumn("distance", round(col("distance"), 4))
    } {
      val vecSql = Queries.queryVec.map(v => f"$v%.3f")
        .mkString("CAST([", ", ", "] AS DOUBLE[])")
      s"""SELECT CAST(vec_id AS VARCHAR) AS __key,
         |  round(1.0 - list_cosine_similarity(CAST(embedding AS DOUBLE[]), $vecSql), 4) AS distance
         |FROM embeddings
         |WHERE vec_id % 3 = 0 OR vec_id % 5 <> 0
         |ORDER BY 1.0 - list_cosine_similarity(CAST(embedding AS DOUBLE[]), $vecSql) ASC,
         |  __key ASC LIMIT 20""".stripMargin
    },

    // k-NN JOIN through the IVF-celled plan with FULL probes: every
    // query finds its exact top-5, so DuckDB's windowed cross join is
    // a hash-equal oracle — a wrong cell assignment, lost probe, or
    // broken top-k merge all mismatch. Partial-probe recall is pinned
    // by PipelineSpec instead.
    q("p_ann_join") { (s, dir) =>
      val e = embs(s, dir)
      Ann.knnJoin(
        e.filter(col("vec_id") % 101 === 0), "vec_id", "embedding",
        e.filter(col("vec_id") % 101 =!= 0), "vec_id", "embedding",
        k = 5, metric = "COSINE",
        plan = Some("ivf"), nCells = Some(8), nProbe = Some(8))
        .withColumn("distance", round(col("distance"), 4))
        .orderBy(col("__key").cast("long").asc, col("rk").asc)
    } {
      """WITH q AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v
        |  FROM embeddings WHERE vec_id % 101 = 0),
        |b AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v
        |  FROM embeddings WHERE vec_id % 101 <> 0),
        |s AS (SELECT q.vec_id qk, b.vec_id bk,
        |        1.0 - list_cosine_similarity(q.v, b.v) AS d FROM q CROSS JOIN b),
        |r AS (SELECT CAST(qk AS VARCHAR) AS __key,
        |        CAST(row_number() OVER (PARTITION BY qk
        |          ORDER BY d ASC, CAST(bk AS VARCHAR) ASC) AS DOUBLE) AS rk,
        |        CAST(bk AS VARCHAR) AS neighbor, round(d, 4) AS distance
        |      FROM s)
        |SELECT * FROM r WHERE rk <= 5
        |ORDER BY CAST(__key AS BIGINT) ASC, rk ASC""".stripMargin
    },

    // AUTO-planned k-NN join (the reference planner's data-driven
    // choice, src/query/planner.cc:21-46): no plan override — the
    // facade measures shape and picks. At gate scale the scored cross
    // product is far under the exact-plan budget, so the choice is
    // "exact" (spec-pinned in PipelineSpec along with the other
    // regimes) and DuckDB's windowed cross join is a hash-equal
    // oracle of the WHOLE path: measure → choose → execute.
    q("p_ann_join_auto") { (s, dir) =>
      val e = embs(s, dir)
      Ann.knnJoin(
        e.filter(col("vec_id") % 101 === 0), "vec_id", "embedding",
        e.filter(col("vec_id") % 101 =!= 0), "vec_id", "embedding",
        k = 3, metric = "COSINE")
        .withColumn("distance", round(col("distance"), 4))
        .orderBy(col("__key").cast("long").asc, col("rk").asc)
    } {
      """WITH q AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v
        |  FROM embeddings WHERE vec_id % 101 = 0),
        |b AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v
        |  FROM embeddings WHERE vec_id % 101 <> 0),
        |s AS (SELECT q.vec_id qk, b.vec_id bk,
        |        1.0 - list_cosine_similarity(q.v, b.v) AS d FROM q CROSS JOIN b),
        |r AS (SELECT CAST(qk AS VARCHAR) AS __key,
        |        CAST(row_number() OVER (PARTITION BY qk
        |          ORDER BY d ASC, CAST(bk AS VARCHAR) ASC) AS DOUBLE) AS rk,
        |        CAST(bk AS VARCHAR) AS neighbor, round(d, 4) AS distance
        |      FROM s)
        |SELECT * FROM r WHERE rk <= 3
        |ORDER BY CAST(__key AS BIGINT) ASC, rk ASC""".stripMargin
    },

    // Int8 scalar quantization (4× smaller corpus scans): the contract
    // is the two-stage recall property — quantized first stage + exact
    // re-rank must recover ≥ 0.9 of the exact float32 top-10. Grid
    // error bounds and re-rank exactness are pinned in PipelineSpec.
    q("p_ann_sq_recall") { (s, dir) =>
      val got = Ann.topKSq(Ann.sqQuantize(embs(s, dir), "embedding"),
          "vec_id", "embedding", SqQueryVec, k = 10, metric = "L2")
        .select("__key").collect().map(_.getString(0))
      val exact = exactSqTop(s, dir)
      val sp = s
      import sp.implicits._
      Seq((got.length.toDouble,
          got.count(exact.contains).toDouble / 10.0 >= 0.9))
        .toDF("n_results", "recall_ok")
    } {
      "SELECT CAST(10 AS DOUBLE) AS n_results, TRUE AS recall_ok"
    },

    // Product quantization (Jégou/Douze/Schmid TPAMI'11): the 32×
    // compression tier below int8 SQ's 4× — the corpus-wide first
    // stage reads m=8 BYTES per vector and scores with table lookups
    // (codegen'd ADC), then the float re-rank must recover ≥ 0.9 of
    // the exact float32 top-10 (measured 1.0 across sf0.001-0.1 at
    // rerank=8; PQ cells are coarser than SQ's grid, hence the wider
    // default margin). Codebook training is a per-dir fixture (index-
    // build work); encode + two-stage search run per rep — they ARE
    // the operator.
    q("p_ann_pq_recall") { (s, dir) =>
      val model = pqModel(s, dir)
      val got = Ann.topKPq(Ann.pqEncode(embs(s, dir), "embedding", model),
          "vec_id", "embedding", SqQueryVec, k = 10, model, metric = "L2")
        .select("__key").collect().map(_.getString(0))
      val exact = exactSqTop(s, dir)
      val sp = s
      import sp.implicits._
      Seq((got.length.toDouble,
          got.count(exact.contains).toDouble / 10.0 >= 0.9))
        .toDF("n_results", "recall_ok")
    } {
      "SELECT CAST(10 AS DOUBLE) AS n_results, TRUE AS recall_ok"
    },

    // PQ k-NN join: m-byte ADC first stage (per-query lookup tables
    // broadcast with the query batch) + exact float re-rank, judged
    // against the same MEMOIZED exact join pairs as the SQ/NSW joins
    // so the bench median measures the quantized operator.
    q("p_ann_join_pq") { (s, dir) =>
      val e = embs(s, dir)
      val model = pqModel(s, dir)
      val got = Ann.knnJoinPq(
        e.filter(col("vec_id") % 101 === 0), "vec_id", "embedding",
        Ann.pqEncode(e.filter(col("vec_id") % 101 =!= 0), "embedding", model),
        "vec_id", "embedding", k = 5, model, metric = "L2")
        .select("__key", "neighbor").collect()
        .map(r => (r.getString(0), r.getString(1)))
      val (exact, exactN) = exactJoinPairs(s, dir)
      val sp = s
      import sp.implicits._
      Seq((got.length.toDouble,
          got.count(exact.contains).toDouble / math.max(1L, exactN) >= 0.9))
        .toDF("n_rows", "recall_ok")
    } {
      """SELECT CAST((SELECT count(*) FROM embeddings WHERE vec_id % 101 = 0) * 5
        |    AS DOUBLE) AS n_rows,
        |  TRUE AS recall_ok""".stripMargin
    },

    // IVFADC k-NN join (Jégou TPAMI'11 §IV): the cell-cogroup shuffle
    // with m-byte PQ codes in place of float vectors — the quantized
    // plan for query sides beyond the broadcast contract. Full probes
    // here, so the ADC stage covers the corpus and recall vs the
    // memoized exact pairs is re-rank-bounded (≥ 0.9; measured 1.0).
    q("p_ann_join_ivfpq") { (s, dir) =>
      val e = embs(s, dir)
      val model = pqModel(s, dir)
      val got = Ann.knnJoinIvfPq(
        e.filter(col("vec_id") % 101 === 0), "vec_id", "embedding",
        e.filter(col("vec_id") % 101 =!= 0), "vec_id", "embedding",
        k = 5, nCells = 8, nProbe = 8, model, metric = "L2")
        .select("__key", "neighbor").collect()
        .map(r => (r.getString(0), r.getString(1)))
      val (exact, exactN) = exactJoinPairs(s, dir)
      val sp = s
      import sp.implicits._
      Seq((got.length.toDouble,
          got.count(exact.contains).toDouble / math.max(1L, exactN) >= 0.9))
        .toDF("n_rows", "recall_ok")
    } {
      """SELECT CAST((SELECT count(*) FROM embeddings WHERE vec_id % 101 = 0) * 5
        |    AS DOUBLE) AS n_rows,
        |  TRUE AS recall_ok""".stripMargin
    },

    // Quantized k-NN join: int8 first stage + exact re-rank. Recall is
    // judged against the MEMOIZED exact join pairs, so the bench
    // median measures the quantized operator (round-5 verdict: the old
    // gate ran the exact join + two counts + an intersect per rep).
    q("p_ann_join_sq") { (s, dir) =>
      val e = embs(s, dir)
      val got = Ann.knnJoinSq(
        e.filter(col("vec_id") % 101 === 0), "vec_id", "embedding",
        Ann.sqQuantize(e.filter(col("vec_id") % 101 =!= 0), "embedding"),
        "vec_id", "embedding", k = 5, metric = "L2")
        .select("__key", "neighbor").collect()
        .map(r => (r.getString(0), r.getString(1)))
      val (exact, exactN) = exactJoinPairs(s, dir)
      val sp = s
      import sp.implicits._
      Seq((got.length.toDouble,
          got.count(exact.contains).toDouble / math.max(1L, exactN) >= 0.9))
        .toDF("n_rows", "recall_ok")
    } {
      """SELECT CAST((SELECT count(*) FROM embeddings WHERE vec_id % 101 = 0) * 5
        |    AS DOUBLE) AS n_rows,
        |  TRUE AS recall_ok""".stripMargin
    },

    // NSW-routed k-NN join is approximate, so (like q_ann_inline_recall)
    // the oracle-checked contract is the recall property: every query
    // gets its full k neighbors and ≥ 0.9 of the (query, neighbor)
    // pairs match the exact broadcast join. Shape parity (vs a naive
    // model, deleted-node exclusion) is pinned in PipelineSpec.
    q("p_ann_join_nsw") { (s, dir) =>
      val e = embs(s, dir)
      val got = Ann.knnJoinNsw(nswIdx(s, dir),
        e.filter(col("vec_id") % 101 === 0), "vec_id", "embedding",
        k = 5, ef = 200)
        .select("__key", "neighbor").collect()
        .map(r => (r.getString(0), r.getString(1)))
      val (exact, exactN) = exactJoinPairs(s, dir)
      val sp = s
      import sp.implicits._
      Seq((got.length.toDouble,
          got.count(exact.contains).toDouble / math.max(1L, exactN) >= 0.9))
        .toDF("n_rows", "recall_ok")
    } {
      """SELECT CAST((SELECT count(*) FROM embeddings WHERE vec_id % 101 = 0) * 5
        |    AS DOUBLE) AS n_rows,
        |  TRUE AS recall_ok""".stripMargin
    },

    // -------------------- text analysis ---------------------------- //

    // Gopher rule filter (Rae et al. 2021 A1.1): the corpus has no
    // newlines, so the SAME multi-line text is synthesized on both
    // engines (doc_id-planted bullets and ellipses exercise the line
    // rules); the oracle recomputes every rule measurement and the
    // combined verdict from scratch.
    q("p_quality_gopher") { (s, dir) =>
      val lines = concat_ws("\n",
        substring(col("text"), 1, 40),
        when(col("doc_id") % 2 === 0,
          concat(lit("- "), substring(col("text"), 41, 20)))
          .otherwise(substring(col("text"), 41, 20)),
        when(col("doc_id") % 3 === 0,
          concat(substring(col("text"), 61, 20), lit("...")))
          .otherwise(substring(col("text"), 61, 20)),
        substring(col("text"), 81, 40),
        // the corpus vocabulary carries ≤ 1 Gopher stopword — plant a
        // stop-rich tail on 4/5 of docs so the stop rule discriminates
        when(col("doc_id") % 5 === 0, lit("alpha beta"))
          .otherwise(lit("of that have with be to")))
      docs(s, dir)
        .withColumn("__g", TextMetrics.gopherRules(lines, minWords = 15))
        .select(col("doc_id").cast("string").as("__key"),
          col("__g.word_count").as("word_count"),
          col("__g.mean_word_len").as("mean_word_len"),
          col("__g.symbol_word_ratio").as("symbol_word_ratio"),
          col("__g.bullet_line_frac").as("bullet_line_frac"),
          col("__g.ellipsis_line_frac").as("ellipsis_line_frac"),
          col("__g.alpha_word_frac").as("alpha_word_frac"),
          col("__g.stop_word_hits").as("stop_word_hits"),
          col("__g.pass").cast("long").as("pass"))
        .orderBy(col("__key").cast("long").asc)
        .limit(400)
    } {
      val stops = TextMetrics.GopherStops.map(w => s"'$w'").mkString("[", ", ", "]")
      s"""WITH s AS (
         |  SELECT doc_id, concat_ws(chr(10),
         |    substr(text, 1, 40),
         |    CASE WHEN doc_id % 2 = 0 THEN '- ' || substr(text, 41, 20)
         |         ELSE substr(text, 41, 20) END,
         |    CASE WHEN doc_id % 3 = 0 THEN substr(text, 61, 20) || '...'
         |         ELSE substr(text, 61, 20) END,
         |    substr(text, 81, 40),
         |    CASE WHEN doc_id % 5 = 0 THEN 'alpha beta'
         |         ELSE 'of that have with be to' END) AS t
         |  FROM documents),
         |w AS (
         |  SELECT doc_id, t,
         |    list_filter(string_split_regex(t, '\\s+'), x -> strlen(x) > 0) AS words,
         |    list_filter(string_split(t, chr(10)), l -> strlen(trim(l)) > 0) AS lines
         |  FROM s),
         |m AS (
         |  SELECT CAST(doc_id AS VARCHAR) AS __key,
         |    CAST(len(words) AS BIGINT) AS word_count,
         |    CASE WHEN len(words) = 0 THEN 0.0
         |         ELSE list_sum(list_transform(words, x -> strlen(x)))::DOUBLE / len(words) END AS mwl,
         |    CASE WHEN len(words) = 0 THEN 0.0
         |         ELSE len(regexp_extract_all(t, '#|\\.\\.\\.'))::DOUBLE / len(words) END AS swr,
         |    CASE WHEN len(lines) = 0 THEN 0.0
         |         ELSE len(list_filter(lines, l -> regexp_matches(trim(l), '^[-*]')))::DOUBLE / len(lines) END AS blf,
         |    CASE WHEN len(lines) = 0 THEN 0.0
         |         ELSE len(list_filter(lines, l -> regexp_matches(trim(l), '\\.\\.\\.$$')))::DOUBLE / len(lines) END AS elf,
         |    CASE WHEN len(words) = 0 THEN 0.0
         |         ELSE len(list_filter(words, x -> regexp_matches(x, '[a-zA-Z]')))::DOUBLE / len(words) END AS awf,
         |    CAST(len(list_intersect(list_distinct(list_transform(words, x -> lower(x))), $stops)) AS BIGINT) AS stop_word_hits
         |  FROM w)
         |SELECT __key, word_count,
         |  round(mwl, 6) AS mean_word_len, round(swr, 6) AS symbol_word_ratio,
         |  round(blf, 6) AS bullet_line_frac, round(elf, 6) AS ellipsis_line_frac,
         |  round(awf, 6) AS alpha_word_frac, stop_word_hits,
         |  CAST(CASE WHEN word_count BETWEEN 15 AND 100000
         |    AND mwl BETWEEN 3 AND 10
         |    AND swr <= 0.1 AND blf <= 0.9 AND elf <= 0.3 AND awf >= 0.8
         |    AND stop_word_hits >= 2 THEN 1 ELSE 0 END AS BIGINT) AS pass
         |FROM m ORDER BY CAST(__key AS BIGINT) ASC LIMIT 400""".stripMargin
    },

    // Composed quality pipeline: Gopher rules ∧ n-gram repetition
    // thresholds ∧ deterministic hash sample, ONE dataflow and ONE
    // oracle — a stage-order or threshold divergence hash-mismatches.
    // The repetition thresholds compare UNROUNDED fractions on both
    // engines (the struct carries raw doubles; only gate output
    // rounds).
    q("p_pipeline_quality_e2e") { (s, dir) =>
      val t = concat_ws("\n",
        substring(col("text"), 1, 40),
        when(col("doc_id") % 2 === 0,
          concat(lit("- "), substring(col("text"), 41, 20)))
          .otherwise(substring(col("text"), 41, 20)),
        when(col("doc_id") % 3 === 0,
          concat(substring(col("text"), 61, 20), lit("...")))
          .otherwise(substring(col("text"), 61, 20)),
        substring(col("text"), 81, 40),
        when(col("doc_id") % 5 === 0, lit("alpha beta"))
          .otherwise(lit("of that have with be to")))
      // eval_once (r17): without the barrier, CollapseProject +
      // predicate pushdown inline gopher_counts into the Filter
      // condition 22× and ngram_repetition_stats 2× (FilterExec does
      // no common-subexpression elimination), so every row paid the
      // tokenize/count pass per conjunct — plans/r17 before/after.
      // The barrier keeps both structs in ONE projection below the
      // filter; outputs are bit-identical (the wrapped expressions are
      // deterministic; only plan shape changes).
      // NOT widened, re-measured in r17: with the barrier the filter
      // can no longer sink below an exchange, but the widen still
      // loses (pairs: barrier-only 0.71-0.88 s vs barrier+ensure
      // 1.15-1.62 s) — once the structs evaluate once per row the
      // remaining compute is cheaper than the exchange + AQE round
      val kept = docs(s, dir)
        .withColumn("__t", t)
        .withColumn("__g", graft.functions.eval_once(
          TextMetrics.gopherRules(col("__t"), minWords = 15)))
        .withColumn("__nr", graft.functions.eval_once(
          TextMetrics.ngramRepetitionStats(col("__t"))))
        .filter(col("__g.pass") &&
          col("__nr.top_2gram_char_frac") <= lit(0.20) &&
          col("__nr.dup_5gram_char_frac") <= lit(0.15))
      Curation.sampleByHash(kept, "doc_id", 0.5)
        .select(col("doc_id").cast("string").as("__key"),
          col("__g.word_count").as("word_count"))
        .orderBy(col("__key").cast("long").asc)
        .limit(400)
    } {
      val stops = TextMetrics.GopherStops.map(w => s"'$w'").mkString("[", ", ", "]")
      s"""WITH s AS (
         |  SELECT doc_id, concat_ws(chr(10),
         |    substr(text, 1, 40),
         |    CASE WHEN doc_id % 2 = 0 THEN '- ' || substr(text, 41, 20)
         |         ELSE substr(text, 41, 20) END,
         |    CASE WHEN doc_id % 3 = 0 THEN substr(text, 61, 20) || '...'
         |         ELSE substr(text, 61, 20) END,
         |    substr(text, 81, 40),
         |    CASE WHEN doc_id % 5 = 0 THEN 'alpha beta'
         |         ELSE 'of that have with be to' END) AS t
         |  FROM documents),
         |w AS (
         |  SELECT doc_id, t,
         |    list_filter(string_split_regex(t, '\\s+'), x -> strlen(x) > 0) AS words,
         |    list_filter(string_split(t, chr(10)), l -> strlen(trim(l)) > 0) AS lines
         |  FROM s),
         |gm AS (
         |  SELECT doc_id,
         |    CAST(len(words) AS BIGINT) AS word_count,
         |    CASE WHEN len(words) = 0 THEN 0.0
         |         ELSE list_sum(list_transform(words, x -> strlen(x)))::DOUBLE / len(words) END AS mwl,
         |    CASE WHEN len(words) = 0 THEN 0.0
         |         ELSE len(regexp_extract_all(t, '#|\\.\\.\\.'))::DOUBLE / len(words) END AS swr,
         |    CASE WHEN len(lines) = 0 THEN 0.0
         |         ELSE len(list_filter(lines, l -> regexp_matches(trim(l), '^[-*]')))::DOUBLE / len(lines) END AS blf,
         |    CASE WHEN len(lines) = 0 THEN 0.0
         |         ELSE len(list_filter(lines, l -> regexp_matches(trim(l), '\\.\\.\\.$$')))::DOUBLE / len(lines) END AS elf,
         |    CASE WHEN len(words) = 0 THEN 0.0
         |         ELSE len(list_filter(words, x -> regexp_matches(x, '[a-zA-Z]')))::DOUBLE / len(words) END AS awf,
         |    CAST(len(list_intersect(list_distinct(list_transform(words, x -> lower(x))), $stops)) AS BIGINT) AS sh
         |  FROM w),
         |pos AS (SELECT doc_id, i, words[i] AS word
         |        FROM w, unnest(generate_series(1, len(words))) AS t(i)),
         |tot AS (SELECT doc_id, sum(strlen(word)) AS tc FROM pos GROUP BY 1),
         |g2 AS (SELECT doc_id, i, array_to_string(words[i:i+1], ' ') AS g
         |       FROM w, unnest(generate_series(1, len(words)-1)) AS t(i)),
         |c2 AS (SELECT doc_id, g, count(*) AS c FROM g2 GROUP BY 1,2),
         |t2 AS (SELECT doc_id, g FROM (
         |  SELECT doc_id, g, row_number() OVER (
         |    PARTITION BY doc_id ORDER BY c DESC, strlen(g) DESC, g ASC) AS rn
         |  FROM c2) WHERE rn = 1),
         |cov2 AS (SELECT DISTINCT gr.doc_id, p.p
         |         FROM g2 gr JOIN t2 USING (doc_id, g),
         |         unnest(generate_series(gr.i, gr.i+1)) AS p(p)),
         |f2 AS (SELECT tot.doc_id,
         |         coalesce(sum(strlen(pos.word)), 0)::DOUBLE / tot.tc AS f
         |       FROM tot
         |       LEFT JOIN cov2 ON tot.doc_id = cov2.doc_id
         |       LEFT JOIN pos ON pos.doc_id = cov2.doc_id AND pos.i = cov2.p
         |       GROUP BY tot.doc_id, tot.tc),
         |g5 AS (SELECT doc_id, i, array_to_string(words[i:i+4], ' ') AS g
         |       FROM w, unnest(generate_series(1, len(words)-4)) AS t(i)),
         |d5 AS (SELECT doc_id, g FROM (
         |  SELECT doc_id, g, count(*) AS c FROM g5 GROUP BY 1,2) WHERE c >= 2),
         |cov5 AS (SELECT DISTINCT gr.doc_id, p.p
         |         FROM g5 gr JOIN d5 USING (doc_id, g),
         |         unnest(generate_series(gr.i, gr.i+4)) AS p(p)),
         |f5 AS (SELECT tot.doc_id,
         |         coalesce(sum(strlen(pos.word)), 0)::DOUBLE / tot.tc AS f
         |       FROM tot
         |       LEFT JOIN cov5 ON tot.doc_id = cov5.doc_id
         |       LEFT JOIN pos ON pos.doc_id = cov5.doc_id AND pos.i = cov5.p
         |       GROUP BY tot.doc_id, tot.tc)
         |SELECT CAST(gm.doc_id AS VARCHAR) AS __key, gm.word_count
         |FROM gm JOIN f2 USING (doc_id) JOIN f5 USING (doc_id)
         |WHERE gm.word_count BETWEEN 15 AND 100000
         |  AND gm.mwl BETWEEN 3 AND 10
         |  AND gm.swr <= 0.1 AND gm.blf <= 0.9 AND gm.elf <= 0.3
         |  AND gm.awf >= 0.8 AND gm.sh >= 2
         |  AND f2.f <= 0.20 AND f5.f <= 0.15
         |  AND CAST(concat('0x', substr(md5(CAST(gm.doc_id AS VARCHAR)), 1, 4)) AS INTEGER) < 32768
         |ORDER BY gm.doc_id ASC LIMIT 400""".stripMargin
    },

    q("p_text_metrics") { (s, dir) =>
      TextMetrics.annotate(docs(s, dir), "text")
        .select(col("doc_id").cast("string").as("__key"),
          col("n_tokens_ws"), col("n_tokens_bpe"),
          round(col("stopword_ratio"), 4).as("stopword_ratio"),
          round(col("mean_token_len"), 4).as("mean_token_len"),
          col("quality"), col("lang_pred"))
        .orderBy(col("__key").asc)
        .limit(300)
    } {
      val langCase = {
        val cnts = TextMetrics.LangProfiles.map { case (lang, words) =>
          val list = words.map(w => s"'$w'").mkString("[", ", ", "]")
          lang -> s"len(list_filter(string_split(text,' '), w -> list_contains($list, w)))"
        }
        val best = cnts.map(_._2).mkString("greatest(", ", ", ")")
        val whens = cnts.map { case (lang, c) =>
          s"WHEN $c = __best AND __best > 0 THEN '$lang'"
        }.mkString(" ")
        (best, s"CASE $whens ELSE 'unknown' END")
      }
      val stops = TextMetrics.Stopwords.map(w => s"'$w'").mkString("[", ", ", "]")
      s"""WITH base AS (
         |  SELECT *, ${langCase._1} AS __best,
         |    len(string_split(text, ' ')) AS __n
         |  FROM documents),
         |m AS (
         |  SELECT CAST(doc_id AS VARCHAR) AS __key,
         |    CAST(__n AS DOUBLE) AS n_tokens_ws,
         |    CAST(len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]')) AS DOUBLE) AS n_tokens_bpe,
         |    round(len(list_filter(string_split(text,' '), w -> list_contains($stops, w)))::DOUBLE / __n, 4) AS stopword_ratio,
         |    round(list_sum(list_transform(string_split(text,' '), w -> strlen(w)))::DOUBLE / __n, 4) AS mean_token_len,
         |    round(least(__n / 50.0, 1.0) * least(1.0, 20000.0 / greatest(__n, 1)) * 0.4
         |      + (1.0 - least(((strlen(text) - strlen(regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g')))::DOUBLE
         |           / strlen(text)) * 4.0, 1.0)) * 0.3
         |      + (CASE WHEN list_sum(list_transform(string_split(text,' '), w -> strlen(w)))::DOUBLE / __n
         |           BETWEEN 3 AND 10 THEN 1.0 ELSE 0.5 END) * 0.3, 6) AS quality,
         |    ${langCase._2} AS lang_pred
         |  FROM base)
         |SELECT * FROM m ORDER BY __key ASC LIMIT 300""".stripMargin
    },

    // Repetition (duplicate-line) stats: the corpus has no newlines, so
    // the SAME multi-line text is synthesized on both engines with
    // doc_id-dependent planted repeats; the oracle then recomputes
    // line counts, duplicate-line fraction and duplicate-character
    // fraction from scratch via unnest + group-by.
    // Gopher duplicate word-n-gram fractions (table A1): doc_id-planted
    // span duplication gives the dup rules real signal; the oracle
    // recomputes the position-marking coverage from scratch (per-doc
    // word positions → n-grams → top/duplicated grams → covered
    // positions → char fractions). The unit spec covers all nine
    // measurements; the gate pins a representative column set.
    q("p_repetition_ngram") { (s, dir) =>
      val t = when(col("doc_id") % 2 === 0,
        concat_ws(" ", substring(col("text"), 1, 60),
          substring(col("text"), 1, 60), substring(col("text"), 61, 100)))
        .otherwise(substring(col("text"), 1, 220))
      docs(s, dir)
        .withColumn("__r", TextMetrics.ngramRepetitionStats(t))
        .select(col("doc_id").cast("string").as("__key"),
          round(col("__r.top_2gram_char_frac"), 6).as("top_2gram_char_frac"),
          round(col("__r.top_3gram_char_frac"), 6).as("top_3gram_char_frac"),
          round(col("__r.dup_5gram_char_frac"), 6).as("dup_5gram_char_frac"),
          round(col("__r.dup_8gram_char_frac"), 6).as("dup_8gram_char_frac"))
        .orderBy(col("__key").cast("long").asc)
        .limit(300)
    } {
      def topBlock(n: Int) =
        s"""g$n AS (SELECT doc_id, i, array_to_string(words[i:i+${n - 1}], ' ') AS g
           |       FROM w, unnest(generate_series(1, len(words)-${n - 1})) AS t(i)),
           |c$n AS (SELECT doc_id, g, count(*) AS c FROM g$n GROUP BY 1,2),
           |t$n AS (SELECT doc_id, g FROM (
           |  SELECT doc_id, g, row_number() OVER (
           |    PARTITION BY doc_id ORDER BY c DESC, strlen(g) DESC, g ASC) AS rn
           |  FROM c$n) WHERE rn = 1),
           |cov$n AS (SELECT DISTINCT gr.doc_id, p.p
           |         FROM g$n gr JOIN t$n USING (doc_id, g),
           |         unnest(generate_series(gr.i, gr.i+${n - 1})) AS p(p)),
           |f$n AS (SELECT tot.doc_id,
           |         coalesce(sum(strlen(pos.word)), 0)::DOUBLE / tot.tc AS f
           |       FROM tot
           |       LEFT JOIN cov$n ON tot.doc_id = cov$n.doc_id
           |       LEFT JOIN pos ON pos.doc_id = cov$n.doc_id AND pos.i = cov$n.p
           |       GROUP BY tot.doc_id, tot.tc)""".stripMargin
      def dupBlock(n: Int) =
        s"""g$n AS (SELECT doc_id, i, array_to_string(words[i:i+${n - 1}], ' ') AS g
           |       FROM w, unnest(generate_series(1, len(words)-${n - 1})) AS t(i)),
           |d$n AS (SELECT doc_id, g FROM (
           |  SELECT doc_id, g, count(*) AS c FROM g$n GROUP BY 1,2) WHERE c >= 2),
           |cov$n AS (SELECT DISTINCT gr.doc_id, p.p
           |         FROM g$n gr JOIN d$n USING (doc_id, g),
           |         unnest(generate_series(gr.i, gr.i+${n - 1})) AS p(p)),
           |f$n AS (SELECT tot.doc_id,
           |         coalesce(sum(strlen(pos.word)), 0)::DOUBLE / tot.tc AS f
           |       FROM tot
           |       LEFT JOIN cov$n ON tot.doc_id = cov$n.doc_id
           |       LEFT JOIN pos ON pos.doc_id = cov$n.doc_id AND pos.i = cov$n.p
           |       GROUP BY tot.doc_id, tot.tc)""".stripMargin
      s"""WITH s AS (
         |  SELECT doc_id,
         |    CASE WHEN doc_id % 2 = 0
         |      THEN substr(text,1,60) || ' ' || substr(text,1,60) || ' ' || substr(text,61,100)
         |      ELSE substr(text,1,220) END AS t
         |  FROM documents),
         |w AS (SELECT doc_id,
         |        list_filter(string_split_regex(t, '\\s+'), x -> strlen(x) > 0) AS words
         |      FROM s),
         |pos AS (SELECT doc_id, i, words[i] AS word
         |        FROM w, unnest(generate_series(1, len(words))) AS t(i)),
         |tot AS (SELECT doc_id, sum(strlen(word)) AS tc FROM pos GROUP BY 1),
         |${topBlock(2)},
         |${topBlock(3)},
         |${dupBlock(5)},
         |${dupBlock(8)}
         |SELECT CAST(tot.doc_id AS VARCHAR) AS __key,
         |  round(f2.f, 6) AS top_2gram_char_frac,
         |  round(f3.f, 6) AS top_3gram_char_frac,
         |  round(f5.f, 6) AS dup_5gram_char_frac,
         |  round(f8.f, 6) AS dup_8gram_char_frac
         |FROM tot
         |JOIN f2 USING (doc_id) JOIN f3 USING (doc_id)
         |JOIN f5 USING (doc_id) JOIN f8 USING (doc_id)
         |ORDER BY tot.doc_id ASC LIMIT 300""".stripMargin
    },

    q("p_repetition") { (s, dir) =>
      val lines = concat_ws("\n",
        substring(col("text"), 1, 20), substring(col("text"), 21, 20),
        when(col("doc_id") % 2 === 0, substring(col("text"), 1, 20))
          .otherwise(substring(col("text"), 61, 20)),
        substring(col("text"), 41, 20),
        when(col("doc_id") % 3 === 0, substring(col("text"), 1, 20))
          .otherwise(substring(col("text"), 81, 20)))
      docs(s, dir)
        .withColumn("__r", TextMetrics.repetitionStats(lines))
        .select(col("doc_id").cast("string").as("__key"),
          col("__r.n_lines").cast("double").as("n_lines"),
          round(col("__r.dup_line_frac"), 6).as("dup_line_frac"),
          round(col("__r.dup_char_frac"), 6).as("dup_char_frac"))
        .orderBy(col("__key").cast("long").asc)
        .limit(400)
    } {
      """WITH s AS (
        |  SELECT doc_id, concat_ws(chr(10),
        |    substr(text, 1, 20), substr(text, 21, 20),
        |    CASE WHEN doc_id % 2 = 0 THEN substr(text, 1, 20)
        |         ELSE substr(text, 61, 20) END,
        |    substr(text, 41, 20),
        |    CASE WHEN doc_id % 3 = 0 THEN substr(text, 1, 20)
        |         ELSE substr(text, 81, 20) END) AS t
        |  FROM documents),
        |l AS (SELECT doc_id,
        |    unnest(list_filter(string_split(t, chr(10)), x -> x <> '')) AS line
        |  FROM s),
        |c AS (SELECT doc_id, line, count(*) AS cnt, length(line) AS len
        |  FROM l GROUP BY 1, 2),
        |a AS (SELECT doc_id, sum(cnt) AS L, count(*) AS D,
        |    sum(cnt * len) AS tot, sum((cnt - 1) * len) AS dup
        |  FROM c GROUP BY 1)
        |SELECT CAST(doc_id AS VARCHAR) AS __key,
        |  CAST(L AS DOUBLE) AS n_lines,
        |  round(CAST(L - D AS DOUBLE) / L, 6) AS dup_line_frac,
        |  round(CAST(dup AS DOUBLE) / tot, 6) AS dup_char_frac
        |FROM a ORDER BY CAST(doc_id AS BIGINT) ASC LIMIT 400""".stripMargin
    },

    // Winnowing is DEFINED via xxhash64, so the gate pins the
    // properties a fingerprint exists for instead of hash values
    // (round-5 verdict): (1) it is a FUNCTION of content — docs with
    // identical text must share a digest (the corpus has exact-dup
    // groups; p_dedup_exact pins them); (2) near-duplicates share most
    // fingerprints — appending one token to a doc keeps fingerprint
    // Jaccard ≥ 0.65 (measured 0.727-0.792 min across sf0.001-0.1;
    // winnowing guarantee: every shared substring of ≥ k+w-1 chars
    // shares a fingerprint, so only tail-window fingerprints can
    // differ). Counts are SQL-predictable.
    q("p_fingerprint") { (s, dir) =>
      // timed per rep: ONE winnow pass over the corpus (the operator)
      // — the distinct-digest count it produces is pinned against the
      // fixture's, so the pass is verified, not decorative; the
      // consistency check and double-winnow planted baseline are
      // per-dir fixtures ([[fpYardstick]], round-6 verdict #3)
      val gotDistinct = docs(s, dir)
        .select(TextMetrics.fingerprintDigest("text").as("fp"))
        .agg(countDistinct("fp")).collect()(0).getLong(0)
      val (consistent, jacOk, nPlanted, expDistinct) = fpYardstick(s, dir)
      val sp = s
      import sp.implicits._
      Seq((nPlanted.toDouble, consistent && gotDistinct == expDistinct, jacOk))
        .toDF("n_docs", "digest_consistent", "neardup_jaccard_ok")
    } {
      """SELECT CAST(count(*) AS DOUBLE) AS n_docs,
        |  TRUE AS digest_consistent, TRUE AS neardup_jaccard_ok
        |FROM documents WHERE doc_id % 7 = 0""".stripMargin
    },

    // CCNet-style LM quality score: unigram LM trained on the
    // doc_id%10==0 reference split, remaining docs scored by mean
    // token NLL. Fully deterministic and SQL-expressible, so the
    // oracle recomputes the whole pipeline (counts, smoothing, NLL,
    // perplexity) in DuckDB — exact up to 1e-6 rounding.
    q("p_lm_ppl") { (s, dir) =>
      val d = docs(s, dir)
      val refC = Curation.lmCounts(d.filter(col("doc_id") % 10 === 0), "text")
      Curation.lmScore(d.filter(col("doc_id") % 10 =!= 0), "doc_id", "text", refC)
        .select(col("doc_id").cast("string").as("__key"),
          col("n_tok").cast("double").as("n_tok"),
          round(col("nll"), 6).as("nll"),
          round(col("ppl"), 4).as("ppl"))
        .orderBy(col("__key").cast("long").asc)
    } {
      """WITH ref AS (
        |  SELECT token, count(*) AS cnt FROM (
        |    SELECT unnest(string_split(text, ' ')) AS token
        |    FROM documents WHERE doc_id % 10 = 0)
        |  WHERE token <> '' GROUP BY 1
        |  ORDER BY cnt DESC, token ASC LIMIT 65536),
        |tot AS (SELECT sum(cnt)::DOUBLE AS total,
        |               count(*)::DOUBLE AS vocab FROM ref),
        |toks AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS token
        |  FROM documents WHERE doc_id % 10 <> 0),
        |sc AS (
        |  SELECT t.doc_id,
        |    -ln((coalesce(r.cnt, 0)::DOUBLE + 1.0)
        |        / (tot.total + 1.0 * (tot.vocab + 1.0))) AS nll
        |  FROM toks t LEFT JOIN ref r ON t.token = r.token CROSS JOIN tot
        |  WHERE t.token <> '')
        |SELECT CAST(doc_id AS VARCHAR) AS __key,
        |  CAST(count(*) AS DOUBLE) AS n_tok,
        |  round(avg(nll), 6) AS nll, round(exp(avg(nll)), 4) AS ppl
        |FROM sc GROUP BY doc_id ORDER BY doc_id ASC""".stripMargin
    },

    // DSIR importance resampling (Xie et al. NeurIPS'23): select 200
    // docs from the corpus toward the English-subset hashed-bigram
    // distribution. The oracle recomputes the ENTIRE estimator
    // independently — tokenization, md5 bucketing, both add-1 bag
    // models, the per-doc log-ratio fold, the Gumbel perturbation and
    // the top-k cut — so a histogram off by one count, a smoothing
    // mismatch, or a nondeterministic tie-break all hash-mismatch.
    q("p_dsir_select") { (s, dir) =>
      val d = docs(s, dir)
      val nB = 1024
      // fused fit+select: bucket arrays computed once (bit-identical
      // to the split dsirBucketCountsSplit → dsirResample chain)
      Curation.dsirSelectSplit(d, "doc_id", "text",
          col("lang") === "en", nB, k = 200)
        .select(col("doc_id").cast("string").as("__key"),
          round(col("__dsir_logw"), 4).as("logw"))
        .orderBy(col("__key").asc)
    } {
      """WITH toks AS (
        |  SELECT doc_id, lang,
        |    list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
        |      x -> x <> '') AS w
        |  FROM documents),
        |ngs AS (
        |  SELECT doc_id, lang, unnest(list_concat(w,
        |    CASE WHEN len(w) >= 2
        |      THEN list_transform(range(1, len(w)), i -> concat(w[i], ' ', w[i+1]))
        |      ELSE [] END)) AS ng
        |  FROM toks),
        |b AS (
        |  SELECT doc_id, lang,
        |    CAST(CAST(concat('0x', substr(md5(ng), 1, 8)) AS BIGINT) % 1024 AS INT) AS bucket
        |  FROM ngs),
        |tc AS (SELECT bucket, count(*) AS c FROM b WHERE lang = 'en' GROUP BY 1),
        |rc AS (SELECT bucket, count(*) AS c FROM b GROUP BY 1),
        |tot AS (SELECT
        |  (SELECT count(*) FROM b WHERE lang = 'en') + 1024.0 AS tt,
        |  (SELECT count(*) FROM b) + 1024.0 AS rt),
        |ratio AS (
        |  SELECT gs.bucket,
        |    ln((coalesce(tc.c, 0) + 1.0) / tot.tt)
        |      - ln((coalesce(rc.c, 0) + 1.0) / tot.rt) AS lr
        |  FROM (SELECT unnest(range(0, 1024)) AS bucket) gs
        |  LEFT JOIN tc USING (bucket) LEFT JOIN rc USING (bucket) CROSS JOIN tot),
        |logw AS (
        |  SELECT d.doc_id, coalesce(sum(r.lr), 0.0) AS lw
        |  FROM documents d
        |  LEFT JOIN b ON d.doc_id = b.doc_id
        |  LEFT JOIN ratio r ON b.bucket = r.bucket
        |  GROUP BY d.doc_id),
        |scored AS (
        |  SELECT doc_id, lw, lw - ln(-ln(
        |    (CAST(CAST(concat('0x', substr(md5(concat(CAST(doc_id AS VARCHAR),
        |      'dsir')), 1, 8)) AS BIGINT) AS DOUBLE) + 0.5) / 4294967296.0)) AS score
        |  FROM logw)
        |SELECT __key, logw FROM (
        |  SELECT CAST(doc_id AS VARCHAR) AS __key, round(lw, 4) AS logw, score
        |  FROM scored ORDER BY score DESC, __key ASC LIMIT 200)
        |ORDER BY __key ASC""".stripMargin
    },

    // Composed end-to-end curation pipeline — the user workflow the
    // individual gates exist for, run as ONE dataflow: exact dedup
    // (keep numeric-min survivor per content hash) → benchmark
    // decontamination (8-gram overlap, benchmark = doc_id%97==0) →
    // quality floor (≥ 30 whitespace tokens) → DSIR selection of 150
    // docs toward the English subset (models fit on the POST-filter
    // pool — both engines must compose identically, not just agree
    // per stage) → 512-token sequence packing by source. The oracle
    // recomputes all five stages in one SQL chain; any stage-order
    // or fit-pool divergence hash-mismatches.
    q("p_pipeline_e2e") { (s, dir) =>
      val d = docs(s, dir)
      val keep = d.groupBy(md5(col("text")).as("__h"))
        .agg(min(col("doc_id")).as("doc_id")).select("doc_id")
      val deduped = d.join(keep, Seq("doc_id"))
      val clean = Curation.decontaminate(
        deduped.filter(col("doc_id") % 97 =!= 0), "doc_id", "text",
        d.filter(col("doc_id") % 97 === 0), "text", n = 8)
      val quality = clean.filter(size(split(col("text"), " ")) >= 30)
      val nB = 1024
      // fused fit+select: the dedup→decontaminate→quality chain above
      // executes ONCE (persisted inside dsirSelectSplit) and the
      // bucket arrays are shared between fit and scoring
      val selected = Curation.dsirSelectSplit(quality, "doc_id", "text",
        col("lang") === "en", nB, k = 150)
      Curation.packSequences(selected, "doc_id",
          tokens = size(split(col("text"), " ")), budget = 512,
          shardCols = Seq("source"))
        .select(col("doc_id").cast("string").as("__key"), col("source"),
          col("n_tok").cast("double").as("n_tok"),
          col("chunk_id").cast("double").as("chunk_id"),
          col("chunk_offset").cast("double").as("chunk_offset"),
          round(col("__dsir_logw"), 4).as("logw"))
        .orderBy(col("__key").asc)
    } {
      """WITH keep AS (
        |  SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)),
        |d1 AS (SELECT d.* FROM documents d JOIN keep USING (doc_id)),
        |w AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS w
        |  FROM documents),
        |g AS (
        |  SELECT doc_id, CASE WHEN len(w) >= 8
        |    THEN list_distinct(list_transform(range(1, len(w) - 8 + 2),
        |      i -> array_to_string(w[i:i+7], ' ')))
        |    ELSE [] END AS ngs FROM w),
        |bm AS (SELECT DISTINCT unnest(ngs) AS ng FROM g WHERE doc_id % 97 = 0),
        |contam AS (
        |  SELECT DISTINCT c.doc_id FROM (
        |    SELECT doc_id, unnest(ngs) AS ng FROM g WHERE doc_id % 97 <> 0) c
        |  JOIN bm USING (ng)),
        |d2 AS (SELECT * FROM d1 WHERE doc_id % 97 <> 0
        |  AND doc_id NOT IN (SELECT doc_id FROM contam)),
        |d3 AS (SELECT * FROM d2 WHERE len(string_split(text, ' ')) >= 30),
        |toks AS (
        |  SELECT doc_id, lang,
        |    list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS w
        |  FROM d3),
        |ngs2 AS (
        |  SELECT doc_id, lang, unnest(list_concat(w,
        |    CASE WHEN len(w) >= 2
        |      THEN list_transform(range(1, len(w)), i -> concat(w[i], ' ', w[i+1]))
        |      ELSE [] END)) AS ng
        |  FROM toks),
        |bk AS (
        |  SELECT doc_id, lang,
        |    CAST(CAST(concat('0x', substr(md5(ng), 1, 8)) AS BIGINT) % 1024 AS INT) AS bucket
        |  FROM ngs2),
        |tc AS (SELECT bucket, count(*) AS c FROM bk WHERE lang = 'en' GROUP BY 1),
        |rc AS (SELECT bucket, count(*) AS c FROM bk GROUP BY 1),
        |tot AS (SELECT
        |  (SELECT count(*) FROM bk WHERE lang = 'en') + 1024.0 AS tt,
        |  (SELECT count(*) FROM bk) + 1024.0 AS rt),
        |ratio AS (
        |  SELECT gs.bucket,
        |    ln((coalesce(tc.c, 0) + 1.0) / tot.tt)
        |      - ln((coalesce(rc.c, 0) + 1.0) / tot.rt) AS lr
        |  FROM (SELECT unnest(range(0, 1024)) AS bucket) gs
        |  LEFT JOIN tc USING (bucket) LEFT JOIN rc USING (bucket) CROSS JOIN tot),
        |lw AS (
        |  SELECT d.doc_id, coalesce(sum(r.lr), 0.0) AS lw
        |  FROM d3 d
        |  LEFT JOIN bk ON d.doc_id = bk.doc_id
        |  LEFT JOIN ratio r ON bk.bucket = r.bucket
        |  GROUP BY d.doc_id),
        |sel AS (
        |  SELECT doc_id, lw FROM (
        |    SELECT doc_id, lw, lw - ln(-ln(
        |      (CAST(CAST(concat('0x', substr(md5(concat(CAST(doc_id AS VARCHAR),
        |        'dsir')), 1, 8)) AS BIGINT) AS DOUBLE) + 0.5) / 4294967296.0)) AS score
        |    FROM lw)
        |  ORDER BY score DESC, CAST(doc_id AS VARCHAR) ASC LIMIT 150),
        |p AS (
        |  SELECT s.doc_id, d.source, len(string_split(d.text, ' ')) AS n_tok,
        |    round(s.lw, 4) AS logw,
        |    sum(len(string_split(d.text, ' '))) OVER (
        |      PARTITION BY d.source ORDER BY s.doc_id
        |      ROWS UNBOUNDED PRECEDING) - len(string_split(d.text, ' ')) AS bef
        |  FROM sel s JOIN d3 d USING (doc_id))
        |SELECT CAST(doc_id AS VARCHAR) AS __key, source,
        |  CAST(n_tok AS DOUBLE) AS n_tok,
        |  CAST(floor(bef / 512.0) AS DOUBLE) AS chunk_id,
        |  CAST(bef % 512 AS DOUBLE) AS chunk_offset, logw
        |FROM p ORDER BY __key ASC""".stripMargin
    },

    // Cross-modality composed pipeline — text exact-dedup feeds IMAGE
    // near-dup dedup feeds a quality floor, as ONE dataflow (the first
    // composed oracle that crosses modalities). Images are planted
    // triples keyed by doc_id arithmetic (like p_image_neardup), built
    // ON THE TEXT-DEDUP SURVIVORS — so the image stage's pair set
    // depends on stage 1's output and the composition itself is under
    // test: a base doc deduped away by TEXT leaves its jittered copy
    // with no image partner, and the oracle's join reproduces exactly
    // that interaction. Greater-side drop (dropNearDups), then a
    // token floor; the oracle recomputes all three stages in SQL with
    // the image pairs replaced by the planting arithmetic.
    q("p_pipeline_multimodal_e2e") { (s, dir) =>
      import s.implicits._
      val d = docs(s, dir).filter(col("doc_id") < 300)
      val keep = d.groupBy(md5(col("text")).as("__h"))
        .agg(min(col("doc_id")).as("doc_id")).select("doc_id")
      val deduped = d.join(keep, Seq("doc_id"))
      val media = deduped.select(col("doc_id")).as[Long].map { id =>
        val group = (id / 3).toInt
        val seed = if (id % 3 == 2) group + 1000 else group
        val bright = if (id % 3 == 1) 6 else 0
        val rnd = new java.util.Random(seed.toLong)
        val img = new java.awt.image.BufferedImage(32, 24,
          java.awt.image.BufferedImage.TYPE_3BYTE_BGR)
        var y = 0
        while (y < 24) {
          var x = 0
          while (x < 32) {
            val v = 30 + rnd.nextInt(190) + bright
            img.setRGB(x, y, v * 0x010101)
            x += 1
          }
          y += 1
        }
        val bos = new java.io.ByteArrayOutputStream()
        javax.imageio.ImageIO.write(img, "png", bos)
        Multimodal.MediaRow(id, "image", bos.toByteArray, 0, 0, 0, 0, 0, "png")
      }
      val pairs = Multimodal.imageNearDups(media, maxHamming = 3)
        .select(col("a").cast("string").as("key_a"),
          col("b").cast("string").as("key_b"))
      val afterImg = Dedup.dropNearDups(deduped, "doc_id", pairs)
      afterImg.filter(size(split(col("text"), " ")) >= 20)
        .select(col("doc_id").cast("string").as("__key"))
        .orderBy(col("__key").asc)
    } {
      """WITH keep AS (
        |  SELECT min(doc_id) AS doc_id FROM documents
        |  WHERE doc_id < 300 GROUP BY md5(text)),
        |d1 AS (SELECT d.* FROM documents d JOIN keep USING (doc_id)),
        |drops AS (
        |  SELECT b.doc_id FROM d1 a JOIN d1 b ON b.doc_id = a.doc_id + 1
        |  WHERE a.doc_id % 3 = 0),
        |d2 AS (SELECT * FROM d1
        |  WHERE doc_id NOT IN (SELECT doc_id FROM drops))
        |SELECT CAST(doc_id AS VARCHAR) AS __key FROM d2
        |WHERE len(string_split(text, ' ')) >= 20
        |ORDER BY __key ASC""".stripMargin
    },

    // Streaming windowed aggregation semantics, oracle-checked on the
    // BATCH plan (WindowedStats.tumbling runs the identical window
    // groupBy on batch and streaming inputs — the streaming runtime
    // itself is spec-gated in MultimodalStreamingSpec): 1-hour tumbling
    // windows by event_type over the events table, full reducer
    // surface, vs DuckDB's date_trunc buckets. Pins the window
    // alignment (epoch-aligned hours) and the empty→0 SUM/AVG
    // coalescing shared with the FT.AGGREGATE reducers.
    q("p_windowed_stats") { (s, dir) =>
      val ev = Fixtures.table(s, dir, "events")
        .select(col("ts"), col("event_type"), col("value"))
      graft.streaming.WindowedStats.tumbling(ev, "ts", Seq("event_type"),
          "value", window = "1 hour", watermark = "10 minutes")
        // ts is TIMESTAMP_NTZ in the testdata parquet: NTZ has no direct
        // long cast — route via TIMESTAMP (identity-valued under the UTC
        // session) to epoch seconds, matching DuckDB's epoch()
        .select(col("window_start").cast("timestamp").cast("long")
            .cast("double").as("win_start"),
          col("event_type"), col("n"),
          round(col("sum_value"), 4).as("sum_value"),
          round(col("avg_value"), 4).as("avg_value"),
          round(col("min_value"), 4).as("min_value"),
          round(col("max_value"), 4).as("max_value"))
        .orderBy(col("win_start").asc, col("event_type").asc)
    } {
      """SELECT CAST(epoch(date_trunc('hour', ts)) AS DOUBLE) AS win_start,
        |  event_type, CAST(count(*) AS DOUBLE) AS n,
        |  round(sum(value), 4) AS sum_value,
        |  round(avg(value), 4) AS avg_value,
        |  round(min(value), 4) AS min_value,
        |  round(max(value), 4) AS max_value
        |FROM events GROUP BY 1, 2
        |ORDER BY win_start ASC, event_type ASC""".stripMargin
    },

    // Sliding windows: 1-hour windows every 30 minutes — each event
    // lands in exactly two windows, re-derived in DuckDB by unnesting
    // the two aligned starts per event. Completes the windowed family
    // (tumbling/sliding/session all DuckDB-checked).
    q("p_sliding_windows") { (s, dir) =>
      val ev = Fixtures.table(s, dir, "events")
        .select(col("ts"), col("event_type"), col("value"))
      graft.streaming.WindowedStats.tumbling(ev, "ts", Seq("event_type"),
          "value", window = "1 hour", watermark = "10 minutes",
          slide = Some("30 minutes"))
        .select(col("window_start").cast("timestamp").cast("long")
            .cast("double").as("win_start"),
          col("event_type"), col("n"),
          round(col("sum_value"), 4).as("sum_value"))
        .orderBy(col("win_start").asc, col("event_type").asc)
    } {
      """WITH b AS (
        |  SELECT event_type, value,
        |    time_bucket(INTERVAL 30 MINUTE, ts) AS tb FROM events),
        |x AS (
        |  SELECT event_type, value,
        |    unnest([tb, tb - INTERVAL 30 MINUTE]) AS ws FROM b)
        |SELECT CAST(floor(epoch(ws)) AS DOUBLE) AS win_start, event_type,
        |  CAST(count(*) AS DOUBLE) AS n, round(sum(value), 4) AS sum_value
        |FROM x GROUP BY ws, event_type
        |ORDER BY win_start ASC, event_type ASC""".stripMargin
    },

    // Session windows (gap-based), same batch-plan oracle strategy as
    // p_windowed_stats: Spark's session_window(start = first event,
    // end = last event + gap) re-derived in DuckDB as a lag-break
    // cumulative-sum grouping per user. Fractional-second timestamps
    // floor to epoch seconds on both sides.
    q("p_session_windows") { (s, dir) =>
      val ev = Fixtures.table(s, dir, "events")
        .select(col("ts"), col("user_id"), col("value"))
      graft.streaming.WindowedStats.sessions(ev, "ts", Seq("user_id"),
          "value", gap = "30 minutes", watermark = "10 minutes")
        .select(
          col("window_start").cast("timestamp").cast("long")
            .cast("double").as("win_start"),
          col("window_end").cast("timestamp").cast("long")
            .cast("double").as("win_end"),
          col("user_id"), col("n"),
          round(col("sum_value"), 4).as("sum_value"))
        .orderBy(col("user_id").asc, col("win_start").asc)
    } {
      """WITH s AS (
        |  SELECT user_id, ts, value,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |      OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
        |      THEN 1 ELSE 0 END AS brk
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        |g AS (
        |  SELECT *, sum(brk) OVER (PARTITION BY user_id ORDER BY ts
        |    ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM s)
        |SELECT CAST(floor(epoch(min(ts))) AS DOUBLE) AS win_start,
        |  CAST(floor(epoch(max(ts) + INTERVAL 30 MINUTE)) AS DOUBLE) AS win_end,
        |  user_id, CAST(count(*) AS DOUBLE) AS n,
        |  round(sum(value), 4) AS sum_value
        |FROM g GROUP BY user_id, sid
        |ORDER BY user_id ASC, win_start ASC""".stripMargin
    },

    // Online (stateful) near-dup suppression, oracle-checked on the
    // BATCH plan: flatMapGroupsWithState runs on batch Datasets with
    // empty initial state, so the OPERATOR LOGIC — band routing,
    // per-group seen-set, first-seen-wins in doc_key sort order, the
    // any-band OR reduction — is DuckDB-checkable without the streaming
    // runtime (spec-gated in MultimodalStreamingSpec). Texts are
    // per-doc random-vocab (the natural corpus's heavily-shared token
    // sets produce occasional SimHash collisions even across distinct
    // sets — a one-token difference can flip zero majority votes), so
    // ONLY the planted copies share a SimHash; at maxHamming=0 the
    // flagged member of each pair is exactly the lexicographically-
    // greater key — SQL-predictable, both the flag and dup_of.
    q("p_stateful_dedup") { (s, dir) =>
      import s.implicits._
      val base = docs(s, dir).filter(col("doc_id") < 400)
        .select(col("doc_id"),
          expr("array_join(transform(sequence(0, 9), " +
            "j -> concat('w', pmod(hash(doc_id, j), 1000000))), ' ')")
            .as("text"))
      val corpus = base.unionByName(base.select(
        (col("doc_id") + lit(PlantOffset)).as("doc_id"), col("text")))
      val sims = Dedup.withSimhash64(corpus, "text", "sim")
        .select(col("doc_id").cast("string").as("k"), col("sim"))
        .as[(String, Long)]
      graft.streaming.StatefulDedup
        .dedupDecisions(s, sims, maxHamming = 0, stateTtl = None)
        .toDF()
        .groupBy(col("doc_key"))
        .agg(max(col("is_duplicate")).as("is_dup"), max(col("dup_of")).as("dup_of"))
        .filter(col("is_dup"))
        .select(col("doc_key"), col("dup_of"))
        .orderBy(col("doc_key").asc)
    } {
      s"""WITH base AS (SELECT doc_id FROM documents WHERE doc_id < 400),
        |p AS (SELECT CAST(doc_id AS VARCHAR) AS a,
        |             CAST(doc_id + $PlantOffset AS VARCHAR) AS b FROM base)
        |SELECT CASE WHEN a > b THEN a ELSE b END AS doc_key,
        |       CASE WHEN a > b THEN b ELSE a END AS dup_of
        |FROM p ORDER BY doc_key ASC""".stripMargin
    },

    // -------------------- curation --------------------------------- //

    // PII is synthesized deterministically (the corpus has none): the
    // SAME concat runs on both engines, then the redactor must find
    // and replace exactly the planted email/phone/IP instances —
    // n_pii counts replacements actually performed (sequential
    // passes, no overlap double-count).
    q("p_pii_redact") { (s, dir) =>
      val d = docs(s, dir).select(col("doc_id"),
        concat(
          substring(col("text"), 1, 40),
          lit(" contact user"), col("doc_id"), lit("@mail-host.org"),
          when(col("doc_id") % 2 === 0,
            concat(lit(" call +1 555 123 "),
              lpad((col("doc_id") % 10000).cast("string"), 4, "0")))
            .otherwise(lit("")),
          when(col("doc_id") % 3 === 0,
            concat(lit(" from 10.0."), (col("doc_id") % 256).cast("string"), lit(".7")))
            .otherwise(lit(""))).as("pii_text"))
      Curation.redactPii(d, "pii_text")
        .select(col("doc_id").cast("string").as("__key"),
          col("n_pii").cast("double").as("n_pii"), col("redacted"))
        .orderBy(col("__key").asc)
        .limit(300)
    } {
      s"""WITH d AS (
         |  SELECT doc_id,
         |    substr(text, 1, 40) || ' contact user' || doc_id || '@mail-host.org'
         |    || CASE WHEN doc_id % 2 = 0
         |         THEN ' call +1 555 123 ' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
         |         ELSE '' END
         |    || CASE WHEN doc_id % 3 = 0
         |         THEN ' from 10.0.' || (doc_id % 256) || '.7' ELSE '' END AS pii_text
         |  FROM documents),
         |r1 AS (SELECT doc_id, pii_text,
         |    regexp_replace(pii_text, '${Curation.EmailRe}', '<EMAIL>', 'g') AS t1 FROM d),
         |r2 AS (SELECT doc_id, pii_text, t1,
         |    regexp_replace(t1, '${Curation.PhoneRe}', '<PHONE>', 'g') AS t2 FROM r1)
         |SELECT CAST(doc_id AS VARCHAR) AS __key,
         |  CAST(len(regexp_extract_all(pii_text, '${Curation.EmailRe}'))
         |    + len(regexp_extract_all(t1, '${Curation.PhoneRe}'))
         |    + len(regexp_extract_all(t2, '${Curation.Ipv4Re}')) AS DOUBLE) AS n_pii,
         |  regexp_replace(t2, '${Curation.Ipv4Re}', '<IP>', 'g') AS redacted
         |FROM r2 ORDER BY __key ASC LIMIT 300""".stripMargin
    },

    // Benchmark decontamination: docs with doc_id%97==0 stand in for
    // the eval set; a candidate is contaminated when it shares an
    // Bloom-path decontamination: the benchmark's n-gram set compiles
    // to a fixed-size Bloom filter (fixture — blocklist-index work)
    // and the corpus probes it map-side, no join at all. One-sided
    // error, both directions oracle-pinned: every exactly-contaminated
    // doc MUST surface (no false negatives — a Bloom guarantee), and
    // clean docs over-surface at ≤ 2% (fpp 1e-4 × ~50 n-grams/doc
    // predicts ~0.5%; measured 0 at gate scale).
    q("p_decontaminate_bloom") { (s, dir) =>
      val d = docs(s, dir)
      val got = Curation.contaminationHitsBloom(
        d.filter(col("doc_id") % 97 =!= 0), "doc_id", "text",
        bloomBits(s, dir), n = 8)
        .select(col("__key").cast("string")).collect().map(_.getString(0)).toSet
      val exact = exactContamKeys(s, dir)
      val nCands = d.filter(col("doc_id") % 97 =!= 0).count()
      val sp = s
      import sp.implicits._
      Seq((exact.size.toDouble, exact.subsetOf(got),
          (got -- exact).size.toDouble <= 0.02 * nCands))
        .toDF("n_exact_contaminated", "no_false_negatives", "overblock_bounded")
    } {
      """WITH w AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS w
        |  FROM documents),
        |g AS (
        |  SELECT doc_id, CASE WHEN len(w) >= 8
        |    THEN list_distinct(list_transform(range(1, len(w) - 8 + 2),
        |      i -> array_to_string(w[i:i+7], ' ')))
        |    ELSE [] END AS ngs FROM w),
        |b AS (SELECT DISTINCT unnest(ngs) AS ng FROM g WHERE doc_id % 97 = 0),
        |c AS (SELECT doc_id, unnest(ngs) AS ng FROM g WHERE doc_id % 97 <> 0)
        |SELECT CAST(count(DISTINCT c.doc_id) AS DOUBLE) AS n_exact_contaminated,
        |  TRUE AS no_false_negatives, TRUE AS overblock_bounded
        |FROM c JOIN b USING (ng)""".stripMargin
    },

    // 8-word-gram. The corpus's small vocabulary makes collisions
    // plentiful — the oracle pins exact hit COUNTS per key, so a
    // tokenization, windowing or join defect all hash-mismatch.
    q("p_decontaminate") { (s, dir) =>
      val d = docs(s, dir)
      Curation.contaminationHits(
        d.filter(col("doc_id") % 97 =!= 0), "doc_id", "text",
        d.filter(col("doc_id") % 97 === 0), "text", n = 8)
        .select(col("__key").cast("string").as("__key"), col("n_hits"))
        .orderBy(col("__key").asc)
        .limit(300)
    } {
      """WITH w AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS w
        |  FROM documents),
        |g AS (
        |  SELECT doc_id, CASE WHEN len(w) >= 8
        |    THEN list_distinct(list_transform(range(1, len(w) - 8 + 2),
        |      i -> array_to_string(w[i:i+7], ' ')))
        |    ELSE [] END AS ngs FROM w),
        |b AS (SELECT DISTINCT unnest(ngs) AS ng FROM g WHERE doc_id % 97 = 0),
        |c AS (SELECT doc_id, unnest(ngs) AS ng FROM g WHERE doc_id % 97 <> 0)
        |SELECT CAST(c.doc_id AS VARCHAR) AS __key,
        |  CAST(count(*) AS DOUBLE) AS n_hits
        |FROM c JOIN b USING (ng)
        |GROUP BY 1 ORDER BY __key ASC LIMIT 300""".stripMargin
    },

    // Deterministic hash sampling: the md5-bucket rule must pick the
    // SAME keys in both engines — the property that makes samples
    // reproducible across runs and joinable across tables.
    q("p_sample_hash") { (s, dir) =>
      Curation.sampleByHash(docs(s, dir), "doc_id", fraction = 0.25)
        .select(col("doc_id").cast("string").as("__key"),
          Curation.hashBucket(col("doc_id")).cast("double").as("bucket"))
        .orderBy(col("__key").asc)
        .limit(300)
    } {
      """WITH h AS (
        |  SELECT CAST(doc_id AS VARCHAR) AS __key,
        |    CAST(CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 4)) AS INTEGER) AS DOUBLE) AS bucket
        |  FROM documents)
        |SELECT * FROM h WHERE bucket < 16384
        |ORDER BY __key ASC LIMIT 300""".stripMargin
    },

    // Stratified sampling: at most 20 docs per source, picked by
    // md5-hash order — the oracle recomputes the windowed hash rank,
    // so a nondeterministic pick or an off-by-one cap mismatches.
    q("p_sample_stratified") { (s, dir) =>
      Curation.sampleStratified(docs(s, dir), "doc_id",
        Seq("source"), perGroup = 20)
        .select(col("doc_id").cast("string").as("__key"), col("source"))
        .orderBy(col("__key").cast("long").asc)
    } {
      """WITH r AS (
        |  SELECT CAST(doc_id AS VARCHAR) AS __key, source,
        |    row_number() OVER (PARTITION BY source
        |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
        |  FROM documents)
        |SELECT __key, source FROM r WHERE rk <= 20
        |ORDER BY CAST(__key AS BIGINT) ASC""".stripMargin
    },

    // Temperature mixing (weight ∝ count^0.5): the oracle recomputes
    // group counts, weights, the per-group keep threshold AND the md5
    // bucket rule — the whole determinism contract end to end.
    q("p_sample_temperature") { (s, dir) =>
      Curation.sampleByTemperature(docs(s, dir), "doc_id",
        Seq("source"), alpha = 0.5, target = 150)
        .select(col("doc_id").cast("string").as("__key"), col("source"))
        .orderBy(col("__key").cast("long").asc)
    } {
      """WITH c AS (SELECT source, count(*) AS cg FROM documents GROUP BY 1),
        |w AS (SELECT source, cg, pow(cg, 0.5) AS wg FROM c),
        |t AS (SELECT source,
        |  CAST(round(least(1.0, 150.0 * wg / (SELECT sum(wg) FROM w) / cg)
        |    * 65536) AS INTEGER) AS thresh FROM w)
        |SELECT CAST(d.doc_id AS VARCHAR) AS __key, d.source
        |FROM documents d JOIN t USING (source)
        |WHERE CAST(concat('0x', substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 4))
        |    AS INTEGER) < thresh
        |ORDER BY CAST(__key AS BIGINT) ASC""".stripMargin
    },

    // C4-style boilerplate-line removal: per-source headers/footers and
    // a near-global ad line are planted into synthesized multi-line
    // text; lines in ≥ 30 distinct docs must vanish, everything else
    // (including structural empty lines) must survive in order. The
    // oracle recomputes the frequency table and the reconstruction.
    q("p_boilerplate") { (s, dir) =>
      val d = docs(s, dir).select(col("doc_id"),
        concat_ws("\n",
          concat(lit("NAV "), col("source")),
          substring(col("text"), 1, 30),
          when(col("doc_id") % 4 === 0, lit("")).otherwise(lit("ad-block")),
          substring(col("text"), 31, 30),
          concat(lit("Copyright "), col("source"))).as("t"))
      Curation.removeBoilerplateLines(d, "doc_id", "t", minDocs = 30)
        .select(col("doc_id").cast("string").as("__key"),
          col("clean_text"),
          col("n_removed").cast("double").as("n_removed"))
        .orderBy(col("__key").cast("long").asc)
        .limit(400)
    } {
      """WITH s AS (
        |  SELECT doc_id,
        |    'NAV ' || source || chr(10) || substr(text, 1, 30) || chr(10) ||
        |    (CASE WHEN doc_id % 4 = 0 THEN '' ELSE 'ad-block' END) || chr(10) ||
        |    substr(text, 31, 30) || chr(10) || 'Copyright ' || source AS t
        |  FROM documents),
        |x AS (SELECT doc_id, string_split(t, chr(10)) AS ls FROM s),
        |l AS (SELECT doc_id, i.gen AS pos, ls[i.gen + 1] AS line
        |  FROM x, LATERAL unnest(range(0, len(ls))) AS i(gen)),
        |b AS (SELECT line FROM (SELECT DISTINCT doc_id, line FROM l
        |        WHERE line <> '') GROUP BY line HAVING count(*) >= 30),
        |k AS (SELECT doc_id, pos, line,
        |    line IN (SELECT line FROM b) AS rm FROM l)
        |SELECT CAST(doc_id AS VARCHAR) AS __key,
        |  coalesce(array_to_string(list(line ORDER BY pos)
        |    FILTER (WHERE NOT rm), chr(10)), '') AS clean_text,
        |  CAST(count(*) FILTER (WHERE rm) AS DOUBLE) AS n_removed
        |FROM k GROUP BY doc_id
        |ORDER BY CAST(doc_id AS BIGINT) ASC LIMIT 400""".stripMargin
    },

    // Overlapping token-window chunking: the oracle re-derives every
    // window (count, boundaries, short tail, token counts) from the
    // same integer arithmetic, so an off-by-one in stride/slice or a
    // dropped tail chunk mismatches.
    q("p_chunk") { (s, dir) =>
      Curation.chunkTokens(docs(s, dir), "doc_id", "text",
        size = 32, overlap = 8)
        .select(col("doc_id").cast("string").as("__key"),
          col("chunk_idx").cast("double").as("chunk_idx"),
          col("chunk_text"),
          col("n_tok_chunk").cast("double").as("n_tok_chunk"))
        .orderBy(col("__key").cast("long").asc, col("chunk_idx").asc)
        .limit(600)
    } {
      """WITH w AS (
        |  SELECT doc_id,
        |    list_filter(string_split(text, ' '), x -> x <> '') AS w
        |  FROM documents),
        |m AS (SELECT doc_id, w, len(w) AS n,
        |    greatest(1, (len(w) - 8 + 24 - 1) // 24) AS m FROM w),
        |c AS (SELECT doc_id, i.gen AS chunk_idx,
        |    array_to_string(w[i.gen * 24 + 1 : i.gen * 24 + 32], ' ') AS chunk_text,
        |    least(32, n - i.gen * 24) AS n_tok_chunk
        |  FROM m, LATERAL unnest(range(0, m)) AS i(gen))
        |SELECT CAST(doc_id AS VARCHAR) AS __key,
        |  CAST(chunk_idx AS DOUBLE) AS chunk_idx, chunk_text,
        |  CAST(n_tok_chunk AS DOUBLE) AS n_tok_chunk
        |FROM c ORDER BY CAST(doc_id AS BIGINT) ASC, chunk_idx ASC
        |LIMIT 600""".stripMargin
    },

    // Sequence packing: concat-in-order within each source shard, cut
    // every 512 tokens, doc belongs to the chunk where it starts. The
    // oracle recomputes the windowed prefix sum independently.
    q("p_seq_pack") { (s, dir) =>
      Curation.packSequences(docs(s, dir), "doc_id",
        tokens = size(split(col("text"), " ")), budget = 512,
        shardCols = Seq("source"))
        .select(col("doc_id").cast("string").as("__key"), col("source"),
          col("n_tok").cast("double").as("n_tok"),
          col("chunk_id").cast("double").as("chunk_id"),
          col("chunk_offset").cast("double").as("chunk_offset"))
        .orderBy(col("__key").asc)
        .limit(500)
    } {
      """WITH t AS (
        |  SELECT CAST(doc_id AS VARCHAR) AS __key, source,
        |    len(string_split(text, ' ')) AS n_tok,
        |    sum(len(string_split(text, ' '))) OVER (
        |      PARTITION BY source ORDER BY doc_id
        |      ROWS UNBOUNDED PRECEDING) - len(string_split(text, ' ')) AS bef
        |  FROM documents)
        |SELECT __key, source, CAST(n_tok AS DOUBLE) AS n_tok,
        |  CAST(floor(bef / 512.0) AS DOUBLE) AS chunk_id,
        |  CAST(bef % 512 AS DOUBLE) AS chunk_offset
        |FROM t ORDER BY __key ASC LIMIT 500""".stripMargin
    },

    // -------------------- multimodal ------------------------------- //
    // Real-codec gates: media is SYNTHESIZED deterministically from
    // doc_id (executor-side, JDK encoders), pushed through the SAME
    // decode pipelines production uses, and the oracle predicts every
    // structural fact (dimensions, channels, rate, duration, frame
    // count, exact RMS of a constant-amplitude signal) in SQL. The
    // declared MediaRow metadata is deliberately zeroed, so a silent
    // stub fallback — the pre-round-5 weak spot — mismatches loudly.
    // Pixel/content-derived stats (mean intensity, envelopes) go
    // through colorspace curves SQL can't express; they are pinned by
    // MultimodalSpec instead.

    // Perceptual-hash image near-dup: planted groups of three (base,
    // +6-brightness jitter, independent content). dHash pooling is
    // linear, so the jittered copy is 0 bits away while independent
    // noise is ~32 — the oracle reconstructs the exact expected pair
    // set from the planting arithmetic.
    q("p_image_neardup") { (s, dir) =>
      import s.implicits._
      val media = docs(s, dir).filter(col("doc_id") < 300)
        .select(col("doc_id")).as[Long].map { id =>
          val group = (id / 3).toInt
          val seed = if (id % 3 == 2) group + 1000 else group
          val bright = if (id % 3 == 1) 6 else 0
          val rnd = new java.util.Random(seed.toLong)
          val img = new java.awt.image.BufferedImage(32, 24,
            java.awt.image.BufferedImage.TYPE_3BYTE_BGR)
          var y = 0
          while (y < 24) {
            var x = 0
            while (x < 32) {
              val v = 30 + rnd.nextInt(190) + bright
              img.setRGB(x, y, v * 0x010101)
              x += 1
            }
            y += 1
          }
          val bos = new java.io.ByteArrayOutputStream()
          javax.imageio.ImageIO.write(img, "png", bos)
          Multimodal.MediaRow(id, "image", bos.toByteArray, 0, 0, 0, 0, 0, "png")
        }
      Multimodal.imageNearDups(media, maxHamming = 3)
        .select(col("a").cast("string").as("a"),
          col("b").cast("string").as("b"))
        .orderBy(col("a").cast("long").asc, col("b").cast("long").asc)
    } {
      """SELECT CAST(d.doc_id AS VARCHAR) AS a,
        |  CAST(d.doc_id + 1 AS VARCHAR) AS b
        |FROM documents d
        |WHERE d.doc_id < 300 AND d.doc_id % 3 = 0
        |  AND EXISTS (SELECT 1 FROM documents e WHERE e.doc_id = d.doc_id + 1)
        |ORDER BY d.doc_id ASC""".stripMargin
    },

    q("p_image_decode") { (s, dir) =>
      import s.implicits._
      val media = docs(s, dir).filter(col("doc_id") % 10 === 0)
        .select(col("doc_id")).as[Long].map { id =>
          val d = id / 10
          val w = (8 + d % 24).toInt; val h = (8 + d % 16).toInt
          val img = new java.awt.image.BufferedImage(w, h,
            java.awt.image.BufferedImage.TYPE_3BYTE_BGR)
          var y = 0
          while (y < h) {
            var x = 0
            while (x < w) {
              img.setRGB(x, y, ((x * 31 + y * 7 + id) % 256).toInt * 0x010101)
              x += 1
            }
            y += 1
          }
          val bos = new java.io.ByteArrayOutputStream()
          javax.imageio.ImageIO.write(img, "png", bos)
          Multimodal.MediaRow(id, "image", bos.toByteArray,
            0, 0, 0, 0, 0, "png")
        }
      Multimodal.imageFeatures(media, dim = 16).toDF()
        .select(col("media_id").cast("string").as("__key"),
          col("width").cast("double").as("width"),
          col("height").cast("double").as("height"),
          col("channels").cast("double").as("channels"))
        .orderBy(col("__key").cast("long").asc)
    } {
      """SELECT CAST(doc_id AS VARCHAR) AS __key,
        |  CAST(8 + (doc_id // 10) % 24 AS DOUBLE) AS width,
        |  CAST(8 + (doc_id // 10) % 16 AS DOUBLE) AS height,
        |  CAST(3 AS DOUBLE) AS channels
        |FROM documents WHERE doc_id % 10 = 0
        |ORDER BY CAST(doc_id AS BIGINT) ASC""".stripMargin
    },

    q("p_audio_decode") { (s, dir) =>
      import s.implicits._
      val media = docs(s, dir).filter(col("doc_id") % 10 === 0)
        .select(col("doc_id")).as[Long].map { id =>
          val d = id / 10
          val rate = (8000 * (1 + d % 2)).toInt
          val ch = (1 + (d / 2) % 2).toInt
          val n = (800 + (d % 5) * 160).toInt // ÷8 and ÷16 stay integral
          val raw = new Array[Byte](n * ch * 2)
          var i = 0
          while (i < n * ch) { raw(2 * i + 1) = 0x20; i += 1 } // 8192 LE
          val fmt = new javax.sound.sampled.AudioFormat(
            rate.toFloat, 16, ch, true, false)
          val bos = new java.io.ByteArrayOutputStream()
          javax.sound.sampled.AudioSystem.write(
            new javax.sound.sampled.AudioInputStream(
              new java.io.ByteArrayInputStream(raw), fmt, n.toLong),
            javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
          Multimodal.MediaRow(id, "audio", bos.toByteArray,
            0, 0, 0, 0, 0, "wav")
        }
      Multimodal.audioFeatures(media, dim = 8).toDF()
        .select(col("media_id").cast("string").as("__key"),
          col("sample_rate").cast("double").as("sample_rate"),
          col("channels").cast("double").as("channels"),
          col("duration_ms").cast("double").as("duration_ms"),
          col("rms").cast("double").as("rms")) // 8192/32768: exactly 0.25
        .orderBy(col("__key").cast("long").asc)
    } {
      """SELECT CAST(doc_id AS VARCHAR) AS __key,
        |  CAST(8000 * (1 + (doc_id // 10) % 2) AS DOUBLE) AS sample_rate,
        |  CAST(1 + (doc_id // 10 // 2) % 2 AS DOUBLE) AS channels,
        |  CAST((800 + (doc_id // 10) % 5 * 160) * 1000
        |    / (8000 * (1 + (doc_id // 10) % 2)) AS DOUBLE) AS duration_ms,
        |  CAST(0.25 AS DOUBLE) AS rms
        |FROM documents WHERE doc_id % 10 = 0
        |ORDER BY CAST(doc_id AS BIGINT) ASC""".stripMargin
    },

    // Audio near-dup by envelope-gradient fingerprint: planted triples
    // (base noise, 0.5× gain copy — RMS is linear in gain so the
    // fingerprint is identical, independent noise) through the banded
    // Hamming join; the oracle reconstructs the expected pair set from
    // the planting arithmetic, like p_image_neardup.
    q("p_audio_neardup") { (s, dir) =>
      import s.implicits._
      val media = docs(s, dir).filter(col("doc_id") < 300)
        .select(col("doc_id")).as[Long].map { id =>
          val group = (id / 3).toInt
          val seed = if (id % 3 == 2) group + 1000 else group
          val gain = if (id % 3 == 1) 0.5 else 1.0
          val rnd = new java.util.Random(seed.toLong)
          val n = 6400
          val raw = new Array[Byte](n * 2)
          var i = 0
          while (i < n) {
            val v = math.round((rnd.nextInt(16000) - 8000) * gain).toInt
            raw(2 * i) = (v & 0xFF).toByte
            raw(2 * i + 1) = ((v >> 8) & 0xFF).toByte
            i += 1
          }
          val fmt = new javax.sound.sampled.AudioFormat(16000f, 16, 1, true, false)
          val bos = new java.io.ByteArrayOutputStream()
          javax.sound.sampled.AudioSystem.write(
            new javax.sound.sampled.AudioInputStream(
              new java.io.ByteArrayInputStream(raw), fmt, n.toLong),
            javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
          Multimodal.MediaRow(id, "audio", bos.toByteArray,
            0, 0, 0, 16000, 400, "wav")
        }
      Multimodal.audioNearDups(media, maxHamming = 3)
        .select(col("a").cast("string").as("a"),
          col("b").cast("string").as("b"))
        .orderBy(col("a").cast("long").asc, col("b").cast("long").asc)
    } {
      """SELECT CAST(d.doc_id AS VARCHAR) AS a,
        |  CAST(d.doc_id + 1 AS VARCHAR) AS b
        |FROM documents d
        |WHERE d.doc_id < 300 AND d.doc_id % 3 = 0
        |  AND EXISTS (SELECT 1 FROM documents e WHERE e.doc_id = d.doc_id + 1)
        |ORDER BY d.doc_id ASC""".stripMargin
    },

    // Video near-dup by frame-sampled perceptual hash: planted triples
    // (base, +6-brightness re-encode, independent) of 4-frame
    // MJPEG-AVIs with JPEG-robust block-pattern frames; a pair
    // qualifies at ≥ 50% matched frames. Oracle = planting arithmetic.
    q("p_video_neardup") { (s, dir) =>
      import s.implicits._
      val media = docs(s, dir).filter(col("doc_id") < 150)
        .select(col("doc_id")).transform(graft.util.Parallelism.ensure).as[Long].map { id =>
          val group = (id / 3).toInt
          val seed0 = if (id % 3 == 2) group + 1000 else group
          val bright = if (id % 3 == 1) 6 else 0
          val frames = (0 until 4).map { f =>
            val rnd = new java.util.Random((seed0 * 17 + f).toLong)
            val bits = Array.fill(48)(rnd.nextBoolean())
            val img = new java.awt.image.BufferedImage(32, 24,
              java.awt.image.BufferedImage.TYPE_3BYTE_BGR)
            var y = 0
            while (y < 24) {
              var x = 0
              while (x < 32) {
                val b = (y / 4) * 8 + (x / 4)
                val v = math.min(255, (if (bits(b)) 180 else 70) + bright)
                img.setRGB(x, y, v * 0x010101)
                x += 1
              }
              y += 1
            }
            img
          }
          Multimodal.MediaRow(id, "video",
            Multimodal.VideoCodec.encodeMjpegAvi(frames, fps = 4),
            32, 24, 3, 0, 1000, "avi")
        }
      Multimodal.videoNearDups(media, maxHamming = 3, minSharedFrac = 0.5)
        .select(col("a").cast("string").as("a"),
          col("b").cast("string").as("b"))
        .orderBy(col("a").cast("long").asc, col("b").cast("long").asc)
    } {
      """SELECT CAST(d.doc_id AS VARCHAR) AS a,
        |  CAST(d.doc_id + 1 AS VARCHAR) AS b
        |FROM documents d
        |WHERE d.doc_id < 150 AND d.doc_id % 3 = 0
        |  AND EXISTS (SELECT 1 FROM documents e WHERE e.doc_id = d.doc_id + 1)
        |ORDER BY d.doc_id ASC""".stripMargin
    },

    q("p_video_decode") { (s, dir) =>
      import s.implicits._
      val media = docs(s, dir).filter(col("doc_id") % 10 === 0)
        .select(col("doc_id")).as[Long].map { id =>
          val d = id / 10
          val n = (2 + d % 4).toInt
          val w = (16 + d % 6 * 4).toInt; val h = (12 + d % 4 * 4).toInt
          val frames = (0 until n).map { f =>
            val img = new java.awt.image.BufferedImage(w, h,
              java.awt.image.BufferedImage.TYPE_3BYTE_BGR)
            val g = img.createGraphics()
            try {
              g.setColor(new java.awt.Color(((40 * f + id % 128) % 256).toInt,
                64, (id % 200).toInt))
              g.fillRect(0, 0, w, h)
            } finally g.dispose()
            img
          }
          Multimodal.MediaRow(id, "video",
            Multimodal.VideoCodec.encodeMjpegAvi(frames, fps = 20),
            0, 0, 0, 0, 0, "avi")
        }
      Multimodal.videoFeatures(media, dim = 16).toDF()
        .select(col("media_id").cast("string").as("__key"),
          col("width").cast("double").as("width"),
          col("height").cast("double").as("height"),
          col("frame_count").cast("double").as("frame_count"),
          col("duration_ms").cast("double").as("duration_ms"),
          col("fps").cast("double").as("fps")) // 1e6/50000us: exactly 20
        .orderBy(col("__key").cast("long").asc)
    } {
      """SELECT CAST(doc_id AS VARCHAR) AS __key,
        |  CAST(16 + (doc_id // 10) % 6 * 4 AS DOUBLE) AS width,
        |  CAST(12 + (doc_id // 10) % 4 * 4 AS DOUBLE) AS height,
        |  CAST(2 + (doc_id // 10) % 4 AS DOUBLE) AS frame_count,
        |  CAST((2 + (doc_id // 10) % 4) * 50 AS DOUBLE) AS duration_ms,
        |  CAST(20 AS DOUBLE) AS fps
        |FROM documents WHERE doc_id % 10 = 0
        |ORDER BY CAST(doc_id AS BIGINT) ASC""".stripMargin
    }
  )

  def all: Map[String, Queries.Q] =
    triples.map { case (n, fn, _) => n -> fn }.toMap
  def oracles: Map[String, String] =
    triples.collect { case (n, _, Some(o)) => n -> o }.toMap
}
