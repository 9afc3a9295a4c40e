package graft.tools

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * 100× scale rehearsal (round-9 verdict #4): synthesizes a ~sf10
 * corpus from sf0.1 — 100 replicas with shifted keys — and runs the
 * heaviest gates once-warmed, printing sf0.1 vs 100× medians so a
 * hidden super-linear work term finally shows.
 *
 * Replica construction keeps growth ANALYZABLE:
 *  - documents: replica 0 verbatim; replicas i > 0 get a per-replica
 *    deterministic token PERMUTATION (tokens sorted by a salted
 *    hash) — unigram statistics (langid, quality, DSIR buckets,
 *    token counts) are preserved while bigram shingles and simhash
 *    signatures decorrelate, so the NEAR-DUP graph grows linearly
 *    (each replica's internal dups replicate; replicas don't
 *    cross-pair into 100-member cliques — the modal-corpus regime is
 *    separately stress-tested by p_dedup_simhash_degenerate; STATUS.md
 *    "Round 6 — dedup resolution at scale").
 *  - embeddings: replicas perturbed per element (deterministic hash
 *    noise, ±0.5%) so ANN structure is realistic rather than 100
 *    exact copies of every vector.
 *  - lineitem/orders/events: keys shifted per replica; dimension
 *    tables carried (FKs stay valid — each replica re-references the
 *    same dims, like tenants sharing reference data).
 *
 * Keys shift by i·10^8: gate-planted copies live at +10^7/+2·10^7
 * (PlantOffset), safely inside each replica's key range.
 */
object HundredSweep {
  private val HX = "/tmp/graft-sf10x"
  private val Shift = 100000000L

  private def permuteText(text: Column, salt: Column): Column =
    array_join(
      array_sort(split(text, " "), (l, r) =>
        when(xxhash64(concat(l, salt)) < xxhash64(concat(r, salt)), -1)
          .when(xxhash64(concat(l, salt)) > xxhash64(concat(r, salt)), 1)
          .otherwise(when(l < r, -1).when(l > r, 1).otherwise(0))),
      " ")

  private def synth(spark: SparkSession, replicas: Int): Unit = {
    if (graft.util.FsIO.exists(spark, s"$HX/_DONE")) return
    val src = "/root/testdata/sf0.1"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(HX))

    def replicate(table: String, perReplica: (DataFrame, Int) => DataFrame): Unit = {
      val base = spark.read.parquet(s"$src/$table.parquet")
      (0 until replicas).map(i => perReplica(base, i))
        .reduce(_.unionByName(_))
        .write.mode("overwrite").parquet(s"$HX/$table.parquet")
      println(s"synth $table x$replicas done")
    }

    // the permutation salt MUST be per-document: a per-replica salt
    // sorts every doc's tokens in the same global hash order, which
    // MANUFACTURES dense within-replica near-dup clusters (docs
    // sharing vocabulary get near-identical sorted token sequences) —
    // found when the minhash row went 270× super-linear on the v1
    // corpus; with per-doc orders, bigram similarity across docs and
    // replicas reflects only the natural/planted structure
    replicate("documents", { (d, i) =>
      val shifted = d.withColumn("doc_id", col("doc_id") + lit(i * Shift))
      if (i == 0) shifted
      else shifted.withColumn("text",
        permuteText(col("text"), concat(lit(s"#r$i#"), col("doc_id"))))
    })
    replicate("embeddings", { (e, i) =>
      val shifted = e.withColumn("vec_id", col("vec_id") + lit(i * Shift))
      if (i == 0) shifted
      else shifted.withColumn("embedding",
        transform(col("embedding"), (x, j) => (x * (lit(1.0f) +
          (pmod(xxhash64(col("vec_id"), j, lit(i)), lit(1000L)).cast("float") -
            lit(500f)) / lit(100000f))).cast("float")))
    })
    replicate("events", (d, i) =>
      d.withColumn("event_id", col("event_id") + lit(i * Shift)))
    replicate("lineitem", (d, i) =>
      d.withColumn("l_orderkey", col("l_orderkey") + lit(i * Shift)))
    replicate("orders", (d, i) =>
      d.withColumn("o_orderkey", col("o_orderkey") + lit(i * Shift)))
    Seq("customer", "supplier", "part", "nation", "region").foreach { t =>
      spark.read.parquet(s"$src/$t.parquet").write.mode("overwrite")
        .parquet(s"$HX/$t.parquet")
    }
    graft.util.FsIO.writeTextAtomic(spark, s"$HX/_DONE", "ok")
  }

  def main(args: Array[String]): Unit = {
    val reps = sys.env.getOrElse("SWEEP_REPS", "2").toInt
    val replicas = sys.env.getOrElse("SWEEP_REPLICAS", "100").toInt
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.driver.memory", "96g")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    synth(spark, replicas)
    val sf = "/root/testdata/sf0.1"

    def timeOnce(f: () => Long): Double = {
      val t0 = System.nanoTime(); f(); (System.nanoTime() - t0) / 1e9
    }
    def med(f: () => Long): Double = {
      val ts = (1 to reps).map(_ => timeOnce(f)).sorted
      ts(ts.length / 2)
    }
    println(f"${"item"}%-24s ${"sf0.1"}%8s ${"100x"}%9s ratio  (work grows ~100x)")
    def row(name: String, small: () => Long, big: () => Long): Unit =
      try {
        timeOnce(small); timeOnce(big) // warm both (fixtures, JIT)
        val s = med(small); val b = med(big)
        println(f"$name%-24s $s%8.2f $b%9.2f ${b / math.max(s, 1e-9)}%5.1f")
      } catch {
        case e: Throwable =>
          println(f"$name%-24s ERROR ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(120)}")
      }

    // ANN joins: operators timed directly (the GATES spend their time
    // computing exact oracle yardsticks, which are quadratic at 1M)
    import graft.pipeline.Ann
    def embs(dir: String) = spark.read.parquet(s"$dir/embeddings.parquet")
    def ivfJoin(dir: String, cells: Int): Long = {
      val e = embs(dir)
      Ann.knnJoinIvf(e.filter(col("vec_id") % 10007 === 0), "vec_id", "embedding",
        e.filter(col("vec_id") % 10007 =!= 0), "vec_id", "embedding",
        k = 5, nCells = cells, nProbe = 4, metric = "L2").count()
    }
    // The near-dup PRODUCTION banding: 8 rows/band × 16 bands puts the
    // LSH S-curve at J≈0.8-0.9 (the training-data near-dup regime), so
    // the J≈0.05 cross-replica mass that floods the gate's sharp-0.5
    // config (4 rows/band → J^4 false-positive tail → ~40M candidates
    // → O(cands × |shingles|) verify I/O) never becomes candidates.
    def minhashProd(dir: String): Long =
      graft.pipeline.Dedup.minhashNearDups(
        spark.read.parquet(s"$dir/documents.parquet"), "doc_id", "text",
        shingleN = 2, numHashes = 128, bands = 16, threshold = 0.85).count()
    // The gate's SHARP oracle banding (4 rows/band, τ=0.5): STATUS.md
    // ("Round 11 — staged LSH verify + the REAL sharp-config
    // bottleneck") records 2.43e9 banded pair rows at 100×, 88% from 329 buckets
    // of >1000 members (common-shingle-correlated minima — max bucket
    // 28,649 docs ⇒ 4.1e8 pairs from ONE bucket, all J≈0.05 rejects).
    // The r11 maxBandFreq hot-bucket cap drops those buckets from
    // candidate generation (disclosed via cappedBandBuckets). Since
    // r13 the DEFAULT is BandFreqAuto — the cap derives from the
    // corpus' own band-bucket histogram (budget: surviving banded
    // pair mass ≤ 64·nDocs), so this row runs the operator exactly as
    // a user gets it, no hand-dialed cap (previously Some(100) was
    // needed to fit this machine; cap=1000 ran 421-683 s).
    def minhashSharp(dir: String): Long =
      graft.pipeline.Dedup.minhashNearDups(
        spark.read.parquet(s"$dir/documents.parquet"), "doc_id", "text",
        shingleN = 2, numHashes = 128, bands = 32, threshold = 0.5).count()

    // NSW graph build + query (r10 verdict #6): graph build is the one
    // plausibly super-linear ANN term (per-insert beam over a growing
    // graph); queries are timed against a memoized per-dir index so
    // the row measures beam search alone.
    import graft.pipeline.Nsw
    val nswIdx = scala.collection.mutable.Map.empty[String, Nsw.NswIndex]
    def nswBuild(dir: String): Long = {
      val idx = Nsw.build(embs(dir), "vec_id", "embedding",
        metric = "L2", numPartitions = 8, m = 16, efConstruction = 100)
      val n = idx.graphs.count()
      nswIdx.remove(dir).foreach(_.unpersistIndex())
      nswIdx(dir) = idx
      n
    }
    def nswQuery(dir: String): Long = {
      val idx = nswIdx.getOrElseUpdate(dir, {
        val i = Nsw.build(embs(dir), "vec_id", "embedding",
          metric = "L2", numPartitions = 8, m = 16, efConstruction = 100)
        i.graphs.count(); i
      })
      (0 until 10).map { j =>
        val q = graft.Queries.queryVec.clone()
        q(j % q.length) += 0.01f * (j + 1)
        idx.search(q, 10, ef = 100).count()
      }.sum
    }

    // S1 maintenance at 100×: per-batch cost of the full serving path —
    // DocState bucketed write (state commits first, the Ingest
    // contract), LSM posting apply, doc-relation refresh, and the
    // FIRST query after the batch. The batch is a FIXED 500-doc
    // template collected from sf0.1 once (driver-side, re-keyed per
    // call), so the timed path contains zero corpus scans: the right
    // scale shape is cost ∝ batch + touched buckets, NOT corpus.
    import graft.engine.{SearchEngine, SearchOptions}
    import graft.model.{FieldDef, IndexSchema, TextField}
    val mCtx = scala.collection.mutable.Map.empty[
      String, (graft.streaming.DocState, graft.streaming.IndexMaintainer, SearchEngine)]
    var mSeq = 10L
    val mTemplate: Array[(String, String)] =
      spark.read.parquet(s"$sf/documents.parquet")
        .orderBy("doc_id").limit(500)
        .select(col("text"), col("lang")).collect()
        .map(r => (r.getString(0), r.getString(1)))
    def maintainSetup(dir: String) = mCtx.getOrElseUpdate(dir, {
      val statePath = s"/tmp/graft-mstate-${math.abs(dir.hashCode)}"
      val docs = spark.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id").cast("string").as("__key"),
          col("text"), col("lang"))
      // nBuckets must scale with the corpus (DocState's documented
      // write amplification is O(touched/nBuckets) of the corpus): a
      // fixed 64 puts a 500-key batch in EVERY bucket — a full-corpus
      // rewrite per batch. Target ~80 docs/bucket at both scales so a
      // 500-key batch rewrites ≤500 buckets ≈ batch-proportional I/O.
      val nDocs = docs.count()
      val buckets = math.max(64, (nDocs / 80).toInt)
      val state = graft.streaming.DocState.init(docs, statePath, buckets)
      val e = new SearchEngine
      val schema = IndexSchema("documents_m",
        Seq(FieldDef("text", TextField())))
      def relation() = graft.streaming.Ingest.readState(spark, statePath)
      val enriched = graft.sources.Documents.enrich(relation(), schema)
      e.createIndex(schema, enriched)
      val storeDir =
        java.nio.file.Files.createTempDirectory("graft-mstore").toString
      val store = graft.text.PostingStore.init(spark,
        graft.text.PostingIndex.build(enriched, schema, "text"), storeDir)
      val m = new graft.streaming.IndexMaintainer(e, "documents_m", schema,
        stores = Map(("text", graft.text.PostingKind.Term) -> store),
        docsSource = Some(() => relation())).register()
      (state, m, e)
    })
    def maintainBatch(dir: String): Long = {
      val (state, m, e) = maintainSetup(dir)
      mSeq += 1
      val keyBase = 777000000L + mSeq * 1000L
      import spark.implicits._
      val batch = mTemplate.zipWithIndex.toSeq
        .map { case ((text, lang), i) => ((keyBase + i).toString, text, lang) }
        .toDF("__key", "text", "lang")
        .withColumn("op", lit("upsert"))
        .withColumn("__seq", lit(mSeq))
      def ph[T](f: => T): (T, Double) = {
        val t0 = System.nanoTime()
        val r = f
        (r, (System.nanoTime() - t0) / 1e9)
      }
      val (_, tState) = ph(state.applyBatch(batch))
      val (_, tBatch) = ph(m.onBatch(batch))
      val (n, tQuery) = ph(e.search("documents_m", "@text:dup",
        SearchOptions(limit = (0, 100), noContent = true)).count())
      println(f"    maintain_batch[$dir] state=$tState%.2f onBatch=$tBatch%.2f " +
        f"firstQuery=$tQuery%.2f")
      n
    }

    val annItems: Map[String, (() => Long, () => Long)] = Map(
      "maintain_batch" -> ((() => maintainBatch(sf), () => maintainBatch(HX))),
      "minhash_nd_prod" -> ((() => minhashProd(sf), () => minhashProd(HX))),
      "minhash_nd_sharp" -> ((() => minhashSharp(sf), () => minhashSharp(HX))),
      "nsw_build" -> ((() => nswBuild(sf), () => nswBuild(HX))),
      "nsw_query" -> ((() => nswQuery(sf), () => nswQuery(HX))),
      "ann_topk_brute" -> ((
        () => Ann.topK(embs(sf), "vec_id", "embedding",
          graft.Queries.queryVec, 20, "L2").count(),
        () => Ann.topK(embs(HX), "vec_id", "embedding",
          graft.Queries.queryVec, 20, "L2").count())),
      "ann_knn_join_ivf" -> ((() => ivfJoin(sf, 16), () => ivfJoin(HX, 64))))

    val defaults = Seq("q_tag_or", "q_bool_composed", "q_not", "q_numeric_range",
      "p_dedup_minhash_lsh", "p_dedup_simhash", "p_dedup_ngram_salted",
      "p_dsir_select", "p_pipeline_e2e", "ann_topk_brute", "ann_knn_join_ivf",
      "minhash_nd_sharp", "nsw_build", "nsw_query",
      "q_hybrid_knn", "q_ann_inline_recall", "maintain_batch",
      // FT.AGGREGATE family (single Catalyst plans — partial agg +
      // AQE + codegen end to end; rows close the last family without
      // direct 100× evidence)
      "a_groupby_reducers", "a_apply_revenue")
    val items = if (args.nonEmpty) args.toSeq else defaults
    items.foreach { g =>
      annItems.get(g) match {
        case Some((small, big)) => row(g, small, big)
        case None =>
          val fn = graft.Queries.all(g)
          row(g, () => fn(spark, sf).count(), () => fn(spark, HX).count())
      }
    }
    spark.stop()
  }
}
