package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, FloatType}

import graft.functions.vector_distance

/**
 * Similarity search over an embedding column (SURVEY §7.2 M5's scale
 * path, layered beyond the reference's HNSW — here the batch-analytics
 * shape: ANN for query sets against a corpus):
 *
 *  - [[topK]] — exact brute force: distance expression → orderBy →
 *    limit(k). Spark plans TakeOrderedAndProject: partition-local
 *    k-heaps merged on the driver — exactly the reference's fanout
 *    gather (src/query/fanout.cc:50-134) with zero custom code.
 *    This is the correctness oracle for every ANN variant.
 *
 *  - [[IvfIndex]] — inverted-file ANN: deterministic k-means centroids,
 *    vectors partitioned by nearest centroid; a query probes the
 *    `nProbe` nearest cells. At 100 TB the cell assignment is a
 *    map-only pass and the probe reads ~nProbe/nCells of the data —
 *    with the index table written partitioned by cell_id, partition
 *    pruning makes the skipped cells free (never read from storage).
 */
object Ann {

  /** Exact top-k nearest: the baseline and oracle. Rows with a null
    * embedding (null distance) sort LAST — they can never displace a
    * real neighbor, matching the oracle engines' ASC NULLS LAST. */
  def topK(df: DataFrame, keyCol: String, vecCol: String,
           query: Array[Float], k: Int, metric: String = "COSINE"): DataFrame =
    df.select(col(keyCol).cast("string").as("__key"),
        vector_distance(col(vecCol), lit(query).cast(ArrayType(FloatType)), metric)
          .as("distance"))
      .orderBy(col("distance").asc_nulls_last, col("__key").asc)
      .limit(k)

  // ------------------- scalar quantization (int8) ------------------ //

  /**
   * Int8-quantize an embedding column: adds `__sq` — a
   * `(scale float, code array<byte>)` struct 4× smaller than the
   * float32 vectors. The quantized table is what a 100-TB deployment
   * persists and scans; the float column is only read back for the
   * re-rank stage of [[topKSq]] (and by exact oracles).
   */
  def sqQuantize(df: DataFrame, vecCol: String): DataFrame =
    df.withColumn("__sq",
      graft.functions.sq_encode(col(vecCol).cast(ArrayType(FloatType))))

  /**
   * Two-stage quantized top-k: stage 1 scans the int8 codes with the
   * codegen'd asymmetric distance and keeps `k × rerank` candidates
   * (TakeOrderedAndProject — bounded heaps, no shuffle of the corpus);
   * stage 2 re-scores ONLY those candidates with exact float32
   * distance and keeps k. With rerank ≥ 4 the int8 grid error is far
   * inside the re-rank margin — recall ≥ 0.9 is the gate-pinned
   * contract (`p_ann_sq_recall`; measured 1.0 on the gate corpus).
   * Metrics L2 | IP; cosine corpora normalize at ingest and use IP,
   * matching the engine's vector-field convention.
   */
  def topKSq(quantized: DataFrame, keyCol: String, vecCol: String,
             query: Array[Float], k: Int, metric: String = "L2",
             rerank: Int = 4): DataFrame = {
    val q = lit(query).cast(ArrayType(FloatType))
    // Stage 1 projects (key, quantized distance) ONLY — the corpus-wide
    // scan touches just the int8 codes (the 4× I/O saving SQ exists
    // for); the float column is read back solely for the ≤ k·rerank
    // candidate keys via the broadcast join below, mirroring
    // [[knnJoinSq]]. Null codes (null distance) are filtered: they can
    // never be neighbors and must not occupy candidate slots. eval_once
    // keeps that filter above the projection, so the distance is not
    // computed a second time inside it.
    val cands = quantized
      .select(col(keyCol).cast("string").as("__key"),
        graft.functions.eval_once(
          graft.functions.sq_distance(col("__sq"), q, metric)).as("__qd"))
      .filter(col("__qd").isNotNull)
      .orderBy(col("__qd").asc, col("__key").asc)
      .limit(math.max(k, k * rerank))
      .select("__key")
    quantized
      .select(col(keyCol).cast("string").as("__key"),
        col(vecCol).cast(ArrayType(FloatType)).as("__vec"))
      .join(broadcast(cands), "__key")
      .select(col("__key"),
        vector_distance(col("__vec"), q, metric).as("distance"))
      .orderBy(col("distance").asc_nulls_last, col("__key").asc)
      .limit(k)
  }

  /** JVM mirror of [[graft.functions.SqDistance]]: float query vs
    * int8 codes reconstructed as scale·code inline. L2 | IP. */
  private def jvmSqDist(metric: String, scale: Float,
                        code: Array[Byte], q: Array[Float]): Double = {
    val n = math.min(code.length, q.length)
    val s = scale.toDouble
    if (metric == "L2") {
      var acc = 0.0; var i = 0
      while (i < n) { val d = q(i).toDouble - s * code(i); acc += d * d; i += 1 }
      acc
    } else {
      var acc = 0.0; var i = 0
      while (i < n) { acc += q(i).toDouble * (s * code(i)); i += 1 }
      1.0 - acc
    }
  }

  /**
   * Quantized k-NN JOIN: [[knnJoinExact]]'s broadcast-queries heap
   * scan, but stage 1 reads ONLY the int8 `__sq` struct (4× less IO
   * than the float column — the scan that dominates a 100-TB join)
   * and keeps `k × rerank` candidates per query; stage 2 joins the
   * candidate pairs back to the float vectors (AQE broadcasts the
   * candidate set) and re-scores exactly, so returned distances are
   * EXACT float32 values and recall is bounded only by the re-rank
   * margin (gate-pinned ≥ 0.9; measured 1.0). Metrics L2 | IP —
   * cosine corpora normalize at ingest and use IP, the engine's
   * vector-field convention.
   */
  def knnJoinSq(queries: DataFrame, qKey: String, qVec: String,
                quantized: DataFrame, bKey: String, bVec: String,
                k: Int, metric: String = "L2", rerank: Int = 4): DataFrame = {
    require(metric == "L2" || metric == "IP", s"SQ metric L2|IP, got $metric")
    require(rerank >= 1, "rerank must be >= 1")
    val spark = quantized.sparkSession
    import spark.implicits._
    val qArr = queries
      .select(col(qKey).cast("string"), col(qVec).cast(ArrayType(FloatType)))
      .as[(String, Array[Float])].collect()
    val bc = spark.sparkContext.broadcast(qArr)
    val metricL = metric
    val kCand = math.max(k, k * rerank)
    val cands = quantized
      .select(col(bKey).cast("string"), col("__sq.scale"), col("__sq.code"))
      .as[(String, Float, Seq[Byte])]
      .mapPartitions { it =>
        val qs = bc.value
        if (qs.isEmpty) Iterator.empty
        else {
          val ord = Ordering.Tuple2(Ordering.Double.TotalOrdering, Ordering.String)
          val heaps = Array.fill(qs.length)(
            scala.collection.mutable.PriorityQueue.empty[(Double, String)](ord))
          it.foreach { case (bk, scale, codeSeq) =>
            val code = codeSeq.toArray
            var i = 0
            while (i < qs.length) {
              val qv = qs(i)._2
              if (qv != null) {
                val d = jvmSqDist(metricL, scale, code, qv)
                val h = heaps(i)
                if (h.size < kCand) h.enqueue((d, bk))
                else {
                  val worst = h.head
                  if (d < worst._1 || (d == worst._1 && bk < worst._2)) {
                    h.dequeue(); h.enqueue((d, bk))
                  }
                }
              }
              i += 1
            }
          }
          heaps.iterator.zipWithIndex.flatMap { case (h, i) =>
            val qk = qs(i)._1
            h.iterator.map { case (_, bk) => (qk, bk) }
          }
        }
      }.toDF("__qkey", "__bkey")
      // the partial heaps kept kCand per (partition, query); one exact
      // distinct bounds the join-back at |queries| × kCand × parts
      .distinct()
    val qdf = qArr.toSeq.toDF("__qkey", "__qvec")
    val scored = quantized
      .select(col(bKey).cast("string").as("__bkey"),
        col(bVec).cast(ArrayType(FloatType)).as("__bvec"))
      .join(cands, "__bkey")
      .join(broadcast(qdf), "__qkey")
      .select(col("__qkey"), col("__bkey"),
        vector_distance(col("__bvec"), col("__qvec"), metricL).as("distance"))
    topKPerQuery(scored, k)
  }

  // ------------------ product quantization (PQ) -------------------- //

  /** Trained PQ codebooks: `books(j)(c)` is subspace j's centroid c
    * (`dsub` floats). Encoded vectors are `m` bytes — at dim 64 / m 8
    * that is 32× smaller than float32, the compression tier below
    * [[sqQuantize]]'s 4×. Books may hold FEWER than the requested
    * centroids on duplicate-heavy samples (the k-means distinct-point
    * stop); encode and LUT both size by `books(j).length`. */
  final case class PqModel(books: Array[Array[Array[Float]]]) {
    def m: Int = books.length
    def dsub: Int = books(0)(0).length
  }

  /**
   * Train PQ codebooks (Jégou/Douze/Schmid, "Product quantization for
   * nearest neighbor search", TPAMI'11) on a bounded hash-ordered
   * sample: the dim splits into `m` contiguous subspaces, each with an
   * independent k-means codebook of ≤ `codebookSize` centroids
   * (≤ 256 — codes are bytes). Sampling and seeding follow
   * [[kmeansCentroids]] exactly (xxhash64 order — deterministic AND
   * layout-independent; farthest-point init; fixed Lloyd iterations);
   * only the sample, never the corpus, reaches the driver.
   */
  def trainPq(df: DataFrame, vecCol: String, m: Int = 8,
              codebookSize: Int = 256, sampleSize: Int = 4096,
              iters: Int = 8): PqModel = {
    require(m >= 1, s"m must be >= 1, got $m")
    require(codebookSize >= 1 && codebookSize <= 256,
      s"PQ codes are bytes: codebookSize in [1, 256], got $codebookSize")
    val sample = df.select(col(vecCol).cast("array<double>").as("__v"))
      .filter(col("__v").isNotNull)
      .orderBy(xxhash64(col("__v")).asc)
      .limit(sampleSize).collect()
      .map(_.getSeq[Double](0).toArray)
    require(sample.nonEmpty, "trainPq: no non-null vectors to sample")
    val dim = sample(0).length
    require(dim % m == 0, s"trainPq: dim $dim not divisible by m = $m")
    val dsub = dim / m
    val books = Array.tabulate(m) { j =>
      val sub = sample.map(v =>
        java.util.Arrays.copyOfRange(v, j * dsub, (j + 1) * dsub))
      kmeansOnSample(sub, math.min(codebookSize, sub.length), iters)
        .map(_.map(_.toFloat))
    }
    PqModel(books)
  }

  /** Add `__pq` — the m-byte PQ code column. The encoded table is what
    * a 100-TB deployment persists and scans; the float column is only
    * read back for the re-rank stage (exactly the [[sqQuantize]]
    * storage contract, at 32× instead of 4×). */
  def pqEncode(df: DataFrame, vecCol: String, model: PqModel): DataFrame =
    df.withColumn("__pq",
      graft.functions.pq_encode(col(vecCol).cast(ArrayType(FloatType)),
        model.books))

  /** Per-query ADC lookup tables: `lut(offsets(j) + c)` is subspace
    * j's centroid c's metric contribution against the query's j-th
    * subvector. Summed over j (+ addConst) this is EXACTLY the metric
    * distance between the query and the reconstructed (decoded)
    * vector: L2 → Σ‖qⱼ − cⱼ‖², IP → 1 − Σ qⱼ·cⱼ. */
  private[graft] def pqLut(model: PqModel, query: Array[Float],
      metric: String): (Array[Float], Array[Int], Double) = {
    require(metric == "L2" || metric == "IP", s"PQ metric L2|IP, got $metric")
    require(query.length >= model.m * model.dsub,
      s"query dim ${query.length} < m*dsub = ${model.m * model.dsub}")
    val dsub = model.dsub
    val offsets = new Array[Int](model.m)
    var total = 0
    var j = 0
    while (j < model.m) {
      offsets(j) = total; total += model.books(j).length; j += 1
    }
    val lut = new Array[Float](total)
    j = 0
    while (j < model.m) {
      val book = model.books(j)
      var c = 0
      while (c < book.length) {
        val cent = book(c)
        var acc = 0.0
        var i = 0
        while (i < dsub) {
          val qv = query(j * dsub + i).toDouble
          if (metric == "L2") { val d = qv - cent(i); acc += d * d }
          else acc -= qv * cent(i)
          i += 1
        }
        lut(offsets(j) + c) = acc.toFloat
        c += 1
      }
      j += 1
    }
    (lut, offsets, if (metric == "L2") 0.0 else 1.0)
  }

  /** JVM mirror of [[graft.functions.PqAdc]] for the join's
    * mapPartitions scan. */
  private def jvmPqAdc(lut: Array[Float], offsets: Array[Int],
      addConst: Double, code: Array[Byte]): Double = {
    val m = math.min(code.length, offsets.length)
    var acc = addConst
    var j = 0
    while (j < m) { acc += lut(offsets(j) + (code(j) & 0xFF)); j += 1 }
    acc
  }

  /**
   * Two-stage PQ top-k, mirroring [[topKSq]]: stage 1 scans ONLY the
   * m-byte `__pq` codes with the codegen'd ADC (m table lookups + adds
   * per row — no multiplies, no float read; TakeOrderedAndProject
   * bounded heaps, no corpus shuffle) and keeps `k × rerank`
   * candidates; stage 2 re-scores only those with exact float32
   * distance. PQ cells are coarser than int8's grid so the default
   * re-rank margin is wider (8 vs SQ's 4); recall is corpus-dependent
   * and gate-pinned (`p_ann_pq_recall`). Metrics L2 | IP — cosine
   * corpora normalize at ingest and use IP, the engine's vector-field
   * convention.
   */
  def topKPq(encoded: DataFrame, keyCol: String, vecCol: String,
             query: Array[Float], k: Int, model: PqModel,
             metric: String = "L2", rerank: Int = 8): DataFrame = {
    require(rerank >= 1, "rerank must be >= 1")
    val (lut, offsets, addConst) = pqLut(model, query, metric)
    val q = lit(query).cast(ArrayType(FloatType))
    // eval_once: the null filter below must not recompute the ADC sum
    val cands = encoded
      .select(col(keyCol).cast("string").as("__key"),
        graft.functions.eval_once(
          graft.functions.pq_adc(col("__pq"), lut, offsets, addConst))
          .as("__qd"))
      .filter(col("__qd").isNotNull)
      .orderBy(col("__qd").asc, col("__key").asc)
      .limit(math.max(k, k * rerank))
      .select("__key")
    encoded
      .select(col(keyCol).cast("string").as("__key"),
        col(vecCol).cast(ArrayType(FloatType)).as("__vec"))
      .join(broadcast(cands), "__key")
      .select(col("__key"),
        vector_distance(col("__vec"), q, metric).as("distance"))
      .orderBy(col("distance").asc_nulls_last, col("__key").asc)
      .limit(k)
  }

  /**
   * PQ k-NN JOIN, mirroring [[knnJoinSq]]: the per-query ADC lookup
   * tables are built once on the driver and broadcast with the query
   * batch (|queries| × Σ|book| floats — ~1 MB per thousand queries),
   * so stage 1's corpus scan reads ONLY the m-byte codes and does
   * m lookups + adds per (row, query); stage 2 joins candidates back
   * to the float vectors and re-scores exactly. Broadcast-batch
   * contract as [[knnJoinExact]]; [[knnJoinIvf]] is the
   * corpus×corpus-scale escape.
   */
  def knnJoinPq(queries: DataFrame, qKey: String, qVec: String,
                encoded: DataFrame, bKey: String, bVec: String,
                k: Int, model: PqModel, metric: String = "L2",
                rerank: Int = 8): DataFrame = {
    require(metric == "L2" || metric == "IP", s"PQ metric L2|IP, got $metric")
    require(rerank >= 1, "rerank must be >= 1")
    val spark = encoded.sparkSession
    import spark.implicits._
    val qArr = queries
      .select(col(qKey).cast("string"), col(qVec).cast(ArrayType(FloatType)))
      .as[(String, Array[Float])].collect()
    val luts = qArr.map { case (_, qv) =>
      if (qv == null) null else pqLut(model, qv, metric)
    }
    val bc = spark.sparkContext.broadcast(qArr.map(_._1).zip(luts))
    val kCand = math.max(k, k * rerank)
    val cands = encoded
      .select(col(bKey).cast("string"), col("__pq"))
      .as[(String, Seq[Byte])]
      .mapPartitions { it =>
        val qs = bc.value
        if (qs.isEmpty) Iterator.empty
        else {
          val ord = Ordering.Tuple2(Ordering.Double.TotalOrdering, Ordering.String)
          val heaps = Array.fill(qs.length)(
            scala.collection.mutable.PriorityQueue.empty[(Double, String)](ord))
          it.foreach { case (bk, codeSeq) =>
            val code = codeSeq.toArray
            var i = 0
            while (i < qs.length) {
              val lutI = qs(i)._2
              if (lutI != null) {
                val (lut, offsets, addConst) = lutI
                val d = jvmPqAdc(lut, offsets, addConst, code)
                val h = heaps(i)
                if (h.size < kCand) h.enqueue((d, bk))
                else {
                  val worst = h.head
                  if (d < worst._1 || (d == worst._1 && bk < worst._2)) {
                    h.dequeue(); h.enqueue((d, bk))
                  }
                }
              }
              i += 1
            }
          }
          heaps.iterator.zipWithIndex.flatMap { case (h, i) =>
            val qk = qs(i)._1
            h.iterator.map { case (_, bk) => (qk, bk) }
          }
        }
      }.toDF("__qkey", "__bkey")
      // partial heaps kept kCand per (partition, query); one exact
      // distinct bounds the join-back at |queries| × kCand × parts
      .distinct()
    val qdf = qArr.toSeq.toDF("__qkey", "__qvec")
    val metricL = metric
    val scored = encoded
      .select(col(bKey).cast("string").as("__bkey"),
        col(bVec).cast(ArrayType(FloatType)).as("__bvec"))
      .join(cands, "__bkey")
      .join(broadcast(qdf), "__qkey")
      .select(col("__qkey"), col("__bkey"),
        vector_distance(col("__bvec"), col("__qvec"), metricL).as("distance"))
    topKPerQuery(scored, k)
  }

  // --------------------------- k-NN join --------------------------- //

  /** Measured shape inputs to [[choosePlan]]: row counts, vector
    * dimensionality, and the clustering statistic from [[probeShape]].
    * `nnRatio` = mean nearest-neighbor distance / mean pairwise
    * distance over a bounded hash-ordered sample — near 0 on clustered
    * corpora (each point has a same-cluster neighbor), near 1 on
    * uniform high-dim vectors (concentration of measure: everything is
    * equidistant). */
  final case class JoinShape(nQueries: Long, nBase: Long, dim: Int,
                             nnRatio: Double)

  /**
   * Measure the shape [[choosePlan]] decides from: two counts (parquet
   * metadata-cheap; the join itself scans both inputs anyway, so the
   * planning overhead is bounded and one-shot, unlike the per-query
   * plan-time jobs [[graft.engine.PostingStats]] exists to avoid) and
   * one bounded sample job for the clustering statistic.
   */
  def probeShape(queries: DataFrame, qVec: String,
                 base: DataFrame, bVec: String,
                 sampleSize: Int = 512): JoinShape = {
    val nq = queries.count()
    val qs = probeQueryShape(base, bVec, sampleSize)
    JoinShape(nq, qs.nBase, qs.dim, qs.nnRatio)
  }

  /** Measured base-side shape for the SINGLE-QUERY planner — the same
    * counts + clustering statistic [[probeShape]] measures, without a
    * query side. */
  final case class QueryShape(nBase: Long, dim: Int, nnRatio: Double)

  def probeQueryShape(base: DataFrame, bVec: String,
                      sampleSize: Int = 512): QueryShape = {
    val nb = base.count()
    // hash-ordered sample: deterministic + layout-independent, same
    // argument as [[kmeansCentroids]]
    val sample = base.select(col(bVec).cast("array<double>").as("__v"))
      .filter(col("__v").isNotNull)
      .orderBy(xxhash64(col("__v")).asc)
      .limit(sampleSize).collect()
      .map(_.getSeq[Double](0).toArray)
    val dim = if (sample.isEmpty) 0 else sample(0).length
    QueryShape(nb, dim, nnRatioOf(sample))
  }

  /** mean(nearest-neighbor L2) / mean(pairwise L2) over a sample
    * (driver-side, O(n²) on ≤ sampleSize rows). 1.0 when the sample
    * is too small to measure. */
  private[pipeline] def nnRatioOf(sample: Array[Array[Double]]): Double = {
    val n = sample.length
    if (n < 8) return 1.0
    var pairSum = 0.0
    val nn = Array.fill(n)(Double.MaxValue)
    var i = 0
    while (i < n) {
      var j = i + 1
      while (j < n) {
        val d = math.sqrt(sq(sample(i), sample(j)))
        pairSum += d
        if (d < nn(i)) nn(i) = d
        if (d < nn(j)) nn(j) = d
        j += 1
      }
      i += 1
    }
    val meanPair = pairSum / (n.toLong * (n - 1) / 2)
    if (meanPair <= 0.0) 1.0 else (nn.sum / n) / meanPair
  }

  /**
   * Plan choice from measured shape — the analogue of the reference
   * query planner's data-driven hybrid choice (it picks pre-filter vs
   * inline-filter from the qualified-count ratio,
   * src/query/planner.cc:21-46); here the decision is which k-NN join
   * physical plan wins, using the regime boundaries measured in the
   * round-5 sweep (STATUS "k-NN join plan selection"):
   *
   *  1. `"exact"` when the scored cross product is small — exact is
   *     Θ(|q|·|b|·dim) in a tight JVM loop and beat both approximate
   *     plans up to ~2e10 score-flops in the sweep (the default
   *     budget; at 32 threads that is a few seconds of scoring).
   *  2. `"ivf"` when the query side is too large to broadcast —
   *     the cogroup join is the only plan that shuffles instead of
   *     broadcasting the batch.
   *  3. `"ivf"` when the corpus is CLUSTERED (nnRatio below the
   *     threshold): cell pruning preserves recall there (measured
   *     r=1.0 at 16/256 probes) and wins the sweep's big batches.
   *  4. `"nsw"` on unstructured corpora when a graph exists —
   *     beam search holds r≈1.0 where cell pruning collapses to
   *     r≈0.45; else a quantized scan + exact re-rank for L2/IP —
   *     `"pq"` when a trained codebook was supplied (m-byte ADC
   *     scan: 32× less I/O than float, 8× less than int8) else
   *     `"sq"` (4×) — falling back to `"exact"` for cosine without
   *     a graph.
   */
  def choosePlan(shape: JoinShape, nswAvailable: Boolean,
                 metric: String = "COSINE",
                 exactFlopBudget: Double = 2e10,
                 broadcastQueryLimit: Long = 250000,
                 clusteredBelow: Double = 0.45,
                 pqAvailable: Boolean = false): String = {
    val flops = shape.nQueries.toDouble * shape.nBase * math.max(1, shape.dim)
    // broadcast-ability gates FIRST: exact/nsw/sq/pq all collect the
    // query batch to the driver, so a huge query side must route to the
    // shuffling IVF plan even when the scored cross product is tiny
    // (10M queries × 60 base rows is few flops but an un-broadcastable
    // batch — the blow-up broadcastQueryLimit exists to prevent)
    if (shape.nQueries > broadcastQueryLimit) "ivf"
    else if (flops <= exactFlopBudget) "exact"
    else if (shape.nnRatio < clusteredBelow) "ivf"
    else if (nswAvailable) "nsw"
    else if (pqAvailable && (metric == "L2" || metric == "IP")) "pq"
    else if (metric == "L2" || metric == "IP") "sq"
    else "exact"
  }

  /**
   * Auto-plan k-NN join facade: measures the input shape
   * ([[probeShape]]), picks the physical plan ([[choosePlan]] — pass
   * `plan` to override), and dispatches to [[knnJoinExact]] /
   * [[knnJoinIvf]] / [[knnJoinNsw]] / [[knnJoinSq]] / [[knnJoinPq]]
   * (PQ enters the plan space only when a trained [[PqModel]] is
   * supplied — codebook training is index-build work the facade
   * never hides in query cost). Output schema is identical across
   * plans: `(__key, rk, neighbor, distance)`.
   *
   * IVF cell/probe defaults scale with the corpus (√|base| cells,
   * 1/8 probed — the sweep's 16/256-style shape) and are overridable;
   * NSW is only chosen when the caller supplies a maintained graph
   * (building one inside a join would hide an index build in query
   * cost).
   */
  def knnJoin(queries: DataFrame, qKey: String, qVec: String,
              base: DataFrame, bKey: String, bVec: String,
              k: Int, metric: String = "COSINE",
              plan: Option[String] = None,
              nsw: Option[Nsw.NswIndex] = None,
              ef: Int = 200,
              nCells: Option[Int] = None,
              nProbe: Option[Int] = None,
              pq: Option[PqModel] = None): DataFrame = {
    // lazy: an explicit plan + explicit cells never pays the probe
    lazy val shape = probeShape(queries, qVec, base, bVec)
    val chosen = plan.getOrElse(
      choosePlan(shape, nswAvailable = nsw.isDefined, metric = metric,
        pqAvailable = pq.isDefined))
    chosen match {
      case "exact" =>
        knnJoinExact(queries, qKey, qVec, base, bKey, bVec, k, metric)
      case "ivf" =>
        val cells = nCells.getOrElse {
          val nb = if (plan.isEmpty) shape.nBase else base.count()
          autoCells(nb)
        }
        knnJoinIvf(queries, qKey, qVec, base, bKey, bVec, k,
          nCells = cells, nProbe = nProbe.getOrElse(math.max(4, cells / 8)),
          metric = metric)
      case "nsw" =>
        knnJoinNsw(nsw.getOrElse(throw new IllegalArgumentException(
          "plan=nsw requires a maintained Nsw index")), queries, qKey, qVec,
          k, ef)
      case "sq" =>
        require(metric == "L2" || metric == "IP",
          s"plan=sq supports L2|IP, got $metric")
        val quantized =
          if (base.columns.contains("__sq")) base else sqQuantize(base, bVec)
        knnJoinSq(queries, qKey, qVec, quantized, bKey, bVec, k, metric)
      case "pq" =>
        require(metric == "L2" || metric == "IP",
          s"plan=pq supports L2|IP, got $metric")
        val model = pq.getOrElse(throw new IllegalArgumentException(
          "plan=pq requires a trained PqModel"))
        val encoded =
          if (base.columns.contains("__pq")) base
          else pqEncode(base, bVec, model)
        knnJoinPq(queries, qKey, qVec, encoded, bKey, bVec, k, model, metric)
      case other =>
        throw new IllegalArgumentException(
          s"unknown k-NN join plan '$other' (exact|ivf|nsw|sq|pq)")
    }
  }

  /**
   * Single-query plan choice — [[choosePlan]]'s regime bones applied
   * to the one-vector search surface (the reference planner makes its
   * analogous per-query choice from data for EVERY query,
   * /root/reference/src/query/planner.cc:21-46; the engine's hybrid
   * pre-filter/inline-filter path already does — this closes the gap
   * for the pipeline ANN surface):
   *
   *  1. `"exact"` when the corpus scan is cheap (nBase·dim within the
   *     flop budget — TakeOrderedAndProject is exact and competitive;
   *     for one query the budget is per-query work, hence 100× lower
   *     than the join batch budget) — or when no index exists to beat
   *     it.
   *  2. `"ivf"` when an IVF index is BUILT and the corpus is clustered
   *     (nnRatio below threshold) — the regime where the sweep
   *     measured cell pruning at recall 1.0; on uniform corpora cell
   *     pruning collapses (r ≈ 0.45) and the graph wins.
   *  3. `"nsw"` when a graph is built — holds r ≈ 1.0 on the
   *     unstructured corpora that defeat IVF.
   *  4. a quantized scan + exact re-rank when pre-built codes exist
   *     and the metric is L2|IP — `"pq"` (m-byte ADC, 32× less scan
   *     I/O) preferred over `"sq"` (int8, 4×); recall bounded by the
   *     re-rank margin either way. (Never chosen without pre-built
   *     codes: a quantize-on-the-fly pass reads the floats it exists
   *     to skip.)
   */
  def chooseQueryPlan(shape: QueryShape, ivfAvailable: Boolean,
                      nswAvailable: Boolean, sqAvailable: Boolean,
                      metric: String = "COSINE",
                      exactFlopBudget: Double = 2e8,
                      clusteredBelow: Double = 0.45,
                      pqAvailable: Boolean = false): String = {
    val flops = shape.nBase.toDouble * math.max(1, shape.dim)
    if (flops <= exactFlopBudget) "exact"
    else if (ivfAvailable && shape.nnRatio < clusteredBelow) "ivf"
    else if (nswAvailable) "nsw"
    else if (pqAvailable && (metric == "L2" || metric == "IP")) "pq"
    else if (sqAvailable && (metric == "L2" || metric == "IP")) "sq"
    else "exact"
  }

  /**
   * Auto-plan single-query top-k facade: measures the corpus shape
   * ([[probeQueryShape]]), picks the physical plan
   * ([[chooseQueryPlan]] — pass `plan` to override), and dispatches to
   * [[topK]] / [[IvfIndex.search]] / NSW beam search / [[topKSq]] /
   * [[topKPq]]. Output schema is identical across plans:
   * `(__key, distance)`. Like [[knnJoin]], indexes are never BUILT
   * inside the facade — index construction hidden in query cost would
   * lie to the caller; only supplied indexes (and pre-built `__sq` /
   * `__pq` codes — PQ also needs its trained [[PqModel]] for the
   * query-side lookup tables) widen the plan space.
   */
  def topKAuto(base: DataFrame, keyCol: String, vecCol: String,
               query: Array[Float], k: Int, metric: String = "COSINE",
               plan: Option[String] = None,
               ivf: Option[IvfIndex] = None,
               nsw: Option[Nsw.NswIndex] = None,
               nProbe: Option[Int] = None,
               ef: Int = 200,
               pq: Option[PqModel] = None): DataFrame = {
    // lazy: an explicit plan never pays the shape probe
    lazy val shape = probeQueryShape(base, vecCol)
    val sqAvail = base.columns.contains("__sq")
    val pqAvail = pq.isDefined && base.columns.contains("__pq")
    val chosen = plan.getOrElse(chooseQueryPlan(shape,
      ivfAvailable = ivf.isDefined, nswAvailable = nsw.isDefined,
      sqAvailable = sqAvail, metric = metric, pqAvailable = pqAvail))
    chosen match {
      case "exact" =>
        topK(base, keyCol, vecCol, query, k, metric)
      case "ivf" =>
        val idx = ivf.getOrElse(throw new IllegalArgumentException(
          "plan=ivf requires a built IvfIndex"))
        val cells = idx.centroids.length
        idx.search(query, k, nProbe.getOrElse(math.max(4, cells / 8)), metric)
      case "nsw" =>
        nsw.getOrElse(throw new IllegalArgumentException(
          "plan=nsw requires a maintained Nsw index"))
          .search(query, k, ef)
      case "sq" =>
        require(metric == "L2" || metric == "IP",
          s"plan=sq supports L2|IP, got $metric")
        val quantized = if (sqAvail) base else sqQuantize(base, vecCol)
        topKSq(quantized, keyCol, vecCol, query, k, metric)
      case "pq" =>
        require(metric == "L2" || metric == "IP",
          s"plan=pq supports L2|IP, got $metric")
        val model = pq.getOrElse(throw new IllegalArgumentException(
          "plan=pq requires a trained PqModel"))
        val encoded =
          if (base.columns.contains("__pq")) base
          else pqEncode(base, vecCol, model)
        topKPq(encoded, keyCol, vecCol, query, k, model, metric)
      case other =>
        throw new IllegalArgumentException(
          s"unknown top-k plan '$other' (exact|ivf|nsw|sq|pq)")
    }
  }

  /**
   * Bounded top-k aggregate (the SURVEY §2.9 `Aggregator[IN,BUF,OUT]`
   * extension point): the buffer holds AT MOST k (distance, key) pairs
   * sorted ascending, so per-group state is O(k) with map-side partial
   * aggregation — where a `collect_list` + `array_sort` formulation
   * would buffer every scored pair per query (O(|base|)) before
   * truncating. Input rows are (queryKey, neighborKey, distance); ties
   * break on the neighbor key string, matching the exact-path oracles.
   */
  final class TopKAgg(k: Int) extends org.apache.spark.sql.expressions.Aggregator[
      (String, String, Double), Seq[(Double, String)], Seq[(String, Double)]] {
    override def zero: Seq[(Double, String)] = Nil
    override def reduce(b: Seq[(Double, String)],
                        a: (String, String, Double)): Seq[(Double, String)] =
      if (b.length >= k &&
          { val l = b.last; l._1 < a._3 || (l._1 == a._3 && l._2 <= a._2) }) b
      else ((a._3, a._2) +: b).sorted.take(k)
    override def merge(x: Seq[(Double, String)],
                       y: Seq[(Double, String)]): Seq[(Double, String)] =
      (x ++ y).sorted.take(k)
    override def finish(b: Seq[(Double, String)]): Seq[(String, Double)] =
      b.map { case (d, key) => (key, d) }
    override def bufferEncoder =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[(Double, String)]]()
    override def outputEncoder =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[(String, Double)]]()
  }

  /** (qkey, bkey, distance) rows → one output row per (query, rank):
    * `__key, rk, neighbor, distance` with rank 1-based by ascending
    * distance (neighbor-key tiebreak). */
  private def topKPerQuery(scored: DataFrame, k: Int): DataFrame = {
    val spark = scored.sparkSession
    import spark.implicits._
    scored.as[(String, String, Double)]
      .groupByKey(_._1)
      .agg(new TopKAgg(k).toColumn.name("nn"))
      .toDF("__key", "nn")
      .select(col("__key"), posexplode(col("nn")))
      .select(col("__key"), (col("pos") + 1).cast("double").as("rk"),
        col("col._1").as("neighbor"), col("col._2").as("distance"))
  }

  /** JVM mirror of [[graft.functions.VectorDistance]] — same metrics,
    * same double-accumulation order, bit-identical results. */
  private[pipeline] def jvmDist(metric: String, a: Array[Float], b: Array[Float]): Double = {
    val n = math.min(a.length, b.length)
    metric match {
      case "L2" =>
        var acc = 0.0; var i = 0
        while (i < n) { val d = a(i).toDouble - b(i); acc += d * d; i += 1 }
        acc
      case "IP" =>
        var acc = 0.0; var i = 0
        while (i < n) { acc += a(i).toDouble * b(i); i += 1 }
        1.0 - acc
      case "COSINE" =>
        var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
        while (i < n) {
          val x = a(i).toDouble; val y = b(i).toDouble
          dot += x * y; na += x * x; nb += y * y; i += 1
        }
        val denom = math.sqrt(na) * math.sqrt(nb)
        if (denom == 0.0) 1.0 else 1.0 - dot / denom
    }
  }

  /**
   * Exact k-NN JOIN: every `queries` row → its k nearest `base` rows.
   * The query side BROADCASTS (the typical shape: an eval/probe set
   * against a huge corpus), so the corpus never shuffles on content.
   * Each base partition streams its rows once through a tight JVM loop
   * holding one bounded k-heap PER QUERY — the |base| × |queries|
   * cross product is scored without ever materializing it as rows (a
   * crossJoin + aggregate formulation pays ~120 ns/row of object
   * plumbing on top of the ~30 ns distance; measured 85 s → a few
   * seconds at 92k × 7.7k). The only shuffle is the ≤ |parts| ×
   * |queries| × k partial stream into the [[TopKAgg]] merge.
   */
  def knnJoinExact(queries: DataFrame, qKey: String, qVec: String,
                   base: DataFrame, bKey: String, bVec: String,
                   k: Int, metric: String = "COSINE"): DataFrame = {
    val spark = base.sparkSession
    import spark.implicits._
    val qArr = queries
      .select(col(qKey).cast("string"), col(qVec).cast(ArrayType(FloatType)))
      .as[(String, Array[Float])].collect()
    val bc = spark.sparkContext.broadcast(qArr)
    val metricL = metric
    val kL = k
    val scored = base
      .select(col(bKey).cast("string"), col(bVec).cast(ArrayType(FloatType)))
      .as[(String, Array[Float])]
      .mapPartitions { it =>
        val qs = bc.value
        if (qs.isEmpty) Iterator.empty
        else {
          // max-heap on (distance, key): the worst kept pair sits on
          // top; ties break toward the smaller key, matching TopKAgg
          val ord = Ordering.Tuple2(Ordering.Double.TotalOrdering, Ordering.String)
          val heaps = Array.fill(qs.length)(
            scala.collection.mutable.PriorityQueue.empty[(Double, String)](ord))
          it.foreach { case (bk, bv) =>
            if (bv != null) {
              var i = 0
              while (i < qs.length) {
                val qv = qs(i)._2
                if (qv != null) {
                  val d = jvmDist(metricL, bv, qv)
                  val h = heaps(i)
                  if (h.size < kL) h.enqueue((d, bk))
                  else {
                    val worst = h.head
                    if (d < worst._1 || (d == worst._1 && bk < worst._2)) {
                      h.dequeue(); h.enqueue((d, bk))
                    }
                  }
                }
                i += 1
              }
            }
          }
          heaps.iterator.zipWithIndex.flatMap { case (h, i) =>
            val qk = qs(i)._1
            h.iterator.map { case (d, bk) => (qk, bk, d) }
          }
        }
      }.toDF("__qkey", "__bkey", "distance")
    topKPerQuery(scored, k)
  }

  /**
   * IVF-celled k-NN JOIN — the scale path when the QUERY side is too
   * large to broadcast: base rows assign to their nearest centroid
   * (map-only); each query probes its `nProbe` nearest cells (query ×
   * tiny broadcast centroid table); both sides then shuffle ONCE on
   * `cell_id` and score within cells — candidate work is
   * ~nProbe/nCells of the cross product. `nProbe = nCells` probes
   * everything: exact, equal to [[knnJoinExact]] (the gate oracle);
   * smaller nProbe trades recall for cost like single-query IVF.
   *
   * Plan selection (measured, STATUS "k-NN join plan selection"): IVF
   * is the recall-safe approximate plan on CLUSTERED embedding spaces
   * (r = 1.0 at 16/256 probes where NSW needs ef 400 for 0.92); on
   * uniform/unstructured vectors its cell pruning loses signal
   * (r ≈ 0.45) and [[knnJoinNsw]] or [[knnJoinExact]] win.
   */
  def knnJoinIvf(queries: DataFrame, qKey: String, qVec: String,
                 base: DataFrame, bKey: String, bVec: String,
                 k: Int, nCells: Int, nProbe: Int,
                 metric: String = "COSINE"): DataFrame = {
    val spark = base.sparkSession
    import spark.implicits._
    val centroids = kmeansCentroids(base, bVec, nCells)
    val cdf = centroids.zipWithIndex
      .map { case (c, i) => (i, c.map(_.toFloat)) }.toSeq.toDF("cell_id", "__centroid")
    val b = base.select(col(bKey).cast("string").as("__bkey"),
        col(bVec).cast(ArrayType(FloatType)).as("__bvec"))
      .withColumn("cell_id", cellId(col("__bvec"), centroids))
    val qw = org.apache.spark.sql.expressions.Window
      .partitionBy("__qkey").orderBy(col("__cdist").asc, col("cell_id").asc)
    val q = queries.select(col(qKey).cast("string").as("__qkey"),
        col(qVec).cast(ArrayType(FloatType)).as("__qvec"))
      .crossJoin(broadcast(cdf))
      // probe cells rank by the JOIN metric, not hard-coded L2: with
      // metric=COSINE on non-normalized vectors an L2 ranking can probe
      // the wrong cells and silently lose recall under partial probes
      // (cell ASSIGNMENT stays L2 — the k-means coarse quantizer —
      // so cosine corpora should still normalize at ingest, as the
      // engine's vector fields do)
      .withColumn("__cdist",
        vector_distance(col("__qvec"), col("__centroid"), metric))
      .withColumn("__rn", row_number().over(qw))
      .filter(col("__rn") <= nProbe)
      .select("__qkey", "__qvec", "cell_id")
    // Score within cells by COGROUP, not by join: a row-level join
    // materializes every (probe, base-row) candidate as a row (~44M at
    // the sweep's big batch — 120 ns/row of plumbing); cogrouping
    // shuffles each side once on cell_id and scores the same
    // candidates in a tight JVM loop with one bounded k-heap per
    // probing query, emitting only ≤ probes × k partials per cell.
    // Same distance arithmetic and tie-breaks as [[knnJoinExact]], so
    // nProbe = nCells stays bit-identical to it.
    val metricL = metric
    val kL = k
    val scored = q.as[(String, Array[Float], Int)].groupByKey(_._3)
      .cogroup(b.as[(String, Array[Float], Int)].groupByKey(_._3)) {
        (_, qIt, bIt) =>
          val qs = qIt.toArray
          if (qs.isEmpty) Iterator.empty
          else {
            val ord = Ordering.Tuple2(Ordering.Double.TotalOrdering, Ordering.String)
            val heaps = Array.fill(qs.length)(
              scala.collection.mutable.PriorityQueue.empty[(Double, String)](ord))
            bIt.foreach { case (bk, bv, _) =>
              if (bv != null) {
                var i = 0
                while (i < qs.length) {
                  val qv = qs(i)._2
                  if (qv != null) {
                    val d = jvmDist(metricL, bv, qv)
                    val h = heaps(i)
                    if (h.size < kL) h.enqueue((d, bk))
                    else {
                      val worst = h.head
                      if (d < worst._1 || (d == worst._1 && bk < worst._2)) {
                        h.dequeue(); h.enqueue((d, bk))
                      }
                    }
                  }
                  i += 1
                }
              }
            }
            heaps.iterator.zipWithIndex.flatMap { case (h, i) =>
              val qk = qs(i)._1
              h.iterator.map { case (d, bk) => (qk, bk, d) }
            }
          }
      }.toDF("__qkey", "__bkey", "distance")
    topKPerQuery(scored, k)
  }

  /**
   * IVFADC k-NN JOIN (Jégou/Douze/Schmid TPAMI'11 §IV, composed the
   * Spark way): [[knnJoinIvf]]'s cogroup shuffle shape with PQ codes
   * in place of float vectors — the base side shuffles
   * (cell_id, key, m-byte code) instead of (cell_id, key, dim×4-byte
   * vector): 32× less shuffle I/O at dim 64 / m 8, which is THE
   * bottleneck term of a corpus×corpus join at 100 TB. Within each
   * probed cell the scan is ADC — per-query lookup tables built
   * task-side once per (query, cell); codebooks quantize RAW vectors,
   * not residuals, so the same persisted `__pq` column serves
   * [[knnJoinPq]], [[topKPq]] and this plan. The ADC top k×rerank
   * candidates per query then re-rank on exact float32 via two
   * bounded KEY joins (neither side is ever broadcast — this is the
   * quantized plan for query sides beyond [[knnJoinPq]]'s broadcast
   * contract), so returned distances are EXACT and recall is bounded
   * by probe budget × re-rank margin. `nProbe = nCells` makes the
   * ADC stage a full corpus scan (candidate recall equals the flat
   * PQ plan's or better — per-cell heaps keep a superset of the
   * global ADC top-k×rerank).
   */
  def knnJoinIvfPq(queries: DataFrame, qKey: String, qVec: String,
                   base: DataFrame, bKey: String, bVec: String,
                   k: Int, nCells: Int, nProbe: Int, model: PqModel,
                   metric: String = "L2", rerank: Int = 8): DataFrame = {
    require(metric == "L2" || metric == "IP", s"PQ metric L2|IP, got $metric")
    require(rerank >= 1, "rerank must be >= 1")
    val spark = base.sparkSession
    import spark.implicits._
    val centroids = kmeansCentroids(base, bVec, nCells)
    val cdf = centroids.zipWithIndex
      .map { case (c, i) => (i, c.map(_.toFloat)) }.toSeq.toDF("cell_id", "__centroid")
    val encoded =
      if (base.columns.contains("__pq")) base else pqEncode(base, bVec, model)
    // cell assignment reads the float column once, map-only, BEFORE the
    // shuffle (a persisted deployment pre-partitions by cell_id and
    // skips it); only (key, code, cell_id) ever moves
    val b = encoded
      .withColumn("cell_id",
        cellId(col(bVec).cast(ArrayType(FloatType)), centroids))
      .select(col(bKey).cast("string").as("__bkey"),
        col("__pq").as("__code"), col("cell_id"))
    val qw = org.apache.spark.sql.expressions.Window
      .partitionBy("__qkey").orderBy(col("__cdist").asc, col("cell_id").asc)
    val q = queries.select(col(qKey).cast("string").as("__qkey"),
        col(qVec).cast(ArrayType(FloatType)).as("__qvec"))
      .crossJoin(broadcast(cdf))
      .withColumn("__cdist",
        vector_distance(col("__qvec"), col("__centroid"), metric))
      .withColumn("__rn", row_number().over(qw))
      .filter(col("__rn") <= nProbe)
      .select("__qkey", "__qvec", "cell_id")
    val kCand = math.max(k, k * rerank)
    val modelL = model
    val metricL = metric
    val adcCands = q.as[(String, Array[Float], Int)].groupByKey(_._3)
      .cogroup(b.as[(String, Seq[Byte], Int)].groupByKey(_._3)) {
        (_, qIt, bIt) =>
          val qs = qIt.toArray
          if (qs.isEmpty) Iterator.empty
          else {
            val luts = qs.map { case (_, qv, _) =>
              if (qv == null) null else pqLut(modelL, qv, metricL) }
            val ord = Ordering.Tuple2(Ordering.Double.TotalOrdering, Ordering.String)
            val heaps = Array.fill(qs.length)(
              scala.collection.mutable.PriorityQueue.empty[(Double, String)](ord))
            bIt.foreach { case (bk, codeSeq, _) =>
              if (codeSeq != null) {
                val code = codeSeq.toArray
                var i = 0
                while (i < qs.length) {
                  val l = luts(i)
                  if (l != null) {
                    val d = jvmPqAdc(l._1, l._2, l._3, code)
                    val h = heaps(i)
                    if (h.size < kCand) h.enqueue((d, bk))
                    else {
                      val worst = h.head
                      if (d < worst._1 || (d == worst._1 && bk < worst._2)) {
                        h.dequeue(); h.enqueue((d, bk))
                      }
                    }
                  }
                  i += 1
                }
              }
            }
            heaps.iterator.zipWithIndex.flatMap { case (h, i) =>
              val qk = qs(i)._1
              h.iterator.map { case (_, bk) => (qk, bk) }
            }
          }
      }.toDF("__qkey", "__bkey")
    // exact re-rank: candidates join back to the float vectors BY KEY
    // on both sides; candidate volume is ≤ |queries| × nProbe × kCand
    // rows of two strings — linear, shuffle-joined, AQE-broadcastable
    val scored = adcCands
      .join(base.select(col(bKey).cast("string").as("__bkey"),
        col(bVec).cast(ArrayType(FloatType)).as("__bvec")), "__bkey")
      .join(queries.select(col(qKey).cast("string").as("__qkey"),
        col(qVec).cast(ArrayType(FloatType)).as("__qvec")), "__qkey")
      .select(col("__qkey"), col("__bkey"),
        vector_distance(col("__bvec"), col("__qvec"), metricL).as("distance"))
    topKPerQuery(scored, k)
  }

  /**
   * NSW-routed k-NN JOIN — the graph-ANN path for a bounded query
   * batch (eval sets, probe batches; the query side must fit in a
   * broadcast — corpus-scale query sides belong to [[knnJoinIvf]]).
   * The batch broadcasts ONCE; every graph partition beams each query
   * over its local graph (removed nodes stay navigable but are never
   * admitted, matching [[Nsw.NswIndex.searchFiltered]]), emitting ≤ k
   * candidates per (partition, query). The only shuffle is that
   * |parts| × |queries| × k candidate stream into the bounded
   * [[TopKAgg]] merge — amortizing the whole batch over one pass of
   * the graph partitions instead of one driver job per query.
   *
   * Plan selection (measured, STATUS "k-NN join plan selection"): NSW
   * is the approximate plan for UNIFORM/unstructured vectors (r ≈ 1.0
   * where IVF cell pruning drops to ~0.45); on tightly clustered
   * corpora dense near-ties starve the beam (ef 400 for r ≈ 0.92)
   * and [[knnJoinIvf]] recalls 1.0 cheaper. Small corpora or batches:
   * [[knnJoinExact]] is exact and competitive until per-executor base
   * size makes Θ(|base|)/query the bottleneck.
   */
  def knnJoinNsw(idx: Nsw.NswIndex, queries: DataFrame,
                 qKey: String, qVec: String, k: Int, ef: Int = 50): DataFrame = {
    val spark = idx.graphs.sparkSession
    import spark.implicits._
    val qArr = queries
      .select(col(qKey).cast("string"), col(qVec).cast(ArrayType(FloatType)))
      .as[(String, Array[Float])].collect()
    val bc = spark.sparkContext.broadcast(qArr)
    val metricL = idx.metric
    val effEf = math.max(ef, k)
    val scored = idx.graphs.flatMap { g =>
      if (g.keys.isEmpty) Iterator.empty
      else {
        val admit: Option[Int => Boolean] =
          if (g.removed.isEmpty) None
          else {
            val dead = new java.util.BitSet(g.keys.length)
            g.removed.foreach(dead.set)
            Some((i: Int) => !dead.get(i))
          }
        val adj = g.adj.map(_.toIndexedSeq)
        bc.value.iterator.flatMap { case (qk, qv) =>
          Nsw.searchLocal(g.vecs, adj, qv, effEf, limitIdx = -1, metricL,
              admit = admit)
            .iterator.take(k).map { case (d, i) => (qk, g.keys(i), d) }
        }
      }
    }.toDF("__qkey", "__bkey", "distance")
    topKPerQuery(scored, k)
  }

  /** Corpus-scaled cell-count default shared by the [[knnJoin]] facade
    * and [[Dedup.semanticNearDups]]: √n clamped to [16, 4096] — cells
    * grow with the corpus so expected CELL SIZE grows only as √n, the
    * shape that keeps per-cell candidate work bounded at 100 TB
    * (a fixed small cell count would put ~n/16 rows in every cell). */
  def autoCells(n: Long): Int =
    math.min(4096, math.max(16, math.sqrt(math.max(0L, n).toDouble).toInt))

  /** Squared L2 between two double arrays (driver-side, for k-means). */
  private def sq(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0; var i = 0
    while (i < a.length) { val d = a(i) - b(i); s += d * d; i += 1 }
    s
  }

  /** Driver-side metric distance on double arrays (probe-cell ranking —
    * same metric semantics as [[graft.functions.VectorDistance]]). */
  private def distD(metric: String, a: Array[Double], b: Array[Double]): Double =
    metric match {
      case "L2" => sq(a, b)
      case "IP" =>
        var s = 0.0; var i = 0
        while (i < a.length) { s += a(i) * b(i); i += 1 }
        1.0 - s
      case "COSINE" =>
        var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
        while (i < a.length) {
          dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1
        }
        val denom = math.sqrt(na) * math.sqrt(nb)
        if (denom == 0.0) 1.0 else 1.0 - dot / denom
    }

  /**
   * Deterministic Lloyd k-means on a bounded sample (collected to the
   * driver — the sample, never the dataset). Seeded initialization from
   * evenly-spaced sample points, fixed iteration count: same centroids
   * on every run and cluster size.
   *
   * The sample is drawn in xxhash64 ORDER of the vector contents, not
   * first-rows: `limit(n)` alone takes whatever rows Spark produces
   * first — on a corpus laid out by source/date (the normal 100 TB
   * case) that is one file of one source, and centroids then model a
   * single slice of the distribution (skewed cells, degraded per-probe
   * recall). Hash order is deterministic AND layout-independent: the
   * same sample comes back under any partitioning or sort of the
   * input, and Spark plans the hash-order limit as
   * TakeOrderedAndProject (partition-local heaps, no global sort).
   */
  def kmeansCentroids(df: DataFrame, vecCol: String, nCells: Int,
                      sampleSize: Int = 4096, iters: Int = 8): Array[Array[Double]] = {
    // NOTE: returns ≤ nCells centroids — fewer when the sample holds
    // fewer DISTINCT vectors than nCells (see the bestD==0 stop in
    // [[kmeansOnSample]]); every caller treats the returned array's
    // length as the cell count

    val sample = df.select(col(vecCol).cast("array<double>").as("__v"))
      .orderBy(xxhash64(col("__v")).asc)
      .limit(sampleSize).collect()
      .map(_.getSeq[Double](0).toArray)
    require(sample.length >= nCells, s"need at least $nCells sample vectors")
    kmeansOnSample(sample, nCells, iters)
  }

  /** The driver-side k-means core shared by [[kmeansCentroids]] and
    * [[trainPq]]: farthest-point init + fixed-iteration Lloyd on an
    * already-collected sample. Deterministic; returns ≤ nCells
    * centroids (duplicate-heavy samples stop seeding at bestD == 0). */
  private[pipeline] def kmeansOnSample(sample: Array[Array[Double]],
      nCells: Int, iters: Int): Array[Array[Double]] = {
    // Farthest-point (maxmin) init: start from the first hash-ordered
    // point, then repeatedly take the sample point farthest from its
    // nearest chosen centroid (index tie-break). Deterministic, and —
    // unlike evenly-spaced picks, which depend on the sample's order —
    // guaranteed to seed every well-separated cluster.
    val init = new Array[Array[Double]](nCells)
    init(0) = sample(0).clone()
    val minD = sample.map(v => sq(v, init(0)))
    var c = 1
    var exhausted = false
    while (c < nCells && !exhausted) {
      var best = 0; var bestD = -1.0; var i = 0
      while (i < sample.length) {
        if (minD(i) > bestD) { bestD = minD(i); best = i }; i += 1
      }
      // bestD == 0 ⇒ every remaining sample point coincides with a
      // chosen centroid (duplicate-heavy sample with fewer DISTINCT
      // vectors than nCells): stop seeding and shrink the effective
      // cell count — duplicate centroids would make degenerate cells
      // that waste nProbe slots without pruning anything
      if (bestD <= 0.0) exhausted = true
      else {
        init(c) = sample(best).clone()
        i = 0
        while (i < sample.length) {
          val d = sq(sample(i), init(c)); if (d < minD(i)) minD(i) = d; i += 1
        }
        c += 1
      }
    }
    val effCells = c
    var centroids = init.take(effCells)
    for (_ <- 0 until iters) {
      val sums = Array.fill(effCells)(new Array[Double](centroids(0).length))
      val counts = new Array[Long](effCells)
      sample.foreach { v =>
        var best = 0; var bestD = Double.MaxValue; var c = 0
        while (c < effCells) {
          val d = sq(v, centroids(c)); if (d < bestD) { bestD = d; best = c }; c += 1
        }
        counts(best) += 1
        var j = 0; while (j < v.length) { sums(best)(j) += v(j); j += 1 }
      }
      centroids = Array.tabulate(effCells) { c =>
        if (counts(c) == 0) centroids(c)
        else sums(c).map(_ / counts(c))
      }
    }
    centroids
  }

  /** Nearest-centroid id for a vector column — native one-pass argmin
    * ([[graft.functions.NearestCentroid]]; centroids ride the plan as a
    * literal table). */
  def cellId(vec: Column, centroids: Array[Array[Double]]): Column =
    graft.functions.nearest_centroid(vec, centroids)

  /** IVF index: the source rows plus a `cell_id` column. Persist with
    * `.write.partitionBy("cell_id")` to get storage-level pruning. */
  final case class IvfIndex(assigned: DataFrame, centroids: Array[Array[Double]],
                            keyCol: String, vecCol: String) {

    /** Probe the `nProbe` cells nearest to the query BY THE SEARCH
      * METRIC (an L2 ranking under COSINE on non-normalized vectors
      * probes the wrong cells); exact distance within them; top-k
      * merge (TakeOrderedAndProject again). */
    def search(query: Array[Float], k: Int, nProbe: Int,
               metric: String = "COSINE"): DataFrame = {
      val qd = query.map(_.toDouble)
      val probeCells = centroids.zipWithIndex
        .map { case (c, i) => (distD(metric, qd, c), i) }
        .sortBy(x => (x._1, x._2)).take(nProbe).map(_._2)
      assigned
        .filter(col("cell_id").isin(probeCells.toIndexedSeq: _*)) // → partition pruning on disk layouts
        .select(col(keyCol).cast("string").as("__key"),
          vector_distance(col(vecCol), lit(query).cast(ArrayType(FloatType)), metric)
            .as("distance"))
        .orderBy(col("distance").asc, col("__key").asc)
        .limit(k)
    }
  }

  def buildIvf(df: DataFrame, keyCol: String, vecCol: String,
               nCells: Int = 16): IvfIndex = {
    val centroids = kmeansCentroids(df, vecCol, nCells)
    IvfIndex(df.withColumn("cell_id", cellId(col(vecCol), centroids)),
      centroids, keyCol, vecCol)
  }

  /**
   * Persist an IVF index with storage-level cell layout: rows land in
   * `cell_id=<n>/` partition directories, so a probe of nProbe cells
   * reads ONLY those directories (Catalyst partition pruning — the
   * skipped cells never leave storage). The 100 TB deployment shape:
   * the assignment pass is map-only; queries touch nProbe/nCells of
   * the bytes. Centroids serialize alongside.
   */
  def saveIvf(index: IvfIndex, path: String): Unit = {
    index.assigned.write.mode("overwrite")
      .partitionBy("cell_id").parquet(s"$path/cells")
    graft.util.FsIO.writeObjAtomic(index.assigned.sparkSession,
      s"$path/centroids.bin", index.centroids)
  }

  def loadIvf(spark: org.apache.spark.sql.SparkSession, path: String,
              keyCol: String, vecCol: String): IvfIndex = {
    val centroids = graft.util.FsIO
      .readObj[Array[Array[Double]]](spark, s"$path/centroids.bin")
      .getOrElse(throw new java.io.FileNotFoundException(
        s"$path/centroids.bin"))
    IvfIndex(spark.read.parquet(s"$path/cells"), centroids, keyCol, vecCol)
  }

  // ------------------- maintained IVF (incremental) ------------------- //

  /**
   * Incrementally maintained IVF — the IVF counterpart of the
   * maintained NSW path (reference per-mutation vector updates,
   * index_schema.cc:964). Centroids FREEZE at init, so assignment stays
   * the deterministic map-only [[cellId]] pass; rows live in a
   * cell-partitioned [[graft.text.PostingStore]] (main ⊖ tomb ∪ delta
   * with manifest commits), so probes prune the main AND the
   * not-yet-compacted delta at storage level, and crash recovery /
   * compaction come from the same machinery the text stores use.
   * Distribution drift that invalidates the centroids is a re-init by
   * design — same trade every frozen-coarse-quantizer IVF makes.
   */
  final case class IvfStore(store: graft.text.PostingStore,
                            centroids: Array[Array[Double]],
                            // Mean assignment distance over the INIT
                            // corpus sample — the drift baseline. None
                            // on stores saved before drift tracking.
                            baselineAssignDist: Option[Double] = None) {

    /** Ratio of the latest batch's mean assignment distance to the
      * init-time baseline — the frozen-coarse-quantizer health signal.
      * A sustained ratio ≫ 1 means incoming vectors land far from
      * every centroid (the distribution moved): recall per probe
      * degrades and the right response is a re-init (new k-means, new
      * store) — the same trade every frozen-quantizer IVF makes.
      * Updated by [[applyBatch]]; None before the first upsert batch
      * (or when no baseline was recorded). */
    @volatile var lastDriftRatio: Option[Double] = None

    /** The current consistent index over live rows. */
    def view: IvfIndex = IvfIndex(store.view, centroids, "__key", "vec")

    /** Apply one change batch: `changes` = (op: upsert|delete, __key,
      * vec). Upserted vectors are assigned to their frozen cell
      * map-side; superseded/deleted rows die via the store tombstone.
      * Compacts when segments exceed `compactRowThreshold`; refreshes
      * [[lastDriftRatio]] from the batch's assignment distances. */
    def applyBatch(changes: DataFrame,
                   compactRowThreshold: Long = 100000): Unit = {
      val ups = changes.filter(col("op") === "upsert")
        .select(col("__key").cast("string").as("__key"),
          col("vec").cast(ArrayType(FloatType)).as("vec"))
        .withColumn("cell_id", cellId(col("vec"), centroids))
      val keys = changes.select(col("__key").cast("string").as("__key"))
      // measure BEFORE applyBatch consumes the rows; BOUNDED sample
      // (same 4096 cap as the init baseline), drawn in key-hash order
      // so a source-ordered batch cannot bias the drift statistic
      // toward its first file — one small TakeOrdered job per batch
      val batchDist = baselineAssignDist.flatMap(_ =>
        meanAssignDist(ups.orderBy(xxhash64(col("__key")).asc).limit(4096),
          centroids))
      store.applyBatch(ups, keys)
      if (store.deltaSize + store.tombSize >= compactRowThreshold)
        store.compact()
      for (b <- baselineAssignDist; m <- batchDist)
        lastDriftRatio = Some(m / math.max(b, 1e-12))
    }
  }

  /** Mean L2 distance from each vector to its ASSIGNED centroid —
    * distributed avg over a broadcast join with the (tiny) centroid
    * table. None when `assigned` is empty. */
  private def meanAssignDist(assigned: DataFrame,
                             centroids: Array[Array[Double]]): Option[Double] = {
    val spark = assigned.sparkSession
    import spark.implicits._
    val cdf = centroids.zipWithIndex
      .map { case (c, i) => (i, c.map(_.toFloat)) }.toSeq
      .toDF("cell_id", "__centroid")
    val row = assigned.join(broadcast(cdf), "cell_id")
      .agg(avg(vector_distance(col("vec"), col("__centroid"), "L2")))
      .collect().head
    if (row.isNullAt(0)) None else Some(row.getDouble(0))
  }

  /** One IVF generation under `$path/$gen`: k-means centroids (bounded
    * sample), map-only assignment, cell-partitioned store, centroids +
    * drift baseline serialized alongside. `rows` must carry exactly
    * (__key string, vec array<float>). */
  private def initGeneration(rows: DataFrame, path: String, gen: String,
                             nCells: Int): IvfStore = {
    val spark = rows.sparkSession
    val centroids = kmeansCentroids(rows, "vec", nCells)
    val assigned = rows.withColumn("cell_id", cellId(col("vec"), centroids))
    val store = graft.text.PostingStore.init(spark, assigned,
      s"$path/$gen/store", layout = graft.text.PostingStore.CellLayout)
    graft.util.FsIO.writeObjAtomic(spark,
      s"$path/$gen/centroids.bin", centroids)
    // drift baseline: bounded KEY-HASH-ORDERED sample of the
    // generation corpus's assignment distances — layout-independent
    // like the k-means sample (absent = no tracking)
    val baseline = meanAssignDist(
      assigned.orderBy(xxhash64(col("__key")).asc).limit(4096), centroids)
    baseline.foreach { b =>
      graft.util.FsIO.writeObjAtomic(spark,
        s"$path/$gen/drift.bin", java.lang.Double.valueOf(b))
    }
    // CURRENT names the live generation (atomic swap = commit)
    graft.util.FsIO.writeTextAtomic(spark, s"$path/CURRENT", gen)
    IvfStore(store, centroids, baseline)
  }

  private def currentGen(spark: org.apache.spark.sql.SparkSession,
                         path: String): String =
    graft.util.FsIO.readText(spark, s"$path/CURRENT").map(_.trim)
      .getOrElse(throw new java.io.FileNotFoundException(
        s"no IVF store at $path (no CURRENT)"))

  /** Create a maintained IVF store at `path` from the initial corpus. */
  def initIvfStore(df: DataFrame, keyCol: String, vecCol: String,
                   nCells: Int, path: String): IvfStore =
    initGeneration(
      df.select(col(keyCol).cast("string").as("__key"),
        col(vecCol).cast(ArrayType(FloatType)).as("vec")),
      path, "v0", nCells)

  /**
   * Drift response (the frozen-coarse-quantizer trade): re-initialize
   * centroids from the CURRENT live rows and rebuild the cell store as
   * a new generation, committed by atomic CURRENT swap — the offline
   * full-rebuild stance the reference takes when a frozen quantizer no
   * longer fits the distribution. Call when [[IvfStore.lastDriftRatio]]
   * stays ≫ 1 ([[maybeReinit]] wraps the threshold check). The old
   * generation's files are deleted AFTER the swap (offline op: no
   * queries in flight by contract).
   */
  def reinitIvfStore(store: IvfStore, path: String, nCells: Int): IvfStore = {
    val spark = store.store.view.sparkSession
    val old = currentGen(spark, path)
    val next = "v" + (old.drop(1).toInt + 1)
    // the new generation reads the OLD generation's files and writes
    // its own dir — no overlap, so the lazy view needs no staging
    val rebuilt = initGeneration(store.store.view.select("__key", "vec"),
      path, next, nCells)
    graft.util.FsIO.deleteRecursive(spark, s"$path/$old")
    rebuilt
  }

  /** Re-init iff the last observed drift ratio exceeds `threshold`
    * (None = healthy, nothing done). */
  def maybeReinit(store: IvfStore, path: String, nCells: Int,
                  threshold: Double = 3.0): Option[IvfStore] =
    store.lastDriftRatio.filter(_ > threshold)
      .map(_ => reinitIvfStore(store, path, nCells))

  /** Re-open a maintained IVF store (restart path): CURRENT names the
    * live generation; its manifest names the committed store state,
    * orphans GC, centroids deserialize.
    *
    * SINGLE-WRITER RESTART CONTRACT (same as
    * [[graft.text.PostingStore.open]]): open is a restart entry point —
    * the caller guarantees no live maintainer is concurrently writing
    * under `path`. Under that contract every generation dir CURRENT
    * does not name is a crash leftover: strictly-older dirs are a
    * reinit that swapped but died before its GC, strictly-newer dirs
    * are a reinit that died BEFORE its atomic swap (never committed).
    * Both are reclaimed here; a process that violates the contract by
    * writing a new generation while another opens the store would lose
    * that in-progress generation — do not do that. */
  def openIvfStore(spark: org.apache.spark.sql.SparkSession,
                   path: String): IvfStore = {
    val gen = currentGen(spark, path)
    graft.util.FsIO.listSubdirs(spark, path)
      .filter(n => n.startsWith("v") && n != gen)
      .foreach(n => graft.util.FsIO.deleteRecursive(spark, s"$path/$n"))
    val centroids = graft.util.FsIO
      .readObj[Array[Array[Double]]](spark, s"$path/$gen/centroids.bin")
      .getOrElse(throw new java.io.FileNotFoundException(
        s"$path/$gen/centroids.bin"))
    val baseline = graft.util.FsIO
      .readObj[java.lang.Double](spark, s"$path/$gen/drift.bin")
      .map(_.doubleValue())
    IvfStore(graft.text.PostingStore.open(spark, s"$path/$gen/store"),
      centroids, baseline)
  }
}
