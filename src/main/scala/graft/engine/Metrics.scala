package graft.engine

import java.util.concurrent.atomic.AtomicLong

/**
 * Engine observability — the query-path slice of the reference's
 * metrics surface (src/metrics.h:29-80, docs/topics/
 * search-observables.md): request counters by query class, the hybrid
 * planner's prefilter-vs-inline split, and a log₂ latency histogram.
 *
 * Driver-side process metrics (one engine = one driver); executor-side
 * work is already observable through the Spark UI/metrics system, so
 * this intentionally does NOT duplicate task-level instrumentation.
 */
object Metrics {

  val querySuccess = new AtomicLong
  val queryFailed = new AtomicLong
  /** Query class counters (non-exclusive: a hybrid query bumps vector
    * + hybrid; a text-filter query bumps text). */
  val queryVector = new AtomicLong
  val queryNonVector = new AtomicLong
  val queryText = new AtomicLong
  val queryHybrid = new AtomicLong
  /** Hybrid planner decisions (planner.cc:21-46): exact pre-filter vs
    * graph beam search with inline filter. */
  val knnPrefilter = new AtomicLong
  val knnInline = new AtomicLong
  /** Non-vector replies truncated by the materialization cap
    * (reference nonvector_results_fetched_limited_count,
    * search.cc:668,686). */
  val nonVectorFetchLimited = new AtomicLong
  /** Reply records dropped by the per-record content limits
    * (reference query_result_record_dropped_cnt,
    * query/response_generator.cc:408-434). */
  val queryResultRecordDropped = new AtomicLong
  /** Posting-route decisions, one per top-level conjunct of a
    * non-match-all filter: routed through a posting semi-join; a route
    * existed but the cardinality guard rejected it (estimate missing or
    * above `postingRouteMaxSelectivity × N`); no posting route at all
    * (columnar scan). */
  val postingRouted = new AtomicLong
  val postingGuardRejected = new AtomicLong
  val postingScan = new AtomicLong
  /** Which base a non-vector content miss materialized: a
    * driver-resident base of at most `baseCacheMaxRows` rows (one
    * bounded collect), or the persisted cap+1-row base. */
  val replyLocalBase = new AtomicLong
  val replyPersistedBase = new AtomicLong

  /** Hit, miss and LRU-eviction counters of one kind of engine reply
    * cache ([[EpochCache]]), summed over every engine in the process;
    * reported as `<name>_{hit,miss,eviction}_cnt`. */
  final class CacheCounters(val name: String) {
    val hit = new AtomicLong
    val miss = new AtomicLong
    val eviction = new AtomicLong
    def snapshot(): Seq[(String, Long)] = Seq(
      s"${name}_hit_cnt" -> hit.get(),
      s"${name}_miss_cnt" -> miss.get(),
      s"${name}_eviction_cnt" -> eviction.get())
    def reset(): Unit = Seq(hit, miss, eviction).foreach(_.set(0))
  }
  val replyCache = new CacheCounters("reply_cache")
  val baseCache = new CacheCounters("base_cache")
  val aggReplyCache = new CacheCounters("agg_reply_cache")
  private val caches = Seq(replyCache, baseCache, aggReplyCache)

  /** log₂ latency histogram: bucket i counts samples in
    * [2^i, 2^(i+1)) microseconds; last bucket is the overflow — the
    * fixed-memory analogue of the reference's vmsdk::LatencySampler
    * (metrics.h:74-78). */
  final class Histogram(val name: String) {
    private val buckets = Array.fill(Metrics.NBuckets)(new AtomicLong)
    def observeNanos(nanos: Long): Unit = {
      val us = math.max(nanos / 1000, 1)
      val b = math.min(63 - java.lang.Long.numberOfLeadingZeros(us),
        Metrics.NBuckets - 1)
      buckets(b.toInt).incrementAndGet()
      ()
    }
    def timed[T](body: => T): T = {
      val t0 = System.nanoTime()
      try body finally observeNanos(System.nanoTime() - t0)
    }
    def snapshot(): Seq[(String, Long)] = buckets.zipWithIndex.collect {
      case (c, i) if c.get() > 0 => s"${name}_us_le_${1L << (i + 1)}" -> c.get()
    }.toSeq
    def reset(): Unit = buckets.foreach(_.set(0))
    def total: Long = buckets.map(_.get()).sum
  }
  private val NBuckets = 24 // 2^23 µs ≈ 8.4 s
  private val latency = new Histogram("query_latency")

  /** Per-query-class reply-latency histograms (reference metrics.h
    * samplers: hnsw_vector_index_search_latency /
    * flat_vector_index_search_latency; the nonvector and aggregate
    * histograms are this engine's additions, same encoding). In this
    * engine a "vector index search" is the reply compute of the
    * corresponding planner branch: the graph beam + join-back for the
    * inline branch (hnsw analogue), the exact distance top-k for the
    * prefilter/no-graph branch (flat analogue). */
  val hnswSearchLatency = new Histogram("hnsw_vector_index_search_latency")
  val flatSearchLatency = new Histogram("flat_vector_index_search_latency")
  val nonVectorLatency = new Histogram("query_nonvector_latency")
  val aggregateLatency = new Histogram("aggregate_latency")

  /** Which planner branch the last finishSearch on THIS thread took —
    * lets the reply-level timer attribute its sample (thread-confined,
    * so concurrent requests cannot cross-attribute). */
  val lastKnnBranchInline = new ThreadLocal[Boolean] {
    override def initialValue(): Boolean = false
  }

  /** Legacy-behavior usage counters (reference
    * VALKEY_SEARCH_COMPATIBILITY_FIX, valkey_search_options.h:180-197:
    * each gated site registers an INFO integer named
    * `compatibility-<label>` and bumps it when the legacy branch runs).
    * This engine compiles expressions to vectorized Catalyst columns,
    * so the counter increments once per legacy-gated site COMPILED into
    * a command (not per row evaluated) — the command-level analogue of
    * the reference's per-evaluation count. */
  private val compatLegacy =
    scala.collection.concurrent.TrieMap.empty[String, AtomicLong]
  def legacyUsed(label: String): Unit = {
    compatLegacy.getOrElseUpdate(label, new AtomicLong).incrementAndGet()
    ()
  }
  def legacyUses(label: String): Long =
    compatLegacy.get(label).map(_.get()).getOrElse(0L)

  def observeLatencyNanos(nanos: Long): Unit = latency.observeNanos(nanos)

  /** Time an action, recording latency + success/failure counters. */
  def timed[T](body: => T): T = {
    val t0 = System.nanoTime()
    try {
      val r = body
      querySuccess.incrementAndGet()
      r
    } catch {
      case e: Throwable => queryFailed.incrementAndGet(); throw e
    } finally observeLatencyNanos(System.nanoTime() - t0)
  }

  /** All counters as (name, value) — FT.INFO-style dump. */
  def snapshot(): Seq[(String, Long)] = {
    val counters = Seq(
      "query_successful_requests_cnt" -> querySuccess.get(),
      "query_failed_requests_cnt" -> queryFailed.get(),
      "query_vector_requests_cnt" -> queryVector.get(),
      "query_nonvector_requests_cnt" -> queryNonVector.get(),
      "query_text_requests_cnt" -> queryText.get(),
      "query_hybrid_requests_cnt" -> queryHybrid.get(),
      "query_prefiltering_requests_cnt" -> knnPrefilter.get(),
      "query_inline_filtering_requests_cnt" -> knnInline.get(),
      "query_nonvector_results_fetched_limited_cnt" -> nonVectorFetchLimited.get(),
      "query_result_record_dropped_cnt" -> queryResultRecordDropped.get(),
      "query_posting_routed_cnt" -> postingRouted.get(),
      "query_posting_guard_rejected_cnt" -> postingGuardRejected.get(),
      "query_posting_scan_cnt" -> postingScan.get(),
      "query_reply_local_base_cnt" -> replyLocalBase.get(),
      "query_reply_persisted_base_cnt" -> replyPersistedBase.get())
    counters ++ caches.flatMap(_.snapshot()) ++
      compatLegacy.toSeq.sortBy(_._1).map { case (l, c) =>
        s"compatibility-$l" -> c.get() } ++
      latency.snapshot() ++ hnswSearchLatency.snapshot() ++
      flatSearchLatency.snapshot() ++ nonVectorLatency.snapshot() ++
      aggregateLatency.snapshot()
  }

  def reset(): Unit = {
    Seq(querySuccess, queryFailed, queryVector, queryNonVector, queryText,
      queryHybrid, knnPrefilter, knnInline, nonVectorFetchLimited,
      queryResultRecordDropped, postingRouted, postingGuardRejected, postingScan,
      replyLocalBase, replyPersistedBase).foreach(_.set(0))
    caches.foreach(_.reset())
    compatLegacy.clear()
    Seq(latency, hnswSearchLatency, flatSearchLatency, nonVectorLatency,
      aggregateLatency).foreach(_.reset())
  }
}
