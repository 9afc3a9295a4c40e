package graft.util

import org.apache.spark.sql.SparkSession

/**
 * Session factory shared by the driver entrypoints (Verify / Bench /
 * tools): one place that honors the master override, so the SAME
 * correctness dump and bench harness can run multi-JVM.
 *
 * `SPARK_GRAFT_MASTER=local-cluster[4,8,4096]` launches Spark's
 * standalone-in-miniature cluster — real Worker-spawned executor
 * PROCESSES, so every task closure, registered-plan reference, Bloom
 * broadcast, and lambda-free UDF crosses a process boundary exactly as
 * it would on a 1000-executor cluster (the reference's remote-execution
 * cell, coordinator/server.cc; SURVEY §3.3 C4). Default stays
 * `local[$SPARK_GRAFT_CPUS]`.
 *
 * local-cluster executors boot from $SPARK_HOME/jars, which has Spark
 * but not this library — the compiled-classes directory this very
 * class loaded from is appended to the executor classpath. Executor
 * memory must fit inside the worker figure in the master string.
 */
object GraftSession {

  /** The directory/jar graft classes load from — what executors need. */
  def codeLocation: String =
    getClass.getProtectionDomain.getCodeSource.getLocation.getPath

  def builder(defaultCpus: String = "32"): SparkSession.Builder = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", defaultCpus)
    val master = sys.env.getOrElse("SPARK_GRAFT_MASTER", s"local[$cpus]")
    val b = SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // Let AQE re-optimize (incl. partition coalescing) the plans that
      // materialize persisted relations. Default false only to keep
      // cached-output partitioning bit-stable for consumers that rely
      // on it — nothing here does (every cache consumer re-shuffles or
      // aggregates) — while the dedup/near-dup operators persist many
      // small post-shuffle relations whose fixed shuffle.partitions
      // layout otherwise pays cores× near-empty tasks per downstream
      // stage at ANY scale where the cached relation is byte-small.
      // Cross-scale tolerance (r16 ADVICE): a summation-order-sensitive
      // double reducer (round(avg,4) etc.) computed OVER a cached
      // relation could see a different partial-agg grouping at another
      // scale/core count under this flag + the size-adaptive cache
      // layouts. No declared aggregate consumes one: the FT.AGGREGATE
      // pipeline keeps the scan's layout on purpose (see the
      // SearchEngine.aggregateStages NOT-widened comment) and the a_*
      // gates read non-resident indexes; the oracle re-checks this at
      // both driver SFs every round. A constant, not a knob: six
      // alternated pairs put both gates suspected of regressing under
      // it inside pair noise (STATUS.md "Round 17 — delivered",
      // "CACHED_AQE adjudicated").
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
    if (master.startsWith("local-cluster")) {
      // worker memory is the third bracket figure (MB); leave the
      // executor a margin under it for the worker's own accounting
      val workerMb = master.dropWhile(_ != '[').drop(1).takeWhile(_ != ']')
        .split(",")(2).trim.toInt
      b.config("spark.executor.extraClassPath", codeLocation)
        .config("spark.executor.memory", s"${math.max(512, workerMb - 512)}m")
        // multi-process executors re-read parquet footers; keep the
        // driver-side listing parallelism at the local default
        .config("spark.sql.files.ignoreCorruptFiles", "false")
    }
    b
  }
}
