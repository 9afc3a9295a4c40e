package perfbench

import java.nio.charset.StandardCharsets.ISO_8859_1
import java.nio.file.{Files, Paths}
import java.util.concurrent.{ConcurrentLinkedQueue, LinkedBlockingQueue}
import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.engine.{Commands, Metrics, SearchEngine}
import graft.pipeline.{Curation, Dedup, TextMetrics}
import graft.resp.{RespCommands, RespServer}
import graft.streaming.{DocState, IndexMaintainer, Ingest}

/**
 * Load generator and in-process server for one benchmark run. It drives
 * the program only through its public entry points (RESP socket,
 * engine.Commands, IndexMaintainer.onBatch, the pipeline operators),
 * times every call from outside, and writes one JSON result file that
 * perfbench/run.py checks and reduces to metrics.
 *
 * Usage: Main <workload> <input dir> <result file> <seconds> <trace 0|1> <cpus> <work dir>
 */
object Main {
  val SetupReps = 3
  val WarmupS = 6.0
  /** The traced run reports no setup_s and reads serially for this share
    * of the window only: with the maintenance slice after the reads it
    * must still end well inside the 180-s limit on a loaded machine. */
  val TracedSetupReps = 1
  val TracedShare = 0.5

  final case class Req(id: Int, kind: String, template: String, argv: IndexedSeq[String],
                       binaryAt: Set[Int], dueS: Option[Double], raw: Option[String])

  final case class Done(req: Req, phase: String, dueMs: Double, sendMs: Double, endMs: Double,
                        bytes: Long, reply: Any, error: String)

  def main(args: Array[String]): Unit = {
    val Array(workload, inDir, outPath, secondsS, traceS, cpusS, workDir) = args
    val seconds = secondsS.toDouble
    val traced = traceS == "1"
    val cpus = cpusS.toInt
    val t0 = Trace.nowMs
    val spark = graft.util.GraftSession.builder(cpus.toString)
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.local.dir", s"$workDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$workDir/warehouse")
      .appName("perfbench")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val out = scala.collection.mutable.LinkedHashMap[String, Any](
      "workload" -> workload, "traced" -> traced, "cpus" -> cpus,
      "spark_session_start_s" -> (Trace.nowMs - t0) / 1000)
    val trace = new Trace
    val probe = if (traced) Some(new SparkProbe(spark).register()) else None
    try {
      workload match {
        case "serve_read" =>
          new ServeRun(spark, inDir, workDir, seconds, cpus, trace, probe, out).run()
        case "curate_batch" =>
          new CurateRun(spark, inDir, seconds, trace, probe, out).run()
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      }
      if (!out.contains("storage_mb")) out("storage_mb") = Sampler.storageMb(spark)
      if (!out.contains("heap_live_mb")) out("heap_live_mb") = Sampler.heapLiveMb()
      out("spans") = trace.all.map(s => Seq(s.id, s.name, s.start, s.end, s.parent, s.req))
    } finally {
      Files.write(Paths.get(outPath), Json.write(out).getBytes("UTF-8"))
      probe.foreach(_.unregister())
      spark.stop()
    }
  }

  def loadRequests(path: String): IndexedSeq[Req] = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    scala.io.Source.fromFile(path, "UTF-8").getLines().map { l =>
      val n = mapper.readTree(l)
      val blob = Option(n.get("blob")).filter(!_.isNull).map(b =>
        new String(java.util.Base64.getDecoder.decode(b.asText), ISO_8859_1))
      val argv0 = n.get("argv").elements.asScala.map(_.asText).toIndexedSeq
      val argv = argv0.map(a => if (a == "$BLOB") blob.get else a)
      Req(n.get("id").asInt, n.get("kind").asText, n.get("template").asText, argv,
        argv0.indices.filter(i => argv0(i) == "$BLOB").toSet,
        Option(n.get("due_s")).filter(!_.isNull).map(_.asDouble), blob)
    }.toIndexedSeq
  }

  /** Compact, checkable form of a reply: search → total + keys,
    * aggregate → rows as flat [k, v, ...] lists. */
  def summarize(kind: String, r: Any): Any = r match {
    case RespClient.Err(m) => Map("error" -> m)
    case v: Vector[_] if kind == "aggregate" =>
      Map("n" -> v.headOption.getOrElse(null), "rows" -> v.drop(1))
    case v: Vector[_] =>
      val total = v.headOption.getOrElse(null)
      val rest = v.drop(1)
      val keys = if (rest.exists(_.isInstanceOf[Vector[_]])) rest.grouped(2).map(_.head).toSeq
                 else rest
      Map("total" -> total, "keys" -> keys, "shape_ok" ->
        (!rest.exists(_.isInstanceOf[Vector[_]]) ||
          rest.grouped(2).forall(g => g.size == 2 && g(0).isInstanceOf[String] &&
            g(1).isInstanceOf[Vector[_]])))
    case other => Map("unexpected" -> String.valueOf(other))
  }
}

/** Periodic stall signals: GC time, Spark storage memory, heap in use. */
final class Sampler(spark: SparkSession, periodMs: Long = 250) {
  val series = new ConcurrentLinkedQueue[Seq[Double]]()
  private val stop = new AtomicBoolean(false)
  private val t = new Thread(() => {
    while (!stop.get) {
      series.add(Seq(Trace.nowMs, Sampler.gcMs().toDouble, Sampler.storageMb(spark),
        Sampler.heapUsedMb()))
      try Thread.sleep(periodMs) catch { case _: InterruptedException => () }
    }
  }, "perfbench-sampler")
  t.setDaemon(true)
  def start(): this.type = { t.start(); this }
  def finish(): Seq[Seq[Double]] = { stop.set(true); t.interrupt(); t.join(); series.asScala.toSeq }
}

object Sampler {
  def gcMs(): Long =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum
  def storageMb(spark: SparkSession): Double =
    spark.sparkContext.getRDDStorageInfo.map(_.memSize).sum / 1048576.0
  def heapUsedMb(): Double =
    java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  /** Heap in use after a full GC; the least of three tries, since
    * Spark's own threads allocate between a collection and the read. */
  def heapLiveMb(): Double = (1 to 3).map { _ =>
    System.gc(); Thread.sleep(50); heapUsedMb()
  }.min
}

/** serve_read, and in its traced run the index-maintenance slice. */
final class ServeRun(spark: SparkSession, inDir: String, workDir: String,
                     seconds: Double, cpus: Int, trace: Trace, probe: Option[SparkProbe],
                     out: scala.collection.mutable.Map[String, Any]) {
  import Main._

  private val params = new com.fasterxml.jackson.databind.ObjectMapper()
    .readTree(new java.io.File(s"$inDir/params.json"))
  private val compactRows = params.get("compact_rows").asInt
  private val openS = params.get("open_s").asDouble
  private val closedS = params.get("closed_s").asDouble

  private val reqs = loadRequests(s"$inDir/requests.jsonl")
  private val warm = loadRequests(s"$inDir/warm.jsonl")
  private val warmup = loadRequests(s"$inDir/warmup.jsonl")

  private val Creates = Seq(
    Seq("FT.CREATE", "documents", "ON", "HASH", "PREFIX", "1", "doc:", "SCHEMA",
      "n_chars", "NUMERIC", "doc_id", "NUMERIC", "lang", "TAG", "source", "TAG",
      "text", "TEXT", "WITHSUFFIXTRIE",
      "vec", "VECTOR", "HNSW", "6", "DIM", "16", "TYPE", "FLOAT32", "DISTANCE_METRIC", "L2"),
    Seq("FT.CREATE", "embeddings", "ON", "HASH", "PREFIX", "1", "emb:", "SCHEMA",
      "label", "NUMERIC",
      "embedding", "AS", "vec", "VECTOR", "FLAT", "6", "DIM", "64", "TYPE", "FLOAT32",
      "DISTANCE_METRIC", "L2"),
    Seq("FT.CREATE", "lineitem", "ON", "HASH", "PREFIX", "1", "li:", "SCHEMA",
      "l_quantity", "NUMERIC", "l_extendedprice", "NUMERIC", "l_discount", "NUMERIC",
      "l_tax", "NUMERIC", "l_orderkey", "NUMERIC", "l_returnflag", "TAG",
      "l_linestatus", "TAG"),
    Seq("FT.CREATE", "events", "ON", "HASH", "PREFIX", "1", "ev:", "SCHEMA",
      "ts_sec", "NUMERIC", "value", "NUMERIC", "user_id", "NUMERIC", "event_type", "TAG"))

  /** One server instance: engine, command front-end, socket. A
    * `maintained` instance serves `documents` from a change-applied
    * document state and keeps its derived indexes with a maintainer. */
  private final class Ctx(rep: Int, maintained: Boolean = false) {
    val engine = new SearchEngine
    val statePath = s"$workDir/state$rep"
    val maintainDir = s"$workDir/maintain$rep"
    // the feed's batch 0 is part of the initial state, not applied
    val docState: Option[DocState] =
      if (maintained) Some(DocState.init(spark.read.parquet(s"$inDir/documents.parquet")
        .unionByName(spark.read.parquet(s"$inDir/feed/b0000.parquet")
          .filter(col("op") === "upsert").drop("op", "__seq")),
        statePath, nBuckets = 8))
      else None
    private def docs(): DataFrame =
      if (maintained) Ingest.readState(spark, statePath)
      else spark.read.parquet(s"$inDir/documents.parquet")
    val cmds = new Commands(engine, prefixes => {
      val t = prefixes.headOption.getOrElse("") match {
        case "doc:" => docs()
        case "emb:" => spark.read.parquet(s"$inDir/embeddings.parquet")
        case "li:" => spark.read.parquet(s"$inDir/lineitem.parquet")
        case "ev:" => spark.read.parquet(s"$inDir/events.parquet")
        case p => throw new IllegalArgumentException(s"no table for prefix $p")
      }
      (t, col("__key"))
    })
    val server = new RespServer(new RespCommands(engine, cmds))
    val port = server.start()
    var maintainer: Option[IndexMaintainer] = None
    val createMs = scala.collection.mutable.ArrayBuffer.empty[Double]

    def build(): Unit = {
      val c = new RespClient(port)
      try Creates.foreach { argv =>
        val t0 = Trace.nowMs
        val (r, _) = c.call(argv)
        createMs += Trace.nowMs - t0
        require(r == "OK", s"${argv(1)}: FT.CREATE replied $r")
      } finally c.close()
      if (maintained)
        maintainer = Some(IndexMaintainer.forIndex(engine, "documents", maintainDir,
          docsSource = Some(() => docs()), compactRowThreshold = compactRows,
          numPartitions = cpus))
    }

    def close(): Unit = {
      server.stop()
      engine.listIndexes.foreach(engine.dropIndex)
      spark.catalog.clearCache()
    }
  }

  private def send(c: RespClient, q: Req): (Any, Long, String) =
    try {
      val (r, n) = c.call(q.argv, q.binaryAt)
      (r, n, null)
    } catch {
      case e: RespClient.Malformed => (null, 0L, s"malformed: ${e.getMessage}")
      case e: java.io.IOException => (null, 0L, s"io: ${e.getMessage}")
    }

  private def record(q: Req, phase: String, due: Double, sent: Double, c: RespClient,
                     sink: ConcurrentLinkedQueue[Done]): Done = {
    val (r, n, err) = send(c, q)
    val d = Done(q, phase, due, sent, Trace.nowMs, n, summarize(q.kind, r), err)
    sink.add(d)
    d
  }

  def run(): Unit = {
    // inputs are stem-invariant words by construction; prove it against
    // the program's own analyzer before trusting the oracle's plain
    // word matching
    val vocab = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(new java.io.File(s"$inDir/vocab.json")).elements.asScala.map(_.asText).toSeq
    val bad = vocab.filter(w => graft.text.Analyzer.termSet(w) != Seq(w))
    require(bad.isEmpty, s"vocabulary words the analyzer rewrites: ${bad.take(5)}")

    val setupS = scala.collection.mutable.ArrayBuffer.empty[Double]
    var ctx: Ctx = null
    (1 to (if (probe.isDefined) TracedSetupReps else SetupReps)).foreach { rep =>
      if (ctx != null) ctx.close()
      val t0 = Trace.nowMs
      ctx = new Ctx(rep)
      ctx.build()
      val c = new RespClient(ctx.port)
      try warm.foreach { q =>
        val (r, _, err) = send(c, q)
        require(err == null && !r.isInstanceOf[RespClient.Err],
          s"warm-up ${q.template} failed: ${Option(err).getOrElse(r)}")
      } finally c.close()
      setupS += (Trace.nowMs - t0) / 1000
      System.err.println(f"[perfbench] setup $rep ${setupS.last}%.2f s")
    }
    out("setup_s_reps") = setupS.toSeq
    out("create_index_ms") = ctx.createMs.toSeq
    if (probe.isDefined) layerSetup(ctx)

    // untimed: the earlier set-ups' dropped engines are collected (and
    // Spark's cleaner releases their blocks) and JIT and codegen settle
    // before the window opens
    System.gc()
    closedLoop(ctx.port, new ConcurrentLinkedQueue[Done](), cpus, WarmupS, "warmup", warmup)
    val m0 = Metrics.snapshot().toMap
    val done = new ConcurrentLinkedQueue[Done]()
    val late = new ConcurrentLinkedQueue[Double]()
    val sampler = new Sampler(spark).start()
    val gc0 = Sampler.gcMs()
    val startMs = Trace.nowMs + 200
    out("start_ms") = startMs
    if (probe.isEmpty) {
      openLoop(ctx.port, startMs, done, late)
      closedLoop(ctx.port, done, cpus, closedS, "closed")
    } else tracedLoop(ctx, startMs, done)
    out("gc_ms") = Sampler.gcMs() - gc0
    out("samples") = sampler.finish()
    out("late_ms") = late.asScala.toSeq
    val m1 = Metrics.snapshot().toMap
    out("engine_metrics_delta") = m1.map { case (k, v) => k -> (v - m0.getOrElse(k, 0L)) }
    if (probe.isDefined) layerServe(done.asScala.toSeq)
    out("storage_mb") = Sampler.storageMb(spark)
    out("heap_live_mb") = Sampler.heapLiveMb()
    ctx.close()
    // the maintenance slice comes after every serving figure is taken,
    // so it moves none of them
    if (probe.isDefined) maintainSlice(done)
    out("requests") = done.asScala.toSeq.sortBy(_.sendMs).map { d =>
      Map("id" -> d.req.id, "kind" -> d.req.kind, "template" -> d.req.template,
        "phase" -> d.phase, "due_ms" -> d.dueMs, "send_ms" -> d.sendMs, "end_ms" -> d.endMs,
        "bytes" -> d.bytes, "reply" -> d.reply, "error" -> d.error)
    }
  }

  /** Traced run only: a maintained server applies the change feed (state
    * first, then onBatch, then a visibility probe, as SocketMaintainSpec
    * wires it) while one connection keeps reading serially, from the
    * feed's start until its last batch is visible. */
  private def maintainSlice(done: ConcurrentLinkedQueue[Done]): Unit = {
    val t0 = Trace.nowMs
    val ctx = new Ctx(SetupReps + 1, maintained = true)
    ctx.build()
    val w = new RespClient(ctx.port)
    try warm.foreach(q => send(w, q)) finally w.close()
    out("maintain_setup_ms") = Trace.nowMs - t0
    System.err.println(f"[perfbench] maintained set-up ${Trace.nowMs - t0}%.0f ms")
    val startMs = Trace.nowMs
    val feed = new FeedRun(ctx, startMs)
    val feedThread = new Thread(() => feed.run(), "perfbench-feed")
    feedThread.start()
    val c = new RespClient(ctx.port)
    var i = 0
    try {
      while (feedThread.isAlive) {
        val now = Trace.nowMs
        record(reqs(i % reqs.size), "slice", now, now, c, done)
        i += 1
      }
    } finally {
      c.close()
      feedThread.join()
    }
    out("feed") = feed.results.asScala.toSeq
    val p = probe.get
    p.quiesce(100)
    out("feed_jobs") = p.jobs.values.asScala.count(_.tag == "feed")
    ctx.close()
  }

  /** Poisson arrivals at their due times onto `cpus` connections; a
    * request waits in the queue while every connection is busy, and its
    * latency counts from when it was due. */
  private def openLoop(port: Int, startMs: Double, done: ConcurrentLinkedQueue[Done],
                       late: ConcurrentLinkedQueue[Double]): Unit = {
    val open = reqs.filter(_.dueS.isDefined)
    val queue = new LinkedBlockingQueue[Option[(Req, Double)]]()
    val workers = (0 until cpus).map { _ =>
      val t = new Thread(() => {
        val c = new RespClient(port)
        try {
          var more = true
          while (more) queue.take() match {
            case Some((q, due)) => record(q, "open", due, Trace.nowMs, c, done)
            case None => more = false
          }
        } finally c.close()
      }, "perfbench-open")
      t.start(); t
    }
    open.foreach { q =>
      val due = startMs + q.dueS.get * 1000
      val wait = due - Trace.nowMs
      if (wait > 0) Thread.sleep(wait.toLong, ((wait % 1) * 1e6).toInt)
      late.add(Trace.nowMs - due)
      queue.put(Some((q, due)))
    }
    workers.foreach(_ => queue.put(None))
    workers.foreach(_.join())
    // the open phase lasts its scheduled length even if the queue drained early
    val end = startMs + openS * 1000
    if (Trace.nowMs < end) Thread.sleep((end - Trace.nowMs).toLong)
  }

  /** `n` connections each sending its next request as soon as the last
    * reply arrives, for `lengthS` seconds. */
  private def closedLoop(port: Int, done: ConcurrentLinkedQueue[Done], n: Int,
                         lengthS: Double, phase: String,
                         pool: IndexedSeq[Req] = reqs.filter(_.dueS.isEmpty)): Unit = {
    val next = new AtomicInteger(0)
    val end = Trace.nowMs + lengthS * 1000
    out(s"${phase}_start_ms") = Trace.nowMs
    val workers = (0 until n).map { _ =>
      val t = new Thread(() => {
        val c = new RespClient(port)
        try {
          while (Trace.nowMs < end) {
            val q = pool(next.getAndIncrement() % pool.size)
            val now = Trace.nowMs
            record(q, phase, now, now, c, done)
          }
        } finally c.close()
      }, "perfbench-closed")
      t.start(); t
    }
    workers.foreach(_.join())
    out(s"${phase}_end_ms") = Trace.nowMs
  }

  /** Traced run: the same stream for TracedShare of the window, serially
    * on one connection, each request preceded by a PING and followed by a listener quiesce, so
    * every Spark job and planning phase in its window is its own. The
    * parse and compile layers are timed by calling them directly with
    * the request's own arguments. */
  private def tracedLoop(ctx: Ctx, startMs: Double, done: ConcurrentLinkedQueue[Done]): Unit = {
    val c = new RespClient(ctx.port)
    val end = startMs + seconds * TracedShare * 1000
    val schemas = ctx.engine.listIndexes.map(n => n -> ctx.engine.schemaOf(n)).toMap
    var i = 0
    try {
      while (Trace.nowMs < end) {
        val q = reqs(i % reqs.size)
        i += 1
        trace.span("resp.ping", 0, q.id)(c.call(Seq("PING")))
        val (_, reqSpan) = trace.span("request", 0, q.id) {
          val now = Trace.nowMs
          record(q, "traced", now, now, c, done)
        }
        val schema = schemas(q.argv(1))
        if (q.kind == "aggregate") {
          trace.span("query.agg_parse", reqSpan, q.id)(
            graft.query.AggregateParser.parse(q.argv.drop(3)))
        } else {
          val params = q.raw.map(b => Map("B" -> graft.query.StringParam(b)))
            .getOrElse(Map.empty[String, graft.query.ParamValue])
          val (parsed, _) = trace.span("query.filter_parse", reqSpan, q.id)(
            graft.query.FilterParser.parse(q.argv(2), params, analyzer = schema.analyzer))
          trace.span("compile.predicate", reqSpan, q.id)(
            new graft.compile.PredicateCompiler(schema, schema.analyzer).compile(parsed.filter))
        }
        probe.get.quiesce()
      }
    } finally c.close()
  }

  /** Setup-side layer costs, measured by calling the layers directly on
    * the documents index the run serves. */
  private def layerSetup(ctx: Ctx): Unit = {
    val (schema, _) = ctx.engine.index("documents")
    val raw = spark.read.parquet(s"$inDir/documents.parquet")
    val t0 = Trace.nowMs
    val enriched = graft.sources.Documents.enrich(raw, schema).persist(StorageLevel.MEMORY_ONLY)
    enriched.count()
    val t1 = Trace.nowMs
    val rows = graft.text.PostingIndex.build(enriched, schema, "text").count()
    val t2 = Trace.nowMs
    enriched.unpersist(blocking = true)
    out("sources_enrich_ms") = t1 - t0
    out("text_posting_build_ms") = t2 - t1
    out("text_posting_rows") = rows
  }

  /** Per-request Spark totals from the listener, attributed by window. */
  private def layerServe(done: Seq[Done]): Unit = {
    val p = probe.get
    p.quiesce(100)
    out("per_request") = done.sortBy(_.sendMs).map { d =>
      val js = p.jobsIn(d.sendMs, d.endMs, _ != "feed")
      val tot = p.totals(js, p.planningIn(d.sendMs, d.endMs))
      val jobIv = js.map(j => (j.start, if (j.end.isNaN) d.endMs else j.end))
      val self = Trace.selfMs(Span(0, "request", d.sendMs, d.endMs, 0, d.req.id), jobIv)
      Map("id" -> d.req.id, "kind" -> d.req.kind, "ms" -> (d.endMs - d.sendMs),
        "engine_self_ms" -> self) ++ tot
    }
  }

  /** The change feed: every batch of feed.json that has a due time, at
    * that time, state first, then onBatch, then a probe that must see the
    * upserts and not the deletes. Runs behind schedule rather than
    * skipping. */
  private final class FeedRun(ctx: Ctx, startMs: Double) {
    val results = new ConcurrentLinkedQueue[Map[String, Any]]()
    private val batches = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(new java.io.File(s"$inDir/feed.json")).elements.asScala.toSeq
      .filter(b => !b.get("due_s").isNull)

    def run(): Unit = {
      spark.sparkContext.setLocalProperty("perfbench.span", "feed")
      val c = new RespClient(ctx.port)
      try {
        batches.foreach { b =>
          val n = b.get("batch").asInt
          val due = startMs + b.get("due_s").asDouble * 1000
          val wait = due - Trace.nowMs
          if (wait > 0) Thread.sleep(wait.toLong)
          // due and not yet applied, this batch included
          val backlog = batches.count(x => startMs + x.get("due_s").asDouble * 1000 <= Trace.nowMs) -
            batches.indexOf(b)
          val t0 = Trace.nowMs
          val df = spark.read.parquet(f"$inDir/feed/b$n%04d.parquet")
          val err =
            try { ctx.docState.get.applyBatch(df); null }
            catch { case e: Exception => s"applyBatch: ${e.getMessage}" }
          val t1 = Trace.nowMs
          val err2 = if (err != null) err else
            try { ctx.maintainer.get.onBatch(df); null }
            catch { case e: Exception => s"onBatch: ${e.getMessage}" }
          val t2 = Trace.nowMs
          val want = b.get("upserted").elements.asScala.map(_.asText).toSet
          val (up, _) = c.call(Seq("FT.SEARCH", "documents", s"@text:${b.get("token").asText}",
            "NOCONTENT", "LIMIT", "0", "1000", "DIALECT", "2"))
          val upOk = summarize("search", up) match {
            case m: Map[_, _] => m.asInstanceOf[Map[String, Any]].get("total").contains(want.size.toLong) &&
              m.asInstanceOf[Map[String, Any]]("keys").asInstanceOf[Seq[Any]].map(String.valueOf).toSet == want
            case _ => false
          }
          val delTok = Option(b.get("deleted_token")).filter(!_.isNull).map(_.asText)
          val delOk = delTok.forall { tok =>
            val (r, _) = c.call(Seq("FT.SEARCH", "documents", s"@text:$tok", "NOCONTENT",
              "DIALECT", "2"))
            r match { case v: Vector[_] => v.headOption.contains(0L); case _ => false }
          }
          val t3 = Trace.nowMs
          val compactions = graft.util.FsIO.listSubdirs(spark, s"${ctx.maintainDir}/__docsbase")
            .count(s => s.startsWith("v") && s.drop(1).forall(_.isDigit))
          System.err.println(f"[perfbench] batch $n state ${t1 - t0}%.0f ms onBatch ${t2 - t1}%.0f ms probe ${t3 - t2}%.0f ms")
          results.add(Map("batch" -> n, "due_ms" -> due, "start_ms" -> t0,
            "state_ms" -> (t1 - t0), "on_batch_ms" -> (t2 - t1), "probe_ms" -> (t3 - t2),
            "end_ms" -> t3, "visible_ok" -> upOk, "delete_ok" -> delOk, "error" -> err2,
            "backlog" -> math.max(0, backlog), "base_versions_on_disk" -> compactions))
        }
      } finally {
        c.close()
        spark.sparkContext.setLocalProperty("perfbench.span", null)
      }
    }
  }
}

/** curate_batch: one caller running the operator chain back to back. */
final class CurateRun(spark: SparkSession, inDir: String, seconds: Double, trace: Trace,
                      probe: Option[SparkProbe], out: scala.collection.mutable.Map[String, Any]) {

  private def load(): DataFrame = {
    val df = spark.read.parquet(s"$inDir/corpus.parquet").persist(StorageLevel.MEMORY_ONLY)
    df.count()
    df
  }

  /** Order-free digest of a relation: row count and the sum of a 64-bit
    * hash over every column. */
  private def digest(df: DataFrame): String = {
    val r = df.select(xxhash64(df.columns.sorted.map(col).toIndexedSeq: _*).as("h"))
      .agg(count(lit(1)), sum(col("h").cast("decimal(38,0)"))).head()
    s"${r.getLong(0)}:${r.get(1)}"
  }

  def run(): Unit = {
    // a load is cheap (~0.5 s) and its time swings by a quarter from one
    // load to the next, so take many more of them than the serve set-ups
    val setupS = (1 to 3 * Main.SetupReps).map { _ =>
      spark.catalog.clearCache()
      val t0 = Trace.nowMs
      load()
      (Trace.nowMs - t0) / 1000
    }
    out("setup_s_reps") = setupS
    val corpus = spark.read.parquet(s"$inDir/corpus.parquet")
    val nDocs = corpus.count()
    val bench = spark.read.parquet(s"$inDir/bench_set.parquet")
    out("n_docs") = nDocs

    type Stage = (String, Map[String, DataFrame] => DataFrame)
    val chain: Seq[Stage] = Seq(
      "exact_dup_groups" -> (_ => Dedup.exactDupGroups(corpus, "doc_id", "text")),
      "minhash_near_dups" -> (_ => Dedup.minhashNearDups(corpus, "doc_id", "text")),
      "simhash_near_dups" -> (_ => Dedup.simhashNearDups(corpus, "doc_id", "text")),
      "ngram_jaccard_salted" -> (_ => Dedup.ngramJaccardPairs(corpus, "doc_id", "text",
        saltAbove = Some(64))),
      "semantic_dedup" -> (_ => Dedup.semanticDedup(corpus, "doc_id", "embedding")),
      "decontaminate" -> (s => Curation.decontaminate(s("semantic_dedup"), "doc_id", "text",
        bench, "text")),
      "gopher_filter" -> (s => TextMetrics.gopherFilter(s("decontaminate"), "text")),
      "dsir_select" -> (s => Curation.dsirSelectSplit(s("gopher_filter"), "doc_id", "text",
        col("lang") === "en", nBuckets = 4096, k = (nDocs / 4).toInt)),
      "pack_sequences" -> (s => Curation.packSequences(s("dsir_select"), "doc_id",
        size(split(col("text"), " ")), budget = 2048, shardCols = Seq("source"))))

    val sampler = new Sampler(spark).start()
    val gc0 = Sampler.gcMs()
    val passes = scala.collection.mutable.ArrayBuffer.empty[Map[String, Any]]
    val startMs = Trace.nowMs
    out("start_ms") = startMs
    val endMs = startMs + seconds * 1000
    var pass = 0
    // at least one whole pass, however long it takes; another only if
    // the last pass's length still fits in the window
    var lastMs = 0.0
    while (pass == 0 || Trace.nowMs + lastMs < endMs) {
      pass += 1
      val outs = scala.collection.mutable.LinkedHashMap.empty[String, DataFrame]
      val (stages, passSpan) = trace.span("chain", 0, pass) {
        chain.map { case (name, f) =>
          spark.sparkContext.setLocalProperty("perfbench.span", s"$pass:$name")
          val t0 = Trace.nowMs
          val (res, err) =
            try {
              val df = f(outs.toMap).persist(StorageLevel.MEMORY_AND_DISK)
              (Some((df, df.count())), null)
            } catch { case e: Exception => (None, s"${e.getClass.getSimpleName}: ${e.getMessage}") }
          val t1 = Trace.nowMs
          spark.sparkContext.setLocalProperty("perfbench.span", null)
          trace.add(s"pipeline.$name", t0, t1, 0, pass)
          System.err.println(f"[perfbench] pass $pass $name ${t1 - t0}%.0f ms rows ${res.map(_._2)}")
          res.foreach { case (df, _) => outs(name) = df }
          name -> (t0, t1, res.map(_._2), err)
        }
      }
      // checks and digests are outside the timed stages
      val planted = checks(outs)
      lastMs = trace.all.find(_.id == passSpan).get.ms
      passes += Map("pass" -> pass, "ms" -> lastMs,
        "stages" -> stages.map { case (n, (t0, t1, rows, err)) =>
          Map("name" -> n, "start_ms" -> t0, "end_ms" -> t1, "rows_out" -> rows.getOrElse(-1L),
            "error" -> err, "digest" -> outs.get(n).map(digest).orNull)
        }, "planted" -> planted)
      outs.values.foreach(_.unpersist(blocking = true))
    }
    out("gc_ms") = Sampler.gcMs() - gc0
    out("samples") = sampler.finish()
    out("passes") = passes.toSeq
    probe.foreach { p =>
      p.quiesce(100)
      out("per_stage") = passes.toSeq.flatMap { ps =>
        ps("stages").asInstanceOf[Seq[Map[String, Any]]].map { s =>
          val tag = s"${ps("pass")}:${s("name")}"
          val js = p.jobs.values.asScala.toSeq.filter(_.tag == tag)
          Map("pass" -> ps("pass"), "name" -> s("name")) ++
            p.totals(js, p.planningIn(s("start_ms").asInstanceOf[Double],
              s("end_ms").asInstanceOf[Double]))
        }
      }
    }
  }

  /** Planted-structure checks, from the stage outputs of one pass. */
  private def checks(outs: collection.Map[String, DataFrame]): Map[String, Any] = {
    def pairs(name: String): Set[(String, String)] =
      outs.get(name).map(_.select(col("key_a").cast("string"), col("key_b").cast("string"))
        .collect().map(r => (r.getString(0), r.getString(1))).toSet).getOrElse(Set.empty)
    def keys(name: String): Set[String] =
      outs.get(name).map(_.select(col("doc_id").cast("string")).collect()
        .map(_.getString(0)).toSet).getOrElse(Set.empty)
    val exactKeep = outs.get("exact_dup_groups").map(_.filter(col("n_dups") >= 2)
      .select("keep_key").collect().map(_.getString(0)).toSet).getOrElse(Set.empty)
    Map("minhash_pairs" -> pairs("minhash_near_dups").toSeq.map(p => Seq(p._1, p._2)),
      "simhash_pairs" -> pairs("simhash_near_dups").toSeq.map(p => Seq(p._1, p._2)),
      "ngram_pairs" -> pairs("ngram_jaccard_salted").toSeq.map(p => Seq(p._1, p._2)),
      "semantic_keys" -> keys("semantic_dedup").toSeq,
      "decontaminated_keys" -> keys("decontaminate").toSeq,
      "exact_keep_keys" -> exactKeep.toSeq)
  }
}

/** Minimal JSON writer for the result file. */
object Json {
  def write(v: Any): String = {
    val sb = new StringBuilder
    def str(s: String): Unit = {
      sb.append('"')
      s.foreach {
        case '"' => sb.append("\\\"")
        case '\\' => sb.append("\\\\")
        case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
        case c => sb.append(c)
      }
      sb.append('"')
    }
    def go(v: Any): Unit = v match {
      case null | None => sb.append("null")
      case Some(x) => go(x)
      case s: String => str(s)
      case b: Boolean => sb.append(b)
      case d: Double => if (d.isNaN || d.isInfinite) sb.append("null") else sb.append(d)
      case f: Float => go(f.toDouble)
      case n: Number => sb.append(n.toString)
      case RespClient.Err(m) => go(Map("error" -> m))
      case m: collection.Map[_, _] =>
        sb.append('{')
        var first = true
        m.foreach { case (k, x) =>
          if (!first) sb.append(','); first = false
          str(String.valueOf(k)); sb.append(':'); go(x)
        }
        sb.append('}')
      case it: Iterable[_] =>
        sb.append('[')
        var first = true
        it.foreach { x => if (!first) sb.append(','); first = false; go(x) }
        sb.append(']')
      case other => str(String.valueOf(other))
    }
    go(v)
    sb.toString
  }
}
