package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

import graft.pipeline.{Ann, Nsw}

/** NSW ANN vs the exact oracle (the reference's FLAT-vs-HNSW duality:
  * exact is ground truth, the graph trades recall for touched nodes). */
class NswSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .appName("nsw-spec")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }
  // NOTE: never stop() here - getOrCreate shares ONE SparkContext
  // across all suites in the JVM; stopping it kills whichever suite
  // runs next (the forked test JVM cleans up on exit).
  override def afterAll(): Unit = ()

  test("beam cost: touches ~ef·M nodes from node-0 entry, not the partition") {
    // Pins the scale property the header claims (and that made pivot /
    // multi-layer entry selection a measured loss — NswEntryExperiment):
    // at 20k nodes a low-ef beam evaluates a few hundred distances, and
    // its results still agree with exact search.
    val rnd = new scala.util.Random(11)
    val n = 20000
    val vecs = Array.fill(n)(Array.fill(16)(rnd.nextGaussian().toFloat))
    val keys = vecs.indices.map(_.toString).toArray
    val g = Nsw.buildLocal(keys, vecs, m = 8, efConstruction = 60, metric = "L2")
    val queries = Array.fill(20)(Array.fill(16)(rnd.nextGaussian().toFloat))
    def exactTop(q: Array[Float], k: Int): Set[Int] =
      vecs.zipWithIndex.map { case (v, i) =>
        (v.zip(q).map { case (a, b) => (a - b).toDouble * (a - b) }.sum, i)
      }.sortBy(t => (t._1, t._2)).take(k).map(_._2).toSet
    var evals = 0L; var recallSum = 0.0
    queries.foreach { q =>
      val st = new Nsw.SearchStats
      val got = Nsw.searchLocal(g.vecs, g.adj.map(_.toIndexedSeq), q,
        ef = 100, limitIdx = -1, "L2", stats = st).take(10).map(_._2).toSet
      evals += st.distEvals
      recallSum += got.intersect(exactTop(q, 10)).size / 10.0
    }
    val perQuery = evals / queries.length
    assert(recallSum / queries.length >= 0.9,
      s"recall ${recallSum / queries.length} < 0.9")
    // ef·M-ish (100 × 2·8 = 1600) with generous slack; a regression to
    // partition-proportional cost (20k) trips this immediately.
    assert(perQuery < 4000, s"beam evaluated $perQuery distances per query")
  }

  test("local graph search is exact when ef covers the partition") {
    val rnd = new scala.util.Random(3)
    val vecs = Array.fill(200)(Array.fill(16)(rnd.nextGaussian().toFloat))
    val keys = vecs.indices.map(_.toString).toArray
    val g = Nsw.buildLocal(keys, vecs, m = 8, efConstruction = 64, metric = "L2")
    val q = Array.fill(16)(rnd.nextGaussian().toFloat)
    val found = Nsw.searchLocal(g.vecs, g.adj.map(_.toIndexedSeq), q,
      ef = 200, limitIdx = -1, "L2").take(10).map(_._2).toSeq
    val exact = vecs.zipWithIndex
      .map { case (v, i) => (v.zip(q).map { case (a, b) => (a - b) * (a - b) }.sum.toDouble, i) }
      .sortBy(t => (t._1, t._2)).take(10).map(_._2).toSeq
    assert(found == exact)
  }

  test("distributed NSW: high recall vs exact top-k on testdata embeddings") {
    val embs = Fixtures.table(spark, "/root/testdata/sf0.001", "embeddings")
    val exact = Ann.topK(embs, "vec_id", "embedding", Queries.queryVec,
      k = 20, metric = "COSINE").collect().map(_.getString(0)).toSet

    val idx = Nsw.build(embs, "vec_id", "embedding", metric = "COSINE",
      numPartitions = 4, m = 12, efConstruction = 100)
    try {
      val ann = idx.search(Queries.queryVec, k = 20, ef = 80)
        .collect().map(_.getString(0)).toSet
      val recall = ann.intersect(exact).size.toDouble / exact.size
      assert(recall >= 0.9, s"recall $recall < 0.9")

      // distances reported by ANN are true distances (verifiable subset)
      val exactTop1 = Ann.topK(embs, "vec_id", "embedding", Queries.queryVec,
        k = 1, metric = "COSINE").collect().head
      val annTop1 = idx.search(Queries.queryVec, k = 1, ef = 80).collect().head
      assert(annTop1.getString(0) == exactTop1.getString(0))
      assert(math.abs(annTop1.getDouble(1) - exactTop1.getDouble(1)) < 1e-9)
    } finally idx.unpersistIndex()
  }

  test("save/load round-trip: restored index answers identically (S5)") {
    val embs = Fixtures.table(spark, "/root/testdata/sf0.001", "embeddings")
    val idx = Nsw.build(embs, "vec_id", "embedding", metric = "L2",
      numPartitions = 2, m = 8, efConstruction = 50)
    val tmp = java.nio.file.Files.createTempDirectory("graft-nsw").toString
    try {
      Nsw.save(idx, tmp)
      val restored = Nsw.load(spark, tmp)
      try {
        val a = idx.search(Queries.queryVec, 10, ef = 60).collect().map(_.toString).toSeq
        val b = restored.search(Queries.queryVec, 10, ef = 60).collect().map(_.toString).toSeq
        assert(a == b && a.size == 10)
      } finally restored.unpersistIndex()
    } finally idx.unpersistIndex()
  }

  test("build-once query-many: second query reuses the persisted graphs") {
    val embs = Fixtures.table(spark, "/root/testdata/sf0.001", "embeddings")
    val idx = Nsw.build(embs, "vec_id", "embedding", metric = "L2",
      numPartitions = 2, m = 8, efConstruction = 50)
    try {
      val q1 = idx.search(Queries.queryVec, 5).collect()
      val q2 = idx.search(Queries.queryVec.map(v => -v), 5).collect()
      assert(q1.length == 5 && q2.length == 5)
      assert(q1.map(_.getString(0)).toSet != q2.map(_.getString(0)).toSet)
    } finally idx.unpersistIndex()
  }

  test("hybrid planner: ANN serves match-all KNN; selective filters stay exact") {
    val dir = "/root/testdata/sf0.001"
    val engine = Fixtures.engine(spark, dir)
    val embs = engine.index("embeddings_l2")._2
    val ann = graft.pipeline.Nsw.build(embs, "__key", "vec", metric = "L2",
      numPartitions = 4, m = 12, efConstruction = 100)
    try {
      engine.registerAnn("embeddings_l2", "vec", ann)
      val exact = Fixtures.engine(spark, dir) // fresh engine, no ANN
        .search("embeddings_l2", "*=>[KNN 10 @vec $q]",
          graft.engine.SearchOptions(params = Map("q" -> graft.query.VectorParam(Queries.queryVec))))
        .collect().map(_.getAs[String]("__key")).toSet
      val viaAnn = engine
        .search("embeddings_l2", "*=>[KNN 10 @vec $q]",
          graft.engine.SearchOptions(params = Map("q" -> graft.query.VectorParam(Queries.queryVec))))
        .collect().map(_.getAs[String]("__key")).toSet
      assert(viaAnn.intersect(exact).size >= 9) // >=90% recall on the ANN branch
      // a highly selective hybrid filter must take the exact pre-filter path
      val selective = engine.search("embeddings_l2", "@label:[3 3]=>[KNN 5 @vec $q]",
        graft.engine.SearchOptions(params = Map("q" -> graft.query.VectorParam(Queries.queryVec))))
        .collect()
      assert(selective.length == 5)
    } finally ann.unpersistIndex()
  }
  test("inline filter: beam admits only qualified keys, no starvation") {
    val dir = "/root/testdata/sf0.001"
    val engine = Fixtures.engine(spark, dir)
    val embs = engine.index("embeddings_l2")._2
    val ann = graft.pipeline.Nsw.build(embs, "__key", "vec", metric = "L2",
      numPartitions = 4, m = 12, efConstruction = 100)
    try {
      engine.registerAnn("embeddings_l2", "vec", ann)
      // ~50% selective filter → planner takes the ANN inline-filter branch
      val opts = graft.engine.SearchOptions(
        params = Map("q" -> graft.query.VectorParam(Queries.queryVec)))
      val viaAnn = engine.search("embeddings_l2", "@label:[0 4]=>[KNN 10 @vec $q]", opts)
        .collect()
      assert(viaAnn.length == 10)
      assert(viaAnn.forall(r => { val l = r.getAs[Double]("label"); l >= 0 && l <= 4 }))
      // compare against exact (fresh engine, no ANN): high overlap expected
      val exact = Fixtures.engine(spark, dir)
        .search("embeddings_l2", "@label:[0 4]=>[KNN 10 @vec $q]", opts)
        .collect().map(_.getAs[String]("__key")).toSet
      val overlap = viaAnn.map(_.getAs[String]("__key")).toSet.intersect(exact).size
      assert(overlap >= 8, s"inline-filter recall $overlap/10")
    } finally ann.unpersistIndex()
  }

  test("inline filter prologue is single-pass (job budget)") {
    val dir = "/root/testdata/sf0.001"
    val engine = Fixtures.engine(spark, dir)
    val embs = engine.index("embeddings_l2")._2
    val ann = graft.pipeline.Nsw.build(embs, "__key", "vec", metric = "L2",
      numPartitions = 4, m = 12, efConstruction = 100)
    try {
      engine.registerAnn("embeddings_l2", "vec", ann)
      val opts = graft.engine.SearchOptions(
        params = Map("q" -> graft.query.VectorParam(Queries.queryVec)))
      val q = "@label:[0 4]=>[KNN 10 @vec $q]"
      engine.search("embeddings_l2", q, opts).collect() // warm docCount memo
      // Count Dataset ACTIONS (one QueryExecutionListener event each —
      // unaffected by AQE splitting an action into many scheduler jobs).
      val actions = new java.util.concurrent.ConcurrentLinkedQueue[String]
      val listener = new org.apache.spark.sql.util.QueryExecutionListener {
        override def onSuccess(funcName: String,
            qe: org.apache.spark.sql.execution.QueryExecution, d: Long): Unit = {
          actions.add(funcName); ()
        }
        override def onFailure(funcName: String,
            qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
      }
      // the warm-up's collect event can still be queued on the async
      // bus: drain it first, or the new listener counts it too
      org.apache.spark.GraftTestBus.drain(spark.sparkContext)
      spark.listenerManager.register(listener)
      try {
        // eager segment of search(): qualified-keys materialization (1
        // count), Bloom build over the CACHED keys (1), beam+join
        // localCheckpoint (1), completeness count on the checkpoint (1)
        // = 4 actions, exactly ONE of which scans the filtered relation.
        // The old three-scan prologue (LIMIT probe + count + bloomFilter
        // all over the filtered plan) was 5 actions / 3 scans.
        engine.search("embeddings_l2", q, opts)
        // the listener bus is async; poll until the count is stable
        var last = -1; var stable = 0
        while (stable < 3) {
          Thread.sleep(100)
          val now = actions.size()
          if (now == last) stable += 1 else { stable = 0; last = now }
        }
        import scala.jdk.CollectionConverters._
        assert(actions.size() <= 4,
          s"inline prologue ran ${actions.size()} actions (> 4): " +
            actions.asScala.mkString(", "))
      } finally spark.listenerManager.unregister(listener)
    } finally ann.unpersistIndex()
  }
}
