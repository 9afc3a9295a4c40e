package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

import graft.model._
import graft.pipeline.Multimodal
import graft.streaming.{IndexMaintainer, Ingest}
import graft.text.PostingKind

class MultimodalStreamingSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .appName("mm-streaming-spec")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }
  // NOTE: never stop() here - getOrCreate shares ONE SparkContext
  // across all suites in the JVM; stopping it kills whichever suite
  // runs next (the forked test JVM cleans up on exit).
  override def afterAll(): Unit = ()

  // ------------------------- multimodal ---------------------------- //

  private def mediaDs = {
    val sp = spark; import sp.implicits._
    val df = Seq((1L, "abcdefgh" * 20), (2L, "zyxwvuts" * 5), (3L, ""))
      .toDF("id", "txt")
      .withColumn("payload", encode(col("txt"), "UTF-8"))
    Multimodal.syntheticMedia(df, "id", "payload")
  }

  /** Encode a w×h RGB image via the JDK's imageio (the same machinery
    * the production decode path uses, driven in reverse). */
  private def encodeImg(w: Int, h: Int, fmt: String)(px: (Int, Int) => Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until h; x <- 0 until w) img.setRGB(x, y, px(x, y))
    val bos = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(img, fmt, bos), s"no $fmt writer")
    bos.toByteArray
  }

  test("real image decode: PNG/JPEG via JDK imageio yield true metadata + grid features") {
    val sp = spark; import sp.implicits._
    val white = encodeImg(32, 16, "png")((_, _) => 0xFFFFFF)
    val dark = encodeImg(20, 20, "jpg")((_, _) => 0x000000)
    val split = encodeImg(64, 64, "png")((x, _) => if (x < 32) 0 else 0xFFFFFF)
    val media = Multimodal.syntheticMedia(
      Seq((1L, white), (2L, dark), (3L, split)).toDF("id", "payload"),
      "id", "payload")
    val feats = Multimodal.imageFeatures(media, dim = 16)
      .collect().map(f => f.media_id -> f).toMap
    // true decoded dimensions OVERRIDE the synthetic metadata (64×48)
    assert(feats(1L).width == 32 && feats(1L).height == 16 && feats(1L).channels == 3)
    assert(feats(1L).mean_intensity > 250.0)
    assert(feats(2L).width == 20 && feats(2L).height == 20)
    assert(feats(2L).mean_intensity < 5.0)
    // grid embedding is row-major 4×4: left half dark, right half bright
    val emb = feats(3L).embedding
    assert(emb.length == 16)
    (0 until 4).foreach { r =>
      assert(emb(r * 4) < 0.1f, s"left cell bright: ${emb(r * 4)}")
      assert(emb(r * 4 + 3) > 0.9f, s"right cell dark: ${emb(r * 4 + 3)}")
    }
    // determinism across partitionings (real path)
    val again = Multimodal.imageFeatures(media.repartition(3), dim = 16)
      .collect().map(f => f.media_id -> f.embedding.toSeq).toMap
    assert(again(3L) == emb.toSeq)
  }

  test("streaming path carries real image features end-to-end") {
    val sp = spark; import sp.implicits._
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[(Long, Array[Byte])]
    stream.addData((10L, encodeImg(16, 8, "png")((_, _) => 0xFFFFFF)),
      (11L, "not an image".getBytes))
    val media = Multimodal.syntheticMedia(
      stream.toDF().toDF("id", "payload"), "id", "payload")
    val q = Multimodal.imageFeatures(media, dim = 4).writeStream
      .format("memory").queryName("img_feats").outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    val rows = spark.table("img_feats").collect()
      .map(r => r.getAs[Long]("media_id") -> r).toMap
    // decodable payload: real dimensions + intensity through the stream
    assert(rows(10L).getAs[Int]("width") == 16 &&
      rows(10L).getAs[Int]("height") == 8 &&
      rows(10L).getAs[Double]("mean_intensity") > 250.0)
    // undecodable payload: deterministic stub fallback, metadata intact
    assert(rows(11L).getAs[Int]("width") == 64 &&
      rows(11L).getAs[Int]("height") == 48)
  }

  /** Encode 16-bit mono PCM samples as a WAV via the JDK sound API
    * (the decode path's machinery driven in reverse). */
  private def encodeWav(sampleRate: Int, samples: Array[Short]): Array[Byte] = {
    val bytes = new Array[Byte](samples.length * 2)
    samples.zipWithIndex.foreach { case (s, i) =>
      bytes(i * 2) = (s & 0xff).toByte; bytes(i * 2 + 1) = (s >> 8).toByte
    }
    val fmt = new javax.sound.sampled.AudioFormat(sampleRate, 16, 1, true, false)
    val ais = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(bytes), fmt, samples.length)
    val bos = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(ais,
      javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
    bos.toByteArray
  }

  test("real audio decode: WAV via JDK sound API yields true metadata + envelope") {
    val sp = spark; import sp.implicits._
    val rate = 8000
    // 1 s sine at full scale, then 1 s near-silence: the envelope's
    // first half must be loud, second half quiet
    val loudQuiet = Array.tabulate(2 * rate) { i =>
      if (i < rate) (math.sin(2 * math.Pi * 440 * i / rate) * 30000).toShort
      else (math.sin(2 * math.Pi * 440 * i / rate) * 300).toShort
    }
    val silence = Array.fill(rate / 2)(0.toShort)
    val media = Multimodal.syntheticMedia(
      Seq((1L, encodeWav(rate, loudQuiet)), (2L, encodeWav(rate, silence)),
        (3L, "not audio at all".getBytes)).toDF("id", "payload"),
      "id", "payload", kind = "audio")
    val feats = Multimodal.audioFeatures(media, dim = 8)
      .collect().map(f => f.media_id -> f).toMap
    // true decoded metadata overrides the synthetic defaults (16000 Hz)
    assert(feats(1L).sample_rate == rate && feats(1L).channels == 1)
    assert(math.abs(feats(1L).duration_ms - 2000) <= 1)
    // sine at ~0.92 full scale: RMS ≈ 0.92/√2 over the loud half only
    assert(feats(1L).rms > 0.3 && feats(1L).rms < 0.8, s"rms ${feats(1L).rms}")
    val env = feats(1L).envelope
    assert(env.length == 8)
    assert(env.take(4).forall(_ > 0.5), s"loud half: ${env.toSeq}")
    assert(env.drop(4).forall(_ < 0.02), s"quiet half: ${env.toSeq}")
    // silence: zero RMS, true 500 ms duration
    assert(feats(2L).rms == 0.0 && math.abs(feats(2L).duration_ms - 500) <= 1)
    // undecodable payload: stub fallback with metadata passthrough
    assert(feats(3L).sample_rate == 16000)
  }

  test("image features: schema, determinism, batch shape") {
    val feats = Multimodal.imageFeatures(mediaDs, dim = 16)
    assert(feats.schema.fieldNames.toSeq ==
      Seq("media_id", "width", "height", "channels", "mean_intensity", "embedding"))
    val rows = feats.collect().sortBy(_.media_id)
    assert(rows.length == 3)
    assert(rows.forall(_.embedding.length == 16))
    // deterministic across evaluations and partitionings
    val again = Multimodal.imageFeatures(mediaDs.repartition(3), dim = 16)
      .collect().sortBy(_.media_id)
    assert(rows.zip(again).forall { case (a, b) =>
      a.mean_intensity == b.mean_intensity && a.embedding.sameElements(b.embedding) })
    // empty payload is well-defined, not an error
    assert(rows.find(_.media_id == 3L).get.mean_intensity == 0.0)
  }

  test("resize keeps payload and cardinality, updates metadata") {
    val r = Multimodal.resize(mediaDs, 128, 96).collect()
    assert(r.length == 3 && r.forall(m => m.width == 128 && m.height == 96))
  }

  test("resize really resamples decodable images: decoded dims change, content survives") {
    val sp = spark; import sp.implicits._
    val split = encodeImg(64, 64, "png")((x, _) => if (x < 32) 0 else 0xFFFFFF)
    val media = Multimodal.syntheticMedia(
      Seq((1L, split)).toDF("id", "payload"), "id", "payload")
    val resized = Multimodal.resize(media, 16, 8)
    val f = Multimodal.imageFeatures(resized, dim = 16).collect().head
    // decoded-from-pixels dimensions, not just declared metadata
    assert(f.width == 16 && f.height == 8, s"got ${f.width}x${f.height}")
    // bilinear downscale preserves the halves and the global mean
    assert(math.abs(f.mean_intensity - 127.5) < 10.0, s"mean ${f.mean_intensity}")
    val emb = f.embedding
    (0 until 4).foreach { r =>
      assert(emb(r * 4) < 0.15f, s"left cell bright after resize: ${emb(r * 4)}")
      assert(emb(r * 4 + 3) > 0.85f, s"right cell dark after resize: ${emb(r * 4 + 3)}")
    }
  }

  test("frame sampling explodes per duration without driver loops") {
    val media = Multimodal.syntheticMedia(
      mediaDs.toDF().select(col("media_id").as("id"), col("payload")), "id", "payload",
      kind = "video")
    val frames = Multimodal.sampleFrames(media, everyMs = 10)
    val byId = frames.collect().groupBy(_.media_id)
    // duration_ms = len/4: id1 len=160→40ms→4 frames; id2 len=40→10ms→1
    assert(byId(1L).length == 4 && byId(2L).length == 1 && byId(3L).length == 1)
    assert(byId(1L).map(_.ts_ms).sorted.toSeq == Seq(0, 10, 20, 30))
  }

  /** A solid-gray frame at the given level (0-255). */
  private def grayFrame(w: Int, h: Int, level: Int): java.awt.image.BufferedImage = {
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    val rgb = (level << 16) | (level << 8) | level
    for (y <- 0 until h; x <- 0 until w) img.setRGB(x, y, rgb)
    img
  }

  test("real video decode: MJPEG-AVI yields true metadata and imageio-decodable frames") {
    val sp = spark; import sp.implicits._
    // 10 frames 32×24 at 10 fps, frame i solid gray level i*25
    val avi = Multimodal.VideoCodec.encodeMjpegAvi(
      (0 until 10).map(i => grayFrame(32, 24, i * 25)), fps = 10)
    val media = Multimodal.syntheticMedia(
      Seq((1L, avi), (2L, "definitely not a video".getBytes)).toDF("id", "payload"),
      "id", "payload", kind = "video")

    val feats = Multimodal.videoFeatures(media, dim = 16)
      .collect().map(f => f.media_id -> f).toMap
    // true container metadata overrides the synthetic defaults
    assert(feats(1L).width == 32 && feats(1L).height == 24)
    assert(feats(1L).frame_count == 10 && feats(1L).duration_ms == 1000)
    assert(math.abs(feats(1L).fps - 10.0) < 0.01)
    // embedding = middle frame's grid thumbnail: frame 5 is gray 125
    val emb = feats(1L).embedding
    assert(emb.length == 16 && emb.forall(v => v > 0.40f && v < 0.58f),
      s"mid-frame grid: ${emb.toSeq}")
    // undecodable payload: stub fallback with declared metadata
    assert(feats(2L).width == 64 && feats(2L).height == 48)

    // frame sampling over the REAL path: 250 ms spacing → 4 frames,
    // each emitted payload a complete JPEG of the nearest stored frame
    val frames = Multimodal.sampleFrames(media.filter(_.media_id == 1L),
      everyMs = 250).collect().sortBy(_.frame_idx)
    assert(frames.map(_.ts_ms).toSeq == Seq(0, 250, 500, 750))
    val expectedGray = Seq(0, 3, 5, 8).map(_ * 25) // round(ts/100ms)
    frames.zip(expectedGray).foreach { case (f, g) =>
      val img = Multimodal.ImageCodec.decode(f.payload)
        .getOrElse(fail(s"frame ${f.frame_idx} not a decodable image"))
      assert(img.getWidth == 32 && img.getHeight == 24)
      val mi = Multimodal.ImageCodec.meanIntensity(img)
      assert(math.abs(mi - g) < 12, s"frame ${f.frame_idx}: intensity $mi vs $g")
    }
    // determinism across partitionings (real path)
    val again = Multimodal.videoFeatures(media.repartition(3), dim = 16)
      .collect().map(f => f.media_id -> f.embedding.toSeq).toMap
    assert(again(1L) == emb.toSeq)
  }

  test("video decode survives torn containers (truncated mid-chunk)") {
    val avi = Multimodal.VideoCodec.encodeMjpegAvi(
      (0 until 6).map(i => grayFrame(16, 16, i * 40)), fps = 5)
    // cut inside the movi list: parser keeps the complete prefix frames
    val torn = java.util.Arrays.copyOf(avi, avi.length * 2 / 3)
    Multimodal.VideoCodec.decode(torn) match {
      case Some(v) =>
        assert(v.width == 16 && v.frameCount >= 1 && v.frameCount < 6)
        assert(Multimodal.ImageCodec.decode(v.frames(0)).isDefined)
      case None => // a cut before the first whole frame is also valid
    }
    // garbage with the right magic must not throw either
    val junk = "RIFF    AVI junkjunkjunk".getBytes
    assert(Multimodal.VideoCodec.decode(junk).isEmpty)
  }

  // ------------------------- streaming ingest ---------------------- //

  test("validate drops keys with invalid numeric content (index_base.h:43-47)") {
    val sp = spark; import sp.implicits._
    val schema = IndexSchema("t", Seq(FieldDef("price", NumericField)))
    val df = Seq(("k1", "10.5"), ("k2", "not-a-number"), ("k3", null))
      .toDF("__key", "price")
    val (valid, dropped) = Ingest.validate(df, schema)
    assert(valid.select("__key").collect().map(_.getString(0)).sorted.toSeq == Seq("k1", "k3"))
    assert(dropped.collect().map(_.getString(0)).toSeq == Seq("k2"))
  }

  test("mergeBatch: last-write-wins per key, tombstones delete") {
    val sp = spark; import sp.implicits._
    val state = Seq(("k1", 10.0), ("k2", 20.0)).toDF("__key", "price")
    val changes = Seq(
      ("upsert", "k1", 11.0, 1L), ("upsert", "k1", 12.0, 2L), // LWW → 12
      ("delete", "k2", 0.0, 3L), // tombstone
      ("upsert", "k3", 30.0, 4L), // new key
      ("upsert", "k4", 40.0, 5L), ("delete", "k4", 0.0, 6L)) // net delete
      .toDF("op", "__key", "price", "__seq")
    val merged = Ingest.mergeBatch(state, changes)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(merged == Map("k1" -> 12.0, "k3" -> 30.0))
  }

  test("end-to-end micro-batch stream maintains a queryable doc table") {
    val sp = spark; import sp.implicits._
    implicit val sqlCtx = spark.sqlContext
    val tmp = java.nio.file.Files.createTempDirectory("graft-ingest").toString
    val statePath = s"$tmp/state"; val ckpt = s"$tmp/ckpt"

    // backfill (S2): initial table written through the bucketed layout;
    // k4..k9 land in buckets the incremental batch never touches
    Ingest.backfill(
      (Seq(("k1", 1.0), ("k2", 2.0)) ++ (4 to 9).map(i => (s"k$i", i.toDouble)))
        .toDF("__key", "price"), statePath)

    // snapshot per-file modification times before the incremental batch
    def fileStamps(): Map[String, Long] = {
      val root = java.nio.file.Paths.get(statePath)
      val s = java.nio.file.Files.walk(root)
      try s.filter(p => p.toString.endsWith(".parquet"))
        .toArray.map(_.asInstanceOf[java.nio.file.Path])
        .map(p => p.toString ->
          java.nio.file.Files.getLastModifiedTime(p).toMillis).toMap
      finally s.close()
    }
    val before = fileStamps()

    val stream = MemoryStream[(String, String, Double, Long)]
    stream.addData(("upsert", "k2", 22.0, 1L), ("upsert", "k3", 3.0, 2L),
      ("delete", "k1", 0.0, 3L))
    val changes = stream.toDF().toDF("op", "__key", "price", "__seq")

    val docSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("__key", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("price", org.apache.spark.sql.types.DoubleType)))
    val q = Ingest.start(spark, changes, statePath, ckpt, docSchema)
    try { q.processAllAvailable() } finally q.stop()

    val result = Ingest.readState(spark, statePath)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(result == Map("k2" -> 22.0, "k3" -> 3.0) ++
      (4 to 9).map(i => s"k$i" -> i.toDouble))

    // incremental write: buckets NOT touched by the batch keep their
    // original files byte-for-byte (same path, same mtime)
    val touchedBuckets = Seq("k1", "k2", "k3").toDF("__key")
      .select(pmod(xxhash64(col("__key")), lit(64L)))
      .collect().map(r => s"__bpart=${r.getLong(0)}/")
    val untouched = before.filterNot { case (p, _) =>
      touchedBuckets.exists(p.contains) }
    assert(untouched.nonEmpty, "test needs at least one untouched bucket")
    val after = fileStamps()
    untouched.foreach { case (p, t) =>
      assert(after.get(p).contains(t), s"untouched bucket file rewritten: $p") }

    // the maintained table is immediately searchable through the engine
    val e = new graft.engine.SearchEngine
    val schema = IndexSchema("live", Seq(FieldDef("price", NumericField)))
    e.createIndex(schema, graft.sources.Documents.enrich(
      Ingest.readState(spark, statePath), schema, keyExpr = Some(col("__key"))))
    val hits = e.search("live", "@price:[10 +inf]").collect()
    assert(hits.map(_.getString(0)).toSeq == Seq("k2"))
  }
  test("onBatch wiring: stream upserts/deletes reflect in posting + ANN queries without rebuild") {
    val sp = spark; import sp.implicits._
    implicit val sqlCtx = spark.sqlContext
    val tmp = java.nio.file.Files.createTempDirectory("graft-maint").toString
    val statePath = s"$tmp/state"; val ckpt = s"$tmp/ckpt"

    val schema = IndexSchema("live2", Seq(
      FieldDef("body", TextField()),
      FieldDef("emb", VectorField(dim = 4, metric = DistanceMetric.L2))))
    val init = Seq(
      ("k1", "alpha beta gamma", Array(0f, 0f, 0f, 1f)),
      ("k2", "delta epsilon quantum", Array(0f, 0f, 1f, 0f)),
      ("k3", "zeta eta theta", Array(0f, 1f, 0f, 0f)),
      ("k4", "iota kappa lambda", Array(1f, 0f, 0f, 0f)),
      ("k5", "mu nu xi", Array(1f, 1f, 0f, 0f)),
      ("k6", "omicron pi rho", Array(0f, 1f, 1f, 0f)))
      .toDF("__key", "body", "emb")
    Ingest.backfill(init, statePath)

    val enrichedInit = graft.sources.Documents.enrich(init, schema)
    val storeDir = s"$tmp/posting"
    val store = graft.text.PostingStore.init(spark,
      graft.text.PostingIndex.build(enrichedInit, schema, "body"), storeDir,
      numPartitions = 2)
    val nsw = graft.pipeline.Nsw.build(enrichedInit, "__key", "emb",
      metric = "L2", numPartitions = 2, m = 4, efConstruction = 20)

    val engine = new graft.engine.SearchEngine
    engine.createIndex(schema, graft.sources.Documents.enrich(
      Ingest.readState(spark, statePath), schema))
    val maintainer = new IndexMaintainer(engine, "live2", schema,
      stores = Map(("body", PostingKind.Term) -> store),
      annIndexes = Map("emb" -> nsw),
      docsSource = Some(() => Ingest.readState(spark, statePath))).register()

    def textHits(term: String): Set[String] =
      engine.search("live2", s"@body:$term").collect()
        .map(_.getAs[String]("__key")).toSet
    def knnTop(v: Array[Float], k: Int): Seq[String] =
      engine.search("live2", s"*=>[KNN $k @emb $$q EF_RUNTIME 50]",
        graft.engine.SearchOptions(limit = (0, k),
          params = Map("q" -> graft.query.VectorParam(v)))).collect()
        .map(_.getAs[String]("__key")).toSeq

    assert(textHits("quantum") == Set("k2"))
    assert(knnTop(Array(0f, 0f, 0f, 1f), 1) == Seq("k1"))

    // stream: supersede k2 (term disappears), add k7 (term + new
    // vector), delete k1 (its exact-match vector must stop answering)
    val stream = MemoryStream[(String, String, String, Array[Float], Long)]
    stream.addData(
      ("upsert", "k2", "plain boring words", Array(0f, 0f, 1f, 0f), 1L),
      ("upsert", "k7", "quantum flux capacitor", Array(0.1f, 0f, 0f, 1f), 2L),
      ("delete", "k1", null, null, 3L))
    val changes = stream.toDF().toDF("op", "__key", "body", "emb", "__seq")
    val docSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("__key", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("body", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("emb",
        org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.FloatType))))
    val q = Ingest.start(spark, changes, statePath, ckpt, docSchema,
      onBatch = maintainer.onBatch)
    try { q.processAllAvailable() } finally q.stop()

    // posting queries reflect the batch: supersede removed k2's term,
    // k7's new doc is indexed — no rebuild ran
    assert(textHits("quantum") == Set("k7"))
    assert(textHits("boring") == Set("k2"))
    // ANN: the deleted doc no longer answers its own exact vector; the
    // new doc does (nearest to its slightly-shifted vector)
    val top = knnTop(Array(0f, 0f, 0f, 1f), 2)
    assert(!top.contains("k1"), s"deleted key still served: $top")
    assert(top.head == "k7", s"upserted vector not found: $top")
    // and the document relation itself advanced (new doc queryable)
    assert(engine.search("live2", "*").collect()
      .map(_.getAs[String]("__key")).toSet ==
      Set("k2", "k3", "k4", "k5", "k6", "k7"))
  }

  test("long change stream: auto-compaction keeps posting segments bounded") {
    val sp = spark; import sp.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-compact").toString
    val schema = IndexSchema("churn", Seq(FieldDef("body", TextField())))
    def corpus(round: Int): DataFrame =
      (1 to 30).map(i => (s"k$i", s"word$i round$round shared")).toDF("__key", "body")
    val store = graft.text.PostingStore.init(spark,
      graft.text.PostingIndex.build(
        graft.sources.Documents.enrich(corpus(0), schema), schema, "body"),
      s"$tmp/posting", numPartitions = 2)
    val engine = new graft.engine.SearchEngine
    engine.createIndex(schema, graft.sources.Documents.enrich(corpus(0), schema))
    val maintainer = new IndexMaintainer(engine, "churn", schema,
      stores = Map(("body", PostingKind.Term) -> store),
      compactRowThreshold = 60).register()

    // 8 rounds × full supersede of 10 docs: without compaction the
    // tombstones alone would reach 10 keys and the delta 8×30 rows;
    // with the threshold policy the segments stay bounded every round —
    // lookup cost (pruned main + O(segments)) stays flat under churn.
    var maxSegRows = 0L
    (1 to 8).foreach { r =>
      val batch = (1 to 10)
        .map(i => ("upsert", s"k$i", s"word$i round$r shared", r.toLong))
        .toDF("op", "__key", "body", "__seq")
      maintainer.onBatch(batch)
      maxSegRows = math.max(maxSegRows, store.deltaSize + store.tombSize)
    }
    assert(maxSegRows <= 60 + 40, // threshold + one batch's contribution
      s"segments grew to $maxSegRows rows — compaction policy broken")
    // and the relation is still exactly the rebuild of the final corpus
    val expected = graft.text.PostingIndex.build(
      graft.sources.Documents.enrich(
        (1 to 10).map(i => (s"k$i", s"word$i round8 shared")).toDF("__key", "body")
          .unionByName((11 to 30).map(i => (s"k$i", s"word$i round0 shared")).toDF("__key", "body")),
        schema), schema, "body")
    def asSet(df: DataFrame) = df.select("term", "__key").collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(asSet(store.view) == asSet(expected))
  }

  test("suffix store maintenance: pattern queries reflect churn without rebuild") {
    val sp = spark; import sp.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-sfxstore").toString
    val schema = IndexSchema("sfx", Seq(
      FieldDef("body", TextField(withSuffixTrie = true))))
    // fillers keep N large enough that the additive upper bound for
    // *dow (which counts a superseded token until compaction) stays
    // under the guard threshold after churn
    val fillers = (5 to 8).map(i => (s"k$i", s"filler$i payload"))
    var corpus = (Seq(("k1", "alpha window"), ("k2", "beta shadow"),
      ("k3", "gamma meadow")) ++ fillers).toDF("__key", "body")
    val store = graft.text.PostingStore.init(spark,
      graft.text.PostingIndex.buildSuffixes(
        graft.sources.Documents.enrich(corpus, schema), schema, "body"),
      s"$tmp/sfx", numPartitions = 2)
    val engine = new graft.engine.SearchEngine
    engine.createIndex(schema, graft.sources.Documents.enrich(corpus, schema))
    engine.postingRouteMaxSelectivity = 1.0
    val maintainer = new IndexMaintainer(engine, "sfx", schema,
      stores = Map(("body", PostingKind.Suffix) -> store),
      docsSource = Some(() => corpus)).register()

    def hits(q: String): (Set[String], Boolean) = {
      val df = engine.search("sfx", q, graft.engine.SearchOptions(noContent = true))
      (df.collect().map(_.getString(0)).toSet,
        df.queryExecution.optimizedPlan.toString.contains("LeftSemi"))
    }
    val (r0, routed0) = hits("@body:*dow")
    assert(routed0, "suffix pattern did not route through the store view")
    assert(r0 == Set("k1", "k2", "k3")) // window/shadow/meadow

    // churn: supersede k2 (loses *dow), add k4 (gains it), delete k3
    corpus = (Seq(("k1", "alpha window"), ("k2", "beta harbor"),
      ("k4", "delta widow")) ++ fillers).toDF("__key", "body")
    maintainer.onBatch(Seq(
      ("upsert", "k2", "beta harbor", 1L),
      ("upsert", "k4", "delta widow", 2L),
      ("delete", "k3", null, 3L)).toDF("op", "__key", "body", "__seq"))

    val (r1, routed1) = hits("@body:*dow")
    assert(routed1, "maintained view lost routing")
    assert(r1 == Set("k1", "k4"), s"stale suffix posting: $r1")
    // all three pattern classes answer through the maintained view
    assert(hits("@body:wi*")._1 == Set("k1", "k4"))   // window, widow
    assert(hits("@body:*arb*")._1 == Set("k2"))       // harbor
    // view ≡ suffix rebuild over the final corpus
    val rebuilt = graft.text.PostingIndex.buildSuffixes(
      graft.sources.Documents.enrich(corpus, schema), schema, "body")
    def asSet(df: org.apache.spark.sql.DataFrame) =
      df.select("term", "__key", "full").collect()
        .map(r => (r.getString(0), r.getString(1), r.getBoolean(2))).toSet
    assert(asSet(store.view) == asSet(rebuilt))
  }

  test("maintainer keeps guard stats: additive upper bound, exact after compaction") {
    val sp = spark; import sp.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-maintstats").toString
    val schema = IndexSchema("mstats", Seq(FieldDef("body", TextField())))
    var corpus = (1 to 20).map(i => (s"k$i", s"tok$i common")).toDF("__key", "body")
    val store = graft.text.PostingStore.init(spark,
      graft.text.PostingIndex.build(
        graft.sources.Documents.enrich(corpus, schema), schema, "body"),
      s"$tmp/posting", numPartitions = 2)
    val engine = new graft.engine.SearchEngine
    engine.createIndex(schema, graft.sources.Documents.enrich(corpus, schema))
    val maintainer = new IndexMaintainer(engine, "mstats", schema,
      stores = Map(("body", PostingKind.Term) -> store),
      docsSource = Some(() => corpus),
      compactRowThreshold = 1000).register()
    val opts = graft.engine.SearchOptions(noContent = true)

    // register() published exact stats: a singleton term routes with
    // estimate 1 and NO slice-count fallback ran (estimates are O(1))
    assert(engine.search("mstats", "@body:tok1", opts).collect()
      .map(_.getString(0)).toSeq == Seq("k1"))
    assert(engine.lastRouteEstimates == Seq(1L))

    // supersede k1: its old term's doc disappears, a new term arrives
    corpus = corpus.filter(col("__key") =!= "k1")
      .unionByName(Seq(("k1", "fresh1 common")).toDF("__key", "body"))
    maintainer.onBatch(
      Seq(("upsert", "k1", "fresh1 common", 1L)).toDF("op", "__key", "body", "__seq"))

    // the NEW term is priced from the maintained map (estimate 1) and
    // the query answers through the maintained view, no rebuild
    assert(engine.search("mstats", "@body:fresh1", opts).collect()
      .map(_.getString(0)).toSeq == Seq("k1"))
    assert(engine.lastRouteEstimates == Seq(1L))
    // the dead term keeps its count (additive upper bound — routing
    // stays sound, the view itself already dropped the row)
    assert(engine.search("mstats", "@body:tok1", opts).collect().isEmpty)
    assert(engine.lastRouteEstimates == Seq(1L))

    // force a compaction: stats snap back to exact — the dead term now
    // prices at 0 (routes trivially, still empty)
    val burst = (2 to 12).map(i => ("upsert", s"k$i", s"tok$i common extra", 2L))
      .toDF("op", "__key", "body", "__seq")
    corpus = corpus.filter(!col("__key").isin((2 to 12).map(i => s"k$i"): _*))
      .unionByName((2 to 12).map(i => (s"k$i", s"tok$i common extra")).toDF("__key", "body"))
    val mt = new IndexMaintainer(engine, "mstats", schema,
      stores = Map(("body", PostingKind.Term) -> store),
      docsSource = Some(() => corpus),
      compactRowThreshold = 1) // any batch triggers compact
    mt.onBatch(burst)
    assert(store.deltaSize == 0 && store.tombSize == 0, "compaction did not run")
    assert(engine.search("mstats", "@body:tok1", opts).collect().isEmpty)
    assert(engine.lastRouteEstimates == Seq(0L),
      s"stats not exact after compaction: ${engine.lastRouteEstimates}")
  }

  test("IndexMaintainer.forIndex: one call builds + maintains every derived index") {
    val sp = spark; import sp.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-forindex").toString
    val schema = IndexSchema("auto", Seq(
      FieldDef("cat", TagField()),
      FieldDef("body", TextField(withSuffixTrie = true)),
      FieldDef("emb", VectorField(dim = 4, metric = DistanceMetric.L2))))
    var corpus = Seq(
      ("k1", "tools", "window cleaner", Array(0f, 0f, 0f, 1f)),
      ("k2", "toys", "shadow puppet", Array(0f, 0f, 1f, 0f)),
      ("k3", "tools", "meadow rake", Array(0f, 1f, 0f, 0f)),
      ("k4", "misc", "quantum gadget", Array(1f, 0f, 0f, 0f)))
      .toDF("__key", "cat", "body", "emb")
    val engine = new graft.engine.SearchEngine
    engine.createIndex(schema, graft.sources.Documents.enrich(corpus, schema))
    engine.postingRouteMaxSelectivity = 1.0
    val m = IndexMaintainer.forIndex(engine, "auto", tmp,
      docsSource = Some(() => corpus), numPartitions = 2)

    def keys(q: String, opts: graft.engine.SearchOptions =
        graft.engine.SearchOptions(noContent = true)): Seq[String] =
      engine.search("auto", q, opts).collect()
        .map(_.getAs[String]("__key")).toSeq
    // term, tag, suffix-pattern and KNN all served from factory-built
    // structures (semi-join presence pins the posting routes)
    val term = engine.search("auto", "@body:shadow",
      graft.engine.SearchOptions(noContent = true))
    assert(term.queryExecution.optimizedPlan.toString.contains("LeftSemi"))
    assert(term.collect().map(_.getAs[String]("__key")).toSeq == Seq("k2"))
    assert(keys("@cat:{tools}").toSet == Set("k1", "k3"))
    assert(keys("@body:*dow").toSet == Set("k1", "k2", "k3"))
    // phrase served by the factory-built POSITIONAL posting
    val phr = engine.search("auto", "@body:\"window cleaner\"",
      graft.engine.SearchOptions(noContent = true))
    assert(phr.queryExecution.optimizedPlan.toString.contains("LeftSemi"))
    assert(phr.collect().map(_.getAs[String]("__key")).toSeq == Seq("k1"))
    val knnOpts = graft.engine.SearchOptions(limit = (0, 1),
      params = Map("q" -> graft.query.VectorParam(Array(0f, 0f, 0f, 1f))))
    assert(keys("*=>[KNN 1 @emb $q EF_RUNTIME 50]", knnOpts) == Seq("k1"))

    // one batch flows through every maintained structure
    corpus = Seq(
      ("k1", "tools", "window cleaner", Array(0f, 0f, 0f, 1f)),
      ("k2", "toys", "bright kite", Array(0f, 0f, 1f, 0f)),     // supersede
      ("k5", "tools", "widow spider", Array(0.1f, 0f, 0f, 1f))) // add
      .toDF("__key", "cat", "body", "emb")                      // k3,k4 deleted
    m.onBatch(Seq(
      ("upsert", "k2", "toys", "bright kite", Array(0f, 0f, 1f, 0f), 1L),
      ("upsert", "k5", "tools", "widow spider", Array(0.1f, 0f, 0f, 1f), 2L),
      ("delete", "k3", null, null, null, 3L),
      ("delete", "k4", null, null, null, 4L))
      .toDF("op", "__key", "cat", "body", "emb", "__seq"))

    assert(keys("@body:shadow").isEmpty)                   // superseded away
    assert(keys("@body:kite") == Seq("k2"))                // new term
    assert(keys("@body:*dow").toSet == Set("k1", "k5"))    // window, widow
    assert(keys("@cat:{tools}").toSet == Set("k1", "k5"))  // k3 deleted
    // maintained positional posting: the new doc's phrase matches, a
    // superseded doc's phrase does not
    assert(keys("@body:\"widow spider\"") == Seq("k5"))
    assert(keys("@body:\"shadow puppet\"").isEmpty)
    val knn2 = graft.engine.SearchOptions(limit = (0, 2),
      params = Map("q" -> graft.query.VectorParam(Array(1f, 0f, 0f, 0f))))
    val top = keys("*=>[KNN 2 @emb $q EF_RUNTIME 50]", knn2)
    assert(!top.contains("k4"), s"deleted vector still served: $top")
    assert(top.contains("k5"), s"upserted vector missing: $top")

    // saveIndex mid-churn snapshots the MAINTAINED views (store view =
    // main ⊖ tombstones ∪ delta materializes compacted; upserted NSW
    // graph rides along): a FRESH engine restored from the save serves
    // the post-churn corpus through re-attached structures, no rebuild
    // and no batch replay — the reference's RDB-after-mutations shape.
    val snap = java.nio.file.Files.createTempDirectory("graft-churn-save").toString
    engine.saveIndex("auto", snap)
    val e2 = new graft.engine.SearchEngine
    graft.engine.SearchEngine.loadIndex(spark, snap, e2)
    e2.postingRouteMaxSelectivity = 1.0
    def keys2(q: String, opts: graft.engine.SearchOptions =
        graft.engine.SearchOptions(noContent = true)): Seq[String] =
      e2.search("auto", q, opts).collect()
        .map(_.getAs[String]("__key")).toSeq
    val kite = e2.search("auto", "@body:kite",
      graft.engine.SearchOptions(noContent = true))
    assert(kite.queryExecution.optimizedPlan.toString.contains("LeftSemi"),
      "reloaded engine did not route via the snapshotted posting")
    assert(kite.collect().map(_.getAs[String]("__key")).toSeq == Seq("k2"))
    assert(keys2("@body:shadow").isEmpty)             // superseded pre-save
    assert(keys2("@body:\"widow spider\"") == Seq("k5"))
    assert(keys2("@cat:{tools}").toSet == Set("k1", "k5"))
    val topR = keys2("*=>[KNN 2 @emb $q EF_RUNTIME 50]", knn2)
    assert(topR.contains("k5") && !topR.contains("k4"), s"got $topR")
  }

  test("openIndex: maintained indexes survive a restart; batch replay is idempotent") {
    val sp = spark; import sp.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-reopen").toString
    val schema = IndexSchema("surv", Seq(
      FieldDef("body", TextField(withSuffixTrie = true)),
      FieldDef("emb", VectorField(dim = 4, metric = DistanceMetric.L2))))
    var corpus = Seq(
      ("k1", "quantum flux", Array(0f, 0f, 0f, 1f)),
      ("k2", "boring words", Array(0f, 0f, 1f, 0f)),
      ("k3", "meadow rake", Array(0f, 1f, 0f, 0f)))
      .toDF("__key", "body", "emb")
    val e1 = new graft.engine.SearchEngine
    e1.createIndex(schema, graft.sources.Documents.enrich(corpus, schema))
    e1.postingRouteMaxSelectivity = 1.0
    val m1 = IndexMaintainer.forIndex(e1, "surv", tmp,
      docsSource = Some(() => corpus), numPartitions = 2)
    val batch = Seq(
      ("upsert", "k4", "quantum gadget", Array(0.1f, 0f, 0f, 1f), 1L),
      ("delete", "k1", null, null, 2L))
      .toDF("op", "__key", "body", "emb", "__seq")
    corpus = Seq(
      ("k2", "boring words", Array(0f, 0f, 1f, 0f)),
      ("k3", "meadow rake", Array(0f, 1f, 0f, 0f)),
      ("k4", "quantum gadget", Array(0.1f, 0f, 0f, 1f)))
      .toDF("__key", "body", "emb")
    m1.onBatch(batch)
    m1.saveAnn(tmp) // ANN checkpoint AFTER the batch (stores commit per batch)

    // ---- the restart: new engine, stores re-OPENED, graph re-LOADED
    val e2 = new graft.engine.SearchEngine
    e2.createIndex(schema, graft.sources.Documents.enrich(corpus, schema))
    e2.postingRouteMaxSelectivity = 1.0
    val m2 = IndexMaintainer.openIndex(e2, "surv", tmp,
      docsSource = Some(() => corpus))
    // the checkpoint carries its replay watermark: saveAnn ran after
    // the __seq<=2 batch, so replay starts past 2
    assert(m2.annCheckpointSeq.contains(2L),
      s"watermark: ${m2.annCheckpointSeq}")
    // a saveAnn BEFORE the first replayed batch must NOT regress the
    // persisted watermark (appliedSeq seeds from the checkpoint)
    m2.saveAnn(tmp)
    val reread = {
      val ois = new java.io.ObjectInputStream(
        new java.io.FileInputStream(s"$tmp/ann_seq.bin"))
      try ois.readObject().asInstanceOf[java.lang.Long].longValue()
      finally ois.close()
    }
    assert(reread == 2L, s"watermark regressed to $reread")
    def keys(q: String, opts: graft.engine.SearchOptions =
        graft.engine.SearchOptions(noContent = true)): Seq[String] =
      e2.search("surv", q, opts).collect().map(_.getAs[String]("__key")).toSeq
    // every posting kind's store reopened and registered
    assert(e2.info("surv").filter(col("field") === "body").collect().head
      .getAs[String]("attached_indexes") ==
      "posting,suffix_posting,positional_posting")
    assert(keys("@body:quantum").toSet == Set("k4")) // k1 deleted, k4 added
    assert(e2.lastRouteEstimates.nonEmpty, "term did not route")
    assert(keys("@body:quan*").toSet == Set("k4")) // suffix store
    assert(e2.lastRouteEstimates.nonEmpty, "prefix did not route")
    assert(keys("@body:\"quantum gadget\"") == Seq("k4")) // positional store
    assert(e2.lastRouteEstimates.nonEmpty, "phrase did not route")
    val knn = graft.engine.SearchOptions(limit = (0, 1),
      params = Map("q" -> graft.query.VectorParam(Array(0f, 0f, 0f, 1f))))
    assert(keys("*=>[KNN 1 @emb $q EF_RUNTIME 50]", knn) == Seq("k4"))

    // at-least-once replay: re-applying the SAME batch converges (the
    // stores tombstone-then-add per key; the graph deletes-then-inserts)
    m2.onBatch(batch)
    assert(keys("@body:quantum").toSet == Set("k4"))
    assert(keys("*=>[KNN 1 @emb $q EF_RUNTIME 50]", knn) == Seq("k4"))

    // and fresh batches keep flowing after the reopen (state first,
    // then onBatch — the Ingest contract)
    corpus = corpus.unionByName(
      Seq(("k5", "quantum leap", Array(0f, 0.1f, 0f, 1f))).toDF("__key", "body", "emb"))
    m2.onBatch(Seq(("upsert", "k5", "quantum leap", Array(0f, 0.1f, 0f, 1f), 3L))
      .toDF("op", "__key", "body", "emb", "__seq"))
    assert(keys("@body:quantum").toSet == Set("k4", "k5"))
  }

  test("windowed stats: event-time windows with watermark, streaming plan") {
    val sp = spark; import sp.implicits._
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[(java.sql.Timestamp, String, Double)]
    def ts(min: Int) = java.sql.Timestamp.valueOf(f"2026-01-01 10:$min%02d:00")
    // two blocks → two micro-batches: the watermark advances at batch
    // boundaries, and append mode emits a window only once the
    // watermark passes its end
    stream.addData(
      (ts(1), "click", 1.0), (ts(2), "click", 3.0), (ts(5), "view", 10.0))
    stream.addData((ts(45), "click", 5.0)) // watermark → 10:40 ≫ 10:15
    val events = stream.toDF().toDF("ts", "event_type", "value")
    val agg = graft.streaming.WindowedStats.tumbling(
      events, "ts", Seq("event_type"), "value",
      window = "15 minutes", watermark = "5 minutes")
    assert(agg.isStreaming) // genuinely a streaming plan with state
    val q = agg.writeStream.format("memory").queryName("win_stats")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    try { q.processAllAvailable() } finally q.stop()
    // append mode emits only watermark-closed windows: the 10:00-10:15 ones
    val rows = spark.sql("SELECT * FROM win_stats ORDER BY event_type").collect()
    assert(rows.map(_.getAs[String]("event_type")).toSeq == Seq("click", "view"))
    val click = rows.head
    assert(click.getAs[Double]("n") == 2.0 && click.getAs[Double]("sum_value") == 4.0)
    assert(click.getAs[Double]("min_value") == 1.0 && click.getAs[Double]("max_value") == 3.0)
  }

  test("windowed stats: same plan runs in batch mode over events table") {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = Fixtures.table(spark, "/root/testdata/sf0.001", "events")
    // type-driven: the driver has shipped ts as TIMESTAMP(NANOS) and as
    // timestamp[us] across rounds (round-7 post-mortem)
    val df = raw.withColumn("ts", org.apache.spark.sql.functions.timestamp_seconds(
      Fixtures.tsSeconds(raw.schema("ts").dataType)))
    val agg = graft.streaming.WindowedStats.tumbling(
      df, "ts", Seq("event_type"), "value",
      window = "1 day", watermark = "1 hour")
    val n = agg.count()
    assert(n > 0)
    assert(agg.columns.contains("window_start") && agg.columns.contains("avg_value"))
  }
  test("stateful streaming dedup: duplicates flagged across micro-batches") {
    val sp = spark; import sp.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.StatefulDedup

    // simhashes: d2 is identical to d1; d3 within hamming 2; d4 far away
    val s1 = 0x0123456789ABCDEFL
    val s3 = s1 ^ 0x11L // flips 2 bits
    val s4 = ~s1
    val stream = MemoryStream[(String, Long)]
    stream.addData(("d1", s1), ("d4", s4))
    stream.addData(("d2", s1), ("d3", s3)) // later batch: dupes of d1

    // TTL ON here to pin the real operator shape (ProcessingTimeTimeout
    // path). That combination never self-terminates under AvailableNow —
    // shouldRunAnotherBatch stays true on every clock advance, so the
    // query re-triggers forever and even processAllAvailable() never
    // latches (see StatefulDedup scaladoc). The test therefore polls
    // the sink for the expected 16 decisions (4 docs × 4 bands) and
    // stops the query explicitly.
    val decisions = StatefulDedup.dedupDecisions(spark, stream.toDS(), maxHamming = 3)
    val q = decisions.writeStream.format("memory").queryName("dedup_out")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    try {
      val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
      def sunk(): Long =
        spark.sql("SELECT count(*) FROM dedup_out").collect()(0).getLong(0)
      while (sunk() < 16 && System.nanoTime() < deadline) Thread.sleep(200)
      assert(q.exception.isEmpty, s"query failed: ${q.exception}")
      assert(sunk() == 16, s"expected 16 band decisions, got ${sunk()}")
    } finally q.stop()

    val dup = spark.sql(
      """SELECT doc_key, max(CAST(is_duplicate AS INT)) AS dup,
        |  max(dup_of) AS src FROM dedup_out GROUP BY doc_key""".stripMargin)
      .collect().map(r => r.getString(0) -> (r.getInt(1) == 1, r.getString(2))).toMap
    assert(dup("d1") == (false, ""))
    assert(dup("d4") == (false, ""))
    assert(dup("d2")._1 && dup("d2")._2 == "d1") // exact dup, later batch (state)
    assert(dup("d3")._1 && dup("d3")._2 == "d1") // hamming-2 dup
  }

  test("drain mode (stateTtl=None): AvailableNow self-terminates cleanly") {
    val sp = spark; import sp.implicits._
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[(String, Long)]
    stream.addData(("a", 1L), ("b", 1L))
    val decisions = graft.streaming.StatefulDedup.dedupDecisions(
      spark, stream.toDS(), maxHamming = 0, stateTtl = None)
    val q = decisions.writeStream.format("memory").queryName("dedup_drain")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    // With NoTimeout the AvailableNow query terminates on its own
    // (this is what a ProcessingTimeTimeout state registration breaks).
    val terminated = q.awaitTermination(60000)
    assert(terminated, "AvailableNow drain query did not self-terminate")
    assert(q.exception.isEmpty, s"drain query failed: ${q.exception}")
    val n = spark.sql("SELECT count(*) FROM dedup_drain").collect()(0).getLong(0)
    assert(n == 8) // 2 docs × 4 bands
  }
}
