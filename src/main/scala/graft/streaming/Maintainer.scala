package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.engine.SearchEngine
import graft.model._
import graft.pipeline.Nsw
import graft.sources.Documents
import graft.text.{PostingKind, PostingStore}

/**
 * Derived-index maintenance for one index under continuous ingest —
 * the consumer [[Ingest.start]]'s `onBatch` hook was built for, and
 * the Spark-native form of the reference's per-mutation index updates
 * (src/index_schema.cc:964 ProcessMutation fans each keyspace event
 * out to every attached attribute index; text two-phase commit
 * src/indexes/text/text_index.h:94-99).
 *
 * Per deduped change batch (latest op per key — [[Ingest.dedupePerKey]]
 * shape, original change-feed columns):
 *
 *  - every attached [[PostingStore]] — one per (field, [[PostingKind]]):
 *    term, suffix or positional — receives the batch's posting rows
 *    (the kind's builder) + changed keys ([[PostingStore.applyBatch]],
 *    O(|batch| + segments), never O(corpus)), auto-compacts once the
 *    delta + tombstone segments exceed `compactRowThreshold` (the LSM
 *    policy: lookups pay O(segments) on top of the pruned main scan,
 *    so segments must stay bounded), and re-registers its fresh view
 *    with the engine;
 *  - every attached NSW graph receives the routed vector changes
 *    ([[Nsw.upsert]] — untouched partitions pass through; dead-heavy
 *    partitions rebuild locally) and re-registers. An upserted doc
 *    whose vector is missing/wrong-dim DELETES the key from the ANN
 *    index (enrichment nulls it — reference index_base.h:43-47
 *    untracked semantics);
 *  - optionally the document relation itself is re-registered from
 *    `docsSource` (a parquet-backed DataFrame resolves its file list
 *    at creation, so a stale handle would miss the batch's writes).
 *
 * After `onBatch` returns, FT.SEARCH text/tag/KNN queries through the
 * engine reflect the batch without any index rebuild.
 */
object IndexMaintainer {

  /**
   * Build every maintainable derived index for a registered index from
   * its CURRENT corpus and return a registered maintainer — the
   * Spark-native form of the reference attaching all per-field indexes
   * at FT.CREATE time and keeping them fresh per keyspace event
   * (index_schema.cc:964 fans each mutation to every attribute index):
   *
   *  - every (field, [[PostingKind]]) the kind applies to → a
   *    [[PostingStore]] under `dir/<kind.sub(alias)>`: term stores for
   *    TAG and stemmed TEXT fields, suffix stores for WITHSUFFIXTRIE
   *    fields, positional stores for TEXT fields under WITHOFFSETS;
   *  - VECTOR fields → an NSW graph built with the field's declared
   *    M / EF_CONSTRUCTION / metric.
   *
   * Wire the result into [[Ingest.start]]: `onBatch = m.onBatch`.
   */
  def forIndex(engine: SearchEngine, indexName: String, dir: String,
               docsSource: Option[() => DataFrame] = None,
               compactRowThreshold: Long = 100000,
               numPartitions: Int = 32): IndexMaintainer = {
    val (schema, docs) = engine.index(indexName)
    val spark = docs.sparkSession
    val stores = (for (fd <- schema.fields; kind <- PostingKind.values
                       if kind.applies(schema, fd))
      yield (fd.alias, kind) -> PostingStore.init(spark,
        kind.build(docs, schema, fd.alias), s"$dir/${kind.sub(fd.alias)}",
        numPartitions)).toMap
    val graphs = schema.fields.collect {
      case fd if fd.ftype.isInstanceOf[VectorField] =>
        val vf = fd.ftype.asInstanceOf[VectorField]
        // built here; checkpointed beside the stores by the saveAnn
        // below so [[openIndex]] restores without reconstruction
        // (further checkpoints are the caller's policy via
        // [[IndexMaintainer.saveAnn]], like RDB saves — stores need
        // none: they commit per batch)
        fd.alias -> Nsw.build(docs, schema.keyColumn, fd.alias,
          metric = vf.metric.name, numPartitions = numPartitions,
          m = vf.hnswM, efConstruction = vf.efConstruction)
    }.toMap
    val m = new IndexMaintainer(engine, indexName, schema, stores, graphs,
      docsSource, compactRowThreshold, statsDir = Some(dir)).register()
    // record the build-time watermark so a restart BEFORE the first
    // saveAnn still knows its replay point (= everything after build)
    if (graphs.nonEmpty) m.saveAnn(dir)
    m
  }

  /**
   * Restart path: re-open the derived indexes [[forIndex]] persisted
   * under `dir` — posting stores from their manifests (no rebuild;
   * orphans GC), ANN graphs from the last [[IndexMaintainer.saveAnn]]
   * checkpoint — and register everything. Catch-up: replay the change
   * stream from the consumer's checkpoint; both `PostingStore
   * .applyBatch` and `Nsw.upsert` delete-then-add per key, so
   * re-applying an already-applied batch is IDEMPOTENT and at-least-
   * once replay after a crash converges to the same state.
   */
  def openIndex(engine: SearchEngine, indexName: String, dir: String,
                docsSource: Option[() => DataFrame] = None,
                compactRowThreshold: Long = 100000): IndexMaintainer = {
    val (schema, docs) = engine.index(indexName)
    val spark = docs.sparkSession
    val stores = (for (fd <- schema.fields if PostingKind.postable(fd);
                       kind <- PostingKind.values;
                       sub = s"$dir/${kind.sub(fd.alias)}"
                       if graft.util.FsIO.exists(spark, s"$sub/MANIFEST"))
      yield (fd.alias, kind) -> PostingStore.open(spark, sub)).toMap
    // the replay watermark names the live checkpoint version
    val checkpointSeq: Option[Long] = graft.util.FsIO
      .readObj[java.lang.Long](spark, s"$dir/ann_seq.bin").map(_.longValue())
    val graphs = checkpointSeq.map { seq =>
      schema.fields.flatMap { fd =>
        val p = s"$dir/${fd.alias}__nsw/v$seq"
        if (!fd.ftype.isInstanceOf[VectorField]) None
        else if (graft.util.FsIO.isDir(spark, p))
          Some(fd.alias -> Nsw.load(spark, p))
        else
          // A valid watermark whose checkpoint dir is gone is a
          // CORRUPTED checkpoint (e.g. out-of-band deletion), not an
          // index without ANN — restoring zero graphs silently would
          // degrade every vector query with no signal. Fail loudly.
          throw new IllegalStateException(
            s"ANN watermark $seq names missing checkpoint dir $p " +
            s"for vector field ${fd.alias}")
      }.toMap
    }.getOrElse(Map.empty)
    val m = new IndexMaintainer(engine, indexName, schema, stores, graphs,
      docsSource, compactRowThreshold, statsDir = Some(dir))
    // restore the durable doc LSM BEFORE register(): adoption
    // re-registers the composed relation via createIndex, which drops
    // derived state — the same createIndex-then-register order as
    // onBatch. With a manifest present this is O(overlay); the first
    // post-restart batch then folds as an overlay instead of paying a
    // full state scan + base rewrite.
    m.adoptDocLsm()
    m.register()
    checkpointSeq.foreach { seq =>
      // surface the replay point: the caller replays the change feed
      // from the first __seq AFTER it. Seed the live watermark too —
      // a saveAnn BEFORE the first replayed batch must re-stamp the
      // checkpoint, not regress it to -1 — and pin the loaded version
      // so saveAnn never writes over the live graphs' backing files.
      m.annCheckpointSeq = Some(seq)
      m.seedAppliedSeq(seq)
      m.markOpenedVersion(seq)
    }
    m
  }
}

final class IndexMaintainer(
    engine: SearchEngine,
    indexName: String,
    schema: IndexSchema,
    // One store per (field, kind) with a registered posting: without
    // one, the posting would go stale under ingest and its routes would
    // MISS new documents (fetch-then-verify can drop false positives
    // but cannot resurrect unfetched keys).
    stores: Map[(String, PostingKind), PostingStore] = Map.empty,
    annIndexes: Map[String, Nsw.NswIndex] = Map.empty,
    docsSource: Option[() => DataFrame] = None,
    compactRowThreshold: Long = 100000,
    // Where guard stats persist as data (tiny term-sorted parquet per
    // field/kind) so vocabularies past the hot cap still route via
    // point-reads instead of falling off the stats path. forIndex/
    // openIndex pass their index dir; hand-wired maintainers may omit.
    statsDir: Option[String] = None) {

  private val ann = scala.collection.mutable.HashMap.from(annIndexes)

  private def spark = engine.index(indexName)._2.sparkSession

  /** Batch enrichment under the engine's CURRENT emulate-release pin —
    * the reference consults the knob per mutation
    * (index_schema.cc:713-727), so each maintenance batch re-reads it;
    * pre-1.3.0 emulation treats invalid data as a missing field
    * instead of whole-key dropping. */
  private def enrichDocs(raw: DataFrame): DataFrame = {
    val legacy = !engine.emulationEnabled(1, 3, 0)
    if (legacy) graft.engine.Metrics.legacyUsed("invalid_data_drops_key")
    Documents.enrich(raw, schema, legacyInvalidData = legacy)
  }

  // ------------------------------------------------------------------ //
  // LSM-shaped doc relation (docsSource mode). Rebuilding the relation //
  // from the full state EVERY batch makes the first query after a      //
  // batch O(corpus): measured at 500k docs, ~48 s of re-enrichment     //
  // (64-bucket state) or ~55 s of small-file scan (corpus-scaled       //
  // buckets) — per batch, forever. Instead the relation is maintained  //
  // the way the posting stores are: a maintainer-owned parquet BASE    //
  // (enriched lazily, persisted when text fields exist), a tombstone   //
  // key set, and a small enriched OVERLAY of the upserts since the     //
  // last compaction. The registered relation is                        //
  //   base ⊖ tombs ∪ overlay                                           //
  // so a post-batch query scans the CACHED base plus a broadcast       //
  // anti-join — O(batch + overlay) work, not O(corpus). Compaction     //
  // (overlay+tombs ≥ compactRowThreshold) rewrites the base from the   //
  // state — which, per the Ingest contract (state commits FIRST),      //
  // already includes the compacting batch — and clears the overlays.   //
  // The base lives in maintainer-owned files, NOT the DocState         //
  // generation dirs: those are GC'd one mutation interval after        //
  // supersession, which would break cache-miss recomputes of a pinned  //
  // snapshot.                                                          //
  // ------------------------------------------------------------------ //
  private var docBaseEnriched: Option[DataFrame] = None
  private var docTombs: Option[DataFrame] = None          // keyColumn only
  private var docOverlayRaw: Option[DataFrame] = None     // change-feed cols
  private var docOverlayEnriched: Option[DataFrame] = None
  private var docLsmRows: Long = 0L                       // overlay + tombs
  private var docBaseVersion: Int = -1
  // Durable LSM pieces (restart adoption): each overlay batch also
  // writes a tiny segment (`seg/v<k>/{keys,up}`, O(batch) rows) and the
  // manifest names the live (base version, segment list) — the
  // PostingStore commit discipline. openIndex then restores
  //   base ⊖ tombs ∪ overlay
  // with ZERO corpus work (no state scan, no base rewrite, no corpus
  // enrichment); before this, the first post-restart batch re-adopted
  // the base through a full state scan + write. Crash windows: a
  // segment without a manifest entry is an orphan (GC'd at adopt) and
  // its batch re-delivers (the stream checkpoint commits only after
  // onBatch returns), so at-least-once replay converges.
  private var docSegNext: Int = 0
  private val docLiveSegs = scala.collection.mutable.ArrayBuffer.empty[Int]
  private def docManifestPath = s"$docsDir/DOCLSM"
  private def writeDocManifest(): Unit =
    graft.util.FsIO.writeTextAtomic(spark, docManifestPath,
      s"v=$docBaseVersion;segs=${docLiveSegs.mkString(",")}")
  private def readDocManifest(): Option[(Int, Seq[Int])] =
    graft.util.FsIO.readText(spark, docManifestPath).map { txt =>
      txt.split(";", 2) match {
        case Array(v, s) if v.startsWith("v=") && s.startsWith("segs=") =>
          (v.drop(2).toInt,
            s.drop(5).split(",").filter(_.nonEmpty).map(_.toInt).toSeq)
        case _ => throw new java.io.IOException(
          s"torn doc-LSM manifest at $docManifestPath: $txt")
      }
    }
  private lazy val docsDir: String = statsDir.map(d => s"$d/__docsbase")
    .getOrElse(java.nio.file.Files
      .createTempDirectory(s"graft-docsbase-$indexName").toString)

  private def persistDf(df: DataFrame): DataFrame =
    df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

  /** Rewrite the base from `raw` (current state), release every LSM
    * piece, register the fresh relation. Keeps the previous version's
    * files one rewrite for in-flight queries (DocState's deferred-
    * delete discipline), GCs older ones. */
  private def rebuildDocBase(raw: DataFrame): Unit = {
    docBaseVersion += 1
    val path = s"$docsDir/v$docBaseVersion"
    raw.write.mode("overwrite").parquet(path)
    val newEnriched0 = enrichDocs(spark.read.parquet(path))
    val newEnriched =
      if (schema.textFields.nonEmpty) persistDf(newEnriched0) else newEnriched0
    Seq(docBaseEnriched, docTombs, docOverlayRaw, docOverlayEnriched)
      .foreach(_.foreach(_.unpersist(blocking = false)))
    docBaseEnriched = Some(newEnriched)
    docTombs = None; docOverlayRaw = None; docOverlayEnriched = None
    docLsmRows = 0L
    // commit point: the manifest names the new base with no live
    // segments (everything folded in); only THEN GC old bases (one
    // version of reader grace) and the folded segments
    docLiveSegs.clear()
    writeDocManifest()
    graft.util.FsIO.listSubdirs(spark, docsDir)
      .filter(n => n.startsWith("v") &&
        n.drop(1).forall(_.isDigit) && n.drop(1).toInt < docBaseVersion - 1)
      .foreach(n => graft.util.FsIO.deleteRecursive(spark, s"$docsDir/$n"))
    if (graft.util.FsIO.isDir(spark, s"$docsDir/seg"))
      graft.util.FsIO.deleteRecursive(spark, s"$docsDir/seg")
    engine.createIndex(schema, newEnriched, resident = false)
  }

  /** Fold one batch into the overlay/tombstones and register the
    * composed relation. O(batch + overlay); the base is untouched (its
    * cache survives re-registration — createIndex drops derived state,
    * not DataFrame persistence). */
  private def overlayDocBatch(rawUpserts: DataFrame,
                              changedKeys: DataFrame): Unit = {
    val keys = changedKeys.select(col("__key").as(schema.keyColumn))
    // durable segment FIRST (tiny: O(batch) rows, coalesced), then the
    // manifest names it — restart adoption replays these instead of
    // scanning the state
    val segId = docSegNext
    docSegNext += 1
    keys.coalesce(1).write.mode("overwrite")
      .parquet(s"$docsDir/seg/v$segId/keys")
    rawUpserts.coalesce(1).write.mode("overwrite")
      .parquet(s"$docsDir/seg/v$segId/up")
    docLiveSegs += segId
    writeDocManifest()
    val newTombs = persistDf(
      docTombs.fold(keys)(_.unionByName(keys)).distinct())
    val tombRows = newTombs.count()
    val newOverlayRaw = persistDf(docOverlayRaw
      .fold(rawUpserts)(o =>
        o.join(broadcast(keys), Seq(schema.keyColumn), "left_anti")
          .unionByName(rawUpserts)))
    val overlayRows = newOverlayRaw.count()
    val newOverlayEnriched = persistDf(
      enrichDocs(newOverlayRaw))
    Seq(docTombs, docOverlayRaw, docOverlayEnriched)
      .foreach(_.foreach(_.unpersist(blocking = false)))
    docTombs = Some(newTombs)
    docOverlayRaw = Some(newOverlayRaw)
    docOverlayEnriched = Some(newOverlayEnriched)
    docLsmRows = tombRows + overlayRows
    val composed = docBaseEnriched.get
      .join(broadcast(newTombs), Seq(schema.keyColumn), "left_anti")
      .unionByName(newOverlayEnriched)
    engine.createIndex(schema, composed, resident = false)
  }

  /** Restart adoption (openIndex path): restore the durable doc LSM —
    * base ⊖ tombs ∪ overlay — from the manifest's base version and
    * segment list, and register the composed relation. O(overlay) work:
    * no state scan, no base rewrite, no corpus enrichment (the base
    * parquet re-enriches lazily like any registered relation; it is
    * persisted when text fields exist, exactly as [[rebuildDocBase]]
    * leaves it). The segment fold replays LSM semantics in one join:
    * a key's overlay row survives iff its LATEST touching segment
    * upserted it (a later delete-only touch tombstones it); tombstones
    * hide every touched key's base row. Orphan segments (written but
    * never committed to the manifest — crash window) are GC'd; their
    * batches re-deliver via the stream checkpoint, idempotently.
    * Returns false when there is nothing to adopt (no docsSource or no
    * manifest — e.g. a maintainer that never processed a batch); the
    * first batch then rebuilds from the state as before. A manifest
    * naming a missing base dir is CORRUPTION and fails loudly (the ANN
    * watermark policy). */
  private[streaming] def adoptDocLsm(): Boolean =
    docsSource.nonEmpty && readDocManifest().exists { case (bv, segs) =>
      val kc = schema.keyColumn
      // the caller's pre-adoption registration (FT.CREATE MAINTAIN_OPEN
      // enriches the state, possibly resident=persisted) is superseded
      // here — release it or a full-corpus cache stays pinned for the
      // process lifetime (no-op when it was never persisted)
      val preAdoption = engine.index(indexName)._2
      val basePath = s"$docsDir/v$bv"
      if (!graft.util.FsIO.isDir(spark, basePath))
        throw new IllegalStateException(
          s"doc-LSM manifest names missing base dir $basePath")
      val baseEnriched0 = enrichDocs(spark.read.parquet(basePath))
      val baseEnriched =
        if (schema.textFields.nonEmpty) persistDf(baseEnriched0)
        else baseEnriched0
      docBaseEnriched = Some(baseEnriched)
      docBaseVersion = bv
      docLiveSegs.clear(); docLiveSegs ++= segs
      docSegNext = if (segs.isEmpty) 0 else segs.max + 1
      // GC orphan segments (on disk, not in the manifest)
      if (graft.util.FsIO.isDir(spark, s"$docsDir/seg"))
        graft.util.FsIO.listSubdirs(spark, s"$docsDir/seg")
          .filter(n => n.startsWith("v") && n.drop(1).forall(_.isDigit) &&
            !segs.contains(n.drop(1).toInt))
          .foreach(n => graft.util.FsIO.deleteRecursive(spark, s"$docsDir/seg/$n"))
      if (segs.isEmpty) {
        docTombs = None; docOverlayRaw = None; docOverlayEnriched = None
        docLsmRows = 0L
        engine.createIndex(schema, baseEnriched, resident = false)
      } else {
        val keysAll = segs.map(i =>
            spark.read.parquet(s"$docsDir/seg/v$i/keys")
              .withColumn("__segver", lit(i)))
          .reduce(_ unionByName _)
        val upAll = segs.map(i =>
            spark.read.parquet(s"$docsDir/seg/v$i/up")
              .withColumn("__segver", lit(i)))
          .reduce(_ unionByName _)
        val lastTouch = keysAll.groupBy(col(kc))
          .agg(max(col("__segver")).as("__lastver"))
          .withColumnRenamed(kc, "__lt_key")
        // change-feed rows carry "__key" (overlayDocBatch stores them
        // unrenamed and enrichment keys them), so join on that
        val overlayRaw0 = upAll.join(lastTouch,
            upAll("__key") === lastTouch("__lt_key") &&
              upAll("__segver") === lastTouch("__lastver"))
          .drop("__lt_key", "__lastver", "__segver")
        val newTombs = persistDf(keysAll.select(col(kc)).distinct())
        val newOverlayRaw = persistDf(overlayRaw0)
        val newOverlayEnriched = persistDf(enrichDocs(newOverlayRaw))
        docTombs = Some(newTombs)
        docOverlayRaw = Some(newOverlayRaw)
        docOverlayEnriched = Some(newOverlayEnriched)
        docLsmRows = newTombs.count() + newOverlayRaw.count()
        val composed = baseEnriched
          .join(broadcast(newTombs), Seq(kc), "left_anti")
          .unionByName(newOverlayEnriched)
        engine.createIndex(schema, composed, resident = false)
      }
      preAdoption.unpersist(blocking = false)
      true
    }

  /** Per-field guard stats for the maintained views of one
    * [[PostingKind]] (counting the kind's `statRows`, published as the
    * kind's engine stats), two-tier like [[graft.engine.PostingStats]]:
    *
    *  - HOT map (vocabulary ≤ hotCap): exact at [[register]] and after
    *    each compaction; between compactions [[onBatch]] adds the
    *    batch's term counts WITHOUT subtracting superseded rows — an
    *    additive UPPER bound (the view anti-joins dead rows out, the
    *    stats don't). Sound for the routing guard: over-estimates can
    *    only over-reject into the always-correct columnar scan.
    *  - Persisted RELATION (`statsDir` configured, i.e. via
    *    [[IndexMaintainer.forIndex]]/[[IndexMaintainer.openIndex]]):
    *    the same counts as tiny term-sorted parquet, refreshed at each
    *    exact(); between refreshes a driver OVERLAY holds counts of
    *    the terms CHANGED since — bounded by the accumulated delta
    *    vocabulary, which compaction clears, so it never grows past
    *    ~compactRowThreshold entries even for 100-TB vocabularies.
    *
    * Past the hot cap, the engine's guard point-reads the relation
    * (+overlay) instead of counting a posting slice — the round-4
    * scale fix. No statsDir + past the cap ⇒ the field's conjuncts
    * stay on the scan path (hand-wired test maintainers). */
  private final class GuardStats(kind: PostingKind) {
    val hot = scala.collection.mutable.HashMap.empty[String, Map[String, Long]]
    private val overlays = scala.collection.mutable.HashMap.empty[String, Map[String, Long]]
    private val rels = scala.collection.mutable.HashMap.empty[String, DataFrame]
    private val gen = scala.collection.mutable.HashMap.empty[String, Int]

    def tracks(field: String): Boolean =
      hot.contains(field) || rels.contains(field)

    private def publishNow(field: String): Unit = {
      engine.registerPostingStats(indexName, field,
        graft.engine.PostingStats(hot.get(field), rels.get(field),
          () => overlays.getOrElse(field, Map.empty)), kind)
      ()
    }

    private def merge(m0: Map[String, Long],
                      adds: Array[(String, Long)]): Map[String, Long] =
      adds.foldLeft(m0) { case (acc, (t, c)) =>
        acc.updated(t, acc.getOrElse(t, 0L) + c) }

    /** Exact stats from the current view: persist the relation (when
      * statsDir is set), refresh the hot cache, clear the overlay. */
    def exact(field: String, statRows: DataFrame): Unit = {
      import graft.engine.PostingStats
      overlays.remove(field)
      statsDir match {
        case Some(d) =>
          val base = s"$d/${kind.guardStatsSub(field)}"
          val g = gen.getOrElse(field, -1) + 1
          PostingStats.save(PostingStats.compute(statRows), s"$base/g$g")
          // one superseded generation stays for reader grace
          if (g >= 2) graft.util.FsIO.deleteRecursive(spark, s"$base/g${g - 2}")
          gen(field) = g
          val st = PostingStats.fromRelation(PostingStats.load(spark, s"$base/g$g"))
          rels(field) = st.relation.get
          st.hot match {
            case Some(m) => hot(field) = m
            case None => hot.remove(field); ()
          }
        case None =>
          val rows = PostingStats.compute(statRows)
            .limit(PostingStats.hotCap + 1).collect()
          if (rows.length <= PostingStats.hotCap)
            hot(field) = rows.map(r => r.getString(0) -> r.getLong(1)).toMap
          else hot.remove(field)
          rels.remove(field)
      }
      publishNow(field)
    }

    /** Fold one batch's term counts in (additive upper bound). */
    def add(field: String, batchCounts: Array[(String, Long)]): Unit =
      if (tracks(field)) {
        hot.get(field).foreach { m0 =>
          val merged = merge(m0, batchCounts)
          if (merged.size <= graft.engine.PostingStats.hotCap) hot(field) = merged
          else hot.remove(field)
        }
        if (rels.contains(field))
          overlays(field) = merge(overlays.getOrElse(field, Map.empty), batchCounts)
        publishNow(field)
      }
  }
  private val guards = PostingKind.values.map(k => k -> new GuardStats(k)).toMap

  /** Apply one batch's posting rows to a store: stats sample before the
    * rows are consumed, LSM apply, threshold compaction, view + stats
    * re-registration. */
  private def maintainStore(field: String, kind: PostingKind,
                            store: PostingStore, rows: DataFrame,
                            changedKeys: DataFrame): Unit = {
    val stats = guards(kind)
    // batch term counts BEFORE applyBatch consumes the rows (small:
    // O(|batch| vocabulary) on the driver, like the reference bumping
    // its radix posting sizes per mutation)
    val batchCounts =
      if (stats.tracks(field))
        kind.statRows(rows).groupBy(col("term")).count().collect()
          .map(r => r.getString(0) -> r.getLong(1))
      else Array.empty[(String, Long)]
    store.applyBatch(rows, changedKeys)
    val compacted = store.deltaSize + store.tombSize >= compactRowThreshold
    if (compacted) store.compact()
    engine.registerPosting(indexName, field, store.view, kind)
    if (compacted) stats.exact(field, kind.statRows(store.view))
    else stats.add(field, batchCounts)
  }

  /** Current ANN index for a field (advances as batches apply). */
  def annIndex(field: String): Nsw.NswIndex = ann(field)

  /** Highest `__seq` applied by [[onBatch]] so far (-1 before any
    * batch). [[saveAnn]] persists it so a restart knows the replay
    * point. */
  @volatile private var appliedSeq: Long = -1L
  private[streaming] def seedAppliedSeq(seq: Long): Unit =
    appliedSeq = math.max(appliedSeq, seq)
  /** The `__seq` recorded by the last [[saveAnn]] this maintainer was
    * opened from (None for a fresh [[IndexMaintainer.forIndex]]).
    * After [[IndexMaintainer.openIndex]], the caller must REPLAY the
    * change feed from the first `__seq` greater than this — the
    * posting stores are ahead (they commit per batch) but idempotent
    * to the overlap, while the ANN graphs hold exactly this point. */
  @volatile var annCheckpointSeq: Option[Long] = None

  /** The checkpoint version this maintainer's graphs were LOADED from
    * (None when built fresh) — that version's files back the live
    * in-memory Datasets and must never be overwritten or GC'd. */
  private var openedAnnVersion: Option[Long] = None
  private[streaming] def markOpenedVersion(v: Long): Unit =
    openedAnnVersion = Some(v)

  /** The version the last completed [[saveAnn]] stamped this session
    * (skip-rewrite signal: saving the same seq twice would write over
    * the files the first save produced). */
  private var lastStampedVersion: Option[Long] = None

  /** Checkpoint every ANN graph under `dir` (`<alias>__nsw/v<seq>` —
    * VERSIONED: a loaded graph's Dataset lazily reads its checkpoint
    * files, so writing over them would pull the files out from under
    * the live index) plus the replay watermark (`ann_seq.bin`) — the
    * RDB save shape. Posting stores need no equivalent (they commit
    * per batch); graphs are memory-resident between checkpoints, and
    * [[IndexMaintainer.openIndex]] + stream replay from the recorded
    * watermark (idempotent per batch) covers the gap after a crash.
    *
    * Crash-at-any-point safe, mirroring [[graft.text.PostingStore]]'s
    * commit protocol: (1) write the NEW version dirs; (2) commit the
    * watermark by tmp + atomic rename; (3) only THEN GC stale
    * versions. A crash before (2) leaves the old watermark pointing at
    * dirs the not-yet-run GC hasn't touched; a crash after (2) leaves
    * the new complete state with at worst stale dirs a later save
    * collects. The watermark file itself is never torn (rename). */
  def saveAnn(dir: String): Unit = {
    val spark = engine.index(indexName)._2.sparkSession
    val v = appliedSeq
    // same version already on disk ⇒ don't rewrite the live files
    val onDisk = openedAnnVersion.contains(v) || lastStampedVersion.contains(v)
    if (!onDisk)
      ann.foreach { case (f, idx) => Nsw.save(idx, s"$dir/${f}__nsw/v$v") }
    graft.util.FsIO.writeObjAtomic(spark, s"$dir/ann_seq.bin",
      java.lang.Long.valueOf(v)) // ← commit point
    lastStampedVersion = Some(v)
    // GC strictly AFTER the commit is durable: keep the just-stamped
    // version and the one the live in-memory graphs were opened from.
    val keep = Set(s"v$v") ++ openedAnnVersion.map(ov => s"v$ov")
    ann.keys.foreach { f =>
      graft.util.FsIO.listSubdirs(spark, s"$dir/${f}__nsw")
        .filter(n => n.startsWith("v") && !keep.contains(n))
        .foreach(n => graft.util.FsIO.deleteRecursive(spark, s"$dir/${f}__nsw/$n"))
    }
  }

  /** Register the initial views/graphs with the engine (call once,
    * before the stream starts — queries work from the first batch on). */
  def register(): this.type = {
    stores.foreach { case ((f, kind), s) =>
      engine.registerPosting(indexName, f, s.view, kind)
      guards(kind).exact(f, kind.statRows(s.view))
    }
    ann.foreach { case (f, idx) => engine.registerAnn(indexName, f, idx) }
    this
  }

  /** The `onBatch` hook for [[Ingest.start]]. */
  def onBatch(batch: DataFrame): Unit = {
    if (stores.isEmpty && ann.isEmpty && docsSource.isEmpty) return
    val upserts = batch.filter(col("op") === "upsert").drop("op", "__seq")
    val enriched = enrichDocs(upserts)
    val changedKeys = batch.select(col("__key").cast("string").as("__key"))

    // refresh the docs relation FIRST: createIndex drops ALL derived
    // state for the index (it describes the previous relation), so
    // the store/ann registrations below must come after it — the
    // same createIndex-then-register order every other caller uses.
    // LSM discipline (see rebuildDocBase/overlayDocBatch): adoption and
    // compaction rebuild from src() — which already INCLUDES this batch
    // (Ingest contract: state commits first) — every other batch folds
    // into the overlay in O(batch + overlay).
    docsSource.foreach { src =>
      val old = engine.index(indexName)._2
      if (docBaseEnriched.isEmpty || docLsmRows >= compactRowThreshold) {
        rebuildDocBase(src())
        // the pre-LSM relation (FT.CREATE's direct state enrichment)
        // may have been persisted by its creator; release it once
        if (docBaseVersion == 0) old.unpersist(blocking = false)
      } else overlayDocBatch(upserts, changedKeys)
      ()
    }

    stores.foreach { case ((field, kind), store) =>
      maintainStore(field, kind, store, kind.build(enriched, schema, field),
        changedKeys)
    }

    ann.keys.toSeq.foreach { field =>
      val alias = schema.fieldOrFail(field).alias
      val up = enriched.select(
        when(col(alias).isNotNull, lit("upsert")).otherwise(lit("delete")).as("op"),
        col(schema.keyColumn).cast("string").as("__key"),
        col(alias).cast("array<float>").as("vec"))
      val del = batch.filter(col("op") === "delete").select(
        lit("delete").as("op"), col("__key").cast("string").as("__key"),
        lit(null).cast("array<float>").as("vec"))
      val next = Nsw.upsert(ann(field), up.unionByName(del))
      ann(field) = next
      engine.registerAnn(indexName, field, next)
    }

    // a batch fully applied means the index serves current data — for a
    // SKIPINITIALSCAN index the stream IS the initial fill (FT.INFO
    // state flips to ready; steady-state mutations are not backfill)
    engine.markReady(indexName)
    // advance the replay watermark LAST: a saveAnn racing with (or a
    // failure interrupting) this batch must never stamp a seq whose
    // changes the saved graphs do not hold
    if (batch.columns.contains("__seq")) {
      val row = batch.agg(max(col("__seq").cast("long"))).collect()(0)
      if (!row.isNullAt(0)) appliedSeq = math.max(appliedSeq, row.getLong(0))
    }
    ()
  }
}
