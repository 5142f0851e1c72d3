package graft.etl

import graft.{SparkSpec, Tables}
import graft.streaming.SegmentIngest
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Failure-injection CHAOS gate over the composed segment lifecycle
  * (VERDICT r12 #5): the CAS + tag + marker + steal + heal layers are
  * individually spec-pinned, but their guarantees COMPOSE — a kill
  * point that one layer tolerates must not violate another layer's
  * precondition. This spec runs 21 seeded randomized schedules
  * (7 per index family: MinHash, sparse BM25, IVFPQ) of
  * init → ingest batches → policy compactions, where each batch may
  * be replaced by a simulated crash at a randomized kill point, the
  * standard heal path (the SegmentIngest.once retry) then runs, and
  * the layout must ALWAYS serve exactly the fold-in oracle. The
  * between-batch maintenance coin chooses between the FULL fold
  * (compactInPlace) and the LEVELED tiered schedule (tieredMaintain
  * at fanout=2, so range merges actually fire at this depth) — the
  * merge path must compose with every kill point, the tag probes
  * (folded originals keep their tag dirs until vacuum) and the
  * keepLast=2 vacuum coin exactly as the fold path does.
  *
  * Kill points (each reconstructed by on-disk state surgery, the
  * SegmentIngestSpec technique — the state after the surgery is
  * byte-identical to the state after the real crash):
  *  - TMP_DEBRIS: died before publishSeg's bundle rename — a
  *    `_tmp_seg=` dir litters segs/; the retry's body re-runs and
  *    publishSeg clears the debris.
  *  - PUBLISH_NO_RECORD: died between the bundle rename and the
  *    manifest record — tagged dir exists, no retained version names
  *    it; the retry completes the RECORD, never the body.
  *  - RECORD_NO_MARKER: died between publishSeg and the batch
  *    marker — the retry completes the marker, never the body.
  *  - ORPHAN_CLAIM: a previous writer died holding the NEXT manifest
  *    version's claim — the batch's own record steals it after the
  *    TTL (backdated here) instead of crash-looping.
  *  - COMPACT_PARTIAL_BASE: a compactor died after writing (part of)
  *    the next base generation but before the manifest flip — the
  *    unreferenced dir is invisible to readers and the retried
  *    compaction overwrites it (writeOrdered mode=overwrite).
  */
class SegmentChaosSpec extends SparkSpec {

  private lazy val docs = Tables.documents(spark, sf)
    .select("doc_id", "text").cache()
  private lazy val emb = AnnIndex.prep(Tables.embeddings(spark, sf))
    .cache()
  private lazy val tfAll = SparseIndex.termFreqs(docs).cache()

  private def tableKey(df: DataFrame): Set[Seq[Any]] =
    df.collect().map(_.toSeq).toSet

  /** One index family under test: apply class-sliced appends/one
    * delete through the layout, and compare against a fold-in oracle
    * over the same ops. `appliedKey` must be a total-content key —
    * any drop, dupe or mis-scoped tombstone changes it. */
  private trait Fam {
    def init(root: String): Unit
    def append(root: String, cls: Int, tag: Option[String]): Unit
    def delete(root: String, tag: Option[String]): Unit
    def layoutKey(root: String): Set[Seq[Any]]
    def oracleKey(appendedCls: Seq[Int], deleted: Boolean)
        : Set[Seq[Any]]
  }

  // classes partition doc_id/vec_id space by % 4: class 0 is the
  // base; 1..3 are ingest shards; the delete retracts % 10 == 3 ids
  // (a subset spanning classes, valid only after all its classes are
  // in — schedules always delete AFTER appending 1 and 2)
  private def docCls(i: Int): DataFrame =
    docs.filter(col("doc_id") % 4 === i)
  private def delDocIds: DataFrame = docs.select("doc_id")
    .filter(col("doc_id") % 4 < 3 && col("doc_id") % 10 === 3)
  private def liveDocs(appended: Seq[Int], deleted: Boolean)
      : DataFrame = {
    val in = (0 +: appended).distinct
    val base = docs.filter((col("doc_id") % 4)
      .isin(in.map(Integer.valueOf): _*))
    if (deleted) base.join(delDocIds, Seq("doc_id"), "left_anti")
    else base
  }

  private object MinHashFam extends Fam {
    def init(root: String): Unit =
      MinHashSegments.init(NearDup.signatures(docCls(0)), root)
    def append(root: String, cls: Int, tag: Option[String]): Unit =
      MinHashSegments.appendSeg(spark, root, docCls(cls), tag = tag)
    def delete(root: String, tag: Option[String]): Unit =
      MinHashSegments.deleteSeg(spark, root, delDocIds, tag = tag)
    def layoutKey(root: String): Set[Seq[Any]] =
      tableKey(MinHashSegments.read(spark, root))
    def oracleKey(appended: Seq[Int], deleted: Boolean): Set[Seq[Any]] =
      tableKey(NearDup.signatures(liveDocs(appended, deleted)))
  }

  private object SparseFam extends Fam {
    private def tfCls(i: Int): DataFrame =
      tfAll.join(docCls(i).select("doc_id"), Seq("doc_id"), "left_semi")
    def init(root: String): Unit =
      SparseSegments.init(SparseIndex.build(tfCls(0)), root)
    def append(root: String, cls: Int, tag: Option[String]): Unit =
      SparseSegments.appendSeg(spark, root, tfCls(cls), tag = tag)
    def delete(root: String, tag: Option[String]): Unit =
      SparseSegments.deleteSeg(spark, root, delDocIds, tag = tag)
    def layoutKey(root: String): Set[Seq[Any]] = {
      val idx = SparseSegments.read(spark, root)
      tableKey(idx.plist) ++ tableKey(idx.tf) ++ tableKey(idx.dl)
    }
    def oracleKey(appended: Seq[Int], deleted: Boolean): Set[Seq[Any]] = {
      val tf = tfAll.join(liveDocs(appended, deleted).select("doc_id"),
        Seq("doc_id"), "left_semi")
      val idx = SparseIndex.build(tf)
      tableKey(idx.plist) ++ tableKey(idx.tf) ++ tableKey(idx.dl)
    }
  }

  private object PqFam extends Fam {
    private def embCls(i: Int): DataFrame =
      emb.filter(col("vec_id") % 4 === i)
    private def delVecIds: DataFrame = emb.select("vec_id").distinct()
      .filter(col("vec_id") % 4 < 3 && col("vec_id") % 10 === 3)
    def init(root: String): Unit =
      PqSegments.init(PqIndex.build(embCls(0)), root)
    def append(root: String, cls: Int, tag: Option[String]): Unit =
      PqSegments.appendSeg(spark, root, embCls(cls), tag = tag)
    def delete(root: String, tag: Option[String]): Unit =
      PqSegments.deleteSeg(spark, root, delVecIds, tag = tag)
    def layoutKey(root: String): Set[Seq[Any]] = {
      val idx = PqSegments.read(spark, root)
      tableKey(idx.codes)
    }
    // the dense oracle is the FOLD-IN chain on the same frozen books
    // (a from-scratch rebuild would retrain them — PqSegmentsSpec's
    // rule); fold order matters only op-to-op, which the schedule
    // preserves
    def oracleKey(appended: Seq[Int], deleted: Boolean): Set[Seq[Any]] = {
      var idx = PqIndex.build(embCls(0))
      appended.foreach(i => idx = PqIndex.append(idx, embCls(i)))
      if (deleted) idx = PqIndex.delete(idx, delVecIds)
      tableKey(idx.codes)
    }
  }

  private val KillPoints = Seq("CLEAN", "TMP_DEBRIS",
    "PUBLISH_NO_RECORD", "RECORD_NO_MARKER", "ORPHAN_CLAIM")

  private def fsOf(root: String) =
    new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Surgery: backdated orphan claim for the NEXT manifest version. */
  private def plantOrphanClaim(root: String): Unit = {
    val v = SegmentOps.resolveSnapshot(spark, root).version + 1
    val claim = new org.apache.hadoop.fs.Path(
      s"$root/manifest/claim_$v")
    val fs = fsOf(root)
    fs.create(claim, true).close()
    fs.setTimes(claim,
      System.currentTimeMillis() - SegmentOps.claimTtlMs(spark)
        - 60000L, -1)
  }

  /** Surgery: a dead writer's half-written bundle under segs/. */
  private def plantTmpDebris(root: String): Unit = {
    val n = SegmentOps.listSegs(spark, root).lastOption.fold(0)(_ + 1)
    fsOf(root).mkdirs(new org.apache.hadoop.fs.Path(
      s"$root/segs/_tmp_seg=$n-a/junk"))
  }

  /** Run one batch through the ingest idempotence layer with the
    * seeded kill point, then the HEAL retry; both paths must leave
    * the batch applied exactly once. */
  private def runBatch(fam: Fam, root: String, batchId: Long,
      kill: String)(body: Option[String] => Unit): Unit = {
    kill match {
      case "CLEAN" =>
        SegmentIngest.once(spark, root, batchId)(t => body(Some(t)))
      case "TMP_DEBRIS" =>
        plantTmpDebris(root)
        SegmentIngest.once(spark, root, batchId)(t => body(Some(t)))
      case "ORPHAN_CLAIM" =>
        plantOrphanClaim(root)
        SegmentIngest.once(spark, root, batchId)(t => body(Some(t)))
      case "PUBLISH_NO_RECORD" =>
        // the crashed attempt: published (tagged) then died before the
        // manifest record — roll the record back by deleting the
        // version it wrote (state surgery ≡ the real crash window)
        body(Some(SegmentIngest.batchTag(batchId)))
        val v = SegmentOps.resolveSnapshot(spark, root).version
        assert(fsOf(root).delete(new org.apache.hadoop.fs.Path(
          s"$root/manifest/v=$v"), false))
      case "RECORD_NO_MARKER" =>
        // the crashed attempt: published AND recorded, no marker
        body(Some(SegmentIngest.batchTag(batchId)))
    }
    // the heal retry (foreachBatch re-delivery): must complete
    // whatever the kill cut short and NEVER re-run the body
    val ranAgain = SegmentIngest.once(spark, root, batchId)(_ =>
      fail(s"heal retry after $kill re-ran the body"))
    assert(!ranAgain)
    assert(SegmentIngest.ingested(spark, root, batchId),
      s"batch $batchId not marked ingested after $kill heal")
  }

  private def fams = Seq(
    ("minhash", MinHashFam, MinHashSegments.compactInPlace(spark, _),
      (r: String) => MinHashSegments.tieredMaintain(spark, r,
        minRun = 2, fanout = 2, ratio = 3.0)),
    ("sparse", SparseFam, SparseSegments.compactInPlace(spark, _),
      (r: String) => SparseSegments.tieredMaintain(spark, r,
        minRun = 2, fanout = 2, ratio = 3.0)),
    ("pq", PqFam, PqSegments.compactInPlace(spark, _),
      (r: String) => PqSegments.tieredMaintain(spark, r,
        minRun = 2, fanout = 2, ratio = 3.0)))

  test("21 seeded kill-point schedules always heal to the fold-in oracle") {
    (0 until 21).foreach { seed =>
      val rng = new scala.util.Random(seed)
      val (famName, fam, compact, maintain) = fams(seed % 3)
      val root = java.nio.file.Files
        .createTempDirectory(s"graft_chaos_${famName}_$seed").toString
      val ctx = s"seed=$seed fam=$famName"
      fam.init(root)
      // script: append 1 | append 2 | delete — each batch gets a
      // seeded kill point; a seeded coin fires maintenance between
      // batches: either the full fold or the leveled tiered schedule
      // (fanout=2 so merges actually fire at this depth), with or
      // without a partial-base crash before a full fold
      val kills = Seq.fill(3)(KillPoints(rng.nextInt(KillPoints.size)))
      def maybeCompact(): Unit = if (rng.nextInt(3) == 0) {
        if (rng.nextBoolean()) {
          maintain(root)
          ()
        } else {
          if (rng.nextBoolean()) {
            // COMPACT_PARTIAL_BASE: a compactor died mid-base-write —
            // plant junk at the next generation's dir name
            val snap = SegmentOps.resolveSnapshot(spark, root)
            fsOf(root).mkdirs(new org.apache.hadoop.fs.Path(
              s"$root/${SegmentOps.nextBaseDir(snap)}/junk"))
          }
          compact(root)
        }
        // vacuum under the schedule, honoring the self-heal retention
        // precondition (SegmentIngest doc): keepLast ≥ 2 spans any
        // un-markered batch's publish-to-marker window, so releasing
        // the superseded generation here must never break a later heal
        if (rng.nextBoolean())
          SegmentOps.vacuum(spark, root, keepLast = 2)
      }
      runBatch(fam, root, 0L, kills(0))(t => fam.append(root, 1, t))
      // mid-schedule serve on a seeded coin: the layout must already
      // equal the oracle BETWEEN batches, not only at the end
      if (rng.nextBoolean())
        assert(fam.layoutKey(root) == fam.oracleKey(Seq(1), false),
          s"$ctx kills=${kills.mkString(",")}: mid-schedule serve " +
            "drifted after batch 0's heal")
      maybeCompact()
      runBatch(fam, root, 1L, kills(1))(t => fam.append(root, 2, t))
      maybeCompact()
      runBatch(fam, root, 2L, kills(2))(t => fam.delete(root, t))
      assert(fam.layoutKey(root) == fam.oracleKey(Seq(1, 2), true),
        s"$ctx kills=${kills.mkString(",")}: layout drifted from " +
          "the fold-in oracle")
    }
  }
}
