package graft.etl

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Tiered compaction contract ([[MinHashSegments.mergeSegs]]): folding
  * the k oldest segments into ONE merged segment must be invisible to
  * every reader (view ≡ pre-merge ≡ re-signing the survivors), must
  * preserve tombstone scoping across the merge boundary in BOTH
  * directions, must cost O(folded deltas) — the base is never
  * rewritten — and must compose with the manifest layer's concurrency
  * and crash rules (append carries through the flip; a crash between
  * bundle publish and flip leaves vacuum-collectable debris; old
  * snapshots replay until vacuumed).
  */
class TieredMergeSpec extends SparkSpec {

  private lazy val docs = Tables.documents(spark, sf)
    .select("doc_id", "text").cache()

  private def cls(i: Int): DataFrame = docs.filter(col("doc_id") % 4 === i)

  private def sigKey(df: DataFrame): Set[Seq[Any]] =
    df.collect().map(_.toSeq).toSet

  private def tmpRoot(tag: String): String =
    java.nio.file.Files.createTempDirectory(tag).toString

  private def baseMtimes(root: String): Map[String, Long] = {
    val p = new org.apache.hadoop.fs.Path(s"$root/base")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.listStatus(new org.apache.hadoop.fs.Path(p, "minhash_index"))
      .map(st => st.getPath.getName -> st.getModificationTime).toMap
  }

  test("merge of an append run == unmerged view == re-signing; base never rewritten") {
    val root = tmpRoot("graft_merge_appends")
    MinHashSegments.init(NearDup.signatures(cls(0)), root)
    MinHashSegments.appendSeg(spark, root, cls(1))
    MinHashSegments.appendSeg(spark, root, cls(2))
    MinHashSegments.appendSeg(spark, root, cls(3))
    val before = sigKey(MinHashSegments.read(spark, root))
    val mt0 = baseMtimes(root)
    MinHashSegments.mergeSegs(spark, root, 2) // folds segs 0,1
    assert(baseMtimes(root) == mt0,
      "tiered merge must never touch base files")
    val snap = SegmentOps.resolveSnapshot(spark, root)
    assert(snap.segs.size == 2,
      s"expected [merged, seg2], got ${snap.segs.map(_._2)}")
    // all-append range keeps kind 'a' (vacuous-tombs elision) and
    // reuses the range's highest number so sorted reads keep its slot
    assert(snap.segs.head._3 == 'a' && snap.segs.head._1 == 1,
      s"merged entry should be (1, 'a'), got ${snap.segs.head}")
    assert(sigKey(MinHashSegments.read(spark, root)) == before)
    assert(before == sigKey(NearDup.signatures(docs)))
    // folded originals stay on disk until vacuum releases them with
    // their versions; afterwards only the named dirs remain
    val removed = SegmentOps.vacuum(spark, root)
    assert(removed.exists(_.contains("seg=0-a")) &&
      removed.exists(_.contains("seg=1-a")),
      s"vacuum must release the folded originals, removed: $removed")
    assert(sigKey(MinHashSegments.read(spark, root)) == before)
  }

  test("tombstone scoping straddles the merge boundary both ways") {
    // delete-then-revise WITHIN the merged range: the merge collapses
    // it to the revision; a delete AFTER the merge still masks
    // merged adds; base stays masked by merged tombs
    val root = tmpRoot("graft_merge_scope")
    MinHashSegments.init(NearDup.signatures(cls(0)), root)
    MinHashSegments.appendSeg(spark, root, cls(1))
    val revIds = docs.select("doc_id")
      .filter(col("doc_id") % 4 === 0 && col("doc_id") % 3 === 0)
    MinHashSegments.deleteSeg(spark, root, revIds) // deletes base docs
    val revised = docs.join(revIds, Seq("doc_id"), "left_semi")
      .withColumn("text", concat(col("text"), lit(" revised")))
    MinHashSegments.appendSeg(spark, root, revised)
    // segs: [a(c1), d(rev), a(revised)] — merge ALL THREE: the
    // within-range scoping must keep c1 + revised, the merged tombs
    // must keep masking the base originals
    MinHashSegments.mergeSegs(spark, root, 3)
    val snap = SegmentOps.resolveSnapshot(spark, root)
    assert(snap.segs.map(e => (e._1, e._3)) == Seq((2, 'm')),
      s"expected one merged 'm' segment, got ${snap.segs}")
    val corpus = cls(0).unionByName(cls(1)) // what the layout holds
    val expect = NearDup.signatures(
      corpus.join(revIds, Seq("doc_id"), "left_anti")
        .unionByName(revised))
    assert(sigKey(MinHashSegments.read(spark, root)) == sigKey(expect),
      "delete-then-revise inside the merged range drifted")
    // now delete some MERGED adds after the merge: the later delete
    // segment must mask the merged segment's rows
    val delAfter = docs.select("doc_id").filter(col("doc_id") % 4 === 1
      && col("doc_id") % 5 === 0)
    MinHashSegments.deleteSeg(spark, root, delAfter)
    val expect2 = NearDup.signatures(
      corpus.join(revIds, Seq("doc_id"), "left_anti")
        .unionByName(revised)
        .join(delAfter, Seq("doc_id"), "left_anti"))
    assert(sigKey(MinHashSegments.read(spark, root)) == sigKey(expect2),
      "a post-merge delete failed to mask merged adds")
  }

  test("repeated merges re-fold a merged segment; old snapshots replay until vacuumed") {
    val root = tmpRoot("graft_merge_repeat")
    MinHashSegments.init(NearDup.signatures(cls(0)), root)
    MinHashSegments.appendSeg(spark, root, cls(1))
    MinHashSegments.appendSeg(spark, root, cls(2))
    MinHashSegments.mergeSegs(spark, root, 2) // m1 = c1+c2 at n=1
    val vAfterFirst = SegmentOps.resolveSnapshot(spark, root).version
    MinHashSegments.appendSeg(spark, root, cls(3))
    MinHashSegments.mergeSegs(spark, root, 2) // m2 = m1+c3 at n=2
    val snap = SegmentOps.resolveSnapshot(spark, root)
    assert(snap.segs.size == 1 && snap.segs.head._1 == 2)
    assert(sigKey(MinHashSegments.read(spark, root))
      == sigKey(NearDup.signatures(docs)))
    // time travel to the first merge's snapshot still replays
    assert(sigKey(MinHashSegments.readAt(spark, root, vAfterFirst))
      == sigKey(NearDup.signatures(
        docs.filter(col("doc_id") % 4 =!= 3))))
  }

  test("a concurrent append carries through the merge flip; a concurrent merge fails loud") {
    val root = tmpRoot("graft_merge_carry")
    SegmentOps.publishManifest(spark, root, "base",
      Seq("seg=0-a", "seg=1-a", "seg=2-a"))
    val from = SegmentOps.resolveSnapshot(spark, root)
    // an append lands between the fold and the flip
    SegmentOps.recordSegInManifest(spark, root, "seg=3-a")
    val v = SegmentOps.flipMergedAt(spark, root, from, 0, 2, "seg=1-a-g2")
    val snap = SegmentOps.resolveSnapshotAt(spark, root, v)
    assert(snap.segs.map(_._2) == Seq("seg=1-a-g2", "seg=2-a", "seg=3-a"),
      s"carry failed: ${snap.segs.map(_._2)}")
    // a second merger that folded the SAME prefix must refuse — the
    // prefix no longer heads the snapshot
    val e = intercept[IllegalArgumentException](
      SegmentOps.flipMergedAt(spark, root, from, 0, 2, "seg=1-a-g9"))
    assert(e.getMessage.contains("concurrent merge"))
  }

  test("mid-range merge: survivors on BOTH sides keep their scoping") {
    // layout [a1, a2, d(rev), a4] with the delete INSIDE the merged
    // range revising docs from a1 (before the range) and the base;
    // merge positions [1, 3) — the merged tombs must still mask a1
    // and base, and the post-range survivor must be untouched
    val root = tmpRoot("graft_merge_mid")
    MinHashSegments.init(NearDup.signatures(cls(0)), root)
    MinHashSegments.appendSeg(spark, root, cls(1))
    MinHashSegments.appendSeg(spark, root, cls(2))
    val revIds = docs.select("doc_id")
      .filter(col("doc_id") % 4 <= 1 && col("doc_id") % 3 === 0)
    MinHashSegments.deleteSeg(spark, root, revIds) // hits base + a1
    MinHashSegments.appendSeg(spark, root, cls(3))
    val before = sigKey(MinHashSegments.read(spark, root))
    MinHashSegments.mergeSegsAt(spark, root, from = 1, k = 2)
    val snap = SegmentOps.resolveSnapshot(spark, root)
    // merged range [a2(n=1), d(n=2)] reuses highest number 2, mixed
    // kinds -> 'm'; survivors a1 (before) and a3-dir (after) keep
    // their slots in number order
    assert(snap.segs.map(e => (e._1, e._3)) ==
      Seq((0, 'a'), (2, 'm'), (3, 'a')),
      s"unexpected layout ${snap.segs}")
    assert(sigKey(MinHashSegments.read(spark, root)) == before,
      "mid-range merge changed the composed view")
    val expect = NearDup.signatures(
      docs.filter(col("doc_id") % 4 <= 2)
        .join(revIds, Seq("doc_id"), "left_anti")
        .unionByName(cls(3)))
    assert(before == sigKey(expect), "pre-merge view was already wrong")
  }

  test("tieredPlan: fresh runs first, merged segments never re-absorbed nightly") {
    import SegmentOps.{SegStat, tieredPlan}
    def fresh(r: Long) = SegStat(isMerged = false, rows = r)
    def merged(r: Long) = SegStat(isMerged = true, rows = r)
    // the x107 trap layout: standing merged + young fresh churn —
    // the plan must fold ONLY the fresh run, never the merged head
    assert(tieredPlan(Seq(merged(100), fresh(10), fresh(12)))
      == Some((1, 2)))
    // a single fresh segment is not a run
    assert(tieredPlan(Seq(merged(100), fresh(10))).isEmpty)
    // the OLDEST maximal fresh run wins, and runs don't jump gaps
    assert(tieredPlan(Seq(fresh(1), fresh(1), merged(50), fresh(1),
      fresh(1), fresh(1))) == Some((0, 2)))
    // geometric rule: 4 similar-size merged peers fold together...
    assert(tieredPlan(Seq(merged(10), merged(11), merged(9),
      merged(10))) == Some((0, 4)))
    // ...but a standing large merged segment breaks the window (the
    // ratio guard) — the young peers alone are below fanout
    assert(tieredPlan(Seq(merged(1000), merged(10), merged(11),
      merged(9))).isEmpty)
    // ...until they reach fanout among themselves
    assert(tieredPlan(Seq(merged(1000), merged(10), merged(11),
      merged(9), merged(10))) == Some((1, 4)))
    // empty and all-below-threshold layouts plan nothing
    assert(tieredPlan(Seq.empty).isEmpty)
    assert(tieredPlan(Seq(merged(10), merged(11))).isEmpty)
  }

  test("tieredMaintain long horizon: geometric rule fires; view == re-signing") {
    // 4 synthetic nights with fanout=2 so the merged-run rule fires
    // inside the horizon: nightly pairs fold to merged segs, the
    // similar-size merged pair then folds again in the SAME maintain
    // call (the cascade) — every row rewritten O(log) times, base
    // never touched
    val root = tmpRoot("graft_merge_horizon")
    MinHashSegments.init(NearDup.signatures(cls(0)), root)
    val mt0 = baseMtimes(root)
    val nights = Seq(cls(1), cls(2), cls(3))
    var merges = 0
    nights.foreach { delta =>
      MinHashSegments.appendSeg(spark, root, delta)
      merges += MinHashSegments.tieredMaintain(spark, root,
        minRun = 2, fanout = 2, ratio = 3.0)
    }
    // trace: n1 [a1] 0; n2 [a1,a2]->m12 (1); n3 [m12,a3] — fresh run
    // len 1, merged run len 1: no fire. Append one more class-sized
    // delta (re-keyed clone of class 1 beyond the id space) to
    // complete both runs and cascade: [m12, a3, a4'] -> fresh? no —
    // a3,a4' fold (fresh run), then [m12, m34'] folds (geometric,
    // ratio 3 admits 2n vs 2n)
    val maxId = docs.agg(max(col("doc_id"))).head().getLong(0)
    val clone = cls(1).withColumn("doc_id", col("doc_id") + maxId + 1)
    MinHashSegments.appendSeg(spark, root, clone)
    merges += MinHashSegments.tieredMaintain(spark, root,
      minRun = 2, fanout = 2, ratio = 3.0)
    val snap = SegmentOps.resolveSnapshot(spark, root)
    assert(snap.segs.size == 1 &&
      SegmentOps.isMergedName(snap.segs.head._2),
      s"cascade should leave one merged segment, got ${snap.segs}")
    assert(merges == 3, s"expected 3 merges (m12, then m34' + the " +
      s"geometric cascade in one maintain call), got $merges")
    assert(baseMtimes(root) == mt0,
      "tiered maintenance must never touch base files")
    assert(sigKey(MinHashSegments.read(spark, root))
      == sigKey(NearDup.signatures(docs.unionByName(clone))))
  }

  test("flipMergedAt: a concurrent append carries; a moved range fails loud") {
    val root = tmpRoot("graft_merge_mid_carry")
    SegmentOps.publishManifest(spark, root, "base",
      Seq("seg=0-a", "seg=1-a", "seg=2-a", "seg=3-a"))
    val from = SegmentOps.resolveSnapshot(spark, root)
    SegmentOps.recordSegInManifest(spark, root, "seg=4-a")
    val v = SegmentOps.flipMergedAt(spark, root, from, 1, 2,
      "seg=2-a-g3")
    val snap = SegmentOps.resolveSnapshotAt(spark, root, v)
    assert(snap.segs.map(_._2) ==
      Seq("seg=0-a", "seg=2-a-g3", "seg=3-a", "seg=4-a"),
      s"mid-range carry failed: ${snap.segs.map(_._2)}")
    // the same range can no longer be flipped — positions moved
    val e = intercept[IllegalArgumentException](
      SegmentOps.flipMergedAt(spark, root, from, 1, 2, "seg=2-a-g9"))
    assert(e.getMessage.contains("concurrent merge"))
  }

  test("a crash between bundle publish and flip: the retry steals the orphan, no vacuum needed") {
    val root = tmpRoot("graft_merge_crash")
    MinHashSegments.init(NearDup.signatures(cls(0)), root)
    MinHashSegments.appendSeg(spark, root, cls(1))
    MinHashSegments.appendSeg(spark, root, cls(2))
    val before = sigKey(MinHashSegments.read(spark, root))
    // the crashed merge: bundle published under the name a real
    // mergeSegs would build (current version + 1), flip never ran
    val orphan =
      s"seg=1-a-g${SegmentOps.resolveSnapshot(spark, root).version + 1}"
    SegmentOps.publishSegDir(spark, root, orphan,
      Seq("sigs" -> NearDup.signatures(cls(1).unionByName(cls(2))),
        "tombs" -> SegmentOps.emptyLike(docs.select("doc_id"))))
    // invisible to readers (no manifest names it)
    assert(SegmentOps.resolveSnapshot(spark, root).segs.map(_._2)
      == Seq("seg=0-a", "seg=1-a"))
    assert(sigKey(MinHashSegments.read(spark, root)) == before)
    // the retry builds the SAME name (the manifest version never
    // advanced) and must STEAL the unreferenced orphan instead of
    // crash-looping until a manual vacuum (publishSegDir's doc)
    MinHashSegments.mergeSegs(spark, root, 2)
    val snap = SegmentOps.resolveSnapshot(spark, root)
    assert(snap.segs.map(_._2) == Seq(orphan),
      s"retry did not publish over the orphan: ${snap.segs}")
    assert(sigKey(MinHashSegments.read(spark, root)) == before)
    // a REFERENCED same-name dir still fails loud (never steal a
    // live segment)
    val e = intercept[IllegalArgumentException](
      SegmentOps.publishSegDir(spark, root, orphan,
        Seq("sigs" -> NearDup.signatures(cls(1)))))
    assert(e.getMessage.contains("referenced"))
    // an orphan nobody retries remains vacuum-collectable
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$root/segs/seg=1-a-g99"))
    val removed = SegmentOps.vacuum(spark, root)
    assert(removed.exists(_.contains("seg=1-a-g99")),
      s"unclaimed orphan not collected: $removed")
    assert(sigKey(MinHashSegments.read(spark, root)) == before)
  }
}
