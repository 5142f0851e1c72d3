package graft.etl

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Deploy contract for the snapshot-manifest layer (VERDICT r10 #5):
  * a reader that resolved its snapshot BEFORE an in-place compaction
  * keeps serving the pre-compaction bytes (the old generation's dirs
  * survive the pointer flip), a reader that resolves AFTER serves the
  * folded base with zero segments, and [[SegmentOps.vacuum]] is the
  * explicit release that finally drops the superseded generation.
  * Plus the compaction TRIGGER (segment-count policy + the sparse
  * family's shadowed-list-fraction signal) and the fail-loud contracts
  * from ADVICE r10 (stray segment debris, non-positive build params).
  */
class SegmentManifestSpec extends SparkSpec {

  private val cap = 5

  private def tf: DataFrame =
    SparseIndex.termFreqs(Tables.documents(spark, sf)).cache()

  private def tableKey(df: DataFrame): Set[Seq[Any]] =
    df.collect().map(_.toSeq).toSet

  private def tmpRoot(tag: String): String =
    java.nio.file.Files.createTempDirectory(tag).toString

  test("sparse: in-place compaction is snapshot-isolated; vacuum releases the old generation") {
    val t = tf
    val root = tmpRoot("manifest_sparse")
    SparseSegments.init(
      SparseIndex.build(t.filter(col("doc_id") % 3 =!= 0), cap), root,
      cap)
    SparseSegments.appendSeg(spark, root,
      t.filter(col("doc_id") % 3 === 0))
    SparseSegments.deleteSeg(spark, root,
      t.select("doc_id").distinct().filter(col("doc_id") % 10 === 3))

    val snapBefore = SegmentOps.resolveSnapshot(spark, root)
    assert(snapBefore.version == 3, // init + 2 segment publications
      s"expected manifest v3, got ${snapBefore.version}")
    assert(snapBefore.segs.map(_._1) == Seq(0, 1))

    // a reader opens BEFORE the compaction…
    val preView = SparseSegments.read(spark, root, Some(cap))
    val expected = tableKey(preView.plist)
    assert(expected.nonEmpty)

    SparseSegments.compactInPlace(spark, root)

    // …and still serves the PRE-compaction snapshot, byte-identically
    // (its dirs survived the flip — lazy plans resolve to old paths)
    assert(tableKey(preView.plist) == expected,
      "pre-compaction reader drifted across the pointer flip")

    // a fresh reader resolves the new snapshot: folded base, no segs
    val snapAfter = SegmentOps.resolveSnapshot(spark, root)
    assert(snapAfter.version == snapBefore.version + 1)
    assert(snapAfter.baseDir == s"base-g${snapAfter.version}")
    assert(snapAfter.segs.isEmpty)
    val postView = SparseSegments.read(spark, root, Some(cap))
    assert(tableKey(postView.plist) == expected,
      "compacted base does not serve the folded content")

    // vacuum: the explicit release — old generation + folded segments
    // + superseded manifests go; the live snapshot keeps serving
    val removed = SegmentOps.vacuum(spark, root)
    assert(removed.exists(_.endsWith("/base")), s"vacuum kept the old base: $removed")
    assert(removed.count(_.contains("/segs/seg=")) == 2,
      s"vacuum should drop both folded segments: $removed")
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$root/base")))
    assert(SegmentOps.listSegEntries(spark, root).isEmpty)
    assert(tableKey(SparseSegments.read(spark, root, Some(cap)).plist)
      == expected, "post-vacuum read drifted")
    // and maintenance continues cleanly on the vacuumed layout
    SparseSegments.deleteSeg(spark, root,
      t.select("doc_id").distinct().filter(col("doc_id") % 10 === 7))
    val afterMore = SparseSegments.read(spark, root, Some(cap))
    val rebuilt = SparseIndex.build(
      t.filter(col("doc_id") % 10 =!= 3 && col("doc_id") % 10 =!= 7),
      cap)
    assert(tableKey(afterMore.plist) == tableKey(rebuilt.plist),
      "post-vacuum maintenance drifted from rebuild")
  }

  test("compaction policy: segment-count trigger + sparse dirty-bucket fraction") {
    val t = tf
    val root = tmpRoot("manifest_policy")
    SparseSegments.init(
      SparseIndex.build(t.filter(col("doc_id") % 3 =!= 0), cap), root,
      cap)
    assert(!SegmentOps.shouldCompact(spark, root, 1))
    assert(SparseSegments.shadowedListFraction(spark, root) == 0.0)

    SparseSegments.appendSeg(spark, root,
      t.filter(col("doc_id") % 3 === 0))
    assert(SegmentOps.shouldCompact(spark, root, 1))
    assert(!SegmentOps.shouldCompact(spark, root, 2))
    val frac = SparseSegments.shadowedListFraction(spark, root)
    assert(frac > 0.0 && frac <= 1.0, s"shadowed fraction out of range: $frac")

    // the w09 nightly shape: policy fires -> compact -> signals reset
    if (SegmentOps.shouldCompact(spark, root, 1))
      SparseSegments.compactInPlace(spark, root)
    assert(!SegmentOps.shouldCompact(spark, root, 1))
    assert(SparseSegments.shadowedListFraction(spark, root) == 0.0)
  }

  test("pq + minhash: in-place compaction flips the pointer and serves identically") {
    val e = AnnIndex.prep(Tables.embeddings(spark, sf)).cache()
    val pqRoot = tmpRoot("manifest_pq")
    PqSegments.init(PqIndex.build(e.filter(col("vec_id") % 3 =!= 0)),
      pqRoot)
    PqSegments.appendSeg(spark, pqRoot,
      e.filter(col("vec_id") % 3 === 0))
    val pqPre = PqSegments.read(spark, pqRoot)
    val pqExpected = tableKey(pqPre.codes)
    PqSegments.compactInPlace(spark, pqRoot)
    assert(tableKey(pqPre.codes) == pqExpected,
      "pq pre-compaction reader drifted")
    val pqSnap = SegmentOps.resolveSnapshot(spark, pqRoot)
    assert(pqSnap.segs.isEmpty && pqSnap.baseDir.startsWith("base-g"))
    assert(tableKey(PqSegments.read(spark, pqRoot).codes) == pqExpected)
    SegmentOps.vacuum(spark, pqRoot)
    assert(tableKey(PqSegments.read(spark, pqRoot).codes) == pqExpected)

    val d = Tables.documents(spark, sf).cache()
    val mhRoot = tmpRoot("manifest_mh")
    MinHashSegments.init(
      NearDup.signatures(d.filter(col("doc_id") % 3 =!= 0)), mhRoot)
    MinHashSegments.appendSeg(spark, mhRoot,
      d.filter(col("doc_id") % 3 === 0))
    val mhPre = MinHashSegments.read(spark, mhRoot)
    val mhExpected = tableKey(mhPre)
    MinHashSegments.compactInPlace(spark, mhRoot)
    assert(tableKey(mhPre) == mhExpected,
      "minhash pre-compaction reader drifted")
    assert(tableKey(MinHashSegments.read(spark, mhRoot)) == mhExpected)
    SegmentOps.vacuum(spark, mhRoot)
    assert(tableKey(MinHashSegments.read(spark, mhRoot)) == mhExpected)
    // signature length survives compaction (meta carried over): a
    // delete-then-re-append of the SAME docs through the compacted
    // layout re-signs them at the stored k and reproduces the exact
    // pre-revision index
    val rev = d.filter(col("doc_id") % 10 === 3)
    MinHashSegments.deleteSeg(spark, mhRoot, rev.select("doc_id"))
    MinHashSegments.appendSeg(spark, mhRoot, rev)
    assert(tableKey(MinHashSegments.read(spark, mhRoot)) == mhExpected,
      "revise-with-identical-content through the compacted layout " +
        "drifted — the stored k did not carry over")
  }

  test("time travel: readAt replays any un-vacuumed snapshot exactly; vacuum releases it loudly") {
    val t = tf
    val root = tmpRoot("manifest_tt")
    SparseSegments.init(
      SparseIndex.build(t.filter(col("doc_id") % 3 =!= 0), cap), root,
      cap) // v1
    val v1 = tableKey(SparseSegments.readAt(spark, root, 1).plist)
    SparseSegments.appendSeg(spark, root,
      t.filter(col("doc_id") % 3 === 0)) // v2
    val v2 = tableKey(SparseSegments.readAt(spark, root, 2).plist)
    SparseSegments.deleteSeg(spark, root,
      t.select("doc_id").distinct()
        .filter(col("doc_id") % 10 === 3)) // v3
    SparseSegments.compactInPlace(spark, root) // v4

    // every historical snapshot replays exactly: v1 = the base build,
    // v2 = base + shard, v3 = the pre-compaction live view = v4
    assert(v1 == tableKey(
      SparseIndex.build(t.filter(col("doc_id") % 3 =!= 0), cap).plist))
    assert(v2 == tableKey(SparseIndex.build(t, cap).plist))
    val live = tableKey(SparseSegments.read(spark, root).plist)
    assert(tableKey(SparseSegments.readAt(spark, root, 3).plist)
      == live, "v3 (pre-compaction) != v4 (folded) content")
    assert(tableKey(SparseSegments.readAt(spark, root, 4).plist)
      == live)
    assert(v1 != v2 && v2 != live,
      "snapshots should differ across maintenance nights")

    // a retention window keeps the last N snapshots replayable: after
    // vacuum(keepLast=2), v3 (the pre-compaction snapshot, with its
    // old base generation and both folded segments) still time-travels
    SegmentOps.vacuum(spark, root, keepLast = 2)
    assert(tableKey(SparseSegments.readAt(spark, root, 3).plist)
      == live, "retained snapshot must replay after a windowed vacuum")
    intercept[IllegalArgumentException] {
      SparseSegments.readAt(spark, root, 1)
    }

    // vacuum releases history: old versions now fail LOUD by name
    SegmentOps.vacuum(spark, root)
    val ex = intercept[IllegalArgumentException] {
      SparseSegments.readAt(spark, root, 2)
    }
    assert(ex.getMessage.contains("v2") &&
      ex.getMessage.contains("vacuum"),
      s"released-snapshot error unhelpful: ${ex.getMessage}")
    assert(tableKey(SparseSegments.readAt(spark, root, 4).plist)
      == live, "the surviving snapshot must still replay after vacuum")
  }

  test("fail-loud contracts: stray segment debris, non-positive build params") {
    val root = tmpRoot("manifest_debris")
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(s"$root/segs/seg=old"))
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(s"$root/segs/seg=3-ab"))
    val ex = intercept[IllegalStateException] {
      SegmentOps.listSegEntries(spark, root)
    }
    assert(ex.getMessage.contains("seg=3-ab") ||
      ex.getMessage.contains("seg=old"),
      s"debris error does not name the offending dir: ${ex.getMessage}")
    // legacy untagged dirs still parse (read-in-full compatibility)
    assert(SegmentOps.parseableSegName("seg=4"))
    assert(SegmentOps.parseableSegName("seg=4-a"))
    assert(!SegmentOps.parseableSegName("seg=4-ab"))

    val t = tf.limit(50)
    intercept[IllegalArgumentException] {
      SparseSegments.init(SparseIndex.build(t, cap),
        tmpRoot("manifest_cap0"), 0)
    }
    intercept[IllegalArgumentException] {
      MinHashSegments.init(
        NearDup.signatures(Tables.documents(spark, sf).limit(10)),
        tmpRoot("manifest_k0"), 0)
    }
  }
}
