package graft.etl

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Deploy contract for the log-structured sparse-index layout: the
  * segmented live view must equal a from-scratch rebuild of the
  * surviving corpus on every table (x99 gates the serve cross-engine;
  * this pins the tables and the DISK layout), segment writes must
  * leave the base generation's files untouched (the O(delta)
  * maintenance-write claim as a file-level assertion), tombstone
  * scoping must make delete-then-revise correct, and compaction must
  * be serve-equivalent to the segmented view it folds.
  */
class SparseSegmentsSpec extends SparkSpec {

  private val cap = 5 // low: every term's list overflows at sf0.001

  private def tf: DataFrame =
    SparseIndex.termFreqs(Tables.documents(spark, sf)).cache()

  private def tableKey(df: DataFrame): Set[Seq[Any]] =
    df.collect().map(_.toSeq).toSet

  private def assertSameIndex(a: SparseIndex.Index,
      b: SparseIndex.Index): Unit = {
    assert(tableKey(a.plist) == tableKey(b.plist), "plist drifted")
    assert(tableKey(a.df) == tableKey(b.df), "df drifted")
    assert(tableKey(a.dl) == tableKey(b.dl), "dl drifted")
    assert(tableKey(a.stats) == tableKey(b.stats), "stats drifted")
    assert(tableKey(a.tf) == tableKey(b.tf), "tf drifted")
  }

  test("append-seg + delete-seg view == rebuild of the surviving corpus") {
    val t = tf
    val base = SparseIndex.build(t.filter(col("doc_id") % 3 =!= 0), cap)
    val seg1 = SparseSegments.appendSegOf(base,
      t.filter(col("doc_id") % 3 === 0), cap)
    val live1 = SparseSegments.view(base, Seq(seg1))
    val del = t.select("doc_id").distinct()
      .filter(col("doc_id") % 10 === 3)
    assert(del.count() > 0)
    val seg2 = SparseSegments.deleteSegOf(live1, del, cap)
    val live2 = SparseSegments.view(base, Seq(seg1, seg2))
    val rebuilt = SparseIndex.build(
      t.filter(col("doc_id") % 10 =!= 3), cap)
    assertSameIndex(live2, rebuilt)
  }

  test("delete-then-revise across segments == revised rebuild (tombstone scoping)") {
    val t = tf
    val base = SparseIndex.build(t, cap)
    val revisedIds = t.filter(col("doc_id") % 7 === 2)
      .select("doc_id").distinct()
    assert(revisedIds.count() > 0)
    val revisedTf = t.join(revisedIds, Seq("doc_id"), "left_semi")
      .withColumn("tf", col("tf") + 1L)
    val seg1 = SparseSegments.deleteSegOf(base, revisedIds, cap)
    val live1 = SparseSegments.view(base, Seq(seg1))
    val seg2 = SparseSegments.appendSegOf(live1, revisedTf, cap)
    val live2 = SparseSegments.view(base, Seq(seg1, seg2))
    val rebuilt = SparseIndex.build(
      t.join(revisedIds, Seq("doc_id"), "left_anti")
        .unionByName(revisedTf), cap)
    assertSameIndex(live2, rebuilt)
  }

  test("ghost delete segment is a no-op view") {
    val t = tf
    val base = SparseIndex.build(t, cap)
    val ghosts = spark.range(900000, 900005)
      .select(col("id").as("doc_id"))
    val seg = SparseSegments.deleteSegOf(base, ghosts, cap)
    // a ghost delete touches no terms — the view keeps every stored
    // list verbatim and only the (empty) delta unions differ
    val live = SparseSegments.view(base, Seq(seg))
    assertSameIndex(live, base)
  }

  test("view plan cost grows LINEARLY per segment — the priced LSM trade") {
    val t = tf
    val base = SparseIndex.build(t.filter(col("doc_id") % 4 === 0), cap)
    val shards = (1 to 3).map(i => t.filter(col("doc_id") % 4 === i))
    var live = base
    var segs = Vector.empty[SparseSegments.Seg]
    // joins in the optimized plan of the serve's table: one term-set
    // anti-join per segment on top of the base's own
    def joins(df: DataFrame): Int = df.queryExecution.optimizedPlan
      .collect { case j: org.apache.spark.sql.catalyst.plans.logical
        .Join => j }.size
    val costs = scala.collection.mutable.ArrayBuffer[Int]()
    for (sh <- shards) {
      segs = segs :+ SparseSegments.appendSegOf(live, sh, cap)
      live = SparseSegments.view(base, segs)
      costs += joins(live.plist)
    }
    val d1 = costs(1) - costs(0)
    val d2 = costs(2) - costs(1)
    assert(d1 == d2, s"view growth is not linear in segments: $costs")
    assert(d1 <= 2, s"per-segment plan cost too high: $costs")
    // and the cost is REAL — a fresh (compacted) build plans flatter,
    // which is exactly why compact() exists
    val flat = joins(SparseIndex.build(t, cap).plist)
    assert(costs.last > flat, s"stack $costs vs flat $flat")
  }

  test("tiered merge keeps zero-sum dfd terms dirty (stale-plist guard)") {
    // The killer case for a merge that drops telescoped-to-zero df
    // deltas: delete base docs, re-append their exact TEXTS under NEW
    // ids — every touched term's dfd sums to 0 across the range, but
    // the postings behind it changed doc identity, so the base's
    // stored plist rows (old ids) are stale and the merged segment
    // MUST still name every term either input replaced, or its lists
    // would not shadow the base's. cap=5 overflows every list at
    // sf0.001, so serving a stale plist would surface as plist drift
    // against the from-scratch rebuild.
    val t = tf
    val root = java.nio.file.Files
      .createTempDirectory("sparse_merge_zero").toString
    SparseSegments.init(SparseIndex.build(t, cap), root, cap)
    val delIds = t.select("doc_id").distinct()
      .filter(col("doc_id") % 5 === 0)
    assert(delIds.count() > 0)
    val maxId = t.agg(max(col("doc_id"))).head().getLong(0)
    val clonesTf = t.join(delIds, Seq("doc_id"), "left_semi")
      .withColumn("doc_id", col("doc_id") + maxId + 1)
    SparseSegments.deleteSeg(spark, root, delIds)
    SparseSegments.appendSeg(spark, root, clonesTf)
    def terms(dir: String): Set[String] = spark.read
      .parquet(s"$root/segs/$dir/dfd").select("tok").collect()
      .map(_.getString(0)).toSet
    val replaced = SegmentOps.resolveSnapshot(spark, root).segs
      .map(x => terms(x._2)).reduce(_ ++ _)
    SparseSegments.mergeSegs(spark, root, 2)
    val snap = SegmentOps.resolveSnapshot(spark, root)
    assert(snap.segs.map(x => (x._1, x._3)) == Seq((1, 'm')),
      s"unexpected layout ${snap.segs}")
    assert(terms(snap.segs.head._2) == replaced,
      "the merged segment's term set differs from its inputs' union")
    // the cancelled terms are kept as (tok, 0) rows
    val dfdM = spark.read
      .parquet(s"$root/segs/${snap.segs.head._2}/dfd")
    val zeroRows = dfdM.filter(col("dfd") === 0L).count()
    assert(zeroRows > 0,
      "merged dfd dropped its zero-sum terms — the merged term set " +
        "lost terms whose postings changed doc identity")
    val rebuilt = SparseIndex.build(
      t.join(delIds, Seq("doc_id"), "left_anti")
        .unionByName(clonesTf), cap)
    assertSameIndex(SparseSegments.read(spark, root), rebuilt)
  }

  test("mid-range tiered merge + leveled maintain == rebuild; base untouched") {
    val t = tf
    val root = java.nio.file.Files
      .createTempDirectory("sparse_merge_mid").toString
    SparseSegments.init(
      SparseIndex.build(t.filter(col("doc_id") % 4 === 0), cap),
      root, cap)
    val baseP = new org.apache.hadoop.fs.Path(s"$root/base")
    val fs = baseP.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def baseState(): Set[(String, Long)] = {
      def walk(p: org.apache.hadoop.fs.Path): Seq[(String, Long)] =
        fs.listStatus(p).toSeq.flatMap(st =>
          if (st.isDirectory) walk(st.getPath)
          else Seq((st.getPath.toString, st.getModificationTime)))
      walk(baseP).toSet
    }
    SparseSegments.appendSeg(spark, root,
      t.filter(col("doc_id") % 4 === 1))
    val mt0 = baseState()
    SparseSegments.appendSeg(spark, root,
      t.filter(col("doc_id") % 4 === 2))
    val del = t.select("doc_id").distinct()
      .filter(col("doc_id") % 4 <= 1 && col("doc_id") % 3 === 0)
    SparseSegments.deleteSeg(spark, root, del) // hits base + seg 0
    // mid-range merge [a(%4=2), d]: the merged tombs must still mask
    // the base AND the pre-range survivor a(%4=1)
    SparseSegments.mergeSegsAt(spark, root, from = 1, k = 2)
    val snap = SegmentOps.resolveSnapshot(spark, root)
    assert(snap.segs.map(x => (x._1, x._3)) == Seq((0, 'a'), (2, 'm')),
      s"unexpected layout ${snap.segs}")
    val rebuilt = SparseIndex.build(
      t.filter(col("doc_id") % 4 <= 2)
        .join(del, Seq("doc_id"), "left_anti"), cap)
    assertSameIndex(SparseSegments.read(spark, root), rebuilt)
    // leveled maintain: [a, m] plans nothing; two fresh appends fold
    // to one merged segment, the standing 'm' is never re-absorbed
    assert(SparseSegments.tieredMaintain(spark, root) == 0)
    SparseSegments.appendSeg(spark, root,
      t.filter(col("doc_id") % 4 === 3 && col("doc_id") % 2 === 1))
    SparseSegments.appendSeg(spark, root,
      t.filter(col("doc_id") % 4 === 3 && col("doc_id") % 2 === 0))
    assert(SparseSegments.tieredMaintain(spark, root) == 1)
    val snap2 = SegmentOps.resolveSnapshot(spark, root)
    assert(snap2.segs.map(x => (x._1, x._3)) ==
      Seq((0, 'a'), (2, 'm'), (4, 'a')),
      s"maintain should fold only the fresh run, got ${snap2.segs}")
    val rebuilt2 = SparseIndex.build(
      t.join(del, Seq("doc_id"), "left_anti"), cap)
    assertSameIndex(SparseSegments.read(spark, root), rebuilt2)
    assert(baseState() == mt0,
      "tiered merges must never touch base files")
  }

  test("changesBetween: symmetric diff catches grown AND shrunk docs") {
    val t = tf
    val root = java.nio.file.Files
      .createTempDirectory("sparse_cdc").toString
    SparseSegments.init(SparseIndex.build(t, cap), root, cap)
    val vMid = SegmentOps.resolveSnapshot(spark, root).version
    val tIds = t.select("doc_id").distinct()
    val del = tIds.filter(col("doc_id") % 10 === 3)
    // grow: re-append with ONE EXTRA token row — the old rows are a
    // strict subset of the new, so old∖new is empty and only the
    // symmetric diff's new∖old direction sees the change
    val gw = tIds.filter(col("doc_id") % 20 === 1)
    // shrink: re-append WITHOUT each doc's lexicographically-first
    // token — new∖old is empty, only old∖new sees it; restrict to
    // docs with >= 2 distinct tokens so nobody shrinks to empty
    val sh = t.groupBy("doc_id")
      .agg(countDistinct("tok").as("ntok"))
      .filter(col("doc_id") % 10 === 5 && col("ntok") >= 2)
      .select("doc_id")
    assert(del.count() > 0 && gw.count() > 0 && sh.count() > 0)
    SparseSegments.deleteSeg(spark, root, del)
    SparseSegments.deleteSeg(spark, root, gw)
    SparseSegments.appendSeg(spark, root,
      t.join(gw, Seq("doc_id"), "left_semi")
        .unionByName(gw.select(col("doc_id"),
          lit("zzgrownmarker").as("tok"), lit(1L).as("tf"))))
    SparseSegments.deleteSeg(spark, root, sh)
    val shTf = t.join(sh, Seq("doc_id"), "left_semi")
      .withColumn("mn", min("tok").over(
        org.apache.spark.sql.expressions.Window.partitionBy("doc_id")))
      .filter(col("tok") =!= col("mn"))
      .select("doc_id", "tok", "tf")
    SparseSegments.appendSeg(spark, root, shTf)
    val vEnd = SegmentOps.resolveSnapshot(spark, root).version
    def key(df: DataFrame) = df.collect().map(_.toSeq).toSet
    val expected =
      key(del.withColumn("op", lit("removed"))) ++
        key(gw.withColumn("op", lit("updated"))) ++
        key(sh.withColumn("op", lit("updated")))
    val fastRes = SparseSegments
      .changesBetween(spark, root, vMid, vEnd)
    assert(key(fastRes) == expected, "fast-path sparse CDC drifted")
    // break the fast-path precondition; the fallback must agree
    SparseSegments.mergeSegs(spark, root, 3)
    val b = SegmentOps.resolveSnapshot(spark, root)
    val slowRes = SparseSegments
      .changesBetween(spark, root, vMid, b.version)
    assert(key(slowRes) == expected, "fallback sparse CDC drifted")
  }

  test("disk layout: O(delta) segment writes, read == view, compact == segmented") {
    val t = tf
    val root = java.nio.file.Files
      .createTempDirectory("sparse_segs").toString
    SparseSegments.init(
      SparseIndex.build(t.filter(col("doc_id") % 3 =!= 0), cap), root,
      cap)

    // snapshot the base generation's files
    def baseFiles(): Map[String, Long] = {
      val fs = org.apache.hadoop.fs.FileSystem.getLocal(
        spark.sparkContext.hadoopConfiguration)
      val it = fs.listFiles(new org.apache.hadoop.fs.Path(s"$root/base"),
        true)
      val b = Map.newBuilder[String, Long]
      while (it.hasNext) {
        val f = it.next()
        b += f.getPath.toString -> f.getModificationTime
      }
      b.result()
    }
    val before = baseFiles()
    assert(before.nonEmpty)

    SparseSegments.appendSeg(spark, root,
      t.filter(col("doc_id") % 3 === 0))
    SparseSegments.deleteSeg(spark, root,
      t.select("doc_id").distinct().filter(col("doc_id") % 10 === 3))
    assert(baseFiles() == before,
      "segment maintenance rewrote base files — the O(delta) claim")
    assert(SparseSegments.listSegs(spark, root) == Seq(0, 1))
    // an in-flight (unpublished) segment is invisible to readers
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(s"$root/segs/_tmp_seg=2"))
    assert(SparseSegments.listSegs(spark, root) == Seq(0, 1))
    // the persisted cap is asserted against an explicit mismatch
    intercept[IllegalArgumentException] {
      SparseSegments.read(spark, root, Some(cap + 1))
    }

    val live = SparseSegments.read(spark, root, Some(cap))
    val rebuilt = SparseIndex.build(
      t.filter(col("doc_id") % 10 =!= 3), cap)
    assertSameIndex(live, rebuilt)

    val outRoot = java.nio.file.Files
      .createTempDirectory("sparse_segs_c").toString
    SparseSegments.compact(spark, root, outRoot)
    val compacted = SparseSegments.read(spark, outRoot, Some(cap))
    assert(SparseSegments.listSegs(spark, outRoot).isEmpty)
    assertSameIndex(compacted, rebuilt)
  }

  /** (row count, SHA-256 of the sorted rendered rows) of the live
    * posting lists — every column a serve reads from them. */
  private def listDigest(idx: SparseIndex.Index): (Long, String) = {
    val rows = idx.plist.select(SparseIndex.PlistCols.map(col): _*)
      .collect().map(_.toSeq.map(String.valueOf).mkString("\t")).sorted
    val md = java.security.MessageDigest.getInstance("SHA-256")
    (rows.length.toLong, md.digest(rows.mkString("\n").getBytes("UTF-8"))
      .map(b => f"$b%02x").mkString)
  }

  test("live lists of maintained layouts match their golden digests") {
    val t = tf
    val a = java.nio.file.Files.createTempDirectory("lists_adm").toString
    SparseSegments.init(
      SparseIndex.build(t.filter(col("doc_id") % 3 =!= 0), cap), a, cap)
    SparseSegments.appendSeg(spark, a, t.filter(col("doc_id") % 3 === 0))
    SparseSegments.deleteSeg(spark, a,
      t.select("doc_id").distinct().filter(col("doc_id") % 10 === 3))
    assert(SparseSegments.tieredMaintain(spark, a) == 1)
    val b = java.nio.file.Files.createTempDirectory("lists_dtr").toString
    SparseSegments.init(SparseIndex.build(t, cap), b, cap)
    val revised = t.filter(col("doc_id") % 7 === 2).select("doc_id")
      .distinct()
    SparseSegments.deleteSeg(spark, b, revised)
    SparseSegments.appendSeg(spark, b,
      t.join(revised, Seq("doc_id"), "left_semi")
        .withColumn("tf", col("tf") + 1L))
    val got = Seq(
      "append_delete_maintain" -> listDigest(SparseSegments.read(spark, a)),
      "delete_then_revise" -> listDigest(SparseSegments.read(spark, b)))
    val golden = scala.io.Source.fromInputStream(
      getClass.getResourceAsStream("/list_golden.tsv"), "UTF-8")
      .getLines().filterNot(_.startsWith("#")).map(_.split("\t"))
      .map(r => r(0) -> (r(1).toLong, r(2))).toMap
    val drift = got.filterNot { case (n, v) => golden.get(n).contains(v) }
    assert(drift.isEmpty, "live-list digests drifted from " +
      "list_golden.tsv:\n" + drift.map { case (n, (c, h)) =>
        s"$n\t$c\t$h" }.mkString("\n"))
  }
}
