package graft.etl

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Deploy contract for the dense family's log-structured layout: the
  * segmented live view must equal the fold-in append/delete chain
  * (whose kernels PqIndexSpec pins and x97's oracle gates) on the
  * stored tables AND through serve; segment writes must leave base
  * files untouched; tombstone scoping must make delete-then-revise
  * correct; compaction must be view-equivalent and never retrain the
  * frozen books.
  */
class PqSegmentsSpec extends SparkSpec {

  private def e: DataFrame =
    AnnIndex.prep(Tables.embeddings(spark, sf)).cache()

  private def tableKey(df: DataFrame): Set[Seq[Any]] =
    df.collect().map(_.toSeq).toSet

  private def assertSameIndex(a: PqIndex.Index,
      b: PqIndex.Index): Unit = {
    assert(tableKey(a.codes) == tableKey(b.codes), "codes drifted")
    assert(tableKey(a.coarse) == tableKey(b.coarse), "coarse drifted")
    (0 until PqIndex.Sub).foreach(i =>
      assert(tableKey(a.books(i)) == tableKey(b.books(i)),
        s"book$i drifted"))
  }

  test("append-seg + delete-seg view == fold-in append/delete, serve included") {
    val ee = e
    val base = PqIndex.build(ee.filter(col("vec_id") % 3 =!= 0))
    val shard = ee.filter(col("vec_id") % 3 === 0)
    val del = ee.select("vec_id").distinct()
      .filter(col("vec_id") % 10 === 3)
    assert(shard.count() > 0 && del.count() > 0)

    val seg1 = PqSegments.appendSegOf(base, shard)
    val live1 = PqSegments.view(base, Seq(seg1))
    val seg2 = PqSegments.deleteSegOf(live1, del)
    val live2 = PqSegments.view(base, Seq(seg1, seg2))
    val foldIn = PqIndex.delete(PqIndex.append(base, shard), del)
    assertSameIndex(live2, foldIn)

    val q = ee.filter(col("vec_id") % 100 === 0)
      .join(del, Seq("vec_id"), "left_anti")
      .select(col("vec_id").as("q_id"), col("emb"), col("norm"))
    val servedSeg = tableKey(PqIndex.serve(q, live2))
    assert(servedSeg.nonEmpty)
    assert(servedSeg == tableKey(PqIndex.serve(q, foldIn)),
      "serve through the segmented view drifted")
  }

  test("delete-then-revise across segments == fold-in revise (tombstone scoping)") {
    val ee = e
    val base = PqIndex.build(ee)
    val ids = ee.select("vec_id").distinct()
      .filter(col("vec_id") % 7 === 2)
    assert(ids.count() > 0)
    val revised = ee.join(ids, Seq("vec_id"), "left_semi")
      .withColumn("emb", expr("transform(emb, x -> -x)"))
    val seg1 = PqSegments.deleteSegOf(base, ids)
    val live1 = PqSegments.view(base, Seq(seg1))
    val seg2 = PqSegments.appendSegOf(live1, revised)
    val live2 = PqSegments.view(base, Seq(seg1, seg2))
    val foldIn = PqIndex.append(PqIndex.delete(base, ids), revised)
    assertSameIndex(live2, foldIn)
  }

  test("tiered merge (mid-range) + leveled maintain == fold-in; base untouched") {
    val ee = e
    val root = java.nio.file.Files
      .createTempDirectory("pq_merge").toString
    val baseIdx = PqIndex.build(ee.filter(col("vec_id") % 3 =!= 0))
    PqSegments.init(baseIdx, root)
    val sA = ee.filter(col("vec_id") % 3 === 0 &&
      col("vec_id") % 2 === 0)
    val sB = ee.filter(col("vec_id") % 3 === 0 &&
      col("vec_id") % 2 === 1)
    val del = ee.select("vec_id").distinct()
      .filter(col("vec_id") % 10 === 3)
    PqSegments.appendSeg(spark, root, sA)
    PqSegments.appendSeg(spark, root, sB)
    PqSegments.deleteSeg(spark, root, del)
    val baseP = new org.apache.hadoop.fs.Path(s"$root/base")
    val fs = baseP.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def baseState(): Set[(String, Long)] = {
      def walk(p: org.apache.hadoop.fs.Path): Seq[(String, Long)] =
        fs.listStatus(p).toSeq.flatMap(st =>
          if (st.isDirectory) walk(st.getPath)
          else Seq((st.getPath.toString, st.getModificationTime)))
      walk(baseP).toSet
    }
    val mt0 = baseState()
    val before = PqSegments.read(spark, root)
    // mid-range merge [a(sB), d]: mixed kinds -> 'm', survivor a(sA)
    // before the range keeps its slot
    PqSegments.mergeSegsAt(spark, root, from = 1, k = 2)
    val snap = SegmentOps.resolveSnapshot(spark, root)
    assert(snap.segs.map(x => (x._1, x._3)) == Seq((0, 'a'), (2, 'm')),
      s"unexpected layout ${snap.segs}")
    val foldIn = PqIndex.delete(
      PqIndex.append(PqIndex.append(baseIdx, sA), sB), del)
    assertSameIndex(PqSegments.read(spark, root), foldIn)
    assertSameIndex(before, foldIn)
    // leveled maintain: [a, m] has no fresh run of >= 2 and no
    // merged run of >= fanout — the standing merged segment is never
    // re-absorbed
    assert(PqSegments.tieredMaintain(spark, root) == 0)
    // the revise path through the merge: re-append the deleted ids
    // (negated) as two fresh shards; maintain folds ONLY the fresh run
    val revised = ee.join(del, Seq("vec_id"), "left_semi")
      .withColumn("emb", expr("transform(emb, x -> -x)"))
    PqSegments.appendSeg(spark, root,
      revised.filter(col("vec_id") % 2 === 0))
    PqSegments.appendSeg(spark, root,
      revised.filter(col("vec_id") % 2 === 1))
    assert(PqSegments.tieredMaintain(spark, root) == 1)
    val snap2 = SegmentOps.resolveSnapshot(spark, root)
    assert(snap2.segs.map(x => (x._1, x._3)) ==
      Seq((0, 'a'), (2, 'm'), (4, 'a')),
      s"maintain should fold only the fresh run, got ${snap2.segs}")
    val foldIn2 = PqIndex.append(foldIn, revised)
    assertSameIndex(PqSegments.read(spark, root), foldIn2)
    assert(baseState() == mt0,
      "tiered merges must never touch base files")
  }

  test("changesBetween at the encoded grain: revise reports, identical re-encode doesn't") {
    val ee = e
    val root = java.nio.file.Files
      .createTempDirectory("pq_cdc").toString
    PqSegments.init(PqIndex.build(ee), root)
    val vMid = SegmentOps.resolveSnapshot(spark, root).version
    val del = ee.select("vec_id").distinct()
      .filter(col("vec_id") % 10 === 3)
    val rv = ee.filter(col("vec_id") % 12 === 4) // even: disjoint from del
    val sv = ee.filter(col("vec_id") % 12 === 8)
    assert(del.count() > 0 && rv.count() > 0 && sv.count() > 0)
    val maxId = ee.agg(max(col("vec_id"))).head().getLong(0)
    val clones = ee.filter(col("vec_id") % 12 === 0)
      .withColumn("vec_id", col("vec_id") + maxId + 1)
    PqSegments.deleteSeg(spark, root, del)
    // content revise: negated embeddings re-encode to different codes
    PqSegments.deleteSeg(spark, root, rv.select("vec_id"))
    PqSegments.appendSeg(spark, root,
      rv.withColumn("emb", expr("transform(emb, x -> -x)")))
    // identity revise: same embeddings, same frozen-book codes — a
    // state diff at the ENCODED grain must report nothing
    PqSegments.deleteSeg(spark, root, sv.select("vec_id"))
    PqSegments.appendSeg(spark, root, sv)
    PqSegments.appendSeg(spark, root, clones)
    val vEnd = SegmentOps.resolveSnapshot(spark, root).version
    def key(df: DataFrame) = df.collect().map(_.toSeq).toSet
    val expected =
      key(clones.select("vec_id").withColumn("op", lit("added"))) ++
        key(del.withColumn("op", lit("removed"))) ++
        key(rv.select("vec_id").withColumn("op", lit("updated")))
    val fastRes = PqSegments.changesBetween(spark, root, vMid, vEnd)
    assert(key(fastRes) == expected, "fast-path dense CDC drifted")
    // break the fast-path precondition; the fallback must agree
    PqSegments.mergeSegs(spark, root, 3)
    val b = SegmentOps.resolveSnapshot(spark, root)
    val slowRes = PqSegments
      .changesBetween(spark, root, vMid, b.version)
    assert(key(slowRes) == expected, "fallback dense CDC drifted")
  }

  test("disk layout: O(delta) segment writes, read == view, compact == segmented") {
    val ee = e
    val root = java.nio.file.Files
      .createTempDirectory("pq_segs").toString
    PqSegments.init(PqIndex.build(ee.filter(col("vec_id") % 3 =!= 0)),
      root)

    def baseFiles(): Map[String, Long] = {
      val fs = org.apache.hadoop.fs.FileSystem.getLocal(
        spark.sparkContext.hadoopConfiguration)
      val it = fs.listFiles(
        new org.apache.hadoop.fs.Path(s"$root/base"), true)
      val b = Map.newBuilder[String, Long]
      while (it.hasNext) {
        val f = it.next()
        b += f.getPath.toString -> f.getModificationTime
      }
      b.result()
    }
    val before = baseFiles()
    assert(before.nonEmpty)

    PqSegments.appendSeg(spark, root,
      ee.filter(col("vec_id") % 3 === 0))
    PqSegments.deleteSeg(spark, root,
      ee.select("vec_id").distinct().filter(col("vec_id") % 10 === 3))
    assert(baseFiles() == before,
      "segment maintenance rewrote base files — the O(delta) claim")
    assert(SegmentOps.listSegs(spark, root) == Seq(0, 1))

    val live = PqSegments.read(spark, root)
    val foldIn = PqIndex.delete(
      PqIndex.append(PqIndex.build(ee.filter(col("vec_id") % 3 =!= 0)),
        ee.filter(col("vec_id") % 3 === 0)),
      ee.select("vec_id").distinct().filter(col("vec_id") % 10 === 3))
    assertSameIndex(live, foldIn)

    val outRoot = java.nio.file.Files
      .createTempDirectory("pq_segs_c").toString
    PqSegments.compact(spark, root, outRoot)
    assert(SegmentOps.listSegs(spark, outRoot).isEmpty)
    assertSameIndex(PqSegments.read(spark, outRoot), foldIn)
  }

  test("view plan cost grows LINEARLY per segment — the priced LSM trade") {
    // matches the sparse family's growth gate: an append-only stack
    // must cost a CONSTANT plan delta per segment (vacuous tombstones
    // are statically-empty LocalRelations whose anti-joins Catalyst
    // elides — without that every earlier branch pays one per later
    // segment and the stack grows quadratically). Shuffle counts are
    // blind here (a union-of-scans view shuffles nowhere), so the
    // metric is physical-plan node lines.
    val ee = e
    val base = PqIndex.build(ee.filter(col("vec_id") % 4 === 0))
    var segs = Vector.empty[PqSegments.Seg]
    val costs = scala.collection.mutable.ArrayBuffer[Int]()
    for (i <- 1 to 3) {
      val live = if (segs.isEmpty) base else PqSegments.view(base, segs)
      segs = segs :+ PqSegments.appendSegOf(live,
        ee.filter(col("vec_id") % 4 === i))
      costs += PqSegments.view(base, segs).codes
        .queryExecution.executedPlan.toString.linesIterator.size
    }
    val d1 = costs(1) - costs(0)
    val d2 = costs(2) - costs(1)
    assert(d1 == d2, s"pq view growth is not linear in segments: $costs")
  }
}
