package graft.etl

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._

/** Layout format versions: every segmented layout records its format
  * in the base's 1-row `meta`, and every entry point refuses a layout
  * written in another shape with a message that names both formats —
  * instead of serving wrong rows or failing deep in a plan on a missing
  * column. The other shapes are built by hand: a sparse base whose
  * `meta` holds only the cap and whose `plist` lacks `dl`/`df`; a PQ
  * base with a `cells` table and no `meta`; a MinHash base whose
  * `meta` records a format this build does not write.
  */
class LayoutFormatSpec extends SparkSpec {

  private def rm(path: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
  }

  /** Every layout entry point on `root`, each expected to refuse. */
  private def assertRefused(family: String,
      ops: Seq[(String, () => Unit)], found: Int = 1,
      reads: Int = 2): Unit =
    ops.foreach { case (name, op) =>
      val e = intercept[IllegalArgumentException](op())
      assert(e.getMessage.contains(s"$family: layout") &&
          e.getMessage.contains(s"layout format $found") &&
          e.getMessage.contains(s"reads format $reads"),
        s"$family.$name: unexpected message ${e.getMessage}")
    }

  test("sparse layouts of an older format fail loudly on every entry point") {
    val cap = 5
    val t = SparseIndex.termFreqs(Tables.documents(spark, sf)).cache()
    val root = tempRoot("format_sparse")
    SparseSegments.init(
      SparseIndex.build(t.filter(col("doc_id") % 3 =!= 0), cap), root,
      cap)
    SparseSegments.appendSeg(spark, root,
      t.filter(col("doc_id") % 3 === 0 && col("doc_id") % 2 === 0))
    SparseSegments.appendSeg(spark, root,
      t.filter(col("doc_id") % 3 === 0 && col("doc_id") % 2 === 1))
    assert(SparseSegments.read(spark, root).plist.count() > 0)
    // the old shape: cap-only meta, lists without dl/df
    val base = s"$root/base"
    rm(s"$base/meta")
    rm(s"$base/plist")
    graft.sources.Sources.writeOrdered(Seq(
      "meta" -> SegmentOps.metaTable(spark, "cap" -> cap),
      "plist" -> SparseIndex.build(t.filter(col("doc_id") % 3 =!= 0),
        cap).plist.select("doc_id", "tok", "tf")), base)
    val v = SegmentOps.resolveSnapshot(spark, root).version
    assertRefused("SparseSegments", Seq(
      "read" -> (() => SparseSegments.read(spark, root)),
      "readAt" -> (() => SparseSegments.readAt(spark, root, v)),
      "appendSeg" -> (() => SparseSegments.appendSeg(spark, root,
        t.filter(col("doc_id") === -1L))),
      "deleteSeg" -> (() => SparseSegments.deleteSeg(spark, root,
        t.select("doc_id").filter(col("doc_id") === 3L))),
      "mergeSegsAt" -> (() => SparseSegments.mergeSegsAt(spark, root,
        0, 2)),
      "compact" -> (() => SparseSegments.compact(spark, root,
        tempRoot("format_sparse_out"))),
      "compactInPlace" -> (() =>
        SparseSegments.compactInPlace(spark, root))))
    // nothing was published by the refused writes
    assert(SegmentOps.resolveSnapshot(spark, root).version == v)
  }

  test("PQ layouts of an older format fail loudly on every entry point") {
    val e = AnnIndex.prep(Tables.embeddings(spark, sf)).cache()
    val root = tempRoot("format_pq")
    PqSegments.init(PqIndex.build(e.filter(col("vec_id") % 3 =!= 0)),
      root)
    PqSegments.appendSeg(spark, root, e.filter(col("vec_id") % 3 === 0 &&
      col("vec_id") % 2 === 0))
    PqSegments.appendSeg(spark, root, e.filter(col("vec_id") % 3 === 0 &&
      col("vec_id") % 2 === 1))
    assert(PqSegments.read(spark, root).codes.count() > 0)
    // the old shape: no meta, the cells table beside the codes
    val base = s"$root/base"
    rm(s"$base/meta")
    graft.sources.Sources.writeOrdered(Seq("cells" ->
      spark.read.parquet(s"$base/codes").select("vec_id", "cluster")),
      base)
    val v = SegmentOps.resolveSnapshot(spark, root).version
    assertRefused("PqSegments", Seq(
      "read" -> (() => PqSegments.read(spark, root)),
      "readAt" -> (() => PqSegments.readAt(spark, root, v)),
      "appendSeg" -> (() => PqSegments.appendSeg(spark, root,
        e.filter(col("vec_id") === -1L))),
      "deleteSeg" -> (() => PqSegments.deleteSeg(spark, root,
        e.select("vec_id").filter(col("vec_id") === 3L))),
      "mergeSegsAt" -> (() => PqSegments.mergeSegsAt(spark, root, 0, 2)),
      "compact" -> (() => PqSegments.compact(spark, root,
        tempRoot("format_pq_out"))),
      "compactInPlace" -> (() => PqSegments.compactInPlace(spark, root))))
    assert(SegmentOps.resolveSnapshot(spark, root).version == v)
  }

  test("MinHash layouts of another format fail loudly on every entry point") {
    val docs = Tables.documents(spark, sf).select("doc_id", "text").cache()
    val root = tempRoot("format_minhash")
    MinHashSegments.init(
      NearDup.signatures(docs.filter(col("doc_id") % 3 =!= 0)), root)
    MinHashSegments.appendSeg(spark, root,
      docs.filter(col("doc_id") % 3 === 0 && col("doc_id") % 2 === 0))
    MinHashSegments.appendSeg(spark, root,
      docs.filter(col("doc_id") % 3 === 0 && col("doc_id") % 2 === 1))
    val base = s"$root/base"
    assert(SegmentOps.readMetaInt(spark, s"$base/meta", "format") == 1)
    val k = SegmentOps.readMetaInt(spark, s"$base/meta", "k")
    val live = MinHashSegments.read(spark, root).count()
    // a layout written before the format field reads as format 1
    rm(s"$base/meta")
    graft.sources.Sources.writeOrdered(Seq(
      "meta" -> SegmentOps.metaTable(spark, "k" -> k)), base)
    assert(MinHashSegments.read(spark, root).count() == live)
    // another format is refused
    rm(s"$base/meta")
    graft.sources.Sources.writeOrdered(Seq(
      "meta" -> SegmentOps.metaTable(spark, "k" -> k, "format" -> 2)), base)
    val v = SegmentOps.resolveSnapshot(spark, root).version
    assertRefused("MinHashSegments", Seq(
      "read" -> (() => MinHashSegments.read(spark, root)),
      "readAt" -> (() => MinHashSegments.readAt(spark, root, v)),
      "appendSeg" -> (() => MinHashSegments.appendSeg(spark, root,
        docs.filter(col("doc_id") === -1L))),
      "deleteSeg" -> (() => MinHashSegments.deleteSeg(spark, root,
        docs.select("doc_id").filter(col("doc_id") === 3L))),
      "mergeSegsAt" -> (() =>
        MinHashSegments.mergeSegsAt(spark, root, 0, 2)),
      "compact" -> (() => MinHashSegments.compact(spark, root,
        tempRoot("format_minhash_out"))),
      "compactInPlace" -> (() =>
        MinHashSegments.compactInPlace(spark, root))),
      found = 2, reads = 1)
    assert(SegmentOps.resolveSnapshot(spark, root).version == v)
  }
}
