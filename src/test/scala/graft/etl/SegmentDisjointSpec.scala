package graft.etl

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The append precondition of every segment family: a delta's ids must
  * be disjoint from the live ids (revise = deleteSeg + appendSeg). The
  * disk `appendSeg` checks it in-plan, at the segment write, and the
  * in-memory `appendSegOf` eagerly; both must refuse an overlapping
  * delta, and the refused disk append must publish nothing. A disjoint
  * delta still appends, so a guard that refuses everything fails too.
  */
class SegmentDisjointSpec extends SparkSpec {

  /** One family on a base of the ids not divisible by 10: its disk
    * append, its in-memory append against the live view, and its delta
    * source keyed on `key`. */
  private case class Family(name: String, key: String, rows: DataFrame,
      init: (DataFrame, String) => Unit,
      append: (String, DataFrame) => Unit,
      appendOf: (String, DataFrame) => Unit)

  private lazy val families = {
    val docs = Tables.documents(spark, sf).select("doc_id", "text")
      .cache()
    val tf = SparseIndex.termFreqs(docs).cache()
    val e = AnnIndex.prep(Tables.embeddings(spark, sf)).cache()
    val cap = SparseIndex.ImpactCap
    Seq(
      Family("SparseSegments", "doc_id", tf,
        (base, root) =>
          SparseSegments.init(SparseIndex.build(base, cap), root, cap),
        (root, d) => SparseSegments.appendSeg(spark, root, d),
        (root, d) => SparseSegments.appendSegOf(
          SparseSegments.read(spark, root, Some(cap)), d, cap)),
      Family("PqSegments", "vec_id", e,
        (base, root) => PqSegments.init(PqIndex.build(base), root),
        (root, d) => PqSegments.appendSeg(spark, root, d),
        (root, d) => PqSegments.appendSegOf(PqSegments.read(spark, root), d)),
      Family("MinHashSegments", "doc_id", docs,
        (base, root) => MinHashSegments.init(NearDup.signatures(base), root),
        (root, d) => MinHashSegments.appendSeg(spark, root, d),
        (root, d) => MinHashSegments.appendSegOf(
          MinHashSegments.read(spark, root), d)))
  }

  private def overlapRefusal(t: Throwable): Boolean =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
      .exists(c => Option(c.getMessage).exists(
        _.contains("overlap the live ids")))

  Seq("SparseSegments", "PqSegments", "MinHashSegments").foreach { name =>
    test(s"$name: disk and in-memory appends refuse overlapping ids " +
        "and publish nothing") {
      val f = families.find(_.name == name).get
      val root = tempRoot(s"disjoint_$name")
      f.init(f.rows.filter(col(f.key) % 10 =!= 0), root)
      val v0 = SegmentOps.resolveSnapshot(spark, root).version
      // fresh ids (divisible by 10) plus live ones (ending in 1)
      val clash = f.rows.filter(col(f.key) % 10 === 0 ||
        col(f.key) % 10 === 1)
      val onDisk = intercept[Exception](f.append(root, clash))
      assert(overlapRefusal(onDisk), s"disk append: $onDisk")
      val inMemory = intercept[IllegalArgumentException](
        f.appendOf(root, clash))
      assert(overlapRefusal(inMemory), s"in-memory append: $inMemory")
      val snap = SegmentOps.resolveSnapshot(spark, root)
      assert(snap.version == v0 && snap.segs.isEmpty,
        s"a refused append published: $snap")
      // the guard refuses the overlap, not every delta
      val fresh = f.rows.filter(col(f.key) % 10 === 0)
      f.appendOf(root, fresh)
      f.append(root, fresh)
      assert(SegmentOps.resolveSnapshot(spark, root).segs.size == 1)
    }
  }
}
