package graft.etl

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The priced compaction curve (VERDICT r10 #1's card): how much of
  * the base's posting lists a serve over the segmented view reads only
  * to replace them with segment lists, as segments accumulate — the
  * read amplification [[SparseSegments.shadowedListFraction]] reports
  * and the w09 policy compacts away.
  *
  * For each night k the card rows are exact counts from the layout
  * itself: the shadowed-term census (base terms named by a segment's
  * term set), and the base-list rows of those terms (what the serve's
  * term-set anti-join drops) vs the full base-list row count. Pinned
  * facts:
  *  - amplification is MONOTONE in the segment count (more churn can
  *    only shadow more lists);
  *  - the reported fraction matches the shadowed-term census;
  *  - compaction RESETS the curve to zero (the policy's payoff).
  */
class SegmentReadAmpSpec extends SparkSpec {

  private val cap = 5

  test("read amplification grows with segment count and resets at compaction") {
    val t = SparseIndex.termFreqs(Tables.documents(spark, sf)).cache()
    val root = java.nio.file.Files
      .createTempDirectory("graft_readamp").toString
    SparseSegments.init(
      SparseIndex.build(t.filter(col("doc_id") % 4 === 0), cap), root,
      cap)

    def base(table: String): DataFrame = {
      val snap = SegmentOps.resolveSnapshot(spark, root)
      spark.read.parquet(s"$root/${snap.baseDir}/$table")
    }
    def shadowed(): Set[String] = {
      val snap = SegmentOps.resolveSnapshot(spark, root)
      snap.segs.map { case (_, dn, _) =>
        spark.read.parquet(s"$root/segs/$dn/dfd").select("tok")
      }.reduceOption(_ unionByName _) match {
        case None => Set.empty[String]
        case Some(terms) => base("df").join(terms, Seq("tok"),
            "left_semi")
          .collect().map(_.getString(0)).toSet
      }
    }

    val baseTerms = base("df").count()
    val totalRows = base("plist").count()
    assert(baseTerms > 0 && totalRows > 0)
    var lastDropped = 0L
    val card = Seq.newBuilder[String]
    (1 to 3).foreach { k =>
      SparseSegments.appendSeg(spark, root,
        t.filter(col("doc_id") % 4 === k))
      val terms = shadowed()
      val dropped = base("plist")
        .filter(col("tok").isin(terms.toSeq: _*)).count()
      val frac = SparseSegments.shadowedListFraction(spark, root)
      // the reported amplification signal IS the shadowed-term census
      assert(math.abs(frac - terms.size.toDouble / baseTerms) < 1e-9,
        s"shadowedListFraction $frac != census ${terms.size}/$baseTerms")
      // monotone: night k's churn can only widen the shadowed set
      assert(dropped >= lastDropped,
        s"amplification shrank: $dropped < $lastDropped at k=$k")
      lastDropped = dropped
      card += f"night $k: segs=$k shadowed_lists=${terms.size}%2d of " +
        f"$baseTerms dropped_rows=$dropped%6d of $totalRows (${
          100.0 * dropped / totalRows}%.1f%%)"
    }
    // the curve's whole point: compaction resets it to zero
    SparseSegments.compactInPlace(spark, root)
    assert(SparseSegments.shadowedListFraction(spark, root) == 0.0)
    assert(shadowed().isEmpty)
    card += "compact: shadowed_lists=0 dropped_rows=0 (policy payoff)"
    info("read-amplification card:")
    card.result().foreach(info(_))
  }
}
