package graft.etl

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.etl.SegmentFamily.{Add, Tomb}

/** LOG-STRUCTURED persistence for the MinHash family's signature
  * index ([[NearDup.writeIndex]]) — the third leg of the O(delta)
  * maintenance-write symmetry ([[SparseSegments]], [[PqSegments]]).
  * The stored form is one row-local signature row per document and
  * banding is a read-time projection, so a segment is just the
  * delta's signatures or a tombstone set and the live view is
  * [[SegmentOps.scopedUnion]] alone. The signature kernel it persists
  * is the one x02/x82's oracles gate; MinHashSegmentsSpec pins
  * view ≡ re-signing the surviving corpus, delete-then-revise
  * scoping, O(delta) disk writes, and compact ≡ segmented.
  *
  * Disk layout: root/base/{minhash_index,meta},
  * root/segs/seg=<n>/{sigs,tombs}. The base's `meta` records the
  * signature length `k` every later delta is signed at, so two
  * incomparable signature spaces can never mix in one index. The CDC
  * grain is the signature row: signatures are content fingerprints, so
  * sig-row inequality is the change test.
  */
object MinHashSegments extends SegmentFamily[DataFrame] {

  /** The on-disk layout format this build reads and writes: 1 = one
    * signature row per document. (Layouts before the format field are
    * format 1.) */
  val Format = 1

  protected val segTables = Seq("sigs" -> Add, "tombs" -> Tomb)
  protected val idCol = "doc_id"
  protected val buildParam = Some("k" -> NearDup.DefaultConfig.k)
  protected val cdcTable = "sigs"

  protected def baseTables(sigs: DataFrame): Seq[(String, DataFrame)] =
    Seq("minhash_index" -> sigs)

  protected def readBase(s: SparkSession, baseAbs: String): DataFrame =
    SegmentOps.readKnown(s, s"$baseAbs/minhash_index")

  def view(baseSigs: DataFrame, segs: Seq[Seg]): DataFrame =
    SegmentOps.scopedUnion(baseSigs, segs.map(_("sigs")),
      segs.map(_("tombs")), "doc_id")

  /** The delta documents signed at `k`. */
  override protected def deltaRows(deltaDocs: DataFrame, k: Int)
      : DataFrame = NearDup.signatures(deltaDocs, k)

  /** [[init]] at signature length `k`. */
  def init(sigs: DataFrame, root: String, k: Int): Unit = initAt(sigs, root, k)

  /** An APPEND segment of the delta documents signed at `k`. */
  def appendSegOf(liveSigs: DataFrame, deltaDocs: DataFrame,
      k: Int = NearDup.DefaultConfig.k): Seg =
    appendChecked(liveSigs, deltaDocs, k)

  protected def appendSegFrom(liveSigs: DataFrame, deltaSigs: DataFrame,
      k: Int): Seg =
    Map("sigs" -> deltaSigs,
      "tombs" -> SegmentOps.emptyLike(deltaSigs.select("doc_id")))

  def deleteSegOf(liveSigs: DataFrame, docIds: DataFrame): Seg =
    deleteSegFrom(liveSigs, docIds, 0)

  protected def cdcState(liveSigs: DataFrame): DataFrame = liveSigs
}
