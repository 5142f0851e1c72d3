package graft.etl

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.etl.SegmentFamily.{Add, Tomb}

/** LOG-STRUCTURED persistence for [[PqIndex]] — the dense family's
  * O(delta) maintenance write, symmetric with [[SparseSegments]]
  * (sparse) and [[MinHashSegments]] (MinHash). The trained artifacts
  * (coarse codebook + PQ books) are FROZEN at build time — the
  * family's whole lifecycle contract — so a segment is just the
  * frozen-book encode of the shard ([[PqIndex.encodeShard]]: code rows
  * that carry their coarse cell, per-row) or a tombstone set; the
  * live view is [[SegmentOps.scopedUnion]] on `codes` with the base's
  * books passed through (a merge or compaction never retrains). The
  * stored rows are already in the serve's inverted-list shape (vec_id,
  * cluster, code0..code3), so a serve over the view is the probe join
  * on `cluster` plus one tombstone anti-join per segment that deletes —
  * no vec_id → cell join. No term/posting repair exists in this family
  * (nothing is shared between vectors), so the whole module is
  * composition of the per-row kernels PqIndexSpec pins (append =
  * frozen encode, delete = anti-join) and x97's oracle gates through
  * `PqIndex.serve`. PqSegmentsSpec pins view ≡ fold-in append/delete,
  * delete-then-revise scoping, O(delta) disk writes, compact ≡
  * segmented.
  *
  * Disk layout: root/base/{<PqIndex.write tables>,meta},
  * root/segs/seg=<n>/{codes,tombs}. The CDC grain is the ENCODED state
  * (the frozen-book code rows): a revise whose quantized codes come out
  * identical reports nothing — the diff answers "did the INDEX change",
  * what a downstream re-serve or cache invalidation consumes.
  */
object PqSegments extends SegmentFamily[PqIndex.Index] {

  /** The on-disk layout format this build reads and writes: 2 = the
    * code rows carry their cell and no `cells` table exists. (Layouts
    * without a `meta` table are format 1.) */
  val Format = 2

  protected val segTables = Seq("codes" -> Add, "tombs" -> Tomb)
  protected val idCol = "vec_id"
  protected val buildParam = None
  protected val cdcTable = "codes"

  protected def baseTables(idx: PqIndex.Index): Seq[(String, DataFrame)] =
    PqIndex.tables(idx)

  protected def readBase(s: SparkSession, baseAbs: String): PqIndex.Index =
    PqIndex.read(s, baseAbs)

  def view(base: PqIndex.Index, segs: Seq[Seg]): PqIndex.Index =
    base.copy(codes = SegmentOps.scopedUnion(base.codes,
      segs.map(_("codes")), segs.map(_("tombs")), "vec_id"))

  /** An APPEND segment: the shard's frozen-book encode. */
  def appendSegOf(live: PqIndex.Index, eNew: DataFrame): Seg =
    appendChecked(live, eNew, 0)

  protected def appendSegFrom(live: PqIndex.Index, eNew: DataFrame,
      param: Int): Seg =
    Map("codes" -> PqIndex.encodeShard(live, eNew),
      "tombs" -> SegmentOps.emptyLike(eNew.select("vec_id")))

  def deleteSegOf(live: PqIndex.Index, vecIds: DataFrame): Seg =
    deleteSegFrom(live, vecIds, 0)

  protected def cdcState(live: PqIndex.Index): DataFrame = live.codes
}
