package graft.etl

import org.apache.spark.sql.{DataFrame, SparkSession}

/** LOG-STRUCTURED persistence for [[PqIndex]] — the dense family's
  * O(delta) maintenance write, symmetric with [[SparseSegments]]
  * (sparse) and [[MinHashSegments]] (MinHash). The trained artifacts
  * (coarse codebook + PQ books) are FROZEN at build time — the
  * family's whole lifecycle contract — so a segment is just the
  * frozen-book encode of the shard ([[PqIndex.encodeShard]]: code rows
  * that carry their coarse cell, per-row) or a tombstone set; the
  * live view is [[SegmentOps.scopedUnion]] on `codes` with the base's
  * books passed through. The stored rows are already in the serve's
  * inverted-list shape (vec_id, cluster, code0..code3), so a serve
  * over the view is the probe join on `cluster` plus one tombstone
  * anti-join per segment that deletes — no vec_id → cell join. No
  * term/posting repair exists in this family (nothing is shared
  * between vectors), which is why the whole module is composition:
  * the per-row kernels it persists are exactly the ones PqIndexSpec
  * pins (append = frozen encode, delete = anti-join) and x97's oracle
  * gates through `PqIndex.serve`. The base's 1-row `meta` records the
  * layout [[Format]]; every entry point refuses a layout of another
  * format. PqSegmentsSpec pins view ≡ fold-in append/delete,
  * delete-then-revise scoping, O(delta) disk writes, and
  * compact ≡ segmented.
  */
object PqSegments {

  /** The on-disk layout format this build reads and writes: 2 = the
    * code rows carry their cell and no `cells` table exists. (Layouts
    * without a `meta` table are format 1.) */
  val Format = 2

  /** One maintenance operation's delta bundle: an append segment's
    * frozen-book encode, or a delete segment's tombstones. */
  final case class Seg(codesAdd: DataFrame, tombs: DataFrame)

  /** Build an APPEND segment: the shard's frozen-book encode.
    * Precondition (asserted): shard vec_ids are disjoint from the
    * LIVE corpus — a previously deleted id may be re-appended (the
    * revise path; tombstone scoping makes it correct). */
  def appendSegOf(live: PqIndex.Index, eNew: DataFrame): Seg = {
    // the IN-MEMORY form keeps the eager check — an in-plan guard
    // here would embed the live view in the segment's plan and a
    // stacked in-memory chain would nest (the linear-plan-growth
    // contract); the DISK path ([[appendSeg]]) guards in-plan.
    val clash = live.codes.select("vec_id")
      .join(eNew.select("vec_id").distinct(), "vec_id")
      .limit(1).count()
    require(clash == 0L,
      "PqSegments.appendSegOf: shard vec_ids overlap the live corpus " +
        "— append segments are for disjoint shards (revise = " +
        "deleteSeg + appendSeg)")
    Seg(PqIndex.encodeShard(live, eNew),
      SegmentOps.emptyLike(eNew.select("vec_id")))
  }

  /** [[appendSegOf]] with the disjointness check as an IN-PLAN guard
    * on the shard — zero extra jobs; disk-path only (the guarded plan
    * is executed once by the segment write and read back as plain
    * rows, so the live view never nests into later plans). */
  private def appendSegOfGuarded(live: PqIndex.Index,
      eNewIn: DataFrame): Seg = {
    val eNew = SegmentOps.guardDisjoint(eNewIn,
      live.codes.select("vec_id"), "vec_id",
      "PqSegments.appendSeg: shard vec_ids overlap the live corpus " +
        "— append segments are for disjoint shards (revise = " +
        "deleteSeg + appendSeg)")
    Seg(PqIndex.encodeShard(live, eNew),
      SegmentOps.emptyLike(eNew.select("vec_id")))
  }

  /** Build a DELETE segment: tombstones only (the vacuous additions
    * are statically-empty LocalRelations so the view's unions elide
    * them). Deleting an absent id is a no-op. */
  def deleteSegOf(live: PqIndex.Index, vecIds: DataFrame): Seg =
    Seg(SegmentOps.emptyLike(live.codes),
      vecIds.select("vec_id").distinct())

  /** Compose base + segments into the LIVE index view. */
  def view(base: PqIndex.Index, segs: Seq[Seg]): PqIndex.Index =
    base.copy(codes = SegmentOps.scopedUnion(base.codes,
      segs.map(_.codesAdd), segs.map(_.tombs), "vec_id"))

  // ------------------------------------------------------------------
  // Disk layout: root/base/{<PqIndex.write tables>,meta},
  // root/segs/seg=<n>/{codes,tombs}
  // ------------------------------------------------------------------

  /** Write `idx` as the base generation of a segmented layout. */
  def init(idx: PqIndex.Index, root: String): Unit = {
    writeBase(idx, s"$root/base")
    SegmentOps.publishManifest(idx.codes.sparkSession, root, "base",
      Seq.empty)
  }

  /** The index tables plus the 1-row `meta` (zero-job local write). */
  private def writeBase(idx: PqIndex.Index, dirAbs: String): Unit =
    graft.sources.Sources.writeOrdered(PqIndex.tables(idx) :+
      ("meta" -> SegmentOps.metaTable(idx.codes.sparkSession,
        "format" -> Format)), dirAbs)

  private def checkFormat(s: SparkSession, root: String,
      snap: SegmentOps.Snapshot): Unit =
    SegmentOps.requireFormat(s, s"$root/${snap.baseDir}", "PqSegments",
      Format)

  private def writeSeg(s: SparkSession, seg: Seg, root: String,
      n: Int, kind: Char, tag: Option[String]): Unit =
    SegmentOps.publishSeg(s, root, n, kind,
      Seq("codes" -> seg.codesAdd, "tombs" -> seg.tombs), tag)

  /** Read one on-disk segment; the kind tag rebuilds the vacuous
    * tables as statically-empty LocalRelations (join elision — see
    * SegmentOps.emptyLike). */
  private def readSeg(s: SparkSession, root: String, dirName: String,
      kind: Char): Seg = {
    def t(name: String) =
      SegmentOps.readKnown(s, s"$root/segs/$dirName/$name")
    def emptyT(name: String) = SegmentOps.emptyLike(t(name))
    Seg(
      codesAdd = if (kind == 'd') emptyT("codes") else t("codes"),
      tombs = if (kind == 'a') emptyT("tombs") else t("tombs"))
  }

  /** Load the live view of a segmented layout. The snapshot
    * (manifest) is resolved ONCE here — the returned lazy view keeps
    * serving that snapshot's bytes across a later compaction flip. */
  def read(s: SparkSession, root: String): PqIndex.Index =
    readSnap(s, root, SegmentOps.resolveSnapshot(s, root))

  /** Snapshot time travel: the live view AS OF manifest `version`. */
  def readAt(s: SparkSession, root: String, version: Int)
      : PqIndex.Index =
    readSnap(s, root, SegmentOps.resolveSnapshotAt(s, root, version))

  private def readSnap(s: SparkSession, root: String,
      snap: SegmentOps.Snapshot): PqIndex.Index = {
    checkFormat(s, root, snap)
    val base = PqIndex.read(s, s"$root/${snap.baseDir}")
    val segs = snap.segs.map { case (_, d, k) => readSeg(s, root, d, k) }
    if (segs.isEmpty) base else view(base, segs)
  }

  /** Append a disjoint shard as a new segment — an O(delta) write
    * published atomically; base files are never touched
    * (PqSegmentsSpec asserts it). */
  def appendSeg(s: SparkSession, root: String, eNew: DataFrame,
      tag: Option[String] = None): Unit = {
    val n = SegmentOps.listSegs(s, root).lastOption.fold(0)(_ + 1)
    writeSeg(s, appendSegOfGuarded(read(s, root), eNew), root, n, 'a',
      tag)
  }

  /** Retract vectors as a new segment — an O(delta) write published
    * atomically. */
  def deleteSeg(s: SparkSession, root: String, vecIds: DataFrame,
      tag: Option[String] = None): Unit = {
    val n = SegmentOps.listSegs(s, root).lastOption.fold(0)(_ + 1)
    writeSeg(s, deleteSegOf(read(s, root), vecIds), root, n, 'd', tag)
  }

  /** Snapshot CDC — the dense family's twin of
    * [[MinHashSegments.changesBetween]] (see there for semantics and
    * the fast-path cost contract). The content grain is the ENCODED
    * state (the frozen-book code rows): a vector revise whose
    * quantized codes come out identical reports nothing — the layout
    * diff answers "did the INDEX change", which is exactly what a
    * downstream re-serve or cache invalidation consumes. */
  def changesBetween(s: SparkSession, root: String, fromV: Int,
      toV: Int): DataFrame =
    SegmentOps.changesBetweenWith(s, root, fromV, toV, "vec_id")(
      { case (_, d, k) =>
        val seg = readSeg(s, root, d, k); (seg.codesAdd, seg.tombs) },
      snap => readSnap(s, root, snap).codes)

  /** TIERED compaction: fold the `k` oldest segments into ONE merged
    * segment — the prefix special case of [[mergeSegsAt]]. */
  def mergeSegs(s: SparkSession, root: String, k: Int = 2): Unit =
    mergeSegsAt(s, root, 0, k)

  /** TIERED compaction of an arbitrary contiguous range — the dense
    * family's twin of [[MinHashSegments.mergeSegsAt]], same positional
    * algebra applied to the per-row code table: merged adds
    * = the range's own scoped union over an empty base (within-range
    * delete-then-revise collapses to the revision), merged tombs = the
    * range's tomb union (at the range's slot they mask exactly what
    * the range masked: base + every earlier position), survivors on
    * both sides keep their scoping. Books stay FROZEN — a merge, like
    * a compaction, never retrains. Crash-safe in two atomic steps
    * ([[SegmentOps.publishSegDir]] then [[SegmentOps.flipMergedAt]]);
    * a crash between them leaves vacuum-collectable debris. */
  def mergeSegsAt(s: SparkSession, root: String, from: Int, k: Int)
      : Unit = {
    val snap = SegmentOps.resolveSnapshot(s, root)
    require(snap.version > 0,
      "PqSegments.mergeSegsAt: tiered merge requires a manifest " +
        "(directory-enumeration layouts cannot hold two dirs per " +
        "segment number)")
    require(from >= 0 && k >= 2 && from + k <= snap.segs.size,
      s"PqSegments.mergeSegsAt: range [$from, ${from + k}) outside " +
        s"the snapshot's ${snap.segs.size} segments (k >= 2)")
    checkFormat(s, root, snap)
    val range = snap.segs.slice(from, from + k)
    val segs = range.map { case (_, d, kd) => readSeg(s, root, d, kd) }
    val tombsSeq = segs.map(_.tombs)
    val codesM = SegmentOps.scopedUnion(
      SegmentOps.emptyLike(segs.head.codesAdd),
      segs.map(_.codesAdd), tombsSeq, "vec_id")
    val tombsM = tombsSeq.reduce(_ unionByName _).distinct()
    val kinds = range.map(_._3).toSet
    val kind = if (kinds == Set('a')) 'a'
      else if (kinds == Set('d')) 'd' else 'm'
    val name = s"seg=${range.last._1}-$kind-g${snap.version + 1}"
    SegmentOps.publishSegDir(s, root, name,
      Seq("codes" -> codesM, "tombs" -> tombsM))
    SegmentOps.flipMergedAt(s, root, snap, from, k, name)
    ()
  }

  /** [[SegmentOps.tieredMaintainWith]] instantiated for this family:
    * the leveled schedule to quiescence, base never touched; pair
    * with [[SegmentOps.shouldCompact]] + [[compactInPlace]] for the
    * rare full fold. Returns the number of merges performed. */
  def tieredMaintain(s: SparkSession, root: String, minRun: Int = 2,
      fanout: Int = 4, ratio: Double = 1.5): Int =
    SegmentOps.tieredMaintainWith(s, root, minRun, fanout, ratio)(
      d => SegmentOps.footerRows(s,
        Seq("codes", "tombs").map(t => s"$root/segs/$d/$t")),
      mergeSegsAt(s, root, _, _))

  /** Fold the segments into a fresh base at `outRoot` (the books and
    * coarse codebook pass through FROZEN — compaction never retrains).
    * Swapping `outRoot` in for `root` is the caller's pointer flip. */
  def compact(s: SparkSession, root: String, outRoot: String): Unit =
    init(read(s, root), outRoot)

  /** In-place compaction: fold into a fresh base generation under the
    * SAME root and flip the manifest pointer (books still frozen).
    * Readers that resolved a snapshot before the flip keep serving
    * the old generation until [[SegmentOps.vacuum]]. */
  def compactInPlace(s: SparkSession, root: String): Unit = {
    val snap = SegmentOps.resolveSnapshot(s, root)
    val nb = SegmentOps.nextBaseDir(snap)
    writeBase(readSnap(s, root, snap), s"$root/$nb")
    SegmentOps.flipCompacted(s, root, snap, nb)
    ()
  }
}
