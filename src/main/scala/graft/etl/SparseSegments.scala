package graft.etl

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.etl.Checkpoints.CutOps

/** LOG-STRUCTURED persistence for [[SparseIndex]] — the piece that
  * makes nightly maintenance O(delta) on DISK, not just in compute.
  *
  * [[SparseIndex.append]]/[[SparseIndex.delete]] already bound the
  * COMPUTE of a nightly fold-in to the delta's touched terms, but
  * persisting their result still rewrites all five tables — at 100 TB
  * the full-tf relation alone makes that an O(corpus) write every
  * night. The standard fix (Lucene segments / LSM) is to never rewrite
  * the base: each maintenance operation appends one SEGMENT — a small
  * bundle of delta tables — and readers compose base ∪ segments into a
  * live view; a periodic [[compact]] folds accumulated segments into a
  * fresh base.
  *
  * A segment carries what its operation knew, computed against the
  * live view at write time:
  *  - `tfAdd` — an appended shard's term frequencies with their doc
  *    lengths, (doc_id, tok, tf, dl) like the base `tf` (empty for a
  *    delete);
  *  - `dfd` — the segment's TERM SET with signed document-frequency
  *    deltas (+ for an append, − for a delete): every term whose
  *    posting list the operation replaced, kept even when its delta
  *    telescopes to zero;
  *  - `dlAdd` — the shard's doc lengths;
  *  - `statsd` — a signed 1-row corpus-card delta;
  *  - `tombs` — deleted doc_ids (empty for an append);
  *  - `plist` — the REPAIRED live posting lists, in the serve's row
  *    shape (doc_id, tok, tf, dl, df), of every term in `dfd`. An
  *    append re-truncates the previous live lists of its terms ∪ its
  *    postings (the cap's monotonicity, [[SparseIndex]]'s class doc —
  *    no tf read); a delete re-truncates its terms from the live tf
  *    without the deleted docs (whose rows carry `dl`, so no join),
  *    reading only the base tf buckets of those terms (the static
  *    `tbk` partition filter); a merge keeps the newest list per term
  *    across its range. A term whose df drops to 0 has no rows, but
  *    its `dfd` row still shadows the older list. The repair rides in
  *    the segment's concurrent table write (a delete first collects
  *    its bucket census, below): an append reads only the live lists
  *    and doc lengths, a delete only the live tf.
  *
  * The live [[view]] (same code for the in-memory composition x99
  * gates and the on-disk layout):
  *  - `plist` = the base's lists with each term replaced by the newest
  *    segment list that names it — [[SegmentOps.scopedUnion]] keyed on
  *    `tok`, each segment's term set masking the base and the earlier
  *    segments. No re-truncation, no df sum and no doc-keyed masking
  *    runs at serve time: deleting a doc dirties every term it
  *    contains, so no surviving list holds a deleted doc;
  *  - tombstones are SCOPED: a segment's tombs apply to the base and
  *    to EARLIER segments only, so deleting a doc and re-appending its
  *    revision in a later segment works (revise = deleteSeg +
  *    appendSeg, the family contract);
  *  - `df` = base ∪ signed deltas, summed per term, zero rows dropped;
  *  - `dl`/`tf` = scoped anti-joins + unions;
  *  - `stats` = the 1-row sum of base ∪ deltas.
  * `df`, `dl`, `tf` and `stats` are read by deletes, CDC, compaction
  * and the cards' query-term choice; a serve reads `plist` and the
  * 1-row `stats` only.
  *
  * Plan depth grows LINEARLY with the segment count — one union branch
  * and one term-set anti-join per segment, the deliberate LSM trade,
  * pinned by SparseSegmentsSpec's growth test (a segment's vacuous
  * tables are statically-empty LocalRelations whose joins Catalyst
  * elides); [[compact]] resets the depth and is proven
  * serve-equivalent. On disk the base tf is partitioned by a 64-way
  * token-hash bucket (`tbk`); a delete collects its terms' bucket
  * census (≤ 64 values by construction) and reads the base tf through
  * a STATIC isin partition filter — pruning guaranteed by the planner
  * (PushdownAuditSpec asserts it), not left to DPP heuristics.
  *
  * The base's 1-row `meta` records the build cap and the layout
  * [[Format]]; every entry point refuses a layout of another format.
  *
  * x99_segmented_serve gates the whole composition cross-engine
  * (Spark serves THROUGH a base+append-seg+delete-seg view; DuckDB
  * rebuilds the surviving corpus from scratch — hash-exact at low cap
  * so the list repair is exercised corpus-wide); SparseSegmentsSpec
  * pins the disk layout: segment writes leave base files untouched
  * (the O(delta) claim as an mtime assertion), read ≡ in-memory view,
  * compact ≡ segmented, the delete-then-revise chain, and the live
  * lists' golden digests.
  */
object SparseSegments {

  /** Token-hash partition fan-out of the base tf relation. */
  val TokBuckets = 64

  /** The on-disk layout format this build reads and writes: 2 = the
    * posting lists carry `dl` and `df`, the tf rows carry `dl`, and
    * every segment carries its repaired lists. (Layouts before the
    * format field are format 1.) */
  val Format = 2

  /** One maintenance operation's delta bundle — see the class doc. */
  final case class Seg(tfAdd: DataFrame, dfd: DataFrame,
      dlAdd: DataFrame, statsd: DataFrame, tombs: DataFrame,
      plist: DataFrame)

  /** Build an APPEND segment against the live view: the shard's tf,
    * +df deltas, doc lengths, +stats delta, no tombstones, and the
    * repaired lists of its terms. `cap` must be the base's build cap.
    * Precondition (asserted): the shard's doc_ids are disjoint from
    * the LIVE corpus — a previously deleted id may be re-appended
    * (that is the revise path; tombstone scoping makes it correct). */
  def appendSegOf(live: SparseIndex.Index, deltaTf: DataFrame,
      cap: Int): Seg = {
    // the IN-MEMORY form keeps the eager check and cuts the tables
    // that read the live view — otherwise a stacked in-memory chain
    // would nest each earlier view into the next segment's plan (the
    // linear-plan-growth contract); the DISK path ([[appendSeg]])
    // guards in-plan and reads its segments back as plain rows.
    val clash = live.dl.select("doc_id")
      .join(deltaTf.select("doc_id").distinct(), "doc_id")
      .limit(1).count()
    require(clash == 0L,
      "SparseSegments append: delta doc_ids overlap the live " +
        "corpus — append segments are for disjoint shards (revise = " +
        "deleteSeg + appendSeg)")
    cutSeg(mkAppendSeg(live.plist, deltaTf, cap))
  }

  /** The in-memory segment with the tables that read the live view
    * or the caller's id plan cut to leaves. */
  private def cutSeg(seg: Seg): Seg =
    seg.copy(dfd = seg.dfd.cut(false), tombs = seg.tombs.cut(false),
      plist = seg.plist.cut(false))

  /** Disjointness as an in-plan guard on the delta (fires at the
    * segment write; zero extra jobs — pre-r14 an eager count action
    * per call). Disk-path only: the guarded plan is executed once by
    * the write and read back as plain rows, so the live view never
    * nests into later plans. */
  private def guardedDisjoint(liveDl: DataFrame,
      deltaTf: DataFrame): DataFrame =
    SegmentOps.guardDisjoint(deltaTf, liveDl.select("doc_id"),
      "doc_id",
      "SparseSegments append: delta doc_ids overlap the live " +
        "corpus — append segments are for disjoint shards (revise = " +
        "deleteSeg + appendSeg)")

  /** The append segment's tables — the delta's own tables plus the
    * repaired lists of its terms, from the live lists `livePlist`. The
    * vacuous tombstones are a statically-empty LocalRelation so the
    * optimizer elides every scoping anti-join they would feed
    * ([[SegmentOps.emptyLike]] — the append-only stacks stay linear). */
  private def mkAppendSeg(livePlist: DataFrame, deltaTf: DataFrame,
      cap: Int): Seg = {
    // every table reads the delta: one guarded read and one
    // doc-length window, not one per table. The tables' own small
    // aggregations stay uncut, so they run inside the concurrent
    // write rather than one after another before it.
    val deltaDl = SparseIndex.withDl(deltaTf).cut(false)
    val dlAdd = SparseIndex.dlOf(deltaDl)
    Seg(
      tfAdd = deltaDl,
      dfd = deltaDl.groupBy("tok").agg(count(lit(1)).as("dfd")),
      dlAdd = dlAdd,
      statsd = dlAdd.agg(count(lit(1)).as("n_docs"),
        coalesce(sum("dl"), lit(0L)).as("t_tokens")),
      tombs = SegmentOps.emptyLike(deltaDl.select("doc_id")),
      plist = asClustered(SparseIndex.appendLists(livePlist,
        deltaDl.select("tok").distinct(), deltaDl, cap)))
  }

  /** Repaired lists as their window's `tok` exchange partitioned
    * them. That exchange is already sized by adaptive execution, so
    * the segment write keeps its partitions (a no-op coalesce marks
    * the layout explicit for [[graft.sources.Sources.writeOrdered]])
    * instead of adding a rebalance stage after the window. */
  private def asClustered(lists: DataFrame): DataFrame =
    lists.coalesce(lists.sparkSession.sessionState.conf
      .numShufflePartitions)

  /** Build a DELETE segment against the live view: −df deltas from the
    * deleted docs' live postings, a −stats delta, the tombstones, and
    * the deleted docs' terms re-truncated from the live tf. `cap` must
    * be the base's build cap. Deleting an id absent from the live
    * corpus is a no-op (zero deltas, no lists, a tombstone that
    * anti-joins nothing). */
  def deleteSegOf(live: SparseIndex.Index, docIds: DataFrame,
      cap: Int): Seg =
    cutSeg(mkDeleteSeg(live.tf, docIds, cap,
      touched => live.tf.join(touched, Seq("tok"), "left_semi")))

  /** The delete segment's tables. `termTf` gives the live tf of a set
    * of terms (before the delete) — the disk path's form reads only
    * those terms' base tf buckets. The deleted docs' lengths come
    * from their tf rows, so the live `dl` is never read. */
  private def mkDeleteSeg(liveTf: DataFrame, docIds: DataFrame,
      cap: Int, termTf: DataFrame => DataFrame): Seg = {
    // the tombstones are O(delete): broadcast, so neither the live tf
    // nor the repaired terms' postings shuffle to meet them
    val del = broadcast(docIds.select("doc_id").distinct())
    val delTf = liveTf.join(del, Seq("doc_id"), "left_semi").cut(false)
    val delDl = SparseIndex.dlOf(delTf)
    // the term set: written, and the repair's term filter (O(delete),
    // so broadcast past the live tf)
    val dfd = delTf.groupBy("tok").agg((-count(lit(1))).as("dfd"))
      .cut(false)
    val touched = broadcast(dfd.select("tok"))
    Seg(
      tfAdd = SegmentOps.emptyLike(delTf),
      dfd = dfd,
      dlAdd = SegmentOps.emptyLike(delDl),
      statsd = delDl.agg((-count(lit(1))).as("n_docs"),
        (-coalesce(sum("dl"), lit(0L))).as("t_tokens")),
      tombs = del,
      plist = asClustered(SparseIndex.relist(
        termTf(touched).join(del, Seq("doc_id"), "left_anti"), cap)))
  }

  /** Compose base + segments into the LIVE index view — see the class
    * doc. */
  def view(base: SparseIndex.Index, segs: Seq[Seg])
      : SparseIndex.Index = {
    if (segs.isEmpty) return base.copy(tf = baseTf(base.tf))
    // tombstones scoped per SegmentOps.scopedUnion: segs(i) is masked
    // by tombs of segs j > i, the base by all of them; the lists are
    // masked the same way by the segments' term sets
    val tombs = segs.map(_.tombs)
    val dfLive = segs.map(_.dfd)
      .foldLeft(base.df.select(col("tok"), col("df").as("dfd")))(
        _ unionByName _)
      .groupBy("tok").agg(sum("dfd").as("df"))
      .filter(col("df") > 0)
    // the 1-row card sums 1 + |segs| rows: one partition needs no
    // exchange, so a serve binds it as literals in one job, not two
    val statsLive = segs.map(_.statsd)
      .foldLeft(base.stats)(_ unionByName _)
      .coalesce(1)
      .agg(sum("n_docs").as("n_docs"), sum("t_tokens").as("t_tokens"))
    SparseIndex.Index(liveLists(base.plist, segs), dfLive,
      liveDocs(base.dl, segs), statsLive,
      liveTf(base.tf, segs.map(_.tfAdd), tombs))
  }

  /** The live lists: the base's, each term replaced by the newest
    * segment list that names it. */
  private def liveLists(basePlist: DataFrame, segs: Seq[Seg])
      : DataFrame =
    SegmentOps.scopedUnion(basePlist, segs.map(_.plist),
      segs.map(_.dfd), "tok").select(SparseIndex.PlistCols.map(col): _*)

  /** The live doc lengths: scoped anti-joins + union. */
  private def liveDocs(baseDl: DataFrame, segs: Seq[Seg]): DataFrame =
    SegmentOps.scopedUnion(baseDl, segs.map(_.dlAdd),
      segs.map(_.tombs), "doc_id")

  /** The live tf from the base tf and the segments' added tf and
    * tombstones, without the storage-layout bucket column. */
  private def liveTf(base: DataFrame, adds: Seq[DataFrame],
      tombs: Seq[DataFrame]): DataFrame =
    SegmentOps.scopedUnion(baseTf(base), adds.map(baseTf), tombs,
      "doc_id")

  /** A tf relation in the stored column order, without the
    * storage-layout bucket column. */
  private def baseTf(tf: DataFrame): DataFrame =
    tf.select(SparseIndex.TfCols.map(col): _*)

  // ------------------------------------------------------------------
  // Disk layout: root/base/{plist,df,dl,stats,meta,tf(tbk-partitioned)},
  // root/segs/seg=<n>/{tf,dfd,dl,statsd,tombs,plist}
  // ------------------------------------------------------------------

  /** Write `idx` as the base generation of a segmented layout. The tf
    * relation is partitioned by the 64-way token-hash bucket — the
    * partition key a delete's list repair prunes on. `cap` MUST be the
    * cap `idx` was built with: it is persisted in the layout's 1-row
    * `meta` table (with the layout [[Format]]), and every later
    * read/segment/compact resolves it from there — a default-arg
    * mismatch can no longer mix two caps in one plist. */
  def init(idx: SparseIndex.Index, root: String,
      cap: Int = SparseIndex.ImpactCap): Unit = {
    writeBase(idx, s"$root/base", cap)
    SegmentOps.publishManifest(idx.stats.sparkSession, root, "base",
      Seq.empty)
  }

  private def writeBase(idx: SparseIndex.Index, dirAbs: String,
      cap: Int): Unit = {
    require(cap > 0,
      s"SparseSegments: cap must be positive, got $cap — a " +
        "non-positive cap would persist an index whose every posting " +
        "list truncates to empty")
    graft.sources.Sources.writeOrdered(
      Seq("plist" -> idx.plist.select(SparseIndex.PlistCols.map(col): _*),
        "df" -> idx.df, "dl" -> idx.dl, "stats" -> idx.stats,
        "meta" -> SegmentOps.metaTable(idx.stats.sparkSession,
          "cap" -> cap, "format" -> Format),
        // cluster rows by bucket before the partitioned write: without
        // it every write task emits one file per bucket it happens to
        // hold (tasks × TokBuckets small files — metadata poison at
        // scale); with it each task holds whole buckets, so the file
        // count is O(TokBuckets)
        "tf" -> idx.tf.withColumn("tbk",
            pmod(hash(col("tok")), lit(TokBuckets)))
          .repartition(TokBuckets, col("tbk"))),
      dirAbs, partitions = Map("tf" -> Seq("tbk")))
  }

  /** The snapshot's persisted build cap, after checking the layout
    * [[Format]]. When the caller asserts a `cap` too, they must agree
    * — the silent-corruption guard. An `Option` rather than a magic 0
    * (ADVICE r10): an explicit-but-wrong value can never bypass the
    * mismatch check. */
  private def layoutCap(s: SparkSession, root: String,
      snap: SegmentOps.Snapshot, cap: Option[Int] = None): Int = {
    val baseAbs = s"$root/${snap.baseDir}"
    SegmentOps.requireFormat(s, baseAbs, "SparseSegments", Format)
    val stored = SegmentOps.readMetaInt(s, s"$baseAbs/meta", "cap")
    cap.foreach(c => require(c == stored,
      s"SparseSegments: layout $baseAbs was built at cap=$stored but " +
        s"cap=$c was passed — the caps must agree"))
    stored
  }

  /** Segment numbers present under `root`, ascending. */
  def listSegs(s: SparkSession, root: String): Seq[Int] =
    SegmentOps.listSegs(s, root)

  private val segTables =
    Seq("tf", "dfd", "dl", "statsd", "tombs", "plist")

  private def tablesOf(seg: Seg): Seq[(String, DataFrame)] =
    segTables.zip(Seq(seg.tfAdd, seg.dfd, seg.dlAdd, seg.statsd,
      seg.tombs, seg.plist))

  /** Read one on-disk segment. The kind tag in the dir name tells the
    * reader which tables are vacuous BY CONSTRUCTION, so it rebuilds
    * them as statically-empty LocalRelations (schema from the parquet
    * footer only) and the optimizer elides their joins — the same
    * linearity the in-memory builders get from emptyLike. */
  private def readSeg(s: SparkSession, root: String, dirName: String,
      kind: Char): Seg = {
    def t(name: String) =
      SegmentOps.readKnown(s, s"$root/segs/$dirName/$name")
    def emptyT(name: String) = SegmentOps.emptyLike(t(name))
    // kind 'm' (a mixed-range MERGED segment) carries real rows in
    // every table — only the pure kinds get the vacuous-table elision
    Seg(
      tfAdd = if (kind == 'd') emptyT("tf") else t("tf"),
      dfd = t("dfd"),
      dlAdd = if (kind == 'd') emptyT("dl") else t("dl"),
      statsd = t("statsd"),
      tombs = if (kind == 'a') emptyT("tombs") else t("tombs"),
      plist = t("plist"))
  }

  private def readSegs(s: SparkSession, root: String,
      snap: SegmentOps.Snapshot): Seq[Seg] =
    snap.segs.map { case (_, dirName, kind) =>
      readSeg(s, root, dirName, kind)
    }

  /** One segment's (tf, tombs) — all a delete and the CDC read. */
  private def readSegTf(s: SparkSession, root: String, dirName: String,
      kind: Char): (DataFrame, DataFrame) = {
    def t(name: String) =
      SegmentOps.readKnown(s, s"$root/segs/$dirName/$name")
    (if (kind == 'd') SegmentOps.emptyLike(t("tf")) else t("tf"),
      if (kind == 'a') SegmentOps.emptyLike(t("tombs")) else t("tombs"))
  }

  private def readBase(s: SparkSession, baseAbs: String)
      : SparseIndex.Index =
    SparseIndex.Index(
      SegmentOps.readKnown(s, s"$baseAbs/plist"),
      SegmentOps.readKnown(s, s"$baseAbs/df"),
      SegmentOps.readKnown(s, s"$baseAbs/dl"),
      SegmentOps.readKnown(s, s"$baseAbs/stats"),
      readBaseTf(s, baseAbs))

  /** The base tf with its `tbk` bucket partition column. */
  private def readBaseTf(s: SparkSession, baseAbs: String): DataFrame =
    SegmentOps.readKnown(s, s"$baseAbs/tf",
      Seq("tbk" -> org.apache.spark.sql.types.IntegerType))

  /** Load the live view of a segmented layout. The cap comes from the
    * layout's meta table; pass `Some(cap)` only to ASSERT it. The
    * snapshot (manifest) is resolved ONCE here — the returned lazy
    * view keeps serving that snapshot's bytes even if a compaction
    * flips the layout's pointer afterwards (SegmentManifestSpec pins
    * it). */
  def read(s: SparkSession, root: String, cap: Option[Int] = None)
      : SparseIndex.Index =
    readSnap(s, root, SegmentOps.resolveSnapshot(s, root), cap)

  /** Snapshot time travel: the live view AS OF manifest `version` —
    * any un-vacuumed snapshot replays exactly (its dirs are immutable
    * once published). */
  def readAt(s: SparkSession, root: String, version: Int)
      : SparseIndex.Index =
    readSnap(s, root, SegmentOps.resolveSnapshotAt(s, root, version),
      None)

  private def readSnap(s: SparkSession, root: String,
      snap: SegmentOps.Snapshot, cap: Option[Int])
      : SparseIndex.Index = {
    layoutCap(s, root, snap, cap)
    view(readBase(s, s"$root/${snap.baseDir}"), readSegs(s, root, snap))
  }

  /** Append a disjoint shard as a new segment — an O(delta) write
    * published atomically; base files are never touched
    * (SparseSegmentsSpec asserts it). The repaired lists ride in the
    * same concurrent table write as the delta tables. Reads the live
    * lists and doc lengths only — never the tf. */
  def appendSeg(s: SparkSession, root: String, deltaTf: DataFrame,
      tag: Option[String] = None): Unit = {
    val snap = SegmentOps.resolveSnapshot(s, root)
    val cap = layoutCap(s, root, snap)
    val baseAbs = s"$root/${snap.baseDir}"
    val segs = readSegs(s, root, snap)
    val liveDl = liveDocs(SegmentOps.readKnown(s, s"$baseAbs/dl"), segs)
    val n = listSegs(s, root).lastOption.fold(0)(_ + 1)
    SegmentOps.publishSeg(s, root, n, 'a', tablesOf(mkAppendSeg(
      liveLists(SegmentOps.readKnown(s, s"$baseAbs/plist"), segs),
      guardedDisjoint(liveDl, deltaTf), cap)), tag)
  }

  /** Retract documents as a new segment — an O(delta) write published
    * atomically. Reads the live tf only. The list repair reads the
    * base tf of the deleted docs' terms only: their bucket census
    * (≤ [[TokBuckets]] values, one single-stage job over the term set
    * the segment writes anyway) becomes a static partition filter on
    * the scan. */
  def deleteSeg(s: SparkSession, root: String, docIds: DataFrame,
      tag: Option[String] = None): Unit = {
    import s.implicits._
    val snap = SegmentOps.resolveSnapshot(s, root)
    val cap = layoutCap(s, root, snap)
    val baseTfB = readBaseTf(s, s"$root/${snap.baseDir}")
    val (adds, tombs) = snap.segs.map { case (_, d, k) =>
      readSegTf(s, root, d, k) }.unzip
    val termTf = (touched: DataFrame) => {
      // each partition's distinct buckets, so ≤ TokBuckets values per
      // partition reach the driver and no shuffle stage runs
      val buckets = touched
        .select(pmod(hash(col("tok")), lit(TokBuckets))).as[Int]
        .mapPartitions(_.toSet.iterator).collect().distinct.sorted
      liveTf(baseTfB.filter(col("tbk").isin(buckets.map(Int.box): _*))
          .join(touched, Seq("tok"), "left_semi"),
        adds.map(_.join(touched, Seq("tok"), "left_semi")), tombs)
    }
    val n = listSegs(s, root).lastOption.fold(0)(_ + 1)
    SegmentOps.publishSeg(s, root, n, 'd', tablesOf(mkDeleteSeg(
      liveTf(baseTfB, adds, tombs), docIds, cap, termTf)), tag)
  }

  /** Snapshot CDC — the sparse family's twin of
    * [[MinHashSegments.changesBetween]] (see there for semantics and
    * the fast-path cost contract). The content grain is the tf
    * relation — MULTI-row per doc, which is why the shared engine's
    * row diff is symmetric: a revise can grow a doc's rows (new
    * tokens) as well as shrink them, and either direction must
    * report `updated`. */
  def changesBetween(s: SparkSession, root: String, fromV: Int,
      toV: Int): DataFrame =
    SegmentOps.changesBetweenWith(s, root, fromV, toV, "doc_id")(
      { case (_, d, k) =>
        val (tf, tombs) = readSegTf(s, root, d, k)
        (tf.select("doc_id", "tok", "tf"), tombs) },
      snap => readSnap(s, root, snap, None).tf
        .select("doc_id", "tok", "tf"))

  /** TIERED compaction: fold the `k` oldest segments into ONE merged
    * segment — the prefix special case of [[mergeSegsAt]]. */
  def mergeSegs(s: SparkSession, root: String, k: Int = 2): Unit =
    mergeSegsAt(s, root, 0, k)

  /** TIERED compaction of an arbitrary contiguous range — the sparse
    * family's twin of [[MinHashSegments.mergeSegsAt]]. The per-doc
    * tables (tf, dl) fold by the same positional algebra (the range's
    * own scoped union over an empty base; merged tombs = the range's
    * tomb union, masking exactly base + every earlier position). The
    * lists fold by the same algebra keyed on `tok`: the newest list
    * per term across the range (no window — each input list is
    * already repaired). The merged term set names every term any
    * input replaced: merged dfd = the range's dfd summed per term,
    * zero-sum rows KEPT (a -1/+1 cancellation means df is unchanged
    * but the postings behind it changed doc identity, so the merged
    * list must still shadow the older one) — and merged statsd = the
    * 1-row sum. Crash-safe in two atomic steps
    * ([[SegmentOps.publishSegDir]] then [[SegmentOps.flipMergedAt]]);
    * a crash between them leaves vacuum-collectable debris. */
  def mergeSegsAt(s: SparkSession, root: String, from: Int, k: Int)
      : Unit = {
    val snap = SegmentOps.resolveSnapshot(s, root)
    require(snap.version > 0,
      "SparseSegments.mergeSegsAt: tiered merge requires a manifest " +
        "(directory-enumeration layouts cannot hold two dirs per " +
        "segment number)")
    require(from >= 0 && k >= 2 && from + k <= snap.segs.size,
      s"SparseSegments.mergeSegsAt: range [$from, ${from + k}) " +
        s"outside the snapshot's ${snap.segs.size} segments (k >= 2)")
    layoutCap(s, root, snap)
    val range = snap.segs.slice(from, from + k)
    val segs = range.map { case (_, d, kd) => readSeg(s, root, d, kd) }
    val tombsSeq = segs.map(_.tombs)
    def fold(f: Seg => DataFrame, masks: Seq[DataFrame], key: String) =
      SegmentOps.scopedUnion(SegmentOps.emptyLike(f(segs.head)),
        segs.map(f), masks, key)
    val merged = Seg(
      tfAdd = fold(_.tfAdd.select(SparseIndex.TfCols.map(col): _*),
        tombsSeq, "doc_id"),
      dfd = segs.map(_.dfd).reduce(_ unionByName _)
        .groupBy("tok").agg(sum("dfd").as("dfd")),
      dlAdd = fold(_.dlAdd, tombsSeq, "doc_id"),
      statsd = segs.map(_.statsd).reduce(_ unionByName _)
        .agg(coalesce(sum("n_docs"), lit(0L)).as("n_docs"),
          coalesce(sum("t_tokens"), lit(0L)).as("t_tokens")),
      tombs = tombsSeq.reduce(_ unionByName _).distinct(),
      plist = fold(_.plist, segs.map(_.dfd), "tok"))
    val kinds = range.map(_._3).toSet
    val kind = if (kinds == Set('a')) 'a'
      else if (kinds == Set('d')) 'd' else 'm'
    val name = s"seg=${range.last._1}-$kind-g${snap.version + 1}"
    SegmentOps.publishSegDir(s, root, name, tablesOf(merged))
    SegmentOps.flipMergedAt(s, root, snap, from, k, name)
    ()
  }

  /** [[SegmentOps.tieredMaintainWith]] instantiated for this family:
    * the leveled schedule to quiescence, base never touched; pair
    * with the [[shadowedListFraction]]-OR-[[SegmentOps.shouldCompact]]
    * trigger + [[compactInPlace]] for the rare full fold. Returns the
    * number of merges performed. A segment's size is its churn rows;
    * its repaired lists (≤ terms × cap rows) are left out so they do
    * not flatten the size ratios the geometric rule compares. */
  def tieredMaintain(s: SparkSession, root: String, minRun: Int = 2,
      fanout: Int = 4, ratio: Double = 1.5): Int =
    SegmentOps.tieredMaintainWith(s, root, minRun, fanout, ratio)(
      d => SegmentOps.footerRows(s, segTables.filterNot(_ == "plist")
        .map(t => s"$root/segs/$d/$t")),
      mergeSegsAt(s, root, _, _))

  /** Fold the segments into a fresh base at `outRoot` — the periodic
    * maintenance that resets the view's per-segment plan depth. The
    * compacted layout serves exactly like the segmented one
    * (SparseSegmentsSpec pins it); swapping `outRoot` in for `root`
    * is the caller's pointer flip. The cap carries over from the
    * layout's meta table. */
  def compact(s: SparkSession, root: String, outRoot: String): Unit = {
    val snap = SegmentOps.resolveSnapshot(s, root)
    init(readSnap(s, root, snap, None), outRoot,
      layoutCap(s, root, snap))
  }

  /** The sparse family's data-dependent compaction signal: the
    * fraction of the base's posting lists that the current segments
    * shadow. A serve scans the base lists and every segment's lists
    * and drops the shadowed base rows, so this IS the family's read
    * amplification: 0.2 means a fifth of the base lists are read only
    * to be replaced. Zero jobs for the base's term count (the `df`
    * footer), one segment-sized job for the shadowed terms; OR it with
    * [[SegmentOps.shouldCompact]]'s count trigger for the w09 nightly
    * policy. */
  def shadowedListFraction(s: SparkSession, root: String): Double = {
    val snap = SegmentOps.resolveSnapshot(s, root)
    if (snap.segs.isEmpty) return 0.0
    layoutCap(s, root, snap)
    val baseAbs = s"$root/${snap.baseDir}"
    val lists = SegmentOps.footerRows(s, Seq(s"$baseAbs/df"))
    if (lists == 0L) return 0.0
    val shadowed = SegmentOps.readKnown(s, s"$baseAbs/df")
      .join(readSegs(s, root, snap).map(_.dfd.select("tok"))
        .reduce(_ unionByName _), Seq("tok"), "left_semi")
      .count()
    shadowed.toDouble / lists
  }

  /** Fold the segments into a fresh base generation under the SAME
    * root and flip the manifest pointer — the in-place form callers
    * actually run nightly (no external pointer to manage). The old
    * generation's dirs stay on disk, so a reader that resolved its
    * snapshot before the flip keeps serving the pre-compaction bytes;
    * [[SegmentOps.vacuum]] releases them once no reader holds the old
    * snapshot. Works on manifest-less layouts too (the first flip
    * creates the manifest). */
  def compactInPlace(s: SparkSession, root: String): Unit = {
    val snap = SegmentOps.resolveSnapshot(s, root)
    val cap = layoutCap(s, root, snap)
    val nb = SegmentOps.nextBaseDir(snap)
    writeBase(readSnap(s, root, snap, None), s"$root/$nb", cap)
    SegmentOps.flipCompacted(s, root, snap, nb)
    ()
  }
}
