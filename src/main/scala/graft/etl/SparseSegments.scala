package graft.etl

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.etl.Checkpoints.CutOps
import graft.etl.SegmentFamily.{Add, Always, Tomb}

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
  *  - `tf` — an appended shard's term frequencies with their doc
  *    lengths, (doc_id, tok, tf, dl) like the base `tf` (empty for a
  *    delete);
  *  - `dfd` — the segment's TERM SET with signed document-frequency
  *    deltas (+ for an append, − for a delete): every term whose
  *    posting list the operation replaced, kept even when its delta
  *    telescopes to zero;
  *  - `dl` — the shard's doc lengths;
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
  * The build parameter is the cap; a non-positive cap is refused at the
  * base write, as it would persist an index whose every posting list
  * truncates to empty. The CDC grain is the (doc_id, tok, tf) relation
  * — multi-row per doc, so a revise can grow a doc's rows as well as
  * shrink them (the contract's row diff is symmetric).
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
object SparseSegments extends SegmentFamily[SparseIndex.Index] {

  /** Token-hash partition fan-out of the base tf relation. */
  val TokBuckets = 64

  /** The on-disk layout format this build reads and writes: 2 = the
    * posting lists carry `dl` and `df`, the tf rows carry `dl`, and
    * every segment carries its repaired lists. (Layouts before the
    * format field are format 1.) */
  val Format = 2

  /** The tables of the class doc. A merge sums `dfd` per term and KEEPS
    * zero-sum rows (a -1/+1 cancellation leaves df unchanged but changes
    * the postings' doc identity, so the merged list must still shadow
    * the older one), sums `statsd`, and keeps each term's newest list. */
  protected val segTables = Seq(
    "tf" -> Add,
    "dfd" -> Always(_.map(_("dfd")).reduce(_ unionByName _)
      .groupBy("tok").agg(sum("dfd").as("dfd"))),
    "dl" -> Add,
    "statsd" -> Always(_.map(_("statsd")).reduce(_ unionByName _)
      .agg(coalesce(sum("n_docs"), lit(0L)).as("n_docs"),
        coalesce(sum("t_tokens"), lit(0L)).as("t_tokens"))),
    "tombs" -> Tomb,
    "plist" -> Always(segs => SegmentOps.scopedUnion(
      SegmentOps.emptyLike(segs.head("plist")), segs.map(_("plist")),
      segs.map(_("dfd")), "tok")))
  protected val idCol = "doc_id"
  protected val buildParam = Some("cap" -> SparseIndex.ImpactCap)
  protected val cdcTable = "tf"

  /** A segment's size is its churn rows; its repaired lists (≤ terms ×
    * cap rows) are left out so they do not flatten the size ratios the
    * geometric rule compares. */
  override protected val sizedTables =
    segTables.map(_._1).filterNot(_ == "plist")

  /** One row per doc (the tf holds one per posting). */
  override protected def liveIds(live: SparseIndex.Index): DataFrame =
    live.dl.select("doc_id")

  /** [[init]] at build cap `cap`. */
  def init(idx: SparseIndex.Index, root: String, cap: Int): Unit =
    initAt(idx, root, cap)

  /** An APPEND segment at `cap`, the base's build cap (an in-memory
    * index does not record it). */
  def appendSegOf(live: SparseIndex.Index, deltaTf: DataFrame, cap: Int)
      : Seg = appendChecked(live, deltaTf, cap)

  protected def appendSegFrom(live: SparseIndex.Index, deltaTf: DataFrame,
      cap: Int): Seg =
    cutSeg(appendTables(live.plist, deltaTf, cap))

  /** The in-memory segment with the tables that read the live view
    * or the caller's id plan cut to leaves — otherwise a stacked
    * in-memory chain would nest each earlier view into the next
    * segment's plan (the linear-plan-growth contract). */
  private def cutSeg(seg: Seg): Seg =
    seg ++ Seq("dfd", "tombs", "plist").map(t => t -> seg(t).cut(false))

  /** The append segment's tables — the delta's own tables plus the
    * repaired lists of its terms, from the live lists `livePlist`. The
    * vacuous tombstones are a statically-empty LocalRelation so the
    * optimizer elides every scoping anti-join they would feed
    * ([[SegmentOps.emptyLike]] — the append-only stacks stay linear). */
  private def appendTables(livePlist: DataFrame, deltaTf: DataFrame,
      cap: Int): Seg = {
    // every table reads the delta: one guarded read and one
    // doc-length window, not one per table. The tables' own small
    // aggregations stay uncut, so they run inside the concurrent
    // write rather than one after another before it.
    val deltaDl = SparseIndex.withDl(deltaTf).cut(false)
    val dlAdd = SparseIndex.dlOf(deltaDl)
    Map(
      "tf" -> deltaDl,
      "dfd" -> deltaDl.groupBy("tok").agg(count(lit(1)).as("dfd")),
      "dl" -> dlAdd,
      "statsd" -> dlAdd.agg(count(lit(1)).as("n_docs"),
        coalesce(sum("dl"), lit(0L)).as("t_tokens")),
      "tombs" -> SegmentOps.emptyLike(deltaDl.select("doc_id")),
      "plist" -> asClustered(SparseIndex.appendLists(livePlist,
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
    cutSeg(deleteTables(live.tf, docIds, cap,
      touched => live.tf.join(touched, Seq("tok"), "left_semi")))

  override protected def deleteSegFrom(live: SparseIndex.Index,
      docIds: DataFrame, cap: Int): Seg = deleteSegOf(live, docIds, cap)

  /** The delete segment's tables. `termTf` gives the live tf of a set
    * of terms (before the delete) — the disk path's form reads only
    * those terms' base tf buckets. The deleted docs' lengths come
    * from their tf rows, so the live `dl` is never read. */
  private def deleteTables(liveTf: DataFrame, docIds: DataFrame,
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
    Map(
      "tf" -> SegmentOps.emptyLike(delTf),
      "dfd" -> dfd,
      "dl" -> SegmentOps.emptyLike(delDl),
      "statsd" -> delDl.agg((-count(lit(1))).as("n_docs"),
        (-coalesce(sum("dl"), lit(0L))).as("t_tokens")),
      "tombs" -> del,
      "plist" -> asClustered(SparseIndex.relist(
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
    val tombs = segs.map(_("tombs"))
    val dfLive = segs.map(_("dfd"))
      .foldLeft(base.df.select(col("tok"), col("df").as("dfd")))(
        _ unionByName _)
      .groupBy("tok").agg(sum("dfd").as("df"))
      .filter(col("df") > 0)
    // the 1-row card sums 1 + |segs| rows: one partition needs no
    // exchange, so a serve binds it as literals in one job, not two
    val statsLive = segs.map(_("statsd"))
      .foldLeft(base.stats)(_ unionByName _)
      .coalesce(1)
      .agg(sum("n_docs").as("n_docs"), sum("t_tokens").as("t_tokens"))
    SparseIndex.Index(liveLists(base.plist, segs), dfLive,
      liveDocs(base.dl, segs), statsLive,
      liveTf(base.tf, segs.map(_("tf")), tombs))
  }

  /** The live lists: the base's, each term replaced by the newest
    * segment list that names it. */
  private def liveLists(basePlist: DataFrame, segs: Seq[Seg])
      : DataFrame =
    SegmentOps.scopedUnion(basePlist, segs.map(_("plist")),
      segs.map(_("dfd")), "tok")
      .select(SparseIndex.PlistCols.map(col): _*)

  /** The live doc lengths: scoped anti-joins + union. */
  private def liveDocs(baseDl: DataFrame, segs: Seq[Seg]): DataFrame =
    SegmentOps.scopedUnion(baseDl, segs.map(_("dl")),
      segs.map(_("tombs")), "doc_id")

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

  /** The index tables. The tf relation is partitioned by the 64-way
    * token-hash bucket — the partition key a delete's list repair prunes
    * on. */
  protected def baseTables(idx: SparseIndex.Index)
      : Seq[(String, DataFrame)] =
    Seq("plist" -> idx.plist.select(SparseIndex.PlistCols.map(col): _*),
      "df" -> idx.df, "dl" -> idx.dl, "stats" -> idx.stats,
      // cluster rows by bucket before the partitioned write: without
      // it every write task emits one file per bucket it happens to
      // hold (tasks × TokBuckets small files — metadata poison at
      // scale); with it each task holds whole buckets, so the file
      // count is O(TokBuckets)
      "tf" -> idx.tf.withColumn("tbk",
          pmod(hash(col("tok")), lit(TokBuckets)))
        .repartition(TokBuckets, col("tbk")))

  override protected val basePartitions = Map("tf" -> Seq("tbk"))

  protected def readBase(s: SparkSession, baseAbs: String)
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

  /** [[read]], refusing a layout whose stored cap is not `cap` (an
    * `Option`, not a magic 0, so a wrong cap never bypasses it). */
  def read(s: SparkSession, root: String, cap: Option[Int])
      : SparseIndex.Index = {
    val (live, stored) = readCurrent(s, root)
    require(cap.forall(_ == stored), s"$name: layout $root was built " +
      s"at cap=$stored but cap=${cap.get} was passed — they must agree")
    live
  }

  protected def cdcState(live: SparseIndex.Index): DataFrame = live.tf

  override protected def cdcRows(tf: DataFrame): DataFrame =
    tf.select("doc_id", "tok", "tf")

  /** Append a disjoint shard as a new segment — an O(delta) write
    * published atomically; base files are never touched
    * (SparseSegmentsSpec asserts it). The repaired lists ride in the
    * same concurrent table write as the delta tables. Reads the live
    * lists and doc lengths only — never the tf. */
  override def appendSeg(s: SparkSession, root: String,
      deltaTf: DataFrame, tag: Option[String] = None): Unit = {
    val snap = SegmentOps.resolveSnapshot(s, root)
    val cap = checkLayout(s, root, snap)
    val baseAbs = s"$root/${snap.baseDir}"
    val segs = snap.segs.map(readSeg(s, root, _))
    val liveDl = liveDocs(SegmentOps.readKnown(s, s"$baseAbs/dl"), segs)
    publish(s, root, 'a', appendTables(
      liveLists(SegmentOps.readKnown(s, s"$baseAbs/plist"), segs),
      guarded(deltaTf, liveDl.select("doc_id")), cap), tag)
  }

  /** Retract documents as a new segment — an O(delta) write published
    * atomically. Reads the live tf only. The list repair reads the
    * base tf of the deleted docs' terms only: their bucket census
    * (≤ [[TokBuckets]] values, one single-stage job over the term set
    * the segment writes anyway) becomes a static partition filter on
    * the scan. */
  override def deleteSeg(s: SparkSession, root: String,
      docIds: DataFrame, tag: Option[String] = None): Unit = {
    import s.implicits._
    val snap = SegmentOps.resolveSnapshot(s, root)
    val cap = checkLayout(s, root, snap)
    val baseTfB = readBaseTf(s, s"$root/${snap.baseDir}")
    val (adds, tombs) = snap.segs.map { e =>
      val seg = readSeg(s, root, e, Seq("tf", "tombs"))
      (seg("tf"), seg("tombs"))
    }.unzip
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
    publish(s, root, 'd', deleteTables(liveTf(baseTfB, adds, tombs),
      docIds, cap, termTf), tag)
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
    checkLayout(s, root, snap)
    val baseAbs = s"$root/${snap.baseDir}"
    val lists = SegmentOps.footerRows(s, Seq(s"$baseAbs/df"))
    if (lists == 0L) return 0.0
    val shadowed = SegmentOps.readKnown(s, s"$baseAbs/df")
      .join(snap.segs.map(readSeg(s, root, _)("dfd").select("tok"))
        .reduce(_ unionByName _), Seq("tok"), "left_semi")
      .count()
    shadowed.toDouble / lists
  }
}
