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
  * A segment carries exactly what its operation knew, each O(delta):
  *  - `tfAdd` — an appended shard's term frequencies (empty for a
  *    delete);
  *  - `dfd` — SIGNED document-frequency deltas per term (+ for an
  *    append, − for a delete, computed against the live view at write
  *    time, so unioning all deltas telescopes to the live df);
  *  - `dlAdd` — the shard's doc lengths;
  *  - `statsd` — a signed 1-row corpus-card delta;
  *  - `tombs` — deleted doc_ids (empty for an append).
  *
  * The live [[view]] (same code for the in-memory composition x99
  * gates and the on-disk layout):
  *  - tombstones are SCOPED: a segment's tombs apply to the base and
  *    to EARLIER segments only, so deleting a doc and re-appending its
  *    revision in a later segment works (revise = deleteSeg +
  *    appendSeg, the family contract);
  *  - `df` = base ∪ signed deltas, summed per term, zero rows dropped;
  *  - `dl`/`tf` = scoped anti-joins + unions;
  *  - `stats` = the 1-row sum of base ∪ deltas;
  *  - `plist`: terms no segment touched keep the base's stored lists
  *    VERBATIM (never re-read, never rewritten); dirty terms — the
  *    union of the segments' dfd term sets, which covers both appended
  *    and deleted postings — re-truncate from the live tf at read
  *    time, bounded by the segments' churn, exactly the lazy
  *    re-truncation [[SparseIndex.delete]] does eagerly.
  *
  * Plan depth grows LINEARLY with the segment count — the deliberate
  * LSM trade, pinned by SparseSegmentsSpec's growth test (the
  * dirty-term set is cut once so it never re-inlines per consumer,
  * and a segment's vacuous tables are statically-empty
  * LocalRelations whose joins Catalyst elides); [[compact]] resets
  * the depth and is proven serve-equivalent. On disk the base tf is
  * partitioned by a 64-way token-hash bucket (`tbk`); the dirty
  * BUCKET census (≤ 64 values by construction) is collected at view
  * time and becomes a STATIC isin partition filter on the base tf
  * scan — pruning guaranteed by the planner (PushdownAuditSpec
  * asserts it), not left to DPP heuristics.
  *
  * x99_segmented_serve gates the whole composition cross-engine
  * (Spark serves THROUGH a base+append-seg+delete-seg view; DuckDB
  * rebuilds the surviving corpus from scratch — hash-exact at low cap
  * so dirty-term re-truncation is exercised corpus-wide);
  * SparseSegmentsSpec pins the disk layout: segment writes leave base
  * files untouched (the O(delta) claim as an mtime assertion),
  * read ≡ in-memory view, compact ≡ segmented serve, and the
  * delete-then-revise chain.
  */
object SparseSegments {

  /** Token-hash partition fan-out of the base tf relation. */
  val TokBuckets = 64

  /** One maintenance operation's delta bundle — see the class doc. */
  final case class Seg(tfAdd: DataFrame, dfd: DataFrame,
      dlAdd: DataFrame, statsd: DataFrame, tombs: DataFrame)

  /** Build an APPEND segment against the live view: the shard's tf,
    * +df deltas, doc lengths, +stats delta, no tombstones.
    * Precondition (asserted): the shard's doc_ids are disjoint from
    * the LIVE corpus — a previously deleted id may be re-appended
    * (that is the revise path; tombstone scoping makes it correct). */
  def appendSegOf(live: SparseIndex.Index, deltaTf: DataFrame): Seg = {
    // the IN-MEMORY form keeps the eager check — an in-plan guard
    // here would embed the live view in the segment's plan and a
    // stacked in-memory chain would nest (the linear-plan-growth
    // contract); the DISK path ([[appendSeg]]) guards in-plan.
    val clash = live.dl.select("doc_id")
      .join(deltaTf.select("doc_id").distinct(), "doc_id")
      .limit(1).count()
    require(clash == 0L,
      "SparseSegments append: delta doc_ids overlap the live " +
        "corpus — append segments are for disjoint shards (revise = " +
        "deleteSeg + appendSeg)")
    mkAppendSeg(deltaTf)
  }

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

  /** The append segment's tables — a pure function of the delta. The
    * vacuous tombstones are a statically-empty LocalRelation so the
    * optimizer elides every scoping anti-join they would feed
    * ([[SegmentOps.emptyLike]] — the append-only stacks stay linear). */
  private def mkAppendSeg(deltaTf: DataFrame): Seg = {
    val dlAdd = deltaTf.groupBy("doc_id").agg(sum("tf").as("dl"))
      .cut(false) // consumers: the segment write + statsd
    Seg(
      tfAdd = deltaTf.select("doc_id", "tok", "tf"),
      dfd = deltaTf.groupBy("tok").agg(count(lit(1)).as("dfd")),
      dlAdd = dlAdd,
      statsd = dlAdd.agg(count(lit(1)).as("n_docs"),
        coalesce(sum("dl"), lit(0L)).as("t_tokens")),
      tombs = SegmentOps.emptyLike(deltaTf.select("doc_id")))
  }

  /** Build a DELETE segment against the live view: −df deltas from the
    * deleted docs' live postings, a −stats delta, and the tombstones.
    * Deleting an id absent from the live corpus is a no-op (zero
    * deltas, a tombstone that anti-joins nothing). */
  def deleteSegOf(live: SparseIndex.Index, docIds: DataFrame): Seg =
    mkDeleteSeg(live.tf, live.dl, docIds)

  /** The delete segment's tables — needs only the live tf/dl
    * relations, so the disk path composes them WITHOUT the full view
    * (no plist work, no bucket census). */
  private def mkDeleteSeg(liveTf: DataFrame, liveDl: DataFrame,
      docIds: DataFrame): Seg = {
    val del = docIds.select("doc_id").distinct().cut(false)
    val delTf = liveTf.join(del, Seq("doc_id"), "left_semi").cut(false)
    val delDl = liveDl.join(del, Seq("doc_id"), "left_semi")
      .cut(false)
    Seg(
      tfAdd = SegmentOps.emptyLike(delTf),
      dfd = delTf.groupBy("tok").agg((-count(lit(1))).as("dfd")),
      dlAdd = SegmentOps.emptyLike(delDl),
      statsd = delDl.agg((-count(lit(1))).as("n_docs"),
        (-coalesce(sum("dl"), lit(0L))).as("t_tokens")),
      tombs = del)
  }

  /** Compose base + segments into the LIVE index view. `cap` must be
    * the cap the base was built with. */
  def view(base: SparseIndex.Index, segs: Seq[Seg], cap: Int)
      : SparseIndex.Index = {
    if (segs.isEmpty) return base.copy(tf = baseTf(base))
    // tombstones scoped per SegmentOps.scopedUnion: segs(i) is masked
    // by tombs of segs j > i, the base by all of them
    val adds = segs.map(_.tfAdd.select("doc_id", "tok", "tf"))
    val tombs = segs.map(_.tombs)
    val tfLive = SegmentOps.scopedUnion(baseTf(base), adds, tombs,
      "doc_id")
    val dfLive = segs.map(_.dfd)
      .foldLeft(base.df.select(col("tok"), col("df").as("dfd")))(
        _ unionByName _)
      .groupBy("tok").agg(sum("dfd").as("df"))
      .filter(col("df") > 0)
    val dlLive = SegmentOps.scopedUnion(base.dl, segs.map(_.dlAdd),
      tombs, "doc_id")
    // the 1-row card sums 1 + |segs| rows: one partition needs no
    // exchange, so a serve binds it as literals in one job, not two
    val statsLive = segs.map(_.statsd)
      .foldLeft(base.stats)(_ unionByName _)
      .coalesce(1)
      .agg(sum("n_docs").as("n_docs"), sum("t_tokens").as("t_tokens"))
    // the dirty-term set is consumed by k+2 joins (clean's anti-join,
    // baseDirty's semi-join, each segment add's semi-join) — cut it
    // once or the k-way union re-inlines into every consumer and the
    // view plan grows quadratically in the segment count (the
    // linear-growth spec is the regression gate)
    val dirty = segs.map(_.dfd.select("tok"))
      .reduce(_ unionByName _).distinct().cut(false)
    val clean = base.plist.join(dirty, Seq("tok"), "left_anti")
      .select("doc_id", "tok", "tf")
    // live tf restricted to dirty terms, built from PRUNED components:
    // when the base tf carries the on-disk `tbk` partition column, the
    // DIRTY BUCKET census (≤ TokBuckets values by construction — the
    // same bounded-artifact trick PqIndex.serve plays with the coarse
    // codebook) is collected at view time and becomes a STATIC
    // partition filter on the base tf scan, so pruning is guaranteed
    // by the planner rather than left to DPP heuristics
    // (PushdownAuditSpec asserts PartitionFilters on the scan). The
    // collect is one segment-sized job over the dfd term sets.
    val baseDirty =
      if (base.tf.columns.contains("tbk")) {
        val dirtyBuckets = dirty
          .select(pmod(hash(col("tok")), lit(TokBuckets)).as("tbk"))
          .distinct().collect().map(_.getInt(0))
        base.tf.filter(col("tbk").isin(dirtyBuckets.map(Int.box): _*))
          .join(dirty, Seq("tok"), "left_semi")
          .select("doc_id", "tok", "tf")
      } else baseTf(base).join(dirty, Seq("tok"), "left_semi")
    val tfDirty = SegmentOps.scopedUnion(baseDirty,
      adds.map(_.join(dirty, Seq("tok"), "left_semi")
        .select("doc_id", "tok", "tf")),
      tombs, "doc_id")
    val redone = SparseIndex.truncate(tfDirty, cap)
    SparseIndex.Index(clean.unionByName(redone), dfLive, dlLive,
      statsLive, tfLive)
  }

  /** The base tf without the storage-layout bucket column. */
  private def baseTf(base: SparseIndex.Index): DataFrame =
    if (base.tf.columns.contains("tbk"))
      base.tf.select("doc_id", "tok", "tf")
    else base.tf

  // ------------------------------------------------------------------
  // Disk layout: root/base/{plist,df,dl,stats,tf(tbk-partitioned)},
  // root/segs/seg=<n>/{tf,dfd,dl,statsd,tombs}
  // ------------------------------------------------------------------

  /** Write `idx` as the base generation of a segmented layout. The tf
    * relation is partitioned by the 64-way token-hash bucket — the
    * partition key the dirty-term re-truncation prunes on. `cap` MUST
    * be the cap `idx` was built with: it is persisted in the layout's
    * 1-row `meta` table, and every later read/compact resolves it
    * from there — a default-arg mismatch can no longer mix two caps
    * in one plist. */
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
      Seq("plist" -> idx.plist, "df" -> idx.df, "dl" -> idx.dl,
        "stats" -> idx.stats,
        // LocalRelation, not range(1).select: takes writeOrdered's
        // zero-job driver-side write path
        "meta" -> idx.stats.sparkSession.createDataFrame(
          java.util.Collections.singletonList(
            org.apache.spark.sql.Row(cap)),
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("cap",
              org.apache.spark.sql.types.IntegerType,
              nullable = false)))),
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

  /** The layout's persisted build cap. When the caller asserts a
    * `cap` too, they must agree — the silent-corruption guard. An
    * `Option` rather than a magic 0 (ADVICE r10): an explicit-but-
    * wrong value can never bypass the mismatch check. */
  private def storedCapAt(s: SparkSession, baseAbs: String,
      cap: Option[Int]): Int = {
    val stored = SegmentOps.readMetaInt(s, s"$baseAbs/meta", "cap")
    cap.foreach(c => require(c == stored,
      s"SparseSegments: layout $baseAbs was built at cap=$stored but " +
        s"cap=$c was passed — the caps must agree"))
    stored
  }

  /** Segment numbers present under `root`, ascending. */
  def listSegs(s: SparkSession, root: String): Seq[Int] =
    SegmentOps.listSegs(s, root)

  private def writeSeg(s: SparkSession, seg: Seg, root: String,
      n: Int, kind: Char, tag: Option[String]): Unit =
    SegmentOps.publishSeg(s, root, n, kind,
      Seq("tf" -> seg.tfAdd, "dfd" -> seg.dfd, "dl" -> seg.dlAdd,
        "statsd" -> seg.statsd, "tombs" -> seg.tombs), tag)

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
      tombs = if (kind == 'a') emptyT("tombs") else t("tombs"))
  }

  private def readSegs(s: SparkSession, root: String,
      snap: SegmentOps.Snapshot): Seq[Seg] =
    snap.segs.map { case (_, dirName, kind) =>
      readSeg(s, root, dirName, kind)
    }

  /** The live tf and dl relations alone — what segment BUILDERS need;
    * composing them skips the view's plist work and its dirty-bucket
    * census job entirely (a nightly appendSeg/deleteSeg never pays
    * for a relation it doesn't read). */
  private def liveParts(s: SparkSession, root: String)
      : (DataFrame, DataFrame) = {
    val snap = SegmentOps.resolveSnapshot(s, root)
    val baseTfD = SegmentOps.readKnown(s,
        s"$root/${snap.baseDir}/tf",
        Seq("tbk" -> org.apache.spark.sql.types.IntegerType))
      .select("doc_id", "tok", "tf")
    val baseDl = SegmentOps.readKnown(s, s"$root/${snap.baseDir}/dl")
    val segs = readSegs(s, root, snap)
    val tombs = segs.map(_.tombs)
    (SegmentOps.scopedUnion(baseTfD,
        segs.map(_.tfAdd.select("doc_id", "tok", "tf")), tombs,
        "doc_id"),
      SegmentOps.scopedUnion(baseDl, segs.map(_.dlAdd), tombs,
        "doc_id"))
  }

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
    val baseAbs = s"$root/${snap.baseDir}"
    val rc = storedCapAt(s, baseAbs, cap)
    val base = SparseIndex.Index(
      SegmentOps.readKnown(s, s"$baseAbs/plist"),
      SegmentOps.readKnown(s, s"$baseAbs/df"),
      SegmentOps.readKnown(s, s"$baseAbs/dl"),
      SegmentOps.readKnown(s, s"$baseAbs/stats"),
      SegmentOps.readKnown(s, s"$baseAbs/tf",
        Seq("tbk" -> org.apache.spark.sql.types.IntegerType)))
    view(base, readSegs(s, root, snap), rc)
  }

  /** Append a disjoint shard as a new segment — an O(delta) write
    * published atomically; base files are never touched
    * (SparseSegmentsSpec asserts it). */
  def appendSeg(s: SparkSession, root: String, deltaTf: DataFrame,
      tag: Option[String] = None): Unit = {
    val (_, dl) = liveParts(s, root)
    val n = listSegs(s, root).lastOption.fold(0)(_ + 1)
    writeSeg(s, mkAppendSeg(guardedDisjoint(dl, deltaTf)), root, n,
      'a', tag)
  }

  /** Retract documents as a new segment — an O(delta) write published
    * atomically. */
  def deleteSeg(s: SparkSession, root: String, docIds: DataFrame,
      tag: Option[String] = None): Unit = {
    val (tf, dl) = liveParts(s, root)
    val n = listSegs(s, root).lastOption.fold(0)(_ + 1)
    writeSeg(s, mkDeleteSeg(tf, dl, docIds), root, n, 'd', tag)
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
        val seg = readSeg(s, root, d, k)
        (seg.tfAdd.select("doc_id", "tok", "tf"), seg.tombs) },
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
    * family's SIGNED tables fold by telescoping: merged dfd = the
    * range's dfd summed per term — zero-sum rows are KEPT (a -1/+1
    * cancellation means df is unchanged but the postings behind it
    * changed doc identity, so the term must stay in the view's
    * dirty-term set for re-truncation; dropping it would serve the
    * base's stale stored plist) — and merged statsd = the 1-row sum.
    * Crash-safe in two atomic steps ([[SegmentOps.publishSegDir]]
    * then [[SegmentOps.flipMergedAt]]); a crash between them leaves
    * vacuum-collectable debris. */
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
    val range = snap.segs.slice(from, from + k)
    val segs = range.map { case (_, d, kd) => readSeg(s, root, d, kd) }
    val tombsSeq = segs.map(_.tombs)
    val tfM = SegmentOps.scopedUnion(
      SegmentOps.emptyLike(segs.head.tfAdd),
      segs.map(_.tfAdd.select("doc_id", "tok", "tf")), tombsSeq,
      "doc_id")
    val dlM = SegmentOps.scopedUnion(
      SegmentOps.emptyLike(segs.head.dlAdd),
      segs.map(_.dlAdd), tombsSeq, "doc_id")
    val dfdM = segs.map(_.dfd).reduce(_ unionByName _)
      .groupBy("tok").agg(sum("dfd").as("dfd"))
    val statsdM = segs.map(_.statsd).reduce(_ unionByName _)
      .agg(coalesce(sum("n_docs"), lit(0L)).as("n_docs"),
        coalesce(sum("t_tokens"), lit(0L)).as("t_tokens"))
    val tombsM = tombsSeq.reduce(_ unionByName _).distinct()
    val kinds = range.map(_._3).toSet
    val kind = if (kinds == Set('a')) 'a'
      else if (kinds == Set('d')) 'd' else 'm'
    val name = s"seg=${range.last._1}-$kind-g${snap.version + 1}"
    SegmentOps.publishSegDir(s, root, name,
      Seq("tf" -> tfM, "dfd" -> dfdM, "dl" -> dlM,
        "statsd" -> statsdM, "tombs" -> tombsM))
    SegmentOps.flipMergedAt(s, root, snap, from, k, name)
    ()
  }

  /** [[SegmentOps.tieredMaintainWith]] instantiated for this family:
    * the leveled schedule to quiescence, base never touched; pair
    * with the [[dirtyBucketFraction]]-OR-[[SegmentOps.shouldCompact]]
    * trigger + [[compactInPlace]] for the rare full fold. Returns the
    * number of merges performed. */
  def tieredMaintain(s: SparkSession, root: String, minRun: Int = 2,
      fanout: Int = 4, ratio: Double = 1.5): Int =
    SegmentOps.tieredMaintainWith(s, root, minRun, fanout, ratio)(
      d => SegmentOps.footerRows(s, Seq("tf", "dfd", "dl", "statsd",
        "tombs").map(t => s"$root/segs/$d/$t")),
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
      storedCapAt(s, s"$root/${snap.baseDir}", None))
  }

  /** The sparse family's data-dependent compaction signal: the
    * fraction of the base tf's [[TokBuckets]] partitions the current
    * segments' dirty terms touch. The view rescans exactly these
    * buckets on every read (the static isin filter), so this IS the
    * family's read amplification: 0.2 means a fifth of the base tf is
    * re-read per serve. One segment-sized job (the dfd term sets are
    * O(churn)); OR it with [[SegmentOps.shouldCompact]]'s count
    * trigger for the w09 nightly policy. */
  def dirtyBucketFraction(s: SparkSession, root: String): Double = {
    val snap = SegmentOps.resolveSnapshot(s, root)
    if (snap.segs.isEmpty) return 0.0
    val dirty = readSegs(s, root, snap).map(_.dfd.select("tok"))
      .reduce(_ unionByName _)
      .select(pmod(hash(col("tok")), lit(TokBuckets)).as("tbk"))
      .distinct().count()
    dirty.toDouble / TokBuckets
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
    val cap = storedCapAt(s, s"$root/${snap.baseDir}", None)
    val nb = SegmentOps.nextBaseDir(snap)
    writeBase(readSnap(s, root, snap, None), s"$root/$nb", cap)
    SegmentOps.flipCompacted(s, root, snap, nb)
    ()
  }
}
