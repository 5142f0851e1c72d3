package graft.etl

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit}

/** The segment lifecycle of a log-structured index family, written once
  * for [[MinHashSegments]], [[PqSegments]] and [[SparseSegments]]; a
  * family supplies its tables, id, build parameter, format, live view,
  * in-memory segment builders and CDC grain (the abstract members).
  *
  * Disk layout: `root/<base generation>/{<base tables>,meta}`,
  * `root/segs/seg=<n>-<kind>[-g<v>]/<segment tables>` and
  * `root/manifest/v=<v>`; [[SegmentOps]] owns the names, the manifest
  * and its CAS. The base's 1-row `meta` records the build parameter
  * and the layout [[Format]]; every entry point refuses a layout of
  * another format before it publishes anything.
  */
abstract class SegmentFamily[Idx] {
  import SegmentFamily._

  /** One maintenance operation's delta bundle: the segment tables by
    * name. A vacuous table is a statically-empty relation
    * ([[SegmentOps.emptyLike]]) so the view's joins against it elide. */
  type Seg = Map[String, DataFrame]

  /** The on-disk layout format this build reads and writes. */
  val Format: Int

  /** The family's name in messages. */
  val name: String = getClass.getSimpleName.stripSuffix("$")

  /** The segment tables in write order, each with its role. */
  protected def segTables: Seq[(String, Role)]

  /** The id the tombstones, the scoping and the CDC rows are keyed on. */
  protected def idCol: String

  /** The build parameter persisted in `meta` and its default, if the
    * family has one. Every later segment and compaction resolves it
    * from there, so two parameters can never mix in one layout. */
  protected def buildParam: Option[(String, Int)]

  /** The base generation's tables (without `meta`). */
  protected def baseTables(idx: Idx): Seq[(String, DataFrame)]

  /** Hive-partition columns of the base tables that have them. */
  protected def basePartitions: Map[String, Seq[String]] = Map.empty

  protected def readBase(s: SparkSession, baseAbs: String): Idx

  /** Compose base + segments into the LIVE index view. */
  def view(base: Idx, segs: Seq[Seg]): Idx

  /** The live view's id relation, one row per id: by default the ids
    * of [[cdcState]], for a family whose content is one row per id. */
  protected def liveIds(live: Idx): DataFrame = cdcState(live).select(idCol)

  /** The rows a delta is appended as, whose ids the disjointness check
    * guards (MinHash signs the delta documents). */
  protected def deltaRows(delta: DataFrame, param: Int): DataFrame = delta

  /** An append segment of `rows`, already checked disjoint from `live`. */
  protected def appendSegFrom(live: Idx, rows: DataFrame, param: Int): Seg

  /** A DELETE segment against the live view at build parameter
    * `param`. Deleting an id absent from the live view is a no-op. By
    * default it is tombstones only, for a family whose one add table
    * is its [[cdcTable]]: the vacuous additions are a statically-empty
    * copy of [[cdcState]] so the view's unions elide them. */
  protected def deleteSegFrom(live: Idx, ids: DataFrame, param: Int)
      : Seg = Map(cdcTable -> SegmentOps.emptyLike(cdcState(live)),
    tombTable -> ids.select(idCol).distinct())

  /** The tables a segment's size counts for [[tieredMaintain]]. */
  protected def sizedTables: Seq[String] = segTables.map(_._1)

  /** The CDC content grain: the segment table holding content additions
    * and the live content relation of a view, both projected by
    * [[cdcRows]]. */
  protected def cdcTable: String
  protected def cdcState(live: Idx): DataFrame
  protected def cdcRows(rows: DataFrame): DataFrame = rows

  private lazy val tombTable = segTables.collectFirst {
    case (t, Tomb) => t }.get

  protected def tablesOf(seg: Seg): Seq[(String, DataFrame)] =
    segTables.map { case (t, _) => t -> seg(t) }

  /** An APPEND segment against the live view at build parameter
    * `param` — each family's in-memory `appendSegOf`. Precondition
    * (asserted): the delta's ids are disjoint from the LIVE view — a
    * previously deleted id may be re-appended (the revise path;
    * tombstone scoping makes it correct). */
  protected def appendChecked(live: Idx, delta: DataFrame, param: Int)
      : Seg = {
    // the IN-MEMORY form keeps the eager check: an in-plan guard
    // ([[guarded]]) here would embed the live VIEW in the segment's own
    // plan, and a stacked in-memory append chain would nest
    // quadratically (the linear-plan-growth specs are the gate)
    val rows = deltaRows(delta, param)
    val clash = liveIds(live).join(rows.select(idCol).distinct(), idCol)
      .limit(1).count()
    require(clash == 0L, overlapMsg)
    appendSegFrom(live, rows, param)
  }

  private def overlapMsg: String =
    s"$name: delta ${idCol}s overlap the live ids — append segments " +
      "are for disjoint shards (revise = deleteSeg + appendSeg)"

  /** Disjointness as an in-plan guard on the delta rows (fires at the
    * segment write; zero extra jobs). Disk path only: the guarded plan
    * is executed once by the write and read back as plain rows, so the
    * live view never nests into later plans. */
  protected def guarded(rows: DataFrame, liveIds: DataFrame): DataFrame =
    SegmentOps.guardDisjoint(rows, liveIds, idCol, overlapMsg)

  /** Write `idx` as the base generation of a segmented layout, at the
    * family's default build parameter (see [[initAt]]). */
  def init(idx: Idx, root: String): Unit =
    initAt(idx, root, buildParam.fold(0)(_._2))

  /** [[init]] at build parameter `param`, which MUST be the one `idx`
    * was built with (unused by a family without one). */
  protected def initAt(idx: Idx, root: String, param: Int): Unit = {
    writeBase(idx, s"$root/base", param)
    SegmentOps.publishManifest(baseTables(idx).head._2.sparkSession, root,
      "base", Seq.empty)
  }

  /** The base tables plus the 1-row `meta` (a zero-job local write). */
  private def writeBase(idx: Idx, dirAbs: String, param: Int): Unit = {
    val stored = buildParam.toSeq.map { case (p, _) =>
      require(param > 0, s"$name: $p must be positive, got $param")
      p -> param
    }
    val tables = baseTables(idx)
    graft.sources.Sources.writeOrdered(tables :+ ("meta" ->
      SegmentOps.metaTable(tables.head._2.sparkSession,
        stored :+ ("format" -> Format): _*)), dirAbs,
      partitions = basePartitions)
  }

  /** The snapshot's persisted build parameter (0 for a family without
    * one), after checking the layout [[Format]] (a layout written before
    * the format field existed reads as format 1). */
  protected def checkLayout(s: SparkSession, root: String,
      snap: SegmentOps.Snapshot): Int = {
    val baseAbs = s"$root/${snap.baseDir}"
    val found = SegmentOps.readMetaIntOpt(s, s"$baseAbs/meta", "format")
      .getOrElse(1)
    require(found == Format,
      s"$name: layout $baseAbs is in layout format $found, but this " +
        s"build reads format $Format only — rebuild the layout from " +
        "its source (init) to upgrade it")
    buildParam.fold(0) { case (p, _) =>
      SegmentOps.readMetaInt(s, s"$baseAbs/meta", p) }
  }

  /** The tables `names` (default: all) of one on-disk segment. The kind
    * tag tells which tables are vacuous BY CONSTRUCTION, and those are
    * rebuilt as statically-empty LocalRelations (schema from the parquet
    * footer only), so the optimizer elides their joins — the linearity
    * the in-memory builders get from emptyLike. A mixed-range merged
    * segment (kind 'm') carries rows in every table. */
  protected def readSeg(s: SparkSession, root: String,
      entry: (Int, String, Char),
      names: Seq[String] = segTables.map(_._1)): Seg = {
    val roles = segTables.toMap
    names.map { t =>
      val df = SegmentOps.readKnown(s, s"$root/segs/${entry._2}/$t")
      val vacuous = (roles(t), entry._3) match {
        case (Add, 'd') | (Tomb, 'a') => true
        case _ => false
      }
      t -> (if (vacuous) SegmentOps.emptyLike(df) else df)
    }.toMap
  }

  /** The live view of `snap` and its build parameter. */
  protected def readLive(s: SparkSession, root: String,
      snap: SegmentOps.Snapshot): (Idx, Int) = {
    val param = checkLayout(s, root, snap)
    (view(readBase(s, s"$root/${snap.baseDir}"),
      snap.segs.map(readSeg(s, root, _))), param)
  }

  protected def readCurrent(s: SparkSession, root: String): (Idx, Int) =
    readLive(s, root, SegmentOps.resolveSnapshot(s, root))

  /** Load the live view of a segmented layout. The snapshot (manifest)
    * is resolved ONCE here — the returned lazy view keeps serving that
    * snapshot's bytes even if a compaction flips the layout's pointer
    * afterwards (SegmentManifestSpec pins it). */
  def read(s: SparkSession, root: String): Idx = readCurrent(s, root)._1

  /** Snapshot time travel: the live view AS OF manifest `version` —
    * any un-vacuumed snapshot replays exactly (its dirs are immutable
    * once published). */
  def readAt(s: SparkSession, root: String, version: Int): Idx =
    readLive(s, root, SegmentOps.resolveSnapshotAt(s, root, version))._1

  /** Publish `seg` as the next segment number, atomically. */
  protected def publish(s: SparkSession, root: String, kind: Char,
      seg: Seg, tag: Option[String]): Unit =
    SegmentOps.publishSeg(s, root,
      SegmentOps.listSegs(s, root).lastOption.fold(0)(_ + 1), kind,
      tablesOf(seg), tag)

  /** Append a disjoint shard as a new segment — an O(delta) write
    * published atomically; base files are never touched (each family's
    * spec asserts it). The delta is appended at the layout's STORED
    * build parameter. */
  def appendSeg(s: SparkSession, root: String, delta: DataFrame,
      tag: Option[String] = None): Unit = {
    val (live, param) = readCurrent(s, root)
    publish(s, root, 'a', appendSegFrom(live,
      guarded(deltaRows(delta, param), liveIds(live)), param), tag)
  }

  /** Retract ids as a new segment — an O(delta) write published
    * atomically. */
  def deleteSeg(s: SparkSession, root: String, ids: DataFrame,
      tag: Option[String] = None): Unit = {
    val (live, param) = readCurrent(s, root)
    publish(s, root, 'd', deleteSegFrom(live, ids, param), tag)
  }

  /** TIERED compaction: fold the `k` oldest segments into ONE merged
    * segment — the prefix special case of [[mergeSegsAt]]. */
  def mergeSegs(s: SparkSession, root: String, k: Int = 2): Unit =
    mergeSegsAt(s, root, 0, k)

  /** TIERED compaction: fold the `k` segments starting at snapshot
    * position `from` into ONE merged segment — cost O(sum of the folded
    * segments' rows), never O(live). This is the LSM move that makes
    * full base folds RARE at scale: a 100 TB base is never rewritten
    * for nightly churn; only the young deltas merge. Soundness of the
    * range-merge algebra (TieredMergeSpec pins each clause):
    *
    *  - merged adds = the range's own scoped union over an EMPTY base
    *    (segment i's tombs mask range adds j < i — delete-then-revise
    *    WITHIN the range collapses to the revision);
    *  - merged tombs = the union of the range's tombs (each masked
    *    base + earlier-range adds; the latter is baked into the adds,
    *    so at the merged segment's position they mask exactly base +
    *    every earlier position, as before);
    *  - survivors on BOTH sides keep their numbers and positions: a
    *    later survivor's tombs still mask merged adds, and merged tombs
    *    still mask everything before the range (scoping is positional
    *    and the merged segment reuses the range's HIGHEST number, so
    *    number-sorted reads place it exactly at the range's slot);
    *  - an [[SegmentFamily.Always]] table folds by its own rule.
    *
    * The mid-range form is what lets [[SegmentOps.tieredPlan]]'s
    * schedule skip a standing merged segment and fold only the young
    * churn behind it. Publication is crash-safe in two atomic steps:
    * the merged bundle lands under `seg=<n>-<kind>-g<v>` WITHOUT a
    * manifest record ([[SegmentOps.publishSegDir]]), then one CAS flip
    * swaps the folded range for it ([[SegmentOps.flipMergedAt]] —
    * concurrent appends carry, concurrent folds fail loud). A crash
    * between the two leaves an unreferenced dir that
    * [[SegmentOps.vacuum]] collects; the folded originals stay on disk
    * (old snapshots keep replaying) until vacuum releases them with
    * their versions. */
  def mergeSegsAt(s: SparkSession, root: String, from: Int, k: Int)
      : Unit = {
    val snap = SegmentOps.resolveSnapshot(s, root)
    require(snap.version > 0,
      s"$name.mergeSegsAt: tiered merge requires a manifest " +
        "(directory-enumeration layouts cannot hold two dirs per " +
        "segment number)")
    require(from >= 0 && k >= 2 && from + k <= snap.segs.size,
      s"$name.mergeSegsAt: range [$from, ${from + k}) outside the " +
        s"snapshot's ${snap.segs.size} segments (k >= 2)")
    checkLayout(s, root, snap)
    val range = snap.segs.slice(from, from + k)
    val segs = range.map(readSeg(s, root, _))
    val tombs = segs.map(_(tombTable))
    val merged = segTables.map { case (t, role) =>
      t -> (role match {
        case Add => SegmentOps.scopedUnion(
          SegmentOps.emptyLike(segs.head(t)), segs.map(_(t)), tombs, idCol)
        case Tomb => tombs.reduce(_ unionByName _).distinct()
        case Always(fold) => fold(segs)
      })
    }.toMap
    // keep the vacuous-table elision for uniform ranges: an all-append
    // range's merged tombs are provably empty, so publish it as kind
    // 'a' and readers rebuild them as a statically-empty
    // LocalRelation (join elision) instead of scanning a 0-row file
    val kinds = range.map(_._3).toSet
    val kind = if (kinds == Set('a')) 'a'
      else if (kinds == Set('d')) 'd' else 'm'
    val dir = s"seg=${range.last._1}-$kind-g${snap.version + 1}"
    SegmentOps.publishSegDir(s, root, dir, tablesOf(merged))
    SegmentOps.flipMergedAt(s, root, snap, from, k, dir)
    ()
  }

  /** Run [[SegmentOps.tieredPlan]]'s schedule to quiescence: merge
    * whatever the planner picks, re-plan, repeat until it returns None
    * (a nightly fresh-run fold can complete a merged run the geometric
    * rule then folds — the cascade IS the schedule). The base is never
    * touched; pair with [[SegmentOps.shouldCompact]] + [[compactInPlace]]
    * for the rare full fold. A segment's size is the footer row count
    * of its [[sizedTables]], read only when a contiguous merged run of
    * >= `fanout` exists — the nightly rule is structural and costs one
    * manifest read. Returns the number of merges performed. */
  def tieredMaintain(s: SparkSession, root: String, minRun: Int = 2,
      fanout: Int = 4, ratio: Double = 1.5): Int = {
    var merges = 0
    var planned = true
    while (planned) {
      val snap = SegmentOps.resolveSnapshot(s, root)
      val merged = snap.segs.map(e => SegmentOps.isMergedName(e._2))
      val needRows = merged.scanLeft(0)((n, m) => if (m) n + 1 else 0)
        .exists(_ >= fanout)
      val stats = snap.segs.zip(merged).map { case ((_, d, _), m) =>
        SegmentOps.SegStat(m, if (needRows && m) SegmentOps.footerRows(s,
          sizedTables.map(t => s"$root/segs/$d/$t")) else 0L)
      }
      SegmentOps.tieredPlan(stats, minRun, fanout, ratio) match {
        case Some((from, len)) =>
          mergeSegsAt(s, root, from, len); merges += 1
        case None => planned = false
      }
    }
    merges
  }

  /** Fold the segments into a fresh base at `outRoot` — the periodic
    * maintenance that resets the view's per-segment plan depth; the
    * build parameter carries over and nothing trained is retrained.
    * Swapping `outRoot` in for `root` is the caller's pointer flip. */
  def compact(s: SparkSession, root: String, outRoot: String): Unit = {
    val (live, param) = readCurrent(s, root)
    initAt(live, outRoot, param)
  }

  /** Fold the segments into a fresh base generation under the SAME
    * root and flip the manifest pointer — the in-place form callers run
    * nightly (no external pointer to manage). The old generation's dirs
    * stay on disk, so a reader that resolved its snapshot before the
    * flip keeps serving the pre-compaction bytes; [[SegmentOps.vacuum]]
    * releases them once no reader holds the old snapshot. Works on
    * manifest-less layouts too (the first flip creates the manifest). */
  def compactInPlace(s: SparkSession, root: String): Unit = {
    val snap = SegmentOps.resolveSnapshot(s, root)
    val (live, param) = readLive(s, root, snap)
    val nb = SegmentOps.nextBaseDir(snap)
    writeBase(live, s"$root/$nb", param)
    SegmentOps.flipCompacted(s, root, snap, nb)
    ()
  }

  /** STATE-DIFF CDC between two retained snapshots: one row per changed
    * id with `op` ∈ added / removed / updated — the
    * incremental-consumption primitive (re-embed, re-shard or re-audit
    * ONLY what changed since the last run, instead of diffing two
    * 100 TB corpus states). Semantics are state diff at the family's
    * content grain ([[cdcTable]]), not an operation log: a
    * delete-then-reappend of IDENTICAL content reports nothing, a revise
    * reports `updated`. The row diff is SYMMETRIC (A∖B ∪ B∖A per id): a
    * family whose content is multi-row per id (sparse tf) can change by
    * rows GROWING as well as shrinking, and a one-direction except would
    * miss pure growth.
    *
    * Cost: when no compaction or merge crossed the window (`toV`'s
    * segment list extends `fromV`'s over the same base), the FAST path
    * reads only the window's segments plus ONE semi-join of the old
    * snapshot against the window's tombstones (broadcast-sized at the
    * nightly grain; output is delta-sized) — O(delta), never a
    * two-state diff. When a fold DID cross the window the fast
    * decomposition no longer exists and the fallback computes the
    * honest O(live) content diff — same answer, priced differently
    * (x110's card proves the two paths cell-identical). Both snapshots
    * must still be retained (vacuum keepLast covers the consumer's lag
    * window). */
  def changesBetween(s: SparkSession, root: String, fromV: Int,
      toV: Int): DataFrame = {
    require(fromV <= toV,
      s"$name.changesBetween: fromV $fromV > toV $toV")
    val a = SegmentOps.resolveSnapshotAt(s, root, fromV)
    val b = SegmentOps.resolveSnapshotAt(s, root, toV)
    def stateRows(snap: SegmentOps.Snapshot) =
      cdcRows(cdcState(readLive(s, root, snap)._1))
    def tagged(df: DataFrame, op: String) =
      df.select(col(idCol), lit(op).as("op"))
    def ids(df: DataFrame) = df.select(idCol).distinct()
    val fast = a.baseDir == b.baseDir &&
      b.segs.take(a.segs.size) == a.segs
    val (added, removed, updated) =
      if (fast) {
        val news = b.segs.drop(a.segs.size).map { e =>
          val seg = readSeg(s, root, e, Seq(cdcTable, tombTable))
          (cdcRows(seg(cdcTable)), seg(tombTable))
        }
        if (news.isEmpty)
          return s.range(0).select(col("id").as(idCol), lit("").as("op"))
        // content that survives WITHIN the window (scoped: a later
        // tomb masks an earlier window add; re-adds win)
        val adds = SegmentOps.scopedUnion(
          SegmentOps.emptyLike(news.head._1), news.map(_._1),
          news.map(_._2), idCol)
        val tombs = news.map(_._2).reduce(_ unionByName _).distinct()
        // the ONE pass over the old state: which tombed ids were
        // actually live at fromV (delta-sized output)
        val tombedLiveA =
          stateRows(a).join(tombs, Seq(idCol), "left_semi")
        val tombedIds = ids(tombedLiveA)
        val addsIds = ids(adds)
        val updCand = adds.join(tombedIds, Seq(idCol), "left_semi")
        val oldRe = tombedLiveA.join(addsIds, Seq(idCol), "left_semi")
        (addsIds.join(tombedIds, Seq(idCol), "left_anti"),
          tombedIds.join(addsIds, Seq(idCol), "left_anti"),
          ids(updCand.except(oldRe).select(idCol)
            .unionByName(oldRe.except(updCand).select(idCol))))
      } else {
        val va = stateRows(a)
        val vb = stateRows(b)
        val vaIds = ids(va)
        val vbIds = ids(vb)
        (vbIds.join(vaIds, Seq(idCol), "left_anti"),
          vaIds.join(vbIds, Seq(idCol), "left_anti"),
          ids(va.except(vb).select(idCol)
              .unionByName(vb.except(va).select(idCol)))
            .join(vaIds, Seq(idCol), "left_semi")
            .join(vbIds, Seq(idCol), "left_semi"))
      }
    tagged(added, "added")
      .unionByName(tagged(removed, "removed"))
      .unionByName(tagged(updated, "updated"))
  }
}

object SegmentFamily {

  /** How a segment table reads on a pure-kind segment and how a tiered
    * merge folds it. */
  sealed trait Role

  /** Content additions keyed on the family id: vacuous on a delete
    * segment; a merge folds the range's own scoped union. */
  case object Add extends Role

  /** The tombstones: vacuous on an append segment; a merge unions the
    * range's. */
  case object Tomb extends Role

  /** A table with rows on every kind of segment (sparse `dfd`, `statsd`,
    * `plist`); a merge folds the range's segments with `fold`. */
  final case class Always(fold: Seq[Map[String, DataFrame]] => DataFrame)
    extends Role
}
