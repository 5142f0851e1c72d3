package graft.etl

import org.apache.spark.sql.DataFrame

/** The one composition rule every log-structured index family shares:
  * base ∪ segment additions under SCOPED tombstones — segment i's
  * tombstones mask the base and additions j < i, never later ones, so
  * deleting a document and re-appending its revision in a later
  * segment is correct by construction (the delete-then-revise chain
  * each family's spec pins). [[SparseSegments]] also applies it keyed
  * on the term, to its write-time-repaired posting lists; the dense
  * ([[PqSegments]]) and MinHash ([[MinHashSegments]]) families' stored
  * rows are per-document, so this rule alone IS their live view.
  */
object SegmentOps {

  /** base ∪ adds(i), with tombs(i) masking base and adds(j < i) on
    * `key`. `adds` and `tombs` are parallel per-segment sequences (an
    * append segment has empty tombs; a delete segment an empty add).
    * Each branch takes ONE anti-join against the union of the tombs
    * that mask it, so the plan grows by one join per segment — linear
    * in the segment count (statically-empty tombs drop out of the
    * union, and an all-empty union elides its join). */
  def scopedUnion(base: DataFrame, adds: Seq[DataFrame],
      tombs: Seq[DataFrame], key: String): DataFrame = {
    require(adds.size == tombs.size,
      "scopedUnion: adds/tombs must be parallel per-segment sequences")
    def masked(df: DataFrame, ts: Seq[DataFrame]): DataFrame =
      ts.map(_.select(key)).reduceOption(_ unionByName _)
        .fold(df)(m => df.join(m, Seq(key), "left_anti"))
    adds.zipWithIndex
      .map { case (a, i) => masked(a, tombs.drop(i + 1)) }
      .foldLeft(masked(base, tombs))(_ unionByName _)
  }

  /** Disjointness precondition as an IN-PLAN guard instead of an
    * eager count job. Every `append`-family operator requires the
    * delta's ids to be disjoint from the live corpus (revise = delete
    * + append); the pre-r14 form asserted it with a separate
    * `join.limit(1).count()` ACTION per call — with AQE that is 3-5
    * driver jobs, and on the lifecycle cards those jobs (not the
    * check's data volume) were the wall. This form rides the check on
    * the delta's own rows: the returned frame is `delta` with `key`
    * rewritten to raise on any row whose id exists in `liveIds`, so
    * the first action that consumes the delta (the segment write, the
    * banded join, the encode — every call site materializes it)
    * performs the identical join and fails loud on overlap, at ZERO
    * extra actions. A violating row can never reach disk or a serve
    * result, because every consumer reads the delta THROUGH the
    * guard. Same failure guarantee, moved from definition time to
    * materialization time (the lazy-Spark norm); the error surfaces
    * as a SparkException wrapping the require message.
    *
    * `liveIds` must be unique per key — true by construction for
    * every call site (signature indexes, doc-length tables and code
    * tables hold exactly one row per id); a duplicate-id live side
    * would duplicate delta rows through the left join. */
  def guardDisjoint(delta: DataFrame, liveIds: DataFrame, key: String,
      msg: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit, raise_error, when}
    val keyType = delta.schema(key).dataType
    val marker = liveIds.select(col(key))
      .withColumn("__live_clash", lit(true))
    delta.join(marker, Seq(key), "left")
      .withColumn(key, when(col("__live_clash").isNull, col(key))
        .otherwise(raise_error(lit(msg)).cast(keyType)))
      .drop("__live_clash")
      .select(delta.columns.map(col).toIndexedSeq: _*)
  }

  /** A statically-EMPTY relation with `df`'s schema (a LocalRelation
    * with no rows — not a `limit(0)` over a real plan). The
    * difference matters for plan cost: Catalyst's empty-relation
    * propagation ELIDES joins against a provably-empty side, so an
    * append segment's vacuous tombstones (or a delete segment's
    * vacuous additions) cost NOTHING in the composed view — without
    * this, every earlier branch pays an anti-join per later segment
    * and an append-only stack grows quadratically
    * (SparseSegmentsSpec's linear-growth test is the regression
    * gate). */
  def emptyLike(df: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    df.sparkSession.createDataFrame(
      java.util.Collections.emptyList[org.apache.spark.sql.Row](),
      df.schema)

  /** Segment entries under `root/segs`, ascending by number: (n,
    * dirName, kind) where kind is 'a' (append), 'd' (delete) or '?'
    * (an untagged legacy dir — read in full). On-disk convention:
    * `segs/seg=<n>-<kind>/<table>`; in-flight writes live under
    * `_tmp_…` until [[publishSeg]]'s rename, so a listed segment is
    * always complete. */
  def listSegEntries(s: org.apache.spark.sql.SparkSession,
      root: String): Seq[(Int, String, Char)] = {
    val p = new org.apache.hadoop.fs.Path(s"$root/segs")
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).toSeq
      .map(_.getPath.getName)
      // fail LOUD on debris (e.g. `seg=old`, `seg=3-ab`): a skipped
      // segment would silently serve stale data, and a bare
      // NumberFormatException would not name the offending dir
      // (parseSegName raises with the path and the expected shape)
      .collect { case n if n.startsWith("seg=") =>
        parseSegName(n, s"$root/segs")
      }
      .sortBy(_._1)
  }

  /** Segment numbers present under `root/segs`, ascending. */
  def listSegs(s: org.apache.spark.sql.SparkSession, root: String)
      : Seq[Int] = listSegEntries(s, root).map(_._1)

  // ------------------------------------------------------------------
  // Driver-side parquet metadata reads. A `spark.read.parquet(p)
  // .count()` of a segment table is answered entirely from parquet
  // FOOTERS, yet still costs a full Spark job (plan + AQE stage +
  // schedule + one task per file). The lifecycle operators issue
  // dozens of such metadata lookups per run (tiered-maintain segment
  // sizing, layout meta fields, measured-cell counts), and on the
  // segment-family cards those jobs ARE the wall — the driver's
  // per-job latency dominates sub-MB data. Reading the footers
  // directly on the driver returns the identical numbers with zero
  // jobs. Scale note: this is metadata whose volume is O(files), the
  // same listing the Spark job's planning phase would do on the
  // driver anyway — not a data collect.
  // ------------------------------------------------------------------

  private def parquetParts(fs: org.apache.hadoop.fs.FileSystem,
      p: org.apache.hadoop.fs.Path)
      : Seq[org.apache.hadoop.fs.Path] = {
    val st = fs.getFileStatus(p)
    if (st.isFile) Seq(p)
    else fs.listStatus(p).toSeq
      .filterNot { c =>
        val n = c.getPath.getName
        n.startsWith("_") || n.startsWith(".")
      }
      .flatMap(c => parquetParts(fs, c.getPath))
  }

  /** Total row count of the parquet dirs/files `paths` from their
    * footers alone — bit-identical to `spark.read.parquet(paths: _*)
    * .count()` (which reads the same footers, via a job). Recurses
    * through hive-partition subdirectories; hidden/_ files skipped. */
  def footerRows(s: org.apache.spark.sql.SparkSession,
      paths: Seq[String]): Long = {
    if (paths.isEmpty) return 0L
    val conf = s.sparkContext.hadoopConfiguration
    paths.iterator.map { dir =>
      val p = new org.apache.hadoop.fs.Path(dir)
      val fs = p.getFileSystem(conf)
      parquetParts(fs, p).iterator.map { f =>
        val in = org.apache.parquet.hadoop.util.HadoopInputFile
          .fromPath(f, conf)
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
        try r.getRecordCount finally r.close()
      }.sum
    }.sum
  }

  /** Parquet read with the schema resolved from the FIRST footer on
    * the driver, instead of Spark's schema-inference JOB. Every bare
    * `spark.read.parquet(dir)` launches a footer-merging job at PLAN
    * time (~one per-job driver round-trip); a segmented layout read
    * issues one per table per segment, so a lifecycle card pays
    * dozens of them (measured: 90 of w13's 207 jobs were schema
    * inference). Engine-internal tables are written by one writer
    * with one schema, so first-footer == merged schema by
    * construction. `partCols` appends hive-partition columns (their
    * values still come from directory names at scan time; only the
    * inference job is skipped). Not for foreign data: timestamp
    * encodings (e.g. events.ts nanos) follow session confs that only
    * the full inference path applies. */
  def readKnown(s: org.apache.spark.sql.SparkSession, dir: String,
      partCols: Seq[(String, org.apache.spark.sql.types.DataType)] =
        Seq.empty): org.apache.spark.sql.DataFrame = {
    val conf = s.sparkContext.hadoopConfiguration
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(conf)
    val leaf = parquetParts(fs, p).headOption.getOrElse(
      throw new IllegalArgumentException(
        s"readKnown: no parquet files under $dir"))
    val in = org.apache.parquet.hadoop.util.HadoopInputFile
      .fromPath(leaf, conf)
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
    val msg = try r.getFooter.getFileMetaData.getSchema
      finally r.close()
    val dataSchema = new org.apache.spark.sql.execution.datasources
      .parquet.ParquetToSparkSchemaConverter(
        s.sessionState.conf).convert(msg)
    val full = partCols.foldLeft(dataSchema) { case (st, (n, t)) =>
      st.add(n, t)
    }
    s.read.schema(full).parquet(dir)
  }

  /** Read one INT field of a 1-row parquet metadata table (a layout's
    * `meta`) on the driver — same value as
    * `spark.read.parquet(dir).select(field).head()`, zero jobs. */
  def readMetaInt(s: org.apache.spark.sql.SparkSession,
      dirAbs: String, field: String): Int =
    readMetaIntOpt(s, dirAbs, field).getOrElse(throw
      new IllegalArgumentException(
        s"readMetaInt: no `$field` row under $dirAbs"))

  /** [[readMetaInt]], or None when the table or the field is absent. */
  def readMetaIntOpt(s: org.apache.spark.sql.SparkSession,
      dirAbs: String, field: String): Option[Int] = {
    val conf = s.sparkContext.hadoopConfiguration
    val p = new org.apache.hadoop.fs.Path(dirAbs)
    val fs = p.getFileSystem(conf)
    if (!fs.exists(p)) return None
    parquetParts(fs, p).iterator.flatMap { f =>
      val rdr = org.apache.parquet.hadoop.ParquetReader
        .builder(new org.apache.parquet.hadoop.example
          .GroupReadSupport(), f)
        .withConf(conf).build()
      try Option(rdr.read())
        .filter(_.getType.containsField(field))
        .map(_.getInteger(field, 0))
      finally rdr.close()
    }.nextOption()
  }

  /** A 1-row table of INT fields — a layout's `meta`. A LocalRelation,
    * so [[graft.sources.Sources.writeOrdered]] writes it on its
    * zero-job driver-side path. */
  def metaTable(s: org.apache.spark.sql.SparkSession,
      fields: (String, Int)*): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.types.{IntegerType, StructField,
      StructType}
    s.createDataFrame(
      java.util.Collections.singletonList(
        org.apache.spark.sql.Row(fields.map(_._2): _*)),
      StructType(fields.map(f =>
        StructField(f._1, IntegerType, nullable = false))))
  }

  /** Fail loudly unless the layout generation at `baseAbs` records
    * layout format `format` in its `meta` table. A layout written
    * before the format field existed reads as format 1. */
  def requireFormat(s: org.apache.spark.sql.SparkSession,
      baseAbs: String, family: String, format: Int): Unit = {
    val found = readMetaIntOpt(s, s"$baseAbs/meta", "format").getOrElse(1)
    require(found == format,
      s"$family: layout $baseAbs is in layout format $found, but this " +
        s"build reads format $format only — rebuild the layout from " +
        "its source (init) to upgrade it")
  }

  // ------------------------------------------------------------------
  // Snapshot manifests — concurrent readers vs in-place compaction.
  //
  // Per-segment tmp+rename makes each WRITE atomic, but a reader that
  // enumerates the directory while compactInPlace swaps the base
  // could compose a mixed generation (new base + the segments it
  // already folded = doubled rows). The fix is the standard LSM/
  // Iceberg move: a versioned MANIFEST names one consistent snapshot
  // — the base generation directory plus the exact segment list — and
  // a reader resolves the latest manifest ONCE, then composes only
  // what it names. Compaction publishes a new base under a fresh
  // generation dir and flips the pointer with one atomic file rename;
  // the old generation's dirs stay on disk (old snapshots remain
  // readable — lazy DataFrames resolved before the flip still serve
  // the pre-compaction bytes) until [[vacuum]] releases them.
  //
  // Layouts without a manifest (pre-r11, or hand-assembled) fall back
  // to directory enumeration with baseDir = "base" — the manifest is
  // additive, not a format break. Writers are single-writer by the
  // same contract as [[publishSeg]].
  // ------------------------------------------------------------------

  /** One consistent view of a segmented layout: the manifest version
    * (0 = no manifest, directory fallback), the base generation dir
    * (relative to the layout root) and the segment entries to compose,
    * in order. */
  final case class Snapshot(version: Int, baseDir: String,
      segs: Seq[(Int, String, Char)])

  private def manifestFs(s: org.apache.spark.sql.SparkSession,
      root: String) = {
    val dir = new org.apache.hadoop.fs.Path(s"$root/manifest")
    (dir, dir.getFileSystem(s.sparkContext.hadoopConfiguration))
  }

  private def manifestVersions(
      fs: org.apache.hadoop.fs.FileSystem,
      dir: org.apache.hadoop.fs.Path): Seq[Int] =
    if (!fs.exists(dir)) Seq.empty
    else fs.listStatus(dir).toSeq.map(_.getPath.getName)
      // fail LOUD on debris (e.g. `v=3.bak`) — same policy as
      // parseSegName: a bare NumberFormatException would not name the
      // offending entry, and silently skipping it could hide a real
      // version
      .collect { case n if n.startsWith("v=") =>
        val body = n.stripPrefix("v=")
        if (body.nonEmpty && body.forall(_.isDigit)) body.toInt
        else throw new IllegalStateException(
          s"SegmentOps: unrecognized manifest entry '$n' in $dir — " +
            "expected v=<int>; remove or rename the stray entry")
      }
      .sorted

  private def parseSegName(n: String, where: String): (Int, String, Char) = {
    val body = n.stripPrefix("seg=")
    body.split("-") match {
      case Array(i, k) if k.length == 1 && i.nonEmpty &&
          i.forall(_.isDigit) => (i.toInt, n, k.head)
      case Array(i) if i.nonEmpty && i.forall(_.isDigit) =>
        (i.toInt, n, '?') // untagged legacy dir — read in full
      // a MERGED segment (tiered compaction): seg=<n>-m-g<v> — the
      // number is the merged range's HIGHEST (so number-sorted reads
      // keep it at the range's scope position), the g<v> suffix makes
      // the dir name unique while the folded originals await vacuum
      case Array(i, k, g) if k.length == 1 && i.nonEmpty &&
          i.forall(_.isDigit) && g.length > 1 && g.head == 'g' &&
          g.tail.forall(_.isDigit) => (i.toInt, n, k.head)
      case _ => throw new IllegalStateException(
        s"SegmentOps: unrecognized segment name '$n' in $where — " +
          "expected seg=<n>-<kind>[-g<v>] (or legacy seg=<n>); remove " +
          "or rename the stray entry")
    }
  }

  /** True iff `n` parses as a segment dir name (spec probe). */
  def parseableSegName(n: String): Boolean =
    n.startsWith("seg=") &&
      scala.util.Try(parseSegName(n, "probe")).isSuccess

  /** CAS publish: write manifest version `expectedVersion + 1` naming
    * `baseDir` + `segNames` — iff no other writer published that
    * version first. Two-phase so winning AND content-atomicity both
    * hold: (1) a CREATE-EXCLUSIVE `claim_<v>` file decides the race —
    * of two writers exactly one creates it; the loser gets `None`
    * BEFORE any state changes and re-derives from the new current
    * snapshot ([[recordSegInManifest]] / [[flipCompacted]] do exactly
    * that); (2) the winner writes the payload to a tmp file and
    * RENAMES it to `v=<v>` — readers resolve versions by the `v=`
    * name, so a racing reader sees the old snapshot or the complete
    * new one, never a half-written manifest (a bare create-exclusive
    * of the version file itself leaks an EMPTY file to readers
    * between create and close — SegmentCasSpec's thread test caught
    * exactly that). The claim is deleted after the rename; a writer
    * that crashes in the window leaves an orphan claim — later
    * writers treat a claim older than [[claimTtlMs]] (session conf
    * `graft.manifest.claimTtlMs`, default 10 min) with no published
    * `v=<v>` as ABANDONED and steal it (ADVICE r12: without stealing,
    * a crashed claimant blocked its version forever and a streaming
    * ingest crash-looped until an operator deleted the claim by
    * hand). Stealing is safe against a merely-SLOW claimant because
    * each attempt writes a UNIQUE tmp payload and the `v=<v>` rename
    * is the one true commit point: of a victim and its thief exactly
    * one rename lands; the other sees the published version and loses
    * the CAS cleanly (returns None). On an object store without
    * atomic create-exclusive the same role falls to a conditional PUT
    * / DynamoDB-style lock, as in Delta's LogStore. */
  def tryPublishManifest(s: org.apache.spark.sql.SparkSession,
      root: String, expectedVersion: Int, baseDir: String,
      segNames: Seq[String]): Option[Int] = {
    val (dir, fs) = manifestFs(s, root)
    fs.mkdirs(dir)
    val v = expectedVersion + 1
    val fin = new org.apache.hadoop.fs.Path(dir, s"v=$v")
    val claim = new org.apache.hadoop.fs.Path(dir, s"claim_$v")
    if (fs.exists(fin)) return None // fast path
    if (fs.exists(claim) && !stealIfStale(s, fs, claim)) return None
    if (!createExclusive(fs, claim)) return None
    try {
      // unique tmp per attempt: a stolen-claim victim and its thief
      // must never share a payload file, or the victim's rename could
      // publish the thief's bytes under the victim's name
      val tmp = new org.apache.hadoop.fs.Path(dir,
        s"_tmp_v=$v.${java.util.UUID.randomUUID().toString.take(8)}")
      val out = fs.create(tmp, true)
      try out.write((baseDir +: segNames).mkString("\n")
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      finally out.close()
      if (!fs.rename(tmp, fin)) {
        fs.delete(tmp, false)
        // rename onto an EXISTING version = this claim was stolen (or
        // we are the thief and the victim just committed) — a clean
        // lost race, not an IO fault: the caller's CAS loop re-derives
        if (fs.exists(fin)) { fs.delete(claim, false); return None }
        throw new IllegalStateException(
          s"failed to publish manifest v$v under $dir " +
            s"(rename $tmp -> $fin)")
      }
    } catch {
      // a failed payload publish must not leave the claim blocking
      // this version for every later writer (a hard crash still can —
      // until the TTL expires and a later writer steals it)
      case e: Throwable => fs.delete(claim, false); throw e
    }
    fs.delete(claim, false)
    Some(v)
  }

  /** Claim age (session conf `graft.manifest.claimTtlMs`, default 10
    * minutes) beyond which a claim with no published version is
    * treated as a dead writer's orphan and stolen. Generous vs any
    * real payload write (one small file + one rename); tighten it in
    * tests, not on clock-skewed production filesystems. */
  def claimTtlMs(s: org.apache.spark.sql.SparkSession): Long =
    s.conf.getOption("graft.manifest.claimTtlMs")
      .map(_.toLong).getOrElse(10L * 60L * 1000L)

  /** Delete `claim` iff it is older than the TTL — true when the
    * caller may proceed to re-claim (also true when the claim
    * vanished concurrently: another thief won the delete;
    * create-exclusive still decides the re-claim race). */
  private def stealIfStale(s: org.apache.spark.sql.SparkSession,
      fs: org.apache.hadoop.fs.FileSystem,
      claim: org.apache.hadoop.fs.Path): Boolean = {
    val age = try
      System.currentTimeMillis() - fs.getFileStatus(claim)
        .getModificationTime
    catch { case _: java.io.FileNotFoundException => return true }
    if (age <= claimTtlMs(s)) false
    else { fs.delete(claim, false); true }
  }

  /** Publish manifest version latest+1 naming `baseDir` + `segNames`
    * as the new current snapshot. Returns the published version.
    * Fails LOUD if a concurrent writer takes the version first —
    * callers that can re-derive their intent retry through
    * [[tryPublishManifest]] instead ([[recordSegInManifest]],
    * [[flipCompacted]]); this form is for single-writer call sites
    * (init) where a collision means two jobs initialising one
    * layout. */
  def publishManifest(s: org.apache.spark.sql.SparkSession,
      root: String, baseDir: String, segNames: Seq[String]): Int = {
    val (dir, fs) = manifestFs(s, root)
    val cur = manifestVersions(fs, dir).lastOption.getOrElse(0)
    tryPublishManifest(s, root, cur, baseDir, segNames).getOrElse(
      throw new IllegalStateException(
        s"SegmentOps: lost a manifest race publishing v${cur + 1} " +
          s"under $root — another writer is active on this layout"))
  }

  /** Resolve the layout's current snapshot: the latest manifest if one
    * exists, else the directory-enumeration fallback (baseDir "base",
    * every published segment). Readers resolve ONCE and compose only
    * what the snapshot names — that is the isolation guarantee. */
  def resolveSnapshot(s: org.apache.spark.sql.SparkSession,
      root: String): Snapshot = {
    val (dir, fs) = manifestFs(s, root)
    manifestVersions(fs, dir).lastOption match {
      case None => Snapshot(0, "base", listSegEntries(s, root))
      case Some(v) => readManifest(s, root, v)
    }
  }

  /** Resolve a SPECIFIC manifest version — snapshot time travel. Any
    * version not yet [[vacuum]]ed is fully readable (its base
    * generation and segment dirs are still on disk); a vacuumed one
    * fails loud here or at scan time. */
  def resolveSnapshotAt(s: org.apache.spark.sql.SparkSession,
      root: String, version: Int): Snapshot = {
    val (dir, fs) = manifestFs(s, root)
    val versions = manifestVersions(fs, dir)
    require(versions.contains(version),
      s"SegmentOps: manifest v$version not found under $dir — " +
        s"available: ${versions.mkString(", ")} (older versions are " +
        "released by vacuum)")
    readManifest(s, root, version)
  }

  private def readManifest(s: org.apache.spark.sql.SparkSession,
      root: String, v: Int): Snapshot = {
    val (dir, fs) = manifestFs(s, root)
    val p = new org.apache.hadoop.fs.Path(dir, s"v=$v")
    val in = fs.open(p)
    val text = try scala.io.Source.fromInputStream(in, "UTF-8")
      .mkString
    finally in.close()
    val lines = text.split("\n").toSeq.filter(_.nonEmpty)
    require(lines.nonEmpty, s"manifest $p is empty")
    // Compose in SEGMENT-NUMBER order, not manifest line order
    // (ADVICE r12): segment numbers are monotone PUBLICATION order
    // (publishSeg's collision check enforces uniqueness and
    // next-number assignment), while concurrent recordSegInManifest
    // writers can land their lines in either order. scopedUnion
    // scopes tombstones by list position, so composing in line order
    // would let a delete segment RECORDED after a later-numbered
    // append wrongly mask that append — sorting here restores the
    // publication-order scoping for every reader, whatever the CAS
    // interleave wrote.
    Snapshot(v, lines.head,
      lines.tail.map(parseSegName(_, p.toString)).sortBy(_._1))
  }

  /** Create `p` exclusively — true iff THIS caller created it.
    * Hadoop's `create(p, overwrite = false)` is check-then-act on the
    * local filesystem (exists probe, then create), so two genuinely
    * concurrent callers can BOTH pass it — SegmentCasSpec's
    * two-writer-thread test caught exactly that (both threads claimed
    * one version; the loser's payload rename then failed loud). For
    * `file://` the claim goes through `File.createNewFile` —
    * O_CREAT|O_EXCL, atomic at the kernel — while other filesystems
    * keep `create(…, false)` (HDFS enforces it server-side; object
    * stores need their conditional-PUT LogStore analogue). */
  def createExclusive(fs: org.apache.hadoop.fs.FileSystem,
      p: org.apache.hadoop.fs.Path): Boolean = fs match {
    case _: org.apache.hadoop.fs.LocalFileSystem |
         _: org.apache.hadoop.fs.RawLocalFileSystem =>
      val f = new java.io.File(p.toUri.getPath)
      f.getParentFile.mkdirs()
      f.createNewFile()
    case _ =>
      try { fs.create(p, false).close(); true }
      catch {
        case _: org.apache.hadoop.fs.FileAlreadyExistsException => false
        case _: java.io.IOException if fs.exists(p) => false
      }
  }

  private val CasAttempts = 100

  /** Record a just-published segment in the manifest (no-op unless the
    * layout already carries one — pre-manifest layouts keep their
    * directory-enumeration semantics untouched). CAS retry loop:
    * recording one segment name COMMUTES with any concurrent
    * publication (another segment's record, a compaction flip), so on
    * a lost race we re-resolve the new current snapshot and re-apply
    * the record to it — the composed manifest equals sequential
    * application in either order (SegmentCasSpec pins it, including
    * under two genuinely concurrent writer threads). The commute
    * holds for append/DELETE mixes too because readers compose in
    * segment-NUMBER order, not manifest line order (readManifest's
    * sort) — tombstone scoping follows publication order whatever
    * interleave the CAS wrote. */
  def recordSegInManifest(s: org.apache.spark.sql.SparkSession,
      root: String, segName: String): Unit = {
    val (dir, fs) = manifestFs(s, root)
    if (manifestVersions(fs, dir).isEmpty) return
    var attempt = 0
    var lastV = -1
    while (attempt < CasAttempts) {
      attempt += 1
      val snap = resolveSnapshot(s, root)
      lastV = snap.version + 1
      if (tryPublishManifest(s, root, snap.version, snap.baseDir,
          snap.segs.map(_._2) :+ segName).isDefined) return
      // the winner may hold the claim but not have renamed yet — its
      // version is invisible until the rename, so back off briefly
      // before re-resolving
      Thread.sleep(10)
    }
    throw new IllegalStateException(
      s"SegmentOps: gave up recording $segName under $root after " +
        s"$CasAttempts manifest CAS attempts — livelocked writers, " +
        s"or a crashed claimant's $dir/claim_$lastV awaiting its " +
        "steal TTL (graft.manifest.claimTtlMs)")
  }

  /** Flip the manifest to a freshly-compacted base generation: CAS on
    * the snapshot the compaction FOLDED (`fromSnap`); on a lost race
    * — a concurrent append recorded new segments between the fold and
    * the flip — re-resolve and carry over exactly the segments
    * published since (`current.segs` minus the folded set), so no
    * concurrent write is ever silently dropped by a compaction. A
    * concurrent COMPACTION (current base ≠ fromSnap's) fails loud:
    * two folds of one layout cannot merge. Returns the published
    * version. */
  def flipCompacted(s: org.apache.spark.sql.SparkSession,
      root: String, fromSnap: Snapshot, newBaseDir: String): Int = {
    val folded = fromSnap.segs.map(_._2).toSet
    var attempt = 0
    var lastV = -1
    while (attempt < CasAttempts) {
      attempt += 1
      val cur = resolveSnapshot(s, root)
      lastV = cur.version + 1
      require(cur.baseDir == fromSnap.baseDir,
        s"SegmentOps: concurrent compaction detected under $root — " +
          s"the base flipped from ${fromSnap.baseDir} to " +
          s"${cur.baseDir} while this fold ran; only one compactor " +
          "may run per layout")
      val carry = cur.segs.map(_._2).filterNot(folded)
      tryPublishManifest(s, root, cur.version, newBaseDir, carry) match {
        case Some(v) => return v
        case None => Thread.sleep(10) // see recordSegInManifest
      }
    }
    throw new IllegalStateException(
      s"SegmentOps: gave up flipping $root to $newBaseDir after " +
        s"$CasAttempts manifest CAS attempts — livelocked writers, " +
        s"or a crashed claimant's $root/manifest/claim_$lastV " +
        "awaiting its steal TTL (graft.manifest.claimTtlMs)")
  }

  /** Next unused base-generation dir name (`base` for v1, `base-g<v>`
    * after a compaction). */
  def nextBaseDir(snap: Snapshot): String = s"base-g${snap.version + 1}"

  /** The compaction TRIGGER the r10 layer left to the caller: fire
    * when the snapshot's segment count reaches `maxSegs`. Segment
    * count is the right generic signal — it is exactly the view's
    * extra plan depth (linear, by the growth specs) and it is free to
    * read (one manifest line / directory listing; no data scanned).
    * Families with a data-dependent repair cost can OR in their own
    * signal ([[SparseSegments.shadowedListFraction]] — the fraction of
    * the base's posting lists that segment lists replace at serve).
    * The nightly shape (w09): ingest via appendSeg/deleteSeg, serve
    * through the view, and when this fires run compactInPlace —
    * amortized write cost stays O(delta · maxSegs / maxSegs) per
    * night while read amplification is bounded by maxSegs. */
  def shouldCompact(s: org.apache.spark.sql.SparkSession,
      root: String, maxSegs: Int): Boolean = {
    require(maxSegs > 0, "shouldCompact: maxSegs must be positive")
    resolveSnapshot(s, root).segs.size >= maxSegs
  }

  /** The MEASURED default for [[shouldCompact]]'s `maxSegs`, priced by
    * the x105_compaction_policy card (three real 6-night on-disk
    * lifecycles, every cell oracle-recomputed): at ≈4 nights of churn
    * the composed view already captures at-2's entire row win at 55%
    * of its write amplification. Start new SegmentIngest-driven flows
    * here; move toward `never` (no compaction) only when queries are
    * rare relative to ingest, toward 2 when serve latency dominates
    * (a segment's residual cost is plan depth, not rows). The w09/w12
    * flagship scripts pin maxSegs=2 deliberately — their fixed,
    * certified 2-batch scripts exist to EXERCISE a mid-script
    * compaction flip, which ≥4 would never fire at that length. */
  val DefaultMaxSegs = 4

  /** Delete everything the RETAINED manifest snapshots (the newest
    * `keepLast`, default 1 = current only) do not reference:
    * superseded base generations, folded-away segments and released
    * manifest versions. Call with keepLast=1 only when no reader
    * still holds a pre-compaction snapshot — this is the explicit
    * release the snapshot guarantee is 'until' of; a larger keepLast
    * is the time-travel retention window ([[resolveSnapshotAt]]
    * replays any retained version exactly). No-op on manifest-less
    * layouts. */
  def vacuum(s: org.apache.spark.sql.SparkSession, root: String,
      keepLast: Int = 1): Seq[String] = {
    require(keepLast >= 1, "vacuum: keepLast must be >= 1")
    val (mdir, fs) = manifestFs(s, root)
    val versions = manifestVersions(fs, mdir)
    if (versions.isEmpty) return Seq.empty
    val kept = versions.takeRight(keepLast)
      .map(v => readManifest(s, root, v))
    val keepSegs = kept.flatMap(_.segs.map(_._2)).toSet
    val keepBases = kept.map(_.baseDir).toSet
    val removed = Seq.newBuilder[String]
    def drop(p: org.apache.hadoop.fs.Path): Unit = {
      removed += p.toString
      fs.delete(p, true)
    }
    val rootP = new org.apache.hadoop.fs.Path(root)
    fs.listStatus(rootP).toSeq.map(_.getPath).foreach { p =>
      val n = p.getName
      if ((n == "base" || n.startsWith("base-g")) && !keepBases(n))
        drop(p)
    }
    val segsP = new org.apache.hadoop.fs.Path(s"$root/segs")
    if (fs.exists(segsP))
      fs.listStatus(segsP).toSeq.map(_.getPath).foreach { p =>
        val n = p.getName
        if (n.startsWith("seg=") && !keepSegs(n)) drop(p)
      }
    versions.dropRight(keepLast).foreach(v =>
      drop(new org.apache.hadoop.fs.Path(mdir, s"v=$v")))
    // crashed writers' payload debris (unique per attempt since the
    // claim-steal change): any _tmp_v=* older than the claim TTL is
    // dead — a live attempt holds its tmp only for one write+rename
    val ttl = claimTtlMs(s)
    fs.listStatus(mdir).toSeq
      .filter(st => st.getPath.getName.startsWith("_tmp_v=") &&
        System.currentTimeMillis() - st.getModificationTime > ttl)
      .foreach(st => drop(st.getPath))
    removed.result()
  }

  /** Write a segment's tables ATOMICALLY with respect to
    * [[listSegs]]: everything lands under `segs/_tmp_seg=<n>` (a name
    * listSegs never matches) and one directory rename publishes it —
    * a reader that races a nightly write either sees the whole
    * segment or none of it, never a partial bundle. (On an object
    * store without atomic rename the same role falls to a manifest
    * pointer — the compact() doc's trade.)
    *
    * WRITER CONCURRENCY: manifest version bumps are CAS-safe
    * ([[tryPublishManifest]] / [[recordSegInManifest]]) — two
    * publishers of DIFFERENT segments compose as sequential
    * application in either order. The residual single-writer clause
    * covers only the segment NUMBER: two writers that both compute
    * the same next number can both pass the existence check, and
    * Hadoop's rename then moves the loser's tmp dir INSIDE the
    * winner's published segment (rename into an existing destination
    * directory nests the source under its own basename,
    * `fin/_tmp_seg=<n>-<kind>`) and returns true — a silently dropped
    * operation. The post-rename verification below turns that silent
    * loss into a loud failure: the published dir's direct children
    * must be EXACTLY the expected table dirs (+ tag file) — a nested
    * `_tmp_…` entry means another writer won the race.
    *
    * Crash window: if the writer dies BETWEEN the segment rename and
    * [[recordSegInManifest]]'s version bump, the segment dir exists
    * but no manifest names it — manifest readers never see it, a
    * retried operation takes a fresh number (directory-based), and
    * [[vacuum]] collects the orphan. A crashed operation is therefore
    * never half-applied: it is either fully visible (manifest names
    * it) or pure debris. */
  def publishSeg(s: org.apache.spark.sql.SparkSession, root: String,
      n: Int, kind: Char,
      tables: Seq[(String, org.apache.spark.sql.DataFrame)],
      tag: Option[String] = None): Unit = {
    val name = s"seg=$n-$kind"
    val tmp = new org.apache.hadoop.fs.Path(s"$root/segs/_tmp_$name")
    val fin = new org.apache.hadoop.fs.Path(s"$root/segs/$name")
    val fs = fin.getFileSystem(s.sparkContext.hadoopConfiguration)
    require(!fs.exists(fin), s"segment $n already published")
    require(listSegEntries(s, root).forall(_._1 != n),
      s"segment number $n already published under another kind")
    if (fs.exists(tmp)) fs.delete(tmp, true) // a dead writer's debris
    graft.sources.Sources.writeOrdered(tables, tmp.toString)
    // the tag file rides INSIDE the bundle, so it publishes atomically
    // with the rename — present iff the segment is (the self-healing
    // retry detector, [[taggedSeg]])
    tag.foreach { t =>
      fs.create(new org.apache.hadoop.fs.Path(tmp, tagFile(t)), true)
        .close()
    }
    require(fs.rename(tmp, fin),
      s"failed to publish segment $n (rename $tmp -> $fin)")
    // lost-race detector (see the class doc): a rename into an
    // ALREADY-PUBLISHED destination nests the source under its own
    // basename — the loser's bundle lands at fin/_tmp_<name>, so the
    // published dir's direct children must be EXACTLY the expected
    // entries (table dirs + the optional tag file; dot-files are the
    // FS's checksum siblings)
    val children = fs.listStatus(fin).toSeq.map(_.getPath.getName)
      .filterNot(_.startsWith(".")).toSet
    val expected = tables.map(_._1).toSet ++ tag.map(tagFile)
    require(children == expected,
      s"segment $n publication raced another writer — $fin holds " +
        s"${children.mkString("{", ", ", "}")} instead of " +
        s"${expected.mkString("{", ", ", "}")} (concurrent " +
        "publishers violate the single-writer contract)")
    recordSegInManifest(s, root, name)
  }

  /** Publish a segment bundle under an EXPLICIT dir name WITHOUT
    * recording it in the manifest — the first half of a tiered merge
    * ([[flipMerged]] is the atomic second half; until that CAS lands
    * the dir is invisible to every manifest reader, and a crash in
    * between leaves pure debris that [[vacuum]] collects because no
    * retained version ever names it). Same tmp+rename atomicity and
    * lost-race detector as [[publishSeg]]; no number-uniqueness check
    * against OTHER dirs — a merged segment deliberately reuses its
    * folded range's highest number while those originals still exist
    * on disk (the `-g<v>` suffix keeps dir names unique).
    *
    * ORPHAN STEAL (the claim-steal analogue): a merge that crashed in
    * the publish→flip window leaves `name` on disk unreferenced, and
    * since the manifest version did not advance, the RETRY builds the
    * exact same name — without the steal it would crash-loop until an
    * operator ran vacuum by hand. A same-name dir that NO retained
    * manifest version references is therefore deleted and overwritten:
    * under the single-merger contract it can only be this merge's own
    * crashed predecessor (any referenced dir has `g<v'>` with v' at
    * most the current version, and a new merge always names
    * current+1). A REFERENCED same-name dir still fails loud. */
  def publishSegDir(s: org.apache.spark.sql.SparkSession, root: String,
      name: String,
      tables: Seq[(String, org.apache.spark.sql.DataFrame)]): Unit = {
    parseSegName(name, root) // fail loud on a malformed name
    val tmp = new org.apache.hadoop.fs.Path(s"$root/segs/_tmp_$name")
    val fin = new org.apache.hadoop.fs.Path(s"$root/segs/$name")
    val fs = fin.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (fs.exists(fin)) {
      require(!recordedInAnyManifest(s, root, name),
        s"segment dir $name already published and referenced by a " +
          "retained manifest version")
      fs.delete(fin, true) // a crashed predecessor's orphan bundle
    }
    if (fs.exists(tmp)) fs.delete(tmp, true) // a dead writer's debris
    graft.sources.Sources.writeOrdered(tables, tmp.toString)
    require(fs.rename(tmp, fin),
      s"failed to publish segment $name (rename $tmp -> $fin)")
    val children = fs.listStatus(fin).toSeq.map(_.getPath.getName)
      .filterNot(_.startsWith(".")).toSet
    require(children == tables.map(_._1).toSet,
      s"segment $name publication raced another writer — $fin holds " +
        s"${children.mkString("{", ", ", "}")} instead of " +
        s"${tables.map(_._1).toSet.mkString("{", ", ", "}")}")
  }

  /** Flip the manifest after a TIERED MERGE of the `rangeLen` oldest
    * segments — the prefix special case of [[flipMergedAt]]. */
  def flipMerged(s: org.apache.spark.sql.SparkSession, root: String,
      fromSnap: Snapshot, rangeLen: Int, mergedName: String): Int =
    flipMergedAt(s, root, fromSnap, 0, rangeLen, mergedName)

  /** Flip the manifest after a TIERED MERGE: replace the `rangeLen`
    * segments of `fromSnap` starting at position `from` (the exact
    * contiguous range the merge folded) with the already-published
    * `mergedName`. The range-merge algebra is POSITIONAL, so any
    * contiguous range is sound, not just the oldest prefix: the
    * merged segment reuses the range's highest number, number-sorted
    * reads keep it at the range's slot, its tombs mask exactly what
    * the range's tombs masked outside the range (base + every earlier
    * position), and survivors on both sides keep their positions —
    * tombs after the range still mask merged adds, adds before it are
    * still masked by merged tombs. CAS loop: a concurrent APPEND
    * records at the END of the list and is carried; a concurrent
    * compaction (base changed) or concurrent merge (the folded range
    * no longer sits at its positions) fails loud — folds of one
    * layout cannot merge. Returns the published version. */
  def flipMergedAt(s: org.apache.spark.sql.SparkSession, root: String,
      fromSnap: Snapshot, from: Int, rangeLen: Int,
      mergedName: String): Int = {
    require(from >= 0 && rangeLen >= 2 &&
        from + rangeLen <= fromSnap.segs.size,
      s"flipMergedAt: range [$from, ${from + rangeLen}) outside the " +
        s"snapshot's ${fromSnap.segs.size} segments (rangeLen >= 2)")
    val range = fromSnap.segs.slice(from, from + rangeLen).map(_._2)
    var attempt = 0
    var lastV = -1
    while (attempt < CasAttempts) {
      attempt += 1
      val cur = resolveSnapshot(s, root)
      lastV = cur.version + 1
      require(cur.baseDir == fromSnap.baseDir,
        s"SegmentOps: concurrent compaction detected under $root — " +
          s"the base flipped from ${fromSnap.baseDir} to " +
          s"${cur.baseDir} while this merge ran")
      require(cur.segs.slice(from, from + rangeLen).map(_._2) == range,
        s"SegmentOps: concurrent merge detected under $root — the " +
          s"folded range ${range.mkString(", ")} no longer sits at " +
          s"positions [$from, ${from + rangeLen}); only one merger " +
          "may run per layout")
      val segs = (cur.segs.take(from).map(_._2) :+ mergedName) ++
        cur.segs.drop(from + rangeLen).map(_._2)
      tryPublishManifest(s, root, cur.version, cur.baseDir, segs) match {
        case Some(v) => return v
        case None => Thread.sleep(10) // see recordSegInManifest
      }
    }
    throw new IllegalStateException(
      s"SegmentOps: gave up flipping merge $mergedName under $root " +
        s"after $CasAttempts manifest CAS attempts — livelocked " +
        s"writers, or a crashed claimant's $root/manifest/claim_$lastV " +
        "awaiting its steal TTL (graft.manifest.claimTtlMs)")
  }

  /** True iff a segment dir name is a MERGED segment (published by a
    * tiered merge — the `-g<v>` third component). */
  def isMergedName(dirName: String): Boolean =
    dirName.stripPrefix("seg=").split("-").length == 3

  /** Generic snapshot CDC — the shared engine behind each family's
    * `changesBetween` ([[MinHashSegments.changesBetween]] for the
    * semantics and cost contract). One row per changed `idCol` with
    * `op` ∈ added / removed / updated, STATE-DIFF semantics at the
    * family's content grain: `segTables` maps one window segment to
    * its (content adds, tombstones) pair, `stateRows` composes a
    * snapshot's full live content relation. The row diff is
    * SYMMETRIC (A∖B ∪ B∖A per id): a family whose content is
    * multi-row per id (sparse tf) can change by rows GROWING as well
    * as shrinking, and a one-direction except would miss pure
    * growth. Fast path iff `toV`'s segment list extends `fromV`'s
    * over the same base — window segments + one semi-join of the old
    * state against the window's tombstones; O(live) two-state
    * content diff otherwise. */
  def changesBetweenWith(s: org.apache.spark.sql.SparkSession,
      root: String, fromV: Int, toV: Int, idCol: String)(
      segTables: ((Int, String, Char)) =>
        (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame),
      stateRows: Snapshot => org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    require(fromV <= toV,
      s"SegmentOps.changesBetweenWith: fromV $fromV > toV $toV")
    val a = resolveSnapshotAt(s, root, fromV)
    val b = resolveSnapshotAt(s, root, toV)
    def tagged(df: org.apache.spark.sql.DataFrame, op: String) =
      df.select(col(idCol), lit(op).as("op"))
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.select(idCol).distinct()
    val fast = a.baseDir == b.baseDir &&
      b.segs.take(a.segs.size) == a.segs
    val (added, removed, updated) =
      if (fast) {
        val news = b.segs.drop(a.segs.size).map(segTables)
        if (news.isEmpty)
          return s.range(0).select(col("id").as(idCol),
            lit("").as("op"))
        // content that survives WITHIN the window (scoped: a later
        // tomb masks an earlier window add; re-adds win)
        val adds = scopedUnion(emptyLike(news.head._1),
          news.map(_._1), news.map(_._2), idCol)
        val tombs = news.map(_._2).reduce(_ unionByName _).distinct()
        // the ONE pass over the old state: which tombed ids were
        // actually live at fromV (delta-sized output)
        val tombedLiveA = stateRows(a)
          .join(tombs, Seq(idCol), "left_semi")
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

  /** One segment's planning stats: whether it was produced by a
    * tiered merge, and its total row count (adds + tombs). `rows` is
    * consulted ONLY by the merged-run rule — callers that cannot fire
    * it (fewer than `fanout` contiguous merged segments) may pass 0
    * without measuring anything. */
  final case class SegStat(isMerged: Boolean, rows: Long)

  /** Pure size-tiered merge planner (the LSM schedule). Returns the
    * contiguous range `(from, len)` the next tiered merge should
    * fold, or None when the layout is in shape.
    *
    * Rule 1 — the NIGHTLY rule, structural (no sizes consulted):
    * merge the oldest maximal run of >= `minRun` contiguous FRESH
    * (never-merged) segments. A night's deltas are peers; the
    * standing merged segment is deliberately NEVER re-absorbed by
    * nightly churn — that re-absorption is exactly the naive
    * merge-oldest-k trap the x107 card measured at ~3.5x the fold's
    * write amplification (each night rewrites everything already
    * merged).
    *
    * Rule 2 — the GEOMETRIC rule: when no fresh run exists, merge the
    * oldest maximal run of >= `fanout` contiguous MERGED segments
    * whose sizes all sit within `ratio` (max/min rows). Each such
    * fold multiplies the survivor's size by ~`fanout`, and the size
    * guard keeps a freshly-merged small segment from dragging a
    * long-standing large one back into churn — so a row is rewritten
    * O(log_fanout n) times over the layout's life, the LSM bound.
    *
    * Neither rule ever touches the base: the full fold
    * ([[shouldCompact]] + compactInPlace, priced by x105) remains the
    * separate escape hatch for when accumulated merged churn
    * approaches base size. */
  /** Run [[tieredPlan]]'s schedule to quiescence for ANY segment
    * family: merge whatever the planner picks, re-plan, repeat until
    * it returns None (a nightly fresh-run fold can complete a merged
    * run the geometric rule then folds — the cascade IS the
    * schedule). `rowsOf` counts one segment dir's total rows (the
    * family knows its table names) and is consulted ONLY when a
    * contiguous merged run of >= `fanout` exists — the nightly rule
    * is structural and costs one manifest read. `mergeAt` is the
    * family's range fold ([[MinHashSegments.mergeSegsAt]] et al.).
    * Returns the number of merges performed. */
  def tieredMaintainWith(s: org.apache.spark.sql.SparkSession,
      root: String, minRun: Int, fanout: Int, ratio: Double)(
      rowsOf: String => Long, mergeAt: (Int, Int) => Unit): Int = {
    var merges = 0
    var planned = true
    while (planned) {
      val snap = resolveSnapshot(s, root)
      val merged = snap.segs.map(e => isMergedName(e._2))
      val needRows = {
        var run = 0
        var any = false
        merged.foreach { m =>
          run = if (m) run + 1 else 0
          if (run >= fanout) any = true
        }
        any
      }
      val stats = snap.segs.zip(merged).map { case ((_, d, _), m) =>
        SegStat(m, if (needRows && m) rowsOf(d) else 0L)
      }
      tieredPlan(stats, minRun, fanout, ratio) match {
        case Some((from, len)) => mergeAt(from, len); merges += 1
        case None => planned = false
      }
    }
    merges
  }

  def tieredPlan(segs: Seq[SegStat], minRun: Int = 2, fanout: Int = 4,
      ratio: Double = 1.5): Option[(Int, Int)] = {
    require(minRun >= 2, s"tieredPlan: minRun $minRun must be >= 2")
    require(fanout >= 2, s"tieredPlan: fanout $fanout must be >= 2")
    require(ratio >= 1.0, s"tieredPlan: ratio $ratio must be >= 1.0")
    // rule 1: oldest maximal fresh run of >= minRun
    var i = 0
    while (i < segs.size) {
      if (!segs(i).isMerged) {
        var j = i
        while (j < segs.size && !segs(j).isMerged) j += 1
        if (j - i >= minRun) return Some((i, j - i))
        i = j
      } else i += 1
    }
    // rule 2: oldest maximal similar-size merged run of >= fanout
    i = 0
    while (i < segs.size) {
      if (segs(i).isMerged) {
        var j = i
        var lo = segs(i).rows
        var hi = segs(i).rows
        while (j + 1 < segs.size && segs(j + 1).isMerged && {
          val r = segs(j + 1).rows
          val nlo = math.min(lo, r)
          val nhi = math.max(hi, r)
          nhi.toDouble <= ratio * math.max(nlo, 1L).toDouble && {
            lo = nlo; hi = nhi; true
          }
        }) j += 1
        if (j + 1 - i >= fanout) return Some((i, j + 1 - i))
        i = j + 1
      } else i += 1
    }
    None
  }

  private def tagFile(tag: String): String = s"tag=$tag"

  /** True iff any RETAINED manifest version names `segName`. The
    * crash-gap healer's disambiguator: a tagged segment dir that no
    * retained version names was published but never recorded (the
    * crash fell between [[publishSeg]]'s rename and its manifest
    * record) — safe to record now; one that a version names was
    * recorded and possibly FOLDED since (compaction), and re-recording
    * it would double-count. The two states are distinguishable for as
    * long as the dir exists: [[vacuum]] releases a folded segment's
    * dir and its recording versions TOGETHER, so a surviving dir
    * implies its history survives too. Cost: one read per retained
    * manifest version (bounded by the vacuum retention window). */
  def recordedInAnyManifest(s: org.apache.spark.sql.SparkSession,
      root: String, segName: String): Boolean = {
    val (dir, fs) = manifestFs(s, root)
    manifestVersions(fs, dir).exists(v =>
      readManifest(s, root, v).segs.exists(_._2 == segName))
  }

  /** The published segment dir names carrying `tag`, ascending — the
    * crash-gap retry probe: a tagged segment proves the operation
    * that used `tag` published before dying, so its retry can
    * complete instead of re-running ([[graft.streaming.SegmentIngest]]).
    * One dir listing + one existence probe per segment. */
  def taggedSegs(s: org.apache.spark.sql.SparkSession, root: String,
      tag: String): Seq[String] = {
    val segsP = new org.apache.hadoop.fs.Path(s"$root/segs")
    val fs = segsP.getFileSystem(s.sparkContext.hadoopConfiguration)
    listSegEntries(s, root).map(_._2).filter(d =>
      fs.exists(new org.apache.hadoop.fs.Path(s"$root/segs/$d",
        tagFile(tag))))
  }
}
