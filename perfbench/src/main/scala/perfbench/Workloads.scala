package perfbench

import java.io.File

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{broadcast, col}

import graft.etl.{AnnIndex, MinHashSegments, NearDup, Pipeline, PqIndex,
  PqSegments, SegmentOps, SparseIndex, SparseSegments}

object Files {
  /** Copy the tree `from` to `to`. */
  def copyTree(from: File, to: File): Unit = {
    val src = from.toPath
    java.nio.file.Files.walk(src).iterator().asScala.foreach { p =>
      val q = to.toPath.resolve(src.relativize(p))
      if (java.nio.file.Files.isDirectory(p))
        java.nio.file.Files.createDirectories(q)
      else java.nio.file.Files.copy(p, q)
    }
  }

  def listAll(f: File): Seq[File] =
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.flatMap(listAll)
    else if (f.isFile) Seq(f) else Nil

  /** Data files only: Hadoop's .crc side files are not layout bytes. */
  def dataFiles(f: File): Seq[File] =
    listAll(f).filterNot(_.getName.endsWith(".crc"))
}

object Timer {
  def ms[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e6)
  }
}

/** Bytes and files written through Hadoop's local file system since the
  * JVM started, counted as they are written: a file that is written and
  * later deleted still counts. In local mode the tasks run in this JVM,
  * so this covers their writes too. */
object Writes {
  def bytes: Long = org.apache.hadoop.fs.FileSystem.getAllStatistics
    .asScala.filter(_.getScheme == "file").map(_.getBytesWritten).sum
}

/** Both workloads share one shape, a closed loop of one client: one
  * batch op (the nightly or daily job), one untimed warm-up pass of query
  * ops, then whole timed passes of query ops until the run's seconds are
  * spent and at least `minPasses`, so every run measures the same mix of
  * queries. The first pass after the batch still runs code the JIT has
  * not settled: in trials it took 1.2 to 1.5 times a later pass, and
  * varied twice as much. Traced runs trace the batch and every other
  * query, with the parity flipped in each pass, so each query position
  * runs both traced and untraced after the first op. The listeners are
  * attached only for traced ops. */
abstract class BatchThenQueries extends Main.Workload {
  /** Query ops per pass. */
  def passLen: Int
  /** The fewest timed passes. */
  def minPasses: Int
  def batch(spark: SparkSession, ctx: Main.Ctx, traced: Boolean): Unit
  /** Query op `i`, recorded as `kind`: "query", or "warmup" for the
    * untimed pass, whose ops are checked but not measured. */
  def query(spark: SparkSession, ctx: Main.Ctx, i: Int, traced: Boolean,
      kind: String): Unit

  def measure(spark: SparkSession, ctx: Main.Ctx, seconds: Double): Unit = {
    batch(spark, ctx, ctx.traced)
    // queries start from a collected heap, not the batch's garbage
    System.gc()
    (0 until passLen).foreach(i =>
      query(spark, ctx, i, traced = false, "warmup"))
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    val minOps = passLen * minPasses
    var i = 0
    while (i % passLen != 0 || i < minOps || System.nanoTime() < deadline) {
      query(spark, ctx, passLen + i,
        ctx.traced && (i + i / passLen) % 2 == 1, "query")
      i += 1
    }
    ctx.rec.counters("pass_len") = passLen
  }

  /** Run `f` as a recorded op: traced or not, timed, failures caught. */
  def op(ctx: Main.Ctx, name: String, kind: String, traced: Boolean)(
      f: => Boolean): Unit = {
    Trace.listen(traced)
    Trace.on = traced
    val (ok, ms) = try Timer.ms(Trace.span("op", name)(f))
      catch { case e: Exception =>
        ctx.rec.check(s"$name raised", ok = false, e.toString)
        (false, Double.NaN)
      } finally Trace.on = false
    ctx.rec.ops += Op(name, ms, ok, traced, kind)
  }
}

// ---------------------------------------------------------------------
// warehouse: the reference's two surfaces. The batch op is the ETL job at
// the reference's real row counts (Pipeline.fileInputs + Pipeline.run
// into a fresh directory + unpersist), its first run in the process; the
// query ops are oracle-checked q*/a*/j* cards into the noop sink, as
// graft.Bench runs them.
// ---------------------------------------------------------------------
object WarehouseWorkload extends BatchThenQueries {
  /** Every tenth oracle-checked q, a and j card by name: a fixed probe set
    * across the three families, the same for every seed. */
  lazy val cards: Seq[graft.QueryDef] = graft.SparkEntry.defs
    .filter(d => d.oracle.isDefined && d.name.matches("[qaj][0-9].*"))
    .sortBy(_.name).grouped(10).map(_.head).toSeq
  private var order: Seq[graft.QueryDef] = Nil
  private var score: Option[Double] = None
  def passLen: Int = cards.size
  // 22 card executions; a third pass moved no spread in trials
  def minPasses: Int = 2

  private def noop(spark: SparkSession, ctx: Main.Ctx,
      d: graft.QueryDef): Unit =
    d.run(spark, ctx.tables).write.format("noop").mode("overwrite").save()

  def warmup(spark: SparkSession, ctx: Main.Ctx): Unit =
    noop(spark, ctx, cards.head)

  def prime(spark: SparkSession, ctx: Main.Ctx): Unit = {
    warmup(spark, ctx)
    Pipeline.run(spark, Pipeline.demoInputs(spark),
      Some(new File(ctx.work, "prime-etl").getPath)).unpersist()
  }

  /** Untimed: each card's first execution collects its canonical digest
    * (in parallel); the oracle's digests are compared after the run. */
  def prepare(spark: SparkSession, ctx: Main.Ctx): Unit = {
    order = (0 until 100).flatMap(p =>
      new scala.util.Random(ctx.seed * 7919 + p).shuffle(cards))
    val dumps = new File(ctx.work, "canon")
    dumps.mkdirs()
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      Runtime.getRuntime.availableProcessors)
    val futs = cards.map { d =>
      pool.submit(() => try Digest.of(d.run(spark, ctx.tables),
          new File(dumps, d.name + ".txt"))
        catch { case e: Exception => ("error: " + e, -1L) })
    }
    cards.zip(futs).foreach { case (d, f) =>
      val (dig, rows) = f.get
      ctx.rec.digests(d.name) = (dig, rows, d.oracle.get)
    }
    pool.shutdown()
  }

  /** The ETL job; its warehouse is left in the work dir for run.py to
    * count. */
  def batch(spark: SparkSession, ctx: Main.Ctx, traced: Boolean): Unit =
    op(ctx, "etl", "batch", traced) {
      val in = Trace.span("sources", "fileInputs") {
        Pipeline.fileInputs(spark, ctx.data)
      }
      val r = Trace.span("etl", "run") {
        Pipeline.run(spark, in, Some(new File(ctx.work, "warehouse").getPath))
      }
      r.unpersist()
      score = Some(r.report.score)
      true
    }

  /** Each pass runs every card once, in a seed-shuffled order. */
  def query(spark: SparkSession, ctx: Main.Ctx, i: Int, traced: Boolean,
      kind: String): Unit = {
    val d = order(i)
    op(ctx, d.name, kind, traced) {
      Trace.span("queries", d.name)(noop(spark, ctx, d))
      true
    }
  }

  def finish(spark: SparkSession, ctx: Main.Ctx): Unit = {
    val rec = ctx.rec
    score.foreach(rec.counters("quality_score") = _)
    val written = Files.dataFiles(new File(ctx.work, "warehouse"))
    rec.counters("sources.files_written") = written.size
    rec.counters("sources.bytes_written") = written.map(_.length).sum
    def fam(p: Char) = Stats.median(rec.ops.toSeq
      .filter(o => o.kind == "query" && o.traced && o.ok &&
        o.name.head == p).map(_.ms))
    rec.counters("queries.q_ms") = fam('q')
    rec.counters("queries.a_ms") = fam('a')
    rec.counters("queries.j_ms") = fam('j')
  }
}

// ---------------------------------------------------------------------
// index_lifecycle: nightly churn and serving on the three on-disk
// segment families (PqSegments over embeddings, SparseSegments over
// document term frequencies, MinHashSegments over documents). Every run
// starts from the same base layouts: every tenth id is held back in a
// pool, the rest is live. The batch op is one night's maintenance: each
// family gets a seed-chosen shard of the pool appended and a seed-chosen
// set of live ids deleted (deleted ids return to the pool and are
// re-appended on later nights, so the live size stays steady), then the
// library's policy: tieredMaintain,
// shouldCompact(DefaultMaxSegs) -> compactInPlace, vacuum. A refresh op
// then takes the minhash CDC of the night and re-reads the serving
// views. Query ops serve a seed-chosen query batch on the PQ family and
// on the BM25 family.
// ---------------------------------------------------------------------
object IndexWorkload extends BatchThenQueries {
  val PoolEvery = 10
  val ChurnFrac = 0.02
  val QueriesPerBatch = 4
  def passLen: Int = 2
  // a serve batch takes about 2 s: three passes give six serves and a
  // median pass
  def minPasses: Int = 3

  private var e, docs, tf: DataFrame = _
  private var rng: scala.util.Random = _
  private val embLive, embPool, docLive, docPool = mutable.Set.empty[Long]
  private var docToks: Map[Long, Seq[String]] = Map.empty
  private var pqRoot, spRoot, mhRoot = ""
  private var pq: PqIndex.Index = _
  private var bm: SparseIndex.Index = _
  /** Bytes the nights wrote; `deltaBytes` is the part the append and
    * delete steps wrote, the night deltas written once. */
  private var writtenBytes, deltaBytes = 0L
  /** Files under the roots seen so far, and how many the nights added. */
  private val seen = mutable.Set.empty[String]
  private var writtenFiles = 0L
  private var merges, compactions, nights = 0
  private val segsAtServe = mutable.ArrayBuffer.empty[Int]
  /** The query batch of each position in a pass: (vectors, documents). */
  private val batches = mutable.Map.empty[Int, (Seq[Long], Seq[Long])]
  private var scanned, returned = 0L

  private def ids(spark: SparkSession, xs: Iterable[Long], name: String) = {
    import spark.implicits._
    xs.toSeq.toDF(name)
  }
  private def only(df: DataFrame, spark: SparkSession, xs: Iterable[Long],
      key: String) =
    df.join(broadcast(ids(spark, xs, key)), Seq(key), "left_semi")

  private def pick(from: mutable.Set[Long], k: Int): Seq[Long] =
    rng.shuffle(from.toSeq.sorted).take(k)

  private def bytesOnDisk(root: String): Long =
    Files.dataFiles(new File(root)).map(_.length).sum

  /** Count the files under the roots not seen on an earlier walk. Traced
    * runs walk after each call that writes, before vacuum deletes
    * anything; a merge output that the same tieredMaintain call merges
    * again is the one file this misses. */
  private def walk(): Unit =
    Seq(pqRoot, spRoot, mhRoot).flatMap(r => Files.dataFiles(new File(r)))
      .foreach(f => if (seen.add(f.getPath)) writtenFiles += 1)
  private def step[T](traced: Boolean)(f: => T): T = {
    val r = f
    if (traced) walk()
    r
  }

  /** Load the corpus; every tenth id of each family is held back in the
    * pool, the rest is live. */
  private def load(spark: SparkSession, ctx: Main.Ctx): Unit = {
    e = AnnIndex.prep(graft.Tables.embeddings(spark, ctx.tables)).persist()
    docs = graft.Tables.documents(spark, ctx.tables).select("doc_id", "text")
      .persist()
    tf = SparseIndex.termFreqs(docs).persist()
    val embIds = e.select("vec_id").collect().map(_.getLong(0)).sorted
    val docIds = docs.select("doc_id").collect().map(_.getLong(0)).sorted
    embPool ++= embIds.indices.filter(_ % PoolEvery == 0).map(embIds)
    embLive ++= embIds.filterNot(embPool)
    docPool ++= docIds.indices.filter(_ % PoolEvery == 0).map(docIds)
    docLive ++= docIds.filterNot(docPool)
  }

  private def baseDir(ctx: Main.Ctx) = new File(ctx.cache, "index-base")

  /** Build the three base layouts of the live ids into the cache, then
    * serve once from them. The layouts depend only on the corpus and the
    * build, so one process builds them for all runs of a build, and
    * every measured process starts alike. */
  def prime(spark: SparkSession, ctx: Main.Ctx): Unit = {
    load(spark, ctx)
    val tmp = new File(ctx.cache, s"index-base.tmp${ProcessHandle.current.pid}")
    def root(name: String) = new File(tmp, name).getAbsolutePath
    // the three base builds are independent: run them concurrently
    val inits = Seq[Runnable](
      () => PqSegments.init(
        PqIndex.build(only(e, spark, embLive, "vec_id")), root("pq")),
      () => SparseSegments.init(
        SparseIndex.build(only(tf, spark, docLive, "doc_id")), root("bm25")),
      () => MinHashSegments.init(
        NearDup.signatures(only(docs, spark, docLive, "doc_id")),
        root("minhash")))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(inits.size)
    inits.map(pool.submit(_)).foreach(_.get)
    pool.shutdown()
    if (!tmp.renameTo(baseDir(ctx))) sys.error(s"cannot publish $tmp")
    warmup(spark, ctx)
  }

  /** Start a serving process: load the corpus, copy the base layouts
    * into the work dir, read the serving views and serve one fixed
    * query batch from them. */
  def warmup(spark: SparkSession, ctx: Main.Ctx): Unit = {
    if (embLive.isEmpty) load(spark, ctx)
    // query terms: a document's tokens under SparseIndex.termFreqs's rule
    docToks = docs.collect().map { r =>
      r.getLong(0) -> r.getString(1).toLowerCase.split("[^a-z]+")
        .filter(_.nonEmpty).distinct.sorted.toSeq }.toMap
    val base = new File(ctx.work, "index")
    Files.copyTree(baseDir(ctx), base)
    pqRoot = new File(base, "pq").getAbsolutePath
    spRoot = new File(base, "bm25").getAbsolutePath
    mhRoot = new File(base, "minhash").getAbsolutePath
    pq = PqSegments.read(spark, pqRoot)
    bm = SparseSegments.read(spark, spRoot)
    serve(spark, embLive.toSeq.sorted.take(QueriesPerBatch),
      docLive.toSeq.sorted.take(QueriesPerBatch))
  }

  /** Untimed: note the base layouts' files and seed the churn. */
  def prepare(spark: SparkSession, ctx: Main.Ctx): Unit = {
    rng = new scala.util.Random(ctx.seed)
    walk()
    writtenFiles = 0
  }

  /** One query batch served by PQ and by BM25: (PQ rows, BM25 rows). */
  private def serve(spark: SparkSession, qv: Seq[Long], qd: Seq[Long]) = {
    import spark.implicits._
    val q = only(e, spark, qv, "vec_id")
      .select(col("vec_id").as("q_id"), col("emb"), col("norm"))
    val qterms = qd.flatMap(d => docToks(d).take(3).map(t => (d, t)))
      .toDF("q_id", "tok")
    (Trace.span("index", "pq_serve")(PqIndex.serve(q, pq).collect()),
      Trace.span("index", "bm25_serve") {
        SparseIndex.serve(qterms, bm).collect() })
  }

  def batch(spark: SparkSession, ctx: Main.Ctx, traced: Boolean): Unit = {
    nights += 1
    val kE = (embLive.size * ChurnFrac).toInt
    val kD = (docLive.size * ChurnFrac).toInt
    val aE = pick(embPool, kE)
    val dE = pick(embLive, kE)
    val aD = pick(docPool, kD)
    val dD = pick(docLive, kD)
    val vStart = SegmentOps.resolveSnapshot(spark, mhRoot).version
    val b0 = Writes.bytes
    var nightDelta = 0L
    var rewrites = 0 // merges and compactions of this night
    op(ctx, s"night-$nights", "batch", traced) {
      val w = step[Unit](traced) _
      Trace.span("segments", "append") {
        w(PqSegments.appendSeg(spark, pqRoot, only(e, spark, aE, "vec_id")))
        w(SparseSegments.appendSeg(spark, spRoot,
          only(tf, spark, aD, "doc_id")))
        w(MinHashSegments.appendSeg(spark, mhRoot,
          only(docs, spark, aD, "doc_id")))
      }
      Trace.span("segments", "delete") {
        w(PqSegments.deleteSeg(spark, pqRoot, ids(spark, dE, "vec_id")))
        w(SparseSegments.deleteSeg(spark, spRoot, ids(spark, dD, "doc_id")))
        w(MinHashSegments.deleteSeg(spark, mhRoot,
          ids(spark, dD, "doc_id")))
      }
      nightDelta = Writes.bytes - b0
      Trace.span("segments", "maintain") {
        def policy(root: String, tiered: => Int, compact: => Unit): Unit = {
          val m = step(traced)(tiered)
          merges += m; rewrites += m
          if (SegmentOps.shouldCompact(spark, root,
              SegmentOps.DefaultMaxSegs)) {
            step(traced)(compact); compactions += 1; rewrites += 1
          }
        }
        policy(pqRoot, PqSegments.tieredMaintain(spark, pqRoot),
          PqSegments.compactInPlace(spark, pqRoot))
        policy(spRoot, SparseSegments.tieredMaintain(spark, spRoot),
          SparseSegments.compactInPlace(spark, spRoot))
        policy(mhRoot, MinHashSegments.tieredMaintain(spark, mhRoot),
          MinHashSegments.compactInPlace(spark, mhRoot))
      }
      Trace.span("segments", "vacuum") {
        SegmentOps.vacuum(spark, pqRoot)
        SegmentOps.vacuum(spark, spRoot)
        // keep the night's first snapshot: the CDC diffs from it
        val vNow = SegmentOps.resolveSnapshot(spark, mhRoot).version
        SegmentOps.vacuum(spark, mhRoot, keepLast = vNow - vStart + 1)
      }
      true
    }
    val nightBytes = Writes.bytes - b0
    writtenBytes += nightBytes
    deltaBytes += nightDelta
    // a merge or compaction rewrites rows the deltas already wrote
    ctx.rec.check(s"night $nights write counting",
      rewrites == 0 || nightBytes > nightDelta,
      s"$nightBytes bytes written with $rewrites merges and " +
        s"compactions, $nightDelta of them deltas")
    embLive --= dE; embPool ++= dE; embPool --= aE; embLive ++= aE
    docLive --= dD; docPool ++= dD; docPool --= aD; docLive ++= aD
    refresh(spark, ctx, traced, vStart, aD.size, dD.size)
  }

  /** The night's minhash CDC, then the serving views of the current
    * snapshots. */
  private def refresh(spark: SparkSession, ctx: Main.Ctx, traced: Boolean,
      vStart: Int, added: Int, removed: Int): Unit =
    op(ctx, s"refresh-$nights", "refresh", traced) {
      val vNow = SegmentOps.resolveSnapshot(spark, mhRoot).version
      val cdc = Trace.span("segments", "cdc") {
        MinHashSegments.changesBetween(spark, mhRoot, vStart, vNow)
          .groupBy("op").count().collect()
          .map(r => r.getString(0) -> r.getLong(1)).toMap
      }
      val cdcOk = cdc.getOrElse("added", 0L) == added &&
        cdc.getOrElse("removed", 0L) == removed &&
        cdc.getOrElse("updated", 0L) == 0L
      ctx.rec.check(s"night $nights cdc", cdcOk,
        s"cdc $cdc vs added $added removed $removed")
      def snapshot(root: String) = Trace.span("segments", "resolve") {
        SegmentOps.resolveSnapshot(spark, root) }
      segsAtServe += snapshot(pqRoot).segs.size
      segsAtServe += snapshot(spRoot).segs.size
      pq = Trace.span("segments", "read")(PqSegments.read(spark, pqRoot))
      bm = Trace.span("segments", "read")(SparseSegments.read(spark, spRoot))
      cdcOk
    }

  /** One query op: a query batch on the PQ family, then one on BM25. The
    * batch depends only on the op's position in the pass, so a traced
    * run serves each batch both traced and untraced. */
  def query(spark: SparkSession, ctx: Main.Ctx, i: Int, traced: Boolean,
      kind: String): Unit = {
    val pos = i % passLen
    val (qv, qd) = batches.getOrElseUpdate(pos,
      (pick(embLive, QueriesPerBatch), pick(docLive, QueriesPerBatch)))
    op(ctx, s"serve-$pos", kind, traced) {
      val (pqRows, bmRows) = serve(spark, qv, qd)
      val stale = pqRows.map(_.getAs[Long]("vec_id")).filterNot(embLive) ++
        bmRows.map(_.getAs[Long]("doc_id")).filterNot(docLive)
      ctx.rec.check(s"serve $i", stale.isEmpty,
        s"deleted ids served: ${stale.take(5).mkString(",")}")
      pqRows.groupBy(_.getAs[Long]("q_id")).foreach { case (_, rs) =>
        scanned += rs.head.getAs[Long]("n_scanned") }
      returned += pqRows.length
      stale.isEmpty
    }
  }

  def finish(spark: SparkSession, ctx: Main.Ctx): Unit = {
    val rec = ctx.rec
    // live-row counts per family against the script
    val pqLive = PqSegments.read(spark, pqRoot).codes.count()
    val spLive = SparseSegments.read(spark, spRoot).dl.count()
    val mhLive = MinHashSegments.read(spark, mhRoot).count()
    rec.check("pq live rows", pqLive == embLive.size,
      s"$pqLive vs ${embLive.size}")
    rec.check("bm25 live docs", spLive == docLive.size,
      s"$spLive vs ${docLive.size}")
    rec.check("minhash live docs", mhLive == docLive.size,
      s"$mhLive vs ${docLive.size}")

    val n = math.max(1, nights).toDouble
    val roots = Seq(pqRoot, spRoot, mhRoot)
    val onDisk = roots.map(bytesOnDisk).sum
    // space amplification (traced runs only): the layouts on disk
    // against the live rows written once, as each family's compaction
    // into a fresh root writes them
    if (ctx.traced) {
      val plain = new File(ctx.work, "plain")
      val outs = Seq("pq", "bm25", "minhash")
        .map(r => new File(plain, r).getAbsolutePath)
      PqSegments.compact(spark, pqRoot, outs(0))
      SparseSegments.compact(spark, spRoot, outs(1))
      MinHashSegments.compact(spark, mhRoot, outs(2))
      rec.counters("segments.space_amp") =
        onDisk.toDouble / outs.map(bytesOnDisk).sum
    }
    rec.counters("segments.write_amp") =
      writtenBytes.toDouble / math.max(1L, deltaBytes)
    rec.counters("segments.merges") = merges / n
    rec.counters("segments.compactions") = compactions / n
    rec.counters("segments.segs_at_serve") =
      segsAtServe.sum.toDouble / math.max(1, segsAtServe.size)
    rec.counters("segments.bytes_written") = writtenBytes / n
    rec.counters("segments.files_written") = writtenFiles / n
    rec.counters("segments.bytes_live") = onDisk.toDouble
    rec.counters("index.pq_scanned_per_result") =
      if (returned == 0) 0.0 else scanned.toDouble / returned
  }
}
