package perfbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Benchmark entry point: one process runs one workload as a closed loop of
  * one client and writes a JSON result file; `run.py` turns it into
  * metrics.
  *
  * {{{
  * Main --workload <name> --data <reference-layout dir>
  *      --tables <parquet tables dir> --cache <dir> --work <work dir>
  *      --seconds <n> --seed <n> --trace <0|1> --out <result.json>
  * }}}
  * With `--workload prime` it only primes every workload (see
  * [[Workload.prime]]).
  */
object Main {
  trait Workload {
    /** Warm-up after the session is built; part of `setup_s`. */
    def warmup(spark: SparkSession, ctx: Ctx): Unit
    /** Untimed: load inputs and build state. */
    def prepare(spark: SparkSession, ctx: Ctx): Unit
    /** The measured closed loop. */
    def measure(spark: SparkSession, ctx: Ctx, seconds: Double): Unit
    /** Untimed output checks after the loop. */
    def finish(spark: SparkSession, ctx: Ctx): Unit
    /** Once per build, in a process of its own: build what `ctx.cache`
      * keeps, and run the workload's code paths once so that the
      * class-data archive written at that process's exit covers them. */
    def prime(spark: SparkSession, ctx: Ctx): Unit
  }

  val workloads: Map[String, Workload] = Map(
    "warehouse" -> WarehouseWorkload, "index_lifecycle" -> IndexWorkload)

  /** `data`: the reference-layout directory; `tables`: the directory of
    * the project's parquet test tables; `cache`: state that depends only
    * on the tables and the build, shared by the runs of one build. */
  final case class Ctx(data: String, tables: String, cache: String,
      work: String, seed: Long, traced: Boolean, rec: Recorder)

  def session(work: String): SparkSession = {
    val cpus = Runtime.getRuntime.availableProcessors
    val local = new File(work, "spark-local")
    local.mkdirs()
    // graft.Bench's confs. The codegen cache and transferTo settings are
    // read from GraftSession; the local, warehouse and temp dirs are kept
    // inside the work dir (not GraftSession.localDir) so the run writes
    // only there.
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.local.dir", local.getAbsolutePath)
      .config("spark.shuffle.compress", "false")
      .config("spark.shuffle.spill.compress", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.codegen.cache.maxEntries",
        graft.GraftSession.CodegenCacheEntries)
      .config("spark.file.transferTo", graft.GraftSession.FileTransferTo)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir",
        new File(work, "spark-warehouse").getAbsolutePath)
      .config("spark.hadoop.hadoop.tmp.dir",
        new File(work, "tmp").getAbsolutePath)
      .getOrCreate()
  }

  def peakRssMb: Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)

  def main(args: Array[String]): Unit = {
    val t0 = System.nanoTime()
    val jvmStartS = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    val opt = args.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    val traced = opt("trace") == "1"
    val ctx = Ctx(opt("data"), opt("tables"), opt("cache"), opt("work"),
      opt("seed").toLong, traced, new Recorder)
    new File(ctx.work).mkdirs()

    // set-up: build the session in this fresh JVM and warm it up
    val s0 = System.nanoTime()
    val spark = session(ctx.work)
    spark.sparkContext.setLogLevel("ERROR")
    if (opt("workload") == "prime") {
      workloads.values.foreach(_.prime(spark, ctx))
      spark.stop()
      return
    }
    val workload = workloads.getOrElse(opt("workload"),
      sys.error(s"unknown workload ${opt("workload")}"))
    workload.warmup(spark, ctx)
    val setupS = (System.nanoTime() - s0) / 1e9
    if (traced) Trace.install(spark)
    val p0 = System.nanoTime()
    workload.prepare(spark, ctx)
    val prepareS = (System.nanoTime() - p0) / 1e9
    System.gc()
    val m0 = System.nanoTime()
    workload.measure(spark, ctx, opt("seconds").toDouble)
    val windowS = (System.nanoTime() - m0) / 1e9
    val f0 = System.nanoTime()
    workload.finish(spark, ctx)
    val finishS = (System.nanoTime() - f0) / 1e9
    val layers = if (traced) Layers.summarize(ctx) else Map.empty[String, Double]
    if (traced) Trace.dump(new File(ctx.work, "trace.jsonl").getPath)

    val rec = ctx.rec
    val out = Json.obj(Seq(
      "jvm_start_s" -> jvmStartS,
      "setup_s" -> setupS,
      "prepare_s" -> prepareS,
      "window_s" -> windowS,
      "finish_s" -> finishS,
      "ops" -> rec.ops.map(o => Map("name" -> o.name, "ms" -> o.ms,
        "ok" -> o.ok, "traced" -> o.traced, "kind" -> o.kind)),
      "checks" -> rec.checks.map { case (w, ok, d) =>
        Map("what" -> w, "ok" -> ok, "detail" -> d) },
      "counters" -> rec.counters,
      "digests" -> rec.digests.map { case (k, (d, n, sql)) =>
        k -> Map("digest" -> d, "rows" -> n, "sql" -> sql) },
      "layers" -> layers,
      "peak_rss_mb" -> peakRssMb,
      "spark_version" -> spark.version,
      "java_version" -> System.getProperty("java.version"),
      "wall_s" -> (System.nanoTime() - t0) / 1e9))
    spark.stop()
    val w = new java.io.PrintWriter(opt("out"), "UTF-8")
    try w.println(out) finally w.close()
  }
}

/** Per-layer metrics of a traced run. Each is a total over the traced
  * ops divided by the number of traced ops it belongs to: batch-layer
  * metrics (sources, etl, segments) per batch op, serve metrics (index)
  * per query op, and the engine layers (plans, sched, exec) and self
  * times per op of either kind. */
object Layers {
  def summarize(ctx: Main.Ctx): Map[String, Double] = {
    org.apache.spark.PerfbenchBus.drain(SparkSession.active.sparkContext)
    val kindOf = ctx.rec.ops.map(o => o.name -> o.kind).toMap
    val spans = Trace.spans.toSeq
    val byId = spans.map(s => s.id -> s).toMap
    val opSpans = spans.filter(_.layer == "op")
    def per(kind: Option[String]): Double = math.max(1,
      opSpans.count(o => kind.forall(kindOf.get(o.name).contains))).toDouble
    val nOps = per(None)
    val nBatch = per(Some("batch"))
    val nQuery = per(Some("query"))
    def opOf(id: Long): Option[Span] = byId.get(id).flatMap { s =>
      if (s.layer == "op") Some(s) else opOf(s.parent)
    }
    val jobs = Trace.jobs.values.asScala.toSeq
    // (op span, job span, job stats, layer of the call that ran the job)
    val jobOps = jobs.flatMap { case (s, st) => opOf(s.parent).map(o =>
      (o, s, st, byId.get(s.parent).map(_.layer).getOrElse(""))) }
    def sum(f: JobStats => Double) = jobOps.map(x => f(x._3)).sum / nOps
    def jobMs(site: String => Boolean) =
      jobOps.filter(x => site(x._3.callSite)).map(_._2.ms).sum
    val driverOnly = opSpans.map { o =>
      val ivs = jobOps.filter(_._1.id == o.id).flatMap(_._3.intervals)
      o.ms - Trace.covered(ivs, o.start, o.end)
    }.sum / nOps
    val ph = Trace.phases.asScala.toSeq.filter { case (st, _, _, _) =>
      opSpans.exists(o => st >= o.start && st <= o.end) }
    def calls(layer: String, name: String) =
      spans.filter(s => s.layer == layer && s.name == name).map(_.ms).sum
    val self = Trace.selfTimes(spans ++ jobs.map(_._1))
      .map { case (k, v) => k -> v / nOps }.withDefaultValue(0.0)
    Map(
      "plans.analysis_ms" -> ph.map(_._2).sum / nOps,
      "plans.optimization_ms" -> ph.map(_._3).sum / nOps,
      "plans.planning_ms" -> ph.map(_._4).sum / nOps,
      "plans.executions" -> ph.size / nOps,
      "sched.jobs" -> jobOps.size / nOps,
      "sched.stages" -> sum(_.stages.size.toDouble),
      "sched.tasks" -> sum(_.tasks.toDouble),
      "sched.driver_only_ms" -> driverOnly,
      "sched.task_retries" -> sum(_.retries.toDouble),
      "exec.task_cpu_ms" -> sum(_.cpuMs),
      "exec.task_run_ms" -> sum(_.runMs),
      "exec.gc_ms" -> sum(_.gcMs),
      "exec.deser_ms" -> sum(_.deserMs),
      "exec.shuffle_read_bytes" -> sum(_.shuffleRead.toDouble),
      "exec.shuffle_write_bytes" -> sum(_.shuffleWrite.toDouble),
      "exec.spill_bytes" -> sum(_.spill.toDouble),
      "sources.extract_ms" -> calls("sources", "fileInputs") / nBatch,
      "sources.scan_rows" -> sum(_.scanRows.toDouble),
      "sources.scan_bytes" -> sum(_.scanBytes.toDouble),
      "sources.write_ms" ->
        jobMs(_.contains("Sources$.$anonfun$writeOrdered")) / nBatch,
      "etl.run_ms" -> calls("etl", "run") / nBatch,
      "etl.validate_ms" ->
        jobMs(_.contains("Quality$.$anonfun$runSuite")) / nBatch,
      "etl.jobs" -> jobOps.count(_._4 == "etl") / nBatch,
      "segments.append_ms" -> calls("segments", "append") / nBatch,
      "segments.delete_ms" -> calls("segments", "delete") / nBatch,
      "segments.maintain_ms" -> calls("segments", "maintain") / nBatch,
      "segments.vacuum_ms" -> calls("segments", "vacuum") / nBatch,
      "segments.cdc_ms" -> calls("segments", "cdc") / nBatch,
      "segments.read_ms" -> calls("segments", "read") / nBatch,
      "segments.resolve_ms" -> calls("segments", "resolve") / nBatch,
      "index.pq_serve_ms" -> calls("index", "pq_serve") / nQuery,
      "index.bm25_serve_ms" -> calls("index", "bm25_serve") / nQuery,
      "index.serve_jobs" -> jobOps.count(_._4 == "index") / nQuery,
      "self.op_ms" -> self("op"),
      "self.sources_ms" -> self("sources"),
      "self.etl_ms" -> self("etl"),
      "self.segments_ms" -> self("segments"),
      "self.index_ms" -> self("index"),
      "self.queries_ms" -> self("queries"),
      "self.jobs_ms" -> self("job"))
  }
}
