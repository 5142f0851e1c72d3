package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval. `parent` links job → public call → op; 0 is the
  * root. Times are epoch milliseconds (with sub-ms precision for the
  * benchmark's own spans) so they line up with Spark's task times. */
final case class Span(id: Long, parent: Long, layer: String, name: String,
    start: Double, var end: Double) {
  def ms: Double = end - start
}

/** Per-job execution totals, summed from its tasks. */
final class JobStats {
  var tasks, retries = 0L
  var cpuMs, runMs, gcMs, deserMs = 0.0
  var shuffleRead, shuffleWrite, spill = 0L
  var scanRows, scanBytes = 0L
  val stages = mutable.Set.empty[Int]
  val intervals = mutable.ArrayBuffer.empty[(Double, Double)]
  var callSite = ""
}

/** The benchmark's tracer. Off by default: untraced runs only time
  * ops. When on, the benchmark records a span around each op and each
  * public call it makes into a layer; a SparkListener links every job to
  * the call that issued it through the `perfbench.span` local property
  * and sums its task metrics, and a QueryExecutionListener records each
  * query's Catalyst phase times. Spans stay in memory until [[dump]]. */
object Trace {
  @volatile var on = false
  private var nextId = 0L
  val spans = mutable.ArrayBuffer.empty[Span]
  val jobs = new ConcurrentHashMap[Int, (Span, JobStats)]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val execSite = new ConcurrentHashMap[Long, String]()
  /** (start ms, analysis ms, optimization ms, planning ms) per query. */
  val phases = new java.util.concurrent.ConcurrentLinkedQueue[
    (Double, Double, Double, Double)]()
  private val stack = new ThreadLocal[List[Long]] {
    override def initialValue(): List[Long] = Nil
  }
  private var session: SparkSession = _

  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  private def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6

  private def newId(): Long = synchronized { nextId += 1; nextId }

  /** Time `f` as a span of `layer`. Untraced, this is a bare call. */
  def span[T](layer: String, name: String)(f: => T): T =
    if (!on) f
    else {
      val parent = stack.get.headOption.getOrElse(0L)
      val s = Span(newId(), parent, layer, name, nowMs, 0.0)
      synchronized(spans += s)
      val sc = session.sparkContext
      val prevProp = sc.getLocalProperty("perfbench.span")
      stack.set(s.id :: stack.get)
      sc.setLocalProperty("perfbench.span", s.id.toString)
      try f
      finally {
        s.end = nowMs
        stack.set(stack.get.tail)
        sc.setLocalProperty("perfbench.span", prevProp)
      }
    }

  private var listening = false

  /** Make `spark` the traced session (traced runs only). [[listen]]
    * attaches the listeners around each traced op. */
  def install(spark: SparkSession): Unit = session = spark

  /** Attach the listeners for a traced op and detach them for an
    * untraced one, so the untraced ops of a traced run run as in an
    * untraced run. Detaching first drains the listener bus, so every
    * event of the last traced op is counted. A no-op when untraced. */
  def listen(traced: Boolean): Unit =
    if (session != null && traced != listening) {
      val sc = session.sparkContext
      if (traced) {
        sc.addSparkListener(jobListener)
        session.listenerManager.register(queryListener)
      } else {
        org.apache.spark.PerfbenchBus.drain(sc)
        sc.removeSparkListener(jobListener)
        session.listenerManager.unregister(queryListener)
      }
      listening = traced
    }

  private lazy val jobListener: SparkListener = new SparkListener {
    // a SQL execution's call site is taken on the thread that ran the
    // action; its jobs may run on other threads (AQE, async stages)
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case x: SparkListenerSQLExecutionStart =>
        execSite.put(x.executionId, x.details)
      case _ => ()
    }
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val p = Option(e.properties).flatMap(pr =>
        Option(pr.getProperty("perfbench.span")))
      p.foreach { parent =>
        val result = e.stageInfos.maxByOption(_.stageId)
        val s = Span(newId(), parent.toLong, "job",
          result.map(_.name).getOrElse(""), e.time.toDouble,
          e.time.toDouble)
        val st = new JobStats
        st.callSite = Option(e.properties.getProperty(
            "spark.sql.execution.id"))
          .flatMap(id => Option(execSite.get(id.toLong)))
          .orElse(result.map(_.details)).getOrElse("")
        jobs.put(e.jobId, (s, st))
        e.stageIds.foreach(stageJob.put(_, e.jobId))
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_._1.end = e.time.toDouble)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageJob.get(e.stageId)).flatMap(j => Option(jobs.get(j)))
        .foreach { case (_, st) =>
          st.synchronized {
            val i = e.taskInfo
            st.tasks += 1
            if (i.attemptNumber > 0 || !i.successful) st.retries += 1
            st.stages += e.stageId
            st.intervals += ((i.launchTime.toDouble,
              i.finishTime.toDouble))
            Option(e.taskMetrics).foreach { m =>
              st.cpuMs += m.executorCpuTime / 1e6
              st.runMs += m.executorRunTime.toDouble
              st.gcMs += m.jvmGCTime.toDouble
              st.deserMs += m.executorDeserializeTime.toDouble
              st.shuffleRead += m.shuffleReadMetrics.totalBytesRead
              st.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
              st.spill += m.memoryBytesSpilled + m.diskBytesSpilled
              st.scanRows += m.inputMetrics.recordsRead
              st.scanBytes += m.inputMetrics.bytesRead
            }
          }
        }
  }

  private lazy val queryListener: QueryExecutionListener =
    new QueryExecutionListener {
      private def record(qe: QueryExecution): Unit = {
        val ph = qe.tracker.phases
        def d(k: String) = ph.get(k).map(_.durationMs.toDouble).getOrElse(0.0)
        val start = ph.values.map(_.startTimeMs).minOption
          .getOrElse(System.currentTimeMillis()).toDouble
        phases.add((start, d("analysis"), d("optimization"), d("planning")))
      }
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        record(qe)
      override def onFailure(f: String, qe: QueryExecution,
          e: Exception): Unit = record(qe)
    }

  /** Length of the union of `ivs`, clipped to [lo, hi]. */
  def covered(ivs: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    var total = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    ivs.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
        if (curS.isNaN || a > curE) {
          if (!curS.isNaN) total += curE - curS
          curS = a; curE = b
        } else curE = math.max(curE, b)
      }
    if (!curS.isNaN) total += curE - curS
    total
  }

  /** Self time per layer: each span's duration minus what its child
    * spans cover. */
  def selfTimes(all: Seq[Span]): Map[String, Double] = {
    val kids = all.groupBy(_.parent)
    all.groupBy(_.layer).map { case (layer, ss) =>
      layer -> ss.map { s =>
        s.ms - covered(kids.getOrElse(s.id, Nil).map(k => (k.start, k.end)),
          s.start, s.end)
      }.sum
    }
  }

  /** Write every span as one JSON line each to `path`. */
  def dump(path: String): Unit = {
    val w = new java.io.PrintWriter(path, "UTF-8")
    try (spans.toSeq ++ jobs.values.asScala.map(_._1)).sortBy(_.start)
      .foreach { s =>
        w.println(Json.obj(Seq("id" -> s.id, "parent" -> s.parent,
          "layer" -> s.layer, "name" -> s.name, "start_ms" -> s.start,
          "end_ms" -> s.end)))
      }
    finally w.close()
  }
}
