package graft.etl

import java.util.concurrent.atomic.AtomicInteger

import graft.{SparkSpec, Tables}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The Spark jobs of one nightly maintenance round — `appendSeg` +
  * `deleteSeg` + `tieredMaintain` — per segment family at sf0.001,
  * counted by a job listener. A night's wall is set by the per-job
  * floor, not by its data volume, so a change that adds jobs to the
  * write path (the BM25 write-time list repair, say) shows here as a
  * gated number. Pinned as ceilings: a plan that gets cheaper passes,
  * and the pin should then be lowered to the new count.
  */
class NightJobsSpec extends SparkSpec {

  private val ceilings = Map("bm25" -> 58, "pq" -> 13, "minhash" -> 12)

  /** Jobs started while `f` runs (the bus drained on both sides). */
  private def jobsOf(f: => Unit): Int = {
    val sc = spark.sparkContext
    val n = new AtomicInteger
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        n.incrementAndGet()
    }
    org.apache.spark.TestBus.drain(sc)
    sc.addSparkListener(l)
    try { f; org.apache.spark.TestBus.drain(sc) }
    finally sc.removeSparkListener(l)
    n.get
  }

  private def tmp(p: String) =
    java.nio.file.Files.createTempDirectory(p).toString

  test("one night's jobs per family stay within their pins") {
    val docs = Tables.documents(spark, sf).select("doc_id", "text")
      .cache()
    val tf = SparseIndex.termFreqs(docs).cache()
    val e = AnnIndex.prep(Tables.embeddings(spark, sf)).cache()
    def pool(df: DataFrame, k: String) = df.filter(col(k) % 10 === 0)
    def live(df: DataFrame, k: String) = df.filter(col(k) % 10 =!= 0)
    def dels(df: DataFrame, k: String) =
      df.select(k).distinct().filter(col(k) % 10 === 3)

    val sp = tmp("night_bm25")
    SparseSegments.init(SparseIndex.build(live(tf, "doc_id")), sp)
    val pq = tmp("night_pq")
    PqSegments.init(PqIndex.build(live(e, "vec_id")), pq)
    val mh = tmp("night_mh")
    MinHashSegments.init(NearDup.signatures(live(docs, "doc_id")), mh)

    val got = Map(
      "bm25" -> jobsOf {
        SparseSegments.appendSeg(spark, sp, pool(tf, "doc_id"))
        SparseSegments.deleteSeg(spark, sp, dels(tf, "doc_id"))
        assert(SparseSegments.tieredMaintain(spark, sp) == 1)
      },
      "pq" -> jobsOf {
        PqSegments.appendSeg(spark, pq, pool(e, "vec_id"))
        PqSegments.deleteSeg(spark, pq, dels(e, "vec_id"))
        assert(PqSegments.tieredMaintain(spark, pq) == 1)
      },
      "minhash" -> jobsOf {
        MinHashSegments.appendSeg(spark, mh, pool(docs, "doc_id"))
        MinHashSegments.deleteSeg(spark, mh, dels(docs, "doc_id"))
        assert(MinHashSegments.tieredMaintain(spark, mh) == 1)
      })
    info(s"night jobs: $got")
    val over = got.filter { case (f, n) => n > ceilings(f) }
    assert(over.isEmpty, s"night jobs over their pins: $over " +
      s"(pins $ceilings)")
  }
}
