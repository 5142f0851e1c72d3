package graft.streaming

import graft.{SparkSpec, Tables}
import graft.etl.{AnnIndex, MinHashSegments, NearDup, PqIndex,
  PqSegments, SparseIndex, SparseSegments}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The operating loop the segment layer exists for: nightly O(delta)
  * maintenance (append + delete segments, base files immutable) with
  * CONTINUOUS serving — the online hybrid endpoint reads the
  * segmented live views directly, no compaction required first. The
  * static side of the stream-static joins is now a multi-segment
  * composition (scoped tombstone anti-joins, and each term's newest
  * write-time-repaired posting list shadowing the base's), so this also pins that the whole view plan is
  * legal and bit-exact as a streaming join side. Equivalence chain:
  * chunked stream over segmented views ≡ fuseBatch over the same
  * views ≡ fuseBatch over fold-in indexes (the segment specs' view ≡
  * fold-in theorems, composed).
  */
class SegmentedServeSpec extends SparkSpec {

  private def key(rows: Array[org.apache.spark.sql.Row])
      : Set[(Long, Long, Long, Long, Long, Long)] =
    rows.map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("doc_id"),
      r.getAs[Long]("fused_rank"), r.getAs[Long]("rrf_score"),
      r.getAs[Long]("r_sparse"), r.getAs[Long]("r_dense"))).toSet

  private lazy val d = Tables.documents(spark, sf).cache()
  private lazy val e = AnnIndex.prep(Tables.embeddings(spark, sf)).cache()
  private lazy val del = d.select("doc_id").distinct()
    .filter(col("doc_id") % 10 === 3).cache()

  /** Nightly maintenance on disk: base(2/3) + append-seg(1/3) +
    * delete-seg for both families. Returns (sparse root, pq root). */
  private lazy val roots: (String, String) = {
    val spRoot = java.nio.file.Files
      .createTempDirectory("seg_serve_sp").toString
    SparseSegments.init(SparseIndex.build(SparseIndex.termFreqs(
      d.filter(col("doc_id") % 3 =!= 0))), spRoot)
    SparseSegments.appendSeg(spark, spRoot, SparseIndex.termFreqs(
      d.filter(col("doc_id") % 3 === 0)))
    SparseSegments.deleteSeg(spark, spRoot, del)

    val pqRoot = java.nio.file.Files
      .createTempDirectory("seg_serve_pq").toString
    PqSegments.init(PqIndex.build(e.filter(col("vec_id") % 3 =!= 0)),
      pqRoot)
    PqSegments.appendSeg(spark, pqRoot,
      e.filter(col("vec_id") % 3 === 0))
    PqSegments.deleteSeg(spark, pqRoot,
      del.select(col("doc_id").as("vec_id")))
    (spRoot, pqRoot)
  }

  /** (row count, SHA-256 of the sorted rendered rows) of a frame's
    * `cols` — doubles rendered round-trip exact, so a last-ulp drift
    * changes the digest. */
  private def digest(df: DataFrame, cols: String*): (Long, String) = {
    val rows = df.select(cols.map(col): _*).collect().map(_.toSeq.map {
      case x: Double => java.lang.Double.toString(x)
      case x => String.valueOf(x)
    }.mkString("\t")).sorted
    val md = java.security.MessageDigest.getInstance("SHA-256")
    (rows.length.toLong, md.digest(rows.mkString("\n").getBytes("UTF-8"))
      .map(b => f"$b%02x").mkString)
  }

  test("batch serves over segmented layouts match their golden digests") {
    val (spRoot, pqRoot) = roots
    val spL = SparseSegments.read(spark, spRoot)
    val pqL = PqSegments.read(spark, pqRoot)
    val q = d.filter(col("doc_id") % 50 === 0)
      .join(del, Seq("doc_id"), "left_anti")
      .select(col("doc_id").as("q_id"), col("text"))
      .join(e.select(col("vec_id").as("q_id"), col("emb"),
        col("norm")), "q_id")
      .cache()
    val qv = q.select("q_id", "emb", "norm")
    // an explicit probe relation: a query-dependent subset of the cells
    val probes = q.select("q_id")
      .crossJoin(pqL.coarse.select(col("c_id").as("cluster")))
      .filter((col("q_id") + col("cluster")) % 3 =!= 0)
    val pqCols = Seq("q_id", "vec_id", "rank", "adc", "n_scanned")
    val got = Seq(
      "pq_serve" -> digest(PqIndex.serve(qv, pqL), pqCols: _*),
      "pq_serve_with_probes" ->
        digest(PqIndex.serveWithProbes(qv, pqL, probes), pqCols: _*),
      "pq_serve_refined" -> digest(PqIndex.serveRefined(qv, pqL,
        e.select("vec_id", "emb")),
        "q_id", "vec_id", "rank", "l2", "n_scanned"),
      "bm25_serve" -> digest(SparseIndex.serve(
        SparseServeStream.queryTerms(q.select("q_id", "text")), spL),
        "q_id", "doc_id", "rank", "score_ppm", "n_terms"))
    val golden = scala.io.Source.fromInputStream(
      getClass.getResourceAsStream("/serve_golden.tsv"), "UTF-8")
      .getLines().filterNot(_.startsWith("#")).map(_.split("\t"))
      .map(a => a(0) -> (a(1).toLong, a(2))).toMap
    val drift = got.filterNot { case (n, v) =>
      golden.get(n).contains(v) }
    assert(drift.isEmpty, "serve digests drifted from " +
      "serve_golden.tsv:\n" + drift.map { case (n, (c, h)) =>
        s"$n\t$c\t$h" }.mkString("\n"))
    got.foreach { case (_, (c, _)) => assert(c > 0) }
  }

  test("fused stream serves from segmented sparse+pq layouts after append+delete") {
    val (spRoot, pqRoot) = roots

    // (the MinHash layout participates in the nightly too — cheap
    // sanity that its live view reads back under the same churn)
    val mhRoot = java.nio.file.Files
      .createTempDirectory("seg_serve_mh").toString
    MinHashSegments.init(
      NearDup.signatures(d.filter(col("doc_id") % 3 =!= 0)), mhRoot)
    MinHashSegments.appendSeg(spark, mhRoot,
      d.filter(col("doc_id") % 3 === 0))
    MinHashSegments.deleteSeg(spark, mhRoot, del)
    assert(MinHashSegments.read(spark, mhRoot).count() > 0)

    val spL = SparseSegments.read(spark, spRoot)
    val pqL = PqSegments.read(spark, pqRoot)

    // surviving-corpus probes with both modalities
    val q = d.filter(col("doc_id") % 100 === 0)
      .join(del, Seq("doc_id"), "left_anti")
      .select(col("doc_id").as("q_id"), col("text"))
      .join(e.select(col("vec_id").as("q_id"), col("emb"),
        col("norm")), "q_id")
      .cache()

    val batch = key(FusedServeStream.fuseBatch(
      SparseIndex.serve(SparseServeStream.queryTerms(
        q.select("q_id", "text")), spL, FusedServeStream.FuseK),
      PqIndex.serve(q.select("q_id", "emb", "norm"), pqL,
        k = FusedServeStream.FuseK)).collect())
    assert(batch.nonEmpty)

    val qdir = java.nio.file.Files.createTempDirectory("seg_serve_q")
    val in = s"$qdir/in"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(in))
    val stream = spark.readStream.schema(q.schema).parquet(in)
    val out = FusedServeStream.serve(stream, spL, pqL)
      .writeStream.outputMode("append")
      .format("memory").queryName("seg_serve_stream").start()
    try {
      q.filter(col("q_id") % 200 === 0).coalesce(1)
        .write.mode("append").parquet(in)
      out.processAllAvailable()
      q.filter(col("q_id") % 200 =!= 0).coalesce(1)
        .write.mode("append").parquet(in)
      out.processAllAvailable()
      val streamed = key(spark.table("seg_serve_stream").collect())
      assert(streamed == batch,
        s"stream over segmented views drifted: " +
          s"missing=${(batch -- streamed).take(3)} " +
          s"extra=${(streamed -- batch).take(3)}")
    } finally out.stop()
  }
}
