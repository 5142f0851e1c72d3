package graft.etl

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Deploy contract for the persisted IVFPQ index (x58 codes / x97
  * serve): the index written to disk and read back must serve EXACTLY
  * what the inline oracle-gated path computes; appends are frozen-
  * codebook encodes (base rows bit-stable, delta rows exactly the
  * frozen encode); deletes serve exactly the remaining corpus — the
  * properties that make the compressed layout a safe operating mode
  * at 100 TB, symmetric with AnnIndexSpec (IVF-flat), SparseIndexSpec
  * (BM25) and NearDupIndexSpec (MinHash).
  */
class PqIndexSpec extends SparkSpec {

  private def e: DataFrame =
    AnnIndex.prep(Tables.embeddings(spark, sf)).cache()

  private def queries(src: DataFrame): DataFrame =
    src.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("q_id"), col("emb"), col("norm"))

  private def servedKey(df: DataFrame): Set[(Long, Long, Long, Long)] =
    df.select("q_id", "vec_id", "rank", "n_scanned").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSet

  private def codesKey(df: DataFrame): Set[Seq[Any]] =
    df.select(col("vec_id") +:
      (0 until PqIndex.Sub).map(i => col(s"code$i")): _*)
      .collect().map(_.toSeq).toSet

  test("write -> read -> serve is identical to the inline oracle-gated path") {
    val ev = e
    val idx = PqIndex.build(ev)
    val inline = servedKey(PqIndex.serve(queries(ev), idx))
    assert(inline.nonEmpty)

    val dir = java.nio.file.Files.createTempDirectory("pq_index").toString
    PqIndex.write(idx, dir)
    val loaded = PqIndex.read(spark, dir)
    assert(codesKey(loaded.codes) == codesKey(idx.codes))
    val served = servedKey(PqIndex.serve(queries(ev), loaded))
    assert(served == inline,
      s"persisted-index serve drifted: ${(inline -- served).take(3)}")
  }

  test("append is a frozen-codebook encode: base rows stable, delta exact") {
    val ev = e
    val base = ev.filter(col("vec_id") % 3 =!= 0)
    val delta = ev.filter(col("vec_id") % 3 === 0)
    assert(base.count() > 0 && delta.count() > 0)
    val idx = PqIndex.build(base)
    val baseCodes = codesKey(idx.codes)
    val appended = PqIndex.append(idx, delta)
    // base rows bit-stable through the append
    val afterBase = codesKey(appended.codes
      .filter(col("vec_id") % 3 =!= 0))
    assert(afterBase == baseCodes, "append moved existing code rows")
    // delta rows are exactly the frozen-book encode of the delta
    val expectDelta = codesKey((0 until PqIndex.Sub)
      .map(i => PqIndex.encode(PqIndex.slice(delta, i), idx.books(i))
        .select(col("vec_id"), col("cluster").as(s"code$i")))
      .reduce((a, b) => a.join(b, Seq("vec_id"))))
    val afterDelta = codesKey(appended.codes
      .filter(col("vec_id") % 3 === 0))
    assert(afterDelta == expectDelta, "delta codes drifted from the " +
      "frozen-book encode")
    // delta rows sit in their frozen-coarse-codebook cells
    def cellKey(df: DataFrame) =
      df.select("vec_id", "cluster").collect().map(_.toSeq).toSet
    assert(cellKey(appended.codes.filter(col("vec_id") % 3 === 0)) ==
      cellKey(AnnIndex.assign(delta, idx.coarse)),
      "delta cells drifted from the frozen coarse assignment")
    assert(appended.codes.count() == idx.codes.count() + delta.count())
  }

  test("delete serves exactly the remaining corpus under frozen codebooks") {
    val ev = e
    val idx = PqIndex.build(ev)
    val del = ev.filter(col("vec_id") % 4 === 1).select("vec_id")
    assert(del.count() > 0)
    val deleted = PqIndex.delete(idx, del)
    // codes are exactly the anti-joined set
    assert(codesKey(deleted.codes) ==
      codesKey(idx.codes.join(del, Seq("vec_id"), "left_anti")))
    // served results never contain a deleted vector, and equal the
    // frozen-codebook index built over the remaining rows directly
    val served = PqIndex.serve(queries(ev), deleted)
    assert(served.join(del.withColumnRenamed("vec_id", "v2"),
      col("vec_id") === col("v2")).count() == 0)
    val rebuilt = PqIndex.Index(idx.coarse, idx.books,
      idx.codes.join(del, Seq("vec_id"), "left_anti"))
    assert(servedKey(served) == servedKey(PqIndex.serve(queries(ev),
      rebuilt)))
  }

  test("append rejects overlapping vec_ids (revise = delete + append)") {
    val ev = e
    val idx = PqIndex.build(ev)
    // the disjointness guard rides IN the encode plan (zero extra
    // jobs), so the overlap surfaces at the first materializing action
    val err = intercept[Exception] {
      PqIndex.append(idx, ev.limit(1)).codes
        .write.format("noop").mode("overwrite").save()
    }
    def messages(x: Throwable): Seq[String] =
      Option(x).toSeq.flatMap(c =>
        Option(c.getMessage).toSeq ++ messages(c.getCause))
    assert(messages(err).exists(_.contains("disjoint")))
  }

  test("refine tail: corpus-wide k' == exact brute force; k'=RefineK recall >= plain ADC") {
    val ev = e
    val idx = PqIndex.build(ev)
    val q = queries(ev)
    val n = ev.count().toInt
    // exact truth: brute-force L2 top-10 over the probed UNIVERSE —
    // refine can only fix ranking among scanned candidates, so the
    // ceiling is the probe recall; with nprobe = K (probe everything)
    // a corpus-wide refine IS brute force
    val allK = graft.etl.AnnIndex.K
    val refAll = PqIndex.serveRefined(q, idx, ev, refineK = n,
      nprobe = allK)
      .select("q_id", "vec_id", "rank")
    val qe = q.select(col("q_id"), col("emb").as("qe"))
    val brute = ev.select(col("vec_id"), col("emb"))
      .crossJoin(qe)
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("l2",
        graft.functions.DotProduct(col("emb"), col("emb")) -
          lit(2.0) * graft.functions.DotProduct(col("emb"), col("qe")) +
          graft.functions.DotProduct(col("qe"), col("qe")))
      .withColumn("rank", org.apache.spark.sql.functions.row_number()
        .over(org.apache.spark.sql.expressions.Window
          .partitionBy("q_id")
          .orderBy(col("l2"), col("vec_id"))).cast("long"))
      .filter(col("rank") <= 10)
      .select("q_id", "vec_id", "rank")
    def key(df: DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(key(refAll) == key(brute),
      "all-probe corpus-wide refine drifted from exact brute force")

    // at the promoted width the refined list can only be CLOSER to
    // the truth than the raw ADC ranking (hits are counted against
    // the same probe universe, so refine is monotone here)
    def hitsOf(df: DataFrame): Long = df.select("q_id", "vec_id")
      .join(brute.select("q_id", "vec_id"), Seq("q_id", "vec_id"))
      .count()
    val plain = PqIndex.serve(q, idx)
    val refined = PqIndex.serveRefined(q, idx, ev)
    assert(hitsOf(refined) >= hitsOf(plain),
      "refine tail lowered recall vs the plain ADC ranking")
  }
}
