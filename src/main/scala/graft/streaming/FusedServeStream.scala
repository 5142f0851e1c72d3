package graft.streaming

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.etl.{PqIndex, SparseIndex}

/** Online HYBRID retrieval: the w07 funnel's retrieval + fusion prefix
  * as a streaming query endpoint — each arriving query (q_id, text,
  * emb, norm) is served by BOTH persisted index families (BM25 from
  * [[graft.etl.SparseIndex]], IVFPQ ADC from [[graft.etl.PqIndex]])
  * and the two rankings are fused with x73's EXACT integer
  * reciprocal-rank fusion (10⁹ div (60 + rank), missing leg
  * contributes 0, ties broken on doc_id) — bit-deterministic, so the
  * stream and the batch composition agree hash-exactly.
  *
  * Composition, all streaming-legal with ONE stateful operator:
  *  - the sparse leg is [[SparseServeStream.queryTerms]] (row-local) →
  *    [[graft.etl.SparseIndex.contribs]] (the batch serve's scan:
  *    one stream-static term-keyed join against `plist`, whose rows
  *    carry `dl` and `df`, literal corpus card);
  *  - the dense leg is [[graft.etl.PqIndex.candidates]] (the batch
  *    serve's scan: row-local probe selection from the literal coarse
  *    codebook, stream-static cluster-keyed join against the code rows
  *    that carry their cell, literal-book
  *    ADC);
  *  - the two legs UNION as tagged rows (legal: both derive from the
  *    same input stream via stateless ops) and ONE
  *    flatMapGroupsWithState per q_id computes both legs' top-`fuseK`
  *    (sparse: per-doc c_ppm sums in a serve-bounded hash map —
  *    ≤ |query terms| × cap entries; dense: an O(fuseK) bounded heap
  *    over the probed-cells scan) and emits the fused top-`k`. State
  *    is never stored (a query's rows from BOTH legs arrive within its
  *    own micro-batch), so the store stays empty — NoTimeout is the
  *    honest setting.
  *
  * The remaining w07 stages (MaxSim rerank over subtoken embeddings,
  * token-budget context packing) need the fused rank as a second
  * per-query ordering, and chaining a second stateful operator after
  * flatMapGroupsWithState is not streaming-legal in append mode. The
  * r11 closure ([[rerankPack]]): they ride a foreachBatch sink as a
  * pure per-micro-batch transform — legal because a query's rows
  * never span micro-batches — so the WHOLE funnel now serves online,
  * retrieval fold + assembly tail, with zero new state.
  *
  * FusedServeStreamSpec pins stream ≡ batch: the same queries fused
  * through [[fuseBatch]] over SparseIndex.serve × PqIndex.serve —
  * each leg oracle-gated (x80/x98, x97) — agree rank for rank, and a
  * chunked file stream agrees with both.
  */
object FusedServeStream {

  /** w07's promoted fuse depth (the x93b sweep's verdict). */
  val FuseK = 20

  /** w07's context-packing budget (chars). */
  val CtxBudgetChars = 2000L

  /** w07's ASSEMBLY tier — MaxSim rerank over the subtoken slices +
    * greedy context packing — as a PURE function of a fused-candidate
    * frame: only the frame's own rows and two stream-static relations
    * (`emb`: vec_id → double-cast embedding; `docChars`: doc_id →
    * n_chars), ZERO state. That purity is what closes the class-doc
    * split (VERDICT r10 #6): a second stateful ordering after
    * flatMapGroupsWithState is not append-legal, but a foreachBatch
    * sink may apply ANY batch transform to each micro-batch — and
    * since a query's rows never span micro-batches (the retrieval
    * fold's own contract), per-batch rerank+pack equals the global
    * batch tail restricted to that batch's queries.
    * FusedServeStreamSpec pins streamed final answers ≡ the batch
    * funnel at fuse-k [[FuseK]] across micro-batch boundaries,
    * restart-safe. Windows here are per-q_id over ≤ fuseK candidate
    * rows — bounded at any corpus size. */
  def rerankPack(fused: DataFrame, emb: DataFrame, docChars: DataFrame,
      budgetChars: Long = CtxBudgetChars): DataFrame = {
    import graft.functions.DotProduct
    def sliced(prefix: String, idAs: String): DataFrame = {
      val base = emb.select(col("vec_id").as(idAs) +:
        (0 until 4).map(i =>
          expr(s"slice(emb, ${16 * i + 1}, 16)").as(s"${prefix}v$i")): _*)
      (0 until 4).foldLeft(base)((acc, i) =>
        acc.withColumn(s"${prefix}n$i",
          sqrt(DotProduct(col(s"${prefix}v$i"), col(s"${prefix}v$i")))))
    }
    val maxes = (0 until 4).map { i =>
      greatest((0 until 4).map(j =>
        DotProduct(col(s"qv$i"), col(s"dv$j")) /
          (col(s"qn$i") * col(s"dn$j"))): _*)
    }
    val wR = Window.partitionBy("q_id")
      .orderBy(col("maxsim").desc, col("doc_id"))
    val wCum = Window.partitionBy("q_id").orderBy("rr_rank")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    fused.select("q_id", "doc_id")
      .join(sliced("q", "q_id"), Seq("q_id"))
      .join(sliced("d", "doc_id"), Seq("doc_id"))
      .withColumn("maxsim", maxes.reduce(_ + _))
      .select("q_id", "doc_id", "maxsim")
      .withColumn("rr_rank", row_number().over(wR).cast("long"))
      .join(docChars.select(col("doc_id"), col("n_chars")), "doc_id")
      .withColumn("cum_chars", sum("n_chars").over(wCum))
      .withColumn("picked", col("cum_chars") <= budgetChars)
      .select("q_id", "doc_id", "rr_rank", "maxsim", "n_chars",
        "cum_chars", "picked")
  }

  final case class Leg(q_id: Long, doc_id: Long, leg: Int,
      c_ppm: Long, adc: Double)
  final case class Fused(q_id: Long, doc_id: Long, fused_rank: Long,
      rrf_score: Long, r_sparse: Long, r_dense: Long)

  /** x73's exact nano-unit RRF of two batch serve outputs
    * (SparseIndex.serve's (q_id, doc_id, rank, ...) ×
    * PqIndex.serve's (q_id, vec_id, rank, ...)) — the batch twin the
    * stream is gated against. */
  def fuseBatch(sparse: DataFrame, dense: DataFrame, k: Int = 10)
      : DataFrame = {
    val sp = sparse.select(col("q_id"), col("doc_id"),
      col("rank").as("r_sparse"))
    val dn = dense.select(col("q_id"), col("vec_id").as("doc_id"),
      col("rank").as("r_dense"))
    val w = Window.partitionBy("q_id")
      .orderBy(col("rrf_score").desc, col("doc_id"))
    sp.join(dn, Seq("q_id", "doc_id"), "full_outer")
      .withColumn("rrf_score",
        coalesce(expr("1000000000L div (60L + r_sparse)"), lit(0L)) +
        coalesce(expr("1000000000L div (60L + r_dense)"), lit(0L)))
      .withColumn("fused_rank", row_number().over(w).cast("long"))
      .filter(col("fused_rank") <= k)
      .select(col("q_id"), col("doc_id"), col("fused_rank"),
        col("rrf_score"),
        coalesce(col("r_sparse"), lit(0L)).as("r_sparse"),
        coalesce(col("r_dense"), lit(0L)).as("r_dense"))
  }

  /** Both legs' top-`fuseK` + RRF + fused top-`k` for one query, as a
    * single-pass fold. Pure — unit-testable without a streaming
    * query; state unused. */
  def step(fuseK: Int, k: Int)(qId: Long, rows: Iterator[Leg],
      state: GroupState[Int]): Iterator[Fused] = {
    val sp = mutable.HashMap.empty[Long, Long]
    val worstFirst = Ordering.by[(Double, Long), (Double, Long)](identity)
    val dnHeap = mutable.PriorityQueue.empty[(Double, Long)](worstFirst)
    rows.foreach { r =>
      if (r.leg == 0)
        sp.update(r.doc_id, sp.getOrElse(r.doc_id, 0L) + r.c_ppm)
      else {
        dnHeap.enqueue((r.adc, r.doc_id))
        if (dnHeap.size > fuseK) dnHeap.dequeue()
      }
    }
    val rSparse: Map[Long, Long] = sp.iterator.toArray
      .sortBy { case (d, s) => (-s, d) }.take(fuseK)
      .iterator.zipWithIndex
      .map { case ((d, _), i) => d -> (i + 1L) }.toMap
    val dnWorstToBest: Seq[(Double, Long)] = dnHeap.dequeueAll
    val rDense: Map[Long, Long] = dnWorstToBest.reverse
      .iterator.zipWithIndex
      .map { case ((_, d), i) => d -> (i + 1L) }.toMap
    (rSparse.keySet ++ rDense.keySet).toArray
      .map { d =>
        val rs = rSparse.getOrElse(d, 0L)
        val rd = rDense.getOrElse(d, 0L)
        val score = (if (rs > 0) 1000000000L / (60L + rs) else 0L) +
          (if (rd > 0) 1000000000L / (60L + rd) else 0L)
        (d, score, rs, rd)
      }
      .sortBy { case (d, s, _, _) => (-s, d) }
      .take(k)
      .iterator.zipWithIndex
      .map { case ((d, s, rs, rd), i) =>
        Fused(qId, d, (i + 1).toLong, s, rs, rd)
      }
  }

  /** Serve the fused top-`k` for a (possibly streaming) query frame
    * (q_id, text, emb, norm) from the two loaded indexes. */
  def serve(queries: DataFrame, sparseIdx: SparseIndex.Index,
      pqIdx: PqIndex.Index, nprobe: Int = graft.etl.AnnIndex.Probes,
      fuseK: Int = FuseK, k: Int = 10): Dataset[Fused] = {
    import queries.sparkSession.implicits._
    val sp = SparseIndex.contribs(
      SparseServeStream.queryTerms(queries.select("q_id", "text")),
      sparseIdx).toDF()
      .select(col("q_id"), col("doc_id"), lit(0).as("leg"),
        col("c_ppm"), lit(0.0).as("adc"))
    val dn = PqIndex.candidates(
      queries.select("q_id", "emb", "norm"), pqIdx, nprobe).toDF()
      .select(col("q_id"), col("vec_id").as("doc_id"),
        lit(1).as("leg"), lit(0L).as("c_ppm"), col("adc"))
    val legs = sp.unionByName(dn).as[Leg]
    if (queries.isStreaming)
      legs.groupByKey(_.q_id)
        .flatMapGroupsWithState(OutputMode.Append,
          GroupStateTimeout.NoTimeout)(step(fuseK, k))
    else
      legs.groupByKey(_.q_id).flatMapGroups((q, rows) =>
        step(fuseK, k)(q, rows, null))
  }

  // --------------------------------------------------------------------
  // The REFINED hybrid — w07b's online twin: the dense leg is the
  // x104-promoted two-stage serve (ADC top-RefineK re-ranked by exact
  // L2 — [[PqIndex.candidatesRefined]] carries the exact L2 along
  // each scanned row, so one fold both cuts and re-ranks), the
  // sparse leg and the RRF fuse are [[serve]]'s verbatim. One
  // stateful fold, O(max(refineK, fuseK)) memory per group.
  // FusedServeStreamSpec pins stream ≡ fuseBatch over
  // SparseIndex.serve × PqIndex.serveRefined, chunk- and
  // restart-independent.
  // --------------------------------------------------------------------

  final case class LegR(q_id: Long, doc_id: Long, leg: Int,
      c_ppm: Long, adc: Double, l2: Double)

  /** [[step]] with the dense leg refined: keep the ADC
    * top-max(refineK, fuseK) (ties (adc, doc_id) — the batch cut's
    * exact set), re-rank those by (l2, doc_id), fuse the top-`fuseK`
    * of each leg, emit the fused top-`k`. */
  def stepR(refineK: Int, fuseK: Int, k: Int)(qId: Long,
      rows: Iterator[LegR], state: GroupState[Int]): Iterator[Fused] = {
    val sp = mutable.HashMap.empty[Long, Long]
    val worstFirst =
      Ordering.by[(Double, Long, Double), (Double, Long)](t =>
        (t._1, t._2))
    val dnHeap =
      mutable.PriorityQueue.empty[(Double, Long, Double)](worstFirst)
    val adcKeep = math.max(refineK, fuseK)
    rows.foreach { r =>
      if (r.leg == 0)
        sp.update(r.doc_id, sp.getOrElse(r.doc_id, 0L) + r.c_ppm)
      else {
        dnHeap.enqueue((r.adc, r.doc_id, r.l2))
        if (dnHeap.size > adcKeep) dnHeap.dequeue()
      }
    }
    val rSparse: Map[Long, Long] = sp.iterator.toArray
      .sortBy { case (d, s) => (-s, d) }.take(fuseK)
      .iterator.zipWithIndex
      .map { case ((d, _), i) => d -> (i + 1L) }.toMap
    val dnKept: Seq[(Double, Long, Double)] = dnHeap.dequeueAll
    val rDense: Map[Long, Long] = dnKept
      .map { case (_, d, l2) => (l2, d) }
      .sorted
      .take(fuseK)
      .iterator.zipWithIndex
      .map { case ((_, d), i) => d -> (i + 1L) }.toMap
    (rSparse.keySet ++ rDense.keySet).toArray
      .map { d =>
        val rs = rSparse.getOrElse(d, 0L)
        val rd = rDense.getOrElse(d, 0L)
        val score = (if (rs > 0) 1000000000L / (60L + rs) else 0L) +
          (if (rd > 0) 1000000000L / (60L + rd) else 0L)
        (d, score, rs, rd)
      }
      .sortBy { case (d, s, _, _) => (-s, d) }
      .take(k)
      .iterator.zipWithIndex
      .map { case ((d, s, rs, rd), i) =>
        Fused(qId, d, (i + 1).toLong, s, rs, rd)
      }
  }

  /** The refined hybrid serve for a (possibly streaming) query frame
    * — the funnel w07b gates in batch, online. `vecs` is the
    * full-precision (vec_id, emb) relation the refine re-ranks
    * against (the index itself stays compressed). */
  def serveRefined(queries: DataFrame, sparseIdx: SparseIndex.Index,
      pqIdx: PqIndex.Index, vecs: DataFrame,
      refineK: Int = PqIndex.RefineK,
      nprobe: Int = graft.etl.AnnIndex.Probes,
      fuseK: Int = FuseK, k: Int = 10): Dataset[Fused] = {
    import queries.sparkSession.implicits._
    val sp = SparseIndex.contribs(
      SparseServeStream.queryTerms(queries.select("q_id", "text")),
      sparseIdx).toDF()
      .select(col("q_id"), col("doc_id"), lit(0).as("leg"),
        col("c_ppm"), lit(0.0).as("adc"), lit(0.0).as("l2"))
    val dn = PqIndex.candidatesRefined(
      queries.select("q_id", "emb", "norm"), pqIdx, vecs, nprobe)
      .toDF()
      .select(col("q_id"), col("vec_id").as("doc_id"),
        lit(1).as("leg"), lit(0L).as("c_ppm"), col("adc"), col("l2"))
    val legs = sp.unionByName(dn).as[LegR]
    if (queries.isStreaming)
      legs.groupByKey(_.q_id)
        .flatMapGroupsWithState(OutputMode.Append,
          GroupStateTimeout.NoTimeout)(stepR(refineK, fuseK, k))
    else
      legs.groupByKey(_.q_id).flatMapGroups((q, rows) =>
        stepR(refineK, fuseK, k)(q, rows, null))
  }
}
