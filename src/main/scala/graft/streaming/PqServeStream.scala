package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.etl.PqIndex

/** Streaming ANN serving against a persisted [[graft.etl.PqIndex]] —
  * the "serve a STREAM of queries" completion of the compressed
  * index's build/serve/append/delete lifecycle: queries arrive
  * continuously, the index is loaded once.
  *
  * The scan is the batch serve's own: [[graft.etl.PqIndex.candidates]]
  * (row-local probe choice over the literal coarse codebook, the
  * stream-static cluster-keyed join against cells⋈codes, the
  * literal-book ADC expression) is stateless, so it runs unchanged on
  * a streaming frame. What this module adds is the stateful form of
  * the batch fold: ONE flatMapGroupsWithState per q_id running
  * [[graft.etl.PqIndex.topK]] (or [[graft.etl.PqIndex.topKRefined]]).
  * State is never stored (a query's candidates arrive entirely within
  * its own micro-batch, because they all derive from its single input
  * row), so the store stays empty — no eviction needed.
  *
  * PqServeStreamSpec pins stream ≡ batch: the same query slice fed as
  * a file stream in arbitrary chunks serves bit-identically to
  * PqIndex.serve / serveRefined, rank for rank.
  */
object PqServeStream {

  /** Serve top-`k` ADC neighbors for a (possibly streaming) query frame
    * (q_id, emb, norm) from a loaded index. */
  def serve(queries: DataFrame, idx: PqIndex.Index,
      nprobe: Int = graft.etl.AnnIndex.Probes, k: Int = 10)
      : Dataset[PqIndex.Served] = {
    import queries.sparkSession.implicits._
    if (!queries.isStreaming)
      return PqIndex.serve(queries, idx, nprobe, k).as[PqIndex.Served]
    PqIndex.candidates(queries, idx, nprobe).groupByKey(_.q_id)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.NoTimeout)(
        (q: Long, rows: Iterator[PqIndex.Cand], _: GroupState[Int]) =>
          PqIndex.topK(k)(q, rows))
  }

  /** Two-stage serve for a (possibly streaming) query frame —
    * [[graft.etl.PqIndex.serveRefined]]'s online twin, under the same
    * `vecs` coverage precondition. */
  def serveRefined(queries: DataFrame, idx: PqIndex.Index,
      vecs: DataFrame, refineK: Int = PqIndex.RefineK,
      nprobe: Int = graft.etl.AnnIndex.Probes, k: Int = 10)
      : Dataset[PqIndex.ServedR] = {
    import queries.sparkSession.implicits._
    if (!queries.isStreaming)
      return PqIndex.serveRefined(queries, idx, vecs, refineK, nprobe, k)
        .as[PqIndex.ServedR]
    PqIndex.candidatesRefined(queries, idx, vecs, nprobe)
      .groupByKey(_.q_id)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.NoTimeout)(
        (q: Long, rows: Iterator[PqIndex.CandR], _: GroupState[Int]) =>
          PqIndex.topKRefined(refineK, k)(q, rows))
  }
}
