package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.etl.SparseIndex

/** Streaming BM25 serving against a persisted [[graft.etl.SparseIndex]]
  * — the sparse-family twin of [[PqServeStream]]: both retrieval
  * families have a build/serve/append/delete lifecycle AND a "serve a
  * STREAM of queries" form (queries arrive continuously, the index is
  * loaded once — what a retrieval endpoint actually runs).
  *
  * The scan is the batch serve's own: [[graft.etl.SparseIndex.contribs]]
  * (stream-static term-keyed joins against `plist` — ≤ cap rows per
  * term AT ANY CORPUS SIZE — then `df` and `dl`, with the 1-row corpus
  * card bound as literals) is stateless, so it runs unchanged on a
  * streaming frame. Query tokenization ([[queryTerms]]) is row-local
  * under the same token contract as
  * [[graft.etl.SparseIndex.termFreqs]] (the spec asserts it). What
  * this module adds is the stateful form of the batch fold: ONE
  * flatMapGroupsWithState per q_id running
  * [[graft.etl.SparseIndex.topK]]. State is never stored (a query's
  * candidates arrive entirely within its own micro-batch, because they
  * all derive from its input rows via stream-static joins), so the
  * store stays empty — no eviction needed and NoTimeout is the honest
  * setting.
  *
  * SparseServeStreamSpec pins stream ≡ batch: the same query-term
  * relation fed as a file stream in arbitrary chunks serves
  * bit-identically to SparseIndex.serve — which x80/x98 gate
  * cross-engine — rank for rank.
  */
object SparseServeStream {

  /** Row-local query tokenization: each query row's DISTINCT terms,
    * under the index's token contract ([a-z]+ runs of lowered text).
    * `array_distinct` keeps the dedup inside the row — no shuffle —
    * and matches the distinct-tok set `termFreqs` would emit for the
    * same text. */
  def queryTerms(queries: DataFrame): DataFrame =
    queries
      .select(col("q_id"),
        explode(array_distinct(split(lower(col("text")), "[^a-z]+")))
          .as("tok"))
      .filter(col("tok") =!= "")

  /** Serve top-`k` BM25 hits for a (possibly streaming) query-term
    * frame (q_id, tok) from a loaded index. */
  def serve(qterms: DataFrame, idx: SparseIndex.Index, k: Int = 10)
      : Dataset[SparseIndex.Served] = {
    import qterms.sparkSession.implicits._
    if (!qterms.isStreaming)
      return SparseIndex.serve(qterms, idx, k).as[SparseIndex.Served]
    SparseIndex.contribs(qterms, idx).groupByKey(_.q_id)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.NoTimeout)(
        (q: Long, rows: Iterator[SparseIndex.Contrib],
          _: GroupState[Int]) => SparseIndex.topK(k)(q, rows))
  }
}
