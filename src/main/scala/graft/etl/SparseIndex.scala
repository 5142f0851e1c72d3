package graft.etl

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.etl.Checkpoints.CutOps

/** Impact-truncated BM25 posting-list index as a BUILD / SERVE split —
  * the deploy shape of the x80 query, symmetric with the dense family's
  * [[AnnIndex]] (x79) and the MinHash family's `NearDup.writeIndex`
  * (x82). A 100 TB deployment does not re-tokenize the corpus and
  * re-truncate its posting lists inside every query batch: the index is
  * built once ([[build]]), persisted as five plain tables ([[write]]:
  * `plist` — the impact-truncated posting lists, ≤ [[ImpactCap]] rows
  * per term; `df` — FULL document frequency per term, pre-truncation,
  * so idf never drifts as lists are capped; `dl` — document length, one
  * row per doc; `stats` — the 1-row corpus card (n_docs, t_tokens);
  * `tf` — the full pre-truncation term frequencies, the un-truncation
  * source [[delete]] backfills capped lists from), and query batches
  * are served from the loaded tables ([[serve]]) with zero index work
  * in the query path. The maintenance lifecycle is complete in-family:
  * [[append]] folds a disjoint shard in, [[delete]] retracts documents,
  * and a revision is delete + append — each exact, each touching only
  * the shard's/deletion's terms.
  *
  * [[append]] is the incremental path and is EXACT, not approximate:
  * for a delta shard whose doc_ids are disjoint from the indexed corpus
  * (asserted — same precondition as `NearDup.incrementalEdges`), only
  * the delta's touched terms are re-truncated, and the result is
  * bit-identical to rebuilding from scratch. The proof is the cap's
  * monotonicity: any posting in top-cap(base ∪ delta) is either a delta
  * posting or already inside top-cap(base) — a base posting outside the
  * stored top-cap has ≥ cap base postings ahead of it in the
  * (tf desc, doc_id) impact order, so it can never re-enter. df/dl/
  * stats are plain additive unions. SparseIndexSpec pins both halves:
  * write→read→serve ≡ the inline oracle-gated path, and
  * append ≡ full rebuild on all four tables.
  *
  * Scoring ([[serve]]) is x80's EXACT integer BM25 verbatim (k1 = 1.2,
  * b = 0.75, log-free rational idf in ppm, all fractions cleared, every
  * product through DECIMAL(38,0)) — `TextOps.x80` composes
  * [[termFreqs]]/[[build]]/[[serve]] inline against its DuckDB oracle,
  * so the persisted index inherits the oracle gate without a second
  * oracle (the AnnIndex pattern).
  *
  * Scale: build cost is one tokenize scan + three keyed aggs + one
  * per-term truncation window, amortized over every serve; serve cost
  * is one term-keyed candidate join bounded ≤ cap rows per query term
  * AT ANY CORPUS SIZE (the WAND/MaxScore discipline — the uncapped join
  * was measured at 55M rows / 492 s at sf1 on this corpus's 31-token
  * stop-word vocabulary) and one per-query fold that sums by doc and
  * keeps the top-k — the same scan and fold the streaming twin
  * ([[graft.streaming.SparseServeStream]]) runs; append touches the
  * delta and the stored lists of the delta's terms only — never the
  * rest of the index.
  */
object SparseIndex {

  /** Per-term posting-list cap: keep the top-cap postings by
    * (tf desc, doc_id) — impact ordering. */
  val ImpactCap = 1000

  /** The five index tables. `df` is FULL document frequency
    * (pre-truncation); `plist` is capped; `stats` is 1 row; `tf` is the
    * FULL pre-truncation term-frequency relation — the un-truncation
    * source that makes [[delete]] exact (a deleted posting inside a
    * term's top-cap is backfilled from `tf`, which the capped `plist`
    * alone cannot do). The cap bounds SERVE cost, not storage: `tf` is
    * the same rows the build already scanned once, kept instead of
    * discarded — the standard forward-index trade for exact
    * maintenance. */
  final case class Index(plist: DataFrame, df: DataFrame,
      dl: DataFrame, stats: DataFrame, tf: DataFrame)

  /** (doc_id, tok, tf) term frequencies from a documents table —
    * the tokenizer contract shared by build, append and the query
    * side ([a-z]+ runs of lowered text). */
  def termFreqs(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"),
        explode(split(lower(col("text")), "[^a-z]+")).as("tok"))
      .filter(col("tok") =!= "")
      .groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))

  /** Truncate a tf relation to the top-[[ImpactCap]] postings per term
    * in impact order (tf desc, doc_id). */
  private[etl] def truncate(tf: DataFrame, cap: Int): DataFrame =
    tf.withColumn("prk", row_number().over(Window.partitionBy("tok")
        .orderBy(col("tf").desc, col("doc_id"))))
      .filter(col("prk") <= cap)
      .select("doc_id", "tok", "tf")

  /** Build the index from a tf relation ([[termFreqs]] output). The tf
    * input should be `.cut` by the caller when it has other consumers
    * (x80 also derives its query terms from it). */
  def build(tf: DataFrame, cap: Int = ImpactCap): Index = {
    val df = tf.groupBy("tok").agg(count(lit(1)).as("df")).cut(false)
    val dl = tf.groupBy("doc_id").agg(sum("tf").as("dl"))
    val stats = dl.agg(count(lit(1)).as("n_docs"),
      sum("dl").as("t_tokens"))
    Index(truncate(tf, cap), df, dl, stats, tf)
  }

  /** One (query, term, doc) BM25 contribution. */
  final case class Contrib(q_id: Long, doc_id: Long, c_ppm: Long)
  /** A served hit: summed contributions and the matched-term count. */
  final case class Served(q_id: Long, doc_id: Long, rank: Long,
      score_ppm: Long, n_terms: Long)

  /** Per-(query, term, doc) contributions of a query-term relation
    * (q_id, tok): term-keyed joins against `plist` (≤ cap rows per
    * term), `df` and `dl`, self-matches (doc_id = q_id) excluded —
    * x80's corpus-probe contract, a no-op for external query id
    * spaces. The 1-row corpus card `stats` is collected in one job per
    * call and bound into the scoring expressions as literals; the
    * arithmetic is x80's exact integer BM25 verbatim (all products
    * through DECIMAL(38,0), ppm fractions cleared with `div`).
    * Stateless, so a streaming qterms frame may use it too. */
  def contribs(qterms: DataFrame, idx: Index): Dataset[Contrib] = {
    import qterms.sparkSession.implicits._
    val st = idx.stats.select("n_docs", "t_tokens").collect()
    require(st.length == 1, "stats must be the 1-row corpus card")
    val nDocs = st(0).getLong(0)
    val tTokens = st(0).getLong(1)
    qterms
      .join(idx.plist, "tok")
      .filter(col("doc_id") =!= col("q_id"))
      .join(idx.df, "tok")
      .join(idx.dl, "doc_id")
      .withColumn("idf_ppm", expr(
        s"CAST((CAST(1000000 AS DECIMAL(38,0)) * (2*($nDocs - df) + 1))" +
          " div (2*df + 1) AS BIGINT)"))
      .withColumn("tfp_ppm", expr(
        s"CAST((CAST(1000000 AS DECIMAL(38,0)) * 22 * $tTokens * tf) div" +
          s" (CAST(10 AS DECIMAL(38,0)) * $tTokens * tf + 3 * $tTokens" +
          s" + 9 * dl * $nDocs) AS BIGINT)"))
      .select(col("q_id"), col("doc_id"), expr(
        "CAST((CAST(idf_ppm AS DECIMAL(38,0)) * tfp_ppm)" +
          " div 1000000 AS BIGINT)").as("c_ppm"))
      .as[Contrib]
  }

  /** Sum one query's contributions by doc in a hash map (bounded by
    * the serve candidate bound: ≤ |query terms| × cap entries) and emit
    * the top-k by (score_ppm desc, doc_id) with ranks. */
  def topK(k: Int)(qId: Long, rows: Iterator[Contrib])
      : Iterator[Served] = {
    val acc = mutable.HashMap.empty[Long, (Long, Long)]
    rows.foreach { r =>
      val (s0, n0) = acc.getOrElse(r.doc_id, (0L, 0L))
      acc.update(r.doc_id, (s0 + r.c_ppm, n0 + 1L))
    }
    acc.iterator
      .map { case (doc, (s, n)) => (doc, s, n) }
      .toArray
      .sortBy { case (doc, s, _) => (-s, doc) }
      .take(k)
      .iterator.zipWithIndex
      .map { case ((doc, s, n), i) =>
        Served(qId, doc, (i + 1).toLong, s, n)
      }
  }

  /** Serve the top-`k` BM25 hits of a query-term relation (q_id, tok):
    * [[contribs]], then one [[topK]] fold per query. Output (q_id,
    * doc_id, rank, score_ppm, n_terms), unordered. */
  def serve(qterms: DataFrame, idx: Index, k: Int = 10): DataFrame = {
    import qterms.sparkSession.implicits._
    contribs(qterms, idx).groupBy("q_id").as[Long, Contrib]
      .flatMapGroups((q, rows) => topK(k)(q, rows)).toDF()
  }

  /** Fold a delta shard into the index WITHOUT a rebuild — exact (see
    * the class doc's monotonicity argument). Precondition (asserted):
    * the delta's doc_ids are disjoint from the indexed corpus — the
    * same ingest contract `NearDup.incrementalEdges` relies on; a doc
    * revision must be handled as delete + re-append upstream. */
  def append(idx: Index, deltaTf: DataFrame,
      cap: Int = ImpactCap): Index = {
    // eager check kept on this IN-MEMORY api: the returned Index's
    // five frames each embed the delta, so an in-plan guard would be
    // duplicated per consumer (audited plan-exchange inflation); the
    // disk paths (SparseSegments.appendSeg) guard in-plan instead
    val clash = idx.dl.select("doc_id")
      .join(deltaTf.select("doc_id").distinct(), "doc_id")
      .limit(1).count()
    require(clash == 0L,
      "SparseIndex.append: delta doc_ids overlap the indexed corpus — " +
        "append is defined for disjoint shards (revise = delete + append)")
    val df2 = idx.df
      .unionByName(deltaTf.groupBy("tok").agg(count(lit(1)).as("df")))
      .groupBy("tok").agg(sum("df").as("df"))
    val dl2 = idx.dl.unionByName(
      deltaTf.groupBy("doc_id").agg(sum("tf").as("dl")))
    val stats2 = dl2.agg(count(lit(1)).as("n_docs"),
      sum("dl").as("t_tokens"))
    val touched = deltaTf.select("tok").distinct()
    val retruncated = truncate(
      idx.plist.join(touched, Seq("tok"), "left_semi")
        .unionByName(deltaTf.select("doc_id", "tok", "tf")), cap)
    val untouched = idx.plist.join(touched, Seq("tok"), "left_anti")
    Index(retruncated.unionByName(untouched), df2, dl2, stats2,
      idx.tf.unionByName(deltaTf.select("doc_id", "tok", "tf")))
  }

  /** Remove a set of documents from the index WITHOUT a rebuild —
    * EXACT: the result is bit-identical to rebuilding from scratch
    * over the corpus minus `docIds` (x96 gates this cross-engine).
    * The interesting half is the capped posting lists: a deleted
    * posting inside a term's stored top-cap leaves a hole that the
    * capped list cannot fill from itself — the term's lists are
    * re-truncated from the FULL kept `tf` relation (the un-truncation
    * source [[Index.tf]] exists for), while terms the deleted docs
    * never contained keep their stored lists untouched (same
    * touched-term split as [[append]]). `df` decrements by the deleted
    * docs' term incidence (a full recount of the kept tf, restricted
    * to touched terms, equals the decrement — terms whose df hits 0
    * drop out); `dl`/`stats` are plain anti-join/re-aggregation.
    * A document REVISION is delete + [[append]] — the upstream
    * contract both incremental paths document is now closed in-family.
    * Cost: ∝ the deleted docs' postings + a re-truncation bounded by
    * their touched terms — never the rest of the index. Deleting an
    * id absent from the corpus is a no-op. */
  def delete(idx: Index, docIds: DataFrame,
      cap: Int = ImpactCap): Index = {
    val del = docIds.select("doc_id").distinct()
    val delTf = idx.tf.join(del, Seq("doc_id"), "left_semi").cut(false)
    val touched = delTf.select("tok").distinct()
    val tf2 = idx.tf.join(del, Seq("doc_id"), "left_anti")
    val df2 = idx.df
      .join(delTf.groupBy("tok").agg(count(lit(1)).as("ddf")),
        Seq("tok"), "left")
      .select(col("tok"),
        (col("df") - coalesce(col("ddf"), lit(0L))).as("df"))
      .filter(col("df") > 0)
    val dl2 = idx.dl.join(del, Seq("doc_id"), "left_anti")
    val stats2 = dl2.agg(count(lit(1)).as("n_docs"),
      sum("dl").as("t_tokens"))
    val retruncated = truncate(
      tf2.join(touched, Seq("tok"), "left_semi"), cap)
    val untouched = idx.plist.join(touched, Seq("tok"), "left_anti")
    Index(retruncated.unionByName(untouched), df2, dl2, stats2, tf2)
  }

  /** Persist the five index tables under `dir`. */
  def write(idx: Index, dir: String): Unit =
    graft.sources.Sources.writeOrdered(
      Seq("plist" -> idx.plist, "df" -> idx.df, "dl" -> idx.dl,
        "stats" -> idx.stats, "tf" -> idx.tf), dir)

  /** Load a persisted index. */
  def read(s: SparkSession, dir: String): Index =
    Index(SegmentOps.readKnown(s, s"$dir/plist"),
      SegmentOps.readKnown(s, s"$dir/df"),
      SegmentOps.readKnown(s, s"$dir/dl"),
      SegmentOps.readKnown(s, s"$dir/stats"),
      SegmentOps.readKnown(s, s"$dir/tf"))
}
