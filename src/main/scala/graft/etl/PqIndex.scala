package graft.etl

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession, functions}
import org.apache.spark.sql.functions._

import graft.etl.Checkpoints.CutOps
import graft.functions.DotProduct

/** IVFPQ index as a BUILD / SERVE split — the compressed persisted
  * layout of the dense family, completing the trilogy next to
  * [[AnnIndex]] (IVF-flat: full vectors in the posting lists) and the
  * x97 query that gates the composed serve cross-engine. A 100 TB ANN
  * deployment does not store 64 doubles per vector: it stores the
  * coarse cell (from [[AnnIndex]]'s trained codebook) plus [[Sub]]
  * byte-sized PQ codes, and serves queries by asymmetric distances
  * over ONLY the probed cells' code rows — the layout every
  * production vector index (FAISS-style IVFADC) actually ships.
  *
  * Stored tables ([[write]]): `coarse` (≤ [[AnnIndex.K]] rows),
  * `book0..book3` (8-row PQ codebooks per subspace), and `codes` —
  * the IVF inverted lists: one row per vector, (vec_id, cluster,
  * code0..code3), its coarse cell beside its [[Sub]] code ids. The
  * compressed corpus is stored in the shape the serve scans, so a
  * probe joins it on `cluster` directly — no vec_id → cell join and
  * no corpus-sized hashed relation at serve time; full-precision
  * vectors never touch the serve path.
  *
  * All kernels are the gated x18/x58/x95/x97 chains verbatim: hash-
  * spread seeds + exact-decimal Lloyd means (bit-identical codebooks
  * cross-engine), squared-L2 argmin encoding tie-broken on c_id, probe
  * ranking and ADC ranking tie-broken on id. `DedupSim.x58/x95/x97`
  * compose [[subspace]]/[[build]]/[[serve]] inline against their
  * DuckDB oracles, so the persisted index inherits the oracle gates
  * without a second oracle (the AnnIndex/SparseIndex pattern);
  * PqIndexSpec proves write→read→serve ≡ inline plus the maintenance
  * contracts.
  *
  * Maintenance is complete in-family and mirrors the other three
  * persisted indexes: [[append]] encodes a disjoint shard against the
  * FROZEN coarse + PQ codebooks (assignment/encoding are per-row, so
  * append is exactly the frozen-codebook encode of the new rows —
  * codebooks drift only at the next offline rebuild, the standard IVF
  * trade), and [[delete]] retracts vectors by keyed anti-join (exact
  * by the same row-locality; a revision is delete + append). The
  * shard encode ([[encodeShard]]) binds the frozen codebooks as
  * literals, as a serve does, so it is one projection over the
  * shard's rows: no join and no shuffle.
  *
  * Scale: build is the two trainings (bounded codebooks, broadcast-
  * safe forever) + per-row encodes, its code rows cut once so every
  * consumer scans rows instead of re-running the trainings;
  * append/delete touch only the shard's rows. Serve is ONE scan,
  * shared by every serve form here
  * and by the streaming twins ([[graft.streaming.PqServeStream]],
  * [[graft.streaming.FusedServeStream]]): the coarse codebook and
  * the PQ books (≤ 16 + 4×8 rows by construction) are collected in
  * one job per call and bound as literals, so probe choice is
  * row-local and ADC scoring is expression-only; one cluster-keyed
  * join of the probes against `codes` brings nprobe/K of the corpus'
  * CODE rows (4 small ints each, not 64 doubles); one bounded-heap
  * fold per query emits the top-k.
  */
object PqIndex {

  /** 4 subspaces × 16 dims × 8-entry codebooks over 64-dim vectors. */
  val Sub = 4
  val Dims = 16
  val K = 8

  /** The IVFPQ index: trained coarse codebook, per-subspace PQ
    * codebooks, and the per-vector code rows (vec_id, cluster,
    * code0..code3) — the inverted lists. */
  final case class Index(coarse: DataFrame, books: Seq[DataFrame],
      codes: DataFrame)

  /** (vec_id, v, vv) slice of subspace `i` from an (vec_id, emb, ...)
    * relation — the shared slicing contract of build, append and the
    * query-side LUTs. */
  def slice(e: DataFrame, i: Int): DataFrame =
    e.select(col("vec_id"),
      expr(s"slice(emb, ${Dims * i + 1}, $Dims)").as("v"))
      .withColumn("vv", DotProduct(col("v"), col("v")))

  /** Frozen-book encode of a slice relation: nearest code by exact
    * squared L2 (vv − 2·dot + cc through the DotProduct fold), ties on
    * c_id — per-row, zero shuffle past the 8-row broadcast. */
  def encode(es: DataFrame, book: DataFrame): DataFrame =
    es.crossJoin(broadcast(book))
      .withColumn("dist", col("vv") -
        lit(2.0) * DotProduct(col("v"), col("c_v")) + col("c_vv"))
      .groupBy(col("vec_id"))
      .agg(min_by(struct(col("v").as("v"), col("c_id").as("c_id"),
        col("dist").as("dist")),
        struct(col("dist"), col("c_id"))).as("b"))
      .select(col("vec_id"), col("b.v").as("v"),
        col("b.c_id").as("cluster"), col("b.dist").as("dist"))

  /** Train subspace `i`'s 8-entry codebook — hash-spread seeds refined
    * by ONE exact-decimal Lloyd step (x58's chain verbatim) — and
    * encode the corpus against it.
    * Returns (codes_i(vec_id, code_i, err_i), book(c_id, c_v, c_vv)). */
  def subspace(e: DataFrame, i: Int): (DataFrame, DataFrame) = {
    val es = slice(e, i).cut(false) // seeds + Lloyd assign + code assign
    val seeds = es
      .orderBy(((col("vec_id") % 2147483648L) * 2654435761L)
        % 1000000007L, col("vec_id"))
      .limit(K)
      .select(col("vec_id").as("c_id"), col("v").as("c_v"),
        col("vv").as("c_vv"))
    val cb1 = encode(es, seeds)
      .select(col("cluster"), posexplode(col("v")).as(Seq("dim", "x")))
      .groupBy(col("cluster"), col("dim"))
      .agg((sum(col("x").cast("decimal(18,6)")).cast("double") /
        count(lit(1)).cast("double")).as("coord"))
      .groupBy(col("cluster"))
      .agg(expr("transform(array_sort(collect_list(struct(dim, coord)" +
        ")), s -> s.coord)").as("c_v"))
      .select(col("cluster").as("c_id"), col("c_v"))
      .withColumn("c_vv", DotProduct(col("c_v"), col("c_v")))
      // ≤8 rows; cut so the trained-codebook subtree plans once per
      // consumer (x95/x97 read it twice: code assignment + query LUTs)
      .cut(false)
    (encode(es, cb1)
      .select(col("vec_id"), col("cluster").as(s"code$i"),
        col("dist").as(s"err$i")), cb1)
  }

  /** Build the full IVFPQ index over an [[AnnIndex.prep]]-shaped
    * relation (vec_id, emb, norm). */
  def build(e: DataFrame): Index = {
    val coarse = AnnIndex.train(e).cut(false) // assignment + every probe
    val subs = (0 until Sub).map(i => subspace(e, i))
    // cut: the code rows embed both trainings and the cell assignment,
    // and a consumer that reads only vec_ids (append's disjointness
    // check, a census) must not re-run them
    val codes = subs.zipWithIndex
      .map { case ((c, _), i) => c.select(col("vec_id"), col(s"code$i")) }
      .foldLeft(AnnIndex.assign(e, coarse).select("vec_id", "cluster"))(
        (a, b) => a.join(b, Seq("vec_id")))
      .cut(false)
    Index(coarse, subs.map(_._2), codes)
  }

  /** One scanned (query, code row) pair and its ADC score. */
  final case class Cand(q_id: Long, vec_id: Long, adc: Double)
  /** A served neighbor; `n_scanned` is the exact per-query count of
    * code rows scored — the cost column the IVF-vs-flat trade is
    * measured in. */
  final case class Served(q_id: Long, vec_id: Long, rank: Long,
      adc: Double, n_scanned: Long)
  /** [[Cand]] plus the exact squared L2 the refine tail ranks by. */
  final case class CandR(q_id: Long, vec_id: Long, adc: Double,
      l2: Double)
  final case class ServedR(q_id: Long, vec_id: Long, rank: Long,
      l2: Double, n_scanned: Long)

  /** A trained codebook row on the driver: (c_id, centroid, norm or
    * squared norm). */
  type Centroid = (Long, Seq[Double], Double)

  /** Driver-side snapshot of the frozen trained artifacts — the coarse
    * codebook (empty unless asked for) and the [[Sub]] PQ books — in
    * ONE job: the ≤ [[AnnIndex.K]] + [[Sub]]×[[K]] rows are tagged by
    * table and collected as one union. Taken per serve call, never
    * cached across calls, so a serve always scores with the books of
    * the index it is given. */
  private def bind(idx: Index, withCoarse: Boolean)
      : (Seq[Centroid], Seq[Seq[Centroid]]) = {
    val coarse = idx.coarse.select(lit(-1).as("t"),
      col("c_id").cast("long"), col("c_emb"), col("c_norm"))
    val books = idx.books.zipWithIndex.map { case (b, i) =>
      b.select(lit(i).as("t"), col("c_id").cast("long"), col("c_v"),
        col("c_vv"))
    }
    val rows = ((if (withCoarse) Seq(coarse) else Nil) ++ books)
      .reduce(_ union _).collect()
      .map(r => r.getInt(0) -> ((r.getLong(1),
        r.getSeq[Double](2).toSeq, r.getDouble(3)): Centroid))
    val byTable = rows.groupBy(_._1).map { case (t, rs) =>
      t -> rs.map(_._2).toSeq.sortBy(_._1) }
    val c = byTable.getOrElse(-1, Nil)
    require(!withCoarse || (c.nonEmpty && c.length <= AnnIndex.K),
      s"coarse codebook must be 1..${AnnIndex.K} rows")
    (c, (0 until Sub).map(i => byTable.getOrElse(i, Nil)))
  }

  /** A row's (dist, c_id) to every entry of a literal codebook, in
    * (dist asc, c_id) order — the ranking of [[AnnIndex.assign]] and
    * [[encode]], computed row-locally by one array sort. */
  private def ranked(book: Seq[Centroid])(dist: Centroid => Column)
      : Column =
    sort_array(array(book.map(c =>
      struct(dist(c).as("dist"), lit(c._1).as("c_id"))): _*))

  /** Cosine distance of the row's (emb, norm) to a coarse centroid —
    * [[AnnIndex.assign]]'s expression with the centroid as literals. */
  private def coarseDist(c: Centroid): Column =
    lit(1.0) - DotProduct(col("emb"), typedLit(c._2)) /
      (col("norm") * lit(c._3))

  /** Row-local probe choice: each query row ranks its distances to the
    * literal coarse centroids and explodes its `nprobe` nearest cells
    * — zero shuffle. */
  private def probe(queries: DataFrame, coarse: Seq[Centroid],
      nprobe: Int): DataFrame =
    queries
      .withColumn("probe", explode(functions.slice(
        ranked(coarse)(coarseDist), 1, nprobe)))
      .select(col("q_id"), col("emb"), col("probe.c_id").as("cluster"))

  /** The one scan behind every serve: probed (q_id, cluster, ...)
    * rows join the stored inverted lists `codes` on `cluster` — only
    * probed cells' CODE rows flow, never full-precision vectors —
    * self-matches dropped. */
  private def scan(probed: DataFrame, idx: Index): DataFrame =
    probed
      .join(idx.codes, Seq("cluster"))
      .filter(col("vec_id") =!= col("q_id"))

  /** ADC of a scanned row (query `emb`, codes `code0..`): per subspace
    * qvv − 2·dot(qv, c_v(code)) + c_vv(code), the code's centroid
    * looked up in a literal 8-entry map, summed in subspace order. */
  private def adc(books: Seq[Seq[Centroid]]): Column =
    books.zipWithIndex.map { case (book, i) =>
      val qv = expr(s"slice(emb, ${Dims * i + 1}, $Dims)")
      val cv = typedLit(book.map(b => b._1 -> b._2).toMap)
      val cvv = typedLit(book.map(b => b._1 -> b._3).toMap)
      DotProduct(qv, qv) -
        lit(2.0) * DotProduct(qv, element_at(cv, col(s"code$i"))) +
        element_at(cvv, col(s"code$i"))
    }.reduce(_ + _)

  /** Every scanned (query, candidate) pair with its ADC score for
    * `queries`(q_id, emb, norm) — stateless, so a streaming query frame
    * may use it too. */
  def candidates(queries: DataFrame, idx: Index,
      nprobe: Int = AnnIndex.Probes): Dataset[Cand] = {
    import queries.sparkSession.implicits._
    val (coarse, books) = bind(idx, withCoarse = true)
    scan(probe(queries, coarse, nprobe), idx)
      .select(col("q_id"), col("vec_id"), adc(books).as("adc")).as[Cand]
  }

  /** Bounded top-k fold over one query's candidates: keep the k
    * smallest (adc, vec_id) in a max-heap, count everything scanned —
    * O(k) memory per query, one pass. */
  def topK(k: Int)(qId: Long, rows: Iterator[Cand]): Iterator[Served] = {
    val heap = mutable.PriorityQueue.empty[(Double, Long)]
    var n = 0L
    rows.foreach { r =>
      n += 1
      heap.enqueue((r.adc, r.vec_id))
      if (heap.size > k) heap.dequeue()
    }
    heap.dequeueAll[(Double, Long)].reverse.iterator.zipWithIndex.map {
      case ((adc, vid), i) => Served(qId, vid, (i + 1).toLong, adc, n)
    }
  }

  private def fold(cand: Dataset[Cand], k: Int): DataFrame = {
    import cand.sparkSession.implicits._
    cand.groupBy("q_id").as[Long, Cand]
      .flatMapGroups((q, rows) => topK(k)(q, rows)).toDF()
  }

  /** Serve top-`k` ADC neighbors for `queries`(q_id, emb, norm): the
    * `nprobe` nearest coarse cells per query (row-local, over the
    * literal coarse codebook), the probed cells' code rows scored by
    * the literal-book ADC expression, and one top-k fold per query.
    * Self-matches excluded. Output (q_id, vec_id, rank, adc,
    * n_scanned) — see [[Served]]. */
  def serve(queries: DataFrame, idx: Index,
      nprobe: Int = AnnIndex.Probes, k: Int = 10): DataFrame =
    fold(candidates(queries, idx, nprobe), k)

  /** [[serve]] behind an EXPLICIT (q_id, cluster) probe relation —
    * [[serve]]'s fixed-nprobe choice is one producer; adaptive
    * policies (x103's distance-ratio cut) are another. Same scan, same
    * ADC, same fold. */
  def serveWithProbes(queries: DataFrame, idx: Index,
      probes: DataFrame, k: Int = 10): DataFrame = {
    import queries.sparkSession.implicits._
    val (_, books) = bind(idx, withCoarse = false)
    // the query join comes last, so the fold reuses its q_id
    // partitioning
    fold(scan(probes.select("q_id", "cluster"), idx)
      .join(queries.select("q_id", "emb"), "q_id")
      .select(col("q_id"), col("vec_id"), adc(books).as("adc")).as[Cand],
      k)
  }

  /** Refine-tail width promoted by x104's measured card (sf1): k'=50
    * lifts recall@10 81.3% → 92.1% (the nprobe=4 ceiling — k'=100
    * buys nothing more) and top-1 to 100% for 50 exact rows per
    * query, 1% of the ADC scan. */
  val RefineK = 50

  /** [[candidates]] plus each scanned row's exact squared L2 against
    * `vecs` (vec_id, emb — the relation the codes were built from; the
    * index itself stays compressed), joined on vec_id over the
    * cluster-pruned scan. The exact L2 rides along every scanned row so
    * that ONE fold can both cut the ADC top-k' and re-rank it.
    *
    * PRECONDITION: `vecs` must cover every indexed vec_id. The inner
    * join runs before the fold, so a scanned candidate missing from
    * `vecs` is dropped before the ADC cut (the next candidate silently
    * promotes) and excluded from n_scanned. Validate coverage
    * upstream. */
  def candidatesRefined(queries: DataFrame, idx: Index,
      vecs: DataFrame, nprobe: Int = AnnIndex.Probes): Dataset[CandR] = {
    import queries.sparkSession.implicits._
    val (coarse, books) = bind(idx, withCoarse = true)
    scan(probe(queries, coarse, nprobe), idx)
      .join(vecs.select(col("vec_id"), col("emb").as("d_emb")),
        Seq("vec_id"))
      .select(col("q_id"), col("vec_id"), adc(books).as("adc"),
        (DotProduct(col("d_emb"), col("d_emb")) -
          lit(2.0) * DotProduct(col("d_emb"), col("emb")) +
          DotProduct(col("emb"), col("emb"))).as("l2"))
      .as[CandR]
  }

  /** Two-stage fold over one query's candidates: the ADC
    * top-max(refineK, k) by (adc, vec_id) in a max-heap, then those
    * re-ranked by (l2, vec_id), top-`k` out. O(refineK) memory per
    * query. */
  def topKRefined(refineK: Int, k: Int)(qId: Long,
      rows: Iterator[CandR]): Iterator[ServedR] = {
    val keep = math.max(refineK, k)
    val heap = mutable.PriorityQueue.empty[(Double, Long, Double)](
      Ordering.by[(Double, Long, Double), (Double, Long)](t =>
        (t._1, t._2)))
    var n = 0L
    rows.foreach { r =>
      n += 1
      heap.enqueue((r.adc, r.vec_id, r.l2))
      if (heap.size > keep) heap.dequeue()
    }
    heap.dequeueAll[(Double, Long, Double)]
      .map { case (_, vid, l2) => (l2, vid) }.sorted
      .take(k).iterator.zipWithIndex.map { case ((l2, vid), i) =>
        ServedR(qId, vid, (i + 1).toLong, l2, n)
      }
  }

  /** Two-stage serve — [[serve]]'s ADC scan plus the standard exact
    * REFINE tail (FAISS-style): the top-`refineK` ADC candidates are
    * re-ranked by exact squared L2 against the full-precision vectors
    * in `vecs` (see [[candidatesRefined]] and its coverage
    * precondition), then cut to `k`. x104's card prices the k'
    * choice; PqIndexSpec pins refine(corpus-wide k') ≡ exact brute
    * force and refined recall ≥ plain ADC recall. Output mirrors
    * [[serve]] with `l2` in place of `adc`. */
  def serveRefined(queries: DataFrame, idx: Index, vecs: DataFrame,
      refineK: Int = RefineK, nprobe: Int = AnnIndex.Probes,
      k: Int = 10): DataFrame = {
    val cand = candidatesRefined(queries, idx, vecs, nprobe)
    import cand.sparkSession.implicits._
    cand.groupBy("q_id").as[Long, CandR]
      .flatMapGroups((q, rows) => topKRefined(refineK, k)(q, rows)).toDF()
  }

  /** Fold a disjoint shard in WITHOUT retraining: assignment against
    * the frozen coarse codebook + encoding against the frozen PQ
    * codebooks — per-row operations, so the result is exactly the
    * frozen-codebook encode of the new rows (PqIndexSpec pins base-row
    * stability and delta exactness). Precondition (asserted): the
    * shard's vec_ids are disjoint from the indexed corpus — the
    * family-wide ingest contract; a revision is [[delete]] + append. */
  def append(idx: Index, eNew: DataFrame): Index = {
    // Eager check kept on this IN-MEMORY api (the returned Index's frames
    // each embed the shard — an in-plan guard would duplicate per
    // consumer); the disk path (PqSegments.appendSeg) guards in-plan.
    val clash = idx.codes.select("vec_id")
      .join(eNew.select("vec_id").distinct(), "vec_id")
      .limit(1).count()
    require(clash == 0L,
      "PqIndex.append: shard vec_ids overlap the indexed corpus — " +
        "append is defined for disjoint shards (revise = delete + append)")
    Index(idx.coarse, idx.books,
      idx.codes.unionByName(encodeShard(idx, eNew)))
  }

  /** Frozen-codebook encode of a shard into code rows (vec_id, cluster,
    * code0..code3) — the per-row kernel [[append]] folds in and
    * [[graft.etl.PqSegments]] persists as an O(delta) segment. The
    * frozen codebooks are bound as literals ([[bind]], one job), so
    * the cell and every code are row-local expressions: the coarse
    * cell by [[AnnIndex.assign]]'s cosine distance, code i by
    * [[encode]]'s squared L2, both tie-broken on c_id — the same
    * arithmetic on the same operands, so the same rows. */
  def encodeShard(idx: Index, eNew: DataFrame): DataFrame = {
    val (coarse, books) = bind(idx, withCoarse = true)
    def nearest(book: Seq[Centroid])(dist: Centroid => Column): Column =
      element_at(ranked(book)(dist), 1).getField("c_id")
    // each subspace slice and its squared norm once per row, not once
    // per codebook entry
    val sliced = (0 until Sub).foldLeft(eNew) { (df, i) =>
      df.withColumn(s"v$i", expr(s"slice(emb, ${Dims * i + 1}, $Dims)"))
        .withColumn(s"vv$i", DotProduct(col(s"v$i"), col(s"v$i")))
    }
    val codes = books.zipWithIndex.map { case (book, i) =>
      nearest(book)(c => col(s"vv$i") -
        lit(2.0) * DotProduct(col(s"v$i"), typedLit(c._2)) + lit(c._3))
        .as(s"code$i")
    }
    sliced.select(col("vec_id") +:
      nearest(coarse)(coarseDist).as("cluster") +: codes: _*)
  }

  /** Retract vectors — one keyed anti-join on `codes`, exact by
    * row-locality under the frozen codebooks (the same argument as
    * [[AnnIndex.delete]]; serve over the deleted index ≡ serve over a
    * frozen-codebook encode of the remaining corpus). Deleting an
    * absent id is a no-op. */
  def delete(idx: Index, vecIds: DataFrame): Index =
    idx.copy(codes = idx.codes.join(vecIds.select("vec_id").distinct(),
      Seq("vec_id"), "left_anti"))

  /** The 2 + [[Sub]] index tables by name. */
  private[etl] def tables(idx: Index): Seq[(String, DataFrame)] =
    Seq("coarse" -> idx.coarse, "codes" -> idx.codes) ++
      (0 until Sub).map(i => s"book$i" -> idx.books(i))

  /** Persist the 2 + [[Sub]] index tables under `dir`. */
  def write(idx: Index, dir: String): Unit =
    graft.sources.Sources.writeOrdered(tables(idx), dir)

  /** Load a persisted index. */
  def read(s: SparkSession, dir: String): Index =
    Index(SegmentOps.readKnown(s, s"$dir/coarse"),
      (0 until Sub).map(i => SegmentOps.readKnown(s, s"$dir/book$i")),
      SegmentOps.readKnown(s, s"$dir/codes"))
}
