package graft.queries

import graft.{QueryDef, Tables}
import graft.functions.DotProduct
import graft.etl.Checkpoints.CutOps
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Large-scale training-data pipeline operators: deduplication (exact,
  * MinHash+LSH, n-gram Jaccard) and embedding similarity search.
  *
  * Scale design:
  *  - exact dedup = one hash shuffle on the dedup key (map-side partial agg);
  *  - MinHash+LSH = signatures computed per-row (no shuffle), then ONE
  *    shuffle on (band, band_key) — candidate pairs only, never the O(n²)
  *    cross join;
  *  - n-gram Jaccard runs on LSH/sampled candidates, not all pairs;
  *  - KNN brute force broadcasts the (small) query set against the corpus —
  *    embarrassingly parallel, no shuffle until the per-query top-k.
  *
  * All hashes are explicit arithmetic (polynomial-mod), so the DuckDB
  * oracle can reproduce them bit-for-bit; at 100 TB you would swap the
  * per-char lambda for `xxhash64` (same plan shape, faster kernel).
  */
object DedupSim {

  // ---------------------------------------------------------------------
  // Shared shingling fragments (word 3-gram shingles + polynomial hash)
  // ---------------------------------------------------------------------
  /** Spark SQL: distinct word-3-gram shingles of `text` (0-based idx).
    * Defined in the [[graft.etl.NearDup]] library module; aliased here
    * so the oracle fragments below stay next to their Spark twins. */
  private val sparkShingles = graft.etl.NearDup.shingleSql

  /** DuckDB: same shingles (1-based idx). */
  private val duckShingles =
    """list_distinct(list_transform(
      |  generate_series(1, len(string_split(text, ' ')) - 2),
      |  i -> concat_ws(' ', string_split(text, ' ')[i],
      |       string_split(text, ' ')[i+1], string_split(text, ' ')[i+2])))"""
      .stripMargin.replace("\n", " ")

  private def duckHashes(shingles: String) =
    s"""list_transform($shingles, sh -> list_reduce(
       |  list_prepend(CAST(0 AS BIGINT),
       |    list_transform(list_filter(string_split(sh, ''), ch -> ch <> ''),
       |      ch -> CAST(unicode(ch) AS BIGINT))),
       |  (acc, c) -> (acc * 31 + c) % 1000000007))"""
      .stripMargin.replace("\n", " ")

  /** MinHash permutation constants — see [[graft.etl.NearDup.A]] for
    * the large-multiplier rationale (x51's bias postmortem). Aliased
    * so [[duckMinhashCtes]] interpolates the SAME family the library
    * computes with. */
  private val A = graft.etl.NearDup.A
  private val B = graft.etl.NearDup.B
  private val P = graft.etl.NearDup.P

  // ---------------------------------------------------------------------
  // X1 — exact deduplication: hash-groupBy on a normalized key, keep the
  // smallest id as canonical (deterministic survivor, not dropDuplicates'
  // arbitrary one). One shuffle; map-side combine does the heavy lifting.
  // ---------------------------------------------------------------------
  private def x01(s: SparkSession, d: String): DataFrame = {
    Tables.documents(s, d)
      .withColumn("dedup_key", substring(col("text"), 1, 40))
      .groupBy(col("dedup_key"))
      .agg(min(col("doc_id")).as("canonical_id"),
           count(lit(1)).as("n_copies"))
      .orderBy("canonical_id")
  }
  private val x01Sql =
    """SELECT substring(text, 1, 40) AS dedup_key,
      |  MIN(doc_id) AS canonical_id, COUNT(*) AS n_copies
      |FROM documents GROUP BY 1 ORDER BY canonical_id""".stripMargin

  // ---------------------------------------------------------------------
  // X2 — MinHash + LSH near-duplicate candidates.
  // Corpus = documents ∪ planted near-dups (text + 3-word suffix), so the
  // pipeline provably surfaces them. Signature k=16; 4 bands × 4 rows;
  // candidates = pairs sharing any band. est_jaccard = sig agreement / 16.
  // ---------------------------------------------------------------------
  private[queries] def minhashCorpus(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select("doc_id", "text")
    // plant near-duplicates for every 10th doc
    val dups = docs.filter(col("doc_id") % 10 === 0)
      .select((col("doc_id") + 1000000L).as("doc_id"),
        concat(col("text"), lit(" planted near duplicate")).as("text"))
    docs.unionByName(dups)
  }

  /** k=16 MinHash signatures — [[graft.etl.NearDup.signaturesFromHashes]];
    * shared by x02 (candidates) and x51 (error audit), so the two
    * always see the SAME signature family. */
  private def minhashSigs(sh: DataFrame): DataFrame =
    graft.etl.NearDup.signaturesFromHashes(sh)

  /** 4-band × 4-row LSH candidate pairs —
    * [[graft.etl.NearDup.candidates]]. */
  private def lshCandidates(sigs: DataFrame): DataFrame =
    graft.etl.NearDup.candidates(sigs)

  /** The matching DuckDB CTE chain (`sigs`, `bands`, `keyed`, `cand`)
    * over a `corpus`(doc_id, text) CTE already in scope — the SQL
    * twin of [[minhashSigs]] + [[lshCandidates]], shared by the x02
    * and x51 oracles. */
  private def duckMinhashCtes: String = {
    // Signatures as 16 relational MIN aggregates over the unnested
    // (doc_id, h) rows — the same formulation as the Spark side, and
    // crucially the interpreted per-character hash fold runs ONCE (in
    // `sh`), not again inside a per-slot lambda: the lambda form made
    // the x51 oracle intractable at sf1 (>70 CPU-min; this one
    // finishes in minutes). Same values — min over a list vs min
    // aggregate over its rows.
    val mins = (0 until 16).map(j =>
      s"CAST(MIN((${A(j)} * h + ${B(j)}) % $P) AS BIGINT)")
    s"""sh AS (
       |  SELECT doc_id, unnest(${duckHashes(duckShingles)}) AS h
       |  FROM corpus WHERE len(string_split(text, ' ')) >= 3),
       |sigs AS (
       |  SELECT doc_id, [
       |    ${mins.mkString(",\n       |    ")}
       |  ] AS sig
       |  FROM sh GROUP BY doc_id),
       |bands AS (
       |  SELECT doc_id, sig, unnest([0, 1, 2, 3]) AS band FROM sigs),
       |keyed AS (
       |  SELECT doc_id, band, concat_ws('_', sig[4*band + 1],
       |    sig[4*band + 2], sig[4*band + 3], sig[4*band + 4]) AS band_key
       |  FROM bands),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM keyed a JOIN keyed b
       |    ON a.band = b.band AND a.band_key = b.band_key
       |    AND a.doc_id < b.doc_id)""".stripMargin
  }

  /** [[sigPairs]] is the shared kernel (the [[graft.etl.NearDup]]
    * library applied to the planted-dup corpus): every LSH candidate
    * pair with its signature-agreement count. x02 reports it;
    * [[neardupEdges]] thresholds it into a verified edge relation for
    * w05's funnel — so all MinHash consumers (x02, x51, w05) see the
    * SAME signature family and candidate generator. See NearDup's
    * scaladoc for the relational-formulation rationale. */
  private[queries] def sigPairs(s: SparkSession, d: String): DataFrame =
    graft.etl.NearDup.sigPairs(Tables.fanout(minhashCorpus(s, d)))

  /** Signature-agreement threshold for a VERIFIED near-dup edge:
    * ≥ 12 of 16 slots ⇒ estimated Jaccard ≥ 0.75. */
  private[queries] val NeardupMinSig = graft.etl.NearDup.DefaultMinSig

  /** Verified near-duplicate edge relation (doc_a, doc_b) — the x02
    * candidates hardened by the [[NeardupMinSig]] agreement gate.
    * Input to w05's connected-components clustering. */
  private[queries] def neardupEdges(s: SparkSession, d: String): DataFrame =
    graft.etl.NearDup.edges(Tables.fanout(minhashCorpus(s, d)))

  private def x02(s: SparkSession, d: String): DataFrame =
    sigPairs(s, d)
      .withColumn("est_jaccard",
        round(col("sig_matches").cast("double") / 16.0, 4))
      .select("doc_a", "doc_b", "sig_matches", "est_jaccard")
      .orderBy("doc_a", "doc_b")

  /** DuckDB twin of [[sigPairs]]: the x02 corpus (documents ∪ planted
    * near-dups) + [[duckMinhashCtes]] + a `sigm`(doc_a, doc_b, m) CTE
    * of candidate pairs with signature agreement. Shared by the x02
    * and w05 oracles. */
  private[queries] def duckSigPairsCtes: String =
    s"""corpus AS (
       |  SELECT doc_id, text FROM documents
       |  UNION ALL
       |  SELECT doc_id + 1000000, text || ' planted near duplicate'
       |  FROM documents WHERE doc_id % 10 = 0),
       |$duckMinhashCtes,
       |sigm AS (
       |  SELECT c.doc_a, c.doc_b,
       |    len(list_filter(list_zip(sa.sig, sb.sig),
       |        p -> p[1] = p[2])) AS m
       |  FROM cand c
       |  JOIN sigs sa ON sa.doc_id = c.doc_a
       |  JOIN sigs sb ON sb.doc_id = c.doc_b)""".stripMargin

  private def x02Sql: String =
    s"""WITH $duckSigPairsCtes
       |SELECT doc_a, doc_b, m AS sig_matches,
       |  ROUND(CAST(m AS DOUBLE) / 16.0, 4) AS est_jaccard
       |FROM sigm ORDER BY doc_a, doc_b""".stripMargin

  // ---------------------------------------------------------------------
  // X56 — LSH banding gate: the SAME k=16 signature family sliced two
  // ways over the x02 corpus — the default 4 bands × 4 rows (s-curve
  // knee J ≈ 0.71) and the recall-first 8 × 2 (knee ≈ 0.35). ONE
  // signature pass (NearDup.signatures, lazily cut) feeds both
  // bandings; the `escaped_flat` row pins the containment THEOREM —
  // a 4-row band match forces both 2-row halves to match, so every
  // 4×4 candidate must reappear under 8×2 (count 0, cell-exact in
  // both engines). This is the generality gate for NearDup.LshConfig:
  // the library's non-default configurations go through the oracle,
  // not just a unit spec.
  // Scale: signature agg once; per banding one (band, band_key)
  // shuffle + the k-column verify join — still never all-pairs. The
  // flat banding is the recall lever a curator turns when the corpus
  // has heavy paraphrase duplication; this query prices it (candidate
  // count vs verified count) before a full w05-style funnel run.
  // ---------------------------------------------------------------------
  private val FlatCfg = graft.etl.NearDup.LshConfig(8, 2, minSig = 12)

  private def x56(s: SparkSession, d: String): DataFrame = {
    val nd = graft.etl.NearDup
    val sigs = nd.signatures(Tables.fanout(minhashCorpus(s, d))).cut(false)
    val c44 = nd.candidates(sigs, nd.DefaultConfig).cut(false)
    val c82 = nd.candidates(sigs, FlatCfg).cut(false)
    def row(banding: String, metric: String, df: DataFrame): DataFrame =
      df.agg(count(lit(1)).as("n"))
        .select(lit(banding).as("banding"), lit(metric).as("metric"),
          col("n"))
    def verified(cand: DataFrame, minSig: Int): DataFrame =
      nd.agreementOf(sigs, cand).filter(col("sig_matches") >= minSig)
    row("4x4", "candidates", c44)
      .unionByName(row("4x4", "escaped_flat",
        c44.join(c82, Seq("doc_a", "doc_b"), "left_anti")))
      .unionByName(row("4x4", "verified",
        verified(c44, nd.DefaultConfig.minSig)))
      .unionByName(row("8x2", "candidates", c82))
      .unionByName(row("8x2", "verified", verified(c82, FlatCfg.minSig)))
      .orderBy("banding", "metric")
  }

  /** DuckDB banded-candidate CTE fragment for `bands`×`rows` over the
    * shared `sigs` CTE, names suffixed with `tag`. */
  private def duckBandCtes(bands: Int, rows: Int, tag: String): String = {
    val keyCols = (1 to rows).map(r => s"sig[$rows*band + $r]")
      .mkString(", ")
    s"""bands$tag AS (
       |  SELECT doc_id, sig, unnest([${(0 until bands).mkString(", ")}])
       |    AS band FROM sigs),
       |keyed$tag AS (
       |  SELECT doc_id, band, concat_ws('_', $keyCols) AS band_key
       |  FROM bands$tag),
       |cand$tag AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM keyed$tag a JOIN keyed$tag b
       |    ON a.band = b.band AND a.band_key = b.band_key
       |    AND a.doc_id < b.doc_id),
       |sigm$tag AS (
       |  SELECT c.doc_a, c.doc_b,
       |    len(list_filter(list_zip(sa.sig, sb.sig),
       |        p -> p[1] = p[2])) AS m
       |  FROM cand$tag c
       |  JOIN sigs sa ON sa.doc_id = c.doc_a
       |  JOIN sigs sb ON sb.doc_id = c.doc_b)""".stripMargin
  }

  private def x56Sql: String =
    s"""WITH corpus AS (
       |  SELECT doc_id, text FROM documents
       |  UNION ALL
       |  SELECT doc_id + 1000000, text || ' planted near duplicate'
       |  FROM documents WHERE doc_id % 10 = 0),
       |$duckMinhashCtes,
       |${duckBandCtes(4, 4, "44")},
       |${duckBandCtes(8, 2, "82")}
       |SELECT * FROM (
       |  SELECT '4x4' AS banding, 'candidates' AS metric,
       |    CAST(COUNT(*) AS BIGINT) AS n FROM cand44
       |  UNION ALL
       |  SELECT '4x4', 'escaped_flat', CAST(COUNT(*) AS BIGINT)
       |  FROM cand44 c LEFT JOIN cand82 f
       |    ON c.doc_a = f.doc_a AND c.doc_b = f.doc_b
       |  WHERE f.doc_a IS NULL
       |  UNION ALL
       |  SELECT '4x4', 'verified', CAST(COUNT(*) AS BIGINT)
       |  FROM sigm44 WHERE m >= ${graft.etl.NearDup.DefaultMinSig}
       |  UNION ALL
       |  SELECT '8x2', 'candidates', CAST(COUNT(*) AS BIGINT) FROM cand82
       |  UNION ALL
       |  SELECT '8x2', 'verified', CAST(COUNT(*) AS BIGINT)
       |  FROM sigm82 WHERE m >= ${FlatCfg.minSig})
       |ORDER BY banding, metric""".stripMargin

  // ---------------------------------------------------------------------
  // X51 — MinHash error contract: for every x02 LSH candidate pair,
  // the 16-slot signature ESTIMATE next to the EXACT Jaccard of the
  // two shingle-hash sets, per-pair absolute error, and a fixed ±0.25
  // bound check (2σ of the k=16 binomial at its J=0.5 maximum).
  // Closes the "is the sketch any good" loop for the MinHash family
  // the way q26c/q38b close it for HLL — and because PolyHash is
  // oracle-portable, BOTH the estimate and the ground truth are
  // computed identically by the two engines, so the error audit is
  // itself hash-exact (not a rows-only claim).
  // Scale: reuses x02's shapes — signatures in one HashAggregate,
  // candidates from the banded join (never all-pairs); the
  // exact-Jaccard stage is the standard candidate-verify join on the
  // shingle-hash key, cost Σ|set| over candidates only. Zero-overlap
  // candidates keep a row via left join + COALESCE 0 (x49's rule).
  // ---------------------------------------------------------------------
  private def x51(s: SparkSession, d: String): DataFrame = {
    // per-doc DISTINCT shingle hashes (shingleHashes dedups per doc):
    // three consumers — signatures, sizes, pair intersect
    val sh = graft.etl.NearDup
      .shingleHashes(Tables.fanout(minhashCorpus(s, d)))
      .cut(false)
    val sigs = minhashSigs(sh)
    val cand = lshCandidates(sigs)
    val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val inter = cand
      .join(sh.select(col("doc_id").as("doc_a"), col("h")), Seq("doc_a"))
      .join(sh.select(col("doc_id").as("doc_b"), col("h")),
        Seq("doc_b", "h"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("inter"))
    val sigA = sigs.select(col("doc_id").as("doc_a") +:
      (0 until 16).map(j => col(s"m$j").as(s"a$j")): _*)
    val sigB = sigs.select(col("doc_id").as("doc_b") +:
      (0 until 16).map(j => col(s"m$j").as(s"b$j")): _*)
    cand
      .join(inter, Seq("doc_a", "doc_b"), "left")
      .withColumn("inter", coalesce(col("inter"), lit(0L)))
      .join(sizes.select(col("doc_id").as("doc_a"), col("n").as("n_a")),
        Seq("doc_a"))
      .join(sizes.select(col("doc_id").as("doc_b"), col("n").as("n_b")),
        Seq("doc_b"))
      .join(sigA, Seq("doc_a")).join(sigB, Seq("doc_b"))
      .withColumn("sig_matches",
        (0 until 16).map(j =>
          when(col(s"a$j") === col(s"b$j"), 1L).otherwise(0L))
          .reduce(_ + _))
      .withColumn("est_jaccard",
        round(col("sig_matches").cast("double") / 16.0, 4))
      .withColumn("exact_jaccard", round(col("inter").cast("double") /
        (col("n_a") + col("n_b") - col("inter")).cast("double"), 4))
      .withColumn("abs_err",
        round(abs(col("est_jaccard") - col("exact_jaccard")), 4))
      .withColumn("within_bound", col("abs_err") <= 0.25)
      .select("doc_a", "doc_b", "sig_matches", "est_jaccard",
        "exact_jaccard", "abs_err", "within_bound")
      .orderBy("doc_a", "doc_b")
  }
  private def x51Sql: String = {
    s"""WITH corpus AS (
       |  SELECT doc_id, text FROM documents
       |  UNION ALL
       |  SELECT doc_id + 1000000, text || ' planted near duplicate'
       |  FROM documents WHERE doc_id % 10 = 0),
       |$duckMinhashCtes,
       |sizes AS (
       |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n
       |  FROM sh GROUP BY 1),
       |inter AS (
       |  SELECT c.doc_a, c.doc_b, CAST(COUNT(*) AS BIGINT) AS i
       |  FROM cand c
       |  JOIN sh a ON a.doc_id = c.doc_a
       |  JOIN sh b ON b.doc_id = c.doc_b AND b.h = a.h
       |  GROUP BY 1, 2)
       |SELECT c.doc_a, c.doc_b,
       |  CAST(len(list_filter(list_zip(sa.sig, sb.sig),
       |    p -> p[1] = p[2])) AS BIGINT) AS sig_matches,
       |  ROUND(CAST(len(list_filter(list_zip(sa.sig, sb.sig),
       |    p -> p[1] = p[2])) AS DOUBLE) / 16.0, 4) AS est_jaccard,
       |  ROUND(CAST(COALESCE(i.i, 0) AS DOUBLE)
       |    / CAST(za.n + zb.n - COALESCE(i.i, 0) AS DOUBLE), 4)
       |    AS exact_jaccard,
       |  ROUND(ABS(
       |    ROUND(CAST(len(list_filter(list_zip(sa.sig, sb.sig),
       |      p -> p[1] = p[2])) AS DOUBLE) / 16.0, 4)
       |    - ROUND(CAST(COALESCE(i.i, 0) AS DOUBLE)
       |      / CAST(za.n + zb.n - COALESCE(i.i, 0) AS DOUBLE), 4)), 4)
       |    AS abs_err,
       |  ROUND(ABS(
       |    ROUND(CAST(len(list_filter(list_zip(sa.sig, sb.sig),
       |      p -> p[1] = p[2])) AS DOUBLE) / 16.0, 4)
       |    - ROUND(CAST(COALESCE(i.i, 0) AS DOUBLE)
       |      / CAST(za.n + zb.n - COALESCE(i.i, 0) AS DOUBLE), 4)), 4)
       |    <= 0.25 AS within_bound
       |FROM cand c
       |LEFT JOIN inter i ON i.doc_a = c.doc_a AND i.doc_b = c.doc_b
       |JOIN sizes za ON za.doc_id = c.doc_a
       |JOIN sizes zb ON zb.doc_id = c.doc_b
       |JOIN sigs sa ON sa.doc_id = c.doc_a
       |JOIN sigs sb ON sb.doc_id = c.doc_b
       |ORDER BY c.doc_a, c.doc_b""".stripMargin
  }

  // ---------------------------------------------------------------------
  // X3 — SimHash document fingerprints.
  // x03_simhash16: mod-arithmetic 16-bit variant, bit-for-bit
  // reproducible in DuckDB. x03_simhash_pairs: the production 64-bit
  // native Expression (graft.functions.SimHash64) + banded Hamming join
  // — rows-only check (FNV wrap-around arithmetic isn't portable SQL).
  // ---------------------------------------------------------------------
  private def x03(s: SparkSession, d: String): DataFrame = {
    val toks = Tables.fanout(Tables.documents(s, d))
      .select(col("doc_id"), explode(split(col("text"), " ")).as("token"))
      .withColumn("h", graft.functions.PolyHash(col("token")))
    // 16 conditional sums in ONE HashAggregate pass (map-side combined)
    // — no 16× crossJoin row multiplication; the 100 TB shape, same
    // trick as x02's multi-min signature
    val bitCols = (0 until 16).map { j =>
      sum(when(expr(s"(h div ${1L << j}) % 2") === 1, 1).otherwise(-1))
        .as(s"b$j")
    }
    toks.groupBy(col("doc_id")).agg(bitCols.head, bitCols.tail: _*)
      .select(col("doc_id"),
        (0 until 16).map(j =>
          when(col(s"b$j") > 0, lit(1L << j)).otherwise(lit(0L)))
          .reduce(_ + _).as("simhash16"))
      .orderBy("doc_id")
  }
  private val x03Sql = {
    val bitSums = (0 until 16).map(j =>
      s"SUM(CASE WHEN (h // ${1L << j}) % 2 = 1 THEN 1 ELSE -1 END) AS b$j")
      .mkString(",\n|    ")
    val recombine = (0 until 16).map(j =>
      s"CASE WHEN b$j > 0 THEN CAST(${1L << j} AS BIGINT) ELSE 0 END")
      .mkString(" + ")
    s"""WITH toks AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS token
       |  FROM documents),
       |hashed AS (
       |  SELECT doc_id, list_reduce(
       |    list_prepend(CAST(0 AS BIGINT),
       |      list_transform(list_filter(string_split(token, ''),
       |          ch -> ch <> ''),
       |        ch -> CAST(unicode(ch) AS BIGINT))),
       |    (acc, c) -> (acc * 31 + c) % 1000000007) AS h
       |  FROM toks),
       |bits AS (
       |  SELECT doc_id,
       |    $bitSums
       |  FROM hashed GROUP BY 1)
       |SELECT doc_id, $recombine AS simhash16
       |FROM bits ORDER BY doc_id""".stripMargin
  }

  /** The banded 64-bit SimHash pair pipeline shared by x03b (the
    * production query) and x106 (its contract): 4×16-bit chunks,
    * optional per-bucket size cap (the skew guard), candidate pairs
    * agreeing on ≥1 band, exact-Hamming post-filter ≤ 3. */
  private def simhashBandedPairs(sigs: DataFrame, cap: Option[Int])
      : DataFrame = {
    val chunks = sigs.select(col("doc_id"), col("sig"),
      posexplode(expr(
        "transform(sequence(0, 3), b -> shiftright(sig, 16 * b) & 65535)"))
        .as(Seq("chunk_idx", "chunk_val")))
    // Skew guard: near-identical token distributions make simhash
    // buckets cluster; a hot bucket of size n costs n² in the self-join.
    // Cap bucket size (drop over-full buckets) — the standard LSH skew
    // mitigation at scale; recall is covered by the other 3 bands.
    val wB = Window.partitionBy(col("chunk_idx"), col("chunk_val"))
    val capped = cap match {
      case Some(c) => chunks
        .withColumn("bsz", count(lit(1)).over(wB))
        .filter(col("bsz") <= c)
        .drop("bsz")
      case None => chunks
    }
    capped.select(col("doc_id").as("doc_a"),
        col("sig").as("sig_a"), col("chunk_idx"), col("chunk_val"))
      .join(capped.select(col("doc_id").as("doc_b"),
        col("sig").as("sig_b"), col("chunk_idx"), col("chunk_val")),
        Seq("chunk_idx", "chunk_val"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        expr("bit_count(sig_a ^ sig_b)").as("hamming"))
      .distinct()
      // <= 3 matches the 4-band guarantee exactly (any pair within
      // Hamming 3 must agree on >= 1 of 4 16-bit chunks); a wider filter
      // would only find distance-4 pairs probabilistically.
      .filter(col("hamming") <= 3)
  }

  /** The production skew-guard bucket cap (x03b's and x106's). */
  private val SimhashBucketCap = 50

  /** 64-bit SimHash near-dup pairs via 4×16-bit band join (a doc pair
    * within Hamming distance 3 must agree on ≥1 of 4 bands). */
  private def x03b(s: SparkSession, d: String): DataFrame = {
    val sigs = Tables.fanout(minhashCorpus(s, d))
      .withColumn("sig", graft.functions.SimHash64(split(col("text"), " ")))
    simhashBandedPairs(sigs, Some(SimhashBucketCap))
      .orderBy("doc_a", "doc_b")
  }

  // ---------------------------------------------------------------------
  // X106 — x03b's CONTRACT (VERDICT r12 #4): x03_simhash_pairs was the
  // last no-oracle row without a gated bound (SimHash64's FNV-1a
  // wrap-around arithmetic isn't portable SQL, so its raw pairs can't
  // be recomputed by DuckDB). The q26c/x56 move: derive cells DuckDB
  // CAN check — corpus-arithmetic counts plus contract BOOLEANS the
  // oracle asserts TRUE — from an exact-Hamming twin on a bounded
  // slice, so a wrong signature, a broken band split, or a cap that
  // silently eats recall turns this row red instead of hiding behind
  // a rows-only check.
  //
  // Legs (all over ONE signature pass, x56's discipline):
  //  - corpus = x03b's corpus ∪ planted EXACT twins on the slice ids
  //    (doc_id+2e6, same text → Hamming 0) — guaranteed truth pairs,
  //    so the contract can never pass vacuously;
  //  - truth = brute-force Hamming ≤ 3 over the slice (both-ends
  //    mod-sampled; ids fold by % 1e6 so a doc's planted twins land
  //    in the slice WITH it) — the x05/x94 bounded-slice pattern:
  //    the modulus bounds the quadratic leg absolutely, and at a
  //    larger corpus you RAISE it rather than grow the slice;
  //  - theorem gate: un-capped banding over the slice ≡ truth in BOTH
  //    directions (any pair within Hamming 3 agrees on ≥1 of 4
  //    16-bit chunks — pigeonhole; and the band join's post-filter
  //    makes ⊆ structural);
  //  - production gate: x03b's capped pipeline over the FULL corpus,
  //    restricted to slice pairs, must (a) stay ⊆ truth and (b) have
  //    every miss EXPLAINED by the skew cap — each agreeing band of a
  //    missed pair sat in an over-cap bucket. An unexplained miss
  //    means lost recall the cap story doesn't cover → red.
  // Scale: signatures once; the only quadratic leg is the slice
  // cross-join (absolutely bounded by the modulus); banding is the
  // production never-all-pairs shape; the miss audit is over
  // missed-pair × 4 bands (candidate-list-sized).
  // ---------------------------------------------------------------------
  private val X106SliceMod = 23

  /** Planted-twin id offset: ≡ 0 (mod [[X106SliceMod]]) so a twin
    * shares its origin's slice residue WITHOUT assuming dense ids
    * (sf1's doc_ids are sparse, up to ~9e7 — any fold-by-range trick
    * breaks there), and far beyond every real or near-dup id so twins
    * never collide. */
  private val X106TwinOffset = 2300000000L

  private def x106(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select("doc_id", "text")
    val twins = docs.filter(col("doc_id") % X106SliceMod === 0)
      .select((col("doc_id") + X106TwinOffset).as("doc_id"), col("text"))
    val sigs = Tables.fanout(minhashCorpus(s, d).unionByName(twins))
      .withColumn("sig",
        graft.functions.SimHash64(split(col("text"), " ")))
      .cut(false)
    val slice = sigs
      .filter(col("doc_id") % X106SliceMod === 0)
      .cut(false)
    val a = slice.select(col("doc_id").as("doc_a"),
      col("sig").as("sig_a"))
    val b = slice.select(col("doc_id").as("doc_b"),
      col("sig").as("sig_b"))
    val truth = a.crossJoin(b).filter(col("doc_a") < col("doc_b"))
      .withColumn("hamming", expr("bit_count(sig_a ^ sig_b)"))
      .filter(col("hamming") <= 3)
      .cut(false)
    // theorem gate: un-capped banding over the slice, both directions
    val nocap = simhashBandedPairs(slice, None).cut(false)
    // production gate: the capped full-corpus pipeline (x03b's shape)
    val prod = simhashBandedPairs(sigs, Some(SimhashBucketCap))
    val sliceIds = slice.select(col("doc_id")).cut(false)
    val prodSlice = prod
      .join(sliceIds.withColumnRenamed("doc_id", "doc_a"), Seq("doc_a"))
      .join(sliceIds.withColumnRenamed("doc_id", "doc_b"), Seq("doc_b"))
      .cut(false)
    // every miss explained by the cap: each band the pair agrees on
    // sat in an over-cap bucket of the FULL-corpus banding
    val missed = truth
      .join(prodSlice.select("doc_a", "doc_b"), Seq("doc_a", "doc_b"),
        "left_anti")
    val overCap = sigs.select(posexplode(expr(
        "transform(sequence(0, 3), b -> shiftright(sig, 16 * b) & 65535)"))
        .as(Seq("oc_idx", "oc_val")))
      .groupBy("oc_idx", "oc_val")
      .agg(count(lit(1)).as("bsz"))
      .filter(col("bsz") > SimhashBucketCap)
      .select("oc_idx", "oc_val")
    val unexplained = missed
      .select(col("doc_a"), col("doc_b"), col("sig_a"), col("sig_b"),
        explode(sequence(lit(0), lit(3))).as("band"))
      .withColumn("ca", expr("shiftright(sig_a, 16 * band) & 65535"))
      .withColumn("cb", expr("shiftright(sig_b, 16 * band) & 65535"))
      .filter(col("ca") === col("cb"))
      .join(overCap, col("band") === col("oc_idx") &&
        col("ca") === col("oc_val"), "left")
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(min(when(col("oc_val").isNotNull, 1).otherwise(0))
        .as("all_capped"))
      .filter(col("all_capped") === 0)
    // never-vacuous gate: every planted exact twin lands in truth at
    // Hamming 0
    val twinPairs = twins
      .select((col("doc_id") - X106TwinOffset).as("doc_a"),
        col("doc_id").as("doc_b"))
    // assemble the card as ONE composed plan (the a17/q14 scalar
    // crossJoin pattern — every 1-row census below is 1×1 by
    // construction): a single job evaluates the legs in parallel
    // stages instead of seven sequential driver actions (measured
    // 12 s → ~5 s at sf0.1), and the lazy cuts above dedupe the
    // shared legs within it
    def c1(df: DataFrame, name: String): DataFrame =
      df.agg(count(lit(1)).as(name))
    c1(slice, "n_slice_docs")
      .crossJoin(c1(twinPairs, "n_planted_twin_pairs"))
      .crossJoin(c1(twinPairs.join(truth.filter(col("hamming") === 0),
        Seq("doc_a", "doc_b"), "left_anti"), "n_twin_missing"))
      .crossJoin(c1(truth.join(nocap, Seq("doc_a", "doc_b"),
        "left_anti"), "n_thm_missing"))
      .crossJoin(c1(nocap.join(truth, Seq("doc_a", "doc_b"),
        "left_anti"), "n_thm_extra"))
      .crossJoin(c1(prodSlice.join(truth, Seq("doc_a", "doc_b"),
        "left_anti"), "n_found_outside_truth"))
      .crossJoin(c1(unexplained, "n_unexplained"))
      .select(col("n_slice_docs"), col("n_planted_twin_pairs"),
        (col("n_twin_missing") === 0).as("truth_covers_planted"),
        (col("n_thm_missing") === 0 && col("n_thm_extra") === 0)
          .as("theorem_holds"),
        (col("n_found_outside_truth") === 0).as("found_subset_truth"),
        (col("n_unexplained") === 0).as("cap_misses_explained"))
  }
  /** The oracle recomputes the two counts from corpus arithmetic —
    * slice rows = originals ≡ 0 (mod 23) + each one's exact twin
    * (offset ≡ 0 mod 23, so twins share the residue) + the planted
    * near-dups landing on the residue (+1e6 ≡ 6 mod 23, so origin
    * ≡ 17) — and asserts the four contract booleans TRUE. */
  private val x106Sql =
    s"""SELECT
       |  (SELECT CAST(2 * COUNT(*) FILTER (WHERE doc_id % $X106SliceMod = 0)
       |     + COUNT(*) FILTER (WHERE doc_id % $X106SliceMod = 17
       |                          AND doc_id % 10 = 0) AS BIGINT)
       |   FROM documents) AS n_slice_docs,
       |  (SELECT CAST(COUNT(*) AS BIGINT) FROM documents
       |   WHERE doc_id % $X106SliceMod = 0) AS n_planted_twin_pairs,
       |  TRUE AS truth_covers_planted,
       |  TRUE AS theorem_holds,
       |  TRUE AS found_subset_truth,
       |  TRUE AS cap_misses_explained""".stripMargin

  // ---------------------------------------------------------------------
  // X4 — exact n-gram Jaccard similarity over a candidate sample (the
  // verify stage that follows LSH candidate generation at scale).
  // ---------------------------------------------------------------------
  /** Stop-shingle guard: a shingle present in more than this many docs
    * is dropped before the self-join — a single hot shingle otherwise
    * contributes df² candidate rows (quadratic blowup at scale). Sizes
    * and intersections are both computed over the FILTERED shingle sets,
    * so the Jaccard stays internally consistent and the oracle mirrors
    * it exactly. */
  private val ShingleDfCap = 20

  private def x04(s: SparkSession, d: String): DataFrame = {
    val raw = Tables.fanout(Tables.documents(s, d))
      .filter(col("doc_id") % 50 === 0)
      .filter(size(split(col("text"), " ")) >= 3)
      .select(col("doc_id"), explode(expr(sparkShingles)).as("shingle"))
    // doc-frequency cap: one window count on the same key the join
    // shuffles on anyway
    val wS = Window.partitionBy(col("shingle"))
    val sample = raw.withColumn("__df", count(lit(1)).over(wS))
      .filter(col("__df") <= ShingleDfCap)
      .drop("__df")
    val sizes = sample.groupBy("doc_id")
      .agg(count(lit(1)).as("sz"))
    val a = sample.select(col("doc_id").as("doc_a"), col("shingle"))
    val b = sample.select(col("doc_id").as("doc_b"), col("shingle"))
    val inter = a.join(b, Seq("shingle"))
      .filter(col("doc_a") < col("doc_b"))
      .groupBy("doc_a", "doc_b")
      .agg(count(lit(1)).as("inter"))
    // sizes grows with the sampled corpus — AQE decides the join side
    inter
      .join(sizes.withColumnRenamed("doc_id", "doc_a")
        .withColumnRenamed("sz", "sz_a"), Seq("doc_a"))
      .join(sizes.withColumnRenamed("doc_id", "doc_b")
        .withColumnRenamed("sz", "sz_b"), Seq("doc_b"))
      .withColumn("jaccard",
        round(col("inter").cast("double") /
          (col("sz_a") + col("sz_b") - col("inter")).cast("double"), 4))
      .select("doc_a", "doc_b", "inter", "sz_a", "sz_b", "jaccard")
      .orderBy("doc_a", "doc_b")
  }
  private val x04Sql =
    s"""WITH raw AS (
       |  SELECT doc_id, unnest($duckShingles) AS shingle
       |  FROM documents
       |  WHERE doc_id % 50 = 0 AND len(string_split(text, ' ')) >= 3),
       |sample AS (
       |  SELECT doc_id, shingle FROM raw
       |  QUALIFY COUNT(*) OVER (PARTITION BY shingle) <= $ShingleDfCap),
       |sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sample GROUP BY 1),
       |inter AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
       |  FROM sample a JOIN sample b ON a.shingle = b.shingle
       |    AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2)
       |SELECT doc_a, doc_b, inter, sa.sz AS sz_a, sb.sz AS sz_b,
       |  ROUND(CAST(inter AS DOUBLE)
       |    / CAST(sa.sz + sb.sz - inter AS DOUBLE), 4) AS jaccard
       |FROM inter
       |JOIN sizes sa ON inter.doc_a = sa.doc_id
       |JOIN sizes sb ON inter.doc_b = sb.doc_id
       |ORDER BY doc_a, doc_b""".stripMargin

  // ---------------------------------------------------------------------
  // X5 — brute-force cosine top-k over embeddings (the ANN baseline).
  // Dot products fold left-to-right in both engines → bit-identical
  // doubles → identical ranking; no tolerance needed.
  // ---------------------------------------------------------------------
  private def x05(s: SparkSession, d: String): DataFrame = {
    val withNorm = Tables.fanout(Tables.embeddings(s, d))
      .withColumn("norm",
        sqrt(DotProduct(col("embedding"), col("embedding"))))
    val q = withNorm
      .join(broadcast(evalIds(Tables.embeddings(s, d), "vec_id")),
        "vec_id")
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
        col("norm").as("q_norm"))
    // The query side is ≤ EvalK rows BY CONSTRUCTION (the absolute-K
    // slice), so the truth scan is O(n·K) and the slice join is a
    // safe broadcast at any corpus size.
    val pairs = withNorm.crossJoin(q)
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("cos",
        DotProduct(col("embedding"), col("q_emb")) /
          (col("norm") * col("q_norm")))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cos").desc, col("vec_id"))
    pairs.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 10)
      .select("q_id", "vec_id", "rank", "cos")
      .orderBy("q_id", "rank")
  }
  private val duckDot =
    """list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
      |list_transform(list_zip(%s, %s),
      |p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))), (a, b) -> a + b)"""
      .stripMargin.replace("\n", " ")

  // ---------------------------------------------------------------------
  // Absolute-K eval slices (VERDICT r10 #2). The recall/serve evals'
  // query-and-truth side used to be the corpus-relative % 100 id
  // class, which makes every brute-force truth pass O(n²/100) — a
  // bound that only LOOKS bounded. The convention is now a FIXED-K
  // pick: the K lowest ids of the probe class under the repo's
  // portable multiplicative hash (id tiebreak), so truth cost is
  // O(n·K) at ANY corpus size and the pick is identical in both
  // engines (same total order, same LIMIT). K deliberately sits
  // below the sf1 class size (200) so the bound BINDS at the certify
  // scale — the cross-engine hash-order agreement is exercised, not
  // just documented. The pick stays INSIDE the % 100 class so probe
  // ids keep matching the serving-path queries (x80's sparse probes,
  // w07's fusion) that legitimately scale with demand.
  // ---------------------------------------------------------------------
  private[queries] val EvalK = 100

  /** The fixed-K query slice: K hash-ordered ids of `idCol`'s
    * `% mod = 0` class. ≤ EvalK rows by construction — broadcasting
    * the join against it is bounded at any corpus size. */
  private def evalIds(ids: DataFrame, idCol: String,
      mod: Int = 100): DataFrame =
    ids.select(col(idCol))
      .filter(col(idCol) % mod === 0)
      .orderBy(
        expr(s"(($idCol % 2147483648) * 2654435761) % 1000000007"),
        col(idCol))
      .limit(EvalK)

  /** DuckDB twin CTE of [[evalIds]], named `name` over source CTE
    * `src`. */
  private def duckEvalIds(name: String, src: String,
      idCol: String = "vec_id", mod: Int = 100): String =
    s"""$name AS (
       |  SELECT $idCol FROM $src WHERE $idCol % $mod = 0
       |  ORDER BY (($idCol % 2147483648) * 2654435761) % 1000000007,
       |    $idCol
       |  LIMIT $EvalK)""".stripMargin

  /** The standard `qids`-over-`e` instance most oracles splice in. */
  private lazy val duckQids = duckEvalIds("qids", "e")
  private val x05Sql =
    s"""WITH e AS (
       |  SELECT vec_id, embedding,
       |    sqrt(${duckDot.format("embedding", "embedding")}) AS norm
       |  FROM embeddings),
       |$duckQids,
       |q AS (SELECT vec_id AS q_id, embedding AS q_emb, norm AS q_norm
       |      FROM e WHERE vec_id IN (SELECT vec_id FROM qids)),
       |pairs AS (
       |  SELECT q_id, vec_id,
       |    ${duckDot.format("embedding", "q_emb")} / (norm * q_norm) AS cos
       |  FROM e CROSS JOIN q WHERE vec_id <> q_id)
       |SELECT q_id, vec_id, rank, cos FROM (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id
       |    ORDER BY cos DESC, vec_id) AS rank FROM pairs)
       |WHERE rank <= 10 ORDER BY q_id, rank""".stripMargin

  // ---------------------------------------------------------------------
  // X46 — k-NN label-noise audit (confident-learning-lite): for each
  // probe vector, do its 10 nearest neighbors share its label? A probe
  // whose neighborhood overwhelmingly disagrees is a suspected
  // mislabel — the curation pass that catches annotation errors before
  // they train in. Same bounded probe slice + brute-force neighbor
  // scan as x05 (the allowlisted recall baseline; the LSH/IVF paths
  // are the drop-in scale variants), then a label-agreement aggregate
  // over the top-k instead of a neighbor list.
  // ---------------------------------------------------------------------
  private def x46(s: SparkSession, d: String): DataFrame = {
    val withNorm = Tables.fanout(Tables.embeddings(s, d))
      .withColumn("norm",
        sqrt(DotProduct(col("embedding"), col("embedding"))))
    val q = withNorm
      .join(broadcast(evalIds(Tables.embeddings(s, d), "vec_id")),
        "vec_id")
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
        col("norm").as("q_norm"), col("label").as("q_label"))
    val pairs = withNorm.crossJoin(q)
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("cos",
        DotProduct(col("embedding"), col("q_emb")) /
          (col("norm") * col("q_norm")))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cos").desc, col("vec_id"))
    pairs.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 10)
      .groupBy(col("q_id"), col("q_label"))
      .agg(sum(when(col("label") === col("q_label"), 1L).otherwise(0L))
          .as("n_agree"),
        count(lit(1)).as("k"))
      .select(col("q_id"), col("q_label"), col("n_agree"),
        (col("n_agree").cast("double") / col("k").cast("double"))
          .as("agree_frac"),
        (col("n_agree").cast("double") / col("k").cast("double") < 0.3)
          .as("suspect"))
      .orderBy("q_id")
  }
  private lazy val x46Sql =
    s"""WITH e AS (
       |  SELECT vec_id, embedding, label,
       |    sqrt(${duckDot.format("embedding", "embedding")}) AS norm
       |  FROM embeddings),
       |$duckQids,
       |q AS (SELECT vec_id AS q_id, embedding AS q_emb, norm AS q_norm,
       |        label AS q_label
       |      FROM e WHERE vec_id IN (SELECT vec_id FROM qids)),
       |pairs AS (
       |  SELECT q_id, q_label, vec_id, label,
       |    ${duckDot.format("embedding", "q_emb")} / (norm * q_norm) AS cos
       |  FROM e CROSS JOIN q WHERE vec_id <> q_id),
       |top AS (
       |  SELECT * FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id
       |      ORDER BY cos DESC, vec_id) AS rank FROM pairs)
       |  WHERE rank <= 10)
       |SELECT q_id, q_label,
       |  CAST(SUM(CASE WHEN label = q_label THEN 1 ELSE 0 END)
       |    AS BIGINT) AS n_agree,
       |  CAST(SUM(CASE WHEN label = q_label THEN 1 ELSE 0 END)
       |      AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS agree_frac,
       |  CAST(SUM(CASE WHEN label = q_label THEN 1 ELSE 0 END)
       |      AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) < 0.3 AS suspect
       |FROM top GROUP BY 1, 2 ORDER BY q_id""".stripMargin

  // ---------------------------------------------------------------------
  // X47 — one k-means step (Lloyd E+M) over the embedding corpus: the
  // iterative-ML building block behind IVF codebook training and
  // cluster-balanced sampling. E-step = nearest of 8 hash-sampled
  // seeds (broadcast + min_by HashAggregate, x33's assignment shape);
  // M-step = per-(cluster, dim) mean via exact decimal sums on the
  // bounded 8×64 grid (x39's float-mean discipline), so the updated
  // codebook is bit-identical under any partitioning — the property
  // that makes distributed k-means runs reproducible. Full training =
  // this step iterated with the output fed back as seeds.
  // ---------------------------------------------------------------------
  private val KmeansK = 8

  private def x47(s: SparkSession, d: String): DataFrame = {
    val base = Tables.fanout(Tables.embeddings(s, d))
      .select(col("vec_id"),
        expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("emb"))
      .withColumn("norm", sqrt(DotProduct(col("emb"), col("emb"))))
      .cut(false) // two consumers: seeds + assignment
    val seeds = base
      .orderBy(((col("vec_id") % 2147483648L) * 2654435761L)
        % 1000000007L, col("vec_id"))
      .limit(KmeansK)
      .select(col("vec_id").as("c_id"), col("emb").as("c_emb"),
        col("norm").as("c_norm"))
    val assigned = base.crossJoin(broadcast(seeds))
      .withColumn("dist", lit(1.0) -
        DotProduct(col("emb"), col("c_emb")) /
          (col("norm") * col("c_norm")))
      .groupBy(col("vec_id"))
      .agg(min_by(struct(col("emb"), col("c_id")),
        struct(col("dist"), col("c_id"))).as("b"))
      .select(col("vec_id"), col("b.emb").as("emb"),
        col("b.c_id").as("cluster"))
    assigned
      .select(col("cluster"), posexplode(col("emb")).as(Seq("dim", "v")))
      .groupBy(col("cluster"), col("dim"))
      .agg((sum(col("v").cast("decimal(18,6)")).cast("double") /
          count(lit(1)).cast("double")).as("coord"),
        count(lit(1)).as("n_members"))
      .orderBy("cluster", "dim")
  }
  private lazy val x47Sql =
    s"""WITH e AS (
       |  SELECT vec_id,
       |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
       |  FROM embeddings),
       |n AS (
       |  SELECT vec_id, emb,
       |    sqrt(${duckDot.format("emb", "emb")}) AS norm
       |  FROM e),
       |seeds AS (
       |  SELECT vec_id AS c_id, emb AS c_emb, norm AS c_norm
       |  FROM n ORDER BY ((vec_id % 2147483648) * 2654435761)
       |    % 1000000007, vec_id
       |  LIMIT $KmeansK),
       |assigned AS (
       |  SELECT vec_id, emb, c_id AS cluster FROM (
       |    SELECT n.vec_id, n.emb, c.c_id,
       |      ROW_NUMBER() OVER (PARTITION BY n.vec_id ORDER BY
       |        1.0 - ${duckDot.format("n.emb", "c.c_emb")}
       |          / (n.norm * c.c_norm), c.c_id) AS rk
       |    FROM n CROSS JOIN seeds c) WHERE rk = 1)
       |SELECT cluster, i - 1 AS dim,
       |  CAST(CAST(SUM(CAST(emb[i] AS DECIMAL(18,6))) AS VARCHAR)
       |      AS DOUBLE)
       |    / CAST(COUNT(*) AS DOUBLE) AS coord,
       |  CAST(COUNT(*) AS BIGINT) AS n_members
       |FROM assigned, unnest(generate_series(1, len(emb))) AS t(i)
       |GROUP BY 1, 2 ORDER BY cluster, dim""".stripMargin

  // ---------------------------------------------------------------------
  // X5b — LSH-bucketed ANN (the scale path): deterministic
  // pseudo-random ±1 hyperplanes → sign bucket per vector; queries
  // probe only their own bucket. Trades recall for a ~2^planes candidate
  // reduction — the brute-force x05 is the recall baseline.
  //
  // Scale: the plane count ADAPTS to the corpus (floor(log2 n) + 2), so
  // expected bucket size stays ~constant and candidate pairs stay ~O(n)
  // instead of n²/2^fixed; an over-full bucket (degenerate embedding
  // cluster) is additionally dropped by a size cap, same guard as x03b.
  // ---------------------------------------------------------------------
  /** Bucket-size cap for the sign-LSH self/probe joins. */
  private[queries] val BucketCap = 100

  /** floor(log2 n) + 2, computed integer-exactly as binary-digit count
    * (= SQL `length(bin(n)) + 1`) — no float log2 edge-case mismatch
    * between Spark and the DuckDB oracle. */
  private[queries] def adaptivePlanes(n: Long): Int =
    math.min(62, math.max(8,
      65 - java.lang.Long.numberOfLeadingZeros(math.max(n, 1L))))

  /** DuckDB: same plane count from a scalar COUNT over `rel`. */
  private def duckPlanes(rel: String): String =
    s"(SELECT GREATEST(8, length(bin(COUNT(*))) + 1) FROM $rel)"

  /** Shared x05b/x10 index build: sign-LSH bucket per vector from
    * `nplanes` deterministic hyperplanes, then drop over-full buckets
    * (the x03b skew guard — a degenerate embedding cluster otherwise
    * costs bucket² in the join). `e` must carry `vec_id` + 64-dim
    * `embCol`. */
  private[queries] def signBucketsCapped(e: DataFrame, embCol: String,
      nplanes: Int): DataFrame = {
    val s = e.sparkSession
    val planes = s.range(nplanes).toDF("p")
      .withColumn("pow",
        expr("shiftleft(CAST(1 AS BIGINT), CAST(p AS INT))"))
    val buckets = e.crossJoin(broadcast(planes))
      // native codegen kernel (graft.functions.PlaneDot) — the
      // HOF-lambda twin of this expression is what the oracle runs;
      // bit-identical fold, one fused loop per (row, plane)
      .withColumn("proj", graft.functions.PlaneDot(col(embCol), col("p")))
      .groupBy(col("vec_id"))
      .agg(sum(when(col("proj") > 0, col("pow")).otherwise(0L))
        .as("bucket"))
    val wB = Window.partitionBy(col("bucket"))
    e.join(buckets, "vec_id")
      .withColumn("__bsz", count(lit(1)).over(wB))
      .filter(col("__bsz") <= BucketCap)
      .drop("__bsz")
  }
  /** Spark SQL / DuckDB-portable signed projection onto plane `p`:
    * sign of dim i is +1 iff ((i*37 + p*101 + i*p*13) % 97) % 2 = 0.
    * The i·p cross term makes plane patterns aperiodic in p — a purely
    * additive pattern like (i*a + p*b) % m repeats with period m/gcd,
    * silently capping the effective bucket space no matter how many
    * planes the adaptive sizing asks for (AnnScalingSpec guards this). */
  private def planeDot(emb: String, p: String, dims: Int,
      spark: Boolean): String = {
    val idx = if (spark) s"sequence(1, $dims)" else s"generate_series(1, $dims)"
    val lt = if (spark) "transform" else "list_transform"
    val elem = if (spark) s"element_at($emb, i)" else s"$emb[i]"
    val body = s"CASE WHEN ((i * 37 + $p * 101 + i * $p * 13) % 97) % 2 = 0 " +
      s"THEN CAST($elem AS DOUBLE) ELSE -CAST($elem AS DOUBLE) END"
    if (spark)
      s"aggregate($lt($idx, i -> $body), CAST(0.0 AS DOUBLE), (a, v) -> a + v)"
    else
      s"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), $lt($idx, i -> $body)), (a, b) -> a + b)"
  }

  private def x05b(s: SparkSession, d: String): DataFrame = {
    val e = Tables.fanout(Tables.embeddings(s, d))
      .withColumn("norm",
        sqrt(DotProduct(col("embedding"), col("embedding"))))
    // Index sizing: one count job (catalog stats at real scale).
    val nplanes = adaptivePlanes(Tables.embeddings(s, d).count())
    val vecs = signBucketsCapped(e, "embedding", nplanes)
    val q = vecs
      .join(broadcast(evalIds(Tables.embeddings(s, d), "vec_id")),
        "vec_id")
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
        col("norm").as("q_norm"), col("bucket"))
    // the probe set is ≤ EvalK rows (absolute-K slice ∩ the capped
    // buckets); the bucket-keyed hash join lets AQE pick the build side
    val pairs = vecs.join(q, Seq("bucket"))
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("cos",
        DotProduct(col("embedding"), col("q_emb")) /
          (col("norm") * col("q_norm")))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cos").desc, col("vec_id"))
    pairs.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 10)
      .select("q_id", "vec_id", "rank", "cos")
      .orderBy("q_id", "rank")
  }
  private def x05bSql: String =
    s"""WITH e AS (
       |  SELECT vec_id, embedding,
       |    sqrt(${duckDot.format("embedding", "embedding")}) AS norm
       |  FROM embeddings),
       |planes AS (
       |  SELECT unnest(generate_series(0, ${duckPlanes("embeddings")} - 1))
       |    AS p),
       |buckets AS (
       |  SELECT vec_id,
       |    SUM(CASE WHEN ${planeDot("embedding", "p.p", 64, spark = false)} > 0
       |        THEN (CAST(1 AS BIGINT) << p.p) ELSE 0 END) AS bucket
       |  FROM e CROSS JOIN planes p
       |  GROUP BY 1),
       |vecs AS (
       |  SELECT e.*, b.bucket FROM e JOIN buckets b USING (vec_id)
       |  QUALIFY COUNT(*) OVER (PARTITION BY b.bucket) <= $BucketCap),
       |$duckQids,
       |q AS (SELECT vec_id AS q_id, embedding AS q_emb, norm AS q_norm,
       |        bucket FROM vecs
       |      WHERE vec_id IN (SELECT vec_id FROM qids)),
       |pairs AS (
       |  SELECT q_id, vec_id,
       |    ${duckDot.format("embedding", "q_emb")} / (norm * q_norm) AS cos
       |  FROM vecs JOIN q USING (bucket) WHERE vec_id <> q_id)
       |SELECT q_id, vec_id, rank, cos FROM (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id
       |    ORDER BY cos DESC, vec_id) AS rank FROM pairs)
       |WHERE rank <= 10 ORDER BY q_id, rank""".stripMargin

  // ---------------------------------------------------------------------
  // X18 — IVF-flat ANN: the second classic scale path next to sign-LSH
  // (x05b). The coarse codebook is TRAINED, not guessed: 16 hash-spread
  // seeds (x47's multiplicative-ordering pick — evenly scattered over
  // the id space, no locality bias) refined by 2 exact Lloyd steps
  // ([[lloydStep]], x47's kernel) — so cells actually track the data's
  // density instead of the first 16 rows' accidents. The codebook
  // stays ≤ 16 rows at ANY sf (never grows with data), so its
  // broadcast is safe at any scale; each query probes its nearest
  // cells and ranks only those candidates. Shuffles: one per Lloyd
  // step's (cluster, dim) mean, the cell-assignment argmin and the
  // candidate join (keyed by cluster) — never O(n²). Deterministic:
  // seeds/argmin/probe/top-k all tie-break on id, means are
  // decimal-exact (partitioning-independent), so the trained codebook
  // — and therefore every cosine — is bit-identical to DuckDB's.
  // ---------------------------------------------------------------------
  // nprobe=4 of 16 cells: on near-uniform synthetic embeddings the cell
  // structure is weak, so probing a quarter of the codebook buys recall
  // while still scanning ~1/4 of the corpus per query (the IVF contract)
  private val IvfK = graft.etl.AnnIndex.K
  private val IvfProbes = graft.etl.AnnIndex.Probes

  // The IVF kernels (hash-spread seeds, exact-decimal lloydStep, frozen-
  // codebook assign, probe-and-rank serve) moved to the library module
  // [[graft.etl.AnnIndex]] in r8 — the build/serve split a deployment
  // needs (index persisted once, queries served from the loaded tables;
  // AnnIndexSpec proves write→read→serve ≡ this inline path). The query
  // here composes them inline so the oracle below stays the single gate
  // for the whole family.
  private def x18(s: SparkSession, d: String): DataFrame = {
    import graft.etl.AnnIndex
    val e = AnnIndex.prep(Tables.fanout(Tables.embeddings(s, d)))
      .cut(false) // consumers: seeds, 2 Lloyd assigns, index, probes
    val cents = AnnIndex.train(e)
      .cut(false) // two consumers below; ≤ IvfK rows
    val queries = e
      .join(broadcast(evalIds(Tables.embeddings(s, d), "vec_id")),
        "vec_id")
      .select(col("vec_id").as("q_id"), col("emb").as("q_emb"),
        col("norm").as("q_norm"))
    AnnIndex.serve(queries, cents, AnnIndex.assign(e, cents))
      .orderBy("q_id", "rank")
  }
  /** DuckDB twin of [[lloydStep]]: assignment CTE (argmin over the
    * `from` codebook) + decimal-exact per-(cluster, dim) means
    * reassembled into the `to` codebook, names suffixed by `tag`;
    * `src` is the training relation (default the full corpus `e`;
    * always aliased `e` so the column refs read the same). */
  private def duckLloydCtes(from: String, tag: String,
      src: String = "e"): String =
    s"""a$tag AS (
       |  SELECT vec_id, emb, c_id AS cluster FROM (
       |    SELECT e.vec_id, e.emb, c.c_id,
       |      ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
       |        1.0 - ${duckDot.format("e.emb", "c.c_emb")}
       |          / (e.norm * c.c_norm), c.c_id) AS rk
       |    FROM $src e CROSS JOIN $from c) WHERE rk = 1),
       |m$tag AS (
       |  SELECT cluster, i,
       |    CAST(CAST(SUM(CAST(emb[i] AS DECIMAL(18,6))) AS VARCHAR)
       |        AS DOUBLE)
       |      / CAST(COUNT(*) AS DOUBLE) AS coord
       |  FROM a$tag, unnest(generate_series(1, len(emb))) AS t(i)
       |  GROUP BY 1, 2),
       |v$tag AS (
       |  SELECT cluster AS c_id, list(coord ORDER BY i) AS c_emb
       |  FROM m$tag GROUP BY 1),
       |c$tag AS (
       |  SELECT c_id, c_emb,
       |    sqrt(${duckDot.format("c_emb", "c_emb")}) AS c_norm
       |  FROM v$tag)""".stripMargin

  /** The build-phase CTE chain (raw → e → seeds → 2 Lloyd steps → c2
    * codebook → assigned posting lists) — shared by the x18 serve
    * oracle and the x79 index-build oracle, so the persisted-index card
    * and the query path can never train different codebooks. */
  private lazy val duckIvfPrefix =
    s"""raw AS (
       |  SELECT vec_id,
       |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
       |  FROM embeddings),
       |e AS (
       |  SELECT vec_id, emb,
       |    sqrt(${duckDot.format("emb", "emb")}) AS norm
       |  FROM raw),
       |seeds AS (
       |  SELECT vec_id AS c_id, emb AS c_emb, norm AS c_norm
       |  FROM e ORDER BY ((vec_id % 2147483648) * 2654435761)
       |    % 1000000007, vec_id
       |  LIMIT $IvfK),
       |${duckLloydCtes("seeds", "1")},
       |${duckLloydCtes("c1", "2")},
       |assigned AS (
       |  SELECT vec_id, emb, norm, c_id AS cluster FROM (
       |    SELECT e.vec_id, e.emb, e.norm, c.c_id,
       |      ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
       |        1.0 - ${duckDot.format("e.emb", "c.c_emb")}
       |          / (e.norm * c.c_norm), c.c_id) AS rk
       |    FROM e CROSS JOIN c2 c) WHERE rk = 1)""".stripMargin

  private lazy val x18Sql =
    s"""WITH $duckIvfPrefix,
       |$duckQids,
       |probes AS (
       |  SELECT q_id, q_emb, q_norm, c_id AS cluster FROM (
       |    SELECT e.vec_id AS q_id, e.emb AS q_emb,
       |      e.norm AS q_norm, c.c_id,
       |      ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
       |        1.0 - ${duckDot.format("e.emb", "c.c_emb")}
       |          / (e.norm * c.c_norm), c.c_id) AS rk
       |    FROM e CROSS JOIN c2 c
       |      WHERE e.vec_id IN (SELECT vec_id FROM qids))
       |  WHERE rk <= $IvfProbes),
       |cand AS (
       |  SELECT p.q_id, a.vec_id, a.cluster,
       |    ${duckDot.format("a.emb", "p.q_emb")}
       |      / (a.norm * p.q_norm) AS cos
       |  FROM assigned a JOIN probes p ON a.cluster = p.cluster
       |  WHERE a.vec_id <> p.q_id)
       |SELECT q_id, vec_id, cluster, rank, cos FROM (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id
       |    ORDER BY cos DESC, vec_id) AS rank FROM cand)
       |WHERE rank <= 10 ORDER BY q_id, rank""".stripMargin

  // ---------------------------------------------------------------------
  // X79 — ANN index build card: the PERSISTED-index half of the x18
  // build/serve split ([[graft.etl.AnnIndex]]). A deployment builds the
  // IVF index once and serves queries from the stored tables; this row
  // is the build artifact the gate checks — per codebook cell, the
  // posting-list census (n_members), an exact BIGINT membership
  // fingerprint (id_sum — proves WHICH vectors landed in the cell
  // cross-engine, x63's sample-hash trick), the id range, and the
  // trained centroid's norm (proves the codebook itself, not just the
  // partition). Same build CTEs as x18's oracle (duckIvfPrefix), so the
  // persisted index and the query path can never train apart.
  // AnnIndexSpec holds the rest of the deploy contract: write→read→
  // serve ≡ inline x18, and frozen-codebook append (assignments-only
  // update for new vectors, existing assignments bit-stable).
  // Scale: the card is ≤ K rows; cost = the build itself (2 Lloyd
  // shuffles + one assignment pass), amortized over every serve.
  // ---------------------------------------------------------------------
  private def x79(s: SparkSession, d: String): DataFrame = {
    import graft.etl.AnnIndex
    val e = AnnIndex.prep(Tables.fanout(Tables.embeddings(s, d)))
      .cut(false) // consumers: seeds + 2 Lloyd assigns + final assign
    val cents = AnnIndex.train(e).cut(false)
    AnnIndex.assign(e, cents)
      .groupBy(col("cluster"))
      .agg(count(lit(1)).as("n_members"),
        sum(col("vec_id")).as("id_sum"),
        min(col("vec_id")).as("id_min"),
        max(col("vec_id")).as("id_max"))
      .join(cents.select(col("c_id"), col("c_norm")),
        col("cluster") === col("c_id"))
      .select(col("c_id"), col("n_members"), col("id_sum"),
        col("id_min"), col("id_max"), col("c_norm"))
      .orderBy("c_id")
  }
  private lazy val x79Sql =
    s"""WITH $duckIvfPrefix
       |SELECT c.c_id, CAST(COUNT(*) AS BIGINT) AS n_members,
       |  CAST(SUM(a.vec_id) AS BIGINT) AS id_sum,
       |  MIN(a.vec_id) AS id_min, MAX(a.vec_id) AS id_max,
       |  MIN(c.c_norm) AS c_norm
       |FROM assigned a JOIN c2 c ON a.cluster = c.c_id
       |GROUP BY 1 ORDER BY c_id""".stripMargin

  // ---------------------------------------------------------------------
  // X82 — incremental dedup against a persisted MinHash index: the
  // daily-ingestion pattern — the corpus is signed ONCE
  // (NearDup.writeIndex; NearDupIndexSpec proves the write→read→dedup
  // round trip), and each arriving shard is deduped by signing ONLY
  // the delta and banding it against the stored signatures. Here the
  // shard is the planted-dup generation (ids ≥ 10⁶ — every one a
  // near-copy of a base doc) and the base is the original corpus;
  // the card gives each delta doc its verdict: dup of the BASE corpus
  // (the index hit — the case that saves the full recompute), dup of
  // an earlier delta doc (intra-shard), or genuinely new. Same
  // signature family / banding / 12-of-16 verify as x02, so this
  // composes the audited kernels; the oracle is the x02 CTE chain
  // restricted to delta-sided pairs. Scale: the base corpus is
  // touched only through its signature relation — the delta's band
  // join + verify cost is bounded by shard size × bucket occupancy,
  // never by corpus size.
  // ---------------------------------------------------------------------
  private def x82(s: SparkSession, d: String): DataFrame = {
    val corpus = Tables.fanout(minhashCorpus(s, d))
    val baseSigs = graft.etl.NearDup
      .signatures(corpus.filter(col("doc_id") < 1000000L)).cut(false)
    val deltaSigs = graft.etl.NearDup
      .signatures(corpus.filter(col("doc_id") >= 1000000L)).cut(false)
    val per = graft.etl.NearDup.incrementalEdges(baseSigs, deltaSigs)
      .groupBy("doc_id")
      .agg(min(col("dup_of")).as("first_dup"),
        sum(when(col("dup_of") < 1000000L, 1L).otherwise(0L))
          .as("nb"),
        sum(when(col("dup_of") >= 1000000L, 1L).otherwise(0L))
          .as("nd"))
    deltaSigs.select("doc_id").join(per, Seq("doc_id"), "left")
      .select(col("doc_id"), col("first_dup").as("dup_of"),
        coalesce(col("nb"), lit(0L)).as("n_base"),
        coalesce(col("nd"), lit(0L)).as("n_delta"))
      .withColumn("status",
        when(col("n_base") > 0, "dup_base")
          .when(col("n_delta") > 0, "dup_delta")
          .otherwise("new"))
      .orderBy("doc_id")
  }
  private def x82Sql: String =
    s"""WITH $duckSigPairsCtes,
       |edges AS (
       |  SELECT doc_b AS doc_id, doc_a AS dup_of FROM sigm
       |  WHERE m >= $NeardupMinSig AND doc_b >= 1000000),
       |per AS (
       |  SELECT doc_id, MIN(dup_of) AS dup_of,
       |    CAST(COUNT(CASE WHEN dup_of < 1000000 THEN 1 END)
       |      AS BIGINT) AS n_base,
       |    CAST(COUNT(CASE WHEN dup_of >= 1000000 THEN 1 END)
       |      AS BIGINT) AS n_delta
       |  FROM edges GROUP BY 1),
       |deltas AS (SELECT doc_id FROM sigs WHERE doc_id >= 1000000)
       |SELECT d.doc_id, p.dup_of,
       |  CAST(COALESCE(p.n_base, 0) AS BIGINT) AS n_base,
       |  CAST(COALESCE(p.n_delta, 0) AS BIGINT) AS n_delta,
       |  CASE WHEN COALESCE(p.n_base, 0) > 0 THEN 'dup_base'
       |       WHEN COALESCE(p.n_delta, 0) > 0 THEN 'dup_delta'
       |       ELSE 'new' END AS status
       |FROM deltas d LEFT JOIN per p USING (doc_id)
       |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------------
  // X83 — late-interaction (MaxSim) rerank: the third retrieval stage
  // a modern RAG stack runs after candidate generation — ColBERT's
  // scoring shape, Σ_i max_j cos(q_i, d_j) over per-"token" subvectors
  // — applied to x05b's LSH top-10. Subvectors are the 4×16-dim
  // slices x58's PQ already treats as subspaces (the corpus has one
  // pooled embedding per doc; slicing is the deterministic stand-in
  // for per-token vectors, and the plumbing — slice norms, 16 fused
  // dot products per pair, greatest-of-4 per query slice, fixed-order
  // sum — is exactly the real operator's). Everything is IEEE double
  // arithmetic on the proven DotProduct fold (max is order-free,
  // the 4-term sum is fixed left-assoc), so scores are bit-identical
  // cross-engine. Scale: candidates are ≤ 10·|probes| rows from the
  // audited x05b plan; the rerank itself is two keyed joins against
  // the sliced-embedding relation + one row-local 16-dot projection +
  // one per-query window — rerank cost grows with the CANDIDATE list,
  // never the corpus (the whole point of the generate-then-rerank
  // split).
  // ---------------------------------------------------------------------
  /** Attach the MaxSim late-interaction score to a candidate relation
    * carrying `q_id` and `vec_id`: joins both sides against the
    * 4×16-dim sliced-embedding relation and computes
    * Σ_i max_j cos(q_i, d_j) row-locally. Shared by x83 and the w07
    * funnel so the reranker is ONE audited kernel. */
  private def withMaxsim(s: SparkSession, d: String,
      cand: DataFrame): DataFrame = {
    val e = Tables.fanout(Tables.embeddings(s, d))
      .select(col("vec_id"),
        expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("emb"))
      .cut(false) // query-side and doc-side slice consumers
    def sliced(prefix: String, idAs: String): DataFrame = {
      val base = e.select(col("vec_id").as(idAs) +:
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
    cand.join(sliced("q", "q_id"), Seq("q_id"))
      .join(sliced("d", "vec_id"), Seq("vec_id"))
      .withColumn("maxsim", maxes.reduce(_ + _))
      .drop((0 until 4).flatMap(i =>
        Seq(s"qv$i", s"qn$i", s"dv$i", s"dn$i")): _*)
  }

  private def x83(s: SparkSession, d: String): DataFrame = {
    val cand = x05b(s, d)
      .select(col("q_id"), col("vec_id"),
        col("rank").cast("long").as("lsh_rank"))
    withMaxsim(s, d, cand)
      .withColumn("rr_rank", row_number().over(
        Window.partitionBy(col("q_id"))
          .orderBy(col("maxsim").desc, col("vec_id"))).cast("long"))
      .select("q_id", "vec_id", "lsh_rank", "rr_rank", "maxsim")
      .orderBy("q_id", "rr_rank")
  }
  /** MaxSim oracle pieces: the sliced-embedding CTE chain (eall → sub
    * → subn) and the Σ greatest(...) scoring expression over `q`/`d`
    * aliases of subn — shared by the x83 and w07 oracles. */
  private lazy val duckMaxsimCtes =
    s"""eall AS (
       |  SELECT vec_id,
       |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
       |  FROM embeddings),
       |sub AS (
       |  SELECT vec_id, emb[1:16] AS v0, emb[17:32] AS v1,
       |    emb[33:48] AS v2, emb[49:64] AS v3
       |  FROM eall),
       |subn AS (
       |  SELECT vec_id, v0, v1, v2, v3,
       |    sqrt(${duckDot.format("v0", "v0")}) AS n0,
       |    sqrt(${duckDot.format("v1", "v1")}) AS n1,
       |    sqrt(${duckDot.format("v2", "v2")}) AS n2,
       |    sqrt(${duckDot.format("v3", "v3")}) AS n3
       |  FROM sub)""".stripMargin
  private lazy val duckMaxsimExpr: String = {
    def dotQD(i: Int, j: Int) =
      s"${duckDot.format(s"q.v$i", s"d.v$j")} / (q.n$i * d.n$j)"
    (0 until 4).map(i =>
      "GREATEST(" + (0 until 4).map(j => dotQD(i, j)).mkString(", ") +
        ")").mkString(" + ")
  }

  private lazy val x83Sql =
    s"""WITH lshq AS ($x05bSql),
       |$duckMaxsimCtes,
       |scored AS (
       |  SELECT l.q_id, l.vec_id, CAST(l.rank AS BIGINT) AS lsh_rank,
       |    $duckMaxsimExpr AS maxsim
       |  FROM lshq l
       |  JOIN subn q ON q.vec_id = l.q_id
       |  JOIN subn d ON d.vec_id = l.vec_id)
       |SELECT q_id, vec_id, lsh_rank, rr_rank, maxsim FROM (
       |  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY q_id
       |    ORDER BY maxsim DESC, vec_id) AS BIGINT) AS rr_rank
       |  FROM scored)
       |ORDER BY q_id, rr_rank""".stripMargin

  // ---------------------------------------------------------------------
  // W7 — RAG serving funnel (flagship): the full retrieval-side
  // pipeline a RAG deployment runs per query, composed end-to-end from
  // the audited kernels — SPARSE retrieval (x80's impact-truncated
  // integer BM25) ∥ DENSE retrieval (x05b's sign-LSH cosine) →
  // reciprocal-rank FUSION (x73's exact nano-unit RRF, full-outer +
  // COALESCE so single-system candidates survive) → late-interaction
  // RERANK of the fused top-[[W07FuseK]] (x83's MaxSim kernel) →
  // CONTEXT PACKING under a character budget (per query, take reranked
  // docs while the running total fits — x75's greedy-prefix
  // discipline). Every stage's arithmetic contract is inherited:
  // integer BM25/RRF, IEEE-exact MaxSim, exact cumulative chars — so
  // the final packed context is bit-deterministic across engines.
  // Scale: the two retrievers are the audited bounded plans;
  // everything downstream is ≤ 10–20 rows per query (fusion joins, one
  // rerank projection, one packing window) — serve cost per query is
  // independent of corpus size, the property a serving funnel exists
  // to have.
  // FuseK = 20, promoted by x93b's measured sweep (r10): the fused
  // top-10 cutoff — not the LSH probes or the impact cap — was where
  // half the truth died; letting every candidate from either arm into
  // the MaxSim rerank lifts funnel recall@10 from 50% to 90% at sf1
  // for +36% rerank rows and ZERO extra retrieval cost (the rerank is
  // candidate-list-sized, so the price is ~10 more MaxSim rows/query).
  // ---------------------------------------------------------------------
  private val W07CtxBudgetChars = 2000L
  private val W07FuseK = 20

  private def w07(s: SparkSession, d: String): DataFrame =
    funnelTail(s, d, x05b(s, d)
      .select(col("q_id"), col("vec_id"),
        col("rank").cast("long").as("r_dense")))

  /** The funnel's shared tail behind a pluggable DENSE retriever
    * (q_id, vec_id, r_dense): sparse (x80) ∥ dense → RRF at
    * [[W07FuseK]] → MaxSim rerank → context packing. w07 (sign-LSH
    * dense leg) and w07b (persisted-IVFPQ + refine dense leg) differ
    * ONLY here, so the funnel semantics stay one audited kernel. */
  private def funnelTail(s: SparkSession, d: String, dense: DataFrame)
      : DataFrame = {
    val sparse = TextOps.x80(s, d)
      .select(col("q_id"), col("doc_id").as("vec_id"),
        col("rank").as("r_sparse"))
    val fused = sparse.join(dense, Seq("q_id", "vec_id"), "full_outer")
      .withColumn("rrf_score",
        coalesce(expr("1000000000L div (60L + r_sparse)"), lit(0L)) +
          coalesce(expr("1000000000L div (60L + r_dense)"), lit(0L)))
      .withColumn("fused_rank", row_number().over(
        Window.partitionBy("q_id")
          .orderBy(col("rrf_score").desc, col("vec_id"))).cast("long"))
      .filter(col("fused_rank") <= W07FuseK)
    val reranked = withMaxsim(s, d, fused)
      .withColumn("rr_rank", row_number().over(
        Window.partitionBy("q_id")
          .orderBy(col("maxsim").desc, col("vec_id"))).cast("long"))
    val wCum = Window.partitionBy("q_id").orderBy("rr_rank")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    reranked
      .join(Tables.documents(s, d)
        .select(col("doc_id").as("vec_id"), col("n_chars")), "vec_id")
      .withColumn("cum_chars", sum("n_chars").over(wCum))
      .withColumn("picked", col("cum_chars") <= W07CtxBudgetChars)
      .select(col("q_id"), col("vec_id").as("doc_id"),
        col("fused_rank"), col("rr_rank"),
        coalesce(col("r_sparse"), lit(0L)).as("r_sparse"),
        coalesce(col("r_dense"), lit(0L)).as("r_dense"),
        col("rrf_score"), col("maxsim"), col("n_chars"),
        col("cum_chars"), col("picked"))
      .orderBy("q_id", "rr_rank")
  }
  private lazy val w07Sql =
    s"""WITH sparse AS (${TextOps.x80Sql}),
       |dense AS ($x05bSql),
       |rrf_f AS (
       |  SELECT COALESCE(sp.q_id, de.q_id) AS q_id,
       |    COALESCE(sp.doc_id, de.vec_id) AS vec_id,
       |    sp.rank AS r_sparse, de.rank AS r_dense,
       |    COALESCE(1000000000 // (60 + sp.rank), 0)
       |      + COALESCE(1000000000 // (60 + de.rank), 0) AS rrf_score
       |  FROM sparse sp FULL OUTER JOIN dense de
       |    ON sp.q_id = de.q_id AND sp.doc_id = de.vec_id),
       |rrf_top AS (
       |  SELECT * FROM (
       |    SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY q_id
       |      ORDER BY rrf_score DESC, vec_id) AS BIGINT) AS fused_rank
       |    FROM rrf_f)
       |  WHERE fused_rank <= $W07FuseK),
       |$duckMaxsimCtes,
       |rr_scored AS (
       |  SELECT f.*, $duckMaxsimExpr AS maxsim
       |  FROM rrf_top f
       |  JOIN subn q ON q.vec_id = f.q_id
       |  JOIN subn d ON d.vec_id = f.vec_id),
       |rr_ranked AS (
       |  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY q_id
       |    ORDER BY maxsim DESC, vec_id) AS BIGINT) AS rr_rank
       |  FROM rr_scored),
       |ctx AS (
       |  SELECT r.*, doc.n_chars,
       |    SUM(doc.n_chars) OVER (PARTITION BY r.q_id ORDER BY r.rr_rank
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |      AS cum_chars
       |  FROM rr_ranked r
       |  JOIN documents doc ON doc.doc_id = r.vec_id)
       |SELECT q_id, vec_id AS doc_id, fused_rank, rr_rank,
       |  CAST(COALESCE(r_sparse, 0) AS BIGINT) AS r_sparse,
       |  CAST(COALESCE(r_dense, 0) AS BIGINT) AS r_dense,
       |  rrf_score, maxsim, n_chars,
       |  CAST(cum_chars AS BIGINT) AS cum_chars,
       |  cum_chars <= $W07CtxBudgetChars AS picked
       |FROM ctx ORDER BY q_id, rr_rank""".stripMargin

  // ---------------------------------------------------------------------
  // W7b — the funnel with the dense leg a real serving tier deploys
  // (VERDICT r11 #6): w07 retrieves dense candidates with the
  // in-memory sign-LSH (x05b) — fine for a batch eval, but the engine
  // owns a PERSISTED dense index with a measured better tail: IVFPQ on
  // disk (PqSegments' manifest-snapshot layout) served through
  // PqIndex.serveRefined, the x104-promoted two-stage serve (ADC scan
  // over probed cells' code rows → exact-L2 refine of the top-RefineK,
  // 92.1% recall@10 at sf1 vs the LSH leg's 90%). Same sparse leg,
  // same RRF/MaxSim/packing tail as w07 (funnelTail — ONE audited
  // kernel), so the only moving part is the retriever swap. The index
  // round-trips through the on-disk segmented layout (init → manifest
  // resolve → read), the deployable shape. x93c grades this funnel on
  // the x93 harness — the recall gate the promotion is judged on.
  // MEASURED VERDICT (sf1, 100 queries): mean funnel recall@10 =
  // 92.1% (packed 65.7%) vs the LSH-leg funnel's 90.0% (x93, the r10
  // sweep's promoted config) — the persisted index's refined serve
  // clears the ≥-LSH gate while being the leg that actually deploys
  // (on-disk, compressed codes, O(probed cells + RefineK) per query
  // vs the LSH leg's in-memory full-signature pass).
  // Scale: build is the w10-audited bounded plan; serve touches only
  // probed cells' code rows + RefineK exact rows/query; the tail is
  // candidate-list-sized. Oracle: x97's ADC chain at k'=RefineK + an
  // x104-style exact-L2 refine as the dense CTE inside w07's funnel
  // SQL.
  // ---------------------------------------------------------------------
  private def w07b(s: SparkSession, d: String): DataFrame = {
    import graft.etl.{AnnIndex, PqIndex, PqSegments}
    val root = java.nio.file.Files
      .createTempDirectory("graft_w07b_pq").toString
    val e = AnnIndex.prep(Tables.fanout(Tables.embeddings(s, d)))
      .cut(false) // index build, query slice, refine vectors
    PqSegments.init(PqIndex.build(e), root)
    val idx = PqSegments.read(s, root)
    val q = e
      .join(broadcast(evalIds(Tables.embeddings(s, d), "vec_id")),
        "vec_id")
      .select(col("vec_id").as("q_id"), col("emb"), col("norm"))
    val dense = PqIndex.serveRefined(q, idx,
      e.select(col("vec_id"), col("emb")))
      .select(col("q_id"), col("vec_id"), col("rank").as("r_dense"))
    funnelTail(s, d, dense)
  }
  private lazy val w07bSql = {
    val lutJoins = (1 until PqSub).map(i =>
      s"JOIN lut$i l$i ON l$i.q_id = s.q_id" +
        s" AND l$i.c_id = s.code$i").mkString("\n       |  ")
    s"""WITH sparse AS (${TextOps.x80Sql}),
       |$duckIvfPrefix,
       |$duckQids,
       |${(0 until PqSub).map(duckPqCtes).mkString(",\n")},
       |codes AS (
       |  SELECT vec_id, ${(0 until PqSub).map(i => s"code$i")
            .mkString(", ")}
       |  FROM code0
       |  ${(1 until PqSub).map(i => s"JOIN code$i USING (vec_id)")
            .mkString("\n       |  ")}),
       |probes AS (
       |  SELECT q_id, c_id AS cluster FROM (
       |    SELECT e.vec_id AS q_id, c.c_id,
       |      ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
       |        1.0 - ${duckDot.format("e.emb", "c.c_emb")}
       |          / (e.norm * c.c_norm), c.c_id) AS rk
       |    FROM e CROSS JOIN c2 c
       |      WHERE e.vec_id IN (SELECT vec_id FROM qids))
       |  WHERE rk <= $IvfProbes),
       |${(0 until PqSub).map(i =>
          s"""lut$i AS (
             |  SELECT s.vec_id AS q_id, c.c_id,
             |    s.vv - 2.0 * ${duckDot.format("s.v", "c.c_v")} + c.c_vv
             |      AS d$i
             |  FROM es$i s CROSS JOIN cb$i c
             |  WHERE s.vec_id IN (SELECT vec_id FROM qids))"""
            .stripMargin)
          .mkString(",\n")},
       |scan AS (
       |  SELECT p.q_id, k.vec_id,
       |    ${(0 until PqSub).map(i => s"k.code$i").mkString(", ")}
       |  FROM codes k
       |  JOIN assigned a ON a.vec_id = k.vec_id
       |  JOIN probes p ON p.cluster = a.cluster
       |  WHERE k.vec_id <> p.q_id),
       |adc AS (
       |  SELECT s.q_id, s.vec_id,
       |    ${(0 until PqSub).map(i => s"l$i.d$i").mkString(" + ")} AS adc
       |  FROM scan s
       |  JOIN lut0 l0 ON l0.q_id = s.q_id AND l0.c_id = s.code0
       |  $lutJoins),
       |adctop AS (
       |  SELECT q_id, vec_id FROM (
       |    SELECT q_id, vec_id, ROW_NUMBER() OVER (PARTITION BY q_id
       |      ORDER BY adc, vec_id) AS rk FROM adc)
       |  WHERE rk <= ${graft.etl.PqIndex.RefineK}),
       |qv AS (SELECT vec_id AS q_id, emb FROM e
       |       WHERE vec_id IN (SELECT vec_id FROM qids)),
       |dense AS (
       |  SELECT q_id, vec_id, rrk AS rank FROM (
       |    SELECT c.q_id, c.vec_id,
       |      CAST(ROW_NUMBER() OVER (PARTITION BY c.q_id ORDER BY
       |        ${duckDot.format("v.emb", "v.emb")}
       |          - 2.0 * ${duckDot.format("v.emb", "qv.emb")}
       |          + ${duckDot.format("qv.emb", "qv.emb")}, c.vec_id)
       |        AS BIGINT) AS rrk
       |    FROM adctop c
       |    JOIN e v ON v.vec_id = c.vec_id
       |    JOIN qv ON qv.q_id = c.q_id)
       |  WHERE rrk <= 10),
       |rrf_f AS (
       |  SELECT COALESCE(sp.q_id, de.q_id) AS q_id,
       |    COALESCE(sp.doc_id, de.vec_id) AS vec_id,
       |    sp.rank AS r_sparse, de.rank AS r_dense,
       |    COALESCE(1000000000 // (60 + sp.rank), 0)
       |      + COALESCE(1000000000 // (60 + de.rank), 0) AS rrf_score
       |  FROM sparse sp FULL OUTER JOIN dense de
       |    ON sp.q_id = de.q_id AND sp.doc_id = de.vec_id),
       |rrf_top AS (
       |  SELECT * FROM (
       |    SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY q_id
       |      ORDER BY rrf_score DESC, vec_id) AS BIGINT) AS fused_rank
       |    FROM rrf_f)
       |  WHERE fused_rank <= $W07FuseK),
       |$duckMaxsimCtes,
       |rr_scored AS (
       |  SELECT f.*, $duckMaxsimExpr AS maxsim
       |  FROM rrf_top f
       |  JOIN subn q ON q.vec_id = f.q_id
       |  JOIN subn d ON d.vec_id = f.vec_id),
       |rr_ranked AS (
       |  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY q_id
       |    ORDER BY maxsim DESC, vec_id) AS BIGINT) AS rr_rank
       |  FROM rr_scored),
       |ctx AS (
       |  SELECT r.*, doc.n_chars,
       |    SUM(doc.n_chars) OVER (PARTITION BY r.q_id ORDER BY r.rr_rank
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |      AS cum_chars
       |  FROM rr_ranked r
       |  JOIN documents doc ON doc.doc_id = r.vec_id)
       |SELECT q_id, vec_id AS doc_id, fused_rank, rr_rank,
       |  CAST(COALESCE(r_sparse, 0) AS BIGINT) AS r_sparse,
       |  CAST(COALESCE(r_dense, 0) AS BIGINT) AS r_dense,
       |  rrf_score, maxsim, n_chars,
       |  CAST(cum_chars AS BIGINT) AS cum_chars,
       |  cum_chars <= $W07CtxBudgetChars AS picked
       |FROM ctx ORDER BY q_id, rr_rank""".stripMargin
  }

  // ---------------------------------------------------------------------
  // X93 — funnel recall: the END-TO-END eval of the w07 serving stack
  // against the exact brute-force truth. x60 grades ONE retriever
  // (IVF recall vs x05); this grades the whole funnel — sparse ∥ dense
  // → RRF → MaxSim → packing — per query: how many of the exact
  // cosine top-10 survive into the fused+reranked top-10 (recall@10),
  // and how many survive the context-budget cut (the number a RAG
  // deployment actually ships to the model). Both denominators are the
  // per-query truth size (COUNT, not a literal 10 — robust to corpora
  // smaller than k). Composes w07 and x05 verbatim, so every stage
  // keeps its audited bounded plan; the eval itself is one keyed
  // left join of two ≤10-rows/query relations + one per-query agg —
  // candidate-list-sized, never corpus². This is the measurement that
  // says whether x05b's LSH probes + x80's impact cap (the two places
  // the funnel trades recall for scale) are costing answer quality.
  // ---------------------------------------------------------------------
  private def x93(s: SparkSession, d: String): DataFrame =
    funnelRecall(s, d, w07(s, d))

  /** x93's grading harness behind a pluggable funnel output — shared
    * by x93 (w07, LSH dense leg) and x93c (w07b, persisted-IVFPQ
    * dense leg) so the two legs are graded by ONE eval. */
  private def funnelRecall(s: SparkSession, d: String,
      fun: DataFrame): DataFrame = {
    val truth = x05(s, d).select(col("q_id"), col("vec_id")).cut(false)
    val truthN = truth.groupBy("q_id").agg(count(lit(1)).as("n_truth"))
    val funnel = fun.filter(col("rr_rank") <= 10)
      .select(col("q_id"), col("doc_id").as("vec_id"), col("picked"))
    funnel
      .join(truth.withColumn("hit", lit(true)), Seq("q_id", "vec_id"),
        "left")
      .groupBy("q_id")
      .agg(count(lit(1)).as("n_funnel"),
        sum(when(col("picked"), 1L).otherwise(0L)).as("n_packed"),
        sum(when(col("hit"), 1L).otherwise(0L)).as("n_hits"),
        sum(when(col("hit") && col("picked"), 1L).otherwise(0L))
          .as("n_hits_packed"))
      .join(truthN, "q_id")
      .select(col("q_id"), col("n_truth"), col("n_funnel"),
        col("n_packed"), col("n_hits"), col("n_hits_packed"),
        expr("1000000L * n_hits div n_truth").as("recall_ppm"),
        expr("1000000L * n_hits_packed div n_truth")
          .as("packed_recall_ppm"))
      .orderBy("q_id")
  }
  private lazy val x93Sql = funnelRecallSql(w07Sql)

  /** x93's oracle harness behind a pluggable funnel SQL (the Spark
    * side's funnelRecall twin). */
  private def funnelRecallSql(funSql: String): String =
    s"""WITH fun AS ($funSql),
       |tru AS ($x05Sql),
       |trun AS (SELECT q_id, CAST(COUNT(*) AS BIGINT) AS n_truth
       |         FROM tru GROUP BY 1),
       |per AS (
       |  SELECT f.q_id,
       |    CAST(COUNT(*) AS BIGINT) AS n_funnel,
       |    CAST(SUM(CASE WHEN f.picked THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_packed,
       |    CAST(SUM(CASE WHEN t.vec_id IS NOT NULL THEN 1 ELSE 0 END)
       |      AS BIGINT) AS n_hits,
       |    CAST(SUM(CASE WHEN t.vec_id IS NOT NULL AND f.picked
       |      THEN 1 ELSE 0 END) AS BIGINT) AS n_hits_packed
       |  FROM fun f LEFT JOIN tru t
       |    ON t.q_id = f.q_id AND t.vec_id = f.doc_id
       |  WHERE f.rr_rank <= 10
       |  GROUP BY 1)
       |SELECT p.q_id, n.n_truth, p.n_funnel, p.n_packed, p.n_hits,
       |  p.n_hits_packed,
       |  CAST(1000000 * p.n_hits // n.n_truth AS BIGINT) AS recall_ppm,
       |  CAST(1000000 * p.n_hits_packed // n.n_truth AS BIGINT)
       |    AS packed_recall_ppm
       |FROM per p JOIN trun n USING (q_id)
       |ORDER BY q_id""".stripMargin

  // ---------------------------------------------------------------------
  // X93c — w07b graded on the x93 harness: the promotion gate for the
  // persisted-IVFPQ dense leg (VERDICT r11 #6 — "recall@10 ≥ the LSH
  // leg's on the x93 harness"). Same truth (exact cosine top-10), same
  // per-query denominators, same packing cut — only the funnel under
  // eval changes, so the x93-vs-x93c delta isolates the retriever
  // swap. The measured verdict lives in w07b's doc block.
  // ---------------------------------------------------------------------
  private def x93c(s: SparkSession, d: String): DataFrame =
    funnelRecall(s, d, w07b(s, d))
  private lazy val x93cSql = funnelRecallSql(w07bSql)

  // ---------------------------------------------------------------------
  // X93b — funnel knob sweep: x93 measured the w07 serving funnel at
  // 50% recall@10 and said WHERE the loss comes from (x05b's exact-
  // bucket LSH probes + x80's impact cap, the two recall-for-scale
  // trades); this query PRICES the knobs, cross-engine, in one card —
  // the tuning run a deployment does before promoting a default:
  //   base       — the pre-r10 default (exact-bucket dense probe,
  //                fused top-10 into rerank);
  //   widefuse   — fused top-20 into the MaxSim rerank (a larger
  //                candidate k costs 2x rerank rows, recovers truth
  //                that RRF ranked 11..20) — PROMOTED into w07 as the
  //                shipping default on this sweep's sf1 measurement:
  //                90% vs 50% mean recall@10 at +36% rerank rows and
  //                zero extra retrieval cost (multiprobe bought
  //                nothing at sf1: +47% dense pairs, flat recall);
  //   multiprobe — the dense arm probes its own bucket PLUS every
  //                1-bit-flip neighbor (standard multi-probe LSH: the
  //                nearest buckets differ in one hyperplane sign), a
  //                ~(planes+1)x candidate-volume price for the recall
  //                LSH loses at bucket boundaries.
  // Per config: mean recall@10 / packed recall (ppm, per-query truth
  // denominators — x93's rule), and the two EXACT cost columns the
  // trade is measured in: n_rerank_rows (candidates entering MaxSim)
  // and n_dense_pairs (bucket-join candidate volume). Every stage
  // reuses the audited kernels (x80 sparse, x05b buckets, x73 RRF,
  // x83 MaxSim, x75 packing, x05 truth); the shared arms (truth,
  // sparse, bucketed corpus) are cut once across configs. Scale: the
  // sweep is 3 funnel plans over candidate-list-sized relations —
  // multiprobe's fan-out is planes+1 ≈ log2(n) buckets/query at ~1
  // expected occupancy each, still linear in queries.
  // ---------------------------------------------------------------------
  private def x93b(s: SparkSession, d: String): DataFrame = {
    val truth = x05(s, d).select(col("q_id"), col("vec_id")).cut(false)
    val truthCnt = truth.groupBy("q_id").agg(count(lit(1)).as("nt"))
    val sparse = TextOps.x80(s, d)
      .select(col("q_id"), col("doc_id").as("vec_id"),
        col("rank").as("r_sparse"))
      .cut(false) // one sparse arm, three fuse consumers
    val e = Tables.fanout(Tables.embeddings(s, d))
      .withColumn("norm",
        sqrt(DotProduct(col("embedding"), col("embedding"))))
    val nplanes = adaptivePlanes(Tables.embeddings(s, d).count())
    val vecs = signBucketsCapped(e, "embedding", nplanes)
      .cut(false) // corpus side of both dense arms + the query slice
    val q0 = vecs
      .join(broadcast(evalIds(Tables.embeddings(s, d), "vec_id")),
        "vec_id")
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
        col("norm").as("q_norm"), col("bucket"))
    val docChars = Tables.documents(s, d)
      .select(col("doc_id").as("vec_id"), col("n_chars"))

    // dense arm: top-10 per query + the exact candidate-volume count
    def denseArm(multi: Boolean): (DataFrame, DataFrame) = {
      val qp = if (!multi) q0 else {
        val flips = q0
          .crossJoin(broadcast(s.range(nplanes).toDF("p")))
          .withColumn("bucket", expr(
            "bucket ^ shiftleft(CAST(1 AS BIGINT), CAST(p AS INT))"))
          .drop("p")
        q0.unionByName(flips)
      }
      val pairs = vecs.join(qp, Seq("bucket"))
        .filter(col("vec_id") =!= col("q_id"))
        .withColumn("cos", DotProduct(col("embedding"), col("q_emb")) /
          (col("norm") * col("q_norm")))
        .cut(false) // volume census + the top-10 window
      val top = pairs
        .withColumn("rank", row_number().over(Window.partitionBy("q_id")
          .orderBy(col("cos").desc, col("vec_id"))))
        .filter(col("rank") <= 10)
        .select(col("q_id"), col("vec_id"),
          col("rank").cast("long").as("r_dense"))
      (top, pairs.agg(count(lit(1)).as("n_dense_pairs")))
    }
    def fuse(dense: DataFrame, fuseK: Int): DataFrame =
      sparse.join(dense, Seq("q_id", "vec_id"), "full_outer")
        .withColumn("rrf_score",
          coalesce(expr("1000000000L div (60L + r_sparse)"), lit(0L)) +
            coalesce(expr("1000000000L div (60L + r_dense)"), lit(0L)))
        .withColumn("fused_rank", row_number().over(
          Window.partitionBy("q_id")
            .orderBy(col("rrf_score").desc, col("vec_id"))).cast("long"))
        .filter(col("fused_rank") <= fuseK)
        .select("q_id", "vec_id")
    def rerankPack(fused: DataFrame): DataFrame = {
      val reranked = withMaxsim(s, d, fused)
        .withColumn("rr_rank", row_number().over(
          Window.partitionBy("q_id")
            .orderBy(col("maxsim").desc, col("vec_id"))).cast("long"))
      val wCum = Window.partitionBy("q_id").orderBy("rr_rank")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      reranked.join(docChars, "vec_id")
        .withColumn("cum_chars", sum("n_chars").over(wCum))
        .withColumn("picked", col("cum_chars") <= W07CtxBudgetChars)
        .select("q_id", "vec_id", "rr_rank", "picked")
    }
    def gradeCfg(cfg: String, fused: DataFrame, nDense: DataFrame)
        : DataFrame = {
      val fusedC = fused.cut(false) // rerank input + the cost census
      val per = rerankPack(fusedC).filter(col("rr_rank") <= 10)
        .join(truth.withColumn("hit", lit(true)),
          Seq("q_id", "vec_id"), "left")
        .groupBy("q_id")
        .agg(sum(when(col("hit"), 1L).otherwise(0L)).as("nh"),
          sum(when(col("hit") && col("picked"), 1L).otherwise(0L))
            .as("nhp"))
        .join(truthCnt, "q_id")
        .select(expr("1000000L * nh div nt").as("r_ppm"),
          expr("1000000L * nhp div nt").as("p_ppm"))
      per.agg(count(lit(1)).as("n_q"),
          expr("sum(r_ppm) div count(1)").as("mean_recall_ppm"),
          expr("sum(p_ppm) div count(1)").as("mean_packed_ppm"))
        .crossJoin(fusedC.agg(count(lit(1)).as("n_rerank_rows")))
        .crossJoin(nDense)
        .select(lit(cfg).as("config"), col("n_q"),
          col("mean_recall_ppm"), col("mean_packed_ppm"),
          col("n_rerank_rows"), col("n_dense_pairs"))
    }
    val (denseB, ndpB) = denseArm(multi = false)
    val denseBC = denseB.cut(false) // base + widefuse consumers
    val ndpBC = ndpB.cut(false)
    val (denseM, ndpM) = denseArm(multi = true)
    gradeCfg("1_base", fuse(denseBC, 10), ndpBC)
      .unionByName(gradeCfg("2_widefuse", fuse(denseBC, 20), ndpBC))
      .unionByName(gradeCfg("3_multiprobe", fuse(denseM, 10), ndpM))
      .orderBy("config")
  }

  /** One x93b config chain: fuse at `fuseK` over `dense_$denseTag`,
    * MaxSim rerank, pack, grade vs truth, 1-row summary. MATERIALIZED
    * on every multiply-referenced relation (DuckDB re-inlines CTEs —
    * the x89 lesson). */
  private def x93bCfgSql(tag: String, cfgName: String, denseTag: String,
      fuseK: Int): String =
    s"""fused_$tag AS MATERIALIZED (
       |  SELECT q_id, vec_id FROM (
       |    SELECT q_id, vec_id, ROW_NUMBER() OVER (PARTITION BY q_id
       |      ORDER BY rrf_score DESC, vec_id) AS frk
       |    FROM (
       |      SELECT COALESCE(sp.q_id, de.q_id) AS q_id,
       |        COALESCE(sp.doc_id, de.vec_id) AS vec_id,
       |        COALESCE(1000000000 // (60 + sp.rank), 0)
       |          + COALESCE(1000000000 // (60 + de.rank), 0) AS rrf_score
       |      FROM sparse sp FULL OUTER JOIN dense_$denseTag de
       |        ON sp.q_id = de.q_id AND sp.doc_id = de.vec_id))
       |  WHERE frk <= $fuseK),
       |rrs_$tag AS (
       |  SELECT f.q_id, f.vec_id, $duckMaxsimExpr AS maxsim
       |  FROM fused_$tag f
       |  JOIN subnm q ON q.vec_id = f.q_id
       |  JOIN subnm d ON d.vec_id = f.vec_id),
       |rr_$tag AS MATERIALIZED (
       |  SELECT q_id, vec_id, CAST(ROW_NUMBER() OVER (PARTITION BY q_id
       |    ORDER BY maxsim DESC, vec_id) AS BIGINT) AS rr_rank
       |  FROM rrs_$tag),
       |ctx_$tag AS (
       |  SELECT r.q_id, r.vec_id, r.rr_rank,
       |    SUM(doc.n_chars) OVER (PARTITION BY r.q_id ORDER BY r.rr_rank
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |      <= $W07CtxBudgetChars AS picked
       |  FROM rr_$tag r JOIN documents doc ON doc.doc_id = r.vec_id),
       |per_$tag AS (
       |  SELECT c.q_id,
       |    1000000 * CAST(SUM(CASE WHEN t.vec_id IS NOT NULL
       |      THEN 1 ELSE 0 END) AS BIGINT) // n.nt AS r_ppm,
       |    1000000 * CAST(SUM(CASE WHEN t.vec_id IS NOT NULL AND
       |      c.picked THEN 1 ELSE 0 END) AS BIGINT) // n.nt AS p_ppm
       |  FROM ctx_$tag c
       |  LEFT JOIN tru t ON t.q_id = c.q_id AND t.vec_id = c.vec_id
       |  JOIN trun n ON n.q_id = c.q_id
       |  WHERE c.rr_rank <= 10
       |  GROUP BY c.q_id, n.nt),
       |sum_$tag AS (
       |  SELECT '$cfgName' AS config,
       |    CAST(COUNT(*) AS BIGINT) AS n_q,
       |    CAST(SUM(r_ppm) // COUNT(*) AS BIGINT) AS mean_recall_ppm,
       |    CAST(SUM(p_ppm) // COUNT(*) AS BIGINT) AS mean_packed_ppm,
       |    (SELECT CAST(COUNT(*) AS BIGINT) FROM fused_$tag)
       |      AS n_rerank_rows,
       |    (SELECT nd FROM ndp_$denseTag) AS n_dense_pairs
       |  FROM per_$tag)""".stripMargin

  private lazy val x93bSql =
    s"""WITH sparse AS MATERIALIZED (${TextOps.x80Sql}),
       |tru AS MATERIALIZED ($x05Sql),
       |trun AS (SELECT q_id, CAST(COUNT(*) AS BIGINT) AS nt
       |         FROM tru GROUP BY 1),
       |e5 AS (
       |  SELECT vec_id, embedding,
       |    sqrt(${duckDot.format("embedding", "embedding")}) AS norm
       |  FROM embeddings),
       |planes5 AS (
       |  SELECT unnest(generate_series(0, ${duckPlanes("embeddings")} - 1))
       |    AS p),
       |buckets5 AS (
       |  SELECT vec_id,
       |    SUM(CASE WHEN ${planeDot("embedding", "p.p", 64,
              spark = false)} > 0
       |        THEN (CAST(1 AS BIGINT) << p.p) ELSE 0 END) AS bucket
       |  FROM e5 CROSS JOIN planes5 p
       |  GROUP BY 1),
       |vecs5 AS MATERIALIZED (
       |  SELECT e5.*, b.bucket FROM e5 JOIN buckets5 b USING (vec_id)
       |  QUALIFY COUNT(*) OVER (PARTITION BY b.bucket) <= $BucketCap),
       |${duckEvalIds("qids5", "e5")},
       |q05 AS MATERIALIZED (
       |  SELECT vec_id AS q_id, embedding AS q_emb, norm AS q_norm,
       |    bucket FROM vecs5
       |  WHERE vec_id IN (SELECT vec_id FROM qids5)),
       |pairs_b AS MATERIALIZED (
       |  SELECT q_id, vec_id,
       |    ${duckDot.format("embedding", "q_emb")} / (norm * q_norm)
       |      AS cos
       |  FROM vecs5 JOIN q05 USING (bucket) WHERE vec_id <> q_id),
       |ndp_b AS (SELECT CAST(COUNT(*) AS BIGINT) AS nd FROM pairs_b),
       |dense_b AS MATERIALIZED (
       |  SELECT q_id, vec_id, rank FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id
       |      ORDER BY cos DESC, vec_id) AS rank FROM pairs_b)
       |  WHERE rank <= 10),
       |qp_m AS (
       |  SELECT q_id, q_emb, q_norm, bucket FROM q05
       |  UNION ALL
       |  SELECT q_id, q_emb, q_norm,
       |    xor(bucket, CAST(1 AS BIGINT) << fp.p) AS bucket
       |  FROM q05 CROSS JOIN planes5 fp),
       |pairs_m AS MATERIALIZED (
       |  SELECT q.q_id, v.vec_id,
       |    ${duckDot.format("v.embedding", "q.q_emb")}
       |      / (v.norm * q.q_norm) AS cos
       |  FROM vecs5 v JOIN qp_m q USING (bucket)
       |  WHERE v.vec_id <> q.q_id),
       |ndp_m AS (SELECT CAST(COUNT(*) AS BIGINT) AS nd FROM pairs_m),
       |dense_m AS MATERIALIZED (
       |  SELECT q_id, vec_id, rank FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id
       |      ORDER BY cos DESC, vec_id) AS rank FROM pairs_m)
       |  WHERE rank <= 10),
       |$duckMaxsimCtes,
       |subnm AS MATERIALIZED (SELECT * FROM subn),
       |${x93bCfgSql("b1", "1_base", "b", 10)},
       |${x93bCfgSql("w", "2_widefuse", "b", 20)},
       |${x93bCfgSql("m", "3_multiprobe", "m", 10)}
       |SELECT * FROM sum_b1
       |UNION ALL SELECT * FROM sum_w
       |UNION ALL SELECT * FROM sum_m
       |ORDER BY config""".stripMargin

  // ---------------------------------------------------------------------
  // W8 — nightly ingest (flagship): ONE shard, all three persisted
  // index families folding it through their APPEND paths — the batch
  // job a 100 TB corpus actually runs every night. The corpus splits
  // into the indexed base (doc_id % 3 ≠ 0) and tonight's shard
  // (% 3 = 0); the card is the long-format ops report the job emits:
  //   sparse  — the shard folded by SparseIndex.append (delta doc/term
  //             census + the post-append posting and token totals; the
  //             SPARK side goes THROUGH append while the oracle reads
  //             the full-rebuild CTEs — x92's append theorem re-gated
  //             at the summary grain, shared bm25IndexCtes);
  //   minhash — NearDup.incrementalEdges verdicts (dup-of-base = the
  //             index hit that saves the recompute, dup-of-earlier-
  //             delta, genuinely new) on the PLAIN corpus (no planted
  //             rows — unlike x82, the delta here is not id-ordered,
  //             so the oracle orients each verified pair by base/delta
  //             membership rather than id magnitude);
  //   dense   — the shard assigned against the standing codebook
  //             (duckIvfPrefix verbatim): vectors landed, cells
  //             touched, exact membership fingerprint.
  // r10 adds the RETRACTION leg the lifecycle was missing (VERDICT r9
  // #1): after the appends, tonight's revision set (doc_id % 10 = 4)
  // is retracted from all the indexes through each family's delete
  // path — SparseIndex.delete (touched terms re-truncated from the
  // kept tf — the un-truncation x96 gates per-term), NearDup
  // .deleteFromIndex and AnnIndex.delete (keyed anti-joins, exact by
  // row-locality) — and the card carries post-retraction censuses
  // while the oracle computes them from scratch over the corpus
  // WITHOUT the retracted docs: the delete theorem re-gated at the
  // nightly-job grain. r10 also adds the FOURTH family: the shard
  // through the compressed PqIndex's build(base)/append/delete with
  // frozen base-trained books — the oracle re-trains the books on the
  // base slice and encodes the kept rows from scratch, so the frozen-
  // codebook lifecycle is itself cross-engine-gated.
  // Every value is an exact BIGINT; the three families see the SAME
  // shard definition. Scale: each leg is its family's audited bounded
  // plan; the base corpus is touched only through its index tables
  // (sparse/minhash) or its frozen codebook (dense) — the whole point
  // of the build/serve/append/delete split now complete.
  // ---------------------------------------------------------------------
  private def w08(s: SparkSession, d: String): DataFrame = {
    import graft.etl.{AnnIndex, NearDup, PqIndex, SparseIndex}
    def rows(fam: String, stacked: org.apache.spark.sql.Column,
        src: DataFrame): DataFrame =
      src.select(stacked.as(Seq("metric", "value")))
        .select(lit(fam).as("family"), col("metric"),
          col("value").cast("long").as("value"))
    // sparse: fold the shard through append (≡ rebuild, x92's theorem)
    val tf = SparseIndex
      .termFreqs(Tables.fanout(Tables.documents(s, d)))
      .cut(false) // base build + delta append + delta census
    val deltaTf = tf.filter(col("doc_id") % 3 === 0)
    val idx0 = SparseIndex.append(
      SparseIndex.build(tf.filter(col("doc_id") % 3 =!= 0)), deltaTf)
    // the appended posting lists gained consumers in r10 (append census
    // + the delete's touched/untouched split) — cut so the append
    // subtree plans once, not per consumer (the x58 lesson)
    val idx = idx0.copy(plist = idx0.plist.cut(false))
    val sp = deltaTf
      .agg(countDistinct(col("doc_id")).as("ndd"),
        countDistinct(col("tok")).as("ntt"))
      .crossJoin(broadcast(idx.plist.agg(count(lit(1)).as("npa"))))
      .crossJoin(broadcast(idx.stats.select(col("t_tokens").as("tta"))))
    val sparseRows = rows("sparse", expr(
      "stack(4, 'n_delta_docs', ndd, 'n_touched_terms', ntt," +
        " 'n_postings_after', npa, 't_tokens_after', tta)"), sp)
    // retraction: tonight's revision set out of the appended index
    val retractIds = tf.select("doc_id").distinct()
      .filter(col("doc_id") % 10 === 4)
    val idxR = SparseIndex.delete(idx, retractIds)
    val spr = idxR.stats
      .select(col("n_docs").as("ndr"), col("t_tokens").as("ttr"))
      .crossJoin(broadcast(idxR.plist.agg(count(lit(1)).as("npr"))))
    val sparseRetractRows = rows("sparse", expr(
      "stack(3, 'n_docs_after_retract', ndr," +
        " 'n_postings_after_retract', npr," +
        " 't_tokens_after_retract', ttr)"), spr)
    // minhash: the shard deduped against the signature index
    val corpus = Tables.fanout(Tables.documents(s, d))
    val baseSigs = NearDup
      .signatures(corpus.filter(col("doc_id") % 3 =!= 0)).cut(false)
    val deltaSigs = NearDup
      .signatures(corpus.filter(col("doc_id") % 3 === 0)).cut(false)
    val per = NearDup.incrementalEdges(baseSigs, deltaSigs)
      .groupBy("doc_id")
      .agg(max(when(col("dup_of") % 3 =!= 0, 1L).otherwise(0L)).as("hb"),
        max(when(col("dup_of") % 3 === 0, 1L).otherwise(0L)).as("hd"))
    val mh = deltaSigs.select("doc_id").join(per, Seq("doc_id"), "left")
      .agg(sum(when(col("hb") === 1L, 1L).otherwise(0L)).as("nb"),
        sum(when(coalesce(col("hb"), lit(0L)) === 0L &&
          col("hd") === 1L, 1L).otherwise(0L)).as("nd"),
        sum(when(col("hb").isNull && col("hd").isNull, 1L)
          .otherwise(0L)).as("nn"))
    val mhRows = rows("minhash", expr(
      "stack(3, 'n_dup_base', nb, 'n_dup_delta', nd, 'n_new', nn)"), mh)
    // minhash retraction: anti-join the revision set out of the
    // combined signature index (exact — signatures are per-doc)
    val mhr = NearDup.deleteFromIndex(
      baseSigs.unionByName(deltaSigs),
      corpus.filter(col("doc_id") % 10 === 4).select("doc_id"))
      .agg(count(lit(1)).as("nsr"), sum(col("doc_id")).as("sds"))
    val mhRetractRows = rows("minhash", expr(
      "stack(2, 'n_sigs_after_retract', nsr," +
        " 'sig_doc_sum_after_retract', sds)"), mhr)
    // dense: the shard assigned against the standing codebook
    val e = AnnIndex.prep(Tables.fanout(Tables.embeddings(s, d)))
      .cut(false)
    val assigned = AnnIndex.assign(e, AnnIndex.train(e).cut(false))
      .cut(false) // delta census + retraction census
    val dn = assigned
      .filter(col("vec_id") % 3 === 0)
      .agg(count(lit(1)).as("ndv"),
        countDistinct(col("cluster")).as("ncl"),
        sum(col("vec_id")).as("ids"))
    val denseRows = rows("dense", expr(
      "stack(3, 'n_delta_vecs', ndv, 'n_cells_touched', ncl," +
        " 'delta_id_sum', ids)"), dn)
    // dense retraction: frozen-codebook anti-join (AnnIndex.delete)
    val dnr = AnnIndex.delete(assigned,
      e.select("vec_id").filter(col("vec_id") % 10 === 4))
      .agg(count(lit(1)).as("nvr"), sum(col("vec_id")).as("vis"))
    val denseRetractRows = rows("dense", expr(
      "stack(2, 'n_vecs_after_retract', nvr," +
        " 'vec_id_sum_after_retract', vis)"), dnr)
    // pq: the FOURTH family — the shard through the compressed index's
    // full lifecycle (build on the base, append the shard against the
    // FROZEN base-trained books, retract the revision set); the census
    // reads only the codes table. build cuts its code rows, so
    // append's disjointness check and the census read them once (the
    // x58/plist lesson, r14 profiling: an uncut check was 9 jobs / up
    // to 18 s summed task time)
    val pqBase = PqIndex.build(e.filter(col("vec_id") % 3 =!= 0))
    val pqApp = PqIndex.append(pqBase, e.filter(col("vec_id") % 3 === 0))
    val pqRet = PqIndex.delete(pqApp,
      e.select("vec_id").filter(col("vec_id") % 10 === 4))
    val pqc = pqRet.codes.agg(
      count(lit(1)).as("nca"),
      sum(expr("vec_id * 31 + code0 + code1 + code2 + code3"))
        .as("cfp"))
    val pqRows = rows("pq", expr(
      "stack(2, 'n_codes_after_retract', nca," +
        " 'code_fingerprint', cfp)"), pqc)
    sparseRows.unionByName(sparseRetractRows)
      .unionByName(mhRows).unionByName(mhRetractRows)
      .unionByName(denseRows).unionByName(denseRetractRows)
      .unionByName(pqRows)
      .orderBy("family", "metric")
  }
  /** w08's pq-leg oracle chain for subspace `i`: books trained on the
    * BASE slices only (the frozen-codebook contract the library's
    * append holds), kept post-retraction rows encoded against them —
    * fresh `w`-prefixed names so the shared duckPqCtes text (and with
    * it the x58/x95/x97 oracles) stays byte-stable. */
  private def w08PqCtes(i: Int): String = {
    val lo = PqDims * i + 1
    val hi = PqDims * (i + 1)
    s"""wst$i AS (SELECT vec_id, emb[$lo:$hi] AS v FROM e
       |  WHERE vec_id % 3 <> 0),
       |wet$i AS (SELECT vec_id, v,
       |  ${duckDot.format("v", "v")} AS vv FROM wst$i),
       |wseeds$i AS (
       |  SELECT vec_id AS c_id, v AS c_v, vv AS c_vv FROM wet$i
       |  ORDER BY ((vec_id % 2147483648) * 2654435761) % 1000000007,
       |    vec_id
       |  LIMIT $PqK),
       |wpa$i AS (
       |  SELECT vec_id, v, c_id AS cluster FROM (
       |    SELECT s.vec_id, s.v, c.c_id,
       |      ROW_NUMBER() OVER (PARTITION BY s.vec_id ORDER BY
       |        s.vv - 2.0 * ${duckDot.format("s.v", "c.c_v")} + c.c_vv,
       |        c.c_id) AS rk
       |    FROM wet$i s CROSS JOIN wseeds$i c) WHERE rk = 1),
       |wpm$i AS (
       |  SELECT cluster, j,
       |    CAST(CAST(SUM(CAST(v[j] AS DECIMAL(18,6))) AS VARCHAR)
       |        AS DOUBLE)
       |      / CAST(COUNT(*) AS DOUBLE) AS coord
       |  FROM wpa$i, unnest(generate_series(1, len(v))) AS t(j)
       |  GROUP BY 1, 2),
       |wvl$i AS (
       |  SELECT cluster AS c_id, list(coord ORDER BY j) AS c_v
       |  FROM wpm$i GROUP BY 1),
       |wcb$i AS (
       |  SELECT c_id, c_v, ${duckDot.format("c_v", "c_v")} AS c_vv
       |  FROM wvl$i),
       |wsk$i AS (SELECT vec_id, emb[$lo:$hi] AS v FROM e
       |  WHERE vec_id % 10 <> 4),
       |wek$i AS (SELECT vec_id, v,
       |  ${duckDot.format("v", "v")} AS vv FROM wsk$i),
       |wcode$i AS (
       |  SELECT vec_id, c_id AS code$i FROM (
       |    SELECT s.vec_id, c.c_id,
       |      ROW_NUMBER() OVER (PARTITION BY s.vec_id ORDER BY
       |        s.vv - 2.0 * ${duckDot.format("s.v", "c.c_v")} + c.c_vv,
       |        c.c_id) AS rk
       |    FROM wek$i s CROSS JOIN wcb$i c) WHERE rk = 1)""".stripMargin
  }

  private lazy val w08Sql =
    s"""WITH corpus AS (SELECT doc_id, text FROM documents),
       |${TextOps.bm25IndexCtes},
       |$duckMinhashCtes,
       |sigm AS (
       |  SELECT c.doc_a, c.doc_b,
       |    len(list_filter(list_zip(sa.sig, sb.sig),
       |        p -> p[1] = p[2])) AS m
       |  FROM cand c
       |  JOIN sigs sa ON sa.doc_id = c.doc_a
       |  JOIN sigs sb ON sb.doc_id = c.doc_b),
       |edges AS (
       |  SELECT CASE WHEN doc_a % 3 = 0 AND doc_b % 3 <> 0
       |           THEN doc_a ELSE doc_b END AS doc_id,
       |         CASE WHEN doc_a % 3 = 0 AND doc_b % 3 <> 0
       |           THEN doc_b ELSE doc_a END AS dup_of
       |  FROM sigm
       |  WHERE m >= $NeardupMinSig
       |    AND (doc_a % 3 = 0 OR doc_b % 3 = 0)),
       |per AS (
       |  SELECT doc_id,
       |    MAX(CASE WHEN dup_of % 3 <> 0 THEN 1 ELSE 0 END) AS hb,
       |    MAX(CASE WHEN dup_of % 3 = 0 THEN 1 ELSE 0 END) AS hd
       |  FROM edges GROUP BY 1),
       |deltadocs AS (SELECT doc_id FROM sigs WHERE doc_id % 3 = 0),
       |mh AS (
       |  SELECT
       |    CAST(SUM(CASE WHEN p.hb = 1 THEN 1 ELSE 0 END) AS BIGINT)
       |      AS nb,
       |    CAST(SUM(CASE WHEN COALESCE(p.hb, 0) = 0 AND p.hd = 1
       |      THEN 1 ELSE 0 END) AS BIGINT) AS nd,
       |    CAST(SUM(CASE WHEN p.doc_id IS NULL THEN 1 ELSE 0 END)
       |      AS BIGINT) AS nn
       |  FROM deltadocs d LEFT JOIN per p USING (doc_id)),
       |$duckIvfPrefix,
       |dn AS (
       |  SELECT CAST(COUNT(*) AS BIGINT) AS ndv,
       |    CAST(COUNT(DISTINCT cluster) AS BIGINT) AS ncl,
       |    CAST(SUM(vec_id) AS BIGINT) AS ids
       |  FROM assigned WHERE vec_id % 3 = 0),
       |sp AS (
       |  SELECT
       |    (SELECT CAST(COUNT(DISTINCT doc_id) AS BIGINT) FROM tf
       |     WHERE doc_id % 3 = 0) AS ndd,
       |    (SELECT CAST(COUNT(DISTINCT tok) AS BIGINT) FROM tf
       |     WHERE doc_id % 3 = 0) AS ntt,
       |    (SELECT CAST(COUNT(*) AS BIGINT) FROM plist) AS npa,
       |    (SELECT t_tokens FROM stats) AS tta),
       |spr AS (
       |  SELECT
       |    (SELECT CAST(COUNT(DISTINCT doc_id) AS BIGINT) FROM tf
       |     WHERE doc_id % 10 <> 4) AS ndr,
       |    (SELECT CAST(COUNT(*) AS BIGINT) FROM (
       |       SELECT ROW_NUMBER() OVER (PARTITION BY tok
       |         ORDER BY tf DESC, doc_id) AS prk
       |       FROM tf WHERE doc_id % 10 <> 4)
       |     WHERE prk <= ${graft.etl.SparseIndex.ImpactCap}) AS npr,
       |    (SELECT CAST(SUM(tf) AS BIGINT) FROM tf
       |     WHERE doc_id % 10 <> 4) AS ttr),
       |mhr AS (
       |  SELECT CAST(COUNT(*) AS BIGINT) AS nsr,
       |    CAST(SUM(doc_id) AS BIGINT) AS sds
       |  FROM sigs WHERE doc_id % 10 <> 4),
       |dnr AS (
       |  SELECT CAST(COUNT(*) AS BIGINT) AS nvr,
       |    CAST(SUM(vec_id) AS BIGINT) AS vis
       |  FROM assigned WHERE vec_id % 10 <> 4),
       |${(0 until PqSub).map(w08PqCtes).mkString(",\n")},
       |wpq AS (
       |  SELECT CAST(COUNT(*) AS BIGINT) AS nca,
       |    CAST(SUM(c0.vec_id * 31 + c0.code0 + c1.code1 + c2.code2
       |      + c3.code3) AS BIGINT) AS cfp
       |  FROM wcode0 c0 JOIN wcode1 c1 USING (vec_id)
       |  JOIN wcode2 c2 USING (vec_id) JOIN wcode3 c3 USING (vec_id))
       |SELECT 'sparse' AS family, 'n_delta_docs' AS metric,
       |  ndd AS value FROM sp
       |UNION ALL SELECT 'sparse', 'n_touched_terms', ntt FROM sp
       |UNION ALL SELECT 'sparse', 'n_postings_after', npa FROM sp
       |UNION ALL SELECT 'sparse', 't_tokens_after', tta FROM sp
       |UNION ALL SELECT 'sparse', 'n_docs_after_retract', ndr FROM spr
       |UNION ALL SELECT 'sparse', 'n_postings_after_retract', npr
       |  FROM spr
       |UNION ALL SELECT 'sparse', 't_tokens_after_retract', ttr FROM spr
       |UNION ALL SELECT 'minhash', 'n_dup_base', nb FROM mh
       |UNION ALL SELECT 'minhash', 'n_dup_delta', nd FROM mh
       |UNION ALL SELECT 'minhash', 'n_new', nn FROM mh
       |UNION ALL SELECT 'minhash', 'n_sigs_after_retract', nsr FROM mhr
       |UNION ALL SELECT 'minhash', 'sig_doc_sum_after_retract', sds
       |  FROM mhr
       |UNION ALL SELECT 'dense', 'n_delta_vecs', ndv FROM dn
       |UNION ALL SELECT 'dense', 'n_cells_touched', ncl FROM dn
       |UNION ALL SELECT 'dense', 'delta_id_sum', ids FROM dn
       |UNION ALL SELECT 'dense', 'n_vecs_after_retract', nvr FROM dnr
       |UNION ALL SELECT 'dense', 'vec_id_sum_after_retract', vis
       |  FROM dnr
       |UNION ALL SELECT 'pq', 'n_codes_after_retract', nca FROM wpq
       |UNION ALL SELECT 'pq', 'code_fingerprint', cfp FROM wpq
       |ORDER BY family, metric""".stripMargin

  // ---------------------------------------------------------------------
  // X94 — dedup eval: the EMPIRICAL s-curve of the production near-dup
  // pipeline, completing the eval triptych (x60 grades the ANN index,
  // x93 the serving funnel, this the dedup stack). On x04's audited
  // truth slice (doc_id % 50, ≥3 words), exact capped-grain Jaccard
  // (x04's published truth definition — the df ≤ 20 cap is what keeps
  // the pair join bounded on this stop-shingle corpus) is banded into
  // integer deciles (10·inter div union — no float parity risk), and
  // per band the card reports how many truth pairs the VERIFIED LSH
  // path (NearDup.edges: 4×4 banding + ≥12/16 agreement — exactly the
  // kernels x02/w05 deploy) catches: recall per similarity decile,
  // the measured counterpart of x56's THEORETICAL band curve
  // 1−(1−s^r)^b, plus the band = −1 row counting verified pairs with
  // no rare-shingle overlap at all (the false-positive tail). Scale:
  // composes two audited bounded plans; the eval join is pair-keyed
  // over their outputs; the card is ≤ 11 rows. MinhashRecallSpec pins
  // recall on PLANTED dups; this measures it cross-engine on the
  // corpus's organic similarity spectrum.
  // ---------------------------------------------------------------------
  private def x94(s: SparkSession, d: String): DataFrame = {
    val slice = Tables.fanout(Tables.documents(s, d))
      .join(broadcast(
        evalIds(Tables.documents(s, d), "doc_id", mod = 50)), "doc_id")
      .filter(size(split(col("text"), " ")) >= 3)
      .cut(false) // truth shingles + LSH signature path
    // truth: x04's capped-grain exact jaccard on the slice
    val raw = slice
      .select(col("doc_id"), explode(expr(sparkShingles)).as("shingle"))
    val sample = raw
      .withColumn("__df",
        count(lit(1)).over(Window.partitionBy(col("shingle"))))
      .filter(col("__df") <= ShingleDfCap)
      .drop("__df")
    // every slice-derived relation is ≤ EvalK docs BY CONSTRUCTION
    // (the absolute-K pick), so these joins broadcast by CONTRACT —
    // the estimator can no longer see that through the slice join's
    // stats, and without the hints they regress to corpus-grade
    // sort-merge plans (measured: 10 → 20 exchanges)
    val sizes = sample.groupBy("doc_id").agg(count(lit(1)).as("sz"))
    val truth = sample.select(col("doc_id").as("doc_a"), col("shingle"))
      .join(broadcast(
        sample.select(col("doc_id").as("doc_b"), col("shingle"))),
        Seq("shingle"))
      .filter(col("doc_a") < col("doc_b"))
      .groupBy("doc_a", "doc_b")
      .agg(count(lit(1)).as("inter"))
      .join(broadcast(sizes.withColumnRenamed("doc_id", "doc_a")
        .withColumnRenamed("sz", "sz_a")), Seq("doc_a"))
      .join(broadcast(sizes.withColumnRenamed("doc_id", "doc_b")
        .withColumnRenamed("sz", "sz_b")), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        expr("least((10 * inter) div (sz_a + sz_b - inter), 9L)")
          .as("jacc_band"))
    // predicted: the deployed verified-edge path on the same slice —
    // broadcast-marked for the same bounded-by-construction reason
    // (the hint rides the signature pipeline's unary ops into edges'
    // internal joins, restoring the pre-slice broadcast plans)
    val pred = graft.etl.NearDup.edges(broadcast(slice))
      .withColumn("caught", lit(true))
    truth.join(pred, Seq("doc_a", "doc_b"), "full_outer")
      .withColumn("band", coalesce(col("jacc_band"), lit(-1L)))
      .groupBy("band")
      .agg(count(lit(1)).as("n_pairs"),
        sum(when(col("caught"), 1L).otherwise(0L)).as("n_caught"))
      .withColumn("recall_ppm",
        when(col("band") >= 0,
          expr("1000000L * n_caught div n_pairs")))
      .select("band", "n_pairs", "n_caught", "recall_ppm")
      .orderBy("band")
  }
  private lazy val x94Sql =
    s"""WITH ${duckEvalIds("dqids", "documents", "doc_id", 50)},
       |corpus AS (
       |  SELECT doc_id, text FROM documents
       |  WHERE doc_id IN (SELECT doc_id FROM dqids)
       |    AND len(string_split(text, ' ')) >= 3),
       |$duckMinhashCtes,
       |sigm AS (
       |  SELECT c.doc_a, c.doc_b,
       |    len(list_filter(list_zip(sa.sig, sb.sig),
       |        p -> p[1] = p[2])) AS m
       |  FROM cand c
       |  JOIN sigs sa ON sa.doc_id = c.doc_a
       |  JOIN sigs sb ON sb.doc_id = c.doc_b),
       |pred AS (
       |  SELECT doc_a, doc_b FROM sigm WHERE m >= $NeardupMinSig),
       |raw AS (
       |  SELECT doc_id, unnest($duckShingles) AS shingle FROM corpus),
       |sample AS (
       |  SELECT doc_id, shingle FROM raw
       |  QUALIFY COUNT(*) OVER (PARTITION BY shingle) <= $ShingleDfCap),
       |sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sample GROUP BY 1),
       |inter AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |    CAST(COUNT(*) AS BIGINT) AS inter
       |  FROM sample a JOIN sample b
       |    ON a.shingle = b.shingle AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2),
       |truth AS (
       |  SELECT i.doc_a, i.doc_b,
       |    LEAST((10 * i.inter) // (za.sz + zb.sz - i.inter),
       |      CAST(9 AS BIGINT)) AS jacc_band
       |  FROM inter i
       |  JOIN sizes za ON za.doc_id = i.doc_a
       |  JOIN sizes zb ON zb.doc_id = i.doc_b),
       |joined AS (
       |  SELECT COALESCE(t.jacc_band, -1) AS band,
       |    CASE WHEN p.doc_a IS NOT NULL THEN 1 ELSE 0 END AS caught
       |  FROM truth t FULL OUTER JOIN pred p
       |    ON p.doc_a = t.doc_a AND p.doc_b = t.doc_b)
       |SELECT band, CAST(COUNT(*) AS BIGINT) AS n_pairs,
       |  CAST(SUM(caught) AS BIGINT) AS n_caught,
       |  CASE WHEN band >= 0
       |    THEN CAST(1000000 * SUM(caught) // COUNT(*) AS BIGINT)
       |  END AS recall_ppm
       |FROM joined GROUP BY 1 ORDER BY band""".stripMargin

  // ---------------------------------------------------------------------
  // X87 — centroid drift monitor: the MAINTENANCE leg of the persisted-
  // index lifecycle (x79 builds, x18 serves, AnnIndex.assign appends —
  // this answers "when do I REBUILD?"). The corpus splits into the
  // index-time base (vec_id % 5 ≠ 4) and an arrived delta (% 5 = 4);
  // the codebook is trained on the BASE ONLY (frozen, as deployed),
  // both populations are assigned against it, and per cell the card
  // compares the trained centroid against the DELTA members' exact-
  // decimal mean: occupancy shift (exact ppm of expected share) and
  // squared centroid displacement drift_l2. Means are decimal-exact
  // (partitioning-independent) and the displacement folds through the
  // ordered DotProduct kernel over a zip_with diff — bit-identical
  // cross-engine, NEVER a groupBy-ordered float sum over dims. Cells
  // the delta never reaches carry NULL drift and n_delta 0 — an
  // emptying cell is itself a drift signal. Scale: one extra
  // assignment pass + a ≤K-row card; the monitor costs one scan of
  // the delta, which is exactly the data that just arrived.
  // ---------------------------------------------------------------------
  private def x87(s: SparkSession, d: String): DataFrame = {
    import graft.etl.AnnIndex
    val all = AnnIndex.prep(Tables.fanout(Tables.embeddings(s, d)))
      .cut(false)
    val base = all.filter(col("vec_id") % 5 =!= 4).cut(false)
    val delta = all.filter(col("vec_id") % 5 === 4)
    val cents = AnnIndex.train(base).cut(false)
    val nBase = AnnIndex.assign(base, cents)
      .groupBy("cluster").agg(count(lit(1)).as("n_base"))
    val dAssigned = AnnIndex.assign(delta, cents)
    val dMeans = dAssigned
      .select(col("cluster"), posexplode(col("emb")).as(Seq("dim", "v")))
      .groupBy(col("cluster"), col("dim"))
      .agg((sum(col("v").cast("decimal(18,6)")).cast("double") /
        count(lit(1)).cast("double")).as("coord"))
      .groupBy(col("cluster"))
      .agg(expr("transform(array_sort(collect_list(struct(dim, coord)))" +
        ", s -> s.coord)").as("d_emb"))
    val nDelta = dAssigned.groupBy("cluster")
      .agg(count(lit(1)).as("n_delta"))
    val totals = nBase.agg(sum("n_base").as("tb"))
      .crossJoin(nDelta.agg(sum("n_delta").as("td")))
    cents.select(col("c_id"), col("c_emb"))
      .join(nBase, col("c_id") === nBase("cluster")).drop("cluster")
      .join(nDelta, col("c_id") === nDelta("cluster"), "left")
      .drop("cluster")
      .join(dMeans, col("c_id") === dMeans("cluster"), "left")
      .drop("cluster")
      .crossJoin(broadcast(totals))
      .select(col("c_id"), col("n_base"),
        coalesce(col("n_delta"), lit(0L)).as("n_delta"),
        // occupancy shift: delta share vs base share, exact ppm
        expr("CAST((CAST(1000000 AS DECIMAL(38,0))" +
          " * coalesce(n_delta, 0L) * tb) div" +
          " (CAST(td AS DECIMAL(38,0)) * n_base) AS BIGINT)")
          .as("occ_shift_ppm"),
        when(col("d_emb").isNotNull,
          DotProduct(expr("zip_with(c_emb, d_emb, (x, y) -> x - y)"),
            expr("zip_with(c_emb, d_emb, (x, y) -> x - y)")))
          .as("drift_l2"))
      .withColumn("rebuild",
        coalesce(col("drift_l2") > 0.01, lit(true)))
      .orderBy("c_id")
  }
  private lazy val x87Sql = {
    val diff = "list_transform(list_zip(c.c_emb, dm.d_emb)," +
      " p -> CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))"
    s"""WITH raw AS (
       |  SELECT vec_id,
       |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
       |  FROM embeddings),
       |eall AS (
       |  SELECT vec_id, emb,
       |    sqrt(${duckDot.format("emb", "emb")}) AS norm
       |  FROM raw),
       |e AS (SELECT * FROM eall WHERE vec_id % 5 <> 4),
       |delta AS (SELECT * FROM eall WHERE vec_id % 5 = 4),
       |seeds AS (
       |  SELECT vec_id AS c_id, emb AS c_emb, norm AS c_norm
       |  FROM e ORDER BY ((vec_id % 2147483648) * 2654435761)
       |    % 1000000007, vec_id
       |  LIMIT $IvfK),
       |${duckLloydCtes("seeds", "1")},
       |${duckLloydCtes("c1", "2")},
       |nb AS (
       |  SELECT cluster, CAST(COUNT(*) AS BIGINT) AS n_base FROM (
       |    SELECT e.vec_id, c.c_id AS cluster,
       |      ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
       |        1.0 - ${duckDot.format("e.emb", "c.c_emb")}
       |          / (e.norm * c.c_norm), c.c_id) AS rk
       |    FROM e CROSS JOIN c2 c) WHERE rk = 1 GROUP BY 1),
       |da AS (
       |  SELECT vec_id, emb, c_id AS cluster FROM (
       |    SELECT d.vec_id, d.emb, c.c_id,
       |      ROW_NUMBER() OVER (PARTITION BY d.vec_id ORDER BY
       |        1.0 - ${duckDot.format("d.emb", "c.c_emb")}
       |          / (d.norm * c.c_norm), c.c_id) AS rk
       |    FROM delta d CROSS JOIN c2 c) WHERE rk = 1),
       |nd AS (SELECT cluster, CAST(COUNT(*) AS BIGINT) AS n_delta
       |       FROM da GROUP BY 1),
       |dm0 AS (
       |  SELECT cluster, i,
       |    CAST(CAST(SUM(CAST(emb[i] AS DECIMAL(18,6))) AS VARCHAR)
       |        AS DOUBLE)
       |      / CAST(COUNT(*) AS DOUBLE) AS coord
       |  FROM da, unnest(generate_series(1, len(emb))) AS t(i)
       |  GROUP BY 1, 2),
       |dm AS (SELECT cluster, list(coord ORDER BY i) AS d_emb
       |       FROM dm0 GROUP BY 1),
       |tot AS (
       |  SELECT (SELECT CAST(SUM(n_base) AS BIGINT) FROM nb) AS tb,
       |    (SELECT CAST(SUM(n_delta) AS BIGINT) FROM nd) AS td)
       |SELECT c.c_id, nb.n_base,
       |  CAST(COALESCE(nd.n_delta, 0) AS BIGINT) AS n_delta,
       |  CAST((CAST(1000000 AS HUGEINT) * COALESCE(nd.n_delta, 0)
       |    * t.tb) // (CAST(t.td AS HUGEINT) * nb.n_base) AS BIGINT)
       |    AS occ_shift_ppm,
       |  CASE WHEN dm.d_emb IS NOT NULL THEN
       |    ${duckDot.format(diff, diff)} END AS drift_l2,
       |  COALESCE(CASE WHEN dm.d_emb IS NOT NULL THEN
       |    ${duckDot.format(diff, diff)} END > 0.01, TRUE) AS rebuild
       |FROM c2 c
       |JOIN nb ON nb.cluster = c.c_id
       |LEFT JOIN nd ON nd.cluster = c.c_id
       |LEFT JOIN dm ON dm.cluster = c.c_id
       |CROSS JOIN tot t
       |ORDER BY c_id""".stripMargin
  }

  // ---------------------------------------------------------------------
  // X86 — hubness audit: in high-dimensional embedding spaces a few
  // vectors become HUBS — they appear in a disproportionate share of
  // other points' nearest-neighbor lists — and hubness silently
  // degrades every k-NN consumer (retrieval, semdedup, k-NN label
  // audits) because hub matches carry no semantic signal. This card
  // measures it on the audited brute-force truth slice (x05's top-10
  // lists): per corpus vector, its in-degree across all query lists,
  // normalized against the EXPECTED in-degree under no hubness —
  // n_slots / n_candidates (every corpus vector equally likely to fill
  // a list slot), so occ_ratio_ppm = 10⁶ · in_degree · n_candidates /
  // n_slots is in-degree as a multiple of expected, in ppm — the
  // k-occurrence skew statistic from the hubness literature in exact
  // integers, and it stays calibrated as corpus and query-slice sizes
  // scale independently (ADVICE r8: the old n_queries-normalized form
  // reduced to in_degree/k and did NOT). Hub flag: > 300× expected —
  // at this 1/100 query sampling that is the old in_degree > 30
  // operating point, now stated in a unit that survives a 100× corpus.
  // Products ride DECIMAL(38,0)/HUGEINT (10⁶·in_degree·n_candidates
  // wraps BIGINT at real corpus sizes — the q54/q55 rule). Top-20 by
  // in-degree; ties to the smaller vec_id. Scale: composes x05's
  // bounded probe slice verbatim; the audit itself is one keyed count
  // + two 1-row scalar broadcasts + TakeOrdered — candidate-list-
  // sized, never corpus².
  // ---------------------------------------------------------------------
  private def x86(s: SparkSession, d: String): DataFrame = {
    val lists = x05(s, d).select(col("q_id"), col("vec_id")).cut(false)
    val stats = lists.agg(count(lit(1)).as("n_slots"))
    val cand = Tables.embeddings(s, d)
      .agg(count(lit(1)).as("n_candidates"))
    val indeg = lists.groupBy("vec_id")
      .agg(count(lit(1)).as("in_degree"))
    indeg.crossJoin(broadcast(stats)).crossJoin(broadcast(cand))
      .withColumn("occ_ratio_ppm", expr(
        "CAST((CAST(1000000 AS DECIMAL(38,0)) * in_degree" +
          " * n_candidates) div n_slots AS BIGINT)"))
      .withColumn("is_hub", col("occ_ratio_ppm") > 300000000L)
      .select("vec_id", "in_degree", "occ_ratio_ppm", "is_hub")
      .orderBy(col("in_degree").desc, col("vec_id")).limit(20)
  }
  private lazy val x86Sql =
    s"""WITH lists AS (
       |  SELECT q_id, vec_id FROM ($x05Sql)),
       |stats AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_slots FROM lists),
       |cand AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_candidates
       |         FROM embeddings),
       |indeg AS (SELECT vec_id, CAST(COUNT(*) AS BIGINT) AS in_degree
       |          FROM lists GROUP BY 1)
       |SELECT vec_id, in_degree,
       |  CAST((CAST(1000000 AS HUGEINT) * in_degree * n_candidates)
       |    // n_slots AS BIGINT) AS occ_ratio_ppm,
       |  CAST((CAST(1000000 AS HUGEINT) * in_degree * n_candidates)
       |    // n_slots AS BIGINT) > 300000000 AS is_hub
       |FROM indeg CROSS JOIN stats CROSS JOIN cand
       |ORDER BY in_degree DESC, vec_id LIMIT 20""".stripMargin

  // ---------------------------------------------------------------------
  // X62 — hard-negative mining + margin audit: for each anchor in the
  // probe slice, the NEAREST SAME-LABEL neighbor (the positive) and
  // the NEAREST OTHER-LABEL neighbor (the hard negative), plus their
  // cosine margin — the mining step contrastive training (and
  // retrieval-training curricula) run over the whole corpus, and the
  // audit that flags CONFUSABLE anchors (margin < 0: the hardest
  // negative sits closer than the best positive — exactly the
  // examples worth oversampling or relabeling; complements x46's
  // neighborhood label-agreement view with a per-anchor distance
  // margin). Same documented bounded brute-force probe slice as
  // x46 (1% of vectors); LSH/IVF are the drop-in scale variants.
  // One pass over anchor×corpus, two keyed min_by/max_by aggs —
  // no window, no second scan.
  // ---------------------------------------------------------------------
  private def x62(s: SparkSession, d: String): DataFrame = {
    val e = Tables.fanout(Tables.embeddings(s, d))
      .withColumn("norm",
        sqrt(DotProduct(col("embedding"), col("embedding"))))
    val q = e
      .join(broadcast(evalIds(Tables.embeddings(s, d), "vec_id")),
        "vec_id")
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
        col("norm").as("q_norm"), col("label").as("q_label"))
    val pairs = e.crossJoin(q)
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("cos",
        DotProduct(col("embedding"), col("q_emb")) /
          (col("norm") * col("q_norm")))
    // argmax cos, ties to the SMALLER vec_id: max_by on
    // (cos, -vec_id) — deterministic, mirrors the oracle's
    // ROW_NUMBER (cos DESC, vec_id)
    def best(filtered: DataFrame, idAs: String, cosAs: String)
        : DataFrame = filtered
      .groupBy(col("q_id"), col("q_label"))
      .agg(max_by(struct(col("vec_id").as("id"), col("cos").as("c")),
        struct(col("cos"), -col("vec_id"))).as("b"))
      .select(col("q_id"), col("q_label"),
        col("b.id").as(idAs), col("b.c").as(cosAs))
    val pos = best(pairs.filter(col("label") === col("q_label")),
      "pos_id", "pos_cos")
    val neg = best(pairs.filter(col("label") =!= col("q_label")),
      "neg_id", "neg_cos")
    neg.join(pos, Seq("q_id", "q_label"), "left")
      .select(col("q_id"), col("q_label"),
        col("pos_id"), col("pos_cos"), col("neg_id"), col("neg_cos"),
        (col("pos_cos") - col("neg_cos")).as("margin"),
        (col("pos_cos") - col("neg_cos") < 0.0).as("confusable"))
      .orderBy("q_id")
  }
  private lazy val x62Sql =
    s"""WITH e AS (
       |  SELECT vec_id, embedding, label,
       |    sqrt(${duckDot.format("embedding", "embedding")}) AS norm
       |  FROM embeddings),
       |$duckQids,
       |q AS (SELECT vec_id AS q_id, embedding AS q_emb, norm AS q_norm,
       |        label AS q_label
       |      FROM e WHERE vec_id IN (SELECT vec_id FROM qids)),
       |pairs AS (
       |  SELECT q_id, q_label, vec_id, label,
       |    ${duckDot.format("embedding", "q_emb")} / (norm * q_norm) AS cos
       |  FROM e CROSS JOIN q WHERE vec_id <> q_id),
       |pos AS (
       |  SELECT q_id, q_label, vec_id AS pos_id, cos AS pos_cos FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id
       |      ORDER BY cos DESC, vec_id) AS rk
       |    FROM pairs WHERE label = q_label) WHERE rk = 1),
       |neg AS (
       |  SELECT q_id, q_label, vec_id AS neg_id, cos AS neg_cos FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id
       |      ORDER BY cos DESC, vec_id) AS rk
       |    FROM pairs WHERE label <> q_label) WHERE rk = 1)
       |SELECT n.q_id, n.q_label, p.pos_id, p.pos_cos, n.neg_id,
       |  n.neg_cos, p.pos_cos - n.neg_cos AS margin,
       |  p.pos_cos - n.neg_cos < 0.0 AS confusable
       |FROM neg n LEFT JOIN pos p
       |  ON p.q_id = n.q_id AND p.q_label = n.q_label
       |ORDER BY n.q_id""".stripMargin

  // ---------------------------------------------------------------------
  // X63 — cluster-balanced (diversity-preserving) sampling: the
  // embedding-aware member of the sampling family (x24 stratifies on
  // a LABEL column, x36 weights by a SCORE; this stratifies on the
  // embedding-space STRUCTURE itself — assign every vector to its
  // nearest k-means cell, then take the same fraction from every
  // cell, so a 10% subsample keeps rare semantic regions instead of
  // letting the dominant cluster swallow the budget — the
  // SemDeDup-era curation move). Selection inside a cell is the
  // lowest Knuth-hash ids (deterministic, portable); the output card
  // carries per-cell sizes, quotas, and an exact BIGINT sum of the
  // sampled ids' hashes — cross-engine evidence of WHICH rows were
  // picked, not just how many.
  //
  // Scale: one broadcast argmin assignment (8-row codebook, x47's
  // shape), one per-cell window for the quota rank (cost ∝ cell
  // size), one keyed card agg. Never pairwise.
  // ---------------------------------------------------------------------
  private val DiverseFrac = 0.1

  private def x63(s: SparkSession, d: String): DataFrame = {
    val base = Tables.fanout(Tables.embeddings(s, d))
      .select(col("vec_id"),
        expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("emb"))
      .withColumn("norm", sqrt(DotProduct(col("emb"), col("emb"))))
      .cut(false) // seeds + assignment
    val seeds = base
      .orderBy(((col("vec_id") % 2147483648L) * 2654435761L)
        % 1000000007L, col("vec_id"))
      .limit(KmeansK)
      .select(col("vec_id").as("c_id"), col("emb").as("c_emb"),
        col("norm").as("c_norm"))
    val assigned = base.crossJoin(broadcast(seeds))
      .withColumn("dist", lit(1.0) -
        DotProduct(col("emb"), col("c_emb")) /
          (col("norm") * col("c_norm")))
      .groupBy(col("vec_id"))
      .agg(min_by(col("c_id"), struct(col("dist"), col("c_id")))
        .as("cluster"))
      .withColumn("h",
        ((col("vec_id") % 2147483648L) * 2654435761L) % 1000000007L)
    val wC = Window.partitionBy(col("cluster"))
      .orderBy(col("h"), col("vec_id"))
    assigned
      .withColumn("rk", row_number().over(wC))
      .withColumn("sz", count(lit(1)).over(
        Window.partitionBy(col("cluster"))))
      .withColumn("quota", ceil(col("sz") * DiverseFrac).cast("long"))
      .groupBy(col("cluster"))
      .agg(max(col("sz")).as("n_members"),
        max(col("quota")).as("n_sampled"),
        sum(when(col("rk") <= col("quota"), col("h")).otherwise(0L))
          .as("sample_hash"))
      .orderBy("cluster")
  }
  private lazy val x63Sql =
    s"""WITH e AS (
       |  SELECT vec_id,
       |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
       |  FROM embeddings),
       |n AS (
       |  SELECT vec_id, emb,
       |    sqrt(${duckDot.format("emb", "emb")}) AS norm
       |  FROM e),
       |seeds AS (
       |  SELECT vec_id AS c_id, emb AS c_emb, norm AS c_norm
       |  FROM n ORDER BY ((vec_id % 2147483648) * 2654435761)
       |    % 1000000007, vec_id
       |  LIMIT $KmeansK),
       |assigned AS (
       |  SELECT vec_id, c_id AS cluster,
       |    ((vec_id % 2147483648) * 2654435761) % 1000000007 AS h
       |  FROM (
       |    SELECT n.vec_id, c.c_id,
       |      ROW_NUMBER() OVER (PARTITION BY n.vec_id ORDER BY
       |        1.0 - ${duckDot.format("n.emb", "c.c_emb")}
       |          / (n.norm * c.c_norm), c.c_id) AS rk
       |    FROM n CROSS JOIN seeds c) WHERE rk = 1),
       |ranked AS (
       |  SELECT cluster, h,
       |    ROW_NUMBER() OVER (PARTITION BY cluster ORDER BY h, vec_id)
       |      AS rk,
       |    COUNT(*) OVER (PARTITION BY cluster) AS sz
       |  FROM assigned)
       |SELECT cluster, CAST(MAX(sz) AS BIGINT) AS n_members,
       |  CAST(MAX(CAST(CEIL(sz * CAST($DiverseFrac AS DOUBLE)) AS BIGINT)) AS BIGINT)
       |    AS n_sampled,
       |  CAST(SUM(CASE WHEN rk <= CAST(CEIL(sz * CAST($DiverseFrac AS DOUBLE))
       |      AS BIGINT) THEN h ELSE 0 END) AS BIGINT) AS sample_hash
       |FROM ranked GROUP BY 1 ORDER BY cluster""".stripMargin

  // ---------------------------------------------------------------------
  // W06 — the INDUSTRIAL dedup cascade: exact → MinHash near-dup →
  // embedding semantic dedup in one flow, each stage only seeing the
  // previous stage's survivors — the order every production curation
  // pipeline uses (cheapest filter first, so the expensive semantic
  // stage runs on the smallest corpus). Three planted generations
  // prove each stage does its own job: every 20th doc gets an EXACT
  // twin (dies at stage 1), every 10th-not-20th a paraphrase twin
  // (shares shingles — dies at stage 2), every 5th-not-10th a
  // 2-word decoy with a 1.001-scaled embedding (no shingles, so only
  // stage 3 can kill it). All planted ids also get scaled embedding
  // rows, so a stage-1/2 regression would surface as stage-3 drops
  // instead of silently vanishing. Output: docs remaining after each
  // stage (the attrition card).
  //
  // Scale: stage 1 is one keyed agg + semi join; stage 2 is the
  // NearDup library (one signature HashAggregate, banded LSH, CC);
  // stage 3 is x10's sign-LSH kernel over survivors only. Survivor
  // relations are cut once and feed both the next stage and the
  // card. Nothing pairwise anywhere.
  // ---------------------------------------------------------------------
  private def w06(s: SparkSession, d: String): DataFrame = {
    val base = Tables.fanout(Tables.documents(s, d))
      .select(col("doc_id"), col("text"))
    val planted = base.filter(col("doc_id") % 5 === 0)
      .select((col("doc_id") + 1000000L).as("doc_id"),
        // the paraphrase marker is PREPENDED: a suffix would leave
        // the 40-char prefix identical and stage 1 would steal the
        // kill from stage 2 (x11's gen2 'zzz' trick)
        when(col("doc_id") % 20 === 0, col("text"))
          .when(col("doc_id") % 10 === 0,
            concat(lit("planted paraphrase near dup "), col("text")))
          .otherwise(concat(lit("sem "), col("doc_id").cast("string")))
          .as("text"))
    val docs = base.unionByName(planted).cut(false)
    // stage 1: exact (x01's 40-char key), min-id survivor
    val keep1 = docs.withColumn("k", substring(col("text"), 1, 40))
      .groupBy(col("k")).agg(min(col("doc_id")).as("doc_id"))
      .select("doc_id")
    val s1 = docs.join(keep1, Seq("doc_id"), "left_semi").cut(false)
    // stage 2: MinHash near-dup via the library defaults
    val s2 = graft.etl.NearDup.dedupe(s1).select("doc_id").cut(false)
    val n2 = s2.count()
    // stage 3: x10's sign-LSH kernel over the surviving embeddings
    // (planted ids carry 1.001-scaled copies — cosine-preserving)
    val emb0 = Tables.embeddings(s, d)
      .select(col("vec_id"),
        expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("emb"))
    val embAll = emb0.unionByName(
      emb0.filter(col("vec_id") % 5 === 0)
        .select((col("vec_id") + 1000000L).as("vec_id"),
          expr("transform(emb, x -> x * 1.001)").as("emb")))
    val e = embAll
      .join(s2.select(col("doc_id").as("vec_id")), Seq("vec_id"),
        "left_semi")
      .withColumn("norm", sqrt(DotProduct(col("emb"), col("emb"))))
    // |e| = |s2| (every survivor has exactly one embedding row)
    val vecs = signBucketsCapped(e, "emb", adaptivePlanes(n2))
    val a = vecs.select(col("vec_id").as("a"), col("emb").as("emb_a"),
      col("norm").as("norm_a"), col("bucket"))
    val b = vecs.select(col("vec_id").as("b"), col("emb").as("emb_b"),
      col("norm").as("norm_b"), col("bucket"))
    val edges3 = a.join(b, Seq("bucket"))
      .filter(col("a") < col("b"))
      .filter(DotProduct(col("emb_a"), col("emb_b")) /
        (col("norm_a") * col("norm_b")) >= 0.95)
      .select("a", "b")
    val removed3 = graft.etl.ConnectedComponents
      .run(graft.etl.Checkpoints.cut(edges3))
      .filter(col("id") =!= col("cluster_id"))
      .select(col("id").as("doc_id"))
    val s3 = s2.join(removed3, Seq("doc_id"), "left_anti")
    def row(stage: String, df: DataFrame): DataFrame =
      df.agg(count(lit(1)).as("docs"))
        .select(lit(stage).as("stage"), col("docs"))
    row("0_raw", docs)
      .unionByName(row("1_exact", s1))
      .unionByName(row("2_minhash", s2))
      .unionByName(row("3_semantic", s3))
      .orderBy("stage")
  }
  private def w06Sql: String =
    s"""WITH RECURSIVE base AS (SELECT doc_id, text FROM documents),
       |planted AS (
       |  SELECT doc_id + 1000000 AS doc_id,
       |    CASE WHEN doc_id % 20 = 0 THEN text
       |         WHEN doc_id % 10 = 0
       |           THEN 'planted paraphrase near dup ' || text
       |         ELSE 'sem ' || CAST(doc_id AS VARCHAR) END AS text
       |  FROM base WHERE doc_id % 5 = 0),
       |docs AS (SELECT * FROM base UNION ALL SELECT * FROM planted),
       |keep1 AS (
       |  SELECT MIN(doc_id) AS doc_id FROM docs
       |  GROUP BY substring(text, 1, 40)),
       |s1 AS (SELECT d.* FROM docs d
       |       WHERE d.doc_id IN (SELECT doc_id FROM keep1)),
       |corpus AS (SELECT doc_id, text FROM s1),
       |$duckMinhashCtes,
       |sigm AS (
       |  SELECT c.doc_a, c.doc_b,
       |    len(list_filter(list_zip(sa.sig, sb.sig),
       |        p -> p[1] = p[2])) AS m
       |  FROM cand c
       |  JOIN sigs sa ON sa.doc_id = c.doc_a
       |  JOIN sigs sb ON sb.doc_id = c.doc_b),
       |m2 AS (SELECT doc_a, doc_b FROM sigm
       |       WHERE m >= ${graft.etl.NearDup.DefaultMinSig}),
       |und2 AS (SELECT doc_a AS a, doc_b AS b FROM m2
       |         UNION ALL SELECT doc_b, doc_a FROM m2),
       |nodes2 AS (SELECT DISTINCT a AS id FROM und2),
       |reach2(id, r) AS (
       |  SELECT id, id FROM nodes2
       |  UNION
       |  SELECT reach2.id, u.b FROM reach2 JOIN und2 u
       |    ON u.a = reach2.r),
       |cc2 AS (SELECT id, MIN(r) AS cl FROM reach2 GROUP BY 1),
       |s2 AS (SELECT doc_id FROM s1
       |       WHERE doc_id NOT IN (SELECT id FROM cc2 WHERE id <> cl)),
       |emb0 AS (
       |  SELECT vec_id,
       |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
       |  FROM embeddings),
       |emball AS (
       |  SELECT vec_id, emb FROM emb0
       |  UNION ALL
       |  SELECT vec_id + 1000000, list_transform(emb, x -> x * 1.001)
       |  FROM emb0 WHERE vec_id % 5 = 0),
       |e AS (
       |  SELECT vec_id, emb, sqrt(${duckDot.format("emb", "emb")}) AS norm
       |  FROM emball WHERE vec_id IN (SELECT doc_id FROM s2)),
       |planes AS (
       |  SELECT unnest(generate_series(0, ${duckPlanes("e")} - 1)) AS p),
       |buckets AS (
       |  SELECT vec_id,
       |    SUM(CASE WHEN ${planeDot("emb", "p.p", 64, spark = false)} > 0
       |        THEN (CAST(1 AS BIGINT) << p.p) ELSE 0 END) AS bucket
       |  FROM e CROSS JOIN planes p
       |  GROUP BY 1),
       |vecs AS (
       |  SELECT e.*, b.bucket FROM e JOIN buckets b USING (vec_id)
       |  QUALIFY COUNT(*) OVER (PARTITION BY b.bucket) <= $BucketCap),
       |m3 AS (
       |  SELECT a.vec_id AS a, b.vec_id AS b
       |  FROM vecs a JOIN vecs b
       |    ON a.bucket = b.bucket AND a.vec_id < b.vec_id
       |  WHERE ${duckDot.format("a.emb", "b.emb")} / (a.norm * b.norm)
       |    >= 0.95),
       |und3 AS (SELECT a, b FROM m3 UNION ALL SELECT b, a FROM m3),
       |nodes3 AS (SELECT DISTINCT a AS id FROM und3),
       |reach3(id, r) AS (
       |  SELECT id, id FROM nodes3
       |  UNION
       |  SELECT reach3.id, u.b FROM reach3 JOIN und3 u
       |    ON u.a = reach3.r),
       |cc3 AS (SELECT id, MIN(r) AS cl FROM reach3 GROUP BY 1)
       |SELECT stage, docs FROM (
       |  SELECT '0_raw' AS stage,
       |    CAST((SELECT COUNT(*) FROM docs) AS BIGINT) AS docs
       |  UNION ALL
       |  SELECT '1_exact', CAST((SELECT COUNT(*) FROM s1) AS BIGINT)
       |  UNION ALL
       |  SELECT '2_minhash', CAST((SELECT COUNT(*) FROM s2) AS BIGINT)
       |  UNION ALL
       |  SELECT '3_semantic',
       |    CAST((SELECT COUNT(*) FROM s2)
       |      - (SELECT COUNT(*) FROM cc3 WHERE id <> cl) AS BIGINT))
       |ORDER BY stage""".stripMargin

  // ---------------------------------------------------------------------
  // X60 — ANN recall contract: recall@10 of BOTH approximate paths
  // (sign-LSH x05b, trained-IVF x18) against the x05 brute-force
  // truth, per probe, through the oracle gate — the quality number
  // AnnScalingSpec pins locally becomes a driver-checked artifact
  // every round, the way x51/q26c/q38b/q48 gate the sketch family.
  // A probe whose bucket was cap-dropped keeps its row via left join
  // + COALESCE 0 (x49's rule). Composes the three existing query
  // kernels verbatim, so the contract can never drift from what the
  // engine actually serves.
  //
  // READ THE TWO COLUMNS DIFFERENTLY — that asymmetry is the point:
  // x05b's adaptive planes size buckets for CANDIDATE LINEARITY
  // (expected occupancy ~1), so away from planted twins its top-10
  // recall is ~0 by design — it is the near-dup candidate generator
  // (x10's role), not a retriever. IVF probes nprobe/K of the corpus
  // and is the retrieval path (recall_ivf 0.4–0.9 per probe after
  // codebook training). The row prices that design choice instead of
  // letting "LSH" and "ANN" blur together.
  // ---------------------------------------------------------------------
  private def x60(s: SparkSession, d: String): DataFrame = {
    // each top-10 relation is ≤ 10·|probes| rows and consumed twice
    // (count + hit join) — cut so the underlying ANN pipeline runs
    // once per path, not once per consumer
    val brute = x05(s, d).select(col("q_id"), col("vec_id")).cut(false)
    val lsh = x05b(s, d).select(col("q_id"), col("vec_id")).cut(false)
    val ivf = x18(s, d).select(col("q_id"), col("vec_id")).cut(false)
    def cnt(df: DataFrame, as: String): DataFrame =
      df.groupBy(col("q_id")).agg(count(lit(1)).as(as))
    def hits(df: DataFrame, as: String): DataFrame =
      brute.join(df.withColumn("hit", lit(1L)),
        Seq("q_id", "vec_id"), "left")
        .groupBy(col("q_id"))
        .agg(sum(coalesce(col("hit"), lit(0L))).as(as))
    brute.groupBy(col("q_id")).agg(count(lit(1)).as("n_brute"))
      .join(cnt(lsh, "n_lsh"), Seq("q_id"), "left")
      .join(cnt(ivf, "n_ivf"), Seq("q_id"), "left")
      .join(hits(lsh, "lsh_hits"), Seq("q_id"), "left")
      .join(hits(ivf, "ivf_hits"), Seq("q_id"), "left")
      .select(col("q_id"), col("n_brute"),
        coalesce(col("n_lsh"), lit(0L)).as("n_lsh"),
        coalesce(col("n_ivf"), lit(0L)).as("n_ivf"),
        col("lsh_hits"), col("ivf_hits"),
        round(col("lsh_hits").cast("double") /
          col("n_brute").cast("double"), 4).as("recall_lsh"),
        round(col("ivf_hits").cast("double") /
          col("n_brute").cast("double"), 4).as("recall_ivf"))
      .orderBy("q_id")
  }
  private lazy val x60Sql =
    s"""WITH brute AS ($x05Sql),
       |lshq AS ($x05bSql),
       |ivfq AS ($x18Sql),
       |nb AS (SELECT q_id, COUNT(*) AS n_brute FROM brute GROUP BY 1),
       |nl AS (SELECT q_id, COUNT(*) AS n_lsh FROM lshq GROUP BY 1),
       |ni AS (SELECT q_id, COUNT(*) AS n_ivf FROM ivfq GROUP BY 1),
       |hl AS (
       |  SELECT b.q_id,
       |    CAST(SUM(CASE WHEN l.vec_id IS NOT NULL THEN 1 ELSE 0 END)
       |      AS BIGINT) AS lsh_hits
       |  FROM brute b LEFT JOIN lshq l
       |    ON l.q_id = b.q_id AND l.vec_id = b.vec_id
       |  GROUP BY 1),
       |hi AS (
       |  SELECT b.q_id,
       |    CAST(SUM(CASE WHEN i.vec_id IS NOT NULL THEN 1 ELSE 0 END)
       |      AS BIGINT) AS ivf_hits
       |  FROM brute b LEFT JOIN ivfq i
       |    ON i.q_id = b.q_id AND i.vec_id = b.vec_id
       |  GROUP BY 1)
       |SELECT nb.q_id, CAST(nb.n_brute AS BIGINT) AS n_brute,
       |  CAST(COALESCE(nl.n_lsh, 0) AS BIGINT) AS n_lsh,
       |  CAST(COALESCE(ni.n_ivf, 0) AS BIGINT) AS n_ivf,
       |  hl.lsh_hits, hi.ivf_hits,
       |  ROUND(CAST(hl.lsh_hits AS DOUBLE)
       |    / CAST(nb.n_brute AS DOUBLE), 4) AS recall_lsh,
       |  ROUND(CAST(hi.ivf_hits AS DOUBLE)
       |    / CAST(nb.n_brute AS DOUBLE), 4) AS recall_ivf
       |FROM nb
       |LEFT JOIN nl USING (q_id)
       |LEFT JOIN ni USING (q_id)
       |LEFT JOIN hl USING (q_id)
       |LEFT JOIN hi USING (q_id)
       |ORDER BY q_id""".stripMargin

  // ---------------------------------------------------------------------
  // X58 — product quantization codes: the memory side of the IVF+PQ
  // pair (x18 prunes WHICH vectors to score; PQ shrinks WHAT is
  // stored per vector — 64 doubles → 4 byte-sized codes, the layout
  // every 100 TB ANN index actually ships). The 64-dim space splits
  // into 4×16-dim subspaces; each gets an 8-entry codebook — hash-
  // spread seeds refined by one exact Lloyd step (x18/x47's kernel,
  // decimal-exact means ⇒ bit-identical codebooks in both engines) —
  // and every vector stores its nearest code per subspace plus the
  // summed squared-L2 residual (the x19 error-contract idea, at PQ
  // granularity). L2² = vv − 2·dot + cc reuses the proven DotProduct
  // fold, so distances (and argmin ties, broken on c_id) are
  // bit-identical too. Codes carry the centroid's seed vec_id — an
  // implementation would remap to 0..7 bytes at write time.
  //
  // Scale: per subspace, one broadcast fan-out (8 rows) folded back
  // by a map-side min_by HashAggregate, one (cluster, dim) mean agg
  // on the 8×16 grid, one more broadcast argmin for codes — never
  // pairwise, codebooks O(1) at any sf. The 4 subspace outputs join
  // back on vec_id (keyed).
  // ---------------------------------------------------------------------
  // The PQ kernels (subspace slicing, hash-spread seeds + one exact
  // Lloyd step, frozen-book encode) moved to the library module
  // [[graft.etl.PqIndex]] in r10 — the compressed build/serve split a
  // deployment needs (coarse + cells + books + codes persisted once;
  // PqIndexSpec proves write→read→serve ≡ the inline x97 path). The
  // queries here compose them inline so the x58/x95/x97 oracles stay
  // the single gate for the whole family.
  private val PqSub = graft.etl.PqIndex.Sub
  private val PqDims = graft.etl.PqIndex.Dims
  private val PqK = graft.etl.PqIndex.K

  /** One trained PQ subspace: (codes_i(vec_id, code_i, err_i),
    * codebook_i(c_id, c_v, c_vv)) — x58's chain through the library,
    * so x95/x97's ADC serve trains the SAME codebooks the code card
    * gates. */
  private def pqSubspace(e: DataFrame, i: Int): (DataFrame, DataFrame) =
    graft.etl.PqIndex.subspace(e, i)

  private def x58(s: SparkSession, d: String): DataFrame = {
    val e = Tables.fanout(Tables.embeddings(s, d))
      .select(col("vec_id"),
        expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("emb"))
      .cut(false) // 4 subspace consumers
    val parts = (0 until PqSub).map(i => pqSubspace(e, i)._1)
    parts.reduce((a, b) => a.join(b, Seq("vec_id")))
      .select(col("vec_id") +:
        (0 until PqSub).map(i => col(s"code$i")) :+
        round((0 until PqSub).map(i => col(s"err$i")).reduce(_ + _), 6)
          .as("recon_err"): _*)
      .orderBy("vec_id")
  }

  // ---------------------------------------------------------------------
  // X95 — PQ ADC serve: the reason PQ codes exist. x58 trains the
  // 4×8 codebooks and gates the codes; x19 prices reconstruction
  // error; this SERVES from the compressed domain — per query, the
  // asymmetric-distance table (per subspace, squared L2 from the
  // query's slice to each of the 8 centroids — a |q|×8 relation,
  // ≤ EvalK×8 rows under the absolute-K slice; joined unhinted, AQE
  // broadcasts the always-small side) and the ADC scan: every code row
  // scored by FOUR table lookups + a fixed left-assoc sum, never
  // touching the full-precision corpus vectors. The card is the
  // quantization-loss eval the deploy decision needs: ADC top-10 vs
  // exact full-precision L2 top-10 (recall@10 + top-1 agreement, the
  // x60/x93/x94 eval-family shape). All distances are the house
  // fixed-shape folds (vv − 2·dot + cc through DotProduct /
  // duckDot), so ADC scores are bit-identical cross-engine and the
  // ranking gate is exact. Scale: the LUT build is O(|q|·K·dims);
  // the scan is the documented bounded probe slice (x05's rule —
  // 1% queries × corpus, and ADC's whole point is that the scanned
  // row is 4 SMALL ints, not 64 doubles); production composes this
  // with x18's IVF probes to scan only probed cells — the IVF-ADC
  // (IVFPQ) layout, both halves now gated.
  // ---------------------------------------------------------------------
  private def x95(s: SparkSession, d: String): DataFrame = {
    val e = Tables.fanout(Tables.embeddings(s, d))
      .select(col("vec_id"),
        expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("emb"))
      .cut(false) // 4 subspace trainers + query LUTs + exact truth
    val subs = (0 until PqSub).map(i => pqSubspace(e, i))
    val codes = subs.map(_._1)
      .reduce((a, b) => a.join(b, Seq("vec_id")))
      .select(col("vec_id") +:
        (0 until PqSub).map(i => col(s"code$i")): _*)
    val q = e
      .join(broadcast(evalIds(Tables.embeddings(s, d), "vec_id")),
        "vec_id")
    val luts = (0 until PqSub).map { i =>
      q.select(col("vec_id").as("q_id"),
        expr(s"slice(emb, ${PqDims * i + 1}, $PqDims)").as("qv"))
        .withColumn("qvv", DotProduct(col("qv"), col("qv")))
        .crossJoin(broadcast(subs(i)._2))
        .select(col("q_id"), col("c_id").as(s"code$i"),
          (col("qvv") - lit(2.0) * DotProduct(col("qv"), col("c_v")) +
            col("c_vv")).as(s"d$i"))
    }
    val wQ = Window.partitionBy("q_id")
    // LUT joins unhinted: the LUT side is |q|×8 ≤ EvalK×8 rows under
    // the absolute-K slice — always small, and AQE broadcasts it
    // without needing a pin.
    val adcTop = (1 until PqSub)
      .foldLeft(codes.join(luts(0), Seq("code0")))((acc, i) =>
        acc.join(luts(i), Seq("q_id", s"code$i")))
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("adc",
        (0 until PqSub).map(i => col(s"d$i")).reduce(_ + _))
      .withColumn("rk", row_number().over(
        wQ.orderBy(col("adc"), col("vec_id"))))
      .filter(col("rk") <= 10)
      .select("q_id", "vec_id", "rk")
    // x05's truth-slice shape: the query side is ≤ EvalK rows under
    // the absolute-K slice, so the cross join is O(n·K) and the small
    // side broadcasts (AQE / BNLJ pick it up unhinted).
    val truthTop = e
      .crossJoin(q.select(col("vec_id").as("q_id"), col("emb").as("qe")))
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("l2", DotProduct(col("emb"), col("emb")) -
        lit(2.0) * DotProduct(col("emb"), col("qe")) +
        DotProduct(col("qe"), col("qe")))
      .withColumn("rk", row_number().over(
        wQ.orderBy(col("l2"), col("vec_id"))))
      .filter(col("rk") <= 10)
      .select("q_id", "vec_id", "rk")
    val hits = adcTop.select("q_id", "vec_id")
      .join(truthTop.select("q_id", "vec_id"), Seq("q_id", "vec_id"))
      .groupBy("q_id").agg(count(lit(1)).as("nh"))
    // Denominator = the per-query TRUTH-list size, not the literal 10:
    // x93's rule — robust to corpora smaller than k.
    val truthCnt = truthTop.groupBy("q_id").agg(count(lit(1)).as("nt"))
    truthTop.filter(col("rk") === 1)
      .select(col("q_id"), col("vec_id").as("exact_top1"))
      .join(adcTop.filter(col("rk") === 1)
        .select(col("q_id"), col("vec_id").as("adc_top1")), Seq("q_id"))
      .join(hits, Seq("q_id"), "left")
      .join(truthCnt, Seq("q_id"))
      .select(col("q_id"), col("exact_top1"), col("adc_top1"),
        (col("exact_top1") === col("adc_top1")).cast("long")
          .as("top1_match"),
        coalesce(col("nh"), lit(0L)).as("n_hits"),
        expr("1000000L * coalesce(nh, 0L) div nt").as("recall_ppm"))
      .orderBy("q_id")
  }
  private lazy val x95Sql = {
    val lutJoins = (1 until PqSub).map(i =>
      s"JOIN lut$i l$i ON l$i.q_id = l0.q_id" +
        s" AND l$i.c_id = k.code$i").mkString("\n       |  ")
    s"""WITH e AS (
       |  SELECT vec_id,
       |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
       |  FROM embeddings),
       |$duckQids,
       |${(0 until PqSub).map(duckPqCtes).mkString(",\n")},
       |codes AS (
       |  SELECT vec_id, ${(0 until PqSub).map(i => s"code$i")
            .mkString(", ")}
       |  FROM code0
       |  ${(1 until PqSub).map(i => s"JOIN code$i USING (vec_id)")
            .mkString("\n       |  ")}),
       |${(0 until PqSub).map(i =>
          s"""lut$i AS (
             |  SELECT s.vec_id AS q_id, c.c_id,
             |    s.vv - 2.0 * ${duckDot.format("s.v", "c.c_v")} + c.c_vv
             |      AS d$i
             |  FROM es$i s CROSS JOIN cb$i c
             |  WHERE s.vec_id IN (SELECT vec_id FROM qids))"""
            .stripMargin)
          .mkString(",\n")},
       |adc AS (
       |  SELECT l0.q_id, k.vec_id,
       |    ${(0 until PqSub).map(i => s"l$i.d$i").mkString(" + ")} AS adc
       |  FROM codes k
       |  JOIN lut0 l0 ON l0.c_id = k.code0
       |  $lutJoins
       |  WHERE k.vec_id <> l0.q_id),
       |adctop AS (
       |  SELECT q_id, vec_id, rk FROM (
       |    SELECT q_id, vec_id, ROW_NUMBER() OVER (PARTITION BY q_id
       |      ORDER BY adc, vec_id) AS rk FROM adc)
       |  WHERE rk <= 10),
       |q AS (SELECT vec_id AS q_id, emb FROM e
       |      WHERE vec_id IN (SELECT vec_id FROM qids)),
       |truthtop AS (
       |  SELECT q_id, vec_id, rk FROM (
       |    SELECT q.q_id, e.vec_id,
       |      ROW_NUMBER() OVER (PARTITION BY q.q_id ORDER BY
       |        ${duckDot.format("e.emb", "e.emb")}
       |          - 2.0 * ${duckDot.format("e.emb", "q.emb")}
       |          + ${duckDot.format("q.emb", "q.emb")}, e.vec_id) AS rk
       |    FROM e CROSS JOIN q WHERE e.vec_id <> q.q_id)
       |  WHERE rk <= 10),
       |hits AS (
       |  SELECT q_id, CAST(COUNT(*) AS BIGINT) AS nh
       |  FROM adctop JOIN truthtop USING (q_id, vec_id) GROUP BY 1),
       |tcnt AS (
       |  SELECT q_id, CAST(COUNT(*) AS BIGINT) AS nt
       |  FROM truthtop GROUP BY 1)
       |SELECT t.q_id, t.vec_id AS exact_top1, a.vec_id AS adc_top1,
       |  CAST(CASE WHEN t.vec_id = a.vec_id THEN 1 ELSE 0 END
       |    AS BIGINT) AS top1_match,
       |  CAST(COALESCE(h.nh, 0) AS BIGINT) AS n_hits,
       |  CAST(1000000 * COALESCE(h.nh, 0) // tc.nt AS BIGINT)
       |    AS recall_ppm
       |FROM truthtop t
       |JOIN adctop a ON a.q_id = t.q_id AND a.rk = 1
       |LEFT JOIN hits h ON h.q_id = t.q_id
       |JOIN tcnt tc ON tc.q_id = t.q_id
       |WHERE t.rk = 1
       |ORDER BY t.q_id""".stripMargin
  }

  // ---------------------------------------------------------------------
  // X97 — IVFPQ serve: the composition x95 documented as "the natural
  // next step" and VERDICT r9 named — x18's trained IVF prunes WHICH
  // rows to score (each query scans only its nprobe=4 probed cells'
  // postings) while x58's PQ codes shrink WHAT each row costs (four
  // LUT lookups instead of 64 doubles) — the memory layout every
  // 100 TB ANN index actually ships. Both halves reuse their gated
  // kernels verbatim: the coarse codebook/probe ranking is x18's
  // (duckIvfPrefix), the subspace codebooks/ADC tables are x58/x95's
  // (duckPqCtes), so the gate composes two proven trainers rather than
  // introducing a third. The card extends x95's quality eval with the
  // price column that makes the trade measurable: per query, ADC
  // recall@10 / top-1 agreement vs exact full-precision L2 AND
  // n_scanned — the exact BIGINT count of code rows the query actually
  // scored (flat x95 scans ALL rows; IVFPQ scans ~nprobe/K of them —
  // AnnScalingSpec pins the floor). Scale: the scan relation is the
  // probed-cell join (cluster-keyed, never all-rows); LUTs/truth
  // follow x05's unhinted rule (query side grows with the corpus).
  // ---------------------------------------------------------------------
  private def x97(s: SparkSession, d: String): DataFrame = {
    import graft.etl.{AnnIndex, PqIndex}
    val e = AnnIndex.prep(Tables.fanout(Tables.embeddings(s, d)))
      .cut(false) // consumers: IVF train/assign, 4 PQ subspaces,
                  // query side, exact truth
    // the library build/serve split — write→read parity held by
    // PqIndexSpec; this inline composition is what the oracle gates
    val idx = PqIndex.build(e)
    val q = e
      .join(broadcast(evalIds(Tables.embeddings(s, d), "vec_id")),
        "vec_id")
    val served = PqIndex.serve(
      q.select(col("vec_id").as("q_id"), col("emb"), col("norm")), idx)
    val adcTop = served
      .select(col("q_id"), col("vec_id"), col("rank").as("rk"))
    val nScanned = served.groupBy("q_id")
      .agg(max("n_scanned").as("n_scanned"))
    val wQ = Window.partitionBy("q_id")
    val truthTop = e.select(col("vec_id"), col("emb"))
      .crossJoin(q.select(col("vec_id").as("q_id"), col("emb").as("qe")))
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("l2", DotProduct(col("emb"), col("emb")) -
        lit(2.0) * DotProduct(col("emb"), col("qe")) +
        DotProduct(col("qe"), col("qe")))
      .withColumn("rk", row_number().over(
        wQ.orderBy(col("l2"), col("vec_id"))))
      .filter(col("rk") <= 10)
      .select("q_id", "vec_id", "rk")
    val hits = adcTop.select("q_id", "vec_id")
      .join(truthTop.select("q_id", "vec_id"), Seq("q_id", "vec_id"))
      .groupBy("q_id").agg(count(lit(1)).as("nh"))
    val truthCnt = truthTop.groupBy("q_id").agg(count(lit(1)).as("nt"))
    truthTop.filter(col("rk") === 1)
      .select(col("q_id"), col("vec_id").as("exact_top1"))
      .join(adcTop.filter(col("rk") === 1)
        .select(col("q_id"), col("vec_id").as("ivfpq_top1")), Seq("q_id"))
      .join(hits, Seq("q_id"), "left")
      .join(truthCnt, Seq("q_id"))
      .join(nScanned, Seq("q_id"))
      .select(col("q_id"), col("exact_top1"), col("ivfpq_top1"),
        (col("exact_top1") === col("ivfpq_top1")).cast("long")
          .as("top1_match"),
        coalesce(col("nh"), lit(0L)).as("n_hits"),
        expr("1000000L * coalesce(nh, 0L) div nt").as("recall_ppm"),
        col("n_scanned"))
      .orderBy("q_id")
  }
  private lazy val x97Sql = {
    val lutJoins = (1 until PqSub).map(i =>
      s"JOIN lut$i l$i ON l$i.q_id = s.q_id" +
        s" AND l$i.c_id = s.code$i").mkString("\n       |  ")
    s"""WITH $duckIvfPrefix,
       |$duckQids,
       |${(0 until PqSub).map(duckPqCtes).mkString(",\n")},
       |codes AS (
       |  SELECT vec_id, ${(0 until PqSub).map(i => s"code$i")
            .mkString(", ")}
       |  FROM code0
       |  ${(1 until PqSub).map(i => s"JOIN code$i USING (vec_id)")
            .mkString("\n       |  ")}),
       |probes AS (
       |  SELECT q_id, c_id AS cluster FROM (
       |    SELECT e.vec_id AS q_id, c.c_id,
       |      ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
       |        1.0 - ${duckDot.format("e.emb", "c.c_emb")}
       |          / (e.norm * c.c_norm), c.c_id) AS rk
       |    FROM e CROSS JOIN c2 c
       |      WHERE e.vec_id IN (SELECT vec_id FROM qids))
       |  WHERE rk <= $IvfProbes),
       |${(0 until PqSub).map(i =>
          s"""lut$i AS (
             |  SELECT s.vec_id AS q_id, c.c_id,
             |    s.vv - 2.0 * ${duckDot.format("s.v", "c.c_v")} + c.c_vv
             |      AS d$i
             |  FROM es$i s CROSS JOIN cb$i c
             |  WHERE s.vec_id IN (SELECT vec_id FROM qids))"""
            .stripMargin)
          .mkString(",\n")},
       |scan AS (
       |  SELECT p.q_id, k.vec_id,
       |    ${(0 until PqSub).map(i => s"k.code$i").mkString(", ")}
       |  FROM codes k
       |  JOIN assigned a ON a.vec_id = k.vec_id
       |  JOIN probes p ON p.cluster = a.cluster
       |  WHERE k.vec_id <> p.q_id),
       |nsc AS (
       |  SELECT q_id, CAST(COUNT(*) AS BIGINT) AS n_scanned
       |  FROM scan GROUP BY 1),
       |adc AS (
       |  SELECT s.q_id, s.vec_id,
       |    ${(0 until PqSub).map(i => s"l$i.d$i").mkString(" + ")} AS adc
       |  FROM scan s
       |  JOIN lut0 l0 ON l0.q_id = s.q_id AND l0.c_id = s.code0
       |  $lutJoins),
       |adctop AS (
       |  SELECT q_id, vec_id, rk FROM (
       |    SELECT q_id, vec_id, ROW_NUMBER() OVER (PARTITION BY q_id
       |      ORDER BY adc, vec_id) AS rk FROM adc)
       |  WHERE rk <= 10),
       |q AS (SELECT vec_id AS q_id, emb FROM e
       |      WHERE vec_id IN (SELECT vec_id FROM qids)),
       |truthtop AS (
       |  SELECT q_id, vec_id, rk FROM (
       |    SELECT q.q_id, e.vec_id,
       |      ROW_NUMBER() OVER (PARTITION BY q.q_id ORDER BY
       |        ${duckDot.format("e.emb", "e.emb")}
       |          - 2.0 * ${duckDot.format("e.emb", "q.emb")}
       |          + ${duckDot.format("q.emb", "q.emb")}, e.vec_id) AS rk
       |    FROM e CROSS JOIN q WHERE e.vec_id <> q.q_id)
       |  WHERE rk <= 10),
       |hits AS (
       |  SELECT q_id, CAST(COUNT(*) AS BIGINT) AS nh
       |  FROM adctop JOIN truthtop USING (q_id, vec_id) GROUP BY 1),
       |tcnt AS (
       |  SELECT q_id, CAST(COUNT(*) AS BIGINT) AS nt
       |  FROM truthtop GROUP BY 1)
       |SELECT t.q_id, t.vec_id AS exact_top1, a.vec_id AS ivfpq_top1,
       |  CAST(CASE WHEN t.vec_id = a.vec_id THEN 1 ELSE 0 END
       |    AS BIGINT) AS top1_match,
       |  CAST(COALESCE(h.nh, 0) AS BIGINT) AS n_hits,
       |  CAST(1000000 * COALESCE(h.nh, 0) // tc.nt AS BIGINT)
       |    AS recall_ppm,
       |  n.n_scanned
       |FROM truthtop t
       |JOIN adctop a ON a.q_id = t.q_id AND a.rk = 1
       |LEFT JOIN hits h ON h.q_id = t.q_id
       |JOIN tcnt tc ON tc.q_id = t.q_id
       |JOIN nsc n ON n.q_id = t.q_id
       |WHERE t.rk = 1
       |ORDER BY t.q_id""".stripMargin
  }

  // ---------------------------------------------------------------------
  // X103 — ADAPTIVE probe selection: x97 probes a FIXED nprobe=4 cells
  // per query; real IVF deployments cut probes by the coarse-distance
  // profile instead — an easy query (one dominant cell) should pay 1-2
  // cells, a boundary query up to the cap. Policy gated here: probe
  // cell i iff dist_i ≤ 1.5 × dist_min (always the nearest; capped at
  // 8) — the distance-ratio cut, computable as one window over the
  // same ≤16-row broadcast ranking x97 already runs, zero extra
  // retrieval machinery (PqIndex.serveWithProbes reuses the audited
  // serve tail behind the explicit probe relation). The card prices
  // the policy per query: recall@10 / top-1 vs exact L2 truth plus
  // n_probes AND n_scanned — the two cost columns the
  // adaptive-vs-fixed trade is measured in (x97's fixed card is the
  // baseline row set to compare against). Doubles are safe
  // cross-engine: the dot-product folds are order-pinned in both
  // dialects, so dist, mind and the 1.5× threshold compare
  // bit-identically. Scale: identical shape to x97 — the probe
  // ranking is |q|×16 behind a broadcast, the scan is bounded by the
  // probed cells, everything else contracts to per-query rows.
  //
  // MEASURED VERDICT (sf1): the ratio cut is REJECTED as a default on
  // this corpus geometry — mean 7.1 probes / 8,922 scanned rows for
  // recall@10 72.0% / top-1 78.0%, vs x97's fixed nprobe=4 at 5,030
  // rows for 80.0% / 88.5%. The failure mode is instructive and is
  // why the card exists: a query CLOSE to one centroid gets its probe
  // list cut to 1-2 cells, but in 64 dimensions proximity to a
  // centroid does not mean the true neighbors live in that cell — the
  // "easy-looking" queries lose hardest while boundary queries pay
  // the full 8-cell cap. x97's fixed policy stays the default; the
  // card prices any future policy candidate per corpus.
  // ---------------------------------------------------------------------
  private val X103MaxProbes = 8

  private def x103(s: SparkSession, d: String): DataFrame = {
    import graft.etl.{AnnIndex, PqIndex}
    val e = AnnIndex.prep(Tables.fanout(Tables.embeddings(s, d)))
      .cut(false) // consumers: IVF train/assign, 4 PQ subspaces,
                  // query side, exact truth
    val idx = PqIndex.build(e)
    val q = e
      .join(broadcast(evalIds(Tables.embeddings(s, d), "vec_id")),
        "vec_id")
    val wQ = Window.partitionBy("q_id")
    val probes = q
      .select(col("vec_id").as("q_id"), col("emb").as("q_emb"),
        col("norm").as("q_norm"))
      .crossJoin(broadcast(idx.coarse))
      .withColumn("dist", lit(1.0) -
        DotProduct(col("q_emb"), col("c_emb")) /
          (col("q_norm") * col("c_norm")))
      .withColumn("mind", min("dist").over(wQ))
      .withColumn("rk", row_number().over(
        wQ.orderBy(col("dist").asc, col("c_id"))))
      .filter(col("rk") <= X103MaxProbes &&
        (col("rk") === 1 || col("dist") <= lit(1.5) * col("mind")))
      .select(col("q_id"), col("c_id").as("cluster"))
      .cut(false) // consumers: the probed-cells scan + the probe census
    val served = PqIndex.serveWithProbes(
      q.select(col("vec_id").as("q_id"), col("emb"), col("norm")),
      idx, probes)
    val adcTop = served
      .select(col("q_id"), col("vec_id"), col("rank").as("rk"))
    val nScanned = served.groupBy("q_id")
      .agg(max("n_scanned").as("n_scanned"))
    val nProbes = probes.groupBy("q_id")
      .agg(count(lit(1)).as("n_probes"))
    val truthTop = e.select(col("vec_id"), col("emb"))
      .crossJoin(q.select(col("vec_id").as("q_id"), col("emb").as("qe")))
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("l2", DotProduct(col("emb"), col("emb")) -
        lit(2.0) * DotProduct(col("emb"), col("qe")) +
        DotProduct(col("qe"), col("qe")))
      .withColumn("rk", row_number().over(
        wQ.orderBy(col("l2"), col("vec_id"))))
      .filter(col("rk") <= 10)
      .select("q_id", "vec_id", "rk")
    val hits = adcTop.select("q_id", "vec_id")
      .join(truthTop.select("q_id", "vec_id"), Seq("q_id", "vec_id"))
      .groupBy("q_id").agg(count(lit(1)).as("nh"))
    val truthCnt = truthTop.groupBy("q_id").agg(count(lit(1)).as("nt"))
    truthTop.filter(col("rk") === 1)
      .select(col("q_id"), col("vec_id").as("exact_top1"))
      .join(adcTop.filter(col("rk") === 1)
        .select(col("q_id"), col("vec_id").as("adapt_top1")), Seq("q_id"))
      .join(hits, Seq("q_id"), "left")
      .join(truthCnt, Seq("q_id"))
      .join(nProbes, Seq("q_id"))
      .join(nScanned, Seq("q_id"))
      .select(col("q_id"), col("exact_top1"), col("adapt_top1"),
        (col("exact_top1") === col("adapt_top1")).cast("long")
          .as("top1_match"),
        coalesce(col("nh"), lit(0L)).as("n_hits"),
        expr("1000000L * coalesce(nh, 0L) div nt").as("recall_ppm"),
        col("n_probes"), col("n_scanned"))
      .orderBy("q_id")
  }
  private lazy val x103Sql = {
    val lutJoins = (1 until PqSub).map(i =>
      s"JOIN lut$i l$i ON l$i.q_id = s.q_id" +
        s" AND l$i.c_id = s.code$i").mkString("\n       |  ")
    s"""WITH $duckIvfPrefix,
       |$duckQids,
       |${(0 until PqSub).map(duckPqCtes).mkString(",\n")},
       |codes AS (
       |  SELECT vec_id, ${(0 until PqSub).map(i => s"code$i")
            .mkString(", ")}
       |  FROM code0
       |  ${(1 until PqSub).map(i => s"JOIN code$i USING (vec_id)")
            .mkString("\n       |  ")}),
       |probes AS (
       |  SELECT q_id, c_id AS cluster FROM (
       |    SELECT q_id, c_id, dist,
       |      MIN(dist) OVER (PARTITION BY q_id) AS mind,
       |      ROW_NUMBER() OVER (PARTITION BY q_id
       |        ORDER BY dist, c_id) AS rk
       |    FROM (
       |      SELECT e.vec_id AS q_id, c.c_id,
       |        1.0 - ${duckDot.format("e.emb", "c.c_emb")}
       |          / (e.norm * c.c_norm) AS dist
       |      FROM e CROSS JOIN c2 c
       |      WHERE e.vec_id IN (SELECT vec_id FROM qids)))
       |  WHERE rk <= $X103MaxProbes
       |    AND (rk = 1 OR dist <= 1.5 * mind)),
       |npb AS (
       |  SELECT q_id, CAST(COUNT(*) AS BIGINT) AS n_probes
       |  FROM probes GROUP BY 1),
       |${(0 until PqSub).map(i =>
          s"""lut$i AS (
             |  SELECT s.vec_id AS q_id, c.c_id,
             |    s.vv - 2.0 * ${duckDot.format("s.v", "c.c_v")} + c.c_vv
             |      AS d$i
             |  FROM es$i s CROSS JOIN cb$i c
             |  WHERE s.vec_id IN (SELECT vec_id FROM qids))"""
            .stripMargin)
          .mkString(",\n")},
       |scan AS (
       |  SELECT p.q_id, k.vec_id,
       |    ${(0 until PqSub).map(i => s"k.code$i").mkString(", ")}
       |  FROM codes k
       |  JOIN assigned a ON a.vec_id = k.vec_id
       |  JOIN probes p ON p.cluster = a.cluster
       |  WHERE k.vec_id <> p.q_id),
       |nsc AS (
       |  SELECT q_id, CAST(COUNT(*) AS BIGINT) AS n_scanned
       |  FROM scan GROUP BY 1),
       |adc AS (
       |  SELECT s.q_id, s.vec_id,
       |    ${(0 until PqSub).map(i => s"l$i.d$i").mkString(" + ")} AS adc
       |  FROM scan s
       |  JOIN lut0 l0 ON l0.q_id = s.q_id AND l0.c_id = s.code0
       |  $lutJoins),
       |adctop AS (
       |  SELECT q_id, vec_id, rk FROM (
       |    SELECT q_id, vec_id, ROW_NUMBER() OVER (PARTITION BY q_id
       |      ORDER BY adc, vec_id) AS rk FROM adc)
       |  WHERE rk <= 10),
       |q AS (SELECT vec_id AS q_id, emb FROM e
       |      WHERE vec_id IN (SELECT vec_id FROM qids)),
       |truthtop AS (
       |  SELECT q_id, vec_id, rk FROM (
       |    SELECT q.q_id, e.vec_id,
       |      ROW_NUMBER() OVER (PARTITION BY q.q_id ORDER BY
       |        ${duckDot.format("e.emb", "e.emb")}
       |          - 2.0 * ${duckDot.format("e.emb", "q.emb")}
       |          + ${duckDot.format("q.emb", "q.emb")}, e.vec_id) AS rk
       |    FROM e CROSS JOIN q WHERE e.vec_id <> q.q_id)
       |  WHERE rk <= 10),
       |hits AS (
       |  SELECT q_id, CAST(COUNT(*) AS BIGINT) AS nh
       |  FROM adctop JOIN truthtop USING (q_id, vec_id) GROUP BY 1),
       |tcnt AS (
       |  SELECT q_id, CAST(COUNT(*) AS BIGINT) AS nt
       |  FROM truthtop GROUP BY 1)
       |SELECT t.q_id, t.vec_id AS exact_top1, a.vec_id AS adapt_top1,
       |  CAST(CASE WHEN t.vec_id = a.vec_id THEN 1 ELSE 0 END
       |    AS BIGINT) AS top1_match,
       |  CAST(COALESCE(h.nh, 0) AS BIGINT) AS n_hits,
       |  CAST(1000000 * COALESCE(h.nh, 0) // tc.nt AS BIGINT)
       |    AS recall_ppm,
       |  p.n_probes, n.n_scanned
       |FROM truthtop t
       |JOIN adctop a ON a.q_id = t.q_id AND a.rk = 1
       |LEFT JOIN hits h ON h.q_id = t.q_id
       |JOIN tcnt tc ON tc.q_id = t.q_id
       |JOIN npb p ON p.q_id = t.q_id
       |JOIN nsc n ON n.q_id = t.q_id
       |WHERE t.rk = 1
       |ORDER BY t.q_id""".stripMargin
  }

  // ---------------------------------------------------------------------
  // X104 — IVFPQ + exact REFINE tail (VERDICT r10 #4): x97's recall is
  // bounded by PQ quantization (4×16-dim books can rank a true
  // neighbor below an impostor whose codes happen to sit closer), and
  // the standard production fix — FAISS's refine / two-stage serve —
  // re-ranks the top-k' ADC candidates by EXACT L2 against the
  // full-precision vectors: one keyed join of k'·|q| rows, recall
  // approaches the IVF probe ceiling, and the full corpus still never
  // enters the serve path. Priced the x93b way — measure, decide,
  // document: three configs (k' = 10/50/100) on ONE shared ADC pass
  // (the candidate list is computed once at k'=100 and each config is
  // a rank cut), each graded vs the exact truth: mean recall@10,
  // top-1 agreement, rows_refined (the tail's whole cost) next to
  // n_scanned_total (the ADC scan both stages already paid).
  //
  // MEASURED VERDICT (sf1, 100 queries): the refine tail is PROMOTED
  // — k'=50 lifts recall@10 81.3% → 92.1% (x97's fixed-probe
  // baseline → the IVF probe ceiling: k'=100 buys NOTHING more, so
  // 92.1% is what nprobe=4 admits) for 50 exact rows per query — 1%
  // of the 5,024-row ADC scan; and even k'=10 (re-rank only what you
  // return) fixes top-1 agreement 91% → 100% for zero extra rows,
  // because the exact minimum of the returned 10 is by definition
  // right whenever the true top-1 was retrieved at all.
  // PqIndex.serveRefined ships k'=50 as the default tail
  // ([[graft.etl.PqIndex.RefineK]]); PqIndexSpec pins
  // refine(k'→corpus, all probes) ≡ exact brute force and
  // refine-recall ≥ plain-ADC on the library path.
  //
  // Scale: the shared ADC pass is x97's audited bounded plan; each
  // config tail joins ≤ k'·|q| candidate rows (|q| ≤ EvalK by the
  // absolute-K slice) against the vector relation by key — never a
  // second corpus scan; the card contracts to 3 rows.
  // ---------------------------------------------------------------------
  private val X104Configs = Seq(("1_k10", 10), ("2_k50", 50),
    ("3_k100", 100))

  private def x104(s: SparkSession, d: String): DataFrame = {
    import graft.etl.{AnnIndex, PqIndex}
    val e = AnnIndex.prep(Tables.fanout(Tables.embeddings(s, d)))
      .cut(false) // IVF train/assign, 4 PQ subspaces, queries, truth,
                  // and the 3 refine tails' vector lookups
    val idx = PqIndex.build(e)
    val q = e
      .join(broadcast(evalIds(Tables.embeddings(s, d), "vec_id")),
        "vec_id")
    val wQ = Window.partitionBy("q_id")
    val qe = q.select(col("vec_id").as("q_id"), col("emb").as("qe"))
      .cut(false) // truth cross join + 3 refine tails
    // OVERLAP (guide §2.6, r14): a cut(false) still materializes its
    // AQE stages eagerly (only the final pass is deferred), so a
    // serial chain of cuts serializes their stage jobs. The ADC serve
    // leg and the exact-truth leg are independent — materialize them
    // on two driver threads; same relations, same checkpoints.
    val pool104 = java.util.concurrent.Executors.newFixedThreadPool(3)
    implicit val ec104: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutor(pool104)
    val servedF = scala.concurrent.Future(PqIndex.serve(
      q.select(col("vec_id").as("q_id"), col("emb"), col("norm")),
      idx, k = X104Configs.map(_._2).max)
      .cut(false)) // 3 config tails + the scan-total census
    val truthF = scala.concurrent.Future(
      e.select(col("vec_id"), col("emb"))
        .crossJoin(qe)
        .filter(col("vec_id") =!= col("q_id"))
        .withColumn("l2", DotProduct(col("emb"), col("emb")) -
          lit(2.0) * DotProduct(col("emb"), col("qe")) +
          DotProduct(col("qe"), col("qe")))
        .withColumn("rk", row_number().over(
          wQ.orderBy(col("l2"), col("vec_id"))))
        .filter(col("rk") <= 10)
        .select("q_id", "vec_id", "rk")
        .cut(false)) // 3 hit joins + tcnt + top-1
    val served = scala.concurrent.Await.result(servedF,
      scala.concurrent.duration.Duration.Inf)
    val truthTop = scala.concurrent.Await.result(truthF,
      scala.concurrent.duration.Duration.Inf)
    val nScanTot = served.groupBy("q_id")
      .agg(max("n_scanned").as("ns"))
      .agg(sum("ns").as("n_scanned_total"))
    val truthCnt = truthTop.groupBy("q_id")
      .agg(count(lit(1)).as("nt"))
    val truth1 = truthTop.filter(col("rk") === 1)
      .select(col("q_id"), col("vec_id").as("exact_top1"))
    def cfg(label: String, kRef: Int): DataFrame = {
      val cand = served.filter(col("rank") <= kRef)
        .select("q_id", "vec_id")
        .cut(false) // refine join + the rows_refined census
      val rowsRef = cand.agg(count(lit(1)).as("rows_refined"))
      val refined = cand
        .join(e.select(col("vec_id"), col("emb")), "vec_id")
        .join(qe, "q_id")
        .withColumn("l2", DotProduct(col("emb"), col("emb")) -
          lit(2.0) * DotProduct(col("emb"), col("qe")) +
          DotProduct(col("qe"), col("qe")))
        .withColumn("rrk", row_number().over(
          wQ.orderBy(col("l2"), col("vec_id"))))
        .filter(col("rrk") <= 10)
        .select("q_id", "vec_id", "rrk")
        .cut(false) // hits + the refined top-1
      val hits = refined.select("q_id", "vec_id")
        .join(truthTop.select("q_id", "vec_id"), Seq("q_id", "vec_id"))
        .groupBy("q_id").agg(count(lit(1)).as("nh"))
      truthCnt
        .join(truth1, "q_id")
        .join(hits, Seq("q_id"), "left")
        .join(refined.filter(col("rrk") === 1)
          .select(col("q_id"), col("vec_id").as("ref_top1")),
          Seq("q_id"), "left")
        .select(col("q_id"),
          expr("1000000L * coalesce(nh, 0L) div nt").as("r_ppm"),
          coalesce((col("exact_top1") === col("ref_top1"))
            .cast("long"), lit(0L)).as("t1"))
        .agg(count(lit(1)).as("n_q"),
          expr("sum(r_ppm) div count(1)").as("recall_ppm"),
          expr("1000000L * sum(t1) div count(1)").as("top1_ppm"))
        .crossJoin(broadcast(rowsRef))
        .select(lit(label).as("config"), col("n_q"),
          col("recall_ppm"), col("top1_ppm"), col("rows_refined"))
    }
    // the 3 config tails are independent given served/truthTop/qe —
    // build (and thus materialize their cuts) concurrently
    val cfgs = try scala.concurrent.Await.result(
      scala.concurrent.Future.sequence(X104Configs.map { case (l, k) =>
        scala.concurrent.Future(cfg(l, k))
      }), scala.concurrent.duration.Duration.Inf)
    finally pool104.shutdown()
    cfgs.reduce(_ unionByName _)
      .crossJoin(broadcast(nScanTot))
      .orderBy("config")
  }
  /** One x104 config's refine-and-grade CTE chain. */
  private def x104CfgSql(tag: String, label: String, kRef: Int)
      : String =
    s"""cand_$tag AS (
       |  SELECT q_id, vec_id FROM adctop WHERE rk <= $kRef),
       |nref_$tag AS (
       |  SELECT CAST(COUNT(*) AS BIGINT) AS rows_refined
       |  FROM cand_$tag),
       |rr_$tag AS (
       |  SELECT c.q_id, c.vec_id,
       |    ROW_NUMBER() OVER (PARTITION BY c.q_id ORDER BY
       |      ${duckDot.format("v.emb", "v.emb")}
       |        - 2.0 * ${duckDot.format("v.emb", "q.emb")}
       |        + ${duckDot.format("q.emb", "q.emb")}, c.vec_id)
       |      AS rrk
       |  FROM cand_$tag c
       |  JOIN e v ON v.vec_id = c.vec_id
       |  JOIN q ON q.q_id = c.q_id),
       |top_$tag AS (SELECT q_id, vec_id FROM rr_$tag WHERE rrk <= 10),
       |hits_$tag AS (
       |  SELECT q_id, CAST(COUNT(*) AS BIGINT) AS nh
       |  FROM top_$tag JOIN truthtop USING (q_id, vec_id) GROUP BY 1),
       |sum_$tag AS (
       |  SELECT '$label' AS config, CAST(COUNT(*) AS BIGINT) AS n_q,
       |    CAST(SUM(1000000 * COALESCE(h.nh, 0) // tc.nt)
       |      // COUNT(*) AS BIGINT) AS recall_ppm,
       |    CAST(1000000 * SUM(CASE WHEN r1.vec_id = t1.exact_top1
       |        THEN 1 ELSE 0 END) // COUNT(*) AS BIGINT) AS top1_ppm,
       |    (SELECT rows_refined FROM nref_$tag) AS rows_refined
       |  FROM tcnt tc
       |  JOIN t1 ON t1.q_id = tc.q_id
       |  LEFT JOIN hits_$tag h ON h.q_id = tc.q_id
       |  LEFT JOIN (SELECT q_id, vec_id FROM rr_$tag WHERE rrk = 1) r1
       |    ON r1.q_id = tc.q_id)""".stripMargin

  private lazy val x104Sql = {
    val lutJoins = (1 until PqSub).map(i =>
      s"JOIN lut$i l$i ON l$i.q_id = s.q_id" +
        s" AND l$i.c_id = s.code$i").mkString("\n       |  ")
    val kMax = X104Configs.map(_._2).max
    s"""WITH $duckIvfPrefix,
       |$duckQids,
       |${(0 until PqSub).map(duckPqCtes).mkString(",\n")},
       |codes AS (
       |  SELECT vec_id, ${(0 until PqSub).map(i => s"code$i")
            .mkString(", ")}
       |  FROM code0
       |  ${(1 until PqSub).map(i => s"JOIN code$i USING (vec_id)")
            .mkString("\n       |  ")}),
       |probes AS (
       |  SELECT q_id, c_id AS cluster FROM (
       |    SELECT e.vec_id AS q_id, c.c_id,
       |      ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
       |        1.0 - ${duckDot.format("e.emb", "c.c_emb")}
       |          / (e.norm * c.c_norm), c.c_id) AS rk
       |    FROM e CROSS JOIN c2 c
       |      WHERE e.vec_id IN (SELECT vec_id FROM qids))
       |  WHERE rk <= $IvfProbes),
       |${(0 until PqSub).map(i =>
          s"""lut$i AS (
             |  SELECT s.vec_id AS q_id, c.c_id,
             |    s.vv - 2.0 * ${duckDot.format("s.v", "c.c_v")} + c.c_vv
             |      AS d$i
             |  FROM es$i s CROSS JOIN cb$i c
             |  WHERE s.vec_id IN (SELECT vec_id FROM qids))"""
            .stripMargin)
          .mkString(",\n")},
       |scan AS (
       |  SELECT p.q_id, k.vec_id,
       |    ${(0 until PqSub).map(i => s"k.code$i").mkString(", ")}
       |  FROM codes k
       |  JOIN assigned a ON a.vec_id = k.vec_id
       |  JOIN probes p ON p.cluster = a.cluster
       |  WHERE k.vec_id <> p.q_id),
       |nsct AS (
       |  SELECT CAST(COUNT(*) AS BIGINT) AS n_scanned_total FROM scan),
       |adc AS (
       |  SELECT s.q_id, s.vec_id,
       |    ${(0 until PqSub).map(i => s"l$i.d$i").mkString(" + ")} AS adc
       |  FROM scan s
       |  JOIN lut0 l0 ON l0.q_id = s.q_id AND l0.c_id = s.code0
       |  $lutJoins),
       |adctop AS (
       |  SELECT q_id, vec_id, rk FROM (
       |    SELECT q_id, vec_id, ROW_NUMBER() OVER (PARTITION BY q_id
       |      ORDER BY adc, vec_id) AS rk FROM adc)
       |  WHERE rk <= $kMax),
       |q AS (SELECT vec_id AS q_id, emb FROM e
       |      WHERE vec_id IN (SELECT vec_id FROM qids)),
       |truthtop AS (
       |  SELECT q_id, vec_id, rk FROM (
       |    SELECT q.q_id, e.vec_id,
       |      ROW_NUMBER() OVER (PARTITION BY q.q_id ORDER BY
       |        ${duckDot.format("e.emb", "e.emb")}
       |          - 2.0 * ${duckDot.format("e.emb", "q.emb")}
       |          + ${duckDot.format("q.emb", "q.emb")}, e.vec_id) AS rk
       |    FROM e CROSS JOIN q WHERE e.vec_id <> q.q_id)
       |  WHERE rk <= 10),
       |tcnt AS (
       |  SELECT q_id, CAST(COUNT(*) AS BIGINT) AS nt
       |  FROM truthtop GROUP BY 1),
       |t1 AS (
       |  SELECT q_id, vec_id AS exact_top1 FROM truthtop WHERE rk = 1),
       |${X104Configs.map { case (l, k) =>
            x104CfgSql(l.takeRight(l.length - 2), l, k)
          }.mkString(",\n")}
       |SELECT s.config, s.n_q, s.recall_ppm, s.top1_ppm,
       |  s.rows_refined, n.n_scanned_total
       |FROM (${X104Configs.map(c =>
            s"SELECT * FROM sum_${c._1.drop(2)}")
          .mkString("\n      UNION ALL ")}) s
       |CROSS JOIN nsct n
       |ORDER BY s.config""".stripMargin
  }

  // ---------------------------------------------------------------------
  // W10 — the DENSE family's disk lifecycle, gated at the SERVE grain:
  // w09 proves the sparse family's composed nightly (segments +
  // policy-fired in-place compaction + manifest flip) end to end on
  // disk; this is its IVFPQ twin, closing the lifecycle symmetry the
  // same way. Four "nights" against one on-disk PqSegments layout in
  // a fresh temp dir:
  //   init   — PqIndex.build on the base slice (vec_id % 3 ≠ 0): the
  //            coarse codebook AND the four PQ books train on the
  //            base and FREEZE — the family's whole contract;
  //   n1/n2  — appendSeg the % 6 = 0 and % 6 = 3 shards (together
  //            exactly the % 3 = 0 class): each an O(delta)
  //            frozen-book encode published atomically;
  //   policy — SegmentOps.shouldCompact(maxSegs=2) fires →
  //            compactInPlace folds both segments into base-g<v> and
  //            flips the manifest (books pass through frozen);
  //   n3     — deleteSeg the vec_id % 10 = 3 revision set: tombstones
  //            ON the compacted base;
  //   serve  — PqIndex.serve (probes × ADC scan, exact n_scanned)
  //            through the resolved snapshot view, queries = the
  //            absolute-K slice ∩ survivors.
  // The oracle rebuilds from scratch in an engine with no segments:
  // coarse + PQ books trained on the BASE slice only (the frozen-book
  // contract, w08's pq-leg discipline), survivors assigned + encoded
  // against them, x97's probe/LUT/ADC serve chain over the result —
  // hash-exact down to every ADC double and the exact per-query
  // n_scanned, so one wrong tombstone scope, a book retrained during
  // compaction, or a stale cell row each moves a row and fails the
  // gate. Scale: nightly writes O(delta); serve scans only probed
  // cells' code rows; the truth side is the bounded slice.
  // ---------------------------------------------------------------------
  private def w10(s: SparkSession, d: String): DataFrame = {
    import graft.etl.{AnnIndex, PqIndex, PqSegments, SegmentOps}
    val root = java.nio.file.Files
      .createTempDirectory("graft_w10_pq_lifecycle").toString
    val e = AnnIndex.prep(Tables.fanout(Tables.embeddings(s, d)))
      .cut(false) // base build, two shards, retraction ids, queries
    PqSegments.init(
      PqIndex.build(e.filter(col("vec_id") % 3 =!= 0)), root)
    PqSegments.appendSeg(s, root, e.filter(col("vec_id") % 6 === 0))
    PqSegments.appendSeg(s, root, e.filter(col("vec_id") % 6 === 3))
    // maxSegs=2 PINNED (not SegmentOps.DefaultMaxSegs=4): this fixed,
    // certified script exercises a mid-script compaction flip, which
    // the measured default would never fire at 2 batches (x105)
    if (SegmentOps.shouldCompact(s, root, maxSegs = 2))
      PqSegments.compactInPlace(s, root)
    PqSegments.deleteSeg(s, root,
      e.select("vec_id").filter(col("vec_id") % 10 === 3))
    val idx = PqSegments.read(s, root)
    val q = e
      .join(broadcast(evalIds(Tables.embeddings(s, d), "vec_id")),
        "vec_id")
      .filter(col("vec_id") % 10 =!= 3) // a deleted vector no longer
                                        // issues queries (x98's rule)
      .select(col("vec_id").as("q_id"), col("emb"), col("norm"))
    PqIndex.serve(q, idx).orderBy("q_id", "rank")
  }
  /** One w10 subspace chain: the PQ book trained on the BASE slice
    * (frozen), survivor codes + query LUTs against it — fresh
    * `u`-prefixed names so the shared duckPqCtes/w08PqCtes texts stay
    * untouched. */
  private def w10PqCtes(i: Int, survCond: String): String = {
    val lo = PqDims * i + 1
    val hi = PqDims * (i + 1)
    s"""usl$i AS (SELECT vec_id, emb[$lo:$hi] AS v FROM e
       |  WHERE vec_id % 3 <> 0),
       |ues$i AS (SELECT vec_id, v,
       |  ${duckDot.format("v", "v")} AS vv FROM usl$i),
       |usd$i AS (
       |  SELECT vec_id AS c_id, v AS c_v, vv AS c_vv FROM ues$i
       |  ORDER BY ((vec_id % 2147483648) * 2654435761) % 1000000007,
       |    vec_id
       |  LIMIT $PqK),
       |upa$i AS (
       |  SELECT vec_id, v, c_id AS cluster FROM (
       |    SELECT s.vec_id, s.v, c.c_id,
       |      ROW_NUMBER() OVER (PARTITION BY s.vec_id ORDER BY
       |        s.vv - 2.0 * ${duckDot.format("s.v", "c.c_v")} + c.c_vv,
       |        c.c_id) AS rk
       |    FROM ues$i s CROSS JOIN usd$i c) WHERE rk = 1),
       |upm$i AS (
       |  SELECT cluster, j,
       |    CAST(CAST(SUM(CAST(v[j] AS DECIMAL(18,6))) AS VARCHAR)
       |        AS DOUBLE)
       |      / CAST(COUNT(*) AS DOUBLE) AS coord
       |  FROM upa$i, unnest(generate_series(1, len(v))) AS t(j)
       |  GROUP BY 1, 2),
       |uvl$i AS (
       |  SELECT cluster AS c_id, list(coord ORDER BY j) AS c_v
       |  FROM upm$i GROUP BY 1),
       |ucb$i AS (
       |  SELECT c_id, c_v, ${duckDot.format("c_v", "c_v")} AS c_vv
       |  FROM uvl$i),
       |uss$i AS (SELECT vec_id, emb[$lo:$hi] AS v FROM e
       |  WHERE $survCond),
       |use$i AS (SELECT vec_id, v,
       |  ${duckDot.format("v", "v")} AS vv FROM uss$i),
       |ucode$i AS (
       |  SELECT vec_id, c_id AS code$i FROM (
       |    SELECT s.vec_id, c.c_id,
       |      ROW_NUMBER() OVER (PARTITION BY s.vec_id ORDER BY
       |        s.vv - 2.0 * ${duckDot.format("s.v", "c.c_v")} + c.c_vv,
       |        c.c_id) AS rk
       |    FROM use$i s CROSS JOIN ucb$i c) WHERE rk = 1),
       |ulut$i AS (
       |  SELECT s.vec_id AS q_id, c.c_id,
       |    s.vv - 2.0 * ${duckDot.format("s.v", "c.c_v")} + c.c_vv
       |      AS d$i
       |  FROM use$i s CROSS JOIN ucb$i c
       |  WHERE s.vec_id IN (SELECT vec_id FROM qids))""".stripMargin
  }

  /** The dense family's LIFECYCLE serve chain as reusable CTE text:
    * coarse + PQ books trained on the %3≠0 BASE slice (frozen — the
    * family contract), survivors per `survCond` assigned + encoded
    * against them, probes/LUTs for `qids`, the probed-cells ADC scan.
    * Emits up to `uadc`(q_id, vec_id, adc) + `unsc`(q_id, n_scanned).
    * Shared by w10Sql (survivors = `vec_id % 10 <> 3` after the
    * retraction night) and w12Sql (survivors = TRUE — the online
    * script is append-only), so both lifecycle oracles serve from ONE
    * frozen-book definition. Expects `raw`/`e`/`qids` CTEs upstream. */
  private def w10DenseCtes(survCond: String): String = {
    val lutJoins = (1 until PqSub).map(i =>
      s"JOIN ulut$i l$i ON l$i.q_id = s.q_id" +
        s" AND l$i.c_id = s.code$i").mkString("\n       |  ")
    s"""ube AS (SELECT * FROM e WHERE vec_id % 3 <> 0),
       |ubsd AS (
       |  SELECT vec_id AS c_id, emb AS c_emb, norm AS c_norm
       |  FROM ube ORDER BY ((vec_id % 2147483648) * 2654435761)
       |    % 1000000007, vec_id
       |  LIMIT $IvfK),
       |${duckLloydCtes("ubsd", "u1", "ube")},
       |${duckLloydCtes("cu1", "u2", "ube")},
       |usv AS (SELECT * FROM e WHERE $survCond),
       |uasg AS (
       |  SELECT vec_id, c_id AS cluster FROM (
       |    SELECT e.vec_id, c.c_id,
       |      ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
       |        1.0 - ${duckDot.format("e.emb", "c.c_emb")}
       |          / (e.norm * c.c_norm), c.c_id) AS rk
       |    FROM usv e CROSS JOIN cu2 c) WHERE rk = 1),
       |uprb AS (
       |  SELECT q_id, c_id AS cluster FROM (
       |    SELECT e.vec_id AS q_id, c.c_id,
       |      ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
       |        1.0 - ${duckDot.format("e.emb", "c.c_emb")}
       |          / (e.norm * c.c_norm), c.c_id) AS rk
       |    FROM usv e CROSS JOIN cu2 c
       |      WHERE e.vec_id IN (SELECT vec_id FROM qids))
       |  WHERE rk <= $IvfProbes),
       |${(0 until PqSub).map(i => w10PqCtes(i, survCond))
          .mkString(",\n")},
       |ucodes AS (
       |  SELECT vec_id, ${(0 until PqSub).map(i => s"code$i")
            .mkString(", ")}
       |  FROM ucode0
       |  ${(1 until PqSub).map(i => s"JOIN ucode$i USING (vec_id)")
            .mkString("\n       |  ")}),
       |uscan AS (
       |  SELECT p.q_id, k.vec_id,
       |    ${(0 until PqSub).map(i => s"k.code$i").mkString(", ")}
       |  FROM ucodes k
       |  JOIN uasg a ON a.vec_id = k.vec_id
       |  JOIN uprb p ON p.cluster = a.cluster
       |  WHERE k.vec_id <> p.q_id),
       |unsc AS (
       |  SELECT q_id, CAST(COUNT(*) AS BIGINT) AS n_scanned
       |  FROM uscan GROUP BY 1),
       |uadc AS (
       |  SELECT s.q_id, s.vec_id,
       |    ${(0 until PqSub).map(i => s"l$i.d$i").mkString(" + ")} AS adc
       |  FROM uscan s
       |  JOIN ulut0 l0 ON l0.q_id = s.q_id AND l0.c_id = s.code0
       |  $lutJoins)""".stripMargin
  }

  private lazy val w10Sql =
    s"""WITH raw AS (
       |  SELECT vec_id,
       |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
       |  FROM embeddings),
       |e AS (
       |  SELECT vec_id, emb,
       |    sqrt(${duckDot.format("emb", "emb")}) AS norm
       |  FROM raw),
       |$duckQids,
       |${w10DenseCtes("vec_id % 10 <> 3")}
       |SELECT t.q_id, t.vec_id, t.rank, t.adc, n.n_scanned FROM (
       |  SELECT q_id, vec_id, adc,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY q_id
       |      ORDER BY adc, vec_id) AS BIGINT) AS rank
       |  FROM uadc) t
       |JOIN unsc n ON n.q_id = t.q_id
       |WHERE t.rank <= 10
       |ORDER BY t.q_id, t.rank""".stripMargin

  // ---------------------------------------------------------------------
  // W11 — the MINHASH family's disk lifecycle, gated at the serve
  // grain: the trilogy closer after w09 (sparse) and w10 (dense).
  // Four "nights" against one on-disk MinHashSegments layout:
  //   init   — sign the base slice (doc_id % 3 ≠ 0) at k=16 (the
  //            stored k every later delta signs at);
  //   n1/n2  — appendSeg the % 6 = 0 and % 6 = 3 document shards
  //            (raw docs — the layer signs them at the STORED k);
  //   policy — shouldCompact(maxSegs=2) fires → compactInPlace (the
  //            k meta carries through the manifest flip);
  //   n3     — deleteSeg the doc_id % 10 = 3 revision set;
  //   serve  — x02's banding + verify over the resolved snapshot
  //            view: every LSH candidate pair with its exact
  //            signature-agreement count.
  // The oracle re-signs the SURVIVING corpus from scratch (x02's
  // sigm chain over `corpus` = documents % 10 ≠ 3) in an engine with
  // no segments — hash equality proves the stored signatures, the
  // scoped tombstones, the stored-k append discipline and the
  // compaction fold all compose to exactly the from-scratch index at
  // the pair grain a dedup pipeline consumes. Scale: nightly signs
  // only the delta; banding cost is candidate-bounded (the capped
  // x02 plan); the oracle side is DuckDB's problem.
  // ---------------------------------------------------------------------
  private def w11(s: SparkSession, d: String): DataFrame = {
    import graft.etl.{MinHashSegments, NearDup, SegmentOps}
    val root = java.nio.file.Files
      .createTempDirectory("graft_w11_mh_lifecycle").toString
    val docs = Tables.fanout(Tables.documents(s, d))
      .cut(false) // base signing, two shards, retraction ids
    MinHashSegments.init(
      NearDup.signatures(docs.filter(col("doc_id") % 3 =!= 0)), root)
    MinHashSegments.appendSeg(s, root,
      docs.filter(col("doc_id") % 6 === 0))
    MinHashSegments.appendSeg(s, root,
      docs.filter(col("doc_id") % 6 === 3))
    // maxSegs=2 PINNED (not SegmentOps.DefaultMaxSegs=4): this fixed,
    // certified script exercises a mid-script compaction flip, which
    // the measured default would never fire at 2 batches (x105)
    if (SegmentOps.shouldCompact(s, root, maxSegs = 2))
      MinHashSegments.compactInPlace(s, root)
    MinHashSegments.deleteSeg(s, root,
      docs.select("doc_id").filter(col("doc_id") % 10 === 3))
    val sigs = MinHashSegments.read(s, root)
    NearDup.agreementOf(sigs, NearDup.candidates(sigs))
      .orderBy("doc_a", "doc_b")
  }
  private lazy val w11Sql =
    s"""WITH corpus AS (
       |  SELECT doc_id, text FROM documents WHERE doc_id % 10 <> 3),
       |$duckMinhashCtes,
       |sigm AS (
       |  SELECT c.doc_a, c.doc_b,
       |    len(list_filter(list_zip(sa.sig, sb.sig),
       |        p -> p[1] = p[2])) AS m
       |  FROM cand c
       |  JOIN sigs sa ON sa.doc_id = c.doc_a
       |  JOIN sigs sb ON sb.doc_id = c.doc_b)
       |SELECT doc_a, doc_b, m AS sig_matches
       |FROM sigm ORDER BY doc_a, doc_b""".stripMargin

  // ---------------------------------------------------------------------
  // X105 — compaction policy PRICED (VERDICT r11 #5): shouldCompact's
  // maxSegs knob was shipped on structural argument alone; this card
  // measures the curve the knob trades on, cross-engine, the
  // x103/x93b discipline. One fixed 6-night ingest script (append
  // %7=1,2,3 → delete %10=3 → append %7=4,5 — a delete mid-stream so
  // tombstone scoping crosses fold boundaries) runs against THREE
  // on-disk MinHash layouts differing only in policy: compact-never,
  // compact-at-2, compact-at-4 (checked after every night, the w09
  // nightly shape). Every number is measured from the ACTUAL layout —
  // parquet rows across all on-disk generations and segments, nothing
  // vacuumed, so the whole write history is countable — and the
  // oracle recomputes each from pure document-class arithmetic, so a
  // policy that misfires, a segment not folded, or a wrong tombstone
  // scope shifts a measured cell off its expected value:
  //   n_compactions     — base generations on disk minus one;
  //   segs_at_serve     — the snapshot's segment count = the serve
  //                       view's extra plan depth (READ amplification
  //                       in units of per-segment union/anti-join);
  //   rows_written      — total sig+tomb rows ever written (WRITE
  //                       amplification: each fold rewrites the live
  //                       set);
  //   rows_composed     — rows the serve view actually unions (base +
  //                       snapshot segments, the bytes a query pays);
  //   n_live / live_docid_sum — the live index, IDENTICAL across
  //                       configs (policy must never change answers).
  // MEASURED VERDICT (sf1, final live 40,000 docs): never writes
  // 1.00x data (47,857 rows) but every serve composes all 47,857
  // written rows (live + masked + tombs) through 6 extra plan
  // layers; at-2 serves a flat 40,000-row base (0 layers, 16% fewer
  // composed rows) for 2.82x write amplification (135,001 — three
  // folds, each rewriting the then-live set); at-4 lands at 1.54x
  // writes (73,572 — one fold) with 2 layers and the SAME 40,000
  // composed rows (the post-delete fold purged the masked rows; the
  // two carried appends are pure live adds). The promoted default is
  // maxSegs ≈ 4 nights of churn: it buys at-2's entire composed-row
  // win at 55% of its write amplification, read cost is per-SERVE
  // and multiplies by query volume while write cost is per-night —
  // move the knob toward `never` only when queries are rare relative
  // to ingest, toward 2 when serve latency dominates (the residual
  // cost of segments is plan depth, not rows). Scale: per-night
  // writes stay O(delta); the card's own counts are parquet-footer
  // counts (metadata, not scans) except the O(live) fold rewrites
  // that ARE the thing being priced.
  // ---------------------------------------------------------------------
  private val X105Configs = Seq(("1_never", 0), ("2_at2", 2),
    ("3_at4", 4))

  private def x105(s: SparkSession, d: String): DataFrame = {
    import graft.etl.{MinHashSegments, NearDup, SegmentOps}
    // EAGER cut (not lazy): the shared input is materialized once,
    // here, before the per-config thread pool below starts, so every
    // config thread reads the same checkpointed rows and none of them
    // computes the input again
    val docs = Tables.fanout(Tables.documents(s, d))
      .select("doc_id", "text")
      .cut() // 3 configs × (1 init + 5 append shards) + delete ids
    def cls(i: Int) = docs.filter(col("doc_id") % 7 === i)
    val delIds = docs.select("doc_id").filter(col("doc_id") % 10 === 3)
    // the three policy layouts are fully independent (own roots) —
    // run their night scripts on parallel driver threads, the
    // writeOrdered discipline (local[32] absorbs the overlapped tiny
    // jobs; a sequential sweep was measured at 19.9 s vs ~8 s here)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(3)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutor(pool)
    val cards = try scala.concurrent.Await.result(
      scala.concurrent.Future.sequence(X105Configs.map {
        case (label, maxSegs) => scala.concurrent.Future {
          val root = java.nio.file.Files
            .createTempDirectory(s"graft_x105_$label").toString
          MinHashSegments.init(NearDup.signatures(cls(0)), root)
          def policy(): Unit =
            if (maxSegs > 0 &&
                SegmentOps.shouldCompact(s, root, maxSegs))
              MinHashSegments.compactInPlace(s, root)
          (1 to 3).foreach { i =>
            MinHashSegments.appendSeg(s, root, cls(i)); policy()
          }
          MinHashSegments.deleteSeg(s, root, delIds); policy()
          (4 to 5).foreach { i =>
            MinHashSegments.appendSeg(s, root, cls(i)); policy()
          }
          // measure the layout itself: all generations + all published
          // segments are still on disk (nothing vacuumed); one
          // multi-path footer count per table kind, not one job per dir
          val rootP = new org.apache.hadoop.fs.Path(root)
          val fs = rootP
            .getFileSystem(s.sparkContext.hadoopConfiguration)
          val baseDirs = fs.listStatus(rootP).toSeq
            .map(_.getPath.getName)
            .filter(n => n == "base" || n.startsWith("base-g"))
          def rows(rels: Seq[String]): Long =
            SegmentOps.footerRows(s, rels)
          val segDirs = SegmentOps.listSegEntries(s, root).map(_._2)
          def segRows(dirs: Seq[String]): Long =
            rows(dirs.map(d => s"$root/segs/$d/sigs")) +
              rows(dirs.map(d => s"$root/segs/$d/tombs"))
          val written =
            rows(baseDirs.map(b => s"$root/$b/minhash_index")) +
              segRows(segDirs)
          val snap = SegmentOps.resolveSnapshot(s, root)
          val composed =
            rows(Seq(s"$root/${snap.baseDir}/minhash_index")) +
              segRows(snap.segs.map(_._2))
          // exact decimal accumulation, emitted as BIGINT: the values
          // are identical (doc_id sums are far below 2^63), and a
          // bigint cell renders as int64 in EVERY consumer — a
          // decimal(38,0) column is the one type DuckDB's fetchdf
          // (float64) and pyarrow (Decimal object) render differently,
          // which is exactly the driver-hash divergence that made the
          // r12/r13 rows red while every cell VALUE matched (see
          // OPTIMIZATION_r14.md "Inherited state")
          val live = MinHashSegments.read(s, root)
            .agg(count(lit(1)).as("n_live"),
              sum(col("doc_id").cast("decimal(38,0)"))
                .cast("bigint").as("s"))
            .head()
          (label, (baseDirs.size - 1).toLong, snap.segs.size.toLong,
            written, composed, live.getLong(0), live.getLong(1))
        }
      }), scala.concurrent.duration.Duration.Inf)
    finally pool.shutdown()
    // forensics (VERDICT r12 #1): name every measured cell on stderr
    // so a future driver-row hash mismatch points at the exact cell,
    // not just the 3-row card
    cards.foreach { case (l, nc, ss, w, c, nl, ds) =>
      System.err.println(
        s"""GRAFT_FORENSICS x105 {"config":"$l","n_compactions":$nc,""" +
          s""""segs_at_serve":$ss,"rows_written":$w,""" +
          s""""rows_composed":$c,"n_live":$nl,"live_docid_sum":$ds}""")
    }
    import s.implicits._
    cards.toDF("config", "n_compactions", "segs_at_serve",
        "rows_written", "rows_composed", "n_live", "live_docid_sum")
      .orderBy("config")
  }
  /** The oracle recomputes every measured cell from document-class
    * arithmetic: sig rows per class follow NearDup.signatures'
    * eligibility (≥ 3 whitespace words), tomb rows are the RAW delete
    * set (ids arrive unfiltered), fold rewrites are the live count at
    * each fold point of the fixed script. */
  private lazy val x105Sql = {
    val el = "len(string_split(text, ' ')) >= 3"
    s"""WITH c AS (
       |  SELECT
       |    ${(0 to 5).map(i =>
              s"CAST(COUNT(*) FILTER (WHERE doc_id % 7 = $i AND $el) " +
                s"AS BIGINT) AS n$i").mkString(",\n       |    ")},
       |    CAST(COUNT(*) FILTER (WHERE doc_id % 10 = 3) AS BIGINT)
       |      AS nd,
       |    CAST(COUNT(*) FILTER (WHERE doc_id % 7 <= 2 AND $el)
       |      AS BIGINT) AS n012,
       |    CAST(COUNT(*) FILTER (WHERE doc_id % 7 <= 3
       |      AND doc_id % 10 <> 3 AND $el) AS BIGINT) AS live0123d
       |  FROM documents),
       |live AS (
       |  SELECT CAST(COUNT(*) AS BIGINT) AS n_live,
       |    CAST(SUM(doc_id) AS BIGINT) AS live_docid_sum
       |  FROM documents
       |  WHERE $el AND ((doc_id % 7 <= 3 AND doc_id % 10 <> 3)
       |    OR doc_id % 7 IN (4, 5)))
       |SELECT * FROM (
       |  SELECT '1_never' AS config, CAST(0 AS BIGINT) AS n_compactions,
       |    CAST(6 AS BIGINT) AS segs_at_serve,
       |    n0 + n1 + n2 + n3 + n4 + n5 + nd AS rows_written,
       |    n0 + n1 + n2 + n3 + n4 + n5 + nd AS rows_composed,
       |    n_live, live_docid_sum
       |  FROM c, live
       |  UNION ALL
       |  SELECT '2_at2', CAST(3 AS BIGINT), CAST(0 AS BIGINT),
       |    (n0 + n1 + n2 + n3 + n4 + n5 + nd)
       |      + (n012 + live0123d + n_live),
       |    n_live, n_live, live_docid_sum
       |  FROM c, live
       |  UNION ALL
       |  SELECT '3_at4', CAST(1 AS BIGINT), CAST(2 AS BIGINT),
       |    (n0 + n1 + n2 + n3 + n4 + n5 + nd) + live0123d,
       |    live0123d + n4 + n5, n_live, live_docid_sum
       |  FROM c, live)
       |ORDER BY config""".stripMargin
  }

  // ---------------------------------------------------------------------
  // X107 — TIERED compaction priced against x105's options. x105's
  // verdict (fold the whole layout at maxSegs≈4) still rewrites the
  // BASE every fold — O(live) per fire, unpayable when the base is the
  // 100 TB part and the nightly churn is the small part. The tiered
  // move (MinHashSegments.mergeSegs): fold only the k OLDEST SEGMENTS
  // into one merged segment — cost O(folded deltas), the base is never
  // rewritten for churn. This card runs x105's EXACT 6-night script
  // (same classes, same mid-stream delete) against never / fold-at-4
  // (x105's promoted default) / tiered(merge oldest 2 at ≥3 segs), and
  // every cell is measured from the actual on-disk layout then
  // recomputed by the oracle from document-class arithmetic — the
  // merge algebra (within-range scoped adds, union tombs) is thereby
  // oracle-checked end-to-end, not just spec-pinned.
  // The measured verdict is two-sided, and the card prices BOTH
  // sides honestly: tiered holds serve depth at 2 segments with ZERO
  // base rewrites, but on this corpus's UNIFORM class sizes (base =
  // 1/7 of the data) its naive merge-oldest-2 schedule re-absorbs the
  // standing merged segment every night and writes ~3.5x the fold's
  // extra rows (sf0.001: 916 merge rows vs the fold's 258). The
  // decision variable is the base:churn ratio r — the fold's fire
  // costs O(base + churn) ∝ r while every tiered merge costs O(churn)
  // only, so tiered wins from roughly r > merges·(merge size/churn)
  // — i.e. almost always in production, where the base is years and
  // the churn is a night — and the right hybrid is tiered nightly +
  // x105's fold when merged churn approaches base size. Scale: merges
  // are O(delta·merges), counts are parquet-footer metadata reads;
  // same eager-cut + forensics + determinism-under-load discipline as
  // x105 (the pool races the same way).
  // ---------------------------------------------------------------------
  private def x107(s: SparkSession, d: String): DataFrame = {
    import graft.etl.{MinHashSegments, NearDup, SegmentOps}
    val docs = Tables.fanout(Tables.documents(s, d))
      .select("doc_id", "text")
      .cut() // EAGER: materialized before the config pool (x105's rule)
    def cls(i: Int) = docs.filter(col("doc_id") % 7 === i)
    val delIds = docs.select("doc_id").filter(col("doc_id") % 10 === 3)
    val configs = Seq("1_never", "2_at4_fold", "3_tiered")
    val pool = java.util.concurrent.Executors.newFixedThreadPool(3)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutor(pool)
    val cards = try scala.concurrent.Await.result(
      scala.concurrent.Future.sequence(configs.map { label =>
        scala.concurrent.Future {
          val root = java.nio.file.Files
            .createTempDirectory(s"graft_x107_$label").toString
          MinHashSegments.init(NearDup.signatures(cls(0)), root)
          def policy(): Unit = label match {
            case "2_at4_fold" =>
              if (SegmentOps.shouldCompact(s, root, maxSegs = 4))
                MinHashSegments.compactInPlace(s, root)
            case "3_tiered" =>
              if (SegmentOps.resolveSnapshot(s, root).segs.size >= 3)
                MinHashSegments.mergeSegs(s, root, 2)
            case _ => ()
          }
          (1 to 3).foreach { i =>
            MinHashSegments.appendSeg(s, root, cls(i)); policy()
          }
          MinHashSegments.deleteSeg(s, root, delIds); policy()
          (4 to 5).foreach { i =>
            MinHashSegments.appendSeg(s, root, cls(i)); policy()
          }
          val rootP = new org.apache.hadoop.fs.Path(root)
          val fs = rootP
            .getFileSystem(s.sparkContext.hadoopConfiguration)
          val baseDirs = fs.listStatus(rootP).toSeq
            .map(_.getPath.getName)
            .filter(n => n == "base" || n.startsWith("base-g"))
          def rows(rels: Seq[String]): Long =
            SegmentOps.footerRows(s, rels)
          val segDirs = SegmentOps.listSegEntries(s, root).map(_._2)
          val mergedDirs = segDirs.filter(_.split("-").length == 3)
          def segRows(dirs: Seq[String]): Long =
            rows(dirs.map(d => s"$root/segs/$d/sigs")) +
              rows(dirs.map(d => s"$root/segs/$d/tombs"))
          val written =
            rows(baseDirs.map(b => s"$root/$b/minhash_index")) +
              segRows(segDirs)
          val snap = SegmentOps.resolveSnapshot(s, root)
          val composed =
            rows(Seq(s"$root/${snap.baseDir}/minhash_index")) +
              segRows(snap.segs.map(_._2))
          // BIGINT cell, exact-decimal accumulation — see x105's note
          val live = MinHashSegments.read(s, root)
            .agg(count(lit(1)).as("n_live"),
              sum(col("doc_id").cast("decimal(38,0)"))
                .cast("bigint").as("s"))
            .head()
          (label,
            (baseDirs.size - 1).toLong + mergedDirs.size.toLong,
            snap.segs.size.toLong, written, composed,
            live.getLong(0), live.getLong(1))
        }
      }), scala.concurrent.duration.Duration.Inf)
    finally pool.shutdown()
    cards.foreach { case (l, nr, ss, w, c, nl, ds) =>
      System.err.println(
        s"""GRAFT_FORENSICS x107 {"config":"$l","n_rewrites":$nr,""" +
          s""""segs_at_serve":$ss,"rows_written":$w,""" +
          s""""rows_composed":$c,"n_live":$nl,"live_docid_sum":$ds}""")
    }
    import s.implicits._
    cards.toDF("config", "n_rewrites", "segs_at_serve",
        "rows_written", "rows_composed", "n_live", "live_docid_sum")
      .orderBy("config")
  }
  /** The oracle replays the fixed script per policy in document-class
    * arithmetic. Tiered trace (merge oldest 2 at ≥3 segs): m1=c1+c2,
    * m2=m1+c3, m3=m2+delete (adds n123d = eligible classes 1-3 minus
    * the delete, tombs nd), m4=m3+c4 — final layout [m4, a5], base
    * NEVER rewritten. */
  private lazy val x107Sql = {
    val el = "len(string_split(text, ' ')) >= 3"
    s"""WITH c AS (
       |  SELECT
       |    ${(0 to 5).map(i =>
              s"CAST(COUNT(*) FILTER (WHERE doc_id % 7 = $i AND $el) " +
                s"AS BIGINT) AS n$i").mkString(",\n       |    ")},
       |    CAST(COUNT(*) FILTER (WHERE doc_id % 10 = 3) AS BIGINT)
       |      AS nd,
       |    CAST(COUNT(*) FILTER (WHERE doc_id % 7 IN (1, 2, 3)
       |      AND doc_id % 10 <> 3 AND $el) AS BIGINT) AS n123d,
       |    CAST(COUNT(*) FILTER (WHERE doc_id % 7 <= 3
       |      AND doc_id % 10 <> 3 AND $el) AS BIGINT) AS live0123d
       |  FROM documents),
       |live AS (
       |  SELECT CAST(COUNT(*) AS BIGINT) AS n_live,
       |    CAST(SUM(doc_id) AS BIGINT) AS live_docid_sum
       |  FROM documents
       |  WHERE $el AND ((doc_id % 7 <= 3 AND doc_id % 10 <> 3)
       |    OR doc_id % 7 IN (4, 5)))
       |SELECT * FROM (
       |  SELECT '1_never' AS config, CAST(0 AS BIGINT) AS n_rewrites,
       |    CAST(6 AS BIGINT) AS segs_at_serve,
       |    n0 + n1 + n2 + n3 + n4 + n5 + nd AS rows_written,
       |    n0 + n1 + n2 + n3 + n4 + n5 + nd AS rows_composed,
       |    n_live, live_docid_sum
       |  FROM c, live
       |  UNION ALL
       |  SELECT '2_at4_fold', CAST(1 AS BIGINT), CAST(2 AS BIGINT),
       |    (n0 + n1 + n2 + n3 + n4 + n5 + nd) + live0123d,
       |    live0123d + n4 + n5, n_live, live_docid_sum
       |  FROM c, live
       |  UNION ALL
       |  SELECT '3_tiered', CAST(4 AS BIGINT), CAST(2 AS BIGINT),
       |    (n0 + n1 + n2 + n3 + n4 + n5 + nd)
       |      + (n1 + n2) + (n1 + n2 + n3)
       |      + (n123d + nd) + (n123d + n4 + nd),
       |    n0 + (n123d + n4 + nd) + n5, n_live, live_docid_sum
       |  FROM c, live)
       |ORDER BY config""".stripMargin
  }

  // ---------------------------------------------------------------------
  // X108 — the LEVELED schedule priced against x107's naive tiered
  // merge. x107's honest self-criticism: merge-oldest-2 re-absorbs the
  // standing merged segment every night (~3.5x the fold's extra rows
  // on this corpus). SegmentOps.tieredPlan is the fix — the nightly
  // rule merges only the oldest run of >= 2 contiguous FRESH segments
  // (structural: a night's deltas are peers; a merged segment is never
  // dragged back into nightly churn), and the geometric rule folds
  // merged runs only at fanout >= 4 similar-size peers (O(log n)
  // rewrites per row, the LSM bound — exercised by TieredMergeSpec's
  // long-horizon schedule; at 6 nights it never fires, and that
  // non-firing is itself part of the priced verdict). This card runs
  // x105/x107's EXACT 6-night script under both schedules and
  // measures the same cells from the real layouts; the oracle
  // recomputes every cell from document-class arithmetic. The leveled
  // trace is fully structural — no size thresholds — so the oracle's
  // branch replay is scale-independent: m12 = c1+c2 (night 2),
  // mX = (c3 minus the delete) + tombs (night 4 folds the fresh
  // [a3, d] run; within-range scoping collapses delete-after-append),
  // m45 = c4+c5 (night 6) — final [m12, mX, m45], 3 merges vs naive's
  // 4, ~half of naive's merge rows (sf0.001: 471 vs 988 extra), base
  // untouched in both. The trade
  // priced: leveled's composed view is slightly larger — m12 still
  // carries classes 1-2's later-deleted ids (standing rows, masked at
  // read by mX's tombs; naive's nightly re-fold collapsed them out) —
  // and depth is 3 vs naive's 2. The schedule buys its ~2x write
  // saving with one extra plan-depth unit and those masked standing
  // rows; the x105 full fold remains the escape hatch that reclaims
  // them when merged churn approaches base size. Same eager-cut +
  // forensics + determinism-under-load discipline as x105/x107.
  // ---------------------------------------------------------------------
  private def x108(s: SparkSession, d: String): DataFrame = {
    import graft.etl.{MinHashSegments, NearDup, SegmentOps}
    val docs = Tables.fanout(Tables.documents(s, d))
      .select("doc_id", "text")
      .cut() // EAGER: materialized before the config pool (x105's rule)
    def cls(i: Int) = docs.filter(col("doc_id") % 7 === i)
    val delIds = docs.select("doc_id").filter(col("doc_id") % 10 === 3)
    val configs = Seq("1_tiered_naive", "2_leveled")
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutor(pool)
    val cards = try scala.concurrent.Await.result(
      scala.concurrent.Future.sequence(configs.map { label =>
        scala.concurrent.Future {
          val root = java.nio.file.Files
            .createTempDirectory(s"graft_x108_$label").toString
          MinHashSegments.init(NearDup.signatures(cls(0)), root)
          def policy(): Unit = label match {
            case "1_tiered_naive" =>
              if (SegmentOps.resolveSnapshot(s, root).segs.size >= 3)
                MinHashSegments.mergeSegs(s, root, 2)
            case _ =>
              MinHashSegments.tieredMaintain(s, root)
              ()
          }
          (1 to 3).foreach { i =>
            MinHashSegments.appendSeg(s, root, cls(i)); policy()
          }
          MinHashSegments.deleteSeg(s, root, delIds); policy()
          (4 to 5).foreach { i =>
            MinHashSegments.appendSeg(s, root, cls(i)); policy()
          }
          val rootP = new org.apache.hadoop.fs.Path(root)
          val fs = rootP
            .getFileSystem(s.sparkContext.hadoopConfiguration)
          val baseDirs = fs.listStatus(rootP).toSeq
            .map(_.getPath.getName)
            .filter(n => n == "base" || n.startsWith("base-g"))
          def rows(rels: Seq[String]): Long =
            SegmentOps.footerRows(s, rels)
          val segDirs = SegmentOps.listSegEntries(s, root).map(_._2)
          val mergedDirs = segDirs.filter(SegmentOps.isMergedName)
          def segRows(dirs: Seq[String]): Long =
            rows(dirs.map(d => s"$root/segs/$d/sigs")) +
              rows(dirs.map(d => s"$root/segs/$d/tombs"))
          val written =
            rows(baseDirs.map(b => s"$root/$b/minhash_index")) +
              segRows(segDirs)
          val snap = SegmentOps.resolveSnapshot(s, root)
          val composed =
            rows(Seq(s"$root/${snap.baseDir}/minhash_index")) +
              segRows(snap.segs.map(_._2))
          // BIGINT cell, exact-decimal accumulation — see x105's note
          val live = MinHashSegments.read(s, root)
            .agg(count(lit(1)).as("n_live"),
              sum(col("doc_id").cast("decimal(38,0)"))
                .cast("bigint").as("s"))
            .head()
          (label,
            (baseDirs.size - 1).toLong + mergedDirs.size.toLong,
            snap.segs.size.toLong, written, composed,
            live.getLong(0), live.getLong(1))
        }
      }), scala.concurrent.duration.Duration.Inf)
    finally pool.shutdown()
    cards.foreach { case (l, nr, ss, w, c, nl, ds) =>
      System.err.println(
        s"""GRAFT_FORENSICS x108 {"config":"$l","n_rewrites":$nr,""" +
          s""""segs_at_serve":$ss,"rows_written":$w,""" +
          s""""rows_composed":$c,"n_live":$nl,"live_docid_sum":$ds}""")
    }
    import s.implicits._
    cards.toDF("config", "n_rewrites", "segs_at_serve",
        "rows_written", "rows_composed", "n_live", "live_docid_sum")
      .orderBy("config")
  }
  /** The oracle replays both schedules in document-class arithmetic.
    * Naive tiered is x107's trace. Leveled (tieredPlan, structural):
    * night 2 folds [a1,a2] -> m12 (n1+n2); night 4 folds the fresh
    * run [a3,d] -> mX (adds n3d = eligible class 3 minus the delete,
    * tombs nd); night 6 folds [a4,a5] -> m45 (n4+n5); the geometric
    * rule never reaches fanout=4 merged peers. Final [m12, mX, m45]
    * — 3 merges, base never rewritten. */
  private lazy val x108Sql = {
    val el = "len(string_split(text, ' ')) >= 3"
    s"""WITH c AS (
       |  SELECT
       |    ${(0 to 5).map(i =>
              s"CAST(COUNT(*) FILTER (WHERE doc_id % 7 = $i AND $el) " +
                s"AS BIGINT) AS n$i").mkString(",\n       |    ")},
       |    CAST(COUNT(*) FILTER (WHERE doc_id % 10 = 3) AS BIGINT)
       |      AS nd,
       |    CAST(COUNT(*) FILTER (WHERE doc_id % 7 = 3
       |      AND doc_id % 10 <> 3 AND $el) AS BIGINT) AS n3d,
       |    CAST(COUNT(*) FILTER (WHERE doc_id % 7 IN (1, 2, 3)
       |      AND doc_id % 10 <> 3 AND $el) AS BIGINT) AS n123d
       |  FROM documents),
       |live AS (
       |  SELECT CAST(COUNT(*) AS BIGINT) AS n_live,
       |    CAST(SUM(doc_id) AS BIGINT) AS live_docid_sum
       |  FROM documents
       |  WHERE $el AND ((doc_id % 7 <= 3 AND doc_id % 10 <> 3)
       |    OR doc_id % 7 IN (4, 5)))
       |SELECT * FROM (
       |  SELECT '1_tiered_naive' AS config,
       |    CAST(4 AS BIGINT) AS n_rewrites,
       |    CAST(2 AS BIGINT) AS segs_at_serve,
       |    (n0 + n1 + n2 + n3 + n4 + n5 + nd)
       |      + (n1 + n2) + (n1 + n2 + n3)
       |      + (n123d + nd) + (n123d + n4 + nd) AS rows_written,
       |    n0 + (n123d + n4 + nd) + n5 AS rows_composed,
       |    n_live, live_docid_sum
       |  FROM c, live
       |  UNION ALL
       |  SELECT '2_leveled', CAST(3 AS BIGINT), CAST(3 AS BIGINT),
       |    (n0 + n1 + n2 + n3 + n4 + n5 + nd)
       |      + (n1 + n2) + (n3d + nd) + (n4 + n5),
       |    n0 + (n1 + n2) + (n3d + nd) + (n4 + n5),
       |    n_live, live_docid_sum
       |  FROM c, live)
       |ORDER BY config""".stripMargin
  }

  // ---------------------------------------------------------------------
  // X109 — the GEOMETRIC rule firing on disk, priced. x108's 6-night
  // script never accumulates fanout merged peers, so its verdict
  // prices only the nightly rule; this card is the other half — a
  // 6-append-night script (classes 1-6 over the %7 base) driven at
  // fanout=2 (the demo knob; production default 4 just needs a longer
  // horizon) so the schedule's FULL shape executes: nightly pairs
  // fold to merged segs, the two similar-size merged segs (ratio
  // ~1.0 <= 1.5) CASCADE into one inside a single maintain call
  // (night 4), and the ratio guard then PROTECTS the standing 4-class
  // segment from the younger 2-class pair (ratio ~2.0 > 1.5) — both
  // decisions sit far from the 1.5 cut at every sf (class sizes are
  // uniform to a few %), so the oracle's branch replay is robust.
  // Priced against fold-at-4 (x105's default policy) and never:
  // fold-at-4 lands the same serve depth (2) with fewer extra rows
  // on THIS corpus (one fold of base+4 classes ~ 5n vs leveled's
  // 10n re-merge rows) but pays it as a BASE REWRITE — the O(live)
  // I/O spike that is unpayable when the base is the 100 TB part —
  // while leveled's 4 rewrites are all O(churn) and the base is
  // never touched. n_base_rewrites is therefore a first-class cell:
  // the card shows the crossover variable (base:churn ratio) instead
  // of crowning one policy. Same eager-cut + forensics +
  // determinism-under-load discipline as x105/x107/x108.
  // ---------------------------------------------------------------------
  private def x109(s: SparkSession, d: String): DataFrame = {
    import graft.etl.{MinHashSegments, NearDup, SegmentOps}
    val docs = Tables.fanout(Tables.documents(s, d))
      .select("doc_id", "text")
      .cut() // EAGER: materialized before the config pool (x105's rule)
    def cls(i: Int) = docs.filter(col("doc_id") % 7 === i)
    val configs = Seq("1_never", "2_fold_at4", "3_leveled_f2")
    val pool = java.util.concurrent.Executors.newFixedThreadPool(3)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutor(pool)
    val cards = try scala.concurrent.Await.result(
      scala.concurrent.Future.sequence(configs.map { label =>
        scala.concurrent.Future {
          val root = java.nio.file.Files
            .createTempDirectory(s"graft_x109_$label").toString
          MinHashSegments.init(NearDup.signatures(cls(0)), root)
          def policy(): Unit = label match {
            case "2_fold_at4" =>
              if (SegmentOps.shouldCompact(s, root, maxSegs = 4))
                MinHashSegments.compactInPlace(s, root)
            case "3_leveled_f2" =>
              MinHashSegments.tieredMaintain(s, root, minRun = 2,
                fanout = 2, ratio = 1.5)
              ()
            case _ => ()
          }
          (1 to 6).foreach { i =>
            MinHashSegments.appendSeg(s, root, cls(i)); policy()
          }
          val rootP = new org.apache.hadoop.fs.Path(root)
          val fs = rootP
            .getFileSystem(s.sparkContext.hadoopConfiguration)
          val baseDirs = fs.listStatus(rootP).toSeq
            .map(_.getPath.getName)
            .filter(n => n == "base" || n.startsWith("base-g"))
          def rows(rels: Seq[String]): Long =
            SegmentOps.footerRows(s, rels)
          val segDirs = SegmentOps.listSegEntries(s, root).map(_._2)
          val mergedDirs = segDirs.filter(SegmentOps.isMergedName)
          def segRows(dirs: Seq[String]): Long =
            rows(dirs.map(d => s"$root/segs/$d/sigs")) +
              rows(dirs.map(d => s"$root/segs/$d/tombs"))
          val written =
            rows(baseDirs.map(b => s"$root/$b/minhash_index")) +
              segRows(segDirs)
          val snap = SegmentOps.resolveSnapshot(s, root)
          val composed =
            rows(Seq(s"$root/${snap.baseDir}/minhash_index")) +
              segRows(snap.segs.map(_._2))
          // BIGINT cell, exact-decimal accumulation — see x105's note
          val live = MinHashSegments.read(s, root)
            .agg(count(lit(1)).as("n_live"),
              sum(col("doc_id").cast("decimal(38,0)"))
                .cast("bigint").as("s"))
            .head()
          (label, (baseDirs.size - 1).toLong, mergedDirs.size.toLong,
            snap.segs.size.toLong, written, composed,
            live.getLong(0), live.getLong(1))
        }
      }), scala.concurrent.duration.Duration.Inf)
    finally pool.shutdown()
    cards.foreach { case (l, nb, nm, ss, w, c, nl, ds) =>
      System.err.println(
        s"""GRAFT_FORENSICS x109 {"config":"$l","n_base_rewrites":$nb,""" +
          s""""n_merges":$nm,"segs_at_serve":$ss,"rows_written":$w,""" +
          s""""rows_composed":$c,"n_live":$nl,"live_docid_sum":$ds}""")
    }
    import s.implicits._
    cards.toDF("config", "n_base_rewrites", "n_merges",
        "segs_at_serve", "rows_written", "rows_composed", "n_live",
        "live_docid_sum")
      .orderBy("config")
  }
  /** The oracle replays the three policies in document-class
    * arithmetic (append-only, classes 1-6 on the %7 base). Leveled
    * f=2 trace: n2 folds [a1,a2]->m12; n4 folds [a3,a4]->m34 and the
    * geometric rule cascades [m12,m34]->m1234 in the same maintain
    * call; n6 folds [a5,a6]->m56 and the ratio guard (4n vs 2n > 1.5)
    * protects m1234 — final [m1234, m56]. Fold-at-4 fires once at n4
    * (base+c1..c4 rewritten), finishing [base-g, a5, a6]. */
  private lazy val x109Sql = {
    val el = "len(string_split(text, ' ')) >= 3"
    s"""WITH c AS (
       |  SELECT
       |    ${(0 to 6).map(i =>
              s"CAST(COUNT(*) FILTER (WHERE doc_id % 7 = $i AND $el) " +
                s"AS BIGINT) AS n$i").mkString(",\n       |    ")}
       |  FROM documents),
       |live AS (
       |  SELECT CAST(COUNT(*) AS BIGINT) AS n_live,
       |    CAST(SUM(doc_id) AS BIGINT) AS live_docid_sum
       |  FROM documents WHERE $el)
       |SELECT * FROM (
       |  SELECT '1_never' AS config,
       |    CAST(0 AS BIGINT) AS n_base_rewrites,
       |    CAST(0 AS BIGINT) AS n_merges,
       |    CAST(6 AS BIGINT) AS segs_at_serve,
       |    n0 + n1 + n2 + n3 + n4 + n5 + n6 AS rows_written,
       |    n0 + n1 + n2 + n3 + n4 + n5 + n6 AS rows_composed,
       |    n_live, live_docid_sum
       |  FROM c, live
       |  UNION ALL
       |  SELECT '2_fold_at4', CAST(1 AS BIGINT), CAST(0 AS BIGINT),
       |    CAST(2 AS BIGINT),
       |    (n0 + n1 + n2 + n3 + n4 + n5 + n6)
       |      + (n0 + n1 + n2 + n3 + n4),
       |    n0 + n1 + n2 + n3 + n4 + n5 + n6,
       |    n_live, live_docid_sum
       |  FROM c, live
       |  UNION ALL
       |  SELECT '3_leveled_f2', CAST(0 AS BIGINT), CAST(4 AS BIGINT),
       |    CAST(2 AS BIGINT),
       |    (n0 + n1 + n2 + n3 + n4 + n5 + n6)
       |      + (n1 + n2) + (n3 + n4)
       |      + (n1 + n2 + n3 + n4) + (n5 + n6),
       |    n0 + (n1 + n2 + n3 + n4) + (n5 + n6),
       |    n_live, live_docid_sum
       |  FROM c, live)
       |ORDER BY config""".stripMargin
  }

  // ---------------------------------------------------------------------
  // X110 — snapshot CDC: MinHashSegments.changesBetween as an
  // oracle-gated card. The incremental-consumption primitive for a
  // 100 TB corpus: a downstream job (re-embedding, re-sharding,
  // re-audit) asks "what changed since the snapshot I last consumed"
  // and gets one delta-sized answer instead of diffing two corpus
  // states. The card runs an 8-night script — x105's 6 nights plus a
  // revise pair (delete live %14==2 ids, re-append their texts
  // rewritten) — under two configs, captures the manifest version
  // after night 3, and diffs it against the final version:
  // 1_fast never compacts, so the window's segment list extends the
  // captured snapshot's and the FAST path runs (window segments + ONE
  // tombstone semi-join against the old state, O(delta)); 2_folded
  // runs tieredMaintain nightly, merges cross the window, and the
  // O(live) content-diff FALLBACK runs. Both must produce the
  // identical state diff — added = classes 4-5 (appended after the
  // capture), removed = the night-4 delete's eligible class 0-3 ids,
  // updated = the revised surviving class 0-3 ids (signature-row
  // inequality is the change test; the rewrite REPLACES the shingle
  // set outright) — and the fast_path cell gates that each
  // config exercised its intended path. The oracle recomputes every
  // cell from class arithmetic; the diff is a STATE diff, so it is
  // invariant to which merges 2_folded's schedule fired — no
  // size-threshold branch can reach the oracle. Same eager-cut +
  // forensics + determinism-under-load discipline as x105..x109.
  // ---------------------------------------------------------------------
  private def x110(s: SparkSession, d: String): DataFrame = {
    import graft.etl.{MinHashSegments, NearDup, SegmentOps}
    val docs = Tables.fanout(Tables.documents(s, d))
      .select("doc_id", "text")
      .cut() // EAGER: materialized before the config pool (x105's rule)
    def cls(i: Int) = docs.filter(col("doc_id") % 7 === i)
    val delIds = docs.select("doc_id").filter(col("doc_id") % 10 === 3)
    // live after night 6: eligible ∧ ((cls ≤ 3 ∧ not deleted) ∨ cls 4-5)
    val liveAfter6 = (col("doc_id") % 7 <= 3 &&
      col("doc_id") % 10 =!= 3) || col("doc_id") % 7 >= 4
    // restrict to ORIGINALLY-ELIGIBLE docs (>= 3 words, the signature
    // kernel's gate): revising a sub-threshold doc would make its
    // longer v2 text newly eligible — an `added` the class arithmetic
    // cannot see
    // the revised text REPLACES the original (disjoint shingle set —
    // a mere suffix only ADDS shingles, each permutation's min can
    // only decrease, and long docs often keep their whole signature;
    // the state diff would then correctly report fewer `updated` rows
    // than the class arithmetic)
    val revDocs = docs
      .filter(liveAfter6 && col("doc_id") % 14 === 2 &&
        size(split(col("text"), " ")) >= 3)
      .withColumn("text",
        concat(lit("v2 rewritten edition of doc "),
          col("doc_id").cast("string"), lit(" end")))
      .cut()
    val revIds = revDocs.select("doc_id")
    val configs = Seq("1_fast", "2_folded")
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutor(pool)
    val cards = try scala.concurrent.Await.result(
      scala.concurrent.Future.sequence(configs.map { label =>
        scala.concurrent.Future {
          val root = java.nio.file.Files
            .createTempDirectory(s"graft_x110_$label").toString
          MinHashSegments.init(NearDup.signatures(cls(0)), root)
          def policy(): Unit = if (label == "2_folded") {
            MinHashSegments.tieredMaintain(s, root)
            ()
          }
          (1 to 3).foreach { i =>
            MinHashSegments.appendSeg(s, root, cls(i)); policy()
          }
          val vMid = SegmentOps.resolveSnapshot(s, root).version
          MinHashSegments.deleteSeg(s, root, delIds); policy()
          (4 to 5).foreach { i =>
            MinHashSegments.appendSeg(s, root, cls(i)); policy()
          }
          MinHashSegments.deleteSeg(s, root, revIds); policy()
          MinHashSegments.appendSeg(s, root, revDocs); policy()
          val vEnd = SegmentOps.resolveSnapshot(s, root).version
          val a = SegmentOps.resolveSnapshotAt(s, root, vMid)
          val b = SegmentOps.resolveSnapshotAt(s, root, vEnd)
          val fastPath = a.baseDir == b.baseDir &&
            b.segs.take(a.segs.size) == a.segs
          val rows = MinHashSegments
            .changesBetween(s, root, vMid, vEnd)
            .groupBy("op")
            .agg(count(lit(1)).as("n_docs"),
              // BIGINT cell, exact-decimal accumulation — x105's note
              sum(col("doc_id").cast("decimal(38,0)"))
                .cast("bigint").as("docid_sum"))
            .collect()
            .map(r => (r.getString(0), r.getLong(1),
              r.getLong(2)))
            .sortBy(_._1)
          (label, fastPath, rows)
        }
      }), scala.concurrent.duration.Duration.Inf)
    finally pool.shutdown()
    val flat = cards.flatMap { case (l, fp, rows) =>
      rows.map { case (op, n, ds) => (l, op, n, ds, fp) }
    }
    flat.foreach { case (l, op, n, ds, fp) =>
      System.err.println(
        s"""GRAFT_FORENSICS x110 {"config":"$l","op":"$op",""" +
          s""""n_docs":$n,"docid_sum":$ds,"fast_path":$fp}""")
    }
    import s.implicits._
    flat.toDF("config", "op", "n_docs", "docid_sum", "fast_path")
      .orderBy("config", "op")
  }
  /** The oracle recomputes the state diff from class arithmetic:
    * added = eligible classes 4-5 (appended inside the window),
    * removed = the night-4 delete's eligible class 0-3 ids, updated =
    * the surviving class 0-3 ids the revise pair rewrote. 1_fast must
    * report fast_path TRUE (no fold crossed the window), 2_folded
    * FALSE — the same six value cells either way. */
  private lazy val x110Sql = {
    val el = "len(string_split(text, ' ')) >= 3"
    s"""WITH ops(config, fast_path) AS (
       |  VALUES ('1_fast', TRUE), ('2_folded', FALSE)),
       |cells AS (
       |  SELECT 'added' AS op,
       |    CAST(COUNT(*) AS BIGINT) AS n_docs,
       |    CAST(SUM(doc_id) AS BIGINT) AS docid_sum
       |  FROM documents WHERE $el AND doc_id % 7 IN (4, 5)
       |  UNION ALL
       |  SELECT 'removed', CAST(COUNT(*) AS BIGINT),
       |    CAST(SUM(doc_id) AS BIGINT)
       |  FROM documents
       |  WHERE $el AND doc_id % 7 <= 3 AND doc_id % 10 = 3
       |  UNION ALL
       |  SELECT 'updated', CAST(COUNT(*) AS BIGINT),
       |    CAST(SUM(doc_id) AS BIGINT)
       |  FROM documents
       |  WHERE $el AND doc_id % 7 <= 3 AND doc_id % 10 <> 3
       |    AND doc_id % 14 = 2)
       |SELECT config, op, n_docs, docid_sum, fast_path
       |FROM ops, cells
       |ORDER BY config, op""".stripMargin
  }

  // ---------------------------------------------------------------------
  // W13 — CDC-driven incremental dedup maintenance: the capstone that
  // makes x110's primitive DO something. A downstream consumer owns a
  // verified near-dup EDGE TABLE and keeps it in sync with a churning
  // segmented corpus by consuming changesBetween windows — never
  // re-pairing the whole corpus: each sync drops edges touching
  // removed/updated ids and pairs ONLY the window's added/updated
  // docs against the index (NearDup.incrementalEdges — the banded
  // join of the delta's band keys, cost bounded by delta size x
  // bucket occupancy; the base corpus is touched only through its
  // already-stored signatures, never re-shingled). Three syncs over a
  // 6-night script (appends, the %10=3 delete, a delete+re-append
  // revise whose text is REPLACED), and the final accumulated edge
  // table must equal — row for row, ORDER BY hash-gated — the
  // from-scratch verified pairs DuckDB computes over the final
  // surviving corpus with the same portable MinHash arithmetic
  // (x02's oracle family). The corpus is x02's documents ∪ planted
  // near-dups, so the edge set is never vacuously empty and planted
  // twins ride the same class/delete script as their originals.
  // Scale: each sync is O(window churn); the edge-table update is
  // two anti-joins + a union-distinct on a dup-volume-sized relation.
  // ---------------------------------------------------------------------
  private def w13(s: SparkSession, d: String): DataFrame = {
    import graft.etl.{MinHashSegments, NearDup, SegmentOps}
    val docs = Tables.fanout(minhashCorpus(s, d)).cut()
    def cls(i: Int) = docs.filter(col("doc_id") % 5 === i)
    val delIds = docs.select("doc_id").filter(col("doc_id") % 10 === 3)
    val revDocs = docs
      .filter(col("doc_id") % 20 === 6 &&
        size(split(col("text"), " ")) >= 3)
      .withColumn("text",
        concat(lit("v2 rewritten edition of doc "),
          col("doc_id").cast("string"), lit(" end")))
      .cut()
    val root = java.nio.file.Files
      .createTempDirectory("graft_w13").toString
    MinHashSegments.init(NearDup.signatures(cls(0)), root)
    // The consumer's state: a verified (doc_a < doc_b) edge table
    // seeded from the base corpus, plus the last-consumed version.
    // OVERLAP (guide §2.6, r14): each sync's edge maintenance depends
    // only on segments already PUBLISHED when it is called — the
    // manifest pins its snapshot (changesBetween takes versions, the
    // live index is read AT the consumed version, value-identical to
    // the serial script), so the sync's Spark jobs run on a driver
    // thread WHILE the main thread publishes the next nights'
    // segments. Syncs chain on a future (sync N+1's plan consumes
    // sync N's edge checkpoint); the tail Await materializes sync 3.
    var consumedV = SegmentOps.resolveSnapshot(s, root).version
    val pool = java.util.concurrent.Executors.newFixedThreadPool(1)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutor(pool)
    var edgesF: scala.concurrent.Future[DataFrame] =
      scala.concurrent.Future(NearDup.edges(cls(0)).cut())
    def sync(): Unit = {
      val cur = SegmentOps.resolveSnapshot(s, root).version
      val from = consumedV
      consumedV = cur
      edgesF = edgesF.map { edges =>
        // cut(false): the window diff is consumed only through this
        // sync's edges cut — a lazy checkpoint still truncates
        // lineage for the next sync without a separate eager action
        val ch = MinHashSegments.changesBetween(s, root, from, cur)
          .cut(false)
        val gone = ch.filter(col("op").isin("removed", "updated"))
          .select("doc_id")
        val fresh = ch.filter(col("op").isin("added", "updated"))
          .select("doc_id")
        val live = MinHashSegments.readAt(s, root, cur)
        val newE = NearDup.incrementalEdges(
            live.join(fresh, Seq("doc_id"), "left_anti"),
            live.join(fresh, Seq("doc_id"), "left_semi"))
          .select(least(col("doc_id"), col("dup_of")).as("doc_a"),
            greatest(col("doc_id"), col("dup_of")).as("doc_b"))
        edges
          .join(gone.withColumnRenamed("doc_id", "doc_a"),
            Seq("doc_a"), "left_anti")
          .join(gone.withColumnRenamed("doc_id", "doc_b"),
            Seq("doc_b"), "left_anti")
          .unionByName(newE).distinct().cut()
      }
    }
    try {
      MinHashSegments.appendSeg(s, root, cls(1))
      MinHashSegments.appendSeg(s, root, cls(2))
      sync()
      MinHashSegments.deleteSeg(s, root, delIds)
      MinHashSegments.appendSeg(s, root, cls(3))
      sync()
      MinHashSegments.deleteSeg(s, root, revDocs.select("doc_id"))
      MinHashSegments.appendSeg(s, root, revDocs)
      sync()
      scala.concurrent.Await.result(edgesF,
        scala.concurrent.duration.Duration.Inf)
        .orderBy("doc_a", "doc_b")
    } finally pool.shutdown()
  }
  /** The oracle rebuilds the FINAL corpus (classes 0-3 of documents ∪
    * planted dups, minus the %10=3 delete, revised texts substituted)
    * and computes the verified pair set from scratch with the shared
    * portable MinHash arithmetic — equality proves the incremental
    * accumulation (init edges + 3 CDC syncs) converged to the batch
    * answer. */
  private def w13Sql: String =
    s"""WITH raw AS (
       |  SELECT doc_id, text FROM documents
       |  UNION ALL
       |  SELECT doc_id + 1000000, text || ' planted near duplicate'
       |  FROM documents WHERE doc_id % 10 = 0),
       |corpus AS (
       |  -- classes 0-2 predate the delete (their %10=3 ids fall);
       |  -- class 3 is appended AFTER it, so it keeps them
       |  SELECT doc_id, text FROM raw
       |  WHERE ((doc_id % 5 <= 2 AND doc_id % 10 <> 3)
       |      OR doc_id % 5 = 3)
       |    AND NOT (doc_id % 20 = 6
       |      AND len(string_split(text, ' ')) >= 3)
       |  UNION ALL
       |  SELECT doc_id, 'v2 rewritten edition of doc ' ||
       |    CAST(doc_id AS VARCHAR) || ' end'
       |  FROM raw
       |  WHERE doc_id % 20 = 6
       |    AND len(string_split(text, ' ')) >= 3),
       |$duckMinhashCtes,
       |sigm AS (
       |  SELECT c.doc_a, c.doc_b,
       |    len(list_filter(list_zip(sa.sig, sb.sig),
       |        p -> p[1] = p[2])) AS m
       |  FROM cand c
       |  JOIN sigs sa ON sa.doc_id = c.doc_a
       |  JOIN sigs sb ON sb.doc_id = c.doc_b)
       |SELECT doc_a, doc_b FROM sigm
       |WHERE m >= ${graft.etl.NearDup.DefaultMinSig}
       |ORDER BY doc_a, doc_b""".stripMargin

  // ---------------------------------------------------------------------
  // W12 — the fully-ONLINE lifecycle flagship, batch twin (VERDICT r11
  // #1): the deployable shape of the whole engine — continuous ingest
  // INTO the persisted index layouts while the hybrid funnel serves
  // FROM them, with a compaction flip in between. This query drives
  // the exact composition the W12OnlineLifecycleSpec runs as live
  // streams: two layouts (sparse BM25 + IVFPQ) initialized on the
  // %3≠0 base slice; two ingest batches (%6=0, then %6=3) applied
  // through SegmentIngest.once — each appendSeg TAGGED with its
  // batchId, the exactly-once/self-heal plumbing the online sink
  // uses — with a policy-fired compactInPlace on BOTH layouts between
  // the batches (manifest CAS flip while later writers keep
  // recording); then ONE fused serve through the resolved snapshots:
  // SparseIndex.serve (all-distinct-token queries, the online
  // queryTerms model) ∥ PqIndex.serveRefined (the x104-promoted
  // two-stage dense leg — 92.1% recall@10 at sf1 — against the
  // live corpus's full-precision vectors) → x73's exact RRF
  // (fuseBatch, top-10) → MaxSim rerank + context packing
  // (rerankPack — the foreachBatch tail the stream ships;
  // FusedServeStream.serveRefined is this exact funnel online).
  // Queries are the absolute-K eval slice joined to BOTH modalities
  // (text + embedding).
  // The oracle rebuilds everything from scratch in an engine with no
  // segments, no manifests, no batches: BM25 over the FULL corpus
  // (final live = base ∪ both shards), the dense leg from the
  // w10-shared frozen-book chain (books on the base slice, ALL
  // vectors encoded — the script is append-only) with the x104-style
  // exact-L2 refine tail, fused/reranked/packed in SQL. Hash equality proves the whole online composition
  // — tagged idempotent appends, CAS-flipped compaction, snapshot
  // reads, two index families, fusion, rerank, packing — equals the
  // from-scratch batch answer. Scale: ingest writes O(delta)/night;
  // serve cost per query is probed-cells + posting-list bounded; the
  // tail is candidate-list-sized (≤ 10 rows/query into rerank).
  // ---------------------------------------------------------------------
  private def w12(s: SparkSession, d: String): DataFrame = {
    import graft.etl.{AnnIndex, PqIndex, PqSegments, SegmentOps,
      SparseIndex, SparseSegments}
    import graft.streaming.{FusedServeStream, SegmentIngest,
      SparseServeStream}
    val sroot = java.nio.file.Files
      .createTempDirectory("graft_w12_sp").toString
    val proot = java.nio.file.Files
      .createTempDirectory("graft_w12_pq").toString
    // EAGER cuts: all three shared inputs are materialized once, here,
    // before par()'s thread pairs start, so no thread computes them
    // again
    val docs = Tables.fanout(Tables.documents(s, d)).cut()
    val tf = SparseIndex.termFreqs(docs).cut()
    val e = AnnIndex.prep(Tables.fanout(Tables.embeddings(s, d)))
      .cut() // base build, two shards, query slice, rerank
    // the two layouts are independent (own roots, own manifests) —
    // every lifecycle phase runs them on parallel driver threads (the
    // writeOrdered discipline; the online deployment's two sinks are
    // concurrent queries anyway). Each phase is still a barrier: the
    // compaction flip sits BETWEEN the ingest batches, as deployed.
    def par(a: => Unit, b: => Unit): Unit = {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
      implicit val ec: scala.concurrent.ExecutionContext =
        scala.concurrent.ExecutionContext.fromExecutor(pool)
      try scala.concurrent.Await.result(
        scala.concurrent.Future.sequence(Seq(
          scala.concurrent.Future(a), scala.concurrent.Future(b))),
        scala.concurrent.duration.Duration.Inf)
      finally pool.shutdown()
      ()
    }
    par(
      SparseSegments.init(
        SparseIndex.build(tf.filter(col("doc_id") % 3 =!= 0)), sroot),
      PqSegments.init(
        PqIndex.build(e.filter(col("vec_id") % 3 =!= 0)), proot))
    // the online ingest shape: one micro-batch = one tagged appendSeg
    // per layout, batchId-idempotent (SegmentIngest's exactly-once)
    def ingestBatch(batch: Long, m: Int): Unit = par(
      { SegmentIngest.once(s, sroot, batch)(tag =>
          SparseSegments.appendSeg(s, sroot,
            tf.filter(col("doc_id") % 6 === m), Some(tag))); () },
      { SegmentIngest.once(s, proot, batch)(tag =>
          PqSegments.appendSeg(s, proot,
            e.filter(col("vec_id") % 6 === m), Some(tag))); () })
    ingestBatch(0L, 0)
    // the mid-stream compaction: policy fires between micro-batches,
    // the CAS flip runs while batch 1's writes follow it
    par(
      if (SegmentOps.shouldCompact(s, sroot, maxSegs = 1))
        SparseSegments.compactInPlace(s, sroot),
      if (SegmentOps.shouldCompact(s, proot, maxSegs = 1))
        PqSegments.compactInPlace(s, proot))
    ingestBatch(1L, 3)
    // serve through the resolved snapshots — the full online funnel
    val sidx = SparseSegments.read(s, sroot)
    val pidx = PqSegments.read(s, proot)
    val q = docs.select(col("doc_id").as("q_id"), col("text"))
      .join(broadcast(evalIds(Tables.embeddings(s, d), "vec_id"))
        .select(col("vec_id").as("q_id")), "q_id")
      .join(e.select(col("vec_id").as("q_id"), col("emb"),
        col("norm")), "q_id")
      .cut(false) // sparse leg + dense leg
    val fused = FusedServeStream.fuseBatch(
      SparseIndex.serve(SparseServeStream.queryTerms(
        q.select("q_id", "text")), sidx, FusedServeStream.FuseK),
      PqIndex.serveRefined(q.select("q_id", "emb", "norm"), pidx,
        e.select(col("vec_id"), col("emb")),
        k = FusedServeStream.FuseK))
    FusedServeStream.rerankPack(fused,
      e.select(col("vec_id"), col("emb")),
      Tables.documents(s, d).select("doc_id", "n_chars"))
      .orderBy("q_id", "rr_rank")
  }
  private lazy val w12Sql = {
    val fuseK = graft.streaming.FusedServeStream.FuseK
    val budget = graft.streaming.FusedServeStream.CtxBudgetChars
    s"""WITH ${TextOps.bm25IndexCtesFor("",
          graft.etl.SparseIndex.ImpactCap)},
       |raw AS (
       |  SELECT vec_id,
       |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
       |  FROM embeddings),
       |e AS (
       |  SELECT vec_id, emb,
       |    sqrt(${duckDot.format("emb", "emb")}) AS norm
       |  FROM raw),
       |$duckQids,
       |qt AS (
       |  SELECT q_id, tok FROM (
       |    SELECT d.doc_id AS q_id,
       |      UNNEST(list_distinct(regexp_split_to_array(LOWER(d.text),
       |        '[^a-z]+'))) AS tok
       |    FROM documents d
       |    WHERE d.doc_id IN (SELECT vec_id FROM qids))
       |  WHERE tok <> ''),
       |scontrib AS (
       |  SELECT q.q_id, tf.doc_id,
       |    CAST((CAST(1000000 AS HUGEINT) * (2*(s.n_docs - df.df) + 1))
       |      // (2*df.df + 1) AS BIGINT) AS idf_ppm,
       |    CAST((CAST(1000000 AS HUGEINT) * 22 * s.t_tokens * tf.tf)
       |      // (CAST(10 AS HUGEINT) * s.t_tokens * tf.tf
       |         + 3 * s.t_tokens + 9 * dl.dl * s.n_docs)
       |      AS BIGINT) AS tfp_ppm
       |  FROM qt q
       |  JOIN plist tf USING (tok)
       |  JOIN df USING (tok)
       |  JOIN dl ON dl.doc_id = tf.doc_id
       |  CROSS JOIN stats s
       |  WHERE tf.doc_id <> q.q_id),
       |sscored AS (
       |  SELECT q_id, doc_id,
       |    CAST(SUM(CAST(CAST(idf_ppm AS HUGEINT) * tfp_ppm // 1000000
       |      AS BIGINT)) AS BIGINT) AS score_ppm
       |  FROM scontrib GROUP BY 1, 2),
       |sparse AS (
       |  SELECT q_id, doc_id, rank FROM (
       |    SELECT q_id, doc_id, CAST(ROW_NUMBER() OVER (
       |      PARTITION BY q_id ORDER BY score_ppm DESC, doc_id)
       |      AS BIGINT) AS rank
       |    FROM sscored)
       |  WHERE rank <= $fuseK),
       |${w10DenseCtes("TRUE")},
       |adctop AS (
       |  SELECT q_id, vec_id FROM (
       |    SELECT q_id, vec_id, ROW_NUMBER() OVER (
       |      PARTITION BY q_id ORDER BY adc, vec_id) AS rk
       |    FROM uadc)
       |  WHERE rk <= ${math.max(graft.etl.PqIndex.RefineK,
            graft.streaming.FusedServeStream.FuseK)}),
       |qv AS (SELECT vec_id AS q_id, emb FROM e
       |       WHERE vec_id IN (SELECT vec_id FROM qids)),
       |dense AS (
       |  SELECT q_id, vec_id, rrk AS rank FROM (
       |    SELECT c.q_id, c.vec_id,
       |      CAST(ROW_NUMBER() OVER (PARTITION BY c.q_id ORDER BY
       |        ${duckDot.format("v.emb", "v.emb")}
       |          - 2.0 * ${duckDot.format("v.emb", "qv.emb")}
       |          + ${duckDot.format("qv.emb", "qv.emb")}, c.vec_id)
       |        AS BIGINT) AS rrk
       |    FROM adctop c
       |    JOIN e v ON v.vec_id = c.vec_id
       |    JOIN qv ON qv.q_id = c.q_id)
       |  WHERE rrk <= $fuseK),
       |rrf_f AS (
       |  SELECT COALESCE(sp.q_id, de.q_id) AS q_id,
       |    COALESCE(sp.doc_id, de.vec_id) AS doc_id,
       |    COALESCE(1000000000 // (60 + sp.rank), 0)
       |      + COALESCE(1000000000 // (60 + de.rank), 0) AS rrf_score
       |  FROM sparse sp FULL OUTER JOIN dense de
       |    ON sp.q_id = de.q_id AND sp.doc_id = de.vec_id),
       |rrf_top AS (
       |  SELECT q_id, doc_id FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id
       |      ORDER BY rrf_score DESC, doc_id) AS fused_rank
       |    FROM rrf_f)
       |  WHERE fused_rank <= 10),
       |$duckMaxsimCtes,
       |rr_scored AS (
       |  SELECT f.q_id, f.doc_id, $duckMaxsimExpr AS maxsim
       |  FROM rrf_top f
       |  JOIN subn q ON q.vec_id = f.q_id
       |  JOIN subn d ON d.vec_id = f.doc_id),
       |rr_ranked AS (
       |  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY q_id
       |    ORDER BY maxsim DESC, doc_id) AS BIGINT) AS rr_rank
       |  FROM rr_scored),
       |ctx AS (
       |  SELECT r.*, doc.n_chars,
       |    SUM(doc.n_chars) OVER (PARTITION BY r.q_id ORDER BY r.rr_rank
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |      AS cum_chars
       |  FROM rr_ranked r
       |  JOIN documents doc ON doc.doc_id = r.doc_id)
       |SELECT q_id, doc_id, rr_rank, maxsim, n_chars,
       |  CAST(cum_chars AS BIGINT) AS cum_chars,
       |  cum_chars <= $budget AS picked
       |FROM ctx ORDER BY q_id, rr_rank""".stripMargin
  }

  /** DuckDB twin of one x58 subspace chain, names suffixed `tag`. */
  private def duckPqCtes(i: Int): String = {
    val lo = PqDims * i + 1
    val hi = PqDims * (i + 1)
    s"""sl$i AS (SELECT vec_id, emb[$lo:$hi] AS v FROM e),
       |es$i AS (SELECT vec_id, v,
       |  ${duckDot.format("v", "v")} AS vv FROM sl$i),
       |seeds$i AS (
       |  SELECT vec_id AS c_id, v AS c_v, vv AS c_vv FROM es$i
       |  ORDER BY ((vec_id % 2147483648) * 2654435761) % 1000000007,
       |    vec_id
       |  LIMIT $PqK),
       |pqa$i AS (
       |  SELECT vec_id, v, c_id AS cluster FROM (
       |    SELECT s.vec_id, s.v, c.c_id,
       |      ROW_NUMBER() OVER (PARTITION BY s.vec_id ORDER BY
       |        s.vv - 2.0 * ${duckDot.format("s.v", "c.c_v")} + c.c_vv,
       |        c.c_id) AS rk
       |    FROM es$i s CROSS JOIN seeds$i c) WHERE rk = 1),
       |pqm$i AS (
       |  SELECT cluster, j,
       |    CAST(CAST(SUM(CAST(v[j] AS DECIMAL(18,6))) AS VARCHAR)
       |        AS DOUBLE)
       |      / CAST(COUNT(*) AS DOUBLE) AS coord
       |  FROM pqa$i, unnest(generate_series(1, len(v))) AS t(j)
       |  GROUP BY 1, 2),
       |vv$i AS (
       |  SELECT cluster AS c_id, list(coord ORDER BY j) AS c_v
       |  FROM pqm$i GROUP BY 1),
       |cb$i AS (
       |  SELECT c_id, c_v, ${duckDot.format("c_v", "c_v")} AS c_vv
       |  FROM vv$i),
       |code$i AS (
       |  SELECT vec_id, c_id AS code$i, dist AS err$i FROM (
       |    SELECT s.vec_id, c.c_id,
       |      s.vv - 2.0 * ${duckDot.format("s.v", "c.c_v")} + c.c_vv
       |        AS dist,
       |      ROW_NUMBER() OVER (PARTITION BY s.vec_id ORDER BY
       |        s.vv - 2.0 * ${duckDot.format("s.v", "c.c_v")} + c.c_vv,
       |        c.c_id) AS rk
       |    FROM es$i s CROSS JOIN cb$i c) WHERE rk = 1)""".stripMargin
  }

  private lazy val x58Sql =
    s"""WITH e AS (
       |  SELECT vec_id,
       |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
       |  FROM embeddings),
       |${(0 until PqSub).map(duckPqCtes).mkString(",\n")}
       |SELECT vec_id,
       |  ${(0 until PqSub).map(i => s"code$i").mkString(", ")},
       |  ROUND(${(0 until PqSub).map(i => s"err$i").mkString(" + ")}, 6)
       |    AS recon_err
       |FROM code0
       |${(1 until PqSub).map(i => s"JOIN code$i USING (vec_id)")
          .mkString("\n")}
       |ORDER BY vec_id""".stripMargin

  // ---------------------------------------------------------------------
  // X10 — embedding-cosine near-duplicate detection: corpus ∪ planted
  // scaled copies (cosine-preserving ×1.001), candidates from the same
  // sign-LSH buckets as x05b (a positively-scaled copy provably lands in
  // its original's bucket), exact cosine ≥ 0.95 confirms. Never O(n²).
  // ---------------------------------------------------------------------
  // ---------------------------------------------------------------------
  // X55 — SEMANTIC decontamination: the embedding-space counterpart of
  // x14/x44's n-gram checks. Paraphrased eval leakage shares no
  // 3-grams but sits next to its source in embedding space — modern
  // curation checks both. Eval = vec_id % 97 = 0 (x14's convention);
  // train = the rest ∪ planted 1.001-scaled copies of every eval vec
  // (cosine-preserving — the provable leak). One shared sign-LSH
  // index over train ∪ eval (x05b's capped buckets), candidates from
  // bucket equality only (never all-pairs), exact cosine ≥ 0.9 flags
  // contamination. Every eval vec keeps a row via left join +
  // COALESCE 0 (x49's rule); bucket-cap drops trade recall for the
  // x03b skew guarantee, same as the rest of the family.
  // ---------------------------------------------------------------------
  private def x55(s: SparkSession, d: String): DataFrame = {
    val base = Tables.fanout(Tables.embeddings(s, d))
      .select(col("vec_id"),
        expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("emb"))
    val evalSet = base.filter(col("vec_id") % 97 === 0)
    val corpus = base.filter(col("vec_id") % 97 =!= 0)
      .unionByName(evalSet.select((col("vec_id") + 1000000L).as("vec_id"),
        expr("transform(emb, x -> x * 1.001)").as("emb")))
      .unionByName(evalSet)
      .withColumn("norm", sqrt(DotProduct(col("emb"), col("emb"))))
    // index sizing over the column-pruned un-normed union (x10's rule)
    val nplanes = adaptivePlanes(corpus.select("vec_id").count())
    val vecs = signBucketsCapped(corpus, "emb", nplanes)
    val q = vecs.filter(col("vec_id") % 97 === 0)
      .select(col("vec_id").as("q_id"), col("emb").as("q_emb"),
        col("norm").as("q_norm"), col("bucket"))
    val t = vecs.filter(col("vec_id") % 97 =!= 0)
    val agg = t.join(q, Seq("bucket"))
      .withColumn("cos", DotProduct(col("emb"), col("q_emb")) /
        (col("norm") * col("q_norm")))
      .groupBy(col("q_id"))
      .agg(sum(when(col("cos") >= 0.9, 1L).otherwise(0L))
        .as("n_contam"), round(max(col("cos")), 4).as("max_cos"))
    evalSet.select(col("vec_id").as("q_id"))
      .join(agg, Seq("q_id"), "left")
      .select(col("q_id"),
        coalesce(col("n_contam"), lit(0L)).as("n_contam"),
        col("max_cos"),
        (coalesce(col("n_contam"), lit(0L)) > 0L).as("is_contaminated"))
      .orderBy("q_id")
  }
  private def x55Sql: String =
    s"""WITH base AS (
       |  SELECT vec_id,
       |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
       |  FROM embeddings),
       |ev AS (SELECT vec_id, emb FROM base WHERE vec_id % 97 = 0),
       |corpus AS (
       |  SELECT vec_id, emb FROM base WHERE vec_id % 97 <> 0
       |  UNION ALL
       |  SELECT vec_id + 1000000, list_transform(emb, x -> x * 1.001)
       |  FROM ev
       |  UNION ALL
       |  SELECT vec_id, emb FROM ev),
       |e AS (
       |  SELECT vec_id, emb,
       |    sqrt(${duckDot.format("emb", "emb")}) AS norm
       |  FROM corpus),
       |planes AS (
       |  SELECT unnest(generate_series(0, ${duckPlanes("corpus")} - 1))
       |    AS p),
       |buckets AS (
       |  SELECT vec_id,
       |    SUM(CASE WHEN ${planeDot("emb", "p.p", 64, spark = false)} > 0
       |        THEN (CAST(1 AS BIGINT) << p.p) ELSE 0 END) AS bucket
       |  FROM e CROSS JOIN planes p
       |  GROUP BY 1),
       |vecs AS (
       |  SELECT e.*, b.bucket FROM e JOIN buckets b USING (vec_id)
       |  QUALIFY COUNT(*) OVER (PARTITION BY b.bucket) <= $BucketCap),
       |pairs AS (
       |  SELECT q.vec_id AS q_id,
       |    ${duckDot.format("t.emb", "q.emb")} / (t.norm * q.norm) AS cos
       |  FROM vecs t JOIN vecs q ON t.bucket = q.bucket
       |  WHERE q.vec_id % 97 = 0 AND t.vec_id % 97 <> 0),
       |agg AS (
       |  SELECT q_id,
       |    CAST(SUM(CASE WHEN cos >= 0.9 THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_contam,
       |    ROUND(MAX(cos), 4) AS max_cos
       |  FROM pairs GROUP BY 1)
       |SELECT ev.vec_id AS q_id,
       |  COALESCE(a.n_contam, 0) AS n_contam, a.max_cos,
       |  COALESCE(a.n_contam, 0) > 0 AS is_contaminated
       |FROM ev LEFT JOIN agg a ON a.q_id = ev.vec_id
       |ORDER BY q_id""".stripMargin

  private def x10(s: SparkSession, d: String): DataFrame = {
    val base = Tables.fanout(Tables.embeddings(s, d))
      .select(col("vec_id"),
        expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("emb"))
    val dups = base.filter(col("vec_id") % 10 === 0)
      .select((col("vec_id") + 1000000L).as("vec_id"),
        expr("transform(emb, x -> x * 1.001)").as("emb"))
    val corpus = base.unionByName(dups)
      .withColumn("norm", sqrt(DotProduct(col("emb"), col("emb"))))
    // corpus = base + every-10th planted dup; same adaptive sizing as
    // x05b (the count is over the un-normed union — column-pruned scan)
    val nplanes = adaptivePlanes(base.unionByName(dups).count())
    val vecs = signBucketsCapped(corpus, "emb", nplanes)
    val a = vecs.select(col("vec_id").as("vec_a"), col("emb").as("emb_a"),
      col("norm").as("norm_a"), col("bucket"))
    val b = vecs.select(col("vec_id").as("vec_b"), col("emb").as("emb_b"),
      col("norm").as("norm_b"), col("bucket"))
    a.join(b, Seq("bucket"))
      .filter(col("vec_a") < col("vec_b"))
      .withColumn("cos", DotProduct(col("emb_a"), col("emb_b")) /
        (col("norm_a") * col("norm_b")))
      .filter(col("cos") >= 0.95)
      .select("vec_a", "vec_b", "cos")
      .distinct()
      .orderBy("vec_a", "vec_b")
  }
  private def x10Sql: String =
    s"""WITH base AS (
       |  SELECT vec_id,
       |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
       |  FROM embeddings),
       |corpus AS (
       |  SELECT vec_id, emb FROM base
       |  UNION ALL
       |  SELECT vec_id + 1000000, list_transform(emb, x -> x * 1.001)
       |  FROM base WHERE vec_id % 10 = 0),
       |n AS (
       |  SELECT vec_id, emb,
       |    sqrt(${duckDot.format("emb", "emb")}) AS norm
       |  FROM corpus),
       |planes AS (
       |  SELECT unnest(generate_series(0, ${duckPlanes("corpus")} - 1))
       |    AS p),
       |buckets AS (
       |  SELECT vec_id,
       |    SUM(CASE WHEN ${planeDot("emb", "p.p", 64, spark = false)} > 0
       |        THEN (CAST(1 AS BIGINT) << p.p) ELSE 0 END) AS bucket
       |  FROM n CROSS JOIN planes p
       |  GROUP BY 1),
       |vecs AS (
       |  SELECT n.*, b.bucket FROM n JOIN buckets b USING (vec_id)
       |  QUALIFY COUNT(*) OVER (PARTITION BY b.bucket) <= $BucketCap)
       |SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b,
       |  ${duckDot.format("a.emb", "b.emb")} / (a.norm * b.norm) AS cos
       |FROM vecs a JOIN vecs b
       |  ON a.bucket = b.bucket AND a.vec_id < b.vec_id
       |WHERE ${duckDot.format("a.emb", "b.emb")} / (a.norm * b.norm) >= 0.95
       |ORDER BY vec_a, vec_b""".stripMargin

  // ---------------------------------------------------------------------
  // X11 — duplicate-cluster assignment: connected components over the
  // union of two candidate relations (shared 40-char prefix OR shared
  // 40-char suffix). This is the step after pair detection in a real
  // dedup pipeline: MinHash/exact/embedding pair lists merge into
  // transitive clusters, and every doc gets its canonical (min) id.
  //
  // Corpus plants two dup generations so closure is genuinely needed:
  // gen1 (every 10th doc) keeps the prefix, gen2 (every 20th) keeps the
  // suffix — {d, d+1M, d+2M} only connect through d.
  //
  // Scale: per-key pair generation is bounded by a stop-key cap (like
  // x04); the closure is large-star/small-star alternation
  // (etl.ConnectedComponents) — O(log n) shuffle rounds regardless of
  // graph diameter, each round bounded by the edge-relation size. The
  // DuckDB oracle computes the same components exactly via a
  // recursive CTE.
  // ---------------------------------------------------------------------
  private val ClusterKeyCap = 20

  /** x11's (corpus, components) pair — the planted-dup corpus and its
    * transitive closure, shared verbatim with x101 (the soft-dedup
    * weight census over the same clusters). */
  private def x11Parts(s: SparkSession, d: String)
      : (DataFrame, DataFrame, DataFrame) = {
    val docs = Tables.documents(s, d).select("doc_id", "text")
    val gen1 = docs.filter(col("doc_id") % 10 === 0)
      .select((col("doc_id") + 1000000L).as("doc_id"),
        concat(col("text"), lit(" planted dup "),
          col("doc_id").cast("string")).as("text"))
    val gen2 = docs.filter(col("doc_id") % 20 === 0)
      .select((col("doc_id") + 2000000L).as("doc_id"),
        concat(lit("zzz "), col("text")).as("text"))
    val corpus = docs.unionByName(gen1).unionByName(gen2)
    def pairsByKey(key: Column): DataFrame = {
      val keyed = corpus.select(col("doc_id"), key.as("k"))
      val wK = Window.partitionBy(col("k"))
      val capped = keyed.withColumn("__ksz", count(lit(1)).over(wK))
        .filter(col("__ksz") <= ClusterKeyCap)
        .drop("__ksz")
      capped.select(col("doc_id").as("a"), col("k"))
        .join(capped.select(col("doc_id").as("b"), col("k")), Seq("k"))
        .filter(col("a") < col("b"))
        .select("a", "b")
    }
    val edges = pairsByKey(substring(col("text"), 1, 40))
      .unionByName(pairsByKey(expr("right(text, 40)")))
      .distinct()
    // Large-star/small-star alternation (etl.ConnectedComponents):
    // O(log n) shuffle rounds regardless of graph diameter, vs the
    // rounds-=-diameter wall of min-label propagation. Lineage is cut
    // per round (localCheckpoint by default, reliable checkpoint
    // under graft.checkpoint.dir — Checkpoints.cut).
    (corpus, edges, graft.etl.ConnectedComponents.run(edges)
      .select(col("id").as("doc_id"), col("cluster_id")))
  }

  private def x11(s: SparkSession, d: String): DataFrame =
    x11Parts(s, d)._3.orderBy("doc_id")
  private val x11Ctes =
    s"""docs AS (
       |  SELECT doc_id, text FROM documents),
       |corpus AS (
       |  SELECT doc_id, text FROM docs
       |  UNION ALL
       |  SELECT doc_id + 1000000,
       |    text || ' planted dup ' || CAST(doc_id AS VARCHAR)
       |  FROM docs WHERE doc_id % 10 = 0
       |  UNION ALL
       |  SELECT doc_id + 2000000, 'zzz ' || text
       |  FROM docs WHERE doc_id % 20 = 0),
       |pre AS (
       |  SELECT doc_id, substring(text, 1, 40) AS k FROM corpus
       |  QUALIFY COUNT(*) OVER (PARTITION BY substring(text, 1, 40))
       |    <= $ClusterKeyCap),
       |suf AS (
       |  SELECT doc_id, right(text, 40) AS k FROM corpus
       |  QUALIFY COUNT(*) OVER (PARTITION BY right(text, 40))
       |    <= $ClusterKeyCap),
       |edges AS (
       |  SELECT DISTINCT a, b FROM (
       |    SELECT x.doc_id AS a, y.doc_id AS b FROM pre x
       |    JOIN pre y ON x.k = y.k AND x.doc_id < y.doc_id
       |    UNION ALL
       |    SELECT x.doc_id, y.doc_id FROM suf x
       |    JOIN suf y ON x.k = y.k AND x.doc_id < y.doc_id)),
       |undirected AS (
       |  SELECT a, b FROM edges UNION ALL SELECT b, a FROM edges),
       |nodes AS (SELECT DISTINCT a AS id FROM undirected),
       |reach(id, r) AS (
       |  SELECT id, id FROM nodes
       |  UNION
       |  SELECT reach.id, u.b FROM reach JOIN undirected u
       |    ON u.a = reach.r)""".stripMargin
  private val x11Sql =
    s"""WITH RECURSIVE $x11Ctes
       |SELECT id AS doc_id, MIN(r) AS cluster_id
       |FROM reach GROUP BY id ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------------
  // X101 — soft-dedup sampling weights: the standard ALTERNATIVE to
  // dropping duplicates — keep every copy but sample each dup cluster
  // as one effective document (weight = 1/cluster_size, here exact
  // integer ppm). Composes x11's transitive closure verbatim (same
  // planted-dup corpus, same CC kernel, same recursive-CTE oracle);
  // docs outside every cluster are their own singleton (weight 1).
  // The census prices the policy per cluster-size class: how many
  // clusters/docs sit at each size and the per-doc weight a sampler
  // would apply — Σ n_clusters × 1e6 is the effective corpus size in
  // ppm-docs. Scale: x11's bounded pair generation + O(log n) CC
  // rounds dominate; the weight census is two contracting aggs on
  // the (doc, cluster) relation.
  // ---------------------------------------------------------------------
  private def x101(s: SparkSession, d: String): DataFrame = {
    val (corpus, _, cc) = x11Parts(s, d)
    val aug = corpus.select("doc_id")
      .join(cc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("cluster_id"), col("doc_id")).as("cluster_id"))
    val sizes = aug.groupBy("cluster_id")
      .agg(count(lit(1)).as("cluster_size"))
    sizes.groupBy("cluster_size")
      .agg(count(lit(1)).as("n_clusters"),
        sum("cluster_size").as("n_docs"))
      .withColumn("weight_ppm", expr("1000000L div cluster_size"))
      .select("cluster_size", "n_clusters", "n_docs", "weight_ppm")
      .orderBy("cluster_size")
  }
  private val x101Sql =
    s"""WITH RECURSIVE $x11Ctes,
       |cl AS (
       |  SELECT id AS doc_id, MIN(r) AS cluster_id
       |  FROM reach GROUP BY id),
       |aug AS (
       |  SELECT c.doc_id,
       |    COALESCE(cl.cluster_id, c.doc_id) AS cluster_id
       |  FROM corpus c LEFT JOIN cl ON cl.doc_id = c.doc_id),
       |sizes AS (
       |  SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS cluster_size
       |  FROM aug GROUP BY 1)
       |SELECT cluster_size,
       |  CAST(COUNT(*) AS BIGINT) AS n_clusters,
       |  CAST(SUM(cluster_size) AS BIGINT) AS n_docs,
       |  1000000 // cluster_size AS weight_ppm
       |FROM sizes GROUP BY 1 ORDER BY cluster_size""".stripMargin

  // ---------------------------------------------------------------------
  // X102 — INCREMENTAL transitive closure: the nightly-maintenance
  // half x82 left open. x82 computes tonight's shard's near-dup EDGES
  // incrementally (delta vs the signature index, never re-shingling
  // the base), but turning edges into canonical cluster ids still
  // re-ran the closure over the FULL graph. The standard fix: fold
  // yesterday's assignments into STAR EDGES (cluster_id → member, the
  // spanning forest CC itself produces — connectivity-preserving by
  // construction) and close over star ∪ delta-edges only. Closure
  // work is then O(|clusters| + |delta edges|) per night instead of
  // O(|all edges|) — on a 100 TB corpus the difference between
  // re-clustering ten billion edges and walking tonight's shard. The
  // theorem gated here: CC(star(CC(base edges)) ∪ delta edges) ≡
  // CC(all edges) — bit-identical canonical ids, because star edges
  // preserve exactly the base components and delta edges are the only
  // new connectivity (gen2 docs are "tonight's arrivals": base-base
  // pairs never involve them by the a<b id split). Oracle: x11's
  // recursive-CTE closure over the FULL edge set — an engine that
  // never saw the incremental split. Scale: both closures are
  // large-star/small-star (O(log n) rounds, cut per round); the keyed
  // pair scan is shared with x11's audited shape via one cut.
  // ---------------------------------------------------------------------
  private def x102(s: SparkSession, d: String): DataFrame = {
    val (_, edges0, _) = x11Parts(s, d)
    val edges = edges0.cut(false) // consumers: base split, delta split
    val newMark = lit(2000000L) // gen2 = tonight's arrivals
    val baseE = edges
      .filter(col("a") < newMark && col("b") < newMark)
    val deltaE = edges
      .filter(col("a") >= newMark || col("b") >= newMark)
    val star = graft.etl.ConnectedComponents.run(baseE)
      .filter(col("id") =!= col("cluster_id"))
      .select(col("cluster_id").as("a"), col("id").as("b"))
    graft.etl.ConnectedComponents.run(star.unionByName(deltaE))
      .select(col("id").as("doc_id"), col("cluster_id"))
      .orderBy("doc_id")
  }
  // the oracle is the FULL-graph closure — x11's, verbatim: hash
  // equality IS the incremental ≡ full theorem
  private val x102Sql = x11Sql

  // ---------------------------------------------------------------------
  // X14 — benchmark decontamination: flag training documents sharing ≥K
  // word-3-gram shingles with a held-out eval set (doc_id % 97 == 0
  // stands in for the benchmark). The standard pre-training hygiene
  // step: eval shingles are a (relatively) small relation joined against
  // corpus shingles — the shuffle is on the shingle key, never an
  // all-pairs scan.
  // ---------------------------------------------------------------------
  private val ContamMinShingles = 3

  private def x14(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.fanout(Tables.documents(s, d))
      .filter(size(split(col("text"), " ")) >= 3)
    val shingles = docs
      .select(col("doc_id"), explode(expr(sparkShingles)).as("shingle"))
    val evalSet = shingles.filter(col("doc_id") % 97 === 0)
      .select(col("doc_id").as("eval_id"), col("shingle"))
    val train = shingles.filter(col("doc_id") % 97 =!= 0)
    // Size-aware hint: a real decontamination run joins against a FIXED
    // benchmark relation (always hint-broadcastable); this stand-in's
    // eval side is doc_id % 97 of the corpus, which grows with sf — an
    // unconditional hint would pin an ever-larger table on every
    // executor. The gate is a LIMIT-bounded probe (catalog stats at
    // real scale): Spark's incremental take() stops scanning the moment
    // the threshold is reached, so the gate's cost is capped at the
    // threshold regardless of corpus size. Under it, the hint keeps the
    // huge train side from ever shuffling; past it, AQE decides.
    val evalDocs =
      docs.filter(col("doc_id") % 97 === 0).limit(20000).count()
    val ev = if (evalDocs < 20000) broadcast(evalSet) else evalSet
    train.join(ev, Seq("shingle"))
      .groupBy(col("doc_id"), col("eval_id"))
      .agg(count(lit(1)).as("shared_shingles"))
      .filter(col("shared_shingles") >= ContamMinShingles)
      .orderBy("doc_id", "eval_id")
  }
  private val x14Sql =
    s"""WITH sh AS (
       |  SELECT doc_id, unnest($duckShingles) AS shingle
       |  FROM documents WHERE len(string_split(text, ' ')) >= 3),
       |ev AS (SELECT doc_id AS eval_id, shingle FROM sh
       |       WHERE doc_id % 97 = 0),
       |tr AS (SELECT doc_id, shingle FROM sh WHERE doc_id % 97 <> 0)
       |SELECT tr.doc_id, ev.eval_id, COUNT(*) AS shared_shingles
       |FROM tr JOIN ev ON tr.shingle = ev.shingle
       |GROUP BY 1, 2
       |HAVING COUNT(*) >= $ContamMinShingles
       |ORDER BY doc_id, eval_id""".stripMargin

  // ---------------------------------------------------------------------
  // X57 — contamination SPAN localization: x14 says WHICH train docs
  // share shingles with the eval set; this says WHERE and HOW LONG —
  // the verbatim-quote detector. Positional word-3-gram shingles (no
  // dedup — islands need positions), matched against the distinct
  // eval shingle set, then gaps-and-islands (pos − row_number) turns
  // matched positions into maximal consecutive runs; a run of L
  // shingles covers L+2 words. Real hygiene pipelines act on span
  // evidence (mask/cut the quoted window, keep the doc) rather than
  // x44's whole-doc drop — this produces exactly that evidence.
  //
  // Scale shape: one keyed shuffle on the shingle hash for the
  // left-semi probe (the eval side is the fixed benchmark relation),
  // then ONE per-doc window over matched positions only — cost
  // bounded by match volume, not corpus size. Nothing pairwise, no
  // eval_id fan-out (a train position matching 5 eval docs is still
  // one matched position — contrast x14's per-pair rows).
  // ---------------------------------------------------------------------
  private val SpanMinWords = 6 // ≥ 4 consecutive matched shingles

  private def x57(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.fanout(Tables.documents(s, d))
      .select(col("doc_id"), split(col("text"), " ").as("w"))
      .filter(size(col("w")) >= 3)
    val sh = docs.select(col("doc_id"),
      posexplode(expr("transform(sequence(0, size(w) - 3), " +
        "i -> concat_ws(' ', w[i], w[i+1], w[i+2]))"))
        .as(Seq("pos", "shingle")))
    val evalSh = sh.filter(col("doc_id") % 97 === 0)
      .select("shingle").distinct()
    val train = sh.filter(col("doc_id") % 97 =!= 0)
    val hits = train.join(evalSh, Seq("shingle"), "left_semi")
    val wD = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val spans = hits
      .withColumn("grp", col("pos") - row_number().over(wD))
      .groupBy(col("doc_id"), col("grp"))
      .agg(count(lit(1)).as("len"), min(col("pos")).as("start_pos"))
      .filter(col("len") + 2 >= SpanMinWords)
    spans.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_spans"),
        max(col("len") + 2).as("max_span_words"),
        sum(col("len")).as("matched_shingles"),
        min(col("start_pos")).cast("long").as("first_pos"))
      .orderBy("doc_id")
  }
  private val x57Sql =
    s"""WITH d AS (
       |  SELECT doc_id, string_split(text, ' ') AS w FROM documents
       |  WHERE len(string_split(text, ' ')) >= 3),
       |sh AS (
       |  SELECT doc_id, i - 1 AS pos,
       |    concat_ws(' ', w[i], w[i+1], w[i+2]) AS shingle
       |  FROM d, unnest(generate_series(1, len(w) - 2)) AS t(i)),
       |ev AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 97 = 0),
       |hits AS (
       |  SELECT doc_id, pos FROM sh
       |  WHERE doc_id % 97 <> 0
       |    AND shingle IN (SELECT shingle FROM ev)),
       |isl AS (
       |  SELECT doc_id, pos,
       |    pos - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos)
       |      AS grp
       |  FROM hits),
       |spans AS (
       |  SELECT doc_id, grp, COUNT(*) AS len, MIN(pos) AS start_pos
       |  FROM isl GROUP BY 1, 2
       |  HAVING COUNT(*) + 2 >= $SpanMinWords)
       |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_spans,
       |  CAST(MAX(len + 2) AS BIGINT) AS max_span_words,
       |  CAST(SUM(len) AS BIGINT) AS matched_shingles,
       |  CAST(MIN(start_pos) AS BIGINT) AS first_pos
       |FROM spans GROUP BY 1 ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------------
  // X44 — n-gram-LEVEL decontamination (the Brown-et-al. overlap
  // metric, complementing x14's pairwise shared-shingle screen): per
  // TRAINING doc, the fraction of its distinct 8-gram fingerprints
  // that occur anywhere in the eval set, and the drop decision at a
  // fraction threshold. This is the form real pre-training hygiene
  // uses — an eval doc quoted inside a larger train doc trips the
  // fraction even when x14's ≥K-shared-pairs view would attribute it
  // differently.
  //
  // Scale shape: x37's contract — n-grams are hashed row-locally
  // (xxhash64), only (doc_id, h) pairs shuffle; the eval fingerprint
  // set is the % 50 minority (a real benchmark is a fixed small
  // relation) probed via left-semi on the hash key; nothing pairwise.
  // Same one-sided 64-bit collision caveat as x37 (checked by
  // HashCollisionAuditSpec).
  // ---------------------------------------------------------------------
  private val DecontamK = 8
  private val DecontamFrac = 0.2

  private def x44(s: SparkSession, d: String): DataFrame = {
    val k = DecontamK
    val sh = Tables.fanout(Tables.documents(s, d))
      .select(col("doc_id"), split(col("text"), " ").as("w"))
      .filter(size(col("w")) >= k)
      .select(col("doc_id"),
        explode(transform(sequence(lit(0), size(col("w")) - k),
          i => xxhash64(concat_ws(" ",
            slice(col("w"), i + 1, lit(k)))))).as("h"))
      .distinct()
    val evalSh = sh.filter(col("doc_id") % 50 === 0)
      .select("h").distinct()
    val train = sh.filter(col("doc_id") % 50 =!= 0)
    val sizes = train.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"))
    val hits = train.join(evalSh, Seq("h"), "left_semi")
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_overlap"))
    sizes.join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_grams"),
        coalesce(col("n_overlap"), lit(0L)).as("n_overlap"),
        (coalesce(col("n_overlap"), lit(0L)).cast("double") /
          col("n_grams").cast("double")).as("overlap_frac"))
      .withColumn("contaminated", col("overlap_frac") > DecontamFrac)
      .orderBy("doc_id")
  }
  private val x44Sql =
    s"""WITH sh AS (
       |  SELECT DISTINCT doc_id,
       |    array_to_string(w[i:i+${DecontamK - 1}], ' ') AS g
       |  FROM (SELECT doc_id, string_split(text, ' ') AS w
       |        FROM documents),
       |    unnest(generate_series(1, len(w) - ${DecontamK - 1}))
       |      AS t(i)
       |  WHERE len(w) >= $DecontamK),
       |tr AS (SELECT doc_id, g FROM sh WHERE doc_id % 50 <> 0),
       |sizes AS (
       |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_grams
       |  FROM tr GROUP BY 1),
       |hits AS (
       |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_overlap
       |  FROM tr WHERE g IN (
       |    SELECT g FROM sh WHERE doc_id % 50 = 0)
       |  GROUP BY 1)
       |SELECT s.doc_id, s.n_grams,
       |  CAST(COALESCE(h.n_overlap, 0) AS BIGINT) AS n_overlap,
       |  CAST(COALESCE(h.n_overlap, 0) AS DOUBLE)
       |    / CAST(s.n_grams AS DOUBLE) AS overlap_frac,
       |  CAST(COALESCE(h.n_overlap, 0) AS DOUBLE)
       |    / CAST(s.n_grams AS DOUBLE) > $DecontamFrac AS contaminated
       |FROM sizes s LEFT JOIN hits h USING (doc_id)
       |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------------
  // X48 — per-document n-gram NOVELTY (the marginal-value curve):
  // what fraction of each doc's distinct 8-grams appears for the
  // FIRST time in corpus order — the statistic behind "does adding
  // this shard/source buy new content or re-buy the old" mixing
  // decisions, and the content-level complement of x01's whole-doc
  // dedup (a doc can be 0% exact-dup yet 95% non-novel). First
  // occurrence = min(doc_id) per fingerprint: one hash-keyed agg +
  // one hash-keyed join, x44's no-text-shuffles contract and the
  // same one-sided collision caveat (checked by
  // HashCollisionAuditSpec).
  // ---------------------------------------------------------------------
  private def x48(s: SparkSession, d: String): DataFrame = {
    val k = DecontamK
    val sh = Tables.fanout(Tables.documents(s, d))
      .select(col("doc_id"), split(col("text"), " ").as("w"))
      .filter(size(col("w")) >= k)
      .select(col("doc_id"),
        explode(transform(sequence(lit(0), size(col("w")) - k),
          i => xxhash64(concat_ws(" ",
            slice(col("w"), i + 1, lit(k)))))).as("h"))
      .distinct()
    val firsts = sh.groupBy(col("h")).agg(min(col("doc_id")).as("fd"))
    sh.join(firsts, Seq("h"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("fd") === col("doc_id"), 1L).otherwise(0L))
          .as("n_new"))
      .select(col("doc_id"), col("n_grams"), col("n_new"),
        (col("n_new").cast("double") / col("n_grams").cast("double"))
          .as("novelty"))
      .orderBy("doc_id")
  }
  private lazy val x48Sql =
    s"""WITH sh AS (
       |  SELECT DISTINCT doc_id,
       |    array_to_string(w[i:i+${DecontamK - 1}], ' ') AS g
       |  FROM (SELECT doc_id, string_split(text, ' ') AS w
       |        FROM documents),
       |    unnest(generate_series(1, len(w) - ${DecontamK - 1}))
       |      AS t(i)
       |  WHERE len(w) >= $DecontamK),
       |firsts AS (SELECT g, MIN(doc_id) AS fd FROM sh GROUP BY 1)
       |SELECT s.doc_id, CAST(COUNT(*) AS BIGINT) AS n_grams,
       |  CAST(SUM(CASE WHEN f.fd = s.doc_id THEN 1 ELSE 0 END)
       |    AS BIGINT) AS n_new,
       |  CAST(SUM(CASE WHEN f.fd = s.doc_id THEN 1 ELSE 0 END)
       |      AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS novelty
       |FROM sh s JOIN firsts f USING (g)
       |GROUP BY 1 ORDER BY s.doc_id""".stripMargin

  // ---------------------------------------------------------------------
  // X49 — source-level content overlap matrix: for every source pair,
  // how much of each source's distinct 8-gram content the other
  // already covers (directional containment + Jaccard) — a26's
  // set-overlap idea lifted from users to CORPUS SOURCES, answering
  // "does licensing source B add content or re-buy source A". The
  // grain contracts to DISTINCT (source, fingerprint) first (one
  // hash-keyed agg), the pair join runs on the fingerprint key over
  // the bounded source domain, and set sizes ride a broadcast. The
  // output is the COMPLETE upper-triangle pair matrix: zero-overlap
  // pairs appear with n_shared=0 (left join off the bounded pair
  // domain), not as missing rows. Same collision caveat as x37/x44
  // (checked by HashCollisionAuditSpec).
  // ---------------------------------------------------------------------
  private def x49(s: SparkSession, d: String): DataFrame = {
    val k = DecontamK
    val sh = Tables.fanout(Tables.documents(s, d))
      .select(col("source"), split(col("text"), " ").as("w"))
      .filter(size(col("w")) >= k)
      .select(col("source"),
        explode(transform(sequence(lit(0), size(col("w")) - k),
          i => xxhash64(concat_ws(" ",
            slice(col("w"), i + 1, lit(k)))))).as("h"))
      .distinct()
      // three consumers (sizes + both pair-join sides): one
      // materialization, not three explode+distinct re-derivations
      .cut(false)
    val sizes = sh.groupBy(col("source")).agg(count(lit(1)).as("n"))
    val pairs = sh.as("a")
      .join(sh.as("b"), col("a.h") === col("b.h") &&
        col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("src_a"), col("b.source").as("src_b"))
      .agg(count(lit(1)).as("n_shared"))
    // The FULL source-pair domain comes from a self-join of the tiny
    // sizes relation (bounded by the source domain, not the data), so
    // zero-overlap pairs appear as explicit n_shared=0 rows instead of
    // silently missing from the matrix.
    val dom = sizes.select(col("source").as("src_a"), col("n").as("n_a"))
      .join(broadcast(sizes.select(col("source").as("src_b"),
        col("n").as("n_b"))), col("src_a") < col("src_b"))
    dom
      .join(broadcast(pairs), Seq("src_a", "src_b"), "left")
      .withColumn("n_shared", coalesce(col("n_shared"), lit(0L)))
      .select(col("src_a"), col("src_b"), col("n_a"), col("n_b"),
        col("n_shared"),
        (col("n_shared").cast("double") / col("n_a").cast("double"))
          .as("contain_a_in_b"),
        (col("n_shared").cast("double") / col("n_b").cast("double"))
          .as("contain_b_in_a"),
        (col("n_shared").cast("double") /
          (col("n_a") + col("n_b") - col("n_shared")).cast("double"))
          .as("jaccard"))
      .orderBy("src_a", "src_b")
  }
  private lazy val x49Sql =
    s"""WITH sh AS (
       |  SELECT DISTINCT source,
       |    array_to_string(w[i:i+${DecontamK - 1}], ' ') AS g
       |  FROM (SELECT source, string_split(text, ' ') AS w
       |        FROM documents),
       |    unnest(generate_series(1, len(w) - ${DecontamK - 1}))
       |      AS t(i)
       |  WHERE len(w) >= $DecontamK),
       |sizes AS (
       |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n
       |  FROM sh GROUP BY 1),
       |pairs AS (
       |  SELECT a.source AS src_a, b.source AS src_b,
       |    CAST(COUNT(*) AS BIGINT) AS n_shared
       |  FROM sh a JOIN sh b
       |    ON a.g = b.g AND a.source < b.source
       |  GROUP BY 1, 2)
       |SELECT sa.source AS src_a, sb.source AS src_b,
       |  sa.n AS n_a, sb.n AS n_b,
       |  CAST(COALESCE(p.n_shared, 0) AS BIGINT) AS n_shared,
       |  CAST(COALESCE(p.n_shared, 0) AS DOUBLE) / CAST(sa.n AS DOUBLE)
       |    AS contain_a_in_b,
       |  CAST(COALESCE(p.n_shared, 0) AS DOUBLE) / CAST(sb.n AS DOUBLE)
       |    AS contain_b_in_a,
       |  CAST(COALESCE(p.n_shared, 0) AS DOUBLE)
       |    / CAST(sa.n + sb.n - COALESCE(p.n_shared, 0) AS DOUBLE)
       |    AS jaccard
       |FROM sizes sa JOIN sizes sb ON sa.source < sb.source
       |LEFT JOIN pairs p
       |  ON p.src_a = sa.source AND p.src_b = sb.source
       |ORDER BY src_a, src_b""".stripMargin

  // ---------------------------------------------------------------------
  // X71 — KMV (bottom-k) sketch overlap with its error contract: the
  // sketch-based swap-in for x49's exact pair join, certified against
  // it. Per source, a bottom-k=128 sketch of the word-3-gram PolyHash
  // set rides ONE custom-Aggregator pass ([[graft.functions
  // .BottomKSketch]] — O(k) state per group; at 100 TB the sketch
  // shuffles 128 longs per source where the exact join shuffles the
  // full distinct shingle relation TWICE). Pair estimate = the
  // classic KMV Jaccard (|bottom-k of the sketch union ∩ both
  // sketches| / k), in exact ppm; the exact side is x49's kernel on
  // the same hash grain; err vs the flat 2σ worst-case bound
  // (1e6/√k ppm, x51's contract style) lands per pair. Everything
  // the sketch computes is deterministic integer order statistics of
  // oracle-portable hashes, so DuckDB reproduces the SKETCH ITSELF
  // bit-for-bit (row_number ≤ k over the same h order) — the
  // estimator is certified cross-engine, not just the exact twin.
  // The pair stage runs on the bounded source domain (x49's rule:
  // complete upper-triangle matrix, zero-overlap pairs explicit).
  // ---------------------------------------------------------------------
  private val KmvK = 128

  private def x71(s: SparkSession, d: String): DataFrame = {
    val sh = Tables.fanout(Tables.documents(s, d))
      .filter(size(split(col("text"), " ")) >= 3)
      .select(col("source"), explode(expr(sparkShingles)).as("shingle"))
      .withColumn("h", graft.functions.PolyHash(col("shingle")))
      .select("source", "h").distinct()
      // three consumers (sizes, sketches, both exact-join sides):
      // one materialization
      .cut(false)
    val sizes = sh.groupBy(col("source")).agg(count(lit(1)).as("n"))
    val pairs = sh.as("a")
      .join(sh.as("b"), col("a.h") === col("b.h") &&
        col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("src_a"), col("b.source").as("src_b"))
      .agg(count(lit(1)).as("n_shared"))
    val bk = udaf(new graft.functions.BottomKSketch(KmvK))
    val sketches = sh.groupBy(col("source")).agg(bk(col("h")).as("sk"))
    val dom = sizes.select(col("source").as("src_a"), col("n").as("n_a"))
      .join(broadcast(sizes.select(col("source").as("src_b"),
        col("n").as("n_b"))), col("src_a") < col("src_b"))
    dom
      .join(broadcast(sketches.select(col("source").as("src_a"),
        col("sk").as("sk_a"))), Seq("src_a"))
      .join(broadcast(sketches.select(col("source").as("src_b"),
        col("sk").as("sk_b"))), Seq("src_b"))
      .join(broadcast(pairs), Seq("src_a", "src_b"), "left")
      .withColumn("n_shared", coalesce(col("n_shared"), lit(0L)))
      .withColumn("ku",
        slice(array_sort(array_union(col("sk_a"), col("sk_b"))),
          1, KmvK))
      .withColumn("k_used", size(col("ku")).cast("long"))
      .withColumn("kmv_shared",
        size(array_intersect(col("ku"),
          array_intersect(col("sk_a"), col("sk_b")))).cast("long"))
      .withColumn("est_ppm",
        expr("(1000000 * kmv_shared) div k_used"))
      .withColumn("exact_ppm",
        expr("(1000000 * n_shared) div (n_a + n_b - n_shared)"))
      .withColumn("err_ppm", abs(col("est_ppm") - col("exact_ppm")))
      .withColumn("bound_ppm",
        ceil(lit(1000000.0) / sqrt(col("k_used").cast("double")))
          .cast("long"))
      .withColumn("within_bound",
        (col("err_ppm") <= col("bound_ppm")).cast("long"))
      .select("src_a", "src_b", "n_a", "n_b", "n_shared", "k_used",
        "kmv_shared", "est_ppm", "exact_ppm", "err_ppm", "bound_ppm",
        "within_bound")
      .orderBy("src_a", "src_b")
  }
  private lazy val x71Sql =
    s"""WITH sh AS (
       |  SELECT DISTINCT source, unnest(${duckHashes(duckShingles)}) AS h
       |  FROM documents WHERE len(string_split(text, ' ')) >= 3),
       |sizes AS (
       |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n
       |  FROM sh GROUP BY 1),
       |pairs AS (
       |  SELECT a.source AS src_a, b.source AS src_b,
       |    CAST(COUNT(*) AS BIGINT) AS n_shared
       |  FROM sh a JOIN sh b
       |    ON a.h = b.h AND a.source < b.source
       |  GROUP BY 1, 2),
       |sk AS (
       |  SELECT source, h FROM (
       |    SELECT source, h,
       |      ROW_NUMBER() OVER (PARTITION BY source ORDER BY h) AS rk
       |    FROM sh) WHERE rk <= $KmvK),
       |dom AS (
       |  SELECT sa.source AS src_a, sb.source AS src_b,
       |    sa.n AS n_a, sb.n AS n_b
       |  FROM sizes sa JOIN sizes sb ON sa.source < sb.source),
       |u AS (
       |  SELECT d.src_a, d.src_b, s.h,
       |    MAX(CASE WHEN s.source = d.src_a THEN 1 ELSE 0 END) AS in_a,
       |    MAX(CASE WHEN s.source = d.src_b THEN 1 ELSE 0 END) AS in_b
       |  FROM dom d JOIN sk s ON s.source IN (d.src_a, d.src_b)
       |  GROUP BY 1, 2, 3),
       |kk AS (
       |  SELECT src_a, src_b,
       |    CAST(COUNT(*) AS BIGINT) AS k_used,
       |    CAST(SUM(CASE WHEN in_a = 1 AND in_b = 1 THEN 1 ELSE 0 END)
       |      AS BIGINT) AS kmv_shared
       |  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY src_a, src_b
       |          ORDER BY h) AS rk FROM u)
       |  WHERE rk <= $KmvK GROUP BY 1, 2)
       |SELECT d.src_a, d.src_b, d.n_a, d.n_b,
       |  CAST(COALESCE(p.n_shared, 0) AS BIGINT) AS n_shared,
       |  k.k_used, k.kmv_shared,
       |  CAST((1000000 * k.kmv_shared) // k.k_used AS BIGINT) AS est_ppm,
       |  CAST((1000000 * COALESCE(p.n_shared, 0))
       |    // (d.n_a + d.n_b - COALESCE(p.n_shared, 0)) AS BIGINT)
       |    AS exact_ppm,
       |  CAST(ABS((1000000 * k.kmv_shared) // k.k_used
       |    - (1000000 * COALESCE(p.n_shared, 0))
       |      // (d.n_a + d.n_b - COALESCE(p.n_shared, 0))) AS BIGINT)
       |    AS err_ppm,
       |  CAST(CEIL(1000000.0 / SQRT(CAST(k.k_used AS DOUBLE)))
       |    AS BIGINT) AS bound_ppm,
       |  CAST(CASE WHEN ABS((1000000 * k.kmv_shared) // k.k_used
       |      - (1000000 * COALESCE(p.n_shared, 0))
       |        // (d.n_a + d.n_b - COALESCE(p.n_shared, 0)))
       |    <= CEIL(1000000.0 / SQRT(CAST(k.k_used AS DOUBLE)))
       |    THEN 1 ELSE 0 END AS BIGINT) AS within_bound
       |FROM dom d
       |JOIN kk k ON k.src_a = d.src_a AND k.src_b = d.src_b
       |LEFT JOIN pairs p ON p.src_a = d.src_a AND p.src_b = d.src_b
       |ORDER BY d.src_a, d.src_b""".stripMargin

  // ---------------------------------------------------------------------
  // X73 — reciprocal-rank fusion of the two ANN retrievers: the
  // standard way a RAG stack combines rankings from heterogeneous
  // systems (here the brute-force cosine baseline and the sign-LSH
  // path — x60 prices their recall; x73 fuses their answers).
  // RRF score = Σ_systems 1/(60 + rank), computed as EXACT integer
  // nano-units (10⁹ div (60 + rank)) so fusion order, ties and the
  // final top-10 are bit-deterministic across engines — no float sum
  // deciding between candidates ranked (3, absent) vs (absent, 3).
  // A candidate missing from one system contributes 0 from it (full
  // outer join + COALESCE — the x49 zero-overlap lesson). Scale: both
  // inputs are ≤ 10·|probes| rows, the fusion join and the pick
  // window are keyed on (q_id[, vec_id]) — the expensive part is the
  // retrievers themselves, which are exactly x05/x05b's audited plans.
  // ---------------------------------------------------------------------
  private def x73(s: SparkSession, d: String): DataFrame = {
    val brute = x05(s, d)
      .select(col("q_id"), col("vec_id"), col("rank").as("r_brute"))
    val lsh = x05b(s, d)
      .select(col("q_id"), col("vec_id"), col("rank").as("r_lsh"))
    val fused = brute.join(lsh, Seq("q_id", "vec_id"), "full_outer")
      .withColumn("rrf_score",
        coalesce(expr("1000000000L div (60L + r_brute)"), lit(0L)) +
        coalesce(expr("1000000000L div (60L + r_lsh)"), lit(0L)))
    val w = Window.partitionBy("q_id")
      .orderBy(col("rrf_score").desc, col("vec_id"))
    fused.withColumn("fused_rank", row_number().over(w).cast("long"))
      .filter(col("fused_rank") <= 10)
      .select(col("q_id"), col("vec_id"), col("fused_rank"),
        col("rrf_score"),
        coalesce(col("r_brute"), lit(0)).cast("long").as("r_brute"),
        coalesce(col("r_lsh"), lit(0)).cast("long").as("r_lsh"))
      .orderBy("q_id", "fused_rank")
  }
  private lazy val x73Sql =
    s"""WITH brute AS ($x05Sql),
       |lshq AS ($x05bSql),
       |f AS (
       |  SELECT COALESCE(b.q_id, l.q_id) AS q_id,
       |    COALESCE(b.vec_id, l.vec_id) AS vec_id,
       |    b.rank AS r_brute, l.rank AS r_lsh
       |  FROM brute b FULL OUTER JOIN lshq l
       |    ON b.q_id = l.q_id AND b.vec_id = l.vec_id),
       |scored AS (
       |  SELECT q_id, vec_id,
       |    COALESCE(1000000000 // (60 + r_brute), 0)
       |      + COALESCE(1000000000 // (60 + r_lsh), 0) AS rrf_score,
       |    CAST(COALESCE(r_brute, 0) AS BIGINT) AS r_brute,
       |    CAST(COALESCE(r_lsh, 0) AS BIGINT) AS r_lsh
       |  FROM f),
       |picked AS (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id
       |    ORDER BY rrf_score DESC, vec_id) AS fused_rank
       |  FROM scored)
       |SELECT q_id, vec_id, CAST(fused_rank AS BIGINT) AS fused_rank,
       |  CAST(rrf_score AS BIGINT) AS rrf_score, r_brute, r_lsh
       |FROM picked WHERE fused_rank <= 10
       |ORDER BY q_id, fused_rank""".stripMargin

  // ---------------------------------------------------------------------
  // X75 — context-window assembly under a token budget: the step a
  // RAG stack runs AFTER retrieval — pack the ranked candidates into
  // the prompt until the budget is spent. Candidates come from the
  // sign-LSH retriever (x05b's audited plan, the scale path); token
  // costs join keyed on the doc id (x08's whitespace grain); the
  // budget gate is a per-query running sum over the rank order
  // (strict prefix cut at 256 tokens: the first overflowing chunk and
  // everything after it is dropped — deterministic, no knapsack
  // reordering surprises between engines). Scale: the window runs
  // inside per-q_id partitions of a ≤ 10·|probes|-row relation; the
  // retriever dominates, and it is exactly x05b's audited plan.
  // ---------------------------------------------------------------------
  private val CtxBudget = 256L

  private def x75(s: SparkSession, d: String): DataFrame = {
    val cands = x05b(s, d)
      .select(col("q_id"), col("vec_id"), col("rank"))
    val toks = Tables.documents(s, d)
      .select(col("doc_id").as("vec_id"),
        size(split(col("text"), "\\s+")).cast("long").as("n_tok"))
    val w = Window.partitionBy("q_id").orderBy("rank")
    cands.join(toks, Seq("vec_id"))
      .withColumn("cum_tok", sum("n_tok").over(w))
      .filter(col("cum_tok") <= CtxBudget)
      .withColumn("rank", col("rank").cast("long"))
      .select("q_id", "rank", "vec_id", "n_tok", "cum_tok")
      .orderBy("q_id", "rank")
  }
  private lazy val x75Sql =
    s"""WITH cands AS ($x05bSql),
       |toks AS (
       |  SELECT doc_id AS vec_id,
       |    CAST(len(string_split_regex(text, '\\s+')) AS BIGINT)
       |      AS n_tok
       |  FROM documents),
       |packed AS (
       |  SELECT c.q_id, CAST(c.rank AS BIGINT) AS rank, c.vec_id,
       |    t.n_tok,
       |    CAST(SUM(t.n_tok) OVER (PARTITION BY c.q_id ORDER BY c.rank)
       |      AS BIGINT) AS cum_tok
       |  FROM cands c JOIN toks t USING (vec_id))
       |SELECT q_id, rank, vec_id, n_tok, cum_tok
       |FROM packed WHERE cum_tok <= $CtxBudget
       |ORDER BY q_id, rank""".stripMargin

  // ---------------------------------------------------------------------
  // X50 — leakage-safe train/eval split: the split key is the
  // DUP-GROUP (min doc_id per content fingerprint), not the document,
  // so a duplicated document can never land on both sides of the
  // split — the leakage class x41 AUDITS, prevented by construction.
  // The output carries its own evidence: `naive_straddle_groups`
  // counts dup groups the per-document hash split would have torn
  // across train and eval (>0 on this corpus — the reason this
  // operator exists). Deterministic Knuth-mix gates, one fingerprint
  // agg + one broadcast-scalar join; same 90/10 gate arithmetic as
  // x41's split.
  // ---------------------------------------------------------------------
  private def x50(s: SparkSession, d: String): DataFrame = {
    def gate(c: Column): Column =
      ((c % 2147483648L) * 2654435761L) % 1000000007L % 10L
    // group key = x01's dedup key (this corpus duplicates by shared
    // 40-char prefix, not whole text), so groups are real here and
    // the straddle evidence is non-vacuous
    val docs = Tables.fanout(Tables.documents(s, d))
      .select(col("doc_id"),
        md5(substring(col("text"), 1, 40)).as("fp"),
        size(split(col("text"), " ")).cast("long").as("n_tok"))
    val grp = docs.groupBy(col("fp"))
      .agg(min(col("doc_id")).as("gid"),
        (countDistinct(when(gate(col("doc_id")) < 9, 1)
          .otherwise(0)) > 1).as("naive_straddles"))
    val straddles = grp.agg(
      sum(when(col("naive_straddles"), 1L).otherwise(0L))
        .as("naive_straddle_groups"))
    docs.join(grp.select(col("fp"), col("gid")), Seq("fp"))
      .withColumn("split",
        when(gate(col("gid")) < 9, "train").otherwise("eval"))
      .groupBy(col("split"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tok")).as("n_tokens"),
        countDistinct(col("gid")).as("n_groups"))
      .crossJoin(broadcast(straddles))
      .orderBy("split")
  }
  private lazy val x50Sql =
    """WITH docs AS (
      |  SELECT doc_id, md5(substring(text, 1, 40)) AS fp,
      |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
      |  FROM documents),
      |grp AS (
      |  SELECT fp, MIN(doc_id) AS gid,
      |    COUNT(DISTINCT CASE WHEN
      |      ((doc_id % 2147483648) * 2654435761) % 1000000007 % 10 < 9
      |      THEN 1 ELSE 0 END) > 1 AS naive_straddles
      |  FROM docs GROUP BY 1),
      |str AS (
      |  SELECT CAST(SUM(CASE WHEN naive_straddles THEN 1 ELSE 0 END)
      |    AS BIGINT) AS naive_straddle_groups FROM grp)
      |SELECT CASE WHEN ((g.gid % 2147483648) * 2654435761)
      |         % 1000000007 % 10 < 9
      |         THEN 'train' ELSE 'eval' END AS split,
      |  CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  CAST(SUM(d.n_tok) AS BIGINT) AS n_tokens,
      |  CAST(COUNT(DISTINCT g.gid) AS BIGINT) AS n_groups,
      |  MIN(str.naive_straddle_groups) AS naive_straddle_groups
      |FROM docs d JOIN grp g USING (fp) CROSS JOIN str
      |GROUP BY 1 ORDER BY split""".stripMargin

  // ---------------------------------------------------------------------
  // X19 — int8 embedding quantization audit: per-vector symmetric scale
  // (max|x| / 127), floor-quantize, and measure the worst reconstruction
  // error — the storage-scale path (4× smaller vectors) with its
  // quality gate. Row-local element-wise arithmetic only (no folds), so
  // every double is bit-identical across engines; floor (not round)
  // avoids the .5-tie divergence class.
  // ---------------------------------------------------------------------
  private def x19(s: SparkSession, d: String): DataFrame = {
    Tables.fanout(Tables.embeddings(s, d))
      .withColumn("emb",
        expr("transform(embedding, x -> CAST(x AS DOUBLE))"))
      .withColumn("scale",
        expr("array_max(transform(emb, x -> abs(x))) / 127.0"))
      .filter(col("scale") > 0)
      .withColumn("max_err", expr(
        "array_max(transform(emb, x -> abs(x - floor(x / scale) * scale)))"))
      .withColumn("within_budget", col("max_err") <= col("scale"))
      .select("vec_id", "scale", "max_err", "within_budget")
      .orderBy("vec_id")
  }
  private val x19Sql =
    """WITH e AS (
      |  SELECT vec_id,
      |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
      |  FROM embeddings),
      |q AS (
      |  SELECT vec_id, emb,
      |    list_max(list_transform(emb, x -> abs(x))) / 127.0 AS scale
      |  FROM e)
      |SELECT vec_id, scale,
      |  list_max(list_transform(emb,
      |    x -> abs(x - floor(x / scale) * scale))) AS max_err,
      |  list_max(list_transform(emb,
      |    x -> abs(x - floor(x / scale) * scale))) <= scale
      |    AS within_budget
      |FROM q WHERE scale > 0 ORDER BY vec_id""".stripMargin

  // ---------------------------------------------------------------------
  // X53 — Johnson–Lindenstrauss random-projection audit: project the
  // 64-d embeddings to 16-d with a DETERMINISTIC Rademacher (±1)
  // matrix and report, per sampled pair, the squared-distance ratio
  // the JL lemma says concentrates near 1. The dimensionality-
  // reduction step real embedding pipelines run before ANN indexing
  // (16-d buckets are 4× cheaper to scan) — made value-checkable
  // across engines by deriving the ±1 signs from splitmix64-mixed
  // integer arithmetic instead of an RNG — x47/q47's determinism
  // trick, with a full-avalanche mix (see [[jlSign]] for why).
  //
  // Numeric parity: floats widen to double FIRST (the x39 rule), each
  // projection is one native DotProduct against a ±1 constant vector
  // (left-to-right fold, bit-identical to DuckDB's list_reduce), and
  // d²s combine in a fixed written order — so ROUND(…, 4) sees the
  // same double on both engines.
  //
  // Scale shape: projections are row-local codegen (16 fused dot
  // loops per row); the pair sample is a keyed self-join on
  // vec_id + 7 (linear in n, never all-pairs); no aggregation, so
  // nothing accumulates across partitions.
  // ---------------------------------------------------------------------
  /** Deterministic Rademacher sign for projection row j, input dim i.
    *
    * splitmix64's finalizer, NOT a single Knuth multiply: the matrix
    * is generated HERE and interpolated into both engines as literals
    * (so SQL portability doesn't constrain the generator), and a lone
    * multiplicative mix leaves consecutive cells linearly structured —
    * measured mean |row·row| of 30/64 (≈0.47 correlation, one pair at
    * −0.94!) vs 6.35/64 with full avalanche, right at the √d a truly
    * random ±1 family gives. Correlated rows don't contract distance
    * independently and the JL ratio spread blows up — the same
    * failure family x51 caught in the MinHash multipliers. */
  private def jlSign(j: Int, i: Int): Double = {
    var z = (j * 64 + i + 1).toLong * 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^= z >>> 31
    if ((z & 1L) == 0L) 1.0 else -1.0
  }

  private def x53(s: SparkSession, d: String): DataFrame = {
    val e = Tables.fanout(Tables.embeddings(s, d))
      .select(col("vec_id"),
        expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("emb"))
    // 16 projections: p_j = <emb, sign_j> / sqrt(16) (JL scaling)
    val proj = e.select(col("vec_id") +: col("emb") +:
      (0 until 16).map { j =>
        (DotProduct(col("emb"),
          typedLit((0 until 64).map(jlSign(j, _)))) / 4.0).as(s"p$j")
      }: _*)
    val a = proj.select(col("vec_id").as("vec_a") +:
      col("emb").as("ea") +:
      (0 until 16).map(j => col(s"p$j").as(s"pa$j")): _*)
    val b = proj.select((col("vec_id") - 7L).as("vec_a") +:
      col("vec_id").as("vec_b") +: col("emb").as("eb") +:
      (0 until 16).map(j => col(s"p$j").as(s"pb$j")): _*)
    val d2o = DotProduct(col("ea"), col("ea")) -
      lit(2.0) * DotProduct(col("ea"), col("eb")) +
      DotProduct(col("eb"), col("eb"))
    val d2p = (0 until 16).map { j =>
      (col(s"pa$j") - col(s"pb$j")) * (col(s"pa$j") - col(s"pb$j"))
    }.reduce(_ + _)
    a.join(b, Seq("vec_a"))
      .withColumn("d2_orig", d2o)
      .withColumn("d2_ratio",
        when(col("d2_orig") === 0.0, lit(null).cast("double"))
          .otherwise(round(d2p / col("d2_orig"), 4)))
      .select("vec_a", "vec_b", "d2_ratio")
      .orderBy("vec_a")
  }
  private def x53Sql: String = {
    def signList(j: Int): String =
      (0 until 64).map(i => s"${jlSign(j, i)}").mkString("[", ", ", "]")
    val projCols = (0 until 16).map(j =>
      s"${duckDot.format("emb", signList(j))} / 4.0 AS p$j")
    val d2p = (0 until 16).map(j =>
      s"(a.p$j - b.p$j) * (a.p$j - b.p$j)").mkString(" + ")
    s"""WITH e AS (
       |  SELECT vec_id,
       |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
       |  FROM embeddings),
       |proj AS (
       |  SELECT vec_id, emb,
       |    ${projCols.mkString(",\n       |    ")}
       |  FROM e),
       |pairs AS (
       |  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       |    ${duckDot.format("a.emb", "a.emb")}
       |      - 2.0 * ${duckDot.format("a.emb", "b.emb")}
       |      + ${duckDot.format("b.emb", "b.emb")} AS d2_orig,
       |    $d2p AS d2_proj
       |  FROM proj a JOIN proj b ON b.vec_id = a.vec_id + 7)
       |SELECT vec_a, vec_b,
       |  CASE WHEN d2_orig = 0.0 THEN NULL
       |    ELSE ROUND(d2_proj / d2_orig, 4) END AS d2_ratio
       |FROM pairs ORDER BY vec_a""".stripMargin
  }

  // ---------------------------------------------------------------------
  // X32 — cross-document repeated-SUBSTRING detection (the span-level
  // member of the dedup family, after Lee et al.'s "deduplicating
  // training data" — exact repeated token spans, not whole docs or
  // whole lines): every k-token window is fingerprinted, windows whose
  // fingerprint occurs in ≥2 DISTINCT documents are "repeated", and
  // each doc reports how much of it is covered by the union of its
  // repeated spans (the quantity substring-dedup would cut).
  //
  // Scale shape (same contract as SegmentDedup): no shuffle ever
  // carries text. Windows are hashed row-locally (xxhash64), only
  // (doc_id, start, hash64) triples shuffle for the document-frequency
  // aggregate, the repeated minority joins back (AQE broadcasts it),
  // and the interval-union length is a per-doc sorted window over that
  // minority — sum of least(k, next_start - start), last span
  // contributing k. Linear in total tokens at any corpus size; 64-bit
  // fingerprint collisions are the standard accepted trade.
  // ---------------------------------------------------------------------
  private val SpanK = 8

  private def x32(s: SparkSession, d: String): DataFrame = {
    val k = SpanK
    val docs = Tables.fanout(Tables.documents(s, d))
      .select(col("doc_id"), split(col("text"), " ").as("w"))
    val base = docs.select(col("doc_id"),
      size(col("w")).cast("long").as("n_tokens"), col("w"))
    // one (start, fingerprint) row per k-token window — text stays put
    val spans = base.filter(col("n_tokens") >= k)
      .select(col("doc_id"),
        posexplode(transform(sequence(lit(0), size(col("w")) - k),
          i => xxhash64(concat_ws(" ",
            slice(col("w"), i + 1, lit(k)))))).as(Seq("start", "h")))
    val repeated = spans.groupBy(col("h"))
      .agg(countDistinct(col("doc_id")).as("df"))
      .filter(col("df") >= 2)
      .select("h")
    val repStarts = spans.join(repeated, Seq("h"))
      .select("doc_id", "start")
    val wDoc = Window.partitionBy(col("doc_id")).orderBy(col("start"))
    val cov = repStarts
      .withColumn("nxt", lead(col("start"), 1).over(wDoc))
      .withColumn("contrib", when(col("nxt").isNull, lit(k.toLong))
        .otherwise(least(lit(k.toLong),
          (col("nxt") - col("start")).cast("long"))))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_rep_spans"),
        sum(col("contrib")).as("covered_tokens"))
    base.select("doc_id", "n_tokens").join(cov, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("n_rep_spans"), lit(0L)).as("n_rep_spans"),
        coalesce(col("covered_tokens"), lit(0L)).as("covered_tokens"),
        (coalesce(col("covered_tokens"), lit(0L)).cast("double") /
          col("n_tokens").cast("double")).as("dup_ratio"))
      .orderBy("doc_id")
  }
  private val x32Sql =
    s"""WITH base AS (
       |  SELECT doc_id, string_split(text, ' ') AS w,
       |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
       |  FROM documents),
       |sh AS (
       |  SELECT doc_id, i - 1 AS start,
       |    array_to_string(w[i:i+${SpanK - 1}], ' ') AS g
       |  FROM base, unnest(generate_series(1, len(w) - ${SpanK - 1}))
       |    AS t(i)
       |  WHERE n_tokens >= $SpanK),
       |rep AS (
       |  SELECT g FROM sh GROUP BY g
       |  HAVING COUNT(DISTINCT doc_id) >= 2),
       |rs AS (SELECT doc_id, start FROM sh JOIN rep USING (g)),
       |cov AS (
       |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_rep_spans,
       |    CAST(SUM(contrib) AS BIGINT) AS covered_tokens
       |  FROM (
       |    SELECT doc_id, start,
       |      COALESCE(LEAST($SpanK,
       |        LEAD(start) OVER (PARTITION BY doc_id ORDER BY start)
       |          - start), $SpanK) AS contrib
       |    FROM rs)
       |  GROUP BY doc_id)
       |SELECT b.doc_id, b.n_tokens,
       |  COALESCE(n_rep_spans, 0) AS n_rep_spans,
       |  COALESCE(covered_tokens, 0) AS covered_tokens,
       |  CAST(COALESCE(covered_tokens, 0) AS DOUBLE)
       |    / CAST(b.n_tokens AS DOUBLE) AS dup_ratio
       |FROM base b LEFT JOIN cov USING (doc_id)
       |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------------
  // X33 — semantic dedup with survivor assignment (the SemDeDup shape:
  // cluster the embedding space first, then near-dup detect WITHIN each
  // cell and keep one representative). Differs from x10 (pair list) in
  // both partitioning and output: vectors are first assigned to a
  // fixed-size coarse codebook cell (x18's IVF idiom — 16 lowest ids,
  // broadcast-safe at any sf), candidates must share the cell AND a
  // sign-LSH sub-bucket (the skew guard that keeps a popular cell from
  // costing cell² pairs), and the output is the DROP decision: each
  // dropped vector with its cluster, its canonical keeper (min id
  // among ≥τ-cosine mates), and the best cosine that doomed it.
  //
  // Scale: codebook broadcast is O(16); assignment is one broadcast
  // fan-out folded straight back down by a map-side-combining min_by
  // HashAggregate (no per-vector sort window); the pair join is keyed
  // on (cluster, bucket) with the BucketCap guard — never all-pairs
  // within a cell. Planted ×1.001 scaled copies (cosine-preserving)
  // make recall provable. The codebook is a DETERMINISTIC PSEUDO-RANDOM
  // SAMPLE — top-16 by Knuth multiplicative hash of the id (portable
  // BIGINT arithmetic, identical in the oracle), not first-16-by-id,
  // so centroids spread across the corpus instead of one insert-order
  // corner; at 100 TB the swap is k ∝ √n centroids from the same
  // hash-order (still a distributed top-k, never a global sort) with
  // IvfProbes-cell assignment.
  // ---------------------------------------------------------------------
  private def x33(s: SparkSession, d: String): DataFrame = {
    val base = Tables.fanout(Tables.embeddings(s, d))
      .select(col("vec_id"),
        expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("emb"))
    val dups = base.filter(col("vec_id") % 10 === 0)
      .select((col("vec_id") + 1000000L).as("vec_id"),
        expr("transform(emb, x -> x * 1.001)").as("emb"))
    // The corpus feeds five consumers (codebook, assignment, bucket
    // index, both pair-join sides through them) — checkpoint once so
    // the fanout+transform+norm lineage computes once, exactly like
    // SemDeDup clusters a MATERIALIZED embedding store in practice.
    val corpus = base.unionByName(dups)
      .withColumn("norm", sqrt(DotProduct(col("emb"), col("emb"))))
      .cut(false)
    val cents = corpus
      .orderBy(((col("vec_id") % 2147483648L) * 2654435761L)
        % 1000000007L, col("vec_id"))
      .limit(IvfK)
      .select(col("vec_id").as("c_id"), col("emb").as("c_emb"),
        col("norm").as("c_norm"))
    val assigned = corpus.crossJoin(broadcast(cents))
      .withColumn("dist", lit(1.0) -
        DotProduct(col("emb"), col("c_emb")) /
          (col("norm") * col("c_norm")))
      .groupBy(col("vec_id"))
      .agg(min_by(struct(col("emb"), col("norm"), col("c_id")),
        struct(col("dist"), col("c_id"))).as("b"))
      .select(col("vec_id"), col("b.emb").as("emb"),
        col("b.norm").as("norm"), col("b.c_id").as("cluster"))
    // Plane count from corpus CARDINALITY, not a corpus rescan: the
    // unfiltered count is parquet-metadata-only and the dup count
    // scans a single pruned int column — the r4 form re-ran the whole
    // fanout+transform lineage just to count it.
    val nplanes = adaptivePlanes(Tables.embeddings(s, d).count() +
      Tables.embeddings(s, d).filter(col("vec_id") % 10 === 0).count())
    val vecs = signBucketsCapped(assigned, "emb", nplanes)
    val a = vecs.select(col("vec_id").as("keep_id"),
      col("emb").as("emb_a"), col("norm").as("norm_a"),
      col("cluster"), col("bucket"))
    val b = vecs.select(col("vec_id").as("drop_id"),
      col("emb").as("emb_b"), col("norm").as("norm_b"),
      col("cluster"), col("bucket"))
    a.join(b, Seq("cluster", "bucket"))
      .filter(col("keep_id") < col("drop_id"))
      .withColumn("cos", DotProduct(col("emb_a"), col("emb_b")) /
        (col("norm_a") * col("norm_b")))
      .filter(col("cos") >= 0.95)
      .groupBy(col("drop_id"), col("cluster"))
      .agg(min(col("keep_id")).as("keeper_id"),
        max(col("cos")).as("best_cos"))
      .orderBy("drop_id")
  }
  private def x33Sql: String =
    s"""WITH base AS (
       |  SELECT vec_id,
       |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
       |  FROM embeddings),
       |corpus AS (
       |  SELECT vec_id, emb FROM base
       |  UNION ALL
       |  SELECT vec_id + 1000000, list_transform(emb, x -> x * 1.001)
       |  FROM base WHERE vec_id % 10 = 0),
       |n AS (
       |  SELECT vec_id, emb,
       |    sqrt(${duckDot.format("emb", "emb")}) AS norm
       |  FROM corpus),
       |cents AS (
       |  SELECT vec_id AS c_id, emb AS c_emb, norm AS c_norm
       |  FROM n ORDER BY ((vec_id % 2147483648) * 2654435761)
       |    % 1000000007, vec_id
       |  LIMIT $IvfK),
       |assigned AS (
       |  SELECT vec_id, emb, norm, c_id AS cluster FROM (
       |    SELECT n.vec_id, n.emb, n.norm, c.c_id,
       |      ROW_NUMBER() OVER (PARTITION BY n.vec_id ORDER BY
       |        1.0 - ${duckDot.format("n.emb", "c.c_emb")}
       |          / (n.norm * c.c_norm), c.c_id) AS rk
       |    FROM n CROSS JOIN cents c) WHERE rk = 1),
       |planes AS (
       |  SELECT unnest(generate_series(0, ${duckPlanes("corpus")} - 1))
       |    AS p),
       |buckets AS (
       |  SELECT vec_id,
       |    SUM(CASE WHEN ${planeDot("emb", "p.p", 64, spark = false)} > 0
       |        THEN (CAST(1 AS BIGINT) << p.p) ELSE 0 END) AS bucket
       |  FROM assigned CROSS JOIN planes p
       |  GROUP BY 1),
       |vecs AS (
       |  SELECT a.*, b.bucket FROM assigned a JOIN buckets b
       |    USING (vec_id)
       |  QUALIFY COUNT(*) OVER (PARTITION BY b.bucket) <= $BucketCap)
       |SELECT b.vec_id AS drop_id, b.cluster,
       |  MIN(a.vec_id) AS keeper_id,
       |  MAX(${duckDot.format("a.emb", "b.emb")} / (a.norm * b.norm))
       |    AS best_cos
       |FROM vecs a JOIN vecs b
       |  ON a.cluster = b.cluster AND a.bucket = b.bucket
       |    AND a.vec_id < b.vec_id
       |WHERE ${duckDot.format("a.emb", "b.emb")} / (a.norm * b.norm)
       |  >= 0.95
       |GROUP BY 1, 2 ORDER BY drop_id""".stripMargin

  // ---------------------------------------------------------------------
  // ST10 — streaming near-dup dedup, batch form: the near-dup twin of
  // exact-key st05, closing the batch ≡ stream story for the whole
  // dedup family. Documents arrive as a stream (arrival second derived
  // deterministically from doc_id: original k at 2k, its planted dup
  // at 2k+1 — i.e. one second behind, the retry-shaped near-dup an
  // ingestion guard exists to catch); the streaming side
  // ([[graft.streaming.NearDupStream]]) holds banded-bucket member
  // state in flatMapGroupsWithState, evicted by a 600 s watermark.
  // This batch twin prices that design explicitly: per duplicate doc,
  // the earliest in-horizon partner the stream WOULD catch (dup_of),
  // how many verified partners were in horizon (n_caught), and how
  // many escaped because they sit further apart than the state horizon
  // (n_escaped — the late-dup trade, made a number). Same kernels as
  // x02 (one signature family, banded candidates, 12/16 verify) so the
  // stream can never drift from the batch family it guards.
  // Scale: sigPairs' banded join is the only wide exchange; everything
  // after is |verified pairs| rows. NearDupStreamSpec pins stream ≡
  // batch on the caught set and proves bucket-state eviction.
  // ---------------------------------------------------------------------
  private val St10HorizonSec = 600L
  private def st10(s: SparkSession, d: String): DataFrame = {
    def arr(c: Column): Column =
      when(c >= 1000000L, (c - 1000000L) * 2 + 1).otherwise(c * 2)
    val o = sigPairs(s, d).filter(col("sig_matches") >= NeardupMinSig)
      .withColumn("arr_a", arr(col("doc_a")))
      .withColumn("arr_b", arr(col("doc_b")))
      .select(
        when(col("arr_a") < col("arr_b"), col("doc_b"))
          .otherwise(col("doc_a")).as("doc_id"),
        when(col("arr_a") < col("arr_b"), col("doc_a"))
          .otherwise(col("doc_b")).as("early_id"),
        greatest(col("arr_a"), col("arr_b")).as("arrival_s"),
        abs(col("arr_b") - col("arr_a")).as("gap"))
    o.groupBy("doc_id", "arrival_s")
      .agg(
        min(when(col("gap") <= St10HorizonSec, col("early_id")))
          .as("dup_of"),
        count(when(col("gap") <= St10HorizonSec, lit(1)))
          .as("n_caught"),
        count(when(col("gap") > St10HorizonSec, lit(1)))
          .as("n_escaped"))
      .orderBy("doc_id")
  }
  private def st10Sql: String =
    s"""WITH $duckSigPairsCtes,
       |ver AS (SELECT doc_a, doc_b FROM sigm WHERE m >= $NeardupMinSig),
       |arr AS (
       |  SELECT doc_a, doc_b,
       |    CASE WHEN doc_a >= 1000000 THEN (doc_a - 1000000) * 2 + 1
       |         ELSE doc_a * 2 END AS arr_a,
       |    CASE WHEN doc_b >= 1000000 THEN (doc_b - 1000000) * 2 + 1
       |         ELSE doc_b * 2 END AS arr_b
       |  FROM ver),
       |o AS (
       |  SELECT CASE WHEN arr_a < arr_b THEN doc_b ELSE doc_a END
       |      AS doc_id,
       |    CASE WHEN arr_a < arr_b THEN doc_a ELSE doc_b END AS early_id,
       |    GREATEST(arr_a, arr_b) AS arrival_s,
       |    ABS(arr_b - arr_a) AS gap
       |  FROM arr)
       |SELECT doc_id, arrival_s,
       |  MIN(CASE WHEN gap <= $St10HorizonSec THEN early_id END)
       |    AS dup_of,
       |  CAST(COUNT(CASE WHEN gap <= $St10HorizonSec THEN 1 END)
       |    AS BIGINT) AS n_caught,
       |  CAST(COUNT(CASE WHEN gap > $St10HorizonSec THEN 1 END)
       |    AS BIGINT) AS n_escaped
       |FROM o GROUP BY 1, 2 ORDER BY doc_id""".stripMargin

  val all: Seq[QueryDef] = Seq(
    QueryDef("st10_neardup_dedup", Some(st10Sql), st10),
    QueryDef("x19_quantize_error", Some(x19Sql), x19),
    QueryDef("x53_jl_projection", Some(x53Sql), x53),
    QueryDef("x55_semantic_decontam", Some(x55Sql), x55),
    QueryDef("x32_substring_dedup", Some(x32Sql), x32),
    QueryDef("x33_semdedup", Some(x33Sql), x33),
    QueryDef("x14_decontamination", Some(x14Sql), x14),
    QueryDef("x44_ngram_decontam", Some(x44Sql), x44),
    QueryDef("x48_ngram_novelty", Some(x48Sql), x48),
    QueryDef("x49_source_overlap", Some(x49Sql), x49),
    QueryDef("x50_group_split", Some(x50Sql), x50),
    QueryDef("x11_dup_clusters", Some(x11Sql), x11),
    QueryDef("x101_cluster_weights", Some(x101Sql), x101),
    QueryDef("x102_incremental_cc", Some(x102Sql), x102),
    QueryDef("x01_dedup_exact", Some(x01Sql), x01),
    QueryDef("x51_minhash_error", Some(x51Sql), x51),
    QueryDef("x10_dedup_embedding", Some(x10Sql), x10),
    QueryDef("x02_dedup_minhash_lsh", Some(x02Sql), x02),
    QueryDef("x03_simhash16", Some(x03Sql), x03),
    QueryDef("x03_simhash_pairs", None, x03b),
    QueryDef("x106_simhash_contract", Some(x106Sql), x106),
    QueryDef("x107_tiered_compaction", Some(x107Sql), x107),
    QueryDef("x108_leveled_compaction", Some(x108Sql), x108),
    QueryDef("x109_geometric_schedule", Some(x109Sql), x109),
    QueryDef("x110_snapshot_cdc", Some(x110Sql), x110),
    QueryDef("w13_cdc_dedup_sync", Some(w13Sql), w13),
    QueryDef("x04_ngram_jaccard", Some(x04Sql), x04),
    QueryDef("x05_knn_cosine", Some(x05Sql), x05),
    QueryDef("x46_label_noise", Some(x46Sql), x46),
    QueryDef("x47_kmeans_step", Some(x47Sql), x47),
    QueryDef("x05_knn_lsh", Some(x05bSql), x05b),
    QueryDef("x18_knn_ivf", Some(x18Sql), x18),
    QueryDef("x79_ann_index_build", Some(x79Sql), x79),
    QueryDef("x82_incremental_dedup", Some(x82Sql), x82),
    QueryDef("w07_rag_funnel", Some(w07Sql), w07),
    QueryDef("w07b_rag_funnel_pq", Some(w07bSql), w07b),
    QueryDef("x93_funnel_recall", Some(x93Sql), x93),
    QueryDef("x93c_funnel_pq_recall", Some(x93cSql), x93c),
    QueryDef("x94_dedup_eval", Some(x94Sql), x94),
    QueryDef("w08_nightly_ingest", Some(w08Sql), w08),
    QueryDef("x86_hubness", Some(x86Sql), x86),
    QueryDef("x87_centroid_drift", Some(x87Sql), x87),
    QueryDef("x83_maxsim_rerank", Some(x83Sql), x83),
    QueryDef("x56_lsh_banding", Some(x56Sql), x56),
    QueryDef("x57_contam_spans", Some(x57Sql), x57),
    QueryDef("x58_pq_codes", Some(x58Sql), x58),
    QueryDef("x95_pq_adc_serve", Some(x95Sql), x95),
    QueryDef("x97_ivfpq_serve", Some(x97Sql), x97),
    QueryDef("x103_adaptive_probes", Some(x103Sql), x103),
    QueryDef("x104_pq_refine", Some(x104Sql), x104),
    QueryDef("w10_pq_lifecycle", Some(w10Sql), w10),
    QueryDef("w11_minhash_lifecycle", Some(w11Sql), w11),
    QueryDef("x105_compaction_policy", Some(x105Sql), x105),
    QueryDef("w12_online_funnel", Some(w12Sql), w12),
    QueryDef("x93b_funnel_sweep", Some(x93bSql), x93b),
    QueryDef("x60_ann_recall", Some(x60Sql), x60),
    QueryDef("w06_dedup_cascade", Some(w06Sql), w06),
    QueryDef("x62_hard_negatives", Some(x62Sql), x62),
    QueryDef("x63_diverse_sample", Some(x63Sql), x63),
    QueryDef("x71_kmv_overlap", Some(x71Sql), x71),
    QueryDef("x73_rrf_fusion", Some(x73Sql), x73),
    QueryDef("x75_context_budget", Some(x75Sql), x75)
  )
}
