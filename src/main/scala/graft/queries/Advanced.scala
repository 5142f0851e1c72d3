package graft.queries

import graft.{QueryDef, Tables}
import graft.Num._
import graft.etl.Checkpoints.CutOps
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Advanced SQL-surface operators beyond the reference's corpus.
  *
  * The reference's analytics (validation.sql) stop at GROUP BY + ORDER
  * BY + LIMIT; a user migrating real report workloads onto this engine
  * also needs the standard analytic-SQL toolbox — grouping sets, set
  * operations, semi/anti EXISTS rewrites, ranking windows, correlated
  * aggregates, running totals. Each is expressed as the Spark plan
  * you'd want at 100 TB (partial aggregation, keyed shuffles only, no
  * driver-side collection) with a DuckDB-oracle-exact result.
  */
object Advanced {

  // ---------------------------------------------------------------------
  // Q19 — GROUPING SETS: one Expand → partial-agg pass serves four
  // report grains ((year,status), (year), (status), ()) that would
  // otherwise be four scans. Same plan family as q16's ROLLUP but with
  // an explicit, non-hierarchical grain list — the general form. The
  // grouped-out marker is GROUPING(), not NULL-ness, so the labeling
  // is correct even if a base column were nullable.
  // ---------------------------------------------------------------------
  private def q19(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d)
      .withColumn("order_year", year(col("o_orderdate")).cast("string"))
      .withColumn("status", col("o_orderstatus"))
    o.groupingSets(
        Seq(Seq(col("order_year"), col("status")), Seq(col("order_year")),
          Seq(col("status")), Seq.empty),
        col("order_year"), col("status"))
      .agg(dsum(col("o_totalprice")).as("total"), count(lit(1)).as("n"),
        grouping(col("order_year")).as("g_year"),
        grouping(col("status")).as("g_status"))
      .select(
        when(col("g_year") === 1, lit("ALL")).otherwise(col("order_year"))
          .as("order_year"),
        when(col("g_status") === 1, lit("ALL")).otherwise(col("status"))
          .as("status"),
        col("total"), col("n"), col("g_year"), col("g_status"))
      .orderBy("g_year", "g_status", "order_year", "status")
  }
  private val q19Sql =
    s"""SELECT
       |  CASE WHEN GROUPING(order_year) = 1 THEN 'ALL' ELSE order_year END
       |    AS order_year,
       |  CASE WHEN GROUPING(status) = 1 THEN 'ALL' ELSE status END
       |    AS status,
       |  ${sqlDsum("o_totalprice")} AS total, COUNT(*) AS n,
       |  GROUPING(order_year) AS g_year, GROUPING(status) AS g_status
       |FROM (SELECT CAST(EXTRACT(year FROM o_orderdate) AS VARCHAR)
       |        AS order_year, o_orderstatus AS status, o_totalprice
       |      FROM orders)
       |GROUP BY GROUPING SETS ((order_year, status), (order_year),
       |                        (status), ())
       |ORDER BY g_year, g_status, order_year, status""".stripMargin

  // ---------------------------------------------------------------------
  // Q20 — set operations: INTERSECT / EXCEPT between customer key sets
  // (urgent-priority buyers vs low-priority buyers). Spark plans both
  // as a single hash shuffle on the key with partial distinct on the
  // map side — the same shape as a distinct groupBy join; no pairwise
  // work, survives any scale. (The reference only ever uses UNION ALL,
  // validation.sql:22-41.)
  // ---------------------------------------------------------------------
  private def q20(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d)
    def buyers(prio: String) =
      o.filter(col("o_orderpriority") === prio).select(col("o_custkey"))
    val urgent = buyers("1-URGENT"); val low = buyers("5-LOW")
    val both = urgent.intersect(low)
      .select(lit("both").as("op"), col("o_custkey"))
    val urgentOnly = urgent.except(low)
      .select(lit("urgent_only").as("op"), col("o_custkey"))
    both.unionByName(urgentOnly).orderBy("op", "o_custkey")
  }
  private val q20Sql =
    """SELECT * FROM (
      |  SELECT 'both' AS op, o_custkey FROM (
      |    SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
      |    INTERSECT
      |    SELECT o_custkey FROM orders WHERE o_orderpriority = '5-LOW')
      |  UNION ALL
      |  SELECT 'urgent_only', o_custkey FROM (
      |    SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
      |    EXCEPT
      |    SELECT o_custkey FROM orders WHERE o_orderpriority = '5-LOW')
      |) ORDER BY op, o_custkey""".stripMargin

  // ---------------------------------------------------------------------
  // Q21 — EXISTS / NOT EXISTS as semi/anti joins, aggregated per
  // segment: how many customers have at least one big order, and how
  // many have none. The two probes share one scan of orders each and
  // shuffle on the customer key only — the EXISTS never materializes
  // matching pairs (left_semi stops at first match). The big-order
  // threshold prunes the probe side at the parquet scan.
  // ---------------------------------------------------------------------
  private def q21(s: SparkSession, d: String): DataFrame = {
    val c = Tables.customer(s, d)
    val big = Tables.orders(s, d).filter(col("o_totalprice") > 300000)
      .select(col("o_custkey"))
    val withBig = c.join(big, c("c_custkey") === big("o_custkey"),
        "left_semi")
      .groupBy("c_mktsegment").agg(count(lit(1)).as("n_with_big_order"))
    val withoutBig = c.join(big, c("c_custkey") === big("o_custkey"),
        "left_anti")
      .groupBy("c_mktsegment").agg(count(lit(1)).as("n_without"))
    withBig.join(withoutBig, Seq("c_mktsegment"), "full_outer")
      .select(col("c_mktsegment"),
        coalesce(col("n_with_big_order"), lit(0L)).as("n_with_big_order"),
        coalesce(col("n_without"), lit(0L)).as("n_without"))
      .orderBy("c_mktsegment")
  }
  private val q21Sql =
    """WITH w AS (
      |  SELECT c_mktsegment, COUNT(*) AS n_with_big_order FROM customer c
      |  WHERE EXISTS (SELECT 1 FROM orders o
      |                WHERE o.o_custkey = c.c_custkey
      |                  AND o.o_totalprice > 300000)
      |  GROUP BY 1),
      |wo AS (
      |  SELECT c_mktsegment, COUNT(*) AS n_without FROM customer c
      |  WHERE NOT EXISTS (SELECT 1 FROM orders o
      |                    WHERE o.o_custkey = c.c_custkey
      |                      AND o.o_totalprice > 300000)
      |  GROUP BY 1)
      |SELECT COALESCE(w.c_mktsegment, wo.c_mktsegment) AS c_mktsegment,
      |       COALESCE(n_with_big_order, 0) AS n_with_big_order,
      |       COALESCE(n_without, 0) AS n_without
      |FROM w FULL OUTER JOIN wo ON w.c_mktsegment = wo.c_mktsegment
      |ORDER BY c_mktsegment""".stripMargin

  // ---------------------------------------------------------------------
  // Q22 — NTILE quartiles of customer balance per market segment, with
  // per-quartile stats. The window sorts WITHIN each segment partition
  // (no global sort); ties are broken by the key so the tile
  // assignment — and therefore the result — is deterministic under any
  // partitioning in both engines.
  // ---------------------------------------------------------------------
  private def q22(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("c_mktsegment")
      .orderBy(col("c_acctbal"), col("c_custkey"))
    Tables.customer(s, d)
      .select(col("c_mktsegment"), col("c_acctbal"),
        ntile(4).over(w).as("quartile"))
      .groupBy("c_mktsegment", "quartile")
      .agg(count(lit(1)).as("n"), min("c_acctbal").as("min_bal"),
        max("c_acctbal").as("max_bal"))
      .orderBy("c_mktsegment", "quartile")
  }
  private val q22Sql =
    """SELECT c_mktsegment, quartile, COUNT(*) AS n,
      |       MIN(c_acctbal) AS min_bal, MAX(c_acctbal) AS max_bal
      |FROM (SELECT c_mktsegment, c_acctbal,
      |        NTILE(4) OVER (PARTITION BY c_mktsegment
      |                       ORDER BY c_acctbal, c_custkey) AS quartile
      |      FROM customer)
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // ---------------------------------------------------------------------
  // Q23 — correlated aggregate: orders priced above their own
  // customer's average order price. The correlated scalar subquery a
  // SQL user writes decorrelates into a per-customer window average —
  // ONE shuffle on the customer key, no join back, no re-scan. The
  // average divides an exact decimal sum by the count, so Spark and
  // the oracle agree bit-for-bit.
  // ---------------------------------------------------------------------
  private def q23(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("o_custkey")
    val o = Tables.orders(s, d)
      .withColumn("cust_avg",
        sum(col("o_totalprice").cast("decimal(28,6)")).over(w)
          .cast("double") / count(lit(1)).over(w))
    o.groupBy("o_custkey")
      .agg(count(lit(1)).as("n_orders"),
        sum(when(col("o_totalprice") > col("cust_avg"), 1L)
          .otherwise(0L)).as("n_above_avg"))
      .orderBy("o_custkey")
  }
  private val q23Sql =
    """SELECT o_custkey, COUNT(*) AS n_orders,
      |  CAST(SUM(CASE WHEN o_totalprice > cust_avg THEN 1 ELSE 0 END)
      |    AS BIGINT) AS n_above_avg
      |FROM (SELECT o_custkey, o_totalprice,
      |        CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(28,6)))
      |               OVER (PARTITION BY o_custkey) AS VARCHAR) AS DOUBLE)
      |          / COUNT(*) OVER (PARTITION BY o_custkey) AS cust_avg
      |      FROM orders)
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------------
  // Q24 — argmax profile: each user's single largest event (max_by /
  // arg_max semantics) via a ranking window with a total tie-break
  // order, so the winner is deterministic in both engines. One window
  // shuffle on user_id; at 100 TB this is the standard "latest/top
  // record per key" pattern (same plan as SCD current-row extraction).
  // ---------------------------------------------------------------------
  private def q24(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("user_id")
      .orderBy(col("value").desc, col("event_id"))
    Tables.events(s, d)
      .select(col("user_id"), col("event_type"), col("value"),
        row_number().over(w).as("rn"))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("event_type").as("top_type"),
        col("value").as("top_value"))
      .orderBy("user_id")
  }
  private val q24Sql =
    """SELECT user_id, event_type AS top_type, value AS top_value
      |FROM (SELECT user_id, event_type, value,
      |        ROW_NUMBER() OVER (PARTITION BY user_id
      |                           ORDER BY value DESC, event_id) AS rn
      |      FROM events)
      |WHERE rn = 1 ORDER BY user_id""".stripMargin

  // ---------------------------------------------------------------------
  // A10 — running total (cumulative spend per customer over time). The
  // frame is UNBOUNDED PRECEDING..CURRENT ROW over (date, key) — a
  // per-customer sort inside one keyed shuffle, never a global sort.
  // The cumulative sum accumulates decimals (exact under any merge
  // order) and casts once on output.
  // ---------------------------------------------------------------------
  private def a10(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("o_custkey")
      .orderBy(col("o_orderdate"), col("o_orderkey"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.orders(s, d)
      .select(col("o_custkey"), col("o_orderkey"),
        to_date(col("o_orderdate")).as("order_day"),
        sum(col("o_totalprice").cast("decimal(28,6)")).over(w)
          .cast("double").as("running_spend"))
      .orderBy("o_custkey", "order_day", "o_orderkey")
  }
  private val a10Sql =
    """SELECT o_custkey, o_orderkey, CAST(o_orderdate AS DATE) AS order_day,
      |  CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(28,6)))
      |         OVER (PARTITION BY o_custkey
      |               ORDER BY o_orderdate, o_orderkey
      |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |       AS VARCHAR) AS DOUBLE) AS running_spend
      |FROM orders ORDER BY o_custkey, order_day, o_orderkey""".stripMargin

  // ---------------------------------------------------------------------
  // J8 — skew-salted aggregation through the oracle gate: the events
  // table has only a handful of event_type keys (extreme key skew — at
  // 100 TB a plain groupBy funnels the whole table through ~5
  // reducers). Skew.saltedAggregate spreads each hot key over 32
  // (key, salt) partial groups first, then finalizes per key; the
  // oracle is the PLAIN group-by, proving the two-phase rewrite is
  // value-exact (sums accumulate decimals, so merge order is moot).
  // ---------------------------------------------------------------------
  private def j08(s: SparkSession, d: String): DataFrame = {
    import graft.etl.Skew
    val ev = Tables.events(s, d)
    Skew.saltedAggregate(ev, Seq(col("event_type")), 32,
        partial = Seq(
          sum(col("value").cast("decimal(28,6)")).as("s"),
          count(lit(1)).as("c")),
        merge = Seq(sum(col("s")).as("sd"), sum(col("c")).as("n")))
      .select(col("event_type"),
        col("sd").cast("double").as("total_value"), col("n"),
        (col("sd").cast("double") / col("n")).as("avg_value"))
      .orderBy("event_type")
  }
  private val j08Sql =
    s"""SELECT event_type, ${sqlDsum("value")} AS total_value,
       |  COUNT(*) AS n, ${sqlDsum("value")} / COUNT(*) AS avg_value
       |FROM events GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------------
  // X25 — incremental corpus dedup: dedup an incoming document batch
  // against an already-ingested corpus (the every-night case for a
  // training-data pipeline — the corpus is huge, the batch is small).
  // Exact content hash (md5) keyed: within-batch survivors via one
  // window, cross-corpus novelty via one anti-join — both shuffle on
  // the hash key only. NO broadcast hint: the corpus side grows
  // without bound; AQE picks the strategy while the batch is small.
  // ---------------------------------------------------------------------
  private def x25(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val corpus = docs.filter(col("doc_id") % 10 =!= 9)
      .select(md5(col("text")).as("h")).distinct()
    val batch = docs.filter(col("doc_id") % 10 === 9)
      .select(col("doc_id"), md5(col("text")).as("h"))
    val w = Window.partitionBy("h").orderBy("doc_id")
    val batchSurvivors = batch
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
    batchSurvivors.join(corpus, Seq("h"), "left_anti")
      .select(col("doc_id"), col("h").as("fingerprint"))
      .orderBy("doc_id")
  }
  private val x25Sql =
    """WITH corpus AS (
      |  SELECT DISTINCT md5(text) AS h FROM documents
      |  WHERE doc_id % 10 <> 9),
      |batch AS (
      |  SELECT doc_id, md5(text) AS h FROM documents WHERE doc_id % 10 = 9),
      |ranked AS (
      |  SELECT doc_id, h,
      |         ROW_NUMBER() OVER (PARTITION BY h ORDER BY doc_id) AS rn
      |  FROM batch)
      |SELECT doc_id, h AS fingerprint FROM ranked r
      |WHERE rn = 1
      |  AND NOT EXISTS (SELECT 1 FROM corpus c WHERE c.h = r.h)
      |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------------
  // Q25 — JSON scalar extraction: events.props is a JSON string column
  // (the reference keeps blobs as plain strings — §2.5 lists JSON
  // functions as a capability it lacks). `get_json_object` is a
  // codegen'd row expression, so extraction stays inside the scan's
  // whole-stage-codegen span and the only shuffle is the final keyed
  // aggregate. At 100 TB this is the "parse a payload column once,
  // aggregate typed fields" pattern — no UDF, no re-scan.
  // ---------------------------------------------------------------------
  private def q25(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
      .withColumn("k", get_json_object(col("props"), "$.k").cast("int"))
    ev.groupBy("event_type")
      .agg(count(col("k")).as("n"), sum(col("k")).as("sum_k"),
        min(col("k")).as("min_k"), max(col("k")).as("max_k"),
        sum(when(col("k") < 50, 1L).otherwise(0L)).as("n_small"))
      .withColumn("avg_k",
        col("sum_k").cast("double") / col("n"))
      .orderBy("event_type")
  }
  private val q25Sql =
    """SELECT event_type, COUNT(k) AS n, CAST(SUM(k) AS BIGINT) AS sum_k,
      |  MIN(k) AS min_k, MAX(k) AS max_k,
      |  CAST(SUM(CASE WHEN k < 50 THEN 1 ELSE 0 END) AS BIGINT) AS n_small,
      |  CAST(SUM(k) AS DOUBLE) / COUNT(k) AS avg_k
      |FROM (SELECT event_type,
      |        CAST(json_extract_string(props, '$.k') AS INTEGER) AS k
      |      FROM events)
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------------
  // Q26 — sketch-based distinct counting (HLL++): the 100 TB scale path
  // for COUNT(DISTINCT). Exact distinct shuffles every distinct key;
  // approx_count_distinct merges fixed-size HLL sketches map-side, so
  // the shuffle is O(sketch × groups) no matter how many keys. No SQL
  // oracle — DuckDB's HLL implementation differs — so this is a
  // rows-only driver check; ScalePathsSpec pins the ≤5% error bound
  // against the exact count.
  // ---------------------------------------------------------------------
  private def q26(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d)
    o.groupBy(col("o_orderpriority"))
      .agg(approx_count_distinct(col("o_custkey"), 0.01)
          .as("approx_buyers"),
        count(lit(1)).as("n_orders"))
      .orderBy("o_orderpriority")
  }

  // ---------------------------------------------------------------------
  // Q26b — q26's exact twin: plain COUNT(DISTINCT) over the same
  // grouping, value-checkable against the DuckDB oracle (the HLL column
  // itself can't be — sketch implementations differ across engines).
  // Shipping both makes the trade auditable from the round log: exact
  // distinct shuffles every distinct (priority, custkey) pair, the
  // sketch shuffles fixed-size state per group; ScalePathsSpec pins the
  // sketch within its error bound of THIS query's numbers.
  // ---------------------------------------------------------------------
  private def q26b(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d)
    o.groupBy(col("o_orderpriority"))
      .agg(countDistinct(col("o_custkey")).as("exact_buyers"),
        count(lit(1)).as("n_orders"))
      .orderBy("o_orderpriority")
  }
  private val q26bSql =
    """SELECT o_orderpriority,
      |  COUNT(DISTINCT o_custkey) AS exact_buyers,
      |  COUNT(*) AS n_orders
      |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------------
  // Q26c — the sketch ERROR CONTRACT as a driver-gate row: emits
  // whether |approx − exact| ≤ 5%·exact per group, with the oracle
  // asserting TRUE. This turns q26's "rows-only by design" into a
  // hash-checked bound — if the HLL estimate ever drifts outside its
  // contract, the gate (not just ScalePathsSpec) goes red.
  // ---------------------------------------------------------------------
  private def q26c(s: SparkSession, d: String): DataFrame = {
    // approx and exact run as SEPARATE aggregations joined on the
    // 5-row grain: mixing them in one agg makes Spark carry the full
    // HLL register array (1,639 longs at rsd 0.01) per DISTINCT
    // (priority, custkey) pair through the distinct-expand — a
    // 1,641-column intermediate measured at 4.4 s vs the 5-row join's
    // sub-second (plans audited via the formatted physical plan).
    val o = Tables.orders(s, d)
    val approx = o.groupBy(col("o_orderpriority"))
      .agg(approx_count_distinct(col("o_custkey"), 0.01).as("approx"))
    val exact = o.groupBy(col("o_orderpriority"))
      .agg(countDistinct(col("o_custkey")).as("exact_buyers"))
    approx.join(exact, Seq("o_orderpriority"))
      .select(col("o_orderpriority"), col("exact_buyers"),
        (abs(col("approx") - col("exact_buyers")).cast("double") <=
          col("exact_buyers").cast("double") * 0.05).as("within_bound"))
      .orderBy("o_orderpriority")
  }
  private val q26cSql =
    """SELECT o_orderpriority,
      |  COUNT(DISTINCT o_custkey) AS exact_buyers,
      |  TRUE AS within_bound
      |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------------
  // Q27 — NULL-aware NOT IN anti-join. `NOT IN (subquery)` is NOT the
  // plain anti-join: one NULL in the subquery empties the result, and a
  // NULL probe never qualifies — semantics Spark implements with a
  // dedicated null-aware anti-join physical strategy when the subquery
  // side broadcasts. This keeps orders whose customer is not in the
  // negative-balance set. At 100 TB the subquery side here is the
  // filtered minority (broadcastable); if it ever weren't, the rewrite
  // is: prove the subquery column NOT NULL, then plan a plain shuffled
  // LEFT ANTI — same result, hash-joinable. Expressed via spark.sql
  // because only the SQL form reaches the null-aware planning path.
  // ---------------------------------------------------------------------
  private def q27(s: SparkSession, d: String): DataFrame = {
    Tables.orders(s, d).createOrReplaceTempView("graft_q27_orders")
    Tables.customer(s, d).createOrReplaceTempView("graft_q27_customer")
    s.sql(
      """SELECT o_orderpriority, COUNT(*) AS n_orders
        |FROM graft_q27_orders
        |WHERE o_custkey NOT IN (SELECT c_custkey FROM graft_q27_customer
        |                        WHERE c_acctbal < 0)
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin)
  }
  private val q27Sql =
    """SELECT o_orderpriority, COUNT(*) AS n_orders
      |FROM orders
      |WHERE o_custkey NOT IN (SELECT c_custkey FROM customer
      |                        WHERE c_acctbal < 0)
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------------
  // X26 — deterministic epoch shuffle: a seeded global permutation of
  // the training corpus (each epoch reshuffles with a new seed, every
  // rerun of the same seed reproduces the same order — required for
  // resumable training and debugging loss spikes). The permutation key
  // is an explicit integer mix expressible in both engines (Knuth
  // multiplicative + seeded offset, mod 2^32). doc_id is masked to
  // 31 bits BEFORE the multiply so the product stays inside BIGINT in
  // every engine — Spark would silently wrap on Long overflow while
  // DuckDB promotes to HUGEINT (or errors), so an unmasked mix
  // diverges once doc_id is large; masked, both engines compute the
  // identical value at any scale. Positions are minted by
  // EntityResolution.mintKeys' two-phase range-partition+zipWithIndex —
  // a real distributed sort, NEVER a single-partition row_number
  // window. One range shuffle at any scale; shard-count independent.
  // ---------------------------------------------------------------------
  private val ShuffleSeed = 1L

  private def x26(s: SparkSession, d: String): DataFrame = {
    val keyed = Tables.documents(s, d).select(col("doc_id"),
      (((col("doc_id") % 2147483648L) * 2654435761L +
        lit(ShuffleSeed) * 2246822519L)
        % 4294967296L).as("shuffle_key"))
    graft.etl.EntityResolution
      .mintKeys(keyed, "pos", col("shuffle_key"), col("doc_id"))
      .select(col("pos"), col("doc_id"), col("shuffle_key"))
      .orderBy("pos")
  }
  private val x26Sql =
    s"""SELECT ROW_NUMBER() OVER (ORDER BY shuffle_key, doc_id) AS pos,
       |  doc_id, shuffle_key
       |FROM (SELECT doc_id,
       |        ((doc_id % 2147483648) * 2654435761
       |          + $ShuffleSeed * 2246822519)
       |          % 4294967296 AS shuffle_key
       |      FROM documents)
       |ORDER BY pos""".stripMargin

  // ---------------------------------------------------------------------
  // A11 — top-k per key via the bounded-heap aggregator: q24's "top
  // record per key" generalized to k=3, computed WITHOUT the window
  // shuffle-everything-and-sort plan. functions.TopKPerKey prunes to
  // ≤k rows per key inside each map partition's hash aggregate, so the
  // one shuffle carries k×keys×partitions rows — at 100 TB that is the
  // difference between exchanging the fact table and exchanging a few
  // rows per key. The oracle is the plain ROW_NUMBER()<=k window SQL,
  // proving the rewrite row-exact (total order: value desc, id asc).
  // ---------------------------------------------------------------------
  private def a11(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import graft.functions.{Scored, TopKPerKey}
    val ds = Tables.events(s, d)
      .select(col("user_id"), col("value"), col("event_id"))
      .as[(Long, Double, Long)]
    ds.groupByKey(_._1)
      .mapValues { case (_, v, id) => Scored(v, id) }
      .agg(new TopKPerKey(3).toColumn.name("top"))
      .flatMap { case (u, arr) =>
        arr.iterator.zipWithIndex.map { case (sc, i) =>
          (u, (i + 1).toLong, sc.value, sc.id)
        }
      }
      .toDF("user_id", "rank", "value", "event_id")
      .orderBy("user_id", "rank")
  }
  private val a11Sql =
    """SELECT user_id, rn AS rank, value, event_id
      |FROM (SELECT user_id, event_id, value,
      |        ROW_NUMBER() OVER (PARTITION BY user_id
      |                           ORDER BY value DESC, event_id) AS rn
      |      FROM events)
      |WHERE rn <= 3 ORDER BY user_id, rank""".stripMargin

  // ---------------------------------------------------------------------
  // A12 — RANGE-frame trailing window: per-customer 7-day trailing
  // spend, where the frame is defined by VALUE distance (day number),
  // not row count. Distinct from a08's ROWS frame: with sparse order
  // days, ROWS BETWEEN 6 PRECEDING spans ~7 orders regardless of date;
  // RANGE BETWEEN 6 PRECEDING spans exactly the last 7 calendar days.
  // Same single keyed shuffle; the range frame is evaluated by a
  // sliding-bound scan within each sorted partition.
  // ---------------------------------------------------------------------
  private def a12(s: SparkSession, d: String): DataFrame = {
    val epoch = lit("1970-01-01").cast(org.apache.spark.sql.types.DateType)
    val o = Tables.orders(s, d).select(col("o_custkey"),
      datediff(col("o_orderdate"), epoch).cast("long").as("day_num"),
      col("o_totalprice"))
    // pre-aggregate to (customer, day) grain first: the window then
    // slides over bounded day rows, and ties within a day can't make
    // the frame sum ambiguous
    val daily = o.groupBy("o_custkey", "day_num")
      .agg(sum(col("o_totalprice").cast("decimal(28,6)")).as("day_spend"))
    val w = Window.partitionBy("o_custkey").orderBy(col("day_num"))
      .rangeBetween(-6, Window.currentRow)
    daily.select(col("o_custkey"), col("day_num"),
        col("day_spend").cast("double").as("day_spend"),
        sum(col("day_spend")).over(w).cast("double").as("trailing_7d"))
      .orderBy("o_custkey", "day_num")
  }
  private val a12Sql =
    """WITH daily AS (
      |  SELECT o_custkey,
      |    CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT)
      |      AS day_num,
      |    SUM(CAST(o_totalprice AS DECIMAL(28,6))) AS day_spend
      |  FROM orders GROUP BY 1, 2)
      |SELECT o_custkey, day_num, CAST(day_spend AS DOUBLE) AS day_spend,
      |  CAST(SUM(day_spend) OVER (PARTITION BY o_custkey ORDER BY day_num
      |         RANGE BETWEEN 6 PRECEDING AND CURRENT ROW) AS DOUBLE)
      |    AS trailing_7d
      |FROM daily ORDER BY o_custkey, day_num""".stripMargin

  // ---------------------------------------------------------------------
  // A13 — forward fill (last-non-null carry): sensor-style sparse
  // readings propagated forward per user in event-time order. Spark's
  // `last(_, ignoreNulls)` over an unbounded-preceding frame ≡ SQL
  // LAST_VALUE(x IGNORE NULLS) — one keyed shuffle, one sort per
  // partition, the standard time-series densification step. Nulls are
  // planted deterministically (event_id % 3 = 0) so both engines agree
  // on exactly which readings are missing.
  // ---------------------------------------------------------------------
  private def a13(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d).select(col("user_id"), col("event_id"),
      unix_micros(col("ts")).as("tus"),
      when(col("event_id") % 3 =!= 0, col("value")).as("reading"))
    val w = Window.partitionBy("user_id").orderBy(col("tus"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ev.select(col("user_id"), col("event_id"), col("tus"), col("reading"),
        last(col("reading"), ignoreNulls = true).over(w).as("filled"))
      .orderBy("user_id", "tus", "event_id")
  }
  private val a13Sql =
    """SELECT user_id, event_id, tus, reading,
      |  LAST_VALUE(reading IGNORE NULLS) OVER (PARTITION BY user_id
      |    ORDER BY tus, event_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled
      |FROM (SELECT user_id, event_id, epoch_us(ts) AS tus,
      |        CASE WHEN event_id % 3 <> 0 THEN value END AS reading
      |      FROM events)
      |ORDER BY user_id, tus, event_id""".stripMargin

  // ---------------------------------------------------------------------
  // X27 — corpus-statistics fluency score: rate each document by the
  // average corpus frequency of its bigrams (the integer-exact core of
  // a KenLM-style LM filter — rare-bigram docs are gibberish/boilerplate
  // candidates, a standard pretraining quality signal). Two passes over
  // one exploded bigram relation: corpus counts (shuffle on the bigram
  // key — vocabulary-sized), then a self-join on the same key and a
  // per-doc aggregate. NO broadcast hint: the vocabulary grows with the
  // corpus. Scoring is an integer sum divided once at the end, so both
  // engines agree bit-for-bit (no per-row float log-probs to drift).
  // ---------------------------------------------------------------------
  private def x27(s: SparkSession, d: String): DataFrame = {
    val bi = Tables.documents(s, d)
      .select(col("doc_id"), split(col("text"), " ").as("w"))
      .filter(size(col("w")) >= 2)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(0, size(w) - 2), i -> concat(w[i], ' ', w[i + 1]))"))
        .as("bigram"))
    val counts = bi.groupBy("bigram").agg(count(lit(1)).as("c"))
    bi.join(counts, Seq("bigram"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        (sum(col("c")).cast("double") / count(lit(1)))
          .as("avg_bigram_freq"))
      .orderBy("doc_id")
  }
  private val x27Sql =
    """WITH toks AS (
      |  SELECT doc_id, string_split(text, ' ') AS w FROM documents
      |  WHERE len(string_split(text, ' ')) >= 2),
      |bi AS (
      |  SELECT doc_id,
      |    unnest(list_transform(generate_series(1, len(w) - 1),
      |      i -> concat(w[i], ' ', w[i + 1]))) AS bigram
      |  FROM toks),
      |cnt AS (SELECT bigram, COUNT(*) AS c FROM bi GROUP BY 1)
      |SELECT doc_id, COUNT(*) AS n_bigrams,
      |  CAST(SUM(c) AS DOUBLE) / COUNT(*) AS avg_bigram_freq
      |FROM bi JOIN cnt USING (bigram)
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------------
  // X28 — snapshot diff: added/removed/changed between two corpus
  // snapshots (nightly-crawl delta computation — the PRODUCING side of
  // CDC, whose applying side is streaming.CdcMerge). One full-outer
  // join on the document key; change detection compares content
  // fingerprints, not full text, so the shuffle carries (key, hash)
  // pairs — at 100 TB the text columns are pruned from both scans.
  // Unchanged rows are dropped from the output (the overwhelming
  // majority at scale — a diff that shipped them would be a copy).
  // Snapshots are carved deterministically from the documents table so
  // the oracle sees the identical inputs.
  // ---------------------------------------------------------------------
  private def x28(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val old = docs.filter(col("doc_id") % 10 =!= 7)
      .select(col("doc_id"), md5(col("text")).as("old_h"))
    val nw = docs.filter(col("doc_id") % 10 =!= 3)
      .select(col("doc_id"), md5(
        when(col("doc_id") % 5 === 0, concat(col("text"), lit(" v2")))
          .otherwise(col("text"))).as("new_h"))
    old.join(nw, Seq("doc_id"), "full_outer")
      .withColumn("status",
        when(col("old_h").isNull, "added")
          .when(col("new_h").isNull, "removed")
          .when(col("old_h") =!= col("new_h"), "changed"))
      .filter(col("status").isNotNull)
      .select("doc_id", "status")
      .orderBy("doc_id")
  }
  private val x28Sql =
    """WITH old AS (
      |  SELECT doc_id, md5(text) AS old_h FROM documents
      |  WHERE doc_id % 10 <> 7),
      |nw AS (
      |  SELECT doc_id, md5(CASE WHEN doc_id % 5 = 0
      |                          THEN concat(text, ' v2')
      |                          ELSE text END) AS new_h
      |  FROM documents WHERE doc_id % 10 <> 3)
      |SELECT COALESCE(old.doc_id, nw.doc_id) AS doc_id,
      |  CASE WHEN old_h IS NULL THEN 'added'
      |       WHEN new_h IS NULL THEN 'removed'
      |       WHEN old_h <> new_h THEN 'changed' END AS status
      |FROM old FULL OUTER JOIN nw ON old.doc_id = nw.doc_id
      |WHERE (CASE WHEN old_h IS NULL THEN 'added'
      |            WHEN new_h IS NULL THEN 'removed'
      |            WHEN old_h <> new_h THEN 'changed' END) IS NOT NULL
      |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------------
  // J9 — bloom-pruned selective join through the oracle gate: revenue
  // for a ~20% supplier slice (every 5th key — deterministic and
  // non-empty at every scale factor, unlike a nation predicate that a
  // 10-row sf0.001 supplier table can miss entirely). etl.BloomPrune
  // filters the fact side BEFORE its join shuffle with an ~KB bitset
  // built from the key side — at 100 TB the exchange carries the
  // matching slice instead of the whole fact table. The oracle is the
  // PLAIN join SQL: false positives only add rows the exact join then
  // drops, so the pruned plan must produce the identical result —
  // which is exactly what this query proves.
  // ---------------------------------------------------------------------
  private def j09(s: SparkSession, d: String): DataFrame = {
    val keys = Tables.supplier(s, d)
      .filter(col("s_suppkey") % 5 === 0).select(col("s_suppkey"))
    val expected = math.max(1L, keys.count())
    val fact = Tables.lineitem(s, d)
      .select(col("l_suppkey"), col("l_extendedprice"))
    val pruned = graft.etl.BloomPrune.prune(
      fact, "l_suppkey", keys, "s_suppkey", expected)
    pruned.join(keys, pruned("l_suppkey") === keys("s_suppkey"))
      .groupBy("l_suppkey")
      .agg(count(lit(1)).as("n_items"),
        dsum(col("l_extendedprice")).as("revenue"))
      .orderBy("l_suppkey")
  }
  private val j09Sql =
    s"""SELECT l_suppkey, COUNT(*) AS n_items,
       |  ${sqlDsum("l_extendedprice")} AS revenue
       |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
       |WHERE s_suppkey % 5 = 0
       |GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------------
  // J18 — bucketed co-located join through the oracle gate: lineitem
  // and orders are first WRITTEN as bucketed+sorted tables on the
  // order key (etl.Bucketing — pay the key shuffle once, at layout
  // time), then the per-order item rollup joins and aggregates with
  // ZERO shuffle exchanges: both scans already satisfy the join's
  // required hash distribution, and the groupBy keys include the
  // bucket key so the aggregate reuses it too (ShuffleBudgetSpec pins
  // the plan at 1 exchange — the final top-N sort — and BucketingSpec
  // asserts the join subtree shuffle-free). At 100 TB this is the
  // daily-pipeline pattern: recurring fact⋈fact joins ride the
  // one-time bucketed layout instead of re-shuffling both sides every
  // run. The oracle is the PLAIN join SQL over the same parquet —
  // bucketing is pure physical layout and must not change a single
  // value.
  // ---------------------------------------------------------------------
  private val BucketN = 8

  private def j18(s: SparkSession, d: String): DataFrame = {
    import graft.etl.Bucketing
    // table names + paths are per-sf-dir so concurrent suites and
    // multi-sf sessions never collide; overwrite keeps reruns fresh.
    // The tag is the sanitized dir itself — collision-free by
    // construction, and always a valid identifier (hashCode would be
    // neither: Int.MinValue survives math.abs, and 32-bit collisions
    // would silently share tables across sf dirs).
    val tag = d.replaceAll("[^A-Za-z0-9]", "_")
    val base = s"${System.getProperty("java.io.tmpdir")}/graft_bucketed_$tag"
    val li = Bucketing.writeBucketed(
      Tables.lineitem(s, d).select("l_orderkey", "l_quantity",
        "l_extendedprice"),
      s"j18_li_$tag", s"$base/li", "l_orderkey", BucketN)
    val ord = Bucketing.writeBucketed(
      Tables.orders(s, d).select("o_orderkey", "o_totalprice"),
      s"j18_ord_$tag", s"$base/ord", "o_orderkey", BucketN)
    val out = li.join(ord, li("l_orderkey") === ord("o_orderkey"))
      .groupBy(col("o_orderkey"), col("o_totalprice"))
      .agg(count(lit(1)).as("n_items"),
        dsum(col("l_quantity")).as("sum_qty"),
        dsum(col("l_extendedprice")).as("revenue"))
      .orderBy(desc("revenue"), col("o_orderkey"))
      .limit(100)
    // Dataset construction already ran the analyzer, so the plan holds
    // resolved file relations — drop the catalog entries NOW instead
    // of leaking two tables per sf-dir into the default database. The
    // parquet stays at its fixed per-sf path (≤ 1 copy; the next run's
    // overwrite reclaims it), so the lazy plan still executes.
    Bucketing.drop(s, s"j18_li_$tag")
    Bucketing.drop(s, s"j18_ord_$tag")
    out
  }
  private val j18Sql =
    s"""SELECT o_orderkey, o_totalprice, COUNT(*) AS n_items,
       |  ${sqlDsum("l_quantity")} AS sum_qty,
       |  ${sqlDsum("l_extendedprice")} AS revenue
       |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       |GROUP BY 1, 2
       |ORDER BY revenue DESC, o_orderkey LIMIT 100""".stripMargin

  // ---------------------------------------------------------------------
  // J10 — SCD2 point-in-time reads: the dimension as it stood BEFORE
  // and AFTER the j04 merge date, via Scd2.asOf (a pure interval
  // filter — no shuffle, pushes to the scan, so a fact build can
  // broadcast the result like any dim). The oracle derives both
  // snapshots directly from the base table + the deterministic update
  // rule, pinning the interval semantics end-to-end: pre-date probes
  // see original values only; post-date probes see resegmented rows
  // and the brand-new negated keys.
  // ---------------------------------------------------------------------
  private def j10(s: SparkSession, d: String): DataFrame = {
    import graft.etl.Scd2
    val cust = Tables.customer(s, d)
      .select("c_custkey", "c_mktsegment", "c_acctbal")
    val current = Scd2.seed(cust, lit("1992-01-01"))
    val updates = cust.filter(col("c_custkey") % 3 === 0)
      .withColumn("c_mktsegment",
        when(col("c_custkey") % 6 === 0, lit("RESEGMENTED"))
          .otherwise(col("c_mktsegment")))
      .unionByName(cust.filter(col("c_custkey") % 50 === 0)
        .select((-col("c_custkey") - 1).as("c_custkey"),
          lit("NEWKEY").as("c_mktsegment"), lit(0.0).as("c_acctbal")))
    val state = Scd2.merge(current, updates, Seq("c_custkey"),
      Seq("c_mktsegment", "c_acctbal"),
      lit("1995-06-01").cast(org.apache.spark.sql.types.DateType))
    def probe(dt: String): DataFrame =
      Scd2.asOf(state, lit(dt)).select(
        lit(dt).cast(org.apache.spark.sql.types.DateType).as("probe_date"),
        col("c_custkey"), col("c_mktsegment"), col("c_acctbal"))
    probe("1995-01-01").unionByName(probe("1995-12-31"))
      .orderBy("probe_date", "c_custkey")
  }
  private val j10Sql =
    """WITH base AS (
      |  SELECT c_custkey, c_mktsegment, c_acctbal FROM customer)
      |SELECT DATE '1995-01-01' AS probe_date, c_custkey, c_mktsegment,
      |       c_acctbal
      |FROM base
      |UNION ALL
      |SELECT DATE '1995-12-31', c_custkey,
      |  CASE WHEN c_custkey % 6 = 0 THEN 'RESEGMENTED'
      |       ELSE c_mktsegment END,
      |  c_acctbal
      |FROM base
      |UNION ALL
      |SELECT DATE '1995-12-31', -c_custkey - 1, 'NEWKEY', 0.0
      |FROM base WHERE c_custkey % 50 = 0
      |ORDER BY probe_date, c_custkey""".stripMargin

  // ---------------------------------------------------------------------
  // Q28 — relative-rank windows: percent_rank and cume_dist of each
  // customer's balance within their market segment (the "what
  // percentile is this account in" report). Both are rational
  // functions of integer ranks — (rank-1)/(n-1) and rows≤current/n —
  // so the doubles are bit-identical across engines. Same single
  // keyed window shuffle as every per-segment ranking; the DENSE_RANK
  // tie-break keeps output deterministic under equal balances.
  // ---------------------------------------------------------------------
  private def q28(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("c_mktsegment")
      .orderBy(col("c_acctbal"), col("c_custkey"))
    Tables.customer(s, d)
      .select(col("c_mktsegment"), col("c_custkey"), col("c_acctbal"),
        percent_rank().over(w).as("pct_rank"),
        cume_dist().over(w).as("cum_dist"))
      .orderBy("c_mktsegment", "c_acctbal", "c_custkey")
  }
  private val q28Sql =
    """SELECT c_mktsegment, c_custkey, c_acctbal,
      |  PERCENT_RANK() OVER w AS pct_rank,
      |  CUME_DIST() OVER w AS cum_dist
      |FROM customer
      |WINDOW w AS (PARTITION BY c_mktsegment
      |             ORDER BY c_acctbal, c_custkey)
      |ORDER BY c_mktsegment, c_acctbal, c_custkey""".stripMargin

  // ---------------------------------------------------------------------
  // J11 — the NATIVE as-of join physical operator (plans.AsofJoinExec:
  // custom LogicalPlan + SparkStrategy + SparkPlan; co-partitioned
  // two-pointer merge — no union, no struct boxing, no window state)
  // through the oracle gate. Identical query shape and oracle to j05,
  // which runs the union+window formulation — together they pin both
  // paths to the same DuckDB ASOF-equivalent answer.
  // ---------------------------------------------------------------------
  private def j11(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    val clicks = ev.filter(col("event_type") === "click")
      .groupBy("user_id", "ts").agg(max("event_id").as("click_id"))
    val purch = ev.filter(col("event_type") === "purchase")
      .select("event_id", "user_id", "ts", "value")
    graft.etl.Asof.nativeJoin(purch, clicks, Seq("user_id"), "ts", "ts")
      .select(col("event_id"), col("user_id"),
        unix_micros(col("ts")).as("ts_us"), col("value"),
        unix_micros(col("asof_ts")).as("asof_ts_us"),
        col("asof_click_id").as("click_id"))
      .orderBy("event_id")
  }
  private val j11Sql =
    """WITH clicks AS (
      |  SELECT user_id, epoch_us(ts) AS ctus, MAX(event_id) AS click_id
      |  FROM events WHERE event_type = 'click' GROUP BY 1, 2),
      |purch AS (
      |  SELECT event_id, user_id, epoch_us(ts) AS ts_us, value
      |  FROM events WHERE event_type = 'purchase'),
      |ranked AS (
      |  SELECT p.event_id, p.user_id, p.ts_us, p.value,
      |         c.ctus AS asof_ts_us, c.click_id,
      |         ROW_NUMBER() OVER (PARTITION BY p.event_id
      |                            ORDER BY c.ctus DESC) AS rn
      |  FROM purch p LEFT JOIN clicks c
      |    ON p.user_id = c.user_id AND c.ctus <= p.ts_us)
      |SELECT event_id, user_id, ts_us, value, asof_ts_us, click_id
      |FROM ranked WHERE rn = 1 ORDER BY event_id""".stripMargin

  // ---------------------------------------------------------------------
  // J12 — skew-salted JOIN through the oracle gate (the join half of
  // the Skew toolkit; j08 proves the aggregate half). events has ~5
  // hot event_type keys — a plain join funnels each key through one
  // reducer at 100 TB. Skew.saltedJoin explodes the dim side
  // saltBuckets times and salts the fact side, spreading each hot key
  // over 16 reducers. The oracle is the PLAIN join + group-by: any
  // duplicated or lost pair changes the counts, so oracle equality
  // proves the salted rewrite preserves pairs exactly once.
  // ---------------------------------------------------------------------
  private def j12(s: SparkSession, d: String): DataFrame = {
    import graft.etl.Skew
    val ev = Tables.events(s, d).select(col("event_type"), col("value"))
    val dim = ev.select(col("event_type")).distinct()
      .withColumn("w", length(col("event_type")))
    Skew.saltedJoin(ev, dim, "event_type", 16)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        dsum(col("value") * col("w")).as("weighted"))
      .orderBy("event_type")
  }
  private val j12Sql =
    s"""WITH dim AS (
       |  SELECT DISTINCT event_type, length(event_type) AS w FROM events)
       |SELECT e.event_type, COUNT(*) AS n,
       |  ${sqlDsum("e.value * d.w")} AS weighted
       |FROM events e JOIN dim d ON e.event_type = d.event_type
       |GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------------
  // X29 — corpus card: the per-source statistics report every corpus
  // release ships (docs, size, language spread, top language, exact
  // dup rate). One pass builds (source, lang) counts; the top language
  // resolves by a deterministic (count desc, lang asc) window — never
  // a driver-side collect; the dup ratio compares distinct content
  // hashes to doc counts. Three keyed shuffles total (source+lang agg,
  // source agg, hash distinct), each partial-aggregated map-side.
  // ---------------------------------------------------------------------
  private def x29(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val perLang = docs.groupBy("source", "lang")
      .agg(count(lit(1)).as("n"))
    val w = Window.partitionBy("source")
      .orderBy(col("n").desc, col("lang"))
    val topLang = perLang
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("source"), col("lang").as("top_lang"),
        col("n").as("top_lang_docs"))
    val base = docs.groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("total_chars"),
        countDistinct(col("lang")).as("n_langs"),
        countDistinct(md5(col("text"))).as("n_unique"))
      .withColumn("dup_ratio",
        lit(1.0) - col("n_unique").cast("double") / col("n_docs"))
    base.join(topLang, Seq("source"))
      .select("source", "n_docs", "total_chars", "n_langs", "top_lang",
        "top_lang_docs", "dup_ratio")
      .orderBy("source")
  }
  private val x29Sql =
    """WITH per_lang AS (
      |  SELECT source, lang, COUNT(*) AS n FROM documents GROUP BY 1, 2),
      |top AS (
      |  SELECT source, lang AS top_lang, n AS top_lang_docs
      |  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY source
      |          ORDER BY n DESC, lang) AS rn FROM per_lang)
      |  WHERE rn = 1),
      |base AS (
      |  SELECT source, COUNT(*) AS n_docs,
      |    CAST(SUM(n_chars) AS BIGINT) AS total_chars,
      |    COUNT(DISTINCT lang) AS n_langs,
      |    COUNT(DISTINCT md5(text)) AS n_unique
      |  FROM documents GROUP BY 1)
      |SELECT b.source, n_docs, total_chars, n_langs, top_lang,
      |  top_lang_docs,
      |  1.0 - CAST(n_unique AS DOUBLE) / n_docs AS dup_ratio
      |FROM base b JOIN top t ON b.source = t.source
      |ORDER BY b.source""".stripMargin

  // ---------------------------------------------------------------------
  // A14 — WAU: trailing-7-day active users per day (the DAU/WAU/MAU
  // engagement family). Exact sliding DISTINCT can't ride a window
  // frame (distinct isn't subtractable), so this uses the standard
  // explode-into-affected-windows rewrite: dedup to (user, day) grain
  // FIRST (the big win — events collapse before any blowup), then each
  // active day contributes to 7 report days, then count distinct per
  // report day. Shuffles: one dedup, one count-distinct — both keyed,
  // both partial-aggregated; the 7× explode happens on the small
  // deduped grain, never on raw events.
  // ---------------------------------------------------------------------
  private def a14(s: SparkSession, d: String): DataFrame = {
    val activeDays = Tables.events(s, d)
      .select(col("user_id"), to_date(col("ts")).as("day")).distinct()
    activeDays
      .select(col("user_id"),
        explode(expr("sequence(day, date_add(day, 6))")).as("report_day"))
      .groupBy("report_day")
      .agg(countDistinct(col("user_id")).as("wau"))
      .orderBy("report_day")
  }
  private val a14Sql =
    """WITH active AS (
      |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
      |contrib AS (
      |  SELECT user_id,
      |    unnest(generate_series(day, day + 6, INTERVAL 1 DAY))
      |      AS report_day
      |  FROM active)
      |SELECT CAST(report_day AS DATE) AS report_day,
      |  COUNT(DISTINCT user_id) AS wau
      |FROM contrib GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------------
  // A15 — cumulative distinct users over time (the "total registered
  // users" growth curve). Sliding distinct is not subtractable (a14's
  // problem), but CUMULATIVE distinct has an exact linear rewrite:
  // each user contributes at their FIRST active day only, so dedupe to
  // user grain (min day — one fact-table shuffle on user_id), count
  // per first-day, prefix-sum over the day grain. The only global
  // window runs over ≈2,200 day rows at ANY fact scale — the same
  // bounded-grain trick as j07's prefix sums.
  // ---------------------------------------------------------------------
  private def a15(s: SparkSession, d: String): DataFrame = {
    val first = Tables.events(s, d)
      .select(col("user_id"), to_date(col("ts")).as("day"))
      .groupBy("user_id").agg(min("day").as("day"))
    val perDay = first.groupBy("day")
      .agg(count(lit(1)).as("new_users"))
    perDay.withColumn("cum_users",
        sum("new_users").over(Window.orderBy("day")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .orderBy("day")
  }
  private val a15Sql =
    """WITH f AS (
      |  SELECT user_id, MIN(CAST(ts AS DATE)) AS day
      |  FROM events GROUP BY 1),
      |p AS (SELECT day, COUNT(*) AS new_users FROM f GROUP BY 1)
      |SELECT day, new_users,
      |  CAST(SUM(new_users) OVER (ORDER BY day
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |    AS BIGINT) AS cum_users
      |FROM p ORDER BY day""".stripMargin

  // ---------------------------------------------------------------------
  // A16 — retention cohort matrix: users grouped by first-active day,
  // counted again at each day offset (the cohort retention triangle
  // behind every engagement dashboard; completes the a14 WAU / a15
  // growth-curve engagement family). Plan: dedup to (user, day) grain
  // FIRST (events collapse before anything fans out), one user-grain
  // aggregate for the cohort day, one keyed join back (AQE decides the
  // side), one (cohort, offset) aggregate. Matrix size is bounded by
  // days², never by fact rows.
  // ---------------------------------------------------------------------
  private def a16(s: SparkSession, d: String): DataFrame = {
    val active = Tables.events(s, d)
      .select(col("user_id"), to_date(col("ts")).as("day")).distinct()
    val cohort = active.groupBy("user_id")
      .agg(min("day").as("cohort_day"))
    active.join(cohort, Seq("user_id"))
      .withColumn("day_offset",
        datediff(col("day"), col("cohort_day")).cast("long"))
      .groupBy("cohort_day", "day_offset")
      .agg(countDistinct(col("user_id")).as("n_active"))
      .orderBy("cohort_day", "day_offset")
  }
  private val a16Sql =
    """WITH active AS (
      |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
      |c AS (
      |  SELECT user_id, MIN(day) AS cohort_day FROM active GROUP BY 1)
      |SELECT c.cohort_day,
      |  CAST(a.day - c.cohort_day AS BIGINT) AS day_offset,
      |  COUNT(DISTINCT a.user_id) AS n_active
      |FROM active a JOIN c ON a.user_id = c.user_id
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // ---------------------------------------------------------------------
  // X30 — temperature-reweighted source mixing: the multi-source corpus
  // balancing step (don't let the biggest crawl drown the small
  // high-quality sources). Each source's keep-rate is
  // min(1, K/sqrt(n_source)) — inverse-sqrt temperature, so a source's
  // sampled mass grows as sqrt(n) — applied as a deterministic
  // per-doc hash gate (reproducible; no rand()). sqrt/divide/multiply
  // are all exactly-rounded IEEE ops, so the integer threshold is
  // bit-identical in both engines — NO cross-source normalization sum
  // (a Σ over doubles would be summation-order-sensitive). Plan: tiny
  // source-count aggregate broadcast back onto the scan; the gate
  // itself is a codegen'd row expression. One shuffle total.
  // ---------------------------------------------------------------------
  private val MixK = 10.0

  private def x30(s: SparkSession, d: String): DataFrame = {
    val counts = Tables.documents(s, d).groupBy("source")
      .agg(count(lit(1)).as("n_total"))
      .withColumn("thresh",
        floor(least(lit(1.0),
          lit(MixK) / sqrt(col("n_total").cast("double"))) * 1000000)
          .cast("long"))
    Tables.documents(s, d)
      .join(counts, Seq("source"))
      .withColumn("h", pmod(
        (col("doc_id") % 2147483648L) * 2654435761L + 7L,
        lit(1000000L)))
      .groupBy("source")
      .agg(max("n_total").as("n_total"), max("thresh").as("thresh"),
        sum(when(col("h") < col("thresh"), 1L).otherwise(0L))
          .as("n_sampled"))
      .orderBy("source")
  }
  private val x30Sql =
    s"""WITH c AS (
       |  SELECT source, COUNT(*) AS n_total,
       |    CAST(FLOOR(LEAST(1.0,
       |      $MixK / SQRT(CAST(COUNT(*) AS DOUBLE))) * 1000000)
       |      AS BIGINT) AS thresh
       |  FROM documents GROUP BY 1)
       |SELECT d.source, MAX(c.n_total) AS n_total,
       |  MAX(c.thresh) AS thresh,
       |  CAST(SUM(CASE WHEN ((d.doc_id % 2147483648) * 2654435761 + 7)
       |    % 1000000 < c.thresh THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_sampled
       |FROM documents d JOIN c ON d.source = c.source
       |GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------------
  // X34 — token-budget source mixing: the "fill each source to a target
  // token budget" primitive of training-data mixture construction
  // (x13 gates by doc-rate, x30 reweights by temperature; this one
  // meters TOKENS, which is what the training run actually consumes).
  // Docs are taken per source in a deterministic pseudo-random order
  // (Knuth-mix of doc_id — reshuffleable by changing the additive
  // seed), accumulating whitespace-token counts; a doc is kept while
  // the running total stays inside the budget. Output is the per-source
  // audit row: docs/tokens total vs kept.
  //
  // Scale: one window prefix-sum per source partition. Sources are a
  // bounded small domain here; for a heavy-tailed source domain the
  // two-phase range-partitioned prefix sum (a15's pattern) is the
  // drop-in replacement — same semantics, no single-partition window.
  // ---------------------------------------------------------------------
  private val BudgetTokens = 4000L

  private def x34(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
      .select(col("source"), col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_tok"))
      .withColumn("h", pmod(
        (col("doc_id") % 2147483648L) * 2654435761L + 11L,
        lit(1000000007L)))
    val w = Window.partitionBy(col("source"))
      .orderBy(col("h"), col("doc_id"))
    docs.withColumn("cum", sum(col("n_tok")).over(w))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs_total"),
        sum(col("n_tok")).as("tokens_total"),
        sum(when(col("cum") <= BudgetTokens, 1L).otherwise(0L))
          .as("n_docs_kept"),
        sum(when(col("cum") <= BudgetTokens, col("n_tok"))
          .otherwise(0L)).as("tokens_kept"))
      .orderBy("source")
  }
  private val x34Sql =
    s"""WITH t AS (
       |  SELECT source, doc_id,
       |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
       |    ((doc_id % 2147483648) * 2654435761 + 11) % 1000000007 AS h
       |  FROM documents),
       |c AS (
       |  SELECT source, n_tok,
       |    SUM(n_tok) OVER (PARTITION BY source ORDER BY h, doc_id)
       |      AS cum
       |  FROM t)
       |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs_total,
       |  CAST(SUM(n_tok) AS BIGINT) AS tokens_total,
       |  CAST(SUM(CASE WHEN cum <= $BudgetTokens THEN 1 ELSE 0 END)
       |    AS BIGINT) AS n_docs_kept,
       |  CAST(SUM(CASE WHEN cum <= $BudgetTokens THEN n_tok ELSE 0 END)
       |    AS BIGINT) AS tokens_kept
       |FROM c GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------------
  // T18 — text canonicalization: the first pass of every corpus
  // cleaning pipeline — collapse whitespace runs, trim, lowercase —
  // as pure codegen'd row expressions (no UDF, zero shuffle). The
  // output fingerprint (md5 of the canonical form) is what exact-dedup
  // keys on when "same text modulo spacing/case" is the dedup notion.
  // ---------------------------------------------------------------------
  private def t18(s: SparkSession, d: String): DataFrame = {
    Tables.documents(s, d)
      .withColumn("canon",
        lower(trim(regexp_replace(col("text"), "\\s+", " "))))
      .select(col("doc_id"), length(col("text")).as("raw_len"),
        length(col("canon")).as("canon_len"),
        md5(col("canon")).as("canon_fingerprint"))
      .orderBy("doc_id")
  }
  private val t18Sql =
    """SELECT doc_id, length(text) AS raw_len,
      |  length(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))))
      |    AS canon_len,
      |  md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))))
      |    AS canon_fingerprint
      |FROM documents ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------------
  // X52 — Z-order layout audit: WOULD clustering this table on a
  // Z-curve cut 2-D scan cost, and by how much, versus the 1-D sort
  // every warehouse defaults to? The data-layout decision behind
  // Delta/Iceberg `OPTIMIZE ZORDER` — at 100 TB the scan fraction
  // under min/max file skipping IS the query cost, and a 1-D sort
  // prunes only its own column.
  //
  // Method (exact integer arithmetic end to end, so the audit is
  // cell-exact across engines): min/max-scale both key columns to
  // 16-bit grids (one single-row aggregate, broadcast — a17's scalar
  // pattern); interleave bits arithmetically into a 32-bit Z value;
  // bucket rows two ways — Z div 2^22 (Z-order files) vs sx div 64
  // (partkey-sorted files); per bucket, record the min/max envelope
  // of BOTH dims (exactly the footer stats parquet keeps); then
  // replay a center-half box predicate (both dims in [16384, 49151])
  // against the envelopes. A bucket whose envelope misses the box is
  // skipped without a read. The card: buckets scanned, rows scanned,
  // scan fraction per layout — linear prunes ~½ (its own dim only),
  // Z-order ~¼ + boundary, and the gap widens with dimensionality.
  //
  // Scale shape: two scans of a 2-column pruned projection, one
  // (layout, bucket) partial agg, one 2·#buckets-row audit agg —
  // no shuffle carries more than (layout, bucket, envelope) rows.
  // ---------------------------------------------------------------------
  /** Bit-interleave of two 16-bit grid coords as portable integer
    * arithmetic ((v div 2^i) mod 2 placed at bit 2i / 2i+1) — no
    * engine-specific bit operators. `div` is "div" (Spark) / "//"
    * (DuckDB). */
  private def zInterleave(sx: String, sy: String, div: String): String =
    (0 until 16).map { i =>
      s"(($sx $div ${1L << i}) % 2) * ${1L << (2 * i)} + " +
        s"(($sy $div ${1L << i}) % 2) * ${1L << (2 * i + 1)}"
    }.mkString(" + ")

  private def x52(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d)
      .select(col("l_partkey").cast("long").as("x"),
        col("l_suppkey").cast("long").as("y"))
    val mm = li.agg(min(col("x")).as("xmin"), max(col("x")).as("xmax"),
      min(col("y")).as("ymin"), max(col("y")).as("ymax"))
    // greatest(range, 1): on a degenerate constant column Spark's div
    // yields NULLs while DuckDB's // raises — the guard makes both
    // engines return sx=0 instead of diverging (same guard in the SQL)
    val scaled = li.crossJoin(broadcast(mm))
      .select(
        expr("((x - xmin) * 65535) div greatest(xmax - xmin, 1)").as("sx"),
        expr("((y - ymin) * 65535) div greatest(ymax - ymin, 1)").as("sy"))
    val tagged = scaled
      .select(lit("zorder").as("layout"),
        expr(s"(${zInterleave("sx", "sy", "div")}) div ${1L << 22}")
          .as("bucket"), col("sx"), col("sy"))
      .unionByName(scaled.select(lit("linear").as("layout"),
        expr("sx div 64").as("bucket"), col("sx"), col("sy")))
    val envelopes = tagged.groupBy(col("layout"), col("bucket"))
      .agg(min(col("sx")).as("xlo"), max(col("sx")).as("xhi"),
        min(col("sy")).as("ylo"), max(col("sy")).as("yhi"),
        count(lit(1)).as("n"))
    val scanned = col("xhi") >= 16384L && col("xlo") <= 49151L &&
      col("yhi") >= 16384L && col("ylo") <= 49151L
    envelopes.groupBy(col("layout"))
      .agg(count(lit(1)).as("n_buckets"),
        sum(when(scanned, 1L).otherwise(0L)).as("n_scanned"),
        sum(col("n")).as("n_rows"),
        sum(when(scanned, col("n")).otherwise(0L)).as("rows_scanned"))
      .withColumn("scan_frac",
        round(col("rows_scanned").cast("double") /
          col("n_rows").cast("double"), 4))
      .orderBy("layout")
  }
  private def x52Sql: String =
    s"""WITH li AS (
       |  SELECT CAST(l_partkey AS BIGINT) AS x,
       |    CAST(l_suppkey AS BIGINT) AS y FROM lineitem),
       |mm AS (
       |  SELECT MIN(x) AS xmin, MAX(x) AS xmax,
       |    MIN(y) AS ymin, MAX(y) AS ymax FROM li),
       |scaled AS (
       |  SELECT ((x - xmin) * 65535) // GREATEST(xmax - xmin, 1) AS sx,
       |    ((y - ymin) * 65535) // GREATEST(ymax - ymin, 1) AS sy
       |  FROM li CROSS JOIN mm),
       |tagged AS (
       |  SELECT 'zorder' AS layout,
       |    (${zInterleave("sx", "sy", "//")}) // ${1L << 22} AS bucket,
       |    sx, sy FROM scaled
       |  UNION ALL
       |  SELECT 'linear', sx // 64, sx, sy FROM scaled),
       |envelopes AS (
       |  SELECT layout, bucket, MIN(sx) AS xlo, MAX(sx) AS xhi,
       |    MIN(sy) AS ylo, MAX(sy) AS yhi,
       |    CAST(COUNT(*) AS BIGINT) AS n
       |  FROM tagged GROUP BY 1, 2),
       |flagged AS (
       |  SELECT *, xhi >= 16384 AND xlo <= 49151
       |    AND yhi >= 16384 AND ylo <= 49151 AS scanned
       |  FROM envelopes)
       |SELECT layout, CAST(COUNT(*) AS BIGINT) AS n_buckets,
       |  CAST(SUM(CASE WHEN scanned THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_scanned,
       |  CAST(SUM(n) AS BIGINT) AS n_rows,
       |  CAST(SUM(CASE WHEN scanned THEN n ELSE 0 END) AS BIGINT)
       |    AS rows_scanned,
       |  ROUND(CAST(SUM(CASE WHEN scanned THEN n ELSE 0 END) AS DOUBLE)
       |    / CAST(SUM(n) AS DOUBLE), 4) AS scan_frac
       |FROM flagged GROUP BY layout ORDER BY layout""".stripMargin

  // ---------------------------------------------------------------------
  // Q48 — quantile-sketch error contract: the GK sketch
  // (percentile_approx, accuracy 100 ⇒ rank error ≤ n/100) audited
  // against the EXACT histogram-kernel median, q26c-style. The sketch
  // is the mergeable, bounded-memory path a 100 TB percentile runs
  // (one pass, no per-group value buffers); the contract row proves —
  // and the driver gate re-proves every round — that its answer's
  // true rank sits within the guarantee of the target rank. The
  // sketch value itself is engine-specific, so what crosses the
  // oracle is n_rows, the exact p50 (shared q15 kernel), and the
  // bound verdict; DuckDB asserts TRUE like q26c/q38b.
  //
  // Scale shape: sketch agg (one pass, partial-merged), rank-of-
  // answer via a second conditional-count pass against the broadcast
  // 3-row sketch output, exact median on the histogram path — all
  // group-keyed shuffles on the 3-value flag domain.
  // ---------------------------------------------------------------------
  private def q48(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d)
      .select(col("l_returnflag"), col("l_extendedprice").as("x"))
    val approx = li.groupBy(col("l_returnflag"))
      .agg(percentile_approx(col("x"), lit(0.5), lit(100)).as("apx"),
        count(lit(1)).as("n_rows"))
    val exact = {
      val hist = li.groupBy(col("l_returnflag"), col("x"))
        .agg(count(lit(1)).as("c")).cut(false)
      Relational.histCum(hist, "l_returnflag", "x")
        .groupBy(col("l_returnflag"))
        .agg(Relational.histPct(0.5, "x").as("p50_exact"))
    }
    val ranks = li.join(broadcast(approx), Seq("l_returnflag"))
      .groupBy(col("l_returnflag"))
      .agg(sum(when(col("x") < col("apx"), 1L).otherwise(0L)).as("r_lt"),
        sum(when(col("x") <= col("apx"), 1L).otherwise(0L)).as("r_le"))
    // the sketch returns an ELEMENT; with duplicates its rank is the
    // interval [r_lt+1, r_le] — within bound iff that interval meets
    // target ± (n/100 + 1)
    val target = lit(1.0) + (col("n_rows") - 1L).cast("double") * 0.5
    val slack = col("n_rows").cast("double") / 100.0 + 1.0
    approx.join(ranks, Seq("l_returnflag"))
      .join(exact, Seq("l_returnflag"))
      .select(col("l_returnflag"), col("n_rows"), col("p50_exact"),
        ((col("r_lt") + 1L).cast("double") <= target + slack &&
          col("r_le").cast("double") >= target - slack)
          .as("within_bound"))
      .orderBy("l_returnflag")
  }
  private def q48Sql: String =
    s"""WITH hist AS (
       |  SELECT l_returnflag, l_extendedprice AS x, COUNT(*) AS c
       |  FROM lineitem GROUP BY 1, 2),
       |cum AS (
       |  SELECT l_returnflag, x,
       |    SUM(c) OVER (PARTITION BY l_returnflag ORDER BY x) AS cum_hi,
       |    CAST(SUM(c) OVER (PARTITION BY l_returnflag) AS DOUBLE) AS nn
       |  FROM hist)
       |SELECT l_returnflag, CAST(MIN(nn) AS BIGINT) AS n_rows,
       |  ${Relational.sqlHistPct("0.5", "x")} AS p50_exact,
       |  TRUE AS within_bound
       |FROM cum GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------------
  // Q49 — k-anonymity audit: before a user-data table feeds a training
  // corpus, how re-identifiable are its rows under a quasi-identifier
  // combination? Classes = GROUP BY (nationkey, mktsegment,
  // floor(acctbal/100)); a row in a class smaller than k = 5 is
  // at-risk (the standard k-anonymity criterion). Reported per
  // segment: rows, classes, smallest class, classes/rows below k, and
  // the at-risk fraction — the numbers a release review asks for.
  //
  // Scale shape: one partial-agg shuffle on the quasi-id grain (class
  // sizes), one on the 5-value segment grain — the raw table never
  // moves twice and nothing is driver-side. floor() on DOUBLE is
  // IEEE-identical across engines; everything else is integer.
  // ---------------------------------------------------------------------
  private def q49(s: SparkSession, d: String): DataFrame = {
    val k = 5L
    val classes = Tables.customer(s, d)
      .groupBy(col("c_mktsegment"), col("c_nationkey"),
        floor(col("c_acctbal") / 100.0).as("bal_band"))
      .agg(count(lit(1)).as("n"))
    classes.groupBy(col("c_mktsegment"))
      .agg(sum(col("n")).as("n_rows"),
        count(lit(1)).as("n_classes"),
        min(col("n")).as("min_class_size"),
        sum(when(col("n") < k, 1L).otherwise(0L)).as("classes_below_k"),
        sum(when(col("n") < k, col("n")).otherwise(0L))
          .as("rows_below_k"))
      .withColumn("risk_frac",
        round(col("rows_below_k").cast("double") /
          col("n_rows").cast("double"), 4))
      .orderBy("c_mktsegment")
  }
  private val q49Sql =
    """WITH classes AS (
      |  SELECT c_mktsegment, c_nationkey,
      |    FLOOR(c_acctbal / 100.0) AS bal_band,
      |    CAST(COUNT(*) AS BIGINT) AS n
      |  FROM customer GROUP BY 1, 2, 3)
      |SELECT c_mktsegment,
      |  CAST(SUM(n) AS BIGINT) AS n_rows,
      |  CAST(COUNT(*) AS BIGINT) AS n_classes,
      |  MIN(n) AS min_class_size,
      |  CAST(SUM(CASE WHEN n < 5 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS classes_below_k,
      |  CAST(SUM(CASE WHEN n < 5 THEN n ELSE 0 END) AS BIGINT)
      |    AS rows_below_k,
      |  ROUND(CAST(SUM(CASE WHEN n < 5 THEN n ELSE 0 END) AS DOUBLE)
      |    / CAST(SUM(n) AS DOUBLE), 4) AS risk_frac
      |FROM classes GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------------
  // X54 — shard-rebalance audit: when a 16-shard corpus grows a 17th
  // shard, what fraction of documents MOVE? Mod-hashing reassigns
  // ~16/17 of the corpus (every doc whose h mod 16 ≠ h mod 17 — at
  // 100 TB that is a full rewrite); rendezvous/HRW hashing (highest
  // random weight: shard = argmax_s w(doc, s)) moves exactly the docs
  // the NEW shard wins, ~1/17. The audit computes both assignments
  // under both shard counts and reports the measured move fractions —
  // the number that decides whether growing a sharded corpus costs a
  // night or a month.
  //
  // Portability: w(doc, s) reduces doc_id mod 2³¹ BEFORE the Knuth
  // multiply (the q47 overflow rule — Spark wraps, DuckDB raises),
  // ties break to the smallest shard via identical CASE order, and
  // everything is BIGINT. Zero shuffle until the single-row card.
  // ---------------------------------------------------------------------
  /** HRW score of shard `s` for the current doc_id — same text on
    * both engines. The squaring is load-bearing: a single Knuth
    * multiply leaves the 17 per-doc scores an arithmetic progression
    * mod P (linear maps compose to linear), whose argmax is badly
    * non-uniform — measured 7.3k..32.4k docs/shard on a 200k-id
    * sweep (3× imbalance) and a 3.7% move rate vs the 1/17 theory.
    * (h² + h) mod P is quadratic in the shard index, breaking the
    * progression: loads land within ±9% of uniform and the move rate
    * at 6.3%. h < P ≈ 1e9 keeps h² < 2⁶³ — no overflow wrap (Spark)
    * or raise (DuckDB) on either engine. The x51/x53 lesson again:
    * linear mixes don't separate. */
  private def hrwScore(s: Int): String = {
    val h = s"((((doc_id * 31 + ${s + 1}) % 2147483648)" +
      " * 2654435761) % 1000000007)"
    s"($h * $h + $h) % 1000000007"
  }

  private def x54(s: SparkSession, d: String): DataFrame = {
    val scored = Tables.documents(s, d).select(col("doc_id") +:
      (0 until 17).map(j => expr(hrwScore(j)).as(s"sc$j")): _*)
    def argmax(k: Int): org.apache.spark.sql.Column = {
      val g = greatest((0 until k).map(j => col(s"sc$j")): _*)
      coalesce((0 until k).map(j =>
        when(col(s"sc$j") === g, lit(j.toLong))): _*)
    }
    val hmod =
      expr("(((doc_id + 1) % 2147483648) * 2654435761) % 1000000007")
    scored
      .withColumn("hrw_moved", argmax(16) =!= argmax(17))
      .withColumn("mod_moved", hmod % 16 =!= hmod % 17)
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("mod_moved"), 1L).otherwise(0L)).as("moved_mod"),
        sum(when(col("hrw_moved"), 1L).otherwise(0L)).as("moved_hrw"))
      .withColumn("frac_mod", round(col("moved_mod").cast("double") /
        col("n_docs").cast("double"), 4))
      .withColumn("frac_hrw", round(col("moved_hrw").cast("double") /
        col("n_docs").cast("double"), 4))
  }
  private def x54Sql: String = {
    def argmax(k: Int): String = {
      val g = (0 until k).map(j => s"sc$j").mkString("GREATEST(", ", ", ")")
      (0 until k).map(j => s"WHEN sc$j = $g THEN $j")
        .mkString("CASE ", " ", " END")
    }
    s"""WITH scored AS (
       |  SELECT doc_id,
       |    ${(0 until 17).map(j => s"${hrwScore(j)} AS sc$j")
            .mkString(",\n       |    ")}
       |  FROM documents),
       |flags AS (
       |  SELECT
       |    ${argmax(16)} <> ${argmax(17)} AS hrw_moved,
       |    ((((doc_id + 1) % 2147483648) * 2654435761) % 1000000007)
       |      % 16 <>
       |    ((((doc_id + 1) % 2147483648) * 2654435761) % 1000000007)
       |      % 17 AS mod_moved
       |  FROM scored)
       |SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
       |  CAST(SUM(CASE WHEN mod_moved THEN 1 ELSE 0 END) AS BIGINT)
       |    AS moved_mod,
       |  CAST(SUM(CASE WHEN hrw_moved THEN 1 ELSE 0 END) AS BIGINT)
       |    AS moved_hrw,
       |  ROUND(CAST(SUM(CASE WHEN mod_moved THEN 1 ELSE 0 END)
       |    AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 4) AS frac_mod,
       |  ROUND(CAST(SUM(CASE WHEN hrw_moved THEN 1 ELSE 0 END)
       |    AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 4) AS frac_hrw
       |FROM flags""".stripMargin
  }

  // ---------------------------------------------------------------------
  // X59 — PageRank, 3 exact power iterations over the part↔supplier
  // bipartite graph (distinct lineitem pairs, symmetrized): the
  // canonical iterative graph workload next to x11's connected
  // components. The whole computation is INTEGER arithmetic — ranks
  // live in micro-units (1e12 total mass), each node's contribution
  // is (rank·85) div (100·deg) and the damping base is a constant
  // (15%·mass) div (100·N) — so partial-sum order cannot perturb a
  // single bit and both engines produce identical BIGINT ranks
  // (x54's exact-integer house rule; floor losses just shave total
  // mass deterministically). Per iteration: one join against the
  // degree relation + one groupBy-on-dst shuffle — the Pregel shape;
  // a full convergence run would iterate-with-cut like
  // ConnectedComponents, and the iteration count is the only change.
  // N is one count job (catalog stats at real scale).
  // ---------------------------------------------------------------------
  private val PrScale = graft.etl.PageRank.Scale
  private val PrIters = 3

  // The iteration kernel moved to the library module
  // [[graft.etl.PageRank]] in r8: runFixed here is the oracle gate's
  // unrolled 3-step form; the promised CONVERGENCE form
  // (iterate-with-cut + delta-below-threshold stop, the
  // ConnectedComponents discipline) is PageRank.runConverged —
  // spec-pinned by PageRankSpec on a chain graph where 3 iterations
  // have provably NOT converged.
  private def x59(s: SparkSession, d: String): DataFrame = {
    val pairs = Tables.lineitem(s, d)
      .select((col("l_partkey").cast("long") * 2).as("u"),
        (col("l_suppkey").cast("long") * 2 + 1).as("v"))
      .distinct()
    val g = graft.etl.PageRank.graph(pairs
      .unionByName(pairs.select(col("v").as("u"), col("u").as("v"))))
    graft.etl.PageRank.runFixed(g, PrIters)
      .orderBy(desc("rank"), col("node")).limit(20)
      .select(when(col("node") % 2 === 0, lit("part"))
        .otherwise(lit("supplier")).as("node_type"),
        expr("node div 2").as("key"),
        col("rank").as("rank_micro"))
  }
  private lazy val x59Sql = {
    def iter(prev: String, cur: String): String =
      s"""$cur AS (
         |  SELECT e.v AS node,
         |    CAST(SUM((r.rank * 85) // (100 * d.deg))
         |      + (SELECT ($PrScale * 15) // (100 * n) FROM nn)
         |      AS BIGINT) AS rank
         |  FROM edges e
         |  JOIN deg d ON d.u = e.u
         |  JOIN $prev r ON r.node = e.u
         |  GROUP BY 1)""".stripMargin
    s"""WITH pairs AS (
       |  SELECT DISTINCT CAST(l_partkey AS BIGINT) * 2 AS u,
       |    CAST(l_suppkey AS BIGINT) * 2 + 1 AS v
       |  FROM lineitem),
       |edges AS (
       |  SELECT u, v FROM pairs UNION ALL SELECT v, u FROM pairs),
       |deg AS (SELECT u, COUNT(*) AS deg FROM edges GROUP BY 1),
       |nn AS (SELECT COUNT(*) AS n FROM deg),
       |r0 AS (SELECT u AS node, $PrScale // n AS rank FROM deg, nn),
       |${iter("r0", "r1")},
       |${iter("r1", "r2")},
       |${iter("r2", "r3")}
       |SELECT CASE WHEN node % 2 = 0 THEN 'part' ELSE 'supplier' END
       |    AS node_type,
       |  node // 2 AS key, rank AS rank_micro
       |FROM r3 ORDER BY rank_micro DESC, node LIMIT 20""".stripMargin
  }

  // ---------------------------------------------------------------------
  // X64 — user-contribution bounding: the sensitivity-control step
  // every differential-privacy release runs BEFORE adding noise (and
  // the reason q49's k-anonymity view isn't the whole privacy
  // story): cap each user at their C earliest events (deterministic
  // ts, event_id order), so any downstream per-type histogram has
  // per-user sensitivity ≤ C BY CONSTRUCTION instead of "whatever
  // the heaviest user did". The card prices the cap per event type:
  // raw vs clipped counts, rows lost, and the max single-user share
  // before/after — the bias-vs-sensitivity trade a DP practitioner
  // tunes C against. One per-user window + two keyed aggs; the
  // window cost is bounded by per-user event counts, never global.
  // ---------------------------------------------------------------------
  private val ContribCap = 40

  private def x64(s: SparkSession, d: String): DataFrame = {
    val wU = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val per = Tables.events(s, d)
      .select(col("event_id"), col("ts"), col("user_id"),
        col("event_type"))
      .withColumn("rk", row_number().over(wU))
      .groupBy(col("event_type"), col("user_id"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("rk") <= ContribCap, 1L).otherwise(0L))
          .as("n_kept"))
    per.groupBy(col("event_type"))
      .agg(sum(col("n")).as("n_raw"),
        sum(col("n_kept")).as("n_clipped"),
        (sum(col("n")) - sum(col("n_kept"))).as("n_lost"),
        max(col("n")).as("max_user_raw"),
        max(col("n_kept")).as("max_user_clipped"))
      .orderBy("event_type")
  }
  private val x64Sql =
    s"""WITH ranked AS (
       |  SELECT event_type, user_id,
       |    ROW_NUMBER() OVER (PARTITION BY user_id
       |      ORDER BY ts, event_id) AS rk
       |  FROM events),
       |per AS (
       |  SELECT event_type, user_id, CAST(COUNT(*) AS BIGINT) AS n,
       |    CAST(SUM(CASE WHEN rk <= $ContribCap THEN 1 ELSE 0 END)
       |      AS BIGINT) AS n_kept
       |  FROM ranked GROUP BY 1, 2)
       |SELECT event_type, CAST(SUM(n) AS BIGINT) AS n_raw,
       |  CAST(SUM(n_kept) AS BIGINT) AS n_clipped,
       |  CAST(SUM(n) - SUM(n_kept) AS BIGINT) AS n_lost,
       |  CAST(MAX(n) AS BIGINT) AS max_user_raw,
       |  CAST(MAX(n_kept) AS BIGINT) AS max_user_clipped
       |FROM per GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------------
  // Q51 — approximate functional-dependency DISCOVERY: q34 audits FDs
  // you already believe in; this measures candidate FDs you don't
  // know yet — the schema-profiling step (TANE's g3 error, inverted
  // to a confidence) that tells a warehouse which lhs→rhs rules are
  // worth enforcing. For each declared candidate pair: confidence =
  // (rows kept if each determinant group keeps its modal dependent
  // value) / rows, in exact ppm. All pairs share ONE plan: the tagged
  // (tbl, lhs, rhs, lv, rv) projections union before aggregating, so
  // the whole sweep costs 3 keyed partial-agg shuffles total — not
  // 3 × |candidates| independent stages — and each level contracts
  // the domain (rows → value pairs → determinant groups → 1/pair).
  // ---------------------------------------------------------------------
  private val fdCandidates = Seq(
    ("nation", "n_nationkey", "n_regionkey"),
    ("customer", "c_nationkey", "c_mktsegment"),
    ("customer", "c_mktsegment", "c_nationkey"),
    ("orders", "o_orderpriority", "o_orderstatus"),
    ("lineitem", "l_orderkey", "l_returnflag"),
    ("lineitem", "l_returnflag", "l_linestatus"))

  private def q51(s: SparkSession, d: String): DataFrame = {
    val tagged = fdCandidates.map { case (tbl, lhs, rhs) =>
      Tables.t(s, d, tbl)
        .select(lit(tbl).as("tbl"), lit(lhs).as("lhs"),
          lit(rhs).as("rhs"), col(lhs).cast("string").as("lv"),
          col(rhs).cast("string").as("rv"))
    }
    tagged.reduce(_.unionAll(_))
      .groupBy(col("tbl"), col("lhs"), col("rhs"), col("lv"),
        col("rv"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("tbl"), col("lhs"), col("rhs"), col("lv"))
      .agg(max(col("c")).as("mx"), sum(col("c")).as("tot"))
      .groupBy(col("tbl"), col("lhs"), col("rhs"))
      .agg(sum(col("tot")).as("n_rows"),
        count(lit(1)).as("n_groups"),
        sum(col("mx")).as("n_conforming"))
      .withColumn("conf_ppm",
        expr("(1000000 * n_conforming) div n_rows"))
      .withColumn("is_exact",
        (col("n_conforming") === col("n_rows")).cast("long"))
      .orderBy("tbl", "lhs", "rhs")
  }
  private def q51Sql: String = fdCandidates.map { case (tbl, lhs, rhs) =>
    s"""SELECT '$tbl' AS tbl, '$lhs' AS lhs, '$rhs' AS rhs,
       |  CAST(SUM(tot) AS BIGINT) AS n_rows,
       |  CAST(COUNT(*) AS BIGINT) AS n_groups,
       |  CAST(SUM(mx) AS BIGINT) AS n_conforming,
       |  CAST((1000000 * SUM(mx)) // SUM(tot) AS BIGINT) AS conf_ppm,
       |  CAST(CASE WHEN SUM(mx) = SUM(tot) THEN 1 ELSE 0 END
       |    AS BIGINT) AS is_exact
       |FROM (
       |  SELECT lv, MAX(c) AS mx, SUM(c) AS tot FROM (
       |    SELECT CAST($lhs AS VARCHAR) AS lv,
       |      CAST($rhs AS VARCHAR) AS rv, COUNT(*) AS c
       |    FROM $tbl GROUP BY 1, 2) GROUP BY 1)""".stripMargin
  }.mkString("\n", "\nUNION ALL\n", "\nORDER BY tbl, lhs, rhs")

  // ---------------------------------------------------------------------
  // X70 — sample-budget apportionment (largest-remainder / Hamilton
  // method): turn per-source token masses into an EXACT integer
  // allocation of N sample slots — the step between x13's mixing
  // weights and actually drawing x24/x36/x63's samples. Proportional
  // rounding must conserve the budget: floor allocations leave a
  // deficit < |sources|, handed out by descending remainder
  // (source-name tiebreak), so Σ alloc = N exactly, provable
  // cross-engine cell by cell. One doc-scale keyed agg; both windows
  // run over the contracted source domain (bounded by construction).
  // ---------------------------------------------------------------------
  private val SlotBudget = 10000L

  private def x70(s: SparkSession, d: String): DataFrame = {
    val perSrc = Tables.documents(s, d)
      .select(col("source"),
        size(split(col("text"), " ")).cast("long").as("t"))
      .groupBy(col("source"))
      .agg(sum(col("t")).as("tokens"))
    val wAll = Window.partitionBy()
    val wRem = Window.orderBy(col("rem").desc, col("source"))
    perSrc
      .withColumn("total", sum(col("tokens")).over(wAll))
      .withColumn("floor_alloc",
        expr(s"($SlotBudget * tokens) div total"))
      .withColumn("rem", expr(s"($SlotBudget * tokens) % total"))
      .withColumn("deficit",
        lit(SlotBudget) - sum(col("floor_alloc")).over(wAll))
      .withColumn("rk", row_number().over(wRem).cast("long"))
      .withColumn("alloc",
        col("floor_alloc") +
          when(col("rk") <= col("deficit"), 1L).otherwise(0L))
      .select("source", "tokens", "floor_alloc", "rem", "alloc")
      .orderBy("source")
  }
  private val x70Sql =
    s"""WITH per_src AS (
       |  SELECT source,
       |    CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS tokens
       |  FROM documents GROUP BY 1),
       |w AS (
       |  SELECT source, tokens,
       |    SUM(tokens) OVER () AS total,
       |    ($SlotBudget * tokens) // SUM(tokens) OVER () AS floor_alloc,
       |    ($SlotBudget * tokens) % SUM(tokens) OVER () AS rem
       |  FROM per_src),
       |r AS (
       |  SELECT *,
       |    $SlotBudget - SUM(floor_alloc) OVER () AS deficit,
       |    ROW_NUMBER() OVER (ORDER BY rem DESC, source) AS rk
       |  FROM w)
       |SELECT source, tokens,
       |  CAST(floor_alloc AS BIGINT) AS floor_alloc,
       |  CAST(rem AS BIGINT) AS rem,
       |  CAST(floor_alloc + CASE WHEN rk <= deficit THEN 1 ELSE 0 END
       |    AS BIGINT) AS alloc
       |FROM r ORDER BY source""".stripMargin

  // ---------------------------------------------------------------------
  // Q52-ext — CUSUM changepoint detection: the mean-shift audit a
  // monitoring stack runs over a pipeline's daily volumes (did this
  // event type's rate step-change, and when?). Per event type over
  // the ordered daily counts c_1..c_n, the scaled CUSUM statistic
  // T_k = n·prefix_k − k·total is EXACT BIGINT arithmetic (it is
  // n·k·(mean_before_k − mean_overall) with the divisions cleared),
  // so the argmax split day is bit-deterministic across engines and
  // partitionings — no float drift deciding between near-tied days.
  // Plan shape at 100 TB: the raw stream contracts to |types|×|days|
  // in ONE keyed partial agg; every window after that runs inside the
  // per-type partition of that contracted relation (the pick window
  // reuses the same hash partitioning — no extra exchange).
  // ---------------------------------------------------------------------
  private def q52(s: SparkSession, d: String): DataFrame = {
    val daily = Tables.events(s, d)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("c"))
    val w = Window.partitionBy("event_type").orderBy("day")
    val wAll = Window.partitionBy("event_type")
    val scored = daily
      .withColumn("k", row_number().over(w).cast("long"))
      .withColumn("pre", sum("c").over(w))
      .withColumn("n", count(lit(1)).over(wAll))
      .withColumn("total", sum("c").over(wAll))
      .filter(col("k") < col("n"))
      .withColumn("abs_t",
        abs(col("n") * col("pre") - col("k") * col("total")))
    val pick = Window.partitionBy("event_type")
      .orderBy(col("abs_t").desc, col("k"))
    scored.withColumn("rk", row_number().over(pick))
      .filter(col("rk") === 1)
      .select(col("event_type"), col("day").as("split_day"), col("k"),
        col("n").as("n_days"), col("abs_t").as("cusum_abs"),
        expr("(1000000L * pre) div k").as("mean_before_ppm"),
        expr("(1000000L * (total - pre)) div (n - k)")
          .as("mean_after_ppm"))
      .orderBy("event_type")
  }
  private val q52Sql =
    """WITH daily AS (
      |  SELECT event_type, CAST(ts AS DATE) AS day,
      |    CAST(COUNT(*) AS BIGINT) AS c
      |  FROM events GROUP BY 1, 2),
      |pre AS (
      |  SELECT event_type, day,
      |    CAST(ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY day)
      |      AS BIGINT) AS k,
      |    CAST(SUM(c) OVER (PARTITION BY event_type ORDER BY day)
      |      AS BIGINT) AS pre,
      |    CAST(COUNT(*) OVER (PARTITION BY event_type) AS BIGINT) AS n,
      |    CAST(SUM(c) OVER (PARTITION BY event_type) AS BIGINT) AS total
      |  FROM daily),
      |scored AS (
      |  SELECT *, ABS(n * pre - k * total) AS abs_t
      |  FROM pre WHERE k < n),
      |picked AS (
      |  SELECT *, ROW_NUMBER() OVER (PARTITION BY event_type
      |    ORDER BY abs_t DESC, k) AS rk
      |  FROM scored)
      |SELECT event_type, day AS split_day, k, n AS n_days,
      |  abs_t AS cusum_abs,
      |  (1000000 * pre) // k AS mean_before_ppm,
      |  (1000000 * (total - pre)) // (n - k) AS mean_after_ppm
      |FROM picked WHERE rk = 1 ORDER BY event_type""".stripMargin

  // ---------------------------------------------------------------------
  // Q53-ext — l-diversity audit: q49's companion. k-anonymity bounds
  // how FEW people share a quasi-identifier class; l-diversity bounds
  // how UNIFORM the sensitive attribute is within it (a k=50 class
  // where all 50 share one diagnosis still leaks it). Same QI grain
  // as q49 (segment, nation, balance band), sensitive attribute =
  // order priority reached through the keyed customer→orders join;
  // a class is diverse iff it carries ≥ l = 3 DISTINCT priorities.
  // Scale: the join is keyed on custkey (AQE picks the build side),
  // the class agg contracts to the QI grain before the per-segment
  // rollup — the same two contracting keyed shuffles as q49 plus the
  // join. countDistinct stays exact: the sensitive domain is 5
  // values, so the distinct expansion is bounded per class.
  // ---------------------------------------------------------------------
  private def q53(s: SparkSession, d: String): DataFrame = {
    val l = 3L
    val joined = Tables.customer(s, d)
      .join(Tables.orders(s, d),
        col("c_custkey") === col("o_custkey"))
    val classes = joined
      .groupBy(col("c_mktsegment"), col("c_nationkey"),
        floor(col("c_acctbal") / 100.0).as("bal_band"))
      .agg(count(lit(1)).as("n"),
        countDistinct(col("o_orderpriority")).as("ldiv"))
    classes.groupBy(col("c_mktsegment"))
      .agg(sum(col("n")).as("n_rows"),
        count(lit(1)).as("n_classes"),
        min(col("ldiv")).as("min_diversity"),
        sum(when(col("ldiv") < l, 1L).otherwise(0L))
          .as("classes_below_l"),
        sum(when(col("ldiv") < l, col("n")).otherwise(0L))
          .as("rows_below_l"))
      .withColumn("risk_frac",
        round(col("rows_below_l").cast("double") /
          col("n_rows").cast("double"), 4))
      .orderBy("c_mktsegment")
  }
  private val q53Sql =
    """WITH classes AS (
      |  SELECT c_mktsegment, c_nationkey,
      |    FLOOR(c_acctbal / 100.0) AS bal_band,
      |    CAST(COUNT(*) AS BIGINT) AS n,
      |    CAST(COUNT(DISTINCT o_orderpriority) AS BIGINT) AS ldiv
      |  FROM customer JOIN orders ON c_custkey = o_custkey
      |  GROUP BY 1, 2, 3)
      |SELECT c_mktsegment,
      |  CAST(SUM(n) AS BIGINT) AS n_rows,
      |  CAST(COUNT(*) AS BIGINT) AS n_classes,
      |  MIN(ldiv) AS min_diversity,
      |  CAST(SUM(CASE WHEN ldiv < 3 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS classes_below_l,
      |  CAST(SUM(CASE WHEN ldiv < 3 THEN n ELSE 0 END) AS BIGINT)
      |    AS rows_below_l,
      |  ROUND(CAST(SUM(CASE WHEN ldiv < 3 THEN n ELSE 0 END) AS DOUBLE)
      |    / CAST(SUM(n) AS DOUBLE), 4) AS risk_frac
      |FROM classes GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------------
  // X77-ext — compaction planning: the small-files maintenance pass a
  // lakehouse runs over its FILE INVENTORY (metadata-sized — one row
  // per file, never the data). Files (here: (source, doc_id % 4)
  // slices with their byte mass) are packed next-fit into 64 KiB
  // target bins by a running sum WITHIN each source — compaction is
  // per-table/partition, so the planning window partitions by source
  // and no global sort exists at any inventory size. Bin assignment
  // is pure integer arithmetic ((cum − 1) div target; a straddling
  // file belongs to the bin where its cumulative mass ends), so the
  // plan is bit-deterministic — the property that makes a compaction
  // job safely re-runnable after a driver failure. Per planned output
  // bin: inputs merged, byte mass, fill vs target in exact ppm.
  // ---------------------------------------------------------------------
  private val CompactTarget = 65536L

  private def x77(s: SparkSession, d: String): DataFrame = {
    val files = Tables.fanout(Tables.documents(s, d))
      .groupBy(col("source"), (col("doc_id") % 4).as("slice"))
      .agg(sum(col("n_chars")).as("bytes"))
    val w = Window.partitionBy("source").orderBy("slice")
    files
      .withColumn("cum", sum("bytes").over(w))
      .withColumn("bin", expr(s"(cum - 1) div ${CompactTarget}L"))
      .groupBy(col("source"), col("bin"))
      .agg(count(lit(1)).as("n_inputs"), sum(col("bytes")).as("bytes"))
      .withColumn("fill_ppm",
        expr(s"(1000000L * bytes) div ${CompactTarget}L"))
      .select("source", "bin", "n_inputs", "bytes", "fill_ppm")
      .orderBy("source", "bin")
  }
  private val x77Sql =
    s"""WITH files AS (
       |  SELECT source, doc_id % 4 AS slice,
       |    CAST(SUM(n_chars) AS BIGINT) AS bytes
       |  FROM documents GROUP BY 1, 2),
       |planned AS (
       |  SELECT source, slice, bytes,
       |    CAST(SUM(bytes) OVER (PARTITION BY source ORDER BY slice)
       |      AS BIGINT) AS cum
       |  FROM files)
       |SELECT source, (cum - 1) // $CompactTarget AS bin,
       |  CAST(COUNT(*) AS BIGINT) AS n_inputs,
       |  CAST(SUM(bytes) AS BIGINT) AS bytes,
       |  (1000000 * CAST(SUM(bytes) AS BIGINT)) // $CompactTarget
       |    AS fill_ppm
       |FROM planned GROUP BY 1, 2
       |ORDER BY source, bin""".stripMargin

  // ---------------------------------------------------------------------
  // Q54-ext — decile lift/gain table: the model-evaluation staple —
  // does ranking customers by balance concentrate the urgent-order
  // population into the top deciles, and by how much? Deciles come
  // from NTILE over (balance desc, custkey) — q22's pinned-parity
  // ranking — positives from an EXISTS-style semi-join flag
  // aggregated BEFORE ranking so each customer is one row. Lift is
  // exact ppm of ratios of BIGINT counts, cumulative gain from the
  // running sums over the bounded segment×decile relation. Scale: one
  // keyed join + one customer-grain agg + the PER-SEGMENT decile
  // window (q22's keyed-window discipline — no global sort);
  // everything after the first agg is |segments|×10 rows.
  // ---------------------------------------------------------------------
  private def q54(s: SparkSession, d: String): DataFrame = {
    val cust = Tables.customer(s, d)
      .join(Tables.orders(s, d).filter(
        col("o_orderpriority") === "1-URGENT")
        .select(col("o_custkey")).distinct()
        .withColumn("pos", lit(1L)),
        col("c_custkey") === col("o_custkey"), "left")
      .select(col("c_mktsegment"), col("c_custkey"), col("c_acctbal"),
        coalesce(col("pos"), lit(0L)).as("pos"))
    val ranked = cust.withColumn("decile",
      ntile(10).over(Window.partitionBy("c_mktsegment")
        .orderBy(col("c_acctbal").desc, col("c_custkey"))).cast("long"))
    val deciles = ranked.groupBy("c_mktsegment", "decile")
      .agg(count(lit(1)).as("n"), sum("pos").as("positives"))
    val w = Window.partitionBy("c_mktsegment").orderBy("decile")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = Window.partitionBy("c_mktsegment").orderBy("decile")
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    deciles
      .withColumn("cum_n", sum("n").over(w))
      .withColumn("cum_pos", sum("positives").over(w))
      .withColumn("total_n", sum("n").over(tot))
      .withColumn("total_pos", sum("positives").over(tot))
      .withColumn("rate_ppm", expr("(1000000L * positives) div n"))
      // lift numerator goes through DECIMAL(38,0): 10⁶·cum_pos·total_n
      // wraps BIGINT silently in Spark (DuckDB widens to HUGEINT and
      // would diverge) once cum_pos·total_n passes ~9.2e12 — a few
      // million customers per segment, i.e. guaranteed at 100 TB.
      .withColumn("lift_ppm", expr(
        "CAST((CAST(1000000 AS DECIMAL(38,0)) * cum_pos * total_n)" +
          " div (cum_n * total_pos) AS BIGINT)"))
      .withColumn("gain_ppm",
        expr("(1000000L * cum_pos) div total_pos"))
      .select("c_mktsegment", "decile", "n", "positives", "rate_ppm",
        "cum_n", "cum_pos", "lift_ppm", "gain_ppm")
      .orderBy("c_mktsegment", "decile")
  }
  private val q54Sql =
    """WITH cust AS (
      |  SELECT c_mktsegment, c_custkey, c_acctbal,
      |    CASE WHEN EXISTS (SELECT 1 FROM orders o
      |      WHERE o.o_custkey = c_custkey
      |        AND o.o_orderpriority = '1-URGENT')
      |    THEN 1 ELSE 0 END AS pos
      |  FROM customer),
      |ranked AS (
      |  SELECT *, CAST(NTILE(10) OVER (PARTITION BY c_mktsegment
      |    ORDER BY c_acctbal DESC, c_custkey) AS BIGINT) AS decile
      |  FROM cust),
      |deciles AS (
      |  SELECT c_mktsegment, decile, CAST(COUNT(*) AS BIGINT) AS n,
      |    CAST(SUM(pos) AS BIGINT) AS positives
      |  FROM ranked GROUP BY 1, 2),
      |cum AS (
      |  SELECT *,
      |    CAST(SUM(n) OVER wo AS BIGINT) AS cum_n,
      |    CAST(SUM(positives) OVER wo AS BIGINT) AS cum_pos,
      |    CAST(SUM(n) OVER ws AS BIGINT) AS total_n,
      |    CAST(SUM(positives) OVER ws AS BIGINT) AS total_pos
      |  FROM deciles
      |  WINDOW wo AS (PARTITION BY c_mktsegment ORDER BY decile
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
      |  ws AS (PARTITION BY c_mktsegment))
      |SELECT c_mktsegment, decile, n, positives,
      |  (1000000 * positives) // n AS rate_ppm,
      |  cum_n, cum_pos,
      |  CAST((CAST(1000000 AS HUGEINT) * cum_pos * total_n)
      |    // (cum_n * total_pos) AS BIGINT) AS lift_ppm,
      |  (1000000 * cum_pos) // total_pos AS gain_ppm
      |FROM cum ORDER BY c_mktsegment, decile""".stripMargin

  // ---------------------------------------------------------------------
  // Q55-ext — Spearman rank correlation (q35's robust sibling): does
  // customer balance RANK-correlate with order spend, per segment?
  // Ranks come from row_number over the repo's total-order discipline
  // (value, custkey) — a deterministic permutation, no ties by
  // construction — so the classic ρ = 1 − 6Σd²/(n(n²−1)) identity is
  // EXACT rational arithmetic: Σd² accumulates in DECIMAL(38,0)
  // (n³-scale sums overflow BIGINT long before 100 TB; DuckDB's
  // HUGEINT widens silently — parity demands the explicit decimal),
  // and ρ lands as exact fixed-point ppm via integral division on
  // both sides. Scale: one keyed join + customer-grain agg, two
  // row_number passes sharing the per-segment partitioning, one
  // contracting segment agg. Pearson-on-values is q35; this is the
  // outlier-robust twin an analyst reaches for when spend is
  // heavy-tailed.
  // ---------------------------------------------------------------------
  private def q55(s: SparkSession, d: String): DataFrame = {
    val spend = Tables.orders(s, d)
      .groupBy(col("o_custkey"))
      .agg(sum(col("o_totalprice").cast("decimal(18,2)")).as("spend"))
    val cust = Tables.customer(s, d)
      .join(spend, col("c_custkey") === col("o_custkey"), "left")
      .select(col("c_mktsegment"), col("c_custkey"), col("c_acctbal"),
        coalesce(col("spend"), lit(0).cast("decimal(18,2)"))
          .as("spend"))
    val rx = Window.partitionBy("c_mktsegment")
      .orderBy(col("c_acctbal"), col("c_custkey"))
    val ry = Window.partitionBy("c_mktsegment")
      .orderBy(col("spend"), col("c_custkey"))
    cust
      .withColumn("rx", row_number().over(rx).cast("long"))
      .withColumn("ry", row_number().over(ry).cast("long"))
      .withColumn("d2", expr(
        "CAST((rx - ry) * (rx - ry) AS DECIMAL(38,0))"))
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n"), sum(col("d2")).as("sd2"))
      .withColumn("rho_ppm", expr(
        """CAST(1000000 - (6000000 * sd2)
          |div (CAST(n AS DECIMAL(38,0)) * (n * n - 1)) AS BIGINT)"""
          .stripMargin.replace("\n", " ")))
      .select(col("c_mktsegment"), col("n"),
        col("sd2").cast("string").as("sum_d2"), col("rho_ppm"))
      .orderBy("c_mktsegment")
  }
  private val q55Sql =
    """WITH spend AS (
      |  SELECT o_custkey,
      |    SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS spend
      |  FROM orders GROUP BY 1),
      |cust AS (
      |  SELECT c_mktsegment, c_custkey, c_acctbal,
      |    COALESCE(s.spend, CAST(0 AS DECIMAL(18,2))) AS spend
      |  FROM customer LEFT JOIN spend s ON o_custkey = c_custkey),
      |ranked AS (
      |  SELECT c_mktsegment,
      |    CAST(ROW_NUMBER() OVER (PARTITION BY c_mktsegment
      |      ORDER BY c_acctbal, c_custkey) AS BIGINT) AS rx,
      |    CAST(ROW_NUMBER() OVER (PARTITION BY c_mktsegment
      |      ORDER BY spend, c_custkey) AS BIGINT) AS ry
      |  FROM cust),
      |agg AS (
      |  SELECT c_mktsegment, CAST(COUNT(*) AS BIGINT) AS n,
      |    SUM((rx - ry) * (rx - ry)) AS sd2
      |  FROM ranked GROUP BY 1)
      |SELECT c_mktsegment, n, CAST(sd2 AS VARCHAR) AS sum_d2,
      |  CAST(1000000 - (6000000 * sd2)
      |    // (CAST(n AS HUGEINT) * (n * n - 1)) AS BIGINT) AS rho_ppm
      |FROM agg ORDER BY c_mktsegment""".stripMargin

  // ---------------------------------------------------------------------
  // Q57-ext — t-closeness: the third leg of the privacy triple
  // (k-anonymity q49 counts class sizes, l-diversity q53 counts
  // distinct sensitive values; t-closeness bounds how much a class's
  // SENSITIVE DISTRIBUTION leaks vs the global one). Quasi-id =
  // (nation, segment); sensitive = the ordered balance band
  // floor((bal+1000)/1000) ∈ 0..10 (IEEE-exact row-local banding —
  // q49's rule — m = 11 ordered bins). Distance is the ordered-EMD
  // t = (1/(m−1))·Σ_j |Σ_{i≤j}(p_i − q_i)|, computed as EXACT
  // integers by clearing denominators: per (class, band) the signed
  // diff is c_i·N − g_i·n (DECIMAL(38,0) — n·N-scale products wrap
  // BIGINT long before 100 TB), prefix-summed along the DENSE band
  // grid (unobserved cells folded in arithmetically, a33's rule —
  // a class missing a band still drifts by the global share), and
  // t lands as ppm integral division. Scale: two keyed partial aggs
  // (class×band, band) + an 11-row-per-class grid join + one
  // per-class window over 11 rows — nothing grows past
  // |classes|·m rows after the first agg.
  // ---------------------------------------------------------------------
  private val TCloseBands = 11
  private val TCloseBreachPpm = 200000L // t > 0.2 leaks

  private def q57(s: SparkSession, d: String): DataFrame = {
    val cust = Tables.customer(s, d).select(col("c_nationkey"),
      col("c_mktsegment"),
      floor((col("c_acctbal") + 1000.0) / 1000.0).cast("long").as("band"))
    val cls = cust.groupBy("c_nationkey", "c_mktsegment", "band")
      .agg(count(lit(1)).as("c")).cut(false) // grid + class totals
    val classes = cls.groupBy("c_nationkey", "c_mktsegment")
      .agg(sum("c").as("n_class"))
    val global = cls.groupBy("band").agg(sum("c").as("g"))
    val total = global.agg(sum("g").as("n_total"))
    val grid = classes
      .crossJoin(broadcast(
        total.select(explode(expr(s"sequence(0L, ${TCloseBands - 1}L)"))
          .as("band"), col("n_total"))))
      .join(global, Seq("band"), "left")
      .join(cls, Seq("c_nationkey", "c_mktsegment", "band"), "left")
      .select(col("c_nationkey"), col("c_mktsegment"), col("band"),
        col("n_class"), col("n_total"),
        coalesce(col("g"), lit(0L)).as("g"),
        coalesce(col("c"), lit(0L)).as("c"))
      .withColumn("diff", expr(
        "CAST(c AS DECIMAL(38,0)) * n_total" +
          " - CAST(g AS DECIMAL(38,0)) * n_class"))
    val w = Window.partitionBy("c_nationkey", "c_mktsegment")
      .orderBy("band")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    grid.withColumn("cum", sum("diff").over(w))
      .groupBy("c_nationkey", "c_mktsegment", "n_class", "n_total")
      .agg(sum(abs(col("cum"))).as("t_num"))
      .select(col("c_nationkey"), col("c_mktsegment"), col("n_class"),
        expr(s"CAST((CAST(1000000 AS DECIMAL(38,0)) * t_num) div" +
          s" (${TCloseBands - 1} * CAST(n_class AS DECIMAL(38,0))" +
          s" * n_total) AS BIGINT)").as("t_ppm"))
      .withColumn("breach", col("t_ppm") > TCloseBreachPpm)
      .orderBy("c_nationkey", "c_mktsegment")
  }
  private val q57Sql =
    s"""WITH cust AS (
       |  SELECT c_nationkey, c_mktsegment,
       |    CAST(FLOOR((c_acctbal + 1000.0) / 1000.0) AS BIGINT) AS band
       |  FROM customer),
       |cls AS (
       |  SELECT c_nationkey, c_mktsegment, band,
       |    CAST(COUNT(*) AS BIGINT) AS c
       |  FROM cust GROUP BY 1, 2, 3),
       |classes AS (
       |  SELECT c_nationkey, c_mktsegment,
       |    CAST(SUM(c) AS BIGINT) AS n_class
       |  FROM cls GROUP BY 1, 2),
       |global AS (SELECT band, CAST(SUM(c) AS BIGINT) AS g
       |           FROM cls GROUP BY 1),
       |total AS (SELECT CAST(SUM(g) AS BIGINT) AS n_total FROM global),
       |grid AS (
       |  SELECT cl.c_nationkey, cl.c_mktsegment, b.band, cl.n_class,
       |    t.n_total, COALESCE(g.g, 0) AS g, COALESCE(c.c, 0) AS c
       |  FROM classes cl
       |  CROSS JOIN (SELECT unnest(generate_series(0,
       |    ${TCloseBands - 1})) AS band) b
       |  CROSS JOIN total t
       |  LEFT JOIN global g ON g.band = b.band
       |  LEFT JOIN cls c ON c.c_nationkey = cl.c_nationkey
       |    AND c.c_mktsegment = cl.c_mktsegment AND c.band = b.band),
       |cum AS (
       |  SELECT c_nationkey, c_mktsegment, n_class, n_total,
       |    SUM(CAST(c AS HUGEINT) * n_total
       |        - CAST(g AS HUGEINT) * n_class)
       |      OVER (PARTITION BY c_nationkey, c_mktsegment
       |        ORDER BY band
       |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |      AS cum
       |  FROM grid)
       |SELECT c_nationkey, c_mktsegment, n_class,
       |  CAST((CAST(1000000 AS HUGEINT) * SUM(ABS(cum)))
       |    // (${TCloseBands - 1} * CAST(n_class AS HUGEINT) * n_total)
       |    AS BIGINT) AS t_ppm,
       |  CAST((CAST(1000000 AS HUGEINT) * SUM(ABS(cum)))
       |    // (${TCloseBands - 1} * CAST(n_class AS HUGEINT) * n_total)
       |    AS BIGINT) > $TCloseBreachPpm AS breach
       |FROM cum GROUP BY 1, 2, n_class, n_total
       |ORDER BY c_nationkey, c_mktsegment""".stripMargin

  val all: Seq[QueryDef] = Seq(
    QueryDef("q57_t_closeness", Some(q57Sql), q57),
    QueryDef("q55_spearman", Some(q55Sql), q55),
    QueryDef("q54_decile_lift", Some(q54Sql), q54),
    QueryDef("x77_compaction_plan", Some(x77Sql), x77),
    QueryDef("q53_l_diversity", Some(q53Sql), q53),
    QueryDef("q52_changepoint", Some(q52Sql), q52),
    QueryDef("q51_fd_discovery", Some(q51Sql), q51),
    QueryDef("x70_quota_apportion", Some(x70Sql), x70),
    QueryDef("x64_contribution_bound", Some(x64Sql), x64),
    QueryDef("x59_pagerank", Some(x59Sql), x59),
    QueryDef("x52_zorder_layout", Some(x52Sql), x52),
    QueryDef("q48_quantile_sketch_bound", Some(q48Sql), q48),
    QueryDef("q49_k_anonymity", Some(q49Sql), q49),
    QueryDef("x54_shard_rebalance", Some(x54Sql), x54),
    QueryDef("q19_grouping_sets", Some(q19Sql), q19),
    QueryDef("q20_set_ops", Some(q20Sql), q20),
    QueryDef("q21_exists_semijoin", Some(q21Sql), q21),
    QueryDef("q22_ntile_quartiles", Some(q22Sql), q22),
    QueryDef("q23_above_cust_avg", Some(q23Sql), q23),
    QueryDef("q24_argmax_profile", Some(q24Sql), q24),
    QueryDef("a10_running_total", Some(a10Sql), a10),
    QueryDef("j08_salted_agg", Some(j08Sql), j08),
    QueryDef("x25_incremental_dedup", Some(x25Sql), x25),
    QueryDef("q25_json_extract", Some(q25Sql), q25),
    QueryDef("q26_approx_distinct", None, q26),
    QueryDef("q26b_exact_distinct", Some(q26bSql), q26b),
    QueryDef("q26c_approx_bound", Some(q26cSql), q26c),
    QueryDef("q27_null_aware_anti", Some(q27Sql), q27),
    QueryDef("x26_epoch_shuffle", Some(x26Sql), x26),
    QueryDef("a11_topk_per_key", Some(a11Sql), a11),
    QueryDef("a12_range_frame", Some(a12Sql), a12),
    QueryDef("a13_forward_fill", Some(a13Sql), a13),
    QueryDef("x27_ngram_fluency", Some(x27Sql), x27),
    QueryDef("x28_snapshot_diff", Some(x28Sql), x28),
    QueryDef("j09_bloom_join", Some(j09Sql), j09),
    QueryDef("j10_scd2_asof", Some(j10Sql), j10),
    QueryDef("q28_relative_rank", Some(q28Sql), q28),
    QueryDef("j11_asof_native", Some(j11Sql), j11),
    QueryDef("j12_salted_join", Some(j12Sql), j12),
    QueryDef("j18_bucketed_join", Some(j18Sql), j18),
    QueryDef("x29_corpus_card", Some(x29Sql), x29),
    QueryDef("a14_wau", Some(a14Sql), a14),
    QueryDef("a15_cumulative_distinct", Some(a15Sql), a15),
    QueryDef("a16_retention_cohort", Some(a16Sql), a16),
    QueryDef("x30_temperature_mix", Some(x30Sql), x30),
    QueryDef("x34_token_budget_mix", Some(x34Sql), x34),
    QueryDef("t18_normalize", Some(t18Sql), t18)
  )
}
