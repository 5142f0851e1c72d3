package graft.queries

import graft.{Num, QueryDef, Tables}
import graft.etl.Checkpoints.CutOps
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The reference's SQL analytics surface (`validation.sql`, SURVEY.md §2.4
  * Q1–Q14) plus the dataflow join/agg operators (§2.3 J1–J5, A1–A5),
  * re-expressed over the driver testdata star schema.
  *
  * Scale notes baked into every query: filters sit directly on the scans
  * (parquet pushdown), dimensions are broadcast (`broadcast(dim)`), counts
  * use map-side partial aggregation, and double sums run through exact
  * decimal accumulation (see [[graft.Num]]) so results are deterministic
  * under any partitioning / AQE re-plan.
  */
object Relational {

  import Num.{davg, dsum, sqlDavg, sqlDsum}

  /** Cutoff for the "recent window" analytics (data spans 1995..2001; a
    * moving `current_date - 30` would be empty, so the window is fixed —
    * mirrors validation.sql:363-372's intent). */
  private val RecentCutoff = "2001-01-01 00:00:00"

  // ---------------------------------------------------------------------
  // Q1 — expected-vs-actual anti-join (validation.sql:16-46 CTE pattern)
  // ---------------------------------------------------------------------
  private def q01(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val expected = Seq("click", "view", "purchase", "signup", "error",
      "refund", "uninstall").toDF("expected_type")
    val actual = Tables.events(s, d).select($"event_type").distinct()
    // tiny `actual` side: broadcast the probe of the anti-join
    expected.join(broadcast(actual),
        $"expected_type" === $"event_type", "left_anti")
      .orderBy($"expected_type")
  }
  private val q01Sql =
    """WITH expected(expected_type) AS (
      |  VALUES ('click'),('view'),('purchase'),('signup'),('error'),
      |         ('refund'),('uninstall'))
      |SELECT e.expected_type FROM expected e
      |LEFT JOIN (SELECT DISTINCT event_type FROM events) a
      |  ON e.expected_type = a.event_type
      |WHERE a.event_type IS NULL
      |ORDER BY e.expected_type""".stripMargin

  // ---------------------------------------------------------------------
  // Q2 — PK uniqueness incl. composite PK (validation.sql:49-121)
  // ---------------------------------------------------------------------
  private def q02(s: SparkSession, d: String): DataFrame = {
    def chk(df: DataFrame, table: String, pk: Column): DataFrame =
      df.agg(count(lit(1)).as("total_rows"),
          countDistinct(pk).as("distinct_pk"))
        .select(lit(table).as("table_name"),
          col("total_rows"), col("distinct_pk"))
    val rows = Seq(
      chk(Tables.orders(s, d), "orders", col("o_orderkey")),
      chk(Tables.customer(s, d), "customer", col("c_custkey")),
      chk(Tables.part(s, d), "part", col("p_partkey")),
      chk(Tables.supplier(s, d), "supplier", col("s_suppkey")),
      // composite PK via concat, as validation.sql does with CONCAT(a,':',b)
      chk(Tables.lineitem(s, d), "lineitem",
        concat_ws(":", col("l_orderkey"), col("l_linenumber"))))
    rows.reduce(_ unionByName _)
      .withColumn("dup_count", col("total_rows") - col("distinct_pk"))
      .select("table_name", "total_rows", "distinct_pk", "dup_count")
      .orderBy("table_name")
  }
  private val q02Sql =
    """SELECT * FROM (
      |  SELECT 'orders' AS table_name, COUNT(*) AS total_rows,
      |         COUNT(DISTINCT o_orderkey) AS distinct_pk,
      |         COUNT(*) - COUNT(DISTINCT o_orderkey) AS dup_count FROM orders
      |  UNION ALL
      |  SELECT 'customer', COUNT(*), COUNT(DISTINCT c_custkey),
      |         COUNT(*) - COUNT(DISTINCT c_custkey) FROM customer
      |  UNION ALL
      |  SELECT 'part', COUNT(*), COUNT(DISTINCT p_partkey),
      |         COUNT(*) - COUNT(DISTINCT p_partkey) FROM part
      |  UNION ALL
      |  SELECT 'supplier', COUNT(*), COUNT(DISTINCT s_suppkey),
      |         COUNT(*) - COUNT(DISTINCT s_suppkey) FROM supplier
      |  UNION ALL
      |  SELECT 'lineitem', COUNT(*),
      |         COUNT(DISTINCT concat_ws(':', l_orderkey, l_linenumber)),
      |         COUNT(*) - COUNT(DISTINCT concat_ws(':', l_orderkey, l_linenumber))
      |  FROM lineitem
      |) ORDER BY table_name""".stripMargin

  // ---------------------------------------------------------------------
  // Q3 — FK orphan checks via anti-join (validation.sql:124-223)
  // ---------------------------------------------------------------------
  private def q03(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    def orphans(name: String, fact: DataFrame, fk: String,
                dim: DataFrame, pk: String): DataFrame =
      fact.join(broadcast(dim.select(col(pk))),
          fact(fk) === col(pk), "left_anti")
        .agg(count(lit(1)).as("orphan_count"))
        .select(lit(name).as("relationship"), col("orphan_count"))
    val li = Tables.lineitem(s, d); val o = Tables.orders(s, d)
    val c = Tables.customer(s, d); val n = Tables.nation(s, d)
    val r = Tables.region(s, d);  val sup = Tables.supplier(s, d)
    val p = Tables.part(s, d);    val ev = Tables.events(s, d)
    Seq(
      orphans("lineitem->orders", li, "l_orderkey", o, "o_orderkey"),
      orphans("lineitem->part", li, "l_partkey", p, "p_partkey"),
      orphans("lineitem->supplier", li, "l_suppkey", sup, "s_suppkey"),
      orphans("orders->customer", o, "o_custkey", c, "c_custkey"),
      orphans("customer->nation", c, "c_nationkey", n, "n_nationkey"),
      orphans("nation->region", n, "n_regionkey", r, "r_regionkey"),
      // conditional orphan (validation.sql's `fk IS NOT NULL AND dim IS NULL`)
      orphans("events->customer", ev.filter($"user_id".isNotNull),
        "user_id", c, "c_custkey")
    ).reduce(_ unionByName _).orderBy("relationship")
  }
  private val q03Sql =
    """SELECT * FROM (
      |  SELECT 'lineitem->orders' AS relationship, COUNT(*) AS orphan_count
      |    FROM lineitem l LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
      |    WHERE o.o_orderkey IS NULL
      |  UNION ALL
      |  SELECT 'lineitem->part', COUNT(*) FROM lineitem l
      |    LEFT JOIN part p ON l.l_partkey = p.p_partkey
      |    WHERE p.p_partkey IS NULL
      |  UNION ALL
      |  SELECT 'lineitem->supplier', COUNT(*) FROM lineitem l
      |    LEFT JOIN supplier s ON l.l_suppkey = s.s_suppkey
      |    WHERE s.s_suppkey IS NULL
      |  UNION ALL
      |  SELECT 'orders->customer', COUNT(*) FROM orders o
      |    LEFT JOIN customer c ON o.o_custkey = c.c_custkey
      |    WHERE c.c_custkey IS NULL
      |  UNION ALL
      |  SELECT 'customer->nation', COUNT(*) FROM customer c
      |    LEFT JOIN nation n ON c.c_nationkey = n.n_nationkey
      |    WHERE n.n_nationkey IS NULL
      |  UNION ALL
      |  SELECT 'nation->region', COUNT(*) FROM nation n
      |    LEFT JOIN region r ON n.n_regionkey = r.r_regionkey
      |    WHERE r.r_regionkey IS NULL
      |  UNION ALL
      |  SELECT 'events->customer', COUNT(*) FROM events e
      |    LEFT JOIN customer c ON e.user_id = c.c_custkey
      |    WHERE e.user_id IS NOT NULL AND c.c_custkey IS NULL
      |) ORDER BY relationship""".stripMargin

  // ---------------------------------------------------------------------
  // Q4 — NULL-violation counts (validation.sql:226-244)
  // ---------------------------------------------------------------------
  private def q04(s: SparkSession, d: String): DataFrame = {
    def nulls(df: DataFrame, table: String, c: String): DataFrame =
      df.filter(col(c).isNull)
        .agg(count(lit(1)).as("null_count"))
        .select(lit(s"$table.$c").as("column_name"), col("null_count"))
    Seq(
      nulls(Tables.orders(s, d), "orders", "o_custkey"),
      nulls(Tables.orders(s, d), "orders", "o_orderdate"),
      nulls(Tables.lineitem(s, d), "lineitem", "l_quantity"),
      nulls(Tables.customer(s, d), "customer", "c_name"),
      nulls(Tables.events(s, d), "events", "value"),
      nulls(Tables.documents(s, d), "documents", "text")
    ).reduce(_ unionByName _).orderBy("column_name")
  }
  private val q04Sql =
    """SELECT * FROM (
      |  SELECT 'orders.o_custkey' AS column_name, COUNT(*) AS null_count
      |    FROM orders WHERE o_custkey IS NULL
      |  UNION ALL SELECT 'orders.o_orderdate', COUNT(*)
      |    FROM orders WHERE o_orderdate IS NULL
      |  UNION ALL SELECT 'lineitem.l_quantity', COUNT(*)
      |    FROM lineitem WHERE l_quantity IS NULL
      |  UNION ALL SELECT 'customer.c_name', COUNT(*)
      |    FROM customer WHERE c_name IS NULL
      |  UNION ALL SELECT 'events.value', COUNT(*)
      |    FROM events WHERE value IS NULL
      |  UNION ALL SELECT 'documents.text', COUNT(*)
      |    FROM documents WHERE text IS NULL
      |) ORDER BY column_name""".stripMargin

  // ---------------------------------------------------------------------
  // Q5 — domain profiling / ordered string agg (validation.sql:249-256)
  // ---------------------------------------------------------------------
  private def q05(s: SparkSession, d: String): DataFrame = {
    def domain(df: DataFrame, attr: String, c: String): DataFrame =
      df.agg(array_join(array_sort(collect_set(col(c))), ",").as("domain"))
        .select(lit(attr).as("attribute"), col("domain"))
    Seq(
      domain(Tables.orders(s, d), "orders.o_orderstatus", "o_orderstatus"),
      domain(Tables.orders(s, d), "orders.o_orderpriority", "o_orderpriority"),
      domain(Tables.customer(s, d), "customer.c_mktsegment", "c_mktsegment"),
      domain(Tables.events(s, d), "events.event_type", "event_type"),
      domain(Tables.lineitem(s, d), "lineitem.l_returnflag", "l_returnflag"),
      domain(Tables.documents(s, d), "documents.lang", "lang")
    ).reduce(_ unionByName _).orderBy("attribute")
  }
  private val q05Sql =
    """SELECT * FROM (
      |  SELECT 'orders.o_orderstatus' AS attribute,
      |         (SELECT string_agg(v, ',' ORDER BY v)
      |            FROM (SELECT DISTINCT o_orderstatus AS v FROM orders)) AS domain
      |  UNION ALL SELECT 'orders.o_orderpriority',
      |         (SELECT string_agg(v, ',' ORDER BY v)
      |            FROM (SELECT DISTINCT o_orderpriority AS v FROM orders))
      |  UNION ALL SELECT 'customer.c_mktsegment',
      |         (SELECT string_agg(v, ',' ORDER BY v)
      |            FROM (SELECT DISTINCT c_mktsegment AS v FROM customer))
      |  UNION ALL SELECT 'events.event_type',
      |         (SELECT string_agg(v, ',' ORDER BY v)
      |            FROM (SELECT DISTINCT event_type AS v FROM events))
      |  UNION ALL SELECT 'lineitem.l_returnflag',
      |         (SELECT string_agg(v, ',' ORDER BY v)
      |            FROM (SELECT DISTINCT l_returnflag AS v FROM lineitem))
      |  UNION ALL SELECT 'documents.lang',
      |         (SELECT string_agg(v, ',' ORDER BY v)
      |            FROM (SELECT DISTINCT lang AS v FROM documents))
      |) ORDER BY attribute""".stripMargin

  // ---------------------------------------------------------------------
  // Q6 — conditional-aggregation range checks (validation.sql:259-291)
  // Bounds are engine constants, as the reference's @MIN_*/@MAX_* vars.
  // ---------------------------------------------------------------------
  private def q06(s: SparkSession, d: String): DataFrame = {
    def rng(df: DataFrame, rule: String, viol: Column): DataFrame =
      df.agg(sum(when(viol, 1).otherwise(0)).as("violations"))
        .select(lit(rule).as("rule"), col("violations"))
    Seq(
      rng(Tables.lineitem(s, d), "l_quantity in [1,50]",
        !col("l_quantity").between(1, 50) && col("l_quantity").isNotNull),
      rng(Tables.lineitem(s, d), "l_discount in [0,0.1]",
        !col("l_discount").between(0.0, 0.1) && col("l_discount").isNotNull),
      rng(Tables.lineitem(s, d), "l_tax in [0,0.08]",
        !col("l_tax").between(0.0, 0.08) && col("l_tax").isNotNull),
      rng(Tables.orders(s, d), "o_totalprice > 0",
        !(col("o_totalprice") > 0) && col("o_totalprice").isNotNull),
      rng(Tables.customer(s, d), "c_acctbal in [-1000,10000]",
        !col("c_acctbal").between(-1000, 10000) && col("c_acctbal").isNotNull),
      rng(Tables.events(s, d), "value in [0,1000]",
        !col("value").between(0, 1000) && col("value").isNotNull)
    ).reduce(_ unionByName _).orderBy("rule")
  }
  private val q06Sql =
    """SELECT * FROM (
      |  SELECT 'l_quantity in [1,50]' AS rule,
      |    CAST(SUM(CASE WHEN NOT (l_quantity BETWEEN 1 AND 50)
      |             AND l_quantity IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS violations
      |  FROM lineitem
      |  UNION ALL SELECT 'l_discount in [0,0.1]',
      |    CAST(SUM(CASE WHEN NOT (l_discount BETWEEN 0.0 AND 0.1)
      |             AND l_discount IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) FROM lineitem
      |  UNION ALL SELECT 'l_tax in [0,0.08]',
      |    CAST(SUM(CASE WHEN NOT (l_tax BETWEEN 0.0 AND 0.08)
      |             AND l_tax IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) FROM lineitem
      |  UNION ALL SELECT 'o_totalprice > 0',
      |    CAST(SUM(CASE WHEN NOT (o_totalprice > 0)
      |             AND o_totalprice IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) FROM orders
      |  UNION ALL SELECT 'c_acctbal in [-1000,10000]',
      |    CAST(SUM(CASE WHEN NOT (c_acctbal BETWEEN -1000 AND 10000)
      |             AND c_acctbal IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) FROM customer
      |  UNION ALL SELECT 'value in [0,1000]',
      |    CAST(SUM(CASE WHEN NOT (value BETWEEN 0 AND 1000)
      |             AND value IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) FROM events
      |) ORDER BY rule""".stripMargin

  // ---------------------------------------------------------------------
  // Q7 — multi-way left-join coverage ratio (validation.sql:295-325)
  // ---------------------------------------------------------------------
  private def q07(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d)
    val o = Tables.orders(s, d).select("o_orderkey", "o_custkey")
    val c = Tables.customer(s, d).select("c_custkey", "c_nationkey")
    val n = Tables.nation(s, d).select("n_nationkey")
    // fact → 3 dims, all left joins. orders and customer grow linearly
    // with sf, so they are NOT broadcast — AQE picks broadcast when the
    // runtime side fits and shuffle-hash otherwise. Only the fixed-25-row
    // nation dim gets an unconditional broadcast hint.
    li.select("l_orderkey")
      .join(o, col("l_orderkey") === col("o_orderkey"), "left")
      .join(c, col("o_custkey") === col("c_custkey"), "left")
      .join(broadcast(n), col("c_nationkey") === col("n_nationkey"), "left")
      .agg(
        round(lit(100.0) *
          sum(when(col("o_orderkey").isNotNull &&
                   col("c_custkey").isNotNull &&
                   col("n_nationkey").isNotNull, 1).otherwise(0))
            .cast("double") / count(lit(1)).cast("double"), 2)
          .as("coverage_pct"),
        count(lit(1)).as("fact_rows"))
  }
  private val q07Sql =
    """SELECT
      |  ROUND(100.0 * CAST(SUM(CASE WHEN o.o_orderkey IS NOT NULL
      |        AND c.c_custkey IS NOT NULL
      |        AND n.n_nationkey IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
      |      / CAST(COUNT(*) AS DOUBLE), 2) AS coverage_pct,
      |  COUNT(*) AS fact_rows
      |FROM lineitem l
      |LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
      |LEFT JOIN customer c ON o.o_custkey = c.c_custkey
      |LEFT JOIN nation n ON c.c_nationkey = n.n_nationkey""".stripMargin

  // ---------------------------------------------------------------------
  // Q8 — distribution stats (validation.sql:329-359)
  // ---------------------------------------------------------------------
  private def q08(s: SparkSession, d: String): DataFrame = {
    def stats(df: DataFrame, m: String, c: String): DataFrame =
      df.agg(
          min(col(c)).cast("double").as("min_v"),
          davg(col(c)).as("avg_v"),
          max(col(c)).cast("double").as("max_v"),
          count(col(c)).as("cnt"))
        .select(lit(m).as("measure"), col("min_v"), col("avg_v"),
          col("max_v"), col("cnt"))
    Seq(
      stats(Tables.lineitem(s, d), "l_quantity", "l_quantity"),
      stats(Tables.lineitem(s, d), "l_extendedprice", "l_extendedprice"),
      stats(Tables.orders(s, d), "o_totalprice", "o_totalprice"),
      stats(Tables.customer(s, d), "c_acctbal", "c_acctbal"),
      stats(Tables.events(s, d), "value", "value")
    ).reduce(_ unionByName _).orderBy("measure")
  }
  private val q08Sql = {
    def st(m: String, c: String, t: String) =
      s"""SELECT '$m' AS measure, CAST(MIN($c) AS DOUBLE) AS min_v,
         |  ${sqlDavg(c)} AS avg_v, CAST(MAX($c) AS DOUBLE) AS max_v,
         |  COUNT($c) AS cnt FROM $t""".stripMargin
    Seq(
      st("l_quantity", "l_quantity", "lineitem"),
      st("l_extendedprice", "l_extendedprice", "lineitem"),
      st("o_totalprice", "o_totalprice", "orders"),
      st("c_acctbal", "c_acctbal", "customer"),
      st("value", "value", "events")
    ).mkString("SELECT * FROM (\n", "\nUNION ALL ", "\n) ORDER BY measure")
  }

  // ---------------------------------------------------------------------
  // Q9 — FLAGSHIP: top-K by aggregated measure over a time window
  // (validation.sql:363-372) — scan→join→filter→agg→sort→limit spine.
  // ---------------------------------------------------------------------
  def q09(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d)
    val o = Tables.orders(s, d)
      .filter(col("o_orderdate") >= lit(RecentCutoff).cast("timestamp"))
      .select("o_orderkey", "o_custkey")
    val c = Tables.customer(s, d).select("c_custkey", "c_name")
    // No broadcast hint on customer: it grows with sf (driver OOM at
    // 100x). AQE broadcasts it at small sf from runtime stats anyway.
    li.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(c, col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_custkey"), col("c_name"))
      .agg(dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
        .as("revenue"))
      .orderBy(col("revenue").desc, col("c_custkey"))
      .limit(5)
  }
  private val q09Sql =
    s"""SELECT c.c_custkey, c.c_name,
       |  ${sqlDsum("l.l_extendedprice * (1.0 - l.l_discount)")} AS revenue
       |FROM lineitem l
       |JOIN orders o ON l.l_orderkey = o.o_orderkey
       |JOIN customer c ON o.o_custkey = c.c_custkey
       |WHERE o.o_orderdate >= TIMESTAMP '$RecentCutoff'
       |GROUP BY c.c_custkey, c.c_name
       |ORDER BY revenue DESC, c.c_custkey LIMIT 5""".stripMargin

  // ---------------------------------------------------------------------
  // Q10 — multi-level monthly rollup report (validation.sql:374-385)
  // ---------------------------------------------------------------------
  private def q10(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d)
    o.groupBy(col("o_custkey"),
        year(col("o_orderdate")).as("yr"),
        month(col("o_orderdate")).as("mon"))
      .agg(davg(col("o_totalprice")).as("avg_price"),
           count(lit(1)).as("n_orders"))
      .orderBy(col("o_custkey"), col("yr"), col("mon"))
      .limit(10)
  }
  private val q10Sql =
    s"""SELECT o_custkey, year(o_orderdate) AS yr, month(o_orderdate) AS mon,
       |  ${sqlDavg("o_totalprice")} AS avg_price, COUNT(*) AS n_orders
       |FROM orders GROUP BY 1, 2, 3
       |ORDER BY o_custkey, yr, mon LIMIT 10""".stripMargin

  // ---------------------------------------------------------------------
  // Q11 — categorical distribution via join (validation.sql:388-393)
  // ---------------------------------------------------------------------
  private def q11(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d).select("o_custkey")
    val c = Tables.customer(s, d).select("c_custkey", "c_mktsegment")
    // customer grows with sf — no broadcast hint; AQE decides at runtime.
    o.join(c, col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_orders"))
      .orderBy(col("n_orders").desc, col("c_mktsegment"))
  }
  private val q11Sql =
    """SELECT c.c_mktsegment, COUNT(*) AS n_orders
      |FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      |GROUP BY c.c_mktsegment
      |ORDER BY n_orders DESC, c.c_mktsegment""".stripMargin

  // ---------------------------------------------------------------------
  // Q13 — violations materialization (validation.sql:407-455): every rule
  // as one row; non-zero rows are the violations table.
  // ---------------------------------------------------------------------
  private def q13(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d)
    val rules = Seq(
      li.join(broadcast(Tables.orders(s, d).select("o_orderkey")),
          col("l_orderkey") === col("o_orderkey"), "left_anti")
        .agg(count(lit(1)).as("violation_count"))
        .select(lit("orphan lineitem.orderkey").as("rule"),
          col("violation_count")),
      li.filter(!col("l_quantity").between(1, 50))
        .agg(count(lit(1)).as("violation_count"))
        .select(lit("range l_quantity").as("rule"), col("violation_count")),
      Tables.orders(s, d).filter(col("o_custkey").isNull)
        .agg(count(lit(1)).as("violation_count"))
        .select(lit("null o_custkey").as("rule"), col("violation_count")),
      Tables.customer(s, d)
        .groupBy(col("c_custkey")).agg(count(lit(1)).as("n"))
        .filter(col("n") > 1)
        .agg(count(lit(1)).as("violation_count"))
        .select(lit("dup c_custkey").as("rule"), col("violation_count"))
    )
    rules.reduce(_ unionByName _)
      .withColumn("passed", col("violation_count") === 0)
      .orderBy("rule")
  }
  private val q13Sql =
    """SELECT rule, violation_count, violation_count = 0 AS passed FROM (
      |  SELECT 'orphan lineitem.orderkey' AS rule, COUNT(*) AS violation_count
      |    FROM lineitem l LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
      |    WHERE o.o_orderkey IS NULL
      |  UNION ALL SELECT 'range l_quantity', COUNT(*) FROM lineitem
      |    WHERE NOT (l_quantity BETWEEN 1 AND 50)
      |  UNION ALL SELECT 'null o_custkey', COUNT(*) FROM orders
      |    WHERE o_custkey IS NULL
      |  UNION ALL SELECT 'dup c_custkey', COUNT(*) FROM (
      |    SELECT c_custkey FROM customer GROUP BY c_custkey HAVING COUNT(*) > 1)
      |) ORDER BY rule""".stripMargin

  // ---------------------------------------------------------------------
  // Q14 — run summary via scalar subqueries (validation.sql:458-462)
  // ---------------------------------------------------------------------
  private def q14(s: SparkSession, d: String): DataFrame = {
    val nOrders = Tables.orders(s, d).agg(count(lit(1)).as("total_orders"))
    val nLi = Tables.lineitem(s, d).agg(count(lit(1)).as("total_lineitems"),
      dsum(col("l_extendedprice")).as("gross_revenue"))
    val nCust = Tables.customer(s, d).agg(count(lit(1)).as("total_customers"))
    nOrders.crossJoin(nLi).crossJoin(nCust)
  }
  private val q14Sql =
    s"""SELECT
       |  (SELECT COUNT(*) FROM orders) AS total_orders,
       |  (SELECT COUNT(*) FROM lineitem) AS total_lineitems,
       |  (SELECT ${sqlDsum("l_extendedprice")} FROM lineitem) AS gross_revenue,
       |  (SELECT COUNT(*) FROM customer) AS total_customers""".stripMargin

  // ---------------------------------------------------------------------
  // J1 — composite-key entity resolution (main_etl_pipeline.py:161-287):
  // profile hash → window dedup with deterministic survivor → minted keys.
  // At scale: one shuffle on the hash; no driver-side loop, no sequential
  // counter — row_number over the deduped set replaces `next_user_id`.
  // ---------------------------------------------------------------------
  private def j01(s: SparkSession, d: String): DataFrame = {
    val c = Tables.customer(s, d)
    val hashed = c.withColumn("profile_hash",
      concat_ws("_", col("c_mktsegment"), col("c_nationkey"),
        round(col("c_acctbal"), -2).cast("long")))
    val wDedup = Window.partitionBy(col("profile_hash"))
      .orderBy(col("c_custkey"))
    val canonical = hashed
      .withColumn("rn", row_number().over(wDedup))
      .withColumn("n_matched",
        count(lit(1)).over(Window.partitionBy(col("profile_hash"))))
      .filter(col("rn") === 1)
    // two-phase distributed numbering — no global single-partition window
    graft.etl.EntityResolution.mintKeys(canonical, "user_key",
        col("profile_hash"))
      .select(col("user_key"), col("profile_hash"),
        col("c_custkey").as("canonical_custkey"), col("n_matched"))
      .orderBy("user_key")
  }
  private val j01Sql =
    """WITH hashed AS (
      |  SELECT c_custkey, concat_ws('_', c_mktsegment, c_nationkey,
      |           CAST(ROUND(c_acctbal, -2) AS BIGINT)) AS profile_hash
      |  FROM customer),
      |dedup AS (
      |  SELECT c_custkey, profile_hash,
      |    ROW_NUMBER() OVER (PARTITION BY profile_hash ORDER BY c_custkey) AS rn,
      |    COUNT(*) OVER (PARTITION BY profile_hash) AS n_matched
      |  FROM hashed)
      |SELECT ROW_NUMBER() OVER (ORDER BY profile_hash) AS user_key,
      |       profile_hash, c_custkey AS canonical_custkey, n_matched
      |FROM dedup WHERE rn = 1 ORDER BY user_key""".stripMargin

  // ---------------------------------------------------------------------
  // J2 — broadcast dimension lookups during fact build
  // (main_etl_pipeline.py:465-471 dict probes → broadcast hash joins)
  // ---------------------------------------------------------------------
  private def j02(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d)
    val p = Tables.part(s, d).select("p_partkey", "p_brand")
    val sup = Tables.supplier(s, d).select("s_suppkey", "s_name")
    // part/supplier grow with sf — no unconditional broadcast hint; AQE
    // picks broadcast from runtime sizes while they fit (which realizes
    // the reference's dict-lookup J2 shape) and degrades to shuffle
    // joins at scale instead of OOMing the driver
    li.join(p, col("l_partkey") === col("p_partkey"), "left")
      .join(sup, col("l_suppkey") === col("s_suppkey"), "left")
      .groupBy(col("p_brand"))
      .agg(dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
             .as("revenue"),
           count(lit(1)).as("n_lines"))
      .orderBy(col("p_brand"))
  }
  private val j02Sql =
    s"""SELECT p.p_brand,
       |  ${sqlDsum("l.l_extendedprice * (1.0 - l.l_discount)")} AS revenue,
       |  COUNT(*) AS n_lines
       |FROM lineitem l
       |LEFT JOIN part p ON l.l_partkey = p.p_partkey
       |LEFT JOIN supplier s ON l.l_suppkey = s.s_suppkey
       |GROUP BY p.p_brand ORDER BY p.p_brand""".stripMargin

  // ---------------------------------------------------------------------
  // J3+J4 — distinct-values dimension build with deterministic surrogate
  // keys (main_etl_pipeline.py:373-382)
  // ---------------------------------------------------------------------
  private def j03(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d)
    // two-phase minted keys (Warehouse.dimFromDistinct → mintKeys)
    graft.etl.Warehouse.dimFromDistinct(o, "o_orderpriority",
        "priority_key", "o_orderpriority")
      .orderBy("priority_key")
  }
  private val j03Sql =
    """SELECT ROW_NUMBER() OVER (ORDER BY o_orderpriority) AS priority_key,
      |       o_orderpriority
      |FROM (SELECT DISTINCT o_orderpriority FROM orders
      |      WHERE o_orderpriority IS NOT NULL)
      |ORDER BY priority_key""".stripMargin

  // ---------------------------------------------------------------------
  // J5-ext — SCD2 incremental dimension merge (etl.Scd2): the scale
  // answer to the reference's drop-and-rebuild load
  // (main_etl_pipeline.py:714-760). Scenario: customers seeded open
  // since 1992-01-01; an update snapshot as of 1995-06-01 resegments
  // every 6th key (→ close + new version), no-ops every other 3rd key
  // (→ idempotent pass-through), and inserts a new key per 50th
  // (→ fresh open row). The oracle constructs the expected state
  // directly, so every branch of the merge is value-checked.
  // ---------------------------------------------------------------------
  private def j04(s: SparkSession, d: String): DataFrame = {
    import graft.etl.Scd2
    val cust = Tables.customer(s, d)
      .select("c_custkey", "c_mktsegment", "c_acctbal")
    val current = Scd2.seed(cust, lit("1992-01-01"))
    val updates = cust.filter(col("c_custkey") % 3 === 0)
      .withColumn("c_mktsegment",
        when(col("c_custkey") % 6 === 0, lit("RESEGMENTED"))
          .otherwise(col("c_mktsegment")))
      // brand-new keys are NEGATED ids: provably absent from the real
      // key space at any scale (an additive offset can collide with
      // legitimate keys on larger data)
      .unionByName(cust.filter(col("c_custkey") % 50 === 0)
        .select((-col("c_custkey") - 1).as("c_custkey"),
          lit("NEWKEY").as("c_mktsegment"),
          lit(0.0).as("c_acctbal")))
    Scd2.merge(current, updates, Seq("c_custkey"),
        Seq("c_mktsegment", "c_acctbal"),
        lit("1995-06-01").cast(org.apache.spark.sql.types.DateType))
      .orderBy("c_custkey", "effective_from")
  }
  // ---------------------------------------------------------------------
  // J6-ext — as-of (point-in-time) join (etl.Asof): each purchase event
  // matched to the user's latest click at-or-before it. Spark has no
  // native ASOF JOIN; Asof.join is the linear union+window formulation
  // (one key shuffle — never the O(|L|·|R|) inequality-join pair blowup).
  // Timestamps compare at microsecond grain in BOTH dialects (events.ts
  // is nanos parquet; Spark truncates to micros at read).
  // ---------------------------------------------------------------------
  private def j05(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    val clicks = ev.filter(col("event_type") === "click")
      .groupBy("user_id", "ts").agg(max("event_id").as("click_id"))
    val purch = ev.filter(col("event_type") === "purchase")
      .select("event_id", "user_id", "ts", "value")
    graft.etl.Asof.join(purch, clicks, Seq("user_id"), "ts", "ts")
      .select(col("event_id"), col("user_id"),
        unix_micros(col("ts")).as("ts_us"), col("value"),
        unix_micros(col("asof_ts")).as("asof_ts_us"),
        col("asof_click_id").as("click_id"))
      .orderBy("event_id")
  }
  private val j05Sql =
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
  // J14 — FORWARD as-of join (pandas/polars direction='forward'): for
  // each purchase, the first click at-or-after it per user — the
  // next-touch attribution / time-to-next-event twin of j05's
  // backward lookup. Same linear union+window plan, sort descending;
  // the oracle ranks candidates ascending (ctus >= ts) instead.
  // ---------------------------------------------------------------------
  private def j14(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    val clicks = ev.filter(col("event_type") === "click")
      .groupBy("user_id", "ts").agg(max("event_id").as("click_id"))
    val purch = ev.filter(col("event_type") === "purchase")
      .select("event_id", "user_id", "ts", "value")
    graft.etl.Asof.joinForward(purch, clicks, Seq("user_id"), "ts", "ts")
      .select(col("event_id"), col("user_id"),
        unix_micros(col("ts")).as("ts_us"), col("value"),
        unix_micros(col("asof_ts")).as("next_ts_us"),
        col("asof_click_id").as("next_click_id"))
      .orderBy("event_id")
  }
  private val j14Sql =
    """WITH clicks AS (
      |  SELECT user_id, epoch_us(ts) AS ctus, MAX(event_id) AS click_id
      |  FROM events WHERE event_type = 'click' GROUP BY 1, 2),
      |purch AS (
      |  SELECT event_id, user_id, epoch_us(ts) AS ts_us, value
      |  FROM events WHERE event_type = 'purchase'),
      |ranked AS (
      |  SELECT p.event_id, p.user_id, p.ts_us, p.value,
      |         c.ctus AS next_ts_us, c.click_id AS next_click_id,
      |         ROW_NUMBER() OVER (PARTITION BY p.event_id
      |                            ORDER BY c.ctus ASC) AS rn
      |  FROM purch p LEFT JOIN clicks c
      |    ON p.user_id = c.user_id AND c.ctus >= p.ts_us)
      |SELECT event_id, user_id, ts_us, value, next_ts_us, next_click_id
      |FROM ranked WHERE rn = 1 ORDER BY event_id""".stripMargin

  // ---------------------------------------------------------------------
  // J17 — as-of join with a TOLERANCE bound (pandas merge_asof
  // tolerance=): j05's last-touch attribution, but a click older than
  // one hour no longer counts — the staleness cutoff every real
  // attribution/telemetry join needs. Asof.join nulls the carried
  // match when its age exceeds the bound (correct by construction:
  // the LATEST click ≤ t is the nearest, so if IT is stale no older
  // one qualifies); the oracle ranks candidates under the same
  // predicate. Tolerance semantics on the native exec are pinned by
  // AsofJoinExecSpec; this row pins them through the DuckDB gate.
  // ---------------------------------------------------------------------
  private val AsofTolUs = 3600L * 1000000L

  private def j17(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    val clicks = ev.filter(col("event_type") === "click")
      .groupBy("user_id", "ts").agg(max("event_id").as("click_id"))
    val purch = ev.filter(col("event_type") === "purchase")
      .select("event_id", "user_id", "ts", "value")
    graft.etl.Asof.join(purch, clicks, Seq("user_id"), "ts", "ts",
        toleranceUs = Some(AsofTolUs))
      .select(col("event_id"), col("user_id"),
        unix_micros(col("ts")).as("ts_us"), col("value"),
        unix_micros(col("asof_ts")).as("asof_ts_us"),
        col("asof_click_id").as("click_id"))
      .orderBy("event_id")
  }
  private val j17Sql =
    s"""WITH clicks AS (
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
       |    ON p.user_id = c.user_id AND c.ctus <= p.ts_us
       |       AND p.ts_us - c.ctus <= $AsofTolUs)
       |SELECT event_id, user_id, ts_us, value, asof_ts_us, click_id
       |FROM ranked WHERE rn = 1 ORDER BY event_id""".stripMargin

  // ---------------------------------------------------------------------
  // J7-ext — range (interval-containment) join (etl.RangeJoin): orders
  // counted into per-supplier contract windows of varying length.
  // A raw BETWEEN join with no equality key plans as a nested-loop
  // cartesian; RangeJoin buckets the day axis (width 32) so it runs as
  // an ordinary hash equi-join + exact containment filter. Both
  // dialects compute windows from s_suppkey arithmetic on integer
  // epoch-days, so the oracle value-checks containment edges exactly.
  // Cost note: this scenario is DENSE by construction — every day is
  // covered by ~2% of all windows, so true matched pairs ≈ |orders| ×
  // 0.02·|windows| (≈300 M at sf1; measured 23 s, i.e. near the
  // comparison-count floor — the cost is the output, not the plan).
  // When only per-interval AGGREGATES are needed (as here), j07 below
  // computes the identical result via prefix sums in O(days + windows)
  // (0.7 s vs 23 s at sf1); the range JOIN operator is for when the
  // pairs themselves are needed.
  // ---------------------------------------------------------------------
  private def j06(s: SparkSession, d: String): DataFrame = {
    val epoch = lit("1970-01-01").cast(org.apache.spark.sql.types.DateType)
    val o = Tables.orders(s, d).select(col("o_orderkey"),
      col("o_totalprice"),
      datediff(col("o_orderdate"), epoch).cast("long").as("pd"))
    // windows spread across the events' 1995-2001 span: start =
    // 1995-01-01 + (suppkey*211 mod 2200) days, length = suppkey*37
    // mod 90 days (211/37 coprime to the span → no aliasing)
    val win = Tables.supplier(s, d).select(col("s_suppkey"),
      (datediff(lit("1995-01-01").cast(
          org.apache.spark.sql.types.DateType), epoch) +
        (col("s_suppkey") * 211) % 2200).cast("long").as("sd"))
      .withColumn("ed", col("sd") + (col("s_suppkey") * 37) % 90)
    graft.etl.RangeJoin
      .pointInInterval(o, win, "pd", "sd", "ed", bucketWidth = 32L)
      .groupBy(col("s_suppkey"))
      .agg(count(lit(1)).as("n_orders"),
        dsum(col("o_totalprice")).as("total_price"))
      .orderBy("s_suppkey")
  }
  private val j06Sql =
    s"""WITH win AS (
       |  SELECT s_suppkey,
       |    (DATE '1995-01-01' - DATE '1970-01-01')
       |      + (s_suppkey * 211) % 2200 AS sd,
       |    (DATE '1995-01-01' - DATE '1970-01-01')
       |      + (s_suppkey * 211) % 2200 + (s_suppkey * 37) % 90 AS ed
       |  FROM supplier),
       |pts AS (
       |  SELECT o_orderkey, o_totalprice,
       |         CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS pd
       |  FROM orders)
       |SELECT w.s_suppkey, COUNT(*) AS n_orders,
       |       ${sqlDsum("p.o_totalprice")} AS total_price
       |FROM pts p JOIN win w ON p.pd >= w.sd AND p.pd <= w.ed
       |GROUP BY w.s_suppkey ORDER BY w.s_suppkey""".stripMargin

  // ---------------------------------------------------------------------
  // J13 — interval×interval ANY-OVERLAP join (RangeJoin.intervalOverlap):
  // supplier service windows × a 10% customer-window sample, pairs where
  // the intervals overlap at all. The raw inequality predicate is a
  // BroadcastNestedLoopJoin at any cluster size; the operator explodes
  // both sides into fixed-width buckets and equi-joins on the bucket,
  // with exactly-once pair semantics from a first-shared-bucket FILTER
  // (the bucket containing the overlap's left edge) — no dedup shuffle.
  // Output is aggregated per supplier, so result size is bounded by the
  // supplier dim while the pair stream is the documented intermediate.
  // ---------------------------------------------------------------------
  private def j13(s: SparkSession, d: String): DataFrame = {
    val epoch = lit("1970-01-01").cast(org.apache.spark.sql.types.DateType)
    val base = datediff(lit("1995-01-01").cast(
      org.apache.spark.sql.types.DateType), epoch)
    val sup = Tables.supplier(s, d).select(col("s_suppkey"),
      (base + (col("s_suppkey") * 211) % 2200).cast("long").as("sd"))
      .withColumn("ed", col("sd") + (col("s_suppkey") * 37) % 90)
    val cust = Tables.customer(s, d)
      .filter(col("c_custkey") % 10 === 0)
      .select(col("c_custkey"),
        (base + (col("c_custkey") * 149) % 2200).cast("long").as("cs"))
      .withColumn("ce", col("cs") + (col("c_custkey") * 53) % 60)
    graft.etl.RangeJoin
      .intervalOverlap(sup, cust, "sd", "ed", "cs", "ce",
        bucketWidth = 64L)
      .groupBy(col("s_suppkey"))
      .agg(count(lit(1)).as("n_overlaps"),
        countDistinct(col("c_custkey")).as("n_customers"),
        sum(least(col("ed"), col("ce")) -
          greatest(col("sd"), col("cs")) + 1).as("overlap_days"))
      .orderBy("s_suppkey")
  }
  private val j13Sql =
    s"""WITH sup AS (
       |  SELECT s_suppkey,
       |    (DATE '1995-01-01' - DATE '1970-01-01')
       |      + (s_suppkey * 211) % 2200 AS sd,
       |    (DATE '1995-01-01' - DATE '1970-01-01')
       |      + (s_suppkey * 211) % 2200 + (s_suppkey * 37) % 90 AS ed
       |  FROM supplier),
       |cust AS (
       |  SELECT c_custkey,
       |    (DATE '1995-01-01' - DATE '1970-01-01')
       |      + (c_custkey * 149) % 2200 AS cs,
       |    (DATE '1995-01-01' - DATE '1970-01-01')
       |      + (c_custkey * 149) % 2200 + (c_custkey * 53) % 60 AS ce
       |  FROM customer WHERE c_custkey % 10 = 0)
       |SELECT s.s_suppkey, COUNT(*) AS n_overlaps,
       |  COUNT(DISTINCT c.c_custkey) AS n_customers,
       |  CAST(SUM(LEAST(s.ed, c.ce) - GREATEST(s.sd, c.cs) + 1)
       |    AS BIGINT) AS overlap_days
       |FROM sup s JOIN cust c ON s.sd <= c.ce AND c.cs <= s.ed
       |GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------------
  // J8-ext — interval aggregation via PREFIX SUMS: the scale shortcut
  // promised in j06's cost note, producing the IDENTICAL result (the
  // oracle SQL is literally j06's) without generating a single pair.
  // Orders pre-aggregate to day grain (bounded ≈2,400 rows at ANY fact
  // scale — the only unpartitioned window in the plan runs over this
  // tiny frame, not the fact table); exact-decimal cumulative sums are
  // probed at each window's [sd-1, ed] endpoints with RangeJoin (day
  // gaps become day intervals, so each probe hits exactly one row);
  // per-window totals are endpoint differences. Decimal subtraction is
  // exact, so the result is bit-identical to j06's direct dsum.
  // O(days + windows) vs j06's O(matched pairs) — at sf1 that is
  // ~25k probed rows vs ~300 M pairs.
  // ---------------------------------------------------------------------
  private def j07(s: SparkSession, d: String): DataFrame = {
    val epoch = lit("1970-01-01").cast(org.apache.spark.sql.types.DateType)
    val o = Tables.orders(s, d).select(
      datediff(col("o_orderdate"), epoch).cast("long").as("pd"),
      col("o_totalprice"))
    val daily = o.groupBy(col("pd")).agg(
      sum(col("o_totalprice").cast("decimal(28,6)")).as("day_price"),
      count(lit(1)).as("day_n"))
    // both windows are global over the DAY GRAIN only (≈2,400 rows at
    // any fact scale) — never over the fact table
    val wCum = Window.orderBy(col("pd"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // each day's cumulative row is valid until the next order day;
    // 32000 (~year 2057) bounds the final open interval
    val cum = daily.select(col("pd"),
      sum(col("day_price")).over(wCum).as("cum_price"),
      sum(col("day_n")).over(wCum).as("cum_n"),
      coalesce(lead(col("pd"), 1).over(Window.orderBy(col("pd"))) - 1,
        lit(32000L)).as("pd_end"))
    // sentinel: probes before the first order day read cumulative 0
    // (first_pd is a 1-row scalar — the BNLJ is bounded by construction)
    val firstPd = daily.agg(min(col("pd")).as("first_pd"))
    val cumFixed = cum
      .unionByName(s.range(1).crossJoin(firstPd).select(
        lit(-1L).as("pd"),
        lit(0).cast("decimal(38,6)").as("cum_price"),
        lit(0L).as("cum_n"),
        (col("first_pd") - 1).as("pd_end")))
    val win = Tables.supplier(s, d).select(col("s_suppkey"),
      (datediff(lit("1995-01-01").cast(
          org.apache.spark.sql.types.DateType), epoch) +
        (col("s_suppkey") * 211) % 2200).cast("long").as("sd"))
      .withColumn("ed", col("sd") + (col("s_suppkey") * 37) % 90)
    val probes = win.select(col("s_suppkey"),
      posexplode(array(col("sd") - 1, col("ed")))
        .as(Seq("which", "probe")))
    val probed = graft.etl.RangeJoin.pointInInterval(
      probes, cumFixed, "probe", "pd", "pd_end", bucketWidth = 64L)
    probed.groupBy(col("s_suppkey"))
      .agg(
        (max(when(col("which") === 1, col("cum_n"))) -
          max(when(col("which") === 0, col("cum_n")))).as("n_orders"),
        (max(when(col("which") === 1, col("cum_price"))) -
          max(when(col("which") === 0, col("cum_price"))))
          .cast("double").as("total_price"))
      .filter(col("n_orders") > 0)
      .orderBy("s_suppkey")
  }

  private val j04Sql =
    """SELECT * FROM (
      |  SELECT c_custkey, c_mktsegment, c_acctbal,
      |         DATE '1992-01-01' AS effective_from,
      |         CASE WHEN c_custkey % 6 = 0 THEN DATE '1995-06-01' END
      |           AS effective_to,
      |         c_custkey % 6 <> 0 AS is_current
      |  FROM customer
      |  UNION ALL
      |  SELECT c_custkey, 'RESEGMENTED', c_acctbal, DATE '1995-06-01',
      |         NULL, TRUE
      |  FROM customer WHERE c_custkey % 6 = 0
      |  UNION ALL
      |  SELECT -c_custkey - 1, 'NEWKEY', 0.0, DATE '1995-06-01',
      |         NULL, TRUE
      |  FROM customer WHERE c_custkey % 50 = 0
      |) ORDER BY c_custkey, effective_from""".stripMargin

  // ---------------------------------------------------------------------
  // A3 — unpivot/melt: one row → N metric rows (main_etl_pipeline.py:587-593)
  // Perf note: BENCH_r02 showed 28.9 s at sf0.1 — repeated in-process
  // runs put steady state at ~1 s (runs 2-5: 1.36/0.92/1.21/1.02 s); the
  // outlier was first-execution JIT compounded by the since-removed
  // -Xms8g/AlwaysPreTouch heap pre-fault. Plan is the expected single
  // scan → generate(stack) → range-sort; nothing to fix.
  // ---------------------------------------------------------------------
  private def a03(s: SparkSession, d: String): DataFrame = {
    // filter keeps the demo output bounded (the reference unpivots a
    // 33-row weight log, not a fact table); filter is pushed to the scan
    Tables.lineitem(s, d)
      .filter(col("l_orderkey") % 20 === 0)
      .select(col("l_orderkey"), col("l_linenumber"),
        expr("""stack(3, 'quantity', l_quantity,
                         'price', l_extendedprice,
                         'discount', l_discount) AS (metric, value)"""))
      .orderBy("l_orderkey", "l_linenumber", "metric")
  }
  private val a03Sql =
    """SELECT * FROM (
      |  SELECT l_orderkey, l_linenumber, 'quantity' AS metric,
      |         l_quantity AS value FROM lineitem WHERE l_orderkey % 20 = 0
      |  UNION ALL SELECT l_orderkey, l_linenumber, 'price', l_extendedprice
      |    FROM lineitem WHERE l_orderkey % 20 = 0
      |  UNION ALL SELECT l_orderkey, l_linenumber, 'discount', l_discount
      |    FROM lineitem WHERE l_orderkey % 20 = 0
      |) ORDER BY l_orderkey, l_linenumber, metric""".stripMargin

  // ---------------------------------------------------------------------
  // A1+A2 — per-entity daily rollup (sleep SUM / heartrate AVG analogue,
  // main_etl_pipeline.py:543,560) over the events table.
  // ---------------------------------------------------------------------
  private def a01(s: SparkSession, d: String): DataFrame = {
    Tables.events(s, d)
      .groupBy(col("user_id"), to_date(col("ts")).as("day"))
      .agg(dsum(col("value")).as("total_value"),
           davg(col("value")).as("avg_value"),
           count(lit(1)).as("n_events"))
      .orderBy("user_id", "day")
  }
  private val a01Sql =
    s"""SELECT user_id, CAST(ts AS DATE) AS day,
       |  ${sqlDsum("value")} AS total_value,
       |  ${sqlDavg("value")} AS avg_value,
       |  COUNT(*) AS n_events
       |FROM events GROUP BY 1, 2 ORDER BY user_id, day""".stripMargin

  // ---------------------------------------------------------------------
  // Q15-ext — exact interpolated percentiles per group WITHOUT per-group
  // value buffers. The r4 form used Spark's `percentile` object
  // aggregate, which materializes EVERY group value into (here) 3 merge
  // buffers — a scale-killer on a low-cardinality key. This form is
  // exact AND distributed: build a (group, value)→count histogram (one
  // codegen HashAggregate with map-side combine; shuffles only distinct
  // pairs), cumulative counts over the histogram (a window over
  // distinct-value-sized data), then rank-pick lo/hi and interpolate
  // with the repo-pinned lo + (hi − lo)·frac formula (see a29 — the
  // formula is replicated verbatim in the oracle so the last-ulp
  // divergence between engines' built-ins never enters).
  // A value v with cumulative range [cum_lo, cum_hi) covers 0-indexed
  // rank r iff cum_hi ≥ r+1, so v_lo = MIN(v | cum_hi ≥ ⌊k⌋+1) and
  // v_hi = MIN(v | cum_hi ≥ ⌊k⌋+2), k = (n−1)·p.
  // ---------------------------------------------------------------------
  /** Cumulative-count columns over a (group, value, count) histogram:
    * `cum_hi` = inclusive running count in value order, `nn` = group
    * total as double. The total comes from a groupBy + broadcast join
    * rather than an unbounded-frame window — the window form buffers
    * the whole partition a second time just to emit one number, and
    * the per-group sort tasks are already the serial section of this
    * plan (few groups ⇒ few sort tasks). Callers that read `hist`
    * more than once should localCheckpoint it first. Shared by
    * q15/q29/st08. */
  private[queries] def histCum(hist: DataFrame, grp: String, v: String): DataFrame = {
    val wCum = Window.partitionBy(grp).orderBy(v)
    val totals = hist.groupBy(col(grp))
      .agg(sum(col("c")).cast("double").as("nn"))
    hist.withColumn("cum_hi", sum(col("c")).over(wCum))
      .join(broadcast(totals), Seq(grp))
  }
  /** Interpolated percentile agg expression over histCum output. */
  private[queries] def histPct(p: Double, v: String): Column = {
    val k = (col("nn") - 1) * lit(p)
    val loIdx = floor(k).cast("long")
    val frac = k - floor(k)
    val lo = min(when(col("cum_hi") >= loIdx + 1, col(v)))
    val hi = coalesce(min(when(col("cum_hi") >= loIdx + 2, col(v))),
      min(when(col("cum_hi") >= loIdx + 1, col(v))))
    lo + (hi - lo) * min(frac)
  }
  /** Oracle-side twin of [[histPct]] (same ops, same order). */
  private[queries] def sqlHistPct(p: String, v: String): String =
    s"""MIN(CASE WHEN cum_hi >= FLOOR((nn - 1) * $p) + 1 THEN $v END)
       |  + (COALESCE(
       |      MIN(CASE WHEN cum_hi >= FLOOR((nn - 1) * $p) + 2 THEN $v
       |        END),
       |      MIN(CASE WHEN cum_hi >= FLOOR((nn - 1) * $p) + 1 THEN $v
       |        END))
       |    - MIN(CASE WHEN cum_hi >= FLOOR((nn - 1) * $p) + 1 THEN $v
       |        END))
       |    * MIN((nn - 1) * $p - FLOOR((nn - 1) * $p))""".stripMargin
  private def q15(s: SparkSession, d: String): DataFrame = {
    // lazy localCheckpoint: histCum reads the histogram twice (totals
    // + cumulative window); checkpointing makes that one lineitem scan
    // and one distinct-value-sized cache, not two scans.
    val hist = Tables.lineitem(s, d)
      .groupBy(col("l_returnflag"), col("l_extendedprice").as("x"))
      .agg(count(lit(1)).as("c"))
      .cut(false)
    histCum(hist, "l_returnflag", "x")
      .groupBy(col("l_returnflag"))
      .agg(histPct(0.5, "x").as("p50"), histPct(0.9, "x").as("p90"),
        histPct(0.99, "x").as("p99"))
      .orderBy("l_returnflag")
  }
  private val q15Sql =
    s"""WITH hist AS (
       |  SELECT l_returnflag, l_extendedprice AS x, COUNT(*) AS c
       |  FROM lineitem GROUP BY 1, 2),
       |cum AS (
       |  SELECT l_returnflag, x,
       |    SUM(c) OVER (PARTITION BY l_returnflag ORDER BY x) AS cum_hi,
       |    CAST(SUM(c) OVER (PARTITION BY l_returnflag) AS DOUBLE) AS nn
       |  FROM hist)
       |SELECT l_returnflag,
       |  ${sqlHistPct("0.5", "x")} AS p50,
       |  ${sqlHistPct("0.9", "x")} AS p90,
       |  ${sqlHistPct("0.99", "x")} AS p99
       |FROM cum GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------------
  // Q29 — robust outlier detection via median absolute deviation: the
  // heavy-tail-safe complement of q17's z-score (mean/stddev are
  // themselves dragged by the outliers they're meant to flag; median
  // and MAD are not). Both medians run on the q15 histogram path (no
  // per-group value buffers — exact AND distributed): median from the
  // (flag, price) histogram, then the deviation histogram re-keys the
  // SAME histogram on |x − med| (distinct-value-sized, never a row
  // scan), and the outlier count is a weighted sum over it. Lineage
  // recompute costs three column-pruned scans at bench scale
  // (measured equal to a localCheckpoint of the histogram, without
  // the storage interaction); at 100 TB persist histX once — it is
  // domain-bounded — and pay one.
  // ---------------------------------------------------------------------
  private def q29(s: SparkSession, d: String): DataFrame = {
    // Both histograms are read 2-3 times (totals, cumulative window,
    // re-key / final stats) — lazy localCheckpoints turn that into ONE
    // lineitem scan plus distinct-value-sized cached relations instead
    // of three full rescans through the lineage.
    val histX = Tables.lineitem(s, d)
      .groupBy(col("l_returnflag"), col("l_extendedprice").as("v"))
      .agg(count(lit(1)).as("c"))
      .cut(false) // 3 consumers: med's totals+window, histA
    val med = histCum(histX, "l_returnflag", "v")
      .groupBy(col("l_returnflag"))
      .agg(histPct(0.5, "v").as("med"))
    val histA = histX.join(broadcast(med), Seq("l_returnflag"))
      .select(col("l_returnflag"), abs(col("v") - col("med")).as("v"),
        col("c"))
      .groupBy(col("l_returnflag"), col("v"))
      .agg(sum(col("c")).as("c"))
      .cut(false) // 3 consumers: mad's totals+window, final stats
    val mad = histCum(histA, "l_returnflag", "v")
      .groupBy(col("l_returnflag"))
      .agg(histPct(0.5, "v").as("mad"))
    histA.join(broadcast(mad), Seq("l_returnflag"))
      .groupBy(col("l_returnflag"))
      .agg(sum(when(col("v") > col("mad") * 5.0, col("c")).otherwise(0L))
          .as("n_outliers"),
        sum(col("c")).as("n_rows"),
        max(col("mad")).as("mad"))
      .join(broadcast(med), Seq("l_returnflag"))
      .select(col("l_returnflag"), col("med").as("median_price"),
        col("mad"), col("n_outliers"), col("n_rows"))
      .orderBy("l_returnflag")
  }
  private val q29Sql =
    s"""WITH histx AS (
       |  SELECT l_returnflag, l_extendedprice AS v, COUNT(*) AS c
       |  FROM lineitem GROUP BY 1, 2),
       |cumx AS (
       |  SELECT l_returnflag, v,
       |    SUM(c) OVER (PARTITION BY l_returnflag ORDER BY v) AS cum_hi,
       |    CAST(SUM(c) OVER (PARTITION BY l_returnflag) AS DOUBLE) AS nn
       |  FROM histx),
       |med AS (
       |  SELECT l_returnflag, ${sqlHistPct("0.5", "v")} AS med
       |  FROM cumx GROUP BY 1),
       |hista AS (
       |  SELECT h.l_returnflag, ABS(h.v - m.med) AS v, SUM(h.c) AS c
       |  FROM histx h JOIN med m USING (l_returnflag) GROUP BY 1, 2),
       |cuma AS (
       |  SELECT l_returnflag, v,
       |    SUM(c) OVER (PARTITION BY l_returnflag ORDER BY v) AS cum_hi,
       |    CAST(SUM(c) OVER (PARTITION BY l_returnflag) AS DOUBLE) AS nn
       |  FROM hista),
       |mad AS (
       |  SELECT l_returnflag, ${sqlHistPct("0.5", "v")} AS mad
       |  FROM cuma GROUP BY 1)
       |SELECT h.l_returnflag, MAX(me.med) AS median_price,
       |  MAX(ma.mad) AS mad,
       |  CAST(SUM(CASE WHEN h.v > ma.mad * 5.0 THEN h.c ELSE 0 END)
       |    AS BIGINT) AS n_outliers,
       |  CAST(SUM(h.c) AS BIGINT) AS n_rows
       |FROM hista h JOIN mad ma USING (l_returnflag)
       |JOIN med me USING (l_returnflag)
       |GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------------
  // A7-ext — pivot (wide-from-long), the inverse of a03's unpivot: the
  // long (metric, value) rows come back as one column per metric with a
  // per-order SUM. Values are passed EXPLICITLY to pivot(): without
  // them Spark runs a driver-side distinct scan of the metric column
  // first — never do that at scale. With explicit values the plan is
  // plain conditional aggregation (one partial-agg shuffle), which is
  // also exactly what the oracle SQL spells out.
  // ---------------------------------------------------------------------
  private def a07(s: SparkSession, d: String): DataFrame = {
    Tables.lineitem(s, d)
      .filter(col("l_orderkey") % 20 === 0)
      .select(col("l_orderkey"), col("l_linenumber"),
        expr("""stack(3, 'quantity', l_quantity,
                         'price', l_extendedprice,
                         'discount', l_discount) AS (metric, value)"""))
      .groupBy(col("l_orderkey"))
      .pivot("metric", Seq("discount", "price", "quantity"))
      .agg(dsum(col("value")))
      .orderBy("l_orderkey")
  }
  private val a07Sql =
    s"""SELECT l_orderkey,
       |  ${sqlDsum("l_discount")} AS discount,
       |  ${sqlDsum("l_extendedprice")} AS price,
       |  ${sqlDsum("l_quantity")} AS quantity
       |FROM lineitem WHERE l_orderkey % 20 = 0
       |GROUP BY l_orderkey ORDER BY l_orderkey""".stripMargin

  // ---------------------------------------------------------------------
  // A6 — hourly-grain rollup (the fact_hourlyactivity transform,
  // Pipeline.scala: hourlyCalories → user-hour grain; EXCEEDS the
  // reference, which extracts hourlyCalories_merged.csv and drops it,
  // main_etl_pipeline.py:64). One partial-agg shuffle on
  // (user, day, hour); at scale the date filter prunes partitions.
  // ---------------------------------------------------------------------
  private def a06(s: SparkSession, d: String): DataFrame = {
    Tables.events(s, d)
      .groupBy(col("user_id"), to_date(col("ts")).as("day"),
        hour(col("ts")).as("hour_of_day"))
      .agg(dsum(col("value")).as("total_value"),
           count(lit(1)).as("n_events"))
      .orderBy("user_id", "day", "hour_of_day")
  }
  private val a06Sql =
    s"""SELECT user_id, CAST(ts AS DATE) AS day,
       |  EXTRACT(hour FROM ts) AS hour_of_day,
       |  ${sqlDsum("value")} AS total_value,
       |  COUNT(*) AS n_events
       |FROM events GROUP BY 1, 2, 3
       |ORDER BY user_id, day, hour_of_day""".stripMargin

  // ---------------------------------------------------------------------
  // A5 — union + distinct across sources (main_etl_pipeline.py:291-294)
  // ---------------------------------------------------------------------
  private def a05(s: SparkSession, d: String): DataFrame = {
    val c = Tables.customer(s, d).select(col("c_nationkey").as("nationkey"))
    val sup = Tables.supplier(s, d).select(col("s_nationkey").as("nationkey"))
    c.union(sup).distinct().orderBy("nationkey")
  }
  private val a05Sql =
    """SELECT DISTINCT nationkey FROM (
      |  SELECT c_nationkey AS nationkey FROM customer
      |  UNION ALL SELECT s_nationkey FROM supplier
      |) ORDER BY nationkey""".stripMargin

  // ---------------------------------------------------------------------
  // W1 — end-to-end star-schema build (SURVEY.md §3 E3 / §2.3): dims
  // from distincts with minted keys, fact rows resolved through
  // broadcast lookups — the reference's transform_data DAG shape, built
  // from the graft.etl.Warehouse library.
  // ---------------------------------------------------------------------
  private def w01(s: SparkSession, d: String): DataFrame = {
    import graft.etl.Warehouse
    val o = Tables.orders(s, d)
    val dimPriority = Warehouse.dimFromDistinct(o, "o_orderpriority",
      "priority_key", "priority_name")
    val dimStatus = Warehouse.dimFromDistinct(o, "o_orderstatus",
      "status_key", "status_name")
    val fact = Warehouse.lookupKey(
      Warehouse.lookupKey(o, col("o_orderpriority"), dimPriority,
        "priority_name", "priority_key"),
      col("o_orderstatus"), dimStatus, "status_name", "status_key")
    fact.select(col("o_orderkey"), col("priority_key"), col("status_key"),
        col("o_custkey").as("customer_key"),
        col("o_totalprice").as("total"))
      .orderBy("o_orderkey")
  }
  private val w01Sql =
    """WITH dp AS (
      |  SELECT ROW_NUMBER() OVER (ORDER BY priority_name) AS priority_key,
      |         priority_name
      |  FROM (SELECT DISTINCT o_orderpriority AS priority_name FROM orders
      |        WHERE o_orderpriority IS NOT NULL)),
      |ds AS (
      |  SELECT ROW_NUMBER() OVER (ORDER BY status_name) AS status_key,
      |         status_name
      |  FROM (SELECT DISTINCT o_orderstatus AS status_name FROM orders
      |        WHERE o_orderstatus IS NOT NULL))
      |SELECT o.o_orderkey, dp.priority_key, ds.status_key,
      |       o.o_custkey AS customer_key, o.o_totalprice AS total
      |FROM orders o
      |JOIN dp ON o.o_orderpriority = dp.priority_name
      |JOIN ds ON o.o_orderstatus = ds.status_name
      |ORDER BY o.o_orderkey""".stripMargin

  // ---------------------------------------------------------------------
  // Q16-ext — multi-level subtotals via ROLLUP (the reference's report
  // queries compute grand totals and per-group totals as separate
  // statements, validation.sql:318-372; ROLLUP folds year/status
  // subtotals + grand total into ONE partial-agg pass). CUBE / GROUPING
  // SETS are the same plan shape (Expand → partial agg → final agg) —
  // one scan feeds every grouping level, so at 100 TB this replaces N
  // report scans with 1. Rolled-up levels surface as NULL and are
  // labeled 'ALL' (the base columns are non-null in this schema).
  // ---------------------------------------------------------------------
  private def q16(s: SparkSession, d: String): DataFrame = {
    Tables.orders(s, d)
      .withColumn("order_year", year(col("o_orderdate")).cast("string"))
      .rollup(col("order_year"), col("o_orderstatus"))
      .agg(dsum(col("o_totalprice")).as("total"), count(lit(1)).as("n"))
      .select(coalesce(col("order_year"), lit("ALL")).as("order_year"),
        coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
        col("total"), col("n"))
      .orderBy("order_year", "status")
  }
  private val q16Sql =
    s"""SELECT COALESCE(order_year, 'ALL') AS order_year,
       |       COALESCE(status, 'ALL') AS status, total, n
       |FROM (
       |  SELECT CAST(EXTRACT(year FROM o_orderdate) AS VARCHAR) AS order_year,
       |         o_orderstatus AS status,
       |         ${sqlDsum("o_totalprice")} AS total, COUNT(*) AS n
       |  FROM orders GROUP BY ROLLUP(1, 2))
       |ORDER BY order_year, status""".stripMargin

  // ---------------------------------------------------------------------
  // Q17-ext — z-score outlier detection per event type. The per-group
  // moments (n, Σx, Σx²) accumulate through exact decimals (one
  // partial-agg shuffle, order-independent), so mean/σ — and therefore
  // the outlier set — are bit-identical under any partitioning. The
  // 7-row stats relation joins back broadcast (bounded by the event-type
  // domain, not by sf). At 100 TB this is the standard two-pass
  // anomaly scan: moments pass + flag pass, both full scans, no extra
  // shuffle of the fact side.
  // ---------------------------------------------------------------------
  private def q17(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    val dec = col("value").cast("decimal(28,6)")
    val stats = ev.groupBy(col("event_type").as("st_type"))
      .agg(count(lit(1)).as("n"), sum(dec).cast("double").as("sm"),
        sum(dec * dec).cast("double").as("sq"))
    val mean = col("sm") / col("n")
    val std = sqrt(greatest(col("sq") / col("n") - mean * mean, lit(0d)))
    ev.join(broadcast(stats), col("event_type") === col("st_type"))
      .filter(abs(col("value") - mean) > lit(3.0) * std)
      .groupBy("event_type").agg(count(lit(1)).as("n_outliers"))
      .orderBy("event_type")
  }
  private val q17Sql =
    """WITH s AS (
      |  SELECT event_type AS st_type, COUNT(*) AS n,
      |    CAST(CAST(SUM(CAST(value AS DECIMAL(28,6))) AS VARCHAR)
      |      AS DOUBLE) AS sm,
      |    CAST(CAST(SUM(CAST(value AS DECIMAL(28,6))
      |             * CAST(value AS DECIMAL(28,6))) AS VARCHAR)
      |      AS DOUBLE) AS sq
      |  FROM events GROUP BY 1)
      |SELECT e.event_type, COUNT(*) AS n_outliers
      |FROM events e JOIN s ON e.event_type = s.st_type
      |WHERE ABS(e.value - sm / n)
      |      > 3.0 * SQRT(GREATEST(sq / n - (sm / n) * (sm / n), 0))
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------------
  // Q30 — join-key skew profile: the diagnostic you run BEFORE pointing
  // a big join at a key (j08/j12's salting exists because of what this
  // query surfaces). Per-key counts, then a distributed top-10
  // (orderBy+limit = TakeOrdered — never a global window over the full
  // key domain), with each hot key's skew factor = its share of rows ×
  // the number of keys (1.0 = perfectly uniform). The scalar totals
  // row broadcasts.
  // ---------------------------------------------------------------------
  private def q30(s: SparkSession, d: String): DataFrame = {
    val cnts = Tables.lineitem(s, d)
      .groupBy(col("l_suppkey").as("key"))
      .agg(count(lit(1)).as("cnt"))
    val tot = cnts.agg(sum(col("cnt")).as("total_rows"),
      count(lit(1)).as("n_keys"))
    val top = cnts.orderBy(col("cnt").desc, col("key")).limit(10)
    top.crossJoin(broadcast(tot))
      .withColumn("rank", row_number().over(
        Window.orderBy(col("cnt").desc, col("key"))))
      .withColumn("skew", (col("cnt") * col("n_keys")).cast("double") /
        col("total_rows").cast("double"))
      .select("rank", "key", "cnt", "n_keys", "total_rows", "skew")
      .orderBy("rank")
  }
  private val q30Sql =
    """WITH c AS (
      |  SELECT l_suppkey AS key, CAST(COUNT(*) AS BIGINT) AS cnt
      |  FROM lineitem GROUP BY 1),
      |t AS (
      |  SELECT CAST(SUM(cnt) AS BIGINT) AS total_rows,
      |    CAST(COUNT(*) AS BIGINT) AS n_keys
      |  FROM c),
      |r AS (
      |  SELECT key, cnt,
      |    CAST(ROW_NUMBER() OVER (ORDER BY cnt DESC, key) AS BIGINT)
      |      AS rank
      |  FROM c)
      |SELECT rank, key, cnt, n_keys, total_rows,
      |  CAST(cnt * n_keys AS DOUBLE) / CAST(total_rows AS DOUBLE)
      |    AS skew
      |FROM r CROSS JOIN t WHERE rank <= 10 ORDER BY rank""".stripMargin

  // ---------------------------------------------------------------------
  // Q31 — join fan-out profile: the distribution of 1:N match counts
  // for the orders→lineitem join (q30 finds hot KEYS; this shows the
  // whole cardinality shape, including parents with ZERO children via
  // the left join — the two ways a join silently explodes or silently
  // drops). Two hash aggregates, output bounded by the max fan-out.
  // ---------------------------------------------------------------------
  private def q31(s: SparkSession, d: String): DataFrame = {
    Tables.orders(s, d).select(col("o_orderkey"))
      .join(Tables.lineitem(s, d).select(col("l_orderkey")),
        col("o_orderkey") === col("l_orderkey"), "left")
      .groupBy(col("o_orderkey"))
      .agg(count(col("l_orderkey")).as("fanout"))
      .groupBy(col("fanout"))
      .agg(count(lit(1)).as("n_orders"))
      .orderBy("fanout")
  }
  private val q31Sql =
    """WITH f AS (
      |  SELECT o.o_orderkey, CAST(COUNT(l.l_orderkey) AS BIGINT)
      |    AS fanout
      |  FROM orders o LEFT JOIN lineitem l
      |    ON o.o_orderkey = l.l_orderkey
      |  GROUP BY 1)
      |SELECT fanout, CAST(COUNT(*) AS BIGINT) AS n_orders
      |FROM f GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------------
  // A17 — equi-width histogram (20 bins over events.value): the
  // column-profiling aggregate behind every "distribution looks
  // sane?" data-quality gate. One O(1)-output min/max pre-pass
  // broadcasts; binning is a row-local floor — one shuffle total for
  // the bin counts. Per-bin min/max double back as the bin's observed
  // bounds (exact values, no derived-edge float arithmetic in the
  // output).
  // ---------------------------------------------------------------------
  private def a17(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d).select(col("value"))
    val st = ev.agg(min(col("value")).as("lo"), max(col("value")).as("hi"))
    ev.crossJoin(broadcast(st))
      .withColumn("bin", least(lit(19L),
        floor((col("value") - col("lo")) / (col("hi") - col("lo")) * 20)
          .cast("long")))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n"), min(col("value")).as("bin_min"),
        max(col("value")).as("bin_max"))
      .orderBy("bin")
  }
  private val a17Sql =
    """WITH s AS (SELECT MIN(value) AS lo, MAX(value) AS hi FROM events)
      |SELECT LEAST(19, CAST(FLOOR((value - lo) / (hi - lo) * 20)
      |    AS BIGINT)) AS bin,
      |  CAST(COUNT(*) AS BIGINT) AS n,
      |  MIN(value) AS bin_min, MAX(value) AS bin_max
      |FROM events CROSS JOIN s GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------------
  // A8-ext — trailing moving-window aggregates (7-slot rolling sum/avg
  // per user over the daily series). Two shuffles total: one partial agg
  // to daily grain, one window shuffle on user_id — the window sort is
  // per-user, never global. The frame sums DECIMALS (exact, any merge
  // order) and casts once at the end; avg is that double over the frame
  // row count, so Spark and the oracle agree bit-for-bit.
  // ---------------------------------------------------------------------
  private def a08(s: SparkSession, d: String): DataFrame = {
    val daily = Tables.events(s, d)
      .groupBy(col("user_id"), to_date(col("ts")).as("day"))
      .agg(sum(col("value").cast("decimal(28,6)")).as("dtotal"))
    val w = Window.partitionBy("user_id").orderBy("day").rowsBetween(-6, 0)
    daily.select(col("user_id"), col("day"),
        sum(col("dtotal")).over(w).cast("double").as("sum_7d"),
        (sum(col("dtotal")).over(w).cast("double") /
          count(lit(1)).over(w)).as("avg_7d"))
      .orderBy("user_id", "day")
  }
  private val a08Sql =
    """WITH daily AS (
      |  SELECT user_id, CAST(ts AS DATE) AS day,
      |         SUM(CAST(value AS DECIMAL(28,6))) AS dtotal
      |  FROM events GROUP BY 1, 2)
      |SELECT user_id, day,
      |  CAST(CAST(SUM(dtotal) OVER w AS VARCHAR) AS DOUBLE) AS sum_7d,
      |  CAST(CAST(SUM(dtotal) OVER w AS VARCHAR) AS DOUBLE)
      |    / COUNT(*) OVER w AS avg_7d
      |FROM daily
      |WINDOW w AS (PARTITION BY user_id ORDER BY day
      |             ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
      |ORDER BY user_id, day""".stripMargin

  // ---------------------------------------------------------------------
  // X21-ext — tombstone cascade (GDPR-style delete propagation): a
  // deletion list drives anti-joins through the FK graph — events and
  // orders directly, lineitem transitively through its surviving
  // orders. Per-table before/after counts audit the cascade. Scale
  // shape: the deletion list grows with sf, so NO broadcast hint (AQE
  // decides); each cascade hop is one keyed anti/semi join — the fact
  // tables shuffle once on their join key and nothing is collected.
  // ---------------------------------------------------------------------
  private def x21(s: SparkSession, d: String): DataFrame = {
    val del = Tables.customer(s, d).filter(col("c_custkey") % 50 === 0)
      .select(col("c_custkey").as("del_id"))
    val o = Tables.orders(s, d); val li = Tables.lineitem(s, d)
    val ev = Tables.events(s, d)
    val oAfter = o.join(del, o("o_custkey") === del("del_id"), "left_anti")
    val liAfter = li.join(oAfter.select("o_orderkey"),
      li("l_orderkey") === oAfter("o_orderkey"), "left_semi")
    val evAfter = ev.join(del, ev("user_id") === del("del_id"), "left_anti")
    def audit(name: String, before: DataFrame, after: DataFrame): DataFrame =
      before.agg(count(lit(1)).as("rows_before"))
        .crossJoin(after.agg(count(lit(1)).as("rows_after")))
        .select(lit(name).as("table_name"), col("rows_before"),
          col("rows_after"),
          (col("rows_before") - col("rows_after")).as("rows_deleted"))
    Seq(audit("events", ev, evAfter), audit("lineitem", li, liAfter),
        audit("orders", o, oAfter))
      .reduce(_ unionByName _).orderBy("table_name")
  }
  private val x21Sql =
    """WITH del AS (
      |  SELECT c_custkey AS del_id FROM customer WHERE c_custkey % 50 = 0),
      |o_after AS (
      |  SELECT * FROM orders o
      |  WHERE NOT EXISTS (SELECT 1 FROM del WHERE del_id = o.o_custkey)),
      |li_after AS (
      |  SELECT * FROM lineitem l
      |  WHERE EXISTS (SELECT 1 FROM o_after o
      |                WHERE o.o_orderkey = l.l_orderkey)),
      |ev_after AS (
      |  SELECT * FROM events e
      |  WHERE NOT EXISTS (SELECT 1 FROM del WHERE del_id = e.user_id))
      |SELECT * FROM (
      |  SELECT 'events' AS table_name,
      |         (SELECT COUNT(*) FROM events) AS rows_before,
      |         (SELECT COUNT(*) FROM ev_after) AS rows_after,
      |         (SELECT COUNT(*) FROM events)
      |           - (SELECT COUNT(*) FROM ev_after) AS rows_deleted
      |  UNION ALL
      |  SELECT 'lineitem', (SELECT COUNT(*) FROM lineitem),
      |         (SELECT COUNT(*) FROM li_after),
      |         (SELECT COUNT(*) FROM lineitem)
      |           - (SELECT COUNT(*) FROM li_after)
      |  UNION ALL
      |  SELECT 'orders', (SELECT COUNT(*) FROM orders),
      |         (SELECT COUNT(*) FROM o_after),
      |         (SELECT COUNT(*) FROM orders)
      |           - (SELECT COUNT(*) FROM o_after)
      |) ORDER BY table_name""".stripMargin

  // ---------------------------------------------------------------------
  // A9-ext — lead/lag day-over-day delta per user. Same two-shuffle
  // shape as a08 (daily partial agg + per-user window); the delta
  // subtracts DECIMALS (exact) and casts once, so first-row NULL and
  // every difference are bit-identical to the oracle.
  // ---------------------------------------------------------------------
  private def a09(s: SparkSession, d: String): DataFrame = {
    val daily = Tables.events(s, d)
      .groupBy(col("user_id"), to_date(col("ts")).as("day"))
      .agg(sum(col("value").cast("decimal(28,6)")).as("dtotal"))
    val w = Window.partitionBy("user_id").orderBy("day")
    daily.select(col("user_id"), col("day"),
        col("dtotal").cast("double").as("total_value"),
        (col("dtotal") - lag(col("dtotal"), 1).over(w))
          .cast("double").as("delta"))
      .orderBy("user_id", "day")
  }
  private val a09Sql =
    """WITH daily AS (
      |  SELECT user_id, CAST(ts AS DATE) AS day,
      |         SUM(CAST(value AS DECIMAL(28,6))) AS dtotal
      |  FROM events GROUP BY 1, 2)
      |SELECT user_id, day,
      |  CAST(CAST(dtotal AS VARCHAR) AS DOUBLE) AS total_value,
      |  CAST(CAST(dtotal - LAG(dtotal) OVER (PARTITION BY user_id
      |         ORDER BY day) AS VARCHAR)
      |       AS DOUBLE) AS delta
      |FROM daily ORDER BY user_id, day""".stripMargin

  // ---------------------------------------------------------------------
  // Q18-ext — conversion funnel: first view → first click within 1 day
  // → first purchase within 1 day of that click. Each stage is one
  // keyed join (previous stage's 1-row-per-user relation, grows with
  // users: NO broadcast hint) + a min() agg — never a window over the
  // whole event stream. Timestamp arithmetic is µs-exact in both
  // engines. Output is per-stage user counts as ROWS (no scalar-
  // subquery crossJoin), so the plan stays NLJ-free.
  // ---------------------------------------------------------------------
  private def q18(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    def firstAfter(stage: DataFrame, evType: String): DataFrame =
      ev.filter(col("event_type") === evType)
        .join(stage, Seq("user_id"))
        .filter(col("ts") > col("t") &&
          col("ts") <= col("t") + expr("INTERVAL 1 DAY"))
        .groupBy("user_id").agg(min("ts").as("t"))
    val v = ev.filter(col("event_type") === "view")
      .groupBy("user_id").agg(min("ts").as("t"))
    val c = firstAfter(v, "click")
    val p = firstAfter(c, "purchase")
    def stageCount(name: String, df: DataFrame): DataFrame =
      df.agg(count(lit(1)).as("n_users")).select(lit(name).as("stage"),
        col("n_users"))
    Seq(stageCount("1_view", v), stageCount("2_click_in_window", c),
        stageCount("3_purchase_in_window", p))
      .reduce(_ unionByName _).orderBy("stage")
  }
  private val q18Sql =
    """WITH v AS (SELECT user_id, MIN(ts) AS t FROM events
      |           WHERE event_type = 'view' GROUP BY 1),
      |c AS (SELECT e.user_id, MIN(e.ts) AS t FROM events e
      |      JOIN v ON e.user_id = v.user_id
      |      WHERE e.event_type = 'click' AND e.ts > v.t
      |        AND e.ts <= v.t + INTERVAL 1 DAY GROUP BY 1),
      |p AS (SELECT e.user_id, MIN(e.ts) AS t FROM events e
      |      JOIN c ON e.user_id = c.user_id
      |      WHERE e.event_type = 'purchase' AND e.ts > c.t
      |        AND e.ts <= c.t + INTERVAL 1 DAY GROUP BY 1)
      |SELECT * FROM (
      |  SELECT '1_view' AS stage, COUNT(*) AS n_users FROM v
      |  UNION ALL SELECT '2_click_in_window', COUNT(*) FROM c
      |  UNION ALL SELECT '3_purchase_in_window', COUNT(*) FROM p
      |) ORDER BY stage""".stripMargin

  val all: Seq[QueryDef] = Seq(
    QueryDef("w01_star_build", Some(w01Sql), w01),
    QueryDef("q01_catalog_antijoin", Some(q01Sql), q01),
    QueryDef("q02_pk_uniqueness", Some(q02Sql), q02),
    QueryDef("q03_fk_orphans", Some(q03Sql), q03),
    QueryDef("q04_null_violations", Some(q04Sql), q04),
    QueryDef("q05_domain_profile", Some(q05Sql), q05),
    QueryDef("q06_range_checks", Some(q06Sql), q06),
    QueryDef("q07_join_coverage", Some(q07Sql), q07),
    QueryDef("q08_distribution_stats", Some(q08Sql), q08),
    QueryDef("q09_topk_time_window", Some(q09Sql), q09),
    QueryDef("q10_monthly_rollup", Some(q10Sql), q10),
    QueryDef("q11_segment_distribution", Some(q11Sql), q11),
    QueryDef("q13_violations_table", Some(q13Sql), q13),
    QueryDef("q14_run_summary", Some(q14Sql), q14),
    QueryDef("j01_entity_resolution", Some(j01Sql), j01),
    QueryDef("j02_broadcast_lookup", Some(j02Sql), j02),
    QueryDef("j03_distinct_dim_keys", Some(j03Sql), j03),
    QueryDef("j04_scd2_merge", Some(j04Sql), j04),
    QueryDef("j05_asof_join", Some(j05Sql), j05),
    QueryDef("j14_asof_forward", Some(j14Sql), j14),
    QueryDef("j17_asof_tolerance", Some(j17Sql), j17),
    QueryDef("j06_range_join", Some(j06Sql), j06),
    // j07 computes j06's exact result by a different physical strategy
    // (prefix sums, no pair generation) — same oracle SQL on purpose
    QueryDef("j07_interval_agg", Some(j06Sql), j07),
    QueryDef("j13_interval_overlap", Some(j13Sql), j13),
    QueryDef("a01_daily_user_rollup", Some(a01Sql), a01),
    QueryDef("a03_unpivot_metrics", Some(a03Sql), a03),
    QueryDef("a05_union_distinct", Some(a05Sql), a05),
    QueryDef("a06_hourly_rollup", Some(a06Sql), a06),
    QueryDef("a07_pivot", Some(a07Sql), a07),
    QueryDef("q15_percentiles", Some(q15Sql), q15),
    QueryDef("q16_rollup", Some(q16Sql), q16),
    QueryDef("q17_zscore_outliers", Some(q17Sql), q17),
    QueryDef("q29_mad_outliers", Some(q29Sql), q29),
    QueryDef("q30_skew_profile", Some(q30Sql), q30),
    QueryDef("q31_fanout_profile", Some(q31Sql), q31),
    QueryDef("a17_histogram", Some(a17Sql), a17),
    QueryDef("a08_moving_window", Some(a08Sql), a08),
    QueryDef("a09_lead_lag_delta", Some(a09Sql), a09),
    QueryDef("q18_funnel", Some(q18Sql), q18),
    QueryDef("x21_tombstone_cascade", Some(x21Sql), x21)
  )
}
