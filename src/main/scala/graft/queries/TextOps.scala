package graft.queries

import graft.{QueryDef, Tables}
import graft.etl.Checkpoints.CutOps
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Scalar/row transforms from SURVEY.md §2.2 (T3, T5, T6+T7, T8, T11+T12,
  * T14, T15, T16) re-expressed over the testdata, plus the text-analysis
  * extension operators (language-ID, quality scoring, token counting,
  * fingerprinting).
  *
  * Everything here is built from `org.apache.spark.sql.functions` / SQL
  * expressions so the whole pipeline stays inside whole-stage codegen —
  * no Scala UDFs in any hot path.
  */
object TextOps {

  // ---------------------------------------------------------------------
  // T3 — unit-stripping numeric cast (main_etl_pipeline.py:394-437):
  // regex-strip `g|mg|mcg|iu|kcal` suffixes then coerce-to-null cast.
  // ---------------------------------------------------------------------
  private def t03(s: SparkSession, d: String): DataFrame = {
    Tables.part(s, d)
      .withColumn("raw",
        when(col("p_partkey") % 4 === 0,
          concat(col("p_retailprice").cast("decimal(12,2)").cast("string"),
            lit(" g")))
        .when(col("p_partkey") % 4 === 1,
          concat(col("p_size").cast("string"), lit(" mg")))
        .when(col("p_partkey") % 4 === 2, lit("N/A"))
        .otherwise(
          concat(col("p_retailprice").cast("decimal(12,2)").cast("string"),
            lit(" kcal"))))
      .withColumn("parsed", expr(
        """try_cast(regexp_replace(raw, '(?i)\\s*(g|mg|mcg|iu|kcal)$', '')
          | AS DOUBLE)""".stripMargin.replace("\n", "")))
      .select("p_partkey", "raw", "parsed")
      .orderBy("p_partkey")
  }
  private val t03Sql =
    """SELECT p_partkey,
      |  CASE WHEN p_partkey % 4 = 0
      |         THEN concat(CAST(CAST(p_retailprice AS DECIMAL(12,2)) AS VARCHAR), ' g')
      |       WHEN p_partkey % 4 = 1 THEN concat(CAST(p_size AS VARCHAR), ' mg')
      |       WHEN p_partkey % 4 = 2 THEN 'N/A'
      |       ELSE concat(CAST(CAST(p_retailprice AS DECIMAL(12,2)) AS VARCHAR), ' kcal')
      |  END AS raw,
      |  TRY_CAST(regexp_replace(
      |    CASE WHEN p_partkey % 4 = 0
      |           THEN concat(CAST(CAST(p_retailprice AS DECIMAL(12,2)) AS VARCHAR), ' g')
      |         WHEN p_partkey % 4 = 1 THEN concat(CAST(p_size AS VARCHAR), ' mg')
      |         WHEN p_partkey % 4 = 2 THEN 'N/A'
      |         ELSE concat(CAST(CAST(p_retailprice AS DECIMAL(12,2)) AS VARCHAR), ' kcal')
      |    END, '(?i)\s*(g|mg|mcg|iu|kcal)$', '') AS DOUBLE) AS parsed
      |FROM part ORDER BY p_partkey""".stripMargin

  // ---------------------------------------------------------------------
  // T5 — keyword classifier, first-match-wins (main_etl_pipeline.py:314-323,
  // taxonomy from config.py:30-35). Chained `when` preserves dict order.
  // ---------------------------------------------------------------------
  private def t05(s: SparkSession, d: String): DataFrame = {
    val txt = lower(concat_ws(" ", col("p_type"), col("p_name")))
    Tables.part(s, d)
      .withColumn("category",
        when(txt.contains("promo"), "promotional")
          .when(txt.contains("large") || txt.contains("big"), "bulk")
          .when(txt.contains("small") || txt.contains("mini"), "compact")
          .when(txt.contains("widget"), "gadget")
          .otherwise("standard"))
      .select("p_partkey", "p_type", "p_name", "category")
      .orderBy("p_partkey")
  }
  private val t05Sql =
    """SELECT p_partkey, p_type, p_name,
      |  CASE WHEN lower(concat_ws(' ', p_type, p_name)) LIKE '%promo%'
      |         THEN 'promotional'
      |       WHEN lower(concat_ws(' ', p_type, p_name)) LIKE '%large%'
      |         OR lower(concat_ws(' ', p_type, p_name)) LIKE '%big%'
      |         THEN 'bulk'
      |       WHEN lower(concat_ws(' ', p_type, p_name)) LIKE '%small%'
      |         OR lower(concat_ws(' ', p_type, p_name)) LIKE '%mini%'
      |         THEN 'compact'
      |       WHEN lower(concat_ws(' ', p_type, p_name)) LIKE '%widget%'
      |         THEN 'gadget'
      |       ELSE 'standard' END AS category
      |FROM part ORDER BY p_partkey""".stripMargin

  // ---------------------------------------------------------------------
  // T6+T7 — text-blob tokenizer + explode (main_etl_pipeline.py:129-135,
  // 499-511): lowercase, split on `[,\n]| and `, trim, drop empties, one
  // row per (entity, token) — the bridge-table build.
  // ---------------------------------------------------------------------
  private def t06(s: SparkSession, d: String): DataFrame = {
    val c = Tables.customer(s, d)
    val n = Tables.nation(s, d).select("n_nationkey", "n_name")
    c.join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .withColumn("blob",
        concat(col("c_name"), lit(", "), col("c_mktsegment"),
          lit(" and "), col("n_name")))
      .withColumn("token", explode(expr(
        "filter(transform(split(lower(blob), '[,\\n]| and '), x -> trim(x)), x -> x <> '')")))
      .select("c_custkey", "token")
      .orderBy("c_custkey", "token")
  }
  private val t06Sql =
    """SELECT c_custkey, token FROM (
      |  SELECT c.c_custkey,
      |    unnest(list_filter(list_transform(
      |      string_split_regex(lower(concat(c.c_name, ', ', c.c_mktsegment,
      |        ' and ', n.n_name)), '[,\n]| and '),
      |      x -> trim(x)), x -> x <> '')) AS token
      |  FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
      |) ORDER BY c_custkey, token""".stripMargin

  // ---------------------------------------------------------------------
  // T8 — boolean flags → condition list (main_etl_pipeline.py:195-200)
  // ---------------------------------------------------------------------
  private def t08(s: SparkSession, d: String): DataFrame = {
    Tables.customer(s, d)
      .withColumn("conditions", concat_ws(", ",
        when(col("c_acctbal") < 0, "negative_balance"),
        when(col("c_mktsegment") === "BUILDING", "builder"),
        when(col("c_custkey") % 2 === 0, "even_key")))
      .select("c_custkey", "conditions")
      .orderBy("c_custkey")
  }
  private val t08Sql =
    """SELECT c_custkey, concat_ws(', ',
      |  CASE WHEN c_acctbal < 0 THEN 'negative_balance' END,
      |  CASE WHEN c_mktsegment = 'BUILDING' THEN 'builder' END,
      |  CASE WHEN c_custkey % 2 = 0 THEN 'even_key' END) AS conditions
      |FROM customer ORDER BY c_custkey""".stripMargin

  // ---------------------------------------------------------------------
  // T11+T12 — date parse/format + date-part extraction
  // (main_etl_pipeline.py:349-355). `weekday` = pandas convention (Mon=0);
  // DuckDB oracle uses isodow-1.
  // ---------------------------------------------------------------------
  private def t11(s: SparkSession, d: String): DataFrame = {
    Tables.lineitem(s, d)
      .select(to_date(col("l_shipdate")).as("day"))
      .distinct()
      .withColumn("date_key", date_format(col("day"), "yyyyMMdd").cast("int"))
      .withColumn("yr", year(col("day")))
      .withColumn("mon", month(col("day")))
      .withColumn("qtr", quarter(col("day")))
      .withColumn("month_name", date_format(col("day"), "MMMM"))
      .withColumn("day_name", date_format(col("day"), "EEEE"))
      .withColumn("weekday0", expr("weekday(day)"))
      .orderBy("day")
  }
  private val t11Sql =
    """SELECT day, strftime(day, '%Y%m%d')::INT AS date_key,
      |  year(day) AS yr, month(day) AS mon, quarter(day) AS qtr,
      |  monthname(day) AS month_name, dayname(day) AS day_name,
      |  isodow(day) - 1 AS weekday0
      |FROM (SELECT DISTINCT CAST(l_shipdate AS DATE) AS day FROM lineitem)
      |ORDER BY day""".stripMargin

  // ---------------------------------------------------------------------
  // T14 — constant/static dimension (main_etl_pipeline.py:451-462)
  // ---------------------------------------------------------------------
  private def t14(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Seq((1, "heart_rate", "bpm"), (2, "sleep", "hours"),
        (3, "weight", "kg"), (4, "bmi", "index"))
      .toDF("metric_type_key", "metric_name", "unit")
      .orderBy("metric_type_key")
  }
  private val t14Sql =
    """SELECT * FROM (VALUES
      |  (1, 'heart_rate', 'bpm'), (2, 'sleep', 'hours'),
      |  (3, 'weight', 'kg'), (4, 'bmi', 'index'))
      |AS t(metric_type_key, metric_name, unit)
      |ORDER BY metric_type_key""".stripMargin

  // ---------------------------------------------------------------------
  // T15 — date-range dimension generation (main_etl_pipeline.py:345-357):
  // distributed `sequence`+`explode`, not a driver-side loop.
  // ---------------------------------------------------------------------
  private def t15(s: SparkSession, d: String): DataFrame = {
    s.sql(
      """SELECT explode(sequence(to_date('2016-01-01'), to_date('2016-12-31'),
        |  interval 1 day)) AS full_date""".stripMargin)
      .withColumn("date_key",
        date_format(col("full_date"), "yyyyMMdd").cast("int"))
      .withColumn("yr", year(col("full_date")))
      .withColumn("qtr", quarter(col("full_date")))
      .orderBy("full_date")
  }
  private val t15Sql =
    """SELECT CAST(ts AS DATE) AS full_date,
      |  strftime(CAST(ts AS DATE), '%Y%m%d')::INT AS date_key,
      |  year(CAST(ts AS DATE)) AS yr, quarter(CAST(ts AS DATE)) AS qtr
      |FROM (SELECT unnest(generate_series(DATE '2016-01-01',
      |        DATE '2016-12-31', INTERVAL 1 DAY)) AS ts)
      |ORDER BY full_date""".stripMargin

  // ---------------------------------------------------------------------
  // T16 — seeded synthetic data generator (main_etl_pipeline.py:623-711):
  // `spark.range` + LCG arithmetic (deterministic, unlike the reference's
  // unseeded np.random) + broadcast join to a dimension.
  // ---------------------------------------------------------------------
  private def t16(s: SparkSession, d: String): DataFrame = {
    val p = Tables.part(s, d).select("p_partkey", "p_retailprice")
    s.range(10000).toDF("id")
      .withColumn("user_key", (col("id") * 1103515245L + 12345L) % 100000L % 1500L)
      .withColumn("meal_key", (col("id") * 37L + 11L) % 4L + 1L)
      .withColumn("qty", ((col("id") * 97L + 13L) % 500L).cast("double") / 100.0)
      .withColumn("part_key", col("id") % 200L)
      .join(broadcast(p), col("part_key") === col("p_partkey"))
      .withColumn("total_price", round(col("qty") * col("p_retailprice"), 2))
      .select("id", "user_key", "meal_key", "qty", "part_key", "total_price")
      .orderBy("id")
  }
  private val t16Sql =
    """SELECT id, (id * 1103515245 + 12345) % 100000 % 1500 AS user_key,
      |  (id * 37 + 11) % 4 + 1 AS meal_key,
      |  CAST((id * 97 + 13) % 500 AS DOUBLE) / 100.0 AS qty,
      |  id % 200 AS part_key,
      |  ROUND(CAST((id * 97 + 13) % 500 AS DOUBLE) / 100.0 * p_retailprice, 2)
      |    AS total_price
      |FROM (SELECT range AS id FROM range(10000)) t
      |JOIN part ON id % 200 = p_partkey
      |ORDER BY id""".stripMargin

  // ---------------------------------------------------------------------
  // X6 — language ID via stopword/n-gram scoring: tokens joined to a
  // broadcast stopword lexicon, argmax per doc via window.
  // ---------------------------------------------------------------------
  private val lexicon = Seq(
    ("en", "the"), ("en", "a"), ("en", "fast"), ("en", "slow"),
    ("de", "der"), ("de", "die"), ("de", "und"), ("de", "hash"),
    ("es", "el"), ("es", "la"), ("es", "que"), ("es", "data"),
    ("fr", "le"), ("fr", "la"), ("fr", "et"), ("fr", "window"),
    ("zh", "de"), ("zh", "shi"), ("zh", "bu"), ("zh", "table"))

  private def x06(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val sw = lexicon.toDF("sw_lang", "sw")
    val docs = Tables.fanout(Tables.documents(s, d))
    val toks = docs
      .select(col("doc_id"), col("lang").as("actual_lang"),
        explode(split(col("text"), " ")).as("token"))
    val hits = toks.join(broadcast(sw), col("token") === col("sw"))
      .groupBy(col("doc_id"), col("actual_lang"), col("sw_lang"))
      .agg(count(lit(1)).as("hits"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("hits").desc, col("sw_lang"))
    hits.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("doc_id"), col("sw_lang").as("predicted_lang"),
        col("hits"), col("actual_lang"))
      .orderBy("doc_id")
  }
  private def x06Sql: String = {
    val values = lexicon.map { case (l, w) => s"('$l','$w')" }.mkString(", ")
    s"""WITH sw(sw_lang, sw) AS (VALUES $values),
       |toks AS (
       |  SELECT doc_id, lang AS actual_lang,
       |         unnest(string_split(text, ' ')) AS token
       |  FROM documents),
       |hits AS (
       |  SELECT doc_id, actual_lang, sw_lang, COUNT(*) AS hits
       |  FROM toks JOIN sw ON token = sw
       |  GROUP BY 1, 2, 3)
       |SELECT doc_id, sw_lang AS predicted_lang, hits, actual_lang
       |FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
       |        ORDER BY hits DESC, sw_lang) AS rn FROM hits)
       |WHERE rn = 1 ORDER BY doc_id""".stripMargin
  }

  // ---------------------------------------------------------------------
  // X7 — text quality scoring: length / token stats / stopword ratio.
  // ---------------------------------------------------------------------
  private def x07(s: SparkSession, d: String): DataFrame = {
    Tables.fanout(Tables.documents(s, d))
      .withColumn("toks", split(col("text"), " "))
      .withColumn("n_tokens", size(col("toks")))
      .withColumn("n_chars_m", length(col("text")))
      .withColumn("stop_hits",
        expr("size(filter(toks, x -> x IN ('the', 'a')))"))
      .withColumn("stop_ratio",
        col("stop_hits").cast("double") / col("n_tokens").cast("double"))
      .withColumn("quality_score",
        round(lit(100.0) *
          (least(col("n_tokens"), lit(100)).cast("double") / 100.0 * 0.5 +
            (lit(1.0) - col("stop_ratio")) * 0.5), 2))
      .select("doc_id", "n_chars_m", "n_tokens", "stop_hits", "stop_ratio",
        "quality_score")
      .orderBy("doc_id")
  }
  private val x07Sql =
    """SELECT doc_id, length(text) AS n_chars_m,
      |  len(string_split(text, ' ')) AS n_tokens,
      |  len(list_filter(string_split(text, ' '),
      |      x -> x IN ('the', 'a'))) AS stop_hits,
      |  CAST(len(list_filter(string_split(text, ' '),
      |      x -> x IN ('the', 'a'))) AS DOUBLE)
      |    / CAST(len(string_split(text, ' ')) AS DOUBLE) AS stop_ratio,
      |  ROUND(100.0 * (CAST(LEAST(len(string_split(text, ' ')), 100) AS DOUBLE)
      |      / 100.0 * 0.5 +
      |    (1.0 - CAST(len(list_filter(string_split(text, ' '),
      |        x -> x IN ('the', 'a'))) AS DOUBLE)
      |      / CAST(len(string_split(text, ' ')) AS DOUBLE)) * 0.5), 2)
      |    AS quality_score
      |FROM documents ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------------
  // X8 — token counting: whitespace tokens + BPE-ish regex tokens.
  // ---------------------------------------------------------------------
  private def x08(s: SparkSession, d: String): DataFrame = {
    Tables.documents(s, d)
      .withColumn("ws_tokens", size(split(col("text"), "\\s+")))
      .withColumn("bpe_tokens",
        expr("regexp_count(text, '[a-z]+|[0-9]+|[^a-z0-9\\\\s]')"))
      .withColumn("chars_per_token",
        round(col("n_chars").cast("double") /
          col("ws_tokens").cast("double"), 3))
      .select("doc_id", "ws_tokens", "bpe_tokens", "chars_per_token")
      .orderBy("doc_id")
  }
  private val x08Sql =
    """SELECT doc_id, len(string_split_regex(text, '\s+')) AS ws_tokens,
      |  len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9\s]'))
      |    AS bpe_tokens,
      |  ROUND(CAST(n_chars AS DOUBLE)
      |    / CAST(len(string_split_regex(text, '\s+')) AS DOUBLE), 3)
      |    AS chars_per_token
      |FROM documents ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------------
  // X9 — document fingerprint: polynomial rolling hash over characters.
  // Arithmetic (oracle-checkable) formulation; the 100 TB path swaps the
  // per-char lambda for a codegen'd hash Expression (see graft.functions).
  // ---------------------------------------------------------------------
  private def x09(s: SparkSession, d: String): DataFrame = {
    // graft.functions.PolyHash: native Expression, bit-identical to the
    // SQL-lambda polynomial fold the DuckDB oracle runs
    Tables.documents(s, d)
      .withColumn("fingerprint", graft.functions.PolyHash(col("text")))
      .select("doc_id", "fingerprint")
      .orderBy("doc_id")
  }
  private val x09Sql =
    """SELECT doc_id,
      |  list_reduce(
      |    list_prepend(CAST(0 AS BIGINT),
      |      list_transform(list_filter(string_split(text, ''), ch -> ch <> ''),
      |        ch -> CAST(unicode(ch) AS BIGINT))),
      |    (acc, c) -> (acc * 31 + c) % 1000000007) AS fingerprint
      |FROM documents ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------------
  // X35 — content-defined chunking (CDC): chunk boundaries fall where a
  // rolling hash of the last 3 tokens hits a target residue (1/16), so
  // boundaries move WITH the content — an insertion early in a document
  // shifts every fixed-width window (x17's packing) but leaves CDC
  // chunks after the edit point identical, which is what makes
  // chunk-level dedup/caching survive edits (the rsync/LBFS trick,
  // standard in dataset chunk stores). Document end is always a forced
  // final boundary. Entirely row-local array lambdas over the token
  // list + the native PolyHash codegen kernel — zero shuffle,
  // embarrassingly parallel at any corpus size.
  // ---------------------------------------------------------------------
  private def x35(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.fanout(Tables.documents(s, d))
      .select(col("doc_id"), split(col("text"), " ").as("w"))
      .withColumn("n", size(col("w")).cast("long"))
    docs
      .withColumn("bounds", when(col("n") >= 3,
        filter(
          transform(sequence(lit(2), size(col("w")) - 1),
            i => when(pmod(graft.functions.PolyHash(concat_ws(" ",
              element_at(col("w"), i - 1),
              element_at(col("w"), i),
              element_at(col("w"), i + 1))), lit(16L)) === 0, i)
              .otherwise(lit(-1))),
          x => x >= 0))
        .otherwise(array().cast("array<int>")))
      .withColumn("b2",
        when(coalesce(try_element_at(col("bounds"), lit(-1)), lit(-2)) ===
            col("n") - 1, col("bounds"))
          .otherwise(concat(col("bounds"),
            array((col("n") - 1).cast("int")))))
      .withColumn("lens", transform(sequence(lit(0), size(col("b2")) - 1),
        j => element_at(col("b2"), j + 1) -
          when(j === 0, lit(-1)).otherwise(element_at(col("b2"), j))))
      .select(col("doc_id"), col("n").as("n_tokens"),
        size(col("b2")).cast("long").as("n_chunks"),
        array_max(col("lens")).cast("long").as("max_chunk_tokens"),
        (col("n").cast("double") / size(col("b2")).cast("double"))
          .as("avg_chunk_tokens"))
      .orderBy("doc_id")
  }
  private val x35Sql =
    """WITH t AS (
      |  SELECT doc_id, string_split(text, ' ') AS w,
      |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n
      |  FROM documents),
      |b AS (
      |  SELECT doc_id, n,
      |    CASE WHEN n >= 3 THEN list_filter(list_transform(
      |      generate_series(3, CAST(n AS INTEGER)),
      |      i -> CASE WHEN list_reduce(list_prepend(CAST(0 AS BIGINT),
      |             list_transform(list_filter(string_split(
      |               concat_ws(' ', w[i-2], w[i-1], w[i]), ''),
      |               ch -> ch <> ''),
      |               ch -> CAST(unicode(ch) AS BIGINT))),
      |             (acc, c) -> (acc * 31 + c) % 1000000007) % 16 = 0
      |           THEN i - 1 ELSE -1 END), x -> x >= 0)
      |    ELSE CAST([] AS INTEGER[]) END AS bounds
      |  FROM t),
      |b2 AS (
      |  SELECT doc_id, n,
      |    CASE WHEN len(bounds) > 0 AND bounds[-1] = n - 1 THEN bounds
      |         ELSE list_append(bounds, CAST(n - 1 AS INTEGER)) END
      |      AS bs
      |  FROM b),
      |l AS (
      |  SELECT doc_id, n, bs,
      |    list_transform(generate_series(1, len(bs)),
      |      j -> bs[j] - CASE WHEN j = 1 THEN -1 ELSE bs[j-1] END)
      |      AS lens
      |  FROM b2)
      |SELECT doc_id, n AS n_tokens, CAST(len(bs) AS BIGINT) AS n_chunks,
      |  CAST(list_max(lens) AS BIGINT) AS max_chunk_tokens,
      |  CAST(n AS DOUBLE) / CAST(len(bs) AS DOUBLE)
      |    AS avg_chunk_tokens
      |FROM l ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------------
  // X12 — Gopher-style quality FILTER: hard keep/drop rules with a
  // first-failing-rule reason (the decision stage that consumes x07-style
  // signals in a real training-data pipeline). Pure per-row expressions
  // — fully codegen'd, embarrassingly parallel at any scale.
  // ---------------------------------------------------------------------
  private def x12(s: SparkSession, d: String): DataFrame = {
    Tables.fanout(Tables.documents(s, d))
      .withColumn("n_words", size(split(col("text"), " ")))
      .withColumn("mean_word_len",
        round(length(regexp_replace(col("text"), " ", "")).cast("double") /
          col("n_words").cast("double"), 4))
      .withColumn("digit_ratio",
        round(length(regexp_replace(col("text"), "[^0-9]", ""))
          .cast("double") / length(col("text")).cast("double"), 4))
      .withColumn("has_stopword",
        lower(col("text")).rlike(" (the|a|and|of|to) "))
      .withColumn("drop_reason",
        when(col("n_words") < 5, "too_short")
          .when(col("n_words") > 10000, "too_long")
          .when(col("mean_word_len") < 2 || col("mean_word_len") > 12,
            "word_len_out_of_range")
          .when(col("digit_ratio") > 0.3, "too_many_digits")
          .when(!col("has_stopword"), "no_stopwords"))
      .withColumn("keep", col("drop_reason").isNull)
      .select("doc_id", "n_words", "mean_word_len", "digit_ratio",
        "has_stopword", "drop_reason", "keep")
      .orderBy("doc_id")
  }
  private val x12Sql =
    """WITH m AS (
      |  SELECT doc_id,
      |    len(string_split(text, ' ')) AS n_words,
      |    ROUND(CAST(length(replace(text, ' ', '')) AS DOUBLE)
      |      / CAST(len(string_split(text, ' ')) AS DOUBLE), 4)
      |      AS mean_word_len,
      |    ROUND(CAST(length(regexp_replace(text, '[^0-9]', '', 'g'))
      |        AS DOUBLE) / CAST(length(text) AS DOUBLE), 4) AS digit_ratio,
      |    regexp_matches(lower(text), ' (the|a|and|of|to) ')
      |      AS has_stopword
      |  FROM documents),
      |r AS (
      |  SELECT *,
      |    CASE WHEN n_words < 5 THEN 'too_short'
      |         WHEN n_words > 10000 THEN 'too_long'
      |         WHEN mean_word_len < 2 OR mean_word_len > 12
      |           THEN 'word_len_out_of_range'
      |         WHEN digit_ratio > 0.3 THEN 'too_many_digits'
      |         WHEN NOT has_stopword THEN 'no_stopwords'
      |         ELSE NULL END AS drop_reason
      |  FROM m)
      |SELECT doc_id, n_words, mean_word_len, digit_ratio, has_stopword,
      |  drop_reason, drop_reason IS NULL AS keep
      |FROM r ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------------
  // X13 — deterministic domain-mix sampling: per-bucket target rates
  // applied via integer hash of the id — the training-mix construction
  // step (sample 80% short / 50% medium / 10% long, say) that must be
  // reproducible run-over-run and shard-independent. No shuffle at all:
  // the decision is a pure row expression; the summary is one aggregate.
  // ---------------------------------------------------------------------
  private val MixRates = Seq("short" -> 800, "medium" -> 500, "long" -> 100)

  private def x13(s: SparkSession, d: String): DataFrame = {
    val rate = MixRates.foldLeft(lit(0)) { case (acc, (b, r)) =>
      when(col("bucket") === b, lit(r)).otherwise(acc)
    }
    Tables.documents(s, d)
      .withColumn("n_words", size(split(col("text"), " ")))
      .withColumn("bucket",
        when(col("n_words") < 50, "short")
          .when(col("n_words") < 200, "medium")
          .otherwise("long"))
      .withColumn("h", pmod(
        (col("doc_id") % 2147483648L) * 2654435761L + 101L,
        lit(1000L)))
      .withColumn("sampled", col("h") < rate)
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_total"),
        sum(when(col("sampled"), 1L).otherwise(0L)).as("n_sampled"))
      .withColumn("rate_pct",
        round(col("n_sampled").cast("double") * 100.0 /
          col("n_total").cast("double"), 2))
      .orderBy("bucket")
  }
  private val x13Sql = {
    val rateCase = MixRates.map { case (b, r) =>
      s"WHEN bucket = '$b' THEN $r" }.mkString(" ")
    s"""WITH b AS (
       |  SELECT doc_id,
       |    CASE WHEN len(string_split(text, ' ')) < 50 THEN 'short'
       |         WHEN len(string_split(text, ' ')) < 200 THEN 'medium'
       |         ELSE 'long' END AS bucket,
       |    ((doc_id % 2147483648) * 2654435761 + 101) % 1000 AS h
       |  FROM documents),
       |s AS (
       |  SELECT bucket, h,
       |    CASE WHEN h < (CASE $rateCase ELSE 0 END) THEN 1 ELSE 0 END
       |      AS sampled
       |  FROM b)
       |SELECT bucket, COUNT(*) AS n_total,
       |  CAST(SUM(sampled) AS BIGINT) AS n_sampled,
       |  ROUND(CAST(SUM(sampled) AS DOUBLE) * 100.0
       |    / CAST(COUNT(*) AS DOUBLE), 2) AS rate_pct
       |FROM s GROUP BY bucket ORDER BY bucket""".stripMargin
  }

  // ---------------------------------------------------------------------
  // X15 — PII redaction: the pre-training hygiene pass that strips
  // emails/phone numbers before text ships to a training corpus. The
  // corpus plants synthetic PII deterministically (every 7th doc gets an
  // email, every 11th a phone number) so the redaction provably fires.
  // Pure row expressions — regexp_replace/regexp_count are codegen'd,
  // zero shuffle; the patterns avoid dialect-divergent syntax so the
  // DuckDB oracle (RE2) and Spark (java.util.regex) agree exactly.
  // ---------------------------------------------------------------------
  private val EmailRe = "[a-z0-9._]+@[a-z0-9.]+"
  private val PhoneRe = "555-[0-9]+"

  private def x15(s: SparkSession, d: String): DataFrame = {
    val planted = Tables.documents(s, d)
      .withColumn("text2", concat(col("text"),
        when(col("doc_id") % 7 === 0,
          concat(lit(" contact user"), col("doc_id").cast("string"),
            lit("@example.com now"))).otherwise(lit("")),
        when(col("doc_id") % 11 === 0,
          concat(lit(" call 555-0"),
            (col("doc_id") % 100).cast("string"))).otherwise(lit(""))))
    planted
      .withColumn("n_emails", regexp_count(col("text2"), lit(EmailRe)))
      .withColumn("n_phones", regexp_count(col("text2"), lit(PhoneRe)))
      .filter(col("n_emails") + col("n_phones") > 0)
      .withColumn("redacted",
        regexp_replace(regexp_replace(col("text2"), EmailRe, "<EMAIL>"),
          PhoneRe, "<PHONE>"))
      .select("doc_id", "n_emails", "n_phones", "redacted")
      .orderBy("doc_id")
  }
  private val x15Sql =
    s"""WITH planted AS (
       |  SELECT doc_id, text ||
       |    CASE WHEN doc_id % 7 = 0 THEN ' contact user' ||
       |      CAST(doc_id AS VARCHAR) || '@example.com now' ELSE '' END ||
       |    CASE WHEN doc_id % 11 = 0 THEN ' call 555-0' ||
       |      CAST(doc_id % 100 AS VARCHAR) ELSE '' END AS text2
       |  FROM documents)
       |SELECT doc_id,
       |  len(regexp_extract_all(text2, '$EmailRe')) AS n_emails,
       |  len(regexp_extract_all(text2, '$PhoneRe')) AS n_phones,
       |  regexp_replace(regexp_replace(text2, '$EmailRe', '<EMAIL>', 'g'),
       |    '$PhoneRe', '<PHONE>', 'g') AS redacted
       |FROM planted
       |WHERE len(regexp_extract_all(text2, '$EmailRe'))
       |    + len(regexp_extract_all(text2, '$PhoneRe')) > 0
       |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------------
  // X16 — repetition score (Gopher-style): fraction of duplicate word
  // 3-grams per document — the within-doc repetition signal used to
  // drop degenerate/looping text from training corpora. Row-local
  // (the n-gram arrays never leave the row), zero shuffle.
  // ---------------------------------------------------------------------
  private def x16(s: SparkSession, d: String): DataFrame = {
    Tables.documents(s, d)
      .withColumn("words", split(col("text"), " "))
      .withColumn("n_words", size(col("words")))
      .filter(col("n_words") >= 3)
      .withColumn("total_ngrams", col("n_words") - 2)
      // native one-pass kernel — same values as the
      // size(array_distinct(transform(...))) lambda chain, none of its
      // three intermediate arrays per row (measured 6 s → sub-second at
      // sf0.1)
      .withColumn("distinct_ngrams",
        graft.functions.DistinctNgrams(col("words"), 3))
      .withColumn("rep_ratio", round(lit(1.0) -
        col("distinct_ngrams").cast("double") /
          col("total_ngrams").cast("double"), 4))
      .withColumn("repetitive", col("rep_ratio") > 0.5)
      .select("doc_id", "total_ngrams", "distinct_ngrams", "rep_ratio",
        "repetitive")
      .orderBy("doc_id")
  }
  private val x16Sql =
    """WITH g AS (
      |  SELECT doc_id,
      |    len(string_split(text, ' ')) - 2 AS total_ngrams,
      |    len(list_distinct(list_transform(
      |      generate_series(1, len(string_split(text, ' ')) - 2),
      |      i -> concat_ws(' ', string_split(text, ' ')[i],
      |           string_split(text, ' ')[i+1],
      |           string_split(text, ' ')[i+2])))) AS distinct_ngrams
      |  FROM documents WHERE len(string_split(text, ' ')) >= 3)
      |SELECT doc_id, total_ngrams, distinct_ngrams,
      |  ROUND(1.0 - CAST(distinct_ngrams AS DOUBLE)
      |    / CAST(total_ngrams AS DOUBLE), 4) AS rep_ratio,
      |  (1.0 - CAST(distinct_ngrams AS DOUBLE)
      |    / CAST(total_ngrams AS DOUBLE)) > 0.5 AS repetitive
      |FROM g ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------------
  // X17 — sequence packing: assign documents to fixed token-budget packs
  // (context-window construction). Contiguous chunking by running token
  // count WITHIN each source shard — the window partitions by `source`,
  // so no single-partition global window exists and shards pack
  // independently (exactly how a distributed packer works: pack ids are
  // (shard, chunk), never a global sequence).
  // ---------------------------------------------------------------------
  private val PackBudget = 2048

  private def x17(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("source")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    Tables.documents(s, d)
      .withColumn("tokens", size(split(col("text"), " ")))
      .withColumn("prev_cum",
        coalesce(sum(col("tokens")).over(w), lit(0)))
      .withColumn("pack_id",
        floor(col("prev_cum") / PackBudget).cast("long"))
      .groupBy(col("source"), col("pack_id"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("tokens")).cast("long").as("pack_tokens"))
      .orderBy("source", "pack_id")
  }
  private val x17Sql =
    s"""WITH t AS (
       |  SELECT doc_id, source,
       |    len(string_split(text, ' ')) AS tokens
       |  FROM documents),
       |c AS (
       |  SELECT source, tokens,
       |    COALESCE(SUM(tokens) OVER (PARTITION BY source ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |      AS prev_cum
       |  FROM t)
       |SELECT source, CAST(FLOOR(prev_cum / $PackBudget) AS BIGINT)
       |    AS pack_id,
       |  COUNT(*) AS n_docs, CAST(SUM(tokens) AS BIGINT) AS pack_tokens
       |FROM c GROUP BY 1, 2 ORDER BY source, pack_id""".stripMargin

  // ---------------------------------------------------------------------
  // X45 — sliding-window chunking with overlap (the RAG / long-context
  // splitter, complementing x17's budget PACKING and x35's
  // content-defined boundaries): fixed 64-token windows at stride 48
  // (16-token overlap carries context across cuts), last partial chunk
  // kept iff ≥ 8 tokens. Emits per-chunk bounds + an md5 content
  // fingerprint so a downstream index can dedup re-chunked corpora.
  // Purely row-local (explode over a generate_series of starts — zero
  // shuffle, linear in tokens at any corpus size).
  // ---------------------------------------------------------------------
  private val ChunkLen = 64
  private val ChunkStride = 48
  private val ChunkMin = 8

  private def x45(s: SparkSession, d: String): DataFrame = {
    Tables.documents(s, d)
      .select(col("doc_id"), split(col("text"), " ").as("w"))
      .select(col("doc_id"), size(col("w")).as("n_tokens"), col("w"))
      .select(col("doc_id"), col("n_tokens"),
        posexplode(transform(
          sequence(lit(0),
            greatest(floor((col("n_tokens") - ChunkMin) /
              lit(ChunkStride)).cast("int"), lit(0))),
          i => struct(
            (i * ChunkStride).as("start_tok"),
            least(size(col("w")) - i * ChunkStride, lit(ChunkLen))
              .as("chunk_tokens"),
            md5(concat_ws(" ", slice(col("w"), i * ChunkStride + 1,
              lit(ChunkLen)))).as("chunk_md5"))))
          .as(Seq("chunk_idx", "c")))
      .filter(col("c.chunk_tokens") >= ChunkMin)
      .select(col("doc_id"), col("chunk_idx").cast("long").as("chunk_idx"),
        col("c.start_tok").cast("long").as("start_tok"),
        col("c.chunk_tokens").cast("long").as("chunk_tokens"),
        col("c.chunk_md5").as("chunk_md5"))
      .orderBy("doc_id", "chunk_idx")
  }
  private val x45Sql =
    s"""WITH w AS (
       |  SELECT doc_id, string_split(text, ' ') AS w,
       |    len(string_split(text, ' ')) AS n_tokens
       |  FROM documents),
       |c AS (
       |  SELECT doc_id, i AS chunk_idx,
       |    i * $ChunkStride AS start_tok,
       |    LEAST(n_tokens - i * $ChunkStride, $ChunkLen)
       |      AS chunk_tokens,
       |    md5(array_to_string(
       |      w[(i * $ChunkStride + 1):(i * $ChunkStride + $ChunkLen)],
       |      ' ')) AS chunk_md5
       |  FROM w, unnest(generate_series(0,
       |    GREATEST(CAST((n_tokens - $ChunkMin) AS BIGINT)
       |      // $ChunkStride, 0))) AS t(i))
       |SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx,
       |  CAST(start_tok AS BIGINT) AS start_tok,
       |  CAST(chunk_tokens AS BIGINT) AS chunk_tokens, chunk_md5
       |FROM c WHERE chunk_tokens >= $ChunkMin
       |ORDER BY doc_id, chunk_idx""".stripMargin

  // ---------------------------------------------------------------------
  // X20 — segment-level dedup (etl.SegmentDedup): the "line dedup"
  // boilerplate-removal stage of web-scrape pipelines. The synthetic
  // corpus has no newlines, so segmentation is 10-word windows (the
  // operator also ships the newline splitter for real corpora); any
  // segment appearing in >1 distinct doc is dropped and each doc is
  // reassembled in original order. Linear: one segment-text shuffle +
  // one doc-id shuffle, nothing pairwise.
  // ---------------------------------------------------------------------
  private def x20(s: SparkSession, d: String): DataFrame = {
    import graft.etl.SegmentDedup
    SegmentDedup.clean(Tables.documents(s, d), "doc_id",
        SegmentDedup.wordWindows(col("text"), 10), maxDf = 1)
      .orderBy("doc_id")
  }
  private val x20Sql =
    """WITH words AS (
      |  SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      |segs AS (
      |  SELECT doc_id, i AS seg,
      |         array_to_string(w[(i*10+1):(i*10+10)], ' ') AS seg_text
      |  FROM words,
      |    UNNEST(range(CAST(ceil(len(w)/10.0) AS BIGINT))) AS t(i)),
      |hot AS (
      |  SELECT seg_text FROM segs GROUP BY 1
      |  HAVING COUNT(DISTINCT doc_id) > 1),
      |marked AS (
      |  SELECT s.doc_id, s.seg, s.seg_text,
      |         h.seg_text IS NOT NULL AS is_hot
      |  FROM segs s LEFT JOIN hot h ON s.seg_text = h.seg_text)
      |SELECT doc_id,
      |  COALESCE(string_agg(CASE WHEN NOT is_hot THEN seg_text END, ' '
      |           ORDER BY seg), '') AS clean_text,
      |  COUNT(*) AS n_segments,
      |  CAST(SUM(CASE WHEN is_hot THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_dropped
      |FROM marked GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------------
  // T17-ext — time-series densification (gap fill): every user's daily
  // series is completed to a dense date axis between that user's first
  // and last active day, with missing days zero-filled and flagged.
  // The dense axis comes from `sequence()` exploded PER USER — spans
  // are generated executor-side from a 1-row-per-user aggregate, never
  // a driver loop or a global calendar cross join. Two shuffles (daily
  // agg + span agg share the user_id key); the left join back to the
  // daily grain is keyed. Day-count per user is bounded by the date
  // span, not sf, so explode output stays proportional to users×days.
  // ---------------------------------------------------------------------
  private def t17(s: SparkSession, d: String): DataFrame = {
    val daily = Tables.events(s, d)
      .groupBy(col("user_id"), to_date(col("ts")).as("day"))
      .agg(sum(col("value").cast("decimal(28,6)")).as("dtotal"))
    val dense = daily.groupBy("user_id")
      .agg(min("day").as("mn"), max("day").as("mx"))
      .select(col("user_id"),
        explode(sequence(col("mn"), col("mx"))).as("day"))
    dense.join(daily, Seq("user_id", "day"), "left")
      .select(col("user_id"), col("day"),
        coalesce(col("dtotal").cast("double"), lit(0d)).as("total_value"),
        when(col("dtotal").isNull, 1).otherwise(0).as("filled"))
      .orderBy("user_id", "day")
  }
  private val t17Sql =
    """WITH daily AS (
      |  SELECT user_id, CAST(ts AS DATE) AS day,
      |         SUM(CAST(value AS DECIMAL(28,6))) AS dtotal
      |  FROM events GROUP BY 1, 2),
      |span AS (
      |  SELECT user_id, MIN(day) AS mn, MAX(day) AS mx
      |  FROM daily GROUP BY 1),
      |dense AS (
      |  SELECT user_id,
      |         CAST(UNNEST(generate_series(mn, mx, INTERVAL 1 DAY)) AS DATE)
      |           AS day
      |  FROM span)
      |SELECT d.user_id, d.day,
      |  COALESCE(CAST(dl.dtotal AS DOUBLE), 0.0) AS total_value,
      |  CASE WHEN dl.dtotal IS NULL THEN 1 ELSE 0 END AS filled
      |FROM dense d
      |LEFT JOIN daily dl ON d.user_id = dl.user_id AND d.day = dl.day
      |ORDER BY d.user_id, d.day""".stripMargin

  // ---------------------------------------------------------------------
  // X22-ext — exact corpus heavy hitters: top-20 tokens by frequency
  // with a deterministic tie-break. One explode + one partial-agg
  // shuffle on token; top-k via sort+limit compiles to
  // TakeOrderedAndProject (per-partition heaps + driver merge of 20-row
  // heads — no global sort materialization). This is the exact audit
  // anchor for the approximate 100 TB path,
  // [[graft.functions.SpaceSavingTopK]]: same answer shape from a
  // fixed-size mergeable sketch when the token domain no longer fits a
  // hash aggregate.
  // ---------------------------------------------------------------------
  private def x22(s: SparkSession, d: String): DataFrame = {
    Tables.fanout(Tables.documents(s, d))
      .select(explode(split(lower(col("text")), "[^a-z]+")).as("tok"))
      .filter(col("tok") =!= "")
      .groupBy("tok").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("tok")).limit(20)
  }
  private val x22Sql =
    """WITH toks AS (
      |  SELECT UNNEST(regexp_split_to_array(LOWER(text), '[^a-z]+')) AS tok
      |  FROM documents)
      |SELECT tok, COUNT(*) AS cnt FROM toks WHERE tok <> ''
      |GROUP BY tok ORDER BY cnt DESC, tok LIMIT 20""".stripMargin

  // ---------------------------------------------------------------------
  // X23-ext — TF-IDF top term per document, in EXACT integer arithmetic:
  // score = tf * 1_000_000 div df (integral division in both engines),
  // so ranking is bit-deterministic — no log/float divergence between
  // engines or partitionings. Plan: explode → (doc,tok) partial-agg →
  // df agg on tok → keyed join back on tok (df side grows with the
  // vocabulary: NO broadcast hint, AQE decides) → per-doc window top-1.
  // The window partitions by doc_id — millions of small groups, no
  // skew. At 100 TB the df relation is the only wide shuffle and it is
  // vocabulary-sized, sub-linear in the corpus.
  // ---------------------------------------------------------------------
  private def x23(s: SparkSession, d: String): DataFrame = {
    val tf = Tables.fanout(Tables.documents(s, d))
      .select(col("doc_id"),
        explode(split(lower(col("text")), "[^a-z]+")).as("tok"))
      .filter(col("tok") =!= "")
      .groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
    val df = tf.groupBy("tok").agg(count(lit(1)).as("df"))
    val scored = tf.join(df, "tok")
      .withColumn("score", expr("tf * 1000000L div df"))
    val w = Window.partitionBy("doc_id")
      .orderBy(col("score").desc, col("tok"))
    scored.withColumn("rk", row_number().over(w)).filter(col("rk") === 1)
      .select(col("doc_id"), col("tok").as("top_term"), col("tf"),
        col("df"), col("score"))
      .orderBy("doc_id")
  }
  private val x23Sql =
    """WITH toks AS (
      |  SELECT doc_id,
      |         UNNEST(regexp_split_to_array(LOWER(text), '[^a-z]+')) AS tok
      |  FROM documents),
      |tf AS (SELECT doc_id, tok, COUNT(*) AS tf FROM toks
      |       WHERE tok <> '' GROUP BY 1, 2),
      |df AS (SELECT tok, COUNT(*) AS df FROM tf GROUP BY 1),
      |scored AS (
      |  SELECT tf.doc_id, tf.tok, tf.tf, df.df,
      |         tf.tf * 1000000 // df.df AS score
      |  FROM tf JOIN df USING (tok)),
      |ranked AS (
      |  SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
      |             ORDER BY score DESC, tok) AS rk
      |  FROM scored)
      |SELECT doc_id, tok AS top_term, tf, df, score
      |FROM ranked WHERE rk = 1 ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------------
  // X24-ext — deterministic stratified sampling: exactly k docs per
  // stratum (language), chosen by a Knuth-multiplicative hash of the
  // key so the sample is pseudo-random yet reproducible on any cluster
  // layout — the training-mix counterpart to x13's rate-based gate when
  // the spec says "exactly N per language", not "p% per language".
  // One window shuffle on the stratum key; if a stratum is hot, the
  // hash order is still computed per-partition and only k rows per
  // stratum survive the final filter. (For unbounded strata swap the
  // window for a per-stratum TakeOrdered via groupBy + min_by-k.)
  // ---------------------------------------------------------------------
  private def x24(s: SparkSession, d: String): DataFrame = {
    val k = 5
    val hashed = Tables.documents(s, d)
      .select(col("doc_id"), col("lang"),
        (((col("doc_id") % 2147483648L) * lit(2654435761L)) % 1048576)
          .as("hkey"))
    val w = Window.partitionBy("lang").orderBy("hkey", "doc_id")
    hashed.withColumn("rn", row_number().over(w)).filter(col("rn") <= k)
      .select("lang", "doc_id", "hkey")
      .orderBy("lang", "hkey", "doc_id")
  }
  private val x24Sql =
    """WITH h AS (
      |  SELECT doc_id, lang,
      |         ((doc_id % 2147483648) * 2654435761) % 1048576 AS hkey
      |  FROM documents),
      |rk AS (
      |  SELECT *, ROW_NUMBER() OVER (PARTITION BY lang
      |             ORDER BY hkey, doc_id) AS rn FROM h)
      |SELECT lang, doc_id, hkey FROM rk WHERE rn <= 5
      |ORDER BY lang, hkey, doc_id""".stripMargin

  // ---------------------------------------------------------------------
  // X31 — vocabulary coverage / OOV-rate audit: build the top-K corpus
  // vocabulary (the first step of any frequency-based tokenizer train)
  // and score every document's out-of-vocabulary token rate against
  // it — the signal that catches encoding junk, wrong-language shards,
  // and template noise before tokenizer training. Plan: one token
  // shuffle for the global frequency agg, top-K is bounded by
  // construction (broadcast), per-doc scoring is a broadcast-joined
  // partial agg — the corpus-side token stream shuffles ONCE on
  // doc_id, never on the vocabulary.
  // ---------------------------------------------------------------------
  private val VocabK = 100

  private def x31(s: SparkSession, d: String): DataFrame = {
    val toks = Tables.fanout(Tables.documents(s, d))
      .select(col("doc_id"),
        explode(split(lower(col("text")), "[^a-z]+")).as("tok"))
      .filter(col("tok") =!= "")
    val vocab = toks.groupBy("tok").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("tok")).limit(VocabK)
      .select(col("tok"), lit(true).as("in_vocab"))
    toks.join(broadcast(vocab), Seq("tok"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("in_vocab").isNull, 1L).otherwise(0L)).as("n_oov"))
      .withColumn("oov_rate",
        round(col("n_oov").cast("double") /
          col("n_tokens").cast("double"), 4))
      .orderBy("doc_id")
  }
  private val x31Sql =
    s"""WITH toks AS (
       |  SELECT doc_id,
       |    UNNEST(regexp_split_to_array(LOWER(text), '[^a-z]+')) AS tok
       |  FROM documents),
       |t AS (SELECT * FROM toks WHERE tok <> ''),
       |v AS (
       |  SELECT tok FROM t GROUP BY tok
       |  ORDER BY COUNT(*) DESC, tok LIMIT $VocabK)
       |SELECT t.doc_id, COUNT(*) AS n_tokens,
       |  CAST(SUM(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_oov,
       |  ROUND(CAST(SUM(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END)
       |    AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 4) AS oov_rate
       |FROM t LEFT JOIN v ON t.tok = v.tok
       |GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------------
  // X42 — metadata trust audit: where does the DECLARED language
  // column disagree with the content (x06's lexicon argmax)? Scraped
  // corpora routinely carry wrong language tags; this is the per-
  // (source, declared-lang) disagreement report that decides whether
  // the metadata is usable for filtering. Docs with no lexicon hits
  // stay un-scored (left join) rather than counted as mismatches.
  // ---------------------------------------------------------------------
  private def x42(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val sw = lexicon.toDF("sw_lang", "sw")
    val docs = Tables.fanout(Tables.documents(s, d))
      .select(col("doc_id"), col("source"), col("lang"))
    val toks = Tables.fanout(Tables.documents(s, d))
      .select(col("doc_id"), explode(split(col("text"), " ")).as("token"))
    val hits = toks.join(broadcast(sw), col("token") === col("sw"))
      .groupBy(col("doc_id"), col("sw_lang"))
      .agg(count(lit(1)).as("hits"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("hits").desc, col("sw_lang"))
    val pred = hits.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("doc_id"), col("sw_lang").as("predicted"))
    docs.join(pred, Seq("doc_id"), "left")
      .groupBy(col("source"), col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("predicted").isNotNull, 1L).otherwise(0L))
          .as("n_scored"),
        sum(when(col("predicted").isNotNull &&
          col("predicted") =!= col("lang"), 1L).otherwise(0L))
          .as("n_mismatch"))
      .withColumn("mismatch_rate",
        when(col("n_scored") > 0, col("n_mismatch").cast("double") /
          col("n_scored").cast("double")))
      .orderBy("source", "lang")
  }
  private def x42Sql: String = {
    val values = lexicon.map { case (l, w) => s"('$l','$w')" }.mkString(", ")
    s"""WITH sw(sw_lang, sw) AS (VALUES $values),
       |toks AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS token
       |  FROM documents),
       |hits AS (
       |  SELECT doc_id, sw_lang, COUNT(*) AS hits
       |  FROM toks JOIN sw ON token = sw GROUP BY 1, 2),
       |pred AS (
       |  SELECT doc_id, sw_lang AS predicted
       |  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
       |          ORDER BY hits DESC, sw_lang) AS rn FROM hits)
       |  WHERE rn = 1),
       |j AS (
       |  SELECT d.source, d.lang, p.predicted
       |  FROM documents d LEFT JOIN pred p ON d.doc_id = p.doc_id)
       |SELECT source, lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
       |  CAST(SUM(CASE WHEN predicted IS NOT NULL THEN 1 ELSE 0 END)
       |    AS BIGINT) AS n_scored,
       |  CAST(SUM(CASE WHEN predicted IS NOT NULL
       |    AND predicted <> lang THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_mismatch,
       |  CASE WHEN SUM(CASE WHEN predicted IS NOT NULL THEN 1 ELSE 0
       |      END) > 0
       |    THEN CAST(SUM(CASE WHEN predicted IS NOT NULL
       |        AND predicted <> lang THEN 1 ELSE 0 END) AS DOUBLE)
       |      / CAST(SUM(CASE WHEN predicted IS NOT NULL THEN 1 ELSE 0
       |          END) AS DOUBLE)
       |  END AS mismatch_rate
       |FROM j GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
  }

  // ---------------------------------------------------------------------
  // X61 — one BPE training step at corpus scale: global byte-pair
  // statistics over the (word, freq) vocabulary, the argmax merge,
  // that merge APPLIED with real BPE semantics — greedy leftmost
  // non-overlapping (for "aaa" + merge (a,a): positions {0,1} match
  // but only 0 applies) — and the pair statistics recounted on the
  // merged symbols. Full tokenizer training is this step iterated;
  // the hard part at scale is exactly what's shown here: the greedy
  // non-overlap rule is a PARITY-WITHIN-ISLANDS computation (group
  // consecutive match positions, keep even offsets from each island
  // head), i.e. two window passes — no per-word sequential loop, no
  // UDF, so it distributes like any windowed query.
  //
  // Scale shape: pair counting runs on the DISTINCT-WORD vocabulary
  // weighted by frequency (cost ∝ vocab size, not corpus size — the
  // classic BPE trick); per-word windows are bounded by word length;
  // the chosen merge is a 1-row broadcast (a17's scalar pattern).
  // ---------------------------------------------------------------------
  private def x61(s: SparkSession, d: String): DataFrame = {
    val words = Tables.fanout(Tables.documents(s, d))
      .select(explode(split(col("text"), " ")).as("word"))
      .filter(length(col("word")) > 0)
      .groupBy(col("word")).agg(count(lit(1)).as("freq"))
      .cut(false) // vocab relation: symbols + both pair counts
    val syms = words.select(col("word"), col("freq"),
      posexplode(expr("filter(split(word, ''), ch -> ch <> '')"))
        .as(Seq("pos", "sym")))
    val wW = Window.partitionBy(col("word")).orderBy(col("pos"))
    def pairCounts(ss: DataFrame): DataFrame = ss
      .withColumn("nxt", lead(col("sym"), 1).over(wW))
      .filter(col("nxt").isNotNull)
      .select(col("sym").as("sym_a"), col("nxt").as("sym_b"),
        col("freq"))
      .groupBy(col("sym_a"), col("sym_b"))
      .agg(sum(col("freq")).as("cnt"))
    val pre = pairCounts(syms).cut(false) // top-10 + argmax merge
    val chosen = pre.orderBy(desc("cnt"), col("sym_a"), col("sym_b"))
      .limit(1)
      .select(col("sym_a").as("ma"), col("sym_b").as("mb"))
    val flagged = syms.crossJoin(broadcast(chosen))
      .withColumn("nxt", lead(col("sym"), 1).over(wW))
      .withColumn("m", col("sym") === col("ma") &&
        col("nxt") === col("mb"))
    val wG = Window.partitionBy(col("word"), col("grp"))
    val applied = flagged.filter(col("m"))
      .withColumn("grp", col("pos") - row_number().over(wW))
      .withColumn("head", min(col("pos")).over(wG))
      .filter((col("pos") - col("head")) % 2 === 0)
      .select(col("word"), col("pos"))
    val consumed = applied.select(col("word"),
      (col("pos") + 1).as("pos"))
    val merged = flagged
      .join(applied.withColumn("ap", lit(true)), Seq("word", "pos"),
        "left")
      .join(consumed.withColumn("gone", lit(true)), Seq("word", "pos"),
        "left")
      .filter(col("gone").isNull)
      .select(col("word"), col("freq"), col("pos"),
        when(col("ap"), concat(col("ma"), col("mb")))
          .otherwise(col("sym")).as("sym"))
    val post = pairCounts(merged)
    // bounded relations (distinct symbol pairs): the global top-10
    // window is a TakeOrdered over a few thousand rows, not a scan
    def top(df: DataFrame, stage: String): DataFrame = {
      val w = Window.orderBy(desc("cnt"), col("sym_a"), col("sym_b"))
      df.withColumn("rnk", row_number().over(w).cast("long"))
        .filter(col("rnk") <= 10)
        .select(lit(stage).as("stage"), col("rnk"),
          col("sym_a"), col("sym_b"), col("cnt"))
    }
    top(pre, "pre").unionByName(top(post, "post"))
      .orderBy("stage", "rnk")
  }
  private lazy val x61Sql =
    s"""WITH words AS (
       |  SELECT word, CAST(COUNT(*) AS BIGINT) AS freq FROM (
       |    SELECT unnest(string_split(text, ' ')) AS word
       |    FROM documents)
       |  WHERE word <> '' GROUP BY 1),
       |chars AS (
       |  SELECT word, freq,
       |    list_filter(string_split(word, ''), ch -> ch <> '') AS c
       |  FROM words),
       |syms AS (
       |  SELECT word, freq, i AS pos, c[i] AS sym
       |  FROM chars, unnest(generate_series(1, len(c))) AS t(i)),
       |pre AS (
       |  SELECT sym_a, sym_b, CAST(SUM(freq) AS BIGINT) AS cnt FROM (
       |    SELECT word, freq, sym AS sym_a,
       |      LEAD(sym) OVER (PARTITION BY word ORDER BY pos) AS sym_b
       |    FROM syms)
       |  WHERE sym_b IS NOT NULL GROUP BY 1, 2),
       |chosen AS (
       |  SELECT sym_a AS ma, sym_b AS mb FROM pre
       |  ORDER BY cnt DESC, sym_a, sym_b LIMIT 1),
       |flagged AS (
       |  SELECT s.word, s.freq, s.pos, s.sym, c.ma, c.mb,
       |    LEAD(s.sym) OVER (PARTITION BY s.word ORDER BY s.pos) AS nxt
       |  FROM syms s CROSS JOIN chosen c),
       |mpos AS (
       |  SELECT word, pos,
       |    pos - ROW_NUMBER() OVER (PARTITION BY word ORDER BY pos)
       |      AS grp
       |  FROM flagged WHERE sym = ma AND nxt = mb),
       |applied AS (
       |  SELECT word, pos FROM (
       |    SELECT word, pos, MIN(pos) OVER (PARTITION BY word, grp)
       |      AS head
       |    FROM mpos)
       |  WHERE (pos - head) % 2 = 0),
       |merged AS (
       |  SELECT f.word, f.freq, f.pos,
       |    CASE WHEN a.pos IS NOT NULL THEN f.ma || f.mb
       |         ELSE f.sym END AS sym
       |  FROM flagged f
       |  LEFT JOIN applied a ON a.word = f.word AND a.pos = f.pos
       |  LEFT JOIN applied g ON g.word = f.word AND g.pos + 1 = f.pos
       |  WHERE g.pos IS NULL),
       |post AS (
       |  SELECT sym_a, sym_b, CAST(SUM(freq) AS BIGINT) AS cnt FROM (
       |    SELECT word, freq, sym AS sym_a,
       |      LEAD(sym) OVER (PARTITION BY word ORDER BY pos) AS sym_b
       |    FROM merged)
       |  WHERE sym_b IS NOT NULL GROUP BY 1, 2),
       |ranked AS (
       |  SELECT 'pre' AS stage,
       |    ROW_NUMBER() OVER (ORDER BY cnt DESC, sym_a, sym_b) AS rnk,
       |    sym_a, sym_b, cnt FROM pre
       |  UNION ALL
       |  SELECT 'post',
       |    ROW_NUMBER() OVER (ORDER BY cnt DESC, sym_a, sym_b),
       |    sym_a, sym_b, cnt FROM post)
       |SELECT stage, CAST(rnk AS BIGINT) AS rnk, sym_a, sym_b, cnt
       |FROM ranked WHERE rnk <= 10 ORDER BY stage, rnk""".stripMargin

  // ---------------------------------------------------------------------
  // X89 — full BPE training loop: x61 proves ONE merge step; a
  // tokenizer-training pipeline runs K of them. The loop lives in
  // [[graft.etl.BpeTrain]] under the iterate-with-cut discipline
  // (PageRank.runConverged's template: checkpoint per round, release
  // superseded, ONE 1-row argmax action per round) so plan depth is
  // CONSTANT in K — the property that separates "can demo 6 merges"
  // from "can train the 50k-merge tokenizer" (an unrolled K-round plan
  // nests round N-1 inside round N and dies in analysis long before
  // that; BpeTrainSpec pins the final symbol relation to a flat
  // checkpoint scan). Output is the trained artifact itself: the merge
  // table after K rounds — rank, pair, selection-time count. The
  // oracle is the bounded-K expansion: x61's verbatim CTE chain
  // (pair stats → argmax → parity-islands apply) GENERATED K times
  // with a renumber stage between rounds — consecutive positions are
  // what keep round r+1's island grouping correct after round r
  // punches holes in the symbol sequence (both engines renumber
  // identically via ROW_NUMBER, so the gate is cell-exact).
  // Scale: every round costs pair-agg + bounded per-word windows over
  // the DISTINCT-WORD vocabulary (∝ vocab, not corpus); the only
  // driver-sized object is the K-row merge table — the artifact being
  // trained.
  // ---------------------------------------------------------------------
  private val BpeTrainRounds = 6

  private def x89(s: SparkSession, d: String): DataFrame = {
    import graft.etl.BpeTrain
    val words = BpeTrain.vocab(Tables.fanout(Tables.documents(s, d)))
    val (merges, finalSyms) = BpeTrain.train(words, BpeTrainRounds)
    graft.etl.Checkpoints.release(finalSyms) // card wants merges only
    s.createDataFrame(merges).orderBy("merge_rank")
  }

  // chosen_r is LEFT-joined ON TRUE (not CROSS) so a DRY round — pair
  // stats exhausted before K merges on a tiny corpus — passes prev
  // through unchanged (ma/mb NULL → no position matches → identity
  // renumber), matching BpeTrain.train's early-exhaustion grace of
  // returning the last non-empty symbol relation. With the normal
  // 1-row chosen_r the two joins are identical.
  private def bpeRoundCtes(r: Int): String = {
    val prev = s"syms_${r - 1}"
    s"""pre_$r AS MATERIALIZED (
       |  SELECT sym_a, sym_b, CAST(SUM(freq) AS BIGINT) AS cnt FROM (
       |    SELECT word, freq, sym AS sym_a,
       |      LEAD(sym) OVER (PARTITION BY word ORDER BY pos) AS sym_b
       |    FROM $prev)
       |  WHERE sym_b IS NOT NULL GROUP BY 1, 2),
       |chosen_$r AS MATERIALIZED (
       |  SELECT sym_a AS ma, sym_b AS mb, cnt FROM pre_$r
       |  ORDER BY cnt DESC, sym_a, sym_b LIMIT 1),
       |flagged_$r AS MATERIALIZED (
       |  SELECT s.word, s.freq, s.pos, s.sym, c.ma, c.mb,
       |    LEAD(s.sym) OVER (PARTITION BY s.word ORDER BY s.pos) AS nxt
       |  FROM $prev s LEFT JOIN chosen_$r c ON TRUE),
       |mpos_$r AS MATERIALIZED (
       |  SELECT word, pos,
       |    pos - ROW_NUMBER() OVER (PARTITION BY word ORDER BY pos)
       |      AS grp
       |  FROM flagged_$r WHERE sym = ma AND nxt = mb),
       |applied_$r AS MATERIALIZED (
       |  SELECT word, pos FROM (
       |    SELECT word, pos, MIN(pos) OVER (PARTITION BY word, grp)
       |      AS head
       |    FROM mpos_$r)
       |  WHERE (pos - head) % 2 = 0),
       |syms_$r AS MATERIALIZED (
       |  SELECT word, freq,
       |    ROW_NUMBER() OVER (PARTITION BY word ORDER BY pos) AS pos,
       |    sym
       |  FROM (
       |    SELECT f.word, f.freq, f.pos,
       |      CASE WHEN a.pos IS NOT NULL THEN f.ma || f.mb
       |           ELSE f.sym END AS sym
       |    FROM flagged_$r f
       |    LEFT JOIN applied_$r a ON a.word = f.word AND a.pos = f.pos
       |    LEFT JOIN applied_$r g ON g.word = f.word
       |      AND g.pos + 1 = f.pos
       |    WHERE g.pos IS NULL))""".stripMargin
  }

  /** The full K-round training chain (WITH clause body) — shared by
    * x89 (reads the chosen_r merge rows) and x90 (reads syms_K), so
    * train and apply can never derive different tokenizers. */
  private lazy val bpeChainCtes: String = {
    val base =
      """WITH words AS MATERIALIZED (
        |  SELECT word, CAST(COUNT(*) AS BIGINT) AS freq FROM (
        |    SELECT unnest(string_split(text, ' ')) AS word
        |    FROM documents)
        |  WHERE word <> '' GROUP BY 1),
        |chars AS MATERIALIZED (
        |  SELECT word, freq,
        |    list_filter(string_split(word, ''), ch -> ch <> '') AS c
        |  FROM words),
        |syms_0 AS MATERIALIZED (
        |  SELECT word, freq, i AS pos, c[i] AS sym
        |  FROM chars, unnest(generate_series(1, len(c))) AS t(i))"""
        .stripMargin
    val rounds = (1 to BpeTrainRounds).map(bpeRoundCtes).mkString(",\n")
    s"$base,\n$rounds"
  }

  private lazy val x89Sql: String = {
    val sel = (1 to BpeTrainRounds).map(r =>
      s"SELECT CAST($r AS BIGINT) AS merge_rank, ma AS sym_a, " +
        s"mb AS sym_b, cnt FROM chosen_$r").mkString("\nUNION ALL\n")
    s"$bpeChainCtes\n$sel\nORDER BY merge_rank"
  }

  // ---------------------------------------------------------------------
  // X90 — tokenizer APPLY: the encode-side twin of x89's training loop
  // (train/apply is the tokenizer family's build/serve split — x79/x88
  // 's pattern one stage later in the pipeline). The K trained merges
  // are applied to the corpus vocabulary and the card is the segment-
  // length census every tokenizer rollout is judged by: per resulting
  // tokens-per-word count, how many distinct word forms land there,
  // their occurrence mass, and their token mass — plus the corpus
  // fertility this induces (x69's proxy metric, now computed from the
  // REAL trained merges instead of a fixed stride). Both engines
  // derive the final symbol relation through the identical K-round
  // chain (the Spark side reuses x89's loop output; the oracle reuses
  // its generated CTE expansion and reads syms_K), so the census is
  // cell-exact. Scale: nothing beyond x89's per-round cost; the card
  // aggregates the vocab-grain symbol relation — ∝ vocab, not corpus.
  // ---------------------------------------------------------------------
  private def x90(s: SparkSession, d: String): DataFrame = {
    import graft.etl.BpeTrain
    val words = BpeTrain.vocab(Tables.fanout(Tables.documents(s, d)))
    val (_, finalSyms) = BpeTrain.train(words, BpeTrainRounds)
    val perWord = finalSyms.groupBy("word")
      .agg(max("freq").as("freq"), count(lit(1)).as("n_tokens"))
    val out = perWord.groupBy("n_tokens")
      .agg(count(lit(1)).as("n_words"),
        sum("freq").as("word_mass"),
        sum(expr("freq * n_tokens")).as("token_mass"))
      .orderBy("n_tokens")
    out
  }
  private lazy val x90Sql: String =
    s"""$bpeChainCtes,
       |wtok AS MATERIALIZED (
       |  SELECT word, MAX(freq) AS freq,
       |    CAST(COUNT(*) AS BIGINT) AS n_tokens
       |  FROM syms_$BpeTrainRounds GROUP BY 1)
       |SELECT n_tokens, CAST(COUNT(*) AS BIGINT) AS n_words,
       |  CAST(SUM(freq) AS BIGINT) AS word_mass,
       |  CAST(SUM(freq * n_tokens) AS BIGINT) AS token_mass
       |FROM wtok GROUP BY 1 ORDER BY n_tokens""".stripMargin

  // ---------------------------------------------------------------------
  // X65 — quality-score calibration: the reliability diagram for
  // x07's quality score against a deterministic gold proxy
  // (lang = 'en' AND n_chars ≥ 200). Per score decile: volume, the
  // DECIMAL-exact mean score (x47's discipline — bit-stable under
  // any partitioning), the gold rate, and the calibration gap
  // (mean_score/100 − gold_rate). This is the model-eval primitive
  // a filtering pipeline runs before trusting a score as a KEEP
  // threshold: a well-calibrated score has gap ≈ 0 per bin; a bin
  // with a large gap is where a threshold misfilters. One keyed agg
  // over the contracted 10-bin domain.
  // ---------------------------------------------------------------------
  private def x65(s: SparkSession, d: String): DataFrame = {
    val scored = Tables.fanout(Tables.documents(s, d))
      .withColumn("toks", split(col("text"), " "))
      .withColumn("n_tokens", size(col("toks")))
      .withColumn("stop_ratio",
        expr("size(filter(toks, x -> x IN ('the', 'a')))")
          .cast("double") / col("n_tokens").cast("double"))
      .withColumn("score",
        round(lit(100.0) *
          (least(col("n_tokens"), lit(100)).cast("double") / 100.0 * 0.5 +
            (lit(1.0) - col("stop_ratio")) * 0.5), 2))
      .withColumn("gold",
        (col("lang") === "en" && col("n_chars") >= 200).cast("long"))
      .withColumn("bin",
        least(floor(col("score") / 10).cast("long"), lit(9L)))
    scored.groupBy(col("bin"))
      .agg(count(lit(1)).as("n_docs"),
        (sum(col("score").cast("decimal(18,2)")).cast("double") /
          count(lit(1)).cast("double")).as("mean_score"),
        sum(col("gold")).as("n_gold"))
      .withColumn("gold_rate",
        col("n_gold").cast("double") / col("n_docs").cast("double"))
      .withColumn("calib_gap",
        round(col("mean_score") / 100.0 - col("gold_rate"), 4))
      .orderBy("bin")
  }
  private val x65Sql =
    """WITH scored AS (
      |  SELECT doc_id, lang, n_chars,
      |    ROUND(100.0 * (
      |      CAST(LEAST(len(string_split(text, ' ')), 100) AS DOUBLE)
      |        / 100.0 * 0.5 +
      |      (1.0 - CAST(len(list_filter(string_split(text, ' '),
      |          x -> x IN ('the', 'a'))) AS DOUBLE)
      |        / CAST(len(string_split(text, ' ')) AS DOUBLE)) * 0.5),
      |      2) AS score
      |  FROM documents),
      |b AS (
      |  SELECT *, LEAST(CAST(FLOOR(score / 10) AS BIGINT), 9) AS bin,
      |    CASE WHEN lang = 'en' AND n_chars >= 200 THEN 1 ELSE 0 END
      |      AS gold
      |  FROM scored)
      |SELECT bin, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  CAST(CAST(SUM(CAST(score AS DECIMAL(18,2))) AS VARCHAR)
      |      AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS mean_score,
      |  CAST(SUM(gold) AS BIGINT) AS n_gold,
      |  CAST(SUM(gold) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
      |    AS gold_rate,
      |  ROUND(CAST(CAST(SUM(CAST(score AS DECIMAL(18,2))) AS VARCHAR)
      |      AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) / 100.0
      |    - CAST(SUM(gold) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 4)
      |    AS calib_gap
      |FROM b GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------------
  // X66 — padding-waste batching audit: the training-efficiency twin
  // of x17 (sequence packing). A trainer that does NOT pack forms
  // fixed-size batches of B sequences and pads every sequence to the
  // batch max; the waste depends entirely on HOW sequences are
  // grouped. This query prices the two standard policies against
  // each other — arrival order (doc_id) vs length-sorted bucketing —
  // per shard (source), because batches are formed within shards in
  // any distributed loader. All arithmetic is exact BIGINT (counts,
  // maxes, products); only the final waste fraction divides. Cost:
  // per-source windows (never a global sort), one keyed agg over
  // (policy, source, batch), and a 2-row card.
  // ---------------------------------------------------------------------
  private val BatchSize = 16

  private def x66(s: SparkSession, d: String): DataFrame = {
    val base = Tables.documents(s, d)
      .select(col("doc_id"), col("source"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"))
    val wArr = Window.partitionBy(col("source")).orderBy(col("doc_id"))
    val wLen = Window.partitionBy(col("source"))
      .orderBy(col("n_tokens"), col("doc_id"))
    val assigned = base
      .withColumn("rk_a", row_number().over(wArr).cast("long"))
      .withColumn("rk_s", row_number().over(wLen).cast("long"))
      .select(col("source"), col("n_tokens"),
        explode(array(
          struct(lit("arrival").as("policy"),
            expr(s"(rk_a - 1) div $BatchSize").as("batch")),
          struct(lit("sorted").as("policy"),
            expr(s"(rk_s - 1) div $BatchSize").as("batch")))).as("pb"))
      .select(col("pb.policy").as("policy"), col("source"),
        col("pb.batch").as("batch"), col("n_tokens"))
    assigned.groupBy(col("policy"), col("source"), col("batch"))
      .agg(max(col("n_tokens")).as("mx"), count(lit(1)).as("c"),
        sum(col("n_tokens")).as("t"))
      .groupBy(col("policy"))
      .agg(count(lit(1)).as("n_batches"),
        sum(col("t")).as("total_tokens"),
        sum(col("mx") * col("c")).as("padded_slots"),
        (sum(col("mx") * col("c")) - sum(col("t"))).as("waste_slots"))
      .withColumn("waste_frac",
        round(col("waste_slots").cast("double") /
          col("padded_slots").cast("double"), 6))
      .orderBy("policy")
  }
  private val x66Sql =
    s"""WITH base AS (
       |  SELECT doc_id, source,
       |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
       |  FROM documents),
       |r AS (
       |  SELECT *,
       |    ROW_NUMBER() OVER (PARTITION BY source ORDER BY doc_id)
       |      AS rk_a,
       |    ROW_NUMBER() OVER (PARTITION BY source
       |      ORDER BY n_tokens, doc_id) AS rk_s
       |  FROM base),
       |m AS (
       |  SELECT 'arrival' AS policy, source,
       |    (rk_a - 1) // $BatchSize AS batch, n_tokens FROM r
       |  UNION ALL
       |  SELECT 'sorted', source, (rk_s - 1) // $BatchSize, n_tokens
       |  FROM r),
       |b AS (
       |  SELECT policy, source, batch, MAX(n_tokens) AS mx,
       |    CAST(COUNT(*) AS BIGINT) AS c, SUM(n_tokens) AS t
       |  FROM m GROUP BY 1, 2, 3)
       |SELECT policy, CAST(COUNT(*) AS BIGINT) AS n_batches,
       |  CAST(SUM(t) AS BIGINT) AS total_tokens,
       |  CAST(SUM(mx * c) AS BIGINT) AS padded_slots,
       |  CAST(SUM(mx * c) - SUM(t) AS BIGINT) AS waste_slots,
       |  ROUND(CAST(SUM(mx * c) - SUM(t) AS DOUBLE)
       |    / CAST(SUM(mx * c) AS DOUBLE), 6) AS waste_frac
       |FROM b GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------------
  // X67 — keep-threshold sweep: the decision companion to x65's
  // calibration card. For every candidate threshold t ∈ {0, 10, …,
  // 90} on x07's quality score: how many documents survive, and the
  // precision/recall of "kept" against the same deterministic gold
  // proxy. Computed WITHOUT fan-out: one keyed agg to per-decile
  // counts, then cumulative sums from the top bin down — the window
  // runs over the contracted 10-row domain, never over documents, so
  // the single-partition frame is bounded by construction.
  // ---------------------------------------------------------------------
  private def x67(s: SparkSession, d: String): DataFrame = {
    val scored = Tables.fanout(Tables.documents(s, d))
      .withColumn("toks", split(col("text"), " "))
      .withColumn("n_tokens", size(col("toks")))
      .withColumn("stop_ratio",
        expr("size(filter(toks, x -> x IN ('the', 'a')))")
          .cast("double") / col("n_tokens").cast("double"))
      .withColumn("score",
        round(lit(100.0) *
          (least(col("n_tokens"), lit(100)).cast("double") / 100.0 * 0.5 +
            (lit(1.0) - col("stop_ratio")) * 0.5), 2))
      .withColumn("gold",
        (col("lang") === "en" && col("n_chars") >= 200).cast("long"))
      .withColumn("bin",
        least(floor(col("score") / 10).cast("long"), lit(9L)))
    val bins = scored.groupBy(col("bin"))
      .agg(count(lit(1)).as("n_bin"), sum(col("gold")).as("g_bin"))
    val wTop = Window.orderBy(col("bin").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy()
    bins
      .withColumn("n_kept", sum(col("n_bin")).over(wTop))
      .withColumn("gold_kept", sum(col("g_bin")).over(wTop))
      .withColumn("total_gold", sum(col("g_bin")).over(wAll))
      .withColumn("threshold", (col("bin") * 10).cast("long"))
      .withColumn("precision_f",
        round(col("gold_kept").cast("double") /
          col("n_kept").cast("double"), 6))
      .withColumn("recall_f",
        when(col("total_gold") === 0, lit(null).cast("double"))
          .otherwise(round(col("gold_kept").cast("double") /
            col("total_gold").cast("double"), 6)))
      .select("threshold", "n_kept", "gold_kept", "precision_f",
        "recall_f")
      .orderBy("threshold")
  }
  private val x67Sql =
    """WITH scored AS (
      |  SELECT doc_id,
      |    ROUND(100.0 * (
      |      CAST(LEAST(len(string_split(text, ' ')), 100) AS DOUBLE)
      |        / 100.0 * 0.5 +
      |      (1.0 - CAST(len(list_filter(string_split(text, ' '),
      |          x -> x IN ('the', 'a'))) AS DOUBLE)
      |        / CAST(len(string_split(text, ' ')) AS DOUBLE)) * 0.5),
      |      2) AS score,
      |    CASE WHEN lang = 'en' AND n_chars >= 200 THEN 1 ELSE 0 END
      |      AS gold
      |  FROM documents),
      |bins AS (
      |  SELECT LEAST(CAST(FLOOR(score / 10) AS BIGINT), 9) AS bin,
      |    CAST(COUNT(*) AS BIGINT) AS n_bin,
      |    CAST(SUM(gold) AS BIGINT) AS g_bin
      |  FROM scored GROUP BY 1),
      |cum AS (
      |  SELECT bin, n_bin, g_bin,
      |    SUM(n_bin) OVER (ORDER BY bin DESC
      |      ROWS UNBOUNDED PRECEDING) AS n_kept,
      |    SUM(g_bin) OVER (ORDER BY bin DESC
      |      ROWS UNBOUNDED PRECEDING) AS gold_kept,
      |    SUM(g_bin) OVER () AS total_gold
      |  FROM bins)
      |SELECT CAST(bin * 10 AS BIGINT) AS threshold,
      |  CAST(n_kept AS BIGINT) AS n_kept,
      |  CAST(gold_kept AS BIGINT) AS gold_kept,
      |  ROUND(CAST(gold_kept AS DOUBLE) / CAST(n_kept AS DOUBLE), 6)
      |    AS precision_f,
      |  CASE WHEN total_gold = 0 THEN NULL
      |    ELSE ROUND(CAST(gold_kept AS DOUBLE)
      |      / CAST(total_gold AS DOUBLE), 6) END AS recall_f
      |FROM cum ORDER BY threshold""".stripMargin

  // ---------------------------------------------------------------------
  // X68 — inter-annotator agreement (Cohen's kappa): the labeling-QA
  // primitive a pipeline runs when two labelers (a model and a
  // heuristic, or two model versions) disagree — raw accuracy
  // overstates agreement when the label marginals are skewed, kappa
  // corrects for chance. Annotator A = the corpus `lang` column;
  // annotator B = x06's lexicon-argmax predictor, over the docs B
  // labels (≥1 lexicon hit). Everything up to the final kappa is
  // exact BIGINT (confusion counts, marginal products); one doc-scale
  // pass builds the ≤ |langs|² confusion matrix, all downstream aggs
  // run on that contracted domain. The final 1×1 scalar combine is
  // a broadcast crossJoin (a17/x21's pattern).
  // ---------------------------------------------------------------------
  private def x68(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val sw = lexicon.toDF("sw_lang", "sw")
    val docs = Tables.fanout(Tables.documents(s, d))
    val toks = docs.select(col("doc_id"), col("lang").as("a_lang"),
      explode(split(col("text"), " ")).as("token"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("hits").desc, col("sw_lang"))
    val perDoc = toks.join(broadcast(sw), col("token") === col("sw"))
      .groupBy(col("doc_id"), col("a_lang"), col("sw_lang"))
      .agg(count(lit(1)).as("hits"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("a_lang"), col("sw_lang").as("b_lang"))
    // ≤ |langs|² rows from here down — one doc-scale aggregation only
    val conf = perDoc.groupBy(col("a_lang"), col("b_lang"))
      .agg(count(lit(1)).as("c"))
      .cut()
    val tot = conf.agg(sum(col("c")).as("n"),
      sum(when(col("a_lang") === col("b_lang"), col("c"))
        .otherwise(0L)).as("agree"))
    val rowt = conf.groupBy(col("a_lang").as("lab"))
      .agg(sum(col("c")).as("ra"))
    val colt = conf.groupBy(col("b_lang").as("lab"))
      .agg(sum(col("c")).as("cb"))
    val pe = rowt.join(colt, "lab")
      .agg(sum(col("ra") * col("cb")).as("pe_num"))
    tot.crossJoin(pe)
      .withColumn("po_ppm", expr("(1000000 * agree) div n"))
      .withColumn("pe_ppm", expr("(1000000 * pe_num) div (n * n)"))
      .withColumn("kappa",
        round((col("n") * col("agree") - col("pe_num")).cast("double") /
          (col("n") * col("n") - col("pe_num")).cast("double"), 6))
      .select("n", "agree", "pe_num", "po_ppm", "pe_ppm", "kappa")
  }
  private def x68Sql: String = {
    val values = lexicon.map { case (l, w) => s"('$l','$w')" }.mkString(", ")
    s"""WITH sw(sw_lang, sw) AS (VALUES $values),
       |toks AS (
       |  SELECT doc_id, lang AS a_lang,
       |         unnest(string_split(text, ' ')) AS token
       |  FROM documents),
       |hits AS (
       |  SELECT doc_id, a_lang, sw_lang, COUNT(*) AS hits
       |  FROM toks JOIN sw ON token = sw
       |  GROUP BY 1, 2, 3),
       |per_doc AS (
       |  SELECT a_lang, sw_lang AS b_lang
       |  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
       |          ORDER BY hits DESC, sw_lang) AS rn FROM hits)
       |  WHERE rn = 1),
       |conf AS (
       |  SELECT a_lang, b_lang, CAST(COUNT(*) AS BIGINT) AS c
       |  FROM per_doc GROUP BY 1, 2),
       |tot AS (
       |  SELECT CAST(SUM(c) AS BIGINT) AS n,
       |    CAST(SUM(CASE WHEN a_lang = b_lang THEN c ELSE 0 END)
       |      AS BIGINT) AS agree
       |  FROM conf),
       |pe AS (
       |  SELECT CAST(SUM(ra * cb) AS BIGINT) AS pe_num
       |  FROM (SELECT a_lang AS lab, SUM(c) AS ra FROM conf GROUP BY 1)
       |  JOIN (SELECT b_lang AS lab, SUM(c) AS cb FROM conf GROUP BY 1)
       |  USING (lab))
       |SELECT n, agree, pe_num,
       |  CAST((1000000 * agree) // n AS BIGINT) AS po_ppm,
       |  CAST((1000000 * pe_num) // (n * n) AS BIGINT) AS pe_ppm,
       |  ROUND(CAST(n * agree - pe_num AS DOUBLE)
       |    / CAST(n * n - pe_num AS DOUBLE), 6) AS kappa
       |FROM tot, pe""".stripMargin
  }

  // ---------------------------------------------------------------------
  // X69 — tokenizer fertility audit: the tokenizer-evaluation
  // primitive run before committing a corpus to a vocabulary —
  // characters per token and subword fertility (subword pieces per
  // whitespace word) PER LANGUAGE, because fertility skew is how a
  // tokenizer silently taxes some languages' context windows.
  // Tokenizer 1 = whitespace words; tokenizer 2 = a deterministic
  // stride-4 subword proxy (each word splits into ceil(len/4)
  // pieces — the fixed-vocabulary worst case a trained BPE improves
  // on, and unlike a regex tokenizer it genuinely varies with the
  // per-language word-length distribution). Sums are exact BIGINT;
  // divisions happen once per language row. One keyed agg, zero
  // windows, zero joins.
  // ---------------------------------------------------------------------
  private def x69(s: SparkSession, d: String): DataFrame = {
    Tables.fanout(Tables.documents(s, d))
      .select(col("lang"), col("n_chars"),
        size(split(col("text"), " ")).cast("long").as("ws"),
        expr("aggregate(split(text, ' '), 0L, " +
          "(a, w) -> a + (length(w) + 3) div 4)").as("sub"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("chars"),
        sum(col("ws")).as("ws_tokens"),
        sum(col("sub")).as("sub_tokens"))
      .withColumn("chars_per_ws",
        round(col("chars").cast("double") /
          col("ws_tokens").cast("double"), 4))
      .withColumn("chars_per_sub",
        round(col("chars").cast("double") /
          col("sub_tokens").cast("double"), 4))
      .withColumn("fertility",
        round(col("sub_tokens").cast("double") /
          col("ws_tokens").cast("double"), 4))
      .orderBy("lang")
  }
  private val x69Sql =
    """WITH per_doc AS (
      |  SELECT lang, n_chars,
      |    CAST(len(string_split(text, ' ')) AS BIGINT) AS ws,
      |    list_reduce(
      |      list_prepend(CAST(0 AS BIGINT),
      |        list_transform(string_split(text, ' '),
      |          w -> CAST((length(w) + 3) // 4 AS BIGINT))),
      |      (a, b) -> a + b) AS sub
      |  FROM documents)
      |SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  CAST(SUM(n_chars) AS BIGINT) AS chars,
      |  CAST(SUM(ws) AS BIGINT) AS ws_tokens,
      |  CAST(SUM(sub) AS BIGINT) AS sub_tokens,
      |  ROUND(CAST(SUM(n_chars) AS DOUBLE)
      |    / CAST(SUM(ws) AS DOUBLE), 4) AS chars_per_ws,
      |  ROUND(CAST(SUM(n_chars) AS DOUBLE)
      |    / CAST(SUM(sub) AS DOUBLE), 4) AS chars_per_sub,
      |  ROUND(CAST(SUM(sub) AS DOUBLE)
      |    / CAST(SUM(ws) AS DOUBLE), 4) AS fertility
      |FROM per_doc GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------------
  // X72-ext — Count-Min sketch frequency estimates with the one-sided
  // error contract: completes the sketch-contract family (HLL q26c/
  // q38b, MinHash x51, GK q48, KMV x71) with the classic
  // counter-matrix sketch. The d=4 × w=256 counter matrix is built by
  // a keyed partial agg over (row, bucket) — at 100 TB each executor
  // holds its own 1,024-long matrix and the merge is counter addition,
  // the textbook mergeable-sketch shape; nothing here materializes the
  // token domain beyond the exact audit side it is certified against.
  // Buckets come from per-row affine mixes of the oracle-portable
  // PolyHash (distinct multipliers per row — the x53 postmortem's
  // weak-mixing lesson), so DuckDB rebuilds the SKETCH bit-for-bit.
  // Contract per audited token (top-100 heavy hitters, the sketch's
  // actual use case): est ≥ exact ALWAYS (the CMS one-sided
  // guarantee — a negative err is a bug, spec-asserted), and
  // est − exact ≤ 4·N/w with per-row Markov probability ≤ 1/4,
  // i.e. ≤ 1/256 after the min over 4 independent rows.
  // [[graft.functions.CountMinSketch]] is the library kernel with the
  // SAME bucket family — CountMinSketchSpec pins that the Aggregator
  // build equals this relational build counter-for-counter.
  // ---------------------------------------------------------------------
  private val CmsW = 256
  private val CmsD = 4
  private val CmsA = Seq(1000003L, 100003L, 10007L, 1009L)
  private val CmsB = Seq(12345L, 54321L, 7L, 999983L)
  // explode-ready (r, a, b) parameter rows; bucket = ((ph*a + b) % P) % w
  private def cmsParams = array((0 until CmsD).map(r => struct(
    lit(r).as("r"), lit(CmsA(r)).as("pa"), lit(CmsB(r)).as("pb"))): _*)
  private val cmsBucket =
    s"((ph * p.pa + p.pb) % 1000000007L) % $CmsW"

  private def x72(s: SparkSession, d: String): DataFrame = {
    val ex = Tables.fanout(Tables.documents(s, d))
      .select(explode(split(lower(col("text")), "[^a-z]+")).as("tok"))
      .filter(col("tok") =!= "")
      .groupBy("tok").agg(count(lit(1)).as("exact_cnt"))
      .withColumn("ph", graft.functions.PolyHash(col("tok")))
      // three consumers (counter matrix, N scalar, audit slice):
      // one materialization
      .cut(false)
    val counters = ex
      .select(col("exact_cnt"), col("ph"), explode(cmsParams).as("p"))
      .select(col("p.r").as("r"), expr(cmsBucket).as("b"),
        col("exact_cnt"))
      .groupBy("r", "b").agg(sum("exact_cnt").as("c"))
    val n = ex.agg(sum("exact_cnt").as("n_total"))
    val top = ex.orderBy(col("exact_cnt").desc, col("tok")).limit(100)
    top
      .select(col("tok"), col("exact_cnt"), col("ph"),
        explode(cmsParams).as("p"))
      .select(col("tok"), col("exact_cnt"), col("p.r").as("r"),
        expr(cmsBucket).as("b"))
      .join(broadcast(counters), Seq("r", "b"))
      .groupBy("tok", "exact_cnt").agg(min("c").as("est_cnt"))
      .crossJoin(broadcast(n))
      .withColumn("err", col("est_cnt") - col("exact_cnt"))
      .withColumn("bound", expr(s"(4L * n_total) div $CmsW"))
      .withColumn("within_bound",
        (col("err") <= col("bound")).cast("long"))
      .select("tok", "exact_cnt", "est_cnt", "err", "n_total", "bound",
        "within_bound")
      .orderBy(col("exact_cnt").desc, col("tok"))
  }
  private val duckPolyHashTok =
    """list_reduce(list_prepend(CAST(0 AS BIGINT),
      |  list_transform(list_filter(string_split(tok, ''), ch -> ch <> ''),
      |    ch -> CAST(unicode(ch) AS BIGINT))),
      |  (acc, c) -> (acc * 31 + c) % 1000000007)"""
      .stripMargin.replace("\n", " ")
  private lazy val x72Sql =
    s"""WITH toks AS (
       |  SELECT UNNEST(regexp_split_to_array(LOWER(text), '[^a-z]+'))
       |    AS tok
       |  FROM documents),
       |ex AS (
       |  SELECT tok, CAST(COUNT(*) AS BIGINT) AS exact_cnt
       |  FROM toks WHERE tok <> '' GROUP BY 1),
       |exh AS (SELECT *, $duckPolyHashTok AS ph FROM ex),
       |params(r, pa, pb) AS (VALUES
       |  (0, ${CmsA(0)}, ${CmsB(0)}), (1, ${CmsA(1)}, ${CmsB(1)}),
       |  (2, ${CmsA(2)}, ${CmsB(2)}), (3, ${CmsA(3)}, ${CmsB(3)})),
       |counters AS (
       |  SELECT p.r, ((e.ph * p.pa + p.pb) % 1000000007) % $CmsW AS b,
       |    CAST(SUM(e.exact_cnt) AS BIGINT) AS c
       |  FROM exh e CROSS JOIN params p GROUP BY 1, 2),
       |n AS (SELECT CAST(SUM(exact_cnt) AS BIGINT) AS n_total FROM ex),
       |top AS (SELECT * FROM exh ORDER BY exact_cnt DESC, tok LIMIT 100),
       |est AS (
       |  SELECT t.tok, t.exact_cnt, MIN(c.c) AS est_cnt
       |  FROM top t CROSS JOIN params p
       |  JOIN counters c ON c.r = p.r
       |    AND c.b = ((t.ph * p.pa + p.pb) % 1000000007) % $CmsW
       |  GROUP BY 1, 2)
       |SELECT tok, exact_cnt, est_cnt, est_cnt - exact_cnt AS err,
       |  n_total, (4 * n_total) // $CmsW AS bound,
       |  CAST(CASE WHEN est_cnt - exact_cnt <= (4 * n_total) // $CmsW
       |    THEN 1 ELSE 0 END AS BIGINT) AS within_bound
       |FROM est CROSS JOIN n
       |ORDER BY exact_cnt DESC, tok""".stripMargin

  // ---------------------------------------------------------------------
  // X80 — BM25 sparse retrieval: the lexical retriever next to the
  // dense stack (x05 brute / x05b LSH / x18 IVF / x73 fusion) — a RAG
  // deployment runs BOTH and fuses. Query model: every 100th doc is a
  // query; its terms are its 3 RAREST corpus terms with df ≥ 2
  // (informative-term selection — it also bounds the candidate volume
  // by construction: posting lists of rare terms, never stop-word
  // scans; impact-ordered/WAND pruning is the 100 TB path for
  // arbitrary terms and changes nothing below the candidate join).
  // Scoring is EXACT integer BM25 (k1 = 1.2, b = 0.75) with one
  // documented deviation: idf is the log-free rational
  // (2(N−df)+1)/(2df+1) in ppm — monotone in the textbook
  // log((N−df+0.5)/(df+0.5)), so per-term orderings agree, and no
  // float/log divergence can split the engines (x23's house rule).
  // The index is IMPACT-TRUNCATED: each term's posting list keeps only
  // its top-[[BmImpactCap]] postings by (tf desc, doc_id) — the
  // impact-ordered early-termination discipline real sparse indexes
  // (WAND/MaxScore) rely on, and the load-bearing bound here: this
  // corpus's vocabulary is ~31 tokens, so EVERY term is a stop word
  // with a corpus-sized posting list, and the uncapped candidate join
  // was measured at 55M rows / 492 s at sf1 — with the cap it is
  // ≤ 3·cap per query at any corpus size. Both engines score the same
  // truncated index, so the gate stays exact.
  // tf normalization clears ALL fractions: with avgdl = T/N,
  //   tf_part = 2.2·tf / (tf + 1.2·(0.25 + 0.75·dl/avgdl))
  //           = 22·T·tf / (10·T·tf + 3·T + 9·dl·N)  — exact.
  // Products route through DECIMAL(38,0)/HUGEINT (T·tf·10⁶ wraps
  // BIGINT long before 100 TB — the q54/q55 rule).
  // Plan: token tf/df/dl aggs (vocabulary- and corpus-grain partial
  // aggs), a 1-row corpus-stats broadcast, the term-keyed candidate
  // join, one (q_id, doc_id) sum agg, one per-query top-10 window.
  // ---------------------------------------------------------------------
  // The index build itself lives in [[graft.etl.SparseIndex]] — the
  // persisted build/serve split (x88 gates the build card; x80 composes
  // build + serve inline against this oracle, so the library inherits
  // the gate — the AnnIndex/x79/x18 pattern).
  private val BmImpactCap = graft.etl.SparseIndex.ImpactCap

  private[queries] def x80(s: SparkSession, d: String): DataFrame = {
    import graft.etl.SparseIndex
    val tf = SparseIndex.termFreqs(Tables.fanout(Tables.documents(s, d)))
      .cut(false) // consumers: df, dl, query terms, posting lists
    val idx = SparseIndex.build(tf)
    val qterms = tf.filter(col("doc_id") % 100 === 0)
      .select(col("doc_id").as("q_id"), col("tok"))
      .join(idx.df, "tok").filter(col("df") >= 2)
      .withColumn("rk", row_number().over(Window.partitionBy("q_id")
        .orderBy(col("df").asc, col("tok"))))
      .filter(col("rk") <= 3)
      .select("q_id", "tok")
    SparseIndex.serve(qterms, idx)
  }
  /** The oracle's index-build CTE chain over `documents` rows passing
    * `docWhere` ("" = all), truncated at `cap` — shared verbatim by
    * x80 (the serve path), x88 (the build card), x92 (append ≡
    * rebuild) and x96 (delete ≡ rebuild-without-the-docs), so the
    * persisted index and every maintenance path are gated against ONE
    * build definition (duckIvfPrefix's trick). */
  private[queries] def bm25IndexCtesFor(docWhere: String,
      cap: Int): String =
    s"""toks AS (
      |  SELECT doc_id,
      |    UNNEST(regexp_split_to_array(LOWER(text), '[^a-z]+')) AS tok
      |  FROM documents $docWhere),
      |tf AS (SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS tf
      |       FROM toks WHERE tok <> '' GROUP BY 1, 2),
      |df AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS df
      |       FROM tf GROUP BY 1),
      |dl AS (SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS dl
      |       FROM tf GROUP BY 1),
      |stats AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
      |    CAST(SUM(dl) AS BIGINT) AS t_tokens FROM dl),
      |plist AS (
      |  SELECT doc_id, tok, tf FROM (
      |    SELECT *, ROW_NUMBER() OVER (PARTITION BY tok
      |      ORDER BY tf DESC, doc_id) AS prk
      |    FROM tf)
      |  WHERE prk <= $cap)""".stripMargin
  private[queries] val bm25IndexCtes = bm25IndexCtesFor("", BmImpactCap)
  /** The full BM25 serve oracle over `documents` rows passing
    * `docWhere`, index truncated at `cap` — x80's chain verbatim,
    * parameterized so x98 can gate the SERVE path of a deleted index
    * against the rebuild-without-the-docs serve. */
  private[queries] def bm25ServeSql(docWhere: String, cap: Int): String =
    s"""WITH ${bm25IndexCtesFor(docWhere, cap)},
      |qterms AS (
      |  SELECT q_id, tok FROM (
      |    SELECT tf.doc_id AS q_id, tf.tok,
      |      ROW_NUMBER() OVER (PARTITION BY tf.doc_id
      |        ORDER BY df.df ASC, tf.tok) AS rk
      |    FROM tf JOIN df USING (tok)
      |    WHERE tf.doc_id % 100 = 0 AND df.df >= 2)
      |  WHERE rk <= 3),
      |contrib AS (
      |  SELECT q.q_id, tf.doc_id,
      |    CAST((CAST(1000000 AS HUGEINT) * (2*(s.n_docs - df.df) + 1))
      |      // (2*df.df + 1) AS BIGINT) AS idf_ppm,
      |    CAST((CAST(1000000 AS HUGEINT) * 22 * s.t_tokens * tf.tf)
      |      // (CAST(10 AS HUGEINT) * s.t_tokens * tf.tf
      |         + 3 * s.t_tokens + 9 * dl.dl * s.n_docs)
      |      AS BIGINT) AS tfp_ppm
      |  FROM qterms q
      |  JOIN plist tf USING (tok)
      |  JOIN df USING (tok)
      |  JOIN dl ON dl.doc_id = tf.doc_id
      |  CROSS JOIN stats s
      |  WHERE tf.doc_id <> q.q_id),
      |scored AS (
      |  SELECT q_id, doc_id,
      |    CAST(SUM(CAST(CAST(idf_ppm AS HUGEINT) * tfp_ppm // 1000000
      |      AS BIGINT)) AS BIGINT) AS score_ppm,
      |    CAST(COUNT(*) AS BIGINT) AS n_terms
      |  FROM contrib GROUP BY 1, 2)
      |SELECT q_id, doc_id, rank, score_ppm, n_terms FROM (
      |  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY q_id
      |    ORDER BY score_ppm DESC, doc_id) AS BIGINT) AS rank
      |  FROM scored)
      |WHERE rank <= 10 ORDER BY q_id, rank""".stripMargin
  private[queries] val x80Sql = bm25ServeSql("", BmImpactCap)

  // ---------------------------------------------------------------------
  // X88 — sparse-index build card: the PERSISTED-index half of the x80
  // build/serve split ([[graft.etl.SparseIndex]]), closing the symmetry
  // VERDICT r8 called out — the dense family has x79 (IVF build) and
  // the MinHash family x82 (signature index); this is the lexical
  // retriever's. Per vocabulary term, the card checks every stored
  // table at once: FULL document frequency (df — the idf input, kept
  // pre-truncation so capping lists never moves scores), the truncated
  // posting-list census (n_postings ≤ cap), its tf mass, and an exact
  // BIGINT membership fingerprint (doc_sum + id range — proves WHICH
  // postings survived the impact cut cross-engine, x63/x79's trick),
  // with the 1-row corpus stats broadcast onto every row. Oracle shares
  // bm25IndexCtes with x80 verbatim, so the build the card certifies IS
  // the build the serve path scores; SparseIndexSpec holds the rest of
  // the deploy contract (write→read→serve ≡ inline, append ≡ rebuild).
  // Scale: the card is |vocabulary| rows; cost = the build itself
  // (one tokenize scan + keyed aggs + one per-term truncation window),
  // amortized over every serve.
  // ---------------------------------------------------------------------
  /** The per-term build-card census over an index — shared by x88
    * (inline build) and x92 (append path), so both gates check the
    * same fingerprint columns. */
  private def sparseCensus(idx: graft.etl.SparseIndex.Index): DataFrame =
    idx.plist.groupBy("tok")
      .agg(count(lit(1)).as("n_postings"),
        sum("tf").as("tf_sum"),
        sum("doc_id").as("doc_sum"),
        min("doc_id").as("doc_min"),
        max("doc_id").as("doc_max"))
      .join(idx.df, "tok")
      .crossJoin(broadcast(idx.stats))
      .select(col("tok"), col("df"), col("n_postings"), col("tf_sum"),
        col("doc_sum"), col("doc_min"), col("doc_max"),
        col("n_docs"), col("t_tokens"))
      .orderBy("tok")

  private def x88(s: SparkSession, d: String): DataFrame = {
    import graft.etl.SparseIndex
    val tf = SparseIndex.termFreqs(Tables.fanout(Tables.documents(s, d)))
      .cut(false) // consumers: plist truncation, df, dl
    sparseCensus(SparseIndex.build(tf))
  }
  /** The census SELECT over a built index's CTEs — shared by x88/x92/
    * x96 so all three maintenance gates check identical columns. */
  private val sparseCensusSelect =
    """SELECT p.tok, f.df,
      |  CAST(COUNT(*) AS BIGINT) AS n_postings,
      |  CAST(SUM(p.tf) AS BIGINT) AS tf_sum,
      |  CAST(SUM(p.doc_id) AS BIGINT) AS doc_sum,
      |  MIN(p.doc_id) AS doc_min, MAX(p.doc_id) AS doc_max,
      |  s.n_docs, s.t_tokens
      |FROM plist p JOIN df f USING (tok) CROSS JOIN stats s
      |GROUP BY 1, 2, 8, 9 ORDER BY tok""".stripMargin
  private val x88Sql = s"WITH $bm25IndexCtes\n$sparseCensusSelect"

  // ---------------------------------------------------------------------
  // X92 — incremental sparse-index append, gated CROSS-ENGINE: the
  // Spark side splits the corpus into an indexed base (doc_id % 3 ≠ 0)
  // and an arriving delta shard, builds the base index, folds the
  // delta in through SparseIndex.append (touched terms re-truncated,
  // untouched lists untouched), and emits x88's census card over the
  // RESULT — while the oracle is x88's full-from-scratch build over
  // the whole corpus. The hash gate therefore proves the append
  // theorem itself on real data (top-cap(base ∪ delta) ⊆ top-cap(base)
  // ∪ delta — the cap-monotonicity argument in SparseIndex's scaladoc)
  // against an engine that never saw the split, not merely Spark-vs-
  // Spark as the round-trip spec does. x82 is the MinHash family's
  // version of this card; this is the lexical one. Scale: append cost
  // = the delta's tf agg + a re-truncation bounded by the delta's
  // touched terms — the nightly-shard shape; the base corpus is
  // touched only through its stored tables.
  // ---------------------------------------------------------------------
  private def x92(s: SparkSession, d: String): DataFrame = {
    import graft.etl.SparseIndex
    val tf = SparseIndex.termFreqs(Tables.fanout(Tables.documents(s, d)))
      .cut(false) // consumers: base build, delta append
    val base = SparseIndex.build(tf.filter(col("doc_id") % 3 =!= 0))
    sparseCensus(
      SparseIndex.append(base, tf.filter(col("doc_id") % 3 === 0)))
  }
  private lazy val x92Sql = x88Sql // append must equal the full rebuild

  // ---------------------------------------------------------------------
  // X96 — index DELETE, gated CROSS-ENGINE: the retraction half of the
  // maintenance lifecycle x92 opened (append), closing the gap VERDICT
  // r9 named — a nightly-ingest deployment must be able to RETRACT or
  // REVISE a document, and until now no persisted family could. The
  // Spark side builds the full index, retracts every doc_id % 10 = 3
  // through SparseIndex.delete — the interesting path is the
  // UN-TRUNCATION: a deleted posting inside a term's stored top-cap
  // leaves a hole the capped list cannot fill from itself, so touched
  // terms re-truncate from the kept full-tf relation (the fifth stored
  // table, kept for exactly this) — and emits x88's census card over
  // the RESULT, while the oracle is the full-from-scratch build over
  // the corpus WITHOUT the deleted docs. Hash equality therefore
  // proves delete ≡ rebuild-without-the-docs on every term's list,
  // df decrement, and the corpus stats, against an engine that never
  // saw a delete. The cap here is LOW (8, both engines) so every
  // term's list overflows at every gated scale and the backfill path
  // is exercised corpus-wide, not incidentally. Scale: delete cost ∝
  // the deleted docs' postings + a re-truncation bounded by their
  // touched terms — the rest of the index is never read.
  // ---------------------------------------------------------------------
  private val X96Cap = 8

  private def x96(s: SparkSession, d: String): DataFrame = {
    import graft.etl.SparseIndex
    val tf = SparseIndex.termFreqs(Tables.fanout(Tables.documents(s, d)))
      .cut(false) // consumers: full build (plist/df/dl), delete's kept-tf
    val del = tf.select("doc_id").distinct()
      .filter(col("doc_id") % 10 === 3)
    sparseCensus(SparseIndex.delete(SparseIndex.build(tf, X96Cap), del,
      X96Cap))
  }
  private lazy val x96Sql =
    s"WITH ${bm25IndexCtesFor("WHERE doc_id % 10 <> 3", X96Cap)}\n" +
      sparseCensusSelect

  // ---------------------------------------------------------------------
  // X98 — delete→SERVE ≡ rebuild→serve, gated cross-engine: x96 proves
  // the deleted index's TABLES equal the rebuild's; this proves the
  // number a user actually sees — the BM25 top-10 — is identical too,
  // end to end through the serve path. The Spark side deletes every
  // doc_id % 10 = 3 from the full index (same retraction set and LOW
  // cap as x96, so the backfilled lists are what get SCORED), then
  // serves the kept corpus probes from the deleted index; the oracle
  // is x80's serve chain verbatim over the corpus WITHOUT the deleted
  // docs. Every score is x80's exact integer BM25, so the gate is
  // hash-exact — a wrong df decrement, a missed backfill, or a stale
  // dl row each moves some score_ppm and fails the hash. Scale: the
  // delete's bounded maintenance cost + one serve (≤ cap rows per
  // query term at any corpus size).
  // ---------------------------------------------------------------------
  private def x98(s: SparkSession, d: String): DataFrame = {
    import graft.etl.SparseIndex
    val tf = SparseIndex.termFreqs(Tables.fanout(Tables.documents(s, d)))
      .cut(false) // consumers: full build, delete's kept-tf, query terms
    val del = tf.select("doc_id").distinct()
      .filter(col("doc_id") % 10 === 3)
    val idx = SparseIndex.delete(SparseIndex.build(tf, X96Cap), del,
      X96Cap)
    // kept corpus probes only — a deleted doc no longer issues queries
    val qterms = tf
      .filter(col("doc_id") % 100 === 0 && col("doc_id") % 10 =!= 3)
      .select(col("doc_id").as("q_id"), col("tok"))
      .join(idx.df, "tok").filter(col("df") >= 2)
      .withColumn("rk", row_number().over(Window.partitionBy("q_id")
        .orderBy(col("df").asc, col("tok"))))
      .filter(col("rk") <= 3)
      .select("q_id", "tok")
    SparseIndex.serve(qterms, idx)
  }
  private lazy val x98Sql =
    bm25ServeSql("WHERE doc_id % 10 <> 3", X96Cap)

  // ---------------------------------------------------------------------
  // X99 — segmented (log-structured) maintenance, gated at the SERVE
  // grain: x92/x96/x98 prove the FOLD-IN append/delete equal a rebuild,
  // but persisting a fold-in still rewrites every table — at 100 TB the
  // nightly write must be O(delta), so graft.etl.SparseSegments keeps
  // the base immutable and stacks each night's operation as a segment
  // (delta tf, SIGNED df deltas, tombstones, and the posting lists of
  // its terms repaired at write time), composing the live view at read
  // time: each term's newest list replaces the base's, scoped
  // tombstone anti-joins, telescoping df sums. The
  // Spark side serves THROUGH a base(⅔ corpus) + append-segment(⅓) +
  // delete-segment(doc_id%10=3) view at x96's LOW cap (every list
  // overflows, so the write-time list repair is exercised
  // corpus-wide); the oracle is x80's serve chain verbatim over the
  // surviving corpus, built from scratch by an engine that has no
  // segments at all. Hash equality proves the whole LSM composition —
  // scoping, telescoping, list repair — END TO END at the
  // number a user sees. SparseSegmentsSpec pins the disk half (O(delta)
  // segment writes leave base files untouched; compact ≡ segmented).
  // Scale: view cost = the base lists + each segment's repaired lists
  // of its terms, one term-set anti-join per segment; plan depth grows
  // with the segment count (the LSM trade) and compact() resets it.
  // ---------------------------------------------------------------------
  private def x99(s: SparkSession, d: String): DataFrame = {
    import graft.etl.{SparseIndex, SparseSegments}
    val tf = SparseIndex.termFreqs(Tables.fanout(Tables.documents(s, d)))
      .cut(false) // consumers: base build, the delta shard, query terms
    val base = SparseIndex.build(tf.filter(col("doc_id") % 3 =!= 0),
      X96Cap)
    val seg1 = SparseSegments.appendSegOf(base,
      tf.filter(col("doc_id") % 3 === 0), X96Cap)
    val live1 = SparseSegments.view(base, Seq(seg1))
    val del = tf.select("doc_id").distinct()
      .filter(col("doc_id") % 10 === 3)
    val seg2 = SparseSegments.deleteSegOf(live1, del, X96Cap)
    val idx = SparseSegments.view(base, Seq(seg1, seg2))
    // kept corpus probes only (doc_id % 100 = 0 never hits the
    // tombstoned %10=3 class)
    val qterms = tf.filter(col("doc_id") % 100 === 0)
      .select(col("doc_id").as("q_id"), col("tok"))
      .join(idx.df, "tok").filter(col("df") >= 2)
      .withColumn("rk", row_number().over(Window.partitionBy("q_id")
        .orderBy(col("df").asc, col("tok"))))
      .filter(col("rk") <= 3)
      .select("q_id", "tok")
    SparseIndex.serve(qterms, idx)
  }
  private lazy val x99Sql =
    bm25ServeSql("WHERE doc_id % 10 <> 3", X96Cap)

  // ---------------------------------------------------------------------
  // W9 — segment-store LIFECYCLE (flagship): the composed nightly job
  // x99 proved the pieces of, now run END TO END through the DISK
  // layer with the r11 trigger policy and in-place compaction —
  // closing VERDICT r10 #1 (w08 still exercised the eager fold-in
  // path; nothing decided WHEN to compact). Four "nights" against one
  // on-disk layout rooted in a fresh temp dir:
  //   init   — base generation = doc_id % 3 = 1 at x96's LOW cap
  //            (every list overflows → the write-time list repair is
  //            exercised corpus-wide);
  //   n1/n2  — appendSeg the % 3 = 2 and % 3 = 0 shards (each an
  //            O(delta) atomic segment publication + manifest bump);
  //   policy — SegmentOps.shouldCompact(maxSegs=2) fires →
  //            compactInPlace folds both segments into base-g<v> and
  //            flips the manifest pointer (old generation kept for
  //            in-flight readers — SegmentManifestSpec's isolation
  //            theorem);
  //   n3     — deleteSeg the doc_id % 10 = 3 revision set: a
  //            tombstone segment ON the compacted base;
  //   serve  — x80's BM25 top-10 through the resolved snapshot view.
  // The oracle is x99's: the serve chain over the surviving corpus,
  // rebuilt from scratch by an engine with no segments, no manifest,
  // no compaction — hash equality proves the WHOLE lifecycle (policy
  // trigger, in-place fold, pointer flip, post-compaction tombstone
  // scoping, bucket-pruned write-time list repair) at the number a user
  // sees. Scale: every night's write is O(delta); the compaction is
  // the amortized O(base) fold the policy schedules (here: segment
  // count, OR the shadowedListFraction read-amplification signal —
  // SegmentReadAmpSpec prices that curve); serve reads the base lists
  // and the delete segment's write-time-repaired lists verbatim.
  // ---------------------------------------------------------------------
  private def w09(s: SparkSession, d: String): DataFrame = {
    import graft.etl.{SegmentOps, SparseIndex, SparseSegments}
    val root = java.nio.file.Files
      .createTempDirectory("graft_w09_lifecycle").toString
    val tf = SparseIndex.termFreqs(Tables.fanout(Tables.documents(s, d)))
      .cut(false) // consumers: base build, two shards, delete set, qterms
    SparseSegments.init(
      SparseIndex.build(tf.filter(col("doc_id") % 3 === 1), X96Cap),
      root, X96Cap)
    SparseSegments.appendSeg(s, root,
      tf.filter(col("doc_id") % 3 === 2))
    SparseSegments.appendSeg(s, root,
      tf.filter(col("doc_id") % 3 === 0))
    // maxSegs=2 PINNED (not SegmentOps.DefaultMaxSegs=4): this fixed,
    // certified script exercises a mid-script compaction flip, which
    // the measured default would never fire at 2 batches (x105)
    if (SegmentOps.shouldCompact(s, root, maxSegs = 2) ||
        SparseSegments.shadowedListFraction(s, root) >= 0.5)
      SparseSegments.compactInPlace(s, root)
    SparseSegments.deleteSeg(s, root,
      tf.select("doc_id").distinct().filter(col("doc_id") % 10 === 3))
    val idx = SparseSegments.read(s, root, Some(X96Cap))
    val qterms = tf.filter(col("doc_id") % 100 === 0)
      .select(col("doc_id").as("q_id"), col("tok"))
      .join(idx.df, "tok").filter(col("df") >= 2)
      .withColumn("rk", row_number().over(Window.partitionBy("q_id")
        .orderBy(col("df").asc, col("tok"))))
      .filter(col("rk") <= 3)
      .select("q_id", "tok")
    SparseIndex.serve(qterms, idx)
  }
  /** Shares x99's oracle text DELIBERATELY: both must equal the same
    * from-scratch rebuild — lifecycle ≡ one-shot segmented view ≡
    * rebuild is the theorem chain. */
  private lazy val w09Sql =
    bm25ServeSql("WHERE doc_id % 10 <> 3", X96Cap)

  // ---------------------------------------------------------------------
  // X84 — per-source Gini concentration: how unequally is a source's
  // character mass distributed over its documents? The curation
  // question behind it: a source whose mass sits in a few huge docs
  // behaves very differently under doc-level sampling/dedup than one
  // with uniform docs — x29's corpus card says how MUCH a source
  // contributes, this says how CONCENTRATED it is. Exact integer
  // Gini via the rank identity G = Σ(2i−n−1)·x_(i) / (n·Σx) with the
  // repo's total-order discipline (size, doc_id) — tie order cannot
  // change the sum (equal x under permuted consecutive ranks), so the
  // value is deterministic; products route through DECIMAL(38,0)
  // (rank·size·n wraps BIGINT at corpus scale). One per-source window
  // + one contracting agg; output is |sources| rows.
  // ---------------------------------------------------------------------
  private def x84(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("source")
      .orderBy(col("n_chars"), col("doc_id"))
    val ranked = Tables.documents(s, d)
      .select(col("source"), col("doc_id"), col("n_chars"))
      .withColumn("i", row_number().over(w).cast("long"))
      .withColumn("n", count(lit(1)).over(
        Window.partitionBy("source")))
    ranked.groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_chars").as("total_chars"),
        sum(expr("CAST(2*i - n - 1 AS DECIMAL(38,0)) * n_chars"))
          .as("gnum"))
      .select(col("source"), col("n_docs"), col("total_chars"),
        expr("CAST((CAST(1000000 AS DECIMAL(38,0)) * gnum) div" +
          " (CAST(n_docs AS DECIMAL(38,0)) * total_chars) AS BIGINT)")
          .as("gini_ppm"))
      .orderBy("source")
  }
  private val x84Sql =
    """WITH ranked AS (
      |  SELECT source, n_chars,
      |    CAST(ROW_NUMBER() OVER (PARTITION BY source
      |      ORDER BY n_chars, doc_id) AS BIGINT) AS i,
      |    CAST(COUNT(*) OVER (PARTITION BY source) AS BIGINT) AS n
      |  FROM documents),
      |agg AS (
      |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |    CAST(SUM(n_chars) AS BIGINT) AS total_chars,
      |    SUM(CAST(2*i - n - 1 AS HUGEINT) * n_chars) AS gnum
      |  FROM ranked GROUP BY 1)
      |SELECT source, n_docs, total_chars,
      |  CAST((CAST(1000000 AS HUGEINT) * gnum)
      |    // (CAST(n_docs AS HUGEINT) * total_chars) AS BIGINT)
      |    AS gini_ppm
      |FROM agg ORDER BY source""".stripMargin

  // ---------------------------------------------------------------------
  // X85 — cross-source quantile (QQ) calibration card: before mixing
  // sources under ONE quality threshold, a curation pipeline must know
  // whether score=X means the same thing in every source — x65
  // calibrates a score against gold, this calibrates sources against
  // EACH OTHER. Score is an exact integer ppm twin of x07's blend
  // (length half + stopword half, integral division only). For each
  // source and each decile k, the card gives the source's type-1
  // quantile boundary vs the global one and their gap — the rank-map
  // a quantile-normalization pass would apply. Boundaries come from
  // the q15/q29 histogram discipline: score→count histograms (never
  // per-doc buffering), cumulative counts, dup-aware rank-pick
  // MIN(score | cum ≥ ⌊(n−1)k/10⌋+1) — no global sort of docs, no
  // interpolation ambiguity, exact in both engines. Scale: histograms
  // are |distinct scores| rows; everything after is histogram-sized.
  // ---------------------------------------------------------------------
  private def x85(s: SparkSession, d: String): DataFrame = {
    val scored = Tables.fanout(Tables.documents(s, d))
      .withColumn("toks", split(col("text"), " "))
      .withColumn("n_tokens", size(col("toks")).cast("long"))
      .withColumn("stop_hits",
        expr("CAST(size(filter(toks, x -> x IN ('the', 'a'))) AS LONG)"))
      .withColumn("score_ppm", expr(
        "(1000000L * least(n_tokens, 100L)) div 200L" +
          " + (1000000L * (n_tokens - stop_hits)) div (2L * n_tokens)"))
      .select("source", "doc_id", "score_ppm")
      .cut(false) // per-source + global histogram consumers
    val ks = (1 to 9).map(k => s"($k)").mkString(", ")
    def boundaries(hist: DataFrame, grp: Seq[String], out: String)
        : DataFrame = {
      val w = Window.partitionBy(grp.map(col): _*).orderBy("score_ppm")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val tot = Window.partitionBy(grp.map(col): _*)
      val cum = hist
        .withColumn("cum", sum("cnt").over(w))
        .withColumn("n", sum("cnt").over(tot))
      cum.crossJoin(broadcast(
          s.sql(s"SELECT * FROM VALUES $ks AS t(decile)")))
        .groupBy((grp.map(col) :+ col("decile")): _*)
        .agg(min(when(col("cum") >=
          expr("((n - 1) * decile) div 10 + 1"), col("score_ppm")))
          .as(out))
    }
    val srcHist = scored.groupBy("source", "score_ppm")
      .agg(count(lit(1)).as("cnt"))
    val gloHist = scored.groupBy("score_ppm")
      .agg(count(lit(1)).as("cnt"))
    val src = boundaries(srcHist, Seq("source"), "src_score_ppm")
    val glo = boundaries(gloHist, Seq.empty, "global_score_ppm")
    src.join(glo, Seq("decile"))
      .select(col("source"), col("decile").cast("long").as("decile"),
        col("src_score_ppm"), col("global_score_ppm"),
        (col("src_score_ppm") - col("global_score_ppm")).as("gap_ppm"))
      .orderBy("source", "decile")
  }
  private val x85Sql =
    """WITH scored AS (
      |  SELECT source, doc_id,
      |    (1000000 * LEAST(len(string_split(text, ' ')), 100)) // 200
      |    + (1000000 * (len(string_split(text, ' '))
      |        - len(list_filter(string_split(text, ' '),
      |            x -> x IN ('the', 'a')))))
      |      // (2 * len(string_split(text, ' '))) AS score_ppm
      |  FROM documents),
      |ks AS (SELECT unnest(generate_series(1, 9)) AS decile),
      |sh AS (SELECT source, score_ppm, CAST(COUNT(*) AS BIGINT) AS cnt
      |       FROM scored GROUP BY 1, 2),
      |sc AS (
      |  SELECT source, score_ppm,
      |    SUM(cnt) OVER (PARTITION BY source ORDER BY score_ppm
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
      |    SUM(cnt) OVER (PARTITION BY source) AS n
      |  FROM sh),
      |src AS (
      |  SELECT source, decile,
      |    MIN(CASE WHEN cum >= ((n - 1) * decile) // 10 + 1
      |        THEN score_ppm END) AS src_score_ppm
      |  FROM sc CROSS JOIN ks GROUP BY 1, 2),
      |gh AS (SELECT score_ppm, CAST(COUNT(*) AS BIGINT) AS cnt
      |       FROM scored GROUP BY 1),
      |gc AS (
      |  SELECT score_ppm,
      |    SUM(cnt) OVER (ORDER BY score_ppm
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
      |    SUM(cnt) OVER () AS n
      |  FROM gh),
      |glo AS (
      |  SELECT decile,
      |    MIN(CASE WHEN cum >= ((n - 1) * decile) // 10 + 1
      |        THEN score_ppm END) AS global_score_ppm
      |  FROM gc CROSS JOIN ks GROUP BY 1)
      |SELECT s.source, CAST(s.decile AS BIGINT) AS decile,
      |  s.src_score_ppm, g.global_score_ppm,
      |  s.src_score_ppm - g.global_score_ppm AS gap_ppm
      |FROM src s JOIN glo g USING (decile)
      |ORDER BY source, decile""".stripMargin

  val all: Seq[QueryDef] = Seq(
    QueryDef("x80_bm25", Some(x80Sql), x80),
    QueryDef("x84_source_gini", Some(x84Sql), x84),
    QueryDef("x85_quantile_calibration", Some(x85Sql), x85),
    QueryDef("x72_cms_frequency", Some(x72Sql), x72),
    QueryDef("x68_annotator_agreement", Some(x68Sql), x68),
    QueryDef("x69_tokenizer_fertility", Some(x69Sql), x69),
    QueryDef("x66_padding_waste", Some(x66Sql), x66),
    QueryDef("x67_threshold_sweep", Some(x67Sql), x67),
    QueryDef("x65_score_calibration", Some(x65Sql), x65),
    QueryDef("x61_bpe_merge", Some(x61Sql), x61),
    QueryDef("x42_lang_mismatch", Some(x42Sql), x42),
    QueryDef("t17_gap_fill", Some(t17Sql), t17),
    QueryDef("x22_heavy_hitters", Some(x22Sql), x22),
    QueryDef("x31_vocab_oov", Some(x31Sql), x31),
    QueryDef("x35_cdc_chunks", Some(x35Sql), x35),
    QueryDef("x23_tfidf", Some(x23Sql), x23),
    QueryDef("x24_stratified_sample", Some(x24Sql), x24),
    QueryDef("x20_segment_dedup", Some(x20Sql), x20),
    QueryDef("x15_pii_redact", Some(x15Sql), x15),
    QueryDef("x16_repetition", Some(x16Sql), x16),
    QueryDef("x17_pack_chunks", Some(x17Sql), x17),
    QueryDef("x45_chunk_overlap", Some(x45Sql), x45),
    QueryDef("x12_quality_filter", Some(x12Sql), x12),
    QueryDef("x13_domain_mix", Some(x13Sql), x13),
    QueryDef("t03_unit_strip_cast", Some(t03Sql), t03),
    QueryDef("t05_keyword_classifier", Some(t05Sql), t05),
    QueryDef("t06_tokenize_explode", Some(t06Sql), t06),
    QueryDef("t08_flags_to_conditions", Some(t08Sql), t08),
    QueryDef("t11_date_parts", Some(t11Sql), t11),
    QueryDef("t14_static_dim", Some(t14Sql), t14),
    QueryDef("t15_date_range_dim", Some(t15Sql), t15),
    QueryDef("t16_synthetic_generator", Some(t16Sql), t16),
    QueryDef("x06_lang_id", Some(x06Sql), x06),
    QueryDef("x07_text_quality", Some(x07Sql), x07),
    QueryDef("x08_token_count", Some(x08Sql), x08),
    QueryDef("x09_fingerprint", Some(x09Sql), x09),
    QueryDef("x88_sparse_index_build", Some(x88Sql), x88),
    QueryDef("x89_bpe_train", Some(x89Sql), x89),
    QueryDef("x90_bpe_apply", Some(x90Sql), x90),
    QueryDef("x92_sparse_index_append", Some(x92Sql), x92),
    QueryDef("x96_index_delete", Some(x96Sql), x96),
    QueryDef("x98_delete_serve", Some(x98Sql), x98),
    QueryDef("x99_segmented_serve", Some(x99Sql), x99),
    QueryDef("w09_segment_lifecycle", Some(w09Sql), w09)
  )
}
