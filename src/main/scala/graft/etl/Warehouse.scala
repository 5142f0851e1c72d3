package graft.etl

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Star/snowflake warehouse builders (SURVEY.md §1.1, §3 E3) — the
  * generic, reusable form of the reference's `transform_data` DAG
  * (main_etl_pipeline.py:137-711): dims from distincts, bridges from
  * exploded blobs, facts via broadcast dimension lookups.
  *
  * Scale stance: dimension tables are small by construction (distincts
  * of low-cardinality attributes) → always broadcast; fact builds are a
  * single pass over the source with map-side lookups — no shuffle except
  * where an aggregation defines the fact grain.
  */
object Warehouse {

  /** T15 — date dimension over [start, end], inclusive
    * (main_etl_pipeline.py:345-357). Distributed `sequence`+`explode`. */
  def dimDate(spark: SparkSession, start: String, end: String): DataFrame = {
    val base = spark.sql(
      s"""SELECT explode(sequence(to_date('$start'), to_date('$end'),
         |  interval 1 day)) AS full_date""".stripMargin)
    Normalize.withDateParts(base, "full_date")
  }

  /** J4+J3 — dimension from the distinct non-null values of a column,
    * with dense deterministic surrogate keys
    * (main_etl_pipeline.py:373-382). Keys minted via the range-partition
    * + zipWithIndex numbering in [[EntityResolution.mintKeys]] — no
    * global single-partition window even for large dims. */
  def dimFromDistinct(src: DataFrame, valueCol: String, keyName: String,
      nameCol: String): DataFrame =
    EntityResolution.mintKeys(
      src.select(col(valueCol).as(nameCol)).na.drop().distinct(),
      keyName, col(nameCol))
      .select(keyName, nameCol)

  /** J5 — dimension from the distinct tokens of a text-blob column
    * (main_etl_pipeline.py:473-482): tokenize → explode → distinct. */
  def dimFromBlob(src: DataFrame, blobCol: String, keyName: String,
      nameCol: String): DataFrame =
    dimFromDistinct(
      src.select(explode(Normalize.tokenizeBlob(col(blobCol))).as(blobCol)),
      blobCol, keyName, nameCol)

  /** T7/bridge — M:N bridge table from an entity key and a blob column
    * (main_etl_pipeline.py:484-511): explode tokens, resolve each token
    * against the dimension (broadcast), drop unmatched + dups. */
  def bridgeFromBlob(src: DataFrame, entityKey: String, blobCol: String,
      dim: DataFrame, dimKey: String, dimName: String): DataFrame =
    src.select(col(entityKey),
        explode(Normalize.tokenizeBlob(col(blobCol))).as("__token"))
      .join(broadcast(dim), col("__token") === col(dimName))
      .select(col(entityKey), col(dimKey))
      .distinct()

  /** J2 — resolve a natural-key column to a dimension surrogate key via
    * broadcast join; "inner" drops unresolved rows (the reference's
    * `if user_key and date_key` gate), "left" keeps them with null keys. */
  def lookupKey(fact: DataFrame, factCol: Column, dim: DataFrame,
      dimNatural: String, dimKey: String, how: String = "inner"): DataFrame =
    fact.join(broadcast(dim.select(col(dimNatural), col(dimKey))),
      factCol === col(dimNatural), how).drop(dimNatural)

  /** A3 — unpivot melt: one source row → one fact row per (metric, value)
    * pair (main_etl_pipeline.py:587-593, weight→weight+bmi rows). */
  def unpivotMetrics(src: DataFrame, idCols: Seq[String],
      metrics: Seq[(String, String)]): DataFrame = {
    val stackArgs = metrics
      .map { case (name, c) => s"'$name', $c" }.mkString(", ")
    src.selectExpr(idCols ++ Seq(
      s"stack(${metrics.size}, $stackArgs) AS (metric, value)"): _*)
  }
}
