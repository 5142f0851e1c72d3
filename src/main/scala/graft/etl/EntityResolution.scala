package graft.etl

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** J1/J3 — cross-source entity resolution + surrogate key minting
  * (main_etl_pipeline.py:161-312).
  *
  * The reference walks rows sequentially, minting `next_user_id += 1` and
  * reusing keys on profile-hash collisions. That serialization point
  * disappears here: dedup is a window over the hash, key minting numbers
  * the deduped set in range-partitioned key order with `zipWithIndex` —
  * fully distributed, deterministic (explicit ordering everywhere; no
  * `monotonically_increasing_id`).
  *
  * At 100 TB: one shuffle on `profile_hash` for the dedup window; key
  * minting is range-partition + sort + zipWithIndex — distributed dense
  * numbering with no single-partition window anywhere.
  */
object EntityResolution {

  /** Composite profile hash (main_etl_pipeline.py:184-187): rounded
    * continuous fields keep float noise out of the key. */
  def profileHash(age: Column, gender: Column, height: Column,
      weight: Column): Column =
    concat_ws("_", age.cast("int"), lower(trim(gender)),
      format_number(height, 2), format_number(weight, 1))

  /** Dedup rows sharing `hashCol`, keeping the row with lowest
    * (sourcePriority, tieBreaker) — deterministic survivor selection
    * (the reference keeps the first-seen row; source order mendeley →
    * gym → fitbit is its insertion order). */
  def dedupByHash(df: DataFrame, hashCol: Column, sourcePriority: Column,
      tieBreaker: Column): DataFrame = {
    val w = Window.partitionBy(hashCol).orderBy(sourcePriority, tieBreaker)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** Mint dense surrogate keys 1..N over `orderCol` (deterministic
    * replacement for the reference's sequential counter).
    *
    * Distributed dense numbering — never a global single-partition
    * window: range-partition by the order key (partition index order ==
    * global key order), sort within partitions, and number the rows with
    * RDD `zipWithIndex` (its count job derives each partition's offset,
    * over the same shuffle dependency as the numbering pass). Requires
    * `orderCol` be unique per row for a deterministic assignment
    * (callers pass the deduped profile hash). */
  def mintKeys(df: DataFrame, keyName: String, orderCols: Column*): DataFrame = {
    val spark = df.sparkSession
    val n = spark.sparkContext.defaultParallelism
    // Materialize ONE range-partitioned, sorted RDD and number it with
    // zipWithIndex: its internal count job and every downstream job run
    // on the same shuffle dependency, so the range boundaries are fixed
    // once and both phases agree. (Numbering phase 1 and phase 2 as two
    // separate DataFrame executions is WRONG: repartitionByRange seeds
    // its boundary sampling per execution, and disagreeing boundaries
    // mint duplicate keys — caught by RealDataPipelineSpec on the
    // 14.5k-row real corpus.)
    val sorted = df.repartitionByRange(n, orderCols: _*)
      .sortWithinPartitions(orderCols: _*)
    // Keys are LongType: an IntegerType key silently wraps negative past
    // 2^31 rows, and this routine numbers fact tables too, not just dims.
    val schema = org.apache.spark.sql.types.StructType(
      sorted.schema.fields :+ org.apache.spark.sql.types.StructField(
        keyName, org.apache.spark.sql.types.LongType, nullable = false))
    val indexed = sorted.rdd.zipWithIndex().map { case (row, i) =>
      org.apache.spark.sql.Row.fromSeq(row.toSeq :+ (i + 1L))
    }
    spark.createDataFrame(indexed, schema)
  }

  /** Full resolution: hash → dedup → mint; returns canonical profiles
    * with `user_key` plus a mapping DataFrame (source row → user_key),
    * mirroring the reference's `user_mapping` dict
    * (main_etl_pipeline.py:189-262). */
  def resolve(profiles: DataFrame, hashCol: Column, sourcePriority: Column,
      tieBreaker: Column): (DataFrame, DataFrame) = {
    val hashed = profiles.withColumn("profile_hash", hashCol)
    val canonical = mintKeys(
      dedupByHash(hashed, col("profile_hash"), sourcePriority, tieBreaker),
      "user_key", col("profile_hash"))
    val mapping = hashed.join(
      canonical.select(col("profile_hash"), col("user_key")),
      Seq("profile_hash"), "left")
    (canonical, mapping)
  }
}
