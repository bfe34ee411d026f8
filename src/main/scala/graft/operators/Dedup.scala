package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Deduplication operators.
  *
  * [[replacingDedupAgg]] reproduces the reference's ReplacingMergeTree
  * semantics (`clickhouse_manager.py:159-161`: dedup key
  * `(instrument, timestamp)`, merge-time row replacement) — but strictly, at
  * write/query time, instead of eventually at background-merge time
  * (`processor.py:155-159` documents the reference's eventual behavior).
  *
  * [[exactText]] is the exact-duplicate detector of the LLM-pipeline
  * extension surface: hash-groupBy on a content digest.
  *
  * Scale: both are single-shuffle hash aggregations on the dedup key;
  * partial aggregation and AQE skew handling apply. No driver-side state.
  */
object Dedup {

  /** Keep exactly one row per key group, the winner being the row with the
    * minimal ascending `order` tuple (deterministic when those tuples are
    * unique — important for oracle parity), as a hash AGGREGATION: `min_by(struct(row), struct(order))` keeps the
    * winning row per key with map-side partial aggregation and no sort at
    * all, so at scale the shuffle carries one pre-combined row per (key,
    * map task) rather than every input row through a full sort (the
    * 100×-data probe measured 48× cost for the row_number-window form vs
    * ~6× for aggregation-shaped operators, SCALE.md).
    */
  def replacingDedupAgg(df: DataFrame, keys: Seq[String], order: Seq[String]): DataFrame = {
    val rowStruct = struct(df.columns.map(col).toIndexedSeq: _*)
    val ordStruct = struct(order.map(col): _*)
    df.groupBy(keys.map(col): _*)
      .agg(min_by(rowStruct, ordStruct).as("__best"))
      .select(df.columns.map(c => col(s"__best.`$c`").as(c)).toIndexedSeq: _*)
  }

  /** Exact-duplicate groups by content digest: one row per distinct text with
    * the representative (minimal) id and the group size. MD5 is used because
    * it is bit-identical across engines (Spark `md5` == DuckDB `md5`),
    * making the operator oracle-checkable.
    */
  def exactText(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.groupBy(md5(col(textCol).cast("binary")).as("content_hash"))
      .agg(
        min(col(idCol)).as("keep_id"),
        count(lit(1)).as("dup_count")
      )
}
