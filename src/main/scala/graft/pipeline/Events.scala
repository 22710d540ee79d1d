package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Event-log feature operators for training-data and analytics pipelines:
  * sessionization, per-key top-k, rolling-window features, exact group
  * percentiles. All are window/aggregate shapes that partition by a key column —
  * the per-key work never needs a global sort, so each operator is one keyed
  * exchange regardless of corpus size (the log can be 100 TB as long as one
  * key's events fit a task, the same contract every sessionizer has).
  *
  * The reference has no event-log operators (it is a triple store); these cover
  * the log-derived-features half of a corpus pipeline (activity features for
  * quality filtering, per-source rate limits, engagement weighting).
  */
object Events {

  /** events.ts is generation-dependent: TIMESTAMP(NANOS) parquet read as epoch-nanos
    * LONG (legacy nanosAsLong) in older testdata, plain TIMESTAMP[µs] in newer. Both
    * normalize to the same µs value space here so event operators (and their DuckDB
    * `epoch_us(ts)` oracles) are physical-type-independent. This is THE canonical
    * copy — SparkEntry and streaming route through it. Integer `div` on the
    * long path: a double-rounded /1000 loses low bits at 1e18.
    */
  def tsEpochUs(dt: org.apache.spark.sql.types.DataType): org.apache.spark.sql.Column =
    dt match {
      case org.apache.spark.sql.types.LongType => expr("ts div 1000")
      case _ => unix_micros(col("ts").cast("timestamp"))
    }

  /** Same normalization, as a TimestampType column (for window() aggregation). */
  def tsStamp(dt: org.apache.spark.sql.types.DataType): org.apache.spark.sql.Column =
    dt match {
      case org.apache.spark.sql.types.LongType => timestamp_micros(expr("ts div 1000"))
      case _ => col("ts").cast("timestamp")
    }

  /** Sessionize: a new session starts when the gap to the previous event of the
    * same key exceeds `gapSec`. Output: one row per session with bounds and size.
    * Shape: ONE hash exchange on `keyCol` + per-partition sort — the classic
    * lag→flag→running-sum assignment, then a session aggregate on the same key
    * (no second exchange: session_idx is keyed by `keyCol`).
    * `tsCol` must be a long (monotone per key — epoch nanos/micros both work).
    */
  def sessionize(events: DataFrame, keyCol: String, tsCol: String,
                 gapSec: Long, tsPerSec: Long = 1000000000L): DataFrame = {
    val byKey = Window.partitionBy(keyCol).orderBy(col(tsCol))
    val flagged = events
      .withColumn("__prev", lag(col(tsCol), 1).over(byKey))
      .withColumn("__new", (col("__prev").isNull ||
        col(tsCol) - col("__prev") > gapSec * tsPerSec).cast("int"))
      .withColumn("session_idx", sum(col("__new")).over(byKey))
    flagged.groupBy(col(keyCol), col("session_idx"))
      .agg(count(lit(1)).as("n_events"),
        min(col(tsCol)).as("start_ts"), max(col(tsCol)).as("end_ts"))
  }

  /** Top-k rows per key by `ordCol` descending, ties broken by `tieCol` ascending
    * (deterministic). Catalyst plans the rank filter as a per-partition running
    * row_number after one keyed exchange — nothing beyond each group's first k
    * rows survives the filter, and no global ordering exists anywhere.
    */
  def topKPerKey(df: DataFrame, keyCol: String, ordCol: String, tieCol: String,
                 k: Int): DataFrame = {
    val w = Window.partitionBy(keyCol).orderBy(col(ordCol).desc, col(tieCol))
    df.withColumn("rnk", row_number().over(w)).filter(col("rnk") <= k)
  }

  /** Rolling features per key: running event count and rolling sum/mean of
    * `valueCol` over the previous `frame` rows (inclusive), ordered by `tsCol`
    * with `tieCol` making the frame deterministic. The value is scaled to exact
    * integer cents before summing so the rolling mean is a ratio of exact
    * integers — reproducible across engines regardless of their frame
    * accumulation order (floating sums over sliding frames are not).
    */
  def rollingFeatures(events: DataFrame, keyCol: String, tsCol: String,
                      tieCol: String, valueCol: String, frame: Int): DataFrame = {
    val ord = Window.partitionBy(keyCol).orderBy(col(tsCol), col(tieCol))
    val win = ord.rowsBetween(-(frame - 1), Window.currentRow)
    events
      .withColumn("__cents", round(col(valueCol) * 100).cast("long"))
      .select(col(keyCol), col(tieCol),
        row_number().over(ord).as("seq"),
        sum(col("__cents")).over(win).as("roll_cents"),
        count(lit(1)).over(win).as("roll_n"))
      .withColumn("roll_mean", col("roll_cents").cast("double") / col("roll_n") / 100.0d)
  }

  /** Exact discrete percentiles per key: for each q, the element at 1-based rank
    * ceil(q*n) of the group's ascending `valueCol` (scaled to exact integer
    * cents — engine-portable). Group values are collected and sorted per key:
    * bounded by the largest group, the explicit contract of exact per-group
    * quantiles (corpus-wide approximate quantiles are the sketch path instead).
    */
  def percentilesPerKey(df: DataFrame, keyCol: String, valueCol: String,
                        qs: Seq[Double]): DataFrame = {
    val sorted = df
      .withColumn("__cents", round(col(valueCol) * 100).cast("long"))
      .groupBy(keyCol)
      .agg(sort_array(collect_list(col("__cents"))).as("__vs"))
    val cols = col(keyCol) +: size(col("__vs")).cast("long").as("n") +:
      qs.map(q => element_at(col("__vs"),
        ceil(lit(q) * size(col("__vs"))).cast("int")).as(s"p${(q * 100).toInt}"))
    sorted.select(cols: _*)
  }
}
