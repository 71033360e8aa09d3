package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery

/** Incremental aggregation maintenance: keep a keyed aggregate
  * (`GROUP BY keys`) continuously up to date from a stream WITHOUT
  * recomputing over history — each micro-batch folds its partial
  * aggregates into a durable [[BucketStateStore]] state table.
  *
  * The algebra is the standard partial-aggregation decomposition
  * Spark itself uses inside a shuffle (partial_sum → final sum),
  * lifted across micro-batches and made durable:
  *
  *  - `batchAgg`: aggregates ONE batch to partial rows
  *    (e.g. `count(*) as n`, `min(id) as keeper`);
  *  - `mergeAgg`: combines partial rows for the same key across
  *    batches (e.g. `sum(n) as n`, `min(keeper) as keeper`). Must be
  *    expressed over the PARTIAL columns and be associative +
  *    commutative (sum of counts, min of mins, max of maxes; an avg
  *    is maintained as sum+count and divided on read).
  *
  * At 100 TB this is the difference between a maintained rollup
  * (per-batch cost ∝ batch size + touched buckets) and a nightly
  * full recompute (cost ∝ corpus). The same store as the CDC pump
  * merge — but sum-merging is NOT idempotent, so every fold fences
  * the streaming batch id into the version pointer: a crash-replayed
  * batch whose id is already committed is skipped, never
  * double-counted (see BucketStateStore.merge batchId contract).
  */
object IncrementalAgg {

  /** Fold one batch into the maintained aggregate. `batchId` is the
    * replay fence — REQUIRED when called from a checkpointed stream;
    * None only for non-replayable one-shot folds.
    */
  def mergeBatch(batch: DataFrame, stateDir: String, keys: Seq[String],
      batchAgg: Seq[Column], mergeAgg: Seq[Column],
      batchId: Option[Long] = None,
      numBuckets: Int = 0): Unit = {
    import org.apache.spark.sql.functions.col
    val partials = batch.groupBy(keys.map(col): _*).agg(
      batchAgg.head, batchAgg.tail: _*)
    BucketStateStore.merge(partials, stateDir, keys, partials, numBuckets,
        batchId) { (state, p) =>
      state.unionByName(p)
        .groupBy(keys.map(col): _*).agg(mergeAgg.head, mergeAgg.tail: _*)
    }
  }

  /** Current maintained aggregate (schema fixed by a template batch
    * aggregated the same way).
    */
  def current(spark: SparkSession, stateDir: String,
      template: DataFrame): DataFrame =
    BucketStateStore.currentState(spark, stateDir, template)

  /** Start maintaining `GROUP BY keys` aggregates from a stream, on
    * the trigger of [[Pump.start]] (no vacuum cadence). Each batch is
    * fenced by its streaming batch id.
    */
  def start(feed: DataFrame, stateDir: String, checkpointDir: String,
      keys: Seq[String], batchAgg: Seq[Column], mergeAgg: Seq[Column],
      processingTime: Option[String] = None): StreamingQuery =
    Pump.start(feed, checkpointDir, processingTime) { (batch, bid) =>
      mergeBatch(batch, stateDir, keys, batchAgg, mergeAgg, batchId = Some(bid))
    }
}
