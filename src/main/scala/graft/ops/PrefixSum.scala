package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Distributed global prefix sum — and its training-data use, budget
  * selection ("take the best documents until N total tokens").
  *
  * The naive formulation `sum(v).over(Window.orderBy(...))` with no
  * partitionBy collapses the whole dataset into ONE task — the
  * classic single-partition-window scale trap (fine at 60k rows,
  * dead at 100 TB). The scalable shape is the textbook two-phase
  * scan:
  *
  *  1. range-repartition by the global order (distributed sort —
  *     Spark's range partitioner keeps partition i's keys wholly
  *     before partition i+1's);
  *  2. per-partition running sum (window partitioned by the physical
  *     partition id — parallel);
  *  3. per-partition totals to the driver (≤ #partitions rows),
  *     prefix-summed into offsets, added back as a literal map
  *     lookup.
  *
  * The result is EXACTLY the global running sum in `order` — range
  * boundaries are sampling-based and nondeterministic, but offsets
  * are computed from the actual partitions, so boundary placement
  * cancels out.
  */
object PrefixSum {

  /** Append `outCol` = running total of `value` in the total order
    * `order` (which must be a total order — add a unique tiebreak
    * column, or equal rows make the running value order-dependent).
    *
    * `value` is summed as LONG (`outCol` is LongType): integer
    * budgets (token counts, byte sizes) are this operator's domain,
    * and a float running total would drift with partition boundaries
    * anyway. A non-integral `value` column is truncated per row by
    * the cast — cast-and-scale first if fractional values matter.
    */
  def withRunningTotal(df: DataFrame, order: Seq[Column], value: Column,
      outCol: String = "running_total"): DataFrame =
    withRunningTotals(df, order, Seq(value -> outCol))

  /** [[withRunningTotal]] for SEVERAL value columns over the SAME
    * order, in ONE two-phase pass: one range repartition, one
    * materialization, one per-partition window (all running sums
    * share the window spec, so Catalyst plans a single Window op),
    * one driver-side offsets collect of ≤ #partitions rows. Chaining
    * single-column calls instead doubles the repartition-by-range +
    * localCheckpoint + offsets collect per extra column — the
    * ScoreEval census cumulatives (cum_pos AND cum_neg, cum_a AND
    * cum_b) all need exactly this pairing on every run and every
    * `--pumps=drift` drain.
    */
  def withRunningTotals(df: DataFrame, order: Seq[Column],
      values: Seq[(Column, String)]): DataFrame = {
    require(values.nonEmpty, "withRunningTotals needs at least one value")
    // duplicate output names would silently overwrite each other in
    // the foldLeft (withColumn replaces), dropping a running total
    // with no error; the scratch names would be clobbered likewise
    val outs = values.map(_._2)
    require(outs.distinct.size == outs.size,
      s"withRunningTotals output columns must be distinct: $outs")
    val reserved = "__pid" +: values.indices.map(i => s"__run$i")
    require(outs.forall(o => !reserved.contains(o)),
      s"withRunningTotals output columns collide with scratch " +
        s"columns ${reserved.mkString(", ")}: $outs")
    val spark = df.sparkSession
    val parts = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val vs = values.map { case (v, out) => v.cast("long") -> out }
    // materialized: the per-partition frame feeds both the offsets
    // collect and the final projection; and partition ids must not
    // be re-rolled between the two uses
    val w = Window.partitionBy("__pid").orderBy(order: _*)
    val local = vs.zipWithIndex.foldLeft(
        df.repartitionByRange(parts, order: _*)
          .withColumn("__pid", spark_partition_id())) {
        case (d, ((v, _), i)) => d.withColumn(s"__run$i", sum(v).over(w))
      }
      .localCheckpoint()
    // driver-sized by construction: one row per partition; coalesce
    // guards the all-NULL-partition case (sum of no non-null rows)
    val sums = vs.zipWithIndex.map { case ((v, _), i) =>
      coalesce(sum(v), lit(0L)).as(s"t$i")
    }
    val totals = local.groupBy("__pid")
      .agg(sums.head, sums.tail: _*)
      .collect()
      .map(r => r.getInt(0) -> vs.indices.map(i => r.getLong(i + 1)))
      .sortBy(_._1)
    vs.zipWithIndex.foldLeft(local) { case (d, ((_, out), i)) =>
      // offset of pid = sum of totals of all partitions before it
      val offsetFor: Map[Int, Long] = totals.map(_._1)
        .zip(totals.map(_._2(i)).scanLeft(0L)(_ + _).init).toMap
      d.withColumn(out,
          col(s"__run$i") + coalesce(
            element_at(typedlit(offsetFor), col("__pid")), lit(0L)))
        .drop(s"__run$i")
    }.drop("__pid")
  }

  /** Keep rows while the running total of `value` (in `order`) stays
    * within `budget` — e.g. "highest-quality documents until 5M
    * tokens". Emits the selected rows with their running total.
    */
  def takeByBudget(df: DataFrame, order: Seq[Column], value: Column,
      budget: Long, outCol: String = "running_total"): DataFrame =
    withRunningTotal(df, order, value, outCol)
      .filter(col(outCol) <= budget)

  /** Sequence packing, concat-and-chunk style: lay documents out
    * back-to-back in the total order `order` and cut the resulting
    * token stream into fixed `contextLen` windows — the layout step
    * every LLM training pipeline runs before batching. Each row
    * gains:
    *
    *  - `bin_id`: the context window its FIRST token lands in,
    *  - `bin_offset`: its first token's position within that window,
    *  - the running total (`outCol`) it derives from.
    *
    * A document whose tokens cross a window boundary spans into the
    * following window(s), exactly like the streamed concatenation it
    * models — packing with per-document no-split placement is a
    * bin-packing problem whose greedy solutions are
    * partition-order-dependent and thus not reproducible at scale;
    * the concat-and-chunk form is the one with a deterministic,
    * engine-independent answer. Scale shape: inherits the two-phase
    * prefix sum — one range shuffle, no single-partition window.
    */
  def packSequences(df: DataFrame, order: Seq[Column], tokens: Column,
      contextLen: Long, outCol: String = "running_total"): DataFrame = {
    require(contextLen > 0, s"contextLen must be positive: $contextLen")
    val start = col(outCol) - tokens.cast("long")
    withRunningTotal(df, order, tokens, outCol)
      .withColumn("bin_id", floor(start / lit(contextLen)))
      .withColumn("bin_offset", start % lit(contextLen))
  }

  /** Deterministic global shuffle into fixed-size shards — the
    * "shuffle your training data" step: rows take a pseudo-random
    * total order (pass e.g. `(uniformKnuth(id), id)` as `order`) and
    * each gets its shard id and in-shard position. Downstream
    * training readers stream shard files sequentially and still see
    * a corpus-wide permutation.
    *
    * `sort by random then number the rows` is the textbook
    * formulation, and the naive global `row_number()` is the same
    * single-partition window trap [[withRunningTotal]] exists to
    * avoid — this is that operator with `value = 1`: one range
    * shuffle on the order key, per-partition numbering, driver-sized
    * offsets. Deterministic order keys (hash, not rand()) make the
    * layout reproducible under retries and recomputation — a shard
    * written twice is written identically.
    *
    * Output: input columns + (`outShard`, `outPos`), positions
    * 0-based within shards of exactly `shardSize` rows (last shard
    * ragged).
    */
  def shardShuffle(df: DataFrame, order: Seq[Column], shardSize: Long,
      outShard: String = "shard", outPos: String = "pos"): DataFrame = {
    require(shardSize > 0, s"shardSize must be positive: $shardSize")
    val rk = col("__rank") - 1
    withRunningTotal(df, order, lit(1L), "__rank")
      .withColumn(outShard, floor(rk / lit(shardSize)).cast("long"))
      .withColumn(outPos, pmod(rk, lit(shardSize)))
      .drop("__rank")
  }
}
