package graft.cdc

import graft.ops.Transforms
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** CDC apply semantics — the Spark-native replacement for the
  * reference's binlog event application (mysqlreader.py:247-354 in
  * /root/reference):
  *
  *  - INSERT rows were appended (T7);
  *  - UPDATE became a synchronous per-row `ALTER TABLE UPDATE`
  *    against ClickHouse (T8) — here a key-merge (upsert);
  *  - DELETE became a per-row `ALTER TABLE DELETE` (T9) — here an
  *    anti-join.
  *
  * Upgrades over the reference: the primary key is a real column
  * list, not the hard-coded name `id` (mysqlreader.py:322,351), and
  * a whole batch applies as ONE distributed join instead of one
  * synchronous SQL statement per row — the difference between
  * O(rows) round-trips and O(1) shuffles at 100 TB.
  *
  * A change batch is a DataFrame with an `op` column
  * (insert|update|delete) plus the key and value columns; within a
  * batch, per-key ordering is given by `orderCols` (e.g. ts,
  * event_id) and the LAST op wins. This makes batch application
  * associative: applying k time-ordered batches equals applying
  * their union in one batch — which is also the crash-replay
  * idempotence story for streaming (checkpoint replays re-apply a
  * suffix of batches without changing the result).
  */
object CdcApplier {

  val OpCol = "op"

  /** Prefix for optional before-image key columns in a change batch.
    * A feed that carries before-images (e.g. the Debezium envelope's
    * `before` block) exposes the old primary key as
    * `_before_<pkCol>`; rows without a PK change leave them null.
    */
  val BeforePrefix = "_before_"

  /** Expand PK-changing UPDATEs into delete(before) + insert(after).
    *
    * The reference keys UPDATE application on the after-image PK only
    * (mysqlreader.py:322 in /root/reference) — an update that moves a
    * row to a new key leaves the stale old-key row behind. SURVEY
    * §7.3's risk register promises the fix: when a batch carries
    * before-image key columns (`_before_<pk>`, nullable) and a row's
    * before-PK differs from its after-PK, that update is really a key
    * move and must apply as TWO events — a delete of the old key and
    * an insert of the new row. Rows with null or unchanged before-PKs
    * pass through untouched; batches without before-image columns are
    * returned as-is.
    *
    * Scale shape: three narrow filters over the (micro-batch-sized)
    * input, no shuffle — the expansion is a unionByName of
    * pass-through, synthesized deletes, and re-tagged inserts. The
    * synthesized rows keep the original event's order columns, so
    * last-write-wins ordering within the batch is preserved for both
    * the old and the new key.
    */
  def normalizePkChanges(batch: DataFrame, pk: Seq[String]): DataFrame = {
    val beforeCols = pk.map(BeforePrefix + _)
    if (!beforeCols.forall(batch.columns.contains)) {
      require(!beforeCols.exists(batch.columns.contains),
        s"batch carries only some of the before-image key columns " +
          s"${beforeCols.mkString(", ")} — all or none required")
      return batch
    }
    val moved = col(OpCol) === "update" &&
      beforeCols.map(col(_).isNotNull).reduce(_ && _) &&
      pk.map(k => !(col(BeforePrefix + k) <=> col(k))).reduce(_ || _)
    val pass = batch.filter(!moved)
    // delete of the old key: PK columns take the before-image values
    val dels = batch.filter(moved)
      .withColumns(pk.map(k => k -> col(BeforePrefix + k)).toMap)
      .withColumn(OpCol, lit("delete"))
    val ins = batch.filter(moved).withColumn(OpCol, lit("insert"))
    Seq(pass, dels, ins).map(_.drop(beforeCols: _*)).reduce(_ unionByName _)
  }

  /** One row per key: the batch's last change to that key (key moves
    * expanded first), `op` kept. `last` is one window per key over the
    * (small) batch.
    */
  def lastPerKey(batch: DataFrame, pk: Seq[String],
      orderCols: Seq[Column]): DataFrame =
    Transforms.replacingFinal(pk, orderCols)(normalizePkChanges(batch, pk))

  /** Apply a batch already reduced by [[lastPerKey]]: state rows of
    * the touched keys go, the non-delete changes come in.
    */
  def applyLast(state: DataFrame, last: DataFrame, pk: Seq[String]): DataFrame =
    state
      .join(last.select(pk.map(col): _*), pk, "left_anti")
      .unionByName(last.filter(col(OpCol) =!= "delete").drop(OpCol))

  /** Apply one change batch to a state snapshot.
    *
    * Scale shape: `last` is one window per key over the (small)
    * batch; the anti-join hashes batch keys against state. The join
    * strategy is deliberately left to Catalyst/AQE: a typical batch
    * key set broadcasts, but the first micro-batch after a long
    * outage (or an AvailableNow backlog drain) can be arbitrarily
    * large, and a forced broadcast hint would OOM exactly there —
    * AQE falls back to a shuffle join instead.
    */
  def applyBatch(state: DataFrame, batch: DataFrame, pk: Seq[String],
      orderCols: Seq[Column]): DataFrame =
    applyLast(state, lastPerKey(batch, pk, orderCols), pk)

  /** Fold a time-ordered sequence of batches over an initial state.
    * Each batch must wholly precede the next in `orderCols` order
    * (true for time-bucketed feeds).
    *
    * Each intermediate state is checkpointed (local, eager) so the
    * fold's plan stays one join deep per batch instead of stacking
    * N batches of shuffles into a single lineage — with daily
    * batches over months, an un-truncated lineage is hundreds of
    * nested joins and breaks both the optimizer and recovery at
    * scale. Real incremental deployments publish each state to
    * storage instead (StreamingCdc.mergeIntoState does exactly
    * that), which truncates lineage the same way.
    */
  def applyAll(initial: DataFrame, batches: Seq[DataFrame], pk: Seq[String],
      orderCols: Seq[Column]): DataFrame =
    batches.foldLeft(initial) { (s, b) =>
      applyBatch(s, b, pk, orderCols).localCheckpoint(eager = true)
    }

  /** Whole-feed compaction: the single-pass equivalent of replaying
    * every batch in order. Because batch application is
    * last-write-wins per key with deletes dropping the key, folding
    * k time-ordered batches equals one replacingFinal over their
    * union followed by a delete filter — one shuffle total, the
    * form to use when replaying history (vs applyBatch for live
    * incremental merges).
    */
  def replayCompact(feed: DataFrame, pk: Seq[String],
      orderCols: Seq[Column]): DataFrame =
    lastPerKey(feed, pk, orderCols)
      .filter(col(OpCol) =!= "delete")
      .drop(OpCol)
}
