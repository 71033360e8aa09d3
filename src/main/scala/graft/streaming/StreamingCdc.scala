package graft.streaming

import graft.cdc.CdcApplier
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.StreamingQuery

/** Continuous CDC pipeline: change-feed stream → `foreachBatch`
  * merge into a hash-bucketed copy-on-write parquet state table
  * ([[BucketStateStore]] — shared with IncrementalAgg).
  *
  * This replaces the reference's pump loop (pumper.py:13-47 +
  * mysqlreader.py:362-448 in /root/reference): Spark's micro-batch
  * engine IS the mempool (BBPool time-flush → trigger interval), the
  * checkpoint directory replaces the per-event binlog position file
  * (mysqlreader.py:356-360) — and upgrades its at-least-once
  * torn-write window to exactly-once, because merges are idempotent
  * (re-applying a replayed batch yields the same state) and offsets
  * commit atomically with the version pointer advancing.
  */
object StreamingCdc {

  val BucketCol: String = BucketStateStore.BucketCol

  def currentVersion(spark: SparkSession, stateDir: String): Option[Long] =
    BucketStateStore.currentVersion(spark, stateDir)

  def currentState(spark: SparkSession, stateDir: String,
      template: DataFrame): DataFrame =
    BucketStateStore.currentState(spark, stateDir, template)

  def vacuum(spark: SparkSession, stateDir: String, keep: Int = 2): Unit =
    BucketStateStore.vacuum(spark, stateDir, keep)

  /** First replicated row, recorded once at stream start — the
    * reference logs it per table so operators can craft the
    * migration cut-over WHERE clause (mysqlreader.py:241-245,
    * docs/manual.md:555-592). Persisted as `_first_row.json` next
    * to the state so it survives the process.
    */
  def firstRow(spark: SparkSession, stateDir: String): Option[String] =
    BucketStateStore.readTextFile(spark, new Path(stateDir, FirstRowFile))
      .filter(_.trim.nonEmpty)

  private val FirstRowFile = "_first_row.json"

  /** Published write-then-rename, so a crash mid-write leaves no torn
    * record. Replay-safe: a crash-replayed first batch keeps the
    * original record; only a blank leftover (from a torn in-place
    * write) is replaced.
    */
  private def recordFirstRow(batch: DataFrame, stateDir: String,
      orderCols: Seq[String]): Unit = {
    val spark = batch.sparkSession
    if (firstRow(spark, stateDir).isEmpty)
      batch.orderBy(orderCols.map(col): _*).limit(1).toJSON.collect()
        .headOption.foreach { json =>
          BucketStateStore.publishTextFile(spark,
            new Path(stateDir, FirstRowFile), json)
        }
  }

  /** Merge one CDC batch and publish the next version, writing ONLY
    * the key-buckets the batch touches. The batch is resolved once to
    * its last change per key; the store writes that as a run per
    * touched bucket, or folds it into the bases (see
    * [[BucketStateStore.merge]]). Idempotent for a replayed batch:
    * last-write-wins per key means re-applying the same changes to the
    * already-merged buckets is a no-op.
    *
    * Schema drift follows the [[graft.migrate.SchemaDrift]] contract
    * (the same one `remigrate` applies to snapshots): ADDITIVE feed
    * drift evolves the state in place — a new column surfaces as NULL
    * when old buckets are read, a widened column (int → long, float →
    * double, decimal growth) widen-reads exactly, no historical
    * rewrite — while DESTRUCTIVE drift (a column dropped or narrowed
    * in the feed) is REFUSED loudly before anything is written,
    * naming every violating column. Without the check, a dropped feed
    * column would silently vanish from state on the next touched
    * bucket's rewrite — the silent-data-loss mode a replication tool
    * must never have.
    *
    * The narrowing check is asymmetric on purpose: a batch column
    * whose type the PERSISTED type widens FROM (int arriving where
    * state already holds long) is a LATE PRE-ALTER file, not drift —
    * around an ALTER, a feed directory legitimately holds
    * mixed-schema files, and a restart may deliver them after the
    * widened state exists. Such columns are cast UP into the
    * persisted type (value-preserving by [[graft.migrate.SchemaDrift
    * .widens]]'s definition) before the merge; only truly
    * incompatible moves are refused.
    */
  def mergeIntoState(rawBatch: DataFrame, stateDir: String, pk: Seq[String],
      orderCols: Seq[String],
      numBuckets: Int = 0): Unit = {
    val spark = rawBatch.sparkSession
    // expand PK-moving updates BEFORE deriving the state template:
    // normalization drops the transient `_before_<pk>` columns, which
    // must not become part of the persisted state schema
    val normalized = CdcApplier.normalizePkChanges(rawBatch, pk)
    val persisted = BucketStateStore.persistedSchema(spark, stateDir)
    val batch = persisted match {
      case None => normalized
      case Some(existing) =>
        val persistedType = existing.fields.map(f => f.name -> f.dataType).toMap
        val upcast = normalized.schema.fields.collect {
          case f if persistedType.get(f.name).exists(pt =>
            pt != f.dataType && graft.migrate.SchemaDrift.widens(f.dataType, pt)) =>
            f.name -> persistedType(f.name)
        }.toMap
        if (upcast.isEmpty) normalized
        else normalized.select(normalized.columns.map(c =>
          upcast.get(c).fold(col(c))(t => col(c).cast(t).as(c))): _*)
    }
    val template = batch.drop(CdcApplier.OpCol)
    persisted.foreach { existing =>
      graft.migrate.SchemaDrift.diff(existing, template.schema)
    }
    if (BucketStateStore.currentVersion(spark, stateDir).isEmpty)
      recordFirstRow(batch, stateDir, orderCols)
    // resolved once: the store writes it as a run, or applies it to
    // the touched buckets' state when it writes bases
    val last = CdcApplier.lastPerKey(batch, pk, orderCols.map(col))
    BucketStateStore.merge(last, stateDir, pk, template, numBuckets,
        tombstone = Some(col(CdcApplier.OpCol) === "delete")) {
      (state, b) => CdcApplier.applyLast(state, b, pk)
    }
  }

  /** Route one multiplexed change batch into per-table state dirs —
    * the reference's independent per-`schema.table` belts
    * (pool/bbpool.py:13-18, 64-78 in /root/reference) re-expressed as
    * one partitioned state tree: a feed carrying routing columns
    * (e.g. the Debezium adapter's `db`, `table`) merges each table's
    * slice into `stateRoot/<db>__<table>` (the reference's composed
    * naming, DdlBuilder-compatible).
    *
    * Scale shape: the routing-value distinct is driver-sized by
    * construction (bounded by the subscription list, P4). Crash
    * recovery composes with per-table merge idempotence: a batch that
    * died between table A and table B replays both; A's re-merge is a
    * no-op, B's completes — same exactly-once outcome.
    */
  def mergeMultiplexed(batch: DataFrame, stateRoot: String, pk: Seq[String],
      orderCols: Seq[String], routingCols: Seq[String] = Seq("db", "table"),
      pkFor: Map[String, Seq[String]] = Map.empty): Unit = {
    val tables = batch.select(routingCols.map(col): _*).distinct()
      .collect().map(r => routingCols.indices.map(r.getString))
    // fail-fast on unroutable changes: a NULL routing value would
    // match no equality slice below and silently vanish —
    // contradicting the adapter's never-drop-a-change stance
    val unroutable = tables.filter(_.exists(_ == null))
    require(unroutable.isEmpty,
      s"CDC batch contains changes with NULL routing columns " +
        s"(${routingCols.mkString(",")}) — refusing to drop them")
    tables.foreach { t =>
      val slice = routingCols.zip(t).foldLeft(batch) { case (df, (c, v)) =>
        df.filter(col(c) === v)
      }.drop(routingCols: _*)
      val name = t.mkString("__")
      // per-table key override: the reference hard-codes `id` across
      // its whole belt map; here each table can carry its own PK
      mergeIntoState(slice, s"$stateRoot/$name",
        pkFor.getOrElse(name, pk), orderCols)
    }
  }

  /** Start a multi-table pump over a multiplexed feed: one streaming
    * query, one checkpoint, per-table state dirs (T2). `pk` is the
    * default key convention; `pkFor` overrides it per composed table
    * name (`db__table`) for tables keyed differently. The vacuum
    * cadence covers every per-table dir under the root, including
    * tables absent from the batch: their dead versions age regardless
    * of arrival skew.
    */
  def startMultiplexed(feed: DataFrame, stateRoot: String,
      checkpointDir: String, pk: Seq[String], orderCols: Seq[String],
      routingCols: Seq[String] = Seq("db", "table"),
      processingTime: Option[String] = None,
      pkFor: Map[String, Seq[String]] = Map.empty,
      vacuumEvery: Int = 0, vacuumKeep: Int = 4): StreamingQuery =
    Pump.start(feed, checkpointDir, processingTime, vacuumEvery, vacuumKeep,
        BucketStateStore.listStateDirs(feed.sparkSession, stateRoot)) { (batch, _) =>
      mergeMultiplexed(batch, stateRoot, pk, orderCols, routingCols, pkFor)
    }

  /** Start the pump: each batch merges into `stateDir`, on the trigger
    * and vacuum cadence of [[Pump.start]]. Without a cadence the
    * merges still fold each run once it passes a quarter of its base.
    */
  def start(feed: DataFrame, stateDir: String, checkpointDir: String,
      pk: Seq[String], orderCols: Seq[String],
      processingTime: Option[String] = None,
      vacuumEvery: Int = 0, vacuumKeep: Int = 4): StreamingQuery =
    Pump.start(feed, checkpointDir, processingTime, vacuumEvery, vacuumKeep,
        Seq(stateDir)) { (batch, _) =>
      mergeIntoState(batch, stateDir, pk, orderCols)
    }

  /** Start a pump over a RAW Debezium JSON-lines stream (one
    * envelope per row in `value` — a file tail or a Kafka value
    * feed): per subscribed table, parse with that table's row
    * schema, slice with forTable, and merge into
    * `stateRoot/<db>__<table>`. One query, one checkpoint, the
    * adapter's binlog order (`_ts_ms`, `_pos`) as the merge order —
    * the full reference pump (binlog tail → per-table belts →
    * applied state) with Debezium as the wire format.
    *
    * Heterogeneous schemas force the per-table parse (one
    * `from_json` schema cannot type every table's images); each
    * parse is a narrow projection of the same cached batch.
    *
    * `pkFor` overrides the default `pk` per table name — tables with
    * heterogeneous primary keys must NOT share one global key, or the
    * wrongly-keyed tables merge into corrupt state.
    *
    * Routing accounting (never-drop-a-change): an envelope whose
    * `source` block is missing/null parses but matches no forTable
    * slice — the pump FAILS on those rather than dropping them.
    * Envelopes for tables outside the subscription are counted and
    * logged (a multiplexed feed may legitimately carry more tables
    * than this pump subscribes to — the reference's only-tables
    * filter has the same semantics).
    */
  def startDebezium(raw: DataFrame, stateRoot: String,
      checkpointDir: String, db: String,
      tableSchemas: Map[String, org.apache.spark.sql.types.StructType],
      pk: Seq[String],
      processingTime: Option[String] = None,
      pkFor: Map[String, Seq[String]] = Map.empty,
      vacuumEvery: Int = 0, vacuumKeep: Int = 4): StreamingQuery = {
    import graft.cdc.DebeziumAdapter
    // every subscribed belt is on the vacuum cadence: a table absent
    // from recent batches still holds dead versions from earlier ones
    // (and one that has not merged yet has nothing to vacuum)
    val belts = tableSchemas.keys.toSeq.map(t => s"$stateRoot/${db}__$t")
    Pump.start(raw, checkpointDir, processingTime, vacuumEvery, vacuumKeep,
        belts) { (batch, _) =>
      val b = batch.persist()
      try {
        // routing columns are schema-independent — one pass with any
        // subscribed schema audits the whole batch (driver-sized:
        // one row per distinct (db, table))
        val routes = DebeziumAdapter.parse(b, tableSchemas.head._2, Nil)
          .groupBy("db", "table").count().collect()
        val unroutable = routes
          .filter(r => r.isNullAt(0) || r.isNullAt(1))
          .map(_.getLong(2)).sum
        if (unroutable > 0)
          throw new IllegalStateException(
            s"debezium pump: $unroutable envelope(s) with NULL " +
              "source.db/source.table — refusing to drop changes")
        routes.filter(r => r.getString(0) != db ||
            !tableSchemas.contains(r.getString(1)))
          .foreach { r =>
            log.warn(s"debezium pump: skipping ${r.getLong(2)} " +
              s"envelope(s) for unsubscribed ${r.getString(0)}." +
              s"${r.getString(1)}")
          }
        tableSchemas.foreach { case (table, schema) =>
          val tpk = pkFor.getOrElse(table, pk)
          val slice = DebeziumAdapter.forTable(
            DebeziumAdapter.parse(b, schema, tpk), db, table)
          // skip empty slices: a table absent from this batch must
          // not churn its state version
          if (!slice.isEmpty)
            mergeIntoState(slice, s"$stateRoot/${db}__$table", tpk,
              DebeziumAdapter.orderCols)
        }
      } finally b.unpersist()
    }
  }

  private lazy val log =
    org.slf4j.LoggerFactory.getLogger(StreamingCdc.getClass)
}
