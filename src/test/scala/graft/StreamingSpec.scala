package graft

import graft.cdc.{CdcApplier, ChangeFeed}
import graft.streaming.StreamingCdc
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files

/** Streaming CDC verification (SURVEY §7.3): the exactly-once /
  * idempotent-merge claims of StreamingCdc, exercised through real
  * StreamingQuery runs with a file source — including crash-replay
  * (kill, then resume from the same checkpoint with more data) and
  * re-applied-batch idempotence.
  */
class StreamingCdcSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  val dir = "/root/testdata/sf0.001"
  val pk = Seq("user_id")
  val orderCols = Seq("ts", "event_id")

  private def feed: DataFrame =
    ChangeFeed.fromEvents(Tables.load(spark, dir, "events"))

  private def batchAnswer: Array[(Long, Long)] =
    CdcApplier.replayCompact(feed, pk, orderCols.map(col))
      .select("user_id", "event_id").orderBy("user_id")
      .collect().map(r => (r.getLong(0), r.getLong(1)))

  private def stateKeys(stateDir: String): Array[(Long, Long)] =
    StreamingCdc.currentState(spark, stateDir, feed.drop("op"))
      .select("user_id", "event_id").orderBy("user_id")
      .collect().map(r => (r.getLong(0), r.getLong(1)))

  /** Write each time-bucket batch as ONE file, in order — file mtime
    * order is the stream's arrival order (maxFilesPerTrigger=1
    * turns each bucket into its own micro-batch).
    */
  private def writeBatchFiles(feedDir: String, months: Seq[DataFrame]): Unit =
    months.foreach(m => m.coalesce(1).write.mode("append").parquet(feedDir))

  test("streamed time-bucket batches land on the batch-replay state") {
    val root = Files.createTempDirectory("graft_scdc1").toString
    val months = ChangeFeed.timeBatches(feed, "week")
    writeBatchFiles(s"$root/feed", months)
    val stream = spark.readStream.schema(feed.schema)
      .option("maxFilesPerTrigger", 1).parquet(s"$root/feed")
    StreamingCdc.start(stream, s"$root/state", s"$root/ckpt", pk, orderCols)
      .awaitTermination()
    assert(StreamingCdc.currentVersion(spark, s"$root/state").exists(_ >= months.size - 1))
    assert(stateKeys(s"$root/state").sameElements(batchAnswer))
  }

  test("crash-replay: stop mid-stream, resume from the same checkpoint") {
    val root = Files.createTempDirectory("graft_scdc2").toString
    val months = ChangeFeed.timeBatches(feed, "week")
    val (firstHalf, secondHalf) = months.splitAt(math.max(1, months.size / 2))

    // phase 1: only the first half of the data exists; drain and exit
    writeBatchFiles(s"$root/feed", firstHalf)
    def stream = spark.readStream.schema(feed.schema)
      .option("maxFilesPerTrigger", 1).parquet(s"$root/feed")
    StreamingCdc.start(stream, s"$root/state", s"$root/ckpt", pk, orderCols)
      .awaitTermination()
    val v1 = StreamingCdc.currentVersion(spark, s"$root/state")
    assert(v1.nonEmpty, "phase 1 must have committed versions")

    // "crash": the query object is gone. More data arrives.
    writeBatchFiles(s"$root/feed", secondHalf)

    // phase 2: new query, SAME checkpoint — resumes past processed files
    StreamingCdc.start(stream, s"$root/state", s"$root/ckpt", pk, orderCols)
      .awaitTermination()
    assert(stateKeys(s"$root/state").sameElements(batchAnswer),
      "resumed stream must land on the full batch-replay state")
  }

  test("state schema evolves: column added across restarts, old rows read null") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft_scdc_evo").toString
    // phase 1: feed schema (id, ver, a)
    val f1 = Seq((1L, 1L, "x", "insert"), (2L, 1L, "y", "insert"))
      .toDF("id", "ver", "a", "op")
    f1.coalesce(1).write.mode("append").parquet(s"$root/feed1")
    StreamingCdc.start(
        spark.readStream.schema(f1.schema).parquet(s"$root/feed1"),
        s"$root/state", s"$root/ckpt1", Seq("id"), Seq("ver"))
      .awaitTermination()
    // "schema migration": the restarted feed carries a new column b.
    // The state template follows the batch schema, and parquet reads
    // of the old buckets surface the missing column as NULL — no
    // rewrite of historical state is needed.
    val f2 = Seq((2L, 2L, "y2", "fresh", "update"),
        (3L, 1L, "z", "new", "insert"))
      .toDF("id", "ver", "a", "b", "op")
    f2.coalesce(1).write.mode("append").parquet(s"$root/feed2")
    StreamingCdc.start(
        spark.readStream.schema(f2.schema).parquet(s"$root/feed2"),
        s"$root/state", s"$root/ckpt2", Seq("id"), Seq("ver"))
      .awaitTermination()
    val state = StreamingCdc.currentState(spark, s"$root/state",
        f2.drop("op")).orderBy("id").collect()
    assert(state.map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L))
    assert(state(0).isNullAt(state(0).fieldIndex("b")),
      "pre-evolution row must read the new column as null")
    assert(state(1).getAs[String]("b") == "fresh",
      "updated row must carry the new column")
    assert(state(2).getAs[String]("b") == "new")
    assert(state(1).getAs[String]("a") == "y2")
  }

  test("CDC feed drift: dropped and narrowed feed columns are refused loudly") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft_scdc_drift").toString
    val f1 = Seq((1L, 1L, "x", "insert")).toDF("id", "ver", "a", "op")
    f1.coalesce(1).write.parquet(s"$root/feed1")
    StreamingCdc.start(
        spark.readStream.schema(f1.schema).parquet(s"$root/feed1"),
        s"$root/state", s"$root/ckpt1", Seq("id"), Seq("ver"))
      .awaitTermination()
    // the restarted feed DROPPED column a: without the refusal, the
    // next touched-bucket rewrite would silently erase a from state
    val dropped = Seq((2L, 1L, "insert")).toDF("id", "ver", "op")
    dropped.coalesce(1).write.parquet(s"$root/feed2")
    val e1 = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      StreamingCdc.start(
          spark.readStream.schema(dropped.schema).parquet(s"$root/feed2"),
          s"$root/state", s"$root/ckpt2", Seq("id"), Seq("ver"))
        .awaitTermination()
    }
    assert(e1.getMessage.contains("a dropped"), e1.getMessage)
    // incompatible type: a arrives as INT where state holds STRING —
    // neither direction widens, so this is real destructive drift
    // (an INT-where-BIGINT arrival is NOT: that's a late pre-ALTER
    // file, cast up by the test below)
    val narrowed = Seq((2L, 7L, 99, "insert")).toDF("id", "ver", "a", "op")
    narrowed.coalesce(1).write.parquet(s"$root/feed3")
    val e2 = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      StreamingCdc.start(
          spark.readStream.schema(narrowed.schema).parquet(s"$root/feed3"),
          s"$root/state", s"$root/ckpt3", Seq("id"), Seq("ver"))
        .awaitTermination()
    }
    assert(e2.getMessage.contains("a narrowed"), e2.getMessage)
    // both refusals left the state untouched and readable
    val state = StreamingCdc.currentState(spark, s"$root/state",
      f1.drop("op")).collect()
    assert(state.length == 1 && state.head.getString(2) == "x")
  }

  test("CDC feed drift: a late pre-ALTER file (narrower-but-widenable " +
    "type) is cast up into state, not refused") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft_scdc_late").toString
    // phase 1: qty already BIGINT (the post-ALTER widened state)
    val f1 = Seq((1L, 1L, 9000000000L, "insert"))
      .toDF("id", "ver", "qty", "op")
    f1.coalesce(1).write.parquet(s"$root/feed1")
    StreamingCdc.start(
        spark.readStream.schema(f1.schema).parquet(s"$root/feed1"),
        s"$root/state", s"$root/ckpt1", Seq("id"), Seq("ver"))
      .awaitTermination()
    // a restart delivers a file written BEFORE the ALTER: qty is INT.
    // Its values are exactly representable in the persisted BIGINT,
    // so the merge must accept and upcast them — refusing would wedge
    // every mixed-schema feed directory around an ALTER
    val late = Seq((2L, 1L, 20, "insert")).toDF("id", "ver", "qty", "op")
    late.coalesce(1).write.parquet(s"$root/feed2")
    StreamingCdc.start(
        spark.readStream.schema(late.schema).parquet(s"$root/feed2"),
        s"$root/state", s"$root/ckpt2", Seq("id"), Seq("ver"))
      .awaitTermination()
    val state = StreamingCdc.currentState(spark, s"$root/state",
        f1.drop("op")).orderBy("id").collect()
    assert(state.map(r => (r.getLong(0), r.getLong(2))).toSeq ==
      Seq((1L, 9000000000L), (2L, 20L)),
      "late narrow file must merge upcast, state stays BIGINT")
  }

  test("CDC feed drift: widened feed column evolves state (int -> long widen-read)") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft_scdc_widen").toString
    // phase 1: qty is INT
    val f1 = Seq((1L, 1L, 10, "insert"), (2L, 1L, 20, "insert"))
      .toDF("id", "ver", "qty", "op")
    f1.coalesce(1).write.parquet(s"$root/feed1")
    StreamingCdc.start(
        spark.readStream.schema(f1.schema).parquet(s"$root/feed1"),
        s"$root/state", s"$root/ckpt1", Seq("id"), Seq("ver"))
      .awaitTermination()
    // restart: the source ALTERed qty to BIGINT — a value-preserving
    // widening; old buckets widen-read exactly, no rewrite
    val f2 = Seq((2L, 2L, 9000000000L, "update"), (3L, 1L, 30L, "insert"))
      .toDF("id", "ver", "qty", "op")
    f2.coalesce(1).write.parquet(s"$root/feed2")
    StreamingCdc.start(
        spark.readStream.schema(f2.schema).parquet(s"$root/feed2"),
        s"$root/state", s"$root/ckpt2", Seq("id"), Seq("ver"))
      .awaitTermination()
    val state = StreamingCdc.currentState(spark, s"$root/state",
        f2.drop("op")).orderBy("id").collect()
    assert(state.map(r => (r.getLong(0), r.getLong(2))).toSeq ==
      Seq((1L, 10L), (2L, 9000000000L), (3L, 30L)))
  }

  test("multiplexed pump routes tables into independent states (T2)") {
    val root = Files.createTempDirectory("graft_scdc_mux").toString
    // two logical tables multiplexed on one feed, split by user parity
    val mux = feed.withColumn("db", lit("graft"))
      .withColumn("table",
        when(pmod(col("user_id"), lit(2)) === 0, "ev_even").otherwise("ev_odd"))
    val months = ChangeFeed.timeBatches(mux, "week")
    writeBatchFiles(s"$root/feed", months)
    val stream = spark.readStream.schema(mux.schema)
      .option("maxFilesPerTrigger", 1).parquet(s"$root/feed")
    // ev_odd overrides the key convention: keyed by event_id, so every
    // odd-user event survives (no per-user merge) — pins per-table pkFor
    StreamingCdc.startMultiplexed(stream, s"$root/state", s"$root/ckpt",
      pk, orderCols,
      pkFor = Map("graft__ev_odd" -> Seq("event_id"))).awaitTermination()
    // each per-table state must equal the single-table replay of its
    // slice under ITS OWN key
    Seq(0 -> "ev_even", 1 -> "ev_odd").foreach { case (par, t) =>
      val tablePk = if (t == "ev_odd") Seq("event_id") else pk
      val expected = CdcApplier.replayCompact(
          feed.filter(pmod(col("user_id"), lit(2)) === par), tablePk,
          orderCols.map(col))
        .select("user_id", "event_id").orderBy("user_id", "event_id")
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      val got = StreamingCdc.currentState(spark,
          s"$root/state/graft__$t", feed.drop("op"))
        .select("user_id", "event_id").orderBy("user_id", "event_id")
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      assert(got.sameElements(expected), s"state for $t must match its replay")
    }
  }

  test("re-applying the last batch is idempotent (replay safety)") {
    val root = Files.createTempDirectory("graft_scdc3").toString
    val months = ChangeFeed.timeBatches(feed, "week")
    months.foreach(m =>
      StreamingCdc.mergeIntoState(m, s"$root/state", pk, orderCols))
    val before = stateKeys(s"$root/state")
    val vBefore = StreamingCdc.currentVersion(spark, s"$root/state").get
    // simulate a checkpoint replay re-delivering the final batch
    StreamingCdc.mergeIntoState(months.last, s"$root/state", pk, orderCols)
    assert(StreamingCdc.currentVersion(spark, s"$root/state").get == vBefore + 1)
    assert(stateKeys(s"$root/state").sameElements(before),
      "re-applied batch must not change the state")
  }

  test("pump throughput listener observes per-batch rows and rates") {
    import graft.streaming.Throughput
    val lines = java.util.Collections.synchronizedList(
      new java.util.ArrayList[String]())
    val listener = Throughput.attach(spark, lines.add(_))
    try {
      val root = Files.createTempDirectory("graft_tput").toString
      val months = ChangeFeed.timeBatches(feed, "week")
      writeBatchFiles(s"$root/feed", months)
      val stream = spark.readStream.schema(feed.schema)
        .option("maxFilesPerTrigger", 1).parquet(s"$root/feed")
      StreamingCdc.start(stream, s"$root/state", s"$root/ckpt", pk, orderCols)
        .awaitTermination()
      org.apache.spark.GraftListenerBridge.waitListenerBusEmpty(spark.sparkContext)
      // the pump sees every feed row exactly once across micro-batches;
      // listener events for OTHER concurrently-running test queries may
      // interleave, so count only this pump's batches (nonzero input)
      assert(listener.batches.nonEmpty, "listener must capture batches")
      assert(listener.batches.map(_.numInputRows).sum >= feed.count(),
        "per-batch input rows must cover the feed")
      assert(lines.toArray.exists(_.toString.contains("rows/sec=")),
        "per-batch log lines must report rate")
    } finally spark.streams.removeListener(listener)
  }

  test("batch throughput helper counts rows in the instrumented action") {
    import graft.streaming.Throughput
    val lines = java.util.Collections.synchronizedList(
      new java.util.ArrayList[String]())
    val dst = Files.createTempDirectory("graft_tputb").toString
    val (_, rows) = Throughput.timed(feed, "probe", lines.add(_)) {
      _.write.mode("overwrite").parquet(s"$dst/out.parquet")
    }
    assert(rows == feed.count())
    assert(lines.toArray.exists(_.toString.contains("op=probe")),
      "timed action must log a throughput line")
  }

  test("raw Debezium JSON-lines pump lands on the batch-replay state") {
    val root = Files.createTempDirectory("graft_dbz_pump").toString
    val rowSchema = feed.drop("op").schema
    // one file per time bucket, in order — cross-batch merge
    // semantics assume batches arrive in binlog (time) order, which
    // is exactly what a real Debezium tail delivers
    ChangeFeed.timeBatches(feed, "week").foreach { m =>
      DebeziumTestFeed.toDebeziumJson(m, rowSchema, wrapped = false)
        .coalesce(1).write.mode("append").text(s"$root/feed")
    }
    val raw = spark.readStream.option("maxFilesPerTrigger", 1)
      .text(s"$root/feed")
    StreamingCdc.startDebezium(raw, s"$root/state", s"$root/ckpt",
      db = "graft", tableSchemas = Map("events" -> rowSchema),
      pk = pk).awaitTermination()
    val template = feed.drop("op")
      .withColumn("_ts_ms", lit(0L)).withColumn("_pos", lit(0L))
    val got = StreamingCdc.currentState(spark, s"$root/state/graft__events",
        template)
      .select("user_id", "event_id").orderBy("user_id")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.sameElements(batchAnswer),
      "debezium pump state must equal the direct batch replay")
  }

  /** One 2000-key insert, then single-key updates: each update's run
    * stays far below a quarter of its base, so every merge after the
    * first writes a run and each vacuum has a run to fold.
    */
  private def cadenceBatches(table: String): Seq[DataFrame] = {
    import spark.implicits._
    val cols = Seq("id", "ver", "v", "op", "table")
    (1L to 2000L).map(i => (i, 1L, (i * 2654435761L).toHexString * 8,
        "insert", table)).toDF(cols: _*) +:
      (1L to 3L).map(i => Seq((i, 2L, s"upd$i", "update", table)).toDF(cols: _*))
  }

  private def rows(df: DataFrame): Seq[(Long, String)] =
    df.select("id", "v").orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq

  test("pump vacuum cadence: every 2nd batch, keep 1, leaves exactly " +
    "the versions the cadence implies") {
    import graft.streaming.BucketStateStore
    val root = Files.createTempDirectory("graft_scdc_vac").toString
    val batches = cadenceBatches("t").map(_.drop("table"))
    writeBatchFiles(s"$root/feed", batches)
    StreamingCdc.start(
        spark.readStream.schema(batches.head.schema)
          .option("maxFilesPerTrigger", 1).parquet(s"$root/feed"),
        s"$root/state", s"$root/ckpt", Seq("id"), Seq("ver"),
        vacuumEvery = 2, vacuumKeep = 1)
      .awaitTermination()
    // batch 0 writes base v0, batches 1 and 2 write runs v1 and v2; the
    // vacuum after batch 2 folds the run into v3 and keeps only v3;
    // batch 3 writes run v4. Batches 0 and 3 do not vacuum.
    assert(BucketStateStore.availableVersions(spark, s"$root/state") ==
      Seq(3L, 4L))
    assert(new java.io.File(s"$root/state").list().filter(_.startsWith("v"))
      .toSet == Set("v3", "v4"), "vacuum retires the dirs of v0..v2")
    val want = CdcApplier.replayCompact(batches.reduce(_ unionByName _),
      Seq("id"), Seq(col("ver")))
    assert(rows(StreamingCdc.currentState(spark, s"$root/state",
      batches.head.drop("op"))) == rows(want))
  }

  test("multiplexed pump vacuum cadence reaches every per-table dir, " +
    "including a table absent from the vacuuming batch") {
    import graft.streaming.BucketStateStore
    val root = Files.createTempDirectory("graft_scdc_muxvac").toString
    val a = cadenceBatches("a")
    val b = cadenceBatches("b").take(2)
    val batches = a.indices.map(i =>
      (if (i < b.size) a(i).unionByName(b(i)) else a(i))
        .withColumn("db", lit("g")))
    writeBatchFiles(s"$root/feed", batches)
    StreamingCdc.startMultiplexed(
        spark.readStream.schema(batches.head.schema)
          .option("maxFilesPerTrigger", 1).parquet(s"$root/feed"),
        s"$root/state", s"$root/ckpt", Seq("id"), Seq("ver"),
        vacuumEvery = 2, vacuumKeep = 1)
      .awaitTermination()
    // a: as the single-table cadence (v0 base, v1/v2 runs, fold v3,
    // run v4); b merges only in batches 0 and 1, and the vacuum after
    // batch 2 still folds its run into v2 and retires v0 and v1
    assert(BucketStateStore.availableVersions(spark, s"$root/state/g__a") ==
      Seq(3L, 4L))
    assert(BucketStateStore.availableVersions(spark, s"$root/state/g__b") ==
      Seq(2L))
    Seq("a" -> a, "b" -> b).foreach { case (t, fed) =>
      val want = CdcApplier.replayCompact(
        fed.reduce(_ unionByName _).drop("table"), Seq("id"), Seq(col("ver")))
      assert(rows(StreamingCdc.currentState(spark, s"$root/state/g__$t",
        fed.head.drop("op", "table"))) == rows(want), s"state of $t")
    }
  }

  test("debezium pump vacuum cadence skips a subscribed table that " +
    "never arrives: no dir, no failure") {
    import graft.streaming.BucketStateStore
    val root = Files.createTempDirectory("graft_dbz_vac").toString
    val rowSchema = feed.drop("op").schema
    val weeks = ChangeFeed.timeBatches(feed, "week")
    assert(weeks.size >= 4, s"need 4 batches, the feed has ${weeks.size} weeks")
    // four files in binlog (time) order
    weeks.zipWithIndex.groupBy { case (_, i) => i * 4 / weeks.size }
      .toSeq.sortBy(_._1).foreach { case (_, ws) =>
        DebeziumTestFeed.toDebeziumJson(ws.map(_._1).reduce(_ unionByName _),
            rowSchema, wrapped = false)
          .coalesce(1).write.mode("append").text(s"$root/feed")
      }
    StreamingCdc.startDebezium(
        spark.readStream.option("maxFilesPerTrigger", 1).text(s"$root/feed"),
        s"$root/state", s"$root/ckpt", db = "graft",
        tableSchemas = Map("events" -> rowSchema, "ghost" -> rowSchema),
        pk = pk, vacuumEvery = 2, vacuumKeep = 1)
      .awaitTermination()
    assert(!new java.io.File(s"$root/state/graft__ghost").exists(),
      "vacuuming a table that never merged must not create its dir")
    // the vacuum after batch 2 keeps one version, batch 3 adds one
    assert(BucketStateStore.availableVersions(spark,
      s"$root/state/graft__events").size == 2)
    val template = feed.drop("op")
      .withColumn("_ts_ms", lit(0L)).withColumn("_pos", lit(0L))
    val got = StreamingCdc.currentState(spark, s"$root/state/graft__events",
        template)
      .select("user_id", "event_id").orderBy("user_id")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.sameElements(batchAnswer),
      "debezium pump state must equal the direct batch replay")
  }

  test("incremental agg: streamed fold equals one-shot aggregation") {
    import graft.streaming.IncrementalAgg
    val root = Files.createTempDirectory("graft_iagg").toString
    val docs = Tables.load(spark, dir, "documents")
      .select(md5(col("text")).as("content_hash"), col("doc_id"))
    docs.repartition(6).write.mode("overwrite").parquet(s"$root/feed")
    val stream = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", 1).parquet(s"$root/feed")
    val batchAgg = Seq(count(lit(1)).as("n"), min(col("doc_id")).as("keeper"))
    val mergeAgg = Seq(sum(col("n")).as("n"), min(col("keeper")).as("keeper"))
    IncrementalAgg.start(stream, s"$root/state", s"$root/ckpt",
      Seq("content_hash"), batchAgg, mergeAgg).awaitTermination()
    val template = docs.groupBy("content_hash").agg(batchAgg.head, batchAgg.tail: _*)
    val got = IncrementalAgg.current(spark, s"$root/state", template)
      .orderBy("content_hash").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val expected = template.orderBy("content_hash").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(got.sameElements(expected),
      "maintained aggregate must equal the one-shot groupBy")
  }

  test("batch-id fence skips a replayed non-idempotent merge") {
    import graft.streaming.{BucketStateStore, IncrementalAgg}
    val root = Files.createTempDirectory("graft_fence").toString
    import spark.implicits._
    val b = Seq(("h1", 1L), ("h1", 2L), ("h2", 3L)).toDF("k", "id")
    val batchAgg = Seq(count(lit(1)).as("n"), min(col("id")).as("keeper"))
    val mergeAgg = Seq(sum(col("n")).as("n"), min(col("keeper")).as("keeper"))
    def fold(bid: Long): Unit = IncrementalAgg.mergeBatch(
      b, s"$root/state", Seq("k"), batchAgg, mergeAgg, batchId = Some(bid))
    fold(0L)
    fold(0L) // crash-replay of the SAME batch: must be a no-op
    val template = b.groupBy("k").agg(batchAgg.head, batchAgg.tail: _*)
    val after = IncrementalAgg.current(spark, s"$root/state", template)
      .orderBy("k").collect().map(r => (r.getString(0), r.getLong(1)))
    assert(after.toSeq == Seq(("h1", 2L), ("h2", 1L)),
      "replayed batch must not double-count")
    assert(BucketStateStore.lastBatchId(spark, s"$root/state").contains(0L))
    fold(1L) // a genuinely new batch folds in
    val after2 = IncrementalAgg.current(spark, s"$root/state", template)
      .orderBy("k").collect().map(r => (r.getString(0), r.getLong(1)))
    assert(after2.toSeq == Seq(("h1", 4L), ("h2", 2L)))
  }

  test("stateAt time-travels to every retained version; vacuum trims history") {
    import graft.streaming.BucketStateStore
    val root = Files.createTempDirectory("graft_tt").toString
    import spark.implicits._
    val template = Seq.empty[(String, Long)].toDF("k", "n")
    def fold(rows: (String, Long)*): Unit =
      BucketStateStore.merge(rows.toDF("k", "n"), s"$root/state",
        Seq("k"), template, numBuckets = 4) { (state, batch) =>
        state.unionByName(batch).groupBy("k")
          .agg(org.apache.spark.sql.functions.sum("n").as("n"))
      }
    fold(("a", 1L))             // v0: a=1
    fold(("a", 2L), ("b", 5L))  // v1: a=3, b=5
    fold(("b", 1L))             // v2: a=3, b=6
    def read(v: Long) =
      BucketStateStore.stateAt(spark, s"$root/state", template, v)
        .orderBy("k").collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(BucketStateStore.availableVersions(spark, s"$root/state")
      == Seq(0L, 1L, 2L))
    assert(read(0) == Seq(("a", 1L)))
    assert(read(1) == Seq(("a", 3L), ("b", 5L)))
    assert(read(2) == Seq(("a", 3L), ("b", 6L)))
    // current == latest time-travel
    assert(BucketStateStore.currentState(spark, s"$root/state", template)
      .orderBy("k").collect().map(r => (r.getString(0), r.getLong(1))).toSeq
      == read(2))
    BucketStateStore.vacuum(spark, s"$root/state", keep = 2)
    assert(BucketStateStore.availableVersions(spark, s"$root/state")
      == Seq(1L, 2L))
    assert(read(1) == Seq(("a", 3L), ("b", 5L)), "retained history readable")
    intercept[java.io.IOException] { read(0) } // vacuumed: loud, not partial
  }

  test("timeBatches keeps null-timestamp rows (null bucket) instead of dropping them") {
    import spark.implicits._
    val f = Seq(
      (1L, Some(java.sql.Timestamp.valueOf("2024-01-01 10:00:00")), "insert"),
      (2L, None, "insert"))
      .toDF("user_id", "ts", "op")
    val batches = ChangeFeed.timeBatches(f, "day")
    assert(batches.map(_.count()).sum == 2,
      "every feed row must land in exactly one batch")
  }

  test("fold of time-ordered batches equals single-pass compaction") {
    val months = ChangeFeed.timeBatches(feed, "week")
    val folded = CdcApplier.applyAll(feed.limit(0).drop("op"),
      months, pk, orderCols.map(col))
      .select("user_id", "event_id").orderBy("user_id")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(folded.sameElements(batchAnswer))
  }

  test("vacuum retires old versions but keeps the readable tail") {
    val root = Files.createTempDirectory("graft_vacuum").toString
    val batches = ChangeFeed.timeBatches(feed, "week")
    // numBuckets=1: one bucket, so a manifest names one base dir and at
    // most one run dir. On this small fixture a merge after a base write
    // writes a run and the next one folds it (it passes a quarter of
    // the base), so re-applying the last batch (a state no-op) within
    // two merges leaves a run pending; vacuum folds it into a new base
    // version, and the newest `keep` manifests are then that version's
    // and the last merge's
    batches.foreach(b =>
      StreamingCdc.mergeIntoState(b, s"$root/state", pk, orderCols,
        numBuckets = 1))
    def pending = StoreManifest.lines(s"$root/state",
      StreamingCdc.currentVersion(spark, s"$root/state").get).filter(_.startsWith("run."))
    Iterator.fill(2)(batches.last).takeWhile(_ => pending.isEmpty).foreach(b =>
      StreamingCdc.mergeIntoState(b, s"$root/state", pk, orderCols, numBuckets = 1))
    val v = StreamingCdc.currentVersion(spark, s"$root/state").get
    assert(v >= 2, "need several versions to vacuum")
    assert(pending == Seq(s"run.0=$v"), "the last merge writes a run")
    val base = StoreManifest.at(s"$root/state", v).buckets(0)
    StreamingCdc.vacuum(spark, s"$root/state", keep = 2)
    assert(StreamingCdc.currentVersion(spark, s"$root/state").contains(v + 1),
      "vacuum publishes the folded run as one new version")
    assert(!StoreManifest.lines(s"$root/state", v + 1).exists(_.startsWith("run.")))
    assert(graft.streaming.BucketStateStore.availableVersions(spark, s"$root/state")
      == Seq(v, v + 1))
    val dirs = new java.io.File(s"$root/state").listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("v"))
      .map(_.getName).toSet
    assert(dirs == Set(s"v${v + 1}", s"v$v", s"v$base"), s"got $dirs")
    // current state still reads, and is the whole feed's replay
    assert(stateKeys(s"$root/state").sameElements(batchAnswer))
  }

  test("vacuum keeps old version dirs that still hold live (untouched) buckets") {
    val root = Files.createTempDirectory("graft_vacuum_b").toString
    val batches = ChangeFeed.timeBatches(feed, "week")
    assert(batches.size >= 3, "need several versions to vacuum")
    // first merge spreads keys across many buckets; later merges touch
    // only user_id=0's bucket, so v0 stays referenced by every manifest
    StreamingCdc.mergeIntoState(batches.head, s"$root/state", pk, orderCols,
      numBuckets = 64)
    val touchOne = feed.filter(col("user_id") === 0)
    assert(touchOne.count() > 0, "fixture must have user_id 0")
    (1 to 3).foreach(_ =>
      StreamingCdc.mergeIntoState(touchOne, s"$root/state", pk, orderCols,
        numBuckets = 64))
    val v = StreamingCdc.currentVersion(spark, s"$root/state").get
    assert(v == 3)
    StreamingCdc.vacuum(spark, s"$root/state", keep = 2)
    // the merges left user_id=0's bucket with a run, which vacuum folds
    // into a new version v4; keep=2 then retains manifests v3 and v4,
    // and exactly the version dirs they name as a base or a run
    assert(StreamingCdc.currentVersion(spark, s"$root/state").contains(4L))
    val named = Seq(3L, 4L).flatMap(StoreManifest.lines(s"$root/state", _))
      .filter(l => l.matches("""(run\.)?\d+=\d+"""))
      .map(l => s"v${l.split('=')(1)}").toSet
    val dirs = new java.io.File(s"$root/state").listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("v"))
      .map(_.getName).toSet
    assert(dirs == named, s"kept $dirs, retained manifests name $named")
    assert(dirs.contains("v0"),
      s"v0 holds untouched live buckets and must survive vacuum; got $dirs")
    // v1 held only user_id=0's bucket and was superseded before the
    // retained window: it must be gone
    assert(!dirs.contains("v1"), s"v1 is unreferenced and pre-window: $dirs")
    assert(dirs.contains("v3") && dirs.contains("v4"), s"keep window: $dirs")
    // state after vacuum must still be the correct merge
    val expected = CdcApplier.replayCompact(
      batches.head.unionByName(touchOne), pk, orderCols.map(col))
      .select("user_id", "event_id").orderBy("user_id")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(stateKeys(s"$root/state").sameElements(expected))
  }

  test("a merge rewrites only touched buckets; untouched bucket files are byte-identical") {
    val root = Files.createTempDirectory("graft_bucketed").toString
    val months = ChangeFeed.timeBatches(feed, "week")
    StreamingCdc.mergeIntoState(months.head, s"$root/state", pk, orderCols,
      numBuckets = 64)
    // snapshot every v0 bucket file's bytes
    def bucketFiles(v: String): Map[String, Array[Byte]] = {
      val base = new java.io.File(s"$root/state/$v")
      if (!base.exists()) Map.empty
      else base.listFiles().filter(_.getName.startsWith("graft_bucket="))
        .flatMap(d => d.listFiles().filter(_.getName.endsWith(".parquet"))
          .map(f => s"${d.getName}/${f.getName}" ->
            java.nio.file.Files.readAllBytes(f.toPath)))
        .toMap
    }
    val v0Before = bucketFiles("v0")
    assert(v0Before.size > 1, "first batch should populate several buckets")

    // second merge touches exactly one key → one bucket
    val oneKey = feed.filter(col("user_id") === 0)
    StreamingCdc.mergeIntoState(oneKey, s"$root/state", pk, orderCols,
      numBuckets = 64)

    val v0After = bucketFiles("v0")
    assert(v0After.keySet == v0Before.keySet,
      "merge must not add/remove files in the previous version dir")
    v0Before.foreach { case (name, bytes) =>
      assert(java.util.Arrays.equals(bytes, v0After(name)),
        s"untouched bucket file $name was rewritten")
    }
    val v1Dirs = new java.io.File(s"$root/state/v1").listFiles()
      .filter(_.getName.startsWith("graft_bucket=")).map(_.getName).toSet
    assert(v1Dirs.size == 1,
      s"single-key batch must write exactly one bucket, got $v1Dirs")
    // a CDC merge writes that bucket as a run: every base stays the v0
    // file, and the one v1 dir is the one run the manifest names
    val v0 = StoreManifest.at(s"$root/state", 0L)
    val v1 = StoreManifest.lines(s"$root/state", 1L)
    assert(StoreManifest.at(s"$root/state", 1L).buckets == v0.buckets,
      s"every base must stay in v0: $v1")
    val runs = v1.filter(_.startsWith("run."))
    assert(runs.map(_.stripPrefix("run.")) ==
      v1Dirs.toSeq.map(d => s"${d.stripPrefix("graft_bucket=")}=1"),
      s"exactly the written bucket is a run: $v1")
    // and the combined state is still the correct merge
    val expected = CdcApplier.replayCompact(
      months.head.unionByName(oneKey), pk, orderCols.map(col))
      .select("user_id", "event_id").orderBy("user_id")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(stateKeys(s"$root/state").sameElements(expected))
  }

  test("every bucket a merge writes is one parquet file") {
    val root = Files.createTempDirectory("graft_bucket_files").toString
    def changes(step: Long, ts: Long, op: String): DataFrame =
      spark.range(0, 2000, step).select(col("id"), (col("id") * ts).as("v"),
        lit(ts).as("ts"), lit(op).as("op"))
    def parquetFiles(dir: String): Seq[String] =
      new java.io.File(dir).listFiles().toSeq.map(_.getName)
        .filter(_.endsWith(".parquet"))
    def bucketDirs(v: Long): Seq[java.io.File] =
      new java.io.File(s"$root/state/v$v").listFiles().toSeq
        .filter(_.getName.startsWith("graft_bucket="))
    // the second merge keeps most rows of every touched bucket: its
    // state side is read by several scan tasks, its changes by another
    StreamingCdc.mergeIntoState(changes(1, 0, "insert"), s"$root/state",
      Seq("id"), Seq("ts"), numBuckets = 64)
    StreamingCdc.mergeIntoState(changes(10, 1, "update"), s"$root/state",
      Seq("id"), Seq("ts"), numBuckets = 64)
    Seq(0L, 1L).foreach { v =>
      assert(bucketDirs(v).size > 1, s"v$v should write several buckets")
      bucketDirs(v).foreach { d =>
        assert(parquetFiles(d.getPath).size == 1,
          s"v$v/${d.getName} holds ${parquetFiles(d.getPath)}")
      }
    }
    val entries = scala.io.Source.fromFile(s"$root/state/manifest/v1")
      .getLines().map(_.trim).filter(_.matches("""\d+=\d+""")).toSeq
    val referenced = entries.flatMap { e =>
      val Array(b, bv) = e.split('=')
      parquetFiles(s"$root/state/v$bv/graft_bucket=$b")
    }
    assert(entries.size > 1 && referenced.size == entries.size,
      s"${entries.size} buckets referenced by ${referenced.size} files")
    // v1 wrote runs: each run the manifest names is one parquet file,
    // and so is each base vacuum folds them into (v2)
    val runs = scala.io.Source.fromFile(s"$root/state/manifest/v1")
      .getLines().map(_.trim).filter(_.startsWith("run.")).toSeq
    assert(runs.size == bucketDirs(1L).size, s"v1 names $runs")
    runs.foreach { r =>
      val Array(b, bv) = r.stripPrefix("run.").split('=')
      assert(bv == "1" && parquetFiles(s"$root/state/v1/graft_bucket=$b").size == 1, r)
    }
    StreamingCdc.vacuum(spark, s"$root/state", keep = 3)
    assert(bucketDirs(2L).size == runs.size)
    bucketDirs(2L).foreach { d =>
      assert(parquetFiles(d.getPath).size == 1, s"v2/${d.getName}")
    }
  }

  test("an empty first batch leaves the first row to the first non-empty one") {
    val root = Files.createTempDirectory("graft_scdc_first").toString
    val first = ChangeFeed.timeBatches(feed, "week").head
    // an empty batch still publishes a version
    StreamingCdc.mergeIntoState(first.limit(0), s"$root/state", pk, orderCols)
    assert(StreamingCdc.currentVersion(spark, s"$root/state").contains(0L))
    assert(StreamingCdc.firstRow(spark, s"$root/state").isEmpty)
    StreamingCdc.mergeIntoState(first, s"$root/state", pk, orderCols)
    val want = first.orderBy(orderCols.map(col): _*).limit(1).toJSON.head()
    assert(StreamingCdc.firstRow(spark, s"$root/state").contains(want))
  }

  test("version pointer survives torn-write-free publish") {
    val root = Files.createTempDirectory("graft_scdc4").toString
    val months = ChangeFeed.timeBatches(feed, "week").take(2)
    StreamingCdc.mergeIntoState(months.head, s"$root/state", pk, orderCols)
    assert(StreamingCdc.currentVersion(spark, s"$root/state").contains(0L))
    StreamingCdc.mergeIntoState(months(1), s"$root/state", pk, orderCols)
    assert(StreamingCdc.currentVersion(spark, s"$root/state").contains(1L))
    // no temp files left behind by the rename publish (the .crc
    // sidecar of the pointer itself is expected Hadoop local-FS
    // checksum behavior, not a leak)
    val leftovers = new java.io.File(s"$root/state").listFiles()
      .filter(f => f.getName.startsWith("._version") &&
        !f.getName.endsWith(".crc"))
    assert(leftovers.isEmpty)
  }
}

/** Event-time streaming aggregation (SURVEY §2.10 T5): watermark +
  * hourly windows must reproduce the batch aggregation.
  */
class StreamingAggSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  val dir = "/root/testdata/sf0.001"

  test("streaming hourly agg equals the batch hourly agg") {
    val streamed = graft.queries.IngestQueries.streamHourlyAgg(spark, dir)
      .collect().map(_.toSeq).toSet
    val batch = graft.queries.Relational.hourlyEventAgg(spark, dir)
      .collect().map(_.toSeq).toSet
    assert(streamed == batch)
  }

  test("dropDuplicatesWithinWatermark dedups replays inside the horizon") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.streaming.Trigger
    val spark0 = spark
    val events = graft.Tables.load(spark0, dir, "events").limit(200)
    val root = Files.createTempDirectory("graft_ddww").toString
    // the same 200 events written twice = an at-least-once replay
    events.coalesce(1).write.mode("append").parquet(s"$root/feed")
    events.coalesce(1).write.mode("append").parquet(s"$root/feed")
    val name = s"graft_ddww_${System.nanoTime()}"
    val q = spark0.readStream.schema(events.schema)
      .option("maxFilesPerTrigger", 1).parquet(s"$root/feed")
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("event_id")
      .writeStream.outputMode("append").format("memory").queryName(name)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    // the duplicate file's rows were all within the watermark horizon
    // of the originals → exactly one survivor per event_id
    assert(spark0.table(name).count() == events.count())
    assert(spark0.table(name).select("event_id").distinct().count()
      == events.count())
  }

  test("dropDuplicatesWithinWatermark: dedup state survives a crash-restart") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.streaming.Trigger
    val spark0 = spark
    val all = graft.Tables.load(spark0, dir, "events")
    val events = all.orderBy("event_id").limit(200).localCheckpoint()
    val fresh = all.orderBy("event_id").limit(300)
      .join(events.select("event_id"), Seq("event_id"), "left_anti")
      .select(all.columns.map(col): _*)
      .localCheckpoint() // the next 100 event_ids — disjoint from `events`
    val root = Files.createTempDirectory("graft_ddww_cr").toString
    def drain(): Unit = {
      // durable (file) sink + explicit checkpoint: the memory sink
      // does not support recovery, and the point here is exactly the
      // recovery path — the dedup state store must come back
      val q = spark0.readStream.schema(events.schema)
        .option("maxFilesPerTrigger", 1).parquet(s"$root/feed")
        .withWatermark("ts", "8760 hours")
        .dropDuplicatesWithinWatermark("event_id")
        .writeStream.outputMode("append").format("parquet")
        .option("path", s"$root/out")
        .option("checkpointLocation", s"$root/ckpt")
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    // phase 1: the original feed only
    events.coalesce(1).write.mode("append").parquet(s"$root/feed")
    drain()
    val afterPhase1 = spark0.read.parquet(s"$root/out").count()
    assert(afterPhase1 == 200L, s"phase 1 must emit the originals: $afterPhase1")
    // "crash": the query object is gone. The redelivered copy of the
    // WHOLE original feed arrives (duplicates spanning the restart),
    // plus 100 genuinely new events
    events.coalesce(1).write.mode("append").parquet(s"$root/feed")
    fresh.coalesce(1).write.mode("append").parquet(s"$root/feed")
    drain()
    val out = spark0.read.parquet(s"$root/out")
    // restart-spanning duplicates dropped by the RECOVERED state;
    // new events pass
    assert(out.count() == 300L,
      s"300 distinct events expected, got ${out.count()}")
    assert(out.select("event_id").distinct().count() == 300L)
  }

  test("stream-stream join equals the batch self-join") {
    import org.apache.spark.sql.functions._
    val streamed = graft.queries.IngestQueries.streamStreamJoin(spark, dir)
      .collect().map(_.toSeq).toSet
    val ev = graft.Tables.load(spark, dir, "events")
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts").as("pts"), col("event_id").as("pid"))
    val c = ev.filter(col("event_type") === "click")
      .select(col("user_id").as("cu"), col("ts").as("cts"))
    val batch = p.join(c, col("user_id") === col("cu") &&
        col("cts") >= col("pts") - expr("INTERVAL 10 MINUTES") &&
        col("cts") <= col("pts"))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_pairs"),
        countDistinct(col("pid")).as("n_purchases"))
      .select("user_id", "n_pairs", "n_purchases")
      .collect().map(_.toSeq).toSet
    assert(streamed.nonEmpty && streamed == batch)
  }
}

class StatefulSessionsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  test("custom state: cross-batch merge, in-batch split, timeout flush") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.Trigger
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def ts(min: Int) = new java.sql.Timestamp(1700000000000L + min * 60000L)
    val in = MemoryStream[(Option[Long], java.sql.Timestamp)]
    val sessions = graft.streaming.StatefulSessions.sessionize(
      in.toDS().withWatermark("_2", "0 seconds"), gapMicros = 30L * 60 * 1000000)
    val q = sessions.writeStream.outputMode("append")
      .format("memory").queryName("fmgws_spec")
      .trigger(Trigger.ProcessingTime(0)).start()
    try {
      // batch 1: user 1 opens a session (2 events), user 2 opens one
      in.addData((Some(1L), ts(0)), (Some(1L), ts(10)), (Some(2L), ts(5)))
      q.processAllAvailable()
      assert(spark.table("fmgws_spec").count() == 0, "nothing closed yet")
      // batch 2: user 1 extends within gap (cross-batch merge), then a
      // 40-min in-batch jump splits — first session closes with n=3.
      // The watermark jumps to ts(61), so the automatic no-data batch
      // also fires user 2's timeout (last ts(5) + 30min < ts(61)).
      in.addData((Some(1L), ts(20)), (Some(1L), ts(61)))
      q.processAllAvailable()
      val afterSplit = spark.table("fmgws_spec")
        .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
      assert(afterSplit == Set((1L, 3L), (2L, 1L)),
        s"split must close the merged 3-event session, watermark the idle user: $afterSplit")
      // batch 3: a NULL-user sentinel far in the future advances the
      // watermark; batch 4 fires the timeouts for both open sessions
      in.addData((None, ts(500)))
      q.processAllAvailable()
      in.addData((None, ts(600)))
      q.processAllAvailable()
      val all = spark.table("fmgws_spec")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(all == Set(
        (1L, 1700000000000L * 1000, 3L),          // closed by the split
        (1L, (1700000000000L + 61 * 60000L) * 1000, 1L), // timeout flush
        (2L, (1700000000000L + 5 * 60000L) * 1000, 1L)), // timeout flush
        s"timeout must flush the open tails: $all")
    } finally q.stop()
  }
}
