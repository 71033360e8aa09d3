package graft

import graft.sources.{JdbcSnapshot, TableSink}
import graft.streaming.StreamingCdc
import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files

class TableSinkSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  val dir = "/root/testdata/sf0.001"
  // unique per run: the JVM-local catalog starts empty but the
  // warehouse directory persists across runs
  val run = System.nanoTime()

  test("writeManaged creates a month-partitioned managed table that reads back") {
    val src = Tables.load(spark, dir, "orders")
    val partCol = TableSink.writeManaged(src, "graft_test", s"orders_sink_$run",
      SaveMode.Overwrite)
    assert(partCol.contains("o_orderdate_month"))
    val back = TableSink.readManaged(spark, "graft_test", s"orders_sink_$run")
    assert(back.count() == src.count())
    // partition pruning: a date-month predicate restricts scanned partitions
    val months = back.select("o_orderdate_month").distinct().count()
    assert(months > 1, "fixture should span multiple months")
    val pruned = back.filter(col("o_orderdate_month") === 199701)
    val plan = pruned.queryExecution.executedPlan.toString
    assert(back.drop("o_orderdate_month").columns.sameElements(src.columns))
    // pruning must be real: the month predicate lands in
    // PartitionFilters (directory-level skip — the scan never opens
    // other months' files), not in the row-level data filters
    assert("PartitionFilters: \\[[^\\]]*o_orderdate_month".r
      .findFirstIn(plan).isDefined, s"month filter not pruned in:\n$plan")
    assert(pruned.count() ==
      src.filter(year(col("o_orderdate")) * 100 + month(col("o_orderdate"))
        === 199701).count())
  }

  test("tables without a date column write unpartitioned") {
    val src = Tables.load(spark, dir, "region")
    val partCol = TableSink.writeManaged(src, "graft_test", s"region_sink_$run",
      SaveMode.Overwrite)
    assert(partCol.isEmpty)
    assert(TableSink.readManaged(spark, "graft_test", s"region_sink_$run").count()
      == src.count())
  }

  test("bucketed tables join without an exchange (co-located join)") {
    val orders = Tables.load(spark, dir, "orders")
    val customer = Tables.load(spark, dir, "customer")
    TableSink.writeBucketed(orders, "graft_test", s"orders_b_$run",
      Seq("o_custkey"), 4)
    TableSink.writeBucketed(
      customer.withColumnRenamed("c_custkey", "o_custkey"),
      "graft_test", s"customer_b_$run", Seq("o_custkey"), 4)
    // at fixture size the planner prefers broadcast (which disables
    // bucketed reads); turn it off to exercise the co-located
    // sort-merge path the bucketing exists for at scale
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.get(key)
    try {
      spark.conf.set(key, "-1")
      val joined = spark.table(s"graft_test.orders_b_$run")
        .join(spark.table(s"graft_test.customer_b_$run"), "o_custkey")
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"bucketed equi-join must not shuffle:\n$plan")
      assert(joined.count() > 0)
    } finally spark.conf.set(key, prev)
  }

  test("distributed naming parity") {
    assert(TableSink.resolveName("db", "t", distributed = true) == "db.db__t_all")
    assert(TableSink.resolveName("db", "t", distributed = false) == "db.t")
  }
}

class JdbcSnapshotSpec extends AnyFunSuite {
  test("option assembly: pushdown subquery, partitioned range, fetch size") {
    val opts = JdbcSnapshot.options("jdbc:mysql://h:3306/d", "d", "t",
      where = Some("id > 100"),
      partitioning = Some(JdbcSnapshot.Partitioning("id", 0L, 1000000L, 16)))
    assert(opts("dbtable") == "(SELECT * FROM `d`.`t` WHERE id > 100) AS t")
    assert(opts("partitionColumn") == "id" && opts("numPartitions") == "16")
    assert(opts("fetchsize") == "100000")
    val plain = JdbcSnapshot.options("u", "d", "t")
    assert(plain("dbtable") == "`d`.`t`" && !plain.contains("partitionColumn"))
  }

  // ---- live-JDBC tests against embedded Derby (ships with Spark) ----

  lazy val spark = SparkTestSession.spark

  private lazy val derbyUrl: String = {
    val dbDir = Files.createTempDirectory("graft_derby").toString + "/db"
    val url = s"jdbc:derby:$dbDir;create=true"
    val conn = java.sql.DriverManager.getConnection(url)
    try {
      val st = conn.createStatement()
      st.execute("CREATE TABLE PEOPLE (ID BIGINT NOT NULL, NAME VARCHAR(32), SCORE DOUBLE)")
      val ps = conn.prepareStatement("INSERT INTO PEOPLE VALUES (?, ?, ?)")
      for (i <- 0 until 100) {
        ps.setLong(1, i.toLong); ps.setString(2, s"name_$i")
        ps.setDouble(3, i * 0.5); ps.addBatch()
      }
      ps.executeBatch()
    } finally conn.close()
    url
  }

  test("live JDBC: partitioned range scan fans out and reads every row") {
    val opts = JdbcSnapshot.options(derbyUrl, "APP", "PEOPLE",
      partitioning = Some(JdbcSnapshot.Partitioning("ID", 0L, 100L, 4)),
      quote = "\"") + ("driver" -> "org.apache.derby.jdbc.EmbeddedDriver")
    val df = JdbcSnapshot.read(spark, opts)
    assert(df.rdd.getNumPartitions == 4,
      "range partitioning must fan out into parallel scans")
    assert(df.count() == 100)
    assert(df.agg(org.apache.spark.sql.functions.sum("ID")).head().getLong(0)
      == (0 until 100).sum.toLong)
  }

  test("live JDBC: WHERE folds server-side into the dbtable subquery") {
    val opts = JdbcSnapshot.options(derbyUrl, "APP", "PEOPLE",
      where = Some("ID >= 50"), quote = "\"") +
      ("driver" -> "org.apache.derby.jdbc.EmbeddedDriver")
    val df = JdbcSnapshot.read(spark, opts)
    assert(df.count() == 50)
    assert(df.agg(org.apache.spark.sql.functions.min("ID")).head().getLong(0) == 50L)
  }

  test("live JDBC: end-to-end migration with count reconciliation") {
    val opts = JdbcSnapshot.options(derbyUrl, "APP", "PEOPLE",
      partitioning = Some(JdbcSnapshot.Partitioning("ID", 0L, 100L, 4)),
      quote = "\"") + ("driver" -> "org.apache.derby.jdbc.EmbeddedDriver")
    val dst = Files.createTempDirectory("graft_jdbcmig").toString
    val m = graft.migrate.Migrator.migrateJdbcTable(spark, opts, dst, "people")
    assert(m.reconciled && m.srcRows == 100 && m.dstRows == 100)
    assert(m.chDdl.contains("ReplacingMergeTree"))
    val back = spark.read.parquet(s"$dst/people.parquet")
    assert(back.count() == 100 && back.columns.toSet == Set("ID", "NAME", "SCORE"))
  }
}

class FirstRowSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  val dir = "/root/testdata/sf0.001"

  test("first replicated row is recorded once and survives replays") {
    val root = Files.createTempDirectory("graft_firstrow").toString
    val feed = graft.cdc.ChangeFeed.fromEvents(Tables.load(spark, dir, "events"))
    val batches = graft.cdc.ChangeFeed.timeBatches(feed, "week")
    assert(StreamingCdc.firstRow(spark, s"$root/state").isEmpty)
    StreamingCdc.mergeIntoState(batches.head, s"$root/state",
      Seq("user_id"), Seq("ts", "event_id"))
    val first = StreamingCdc.firstRow(spark, s"$root/state")
    assert(first.exists(_.contains("\"event_id\"")))
    // replaying the first batch must not overwrite the record
    StreamingCdc.mergeIntoState(batches.head, s"$root/state",
      Seq("user_id"), Seq("ts", "event_id"))
    assert(StreamingCdc.firstRow(spark, s"$root/state") == first)
  }

  test("first row survives crash leftovers: blank record replaced, valid one kept") {
    val feed = graft.cdc.ChangeFeed.fromEvents(Tables.load(spark, dir, "events"))
    val batch = graft.cdc.ChangeFeed.timeBatches(feed, "week").head
    def mergeFirst(root: String): Unit = StreamingCdc.mergeIntoState(batch,
      s"$root/state", Seq("user_id"), Seq("ts", "event_id"))
    def leftover(root: String, name: String, content: String): Unit = {
      Files.createDirectories(java.nio.file.Paths.get(s"$root/state"))
      Files.writeString(java.nio.file.Paths.get(s"$root/state/$name"), content)
    }
    // a zero-byte record (a torn in-place write) is no first row and
    // is replaced by the first merge; a stray temp file is ignored
    val torn = Files.createTempDirectory("graft_firstrow_torn").toString
    leftover(torn, "_first_row.json", "")
    leftover(torn, "._first_row.json.tmp", "{\"event_id\"")
    assert(StreamingCdc.firstRow(spark, s"$torn/state").isEmpty)
    mergeFirst(torn)
    assert(StreamingCdc.firstRow(spark, s"$torn/state")
      .exists(_.contains("\"event_id\"")))
    // a complete record from a first batch that crashed before its
    // version published is kept when the batch replays
    val replay = Files.createTempDirectory("graft_firstrow_replay").toString
    leftover(replay, "_first_row.json", "{\"event_id\":-1}")
    mergeFirst(replay)
    assert(StreamingCdc.firstRow(spark, s"$replay/state")
      .contains("{\"event_id\":-1}"))
  }
}
