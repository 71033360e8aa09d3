package graft

import graft.sources.{JdbcIncremental, JdbcSnapshot}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files
import java.sql.DriverManager

/** Live tests of the incremental JDBC streaming source against
  * embedded Derby: offset math, partition fan-out, type conversion
  * (the snapshot reader's, column for column), post-start inserts,
  * and crash-replay resume from the persisted checkpoint offset.
  */
class JdbcIncrementalSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private def freshDerby(): String = {
    val dbDir = Files.createTempDirectory("graft_jdbcinc").toString + "/db"
    s"jdbc:derby:$dbDir;create=true"
  }

  private def exec(url: String, sqls: String*): Unit = {
    val conn = DriverManager.getConnection(url)
    try {
      val st = conn.createStatement()
      sqls.foreach(st.execute)
    } finally conn.close()
  }

  private def insertRange(url: String, from: Int, until: Int): Unit = {
    val conn = DriverManager.getConnection(url)
    try {
      val ps = conn.prepareStatement("INSERT INTO CHANGES VALUES (?, ?, ?, ?)")
      for (i <- from until until) {
        ps.setLong(1, i.toLong)
        if (i % 7 == 0) ps.setNull(2, java.sql.Types.VARCHAR)
        else ps.setString(2, s"name_$i")
        ps.setDouble(3, i * 0.25)
        ps.setTimestamp(4,
          java.sql.Timestamp.valueOf(s"2024-01-01 00:0${i % 6}:0${i % 10}"))
        ps.addBatch()
      }
      ps.executeBatch()
    } finally conn.close()
  }

  private def reader(url: String, parts: Int = 4) =
    spark.readStream.format("graft-jdbc")
      .option("url", url)
      .option("driver", "org.apache.derby.jdbc.EmbeddedDriver")
      .option("dbtable", "APP.CHANGES")
      .option("keyColumn", "ID")
      .option("numPartitions", parts.toString)
      .load()

  test("schema inference and typed full read through a micro-batch") {
    val url = freshDerby()
    exec(url, "CREATE TABLE CHANGES (ID BIGINT NOT NULL, NAME VARCHAR(32), " +
      "SCORE DOUBLE, TS TIMESTAMP)")
    insertRange(url, 0, 50)
    val df = reader(url)
    assert(df.schema.fieldNames.toSeq == Seq("ID", "NAME", "SCORE", "TS"))
    assert(df.schema("ID").dataType.typeName == "long")
    assert(df.schema("TS").dataType.typeName == "timestamp")
    val name = s"jdbcinc_full_${System.nanoTime()}"
    df.writeStream.format("memory").queryName(name)
      .option("checkpointLocation", Files.createTempDirectory("ck").toString)
      .trigger(Trigger.AvailableNow()).start().awaitTermination()
    val got = spark.table(name)
    assert(got.count() == 50)
    // NULL round-trip (every 7th name) and value fidelity
    assert(got.filter(col("NAME").isNull).count() == 8)
    assert(got.agg(sum("ID")).head().getLong(0) == (0 until 50).sum.toLong)
    assert(got.filter(col("ID") === 3).head().getDouble(2) == 0.75)
  }

  test("rows inserted after stream start arrive in later micro-batches") {
    val url = freshDerby()
    exec(url, "CREATE TABLE CHANGES (ID BIGINT NOT NULL, NAME VARCHAR(32), " +
      "SCORE DOUBLE, TS TIMESTAMP)")
    insertRange(url, 0, 30)
    val name = s"jdbcinc_live_${System.nanoTime()}"
    val q = reader(url).writeStream.format("memory").queryName(name)
      .option("checkpointLocation", Files.createTempDirectory("ck").toString)
      .trigger(Trigger.ProcessingTime("250 milliseconds")).start()
    try {
      q.processAllAvailable()
      assert(spark.table(name).count() == 30)
      insertRange(url, 30, 80) // live insert AFTER stream start
      q.processAllAvailable()
      val got = spark.table(name)
      assert(got.count() == 80)
      assert(got.select("ID").distinct().count() == 80, "no duplicates")
    } finally q.stop()
  }

  test("crash replay: a restarted stream resumes from the committed offset") {
    val url = freshDerby()
    exec(url, "CREATE TABLE CHANGES (ID BIGINT NOT NULL, NAME VARCHAR(32), " +
      "SCORE DOUBLE, TS TIMESTAMP)")
    insertRange(url, 0, 40)
    val ckpt = Files.createTempDirectory("ck").toString
    val out = Files.createTempDirectory("out").toString

    def run(): Unit =
      reader(url).writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start().awaitTermination()

    run() // first life: reads 0..39, commits offset 39
    assert(spark.read.parquet(out).count() == 40)
    insertRange(url, 40, 65)
    run() // second life: must read ONLY 40..64 from the checkpoint
    val got = spark.read.parquet(out)
    assert(got.count() == 65, "resume must not duplicate or drop rows")
    assert(got.select("ID").distinct().count() == 65)
    assert(got.agg(max("ID")).head().getLong(0) == 64L)
  }

  test("per-batch range fan-out splits the scan into parallel partitions") {
    val url = freshDerby()
    exec(url, "CREATE TABLE CHANGES (ID BIGINT NOT NULL, NAME VARCHAR(32), " +
      "SCORE DOUBLE, TS TIMESTAMP)")
    insertRange(url, 0, 100)
    var parts = 0
    val q = reader(url, parts = 5).writeStream
      .option("checkpointLocation", Files.createTempDirectory("ck").toString)
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        parts = b.rdd.getNumPartitions
        assert(b.count() == 100)
        ()
      }
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    assert(parts == 5, s"expected 5 range partitions, got $parts")
  }

  test("maxKeyRangePerBatch paces a cold start into multiple batches") {
    val url = freshDerby()
    exec(url, "CREATE TABLE CHANGES (ID BIGINT NOT NULL, NAME VARCHAR(32), " +
      "SCORE DOUBLE, TS TIMESTAMP)")
    insertRange(url, 0, 90)
    val name = s"jdbcinc_paced_${System.nanoTime()}"
    var batches = 0
    val q = spark.readStream.format("graft-jdbc")
      .option("url", url)
      .option("driver", "org.apache.derby.jdbc.EmbeddedDriver")
      .option("dbtable", "APP.CHANGES")
      .option("keyColumn", "ID")
      .option("maxKeyRangePerBatch", "40")
      .load()
      .writeStream
      .option("checkpointLocation", Files.createTempDirectory("ck").toString)
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        batches += 1
        assert(b.count() <= 41)
        ()
      }
      .trigger(Trigger.ProcessingTime("100 milliseconds")).start()
    try {
      q.processAllAvailable()
      assert(batches >= 3, s"90 keys / 40 per batch needs >= 3 batches, got $batches")
    } finally q.stop()
  }

  test("AvailableNow drains the prepare-time snapshot in paced batches then exits") {
    val url = freshDerby()
    exec(url, "CREATE TABLE CHANGES (ID BIGINT NOT NULL, NAME VARCHAR(32), " +
      "SCORE DOUBLE, TS TIMESTAMP)")
    insertRange(url, 0, 100)
    val ckpt = Files.createTempDirectory("ck").toString
    val batches = new java.util.concurrent.atomic.AtomicInteger
    val total = new java.util.concurrent.atomic.AtomicLong
    val insertedMidDrain = new java.util.concurrent.atomic.AtomicBoolean

    def drain(): Long = {
      batches.set(0); total.set(0)
      val q = spark.readStream.format("graft-jdbc")
        .option("url", url)
        .option("driver", "org.apache.derby.jdbc.EmbeddedDriver")
        .option("dbtable", "APP.CHANGES")
        .option("keyColumn", "ID")
        .option("maxKeyRangePerBatch", "30")
        .load()
        .writeStream
        .option("checkpointLocation", ckpt)
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          val n = b.count()
          if (n > 0) batches.incrementAndGet()
          total.addAndGet(n)
          // a writer keeps appending mid-drain: these rows are past the
          // prepare-time fence and must NOT extend this run
          if (insertedMidDrain.compareAndSet(false, true))
            insertRange(url, 100, 120)
          ()
        }
        .trigger(Trigger.AvailableNow()).start()
      assert(q.awaitTermination(120000), "AvailableNow drain must terminate")
      total.get
    }

    assert(drain() == 100, "first run drains exactly the rows present at prepare")
    assert(batches.get >= 4,
      s"100 keys / 30 per batch needs >= 4 paced batches (single-batch " +
        s"fallback would ignore the cap), got ${batches.get}")
    assert(drain() == 20, "next run picks up exactly the mid-drain inserts")
  }

  test("the tail types and decodes a wide table exactly like the snapshot") {
    val url = freshDerby()
    val driver = "org.apache.derby.jdbc.EmbeddedDriver"
    exec(url, "CREATE TABLE WIDE (ID BIGINT NOT NULL, S SMALLINT, R REAL, " +
        "D DECIMAL(7,2), B BOOLEAN, BIN CHAR(4) FOR BIT DATA, C CLOB, " +
        "DT DATE, TM TIME, TS TIMESTAMP)",
      "INSERT INTO WIDE VALUES (1, -7, 1.5, 12345.67, TRUE, X'0a0b0c0d', " +
        "'clob one', '2024-02-29', '13:14:15', '2024-03-01 01:02:03.456')",
      "INSERT INTO WIDE VALUES (2, 32767, -0.25, -0.01, FALSE, X'00ff00ff', " +
        "'two', '1999-12-31', '00:00:00', '1970-01-01 00:00:00')",
      "INSERT INTO WIDE VALUES (3, NULL, NULL, NULL, NULL, NULL, NULL, " +
        "NULL, NULL, NULL)")
    val tail = spark.readStream.format("graft-jdbc")
      .option("url", url).option("driver", driver)
      .option("dbtable", "APP.WIDE").option("keyColumn", "ID")
      .option("numPartitions", "2").load()
    val snap = JdbcSnapshot.read(spark,
      JdbcSnapshot.options(url, "APP", "WIDE") + ("driver" -> driver))
    assert(tail.schema == snap.schema)
    val name = s"jdbcinc_wide_${System.nanoTime()}"
    tail.writeStream.format("memory").queryName(name)
      .option("checkpointLocation", Files.createTempDirectory("ck").toString)
      .trigger(Trigger.AvailableNow()).start().awaitTermination()
    val got = spark.table(name)
    assert(got.count() == 3)
    assert(got.exceptAll(snap).isEmpty && snap.exceptAll(got).isEmpty)
  }

  test("the range scan and the snapshot quote identifiers the URL's dialect's way") {
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("name", StringType)))
    assert(JdbcIncremental.rangeSelect("jdbc:mysql://h:3306/d",
      "d.t", "id", schema) ==
      "SELECT `id`, `name` FROM d.t WHERE `id` > ? AND `id` <= ?")
    assert(JdbcIncremental.rangeSelect("jdbc:derby:memory:d",
      "APP.T", "id", schema) ==
      "SELECT \"id\", \"name\" FROM APP.T WHERE \"id\" > ? AND \"id\" <= ?")
    // the MySQL side of JdbcSnapshot.options: JdbcSnapshotSpec's option assembly
    val derbyTable = JdbcSnapshot.options("jdbc:derby:memory:d", "APP", "T")("dbtable")
    assert(derbyTable == "\"APP\".\"T\"")
  }

  test("offset json round-trips") {
    val s = graft.sources.JdbcKeyOffset(42L)
    assert(s.json() == """{"maxKey":42}""")
  }

  test("startOffset bootstraps a fresh stream past key K; the checkpoint wins on resume") {
    val url = freshDerby()
    exec(url, "CREATE TABLE CHANGES (ID BIGINT NOT NULL, NAME VARCHAR(32), " +
      "SCORE DOUBLE, TS TIMESTAMP)")
    insertRange(url, 0, 50)
    val ckpt = Files.createTempDirectory("ck").toString
    val out = Files.createTempDirectory("out").toString

    def run(startKey: Long): Unit =
      spark.readStream.format("graft-jdbc")
        .option("url", url)
        .option("driver", "org.apache.derby.jdbc.EmbeddedDriver")
        .option("dbtable", "APP.CHANGES")
        .option("keyColumn", "ID")
        .option("numPartitions", "4")
        .option("startOffset", startKey.toString)
        .load()
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start().awaitTermination()

    run(19L) // fresh stream: keys <= 19 are skipped
    val first = spark.read.parquet(out)
    assert(first.count() == 30)
    assert(first.agg(min("ID")).head().getLong(0) == 20L)
    insertRange(url, 50, 60)
    // a LATER startOffset on restart must be ignored — the committed
    // checkpoint offset (49) wins, so 50..59 arrive in full
    run(55L)
    val got = spark.read.parquet(out)
    assert(got.count() == 40, "checkpoint must win over a restated start key")
    assert(got.select("ID").distinct().count() == 40)
    assert(got.agg(max("ID")).head().getLong(0) == 59L)
  }
}
