package graft

import graft.app.GraftApp
import graft.migrate.Migrator
import graft.schema.CatalogReader
import graft.sources.CsvSource
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files

class CatalogReaderSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private def catalogCsv: String = {
    val dir = Files.createTempDirectory("graft_catalog").toString
    val csv =
      """table_name,ordinal_position,column_name,column_type,is_nullable,column_key,column_default,extra
        |log_click,1,id,BIGINT(20) UNSIGNED,NO,PRI,,auto_increment
        |log_click,2,ts,DATETIME,NO,,,
        |log_click,3,payload,VARCHAR(255),YES,,,
        |log_view,1,id,BIGINT(20) UNSIGNED,NO,PRI,,auto_increment
        |log_view,2,seen_at,DATE,YES,,,
        |accounts,1,acct_id,INT(10),NO,PRI,,
        |accounts,2,balance,"DECIMAL(12,2)",YES,,0.00,
        |accounts,3,note,TEXT,YES,,,
        |""".stripMargin
    Files.writeString(java.nio.file.Paths.get(dir, "catalog.csv"), csv)
    s"$dir/catalog.csv"
  }

  test("parses INFORMATION_SCHEMA shape into ColumnDesc lists in ordinal order") {
    val cat = CatalogReader.fromCsv(spark, catalogCsv)
    assert(cat.keySet == Set("log_click", "log_view", "accounts"))
    val cols = cat("log_click")
    assert(cols.map(_.field) == Seq("id", "ts", "payload"))
    assert(cols.head.key == "PRI" && !cols.head.nullable)
    assert(cols.head.extra == "auto_increment")
  }

  test("prefix expansion resolves the work list like --src-tables-prefixes") {
    val cat = CatalogReader.fromCsv(spark, catalogCsv)
    assert(CatalogReader.resolveTables(cat, prefixes = Seq("log_")) ==
      Seq("log_click", "log_view"))
    assert(CatalogReader.resolveTables(cat, tables = Seq("accounts")) ==
      Seq("accounts"))
    assert(CatalogReader.resolveTables(cat).size == 3)
  }

  test("unknown explicit tables are an error, not a silent no-op") {
    val cat = CatalogReader.fromCsv(spark, catalogCsv)
    val e = intercept[IllegalArgumentException] {
      CatalogReader.resolveTables(cat, tables = Seq("log_click", "typo"))
    }
    assert(e.getMessage.contains("typo"))
  }

  test("schemaOf maps types through TypeMapper with column skip") {
    val cat = CatalogReader.fromCsv(spark, catalogCsv)
    val s = CatalogReader.schemaOf(cat, "accounts", skip = Set("note"))
    assert(s.fieldNames.toSeq == Seq("acct_id", "balance"))
    assert(s("acct_id").dataType == IntegerType)
    assert(s("balance").dataType == DecimalType(12, 2))
    // BIGINT UNSIGNED → DecimalType(20,0); PRI forces non-nullable
    val lc = CatalogReader.schemaOf(cat, "log_click")
    assert(lc("id").dataType == DecimalType(20, 0) && !lc("id").nullable)
  }
}

class CsvSourceSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("round-trip preserves values, sorts columns, maps '' <-> NULL") {
    val dir = Files.createTempDirectory("graft_csvrt").toString
    val df = Seq((1L, Some("x"), 1.5), (2L, None, -2.25), (3L, Some("z"), 0.0))
      .toDF("id", "s", "v")
    CsvSource.write(df, dir)
    val schema = StructType(df.schema.fields.sortBy(_.name))
    val back = CsvSource.read(spark, dir, Some(schema))
    assert(back.columns.toSeq == Seq("id", "s", "v"))
    val rows = back.orderBy("id").collect()
    assert(rows.map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L))
    assert(rows(1).isNullAt(1), "NULL must survive the round-trip")
    assert(rows.map(_.getDouble(2)).toSeq == Seq(1.5, -2.25, 0.0))
  }

  test("fixture table round-trips exactly (typed read-back)") {
    val dir = Files.createTempDirectory("graft_csvfix").toString
    val src = Tables.load(spark, "/root/testdata/sf0.001", "nation")
    CsvSource.write(src, dir)
    val back = CsvSource.read(spark, dir,
      Some(StructType(src.schema.fields.sortBy(_.name))))
    assert(back.count() == src.count())
    val a = src.select(src.columns.sorted.map(col): _*).orderBy("n_nationkey").collect()
    val b = back.orderBy("n_nationkey").collect()
    assert(a.sameElements(b))
  }

  test("dialect sniffing detects delimiter and header like the reference") {
    val dir = Files.createTempDirectory("graft_sniff").toString
    def put(name: String, text: String): String = {
      val p = java.nio.file.Paths.get(dir, name)
      java.nio.file.Files.write(p, text.getBytes("UTF-8"))
      p.toString
    }
    // semicolon + header
    val semi = put("a.csv", "id;name;price\n1;widget;9.50\n2;bolt;0.25\n")
    assert(CsvSource.sniff(spark, semi) == (";", true))
    // tab + no header (numbers in both rows)
    val tab = put("b.csv", "1\tx\t2.5\n2\ty\t3.5\n")
    assert(CsvSource.sniff(spark, tab) == ("\t", false))
    // comma + header, and readSniffed parses a directory end-to-end
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir, "c"))
    put("c/part-0.csv", "k,v\n1,a\n2,b\n")
    val back = CsvSource.readSniffed(spark, s"$dir/c")
    assert(back.columns.toSeq == Seq("k", "v") && back.count() == 2)
  }

  test("JSON lines round-trip is type-faithful including nulls and timestamps") {
    import graft.sources.JsonSource
    val dir = Files.createTempDirectory("graft_jsonrt").toString
    val df = Seq(
        (1L, Some("x"), Some(java.sql.Timestamp.valueOf("2024-03-01 10:30:00")), 1.5),
        (2L, None, None, -2.25))
      .toDF("id", "s", "ts", "v")
    JsonSource.write(df, dir)
    val schema = StructType(df.schema.fields.sortBy(_.name))
    val back = JsonSource.read(spark, dir, Some(schema)).orderBy("id")
    assert(back.columns.toSeq == Seq("id", "s", "ts", "v"))
    val rows = back.collect()
    assert(rows(0).getAs[java.sql.Timestamp]("ts")
      == java.sql.Timestamp.valueOf("2024-03-01 10:30:00"))
    assert(rows(1).isNullAt(rows(1).fieldIndex("s")))
    assert(rows(1).isNullAt(rows(1).fieldIndex("ts")))
    assert(rows.map(_.getAs[Double]("v")).toSeq == Seq(1.5, -2.25))
  }
}

class MigratorSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  val dir = "/root/testdata/sf0.001"

  test("column-default-value flows parse -> spec -> filled frame") {
    import spark.implicits._
    val tmp = Files.createTempDirectory("graft_defaults").toString
    Seq((1L, Some("a"), Some(2.5)), (2L, None, None))
      .toDF("c_custkey", "c_mktsegment", "c_acctbal")
      .write.mode("overwrite").parquet(s"$tmp/customer.parquet")
    val c = GraftApp.parse(Seq(s"--src-dir=$tmp",
      "--column-default-value=customer.c_mktsegment=UNKNOWN,customer.c_acctbal=0"))
    assert(c.defaults == Map("customer" ->
      Map("c_mktsegment" -> "UNKNOWN", "c_acctbal" -> 0L)))
    val out = Migrator.transformed(spark, tmp, "customer",
        Migrator.Spec(defaults = c.defaults))
      .orderBy("c_custkey").collect()
    assert(out(1).getString(1) == "UNKNOWN")
    assert(out(1).getDouble(2) == 0.0)
    // non-defaulted rows untouched
    assert(out(0).getString(1) == "a" && out(0).getDouble(2) == 2.5)
  }

  test("migrateTable applies skip + where, reconciles counts, emits DDL") {
    val dst = Files.createTempDirectory("graft_mig").toString
    val spec = Migrator.Spec(
      skipColumns = Map("orders" -> Seq("o_orderpriority")),
      whereClauses = Map("orders" -> "o_totalprice > 100000.0"))
    val m = Migrator.migrateTable(spark, dir, dst, "orders", spec = spec)
    assert(m.reconciled && m.srcRows > 0)
    val out = spark.read.parquet(s"$dst/orders.parquet")
    assert(!out.columns.contains("o_orderpriority"))
    assert(out.filter(col("o_totalprice") <= 100000.0).count() == 0)
    assert(m.sparkDdl.contains("CREATE TABLE") && m.sparkDdl.contains("USING PARQUET"))
    assert(m.chDdl.contains("ReplacingMergeTree"))
  }

  test("migrateTable scans the source exactly once (observe, not recount)") {
    // a uniquely-named probe table in a SHORT temp path: executed-plan
    // strings truncate FileScan locations, so the unique token must
    // land inside the printed prefix; suites run in parallel, so only
    // probe-table executions are counted
    val srcTmp = Files.createTempDirectory("ms").toString
    spark.read.parquet(s"$dir/nation.parquet")
      .write.parquet(s"$srcTmp/migprobe.parquet")
    val plans = java.util.Collections.synchronizedList(
      new java.util.ArrayList[String]())
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          durationNs: Long): Unit = plans.add(qe.executedPlan.toString)
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          exception: Exception): Unit = ()
    }
    // the probe table's own write above ends on the async listener
    // bus; drain it first so only the migration's executions are seen
    org.apache.spark.GraftListenerBridge.waitListenerBusEmpty(spark.sparkContext)
    spark.listenerManager.register(listener)
    try {
      val dst = Files.createTempDirectory("md").toString
      val m = Migrator.migrateTable(spark, srcTmp, dst, "migprobe")
      assert(m.reconciled && m.srcRows == 25)
      org.apache.spark.GraftListenerBridge.waitListenerBusEmpty(spark.sparkContext)
      val touching = plans.toArray.map(_.toString)
        .filter(_.contains("migprobe"))
      // exactly 2 executions touch the probe table: the write (whose
      // plan carries the source FileScan + the CollectMetrics count)
      // and the destination recount — a separate source-count scan
      // (the old shape) would make it 3
      assert(touching.length == 2,
        s"expected write + dst recount only, saw ${touching.length} executions")
      val write = touching.filter(_.contains("InsertIntoHadoopFsRelationCommand"))
      assert(write.length == 1 &&
        write.head.contains("CollectMetrics graft_migrate_migprobe"),
        "source count must ride the write pass as an observed metric")
    } finally spark.listenerManager.unregister(listener)
  }

  test("migrateAll migrates a table list and fails fast on mismatch only") {
    val dst = Files.createTempDirectory("graft_migall").toString
    val ms = Migrator.migrateAll(spark, dir, dst, Seq("region", "nation"))
    assert(ms.length == 2 && ms.forall(_.reconciled))
  }

  private val tables8 = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events")

  test("concurrent migrateAll equals sequential migrateTable calls, in list order") {
    val par = Files.createTempDirectory("graft_migpar").toString
    val seq = Files.createTempDirectory("graft_migseq").toString
    val ms = Migrator.migrateAll(spark, dir, par, tables8)
    assert(ms == tables8.map(Migrator.migrateTable(spark, dir, seq, _)))
    tables8.foreach { t =>
      def rows(root: String) = {
        val df = spark.read.parquet(s"$root/$t.parquet")
        (df.schema, df.collect().map(_.toString).sorted.toSeq)
      }
      assert(rows(par) == rows(seq), s"$t: parquet differs from the sequential write")
    }
  }

  test("concurrent migrateAll rethrows the first-listed failure unwrapped") {
    val dst = Files.createTempDirectory("graft_migfail").toString
    val missing = intercept[Exception] {
      Migrator.migrateAll(spark, dir, dst,
        Seq("region", "missing_first", "nation", "missing_second"))
    }
    assert(!missing.isInstanceOf[java.util.concurrent.ExecutionException])
    assert(missing.getMessage.contains("missing_first"), missing)
    // a failure while a table runs on the pool is rethrown as thrown
    val reg = new graft.ops.Transforms.TransformRegistry()
      .register("nation", _.withColumn("boom", raise_error(lit("nation boom"))))
    val e = intercept[Exception] {
      Migrator.migrateAll(spark, dir, dst, Seq("region", "nation"),
        spec = Migrator.Spec(transforms = reg))
    }
    assert(!e.isInstanceOf[java.util.concurrent.ExecutionException])
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(c => String.valueOf(c.getMessage).contains("nation boom")), e)
  }

  test("migrateAll starts no table after a failure and raises the first-listed one") {
    // every pool thread gets a failing table, listed smallest first, so
    // the last-listed fails first in time; the two small tables queue
    // behind them and may start only after one of them has failed
    val src = Files.createTempDirectory("graft_migabort").toString
    val k = spark.sparkContext.defaultParallelism
    val failing = (0 until k).map(i => s"abort_f$i")
    val queued = Seq("abort_q0", "abort_q1")
    (failing.zipWithIndex.map { case (t, i) => t -> 2000L * (i + 1) } ++
        queued.map(_ -> 10L)).foreach { case (t, n) =>
      spark.range(n).select(col("id"), rand(7).as("x"))
        .write.parquet(s"$src/$t.parquet")
    }
    val reg = failing.foldLeft(new graft.ops.Transforms.TransformRegistry()) {
      (r, t) => r.register(t, _.withColumn("boom", raise_error(lit(s"boom $t"))))
    }
    val spec = Migrator.Spec(transforms = reg)
    val sizes = (failing ++ queued).map(t => Migrator.transformed(spark, src, t, spec)
      .queryExecution.optimizedPlan.stats.sizeInBytes)
    val (failSizes, queuedSizes) = sizes.splitAt(k)
    assert(failSizes.zip(failSizes.tail).forall { case (a, b) => a < b } &&
      queuedSizes.max < failSizes.min, s"size order is not the one planned: $sizes")
    val dst = Files.createTempDirectory("graft_migabort_dst").toString
    val e = intercept[Exception] {
      Migrator.migrateAll(spark, src, dst, failing ++ queued, spec = spec)
    }
    assert(!e.isInstanceOf[java.util.concurrent.ExecutionException])
    val msgs = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .map(c => String.valueOf(c.getMessage)).toSeq
    assert(msgs.exists(_.contains("boom abort_f0")), e)
    assert(!msgs.exists(_.contains(s"boom abort_f${k - 1}")), e)
    queued.foreach(t => assert(!new java.io.File(s"$dst/$t.parquet").exists(),
      s"$t started after a failure"))
  }

  test("migrateAll refuses duplicate tables or destinations before any write") {
    val dst = s"${Files.createTempDirectory("graft_migdup")}/out"
    val dupTable = intercept[IllegalArgumentException] {
      Migrator.migrateAll(spark, dir, dst, Seq("region", "nation", "region"))
    }
    assert(dupTable.getMessage.contains("duplicate table region"))
    val dupDst = intercept[IllegalArgumentException] {
      Migrator.migrateAll(spark, dir, dst, Seq("region", "nation"),
        dstName = _ => "same")
    }
    assert(dupDst.getMessage.contains("duplicate destination same"))
    assert(!new java.io.File(dst).exists())
  }

  test("migrateAll's jobs carry the caller's local properties") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
    import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
    // uniquely-named probe tables in SHORT temp paths, so that their
    // executions can be told from other suites' by plan text
    val src = Files.createTempDirectory("mj").toString
    val probes = Seq("mjprobe_a", "mjprobe_b", "mjprobe_c")
    probes.foreach(t => spark.read.parquet(s"$dir/nation.parquet")
      .write.parquet(s"$src/$t.parquet"))
    val probeExecs = java.util.concurrent.ConcurrentHashMap.newKeySet[Long]()
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]()
    val listener = new SparkListener {
      override def onOtherEvent(event: SparkListenerEvent): Unit = event match {
        case e: SparkListenerSQLExecutionStart
            if e.physicalPlanDescription.contains("mjprobe") =>
          probeExecs.add(e.executionId)
        case _ =>
      }
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.add((e.properties.getProperty("spark.sql.execution.id"),
          e.properties.getProperty("spark.job.description")))
    }
    val sc = spark.sparkContext
    org.apache.spark.GraftListenerBridge.waitListenerBusEmpty(sc)
    sc.addSparkListener(listener)
    val tag = s"graft-migrate-${System.nanoTime()}"
    try {
      sc.setJobDescription(tag)
      val ms = try Migrator.migrateAll(spark, src,
          Files.createTempDirectory("md").toString, probes)
        finally sc.setJobDescription(null)
      assert(ms.map(_.table) == probes && ms.forall(_.srcRows == 25))
      org.apache.spark.GraftListenerBridge.waitListenerBusEmpty(sc)
    } finally sc.removeSparkListener(listener)
    val migrateJobs = jobs.toArray(Array.empty[(String, String)]).filter {
      case (exec, _) => exec != null && probeExecs.contains(exec.toLong)
    }
    // each table: the observed write and the recount
    assert(probeExecs.size >= 2 * probes.size, s"saw ${probeExecs.size} executions")
    assert(migrateJobs.nonEmpty && migrateJobs.forall(_._2 == tag),
      migrateJobs.mkString(", "))
  }

  test("registered transform participates in the chain") {
    val dst = Files.createTempDirectory("graft_migtr").toString
    val reg = new graft.ops.Transforms.TransformRegistry()
      .register("region", df => df.withColumn("r_name", upper(col("r_name"))))
    val m = Migrator.migrateTable(spark, dir, dst, "region",
      spec = Migrator.Spec(transforms = reg))
    assert(m.reconciled)
    val names = spark.read.parquet(s"$dst/region.parquet")
      .select("r_name").collect().map(_.getString(0))
    assert(names.forall(n => n == n.toUpperCase))
  }

  // ---- schema-drift re-migration (SchemaDrift + Migrator.remigrate) ----

  import graft.migrate.SchemaDrift

  private def driftFixture(): (String, String) = {
    import spark.implicits._
    val src = Files.createTempDirectory("graft_drift_src").toString
    val dst = Files.createTempDirectory("graft_drift_dst").toString
    Seq((1L, "a", 10), (2L, "b", 20), (3L, "c", 30))
      .toDF("id", "name", "qty")
      .write.mode("overwrite").parquet(s"$src/driftprobe.parquet")
    (src, dst)
  }

  test("remigrate evolves added + widened columns and merges by PK") {
    import spark.implicits._
    val (src, dst) = driftFixture()
    // what Tables.load resolves for arbitrary names: a direct path
    val m1 = Migrator.migrateTable(spark, src, dst, "driftprobe")
    assert(m1.reconciled)
    // source ALTERs: qty widened int -> bigint, new column flag; row 3
    // updated, row 4 appended — the re-migration scope overlaps on 3
    Seq((3L, "c2", 300L, "x"), (4L, "d", 40L, "y"))
      .toDF("id", "name", "qty", "flag")
      .write.mode("overwrite").parquet(s"$src/driftprobe.parquet")
    val r = Migrator.remigrate(spark, src, dst, "driftprobe", pk = Seq("id"))
    assert(r.addedColumns == Seq("flag") && r.widenedColumns == Seq("qty"), r)
    assert(r.retainedRows == 2 && r.incomingRows == 2 && r.dstRows == 4, r)
    val out = spark.read.parquet(s"$dst/driftprobe.parquet")
    assert(out.schema("qty").dataType == LongType)
    val rows = out.orderBy("id").collect()
      .map(x => (x.getLong(0), x.getString(1), x.getLong(2),
        Option(x.getString(3)))).toSeq
    assert(rows == Seq((1L, "a", 10L, None), (2L, "b", 20L, None),
      (3L, "c2", 300L, Some("x")), (4L, "d", 40L, Some("y"))), rows)
  }

  test("remigrate refuses dropped columns and narrowed types loudly") {
    import spark.implicits._
    val (src, dst) = driftFixture()
    Migrator.migrateTable(spark, src, dst, "driftprobe")
    val before = spark.read.parquet(s"$dst/driftprobe.parquet").count()
    // dropped column
    Seq((4L, 40)).toDF("id", "qty")
      .write.mode("overwrite").parquet(s"$src/driftprobe.parquet")
    val e1 = intercept[IllegalStateException] {
      Migrator.remigrate(spark, src, dst, "driftprobe", pk = Seq("id"))
    }
    assert(e1.getMessage.contains("name dropped"), e1.getMessage)
    // narrowed type (qty int -> short)
    Seq((4L, "d", 40.toShort)).toDF("id", "name", "qty")
      .write.mode("overwrite").parquet(s"$src/driftprobe.parquet")
    val e2 = intercept[IllegalStateException] {
      Migrator.remigrate(spark, src, dst, "driftprobe", pk = Seq("id"))
    }
    assert(e2.getMessage.contains("narrowed"), e2.getMessage)
    // refused drift left the managed table untouched
    assert(spark.read.parquet(s"$dst/driftprobe.parquet").count() == before)
  }

  test("remigrate with an unchanged schema is a plain PK merge") {
    import spark.implicits._
    val (src, dst) = driftFixture()
    Migrator.migrateTable(spark, src, dst, "driftprobe")
    Seq((2L, "b2", 200)).toDF("id", "name", "qty")
      .write.mode("overwrite").parquet(s"$src/driftprobe.parquet")
    val r = Migrator.remigrate(spark, src, dst, "driftprobe", pk = Seq("id"))
    assert(r.addedColumns.isEmpty && r.widenedColumns.isEmpty)
    assert(r.retainedRows == 2 && r.incomingRows == 1 && r.reconciled)
    val byId = spark.read.parquet(s"$dst/driftprobe.parquet")
      .orderBy("id").collect().map(x => x.getLong(0) -> x.getString(1)).toSeq
    assert(byId == Seq(1L -> "a", 2L -> "b2", 3L -> "c"))
  }

  test("remigrate RETAINS rows deleted at the source (snapshot-additive merge)") {
    import spark.implicits._
    val (src, dst) = driftFixture()
    Migrator.migrateTable(spark, src, dst, "driftprobe")
    // the re-snapshot no longer contains rows 1 and 3 — deleted at
    // the source (or outside the migration's WHERE scope; the merge
    // cannot tell the difference, so it must keep them — deletes are
    // the CDC pump's job)
    Seq((2L, "b2", 200)).toDF("id", "name", "qty")
      .write.mode("overwrite").parquet(s"$src/driftprobe.parquet")
    val r = Migrator.remigrate(spark, src, dst, "driftprobe", pk = Seq("id"))
    assert(r.retainedRows == 2 && r.incomingRows == 1 && r.dstRows == 3)
    val ids = spark.read.parquet(s"$dst/driftprobe.parquet")
      .orderBy("id").collect().map(_.getLong(0)).toSeq
    assert(ids == Seq(1L, 2L, 3L), "source-deleted rows 1 and 3 retained")
  }

  // ---- three-step swap: a complete table exists at EVERY crash point ----

  private def hadoopFs() = {
    val conf = spark.sessionState.newHadoopConf()
    new org.apache.hadoop.fs.Path("/tmp").getFileSystem(conf)
  }

  test("swap crash between rename-aside and rename-in leaves the old table at __old; next remigrate heals it") {
    import spark.implicits._
    val (src, dst) = driftFixture()
    Migrator.migrateTable(spark, src, dst, "driftprobe")
    val dstP = new org.apache.hadoop.fs.Path(s"$dst/driftprobe.parquet")
    val oldP = new org.apache.hadoop.fs.Path(s"$dstP.__old")
    val fs = hadoopFs()
    // manufacture the exact on-disk state after swapIn step 1 died:
    // dst moved aside, the interrupted run's tmp output still present
    Seq((9L, "stale", 0)).toDF("id", "name", "qty")
      .write.parquet(s"$dstP.__remigrate")
    assert(fs.rename(dstP, oldP))
    // invariant: the complete old table is readable at a findable name
    assert(spark.read.parquet(oldP.toString).count() == 3)
    // a fresh remigrate heals the window, ignores the stale tmp, and
    // completes the merge as if the crash never happened
    Seq((2L, "b2", 200)).toDF("id", "name", "qty")
      .write.mode("overwrite").parquet(s"$src/driftprobe.parquet")
    val r = Migrator.remigrate(spark, src, dst, "driftprobe", pk = Seq("id"))
    assert(r.retainedRows == 2 && r.incomingRows == 1 && r.dstRows == 3)
    assert(!fs.exists(oldP), "recovery + completed swap leave no __old")
    val rows = spark.read.parquet(dstP.toString).orderBy("id").collect()
      .map(x => x.getLong(0) -> x.getString(1)).toSeq
    assert(rows == Seq(1L -> "a", 2L -> "b2", 3L -> "c"),
      "stale tmp output from the dead run must NOT leak into the state")
  }

  test("swap crash between rename-in and delete-old leaves the NEW table live; next remigrate clears the leftover") {
    import spark.implicits._
    val (src, dst) = driftFixture()
    Migrator.migrateTable(spark, src, dst, "driftprobe")
    val dstP = new org.apache.hadoop.fs.Path(s"$dst/driftprobe.parquet")
    val oldP = new org.apache.hadoop.fs.Path(s"$dstP.__old")
    val fs = hadoopFs()
    // manufacture the state after swapIn step 2 died: new table live
    // at dst, the superseded copy still at __old
    Seq((1L, "a", 10), (2L, "b2", 200), (3L, "c", 30))
      .toDF("id", "name", "qty")
      .write.parquet(s"$dstP.__swapnew")
    assert(fs.rename(dstP, oldP))
    assert(fs.rename(new org.apache.hadoop.fs.Path(s"$dstP.__swapnew"), dstP))
    // invariant: the new table is already live at dst
    assert(spark.read.parquet(dstP.toString)
      .filter(col("name") === "b2").count() == 1)
    // next remigrate finishes step 3 (deletes __old) and proceeds
    Seq((4L, "d", 40)).toDF("id", "name", "qty")
      .write.mode("overwrite").parquet(s"$src/driftprobe.parquet")
    val r = Migrator.remigrate(spark, src, dst, "driftprobe", pk = Seq("id"))
    assert(r.retainedRows == 3 && r.incomingRows == 1 && r.dstRows == 4)
    assert(!fs.exists(oldP))
  }

  test("swapIn rolls the old table back when the rename-in fails") {
    import spark.implicits._
    val (src, dst) = driftFixture()
    Migrator.migrateTable(spark, src, dst, "driftprobe")
    val dstP = new org.apache.hadoop.fs.Path(s"$dst/driftprobe.parquet")
    val fs = hadoopFs()
    // a tmp path that does not exist: rename(tmp, dst) returns false
    val ghost = new org.apache.hadoop.fs.Path(s"$dstP.__nosuch")
    val e = intercept[IllegalStateException] {
      Migrator.swapIn(fs, ghost, dstP)
    }
    assert(e.getMessage.contains("old table restored"), e.getMessage)
    // rollback: the old table is live at dst again, no __old remains
    assert(spark.read.parquet(dstP.toString).count() == 3)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$dstP.__old")))
  }

  test("swapIn reports STRANDED (not 'restored') when the rollback " +
    "rename fails too") {
    import spark.implicits._
    val (src, dst) = driftFixture()
    Migrator.migrateTable(spark, src, dst, "driftprobe")
    val dstP = new org.apache.hadoop.fs.Path(s"$dst/driftprobe.parquet")
    // a local fs whose rename REFUSES to move anything back out of
    // __old — the rollback-also-failed window (e.g. a permissions
    // flip or the volume going read-only mid-swap)
    val fs = new org.apache.hadoop.fs.RawLocalFileSystem() {
      override def rename(s: org.apache.hadoop.fs.Path,
          d: org.apache.hadoop.fs.Path): Boolean =
        if (s.getName.endsWith(".__old")) false else super.rename(s, d)
    }
    fs.initialize(java.net.URI.create("file:///"),
      spark.sessionState.newHadoopConf())
    val ghost = new org.apache.hadoop.fs.Path(s"$dstP.__nosuch")
    val e = intercept[IllegalStateException] {
      Migrator.swapIn(fs, ghost, dstP)
    }
    assert(e.getMessage.contains("STRANDED"), e.getMessage)
    assert(!e.getMessage.contains("restored"),
      "must not claim a restoration that did not happen: " + e.getMessage)
    // the complete table IS at __old, exactly as the message says,
    // and the next remigrate's recovery heals it
    val oldP = new org.apache.hadoop.fs.Path(s"$dstP.__old")
    assert(spark.read.parquet(oldP.toString).count() == 3)
    Migrator.recoverSwap(hadoopFs(), dstP)
    assert(spark.read.parquet(dstP.toString).count() == 3)
  }

  test("remigrate refuses object-store destinations whose rename is " +
    "copy+delete (crash mid-swap would lose data silently)") {
    val fs = hadoopFs()
    for (p <- Seq("s3a://bucket/tbl.parquet", "gs://bucket/tbl.parquet")) {
      val e = intercept[IllegalStateException] {
        Migrator.swapIn(fs, new org.apache.hadoop.fs.Path(s"$p.__tmp"),
          new org.apache.hadoop.fs.Path(p))
      }
      assert(e.getMessage.contains("atomic"), e.getMessage)
    }
    // the local filesystem stays allowed (posix rename is atomic)
    Migrator.requireAtomicRename(fs,
      new org.apache.hadoop.fs.Path("/tmp/graft/tbl.parquet"))
  }

  test("SchemaDrift.widens follows the exact-value lattice only") {
    assert(SchemaDrift.widens(IntegerType, LongType))
    assert(SchemaDrift.widens(ByteType, IntegerType))
    assert(SchemaDrift.widens(FloatType, DoubleType))
    assert(SchemaDrift.widens(DecimalType(10, 2), DecimalType(12, 2)))
    assert(SchemaDrift.widens(DecimalType(10, 2), DecimalType(14, 4)))
    assert(SchemaDrift.widens(IntegerType, DecimalType(12, 2)))
    // NOT widenings: value-lossy or shape-changing moves
    assert(!SchemaDrift.widens(LongType, IntegerType))
    assert(!SchemaDrift.widens(LongType, DoubleType)) // rounds above 2^53
    assert(!SchemaDrift.widens(DoubleType, FloatType))
    assert(!SchemaDrift.widens(DecimalType(12, 2), DecimalType(12, 4)))
    assert(!SchemaDrift.widens(StringType, IntegerType))
    assert(!SchemaDrift.widens(LongType, DecimalType(18, 0))) // 19 digits
    assert(SchemaDrift.widens(LongType, DecimalType(19, 0)))
  }
}

class OrcSourceSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import graft.sources.OrcSource

  test("ORC round-trip is value-identical across every column type") {
    val src = Tables.load(spark, "/root/testdata/sf0.001", "lineitem")
    val path = Files.createTempDirectory("graft_orc").toString + "/li"
    OrcSource.write(src, path, bloomFor = Seq("l_orderkey"))
    val back = OrcSource.read(spark, path,
      Some(StructType(src.schema.fields.sortBy(_.name))))
    assert(back.count() == src.count())
    val key = Seq("l_orderkey", "l_linenumber")
    assert(back.orderBy(key.map(col): _*).collect().toSeq ==
      graft.ops.Transforms.sortedColumns(src)
        .orderBy(key.map(col): _*).collect().toSeq)
  }

  test("predicates push down to the ORC scan") {
    val src = Tables.load(spark, "/root/testdata/sf0.001", "lineitem")
    val path = Files.createTempDirectory("graft_orc_pf").toString + "/li"
    OrcSource.write(src, path)
    val plan = OrcSource.read(spark, path)
      .filter(col("l_orderkey") === 1L).select("l_quantity")
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(l_orderkey), EqualTo(l_orderkey,1)]"),
      s"ORC scan must receive the pushed predicate: $plan")
  }
}

class GraftAppSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  val dir = "/root/testdata/sf0.001"

  /** The run of `args` that produced `r`, repeated with `--dry`, names
    * each curation's output path under its table: the dry plan and the
    * run write the same paths. */
  private def assertDryPlans(args: Seq[String], r: GraftApp.Result): Unit = {
    val planned = GraftApp.run(spark, GraftApp.parse(args :+ "--dry"))
      .dryPlanned.flatMap(_.split(": ", 2).last.split(", ").toSeq)
      .map(_.split(" -> ", 2)).collect { case Array(t, paths) =>
        paths.split(" \\+ ").toSeq.map(t -> _) }.flatten.toSet
    assert(r.curations.nonEmpty)
    r.curations.foreach(cu => assert(planned(cu.table -> cu.outDir),
      s"--dry does not name ${cu.mode}'s ${cu.outDir}: $planned"))
  }

  test("parse maps reference-named options") {
    val c = GraftApp.parse(Seq(
      "--src-dir=/src", "--dst-dir=/dst", "--migrate-table",
      "--create-table-sql", "--src-tables=orders,region",
      "--column-skip=orders.o_comment,orders.o_clerk",
      "--src-tables-where-clauses=orders:o_orderkey > 5"))
    assert(c.srcDir == "/src" && c.migrateTable && c.createTableSql && !c.pumpData)
    assert(c.tables == Seq("orders", "region"))
    assert(c.columnSkip("orders").toSet == Set("o_comment", "o_clerk"))
    assert(c.whereClauses("orders") == "o_orderkey > 5")
  }

  test("unknown options and flags are rejected, not silently dropped") {
    // misspelled mode flag must not yield a successful no-op run
    val ex = intercept[IllegalArgumentException] {
      GraftApp.parse(Seq("--src-dir=/src", "--migrate-tabel"))
    }
    assert(ex.getMessage.contains("--migrate-tabel"))
    intercept[IllegalArgumentException] {
      GraftApp.parse(Seq("--src-dir=/src", "--dst-dirr=/x"))
    }
    intercept[IllegalArgumentException] {
      GraftApp.parse(Seq("--src-dir=/src", "stray-token"))
    }
  }

  test("live JDBC pump mode replicates a real database through the CLI surface") {
    val dbDir = java.nio.file.Files.createTempDirectory("graft_clijdbc").toString
    val url = s"jdbc:derby:$dbDir/db;create=true"
    val conn = java.sql.DriverManager.getConnection(url)
    try {
      val st = conn.createStatement()
      st.execute("CREATE TABLE ITEMS (ID BIGINT NOT NULL, NAME VARCHAR(32))")
      val ps = conn.prepareStatement("INSERT INTO ITEMS VALUES (?, ?)")
      for (i <- 0 until 25) { ps.setLong(1, i.toLong); ps.setString(2, s"n$i"); ps.addBatch() }
      ps.executeBatch()
    } finally conn.close()
    val dst = java.nio.file.Files.createTempDirectory("graft_clijdbc_out").toString
    // --src-wait off → AvailableNow: drain the table, then exit
    val c = GraftApp.parse(Seq(s"--src-dir=$dir", s"--dst-dir=$dst",
      s"--src-jdbc-url=$url", "--src-jdbc-table=APP.ITEMS",
      "--src-jdbc-key=ID",
      "--src-jdbc-driver=org.apache.derby.jdbc.EmbeddedDriver"))
    val res = GraftApp.run(spark, c)
    assert(res.pumpedStateDir.contains(s"$dst/_state"))
    val template = spark.read.format("jdbc").option("url", url)
      .option("dbtable", "APP.ITEMS")
      .option("driver", "org.apache.derby.jdbc.EmbeddedDriver").load()
    val state = graft.streaming.StreamingCdc.currentState(
      spark, s"$dst/_state", template)
    assert(state.count() == 25)
    // missing companion options fail fast
    intercept[IllegalArgumentException] {
      GraftApp.run(spark, GraftApp.Config(srcDir = dir, dstDir = dst,
        srcJdbcUrl = Some(url)))
    }
  }

  test("config file aggregates under the CLI: file run == CLI run, CLI overrides file") {
    val cfg = java.nio.file.Files.createTempFile("graft", ".conf")
    java.nio.file.Files.writeString(cfg,
      """# reference-style config file (clioptions.py:579-636 precedence)
        |[general]
        |src-dir = /src
        |dst-dir = /dst
        |src-tables = orders,region
        |column-skip = orders.o_comment,orders.o_clerk
        |src-tables-where-clauses = orders:o_orderkey > 5
        |migrate-table = yes
        |create-table-sql = true
        |pump-data = no
        |""".stripMargin)
    // a pure config-file run must equal the equivalent CLI run
    val fromFile = GraftApp.parse(Seq(s"--config=$cfg"))
    val fromCli = GraftApp.parse(Seq(
      "--src-dir=/src", "--dst-dir=/dst", "--migrate-table",
      "--create-table-sql", "--src-tables=orders,region",
      "--column-skip=orders.o_comment,orders.o_clerk",
      "--src-tables-where-clauses=orders:o_orderkey > 5"))
    assert(fromFile == fromCli)
    assert(fromFile.migrateTable && fromFile.createTableSql && !fromFile.pumpData)
    // CLI overrides file values key by key; file flags stay on
    val mixed = GraftApp.parse(Seq(s"--config=$cfg",
      "--src-dir=/cli-src", "--src-tables=nation"))
    assert(mixed.srcDir == "/cli-src" && mixed.tables == Seq("nation"))
    assert(mixed.dstDir == "/dst" && mixed.migrateTable)
    // unknown keys in the file fail fast, same as the CLI
    val bad = java.nio.file.Files.createTempFile("graft", ".conf")
    java.nio.file.Files.writeString(bad, "src-dirr = /x\n")
    val ex = intercept[IllegalArgumentException] {
      GraftApp.parse(Seq(s"--config=$bad"))
    }
    assert(ex.getMessage.contains("src-dirr"))
    // non-boolean flag values are an error, not silently truthy
    val badFlag = java.nio.file.Files.createTempFile("graft", ".conf")
    java.nio.file.Files.writeString(badFlag, "migrate-table = maybe\n")
    intercept[IllegalArgumentException] {
      GraftApp.parse(Seq(s"--config=$badFlag"))
    }
  }

  test("service surface: log/pid files, daemon cadence, install artifacts") {
    // parse recognizes the reference's process options
    // (clioptions.py:181-213, 299)
    val tmp = Files.createTempDirectory("graft_svc").toString
    val c = GraftApp.parse(Seq(s"--src-dir=$dir", s"--dst-dir=$tmp",
      s"--log-file=$tmp/g.log", "--log-level=warning",
      s"--pid-file=$tmp/g.pid", "--daemon"))
    assert(c.logFile.contains(s"$tmp/g.log") && c.logLevel.contains("warning"))
    assert(c.pidFile.contains(s"$tmp/g.pid") && c.daemon)
    // --daemon alone gets the reference's default pidfile
    // (clioptions.py:102); a plain run gets none
    assert(GraftApp.parse(Seq(s"--src-dir=$dir", "--daemon"))
      .pidFile.contains("/tmp/graft.pid"))
    assert(GraftApp.parse(Seq(s"--src-dir=$dir")).pidFile.isEmpty)
    // a bad level fails at parse time, not mid-run
    intercept[IllegalArgumentException] {
      GraftApp.parse(Seq(s"--src-dir=$dir", "--log-level=loud"))
    }
    // daemon implies the resident trigger even without --src-wait
    assert(GraftApp.stayUp(c) && !c.srcWait)
    assert(!GraftApp.stayUp(GraftApp.parse(Seq(s"--src-dir=$dir"))))
    // run writes the pid (this JVM's) and the Starting log line
    GraftApp.run(spark, c.copy(daemon = false))
    val pid = java.nio.file.Files.readString(
      java.nio.file.Paths.get(s"$tmp/g.pid")).trim
    assert(pid == ProcessHandle.current().pid().toString)
    val log = java.nio.file.Files.readString(
      java.nio.file.Paths.get(s"$tmp/g.log"))
    assert(log.contains(":INFO:Starting"))
  }

  test("install mode generates a systemd unit and a parseable example config") {
    val dst = Files.createTempDirectory("graft_install").toString
    // install needs no --src-dir, like the reference (main.py:57-73)
    val r = GraftApp.run(spark, GraftApp.parse(Seq(s"--dst-dir=$dst", "--install")))
    assert(r.installedFiles.length == 2)
    val Seq(unit, conf) = r.installedFiles
    val unitText = java.nio.file.Files.readString(java.nio.file.Paths.get(unit))
    assert(unitText.contains("ExecStart=spark-submit") &&
      unitText.contains("--daemon"))
    // the generated example must round-trip through our own parser —
    // a drifting example config is worse than none
    val (kv, flags) = GraftApp.parseConfigFile(conf)
    assert(kv("src-dir") == "/data/src" && flags("pump-data") && !flags("migrate-table"))
  }

  test("explicit tables and prefixes combine additively (union)") {
    val c = GraftApp.Config(srcDir = dir, dstDir = "/tmp/unused",
      tables = Seq("events"), tablePrefixes = Seq("doc"))
    assert(GraftApp.resolveTables(spark, c).toSet ==
      Set("events", "documents"))
  }

  test("create-table-sql mode emits DDL per table") {
    // CREATE DATABASE is opt-in (--with-create-database), matching
    // the reference default (clioptions.py:270-275)
    val r = GraftApp.run(spark, GraftApp.Config(
      srcDir = dir, dstDir = Files.createTempDirectory("graft_app1").toString,
      tables = Seq("region", "nation"), createTableSql = true))
    // 2 dialects x 2 tables, no database statement
    assert(r.ddl.length == 4)
    assert(r.ddl.forall(_.startsWith("CREATE TABLE")))
    val withDb = GraftApp.run(spark, GraftApp.Config(
      srcDir = dir, dstDir = Files.createTempDirectory("graft_app1b").toString,
      tables = Seq("region", "nation"), createTableSql = true,
      withCreateDatabase = true))
    assert(withDb.ddl.length == 5)
    assert(withDb.ddl.head.startsWith("CREATE DATABASE"))
    assert(GraftApp.parse(Seq(s"--src-dir=$dir", "--create-table-sql",
      "--with-create-database")).withCreateDatabase)
  }

  test("dst-jdbc-url migrates into a live JDBC destination with reconciliation") {
    val dbDir = java.nio.file.Files.createTempDirectory("graft_dstjdbc").toString
    val url = s"jdbc:derby:$dbDir/db;create=true"
    java.sql.DriverManager.getConnection(url).close() // materialize the db
    val r = GraftApp.run(spark, GraftApp.parse(Seq(
      s"--src-dir=$dir", "--src-tables=region", "--migrate-table",
      s"--dst-jdbc-url=$url",
      "--dst-jdbc-driver=org.apache.derby.jdbc.EmbeddedDriver",
      "--dst-table=REGION_DST")))
    assert(r.migrations.map(_.table) == Seq("region"))
    assert(r.migrations.head.reconciled && r.migrations.head.dstRows == 5)
    val back = spark.read.format("jdbc").option("url", url)
      .option("dbtable", "REGION_DST")
      .option("driver", "org.apache.derby.jdbc.EmbeddedDriver").load()
    assert(back.count() == 5)
  }

  test("csvpool-file-path-prefix overrides the CSV spill location") {
    val base = Files.createTempDirectory("graft_csvpfx").toString
    val r = GraftApp.run(spark, GraftApp.Config(
      srcDir = dir, dstDir = s"$base/unused", tables = Seq("region"),
      csvExport = true, csvPrefix = Some(s"$base/csvpool_")))
    assert(r.csvDirs == Seq(s"$base/csvpool_region"))
    assert(graft.sources.CsvSource.read(spark, s"$base/csvpool_region")
      .count() == 5)
  }

  test("template mode emits placeholder DDL; dst-create-table executes it") {
    val run = System.nanoTime()
    val r = GraftApp.run(spark, GraftApp.Config(
      srcDir = dir, dstDir = Files.createTempDirectory("graft_app_t").toString,
      db = s"graft_dst_$run", tables = Seq("region"),
      createTableTemplate = true, dstCreateTable = true))
    // D1: the template keeps the manual-edit placeholder
    assert(r.templates.length == 1)
    assert(r.templates.head.contains("<PRIMARY_DATE_FIELD>") ||
      r.templates.head.contains("PARTITION BY"))
    // D5 first half: the table now EXISTS in the session catalog
    assert(r.createdTables == Seq(s"graft_dst_$run.region"))
    assert(spark.catalog.tableExists(s"graft_dst_$run", "region"))
    // parse() accepts the reference-named flags
    val c = GraftApp.parse(Seq(s"--src-dir=$dir",
      "--create-table-sql-template", "--dst-create-table"))
    assert(c.createTableTemplate && c.dstCreateTable)
  }

  test("migrate mode migrates the resolved work list") {
    val dst = Files.createTempDirectory("graft_app2").toString
    val r = GraftApp.run(spark, GraftApp.Config(
      srcDir = dir, dstDir = dst, tables = Seq("region"), migrateTable = true))
    assert(r.migrations.map(_.table) == Seq("region"))
    assert(r.migrations.head.reconciled)
  }

  test("csvpool mode spills transformed tables as CSV") {
    val dst = Files.createTempDirectory("graft_appcsv").toString
    val r = GraftApp.run(spark, GraftApp.Config(
      srcDir = dir, dstDir = dst, tables = Seq("region"), csvExport = true))
    assert(r.csvDirs == Seq(s"$dst/csv/region"))
    val back = graft.sources.CsvSource.read(spark, s"$dst/csv/region")
    assert(back.count() == 5)
  }

  test("scd2 mode derives the history view through the CLI surface") {
    val dst = Files.createTempDirectory("graft_appscd").toString
    val args = Seq(s"--src-dir=$dir", s"--dst-dir=$dst",
      "--src-tables=events", "--scd2", "--scd2-value=event_type")
    val r = GraftApp.run(spark, GraftApp.parse(args))
    assert(r.curations.map(_.mode) == Seq("scd2"))
    assertDryPlans(args, r)
    val out = spark.read.parquet(s"$dst/events_history.parquet")
    val direct = graft.ops.Scd.scd2Intervals(
      graft.Tables.load(spark, dir, "events"),
      org.apache.spark.sql.functions.col("user_id"),
      org.apache.spark.sql.functions.col("event_type"),
      org.apache.spark.sql.functions.col("ts"),
      org.apache.spark.sql.functions.col("event_id"))
    assert(out.columns.toSeq ==
      Seq("key", "version", "value", "valid_from", "valid_to", "n_events"))
    assert(out.count() == direct.count() && out.except(direct).isEmpty,
      "CLI output must equal the library call")
    assert(r.curations.head.outRows == out.count())
  }

  test("ppl-filter mode drops the per-language tail bucket through the CLI surface") {
    val dst = Files.createTempDirectory("graft_appppl").toString
    val args = Seq(s"--src-dir=$dir", s"--dst-dir=$dst",
      "--src-tables=documents", "--ppl-filter", "--ppl-vocab=50",
      "--ppl-buckets=3", "--ppl-drop=tail")
    val r = GraftApp.run(spark, GraftApp.parse(args))
    assert(r.curations.map(_.mode) == Seq("ppl-filter"))
    assertDryPlans(args, r)
    val docs = graft.Tables.load(spark, dir, "documents")
    val buckets = graft.text.LanguageModel.perplexityBuckets(docs, v = 50)
    val wantIds = buckets
      .filter(org.apache.spark.sql.functions.col("bucket_name") =!= "tail")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val got = spark.read.parquet(s"$dst/documents_ppl.parquet")
    assert(got.select("doc_id").collect().map(_.getLong(0)).toSet == wantIds)
    assert(got.columns.toSeq == docs.columns.toSeq,
      "filter keeps the source schema, not the score columns")
    assert(r.curations.head.srcRows == docs.count() &&
      r.curations.head.outRows == wantIds.size)
  }

  test("dedup mode drops exact and near-dup copies through the CLI surface") {
    val dst = Files.createTempDirectory("graft_appdedup").toString
    val args = Seq(s"--src-dir=$dir", s"--dst-dir=$dst",
      "--src-tables=documents", "--dedup", "--dedup-k=3",
      "--dedup-jaccard=0.5")
    val r = GraftApp.run(spark, GraftApp.parse(args))
    assert(r.curations.map(_.mode) == Seq("dedup"))
    assertDryPlans(args, r)
    // the CLI result must equal the library composition it fronts
    // (q46's head: exact keepers minus near-dup non-representatives)
    val docs = graft.Tables.load(spark, dir, "documents")
    val keepers = graft.dedup.Dedup.exactDedup(docs)
      .select(org.apache.spark.sql.functions.col("keeper_doc_id")
        .as("doc_id"))
    val losers = graft.dedup.Dedup.dupClusters(
        graft.dedup.Dedup.jaccardPairs(docs, k = 3, threshold = 0.5))
      .filter(org.apache.spark.sql.functions.col("doc_id") =!=
        org.apache.spark.sql.functions.col("cluster_id"))
      .select("doc_id")
    val wantIds = docs.join(keepers, Seq("doc_id"), "left_semi")
      .join(losers, Seq("doc_id"), "left_anti")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val got = spark.read.parquet(s"$dst/documents_dedup.parquet")
    assert(got.select("doc_id").collect().map(_.getLong(0)).toSet == wantIds)
    assert(got.columns.toSeq == docs.columns.toSeq,
      "dedup keeps the source schema")
    assert(r.curations.head.srcRows == docs.count() &&
      r.curations.head.outRows == wantIds.size)
    assert(wantIds.size < docs.count(),
      "the fixture's planted duplicates must actually drop")
  }

  test("contamination mode flags probe-overlapping rows through the CLI surface") {
    val dst = Files.createTempDirectory("graft_appcontam").toString
    // probes: every 100th document, materialized as a parquet dir
    val docs = graft.Tables.load(spark, dir, "documents")
    val probeDir = s"$dst/probes.parquet"
    docs.filter(org.apache.spark.sql.functions
      .pmod(org.apache.spark.sql.functions.col("doc_id"),
        org.apache.spark.sql.functions.lit(100)) === 0)
      .write.parquet(probeDir)
    val args = Seq(s"--src-dir=$dir", s"--dst-dir=$dst",
      "--src-tables=documents", s"--contamination=$probeDir",
      "--contamination-k=3")
    val r = GraftApp.run(spark, GraftApp.parse(args))
    assert(r.curations.map(_.mode) == Seq("contamination"))
    assertDryPlans(args, r)
    val want = graft.dedup.Dedup.contaminationScan(docs,
        spark.read.parquet(probeDir), k = 3)
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    val got = spark.read.parquet(s"$dst/documents_contamination.parquet")
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(got == want, "CLI scan must equal the library call")
    assert(want.nonEmpty, "the probe split must flag something")
    assert(r.curations.head.srcRows == docs.count() &&
      r.curations.head.outRows == want.size)
  }

  test("dedup and contamination appear in the dry plan, execute nothing") {
    val dst = Files.createTempDirectory("graft_drycur").toString + "/out"
    val r = GraftApp.run(spark, GraftApp.parse(Seq(
      s"--src-dir=$dir", s"--dst-dir=$dst", "--src-tables=documents",
      "--dedup", "--contamination=/nonexistent/probes", "--dry")))
    assert(r.curations.isEmpty)
    assert(r.dryPlanned.exists(_.startsWith(
      s"dedup: documents -> $dst/documents_dedup.parquet")))
    assert(r.dryPlanned.exists(_.startsWith(
      s"contamination: documents -> $dst/documents_contamination.parquet")))
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(dst)))
  }

  test("semdedup mode keeps semantic representatives through the CLI surface") {
    val dst = Files.createTempDirectory("graft_appsemdedup").toString
    val args = Seq(s"--src-dir=$dir", s"--dst-dir=$dst",
      "--src-tables=embeddings", "--semdedup", "--semdedup-clusters=8",
      "--semdedup-iters=2", "--semdedup-min-cos=0.4")
    val r = GraftApp.run(spark, GraftApp.parse(args))
    assert(r.curations.map(_.mode) == Seq("semdedup"))
    assertDryPlans(args, r)
    // the CLI result must equal the library call it fronts (q107's
    // kept-representative set)
    val emb = graft.Tables.load(spark, dir, "embeddings")
    val wantIds = graft.vector.KMeans.semanticDedup(emb, k = 8, iters = 2,
        minCos = 0.4)
      .filter(org.apache.spark.sql.functions.col("kept") === 1)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val got = spark.read.parquet(s"$dst/embeddings_semdedup.parquet")
    assert(got.select("vec_id").collect().map(_.getLong(0)).toSet == wantIds)
    assert(got.columns.toSeq == emb.columns.toSeq,
      "semdedup keeps the source schema")
    assert(r.curations.head.srcRows == emb.count() &&
      r.curations.head.outRows == wantIds.size)
    assert(wantIds.size < emb.count(),
      "the fixture corpus must contain semantic near-dups at 0.4")
  }

  test("embed-contamination mode flags cosine-close rows through the CLI surface") {
    val dst = Files.createTempDirectory("graft_appembcon").toString
    val emb = graft.Tables.load(spark, dir, "embeddings")
    val probeDir = s"$dst/probes.parquet"
    emb.filter(org.apache.spark.sql.functions
      .pmod(org.apache.spark.sql.functions.col("vec_id"),
        org.apache.spark.sql.functions.lit(97)) === 0)
      .write.parquet(probeDir)
    val args = Seq(s"--src-dir=$dir", s"--dst-dir=$dst",
      "--src-tables=embeddings", s"--embed-contamination=$probeDir",
      "--embed-contamination-cos=0.25")
    val r = GraftApp.run(spark, GraftApp.parse(args))
    assert(r.curations.map(_.mode) == Seq("embed-contamination"))
    assertDryPlans(args, r)
    val want = graft.vector.VectorSearch.embeddingContamination(emb,
        spark.read.parquet(probeDir), threshold = 0.25)
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    val got = spark.read.parquet(s"$dst/embeddings_embed_contamination.parquet")
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(got == want, "CLI scan must equal the library call")
    assert(want.nonEmpty, "the probe split must flag something")
    assert(r.curations.head.srcRows == emb.count() &&
      r.curations.head.outRows == want.size)
  }

  test("ann-recall mode reports recall@k of a lossy index via the CLI") {
    val dst = Files.createTempDirectory("graft_appannrec").toString
    val args = Seq(s"--src-dir=$dir", s"--dst-dir=$dst",
      "--src-tables=embeddings", "--ann-recall=int8", "--ann-k=10",
      "--ann-queries=100")
    val r = GraftApp.run(spark, GraftApp.parse(args))
    assert(r.curations.map(_.mode) == Seq("ann-recall-int8"))
    assertDryPlans(args, r)
    val emb = graft.Tables.load(spark, dir, "embeddings")
    val qs = emb.filter(org.apache.spark.sql.functions
      .pmod(org.apache.spark.sql.functions.col("vec_id"),
        org.apache.spark.sql.functions.lit(100)) === 0)
    val want = graft.vector.Eval.recallAtK(
        graft.vector.VectorSearch.bruteForceTopK(emb, qs, k = 10),
        graft.vector.VectorSearch.int8TopK(emb, qs, k = 10), k = 10)
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    val got = spark.read.parquet(s"$dst/embeddings_ann_recall_int8.parquet")
    val gotMap = got.select("query_id", "hits")
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(gotMap == want, "CLI recall must equal the library evaluator")
    assert(r.curations.head.srcRows == qs.count() &&
      r.curations.head.outRows == want.size)
  }

  test("overlap-report and novelty-report modes equal their library calls") {
    val dst = Files.createTempDirectory("graft_appreports").toString
    val args = Seq(s"--src-dir=$dir", s"--dst-dir=$dst",
      "--src-tables=documents", "--overlap-report", "--novelty-report",
      "--dedup-k=3")
    val r = GraftApp.run(spark, GraftApp.parse(args))
    assert(r.curations.map(_.mode).sorted ==
      Seq("novelty-report", "overlap-report"))
    assertDryPlans(args, r)
    val docs = graft.Tables.load(spark, dir, "documents")
    val wantOverlap = graft.dedup.Dedup.sourceOverlap(docs, k = 3)
      .collect().map(x => (x.getString(0), x.getString(1)) ->
        (x.getLong(2), x.getLong(3), x.getLong(4))).toMap
    val gotOverlap = spark.read
      .parquet(s"$dst/documents_overlap.parquet")
      .collect().map(x => (x.getString(0), x.getString(1)) ->
        (x.getLong(2), x.getLong(3), x.getLong(4))).toMap
    assert(gotOverlap == wantOverlap && wantOverlap.nonEmpty)
    val wantNovelty = graft.dedup.Dedup.ngramNovelty(docs, k = 3)
      .collect().map(x => x.getLong(0) -> x.getLong(2)).toMap
    val gotNovelty = spark.read
      .parquet(s"$dst/documents_novelty.parquet")
      .collect().map(x => x.getLong(0) -> x.getLong(2)).toMap
    assert(gotNovelty == wantNovelty && wantNovelty.nonEmpty)
    val byMode = r.curations.map(cur => cur.mode -> cur).toMap
    assert(byMode("overlap-report").srcRows == docs.count() &&
      byMode("overlap-report").outRows == wantOverlap.size)
    assert(byMode("novelty-report").srcRows == docs.count() &&
      byMode("novelty-report").outRows == wantNovelty.size)
  }

  test("report modes appear in the dry plan, execute nothing") {
    val dst = Files.createTempDirectory("graft_dryreports").toString + "/out"
    val r = GraftApp.run(spark, GraftApp.parse(Seq(
      s"--src-dir=$dir", s"--dst-dir=$dst", "--src-tables=documents",
      "--overlap-report", "--novelty-report", "--agreement-report", "--dry")))
    assert(r.curations.isEmpty)
    assert(r.dryPlanned.exists(_.startsWith(
      s"overlap-report: documents -> $dst/documents_overlap.parquet")))
    assert(r.dryPlanned.exists(_.startsWith(
      s"novelty-report: documents -> $dst/documents_novelty.parquet")))
    assert(r.dryPlanned.exists(_.startsWith(
      s"agreement-report[lang vs langid(text)]: documents -> $dst/documents_agreement.parquet")))
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(dst)))
  }

  test("agreement-report mode equals the library call, honors --agreement-pred") {
    val dst = Files.createTempDirectory("graft_appagree").toString
    // default prediction: built-in langId over --text-col (q153 pairing)
    val args = Seq(s"--src-dir=$dir", s"--dst-dir=$dst",
      "--src-tables=documents", "--agreement-report")
    val r = GraftApp.run(spark, GraftApp.parse(args))
    assert(r.curations.map(_.mode) == Seq("agreement-report"))
    assertDryPlans(args, r)
    val docs = graft.Tables.load(spark, dir, "documents")
    val want = graft.ops.Agreement.classifierReport(docs, col("lang"),
        graft.text.TextAnalysis.langId(col("text"),
          graft.text.TextAnalysis.defaultProfiles))
      .collect().map(x => x.getString(0) ->
        (x.getLong(1), x.getLong(2), x.getLong(3), x.getDouble(8))).toMap
    val got = spark.read.parquet(s"$dst/documents_agreement.parquet")
      .collect().map(x => x.getString(0) ->
        (x.getLong(1), x.getLong(2), x.getLong(3), x.getDouble(8))).toMap
    assert(got == want && want.nonEmpty)
    assert(r.curations.head.srcRows == docs.count() &&
      r.curations.head.outRows == want.size)
    // --agreement-pred names a stored column: source-vs-lang agreement
    val r2 = GraftApp.run(spark, GraftApp.parse(Seq(s"--src-dir=$dir",
      s"--dst-dir=$dst", "--src-tables=documents", "--agreement-report",
      "--agreement-gold=lang", "--agreement-pred=source")))
    val want2 = graft.ops.Agreement.classifierReport(docs, col("lang"),
        col("source"))
      .collect().map(x => x.getString(0) -> x.getDouble(8)).toMap
    val got2 = spark.read.parquet(s"$dst/documents_agreement.parquet")
      .collect().map(x => x.getString(0) -> x.getDouble(8)).toMap
    assert(got2 == want2 && r2.curations.head.mode == "agreement-report")
  }

  test("agreement-report with a pred LIST runs the Fleiss panel") {
    val dst = Files.createTempDirectory("graft_appfleiss").toString
    // two predictions + gold = a 3-rater panel -> Fleiss' kappa
    val args = Seq(s"--src-dir=$dir", s"--dst-dir=$dst",
      "--src-tables=documents", "--agreement-report",
      "--agreement-gold=lang", "--agreement-pred=source,lang")
    val r = GraftApp.run(spark, GraftApp.parse(args))
    assertDryPlans(args, r)
    val docs = graft.Tables.load(spark, dir, "documents")
    val ratings = Seq(col("lang"), col("source"), col("lang"))
      .map(c0 => docs.select(col("doc_id").as("item"), c0.as("cls")))
      .reduce(_ unionByName _)
    val want = graft.ops.Agreement.fleissKappa(ratings,
        col("item"), col("cls"))
      .collect().map(x => x.getString(0) ->
        (x.getLong(1), x.getDouble(3), x.getDouble(4))).toMap
    val got = spark.read.parquet(s"$dst/documents_agreement.parquet")
      .collect().map(x => x.getString(0) ->
        (x.getLong(1), x.getDouble(3), x.getDouble(4))).toMap
    assert(got == want && want.nonEmpty)
    assert(r.curations.head.srcRows == docs.count(),
      "panel srcRows is the table row count, not 3x the union")
  }

  test("score-report mode equals the library calls, honors --score-col " +
      "and --score-positive") {
    val dst = Files.createTempDirectory("graft_appscore").toString
    // default: marker-hit score vs gold lang == 'en'
    val args = Seq(s"--src-dir=$dir", s"--dst-dir=$dst",
      "--src-tables=documents", "--score-report")
    val r = GraftApp.run(spark, GraftApp.parse(args))
    assert(r.curations.map(_.mode) == Seq("score-report"))
    assertDryPlans(args, r)
    val docs = graft.Tables.load(spark, dir, "documents")
    val hits = size(filter(graft.text.TextAnalysis.tokens(col("text")),
      t => t === "the" || t === "a"))
    val label = when(col("lang") === "en", lit(1L)).otherwise(lit(0L))
    val wantCurve = graft.ops.ScoreEval.rocCurve(docs, hits, label)
      .collect().map(x => x.getLong(0) ->
        (x.getLong(1), x.getLong(2), x.getDouble(5), x.getDouble(7))).toMap
    val gotCurve = spark.read.parquet(s"$dst/documents_roc.parquet")
      .collect().map(x => x.getLong(0) ->
        (x.getLong(1), x.getLong(2), x.getDouble(5), x.getDouble(7))).toMap
    assert(gotCurve == wantCurve && wantCurve.nonEmpty)
    val wantAuc = graft.ops.ScoreEval.rocAuc(docs, hits, label)
      .collect().head.getDouble(2)
    val wantAp = graft.ops.ScoreEval.averagePrecision(docs, hits, label)
      .collect().head.getDouble(2)
    val sum = spark.read.parquet(s"$dst/documents_score_summary.parquet")
      .collect().head
    assert(sum.getAs[Double]("auc") == wantAuc &&
      sum.getAs[Double]("ap") == wantAp)
    assert(r.curations.head.srcRows == docs.count() &&
      r.curations.head.outRows == wantCurve.size)
    // stored score column + a different positive class
    val r2 = GraftApp.run(spark, GraftApp.parse(Seq(s"--src-dir=$dir",
      s"--dst-dir=$dst", "--src-tables=documents", "--score-report",
      "--score-col=n_chars", "--score-positive=de")))
    val labelDe = when(col("lang") === "de", lit(1L)).otherwise(lit(0L))
    val want2 = graft.ops.ScoreEval.rocAuc(docs, col("n_chars"), labelDe)
      .collect().head.getDouble(2)
    val got2 = spark.read.parquet(s"$dst/documents_score_summary.parquet")
      .collect().head.getAs[Double]("auc")
    assert(got2 == want2 && r2.curations.head.mode == "score-report")
    // --dry plans the artifacts, executes nothing
    val dst3 = Files.createTempDirectory("graft_appscore_dry").toString + "/o"
    val r3 = GraftApp.run(spark, GraftApp.parse(Seq(s"--src-dir=$dir",
      s"--dst-dir=$dst3", "--src-tables=documents", "--score-report",
      "--dry")))
    assert(r3.curations.isEmpty)
    assert(r3.dryPlanned.exists(_.startsWith(
      s"score-report[marker_hits(text) vs lang=en]: documents -> " +
        s"$dst3/documents_roc.parquet")))
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(dst3)))
  }

  test("--score-classes routes the multiclass battery CLI == library; " +
    "float maps are largest-remainder quantized at the boundary") {
    val src = Files.createTempDirectory("graft_appcls_src").toString
    val dst = Files.createTempDirectory("graft_appcls_dst").toString
    // router fixture: raw double probabilities (deliberately
    // unnormalized — sums vary per row) + 3-class gold + the binary
    // score/label cols the plain --score-report faces need
    val routed = spark.range(200).select(
      col("id").as("doc_id"),
      concat(lit("c"), pmod(col("id"), lit(3L)).cast("string")).as("gold"),
      map(
        lit("c0"), (lit(1L) + pmod(col("id") * 7, lit(499L))) / lit(1237.0),
        lit("c1"), (lit(1L) + pmod(col("id") * 13, lit(401L))) / lit(1237.0),
        lit("c2"), (lit(1L) + pmod(col("id") * 29, lit(307L))) / lit(1237.0))
        .as("probs"),
      pmod(col("id"), lit(2L)).as("bin"))
    routed.write.parquet(s"$src/documents.parquet")
    val args = Seq(s"--src-dir=$src", s"--dst-dir=$dst",
      "--src-tables=documents", "--score-report",
      "--score-col=doc_id", "--score-label=bin",
      "--score-classes=probs", "--agreement-gold=gold")
    val r = GraftApp.run(spark, GraftApp.parse(args))
    assert(r.curations.map(_.mode) == Seq("score-report", "score-classes"))
    assertDryPlans(args, r)
    val conf = graft.ops.ScoreEval.quantizeMilli(col("probs"))
    val gold = col("gold").cast("string")
    def read(suffix: String) =
      spark.read.parquet(s"$dst/documents_class_$suffix.parquet")
    assert(read("auc").orderBy("cls").collect().toSeq ==
      graft.ops.ScoreEval.rocAucByClass(routed, conf, gold)
        .collect().toSeq)
    assert(read("ap").orderBy("cls").collect().toSeq ==
      graft.ops.ScoreEval.averagePrecisionByClass(routed, conf, gold)
        .collect().toSeq)
    assert(read("points").orderBy("cls", "thr").collect().toSeq ==
      graft.ops.ScoreEval.operatingPointsByClass(routed, conf, gold)
        .collect().toSeq)
    assert(read("calibration").orderBy("cls", "bin").collect().toSeq ==
      graft.ops.ScoreEval.calibrationByClass(routed, conf, gold)
        .collect().toSeq)
    assert(read("logloss").collect().toSeq ==
      graft.ops.ScoreEval.logLossMulti(routed, conf, gold)
        .collect().toSeq)
    assert(r.curations(1).srcRows == 200)
    // an integral map is passed through (and must already sum to 1000)
    val src2 = Files.createTempDirectory("graft_appcls_src2").toString
    val dst2 = Files.createTempDirectory("graft_appcls_dst2").toString
    val p0 = lit(1L) + pmod(col("id") * 7, lit(500L))
    val p1 = lit(1L) + pmod(col("id") * 13, lit(400L))
    val milli = spark.range(100).select(
      col("id").as("doc_id"),
      concat(lit("c"), pmod(col("id"), lit(3L)).cast("string")).as("gold"),
      map(lit("c0"), p0, lit("c1"), p1, lit("c2"), lit(1000L) - p0 - p1)
        .as("probs"),
      pmod(col("id"), lit(2L)).as("bin"))
    milli.write.parquet(s"$src2/documents.parquet")
    GraftApp.run(spark, GraftApp.parse(Seq(s"--src-dir=$src2",
      s"--dst-dir=$dst2", "--src-tables=documents", "--score-report",
      "--score-col=doc_id", "--score-label=bin",
      "--score-classes=probs", "--agreement-gold=gold")))
    assert(spark.read.parquet(s"$dst2/documents_class_auc.parquet")
        .orderBy("cls").collect().toSeq ==
      graft.ops.ScoreEval.rocAucByClass(milli, col("probs"), gold)
        .collect().toSeq)
    // a non-map --score-classes column is refused before any job runs
    val eBad = intercept[IllegalArgumentException] {
      GraftApp.run(spark, GraftApp.parse(Seq(s"--src-dir=$src",
        s"--dst-dir=$dst", "--src-tables=documents", "--score-report",
        "--score-col=doc_id", "--score-label=bin",
        "--score-classes=doc_id", "--agreement-gold=gold")))
    }
    assert(eBad.getMessage.contains("map"), eBad.getMessage)
    // --dry plans the battery without executing
    val dst3 = Files.createTempDirectory("graft_appcls_dry").toString + "/o"
    val r3 = GraftApp.run(spark, GraftApp.parse(Seq(s"--src-dir=$src",
      s"--dst-dir=$dst3", "--src-tables=documents", "--score-report",
      "--score-classes=probs", "--agreement-gold=gold", "--dry")))
    assert(r3.dryPlanned.exists(_.startsWith("score-classes[probs vs gold]")))
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(dst3)))
  }

  test("--pumps=classes: the monitor's router-audit leg drains to the " +
    "batch per-class AUC; the leg requires --score-classes") {
    val src = Files.createTempDirectory("graft_appclsp_src").toString
    val dst = Files.createTempDirectory("graft_appclsp_dst").toString
    val routed = spark.range(120).select(
      col("id").as("doc_id"),
      concat(lit("c"), pmod(col("id"), lit(3L)).cast("string")).as("gold"),
      map(
        lit("c0"), (lit(1L) + pmod(col("id") * 7, lit(499L))) / lit(1237.0),
        lit("c1"), (lit(1L) + pmod(col("id") * 13, lit(401L))) / lit(1237.0),
        lit("c2"), (lit(1L) + pmod(col("id") * 29, lit(307L))) / lit(1237.0))
        .as("probs"))
    routed.write.parquet(s"$src/documents.parquet")
    val args = Seq(s"--src-dir=$src", s"--dst-dir=$dst",
      "--src-tables=documents", "--pumps=classes",
      "--score-classes=probs", "--agreement-gold=gold")
    val r = GraftApp.run(spark, GraftApp.parse(args))
    assert(r.curations.map(_.mode) == Seq("monitor-classes"))
    assertDryPlans(args, r)
    val want = graft.ops.ScoreEval.rocAucByClass(routed,
      graft.ops.ScoreEval.quantizeMilli(col("probs")),
      col("gold").cast("string")).collect()
    val got = spark.read.parquet(s"$dst/documents_monitor_classes.parquet")
      .orderBy("cls").collect()
    assert(got.toSeq == want.toSeq && got.nonEmpty)
    // guard: the leg needs the map column named
    val e = intercept[IllegalArgumentException] {
      GraftApp.run(spark, GraftApp.parse(Seq(s"--src-dir=$src",
        s"--dst-dir=$dst", "--src-tables=documents", "--pumps=classes")))
    }
    assert(e.getMessage.contains("--score-classes"), e.getMessage)
  }

  test("remigrate mode evolves drift and merges by PK through the CLI surface") {
    import spark.implicits._
    val src = Files.createTempDirectory("graft_appremig_src").toString
    val dst = Files.createTempDirectory("graft_appremig_dst").toString
    Seq((0L, "ALGERIA", 0L), (1L, "ARGENTINA", 1L))
      .toDF("n_nationkey", "n_name", "n_regionkey")
      .write.parquet(s"$src/nation.parquet")
    // initial migration establishes the managed table
    GraftApp.run(spark, GraftApp.parse(Seq(s"--src-dir=$src",
      s"--dst-dir=$dst", "--src-tables=nation", "--migrate-table")))
    // source ALTERs: new column iso, regionkey stays; row 1 updated,
    // row 2 appended — re-migrate through the CLI with --pk-for
    Seq((1L, "ARGENTINA2", 1L, "AR"), (2L, "BRAZIL", 1L, "BR"))
      .toDF("n_nationkey", "n_name", "n_regionkey", "iso")
      .write.mode("overwrite").parquet(s"$src/nation.parquet")
    val r = GraftApp.run(spark, GraftApp.parse(Seq(s"--src-dir=$src",
      s"--dst-dir=$dst", "--src-tables=nation", "--remigrate",
      "--pk-for=nation:n_nationkey")))
    assert(r.remigrations.length == 1)
    val m = r.remigrations.head
    assert(m.addedColumns == Seq("iso") && m.widenedColumns.isEmpty)
    assert(m.retainedRows == 1 && m.incomingRows == 2 && m.dstRows == 3
      && m.reconciled, m)
    val rows = spark.read.parquet(s"$dst/nation.parquet")
      .orderBy("n_nationkey").collect()
      .map(x => (x.getLong(0), x.getString(1), Option(x.getString(3)))).toSeq
    assert(rows == Seq((0L, "ALGERIA", None),
      (1L, "ARGENTINA2", Some("AR")), (2L, "BRAZIL", Some("BR"))), rows)
  }

  test("remigrate mode refuses destructive drift with a non-zero exit path") {
    import spark.implicits._
    val src = Files.createTempDirectory("graft_appremig_bad").toString
    val dst = Files.createTempDirectory("graft_appremig_badout").toString
    Seq((0L, "ALGERIA", 0L)).toDF("n_nationkey", "n_name", "n_regionkey")
      .write.parquet(s"$src/nation.parquet")
    GraftApp.run(spark, GraftApp.parse(Seq(s"--src-dir=$src",
      s"--dst-dir=$dst", "--src-tables=nation", "--migrate-table")))
    // destructive drift: n_name dropped at the source
    Seq((1L, 1L)).toDF("n_nationkey", "n_regionkey")
      .write.mode("overwrite").parquet(s"$src/nation.parquet")
    // the run THROWS (main exits non-zero) naming the violation, and
    // the managed table is untouched
    val e = intercept[IllegalStateException] {
      GraftApp.run(spark, GraftApp.parse(Seq(s"--src-dir=$src",
        s"--dst-dir=$dst", "--src-tables=nation", "--remigrate",
        "--pk=n_nationkey")))
    }
    assert(e.getMessage.contains("n_name dropped"), e.getMessage)
    assert(spark.read.parquet(s"$dst/nation.parquet").count() == 1)
  }

  test("remigrate appears in the dry plan with its merge key, executes nothing") {
    import spark.implicits._
    val src = Files.createTempDirectory("graft_appremig_dry").toString
    val dst = Files.createTempDirectory("graft_appremig_dryout").toString + "/out"
    Seq((0L, "ALGERIA", 0L)).toDF("n_nationkey", "n_name", "n_regionkey")
      .write.parquet(s"$src/nation.parquet")
    val r = GraftApp.run(spark, GraftApp.parse(Seq(s"--src-dir=$src",
      s"--dst-dir=$dst", "--src-tables=nation", "--remigrate",
      "--pk=n_nationkey", "--dry")))
    assert(r.remigrations.isEmpty)
    assert(r.dryPlanned.exists(_.startsWith(
      s"remigrate: nation -> $dst/nation.parquet (merge on n_nationkey)")),
      r.dryPlanned)
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(dst)))
  }

  test("ann-recall rejects unknown variants at parse time") {
    val e = intercept[IllegalArgumentException] {
      GraftApp.parse(Seq("--src-dir=/x", "--dst-dir=/y",
        "--src-tables=embeddings", "--ann-recall=hnsw"))
    }
    assert(e.getMessage.contains("expected one of"), e.getMessage)
  }

  test("embedding curation modes appear in the dry plan, execute nothing") {
    val dst = Files.createTempDirectory("graft_dryemb").toString + "/out"
    val r = GraftApp.run(spark, GraftApp.parse(Seq(
      s"--src-dir=$dir", s"--dst-dir=$dst", "--src-tables=embeddings",
      "--semdedup", "--embed-contamination=/nonexistent/probes",
      "--ann-recall=pq", "--dry")))
    assert(r.curations.isEmpty)
    assert(r.dryPlanned.exists(_.startsWith(
      s"semdedup: embeddings -> $dst/embeddings_semdedup.parquet")))
    assert(r.dryPlanned.exists(_.startsWith(
      s"embed-contamination: embeddings -> $dst/embeddings_embed_contamination.parquet")))
    assert(r.dryPlanned.exists(_.startsWith(
      s"ann-recall[pq]: embeddings -> $dst/embeddings_ann_recall_pq.parquet")))
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(dst)))
  }

  test("empty --ppl-drop= is rejected, not a silent no-op filter") {
    val e = intercept[IllegalArgumentException] {
      GraftApp.parse(Seq("--src-dir=/x", "--dst-dir=/y",
        "--src-tables=documents", "--ppl-filter", "--ppl-drop="))
    }
    assert(e.getMessage.contains("names no tiers"))
  }

  test("debezium-feed mode pumps raw JSON envelopes into per-table state") {
    val dst = Files.createTempDirectory("graft_app_dbz").toString
    val events = Tables.load(spark, dir, "events")
    val feed = graft.cdc.ChangeFeed.fromEvents(events)
    val feedDir = s"$dst/dbz_feed"
    DebeziumTestFeed.toDebeziumJson(feed, events.schema, wrapped = false,
        db = "default", table = "events")
      .coalesce(1).write.mode("overwrite").text(feedDir)
    val r = GraftApp.run(spark, GraftApp.Config(
      srcDir = dir, dstDir = dst, tables = Seq("events"),
      debeziumFeed = Some(feedDir)))
    val template = events.withColumn("_ts_ms", lit(0L))
      .withColumn("_pos", lit(0L))
    val state = graft.streaming.StreamingCdc.currentState(spark,
      s"${r.pumpedStateDir.get}/default__events", template)
    val expected = graft.cdc.CdcApplier.replayCompact(feed,
      Seq("user_id"), Seq(col("ts"), col("event_id")))
    assert(state.count() == expected.count())
    assert(state.select("user_id", "event_id").except(
      expected.select("user_id", "event_id")).count() == 0)
  }

  test("pump mode drains the change feed into versioned state = batch replay") {
    val dst = Files.createTempDirectory("graft_app3").toString
    val r = GraftApp.run(spark, GraftApp.Config(
      srcDir = dir, dstDir = dst, pumpData = true))
    val stateDir = r.pumpedStateDir.get
    val state = graft.streaming.StreamingCdc.currentState(spark, stateDir,
      template = Tables.load(spark, dir, "events"))
    val expected = graft.cdc.CdcApplier.replayCompact(
      graft.cdc.ChangeFeed.fromEvents(Tables.load(spark, dir, "events")),
      Seq("user_id"), Seq(col("ts"), col("event_id")))
    assert(state.count() == expected.count())
    assert(state.select("user_id", "event_id").except(
      expected.select("user_id", "event_id")).count() == 0)
  }

  test("state inspection modes list versions and export a chosen one") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft_inspect").toString
    val template = Seq.empty[(String, Long)].toDF("k", "n")
    def fold(rows: (String, Long)*): Unit =
      graft.streaming.BucketStateStore.merge(rows.toDF("k", "n"),
        s"$root/state", Seq("k"), template, numBuckets = 2) { (s, b) =>
        s.unionByName(b).groupBy("k")
          .agg(org.apache.spark.sql.functions.sum("n").as("n"))
      }
    fold(("a", 1L)); fold(("a", 2L), ("b", 5L))
    // --state-versions: driver-only, no src-dir needed
    val c1 = GraftApp.parse(Seq("--state-versions", s"--state-dir=$root/state"))
    assert(GraftApp.run(spark, c1).stateVersionList == Seq(0L, 1L))
    // --state-export of a historical version round-trips that snapshot
    val out = s"$root/export"
    val c2 = GraftApp.parse(Seq(s"--state-export=$out",
      s"--state-dir=$root/state", "--state-version=0"))
    val r2 = GraftApp.run(spark, c2)
    assert(r2.stateExportDir.contains(out) && r2.stateExportRows.contains(1L))
    val got = spark.read.parquet(out).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    assert(got.toSeq == Seq(("a", 1L)))
    // default (no --state-version) exports the latest
    val r3 = GraftApp.run(spark, GraftApp.parse(
      Seq(s"--state-export=$root/export2", s"--state-dir=$root/state")))
    assert(r3.stateExportRows.contains(2L))
    // inspection without --state-dir fails loudly
    intercept[IllegalArgumentException] {
      GraftApp.run(spark, GraftApp.parse(Seq("--state-versions")))
    }
  }

  test("json-template mode emits the schema as JSON per table") {
    val r = GraftApp.run(spark, GraftApp.Config(
      srcDir = dir, dstDir = "/tmp/unused", tables = Seq("region"),
      createTableJson = true))
    assert(r.jsonTemplates.size == 1)
    val parsed = org.apache.spark.sql.types.DataType
      .fromJson(r.jsonTemplates.head)
      .asInstanceOf[org.apache.spark.sql.types.StructType]
    assert(parsed.fieldNames.contains("r_name"))
    assert(GraftApp.parse(Seq(s"--src-dir=$dir",
      "--create-table-json-template")).createTableJson)
  }

  test("dry mode resolves the work list and plans, but executes nothing") {
    val dst = Files.createTempDirectory("graft_dry").toString + "/out"
    val r = GraftApp.run(spark, GraftApp.parse(Seq(
      s"--src-dir=$dir", s"--dst-dir=$dst", "--src-tables=region",
      "--create-table-sql", "--migrate-table", "--csvpool", "--dry")))
    // driver-side DDL still produced; every executing mode skipped
    assert(r.ddl.nonEmpty)
    assert(r.migrations.isEmpty && r.csvDirs.isEmpty && r.createdTables.isEmpty)
    assert(r.dryPlanned.exists(_.startsWith("migrate-table")))
    assert(r.dryPlanned.exists(_.startsWith("csvpool")))
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(dst)),
      "dry run must not write the destination")
    // the plan names the path the spill would write: <prefix><table>
    // when the prefix is set
    val prefix = Files.createTempDirectory("graft_dry_csv").toString + "/pool_"
    val pr = GraftApp.run(spark, GraftApp.parse(Seq(
      s"--src-dir=$dir", s"--dst-dir=$dst", "--src-tables=region",
      "--csvpool", s"--csvpool-file-path-prefix=$prefix", "--dry")))
    assert(pr.dryPlanned.contains(s"csvpool: ${prefix}region"), pr.dryPlanned)
  }

  test("dst-table renames a single destination; dst-table-prefix maps the list") {
    val dst = Files.createTempDirectory("graft_dstname").toString
    val r = GraftApp.run(spark, GraftApp.parse(Seq(
      s"--src-dir=$dir", s"--dst-dir=$dst", "--src-tables=region",
      "--migrate-table", "--dst-table=region_renamed")))
    assert(r.migrations.head.reconciled)
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$dst/region_renamed.parquet")))
    assert(r.migrations.head.sparkDdl.contains("region_renamed"))
    val dst2 = Files.createTempDirectory("graft_dstpfx").toString
    val r2 = GraftApp.run(spark, GraftApp.parse(Seq(
      s"--src-dir=$dir", s"--dst-dir=$dst2", "--src-tables=region,nation",
      "--migrate-table", "--dst-table-prefix=ch_")))
    assert(r2.migrations.forall(_.reconciled))
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(s"$dst2/ch_region.parquet")))
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(s"$dst2/ch_nation.parquet")))
    // --dst-table over a multi-table work list is an error, not a
    // silent table-by-table overwrite of one destination
    intercept[IllegalArgumentException] {
      GraftApp.run(spark, GraftApp.Config(srcDir = dir, dstDir = dst2,
        tables = Seq("region", "nation"), migrateTable = true,
        dstTable = Some("one")))
    }
  }

  test("converter-class registers a classpath transform through the CLI") {
    val dst = Files.createTempDirectory("graft_conv").toString
    val r = GraftApp.run(spark, GraftApp.parse(Seq(
      s"--src-dir=$dir", s"--dst-dir=$dst", "--src-tables=region",
      "--migrate-table", "--converter-class=region:graft.LowerRegionConverter")))
    assert(r.migrations.head.reconciled)
    // TPC-H region names ship uppercase, so all-lowercase output
    // proves the registered transform actually ran
    val names = spark.read.parquet(s"$dst/region.parquet")
      .select("r_name").collect().map(_.getString(0))
    assert(names.nonEmpty && names.forall(n => n == n.toLowerCase && n.nonEmpty))
    // a missing class fails at startup, not mid-migration
    intercept[IllegalArgumentException] {
      GraftApp.run(spark, GraftApp.parse(Seq(
        s"--src-dir=$dir", s"--dst-dir=$dst", "--src-tables=region",
        "--migrate-table", "--converter-class=region:no.such.Cls")))
    }
    // a class that is not a DataFrame => DataFrame is rejected
    intercept[IllegalArgumentException] {
      graft.ops.Transforms.converterInstance("java.lang.Object")
    }
    // malformed table:class spec
    intercept[IllegalArgumentException] {
      GraftApp.parse(Seq(s"--src-dir=$dir", "--converter-class=regiononly"))
    }
  }

  test("binlog-position-file records progress; src-resume bootstraps a fresh pump from it") {
    val dbDir = java.nio.file.Files.createTempDirectory("graft_clipos").toString
    val url = s"jdbc:derby:$dbDir/db;create=true"
    val conn = java.sql.DriverManager.getConnection(url)
    def insert(from: Int, until: Int): Unit = {
      val c2 = java.sql.DriverManager.getConnection(url)
      try {
        val ps = c2.prepareStatement("INSERT INTO ITEMS VALUES (?, ?)")
        for (i <- from until until) { ps.setLong(1, i.toLong); ps.setString(2, s"n$i"); ps.addBatch() }
        ps.executeBatch()
      } finally c2.close()
    }
    try conn.createStatement()
      .execute("CREATE TABLE ITEMS (ID BIGINT NOT NULL, NAME VARCHAR(32))")
    finally conn.close()
    insert(0, 20)
    val pos = java.nio.file.Files.createTempDirectory("graft_pos").toString + "/pos"
    def pumpArgs(dst: String) = Seq(s"--src-dir=$dir", s"--dst-dir=$dst",
      s"--src-jdbc-url=$url", "--src-jdbc-table=APP.ITEMS",
      "--src-jdbc-key=ID",
      "--src-jdbc-driver=org.apache.derby.jdbc.EmbeddedDriver",
      s"--binlog-position-file=$pos")
    val dst1 = Files.createTempDirectory("graft_clipos1").toString
    GraftApp.run(spark, GraftApp.parse(pumpArgs(dst1)))
    // mysqlreader.py:356-360 analog: progress lands as keyCol:maxKey
    assert(java.nio.file.Files.readString(java.nio.file.Paths.get(pos)) == "ID:19")
    insert(20, 30)
    // a FRESH pump (new dstDir, no checkpoint) with --src-resume
    // bootstraps from the file: only 20..29 arrive
    val dst2 = Files.createTempDirectory("graft_clipos2").toString
    GraftApp.run(spark, GraftApp.parse(pumpArgs(dst2) :+ "--src-resume"))
    val template = spark.read.format("jdbc").option("url", url)
      .option("dbtable", "APP.ITEMS")
      .option("driver", "org.apache.derby.jdbc.EmbeddedDriver").load()
    val resumed = graft.streaming.StreamingCdc.currentState(
      spark, s"$dst2/_state", template)
    assert(resumed.count() == 10)
    assert(resumed.agg(org.apache.spark.sql.functions.min("ID"))
      .head().getLong(0) == 20L)
    assert(java.nio.file.Files.readString(java.nio.file.Paths.get(pos)) == "ID:29")
    // without --src-resume the file is write-only: a fresh pump
    // re-reads everything (the reference's src_resume gate)
    val dst3 = Files.createTempDirectory("graft_clipos3").toString
    GraftApp.run(spark, GraftApp.parse(pumpArgs(dst3)))
    assert(graft.streaming.StreamingCdc.currentState(
      spark, s"$dst3/_state", template).count() == 30)
    // unreadable position file + --src-resume starts from scratch
    assert(GraftApp.readPositionFile(GraftApp.Config(srcDir = dir,
      dstDir = "/tmp/x", positionFile = Some("/no/such/file"),
      srcResume = true)).isEmpty)
  }

  test("start-key and batch-pacing flags reach the live JDBC pump") {
    val dbDir = java.nio.file.Files.createTempDirectory("graft_clistart").toString
    val url = s"jdbc:derby:$dbDir/db;create=true"
    val conn = java.sql.DriverManager.getConnection(url)
    try {
      val st = conn.createStatement()
      st.execute("CREATE TABLE ITEMS (ID BIGINT NOT NULL, NAME VARCHAR(32))")
      val ps = conn.prepareStatement("INSERT INTO ITEMS VALUES (?, ?)")
      for (i <- 0 until 25) { ps.setLong(1, i.toLong); ps.setString(2, s"n$i"); ps.addBatch() }
      ps.executeBatch()
    } finally conn.close()
    val dst = Files.createTempDirectory("graft_clistart_out").toString
    val c = GraftApp.parse(Seq(s"--src-dir=$dir", s"--dst-dir=$dst",
      s"--src-jdbc-url=$url", "--src-jdbc-table=APP.ITEMS",
      "--src-jdbc-key=ID",
      "--src-jdbc-driver=org.apache.derby.jdbc.EmbeddedDriver",
      "--src-jdbc-start-key=9", "--max-rows-per-batch=5"))
    assert(c.srcJdbcStartKey.contains(9L) && c.maxRowsPerBatch.contains(5L))
    GraftApp.run(spark, c)
    val template = spark.read.format("jdbc").option("url", url)
      .option("dbtable", "APP.ITEMS")
      .option("driver", "org.apache.derby.jdbc.EmbeddedDriver").load()
    val state = graft.streaming.StreamingCdc.currentState(
      spark, s"$dst/_state", template)
    // bootstrap at key 9 skips IDs <= 9: exactly 10..24 arrive
    assert(state.count() == 15)
    assert(state.agg(org.apache.spark.sql.functions.min("ID"))
      .head().getLong(0) == 10L)
  }

  test("novelty-pump mode: drain equals batch novelty and a " +
    "kill-and-restart resumes onto the full answer") {
    val src = Files.createTempDirectory("graft_appnovp_src").toString
    val dst = Files.createTempDirectory("graft_appnovp_dst").toString
    val docs = graft.Tables.load(spark, dir, "documents")
      .select(col("doc_id"), col("text"), col("lang"), col("source"),
        col("n_chars"))
    // phase 1: only the odd half of the corpus exists in the source
    docs.filter(col("doc_id") % 2 === 1).coalesce(1)
      .write.parquet(s"$src/documents.parquet")
    val args = Seq(s"--src-dir=$src", s"--dst-dir=$dst",
      "--src-tables=documents", "--pumps=novelty", "--dedup-k=3")
    val r1 = GraftApp.run(spark, GraftApp.parse(args))
    assert(r1.curations.map(_.mode) == Seq("monitor-novelty"))
    assertDryPlans(args, r1)
    val oddDocs = docs.filter(col("doc_id") % 2 === 1)
    val wantHalf = graft.dedup.Dedup.ngramNovelty(oddDocs, k = 3)
      .orderBy("doc_id").collect()
    val gotHalf = spark.read.parquet(s"$dst/documents_monitor_novelty.parquet")
      .orderBy("doc_id").collect()
    assert(gotHalf.toSeq == wantHalf.toSeq,
      "drained pump report equals batch novelty over what arrived")
    // the pump is DOWN (run returned); the crawl delivers more files
    docs.filter(col("doc_id") % 2 === 0).coalesce(1)
      .write.mode("append").parquet(s"$src/documents.parquet")
    // restart: same dst -> same checkpoint + state; processed files
    // are not re-read, the dictionary continues where it was
    val r2 = GraftApp.run(spark, GraftApp.parse(args))
    assert(r2.curations.map(_.mode) == Seq("monitor-novelty"))
    val want = graft.dedup.Dedup.ngramNovelty(docs, k = 3)
      .orderBy("doc_id").collect()
    val got = spark.read.parquet(s"$dst/documents_monitor_novelty.parquet")
      .orderBy("doc_id").collect()
    assert(got.toSeq == want.toSeq,
      "restarted pump must land on the full batch answer")
  }

  test("--vacuum-every/--vacuum-keep: resident runs default to a " +
    "cadence, drains default off, explicit dials win") {
    def cfg(extra: String*) =
      GraftApp.parse(Seq("--src-dir=/src") ++ extra)
    // drain-and-exit: no vacuum unless asked
    assert(GraftApp.vacuumCadence(cfg()) == 0)
    // resident (--daemon / --src-wait): default cadence ON
    assert(GraftApp.vacuumCadence(cfg("--daemon")) == 50)
    assert(GraftApp.vacuumCadence(cfg("--src-wait")) == 50)
    // explicit dial wins in both directions
    assert(GraftApp.vacuumCadence(cfg("--daemon", "--vacuum-every=7")) == 7)
    assert(GraftApp.vacuumCadence(cfg("--daemon", "--vacuum-every=0")) == 0)
    assert(GraftApp.vacuumCadence(cfg("--vacuum-every=3")) == 3)
    assert(cfg("--vacuum-keep=2").vacuumKeep == 2)
    assert(cfg().vacuumKeep == 4)
    intercept[IllegalArgumentException](cfg("--vacuum-every=-1"))
    intercept[IllegalArgumentException](cfg("--vacuum-keep=0"))
    intercept[IllegalArgumentException](cfg("--vacuum-every=soon"))
  }

  test("--vacuum-every wires through to a long-run pump: the version " +
    "count lands at the retention, the answer untouched") {
    val src = Files.createTempDirectory("graft_appvac_src").toString
    val dst = Files.createTempDirectory("graft_appvac_dst").toString
    val docs = graft.Tables.load(spark, dir, "documents")
    // 8 files = 8 micro-batches of the pump's file stream
    (0 to 7).foreach(i => docs.filter(col("doc_id") % 8 === i).coalesce(1)
      .write.mode("append").parquet(s"$src/documents.parquet"))
    val args = Seq(s"--src-dir=$src", s"--dst-dir=$dst",
      "--src-tables=documents", "--pumps=score", "--vacuum-every=1",
      "--vacuum-keep=1")
    val r = GraftApp.run(spark, GraftApp.parse(args))
    assert(r.curations.map(_.mode) == Seq("monitor-score"))
    assertDryPlans(args, r)
    val versions = graft.streaming.BucketStateStore
      .availableVersions(spark, s"$dst/documents_monitor_state/score/score")
    assert(versions.size == 1,
      s"--vacuum-keep=1 must leave exactly the live version, kept $versions")
    val score = size(filter(graft.text.TextAnalysis.tokens(col("text")),
      t => t === "the" || t === "a"))
    val label = when(col("lang") === "en", lit(1L)).otherwise(lit(0L))
    assert(spark.read.parquet(s"$dst/documents_monitor_score.parquet")
        .collect().toSeq ==
      graft.ops.ScoreEval.rocAuc(docs, score, label).collect().toSeq)
  }

  test("contamination-pump and agreement-pump modes equal their batch " +
    "library calls through the CLI surface") {
    val dst = Files.createTempDirectory("graft_apppumps").toString
    val probeDir = Files.createTempDirectory("graft_apppumps_probe").toString
    val docs = graft.Tables.load(spark, dir, "documents")
    val probes = docs.filter(col("doc_id") % 100 === 0)
    probes.write.mode("overwrite").parquet(probeDir)
    val args = Seq(s"--src-dir=$dir", s"--dst-dir=$dst",
      "--src-tables=documents", "--pumps=contamination,agreement",
      s"--probe-dir=$probeDir", "--contamination-k=3",
      "--agreement-gold=lang")
    val r = GraftApp.run(spark, GraftApp.parse(args))
    assert(r.curations.map(_.mode).sorted ==
      Seq("monitor-agreement", "monitor-contamination"))
    assertDryPlans(args, r)
    // contamination: the pump grades the WHOLE table against the
    // probes (probe rows included — they trivially self-hit), exactly
    // like the batch scan over the same inputs
    val wantContam = graft.dedup.Dedup.contaminationScan(docs, probes, k = 3)
      .orderBy("doc_id").collect()
    val gotContam = spark.read
      .parquet(s"$dst/documents_monitor_contamination.parquet")
      .orderBy("doc_id").collect()
    assert(gotContam.toSeq == wantContam.toSeq && gotContam.nonEmpty)
    // agreement: default labeler is the built-in langId over --text-col
    val wantAgree = graft.ops.Agreement.classifierReport(docs, col("lang"),
        graft.text.TextAnalysis.langId(col("text"),
          graft.text.TextAnalysis.defaultProfiles)).collect()
    val gotAgree = spark.read
      .parquet(s"$dst/documents_monitor_agreement.parquet")
      .orderBy("cls").collect()
    assert(gotAgree.toSeq == wantAgree.toSeq)
    // a labeler PANEL has no pairwise census — refused loudly
    val e = intercept[IllegalArgumentException] {
      GraftApp.run(spark, GraftApp.parse(Seq(s"--src-dir=$dir",
        s"--dst-dir=${Files.createTempDirectory("graft_apppanel")}",
        "--src-tables=documents", "--pumps=agreement",
        "--agreement-pred=source,lang")))
    }
    assert(e.getMessage.contains("ONE labeler"), e.getMessage)
  }

  test("curation pump modes show up in --dry planning") {
    val dst = Files.createTempDirectory("graft_apppumpdry").toString
    val r = GraftApp.run(spark, GraftApp.parse(Seq(s"--src-dir=$dir",
      s"--dst-dir=$dst", "--src-tables=documents",
      "--pumps=novelty,contamination,agreement,score", "--probe-dir=/probes",
      "--dry")))
    assert(r.dryPlanned.exists(_.startsWith(
      s"monitor-novelty: documents -> $dst/documents_monitor_state/agreement-contamination-novelty-score/novelty")))
    assert(r.dryPlanned.exists(_.startsWith(
      s"monitor-contamination: documents -> $dst/documents_monitor_state/agreement-contamination-novelty-score/contamination")))
    assert(r.dryPlanned.exists(_.startsWith(
      s"monitor-agreement[lang vs langid(text)]: documents -> $dst/documents_monitor_state/agreement-contamination-novelty-score/agreement")))
    assert(r.dryPlanned.exists(_.startsWith(
      s"monitor-score[marker_hits(text) vs lang=en]: documents -> $dst/documents_monitor_state/agreement-contamination-novelty-score/score")))
    assert(r.curations.isEmpty, "--dry must not start any pump")
  }

  test("vocab-report and drift-report modes equal their library calls " +
    "and honor their option dials") {
    val dst = Files.createTempDirectory("graft_appvocabdrift").toString
    val docs = graft.Tables.load(spark, dir, "documents")
    val args = Seq(s"--src-dir=$dir", s"--dst-dir=$dst",
      "--src-tables=documents", "--vocab-report", "--drift-report")
    val r = GraftApp.run(spark, GraftApp.parse(args))
    assert(r.curations.map(_.mode).sorted ==
      Seq("drift-report", "vocab-report"))
    assertDryPlans(args, r)
    val wantVocab = graft.text.Vocab.vocabCoverage(docs, col("source"))
      .collect()
    val gotVocab = spark.read.parquet(s"$dst/documents_vocab.parquet")
      .orderBy("grp").collect()
    assert(gotVocab.toSeq == wantVocab.toSeq && gotVocab.nonEmpty)
    // default drift split: n_chars, source='src0' vs the rest
    val wantDrift = graft.ops.ScoreEval.ksTest(docs, col("n_chars"),
      when(col("source") === "src0", lit(1L)).otherwise(lit(0L))).collect()
    val gotDrift = spark.read.parquet(s"$dst/documents_drift.parquet")
      .collect()
    assert(gotDrift.toSeq == wantDrift.toSeq)
    // dials: --drift-col and --drift-group-val move the split
    val dst2 = Files.createTempDirectory("graft_appdrift2").toString
    GraftApp.run(spark, GraftApp.parse(Seq(s"--src-dir=$dir",
      s"--dst-dir=$dst2", "--src-tables=documents", "--drift-report",
      "--drift-col=doc_id", "--drift-group-val=src1")))
    val want2 = graft.ops.ScoreEval.ksTest(docs, col("doc_id"),
      when(col("source") === "src1", lit(1L)).otherwise(lit(0L))).collect()
    val got2 = spark.read.parquet(s"$dst2/documents_drift.parquet")
      .collect()
    assert(got2.toSeq == want2.toSeq)
    // --dry plans both and executes nothing
    val dst3 = Files.createTempDirectory("graft_appvddry").toString
    val r3 = GraftApp.run(spark, GraftApp.parse(Seq(s"--src-dir=$dir",
      s"--dst-dir=$dst3", "--src-tables=documents",
      "--vocab-report", "--drift-report", "--dry")))
    assert(r3.dryPlanned.exists(_.startsWith(
      s"vocab-report[source]: documents -> $dst3/documents_vocab.parquet")))
    assert(r3.dryPlanned.exists(_.startsWith(
      s"drift-report[n_chars, source=src0 vs rest]: documents -> " +
        s"$dst3/documents_drift.parquet")))
    assert(r3.curations.isEmpty)
  }

  test("drift-pump mode equals the batch ksTest through the CLI surface") {
    val dst = Files.createTempDirectory("graft_appdriftpump").toString
    val docs = graft.Tables.load(spark, dir, "documents")
    val args = Seq(s"--src-dir=$dir", s"--dst-dir=$dst",
      "--src-tables=documents", "--pumps=drift")
    val r = GraftApp.run(spark, GraftApp.parse(args))
    assert(r.curations.map(_.mode) == Seq("monitor-drift"))
    assertDryPlans(args, r)
    val want = graft.ops.ScoreEval.ksTest(docs, col("n_chars"),
      when(col("source") === "src0", lit(1L)).otherwise(lit(0L))).collect()
    val got = spark.read.parquet(s"$dst/documents_monitor_drift.parquet")
      .collect()
    assert(got.toSeq == want.toSeq)
    // --dry plans the state dir and starts nothing
    val dst2 = Files.createTempDirectory("graft_appdriftpumpdry").toString
    val r2 = GraftApp.run(spark, GraftApp.parse(Seq(s"--src-dir=$dir",
      s"--dst-dir=$dst2", "--src-tables=documents", "--pumps=drift",
      "--dry")))
    assert(r2.dryPlanned.exists(_.startsWith(
      s"monitor-drift[n_chars, source=src0 vs rest]: documents -> " +
        s"$dst2/documents_monitor_state/drift/drift")))
    assert(r2.curations.isEmpty)
  }

  test("score-pump mode equals the batch rocAuc through the CLI surface") {
    val dst = Files.createTempDirectory("graft_appscorepump").toString
    val docs = graft.Tables.load(spark, dir, "documents")
    val args = Seq(s"--src-dir=$dir", s"--dst-dir=$dst",
      "--src-tables=documents", "--pumps=score")
    val r = GraftApp.run(spark, GraftApp.parse(args))
    assert(r.curations.map(_.mode) == Seq("monitor-score"))
    assertDryPlans(args, r)
    // default score/label: built-in marker hits vs gold lang == 'en' —
    // the same defaults --score-report grades in batch
    val score = size(filter(graft.text.TextAnalysis.tokens(col("text")),
      t => t === "the" || t === "a"))
    val label = when(col("lang") === "en", lit(1L)).otherwise(lit(0L))
    val want = graft.ops.ScoreEval.rocAuc(docs, score, label).collect()
    val got = spark.read.parquet(s"$dst/documents_monitor_score.parquet")
      .collect()
    assert(got.toSeq == want.toSeq)
    assert(got.head.getDouble(2) > 0.0, "fixture must separate the classes")
  }

  test("--pumps=novelty then --pumps=score on one dst: each leg set keeps " +
    "its own checkpoint, so the score census covers the whole table") {
    val dst = Files.createTempDirectory("graft_appsequential").toString
    val docs = graft.Tables.load(spark, dir, "documents")
    def args(legs: String) = Seq(s"--src-dir=$dir", s"--dst-dir=$dst",
      "--src-tables=documents", s"--pumps=$legs")
    val r1 = GraftApp.run(spark, GraftApp.parse(args("novelty")))
    assert(r1.curations.map(_.mode) == Seq("monitor-novelty"))
    val r2 = GraftApp.run(spark, GraftApp.parse(args("score")))
    assert(r2.curations.map(_.mode) == Seq("monitor-score"))
    assertDryPlans(args("score"), r2)
    // the score census folds every row the novelty run already read
    val score = size(filter(graft.text.TextAnalysis.tokens(col("text")),
      t => t === "the" || t === "a"))
    val label = when(col("lang") === "en", lit(1L)).otherwise(lit(0L))
    assert(spark.read.parquet(s"$dst/documents_monitor_score.parquet")
        .collect().toSeq ==
      graft.ops.ScoreEval.rocAuc(docs, score, label).collect().toSeq)
    // the first leg set's census is untouched and still resumable
    assert(spark.read.parquet(s"$dst/documents_monitor_novelty.parquet")
        .orderBy("doc_id").collect().toSeq ==
      graft.dedup.Dedup.ngramNovelty(
          docs.select(col("doc_id"), col("text")), k = 3)
        .orderBy("doc_id").collect().toSeq)
  }

  test("--pumps monitor: ONE invocation folds every listed census and " +
    "each drained report equals its batch library twin") {
    val dst = Files.createTempDirectory("graft_appmonitor").toString
    val probeDir = Files.createTempDirectory("graft_appmonitor_probe")
      .toString
    val docs = graft.Tables.load(spark, dir, "documents")
    docs.filter(col("doc_id") % 100 === 0).write.mode("overwrite")
      .parquet(probeDir)
    val args = Seq(s"--src-dir=$dir", s"--dst-dir=$dst",
      "--src-tables=documents",
      "--pumps=novelty,contamination,agreement,score,drift,jsd",
      s"--probe-dir=$probeDir")
    val r = GraftApp.run(spark, GraftApp.parse(args))
    assertDryPlans(args, r)
    assert(r.curations.map(_.mode) == Seq("monitor-novelty",
      "monitor-contamination", "monitor-agreement", "monitor-score",
      "monitor-drift", "monitor-jsd"))
    assert(spark.read.parquet(s"$dst/documents_monitor_novelty.parquet")
        .orderBy("doc_id").collect().toSeq ==
      graft.dedup.Dedup.ngramNovelty(
          docs.select(col("doc_id"), col("text")), k = 3)
        .orderBy("doc_id").collect().toSeq)
    assert(spark.read
        .parquet(s"$dst/documents_monitor_contamination.parquet")
        .orderBy("doc_id").collect().toSeq ==
      graft.dedup.Dedup.contaminationScan(docs,
          docs.filter(col("doc_id") % 100 === 0), k = 3)
        .orderBy("doc_id").collect().toSeq)
    val gotAgree = spark.read
      .parquet(s"$dst/documents_monitor_agreement.parquet")
      .orderBy("cls").collect()
    val langPred = graft.text.TextAnalysis.langId(col("text"),
      graft.text.TextAnalysis.defaultProfiles)
    assert(gotAgree.toSeq == graft.ops.Agreement.classifierReport(docs,
      col("lang"), langPred).collect().toSeq)
    // the report's R_K column equals the standalone metric on BOTH
    // faces: the pump's durable census here, the batch face below
    val wantMcc = graft.ops.Agreement.matthewsCorrelation(docs,
      col("lang"), langPred).collect().head.getAs[Double]("mcc")
    gotAgree.foreach(x => assert(x.getAs[Double]("mcc") == wantMcc))
    val score = size(filter(graft.text.TextAnalysis.tokens(col("text")),
      t => t === "the" || t === "a"))
    val label = when(col("lang") === "en", lit(1L)).otherwise(lit(0L))
    assert(spark.read.parquet(s"$dst/documents_monitor_score.parquet")
        .collect().toSeq ==
      graft.ops.ScoreEval.rocAuc(docs, score, label).collect().toSeq)
    assert(spark.read.parquet(s"$dst/documents_monitor_drift.parquet")
        .collect().toSeq ==
      graft.ops.ScoreEval.ksTest(docs, col("n_chars"),
        when(col("source") === "src0", lit(1L)).otherwise(lit(0L)))
        .collect().toSeq)
    assert(spark.read.parquet(s"$dst/documents_monitor_jsd.parquet")
        .orderBy("grp").collect().toSeq ==
      graft.text.Divergence.jsdFromMixture(docs, col("source"),
        col("text")).collect().toSeq)
    // ONE checkpoint and ONE state root on disk — not six of each
    assert(java.nio.file.Files.list(
        java.nio.file.Paths.get(s"$dst/_ckpt_monitor_documents"))
      .count() == 1)
    assert(java.nio.file.Files.list(
        java.nio.file.Paths.get(s"$dst/documents_monitor_state"))
      .count() == 1)
    assert(java.nio.file.Files.list(java.nio.file.Paths.get(
        s"$dst/documents_monitor_state/agreement-contamination-drift-jsd-novelty-score"))
      .count() == 6)
  }

  test("--pumps=ksmatrix,jsd,vocab: the drift-matrix leg and the vocab " +
    "FACE of the jsd census equal their batch twins; vocab adds no " +
    "second fold") {
    val dst = Files.createTempDirectory("graft_appmonitor2").toString
    val docs = graft.Tables.load(spark, dir, "documents")
    val args = Seq(s"--src-dir=$dir", s"--dst-dir=$dst",
      "--src-tables=documents", "--pumps=ksmatrix,jsd,vocab",
      "--drift-col=n_chars", "--overlap-group-col=source")
    val r = GraftApp.run(spark, GraftApp.parse(args))
    assertDryPlans(args, r)
    assert(r.curations.map(_.mode) == Seq("monitor-ksmatrix",
      "monitor-jsd", "monitor-vocab"))
    // the vocab record counts the jsd census it reads
    val stateRows = r.curations.map(x => x.mode -> x.srcRows).toMap
    assert(stateRows("monitor-vocab") == stateRows("monitor-jsd"),
      s"vocab reports the jsd census's state rows: $stateRows")
    assert(spark.read.parquet(s"$dst/documents_monitor_ksmatrix.parquet")
        .orderBy("grp").collect().toSeq ==
      graft.ops.ScoreEval.ksMatrix(docs, col("n_chars"), col("source"))
        .collect().toSeq)
    assert(spark.read.parquet(s"$dst/documents_monitor_vocab.parquet")
        .orderBy("grp").collect().toSeq ==
      graft.text.Vocab.vocabCoverage(docs, col("source"))
        .collect().toSeq)
    // vocab shares the jsd leg's state: two state dirs, not three
    assert(java.nio.file.Files.list(java.nio.file.Paths.get(
        s"$dst/documents_monitor_state/jsd-ksmatrix-vocab"))
      .count() == 2)
    // and vocab ALONE still folds the census itself
    val dst2 = Files.createTempDirectory("graft_appmonitor3").toString
    val r2 = GraftApp.run(spark, GraftApp.parse(Seq(s"--src-dir=$dir",
      s"--dst-dir=$dst2", "--src-tables=documents", "--pumps=vocab",
      "--overlap-group-col=source")))
    assert(r2.curations.map(_.mode) == Seq("monitor-vocab"))
    assert(r2.curations.head.srcRows > 0,
      "vocab alone counts the census it folds")
    assert(spark.read.parquet(s"$dst2/documents_monitor_vocab.parquet")
        .orderBy("grp").collect().toSeq ==
      graft.text.Vocab.vocabCoverage(docs, col("source"))
        .collect().toSeq)
  }

  test("--pumps monitor: embedding leg over an embeddings table") {
    val dst = Files.createTempDirectory("graft_appmonemb").toString
    val embs = graft.Tables.load(spark, dir, "embeddings")
    val args = Seq(s"--src-dir=$dir", s"--dst-dir=$dst",
      "--src-tables=embeddings", "--pumps=embedding",
      "--overlap-group-col=label")
    val r = GraftApp.run(spark, GraftApp.parse(args))
    assertDryPlans(args, r)
    assert(r.curations.map(_.mode) == Seq("monitor-embedding"))
    assert(spark.read
        .parquet(s"$dst/embeddings_monitor_embedding.parquet")
        .orderBy("grp").collect().toSeq ==
      graft.vector.VectorSearch.embeddingDrift(embs).collect().toSeq)
  }

  test("--pumps monitor: guards and --dry planning") {
    val dst = Files.createTempDirectory("graft_appmonguard").toString
    val e1 = intercept[IllegalArgumentException] {
      GraftApp.run(spark, GraftApp.parse(Seq(s"--src-dir=$dir",
        s"--dst-dir=$dst", "--src-tables=documents", "--pumps=bogus")))
    }
    assert(e1.getMessage.contains("unknown census legs"), e1.getMessage)
    val e2 = intercept[IllegalArgumentException] {
      GraftApp.run(spark, GraftApp.parse(Seq(s"--src-dir=$dir",
        s"--dst-dir=$dst", "--src-tables=documents",
        "--pumps=contamination")))
    }
    assert(e2.getMessage.contains("--probe-dir"), e2.getMessage)
    val e3 = intercept[IllegalArgumentException] {
      GraftApp.run(spark, GraftApp.parse(Seq(s"--src-dir=$dir",
        s"--dst-dir=$dst", "--src-tables=documents",
        "--pumps=score,score")))
    }
    assert(e3.getMessage.contains("duplicate"), e3.getMessage)
    val r = GraftApp.run(spark, GraftApp.parse(Seq(s"--src-dir=$dir",
      s"--dst-dir=$dst", "--src-tables=documents",
      "--pumps=score,drift", "--dry")))
    assert(r.dryPlanned.exists(_.startsWith(
      s"monitor-pump[score,drift]: documents -> " +
        s"$dst/documents_monitor_state/drift-score/{score,drift}")))
    assert(r.curations.isEmpty, "--dry must not start the monitor")
  }

  test("--dry plans every declared --pumps leg's state and report, " +
    "vocab on jsd's state; an unknown leg lists the declared ones") {
    val legs = Seq("novelty", "contamination", "agreement", "score", "drift",
      "ksmatrix", "jsd", "vocab", "embedding", "classes")
    val e = intercept[IllegalArgumentException](GraftApp.parse(Seq(
      s"--src-dir=$dir", "--dst-dir=/dst", "--src-tables=documents",
      "--pumps=bogus")))
    assert(e.getMessage.endsWith(s"(known: ${legs.sorted.mkString(",")})"),
      e.getMessage)
    // the classes leg resolves --score-classes against the table, so
    // the table carries a probability map
    val src = Files.createTempDirectory("graft_appalllegs_src").toString
    val dst = Files.createTempDirectory("graft_appalllegs_dst").toString
    spark.range(3).select(col("id").as("doc_id"),
        map(lit("c0"), lit(0.25), lit("c1"), lit(0.75)).as("probs"))
      .write.parquet(s"$src/documents.parquet")
    val r = GraftApp.run(spark, GraftApp.parse(Seq(s"--src-dir=$src",
      s"--dst-dir=$dst", "--src-tables=documents",
      s"--pumps=${legs.mkString(",")}", "--probe-dir=/probes",
      "--score-classes=probs", "--dry")))
    val root = s"$dst/documents_monitor_state/${legs.sorted.mkString("-")}"
    legs.foreach { leg =>
      val state = if (leg == "vocab") "jsd" else leg
      val paths = s": documents -> $root/$state + " +
        s"$dst/documents_monitor_$leg.parquet"
      assert(r.dryPlanned.exists(p => p.startsWith(s"monitor-$leg") &&
        p.endsWith(paths)), s"no --dry line for $leg: ${r.dryPlanned}")
    }
    assert(r.curations.isEmpty, "--dry must not start the monitor")
  }

  // every check across options fails --dry with the run's own message:
  // a plan must not promise a run that would be refused
  Seq(
    "an unknown --pumps leg" -> (Seq("--pumps=bogus"), "unknown census legs"),
    "a duplicate --pumps leg" -> (Seq("--pumps=score,score"), "duplicate"),
    "--pumps=contamination without --probe-dir" ->
      (Seq("--pumps=contamination"), "--probe-dir"),
    "--pumps=classes without --score-classes" ->
      (Seq("--pumps=classes"), "--score-classes"),
    "an agreement-leg labeler panel" ->
      (Seq("--pumps=agreement", "--agreement-pred=source,lang"), "ONE labeler"),
    "--scd2 without --scd2-value" -> (Seq("--scd2"), "--scd2-value"),
    "--src-jdbc-url without --src-jdbc-table" ->
      (Seq("--src-jdbc-url=jdbc:derby:memory:none", "--src-jdbc-key=ID"),
        "--src-jdbc-table"),
    "--src-jdbc-url without --src-jdbc-key" ->
      (Seq("--src-jdbc-url=jdbc:derby:memory:none", "--src-jdbc-table=APP.T"),
        "--src-jdbc-key"),
    "an unknown --ppl-drop tier" ->
      (Seq("--ppl-filter", "--ppl-drop=tail,bogus"), "unknown bucket name"),
    "--remigrate with no primary key" ->
      (Seq("--remigrate", "--pk="), "no primary key"),
    "--scd2 with no key column" ->
      (Seq("--scd2", "--scd2-value=text", "--pk="), "no key column"),
    "a non-map --score-classes column" ->
      (Seq("--score-report", "--score-classes=text"), "expected a map")
  ).foreach { case (what, (extra, text)) =>
    test(s"--dry refuses $what with the run's message") {
      val dst = Files.createTempDirectory("graft_dryrefuse").toString
      val args = Seq(s"--src-dir=$dir", s"--dst-dir=$dst",
        "--src-tables=documents") ++ extra
      val run = intercept[IllegalArgumentException](
        GraftApp.run(spark, GraftApp.parse(args)))
      assert(run.getMessage.contains(text), run.getMessage)
      val dry = intercept[IllegalArgumentException](
        GraftApp.run(spark, GraftApp.parse(args :+ "--dry")))
      assert(dry.getMessage == run.getMessage)
    }
  }

  test("run refuses a Config built without parse, --dry included") {
    val base = GraftApp.parse(Seq(s"--src-dir=$dir",
      s"--dst-dir=${Files.createTempDirectory("graft_cfgrefuse")}",
      "--src-tables=documents"))
    Seq(
      base.copy(pumps = Seq("bogus")) -> "unknown census legs",
      base.copy(pumps = Seq("agreement"),
        agreementPred = Some("source,lang")) -> "ONE labeler",
      base.copy(pplFilter = true, pplDrop = Seq("bogus")) ->
        "unknown bucket name",
      base.copy(scd2 = true) -> "--scd2-value",
      base.copy(annRecall = Some("bogus")) -> "--ann-recall=bogus"
    ).foreach { case (c, text) =>
      Seq(c, c.copy(dry = true)).foreach { cc =>
        val e = intercept[IllegalArgumentException](GraftApp.run(spark, cc))
        assert(e.getMessage.contains(text), e.getMessage)
      }
    }
  }

  test("agreement-report batch face carries the same R_K as the " +
    "standalone matthewsCorrelation") {
    val dst = Files.createTempDirectory("graft_appmcc").toString
    val docs = graft.Tables.load(spark, dir, "documents")
    GraftApp.run(spark, GraftApp.parse(Seq(s"--src-dir=$dir",
      s"--dst-dir=$dst", "--src-tables=documents", "--agreement-report",
      "--agreement-gold=lang", "--agreement-pred=source")))
    val want = graft.ops.Agreement.matthewsCorrelation(docs, col("lang"),
      col("source")).collect().head.getAs[Double]("mcc")
    val got = spark.read.parquet(s"$dst/documents_agreement.parquet")
      .collect()
    assert(got.nonEmpty)
    got.foreach(x => assert(x.getAs[Double]("mcc") == want,
      "batch --agreement-report must surface the standalone R_K"))
  }
}

/** `--converter-class` fixture: a no-arg classpath class implementing
  * `DataFrame => DataFrame`, the JVM analog of the reference's
  * dynamically imported converter (util.py:40-48).
  */
class LowerRegionConverter
    extends (org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame) {
  override def apply(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    df.withColumn("r_name", lower(col("r_name")))
}
