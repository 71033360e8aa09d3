package perfbench

import graft.SparkEntry
import graft.cdc.CdcApplier
import graft.migrate.Migrator
import graft.streaming.StreamingCdc
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.StreamingQuery

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.Files
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** JVM side of the benchmark. `run.py` generates the inputs, starts this
  * program with `key=value` arguments, feeds the CDC workloads' change
  * files while it runs, and turns `result.json` into metrics.
  *
  * Every workload has the same phases:
  *  1. setup: Spark session, then the workload's preparation step
  *     (CDC: bootstrap the state store);
  *  2. catch-up: the first pass over pre-written input in the fresh
  *     process (CDC: drain the change backlog; batch: a cold round);
  *  3. timed: `seconds` of steady work (CDC: the open-loop live feed;
  *     batch: back-to-back rounds);
  *  4. read: full scans of the result, one untimed then `reps` timed;
  *  5. outputs for the correctness checks, outside all timing.
  *
  * With `trace=1` a [[Trace]] collector records spans and per-scope
  * counts of every unit of the timed phase.
  */
object Harness {
  type Opts = Map[String, String]
  type Result = mutable.LinkedHashMap[String, Any]

  def main(args: Array[String]): Unit = {
    val o: Opts = args.map { a =>
      val i = a.indexOf('=')
      a.take(i) -> a.drop(i + 1)
    }.toMap
    val work = o("work")
    val res: Result = mutable.LinkedHashMap.empty
    val spark = session(o)
    phase("session")
    res("session_ms") = phases("session")
    res("spark_version") = spark.version
    res("jvm") = s"${sys.props("java.vm.name")} ${sys.props("java.runtime.version")}"
    val trace = if (o("trace") == "1") Some(new Trace(spark)) else None
    val code =
      try {
        o("workload") match {
          case "cdc_uniform" | "cdc_hot" => Cdc.run(spark, o, res, trace)
          case "migrate_curation"        => Batch.run(spark, o, res, trace)
          case w => throw new IllegalArgumentException(s"unknown workload $w")
        }
        0
      } catch {
        case e: Throwable =>
          e.printStackTrace()
          res("error") = s"${e.getClass.getName}: ${e.getMessage}"
          1
      }
    res("heap_peak_mb") = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / 1e6
    res("phase_end_ms") = phases
    trace.foreach(t => res("trace") = t.dump())
    Files.write(new File(work, "result.json").toPath,
      Json.write(res).getBytes(StandardCharsets.UTF_8))
    spark.stop()
    sys.exit(code)
  }

  def session(o: Opts): SparkSession = {
    val cores = o("cores")
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${o("work")}/spark-local")
      .config("spark.sql.warehouse.dir", s"${o("work")}/warehouse")
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  private val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
  private val phases = mutable.LinkedHashMap.empty[String, Double]

  /** Note that phase `name` ended now (ms since JVM start). */
  def phase(name: String): Unit =
    phases(name) = System.currentTimeMillis() - jvmStart

  def msOf[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e6)
  }

  def span[A](trace: Option[Trace], name: String, scope: String = "")(f: => A): A =
    trace.fold(f)(_.span(name, scope)(f))

  def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** Total bytes of the parquet data files under `path`. */
  def parquetBytes(path: String): Long = {
    val f = new File(path)
    if (f.isFile) { if (f.getName.endsWith(".parquet")) f.length else 0L }
    else Option(f.listFiles).toSeq.flatten.map(c => parquetBytes(c.getPath)).sum
  }

  /** Run `unit(i)` for i = 1, 2, ... once, and further while another
    * unit as long as the last one still fits in `seconds`; returns each
    * unit's wall time in ms.
    */
  def timedWindow(seconds: Double)(unit: Int => Unit): Seq[Double] = {
    val walls = mutable.ArrayBuffer.empty[Double]
    while (walls.isEmpty || walls.sum + walls.last <= seconds * 1000) {
      walls += msOf(unit(walls.size + 1))._2
    }
    walls.toSeq
  }
}

/** cdc_uniform / cdc_hot: the `orders` snapshot is bootstrapped into the
  * bucketed state store, a pre-written change backlog is drained, then
  * `StreamingCdc.start` runs back-to-back micro-batches over change files
  * that `run.py` writes on a fixed schedule.
  */
object Cdc {
  import Harness._

  val Pk = Seq("o_orderkey")
  val Order = Seq("_ts_ms", "_seq")

  def run(spark: SparkSession, o: Opts, res: Result, trace: Option[Trace]): Unit = {
    val work = o("work")
    val feed = s"$work/feed"
    val ckpt = s"$work/ckpt"
    val reps = o("reps").toInt
    val vacuumEvery = o("vacuum_every").toInt
    val snapshotDir = s"$work/snapshot"
    val snapshot = spark.read.parquet(snapshotDir)
    val template = snapshot.drop(CdcApplier.OpCol, CdcApplier.BeforePrefix + Pk.head)

    val stateDir = s"$work/state"
    // the pump's initial load: the snapshot as one insert batch, which
    // also warms the streaming path before the catch-up is timed
    res("bootstrap_ms") = msOf(span(trace, "setup.bootstrap") {
      StreamingCdc.start(spark.readStream.schema(snapshot.schema).parquet(snapshotDir),
        stateDir, s"$work/ckpt-bootstrap", Pk, Order, processingTime = None)
        .awaitTermination()
    })._2
    phase("setup")
    val changes = spark.readStream.schema(snapshot.schema).parquet(feed)

    val (catchup, catchupMs) = msOf(span(trace, "pump.catchup") {
      val q = StreamingCdc.start(changes, stateDir, ckpt, Pk, Order,
        processingTime = None, vacuumEvery = vacuumEvery)
      q.awaitTermination()
      q
    })
    res("catchup_ms") = catchupMs
    phase("catchup")

    trace.foreach { t => t.sampleStore(stateDir); t.attach() }
    val live = span(trace, "pump.live") {
      val q = StreamingCdc.start(changes, stateDir, ckpt, Pk, Order,
        processingTime = Some("0 seconds"), vacuumEvery = vacuumEvery)
      println(s"LIVE ${System.currentTimeMillis()}")
      System.out.flush()
      val done = new File(work, "feed_done")
      while (!done.exists() && q.isActive) Thread.sleep(20)
      phase("live")
      try q.processAllAvailable()
      finally q.stop()
      q
    }
    trace.foreach(_.detach())
    phase("drain")
    res("batches") = batches(catchup, "catchup") ++ batches(live, "live")
    res("batch_of_file") = batchOfFile(ckpt)

    res("vacuum_ms") = msOf(span(trace, "store.vacuum") {
      StreamingCdc.vacuum(spark, stateDir, keep = 2)
    })._2
    res("scan_ms") = (0 to reps).map { _ =>
      msOf(span(trace, "store.scan") {
        noop(StreamingCdc.currentState(spark, stateDir, template))
      })._2
    }.tail // the first scan warms the read path
    val (files, bytes) = StoreFiles.live(spark, stateDir)
    res("files_live") = files
    res("result_bytes") = bytes
    phase("read")

    StreamingCdc.currentState(spark, stateDir, template)
      .write.parquet(s"$work/out/state")
    val feedRows = spark.read.schema(snapshot.schema).parquet(feed)
    res("replay_ms") = msOf(span(trace, "apply.replay") {
      CdcApplier.replayCompact(snapshot.unionByName(feedRows), Pk, Order.map(col))
        .write.parquet(s"$work/out/replay")
    })._2
    phase("check")
    trace.foreach(t => t.progress.foreach { e =>
      val p = e.progress
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
      t.addSpan("pump.batch", s"batch:${p.batchId}", start,
        start + p.durationMs.get("triggerExecution").doubleValue)
    })
  }

  /** Micro-batches that read input, from the query's own progress. */
  private def batches(q: StreamingQuery, phase: String): Seq[Map[String, Any]] =
    q.recentProgress.toSeq.filter(_.numInputRows > 0).map { p =>
      Map("phase" -> phase, "batch" -> p.batchId,
        "start_ms" -> java.time.Instant.parse(p.timestamp).toEpochMilli,
        "duration_ms" -> p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap)
    }

  /** File name -> id of the micro-batch that read it, from the file
    * source's log in the checkpoint.
    */
  private def batchOfFile(ckpt: String): Map[String, Long] = {
    val PathRe = "\"path\":\"([^\"]+)\"".r
    val BatchRe = "\"batchId\":(\\d+)".r
    Option(new File(s"$ckpt/sources/0").listFiles).toSeq.flatten
      .filter(f => f.isFile && !f.getName.startsWith("."))
      .flatMap(f => Files.readAllLines(f.toPath).asScala)
      .flatMap { line =>
        for (p <- PathRe.findFirstMatchIn(line); b <- BatchRe.findFirstMatchIn(line))
          yield p.group(1).split('/').last -> b.group(1).toLong
      }.toMap
  }
}

/** migrate_curation: closed batch rounds. One round is
  * `Migrator.migrateAll` over eight tables (row counts reconciled)
  * followed by one pass of four curation queries of different shapes
  * through the noop sink. The first (cold) round writes each query's
  * output as parquet for the DuckDB oracle check. Timed rounds migrate
  * the tables one `migrateTable` call at a time, as `migrateAll` does,
  * so that each output's completion time is known.
  */
object Batch {
  import Harness._

  val Tables8 = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events")
  val Queries = Seq("q03_join_revenue", "q25_minhash_dedup",
    "q35_embedding_neardup", "q103_bpe_merges")

  def run(spark: SparkSession, o: Opts, res: Result, trace: Option[Trace]): Unit = {
    val src = o("data")
    val work = o("work")
    phase("setup")
    val tableRows = mutable.LinkedHashMap.empty[String, Long]
    val failures = mutable.ArrayBuffer.empty[String]

    def reconcile(ms: Seq[Migrator.TableMigration]): Unit = ms.foreach { m =>
      tableRows(m.table) = m.srcRows
      if (!m.reconciled) failures += s"${m.table}: src=${m.srcRows} dst=${m.dstRows}"
    }
    def query(q: String, round: Int, trace: Option[Trace])(sink: DataFrame => Unit): Unit =
      span(trace, "curation.query", s"query:$q#$round") {
        try sink(SparkEntry.queries(q)(spark, src))
        catch { case e: Exception =>
          failures += s"$q: ${e.getClass.getSimpleName}: ${e.getMessage}"
        }
      }
    def clear(): Unit = {
      spark.sqlContext.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
    }

    val coldMigrate = msOf(reconcile(
      Migrator.migrateAll(spark, src, s"$work/migrated0", Tables8)))._2
    val coldCuration = msOf(Queries.foreach { q =>
      query(q, 0, None)(_.write.mode("overwrite").parquet(s"$work/out/$q"))
    })._2
    clear()
    res("catchup_ms") = coldMigrate + coldCuration
    res("catchup_migrate_ms") = coldMigrate
    phase("catchup")
    Files.write(new File(work, "oracle_sql.json").toPath, Json.write(
      Queries.map(q => q -> SparkEntry.oracleSql(q)).toMap)
      .getBytes(StandardCharsets.UTF_8))

    // per round: each output's completion time after the round's start
    val outputs = mutable.ArrayBuffer.empty[Seq[Double]]
    trace.foreach(_.attach())
    val walls = timedWindow(o("seconds").toDouble) { i =>
      val t0 = System.nanoTime()
      def done(): Double = (System.nanoTime() - t0) / 1e6
      val tables = span(trace, "migrate.pass") {
        Tables8.map { t =>
          reconcile(Seq(span(trace, "migrate.table", s"table:$t#$i") {
            Migrator.migrateTable(spark, src, s"$work/migrated", t)
          }))
          done()
        }
      }
      outputs += tables ++ Queries.map { q => query(q, i, trace)(noop); done() }
      clear()
    }
    trace.foreach(_.detach())
    phase("timed")
    res("round_ms") = walls
    res("output_ms") = outputs.toSeq
    res("attempted") = (walls.size + 1) * (Tables8.size + Queries.size)
    res("failures") = failures.toSeq
    res("table_rows") = tableRows.toMap
    res("scan_ms") = (0 to o("reps").toInt).map { _ =>
      msOf(span(trace, "batch.scan") {
        Tables8.foreach(t => noop(spark.read.parquet(s"$work/migrated/$t.parquet")))
        Queries.foreach(q => noop(spark.read.parquet(s"$work/out/$q")))
      })._2
    }.tail // the first scan warms the read path
    phase("read")
    res("result_bytes") = Tables8.map(t => parquetBytes(s"$work/migrated/$t.parquet")).sum +
      Queries.map(q => parquetBytes(s"$work/out/$q")).sum
  }
}

/** Minimal JSON writer for the result file. */
object Json {
  def write(v: Any): String = v match {
    case null                 => "null"
    case s: String            => quote(s)
    case b: Boolean           => b.toString
    case d: Double            => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Number            => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + write(x) }.mkString("{", ",", "}")
    case s: Iterable[_]       => s.map(write).mkString("[", ",", "]")
    case x                    => quote(x.toString)
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"'  => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c    => b += c
    }
    b += '"'
    b.toString
  }
}
