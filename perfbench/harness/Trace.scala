package perfbench

import graft.streaming.BucketStateStore
import org.apache.hadoop.fs.Path
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Traced-run collector. Everything it sees comes from outside the
  * program: spans around the benchmark's own calls into each layer,
  * Spark's `SparkListener` and `StreamingQueryListener` events, and a
  * sampler that reads the state store's files after each publish.
  *
  * Spans and counts are kept in memory and written out when the run
  * ends. Work is grouped into scopes (one CDC micro-batch, one migrated
  * table, one curation query): a job belongs to the scope named by the
  * `perfbench.scope` local property of the thread that ran it, or, on a
  * streaming thread, to `batch:<id>`. Work outside any scope is not
  * counted.
  */
final class Trace(spark: SparkSession) {
  import Trace._

  final case class Span(id: Int, name: String, scope: String,
      startMs: Double, endMs: Double, parent: Int)

  private val spans = mutable.ArrayBuffer.empty[Span]
  private val open = mutable.Stack.empty[Int]
  private val counts = new ConcurrentHashMap[(String, String), Double]()
  private val nextId = new java.util.concurrent.atomic.AtomicInteger(0)

  def add(scope: String, name: String, v: Double): Unit =
    counts.merge((scope, name), v, (a: Double, b: Double) => a + b)

  private def record(s: Span): Unit = synchronized { spans += s }

  /** Time `f` as a span nested in the innermost open span of this
    * (single, harness) thread; sets the scope property for Spark jobs.
    */
  def span[A](name: String, scope: String = "")(f: => A): A = {
    val id = nextId.incrementAndGet()
    val parent = synchronized(open.headOption.getOrElse(0))
    synchronized(open.push(id))
    val sc = spark.sparkContext
    val prevScope = sc.getLocalProperty(ScopeKey)
    if (scope.nonEmpty) sc.setLocalProperty(ScopeKey, scope)
    val t0 = nowMs()
    try f
    finally {
      record(Span(id, name, Option(scope).filter(_.nonEmpty)
        .getOrElse(Option(prevScope).getOrElse("")), t0, nowMs(), parent))
      sc.setLocalProperty(ScopeKey, prevScope)
      synchronized(open.pop())
    }
  }

  /** Record a span whose times were observed elsewhere (a micro-batch
    * reported by the streaming listener).
    */
  def addSpan(name: String, scope: String, startMs: Double, endMs: Double): Unit =
    record(Span(nextId.incrementAndGet(), name, scope, startMs, endMs, 0))

  def allSpans: Seq[Span] = synchronized(spans.toList)

  /** A span's duration minus the part of it covered by its children. */
  def selfMs(s: Span, all: Seq[Span]): Double = {
    val kids = all.filter(k => k.parent == s.id)
      .map(k => (math.max(k.startMs, s.startMs), math.min(k.endMs, s.endMs)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0.0
    var curA = Double.NaN
    var curB = Double.NaN
    kids.foreach { case (a, b) =>
      if (curA.isNaN || a > curB) {
        if (!curA.isNaN) covered += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (!curA.isNaN) covered += curB - curA
    (s.endMs - s.startMs) - covered
  }

  // ---- Spark scheduler events ----

  private val stageScope = new ConcurrentHashMap[Int, String]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val jobOutput = new ConcurrentHashMap[Int, java.lang.Long]()
  private val jobInfo = new ConcurrentHashMap[Int, (String, Double)]()
  private val stageTaskMs = new ConcurrentHashMap[Int, mutable.ArrayBuffer[Double]]()

  private def scopeOf(props: java.util.Properties): Option[String] =
    Option(props).flatMap { p =>
      Option(p.getProperty(ScopeKey)).filter(_.nonEmpty)
        .orElse(Option(p.getProperty(BatchIdKey)).map("batch:" + _))
    }

  val sparkListener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      scopeOf(e.properties).foreach { s =>
        jobInfo.put(e.jobId, (s, e.time.toDouble))
        e.stageIds.foreach { id => stageScope.put(id, s); stageJob.put(id, e.jobId) }
        add(s, "jobs", 1)
      }

    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobInfo.remove(e.jobId)).foreach { case (s, t0) =>
        // a job whose tasks wrote output is a write job
        val wrote = Option(jobOutput.remove(e.jobId)).exists(_ > 0)
        addSpan(if (wrote) "spark.job.write" else "spark.job", s, t0, e.time.toDouble)
      }

    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      Option(stageScope.get(e.stageInfo.stageId)).foreach(add(_, "stages", 1))

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageScope.get(e.stageId)).foreach { s =>
        val m = e.taskMetrics
        val info = e.taskInfo
        add(s, "tasks", 1)
        if (m != null) {
          add(s, "exec_run_ms", m.executorRunTime.toDouble)
          add(s, "exec_cpu_ms", m.executorCpuTime / 1e6)
          add(s, "gc_ms", m.jvmGCTime.toDouble)
          add(s, "input_bytes", m.inputMetrics.bytesRead.toDouble)
          add(s, "output_bytes", m.outputMetrics.bytesWritten.toDouble)
          Option(stageJob.get(e.stageId)).foreach(j =>
            jobOutput.merge(j, m.outputMetrics.bytesWritten, (a: java.lang.Long, b: java.lang.Long) => a + b))
          add(s, "output_rows", m.outputMetrics.recordsWritten.toDouble)
          add(s, "shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
          add(s, "spill_bytes",
            (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
          add(s, "sched_delay_ms", math.max(0.0, (info.duration - m.executorRunTime -
            m.executorDeserializeTime - m.resultSerializationTime -
            info.gettingResultTime).toDouble))
        }
        stageTaskMs.computeIfAbsent(e.stageId, _ => mutable.ArrayBuffer.empty[Double])
          .synchronized(stageTaskMs.get(e.stageId) += info.duration.toDouble)
      }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val id = e.stageInfo.stageId
      for (s <- Option(stageScope.get(id)); ms <- Option(stageTaskMs.remove(id))) {
        val sorted = ms.synchronized(ms.sorted.toVector)
        if (sorted.nonEmpty) {
          val med = sorted(sorted.size / 2)
          val skew = if (med > 0) sorted.last / med else 1.0
          counts.merge((s, "task_skew"), skew, (a: Double, b: Double) => math.max(a, b))
        }
      }
    }
  }

  // ---- streaming progress + store sampler ----

  private var storeDir: Option[String] = None
  private var lastVersion: Long = -1L
  val progress = mutable.ArrayBuffer.empty[QueryProgressEvent]

  /** Sample `stateDir` after each micro-batch: the version directories
    * published since the last sample are this batch's writes.
    */
  def sampleStore(stateDir: String): Unit = {
    storeDir = Some(stateDir)
    lastVersion = BucketStateStore.currentVersion(spark, stateDir).getOrElse(-1L)
  }

  val queryListener: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit = {
      val p = e.progress
      val scope = s"batch:${p.batchId}"
      if (p.numInputRows > 0) {
        progress.synchronized(progress += e)
        storeDir.foreach { dir =>
          val v = BucketStateStore.currentVersion(spark, dir).getOrElse(-1L)
          ((lastVersion + 1) to v).foreach { ver =>
            val w = StoreFiles.versionWrite(spark, dir, ver)
            add(scope, "store.touched_buckets", w.buckets.toDouble)
            add(scope, "store.bytes_written", w.bytes.toDouble)
          }
          lastVersion = v
        }
      }
    }
  }

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.streams.addListener(queryListener)
  }

  /** Detach after the listener bus has delivered everything queued. */
  def detach(): Unit = {
    org.apache.spark.PerfbenchListenerBus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.streams.removeListener(queryListener)
  }

  /** Spans and per-scope counts as JSON-ready values. */
  def dump(): Map[String, Any] = {
    // a Spark job's parent is the layer span that owns its scope
    val recorded = allSpans
    val owner = recorded.filterNot(_.name.startsWith("spark.job")).groupBy(_.scope)
    val all = recorded.map { s =>
      if (!s.name.startsWith("spark.job")) s
      else owner.get(s.scope).flatMap(_.find(o => o.startMs <= s.startMs &&
        s.startMs <= o.endMs)).fold(s)(o => s.copy(parent = o.id))
    }
    Map(
      "spans" -> all.map(s => Map("id" -> s.id, "name" -> s.name,
        "scope" -> s.scope, "start_ms" -> s.startMs, "end_ms" -> s.endMs,
        "parent" -> s.parent, "self_ms" -> selfMs(s, all))),
      "counts" -> counts.asScala.toSeq.sortBy(_._1).map { case ((s, n), v) =>
        Map("scope" -> s, "name" -> n, "value" -> v)
      })
  }
}

object Trace {
  val ScopeKey = "perfbench.scope"
  val BatchIdKey = "streaming.sql.batchId"

  def nowMs(): Double = System.currentTimeMillis().toDouble
}

/** Read-only view of the state store's files, taken from its on-disk
  * layout: `manifest/v<N>` maps
  * each bucket to the version directory that holds it, and
  * `v<M>/graft_bucket=<b>/` holds that bucket's parquet files.
  */
object StoreFiles {
  final case class Write(buckets: Int, bytes: Long)

  private def fs(spark: SparkSession, p: Path) =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def readText(spark: SparkSession, p: Path): Option[String] = {
    val f = fs(spark, p)
    if (!f.exists(p)) None
    else {
      val in = f.open(p)
      try Some(new String(in.readAllBytes(), "UTF-8")) finally in.close()
    }
  }

  private def parquetFiles(spark: SparkSession, p: Path): Seq[Long] = {
    val f = fs(spark, p)
    if (!f.exists(p)) Nil
    else f.listStatus(p).toSeq
      .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
      .map(_.getLen)
  }

  /** What publishing version `v` wrote: its bucket dirs and files. */
  def versionWrite(spark: SparkSession, dir: String, v: Long): Write = {
    val root = new Path(dir, s"v$v")
    val f = fs(spark, root)
    if (!f.exists(root)) Write(0, 0L)
    else {
      val bucketDirs = f.listStatus(root).toSeq
        .filter(s => s.isDirectory && s.getPath.getName.startsWith("graft_bucket="))
      Write(bucketDirs.size, bucketDirs.flatMap(d => parquetFiles(spark, d.getPath)).sum)
    }
  }

  /** Parquet files (count, bytes) the current manifest references. */
  def live(spark: SparkSession, dir: String): (Int, Long) = {
    val v = BucketStateStore.currentVersion(spark, dir).getOrElse(-1L)
    val text = readText(spark, new Path(s"$dir/manifest", s"v$v")).getOrElse("")
    val files = text.linesIterator.map(_.trim).filter(_.matches("""\d+=\d+"""))
      .toSeq.flatMap { l =>
        val Array(b, bv) = l.split('=')
        parquetFiles(spark, new Path(s"$dir/v$bv/graft_bucket=$b"))
      }
    (files.size, files.sum)
  }
}
