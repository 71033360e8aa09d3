package graft

import graft.streaming.{BucketStateStore, StreamingCdc}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files

/** Reads a state store's manifests straight from disk, the way an
  * operator would: `numBuckets=`, the `<bucket>=<version>` lines and
  * the `bytes.<bucket>=` lines.
  */
object StoreManifest {
  final case class Entry(numBuckets: Int, buckets: Map[Int, Long],
      bytes: Map[Int, Long])

  def path(stateDir: String, v: Long): File = new File(s"$stateDir/manifest/v$v")

  def lines(stateDir: String, v: Long): Seq[String] =
    new String(Files.readAllBytes(path(stateDir, v).toPath), StandardCharsets.UTF_8)
      .linesIterator.map(_.trim).filter(_.nonEmpty).toSeq

  def at(stateDir: String, v: Long): Entry = {
    val ls = lines(stateDir, v)
    def pairs(xs: Seq[String]): Map[Int, Long] = xs.map { l =>
      val Array(b, n) = l.split('=')
      b.toInt -> n.toLong
    }.toMap
    Entry(ls.head.stripPrefix("numBuckets=").toInt,
      pairs(ls.filter(_.matches("""\d+=\d+"""))),
      pairs(ls.filter(_.startsWith("bytes.")).map(_.stripPrefix("bytes."))))
  }

  def current(spark: SparkSession, stateDir: String): Entry =
    at(stateDir, BucketStateStore.currentVersion(spark, stateDir).get)

  /** The visible files of bucket `b` as written by version `bv`. */
  def files(stateDir: String, b: Int, bv: Long): Seq[File] =
    new File(s"$stateDir/v$bv/${BucketStateStore.BucketCol}=$b").listFiles().toSeq
      .filterNot(f => f.getName.startsWith(".") || f.getName.startsWith("_"))

  def isPowerOfTwo(k: Int): Boolean = k > 0 && (k & (k - 1)) == 0

  /** Run `body` with `spark.sql.files.maxPartitionBytes` (the store's
    * per-bucket target) set to `bytes`, restoring it afterwards.
    */
  def withTarget[T](spark: SparkSession, bytes: String)(body: => T): T = {
    val key = "spark.sql.files.maxPartitionBytes"
    val old = spark.conf.getOption(key)
    spark.conf.set(key, bytes)
    try body
    finally old.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }
}

/** How a store picks its bucket count, and stores whose manifests
  * predate the recorded schema and bucket sizes.
  */
class BucketStateStoreSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import StoreManifest._

  private def changes(from: Long, until: Long, ts: Long): DataFrame =
    spark.range(from, until).select(col("id"), (col("id") * ts).as("v"),
      lit(ts).as("ts"), lit("insert").as("op"))

  private def state(stateDir: String): Seq[(Long, Long)] =
    StreamingCdc.currentState(spark, stateDir, changes(0, 0, 0).drop("op"))
      .select("id", "v").orderBy("id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq

  test("a new store sizes its bucket count to the first batch") {
    val small = Files.createTempDirectory("graft_bss_small").toString
    StreamingCdc.mergeIntoState(changes(0, 1000, 1), small, Seq("id"), Seq("ts"))
    assert(current(spark, small).numBuckets == 1,
      "a batch far below one read split is one bucket")

    val tiny = Files.createTempDirectory("graft_bss_tiny").toString
    withTarget(spark, "1k") {
      StreamingCdc.mergeIntoState(changes(0, 1000, 1), tiny, Seq("id"), Seq("ts"))
    }
    val k = current(spark, tiny).numBuckets
    assert(isPowerOfTwo(k) && k > 1 && k <= BucketStateStore.DefaultNumBuckets,
      s"a 1 kB target starts at a power of two up to the cap, got $k")
    assert(state(tiny) == (0L until 1000L).map(i => (i, i)))

    val pinned = Files.createTempDirectory("graft_bss_pinned").toString
    StreamingCdc.mergeIntoState(changes(0, 1000, 1), pinned, Seq("id"), Seq("ts"),
      numBuckets = 3)
    assert(current(spark, pinned).numBuckets == 3, "an explicit count is kept")
  }

  test("a store whose manifests carry no schema or bytes lines still reads, " +
    "merges, vacuums and refuses destructive drift") {
    val dir = Files.createTempDirectory("graft_bss_compat").toString
    (0 until 3).foreach { i =>
      StreamingCdc.mergeIntoState(changes(i * 100L, i * 100L + 400, i + 1), dir,
        Seq("id"), Seq("ts"), numBuckets = 4)
    }
    val before = state(dir)
    // rewrite every manifest in the older format
    BucketStateStore.availableVersions(spark, dir).foreach { v =>
      val old = lines(dir, v).filterNot(l => l.startsWith("schema=") ||
        l.startsWith("bytes."))
      Files.write(path(dir, v).toPath, old.mkString("\n").getBytes(StandardCharsets.UTF_8))
      new File(path(dir, v).getParentFile, s".v$v.crc").delete()
    }
    assert(current(spark, dir).bytes.isEmpty)
    assert(state(dir) == before, "old-format manifests read the same state")
    assert(BucketStateStore.persistedSchema(spark, dir).exists(
      _.fieldNames.toSeq == Seq("id", "v", "ts")), "schema falls back to a footer")

    val drop = changes(5, 6, 20).drop("v")
    val e = intercept[IllegalStateException] {
      StreamingCdc.mergeIntoState(drop, dir, Seq("id"), Seq("ts"))
    }
    assert(e.getMessage.contains("column v dropped"), e.getMessage)

    // a tiny target would re-bucket a sized store; here growth waits
    // until every live bucket has a recorded size
    withTarget(spark, "1k") {
      StreamingCdc.mergeIntoState(changes(1, 2, 10), dir, Seq("id"), Seq("ts"))
    }
    val merged = current(spark, dir)
    assert(merged.numBuckets == 4, "no growth while a live bucket has no size")
    assert(merged.bytes.size == 1 && merged.buckets.size == 4,
      s"only the rewritten bucket gets a size: $merged")
    val after = before.map { case (i, x) => if (i == 1) (i, 10L) else (i, x) }
    assert(state(dir) == after)

    val v = BucketStateStore.currentVersion(spark, dir).get
    BucketStateStore.vacuum(spark, dir, keep = 1)
    assert(BucketStateStore.availableVersions(spark, dir) == Seq(v))
    assert(state(dir) == after)
  }

  /** `changes` with 128 incompressible hex characters per row, so a
    * bucket's bytes follow its rows.
    */
  private def padded(from: Long, until: Long, ts: Long, op: String = "insert") =
    changes(from, until, ts).withColumn("pad", sha2(col("v").cast("string"), 512))
      .withColumn("op", lit(op))

  private def rowsOf(df: DataFrame): Seq[(Long, Long, Long)] =
    df.select("id", "v", "ts").orderBy("id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq

  test("stateAtInferred resolves a pending run: it equals stateAt") {
    val dir = Files.createTempDirectory("graft_bss_inferred").toString
    val template = padded(0, 0, 0).drop("op")
    StreamingCdc.mergeIntoState(padded(0, 400, 1), dir, Seq("id"), Seq("ts"))
    StreamingCdc.mergeIntoState(padded(10, 30, 2, "update")
      .unionByName(padded(50, 60, 2, "delete")), dir, Seq("id"), Seq("ts"))
    val v = BucketStateStore.currentVersion(spark, dir).get
    assert(lines(dir, v).exists(_.startsWith("run.")), "the second merge writes a run")
    val want = (0L until 400L).filterNot(i => i >= 50 && i < 60)
      .map(i => if (i >= 10 && i < 30) (i, i * 2, 2L) else (i, i, 1L))
    assert(rowsOf(BucketStateStore.stateAt(spark, dir, template, v)) == want)
    assert(rowsOf(BucketStateStore.stateAtInferred(spark, dir, v)) == want)
    assert(!BucketStateStore.stateAtInferred(spark, dir, v).columns
      .contains(BucketStateStore.DeletedCol))
    BucketStateStore.vacuum(spark, dir, keep = 3)
    val folded = BucketStateStore.currentVersion(spark, dir).get
    assert(folded == v + 1 && !lines(dir, folded).exists(_.startsWith("run.")))
    assert(rowsOf(BucketStateStore.stateAtInferred(spark, dir, folded)) == want)
    assert(rowsOf(BucketStateStore.stateAtInferred(spark, dir, v)) == want,
      "the run version stays readable while retained")
  }

  test("merges without a tombstone (sums, mins) never write runs") {
    import graft.streaming.IncrementalAgg
    val dir = Files.createTempDirectory("graft_bss_agg").toString
    val batch = spark.range(0, 100).select((col("id") % 10).as("k"), col("id").as("x"))
    (0L until 3L).foreach { bid =>
      IncrementalAgg.mergeBatch(batch, dir, Seq("k"), Seq(sum(col("x")).as("s")),
        Seq(sum(col("s")).as("s")), batchId = Some(bid))
    }
    BucketStateStore.availableVersions(spark, dir).foreach { v =>
      assert(!lines(dir, v).exists(_.startsWith("run.")), lines(dir, v))
    }
    BucketStateStore.vacuum(spark, dir, keep = 1)
    assert(BucketStateStore.availableVersions(spark, dir) == Seq(2L),
      "vacuum folds nothing, so it publishes nothing")
  }

  private final class Crash(step: String) extends RuntimeException(step)

  /** Run `body` with every durable step it completes passed to `hook`. */
  private def withHook[T](hook: String => Unit)(body: => T): T = {
    BucketStateStore.afterDurableStep = hook
    try body finally BucketStateStore.afterDurableStep = _ => ()
  }

  private def copyTree(from: java.nio.file.Path, to: java.nio.file.Path): Unit =
    Files.walk(from).forEach { p =>
      val q = to.resolve(from.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(q) else Files.copy(p, q)
    }

  /** Every retained version reads, and every dir its manifest names as
    * a base or a run is one parquet file.
    */
  private def referencedFilesExist(dir: String): Unit =
    BucketStateStore.availableVersions(spark, dir).foreach { v =>
      lines(dir, v).filter(_.matches("""(run\.)?\d+=\d+""")).foreach { l =>
        val Array(b, bv) = l.stripPrefix("run.").split('=')
        val fs = new File(s"$dir/v$bv/${BucketStateStore.BucketCol}=$b")
        assert(fs.isDirectory && files(dir, b.toInt, bv.toLong).count(
          _.getName.endsWith(".parquet")) == 1, s"v$v names $l, missing")
      }
    }

  test("a crash after any durable step of a run write, a base write or " +
    "vacuum's fold leaves version N or N+1; replay converges; vacuum keeps " +
    "every referenced file") {
    val template = padded(0, 0, 0).drop("op")
    val b0 = padded(0, 200, 1)
    val small = padded(0, 10, 2, "update").unionByName(padded(190, 195, 2, "delete"))
    val large = padded(0, 120, 2, "update")
    val next = padded(5, 15, 3, "update").unionByName(padded(100, 110, 3, "delete"))
      .unionByName(padded(300, 310, 3))
    def merge(dir: String, b: DataFrame): Unit =
      StreamingCdc.mergeIntoState(b, dir, Seq("id"), Seq("ts"))
    def replay(bs: DataFrame*): Seq[(Long, Long, Long)] =
      rowsOf(graft.cdc.CdcApplier.replayCompact(bs.reduce(_ unionByName _),
        Seq("id"), Seq(col("ts"))))
    def state(dir: String) = rowsOf(StreamingCdc.currentState(spark, dir, template))
    // (name, batches before the step, the step, what the step writes, batches after)
    val cases = Seq(
      ("run write", Seq(b0, small), (d: String) => merge(d, next), "runs", Seq(b0, small, next)),
      ("base write", Seq(b0, large), (d: String) => merge(d, next), "bases", Seq(b0, large, next)),
      ("vacuum fold", Seq(b0, small), (d: String) => BucketStateStore.vacuum(spark, d, 2),
        "compaction", Seq(b0, small)))
    cases.foreach { case (name, setup, step, writes, all) =>
      val seed = Files.createTempDirectory("graft_bss_crash").toString
      setup.foreach(merge(seed, _))
      val n = BucketStateStore.currentVersion(spark, seed).get
      assert(lines(seed, n).exists(_.startsWith("run.")), s"$name: a run is pending")
      val before = replay(setup: _*)
      val after = replay(all: _*)
      val probe = Files.createTempDirectory("graft_bss_probe")
      copyTree(java.nio.file.Paths.get(seed), probe)
      val steps = scala.collection.mutable.ArrayBuffer.empty[String]
      withHook(steps += _)(step(probe.toString))
      assert(steps.toSeq == Seq(s"data:$writes", s"tmp:v${n + 1}", s"rename:v${n + 1}",
        "tmp:_version", "rename:_version"), s"$name steps")
      steps.indices.foreach { i =>
        val dir = Files.createTempDirectory("graft_bss_crashed")
        copyTree(java.nio.file.Paths.get(seed), dir)
        val d = dir.toString
        var count = 0
        intercept[Crash] {
          withHook { s => if (count == i) throw new Crash(s); count += 1 }(step(d))
        }
        val at = s"$name, crash after ${steps(i)}"
        val v = BucketStateStore.currentVersion(spark, d).get
        assert(v == n || v == n + 1, s"$at: version $v")
        assert(state(d) == (if (v == n) before else after), s"$at: v$v reads")
        BucketStateStore.vacuum(spark, d, keep = 2)
        referencedFilesExist(d)
        assert(state(d) == (if (v == n) before else after), s"$at: vacuum changed the state")
        step(d) // the replay
        assert(state(d) == after, s"$at: replay does not converge")
        BucketStateStore.vacuum(spark, d, keep = 1)
        referencedFilesExist(d)
        assert(state(d) == after, s"$at: state after the last vacuum")
      }
    }
  }
}
