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
}
