package graft.streaming

import org.apache.hadoop.fs.{FileContext, FileSystem, Options, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, hash, lit, pmod}
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}

import java.nio.charset.StandardCharsets

/** Generic hash-bucketed copy-on-write state table — the durable
  * keyed-state substrate shared by the CDC pump (StreamingCdc) and
  * incremental aggregation maintenance (IncrementalAgg). Extracted
  * so every stateful merge shape gets the same scale guarantee: a
  * micro-batch rewrites ONLY the key-buckets it touches (a
  * whole-snapshot rewrite is the classic copy-on-write scale killer:
  * at 100 TB state a 1k-row batch would re-copy 100 TB).
  *
  * Layout:
  * {{{
  * stateDir/
  *   _version                      global version counter N (atomic rename publish)
  *   manifest/v<N>                 text manifest, one entry per line (below)
  *   v<M>/graft_bucket=<i>/part-...parquet   bucket i's snapshot, written by version M
  * }}}
  *
  * Manifest lines: `numBuckets=<k>` first; then `batchId=<id>` (the
  * replay fence, fenced merges only); `schema=<json>` (the template
  * the merge wrote, so the drift check reads no parquet footer);
  * `<i>=<M>` for each live bucket i and the version M holding it; and
  * `bytes.<i>=<n>`, bucket i's parquet bytes. Manifests written before
  * the `schema=` and `bytes.` lines still read: the schema then comes
  * from a footer, and growth (below) waits until every live bucket has
  * been rewritten once and so has a recorded size.
  *
  * Each `v<M>/graft_bucket=<i>/` holds exactly one parquet file: the
  * merge shuffles its output on the bucket id before the partitioned
  * write, so one task writes each touched bucket.
  *
  * Bucket count: sized so one bucket is about one read split,
  * `spark.sql.files.maxPartitionBytes` (the target). A new store takes
  * the smallest power of two k whose k × target covers Catalyst's size
  * estimate of its first batch, at most [[DefaultNumBuckets]]; an
  * explicit `numBuckets` fixes it instead. Once the recorded live bytes
  * exceed k × target, the next merge re-buckets the whole store to the
  * smallest power of two that covers them. The count never shrinks.
  *
  * Bucket of a key = `pmod(hash(keys...), numBuckets)`. A merge at
  * version N reads ONLY the touched buckets' current snapshots,
  * applies the caller's combine, and writes the merged touched
  * buckets under `v<N>/`; untouched buckets keep their existing
  * files, and the new manifest points them at their old version
  * dirs. Readers resolve `_version` → manifest → bucket paths, so
  * they never observe a half-written snapshot (writers publish
  * manifest + data first, pointer last; old dirs are never mutated).
  */
object BucketStateStore {

  private val VersionFile = "_version"
  private val ManifestDir = "manifest"

  /** Bucket partition column. Deliberately NOT `_`-prefixed: Spark's
    * file listing treats `_`/`.`-prefixed paths as hidden, so a
    * `_bucket=i` partition directory would be invisible to readers.
    */
  val BucketCol = "graft_bucket"

  /** The most buckets a new store starts with when its count is
    * derived: an unknown or huge first-batch estimate gives this
    * layout, the fixed default of stores created before sizing.
    * Growth past it is by re-bucketing (see the Layout note); the count
    * trades rewrite amplification (fewer buckets → bigger rewrites)
    * against small-file count (more buckets → more files).
    */
  val DefaultNumBuckets = 64

  private val BucketLine = """\d+=\d+"""

  /** bucket → version dir that last rewrote that bucket. A bucket
    * absent from the map is empty (all its keys deleted or never
    * seen). `bytes` holds the parquet bytes of the live buckets whose
    * size is recorded, `schema` the JSON of the last merge's template.
    */
  private case class Manifest(numBuckets: Int, buckets: Map[Int, Long],
      fence: Option[Long] = None, bytes: Map[Int, Long] = Map.empty,
      schema: Option[String] = None) {
    /** Live bytes, once every live bucket has a recorded size. */
    def liveBytes: Option[Long] =
      Option.when(buckets.keySet.subsetOf(bytes.keySet))(
        buckets.keysIterator.map(bytes).sum)
  }

  // ---- small atomic-file helpers (single text blob, rename publish) ----

  private def fsFor(spark: SparkSession, p: Path): FileSystem =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  private[streaming] def readTextFile(spark: SparkSession, p: Path): Option[String] = {
    val fs = fsFor(spark, p)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try {
        // read to EOF — a single in.read(buf) may legally return a
        // short read and truncate the content
        val out = new java.io.ByteArrayOutputStream(256)
        val buf = new Array[Byte](256)
        var n = in.read(buf)
        while (n > 0) { out.write(buf, 0, n); n = in.read(buf) }
        Some(new String(out.toByteArray, StandardCharsets.UTF_8))
      } finally in.close()
    }
  }

  /** Write-then-rename publish: readers see the old file or the new
    * one, never a torn write or a missing file. The rename carries
    * OVERWRITE semantics (FileContext.rename, atomic on HDFS and
    * posix local FS) — a delete-then-rename would open a window where
    * the pointer does not exist and a crashed writer leaves the store
    * reading as empty, losing the batch-id fence.
    */
  private[streaming] def publishTextFile(spark: SparkSession, p: Path,
      content: String): Unit = {
    val fs = fsFor(spark, p)
    fs.mkdirs(p.getParent)
    val qp = fs.makeQualified(p)
    val tmp = new Path(qp.getParent, s".${qp.getName}.tmp")
    val out = fs.create(tmp, true)
    try out.write(content.getBytes(StandardCharsets.UTF_8))
    finally out.close()
    val fc = FileContext.getFileContext(qp.toUri,
      spark.sparkContext.hadoopConfiguration)
    fc.rename(tmp, qp, Options.Rename.OVERWRITE)
  }

  /** Latest version with a committed manifest — the recovery source
    * of truth when the `_version` pointer is absent (manual deletion
    * or a legacy delete-then-rename crash). Safe because manifests
    * publish strictly AFTER their data and strictly BEFORE the
    * pointer flip: the newest manifest always describes complete
    * data.
    */
  private def latestManifestVersion(spark: SparkSession,
      stateDir: String): Option[Long] =
    availableVersions(spark, stateDir).lastOption

  def currentVersion(spark: SparkSession, stateDir: String): Option[Long] =
    readTextFile(spark, new Path(stateDir, VersionFile))
      .map(_.trim.split(':')(0).toLong)
      .orElse(latestManifestVersion(spark, stateDir))

  /** The streaming batch id fenced into the last committed version
    * (None before any fenced merge). See `merge(batchId = …)`. The
    * fence rides the pointer AND the manifest, so a missing pointer
    * recovers it rather than silently re-admitting replayed batches.
    */
  def lastBatchId(spark: SparkSession, stateDir: String): Option[Long] =
    readTextFile(spark, new Path(stateDir, VersionFile)) match {
      case Some(text) =>
        text.trim.split(':') match {
          case Array(_, b) => Some(b.toLong)
          case _           => None
        }
      case None =>
        latestManifestVersion(spark, stateDir)
          .flatMap(v => readManifest(spark, stateDir, v).fence)
    }

  private def manifestPath(stateDir: String, v: Long): Path =
    new Path(s"$stateDir/$ManifestDir", s"v$v")

  private def readManifest(spark: SparkSession, stateDir: String, v: Long): Manifest = {
    val text = readTextFile(spark, manifestPath(stateDir, v)).getOrElse(
      throw new java.io.IOException(
        s"state manifest missing for committed version $v at $stateDir"))
    val lines = text.linesIterator.map(_.trim).filter(_.nonEmpty).toSeq
    val k = lines.head.stripPrefix("numBuckets=").toInt
    def field(key: String): Option[String] =
      lines.tail.find(_.startsWith(key)).map(_.stripPrefix(key))
    def pairs(ls: Seq[String]): Map[Int, Long] = ls.map { l =>
      val Array(b, n) = l.split('=')
      b.toInt -> n.toLong
    }.toMap
    Manifest(k, pairs(lines.filter(_.matches(BucketLine))),
      field("batchId=").map(_.toLong),
      pairs(lines.filter(_.startsWith("bytes.")).map(_.stripPrefix("bytes."))),
      field("schema="))
  }

  private def writeManifest(spark: SparkSession, stateDir: String, v: Long,
      m: Manifest): Unit = {
    val body = (Seq(s"numBuckets=${m.numBuckets}") ++
      m.fence.map(b => s"batchId=$b") ++
      m.schema.map(js => s"schema=$js") ++
      m.buckets.toSeq.sorted.map { case (b, bv) => s"$b=$bv" } ++
      m.bytes.toSeq.sorted.map { case (b, n) => s"bytes.$b=$n" }).mkString("\n")
    publishTextFile(spark, manifestPath(stateDir, v), body)
  }

  private def bucketDir(stateDir: String, b: Int, v: Long): String =
    s"$stateDir/v$v/$BucketCol=$b"

  /** Latest committed state snapshot (empty schema-less read is the
    * caller's bootstrap concern — pass the template for v0). Reads
    * each bucket from the version dir that last rewrote it.
    */
  def currentState(spark: SparkSession, stateDir: String,
      template: DataFrame): DataFrame =
    currentVersion(spark, stateDir) match {
      case Some(v) => stateAt(spark, stateDir, template, v)
      case None    => template.limit(0)
    }

  /** Time-travel read: the state snapshot AS OF committed version
    * `version` — what every copy-on-write table format exposes
    * (Delta `VERSION AS OF`), and the same free lunch here: old
    * bucket files are never mutated, so a historical read is just
    * the OLD manifest's bucket paths. Use it to debug a bad merge,
    * audit when a key changed, or reprocess downstream from a known
    * point. Readable history is bounded by [[vacuum]]'s `keep`
    * retention — a vacuumed version raises (manifest gone), it does
    * not silently read partial state.
    */
  def stateAt(spark: SparkSession, stateDir: String, template: DataFrame,
      version: Long): DataFrame = {
    val m = readManifest(spark, stateDir, version)
    if (m.buckets.isEmpty) template.limit(0)
    else {
      val paths = m.buckets.toSeq.sorted.map { case (b, bv) =>
        bucketDir(stateDir, b, bv)
      }
      spark.read.schema(template.schema).parquet(paths: _*)
    }
  }

  /** [[stateAt]] without a caller-supplied template: the schema is
    * inferred from the stored bucket files themselves — the
    * inspection/export path, where the reader has no schema handy.
    * Empty state has no stored files to infer from and raises.
    */
  def stateAtInferred(spark: SparkSession, stateDir: String,
      version: Long): DataFrame = {
    val m = readManifest(spark, stateDir, version)
    require(m.buckets.nonEmpty,
      s"state v$version at $stateDir is empty — no stored schema to infer")
    val paths = m.buckets.toSeq.sorted.map { case (b, bv) =>
      bucketDir(stateDir, b, bv)
    }
    spark.read.parquet(paths: _*)
  }

  /** The schema the LAST merge persisted, as a parquet reader sees it
    * (every field nullable; None when the store is absent or empty).
    * Used by the CDC pump's schema-drift refusal before each merge.
    * Read from the manifest's `schema=` line, so it runs no Spark job;
    * a manifest without one falls back to the parquet footer of the
    * most-recently-rewritten bucket, by construction the one written
    * with the newest template.
    */
  def persistedSchema(spark: SparkSession,
      stateDir: String): Option[StructType] =
    currentVersion(spark, stateDir).flatMap { v =>
      val m = readManifest(spark, stateDir, v)
      if (m.buckets.isEmpty) None
      else m.schema match {
        case Some(js) => Some(nullable(DataType.fromJson(js)).asInstanceOf[StructType])
        case None =>
          val (b, bv) = m.buckets.maxBy(_._2)
          Some(spark.read.parquet(bucketDir(stateDir, b, bv)).schema)
      }
    }

  /** `t` with every nested field, element and map value nullable: what
    * a file-source read reports for a schema it wrote.
    */
  private def nullable(t: DataType): DataType = t match {
    case s: StructType =>
      StructType(s.fields.map(f => f.copy(dataType = nullable(f.dataType), nullable = true)))
    case a: ArrayType => ArrayType(nullable(a.elementType), containsNull = true)
    case m: MapType =>
      MapType(nullable(m.keyType), nullable(m.valueType), valueContainsNull = true)
    case other => other
  }

  /** Smallest power of two k with k × target ≥ bytes, at most `cap`. */
  private def bucketsFor(bytes: BigInt, target: Long, cap: Int): Int = {
    val need = ((bytes + target - 1) / target).min(cap).max(1).toInt
    math.max(1, Integer.highestOneBit(need - 1) << 1)
  }

  /** Committed versions still readable by [[stateAt]] (ascending):
    * the manifests that exist — vacuum trims this list from the
    * front, merges extend it at the back.
    */
  def availableVersions(spark: SparkSession, stateDir: String): Seq[Long] = {
    val mdir = new Path(stateDir, ManifestDir)
    val fs = fsFor(spark, mdir)
    if (!fs.exists(mdir)) Seq.empty
    else fs.listStatus(mdir).iterator.map(_.getPath.getName)
      .filter(_.startsWith("v"))
      .flatMap(_.drop(1).toLongOption)
      .toSeq.sorted
  }

  /** Merge one batch into the store and publish the next version,
    * rewriting ONLY the key-buckets the batch touches. `template`
    * fixes the persisted schema (must equal `combine`'s output
    * schema); `combine(stateSlice, batch)` produces the replacement
    * rows for the touched buckets. `numBuckets` is the bucket count of
    * a NEW store; 0, every caller's default, derives it from the
    * batch's size (see the Layout note). An existing store keeps the
    * count its manifest records.
    *
    * Exactly-once under crash replay, two regimes:
    *  - idempotent combines (CDC last-write-wins): re-applying a
    *    replayed batch is a state no-op by construction;
    *  - NON-idempotent combines (sums in IncrementalAgg): pass the
    *    streaming `batchId` — it is fenced into the version pointer
    *    atomically with the data, and a replayed batch with
    *    id ≤ the fenced id is SKIPPED. Without the fence, a crash
    *    after version publish but before the streaming offset commit
    *    would double-count the replayed batch.
    *
    * Scale shape: touched-bucket discovery is one distinct over the
    * (small) batch collecting ≤ numBuckets ints to the driver; the
    * state read and the merged write are proportional to the touched
    * buckets' size, not total state size. The merged rows go through
    * one exchange on the bucket id before the partitioned write, so
    * each touched bucket is written by one task as one file (without
    * it every write task emits its own file per bucket its rows fall
    * in, and file create/commit/rename dominates the batch). That
    * exchange's bytes scale with the touched buckets' state, the
    * same volume the rewrite moves anyway, not with the batch. The
    * exception is a merge that re-buckets: it reads and rewrites every
    * bucket at the new count, one full rewrite per doubling of the
    * state, amortized like a hash-table resize.
    */
  def merge(batch: DataFrame, stateDir: String, keys: Seq[String],
      template: DataFrame, numBuckets: Int = 0,
      batchId: Option[Long] = None)(
      combine: (DataFrame, DataFrame) => DataFrame): Unit = {
    val spark = batch.sparkSession
    require(!template.columns.contains(BucketCol),
      s"state schema must not contain reserved column $BucketCol")
    require(numBuckets >= 0, s"numBuckets must be >= 0, got $numBuckets")
    for (bid <- batchId; last <- lastBatchId(spark, stateDir))
      if (bid <= last) return // replayed batch already folded in
    val target = spark.sessionState.conf.filesMaxPartitionBytes
    val curV = currentVersion(spark, stateDir)
    val manifest = curV.map(readManifest(spark, stateDir, _)).getOrElse {
      val k =
        if (numBuckets > 0) numBuckets
        else bucketsFor(batch.queryExecution.optimizedPlan.stats.sizeInBytes,
          target, DefaultNumBuckets)
      Manifest(k, Map.empty)
    }
    // grow once the recorded live bytes outgrow k buckets of `target`;
    // 1 << 30 is the largest Int power of two
    val k = manifest.liveBytes.filter(_ > manifest.numBuckets.toLong * target)
      .fold(manifest.numBuckets)(bytes => bucketsFor(bytes, target, 1 << 30))
    val bucketOf = pmod(hash(keys.map(col): _*), lit(k))

    // re-bucketing touches every bucket; otherwise discovery is
    // driver-sized by construction: at most k distinct bucket ids
    val (read, kept) =
      if (k != manifest.numBuckets) (manifest.buckets, Map.empty[Int, Long])
      else {
        val touched = batch.select(bucketOf.as("b")).distinct()
          .collect().map(_.getInt(0)).toSet
        manifest.buckets.partition { case (b, _) => touched(b) }
      }
    val state =
      if (read.isEmpty) template.limit(0)
      else {
        val paths = read.toSeq.sorted.map { case (b, bv) =>
          bucketDir(stateDir, b, bv)
        }
        spark.read.schema(template.schema).parquet(paths: _*)
      }

    val next = combine(state, batch)
    val v = curV.getOrElse(-1L) + 1
    next.withColumn(BucketCol, bucketOf)
      .repartition(col(BucketCol))
      .write.mode("overwrite").partitionBy(BucketCol).parquet(s"$stateDir/v$v")

    // A touched bucket whose keys all got deleted writes no partition
    // dir — it must leave the manifest (absent = empty), so list what
    // the write actually produced instead of assuming `touched`.
    val vPath = new Path(s"$stateDir/v$v")
    val fs = fsFor(spark, vPath)
    val written: Map[Int, Long] = fs.listStatus(vPath).iterator
      .filter(_.getPath.getName.startsWith(s"$BucketCol="))
      .map { d =>
        d.getPath.getName.stripPrefix(s"$BucketCol=").toInt ->
          fs.listStatus(d.getPath).iterator
            .filter(f => f.isFile && !f.getPath.getName.startsWith(".") &&
              !f.getPath.getName.startsWith("_"))
            .map(_.getLen).sum
      }.toMap
    writeManifest(spark, stateDir, v, Manifest(k,
      kept ++ written.map { case (b, _) => b -> v }, batchId,
      manifest.bytes.filter { case (b, _) => kept.contains(b) } ++ written,
      Some(template.schema.json)))
    // Atomic publish: manifest + data land first, pointer flips last
    // (with the batch-id fence riding the same atomic rename).
    publishTextFile(spark, new Path(stateDir, VersionFile),
      v.toString + batchId.fold("")(b => s":$b"))
  }

  /** The subdirectories of `root`, through the store's own FS
    * abstraction — the discovery step a multi-belt vacuum needs
    * (every per-table state dir under a root, including tables absent
    * from the current batch). java.io.File would silently return
    * nothing on an hdfs:// or s3a:// state root; a missing root is
    * simply an empty listing (nothing to vacuum yet).
    */
  def listStateDirs(spark: SparkSession, root: String): Seq[String] = {
    val p = new Path(root)
    val fs = fsFor(spark, p)
    if (!fs.exists(p)) Nil
    else fs.listStatus(p).toSeq.filter(_.isDirectory)
      .map(_.getPath.toString)
  }

  /** Retire state older than the newest `keep` versions — the vacuum
    * step every copy-on-write table needs: without it a long-running
    * pump accumulates dead bucket copies. Manifest-aware: a version
    * dir survives as long as ANY retained manifest references one of
    * its buckets (an untouched bucket keeps its original version dir
    * alive arbitrarily long — that dir still holds live data).
    * Readers of retained versions are unaffected (same contract as
    * table-format vacuums: retention must exceed the longest reader).
    */
  def vacuum(spark: SparkSession, stateDir: String, keep: Int = 2): Unit = {
    require(keep >= 1, "must keep at least the current version")
    currentVersion(spark, stateDir).foreach { v =>
      val floor = v - keep + 1
      val referenced: Set[Long] = (math.max(0L, floor) to v).flatMap { mv =>
        readTextFile(spark, manifestPath(stateDir, mv)).toSeq.flatMap { text =>
          // bucket lines only — skip the header, schema and bytes lines
          text.linesIterator.map(_.trim)
            .filter(_.matches(BucketLine))
            .map(_.split('=')(1).toLong)
        }
      }.toSet
      val root = new Path(stateDir)
      val fs = fsFor(spark, root)
      fs.listStatus(root).foreach { st =>
        val n = st.getPath.getName
        if (n.startsWith("v"))
          n.drop(1).toLongOption.foreach { ver =>
            if (ver < floor && !referenced.contains(ver))
              fs.delete(st.getPath, true)
          }
      }
      val mdir = new Path(stateDir, ManifestDir)
      if (fs.exists(mdir)) fs.listStatus(mdir).foreach { st =>
        val n = st.getPath.getName
        if (n.startsWith("v"))
          n.drop(1).toLongOption.foreach { ver =>
            if (ver < floor) fs.delete(st.getPath, false)
          }
      }
    }
  }
}
