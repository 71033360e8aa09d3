package graft.streaming

import org.apache.hadoop.fs.{FileContext, FileSystem, Options, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, hash, lit, pmod}
import org.apache.spark.sql.types.{ArrayType, BooleanType, DataType, MapType, StructType}

import java.net.{URLDecoder, URLEncoder}
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
  *   v<M>/graft_bucket=<i>/part-...parquet   what version M wrote for bucket i
  * }}}
  *
  * A bucket holds a base, its snapshot, and at most one run. A run
  * is the write side of ClickHouse's `ReplacingMergeTree` (and of a
  * log-structured merge tree): one row per key changed since the base
  * was written, the newest change winning, with deletes kept as
  * tombstones (reserved column [[DeletedCol]] = true). A version writes
  * either runs or bases, never both, so every `v<M>/` has one meaning;
  * the manifest names it.
  *
  * Manifest lines: `numBuckets=<k>` first; then `batchId=<id>` (the
  * replay fence, fenced merges only); `keys=<k1,k2>` (the key columns,
  * URL-encoded, which readers need to resolve runs); `schema=<json>`
  * (the template the merge wrote, so the drift check reads no parquet
  * footer); `<i>=<M>` for each bucket i with a base and the version M
  * holding it; `bytes.<i>=<n>`, that base's parquet bytes; `run.<i>=<W>`
  * for each bucket i with a run and the version W holding it; and
  * `runbytes.<i>=<n>`, that run's bytes. Manifests written before the
  * `schema=` and `bytes.` lines still read: the schema then comes from
  * a footer, and growth (below) waits until every live bucket has been
  * rewritten once and so has a recorded size.
  *
  * Each `v<M>/graft_bucket=<i>/` holds exactly one parquet file: a
  * merge writes each bucket with one task (below).
  *
  * Bucket count: sized so one bucket is about one read split,
  * `spark.sql.files.maxPartitionBytes` (the target). A new store takes
  * the smallest power of two k whose k × target covers Catalyst's size
  * estimate of its first batch, at most [[DefaultNumBuckets]]; an
  * explicit `numBuckets` fixes it instead. Once the recorded live bytes
  * (bases and runs) exceed k × target, the next merge re-buckets the
  * whole store to the smallest power of two that covers them, folding
  * every run on the way. The count never shrinks.
  *
  * Bucket of a key = `pmod(hash(keys...), numBuckets)`. A merge at
  * version N reads ONLY the touched buckets and writes under `v<N>/`;
  * untouched buckets keep their existing files, and the new manifest
  * points them at their old version dirs. Readers resolve `_version` →
  * manifest → bucket paths, so they never observe a half-written
  * snapshot (writers publish data, then manifest, then pointer; old
  * dirs are never mutated).
  *
  * Reads: a bucket without a run reads as its base file. A bucket
  * with a run reads as its base anti-joined with the run's keys, plus
  * the run's rows that are not tombstones; the key side is a run,
  * small by the compaction rule, so Catalyst broadcasts it. That costs
  * a read while a run is pending one more job (the broadcast) and one
  * more file per bucket: on a 4-core host, a 150k-row `orders` state
  * (2.75 MB base) with a pending run of 8.6k rows (201 kB) scanned in
  * 281 ms against 120 ms once the run was folded (medians of 5).
  * [[vacuum]] folds every run, so a read after it is a base-only scan
  * again.
  *
  * Compaction (a run folded into its base) happens in three places: a
  * merge whose touched buckets hold a run past [[RunShare]] of their
  * base writes bases instead of runs; a re-bucketing merge folds every
  * run; and [[vacuum]] folds every pending run as one new version.
  */
object BucketStateStore {

  private val VersionFile = "_version"
  private val ManifestDir = "manifest"

  /** Bucket partition column. Deliberately NOT `_`-prefixed: Spark's
    * file listing treats `_`/`.`-prefixed paths as hidden, so a
    * `_bucket=i` partition directory would be invisible to readers.
    */
  val BucketCol = "graft_bucket"

  /** Tombstone flag of a run row: true marks a deleted key. Reserved
    * like [[BucketCol]]: no state schema may carry it.
    */
  val DeletedCol = "graft_deleted"

  /** The most buckets a new store starts with when its count is
    * derived: an unknown or huge first-batch estimate gives this
    * layout, the fixed default of stores created before sizing.
    * Growth past it is by re-bucketing (see the Layout note); the count
    * trades rewrite amplification (fewer buckets → bigger rewrites)
    * against small-file count (more buckets → more files).
    */
  val DefaultNumBuckets = 64

  /** A merge whose touched buckets hold a run larger than 1/RunShare of
    * their base writes bases instead of runs. A run write costs the
    * run, a base write the base plus the run, and a read pays for every
    * pending run on top of the base. At a quarter, a run write stays
    * below a quarter of the base rewrite it replaces, a read touches at
    * most 1.25× the bases' bytes, and a pump without a vacuum cadence
    * folds its runs after a few batches. Fixed, not an option: it
    * trades write cost against read cost the same way for every caller.
    */
  private val RunShare = 4

  private val BucketLine = """\d+=\d+"""

  /** bucket → version dir that holds that bucket's base (`buckets`) or
    * run (`runs`). A bucket in neither map is empty (all its keys
    * deleted or never seen). `bytes` and `runBytes` hold the parquet
    * bytes of the bases and runs whose size is recorded, `schema` the
    * JSON of the last merge's template, `keys` the key columns.
    */
  private case class Manifest(numBuckets: Int, buckets: Map[Int, Long],
      fence: Option[Long] = None, bytes: Map[Int, Long] = Map.empty,
      schema: Option[String] = None, keys: Seq[String] = Nil,
      runs: Map[Int, Long] = Map.empty, runBytes: Map[Int, Long] = Map.empty) {
    def live: Set[Int] = buckets.keySet ++ runs.keySet

    /** Live bytes, once every base has a recorded size. */
    def liveBytes: Option[Long] =
      Option.when(buckets.keySet.subsetOf(bytes.keySet))(
        buckets.keysIterator.map(bytes).sum + runBytes.valuesIterator.sum)

    /** Version dirs this manifest reads. */
    def referenced: Set[Long] = (buckets.valuesIterator ++ runs.valuesIterator).toSet
  }

  /** Test-only fault injection: called with the name of each durable
    * step a writer has just completed (`data:runs`, `data:bases`,
    * `data:compaction`, `tmp:<file>`, `rename:<file>`). A hook that
    * throws stops the writer right after that step, as a crash would.
    */
  @volatile private[graft] var afterDurableStep: String => Unit = _ => ()

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
    afterDurableStep(s"tmp:${qp.getName}")
    val fc = FileContext.getFileContext(qp.toUri,
      spark.sparkContext.hadoopConfiguration)
    fc.rename(tmp, qp, Options.Rename.OVERWRITE)
    afterDurableStep(s"rename:${qp.getName}")
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

  private def parseManifest(text: String): Manifest = {
    val lines = text.linesIterator.map(_.trim).filter(_.nonEmpty).toSeq
    val k = lines.head.stripPrefix("numBuckets=").toInt
    def field(key: String): Option[String] =
      lines.tail.find(_.startsWith(key)).map(_.stripPrefix(key))
    def pairs(ls: Seq[String]): Map[Int, Long] = ls.map { l =>
      val Array(b, n) = l.split('=')
      b.toInt -> n.toLong
    }.toMap
    def prefixed(prefix: String): Map[Int, Long] =
      pairs(lines.filter(_.startsWith(prefix)).map(_.stripPrefix(prefix)))
    Manifest(k, pairs(lines.filter(_.matches(BucketLine))),
      field("batchId=").map(_.toLong), prefixed("bytes."), field("schema="),
      field("keys=").toSeq.flatMap(_.split(','))
        .map(URLDecoder.decode(_, StandardCharsets.UTF_8)),
      prefixed("run."), prefixed("runbytes."))
  }

  private def readManifest(spark: SparkSession, stateDir: String, v: Long): Manifest =
    parseManifest(readTextFile(spark, manifestPath(stateDir, v)).getOrElse(
      throw new java.io.IOException(
        s"state manifest missing for committed version $v at $stateDir")))

  private def writeManifest(spark: SparkSession, stateDir: String, v: Long,
      m: Manifest): Unit = {
    def lines(prefix: String, xs: Map[Int, Long]) =
      xs.toSeq.sorted.map { case (b, n) => s"$prefix$b=$n" }
    val body = (Seq(s"numBuckets=${m.numBuckets}") ++
      m.fence.map(b => s"batchId=$b") ++
      Option.when(m.keys.nonEmpty)(m.keys
        .map(URLEncoder.encode(_, StandardCharsets.UTF_8)).mkString("keys=", ",", "")) ++
      m.schema.map(js => s"schema=$js") ++
      lines("", m.buckets) ++ lines("bytes.", m.bytes) ++
      lines("run.", m.runs) ++ lines("runbytes.", m.runBytes)).mkString("\n")
    publishTextFile(spark, manifestPath(stateDir, v), body)
  }

  /** Publish version `v`, whose data is already written: manifest
    * first, then the pointer, with the batch-id fence riding the same
    * atomic rename.
    */
  private def publish(spark: SparkSession, stateDir: String, v: Long,
      m: Manifest): Unit = {
    writeManifest(spark, stateDir, v, m)
    publishTextFile(spark, new Path(stateDir, VersionFile),
      v.toString + m.fence.fold("")(b => s":$b"))
  }

  private def bucketDir(stateDir: String, b: Int, v: Long): String =
    s"$stateDir/v$v/$BucketCol=$b"

  /** What `m` holds in `buckets`: each base less the keys its run
    * holds, plus the run's rows that are not tombstones (None when
    * those buckets are empty). The bases of buckets without a run read
    * exactly as a plain parquet read of their files. `schema` None
    * infers the schema from the files.
    */
  private def resolved(spark: SparkSession, stateDir: String, m: Manifest,
      buckets: Int => Boolean, schema: Option[StructType]): Option[DataFrame] = {
    val base = files(spark, stateDir, m.buckets.filter(b => buckets(b._1)), schema)
    files(spark, stateDir, m.runs.filter(b => buckets(b._1)),
        schema.map(_.add(DeletedCol, BooleanType))).fold(base) { run =>
      val live = run.filter(!col(DeletedCol)).drop(DeletedCol)
      Some(base.fold(live)(_.join(run.select(m.keys.map(col): _*), m.keys, "left_anti")
        .unionByName(live, allowMissingColumns = true)))
    }
  }

  /** The parquet read of the bucket dirs `dirs` (bucket → version). */
  private def files(spark: SparkSession, stateDir: String, dirs: Map[Int, Long],
      schema: Option[StructType]): Option[DataFrame] =
    Option.when(dirs.nonEmpty)(schema.fold(spark.read)(spark.read.schema(_))
      .parquet(dirs.toSeq.sorted.map { case (b, bv) => bucketDir(stateDir, b, bv) }: _*))

  /** Latest committed state snapshot (empty schema-less read is the
    * caller's bootstrap concern — pass the template for v0). Reads
    * each bucket from the version dirs that hold its base and run.
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
      version: Long): DataFrame =
    resolved(spark, stateDir, readManifest(spark, stateDir, version), _ => true,
      Some(template.schema)).getOrElse(template.limit(0))

  /** [[stateAt]] without a caller-supplied template: the schema is
    * inferred from the stored bucket files themselves — the
    * inspection/export path, where the reader has no schema handy.
    * Empty state has no stored files to infer from and raises.
    */
  def stateAtInferred(spark: SparkSession, stateDir: String,
      version: Long): DataFrame = {
    val df = resolved(spark, stateDir, readManifest(spark, stateDir, version),
      _ => true, None)
    require(df.nonEmpty,
      s"state v$version at $stateDir is empty — no stored schema to infer")
    df.get
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
      if (m.live.isEmpty) None
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

  /** The one write path, for runs and bases alike: `rows` (with
    * [[BucketCol]]) under `v<v>/`, partitioned by bucket, each bucket
    * written by one task as one file; returns bucket → bytes of what
    * was written. Without one task per bucket every write task emits
    * its own file per bucket its rows fall in, and file
    * create/commit/rename dominates the batch. One bucket needs no
    * exchange (`coalesce(1)`); more go through one exchange on the
    * bucket id, whose bytes are the written bytes.
    */
  private def write(rows: DataFrame, k: Int, stateDir: String, v: Long,
      step: String): Map[Int, Long] = {
    val out = if (k == 1) rows.coalesce(1) else rows.repartition(col(BucketCol))
    out.write.mode("overwrite").partitionBy(BucketCol).parquet(s"$stateDir/v$v")
    afterDurableStep(s"data:$step")
    // A bucket whose keys all got deleted writes no partition dir —
    // it must leave the manifest (absent = empty), so list what the
    // write actually produced instead of assuming the touched set.
    val vPath = new Path(s"$stateDir/v$v")
    val fs = fsFor(rows.sparkSession, vPath)
    fs.listStatus(vPath).iterator
      .filter(_.getPath.getName.startsWith(s"$BucketCol="))
      .map { d =>
        d.getPath.getName.stripPrefix(s"$BucketCol=").toInt ->
          fs.listStatus(d.getPath).iterator
            .filter(f => f.isFile && !f.getPath.getName.startsWith(".") &&
              !f.getPath.getName.startsWith("_"))
            .map(_.getLen).sum
      }.toMap
  }

  /** Merge one batch into the store and publish the next version,
    * writing ONLY the key-buckets the batch touches. `template` fixes
    * the persisted schema (must equal `combine`'s output schema);
    * `combine(stateSlice, batch)` produces the replacement rows for the
    * touched buckets. `numBuckets` is the bucket count of a NEW store;
    * 0, every caller's default, derives it from the batch's size (see
    * the Layout note). An existing store keeps the count its manifest
    * records.
    *
    * Runs: a last-write-wins caller passes `tombstone`, the predicate
    * marking a batch row as a delete, and a `batch` already resolved to
    * one row per key (the key's last change). Such a merge writes a run
    * per touched bucket instead of a base: the bucket's old run less
    * the batch's keys, plus the batch rows, tombstones included. No
    * base is read. Batch rows always replace run rows, which is sound
    * because batches arrive in time order (the same contract that
    * makes CDC batch application associative) and keeps a replayed
    * batch idempotent. It writes bases instead — `combine` over the
    * touched buckets' resolved state, as every merge without
    * `tombstone` does — when the store has no live bucket, when it
    * re-buckets, or when a touched bucket's run has passed
    * 1/[[RunShare]] of its base.
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
    * (small) batch collecting ≤ numBuckets ints to the driver; it is
    * skipped when it cannot narrow anything (one bucket, or no live
    * bucket). The batch is cached only when the merge reads it more
    * than once. A run write reads and writes the touched runs and the
    * batch; a base write reads the touched buckets' bases and runs and
    * writes their state, so its bytes scale with the touched buckets'
    * state, not with the batch. The exception is a merge that
    * re-buckets: it reads and rewrites every bucket at the new count,
    * one full rewrite per doubling of the state, amortized like a
    * hash-table resize.
    */
  def merge(batch: DataFrame, stateDir: String, keys: Seq[String],
      template: DataFrame, numBuckets: Int = 0,
      batchId: Option[Long] = None, tombstone: Option[Column] = None)(
      combine: (DataFrame, DataFrame) => DataFrame): Unit = {
    val spark = batch.sparkSession
    Seq(BucketCol, DeletedCol).foreach { c =>
      require(!template.columns.contains(c),
        s"state schema must not contain reserved column $c")
    }
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
    val rebucket = k != manifest.numBuckets
    val bucketOf = pmod(hash(keys.map(col): _*), lit(k))
    val live = manifest.live

    // discovery is driver-sized by construction (at most k distinct
    // bucket ids) and narrows nothing when re-bucketing, at one bucket
    // or with no live bucket
    val discover = !rebucket && k > 1 && live.nonEmpty
    // the batch is cached only when the merge reads it more than once
    var cached = discover
    if (cached) batch.persist()
    try {
      val read: Set[Int] =
        if (!discover) live
        else live.intersect(batch.select(bucketOf.as("b")).distinct()
          .collect().map(_.getInt(0)).toSet)
      // a base without a recorded size (an older manifest) is rewritten,
      // which records it
      val runs = tombstone.isDefined && !rebucket && live.nonEmpty &&
        read.forall { b =>
          val baseBytes = if (manifest.buckets.contains(b)) manifest.bytes.get(b) else Some(0L)
          baseBytes.exists(manifest.runBytes.getOrElse(b, 0L) * RunShare <= _)
        }
      val oldRuns = manifest.runs.filter { case (b, _) => read(b) }
      // a last-write-wins write reads the batch twice (keys and rows)
      // whenever it has state to replace
      if (!cached && tombstone.isDefined &&
          (if (runs) oldRuns.nonEmpty else read.nonEmpty)) {
        batch.persist()
        cached = true
      }
      val next =
        if (runs) {
          val rows = batch.select(template.columns.map(col) :+
            tombstone.get.as(DeletedCol): _*)
          if (oldRuns.isEmpty) rows
          else files(spark, stateDir, oldRuns,
              Some(template.schema.add(DeletedCol, BooleanType))).get
            .join(batch.select(keys.map(col): _*), keys, "left_anti")
            .unionByName(rows)
        } else
          combine(resolved(spark, stateDir, manifest, read, Some(template.schema))
            .getOrElse(template.limit(0)), batch)
      val v = curV.getOrElse(-1L) + 1
      val written = write(next.withColumn(BucketCol, bucketOf), k, stateDir, v,
        if (runs) "runs" else "bases")
      val base = Manifest(k, manifest.buckets, batchId, manifest.bytes,
        Some(template.schema.json), keys,
        manifest.runs -- read, manifest.runBytes -- read)
      publish(spark, stateDir, v,
        if (runs) base.copy(runs = base.runs ++ written.map { case (b, _) => b -> v },
          runBytes = base.runBytes ++ written)
        else base.copy(buckets = base.buckets -- read ++ written.map { case (b, _) => b -> v },
          bytes = base.bytes -- read ++ written))
    } finally if (cached) batch.unpersist(blocking = true)
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

  /** Fold every pending run into its base, then retire state older
    * than the newest `keep` versions — the vacuum step every
    * copy-on-write table needs: without it a long-running pump
    * accumulates dead bucket copies.
    *
    * The fold publishes one new version (bases only, the batch-id
    * fence carried forward) the way a merge does: data, then manifest,
    * then pointer. So vacuum is a WRITER: it must run where the store's
    * single writer runs (every pump calls it inside its `foreachBatch`)
    * and never beside a live writer, or the two publish the same
    * version. A store without pending runs publishes nothing.
    *
    * Retirement is manifest-aware: a version dir survives as long as
    * ANY retained manifest references it as a base or a run (an
    * untouched bucket keeps its original version dir alive arbitrarily
    * long — that dir still holds live data). Manifests go before the
    * dirs they alone reference, so a crash part-way leaves unreadable
    * data, never a listed version whose files are gone. Readers of
    * retained versions are unaffected (same contract as table-format
    * vacuums: retention must exceed the longest reader).
    */
  def vacuum(spark: SparkSession, stateDir: String, keep: Int = 2): Unit = {
    require(keep >= 1, "must keep at least the current version")
    currentVersion(spark, stateDir).foreach { cur =>
      val m = readManifest(spark, stateDir, cur)
      val v =
        if (m.runs.isEmpty) cur
        else {
          val folded = m.runs.keySet
          val schema = DataType.fromJson(m.schema.get).asInstanceOf[StructType]
          val rows = resolved(spark, stateDir, m, folded, Some(schema)).get
          val written = write(rows.withColumn(BucketCol,
            pmod(hash(m.keys.map(col): _*), lit(m.numBuckets))),
            m.numBuckets, stateDir, cur + 1, "compaction")
          publish(spark, stateDir, cur + 1, m.copy(
            buckets = m.buckets -- folded ++ written.map { case (b, _) => b -> (cur + 1) },
            bytes = m.bytes -- folded ++ written, runs = Map.empty, runBytes = Map.empty))
          cur + 1
        }
      val floor = v - keep + 1
      val referenced: Set[Long] = (math.max(0L, floor) to v).flatMap { mv =>
        readTextFile(spark, manifestPath(stateDir, mv)).toSeq
          .flatMap(parseManifest(_).referenced)
      }.toSet
      val root = new Path(stateDir)
      val fs = fsFor(spark, root)
      def retire(dir: Path, recursive: Boolean)(drop: Long => Boolean): Unit =
        if (fs.exists(dir)) fs.listStatus(dir).foreach { st =>
          val n = st.getPath.getName
          if (n.startsWith("v"))
            n.drop(1).toLongOption.filter(drop).foreach(_ => fs.delete(st.getPath, recursive))
        }
      retire(new Path(stateDir, ManifestDir), recursive = false)(_ < floor)
      retire(root, recursive = true)(ver => ver < floor && !referenced.contains(ver))
    }
  }
}
