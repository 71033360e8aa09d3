package graft.migrate

import graft.Tables
import graft.ops.Transforms
import graft.schema.DdlBuilder
import graft.sources.{JdbcSink, JdbcSnapshot}
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions.{count, expr, lit}

import java.util.concurrent.{Callable, ExecutionException, Executors}
import java.util.concurrent.atomic.AtomicBoolean

/** End-to-end snapshot migration (SURVEY §3.2) — the Spark-native
  * `--migrate-table` path: per-table scan → column skip → WHERE →
  * pluggable transform → sink, with auto-DDL and source/destination
  * row-count reconciliation.
  *
  * Mirrors the reference's TableMigrator loop
  * (tablemigrator.py:154-224 in /root/reference) and the manual's
  * count-verification protocol (docs/manual.md:366-494: migrate
  * 7,694,964 rows, then `SELECT COUNT(*)` must agree on both sides).
  * The reference streams 100k-row batches through one Python
  * process and forks writer processes for parallelism
  * (writer/processwriter.py:28-59); here the scan is a
  * partition-parallel read and the sink a partition-parallel write —
  * no driver-side rows, no batching knobs, the cluster is the
  * parallelism. A table list ([[migrateAll]]) also runs its tables
  * concurrently from the driver, largest first, so small tables of
  * one task each fill the idle cores; the first failure stops further
  * tables from starting.
  */
object Migrator {

  /** One migrated table's reconciliation record. */
  final case class TableMigration(
      table: String,
      srcRows: Long,
      dstRows: Long,
      sparkDdl: String,
      chDdl: String) {
    def reconciled: Boolean = srcRows == dstRows
  }

  /** Per-table migration spec: columns to drop (`--column-skip`),
    * WHERE clause (`--src-tables-where-clauses`), NULL defaults
    * (`--column-default-value`, converter/csvwriteconverter.py:19-33
    * semantics), pluggable transforms (`--ch-converter-*`).
    */
  final case class Spec(
      skipColumns: Map[String, Seq[String]] = Map.empty,
      whereClauses: Map[String, String] = Map.empty,
      defaults: Map[String, Map[String, Any]] = Map.empty,
      transforms: Transforms.TransformRegistry = new Transforms.TransformRegistry)

  /** The transform chain for one table, exposed for reuse by the
    * verification query: scan → skip → where → registered transform.
    */
  def transformed(spark: SparkSession, srcDir: String, table: String,
      spec: Spec): DataFrame = {
    val src = Tables.load(spark, srcDir, table)
    val pruned = Transforms.skipColumns(
      spec.skipColumns.getOrElse(table, Nil))(src)
    val filtered = spec.whereClauses.get(table)
      .fold(pruned)(w => pruned.filter(expr(w)))
    val filled = spec.defaults.get(table)
      .fold(filtered)(d => Transforms.fillDefaults(d)(filtered))
    spec.transforms(table, filled)
  }

  /** Migrate one table into `dstDir/<table>.parquet`; returns the
    * reconciliation record. The source count piggybacks on the write
    * pass via `observe` — the rows are counted as they stream through
    * the sink job, so the source is scanned exactly ONCE (at 100 TB a
    * second counting scan doubles the read). The destination count
    * re-reads the sink — the manual's both-sides COUNT(*) protocol,
    * not a same-frame tautology.
    */
  def migrateTable(spark: SparkSession, srcDir: String, dstDir: String,
      table: String, db: String = "default",
      spec: Spec = Spec(),
      dstTable: Option[String] = None): TableMigration = {
    // --dst-table / --dst-table-prefix (clioptions.py:454-465 in
    // /root/reference): the destination may be named independently of
    // the source table; DDL and the sink path follow the dst name
    migrateFrame(spark, transformed(spark, srcDir, table, spec), dstDir,
      table, dstTable.getOrElse(table), db)
  }

  /** Migrate one LIVE JDBC table into `dstDir/<table>.parquet` — the
    * reference's actual `--migrate-table` flow (MySQL server-side
    * cursor → sink, tablemigrator.py:180-224) with the cursor loop
    * replaced by a partitioned JDBC range scan (JdbcSnapshot). Same
    * single-scan reconciliation protocol as [[migrateTable]]: the
    * source count rides the write as an observed metric, the
    * destination recount is an independent re-read. Exercised
    * against embedded Derby in MigratorSpec.
    */
  def migrateJdbcTable(spark: SparkSession,
      jdbcOpts: Map[String, String], dstDir: String, table: String,
      db: String = "default",
      transform: DataFrame => DataFrame = identity): TableMigration =
    migrateFrame(spark, transform(JdbcSnapshot.read(spark, jdbcOpts)),
      dstDir, table, table, db)

  /** The body both parquet-destination faces share: DDL for
    * `dstName`, one write of `src` to `dstDir/<dstName>.parquet` with
    * the source count observed on it, then the re-read recount.
    */
  private def migrateFrame(spark: SparkSession, src: DataFrame,
      dstDir: String, table: String, dstName: String,
      db: String): TableMigration = {
    val srcObs = Observation(s"graft_migrate_$table")
    val out = src.observe(srcObs, count(lit(1)).as("rows"))
    val sparkDdl = DdlBuilder.createTableSpark(db, dstName, out.schema)
    val chDdl = DdlBuilder.createTableClickHouse(db, dstName, out.schema)
    val dst = s"$dstDir/$dstName.parquet"
    out.write.mode("overwrite").parquet(dst)
    TableMigration(table,
      srcRows = srcObs.get("rows").asInstanceOf[Long],
      dstRows = spark.read.parquet(dst).count(),
      sparkDdl = sparkDdl, chDdl = chDdl)
  }

  /** Migrate one table INTO a live JDBC destination — the direction
    * the reference actually ships (parquet/MySQL → ClickHouse INSERT
    * pump, writer/chwriter.py:47-112): transform chain → batched
    * parallel JDBC INSERTs (JdbcSink) → independent COUNT(*) re-read
    * of the destination for reconciliation (docs/manual.md:366-494
    * protocol). The destination table must exist (pair with
    * DdlBuilder / `--dst-create-table`); `mode = Append` matches the
    * reference's insert-only pump.
    */
  def migrateTableToJdbc(spark: SparkSession, srcDir: String, table: String,
      url: String, dbtable: String, spec: Spec = Spec(),
      db: String = "default", batchSize: Int = 10000,
      driver: Option[String] = None,
      numPartitions: Option[Int] = None): TableMigration = {
    val out = transformed(spark, srcDir, table, spec)
    val sparkDdl = DdlBuilder.createTableSpark(db, table, out.schema)
    val chDdl = DdlBuilder.createTableClickHouse(db, table, out.schema)
    JdbcSink.write(out, url, dbtable,
      batchSize = batchSize, driver = driver, numPartitions = numPartitions)
    // the parquet path piggybacks the source count on the write via
    // observe(); the JDBC writer executes as an RDD action outside an
    // observable SQL execution, so the source count is its own scan —
    // acceptable because the INSERT pump, not the re-read, dominates
    // this direction's cost
    val readBack = JdbcSnapshot.read(spark,
      Map("url" -> url, "dbtable" -> dbtable) ++ driver.map("driver" -> _))
    TableMigration(table,
      srcRows = out.count(),
      dstRows = readBack.count(),
      sparkDdl = sparkDdl, chDdl = chDdl)
  }

  /** One re-migration's record: the detected drift (added/widened
    * columns), the retained-vs-incoming row split, and the both-sides
    * count for the reconciliation protocol.
    */
  final case class Remigration(
      table: String,
      addedColumns: Seq[String],
      widenedColumns: Seq[String],
      retainedRows: Long,
      incomingRows: Long,
      dstRows: Long) {
    def reconciled: Boolean = retainedRows + incomingRows == dstRows
  }

  /** Re-migrate a table AFTER source schema drift — the story the
    * reference explicitly punts ("DDL changes are not supported",
    * docs/manual.md:261-262; `freeze_schema` pins the first-seen
    * schema, mysqlreader.py:130 in /root/reference). The managed
    * table at `dstDir/<table>.parquet` (written by a prior
    * [[migrateTable]]) is evolved to the drifted source schema via
    * [[SchemaDrift.diff]] — new columns take NULL on retained rows,
    * widened columns cast exactly; destructive drift throws before
    * anything is written — then merged with the incoming snapshot by
    * primary key: incoming rows REPLACE same-key retained rows
    * (re-snapshot of an overlapping scope), disjoint scopes append
    * (the reference's WHERE-partitioned incremental migrations).
    *
    * DELETE semantics: rows deleted at the source are RETAINED — the
    * merge is snapshot-additive (left-anti keeps every managed row
    * whose key is absent from the incoming scope, then the incoming
    * rows union in). This matches the reference's migrate, which only
    * ever INSERTs (tablemigrator.py:180-224 has no delete path);
    * propagating deletes is the CDC pump's job ([[graft.streaming
    * .StreamingCdc]] applies op=delete), not the re-snapshot's, which
    * cannot distinguish "deleted at the source" from "outside this
    * migration's WHERE scope". To rebuild from scratch instead, run
    * [[migrateTable]] (mode=overwrite) — the full-replace path.
    *
    * Scale shape: the evolution is a cast-only projection riding the
    * merge scan (no separate rewrite pass); the PK anti-join shuffles
    * both sides by key once — the same shape as the CDC merge — and
    * the merged result streams to a sibling directory which is then
    * swapped in by [[swapIn]]'s three-step rename (old aside → new
    * in → delete old last), so a COMPLETE table exists at a findable
    * name at every instant: a crash during the write leaves the old
    * table live at `dst`; between the renames leaves it at
    * `dst.__old` (auto-recovered by the next remigrate via
    * [[recoverSwap]]); after the second rename the new table is live
    * and only the obsolete copy remains to delete.
    */
  def remigrate(spark: SparkSession, srcDir: String, dstDir: String,
      table: String, pk: Seq[String], spec: Spec = Spec(),
      dstTable: Option[String] = None): Remigration = {
    require(pk.nonEmpty, "remigrate needs a primary key to merge on")
    val dstName = dstTable.getOrElse(table)
    val dst = s"$dstDir/$dstName.parquet"
    val hPath = new org.apache.hadoop.fs.Path(dst)
    val fs = hPath.getFileSystem(spark.sessionState.newHadoopConf())
    // refuse non-atomic-rename stores BEFORE any work (not at swap
    // time, after the full merge has already been written)
    requireAtomicRename(fs, hPath)
    // heal a crash window left by a previous run BEFORE reading dst
    recoverSwap(fs, hPath)
    val incoming = transformed(spark, srcDir, table, spec)
    val existing = spark.read.parquet(dst)
    val drift = SchemaDrift.diff(existing.schema, incoming.schema)
    val inFields = incoming.schema.fields.toSeq
    val evolvedOld = existing.select(inFields.map { f =>
      if (existing.columns.contains(f.name))
        existing(f.name).cast(f.dataType).as(f.name)
      else lit(null).cast(f.dataType).as(f.name)
    }: _*)
    val retainedObs = Observation(s"graft_remigrate_retained_$table")
    val incomingObs = Observation(s"graft_remigrate_incoming_$table")
    val merged = evolvedOld
      .join(incoming.select(pk.map(incoming(_)): _*), pk, "left_anti")
      .observe(retainedObs, count(lit(1)).as("rows"))
      .unionByName(incoming.observe(incomingObs, count(lit(1)).as("rows")))
    val tmp = s"$dst.__remigrate"
    merged.write.mode("overwrite").parquet(tmp)
    swapIn(fs, new org.apache.hadoop.fs.Path(tmp), hPath)
    Remigration(table,
      addedColumns = drift.added.map(_.name),
      widenedColumns = drift.widened.map(_._1),
      retainedRows = retainedObs.get("rows").asInstanceOf[Long],
      incomingRows = incomingObs.get("rows").asInstanceOf[Long],
      dstRows = spark.read.parquet(dst).count())
  }

  private def oldPathOf(dst: org.apache.hadoop.fs.Path) =
    new org.apache.hadoop.fs.Path(dst.toString + ".__old")

  /** Filesystem schemes whose `rename` is a COPY + DELETE, not an
    * atomic directory move (S3A/S3N, the GCS connector, OSS/COS,
    * Swift, the wasb Azure blob driver). The three-step swap's crash
    * safety hinges on single-rename atomicity: on these stores a
    * crash mid-rename can leave a PARTIAL `dst` alongside a remainder
    * at `__old`, which [[recoverSwap]] would then delete (`dst`
    * exists, so it looks like a finished step 2) — silent data loss.
    * Refused up front instead.
    */
  private val NonAtomicRenameSchemes =
    Set("s3", "s3a", "s3n", "gs", "oss", "cos", "swift", "wasb", "wasbs")

  private[graft] def requireAtomicRename(
      fs: org.apache.hadoop.fs.FileSystem,
      dst: org.apache.hadoop.fs.Path): Unit = {
    val scheme = Option(dst.toUri.getScheme)
      .orElse(Option(fs.getUri.getScheme))
      .map(_.toLowerCase).getOrElse("file")
    if (NonAtomicRenameSchemes(scheme))
      throw new IllegalStateException(
        s"remigrate: $dst lives on '$scheme', whose rename is copy+delete, " +
          "not an atomic directory move — a crash mid-swap could lose data " +
          "silently. Re-migrate into an atomic-rename filesystem (HDFS, " +
          "posix local) and copy the result over, or rebuild with " +
          "migrateTable (mode=overwrite).")
  }

  /** Three-step swap of the freshly-written `tmp` table into `dst`:
    * (1) rename `dst` aside to `dst.__old`, (2) rename `tmp` → `dst`,
    * (3) delete `dst.__old`. A single directory rename is atomic on
    * HDFS-semantics filesystems — a HARD requirement, enforced by
    * [[requireAtomicRename]] (object stores emulate rename as
    * copy+delete and are refused) — and deletion happens ONLY after
    * the new table is live, so every crash point leaves a complete
    * table at a findable name (`dst` before step 1 and after step 2;
    * `dst.__old` between them, which [[recoverSwap]] heals). A failed
    * step-2 rename rolls the old table back into place before
    * throwing; if even the rollback rename fails, the thrown message
    * says exactly where the complete table sits (`__old`) and that
    * the next remigrate will recover it — it never claims a
    * restoration that did not happen.
    *
    * SINGLE WRITER per table is a contract, not a detected condition:
    * two concurrent remigrates of the same table can interleave so
    * that one's stale-`__old` clear (below) deletes the other's
    * freshly-made aside copy during that peer's crash window. Serialize
    * remigrates per destination table (the reference's pump holds the
    * same stance: one process per table pipeline, main.py:97-148).
    */
  private[graft] def swapIn(fs: org.apache.hadoop.fs.FileSystem,
      tmp: org.apache.hadoop.fs.Path,
      dst: org.apache.hadoop.fs.Path): Unit = {
    requireAtomicRename(fs, dst)
    val old = oldPathOf(dst)
    // a stale __old can only be a prior run's step-3 leftover (its dst
    // is complete — recoverSwap semantics); clear it so step 1's
    // rename cannot collide
    if (fs.exists(old)) fs.delete(old, true)
    if (!fs.rename(dst, old))
      throw new IllegalStateException(
        s"remigrate swap: failed to move $dst aside to $old")
    // FileSystem.rename signals failure BOTH ways depending on the
    // implementation (false on HDFS, IOException subclasses on local/
    // object stores) — roll back on either, or the old table would be
    // stranded at __old with nothing at dst
    def rollbackNote(): String = {
      val restored =
        try fs.rename(old, dst)
        catch { case _: java.io.IOException => false }
      if (restored) "old table restored"
      else s"old table STRANDED at $old — rollback rename failed too; " +
        "the next remigrate's recovery will restore it"
    }
    val renamedIn =
      try fs.rename(tmp, dst)
      catch { case e: java.io.IOException =>
        throw new IllegalStateException(
          s"remigrate swap: failed to move $tmp into $dst " +
            s"(${rollbackNote()})", e)
      }
    if (!renamedIn)
      throw new IllegalStateException(
        s"remigrate swap: failed to move $tmp into $dst " +
          s"(${rollbackNote()})")
    fs.delete(old, true)
  }

  /** Heal a crash window left by a previous [[swapIn]]: if
    * `dst.__old` exists and `dst` does not, the process died between
    * the two renames — the complete old table is at `__old`, so
    * rename it back (the interrupted run's `tmp` output is stale and
    * will be overwritten by the retry). If both exist, the crash was
    * after the new table went live — just finish step 3. Idempotent;
    * called at the top of every [[remigrate]].
    */
  private[graft] def recoverSwap(fs: org.apache.hadoop.fs.FileSystem,
      dst: org.apache.hadoop.fs.Path): Unit = {
    val old = oldPathOf(dst)
    if (fs.exists(old)) {
      if (fs.exists(dst)) fs.delete(old, true)
      else if (!fs.rename(old, dst))
        throw new IllegalStateException(
          s"remigrate recovery: failed to restore $old to $dst")
    }
  }

  /** Throws unless `m`'s source and destination counts agree — the
    * reference's per-table exception abort (tablemigrator.py:217-222).
    * Returns `m`.
    */
  def requireReconciled(m: TableMigration): TableMigration = {
    if (!m.reconciled)
      throw new IllegalStateException(s"migration count mismatch for " +
        s"${m.table}: src=${m.srcRows} dst=${m.dstRows}")
    m
  }

  /** Migrate a table list (the reference's db→table loop,
    * tablemigrator.py:154-178), up to `defaultParallelism` tables at
    * once. Each table is one [[migrateTable]]: one observed write,
    * then the re-read recount, checked by [[requireReconciled]].
    *
    * At one Spark task per small table, a serial loop leaves most
    * cores idle; here the driver runs the tables on a fixed pool of
    * `min(tables.size, defaultParallelism)` threads, made inside the
    * call so they inherit the caller's local properties (job group,
    * description) and active session. Tables start largest first by
    * Catalyst's size estimate (no job), so the long pole starts at
    * once. Records come back in list order.
    *
    * Fails loudly like the reference's per-table abort: after the
    * first failure, a thrown exception or a count mismatch, no further
    * table starts; tables already running finish; then the first
    * failure in list order is rethrown as it was thrown. Duplicate
    * tables or destination names are refused before any table starts,
    * since two runs would share an output path.
    */
  def migrateAll(spark: SparkSession, srcDir: String, dstDir: String,
      tables: Seq[String], db: String = "default",
      spec: Spec = Spec(),
      dstName: String => String = identity): Seq[TableMigration] = {
    val dsts = tables.map(dstName)
    for ((what, names) <- Seq("table" -> tables, "destination" -> dsts)) {
      val dup = names.diff(names.distinct).distinct
      require(dup.isEmpty, s"migrateAll: duplicate $what ${dup.mkString(", ")}")
    }
    val frames = tables.map(transformed(spark, srcDir, _, spec))
    val largestFirst = tables.indices.sortBy(
      frames(_).queryExecution.optimizedPlan.stats.sizeInBytes)(Ordering[BigInt].reverse)
    val failed = new AtomicBoolean(false)
    val pool = Executors.newFixedThreadPool(
      math.max(1, math.min(tables.size, spark.sparkContext.defaultParallelism)))
    try {
      val runs = largestFirst.map { i =>
        i -> pool.submit(new Callable[Option[TableMigration]] {
          def call(): Option[TableMigration] =
            if (failed.get) None
            else try Some(requireReconciled(migrateFrame(spark, frames(i), dstDir,
                tables(i), dsts(i), db)))
            catch { case e: Throwable => failed.set(true); throw e }
        })
      }.sortBy(_._1)
      val outcomes = runs.map { case (_, run) =>
        try Right(run.get) catch { case e: ExecutionException => Left(e.getCause) }
      }
      outcomes.collectFirst { case Left(e) => throw e }
      outcomes.collect { case Right(Some(m)) => m }
    } finally pool.shutdown()
  }
}
