package graft.app

import graft.Tables
import graft.cdc.ChangeFeed
import graft.migrate.Migrator
import graft.schema.{CatalogReader, DdlBuilder}
import graft.streaming.StreamingCdc
import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions.{col, count, filter, lit, size, when}

/** Thin config + run-mode dispatcher (SURVEY §2.13) — the
  * Spark-native analog of the reference's Main/Config/CLIOpts stack
  * (main.py:97-148, clioptions.py:639-751, config.py:35-216 in
  * /root/reference): the create-sql / migrate / pump modes are
  * combinable in one invocation and execute in the reference's
  * order (create-sql → migrate → pump, main.py:104-148). Option
  * semantics follow clioptions.py, including the config-file
  * aggregation (CLI > file > defaults) and the service surface
  * (--log-file/--log-level/--pid-file/--daemon/--install); process
  * BACKGROUNDING alone stays with `spark-submit`/systemd — a JVM
  * cannot double-fork (daemon.py:18-63), so --daemon here means
  * "stay resident on the nice-pause cadence".
  */
object GraftApp {

  final case class Config(
      srcDir: String,
      dstDir: String,
      db: String = "default",
      tables: Seq[String] = Nil,            // --src-tables
      tablePrefixes: Seq[String] = Nil,     // --src-tables-prefixes
      columnSkip: Map[String, Seq[String]] = Map.empty, // --column-skip
      whereClauses: Map[String, String] = Map.empty, // --src-tables-where-clauses
      defaults: Map[String, Map[String, Any]] = Map.empty, // --column-default-value
      catalogCsv: Option[String] = None,    // INFORMATION_SCHEMA fixture
      createTableSql: Boolean = false,      // --create-table-sql
      createTableTemplate: Boolean = false, // --create-table-sql-template
      dstCreateTable: Boolean = false,      // --dst-create-table
      migrateTable: Boolean = false,        // --migrate-table
      csvExport: Boolean = false,           // --csvpool-style CSV spill
      pumpData: Boolean = false,            // --pump-data
      debeziumFeed: Option[String] = None,  // --debezium-feed (JSON-lines dir)
      srcJdbcUrl: Option[String] = None,    // --src-jdbc-url (live pump)
      srcJdbcTable: Option[String] = None,  // --src-jdbc-table
      srcJdbcKey: Option[String] = None,    // --src-jdbc-key (monotonic PK)
      srcJdbcDriver: Option[String] = None, // --src-jdbc-driver
      pk: Seq[String] = Seq("user_id"),     // --pk
      pkFor: Map[String, Seq[String]] = Map.empty, // --pk-for=t:c1+c2;t2:id
      orderCols: Seq[String] = Seq("ts", "event_id"),
      srcWait: Boolean = false,             // --src-wait
      nicePause: String = "60 seconds",     // --nice-pause
      logFile: Option[String] = None,       // --log-file
      logLevel: Option[String] = None,      // --log-level
      pidFile: Option[String] = None,       // --pid-file
      daemon: Boolean = false,              // --daemon
      install: Boolean = false,             // --install
      stateDir: Option[String] = None,      // --state-dir (inspection)
      stateVersions: Boolean = false,       // --state-versions
      stateExport: Option[String] = None,   // --state-export=<outDir>
      stateVersion: Option[Long] = None,    // --state-version=<N>
      createTableJson: Boolean = false,     // --create-table-json-template
      dstTable: Option[String] = None,      // --dst-table
      dstTablePrefix: Option[String] = None,// --dst-table-prefix
      converterClasses: Map[String, String] = Map.empty, // --converter-class=t:fqcn
      dry: Boolean = false,                 // --dry
      maxRowsPerBatch: Option[Long] = None, // --max-rows-per-batch
      srcJdbcStartKey: Option[Long] = None, // --src-jdbc-start-key
      positionFile: Option[String] = None,  // --binlog-position-file
      srcResume: Boolean = false,           // --src-resume
      withCreateDatabase: Boolean = false,  // --with-create-database
      csvPrefix: Option[String] = None,     // --csvpool-file-path-prefix
      dstJdbcUrl: Option[String] = None,    // --dst-jdbc-url (live sink)
      dstJdbcDriver: Option[String] = None, // --dst-jdbc-driver
      scd2: Boolean = false,                // --scd2 (history view)
      scd2Value: Option[String] = None,     // --scd2-value (tracked column)
      scd2Key: Option[String] = None,       // --scd2-key (default: pk head)
      scd2Ts: Option[String] = None,        // --scd2-ts (default: order head)
      scd2Tie: Option[String] = None,       // --scd2-tie (default: order tail)
      pplFilter: Boolean = false,           // --ppl-filter (CCNet-style)
      pplVocab: Int = 1000,                 // --ppl-vocab
      pplBuckets: Int = 3,                  // --ppl-buckets
      pplDrop: Seq[String] = Seq("tail"),   // --ppl-drop=tail[,middle]
      pplGroupCol: String = "lang",         // --ppl-group-col
      dedup: Boolean = false,               // --dedup (exact + near-dup)
      dedupK: Int = 3,                      // --dedup-k (shingle size)
      dedupJaccard: Double = 0.5,           // --dedup-jaccard (threshold)
      contaminationProbes: Option[String] = None, // --contamination=<dir>
      contaminationK: Int = 3,              // --contamination-k
      docIdCol: String = "doc_id",          // --doc-id-col
      textCol: String = "text",             // --text-col
      semdedup: Boolean = false,            // --semdedup (SemDeDup prune)
      semdedupClusters: Int = 8,            // --semdedup-clusters
      semdedupIters: Int = 2,               // --semdedup-iters
      semdedupMinCos: Double = 0.4,         // --semdedup-min-cos
      embedContaminationProbes: Option[String] = None, // --embed-contamination=<dir>
      embedContaminationCos: Double = 0.25, // --embed-contamination-cos
      annRecall: Option[String] = None,     // --ann-recall=int8|ivf|pq|lsh
      annK: Int = 10,                       // --ann-k (top-k depth)
      annQueryMod: Int = 100,               // --ann-queries (vec_id % mod == 0)
      vecIdCol: String = "vec_id",          // --vec-id-col
      embeddingCol: String = "embedding",   // --embedding-col
      overlapReport: Boolean = false,       // --overlap-report
      overlapGroupCol: String = "source",   // --overlap-group-col
      noveltyReport: Boolean = false,       // --novelty-report
      remigrate: Boolean = false,           // --remigrate
      agreementReport: Boolean = false,     // --agreement-report
      agreementGold: String = "lang",       // --agreement-gold=<col>
      agreementPred: Option[String] = None, // --agreement-pred=<col>;
                                            // default: built-in langId
                                            // over --text-col (q153)
      scoreReport: Boolean = false,         // --score-report
      scoreCol: Option[String] = None,      // --score-col=<integral col>;
                                            // default: built-in marker-hit
                                            // count over --text-col (the
                                            // score q21's minHits cuts)
      scoreLabel: Option[String] = None,    // --score-label=<0/1 col>;
                                            // default: gold==--score-positive
      scorePositive: String = "en",         // --score-positive=<value>
      scoreClasses: Option[String] = None,  // --score-classes=<map col>:
                                            // per-class probability map;
                                            // float maps are quantized to
                                            // milli-units here (largest
                                            // remainder), integral maps
                                            // must already sum to 1000
      vocabReport: Boolean = false,         // --vocab-report
      driftReport: Boolean = false,         // --drift-report
      driftCol: String = "n_chars",         // --drift-col=<integral col>
      driftGroupVal: String = "src0",       // --drift-group-val=<value>;
                                            // the --overlap-group-col slice
                                            // KS-compared against the rest
      pumps: Seq[String] = Nil,             // --pumps=novelty,score,... —
                                            // the UNIFIED monitor: one
                                            // reader folds every listed
                                            // census per arriving file
      probeDir: Option[String] = None,      // --probe-dir=<parquet dir>;
                                            // probes for the monitor's
                                            // contamination leg
      vacuumEvery: Option[Int] = None,      // --vacuum-every=N batches
                                            // (0 = off); default 50 for
                                            // resident runs (--daemon/
                                            // --src-wait), off for
                                            // drain-and-exit runs
      vacuumKeep: Int = 4)                  // --vacuum-keep=N readable
                                            // state versions retained

  final case class Result(
      ddl: Seq[String] = Nil,
      templates: Seq[String] = Nil,
      createdTables: Seq[String] = Nil,
      migrations: Seq[Migrator.TableMigration] = Nil,
      csvDirs: Seq[String] = Nil,
      pumpedStateDir: Option[String] = None,
      installedFiles: Seq[String] = Nil,
      stateVersionList: Seq[Long] = Nil,
      stateExportDir: Option[String] = None,
      stateExportRows: Option[Long] = None,
      jsonTemplates: Seq[String] = Nil,     // --create-table-json-template
      dryPlanned: Seq[String] = Nil,        // --dry: what WOULD have run
      curations: Seq[Curation] = Nil,       // batch curation modes, then
                                            // --pumps censuses
      remigrations: Seq[Migrator.Remigration] = Nil) // --remigrate

  /** One table-level curation run: `mode` over `table`, `srcRows` in,
    * `outRows` written to `outDir`.
    */
  final case class Curation(table: String, mode: String, srcRows: Long,
      outRows: Long, outDir: String)

  /** Resolve the table work-list: UNION of explicit tables and
    * prefix matches (the reference's additive semantics,
    * tableprocessor.py:118-144), against the catalog fixture when
    * given, else against tables discovered in the source dir.
    */
  def resolveTables(spark: SparkSession, c: Config): Seq[String] =
    resolveAgainst(c, c.catalogCsv.map(CatalogReader.fromCsv(spark, _)))

  private def resolveAgainst(c: Config,
      catalog: Option[Map[String, Seq[graft.schema.ColumnDesc]]]): Seq[String] =
    catalog match {
      case Some(cat) =>
        CatalogReader.resolveTables(cat, c.tables, c.tablePrefixes)
      case None =>
        val discovered = Tables.all.filter(t =>
          new java.io.File(Tables.path(c.srcDir, t)).exists())
        val unknown = c.tables.filterNot(discovered.contains)
        require(unknown.isEmpty,
          s"tables not found in ${c.srcDir}: ${unknown.mkString(", ")}")
        if (c.tables.isEmpty && c.tablePrefixes.isEmpty) discovered
        else discovered.filter(t =>
          c.tables.contains(t) || c.tablePrefixes.exists(t.startsWith))
    }

  /** Python-logging level names the reference accepts
    * (clioptions.py:187-192) → log4j levels for
    * `sparkContext.setLogLevel`.
    */
  private[app] val LogLevels = Map(
    "debug" -> "DEBUG", "info" -> "INFO", "warning" -> "WARN",
    "error" -> "ERROR", "critical" -> "ERROR", "notset" -> "INFO")

  /** Append-only service log in the reference's line format
    * (`asctime:LEVEL:message`, main.py:40-44). Driver-side process
    * concern — data-plane logging stays with Spark's own log4j.
    */
  private[app] def logLine(c: Config, level: String, msg: String): Unit =
    c.logFile.foreach { path =>
      val p = java.nio.file.Paths.get(path)
      Option(p.getParent).foreach(java.nio.file.Files.createDirectories(_))
      java.nio.file.Files.writeString(p,
        s"${java.time.Instant.now()}:${level.toUpperCase}:$msg\n",
        java.nio.file.StandardOpenOption.CREATE,
        java.nio.file.StandardOpenOption.APPEND)
    }

  /** `--binlog-position-file` + `--src-resume` (clioptions.py:212-220,
    * 375-379; config.py:40-58; mysqlreader.py:356-360 in
    * /root/reference): the pump WRITES `keyColumn:maxKey` after every
    * applied batch, and a fresh pump started with `--src-resume`
    * READS it as the bootstrap key. An unreadable/absent file means
    * start from scratch — same forgiving stance as the reference —
    * and a committed streaming checkpoint always wins over both.
    */
  private[graft] def readPositionFile(c: Config): Option[Long] =
    if (!c.srcResume) None
    else c.positionFile.flatMap { p =>
      try {
        val s = java.nio.file.Files.readString(java.nio.file.Paths.get(p)).trim
        s.split(":", 2) match {
          case Array(_, v) => v.trim.toLongOption
          case _ => s.toLongOption
        }
      } catch { case _: java.io.IOException => None }
    }

  private[app] def writePositionFile(path: String, keyCol: String,
      maxKey: Long): Unit = {
    val p = java.nio.file.Paths.get(path)
    Option(p.getParent).foreach(java.nio.file.Files.createDirectories(_))
    java.nio.file.Files.writeString(p, s"$keyCol:$maxKey")
  }

  /** `--daemon` keeps the pump resident on the nice-pause cadence —
    * the JVM/Spark analog of the reference's double-fork service loop
    * (daemon.py:18-63). Actual process backgrounding belongs to
    * spark-submit / systemd (the generated unit file), not the app.
    */
  private[graft] def stayUp(c: Config): Boolean = c.srcWait || c.daemon

  /** Effective state-vacuum cadence (batches between vacuums, 0 =
    * never). An explicit `--vacuum-every` always wins; otherwise
    * RESIDENT runs (`--daemon`/`--src-wait` — exactly the deployments
    * whose copy-on-write pumps fold state every batch, forever)
    * default to every 50 batches, and drain-and-exit runs skip the
    * vacuum (their version count is bounded by the drain).
    */
  private[graft] def vacuumCadence(c: Config): Int =
    c.vacuumEvery.getOrElse(if (stayUp(c)) 50 else 0)

  /** `--install` analog (main.py:57-95): the reference copies its
    * init.d script + example config into /etc; under Spark the
    * service wrapper is a systemd unit around spark-submit. Files are
    * generated under `dstDir/service/` (no /etc writes) for the
    * operator to install.
    */
  private[app] def installService(dstDir: String): Seq[String] = {
    val dir = java.nio.file.Paths.get(dstDir, "service")
    java.nio.file.Files.createDirectories(dir)
    val conf = dir.resolve("graft-example.conf")
    val unit = dir.resolve("graft.service")
    java.nio.file.Files.writeString(conf,
      """# graft example config (CLI > file > defaults; see --config)
        |[graft]
        |src-dir = /data/src
        |dst-dir = /data/out
        |dst-schema = default
        |migrate-table = no
        |pump-data = yes
        |src-wait = yes
        |nice-pause = 60 seconds
        |pk = user_id
        |""".stripMargin)
    java.nio.file.Files.writeString(unit,
      s"""[Unit]
         |Description=graft replication pump
         |After=network.target
         |
         |[Service]
         |Type=simple
         |ExecStart=spark-submit --class graft.app.GraftApp graft.jar --config=${conf.toAbsolutePath} --daemon --log-file=/var/log/graft/graft.log --pid-file=/var/run/graft/graft.pid
         |Restart=on-failure
         |
         |[Install]
         |WantedBy=multi-user.target
         |""".stripMargin)
    Seq(unit.toString, conf.toString)
  }

  /** Execute the selected modes in reference order. */
  def run(spark: SparkSession, c: Config): Result = {
    validate(c)
    // process-level surface first, like the reference's startup order
    // (logging config → pidfile → dispatch, main.py:39-73)
    c.logLevel.foreach(l => spark.sparkContext.setLogLevel(LogLevels(l)))
    logLine(c, "info", "Starting")
    c.pidFile.foreach { path =>
      val p = java.nio.file.Paths.get(path)
      Option(p.getParent).foreach(java.nio.file.Files.createDirectories(_))
      java.nio.file.Files.writeString(p, s"${ProcessHandle.current().pid()}\n")
      p.toFile.deleteOnExit() // the atexit delete_pidfile analog
    }
    if (c.install) return Result(installedFiles = installService(c.dstDir))
    // state inspection (driver-only ops surface over the pump's CoW
    // store): list the time-travelable versions and/or export one as
    // plain parquet — the debugging/audit companion of --pump-data
    if (c.stateVersions || c.stateExport.isDefined) {
      val sd = c.stateDir.getOrElse(throw new IllegalArgumentException(
        "--state-versions/--state-export require --state-dir"))
      val versions = graft.streaming.BucketStateStore.availableVersions(spark, sd)
      val exported = c.stateExport.map { out =>
        val v = c.stateVersion.getOrElse(versions.lastOption.getOrElse(
          throw new IllegalArgumentException(s"no committed state at $sd")))
        val df = graft.streaming.BucketStateStore.stateAtInferred(spark, sd, v)
        df.write.mode("overwrite").parquet(out)
        out -> spark.read.parquet(out).count()
      }
      return Result(stateVersionList = versions,
        stateExportDir = exported.map(_._1),
        stateExportRows = exported.map(_._2))
    }
    // catalog metadata is driver-sized; parse the fixture once, not
    // once per table (and reuse it for work-list resolution)
    val catalog = c.catalogCsv.map(CatalogReader.fromCsv(spark, _))
    val tables = resolveAgainst(c, catalog)
    // --dst-table names ONE destination (clioptions.py:454-459); a
    // multi-table work list would silently overwrite it table by table
    require(c.dstTable.isEmpty || tables.sizeIs <= 1,
      s"--dst-table names a single destination but ${tables.size} source " +
        s"tables resolved (${tables.mkString(", ")}) — use --dst-table-prefix")
    def dstNameFor(t: String): String =
      c.dstTable.getOrElse(c.dstTablePrefix.getOrElse("") + t)
    // --converter-class plugins resolve reflectively at startup
    val registry = new graft.ops.Transforms.TransformRegistry
    c.converterClasses.foreach { case (t, cls) =>
      registry.register(t, graft.ops.Transforms.converterInstance(cls))
    }
    val spec = Migrator.Spec(c.columnSkip, c.whereClauses, c.defaults, registry)
    // the checks that need each table's key or schema, also made
    // before --dry returns
    tables.foreach { t =>
      val pk = c.pkFor.getOrElse(t, c.pk)
      require(!c.remigrate || pk.nonEmpty, s"--remigrate: no primary key " +
        s"for table $t (--pk is empty and no --pk-for entry names one)")
      require(!c.scd2 || c.scd2Key.isDefined || pk.nonEmpty, s"--scd2: no " +
        s"key column for table $t (--pk is empty and no --pk-for entry " +
        "names one)")
      if (c.scoreReport) c.scoreClasses.foreach(
        classConfCol(Migrator.transformed(spark, c.srcDir, t, spec).schema, _))
      if (c.pumps.contains("classes"))
        classConfCol(Tables.load(spark, c.srcDir, t).schema, c.scoreClasses.get)
    }

    def schemaFor(t: String) = catalog match {
      case Some(cat) => CatalogReader.schemaOf(cat, t,
        c.columnSkip.getOrElse(t, Nil).toSet, chCompat = true)
      case None => Migrator.transformed(spark, c.srcDir, t, spec).schema
    }

    val ddl: Seq[String] =
      if (!c.createTableSql) Nil
      else {
        val tableDdl = tables.flatMap { t =>
          val schema = schemaFor(t)
          Seq(DdlBuilder.createTableSpark(c.db, t, schema),
            DdlBuilder.createTableClickHouse(c.db, t, schema))
        }
        // --with-create-database (clioptions.py:270-275): CREATE
        // DATABASE is opt-in, matching the reference default
        if (c.withCreateDatabase) DdlBuilder.createDatabase(c.db) +: tableDdl
        else tableDdl
      }

    // --create-table-sql-template (D1): placeholder DDL for manual
    // editing (tablesqlbuilder.py:78-106)
    val templates: Seq[String] =
      if (!c.createTableTemplate) Nil
      else tables.map(t => DdlBuilder.createTableTemplate(c.db, t, schemaFor(t)))

    // --create-table-json-template (main.py:109-112): the schema as
    // JSON "for IPC" — one line per table
    val jsonTemplates: Seq[String] =
      if (!c.createTableJson) Nil
      else tables.map(t => DdlBuilder.schemaJson(schemaFor(t)))

    val modes = batchModes(spark, c).filter(_.on)
    def outBase(t: String) = s"${c.dstDir}/${dstNameFor(t)}"
    // one monitor per table AND leg set: its checkpoint and its legs'
    // states are keyed by the sorted leg list, so a run with other legs
    // folds the whole table into its own states instead of resuming a
    // reader whose files another leg set already consumed
    val legSet = c.pumps.sorted.mkString("-")
    def monitorRoot(t: String) = s"${outBase(t)}_monitor_state/$legSet"
    // one census of the --pumps monitor over table t
    def censusOf(t: String, leg: String) = Census(leg,
      // vocab is a second FACE of the jsd leg's token census: it
      // reads the jsd state, and folds it only when jsd does not
      s"${monitorRoot(t)}/${if (leg == "vocab") "jsd" else leg}",
      s"monitor-$leg", s"${outBase(t)}_monitor_$leg.parquet",
      folds = leg != "vocab" || !c.pumps.contains("jsd"))

    // --dry (clioptions.py:100-107): resolve, emit driver-side DDL/
    // templates, but execute nothing — report what WOULD have run
    if (c.dry) {
      // "<label>: <table> -> <path> [+ <path>...], ..."
      def planLine(label: String, paths: String => Seq[String]) =
        s"$label: ${tables.map(t => s"$t -> ${paths(t).mkString(" + ")}").mkString(", ")}"
      val planned = Seq(
        c.dstCreateTable ->
          s"dst-create-table: ${tables.map(t => s"${c.db}.$t").mkString(", ")}",
        c.migrateTable -> planLine("migrate-table", t => Seq(c.dstJdbcUrl
          .fold(s"${outBase(t)}.parquet")(u => s"$u/${dstNameFor(t)}"))),
        c.csvExport ->
          s"csvpool: ${tables.map(t => s"${c.dstDir}/csv/$t").mkString(", ")}",
        (c.pumpData || c.srcJdbcUrl.isDefined || c.debeziumFeed.isDefined) ->
          s"pump-data -> ${c.dstDir}/_state",
        c.remigrate -> planLine("remigrate", t => Seq(s"${outBase(t)}.parquet " +
          s"(merge on ${c.pkFor.getOrElse(t, c.pk).mkString("+")})")),
        c.pumps.nonEmpty -> planLine(s"monitor-pump[${c.pumps.mkString(",")}]",
          t => Seq(s"${monitorRoot(t)}/{${c.pumps.mkString(",")}} " +
            "(one reader, one checkpoint)"))
      ).collect { case (true, s) => s } ++
        modes.map(m => planLine(m.label, t => m.suffixes.map(outBase(t) + _))) ++
        c.pumps.map(leg => planLine(s"monitor-$leg${legDials(c, leg)}", t => {
          val x = censusOf(t, leg)
          Seq(x.stateDir, x.out)
        }))
      return Result(ddl = ddl, templates = templates,
        jsonTemplates = jsonTemplates, dryPlanned = planned)
    }

    // --dst-create-table (D5 first half, tablemigrator.py:121-152):
    // EXECUTE the Spark-dialect DDL against the session catalog so
    // the destination tables exist before any migration runs
    val createdTables: Seq[String] =
      if (!c.dstCreateTable) Nil
      else {
        spark.sql(DdlBuilder.createDatabase(c.db))
        tables.map { t =>
          spark.sql(DdlBuilder.createTableSpark(c.db, t, schemaFor(t)))
          s"${c.db}.$t"
        }
      }

    val migrations =
      if (!c.migrateTable) Nil
      else if (c.dstJdbcUrl.isDefined)
        // --dst-jdbc-url: migrate INTO a live JDBC destination — the
        // reference's shipped direction (MySQL → ClickHouse INSERT
        // pump, writer/chwriter.py:47-112); table-by-table with the
        // same fail-fast reconciliation as the parquet path
        tables.map { t =>
          val m = Migrator.migrateTableToJdbc(spark, c.srcDir, t,
            c.dstJdbcUrl.get, dbtable = dstNameFor(t), spec = spec,
            db = c.db, driver = c.dstJdbcDriver)
          if (!m.reconciled) throw new IllegalStateException(
            s"migration count mismatch for $t: src=${m.srcRows} dst=${m.dstRows}")
          m
        }
      else Migrator.migrateAll(spark, c.srcDir, c.dstDir, tables, c.db, spec,
        dstName = dstNameFor)

    // --remigrate (the q151 operator on the CLI face): re-snapshot a
    // previously-migrated table after source schema drift — additive
    // drift (new columns, widened types) evolves the managed table
    // and the incoming rows merge by primary key; DESTRUCTIVE drift
    // (dropped columns, narrowed types) throws before anything is
    // written, so the run exits non-zero with the violation text —
    // the reference's "DDL changes are not supported" gap
    // (docs/manual.md:261-262 in /root/reference) closed as a mode.
    // PK resolution honors --pk-for per table like the pump modes.
    val remigrations: Seq[Migrator.Remigration] =
      if (!c.remigrate) Nil
      else tables.map { t =>
        val r = Migrator.remigrate(spark, c.srcDir, c.dstDir, t,
          c.pkFor.getOrElse(t, c.pk), spec,
          dstTable = Some(dstNameFor(t)))
        if (!r.reconciled) throw new IllegalStateException(
          s"remigrate count mismatch for $t: retained=${r.retainedRows} " +
            s"incoming=${r.incomingRows} dst=${r.dstRows}")
        r
      }

    // --csvpool analog: spill each (transformed) table as CSV — the
    // reference's CSV writer chain (config.py:351-367) as a batch
    // export instead of a per-bucket fork.
    val csvDirs =
      if (!c.csvExport) Nil
      else tables.map { t =>
        // --csvpool-file-path-prefix (clioptions.py:109, default
        // /tmp/csvpool_): per-table output is <prefix><table>
        val out = c.csvPrefix.fold(s"${c.dstDir}/csv/$t")(p => s"$p$t")
        graft.sources.CsvSource.write(
          Migrator.transformed(spark, c.srcDir, t, spec), out,
          stringify = true)
        out
      }

    // table-level curation modes (the pipeline operators on the CLI
    // face, declared in batchModes): each composes with the migration
    // transform spec (column-skip / where / converters), like every
    // other mode. srcRows rides the writes as an observed metric (the
    // Migrator reconciliation discipline — no extra source scan), and
    // outRows is observed on the first report's write.
    val curations: Seq[Curation] = modes.flatMap(m => tables.map { t =>
      val rows = Migrator.transformed(spark, c.srcDir, t, spec)
      val src = Observation()
      val observed = if (m.srcRows.isDefined) rows
        else rows.observe(src, count(lit(1)).as("src_rows"))
      val paths = m.suffixes.map(outBase(t) + _)
      val outRows = m.reports(t, rows, observed).zip(paths)
        .map { case (report, path) => writeCounted(report, path) }
      Curation(t, m.name, m.srcRows.fold(
        src.get("src_rows").asInstanceOf[Long])(_(rows)), outRows.head,
        paths.head)
    })

    // RESIDENT curation monitor (the q154/q155/q162 production faces
    // on the CLI): where the batch --*-report modes re-scan the whole
    // table per run, --pumps=<leg,...> STREAMS the source table's
    // parquet directory — new files appearing there fold incrementally
    // into durable BucketStateStore state under dstDir, and a restart
    // resumes from the checkpoint (kill-safe, replay-fenced). The
    // resident-monitor counterpart of --pump (the reference's pump
    // stance, pumper.py:13-47, mysqlreader.py:421-429 nice-pause loop
    // in /root/reference) with curation state instead of rows.
    // Without --daemon/--src-wait the pump drains what exists
    // (AvailableNow) and writes the derived report beside the state;
    // resident runs keep folding on the nice-pause cadence — state is
    // then read live via --state-dir/--state-export or the library
    // report faces.
    //
    // ONE reader, ONE checkpoint, one foreachBatch folds every listed
    // census from a single pass over each arriving file (N one-leg
    // pumps on one feed = N readers + N× ingest I/O); one leg is the
    // single-census pump. Legs share the dials: --dedup-k /
    // --contamination-k / --agreement-gold / --agreement-pred /
    // --score-col / --score-label / --drift-col / --overlap-group-col;
    // the contamination leg grades against --probe-dir, and the
    // embedding leg reads --embedding-col grouped by
    // --overlap-group-col (for an embeddings-style table). Each leg
    // keeps its own batch-id fence, so a crash between two legs' merges
    // replays safely (CurationPumpsSpec).
    val curationPumps: Seq[Curation] = {
      import graft.streaming.{BucketStateStore, CurationPumps}
      def tableStream(t: String) = {
        val schema = Tables.load(spark, c.srcDir, t).schema
        // one file per micro-batch: deterministic pacing for a file
        // feed (rows-per-batch is a key-range dial, graft-jdbc only)
        val reader = spark.readStream.schema(schema)
          .option("maxFilesPerTrigger", "1")
        val p = Tables.path(c.srcDir, t)
        // the streaming file source tails DIRECTORIES; a table stored
        // as one bare parquet FILE streams via its parent + leaf glob
        // (one immutable batch — the degenerate drain)
        if (new java.io.File(p).isDirectory) reader.parquet(p)
        else reader.option("pathGlobFilter", new java.io.File(p).getName)
          .parquet(c.srcDir)
      }
      def legOf(t: String, leg: String,
          stateDir: String): CurationPumps.MonitorLeg = leg match {
        case "novelty" => CurationPumps.noveltyLeg(stateDir, k = c.dedupK,
          idCol = c.docIdCol, textCol = c.textCol)
        case "contamination" => CurationPumps.contaminationLeg(
          spark.read.parquet(c.probeDir.get), stateDir, k = c.contaminationK,
          idCol = c.docIdCol, textCol = c.textCol)
        case "agreement" => CurationPumps.agreementLeg(stateDir,
          gold = col(c.agreementGold), pred = gradedPred(c))
        case "score" => CurationPumps.scoreLeg(stateDir, score = gradedScore(c),
          label = gradedLabel(c))
        case "drift" => CurationPumps.driftLeg(stateDir,
          score = col(c.driftCol), group = driftGroup(c))
        case "ksmatrix" => CurationPumps.ksMatrixLeg(stateDir,
          score = col(c.driftCol), group = col(c.overlapGroupCol))
        case "jsd" => CurationPumps.jsdLeg(stateDir,
          group = col(c.overlapGroupCol), text = col(c.textCol))
        case "vocab" => CurationPumps.vocabLeg(stateDir,
          group = col(c.overlapGroupCol), text = col(c.textCol))
        case "embedding" => CurationPumps.embeddingDriftLeg(stateDir,
          groupCol = c.overlapGroupCol, vecCol = c.embeddingCol)
        case "classes" => CurationPumps.classesLeg(stateDir,
          confMilliByClass = classConfCol(
            Tables.load(spark, c.srcDir, t).schema, c.scoreClasses.get),
          gold = col(c.agreementGold).cast("string"))
      }
      def reportOf(t: String, leg: String,
          stateDir: String): org.apache.spark.sql.DataFrame = leg match {
        case "novelty" => CurationPumps.noveltyReport(spark, stateDir,
          Tables.load(spark, c.srcDir, t), k = c.dedupK,
          idCol = c.docIdCol, textCol = c.textCol)
        case "contamination" =>
          CurationPumps.contaminationVerdicts(spark, stateDir)
        case "agreement" => CurationPumps.agreementReport(spark, stateDir)
        case "score" => CurationPumps.scoreAuc(spark, stateDir)
        case "drift" => CurationPumps.driftKs(spark, stateDir)
        case "ksmatrix" => CurationPumps.ksMatrixReport(spark, stateDir)
        case "jsd" => CurationPumps.jsdReport(spark, stateDir)
        case "vocab" => CurationPumps.vocabCoverageReport(spark, stateDir)
        case "embedding" =>
          CurationPumps.embeddingDriftReport(spark, stateDir)
        // the drained router audit: per-class AUC off the durable
        // census (AP/operating points are further faces of the same
        // state, library-reachable)
        case "classes" => CurationPumps.classAucReport(spark, stateDir)
      }
      // drain the monitor over each table, then write and record each
      // census's report
      if (c.pumps.isEmpty) Nil else tables.flatMap { t =>
        val censuses = c.pumps.map(censusOf(t, _))
        CurationPumps.startMonitorPump(tableStream(t),
          s"${c.dstDir}/_ckpt_monitor_$t/$legSet",
          censuses.filter(_.folds).map(x => legOf(t, x.leg, x.stateDir)),
          processingTime = if (stayUp(c)) Some(c.nicePause) else None,
          vacuumEvery = vacuumCadence(c), vacuumKeep = c.vacuumKeep)
          .awaitTermination()
        censuses.map { x =>
          val stateRows = BucketStateStore.currentVersion(spark, x.stateDir)
            .map(v => BucketStateStore.stateAtInferred(spark, x.stateDir, v)
              .count()).getOrElse(0L)
          Curation(t, x.mode, stateRows,
            writeCounted(reportOf(t, x.leg, x.stateDir), x.out), x.out)
        }
      }
    }
    val pumped =
      if (c.srcJdbcUrl.isDefined) {
        // LIVE replication pump over a real database connection — the
        // reference's primary deployment (reader loop,
        // mysqlreader.py:362-448) with the binlog tail replaced by
        // the incremental key-range poll (graft-jdbc source). The
        // monotonic key doubles as PK and merge order; offsets ride
        // the streaming checkpoint, so restarts resume exactly.
        val table = c.srcJdbcTable.getOrElse(
          throw new IllegalArgumentException(
            "--src-jdbc-url requires --src-jdbc-table"))
        val key = c.srcJdbcKey.getOrElse(
          throw new IllegalArgumentException(
            "--src-jdbc-url requires --src-jdbc-key"))
        val stateDir = s"${c.dstDir}/_state"
        val reader0 = spark.readStream.format("graft-jdbc")
          .option("url", c.srcJdbcUrl.get)
          .option("dbtable", table)
          .option("keyColumn", key)
          .option("numPartitions",
            spark.conf.get("spark.sql.shuffle.partitions"))
        // --max-rows-per-batch: micro-batch pacing, the mempool-size
        // analog (clioptions.py:104-107); --src-jdbc-start-key: the
        // binlog-file/position analog (config.py:40-58) — bootstrap
        // from key K (rows ≤ K are skipped) on a FRESH stream only; a
        // committed checkpoint always wins on resume, exactly like
        // the reference's "binlog position from config is ignored
        // once the reader has its own saved position"
        // (mysqlreader.py:68-90).
        // bootstrap precedence: explicit --src-jdbc-start-key, else a
        // --src-resume'd position file; the checkpoint beats both
        val startKey = c.srcJdbcStartKey.orElse(readPositionFile(c))
        val reader = Seq(
          c.maxRowsPerBatch.map("maxKeyRangePerBatch" -> _.toString),
          startKey.map("startOffset" -> _.toString),
          c.srcJdbcDriver.map("driver" -> _)
        ).flatten.foldLeft(reader0) { case (r, (k, v)) => r.option(k, v) }
        val stream = reader.load()
        val tput = graft.streaming.Throughput.attach(spark)
        try {
          // resident live pumps retire dead state versions on the batch
          // cadence; an empty batch merges nothing
          graft.streaming.Pump.start(stream, s"${c.dstDir}/_checkpoint",
              processingTime = if (stayUp(c)) Some(c.nicePause) else None,
              vacuumEvery = vacuumCadence(c), vacuumKeep = c.vacuumKeep,
              vacuumDirs = Seq(stateDir)) { (b, _) =>
            if (!b.isEmpty) {
              // cache: the merge and the position-file max would
              // otherwise each re-run the batch's JDBC range scan
              val batch = if (c.positionFile.isDefined) b.persist() else b
              try {
                StreamingCdc.mergeIntoState(
                  batch.withColumn(graft.cdc.CdcApplier.OpCol,
                    org.apache.spark.sql.functions.lit("insert")),
                  stateDir, pk = Seq(key), orderCols = Seq(key))
                c.positionFile.foreach { path =>
                  val mx = batch.agg(org.apache.spark.sql.functions
                    .max(org.apache.spark.sql.functions.col(key))).head()
                  // any integral key type (INT/BIGINT/...) records
                  if (!mx.isNullAt(0))
                    writePositionFile(path, key,
                      mx.get(0).asInstanceOf[Number].longValue)
                }
              } finally if (c.positionFile.isDefined) batch.unpersist()
            }
          }.awaitTermination()
        } finally spark.streams.removeListener(tput)
        Some(stateDir)
      } else if (c.debeziumFeed.isDefined) {
        // live-wire pump: raw Debezium JSON-lines feed → per-table
        // parse (row schema from each subscribed table's fixture) →
        // per-table state dirs. The production deployment points
        // this at a Kafka value stream; the file form is the same
        // envelope.
        val schemas = tables.map { t =>
          t -> Tables.load(spark, c.srcDir, t).schema
        }.toMap
        val stateRoot = s"${c.dstDir}/_state"
        val raw = spark.readStream.text(c.debeziumFeed.get)
        val tput = graft.streaming.Throughput.attach(spark)
        try {
          StreamingCdc.startDebezium(raw, stateRoot,
            s"${c.dstDir}/_checkpoint", c.db, schemas, c.pk,
            processingTime = if (stayUp(c)) Some(c.nicePause) else None,
            pkFor = c.pkFor,
            vacuumEvery = vacuumCadence(c), vacuumKeep = c.vacuumKeep)
            .awaitTermination()
        } finally spark.streams.removeListener(tput)
        Some(stateRoot)
      } else if (!c.pumpData) None
      else {
        val feed = ChangeFeed.fromEvents(Tables.load(spark, c.srcDir, "events"))
        val feedDir = s"${c.dstDir}/_feed"
        val stateDir = s"${c.dstDir}/_state"
        feed.write.mode("overwrite").parquet(feedDir)
        val stream = spark.readStream
          .schema(feed.schema)
          .parquet(feedDir)
        // rows/sec + per-batch counters, the reference's
        // PerformanceCounters log lines (mysqlreader.py:135-153)
        val tput = graft.streaming.Throughput.attach(spark)
        try {
          val q = StreamingCdc.start(stream, stateDir,
            s"${c.dstDir}/_checkpoint", c.pk, c.orderCols,
            // --src-wait OFF → drain and exit; ON → stay up on a cadence
            processingTime = if (stayUp(c)) Some(c.nicePause) else None,
            vacuumEvery = vacuumCadence(c), vacuumKeep = c.vacuumKeep)
          q.awaitTermination()
        } finally spark.streams.removeListener(tput)
        Some(stateDir)
      }

    Result(ddl, templates, createdTables, migrations, csvDirs, pumped,
      jsonTemplates = jsonTemplates, curations = curations ++ curationPumps,
      remigrations = remigrations)
  }

  /** One batch curation mode of the CLI, declared once: the run, its
    * [[Curation]] record and the `--dry` plan all read it.
    *
    * @param on       the invocation enabled the mode
    * @param name     the mode name the record carries
    * @param label    the `--dry` line's prefix: the mode and its dials
    * @param suffixes output paths after `<dst-dir>/<dst table>`, one
    *                 per report; the first is the report the record
    *                 counts and names
    * @param reports  (table, rows, observed) => one report per suffix,
    *                 from the table's transformed rows. `observed` is
    *                 the same rows counting `src_rows`: it must appear
    *                 ONCE in the written plans (a union or self-join of
    *                 it would not count the source once), so every
    *                 other branch reads `rows`
    * @param srcRows  the record's srcRows when it is not the table's
    *                 row count; `observed` is then plain `rows`
    */
  private final case class BatchMode(on: Boolean, name: String,
      label: String, suffixes: Seq[String],
      reports: (String, DataFrame, DataFrame) => Seq[DataFrame],
      srcRows: Option[DataFrame => Long] = None)

  /** One census of the `--pumps` monitor: its leg name, state dir,
    * mode name and report file; `folds = false` when another leg of
    * the same monitor folds its state. */
  private final case class Census(leg: String, stateDir: String,
      mode: String, out: String, folds: Boolean = true)

  /** Every batch curation mode, in run order. */
  private def batchModes(spark: SparkSession, c: Config): Seq[BatchMode] = {
    import org.apache.spark.sql.functions.{broadcast, pmod}
    import graft.dedup.Dedup
    import graft.ops.ScoreEval
    import graft.vector.VectorSearch
    val variant = c.annRecall.getOrElse("")
    // the table's own fixed ANN query set (vec_id % --ann-queries == 0)
    def queries(emb: DataFrame) =
      emb.filter(pmod(col(c.vecIdCol), lit(c.annQueryMod)) === 0)
    Seq(
      // --scd2 derives the SCD-type-2 history view the reference's
      // current-state replays discard
      BatchMode(c.scd2, "scd2", "scd2", Seq("_history.parquet"),
        (t, _, in) => {
          // per-table key resolution honors --pk-for like the pump modes
          val key = c.scd2Key.getOrElse(c.pkFor.getOrElse(t, c.pk).head)
          Seq(graft.ops.Scd.scd2Intervals(in, col(key), col(c.scd2Value.get),
            col(c.scd2Ts.getOrElse(c.orderCols.head)),
            col(c.scd2Tie.getOrElse(c.orderCols.last))))
        }),
      // --ppl-filter: the CCNet-style perplexity-bucket filter
      BatchMode(c.pplFilter, "ppl-filter", "ppl-filter", Seq("_ppl.parquet"),
        (_, rows, in) => {
          val keep = graft.text.LanguageModel.perplexityBuckets(rows,
              v = c.pplVocab, buckets = c.pplBuckets, idCol = c.docIdCol,
              textCol = c.textCol, groupCol = c.pplGroupCol)
            .filter(!col("bucket_name").isin(c.pplDrop: _*))
            .select(col(c.docIdCol))
          Seq(in.join(keep, Seq(c.docIdCol), "left_semi"))
        }),
      // --dedup (q46's head through the CLI face): exact dedup keeps
      // the min-id copy of each distinct text; near-dup clustering
      // over the k-gram Jaccard pair graph keeps each component's
      // representative. Output keeps the source schema (a cleaned
      // copy of the table, like --ppl-filter).
      BatchMode(c.dedup, "dedup", "dedup", Seq("_dedup.parquet"),
        (_, rows, in) => {
          val exactKeepers = Dedup.exactDedup(rows, c.docIdCol, c.textCol)
            .select(col("keeper_doc_id").as(c.docIdCol))
          val nearDupLosers = Dedup.dupClusters(Dedup.jaccardPairs(rows,
              k = c.dedupK, threshold = c.dedupJaccard, idCol = c.docIdCol,
              textCol = c.textCol))
            .filter(col("doc_id") =!= col("cluster_id"))
            .select(col("doc_id").as(c.docIdCol))
          Seq(in.join(exactKeepers, Seq(c.docIdCol), "left_semi")
            .join(nearDupLosers, Seq(c.docIdCol), "left_anti"))
        }),
      // --contamination=<probe_dir> (q48 through the CLI face): flag
      // every table row sharing a k-shingle with the probe corpus
      // (benchmark decontamination). The report is hit-sized —
      // (doc_id, n_hits) for flagged rows only.
      BatchMode(c.contaminationProbes.isDefined, "contamination",
        "contamination", Seq("_contamination.parquet"),
        (_, _, in) => Seq(Dedup.contaminationScan(in,
          spark.read.parquet(c.contaminationProbes.get),
          k = c.contaminationK, idCol = c.docIdCol, textCol = c.textCol))),
      // --semdedup (q107 through the CLI face — the embedding half of
      // --dedup): Lloyd-cluster the table's embedding column, mark
      // within-cluster semantic duplicates at the cosine threshold,
      // keep each cluster's representatives. Output is a cleaned copy
      // of the table, like --dedup.
      BatchMode(c.semdedup, "semdedup", "semdedup", Seq("_semdedup.parquet"),
        (_, rows, in) => {
          val keepers = graft.vector.KMeans.semanticDedup(rows,
              k = c.semdedupClusters, iters = c.semdedupIters,
              minCos = c.semdedupMinCos, idCol = c.vecIdCol,
              vecCol = c.embeddingCol)
            .filter(col("kept") === 1)
            .select(col("vec_id").as(c.vecIdCol))
          Seq(in.join(keepers, Seq(c.vecIdCol), "left_semi"))
        }),
      // --embed-contamination=<probe_dir> (q148 through the CLI face —
      // the embedding half of --contamination): flag every table row
      // whose embedding sits within the cosine threshold of any probe
      // vector. Hit-sized report (vec_id, hits, max_cos).
      BatchMode(c.embedContaminationProbes.isDefined, "embed-contamination",
        "embed-contamination", Seq("_embed_contamination.parquet"),
        (_, _, in) => Seq(VectorSearch.embeddingContamination(in,
          spark.read.parquet(c.embedContaminationProbes.get),
          threshold = c.embedContaminationCos, idCol = c.vecIdCol,
          vecCol = c.embeddingCol))),
      // --ann-recall=<variant> diagnostic (the q142/q144-q146 recall
      // gate as an operable CLI check): recall@k of the named lossy
      // index against the exact brute-force scan on the table's own
      // query set. srcRows here is the query count — the evaluation's
      // natural denominator.
      BatchMode(c.annRecall.isDefined, s"ann-recall-$variant",
        s"ann-recall[$variant]", Seq(s"_ann_recall_$variant.parquet"),
        (_, emb, _) => {
          val qs = queries(emb)
          val exact = VectorSearch.bruteForceTopK(emb, qs, k = c.annK,
            idCol = c.vecIdCol, vecCol = c.embeddingCol)
          val approx = variant match {
            case "int8" => VectorSearch.int8TopK(emb, qs, k = c.annK,
              idCol = c.vecIdCol, vecCol = c.embeddingCol)
            case "ivf" => VectorSearch.ivfTopK(emb, qs, k = c.annK,
              nprobe = 2, numCells = 32, idCol = c.vecIdCol,
              vecCol = c.embeddingCol, portableSample = true)
            case "pq" => VectorSearch.pqTopK(emb, qs, k = c.annK,
              idCol = c.vecIdCol, vecCol = c.embeddingCol)
            case "lsh" => VectorSearch.rpLshTopK(emb, qs, k = c.annK,
              nbits = 32, chunks = 4, idCol = c.vecIdCol,
              vecCol = c.embeddingCol)
          }
          Seq(graft.vector.Eval.recallAtK(exact, approx, k = c.annK))
        }, srcRows = Some(emb => queries(emb).count())),
      // --overlap-report (q152 through the CLI face): the source-pair
      // shingle Jaccard/containment matrix — the corpus-composition
      // number to read BEFORE deciding any mixture re-weighting. A
      // census-sized report, not a cleaned copy; srcRows is the doc
      // count scanned, outRows the pair count.
      BatchMode(c.overlapReport, "overlap-report", "overlap-report",
        Seq("_overlap.parquet"), (_, _, in) => Seq(Dedup.sourceOverlap(in,
          k = c.dedupK, textCol = c.textCol, groupCol = c.overlapGroupCol))),
      // --novelty-report (q150 through the CLI face): the per-document
      // first-occurrence novelty curve — the crawl-saturation signal.
      BatchMode(c.noveltyReport, "novelty-report", "novelty-report",
        Seq("_novelty.parquet"), (_, _, in) => Seq(Dedup.ngramNovelty(in,
          k = c.dedupK, idCol = c.docIdCol, textCol = c.textCol))),
      // --agreement-report (q153/q156 through the CLI face): with ONE
      // prediction, per-class P/R/F1 + accuracy + Cohen's kappa of
      // the predicted column against the gold column; with TWO OR
      // MORE comma-separated predictions, Fleiss' kappa over the
      // whole panel {gold, preds...} — the go/no-go number to read
      // before a heuristic labeler (or a labeler panel's majority
      // vote) gates a curation run. Default prediction is the
      // built-in language identifier over --text-col (the q153
      // pairing); --agreement-pred names stored column(s) instead.
      BatchMode(c.agreementReport, "agreement-report",
        s"agreement-report${agreementDials(c)}", Seq("_agreement.parquet"),
        (_, rows, in) => {
          val preds = agreementPreds(c)
          Seq(if (preds.sizeIs >= 2) {
            // panel: gold + every prediction, one rating row each; the
            // union reads the table once per rater, so only the gold
            // branch carries the metric (it sees every source row)
            val ratings = preds.map(p => rows.select(
                col(c.docIdCol).as("item"), col(p).as("cls")))
              .foldLeft(in.select(col(c.docIdCol).as("item"),
                col(c.agreementGold).as("cls")))(_ unionByName _)
            graft.ops.Agreement.fleissKappa(ratings, col("item"), col("cls"))
          } else graft.ops.Agreement.classifierReport(in,
            col(c.agreementGold), gradedPred(c)))
        }),
      // --score-report (q165/q166/q170 through the CLI face):
      // threshold-FREE grading of the score a quality gate
      // thresholds — the ROC operating-point table (the rows a
      // cutoff is picked from) plus a one-row summary (ROC-AUC and
      // average precision). The observed rows ride ONLY the curve.
      BatchMode(c.scoreReport, "score-report", s"score-report${scoreDials(c)}",
        Seq("_roc.parquet", "_score_summary.parquet"), (_, rows, in) => {
          val score = gradedScore(c)
          val label = gradedLabel(c)
          Seq(ScoreEval.rocCurve(in, score, label),
            ScoreEval.rocAuc(rows, score, label).crossJoin(broadcast(
              ScoreEval.averagePrecision(rows, score, label)
                .select(col("ap")))))
        }),
      // --score-classes (q188/q190/q191/q195/q196 through the CLI
      // face): the multiclass battery for a labeler that claims a
      // FULL per-class probability map — per-class operating points,
      // log-loss, per-class reliability/ECE, per-class AP and
      // per-class ROC-AUC, graded against --agreement-gold (the map
      // is quantized at this boundary, see classConfCol). The three
      // ranking faces share ONE corpus scan: the (cls, s) census is
      // built once and the census-sized FromCells derivations fan out
      // from it. The observed rows ride ONLY the logloss report.
      BatchMode(c.scoreReport && c.scoreClasses.isDefined, "score-classes",
        s"score-classes[${c.scoreClasses.getOrElse("")} vs ${c.agreementGold}]",
        Seq("points", "logloss", "calibration", "ap", "auc")
          .map(f => s"_class_$f.parquet"), (_, rows, in) => {
          val conf = classConfCol(rows.schema, c.scoreClasses.get)
          val gold = col(c.agreementGold).cast("string")
          val census = ScoreEval.classScoreCensus(rows, conf, gold)
            .localCheckpoint()
          Seq(ScoreEval.operatingPointsByClassFromCells(census),
            ScoreEval.logLossMulti(in, conf, gold),
            ScoreEval.calibrationByClass(rows, conf, gold),
            ScoreEval.averagePrecisionByClassFromCells(census),
            ScoreEval.rocAucByClassFromCells(census))
        }),
      // --vocab-report (q175 through the CLI face): per-group
      // vocabulary coverage — Good–Turing seen mass + the Chao1
      // vocabulary lower bound — over --overlap-group-col: the
      // crawl-saturation gauge beside --novelty-report's curve.
      BatchMode(c.vocabReport, "vocab-report",
        s"vocab-report[${c.overlapGroupCol}]", Seq("_vocab.parquet"),
        (_, _, in) => Seq(graft.text.Vocab.vocabCoverage(in,
          col(c.overlapGroupCol), textCol = c.textCol))),
      // --drift-report (q173 through the CLI face): two-sample KS of
      // --drift-col between the --drift-group-val slice of
      // --overlap-group-col and the rest of the table — "did this
      // slice's score distribution move?" before any gate fires.
      BatchMode(c.driftReport, "drift-report", s"drift-report${driftDials(c)}",
        Seq("_drift.parquet"), (_, _, in) => Seq(ScoreEval.ksTest(in,
          col(c.driftCol), driftGroup(c)))))
  }

  /** Write `df` as parquet at `path` and return its row count, observed
    * on the write itself instead of read back. */
  private def writeCounted(df: DataFrame, path: String): Long = {
    val written = Observation()
    df.observe(written, count(lit(1)).as("rows"))
      .write.mode("overwrite").parquet(path)
    written.get("rows").asInstanceOf[Long]
  }

  // The graded columns and their `--dry` labels, shared by the batch
  // --*-report modes and the monitor legs of the same census.
  private def agreementPreds(c: Config): Seq[String] =
    c.agreementPred.map(_.split(",").toSeq.filter(_.nonEmpty)).getOrElse(Nil)
  /** The one prediction graded against gold: --agreement-pred, else the
    * built-in language identifier over --text-col (q153). */
  private def gradedPred(c: Config): Column =
    agreementPreds(c).headOption.map(col).getOrElse(
      graft.text.TextAnalysis.langId(col(c.textCol),
        graft.text.TextAnalysis.defaultProfiles))
  /** --score-col, else the built-in English marker-hit count over
    * --text-col (exactly what q21's minHits=2 cuts). */
  private def gradedScore(c: Config): Column =
    c.scoreCol.map(col).getOrElse(size(filter(
      graft.text.TextAnalysis.tokens(col(c.textCol)),
      tok => tok === "the" || tok === "a")))
  /** --score-label (a stored 0/1 column), else gold == --score-positive
    * over --agreement-gold. */
  private def gradedLabel(c: Config): Column =
    c.scoreLabel.map(col).getOrElse(
      when(col(c.agreementGold) === c.scorePositive, lit(1L)).otherwise(lit(0L)))
  /** 1 for the --drift-group-val slice of --overlap-group-col, else 0. */
  private def driftGroup(c: Config): Column =
    when(col(c.overlapGroupCol) === c.driftGroupVal, lit(1L)).otherwise(lit(0L))
  private def agreementDials(c: Config): String =
    s"[${c.agreementGold} vs ${c.agreementPred.getOrElse("langid(" + c.textCol + ")")}]"
  private def scoreDials(c: Config): String =
    s"[${c.scoreCol.getOrElse("marker_hits(" + c.textCol + ")")} vs " +
      s"${c.scoreLabel.getOrElse(c.agreementGold + "=" + c.scorePositive)}]"
  private def driftDials(c: Config): String =
    s"[${c.driftCol}, ${c.overlapGroupCol}=${c.driftGroupVal} vs rest]"
  private def legDials(c: Config, leg: String): String = leg match {
    case "agreement" => agreementDials(c)
    case "score" => scoreDials(c)
    case "drift" => driftDials(c)
    case _ => ""
  }

  private val MonitorLegs = Set("novelty", "contamination", "agreement",
    "score", "drift", "ksmatrix", "jsd", "vocab", "embedding", "classes")

  private val KnownOptions = Set("src-dir", "dst-dir", "dst-schema",
    "src-tables", "src-tables-prefixes", "column-skip",
    "src-tables-where-clauses", "column-default-value", "catalog-csv",
    "nice-pause", "debezium-feed", "pk", "pk-for", "config",
    "src-jdbc-url", "src-jdbc-table", "src-jdbc-key", "src-jdbc-driver",
    "src-jdbc-start-key", "max-rows-per-batch", "binlog-position-file",
    "dst-table", "dst-table-prefix", "converter-class",
    "dst-jdbc-url", "dst-jdbc-driver", "csvpool-file-path-prefix",
    "log-file", "log-level", "pid-file",
    "state-dir", "state-export", "state-version",
    "scd2-value", "scd2-key", "scd2-ts", "scd2-tie",
    "ppl-vocab", "ppl-buckets", "ppl-drop", "ppl-group-col",
    "dedup-k", "dedup-jaccard", "contamination", "contamination-k",
    "doc-id-col", "text-col",
    "semdedup-clusters", "semdedup-iters", "semdedup-min-cos",
    "embed-contamination", "embed-contamination-cos",
    "ann-recall", "ann-k", "ann-queries",
    "vec-id-col", "embedding-col", "overlap-group-col",
    "agreement-gold", "agreement-pred",
    "score-col", "score-label", "score-positive", "score-classes",
    "drift-col", "drift-group-val", "pumps", "probe-dir",
    "vacuum-every", "vacuum-keep")
  private val KnownFlags = Set("create-table-sql",
    "create-table-sql-template", "create-table-json-template",
    "dst-create-table", "migrate-table",
    "csvpool", "pump-data", "src-wait", "src-resume", "daemon",
    "install", "dry", "state-versions", "with-create-database",
    "scd2", "ppl-filter", "dedup", "semdedup",
    "overlap-report", "novelty-report", "remigrate", "agreement-report",
    "score-report", "vocab-report", "drift-report")

  /** `--column-default-value=t.col=v` values: numeric if they parse,
    * else the literal string (na.fill applies them type-matched).
    */
  private def parseDefaultValue(v: String): Any =
    scala.util.Try(v.toLong).orElse(scala.util.Try(v.toDouble)).getOrElse(v)

  /** Truthy spellings a config file may use to enable a mode flag. */
  private val TruthyValues = Set("true", "yes", "1", "on")
  private val FalsyValues = Set("false", "no", "0", "off")

  /** Parse a config file into (options, enabled-flags): flat
    * `key = value` lines with `#`/`;` comments; `[section]` headers
    * are accepted and ignored (the reference's configobj layout,
    * clioptions.py:579-636). A known FLAG name takes a boolean value
    * (`migrate-table = yes`); unknown keys are an error, same
    * fail-fast stance as the CLI.
    */
  private[graft] def parseConfigFile(path: String): (Map[String, String], Set[String]) = {
    val lines = java.nio.file.Files.readAllLines(java.nio.file.Paths.get(path))
    val entries = scala.jdk.CollectionConverters.ListHasAsScala(lines).asScala
      .map(_.trim)
      .filterNot(l => l.isEmpty || l.startsWith("#") || l.startsWith(";") ||
        (l.startsWith("[") && l.endsWith("]")))
      .map { l =>
        val i = l.indexOf('=')
        require(i > 0, s"config file $path: malformed line '$l'")
        l.take(i).trim -> l.drop(i + 1).trim
      }.toSeq
    val (flagLines, optLines) = entries.partition(e => KnownFlags(e._1))
    val unknown = optLines.map(_._1).filterNot(KnownOptions)
    require(unknown.isEmpty,
      s"config file $path: unrecognized keys: ${unknown.mkString(", ")}")
    val flags = flagLines.collect {
      case (k, v) if TruthyValues(v.toLowerCase) => k
      case (k, v) if !FalsyValues(v.toLowerCase) =>
        throw new IllegalArgumentException(
          s"config file $path: flag $k needs a boolean value, got '$v'")
    }.toSet
    (optLines.toMap, flags)
  }

  /** Minimal CLI: `--flag` booleans and `--key=value` options with
    * the reference's names (clioptions.py:89-574 semantics).
    * `--column-skip=t.col1,t.col2`; `--src-tables-where-clauses=
    * table:clause[;table:clause]`. Unknown tokens are an ERROR, not a
    * silent no-op — a misspelled mode flag (`--migrate-tabel`) must
    * not produce a successful run that did nothing (the reference's
    * argparse rejects unknown options the same way).
    *
    * `--config=path` aggregates a config file under the CLI with the
    * reference's precedence (clioptions.py:639-751): CLI > config
    * file > defaults. Flags are additive (a file-enabled mode stays
    * on — argparse store_true semantics); for options the CLI value
    * wins key by key.
    */
  def parse(args: Seq[String]): Config = {
    val malformed = args.filterNot(_.startsWith("--"))
    val cliKv = args.collect { case a if a.startsWith("--") && a.contains("=") =>
      val Array(k, v) = a.drop(2).split("=", 2); k -> v
    }.toMap
    val cliFlags = args.collect {
      case a if a.startsWith("--") && !a.contains("=") => a.drop(2)
    }.toSet
    val unknown = malformed ++
      cliKv.keys.filterNot(KnownOptions).map("--" + _) ++
      cliFlags.filterNot(KnownFlags).map("--" + _)
    require(unknown.isEmpty,
      s"unrecognized arguments: ${unknown.mkString(" ")} " +
        s"(options: ${KnownOptions.toSeq.sorted.map("--" + _).mkString(", ")}; " +
        s"flags: ${KnownFlags.toSeq.sorted.map("--" + _).mkString(", ")})")
    val (fileKv, fileFlags) = cliKv.get("config")
      .map(parseConfigFile)
      .getOrElse((Map.empty[String, String], Set.empty[String]))
    val kv = fileKv ++ cliKv   // CLI wins key-by-key
    val flags = fileFlags ++ cliFlags
    def list(k: String): Seq[String] =
      kv.get(k).map(_.split(",").toSeq.filter(_.nonEmpty)).getOrElse(Nil)
    val c = Config(
      // --install generates service files only — no data source needed
      // (the reference's install path exits before any reader starts,
      // main.py:57-73)
      srcDir = kv.getOrElse("src-dir",
        // install and state inspection touch no source data
        if (flags("install") || flags("state-versions") ||
          kv.contains("state-export")) ""
        else throw new IllegalArgumentException("--src-dir required")),
      dstDir = kv.getOrElse("dst-dir", "/tmp/graft-out"),
      db = kv.getOrElse("dst-schema", "default"),
      tables = list("src-tables"),
      tablePrefixes = list("src-tables-prefixes"),
      columnSkip = list("column-skip")
        .map(_.split("\\.", 2)).collect { case Array(t, c) => (t, c) }
        .groupBy(_._1).map { case (t, cs) => t -> cs.map(_._2).toSeq },
      whereClauses = kv.get("src-tables-where-clauses")
        .map(_.split(";").toSeq.map(_.split(":", 2))
          .collect { case Array(t, w) => t -> w }.toMap)
        .getOrElse(Map.empty),
      defaults = list("column-default-value")
        .map(_.split("=", 2)).collect { case Array(tc, v) => (tc, v) }
        .flatMap { case (tc, v) => tc.split("\\.", 2) match {
          case Array(t, c0) => Some((t, c0, parseDefaultValue(v)))
          case _ => None
        } }
        .groupBy(_._1)
        .map { case (t, xs) => t -> xs.map(x => x._2 -> x._3).toMap },
      catalogCsv = kv.get("catalog-csv"),
      debeziumFeed = kv.get("debezium-feed"),
      srcJdbcUrl = kv.get("src-jdbc-url"),
      srcJdbcTable = kv.get("src-jdbc-table"),
      srcJdbcKey = kv.get("src-jdbc-key"),
      srcJdbcDriver = kv.get("src-jdbc-driver"),
      pk = kv.get("pk").map(_.split(",").toSeq.filter(_.nonEmpty))
        .getOrElse(Seq("user_id")),
      // --pk-for=table:col1+col2;table2:id — per-table PK override
      // for multi-table pumps over heterogeneously-keyed tables
      pkFor = kv.get("pk-for")
        .map(_.split(";").toSeq.map(_.split(":", 2))
          .collect { case Array(t, cols) =>
            t -> cols.split("\\+").toSeq.filter(_.nonEmpty)
          }.toMap)
        .getOrElse(Map.empty),
      createTableSql = flags("create-table-sql"),
      createTableTemplate = flags("create-table-sql-template"),
      dstCreateTable = flags("dst-create-table"),
      migrateTable = flags("migrate-table"),
      csvExport = flags("csvpool"),
      pumpData = flags("pump-data"),
      srcWait = flags("src-wait"),
      nicePause = kv.getOrElse("nice-pause", "60 seconds"),
      logFile = kv.get("log-file"),
      logLevel = kv.get("log-level").map { l =>
        val lower = l.toLowerCase
        require(LogLevels.contains(lower),
          s"--log-level=$l: expected one of ${LogLevels.keys.toSeq.sorted.mkString(", ")}")
        lower
      },
      // reference default kicks in only for daemon runs
      // (clioptions.py:102, 210-213)
      pidFile = kv.get("pid-file")
        .orElse(if (flags("daemon")) Some("/tmp/graft.pid") else None),
      daemon = flags("daemon"),
      install = flags("install"),
      stateDir = kv.get("state-dir"),
      stateVersions = flags("state-versions"),
      stateExport = kv.get("state-export"),
      stateVersion = kv.get("state-version").map(longOpt("state-version")),
      createTableJson = flags("create-table-json-template"),
      dstTable = kv.get("dst-table"),
      dstTablePrefix = kv.get("dst-table-prefix"),
      // --converter-class=table:fq.ClassName[;table2:...] — the class
      // must be on the classpath and implement DataFrame => DataFrame
      converterClasses = kv.get("converter-class")
        .map(_.split(";").toSeq.map { e =>
          e.split(":", 2) match {
            case Array(t, cls) if t.nonEmpty && cls.nonEmpty => t -> cls
            case _ => throw new IllegalArgumentException(
              s"--converter-class: expected table:fq.ClassName, got '$e'")
          }
        }.toMap)
        .getOrElse(Map.empty),
      dry = flags("dry"),
      maxRowsPerBatch = kv.get("max-rows-per-batch").map(longOpt("max-rows-per-batch")),
      srcJdbcStartKey = kv.get("src-jdbc-start-key").map(longOpt("src-jdbc-start-key")),
      positionFile = kv.get("binlog-position-file"),
      srcResume = flags("src-resume"),
      withCreateDatabase = flags("with-create-database"),
      csvPrefix = kv.get("csvpool-file-path-prefix"),
      dstJdbcUrl = kv.get("dst-jdbc-url"),
      dstJdbcDriver = kv.get("dst-jdbc-driver"),
      scd2 = flags("scd2"),
      scd2Value = kv.get("scd2-value"),
      scd2Key = kv.get("scd2-key"),
      scd2Ts = kv.get("scd2-ts"),
      scd2Tie = kv.get("scd2-tie"),
      pplFilter = flags("ppl-filter"),
      pplVocab = kv.get("ppl-vocab").map(longOpt("ppl-vocab")(_).toInt)
        .getOrElse(1000),
      pplBuckets = kv.get("ppl-buckets").map(longOpt("ppl-buckets")(_).toInt)
        .getOrElse(3),
      pplDrop = kv.get("ppl-drop").map(_.split(",").toSeq.filter(_.nonEmpty))
        .getOrElse(Seq("tail")),
      pplGroupCol = kv.getOrElse("ppl-group-col", "lang"),
      dedup = flags("dedup"),
      dedupK = kv.get("dedup-k").map(longOpt("dedup-k")(_).toInt)
        .getOrElse(3),
      dedupJaccard = kv.get("dedup-jaccard").map(v =>
        v.toDoubleOption.getOrElse(throw new IllegalArgumentException(
          s"--dedup-jaccard=$v: expected a number in [0,1]")))
        .getOrElse(0.5),
      contaminationProbes = kv.get("contamination"),
      contaminationK = kv.get("contamination-k")
        .map(longOpt("contamination-k")(_).toInt).getOrElse(3),
      docIdCol = kv.getOrElse("doc-id-col", "doc_id"),
      textCol = kv.getOrElse("text-col", "text"),
      semdedup = flags("semdedup"),
      semdedupClusters = kv.get("semdedup-clusters")
        .map(longOpt("semdedup-clusters")(_).toInt).getOrElse(8),
      semdedupIters = kv.get("semdedup-iters")
        .map(longOpt("semdedup-iters")(_).toInt).getOrElse(2),
      semdedupMinCos = kv.get("semdedup-min-cos").map(doubleOpt("semdedup-min-cos"))
        .getOrElse(0.4),
      embedContaminationProbes = kv.get("embed-contamination"),
      embedContaminationCos = kv.get("embed-contamination-cos")
        .map(doubleOpt("embed-contamination-cos")).getOrElse(0.25),
      annRecall = kv.get("ann-recall"),
      annK = kv.get("ann-k").map(longOpt("ann-k")(_).toInt).getOrElse(10),
      annQueryMod = kv.get("ann-queries")
        .map(longOpt("ann-queries")(_).toInt).getOrElse(100),
      vecIdCol = kv.getOrElse("vec-id-col", "vec_id"),
      embeddingCol = kv.getOrElse("embedding-col", "embedding"),
      overlapReport = flags("overlap-report"),
      overlapGroupCol = kv.getOrElse("overlap-group-col", "source"),
      noveltyReport = flags("novelty-report"),
      remigrate = flags("remigrate"),
      agreementReport = flags("agreement-report"),
      agreementGold = kv.getOrElse("agreement-gold", "lang"),
      agreementPred = kv.get("agreement-pred"),
      scoreReport = flags("score-report"),
      scoreCol = kv.get("score-col"),
      scoreLabel = kv.get("score-label"),
      scorePositive = kv.getOrElse("score-positive", "en"),
      scoreClasses = kv.get("score-classes"),
      vocabReport = flags("vocab-report"),
      driftReport = flags("drift-report"),
      driftCol = kv.getOrElse("drift-col", "n_chars"),
      driftGroupVal = kv.getOrElse("drift-group-val", "src0"),
      pumps = list("pumps"),
      probeDir = kv.get("probe-dir"),
      vacuumEvery = kv.get("vacuum-every").map { v =>
        val n = longOpt("vacuum-every")(v).toInt
        require(n >= 0, s"--vacuum-every=$v: expected >= 0 (0 = off)")
        n
      },
      vacuumKeep = kv.get("vacuum-keep").map { v =>
        val n = longOpt("vacuum-keep")(v).toInt
        require(n >= 1, s"--vacuum-keep=$v: expected >= 1 (the live " +
          "version is always retained)")
        n
      }.getOrElse(4))
    validate(c)
    c
  }

  /** The checks on a [[Config]] as a whole, made by [[parse]] and again
    * first thing in [[run]] (a Config built in code skips parse), so
    * `--dry` refuses exactly what the run would. */
  private def validate(c: Config): Unit = {
    // `--ppl-drop=` would otherwise name zero tiers and the filter
    // silently keep everything — a no-op the user asked to be a drop
    require(c.pplDrop.nonEmpty,
      s"--ppl-drop=${c.pplDrop.mkString(",")} names no tiers " +
        "(e.g. --ppl-drop=tail)")
    val unknownTiers = c.pplDrop.filterNot(Set("head", "middle", "tail"))
    require(unknownTiers.isEmpty,
      s"--ppl-drop: unknown bucket name(s) ${unknownTiers.mkString(", ")} " +
        "(expected head, middle, tail) — refusing a silent no-op filter")
    c.annRecall.foreach(v => require(AnnRecallVariants.contains(v),
      s"--ann-recall=$v: expected one of ${AnnRecallVariants.toSeq.sorted.mkString(", ")}"))
    require(!c.scd2 || c.scd2Value.isDefined,
      "--scd2 requires --scd2-value=<tracked column>")
    val badLegs = c.pumps.filterNot(MonitorLegs)
    require(badLegs.isEmpty, s"--pumps: unknown census legs " +
      s"${badLegs.mkString(",")} (known: " +
      s"${MonitorLegs.toSeq.sorted.mkString(",")})")
    require(c.pumps.distinct.size == c.pumps.size,
      s"--pumps: duplicate legs in ${c.pumps.mkString(",")}")
    require(!c.pumps.contains("contamination") || c.probeDir.isDefined,
      "--pumps=contamination needs --probe-dir=<parquet dir of " +
        "probe documents>")
    require(!c.pumps.contains("classes") || c.scoreClasses.isDefined,
      "--pumps=classes needs --score-classes=<per-class " +
        "probability map column>")
    require(!c.pumps.contains("agreement") ||
      agreementPreds(c).sizeIs <= 1,
      "the agreement pump grades ONE labeler against gold (the " +
        "durable census is a pairwise confusion matrix); a panel got " +
        s"${agreementPreds(c).size} predictions — use batch " +
        "--agreement-report for Fleiss' kappa")
  }

  private val AnnRecallVariants = Set("int8", "ivf", "pq", "lsh")

  /** The `--score-classes` quantization contract, applied AT the CLI
    * boundary: a float-valued probability map is quantized to
    * milli-units summing to exactly 1000 with
    * [[graft.ops.ScoreEval.quantizeMilli]] (largest remainder, ties
    * toward the smallest class key); an integral map is passed
    * through unchanged and must already satisfy the multiclass
    * faces' sum-to-1000 contract — they raise loudly otherwise.
    * Anything that is not a map is refused here, before any job runs.
    */
  private def classConfCol(schema: org.apache.spark.sql.types.StructType,
      name: String): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.types._
    require(schema.fieldNames.contains(name),
      s"--score-classes=$name: no such column (have " +
        s"${schema.fieldNames.mkString(", ")})")
    schema(name).dataType match {
      case MapType(_, DoubleType | FloatType, _) =>
        graft.ops.ScoreEval.quantizeMilli(
          org.apache.spark.sql.functions.col(name))
      case MapType(_, LongType | IntegerType | ShortType | ByteType, _) =>
        org.apache.spark.sql.functions.col(name).cast("map<string,bigint>")
      case other => throw new IllegalArgumentException(
        s"--score-classes=$name: expected a map<string, double|integral> " +
          s"column, got ${other.simpleString}")
    }
  }

  private def doubleOpt(name: String)(v: String): Double =
    v.toDoubleOption.getOrElse(throw new IllegalArgumentException(
      s"--$name=$v: expected a number"))

  private def longOpt(name: String)(v: String): Long =
    v.toLongOption.getOrElse(throw new IllegalArgumentException(
      s"--$name=$v: expected an integer"))

  def main(args: Array[String]): Unit = {
    val spark = graft.Sessions.builder(
        sys.env.getOrElse("SPARK_MASTER", "local[*]")).getOrCreate()
    val result = run(spark, parse(args.toIndexedSeq))
    result.ddl.foreach(println)
    result.jsonTemplates.foreach(println)
    result.dryPlanned.foreach(p => println(s"[dry] would run $p"))
    result.migrations.foreach { m =>
      println(s"migrated ${m.table}: src=${m.srcRows} dst=${m.dstRows} " +
        (if (m.reconciled) "OK" else "MISMATCH"))
    }
    result.remigrations.foreach { r =>
      println(s"remigrated ${r.table}: added=[${r.addedColumns.mkString(",")}] " +
        s"widened=[${r.widenedColumns.mkString(",")}] " +
        s"retained=${r.retainedRows} incoming=${r.incomingRows} " +
        s"dst=${r.dstRows} " + (if (r.reconciled) "OK" else "MISMATCH"))
    }
    result.csvDirs.foreach(d => println(s"csv export at $d"))
    result.curations.foreach { cu =>
      println(s"${cu.mode} ${cu.table}: src=${cu.srcRows} out=${cu.outRows} at ${cu.outDir}")
    }
    result.pumpedStateDir.foreach(d => println(s"pumped state at $d"))
    result.installedFiles.foreach(f => println(s"installed $f"))
    if (result.stateVersionList.nonEmpty)
      println(s"state versions: ${result.stateVersionList.mkString(", ")}")
    for (d <- result.stateExportDir; n <- result.stateExportRows)
      println(s"state exported to $d ($n rows)")
    spark.stop()
  }
}
