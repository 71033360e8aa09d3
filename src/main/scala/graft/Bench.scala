package graft
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.TimeUnit
import scala.jdk.CollectionConverters._

/** Benchmark main — fork-isolated: the default entrypoint is a
  * coordinator that groups the query list into small batches and runs
  * each batch in a FRESH child JVM, then merges the per-shard results
  * into the single one-line JSON record.
  *
  * Why fork: a single-JVM 86-query sweep accumulates heap, codegen
  * cache, and block-manager debt, and the clearCache+System.gc
  * mitigations cannot fully cure it — measured in round 4, the
  * in-sweep record overstated per-query cost 3-10x vs isolated runs
  * of the SAME build at the SAME local[32] (q92 54.1s in-sweep vs
  * 5.6s isolated). A record that lies 10x makes regression detection
  * impossible; process isolation is the only reliable fix. Child JVMs
  * are launched sequentially so each timed run owns the machine.
  *
  * Per query inside a shard: one untimed warmup run (session/JIT/
  * parquet-footer warmup), then at least `SPARK_GRAFT_BENCH_REPS`
  * timed runs (default 3, median reported — single-shot timing on a
  * shared machine is variance-exposed: identical builds measured
  * 3.3-12.4 s on the same query across runs), extending up to
  * `SPARK_GRAFT_BENCH_MAX_REPS` (default 7) while the three runs
  * bracketing the median still spread more than 15% — extra cost
  * lands only on queries whose timing is actually noisy.
  * Materialization is the noop sink (full evaluation of every
  * row/column — `.count()` would let Catalyst drop top-level sorts
  * and projects and understate real work).
  *
  * A query that throws is a loud failure: recorded in the JSON under
  * "errors", timed as -1, and the process exits nonzero — a
  * regression can't silently look like a fast success. A child JVM
  * that dies or hangs past the timeout marks its whole group failed
  * and the sweep continues.
  *
  * The one-line JSON goes to stdout AND to a file (sbt wraps forked
  * stdout in log decoration which can defeat line-oriented parsing;
  * the file is the reliable channel).
  *
  * A RECORD MUST ALWAYS LAND: the round-13 driver sweep timed out
  * (rc=124) with zero parseable output — 188 oracle-green queries and
  * not one visible timing. Two defenses, both on by default:
  *
  *  1. Tier: the default sweep is [[SparkEntry.benchCore]] (the
  *     data-touching shapes); the ~90 sub-second census queries whose
  *     isolated timing is ~95% JVM startup run only under
  *     SPARK_GRAFT_BENCH_TIER=full.
  *  2. Wall-clock budget: the coordinator tracks elapsed time against
  *     SPARK_GRAFT_BENCH_BUDGET (default 3000 s — inside the r12
  *     driver window's measured 3391 s of bench wall, with sbt
  *     startup slack) and degrades
  *     GRACEFULLY when the projection overruns: reps 3→1 first, then
  *     grouped children (4 queries/JVM — startup amortized), then
  *     truncation with the skipped queries RECORDED. The record names
  *     how it degraded ("mode") so sweeps stay comparable, and the
  *     out-file is rewritten after every child so even a hard kill
  *     leaves a parseable partial record.
  *
  * Env knobs:
  *   SPARK_GRAFT_BENCH_ONLY=q01_x,q02_y  subset sweep (both modes;
  *                                       bypasses the tier filter)
  *   SPARK_GRAFT_BENCH_TIER=core|full    query tier (default core =
  *                                       SparkEntry.benchCore)
  *   SPARK_GRAFT_BENCH_BUDGET=secs       coordinator wall-clock budget
  *                                       (default 3000; 0 = unlimited)
  *   SPARK_GRAFT_BENCH_GROUP=N           queries per child JVM (default 1:
  *                                       fully isolated official record —
  *                                       grouped children overstated the
  *                                       heavy tail 2-5x via groupmate debt)
  *   SPARK_GRAFT_BENCH_REPS=N            minimum timed runs per query,
  *                                       median kept (default 3)
  *   SPARK_GRAFT_BENCH_MAX_REPS=N        rep cap while the median
  *                                       neighborhood is unstable (default 7)
  *   SPARK_GRAFT_BENCH_INPROC=1          run everything in THIS JVM
  *                                       (shard mode; coordinator sets it)
  *   SPARK_GRAFT_BENCH_TIMEOUT=secs      per-child timeout (default 1800)
  *   SPARK_GRAFT_BENCH_PAIR=pathB        interleaved A/B pair sweep:
  *                                       each query runs twice back to
  *                                       back (outPath, then pathB) —
  *                                       the drift-cancelling protocol
  *                                       for same-tree agreement pairs
  *                                       (requires BUDGET=0)
  */
object Bench {
  def main(args: Array[String]): Unit = {
    // default under target/ (untracked): a driver or ad-hoc sweep
    // must not shadow the COMMITTED pair files (BENCH_LOCAL*.json are
    // written only when a path is passed explicitly)
    val outPath = args.headOption
      .orElse(sys.env.get("SPARK_GRAFT_BENCH_OUT"))
      .getOrElse("target/bench_local.json")
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val tier = sys.env.getOrElse("SPARK_GRAFT_BENCH_TIER", "core")
    require(tier == "core" || tier == "full",
      s"SPARK_GRAFT_BENCH_TIER=$tier: expected core or full")
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filterNot(SparkEntry.benchExclude)
      // an explicit ONLY list (a standalone measurement, or a
      // coordinator-launched shard) bypasses the tier filter
      .filter(n => only.forall(_.contains(n)))
      .filter(n => only.isDefined || tier == "full" || SparkEntry.benchCore(n))
    if (sys.env.contains("SPARK_GRAFT_BENCH_INPROC")) runShard(names, outPath)
    else sys.env.get("SPARK_GRAFT_BENCH_PAIR") match {
      case Some(pathB) => coordinatePair(names, outPath, pathB, tier)
      case None => coordinate(names, outPath, tier)
    }
  }

  // ---------------------------------------------------------------- shard

  /** Run `names` in this JVM and write the standard record to `outPath`.
    * This is the measured path; the coordinator invokes it in a child
    * JVM per group, so the debt a query can inherit is bounded by its
    * few groupmates, not the whole sweep.
    */
  private def runShard(names: Seq[String], outPath: String): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = Sessions.local(cpus)

    def runOnce(name: String): Option[String] =
      try {
        SparkEntry.queries(name)(spark, sfDir)
          .write.format("noop").mode("overwrite").save()
        None
      } catch { case e: Throwable => Some(s"${e.getClass.getSimpleName}: ${e.getMessage}") }

    // Drop persisted blocks between runs: several queries
    // localCheckpoint intermediates (dedup indexes, prepared vector
    // frames), and without an explicit unpersist those blocks pile up
    // in the block manager — the timed queries then pay GC/eviction
    // for the warmup pass's leftovers.
    def clearState(): Unit = {
      spark.sqlContext.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
    }

    // warmup pass (untimed)
    names.foreach(runOnce)
    clearState()
    // clearState drops persisted blocks but not the heap/codegen-cache
    // debt of the warmup pass — an explicit GC plus one sacrificial
    // untimed query keeps the first timed query from absorbing it.
    System.gc()
    names.headOption.foreach(runOnce)
    clearState()
    System.gc()

    val reps = sys.env.get("SPARK_GRAFT_BENCH_REPS").map(_.toInt).getOrElse(3)
    val maxReps = sys.env.get("SPARK_GRAFT_BENCH_MAX_REPS").map(_.toInt)
      .getOrElse(7).max(reps)
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    val results = names.map { name =>
      val times = scala.collection.mutable.ArrayBuffer.empty[Double]
      var err = Option.empty[String]
      var rep = 0
      while (err.isEmpty && rep < maxReps &&
          (rep < reps || !medianStable(times.toSeq))) {
        val t0 = System.nanoTime()
        err = runOnce(name)
        val secs = (System.nanoTime() - t0) / 1e9
        clearState() // outside the timed window
        System.gc()  // each rep starts from the same heap baseline
        if (err.isEmpty) times += secs
        rep += 1
      }
      err.foreach(errors += name -> _)
      name -> (if (err.isDefined || times.isEmpty) -1.0
               else median(times.toSeq))
    }
    writeRecord(outPath, results, errors.toSeq, sfDir)
    spark.stop()
    if (errors.nonEmpty) sys.exit(1)
  }

  // ---------------------------------------------------------- coordinator

  /** Per-query cost factor of each degradation level vs the measured
    * full-protocol child average: reps 3→1 saves the two extra timed
    * reps but not the (dominant) JVM+session startup; grouping 4
    * queries per child splits that startup 4 ways on top. The factors
    * are planning estimates — the actual spend is re-measured after
    * every child, so a wrong estimate self-corrects within one child.
    */
  private[graft] val Levels: Seq[(String, Int, Double)] = Seq(
    ("full-reps3", 1, 1.0),     // official protocol: isolated, reps 3
    ("budget-reps1", 1, 0.75),  // isolated, single timed rep
    ("budget-group4", 4, 0.40)) // 4 queries/child, single rep

  /** The budget decision before each child: escalate while finishing
    * everything at the current level projects past the budget;
    * return Levels.size (= truncate, skips recorded) only when even
    * the NEXT child at the cheapest level won't fit — partial grouped
    * coverage beats dropping the rest of the sweep. Monotone: the
    * level never goes back down (comparability within a sweep).
    */
  private[graft] def planLevel(level: Int, pendingSize: Int,
      elapsed: Double, avgChild: Double, budget: Double): Int = {
    def childCost(l: Int): Double = avgChild * Levels(l)._3 * Levels(l)._2
    def projection(l: Int): Double = elapsed +
      math.ceil(pendingSize.toDouble / Levels(l)._2) * childCost(l)
    var l = level
    while (l < Levels.size - 1 && projection(l) > budget) l += 1
    if (elapsed + childCost(l) > budget) Levels.size else l
  }

  /** Partition `names` into groups, run each group in a fresh child
    * JVM (cloned from this JVM's executable, classpath, and VM flags —
    * sbt `run / fork := true` means those carry the add-opens and heap
    * settings), and merge the shard records. The out-file is rewritten
    * after every child (a killed sweep still leaves a parseable
    * partial record), and the wall-clock budget walks the [[Levels]]
    * ladder — truncating, with the skips RECORDED, only when even
    * grouped children cannot fit.
    */
  /** One child-JVM launch: the group's queries run fully isolated in
    * a fresh process (cloned executable/classpath/VM flags), its
    * record landing at `shardOut`. Returns Some(message) on a
    * shard-level failure (timeout, JVM death before reporting), None
    * when a record landed — per-query errors then live IN the record.
    */
  private final case class ChildLauncher(java: String, vmArgs: Seq[String],
      classpath: String, timeoutSecs: Long) {
    def run(group: Seq[String], shardOut: Path,
        reps1: Boolean): Option[String] = {
      val cmd = (Seq(java) ++ vmArgs ++
        Seq("-cp", classpath, "graft.Bench", shardOut.toString)).asJava
      val pb = new ProcessBuilder(cmd)
      pb.environment.put("SPARK_GRAFT_BENCH_INPROC", "1")
      pb.environment.put("SPARK_GRAFT_BENCH_ONLY", group.mkString(","))
      // the pair knob must not leak into children: a child with PAIR
      // set would still take the INPROC branch, but hygiene first
      pb.environment.remove("SPARK_GRAFT_BENCH_PAIR")
      if (reps1) {
        pb.environment.put("SPARK_GRAFT_BENCH_REPS", "1")
        pb.environment.put("SPARK_GRAFT_BENCH_MAX_REPS", "1")
      }
      pb.redirectErrorStream(true)
      pb.redirectOutput(ProcessBuilder.Redirect.INHERIT)
      try {
        val p = pb.start()
        if (!p.waitFor(timeoutSecs, TimeUnit.SECONDS)) {
          p.destroyForcibly(); p.waitFor()
          Some(s"shard timeout after ${timeoutSecs}s")
        } else if (!Files.exists(shardOut)) {
          // nonzero exit with a record still present = per-query
          // errors already recorded in the shard file; only a
          // missing record means the JVM died before reporting.
          Some(s"child JVM exited rc=${p.exitValue} with no record")
        } else None
      } catch { case e: Exception =>
        Some(s"${e.getClass.getSimpleName}: ${e.getMessage}") }
    }
  }

  private def launcher(): ChildLauncher = ChildLauncher(
    java = Paths.get(sys.props("java.home"), "bin", "java").toString,
    vmArgs = childVmArgs(
      ManagementFactory.getRuntimeMXBean.getInputArguments.asScala.toSeq),
    classpath = sys.props("java.class.path"),
    timeoutSecs = sys.env.get("SPARK_GRAFT_BENCH_TIMEOUT").map(_.toLong)
      .getOrElse(1800L))

  private def coordinate(names: Seq[String], outPath: String,
      tier: String): Unit = {
    val groupSize = sys.env.get("SPARK_GRAFT_BENCH_GROUP").map(_.toInt).getOrElse(1)
    val budget = sys.env.get("SPARK_GRAFT_BENCH_BUDGET").map(_.toDouble)
      .getOrElse(3000.0)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val kids = launcher()
    val shardDir = Files.createTempDirectory("graft-bench-")

    val sweepStart = System.nanoTime()
    def elapsed: Double = (System.nanoTime() - sweepStart) / 1e9
    val pending = scala.collection.mutable.Queue(names: _*)
    val results = scala.collection.mutable.ArrayBuffer.empty[(String, Double)]
    val errors = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    var level = 0          // index into Levels; Levels.size = truncated
    var childCount = 0
    var childSecs = 0.0
    // planning prior before the first child lands (~20 s JVM startup
    // + warmup + 3 reps of a core-tier query in a degraded window)
    def avgChild: Double =
      if (childCount == 0) 30.0 else childSecs / childCount
    def extraJson(skipped: Seq[String], mode: String): String = {
      val sk = skipped.map(s => s""""${esc(s)}"""").mkString("[", ",", "]")
      s""","tier":"$tier","mode":"$mode","budget":$budget,"skipped":$sk"""
    }
    def modeName: String =
      Levels(math.min(level, Levels.size - 1))._1 +
        (if (level >= Levels.size) "-truncated" else "")

    var i = 0
    while (pending.nonEmpty && level < Levels.size) {
      // the planning prior (avgChild = 30 s before any child lands)
      // applies BEFORE the first child too: a budget already smaller
      // than one full-protocol child degrades immediately instead of
      // discovering the overrun one child late
      if (budget > 0) {
        val next = planLevel(level, pending.size, elapsed, avgChild, budget)
        if (next != level) System.err.println(
          if (next >= Levels.size)
            f"[bench] budget ${budget}%.0fs exhausted at ${elapsed}%.0fs: " +
              f"truncating with ${pending.size} queries pending " +
              "(recorded as skipped)"
          else
            f"[bench] budget ${budget}%.0fs at risk (${elapsed}%.0fs " +
              f"elapsed, ${pending.size} pending, avg child " +
              f"$avgChild%.1fs): degrading to ${Levels(next)._1}")
        level = next
      }
      if (level < Levels.size) {
        val (_, grp, _) = Levels(level)
        val take = math.max(grp, if (level == 0) math.max(1, groupSize) else grp)
        val group = (0 until math.min(take, pending.size))
          .map(_ => pending.dequeue())
        val shardOut = shardDir.resolve(s"shard$i.json")
        val t0 = System.nanoTime()
        val failure = kids.run(group, shardOut, reps1 = level >= 1)
        val childSec = (System.nanoTime() - t0) / 1e9
        childCount += 1; childSecs += childSec
        System.err.println(f"[bench] child ${i + 1} (${group.mkString(",")}) " +
          f"$childSec%.1fs${failure.fold("")(" FAILED: " + _)}")
        failure match {
          case Some(msg) =>
            group.foreach { n => results += n -> -1.0; errors += n -> msg }
          case None =>
            val (qs, errs) = parseRecord(Files.readString(shardOut))
            // keep the coordinator's group order for queries the shard
            // somehow omitted (defensive; should not happen)
            group.foreach { n =>
              results += n -> qs.getOrElse(n, -1.0)
              errs.get(n).orElse(
                if (qs.contains(n)) None else Some("missing from shard record"))
                .foreach(errors += n -> _)
            }
        }
        // a parseable record exists from the first child onward — a
        // hard kill mid-sweep no longer erases the whole sweep
        writeRecord(outPath, results.toSeq, errors.toSeq, sfDir,
          extra = extraJson(pending.toSeq, modeName), print = false)
        i += 1
      }
    }
    // the LAST stdout line is the FULL per-query record: at 3-decimal
    // precision it is ~2.5 KB and fits the driver's tail-capture
    // window, and the driver parses the LAST line — r15's summary-last
    // ordering handed it an empty queries map and blinded per-query
    // PERF. The ≤200-byte summary stays, one line EARLIER, as the
    // at-a-glance headline.
    println(summaryLine(results.toSeq, errors.size, modeName))
    writeRecord(outPath, results.toSeq, errors.toSeq, sfDir,
      extra = extraJson(pending.toSeq, modeName))
    if (errors.nonEmpty) sys.exit(1)
  }

  /** Interleaved A/B pair sweep (`SPARK_GRAFT_BENCH_PAIR=<pathB>`):
    * every query runs TWO fully-isolated full-protocol children back
    * to back — the first recorded into the primary out-path, the
    * second into `pathB` (A₁B₁A₂B₂…). On a host whose speed drifts
    * over a multi-hour wall, two SEQUENTIAL sweeps confound code with
    * window (round 14: four sweep totals moved 23% monotonically and
    * the committed pair agreed on only 47/69 queries); interleaving
    * puts each query's two measurements seconds apart, so the window
    * trend cancels per query instead of accumulating per sweep.
    * Protocol-only mode: the budget ladder is deliberately not
    * supported (pair sweeps pin SPARK_GRAFT_BENCH_BUDGET=0 so both
    * sides stay full-reps3 and comparable); both out-files are
    * rewritten after every query, so a killed sweep leaves two
    * parseable partial records.
    */
  private def coordinatePair(names: Seq[String], outA: String,
      outB: String, tier: String): Unit = {
    val budget = sys.env.get("SPARK_GRAFT_BENCH_BUDGET").map(_.toDouble)
      .getOrElse(3000.0)
    require(budget == 0.0, "SPARK_GRAFT_BENCH_PAIR is a protocol sweep: " +
      "set SPARK_GRAFT_BENCH_BUDGET=0 (the budget ladder would make " +
      "the two sides incomparable)")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val kids = launcher()
    val shardDir = Files.createTempDirectory("graft-bench-pair-")
    final case class Side(out: String, tag: String) {
      val results = scala.collection.mutable.ArrayBuffer.empty[(String, Double)]
      val errors = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    }
    val sides = Seq(Side(outA, "A"), Side(outB, "B"))
    var i = 0
    names.foreach { q =>
      sides.foreach { side =>
        val shardOut = shardDir.resolve(s"shard$i.json")
        val t0 = System.nanoTime()
        val failure = kids.run(Seq(q), shardOut, reps1 = false)
        val childSec = (System.nanoTime() - t0) / 1e9
        System.err.println(f"[bench] pair-${side.tag} child ${i + 1} " +
          f"($q) $childSec%.1fs${failure.fold("")(" FAILED: " + _)}")
        failure match {
          case Some(msg) =>
            side.results += q -> -1.0; side.errors += q -> msg
          case None =>
            val (qs, errs) = parseRecord(Files.readString(shardOut))
            side.results += q -> qs.getOrElse(q, -1.0)
            errs.get(q).orElse(
              if (qs.contains(q)) None else Some("missing from shard record"))
              .foreach(side.errors += q -> _)
        }
        writeRecord(side.out, side.results.toSeq, side.errors.toSeq, sfDir,
          extra = s""","tier":"$tier","mode":"pair-${side.tag}"""",
          print = false)
        i += 1
      }
    }
    sides.foreach { side =>
      // summary first, full record last (same stdout contract as
      // coordinate: the consumer parses the LAST line)
      println(summaryLine(side.results.toSeq, side.errors.size,
        s"pair-${side.tag}"))
      writeRecord(side.out, side.results.toSeq, side.errors.toSeq, sfDir,
        extra = s""","tier":"$tier","mode":"pair-${side.tag}"""")
    }
    if (sides.exists(_.errors.nonEmpty)) sys.exit(1)
  }

  /** The ≤200-byte at-a-glance summary, printed one line BEFORE the
    * final full record (the consumer parses the LAST stdout line, so
    * the record with the per-query map must come last): metric/value/
    * unit keep the record contract, an empty queries map marks it as
    * the summary, total/n/mode/errs are the headline fields.
    */
  private[graft] def summaryLine(results: Seq[(String, Double)],
      nErrs: Int, mode: String): String = {
    val total = fmt3(results.collect { case (_, v) if v >= 0 => v }.sum)
    s"""{"metric":"total","value":$total,"unit":"sec","queries":{},""" +
      s""""total":$total,"n":${results.size},"mode":"$mode",""" +
      s""""errs":$nErrs,"summary":true}"""
  }

  private[graft] def median(ts: Seq[Double]): Double =
    ts.sorted.apply(ts.size / 2)

  /** The reported median is trustworthy when its NEIGHBORHOOD is
    * tight: the three sorted values bracketing it spread <= 15% of
    * the median. Global max-min would never converge (it only grows
    * with more reps); this criterion lets one or two outlier reps
    * coexist with a stable center.
    */
  private[graft] def medianStable(ts: Seq[Double]): Boolean =
    ts.size >= 3 && {
      val s = ts.sorted
      val mid3 = s.slice((s.size - 3) / 2, (s.size - 3) / 2 + 3)
      mid3.last - mid3.head <= 0.15 * s(s.size / 2)
    }

  /** The child JVM flags worth inheriting: heap/stack sizing, module
    * opens (Spark needs them on 17+), and spark/graft system props.
    * Cloning the parent's FULL getInputArguments would also replicate
    * launcher-specific flags (sbt agents, IDE bootclasspath, debug
    * ports) into every child — a debug port alone would make every
    * child after the first fail to bind.
    */
  private[graft] def childVmArgs(all: Seq[String]): Seq[String] =
    all.filter { a =>
      a.startsWith("-Xm") || a.startsWith("-Xss") ||
      a.startsWith("--add-opens") || a.startsWith("--add-exports") ||
      a.startsWith("--add-modules") || a.startsWith("--enable-native-access") ||
      a.startsWith("-XX:") ||
      a.startsWith("-Dspark.") || a.startsWith("-Dgraft.") ||
      a.startsWith("-Dderby.") || a.startsWith("-Djava.io.tmpdir")
    }

  // ------------------------------------------------------------- record IO

  private def esc(s: String): String =
    s.flatMap { case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
                case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString }

  /** `extra` lands AFTER the "sf" field (the errors-section parse
    * delimits on `},"sf":` — nothing may come between them); `print`
    * is suppressed for the per-child interim rewrites (the stdout
    * contract is ONE final JSON line).
    */
  /** Seconds at millisecond precision — the record's wire format.
    * Sub-ms digits are noise on this protocol (same-build medians
    * spread percents, not ppm) and the 9-digit nanosecond tail was
    * ~40% of a 69-query record line: the driver's tail-capture window
    * truncated the r14 record mid-line exactly because of that bulk.
    */
  private[graft] def fmt3(v: Double): String =
    java.math.BigDecimal.valueOf(v)
      .setScale(3, java.math.RoundingMode.HALF_UP).toPlainString

  private[graft] def writeRecord(outPath: String, results: Seq[(String, Double)],
                          errors: Seq[(String, String)], sfDir: String,
                          extra: String = "", print: Boolean = true): Unit = {
    val qs = results.map { case (k, v) => s""""${esc(k)}":${fmt3(v)}""" }
      .mkString("{", ",", "}")
    val errJson = errors.map { case (k, v) => s""""${esc(k)}":"${esc(v)}"""" }
      .mkString("{", ",", "}")
    val total = fmt3(results.collect { case (_, v) if v >= 0 => v }.sum)
    val line =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,""" +
      s""""errors":$errJson,"sf":"$sfDir"$extra}"""
    if (print) println(line)
    val p = Paths.get(outPath)
    Option(p.getParent).foreach(Files.createDirectories(_))
    Files.writeString(p, line + "\n")
  }

  /** Parse a shard record this object wrote. Not a general JSON parser
    * — it only needs to invert `writeRecord`, whose string values are
    * `esc`-escaped (so a raw `"` never appears inside a value).
    */
  private[graft] def parseRecord(line: String): (Map[String, Double], Map[String, String]) = {
    // delimit by the known following key, not the first '}' — error
    // message text may legally contain braces
    def section(tag: String, endMark: String): String = {
      val start = line.indexOf(s""""$tag":{""")
      if (start < 0) return ""
      val open = line.indexOf('{', start)
      val close = line.indexOf(endMark, open)
      if (close < 0) "" else line.substring(open + 1, close)
    }
    val qRe = """"([^"]+)":(-?[0-9.Ee+-]+)""".r
    val qs = qRe.findAllMatchIn(section("queries", "},\"errors\":"))
      .map(m => m.group(1) -> m.group(2).toDouble).toMap
    val eRe = """"((?:[^"\\]|\\.)+)":"((?:[^"\\]|\\.)*)"""".r
    val errs = eRe.findAllMatchIn(section("errors", "},\"sf\":"))
      .map(m => unesc(m.group(1)) -> unesc(m.group(2))).toMap
    (qs, errs)
  }

  /** Exact inverse of [[esc]], one left-to-right pass. Chained
    * `String.replace` calls are NOT an inverse: replacing `\\` after
    * `\n` turns a literal backslash-n in the original text into
    * backslash+newline, and the `\\uXXXX` control escapes would never
    * be decoded at all.
    */
  private[graft] def unesc(s: String): String = {
    val sb = new StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '\\' && i + 1 < s.length) s.charAt(i + 1) match {
        case 'n' => sb += '\n'; i += 2
        case '"' => sb += '"'; i += 2
        case '\\' => sb += '\\'; i += 2
        case 'u' if i + 5 < s.length =>
          sb += Integer.parseInt(s.substring(i + 2, i + 6), 16).toChar; i += 6
        case _ => sb += c; i += 1
      } else { sb += c; i += 1 }
    }
    sb.toString
  }
}
