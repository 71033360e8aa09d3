package graft

import org.apache.spark.sql.functions._

/** Dev tool (the Bench/Verify/ScaleUp family, not library surface):
  * scale soak of the round-7 window family — Markov transitions,
  * CUSUM drift, median/MAD outliers, nucleus (top-p) selection —
  * whose shared contract is the per-GROUP sort window: cost is
  * Σ g·log g over group sizes, so growth must track rows as long as
  * group sizes stay bounded, and a HOT group (one key owning a large
  * row share) is the stress case, not total volume. Each operator
  * runs twice: on the natural keys, and with 10% of all rows
  * remapped onto ONE key (the hot-group regime — a single window
  * partition holding a tenth of the table). Reports seconds and
  * output cardinalities as one JSON line; run at sf0.1 and at a
  * ScaleUp 10× dir and compare growth — super-linear hot-group
  * degradation is the trigger for the RobustStats approx escape
  * hatch, measured here rather than guessed.
  *
  * `runMain graft.SoakWindowOps <sfDir>`
  */
object SoakWindowOps {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = Sessions.local(cpus)

    // re-scan per operator (the SoakTextOps rationale: no corpus-
    // sized checkpoint distorting the first timed op with spill)
    val events = Tables.load(spark, sfDir, "events")
    val docs = Tables.load(spark, sfDir, "documents")
    val nEvents = events.count()
    val nDocs = docs.count()

    // hot-group injection: every 10th row joins one key, so a single
    // window partition owns ~10% of the table
    val hotEvents = events.withColumn("user_id",
      when(pmod(col("event_id"), lit(10)) === 0, lit(-1L))
        .otherwise(col("user_id")))
    val hotDocs = docs.withColumn("source",
      when(pmod(col("doc_id"), lit(10)) === 0, lit("hot"))
        .otherwise(col("source")))

    def timed[T](f: => T): (T, Double) = {
      val t0 = System.nanoTime()
      val r = f
      (r, (System.nanoTime() - t0) / 1e9)
    }

    def markov(df: org.apache.spark.sql.DataFrame) =
      ops.Markov.transitionMatrix(df, col("user_id"), col("event_type"),
        col("ts"), col("event_id")).count()
    def cusum(df: org.apache.spark.sql.DataFrame) = {
      val daily = df.groupBy(col("event_type"),
          date_format(col("ts"), "yyyy-MM-dd").as("day"))
        .agg(count(lit(1)).as("n"))
      ops.Cusum.cusumScores(daily, col("event_type"), col("day"), col("n"),
        tieCol = col("day")).count()
    }
    def mad(df: org.apache.spark.sql.DataFrame) =
      ops.RobustStats.madOutliers(df, col("doc_id"), col("source"),
        col("n_chars")).count()
    def topP(df: org.apache.spark.sql.DataFrame) =
      ops.Sampler.topPByGroup(df, col("doc_id"), col("source"),
        col("n_chars"), pPpm = 800000L).count()

    val (nMk, tMk) = timed(markov(events))
    val (nMkH, tMkH) = timed(markov(hotEvents))
    val (nCu, tCu) = timed(cusum(events))
    val (nCuH, tCuH) = timed(cusum(hotEvents))
    val (nMd, tMd) = timed(mad(docs))
    val (nMdH, tMdH) = timed(mad(hotDocs))
    val (nTp, tTp) = timed(topP(docs))
    val (nTpH, tTpH) = timed(topP(hotDocs))

    println(s"""{"sfDir":"$sfDir","events":$nEvents,"docs":$nDocs,""" +
      s""""markov_rows":$nMk,"markov_sec":${f"$tMk%.2f"},""" +
      s""""markov_hot_rows":$nMkH,"markov_hot_sec":${f"$tMkH%.2f"},""" +
      s""""cusum_rows":$nCu,"cusum_sec":${f"$tCu%.2f"},""" +
      s""""cusum_hot_rows":$nCuH,"cusum_hot_sec":${f"$tCuH%.2f"},""" +
      s""""mad_rows":$nMd,"mad_sec":${f"$tMd%.2f"},""" +
      s""""mad_hot_rows":$nMdH,"mad_hot_sec":${f"$tMdH%.2f"},""" +
      s""""topp_rows":$nTp,"topp_sec":${f"$tTp%.2f"},""" +
      s""""topp_hot_rows":$nTpH,"topp_hot_sec":${f"$tTpH%.2f"}}""")
    spark.stop()
  }
}
