package graft.streaming

import graft.dedup.Dedup
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

/** PRODUCTION faces of the streaming curation censuses: documents
  * arrive as a stream and each census persists through
  * [[BucketStateStore]] via `foreachBatch`, so a killed pump resumes
  * from its checkpoint with the state intact — the q140/StreamingCdc
  * crash-recovery discipline applied to corpus analytics.
  *
  * Each census is a [[MonitorLeg]] (`noveltyLeg`, `scoreLeg`, …) and
  * [[startMonitorPump]] runs one or several legs over one reader. The
  * memory-sink drains in [[graft.queries.IngestQueries]]
  * (`streamNovelty`/`streamContamination`, the q154/q155 gate faces)
  * stay as the ORACLE HARNESS — they prove drain-equals-batch against
  * DuckDB but hold the whole answer in a complete-mode memory sink,
  * which is driver-sized at corpus scale. The legs are what a
  * deployment runs: state lives in hash-bucketed copy-on-write
  * parquet (RocksDB-free, readable by any Spark job), each
  * micro-batch rewrites only the key-buckets it touches, and the
  * streaming checkpoint + the store's batch-id fence give
  * exactly-once across crash replays.
  *
  * Mirrors the role of the reference's resident pump loop
  * (pumper.py:13-47, mysqlreader.py:362-448 in /root/reference) with
  * curation state instead of replicated rows.
  */
object CurationPumps {

  /** Persisted dictionary schema: each distinct k-shingle's
    * first-occurrence document id. This IS the crawl-saturation
    * monitor's between-snapshots state; its cardinality is the same
    * one the batch op (Dedup.ngramNovelty) shuffles.
    */
  val NoveltySchema: StructType = StructType(Seq(
    StructField("shingle", StringType, nullable = true),
    StructField("first_doc", LongType, nullable = true)))

  /** Persisted verdict schema: per contaminated document, how many of
    * its distinct k-shingles hit the probe set.
    */
  val ContaminationSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType, nullable = true),
    StructField("n_hits", LongType, nullable = true)))

  private def emptyOf(spark: SparkSession, schema: StructType): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.emptyRDD[Row], schema)

  /** Fold one document batch into the seen-shingle min-dictionary.
    * The batch pre-aggregates to one row per distinct shingle
    * (map-side combine), then the store merge takes `min(first_doc)`
    * of state and batch — min is commutative AND idempotent, so
    * arrival order is irrelevant and a crash-replayed batch folds to
    * a no-op even without the fence (the fence is passed anyway: it
    * skips the replay's read-merge-write entirely).
    */
  private[graft] def mergeNoveltyBatch(batch: DataFrame, stateDir: String,
      k: Int, idCol: String, textCol: String, numBuckets: Int,
      batchId: Option[Long]): Unit = {
    val batchMin = Dedup.shingleRows(batch, k, idCol, textCol)
      .groupBy(col("shingle"))
      .agg(min(col("doc_id")).as("first_doc"))
    val template = emptyOf(batch.sparkSession, NoveltySchema)
    BucketStateStore.merge(batchMin, stateDir, Seq("shingle"), template,
      numBuckets, batchId) { (state, b) =>
      state.unionByName(b)
        .groupBy(col("shingle"))
        .agg(min(col("first_doc")).as("first_doc"))
    }
  }

  /** The novelty report derived from the PERSISTED dictionary —
    * row-identical to batch [[Dedup.ngramNovelty]] over the same
    * corpus (the q154 contract, now against durable state instead of
    * a memory sink): per document with ≥1 shingle, how many of its
    * distinct k-shingles first occurred in it. `docs` supplies the
    * per-doc gram totals (per-file facts, not state).
    */
  def noveltyReport(spark: SparkSession, stateDir: String,
      docs: DataFrame, k: Int = 3, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val dict = BucketStateStore.currentState(spark, stateDir,
      emptyOf(spark, NoveltySchema))
    val novel = dict.groupBy(col("first_doc"))
      .agg(count(lit(1)).as("nov"))
    val perDoc = Dedup.shingleRows(docs, k, idCol, textCol)
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_grams"))
    perDoc.join(novel, col("doc_id") === col("first_doc"), "left")
      .select(col("doc_id"), col("n_grams"),
        coalesce(col("nov"), lit(0L)).as("novel"),
        (coalesce(col("nov"), lit(0L)).cast("double") /
          col("n_grams").cast("double")).as("novelty"))
      .orderBy("doc_id")
  }

  /** Fold one document batch's contamination verdicts into the store.
    * Verdicts are per-doc facts of the arriving document (distinct
    * shingles ∩ probe set), so the combine is replace-by-key: a
    * replayed batch recomputes identical verdicts and overwrites them
    * — idempotent, with the fence skipping the work besides.
    */
  private[graft] def mergeContaminationBatch(batch: DataFrame,
      probeShingles: DataFrame, stateDir: String, k: Int, idCol: String,
      textCol: String, numBuckets: Int, batchId: Option[Long]): Unit = {
    val hits = Dedup.shingleRows(batch, k, idCol, textCol)
      .join(broadcast(probeShingles), Seq("shingle"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_hits"))
    val template = emptyOf(batch.sparkSession, ContaminationSchema)
    BucketStateStore.merge(hits, stateDir, Seq("doc_id"), template,
      numBuckets, batchId) { (state, b) =>
      state.join(b.select("doc_id"), Seq("doc_id"), "left_anti")
        .unionByName(b)
    }
  }

  /** The persisted contamination verdicts — row-identical to batch
    * [[Dedup.contaminationScan]] over the drained corpus (the q155
    * contract against durable state).
    */
  def contaminationVerdicts(spark: SparkSession,
      stateDir: String): DataFrame =
    BucketStateStore.currentState(spark, stateDir,
      emptyOf(spark, ContaminationSchema))
      .orderBy("doc_id")

  /** Persisted confusion-cell schema for the agreement pump: one row
    * per (gold, predicted) class pair with its running count —
    * class-cardinality-squared-sized, orders of magnitude narrower
    * than the rated documents.
    */
  val AgreementSchema: StructType = StructType(Seq(
    StructField("gold", StringType, nullable = true),
    StructField("pred", StringType, nullable = true),
    StructField("n", LongType, nullable = true)))

  /** Fold one document batch's confusion cells into the store. The
    * combine is an ADDITIVE count merge — commutative (arrival order
    * is irrelevant, so drain == batch) but NOT idempotent, so the
    * batch-id fence is LOAD-BEARING here, unlike the novelty leg's
    * min-merge: without it a crash-replayed batch would double-count
    * its cells (the IncrementalAgg regime of
    * [[BucketStateStore.merge]]).
    */
  private[graft] def mergeAgreementBatch(batch: DataFrame,
      gold: org.apache.spark.sql.Column, pred: org.apache.spark.sql.Column,
      stateDir: String, numBuckets: Int, batchId: Option[Long]): Unit = {
    val cells = graft.ops.Agreement.confusionCells(batch, gold, pred)
    val template = emptyOf(batch.sparkSession, AgreementSchema)
    BucketStateStore.merge(cells, stateDir, Seq("gold", "pred"), template,
      numBuckets, batchId) { (state, b) =>
      state.unionByName(b)
        .groupBy(col("gold"), col("pred"))
        .agg(sum(col("n")).as("n"))
    }
  }

  /** The persisted confusion cells, as
    * [[graft.ops.Agreement.classifierReportFromCells]] input. */
  def agreementCells(spark: SparkSession, stateDir: String): DataFrame =
    BucketStateStore.currentState(spark, stateDir,
      emptyOf(spark, AgreementSchema))

  /** The classifier report derived from the PERSISTED census —
    * row-identical to batch [[graft.ops.Agreement.classifierReport]]
    * over the drained corpus (additive counts are commutative, and
    * both faces grade the same cell frame through one code path).
    */
  def agreementReport(spark: SparkSession, stateDir: String): DataFrame =
    graft.ops.Agreement.classifierReportFromCells(
      agreementCells(spark, stateDir))

  /** Persisted per-score census schema for the score pump: one row
    * per distinct quantized score value with running positive /
    * negative counts — score-cardinality-sized, orders of magnitude
    * narrower than the scored documents.
    */
  val ScoreSchema: StructType = StructType(Seq(
    StructField("s", LongType, nullable = true),
    StructField("pos", LongType, nullable = true),
    StructField("neg", LongType, nullable = true)))

  /** Fold one batch's per-score census into the store. Additive
    * count merge — commutative (drain == batch) but NOT idempotent,
    * so the batch-id fence is LOAD-BEARING (the [[mergeAgreementBatch]]
    * regime): without it a crash-replayed batch would double-count
    * its score cells.
    */
  private[graft] def mergeScoreBatch(batch: DataFrame,
      score: org.apache.spark.sql.Column,
      label: org.apache.spark.sql.Column,
      stateDir: String, numBuckets: Int, batchId: Option[Long]): Unit = {
    val cells = graft.ops.ScoreEval.scoreCensus(batch, score, label)
    val template = emptyOf(batch.sparkSession, ScoreSchema)
    BucketStateStore.merge(cells, stateDir, Seq("s"), template,
      numBuckets, batchId) { (state, b) =>
      state.unionByName(b)
        .groupBy(col("s"))
        .agg(sum(col("pos")).as("pos"), sum(col("neg")).as("neg"))
    }
  }

  /** The persisted score census, as
    * [[graft.ops.ScoreEval.rocAucFromCensus]] input. */
  def scoreCensusState(spark: SparkSession, stateDir: String): DataFrame =
    BucketStateStore.currentState(spark, stateDir,
      emptyOf(spark, ScoreSchema))

  /** ROC-AUC derived from the PERSISTED census — row-identical to
    * batch [[graft.ops.ScoreEval.rocAuc]] over the drained corpus
    * (per-score counts are additive and commutative, and both faces
    * grade the same census frame through one code path).
    */
  def scoreAuc(spark: SparkSession, stateDir: String): DataFrame =
    graft.ops.ScoreEval.rocAucFromCensus(scoreCensusState(spark, stateDir))

  /** Persisted two-population score census for the drift pump: one
    * row per distinct quantized score with running counts for the
    * watched slice (`b`) and the rest (`a`).
    */
  val DriftSchema: StructType = StructType(Seq(
    StructField("s", LongType, nullable = true),
    StructField("a", LongType, nullable = true),
    StructField("b", LongType, nullable = true)))

  /** Fold one batch's two-population census into the store —
    * additive, commutative, NOT idempotent: the batch-id fence is
    * load-bearing (the [[mergeScoreBatch]] regime).
    */
  private[graft] def mergeDriftBatch(batch: DataFrame,
      score: org.apache.spark.sql.Column,
      group: org.apache.spark.sql.Column,
      stateDir: String, numBuckets: Int, batchId: Option[Long]): Unit = {
    val cells = graft.ops.ScoreEval.ksCensus(batch, score, group)
    val template = emptyOf(batch.sparkSession, DriftSchema)
    BucketStateStore.merge(cells, stateDir, Seq("s"), template,
      numBuckets, batchId) { (state, b) =>
      state.unionByName(b)
        .groupBy(col("s"))
        .agg(sum(col("a")).as("a"), sum(col("b")).as("b"))
    }
  }

  /** The persisted two-population census, as
    * [[graft.ops.ScoreEval.ksFromCensus]] input. */
  def driftCensusState(spark: SparkSession, stateDir: String): DataFrame =
    BucketStateStore.currentState(spark, stateDir,
      emptyOf(spark, DriftSchema))

  /** KS statistic derived from the PERSISTED census — row-identical
    * to batch [[graft.ops.ScoreEval.ksTest]] over the drained corpus
    * (additive counts, one code path through ksFromCensus).
    */
  def driftKs(spark: SparkSession, stateDir: String): DataFrame =
    graft.ops.ScoreEval.ksFromCensus(driftCensusState(spark, stateDir))

  // ------------------------------------------------------------------
  // Token-JSD and embedding-drift censuses — the two drift-triad legs
  // that were batch-only: both censuses are additive and commutative
  // ((group, token) counts; (grp, dim) component sums), exactly the
  // drain-equals-batch shape of the score/drift pumps.
  // ------------------------------------------------------------------

  /** Fallback schema for a never-merged JSD store (the persisted
    * schema is normally inferred from the stored parquet, so any
    * group type round-trips — this is only the empty-state shape).
    */
  val JsdSchema: StructType = StructType(Seq(
    StructField("grp", StringType, nullable = true),
    StructField("tok", StringType, nullable = true),
    StructField("c", LongType, nullable = true)))

  /** Fallback schema for a never-merged embedding-drift store. */
  val EmbeddingDriftSchema: StructType = StructType(Seq(
    StructField("grp", IntegerType, nullable = true),
    StructField("pos", IntegerType, nullable = false),
    StructField("s", LongType, nullable = true),
    StructField("cnt", LongType, nullable = true)))

  /** Current state with the schema the store itself persisted —
    * group columns keep whatever type the source carried (string
    * sources, int labels) without the caller re-declaring it; the
    * fallback only shapes a never-merged (empty) store.
    */
  private def stateInferred(spark: SparkSession, stateDir: String,
      fallback: StructType): DataFrame =
    BucketStateStore.persistedSchema(spark, stateDir) match {
      case Some(sch) =>
        BucketStateStore.currentState(spark, stateDir, emptyOf(spark, sch))
      case None => emptyOf(spark, fallback)
    }

  /** Fold one document batch's (grp, tok, c) token census into the
    * store — additive, commutative (drain == batch), NOT idempotent:
    * the batch-id fence is load-bearing (the [[mergeScoreBatch]]
    * regime).
    */
  private[graft] def mergeJsdBatch(batch: DataFrame,
      group: org.apache.spark.sql.Column, text: org.apache.spark.sql.Column,
      stateDir: String, numBuckets: Int, batchId: Option[Long]): Unit = {
    val cells = graft.text.Divergence.jsdCensus(batch, group, text)
    BucketStateStore.merge(cells, stateDir, Seq("grp", "tok"),
      cells.limit(0), numBuckets, batchId) { (state, b) =>
      state.unionByName(b)
        .groupBy(col("grp"), col("tok"))
        .agg(sum(col("c")).as("c"))
    }
  }

  /** The persisted (grp, tok, c) token census, as
    * [[graft.text.Divergence.jsdFromCells]] input. */
  def jsdCells(spark: SparkSession, stateDir: String): DataFrame =
    stateInferred(spark, stateDir, JsdSchema)

  /** Source-vs-mixture JSD derived from the PERSISTED census —
    * row-identical to batch [[graft.text.Divergence.jsdFromMixture]]
    * over the drained corpus (additive token counts, one code path
    * through jsdFromCells).
    */
  def jsdReport(spark: SparkSession, stateDir: String): DataFrame =
    graft.text.Divergence.jsdFromCells(jsdCells(spark, stateDir))

  /** Fallback schema for a never-merged drift-matrix store. */
  val KsMatrixSchema: StructType = StructType(Seq(
    StructField("grp", StringType, nullable = true),
    StructField("s", LongType, nullable = true),
    StructField("c", LongType, nullable = true)))

  /** Fold one batch's (grp, s, c) per-group score census into the
    * store — additive, commutative (drain == batch), NOT idempotent:
    * the batch-id fence is load-bearing (the [[mergeScoreBatch]]
    * regime).
    */
  private[graft] def mergeKsMatrixBatch(batch: DataFrame,
      score: org.apache.spark.sql.Column,
      group: org.apache.spark.sql.Column,
      stateDir: String, numBuckets: Int, batchId: Option[Long]): Unit = {
    val cells = graft.ops.ScoreEval.groupScoreCensus(batch, score, group)
    BucketStateStore.merge(cells, stateDir, Seq("grp", "s"),
      cells.limit(0), numBuckets, batchId) { (state, b) =>
      state.unionByName(b)
        .groupBy(col("grp"), col("s"))
        .agg(sum(col("c")).as("c"))
    }
  }

  /** The persisted (grp, s, c) census, as
    * [[graft.ops.ScoreEval.ksMatrixFromCells]] input. */
  def ksMatrixCells(spark: SparkSession, stateDir: String): DataFrame =
    stateInferred(spark, stateDir, KsMatrixSchema)

  /** Every-source-vs-rest KS matrix derived from the PERSISTED
    * census — row-identical to batch [[graft.ops.ScoreEval.ksMatrix]]
    * over the drained corpus (additive per-group score counts, one
    * code path through ksMatrixFromCells). The monitor-stance drift
    * gauge: no source nominated in advance.
    */
  def ksMatrixReport(spark: SparkSession, stateDir: String): DataFrame =
    graft.ops.ScoreEval.ksMatrixFromCells(ksMatrixCells(spark, stateDir))

  /** Vocabulary-coverage (Good–Turing / Chao1) derived from the
    * PERSISTED token census the JSD leg maintains — the same
    * (grp, tok, c) state serves BOTH reports (one leg, two faces):
    * row-identical to batch [[graft.text.Vocab.vocabCoverage]] over
    * the drained corpus.
    */
  def vocabCoverageReport(spark: SparkSession, stateDir: String): DataFrame =
    graft.text.Vocab.vocabCoverageFromCells(jsdCells(spark, stateDir))

  /** Fallback schema for a never-merged multiclass-census store. */
  val ClassesSchema: StructType = StructType(Seq(
    StructField("cls", StringType, nullable = true),
    StructField("s", LongType, nullable = true),
    StructField("pos", LongType, nullable = true),
    StructField("neg", LongType, nullable = true)))

  /** Fold one document batch's (cls, s, pos, neg) per-class score
    * census into the store — additive, commutative (drain == batch),
    * NOT idempotent: the batch-id fence is load-bearing (the
    * [[mergeScoreBatch]] regime). The sum-to-1000 contract is
    * enforced per batch row by [[graft.ops.ScoreEval.classScoreCensus]]
    * — a router that de-normalizes mid-stream fails the fold loudly
    * instead of corrupting the durable census.
    */
  private[graft] def mergeClassesBatch(batch: DataFrame,
      confMilliByClass: org.apache.spark.sql.Column,
      gold: org.apache.spark.sql.Column,
      stateDir: String, numBuckets: Int, batchId: Option[Long]): Unit = {
    val cells = graft.ops.ScoreEval.classScoreCensus(batch,
      confMilliByClass, gold)
    BucketStateStore.merge(cells, stateDir, Seq("cls", "s"),
      cells.limit(0), numBuckets, batchId) { (state, b) =>
      state.unionByName(b)
        .groupBy(col("cls"), col("s"))
        .agg(sum(col("pos")).as("pos"), sum(col("neg")).as("neg"))
    }
  }

  /** The persisted (cls, s, pos, neg) census, as input to the
    * `FromCells` faces of the multiclass battery. */
  def classesCells(spark: SparkSession, stateDir: String): DataFrame =
    stateInferred(spark, stateDir, ClassesSchema)

  /** Per-class ROC-AUC derived from the PERSISTED census —
    * row-identical to batch [[graft.ops.ScoreEval.rocAucByClass]]
    * over the drained corpus (additive pos/neg counts, one code path
    * through rocAucByClassFromCells). The router-audit face the
    * resident monitor reads without rescanning the corpus.
    */
  def classAucReport(spark: SparkSession, stateDir: String): DataFrame =
    graft.ops.ScoreEval.rocAucByClassFromCells(
      classesCells(spark, stateDir))

  /** Per-class average precision off the SAME persisted census —
    * a second face of the classes leg's state (one leg, several
    * reports: the jsd/vocab precedent).
    */
  def classApReport(spark: SparkSession, stateDir: String): DataFrame =
    graft.ops.ScoreEval.averagePrecisionByClassFromCells(
      classesCells(spark, stateDir))

  /** Per-class operating-point table off the SAME persisted census —
    * the threshold-picking face
    * ([[graft.ops.ScoreEval.operatingPointsByClassFromCells]]).
    */
  def classPointsReport(spark: SparkSession, stateDir: String): DataFrame =
    graft.ops.ScoreEval.operatingPointsByClassFromCells(
      classesCells(spark, stateDir))

  /** Fold one embedding batch's (grp, pos, s, cnt) component-sum
    * census into the store — additive, commutative (drain == batch),
    * NOT idempotent: the batch-id fence is load-bearing.
    */
  private[graft] def mergeEmbeddingDriftBatch(batch: DataFrame,
      groupCol: String, vecCol: String, stateDir: String,
      numBuckets: Int, batchId: Option[Long]): Unit = {
    val cells = graft.vector.VectorSearch
      .embeddingDriftCensus(batch, groupCol, vecCol)
    BucketStateStore.merge(cells, stateDir, Seq("grp", "pos"),
      cells.limit(0), numBuckets, batchId) { (state, b) =>
      state.unionByName(b)
        .groupBy(col("grp"), col("pos"))
        .agg(sum(col("s")).as("s"), sum(col("cnt")).as("cnt"))
    }
  }

  /** The persisted (grp, pos, s, cnt) census, as
    * [[graft.vector.VectorSearch.embeddingDriftFromCells]] input. */
  def embeddingDriftCells(spark: SparkSession, stateDir: String): DataFrame =
    stateInferred(spark, stateDir, EmbeddingDriftSchema)

  /** Centroid-vs-rest cosine per group derived from the PERSISTED
    * census — row-identical to batch
    * [[graft.vector.VectorSearch.embeddingDrift]] over the drained
    * corpus (additive component sums, one code path through
    * embeddingDriftFromCells).
    */
  def embeddingDriftReport(spark: SparkSession,
      stateDir: String): DataFrame =
    graft.vector.VectorSearch.embeddingDriftFromCells(
      embeddingDriftCells(spark, stateDir))

  // ------------------------------------------------------------------
  // The unified monitor pump: one resident stream, one checkpoint,
  // one foreachBatch folding EVERY enabled census from ONE pass over
  // each arriving file — where N standalone pumps over the same
  // source directory mean N readers, N checkpoints, and N× ingest
  // I/O re-scanning every file.
  // ------------------------------------------------------------------

  /** One census leg of the unified monitor: a name (unique within a
    * monitor, used for diagnostics), the leg's OWN state dir (per-leg
    * fence + the vacuum target), and the per-batch fold. The fold
    * receives the micro-batch ALREADY materialized (the monitor
    * persists it once for all legs) and the streaming batch id for
    * the per-leg fence. Every leg lets its store derive the bucket
    * count (`numBuckets = 0` in the `merge*Batch` helpers).
    */
  final case class MonitorLeg(name: String, stateDir: String,
      merge: (DataFrame, Option[Long]) => Unit)

  /** The incremental-novelty census: per-batch shingle min → durable
    * seen-shingle dictionary (the q154 production face). */
  def noveltyLeg(stateDir: String, k: Int = 3, idCol: String = "doc_id",
      textCol: String = "text"): MonitorLeg =
    MonitorLeg("novelty", stateDir, (b, bid) =>
      mergeNoveltyBatch(b, stateDir, k, idCol, textCol, 0, bid))

  /** Decontamination on ingest: each arriving document is graded
    * against the (static, benchmark-sized) probe corpus in the batch
    * that carries it, so contaminated documents are known BEFORE they
    * land in the training store (the q155 production face). The probe
    * shingle set is built and materialized ONCE here: it feeds every
    * micro-batch, and unmaterialized it would re-shingle the probes
    * per batch.
    */
  def contaminationLeg(probes: DataFrame, stateDir: String, k: Int = 3,
      idCol: String = "doc_id", textCol: String = "text"): MonitorLeg = {
    val probeShingles = Dedup.shingleRows(probes, k, idCol, textCol)
      .select("shingle").distinct().localCheckpoint()
    MonitorLeg("contamination", stateDir, (b, bid) =>
      mergeContaminationBatch(b, probeShingles, stateDir, k, idCol,
        textCol, 0, bid))
  }

  /** Labeler grading: each document's (gold, predicted) class pair —
    * `pred` is typically a heuristic labeler EXPRESSION over the text —
    * folds into the durable confusion census (q162). */
  def agreementLeg(stateDir: String, gold: org.apache.spark.sql.Column,
      pred: org.apache.spark.sql.Column): MonitorLeg =
    MonitorLeg("agreement", stateDir, (b, bid) =>
      mergeAgreementBatch(b, gold, pred, stateDir, 0, bid))

  /** Score grading: each document's (quantized score, 0/1 label) folds
    * into the per-score census, so ROC-AUC over everything ingested
    * so far is readable at any time (q176). */
  def scoreLeg(stateDir: String, score: org.apache.spark.sql.Column,
      label: org.apache.spark.sql.Column): MonitorLeg =
    MonitorLeg("score", stateDir, (b, bid) =>
      mergeScoreBatch(b, score, label, stateDir, 0, bid))

  /** Drift: each document's (quantized score, 0/1 slice membership)
    * folds into the two-population census behind the KS gauge (q179). */
  def driftLeg(stateDir: String, score: org.apache.spark.sql.Column,
      group: org.apache.spark.sql.Column): MonitorLeg =
    MonitorLeg("drift", stateDir, (b, bid) =>
      mergeDriftBatch(b, score, group, stateDir, 0, bid))

  def jsdLeg(stateDir: String, group: org.apache.spark.sql.Column,
      text: org.apache.spark.sql.Column): MonitorLeg =
    MonitorLeg("jsd", stateDir, (b, bid) =>
      mergeJsdBatch(b, group, text, stateDir, 0, bid))

  def ksMatrixLeg(stateDir: String, score: org.apache.spark.sql.Column,
      group: org.apache.spark.sql.Column): MonitorLeg =
    MonitorLeg("ksmatrix", stateDir, (b, bid) =>
      mergeKsMatrixBatch(b, score, group, stateDir, 0, bid))

  /** The vocab-coverage leg maintains the SAME (grp, tok, c) census
    * as [[jsdLeg]] (vocabCoverage is a second face of that state) —
    * use this only when the jsd leg is NOT also enabled on the same
    * state dir, or the second fold per batch is wasted work (the
    * fence makes it a no-op, not a double count).
    */
  def vocabLeg(stateDir: String, group: org.apache.spark.sql.Column,
      text: org.apache.spark.sql.Column): MonitorLeg =
    MonitorLeg("vocab", stateDir, (b, bid) =>
      mergeJsdBatch(b, group, text, stateDir, 0, bid))

  /** The multiclass router-audit leg: folds the (cls, s, pos, neg)
    * census of a FULL per-class probability vector against gold —
    * the state behind [[classAucReport]] / [[classApReport]] /
    * [[classPointsReport]] (one leg, three faces).
    */
  def classesLeg(stateDir: String,
      confMilliByClass: org.apache.spark.sql.Column,
      gold: org.apache.spark.sql.Column): MonitorLeg =
    MonitorLeg("classes", stateDir, (b, bid) =>
      mergeClassesBatch(b, confMilliByClass, gold, stateDir, 0, bid))

  def embeddingDriftLeg(stateDir: String, groupCol: String = "label",
      vecCol: String = "embedding"): MonitorLeg =
    MonitorLeg("embedding", stateDir, (b, bid) =>
      mergeEmbeddingDriftBatch(b, groupCol, vecCol, stateDir, 0, bid))

  /** Start the unified monitor: ONE reader over `docsStream`, one
    * checkpoint, one foreachBatch that materializes each arriving
    * micro-batch ONCE (persist — every leg's merge runs several
    * actions, and unmaterialized each would re-read the arriving
    * files), folds it through every leg in order, and releases the
    * pin in a finally.
    *
    * Exactly-once per leg under crash replay: each leg keeps its OWN
    * BucketStateStore (own state dir, own batch-id fence). A crash
    * BETWEEN two legs' merges replays the batch on restart — legs
    * that already folded it skip on their fence (or no-op on their
    * idempotent combine), legs that hadn't fold it now; no census is
    * double-counted and none is skipped. That per-leg fencing is what
    * makes one shared reader safe: the streaming offset commit is a
    * single all-legs-done barrier, but the merges themselves need no
    * cross-leg atomicity.
    *
    * One leg is a single-census pump (the `--*-pump` CLI modes).
    * Trigger and vacuum cadence are [[Pump.start]]'s, over every leg's
    * state dir: a RESIDENT monitor folds every leg every batch, so
    * without vacuum its version count grows legs × batches.
    * `vacuumKeep` is the per-leg readable-history retention.
    */
  def startMonitorPump(docsStream: DataFrame, checkpointDir: String,
      legs: Seq[MonitorLeg],
      processingTime: Option[String] = None,
      vacuumEvery: Int = 0, vacuumKeep: Int = 4): StreamingQuery = {
    require(legs.nonEmpty, "monitor pump needs at least one census leg")
    require(legs.map(_.name).distinct.size == legs.size,
      s"monitor legs must have distinct names: ${legs.map(_.name)}")
    Pump.start(docsStream, checkpointDir, processingTime, vacuumEvery,
        vacuumKeep, legs.map(_.stateDir)) { (batch, bid) =>
      // ONE materialization of the arriving files feeds every leg —
      // persist, NOT localCheckpoint: unpersist() on a checkpointed
      // frame is a cache-manager no-op (the blocks belong to the
      // checkpoint RDD), so a resident monitor would leave one
      // pinned RDD in the block manager per micro-batch until GC
      // happened to reclaim it. persist shares the one scan across
      // legs and the finally releases it deterministically (the
      // StreamingCdc.startDebezium discipline).
      val pinned = batch.persist()
      try legs.foreach(_.merge(pinned, Some(bid)))
      finally pinned.unpersist()
    }
  }
}
