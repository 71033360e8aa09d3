package graft

import graft.dedup.Dedup
import graft.streaming.CurationPumps
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files

/** Production-face verification for the streaming curation censuses
  * (CurationPumps legs, one or several per monitor pump): the
  * foreachBatch + BucketStateStore drains must (a) land exactly on
  * the batch answers the q154/q155 oracle faces prove, and (b)
  * survive a crash-restart — kill the query, add more data, restart
  * from the same checkpoint, still land on the full batch answer (the
  * StreamingCdcSpec discipline applied to corpus analytics state).
  */
class CurationPumpsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  val dir = "/root/testdata/sf0.001"

  private def docs =
    Tables.load(spark, dir, "documents").select(col("doc_id"), col("text"))

  /** One parquet file per slice — file granularity is micro-batch
    * granularity under maxFilesPerTrigger=1.
    */
  private def writeSlices(feedDir: String,
      slices: Seq[org.apache.spark.sql.DataFrame]): Unit =
    slices.foreach(s => s.coalesce(1).write.mode("append").parquet(feedDir))

  private def stream(feedDir: String) =
    spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", "1").parquet(feedDir)

  test("novelty pump: persisted dictionary report equals batch ngramNovelty") {
    val root = Files.createTempDirectory("graft_novpump").toString
    writeSlices(s"$root/feed", Seq(
      docs.filter(col("doc_id") % 2 === 1), docs.filter(col("doc_id") % 2 === 0)))
    CurationPumps.startMonitorPump(stream(s"$root/feed"), s"$root/ckpt",
      Seq(CurationPumps.noveltyLeg(s"$root/state", k = 3))).awaitTermination()
    val got = CurationPumps.noveltyReport(spark, s"$root/state", docs, k = 3)
      .collect()
    val want = Dedup.ngramNovelty(docs, k = 3).orderBy("doc_id").collect()
    assert(got.toSeq == want.toSeq)
    assert(got.nonEmpty)
  }

  test("novelty pump: crash-restart resumes from the checkpoint onto the batch answer") {
    val root = Files.createTempDirectory("graft_novcrash").toString
    // phase 1: only the odd half exists; drain and "crash" (query gone)
    writeSlices(s"$root/feed", Seq(docs.filter(col("doc_id") % 2 === 1)))
    CurationPumps.startMonitorPump(stream(s"$root/feed"), s"$root/ckpt",
      Seq(CurationPumps.noveltyLeg(s"$root/state", k = 3))).awaitTermination()
    val v1 = graft.streaming.BucketStateStore
      .currentVersion(spark, s"$root/state")
    assert(v1.nonEmpty, "phase 1 must have committed dictionary state")
    // the half-corpus dictionary is itself correct (novelty over odds)
    val oddDocs = docs.filter(col("doc_id") % 2 === 1)
    val half = CurationPumps.noveltyReport(spark, s"$root/state", oddDocs, 3)
      .collect()
    val wantHalf = Dedup.ngramNovelty(oddDocs, k = 3).orderBy("doc_id")
      .collect()
    assert(half.toSeq == wantHalf.toSeq, "mid-crash state is a correct half answer")
    // more data arrives while the pump is down
    writeSlices(s"$root/feed", Seq(docs.filter(col("doc_id") % 2 === 0)))
    // phase 2: new query, SAME checkpoint — resumes past processed files
    CurationPumps.startMonitorPump(stream(s"$root/feed"), s"$root/ckpt",
      Seq(CurationPumps.noveltyLeg(s"$root/state", k = 3))).awaitTermination()
    val got = CurationPumps.noveltyReport(spark, s"$root/state", docs, 3)
      .collect()
    val want = Dedup.ngramNovelty(docs, k = 3).orderBy("doc_id").collect()
    assert(got.toSeq == want.toSeq,
      "resumed pump must land on the full batch answer")
  }

  test("novelty pump: replayed batch is fenced (no-op, no version churn)") {
    val root = Files.createTempDirectory("graft_novfence").toString
    writeSlices(s"$root/feed", Seq(docs.filter(col("doc_id") % 2 === 1)))
    CurationPumps.startMonitorPump(stream(s"$root/feed"), s"$root/ckpt",
      Seq(CurationPumps.noveltyLeg(s"$root/state", k = 3))).awaitTermination()
    val v = graft.streaming.BucketStateStore
      .currentVersion(spark, s"$root/state").get
    // simulate the crash-replay of an already-folded micro-batch: the
    // offset log committed batch 0, the store fenced it — re-merging
    // with the same batch id must not advance the version
    CurationPumps.mergeNoveltyBatch(docs.filter(col("doc_id") % 2 === 1),
      s"$root/state", 3, "doc_id", "text",
      graft.streaming.BucketStateStore.DefaultNumBuckets, Some(0L))
    assert(graft.streaming.BucketStateStore
      .currentVersion(spark, s"$root/state").get == v,
      "fenced replay must not publish a new version")
  }

  test("contamination pump: persisted verdicts equal the batch scan across a crash-restart") {
    val root = Files.createTempDirectory("graft_contpump").toString
    val probes = docs.filter(col("doc_id") % 100 === 0)
    val corpus = docs.filter(col("doc_id") % 100 =!= 0)
    // phase 1: first half of the corpus, drain, "crash"
    writeSlices(s"$root/feed", Seq(corpus.filter(col("doc_id") % 2 === 1)))
    CurationPumps.startMonitorPump(stream(s"$root/feed"), s"$root/ckpt",
      Seq(CurationPumps.contaminationLeg(probes, s"$root/state", k = 3)))
      .awaitTermination()
    // second half arrives; restart from the same checkpoint
    writeSlices(s"$root/feed", Seq(corpus.filter(col("doc_id") % 2 === 0)))
    CurationPumps.startMonitorPump(stream(s"$root/feed"), s"$root/ckpt",
      Seq(CurationPumps.contaminationLeg(probes, s"$root/state", k = 3)))
      .awaitTermination()
    val got = CurationPumps.contaminationVerdicts(spark, s"$root/state")
      .collect()
    val want = Dedup.contaminationScan(corpus, probes, k = 3)
      .orderBy("doc_id").collect()
    assert(got.toSeq == want.toSeq)
    assert(got.nonEmpty, "the fixture split must produce hits")
  }

  private def agreeDocs = Tables.load(spark, dir, "documents")
    .select(col("doc_id"), col("text"), col("lang"))

  private def langPred = graft.text.TextAnalysis.langId(col("text"),
    graft.text.TextAnalysis.defaultProfiles)

  private def agreeStream(feedDir: String) =
    spark.readStream.schema(agreeDocs.schema)
      .option("maxFilesPerTrigger", "1").parquet(feedDir)

  test("agreement pump: persisted census grades to the batch " +
    "classifierReport across a crash-restart") {
    val root = Files.createTempDirectory("graft_agrpump").toString
    // phase 1: odd half only; drain and "crash" (query object gone)
    writeSlices(s"$root/feed", Seq(agreeDocs.filter(col("doc_id") % 2 === 1)))
    CurationPumps.startMonitorPump(agreeStream(s"$root/feed"), s"$root/ckpt",
      Seq(CurationPumps.agreementLeg(s"$root/state", gold = col("lang"),
        pred = langPred))).awaitTermination()
    // the half-corpus census is itself a correct half answer
    val half = CurationPumps.agreementReport(spark, s"$root/state").collect()
    val wantHalf = graft.ops.Agreement.classifierReport(
        agreeDocs.filter(col("doc_id") % 2 === 1), col("lang"), langPred)
      .collect()
    assert(half.toSeq == wantHalf.toSeq, "mid-crash census grades the half")
    // more documents arrive while the pump is down; restart, SAME ckpt
    writeSlices(s"$root/feed", Seq(agreeDocs.filter(col("doc_id") % 2 === 0)))
    CurationPumps.startMonitorPump(agreeStream(s"$root/feed"), s"$root/ckpt",
      Seq(CurationPumps.agreementLeg(s"$root/state", gold = col("lang"),
        pred = langPred))).awaitTermination()
    val got = CurationPumps.agreementReport(spark, s"$root/state").collect()
    val want = graft.ops.Agreement.classifierReport(agreeDocs,
      col("lang"), langPred).collect()
    assert(got.toSeq == want.toSeq,
      "resumed pump must grade to the full batch report")
    assert(got.nonEmpty)
  }

  test("agreement pump: replayed batch is fenced — additive counts " +
    "would double without it") {
    val root = Files.createTempDirectory("graft_agrfence").toString
    writeSlices(s"$root/feed", Seq(agreeDocs))
    CurationPumps.startMonitorPump(agreeStream(s"$root/feed"), s"$root/ckpt",
      Seq(CurationPumps.agreementLeg(s"$root/state", gold = col("lang"),
        pred = langPred))).awaitTermination()
    val cells = CurationPumps.agreementCells(spark, s"$root/state")
      .orderBy("gold", "pred").collect()
    // crash-replay of already-folded micro-batch 0: counts are NOT
    // idempotent, so only the fence keeps the census exact
    CurationPumps.mergeAgreementBatch(agreeDocs, col("lang"), langPred,
      s"$root/state",
      graft.streaming.BucketStateStore.DefaultNumBuckets, Some(0L))
    val after = CurationPumps.agreementCells(spark, s"$root/state")
      .orderBy("gold", "pred").collect()
    assert(after.toSeq == cells.toSeq,
      "fenced replay must not inflate the counts")
    val n = CurationPumps.agreementCells(spark, s"$root/state")
      .agg(sum(col("n"))).collect().head.getLong(0)
    assert(n == agreeDocs.count(), "census mass == documents rated once")
  }

  private def markerScore = size(filter(
    graft.text.TextAnalysis.tokens(col("text")),
    t => t === "the" || t === "a"))

  private def enLabel = when(col("lang") === "en", lit(1L))
    .otherwise(lit(0L))

  test("score pump: persisted census grades to the batch rocAuc " +
    "across a crash-restart") {
    val root = Files.createTempDirectory("graft_scorepump").toString
    // phase 1: odd half only; drain and "crash"
    writeSlices(s"$root/feed", Seq(agreeDocs.filter(col("doc_id") % 2 === 1)))
    CurationPumps.startMonitorPump(agreeStream(s"$root/feed"), s"$root/ckpt",
      Seq(CurationPumps.scoreLeg(s"$root/state", score = markerScore,
        label = enLabel))).awaitTermination()
    val half = CurationPumps.scoreAuc(spark, s"$root/state").collect()
    val wantHalf = graft.ops.ScoreEval.rocAuc(
        agreeDocs.filter(col("doc_id") % 2 === 1), markerScore, enLabel)
      .collect()
    assert(half.toSeq == wantHalf.toSeq, "mid-crash census grades the half")
    // the rest arrives while the pump is down; restart on the SAME ckpt
    writeSlices(s"$root/feed", Seq(agreeDocs.filter(col("doc_id") % 2 === 0)))
    CurationPumps.startMonitorPump(agreeStream(s"$root/feed"), s"$root/ckpt",
      Seq(CurationPumps.scoreLeg(s"$root/state", score = markerScore,
        label = enLabel))).awaitTermination()
    val got = CurationPumps.scoreAuc(spark, s"$root/state").collect()
    val want = graft.ops.ScoreEval.rocAuc(agreeDocs, markerScore, enLabel)
      .collect()
    assert(got.toSeq == want.toSeq,
      "resumed pump must grade to the full batch ROC-AUC")
    assert(got.head.getDouble(2) > 0.0, "fixture must separate the classes")
  }

  test("score pump: replayed batch is fenced — additive score counts " +
    "would double without it") {
    val root = Files.createTempDirectory("graft_scorefence").toString
    writeSlices(s"$root/feed", Seq(agreeDocs))
    CurationPumps.startMonitorPump(agreeStream(s"$root/feed"), s"$root/ckpt",
      Seq(CurationPumps.scoreLeg(s"$root/state", score = markerScore,
        label = enLabel))).awaitTermination()
    val cells = CurationPumps.scoreCensusState(spark, s"$root/state")
      .orderBy("s").collect()
    CurationPumps.mergeScoreBatch(agreeDocs, markerScore, enLabel,
      s"$root/state",
      graft.streaming.BucketStateStore.DefaultNumBuckets, Some(0L))
    val after = CurationPumps.scoreCensusState(spark, s"$root/state")
      .orderBy("s").collect()
    assert(after.toSeq == cells.toSeq,
      "fenced replay must not inflate the counts")
    val mass = CurationPumps.scoreCensusState(spark, s"$root/state")
      .agg(sum(col("pos") + col("neg"))).collect().head.getLong(0)
    assert(mass == agreeDocs.count(), "census mass == documents scored once")
  }

  private def driftDocs = Tables.load(spark, dir, "documents")
    .select(col("doc_id"), col("n_chars"), col("source"))

  private def src0Group = when(col("source") === "src0", lit(1L))
    .otherwise(lit(0L))

  private def driftStream(feedDir: String) =
    spark.readStream.schema(driftDocs.schema)
      .option("maxFilesPerTrigger", "1").parquet(feedDir)

  test("drift pump: persisted census grades to the batch ksTest " +
    "across a crash-restart") {
    val root = Files.createTempDirectory("graft_driftpump").toString
    writeSlices(s"$root/feed", Seq(driftDocs.filter(col("doc_id") % 2 === 1)))
    CurationPumps.startMonitorPump(driftStream(s"$root/feed"), s"$root/ckpt",
      Seq(CurationPumps.driftLeg(s"$root/state", score = col("n_chars"),
        group = src0Group))).awaitTermination()
    val half = CurationPumps.driftKs(spark, s"$root/state").collect()
    val wantHalf = graft.ops.ScoreEval.ksTest(
        driftDocs.filter(col("doc_id") % 2 === 1), col("n_chars"),
        src0Group).collect()
    assert(half.toSeq == wantHalf.toSeq, "mid-crash census grades the half")
    writeSlices(s"$root/feed", Seq(driftDocs.filter(col("doc_id") % 2 === 0)))
    CurationPumps.startMonitorPump(driftStream(s"$root/feed"), s"$root/ckpt",
      Seq(CurationPumps.driftLeg(s"$root/state", score = col("n_chars"),
        group = src0Group))).awaitTermination()
    val got = CurationPumps.driftKs(spark, s"$root/state").collect()
    val want = graft.ops.ScoreEval.ksTest(driftDocs, col("n_chars"),
      src0Group).collect()
    assert(got.toSeq == want.toSeq,
      "resumed pump must grade to the full batch KS")
    assert(got.head.getDouble(2) > 0.0, "fixture must show a nonzero gap")
  }

  test("jsd pump (single-leg monitor): persisted token census grades to " +
    "the batch jsdFromMixture across a crash-restart") {
    val jsdDocs = Tables.load(spark, dir, "documents")
      .select(col("doc_id"), col("text"), col("source"))
    def jsdStream(feedDir: String) =
      spark.readStream.schema(jsdDocs.schema)
        .option("maxFilesPerTrigger", "1").parquet(feedDir)
    val root = Files.createTempDirectory("graft_jsdpump").toString
    writeSlices(s"$root/feed", Seq(jsdDocs.filter(col("doc_id") % 2 === 1)))
    CurationPumps.startMonitorPump(jsdStream(s"$root/feed"), s"$root/ckpt",
        Seq(CurationPumps.jsdLeg(s"$root/state", col("source"), col("text"))))
      .awaitTermination()
    val half = CurationPumps.jsdReport(spark, s"$root/state").collect()
    val wantHalf = graft.text.Divergence.jsdFromMixture(
        jsdDocs.filter(col("doc_id") % 2 === 1), col("source"), col("text"))
      .collect()
    assert(half.toSeq == wantHalf.toSeq, "mid-crash census grades the half")
    writeSlices(s"$root/feed", Seq(jsdDocs.filter(col("doc_id") % 2 === 0)))
    CurationPumps.startMonitorPump(jsdStream(s"$root/feed"), s"$root/ckpt",
        Seq(CurationPumps.jsdLeg(s"$root/state", col("source"), col("text"))))
      .awaitTermination()
    val got = CurationPumps.jsdReport(spark, s"$root/state").collect()
    val want = graft.text.Divergence.jsdFromMixture(jsdDocs,
      col("source"), col("text")).collect()
    assert(got.toSeq == want.toSeq,
      "resumed pump must grade to the full batch JSD")
    assert(got.nonEmpty && got.exists(_.getAs[Double]("jsd_nats") > 0.0))
  }

  test("jsd census: replayed batch is fenced — additive token counts " +
    "would double without it") {
    val jsdDocs = Tables.load(spark, dir, "documents")
      .select(col("doc_id"), col("text"), col("source"))
    val root = Files.createTempDirectory("graft_jsdfence").toString
    CurationPumps.mergeJsdBatch(jsdDocs, col("source"), col("text"),
      s"$root/state", graft.streaming.BucketStateStore.DefaultNumBuckets,
      Some(0L))
    val cells = CurationPumps.jsdCells(spark, s"$root/state")
      .orderBy("grp", "tok").collect()
    CurationPumps.mergeJsdBatch(jsdDocs, col("source"), col("text"),
      s"$root/state", graft.streaming.BucketStateStore.DefaultNumBuckets,
      Some(0L))
    val after = CurationPumps.jsdCells(spark, s"$root/state")
      .orderBy("grp", "tok").collect()
    assert(after.toSeq == cells.toSeq,
      "fenced replay must not inflate the token counts")
  }

  test("embedding-drift pump: persisted component-sum census grades to " +
    "the batch embeddingDrift across a crash-restart") {
    val embs = Tables.load(spark, dir, "embeddings")
    def embStream(feedDir: String) =
      spark.readStream.schema(embs.schema)
        .option("maxFilesPerTrigger", "1").parquet(feedDir)
    val root = Files.createTempDirectory("graft_embpump").toString
    writeSlices(s"$root/feed", Seq(embs.filter(col("vec_id") % 2 === 1)))
    CurationPumps.startMonitorPump(embStream(s"$root/feed"), s"$root/ckpt",
        Seq(CurationPumps.embeddingDriftLeg(s"$root/state")))
      .awaitTermination()
    val half = CurationPumps.embeddingDriftReport(spark, s"$root/state")
      .collect()
    val wantHalf = graft.vector.VectorSearch.embeddingDrift(
      embs.filter(col("vec_id") % 2 === 1)).collect()
    assert(half.toSeq == wantHalf.toSeq, "mid-crash census grades the half")
    writeSlices(s"$root/feed", Seq(embs.filter(col("vec_id") % 2 === 0)))
    CurationPumps.startMonitorPump(embStream(s"$root/feed"), s"$root/ckpt",
        Seq(CurationPumps.embeddingDriftLeg(s"$root/state")))
      .awaitTermination()
    val got = CurationPumps.embeddingDriftReport(spark, s"$root/state")
      .collect()
    val want = graft.vector.VectorSearch.embeddingDrift(embs).collect()
    assert(got.toSeq == want.toSeq,
      "resumed pump must grade to the full batch embedding drift")
    assert(got.nonEmpty)
  }

  test("monitor pump: ONE stream folds every enabled census; each leg's " +
    "drain equals its batch answer across a kill-restart") {
    val full = Tables.load(spark, dir, "documents")
    def fullStream(feedDir: String) =
      spark.readStream.schema(full.schema)
        .option("maxFilesPerTrigger", "1").parquet(feedDir)
    val root = Files.createTempDirectory("graft_monitor").toString
    val probes = docs.filter(col("doc_id") % 100 === 0)
    def legs = Seq(
      CurationPumps.noveltyLeg(s"$root/state/novelty", k = 3),
      CurationPumps.contaminationLeg(probes,
        s"$root/state/contamination", k = 3),
      CurationPumps.agreementLeg(s"$root/state/agreement",
        gold = col("lang"), pred = langPred),
      CurationPumps.scoreLeg(s"$root/state/score",
        score = markerScore, label = enLabel),
      CurationPumps.driftLeg(s"$root/state/drift",
        score = col("n_chars"), group = src0Group),
      CurationPumps.jsdLeg(s"$root/state/jsd",
        group = col("source"), text = col("text")))
    // phase 1: odd half, drain, "crash" (query object gone)
    writeSlices(s"$root/feed", Seq(full.filter(col("doc_id") % 2 === 1)))
    CurationPumps.startMonitorPump(fullStream(s"$root/feed"),
      s"$root/ckpt", legs).awaitTermination()
    // phase 2: the rest arrives; new query, SAME checkpoint
    writeSlices(s"$root/feed", Seq(full.filter(col("doc_id") % 2 === 0)))
    CurationPumps.startMonitorPump(fullStream(s"$root/feed"),
      s"$root/ckpt", legs).awaitTermination()
    // every leg's durable census grades to its batch twin
    assert(CurationPumps.noveltyReport(spark, s"$root/state/novelty",
        docs, k = 3).collect().toSeq ==
      Dedup.ngramNovelty(docs, k = 3).orderBy("doc_id").collect().toSeq)
    assert(CurationPumps.contaminationVerdicts(spark,
        s"$root/state/contamination").collect().toSeq ==
      Dedup.contaminationScan(docs, probes, k = 3).orderBy("doc_id")
        .collect().toSeq)
    assert(CurationPumps.agreementReport(spark, s"$root/state/agreement")
        .collect().toSeq ==
      graft.ops.Agreement.classifierReport(full, col("lang"), langPred)
        .collect().toSeq)
    assert(CurationPumps.scoreAuc(spark, s"$root/state/score")
        .collect().toSeq ==
      graft.ops.ScoreEval.rocAuc(full, markerScore, enLabel)
        .collect().toSeq)
    assert(CurationPumps.driftKs(spark, s"$root/state/drift")
        .collect().toSeq ==
      graft.ops.ScoreEval.ksTest(full, col("n_chars"), src0Group)
        .collect().toSeq)
    assert(CurationPumps.jsdReport(spark, s"$root/state/jsd")
        .collect().toSeq ==
      graft.text.Divergence.jsdFromMixture(full, col("source"),
        col("text")).collect().toSeq)
  }

  test("monitor pump: a crash BETWEEN two legs' merges double-counts " +
    "nothing on replay — per-leg fences make the shared reader safe") {
    val full = Tables.load(spark, dir, "documents")
    val root = Files.createTempDirectory("graft_moncrash").toString
    val batch0 = full.filter(col("doc_id") % 2 === 1)
    val batch1 = full.filter(col("doc_id") % 2 === 0)
    val nb = graft.streaming.BucketStateStore.DefaultNumBuckets
    // batch 0 arrives: the agreement leg folds it, then the process
    // dies BEFORE the score leg's merge (both additive and fenced)
    CurationPumps.mergeAgreementBatch(batch0, col("lang"), langPred,
      s"$root/state/agreement", nb, Some(0L))
    // restart: the unacknowledged batch 0 is REPLAYED through every
    // leg — agreement skips on its fence, score folds it now
    CurationPumps.mergeAgreementBatch(batch0, col("lang"), langPred,
      s"$root/state/agreement", nb, Some(0L))
    CurationPumps.mergeScoreBatch(batch0, markerScore, enLabel,
      s"$root/state/score", nb, Some(0L))
    // batch 1 flows through both legs normally
    CurationPumps.mergeAgreementBatch(batch1, col("lang"), langPred,
      s"$root/state/agreement", nb, Some(1L))
    CurationPumps.mergeScoreBatch(batch1, markerScore, enLabel,
      s"$root/state/score", nb, Some(1L))
    // both censuses are exact: nothing double-counted, nothing skipped
    val nAgree = CurationPumps.agreementCells(spark, s"$root/state/agreement")
      .agg(sum(col("n"))).collect().head.getLong(0)
    assert(nAgree == full.count(), "agreement census rated each doc once")
    val nScore = CurationPumps.scoreCensusState(spark, s"$root/state/score")
      .agg(sum(col("pos") + col("neg"))).collect().head.getLong(0)
    assert(nScore == full.count(), "score census graded each doc once")
    assert(CurationPumps.agreementReport(spark, s"$root/state/agreement")
        .collect().toSeq ==
      graft.ops.Agreement.classifierReport(full, col("lang"), langPred)
        .collect().toSeq)
    assert(CurationPumps.scoreAuc(spark, s"$root/state/score")
        .collect().toSeq ==
      graft.ops.ScoreEval.rocAuc(full, markerScore, enLabel)
        .collect().toSeq)
  }

  test("monitor pump vacuums each leg's dead state versions on the " +
    "batch cadence without touching the current answer") {
    val full = Tables.load(spark, dir, "documents")
    val root = Files.createTempDirectory("graft_monvac").toString
    // four files = four micro-batches; vacuumEvery=2 fires twice
    writeSlices(s"$root/feed", (0 to 3).map(i =>
      full.filter(col("doc_id") % 4 === i)))
    val legs = Seq(
      CurationPumps.scoreLeg(s"$root/state/score",
        score = markerScore, label = enLabel),
      CurationPumps.driftLeg(s"$root/state/drift",
        score = col("n_chars"), group = src0Group))
    CurationPumps.startMonitorPump(
        spark.readStream.schema(full.schema)
          .option("maxFilesPerTrigger", "1").parquet(s"$root/feed"),
        s"$root/ckpt", legs, vacuumEvery = 2, vacuumKeep = 2)
      .awaitTermination()
    // four merges land v0..v3; the vacuum at batch 2 (keep=2) retires
    // v0 on both legs — the batch after it then extends history by
    // one, so the floor is what the cadence guarantees, not the cap
    Seq("score", "drift").foreach { leg =>
      val versions = graft.streaming.BucketStateStore
        .availableVersions(spark, s"$root/state/$leg")
      assert(versions.nonEmpty && versions.head >= 1 && versions.size <= 3,
        s"$leg: vacuum must retire pre-retention history, kept $versions")
    }
    // and the drained answers are untouched
    assert(CurationPumps.scoreAuc(spark, s"$root/state/score")
        .collect().toSeq ==
      graft.ops.ScoreEval.rocAuc(full, markerScore, enLabel)
        .collect().toSeq)
    assert(CurationPumps.driftKs(spark, s"$root/state/drift")
        .collect().toSeq ==
      graft.ops.ScoreEval.ksTest(full, col("n_chars"), src0Group)
        .collect().toSeq)
  }

  test("monitor pump refuses an empty or name-colliding leg list") {
    val full = Tables.load(spark, dir, "documents")
    val root = Files.createTempDirectory("graft_monguard").toString
    writeSlices(s"$root/feed", Seq(full))
    val s = spark.readStream.schema(full.schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$root/feed")
    intercept[IllegalArgumentException] {
      CurationPumps.startMonitorPump(s, s"$root/ckpt", Nil)
    }
    intercept[IllegalArgumentException] {
      CurationPumps.startMonitorPump(s, s"$root/ckpt2", Seq(
        CurationPumps.scoreLeg(s"$root/a", markerScore, enLabel),
        CurationPumps.scoreLeg(s"$root/b", markerScore, enLabel)))
    }
  }

  test("drift pump: replayed batch is fenced") {
    val root = Files.createTempDirectory("graft_driftfence").toString
    writeSlices(s"$root/feed", Seq(driftDocs))
    CurationPumps.startMonitorPump(driftStream(s"$root/feed"), s"$root/ckpt",
      Seq(CurationPumps.driftLeg(s"$root/state", score = col("n_chars"),
        group = src0Group))).awaitTermination()
    val cells = CurationPumps.driftCensusState(spark, s"$root/state")
      .orderBy("s").collect()
    CurationPumps.mergeDriftBatch(driftDocs, col("n_chars"), src0Group,
      s"$root/state",
      graft.streaming.BucketStateStore.DefaultNumBuckets, Some(0L))
    val after = CurationPumps.driftCensusState(spark, s"$root/state")
      .orderBy("s").collect()
    assert(after.toSeq == cells.toSeq,
      "fenced replay must not inflate the counts")
    val mass = CurationPumps.driftCensusState(spark, s"$root/state")
      .agg(sum(col("a") + col("b"))).collect().head.getLong(0)
    assert(mass == driftDocs.count(), "census mass == documents seen once")
  }

  test("ksmatrix leg: persisted (grp, s) census grades to the batch " +
    "ksMatrix in any arrival order, and a replayed batch is fenced") {
    val root = Files.createTempDirectory("graft_ksmpump").toString
    writeSlices(s"$root/feed", Seq(
      driftDocs.filter(col("doc_id") % 2 === 1),
      driftDocs.filter(col("doc_id") % 2 === 0)))
    CurationPumps.startMonitorPump(driftStream(s"$root/feed"),
      s"$root/ckpt", Seq(CurationPumps.ksMatrixLeg(s"$root/state",
        score = col("n_chars"), group = col("source"))))
      .awaitTermination()
    val got = CurationPumps.ksMatrixReport(spark, s"$root/state").collect()
    val want = graft.ops.ScoreEval.ksMatrix(driftDocs, col("n_chars"),
      col("source")).collect()
    assert(got.toSeq == want.toSeq && got.nonEmpty)
    // replay of already-folded micro-batch 0: additive counts would
    // double without the fence
    CurationPumps.mergeKsMatrixBatch(
      driftDocs.filter(col("doc_id") % 2 === 1), col("n_chars"),
      col("source"), s"$root/state",
      graft.streaming.BucketStateStore.DefaultNumBuckets, Some(0L))
    val after = CurationPumps.ksMatrixReport(spark, s"$root/state").collect()
    assert(after.toSeq == got.toSeq,
      "fenced replay must not inflate the census")
  }

  test("classes leg: drained per-class AUC/AP/operating points equal " +
    "the batch scans across a crash-restart; replay is fenced") {
    val root = Files.createTempDirectory("graft_clspump").toString
    val full = Tables.load(spark, dir, "documents")
    val p0 = lit(1L) + pmod(col("doc_id") * 7, lit(500L))
    val p1 = lit(1L) + pmod(col("doc_id") * 13, lit(400L))
    val conf = map(lit("c0"), p0, lit("c1"), p1,
      lit("c2"), lit(1000L) - p0 - p1)
    val gold = concat(lit("c"), pmod(col("n_chars"), lit(3L)).cast("string"))
    def mkStream = spark.readStream.schema(full.schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$root/feed")
    def leg = CurationPumps.classesLeg(s"$root/state", conf, gold)
    // phase 1: odd half only; drain and "crash"
    writeSlices(s"$root/feed", Seq(full.filter(col("doc_id") % 2 === 1)))
    CurationPumps.startMonitorPump(mkStream, s"$root/ckpt", Seq(leg))
      .awaitTermination()
    // the rest arrives while the pump is down; same checkpoint resumes
    writeSlices(s"$root/feed", Seq(full.filter(col("doc_id") % 2 === 0)))
    CurationPumps.startMonitorPump(mkStream, s"$root/ckpt", Seq(leg))
      .awaitTermination()
    val got = CurationPumps.classAucReport(spark, s"$root/state").collect()
    val want = graft.ops.ScoreEval.rocAucByClass(full, conf, gold).collect()
    assert(got.toSeq == want.toSeq && got.nonEmpty)
    // one leg, three faces: AP and the operating-point table read the
    // SAME durable census
    assert(CurationPumps.classApReport(spark, s"$root/state")
        .collect().toSeq ==
      graft.ops.ScoreEval.averagePrecisionByClass(full, conf, gold)
        .collect().toSeq)
    assert(CurationPumps.classPointsReport(spark, s"$root/state")
        .collect().toSeq ==
      graft.ops.ScoreEval.operatingPointsByClass(full, conf, gold)
        .collect().toSeq)
    // replay of already-folded micro-batch 0: the additive pos/neg
    // census would double-count without the batch-id fence
    CurationPumps.mergeClassesBatch(full.filter(col("doc_id") % 2 === 1),
      conf, gold, s"$root/state",
      graft.streaming.BucketStateStore.DefaultNumBuckets, Some(0L))
    val after = CurationPumps.classAucReport(spark, s"$root/state").collect()
    assert(after.toSeq == got.toSeq,
      "fenced replay must not inflate the census")
  }

  test("standalone pumps vacuum dead state versions on the batch " +
    "cadence without touching the drained answer") {
    val root = Files.createTempDirectory("graft_pumpvac").toString
    // 8 files = 8 micro-batches; vacuumEvery=1/keep=1 means the final
    // vacuum (bid 7, after its merge) retires everything but the
    // newest version
    writeSlices(s"$root/feed", (0 to 7).map(i =>
      agreeDocs.filter(col("doc_id") % 8 === i)))
    CurationPumps.startMonitorPump(agreeStream(s"$root/feed"), s"$root/ckpt",
      Seq(CurationPumps.scoreLeg(s"$root/state", score = markerScore,
        label = enLabel)), vacuumEvery = 1, vacuumKeep = 1)
      .awaitTermination()
    val versions = graft.streaming.BucketStateStore
      .availableVersions(spark, s"$root/state")
    assert(versions.size == 1,
      s"keep=1 must leave exactly the live version, kept $versions")
    assert(CurationPumps.scoreAuc(spark, s"$root/state")
        .collect().toSeq ==
      graft.ops.ScoreEval.rocAuc(agreeDocs, markerScore, enLabel)
        .collect().toSeq,
      "vacuum must not touch the current census")
  }

  test("monitor pump releases its per-batch pin — the block manager " +
    "does not accumulate one persisted RDD per micro-batch") {
    val root = Files.createTempDirectory("graft_monpin").toString
    val n = 8
    writeSlices(s"$root/feed", (0 until n).map(i =>
      agreeDocs.filter(col("doc_id") % n === i)))
    val before = spark.sparkContext.getPersistentRDDs.size
    CurationPumps.startMonitorPump(agreeStream(s"$root/feed"),
      s"$root/ckpt", Seq(
        CurationPumps.scoreLeg(s"$root/state/score", markerScore, enLabel),
        CurationPumps.agreementLeg(s"$root/state/agreement",
          gold = col("lang"),
          pred = when(length(col("text")) > 100, lit("en"))
            .otherwise(lit("de")))))
      .awaitTermination()
    val after = spark.sparkContext.getPersistentRDDs.size
    // the leak this pins against left exactly one pinned RDD per
    // micro-batch (n of them); the shared session tolerates a little
    // concurrent-suite noise, hence the strict-less-than-n bound
    assert(after - before < n,
      s"monitor drain must unpersist its per-batch pin: " +
        s"persistent RDDs grew $before -> $after over $n batches")
    assert(CurationPumps.scoreAuc(spark, s"$root/state/score")
        .collect().toSeq ==
      graft.ops.ScoreEval.rocAuc(agreeDocs, markerScore, enLabel)
        .collect().toSeq,
      "released pin must not change the drained census")
  }
}
