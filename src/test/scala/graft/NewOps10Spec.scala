package graft

import graft.dedup.Dedup
import graft.ops.Agreement
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Unit coverage for the round-10 additions: the source-pair shingle
  * overlap matrix and the classifier agreement report (Cohen's
  * kappa).
  */
class NewOps10Spec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  // --- sourceOverlap ------------------------------------------------

  test("sourceOverlap computes exact Jaccard/containment on known sets") {
    // source A: docs over tokens {w1..w4} -> distinct 2-shingles
    //   "w1 w2", "w2 w3", "w3 w4"
    // source B: shares "w2 w3", "w3 w4", adds "w4 w5"
    // source C: disjoint
    val docs = Seq(
      (1L, "w1 w2 w3", "A"), (2L, "w3 w4", "A"),
      (3L, "w2 w3 w4 w5", "B"),
      (4L, "x1 x2", "C")
    ).toDF("doc_id", "text", "source")
    val out = Dedup.sourceOverlap(docs, k = 2).collect()
    assert(out.length == 3, "3 unordered pairs of 3 sources")
    val byPair = out.map(r => (r.getString(0), r.getString(1)) -> r).toMap
    val ab = byPair(("A", "B"))
    // A = {w1 w2, w2 w3, w3 w4} (3), B = {w2 w3, w3 w4, w4 w5} (3),
    // inter = 2, union = 4
    assert(ab.getLong(2) == 3 && ab.getLong(3) == 3 && ab.getLong(4) == 2)
    assert(ab.getDouble(5) == 2.0 / 4.0)
    assert(ab.getDouble(6) == 2.0 / 3.0 && ab.getDouble(7) == 2.0 / 3.0)
    val ac = byPair(("A", "C"))
    assert(ac.getLong(4) == 0 && ac.getDouble(5) == 0.0 &&
      ac.getDouble(6) == 0.0 && ac.getDouble(7) == 0.0,
      "zero-overlap pairs are present with 0.0 ratios")
  }

  test("sourceOverlap counts DISTINCT shingles per source (no doc-multiplicity)") {
    // the same shingle in 100 docs of one source must count once
    val docs = (1L to 100L).map(i => (i, "w1 w2 w3", "A")) ++
      Seq((200L, "w2 w3 w4", "B"))
    val out = Dedup.sourceOverlap(docs.toDF("doc_id", "text", "source"),
      k = 2).collect()
    assert(out.length == 1)
    val r = out.head
    // A = {w1 w2, w2 w3} set-wise, B = {w2 w3, w3 w4}, inter = 1
    assert(r.getLong(2) == 2 && r.getLong(3) == 2 && r.getLong(4) == 1)
    assert(r.getDouble(5) == 1.0 / 3.0)
  }

  test("sourceOverlap plan has no corpus-sized join input") {
    // the pair counts come from per-shingle source sets, NOT a
    // corpus self-join: the only join inputs are the census-sized
    // size/pair frames, so no SortMergeJoin may appear (census joins
    // broadcast under AQE), and no CartesianProduct over the corpus
    val docs = Seq((1L, "w1 w2 w3", "A"), (2L, "w2 w3 w4", "B"))
      .toDF("doc_id", "text", "source")
    val plan = Dedup.sourceOverlap(docs, k = 2)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"),
      s"census grid must broadcast, not cartesian over corpus:\n$plan")
  }

  test("sourceOverlap at sf0.001 matches a collected recomputation") {
    val docs = Tables.load(spark, "/root/testdata/sf0.001", "documents")
    val got = Dedup.sourceOverlap(docs, k = 3).collect()
    // independent local recomputation over collected text
    val sets = docs.select("source", "text").collect()
      .groupBy(_.getString(0))
      .view.mapValues(_.flatMap { r =>
        val t = r.getString(1).split(" ").toSeq
        t.sliding(3).filter(_.size == 3).map(_.mkString(" "))
      }.toSet).toMap
    val srcs = sets.keys.toSeq.sorted
    val want = for {
      i <- srcs.indices; j <- (i + 1) until srcs.length
      a = sets(srcs(i)); b = sets(srcs(j))
    } yield (srcs(i), srcs(j), a.size.toLong, b.size.toLong,
      a.intersect(b).size.toLong)
    assert(got.map(r => (r.getString(0), r.getString(1), r.getLong(2),
      r.getLong(3), r.getLong(4))).toSeq == want)
    assert(got.nonEmpty)
  }

  test("q152/q153 corpus passes scan once, column-pruned") {
    // a scan reading all five documents columns for a two-column
    // computation would drag n_chars/doc_id through 100 TB for
    // nothing; the pins target the pre-checkpoint census builders —
    // the ONLY corpus passes either operator makes (their final
    // frames are ExistingRDD-rooted census math)
    def readSchemas(plan: String): Seq[String] =
      "ReadSchema: struct<([^>]*)>".r.findAllMatchIn(plan)
        .map(_.group(1)).toSeq
    val docs = Tables.load(spark, "/root/testdata/sf0.001", "documents")
    val p152 = Dedup.sourcePairCounts(docs, 3, "text", "source")
      .queryExecution.executedPlan.toString
    val s152 = readSchemas(p152)
    assert(s152.length == 1 && s152.forall { s =>
      s.contains("text") && !s.contains("n_chars") &&
        !s.contains("doc_id") && !s.contains("lang")
    }, s"q152's one corpus pass must scan only (source, text): $s152")
    val p153 = Agreement.perClassStats(docs, col("lang"),
        graft.text.TextAnalysis.langId(col("text"),
          graft.text.TextAnalysis.defaultProfiles))
      .queryExecution.executedPlan.toString
    val s153 = readSchemas(p153)
    assert(s153.length == 1 && s153.forall { s =>
      s.contains("text") && !s.contains("n_chars") &&
        !s.contains("doc_id") && !s.contains("source")
    }, s"q153's one corpus pass must scan only (lang, text): $s153")
    // and the shipped operators' own plans contain NO parquet scan at
    // all — everything after the materialized census is census math
    Seq(
      Dedup.sourceOverlap(docs, k = 3)
        .queryExecution.executedPlan.toString,
      Agreement.classifierReport(docs, col("lang"), col("source"))
        .queryExecution.executedPlan.toString
    ).foreach { p =>
      assert(readSchemas(p).isEmpty && !p.contains("CartesianProduct"),
        s"post-census plan must be scan-free and cartesian-free:\n$p")
    }
  }

  // --- streaming novelty ---------------------------------------------

  test("streamNovelty drains to the exact batch novelty answer") {
    // the shared monitor's min-first-occurrence state, fed
    // file-by-file in shuffled halves (evens written after odds), must
    // equal batch ngramNovelty row-for-row — min is commutative, so
    // arrival order is irrelevant by construction
    val dir = "/root/testdata/sf0.001"
    val got = graft.queries.IngestQueries.monitorNovelty(spark, dir)
      .collect()
    val want = Dedup.ngramNovelty(Tables.load(spark, dir, "documents"),
      k = 3).orderBy("doc_id").collect()
    assert(got.toSeq == want.toSeq)
    assert(got.length > 0)
  }

  test("streamNovelty equals batch on a corpus containing sub-k-token docs") {
    // a doc shorter than k tokens has ZERO shingles: batch
    // ngramNovelty drops it (explode of an empty array yields no
    // row); the stream side must drop it too, not emit an
    // (n_grams=0, novelty=NULL) row — the stream-equals-batch
    // contract over ALL valid corpora, not just fixtures without
    // short docs
    val tmp = java.nio.file.Files
      .createTempDirectory("graft_short_doc").toString
    Seq(
      (1L, "w1 w2 w3 w4"), // 2 shingles at k=3
      (2L, "w2 w3"),       // 0 shingles — must vanish from BOTH sides
      (3L, "w2 w3 w4 w5"), // shares "w2 w3 w4" with doc 1
      (4L, "")             // empty text — also 0 shingles
    ).toDF("doc_id", "text")
      .write.parquet(s"$tmp/documents.parquet")
    // the shared monitor also folds lang/source/n_chars legs, which
    // this two-column corpus lacks: drive the novelty leg alone
    val docs = Tables.load(spark, tmp, "documents")
    graft.streaming.CurationPumps.startMonitorPump(
        spark.readStream.schema(docs.schema).parquet(Tables.path(tmp, "documents")),
        s"$tmp/ckpt", Seq(graft.streaming.CurationPumps.noveltyLeg(
          s"$tmp/state", k = 3)))
      .awaitTermination()
    val got = graft.streaming.CurationPumps.noveltyReport(spark,
        s"$tmp/state", docs, k = 3)
      .collect()
    val want = Dedup.ngramNovelty(Tables.load(spark, tmp, "documents"),
      k = 3).orderBy("doc_id").collect()
    assert(got.toSeq == want.toSeq)
    assert(got.map(_.getLong(0)).toSeq == Seq(1L, 3L),
      "sub-k-token docs appear on neither side")
  }

  test("streamContamination flags on ingest exactly like the batch scan") {
    val dir = "/root/testdata/sf0.001"
    val docs = Tables.load(spark, dir, "documents")
      .select(col("doc_id"), col("text"))
    val got = graft.queries.IngestQueries.monitorContamination(spark, dir)
      .collect()
    val want = Dedup.contaminationScan(
        docs.filter(col("doc_id") % 100 =!= 0),
        docs.filter(col("doc_id") % 100 === 0), k = 3)
      .orderBy("doc_id").collect()
    assert(got.toSeq == want.toSeq)
    assert(got.nonEmpty, "the fixture split must produce hits")
  }

  // --- Agreement.classifierReport ------------------------------------

  test("classifierReport reproduces a textbook kappa") {
    // classic 2x2 example: gold/pred counts 20 yes-yes, 5 yes-no,
    // 10 no-yes, 15 no-no -> N=50, agree=35, po=0.7
    // pe = (25*30 + 25*20)/2500 = 0.5 -> kappa = 0.4
    val rows =
      Seq.fill(20)(("yes", "yes")) ++ Seq.fill(5)(("yes", "no")) ++
      Seq.fill(10)(("no", "yes")) ++ Seq.fill(15)(("no", "no"))
    val out = Agreement.classifierReport(rows.toDF("g", "p"),
      col("g"), col("p")).collect()
    assert(out.map(_.getString(0)).toSeq == Seq("no", "yes"))
    val no = out(0); val yes = out(1)
    assert(yes.getLong(1) == 20 && yes.getLong(2) == 10 &&
      yes.getLong(3) == 5)
    assert(yes.getDouble(4) == 20.0 / 30.0, "precision(yes)")
    assert(yes.getDouble(5) == 20.0 / 25.0, "recall(yes)")
    assert(yes.getDouble(6) == 40.0 / 55.0, "f1(yes)")
    assert(no.getLong(1) == 15 && no.getLong(2) == 5 && no.getLong(3) == 10)
    assert(out.forall(_.getDouble(7) == 35.0 / 50.0), "accuracy")
    // kappa = (35*50 - 1250) / (2500 - 1250) = 500/1250 = 0.4
    assert(out.forall(_.getDouble(8) == 0.4), "kappa")
  }

  test("classifierReport handles classes absent on one side") {
    // pred never emits 'c'; gold never contains 'b'
    val df = Seq(("a", "a"), ("a", "b"), ("c", "a")).toDF("g", "p")
    val out = Agreement.classifierReport(df, col("g"), col("p"))
      .collect().map(r => r.getString(0) -> r).toMap
    assert(out.keySet == Set("a", "b", "c"))
    assert(out("b").getLong(1) == 0 && out("b").getLong(2) == 1 &&
      out("b").getLong(3) == 0)
    assert(out("b").getDouble(4) == 0.0 && out("b").getDouble(5) == 0.0 &&
      out("b").getDouble(6) == 0.0, "never-gold class: zero P/R/F1, not null")
    assert(out("c").getLong(1) == 0 && out("c").getLong(2) == 0 &&
      out("c").getLong(3) == 1)
  }

  test("classifierReport: constant labeler on constant gold has kappa 0") {
    // pe = 1 -> the chance-corrected denominator is 0; report 0.0
    // rather than NaN/null (accuracy still 1.0)
    val df = Seq.fill(7)(("en", "en")).toDF("g", "p")
    val out = Agreement.classifierReport(df, col("g"), col("p")).collect()
    assert(out.length == 1)
    assert(out.head.getDouble(7) == 1.0 && out.head.getDouble(8) == 0.0)
  }

  test("classifierReport is invariant under class relabeling") {
    // kappa/accuracy are label-name-free; per-class rows permute
    // with the relabeling — pin both on a 3-class confusion
    val base = Seq(
      ("a", "a"), ("a", "b"), ("a", "a"), ("b", "b"), ("b", "c"),
      ("c", "c"), ("c", "a"), ("c", "c"), ("b", "b"), ("a", "c"))
    val ren = Map("a" -> "x", "b" -> "y", "c" -> "z")
    val r1 = Agreement.classifierReport(base.toDF("g", "p"),
      col("g"), col("p")).collect()
    val r2 = Agreement.classifierReport(
      base.map { case (g, p) => (ren(g), ren(p)) }.toDF("g", "p"),
      col("g"), col("p")).collect()
    assert(r1.map(_.getDouble(8)).distinct.toSeq ==
      r2.map(_.getDouble(8)).distinct.toSeq, "kappa unchanged")
    assert(r1.map(_.getDouble(7)).distinct.toSeq ==
      r2.map(_.getDouble(7)).distinct.toSeq, "accuracy unchanged")
    val m1 = r1.map(r => r.getString(0) ->
      (r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(6))).toMap
    val m2 = r2.map(r => r.getString(0) ->
      (r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(6))).toMap
    assert(m1.map { case (k, v) => ren(k) -> v } == m2,
      "per-class rows follow the relabeling")
  }

  test("sourceOverlap ratios are internally consistent at sf0.001") {
    // jaccard = inter/(n_a+n_b-inter) and containments = inter/n
    // recomputed from the integer columns must reproduce the doubles
    val docs = Tables.load(spark, "/root/testdata/sf0.001", "documents")
    val rows = Dedup.sourceOverlap(docs, k = 3).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (na, nb, i) = (r.getLong(2), r.getLong(3), r.getLong(4))
      assert(i <= math.min(na, nb), "intersection bounded by set sizes")
      assert(r.getDouble(5) == i.toDouble / (na + nb - i).toDouble)
      assert(r.getDouble(6) == i.toDouble / na.toDouble)
      assert(r.getDouble(7) == i.toDouble / nb.toDouble)
    }
  }

  test("classifierReport kappa punishes the majority-class cheat") {
    // 95/5 imbalance, labeler always says the majority class:
    // accuracy 0.95 but kappa exactly 0 — the reason this op exists
    val rows = Seq.fill(95)(("en", "en")) ++ Seq.fill(5)(("und", "en"))
    val out = Agreement.classifierReport(rows.toDF("g", "p"),
      col("g"), col("p")).collect()
    assert(out.forall(_.getDouble(7) == 0.95))
    assert(out.forall(_.getDouble(8) == 0.0))
  }
}
