package graft

import org.apache.spark.sql.functions._

/** Dev tool (the Bench/Verify/ScaleUp family, not library surface):
  * scale soak of the round-6 text/LM operators — cross-doc
  * exact-substring dedup rewrite, stupid-backoff bigram perplexity,
  * and the Naive Bayes classifier — over the documents table of
  * whatever scale dir it is pointed at, plus the two round-9
  * operators with data-dependent scaling: the corpus n-gram novelty
  * curve (its no-pair-join claim means hot shingles must cost one
  * combiner cell, not a fan-out) and embedding-space contamination
  * (a broadcast-probe BNLJ scan whose cost is corpus × probe-count —
  * linear in the corpus at fixed probes). Reports seconds and output
  * cardinalities as one JSON line; run it at sf0.1 and at a ScaleUp
  * 10× dir and compare growth. All should track the corpus roughly
  * linearly: the gram-frequency aggregate and the collect_set
  * removal lists in substrDedupCut are doc-length-bounded, the
  * bigram aggregate is corpus-keyed with a TakeOrdered pruning, the
  * NB model is broadcastable at any corpus size, novelty is two
  * hash aggregates, and the contamination scan never shuffles the
  * corpus — a super-linear jump means one of those contracts broke.
  *
  * `runMain graft.SoakTextOps <sfDir>`
  */
object SoakTextOps {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = Sessions.local(cpus)

    // NOT checkpointed: a corpus-sized localCheckpoint would bound
    // the soakable corpus by local block storage and distort the
    // first timed operator with spill — each operator re-scans the
    // parquet source, exactly as it would in production
    val docs = Tables.load(spark, sfDir, "documents")
    val nDocs = docs.count()

    def timed[T](f: => T): (T, Double) = {
      val t0 = System.nanoTime()
      val r = f
      (r, (System.nanoTime() - t0) / 1e9)
    }

    // the q113 shape: 8-gram cross-doc ownership, min-id keeper
    val (nSub, tSub) = timed {
      text.TextAnalysis.substrDedupCut(docs, n = 8).count()
    }
    // the q116 shape: pruned bigram LM, 256-bigram vocabulary
    val (nLm, tLm) = timed {
      text.LanguageModel.stupidBackoffPerplexity(docs, vb = 256).count()
    }
    // the q118 shape: corpus-trained NB over the lang label
    val (nNb, tNb) = timed {
      text.Classifier.naiveBayes(docs, classCol = "lang", v = 64).count()
    }
    // the q150 shape: corpus 3-gram novelty (no pair join — hot
    // shingles must land in one combiner cell)
    val (nNv, tNv) = timed {
      dedup.Dedup.ngramNovelty(docs, k = 3).count()
    }
    // the q152 shape: source-pair shingle overlap — the per-source
    // DISTINCT shingle aggregate is the corpus-scaling term; the
    // pair grid is census-sized at any scale
    val (nSo, tSo) = timed {
      dedup.Dedup.sourceOverlap(docs, k = 3).count()
    }
    // the q148 shape: embedding contamination, probes = vec_id % 97
    // (the probe count scales with the corpus here, so the scan is
    // corpus × (corpus/97) — expect ~100× work at 10×; the fixed-
    // probe production regime is the corpus-linear column)
    val emb = Tables.load(spark, sfDir, "embeddings")
    val nVecs = emb.count()
    val (nEc, tEc) = timed {
      vector.VectorSearch.embeddingContamination(
        emb.filter(pmod(col("vec_id"), lit(97)) =!= 0),
        emb.filter(pmod(col("vec_id"), lit(97)) === 0),
        threshold = 0.25).count()
    }
    // fixed-probe variant: the SAME probe count at any corpus scale
    // (the 10 lowest ids, present in every scale dir) — this is the
    // production decontamination shape (benchmark-sized probe set,
    // growing corpus) and must grow corpus-linearly
    val (nEcf, tEcf) = timed {
      vector.VectorSearch.embeddingContamination(
        emb.filter(col("vec_id") >= 10),
        emb.filter(col("vec_id") < 10),
        threshold = 0.25).count()
    }
    // the q156 shape: Fleiss' kappa over the 3-rater panel — ONE
    // corpus shuffle to (item, category) cells, then census math;
    // growth must be corpus-linear (a super-linear jump means the
    // cells materialization or a census grew with the corpus)
    val (nFk, tFk) = timed {
      val heur = text.TextAnalysis.langId(col("text"),
        text.TextAnalysis.defaultProfiles)
      val parity = when(pmod(col("n_chars"), lit(2)) === 0, lit("en"))
        .otherwise(lit("und"))
      val ratings = docs.select(col("doc_id"), col("lang").as("cls"))
        .unionByName(docs.select(col("doc_id"), heur.as("cls")))
        .unionByName(docs.select(col("doc_id"), parity.as("cls")))
      ops.Agreement.fleissKappa(ratings, col("doc_id"), col("cls")).count()
    }
    // the q158 shape: BLEU-2 over adjacent pairs — one tagged
    // explode, one (pair, n, gram) shuffle; pair count scales with
    // the corpus (ScaleUp preserves doc_id parity and adjacency), so
    // growth must be corpus-linear
    val (nBl, tBl) = timed {
      val d = docs.select(col("doc_id"), col("text"))
      val cand = d.filter(pmod(col("doc_id"), lit(2)) === 0)
        .select(col("doc_id").as("pair_id"), col("text").as("cand"))
      val ref = d.filter(pmod(col("doc_id"), lit(2)) === 1)
        .select((col("doc_id") - 1).as("pair_id"), col("text").as("ref"))
      text.GenerationEval.bleu2(cand.join(ref, Seq("pair_id")),
        "pair_id", "cand", "ref").count()
    }
    // the q164 shape: chrF at orders 1..6 — the char-gram tagged
    // explode is ~12x the text volume per pair; one (pair, n, gram)
    // shuffle, so growth must be pair-linear
    val (nCf, tCf) = timed {
      val d = docs.select(col("doc_id"), col("text"))
      val cand = d.filter(pmod(col("doc_id"), lit(2)) === 0)
        .select(col("doc_id").as("pair_id"), col("text").as("cand"))
      val ref = d.filter(pmod(col("doc_id"), lit(2)) === 1)
        .select((col("doc_id") - 1).as("pair_id"), col("text").as("ref"))
      text.GenerationEval.chrF(cand.join(ref, Seq("pair_id")),
        "pair_id", "cand", "ref").count()
    }
    // the q163 shape: Krippendorff's alpha over the incomplete panel
    // (parity rater covers only even ids) — same ONE cells shuffle as
    // Fleiss plus a semi-join for the retained-item marginals; growth
    // must be corpus-linear
    val (nKa, tKa) = timed {
      val heur = text.TextAnalysis.langId(col("text"),
        text.TextAnalysis.defaultProfiles)
      val parity = when(pmod(col("n_chars"), lit(2)) === 0, lit("en"))
        .otherwise(lit("und"))
      val ratings = docs.select(col("doc_id"), col("lang").as("cls"))
        .unionByName(docs.select(col("doc_id"), heur.as("cls")))
        .unionByName(docs.filter(pmod(col("doc_id"), lit(2)) === 0)
          .select(col("doc_id"), parity.as("cls")))
      ops.Agreement.krippendorffAlpha(ratings, col("doc_id"), col("cls"))
        .count()
    }
    // the q161 shape: ROUGE-L over adjacent pairs at the 40-token DP
    // bound — the LCS expression is per-row O(40·40), so growth must
    // be pair-linear (a super-linear jump means the bound broke or
    // the projection fell out of codegen)
    val (nRg, tRg) = timed {
      val d = docs.select(col("doc_id"), col("text"))
      val cand = d.filter(pmod(col("doc_id"), lit(2)) === 0)
        .select(col("doc_id").as("pair_id"), col("text").as("cand"))
      val ref = d.filter(pmod(col("doc_id"), lit(2)) === 1)
        .select((col("doc_id") - 1).as("pair_id"), col("text").as("ref"))
      text.GenerationEval.rougeL(cand.join(ref, Seq("pair_id")),
        "pair_id", "cand", "ref", maxTokens = 40).count()
    }
    // the q153/q162 shape: the classifier report's corpus-scaling
    // term (ONE map-side-combined scan to confusion cells — also
    // exactly what the agreement pump folds per micro-batch, since
    // drain == batch through classifierReportFromCells); census math
    // after it is class-sized, so growth must be corpus-linear
    val (nAg, tAg) = timed {
      ops.Agreement.classifierReport(docs, col("lang"),
        text.TextAnalysis.langId(col("text"),
          text.TextAnalysis.defaultProfiles)).count()
    }
    // the q165 shape: ROC-AUC — one corpus scan to the score census,
    // then PrefixSum over census rows; growth must be corpus-linear
    // (the census itself is score-cardinality-bounded)
    val (nAu, tAu) = timed {
      val hits = size(filter(text.TextAnalysis.tokens(col("text")),
        t => t === "the" || t === "a"))
      ops.ScoreEval.rocAuc(docs, hits,
        when(col("lang") === "en", lit(1L)).otherwise(lit(0L))).count()
    }
    // the q168 shape: Spearman — two value censuses + the join back
    // to the corpus is the corpus-scaling term (AQE broadcasts the
    // censuses); growth must be corpus-linear
    val (nSp, tSp) = timed {
      ops.ScoreEval.spearman(docs, col("n_chars"),
        text.TextAnalysis.tokenCount(col("text"))).count()
    }
    // the q169 shape: distinct-n diversity — the (group, order, gram)
    // census is the corpus-scaling term (map-side combined, no join);
    // growth must be corpus-linear
    val (nDv, tDv) = timed {
      text.TextAnalysis.ngramDiversity(docs, col("source"), col("text"),
        maxN = 2).count()
    }
    // the q172 shape: per-source JSD from the mixture — the (group,
    // token) census is the corpus-scaling term; the token-totals join
    // is census×census; growth must be corpus-linear
    val (nJs, tJs) = timed {
      text.Divergence.jsdFromMixture(docs, col("source"), col("text"))
        .count()
    }
    // the q173 shape: two-sample KS — one corpus scan to the merged
    // score census, PrefixSum cumulatives, one census max; growth
    // must be corpus-linear (the census is score-cardinality-bounded)
    val (nKs, tKs) = timed {
      ops.ScoreEval.ksTest(docs, col("n_chars"),
        when(col("source") === "src0", lit(1L)).otherwise(lit(0L)))
        .count()
    }
    // the q174 shape: multiclass MCC — the same one-scan confusion
    // census as the agreement report, class-sized math after it;
    // growth must be corpus-linear
    val (nMc, tMc) = timed {
      ops.Agreement.matthewsCorrelation(docs, col("lang"),
        text.TextAnalysis.langId(col("text"),
          text.TextAnalysis.defaultProfiles)).count()
    }
    // the q175 shape: vocabulary coverage — the (group, token) census
    // is the corpus-scaling term (map-side combined), the
    // freq-of-freq rollup group-sized; growth must be corpus-linear
    val (nVc, tVc) = timed {
      text.Vocab.vocabCoverage(docs, col("source")).count()
    }
    // the q177 shape: embedding drift — one posexplode to the
    // (group, dim) component-sum census is the corpus-scaling term;
    // growth must be corpus-linear (everything after is census-sized)
    val (nDr, tDr) = timed {
      vector.VectorSearch.embeddingDrift(emb).count()
    }
    // the q187 shape: Kendall tau-b — the joint (x, y) census build
    // is the corpus-scaling term; the pair join is GRID-squared
    // (quantization-bounded, corpus-independent), so growth must be
    // corpus-linear
    val (nKd, tKd) = timed {
      val hits = size(filter(text.TextAnalysis.tokens(col("text")),
        t => t === "the" || t === "a"))
      ops.ScoreEval.kendallTauB(docs, hits, expr("n_chars div 100"))
        .count()
    }
    // the q188 shape: multiclass log-loss — one corpus scan to the
    // p_gold census (≤999 cells); growth must be corpus-linear
    val (nMl, tMl) = timed {
      val p0 = lit(1L) + pmod(col("doc_id") * 7, lit(500L))
      val p1 = lit(1L) + pmod(col("doc_id") * 13, lit(400L))
      val conf = map(lit("c0"), p0, lit("c1"), p1,
        lit("c2"), lit(1000L) - p0 - p1)
      val gold = concat(lit("c"), pmod(col("n_chars"), lit(3L))
        .cast("string"))
      ops.ScoreEval.logLossMulti(docs, conf, gold).count()
    }
    println(s"""{"sfDir":"$sfDir","docs":$nDocs,"vecs":$nVecs,""" +
      s""""substr_rows":$nSub,"substr_sec":${f"$tSub%.2f"},""" +
      s""""backoff_rows":$nLm,"backoff_sec":${f"$tLm%.2f"},""" +
      s""""nb_rows":$nNb,"nb_sec":${f"$tNb%.2f"},""" +
      s""""novelty_rows":$nNv,"novelty_sec":${f"$tNv%.2f"},""" +
      s""""overlap_rows":$nSo,"overlap_sec":${f"$tSo%.2f"},""" +
      s""""embcon_rows":$nEc,"embcon_sec":${f"$tEc%.2f"},""" +
      s""""embcon_fixed_rows":$nEcf,"embcon_fixed_sec":${f"$tEcf%.2f"},""" +
      s""""fleiss_rows":$nFk,"fleiss_sec":${f"$tFk%.2f"},""" +
      s""""bleu_rows":$nBl,"bleu_sec":${f"$tBl%.2f"},""" +
      s""""rouge_rows":$nRg,"rouge_sec":${f"$tRg%.2f"},""" +
      s""""agree_rows":$nAg,"agree_sec":${f"$tAg%.2f"},""" +
      s""""alpha_rows":$nKa,"alpha_sec":${f"$tKa%.2f"},""" +
      s""""chrf_rows":$nCf,"chrf_sec":${f"$tCf%.2f"},""" +
      s""""auc_rows":$nAu,"auc_sec":${f"$tAu%.2f"},""" +
      s""""spearman_rows":$nSp,"spearman_sec":${f"$tSp%.2f"},""" +
      s""""diversity_rows":$nDv,"diversity_sec":${f"$tDv%.2f"},""" +
      s""""jsd_rows":$nJs,"jsd_sec":${f"$tJs%.2f"},""" +
      s""""ks_rows":$nKs,"ks_sec":${f"$tKs%.2f"},""" +
      s""""mcc_rows":$nMc,"mcc_sec":${f"$tMc%.2f"},""" +
      s""""vocabcov_rows":$nVc,"vocabcov_sec":${f"$tVc%.2f"},""" +
      s""""embdrift_rows":$nDr,"embdrift_sec":${f"$tDr%.2f"},""" +
      s""""kendall_rows":$nKd,"kendall_sec":${f"$tKd%.2f"},""" +
      s""""mlogloss_rows":$nMl,"mlogloss_sec":${f"$tMl%.2f"}}""")
    spark.stop()
  }
}
