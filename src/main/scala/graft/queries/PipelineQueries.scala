package graft.queries

import graft.Tables
import graft.dedup.Dedup
import graft.text.{TextAnalysis, WebAnalysis}
import graft.vector.VectorSearch
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** LLM-training-data pipeline queries over the `documents` and
  * `embeddings` fixture tables — the extension-operator family
  * (SURVEY §7.1 step 7): text analysis, deduplication, and
  * similarity search, each verifiable against a DuckDB oracle.
  */
object PipelineQueries {

  private val Stopwords = Seq("the", "a")

  /** q18: per-language corpus statistics. */
  def textStats(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    docs.groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("total_chars"),
        (sum(col("n_chars")).cast("double") / count(lit(1)).cast("double"))
          .as("avg_chars"),
        sum(TextAnalysis.tokenCount(col("text")).cast("long"))
          .as("total_tokens"),
        countDistinct(col("source")).as("n_sources"))
      .orderBy("lang")
  }

  /** q19: per-document token accounting (whitespace + subword). */
  def tokenCounts(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    docs.select(
      col("doc_id"),
      TextAnalysis.tokenCount(col("text")).as("n_tokens"),
      TextAnalysis.typeCount(col("text")).as("n_types"),
      (TextAnalysis.typeCount(col("text")).cast("double") /
        TextAnalysis.tokenCount(col("text")).cast("double")).as("ttr"),
      size(TextAnalysis.subwordTokens(col("text"))).as("n_subwords"))
      .orderBy("doc_id")
  }

  /** q20: per-document quality score. */
  def qualityScores(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    docs.select(
      col("doc_id"),
      TextAnalysis.tokenCount(col("text")).as("n_tokens"),
      TextAnalysis.qualityScore(col("text"), Stopwords).as("quality"))
      .orderBy("doc_id")
  }

  /** q21: language-ID prediction vs labeled language (confusion
    * counts).
    */
  def langIdConfusion(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    docs.select(col("lang"),
      TextAnalysis.langId(col("text"), TextAnalysis.defaultProfiles)
        .as("predicted"))
      .groupBy("lang", "predicted").agg(count(lit(1)).as("n"))
      .orderBy("lang", "predicted")
  }

  /** q22: rolling-hash document fingerprints (min 4-shingle hash). */
  def fingerprints(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    docs.select(col("doc_id"),
      TextAnalysis.fingerprint(col("text"), k = 4).as("fp"))
      .orderBy("doc_id")
  }

  /** q23: exact dedup by content hash. */
  def exactDedup(spark: SparkSession, dir: String): DataFrame =
    Dedup.exactDedup(Tables.load(spark, dir, "documents"))
      .orderBy("content_hash")

  /** q24: exact 3-gram Jaccard similarity pairs (J >= 0.5) via the
    * shingle inverted index.
    */
  def ngramJaccardPairs(spark: SparkSession, dir: String): DataFrame =
    // uncapped pinned: the oracle grades EXACT Jaccard over the full
    // shingle sets (production callers take the adaptive default)
    Dedup.jaccardPairs(Tables.load(spark, dir, "documents"),
      k = 3, threshold = 0.5, maxDF = Dedup.UncappedMaxDF)
      .orderBy("doc_a", "doc_b")

  /** q25: MinHash+LSH near-dup pairs verified at J >= 0.8. */
  def minhashDedup(spark: SparkSession, dir: String): DataFrame =
    Dedup.minhashDedup(Tables.loadSpread(spark, dir, "documents"),
      k = 3, threshold = 0.8)
      .orderBy("doc_a", "doc_b")

  /** q26: SimHash near-dup pairs (Hamming <= 12 candidates,
    * verified at J >= 0.8).
    */
  def simhashDedup(spark: SparkSession, dir: String): DataFrame =
    Dedup.simhashDedup(Tables.loadSpread(spark, dir, "documents"),
      k = 3, maxHamming = 12, jaccardThreshold = 0.8)
      .orderBy("doc_a", "doc_b")

  private def knnQueries(corpus: DataFrame): DataFrame =
    corpus.filter(pmod(col("vec_id"), lit(100)) === 0)

  /** q27: exact brute-force cosine top-10 for the fixed query set
    * (vec_id % 100 == 0).
    */
  def knnBruteForce(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.load(spark, dir, "embeddings")
    VectorSearch.bruteForceTopK(emb, knnQueries(emb), k = 10)
      .orderBy("query_id", "rnk")
  }

  /** q28: IVF-bucketed top-10 for the same query set. nprobe is set
    * to the cell count (exhaustive probing) so the result is exact
    * on the clusterless fixture corpus — the unit tests additionally
    * pin recall at reduced nprobe; the oracle is the same as q27's.
    */
  def knnIvf(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.load(spark, dir, "embeddings")
    VectorSearch.ivfTopK(emb, knnQueries(emb), k = 10, nprobe = 1000)
      .orderBy("query_id", "rnk")
  }

  /** q60: brute-force top-10 over int8-quantized vectors for the
    * same query set — the compressed-domain ranking (8× smaller
    * vector payload) an SQ index runs at 100 TB. Fully
    * oracle-checked because the int8 codes are deterministic;
    * recall@10 vs the exact q27 baseline is additionally pinned by
    * unit test.
    */
  def knnInt8(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.load(spark, dir, "embeddings")
    VectorSearch.int8TopK(emb, knnQueries(emb), k = 10)
      .orderBy("query_id", "rnk")
  }

  /** q87: product-quantization ADC top-10 for the same query set —
    * the compression step past int8 (q60): 64-dim vectors stored as
    * m=4 codes from 16-entry per-subspace codebooks, candidates
    * ranked by exact-integer table-lookup distances. The oracle
    * re-derives the codebooks from the same portable Knuth sample
    * and recomputes every code and every ADC distance — a codebook,
    * assignment, or lookup bug cannot hash-match.
    */
  def knnPq(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.load(spark, dir, "embeddings")
    VectorSearch.pqTopK(emb, knnQueries(emb), k = 10)
      .orderBy("query_id", "rnk")
  }

  /** q95: REAL audio decode through the RIFF/WAVE PCM16 parser — one
    * synthesized WAV per document (integer sawtooth, see
    * Audio.fixtureWav), decoded by the actual container parser in a
    * batched mapPartitions stage; the oracle recomputes sample rate,
    * count, energy, and the 4-bucket envelope from the synthesis
    * formulas, so a header-offset/endianness/alignment bug cannot
    * hash-match. Closes the audio leg of multimodal the way q70
    * closed images.
    */
  def audioDecode(spark: SparkSession, dir: String): DataFrame = {
    val mkWav = udf((id: Long) => graft.multimodal.Audio.fixtureWav(id))
    val objects = Tables.load(spark, dir, "documents")
      .select(col("doc_id"), mkWav(col("doc_id")).as("payload"))
    graft.multimodal.Audio.decodeAudio(objects)
      .select(col("doc_id"), col("decoded"),
        col("sample_rate").cast("long").as("sample_rate"),
        col("channels").cast("long").as("channels"),
        col("n_samples"), col("sum_sq"),
        col("env_0"), col("env_1"), col("env_2"), col("env_3"))
      .orderBy("doc_id")
  }

  /** q96: REAL multi-frame decode through ImageIO's GIF sequence
    * reader — one synthesized animated GIF per document (2-4 solid
    * frames, integer color formulas, see Video.fixtureGif); the
    * oracle recomputes frame counts, dimensions, and every per-frame
    * luma from the synthesis formulas. Closes the frame-sample leg
    * of multimodal; MP4-family stays a documented stub (native
    * codecs absent).
    */
  def videoDecode(spark: SparkSession, dir: String): DataFrame = {
    val mkGif = udf((id: Long) => graft.multimodal.Video.fixtureGif(id))
    // spread: GIF synthesis + ImageIO decode is the heaviest per-row
    // byte work in the suite — see Tables.loadSpread (no-op at scale)
    val objects = Tables.loadSpread(spark, dir, "documents")
      .select(col("doc_id"), mkGif(col("doc_id")).as("payload"))
    graft.multimodal.Video.decodeVideo(objects)
      .select(col("doc_id"), col("decoded"),
        col("n_frames").cast("long").as("n_frames"),
        col("width").cast("long").as("width"),
        col("height").cast("long").as("height"),
        col("luma_0"), col("luma_1"), col("luma_2"), col("luma_3"))
      .orderBy("doc_id")
  }

  /** q29: per-label centroid cohesion stats. */
  def labelCentroids(spark: SparkSession, dir: String): DataFrame =
    VectorSearch.labelCentroidStats(Tables.load(spark, dir, "embeddings"))
      .orderBy("label")

  /** q35: embedding-cosine near-duplicate pairs (cos >= 0.45) via
    * IVF-cell blocked candidate generation + exact quantized-cosine
    * verification. assign=10 is the recall dial pinned by local
    * cross-check against the exhaustive oracle at sf0.001, sf0.01
    * AND sf0.1 (assign=8 missed one borderline 0.45-cosine pair at
    * sf0.1 — 143/144; see cosineNearDupPairs scaladoc for why mining
    * far below the near-dup regime needs wider assignment). The
    * planted near-identical case is unit-tested with small `assign`.
    */
  def embeddingNearDup(spark: SparkSession, dir: String): DataFrame =
    VectorSearch.cosineNearDupPairs(Tables.load(spark, dir, "embeddings"),
      threshold = 0.45, assign = 10)
      .orderBy("vec_a", "vec_b")

  /** q97: random-hyperplane LSH near-dup pairs over embeddings —
    * all pairs with 32-bit sign-signature Hamming <= 5 and exact
    * cosine >= 0.25. Recall is pigeonhole-exact (chunked bucketing
    * + 1-bit multiprobe covers Hamming <= 7), and the hyperplanes
    * are an integer formula, so the oracle re-derives signatures,
    * Hamming distances, AND cosines — the full LSH mechanics are in
    * the hash, not just the final pair list.
    */
  def embeddingLshPairs(spark: SparkSession, dir: String): DataFrame =
    // nbits pinned: the SQL oracle re-derives exactly 32 hyperplanes
    VectorSearch.rpLshNearDupPairs(Tables.load(spark, dir, "embeddings"),
      maxHamming = 5, minCos = 0.25, nbits = 32)
      .orderBy("vec_a", "vec_b")

  /** q98: leakage-safe train/eval split — near-dup families (the
    * q41 connected components over exact 3-gram Jaccard pairs) are
    * assigned to splits atomically via the portable Knuth uniform on
    * the family id, so no near-copy pair straddles the boundary.
    */
  def leakageSplit(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    Dedup.leakageSafeSplit(docs,
      Dedup.jaccardPairs(docs, k = 3, threshold = 0.5,
        maxDF = Dedup.UncappedMaxDF),
      trainFrac = 0.8)
      .orderBy("doc_id")
  }

  /** q99: deterministic training-data shard shuffle — documents take
    * a pseudo-random total order (portable Knuth uniform, doc_id
    * tiebreak) and land in 64-row shards with in-shard positions,
    * via the two-phase prefix machinery (never a single-partition
    * global row_number).
    */
  def shardShuffled(spark: SparkSession, dir: String): DataFrame =
    graft.ops.PrefixSum.shardShuffle(Tables.load(spark, dir, "documents"),
      Seq(graft.ops.Sampler.uniformKnuth(col("doc_id")), col("doc_id")),
      shardSize = 64)
      .select(col("doc_id"), col("shard"), col("pos"))
      .orderBy("doc_id")

  /** q100: incremental ingest dedup — docs with doc_id % 10 = 7 play
    * the new batch, the rest the existing corpus; exact 3-gram
    * Jaccard >= 0.5 pairs across the boundary only. Uncapped pinned
    * for the oracle (production default caps hot shingles).
    */
  def incrementalDedup(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.loadSpread(spark, dir, "documents")
    Dedup.incrementalJaccardPairs(
      docs.filter(pmod(col("doc_id"), lit(10)) =!= 7),
      docs.filter(pmod(col("doc_id"), lit(10)) === 7),
      k = 3, threshold = 0.5, maxDF = Dedup.UncappedMaxDF)
      .orderBy("batch_doc", "corpus_doc")
  }

  /** q101: Z-order layout quality — orders clustered along the
    * Morton curve over (customer, order day) into 1024-row buckets;
    * the output is each bucket's min/max envelope on BOTH dimensions
    * (the file-statistics table a scan planner prunes with). A
    * single-column sort would give tight envelopes on one dimension
    * and full-range on the other; the curve tightens both.
    */
  def zOrderLayout(spark: SparkSession, dir: String): DataFrame = {
    // spread: per-row Morton bit-interleave over a one-row-group scan
    val orders = Tables.loadSpread(spark, dir, "orders")
      .withColumn("o_days",
        datediff(col("o_orderdate").cast("date"),
          to_date(lit("1995-01-01"))).cast("long"))
    graft.ops.ZOrder.zOrderBuckets(orders, col("o_custkey"), col("o_days"),
        col("o_orderkey"), bits = 12, bucketSize = 1024L)
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_rows"),
        min("o_custkey").as("min_cust"), max("o_custkey").as("max_cust"),
        min("o_days").as("min_day"), max("o_days").as("max_day"))
      .orderBy("bucket")
  }

  /** q102: unigram-LM perplexity scoring — every document scored
    * against the corpus-trained 64-token unigram model with add-one
    * OOV smoothing (LanguageModel.unigramPerplexity: the
    * perplexity-based quality filter of a training pipeline, order-0
    * form). Per-token surprisal is rounded once to integer
    * micro-nats so the per-doc mean is an exact-integer sum —
    * order-independent and cross-engine bit-stable.
    */
  def perplexity(spark: SparkSession, dir: String): DataFrame =
    graft.text.LanguageModel.unigramPerplexity(
        Tables.load(spark, dir, "documents"), v = 64)
      .orderBy("doc_id")

  /** q113: cross-document substring-dedup REWRITE — the q111
    * measurement turned into the actual cut (TextAnalysis
    * .substrDedupCut): every token position under an 8-gram shared
    * with a lower-id document is removed and the survivors
    * reassembled in order; the minimum-id document keeps its copy.
    * The Lee et al. 2022 ExactSubstr dedup at n-gram granularity,
    * first-occurrence-by-id so a retry rewrites identically.
    */
  def substrDedup(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.substrDedupCut(
        Tables.loadSpread(spark, dir, "documents"), n = 8)
      .orderBy("doc_id")

  /** q114: Gopher quality-rule battery — the Rae et al. 2021
    * document filters (word count, mean word length, symbol ratio,
    * bullet/ellipsis line ratios, alphabetic-word ratio, stopword
    * presence) as per-row codegen'd signals plus the 0/1 verdict.
    * Ratios round through the shared fixed-point form BEFORE
    * thresholding on both engines.
    */
  def gopherRules(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.gopherQuality(
        Tables.loadSpread(spark, dir, "documents"))
      .orderBy("doc_id")

  /** q115: CCNet perplexity buckets — q102's unigram scores split
    * per language into head/middle/tail NTILE(3) bands
    * (LanguageModel.perplexityBuckets), the Wenzek et al. 2020
    * quality-tier assignment that decides which slice of a crawl
    * enters the training mix.
    */
  def perplexityBuckets(spark: SparkSession, dir: String): DataFrame =
    graft.text.LanguageModel.perplexityBuckets(
        Tables.load(spark, dir, "documents"), v = 64, buckets = 3)
      .orderBy("doc_id")

  /** q116: stupid-backoff bigram perplexity — every document scored
    * against the corpus-trained top-256 bigram model with 0.4
    * unigram backoff (LanguageModel.stupidBackoffPerplexity, the
    * Brants et al. 2007 scheme and the order-1 face of the KenLM
    * filter family). Micro-nat integer surprisal keeps the mean
    * order-independent and cross-engine bit-stable.
    */
  def backoffPerplexity(spark: SparkSession, dir: String): DataFrame =
    graft.text.LanguageModel.stupidBackoffPerplexity(
        Tables.load(spark, dir, "documents"), vb = 256)
      .orderBy("doc_id")

  /** q124: readability signals — the Flesch/SMOG inputs under the
    * vowel-group syllable heuristic (TextAnalysis
    * .readabilitySignals): syllable totals, mean syllables per word,
    * complex-word ratio. Pure per-row array expressions, zero
    * shuffle.
    */
  def readability(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.readabilitySignals(Tables.load(spark, dir, "documents"))
      .orderBy("doc_id")

  /** q125: reciprocal-rank fusion of the unigram-perplexity and
    * heuristic-quality signals per language (RankFusion.fuse) — the
    * calibration-free way to combine incommensurable quality scores
    * into one selection order; contributions are exact integers
    * (1000000 div (60 + rank)) and ties rank by doc_id, so the fused
    * order is bit-stable in any engine.
    */
  def qualityRankFusion(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    val ppl = graft.text.LanguageModel.unigramPerplexity(docs, v = 64)
      .select(col("doc_id"), col("avg_surprisal"))
    val scored = docs.select(col("doc_id"), col("lang"),
        TextAnalysis.qualityScore(col("text"), Stopwords).as("quality"))
      .join(ppl, Seq("doc_id"))
    graft.ops.RankFusion.fuse(scored, "doc_id", "lang",
        Seq(("avg_surprisal", true), ("quality", false)))
      .select(col("doc_id"), col("lang"), col("rank_avg_surprisal"),
        col("rank_quality"), col("rrf_micro"))
      .orderBy("doc_id")
  }

  /** q123: contamination verdict with benchmark attribution — the
    * GPT-3/PaLM decision rule on the q48 probe split
    * (Dedup.contaminationAttribution): per-doc 2-gram containment
    * against the probe set, rounded-then-thresholded at 0.35, plus
    * the max-overlap probe id so the report names WHICH benchmark
    * leaked.
    */
  def contaminationVerdicts(spark: SparkSession, dir: String): DataFrame = {
    // plain load is a MEASURED keep (r16): the corpus explode+probe
    // join and the n_shingles re-shingle profile as two single-task
    // jobs, but loadSpread A/B'd 1.7x WORSE — the round-robin
    // exchange ships the full text column and stalls the broadcast
    // probe build behind 32-way partials
    val docs = Tables.load(spark, dir, "documents")
    val probes = docs.filter(pmod(col("doc_id"), lit(100)) === 0)
    val corpus = docs.filter(pmod(col("doc_id"), lit(100)) =!= 0)
    Dedup.contaminationAttribution(corpus, probes, k = 2, tau = 0.35)
      .orderBy("doc_id")
  }

  /** q121: winsorized price statistics per return flag — values
    * clipped at the discrete p5/p95 bounds before the mean
    * (Profiler.winsorizedStats): integer rank arithmetic over the
    * per-group distinct-value frame picks actual data values as
    * bounds, and the clipped mean divides an exact cent sum once.
    */
  def winsorizedPrices(spark: SparkSession, dir: String): DataFrame =
    graft.ops.Profiler.winsorizedStats(
        Tables.load(spark, dir, "lineitem"),
        valueCol = "l_extendedprice", groupCol = "l_returnflag")
      .orderBy("l_returnflag")

  /** q122: integer EWMA (α = ½) of each user's event-value stream in
    * event-time order (Transforms.ewmaHalf) — per-step floor on
    * 2-decimal fixed-point keeps the non-associative recurrence
    * bit-reproducible; one key shuffle, the per-key fold is the
    * sessionize boundedness contract.
    */
  def userValueEwma(spark: SparkSession, dir: String): DataFrame =
    graft.ops.Transforms.ewmaHalf(Tables.load(spark, dir, "events"))
      .orderBy("user_id")

  /** q119: integer HITS over the q92 co-purchase graph — hub and
    * authority scores after two full iterations (Hits.integerHits),
    * PageRank's classic complement for link-graph curation. Each
    * half-step broadcasts the node-sized score frame against the
    * static edge list and L∞-normalizes with divisor-first integer
    * division, so every score is bit-reproducible in any engine.
    */
  def copurchaseHits(spark: SparkSession, dir: String): DataFrame =
    graft.ops.Hits.integerHits(copurchaseEdges(spark, dir), iters = 2,
        edgesDistinct = true)
      .orderBy("node")

  /** q120: neighbor-set Jaccard similarity over the q92 co-purchase
    * graph (GraphSim.neighborJaccard) — the co-citation signal,
    * generated as a bucketed equi-self-join on the shared neighbor
    * with hot neighbors (in-degree > 32) dropped first, the
    * inverted-index discipline of q24's shingle pairs.
    */
  def copurchaseNeighborSim(spark: SparkSession, dir: String): DataFrame =
    graft.ops.GraphSim.neighborJaccard(
        copurchaseEdges(spark, dir), maxDF = 32L, tau = 0.25,
        edgesDistinct = true)
      .orderBy("a", "b")

  /** q117: DSIR importance weights — every document scored by the
    * log-likelihood ratio of a target-domain unigram model (trained
    * on the `lang = 'en'` slice) over the raw-corpus model
    * (Dsir.importanceWeights, the Xie et al. 2023 selection signal).
    * Micro-nat integer weights keep the per-doc sum exact and
    * cross-engine bit-stable; `target_like` is the zero-shuffle
    * selection flag.
    */
  def dsirWeights(spark: SparkSession, dir: String): DataFrame =
    graft.text.Dsir.importanceWeights(
        Tables.load(spark, dir, "documents"), col("lang") === "en", v = 64)
      .orderBy("doc_id")

  /** q118: multinomial Naive Bayes language classification — the
    * fastText-style linear bag-of-words tagger (Classifier
    * .naiveBayes): per-language add-one unigram models over the
    * shared top-64 vocabulary plus document-count priors, argmax by
    * the deterministic (score desc, class asc) order. The model is
    * (v · #classes) broadcast rows; the corpus shuffles only for
    * counts and the per-doc aggregate.
    */
  def nbLanguage(spark: SparkSession, dir: String): DataFrame =
    graft.text.Classifier.naiveBayes(
        Tables.load(spark, dir, "documents"), classCol = "lang", v = 64)
      .orderBy("doc_id")

  /** q103: BPE tokenizer training — 8 merge rounds of Sennrich's
    * byte-pair encoding over the corpus (Bpe.trainMerges: ONE
    * corpus-sized aggregate builds the word-frequency table, every
    * round after that is vocab-sized). The output merge table IS
    * the tokenizer.
    */
  def bpeMerges(spark: SparkSession, dir: String): DataFrame =
    graft.text.Bpe.trainMerges(
        Tables.load(spark, dir, "documents"), rounds = 8)
      .orderBy("step")

  /** q104: tokenize with the trained BPE tokenizer — per-document
    * word/subword counts and the subwords-per-word compression
    * signal, encoded by joining each document's words against the
    * broadcast (vocabulary-sized) merged-repr table.
    */
  def bpeEncode(spark: SparkSession, dir: String): DataFrame =
    graft.text.Bpe.subwordCounts(
        Tables.loadSpread(spark, dir, "documents"), rounds = 8)
      .orderBy("doc_id")

  /** q105: semantic k-means clustering — every embedding assigned to
    * one of 8 Lloyd-iterated clusters (KMeans.lloydAssign: 2 exact
    * integer iterations from Knuth-sampled seeds on the shifted
    * 1e6-quantized grid), with the squared distance to its final
    * centroid. The cluster-aware sampling / topic-balancing step of
    * a training pipeline; assignment is a zero-shuffle projection
    * against driver-constant centroids.
    */
  def kmeansClusters(spark: SparkSession, dir: String): DataFrame =
    graft.vector.KMeans.lloydAssign(
        Tables.load(spark, dir, "embeddings"), k = 8, iters = 2)
      .orderBy("vec_id")

  /** q107: SemDeDup semantic near-duplicate pruning — the q105
    * Lloyd clusters (k=8, 2 integer rounds) followed by exact
    * within-cluster quantized cosine at 0.40; each vector reports
    * its cluster, how many lower-id cluster-mates it duplicates,
    * and whether it is kept (the representative-selection step of a
    * semantic-dedup pipeline). All-pairs cosine becomes one
    * cluster-keyed equi-join.
    */
  def semanticDedup(spark: SparkSession, dir: String): DataFrame =
    graft.vector.KMeans.semanticDedup(
        Tables.load(spark, dir, "embeddings"), k = 8, iters = 2,
        minCos = 0.40)
      .orderBy("vec_id")

  /** q111: cross-document duplicated-span coverage — per document,
    * how many token positions sit under an 8-gram that also occurs
    * in ANOTHER document (overlap-unioned), the substring-dedup
    * signal distinct from q44's intra-doc repetition. One gram-keyed
    * hash aggregate; only the duplicated tail joins back.
    */
  def dupSpanCoverage(spark: SparkSession, dir: String): DataFrame =
    graft.text.TextAnalysis.crossDocDupSpans(
        // spread: the 8-gram explode+position walk is per-row heavy
        Tables.loadSpread(spark, dir, "documents"), n = 8)
      .orderBy("doc_id")

  /** q112: temperature-weighted language mix — a quarter-corpus
    * training mix allocated across languages ∝ √count (α = 0.5
    * temperature sampling; all-integer quota arithmetic so the
    * allocation is engine-exact), members chosen per language by
    * the portable Knuth-uniform ranking.
    */
  def temperatureMixSample(spark: SparkSession, dir: String): DataFrame =
    graft.ops.Sampler.temperatureMix(
        Tables.load(spark, dir, "documents"), stratum = "lang",
        idCol = "doc_id", num = 4)
      .orderBy("doc_id")

  /** q109: BM25 keyword retrieval — four fixed term queries against
    * the documents corpus, top-10 per query by the Lucene-form BM25
    * (k1 = 1.2, b = 0.75), idf and per-term contributions in exact
    * integer micro units (Bm25.topK's determinism discipline).
    * Inverted-index shape: postings pruned to the query terms at the
    * scan, one doc-keyed shuffle, literal-bound top-k.
    */
  def bm25Retrieval(spark: SparkSession, dir: String): DataFrame =
    graft.text.Bm25.topK(Tables.load(spark, dir, "documents"),
        queries = Bm25Queries, k = 10)
      .orderBy("query_id", "rnk")

  /** The fixed q109 query workload (terms from the corpus vocab). */
  val Bm25Queries: Seq[(Int, Seq[String])] = Seq(
    1 -> Seq("spark", "table", "scan"),
    2 -> Seq("fast", "merge", "batch"),
    3 -> Seq("customer", "order", "value"),
    4 -> Seq("vector", "stream"))

  /** q110: URL canonicalization dedup — a noisy synthetic crawl of
    * order-page URLs (case aliases, default ports, `www.`, tracking
    * params, fragments, trailing slashes — all derived from orders
    * columns so the oracle can rebuild the identical raw strings)
    * folded onto canonical form; per canonical URL the raw hit
    * count, the distinct-alias count, and the kept representative
    * (lowest order key) — the URL-level first pass of a web-corpus
    * dedup pipeline. Per-row regex canonicalization (zero shuffle)
    * plus ONE canonical-keyed aggregate.
    */
  def urlDedup(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.load(spark, dir, "orders")
    val k = col("o_orderkey")
    val c = col("o_custkey")
    val raw = concat(
      when(k % 11 === 0, lit("HTTPS://")).otherwise(lit("https://")),
      when(k % 5 === 0, lit("www.")).otherwise(lit("")),
      when(k % 11 === 0,
        concat(lit("SHOP"), (c % 10).cast("string"), lit(".EXAMPLE.COM")))
        .otherwise(
          concat(lit("shop"), (c % 10).cast("string"), lit(".example.com"))),
      when(k % 7 === 0, lit(":443")).otherwise(lit("")),
      lit("/cat/"), (k % 5).cast("string"),
      lit("/p"), (k % 40).cast("string"),
      when(k % 3 === 0, lit("/")).otherwise(lit("")),
      when(k % 9 === 0, lit("?utm_campaign=c&")).otherwise(lit("?")),
      lit("item="), (k % 8).cast("string"),
      when(k % 2 === 0, lit("&utm_source=news")).otherwise(lit("")),
      when(c % 4 === 0, lit("&ref=r1")).otherwise(lit("")),
      when(k % 13 === 0, lit("#frag")).otherwise(lit("")))
    o.select(WebAnalysis.canonicalizeUrl(raw).as("url"), raw.as("raw"), k.as("key"))
      .groupBy(col("url"))
      .agg(count(lit(1)).as("n_raw"),
        countDistinct(col("raw")).as("n_variants"),
        min(col("key")).as("first_key"))
      .orderBy("url")
  }

  /** q106: supplier-cohesion triangles — per-node degree and
    * triangle count on the top-4 strongest-co-occurrence supplier
    * graph (suppliers sharing orders; Triangles.cooccurrenceKnnGraph
    * bounds edges at 4·n by construction, then degree-ordered wedge
    * enumeration closes triangles). The community-structure signal
    * over a co-occurrence corpus.
    */
  def supplierTriangles(spark: SparkSession, dir: String): DataFrame = {
    val edges = graft.ops.Triangles.cooccurrenceKnnGraph(
      Tables.load(spark, dir, "lineitem"), "l_orderkey", "l_suppkey", k = 4)
    graft.ops.Triangles.triangleCounts(edges).orderBy("node")
  }

  /** q41: duplicate clusters — connected components of the exact
    * 3-gram Jaccard pair graph (q24's pairs), each document labeled
    * with the min doc id of its component. The keep-one-per-set
    * step after any pair generator.
    */
  def dupClusters(spark: SparkSession, dir: String): DataFrame =
    Dedup.dupClusters(
      // uncapped pinned: the oracle's recursive closure is exact
      Dedup.jaccardPairs(Tables.load(spark, dir, "documents"),
        k = 3, threshold = 0.5, maxDF = Dedup.UncappedMaxDF))
      .orderBy("doc_id")

  /** q42: deterministic stratified training-mix sample — English
    * down-sampled to 30%, other fixture languages up-weighted, via
    * the portable Knuth-hash uniform so the oracle reproduces the
    * exact row set. Zero-shuffle: one pushed filter over the scan.
    */
  def trainingMixSample(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    graft.ops.Sampler.stratifiedSample(docs, col("lang"),
        graft.ops.Sampler.uniformKnuth(col("doc_id")),
        rates = Map("en" -> 0.3, "zh" -> 0.8, "es" -> 0.8, "de" -> 0.8,
          "fr" -> 0.8),
        defaultRate = 0.1)
      .select("doc_id", "lang", "source", "n_chars")
      .orderBy("doc_id")
  }

  /** q77: exact-size training mix — exactly 25 documents per
    * language, the smallest Knuth-hash members with doc_id
    * tiebreak, so membership is deterministic and engine-portable
    * like q42's Bernoulli mix but with guaranteed counts.
    */
  def fixedMixSample(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    graft.ops.Sampler.stratifiedFixedSample(docs, col("lang"),
        graft.ops.Sampler.uniformKnuth(col("doc_id")), col("doc_id"), k = 25)
      .select("doc_id", "lang", "source", "n_chars")
      .orderBy("doc_id")
  }

  /** q44: repetition quality signals (Gopher/FineWeb family) — top
    * bigram fraction + duplicate-token fraction per document, each a
    * per-row expression (sorted-array run-count, no corpus shuffle).
    */
  def repetitionSignals(spark: SparkSession, dir: String): DataFrame = {
    import graft.text.TextAnalysis
    Tables.load(spark, dir, "documents")
      .select(col("doc_id"),
        TextAnalysis.tokenCount(col("text")).cast("long").as("n_tokens"),
        TextAnalysis.topNgramFraction(col("text"), 2).as("top_bigram_frac"),
        TextAnalysis.dupTokenFraction(col("text")).as("dup_token_frac"))
      .orderBy("doc_id")
  }

  /** q45: exact p50/p95 percentiles for lineitem's numeric measures —
    * one pass, one output row per column. Uses the `percentile`
    * aggregate: its all-values-into-one-reducer final is measurably
    * faster below ~executor-memory-sized columns (2.8 s vs 4.8 s for
    * the distributed-sort form at sf0.1 — the one-reducer sort is an
    * in-memory array sort, while the distributed form pays a
    * materialization of the unpivoted corpus). Past that crossover,
    * Profiler.distributedPercentiles returns bit-identical values
    * (unit-pinned) with bounded per-node memory.
    */
  def lineitemPercentiles(spark: SparkSession, dir: String): DataFrame =
    graft.ops.Profiler.numericPercentiles(
        Tables.load(spark, dir, "lineitem"),
        Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax"))
      .orderBy("col_name")

  /** q46: the end-to-end training-data pipeline, composed entirely
    * from the library's own operators — the "a user could run their
    * whole curation job on this" demonstration:
    *
    *  1. exact dedup (keep the min-id copy of each distinct text);
    *  2. near-dup clustering over the 3-gram Jaccard pair graph
    *     (keep each component's representative);
    *  3. language filter (stopword-profile langid == 'en');
    *  4. quality threshold (composite score ≥ 0.5);
    *  5. deterministic Bernoulli sample at 50% (Knuth-hash uniform).
    *
    * Every stage is individually oracle-verified (q23, q41, q21,
    * q20, q42); this query pins their COMPOSITION against one SQL
    * oracle. Scale shape: steps 3-5 are per-row expressions fused
    * into one scan; steps 1-2 are the bucketed dedup shuffles.
    *
    * Shared-scan audit (round 10): the composition reads
    * documents.parquet three times — the fused main scan, the
    * exact-dedup md5 aggregate, and the near-dup shingle index (the
    * cluster pre-pass behind the ExistingRDD) — all column-pruned to
    * (doc_id, text). Materializing one shared `localCheckpoint` of
    * that projection measured 5.21 → 4.69 s at sf0.1 (median-of-3
    * isolated) but was REJECTED: the checkpoint is a corpus-sized
    * uncompressed spill, the same move jaccardPairs' scaladoc records
    * as a measured loss for the exploded index, and at the 100 TB
    * target re-writing the corpus to executor disks to save two
    * compressed column-pruned scans inverts badly (write bandwidth ≫
    * scan savings, plus corpus-sized local storage per run). The
    * stages deliberately re-scan parquet.
    */
  def trainingPipeline(spark: SparkSession, dir: String): DataFrame = {
    import graft.text.TextAnalysis
    val docs = Tables.load(spark, dir, "documents")
    val exactKeepers = Dedup.exactDedup(docs)
      .select(col("keeper_doc_id").as("doc_id"))
    val clusters = Dedup.dupClusters(
      Dedup.jaccardPairs(docs, k = 3, threshold = 0.5))
    val nearDupLosers = clusters
      .filter(col("doc_id") =!= col("cluster_id")).select("doc_id")
    docs
      .join(exactKeepers, Seq("doc_id"), "left_semi")
      .join(nearDupLosers, Seq("doc_id"), "left_anti")
      .filter(TextAnalysis.langId(col("text"),
        TextAnalysis.defaultProfiles) === "en")
      .filter(TextAnalysis.qualityScore(col("text"), Stopwords) >= 0.5)
      .filter(graft.ops.Sampler.uniformKnuth(col("doc_id")) < 0.5)
      .select(col("doc_id"),
        TextAnalysis.tokenCount(col("text")).cast("long").as("n_tokens"),
        TextAnalysis.qualityScore(col("text"), Stopwords).as("quality"))
      .orderBy("doc_id")
  }

  /** q47: token-budget selection — the highest-quality documents
    * until a 5 000-token budget, via the distributed two-phase
    * prefix sum (no single-partition window).
    */
  def tokenBudget(spark: SparkSession, dir: String): DataFrame = {
    import graft.text.TextAnalysis
    val docs = Tables.load(spark, dir, "documents").select(
      col("doc_id"),
      TextAnalysis.tokenCount(col("text")).cast("long").as("n_tokens"),
      TextAnalysis.qualityScore(col("text"), Stopwords).as("quality"))
    graft.ops.PrefixSum.takeByBudget(docs,
        Seq(col("quality").desc, col("doc_id")), col("n_tokens"),
        budget = 5000L)
      .orderBy(col("quality").desc, col("doc_id"))
  }

  /** q75: sequence packing — documents laid out back-to-back in
    * doc_id order and cut into 2048-token context windows (the
    * concat-and-chunk layout step before training batches), via the
    * distributed two-phase prefix sum.
    */
  def sequencePacking(spark: SparkSession, dir: String): DataFrame = {
    import graft.text.TextAnalysis
    val docs = Tables.load(spark, dir, "documents").select(
      col("doc_id"),
      TextAnalysis.tokenCount(col("text")).cast("long").as("n_tokens"))
    graft.ops.PrefixSum.packSequences(docs, Seq(col("doc_id")),
        col("n_tokens"), contextLen = 2048L)
      .orderBy("doc_id")
  }

  /** q76: sliding-window chunking of the corpus — 64-token windows
    * every 32 tokens (2× overlap), the retrieval/embedding slicing
    * step; ordered by (doc, start) for the compare.
    */
  def documentChunks(spark: SparkSession, dir: String): DataFrame =
    graft.text.TextAnalysis.chunkDocuments(
        Tables.load(spark, dir, "documents"),
        windowTokens = 64, strideTokens = 32)
      .orderBy("doc_id", "chunk_start")

  /** q48: benchmark decontamination — every 100th document plays the
    * eval set; corpus documents sharing any 3-shingle with it are
    * flagged with their distinct-hit counts.
    */
  def contamination(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    val probes = docs.filter(pmod(col("doc_id"), lit(100)) === 0)
    val corpus = docs.filter(pmod(col("doc_id"), lit(100)) =!= 0)
    Dedup.contaminationScan(corpus, probes, k = 3)
      .orderBy("doc_id")
  }

  /** q72: the same decontamination semantics through the bloom
    * prefilter scale path (every 50th document plays the eval set —
    * a denser probe split than q48 so the two queries do different
    * work). Exactness is the point: the bloom only prunes.
    */
  def contaminationBloom(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    val probes = docs.filter(pmod(col("doc_id"), lit(50)) === 0)
    val corpus = docs.filter(pmod(col("doc_id"), lit(50)) =!= 0)
    Dedup.contaminationScanBloom(corpus, probes, k = 3)
      .orderBy("doc_id")
  }

  /** q78: 20-bin histogram of lineitem extended prices — the
    * distribution-shape profile (bounds pass + one bucket groupBy).
    */
  def priceHistogram(spark: SparkSession, dir: String): DataFrame =
    graft.ops.Profiler.histogram(
        Tables.load(spark, dir, "lineitem"), "l_extendedprice", bins = 20)
      .orderBy("bucket")

  /** q40: data-quality profile of the documents table — one row per
    * column with null/distinct/min/max statistics in one pass.
    */
  def profileDocuments(spark: SparkSession, dir: String): DataFrame =
    graft.ops.Profiler.profile(Tables.load(spark, dir, "documents"))
      .orderBy("col_name")

  /** q34: multimodal plumbing over the documents corpus — binary
    * envelope (payload + typed metadata), stubbed feature
    * extraction, frame fingerprints; flattened to scalars for the
    * oracle compare.
    */
  def multimodalExtract(spark: SparkSession, dir: String): DataFrame = {
    val objects = graft.multimodal.Multimodal.fromText(
      Tables.load(spark, dir, "documents"))
    graft.multimodal.Multimodal.extract(objects)
      .select(
        col("doc_id"), col("content_id"), col("n_bytes"),
        element_at(col("features"), 1).as("feat0"),
        element_at(col("features"), 2).as("feat1"),
        element_at(col("frames"), 1).as("frame_first"),
        element_at(col("frames"), 4).as("frame_last"))
      .orderBy("doc_id")
  }

  /** q70: REAL image decode through `javax.imageio` — one synthesized
    * image per document, PNG for even ids / BMP for odd (dimensions
    * and colors are integer formulas over doc_id, see
    * Images.fixturePng/fixtureBmp), decoded by the actual codecs
    * (PNG = zlib inflate + defilter) in a batched mapPartitions
    * stage. The oracle recomputes every decoded feature (dims, exact
    * per-channel pixel sums, downsampled-luma fingerprint) from the
    * same formulas — so a codec-path bug (wrong channel order, bad
    * defilter, off-by-one sampling) cannot hash-match.
    */
  def imageDecode(spark: SparkSession, dir: String): DataFrame = {
    // even ids PNG, odd ids BMP: both pure-JDK codecs carry the same
    // id-formula pixels, so ImageIO's format dispatch is exercised by
    // live traffic while one oracle covers both containers
    val mkImg = udf((id: Long) =>
      if (id % 2 == 0) graft.multimodal.Images.fixturePng(id)
      else graft.multimodal.Images.fixtureBmp(id))
    val objects = Tables.load(spark, dir, "documents")
      .select(col("doc_id"), mkImg(col("doc_id")).as("payload"))
    graft.multimodal.Images.decodeImages(objects)
      .select(col("doc_id"), col("decoded"),
        col("width").cast("long").as("width"),
        col("height").cast("long").as("height"),
        col("sum_r"), col("sum_g"), col("sum_b"), col("luma_fp"))
      .orderBy("doc_id")
  }

  /** q80: PII redaction sweep. The fixture corpus carries no real
    * PII, so the query plants it deterministically: each customer
    * row is rendered as a contact card (email, phone, SSN, IP —
    * integer formulas over the key, reproduced verbatim by the
    * oracle), then [[TextAnalysis.redactPii]] scrubs it and
    * [[TextAnalysis.piiCount]] reports what was found. Every row's
    * redacted text and per-type counts hash against DuckDB running
    * the same RE2-compatible patterns — a regex-dialect divergence
    * or a missed occurrence cannot pass.
    *
    * Scale shape: pure per-row regex chain inside one scan; the only
    * ordering is the output sort.
    */
  def piiRedaction(spark: SparkSession, dir: String): DataFrame = {
    val cust = Tables.load(spark, dir, "customer")
    val k = col("c_custkey")
    val raw = concat(
      lit("reach "), lower(regexp_replace(col("c_name"), "#", "")),
      lit("@mail"), (k % 7).cast("string"), lit(".example.com"),
      when(k % 3 === 0,
        concat(lit(" cc admin"), (k % 5).cast("string"),
          lit("@corp.example.org"))).otherwise(lit("")),
      lit(" or call 555-"),
      lpad((k % 1000).cast("string"), 3, "0"), lit("-"),
      lpad(((k * 7) % 10000).cast("string"), 4, "0"),
      lit(" from 10."), (col("c_nationkey") % 256).cast("string"),
      lit(".0."), (k % 256).cast("string"),
      when(k % 4 === 0,
        concat(lit(" ssn "), lpad((k % 1000).cast("string"), 3, "0"),
          lit("-"), lpad((k % 100).cast("string"), 2, "0"), lit("-"),
          lpad(((k * 3) % 10000).cast("string"), 4, "0")))
        .otherwise(lit("")))
    cust.select(
      k.as("c_custkey"),
      TextAnalysis.redactPii(raw).as("redacted"),
      TextAnalysis.piiCount(raw, TextAnalysis.EmailPattern).as("n_email"),
      TextAnalysis.piiCount(raw, TextAnalysis.PhonePattern).as("n_phone"),
      TextAnalysis.piiCount(raw, TextAnalysis.SsnPattern).as("n_ssn"),
      TextAnalysis.piiCount(raw, TextAnalysis.Ipv4Pattern).as("n_ip"))
      .orderBy("c_custkey")
  }

  /** q81: per-domain web-corpus accounting. One URL is synthesized
    * per order (integer formulas over the keys, reproduced verbatim
    * by the oracle; every 5th URL carries a `www.` alias), then
    * [[WebAnalysis]] extracts host/path/query-param with Spark's
    * native `parse_url` and the rows aggregate per registered
    * domain — the grouping key of C4-family web filtering. The
    * oracle re-parses the same URLs with regexes, so a component
    * boundary bug (query leaking into path, `www.` not folded)
    * cannot hash-match.
    *
    * Scale shape: per-row parsing in the scan, one hash aggregate on
    * a low-cardinality key; money through DECIMAL(12,2).
    */
  def domainTraffic(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.load(spark, dir, "orders")
    val url = concat(lit("https://"),
      when(col("o_orderkey") % 5 === 0, lit("www.")).otherwise(lit("")),
      lit("shop"), (col("o_custkey") % 20).cast("string"),
      lit(".example.com/cat/"), (col("o_orderkey") % 7).cast("string"),
      lit("/p"), (col("o_orderkey") % 97).cast("string"),
      lit("?item="), col("o_orderkey").cast("string"),
      lit("&ref=r"), (col("o_custkey") % 3).cast("string"))
    o.select(
      WebAnalysis.registeredDomain(url).as("domain"),
      WebAnalysis.path(url).as("path"),
      WebAnalysis.queryParam(url, "item").cast("long").as("item"),
      col("o_totalprice"))
      .groupBy("domain")
      .agg(
        count(lit(1)).as("n_urls"),
        countDistinct(col("path")).as("n_paths"),
        sum(col("item")).as("sum_item"),
        sum(col("o_totalprice").cast("decimal(12,2)")).cast("double")
          .as("total_price"))
      .orderBy("domain")
  }

  /** q82: top-2 TF-IDF terms per document (linear-idf form — see
    * TextAnalysis.tfidfTopTerms for why `N/df` instead of `ln(N/df)`
    * is what makes the score column cross-engine bit-comparable).
    */
  def tfidfTerms(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.tfidfTopTerms(Tables.load(spark, dir, "documents"), k = 2)
      .orderBy("doc_id", "rnk")

  /** q83: weighted document sampling — 100 docs drawn with priority
    * `u(doc_id)/n_chars` (longer documents proportionally likelier),
    * the portable face of A-ES weighted sampling
    * (Sampler.weightedPriorityKey; the `u^(1/w)` production key is
    * unit-tested in-engine, `pow` not being cross-engine
    * bit-stable). The top-k by priority plans as
    * TakeOrderedAndProject — per-partition heaps, no global sort.
    */
  def weightedSample(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    docs.select(col("doc_id"), col("lang"), col("n_chars"),
        graft.ops.Sampler.weightedPriorityKey(col("doc_id"), col("n_chars"))
          .as("priority"))
      .orderBy(col("priority"), col("doc_id"))
      .limit(100)
  }

  /** q84: exact heavy hitters over lineitem part keys — every part
    * appearing ≥ 45 times, via the fixed-memory Misra–Gries
    * candidates + exact-recount plan (HeavyHitters.exactHeavyHitters)
    * rather than a full-cardinality groupBy. The oracle IS the full
    * groupBy — the sketch path must reproduce it exactly.
    */
  /** q86: tokenizer-prep vocabulary encoding — the 16 most frequent
    * corpus tokens become ids 1..16 (count-desc, token-asc ties) and
    * every document is rewritten as its id sequence (0 = OOV), plus
    * token/OOV accounting. Vocab ranking runs over the
    * vocabulary-sized count frame, never the corpus (Vocab.scala
    * scale note); encoding is explode → broadcast-vocab join →
    * per-doc reassembly.
    */
  def vocabEncode(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    val vocab = graft.text.Vocab.buildVocab(docs, v = 16)
    graft.text.Vocab.encodeDocuments(docs, vocab).orderBy("doc_id")
  }

  /** q88: per-source token-distribution drift — L1 distance between
    * each source's token distribution and the whole corpus's (the
    * domain-drift / contamination-shift monitor of a multi-source
    * training mix; sources whose unigram mix diverges get human
    * eyes).
    *
    * Exactness: with per-source counts c_st (n_s total) and corpus
    * counts c_t (N total), L1 = Σ_t |c_st/n_s − c_t/N| is computed
    * as the exact integer numerator Σ|c_st·N − c_t·n_s| divided ONCE
    * by n_s·N — products stay far under 2^63 (counts are
    * corpus-bounded) and the single division is correctly rounded,
    * so the drift scores are bit-identical in any engine. A float
    * per-token sum would be order-dependent and hash-unstable.
    *
    * Scale shape: one (source, token) aggregate, a vocabulary-sized
    * corpus-count frame broadcast back, per-source integer sums.
    * Tokens absent from a source still contribute |0 − c_t·n_s|:
    * the corpus frame left-joins the per-source counts per source
    * via a source×vocab expansion bounded by |sources|·|vocab|, not
    * by the corpus.
    */
  def sourceDrift(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.tokenDistributionDrift(
      Tables.load(spark, dir, "documents"), groupCol = "source")
      .orderBy("source")

  /** q90: fuzzy entity matching — a deterministically-corrupted copy
    * of the customer register (one dropped char, one substituted
    * char, or untouched, by key mod 3) is matched back to the clean
    * register at Levenshtein ≤ 2, blocked by nation (the realistic
    * "match within country" block — no all-pairs product; candidate
    * cost is Σ per-nation |L|·|R|). Spark's and DuckDB's levenshtein
    * agree, so the entire match set including distances is
    * hash-compared.
    */
  def fuzzyCustomers(spark: SparkSession, dir: String): DataFrame = {
    val cust = Tables.load(spark, dir, "customer")
    // block = (nation, 2-char name suffix): the corruptions edit the
    // middle of the name, never its tail, so true matches always
    // share the block — while the block count scales with the
    // register (nation alone left ~|nation|²-sized blocks: measured
    // 59 s at sf0.1 vs sub-second with the suffix refinement; the
    // within-block quadratic is THE fuzzy-join dial)
    def blockOf(name: org.apache.spark.sql.Column) =
      concat(col("c_nationkey").cast("string"), lit("|"),
        substring(name, -2, 2))
    val clean = cust.select(col("c_custkey").as("id"),
      col("c_name").as("key"), blockOf(col("c_name")).as("block"))
    val k = col("c_custkey")
    val dirtyName = when(k % 3 === 0,
        concat(substring(col("c_name"), 1, 9), substring(col("c_name"), 11, 1000)))
      .when(k % 3 === 1,
        concat(substring(col("c_name"), 1, 11), lit("x"),
          substring(col("c_name"), 13, 1000)))
      .otherwise(col("c_name"))
    val dirty = cust.select((k + 1000000L).as("id"), dirtyName.as("key"),
      blockOf(dirtyName).as("block"))
    graft.ops.FuzzyMatch.fuzzyPairs(clean, dirty, maxEdits = 2)
      .orderBy("left_id", "right_id")
  }

  /** q91: per-returnflag Pearson correlation of quantity vs extended
    * price through Profiler.exactCorrelation — decimal moment sums,
    * double finishers only (bit-portable, unlike `corr()`'s
    * partitioning-dependent float moments).
    */
  def priceQuantityCorr(spark: SparkSession, dir: String): DataFrame =
    graft.ops.Profiler.exactCorrelation(
        Tables.load(spark, dir, "lineitem"),
        groupCol = "l_returnflag", xCol = "l_quantity",
        yCol = "l_extendedprice")
      .orderBy("l_returnflag")

  /** q92: co-purchase authority — deterministic integer PageRank
    * (3 damped iterations, millionth-scaled ranks, floor-div
    * updates) over the bipartite customer↔part graph of distinct
    * purchase pairs; part nodes are offset by 1e7 into a disjoint id
    * space. The oracle unrolls the same three integer iterations —
    * every rank matches to the unit.
    */
  def copurchaseRank(spark: SparkSession, dir: String): DataFrame =
    graft.ops.PageRank.integerPageRank(copurchaseEdges(spark, dir), iters = 3,
        edgesDistinct = true)
      .orderBy("node")

  /** The q92 bipartite customer↔part graph (also the q92/q119
    * scale-soak input: Bench on a ScaleUp dir): an edge per distinct
    * co-purchase, both directions; part ids offset into their own
    * node-id space.
    */
  def copurchaseEdges(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.load(spark, dir, "lineitem")
      .select(col("l_orderkey"), col("l_partkey"))
    val o = Tables.load(spark, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"))
    // materialized ONCE: the union below references `pairs` twice, and
    // un-checkpointed the whole join+distinct ran once PER BRANCH
    // (measured as duplicate jobs in every graph query over this
    // frame); both downstream directions now read the same blocks.
    val obs = org.apache.spark.sql.Observation()
    val pairs = li.join(o, col("l_orderkey") === col("o_orderkey"))
      .select(col("o_custkey").as("c"),
        (col("l_partkey") + 10000000L).as("p")).distinct()
      .observe(obs, max(col("c")).as("mx"))
      .localCheckpoint()
    // the two union directions are distinct by construction ONLY
    // while customer and part ids stay below the 1e7 part offset
    // (src < 1e7 in one direction, >= 1e7 in the other); o_custkey
    // crosses 1e7 at TPC-H sf ~67, where the ranges MAY collide and
    // the construction-distinctness promise (edgesDistinct = true at
    // the callers) would silently double colliding edges. The bound
    // check rides the materialization job above (observe — zero extra
    // actions); past it, one conservative distinct() restores the
    // pre-promise semantics (a no-op re-dedup when ids happen not to
    // collide, e.g. ScaleUp's i·10^9-shifted copies — correctness
    // first, the exchange is the price of leaving the proven domain).
    val maxCust = Option(obs.get("mx"))
      .map(_.asInstanceOf[Number].longValue)
    val doubled = pairs
      .select(col("c").as("src"), col("p").as("dst"))
      .union(pairs.select(col("p").as("src"), col("c").as("dst")))
    if (maxCust.exists(_ >= 10000000L)) doubled.distinct() else doubled
  }

  /** q93: row-level migration reconciliation — a deterministically
    * perturbed copy of orders (every 97th key dropped, every 89th
    * re-keyed into a new id space, every 13th repriced) diffed
    * against the original with TableDiff: one report row per
    * added/removed/changed key naming the changed columns. The
    * oracle rebuilds the same perturbation and classifies with the
    * same null-safe comparisons.
    */
  def ordersDiff(spark: SparkSession, dir: String): DataFrame = {
    val orders = Tables.load(spark, dir, "orders")
    val k = col("o_orderkey")
    val after = orders.filter(k % 97 =!= 0)
      .withColumn("o_totalprice",
        when(k % 13 === 0, col("o_totalprice") + lit(1.0))
          .otherwise(col("o_totalprice")))
      .unionByName(orders.filter(k % 89 === 0)
        .withColumn("o_orderkey", k + 2000000L)
        .withColumn("o_orderstatus", lit("N")))
    graft.migrate.TableDiff.diff(orders, after, Seq("o_orderkey"))
      .orderBy("o_orderkey", "status")
  }

  /** q126: duplicate clusters of the q41 pair graph, computed by the
    * alternating large-star/small-star contraction instead of
    * min-label propagation — same fixpoint (component min labels,
    * the oracle is q41's recursive closure verbatim), logarithmic
    * rounds on any graph shape.
    */
  def dupClustersStar(spark: SparkSession, dir: String): DataFrame =
    graft.ops.ConnectedComponents.starComponents(
      // uncapped pinned: the oracle's recursive closure is exact
      Dedup.jaccardPairs(Tables.load(spark, dir, "documents"),
        k = 3, threshold = 0.5, maxDF = Dedup.UncappedMaxDF))
      .orderBy("doc_id")

  /** q127: top-50 adjacent-bigram collocations by integer exp-PMI. */
  def pmiCollocations(spark: SparkSession, dir: String): DataFrame =
    graft.text.Collocations.pmiBigrams(
      Tables.load(spark, dir, "documents"), minCount = 5L, topK = 50)

  /** q128: asymmetric shingle-containment pairs (quote/excerpt
    * detection) at C >= 0.8, exact-uncapped pinned for the oracle.
    */
  def containedDocs(spark: SparkSession, dir: String): DataFrame =
    Dedup.containmentPairs(Tables.load(spark, dir, "documents"),
      k = 3, thresholdPpm = 800000L, maxDF = Dedup.UncappedMaxDF)
      .orderBy("doc_sub", "doc_sup")

  /** q129: 20-core of the customer–part co-purchase graph — the
    * dense engagement core (node, in-core degree) after iterative
    * peeling; the oracle unrolls the same peeling a generous fixed
    * number of rounds (fixpoint rounds are no-ops).
    */
  def copurchaseKCore(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.load(spark, dir, "lineitem")
    val o = Tables.load(spark, dir, "orders")
    val edges = li.join(o, col("l_orderkey") === col("o_orderkey"))
      .select(col("o_custkey").as("a"),
        (col("l_partkey") + 10000000L).as("b"))
    graft.ops.KCore.kCore(edges, k = 20).orderBy("node")
  }

  /** q131: cross-source quantile normalization of document lengths —
    * each doc's n_chars mapped to the global length at the same
    * within-source quantile (integer rank arithmetic end to end).
    */
  def lengthQuantileNorm(spark: SparkSession, dir: String): DataFrame =
    graft.ops.QuantileNorm.quantileNormalize(
        Tables.load(spark, dir, "documents"),
        col("doc_id"), col("source"), col("n_chars"))
      .orderBy("id")

  /** q132: 8 maximally-diverse high-relevance exemplars (greedy MMR
    * over the quantized embeddings, centroid affinity as relevance).
    */
  def mmrDiverse(spark: SparkSession, dir: String): DataFrame =
    graft.vector.Mmr.mmrSelect(Tables.load(spark, dir, "embeddings"), k = 8)

  /** q133: personalized PageRank on the co-purchase graph, teleport
    * pinned to the node % 1000 == 0 seed set — seed-relative
    * authority after 3 exact integer iterations.
    */
  def copurchaseSeedRank(spark: SparkSession, dir: String): DataFrame =
    graft.ops.PageRank.personalizedPageRank(copurchaseEdges(spark, dir),
        iters = 3, seed = n => n % 1000 === 0, edgesDistinct = true)
      .orderBy("node")

  def heavyParts(spark: SparkSession, dir: String): DataFrame =
    // capacity 2^18 keeps the recall bound N/capacity under the fixed
    // minCount up to the sf1 soak (6M rows → bound 22.9 < 45); ~4 MB
    // of counters per task
    graft.ops.HeavyHitters.exactHeavyHitters(
        Tables.load(spark, dir, "lineitem"), col("l_partkey"),
        minCount = 45L, capacity = 1 << 18)
      .select(col("key").as("l_partkey"), col("cnt"))
      .orderBy("l_partkey")

  /** q134: per-document character-distribution entropy — integer
    * micro-nat surprisal per character class, exact-count weighted.
    */
  def docCharEntropy(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.charEntropy(Tables.load(spark, dir, "documents"))
      .orderBy("doc_id")

  /** q138: seeded label propagation on the co-purchase graph —
    * customers seed their nation key, parts take the (count desc,
    * label asc) majority nation of their purchasers; the loop runs to
    * the detected FIXPOINT (on this bipartite graph with pinned seeds
    * round 2 re-derives the identical part labels, so convergence
    * fires after 2 vote rounds — the same job count the old fixed
    * iters=2 paid, but self-terminating on any graph shape).
    */
  def copurchaseLabelProp(spark: SparkSession, dir: String): DataFrame = {
    val seeds = Tables.load(spark, dir, "customer")
      .select(col("c_custkey").as("node"),
        col("c_nationkey").cast("long").as("label"))
    // one orientation only — propagate derives the other (the
    // pre-doubled copurchaseEdges frame would double every vote)
    val li = Tables.load(spark, dir, "lineitem")
    val o = Tables.load(spark, dir, "orders")
    val edges = li.join(o, col("l_orderkey") === col("o_orderkey"))
      .select(col("o_custkey").as("src"),
        // high-bit tag, not a fixed decimal offset: part ids stay
        // disjoint from customer keys up to 2^40 (~1.1e12, far past
        // any TPC-H scale), where +10M collides at custkey ≥ 10M
        // (sf ~67)
        (col("l_partkey") + (1L << 40)).as("dst"))
    graft.ops.LabelProp.propagateToFixpoint(edges, seeds)
      .orderBy("node")
  }

  /** q139: median/MAD robust outlier flags over document lengths per
    * source — exact lower medians, integer deviation compare.
    */
  def lengthMadOutliers(spark: SparkSession, dir: String): DataFrame =
    graft.ops.RobustStats.madOutliers(Tables.load(spark, dir, "documents"),
        col("doc_id"), col("source"), col("n_chars"))
      .orderBy("id")

  /** q141: nucleus (top-p) selection per source — the longest
    * documents until 80% of each source's character mass, exact
    * DECIMAL mass arithmetic.
    */
  def topPSources(spark: SparkSession, dir: String): DataFrame =
    graft.ops.Sampler.topPByGroup(Tables.load(spark, dir, "documents"),
        col("doc_id"), col("source"), col("n_chars"), pPpm = 800000L)
      .orderBy("grp", "id")

  /** q142: recall@10 of the int8-quantized ANN scan against the
    * exact brute-force baseline, per query — the "measure, don't
    * guess" acceptance gate for the compressed-domain index.
    */
  def annRecallInt8(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.load(spark, dir, "embeddings")
    val qs = knnQueries(emb)
    graft.vector.Eval.recallAtK(
        VectorSearch.bruteForceTopK(emb, qs, k = 10),
        VectorSearch.int8TopK(emb, qs, k = 10), k = 10)
      .orderBy("query_id")
  }

  /** q143: hard-negative mining — per query vector the top-10
    * highest-cosine neighbors with a DIFFERENT label (contrastive
    * training's near-miss negatives).
    */
  def hardNegativeMining(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.load(spark, dir, "embeddings")
    VectorSearch.hardNegatives(emb, knnQueries(emb), k = 10)
      .orderBy("query_id", "rnk")
  }

  /** q144: recall@10 of IVF at a genuinely LOSSY setting — 32 cells,
    * nprobe=2 (q28's nprobe=1000 probes every cell, so its recall is
    * trivially 1.0) — against the exact baseline. Portable Knuth
    * centroid sample so the whole lossy chain is oracle-checkable.
    */
  def annRecallIvf(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.load(spark, dir, "embeddings")
    val qs = knnQueries(emb)
    graft.vector.Eval.recallAtK(
        VectorSearch.bruteForceTopK(emb, qs, k = 10),
        VectorSearch.ivfTopK(emb, qs, k = 10, nprobe = 2, numCells = 32,
          portableSample = true), k = 10)
      .orderBy("query_id")
  }

  /** q145: recall@10 of the PQ/ADC ranking (m=4 subspaces, 16
    * codewords — the q87 configuration) against the exact baseline —
    * the measured cost of 8×-compressed codes on this corpus.
    */
  def annRecallPq(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.load(spark, dir, "embeddings")
    val qs = knnQueries(emb)
    graft.vector.Eval.recallAtK(
        VectorSearch.bruteForceTopK(emb, qs, k = 10),
        VectorSearch.pqTopK(emb, qs, k = 10), k = 10)
      .orderBy("query_id")
  }

  /** q146: recall@10 of the RP-LSH slice-bucketed top-k (32 bits, 4
    * slices — q97's signature dials) against the exact baseline —
    * what bucket-mate-only candidate generation costs at top-k
    * (vs the pair-mining guarantee regime of q97).
    */
  def annRecallRpLsh(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.load(spark, dir, "embeddings")
    val qs = knnQueries(emb)
    graft.vector.Eval.recallAtK(
        VectorSearch.bruteForceTopK(emb, qs, k = 10),
        VectorSearch.rpLshTopK(emb, qs, k = 10, nbits = 32, chunks = 4),
        k = 10)
      .orderBy("query_id")
  }

  /** q148: embedding-space benchmark decontamination — corpus
    * vectors (vec_id % 97 != 0) within cosine 0.25 of any probe
    * vector (vec_id % 97 == 0), with hit counts and closest-probe
    * cosine. The semantic second pass beside q48's shingle scan.
    */
  def embeddingContamination(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.load(spark, dir, "embeddings")
    VectorSearch.embeddingContamination(
      emb.filter(pmod(col("vec_id"), lit(97)) =!= 0),
      emb.filter(pmod(col("vec_id"), lit(97)) === 0),
      threshold = 0.25)
  }

  /** q149: label-relevance retrieval evaluation over the exact
    * top-10 lists of the fixed query set — per query precision@10,
    * recall@10, MRR with "relevant = carries the query's label".
    */
  def retrievalEval(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.load(spark, dir, "embeddings")
    VectorSearch.retrievalEval(emb, knnQueries(emb), k = 10)
  }

  /** q150: corpus 3-gram novelty curve — per document the fraction
    * of its distinct shingles first seen in it (corpus-saturation /
    * crawl-budget signal).
    */
  def ngramNovelty(spark: SparkSession, dir: String): DataFrame =
    Dedup.ngramNovelty(Tables.load(spark, dir, "documents"), k = 3)

  /** q152: source-pair shingle overlap matrix — exact Jaccard and
    * directional containments of the per-source distinct 3-shingle
    * sets, one row per unordered source pair (zero-overlap pairs
    * included). The corpus-composition redundancy view q24's
    * doc-pair Jaccard can't give: "how much of source B does source
    * A already cover" is the input to mixture re-weighting.
    */
  def sourceOverlap(spark: SparkSession, dir: String): DataFrame =
    Dedup.sourceOverlap(Tables.loadSpread(spark, dir, "documents"), k = 3)

  /** q153: evaluation of the q21 heuristic language labeler against
    * the gold `lang` column — per-class precision/recall/F1 plus
    * global accuracy and Cohen's kappa (the chance-corrected
    * agreement that survives class imbalance). The report any
    * labeler must pass before gating a curation run.
    */
  def langIdEval(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    graft.ops.Agreement.classifierReport(docs, col("lang"),
      TextAnalysis.langId(col("text"), TextAnalysis.defaultProfiles))
  }

  /** q156: Fleiss' kappa over a 3-rater panel — the gold `lang`
    * column, the q21 heuristic labeler, and a length-parity
    * pseudo-rater, one rating row each per document. The multi-rater
    * generalization of q153: before a labeler PANEL's majority vote
    * gates a curation run, its chance-corrected agreement needs one
    * number, and pairwise Cohen's kappas don't compose into it.
    */
  def raterAgreement(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    val heur = TextAnalysis.langId(col("text"), TextAnalysis.defaultProfiles)
    val parity = when(pmod(col("n_chars"), lit(2)) === 0, lit("en"))
      .otherwise(lit("und"))
    val ratings = docs.select(col("doc_id"), col("lang").as("cls"))
      .unionByName(docs.select(col("doc_id"), heur.as("cls")))
      .unionByName(docs.select(col("doc_id"), parity.as("cls")))
    graft.ops.Agreement.fleissKappa(ratings, col("doc_id"), col("cls"))
  }

  /** q157: rank-biased overlap (p = 1/2, truncated at depth 10) of
    * the int8-quantized top-10 lists against the exact ones — q142's
    * recall gate re-graded with top-weighting: recall@10 treats rank
    * 1 and rank 10 as equals; RBO discounts depth geometrically, the
    * right grade when the pipeline consumes the head of the list.
    */
  def annRboInt8(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.load(spark, dir, "embeddings")
    val qs = knnQueries(emb)
    graft.vector.Eval.rboHalf(
      VectorSearch.bruteForceTopK(emb, qs, k = 10),
      VectorSearch.int8TopK(emb, qs, k = 10), k = 10)
  }

  /** q158: BLEU-2 over adjacent document pairs (even doc_id as
    * candidate, the next odd doc as reference) — clipped unigram and
    * bigram precisions plus their geometric mean. The multiplicity-
    * aware overlap grade q24's set-Jaccard can't give; the same
    * operator grades rewriters and generated continuations against
    * references.
    */
  def generationBleu(spark: SparkSession, dir: String): DataFrame = {
    // spread: the gram pass is expensive per row; a sub-split-size
    // corpus file otherwise runs it on one core (Tables.loadSpread)
    val docs = Tables.loadSpread(spark, dir, "documents")
      .select(col("doc_id"), col("text"))
    val cand = docs.filter(pmod(col("doc_id"), lit(2)) === 0)
      .select(col("doc_id").as("pair_id"), col("text").as("cand"))
    val ref = docs.filter(pmod(col("doc_id"), lit(2)) === 1)
      .select((col("doc_id") - 1).as("pair_id"), col("text").as("ref"))
    graft.text.GenerationEval.bleu2(cand.join(ref, Seq("pair_id")),
      "pair_id", "cand", "ref")
  }

  /** q164: chrF over q158's adjacent document pairs — character
    * n-gram F-score at orders 1..6, β = 2 (the sub-word complement
    * of BLEU's word n-grams: morphology variants and typos that zero
    * a word n-gram still share most character n-grams).
    */
  def generationChrf(spark: SparkSession, dir: String): DataFrame = {
    // spread: char grams at 6 orders are the library's most expensive
    // per-row pass — see Tables.loadSpread (no-op at production scale)
    val docs = Tables.loadSpread(spark, dir, "documents")
      .select(col("doc_id"), col("text"))
    val cand = docs.filter(pmod(col("doc_id"), lit(2)) === 0)
      .select(col("doc_id").as("pair_id"), col("text").as("cand"))
    val ref = docs.filter(pmod(col("doc_id"), lit(2)) === 1)
      .select((col("doc_id") - 1).as("pair_id"), col("text").as("ref"))
    graft.text.GenerationEval.chrF(cand.join(ref, Seq("pair_id")),
      "pair_id", "cand", "ref")
  }

  /** q163: Krippendorff's alpha over an INCOMPLETE 3-rater panel —
    * gold `lang` and the q21 labeler rate every document, the
    * length-parity pseudo-rater only the even half (raters rotating
    * over a corpus is the normal annotation shape). This is exactly
    * the panel q156's Fleiss refuses (heterogeneous rating counts);
    * alpha weighs each item by the pairwise comparisons it actually
    * carries.
    */
  def raterAlpha(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    val heur = TextAnalysis.langId(col("text"), TextAnalysis.defaultProfiles)
    val parity = when(pmod(col("n_chars"), lit(2)) === 0, lit("en"))
      .otherwise(lit("und"))
    val ratings = docs.select(col("doc_id"), col("lang").as("cls"))
      .unionByName(docs.select(col("doc_id"), heur.as("cls")))
      .unionByName(docs.filter(pmod(col("doc_id"), lit(2)) === 0)
        .select(col("doc_id"), parity.as("cls")))
    graft.ops.Agreement.krippendorffAlpha(ratings, col("doc_id"), col("cls"))
  }

  /** q161: ROUGE-L over q158's adjacent document pairs, both sides
    * bounded to their first 40 tokens (the DP-cost bound a corpus
    * run would set anyway) — the order-sensitive complement of
    * BLEU-2's bag-of-n-grams overlap: LCS rewards preserved
    * SEQUENCE, so a shuffled bag of the right words scores high
    * BLEU but low ROUGE-L.
    */
  def generationRouge(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
      .select(col("doc_id"), col("text"))
    val cand = docs.filter(pmod(col("doc_id"), lit(2)) === 0)
      .select(col("doc_id").as("pair_id"), col("text").as("cand"))
    val ref = docs.filter(pmod(col("doc_id"), lit(2)) === 1)
      .select((col("doc_id") - 1).as("pair_id"), col("text").as("ref"))
    graft.text.GenerationEval.rougeL(cand.join(ref, Seq("pair_id")),
      "pair_id", "cand", "ref", maxTokens = 40)
  }

  /** q159: nDCG@10 over q149's exact top-10 lists with label
    * relevance — the graded-position complement of precision/recall
    * @k: a system that surfaces the relevant vectors FIRST outranks
    * one that buries them at rank 10. Micro-unit log2 discounts keep
    * the DCG mass an exact integer (the q102 rounding discipline).
    */
  def retrievalNdcg(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.load(spark, dir, "embeddings")
    val (ranked, nRel) = VectorSearch.labeledRanking(emb, knnQueries(emb),
      k = 10)
    graft.vector.Eval.ndcgAtK(
      ranked.select(col("query_id"), col("rnk"), col("rel")),
      nRel.select(col("query_id"), col("n_rel")), k = 10)
  }

  /** q160: MAP@10 over the same labeled ranking — each relevant hit
    * graded by the precision AT ITS RANK, the strictest of the three
    * ranking grades (one early miss drags every later hit down).
    * The AP numerator is one exact integer mass over lcm(1..10).
    */
  def retrievalMap(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.load(spark, dir, "embeddings")
    val (ranked, nRel) = VectorSearch.labeledRanking(emb, knnQueries(emb),
      k = 10)
    graft.vector.Eval.mapAtK(
      ranked.select(col("query_id"), col("rnk"), col("rel")),
      nRel.select(col("query_id"), col("n_rel")), k = 10)
  }

  /** The q21 labeler's underlying SCORE: its English marker-token
    * hit count — the integer the minHits=2 threshold cuts. The
    * ScoreEval family grades this score itself (ranking power,
    * operating points) instead of the thresholded decision q153
    * grades.
    */
  private def markerHits = size(filter(TextAnalysis.tokens(col("text")),
    t => t === "the" || t === "a"))

  /** q165: ROC-AUC of the marker-hit score against gold
    * `lang = 'en'` — the threshold-FREE grade of the q21 labeler:
    * does the score RANK English documents above the rest at all,
    * independent of where minHits lands? Exact Mann–Whitney with
    * midrank ties, one corpus scan to a score census.
    */
  def langScoreAuc(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    graft.ops.ScoreEval.rocAuc(docs, markerHits,
      when(col("lang") === "en", lit(1L)).otherwise(lit(0L)))
  }

  /** q166: the full ROC operating-point table for the same score —
    * one row per candidate threshold "predict en when hits ≥ thr",
    * exact confusion counts and rates. The table that justifies (or
    * indicts) q21's minHits=2.
    */
  def langScoreRoc(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    graft.ops.ScoreEval.rocCurve(docs, markerHits,
      when(col("lang") === "en", lit(1L)).otherwise(lit(0L)))
  }

  /** q167: calibration of a pseudo-confidence for the q21 labeler —
    * conf_milli = min(1000, 500 + 50·hits) (a deterministic fixture
    * mapping, the q156 parity-rater precedent), graded against
    * whether the labeler's DECISION matched gold. The reliability
    * diagram + ECE any confidence-weighted mixture (q117 DSIR shape)
    * should clear before its weights are trusted.
    */
  def langScoreCalibration(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    val pred = TextAnalysis.langId(col("text"), TextAnalysis.defaultProfiles)
    val conf = least(lit(1000L), lit(500L) + lit(50L) * markerHits)
    graft.ops.ScoreEval.calibration(docs, conf,
      when(pred === col("lang"), lit(1L)).otherwise(lit(0L)), bins = 10)
  }

  /** q168: tie-corrected Spearman rank correlation between document
    * length (n_chars) and token count — the signal-redundancy audit:
    * two quality features this correlated in RANK carry one signal,
    * and rank-fusion weights (q125) should know it.
    */
  def lengthTokenSpearman(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    graft.ops.ScoreEval.spearman(docs, col("n_chars"),
      TextAnalysis.tokenCount(col("text")))
  }

  /** q169: distinct-1/distinct-2 diversity per source — the
    * cross-document template-spam gauge: a source whose distinct-2
    * ratio craters is pasting boilerplate even when every individual
    * page passes the per-document repetition filters (q44).
    */
  def sourceDiversity(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.ngramDiversity(Tables.load(spark, dir, "documents"),
      col("source"), col("text"), maxN = 2)

  /** q170: average precision (PR-AUC) of the marker-hit score —
    * q165's class-imbalance-robust complement: ROC-AUC barely moves
    * when false positives double against a huge negative class;
    * PR-AUC halves. Per-threshold precisions rounded ONCE to exact
    * integer micro-units, the AP numerator one integer mass.
    */
  def langScoreAp(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    graft.ops.ScoreEval.averagePrecision(docs, markerHits,
      when(col("lang") === "en", lit(1L)).otherwise(lit(0L)))
  }

  /** q171: Brier score of the q167 pseudo-confidence — the proper
    * scoring rule beside the binned ECE diagram: ECE can be gamed by
    * a constant base-rate predictor; the Brier score penalizes
    * exactly that, Σ(conf − 1000·y)² one exact integer.
    */
  def langScoreBrier(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    val pred = TextAnalysis.langId(col("text"), TextAnalysis.defaultProfiles)
    val conf = least(lit(1000L), lit(500L) + lit(50L) * markerHits)
    graft.ops.ScoreEval.brier(docs, conf,
      when(pred === col("lang"), lit(1L)).otherwise(lit(0L)))
  }

  /** q172: Jensen–Shannon divergence of each source's unigram
    * distribution from the corpus mixture — the distributional drift
    * detector beside q152's set-overlap matrix: a source can share
    * almost no exact shingles and still be distributionally
    * identical (or vice versa); mixture re-weighting needs both
    * views. Source-vs-mixture, not pairwise — no |pairs|×|vocab|
    * blowup.
    */
  def sourceJsd(spark: SparkSession, dir: String): DataFrame =
    graft.text.Divergence.jsdFromMixture(
      Tables.load(spark, dir, "documents"), col("source"), col("text"))

  /** q173: two-sample Kolmogorov–Smirnov on document length —
    * src0's n_chars distribution vs the rest of the corpus: the
    * score-level drift gauge beside q172's token-level JSD. A new
    * crawl slice whose length CDF has moved (truncation, boilerplate
    * bloat) shows up here before any quality gate fires.
    */
  def sourceLengthKs(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    graft.ops.ScoreEval.ksTest(docs, col("n_chars"),
      when(col("source") === "src0", lit(1L)).otherwise(lit(0L)))
  }

  /** q174: multiclass Matthews correlation (Gorodkin R_K) of the q21
    * labeler against gold — the imbalance-honest single number
    * beside q153's accuracy/kappa report: a labeler that just
    * predicts the majority class keeps respectable accuracy and
    * nonzero kappa, but its R_K collapses toward 0.
    */
  def langIdMcc(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    graft.ops.Agreement.matthewsCorrelation(docs, col("lang"),
      TextAnalysis.langId(col("text"), TextAnalysis.defaultProfiles))
  }

  /** q175: vocabulary-coverage census per source — Good–Turing seen
    * mass and the Chao1 vocabulary-size lower bound: "is this source
    * saturated, or does its tail keep paying?" — the question before
    * spending another crawl pass on it.
    */
  def sourceVocabCoverage(spark: SparkSession, dir: String): DataFrame =
    graft.text.Vocab.vocabCoverage(
      Tables.load(spark, dir, "documents"), col("source"))

  /** q178: binary log-loss of the q167 pseudo-confidence (capped at
    * 999: log-loss refuses claimed certainty) against
    * decision-correct — the proper scoring rule that DIVERGES on
    * certain-and-wrong, the failure mode that costs most when the
    * confidence weights a mixture; Brier (q171) only penalizes it
    * quadratically.
    */
  def langScoreLogLoss(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    val pred = TextAnalysis.langId(col("text"), TextAnalysis.defaultProfiles)
    val conf = least(lit(999L), lit(500L) + lit(50L) * markerHits)
    graft.ops.ScoreEval.logLoss(docs, conf,
      when(pred === col("lang"), lit(1L)).otherwise(lit(0L)))
  }

  /** q177: embedding-space drift per label — each label's centroid
    * direction against the rest of the corpus: the embedding-level
    * drift gauge completing the triad with q173 (score KS) and q172
    * (token JSD). A slice that passes every token gate but embeds
    * somewhere new reads low here.
    */
  def labelEmbeddingDrift(spark: SparkSession, dir: String): DataFrame =
    VectorSearch.embeddingDrift(Tables.load(spark, dir, "embeddings"),
      groupCol = "label")

  /** q187: Kendall's tau-b between the marker-hit quality score and
    * the coarse length bucket — "of all document pairs, how often do
    * the two signals order them the same way?", the pair-level
    * redundancy check beside q168's Spearman (tau-b's tie correction
    * is what keeps the number honest on heavily quantized scores).
    */
  def markerLengthKendall(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    graft.ops.ScoreEval.kendallTauB(docs, markerHits,
      expr("n_chars div 100"))
  }

  /** q188: multiclass log-loss of a deterministic 3-class confidence
    * vector (milli-units summing to exactly 1000) against a synthetic
    * 3-class gold — the q178 proper-scoring-rule discipline for the
    * labelers that claim a FULL distribution (the q118 NB shape).
    */
  def multiclassLogLoss(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    graft.ops.ScoreEval.logLossMulti(docs, mc3Conf, mc3Gold)
  }

  /** The deterministic 3-class confidence vector shared by the whole
    * multiclass battery (q188/q190/q191/q195/q196 and the monitor's
    * classes leg): milli-units summing to exactly 1000, keyed off
    * doc_id — the q118 NB shape without the NB model in the oracle.
    */
  private[queries] def mc3Conf: org.apache.spark.sql.Column = {
    val p0 = lit(1L) + pmod(col("doc_id") * 7, lit(500L))
    val p1 = lit(1L) + pmod(col("doc_id") * 13, lit(400L))
    val p2 = lit(1000L) - p0 - p1
    map(lit("c0"), p0, lit("c1"), p1, lit("c2"), p2)
  }

  /** The synthetic 3-class gold the battery grades against. */
  private[queries] def mc3Gold: org.apache.spark.sql.Column =
    concat(lit("c"), pmod(col("n_chars"), lit(3L)).cast("string"))

  /** q189: the every-source-vs-rest KS drift matrix on document
    * length — q173 graded ONE nominated slice (src0) against the
    * rest; this grades EVERY source from one (source, n_chars)
    * census. The monitor-stance drift gauge: nobody has to guess in
    * advance which crawl slice moved.
    */
  def sourceLengthKsMatrix(spark: SparkSession, dir: String): DataFrame =
    graft.ops.ScoreEval.ksMatrix(Tables.load(spark, dir, "documents"),
      col("n_chars"), col("source"))

  /** q190: per-class reliability + per-class ECE of the q188
    * 3-class confidence vector against its synthetic gold — the
    * multiclass mixture-weighting gate: the router's aggregate
    * diagram (q167) hides a rare class whose claims are the most
    * dishonest; per-class bins expose it.
    */
  def multiclassCalibration(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    graft.ops.ScoreEval.calibrationByClass(docs, mc3Conf, mc3Gold,
      bins = 10)
  }

  /** q191: per-class average precision of the same vector — the
    * rare-class PR view that q170's single binary AP cannot give: a
    * router whose aggregate ranking looks fine while one class's
    * precision-recall curve has collapsed reads low exactly here.
    */
  def multiclassAp(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    graft.ops.ScoreEval.averagePrecisionByClass(docs, mc3Conf, mc3Gold)
  }

  /** q195: per-class ROC-AUC of the same vector — the ranking face
    * completing the multiclass battery (q188 loss, q190 calibration,
    * q191 AP): does each class's claim rank its own documents above
    * the rest at all, exact Mann–Whitney per class.
    */
  def multiclassAuc(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    graft.ops.ScoreEval.rocAucByClass(docs, mc3Conf, mc3Gold)
  }

  /** q196: the per-class operating-point table of the same vector —
    * the threshold-picking face the multiclass battery was missing:
    * q195 says each class's ranking exists, q191 what it is worth
    * under imbalance; this names, per class, what every candidate
    * cutoff trades (the q166 table, one-vs-rest per class).
    */
  def classOperatingPoints(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    graft.ops.ScoreEval.operatingPointsByClass(docs, mc3Conf, mc3Gold)
  }

  /** q198: the largest-remainder milli-quantizer pinned against the
    * oracle — a synthetic UNNORMALIZED double vector (sums to
    * ~0.73 of itself, deliberately not 1) is quantized to exact
    * milli-units and censused per (cls, milli). Both engines mirror
    * the float ops op-for-op (normalize, ×1000, floor, remainder
    * ranking with ties toward the smallest class key), so the census
    * must hash-match — the determinism proof for the one blessed way
    * from raw router probabilities into the sum-to-1000 contract.
    */
  def quantizeMilliCensus(spark: SparkSession, dir: String): DataFrame = {
    // loadSpread: the quantizer is a heavy per-row expression chain
    // (2 array_sorts + 3 transforms per row) over a one-row-group
    // scan — profiled as ONE 1.4 s task on local[32]; the
    // scale-adaptive spread is a no-op at production input sizes
    val docs = Tables.loadSpread(spark, dir, "documents")
    val p0 = (lit(1L) + pmod(col("doc_id") * 7, lit(499L))) / lit(1237.0)
    val p1 = (lit(1L) + pmod(col("doc_id") * 13, lit(401L))) / lit(1237.0)
    val p2 = (lit(1L) + pmod(col("doc_id") * 29, lit(307L))) / lit(1237.0)
    val probs = map(lit("c0"), p0, lit("c1"), p1, lit("c2"), p2)
    docs.select(explode(graft.ops.ScoreEval.quantizeMilli(probs))
        .as(Seq("cls", "milli")))
      .groupBy(col("cls"), col("milli"))
      .agg(count(lit(1)).as("n"))
      .orderBy("cls", "milli")
  }

  /** q194: the NULL-score exclusion contract pinned AGAINST THE
    * ORACLE — every 7th document's marker score is nulled, and the
    * AUC must grade exactly the remaining rows (scoreCensus excludes
    * null scores; a null carries no rank information, and keeping it
    * would put the census CDF at the mercy of the engine's null sort
    * order — Spark NULLS FIRST vs DuckDB NULLS LAST).
    */
  def nullScoreAuc(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    val score = when(col("doc_id") % 7 === 0, lit(null).cast("long"))
      .otherwise(markerHits)
    graft.ops.ScoreEval.rocAuc(docs, score,
      when(col("lang") === "en", lit(1L)).otherwise(lit(0L)))
  }
}
