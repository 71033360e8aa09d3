package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Dev tool (like Bench/Verify, not library surface): synthesize an
  * N× scale-up of a testdata directory for scale soaks —
  * `runMain graft.ScaleUp <srcDir> <dstDir> [copies]`.
  *
  * Fact tables replicate with disjoint key spaces (copy i shifts
  * every key by i·10^9 — TPC-H-style scaling: more customers/orders/
  * docs, not more rows per key). Dimension tables (region, nation)
  * stay fixed, like TPC-H. The offset is divisible by 1000, so
  * modulo-based query selectors (`o_orderkey % 1000 = 0` probes,
  * `vec_id % 100 = 0` ANN query sets) keep their selection RATE.
  *
  * Content is perturbed per copy so similarity structure scales like
  * a real corpus instead of exploding on cross-copy duplicates:
  *  - documents: every 5th token (per-copy phase) gets a copy tag —
  *    within-copy near-dup pairs keep their Jaccard, cross-copy
  *    copies of the same doc fall below any dedup threshold;
  *  - embeddings: vectors rotate by `copy` positions — norms (and
  *    int8 scale factors) are preserved, directions decorrelate.
  */
object ScaleUp {

  private val Offset = 1000000000L

  def main(args: Array[String]): Unit = {
    val src = args(0)
    val dst = args(1)
    val copies = args.lift(2).map(_.toInt).getOrElse(10)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = Sessions.local(cpus)

    def load(t: String): DataFrame = Tables.load(spark, src, t)
    def save(df: DataFrame, t: String): Unit =
      df.write.mode("overwrite").parquet(s"$dst/$t.parquet")

    // fixed-size dimensions, copied verbatim
    Seq("region", "nation").foreach(t => save(load(t), t))

    def replicate(t: String, keyCols: Seq[String])(
        perturb: (DataFrame, Int) => DataFrame = (df, _) => df): Unit = {
      val base = load(t)
      val parts = (0 until copies).map { i =>
        val shifted = keyCols.foldLeft(base) { (df, k) =>
          df.withColumn(k, col(k) + lit(i * Offset))
        }
        perturb(shifted, i)
      }
      save(parts.reduce(_ unionByName _), t)
    }

    replicate("customer", Seq("c_custkey"))()
    replicate("supplier", Seq("s_suppkey"))()
    replicate("part", Seq("p_partkey"))()
    replicate("orders", Seq("o_orderkey", "o_custkey"))()
    replicate("lineitem", Seq("l_orderkey", "l_partkey", "l_suppkey"))()
    // events join customers on user_id — shift both with one offset
    replicate("events", Seq("event_id", "user_id"))()

    replicate("documents", Seq("doc_id")) { (df, i) =>
      if (i == 0) df
      else {
        // tag every 5th token (phase i%5, suffix i): ~3/5 of
        // 3-shingles change per copy → cross-copy J ≈ 0.25, safely
        // under every dedup threshold, while within-copy planted
        // pairs mutate identically and keep their similarity
        val toks = split(col("text"), " ")
        val mutated = zip_with(
          toks, sequence(lit(0), size(toks) - 1),
          (t, idx) => when(pmod(idx + lit(i), lit(5)) === 0,
            concat(t, lit(s"x$i"))).otherwise(t))
        df.withColumn("text", array_join(mutated, " "))
          .withColumn("n_chars", length(col("text")).cast("int"))
      }
    }

    replicate("embeddings", Seq("vec_id")) { (df, i) =>
      val rot = i % 64
      if (rot == 0) df
      else df.withColumn("embedding",
        concat(slice(col("embedding"), rot + 1, 64 - rot),
          slice(col("embedding"), 1, rot)))
    }

    Tables.all.foreach { t =>
      println(s"[scaleup] $t: ${spark.read.parquet(s"$dst/$t.parquet").count()} rows")
    }
    spark.stop()
  }
}
