package graft

import org.apache.spark.sql.functions._

/** Dev tool (the Bench/Verify/ScaleUp family, not library surface):
  * scale soak of the round-6 graph operators — star-contraction
  * connected components and k-core peeling — on the co-purchase
  * graph of whatever scale dir it is pointed at. Reports seconds and
  * output cardinalities as one JSON line; run it at sf0.1 and at a
  * ScaleUp 10× dir and compare growth (both operators' rounds are
  * logarithmic/constant in n, so wall-clock should track the edge
  * count roughly linearly — a super-linear jump means a contract
  * broke).
  *
  * `runMain graft.SoakGraphOps <sfDir>`
  */
object SoakGraphOps {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = Sessions.local(cpus)

    val li = Tables.load(spark, sfDir, "lineitem")
    val o = Tables.load(spark, sfDir, "orders")
    val pairs = li.join(o, col("l_orderkey") === col("o_orderkey"))
      .select(col("o_custkey").as("a"), (col("l_partkey") + 10000000L).as("b"))
      .distinct().localCheckpoint()
    val nEdges = pairs.count()

    def timed[T](f: => T): (T, Double) = {
      val t0 = System.nanoTime()
      val r = f
      (r, (System.nanoTime() - t0) / 1e9)
    }

    val (nStar, tStar) = timed {
      ops.ConnectedComponents.starComponents(
        pairs.withColumnRenamed("a", "doc_a").withColumnRenamed("b", "doc_b"))
        .count()
    }
    val (nCore, tCore) = timed {
      ops.KCore.kCore(pairs, k = 20).count()
    }
    // HITS in BOTH regimes on the directed doubling of the pair
    // graph: the broadcast face q119 exercises, and the sharded
    // (pinned-edge) regime forced via maxBroadcastNodes = 0 — its
    // 10x growth curve is the scale evidence for the regime switch
    val directed = pairs
      .select(col("a").as("src"), col("b").as("dst"))
      .union(pairs.select(col("b").as("src"), col("a").as("dst")))
    val (nHb, tHb) = timed {
      ops.Hits.integerHits(directed, iters = 2).count()
    }
    val (nHs, tHs) = timed {
      ops.Hits.integerHits(directed, iters = 2, maxBroadcastNodes = 0L).count()
    }
    // seeded label propagation: every 10th customer-side node seeded
    val seeds = pairs.select(col("a").as("node")).distinct()
      .filter(col("node") % 10 === 0)
      .withColumn("label", col("node") % 7)
    val (nLp, tLp) = timed {
      ops.LabelProp.propagate(
        pairs.select(col("a").as("src"), col("b").as("dst")),
        seeds, iters = 2).count()
    }
    // component sanity: the co-purchase graph is connected at every
    // fixture scale — one label for every node
    println(s"""{"sfDir":"$sfDir","edges":$nEdges,""" +
      s""""star_nodes":$nStar,"star_sec":${f"$tStar%.2f"},""" +
      s""""kcore_nodes":$nCore,"kcore_sec":${f"$tCore%.2f"},""" +
      s""""hits_nodes":$nHb,"hits_bcast_sec":${f"$tHb%.2f"},""" +
      s""""hits_sharded_sec":${f"$tHs%.2f"},""" +
      s""""labelprop_nodes":$nLp,"labelprop_sec":${f"$tLp%.2f"}}""")
    spark.stop()
  }
}
