package graft

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.functions._

/** Dev tool (the Bench/Verify/ScaleUp family, not library surface):
  * scale soak of the SHARDED PageRank regime. Runs the q92
  * co-purchase graph with `maxBroadcastNodes = 0` — broadcast
  * forbidden, the past-10^7-nodes code path — at whatever scale dir
  * it is pointed at, and verifies the regime's one scale contract
  * before timing anything: across two consecutive un-checkpointed
  * rounds, the executed plan contains node-sized exchanges ONLY (the
  * pinned edge frame must never re-shuffle; an `outdeg`-carrying
  * exchange is the disproof). Prints one JSON line.
  *
  * `runMain graft.SoakPageRank <sfDir> [iters]`
  */
object SoakPageRank {

  private def exchanges(p: SparkPlan): Seq[ShuffleExchangeLike] = {
    val here = p match {
      case a: AdaptiveSparkPlanExec => exchanges(a.executedPlan)
      case q: QueryStageExec => exchanges(q.plan)
      case x: ShuffleExchangeLike => Seq(x) ++ exchanges(x.child)
      case _ => Nil
    }
    here ++ p.children.flatMap(exchanges)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val iters = args.lift(1).map(_.toInt).getOrElse(3)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = Sessions.local(cpus)

    val edges = queries.PipelineQueries.copurchaseEdges(spark, sfDir)

    // contract first: no edge-sized exchange across two consecutive
    // sharded rounds (broadcast disabled so AQE cannot mask a lost
    // partitioning pin by broadcasting the rank side)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    val e = edges.select(col("src"), col("dst")).distinct().localCheckpoint()
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct().localCheckpoint()
    val deg = e.groupBy("src").agg(count(lit(1)).as("outdeg"))
    val pinned = ops.PageRank.pinBySrc(e.join(deg, "src"))
    val ranks0 = nodes.withColumn("rank", lit(1000000L))
    val r1 = ops.PageRank.oneRound(pinned, nodes, ranks0, useBroadcast = false)
    val r2 = ops.PageRank.oneRound(pinned, nodes, r1, useBroadcast = false)
    r2.write.format("noop").mode("overwrite").save()
    val edgeSized = exchanges(r2.queryExecution.executedPlan)
      .filter(_.child.output.exists(_.name == "outdeg"))
    require(edgeSized.isEmpty,
      s"sharded contract broken — edge frame re-shuffled: " +
        edgeSized.map(_.child.output.map(_.name).mkString(",")).mkString("; "))
    spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")

    // timed end-to-end sharded run (its own pin included)
    val nEdges = e.count()
    val nNodes = nodes.count()
    val t0 = System.nanoTime()
    ops.PageRank.integerPageRank(edges, iters, maxBroadcastNodes = 0L)
      .write.format("noop").mode("overwrite").save()
    val shardedSecs = (System.nanoTime() - t0) / 1e9
    val t1 = System.nanoTime()
    ops.PageRank.integerPageRank(edges, iters,
        maxBroadcastNodes = Long.MaxValue)
      .write.format("noop").mode("overwrite").save()
    val broadcastSecs = (System.nanoTime() - t1) / 1e9

    println(s"""{"metric":"soak_pagerank_sharded","unit":"sec",""" +
      s""""sharded":$shardedSecs,"broadcast":$broadcastSecs,""" +
      s""""iters":$iters,"nodes":$nNodes,"edges":$nEdges,""" +
      s""""edge_sized_exchanges":0,"sf":"$sfDir"}""")
    spark.stop()
  }
}
