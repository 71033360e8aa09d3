package graft


/** Plan-audit diagnostic: print the formatted physical plan of one or
  * more SparkEntry queries without executing them.
  *
  * Usage: `runMain graft.Explain <sfDir> <queryName> [more names...]`
  * (or no names = every query not in benchExclude). This is how the
  * scale review is done concretely: check PushedFilters / ReadSchema
  * on scans, BroadcastHashJoin vs SortMergeJoin choices,
  * WholeStageCodegen spans, Expand single-pass for grouping sets,
  * WindowGroupLimit for top-k, and the absence of CartesianProduct /
  * SinglePartition exchanges.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val names =
      if (args.length > 1) args.drop(1).toSeq
      else SparkEntry.queries.keys.toSeq.sorted
        .filterNot(SparkEntry.benchExclude)
    val spark = Sessions.local("ERROR")
    names.foreach { name =>
      println(s"\n========== $name ==========")
      SparkEntry.queries(name)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
