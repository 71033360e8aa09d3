package graft

import org.apache.spark.scheduler._
import scala.collection.mutable

/** Where-does-the-time-go diagnostic (optimization guide §1): run one
  * or more SparkEntry queries under the Bench shard's exact session
  * config, after the same untimed warmup, and print a per-JOB
  * breakdown — wall seconds, stage count, task count, executor run
  * time, shuffle bytes read/written, input bytes — captured by a
  * SparkListener. An iterative operator (localCheckpoint per round)
  * is opaque to `explain`; this shows which of its jobs actually
  * costs, which `explain` cannot.
  *
  * Usage: `runMain graft.Profile <sfDir> <queryName> [more...]`
  */
object Profile {

  private final case class StageAgg(var tasks: Int = 0, var runMs: Long = 0,
    var shufReadB: Long = 0, var shufWriteB: Long = 0, var inputB: Long = 0)

  private final class JobTracker extends SparkListener {
    final case class Job(id: Int, desc: String, start: Long,
      var end: Long = -1L, stages: mutable.Set[Int] = mutable.Set.empty)
    val jobs = mutable.ArrayBuffer.empty[Job]
    val stageAgg = mutable.Map.empty[Int, StageAgg]
    var enabled = false

    override def onJobStart(e: SparkListenerJobStart): Unit = if (enabled) {
      val desc = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.job.description")))
        .getOrElse("")
      val j = Job(e.jobId, desc, e.time)
      j.stages ++= e.stageIds
      jobs.synchronized { jobs += j }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      jobs.synchronized {
        jobs.find(_.id == e.jobId).foreach(_.end = e.time)
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      if (enabled) {
        val si = e.stageInfo
        val m = si.taskMetrics
        val a = stageAgg.synchronized {
          stageAgg.getOrElseUpdate(si.stageId, StageAgg())
        }
        a.tasks += si.numTasks
        a.runMs += m.executorRunTime
        a.shufReadB += m.shuffleReadMetrics.totalBytesRead
        a.shufWriteB += m.shuffleWriteMetrics.bytesWritten
        a.inputB += m.inputMetrics.bytesRead
      }
    def reset(): Unit = { jobs.clear(); stageAgg.clear() }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val names =
      if (args.length > 1) args.drop(1).toSeq
      else Seq("q01_pricing_summary")
    val spark = Sessions.local()
    val tracker = new JobTracker
    spark.sparkContext.addSparkListener(tracker)

    def runOnce(name: String): Unit =
      SparkEntry.queries(name)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
    def clearState(): Unit = {
      spark.sqlContext.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
    }

    names.foreach { name =>
      runOnce(name) // warmup, untimed (JIT, parquet footers)
      clearState(); System.gc()
      tracker.reset(); tracker.enabled = true
      val t0 = System.nanoTime()
      runOnce(name)
      val secs = (System.nanoTime() - t0) / 1e9
      tracker.enabled = false
      // listener bus is async; wait until the tracker's view stops
      // changing (two consecutive stable polls) instead of a fixed
      // sleep — on a loaded machine stage-completion events can land
      // late and a fixed sleep silently under-reports the aggregates
      def snapshot(): (Int, Int, Long) = (
        tracker.jobs.synchronized(tracker.jobs.count(_.end > 0)),
        tracker.stageAgg.synchronized(tracker.stageAgg.size),
        tracker.stageAgg.synchronized(tracker.stageAgg.values.map(_.runMs).sum))
      var last = snapshot()
      var stable = 0
      var waited = 0
      while (stable < 2 && waited < 5000) {
        Thread.sleep(100); waited += 100
        val cur = snapshot()
        if (cur == last) stable += 1 else { stable = 0; last = cur }
      }
      println(f"\n========== $name ${secs}%.2fs (${tracker.jobs.size} jobs) ==========")
      println(f"${"job"}%4s ${"wall_s"}%7s ${"stg"}%3s ${"tasks"}%5s " +
        f"${"run_s"}%7s ${"shufR_MB"}%8s ${"shufW_MB"}%8s ${"in_MB"}%7s  desc")
      tracker.jobs.sortBy(_.start).foreach { j =>
        val agg = j.stages.toSeq.flatMap(tracker.stageAgg.get)
        val tasks = agg.map(_.tasks).sum
        val runS = agg.map(_.runMs).sum / 1e3
        val sr = agg.map(_.shufReadB).sum / 1e6
        val sw = agg.map(_.shufWriteB).sum / 1e6
        val in = agg.map(_.inputB).sum / 1e6
        val wall = if (j.end > 0) (j.end - j.start) / 1e3 else -1.0
        println(f"${j.id}%4d $wall%7.2f ${j.stages.size}%3d $tasks%5d " +
          f"$runS%7.2f $sr%8.2f $sw%8.2f $in%7.2f  ${j.desc.take(60)}")
      }
      clearState(); System.gc()
    }
    spark.stop()
  }
}
