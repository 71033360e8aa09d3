package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** The one resident pump loop: a stream, a checkpoint and a per-batch
  * fold, the reference's `Pumper` that connects a reader to a writer
  * (pumper.py:13-47). Every pump in the system — CDC, multiplexed CDC,
  * Debezium, incremental aggregation, the curation monitor and the
  * live JDBC pump — starts here and only supplies its fold.
  */
object Pump {

  /** Start `fold(batch, batchId)` over `stream` with its offsets in
    * `checkpointDir`.
    *
    * Trigger: `processingTime = None` drains what is available and
    * stops (`Trigger.AvailableNow`, the reference's `--src-wait` off);
    * `Some(interval)` stays up and batches on that cadence
    * (`Trigger.ProcessingTime`, `--src-wait` + `--nice-pause`).
    *
    * Vacuum cadence: when `vacuumEvery > 0`, every batch whose id is a
    * positive multiple of `vacuumEvery` vacuums each dir of
    * `vacuumDirs` with [[BucketStateStore.vacuum]] (`keep =
    * vacuumKeep`) after the fold; batch 0 never does. Vacuum is a
    * writer, so it runs here, inside the writer's own batch, never
    * beside it. `vacuumDirs` is evaluated at vacuum time, so a caller
    * can name dirs that appear while the pump runs; a dir that holds
    * no version yet is left untouched.
    */
  def start(stream: DataFrame, checkpointDir: String,
      processingTime: Option[String] = None,
      vacuumEvery: Int = 0, vacuumKeep: Int = 4,
      vacuumDirs: => Seq[String] = Nil)(
      fold: (DataFrame, Long) => Unit): StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(processingTime.fold(Trigger.AvailableNow())(Trigger.ProcessingTime(_)))
      .foreachBatch { (batch: DataFrame, bid: Long) =>
        fold(batch, bid)
        if (vacuumEvery > 0 && bid > 0 && bid % vacuumEvery == 0)
          vacuumDirs.foreach(BucketStateStore.vacuum(batch.sparkSession, _, vacuumKeep))
      }
      .start()
}
