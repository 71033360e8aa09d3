package graft

import graft.cdc.CdcApplier
import graft.streaming.StreamingCdc
import org.apache.spark.sql.functions.col
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.rng.Seed
import org.scalacheck.util.Pretty
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files

/** Property check of the replication core: a random change feed,
  * split at random points into micro-batches and merged one batch at
  * a time through `StreamingCdc.mergeIntoState`, lands on the state
  * `CdcApplier.replayCompact` computes over the whole feed in one
  * pass — the associativity the `CdcApplier` scaladoc claims, through
  * the bucketed store at several bucket counts.
  */
class CdcPropertySpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  /** One change: (id, _before_id, v, ts, seq, op). */
  type Change = (Long, Option[Long], Long, Long, Long, String)

  // few keys, so inserts, deletes and key moves keep hitting each other
  private val KeySpace = 10L

  /** `ts` never decreases and ties often; `seq` is the position, so
    * every `(ts, seq)` is unique and a contiguous split puts each
    * batch wholly before the next. A move carries the old key in
    * `_before_id` (occasionally the same key: a plain update in
    * before-image form); an update carries its own key or none.
    */
  private val feedGen: Gen[Vector[Change]] = {
    val step = for {
      op <- Gen.frequency(3 -> "insert", 4 -> "update", 2 -> "delete",
        2 -> "move")
      id <- Gen.choose(0L, KeySpace - 1)
      from <- Gen.choose(0L, KeySpace - 1)
      withBefore <- Gen.oneOf(true, false)
      v <- Gen.choose(0L, 999L)
      dt <- Gen.choose(0L, 2L)
    } yield (op, id, from, withBefore, v, dt)
    Gen.choose(1, 40).flatMap(Gen.listOfN(_, step)).map { steps =>
      val tss = steps.scanLeft(0L)(_ + _._6).tail
      steps.zip(tss).zipWithIndex.map {
        case (((op, id, from, withBefore, v, _), ts), i) => op match {
          case "move"   => (id, Some(from), v, ts, i.toLong, "update")
          case "update" => (id, Option.when(withBefore)(id), v, ts, i.toLong, op)
          case _        => (id, None, v, ts, i.toLong, op)
        }
      }.toVector
    }
  }

  /** A feed and the sorted, distinct interior points it is cut at. */
  private val splitFeedGen: Gen[(Vector[Change], Seq[Int])] = for {
    feed <- feedGen
    cuts <- Gen.containerOf[Set, Int](Gen.choose(1, math.max(1, feed.size - 1)))
  } yield (feed, cuts.filter(_ < feed.size).toSeq.sorted)

  private def rows(feed: Seq[Change]) = {
    import spark.implicits._
    feed.toDF("id", "_before_id", "v", "ts", "seq", "op")
  }

  private def sorted(df: org.apache.spark.sql.DataFrame): Seq[Seq[Any]] =
    df.select("id", "v", "ts", "seq").orderBy("id").collect().map(_.toSeq).toSeq

  Seq(1, 4, 64).foreach { numBuckets =>
    test(s"micro-batched merges equal replayCompact at numBuckets=$numBuckets") {
      val prop = Prop.forAllNoShrink(splitFeedGen) { case (feed, cuts) =>
        val stateDir = Files.createTempDirectory("graft_cdc_prop").toString
        val bounds = (0 +: cuts) :+ feed.size
        bounds.zip(bounds.tail).foreach { case (from, until) =>
          StreamingCdc.mergeIntoState(rows(feed.slice(from, until)), stateDir,
            Seq("id"), Seq("ts", "seq"), numBuckets)
        }
        val whole = rows(feed)
        val merged = sorted(StreamingCdc.currentState(spark, stateDir,
          whole.drop("op", "_before_id")))
        val replayed = sorted(CdcApplier.replayCompact(whole, Seq("id"),
          Seq(col("ts"), col("seq"))))
        Prop(merged == replayed) :|
          s"feed=$feed cuts=$cuts merged=$merged replayed=$replayed"
      }
      val params = Test.Parameters.default
        .withMinSuccessfulTests(10)
        .withInitialSeed(Seed(20261017L + numBuckets))
      val result = Test.check(params, prop)
      assert(result.passed, Pretty.pretty(result))
    }
  }
}
