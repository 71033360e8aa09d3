package graft

import graft.cdc.CdcApplier
import graft.streaming.{BucketStateStore, IncrementalAgg, StreamingCdc}
import org.apache.spark.sql.functions.{col, count, lit, min, sha2, sum}
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
  * the bucketed store at several bucket counts, and while the store
  * grows by re-bucketing. A `Map` model of last-write-wins checks
  * `replayCompact` itself, with `applyAll` and the store beside it.
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
  private def feedGen(keySpace: Long, minLen: Int,
      maxLen: Int): Gen[Vector[Change]] = {
    val step = for {
      op <- Gen.frequency(3 -> "insert", 4 -> "update", 2 -> "delete",
        2 -> "move")
      id <- Gen.choose(0L, keySpace - 1)
      from <- Gen.choose(0L, keySpace - 1)
      withBefore <- Gen.oneOf(true, false)
      v <- Gen.choose(0L, 999L)
      dt <- Gen.choose(0L, 2L)
    } yield (op, id, from, withBefore, v, dt)
    Gen.choose(minLen, maxLen).flatMap(Gen.listOfN(_, step)).map { steps =>
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
    feed <- feedGen(KeySpace, 1, 40)
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

  /** Last-write-wins as a `Map` fold over the feed in order: a delete
    * drops its key, a key move drops its old key, any other change puts
    * the row. It shares no code with `CdcApplier`, so a fault in
    * `lastPerKey`, which every store path goes through, shows here.
    */
  private def model(feed: Seq[Change]): Seq[Seq[Any]] =
    feed.foldLeft(Map.empty[Long, Seq[Any]]) {
      case (m, (id, before, v, ts, seq, op)) =>
        val rest = before.filter(_ != id).fold(m)(m - _)
        if (op == "delete") rest - id else rest + (id -> Seq(id, v, ts, seq))
    }.toSeq.sortBy(_._1).map(_._2)

  Seq(1, 4).foreach { numBuckets =>
    test(s"applyAll, replayCompact and micro-batched merges equal a Map " +
      s"model of last-write-wins at numBuckets=$numBuckets") {
      val prop = Prop.forAllNoShrink(splitFeedGen) { case (feed, cuts) =>
        val stateDir = Files.createTempDirectory("graft_cdc_model").toString
        val bounds = (0 +: cuts) :+ feed.size
        val batches = bounds.zip(bounds.tail).map { case (from, until) =>
          rows(feed.slice(from, until)) }
        batches.foreach(StreamingCdc.mergeIntoState(_, stateDir, Seq("id"),
          Seq("ts", "seq"), numBuckets))
        val whole = rows(feed)
        val template = whole.drop("op", "_before_id")
        val order = Seq(col("ts"), col("seq"))
        val want = model(feed)
        val wrong = Seq(
          "applyAll" -> CdcApplier.applyAll(template.limit(0), batches,
            Seq("id"), order),
          "replayCompact" -> CdcApplier.replayCompact(whole, Seq("id"), order),
          "mergeIntoState" -> StreamingCdc.currentState(spark, stateDir, template)
        ).map { case (name, df) => name -> sorted(df) }.filter(_._2 != want)
        Prop(wrong.isEmpty) :| s"feed=$feed cuts=$cuts model=$want wrong=$wrong"
      }
      val params = Test.Parameters.default
        .withMinSuccessfulTests(6)
        .withInitialSeed(Seed(20261024L + numBuckets))
      val result = Test.check(params, prop)
      assert(result.passed, Pretty.pretty(result))
    }
  }

  /** A longer feed over many keys, so the state outgrows a few-kB
    * bucket target, cut into at most 7 batches.
    */
  private val growthFeedGen: Gen[(Vector[Change], Seq[Int])] = for {
    feed <- feedGen(500L, 200, 300)
    n <- Gen.choose(2, 6)
    cuts <- Gen.listOfN(n, Gen.choose(1, feed.size - 1))
  } yield (feed, cuts.distinct.sorted)

  /** 128 hex characters per row that do not compress, so the state's
    * bytes follow its row count.
    */
  private def padded(df: org.apache.spark.sql.DataFrame) =
    df.withColumn("pad", sha2(col("v").cast("string"), 512))

  test("a growing store re-buckets: state equals replayCompact, bucket " +
    "counts double, recorded sizes match, history reads") {
    StoreManifest.withTarget(spark, "4k") {
      val prop = Prop.forAllNoShrink(growthFeedGen) { case (feed, cuts) =>
        val stateDir = Files.createTempDirectory("graft_cdc_grow").toString
        val template = padded(rows(feed)).drop("op", "_before_id")
        val bounds = (0 +: cuts) :+ feed.size
        val batches = bounds.zip(bounds.tail)
        val problems = scala.collection.mutable.ArrayBuffer.empty[String]
        var k = 1
        var prior = Seq.empty[Seq[Any]]
        def step(from: Int, until: Int): Unit = {
          StreamingCdc.mergeIntoState(padded(rows(feed.slice(from, until))),
            stateDir, Seq("id"), Seq("ts", "seq"), numBuckets = 1)
          val m = StoreManifest.current(spark, stateDir)
          val v = BucketStateStore.currentVersion(spark, stateDir).get
          if (!StoreManifest.isPowerOfTwo(m.numBuckets) || m.numBuckets < k)
            problems += s"v$v: numBuckets ${m.numBuckets} after $k"
          if (m.numBuckets != k && v > 0) {
            val old = sorted(BucketStateStore.stateAt(spark, stateDir, template, v - 1))
            if (old != prior) problems += s"v${v - 1} reads $old, was $prior"
          }
          k = m.numBuckets
          m.buckets.foreach { case (b, bv) =>
            val lens = StoreManifest.files(stateDir, b, bv).map(_.length)
            if (lens != Seq(m.bytes(b)))
              problems += s"v$v bucket $b records ${m.bytes(b)}, files $lens"
          }
          prior = sorted(StreamingCdc.currentState(spark, stateDir, template))
          val want = sorted(CdcApplier.replayCompact(rows(feed.take(until)),
            Seq("id"), Seq(col("ts"), col("seq"))))
          if (prior != want) problems += s"v$v: state $prior != replay $want"
        }
        batches.foreach { case (from, until) => step(from, until) }
        // a replayed batch is a state no-op, so re-merging the last one
        // lets a store that outgrew its buckets late double twice
        Iterator.fill(3)(batches.last).takeWhile(_ => k < 4)
          .foreach { case (from, until) => step(from, until) }
        if (k < 4) problems += s"the store ended at $k buckets"
        Prop(problems.isEmpty) :| s"feed=$feed cuts=$cuts ${problems.mkString("; ")}"
      }
      val params = Test.Parameters.default
        .withMinSuccessfulTests(6)
        .withInitialSeed(Seed(20261017L))
      val result = Test.check(params, prop)
      assert(result.passed, Pretty.pretty(result))
    }
  }

  /** A feed over 60 keys cut into batches, and after each batch either
    * no vacuum or a vacuum keeping 1 to 3 versions.
    */
  private val compactionFeedGen: Gen[(Vector[Change], Seq[Int], Seq[Option[Int]])] = for {
    feed <- feedGen(60L, 20, 80)
    n <- Gen.choose(2, 7)
    cuts <- Gen.listOfN(n, Gen.choose(1, feed.size - 1))
    vacuums <- Gen.listOfN(n + 1,
      Gen.frequency(2 -> Gen.const(None), 1 -> Gen.choose(1, 3).map(Some(_))))
  } yield (feed, cuts.distinct.sorted, vacuums)

  // events the compaction property must have seen, per bucket count
  private val seen = scala.collection.mutable.Map.empty[(Int, String), Int]

  Seq(1 -> "8k", 4 -> "2k", 64 -> "1k").foreach { case (numBuckets, target) =>
    test(s"random compaction points: every retained version equals replayCompact " +
      s"of its prefix at numBuckets=$numBuckets") {
      StoreManifest.withTarget(spark, target) {
        val prop = Prop.forAllNoShrink(compactionFeedGen) { case (feed, cuts, vacuums) =>
          val stateDir = Files.createTempDirectory("graft_cdc_compact").toString
          val template = padded(rows(feed)).drop("op", "_before_id")
          val bounds = (0 +: cuts) :+ feed.size
          val replays = scala.collection.mutable.Map.empty[Int, Seq[Seq[Any]]]
          def replay(n: Int) = replays.getOrElseUpdate(n, sorted(
            CdcApplier.replayCompact(rows(feed.take(n)), Seq("id"),
              Seq(col("ts"), col("seq")))))
          val prefixOf = scala.collection.mutable.Map.empty[Long, Int]
          val problems = scala.collection.mutable.ArrayBuffer.empty[String]
          def version = BucketStateStore.currentVersion(spark, stateDir).get
          def check(what: String): Unit = {
            val v = version
            val cur = sorted(StreamingCdc.currentState(spark, stateDir, template))
            if (cur != replay(prefixOf(v))) problems += s"$what: current v$v $cur"
            BucketStateStore.availableVersions(spark, stateDir).foreach { rv =>
              val got = sorted(BucketStateStore.stateAt(spark, stateDir, template, rv))
              if (got != replay(prefixOf(rv))) problems += s"$what: v$rv reads $got"
            }
          }
          def note(event: String): Unit =
            seen.synchronized(seen((numBuckets, event)) = seen.getOrElse((numBuckets, event), 0) + 1)
          bounds.zip(bounds.tail).zip(vacuums).foreach { case ((from, until), vac) =>
            val before = BucketStateStore.currentVersion(spark, stateDir)
              .map(StoreManifest.lines(stateDir, _)).getOrElse(Nil)
            val pending = before.filter(_.startsWith("run."))
              .map(_.stripPrefix("run.").split('=')(0).toInt).toSet
            StreamingCdc.mergeIntoState(padded(rows(feed.slice(from, until))),
              stateDir, Seq("id"), Seq("ts", "seq"), numBuckets)
            val v = version
            prefixOf(v) = until
            val after = StoreManifest.at(stateDir, v)
            if (pending.nonEmpty && before.head != s"numBuckets=${after.numBuckets}")
              note("re-bucket")
            else if (after.buckets.exists { case (b, bv) => bv == v && pending(b) })
              note("threshold")
            check(s"after merge to $until")
            vac.foreach { keep =>
              val v = version
              BucketStateStore.vacuum(spark, stateDir, keep)
              if (version != v) { prefixOf(version) = until; note("vacuum") }
              check(s"after vacuum($keep) at $until")
            }
          }
          Prop(problems.isEmpty) :|
            s"feed=$feed cuts=$cuts vacuums=$vacuums ${problems.mkString("; ")}"
        }
        val params = Test.Parameters.default
          .withMinSuccessfulTests(8)
          .withInitialSeed(Seed(20261018L + numBuckets))
        val result = Test.check(params, prop)
        assert(result.passed, Pretty.pretty(result))
      }
      Seq("threshold", "re-bucket", "vacuum").foreach { e =>
        assert(seen.getOrElse((numBuckets, e), 0) > 0,
          s"no $e compaction while a run was pending: $seen")
      }
    }
  }

  /** (k, x) rows cut into at most 6 batches; after each batch either no
    * vacuum or a vacuum keeping 1 to 3 versions; and one batch, by
    * index, replayed under its own id after a later (or the same) batch.
    */
  private val aggFeedGen = for {
    rows <- Gen.choose(2, 60).flatMap(Gen.listOfN(_, for {
      k <- Gen.choose(0L, KeySpace - 1)
      x <- Gen.choose(-500L, 500L)
    } yield (k, x)))
    cuts <- Gen.choose(0, 5).flatMap(Gen.listOfN(_, Gen.choose(1, rows.size - 1)))
      .map(_.distinct.sorted)
    vacuums <- Gen.listOfN(cuts.size + 1,
      Gen.frequency(2 -> Gen.const(None), 1 -> Gen.choose(1, 3).map(Some(_))))
    replayed <- Gen.choose(0, cuts.size)
    after <- Gen.choose(replayed, cuts.size)
  } yield (rows, cuts, vacuums, replayed, after)

  Seq(1, 4).foreach { numBuckets =>
    test(s"sum and min folds through mergePartials equal one groupBy, with " +
      s"random vacuums and a replayed batch, at numBuckets=$numBuckets") {
      import spark.implicits._
      def partials(rows: Seq[(Long, Long)]) = rows.toDF("k", "x")
        .groupBy("k").agg(sum("x").as("s"), min("x").as("m"))
      def sorted(df: org.apache.spark.sql.DataFrame): Seq[Seq[Any]] =
        df.select("k", "s", "m").orderBy("k").collect().map(_.toSeq).toSeq
      val prop = Prop.forAllNoShrink(aggFeedGen) {
        case (rows, cuts, vacuums, replayed, after) =>
          val stateDir = Files.createTempDirectory("graft_agg_prop").toString
          val bounds = (0 +: cuts) :+ rows.size
          val batches = bounds.zip(bounds.tail).map { case (from, until) =>
            rows.slice(from, until) }
          def fold(bid: Int): Unit = IncrementalAgg.mergePartials(
            partials(batches(bid)), stateDir, Seq("k"),
            Seq(sum(col("s")).as("s"), min(col("m")).as("m")),
            Some(bid.toLong), numBuckets)
          batches.indices.zip(vacuums).foreach { case (bid, vac) =>
            fold(bid)
            if (bid == after) fold(replayed)
            vac.foreach(BucketStateStore.vacuum(spark, stateDir, _))
          }
          val got = sorted(IncrementalAgg.current(spark, stateDir, partials(rows)))
          val want = sorted(partials(rows))
          Prop(got == want) :| s"rows=$rows cuts=$cuts vacuums=$vacuums " +
            s"replayed=$replayed after=$after got=$got want=$want"
      }
      val params = Test.Parameters.default
        .withMinSuccessfulTests(6)
        .withInitialSeed(Seed(20261019L + numBuckets))
      val result = Test.check(params, prop)
      assert(result.passed, Pretty.pretty(result))
    }
  }

  test("an IncrementalAgg batch replayed right after a re-bucket is fenced") {
    import spark.implicits._
    val stateDir = Files.createTempDirectory("graft_agg_grow").toString
    val batch = (0L until 400L).map(i => (i, i)).toDF("k", "x")
    val batchAgg = Seq(count(lit(1)).as("n"), sum(col("x")).as("s"))
    val mergeAgg = Seq(sum(col("n")).as("n"), sum(col("s")).as("s"))
    def fold(bid: Long): Unit = IncrementalAgg.mergeBatch(batch, stateDir,
      Seq("k"), batchAgg, mergeAgg, batchId = Some(bid), numBuckets = 1)
    def totals: (Long, Long) = IncrementalAgg.current(spark, stateDir,
        batch.groupBy("k").agg(batchAgg.head, batchAgg.tail: _*))
      .agg(sum("n"), sum("s")).as[(Long, Long)].head()
    StoreManifest.withTarget(spark, "4k") {
      fold(0L)
      assert(StoreManifest.current(spark, stateDir).numBuckets == 1)
      fold(1L) // 400 keys outgrow one 4 kB bucket: this merge re-buckets
      val grown = StoreManifest.current(spark, stateDir).numBuckets
      assert(grown > 1, "the second fold should re-bucket")
      val v = BucketStateStore.currentVersion(spark, stateDir)
      fold(1L) // crash-replay of the re-bucketing batch
      assert(BucketStateStore.currentVersion(spark, stateDir) == v,
        "a fenced replay publishes nothing")
      assert(totals == (800L, 2L * (0L until 400L).sum),
        "the replay must not double-count")
      fold(2L)
      assert(totals == (1200L, 3L * (0L until 400L).sum))
      assert(StoreManifest.current(spark, stateDir).numBuckets >= grown)
    }
  }
}
