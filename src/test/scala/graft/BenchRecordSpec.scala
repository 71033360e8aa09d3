package graft

import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths}

/** The fork-isolated bench coordinator re-reads shard records written
  * by its own child JVMs; this pins the write→parse roundtrip,
  * including the hostile-value cases (braces and quotes inside error
  * messages) that would break a naive first-'}' scan.
  */
class BenchRecordSpec extends AnyFunSuite {

  private def roundtrip(results: Seq[(String, Double)],
                        errors: Seq[(String, String)]): (Map[String, Double], Map[String, String]) = {
    val f = Files.createTempFile("bench-rec", ".json")
    try {
      Bench.writeRecord(f.toString, results, errors, "testdata/sf0.01")
      val line = Files.readString(f)
      // every record names its cores, after "sf": the errors section
      // still ends at `},"sf":`
      assert(line.contains(
        s"""},"sf":"testdata/sf0.01","cpus":${Sessions.cpus}}"""), line)
      Bench.parseRecord(line)
    } finally Files.deleteIfExists(f)
  }

  test("clean record roundtrips at the 3-decimal wire precision") {
    // seconds are written at millisecond precision: the 9-digit
    // nanosecond tail was ~40% of a 69-query record line and overflowed
    // the driver's tail-capture window (round-14 parsed=null)
    val (qs, errs) = roundtrip(
      Seq("q01_pricing_summary" -> 1.234567891, "q92_copurchase_rank" -> 5.6),
      Seq.empty)
    assert(qs === Map("q01_pricing_summary" -> 1.235, "q92_copurchase_rank" -> 5.6))
    assert(errs.isEmpty)
  }

  test("fmt3 rounds half-up and keeps the failure sentinel readable") {
    assert(Bench.fmt3(1.234567891) === "1.235")
    assert(Bench.fmt3(0.0005) === "0.001")
    assert(Bench.fmt3(-1.0) === "-1.000")
    assert(Bench.fmt3(152.4) === "152.400")
  }

  test("summary line stays under 200 bytes and carries the headline") {
    val line = Bench.summaryLine(
      Seq("q01" -> 1.5, "q02" -> 2.25, "q03" -> -1.0),
      nErrs = 1, mode = "full-reps3")
    assert(line.length <= 200, s"summary too long: ${line.length}")
    assert(line.contains(""""value":3.750"""))
    assert(line.contains(""""total":3.750"""))
    assert(line.contains(""""n":3"""))
    assert(line.contains(""""errs":1"""))
    assert(line.contains(""""mode":"full-reps3""""))
    // the summary still satisfies the driver's record-line contract
    assert(line.startsWith("""{"metric":"total","value":"""))
    assert(line.contains(""""unit":"sec""""))
    assert(line.endsWith(""""summary":true}"""))
  }

  test("error messages with braces, quotes, and newlines survive the roundtrip") {
    val msg = """AnalysisException: cannot resolve "{x}" given {a, b}
near line 2"""
    val (qs, errs) = roundtrip(
      Seq("q10_intersect" -> -1.0, "q12_topk" -> 0.5),
      Seq("q10_intersect" -> msg))
    assert(qs === Map("q10_intersect" -> -1.0, "q12_topk" -> 0.5))
    assert(errs === Map("q10_intersect" -> msg))
  }

  test("failed-shard sentinel (-1 with shard-level message) parses") {
    val (qs, errs) = roundtrip(
      Seq("q44_repetition" -> -1.0),
      Seq("q44_repetition" -> "shard timeout after 1800s"))
    assert(qs("q44_repetition") === -1.0)
    assert(errs("q44_repetition") === "shard timeout after 1800s")
  }

  test("hostile escape shapes roundtrip: literal backslash-n, control chars, trailing backslash") {
    // chained String.replace unescaping corrupted exactly these:
    // a literal \n in the TEXT (backslash + 'n', not a newline) and
    // \u-escaped control characters
    val hostile = Seq(
      "literal\\nbackslash-n stays two chars",
      "tab\there and bell\u0007there",
      "quote\"brace}backslash\\mix",
      "ends with backslash\\")
    hostile.zipWithIndex.foreach { case (msg, i) =>
      val (_, errs) = roundtrip(Seq(s"q$i" -> -1.0), Seq(s"q$i" -> msg))
      assert(errs(s"q$i") === msg, s"case $i corrupted: ${errs(s"q$i")}")
    }
  }

  test("shard arguments carry the names, record path and reps-1 flag") {
    val names = Seq("q92_copurchase_rank", "q01_pricing_summary")
    Seq(true, false).foreach { reps1 =>
      val args = Bench.shardArgs("shards/shard3.json", names, reps1)
      assert(Bench.plan(args, Map.empty) ===
        Bench.Shard("shards/shard3.json", names, reps1))
    }
  }

  test("a user's ONLY, TIER or PAIR cannot change what a shard runs") {
    val env = Map(
      "SPARK_GRAFT_BENCH_ONLY" -> "q01_pricing_summary",
      "SPARK_GRAFT_BENCH_TIER" -> "full",
      "SPARK_GRAFT_BENCH_PAIR" -> "other.json")
    val args = Bench.shardArgs("shards/shard0.json",
      Seq("q92_copurchase_rank"), reps1 = false)
    assert(Bench.plan(args, env) ===
      Bench.Shard("shards/shard0.json", Seq("q92_copurchase_rank"), false))
    assert(Bench.plan(args, env + ("SPARK_GRAFT_BENCH_TIER" -> "bogus")) ===
      Bench.plan(args, Map.empty))
    // the same env does steer a sweep
    assert(Bench.plan(Seq("out.json"), env) === Bench.Sweep("out.json",
      Seq("q01_pricing_summary"), "full", Some("other.json")))
  }

  test("childVmArgs keeps heap/opens/spark props, drops launcher baggage") {
    val kept = Bench.childVmArgs(Seq(
      "-Xmx8g", "-Xss4m", "-XX:+UseG1GC",
      "--add-opens=java.base/java.nio=ALL-UNNAMED",
      "-Dspark.local.dir=/tmp/x", "-Dgraft.foo=1",
      "-agentlib:jdwp=transport=dt_socket,address=5005",
      "-Dsbt.script=/usr/bin/sbt", "-Dfile.encoding=UTF-8",
      "-javaagent:/opt/ide/debugger.jar"))
    assert(kept === Seq(
      "-Xmx8g", "-Xss4m", "-XX:+UseG1GC",
      "--add-opens=java.base/java.nio=ALL-UNNAMED",
      "-Dspark.local.dir=/tmp/x", "-Dgraft.foo=1"))
  }
}
