#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. It builds the program and the harness from
source (`build.py`), generates the workload's inputs from the seed, runs
the JVM harness, feeds the CDC workloads' open-loop change stream, checks
the outputs, and prints the metrics. The last stdout line is the result:
`{"correct", "attempted", "failed", "metrics"}` with every end-to-end
metric (`--trace 0`) or every per-layer metric (`--trace 1`). The line
before it is the full record: host fingerprint, seed, load, per-phase
timings, and median, quartiles and n of each metric's samples. See
README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import numpy as np  # noqa: E402
import pyarrow.parquet as pq  # noqa: E402

import build  # noqa: E402
import checks  # noqa: E402
import feed  # noqa: E402
import tables  # noqa: E402

# Offered rate: two thirds of the pump's throughput measured when the
# benchmark was sized (2,000 uniform changes merged in 3.32 s, about 600
# changes/s), so back-to-back batches keep up with headroom; each run's
# record gives the rate as a share of its own catch-up throughput. The
# file period and the op mix are choices (README.md, "Traffic").
CDC = {
    "orders": 150_000,       # rows of the bootstrapped `orders` state
    "rate": 400,             # offered changes per second
    "period_ms": 250,        # one change file per period
    "backlog_s": 8,          # seconds of changes pre-written for catch-up
    "vacuum_every": 3,       # StreamingCdc vacuum cadence, in batches
    "mix": {"update": 0.80, "insert": 0.07, "delete": 0.07, "move": 0.06},
}
WORKLOADS = {
    "cdc_uniform": {"kind": "cdc", "hot": False, "reps": 5},
    "cdc_hot": {"kind": "cdc", "hot": True, "reps": 5},
    "migrate_curation": {"kind": "batch", "sf": 0.05, "reps": 3},
}
TIME_LIMIT_S = 170
OUT = os.path.join(os.getcwd(), ".bench_build")
RECORDS = os.path.join(OUT, "records")
BUILD_S = 0.0     # this invocation's build time
DEADLINE = None   # by when every harness of this invocation must end

END_TO_END = {
    "setup_s": "s", "catchup_per_s": "1/s", "visible_p50_ms": "ms",
    "visible_p99_ms": "ms", "scan_s": "s", "result_mb": "MB",
}
CURATION = ["q03_join_revenue", "q25_minhash_dedup", "q35_embedding_neardup",
            "q103_bpe_merges"]
MIGRATED = tables.ALL[:8]
SPARK = ["jobs", "stages", "tasks", "exec_run_ms", "exec_cpu_ms",
         "sched_delay_ms", "gc_ms", "input_bytes", "output_bytes",
         "shuffle_write_bytes", "spill_bytes", "task_skew"]
PER_LAYER = dict(
    [("pump.batch_ms", "ms"), ("pump.merge_ms", "ms"), ("pump.source_ms", "ms"),
     ("pump.commit_ms", "ms"), ("pump.plan_ms", "ms"), ("pump.self_ms", "ms"),
     ("pump.changes_per_batch", "count"), ("pump.backlog_files", "count"),
     ("store.touched_buckets", "count"), ("store.bytes_written", "bytes"),
     ("store.write_amp", "ratio"), ("store.files_live", "count"),
     ("store.vacuum_ms", "ms"),
     ("cdc.shuffle_bytes", "bytes"), ("cdc.rows_written_per_change", "ratio"),
     ("cdc.replay_ms", "ms"),
     ("migrate.table_ms.lineitem", "ms"), ("migrate.table_ms.orders", "ms"),
     ("migrate.table_ms.events", "ms"), ("migrate.table_ms.small", "ms"),
     ("migrate.write_ms", "ms"), ("migrate.recount_ms", "ms"),
     ("migrate.jobs_per_table", "count"), ("migrate.self_ms", "ms")]
    + [(f"curation.{q}{s}", u) for q in CURATION for s, u in
       (("_s", "s"), (".jobs", "count"), (".shuffle_bytes", "bytes"),
        (".task_skew", "ratio"))]
    + [("curation.self_ms", "ms")]
    + [(f"spark.{n}", "ratio" if n == "task_skew" else "count"
        if n in ("jobs", "stages", "tasks") else
        "bytes" if n.endswith("bytes") else "ms") for n in SPARK]
    + [("gen.late_ms", "ms"), ("gen.changes", "count"),
       ("jvm.heap_peak_mb", "MB"), ("trace.overhead", "ratio")])


def now_ms() -> float:
    return time.time() * 1000.0


STARTED = time.monotonic()
MARKS = {}


def mark(name: str) -> None:
    """Note that run.py phase `name` ended now (s since start)."""
    MARKS[name] = round(time.monotonic() - STARTED, 3)


def summary(xs) -> dict:
    xs = [float(x) for x in xs]
    if not xs:
        return {"median": None, "q1": None, "q3": None, "n": 0}
    q = statistics.quantiles(xs, n=4) if len(xs) > 1 else [xs[0]] * 3
    return {"median": statistics.median(xs), "q1": q[0], "q3": q[2], "n": len(xs)}


def med(xs, default=0.0) -> float:
    xs = [float(x) for x in xs]
    return statistics.median(xs) if xs else default


def percentile(xs, p: float) -> float:
    xs = sorted(xs)
    if not xs:
        return 0.0
    k = (len(xs) - 1) * p
    lo = int(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def host_fingerprint(root: str, jvm: str, spark: str) -> dict:
    mem_kb = 0
    try:
        with open("/proc/meminfo") as f:
            mem_kb = int(next(l for l in f if l.startswith("MemTotal")).split()[1])
    except (OSError, StopIteration):
        pass
    commit = None
    if os.path.exists(os.path.join(root, ".git")):
        try:
            commit = subprocess.run(["git", "rev-parse", "HEAD"], cwd=root,
                                    capture_output=True, text=True,
                                    timeout=10).stdout.strip() or None
        except (OSError, subprocess.SubprocessError):
            pass
    stamp = os.path.join(root, ".bench_build", "classes.stamp")
    return {"cores": cpus(), "mem_gb": round(mem_kb / 1048576, 1), "jvm": jvm,
            "spark": spark, "commit": commit,
            "source_sha256": open(stamp).read() if os.path.exists(stamp) else None}


def cpus() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def jvm_command(root: str, work: str, args: dict) -> list:
    opens = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]
    # no hsperfdata file in the system temp dir: the run writes only
    # inside the checkout
    cmd = ["java", "-Xmx3g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={work}/tmp"]
    for p in opens:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-cp", build.classpath(root), "perfbench.Harness"]
    return cmd + [f"{k}={v}" for k, v in args.items()]


# ---------------------------------------------------------------- inputs

def cdc_inputs(work: str, seed: int, hot: bool):
    rng = np.random.default_rng([seed, tables.ALL.index("orders")])
    snap = feed.snapshot_table(tables.orders_table(rng, CDC["orders"]))
    os.makedirs(os.path.join(work, "snapshot"))
    pq.write_table(snap, os.path.join(work, "snapshot", "part-0.parquet"))
    per_file = CDC["rate"] * CDC["period_ms"] // 1000
    fd = feed.Feed(snap, seed, hot, per_file, CDC["mix"])
    return snap, fd, per_file


def write_file(feed_dir: str, number: int, data: bytes) -> str:
    name = f"part-{number:06d}.parquet"
    tmp = os.path.join(feed_dir, f".{name}.tmp")
    with open(tmp, "wb") as f:
        f.write(data)
    os.replace(tmp, os.path.join(feed_dir, name))
    return name


# -------------------------------------------------------------- workloads

def run_cdc(root, work, seed, seconds, hot, proc_args, log):
    feed_dir = os.path.join(work, "feed")
    os.makedirs(feed_dir)
    snap, fd, per_file = cdc_inputs(work, seed, hot)
    period = CDC["period_ms"]
    n_backlog = CDC["backlog_s"] * 1000 // period
    files, digests = [], []
    for k in range(n_backlog):
        data, _ = fd.file_bytes(k - n_backlog, period)
        files.append({"name": write_file(feed_dir, k, data), "phase": "backlog",
                      "n": per_file, "bytes": len(data)})
        digests.append(hashlib.sha256(data).hexdigest())

    mark("inputs")
    proc = start_harness(root, work, proc_args, log)
    t0 = None
    for line in proc.stdout:
        if line.startswith("LIVE"):
            t0 = now_ms()
            break
    late = []
    if t0 is not None:
        n_live = int(seconds * 1000) // period
        for i in range(n_live):
            data, offsets = fd.file_bytes(i, period)
            due = t0 + (i + 1) * period
            wait = (due - now_ms()) / 1000.0
            if wait > 0:
                time.sleep(wait)
            name = write_file(feed_dir, n_backlog + i, data)
            written = now_ms()
            late.append(written - due)
            files.append({"name": name, "phase": "live", "n": per_file,
                          "bytes": len(data), "written_ms": written,
                          "sched_ms": [t0 + o for o in offsets]})
            digests.append(hashlib.sha256(data).hexdigest())
        with open(os.path.join(work, "feed_done"), "w") as f:
            f.write(str(len(files)))
    proc.stdout.read()
    wait_for(proc)
    mark("harness")
    res = load_result(work)

    # correctness: same seed, same files; state == model == replay
    again = feed.Feed(snap, seed, hot, per_file, CDC["mix"])
    regen = [hashlib.sha256(again.file_bytes(k - n_backlog, period)[0]).hexdigest()
             for k in range(len(files))]
    problems = []
    if regen != digests:
        problems.append("feed files differ when regenerated from the same seed")
    want = fd.model_table()
    mismatched = 0
    for out in ("state", "replay"):
        path = os.path.join(work, "out", out)
        if not os.path.isdir(path):
            problems.append(f"no {out} output")
            mismatched = max(mismatched, len(want["o_orderkey"]))
            continue
        bad = checks.state_mismatches(path, want)
        if bad:
            problems.append(f"{out} differs from the generator's model in {bad} rows")
        mismatched = max(mismatched, bad)

    mark("checks")
    batches = res.get("batches", [])
    commit = {b["batch"]: b["start_ms"] + b["duration_ms"]["triggerExecution"]
              for b in batches}
    of_file = res.get("batch_of_file", {})
    attempted = sum(f["n"] for f in files)
    lost = [f for f in files if of_file.get(f["name"]) not in commit]
    failed = sum(f["n"] for f in lost)
    if lost:
        problems.append(f"{len(lost)} change files never became visible")
    failed = min(attempted, failed + mismatched)

    lat = [commit[of_file[f["name"]]] - s for f in files
           if f["phase"] == "live" and f not in lost for s in f["sched_ms"]]
    backlog_n = sum(f["n"] for f in files if f["phase"] == "backlog")
    samples = {
        "setup_s": [setup_s(res)],
        "catchup_per_s": [backlog_n / (res["catchup_ms"] / 1000.0)]
        if res.get("catchup_ms") else [],
        "visible_p50_ms": lat, "visible_p99_ms": lat,
        "scan_s": [x / 1000.0 for x in res.get("scan_ms", [])],
        "result_mb": [res.get("result_bytes", 0) / 1e6],
    }
    values = {k: med(v) for k, v in samples.items()}
    values["visible_p99_ms"] = percentile(lat, 0.99)
    ctx = {"files": files, "of_file": of_file, "late": late, "batches": batches}
    return res, values, samples, attempted, failed, problems, ctx


def run_batch(root, work, seed, spec, proc_args, log):
    """migrate_curation: rounds of migrateAll plus curation queries."""
    data = os.path.join(work, "data")
    counts = tables.write_tables(data, seed, spec["sf"])
    proc_args["data"] = data
    mark("inputs")
    proc = start_harness(root, work, proc_args, log)
    proc.stdout.read()
    wait_for(proc)
    mark("harness")
    res = load_result(work)
    problems = list(res.get("failures", []))
    attempted = res.get("attempted", 1)
    failed = len(problems)
    if res.get("table_rows") != {t: counts[t] for t in MIGRATED}:
        problems.append(f"migrated source rows {res.get('table_rows')} "
                        f"!= generated {counts}")
        failed += 1
    oracle_file = os.path.join(work, "oracle_sql.json")
    oracle = json.load(open(oracle_file)) if os.path.exists(oracle_file) else {}
    bad = checks.curation_mismatches(data, work, oracle) if oracle else \
        {q: "no oracle" for q in CURATION}
    problems += [f"{q}: {why}" for q, why in bad.items()]
    failed += len(bad)
    mark("checks")
    if "error" in res:
        problems.append(res["error"])
        failed = max(failed, 1)
    rows = sum(counts[t] for t in MIGRATED)
    # per output (table or query result): round start -> output written
    vis = [x for r in res.get("output_ms", []) for x in r]
    samples = {
        "setup_s": [setup_s(res)],
        "catchup_per_s": [rows / (res["catchup_migrate_ms"] / 1000.0)]
        if res.get("catchup_migrate_ms") else [],
        "visible_p50_ms": vis, "visible_p99_ms": vis,
        "scan_s": [x / 1000.0 for x in res.get("scan_ms", [])],
        "result_mb": [res.get("result_bytes", 0) / 1e6],
    }
    values = {k: med(v) for k, v in samples.items()}
    values["visible_p99_ms"] = percentile(vis, 0.99)
    return res, values, samples, attempted, min(failed, attempted), problems, {}


def wait_for(proc) -> None:
    """Wait for the harness; kill it if it outlives the run's deadline."""
    try:
        proc.wait(timeout=max(1.0, DEADLINE - time.monotonic()))
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        raise SystemExit("harness exceeded the run's time limit")


def start_harness(root: str, work: str, proc_args: dict, log):
    # SPARK_LOCAL_DIRS would override the run's own spark.local.dir
    env = {k: v for k, v in os.environ.items()
           if k not in ("SPARK_LOCAL_DIRS", "LOCAL_DIRS")}
    return subprocess.Popen(jvm_command(root, work, proc_args), env=env,
                            stdout=subprocess.PIPE, stderr=log, text=True)


def setup_s(res) -> float:
    """JVM and Spark session start, plus the CDC state bootstrap."""
    return (res.get("session_ms", 0.0) + res.get("bootstrap_ms", 0.0)) / 1000.0


def load_result(work: str) -> dict:
    path = os.path.join(work, "result.json")
    if not os.path.exists(path):
        raise SystemExit("harness wrote no result (see the run log)")
    with open(path) as f:
        return json.load(f)


# ------------------------------------------------------- per-layer metrics

def layer_metrics(workload: str, res: dict, ctx: dict) -> dict:
    """Per-layer samples: metric -> one value per CDC batch, migrated
    table, query or round (a single value for whole-run figures). The
    reported metric is the samples' median; 0 for a layer not touched.
    """
    m = {}
    tr = res.get("trace", {"spans": [], "counts": []})
    counts = {}
    for c in tr["counts"]:
        counts.setdefault(c["scope"], {})[c["name"]] = c["value"]
    spans = tr["spans"]

    def span_ms(name, pred=lambda s: True):
        return [s["end_ms"] - s["start_ms"] for s in spans
                if s["name"] == name and pred(s)]

    def self_ms(name):
        return [s["self_ms"] for s in spans if s["name"] == name]

    # spark.*: per CDC batch, or per batch round summed over its tables
    # and queries (task_skew: the worst stage's)
    scopes = [s for s in counts if s.split(":")[0] in ("batch", "table", "query")]
    units = {}
    for s in scopes:
        units.setdefault(s if s.startswith("batch:") else s.split("#")[1], []).append(s)
    for n in SPARK:
        agg = max if n == "task_skew" else sum
        m[f"spark.{n}"] = [agg(counts[s].get(n, 0.0) for s in ss)
                           for ss in units.values()]
    m["jvm.heap_peak_mb"] = [res.get("heap_peak_mb", 0.0)]

    if workload.startswith("cdc"):
        live = [b for b in ctx["batches"] if b["phase"] == "live"]
        d = [b["duration_ms"] for b in live]
        m["pump.batch_ms"] = [x.get("triggerExecution", 0) for x in d]
        m["pump.merge_ms"] = [x.get("addBatch", 0) for x in d]
        m["pump.source_ms"] = [x.get("latestOffset", 0) + x.get("getBatch", 0) for x in d]
        m["pump.commit_ms"] = [x.get("walCommit", 0) + x.get("commitOffsets", 0) for x in d]
        m["pump.plan_ms"] = [x.get("queryPlanning", 0) for x in d]
        changes, feed_bytes = {}, {}
        for f in ctx["files"]:
            b = ctx["of_file"].get(f["name"])
            changes[b] = changes.get(b, 0) + f["n"]
            feed_bytes[b] = feed_bytes.get(b, 0) + f["bytes"]
        m["pump.changes_per_batch"] = [changes.get(b["batch"], 0) for b in live]
        m["pump.self_ms"] = self_ms("pump.batch")
        m["pump.backlog_files"] = [max((backlog_at(b, ctx) for b in live), default=0)]
        seen = [int(s[6:]) for s in scopes if s.startswith("batch:")]

        def per_batch(name):
            return [counts[f"batch:{b}"].get(name, 0) for b in seen]
        m["store.touched_buckets"] = per_batch("store.touched_buckets")
        m["store.bytes_written"] = per_batch("store.bytes_written")
        m["store.write_amp"] = [counts[f"batch:{b}"].get("store.bytes_written", 0) /
                                feed_bytes[b] for b in seen if feed_bytes.get(b)]
        m["store.files_live"] = [res.get("files_live", 0)]
        m["store.vacuum_ms"] = [res.get("vacuum_ms", 0.0)]
        m["cdc.shuffle_bytes"] = per_batch("shuffle_write_bytes")
        m["cdc.rows_written_per_change"] = [
            counts[f"batch:{b}"].get("output_rows", 0) / changes[b] for b in seen
            if changes.get(b)]
        m["cdc.replay_ms"] = [res.get("replay_ms", 0.0)]
        m["gen.late_ms"] = [percentile(ctx["late"], 0.99)]
        m["gen.changes"] = [sum(f["n"] for f in ctx["files"])]
    else:
        def table_of(s):
            return s["scope"].split(":")[1].split("#")[0]
        for t in ("lineitem", "orders", "events"):
            m[f"migrate.table_ms.{t}"] = span_ms(
                "migrate.table", lambda s, t=t: table_of(s) == t)
        small, write, recount = {}, {}, {}
        for s in spans:
            if not s["scope"].startswith("table:"):
                continue
            r = s["scope"].split("#")[1]
            if s["name"] == "migrate.table" and table_of(s) not in (
                    "lineitem", "orders", "events"):
                small[r] = small.get(r, 0.0) + s["end_ms"] - s["start_ms"]
            # per table: the job that wrote output, and the recount jobs
            # that started after it ended; summed per round
            if s["name"] == "spark.job.write":
                write[r] = write.get(r, 0.0) + s["end_ms"] - s["start_ms"]
                recount[r] = recount.get(r, 0.0) + sum(
                    j["end_ms"] - j["start_ms"] for j in spans
                    if j["name"] == "spark.job" and j["scope"] == s["scope"]
                    and j["start_ms"] >= s["end_ms"])
        m["migrate.table_ms.small"] = list(small.values())
        m["migrate.write_ms"] = list(write.values())
        m["migrate.recount_ms"] = list(recount.values())
        m["migrate.jobs_per_table"] = [counts[s].get("jobs", 0) for s in scopes
                                       if s.startswith("table:")]
        m["migrate.self_ms"] = self_ms("migrate.table")
        for q in CURATION:
            qs = [s for s in scopes if s.startswith(f"query:{q}#")]
            m[f"curation.{q}_s"] = [x / 1000.0 for x in span_ms(
                "curation.query", lambda s, q=q: s["scope"].startswith(f"query:{q}#"))]
            m[f"curation.{q}.jobs"] = [counts[s].get("jobs", 0) for s in qs]
            m[f"curation.{q}.shuffle_bytes"] = [counts[s].get("shuffle_write_bytes", 0)
                                                for s in qs]
            m[f"curation.{q}.task_skew"] = [counts[s].get("task_skew", 0) for s in qs]
        m["curation.self_ms"] = self_ms("curation.query")
    return m


def unit_ms(res: dict) -> float:
    """Median wall time of the timed phase's units: live micro-batches
    (CDC) or rounds (batch).
    """
    live = [b["duration_ms"].get("triggerExecution", 0)
            for b in res.get("batches", []) if b["phase"] == "live"]
    return med(live or res.get("round_ms", []))


def untraced_unit_ms(root: str, a, digest) -> list:
    """(seed, `unit_ms`) of the correct untraced runs of this workload
    and build whose records are in `.bench_build/records/`: those with
    this seed, else those with any seed. Runs one with this seed first if
    there is none.
    """
    def found():
        recs = []
        for f in sorted(os.listdir(RECORDS)) if os.path.isdir(RECORDS) else []:
            if f.endswith(".trace.json") or not f.endswith(".json"):
                continue
            with open(os.path.join(RECORDS, f)) as fh:
                r = json.load(fh)
            if (r.get("workload") == a.workload and r.get("trace") == 0
                    and r.get("correct") and r.get("unit_ms")
                    and r["host"].get("source_sha256") == digest):
                recs.append(r)
        same = [r for r in recs if r["seed"] == a.seed]
        return [(r["seed"], r["unit_ms"]) for r in same or recs]
    if not found():
        measure(root, a, 0)
    return found()


def backlog_at(batch: dict, ctx: dict) -> int:
    """Change files already written but not yet read when `batch` began."""
    start = batch["start_ms"]
    n = 0
    for f in ctx["files"]:
        b = ctx["of_file"].get(f["name"])
        if f.get("written_ms", 0) <= start and (b is None or b >= batch["batch"]):
            n += 1
    return n


# ------------------------------------------------------------------- main

def measure(root: str, a, trace: int):
    """One run of the workload with tracing on or off. Writes its record
    to `.bench_build/records/` and returns the record, the harness result,
    the metric samples and the check context.
    """
    spec = WORKLOADS[a.workload]
    work = os.path.join(OUT, "runs", f"{a.workload}-{a.seed}-{trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    log = open(os.path.join(work, "harness.log"), "w")
    proc_args = {"workload": a.workload, "work": work, "seconds": a.seconds,
                 "trace": trace, "cores": cpus(), "reps": spec["reps"],
                 "vacuum_every": CDC["vacuum_every"]}
    try:
        if spec["kind"] == "cdc":
            res, values, samples, attempted, failed, problems, ctx = run_cdc(
                root, work, a.seed, a.seconds, spec["hot"], proc_args, log)
        else:
            res, values, samples, attempted, failed, problems, ctx = run_batch(
                root, work, a.seed, spec, proc_args, log)
    finally:
        log.close()
    if "error" in res and res["error"] not in problems:
        problems.append(res["error"])
    correct = not problems
    if spec["kind"] == "cdc":
        load = (f"open loop, {CDC['rate']} changes/s, "
                f"{CDC['rate'] / values['catchup_per_s']:.2f} of this run's "
                f"catch-up throughput" if values.get("catchup_per_s")
                else f"open loop, {CDC['rate']} changes/s")
    else:
        load = "closed loop, one client"
    record = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds,
        "trace": trace, "build_s": BUILD_S,
        "wall_s": round(time.monotonic() - STARTED, 3), "marks_s": dict(MARKS),
        "load": load,
        "host": host_fingerprint(root, res.get("jvm"), res.get("spark_version")),
        "correct": correct, "attempted": attempted, "failed": failed,
        "problems": problems,
        "phase_end_ms": res.get("phase_end_ms"),
        "batch_ms": [(b["phase"], b["batch"], b["duration_ms"].get("triggerExecution"))
                     for b in res.get("batches", [])],
        "unit_ms": unit_ms(res),
        "samples": {k: summary(v) for k, v in samples.items()},
        "metrics": {k: {"value": float(values[k]), "unit": u}
                    for k, u in END_TO_END.items()},
    }
    os.makedirs(RECORDS, exist_ok=True)
    name = os.path.join(RECORDS, os.path.basename(work))
    with open(name + ".json", "w") as f:
        json.dump(record, f, indent=1)
    if trace and "trace" in res:
        with open(name + ".trace.json", "w") as f:
            json.dump(res["trace"], f)
    if correct:
        shutil.rmtree(work, ignore_errors=True)
    else:
        print("FAILED: " + "; ".join(problems) + f" (run dir kept: {work})",
              file=sys.stderr)
    return record, res, ctx


def main() -> int:
    global BUILD_S, DEADLINE
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    root = os.getcwd()
    BUILD_S = round(build.build(root), 3)
    mark("build")
    DEADLINE = time.monotonic() + TIME_LIMIT_S - 10
    if not a.trace:
        record, _, _ = measure(root, a, 0)
    else:
        # trace.overhead: this traced run's median unit wall time over
        # that of untraced runs of the same inputs
        digest = host_fingerprint(root, None, None)["source_sha256"]
        base = untraced_unit_ms(root, a, digest)
        record, res, ctx = measure(root, a, 1)
        samples = layer_metrics(a.workload, res, ctx)
        if base and record["unit_ms"]:
            samples["trace.overhead"] = [
                record["unit_ms"] / med([u for _, u in base])]
        record["untraced_unit_ms"] = base
        record["layer_samples"] = {k: summary(v) for k, v in samples.items()}
        record["metrics"] = {k: {"value": med(samples.get(k, [])), "unit": u}
                             for k, u in PER_LAYER.items()}
    print(json.dumps(record))
    print(json.dumps({"correct": record["correct"], "attempted": record["attempted"],
                      "failed": record["failed"], "metrics": record["metrics"]}))
    return 0 if record["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
