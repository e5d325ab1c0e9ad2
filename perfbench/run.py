#!/usr/bin/env python3
"""Benchmark of the paper's pipeline: payload landing zone -> typed raw
tables -> 5-minute avg_info rows, as a batch job and as a stream.

    python3 perfbench/run.py --workload btc_backfill --seed 1 --seconds 30 --trace 0

Run it from the root of a checkout. It compiles the program's sources
together with the JVM harness in perfbench/src (the first run only; the
classes are cached under .bench_build/ and rebuilt when a source changes),
generates the workload's inputs from --seed, measures for --seconds, checks
every output against an independent model (model.py), and prints one line
per metric followed by one JSON object as the last line of stdout.

Workloads (see BENCHMARK.json for why each exists):
  btc_backfill  closed loop, one caller: ingest -> appendRaw x2 -> read
                back -> avgInfo -> appendAvgInfo over a fixed landing zone.
  btc_stream    open loop: avgInfoStream replays pre-landed zones at fixed
                rates through the source's admission control
                (maxFilesPerTrigger per trigger interval): a nominal-rate
                segment, then a backlog drained at full speed.

--trace 0 reports the end-to-end metrics; --trace 1 records spans around
every public call and Spark job and reports the per-layer metrics
(including the end-to-end ones as measured with tracing on, under
`traced.`), and writes the spans to .bench_build/traces/. A traced
btc_backfill run also times a few declared operator-pack queries
(SparkEntry.queries) over a seeded corpus (corpus.py) after its timed part,
and checks each against its DuckDB oracle.
"""

import argparse
import hashlib
import json
import math
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import corpus  # noqa: E402
import gen     # noqa: E402
import model   # noqa: E402

WORKLOADS = ("btc_backfill", "btc_stream")
CORES = max(1, min(4, (os.cpu_count() or 2) - 1))  # one core left for scheduling, JIT and GC

BACKFILL_PAYLOADS = 4000
BACKFILL_WARM_ITERATIONS = 3         # untimed, part of set-up: lets the JIT settle

STREAM_WARM_FILES = 4000
STREAM_WARM_BATCH = 500
STREAM_TRIGGER_MS = 1000             # trigger interval of the nominal-rate replay
STREAM_NOMINAL_RATE = 250            # payloads/s
STREAM_NOMINAL_SHARE = 0.6           # of --seconds
STREAM_LEAD_IN = 2                   # nominal batches left out of the lag figures
# files a trigger admits while draining a backlog: the knee of the batch
# cost, where a batch's fixed cost (about 0.5 s) and its per-file cost are
# about equal (BASELINE.md)
STREAM_DRAIN_BATCH = 4000
STREAM_DRAIN_FILES_PER_S = 800       # drain zone size, per second of --seconds

# the declared operator-pack queries a traced btc_backfill run measures on
# a seeded corpus (corpus.py), each checked against its DuckDB oracle
OPS = ("q_agg_avg_window5m", "q_dedup_exact", "q_search_index")
OP_WARM_CALLS = 5


def _metrics():
    """(name, unit) of the end-to-end and per-layer metrics, from BENCHMARK.json."""
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
        spec = json.load(f)
    return ([(m["name"], m["unit"]) for m in spec["end_to_end"]],
            [(m["name"], m["unit"]) for m in spec["per_layer"]])


END_TO_END, PER_LAYER = _metrics()


def jvm_timeout_s(seconds):
    """Set-up (about 30 s) plus the measured part, with room for a slow machine."""
    return 90 + 2 * seconds


ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


class BenchError(Exception):
    pass


# ------------------------------------------------------------------ build

def _source_files(root):
    trees = [os.path.join(root, "src", "main", "scala"), os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for t in trees:
        for d, _, fs in os.walk(t):
            files += [os.path.join(d, f) for f in fs]
    return sorted(files)


def build(root):
    """Compile once per source state; returns the classes directory."""
    out = os.path.join(os.path.abspath(root), ".bench_build")
    classes = os.path.join(out, "sbt", "scala-2.13", "classes")
    h = hashlib.sha256()
    for f in _source_files(root):
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    stamp = h.hexdigest()
    stamp_file = os.path.join(out, "build.stamp")
    if os.path.isdir(classes) and os.path.isfile(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                return classes
    os.makedirs(out, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Xmx2g" + (
        f" -Dsbt.override.build.repos=true -Dsbt.repository.config={repos}"
        if os.path.isfile(repos) else ""))
    log = os.path.join(out, "build.log")
    with open(log, "w") as lf:
        rc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"],
                            cwd=HERE, env=env, stdout=lf, stderr=subprocess.STDOUT,
                            stdin=subprocess.DEVNULL, timeout=840).returncode
    if rc != 0 or not os.path.isdir(classes):
        with open(log) as lf:
            sys.stderr.write(lf.read()[-4000:])
        raise BenchError(f"build failed (exit {rc}); log in {log}")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return classes


# -------------------------------------------------------------------- JVM

def heap_mb():
    """JVM heap pinned from MemTotal: an eighth of it, 1-3 GiB."""
    with open("/proc/meminfo") as f:
        kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
    return max(1024, min(3072, kb // 1024 // 8))


def run_jvm(classes, plan, rundir):
    """Runs the harness on `plan` and returns its result."""
    spark_home = os.environ.get("SPARK_HOME")
    if not spark_home:
        raise BenchError("SPARK_HOME is not set")
    plan_path = os.path.join(rundir, "plan.json")
    with open(plan_path, "w") as f:
        json.dump(plan, f)
    work = os.path.join(rundir, "cwd")   # queries' relative target/ lands here
    tmp = os.path.join(rundir, "tmp")    # Spark's scratch space, inside the checkout
    os.makedirs(work, exist_ok=True)
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", f"-Xmx{heap_mb()}m", "-XX:ReservedCodeCacheSize=512m",
           "-XX:-UsePerfData",           # no hsperfdata file under /tmp
           f"-Djava.io.tmpdir={tmp}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-Dspark.ui.enabled=false",
            f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
            "-cp", f"{classes}{os.pathsep}{os.path.join(spark_home, 'jars', '*')}",
            "perfbench.Harness", plan_path]
    with open(os.path.join(rundir, "jvm.log"), "w") as log:
        proc = subprocess.Popen(cmd, cwd=work, stdin=subprocess.DEVNULL, stdout=log,
                                stderr=subprocess.STDOUT)
        try:
            rc = proc.wait(timeout=jvm_timeout_s(plan.get("seconds", 30)))
        except subprocess.TimeoutExpired:
            rc = None
        finally:
            if proc.poll() is None:
                proc.kill()
            proc.wait()
    if rc != 0 or not os.path.isfile(plan["result"]):
        with open(os.path.join(rundir, "jvm.log")) as f:
            lines = [l for l in f if not l.lstrip().startswith(("at ", "..."))]
        sys.stderr.write("".join(lines[-60:]))
        raise BenchError(f"harness JVM failed (exit {rc})")
    with open(plan["result"]) as f:
        return json.load(f)


# ------------------------------------------------------------ btc_backfill

def run_backfill(args, classes, rundir, t_setup0):
    payloads = gen.generate(args.seed, BACKFILL_PAYLOADS)
    zone = os.path.join(rundir, "zone")
    gen.write_zone(payloads, zone)
    plan = {"workload": "btc_backfill", "zone": zone, "work": os.path.join(rundir, "out"),
            "seconds": args.seconds, "warm_iterations": BACKFILL_WARM_ITERATIONS,
            "trace": bool(args.trace), "cores": CORES,
            "result": os.path.join(rundir, "result.json")}
    if args.trace:
        plan.update(corpus=os.path.join(rundir, "corpus"), ops=OPS, op_warm_calls=OP_WARM_CALLS)
        corpus.write(args.seed, plan["corpus"])
    res = run_jvm(classes, plan, rundir)

    expected = [list(r) for r in model.avg_info(payloads)]
    its = res["iterations"]
    failed = 0
    for it in its:
        if "error" in it:
            print(f"iteration {it['run']} failed: {it['error']}", file=sys.stderr)
            failed += 1
        elif it["rows"] != expected:
            print(f"iteration {it['run']}: avg_info differs from the model "
                  f"({len(it['rows'])} rows, expected {len(expected)})", file=sys.stderr)
            failed += 1
    timed = [it for it in its if not it["run"].startswith("warm") and "error" not in it]
    if not timed:
        raise BenchError("no timed iteration completed")
    walls = [it["end_ms"] - it["start_ms"] for it in timed]
    n = len(payloads)
    # every payload of an iteration lands before it starts and is committed
    # when appendAvgInfo returns, so its lag is the iteration's wall time
    per_payload = [w for w in walls for _ in range(n)]
    e2e = {"setup_s": res["first_op_ms"] / 1000.0 - t_setup0,
           "lag_p50_ms": model.median(walls),
           "sustained_pps": n / (model.median(walls) / 1000.0)}
    layers = spans = None
    attempted = len(its)
    if args.trace:
        failed += check_probe(res, payloads)
        layers, spans = backfill_layers(res, timed, n)
        layers["lag.p99_ms"] = model.quantile(per_payload, 0.99)
        layers.update(op_layers(res))
        attempted += len(OPS)
        failed += sum(1 for q in OPS if not op_correct(q, res["ops"][q], plan["corpus"]))
    return e2e, layers, spans, attempted, failed


def op_correct(q, rec, corpus_dir):
    """The op's rows equal its DuckDB oracle's, column by column by name and
    row by row in order."""
    if "error" in rec:
        print(f"{q} failed: {rec['error']}", file=sys.stderr)
        return False
    if "oracle" not in rec:
        print(f"{q}: no oracle declared", file=sys.stderr)
        return False
    cols, rows = corpus.oracle_rows(corpus_dir, rec["oracle"])
    if sorted(cols) != sorted(rec["columns"]):
        print(f"{q}: columns {rec['columns']}, oracle {cols}", file=sys.stderr)
        return False
    order = [rec["columns"].index(c) for c in cols]
    got = [[r[i] for i in order] for r in rec["rows"]]
    if len(got) != len(rows) or not all(map(model.same_row, got, rows)):
        print(f"{q}: {len(got)} rows differ from the oracle's {len(rows)}", file=sys.stderr)
        return False
    return True


def op_layers(res):
    """op.<query>.cold_s (first call in the process), op.<query>.s (median
    warm call), and the operator layer's self time per warm pass."""
    out = {}
    for q in OPS:
        ms = res["ops"][q].get("ms") or [0.0]
        out[f"op.{q}.cold_s"] = ms[0] / 1000.0
        out[f"op.{q}.s"] = model.median(ms[1:] or ms) / 1000.0
    warm = [s for s in res["spans"] if s["run"].startswith("op.") and not s["run"].endswith(".0")]
    run_of = {s["id"]: s["run"] for s in warm}
    jobs = [j for j in res["jobs"] if j["span"] in run_of]
    selfs = model.self_times(warm + job_spans(jobs, lambda j: j["span"]))
    out["self.operators_s"] = selfs.get("operators", 0.0) / 1000.0 / OP_WARM_CALLS
    return out


def check_probe(res, payloads):
    errors = sum(1 for p in payloads if p.kind == "error")
    got = res["probe"].get("error", 0)
    if got != errors:
        print(f"payload source gave {got} error rows, expected {errors}", file=sys.stderr)
        return 1
    return 0


def job_totals(jobs):
    return {"spark.jobs": len(jobs),
            "spark.tasks": sum(j["tasks"] for j in jobs),
            "run_ms": sum(j["run_ms"] for j in jobs),
            "spark.gc_s": sum(j["gc_ms"] for j in jobs) / 1000.0,
            "spark.shuffle_bytes": sum(j["shuffle_bytes"] for j in jobs),
            "spark.spill_bytes": sum(j["spill_bytes"] for j in jobs),
            "spark.output_bytes": sum(j["output_bytes"] for j in jobs),
            "scan_tasks": sum(j["scan_tasks"] for j in jobs),
            "scan_records": sum(j["scan_records"] for j in jobs)}


def job_spans(jobs, parent_of):
    return [{"id": f"job{j['id']}", "name": f"job {j['id']}", "layer": "spark",
             "parent": parent_of(j), "start": float(j["start"]), "end": float(j["end"])}
            for j in jobs if j["end"] > 0]


def backfill_layers(res, timed, n):
    spans = res["spans"]
    run_of = {s["id"]: s["run"] for s in spans}
    per_it = []
    for it in timed:
        mine = [s for s in spans if s["run"] == it["run"]]
        jobs = [j for j in res["jobs"] if run_of.get(j["span"]) == it["run"]]
        wall_ms = it["end_ms"] - it["start_ms"]
        t = job_totals(jobs)
        dur = {s["name"]: (s["end"] - s["start"]) / 1000.0 for s in mine}
        selfs = model.self_times(mine + job_spans(jobs, lambda j: j["span"]))
        row = {k: v for k, v in t.items() if k.startswith("spark.")}
        row.update({
            "sources.records_read_per_payload": t["scan_records"] / n,
            "sources.input_partitions": t["scan_tasks"],
            "api.append_raw_s": dur["appendRaw.price"] + dur["appendRaw.hashrate"],
            "api.avg_info_s": dur["avgInfo"],
            "api.append_avg_info_s": dur["appendAvgInfo"],
            "api.sink_files": it["sink_files"], "api.sink_bytes": it["sink_bytes"],
            "api.sink_bytes_per_payload": it["sink_bytes"] / n,
            "spark.task_busy_ratio": t["run_ms"] / (wall_ms * CORES)})
        for layer, ms in selfs.items():
            row[f"self.{layer}_s"] = ms / 1000.0
        per_it.append(row)
    keys = {k for r in per_it for k in r}
    out = {k: model.median([r.get(k, 0.0) for r in per_it]) for k in keys}
    out.update(probe_layers(res))
    return out, spans + job_spans(res["jobs"], lambda j: j["span"])


def probe_layers(res):
    return {"sources.scan_s": res["probe"]["scan_ms"] / 1000.0,
            "sources.error_rows": res["probe"].get("error", 0),
            "mem.rss_peak_mb": res["rss_peak_kb"] / 1024.0}


# -------------------------------------------------------------- btc_stream

def run_stream(args, classes, rundir, t_setup0):
    nominal_n = int(STREAM_NOMINAL_RATE * args.seconds * STREAM_NOMINAL_SHARE)
    drain_n = int(STREAM_DRAIN_FILES_PER_S * args.seconds)
    payloads = gen.generate(args.seed, nominal_n + drain_n)
    segs = [("warm", gen.generate(args.seed + 7919, STREAM_WARM_FILES), STREAM_WARM_BATCH, 0),
            ("nominal", payloads[:nominal_n],
             STREAM_NOMINAL_RATE * STREAM_TRIGGER_MS // 1000, STREAM_TRIGGER_MS),
            ("drain", payloads[nominal_n:], STREAM_DRAIN_BATCH, 0)]
    plan_segs = []
    for name, part, max_files, interval in segs:
        zone = os.path.join(rundir, name)
        gen.write_zone(part, zone)
        plan_segs.append({"name": name, "zone": zone, "files": len(part),
                          "ckpt": os.path.join(rundir, name + "_ckpt"),
                          "max_files": max_files, "interval_ms": interval})
    plan = {"workload": "btc_stream", "segments": plan_segs, "seconds": args.seconds,
            "segment_timeout_s": 30 + args.seconds, "probe_zone": plan_segs[-1]["zone"], "trace": bool(args.trace),
            "cores": CORES, "result": os.path.join(rundir, "result.json")}
    res = run_jvm(classes, plan, rundir)

    progress = {}
    for p in res["progress"]:
        progress.setdefault(p["name"], []).append(p)
    failed, ranges = 0, {}
    for (name, part, _, _), rec in zip(segs, res["segments"]):
        prog = progress[name] = sorted(progress.get(name, []), key=lambda p: p["batchId"])
        ranges[name] = model.batch_ranges(prog)
        bad = model.admission_errors(ranges[name], len(part))
        if "error" in rec:
            print(f"segment {name} failed: {rec['error']}", file=sys.stderr)
            bad = max(bad, 1)
        elif bad:
            print(f"segment {name}: {bad} payloads not admitted exactly once", file=sys.stderr)
        failed += bad + check_stream_rows(name, rec["rows"], prog, part)
    raise_if_unmeasurable(ranges)

    # a query's first batch pays its start-up and can push the next one off
    # the trigger grid; the schedule starts after that lead-in, and the
    # drain rate is taken after the drain's first batch
    lags = nominal_lags(ranges["nominal"], plan_segs[1]["max_files"])
    e2e = {"setup_s": res["first_op_ms"] / 1000.0 - t_setup0,
           "lag_p50_ms": model.median(lags),
           "sustained_pps": drain_rate(ranges["drain"])}
    layers = spans = None
    if args.trace:
        failed += check_probe(res, segs[-1][1])
        rec = dict(zip((s[0] for s in segs), res["segments"]))
        layers, spans = stream_layers(res, progress, ranges, rec["nominal"], nominal_n)
        layers["lag.p99_ms"] = model.quantile(lags, 0.99)
    return e2e, layers, spans, sum(len(part) for _, part, _, _ in segs), failed


def drain_rate(drain):
    """Files per second over the drain after its first batch: the files of
    batches 2..n over the time from the end of batch 1 to the end of batch n."""
    (_, a, _, e0), (_, b, _, e1) = drain[0], drain[-1]
    return (b - a) * 1000.0 / (e1 - e0)


def nominal_lags(nom, per_trigger):
    """Lags of the files admitted after the lead-in. Processing-time
    triggers are due on multiples of the interval; the schedule's first
    trigger is the slot in which the first batch after the lead-in began."""
    a = nom[STREAM_LEAD_IN][0]
    due = model.slot_ms(nom[-1][1] - a, per_trigger, STREAM_TRIGGER_MS, first_slot(nom))
    shifted = [(x - a, y - a, s, e) for x, y, s, e in nom[STREAM_LEAD_IN:]]
    return [x for x in model.lags_ms(due, shifted) if x is not None]


def first_slot(nom):
    return math.floor(nom[STREAM_LEAD_IN][2] / STREAM_TRIGGER_MS) * STREAM_TRIGGER_MS


def raise_if_unmeasurable(ranges):
    if len(ranges.get("nominal", [])) <= STREAM_LEAD_IN or len(ranges.get("drain", [])) < 2:
        raise BenchError("the stream admitted too few batches to measure")


def check_stream_rows(name, rows, prog, payloads):
    """Every emitted window matches the model and is emitted once, and every
    window that closed under the segment's last watermark was emitted."""
    expected = model.avg_info_stream(payloads)
    rows = [tuple(r) for r in rows]
    wm = max([model.parse_ts_ms(p["eventTime"]["watermark"]) / 1000.0
              for p in prog if "watermark" in p.get("eventTime", {})], default=0.0)
    bad = 0
    if len({r[0] for r in rows}) != len(rows):
        print(f"segment {name}: a window was emitted twice", file=sys.stderr)
        bad += 1
    for r in rows:
        if expected.get(r[0]) != r:
            print(f"segment {name}: window {r[0]} is {r}, expected {expected.get(r[0])}",
                  file=sys.stderr)
            bad += 1
    emitted = {r[0] for r in rows}
    missing = [w for w in expected if w + gen.WINDOW_S < wm and w not in emitted]
    if missing:
        print(f"segment {name}: {len(missing)} closed windows were not emitted",
              file=sys.stderr)
        bad += len(missing)
    return bad


def stream_layers(res, progress, ranges, rec, n):
    """Per-layer numbers over the nominal-rate segment after its first
    batch; the listing cost of the largest zone from the drain's last batch."""
    prog = progress["nominal"]
    data = [p for p in prog if p["numInputRows"] > 0][STREAM_LEAD_IN:]
    dur = lambda key, ps: [p["durationMs"].get(key, 0) for p in ps]
    state = (prog[-1].get("stateOperators") or [{}])[0]
    nom = ranges["nominal"][STREAM_LEAD_IN:]
    jobs = [j for j in res["jobs"] if rec["start_ms"] <= j["start"] <= rec["end_ms"]]
    t = job_totals(jobs)
    spans = stream_spans(prog, jobs)
    out = {k: v for k, v in t.items() if k.startswith("spark.")}
    out.update({
        "sources.records_read_per_payload": t["scan_records"] / n,
        "sources.input_partitions": t["scan_tasks"],
        "stream.batches": len(prog),
        "stream.batch_ms_p50": model.median(dur("triggerExecution", data)),
        "stream.latest_offset_ms_p50": model.median(dur("latestOffset", data)),
        "stream.latest_offset_ms_last": dur("latestOffset", [
            p for p in progress["drain"] if p["numInputRows"] > 0])[-1],
        "stream.add_batch_ms_p50": model.median(dur("addBatch", data)),
        "stream.wal_commit_ms_p50": model.median(dur("walCommit", data)),
        "stream.files_per_batch_p50": model.median([p["numInputRows"] for p in data]),
        "stream.trigger_late_ms_max": max(
            s - first_slot(ranges["nominal"]) - k * STREAM_TRIGGER_MS
            for k, (_, _, s, _) in enumerate(nom)),
        "stream.state_rows": state.get("numRowsTotal", 0),
        "stream.state_mem_bytes": state.get("memoryUsedBytes", 0),
        "spark.task_busy_ratio": t["run_ms"] / ((rec["end_ms"] - rec["start_ms"]) * CORES),
    })
    for layer, ms in model.self_times(spans).items():
        out[f"self.{layer.replace('.', '_')}_s"] = ms / 1000.0
    out.update(probe_layers(res))
    return out, spans


# order in which MicroBatchExecution runs the phases of one trigger
PHASES = (("latestOffset", "stream.source"), ("walCommit", "stream.engine"),
          ("getBatch", "stream.source"), ("queryPlanning", "stream.engine"),
          ("addBatch", "stream.exec"), ("commitOffsets", "stream.engine"))


def stream_spans(prog, jobs):
    """One span per micro-batch from its progress event, children laid out
    from durationMs in phase order, and Spark jobs under their batch's
    addBatch phase."""
    spans = []
    for p in prog:
        b = p["batchId"]
        t0 = model.parse_ts_ms(p["timestamp"])
        spans.append({"id": f"b{b}", "name": "microbatch", "layer": "stream.trigger",
                      "run": f"b{b}", "parent": None, "start": t0,
                      "end": t0 + p["durationMs"].get("triggerExecution", 0)})
        t = t0
        for key, layer in PHASES:
            d = p["durationMs"].get(key, 0)
            spans.append({"id": f"b{b}.{key}", "name": key, "layer": layer, "run": f"b{b}",
                          "parent": f"b{b}", "start": t, "end": t + d})
            t += d
    spans += job_spans(jobs, lambda j: f"b{j['batch']}.addBatch")
    return spans


# ------------------------------------------------------------------- main

def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "src", "main", "scala", "graft", "api",
                                       "BitcoinEtl.scala")):
        print("run.py: no program sources under src/main/scala here; run it from the "
              "root of a checkout", file=sys.stderr)
        return 2
    try:
        classes = build(root)
        t_setup0 = time.time()
        runs = os.path.join(root, ".bench_build", "runs")
        rundir = os.path.join(runs, f"{args.workload}-{args.seed}-{os.getpid()}")
        shutil.rmtree(rundir, ignore_errors=True)
        os.makedirs(rundir)
        try:
            fn = run_backfill if args.workload == "btc_backfill" else run_stream
            e2e, layers, spans, attempted, failed = fn(args, classes, rundir, t_setup0)
        finally:
            shutil.rmtree(rundir, ignore_errors=True)
    except (BenchError, subprocess.TimeoutExpired) as e:
        print(f"run.py: {e}", file=sys.stderr)
        return 1

    if args.trace:
        metrics = {name: (e2e[name[len("traced."):]] if name.startswith("traced.")
                          else layers.get(name, 0), unit) for name, unit in PER_LAYER}
        write_trace(root, args, spans, metrics)
    else:
        metrics = {name: (e2e[name], unit) for name, unit in END_TO_END}
    for name, (value, unit) in metrics.items():
        print(f"{name:40s} {value:>16.6g} {unit}")
    correct = failed == 0
    print(f"correct: {str(correct).lower()} ({attempted - failed}/{attempted} ops passed)")
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}))
    return 0


def write_trace(root, args, spans, metrics):
    """Spans and the per-layer table of a traced run, under .bench_build/traces/."""
    d = os.path.join(root, ".bench_build", "traces")
    os.makedirs(d, exist_ok=True)
    path = os.path.join(d, f"{args.workload}-seed{args.seed}.json")
    with open(path, "w") as f:
        json.dump({"spans": spans, "per_layer": {k: v for k, (v, _) in metrics.items()}}, f)
    print(f"spans and per-layer table written to {os.path.relpath(path, root)}")


if __name__ == "__main__":
    sys.exit(main())
