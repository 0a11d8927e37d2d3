#!/usr/bin/env python3
"""The repo benchmark: one run of one workload.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. The run compiles the engine and the
benchmark's JVM side from source (cached under `.bench_build/`),
generates its inputs from the seed, starts the JVM side, checks every
output, prints one line per metric and, as the last line, one JSON
object: {"correct", "attempted", "failed", "metrics"}. With --trace 0
the metrics are the end-to-end ones; with --trace 1 a listener is
registered and the metrics are the per-layer ones plus the traced
run's own end-to-end figures under `traced.*`. Each run also saves its
record under `.bench_build/perfbench/records/trace<T>/`, which
`perfbench/report.py` compares.

Workloads, inputs and the layer-to-metric map: perfbench/README.md.
"""
import argparse
import glob
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

import datagen  # noqa: E402
import stats  # noqa: E402

CORES = min(4, os.cpu_count() or 1)

# A run makes inputs, sets up, runs a check pass and the timed passes,
# and checks the oracle: about 55 seconds at four cores with
# --seconds 12. The whole benchmark makes 48 runs and must finish within
# the hour, so the query list keeps one cheap query per family.
WORKLOADS = {
    "iterative-sf0.1": {
        "kind": "batch", "heap": "3g",
        "queries": [
            "q205_lpa_communities",     # graph loop
            "q72_product_quantize",     # PQ codebook driver loop
            "q174_decile_report",       # ranked window (two-phase rank)
            "q186_calibration",         # statistics with a driver loop
        ]},
    "sauron-stream": {"kind": "stream", "rate": 30, "heap": "3g"},
}

# set-ups in JVMs of their own before the run's JVM, whose own set-up is
# one more sample; setup_s is the median of these cold set-ups
SETUP_PROBES = 2

# the stream's tail percentile: one with at least ten of a run's
# 360 window frames beyond it (18 at p95; p99 would leave 3.6)
STREAM_TAIL = 0.95

# a stream run is invalid if more frames than this many seconds of input
# wait unprocessed at any sample
BACKLOG_BOUND_S = 5
# a percentile that lands on a failed operation reads +inf; JSON carries
# it as this number, and such a run reports correct=false anyway
INF_AS = 1e12

E2E = [("latency_p50_s", "s"), ("latency_tail_s", "s"), ("ops_per_busy_s", "1/s"),
       ("setup_s", "s")]

# per-layer metrics of a traced run, by module; a workload that does not
# exercise a layer reports 0 for it (see README.md for the map)
LAYERS = {
    "tables": ["input_mb", "input_rows"],
    "queries": ["build_s"],
    "operators": ["eager_jobs", "driver_self_s", "driver_result_mb", "pins", "pinned_mb",
                  "unpin_s"],
    "plans": ["plan_s"],
    "spark": ["jobs", "stages", "tasks", "job_gap_s", "core_idle_frac", "task_s", "cpu_s",
              "gc_s", "shuffle_write_mb", "shuffle_read_mb", "fetch_wait_s", "spill_mb",
              "peak_exec_mem_mb", "failed_tasks"],
    "streaming": ["jobs_per_batch", "trigger_ms", "add_batch_ms", "planning_ms", "wal_ms",
                  "frames_per_batch", "busy_frac", "state_rows", "state_mb",
                  "state_commit_ms", "late_dropped", "display_trigger_ms", "latency_col_s"],
    "source": ["late_ms", "backlog_frames"],
    "sink": ["collect_ms"],
    "host": ["nproc", "load1", "calib_s"],
}
PER_LAYER = ([(f"{m}.{k}", stats.unit_of(k)) for m, ks in LAYERS.items() for k in ks]
             + [(f"traced.{k}", u) for k, u in E2E])

ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if not submit:
            raise SystemExit("perfbench: no SPARK_HOME and no spark-submit on PATH")
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = sorted(glob.glob(os.path.join(home, "jars", "*.jar")))
    if not any(os.path.basename(j).startswith("scala-compiler-") for j in jars):
        raise SystemExit(f"perfbench: no Spark/Scala jars under {home}")
    return jars


def sources(root):
    engine = os.path.join(root, "src", "main", "scala")
    if not os.path.isdir(engine):
        raise SystemExit(f"perfbench: engine sources not found at {engine}")
    found = []
    for base in (engine, os.path.join(HERE, "src")):
        for d, _, files in os.walk(base):
            found += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(found)


def build(root, out):
    """Compiles engine + benchmark with scalac into one jar, plus a
    class-data-sharing archive of the classes a run loads, which halves
    the JVM's cold start. Reuses an up-to-date build."""
    srcs = sources(root)
    digest = hashlib.sha256()
    for s in srcs:
        digest.update(os.path.relpath(s, root).encode())
        with open(s, "rb") as f:
            digest.update(f.read())
    stamp = os.path.join(out, "build.stamp")
    jar, jsa = os.path.join(out, "perfbench.jar"), os.path.join(out, "perfbench.jsa")
    if os.path.exists(stamp):
        with open(stamp) as f:
            if f.read() == digest.hexdigest():
                return jar, jsa
    for f in (stamp, jar, jsa):
        if os.path.exists(f):
            os.remove(f)
    classes = os.path.join(out, "classes")
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    cp = os.pathsep.join(spark_jars())
    argfile = os.path.join(out, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs))
    r = subprocess.run(["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData",
                        f"-Djava.io.tmpdir={out}", "-cp", cp,
                        "scala.tools.nsc.Main", "-nowarn", "-d", classes, "-classpath", cp,
                        "@" + argfile], stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        raise SystemExit("perfbench: compilation failed")
    shutil.make_archive(jar[:-4], "zip", classes)
    os.replace(jar[:-4] + ".zip", jar)
    shutil.rmtree(classes)
    # one short batch run records the classes to archive
    run_dir = os.path.join(out, "cds-run")
    shutil.rmtree(run_dir, ignore_errors=True)
    datagen.generate(0, os.path.join(run_dir, "data"))
    jvm(jar, None, "3g", ["--workload", "batch", "--seed", "0", "--seconds", "1", "--trace", "0",
                          "--queries", "q186_calibration"], run_dir,
        extra=[f"-XX:ArchiveClassesAtExit={jsa}"])
    shutil.rmtree(run_dir, ignore_errors=True)
    with open(stamp, "w") as f:
        f.write(digest.hexdigest())
    return jar, jsa


def jvm(jar, jsa, heap, args, run_dir, extra=()):
    """Runs perfbench.Main with inputs in run_dir/data and outputs in
    run_dir/out; returns its result.json."""
    out = os.path.join(run_dir, "out")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", f"-Xmx{heap}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
           *([f"-XX:SharedArchiveFile={jsa}"] if jsa else []), *extra,
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC", *ADD_OPENS,
           "-cp", os.pathsep.join([jar] + spark_jars()), "perfbench.Main",
           "--data", os.path.join(run_dir, "data"), "--out", out, "--cores", str(CORES), *args]
    log = os.path.join(run_dir, "jvm.log")
    with open(log, "w") as f:
        r = subprocess.run(cmd, stdout=f, stderr=subprocess.STDOUT, cwd=run_dir)
    if r.returncode != 0:
        with open(log) as f:
            sys.stderr.write("".join(l for l in f if "ERROR" in l or "Exception" in l)[-4000:])
        raise SystemExit(f"perfbench: JVM exited with {r.returncode}")
    with open(os.path.join(out, "result.json")) as f:
        return json.load(f)


def batch_metrics(res, out, data_dir):
    """A timed query fails if it crashed, if its fingerprint differs from
    the check pass's, or if the check pass's output missed the oracle."""
    import oracle
    verdicts = oracle.check(out, data_dir, res["check"], CORES)
    ops = [stats.Op(s["s"], s["status"] == "ok" and verdicts[s["q"]] is None)
           for s in res["samples"]]
    busy = sum(res["passes_s"])
    passes = len(res["passes_s"])
    lat = stats.latencies(ops)
    m = {"latency_p50_s": stats.percentile(lat, 0.5),
         "latency_tail_s": stats.percentile(lat, 0.9),
         "ops_per_busy_s": sum(o.ok for o in ops) / busy}
    notes = {"latency_p50_s": f"per query, n={len(ops)} ({passes} passes)",
             "latency_tail_s": f"p90 per query, n={len(ops)}",
             "ops_per_busy_s": f"queries per pass second, suite_s={busy / passes:.3f}",
             "passes_s": [round(x, 3) for x in res["passes_s"]],
             "pinned_peak_mb": max(s["pinned_mb"] for s in res["samples"]),
             "per_query_s": {q: round(stats.percentile(
                 [s["s"] for s in res["samples"] if s["q"] == q], 0.5), 3)
                 for q in sorted({s["q"] for s in res["samples"]})}}
    problems = [f"{q}: {v}" for q, v in verdicts.items() if v]
    problems += [f"{s['q']} pass {s['pass']}: {s['status']}" for s in res["samples"]
                 if s["status"] != "ok"]
    return m, len(ops), sum(not o.ok for o in ops), problems, notes


def stream_metrics(res, rate):
    """A frame of the measured window or of a burst fails if it was never
    emitted, emitted twice or predicted differently from batch
    `SauronPipeline.process`; each display-path violation and each
    emitted frame that was never sent adds one failure."""
    st = res["stream"]
    ops = [stats.Op(v, math.isfinite(v)) for v in st["latency_s"]]
    attempted = len(ops) + st["burst_frames"]
    failed_frames = sum(st["failures"].values())
    disp = st["display"]
    violations = (st["unknown_emits"] + disp["disorder"] + disp["wrong_drops"]
                  + (0 if disp["balanced"] else 1))
    problems = [f"{n} frames {k}" for k, n in st["failures"].items()]
    if violations:
        problems.append(f"{violations} violations: unknown_emits={st['unknown_emits']} "
                        f"display={disp}")
    if st["backlog_max"] > rate * BACKLOG_BOUND_S:
        problems.append(f"backlog reached {st['backlog_max']} frames")
    lat = stats.latencies(ops)
    bursts = st["burst_frames_per_s"]
    m = {"latency_p50_s": stats.percentile(lat, 0.5),
         "latency_tail_s": stats.percentile(lat, STREAM_TAIL),
         "ops_per_busy_s": stats.percentile(bursts, 0.5)}
    notes = {"latency_p50_s": f"due->emit per frame, n={len(ops)}, {st['batches']} batches",
             "latency_tail_s": f"p{STREAM_TAIL * 100:.0f} due->emit, n={len(ops)}",
             "ops_per_busy_s": f"median frames/s over {len(bursts)} bursts of "
                               f"{st['burst_frames'] // len(bursts)} frames: "
                               + ", ".join(f"{b:.1f}" for b in bursts),
             "latency_col_p50_s": stats.percentile(st["latency_col_s"], 0.5),
             "backlog_max_frames": st["backlog_max"], "display": disp}
    return m, attempted, failed_frames + violations, problems, notes


def main():
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), required=True)
    args = p.parse_args()
    root = os.path.dirname(HERE)
    w = WORKLOADS[args.workload]
    build_dir = os.path.join(root, ".bench_build", "perfbench")
    os.makedirs(build_dir, exist_ok=True)
    phases = {}
    t0 = time.time()
    jar, jsa = build(root, build_dir)
    phases["build_s"] = time.time() - t0

    run_dir = os.path.join(build_dir, "runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    data_dir = os.path.join(run_dir, "data")
    try:
        # the stream workload reads only `region`, for the set-up warm-up
        t0 = time.time()
        datagen.generate(args.seed, data_dir)
        phases["inputs_s"] = time.time() - t0
        t0 = time.time()
        setups = [jvm(jar, jsa, w["heap"], ["--workload", "setup"], run_dir)["setup_s"]
                  for _ in range(SETUP_PROBES)]
        phases["setup_probes_s"] = time.time() - t0
        t0 = time.time()
        jargs = ["--workload", w["kind"], "--seed", str(args.seed),
                 "--seconds", str(args.seconds), "--trace", str(args.trace)]
        jargs += (["--queries", ",".join(w["queries"])] if w["kind"] == "batch"
                  else ["--rate", str(w["rate"])])
        res = jvm(jar, jsa, w["heap"], jargs, run_dir)
        out = os.path.join(run_dir, "out")
        phases["jvm_s"] = time.time() - t0
        t0 = time.time()
        if w["kind"] == "batch":
            m, attempted, failed, problems, notes = batch_metrics(res, out, data_dir)
        else:
            m, attempted, failed, problems, notes = stream_metrics(res, w["rate"])
        phases["checks_s"] = time.time() - t0
        self_ms = {}
        if args.trace:
            with open(os.path.join(out, "spans.json")) as f:
                spans = json.load(f)
            self_ms = stats.self_times(spans)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    setups.append(res["setup_s"])
    phases["jvm_workload_s"] = res["workload_s"]
    phases["jvm_up_s"] = res["jvm_up_s"]
    if "check_s" in res:
        phases["jvm_check_pass_s"] = res["check_s"]
    notes["wall"] = {k: round(v, 1) for k, v in phases.items()}
    m["setup_s"] = stats.percentile(setups, 0.5)
    notes["setup_s"] = (f"median of {len(setups)} cold set-ups, one per JVM: "
                        + ", ".join(f"{x:.3f}" for x in setups))
    host = dict(res["host"], cores=res["cores"])

    units = dict(E2E)
    print(f"perfbench {args.workload} seed={args.seed} seconds={args.seconds} "
          f"trace={args.trace} host={json.dumps(host)}")
    for k, _ in E2E:
        print(f"  {k:<16} {m[k]:>12.4f} {units[k]:<4} {notes.get(k, '')}")
    print(f"  {'failed_frac':<16} {failed / attempted:>12.4f}      {failed}/{attempted} operations")
    for k, v in notes.items():
        if k not in units:
            print(f"  {k}: {v}")
    for pr in problems[:20]:
        print(f"  FAILED {pr}")

    layers = {}
    if args.trace:
        layers = {k: res["layers"].get(k, 0.0) for k, _ in PER_LAYER}
        layers.update({f"host.{k}": float(v) for k, v in res["host"].items()})
        layers.update({f"traced.{k}": m[k] for k, _ in E2E})
    record = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
              "trace": args.trace, "host": host, "e2e": m, "layers": layers,
              "attempted": attempted, "failed": failed, "problems": problems,
              "notes": notes, "self_ms": self_ms, "time": time.time()}
    rec_dir = os.path.join(build_dir, "records", f"trace{args.trace}", args.workload)
    os.makedirs(rec_dir, exist_ok=True)
    stem = os.path.join(rec_dir, f"seed{args.seed}-{int(time.time() * 1000)}")
    with open(stem + ".json", "w") as f:
        json.dump(record, f, indent=1)
    if args.trace:
        with open(stem + ".spans.json", "w") as f:
            json.dump(spans, f)

    if args.trace:
        for k, u in PER_LAYER:
            print(f"  layer {k:<32} {layers[k]:>12.6g} {u}")
        for k, v in sorted(self_ms.items(), key=lambda kv: -kv[1])[:12]:
            print(f"  self time {k:<28} {v:>12.1f} ms")
        metrics = {k: {"value": layers[k], "unit": u} for k, u in PER_LAYER}
    else:
        metrics = {k: {"value": m[k], "unit": u} for k, u in E2E}
    for v in metrics.values():
        if not math.isfinite(v["value"]):
            v["value"] = INF_AS
    print(json.dumps({"correct": failed == 0 and not problems, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
