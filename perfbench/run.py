#!/usr/bin/env python3
"""graft benchmark: one command for the tsdb_query, ingest and corpus_dedup
workloads.

    python3 perfbench/run.py --workload tsdb_query --seed 1 --seconds 8 --trace 0

Run from the root of a graft checkout.  The first run builds the program
from source (sbt, offline) together with the harness in this directory;
later runs reuse the build until a source file changes.  Each run then

1. generates the workload's inputs from ``--seed`` (``gen/``), once per
   set-up repetition, as parquet under ``.bench_build/work``;
2. starts one JVM running one Spark session at ``local[<cores>]`` with a
   single client thread, which sets up, warms up, runs a closed loop for
   ``--seconds`` and checks the outputs (``src/main/scala/graftbench``);
3. prints a readable report and, as the last line, one JSON object with
   ``correct``, ``attempted``, ``failed`` and ``metrics``: the end-to-end
   metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.

``--size smoke`` runs every workload at a size that finishes in seconds.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
LAUNCH = os.path.join(HERE, "target", "launch")
sys.path.insert(0, os.path.join(HERE, "gen"))

import corpus  # noqa: E402
import events  # noqa: E402
import querymix  # noqa: E402

WORKLOADS = ("tsdb_query", "ingest", "corpus_dedup")
HEAP = "3g"
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170

# Input sizes per workload.  `reps` is how many times a run sets up
# (setup_s is the median); the smoke size is for quick checks of the
# harness itself.  The late/resend/future shares of the events stream are
# assumptions, not measured traffic: no source in the repository gives
# the proportions of a real stream.
SIZES = {
    "default": {
        "tsdb_query": {"reps": 3, "events": dict(users=60, metrics=5, days=2, step=900,
                                                 batch_span=86400, resend=0.01),
                       "queries": 400},
        "ingest": {"reps": 3, "events": dict(users=100, metrics=5, days=2, step=300,
                                             batch_span=2400, late=0.01, resend=0.01,
                                             future=0.002)},
        "corpus_dedup": {"reps": 3, "corpus": dict(docs=2000)},
    },
    "smoke": {
        "tsdb_query": {"reps": 1, "events": dict(users=10, metrics=2, days=3, step=1800,
                                                 batch_span=86400, resend=0.01),
                       "queries": 40},
        "ingest": {"reps": 1, "events": dict(users=10, metrics=2, days=2, step=900,
                                             batch_span=3600, late=0.01, resend=0.01,
                                             future=0.005)},
        "corpus_dedup": {"reps": 1, "corpus": dict(docs=600)},
    },
}

# What each per-layer metric of the traced run should move, and on which
# workload; names and units are in BENCHMARK.json.  A layer a workload
# does not run reports 0 there.
MOVES = {
    "query.parse_ms": ("raw_p50_ms", "tsdb_query"),
    "query.build_ms": ("raw_p50_ms", "tsdb_query"),
    "query.plan_ms": ("raw_p50_ms", "tsdb_query"),
    "query.exec_ms": ("p50_ms", "tsdb_query"),
    "query.dedupe_ms": ("raw_p50_ms", "tsdb_query"),
    "query.rate_ms": ("raw_p50_ms", "tsdb_query"),
    "query.downsample_ms": ("raw_p50_ms", "tsdb_query"),
    "query.groupby_ms": ("raw_p50_ms", "tsdb_query"),
    "query.exchanges": ("queries_per_s", "tsdb_query"),
    "query.sorts": ("queries_per_s", "tsdb_query"),
    "lake.files_read": ("raw_p50_ms", "tsdb_query, ingest"),
    "lake.partitions_read": ("raw_p50_ms", "tsdb_query, ingest"),
    "lake.bytes_read": ("p90_ms", "tsdb_query, ingest"),
    "lake.rows_read": ("raw_p50_ms", "tsdb_query, ingest"),
    "lake.scan_ms": ("live_query_p50_ms", "tsdb_query, ingest"),
    "filters.series_matched": ("raw_p50_ms", "tsdb_query"),
    "filters.rows_per_result": ("raw_p50_ms", "tsdb_query"),
    "rollup.rung_served_share": ("routed_p50_ms", "tsdb_query, ingest"),
    "rollup.rung_rows_read": ("routed_p50_ms", "tsdb_query, ingest"),
    "rollup.tail_rows_read": ("live_query_p50_ms", "tsdb_query, ingest"),
    "rollup.raw_fallbacks": ("routed_p50_ms", "tsdb_query, ingest"),
    "plans.sql_rewritten_share": ("sql_p50_ms", "tsdb_query"),
    "plans.optimize_ms": ("sql_p50_ms", "tsdb_query"),
    "plans.partitions_pruned": ("sql_p50_ms", "tsdb_query"),
    "meta.log_rows_folded": ("meta_p50_ms", "tsdb_query"),
    "meta.exec_ms": ("meta_p50_ms", "tsdb_query"),
    "streaming.batch_ms": ("points_per_s", "ingest"),
    "streaming.append_ms": ("p50_ms", "ingest"),
    "streaming.series_log_ms": ("p50_ms", "ingest"),
    "streaming.latest_log_ms": ("p50_ms", "ingest"),
    "streaming.sketch_flush_ms": ("p50_ms", "ingest"),
    "streaming.rung_flush_ms": ("p90_ms", "ingest"),
    "streaming.rung_windows_flushed": ("rollup_lag_s", "ingest"),
    "streaming.admitted_rows": ("points_per_s", "ingest"),
    "streaming.dropped_rows": ("points_per_s", "ingest"),
    "streaming.files_written": ("stored_bytes_per_point", "ingest"),
    "streaming.bytes_written": ("stored_bytes_per_point", "ingest"),
    "pipeline.quality_ms": ("docs_per_s", "corpus_dedup"),
    "pipeline.exact_ms": ("docs_per_s", "corpus_dedup"),
    "pipeline.shingle_ms": ("docs_per_s", "corpus_dedup"),
    "pipeline.signature_ms": ("docs_per_s", "corpus_dedup"),
    "pipeline.lsh_join_ms": ("docs_per_s", "corpus_dedup"),
    "pipeline.near_dup_ms": ("docs_per_s", "corpus_dedup"),
    "pipeline.collapse_ms": ("p50_ms", "corpus_dedup"),
    "pipeline.shingle_rows": ("docs_per_s", "corpus_dedup"),
    "pipeline.candidate_pairs": ("docs_per_s", "corpus_dedup"),
    "pipeline.near_pairs": ("p50_ms", "corpus_dedup"),
    "pipeline.verify_yield": ("docs_per_s", "corpus_dedup"),
    "core.task_s": ("items_per_s", "all"),
    "core.cpu_util": ("items_per_s", "all"),
    "core.jobs": ("items_per_s", "all"),
    "core.stages": ("items_per_s", "all"),
    "core.tasks": ("items_per_s", "all"),
    "core.shuffle_write_bytes": ("items_per_s", "all"),
    "core.spill_bytes": ("items_per_s", "all"),
    "core.gc_s": ("items_per_s", "all"),
    "trace.overhead_ms": ("none (traced minus plain time of the same op)", "all"),
}


def run_child(cmd, timeout, **kwargs):
    """Run ``cmd`` to completion; return its exit code, or None on timeout.
    The child is killed and waited for whenever this returns or raises."""
    proc = subprocess.Popen(cmd, stdin=subprocess.DEVNULL, **kwargs)
    try:
        return proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        return None
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()


def fail(msg, code):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def build_inputs():
    """Every file whose change can change the built program or harness."""
    paths = []
    for top in (ROOT, HERE):
        paths.append(os.path.join(top, "build.sbt"))
        proj = os.path.join(top, "project")
        if os.path.isdir(proj):
            paths += [os.path.join(proj, f) for f in os.listdir(proj)
                      if f.endswith((".sbt", ".scala", ".properties"))]
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, files in os.walk(base):
            paths += [os.path.join(d, f) for f in files]
    return sorted(p for p in paths if os.path.isfile(p))


def build():
    """Build graft and the harness with sbt unless the last build is current."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        fail("no graft sources (build.sbt, src/main/scala) next to this directory", 2)
    h = hashlib.sha256()
    for p in build_inputs():
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    stamp = h.hexdigest()
    stamp_file = os.path.join(LAUNCH, "stamp")
    if os.path.isfile(stamp_file) and open(stamp_file).read() == stamp:
        return
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        # sbt's scratch files go to the checkout's build directory too
        rc = run_child(["sbt", "--batch", "--no-server", "-Dsbt.log.noformat=true",
                        f"-Djava.io.tmpdir={tmp}", f"-Djna.tmpdir={tmp}", "writeLaunch"],
                       BUILD_TIMEOUT_S, cwd=HERE, stdout=out, stderr=subprocess.STDOUT,
                       env=dict(os.environ, JAVA_TOOL_OPTIONS="-XX:-UsePerfData"))
    if rc != 0 or not os.path.isfile(os.path.join(LAUNCH, "classpath")):
        with open(log) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        fail(f"build failed (rc {rc}); log in {log}", 3)
    with open(stamp_file, "w") as f:
        f.write(stamp)


def generate(workload, size, seed, rep_dir):
    """Write one repetition's inputs; return (seconds, sizes)."""
    t0 = time.perf_counter()
    os.makedirs(rep_dir)
    if workload == "corpus_dedup":
        info = corpus.generate(seed, os.path.join(rep_dir, "corpus.parquet"), **size["corpus"])
    else:
        info = events.generate(seed, os.path.join(rep_dir, "events"), **size["events"])
        if workload == "tsdb_query":
            ev = size["events"]
            info["queries"] = querymix.generate(seed, os.path.join(rep_dir, "queries.parquet"),
                                                users=ev["users"], metrics=ev["metrics"],
                                                days=ev["days"], n=size["queries"])
    with open(os.path.join(rep_dir, "inputs.json"), "w") as f:
        json.dump(info, f)
    return time.perf_counter() - t0, info


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def run_jvm(args, work, reps, deadline):
    with open(os.path.join(LAUNCH, "classpath")) as f:
        cp = f.read().strip()
    with open(os.path.join(LAUNCH, "javaopts")) as f:
        opts = [line for line in f.read().splitlines() if line]
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    result = os.path.join(work, "result.json")
    cmd = [java, f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseParallelGC", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={tmp}",
           *opts, "-cp", cp, "graftbench.Main",
           "--workload", args.workload, "--seconds", str(args.seconds),
           "--trace", str(args.trace), "--work", work, "--reps", str(reps),
           "--cores", str(cores()), "--out", result]
    with open(os.path.join(work, "jvm.log"), "w") as log:
        rc = run_child(cmd, max(10, deadline - time.monotonic()), cwd=work, stdout=log,
                       stderr=subprocess.STDOUT)
    if rc is None:
        fail("the run did not finish in time", 4)
    if rc != 0 or not os.path.isfile(result):
        with open(os.path.join(work, "jvm.log")) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        fail(f"the benchmark JVM failed (rc {rc})", 5)
    with open(result) as f:
        return json.load(f)


def declared():
    """The metric names and units BENCHMARK.json declares, at the checkout root."""
    path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isfile(path):
        fail("no BENCHMARK.json at the root of the checkout", 2)
    with open(path) as f:
        decl = json.load(f)
    return decl["end_to_end"], decl["per_layer"]


def main():
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--size", choices=tuple(SIZES), default="default")
    args = p.parse_args()
    # a terminated run still stops its children (run_child's cleanup)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    deadline = time.monotonic() + RUN_TIMEOUT_S
    e2e, per_layer = declared()
    build()
    deadline = max(deadline, time.monotonic() + RUN_TIMEOUT_S - 30)

    size = SIZES[args.size][args.workload]
    reps = 1 if args.trace else size["reps"]
    work = os.path.join(BUILD, "work", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    gens = [generate(args.workload, size, args.seed, os.path.join(work, f"rep{i}"))
            for i in range(reps)]
    t_jvm = time.monotonic()
    out = run_jvm(args, work, reps, deadline)
    jvm_s = time.monotonic() - t_jvm

    setup = out["setup"]
    setup_s = statistics.median(g[0] for g in gens) + sum(setup.values())
    measured = {k: (v["value"], v["unit"]) for k, v in out["e2e"].items()}
    measured["setup_s"] = (setup_s, "s")
    report = {k: (v["value"], v["unit"]) for k, v in out["report"].items()}
    layer = out["per_layer"]

    print(f"workload {args.workload}  seed {args.seed}  cores {cores()}  "
          f"one client, closed loop  inputs "
          f"{json.dumps({k: v for k, v in gens[-1][1].items() if not k.startswith('batch_')})}")
    print("set-up: " + ", ".join(f"{k} {v:.3f}" for k, v in sorted(setup.items()))
          + f", generate_s {statistics.median(g[0] for g in gens):.3f}"
          + f"  (whole JVM run {jvm_s:.1f} s)")
    for name, (value, unit) in list(measured.items()) + list(report.items()):
        print(f"  {name:28s} {value if value is not None else float('nan'):14.4f} {unit}")
    error_rate = out["failed"] / max(out["attempted"], 1)
    print(f"  {'error_rate':28s} {error_rate:14.4f} ratio "
          f"({out['failed']} of {out['attempted']})")
    for e in out["errors"]:
        print(f"  error: {e}", file=sys.stderr)

    if args.trace:
        metrics = {m["name"]: {"value": layer.get(m["name"], 0.0), "unit": m["unit"]}
                   for m in per_layer}
        print(f"per-layer metrics (traced run, {out['spans']} spans in "
              f"{os.path.relpath(os.path.join(work, 'spans.json'), ROOT)})")
        for n, m in metrics.items():
            moves, on = MOVES.get(n, ("?", "?"))
            value = float("nan") if m["value"] is None else m["value"]
            print(f"  {n:32s} {value:16.4f} {m['unit']:6s} moves {moves} on {on}")
    else:
        metrics = {m["name"]: {"value": measured.get(m["name"], (None,))[0], "unit": m["unit"]}
                   for m in e2e}
    finite = True
    for m in metrics.values():  # a missing value (null): report 0 and mark the run incorrect
        if not (isinstance(m["value"], (int, float)) and math.isfinite(m["value"])):
            m["value"], finite = 0.0, False
    print(json.dumps({"correct": out["failed"] == 0 and finite,
                      "attempted": out["attempted"], "failed": out["failed"],
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
