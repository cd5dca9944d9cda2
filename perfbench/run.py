"""Benchmark entry point.

    python3 perfbench/run.py --workload batch|ann --seed N \
        --seconds S --trace 0|1
    python3 perfbench/run.py --self-test

Run from the root of a checkout. It builds the engine and the benchmark
(``build.py``), draws the ann inputs (``gen.py``) into the build directory
(``$CARGO_TARGET_DIR``, default ``.bench_build``), runs one workload over
the fixtures in ``perfbench/fixtures`` in one JVM for ``--seconds`` and
prints a per-op report followed, as the last line, by one JSON object:
``correct``, ``attempted``, ``failed`` and ``metrics`` (the end-to-end
metrics with ``--trace 0``, the per-layer ones with ``--trace 1``). Exits
non-zero, printing no result, when the build or the run fails.
"""
import argparse
import glob
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, BENCH)

import build  # noqa: E402
import gen  # noqa: E402

WORKLOADS = ("batch", "ann")
FIXTURES = os.path.join(BENCH, "fixtures")
ANN_BATCHES, ANN_BATCH, ANN_DELTA, ANN_APPENDS, TOPK = 16, 8, 200, 2, 10
JVM_TIMEOUT_S = 170
E2E = ("setup_s", "round_s", "query_s", "bulk_s", "train_s", "ingest_s")
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio",
             "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]
OP_METRICS = {"dryrun": "dryrun_s", "apply": "apply_s",
               "curate": "curate_s", "prepare": "prepare_s",
               "build": "build_s", "search": "search_s",
               "search_batch": "search_batch_s", "append": "append_s"}


def tail(xs, min_beyond=10):
    """The highest of 99.9, 99, 98, 95, 90, 80, 75, 50 whose nearest-rank
    value has at least ``min_beyond`` samples beyond it, as (percentile,
    value, samples beyond); None when even the median has fewer."""
    s = sorted(xs)
    for p in (99.9, 99, 98, 95, 90, 80, 75, 50):
        rank = max(1, math.ceil(p / 100 * len(s) - 1e-9))
        if len(s) - rank >= min_beyond:
            return p, s[rank - 1], len(s) - rank
    return None


def self_test_tail():
    """The tail-percentile rule; returns the number of failed cases."""
    cases = [(range(1, 101), (90, 90, 10)), (range(1, 22), (50, 11, 10)),
             (range(1, 21), (50, 10, 10)), (range(1, 20), None),
             (range(1, 1001), (99, 990, 10))]
    failed = 0
    for xs, want in cases:
        got = tail([float(x) for x in xs])
        ok = got == want
        failed += not ok
        print(f"{'ok  ' if ok else 'FAIL'} tail of {len(xs)} samples: {got}")
    return failed


def java(classes, main, args, log, timeout=JVM_TIMEOUT_S):
    cp = os.pathsep.join([classes, os.path.join(build.spark_jars(), "*")])
    tmp = os.path.join(build.build_dir(), "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java", "-Xmx3g", "-Xss8m"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + [f"-Djava.io.tmpdir={tmp}", f"-Dderby.system.home={tmp}",
              "-Dlog4j2.configurationFile="
              + os.path.join(BENCH, "log4j2.properties"),
              "-cp", cp, main] + args)
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(tmp, "spark-local"))
    with open(log, "w") as out:
        p = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT,
                             cwd=build.build_dir(), env=env,
                             start_new_session=True)

        def stop(*_):
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            sys.exit(1)
        # the JVM runs in its own process group: take it down with us
        signal.signal(signal.SIGTERM, stop)
        signal.signal(signal.SIGINT, stop)
        try:
            return p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            return -1


def fail(msg, log=None):
    if log and os.path.isfile(log):
        sys.stderr.write("".join(open(log).readlines()[-40:]))
    sys.stderr.write(f"perfbench: {msg}\n")
    sys.exit(1)


def layer_unit(name):
    c = name.rsplit(".", 1)[1]
    return {"jobs": "count", "tasks": "count", "empty_task_frac": "ratio",
            "shuffle_mb": "MiB"}.get(c, "s")


def report(res, wl, trace):
    """Human-readable lines printed ahead of the JSON result."""
    lines = [f"# workload {wl}  trace={trace}  attempted={res['attempted']} "
             f"failed={res['failed']}  rounds={res['rounds']}"]
    for f in res["failures"]:
        lines.append(f"  FAILED {f['op']}: {f['error']}")
    lines.append(f"  {'metric':<16}{'value':>12}  unit  n")
    for k in E2E:
        if k in res["e2e"]:
            lines.append(f"  {k:<16}{res['e2e'][k]:>12.4f}  s")
    for kind, o in sorted(res["ops"].items()):
        lines.append(f"  {OP_METRICS.get(kind, kind):<16}"
                     f"{o['median_s']:>12.4f}  s     {o['n']}")
    if res.get("recall_min") is not None:
        lines.append(f"  {'recall@10':<16}{res['recall_min']:>12.4f}  min "
                     f"over small searches (median "
                     f"{res['recall_median']:.4f})")
    lines.append(f"  {'storage_mb':<16}{res['storage_mb']:>12.3f}  MiB")
    frac = res["failed"] / max(1, res["attempted"])
    lines.append(f"  {'failed_frac':<16}{frac:>12.4f}  ratio")
    if res.get("layer_table"):
        lines.append(f"  {'span':<24}{'calls':>6}{'s':>9}{'self_s':>9}"
                     f"{'driver_s':>9}{'util':>7}{'jobs':>6}  class")
        for r in res["layer_table"]:
            lines.append(f"  {r['span']:<24}{r['calls']:>6}{r['s']:>9.3f}"
                         f"{r['self_s']:>9.3f}{r['driver_s']:>9.3f}"
                         f"{r['util']:>7.1%}{r['jobs']:>6.0f}  {r['class']}")
    return lines


def pooled_tail(results_dir, wl):
    """search_tail_s over the small-search samples of every stored untraced
    run of `wl`: a run has too few samples for a tail of its own."""
    xs, n = [], 0
    for p in glob.glob(os.path.join(results_dir, f"{wl}-trace0-seed*.json")):
        o = json.load(open(p))["ops"].get("search")
        if o:
            xs += o["samples_s"]
            n += 1
    t = tail(xs)
    if not t:
        return [f"  {'search_tail_s':<16}{'-':>12}  s     {len(xs)} samples "
                f"in {n} stored runs, fewer than the 20 it needs"]
    return [f"  {'search_tail_s':<16}{t[1]:>12.4f}  s     p{t[0]:g} of "
            f"{len(xs)} samples pooled over {n} stored runs, {t[2]} beyond"]


def overhead(results_dir, wl):
    """Traced minus untraced medians of each end-to-end metric, over every
    stored run of `wl` in this build directory."""
    runs = {0: [], 1: []}
    for p in glob.glob(os.path.join(results_dir, f"{wl}-trace*-seed*.json")):
        r = json.load(open(p))
        runs[1 if r["trace"] is True else 0].append(r["e2e"])
    if not runs[0] or not runs[1]:
        return []
    out = [f"  tracing overhead on {wl} ({len(runs[1])} traced vs "
           f"{len(runs[0])} untraced runs):"]
    for k in E2E:
        a = [r[k] for r in runs[0] if k in r]
        b = [r[k] for r in runs[1] if k in r]
        if a and b:
            ma, mb = statistics.median(a), statistics.median(b)
            out.append(f"    {k:<10} {mb - ma:+.4f} s ({(mb - ma) / ma:+.1%})")
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--self-test", action="store_true")
    a = ap.parse_args()
    if not a.self_test and not a.workload:
        ap.error("--workload is required")

    classes = build.build()
    bdir = build.build_dir()
    if a.self_test:
        log = os.path.join(bdir, "selftest.log")
        rc = java(classes, "perfbench.SelfTest",
                  [os.path.join(bdir, "selftest")], log)
        sys.stdout.write(open(log).read())
        sys.exit(1 if rc != 0 or self_test_tail() else 0)

    data = FIXTURES
    tag = f"{a.workload}-trace{a.trace}-seed{a.seed}"
    run_dir = os.path.join(bdir, "runs", tag)
    shutil.rmtree(run_dir, ignore_errors=True)
    ann_dir = os.path.join(run_dir, "ann-inputs")
    if a.workload == "ann":
        gen.ann_inputs(ann_dir, os.path.join(data, "embeddings.parquet"),
                       a.seed, ANN_BATCHES, ANN_BATCH, ANN_DELTA, ANN_APPENDS,
                       TOPK)
    os.makedirs(run_dir, exist_ok=True)
    result = os.path.join(run_dir, "result.json")
    log = os.path.join(run_dir, "jvm.log")
    rc = java(classes, "perfbench.Main", [
        "--workload", a.workload, "--seed", str(a.seed),
        "--seconds", str(a.seconds), "--trace", str(a.trace),
        "--data", data, "--ann", ann_dir,
        "--work", os.path.join(run_dir, "work"),
        "--config", os.path.join(BENCH, "config", "anonymize.yaml"),
        "--expected", os.path.join(BENCH, "expected.json"),
        "--result", result], log)
    shutil.rmtree(os.path.join(run_dir, "work"), ignore_errors=True)
    if rc != 0 or not os.path.isfile(result):
        fail(f"workload {a.workload} exited with {rc}", log)
    res = json.load(open(result))
    results_dir = os.path.join(bdir, "results")
    os.makedirs(results_dir, exist_ok=True)
    shutil.copy(result, os.path.join(results_dir, tag + ".json"))

    if a.trace:
        metrics = {k: {"value": v, "unit": layer_unit(k)}
                   for k, v in res["layers"].items()}
    else:
        metrics = {k: {"value": res["e2e"][k], "unit": "s"}
                   for k in E2E if k in res["e2e"]}
    # an op kind whose every sample failed leaves its slot empty
    complete = a.trace == 1 or len(metrics) == len(E2E)
    lines = report(res, a.workload, a.trace)
    if a.workload == "ann" and not a.trace:
        lines += pooled_tail(results_dir, a.workload)
    if a.trace:
        lines += overhead(results_dir, a.workload)
        lines.append(f"  spans: {result}.spans.jsonl")
    print("\n".join(lines))
    print(json.dumps({
        "correct": res["failed"] == 0 and complete,
        "attempted": res["attempted"], "failed": res["failed"],
        "metrics": metrics}))


if __name__ == "__main__":
    main()
