"""Per-layer tables from stored benchmark runs.

    python3 perfbench/baseline.py [results_dir] > perfbench/baseline/<name>.md

Reads every ``<workload>-trace<0|1>-seed<n>.json`` that ``run.py`` stored
in the results directory (default ``<build dir>/results``) and prints, per
workload: the end-to-end medians and quartiles of the untraced runs, the
per-span table of the traced runs (medians over runs of each run's
per-call medians) and the tracing overhead.
"""
import glob
import json
import os
import statistics
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import build  # noqa: E402
import run  # noqa: E402


def med(xs):
    return statistics.median(xs) if xs else float("nan")


def quartiles(xs):
    return statistics.quantiles(xs, n=4) if len(xs) >= 2 else [xs[0]] * 3


def main():
    rdir = (sys.argv[1] if len(sys.argv) > 1
            else os.path.join(build.build_dir(), "results"))
    runs = {}
    for p in sorted(glob.glob(os.path.join(rdir, "*-trace*-seed*.json"))):
        r = json.load(open(p))
        runs.setdefault(r["workload"], {0: [], 1: []})[
            1 if r["trace"] is True else 0].append(r)
    for wl in sorted(runs):
        plain, traced = runs[wl][0], runs[wl][1]
        print(f"## {wl}\n")
        print(f"{len(plain)} untraced runs (seeds "
              f"{', '.join(sorted(p['seed'] for p in plain))}), "
              f"{len(traced)} traced runs, "
              f"{sum(r['failed'] for r in plain + traced)} failed ops of "
              f"{sum(r['attempted'] for r in plain + traced)}.\n")
        print("| metric | median | q1 | q3 | (q3-q1)/median |")
        print("|---|---|---|---|---|")
        for k in run.E2E:
            xs = [r["e2e"][k] for r in plain if k in r["e2e"]]
            if xs:
                q1, m, q3 = quartiles(xs)
                print(f"| `{k}` | {med(xs):.3f} | {q1:.3f} | {q3:.3f} | "
                      f"{(q3 - q1) / med(xs):.3f} |")
        print("\n| op metric | runs | median of run medians (s) | "
              "pooled samples | pooled tail |")
        print("|---|---|---|---|---|")
        for kind in sorted({k for r in plain for k in r["ops"]}):
            ops = [r["ops"][kind] for r in plain if kind in r["ops"]]
            pooled = [x for o in ops for x in o["samples_s"]]
            t = run.tail(pooled)
            tl = (f"p{t[0]:g} = {t[1]:.3f} s ({t[2]} beyond)" if t
                  else "fewer than 20 samples")
            print(f"| {run.OP_METRICS.get(kind, kind)} | {len(ops)} | "
                  f"{med([o['median_s'] for o in ops]):.3f} | {len(pooled)} "
                  f"| {tl} |")
        print(f"\nstorage_mb, max over runs: "
              f"{max(r['storage_mb'] for r in plain):.3f} MiB; failed_frac: "
              f"{sum(r['failed'] for r in plain)}/"
              f"{sum(r['attempted'] for r in plain)}.")
        if traced:
            print("\n| span | calls/run | s | self_s | driver_s | util | "
                  "jobs | tasks | class |")
            print("|---|---|---|---|---|---|---|---|---|")
            rows = {}
            for r in traced:
                for row in r["layer_table"]:
                    rows.setdefault(row["span"], []).append(row)
            for span, rs in rows.items():
                def m(k):
                    return med([x[k] for x in rs])
                tasks = med([r["layers"].get(f"{span}.tasks", 0)
                             for r in traced]) if not span.startswith(
                                 "op.") else float("nan")
                classes = {x["class"] for x in rs}
                print(f"| `{span}` | {m('calls'):.0f} | {m('s'):.3f} | "
                      f"{m('self_s'):.3f} | {m('driver_s'):.3f} | "
                      f"{m('util'):.1%} | {m('jobs'):.0f} | "
                      f"{'' if tasks != tasks else f'{tasks:.0f}'} | "
                      f"{'/'.join(sorted(classes))} |")
            counters = ["s", "driver_s", "jobs", "tasks", "empty_task_frac",
                        "task_run_s", "task_cpu_s", "gc_s", "deser_s",
                        "shuffle_mb", "catalyst_s"]
            print("\nPer-layer metrics (`<span>.<counter>`, median over "
                  "the traced runs of each run's per-call median):\n")
            print("| span | " + " | ".join(counters) + " |")
            print("|---" * (len(counters) + 1) + "|")
            for span in [x for x in rows if not x.startswith("op.")]:
                vals = [med([r["layers"].get(f"{span}.{c}", 0.0)
                             for r in traced]) for c in counters]
                print(f"| `{span}` | " + " | ".join(
                    f"{v:.3f}" if f"{span}.{c}" in traced[0]["layers"]
                    else "" for v, c in zip(vals, counters)) + " |")
            print()
            print("\n".join(line.strip() for line in run.overhead(rdir, wl)))
        print()


if __name__ == "__main__":
    main()
