"""Steadiness helper: ``run.py --steadiness --workload <name> [--runs N]``.

Runs two sets of ``--runs`` untraced runs of the current checkout,
alternating which set goes first, each run on its own seed (set 1 on
1..N, set 2 on 101..100+N), plus one traced run per two seed pairs. For
each end-to-end metric it prints each set's median, quartiles and quartile
spread (as a share of the median; quartiles as
``statistics.quantiles(values, n=4)`` gives them), the spread pooled over
both sets (checked against a third of the metric's bound, ``setup_s``
included), whether the two sets' medians differ by at most the metric's
bound in either direction, and the tracing overhead: the traced runs'
``trace.latency_geomean_ms`` against the untraced ``latency_geomean_ms``.
"""
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def one(workload, seed, seconds, trace):
    r = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
                       stdout=subprocess.PIPE, text=True)
    if r.returncode != 0:
        raise RuntimeError(f"run failed: workload={workload} seed={seed} trace={trace}")
    line = json.loads(r.stdout.strip().splitlines()[-1])
    print(f"  seed={seed} trace={trace} correct={line['correct']} "
          f"failed={line['failed']}/{line['attempted']}", file=sys.stderr, flush=True)
    return line


def summary(values):
    q1, med, q3 = statistics.quantiles(values, n=4)
    return med, q1, q3, (q3 - q1) / med if med else float("inf")


def main(a):
    import run
    spec = run.spec()
    seconds = spec["run_seconds"]
    sets = [[], []]
    traced = []
    for i in range(a.runs):
        for k in ((0, 1) if i % 2 == 0 else (1, 0)):
            sets[k].append(one(a.workload, 1 + i + 100 * k, seconds, 0))
        if i % 2 == 1:
            traced.append(one(a.workload, 1 + i, seconds, 1))
    print(f"{a.workload}: 2 sets x {a.runs} runs, run_seconds={seconds}, "
          f"nproc={run.cores()}")
    for m in spec["end_to_end"]:
        name, bound = m["name"], m["bound"]
        rows = [summary([r["metrics"][name]["value"] for r in s]) for s in sets]
        cells = "  ".join(f"set{k + 1} med={med:.4g} q1={q1:.4g} q3={q3:.4g} spread={sp:.3f}"
                          for k, (med, q1, q3, sp) in enumerate(rows))
        first, second = rows[0][0], rows[1][0]
        diff = (second - first) / first
        verdict = f"  second-vs-first={diff:+.3f} {'agree' if abs(diff) <= bound else 'DISAGREE'}"
        pooled = summary([r["metrics"][name]["value"] for s in sets for r in s])
        limit = " ok" if pooled[3] <= bound / 3 else " SPREAD>bound/3"
        print(f"  {name:<20} bound={bound}  {cells}  all spread={pooled[3]:.3f}{verdict}{limit}")
    if traced:
        untraced = statistics.median(r["metrics"]["latency_geomean_ms"]["value"]
                                     for s in sets for r in s)
        with_trace = statistics.median(r["metrics"]["trace.latency_geomean_ms"]["value"]
                                       for r in traced)
        print(f"  tracing overhead on latency_geomean_ms: {with_trace / untraced - 1:+.3f} "
              f"({len(traced)} traced runs)")
    bad = sum(1 for s in sets for r in s if not r["correct"] or r["failed"])
    print(f"  runs with a wrong answer or a failed operation: {bad}")
