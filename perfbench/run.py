#!/usr/bin/env python3
"""The repository benchmark: one command per workload run.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --steadiness --workload <name> [--runs N]

It builds the program from source (perfbench/build.py), makes the
workload's inputs from the seed (perfbench/gen.py, perfbench/loadgen.py),
drives the program through its public entry points in one engine JVM
(perfbench/scala), checks the answers, and prints as its last stdout line
one JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``.
With ``--trace 0`` the metrics are the end-to-end metrics of
BENCHMARK.json; with ``--trace 1`` the per-layer ones, from a run that
also writes spans. A readable report, with the workload's own named
metrics, goes to stderr and to ``<build dir>/results/``.
"""
import argparse
from datetime import datetime
import glob
import hashlib
import json
import math
import os
import random
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen  # noqa: E402
from loadgen import body as post_body  # noqa: E402

# registry_sf01: three reference-DW entries that end in a gate-only global
# sort, and the three whose trailing limit/offset order is part of the
# answer. The set is sized so a check pass and two timed passes fit the
# run budget (see perfbench/README.md).
REGISTRY_ENTRIES = [
    "q_dau_hourly", "q_first_seen", "q_explode",
    "q_serve_detail", "q_pagination", "q_brand_avg_topn",
]
# The registry corpus is the same for every seed, so each answer can be
# pinned (perfbench/pinned/registry_sf01.json); the seed orders the entries.
REGISTRY_DATA_SEED = 20240115
PINNED = os.path.join(HERE, "pinned", "registry_sf01.json")

# Data micro-batches per query per backlog drain. Each stateful batch costs
# 8-25 s whatever its size, so a second slice would not fit the run budget.
CDC_SLICES = 1
CDC_SPAN_S = 1200     # event-time span of the backlog

CLICK_RATE = 40       # POSTs per second; paced POSTs stall near 22/s per connection
CLICK_ROTATE = 1000   # IngestMain's default epoch rotation
CLICK_DRAIN_S = 15    # poll this long after the last POST
FRESH_OK_MS = 10_000  # 2x the 5 s trigger

COLLECT_ROTATE = 100  # epochs close every 2.5 s at CLICK_RATE
COLLECT_GET_RATE = 2  # open-day GETs per second, below the publisher's saturation
COLLECT_WARMUP_S = 1  # unmeasured head of both schedules
COLLECT_WARMUP_GETS = 8  # closed-loop GETs before the schedules start
SERVE_EVENTS = 100_000
SERVE_USERS = 60_000

ENGINE_TIMEOUT_S = 160
JVM_HEAP = "3g"
ADD_OPENS = ["java.base/" + p + "=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def log(*a):
    print(*a, file=sys.stderr, flush=True)


def quantile(xs, q):
    """Linear-interpolated quantile (0 for an empty sample)."""
    s = sorted(xs)
    if not s:
        return 0.0
    pos = q * (len(s) - 1)
    lo = int(math.floor(pos))
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def median(xs):
    return quantile(xs, 0.5)


def geomean(xs):
    xs = [x for x in xs if x > 0]
    return math.exp(sum(map(math.log, xs)) / len(xs)) if xs else 0.0


def spec():
    path = os.path.join(ROOT, "BENCHMARK.json")
    with open(path) as f:
        return json.load(f)


def cores():
    return len(os.sched_getaffinity(0))


def jvm_flags(tmp):
    return (["-Xmx" + JVM_HEAP, "-XX:-UsePerfData", "-Xss4m"]
            + [f"--add-opens={p}" for p in ADD_OPENS]
            + ["-Djava.io.tmpdir=" + tmp, "-Dspark.local.dir=" + tmp,
               "-Dspark.ui.enabled=false",
               "-Dspark.sql.warehouse.dir=" + os.path.join(tmp, "warehouse"),
               "-Dderby.system.home=" + tmp])


class Engine:
    """The engine JVM of one run; always stopped and waited for."""

    def __init__(self, classpath, work, args, interactive=False):
        tmp = os.path.join(work, "tmp")
        os.makedirs(tmp, exist_ok=True)
        self.flags = jvm_flags(tmp)
        self.log_path = os.path.join(work, "engine.log")
        self.log = open(self.log_path, "w")
        cmd = (["java"] + self.flags + ["-cp", ":".join(classpath), "perfbench.Harness"]
               + [f"{k}={v}" for k, v in args.items()])
        self.proc = subprocess.Popen(
            cmd, cwd=work, stdin=subprocess.PIPE if interactive else subprocess.DEVNULL,
            stdout=subprocess.PIPE if interactive else self.log, stderr=self.log, text=True)

    def wait(self, timeout):
        try:
            code = self.proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            self.stop()
            raise RuntimeError(f"engine did not finish within {timeout} s")
        if code != 0:
            raise RuntimeError(f"engine exited {code}:\n{self.tail()}")

    def tail(self, n=30):
        """The log from its first exception on, or its last lines."""
        self.log.flush()
        with open(self.log_path, errors="replace") as f:
            lines = f.readlines()
        first = next((i for i, l in enumerate(lines) if "Exception" in l), len(lines) - n)
        return "".join(lines[max(0, first):first + n])

    def stop(self):
        if self.proc.poll() is None:
            self.proc.terminate()
            try:
                self.proc.wait(timeout=15)
            except subprocess.TimeoutExpired:
                self.proc.kill()
                self.proc.wait()
        self.log.close()


def engine_result(classpath, work, args):
    e = Engine(classpath, work, args)
    try:
        e.wait(ENGINE_TIMEOUT_S)
    finally:
        e.stop()
    with open(os.path.join(args["out"], "result.json")) as f:
        return json.load(f), e.flags


# ----------------------------------------------------------------- workloads

def registry_data():
    """The registry corpus, generated once per checkout and generator."""
    with open(os.path.join(HERE, "gen.py"), "rb") as f:
        key = hashlib.sha256(f.read()).hexdigest()[:12]
    d = os.path.join(build.build_dir(), "data", f"registry-{REGISTRY_DATA_SEED}-{key}")
    if not os.path.isdir(d):
        gen.registry_tables(d + ".tmp", REGISTRY_DATA_SEED)
        os.rename(d + ".tmp", d)
    return d


def run_registry(classpath, work, a, out):
    order = random.Random(a.seed).sample(REGISTRY_ENTRIES, len(REGISTRY_ENTRIES))
    res, flags = engine_result(classpath, work, dict(
        workload=a.workload, dir=registry_data(), out=out, work=work, cores=cores(),
        seconds=a.seconds, trace=a.trace, entries=",".join(order)))
    with open(PINNED) as f:
        pinned = json.load(f)["entries"]
    wrong = [n for n in REGISTRY_ENTRIES if res["answers"][n] != pinned.get(n)]
    for n in wrong:
        log(f"wrong answer {n}: got {res['answers'][n]}, pinned {pinned.get(n)}")
    for e in res["errors"]:
        log("failed:", e)
    # Each entry's fastest timed run, split as that run was.
    best = {}
    for n in REGISTRY_ENTRIES:
        runs = list(zip(res["plan_s"].get(n, []), res["exec_s"].get(n, [])))
        best[n] = min(runs, key=sum) if runs else (0.0, 0.0)
    entry_s = {n: sum(best[n]) for n in REGISTRY_ENTRIES}
    times_ms = [v * 1000 for v in entry_s.values()]
    total = min(res["pass_s"])
    failed = len(res["errors"]) + len(wrong)
    e2e = {
        "latency_geomean_ms": geomean(times_ms),
        "work_s": total,
    }
    named = {"registry_total_s": (total, "s"),
             "registry_geomean_s": (geomean(entry_s.values()), "s"),
             "entry_p50_ms": (median(times_ms), "ms")}
    layer = {}
    for n in REGISTRY_ENTRIES:
        layer[f"q.{n}_s"] = entry_s[n]
        layer[f"q.{n}.plan_s"], layer[f"q.{n}.exec_s"] = best[n]
    return dict(res=res, flags=flags, e2e=e2e, named=named, layer=layer,
                correct=failed == 0, attempted=res["attempted"], failed=failed,
                answers=res["answers"])


def stream_layer(batches):
    """Per-layer stream metrics from progress records (medians per batch)."""
    data = [b for b in batches if b["input_rows"] > 0]

    def phase(name):
        return median([b["duration_ms"].get(name, 0) for b in data])

    gaps = []
    by_query = {}
    for b in batches:
        by_query.setdefault(b.get("query", ""), []).append(b)
    for bs in by_query.values():
        bs.sort(key=lambda b: b["batch_id"])
        for prev, nxt in zip(bs, bs[1:]):
            end = iso_s(prev["timestamp"]) + prev["duration_ms"].get("triggerExecution", 0) / 1e3
            gaps.append(max(0.0, (iso_s(nxt["timestamp"]) - end) * 1e3))
    return {
        "stream.batches": len(data),
        "stream.input_rows": sum(b["input_rows"] for b in batches),
        "stream.trigger_wait_ms": median(gaps),
        "stream.trigger_ms": phase("triggerExecution"),
        "stream.latest_offset_ms": phase("latestOffset"),
        "stream.get_batch_ms": phase("getBatch"),
        "stream.query_planning_ms": phase("queryPlanning"),
        "stream.add_batch_ms": phase("addBatch"),
        "stream.wal_commit_ms": phase("walCommit"),
        "stream.commit_offsets_ms": phase("commitOffsets"),
        "stream.state_rows": max([b["state_rows"] for b in batches] or [0]),
        "stream.state_mem_bytes": max([b["state_mem_bytes"] for b in batches] or [0]),
        "stream.state_commit_ms": median([b["state_commit_ms"] for b in data]),
        "stream.late_dropped_rows": sum(b["late_dropped_rows"] for b in batches),
    }


def iso_s(ts):
    return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


def run_orders(classpath, work, a, out):
    data = os.path.join(work, "backlog")
    counts = gen.orders_backlog(data, a.seed, CDC_SLICES, CDC_SPAN_S)
    res, flags = engine_result(classpath, work, dict(
        workload=a.workload, dir=data, out=out, work=work, cores=cores(),
        seconds=a.seconds, trace=a.trace))
    laps = res["laps"]
    batches = [b for lap in laps for b in lap["batches"]]
    # Every batch of the drain counts, the no-data batch that closes the
    # revenue windows and evicts join state too.
    trig = [b["duration_ms"]["triggerExecution"] for b in batches]
    # Rows each lap must read: events once, orders and lineitem once per join query.
    expected = counts["events"] + 2 * (counts["orders"] + counts["lineitem"])
    read = [sum(b["input_rows"] for b in lap["batches"]) for lap in laps]
    checks = res["checks"]
    sinks = ("cdc_route", "order_wide", "order_revenue")
    bad = [s for s in sinks if not checks[s]["ok"]]
    for s in bad:
        log(f"sink {s} differs from the batch answer: {checks[s]}")
    lost = sum(expected - r for r in read)
    failed = len(bad) + (1 if lost else 0)
    drain = median([lap["drain_s"] for lap in laps])
    e2e = {
        "latency_geomean_ms": geomean(trig),
        "work_s": drain,
    }
    named = {"drain_rows_per_s": (median([r / lap["drain_s"] for r, lap in zip(read, laps)]),
                                  "1/s"),
             "microbatch_p50_ms": (median(trig), "ms"),
             "microbatch_p90_ms": (quantile(trig, 0.9), "ms")}
    layer = stream_layer(batches)
    layer["stream.rows_lost"] = lost
    last = laps[-1]["sinks"]
    layer["sink.files"] = sum(last[s]["files"] for s in sinks)
    layer["sink.bytes"] = sum(last[s]["bytes"] for s in sinks)
    return dict(res=res, flags=flags, e2e=e2e, named=named, layer=layer,
                correct=failed == 0, attempted=len(trig) + len(sinks), failed=failed,
                checks=checks)


def drive(classpath, work, a, out, engine_args, loadgen_args, timeout):
    """Start the engine, run the load generator against its two ports,
    then stop the engine with the day asked about. Returns the engine's
    result, the generator's records and the JVM flags."""
    args = dict(workload=a.workload, out=out, work=work, cores=cores(),
                seconds=a.seconds, trace=a.trace, **engine_args)
    e = Engine(classpath, work, args, interactive=True)
    gen_out = os.path.join(work, "loadgen.json")
    lg = None
    try:
        line = ""
        while not line.startswith("READY"):
            line = e.proc.stdout.readline()
            if not line:
                raise RuntimeError(f"engine did not start:\n{e.tail()}")
        _, ingest_port, serve_port = line.split()
        lg = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "loadgen.py"), "--ingest", ingest_port,
             "--serve", serve_port, "--seed", str(a.seed), "--threads", str(cores()),
             "--seconds", str(a.seconds), "--out", gen_out] + loadgen_args, cwd=work)
        if lg.wait(timeout=timeout) != 0:
            raise RuntimeError("load generator failed")
        with open(gen_out) as f:
            g = json.load(f)
        e.proc.stdin.write(f"STOP {g['day']}\n")
        e.proc.stdin.close()
        e.wait(60)
    finally:
        if lg is not None and lg.poll() is None:
            lg.kill()
            lg.wait()
        e.stop()
    with open(os.path.join(out, "result.json")) as f:
        return json.load(f), g, e.flags


def run_clickstream(classpath, work, a, out):
    res, g, flags = drive(classpath, work, a, out, dict(rotate=CLICK_ROTATE),
                          ["--mode", "live", "--rate", str(CLICK_RATE),
                           "--drain", str(CLICK_DRAIN_S)],
                          a.seconds + CLICK_DRAIN_S + 120)
    posts, polls = g["posts"], g["polls"]
    ok_posts = [p for p in posts if 200 <= p[6] < 300]
    deadline = g["last_post"] + CLICK_DRAIN_S
    totals = [(p[0], p[1], p[4]) for p in polls if p[3] == "total" and p[2] == 200]
    probes = [p for p in posts if p[1] == "new"]
    fresh = []
    for k, p in enumerate(probes, start=1):
        stamp = p[4]
        seen = next((recv for send, recv, v in totals if send >= stamp and v >= k), None)
        fresh.append(((seen if seen is not None else deadline) - stamp) * 1e3)
    visible = sum(1 for f, p in zip(fresh, probes) if f <= FRESH_OK_MS)
    post_ms = [(p[5] - p[3]) * 1e3 for p in posts]
    get_ms = [(p[1] - p[0]) * 1e3 for p in polls if p[2] == 200]
    get_errors = sum(1 for p in polls if p[2] != 200)
    post_errors = len(posts) - len(ok_posts)
    streamed = sum(b["input_rows"] for b in res["batches"])
    lost = max(0, len(ok_posts) + 1 - streamed)  # +1: the warm-up log

    # Correctness: the served day equals what was posted, and the served
    # answer equals the batch answer over the landed table.
    users = {p[2] for p in ok_posts if p[1] != "page"}
    hourly = {}
    for p in ok_posts:
        if p[1] != "page":
            hourly.setdefault(time.strftime("%H", time.gmtime(p[4])), set()).add(p[2])
    want_hourly = {h: len(u) for h, u in sorted(hourly.items())}
    final = g["final"]
    direct = res["direct"][0]
    checks = {"served_total_matches_posted": final["total"] == len(users),
              "served_hourly_matches_posted": final["hour"] == want_hourly,
              "served_matches_batch": final["total"] == direct["dau"]}
    for name, ok in checks.items():
        if not ok:
            log(f"check failed: {name} (posted users {len(users)}, served {final['total']}, "
                f"batch {direct['dau']}; posted hourly {want_hourly}, served {final['hour']})")
    wrong = sum(1 for ok in checks.values() if not ok)
    attempted = len(posts) + len(polls)
    failed = post_errors + get_errors + lost + wrong
    changes = [recv for (_, recv, v), (_, _, prev) in zip(totals[1:], totals) if v != prev]
    e2e = {
        "latency_geomean_ms": geomean(fresh),
        "work_s": (max(changes) if changes else deadline) - g["start"],
    }
    named = {
        "fresh_p50_ms": (median(fresh), "ms"), "fresh_p90_ms": (quantile(fresh, 0.9), "ms"),
        "fresh_p99_ms": (quantile(fresh, 0.99), "ms"),
        "fresh_ok_ratio": (visible / len(probes) if probes else 0.0, "share"),
        "post_p50_ms": (median(post_ms), "ms"), "post_p99_ms": (quantile(post_ms, 0.99), "ms"),
        "serve_p50_ms": (median(get_ms), "ms"), "serve_p90_ms": (quantile(get_ms, 0.9), "ms"),
        "lost_events": (lost, "count"), "new_user_probes": (len(probes), "count"),
    }
    layer = stream_layer(res["batches"])
    layer.update(ingest_layer(posts, landing(res)))
    layer.update({
        "stream.rows_lost": lost,
        "sink.files": res["sink_files"], "sink.bytes": res["sink_bytes"],
        "serve.requests": len(polls), "serve.errors": get_errors,
        "serve.http_ms": median(get_ms),
        "serve.query_ms": median([c["ms"] for d in res["direct"] for c in d["calls"]]),
        "serve.jobs_per_answer": median([c["jobs"] for d in res["direct"] for c in d["calls"]]),
    })
    # The generator's side of the layer boundaries, as spans.
    spans = [{"name": "gen.post", "start_us": int(p[4] * 1e6), "end_us": int(p[5] * 1e6),
              "attrs": {"seq": p[0], "kind": p[1], "status": p[6],
                        "due_us": int(p[3] * 1e6)}} for p in posts]
    spans += [{"name": "serve.get", "start_us": int(p[0] * 1e6), "end_us": int(p[1] * 1e6),
               "attrs": {"endpoint": p[3], "status": p[2]}} for p in polls]
    return dict(res=res, flags=flags, e2e=e2e, named=named, layer=layer,
                correct=wrong == 0, attempted=attempted, failed=failed, checks=checks,
                spans=spans,
                loadgen={"posts": len(posts), "polls": len(polls), "warmup_s": g["warmup_s"]})


def landing(res):
    """The landed epochs, in order, each as its list of lines."""
    epochs = []
    for path in sorted(glob.glob(os.path.join(res["landing_dir"], "epoch-*.jsonl"))):
        with open(path) as f:
            epochs.append(f.read().splitlines())
    return epochs


def ingest_layer(posts, epochs):
    """Collector metrics from the generator's POST records and the landing.
    The POST that fills an epoch waits for its rotation."""
    ok = [p for p in posts if 200 <= p[6] < 300]
    by_seq = {p[0]: p for p in posts}
    closing = [json.loads(lines[-1])["seq"] for lines in epochs[:-1] if lines]
    return {
        "ingest.posts": len(ok), "ingest.post_errors": len(posts) - len(ok),
        "ingest.bytes": sum(p[7] for p in ok),
        "ingest.epochs_closed": max(0, len(epochs) - 1),
        "ingest.rotate_wait_ms": sum((by_seq[s][5] - by_seq[s][4]) * 1e3
                                     for s in closing if s in by_seq),
        "gen.lag_ms": quantile([(p[4] - p[3]) * 1e3 for p in posts], 0.99),
    }


def run_collect(classpath, work, a, out):
    table = os.path.join(work, "table")
    day_start = int(time.time()) // 86400 * 86400
    want = gen.serve_day(table, a.seed, day_start, SERVE_EVENTS, SERVE_USERS)
    day = time.strftime("%Y-%m-%d", time.gmtime(day_start))
    res, g, flags = drive(classpath, work, a, out, dict(rotate=COLLECT_ROTATE, dir=table),
                          ["--mode", "collect", "--rate", str(CLICK_RATE), "--day", day,
                           "--get-rate", str(COLLECT_GET_RATE),
                           "--warmup", str(COLLECT_WARMUP_S),
                           "--warmup-gets", str(COLLECT_WARMUP_GETS)],
                          a.seconds + COLLECT_WARMUP_S + 120)
    posts, gets = g["posts"], g["gets"]

    # Correctness: every POST acknowledged and landed exactly as sent, every
    # GET and the direct batch answer equal to the generated day's answer.
    epochs = landing(res)
    landed = {}
    for line in (l for lines in epochs for l in lines):
        rec = json.loads(line)
        landed.setdefault(rec["seq"], []).append(line)
    post_errors = sum(1 for p in posts if not 200 <= p[6] < 300)
    lost = wrong_lines = 0
    for p in posts:
        i, kind, uid, _, send = p[:5]
        got = landed.pop(i, [])
        if 200 <= p[6] < 300 and not got:
            lost += 1
        elif got and got != [post_body(kind, uid, int(send * 1000), i).decode()]:
            wrong_lines += 1
    extra = sum(len(v) for v in landed.values())
    get_errors = sum(1 for x in gets if x[5] != 200)
    expect = {"total": want["total"], "hour": want["hourly"]}
    wrong_gets = sum(1 for x in gets if x[5] == 200 and x[6] != expect[x[1]])
    wrong_direct = sum(1 for d in res["direct"]
                       if d["dau"] != want["total"] or d["hourly"] != want["hourly"])
    checks = {"posts_landed_as_sent": lost + wrong_lines + extra == 0,
              "served_answers_match": wrong_gets == 0,
              "batch_answers_match": wrong_direct == 0}
    for name, ok in checks.items():
        if not ok:
            log(f"check failed: {name} (lost {lost}, changed {wrong_lines}, extra {extra}, "
                f"wrong GETs {wrong_gets}, wrong batch answers {wrong_direct})")
    attempted = len(posts) + len(gets) + len(res["direct"])
    failed = post_errors + get_errors + lost + wrong_lines + extra + wrong_gets + wrong_direct

    # Metrics over the measured part of the schedules (due after warm-up).
    t_from = g["measure_from"]
    m_posts = [p for p in posts if p[3] >= t_from]
    m_gets = [x for x in gets if x[2] >= t_from]
    post_ms = [(p[5] - p[3]) * 1e3 for p in m_posts]
    get_ms = [(x[4] - x[2]) * 1e3 for x in m_gets]
    e2e = {
        "latency_geomean_ms": geomean(get_ms),
        "work_s": (sum(post_ms) + sum(get_ms)) / 1e3,
    }
    named = {
        "post_p50_ms": (median(post_ms), "ms"), "post_p99_ms": (quantile(post_ms, 0.99), "ms"),
        "serve_p50_ms": (median(get_ms), "ms"), "serve_p90_ms": (quantile(get_ms, 0.9), "ms"),
    }
    layer = ingest_layer(m_posts, epochs)
    layer["gen.lag_ms"] = quantile([(r[4] - r[3]) * 1e3 for r in m_posts]
                                   + [(x[3] - x[2]) * 1e3 for x in m_gets], 0.99)
    layer.update({
        "serve.requests": len(m_gets), "serve.errors": get_errors,
        "serve.http_ms": median([(x[4] - x[3]) * 1e3 for x in m_gets]),
        "serve.query_ms": median([c["ms"] for d in res["direct"] for c in d["calls"]]),
        "serve.jobs_per_answer": median([c["jobs"] for d in res["direct"] for c in d["calls"]]),
    })
    spans = [{"name": "gen.post", "start_us": int(p[4] * 1e6), "end_us": int(p[5] * 1e6),
              "attrs": {"seq": p[0], "kind": p[1], "status": p[6],
                        "due_us": int(p[3] * 1e6)}} for p in posts]
    spans += [{"name": "serve.get", "start_us": int(x[3] * 1e6), "end_us": int(x[4] * 1e6),
               "attrs": {"endpoint": x[1], "status": x[5], "due_us": int(x[2] * 1e6)}}
              for x in gets]
    return dict(res=res, flags=flags, e2e=e2e, named=named, layer=layer,
                correct=all(checks.values()), attempted=attempted, failed=failed,
                checks=checks, spans=spans,
                loadgen={"posts": len(posts), "gets": len(gets), "day": day})


WORKLOADS = {
    "clickstream_live": run_clickstream,
    "collect_serve": run_collect,
    "orders_cdc_stream": run_orders,
    "registry_sf01": run_registry,
}


# -------------------------------------------------------------------- report

def metric_set(s, r, trace):
    """The metrics object of the result line, in BENCHMARK.json's order."""
    res = r["res"]
    if not trace:
        values = dict(r["e2e"], setup_s=median(res["setup_rounds_s"]),
                      heap_retained_mb=res["heap_retained_mb"])
        return {m["name"]: {"value": float(values[m["name"]]), "unit": m["unit"]}
                for m in s["end_to_end"]}
    counters = res.get("counters") or {}
    values = {m["name"]: 0.0 for m in s["per_layer"]}
    values.update(counters)
    values.update(r["layer"])
    if counters:
        busy = counters["exec.task_run_s"]
        values["exec.idle_share"] = max(0.0, 1 - busy / (res["measure_s"] * cores()))
    values.update({"jvm.gc_s": res["jvm.gc_s"], "jvm.heap_peak_mb": res["jvm.heap_peak_mb"],
                   "host.sys_share": res["host.sys_share"],
                   "host.steal_share": res["host.steal_share"],
                   "trace.latency_geomean_ms": r["e2e"]["latency_geomean_ms"]})
    unknown = set(values) - {m["name"] for m in s["per_layer"]}
    if unknown:
        raise RuntimeError(f"metrics missing from BENCHMARK.json: {sorted(unknown)}")
    return {m["name"]: {"value": float(values[m["name"]]), "unit": m["unit"]}
            for m in s["per_layer"]}


def run_once(a):
    s = spec()
    if a.workload not in {w["name"] for w in s["workloads"]} | set(WORKLOADS):
        raise RuntimeError(f"unknown workload {a.workload}")
    classpath = build.build()
    bdir = build.build_dir()
    work = os.path.join(bdir, "work", f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}")
    out = os.path.join(work, "out")
    results = os.path.join(bdir, "results")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(out)
    os.makedirs(results, exist_ok=True)
    t0 = time.time()
    try:
        r = WORKLOADS[a.workload](classpath, work, a, out)
        metrics = metric_set(s, r, a.trace)
        stem = f"{a.workload}-s{a.seed}-t{a.trace}"
        if a.trace:
            spans = os.path.join(results, stem + ".spans.jsonl")
            shutil.copy(os.path.join(out, "spans.jsonl"), spans)
            with open(spans, "a") as f:
                # Generator spans are numbered past the engine's own ids.
                for i, sp in enumerate(r.get("spans", [])):
                    f.write(json.dumps(dict(sp, id=1_000_000_000 + i, parent=0)) + "\n")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    res = r["res"]
    record = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
        "nproc": cores(), "jvm_flags": r["flags"], "host.sys_share": res["host.sys_share"],
        "host.steal_share": res["host.steal_share"],
        "wall_s": time.time() - t0, "correct": r["correct"], "attempted": r["attempted"],
        "failed": r["failed"], "error_rate": r["failed"] / max(1, r["attempted"]),
        "setup_rounds_s": res["setup_rounds_s"], "metrics": metrics,
        "named": {k: {"value": v, "unit": u} for k, (v, u) in r["named"].items()},
        "details": {k: r[k] for k in ("checks", "answers", "loadgen") if k in r},
        "engine": {k: v for k, v in res.items() if k not in ("answers", "checks")},
    }
    with open(os.path.join(results, stem + ".json"), "w") as f:
        json.dump(record, f, indent=1)
    named = dict(record["named"], error_rate={"value": record["error_rate"], "unit": "share"},
                 setup_s={"value": median(res["setup_rounds_s"]), "unit": "s"},
                 peak_rss_mb={"value": res["peak_rss_mb"], "unit": "MB"})
    log(f"== {a.workload} seed={a.seed} trace={a.trace} nproc={cores()} "
        f"host.sys_share={res['host.sys_share']:.3f} "
        f"host.steal_share={res['host.steal_share']:.3f} wall={record['wall_s']:.1f}s")
    log("   jvm: " + " ".join(f for f in r["flags"] if not f.startswith("--add-opens")))
    for k, v in list(named.items()) + list(metrics.items()):
        log(f"   {k:<32} {v['value']:>14.4f} {v['unit']}")
    log(f"   correct={r['correct']} attempted={r['attempted']} failed={r['failed']}")
    return {"correct": bool(r["correct"]), "attempted": int(r["attempted"]),
            "failed": int(r["failed"]), "metrics": metrics}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=15)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--steadiness", action="store_true",
                    help="run two alternating sets of this commit and compare them")
    ap.add_argument("--runs", type=int, default=5, help="runs per set (--steadiness)")
    a = ap.parse_args()
    # Stop the engine and generator on a termination signal too.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        if a.steadiness:
            import steady
            steady.main(a)
            return
        line = run_once(a)
    except (build.BuildError, RuntimeError, OSError, KeyError, ValueError) as e:
        log(f"benchmark failed: {type(e).__name__}: {e}")
        sys.exit(1)
    print(json.dumps(line))


if __name__ == "__main__":
    main()
