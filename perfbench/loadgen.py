"""Open-loop load generator for ``clickstream_live`` and ``collect_serve``.

A separate process from the engine. It POSTs reference-shaped app logs to
the collector at a fixed rate and asks the publisher about the open UTC
day. Every POST is timed from when it was due, so a stall shows as
latency of the requests behind it. It uses at most ``--threads`` threads
and connections in total, the poller included, and writes its records as
one JSON file.

- ``--mode live``: the poller polls back to back, and keeps polling
  through a drain window after the last POST until the served DAU counts
  every new user.
- ``--mode collect``: after ``--warmup-gets`` closed-loop GETs, the
  poller GETs on its own fixed schedule (``--get-rate``), each GET timed
  from when it was due; the first ``--warmup`` seconds of both schedules
  are not measured.

Log mix (seeded): a ``start`` log of a new user, a ``start`` log of a
user drawn from the users seen so far with a Zipf-like skew, or a
``page`` log, which routing drops.
"""
import argparse
import datetime
import http.client
import json
import random
import socket
import threading
import time

P_NEW, P_REPEAT = 0.4, 0.3


def schedule(seed, n):
    """(kind, uid) per event; uids are ``u<k>`` for the k-th new user."""
    rng = random.Random(seed)
    out, users = [], 0
    for _ in range(n):
        r = rng.random()
        if r < P_NEW or users == 0:
            out.append(("new", f"u{users}"))
            users += 1
        elif r < P_NEW + P_REPEAT:
            rank = min(int(rng.paretovariate(1.0)) - 1, users - 1)
            out.append(("repeat", f"u{rank}"))
        else:
            out.append(("page", f"u{rng.randrange(users)}"))
    return out


def body(kind, uid, stamp_ms, seq):
    log = {"common": {"mid": "m" + uid, "uid": uid}, "ts": stamp_ms, "seq": seq}
    if kind == "page":
        log["page"] = {"page_id": "home"}
    else:
        log["start"] = {"entry": "icon"}
    return json.dumps(log, separators=(",", ":")).encode()


class Client:
    """One keep-alive connection; reconnects after a failure."""

    def __init__(self, port):
        self.port, self.conn = port, None

    def request(self, method, path, data=None):
        try:
            if self.conn is None:
                self.conn = http.client.HTTPConnection("127.0.0.1", self.port, timeout=30)
                self.conn.connect()
                self.conn.sock.setsockopt(socket.IPPROTO_TCP, socket.TCP_NODELAY, 1)
            self.conn.request(method, path, body=data)
            r = self.conn.getresponse()
            return r.status, r.read().decode()
        except (OSError, http.client.HTTPException) as e:
            if self.conn is not None:
                self.conn.close()
            self.conn = None
            return 0, str(e)


def total_dau(text):
    return next(t["value"] for t in json.loads(text) if t["id"] == "dau")


def post_schedule(a, events, t0, posts, posters):
    """Poster threads: event i is due at t0 + i / rate."""
    n = len(events)

    def post_loop(j):
        c = Client(a.ingest)
        for i in range(j, n, posters):
            due = t0 + i / a.rate
            delay = due - time.time()
            if delay > 0:
                time.sleep(delay)
            kind, uid = events[i]
            send = time.time()
            data = body(kind, uid, int(send * 1000), i)
            status, _ = c.request("POST", "/applog", data)
            posts[i] = [i, kind, uid, due, send, time.time(), status, len(data)]

    return [threading.Thread(target=post_loop, args=(j,)) for j in range(posters)]


def answer(status, text, is_total):
    if status != 200:
        return None
    return total_dau(text) if is_total else json.loads(text)["today"]


def live(a):
    # Keep the whole run inside one UTC day.
    now = time.time()
    day_end = (int(now) // 86400 + 1) * 86400
    if now + a.seconds + a.drain + 30 > day_end:
        time.sleep(day_end - now + 1)
    day = datetime.datetime.fromtimestamp(time.time(), datetime.timezone.utc).date()
    yesterday = (day - datetime.timedelta(days=1)).isoformat()
    day = day.isoformat()

    # Warm-up: one start log on the closed previous day, polled until
    # served, so the loop is up and the events table exists.
    serve = Client(a.serve)
    ingest = Client(a.ingest)
    w0 = time.time()
    ingest.request("POST", "/applog", body("new", "warmup", int(w0 * 1000) - 86_400_000, -1))
    while time.time() - w0 < 60:
        st, text = serve.request("GET", f"/realtime-total?date={yesterday}")
        if st == 200 and total_dau(text) >= 1:
            break
        time.sleep(0.2)
    warmup_s = time.time() - w0

    n = int(a.rate * a.seconds)
    events = schedule(a.seed, n)
    posts = [None] * n
    t0 = time.time() + 0.5
    new_total = sum(1 for k, _ in events if k == "new")

    polls = []
    done = threading.Event()

    def poll_loop():
        k = 0
        deadline = None
        while True:
            is_total = k % 2 == 0
            path = (f"/realtime-total?date={day}" if is_total
                    else f"/realtime-hour?id=dau&date={day}")
            send = time.time()
            status, text = serve.request("GET", path)
            recv = time.time()
            value = answer(status, text, is_total)
            polls.append([send, recv, status, "total" if is_total else "hour", value])
            k += 1
            if done.is_set():
                deadline = deadline or time.time() + a.drain
                if (is_total and value == new_total) or time.time() >= deadline:
                    break
            time.sleep(0.05)

    threads = post_schedule(a, events, t0, posts, max(1, a.threads - 1))
    poller = threading.Thread(target=poll_loop)
    poller.start()
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    last_post = max(p[5] for p in posts)
    done.set()
    poller.join()
    # One last pair of answers after the drain, for the correctness check.
    final = {}
    for path, key in ((f"/realtime-total?date={day}", "total"),
                      (f"/realtime-hour?id=dau&date={day}", "hour")):
        st, text = serve.request("GET", path)
        final[key] = answer(st, text, key == "total")
    return {"day": day, "start": t0, "last_post": last_post, "warmup_s": warmup_s,
            "posts": posts, "polls": polls, "final": final}


def collect(a):
    span = a.warmup + a.seconds
    events = schedule(a.seed, int(a.rate * span))
    posts = [None] * len(events)
    gets = [None] * int(a.get_rate * span)
    paths = (f"/realtime-total?date={a.day}", f"/realtime-hour?id=dau&date={a.day}")
    # Closed-loop warm-up of the publisher: its first answers take seconds.
    c = Client(a.serve)
    for k in range(a.warmup_gets):
        c.request("GET", paths[k % 2])
    t0 = time.time() + 0.5

    def get_loop():
        for k in range(len(gets)):
            due = t0 + k / a.get_rate
            delay = due - time.time()
            if delay > 0:
                time.sleep(delay)
            is_total = k % 2 == 0
            send = time.time()
            status, text = c.request("GET", paths[k % 2])
            gets[k] = [k, "total" if is_total else "hour", due, send, time.time(), status,
                       answer(status, text, is_total)]

    threads = (post_schedule(a, events, t0, posts, max(1, a.threads - 1))
               + [threading.Thread(target=get_loop)])
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    return {"day": a.day, "start": t0, "measure_from": t0 + a.warmup,
            "posts": posts, "gets": gets}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--mode", choices=("live", "collect"), default="live")
    for a in ("--ingest", "--serve", "--seed", "--threads"):
        ap.add_argument(a, type=int, required=True)
    for a in ("--seconds", "--rate"):
        ap.add_argument(a, type=float, required=True)
    ap.add_argument("--drain", type=float, help="live: poll this long after the last POST")
    ap.add_argument("--get-rate", type=float, help="collect: GETs per second")
    ap.add_argument("--warmup", type=float, help="collect: unmeasured seconds")
    ap.add_argument("--warmup-gets", type=int, help="collect: closed-loop GETs")
    ap.add_argument("--day", help="collect: the UTC day to ask about")
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    record = live(a) if a.mode == "live" else collect(a)
    with open(a.out, "w") as f:
        json.dump(record, f)


if __name__ == "__main__":
    main()
