"""Seeded input generators for the benchmark workloads.

Every table is written as parquet with the schema of the engine's
testdata corpus (TESTDATA.md), so the program reads the generated inputs
through its ordinary readers. Nothing here touches the program: the
engine only ever sees the files.

- ``registry_tables`` writes the star-schema corpus (orders, lineitem,
  events, documents, embeddings and the dimensions) at scale factor 0.1.
- ``orders_backlog`` writes the CDC / order-wide backlog: orders,
  lineitem and events with event-time columns, cut into time slices so a
  file-source stream with ``maxFilesPerTrigger=1`` drains one slice per
  micro-batch.
- ``serve_day`` writes one day of events for the publisher to serve and
  returns the exact answers (distinct users, in all and per hour).
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Scale factor 0.1 row counts of the testdata corpus.
N_ORDERS = 150_000
N_LINEITEM = 600_000
N_EVENTS = 100_000
N_CUSTOMER = 15_000
N_SUPPLIER = 1_000
N_PART = 20_000
N_DOCS = 5_000
N_EMB = 2_000
EMB_DIM = 64
N_USERS = 1_500

EVENT_TYPES = ["view", "click", "purchase", "signup", "error"]
WORDS = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row "
         "the agg key query a scan batch").split()
LANGS = ["en", "zh", "fr", "es", "de"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
ADJ = ["large", "hot", "blue", "old", "cold", "small", "red", "new"]
NOUN = ["ring", "bolt", "plate", "nut", "gear", "pipe"]
P_TYPES = ["LARGE", "ECONOMY", "SMALL", "STANDARD", "PROMO", "MEDIUM"]
SEGMENTS = ["FURNITURE", "MACHINERY", "AUTOMOBILE", "BUILDING", "HOUSEHOLD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]

US = 1_000_000
DAY_US = 86_400 * US
EPOCH_1995 = 788_918_400  # 1995-01-01T00:00:00Z
EPOCH_2024 = 1_704_067_200  # 2024-01-01T00:00:00Z
# The orders backlog's event-time origin (2024-01-15T00:00:00Z).
BACKLOG_T0 = EPOCH_2024 + 14 * 86_400


def _ts(micros, tz=None):
    return pa.array(np.asarray(micros, dtype=np.int64), type=pa.timestamp("us", tz=tz))


def _write(table, path):
    pq.write_table(table, path, compression="snappy")


def _choice(rng, values, n, p=None):
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)],
                    type=pa.string())


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _orders_columns(rng, n):
    days = rng.integers(0, 2403, n)  # 1995-01-01 .. 2001-08-01
    return {
        "o_orderkey": pa.array(np.arange(n, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, N_CUSTOMER, n, dtype=np.int64)),
        "o_orderstatus": _choice(rng, ["O", "F", "P"], n),
        "o_totalprice": pa.array(_money(rng, 900.0, 500_000.0, n)),
        "o_orderdate": _ts((EPOCH_1995 + days * 86_400) * US),
        "o_orderpriority": _choice(rng, PRIORITIES, n),
    }


def _lineitem_columns(rng, orderkeys):
    n = len(orderkeys)
    days = rng.integers(1, 2500, n)
    return {
        "l_orderkey": pa.array(np.asarray(orderkeys, dtype=np.int64)),
        "l_partkey": pa.array(rng.integers(0, N_PART, n, dtype=np.int64)),
        "l_suppkey": pa.array(rng.integers(0, N_SUPPLIER, n, dtype=np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, n).astype(np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, n).astype(np.float64)),
        "l_extendedprice": pa.array(_money(rng, 900.0, 100_000.0, n)),
        "l_discount": pa.array(rng.integers(0, 11, n) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n) / 100.0),
        "l_returnflag": _choice(rng, ["N", "A", "R"], n),
        "l_linestatus": _choice(rng, ["O", "F"], n),
        "l_shipdate": _ts((EPOCH_1995 + days * 86_400) * US),
    }


def _events_columns(rng, ts_micros):
    n = len(ts_micros)
    return {
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": _ts(ts_micros),
        "user_id": pa.array(rng.integers(0, N_USERS, n, dtype=np.int64)),
        "event_type": _choice(rng, EVENT_TYPES, n),
        "value": pa.array(_money(rng, 0.0, 200.0, n)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
                          type=pa.string()),
    }


def _documents(rng):
    texts = []
    for i in range(N_DOCS):
        r = rng.random()
        if i > 10 and r < 0.05:  # near duplicate of an earlier document
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        elif i > 10 and r < 0.052:  # exact duplicate
            texts.append(texts[int(rng.integers(0, i))])
        else:
            k = int(rng.integers(8, 96))
            texts.append(" ".join(np.asarray(WORDS)[rng.integers(0, len(WORDS), k)]))
    return pa.table({
        "doc_id": pa.array(np.arange(N_DOCS, dtype=np.int64)),
        "text": pa.array(texts, type=pa.string()),
        "lang": _choice(rng, LANGS, N_DOCS, p=LANG_P),
        "source": pa.array([f"src{i % 20}" for i in range(N_DOCS)], type=pa.string()),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })


def _embeddings(rng):
    labels = rng.integers(0, 10, N_EMB)
    centers = rng.normal(0.0, 0.12, (10, EMB_DIM))
    vecs = (centers[labels] + rng.normal(0.0, 0.08, (N_EMB, EMB_DIM))).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(N_EMB, dtype=np.int64)),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": pa.array(labels.astype(np.int32)),
    })


def registry_tables(out_dir, data_seed):
    """The sf0.1 star-schema corpus the registry entries read."""
    rng = np.random.default_rng(data_seed)
    os.makedirs(out_dir, exist_ok=True)
    w = lambda name, cols: _write(pa.table(cols), os.path.join(out_dir, name + ".parquet"))
    w("region", {"r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
                 "r_name": pa.array(REGIONS)})
    w("nation", {"n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
                 "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
                 "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int32))})
    w("customer", {
        "c_custkey": pa.array(np.arange(N_CUSTOMER, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(N_CUSTOMER)]),
        "c_nationkey": pa.array(rng.integers(0, 25, N_CUSTOMER).astype(np.int32)),
        "c_acctbal": pa.array(_money(rng, -999.0, 9999.0, N_CUSTOMER)),
        "c_mktsegment": _choice(rng, SEGMENTS, N_CUSTOMER)})
    w("supplier", {
        "s_suppkey": pa.array(np.arange(N_SUPPLIER, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(N_SUPPLIER)]),
        "s_nationkey": pa.array(rng.integers(0, 25, N_SUPPLIER).astype(np.int32)),
        "s_acctbal": pa.array(_money(rng, -999.0, 9999.0, N_SUPPLIER))})
    adj = rng.integers(0, len(ADJ), N_PART)
    noun = rng.integers(0, len(NOUN), N_PART)
    w("part", {
        "p_partkey": pa.array(np.arange(N_PART, dtype=np.int64)),
        "p_name": pa.array([f"{ADJ[a]} {NOUN[b]}" for a, b in zip(adj, noun)]),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, N_PART)]),
        "p_type": _choice(rng, P_TYPES, N_PART),
        "p_size": pa.array(rng.integers(1, 51, N_PART).astype(np.int32)),
        "p_retailprice": pa.array(np.round(900.0 + (np.arange(N_PART) % 1000) / 10.0, 2))})
    w("orders", _orders_columns(rng, N_ORDERS))
    w("lineitem", _lineitem_columns(rng, rng.integers(0, N_ORDERS, N_LINEITEM)))
    ts = np.sort(rng.integers(0, 30 * DAY_US, N_EVENTS)) + EPOCH_2024 * US
    w("events", _events_columns(rng, ts))
    _write(_documents(rng), os.path.join(out_dir, "documents.parquet"))
    _write(_embeddings(rng), os.path.join(out_dir, "embeddings.parquet"))


def orders_backlog(out_dir, seed, slices, span_s):
    """The CDC / order-wide backlog, cut into ``slices`` event-time slices.

    Orders arrive uniformly over ``span_s`` seconds of event time. Each
    lineitem belongs to a random order and lands ``U(-15 s, +15 s)`` from
    it, so about two thirds fall inside the +-10 s join window. Each table
    is cut by its own event time into equal slices (rows before the first
    slice or after the last are clamped into it), so rows are out of order
    only inside a slice: never later than the 10 s watermark allows.
    Slice files get increasing modification times, so the file source
    reads them in event-time order. Returns the row counts.
    """
    rng = np.random.default_rng(seed)
    t0 = BACKLOG_T0 * US
    span = span_s * US
    o = _orders_columns(rng, N_ORDERS)
    o_ts = t0 + np.sort(rng.integers(0, span, N_ORDERS))
    # Event-time columns are UTC instants: Spark watermarks need TIMESTAMP.
    o["o_ts"] = _ts(o_ts, "UTC")
    keys = rng.integers(0, N_ORDERS, N_LINEITEM)
    li = _lineitem_columns(rng, keys)
    l_ts = o_ts[keys] + rng.integers(-15 * US, 15 * US + 1, N_LINEITEM)
    li["l_ts"] = _ts(l_ts, "UTC")
    e_ts = t0 + np.sort(rng.integers(0, span, N_EVENTS))
    ev = _events_columns(rng, e_ts)
    ev["ts"] = _ts(e_ts, "UTC")
    counts = {}
    for name, cols, ts in (("orders", o, o_ts), ("lineitem", li, l_ts),
                           ("events", ev, e_ts)):
        table = pa.table(cols)
        part = np.clip((ts - t0) * slices // span, 0, slices - 1)
        d = os.path.join(out_dir, name)
        os.makedirs(d, exist_ok=True)
        for i in range(slices):
            path = os.path.join(d, f"slice-{i:04d}.parquet")
            _write(table.filter(pa.array(part == i)), path)
            os.utime(path, (1_700_000_000 + i, 1_700_000_000 + i))
        counts[name] = table.num_rows
    return counts


def serve_day(out_dir, seed, day_start_s, n_events, n_users):
    """``n_events`` events spread over the UTC day that starts at
    ``day_start_s``, from users drawn with a Zipf-like skew. Returns the
    day's DAU and its hourly curve (``{"HH": distinct users}``)."""
    rng = np.random.default_rng(seed)
    ts = day_start_s * US + np.sort(rng.integers(0, DAY_US, n_events))
    cols = _events_columns(rng, ts)
    users = np.minimum(rng.zipf(1.2, n_events) - 1, n_users - 1).astype(np.int64)
    cols["user_id"] = pa.array(users)
    os.makedirs(out_dir, exist_ok=True)
    _write(pa.table(cols), os.path.join(out_dir, "events.parquet"))
    hour = (ts - day_start_s * US) // (3600 * US)
    hourly = {f"{h:02d}": int(len(np.unique(users[hour == h]))) for h in np.unique(hour)}
    return {"total": int(len(np.unique(users))), "hourly": hourly}
