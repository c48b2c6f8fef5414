"""Input generator for the benchmark.

Tables mimic the engine's testdata schema (`lineitem`, `documents`,
`customer`, `events`: the ones the workloads read) and are generated
from a FIXED data seed, so every run and every workload seed sees the
same table contents and the per-query work counts repeat exactly. The workload seed only permutes
what the workload does with them: the query order within each round and
the assignment of customer/event rows to stream slices.

Stream slices use the STEDI payload recipe of the engine's
`q32_stedi_end_to_end` query: a redis-server record whose zSetEntries[0]
element is the base64 of the customer JSON, and a stedi-events risk
record `{"customer": email, "score": ..., "riskDate": ...}`.
"""
import base64
import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42

# Row counts: the testdata's sf0.01 sizes. At sf0.1 one query of the
# batch workloads takes 3-10 s warm on a 4-core host, too long for the
# number of rounds a run must fit.
N_LINEITEM = 60_000
N_ORDERS = 15_000
N_PARTS = 2_000
N_SUPPLIERS = 100
N_DOCS = 500
N_CUSTOMERS = 1_500
N_EVENTS = 40_000

VOCAB = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part fast "
         "row the agg key query a scan batch").split()
LANGS = ["en", "fr", "zh", "de", "es"]
LANG_P = [0.41, 0.15, 0.15, 0.14, 0.15]
SEGMENTS = ["MACHINERY", "AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD"]
EVENT_TYPES = ["signup", "click", "error", "view", "purchase"]

# Stream layout: every slice carries the same number of rows, so every
# micro-batch does the same amount of new work.
SLICE_CUSTOMERS = 10
SLICE_EVENTS = 140
RISK_DATE = "2020-01-01T00:00:00.000Z"


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path)


def lineitem(rng: np.random.Generator) -> pa.Table:
    n = N_LINEITEM
    days = rng.integers(0, (dt.date(2001, 11, 4) - dt.date(1995, 1, 2)).days + 1, n)
    ship = (np.datetime64("1995-01-02") + days.astype("timedelta64[D]")).astype(
        "datetime64[us]")
    return pa.table({
        "l_orderkey": pa.array(rng.integers(0, N_ORDERS, n), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, N_PARTS, n), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, N_SUPPLIERS, n), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
        "l_quantity": pa.array(rng.integers(1, 51, n).astype(float)),
        "l_extendedprice": pa.array(np.round(rng.uniform(900, 105000, n), 2)),
        "l_discount": pa.array(rng.integers(0, 11, n) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n) / 100.0),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n)),
        "l_linestatus": pa.array(rng.choice(["F", "O"], n)),
        "l_shipdate": pa.array(ship, pa.timestamp("us")),
    })


def documents(rng: np.random.Generator) -> pa.Table:
    """Random bags of VOCAB words; 5 % of documents are an earlier
    document's text plus " dup", the near-duplicates the dedup queries
    look for."""
    texts = []
    for i in range(N_DOCS):
        if i > 10 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            k = int(rng.integers(10, 101))
            texts.append(" ".join(rng.choice(VOCAB, k)))
    return pa.table({
        "doc_id": pa.array(range(N_DOCS), pa.int64()),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(LANGS, N_DOCS, p=LANG_P)),
        "source": pa.array([f"src{i % 20}" for i in range(N_DOCS)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def customer(rng: np.random.Generator) -> pa.Table:
    return pa.table({
        "c_custkey": pa.array(range(N_CUSTOMERS), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(N_CUSTOMERS)]),
        "c_nationkey": pa.array(rng.integers(0, 25, N_CUSTOMERS), pa.int32()),
        "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, N_CUSTOMERS), 2)),
        "c_mktsegment": pa.array(rng.choice(SEGMENTS, N_CUSTOMERS)),
    })


def events(rng: np.random.Generator) -> pa.Table:
    secs = np.sort(rng.uniform(0, 30 * 86400, N_EVENTS))
    ts = np.datetime64("2024-01-01T00:00:00", "us") + (secs * 1e6).astype(
        "timedelta64[us]")
    return pa.table({
        "event_id": pa.array(range(N_EVENTS), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, N_CUSTOMERS, N_EVENTS), pa.int64()),
        "event_type": pa.array(rng.choice(EVENT_TYPES, N_EVENTS)),
        "value": pa.array(np.round(rng.uniform(0, 560, N_EVENTS), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, N_EVENTS)]),
    })


# name -> (generator stream id, builder); the id, not the position,
# selects a table's random stream
TABLES = {
    "lineitem": (0, lineitem), "documents": (1, documents),
    "customer": (3, customer), "events": (4, events),
}


def tables(out_dir: str) -> dict:
    """Write every table as `<out_dir>/<name>.parquet`; returns the
    tables by name. Each table draws from its own generator, so adding
    a table never shifts another one's contents."""
    os.makedirs(out_dir, exist_ok=True)
    made = {}
    for name, (stream, fn) in TABLES.items():
        t = fn(np.random.default_rng([DATA_SEED, stream]))
        _write(t, os.path.join(out_dir, f"{name}.parquet"))
        made[name] = t
    return made


def email(c_name: str) -> str:
    return c_name.replace("#", ".").lower() + "@test.com"


def redis_value(custkey: int, c_name: str) -> str:
    cust = ('{"customerName":"' + c_name + '","email":"' + email(c_name) +
            '","phone":"5551212","birthDay":"' + str(1950 + custkey % 50) +
            '-01-15"}')
    enc = base64.b64encode(cust.encode()).decode()
    return ('{"key":"Q3VzdG9tZXI=","existType":"NONE","Ch":false,"Incr":false,'
            '"zSetEntries":[{"element":"' + enc + '","score":"0.0"}]}')


def risk_value(c_name: str, score: float) -> str:
    return json.dumps({"customer": email(c_name), "score": repr(score),
                       "riskDate": RISK_DATE}, separators=(",", ":"))


def slices(made: dict, n_slices: int, seed: int) -> list:
    """Per-slice rows as (topic, key, value) tuples, in landing order.
    The workload seed permutes which customers and which events land in
    which slice; the slice sizes are fixed."""
    rng = np.random.default_rng([seed, 7])
    c = made["customer"].to_pydict()
    e = made["events"].to_pydict()
    n_cust = n_slices * SLICE_CUSTOMERS
    n_ev = n_slices * SLICE_EVENTS
    assert n_cust <= N_CUSTOMERS and n_ev <= N_EVENTS, "not enough input rows"
    cust_ids = rng.permutation(N_CUSTOMERS)[:n_cust]
    ev_ids = rng.permutation(N_EVENTS)[:n_ev]
    out = []
    for s in range(n_slices):
        rows = []
        for k in cust_ids[s * SLICE_CUSTOMERS:(s + 1) * SLICE_CUSTOMERS]:
            k = int(k)
            rows.append(("redis-server", "Q3VzdG9tZXI=",
                         redis_value(k, c["c_name"][k])))
        for j in ev_ids[s * SLICE_EVENTS:(s + 1) * SLICE_EVENTS]:
            j = int(j)
            u = int(e["user_id"][j])
            rows.append(("stedi-events", "stedi-events",
                         risk_value(c["c_name"][u], e["value"][j])))
        out.append(rows)
    return out


SLICE_SCHEMA = pa.schema([("topic", pa.string()), ("key", pa.string()),
                          ("value", pa.string())])


def write_slices(rows_by_slice: list, stage_dir: str) -> None:
    """One parquet file per slice, named so that landing order, file
    name order and modification-time order all agree."""
    os.makedirs(stage_dir, exist_ok=True)
    for s, rows in enumerate(rows_by_slice):
        cols = list(zip(*rows))
        t = pa.table([pa.array(c, pa.string()) for c in cols], schema=SLICE_SCHEMA)
        _write(t, os.path.join(stage_dir, f"slice-{s:05d}.parquet"))


def expected_join(rows_by_slice: list) -> list:
    """Reference result of the STEDI join, computed without Spark: for
    each slice, the multiset of (customer, score, email, birthYear) rows
    that become emittable when that slice lands (an inner join emits a
    pair in the micro-batch where its later side arrives)."""
    cust_at = {}   # email -> (slice, birthYear)
    risk_at = {}   # email -> [(slice, score)]
    for s, rows in enumerate(rows_by_slice):
        for topic, _, value in rows:
            if topic == "redis-server":
                enc = json.loads(value)["zSetEntries"][0]["element"]
                cj = json.loads(base64.b64decode(enc))
                cust_at[cj["email"]] = (s, cj["birthDay"].split("-")[0])
            else:
                r = json.loads(value)
                risk_at.setdefault(r["customer"], []).append((s, r["score"]))
    per_slice = [[] for _ in rows_by_slice]
    for mail, risks in risk_at.items():
        if mail not in cust_at:
            continue
        cs, year = cust_at[mail]
        for rs, score in risks:
            per_slice[max(cs, rs)].append((mail, score, mail, year))
    return per_slice
