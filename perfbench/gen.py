"""Seeded input generators for the benchmark workloads.

Every generator takes one integer seed and writes parquet files whose
bytes depend only on that seed and the sizes below, so the engine sees
generated inputs only and a seed replays the same run.

- ``tables``: the warehouse tables the ``operators`` registry reads
  (TPC-H-like star schema plus ``events``, ``documents``, ``embeddings``),
  with the same column names and types as the engine's testdata.
- ``edges``: the page-pair edge deltas the dashboard's writer commits to
  the push-rank twin (its search twin indexes the ``documents`` table).
- ``chain``: the files the real-time chain's generator thread moves into
  the two ODS topic dirs (visitor events and CDC envelopes), restamped to
  a per-file arrival schedule.
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = (
    "spark stream batch table query join group sort scan hash filter window "
    "order line part customer value key row data vector column agg merge "
    "fast slow big small index token rank page visit click cart search shop "
    "brand price stock ship trade region nation market supply review user "
    "event log metric count sum time day week month year report panel chart"
).split()
EVENT_TYPES = ["view", "click", "cart", "purchase", "signup", "error"]
LANGS = ["en", "zh", "es", "fr", "de"]


def _rng(seed, stream):
    # one independent stream per table so resizing one leaves the others
    return np.random.default_rng([int(seed), stream])


def _write(table, path):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, compression="snappy")


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _ts_us(base_s, offsets_s):
    return pa.array((np.int64(base_s * 1_000_000) + np.round(
        np.asarray(offsets_s) * 1_000_000).astype(np.int64)), pa.timestamp("us"))


def _texts(rng, n, lo, hi):
    # Zipf-like word frequencies, so document frequencies have a long tail
    w = 1.0 / np.arange(1, len(WORDS) + 1)
    w /= w.sum()
    lens = rng.integers(lo, hi, n)
    return [" ".join(rng.choice(WORDS, size=k, p=w)) for k in lens]


# ---------------------------------------------------------------- tables

TABLE_SIZES = dict(customer=1500, supplier=100, part=2000, orders=15000,
                   lineitem=60000, events=20000, users=300, documents=1000,
                   embeddings=200)


def tables(out_dir, seed, sizes=TABLE_SIZES):
    """Writes ``<out_dir>/<table>.parquet`` for every warehouse table."""
    s = sizes
    day0 = 757382400  # 1994-01-01, seconds
    r = _rng(seed, 1)
    _write(pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}),
        f"{out_dir}/region.parquet")
    _write(pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}),
        f"{out_dir}/nation.parquet")
    n = s["customer"]
    _write(pa.table({
        "c_custkey": pa.array(range(n), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n)],
        "c_nationkey": pa.array(r.integers(0, 25, n), pa.int32()),
        "c_acctbal": _money(r, -999, 9999, n),
        "c_mktsegment": r.choice(["AUTOMOBILE", "BUILDING", "FURNITURE",
                                  "HOUSEHOLD", "MACHINERY"], n)}),
        f"{out_dir}/customer.parquet")
    n = s["supplier"]
    _write(pa.table({
        "s_suppkey": pa.array(range(n), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n)],
        "s_nationkey": pa.array(r.integers(0, 25, n), pa.int32()),
        "s_acctbal": _money(r, -999, 9999, n)}),
        f"{out_dir}/supplier.parquet")
    n = s["part"]
    _write(pa.table({
        "p_partkey": pa.array(range(n), pa.int64()),
        "p_name": [f"{a} {b}" for a, b in zip(
            r.choice(["large", "small", "hot", "cold", "red"], n),
            r.choice(["ring", "bolt", "nut", "gear", "pipe"], n))],
        "p_brand": [f"Brand#{i}" for i in r.integers(1, 26, n)],
        "p_type": r.choice(["LARGE", "SMALL", "ECONOMY", "STANDARD",
                            "PROMO", "MEDIUM"], n),
        "p_size": pa.array(r.integers(1, 51, n), pa.int32()),
        "p_retailprice": _money(r, 900, 2000, n)}),
        f"{out_dir}/part.parquet")
    n = s["orders"]
    _write(pa.table({
        "o_orderkey": pa.array(range(n), pa.int64()),
        "o_custkey": pa.array(r.integers(0, s["customer"], n), pa.int64()),
        "o_orderstatus": r.choice(["O", "F", "P"], n, p=[0.45, 0.45, 0.1]),
        "o_totalprice": _money(r, 800, 400000, n),
        "o_orderdate": _ts_us(day0, r.integers(0, 2400, n) * 86400),
        "o_orderpriority": r.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                     "4-NOT SPECIFIED", "5-LOW"], n)}),
        f"{out_dir}/orders.parquet")
    n = s["lineitem"]
    _write(pa.table({
        "l_orderkey": pa.array(r.integers(0, s["orders"], n), pa.int64()),
        "l_partkey": pa.array(r.integers(0, s["part"], n), pa.int64()),
        "l_suppkey": pa.array(r.integers(0, s["supplier"], n), pa.int64()),
        "l_linenumber": pa.array(r.integers(1, 8, n), pa.int32()),
        "l_quantity": r.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": _money(r, 900, 100000, n),
        "l_discount": np.round(r.integers(0, 11, n) / 100.0, 2),
        "l_tax": np.round(r.integers(0, 9, n) / 100.0, 2),
        "l_returnflag": r.choice(["N", "A", "R"], n),
        "l_linestatus": r.choice(["O", "F"], n),
        "l_shipdate": _ts_us(day0, r.integers(0, 2500, n) * 86400)}),
        f"{out_dir}/lineitem.parquet")
    n = s["events"]
    ts = np.sort(r.uniform(0, 30 * 86400, n))
    _write(pa.table({
        "event_id": pa.array(range(n), pa.int64()),
        "ts": _ts_us(1704067200, ts),  # 2024-01-01
        "user_id": pa.array(r.integers(0, s["users"], n), pa.int64()),
        "event_type": r.choice(EVENT_TYPES, n),
        "value": _money(r, 0, 150, n),
        "props": [json.dumps({"k": int(k)}) for k in r.integers(0, 100, n)]}),
        f"{out_dir}/events.parquet")
    n = s["documents"]
    texts = _texts(r, n, 8, 60)
    _write(pa.table({
        "doc_id": pa.array(range(n), pa.int64()),
        "text": texts,
        "lang": r.choice(LANGS, n),
        "source": [f"src{i % 5}" for i in range(n)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())}),
        f"{out_dir}/documents.parquet")
    n = s["embeddings"]
    emb = r.standard_normal((n, 16)).astype(np.float32)
    _write(pa.table({
        "vec_id": pa.array(range(n), pa.int64()),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(r.integers(0, 4, n), pa.int32())}),
        f"{out_dir}/embeddings.parquet")


# ------------------------------------------------------ maintained views

EDGE_SIZES = dict(pages=400, edges=1500)


def edges(path, seed, sizes=EDGE_SIZES):
    """Writes the page-pair edge deltas (src, dst, n_d) the writer commits
    to the push-rank twin: transitions between ``pages`` pages drawn with
    preferential attachment, so a few hub pages draw most of them.
    """
    s = sizes
    r = _rng(seed, 2)
    w = 1.0 / np.arange(1, s["pages"] + 1) ** 0.8
    w /= w.sum()
    m = s["edges"]
    src = r.choice(s["pages"], m, p=w)
    dst = (src + 1 + r.choice(s["pages"] - 1, m, p=w[:-1] / w[:-1].sum())) % s["pages"]
    _write(pa.table({"src": pa.array(src, pa.int64()),
                     "dst": pa.array(dst, pa.int64()),
                     "n_d": pa.array(r.integers(1, 4, m), pa.int64())}), path)


def dashboard(out_dir, seed):
    """Every input of the ``dashboard`` workload: the warehouse tables and
    ``edges.parquet``; the search twin indexes ``documents.parquet``."""
    tables(out_dir, seed)
    edges(f"{out_dir}/edges.parquet", seed)


# -------------------------------------------------------- realtime chain

CHAIN_SIZES = dict(files_per_s=5, warmup_s=2, events_per_file=200, cdc_per_file=200,
                   users=2000, ids=20000, late_share=0.1, late_max_s=5.0)
EPOCH0 = 1767225600  # 2026-01-01T00:00:00Z: event time of scheduled arrival 0


def chain(out_dir, seed, seconds, sizes=CHAIN_SIZES):
    """Writes ``events/f<k>.parquet`` and ``cdc/f<k>.parquet`` for the
    warm-up plus ``seconds`` of schedule (and a margin), and the schedule
    itself as ``chain.json``; file k is scheduled to arrive at ``k / files_per_s``
    seconds after the generator starts. Event ``ts`` is EPOCH0 plus the
    scheduled arrival plus jitter inside the file's interval; a fixed
    share of rows arrives out of order, up to ``late_max_s`` late, which
    stays inside the 11 s watermark. CDC ``op_seq`` increases across
    files, so a later file always carries the later change.
    """
    s = sizes
    r = _rng(seed, 3)
    step_ms = 1000 // s["files_per_s"]  # whole ms, as the schedule runs
    step = step_ms / 1000.0
    warmup_files = s["warmup_s"] * s["files_per_s"]
    n_files = warmup_files + (seconds + 2) * s["files_per_s"]
    os.makedirs(out_dir, exist_ok=True)
    with open(f"{out_dir}/chain.json", "w") as f:
        json.dump({"step_ms": step_ms, "warmup_files": warmup_files,
                   "n_files": n_files, "epoch0_s": EPOCH0}, f)
    seq = 0
    for k in range(n_files):
        n = s["events_per_file"]
        t = k * step + r.uniform(-step, 0.0, n)
        late = r.random(n) < s["late_share"]
        t = np.where(late, t - r.uniform(0, s["late_max_s"], n), t)
        _write(pa.table({
            "event_id": pa.array(range(k * n, (k + 1) * n), pa.int64()),
            "ts": _ts_us(EPOCH0, t),
            "user_id": pa.array(r.integers(0, s["users"], n), pa.int64()),
            "event_type": r.choice(EVENT_TYPES, n),
            "value": _money(r, 0, 150, n),
            "props": [json.dumps({"k": int(x)}) for x in r.integers(0, 100, n)]}),
            f"{out_dir}/events/f{k:05d}.parquet")
        n = s["cdc_per_file"]
        # the id pool widens with time, so the DIM table keeps growing
        hi = min(s["ids"], 500 + k * n // 2)
        ids = r.integers(0, hi, n)
        after = [[("id", str(i)), ("user_id", str(u)), ("total_amount", f"{a:.2f}"),
                  ("order_priority", p)]
                 for i, u, a, p in zip(ids, r.integers(0, 5000, n),
                                       _money(r, 10, 5000, n),
                                       r.choice(["1-URGENT", "3-MEDIUM", "5-LOW"], n))]
        _write(pa.table({
            "database": ["graft"] * n,
            "tableName": ["order_info"] * n,
            "type": r.choice(["insert", "update", "delete"], n, p=[0.3, 0.6, 0.1]),
            "op_seq": pa.array(range(seq, seq + n), pa.int64()),
            "after": pa.array(after, pa.map_(pa.string(), pa.string()))}),
            f"{out_dir}/cdc/f{k:05d}.parquet")
        seq += n
