"""Seeded input generation for the benchmark workloads.

Every table is a pure function of (workload, seed): one
``numpy.random.Generator`` per table, seeded from both, and parquet
written through pyarrow with no pandas metadata, so the same seed gives
byte-identical files and another seed gives other files. The shapes and
value domains follow the sf0.1 star-schema test tables (TPC-H-shaped
facts and dims, a documents corpus with appended-marker near-duplicates,
unit-norm labelled embeddings, an events stream).

Generated sets are cached under ``<cache>/<workload>-<seed>/`` with a
completion marker written last, so a killed generation is redone rather
than reused.
"""

from __future__ import annotations

import json
import shutil
from datetime import datetime, timezone
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

GEN_REV = 3
MARKER = "_COMPLETE.json"
# generated sets kept per workload; older ones are deleted
CACHE_KEEP = 6

# Row counts of the sf0.1 tables.
N_CUSTOMER, N_SUPPLIER, N_PART = 15_000, 1_000, 20_000
N_ORDERS, N_LINEITEM = 150_000, 600_000
# curation uses a seeded 1,000-document, 1,000-vector corpus: the DuckDB
# oracles of dedup_canonical and doc_pagerank grow with the square of
# the corpus and took over a minute each at 2,000 documents.
N_DOCS, N_VECS, VEC_DIM, N_LABELS = 1_000, 1_000, 64, 10
N_DUP_DOCS = 50

# ingest_serve: pre-generated micro-batches, events per batch, and the
# event-time span one batch covers (3 batches per day partition).
N_BATCHES, BATCH_EVENTS, BATCH_SPAN_S = 160, 2_000, 8 * 3600
N_USERS = 1_500

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
P_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
P_ADJ = ["blue", "cold", "hot", "large", "old", "red", "small", "tiny"]
P_NOUN = ["anvil", "bolt", "gear", "plate", "ring", "rod", "widget", "nut"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS, LANG_P = ["en", "de", "es", "fr", "zh"], [0.41, 0.14, 0.15, 0.15, 0.15]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]

_WORKLOAD_SALT = {"star_olap": 1, "curation": 2, "ingest_serve": 3}
_DAY_US = 86_400 * 1_000_000


def _epoch_us(y: int, m: int, d: int) -> int:
    return int(datetime(y, m, d, tzinfo=timezone.utc).timestamp()) * 1_000_000


def _rng(workload: str, seed: int, table: str) -> np.random.Generator:
    tag = sum(ord(c) * (i + 1) for i, c in enumerate(table))
    return np.random.default_rng([_WORKLOAD_SALT[workload], seed, tag])


def _write(table: pa.Table, path: Path) -> None:
    pq.write_table(table, path, compression="snappy")


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _dates(rng, lo, hi, n):
    """Whole days uniformly in [lo, hi] as timestamp[us] (no tz)."""
    days = rng.integers(0, (hi - lo) // _DAY_US + 1, n)
    return pa.array(lo + days * _DAY_US, pa.timestamp("us"))


def star_tables(seed: int, out: Path) -> None:
    wl = "star_olap"
    _write(pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    }), out / "region.parquet")
    _write(pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    }), out / "nation.parquet")

    r = _rng(wl, seed, "customer")
    _write(pa.table({
        "c_custkey": pa.array(np.arange(N_CUSTOMER), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(N_CUSTOMER)],
        "c_nationkey": pa.array(r.integers(0, 25, N_CUSTOMER), pa.int32()),
        "c_acctbal": _money(r, -999.99, 9999.99, N_CUSTOMER),
        "c_mktsegment": np.array(SEGMENTS)[r.integers(0, 5, N_CUSTOMER)],
    }), out / "customer.parquet")

    r = _rng(wl, seed, "supplier")
    _write(pa.table({
        "s_suppkey": pa.array(np.arange(N_SUPPLIER), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(N_SUPPLIER)],
        "s_nationkey": pa.array(r.integers(0, 25, N_SUPPLIER), pa.int32()),
        "s_acctbal": _money(r, -999.99, 9999.99, N_SUPPLIER),
    }), out / "supplier.parquet")

    r = _rng(wl, seed, "part")
    names = [f"{a} {n}" for a in P_ADJ for n in P_NOUN]
    _write(pa.table({
        "p_partkey": pa.array(np.arange(N_PART), pa.int64()),
        "p_name": np.array(names)[r.integers(0, len(names), N_PART)],
        "p_brand": [f"Brand#{b}" for b in r.integers(1, 26, N_PART)],
        "p_type": np.array(P_TYPES)[r.integers(0, len(P_TYPES), N_PART)],
        "p_size": pa.array(r.integers(1, 51, N_PART), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(N_PART) % 1000) / 10, 2),
    }), out / "part.parquet")

    n_orders, n_lines = N_ORDERS, N_LINEITEM
    r = _rng(wl, seed, "orders")
    _write(pa.table({
        "o_orderkey": pa.array(np.arange(n_orders), pa.int64()),
        "o_custkey": pa.array(r.integers(0, N_CUSTOMER, n_orders), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[r.integers(0, 3, n_orders)],
        "o_totalprice": _money(r, 1000.0, 500000.0, n_orders),
        "o_orderdate": _dates(
            r, _epoch_us(1995, 1, 1), _epoch_us(2001, 8, 1), n_orders
        ),
        "o_orderpriority": np.array(PRIORITIES)[r.integers(0, 5, n_orders)],
    }), out / "orders.parquet")

    r = _rng(wl, seed, "lineitem")
    flags = np.array(["A", "N", "R"])[r.integers(0, 3, n_lines)]
    _write(pa.table({
        "l_orderkey": pa.array(r.integers(0, n_orders, n_lines), pa.int64()),
        "l_partkey": pa.array(r.integers(0, N_PART, n_lines), pa.int64()),
        "l_suppkey": pa.array(r.integers(0, N_SUPPLIER, n_lines), pa.int64()),
        "l_linenumber": pa.array(r.integers(1, 8, n_lines), pa.int32()),
        "l_quantity": r.integers(1, 51, n_lines).astype(np.float64),
        "l_extendedprice": _money(r, 900.0, 105000.0, n_lines),
        "l_discount": r.integers(0, 11, n_lines) / 100.0,
        "l_tax": r.integers(0, 9, n_lines) / 100.0,
        "l_returnflag": flags,
        "l_linestatus": np.array(["F", "O"])[r.integers(0, 2, n_lines)],
        "l_shipdate": _dates(
            r, _epoch_us(1995, 1, 2), _epoch_us(2001, 11, 4), n_lines
        ),
    }), out / "lineitem.parquet")


def curation_tables(seed: int, out: Path) -> None:
    wl = "curation"
    r = _rng(wl, seed, "documents")
    lens = r.integers(10, 50, N_DOCS)
    words = np.array(VOCAB)[r.integers(0, len(VOCAB), int(lens.sum()))]
    texts, pos = [], 0
    for n in lens:
        texts.append(" ".join(words[pos:pos + n]))
        pos += n
    # Near-duplicates: a seeded subset re-publishes an earlier text with
    # a marker token appended (the test corpus's dup structure).
    dups = r.choice(np.arange(1, N_DOCS), N_DUP_DOCS, replace=False)
    for d in sorted(dups):
        texts[d] = texts[int(r.integers(0, d))] + " dup"
    _write(pa.table({
        "doc_id": pa.array(np.arange(N_DOCS), pa.int64()),
        "text": texts,
        "lang": np.array(LANGS)[r.choice(len(LANGS), N_DOCS, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(N_DOCS)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }), out / "documents.parquet")

    r = _rng(wl, seed, "embeddings")
    labels = r.integers(0, N_LABELS, N_VECS)
    centers = r.normal(0, 0.15, (N_LABELS, VEC_DIM))
    vecs = centers[labels] + r.normal(0, 1.0, (N_VECS, VEC_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    _write(pa.table({
        "vec_id": pa.array(np.arange(N_VECS), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    }), out / "embeddings.parquet")


def event_batch(seed: int, b: int) -> pa.Table:
    """Micro-batch ``b``: BATCH_EVENTS new events (ids unique across
    batches) in its own 8-hour event-time slice, 2% of them arriving up
    to a day late, so they land in bars and day partitions that earlier
    batches already wrote."""
    r = _rng("ingest_serve", seed, f"batch{b}")
    n = BATCH_EVENTS
    t0 = _epoch_us(2024, 1, 1) + b * BATCH_SPAN_S * 1_000_000
    offs = np.sort(r.integers(0, BATCH_SPAN_S * 1_000_000, n))
    late = r.random(n) < 0.02
    ts = t0 + offs - np.where(late, r.integers(1, _DAY_US, n), 0)
    return pa.table({
        "event_id": pa.array(b * n + np.arange(n), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(r.integers(0, N_USERS, n), pa.int64()),
        "event_type": np.array(EVENT_TYPES)[r.integers(0, 5, n)],
        "value": _money(r, 0.0, 560.0, n),
        "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, n)],
    })


def batch_dir(inputs: Path, b: int) -> Path:
    """One micro-batch per dir, laid out as an ``events`` table so the
    product's own events reader takes it."""
    return inputs / "batches" / f"b{b:04d}"


def ingest_tables(seed: int, out: Path) -> None:
    for b in range(N_BATCHES):
        batch_dir(out, b).mkdir(parents=True)
        _write(event_batch(seed, b), batch_dir(out, b) / "events.parquet")


GENERATORS = {
    "star_olap": star_tables,
    "curation": curation_tables,
    "ingest_serve": ingest_tables,
}


def materialize(workload: str, seed: int, cache: Path) -> Path:
    """Return the generated input dir for (workload, seed), generating
    it first unless a complete copy is cached."""
    out = cache / f"{workload}-{seed}"
    marker = out / MARKER
    meta = {"workload": workload, "seed": seed, "rev": GEN_REV}
    if marker.exists() and json.loads(marker.read_text()) == meta:
        return out
    shutil.rmtree(out, ignore_errors=True)
    out.mkdir(parents=True)
    GENERATORS[workload](seed, out)
    marker.write_text(json.dumps(meta))
    done = sorted(
        cache.glob(f"{workload}-*/{MARKER}"), key=lambda m: m.stat().st_mtime_ns
    )
    for old in done[:-CACHE_KEEP]:
        shutil.rmtree(old.parent, ignore_errors=True)
    return out


if __name__ == "__main__":
    import sys

    # python3 perfbench/gen.py <workload> <seed> <cache dir>
    print(materialize(sys.argv[1], int(sys.argv[2]), Path(sys.argv[3])))
