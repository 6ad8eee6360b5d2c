"""Seeded input generation for the benchmark (numpy + pyarrow, no Spark).

Three input sets, all written under the benchmark's work directory:

- ``base``: a TPC-H-ish star schema plus ``events``/``documents``/
  ``embeddings`` with the schemas and row counts of the engine's sf0.1 test
  tables (FIXTURES.md). It is generated from a fixed data seed, so every run
  reads the same bytes and the DuckDB answers are computed once.
- ``x20``: ``lineitem`` and ``orders`` replicated 20 times with
  ``tools/scale_probe.py``'s shift rule (order keys shift together by
  ``max+1`` per copy; part/supplier/customer keys and the dimension tables
  stay 1x), about 12M lineitem rows.
- ``lake``: per-seed inputs for the lake workload: an ingest CSV, append
  batches that each span every partition, and a list of pruning predicates.

Every set is written to a temporary directory and renamed into place, so an
interrupted run never leaves a half-written set behind.
"""

from __future__ import annotations

import json
import os
import shutil
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.csv as pacsv
import pyarrow.parquet as pq

BASE_DATA_SEED = 42
BASE_VERSION = "base-v1"
SCALE = 20
SCALE_VERSION = f"x{SCALE}-v1"

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "red", "hot", "cold", "small", "big", "green", "dark",
            "light", "steel", "tin", "brass", "plain"]
PART_NOUN = ["anvil", "ring", "plate", "gear", "rod"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
VOCAB = ["query", "row", "stream", "the", "spark", "line", "small", "fast",
         "group", "customer", "batch", "sort", "value", "hash", "filter", "big",
         "data", "dup", "part", "column", "order", "scan", "a", "slow", "agg",
         "key", "window", "table", "merge", "vector", "join"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.14, 0.15, 0.15, 0.15]

# lake workload shape
LAKE_VERSION = "lake-v2"
LAKE_MONTHS = [f"1996-{m:02d}" for m in range(1, 9)]
LAKE_BASE_ROWS = 120_000
LAKE_BATCH_ROWS = 15_000
LAKE_WARM_ROWS = 10_000
LAKE_BATCHES = 24
LAKE_PREDICATES = 24


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, compression="snappy")


def _days(start: str, n_days: int, rng, size: int) -> np.ndarray:
    base = np.datetime64(start, "D")
    return (base + rng.integers(0, n_days, size)).astype("datetime64[us]")


def _money(rng, lo: float, hi: float, size: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, size), 2)


def _base_tables(rng) -> dict[str, pa.Table]:
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": REGIONS,
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
    })
    n_cust, n_supp, n_part, n_ord, n_li = 15_000, 1_000, 20_000, 150_000, 600_000
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)],
    })
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    names = [f"{a} {n}" for a in PART_ADJ for n in PART_NOUN]
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": np.array(names)[rng.integers(0, len(names), n_part)],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": np.array(PART_TYPES)[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + rng.integers(0, 1000, n_part) / 10.0, 1),
    })
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": pa.array(_days("1995-01-01", 2404, rng, n_ord), pa.timestamp("us")),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)],
    })
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": pa.array(_days("1995-01-02", 2498, rng, n_li), pa.timestamp("us")),
    })
    n_ev = 100_000
    # microsecond timestamps over 30 days; (user_id, ts) pairs stay unique
    us = np.sort(rng.choice(30 * 86_400 * 1_000_000, n_ev, replace=False))
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": pa.array(np.datetime64("2024-01-01", "us") + us, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 1500, n_ev), pa.int64()),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    n_doc = 5_000
    texts = [
        " ".join(np.array(VOCAB)[rng.integers(0, len(VOCAB), rng.integers(10, 101))])
        for _ in range(n_doc)
    ]
    for i in rng.choice(n_doc, 8, replace=False):  # a few exact duplicates
        texts[int(i)] = texts[int(i) - 1]
    t["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_doc), pa.int64()),
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(5, n_doc, p=LANG_P)],
        "source": [f"src{i}" for i in rng.integers(0, 20, n_doc)],
        "n_chars": pa.array([len(s) for s in texts], pa.int64()),
    })
    n_vec = 2_000
    vecs = rng.normal(size=(n_vec, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_vec), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_vec), pa.int32()),
    })
    return t


def _publish(tmp: str, final: str) -> str:
    with open(os.path.join(tmp, "_DONE"), "w") as f:
        f.write("ok\n")
    shutil.rmtree(final, ignore_errors=True)
    os.rename(tmp, final)
    return final


def _ready(path: str) -> bool:
    return os.path.exists(os.path.join(path, "_DONE"))


def base_dir(work: str) -> str:
    """The sf0.1-shaped table set, generated once per work directory."""
    final = os.path.join(work, "data", BASE_VERSION)
    if _ready(final):
        return final
    tmp = final + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for name, table in _base_tables(np.random.default_rng(BASE_DATA_SEED)).items():
        _write(table, os.path.join(tmp, f"{name}.parquet"))
    return _publish(tmp, final)


def scaled_dir(work: str) -> str:
    """``base`` with lineitem/orders replicated SCALE times (shifted keys)."""
    final = os.path.join(work, "data", SCALE_VERSION)
    if _ready(final):
        return final
    src = base_dir(work)
    tmp = final + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for name in ("region", "nation", "customer", "supplier", "part",
                 "events", "documents", "embeddings"):
        shutil.copy(os.path.join(src, f"{name}.parquet"), tmp)
    for name, key in (("lineitem", "l_orderkey"), ("orders", "o_orderkey")):
        table = pq.read_table(os.path.join(src, f"{name}.parquet"))
        keys = table.column(key).to_numpy()
        stride = int(keys.max()) + 1
        at = table.schema.get_field_index(key)
        path = os.path.join(tmp, f"{name}.parquet")
        with pq.ParquetWriter(path, table.schema, compression="snappy") as w:
            for i in range(SCALE):
                w.write_table(table.set_column(at, key, pa.array(keys + i * stride)))
    return _publish(tmp, final)


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs
    )


# --------------------------------------------------------------------------
# lake workload inputs
# --------------------------------------------------------------------------

@dataclass
class LakeInputs:
    root: str
    csv: str  # ingest input (no partition column: the pipeline derives it)
    warm_csv: str  # the first WARM_ROWS rows of ``csv``, for the untimed warm-up
    base_parquet: str  # the same rows as Parquet: oracle input and user bytes
    batches: list[str]  # append batches, Parquet, each spans every month
    predicates: list[str]  # pruning predicates, valid in Spark SQL and DuckDB


def _lake_rows(rng, first_key: int, n: int) -> pa.Table:
    month = rng.integers(0, len(LAKE_MONTHS), n)
    # every batch spans every partition: the first rows cycle the months
    month[: len(LAKE_MONTHS)] = np.arange(len(LAKE_MONTHS))
    day = rng.integers(0, 28, n)
    ship = np.array(
        [np.datetime64(f"{LAKE_MONTHS[m]}-01", "D") + d for m, d in zip(month, day)]
    )
    return pa.table({
        "l_orderkey": pa.array(first_key + np.arange(n), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, 20_000, n), pa.int64()),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n)],
        "l_shipdate": pa.array(ship, pa.date32()),
    })


def _lake_predicate(rng, kind: int) -> str:
    """Predicate shape ``kind`` (cycled, so every seed runs the same mix of
    shapes and about the same selectivity) with seeded months and bounds."""
    i = int(rng.integers(0, len(LAKE_MONTHS) - 1))
    m = LAKE_MONTHS[i]
    if kind == 0:
        return f"ship_month = '{m}' AND l_quantity <= {int(rng.integers(20, 31))}"
    if kind == 1:
        return f"ship_month >= '{m}' AND ship_month <= '{LAKE_MONTHS[i + 1]}'"
    lo = int(rng.integers(40_000, 60_001))
    return f"ship_month = '{m}' AND l_extendedprice >= {lo}.0"


def lake_inputs(work: str, seed: int) -> LakeInputs:
    final = os.path.join(work, "lake-inputs", f"{LAKE_VERSION}-seed-{seed}")
    if not _ready(final):
        rng = np.random.default_rng([seed, 7])
        tmp = final + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        base = _lake_rows(rng, 0, LAKE_BASE_ROWS)
        opts = pacsv.WriteOptions(include_header=True)
        pacsv.write_csv(base, os.path.join(tmp, "base.csv"), write_options=opts)
        pacsv.write_csv(base.slice(0, LAKE_WARM_ROWS), os.path.join(tmp, "warm.csv"),
                        write_options=opts)
        _write(base, os.path.join(tmp, "base.parquet"))
        key = LAKE_BASE_ROWS
        for i in range(LAKE_BATCHES):
            _write(_lake_rows(rng, key, LAKE_BATCH_ROWS),
                   os.path.join(tmp, f"batch-{i:03d}.parquet"))
            key += LAKE_BATCH_ROWS
        preds = [_lake_predicate(rng, i % 3) for i in range(LAKE_PREDICATES)]
        with open(os.path.join(tmp, "predicates.json"), "w") as f:
            json.dump(preds, f)
        _publish(tmp, final)
    with open(os.path.join(final, "predicates.json")) as f:
        preds = json.load(f)
    return LakeInputs(
        root=final,
        csv=os.path.join(final, "base.csv"),
        warm_csv=os.path.join(final, "warm.csv"),
        base_parquet=os.path.join(final, "base.parquet"),
        batches=[os.path.join(final, f"batch-{i:03d}.parquet") for i in range(LAKE_BATCHES)],
        predicates=preds,
    )
