"""Seeded inputs for the benchmark workloads.

Two kinds of input, both written under the benchmark's work directory
and cached there, so generation never lands in a timed region:

- ``analytic_dataset``: the ten parquet tables of the repository's sf0.1
  test data (TPC-H-style star schema plus events, documents and
  embeddings), rebuilt from its seed (42): the same draws in the same
  order give every row and value of the test data, one row group per
  table. The run seed only rotates the query order, so the 28 DuckDB
  oracles (about 40 s at this size) are digested once per dataset.
- ``raw_zone``: playlist JSON blobs from the package's own
  ``operators.fixtures.make_playlist_doc`` (50-100 items each), cached
  by (seed, size). ``stage_backlog`` lands a cached zone in a stream's
  input directory by atomic rename from a sibling staging directory, so
  the file source never lists a half-written file.
"""

from __future__ import annotations

import json
import os
import random
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42
SF01_ROWS = {
    "customer": 15_000,
    "supplier": 1_000,
    "part": 20_000,
    "orders": 150_000,
    "lineitem": 600_000,
    "events": 100_000,
    "documents": 5_000,
    "embeddings": 2_000,
}
# The order of these lists and of the draws in ``_tables`` is the test
# data generator's: reordering either changes the values drawn.
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["BUILDING", "AUTOMOBILE", "MACHINERY", "HOUSEHOLD", "FURNITURE"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["STANDARD", "SMALL", "MEDIUM", "LARGE", "ECONOMY", "PROMO"]
PART_ADJ = ["red", "blue", "small", "large", "hot", "cold", "old", "new"]
PART_NOUN = ["anvil", "widget", "gizmo", "bolt", "gear", "plate", "rod", "ring"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
# English three times as likely as each other language
LANGS = ["en", "en", "en", "de", "fr", "es", "zh"]
VOCAB = (
    "the a spark query table join group filter window data order customer part "
    "line fast slow big small hash sort merge scan agg stream batch vector key "
    "value row column"
).split()


def _days(rng: np.random.Generator, lo: str, hi: str, n: int) -> pa.Array:
    lo_d, hi_d = np.datetime64(lo, "D"), np.datetime64(hi, "D")
    span = int((hi_d - lo_d).astype(int)) + 1
    days = lo_d + rng.integers(0, span, n).astype("timedelta64[D]")
    return pa.array(days.astype("datetime64[us]"), pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _tables(rng: np.random.Generator) -> dict[str, pa.Table]:
    n = SF01_ROWS
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS}
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    c = n["customer"]
    t["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(c), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(c)],
            "c_nationkey": pa.array(rng.integers(0, 25, c), pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, c),
            "c_mktsegment": rng.choice(SEGMENTS, c),
        }
    )
    s = n["supplier"]
    t["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(s), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(s)],
            "s_nationkey": pa.array(rng.integers(0, 25, s), pa.int32()),
            "s_acctbal": _money(rng, -999.99, 9999.99, s),
        }
    )
    p = n["part"]
    t["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(p), pa.int64()),
            "p_name": [f"{a} {b}" for a, b in zip(rng.choice(PART_ADJ, p), rng.choice(PART_NOUN, p))],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, p)],
            "p_type": rng.choice(PART_TYPES, p),
            "p_size": pa.array(rng.integers(1, 51, p), pa.int32()),
            "p_retailprice": np.round(900.0 + (np.arange(p) % 1000) / 10.0, 1),
        }
    )
    o = n["orders"]
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(o), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, c, o), pa.int64()),
            "o_orderstatus": rng.choice(["O", "F", "P"], o),
            "o_totalprice": _money(rng, 1000.0, 500000.0, o),
            "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", o),
            "o_orderpriority": rng.choice(PRIORITIES, o),
        }
    )
    li = n["lineitem"]
    t["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, o, li), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, p, li), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, s, li), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, li), pa.int32()),
            "l_quantity": rng.integers(1, 51, li).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105000.0, li),
            "l_discount": np.round(rng.uniform(0.0, 0.1, li), 2),
            "l_tax": np.round(rng.uniform(0.0, 0.08, li), 2),
            "l_returnflag": rng.choice(["R", "A", "N"], li),
            "l_linestatus": rng.choice(["O", "F"], li),
            "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", li),
        }
    )
    e = n["events"]
    secs = np.sort(rng.uniform(0, 30 * 86_400, e))
    ts = (np.datetime64("2024-01-01T00:00:00", "ns") + (secs * 1e9).astype("timedelta64[ns]")).astype(
        "datetime64[us]")
    t["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(e), pa.int64()),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, 1500, e), pa.int64()),
            "event_type": rng.choice(EVENT_TYPES, e),
            "value": np.round(rng.exponential(50.0, e), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, e)],
        }
    )
    d = n["documents"]
    texts = [" ".join(rng.choice(VOCAB, int(rng.integers(10, 100)))) for _ in range(d)]
    # 5 % of the documents, at random places, are another document's text
    # plus " dup" (near-duplicates for the dedup queries)
    for i in rng.choice(d, d // 20, replace=False):
        texts[int(i)] = texts[int(rng.integers(0, d))] + " dup"
    t["documents"] = pa.table(
        {
            "doc_id": pa.array(np.arange(d), pa.int64()),
            "text": texts,
            "lang": rng.choice(LANGS, d),
            "source": [f"src{i % 20}" for i in range(d)],
            "n_chars": pa.array([len(x) for x in texts], pa.int64()),
        }
    )
    v = n["embeddings"]
    x = rng.standard_normal((v, 64)).astype(np.float32)
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    t["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(v), pa.int64()),
            "embedding": pa.array(list(x), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, v), pa.int32()),
        }
    )
    return t


def analytic_dataset(work: str) -> str:
    """Directory of the sf0.1-shape tables, generated once per work dir."""
    out = os.path.join(work, "data", f"sf0.1_seed{DATA_SEED}")
    if os.path.isdir(out):
        return out
    tmp = f"{out}.staging"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for name, table in _tables(np.random.default_rng(DATA_SEED)).items():
        # one row group per table, like the test data
        pq.write_table(table, os.path.join(tmp, f"{name}.parquet"), row_group_size=1 << 30)
    os.rename(tmp, out)
    return out


def raw_zone(work: str, seed: int, n_blobs: int) -> str:
    """Directory of ``n_blobs`` playlist blobs for ``seed``, cached."""
    out = os.path.join(work, "raw", f"seed{seed}_n{n_blobs}")
    if os.path.isdir(out):
        return out
    from spotify_serverless_etl_pipeline_engineering_with_azure_spark.operators import fixtures

    tmp = f"{out}.staging"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    rng = random.Random(seed)
    for d in range(n_blobs):
        doc = fixtures.make_playlist_doc(rng, d, rng.randint(50, 100))
        with open(os.path.join(tmp, fixtures.blob_name(d)), "w", encoding="utf-8") as f:
            json.dump(doc, f, indent=2)
    os.rename(tmp, out)
    return out


def stage_backlog(src: str, names: list[str], dst: str) -> None:
    """Land the named blobs of ``src`` in ``dst`` by copy to a sibling
    staging directory, then one atomic rename per blob."""
    staging = f"{dst.rstrip('/')}.staging"
    shutil.rmtree(staging, ignore_errors=True)
    os.makedirs(staging)
    os.makedirs(dst, exist_ok=True)
    for name in names:
        shutil.copyfile(os.path.join(src, name), os.path.join(staging, name))
    for name in names:
        os.rename(os.path.join(staging, name), os.path.join(dst, name))
    os.rmdir(staging)
