"""Seeded synthetic inputs for the benchmark.

``write_tables`` writes the ten parquet tables the registered queries read
(TPC-H-like star schema plus events, documents and embeddings) with the
column names, physical types and value distributions of the engine's test
data. Tables come from a fixed seed so every benchmark seed sees the same
database; the benchmark seed only orders the queries.

``video_manifest`` writes the crop pipeline's input: synthetic
``gs://bucket/videos/<label>/<res>/clip_<i>.<ext>`` paths, one in ten with a
non-video extension that the extension filter drops.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLE_SEED = 42
WORDS = (
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window a spark part group "
    "big sort query fast the"
).split()
COLORS = "small red blue cold hot green large shiny".split()
NOUNS = "ring widget bolt anvil gear gizmo plate rod".split()
LABELS = ("Animation", "Gaming", "Sports", "Vlog", "Music", "News")
RESOLUTIONS = ("360P", "480P", "720P", "1080P")
VIDEO_EXTS = ("mp4", "mkv", "avi")
OTHER_EXTS = ("txt", "json", "mov")  # P2 keeps only mkv/avi/mp4


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, start, n_days, n):
    base = np.datetime64(start, "us")
    return base + rng.integers(0, n_days, n).astype("timedelta64[D]").astype("timedelta64[us]")


def _tables(sf: float) -> dict[str, pa.Table]:
    rng = np.random.default_rng(TABLE_SEED)
    n_cust, n_part, n_supp = int(150_000 * sf), int(200_000 * sf), int(10_000 * sf)
    n_ord, n_li, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_users = int(15_000 * sf)
    n_docs, n_vecs = max(500, int(50_000 * sf)), max(500, int(20_000 * sf))
    i32 = pa.int32()
    t = {}
    t["region"] = pa.table(
        {
            "r_regionkey": pa.array(range(5), i32),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), i32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
        }
    )
    t["customer"] = pa.table(
        {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": rng.choice(
                ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n_cust
            ),
        }
    )
    parts = np.arange(n_part, dtype=np.int64)
    t["part"] = pa.table(
        {
            "p_partkey": parts,
            "p_name": [
                f"{color} {noun}"
                for color, noun in zip(rng.choice(COLORS, n_part), rng.choice(NOUNS, n_part))
            ],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": rng.choice(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], n_part),
            "p_size": pa.array(rng.integers(1, 51, n_part), i32),
            "p_retailprice": np.round(900.0 + (parts % 1000) / 10.0, 2),
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }
    )
    t["orders"] = pa.table(
        {
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord),
            "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
            "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
            "o_orderdate": _days(rng, "1995-01-01", 2400, n_ord),
            "o_orderpriority": rng.choice(
                ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord
            ),
        }
    )
    t["lineitem"] = pa.table(
        {
            "l_orderkey": rng.integers(0, n_ord, n_li),
            "l_partkey": rng.integers(0, n_part, n_li),
            "l_suppkey": rng.integers(0, n_supp, n_li),
            "l_linenumber": pa.array(rng.integers(1, 8, n_li), i32),
            "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105_000.0, n_li),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], n_li),
            "l_linestatus": rng.choice(["F", "O"], n_li),
            "l_shipdate": _days(rng, "1995-01-02", 2500, n_li),
        }
    )
    span_us = 30 * 86_400 * 1_000_000
    ts = np.sort(rng.integers(0, span_us, n_ev)) + np.datetime64("2024-01-01", "us")
    t["events"] = pa.table(
        {
            "event_id": np.arange(n_ev, dtype=np.int64),
            "ts": ts,
            "user_id": rng.integers(0, n_users, n_ev),
            "event_type": rng.choice(["click", "error", "purchase", "signup", "view"], n_ev),
            "value": _money(rng, 0.01, 500.0, n_ev),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        }
    )
    # one doc in twenty is an earlier doc plus a trailing " dup" token, the
    # near-duplicate structure the dedup and MinHash queries look for
    texts = [" ".join(rng.choice(WORDS, rng.integers(10, 100))) for _ in range(n_docs)]
    for i in rng.choice(np.arange(1, n_docs), n_docs // 20, replace=False):
        texts[i] = texts[int(rng.integers(0, i))] + " dup"
    t["documents"] = pa.table(
        {
            "doc_id": np.arange(n_docs, dtype=np.int64),
            "text": texts,
            "lang": rng.choice(["en", "en", "en", "de", "es", "fr", "zh"], n_docs),
            "source": [f"src{i % 20}" for i in range(n_docs)],
            "n_chars": np.array([len(x) for x in texts], dtype=np.int64),
        }
    )
    labels = rng.integers(0, 10, n_vecs)
    centers = rng.normal(size=(10, 64))
    vecs = centers[labels] + rng.normal(scale=1.5, size=(n_vecs, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table(
        {
            "vec_id": np.arange(n_vecs, dtype=np.int64),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(labels, i32),
        }
    )
    return t


def write_tables(out_dir: str, sf: float) -> None:
    """Write every table to ``out_dir/<name>.parquet`` (atomic per file)."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in _tables(sf).items():
        tmp = os.path.join(out_dir, f".{name}.parquet.tmp")
        pq.write_table(table, tmp)
        os.replace(tmp, os.path.join(out_dir, f"{name}.parquet"))


def video_manifest(path: str, n_videos: int, seed: int) -> int:
    """Write ``n_videos`` seeded paths to ``path``; return how many carry a
    video extension (exactly nine in ten)."""
    rng = np.random.default_rng(seed)
    other = set(rng.choice(n_videos, n_videos // 10, replace=False).tolist())
    lines = []
    for i in range(n_videos):
        ext = rng.choice(OTHER_EXTS if i in other else VIDEO_EXTS)
        lines.append(
            f"gs://bucket/videos/{rng.choice(LABELS)}/{rng.choice(RESOLUTIONS)}/clip_{i}.{ext}"
        )
    with open(path, "w") as fh:
        fh.write("\n".join(lines) + "\n")
    return n_videos - len(other)
