"""Seeded input generators for the benchmark.

Two kinds of input, both a pure function of the seed:

* ``write_tables`` writes the ten query tables (TPC-H-style star schema,
  ``events``, ``documents``, ``embeddings``) as parquet, with the same
  columns, types and value distributions as the repository's synthetic
  test data, at a chosen scale factor.
* ``chunk_archive`` builds an OCS chunk archive: Zipf-skewed connection
  keys, a share of heartbeats, and chunk boundaries that split frames, so
  the framing operator's carry buffer does real work. The traced
  ``ingest`` run times ``framing.frame_batch`` on it directly.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

EOT = "\x04"
HEARTBEAT = "HEARTBEAT"

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
EMB_DIM = 64


def _dates(rng: np.random.Generator, n: int, start: str, days: int) -> np.ndarray:
    base = np.datetime64(start, "D")
    return (base + rng.integers(0, days, n)).astype("datetime64[us]")


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(df: pd.DataFrame, path: str) -> None:
    pq.write_table(pa.Table.from_pandas(df, preserve_index=False), path)


def table_rows(sf: float) -> dict[str, int]:
    """Row counts per table at scale factor ``sf``; the text and vector
    tables have a floor, like the repository's test data."""
    return {
        "customer": max(1, round(150_000 * sf)),
        "supplier": max(1, round(10_000 * sf)),
        "part": max(1, round(200_000 * sf)),
        "orders": max(1, round(1_500_000 * sf)),
        "lineitem": max(1, round(6_000_000 * sf)),
        "events": max(1, round(1_000_000 * sf)),
        "users": max(2, round(15_000 * sf)),
        "documents": max(500, round(50_000 * sf)),
        "embeddings": max(500, round(20_000 * sf)),
    }


def _documents(rng: np.random.Generator, n: int) -> pd.DataFrame:
    texts: list[str] = []
    for i in range(n):
        # ~5% of documents are a near-duplicate of an earlier one (the
        # earlier text plus one extra word), so the dedup faces find pairs
        if i > 10 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            k = int(rng.integers(10, 100))
            texts.append(" ".join(rng.choice(WORDS, k)))
    return pd.DataFrame(
        {
            "doc_id": np.arange(n, dtype="int64"),
            "text": texts,
            "lang": rng.choice(LANGS, n, p=LANG_P),
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": np.array([len(t) for t in texts], dtype="int64"),
        }
    )


def write_tables(out_dir: str, sf: float, seed: int) -> dict[str, int]:
    """Write the ten query tables under ``out_dir``; returns row counts."""
    rng = np.random.default_rng([seed, 1])
    rows = table_rows(sf)
    os.makedirs(out_dir, exist_ok=True)
    nn = 25
    _write(
        pd.DataFrame(
            {"r_regionkey": np.arange(5, dtype="int32"), "r_name": REGIONS}
        ),
        os.path.join(out_dir, "region.parquet"),
    )
    _write(
        pd.DataFrame(
            {
                "n_nationkey": np.arange(nn, dtype="int32"),
                "n_name": [f"NATION_{i}" for i in range(nn)],
                "n_regionkey": (np.arange(nn) % 5).astype("int32"),
            }
        ),
        os.path.join(out_dir, "nation.parquet"),
    )
    n = rows["customer"]
    _write(
        pd.DataFrame(
            {
                "c_custkey": np.arange(n, dtype="int64"),
                "c_name": [f"Customer#{i:09d}" for i in range(n)],
                "c_nationkey": rng.integers(0, nn, n).astype("int32"),
                "c_acctbal": _money(rng, -999.99, 9999.99, n),
                "c_mktsegment": rng.choice(SEGMENTS, n),
            }
        ),
        os.path.join(out_dir, "customer.parquet"),
    )
    n = rows["supplier"]
    _write(
        pd.DataFrame(
            {
                "s_suppkey": np.arange(n, dtype="int64"),
                "s_name": [f"Supplier#{i:09d}" for i in range(n)],
                "s_nationkey": rng.integers(0, nn, n).astype("int32"),
                "s_acctbal": _money(rng, -999.99, 9999.99, n),
            }
        ),
        os.path.join(out_dir, "supplier.parquet"),
    )
    n = rows["part"]
    keys = np.arange(n, dtype="int64")
    _write(
        pd.DataFrame(
            {
                "p_partkey": keys,
                "p_name": [
                    f"{a} {b}"
                    for a, b in zip(rng.choice(PART_ADJ, n), rng.choice(PART_NOUN, n))
                ],
                "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n)],
                "p_type": rng.choice(PART_TYPES, n),
                "p_size": rng.integers(1, 51, n).astype("int32"),
                "p_retailprice": np.round(900.0 + (keys % 1000) * 0.1, 1),
            }
        ),
        os.path.join(out_dir, "part.parquet"),
    )
    n = rows["orders"]
    _write(
        pd.DataFrame(
            {
                "o_orderkey": np.arange(n, dtype="int64"),
                "o_custkey": rng.integers(0, rows["customer"], n),
                "o_orderstatus": rng.choice(["F", "O", "P"], n),
                "o_totalprice": _money(rng, 1000.0, 500000.0, n),
                "o_orderdate": _dates(rng, n, "1995-01-01", 2404),
                "o_orderpriority": rng.choice(PRIORITIES, n),
            }
        ),
        os.path.join(out_dir, "orders.parquet"),
    )
    n = rows["lineitem"]
    _write(
        pd.DataFrame(
            {
                "l_orderkey": rng.integers(0, rows["orders"], n),
                "l_partkey": rng.integers(0, rows["part"], n),
                "l_suppkey": rng.integers(0, rows["supplier"], n),
                "l_linenumber": rng.integers(1, 8, n).astype("int32"),
                "l_quantity": rng.integers(1, 51, n).astype("float64"),
                "l_extendedprice": _money(rng, 900.0, 105000.0, n),
                "l_discount": np.round(rng.uniform(0.0, 0.1, n), 2),
                "l_tax": np.round(rng.uniform(0.0, 0.08, n), 2),
                "l_returnflag": rng.choice(["A", "N", "R"], n),
                "l_linestatus": rng.choice(["F", "O"], n),
                "l_shipdate": _dates(rng, n, "1995-01-02", 2499),
            }
        ),
        os.path.join(out_dir, "lineitem.parquet"),
    )
    n = rows["events"]
    span_us = 30 * 86_400 * 1_000_000
    ts = np.sort(rng.choice(span_us, n, replace=False))
    _write(
        pd.DataFrame(
            {
                "event_id": np.arange(n, dtype="int64"),
                "ts": np.datetime64("2024-01-01", "us") + ts.astype("timedelta64[us]"),
                "user_id": rng.integers(0, rows["users"], n),
                "event_type": rng.choice(EVENT_TYPES, n),
                "value": np.round(rng.exponential(50.0, n), 2),
                "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
            }
        ),
        os.path.join(out_dir, "events.parquet"),
    )
    _write(_documents(rng, rows["documents"]), os.path.join(out_dir, "documents.parquet"))
    n = rows["embeddings"]
    vec = rng.standard_normal((n, EMB_DIM))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype("float32")
    _write(
        pd.DataFrame(
            {
                "vec_id": np.arange(n, dtype="int64"),
                "embedding": list(vec),
                "label": rng.integers(0, 10, n).astype("int32"),
            }
        ),
        os.path.join(out_dir, "embeddings.parquet"),
    )
    return rows


@dataclass
class Archive:
    """A chunk archive: chunk rows in arrival order."""

    conn_id: list[str]
    chunk: list[str]
    arrival_seq: np.ndarray


def chunk_archive(
    seed: int,
    n_chunks: int,
    n_connections: int = 64,
    zipf_s: float = 1.1,
    heartbeat_share: float = 0.2,
    frames_per_chunk: float = 2.0,
) -> Archive:
    """Build ``n_chunks`` chunk rows over ``n_connections`` keys.

    Each frame goes to a key drawn from a Zipf(``zipf_s``) law over the
    keys; ``heartbeat_share`` of frames are heartbeats; the rest carry a
    distinct OCS-shaped payload. Each key's EOT-joined byte stream is cut
    at uniformly random offsets into that key's chunks, so most cuts land
    inside a frame. Chunks of all keys are then interleaved in a random
    order that keeps each key's own order, and ``arrival_seq`` numbers
    them densely."""
    rng = np.random.default_rng([seed, 2])
    n_frames = int(n_chunks * frames_per_chunk)
    weights = 1.0 / np.arange(1, n_connections + 1) ** zipf_s
    key_of_frame = rng.choice(n_connections, n_frames, p=weights / weights.sum())
    heartbeat = rng.random(n_frames) < heartbeat_share
    secs = rng.integers(0, 86_400, n_frames)
    payload = [
        HEARTBEAT
        if hb
        else f"{i},TSCH,{s // 3600:02d}:{s // 60 % 60:02d}:{s % 60:02d},R,RLD,W"
        for i, (hb, s) in enumerate(zip(heartbeat.tolist(), secs.tolist()))
    ]
    frames_of_key: list[list[str]] = [[] for _ in range(n_connections)]
    for k, p in zip(key_of_frame.tolist(), payload):
        frames_of_key[k].append(p)
    # each key's chunk count is proportional to its bytes
    streams = [EOT.join(f) + EOT if f else "" for f in frames_of_key]
    lengths = np.array([len(s) for s in streams])
    quota = np.maximum((lengths > 0).astype(int), np.floor(n_chunks * lengths / lengths.sum()).astype(int))
    chunks_of_key: list[list[str]] = []
    for s, q in zip(streams, quota.tolist()):
        q = min(q, len(s))
        cuts = np.sort(rng.choice(np.arange(1, len(s)), q - 1, replace=False)) if q > 1 else []
        bounds = [0, *np.asarray(cuts).tolist(), len(s)]
        chunks_of_key.append([s[a:b] for a, b in zip(bounds[:-1], bounds[1:]) if b > a])
    # random interleave that preserves per-key order
    owner = np.repeat(np.arange(n_connections), [len(c) for c in chunks_of_key])
    rng.shuffle(owner)
    cursor = [0] * n_connections
    conn_ids: list[str] = []
    chunk_out: list[str] = []
    for k in owner.tolist():
        chunk_out.append(chunks_of_key[k][cursor[k]])
        cursor[k] += 1
        conn_ids.append(f"conn-{k}")
    return Archive(
        conn_id=conn_ids,
        chunk=chunk_out,
        arrival_seq=np.arange(len(chunk_out), dtype="int64"),
    )
