"""Generate an sfN-equivalent probe dataset (COPIES x sf0.1) for the scale
curvature measurement in docs/BENCH_NOTES.md.

    python tools/gen_scale_probe.py [/tmp/sf1]
    python tools/gen_scale_probe.py /tmp/sf5 --copies 50 --tables orders,lineitem,embeddings

This is TIMING data, not correctness data (the oracle gate stays on the
driver-generated /root/testdata). The design goal is an honest scale-up:
Nx the rows with the SAME duplicate/cluster structure per unit of data —
naive replication would be wrong for the dedup/LSH family (every doc
would gain N-1 exact twins, turning candidate generation quadratic in the
copy count, which measures duplication, not scale). Per copy i:

  * documents.text: per-copy Caesar substitution over letters only
    (translate a..z -> rotated by i) — token counts, lengths, whitespace
    and digits are preserved, but every shingle/minhash/simhash of copy i
    differs from copy j, so cross-copy near-dup pairs are ~zero and the
    dup structure grows linearly, like a real crawl 10x larger.
  * embeddings.embedding: dimensions rotated by i positions — norms and
    within-copy distances exact-preserved, cross-copy vectors decorrelated.
  * fact/dim keys (doc_id, vec_id, event_id/user_id, *_key): shifted by
    i * stride so each copy's join/graph structure is a disjoint replica.
  * region/nation: NOT replicated — dimension tables don't grow with SF.

Honesty bounds on the rotations: the Caesar alphabet gives 26 distinct
text rotations, so ``--copies`` beyond that re-introduces exact
cross-copy twins for documents; the generator refuses documents at
copies>26 unless the table is dropped via ``--tables``. Embeddings
(round 9, for the sf25 IVF probe) extend past the 64-rotation ring with
per-copy SIGN FLIPS: copy i applies dimension rotation (i mod 64) plus a
deterministic ±1 pattern drawn from md5(i // 64) per dimension. Each
copy's transform is a signed permutation — orthogonal, so norms and all
WITHIN-copy dot products/distances are preserved exactly (the structure
per unit of data is unchanged) — while cross-copy vectors stay
decorrelated up to 64 · 2^64 copies. Copy 0..63 keep the identity flip
pattern, so ladders at or below 64 copies are byte-identical to the
pre-round-9 generator.
"""

from __future__ import annotations

import os
import string
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

SRC = "/root/testdata/sf0.1"
COPIES = 10
EMB_DIM = 64

ALL_TABLES = [
    "documents",
    "embeddings",
    "events",
    "lineitem",
    "orders",
    "customer",
    "supplier",
    "part",
]

# id strides: a power of ten comfortably above each table's max id
STRIDES = {
    "doc_id": 10_000,
    "vec_id": 10_000,
    "event_id": 1_000_000,
    "user_id": 10_000,
    "o_orderkey": 1_000_000,
    "l_orderkey": 1_000_000,
    "o_custkey": 100_000,
    "c_custkey": 100_000,
    "l_partkey": 100_000,
    "p_partkey": 100_000,
    "l_suppkey": 10_000,
    "s_suppkey": 10_000,
}


def main(
    out_dir: str = "/tmp/sf1",
    copies: int = COPIES,
    tables: list[str] | None = None,
) -> None:
    from pyspark.sql import functions as F

    from trike_spark.session import get_spark

    tables = tables or ALL_TABLES
    if "documents" in tables and copies > 26:
        raise SystemExit(
            "documents has only 26 distinct Caesar rotations: copies "
            f"{copies} > 26 would create exact cross-copy twins — drop it "
            "via --tables or lower --copies"
        )
# (embeddings copies are unbounded: rotation × sign-flip patterns give
    # 64 · 2^64 distinct signed permutations — see the module docstring)

    spark = get_spark("gen-scale-probe")
    spark.sparkContext.setLogLevel("ERROR")
    os.makedirs(out_dir, exist_ok=True)

    lower = string.ascii_lowercase
    upper = string.ascii_uppercase

    def copy_of(df, i: int, table: str):
        out = df
        for col in df.columns:
            if col in STRIDES:
                out = out.withColumn(col, F.col(col) + F.lit(i * STRIDES[col]))
        if table == "documents":
            rot = lower[i:] + lower[:i] + upper[i:] + upper[:i]
            out = out.withColumn("text", F.translate("text", lower + upper, rot))
        if table == "embeddings":
            j = i % EMB_DIM
            if j:
                out = out.withColumn(
                    "embedding",
                    F.concat(
                        F.slice("embedding", j + 1, EMB_DIM - j),
                        F.slice("embedding", 1, j),
                    ),
                )
            g = i // EMB_DIM
            if g:  # sign-flip pattern per rotation epoch (identity for i<64)
                import hashlib

                digest = hashlib.md5(f"flip{g}".encode()).digest()  # 128 bits ≥ EMB_DIM
                signs = [1.0 if (digest[d // 8] >> (d % 8)) & 1 else -1.0
                         for d in range(EMB_DIM)]
                out = out.withColumn(
                    "embedding",
                    F.zip_with(
                        "embedding",
                        F.array(*[F.lit(s) for s in signs]),
                        lambda x, s: x * s,
                    ),
                )
        return out

    for table in tables:
        src = spark.read.parquet(f"{SRC}/{table}.parquet")
        full = copy_of(src, 0, table)
        for i in range(1, copies):
            full = full.unionByName(copy_of(src, i, table))
        full.write.mode("overwrite").parquet(f"{out_dir}/{table}.parquet")
        print(f"{table}: {src.count()} -> {copies}x")

    for table in ["region", "nation"]:
        spark.read.parquet(f"{SRC}/{table}.parquet").write.mode(
            "overwrite"
        ).parquet(f"{out_dir}/{table}.parquet")
        print(f"{table}: dimension copied as-is")


if __name__ == "__main__":
    import argparse

    ap = argparse.ArgumentParser()
    ap.add_argument("out_dir", nargs="?", default="/tmp/sf1")
    ap.add_argument("--copies", type=int, default=COPIES)
    ap.add_argument(
        "--tables",
        default=None,
        help="comma list; default = all fact tables",
    )
    args = ap.parse_args()
    main(
        args.out_dir,
        copies=args.copies,
        tables=args.tables.split(",") if args.tables else None,
    )
