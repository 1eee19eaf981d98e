"""Local stand-in for the driver's correctness gate: run every registered
query on Spark and its oracle on DuckDB at sf0.01, compare row count, column
names, and an order-insensitive value-hash.

Usage: python tools/check_correctness.py [name ...]
"""

from __future__ import annotations

import hashlib
import math
import os
import sys

import duckdb

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

SF_DIR = os.environ.get("SPARK_GRAFT_CHECK_SF_DIR", "/root/testdata/sf0.01")
TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings".split()
)


def norm_cell(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return repr(round(v, 9))
    if isinstance(v, bytes):
        return v.hex()
    return str(v)


def value_hash(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("\x1f".join(norm_cell(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()


def main() -> int:
    from trike_spark.registry import REGISTRY, load_all_query_modules
    from trike_spark.session import get_spark

    load_all_query_modules()
    spark = get_spark("correctness-check")
    # Faces with a whole-table window (``Window.partitionBy()``) make Spark
    # WARN "No Partition Defined for Window operation!" on every plan, which
    # buries the OK/FAIL lines; this run raises just that logger to ERROR
    # (``setLevel`` on the logger object, as ``trike_spark.cache`` does; the
    # handle is held for the run)
    log4j = spark.sparkContext._jvm.org.apache.logging.log4j
    window_logger = log4j.LogManager.getLogger("org.apache.spark.sql.execution.window.WindowExec")
    window_logger.setLevel(log4j.Level.ERROR)

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")

    only = set(sys.argv[1:])
    failed = []
    for name, spec in sorted(REGISTRY.items()):
        if only and name not in only:
            continue
        try:
            sdf = spec.fn(spark, SF_DIR)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as e:
            print(f"FAIL  {name}: spark error: {e}")
            failed.append(name)
            continue
        finally:
            # free tracked localCheckpoint blocks (dedup/graph intermediates)
            from trike_spark.cache import release_checkpoints

            release_checkpoints()
        if spec.oracle is None:
            print(f"rows-only  {name}: {len(srows)} rows")
            if len(srows) == 0:
                print(f"  WARN {name}: 0 rows")
            continue
        try:
            rel = con.sql(spec.oracle)
            ocols = list(rel.columns)
            otypes = [str(t).upper() for t in rel.types]
            orows = rel.fetchall()
        except Exception as e:
            print(f"FAIL  {name}: duckdb error: {e}")
            failed.append(name)
            continue
        problems = []
        # The driver's normalizer renders engine-specific types differently
        # (round-1 lesson: DuckDB SUM(int) -> HUGEINT hashed != Spark bigint
        # even though our stringified cells matched). Fail any oracle output
        # type Spark cannot produce so the class of bug can't recur.
        bad_types = [
            f"{c}:{t}"
            for c, t in zip(ocols, otypes)
            if t in ("HUGEINT", "INT128", "UHUGEINT") or t.startswith("DECIMAL")
        ]
        if bad_types:
            problems.append(f"oracle type not Spark-comparable: {bad_types} (CAST it)")
        if len(srows) != len(orows):
            problems.append(f"rowcount spark={len(srows)} duck={len(orows)}")
        if sorted(scols) != sorted(ocols):
            problems.append(f"cols spark={sorted(scols)} duck={sorted(ocols)}")
        else:
            sh, oh = value_hash(scols, srows), value_hash(ocols, orows)
            if sh != oh:
                problems.append("value-hash mismatch")
                sset = {"\x1f".join(norm_cell(c) for c in r) for r in srows}
                oset = {"\x1f".join(norm_cell(c) for c in r) for r in orows}
                for d in list(sset - oset)[:3]:
                    print(f"    spark-only: {d!r}")
                for d in list(oset - sset)[:3]:
                    print(f"    duck-only : {d!r}")
        if problems:
            print(f"FAIL  {name}: {'; '.join(problems)}")
            failed.append(name)
        else:
            print(f"OK    {name}: {len(srows)} rows")
    print(f"\n{len(failed)} failures" + (f": {failed}" if failed else ""))
    return 1 if failed else 0


if __name__ == "__main__":
    raise SystemExit(main())
