"""Streaming decode-quarantine throughput probe (r9 verdict item 5).

The batch face's operator path measured α = 0.84 on the documents
ladder; the streaming twin (``streaming_decode_quarantine``) is
parity-tested but had never been throughput-measured. This harness
drives the twin over the SAME write-once fixture corpus the batch face
scans (``quarantine_fixture_dir``) as a binaryFile file-stream in
micro-batches, and reports files/sec through decode → route → bounded
rollup, plus the state-store row count (must equal the closed reason
set — the bounded-state claim, asserted, not assumed).

    python tools/stream_quarantine_bench.py [--sf-dir /tmp/sf1]
                                            [--files-per-trigger 5000]

One JSON line:
    {"metric": "quarantine_stream_files_per_sec", "value": N,
     "files": F, "span_sec": S, "state_rows": 4, "batches": B, ...}

Method: the corpus write is paid OUTSIDE the timed span (marker-guarded,
exactly like the batch probe after the r8 fixture split); the span runs
from first to last micro-batch commit, so JVM/state-store start-up is
excluded and the number is steady-state ingest capacity. Complete-mode
memory sink: the aggregate output is O(reasons) rows, so sink cost is
noise by construction.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/tmp/sf1")
    ap.add_argument("--files-per-trigger", type=int, default=5000)
    ap.add_argument("--timeout", type=float, default=600.0)
    args = ap.parse_args()

    from pyspark.sql.types import (
        BinaryType,
        LongType,
        StringType,
        StructField,
        StructType,
        TimestampType,
    )

    from trike_spark.queries.multimodal import _quarantine_corpus_member
    from trike_spark.session import get_spark
    from trike_spark.streaming.analytics import streaming_decode_quarantine
    from trike_spark.io import load_table

    spark = get_spark("quarantine-stream-bench")
    import hashlib
    import os

    # Fixture build excluded from the timed span. Unlike the face's
    # per-(session, sf_dir) dir, the bench keys its corpus by sf_dir ONLY
    # so repeated probe processes reuse one write — same members, same
    # marker discipline.
    path = os.path.join(
        tempfile.gettempdir(),
        f"trike_qbench_{hashlib.md5(args.sf_dir.encode()).hexdigest()[:10]}",
    )
    marker = os.path.join(path, "_SUCCESS")
    if not os.path.exists(marker):
        import shutil

        shutil.rmtree(path, ignore_errors=True)
        os.makedirs(path, exist_ok=True)

        def _write_part(rows) -> None:
            for r in rows:
                fname, payload = _quarantine_corpus_member(int(r.doc_id))
                with open(os.path.join(path, fname), "wb") as f:
                    f.write(payload)

        load_table(spark, args.sf_dir, "documents").select("doc_id").foreachPartition(
            _write_part
        )
        with open(marker, "w"):
            pass
    n_files = sum(1 for f in os.listdir(path) if f.endswith((".png", ".jpg")))
    with open("/proc/loadavg") as f:
        loadavg = f.read().split()[:3]

    schema = StructType(
        [
            StructField("path", StringType()),
            StructField("modificationTime", TimestampType()),
            StructField("length", LongType()),
            StructField("content", BinaryType()),
        ]
    )
    stream = (
        spark.readStream.format("binaryFile")
        .schema(schema)
        .option("pathGlobFilter", "*.{png,jpg}")
        .option("maxFilesPerTrigger", args.files_per_trigger)
        .load(path)
    )
    counts = streaming_decode_quarantine(stream)
    batch_times: list[float] = []
    q = (
        counts.writeStream.format("memory")
        .queryName("quarantine_stream_bench")
        .outputMode("complete")
        .option("checkpointLocation", tempfile.mkdtemp(prefix="qstream_ckpt_"))
        .start()
    )
    deadline = time.time() + args.timeout
    done_rows = None
    try:
        while time.time() < deadline:
            if q.exception():
                raise RuntimeError(str(q.exception()))
            p = q.lastProgress
            if p and p["numInputRows"] and len(batch_times) < p["batchId"] + 1:
                batch_times.append(time.time())
            rows = spark.table("quarantine_stream_bench").collect()
            if rows and sum(r["n_docs"] for r in rows) >= n_files:
                done_rows = rows
                break
            time.sleep(0.25)
        else:
            raise SystemExit(f"timeout before all {n_files} files were rolled up")
        # bounded-state assertion: the aggregate's state store holds one
        # row per reason — O(reasons), never O(files)
        state_rows = None
        p = q.lastProgress
        if p and p.get("stateOperators"):
            state_rows = p["stateOperators"][0]["numRowsTotal"]
    finally:
        q.stop()

    reasons = {r["reason"]: (r["n_docs"], r["n_verified"]) for r in done_rows}
    assert state_rows is None or state_rows <= len(reasons) + 1, (
        f"state store holds {state_rows} rows for {len(reasons)} reasons"
    )
    span = (batch_times[-1] - batch_times[0]) if len(batch_times) > 1 else 0.0
    # steady state: exclude the first micro-batch (cold start) from the
    # file count as well as the span
    files_in_span = n_files - min(args.files_per_trigger, n_files)
    print(
        json.dumps(
            {
                "metric": "quarantine_stream_files_per_sec",
                "value": round(files_in_span / span, 1) if span > 0 else None,
                "unit": "files/sec",
                "files": n_files,
                "span_sec": round(span, 2),
                "batches": len(batch_times),
                "files_per_trigger": args.files_per_trigger,
                "state_rows": state_rows,
                "buckets": {k: list(v) for k, v in sorted(reasons.items())},
                "sf_dir": args.sf_dir,
                "loadavg": loadavg,
            }
        )
    )


if __name__ == "__main__":
    main()
