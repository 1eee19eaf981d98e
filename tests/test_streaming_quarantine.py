"""Decode-or-quarantine routing per file: the batch face's Arrow kernel
(magic-sniff → real PNG/JPEG decode → per-reason routing) applied to
(path, content) records must route every row to the corpus's expected
bucket. The routing is stateless, so the same kernel is append-safe on a
stream."""

from __future__ import annotations

from pyspark.sql import functions as F

from trike_spark.queries.multimodal import _quarantine_corpus_member

N_DOCS = 36  # 6 full corruption cycles: every bucket populated


def _corpus_rows() -> list[tuple[str, bytes]]:
    rows = []
    for doc_id in range(N_DOCS):
        fname, payload = _quarantine_corpus_member(doc_id)
        rows.append((f"/stream/{fname}", payload))
    return rows


def _expected_buckets() -> dict[str, tuple[int, int]]:
    """The oracle's bucket schedule, evaluated in plain Python: reason by
    doc_id % 6, n_verified = 1 for every good member."""
    out: dict[str, list[int]] = {}
    reason_of = {2: "corrupt_container", 3: "interlace_unsupported", 4: "palette_unsupported"}
    for doc_id in range(N_DOCS):
        r = reason_of.get(doc_id % 6, "ok")
        n, v = out.setdefault(r, [0, 0])
        out[r][0] = n + 1
        out[r][1] = v + (1 if r == "ok" else 0)
    return {k: (v[0], v[1]) for k, v in out.items()}


def test_streaming_quarantine_per_file_routing_is_stateless(spark):
    """The pre-aggregate stage (decode + route) must itself be append-safe:
    run the shared kernel on a batch DataFrame of the corpus and check
    every row routed to the schedule's bucket."""
    from trike_spark.queries.multimodal import (
        _QUARANTINE_SCHEMA,
        _decode_or_quarantine_batch,
    )

    df = spark.createDataFrame(_corpus_rows(), "path string, content binary")
    per = (
        df.select("path", "content")
        .mapInPandas(_decode_or_quarantine_batch, schema=_QUARANTINE_SCHEMA)
        .groupBy("reason")
        .agg(F.sum("n_docs").alias("n_docs"), F.sum("n_verified").alias("n_verified"))
    )
    got = {r["reason"]: (r["n_docs"], r["n_verified"]) for r in per.collect()}
    assert got == _expected_buckets()
