"""A Python worker that runs framing keeps pandas' concat FutureWarning, which
pyspark's applyInPandasWithState serializer triggers several times per trigger,
out of the executor's stderr."""

from __future__ import annotations

from datetime import datetime

import pandas as pd

from trike_spark.streaming.framing import CHUNK_SCHEMA, EOT

SERIALIZER_WARNING = (
    "The behavior of DataFrame concatenation with empty or all-NA entries is deprecated. "
    "In a future version, this will no longer exclude empty or all-NA columns when "
    "determining the result dtypes."
)


def test_framing_worker_ignores_serializer_concat_warning(spark):
    def frame_and_report(pdf: pd.DataFrame) -> pd.DataFrame:  # nested: pickled by value
        import warnings

        from trike_spark.streaming.framing import frame_batch, sorted_key_batch

        conn_id = pdf["conn_id"].iloc[0]
        out, _, _ = frame_batch(conn_id, sorted_key_batch(conn_id, [pdf]), "", 0)
        with warnings.catch_warnings(record=True) as seen:
            for message in (SERIALIZER_WARNING, "another FutureWarning"):
                warnings.warn_explicit(
                    message, FutureWarning, "serializers.py", 1,
                    module="pyspark.sql.pandas.serializers",
                )
        return pd.DataFrame(
            {
                "conn_id": [conn_id],
                "frames": [0 if out is None else len(out)],
                "shown": [[str(w.message) for w in seen]],
            }
        )

    ts = datetime(2024, 1, 1)
    chunks = spark.createDataFrame(
        [(f"c{i}", f"m{i}{EOT}", ts, 0) for i in range(4)], CHUNK_SCHEMA
    ).repartition(4, "conn_id")
    rows = (
        chunks.groupBy("conn_id")
        .applyInPandas(frame_and_report, "conn_id string, frames long, shown array<string>")
        .collect()
    )
    assert len(rows) == 4 and all(r.frames == 1 for r in rows), rows
    # the serializer's message is ignored; any other FutureWarning still shows
    assert all(r.shown == ["another FutureWarning"] for r in rows), rows
