"""trike_spark — a PySpark-native analytics engine with the capabilities of
mbta/trike (streaming ingest → CloudEvent → ordered keyed sink) plus the
batch-relational and LLM-data-pipeline surface required for 100 TB-scale
training-data work.

Design stance (see SURVEY.md):
  * DataFrame/SQL first — every operator is declared logically and Catalyst
    picks the physical plan (pushdown, pruning, join strategy, AQE).
  * Zero row-at-a-time Python UDFs in any hot path; the only Python-side
    compute is Arrow-batched ``applyInPandas(WithState)`` for the two ops
    Spark genuinely lacks (delimiter framing with carry-over state, and the
    stale-session timer of trike's proxy — reference lib/trike/proxy.ex).
  * Streaming = Structured Streaming; batch and stream share the same
    column-expression functions so the oracle-checked batch results prove
    the streaming semantics.
  * A Python worker re-reads an import archive's directory only when the
    archive changed (``zipimport_guard``, installed on import), not on
    every task.
"""

from trike_spark import zipimport_guard
from trike_spark.session import get_spark  # noqa: F401

zipimport_guard.install()

__version__ = "0.1.0"
