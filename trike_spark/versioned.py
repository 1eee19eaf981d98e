"""Minimal snapshot-versioned parquet tables (the Iceberg/Delta core idea
reduced to its essentials): every commit writes a new immutable data
directory plus a JSON manifest; readers pin a manifest, never a directory
listing. That one indirection buys the three properties object-store
analytics needs:

  * **Atomic commits** — a half-written data directory is invisible until
    its manifest lands (manifest write is a single small-file PUT);
  * **Snapshot isolation / time travel** — a reader holding version N is
    untouched by later appends; `read_version(path, n)` reproduces any
    historical state exactly;
  * **O(1) planning** — the file list comes from the manifest, not a
    recursive listing of an ever-growing directory tree (the listing cost
    that kills plain-directory tables at 100 TB).

Not implemented (documented, deliberate): concurrent-writer conflict
resolution (Iceberg's optimistic swap on the catalog pointer) — single
writer is assumed, which matches a scheduled-pipeline deployment.
Column-level manifest stats ARE implemented (``commit_with_stats`` /
``read_version_pruned``): manifest min/max prune whole data directories
at planning time, parquet footers then prune row groups within the
survivors (``write_zorder`` makes those tight).
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame, SparkSession

_MANIFEST_DIR = "_manifests"


def _manifest_path(path: str, version: int) -> str:
    return os.path.join(path, _MANIFEST_DIR, f"v{version:06d}.json")


def _schema_key(schema_json: str) -> list[tuple[str, str]]:
    """(name, type) pairs with nullability stripped — the part of a schema
    a parquet union actually cares about."""
    fields = json.loads(schema_json)["fields"]
    return [(f["name"], json.dumps(f["type"], sort_keys=True)) for f in fields]


def current_version(path: str) -> int:
    """Highest committed version, or 0 if the table doesn't exist yet."""
    mdir = os.path.join(path, _MANIFEST_DIR)
    if not os.path.isdir(mdir):
        return 0
    versions = [
        int(f[1:-5]) for f in os.listdir(mdir) if f.startswith("v") and f.endswith(".json")
    ]
    return max(versions, default=0)


def commit(df: DataFrame, path: str, mode: str = "append") -> int:
    """Write `df` as a new table version; returns the version number.

    mode="append": the new snapshot = previous snapshot's files + the new
    data directory. mode="overwrite": the new snapshot = the new data
    directory only (logical replace — old files stay on disk for time
    travel; a retention job deletes directories unreferenced by any kept
    manifest, exactly like VACUUM / expire_snapshots)."""
    if mode not in ("append", "overwrite"):
        raise ValueError(f"mode must be append|overwrite, got {mode!r}")
    prev = current_version(path)
    if mode == "append" and prev > 0:
        # schema contract: an append must match the table's recorded
        # column names and types — a silently-divergent parquet union
        # corrupts every later read. Nullability is deliberately NOT part
        # of the contract (parquet unions are insensitive to it, and the
        # same aggregate flips nullable across plan shapes). Widening or
        # renaming routes through mode="overwrite" (a new logical
        # generation), mirroring non-additive scan_schema_evolution.
        with open(_manifest_path(path, prev)) as f:
            prev_schema = json.load(f).get("schema")
        if prev_schema is not None and _schema_key(prev_schema) != _schema_key(
            df.schema.json()
        ):
            raise ValueError(
                "append schema does not match table schema; use "
                "mode='overwrite' for an evolution commit"
            )
    version = prev + 1
    data_dir = os.path.join(path, f"data-v{version:06d}")
    df.write.mode("errorifexists").parquet(data_dir)

    dirs = [f"data-v{version:06d}"]
    deletes: list[dict] = []
    if mode == "append" and prev > 0:
        with open(_manifest_path(path, prev)) as f:
            prev_manifest = json.load(f)
        dirs = prev_manifest["data_dirs"] + dirs
        # carry delete vectors forward: each still applies only to the data
        # dirs it was scoped to at delete time, so the new append is
        # untouched (re-inserting a deleted key works, Iceberg
        # sequence-number semantics)
        deletes = prev_manifest.get("deletes", [])

    os.makedirs(os.path.join(path, _MANIFEST_DIR), exist_ok=True)
    manifest = {
        "version": version,
        "parent": prev or None,
        "mode": mode,
        "data_dirs": dirs,
        "deletes": deletes,
        "schema": df.schema.json(),
        "committed_at": time.time(),
    }
    # single-file atomic publish: write sidecar, rename into place
    tmp = _manifest_path(path, version) + ".tmp"
    with open(tmp, "w") as f:
        json.dump(manifest, f)
    os.rename(tmp, _manifest_path(path, version))
    return version


def read_version(spark: SparkSession, path: str, version: int | None = None) -> DataFrame:
    """Read a pinned snapshot (default: latest). The plan's file set comes
    from the manifest, so later commits cannot change this DataFrame —
    snapshot isolation without locks.

    Merge-on-read: if the manifest carries delete vectors
    (:func:`delete_where_mor`), each data directory is anti-joined against
    exactly the vectors scoped to it — data dirs appended AFTER a delete
    are untouched, so a deleted key can be legitimately re-inserted. The
    anti-join keys are tiny (the vector holds keys, not rows), so the read
    tax is one broadcast-sized join per vector until
    :func:`compact_deletes` folds them away."""
    v = version if version is not None else current_version(path)
    if v < 1:
        raise FileNotFoundError(f"no committed version at {path}")
    with open(_manifest_path(path, v)) as f:
        manifest = json.load(f)
    deletes = manifest.get("deletes", [])
    if not deletes:
        dirs = [os.path.join(path, d) for d in manifest["data_dirs"]]
        return spark.read.parquet(*dirs)
    by_entry = {e["dir"]: e for e in deletes}
    groups: dict[tuple[str, ...], list[str]] = {}
    for d in manifest["data_dirs"]:
        applicable = tuple(
            sorted(e["dir"] for e in deletes if d in e["applies_to"])
        )
        groups.setdefault(applicable, []).append(d)
    parts = []
    for applicable in sorted(groups):
        df = spark.read.parquet(*[os.path.join(path, g) for g in groups[applicable]])
        for ddir in applicable:
            entry = by_entry[ddir]
            keys = spark.read.parquet(os.path.join(path, ddir))
            df = df.join(keys, on=entry["key_cols"], how="left_anti")
        parts.append(df)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def history(path: str) -> list[dict]:
    """All manifests, oldest first — the table's commit log."""
    out = []
    for v in range(1, current_version(path) + 1):
        with open(_manifest_path(path, v)) as f:
            out.append(json.load(f))
    return out


def read_incremental(
    spark: SparkSession, path: str, since_version: int
) -> tuple[DataFrame | None, int]:
    """Incremental consumption: rows added strictly AFTER `since_version`
    (the manifest log is the change log — append-mode commits only).
    Returns (DataFrame or None if nothing new, high-water version to
    store). The consumer persists the returned version as its checkpoint
    and calls again later — the batch analog of a streaming offset, and
    how downstream jobs avoid re-reading a 100 TB table to pick up a 1 GB
    delta."""
    latest = current_version(path)
    if latest <= since_version:
        return None, since_version
    new_dirs: list[str] = []
    for v in range(since_version + 1, latest + 1):
        with open(_manifest_path(path, v)) as f:
            m = json.load(f)
        if m["mode"] != "append":
            # an overwrite rewrites history and a MOR delete removes rows;
            # neither fits an append-only delta — consumers must resync
            # from the full snapshot rather than silently miss changes
            raise ValueError(
                f"version {v} is mode={m['mode']!r}; incremental read is "
                "not well-defined across it — resync from read_version()"
            )
        new_dirs.append(os.path.join(path, f"data-v{v:06d}"))
    return spark.read.parquet(*new_dirs), latest


def foreach_batch_committer(path: str):
    """Exactly-once streaming sink into a versioned table: use as
    ``writeStream.foreachBatch(foreach_batch_committer(path))``.

    foreachBatch is at-least-once — after a failure the same (batchId,
    data) pair is re-delivered. Idempotence comes from recording the
    batchId in the manifest and skipping batches already committed: the
    (check, commit) pair is safe because Structured Streaming serializes
    foreachBatch calls per query, and the manifest publish is atomic. This
    is the standard exactly-once recipe for arbitrary sinks (the batchId
    ledger), here landing in the same snapshot/time-travel table the batch
    side reads."""

    def _commit(df: DataFrame, batch_id: int) -> None:
        for m in history(path):
            if m.get("batch_id") == batch_id:
                return  # replay of an already-committed micro-batch
        v = commit(df, path, mode="append")
        mp = _manifest_path(path, v)
        with open(mp) as f:
            manifest = json.load(f)
        manifest["batch_id"] = batch_id
        tmp = mp + ".tmp"
        with open(tmp, "w") as f:
            json.dump(manifest, f)
        os.rename(tmp, mp)

    return _commit


def expire_snapshots(path: str, keep_last_n: int = 2) -> dict:
    """The VACUUM / expire_snapshots retention job the commit docstring
    promises: drop manifests older than the newest ``keep_last_n``
    versions and delete every ``data-v*`` directory no KEPT manifest
    references. Time travel shrinks to the retention window; the current
    snapshot is never touched (``keep_last_n`` is clamped to ≥ 1).

    Ordering is the crash-safe one: expired MANIFESTS are removed first,
    then the now-unreferenced data — a crash mid-way leaves either extra
    (harmless, rerun) or orphaned-but-unreachable data, never a kept
    manifest pointing at deleted files. Returns a summary dict
    ``{kept_versions, expired_versions, deleted_dirs}``."""
    import shutil

    keep_last_n = max(1, keep_last_n)
    cur = current_version(path)
    if cur == 0:
        return {"kept_versions": [], "expired_versions": [], "deleted_dirs": []}
    cutoff = max(1, cur - keep_last_n + 1)
    kept = list(range(cutoff, cur + 1))
    # earlier expiries may already have removed low versions — rerunning
    # the retention job must be idempotent
    expired = [v for v in range(1, cutoff) if os.path.exists(_manifest_path(path, v))]

    referenced: set[str] = set()
    for v in kept:
        with open(_manifest_path(path, v)) as f:
            m = json.load(f)
        referenced.update(m["data_dirs"])
        referenced.update(e["dir"] for e in m.get("deletes", []))

    for v in expired:
        os.remove(_manifest_path(path, v))

    deleted = []
    for entry in sorted(os.listdir(path)):
        if (
            entry.startswith("data-v") or entry.startswith("delete-v")
        ) and entry not in referenced:
            shutil.rmtree(os.path.join(path, entry))
            deleted.append(entry)
    return {
        "kept_versions": kept,
        "expired_versions": expired,
        "deleted_dirs": deleted,
    }


def delete_where(spark: SparkSession, path: str, condition) -> int:
    """Row-level delete (the GDPR right-to-be-forgotten primitive): commit
    a new OVERWRITE snapshot containing the current snapshot minus rows
    matching ``condition`` (a Column or SQL string). Like Delta's DELETE
    this is copy-on-write — matching files are logically replaced, the new
    version simply omits the rows; at scale you'd rewrite only the files
    whose footer stats can contain matches (the manifest-stat pruning
    noted as deliberately out of scope).

    Erasure semantics: the rows vanish from the new version immediately,
    but remain reachable via time travel until ``expire_snapshots``
    retires the pre-delete versions — full compliance = delete_where +
    retention window expiry, exactly the Delta VACUUM story. Returns the
    new version number."""
    from pyspark.sql import functions as F

    cond = F.expr(condition) if isinstance(condition, str) else condition
    cur = read_version(spark, path)
    return commit(cur.filter(~cond), path, mode="overwrite")


def delete_where_mor(
    spark: SparkSession, path: str, condition, key_cols: list[str]
) -> int:
    """Merge-on-read row deletion (Delta deletion vectors / Iceberg
    equality deletes): instead of rewriting the snapshot (copy-on-write,
    :func:`delete_where`), commit a small DELETE VECTOR — the matching
    rows' keys — and let readers anti-join it at scan time. Write cost is
    the size of the deleted-key set, not the table; the trade is a per-
    vector read tax that :func:`compact_deletes` retires.

    Scoping follows Iceberg sequence semantics: the vector applies only to
    data directories present at delete time, so rows appended afterwards —
    including re-inserts of a deleted key — are untouched. At 100 TB this
    is the difference between a kilobyte PUT and a multi-terabyte rewrite
    for every GDPR erasure request."""
    from pyspark.sql import functions as F

    cond = F.expr(condition) if isinstance(condition, str) else condition
    prev = current_version(path)
    if prev < 1:
        raise FileNotFoundError(f"no committed version at {path}")
    # keys visible NOW (prior vectors already applied), deduped
    keys = read_version(spark, path).filter(cond).select(*key_cols).distinct()
    return delete_keys_mor(path, keys, key_cols)


def delete_keys_mor(path: str, keys: DataFrame, key_cols: list[str]) -> int:
    """Commit an explicit key set as a delete vector (the primitive under
    :func:`delete_where_mor`, and what a CDC sink calls directly with the
    batch's delete keys). The vector is scoped to the data directories
    present NOW."""
    prev = current_version(path)
    if prev < 1:
        raise FileNotFoundError(f"no committed version at {path}")
    version = prev + 1
    delete_dir = f"delete-v{version:06d}"
    keys.select(*key_cols).distinct().write.mode("errorifexists").parquet(
        os.path.join(path, delete_dir)
    )
    with open(_manifest_path(path, prev)) as f:
        prev_manifest = json.load(f)
    manifest = {
        "version": version,
        "parent": prev,
        "mode": "delete",
        "data_dirs": prev_manifest["data_dirs"],
        "deletes": prev_manifest.get("deletes", [])
        + [
            {
                "dir": delete_dir,
                "key_cols": list(key_cols),
                "applies_to": prev_manifest["data_dirs"],
            }
        ],
        "schema": prev_manifest.get("schema"),
        "committed_at": time.time(),
    }
    tmp = _manifest_path(path, version) + ".tmp"
    with open(tmp, "w") as f:
        json.dump(manifest, f)
    os.rename(tmp, _manifest_path(path, version))
    return version


def foreach_batch_cdc_mor(path: str, key_cols: list[str]):
    """Streaming CDC sink with merge-on-read deletes: use as
    ``writeStream.foreachBatch(foreach_batch_cdc_mor(path, keys))`` on a
    change stream carrying an ``op`` column ('insert' | 'delete').

    Per micro-batch, delete ops commit a vector against the PRE-batch
    state and insert ops append a fresh data directory — no existing file
    is ever rewritten, so the sink's write cost tracks the change volume,
    not the table (the streaming face of :func:`delete_where_mor`). An
    insert whose key was deleted in the same batch survives (deletes are
    scoped before the append lands). Idempotence: the batch_id ledger
    skips fully-committed batches; a crash between the delete and insert
    commits replays into a duplicate delete vector, which is VISIBLY a
    no-op (same keys, same scope) — the resolved state is exactly-once
    even though version numbers may differ."""
    from pyspark.sql import functions as F

    def _apply(df: DataFrame, batch_id: int) -> None:
        for m in history(path):
            if m.get("batch_id") == batch_id:
                return  # replay of an already-committed micro-batch
        dels = df.filter(F.col("op") == "delete").select(*key_cols).distinct()
        ins = df.filter(F.col("op") == "insert").drop("op")
        last_v = None
        if dels.limit(1).count() > 0 and current_version(path) >= 1:
            last_v = delete_keys_mor(path, dels, key_cols)
        if ins.limit(1).count() > 0:
            last_v = commit(ins, path, mode="append")
        if last_v is None:
            return  # empty batch: nothing to stamp; replay is free
        mp = _manifest_path(path, last_v)
        with open(mp) as f:
            manifest = json.load(f)
        manifest["batch_id"] = batch_id
        tmp = mp + ".tmp"
        with open(tmp, "w") as f:
            json.dump(manifest, f)
        os.rename(tmp, mp)

    return _apply


def compact_deletes(spark: SparkSession, path: str) -> int:
    """Fold accumulated delete vectors into a clean snapshot (the
    maintenance half of merge-on-read): materialize the current resolved
    state and commit it as an overwrite — subsequent reads pay zero
    anti-joins, and :func:`expire_snapshots` can then retire the vectors
    with the old generations. The MOR analog of small-file compaction."""
    cur = read_version(spark, path)
    return commit(cur, path, mode="overwrite")


def commit_with_stats(
    df: DataFrame, path: str, stats_cols: list[str], mode: str = "append"
) -> int:
    """Commit plus Iceberg-style manifest column stats: per data
    directory, min/max for ``stats_cols`` are computed (one small agg
    over the just-written data) and recorded in the manifest, enabling
    :func:`read_version_pruned` to skip whole generations without opening
    a single parquet footer. At 100 TB this is the planning-time layer
    ABOVE parquet row-group stats: manifest stats prune directories,
    footers then prune row groups within the survivors."""
    from pyspark.sql import functions as F

    version = commit(df, path, mode=mode)
    spark = df.sparkSession
    data_dir = os.path.join(path, f"data-v{version:06d}")
    written = spark.read.parquet(data_dir)
    row = written.agg(
        *[F.min(c).alias(f"min_{c}") for c in stats_cols],
        *[F.max(c).alias(f"max_{c}") for c in stats_cols],
    ).collect()[0]
    stats = {c: [row[f"min_{c}"], row[f"max_{c}"]] for c in stats_cols}
    mp = _manifest_path(path, version)
    with open(mp) as f:
        manifest = json.load(f)
    manifest["dir_stats"] = {f"data-v{version:06d}": stats}
    if manifest["mode"] == "append" and manifest["parent"]:
        with open(_manifest_path(path, manifest["parent"])) as f:
            parent_stats = json.load(f).get("dir_stats", {})
        manifest["dir_stats"] = {**parent_stats, **manifest["dir_stats"]}
    tmp = mp + ".tmp"
    with open(tmp, "w") as f:
        json.dump(manifest, f)
    os.rename(tmp, mp)
    return version


def read_version_pruned(
    spark: SparkSession, path: str, col: str, lo, hi, version: int | None = None
) -> DataFrame:
    """Snapshot read that consults manifest stats to skip data
    directories whose [min, max] for ``col`` cannot intersect [lo, hi].
    Directories without recorded stats are conservatively read. The
    predicate itself is still applied — pruning is an optimization, never
    a semantic filter."""
    from pyspark.sql import functions as F

    v = version if version is not None else current_version(path)
    if v < 1:
        raise FileNotFoundError(f"no committed version at {path}")
    with open(_manifest_path(path, v)) as f:
        manifest = json.load(f)
    dir_stats = manifest.get("dir_stats", {})
    keep = []
    for d in manifest["data_dirs"]:
        st = dir_stats.get(d, {}).get(col)
        if st is None or not (st[1] < lo or st[0] > hi):
            keep.append(d)
    if not keep:
        # empty result with the right schema: read one dir's schema lazily
        any_dir = os.path.join(path, manifest["data_dirs"][0])
        return spark.read.parquet(any_dir).filter(F.lit(False))
    deletes = manifest.get("deletes", [])
    pred = F.col(col).between(lo, hi)
    if not deletes:
        return spark.read.parquet(*[os.path.join(path, d) for d in keep]).filter(pred)
    # MOR delete vectors keep their per-directory scope after pruning —
    # a vector must not touch rows re-inserted in later dirs (same
    # grouping as read_version; pruning is an optimization, never a
    # semantic filter).
    by_entry = {e["dir"]: e for e in deletes}
    groups: dict[tuple[str, ...], list[str]] = {}
    for d in keep:
        applicable = tuple(sorted(e["dir"] for e in deletes if d in e["applies_to"]))
        groups.setdefault(applicable, []).append(d)
    parts = []
    for applicable in sorted(groups):
        df = spark.read.parquet(
            *[os.path.join(path, g) for g in groups[applicable]]
        ).filter(pred)
        for ddir in applicable:
            entry = by_entry[ddir]
            keys = spark.read.parquet(os.path.join(path, ddir))
            df = df.join(keys, on=entry["key_cols"], how="left_anti")
        parts.append(df)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out
