"""Versioned parquet tables: snapshot isolation + time travel via an atomic
manifest commit — the minimal transactional-table mechanics (what Delta's
`_delta_log` / Iceberg's snapshot list do) on plain files.

Why plain `spark.read.parquet(dir)` is not enough at scale:

* a writer appending part-files is VISIBLE mid-write — readers see partial
  data (and `_SUCCESS` only helps single-writer full overwrites);
* overwrite deletes files out from under running readers;
* there is no history: yesterday's corrupted load cannot be diffed against
  or rolled back.

The fix is the lakehouse trick: data files are immutable and anonymous;
what a "table" means is a MANIFEST (a JSON list of files), and a commit is
one atomic `os.rename` of the next manifest version. Readers resolve a
manifest first, then read exactly those files — they can never observe a
half-commit, because the manifest only appears after its files are fully
written. Old versions stay readable (time travel) until `vacuum`.

Layout:
    table/
      data/<commit-uuid>/part-*.parquet     (immutable once committed)
      _versions/v00000001.json              {"files": [...], "mode": ...,
                                             "schema": ..., "meta": {...}}

``schema`` is the snapshot's ``StructType.json()`` (present while every
file shares one schema), so a pinned read starts no inference job.

``meta`` is the writer's own small JSON state, published atomically with
the file list it describes — the streaming sinks keep their replay marks,
recipes, watermarks and Bloom coverage there, so a state write and its
marker are one commit, never two. :func:`latest` reads it. Meta is NOT
carried forward implicitly: each :func:`commit` / :func:`merge_commit`
records exactly the ``meta`` it is given. :func:`compact` and
:func:`rollback` copy their base manifest's meta, because they do not
change a snapshot's logical content.

Concurrency: version numbers are claimed by `os.rename` onto a name that
must not exist — the filesystem arbitrates racing writers (one wins, the
other retries onto the next number). On object stores this maps to
put-if-absent; the semantics here are the same.

Scope note: this is deliberately the MECHANICS demo for the engine (atomic
visibility, time travel, rollback, vacuum, compaction) — schema evolution
and row-level deletes live in the real table formats. :func:`compact` is
the engine's one small-file compaction: a size-targeted rewrite published
as one atomic overwrite commit.
"""

from __future__ import annotations

import glob
import json
import math
import os
import uuid

from pyspark.sql import DataFrame, SparkSession


def _versions_dir(path: str) -> str:
    return os.path.join(path, "_versions")


def _manifest_path(path: str, version: int) -> str:
    return os.path.join(_versions_dir(path), f"v{version:08d}.json")


def list_versions(path: str) -> list[int]:
    """Committed versions, ascending; [] for a table that never committed.
    Only a missing ``_versions/`` means "never committed" — any other
    listing error raises, so an unlistable store fails the caller stale
    instead of reading as a fresh table (which would restart sink state)."""
    try:
        names = os.listdir(_versions_dir(path))
    except FileNotFoundError:
        return []
    return sorted(
        int(n[1:-5]) for n in names if n.startswith("v") and n.endswith(".json")
    )


def _read_manifest(path: str, version: int) -> dict:
    with open(_manifest_path(path, version)) as f:
        return json.load(f)


def latest(path: str) -> tuple[int, dict]:
    """``(version, meta)`` of the latest commit; ``(0, {})`` for a table
    that never committed. Pair with ``read_version(spark, path, version)``
    to read the snapshot the meta describes."""
    versions = list_versions(path)
    if not versions:
        return 0, {}
    return versions[-1], _read_manifest(path, versions[-1]).get("meta", {})


def _publish(path: str, version: int, manifest: dict) -> bool:
    """Claim ``version`` with ``manifest``; False when another writer holds
    it. The claim is a rename onto a name that must not exist — the
    filesystem arbitrates racing writers (put-if-absent on object
    stores)."""
    tmp = os.path.join(_versions_dir(path), f".tmp-{uuid.uuid4().hex}.json")
    with open(tmp, "w") as f:
        json.dump({**manifest, "version": version}, f)
    target = _manifest_path(path, version)
    try:
        if os.path.exists(target):
            raise FileExistsError(target)
        os.link(tmp, target)  # link+unlink = fail-if-exists rename
        return True
    except FileExistsError:
        return False
    finally:
        os.unlink(tmp)


def _json_stat(v):
    """Manifest stats must be JSON-serializable AND order-preserving under
    the comparisons :func:`read_version_pruned` does. Timestamps/dates map
    to ISO-8601 strings (lexicographic == chronological, including mixed
    sub-second precision — '.' sorts below every digit); types with no
    such encoding (binary, Decimal) return None and the column simply
    records no bounds for that file (conservatively read, never lost
    rows)."""
    import datetime

    if isinstance(v, (datetime.datetime, datetime.date, datetime.time)):
        return v.isoformat()
    if v is None or isinstance(v, (bool, int, float, str)):
        return v
    return None


def _collect_file_stats(files: list[str], stats_columns: list[str]) -> dict:
    """Per-file min/max for ``stats_columns`` from parquet FOOTERS — the
    Iceberg/Delta trick of keeping data-skipping statistics in the table
    METADATA so pruned reads never touch even the footers. Driver cost:
    one footer read per newly staged file, once, at commit time."""
    import pyarrow.parquet as pq

    out = {}
    for f in files:
        md = pq.read_metadata(f)
        schema = md.schema.to_arrow_schema()
        entry = {}
        for c in stats_columns:
            idx = schema.get_field_index(c)
            if idx < 0:
                continue
            stats = [
                md.row_group(g).column(idx).statistics
                for g in range(md.num_row_groups)
            ]
            # empty part files (zero row groups) carry no bounds; a file
            # missing stats for any row group records none at all
            if not stats or any(s is None or not s.has_min_max for s in stats):
                continue
            lo = _json_stat(min(s.min for s in stats))
            hi = _json_stat(max(s.max for s in stats))
            if lo is None or hi is None:
                continue  # type has no JSON-safe ordered encoding
            entry[c] = {"min": lo, "max": hi}
        out[f] = entry
    return out


class ConcurrentCommitError(RuntimeError):
    """Raised when ``expected_base`` no longer matches the latest version:
    another writer committed between the caller's snapshot read and this
    commit, so publishing would silently discard that writer's rows."""


def commit(
    df: DataFrame,
    path: str,
    mode: str = "append",
    stats_columns: list[str] | None = None,
    expected_base: int | None = None,
    meta: dict | None = None,
) -> int:
    """Write ``df`` as a new table version; returns the committed version.

    Steps: stage the part files into an immutable per-commit directory,
    build the new file list (previous version's files + staged for
    ``append``; staged only for ``overwrite``), then atomically publish the
    manifest. A reader that raced the commit keeps resolving the previous
    version; a crash before the rename leaves only unreferenced staged
    files (cleaned by :func:`vacuum`), never a corrupt table.

    ``expected_base`` is optimistic concurrency control for read-modify-
    write commits (:func:`merge_commit`): the commit publishes only if the
    latest version still equals it, else :class:`ConcurrentCommitError` —
    an append landing mid-merge must force a re-merge, not vanish from the
    overwritten snapshot. Plain appends don't need it (the retry loop
    rebases their file list automatically).

    ``meta`` (JSON-serializable) is recorded in this version's manifest
    only — see the module doc."""
    if mode not in ("append", "overwrite"):
        raise ValueError(f"mode must be append|overwrite, got {mode!r}")
    os.makedirs(_versions_dir(path), exist_ok=True)
    stage = os.path.join(path, "data", uuid.uuid4().hex)
    df.write.parquet(stage)
    staged = sorted(
        os.path.join(stage, f)
        for f in os.listdir(stage)
        if f.endswith(".parquet")
    )

    schema_str = df.schema.simpleString()
    schema_json = df.schema.json()
    staged_stats = (
        _collect_file_stats(staged, stats_columns) if stats_columns else {}
    )
    while True:
        versions = list_versions(path)
        latest = versions[-1] if versions else 0
        if expected_base is not None and latest != expected_base:
            raise ConcurrentCommitError(
                f"base moved under {path}: expected v{expected_base}, "
                f"latest is v{latest}"
            )
        next_v = latest + 1
        files, schemas, fstats = staged, [schema_str], dict(staged_stats)
        if mode == "append" and versions:
            prev = _read_manifest(path, versions[-1])
            files = prev["files"] + staged
            # track the distinct schemas contributing to this snapshot so
            # readers know when a merged-schema scan is needed (schema
            # evolution across appends) and when the cheap single-schema
            # path suffices
            schemas = sorted(set(prev.get("schemas", [])) | {schema_str})
            fstats = {**prev.get("file_stats", {}), **staged_stats}
        manifest = {
            "files": files,
            "mode": mode,
            "schemas": schemas,
            "file_stats": fstats,
            "meta": meta or {},
        }
        if len(schemas) == 1:
            manifest["schema"] = schema_json
        if _publish(path, next_v, manifest):
            return next_v
        # another writer claimed next_v: recompute base and retry


def read_version(
    spark: SparkSession, path: str, version: int | None = None
) -> DataFrame:
    """Snapshot read: resolve a manifest (latest by default), then scan
    exactly its files — immune to concurrent commits and half-writes.
    An empty file list yields an empty frame only if the manifest says so;
    a table with no versions is an error (distinguish 'no table' from
    'empty table' — the parquet_or_none lesson)."""
    versions = list_versions(path)
    if not versions:
        raise FileNotFoundError(f"no committed versions under {path}")
    v = versions[-1] if version is None else version
    if v not in versions:
        raise FileNotFoundError(f"version {v} not in {versions}")
    manifest = _read_manifest(path, v)
    return _reader(spark, manifest).parquet(*manifest["files"])


def _reader(spark: SparkSession, manifest: dict):
    """The reader for a manifest's files. A single-schema snapshot whose
    manifest records the schema (``StructType.json``, which round-trips
    any column name) reads with it — no footer-inference job. Appends that
    evolved the schema union the footer schemas so columns absent from
    older files surface as NULL (paid only when the manifest says it is
    needed); manifests written before the schema was recorded infer it."""
    from pyspark.sql.types import StructType

    reader = spark.read
    if len(manifest.get("schemas", [""])) > 1:
        return reader.option("mergeSchema", "true")
    if "schema" in manifest:
        return reader.schema(StructType.fromJson(json.loads(manifest["schema"])))
    return reader


def read_version_pruned(
    spark: SparkSession,
    path: str,
    column: str,
    lo,
    hi,
    version: int | None = None,
) -> tuple[DataFrame, dict]:
    """Snapshot read with METADATA-layer file pruning: files whose
    manifest-recorded ``[min, max]`` for ``column`` misses ``[lo, hi]``
    are dropped before the scan plans — no footer reads, no task
    scheduling for skipped files (the Iceberg/Delta scan path; commit
    with ``stats_columns=[column]`` to record the bounds). Files without
    recorded stats are conservatively READ (bounds admit false positives,
    never lost rows). Returns ``(df, {files_read, files_total})``."""
    from pyspark.sql import functions as F

    versions = list_versions(path)
    if not versions:
        raise FileNotFoundError(f"no committed versions under {path}")
    v = versions[-1] if version is None else version
    manifest = _read_manifest(path, v)
    fstats = manifest.get("file_stats", {})
    # compare in the manifest's JSON encoding (timestamps are stored as
    # ISO strings): normalize the caller's bounds the same way
    jlo, jhi = _json_stat(lo), _json_stat(hi)
    prunable = jlo is not None and jhi is not None
    keep = []
    for f in manifest["files"]:
        s = fstats.get(f, {}).get(column)
        if s is None or not prunable or (s["max"] >= jlo and s["min"] <= jhi):
            keep.append(f)
    stats = {"files_read": len(keep), "files_total": len(manifest["files"])}
    reader = _reader(spark, manifest)
    if not keep:
        empty = reader.parquet(*manifest["files"]).where(F.lit(False))
        return empty, stats
    df = reader.parquet(*keep).where(
        (F.col(column) >= F.lit(lo)) & (F.col(column) <= F.lit(hi))
    )
    return df, stats


def rollback(path: str, to_version: int) -> int:
    """Commit a NEW version whose file list equals ``to_version``'s —
    history is append-only (the audit trail survives the rollback),
    exactly like Delta's RESTORE."""
    manifest = _read_manifest(path, to_version)
    # carry the snapshot's reader metadata: without the schemas list a
    # rollback to a schema-evolved snapshot would read without mergeSchema
    # and silently drop the evolved columns (and later appends would seed
    # their schema tracking from nothing); meta describes the same content
    restored = {
        "files": manifest["files"],
        "mode": "rollback",
        "schemas": manifest.get("schemas", []),
        "file_stats": manifest.get("file_stats", {}),
        "meta": manifest.get("meta", {}),
    }
    if "schema" in manifest:
        restored["schema"] = manifest["schema"]
    while True:
        next_v = list_versions(path)[-1] + 1
        if _publish(path, next_v, restored):
            return next_v


def _data_file_key(p: str) -> tuple[str, str, str]:
    """Spelling-proof identity of a data file WITHIN its table: the last
    three path components (``data/<commit-uuid>/<part-file>``). Raw
    path-string comparison is a data-loss trap — a manifest written from
    one spelling of the table path (relative, './', symlink) and a vacuum
    called with another would mark every referenced file unreferenced."""
    parts = os.path.normpath(p).split(os.sep)
    return tuple(parts[-3:])


def vacuum(path: str, keep_versions: int = 1) -> dict:
    """Delete data files unreferenced by the ``keep_versions`` newest
    manifests, and the expired manifests themselves. Time travel works
    within the retained window; a crashed commit's orphaned stage files
    are collected here too. Returns ``{files_deleted, versions_dropped}``."""
    versions = list_versions(path)
    keep = set(versions[-keep_versions:]) if versions else set()
    referenced: set[tuple[str, str, str]] = set()
    for v in keep:
        referenced.update(
            _data_file_key(f) for f in _read_manifest(path, v)["files"]
        )
    deleted = 0
    for f in glob.glob(os.path.join(path, "data", "*", "*.parquet")):
        if _data_file_key(f) not in referenced:
            os.unlink(f)
            deleted += 1
    for d in glob.glob(os.path.join(path, "data", "*")):
        if os.path.isdir(d) and not os.listdir(d):
            os.rmdir(d)
    dropped = 0
    for v in versions:
        if v not in keep:
            os.unlink(_manifest_path(path, v))
            dropped += 1
    return {"files_deleted": deleted, "versions_dropped": dropped}


def compact(
    spark: SparkSession,
    path: str,
    dedupe_cols: list[str] | None = None,
    keep_versions: int = 2,
    group_by: list[str] | None = None,
    agg_exprs: list | None = None,
) -> dict:
    """Maintenance pass for an append-accumulating versioned table (the
    streaming sinks' index shape: one small APPEND version per
    micro-batch → long manifests, many tiny files): rewrite the latest
    snapshot as ONE atomic overwrite commit (optionally deduplicated on
    ``dedupe_cols``), then vacuum manifests/data outside
    ``keep_versions``. The output is coalesced to
    ``ceil(snapshot bytes / spark.sql.files.maxPartitionBytes)`` files —
    about one scan split per file (one file at fixture scale).

    The COMMIT is safe concurrently with the sinks: it is
    conflict-checked against the snapshot it compacted
    (``expected_base``), so a batch append landing mid-compaction forces
    a re-compact on top of it instead of silently dropping the batch's
    rows (the lost-update race). The VACUUM is where concurrent readers
    need a retention window: manifest pinning protects a reader from
    *observing* the rewrite, not from *file deletion* — a batch that
    snapshot-read the pre-compact version and is still mid-scan hits
    FileNotFoundException if that version's files are unlinked under it.
    The default ``keep_versions=2`` therefore retains the compacted-over
    snapshot's files, covering any reader that started before the
    compact landed (a reader can only pin the latest version at its
    start). ``keep_versions=1`` reclaims space fastest but is only safe
    BETWEEN batches — schedule it in the stream's own foreachBatch
    cadence, never against a live scan.

    ``group_by`` + ``agg_exprs`` compact by AGGREGATION instead of
    row-dedup — for sidecars whose rows MERGE rather than repeat, e.g.
    the substring sink's Bloom word table where per-batch ``(word_index,
    bits)`` rows combine by ``bit_or`` (readers do the same fold, so the
    aggregated rewrite is observation-equivalent while shrinking the
    table to its bounded merged form). Mutually exclusive with
    ``dedupe_cols``.
    Returns ``{version, files_deleted, versions_dropped}``."""
    if group_by and dedupe_cols:
        raise ValueError("compact: pass group_by+agg_exprs OR dedupe_cols")
    if bool(group_by) != bool(agg_exprs):
        raise ValueError("compact: group_by and agg_exprs go together")
    from data_etl_with_dbt_spark.materialize import _conf_bytes, _estimated_bytes

    split = _conf_bytes(spark, "spark.sql.files.maxPartitionBytes")
    last_err: Exception | None = None
    for _ in range(20):
        versions = list_versions(path)
        if not versions:
            return {"version": 0, "files_deleted": 0, "versions_dropped": 0}
        base = versions[-1]
        df = read_version(spark, path, base)
        meta = _read_manifest(path, base).get("meta", {})
        num_files = max(1, math.ceil((_estimated_bytes(df) or 0) / split))
        if group_by:
            df = df.groupBy(*group_by).agg(*agg_exprs)
        elif dedupe_cols:
            df = df.dropDuplicates(dedupe_cols)
        df = df.coalesce(num_files)
        try:
            v = commit(
                df, path, mode="overwrite", expected_base=base, meta=meta
            )
            stats = vacuum(path, keep_versions=keep_versions)
            return {"version": v, **stats}
        except ConcurrentCommitError as e:  # an append beat us — re-compact
            last_err = e
            continue
    raise ConcurrentCommitError(
        f"compact on {path} lost the commit race 20 times"
    ) from last_err


def merge_commit(
    df: DataFrame,
    path: str,
    key: str,
    delete_col: str | None = None,
    meta: dict | None = None,
) -> int:
    """Upsert commit (MERGE INTO semantics on the versioned table): rows in
    ``df`` replace same-``key`` rows of the latest snapshot, new keys
    append, and rows flagged true in ``delete_col`` delete their key. The
    rewritten state lands as ONE atomic overwrite commit, so readers jump
    from the old snapshot straight to the merged one.

    Copy-on-write: the whole table is rewritten (fine for dimension-sized
    tables; fact-scale MERGE wants partition-scoped rewrites — pair with
    the DAG's insert_overwrite strategy). The read side pins the previous
    manifest, so the read-merge-commit cycle is retry-safe by construction
    (no lineage cut needed). Against CONCURRENT writers the commit is
    conflict-checked (``expected_base``): an append landing between the
    snapshot read and the overwrite publish forces a re-merge from the new
    latest version instead of silently vanishing (lost update). ``meta``
    is recorded as in :func:`commit`."""
    from pyspark.sql import functions as F

    for _ in range(20):
        versions = list_versions(path)
        base = versions[-1] if versions else 0
        if base:
            current = read_version(df.sparkSession, path, base)
            kept = current.join(df.select(key).distinct(), key, "left_anti")
        else:
            kept = None
        upserts = df
        if delete_col is not None:
            upserts = df.where(
                ~F.coalesce(F.col(delete_col), F.lit(False))
            ).drop(delete_col)
        merged = kept.unionByName(upserts) if kept is not None else upserts
        try:
            return commit(
                merged, path, mode="overwrite", expected_base=base, meta=meta
            )
        except ConcurrentCommitError:
            continue  # re-merge on top of the version that beat us
    raise ConcurrentCommitError(
        f"merge_commit on {path} lost the commit race 20 times"
    )
