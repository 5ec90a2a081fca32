"""Snapshot-manifest table format: ACID commits over plain parquet.

A state table rewritten whole per batch behind a crash-safe directory
swap (``streaming/pipeline.py:_commit_state``, fine for sketch-sized
state) costs O(table) per commit. Fact tables need a transactional table
format (Delta/Iceberg); neither ships with this engine, so this module
implements the core of that public design
(snapshot isolation via an immutable-manifest log — Iceberg spec v2,
Delta PROTOCOL.md) in ~300 lines over plain parquet + POSIX renames:

- **Immutable data files**: every commit writes its parquet under a fresh
  ``data/<snapshot-uuid>/`` directory; nothing is ever mutated in place.
- **Manifest log**: ``_manifests/v%08d.json`` lists the table's data files
  (with per-file row counts and column min/max lifted from the parquet
  FOOTERS via pyarrow — no data scan) plus the parent version. A reader
  resolves the newest manifest and reads exactly those files — no
  directory listing of ``data/``, which is also what makes the layout
  safe on eventually-consistent object stores.
- **Atomic commit = exclusive create** of the next manifest version
  (``open(..., 'x')``): two concurrent writers race, exactly one wins,
  the loser gets ``CommitConflictError`` and must retry on the new base
  (optimistic concurrency, same as Delta). A crash before the manifest
  lands leaves orphan data files that no reader ever sees; ``vacuum``
  deletes them.
- **Copy-on-write MERGE**: only files that actually contain a matching
  key are rewritten (found with a semi-join against ``_metadata.
  file_path``); untouched files carry over by reference. At 100 TB the
  rewrite cost is proportional to the touched key range, not the table.
- **Time travel**: any retained version re-reads bit-identically, since
  its files are immutable.

Scale notes: the driver handles only manifests (O(#files) JSON);
all row data moves through executor-side Spark jobs. File-level stats
pruning (``prune_files``) is the manifest-side twin of parquet row-group
pruning — at 100 TB it is the difference between opening 10 and 10 000
files for a selective predicate.
"""

from __future__ import annotations

import json
import os
import re
import time
import uuid
import warnings
from collections.abc import Sequence
from dataclasses import dataclass, field

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from data_engineering_project_spark.sources.tables import local_frame

_MANIFEST_DIR = "_manifests"
_DATA_DIR = "data"
_LEASE_DIR = "_leases"
_TAG_DIR = "_tags"

#: a lease older than this is a crashed writer's debris, not an in-flight
#: commit; long-running writers must refresh (re-touch) before it elapses
DEFAULT_LEASE_TIMEOUT = 900.0


def _begin_lease(table: str) -> str:
    """Register an in-flight writer: an empty uniquely-named file whose
    mtime is the heartbeat. Vacuum will not reclaim orphan data files
    while any unexpired lease exists (a writer's data lands BEFORE its
    manifest commit, so orphans are indistinguishable from in-flight
    work without this)."""
    os.makedirs(os.path.join(table, _LEASE_DIR), exist_ok=True)
    path = os.path.join(table, _LEASE_DIR, f"{uuid.uuid4().hex}.lease")
    with open(path, "x"):
        pass
    return path


def _end_lease(lease_path: str) -> None:
    try:
        os.remove(lease_path)
    except OSError:
        pass  # already reaped as expired; harmless


def _active_leases(table: str, timeout: float) -> list[str]:
    """Unexpired lease files; expired ones are reaped as a side effect."""
    ldir = os.path.join(table, _LEASE_DIR)
    if not os.path.isdir(ldir):
        return []
    now = time.time()
    active = []
    for name in os.listdir(ldir):
        path = os.path.join(ldir, name)
        try:
            age = now - os.path.getmtime(path)
        except OSError:
            continue  # concurrently removed
        if age < timeout:
            active.append(path)
        else:
            try:
                os.remove(path)  # crashed writer's debris
            except OSError:
                pass
    return active


class CommitConflictError(RuntimeError):
    """Another writer committed the same version first; retry on new base."""


class SchemaEvolutionError(ValueError):
    """The appended frame's schema is not an additive evolution of the
    table's committed schema (missing column or changed type)."""


@dataclass
class Manifest:
    version: int
    parent: int | None
    operation: str
    files: list[dict] = field(default_factory=list)  # path/rows/stats
    #: StructType.json() of the version's logical schema (None only for
    #: manifests written before schema tracking; readers fall back to
    #: parquet mergeSchema)
    schema: str | None = None
    #: commit wall-clock (unix seconds) — the TIMESTAMP AS OF resolution
    #: key; None on manifests written before timestamp tracking (readers
    #: fall back to the manifest file's mtime)
    committed_at: float | None = None

    def to_json(self) -> str:
        return json.dumps(
            {
                "version": self.version,
                "parent": self.parent,
                "operation": self.operation,
                "files": self.files,
                "schema": self.schema,
                "committed_at": self.committed_at,
            },
            indent=1,
        )


def _manifest_path(table: str, version: int) -> str:
    return os.path.join(table, _MANIFEST_DIR, f"v{version:08d}.json")


def current_version(table: str) -> int | None:
    """Newest committed version, from the manifest log (no pointer file:
    the log itself is the source of truth, versions are zero-padded so
    lexicographic order = numeric order)."""
    mdir = os.path.join(table, _MANIFEST_DIR)
    if not os.path.isdir(mdir):
        return None
    versions = [
        int(n[1:9]) for n in os.listdir(mdir) if n.startswith("v") and n.endswith(".json")
    ]
    return max(versions) if versions else None


def read_manifest(table: str, version: int | None = None) -> Manifest:
    if version is None:
        version = current_version(table)
        if version is None:
            raise FileNotFoundError(f"no committed version in {table!r}")
    with open(_manifest_path(table, version)) as fh:
        raw = json.load(fh)
    return Manifest(
        version=raw["version"],
        parent=raw["parent"],
        operation=raw["operation"],
        files=raw["files"],
        schema=raw.get("schema"),
        committed_at=raw.get("committed_at"),
    )


def resolve_as_of(table: str, ts: float) -> int:
    """TIMESTAMP AS OF resolution (Delta semantics): the newest version
    whose commit time is <= ``ts``. Commit times come from the manifest's
    ``committed_at`` stamp; manifests written before timestamp tracking
    fall back to the manifest file's mtime. Raises if the table's FIRST
    commit is after ``ts`` (nothing existed then).

    Commit times are clamped MONOTONIC non-decreasing across versions
    (Delta's rule, ADVICE r9 #3): a log can legitimately mix
    ``committed_at`` stamps with mtime fallbacks, and an mtime touched by
    a copy/rsync-without--t or an object-store migration can postdate
    stamps around it — unclamped, that resolves AS OF to a version NEWER
    than anything that existed at ``ts``. Each version's effective time
    is ``max(own time, predecessor's effective time)``; observing a raw
    time below its predecessor warns once per call site so the operator
    knows the log's wall-clock story was repaired."""
    newest = current_version(table)
    if newest is None:
        raise FileNotFoundError(f"no committed version in {table!r}")
    best = None
    prev_t: float | None = None
    clamped: list[int] = []
    for v in range(newest + 1):
        try:
            m = read_manifest(table, v)
        except FileNotFoundError:
            continue  # vacuumed-out early version
        t = m.committed_at
        if t is None:
            try:
                t = os.path.getmtime(_manifest_path(table, v))
            except OSError:
                continue
        if prev_t is not None and t < prev_t:
            clamped.append(v)
            t = prev_t
        prev_t = t
        if t <= ts:
            best = v
    if clamped:
        warnings.warn(
            f"resolve_as_of({table!r}): non-monotonic commit times at "
            f"version(s) {clamped} (stamp/mtime mix or touched mtimes); "
            "clamped to the predecessor's time",
            stacklevel=2,
        )
    if best is None:
        raise ValueError(
            f"no version of {table!r} existed at timestamp {ts}"
        )
    return best


_TAG_NAME_OK = re.compile(r"^[A-Za-z0-9._-]{1,64}$")


def _tag_path(table: str, name: str) -> str:
    if not _TAG_NAME_OK.match(name):
        raise ValueError(f"invalid tag name {name!r}")
    return os.path.join(table, _TAG_DIR, f"{name}.json")


def create_tag(
    table: str, name: str, version: int | None = None, *, replace: bool = False
) -> int:
    """Pin a committed version under a durable name (Iceberg-tag
    semantics): ``read_table(tag=...)`` resolves it, and ``vacuum`` keeps
    every file the tagged manifest references for as long as the tag
    exists — a release/audit pin that survives retention. Exclusive
    create unless ``replace``; the version must be a readable manifest."""
    if version is None:
        version = current_version(table)
        if version is None:
            raise FileNotFoundError(f"no committed version in {table!r}")
    read_manifest(table, version)  # raises if the version never committed
    path = _tag_path(table, name)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    payload = json.dumps({"name": name, "version": version})
    # both paths write a complete tmp file first, so a crash mid-write can
    # never leave a truncated tag that breaks list_tags (and with it vacuum)
    tmp = path + f".tmp.{uuid.uuid4().hex}"
    with open(tmp, "w") as fh:
        fh.write(payload)
    try:
        if replace:
            os.replace(tmp, path)
        else:
            try:
                # link(2) is atomic AND exclusive (EEXIST on conflict) — the
                # commit protocol's conflict primitive, without open('x')'s
                # create-then-write window
                os.link(tmp, path)
            except FileExistsError:
                raise
            except OSError:
                # filesystems without hardlinks (some network/FUSE mounts)
                # raise EPERM/ENOTSUP here — fall back to exclusive create,
                # preserving the FileExistsError conflict signal; the
                # non-atomic window is one small write
                with open(path, "x") as fh:
                    fh.write(payload)
    finally:
        if os.path.exists(tmp):
            os.unlink(tmp)
    return version


# a crashed create_tag (process death between tmp write and link) orphans a
# .tmp. file; anything older than this is unowned litter and gets swept
_TAG_TMP_TTL_SECONDS = 3600.0


def _sweep_stale_tag_tmps(tdir: str) -> None:
    import time

    cutoff = time.time() - _TAG_TMP_TTL_SECONDS
    for n in os.listdir(tdir):
        if ".json.tmp." not in n:
            continue
        p = os.path.join(tdir, n)
        try:
            if os.path.getmtime(p) < cutoff:
                os.unlink(p)
        except OSError:
            pass  # a concurrent writer finished (unlinked) first


def read_tag(table: str, name: str) -> int:
    with open(_tag_path(table, name)) as fh:
        return int(json.load(fh)["version"])


def list_tags(table: str) -> dict[str, int]:
    tdir = os.path.join(table, _TAG_DIR)
    if not os.path.isdir(tdir):
        return {}
    _sweep_stale_tag_tmps(tdir)
    out: dict[str, int] = {}
    for n in sorted(os.listdir(tdir)):
        if n.endswith(".json"):
            with open(os.path.join(tdir, n)) as fh:
                raw = json.load(fh)
            out[raw["name"]] = int(raw["version"])
    return out


def delete_tag(table: str, name: str) -> None:
    os.remove(_tag_path(table, name))


def _file_entry(table: str, rel_path: str, stats_cols: Sequence[str]) -> dict:
    """Stats from the parquet footer only — metadata read, no data scan."""
    meta = pq.ParquetFile(os.path.join(table, rel_path)).metadata
    idx = {meta.schema.column(i).name: i for i in range(meta.num_columns)}
    stats: dict[str, list] = {}
    for col in stats_cols:
        if col not in idx:
            continue
        lo, hi = None, None
        for rg in range(meta.num_row_groups):
            s = meta.row_group(rg).column(idx[col]).statistics
            if s is None or not s.has_min_max:
                lo = hi = None
                break
            lo = s.min if lo is None else min(lo, s.min)
            hi = s.max if hi is None else max(hi, s.max)
        if lo is not None:
            stats[col] = [_json_safe(lo), _json_safe(hi)]
    return {"path": rel_path, "rows": meta.num_rows, "stats": stats}


def _json_safe(v):
    return v.isoformat() if hasattr(v, "isoformat") else v


def _write_snapshot_files(
    df: DataFrame, table: str, stats_cols: Sequence[str]
) -> list[dict]:
    """Write ``df`` under a fresh immutable snapshot dir, return entries."""
    snap = uuid.uuid4().hex[:12]
    out_dir = os.path.join(table, _DATA_DIR, snap)
    df.write.mode("error").parquet(out_dir)
    entries = []
    for name in sorted(os.listdir(out_dir)):
        if name.endswith(".parquet"):
            rel = os.path.join(_DATA_DIR, snap, name)
            entries.append(_file_entry(table, rel, stats_cols))
    # Zero-row part files (Spark writes one part per partition, so a
    # narrow frame under many partitions emits mostly empty parts) would
    # bloat the manifest O(commits x partitions) instead of O(data files)
    # and survive later copy-on-write deletes as dead entries — drop them
    # when any real data file exists, deleting the files too (this writer
    # owns the fresh snapshot dir under its lease, so nothing else can
    # reference them; leaving them would fabricate vacuum orphans). A
    # genuinely empty frame keeps one empty part so the committed version
    # stays READABLE as empty (the streaming empty-first-batch path
    # relies on that), rather than a fileless manifest read_table refuses.
    non_empty = [e for e in entries if e["rows"] > 0]
    keep = non_empty if non_empty else entries[:1]
    kept_paths = {e["path"] for e in keep}
    for e in entries:
        if e["path"] not in kept_paths:
            try:
                os.remove(os.path.join(table, e["path"]))
            except OSError:
                pass  # already gone; the manifest never references it
    return keep


def _commit(table: str, manifest: Manifest) -> Manifest:
    """Exclusive-create the next manifest: the atomic commit point."""
    os.makedirs(os.path.join(table, _MANIFEST_DIR), exist_ok=True)
    if manifest.committed_at is None:
        manifest.committed_at = time.time()
    path = _manifest_path(table, manifest.version)
    try:
        with open(path, "x") as fh:
            fh.write(manifest.to_json())
    except FileExistsError as exc:
        raise CommitConflictError(
            f"version {manifest.version} of {table!r} was committed by "
            "another writer; re-read and retry"
        ) from exc
    return manifest


def write_table(
    df: DataFrame,
    table: str,
    *,
    mode: str = "append",
    stats_cols: Sequence[str] = (),
) -> Manifest:
    """Commit ``df`` as the next table version (``append`` keeps the
    previous file set by reference; ``overwrite`` starts a fresh one)."""
    if mode not in ("append", "overwrite"):
        raise ValueError(f"mode must be append|overwrite, got {mode!r}")
    lease = _begin_lease(table)
    try:
        base = current_version(table)
        prior_files: list[dict] = []
        schema = df.schema
        if base is not None and mode == "append":
            prior_m = read_manifest(table, base)
            prior_files = prior_m.files
            schema = _evolve_schema(prior_m, df.schema)
        entries = _write_snapshot_files(df, table, stats_cols)
        return _commit(
            table,
            Manifest(
                version=0 if base is None else base + 1,
                parent=base,
                operation=mode,
                files=prior_files + entries,
                schema=schema.json(),
            ),
        )
    finally:
        _end_lease(lease)


def _evolve_schema(prior: Manifest, new_schema):
    """Additive schema evolution (Delta/Iceberg append semantics): every
    committed column must appear in the appended frame with the IDENTICAL
    type; extra columns in the frame widen the table schema — old files
    simply lack the column and read back as null. Anything else (missing
    column, changed type) is a loud :class:`SchemaEvolutionError`, never a
    silent cast or drop."""
    if prior.schema is None:
        return new_schema  # pre-evolution table: adopt the frame's schema
    old = T.StructType.fromJson(json.loads(prior.schema))
    new_fields = {f.name: f for f in new_schema.fields}
    for f in old.fields:
        got = new_fields.get(f.name)
        if got is None:
            raise SchemaEvolutionError(
                f"append is missing committed column {f.name!r}"
            )
        if got.dataType != f.dataType:
            raise SchemaEvolutionError(
                f"column {f.name!r} changed type "
                f"{f.dataType.simpleString()} -> {got.dataType.simpleString()}"
            )
    old_names = {f.name for f in old.fields}
    added = [f for f in new_schema.fields if f.name not in old_names]
    return T.StructType(old.fields + added)


def read_table(
    spark: SparkSession,
    table: str,
    *,
    version: int | None = None,
    tag: str | None = None,
    as_of: float | None = None,
) -> DataFrame:
    """Read a committed snapshot (newest by default; any retained version
    for time travel; ``tag`` resolves a named pin; ``as_of`` resolves a
    unix timestamp to the newest version committed at or before it —
    Delta's TIMESTAMP AS OF. The three selectors are mutually
    exclusive). The frame carries the version's manifest schema
    (:func:`_read_files`); a fully-deleted version is an empty frame of
    that schema, not a refusal (found by the model-based sweep — a delete
    that emptied the table used to make every later read AND merge_upsert
    crash)."""
    if sum(x is not None for x in (version, tag, as_of)) > 1:
        raise ValueError("pass at most one of version / tag / as_of")
    if tag is not None:
        version = read_tag(table, tag)
    elif as_of is not None:
        version = resolve_as_of(table, as_of)
    m = read_manifest(table, version)
    if not m.files and m.schema is None:
        raise ValueError(f"version {m.version} of {table!r} holds no files")
    return _read_files(spark, table, [f["path"] for f in m.files], m.schema)


def prune_files(m: Manifest, col: str, lo, hi) -> list[dict]:
    """Manifest-level file pruning: keep files whose [min,max] for ``col``
    intersects [lo,hi]; files without stats are conservatively kept."""
    lo, hi = _json_safe(lo), _json_safe(hi)
    out = []
    for f in m.files:
        s = f["stats"].get(col)
        if s is None or not (s[1] < lo or s[0] > hi):
            out.append(f)
    return out


def read_pruned(
    spark: SparkSession,
    table: str,
    col: str,
    lo,
    hi,
    *,
    version: int | None = None,
    tag: str | None = None,
) -> DataFrame:
    """Read only the files that can contain ``col`` in [lo, hi] — the
    caller still applies the exact predicate; pruning is a superset.
    ``version``/``tag`` resolve exactly as in :func:`read_table`, and the
    frame carries the same manifest schema whichever files survive the
    prune (a tag-pinned reader gets the pinned generation's schema even
    mid-rebuild)."""
    return _read_ranges(spark, table, col, [(lo, hi)], version, tag)


def read_where_in(
    spark: SparkSession,
    table: str,
    col: str,
    values: Sequence,
    *,
    tag: str | None = None,
) -> DataFrame:
    """The rows whose ``col`` is one of ``values``, in ONE scan over the
    union of the files each value's prune keeps (a probe of several index
    cells reads each file once, with no per-value scan and union)."""
    values = list(values)
    return _read_ranges(
        spark, table, col, [(v, v) for v in values], None, tag
    ).filter(F.col(col).isin(values))


def _read_ranges(
    spark: SparkSession,
    table: str,
    col: str,
    ranges: Sequence[tuple],
    version: int | None,
    tag: str | None,
) -> DataFrame:
    if tag is not None:
        if version is not None:
            raise ValueError("pass version OR tag, not both")
        version = read_tag(table, tag)
    m = read_manifest(table, version)
    keep = list(
        dict.fromkeys(
            f["path"] for lo, hi in ranges for f in prune_files(m, col, lo, hi)
        )
    )
    if not keep and m.schema is None:
        return read_table(spark, table, version=m.version).filter(F.lit(False))
    return _read_files(spark, table, keep, m.schema)


def _read_files(
    spark: SparkSession, table: str, rel_paths: Sequence[str], schema_json: str | None
) -> DataFrame:
    """Read some of a table's data files as the manifest schema: one
    parquet scan given that schema, so Spark runs no schema-inference job,
    and a file written before a column was added reads it as NULL (the
    additive rule :func:`_evolve_schema` enforces; types never change, so
    every file matches the schema or lacks the column). An empty subset is
    an empty local frame of the schema — no ``_metadata`` column, so the
    copy-on-write writers guard their probe reads. Manifests written
    before schema tracking fall back to ``mergeSchema`` inference."""
    paths = [os.path.join(table, p) for p in rel_paths]
    if schema_json is None:
        if not paths:
            raise ValueError("empty file subset on a schema-less manifest")
        return spark.read.option("mergeSchema", "true").parquet(*paths)
    want = T.StructType.fromJson(json.loads(schema_json))
    if not paths:
        return local_frame(spark, [], want)
    return spark.read.schema(want).parquet(*paths)


def read_changes(
    spark: SparkSession,
    table: str,
    v_from: int,
    v_to: int | None = None,
) -> DataFrame:
    """Net row-level changes between two committed versions (Delta
    change-data-feed semantics, recovered from the immutable file sets):
    the result carries every column of ``v_to``'s schema plus ``_change``
    in {'insert', 'delete'} such that

        read_table(v_from) + inserts - deletes == read_table(v_to)

    as multisets. Copy-on-write rewrites (merge_upsert / delete_where)
    carry unchanged rows into new files; those reappear on both sides of
    the file diff and cancel through ``exceptAll``, so only genuinely
    changed rows are emitted. An in-place UPDATE surfaces as
    delete(old row) + insert(new row).

    Scale shape: only files that differ between the two manifests are
    read (cost ∝ churn, not table size — the same pruning argument as
    merge_upsert), followed by one hash-aggregate pair for the two
    ``exceptAll`` sides over those rows. Downstream CDC consumers poll
    this instead of re-reading snapshots.

    Both versions must still be retained (vacuum prunes old versions
    unless tagged); ``v_to`` defaults to the newest version. Reading
    FORWARD (``v_from`` older) gives the usual feed; swapping the
    arguments yields the exact inverse diff.
    """
    if v_to is None:
        v_to = current_version(table)
        if v_to is None:
            raise FileNotFoundError(f"no committed version in {table!r}")
    m_from = read_manifest(table, v_from)
    m_to = read_manifest(table, v_to)
    from_paths = {f["path"] for f in m_from.files}
    to_paths = {f["path"] for f in m_to.files}
    added = sorted(to_paths - from_paths)
    removed = sorted(from_paths - to_paths)
    ins = _read_files(spark, table, added, m_to.schema)
    dels = _read_files(spark, table, removed, m_to.schema)
    return (
        ins.exceptAll(dels)
        .withColumn("_change", F.lit("insert"))
        .unionByName(
            dels.exceptAll(ins).withColumn("_change", F.lit("delete"))
        )
    )


def merge_upsert(
    spark: SparkSession,
    table: str,
    updates: DataFrame,
    key_cols: Sequence[str],
    *,
    stats_cols: Sequence[str] = (),
    replace_scope: Sequence[str] | None = None,
) -> Manifest:
    """Copy-on-write MERGE: upsert ``updates`` by ``key_cols``.

    Only data files that contain at least one matching key are rewritten
    (old non-matching rows + every update row); all other files carry
    over by reference. Mirrors Delta's MERGE file-pruning execution:
    cost ∝ touched files, not table size.

    ``replace_scope`` (a prefix subset of ``key_cols``) adds Delta's
    ``WHEN NOT MATCHED BY SOURCE THEN DELETE`` scoped to the source's
    scope keys: every stored row whose scope key appears in ``updates``
    is REPLACED wholesale — rows of that scope key absent from
    ``updates`` are deleted in the same commit. Use when ``updates`` is
    the complete new answer set per scope key (e.g. a serve's full
    top-k per query_id), so a shrunken answer never leaves stale
    higher-rank rows behind (ADVICE r9 #2). Rows whose scope key is NOT
    in ``updates`` are untouched, so file pruning still holds."""
    # Lease FIRST, then read the version: the version-read and the
    # empty-table branch decision must sit inside lease protection, or a
    # concurrent vacuum/writer can interleave in the gap (ADVICE r3;
    # mirrors write_table's ordering). Nested leases (write_table takes
    # its own) are harmless — two independent lease files.
    if replace_scope is not None:
        # PREFIX contract, not mere membership (ADVICE r10 #2): a
        # non-prefix scope like ('rank',) under keys ('query_id','rank')
        # would pass a set check and silently delete rows across
        # unrelated query_ids.
        if list(replace_scope) != list(key_cols)[: len(replace_scope)]:
            raise ValueError(
                f"replace_scope {list(replace_scope)!r} must be a prefix "
                f"of key_cols {list(key_cols)!r}"
            )
    lease = _begin_lease(table)
    try:
        base = current_version(table)
        if base is None:
            return write_table(
                updates, table, mode="append", stats_cols=stats_cols
            )
        return _merge_upsert_leased(
            spark, table, updates, key_cols, base, stats_cols,
            replace_scope=replace_scope,
        )
    finally:
        _end_lease(lease)


def _normalize_touched(
    table: str, m: Manifest, touched_uris: list[str], op: str
) -> set[str]:
    """Map the Spark-side ``_metadata.file_path`` URIs back onto
    manifest-relative paths. realpath on BOTH sides: a symlinked table path
    (e.g. macOS /var -> /private/var tmp dirs) would otherwise make relpath
    yield garbage, so a touched file would be both kept by reference AND
    rewritten — silent duplicates. Any URI that resolves outside the
    manifest is a loud error, never a duplicating commit."""
    table_abs = os.path.realpath(table)
    touched_files = {
        os.path.relpath(
            os.path.realpath(p.split(":", 1)[-1] if ":" in p else p), table_abs
        )
        for p in touched_uris
    }
    unmatched = touched_files - {f["path"] for f in m.files}
    if unmatched:
        raise RuntimeError(
            f"{op}: touched file(s) {sorted(unmatched)!r} resolve outside "
            f"the manifest of {table!r} v{m.version} — path normalization "
            "bug; refusing to commit a duplicating snapshot"
        )
    return touched_files


def delete_where(
    spark: SparkSession,
    table: str,
    predicate,
    *,
    stats_cols: Sequence[str] = (),
) -> Manifest:
    """Copy-on-write DELETE: remove every row matching ``predicate``
    (a Column or SQL string) as a new table version.

    Execution mirrors :func:`merge_upsert`'s file pruning: only data files
    that actually CONTAIN a matching row are rewritten (with their
    non-matching rows); every other file carries over by reference, and a
    file left empty by the delete simply drops out of the manifest. Cost
    ∝ touched files, not table size — with ``stats_cols`` maintained, a
    range delete touches only the files whose footer [min,max] intersects
    the predicate, the same math as ``read_pruned``. Time travel keeps the
    deleted rows readable at prior versions until ``vacuum`` expires them
    (the Delta/Iceberg contract)."""
    pred = F.expr(predicate) if isinstance(predicate, str) else predicate
    lease = _begin_lease(table)
    try:
        base = current_version(table)
        if base is None:
            raise FileNotFoundError(f"no committed version in {table!r}")
        m = read_manifest(table, base)
        if not m.files:
            return m  # deleting from a fully-deleted table is a no-op
        current = read_table(spark, table, version=base).withColumn(
            "_file", F.col("_metadata.file_path")
        )
        touched_uris = [
            p
            for (p,) in current.filter(pred)
            .select("_file")
            .distinct()
            .collect()
        ]
        touched_files = _normalize_touched(table, m, touched_uris, "delete_where")
        kept = [f for f in m.files if f["path"] not in touched_files]
        # NULL predicate rows are NOT deleted (SQL DELETE semantics): keep
        # a row unless the predicate is definitively true
        survivors = (
            current.filter(F.col("_file").isin(touched_uris))
            .filter(F.coalesce(~pred, F.lit(True)))
            .drop("_file")
        )
        # a delete that empties its rewrite set drops the entry from the
        # manifest (kept files still carry the data; a fully-emptied table
        # reads back empty via the manifest schema) — and must also remove
        # the one empty part _write_snapshot_files deliberately kept, or
        # the unreferenced file becomes a fabricated vacuum orphan
        # (ADVICE r10 #1: the filter and the writer's no-orphan invariant
        # disagreed here)
        entries = []
        for e in _write_snapshot_files(survivors, table, stats_cols):
            if e["rows"] > 0:
                entries.append(e)
            else:
                try:
                    os.remove(os.path.join(table, e["path"]))
                except OSError:
                    pass  # already gone; the manifest never references it
        return _commit(
            table,
            Manifest(
                version=base + 1,
                parent=base,
                operation="delete",
                files=kept + entries,
                schema=m.schema,
            ),
        )
    finally:
        _end_lease(lease)


def _merge_upsert_leased(
    spark: SparkSession,
    table: str,
    updates: DataFrame,
    key_cols: Sequence[str],
    base: int,
    stats_cols: Sequence[str],
    replace_scope: Sequence[str] | None = None,
) -> Manifest:
    m = read_manifest(table, base)
    if not m.files:
        # fully-deleted table: no stored rows to probe or rewrite (and
        # read_table's empty frame is a local relation without _metadata)
        # — commit the updates as the whole next version, like the
        # empty-table append path but preserving version lineage
        evolved = _evolve_schema(m, updates.schema)
        entries = _write_snapshot_files(
            updates.select(*[f.name for f in evolved.fields]),
            table,
            stats_cols,
        )
        return _commit(
            table,
            Manifest(
                version=base + 1,
                parent=base,
                operation="merge",
                files=entries,
                schema=evolved.json(),
            ),
        )
    current = read_table(spark, table, version=base).withColumn(
        "_file", F.col("_metadata.file_path")
    )
    # replace_scope widens both the touched-file probe AND the survivor
    # anti-join from the full key to the scope key: a file holding ANY row
    # of a served scope key is rewritten, and none of that scope key's old
    # rows survive — the update set replaces the scope wholesale
    anti_cols = list(replace_scope) if replace_scope else list(key_cols)
    anti_keys = updates.select(*anti_cols).distinct()
    # file_path comes back absolute+scheme'd; compare on the relative tail
    touched_rows = current.join(F.broadcast(anti_keys), anti_cols, "left_semi")
    # keep the raw URI strings for the Spark-side filter; derive the
    # manifest-relative path only for bookkeeping (URI scheme/slash count
    # varies by Hadoop FS, the normalized tail does not)
    touched_uris = [
        p for (p,) in touched_rows.select("_file").distinct().collect()
    ]
    touched_files = _normalize_touched(table, m, touched_uris, "merge_upsert")
    kept = [f for f in m.files if f["path"] not in touched_files]
    survivors = (
        current.filter(F.col("_file").isin(touched_uris))
        .drop("_file")
        .join(anti_keys, anti_cols, "left_anti")
    )
    # additive schema evolution applies to MERGE like to append: updates
    # may add columns (survivors fill null); missing/retyped columns fail
    evolved = _evolve_schema(m, updates.schema)
    rewritten = survivors.unionByName(updates, allowMissingColumns=True)
    rewritten = rewritten.select(*[f.name for f in evolved.fields])
    entries = _write_snapshot_files(rewritten, table, stats_cols)
    return _commit(
        table,
        Manifest(
            version=base + 1,
            parent=base,
            operation="merge",
            files=kept + entries,
            schema=evolved.json(),
        ),
    )


def vacuum(
    table: str,
    *,
    keep_versions: int = 1,
    retention_seconds: float = 0.0,
    lease_timeout_seconds: float = DEFAULT_LEASE_TIMEOUT,
) -> list[str]:
    """Delete orphan data files (crashed commits) and files referenced
    only by expired versions. Keeps the newest ``keep_versions`` manifests
    and every file any of them references.

    In-flight-writer safety, two layers: every writer registers a LEASE
    before writing data files and releases it after its manifest commit —
    while any unexpired lease exists, vacuum reclaims nothing (an orphan
    is indistinguishable from an imminent commit's file); leases older
    than ``lease_timeout_seconds`` are crashed-writer debris and are
    reaped. ``retention_seconds`` (mtime-based, like Delta's VACUUM
    retention) is the belt-and-suspenders margin on top for writers that
    bypass the lease API."""
    newest = current_version(table)
    if newest is None:
        return []
    if _active_leases(table, lease_timeout_seconds):
        return []  # an in-flight writer's files may look like orphans
    keep_manifests = range(max(0, newest - keep_versions + 1), newest + 1)
    # tagged versions are pinned: their files AND manifests survive any
    # retention window until the tag is deleted (Iceberg tag semantics)
    tagged = set(list_tags(table).values())
    live: set[str] = set()
    for v in set(keep_manifests) | tagged:
        try:
            live |= {f["path"] for f in read_manifest(table, v).files}
        except FileNotFoundError:
            # an earlier, more aggressive vacuum already dropped this
            # manifest; nothing for it to keep alive
            continue
    removed = []
    now = time.time()
    data_root = os.path.join(table, _DATA_DIR)
    snaps = sorted(os.listdir(data_root)) if os.path.isdir(data_root) else []
    for snap in snaps:
        snap_dir = os.path.join(data_root, snap)
        for name in sorted(os.listdir(snap_dir)):
            rel = os.path.join(_DATA_DIR, snap, name)
            full = os.path.join(snap_dir, name)
            if rel not in live and name.endswith(".parquet"):
                try:
                    age = now - os.path.getmtime(full)
                except OSError:
                    continue  # already gone (concurrent vacuum)
                if age < retention_seconds:
                    continue  # possibly an in-flight commit's file
                # Re-check leases IMMEDIATELY before each delete: a writer
                # that registered after the scan-start check would otherwise
                # lose freshly written files (TOCTOU, ADVICE r3). Writers
                # lease BEFORE writing any data file, so "no active lease
                # now" proves any candidate file's writer either committed
                # (file would be live) or crashed (lease expired) — files
                # appearing after scan start are separately protected by the
                # age<0 guard above (age is measured against scan-start
                # ``now``).
                if _active_leases(table, lease_timeout_seconds):
                    return removed  # writer appeared mid-scan; stop here
                os.remove(full)
                removed.append(rel)
        if not os.listdir(snap_dir):
            os.rmdir(snap_dir)
    # expired manifests go last, so a concurrent reader of an old version
    # fails on the manifest (clear) rather than on a missing data file
    for v in range(0, keep_manifests.start):
        if v in tagged:
            continue
        p = _manifest_path(table, v)
        if os.path.exists(p):
            os.remove(p)
    return removed


def optimize(
    spark: SparkSession,
    table: str,
    *,
    target_files: int = 1,
    min_files_to_compact: int = 2,
    stats_cols: Sequence[str] = (),
    zorder_cols: Sequence[str] | None = None,
) -> Manifest | None:
    """Compaction as a COMMIT (Delta OPTIMIZE semantics): rewrite the
    current version's many small files into ``target_files`` larger ones —
    bit-identical data, new version, old versions still time-travel until
    ``vacuum``. Returns None (no commit) when the table already has fewer
    than ``min_files_to_compact`` files; running OPTIMIZE twice must not
    churn versions.

    ``zorder_cols`` additionally clusters the rewrite on the Z-order of
    those columns (sinks/layout.py device), so the compacted files carry
    TIGHT footer min/max on every clustered column — compaction and
    clustering are one pass, which is exactly how a nightly table-service
    job runs it at 100 TB: read manifest (O(#files) driver work), one
    distributed rewrite, one atomic manifest swap. Streaming writers keep
    committing meanwhile; their commit wins or this one does (optimistic
    concurrency), never both.
    """
    lease = _begin_lease(table)
    try:
        base = current_version(table)
        if base is None:
            raise FileNotFoundError(f"no committed version in {table!r}")
        m = read_manifest(table, base)
        if len(m.files) < min_files_to_compact:
            return None
        if sum(f.get("rows", 0) for f in m.files) == 0:
            # all files empty: an empty table is trivially compact, and a
            # rewrite would commit a zero-file manifest (breaking readers)
            # after zorder_write chokes on NULL min/max bounds
            return None
        df = read_table(spark, table, version=base)
        if zorder_cols:
            from data_engineering_project_spark.sinks.layout import (
                zorder_write,
            )

            snap = uuid.uuid4().hex[:12]
            out_dir = os.path.join(table, _DATA_DIR, snap)
            zorder_write(df, out_dir, list(zorder_cols), target_files)
            entries = [
                _file_entry(table, os.path.join(_DATA_DIR, snap, n), stats_cols)
                for n in sorted(os.listdir(out_dir))
                if n.endswith(".parquet")
            ]
        else:
            entries = _write_snapshot_files(
                df.coalesce(max(1, target_files)), table, stats_cols
            )
        entries = [e for e in entries if e["rows"] > 0]
        return _commit(
            table,
            Manifest(
                version=base + 1,
                parent=base,
                operation="optimize",
                files=entries,
                schema=m.schema,
            ),
        )
    finally:
        _end_lease(lease)
