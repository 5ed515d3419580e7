"""Durable MERGE-into-storage upsert over parquet (SURVEY.md §2.2 K1-K3).

The reference's at-rest semantic is ``INSERT ... ON CONFLICT DO UPDATE``
into live PostgreSQL tables (/root/reference/src/storage/postgres_writer.py:234-259,
DDL 32-113). Plain parquet has no MERGE, so the durable form here is the
lakehouse-standard **partition-pruned read-modify-overwrite** under a
**manifest commit protocol** (a minimal form of what Delta/Iceberg's
transaction log provides):

- the table is laid out partitioned by a deterministic key-hash bucket
  (``__bucket = pmod(xxhash64(keys...), n_buckets)``);
- the set of LIVE data files is named by a versioned JSON manifest
  (``_gmie_manifest-v<N>.json`` in the table root); readers read exactly
  the files the highest committed manifest lists — never the directory
  listing — so partially-written or abandoned files are invisible;
- a MERGE reads ONLY the live files of buckets that contain updated keys,
  applies the relational last-write-wins upsert (operators/upsert.py — the
  oracle-checked core), stages the replacement buckets under a hidden
  ``.staging-*`` directory, moves the staged files into the live bucket
  directories under commit-unique names (rename = metadata op, never
  overwrites existing data), and finally COMMITS by renaming a complete
  new manifest into place. The manifest rename is the single atomic
  commit point: a crash at ANY earlier step leaves the previous manifest
  (and every file it references) fully intact, so readers still see the
  pre-merge table. Recovery from a crashed merge is simply re-running it;
  ``vacuum_table`` reclaims any orphaned staging/data files.

Concurrent merges use optimistic concurrency control on the manifest
version: claiming the versioned manifest name is the commit point, using
whichever primitive is exclusive on the filesystem at hand (HDFS: rename,
which fails onto an existing path; POSIX file:, where rename silently
overwrites: ``link(2)``, which fails with EEXIST atomically), and the
LOSER retries —
re-reads the winner's manifest, re-stages ONLY the buckets whose file
sets changed under it (its already-moved files for unconflicted buckets
stay valid: manifests never referenced them), and commits on top. Both
batches' rows survive, in any interleaving; last-write-wins ties keep the
upsert's deterministic survivor. Concurrent writers should run with
``retain_versions > 1`` so the loser's in-flight read of the pre-commit
file set cannot race the winner's eager cleanup. (The reference holds a
single Postgres connection with explicit commit/rollback,
postgres_writer.py:107-113; this is the MERGE-level OCC a full table
format adds.)

A merge reads and rewrites every bucket holding a batch key, whole: cost
scales with |touched buckets| × bucket size, and untouched buckets are
never read. That is sub-table only while a batch touches few buckets. Key
hashing spreads even a small batch over all of them: a market tick of 480
bars into 8 buckets touches all 8 and rewrites the whole quotes table,
15.25 rows written per batch row in the ``market_ingest`` benchmark. All
manifest/rename operations go through the Hadoop FileSystem API, so the
same code runs on file:, hdfs:, and rename-atomic object stores.
"""

from __future__ import annotations

import json
import uuid

import pyspark.sql.functions as F
from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from .upsert import upsert

BUCKET = "__bucket"
_MANIFEST_PREFIX = "_gmie_manifest-v"


class ManifestConflict(IOError):
    """Another writer committed the manifest version this commit targeted —
    the optimistic-concurrency retry signal (subclass of IOError for
    backward compatibility with callers catching the old error)."""


# OCC retry budget: each retry re-stages at most the conflicting buckets,
# so the loop converges unless a competing writer commits faster than this
# writer can stage — 8 lost races in a row means pathological contention.
_MAX_COMMIT_ATTEMPTS = 8


def _bucket_col(key_columns: list[str], n_buckets: int):
    return F.pmod(F.xxhash64(*[F.col(c) for c in key_columns]), F.lit(n_buckets))


# -- manifest plumbing (driver-side Hadoop FS calls; no jobs) ---------------


def _fs(spark: SparkSession, path: str):
    """``(Path, fs)``: the Hadoop ``Path`` class and the FileSystem serving
    ``path``. The class is resolved here once per call because every py4j
    package step (``jvm.org.apache...``) is a gateway round trip."""
    Path = spark._jvm.org.apache.hadoop.fs.Path
    return Path, Path(path).getFileSystem(spark._jsc.hadoopConfiguration())


def table_versions(spark: SparkSession, path: str) -> list[int]:
    """Committed manifest versions at ``path``, ascending. More than one
    entry means history is available for ``read_table(version=...)``
    (merges run with ``retain_versions > 1`` and not yet vacuumed).

    Path-absent is the ONLY condition mapped to ``[]``: the existence probe
    runs first and a root that provably does not exist short-circuits. A
    listing failure on an EXISTING root (permission flap, transient IO)
    PROPAGATES — swallowing it into ``[]`` would let callers misclassify a
    live table as absent and bootstrap over it (the round-7 advice defect in
    ``streaming/scd2_stream.py``: overwrite-bootstrap would have destroyed
    the maintained history on any transient listing error)."""
    Path, fs = _fs(spark, path)
    if not fs.exists(Path(path)):  # provably absent — the only [] path
        return []
    statuses = fs.listStatus(Path(path))
    versions = []
    for st in statuses:
        name = st.getPath().getName()
        if name.startswith(_MANIFEST_PREFIX) and name.endswith(".json"):
            try:
                versions.append(int(name[len(_MANIFEST_PREFIX) : -len(".json")]))
            except ValueError:
                continue
    return sorted(versions)


def _read_manifest(spark: SparkSession, path: str, version: int | None = None):
    """``(version, manifest)`` at ``path`` — the highest committed version,
    or the exact ``version`` if given. ``(0, None)`` when absent (no table
    yet); a missing EXPLICIT version raises (already vacuumed or never
    committed — silently serving a different version would be wrong)."""
    versions = table_versions(spark, path)
    if version is None:
        if not versions:
            return 0, None
        version = versions[-1]
    elif version not in versions:
        raise ValueError(
            f"version {version} of table {path} is not available "
            f"(committed: {versions or 'none'}) — vacuumed or never written"
        )
    Path, fs = _fs(spark, path)
    target = Path(f"{path}/{_MANIFEST_PREFIX}{version:010d}.json")
    stream = fs.open(target)
    try:
        raw = bytes(stream.readAllBytes())
    finally:
        stream.close()
    return version, json.loads(raw.decode("utf-8"))


def _commit_manifest(
    spark: SparkSession, path: str, version: int, manifest: dict
) -> None:
    """Atomically publish ``manifest`` as version ``version``.

    Write to a hidden temp name, then claim the final versioned name with a
    filesystem primitive that is exclusive on THAT filesystem:

    - ``file:`` — POSIX ``rename(2)`` silently overwrites, so rename is NOT
      a safe commit point locally. ``link(2)`` is: it fails with ``EEXIST``
      if the target already exists, atomically, in the same syscall that
      makes the fully-written content visible under the final name. Two
      writers racing the same version ⇒ exactly one link succeeds.
    - ``hdfs:`` and rename-atomic object stores — rename onto an existing
      path fails, so the rename itself is the exclusive commit point (the
      ``exists`` pre-check is just a cheap fast-path).

    Either way the raised ``ManifestConflict`` is the OCC signal
    ``merge_into_parquet`` retries on (re-read, re-stage conflicting
    buckets, commit on top).
    """
    Path, fs = _fs(spark, path)
    tmp = f"{path}/.manifest-tmp-{uuid.uuid4().hex}"
    out = fs.create(Path(tmp), True)
    try:
        out.write(bytearray(json.dumps(manifest).encode("utf-8")))
    finally:
        out.close()
    final = f"{path}/{_MANIFEST_PREFIX}{version:010d}.json"
    if fs.getUri().getScheme() == "file":
        tmp_local = fs.makeQualified(Path(tmp)).toUri().getPath()
        final_local = fs.makeQualified(Path(final)).toUri().getPath()
        jvm = spark._jvm
        try:
            jvm.java.nio.file.Files.createLink(
                jvm.java.io.File(final_local).toPath(),
                jvm.java.io.File(tmp_local).toPath(),
            )
        except Exception as exc:
            fs.delete(Path(tmp), False)
            if fs.exists(Path(final)):
                raise ManifestConflict(
                    f"manifest commit failed for {final} — another writer "
                    "committed this version first"
                ) from exc
            raise  # genuine IO failure, not a version race
        fs.delete(Path(tmp), False)
        return
    if fs.exists(Path(final)) or not fs.rename(Path(tmp), Path(final)):
        fs.delete(Path(tmp), False)
        raise ManifestConflict(
            f"manifest commit failed for {final} — another writer committed "
            "this version first"
        )


def _list_bucket_files(spark: SparkSession, path: str) -> dict[str, list[str]]:
    """Bucket → relative parquet paths from a directory listing (used once,
    when adopting a table written before the manifest protocol)."""
    Path, fs = _fs(spark, path)
    buckets: dict[str, list[str]] = {}
    for st in fs.listStatus(Path(path)):
        name = st.getPath().getName()
        if st.isDirectory() and name.startswith(BUCKET + "="):
            files = [
                f"{name}/{f.getPath().getName()}"
                for f in fs.listStatus(st.getPath())
                if f.getPath().getName().endswith(".parquet")
            ]
            buckets[name.split("=", 1)[1]] = sorted(files)
    return buckets


def _read_live_files(
    spark: SparkSession,
    path: str,
    manifest: dict,
    schema: StructType | None,
    only_buckets: set[str] | None = None,
) -> DataFrame:
    """Scan exactly the manifest's live files (optionally one bucket subset).

    ``basePath`` keeps the ``__bucket=K`` directory component a partition
    column. Restricting to ``only_buckets`` prunes by construction — the
    unlisted files are never even planned.
    """
    if schema is None and manifest.get("schema") is not None:
        schema = StructType.fromJson(manifest["schema"])
    rel = [
        f
        for b, files in sorted(manifest["buckets"].items())
        if only_buckets is None or b in only_buckets
        for f in files
    ]
    if not rel:
        if schema is None:
            raise ValueError(
                f"table at {path} is empty and no schema is available — "
                "pass the schema write_bucketed_table returned"
            )
        return spark.createDataFrame([], schema)
    reader = spark.read.schema(schema) if schema is not None else spark.read
    return reader.option("basePath", path).parquet(
        *[f"{path}/{r}" for r in rel]
    )


def _local_fs_path(path: str) -> str | None:
    """Filesystem path for ``path`` when it is local, else None.

    File-level stats collection reads parquet footers with pyarrow, which
    speaks the local filesystem; on hdfs:/object stores the same footers
    would be read through that FS client — stats are skipped there and
    every reader stays correct (missing stats = never pruned)."""
    if path.startswith("file:"):
        rest = path[len("file:") :]
        while rest.startswith("//"):
            rest = rest[1:]
        return rest
    if "://" in path:
        return None
    return path


# Stats are collected for JSON-representable scalar types only; other
# columns are silently unstatted (readers keep the file — conservative).
_STATS_TYPES = (int, float, str, bool)


def _file_stats(
    path: str, rel_files: list[str], stats_columns: list[str]
) -> dict[str, dict[str, list]]:
    """Per-file min/max of ``stats_columns`` from parquet footers.

    Driver-side footer reads — bounded by |files|, no Spark job; the same
    metadata the writer already produced, lifted into the manifest so a
    pruned read never PLANS the file (vs. engine row-group pruning, which
    must still list and open every footer — the difference between
    O(matching files) and O(all files) planning at 100k-file scale).
    """
    local = _local_fs_path(path)
    if local is None:
        return {}
    import pyarrow.parquet as pq

    out: dict[str, dict[str, list]] = {}
    for rel in rel_files:
        try:
            meta = pq.ParquetFile(f"{local}/{rel}").metadata
        except OSError:
            continue
        names = {meta.schema.column(i).name: i for i in range(meta.num_columns)}
        stats: dict[str, list] = {}
        for col in stats_columns:
            idx = names.get(col)
            if idx is None:
                continue
            lo = hi = None
            ok = True
            for rg in range(meta.num_row_groups):
                st = meta.row_group(rg).column(idx).statistics
                if (
                    st is None
                    or not st.has_min_max
                    or not isinstance(st.min, _STATS_TYPES)
                    or not isinstance(st.max, _STATS_TYPES)
                ):
                    ok = False
                    break
                lo = st.min if lo is None else min(lo, st.min)
                hi = st.max if hi is None else max(hi, st.max)
            if ok and lo is not None:
                stats[col] = [lo, hi]
        if stats:
            out[rel] = stats
    return out


def _prune_manifest_files(
    manifest: dict, prune: dict[str, tuple]
) -> tuple[dict, int, int]:
    """Copy of ``manifest`` with bucket file lists reduced to files whose
    stats ranges intersect every ``prune[col] = (lo, hi)`` bound (closed
    intervals; None = unbounded on that side). Files without stats for a
    pruned column are KEPT — pruning is an optimization, never a filter.
    Returns (pruned_manifest, files_total, files_kept)."""
    stats = manifest.get("stats", {})
    kept_buckets: dict[str, list[str]] = {}
    total = kept = 0
    for b, files in manifest["buckets"].items():
        keep = []
        for rel in files:
            total += 1
            fstats = stats.get(rel, {})
            alive = True
            for col, (lo, hi) in prune.items():
                rng = fstats.get(col)
                if rng is None:
                    continue
                fmin, fmax = rng
                if (hi is not None and fmin > hi) or (
                    lo is not None and fmax < lo
                ):
                    alive = False
                    break
            if alive:
                keep.append(rel)
                kept += 1
        kept_buckets[b] = keep
    pruned = dict(manifest)
    pruned["buckets"] = kept_buckets
    return pruned, total, kept


def _move_staged_files(
    Path, fs, path: str, staging: str, commit_tag: str
) -> dict[str, list[str]]:
    """Move staged bucket files into the live tree under commit-unique
    names (rename = metadata op, never overwrites). The ONE copy of the
    crash-sensitive move-in protocol, shared by MERGE and OPTIMIZE.
    Returns bucket value → sorted moved relative paths."""
    moved: dict[str, list[str]] = {}
    for st in fs.listStatus(Path(staging)):
        dirname = st.getPath().getName()
        if not dirname.startswith(BUCKET + "="):
            continue
        bval = dirname.split("=", 1)[1]
        fs.mkdirs(Path(f"{path}/{dirname}"))
        rels = []
        for f in fs.listStatus(st.getPath()):
            fname = f.getPath().getName()
            if not fname.endswith(".parquet"):
                continue
            rel = f"{dirname}/{commit_tag}-{fname}"
            if not fs.rename(f.getPath(), Path(f"{path}/{rel}")):
                raise IOError(f"failed to move staged file into {path}/{rel}")
            rels.append(rel)
        moved[bval] = sorted(rels)
    return moved


def write_bucketed_table(
    df: DataFrame,
    path: str,
    key_columns: list[str],
    n_buckets: int = 16,
    stats_columns: list[str] | None = None,
    cluster_by: list[str] | None = None,
    max_records_per_file: int | None = None,
):
    """Materialize ``df`` as a key-hash-bucketed parquet table at ``path``.

    The bucket column is derived (never trusted from input) so every writer
    places a key in the same bucket forever — the invariant MERGE pruning
    relies on.

    The frame is repartitioned ON the bucket column before the partitioned
    write: without it every upstream task writes a sliver into every bucket
    directory (tasks × n_buckets small files — the classic dynamic-
    partition-write file explosion); with it each bucket is one task
    writing one file. At lake scale raise parallelism by repartitioning on
    (bucket, key) with more partitions — several files per bucket is fine,
    slivers from every task are not.

    Returns the on-disk schema (data columns + the bucket column). Keep it
    (or re-derive it from the frame you write) and pass it to ``read_table``
    / rely on ``merge_into_parquet`` pinning it from the batch: pinned-
    schema reads are what make an EMPTY table readable (a zero-row
    partitioned parquet dir has no footers to infer from — the gap a table
    format's transaction log normally covers) and skip footer-inference
    planning cost on wide tables.

    **Data skipping** (Delta/Iceberg-style): ``stats_columns`` records
    per-FILE min/max for those columns in the manifest, and
    ``read_table(prune={col: (lo, hi)})`` then never even plans files
    whose range misses the predicate. Hash buckets scatter values, so
    skipping on a NON-key column needs the data clustered by it within
    each bucket: ``cluster_by`` sorts rows inside every bucket and
    ``max_records_per_file`` splits each bucket into several files, giving
    consecutive files near-disjoint ranges of the cluster column — the
    same layout discipline as :func:`write_zordered`, applied under the
    manifest protocol. Missing stats never exclude a file, so pruning is
    always correctness-neutral.
    """
    bucketed = df.withColumn(BUCKET, _bucket_col(key_columns, n_buckets))
    arranged = bucketed.repartition(n_buckets, F.col(BUCKET))
    if cluster_by:
        arranged = arranged.sortWithinPartitions(
            BUCKET, *[F.col(c) for c in cluster_by]
        )
    writer = arranged.write.mode("overwrite")
    if max_records_per_file:
        writer = writer.option("maxRecordsPerFile", int(max_records_per_file))
    writer.partitionBy(BUCKET).parquet(path)
    # Publish manifest v1 over the files just written. (CREATE OR REPLACE of
    # an existing table is not crash-atomic — mode("overwrite") clears the
    # root first; write a NEW root and repoint the caller's reference for
    # that. MERGE, the hot path, is crash-atomic.)
    buckets = _list_bucket_files(df.sparkSession, path)
    manifest = {
        "n_buckets": n_buckets,
        "key_columns": list(key_columns),
        "schema": bucketed.schema.jsonValue(),
        "buckets": buckets,
    }
    if stats_columns:
        manifest["stats_columns"] = list(stats_columns)
        manifest["stats"] = _file_stats(
            path,
            [f for files in buckets.values() for f in files],
            list(stats_columns),
        )
    _commit_manifest(df.sparkSession, path, 1, manifest)
    return bucketed.schema


def merge_into_parquet(
    spark: SparkSession,
    path: str,
    updates: DataFrame,
    key_columns: list[str],
    order_column: str | None = None,
    n_buckets: int = 16,
    retain_versions: int = 1,
    _crash_point: str | None = None,
    _race_hook=None,
) -> None:
    """MERGE ``updates`` into the bucketed table at ``path`` (last-write-wins).

    ``retain_versions > 1`` keeps the replaced files and prior manifests on
    disk after the commit, enabling ``read_table(version=...)`` time travel
    over the table's history; ``vacuum_table``'s ``retain_versions`` is the
    matching retention policy. The default (1) reclaims eagerly.

    Additive schema evolution — the reference's ``ALTER TABLE ADD COLUMN
    IF NOT EXISTS`` pattern (postgres_writer.py:94-101) — is native: a
    batch with NEW columns pins its schema on the read side (old parquet
    files resolve by name, absent columns surface as NULL — including
    rows in buckets the merge never rewrites) and commits that schema in
    the manifest, so every later read resolves the column table-wide.
    Asserted in ``test_merge_additive_schema_evolution``.

    ``updates`` is evaluated exactly once: it is persisted before the
    bounded collect of its bucket values, and the staging write and every
    OCC re-stage read that copy, which is unpersisted when the merge
    returns or raises. A non-deterministic batch (a live fetch) is merged
    as the rows that one evaluation produced.

    Reads only the live files of buckets containing updated keys and
    replaces only those buckets — untouched buckets' files are never read,
    moved, or rewritten. Idempotent: replaying the same batch leaves the
    table content unchanged (updates win ties via the upsert's ``__src``
    tag, and the survivor set is deterministic).

    Crash-atomic via the module's manifest protocol: new files are staged
    and moved in under names no reader knows about, and the merge becomes
    visible only at the final manifest rename. A crash anywhere before that
    leaves the previous table version fully readable; re-running the merge
    is the recovery procedure. ``_crash_point`` is a test-only fault hook
    ("after_stage" | "after_move") used by the kill-mid-merge tests;
    ``_race_hook`` is a test-only callable run once between move and
    commit, used to interleave a competing writer deterministically.

    Multi-writer: the commit is optimistic — losing the manifest-version
    race re-reads the winner's manifest, re-stages only the buckets whose
    file sets changed, and commits on top (module docstring). Run
    concurrent writers with ``retain_versions > 1`` so a winner's eager
    cleanup cannot delete files a competing merge is still reading.

    The manifest is the source of truth for the table layout: when one
    exists, its ``n_buckets`` overrides the parameter (a mismatched caller
    value would hash keys into buckets the merge never reads, silently
    skipping upserts) and a ``key_columns`` mismatch raises — different
    keys change the hash and the upsert semantics, never silently. The
    parameters only define the layout for a table that has no manifest yet.
    On such a pre-manifest table the merge first COMMITS an adoption
    manifest over the directory listing before staging or moving anything,
    so even the first merge on a legacy table has a committed pre-merge
    version to fall back to after a crash.
    """
    version, manifest = _read_manifest(spark, path)
    if manifest is not None:
        stored_keys = manifest.get("key_columns")
        if stored_keys is not None and list(stored_keys) != list(key_columns):
            raise ValueError(
                f"MERGE key mismatch for table {path}: manifest has "
                f"{list(stored_keys)}, caller passed {list(key_columns)}"
            )
        if manifest.get("n_buckets") is not None:
            n_buckets = int(manifest["n_buckets"])
    up = updates.withColumn(BUCKET, _bucket_col(key_columns, n_buckets))
    # The batch is evaluated ONCE: the `affected` collect below fills this
    # cache, and the staging write and every OCC re-stage read it. A source
    # evaluated twice could yield keys in buckets the first pass never saw;
    # those buckets would be staged from the new rows alone and replace
    # their live files.
    up.persist(StorageLevel.MEMORY_AND_DISK)
    try:
        # ≤ n_buckets scalar rows — bounded driver collect, independent of data size
        affected = [r[0] for r in up.select(BUCKET).distinct().collect()]
        if not affected:
            return
        if manifest is None:
            # Adopt a pre-manifest table: its directory listing IS its live set.
            # Commit the adoption manifest BEFORE any staging/moving so a crash
            # mid-merge still leaves a committed pre-merge version readable
            # (otherwise moved-but-uncommitted files would pollute the fallback
            # directory-listing read).
            manifest = {
                "n_buckets": n_buckets,
                "key_columns": list(key_columns),
                "schema": up.schema.jsonValue(),
                "buckets": _list_bucket_files(spark, path),
            }
            version = 1
            try:
                _commit_manifest(spark, path, version, manifest)
            except ManifestConflict:
                # a concurrent merge adopted the same legacy listing first —
                # both adoption manifests describe the identical directory
                # state, so the winner's is as good as ours: build on it
                version, manifest = _read_manifest(spark, path)
                if list(manifest.get("key_columns") or key_columns) != list(
                    key_columns
                ):
                    raise ValueError(
                        f"MERGE key mismatch for table {path}: concurrent "
                        f"adoption used {manifest.get('key_columns')}, caller "
                        f"passed {list(key_columns)}"
                    )
        affected_set = {str(b) for b in affected}
        bucket_vals = {str(b): b for b in affected}
        Path, fs = _fs(spark, path)

        def _stage_and_move(base_manifest: dict, buckets: set[str], tag_version: int):
            """Merge ``buckets``' live files with the matching update rows,
            stage OUTSIDE the live set, move in under commit-unique names
            (rename = metadata op; never overwrites). Returns
            (bucket → moved rel paths, staging dir)."""
            # Schema pinned from the batch (same columns by contract): parquet
            # columns resolve by NAME, the partition column fills from dir
            # names, a still-empty table reads as zero rows instead of failing
            # inference, and planning skips the footer sweep entirely.
            current = _read_live_files(
                spark, path, base_manifest, up.schema, buckets
            )
            subset = (
                up
                if buckets == affected_set
                else up.filter(
                    F.col(BUCKET).isin([bucket_vals[b] for b in buckets])
                )
            )
            merged = upsert(current, subset, key_columns, order_column=order_column)
            staging = f"{path}/.staging-{uuid.uuid4().hex}"
            (
                merged.repartition(len(buckets), F.col(BUCKET))
                .write.mode("overwrite")
                .partitionBy(BUCKET)
                .parquet(staging)
            )
            if _crash_point == "after_stage":
                raise RuntimeError("injected crash: staged files written, not moved")
            commit_tag = f"c{tag_version:010d}-{uuid.uuid4().hex[:8]}"
            moved_files = _move_staged_files(Path, fs, path, staging, commit_tag)
            if _crash_point == "after_move":
                raise RuntimeError(
                    "injected crash: files moved, manifest not committed"
                )
            return moved_files, staging

        # Optimistic-concurrency commit loop. Staged-and-moved files are
        # invisible until a manifest references them, so losing the version
        # race costs re-staging ONLY the buckets the winner changed — files
        # for unconflicted buckets are reused as-is in the retried commit.
        base_version, base_manifest = version, manifest
        base_files = {b: manifest["buckets"].get(b, []) for b in affected_set}
        buckets_to_write = set(affected_set)
        my_files: dict[str, list[str]] = {}
        stagings: list[str] = []
        replaced: dict[str, list[str]] = {}
        committed_version = None
        _my_stats: dict[str, dict] = {}  # rel → stats, cached across retries
        _my_stats_cols: list[str] | None = None
        for _attempt in range(_MAX_COMMIT_ATTEMPTS):
            if buckets_to_write:
                moved_files, staging = _stage_and_move(
                    base_manifest, buckets_to_write, base_version + 1
                )
                stagings.append(staging)
                # this attempt supersedes our own earlier files for these
                # buckets (still unreferenced by any manifest — safe to drop)
                for b in buckets_to_write:
                    for rel in my_files.get(b, []):
                        fs.delete(Path(f"{path}/{rel}"), False)
                my_files.update(moved_files)
            if _race_hook is not None:
                hook, _race_hook = _race_hook, None
                hook()  # test-only: interleave a competing writer deterministically
            replaced = {b: base_manifest["buckets"].get(b, []) for b in my_files}
            merged_buckets = {**base_manifest["buckets"], **my_files}
            new_manifest = {
                "n_buckets": n_buckets,
                "key_columns": list(key_columns),
                "schema": up.schema.jsonValue(),
                "buckets": merged_buckets,
            }
            # Data-skipping stats maintenance: a stats-tracked table keeps its
            # per-file min/max across merges — replaced files drop out, moved-in
            # files are footer-read (bounded by |staged files|, driver-side).
            # Merge-staged files are unsorted, so their ranges are wide but
            # CORRECT; periodic optimize_table with cluster_by restores tight
            # pruning. The footer reads are CACHED across OCC retries: a retry
            # re-stages only the conflicting buckets, so only its newly moved
            # files are re-read (round-8 review fix).
            stats_cols = base_manifest.get("stats_columns")
            if stats_cols:
                if _my_stats_cols != list(stats_cols):
                    _my_stats.clear()
                    _my_stats_cols = list(stats_cols)
                mine = [f for files in my_files.values() for f in files]
                missing = [f for f in mine if f not in _my_stats]
                if missing:
                    _my_stats.update(
                        _file_stats(path, missing, list(stats_cols))
                    )
                live = {f for files in merged_buckets.values() for f in files}
                prior = base_manifest.get("stats", {})
                new_manifest["stats_columns"] = list(stats_cols)
                new_manifest["stats"] = {
                    **{r: s for r, s in prior.items() if r in live},
                    **{r: _my_stats[r] for r in mine if r in _my_stats},
                }
            try:
                _commit_manifest(spark, path, base_version + 1, new_manifest)
                committed_version = base_version + 1
                break
            except ManifestConflict:
                base_version, base_manifest = _read_manifest(spark, path)
                # conflicting bucket = winner changed its file set since our
                # merge read it; our staged output no longer contains their rows
                buckets_to_write = {
                    b
                    for b in affected_set
                    if base_manifest["buckets"].get(b, []) != base_files[b]
                }
                base_files = {
                    b: base_manifest["buckets"].get(b, []) for b in affected_set
                }
        if committed_version is None:
            raise IOError(
                f"merge into {path} lost the manifest race "
                f"{_MAX_COMMIT_ATTEMPTS} times — giving up (orphaned staged "
                "files are invisible; vacuum_table reclaims them)"
            )
        # Post-commit cleanup (best-effort; a crash here leaves garbage that is
        # invisible to readers — vacuum_table reclaims it). With
        # retain_versions > 1 the replaced files and prior manifest are KEPT:
        # they are exactly what read_table(version=...) time travel reads, and
        # vacuum_table(retain_versions=...) is the retention policy — and the
        # retention concurrent writers need (an eager delete here can race a
        # competing merge's in-flight read of the pre-commit file set).
        for staging in stagings:
            fs.delete(Path(staging), True)
        if retain_versions <= 1:
            for files in replaced.values():
                for rel in files:
                    fs.delete(Path(f"{path}/{rel}"), False)
            prev = committed_version - 1
            if prev > 0:
                fs.delete(
                    Path(f"{path}/{_MANIFEST_PREFIX}{prev:010d}.json"),
                    False,
                )
    finally:
        up.unpersist()


def optimize_table(
    spark: SparkSession,
    path: str,
    cluster_by: list[str] | None = None,
    max_records_per_file: int | None = None,
    min_files_per_bucket: int = 2,
    retain_versions: int = 1,
    stats_columns: list[str] | None = None,
    zorder_by: list[str] | None = None,
    zorder_bits: int = 16,
    zorder_method: str = "linear",
) -> int:
    """Re-layout a manifest table's buckets — the Delta/Iceberg
    ``OPTIMIZE (ZORDER)`` analog under this module's commit protocol.
    Returns the number of buckets rewritten.

    Why: MERGE rewrites touched buckets as UNSORTED single files, so a
    stats-tracked table's per-file min/max ranges widen with every merge
    and ``read_table(prune=)`` skipping decays (the trade documented in
    ``merge_into_parquet``); conversely a bucket that grew large sits in
    one oversized file. OPTIMIZE rewrites bucket contents sorted by
    ``cluster_by`` and split by ``max_records_per_file`` (near-disjoint
    ranges per file — tight pruning again), stages outside the live set,
    moves in under commit-unique names, and commits ONE new manifest
    version — crash-atomic like MERGE: readers see the old or the new
    layout, never a mixture. Without ``cluster_by``/``zorder_by`` it is a
    pure compactor for buckets holding ≥ ``min_files_per_bucket`` files.

    ``zorder_by`` is the MULTI-dimensional form — ``OPTIMIZE ZORDER BY``
    proper: each bucket's rows are sorted on the Morton interleave of the
    named columns (:func:`zorder_value`, a pure codegen expression — the
    grid calibration is one bounded min/max aggregate over the live rows,
    never a global sort), so per-file min/max rectangles stay tight on
    EVERY named column at once and ``read_table(prune=)`` skips files for
    predicates on ANY of them. A linear ``cluster_by`` gives tight ranges
    on its first column only. Mutually exclusive with ``cluster_by``; the
    sort key is computed on the fly and never written. ``zorder_method``
    picks the grid calibration exactly as in :func:`write_zordered`:
    ``"linear"`` (default — one bounded min/max aggregate) or
    ``"quantile"`` (rank-bucketed equal-population cells via one
    approxQuantile pass, for heavily skewed columns).

    ``stats_columns`` RETROFITS data skipping onto a table written without
    it (or changes the tracked set): the new manifest records stats for
    every live file, rewritten or not.

    Content is row-for-row identical by construction (no upsert logic —
    the rewrite only re-arranges each bucket's rows). Run it as the
    single writer, or with ``retain_versions > 1`` alongside readers; a
    concurrent MERGE commit surfaces as ``ManifestConflict`` (re-run).
    """
    if cluster_by and zorder_by:
        raise ValueError(
            "cluster_by and zorder_by are mutually exclusive — a linear "
            "sort and a Morton sort cannot both order the same rewrite"
        )
    if zorder_method not in ("linear", "quantile"):
        raise ValueError(
            f"zorder_method must be 'linear' or 'quantile': {zorder_method!r}"
        )
    version, manifest = _read_manifest(spark, path)
    if manifest is None:
        raise ValueError(f"no manifest at {path} — nothing to optimize")
    targets = {
        b
        for b, files in manifest["buckets"].items()
        if files
        and (cluster_by or zorder_by or len(files) >= min_files_per_bucket)
    }
    if not targets:
        if stats_columns:  # stats retrofit alone still commits
            live = [f for files in manifest["buckets"].values() for f in files]
            new_manifest = dict(manifest)
            new_manifest["stats_columns"] = list(stats_columns)
            new_manifest["stats"] = _file_stats(path, live, list(stats_columns))
            _commit_manifest(spark, path, version + 1, new_manifest)
        return 0
    schema = (
        StructType.fromJson(manifest["schema"])
        if manifest.get("schema")
        else None
    )
    current = _read_live_files(spark, path, manifest, schema, targets)
    arranged = current.repartition(len(targets), F.col(BUCKET))
    if cluster_by:
        arranged = arranged.sortWithinPartitions(
            BUCKET, *[F.col(c) for c in cluster_by]
        )
    elif zorder_by:
        bits = min(zorder_bits, 63 // len(zorder_by))
        z = _zorder_sort_key(current, zorder_by, bits, zorder_method)
        if z is None:
            # all-null / empty live set: nothing to interleave — plain
            # compaction ordering (grid calibration needs real bounds)
            arranged = arranged.sortWithinPartitions(BUCKET)
        else:
            arranged = arranged.sortWithinPartitions(F.col(BUCKET), z)
    staging = f"{path}/.staging-{uuid.uuid4().hex}"
    writer = arranged.write.mode("overwrite")
    if max_records_per_file:
        writer = writer.option("maxRecordsPerFile", int(max_records_per_file))
    writer.partitionBy(BUCKET).parquet(staging)

    Path, fs = _fs(spark, path)
    commit_tag = f"o{version + 1:010d}-{uuid.uuid4().hex[:8]}"
    moved = _move_staged_files(Path, fs, path, staging, commit_tag)
    # an empty staged bucket dir (possible when repartition left a bucket
    # with zero rows — cannot happen for non-empty targets, but be safe)
    for b in targets - set(moved):
        moved[b] = []

    merged_buckets = {**manifest["buckets"], **moved}
    new_manifest = {
        "n_buckets": manifest.get("n_buckets"),
        "key_columns": manifest.get("key_columns"),
        "schema": manifest.get("schema"),
        "buckets": merged_buckets,
    }
    stats_cols = (
        list(stats_columns)
        if stats_columns
        else manifest.get("stats_columns")
    )
    if stats_cols:
        live = {f for files in merged_buckets.values() for f in files}
        if stats_columns and stats_columns != manifest.get("stats_columns"):
            # retrofit / changed tracked set: stat EVERY live file
            fresh = _file_stats(path, sorted(live), list(stats_cols))
            prior = {}
        else:
            prior = manifest.get("stats", {})
            fresh = _file_stats(
                path,
                [f for files in moved.values() for f in files],
                list(stats_cols),
            )
        new_manifest["stats_columns"] = list(stats_cols)
        new_manifest["stats"] = {
            **{r: s for r, s in prior.items() if r in live},
            **fresh,
        }
    try:
        _commit_manifest(spark, path, version + 1, new_manifest)
    except BaseException:
        # the staged files were already moved into live bucket dirs; ANY
        # failed commit — a lost OCC race or a transient IO error — would
        # leave them orphaned there: unreferenced by any manifest,
        # invisible to readers, but accumulating on every re-run until a
        # vacuum (round-8 fix covered ManifestConflict only; round-9
        # review widened it to every commit failure). Undo the move
        # best-effort before surfacing the original error so a re-run
        # starts clean; if the filesystem is too broken to delete,
        # vacuum_table remains the backstop.
        #
        # CRITICAL guard (round-10 advice): _commit_manifest can raise
        # AFTER the commit became visible — tmp-file cleanup IO error, or
        # a KeyboardInterrupt landing between the exclusive link/rename
        # and the return. Deleting the moved files then would corrupt the
        # now-live version+1 manifest, the exact opposite of what this
        # handler protects. Roll back only if version+1 is verifiably
        # absent OR verifiably someone ELSE's commit (a lost OCC race: the
        # live manifest does not reference our commit_tag files, so ours
        # really are orphans). If OUR commit is live — or we cannot tell —
        # the moved files ARE the data; never delete.
        try:
            vpath = f"{path}/{_MANIFEST_PREFIX}{version + 1:010d}.json"
            if not fs.exists(Path(vpath)):
                committed = False
            else:
                _, live_m = _read_manifest(spark, path, version + 1)
                live_files = {
                    f for files in live_m["buckets"].values() for f in files
                }
                ours = {f for files in moved.values() for f in files}
                committed = bool(ours & live_files)
        except Exception:
            committed = True  # can't tell — assume live, never delete
        if not committed:
            try:
                for files in moved.values():
                    for rel in files:
                        fs.delete(Path(f"{path}/{rel}"), False)
                fs.delete(Path(staging), True)
            except Exception:
                pass  # never mask the commit failure with a cleanup failure
        raise
    fs.delete(Path(staging), True)
    if retain_versions <= 1:
        for b in targets:
            for rel in manifest["buckets"].get(b, []):
                fs.delete(Path(f"{path}/{rel}"), False)
        if version > 0:
            fs.delete(
                Path(f"{path}/{_MANIFEST_PREFIX}{version:010d}.json"),
                False,
            )
    return len(targets)


def vacuum_table(
    spark: SparkSession, path: str, retain_versions: int = 1
) -> int:
    """Reclaim files a crashed merge orphaned and expire old history;
    returns the number removed.

    Deletes every ``.staging-*`` directory, every manifest older than the
    newest ``retain_versions``, and every data file under a bucket
    directory that no RETAINED manifest references. ``retain_versions`` is
    the time-travel retention policy: versions it keeps stay readable via
    ``read_table(version=...)``; versions below it are gone for good. Safe
    under the single-writer assumption (no merge is in flight when vacuum
    runs); never touches files a retained manifest lists.
    """
    versions = table_versions(spark, path)
    if not versions:
        return 0
    retained = set(versions[-max(1, retain_versions) :])
    live: set[str] = set()
    for v in retained:
        _, manifest = _read_manifest(spark, path, v)
        live |= {f for files in manifest["buckets"].values() for f in files}
    Path, fs = _fs(spark, path)
    removed = 0
    keep_names = {f"{_MANIFEST_PREFIX}{v:010d}.json" for v in retained}
    for st in fs.listStatus(Path(path)):
        name = st.getPath().getName()
        if name.startswith(".staging-") or name.startswith(".manifest-tmp-"):
            fs.delete(st.getPath(), True)
            removed += 1
        elif (
            name.startswith(_MANIFEST_PREFIX)
            and name.endswith(".json")
            and name not in keep_names
        ):
            fs.delete(st.getPath(), False)
            removed += 1
        elif st.isDirectory() and name.startswith(BUCKET + "="):
            for f in fs.listStatus(st.getPath()):
                rel = f"{name}/{f.getPath().getName()}"
                if rel.endswith(".parquet") and rel not in live:
                    fs.delete(f.getPath(), False)
                    removed += 1
    return removed


def read_table(
    spark: SparkSession,
    path: str,
    schema=None,
    version: int | None = None,
    prune: dict[str, tuple] | None = None,
) -> DataFrame:
    """Read the bucketed table back without the layout column.

    Manifest-committed tables read exactly the live file set (orphans from
    crashed merges are invisible) using the manifest's stored schema — no
    footer inference, and empty tables read fine. Pre-manifest directories
    fall back to a plain directory read, where passing the schema
    ``write_bucketed_table`` returned keeps empty tables readable.

    ``version`` time-travels to an older committed snapshot: each manifest
    is an immutable file list, so reading manifest N reproduces the table
    exactly as of commit N — available while merges run with
    ``retain_versions > 1`` and ``vacuum_table`` has not reclaimed the
    version. A vacuumed/unknown version raises rather than serving the
    wrong data.

    ``prune={col: (lo, hi)}`` is manifest-level data skipping over a table
    written with ``stats_columns``: files whose recorded min/max range
    misses the CLOSED interval [lo, hi] (None = unbounded side) are never
    planned — at 100k-file scale this is the difference between
    O(matching) and O(all-files) scan planning, on top of the engine's own
    row-group pruning. It is an OPTIMIZATION, not a filter: the caller
    still applies the real predicate, files without stats are always kept,
    and a pre-manifest table ignores ``prune`` entirely — so the read is
    correct for every table, pruned or not.
    """
    _, manifest = _read_manifest(spark, path, version)
    if manifest is not None:
        if prune:
            manifest, _, _ = _prune_manifest_files(manifest, prune)
        return _read_live_files(spark, path, manifest, schema).drop(BUCKET)
    reader = spark.read.schema(schema) if schema is not None else spark.read
    return reader.parquet(path).drop(BUCKET)


def export_training_shards(
    df: DataFrame,
    path: str,
    id_col: str,
    n_shards: int,
    fmt: str = "parquet",
    order_col: str | None = None,
    hash_fn: str = "xxhash64",
) -> None:
    """Deterministic sharded export for training consumption: every row
    lands in shard ``pmod(hash(id), n_shards)``, sorted within the
    shard by (order_col, id) — so two exports of the same corpus are
    file-for-file identical, and a training job can map shards to data
    loaders with stable membership across rebuilds (the same property the
    hash-bucket split gives, applied to physical files).

    ``repartition(n, col)`` alone would leave intra-partition order to scan
    order (nondeterministic across runs/cluster sizes); the
    ``sortWithinPartitions`` pins it. One shuffle, no global sort. The
    shard column is written so readers can verify placement; ``fmt`` may
    be ``parquet`` or ``json`` (JSONL shards for text-pipeline tooling).

    ``hash_fn``: ``"xxhash64"`` (default, fastest — one JVM hash) or
    ``"md5"`` (portable — shard = first 8 md5 hex chars of the id string,
    reproducible by ANY engine, which is what lets the export round-trip
    carry a full SQL oracle and lets non-Spark consumers verify placement
    without a Spark runtime).
    """
    if n_shards < 1:
        raise ValueError(f"n_shards must be >= 1, got {n_shards}")
    from .util import portable_id_hash

    sharded = df.withColumn(
        "shard",
        F.pmod(portable_id_hash(F.col(id_col), hash_fn), F.lit(n_shards)).cast(
            "int"
        ),
    )
    order = [F.col(order_col)] if order_col else []
    (
        sharded.repartition(n_shards, "shard")
        .sortWithinPartitions(*order, F.col(id_col))
        .write.format(fmt)
        .mode("overwrite")
        .save(path)
    )


def read_training_shards(
    spark: SparkSession, path: str, fmt: str = "parquet", schema=None
) -> DataFrame:
    """Read back an exported shard set (schema required for json shards if
    inference is to be avoided)."""
    reader = spark.read.format(fmt)
    if schema is not None:
        reader = reader.schema(schema)
    return reader.load(path)


def zorder_value(columns: list[str], mins: dict, maxs: dict, bits: int = 16):
    """Z-order (Morton) key over numeric columns as a pure JVM expression.

    Each column is linearly scaled to a ``bits``-bit integer grid using
    the table min/max, then the grids' bits are interleaved
    (col0 bit i → z bit i*len+0, col1 bit i → z bit i*len+1, ...). Linear
    scaling (vs rank/quantile) keeps the expression stateless and
    codegen-friendly; heavily skewed columns cluster less tightly — the
    standard trade the Delta/Iceberg OPTIMIZE ZORDER implementations also
    start from.

    ``bits × len(columns)`` must fit in the 63 value bits of a signed
    long: one bit more lands the top interleaved bit on the sign bit, and
    beyond that JVM ``shiftleft`` wraps its distance mod 64 — either way
    the curve ordering is silently scrambled and file pruning quietly
    degrades, so that configuration RAISES instead (round-5 advice).
    Callers wanting more columns lower ``bits`` (e.g. 4 columns → ≤15
    bits); sub-16-bit grids still cluster far better than a plain sort.
    """
    if not columns:
        raise ValueError("zorder_value needs at least one column")
    if bits * len(columns) > 63:
        raise ValueError(
            f"bits × columns = {bits}×{len(columns)} exceeds the 63 usable "
            f"bits of a signed 64-bit Z key; use bits <= {63 // len(columns)}"
        )
    scaled = {}
    for c in columns:
        lo, hi = float(mins[c]), float(maxs[c])
        span = (hi - lo) or 1.0
        grid = (
            (F.col(c).cast("double") - F.lit(lo))
            / F.lit(span)
            * F.lit(float((1 << bits) - 1))
        )
        scaled[c] = F.round(grid).cast("long")
    z = F.lit(0).cast("long")
    stride = len(columns)
    for bit in range(bits):
        for idx, c in enumerate(columns):
            src = F.shiftright(scaled[c], bit).bitwiseAND(F.lit(1))
            z = z.bitwiseOR(F.shiftleft(src, bit * stride + idx))
    return z


def write_zordered(
    df: DataFrame,
    path: str,
    columns: list[str],
    n_files: int = 32,
    bits: int = 16,
    method: str = "linear",
    relative_error: float = 0.001,
) -> None:
    """Write parquet clustered on the Z-order curve of ``columns`` — the
    multi-dimensional pruning layout (Delta/Iceberg ``OPTIMIZE ZORDER``
    analog for plain parquet).

    A sort on (a, b) prunes scans filtered on ``a`` but leaves ``b``
    scattered across every file; interleaving the two value grids makes
    each output file cover a small RECTANGLE of (a, b) space, so parquet
    footer min/max stats prune file/row-group reads for predicates on
    EITHER column. Plan shape: one bounded min/max aggregate (the grid
    calibration), then repartitionByRange + sortWithinPartitions on the
    z key — exactly one range exchange of data rows, no global sort, and
    the z key is dropped before write (pruning rides the data columns'
    own stats).

    ``bits`` is clamped so the interleaved key fits a signed long (see
    :func:`zorder_value`) — with 4+ columns the default 16-bit grid would
    otherwise overflow; clamping trades grid resolution, never ordering
    correctness.

    ``method`` picks the grid calibration:

    - ``"linear"`` (default) — min/max scaling from one bounded min/max
      aggregate. Stateless, cheapest; heavily skewed columns cluster
      less tightly (most rows collapse into a few grid cells).
    - ``"quantile"`` — rank-bucketed grid from one ``approxQuantile``
      pass (:func:`..zorder.zorder_key`): equal-POPULATION cells, so
      skewed distributions (zipfian keys, long-tailed amounts) still
      spread across the full grid and per-file rectangles stay tight.
      Costs one extra Greenwald-Khanna pass; bounded driver action of
      ``2^bits − 1`` doubles per column.
    """
    if method not in ("linear", "quantile"):
        raise ValueError(f"method must be 'linear' or 'quantile': {method!r}")
    bits = min(bits, 63 // max(len(columns), 1))
    z = _zorder_sort_key(df, columns, bits, method, relative_error)
    arranged = df
    if z is not None:
        arranged = (
            df.withColumn("__z", z)
            .repartitionByRange(n_files, "__z")
            .sortWithinPartitions("__z")
            .drop("__z")
        )
    arranged.write.mode("overwrite").parquet(path)


def _zorder_sort_key(
    df: DataFrame,
    columns: list[str],
    bits: int,
    method: str,
    relative_error: float = 0.001,
):
    """Grid calibration shared by :func:`write_zordered` and
    :func:`optimize_table` — ONE definition of the Morton sort key so
    the two layout paths can never diverge (code-review fix: the
    empty/all-NULL guard previously lived only in optimize_table's
    inlined copy, leaving write_zordered to crash on the same input).

    Returns the key Column, or ``None`` when the live rows offer no
    usable bounds (empty input, or an all-NULL zorder column) — callers
    skip the Morton sort and write the plain layout, which is
    correctness-neutral like all stats-based skipping.
    """
    if method == "quantile":
        from .zorder import zorder_key

        # rank grids don't need linear-grid resolution: cells are equal
        # population by construction, and file-level pruning only needs
        # ~log2(n_files) discriminating bits — cap at 8 (256 cells/col)
        # so the quantile pass ships ≤255 boundary doubles per column
        return zorder_key(
            df, columns, bits=min(bits, 8), relative_error=relative_error
        )
    stats = df.agg(
        *[F.min(c).alias(f"__min_{c}") for c in columns],
        *[F.max(c).alias(f"__max_{c}") for c in columns],
    ).first()
    mins = {c: stats[f"__min_{c}"] for c in columns}
    maxs = {c: stats[f"__max_{c}"] for c in columns}
    if any(mins[c] is None for c in columns):
        return None
    return zorder_value(columns, mins, maxs, bits)
