"""Bucketed versioned snapshot store for streaming maintainers.

The naive exactly-once snapshot (``state_dir/version=<batch_id>`` holding
the FULL table) rewrites O(state) per micro-batch. This store keeps the
same versioning discipline — a batch reads strictly below its own id and
fully overwrites its own version directory, so retries converge — but
partitions the state by a key-hash bucket and makes each version carry
ONLY the buckets its batch touched:

    state_dir/version=<bid>/bucket=<b>/part-*.parquet   (touched b only)

Reading the state at a point in time resolves, per bucket, the LATEST
version at-or-below that point which wrote the bucket — a driver-side
directory listing bounded by O(versions × buckets) names, the manifest.
Write amplification is O(touched buckets), not O(state); untouched
buckets' files are never listed, read, or rewritten (prior versions are
immutable). At 100 TB the bucket count is sized so one bucket fits an
executor; compaction (folding old versions' buckets into a checkpoint
version) bounds the listing depth — the maintainers invoke it on a
``compact_every`` cadence so depth stays bounded without operator
intervention.

Retry safety: a re-run of batch N reads the same per-bucket resolution
strictly below N (its own half-written version is excluded) and
overwrites ``version=N`` wholesale — identical to the full-snapshot
discipline, shrunk to touched buckets.

All control-plane I/O (version listing, tombstone mkdirs, compaction
commit markers/renames/deletes) goes through the Hadoop FileSystem API
resolved from the state path, so the store runs on any Hadoop-supported
filesystem (local, HDFS, s3a/abfs/gcs) exactly like the parquet data
plane. Caveat: compaction's commit relies on directory rename, which is
atomic on HDFS/local but emulated (copy) on object stores — an
object-store deployment should keep versions uncompacted or front the
store with a table format's commit log.
"""

from __future__ import annotations

import posixpath

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from censo_escolar_spark.sources.hadoopfs import hadoop_fs, list_children

#: Fixture-sized default; thousands at 100 TB.
N_BUCKETS = 8

#: Compaction two-phase-commit artifacts (underscore prefix: invisible
#: to Spark's data-path listings).
_COMPACT_TMP = "_compact_tmp_"
_COMPACT_COMMIT = "_compact_commit_"


def _jpath(jvm, *parts: str):
    return jvm.org.apache.hadoop.fs.Path(posixpath.join(*parts))


def checked_delete(fs, jpath, recursive: bool) -> None:
    """Hadoop ``FileSystem.delete`` reports failure as a False RETURN,
    not an exception (object-store emulation, lease/permission issues) —
    but also returns False when the path simply doesn't exist, which is
    the normal case on idempotent re-runs. Only a path that still exists
    after a False return is a real failure."""
    if not fs.delete(jpath, recursive) and fs.exists(jpath):
        raise IOError(f"hadoop delete returned false: {jpath}")


def checked_rename(fs, src, dst) -> None:
    """Hadoop ``FileSystem.rename`` reports failure as a False return.
    Compaction's phase-2 swap must NOT proceed past a failed rename: the
    superseded versions are already deleted, so dropping the commit
    marker after a silent rename failure would orphan the folded temp
    (later treated as a stale pre-marker attempt and deleted) and lose
    committed state with no recovery path. Raising here leaves the
    marker in place so ``_recover`` retries phase 2."""
    if not fs.rename(src, dst):
        raise IOError(f"hadoop rename returned false: {src} -> {dst}")


def bucket_of(key_col: str, *, n_buckets: int = N_BUCKETS) -> Column:
    """Deterministic key-hash bucket (the state's partition column)."""
    return F.pmod(F.xxhash64(F.col(key_col)), F.lit(n_buckets)).cast("int")


def _version_of(name: str) -> int | None:
    """Parse a ``version=<int>`` directory name (None when malformed —
    compaction temp dirs and foreign files must never break the
    manifest)."""
    if not name.startswith("version="):
        return None
    try:
        return int(name.split("=", 1)[1])
    except ValueError:
        return None


def _bucket_manifest(
    spark: SparkSession, state_dir: str, below: int
) -> dict[int, int]:
    """bucket -> latest version strictly below ``below`` that wrote it.

    Finishes any marker-committed compaction first, so a crash between
    compaction's commit point and its directory swap can never surface
    a state in which committed bucket contents are unreachable."""
    _recover(spark, state_dir)
    fs, jvm = hadoop_fs(spark, state_dir)
    latest: dict[int, int] = {}
    for vd in list_children(fs, jvm, state_dir):
        v = _version_of(vd)
        if v is None or v >= below:
            continue
        for bd in list_children(fs, jvm, posixpath.join(state_dir, vd)):
            if not bd.startswith("bucket="):
                continue
            b = int(bd.split("=", 1)[1])
            if b not in latest or v > latest[b]:
                latest[b] = v
    return latest


def read_bucketed_state(
    spark: SparkSession,
    state_dir: str,
    *,
    schema: str,
    below: int | None = None,
    buckets: list[int] | None = None,
) -> DataFrame:
    """State as of the latest committed versions strictly below ``below``
    (all versions if None), optionally restricted to ``buckets`` — the
    partition-pruned read a maintainer uses for its touched buckets.
    Returns an empty frame of ``schema`` when nothing is committed; the
    ``bucket`` partition column is dropped (storage detail, not state).
    """
    hi = below if below is not None else 1 << 62
    manifest = _bucket_manifest(spark, state_dir, hi)
    if buckets is not None:
        manifest = {b: v for b, v in manifest.items() if b in set(buckets)}
    paths = [
        posixpath.join(state_dir, f"version={v}", f"bucket={b}")
        for b, v in sorted(manifest.items())
    ]
    if not paths:
        return spark.createDataFrame([], schema)
    return spark.read.schema(schema).parquet(*paths)


def _write_version_dir(
    df: DataFrame,
    out: str,
    *,
    key_col: str,
    touched: list[int] | None,
    n_buckets: int,
) -> None:
    """Write ``df`` bucket-partitioned into ``out`` + tombstone dirs for
    empty touched buckets (shared by version writes and compaction)."""
    (
        df.withColumn("bucket", bucket_of(key_col, n_buckets=n_buckets))
        .write.mode("overwrite")
        .partitionBy("bucket")
        .parquet(out)
    )
    fs, jvm = hadoop_fs(df.sparkSession, out)
    for b in touched or []:
        fs.mkdirs(_jpath(jvm, out, f"bucket={b}"))


def write_bucketed_version(
    df: DataFrame,
    state_dir: str,
    batch_id: int,
    *,
    key_col: str,
    touched: list[int] | None = None,
    n_buckets: int = N_BUCKETS,
) -> None:
    """Commit ``df`` as version ``batch_id``, partitioned by key bucket.
    ``df`` should contain only the touched buckets' full new contents
    (the merge of prior-touched-buckets with the batch); its bucket
    column is derived here so callers never store it.

    ``touched`` MUST list every bucket the batch read: a touched bucket
    whose new contents are EMPTY (its last key was deleted) writes no
    partition directory, and without a tombstone the manifest would
    resolve that bucket to the stale prior version — resurrecting
    deleted keys. Empty touched buckets are recorded as empty
    ``bucket=<b>`` directories (zero-row parquet reads)."""
    out = posixpath.join(state_dir, f"version={batch_id}")
    _write_version_dir(
        df, out, key_col=key_col, touched=touched, n_buckets=n_buckets
    )


def touched_buckets(
    batch_df: DataFrame, key_col: str, *, n_buckets: int = N_BUCKETS
) -> list[int]:
    """Distinct key buckets present in a batch — a bounded collect
    (≤ n_buckets ints), the manifest key for the pruned prior read."""
    rows = (
        batch_df.select(bucket_of(key_col, n_buckets=n_buckets).alias("b"))
        .distinct()
        .collect()
    )
    return sorted(r.b for r in rows)


def _finish_compaction(fs, jvm, state_dir: str, upto: int) -> None:
    """Phase 2 of compaction (idempotent — also the crash-recovery path):
    delete superseded version dirs, rename the folded temp into place,
    drop the commit marker. Safe to re-run from any interruption point:
    deletes are idempotent, the rename is skipped once the temp is gone,
    and the marker is removed last."""
    tmp = _jpath(jvm, state_dir, f"{_COMPACT_TMP}{upto}")
    if fs.exists(tmp):
        for vd in list_children(fs, jvm, state_dir):
            v = _version_of(vd)
            if v is not None and v <= upto:
                checked_delete(fs, _jpath(jvm, state_dir, vd), True)
        checked_rename(fs, tmp, _jpath(jvm, state_dir, f"version={upto}"))
    checked_delete(fs, _jpath(jvm, state_dir, f"{_COMPACT_COMMIT}{upto}"), False)


def _recover(spark: SparkSession, state_dir: str) -> None:
    """Finish any compaction that crashed after its commit marker."""
    fs, jvm = hadoop_fs(spark, state_dir)
    for name in list_children(fs, jvm, state_dir):
        if name.startswith(_COMPACT_COMMIT):
            _finish_compaction(fs, jvm, state_dir, int(name[len(_COMPACT_COMMIT):]))


def compact_state(
    spark: SparkSession,
    state_dir: str,
    *,
    schema: str,
    key_col: str,
    upto: int,
    n_buckets: int = N_BUCKETS,
) -> None:
    """Fold every bucket's latest contents at-or-below version ``upto``
    into a single checkpoint version ``upto`` (all buckets present,
    empty ones as tombstones), then delete the version directories it
    supersedes.

    This bounds the manifest's listing depth: without compaction the
    per-bucket latest-version resolution walks every version ever
    written. The maintainers call this every ``compact_every`` batches
    with ``upto = batch_id - 1`` — folding strictly-prior history, so a
    retried batch still reads the same state below its own id — at the
    cost of one full-state rewrite amortized over K O(touched) batches,
    the standard LSM checkpoint trade.

    Crash safety (two-phase commit): the folded snapshot is fully
    written to a TEMP directory first; an atomically-created commit
    MARKER then flips to phase 2 (delete superseded versions, rename the
    temp into place, drop the marker). A crash before the marker leaves
    the store untouched (the stale temp is cleaned by the next attempt);
    a crash after it is finished by ``_recover``, which every manifest
    read runs first — there is no window in which committed bucket
    contents are unreachable. (A plain ``mode("overwrite")`` of
    ``version=<upto>`` would delete committed state before the rewrite
    job commits — unrecoverable, since compaction runs outside the
    streaming checkpoint and batch ``upto`` will never re-run.)"""
    fs, jvm = hadoop_fs(spark, state_dir)
    _recover(spark, state_dir)
    stage_state_compaction(
        spark, state_dir, schema=schema, key_col=key_col, upto=upto,
        n_buckets=n_buckets,
    )
    _finish_compaction(fs, jvm, state_dir, upto)


def stage_state_compaction(
    spark: SparkSession,
    state_dir: str,
    *,
    schema: str,
    key_col: str,
    upto: int,
    n_buckets: int = N_BUCKETS,
) -> None:
    """Phase 1 of ``compact_state`` ONLY: write the folded snapshot to
    the temp directory, then atomically create the commit marker — and
    stop. A process dying between the two phases leaves exactly this
    state, so this is the CRASH-INJECTION SEAM for the bucketed store's
    restart-parity row (q74) and crash-window tests; the next manifest
    read (``_recover``, run by every ``read_bucketed_state``) finishes
    the swap idempotently."""
    fs, jvm = hadoop_fs(spark, state_dir)
    tmp = posixpath.join(state_dir, f"{_COMPACT_TMP}{upto}")
    fs.delete(_jpath(jvm, tmp), True)  # stale pre-marker attempt, if any
    state = read_bucketed_state(spark, state_dir, schema=schema, below=upto + 1)
    _write_version_dir(
        state,
        tmp,
        key_col=key_col,
        touched=list(range(n_buckets)),
        n_buckets=n_buckets,
    )
    # the commit point: atomic zero-byte create (fails if present)
    fs.create(_jpath(jvm, state_dir, f"{_COMPACT_COMMIT}{upto}"), False).close()
