"""Source connectors: parquet tables, CSV-with-explicit-schema, JSON sidecars.

Reference parity (SURVEY.md §2a):
- S1 CSV scan with explicit schema  (reference transform.py:53-65)
- S2 schema sidecar via StructType.fromJson (reference transform.py:54-55)
- S3 JSON sidecar load              (reference transform.py:26-30)

All readers are declarative: explicit schemas skip the inference scan, and
parquet scans get column pruning + predicate/partition pushdown from
Catalyst for free. Never collect, never infer on the hot path.
"""

from __future__ import annotations

import json
import os
from typing import Iterable, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

#: The driver's test tables (TESTDATA.md).
TEST_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


#: (abspath, mtime_ns, size) -> inferred raw read schema. Footer-based
#: schema inference costs ~70 ms of driver work PER spark.read.parquet
#: call (measured; an explicit-schema read is ~11 ms), and the bench /
#: driver sweep call load_table hundreds of times over the same few
#: immutable files — a classic repeated-metadata cost (guide §6: skip
#: inference with explicit schemas). Keyed on the file's stat so an
#: in-process regeneration of the data dir invalidates the entry; the
#: cached value is only ever the schema Spark itself inferred for that
#: exact file state, so reads are byte-for-byte the same plans.
_SCHEMA_CACHE: dict[tuple[str, int, int], StructType] = {}

#: (abspath, mtime_ns, size) -> parquet footer row count, or None when
#: the entry is not readable as one parquet file. Same stat-keyed
#: discipline as the schema cache: the value is file METADATA (the footer
#: num_rows), read once per file state via pyarrow on the driver — never
#: a computed result. Used to size scale-aware repartition widths
#: (operators/skew.spread_small_input) without a count() job.
_ROWS_CACHE: dict[tuple[str, int, int], int | None] = {}


def table_rows(sf_dir: str, name: str) -> int | None:
    """Row count of a scale-factor table from its parquet footer
    (None when the file is missing or unreadable as local parquet —
    callers treat None as "unknown" and fall back to core-count
    behavior). Driver-side metadata only: no Spark job.

    A directory-style table (Spark's ``part-*`` files) is None too.
    Summing its part-file footers would be exact, but it would change the
    spread width of the rows that read one (s01/t39 on 500 documents at
    local[4]: 4 → 2 with ``TARGET_SPREAD_ROWS = 320``), a performance
    change to be measured on its own."""
    path = os.path.join(sf_dir, f"{name}.parquet")
    try:
        st = os.stat(path)
    except OSError:
        return None
    key = (os.path.abspath(path), st.st_mtime_ns, st.st_size)
    if key not in _ROWS_CACHE:
        try:
            import pyarrow.parquet as pq

            with pq.ParquetFile(path) as f:
                _ROWS_CACHE[key] = int(f.metadata.num_rows)
        except Exception:
            _ROWS_CACHE[key] = None
    return _ROWS_CACHE[key]


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one named parquet table from a scale-factor directory.

    ``events.parquet`` stores INT64 TIMESTAMP(NANOS) which Spark's parquet
    reader rejects (PARQUET_TYPE_ILLEGAL). We read nanos as long via the
    runtime-settable legacy conf, then truncate to microsecond timestamps
    with integer division — matching DuckDB's nanos->micros truncation
    (double division would ROUND: 2^63-scale longs exceed double's 2^53
    integer range).
    """
    from censo_escolar_spark.session import ensure_session_tuned

    ensure_session_tuned(spark)
    path = os.path.join(sf_dir, f"{name}.parquet")
    try:
        st = os.stat(path)
        key = (os.path.abspath(path), st.st_mtime_ns, st.st_size)
    except OSError:
        key = None
    cached = _SCHEMA_CACHE.get(key) if key is not None else None
    if cached is not None:
        # Explicit schema: no inference pass. The nanos `ts` column (when
        # the cached schema recorded it as bigint) reads fine without the
        # legacy conf — the conf only gates the INFERENCE-time mapping.
        df = spark.read.schema(cached).parquet(path)
        if name == "events" and dict(df.dtypes).get("ts") == "bigint":
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        return df
    if name != "events":
        df = spark.read.parquet(path)
        if key is not None:
            _SCHEMA_CACHE[key] = df.schema
        return df
    # The legacy conf only needs to hold while the read is ANALYZED (the
    # schema is baked into the plan; execution was verified to succeed
    # after restore) — save/restore so a session-wide toggle can't leak
    # into later parquet reads and silently turn their nano timestamps
    # into bigint.
    conf_key = "spark.sql.legacy.parquet.nanosAsLong"
    prev = spark.conf.get(conf_key, None)
    spark.conf.set(conf_key, "true")
    try:
        df = spark.read.parquet(path)
    finally:
        if prev is None:
            spark.conf.unset(conf_key)
        else:
            spark.conf.set(conf_key, prev)
    if key is not None:
        _SCHEMA_CACHE[key] = df.schema  # raw schema, before the ts fix
    ts_fields = {f.name for f in df.schema.fields if f.name == "ts"}
    if "ts" in ts_fields and dict(df.dtypes)["ts"] == "bigint":
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df


def register_views(spark: SparkSession, sf_dir: str, tables: Iterable[str] = TEST_TABLES) -> None:
    """Register every table as a temp view so ``spark.sql`` works over them."""
    for name in tables:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)


def load_json_sidecar(path: str) -> dict:
    """Load a JSON sidecar (schema or code->label maps) from local disk.

    Reference parity: S3 (transform.py:26-30) fetched these from GCS; the
    engine reads local/driver-shipped files — the format is identical.
    """
    with open(path, encoding="utf-8") as f:
        return json.load(f)


def load_schema_sidecar(path: str) -> StructType:
    """Load a Spark StructType serialized as JSON (S2, transform.py:54-55)."""
    return StructType.fromJson(load_json_sidecar(path))


def load_csv_with_schema(
    spark: SparkSession,
    path: str | Sequence[str],
    schema: StructType,
    *,
    delimiter: str = "|",
    header: bool = True,
    encoding: str = "utf-8",
) -> DataFrame:
    """CSV scan with an explicit schema — no inference pass (S1).

    Matches the reference reader options (transform.py:62-64): pipe
    delimiter, header row, UTF-8 (spelled "utf-8": Spark 4 validates
    charset names strictly and rejects the reference's "utf8"). With an explicit schema Spark's
    vectorized CSV reader runs a single pass and malformed cells become
    NULL (PERMISSIVE mode), which is the null-on-error semantics the
    reference gets from its UDFs. ``path`` may be a list of files (e.g. a
    table's regional shards): one scan, the header dropped per file.
    """
    return (
        spark.read.options(header=header, delimiter=delimiter, encoding=encoding)
        .schema(schema)
        .csv(path if isinstance(path, str) else list(path))
    )


def read_table(
    spark: SparkSession,
    path: str,
    *,
    format: str = "parquet",
    schema: StructType | None = None,
    **options,
) -> DataFrame:
    """Generic format-dispatched scan (parquet / orc / json / csv).

    Self-describing formats (parquet, orc) carry their types; text
    formats (json, csv) should be given the explicit schema — inference
    costs an extra pass and degrades types (dates as strings), exactly
    the failure mode the reference avoided with schema sidecars (S1/S2).
    """
    reader = spark.read.format(format)
    if schema is not None:
        reader = reader.schema(schema)
    if format == "csv":
        reader = reader.option("header", True)
    return reader.options(**options).load(path)


def load_binary_files(
    spark: SparkSession,
    path: str,
    *,
    glob: str | None = None,
    max_bytes_per_partition: int | None = None,
) -> DataFrame:
    """Raw-media ingestion via Spark's ``binaryFile`` source.

    Returns (path, modificationTime, length, content binary) — the
    ingestion edge of the multimodal pipeline (operators/multimodal.py):
    each file is one row whose payload is an opaque binary column with
    typed metadata, ready for sniff_format / media_metadata /
    decode_media.

    Scale notes: ``binaryFile`` loads each file fully into one row —
    it is for payload-sized objects (images, audio clips), not for
    splittable bulk formats. Partitioning is by files with a size-aware
    packing (``maxPartitionBytes``); pass ``max_bytes_per_partition`` to
    keep per-task memory bounded when payloads are large, and re-balance
    skewed payload sizes downstream with
    ``operators.multimodal.repartition_by_bytes``.
    """
    reader = spark.read.format("binaryFile")
    if glob is not None:
        reader = reader.option("pathGlobFilter", glob)
    if max_bytes_per_partition is not None:
        reader = reader.option("maxPartitionBytes", str(max_bytes_per_partition))
    return reader.load(path)


def read_with_quarantine(
    spark: SparkSession,
    path: str,
    schema: StructType,
    *,
    format: str = "csv",
    corrupt_col: str = "_corrupt_record",
    **options,
) -> tuple[DataFrame, DataFrame]:
    """Robust text-format scan: returns (good, quarantine).

    PERMISSIVE mode with an explicit corrupt-record column — rows whose
    raw line can't satisfy the schema survive as a single raw-text cell
    instead of killing the job (at 100 TB there is ALWAYS a malformed
    line; FAILFAST is not an option and silent DROPMALFORMED destroys
    auditability). ``good`` is schema-clean with the marker dropped;
    ``quarantine`` carries the raw offending lines for replay/repair —
    the open-source analogue of a bad-records sink.

    The corrupt column must be part of the read schema (Spark only
    populates it when declared). The parsed frame is cached before the
    split: Spark disallows plans whose required schema is ONLY the
    corrupt column (QUERY_ONLY_CORRUPT_RECORD_COLUMN — the raw-text
    parse would otherwise re-run per query with different pruning), and
    materializing once is also the right shape at scale — parse the
    text ONCE, then both the clean table and the quarantine derive from
    the materialized parse instead of re-scanning raw text. Caller owns
    ``good.unpersist()`` when done (either handle reaches the shared
    cache entry); production pipelines should land ``good`` to parquet
    and replay ``quarantine`` after repair.
    """
    if corrupt_col not in schema.fieldNames():
        schema = StructType(schema.fields).add(corrupt_col, "string")
    reader = (
        spark.read.format(format)
        .schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", corrupt_col)
    )
    if format == "csv":
        reader = reader.option("header", True)
    df = reader.options(**options).load(path).cache()
    good = df.filter(F.col(corrupt_col).isNull()).drop(corrupt_col)
    quarantine = df.filter(F.col(corrupt_col).isNotNull()).select(
        F.col(corrupt_col).alias("raw_record")
    )
    return good, quarantine


def read_parquet_evolving(spark: SparkSession, path: str) -> DataFrame:
    """Parquet scan with schema evolution (``mergeSchema``).

    The reference absorbs 10 years of schema drift by forcing one wide
    schema over every year (SURVEY §1: the 2020 schema reused for
    2011-2019, missing fields null-padded). For parquet sinks written
    per-partition over time the Spark-native equivalent is a merged-
    footer read: the scan schema is the UNION of every file's fields,
    files lacking a column yield NULLs — same null-padding semantics
    without a hand-maintained master schema. Footer merging costs one
    distributed metadata pass, so it's opt-in here rather than a global
    conf.
    """
    return spark.read.option("mergeSchema", True).parquet(path)


def read_parquet_robust(
    spark: SparkSession, path: str, *, ignore_corrupt: bool = True
) -> DataFrame:
    """Parquet scan that survives corrupt/truncated files.

    At 100 TB a handful of objects are ALWAYS damaged (partial uploads,
    bit rot, killed writers). ``ignoreCorruptFiles`` skips unreadable
    files/footers instead of failing the job — pair with a manifest
    count check when exact completeness matters; flip to False to turn
    damage back into a hard failure."""
    return (
        spark.read.option("ignoreCorruptFiles", ignore_corrupt).parquet(path)
    )
