"""Census-transform pipeline: the reference's ETL semantics, Spark-first.

Re-implements the per-table transform (reference transform.py:140-148 and
its helpers) as ONE declarative ``select`` of native Catalyst expressions —
no Python UDFs, no per-column withColumn chains (70-240 plan nodes in the
reference become one projection here, keeping whole-stage codegen intact
and letting the parquet/CSV reader prune columns).

Column-name conventions ARE the type system (SURVEY.md §1):
- ``TP_*`` / ``CO_*`` — categorical codes decoded via maps (miss → NULL)
  [transform.py:68-77];
- ``IN_*`` — "0"/"1" flags → boolean, anything else NULL
  [transform.py:80-92];
- ``NU_*`` / ``QT_*`` — integers, malformed → NULL (try_cast: Spark 4's
  default ANSI mode would otherwise throw where the reference yields NULL)
  [transform.py:95-101];
- ``DT_*`` — dates, year-dependent format, escolas only
  [transform.py:104-109];
- everything else passes through untouched.

Year-conditional drift handling [transform.py:112-137]:
- P8 OR-merge for pre-2019 escolas;
- P9 rename implements the EVIDENT INTENT (rename old→new, drop old).
  The reference drops the two dormitório columns it just created
  (transform.py:135 lists the NEW names) — almost certainly a bug; the
  divergence is deliberate and documented here and in SURVEY.md §2b.
  Second divergence, also deliberate: the reference's drop list runs
  UNCONDITIONALLY — year >= 2019 escolas (and any table carrying these
  names) also lose IN_DORMITORIO_ALUNO / IN_DORMITORIO_PROFESSOR /
  CO_LINGUA_INDIGENA there, while this engine applies the drift logic
  only where drift exists (pre-2019 escolas) and KEEPS the native
  post-2019 columns. Consumers expecting reference-identical post-2019
  schemas will see these extra (populated) columns here.
"""

from __future__ import annotations

import posixpath
from typing import Mapping, Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from censo_escolar_spark.functions.dates import parse_census_date
from censo_escolar_spark.functions.decode import (
    decode_with_broadcast_join,
    map_as_dimension,
    map_expr,
)
from censo_escolar_spark.sources.hadoopfs import (
    hadoop_fs,
    holds_data_file,
    is_hidden,
    list_entries,
)

#: Above this many entries a dict is decoded via broadcast LEFT join
#: instead of an inline map literal. The reference's biggest
#: dicts (CO_IES 6,296 entries, CO_MUNICIPIO 5,570 — maps.json) would
#: otherwise each become a 12k+-literal Catalyst expression; several such
#: columns in one projection blow up analysis/codegen time and constant
#: pool size, while a broadcast join ships the dict ONCE per executor.
BROADCAST_DECODE_THRESHOLD = 1024

#: Directory value Hive and Spark write for a NULL partition value.
HIVE_NULL_PARTITION = "__HIVE_DEFAULT_PARTITION__"

#: Columns decoded as dates, per table (transform.py:104-109: escolas only).
DATE_COLUMNS = {"escolas": ("DT_ANO_LETIVO_INICIO", "DT_ANO_LETIVO_TERMINO")}

#: P8 OR-merges: new_col -> (source_a, source_b); escolas, year < 2019
#: (transform.py:112-126).
OR_MERGES = {
    "IN_MANT_ESCOLA_PRIV_ONG_OSCIP": ("IN_MANT_ESCOLA_PRIVADA_ONG", "IN_MANT_ESCOLA_PRIVADA_OSCIP"),
    "IN_ESGOTO_FOSSA": ("IN_ESGOTO_FOSSA_SEPTICA", "IN_ESGOTO_FOSSA_COMUM"),
}

#: P9 renames: old -> new; escolas, year < 2019 (transform.py:129-137,
#: intent semantics — see module docstring).
RENAMES = {
    "IN_ALOJAM_ALUNO": "IN_DORMITORIO_ALUNO",
    "IN_ALOJAM_PROFESSOR": "IN_DORMITORIO_PROFESSOR",
    "CO_LINGUA_INDIGENA": "CO_LINGUA_INDIGENA_1",
}


def decode_column(
    name: str,
    *,
    year: int,
    table: str,
    maps: Mapping[str, Mapping[str, str]],
    date_columns: Sequence[str] | None = None,
) -> Column:
    """The convention engine for ONE column: name prefix → native expression."""
    if date_columns is None:
        date_columns = DATE_COLUMNS.get(table, ())
    c = F.col(name)
    if name.startswith(("TP_", "CO_")) and name in maps:
        return map_expr(maps[name], c).alias(name)
    if name.startswith("IN_"):
        return (
            F.when(c == "1", F.lit(True)).when(c == "0", F.lit(False)).otherwise(F.lit(None))
        ).alias(name)
    if name.startswith(("NU_", "QT_")):
        return c.try_cast("int").alias(name)
    if name.startswith("DT_") and name in date_columns:
        return parse_census_date(c, year).alias(name)
    return c


def apply_conventions(
    df: DataFrame,
    *,
    table: str,
    year: int,
    maps: Mapping[str, Mapping[str, str]],
    date_columns: Sequence[str] | None = None,
    broadcast_threshold: int = BROADCAST_DECODE_THRESHOLD,
) -> DataFrame:
    """P3+P4+P5+P7 as a single projection (one plan node, codegen-friendly).

    Map columns whose dict exceeds ``broadcast_threshold`` entries are
    decoded by broadcast LEFT join after the projection instead of an
    inline map literal — same miss→NULL semantics, no fact-side shuffle,
    but the dict travels as broadcast data rather than a giant expression
    tree (see BROADCAST_DECODE_THRESHOLD)."""
    big_map_cols = [
        n
        for n in df.columns
        if n.startswith(("TP_", "CO_"))
        and n in maps
        and len(maps[n]) > broadcast_threshold
    ]
    small_maps = {k: v for k, v in maps.items() if k not in set(big_map_cols)}
    out = df.select(
        *[
            F.col(n)
            if n in big_map_cols
            else decode_column(
                n, year=year, table=table, maps=small_maps, date_columns=date_columns
            )
            for n in df.columns
        ]
    )
    spark = df.sparkSession
    for n in big_map_cols:
        out = decode_with_broadcast_join(out, map_as_dimension(spark, maps[n]), n)
    return out


def merge_or_columns(df: DataFrame, *, table: str, year: int) -> DataFrame:
    """P8: pre-2019 escolas OR-merge, then drop the source columns.

    Spark's ``drop`` of absent columns is a silent no-op — relied on for
    year >= 2019 exactly as the reference does (transform.py:122-125).
    """
    if table != "escolas" or year >= 2019:
        return df
    out = df
    for new, (a, b) in OR_MERGES.items():
        if a in out.columns and b in out.columns:
            out = out.withColumn(new, F.col(a) | F.col(b))
    return out.drop(*[c for pair in OR_MERGES.values() for c in pair])


def rename_drifted_columns(df: DataFrame, *, table: str, year: int) -> DataFrame:
    """P9 (intent): pre-2019 escolas, rename old column names to the
    post-2019 names and drop the old ones."""
    if table != "escolas" or year >= 2019:
        return df
    out = df
    for old, new in RENAMES.items():
        if old in out.columns:
            out = out.withColumn(new, F.col(old)).drop(old)
    return out


def transform_table(
    df: DataFrame,
    *,
    table: str,
    year: int,
    maps: Mapping[str, Mapping[str, str]],
) -> DataFrame:
    """P11: the fused per-table pipeline (S1 → P3-P9), one lazy narrow chain."""
    out = apply_conventions(df, table=table, year=year, maps=maps)
    out = merge_or_columns(out, table=table, year=year)
    out = rename_drifted_columns(out, table=table, year=year)
    return out


def missing_partitions(
    spark: SparkSession,
    wanted: Sequence[int],
    sink_path: str,
    partition_col: str = "NU_ANO_CENSO",
) -> list[int]:
    """O1: which wanted years are not yet in the sink — one directory
    listing on the driver, no Spark job.

    The reference lists bucket blobs with a regex (censo_escolar.py:39-60);
    here the sink's Hadoop FileSystem is listed with Spark's own
    partition-discovery rules:

    - ``_``/``.``-prefixed names (``_SUCCESS``, ``_temporary``, ``.crc``)
      are ignored;
    - a year is present only when its ``<partition_col>=<year>``
      directory holds at least one non-hidden file (a first run that died
      before committing leaves none);
    - a missing or empty sink means every wanted year is missing;
    - any other entry in the sink root (a loose file, a directory of
      another name, a non-integer year) raises: a sink this function
      cannot read must never look empty, or every year would be appended
      again and the sink duplicated. Listing failures (permissions, bad
      mount) raise for the same reason.
    """
    want = {int(y) for y in wanted}
    fs, jvm = hadoop_fs(spark, sink_path)
    prefix = f"{partition_col}="
    present: set[int] = set()
    for name, is_dir in list_entries(fs, jvm, sink_path):
        if is_hidden(name):
            continue
        if not (is_dir and name.startswith(prefix)):
            raise ValueError(
                f"{sink_path}: entry {name!r} is not a {prefix}<year> partition "
                "directory of a partitioned parquet sink"
            )
        value = name[len(prefix):]
        if value == HIVE_NULL_PARTITION:  # a NULL year is never wanted
            continue
        try:
            year = int(value)
        except ValueError:
            raise ValueError(
                f"{sink_path}: partition directory {name!r} has a non-integer "
                f"{partition_col}"
            ) from None
        if year in want and holds_data_file(fs, jvm, posixpath.join(sink_path, name)):
            present.add(year)
    return sorted(want - present)
