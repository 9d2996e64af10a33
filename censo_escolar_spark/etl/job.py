"""The census job driver: the reference's ``main(project, year)``
(transform.py:178-214) re-imagined as a library function over local/any
Hadoop-FS paths.

Layout contract (mirrors the reference's bucket layout, README.md:20-23):

    <raw_root>/<year>/escolas.csv                  1 file
    <raw_root>/<year>/turmas.csv                   1 file
    <raw_root>/<year>/gestores.csv                 years > 2018 only
    <raw_root>/<year>/matricula_<region>.csv       5 regional shards
    <raw_root>/<year>/docentes_<region>.csv        5 regional shards
    <sidecar_root>/schemas/<table>_schema.json     StructType sidecars
    <sidecar_root>/maps.json                       code→label dictionaries

Per year: each table is read with its explicit schema (S1/S2) in ONE
CSV scan — a sharded table's regional files are the scan's input list,
not separate scans unioned afterwards (the explicit schema maps columns
by position in every file, and each file's header is dropped) — pushed
through the convention engine (P3-P9) as one projection, and lands
hive-partitioned by NU_ANO_CENSO (X3) — small tables as one file per
partition (X1), fact tables sized by maxRecordsPerFile (X2
replacement). Years already in the sink are skipped (O1), so re-runs
are idempotent. Years are mutually independent — the reference serialized them across Dataproc
jobs (censo_escolar.py:145-148); here one Spark application processes
any number of years and the scheduler parallelizes stages.
"""

from __future__ import annotations

import os
from typing import Mapping, Sequence

from pyspark.sql import DataFrame, SparkSession

from censo_escolar_spark.etl.maps import load_maps
from censo_escolar_spark.etl.pipeline import missing_partitions, transform_table
from censo_escolar_spark.sources.readers import (
    load_csv_with_schema,
    load_schema_sidecar,
)
from censo_escolar_spark.sources.writers import (
    write_partitioned_parquet,
    write_single_file,
)

REGIONS = ("co", "nordeste", "norte", "sudeste", "sul")
SMALL_TABLES = ("escolas", "turmas", "gestores")
SHARDED_TABLES = ("matricula", "docentes")
PARTITION_COL = "NU_ANO_CENSO"


def _table_files(raw_root: str, year: int, table: str) -> list[str]:
    ydir = os.path.join(raw_root, str(year))
    if table in SHARDED_TABLES:
        return [os.path.join(ydir, f"{table}_{r}.csv") for r in REGIONS]
    return [os.path.join(ydir, f"{table}.csv")]


def load_year_table(
    spark: SparkSession,
    raw_root: str,
    sidecar_root: str,
    table: str,
    year: int,
    maps: Mapping[str, Mapping[str, str]],
) -> DataFrame:
    """S1/S2 → P3-P9 for one (table, year): one scan over every shard
    file, one projection."""
    schema = load_schema_sidecar(
        os.path.join(sidecar_root, "schemas", f"{table}_schema.json")
    )
    return transform_table(
        load_csv_with_schema(spark, _table_files(raw_root, year, table), schema),
        table=table,
        year=year,
        maps=maps,
    )


def run_census_job(
    spark: SparkSession,
    *,
    raw_root: str,
    sidecar_root: str,
    out_root: str,
    years: Sequence[int],
    tables: Sequence[str] = SMALL_TABLES + SHARDED_TABLES,
    max_records_per_file: int = 2_000_000,
) -> dict[str, list[int]]:
    """Process every (table, missing year); returns {table: [years run]}.

    Incrementality is per table: each table's sink directory is checked
    for already-present NU_ANO_CENSO partitions (O1) — identical
    re-runs write nothing.
    """
    maps = load_maps(os.path.join(sidecar_root, "maps.json"))
    ran: dict[str, list[int]] = {}
    for table in tables:
        sink = os.path.join(out_root, table)
        todo = missing_partitions(spark, years, sink, PARTITION_COL)
        if table == "gestores":  # exists only for years > 2018 (README.md:23)
            todo = [y for y in todo if y > 2018]
        ran[table] = todo
        for year in todo:
            df = load_year_table(spark, raw_root, sidecar_root, table, year, maps)
            if table in SMALL_TABLES:
                write_single_file(df, sink, [PARTITION_COL])
            else:
                write_partitioned_parquet(
                    df,
                    sink,
                    [PARTITION_COL],
                    max_records_per_file=max_records_per_file,
                )
    return ran
