"""Censo-parity ETL tests on synthesized Family-B fixtures (FIXTURES.md).

Golden rules checked (FIXTURES.md §Golden-output rules):
1. mapped TP_/CO_ values → sidecar labels; unmapped/NULL → NULL
2. IN_ columns → BooleanType, "1"→true "0"→false else NULL
3. NU_/QT_ → IntegerType, malformed → NULL
4. DT_ → DateType per the year's format, malformed → NULL
5. pre-2019 escolas: OR-merge present + sources dropped; renames per intent
6. shard row counts add up: checked in test_census_job.py and
   test_properties.py, where one scan reads every shard
7. hive-partitioned output; small tables 1 file per partition
"""

from __future__ import annotations

import datetime
import glob
import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType, StringType

from censo_escolar_spark.etl.maps import alias_maps, composite_key_map, load_maps
from censo_escolar_spark.etl.pipeline import (
    missing_partitions,
    transform_table,
)
from censo_escolar_spark.sources.readers import load_csv_with_schema
from censo_escolar_spark.sources.writers import (
    write_partitioned_parquet,
    write_single_file,
)

MAPS = {
    "TP_SITUACAO_FUNCIONAMENTO": {"1": "Em atividade", "2": "Paralisada", "3": "Extinta", "4": "Extinta anos anteriores"},
    "CO_REGIAO": {"1": "Norte", "2": "Nordeste", "3": "Sudeste", "4": "Sul", "5": "Centro-Oeste"},
    "CO_LINGUA_INDIGENA_1": {"10001": "Ticuna", "10002": "Guarani"},
}
# pre-2019 files carry the OLD column name; the maps sidecar aliases it to
# the same dict (reference maps.ipynb aliased-keys pattern, SURVEY §1).
MAPS["CO_LINGUA_INDIGENA"] = MAPS["CO_LINGUA_INDIGENA_1"]

ESCOLAS_COLUMNS = [
    "NU_ANO_CENSO", "CO_ENTIDADE", "NO_ENTIDADE",
    "TP_SITUACAO_FUNCIONAMENTO", "CO_REGIAO",
    "DT_ANO_LETIVO_INICIO", "DT_ANO_LETIVO_TERMINO",
    "IN_AGUA_POTAVEL",
    "IN_MANT_ESCOLA_PRIVADA_ONG", "IN_MANT_ESCOLA_PRIVADA_OSCIP",
    "IN_ESGOTO_FOSSA_SEPTICA", "IN_ESGOTO_FOSSA_COMUM",
    "IN_ALOJAM_ALUNO", "IN_ALOJAM_PROFESSOR", "CO_LINGUA_INDIGENA",
    "QT_SALAS_UTILIZADAS",
]


def _write_csv(path: str, header: list[str], rows: list[list[str | None]]) -> None:
    with open(path, "w", encoding="utf-8") as f:
        f.write("|".join(header) + "\n")
        for row in rows:
            f.write("|".join("" if v is None else v for v in row) + "\n")


def _escolas_rows(year: int) -> list[list[str | None]]:
    y = str(year)
    pre2019 = year < 2019
    date_ok = f"15/02/{year}" if year > 2014 else f"15FEB{year}:00:00:00"
    rows = [
        # fully-valid row
        [y, "11000001", "ESCOLA A", "1", "1", date_ok, date_ok, "1",
         "1" if pre2019 else None, "0" if pre2019 else None,
         "0" if pre2019 else None, "1" if pre2019 else None,
         "1" if pre2019 else None, "0" if pre2019 else None,
         "10001" if pre2019 else None, "12"],
        # unmapped code, bad bool, bad int, bad date
        [y, "11000002", "ESCOLA B", "9", "5", "garbage", None, "2",
         "0" if pre2019 else None, "0" if pre2019 else None,
         "0" if pre2019 else None, "0" if pre2019 else None,
         "0" if pre2019 else None, "1" if pre2019 else None,
         "99999" if pre2019 else None, "abc"],
        # NULL code, NULL bool, empty int
        [y, "11000003", "ESCOLA C", None, "3", None, date_ok, None,
         "1" if pre2019 else None, "1" if pre2019 else None,
         "1" if pre2019 else None, "0" if pre2019 else None,
         None, None, None, None],
    ]
    return rows


@pytest.fixture(scope="module")
def escolas_fixture(tmp_path_factory):
    root = tmp_path_factory.mktemp("censo_mini")
    paths = {}
    for year in (2013, 2016, 2020):
        p = os.path.join(root, f"escolas_{year}.csv")
        header = list(ESCOLAS_COLUMNS)
        if year >= 2019:
            # post-2019 files carry the NEW column names natively
            header = [h for h in header if h not in (
                "IN_MANT_ESCOLA_PRIVADA_ONG", "IN_MANT_ESCOLA_PRIVADA_OSCIP",
                "IN_ESGOTO_FOSSA_SEPTICA", "IN_ESGOTO_FOSSA_COMUM",
                "IN_ALOJAM_ALUNO", "IN_ALOJAM_PROFESSOR", "CO_LINGUA_INDIGENA",
            )] + ["IN_MANT_ESCOLA_PRIV_ONG_OSCIP", "IN_ESGOTO_FOSSA",
                  "IN_DORMITORIO_ALUNO", "IN_DORMITORIO_PROFESSOR", "CO_LINGUA_INDIGENA_1"]
            rows = [
                [str(year), "11000001", "ESCOLA A", "1", "1",
                 f"15/02/{year}", f"15/02/{year}", "1", "12",
                 "1", "0", "1", "0", "10001"],
                [str(year), "11000002", "ESCOLA B", "9", "5",
                 "garbage", None, "2", "abc",
                 "0", "1", "0", "1", "99999"],
            ]
        else:
            rows = _escolas_rows(year)
        _write_csv(p, header, rows)
        paths[year] = (p, header)
    return paths


def _load(spark, path, header):
    schema = StructType([StructField(c, StringType(), True) for c in header])
    return load_csv_with_schema(spark, path, schema)


def test_conventions_pre2019(spark, escolas_fixture):
    path, header = escolas_fixture[2013]
    raw = _load(spark, path, header)
    out = transform_table(raw, table="escolas", year=2013, maps=MAPS)
    rows = {r["CO_ENTIDADE"]: r for r in out.collect()}
    dtypes = dict(out.dtypes)

    # rule 1: map decode with null-on-miss
    assert rows["11000001"]["TP_SITUACAO_FUNCIONAMENTO"] == "Em atividade"
    assert rows["11000002"]["TP_SITUACAO_FUNCIONAMENTO"] is None  # unmapped "9"
    assert rows["11000003"]["TP_SITUACAO_FUNCIONAMENTO"] is None  # NULL in
    assert rows["11000001"]["CO_REGIAO"] == "Norte"
    # rule 2: boolean decode
    assert dtypes["IN_AGUA_POTAVEL"] == "boolean"
    assert rows["11000001"]["IN_AGUA_POTAVEL"] is True
    assert rows["11000002"]["IN_AGUA_POTAVEL"] is None  # "2"
    assert rows["11000003"]["IN_AGUA_POTAVEL"] is None
    # rule 3: int cast, malformed → NULL
    assert dtypes["QT_SALAS_UTILIZADAS"] == "int"
    assert rows["11000001"]["QT_SALAS_UTILIZADAS"] == 12
    assert rows["11000002"]["QT_SALAS_UTILIZADAS"] is None
    # rule 4: SAS-format date for year <= 2014
    assert dtypes["DT_ANO_LETIVO_INICIO"] == "date"
    assert rows["11000001"]["DT_ANO_LETIVO_INICIO"] == datetime.date(2013, 2, 15)
    assert rows["11000002"]["DT_ANO_LETIVO_INICIO"] is None  # garbage
    # rule 5: OR-merge + sources dropped
    assert rows["11000001"]["IN_MANT_ESCOLA_PRIV_ONG_OSCIP"] is True  # 1|0
    assert rows["11000002"]["IN_MANT_ESCOLA_PRIV_ONG_OSCIP"] is False  # 0|0
    assert rows["11000001"]["IN_ESGOTO_FOSSA"] is True  # 0|1
    for dropped in ("IN_MANT_ESCOLA_PRIVADA_ONG", "IN_MANT_ESCOLA_PRIVADA_OSCIP",
                    "IN_ESGOTO_FOSSA_SEPTICA", "IN_ESGOTO_FOSSA_COMUM"):
        assert dropped not in out.columns
    # rule 5: renames per INTENT (old dropped, new present and populated)
    assert "IN_ALOJAM_ALUNO" not in out.columns
    assert rows["11000001"]["IN_DORMITORIO_ALUNO"] is True
    assert "CO_LINGUA_INDIGENA" not in out.columns
    assert rows["11000001"]["CO_LINGUA_INDIGENA_1"] == "Ticuna"
    assert rows["11000002"]["CO_LINGUA_INDIGENA_1"] is None  # unmapped 99999


def test_conventions_modern_date_format(spark, escolas_fixture):
    path, header = escolas_fixture[2016]
    raw = _load(spark, path, header)
    out = transform_table(raw, table="escolas", year=2016, maps=MAPS)
    rows = {r["CO_ENTIDADE"]: r for r in out.collect()}
    assert rows["11000001"]["DT_ANO_LETIVO_INICIO"] == datetime.date(2016, 2, 15)
    assert rows["11000002"]["DT_ANO_LETIVO_INICIO"] is None


def test_conventions_post2019_no_drift_logic(spark, escolas_fixture):
    path, header = escolas_fixture[2020]
    raw = _load(spark, path, header)
    out = transform_table(raw, table="escolas", year=2020, maps=MAPS)
    rows = {r["CO_ENTIDADE"]: r for r in out.collect()}
    # native post-2019 columns pass through the convention engine only
    assert rows["11000001"]["IN_MANT_ESCOLA_PRIV_ONG_OSCIP"] is True
    assert rows["11000001"]["IN_DORMITORIO_ALUNO"] is True
    assert rows["11000001"]["CO_LINGUA_INDIGENA_1"] == "Ticuna"
    assert rows["11000002"]["CO_LINGUA_INDIGENA_1"] is None


def test_partitioned_write_and_incremental(spark, tmp_path):
    sink = str(tmp_path / "escolas_out")
    df = spark.createDataFrame(
        [(2013, "a"), (2013, "b"), (2016, "c")], "NU_ANO_CENSO int, v string"
    )
    write_single_file(df, sink, ["NU_ANO_CENSO"])
    # rule 7: hive layout + exactly one file per partition
    for year in (2013, 2016):
        files = glob.glob(f"{sink}/NU_ANO_CENSO={year}/*.parquet")
        assert len(files) == 1, files
    # partition pruning readable
    back = spark.read.parquet(sink)
    assert back.filter(F.col("NU_ANO_CENSO") == 2013).count() == 2
    # O1 incremental: only 2020 missing
    assert missing_partitions(spark, [2013, 2016, 2020], sink) == [2020]
    # nonexistent sink → everything missing
    assert missing_partitions(spark, [2011, 2012], str(tmp_path / "nope")) == [2011, 2012]


def test_max_records_per_file_bounds_output(spark, tmp_path):
    sink = str(tmp_path / "bounded")
    df = spark.range(1000).withColumn("NU_ANO_CENSO", F.lit(2020))
    write_partitioned_parquet(
        df.repartition(1), sink, ["NU_ANO_CENSO"], max_records_per_file=250
    )
    files = glob.glob(f"{sink}/NU_ANO_CENSO=2020/*.parquet")
    assert len(files) >= 4  # 1000 rows / 250 cap
    assert spark.read.parquet(sink).count() == 1000


def test_maps_sidecar_roundtrip(tmp_path):
    import json

    p = tmp_path / "maps_mini.json"
    p.write_text(json.dumps(MAPS))
    loaded = load_maps(str(p))
    assert loaded["CO_REGIAO"]["3"] == "Sudeste"
    aliased = alias_maps(loaded, {"CO_REGIAO_NASC": "CO_REGIAO"})
    assert aliased["CO_REGIAO_NASC"] is loaded["CO_REGIAO"]
    # composite keys: the short code is unique only WITHIN a UF
    comp = composite_key_map(
        [("11", "2", "Leste Rondoniense"), ("21", "2", "Centro Maranhense")], width=2
    )
    assert comp == {"1102": "Leste Rondoniense", "2102": "Centro Maranhense"}


# ---------------------------------------------------------------------------
# S8/S9/O5: external tables over hive-partitioned parquet.
# ---------------------------------------------------------------------------
def test_external_table_ddl_and_full_refresh(spark, tmp_path):
    from pyspark.sql import functions as F

    from censo_escolar_spark.sources import catalog as C
    from censo_escolar_spark.sources.writers import write_partitioned_parquet

    path = str(tmp_path / "escolas_out")
    df = spark.createDataFrame(
        [(1, "A", 2019), (2, "B", 2019), (3, "C", 2020)],
        "CO_ENTIDADE int, NO_ENTIDADE string, NU_ANO_CENSO int",
    )
    write_partitioned_parquet(df, path, ["NU_ANO_CENSO"])

    C.create_table_over_parquet(spark, "escolas_ext", path, partition_cols=("NU_ANO_CENSO",))
    got = spark.sql("SELECT * FROM escolas_ext WHERE NU_ANO_CENSO = 2019")
    assert got.count() == 2
    # partition pruning visible in the plan: only the 2019 directory scans
    assert "NU_ANO_CENSO=2019" not in path  # sanity: pruning is runtime, not path trickery
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "= 2019)" in plan

    # S9: drop removes metadata, never data (external semantics)
    C.drop_table(spark, "escolas_ext")
    assert not spark.catalog.tableExists("escolas_ext")
    assert spark.read.parquet(path).count() == 3

    # O5: full refresh is idempotent
    for _ in range(2):
        C.full_refresh(spark, {"escolas_ext": path}, partition_cols=("NU_ANO_CENSO",))
    assert spark.sql("SELECT COUNT(*) AS n FROM escolas_ext").first().n == 3
    C.drop_table(spark, "escolas_ext")


def test_convention_engine_full_width_single_projection(spark):
    """The real escolas table is 241 string columns; the engine must fold
    every prefix rule into ONE projection (the reference ran 70-240
    sequential UDF plan nodes). Assert output types across a full-width
    synthetic schema and exactly one Project over the scan."""
    from censo_escolar_spark.etl.pipeline import apply_conventions

    n_each = 60
    cols = (
        [f"TP_C{i}" for i in range(n_each)]
        + [f"IN_C{i}" for i in range(n_each)]
        + [f"NU_C{i}" for i in range(n_each)]
        + [f"NO_C{i}" for i in range(n_each)]
    )
    row = (["1"] * n_each) + (["1"] * n_each) + (["7"] * n_each) + (["x"] * n_each)
    df = spark.createDataFrame([row], schema=", ".join(f"`{c}` string" for c in cols))
    maps = {c: {"1": "um"} for c in cols if c.startswith("TP_")}
    out = apply_conventions(df, table="escolas", year=2020, maps=maps)

    dtypes = dict(out.dtypes)
    assert all(dtypes[f"TP_C{i}"] == "string" for i in range(n_each))
    assert all(dtypes[f"IN_C{i}"] == "boolean" for i in range(n_each))
    assert all(dtypes[f"NU_C{i}"] == "int" for i in range(n_each))
    r = out.first()
    assert r["TP_C0"] == "um" and r["IN_C0"] is True and r["NU_C0"] == 7 and r["NO_C0"] == "x"

    # exactly one Project node between result and the source scan
    optimized = out._jdf.queryExecution().optimizedPlan().toString()
    assert optimized.count("Project") == 1, optimized[:500]


# ---------------------------------------------------------------------------
# Large-map decode: auto-cutover to broadcast join at reference dict sizes
# (CO_IES 6,296 entries, CO_MUNICIPIO 5,570 — reference maps.json).
# ---------------------------------------------------------------------------
def test_big_map_decodes_via_broadcast_join(spark):
    from censo_escolar_spark.etl.pipeline import apply_conventions

    ies_map = {str(k): f"IES {k}" for k in range(1, 6297)}        # CO_IES-sized
    mun_map = {str(1100000 + k): f"MUN {k}" for k in range(5570)}  # CO_MUNICIPIO-sized
    maps = {"CO_IES": ies_map, "CO_MUNICIPIO": mun_map,
            "TP_SITUACAO": {"1": "ativa", "2": "extinta"}}
    df = spark.createDataFrame(
        [("1", "1100007", "1", "9"), ("6296", "1105569", "2", "3"),
         ("99999", "nope", "9", "1"), (None, None, None, None)],
        "CO_IES string, CO_MUNICIPIO string, TP_SITUACAO string, QT_X string",
    )
    out = apply_conventions(df, table="matricula", year=2020, maps=maps)

    # both big columns decode through a broadcast LEFT join, not a 6k-literal map
    plan = out._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    # formatted explain prints each node in the tree AND the detail
    # section: two joins → 4 mentions
    assert plan.count("BroadcastHashJoin") == 4, plan[:800]
    assert "SortMergeJoin" not in plan
    assert "keys: [" not in plan or "IES 6296" not in plan  # dict not inlined

    rows = out.collect()
    by_ies = {r["QT_X"]: r for r in rows}
    assert by_ies[9]["CO_IES"] == "IES 1" and by_ies[9]["CO_MUNICIPIO"] == "MUN 7"
    assert by_ies[3]["CO_IES"] == "IES 6296" and by_ies[3]["CO_MUNICIPIO"] == "MUN 5569"
    assert by_ies[1]["CO_IES"] is None and by_ies[1]["CO_MUNICIPIO"] is None  # miss → NULL
    none_row = next(r for r in rows if r["QT_X"] is None)
    assert none_row["CO_IES"] is None
    # small map still decodes inline; other conventions unaffected
    assert by_ies[9]["TP_SITUACAO"] == "ativa" and by_ies[1]["TP_SITUACAO"] is None

    # parity: broadcast path == inline-literal path on identical input
    inline = apply_conventions(
        df, table="matricula", year=2020, maps=maps, broadcast_threshold=10**9
    )
    keyfn = lambda t: tuple("" if v is None else str(v) for v in t)
    assert sorted(map(tuple, out.collect()), key=keyfn) == sorted(
        map(tuple, inline.collect()), key=keyfn
    )


# ---------------------------------------------------------------------------
# Composite/alias maps end-to-end from a ufs.csv-shaped lookup fixture
# (reference transform/tables/ufs.csv; maps.ipynb cell 13).
# ---------------------------------------------------------------------------
UFS_CSV_HEADER = (
    "Código da Região,Nome da Região,Código da UF,Nome da UF,Sigla da UF,"
    "Código da Mesorregião,Nome da Mesorregião,Código da Microrregião,"
    "Nome da Microrregião,Código do Município,Nome do Município"
)
UFS_CSV_ROWS = [
    "1,Norte,11,Rondônia,RO,2,Leste Rondoniense,6,Cacoal,1100049,Cacoal",
    "1,Norte,11,Rondônia,RO,2,Leste Rondoniense,3,Ariquemes,1100023,Ariquemes",
    "2,Nordeste,21,Maranhão,MA,2,Centro Maranhense,10,Alto Mearim,2100055,Bacabal",
]


def test_ufs_csv_maps_end_to_end(spark, tmp_path):
    from censo_escolar_spark.etl.maps import maps_from_ufs_csv
    from censo_escolar_spark.etl.pipeline import apply_conventions

    p = tmp_path / "ufs.csv"
    p.write_text(UFS_CSV_HEADER + "\n" + "\n".join(UFS_CSV_ROWS), encoding="utf-8")
    maps = maps_from_ufs_csv(str(p))

    # simple maps
    assert maps["CO_REGIAO"] == {"1": "Norte", "2": "Nordeste"}
    assert maps["CO_UF"]["11"] == "Rondônia"
    assert maps["CO_MUNICIPIO"]["1100049"] == "Cacoal"
    # composite: same short code (meso 2) resolves per-UF
    assert maps["CO_MESORREGIAO"] == {
        "1102": "Leste Rondoniense", "2102": "Centro Maranhense"
    }
    assert maps["CO_MICRORREGIAO"]["11006"] == "Cacoal"   # f"11{6:03d}"
    assert maps["CO_MICRORREGIAO"]["21010"] == "Alto Mearim"

    # alias columns share the dict (maps.ipynb: CO_UF_NASC = CO_UF)
    maps = alias_maps(maps, {"CO_UF_NASC": "CO_UF", "CO_MUNICIPIO_NASC": "CO_MUNICIPIO"})

    df = spark.createDataFrame(
        [("11", "11", "1102", "11006", "1100049"),
         ("21", "11", "2102", "21010", "2100055"),
         ("99", "99", "9999", "99999", "nope")],
        "CO_UF string, CO_UF_NASC string, CO_MESORREGIAO string, "
        "CO_MICRORREGIAO string, CO_MUNICIPIO_NASC string",
    )
    out = apply_conventions(df, table="matricula", year=2020, maps=maps)
    keyfn = lambda t: tuple("" if v is None else str(v) for v in t)
    rows = sorted(map(tuple, out.collect()), key=keyfn)
    assert rows == sorted([
        ("Rondônia", "Rondônia", "Leste Rondoniense", "Cacoal", "Cacoal"),
        ("Maranhão", "Rondônia", "Centro Maranhense", "Alto Mearim", "Bacabal"),
        (None, None, None, None, None),
    ], key=keyfn)


def test_missing_partitions_raises_on_non_path_errors(spark, tmp_path):
    """Only path-not-found means 'sink empty'. Any other read failure must
    raise — silently returning all years would duplicate-append (O1)."""
    broken = tmp_path / "broken_sink"
    broken.mkdir()
    (broken / "not_parquet.txt").write_text("hello")
    # corrupt sink → SparkException (CANNOT_READ_FILE_FOOTER), propagated
    with pytest.raises(Exception, match="FOOTER|footer|PATH|parquet|Parquet"):
        missing_partitions(spark, [2013], str(broken))


def test_missing_partitions_empty_dir_is_empty_sink(spark, tmp_path):
    """An existing-but-empty sink directory (first run died between mkdir
    and commit) must bootstrap like a missing sink, not raise forever."""
    empty = tmp_path / "empty_sink"
    empty.mkdir()
    assert missing_partitions(spark, [2011, 2012], str(empty)) == [2011, 2012]


def test_missing_partitions_starts_no_spark_job(spark, tmp_path):
    """O1 bookkeeping is a directory listing: no Spark job per call."""
    sink = str(tmp_path / "listed")
    df = spark.createDataFrame([(2013, "a"), (2016, "b")], "NU_ANO_CENSO int, v string")
    write_single_file(df, sink, ["NU_ANO_CENSO"])
    tracker = spark.sparkContext.statusTracker()
    before = sorted(tracker.getJobIdsForGroup())
    assert missing_partitions(spark, [2013, 2016, 2020], sink) == [2020]
    assert missing_partitions(spark, [2011], str(tmp_path / "absent")) == [2011]
    assert sorted(tracker.getJobIdsForGroup()) == before


def test_missing_partitions_ignores_hidden_entries(spark, tmp_path):
    """Spark's partition-discovery rule: ``_``/``.`` names are not data —
    a committed year next to _SUCCESS, .crc checksums, a half-written
    _temporary/ attempt and a NULL-year partition is present, and nothing
    else is; a directory that is no year partition raises."""
    sink = tmp_path / "hidden"
    df = spark.createDataFrame([(2013, "a"), (None, "b")], "NU_ANO_CENSO int, v string")
    write_single_file(df, str(sink), ["NU_ANO_CENSO"])
    assert (sink / "_SUCCESS").exists()
    assert (sink / "NU_ANO_CENSO=__HIVE_DEFAULT_PARTITION__").exists()
    (sink / "._SUCCESS.crc").write_text("")
    (sink / "_temporary" / "0" / "NU_ANO_CENSO=2016").mkdir(parents=True)
    (sink / "_temporary" / "0" / "NU_ANO_CENSO=2016" / "part-0.parquet").write_text("x")
    assert missing_partitions(spark, [2013, 2016], str(sink)) == [2016]
    # a sink holding only hidden entries is an empty sink
    bare = tmp_path / "bare"
    (bare / "_temporary").mkdir(parents=True)
    (bare / "_SUCCESS").write_text("")
    assert missing_partitions(spark, [2013], str(bare)) == [2013]
    (bare / "other=1").mkdir()
    with pytest.raises(ValueError, match="other=1"):
        missing_partitions(spark, [2013], str(bare))


def test_missing_partitions_year_with_only_hidden_files_is_missing(spark, tmp_path):
    """A year directory whose only files are hidden (an attempt that died
    before committing its part file) does not count as written."""
    sink = tmp_path / "uncommitted"
    year = sink / "NU_ANO_CENSO=2014"
    year.mkdir(parents=True)
    (year / ".part-0.parquet.crc").write_text("")
    (year / "_temporary").mkdir()
    (year / "_temporary" / "part-0.parquet").write_text("x")
    df = spark.createDataFrame([(2013, "a")], "NU_ANO_CENSO int, v string")
    write_single_file(df, str(sink), ["NU_ANO_CENSO"])
    assert missing_partitions(spark, [2013, 2014], str(sink)) == [2014]
