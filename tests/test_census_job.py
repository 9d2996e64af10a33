"""End-to-end census job (etl/job.py): the reference's main() composition
S1/S2 → P3-P9 → U1 → X1/X2/X3 with O1 incrementality, over a miniature
bucket layout."""

from __future__ import annotations

import glob
import json
import os

import pytest

from censo_escolar_spark.etl.job import REGIONS, run_census_job

ESCOLAS_COLS = ["NU_ANO_CENSO", "CO_ENTIDADE", "TP_SITUACAO_FUNCIONAMENTO", "IN_AGUA_POTAVEL", "QT_SALAS_UTILIZADAS"]
TURMAS_COLS = ["NU_ANO_CENSO", "ID_TURMA", "CO_ENTIDADE"]
GESTORES_COLS = ["NU_ANO_CENSO", "ID_GESTOR", "CO_ENTIDADE"]
MATRICULA_COLS = ["NU_ANO_CENSO", "ID_MATRICULA", "CO_ENTIDADE", "IN_TRANSPORTE_PUBLICO"]
DOCENTES_COLS = ["NU_ANO_CENSO", "ID_DOCENTE", "CO_ENTIDADE", "NU_IDADE"]


def _csv(path, cols, rows):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w", encoding="utf-8") as f:
        f.write("|".join(cols) + "\n")
        for r in rows:
            f.write("|".join("" if v is None else str(v) for v in r) + "\n")


def _schema_json(cols):
    return json.dumps(
        {
            "type": "struct",
            "fields": [
                {"name": c, "type": "string", "nullable": True, "metadata": {}}
                for c in cols
            ],
        }
    )


@pytest.fixture(scope="module")
def layout(tmp_path_factory):
    root = tmp_path_factory.mktemp("census_bucket")
    raw, side, out = root / "raw", root / "sidecars", root / "out"
    for table, cols in [
        ("escolas", ESCOLAS_COLS), ("turmas", TURMAS_COLS), ("gestores", GESTORES_COLS),
        ("matricula", MATRICULA_COLS), ("docentes", DOCENTES_COLS),
    ]:
        p = side / "schemas" / f"{table}_schema.json"
        os.makedirs(p.parent, exist_ok=True)
        p.write_text(_schema_json(cols))
    (side / "maps.json").write_text(json.dumps(
        {"TP_SITUACAO_FUNCIONAMENTO": {"1": "Em atividade", "2": "Paralisada"}}
    ))

    for year in (2013, 2020):
        _csv(str(raw / str(year) / "escolas.csv"), ESCOLAS_COLS,
             [[year, 100 + year, "1", "1", "12"], [year, 200 + year, "2", "0", "x"]])
        _csv(str(raw / str(year) / "turmas.csv"), TURMAS_COLS,
             [[year, 1, 100 + year]])
        if year > 2018:
            _csv(str(raw / str(year) / "gestores.csv"), GESTORES_COLS,
                 [[year, 7, 100 + year]])
        for i, region in enumerate(REGIONS):
            _csv(str(raw / str(year) / f"matricula_{region}.csv"), MATRICULA_COLS,
                 [[year, i * 10 + 1, 100 + year, "1"], [year, i * 10 + 2, 100 + year, "0"]])
            _csv(str(raw / str(year) / f"docentes_{region}.csv"), DOCENTES_COLS,
                 [[year, i * 10 + 1, 100 + year, "35"]])
    return str(raw), str(side), str(out)


def test_job_end_to_end(spark, layout):
    raw, side, out = layout
    ran = run_census_job(
        spark, raw_root=raw, sidecar_root=side, out_root=out, years=[2013, 2020]
    )
    assert ran["escolas"] == [2013, 2020]
    assert ran["gestores"] == [2020]  # only post-2018 (README.md:23)

    esc = spark.read.parquet(os.path.join(out, "escolas"))
    assert {r.NU_ANO_CENSO for r in esc.select("NU_ANO_CENSO").distinct().collect()} == {2013, 2020}
    rows = {r.CO_ENTIDADE: r for r in esc.collect()}
    assert rows["2113"].TP_SITUACAO_FUNCIONAMENTO == "Em atividade"  # decoded
    assert rows["2113"].IN_AGUA_POTAVEL is True                      # boolean
    assert rows["2213"].QT_SALAS_UTILIZADAS is None                  # bad int -> NULL
    assert dict(esc.dtypes)["CO_ENTIDADE"] == "string"             # CO_ not in maps: untouched

    # X1: small tables -> exactly one file per year partition
    for year in (2013, 2020):
        files = glob.glob(os.path.join(out, "escolas", f"NU_ANO_CENSO={year}", "*.parquet"))
        assert len(files) == 1

    # U1: 5 regional shards union into one table per year
    mat = spark.read.parquet(os.path.join(out, "matricula"))
    assert mat.filter("NU_ANO_CENSO = 2013").count() == 2 * len(REGIONS)

    # O1: identical re-run is a no-op
    ran2 = run_census_job(
        spark, raw_root=raw, sidecar_root=side, out_root=out, years=[2013, 2020]
    )
    assert all(v == [] for v in ran2.values())
    assert spark.read.parquet(os.path.join(out, "escolas")).count() == 4

    # incremental: adding a year re-runs ONLY that year
    _csv(os.path.join(raw, "2014", "escolas.csv"), ESCOLAS_COLS,
         [[2014, 2114, "1", "1", "3"]])
    for t, cols in [("turmas", TURMAS_COLS)]:
        _csv(os.path.join(raw, "2014", f"{t}.csv"), cols, [[2014, 9, 2114]])
    for region in REGIONS:
        _csv(os.path.join(raw, "2014", f"matricula_{region}.csv"), MATRICULA_COLS,
             [[2014, 99, 2114, "1"]])
        _csv(os.path.join(raw, "2014", f"docentes_{region}.csv"), DOCENTES_COLS,
             [[2014, 99, 2114, "40"]])
    ran3 = run_census_job(
        spark, raw_root=raw, sidecar_root=side, out_root=out, years=[2013, 2014, 2020]
    )
    assert ran3["escolas"] == [2014]
    assert spark.read.parquet(os.path.join(out, "escolas")).count() == 5


def test_sharded_table_reaches_the_sink_through_one_scan(spark, layout):
    """The five regional shards of a (table, year) are ONE CSV scan and
    one projection: no Union in the plan, every shard among the scan's
    input files, and the rows of all five shards decoded."""
    from censo_escolar_spark.etl.job import load_year_table
    from censo_escolar_spark.etl.maps import load_maps

    raw, side, _ = layout
    maps = load_maps(os.path.join(side, "maps.json"))
    df = load_year_table(spark, raw, side, "matricula", 2013, maps)
    qe = df._jdf.queryExecution()
    for plan in (qe.analyzed(), qe.optimizedPlan()):
        assert "Union" not in plan.toString()
    assert sorted(os.path.basename(f) for f in df.inputFiles()) == sorted(
        f"matricula_{r}.csv" for r in REGIONS
    )
    rows = df.collect()
    assert len(rows) == 2 * len(REGIONS)
    assert sorted(r.IN_TRANSPORTE_PUBLICO for r in rows) == [False] * 5 + [True] * 5
