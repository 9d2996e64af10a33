"""Self-tests of the benchmark's own machinery (no Spark session needed).

    python3 -m pytest perfbench/test_perfbench.py -q

Every kind of check the benchmark makes must fail on a planted wrong
output: the DuckDB oracle comparison, the census generator's tallies,
and each census and corpus property. The generators must be
deterministic in the seed, BENCHMARK.json must be well formed, and the
result line a run prints must parse.
"""

from __future__ import annotations

import filecmp
import json
import os
import re
import shutil
import subprocess
import sys

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import compare  # noqa: E402
import gen_census  # noqa: E402
import gen_tables  # noqa: E402
import layers  # noqa: E402
import oracle  # noqa: E402
import run  # noqa: E402
import workloads  # noqa: E402

SEED = 5


# --------------------------------------------------------------------------
# generators
# --------------------------------------------------------------------------
def _same_tree(a: str, b: str) -> bool:
    cmp = filecmp.dircmp(a, b)
    if cmp.left_only or cmp.right_only:
        return False
    _, mismatch, errors = filecmp.cmpfiles(a, b, cmp.common_files, shallow=False)
    return not mismatch and not errors and all(
        _same_tree(os.path.join(a, d), os.path.join(b, d)) for d in cmp.common_dirs)


@pytest.mark.parametrize("parts", [0, 3])
def test_tables_deterministic_in_seed(tmp_path, parts):
    gen_tables.write_tables(str(tmp_path / "a"), SEED, parts=parts)
    gen_tables.write_tables(str(tmp_path / "b"), SEED, parts=parts)
    gen_tables.write_tables(str(tmp_path / "c"), SEED + 1, parts=parts)
    assert _same_tree(str(tmp_path / "a"), str(tmp_path / "b"))
    for name in ("lineitem", "documents", "embeddings"):
        a = pq.read_table(gen_tables.duckdb_source(str(tmp_path / "a"), name).replace("*.parquet", ""))
        c = pq.read_table(gen_tables.duckdb_source(str(tmp_path / "c"), name).replace("*.parquet", ""))
        assert a.num_rows == c.num_rows and not a.equals(c)


def test_census_deterministic_in_seed(tmp_path):
    for d, seed in (("a", SEED), ("b", SEED), ("c", SEED + 1)):
        gen_census.write_year(str(tmp_path / d), seed, 2014)
    assert _same_tree(str(tmp_path / "a"), str(tmp_path / "b"))
    assert not _same_tree(str(tmp_path / "a"), str(tmp_path / "c"))


def test_census_model_plants_every_rule():
    want = gen_census.expected(SEED, (2014, 2019))
    esc14, esc19 = want[("escolas", 2014)], want[("escolas", 2019)]
    assert None in esc14["QT_SALAS_UTILIZADAS"]            # malformed ints -> NULL
    assert None in esc14["TP_DEPENDENCIA"]                 # unmapped codes -> NULL
    assert {True, False, None} <= set(esc14["IN_AGUA_POTAVEL"])
    assert sum(v is not None for v in esc14["DT_ANO_LETIVO_INICIO"].elements()) > 0
    assert sum(v is not None for v in esc19["DT_ANO_LETIVO_INICIO"].elements()) > 0
    assert "IN_ALOJAM_ALUNO" not in esc14 and "IN_DORMITORIO_ALUNO" in esc14  # rename
    assert ("gestores", 2014) not in want and ("gestores", 2019) in want
    big = max(gen_census.make_maps().values(), key=len)
    assert len(big) > 1024                                 # broadcast decode path


# --------------------------------------------------------------------------
# DuckDB oracle comparison
# --------------------------------------------------------------------------
@pytest.fixture(scope="module")
def sf_dir(tmp_path_factory):
    d = str(tmp_path_factory.mktemp("sf"))
    gen_tables.write_tables(d, SEED)
    return d


def test_oracle_compare_fails_on_planted_output(sf_dir):
    _, oracles = workloads._registry()
    con = oracle.connect(sf_dir)
    want = con.execute(oracles[workloads._full_name("q01")]).fetch_df()
    assert oracle.mismatch(want.copy(), want) is None
    assert oracle.mismatch(want.iloc[::-1].reset_index(drop=True), want) is None  # order-free
    bad = want.copy()
    fcol = next(c for c in bad.columns if bad[c].dtype.kind == "f")
    bad.loc[0, fcol] = bad.loc[0, fcol] * (1 + 1e-6)
    assert oracle.mismatch(bad, want)
    assert oracle.mismatch(want.iloc[1:], want)
    assert oracle.mismatch(want.rename(columns={fcol: "x"}), want)
    scol = next(c for c in bad.columns if bad[c].dtype.kind == "O")
    bad = want.copy()
    bad.loc[0, scol] = "planted"
    assert oracle.mismatch(bad, want)
    # the pass-to-pass fast path never vouches for a changed frame
    assert oracle.identical(want.iloc[::-1], want)
    assert not oracle.identical(bad, want)


def test_warmup_only_failure_keeps_later_passes_checked(tmp_path, sf_dir):
    wl = workloads.Analytics(None, str(tmp_path), SEED)
    wl.sf_dir, wl.rows = sf_dir, ("q01",)
    _, oracles = workloads._registry()
    con = oracle.connect(sf_dir)
    want = con.execute(oracles[workloads._full_name("q01")]).fetch_df()
    con.close()
    assert wl.check({("q01", 0): None, ("q01", 1): want}, 1) == []
    bad = want.iloc[1:]
    errors = wl.check({("q01", 0): None, ("q01", 1): bad}, 1)
    assert errors and all("pass 1" in e for e in errors)


def test_warmup_only_failure_is_counted():
    from types import SimpleNamespace

    def flaky(idx):
        if idx == 0:
            raise RuntimeError("warm-up only")
        return idx

    ops = [SimpleNamespace(name="ok", fn=lambda idx: idx, module=""),
           SimpleNamespace(name="flaky", fn=flaky, module="")]
    results, failures = {}, {}
    for idx in (0, 1):
        run._run_pass(ops, idx, results, [], failures, False, None)
    assert run.tally(results) == (4, 1)
    assert list(failures) == [("flaky", 0)]


# --------------------------------------------------------------------------
# census tallies and properties, over a sink written from the model
# --------------------------------------------------------------------------
def _write_model_sink(sink: str, seed: int, years, plant=None) -> None:
    maps = gen_census.make_maps()
    for year in years:
        for table in gen_census.tables_for(year):
            rows = [gen_census.expected_row(table, year, r, maps)
                    for shard in gen_census.raw_rows(seed, table, year) for r in shard]
            for r in rows:
                r.pop("NU_ANO_CENSO")
            if plant:
                plant(table, year, rows)
            part = os.path.join(sink, table, f"NU_ANO_CENSO={year}")
            os.makedirs(part, exist_ok=True)
            pq.write_table(pa.Table.from_pylist(rows), os.path.join(part, "part-0.parquet"))


YEARS = gen_census.BASE_YEARS + (gen_census.ADDED_YEAR,)


@pytest.fixture()
def census(tmp_path):
    wl = workloads.CensusEtl(None, str(tmp_path), SEED)
    wl.snapshots = {}
    return wl


def _pass_state(wl, idx=1):
    base, added = gen_census.BASE_YEARS, gen_census.ADDED_YEAR
    want = gen_census.expected(SEED, YEARS)
    results = {
        ("census.full", idx): {t: [y for y in base if (t, y) in want] for t in gen_census.COLUMNS},
        ("census.rerun", idx): {t: [] for t in gen_census.COLUMNS},
        ("census.add_year", idx): {t: [added] for t in gen_census.COLUMNS},
        ("census.refresh", idx): {t: [f"NU_ANO_CENSO={y}" for (tt, y) in sorted(want) if tt == t]
                                  for t in gen_census.COLUMNS},
    }
    listing = {"escolas/NU_ANO_CENSO=2014/part-0.parquet": (1, 1)}
    wl.snapshots = {("before_rerun", idx): dict(listing), ("after_rerun", idx): dict(listing),
                    ("after_add", idx): {**listing,
                                         "escolas/NU_ANO_CENSO=2019/part-0.parquet": (2, 2)}}
    return results, want


def _errors(wl, results, want, idx=1):
    con = duckdb.connect()
    try:
        return wl._check_pass(con, idx, results, want)
    finally:
        con.close()


def test_census_checks_pass_on_model_sink(census):
    results, want = _pass_state(census)
    _write_model_sink(census._sink(1), SEED, YEARS)
    assert _errors(census, results, want) == []


def _first_index(rows, col, pred):
    return next(i for i, r in enumerate(rows) if col in r and pred(r[col]))


PLANTS = {
    "malformed int read as 0": ("escolas", "QT_SALAS_UTILIZADAS", lambda v: v is None, 0),
    "unmapped code labelled": ("escolas", "TP_DEPENDENCIA", lambda v: v is None, "tp_dependencia_1"),
    "flag flipped": ("matricula", "IN_TRANSPORTE_PUBLICO", lambda v: v is True, False),
    "date shifted": ("escolas", "DT_ANO_LETIVO_INICIO", lambda v: v is not None, None),
    "label swapped": ("gestores", "TP_CARGO_GESTOR", lambda v: v == "tp_cargo_gestor_1", "tp_cargo_gestor_2"),
}


@pytest.mark.parametrize("plant", sorted(PLANTS))
def test_census_tallies_fail_on_planted_cell(census, plant):
    table, col, pred, value = PLANTS[plant]

    def planter(t, year, rows):
        if t == table:
            rows[_first_index(rows, col, pred)][col] = value

    results, want = _pass_state(census)
    _write_model_sink(census._sink(1), SEED, YEARS, planter)
    assert any(col in e for e in _errors(census, results, want))


def test_census_tallies_fail_on_missing_row(census):
    results, want = _pass_state(census)
    _write_model_sink(census._sink(1), SEED, YEARS,
                      lambda t, y, rows: rows.pop() if t == "matricula" else None)
    assert any("rows" in e for e in _errors(census, results, want))


@pytest.fixture()
def census_ok(census):
    results, want = _pass_state(census)
    _write_model_sink(census._sink(1), SEED, YEARS)
    return census, results, want


def test_census_failed_step_skips_only_its_own_checks(census):
    def planter(t, year, rows):
        if t == "escolas":
            rows[0]["QT_SALAS_UTILIZADAS"] = -1

    results, want = _pass_state(census)
    _write_model_sink(census._sink(1), SEED, YEARS, planter)
    results[("census.rerun", 1)] = None
    results[("census.refresh", 1)] = None
    assert any("QT_SALAS_UTILIZADAS" in e for e in _errors(census, results, want))
    results[("census.full", 1)] = None
    results[("census.rerun", 1)] = {"escolas": [2014]}
    assert any("pending" in e for e in _errors(census, results, want))


def test_census_rerun_with_pending_years_fails(census_ok):
    wl, results, want = census_ok
    results[("census.rerun", 1)]["escolas"] = [2014]
    assert any("pending" in e for e in _errors(wl, results, want))


def test_census_rerun_changing_files_fails(census_ok):
    wl, results, want = census_ok
    wl.snapshots[("after_rerun", 1)]["escolas/NU_ANO_CENSO=2014/part-0.parquet"] = (9, 9)
    assert any("changed files" in e for e in _errors(wl, results, want))


def test_added_year_touching_other_partition_fails(census_ok):
    wl, results, want = census_ok
    wl.snapshots[("after_add", 1)]["escolas/NU_ANO_CENSO=2014/part-0.parquet"] = (9, 9)
    assert any("touched" in e for e in _errors(wl, results, want))


def test_added_year_may_rewrite_job_markers(census_ok):
    wl, results, want = census_ok
    for key in ("before_rerun", "after_rerun"):
        wl.snapshots[(key, 1)]["escolas/._SUCCESS.crc"] = (1, 1)
    wl.snapshots[("after_add", 1)]["escolas/._SUCCESS.crc"] = (1, 2)
    assert _errors(wl, results, want) == []


def test_small_table_with_two_files_fails(census_ok):
    wl, results, want = census_ok
    part = os.path.join(wl._sink(1), "escolas", "NU_ANO_CENSO=2014")
    shutil.copy(os.path.join(part, "part-0.parquet"), os.path.join(part, "part-1.parquet"))
    errs = _errors(wl, results, want)
    assert any("2 files, want 1" in e for e in errs)


def test_catalog_partitions_mismatch_fails(census_ok):
    wl, results, want = census_ok
    results[("census.refresh", 1)]["escolas"] = ["NU_ANO_CENSO=2014"]
    assert any("catalog partitions" in e for e in _errors(wl, results, want))


# --------------------------------------------------------------------------
# corpus sink against the c02 oracle
# --------------------------------------------------------------------------
def _corpus_with_sink(tmp_path, sf_dir, plant=None):
    wl = workloads.Corpus(None, str(tmp_path), SEED)
    wl.sf_dir = sf_dir
    _, oracles = workloads._registry()
    con = oracle.connect(sf_dir)
    want = con.execute(oracles[workloads._full_name("c02")]).fetch_df()
    if plant:
        plant(want)
    sink = wl._sink(1)
    os.makedirs(sink, exist_ok=True)
    pq.write_to_dataset(pa.Table.from_pandas(want, preserve_index=False), sink,
                        partition_cols=["split", "lang"])
    results = {("corpus_job", 1): {"curated_rows": len(want)}}
    return wl, con, results


def test_corpus_sink_matches_c02_oracle(tmp_path, sf_dir):
    wl, con, results = _corpus_with_sink(tmp_path, sf_dir)
    results[("corpus_job", 0)] = results[("corpus_job", 1)]
    shutil.copytree(wl._sink(1), wl._sink(0))
    assert wl.check_extra(con, results, 1) == []


def test_corpus_sink_with_planted_cluster_fails(tmp_path, sf_dir):
    def plant(df):
        df.loc[0, "cluster_id"] = df["cluster_id"].max() + 1

    wl, con, results = _corpus_with_sink(tmp_path, sf_dir, plant)
    results[("corpus_job", 0)] = results[("corpus_job", 1)]
    shutil.copytree(wl._sink(1), wl._sink(0))
    assert any("c02 oracle" in e for e in wl.check_extra(con, results, 1))


def test_corpus_warmup_failure_keeps_sink_checked(tmp_path, sf_dir):
    def plant(df):
        df.loc[0, "cluster_id"] = df["cluster_id"].max() + 1

    wl, con, results = _corpus_with_sink(tmp_path, sf_dir, plant)
    results[("corpus_job", 0)] = None
    assert any("pass 1 vs c02 oracle" in e for e in wl.check_extra(con, results, 1))


# --------------------------------------------------------------------------
# compare
# --------------------------------------------------------------------------
BENCH = {"workloads": [{"name": "w"}],
         "end_to_end": [{"name": "setup_s", "better": "lower", "bound": 0.25},
                        {"name": "pass_s", "better": "lower", "bound": 0.25}]}


def _set(setup, pass_s):
    return {"w": [{"correct": True, "attempted": 8, "failed": 0,
                   "metrics": {"setup_s": {"value": a}, "pass_s": {"value": b}}}
                  for a, b in zip(setup, pass_s)]}


def test_compare_agrees_on_close_sets():
    a = _set([10, 10.5, 11, 10.2], [2.0, 2.1, 2.05, 2.02])
    b = _set([10.3, 10.8, 10.1, 10.6], [2.1, 2.0, 2.04, 2.08])
    assert compare.compare(a, b, BENCH)[1]


@pytest.mark.parametrize("b_pass", [[1.2, 1.25, 1.22, 1.21], [3.0, 3.1, 3.05, 3.02]])
def test_compare_differs_when_medians_drift_either_way(b_pass):
    a = _set([10, 10.5, 11, 10.2], [2.0, 2.1, 2.05, 2.02])
    assert not compare.compare(a, _set([10, 10.5, 11, 10.2], b_pass), BENCH)[1]


def test_compare_holds_setup_spread_to_its_bound():
    a = _set([10, 20, 10, 20], [2.0, 2.1, 2.05, 2.02])
    assert not compare.compare(a, a, BENCH)[1]


# --------------------------------------------------------------------------
# BENCHMARK.json and the result line
# --------------------------------------------------------------------------
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def test_benchmark_json_is_well_formed():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        raw = f.read()
    bench = json.loads(raw)
    assert len(raw) <= 64 * 1024
    assert set(bench) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    assert bench["paths"] == ["perfbench"]
    assert 1 <= bench["run_seconds"] <= 60 and isinstance(bench["run_seconds"], int)
    assert 2 <= len(bench["workloads"]) <= 8
    names = []
    for w in bench["workloads"]:
        assert set(w) == {"name", "why"} and len(w["why"]) <= 200 and "\n" not in w["why"]
        assert w["name"] in workloads.WORKLOADS
        names.append(w["name"])
    for m in bench["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"} and 0 < m["bound"] <= 0.25
    assert ("setup_s", "s", "lower") in [(m["name"], m["unit"], m["better"])
                                         for m in bench["end_to_end"]]
    assert [(m["name"], m["unit"], m["better"]) for m in bench["per_layer"]] == layers.METRICS
    for m in bench["end_to_end"] + bench["per_layer"]:
        assert NAME.match(m["name"]) and UNIT.match(m["unit"]) and m["better"] in ("lower", "higher")
        names.append(m["name"])
    assert len(names) == len(set(names))


def test_result_line_parses():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    metrics = run.end_to_end(12.5, [3.0, 3.2], [0.4, 0.5, 0.6], 1234, 2048 * 1024)
    line = run.result_line(True, 16, 0, metrics)
    parsed = json.loads(line)
    assert set(parsed) == {"correct", "attempted", "failed", "metrics"}
    assert {n: v["unit"] for n, v in parsed["metrics"].items()} == {
        m["name"]: m["unit"] for m in bench["end_to_end"]}
    assert all(isinstance(v["value"], (int, float)) and v["value"] > 0
               for v in parsed["metrics"].values())


def test_exits_nonzero_without_the_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path / "BENCHMARK.json")
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("_work", "_runs", "__pycache__"))
    proc = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "analytics",
                           "--seed", "1", "--seconds", "1", "--trace", "0"],
                          cwd=tmp_path, capture_output=True, text=True, timeout=120)
    assert proc.returncode != 0
    assert not proc.stdout.strip()


def test_unknown_workload_exits_nonzero():
    assert run.main(["--workload", "nope", "--seed", "1", "--seconds", "1"]) == 2
