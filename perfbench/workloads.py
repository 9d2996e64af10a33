"""The three workloads: operation lists, inputs, and output checks.

Each workload is built with (spark, work_dir, seed) and provides

- ``setup()``    — generate inputs (and base stores) from the seed;
- ``ops()``      — the operation list of one pass, order fixed by the seed;
- ``check()``    — compare every output of every pass with a computation
                   made apart from the engine; returns error strings;
- ``out_bytes()``— bytes one pass writes to its sink (census_etl,
                   corpus) or returns as result rows (analytics).

Results are keyed by (operation, pass index); a failed operation's
result is None, and the checks skip exactly those (operation, pass)
pairs. Registry rows are called through the engine's public registry
(``plans.registry.QUERIES``) exactly as a client would, and their
results are fetched with ``toPandas()`` inside the timed operation.
"""

from __future__ import annotations

import os
import random
import shutil
from collections import Counter
from dataclasses import dataclass
from typing import Callable

import pyarrow as pa

import gen_census
import gen_tables
import oracle


@dataclass
class Op:
    name: str
    fn: Callable[[int], object]
    #: engine module of the registry row (``plans.<module>``), if any
    module: str = ""


def _registry():
    # importing the plan modules populates the registry
    import censo_escolar_spark.plans.censo  # noqa: F401
    import censo_escolar_spark.plans.events  # noqa: F401
    import censo_escolar_spark.plans.multimodal  # noqa: F401
    import censo_escolar_spark.plans.northstar  # noqa: F401
    import censo_escolar_spark.plans.relational  # noqa: F401
    import censo_escolar_spark.plans.sketches  # noqa: F401
    from censo_escolar_spark.plans.registry import ORACLE, QUERIES

    return QUERIES, ORACLE


def _full_name(short: str) -> str:
    queries, _ = _registry()
    for name in queries:
        if name.split("_", 1)[0] == short:
            return name
    raise KeyError(short)


def dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


def frame_bytes(df) -> int:
    """Arrow size of one returned result (what the client holds)."""
    return pa.Table.from_pandas(df, preserve_index=False).nbytes


class Workload:
    name = ""

    def __init__(self, spark, work: str, seed: int):
        self.spark = spark
        self.work = work
        self.seed = seed

    def setup(self) -> None:
        raise NotImplementedError

    def ops(self) -> list[Op]:
        raise NotImplementedError

    def check(self, results: dict, n_pass: int) -> list[str]:
        raise NotImplementedError

    def out_bytes(self, results: dict, n_pass: int) -> int:
        raise NotImplementedError

    def layer_extras(self, n_pass: int) -> tuple[dict, list[str]]:
        """Per-layer metrics the workload measures itself (trace mode),
        and the errors of any output checked on the way."""
        return {}, []

    def sink_extras(self, sink: str, input_bytes: int) -> dict:
        """Writer metrics of one pass's sink: data files and output bytes
        per input byte."""
        files = sum(f.endswith(".parquet") for _, _, fs in os.walk(sink) for f in fs)
        return {"sources.writers.files": files,
                "sources.writers.bytes_per_input_byte": dir_bytes(sink) / input_bytes}


class RegistryWorkload(Workload):
    """Registry rows over generated parquet, each checked against its
    DuckDB oracle."""

    rows: tuple[str, ...] = ()
    parts = 0  # 0: one parquet file per table; >0: Spark-style directories

    def setup(self) -> None:
        self.sf_dir = os.path.join(self.work, "sf")
        self.input_bytes = gen_tables.write_tables(self.sf_dir, self.seed, parts=self.parts)

    def _row_op(self, short: str) -> Op:
        queries, _ = _registry()
        name = _full_name(short)
        fn = queries[name]
        module = fn.__module__.rsplit(".", 1)[-1]
        return Op(short, lambda idx, fn=fn: fn(self.spark, self.sf_dir).toPandas(), module)

    def extra_ops(self) -> list[Op]:
        return []

    def ops(self) -> list[Op]:
        ops = [self._row_op(r) for r in self.rows] + self.extra_ops()
        random.Random(self.seed).shuffle(ops)
        return ops

    def check(self, results: dict, n_pass: int) -> list[str]:
        _, oracles = _registry()
        errors = []
        con = oracle.connect(self.sf_dir)
        try:
            for short in self.rows:
                done = [idx for idx in range(n_pass + 1) if results[(short, idx)] is not None]
                if not done:
                    continue
                want = con.execute(oracles[_full_name(short)]).fetch_df()
                first = results[(short, done[0])]
                verdict = oracle.mismatch(first, want)
                for idx in done:
                    got = results[(short, idx)]
                    # a pass identical to the first checked pass shares its verdict
                    msg = verdict if oracle.identical(got, first) else oracle.mismatch(got, want)
                    if msg:
                        errors.append(f"{short} pass {idx}: {msg}")
            errors += self.check_extra(con, results, n_pass)
        finally:
            con.close()
        return errors

    def check_extra(self, con, results, n_pass) -> list[str]:
        return []

    def out_bytes(self, results: dict, n_pass: int) -> int:
        return sum(frame_bytes(results[(r, n_pass)]) for r in self.rows
                   if results.get((r, n_pass)) is not None)


# --------------------------------------------------------------------------
# analytics
# --------------------------------------------------------------------------
class Analytics(RegistryWorkload):
    """Batch rows of plans.relational / events / sketches / censo: per-query
    planning, job scheduling and small shuffles."""

    name = "analytics"
    rows = ("q01", "q21", "e03", "e29", "q61", "c01")

    def layer_extras(self, n_pass: int) -> tuple[dict, list[str]]:
        import probes

        con = oracle.connect(self.sf_dir)
        try:
            return {}, probes.run_probes(self.spark, self.sf_dir, con)
        finally:
            con.close()


# --------------------------------------------------------------------------
# corpus
# --------------------------------------------------------------------------
C02 = "c02"


class Corpus(RegistryWorkload):
    """The corpus curation job into a fresh sink each pass, exact cosine
    top-k and BM25 search. Inputs are directory-style parquet the way
    Spark writes tables."""

    name = "corpus"
    rows = ("s01", "t39")
    parts = 4

    def _sink(self, idx: int) -> str:
        return os.path.join(self.work, "corpus_sink", f"pass{idx}")

    def extra_ops(self) -> list[Op]:
        from censo_escolar_spark.etl.corpus_job import run_corpus_job

        docs = os.path.join(self.sf_dir, "documents.parquet")

        def job(idx: int):
            return run_corpus_job(self.spark, docs, self._sink(idx))

        return [Op("corpus_job", job, "corpus_job")]

    def check_extra(self, con, results, n_pass) -> list[str]:
        _, oracles = _registry()
        want = con.execute(oracles[_full_name(C02)]).fetch_df()
        cols = list(want.columns)
        errors = []
        for idx in range(n_pass + 1):
            summary = results[("corpus_job", idx)]
            if summary is None:
                continue
            sink = self._sink(idx)
            got = con.execute(
                f"SELECT {', '.join(cols)} FROM read_parquet("
                f"'{sink}/**/*.parquet', hive_partitioning = true)").fetch_df()
            msg = oracle.mismatch(got, want)
            if msg:
                errors.append(f"corpus_job sink pass {idx} vs c02 oracle: {msg}")
            if summary["curated_rows"] != len(want):
                errors.append(f"corpus_job pass {idx}: summary curated_rows "
                              f"{summary['curated_rows']} != {len(want)}")
        return errors

    def out_bytes(self, results: dict, n_pass: int) -> int:
        return dir_bytes(self._sink(n_pass))

    def layer_extras(self, n_pass: int) -> tuple[dict, list[str]]:
        import quality

        docs = dir_bytes(os.path.join(self.sf_dir, "documents.parquet"))
        return {**self.sink_extras(self._sink(n_pass), docs),
                **quality.corpus_quality(self.spark, self.sf_dir, self.seed)}, []


# --------------------------------------------------------------------------
# census_etl
# --------------------------------------------------------------------------
class CensusEtl(Workload):
    """The reference's census job: CSV scan with explicit schemas, one
    convention projection, partitioned and single-file parquet writes,
    incremental re-runs and a catalog refresh."""

    name = "census_etl"
    PART = "NU_ANO_CENSO"

    def setup(self) -> None:
        self.raw = os.path.join(self.work, "census_raw")
        self.side = os.path.join(self.work, "census_side")
        gen_census.write_sidecars(self.side)
        self.input_bytes = sum(
            gen_census.write_year(self.raw, self.seed, y)
            for y in gen_census.BASE_YEARS + (gen_census.ADDED_YEAR,))
        self.snapshots: dict = {}

    def _sink(self, idx: int) -> str:
        return os.path.join(self.work, "census_sink", f"pass{idx}")

    def _job(self, idx: int, years):
        from censo_escolar_spark.etl.job import run_census_job

        return run_census_job(self.spark, raw_root=self.raw, sidecar_root=self.side,
                              out_root=self._sink(idx), years=list(years),
                              tables=tuple(gen_census.COLUMNS))

    def _listing(self, idx: int) -> dict:
        out = {}
        root = self._sink(idx)
        for d, _, files in os.walk(root):
            for f in files:
                p = os.path.join(d, f)
                st = os.stat(p)
                out[os.path.relpath(p, root)] = (st.st_size, st.st_mtime_ns)
        return out

    def ops(self) -> list[Op]:
        from censo_escolar_spark.sources.catalog import full_refresh

        base = gen_census.BASE_YEARS
        added = base + (gen_census.ADDED_YEAR,)

        def full(idx):
            shutil.rmtree(self._sink(idx), ignore_errors=True)
            return self._job(idx, base)

        def rerun(idx):
            self.snapshots[("before_rerun", idx)] = self._listing(idx)
            ran = self._job(idx, base)
            self.snapshots[("after_rerun", idx)] = self._listing(idx)
            return ran

        def add_year(idx):
            ran = self._job(idx, added)
            self.snapshots[("after_add", idx)] = self._listing(idx)
            return ran

        def refresh(idx):
            tables = {t: os.path.join(self._sink(idx), t) for t in gen_census.COLUMNS}
            full_refresh(self.spark, tables, partition_cols=(self.PART,))
            return {t: sorted(r[0] for r in self.spark.sql(f"SHOW PARTITIONS `{t}`").collect())
                    for t in tables}

        # the four steps depend on each other; their order is fixed
        return [Op("census.full", full, "job"), Op("census.rerun", rerun, "job"),
                Op("census.add_year", add_year, "job"), Op("census.refresh", refresh, "catalog")]

    def check(self, results: dict, n_pass: int) -> list[str]:
        import duckdb

        base = gen_census.BASE_YEARS
        added = gen_census.ADDED_YEAR
        years = base + (added,)
        want = gen_census.expected(self.seed, years)
        errors: list[str] = []
        con = duckdb.connect()
        try:
            for idx in range(n_pass + 1):
                errors += self._check_pass(con, idx, results, want)
        finally:
            con.close()
        return errors

    def _check_pass(self, con, idx, results, want) -> list[str]:
        """Checks of one pass; each step's checks run when that step (and
        the steps it builds on) did not fail."""
        base, added = gen_census.BASE_YEARS, gen_census.ADDED_YEAR
        errs = []
        full = results[("census.full", idx)]
        if full is not None:
            for t in gen_census.COLUMNS:
                exp = [y for y in base if y in {yy for (tt, yy) in want if tt == t}]
                if full.get(t) != exp:
                    errs.append(f"pass {idx} full run {t}: ran {full.get(t)} != {exp}")
        rerun = results[("census.rerun", idx)]
        if rerun is not None:
            if any(rerun.values()):
                errs.append(f"pass {idx} re-run had pending years {rerun}")
            if self.snapshots[("before_rerun", idx)] != self.snapshots[("after_rerun", idx)]:
                errs.append(f"pass {idx} re-run changed files")
        add = results[("census.add_year", idx)]
        if add is not None:
            if any(v != [added] for v in add.values()):
                errs.append(f"pass {idx} added year ran {add}")
        if add is not None and rerun is not None:
            before = self.snapshots[("after_rerun", idx)]
            after = self.snapshots[("after_add", idx)]
            for path, stat in after.items():
                if os.path.basename(path)[0] in "._":
                    continue  # job markers (_SUCCESS) and checksums, not data
                if before.get(path) != stat and f"{self.PART}={added}" not in path:
                    errs.append(f"pass {idx} added year touched {path}")
                    break
            if any(p not in after for p in before):
                errs.append(f"pass {idx} added year removed files")
        refresh = results[("census.refresh", idx)]
        if refresh is not None:
            for t, parts in refresh.items():
                exp = [f"{self.PART}={y}" for (tt, y) in sorted(want) if tt == t]
                if parts != exp:
                    errs.append(f"pass {idx} catalog partitions of {t}: {parts} != {exp}")
        if full is None or add is None:
            return errs  # the sink is not the one both jobs should have written
        sink = self._sink(idx)
        for t in gen_census.COLUMNS:
            for (tt, y) in want:
                if tt != t:
                    continue
                pdir = os.path.join(sink, t, f"{self.PART}={y}")
                files = [f for f in os.listdir(pdir) if f.endswith(".parquet")]
                if t in gen_census.SMALL and len(files) != 1:
                    errs.append(f"pass {idx} {t} {y}: {len(files)} files, want 1")
            errs += self._check_tallies(con, sink, t, want)
        return errs

    def _check_tallies(self, con, sink, table, want) -> list[str]:
        rel = con.execute(
            f"SELECT * FROM read_parquet('{sink}/{table}/*/*.parquet', "
            "hive_partitioning = true, union_by_name = true)")
        cols = [d[0] for d in rel.description]
        rows = rel.fetchall()
        errs = []
        by_year: dict[int, list[tuple]] = {}
        yi = cols.index(self.PART)
        for r in rows:
            by_year.setdefault(int(r[yi]), []).append(r)
        for (t, y), tallies in want.items():
            if t != table:
                continue
            got = by_year.get(y, [])
            if len(got) != tallies["__rows__"]["n"]:
                errs.append(f"{t} {y}: {len(got)} rows != {tallies['__rows__']['n']}")
                continue
            for c, i in zip(cols, range(len(cols))):
                if c == self.PART:
                    continue
                have = Counter(r[i] for r in got)
                exp = tallies.get(c, Counter({None: len(got)}))
                if have != exp:
                    diff = (have - exp) + (exp - have)
                    errs.append(f"{t} {y} column {c}: tally differs on {list(diff)[:3]}")
            missing = set(tallies) - set(cols) - {"__rows__", self.PART}
            for c in sorted(missing):
                if set(tallies[c]) != {None}:
                    errs.append(f"{t} {y}: column {c} missing from the sink")
        return errs

    def out_bytes(self, results: dict, n_pass: int) -> int:
        return dir_bytes(self._sink(n_pass))

    def layer_extras(self, n_pass: int) -> tuple[dict, list[str]]:
        return self.sink_extras(self._sink(n_pass), self.input_bytes), []


WORKLOADS = {w.name: w for w in (Analytics, Corpus, CensusEtl)}
