"""Seeded generator for census-shaped raw years, plus its own tallies.

Writes the bucket layout ``etl.job.run_census_job`` reads:

    <raw>/<year>/escolas.csv, gestores.csv (years > 2018),
    <raw>/<year>/matricula_<region>.csv (5 regional shards)
    <side>/schemas/<table>_schema.json, <side>/maps.json

for three of the reference's five tables — one small table, the
conditional ``gestores`` and one sharded fact table — and,
independently of the engine, the rows the job must produce: every
output cell follows the census conventions (FIXTURES.md, golden-output
rules) as plain Python — mapped ``TP_``/``CO_`` codes become labels and
unmapped or empty codes NULL, ``IN_`` "0"/"1" become booleans and
anything else NULL, ``NU_``/``QT_`` become ints with planted malformed
values NULL, ``DT_`` dates parse per the year's format (SAS-style
``01FEB2013:00:00:00`` up to 2014, ``dd/MM/yyyy`` after), and pre-2019
``escolas`` OR-merge and rename their drifted columns. ``expected``
returns one multiset per (table, year, column) for the checks.
"""

from __future__ import annotations

import datetime as dt
import json
import os
from collections import Counter

import numpy as np

REGIONS = ("co", "nordeste", "norte", "sudeste", "sul")
#: regional shard weights (skewed, as real census shards are)
SHARD_WEIGHTS = (10, 5, 3, 1, 1)
BASE_YEARS = (2014,)
ADDED_YEAR = 2019

#: rows per (table, year); sharded tables split by SHARD_WEIGHTS
ROWS = {"escolas": 1000, "gestores": 1000, "matricula": 10000}

_MONTHS = "JAN FEB MAR APR MAY JUN JUL AUG SEP OCT NOV DEC".split()


def _small(col: str, n: int, start: int = 1) -> dict[str, str]:
    return {str(c): f"{col.lower()}_{c}" for c in range(start, start + n)}


def make_maps() -> dict[str, dict[str, str]]:
    """maps.json: small dicts (inline decode) and one dict above the
    engine's 1024-entry broadcast threshold (broadcast-join decode)."""
    m = {
        "TP_SITUACAO_FUNCIONAMENTO": _small("TP_SITUACAO_FUNCIONAMENTO", 4),
        "TP_DEPENDENCIA": _small("TP_DEPENDENCIA", 4),
        "CO_REGIAO": _small("CO_REGIAO", 5),
        "CO_UF": {str(c): f"uf_{c}" for c in (11, 12, 13, 14, 15, 16, 17, 21, 22, 23, 24, 25, 26, 27, 28, 29, 31, 32, 33, 35, 41, 42, 43, 50, 51, 52, 53)},
        "CO_MUNICIPIO": {str(1100000 + 7 * i): f"municipio_{i}" for i in range(1500)},
        "CO_LINGUA_INDIGENA": {str(10000 + i): f"lingua_{i}" for i in range(20)},
        "TP_SEXO": _small("TP_SEXO", 2),
        "TP_COR_RACA": _small("TP_COR_RACA", 6, 0),
        "TP_NACIONALIDADE": _small("TP_NACIONALIDADE", 3),
        "CO_PAIS_ORIGEM": {str(c): f"pais_{c}" for c in range(1, 31)},
        "TP_ZONA_RESIDENCIAL": _small("TP_ZONA", 2),
        "TP_TIPO_CONTRATACAO": _small("TP_TIPO_CONTRATACAO", 4),
        "TP_CARGO_GESTOR": _small("TP_CARGO_GESTOR", 2),
        "TP_TIPO_ACESSO_CARGO": _small("TP_TIPO_ACESSO_CARGO", 7),
    }
    m["CO_LINGUA_INDIGENA_1"] = m["CO_LINGUA_INDIGENA"]
    return m


#: raw columns per table (one schema sidecar per table, all strings).
#: escolas carries both the pre-2019 and the post-2019 drift columns;
#: each year fills only its own era's and leaves the others empty.
ESCOLAS_OLD = ("IN_MANT_ESCOLA_PRIVADA_ONG", "IN_MANT_ESCOLA_PRIVADA_OSCIP",
               "IN_ESGOTO_FOSSA_SEPTICA", "IN_ESGOTO_FOSSA_COMUM",
               "IN_ALOJAM_ALUNO", "IN_ALOJAM_PROFESSOR", "CO_LINGUA_INDIGENA")
ESCOLAS_NEW = ("IN_MANT_ESCOLA_PRIV_ONG_OSCIP", "IN_ESGOTO_FOSSA",
               "IN_DORMITORIO_ALUNO", "IN_DORMITORIO_PROFESSOR", "CO_LINGUA_INDIGENA_1")
COLUMNS = {
    "escolas": ("NU_ANO_CENSO", "CO_ENTIDADE", "NO_ENTIDADE", "TP_SITUACAO_FUNCIONAMENTO",
                "TP_DEPENDENCIA", "CO_REGIAO", "CO_UF", "CO_MUNICIPIO",
                "DT_ANO_LETIVO_INICIO", "DT_ANO_LETIVO_TERMINO", "IN_AGUA_POTAVEL")
               + ESCOLAS_OLD + ESCOLAS_NEW + ("QT_SALAS_UTILIZADAS", "NU_FUNCIONARIOS"),
    "gestores": ("NU_ANO_CENSO", "ID_GESTOR", "CO_ENTIDADE", "NU_IDADE", "TP_SEXO",
                 "TP_CARGO_GESTOR", "TP_TIPO_ACESSO_CARGO", "TP_TIPO_CONTRATACAO",
                 "IN_ESPECIALIZACAO"),
    "matricula": ("NU_ANO_CENSO", "ID_ALUNO", "ID_MATRICULA", "ID_TURMA", "CO_ENTIDADE",
                  "NU_IDADE", "TP_SEXO", "TP_COR_RACA", "TP_NACIONALIDADE",
                  "CO_PAIS_ORIGEM", "CO_UF_NASC", "TP_ZONA_RESIDENCIAL",
                  "IN_TRANSPORTE_PUBLICO", "IN_NECESSIDADE_ESPECIAL"),
}
SHARDED = ("matricula",)
SMALL = ("escolas", "gestores")
OR_MERGES = {
    "IN_MANT_ESCOLA_PRIV_ONG_OSCIP": ("IN_MANT_ESCOLA_PRIVADA_ONG", "IN_MANT_ESCOLA_PRIVADA_OSCIP"),
    "IN_ESGOTO_FOSSA": ("IN_ESGOTO_FOSSA_SEPTICA", "IN_ESGOTO_FOSSA_COMUM"),
}
RENAMES = {
    "IN_ALOJAM_ALUNO": "IN_DORMITORIO_ALUNO",
    "IN_ALOJAM_PROFESSOR": "IN_DORMITORIO_PROFESSOR",
    "CO_LINGUA_INDIGENA": "CO_LINGUA_INDIGENA_1",
}
#: planted malformed integer cells (each must land as NULL)
BAD_INTS = ("abc", "12a", "x9", "99999999999", "-")


def tables_for(year: int) -> tuple[str, ...]:
    return tuple(t for t in COLUMNS if t != "gestores" or year > 2018)


# --------------------------------------------------------------------------
# raw cell generation
# --------------------------------------------------------------------------
def _code_cell(rng, codes: list[str]) -> str:
    r = rng.random()
    if r < 0.03:
        return "999999"  # unmapped
    if r < 0.05:
        return ""  # NULL
    return codes[int(rng.integers(0, len(codes)))]


def _flag_cell(rng) -> str:
    r = rng.random()
    return "1" if r < 0.45 else "0" if r < 0.9 else "2" if r < 0.95 else ""


def _int_cell(rng, lo: int, hi: int) -> str:
    r = rng.random()
    if r < 0.04:
        return BAD_INTS[int(rng.integers(0, len(BAD_INTS)))]
    if r < 0.06:
        return ""
    return str(int(rng.integers(lo, hi)))


def _date_cell(rng, year: int) -> str:
    r = rng.random()
    d = dt.date(year, 1, 1) + dt.timedelta(days=int(rng.integers(0, 365)))
    if r < 0.03:
        return "" if r < 0.015 else ("xx/yy/zzzz" if year > 2014 else "01XYZ2014:00:00:00")
    if year > 2014:
        return d.strftime("%d/%m/%Y")
    return f"{d.day:02d}{_MONTHS[d.month - 1]}{d.year}:00:00:00"


def _raw_row(rng, table: str, year: int, i: int, codes) -> dict[str, str]:
    row: dict[str, str] = {"NU_ANO_CENSO": str(year)}
    for col in COLUMNS[table][1:]:
        if col in ESCOLAS_OLD and year >= 2019 or col in ESCOLAS_NEW and year < 2019:
            row[col] = ""
        elif col.startswith(("ID_", "CO_ENTIDADE")):
            row[col] = str(year * 1_000_000 + i) if col.startswith("ID_") else str(int(rng.integers(1, 10**8)))
        elif col.startswith("NO_"):
            row[col] = f"nome {int(rng.integers(0, 10**6))}"
        elif col.startswith("TX_"):
            row[col] = f"{int(rng.integers(7, 20)):02d}"
        elif col == "CO_UF_NASC":
            row[col] = codes["CO_UF"][int(rng.integers(0, len(codes["CO_UF"])))]
        elif col.startswith(("TP_", "CO_")):
            row[col] = _code_cell(rng, codes[col])
        elif col.startswith("IN_"):
            row[col] = _flag_cell(rng)
        elif col.startswith(("NU_", "QT_")):
            row[col] = _int_cell(rng, 0, 90)
        elif col.startswith("DT_"):
            row[col] = _date_cell(rng, year)
        else:  # pragma: no cover - every column above has a rule
            raise AssertionError(col)
    return row


def raw_rows(seed: int, table: str, year: int) -> list[list[dict[str, str]]]:
    """The raw rows of one (table, year), one list per file (shard)."""
    rng = np.random.default_rng([seed, year, list(COLUMNS).index(table)])
    codes = {k: list(v) for k, v in make_maps().items()}
    n = ROWS[table]
    if table not in SHARDED:
        return [[_raw_row(rng, table, year, i, codes) for i in range(n)]]
    tot = sum(SHARD_WEIGHTS)
    sizes = [n * w // tot for w in SHARD_WEIGHTS]
    out, i = [], 0
    for size in sizes:
        out.append([_raw_row(rng, table, year, i + j, codes) for j in range(size)])
        i += size
    return out


def write_year(raw_root: str, seed: int, year: int) -> int:
    """Write one census year's CSV files; returns bytes written."""
    ydir = os.path.join(raw_root, str(year))
    os.makedirs(ydir, exist_ok=True)
    total = 0
    for table in tables_for(year):
        shards = raw_rows(seed, table, year)
        names = [f"{table}_{r}.csv" for r in REGIONS] if table in SHARDED else [f"{table}.csv"]
        for name, rows in zip(names, shards):
            path = os.path.join(ydir, name)
            with open(path, "w", encoding="utf-8", newline="\n") as f:
                f.write("|".join(COLUMNS[table]) + "\n")
                for r in rows:
                    f.write("|".join(r[c] for c in COLUMNS[table]) + "\n")
            total += os.path.getsize(path)
    return total


def write_sidecars(side_root: str) -> None:
    os.makedirs(os.path.join(side_root, "schemas"), exist_ok=True)
    for table, cols in COLUMNS.items():
        schema = {"type": "struct", "fields": [
            {"name": c, "type": "string", "nullable": True, "metadata": {}} for c in cols]}
        with open(os.path.join(side_root, "schemas", f"{table}_schema.json"), "w") as f:
            json.dump(schema, f)
    with open(os.path.join(side_root, "maps.json"), "w", encoding="utf-8") as f:
        json.dump(make_maps(), f, sort_keys=True)


# --------------------------------------------------------------------------
# expected output (the generator's own model of the conventions)
# --------------------------------------------------------------------------
def _flag(v: str):
    return True if v == "1" else False if v == "0" else None


def _int(v: str):
    if v and (v.isdigit() or v[0] == "-" and v[1:].isdigit()):
        x = int(v)
        return x if -2**31 <= x < 2**31 else None
    return None


def _date(v: str, year: int):
    try:
        if year > 2014:
            return dt.datetime.strptime(v, "%d/%m/%Y").date()
        if v[2:5] not in _MONTHS:
            return None
        return dt.date(int(v[5:9]), _MONTHS.index(v[2:5]) + 1, int(v[:2]))
    except (ValueError, IndexError):
        return None


def _or(a, b):
    if a is True or b is True:
        return True
    if a is None or b is None:
        return None
    return False


def expected_row(table: str, year: int, raw: dict[str, str], maps) -> dict:
    out: dict = {}
    for col, v in raw.items():
        if col == "NU_ANO_CENSO":
            out[col] = year
        elif col.startswith(("TP_", "CO_")) and col in maps:
            out[col] = maps[col].get(v) if v else None
        elif col.startswith("IN_"):
            out[col] = _flag(v)
        elif col.startswith(("NU_", "QT_")):
            out[col] = _int(v)
        elif col.startswith("DT_"):
            out[col] = _date(v, year) if v else None
        else:
            out[col] = v if v else None
    if table == "escolas" and year < 2019:
        for new, (a, b) in OR_MERGES.items():
            out[new] = _or(out.pop(a), out.pop(b))
        for old, new in RENAMES.items():
            out[new] = out.pop(old)
    return out


def expected(seed: int, years) -> dict[tuple[str, int], dict[str, Counter]]:
    """{(table, year): {column: Counter(values)}} plus ``__rows__``."""
    maps = make_maps()
    res: dict[tuple[str, int], dict[str, Counter]] = {}
    for year in years:
        for table in tables_for(year):
            cols: dict[str, Counter] = {}
            nrows = 0
            for shard in raw_rows(seed, table, year):
                for raw in shard:
                    nrows += 1
                    for c, v in expected_row(table, year, raw, maps).items():
                        cols.setdefault(c, Counter())[v] += 1
            cols["__rows__"] = Counter({"n": nrows})
            res[(table, year)] = cols
    return res
