"""Property tests (SURVEY §5 item 3) — the convention engine's rules hold
for arbitrary inputs, not just the curated fixtures. One Spark job per
property: hypothesis generates the corpus, a single DataFrame pass
checks every example (per-example Spark jobs would be minutes, not
seconds)."""

from __future__ import annotations

import os
import tempfile

from hypothesis import given, settings, strategies as st
from pyspark.sql.types import LongType, StringType, StructField, StructType

from censo_escolar_spark.etl.pipeline import apply_conventions
from censo_escolar_spark.sources.readers import load_csv_with_schema

# Census cells: printable-ish strings incl. numerics, blanks, unicode.
cell = st.one_of(
    st.none(),
    st.integers(-(10**10), 10**10).map(str),
    st.text(max_size=12),
    st.sampled_from(["0", "1", "2", "01", " 1", "1 ", "", "true", "NaN", "-", "1.5"]),
)

MAP = {"1": "um", "2": "dois"}

# Map keys and labels that break naive literal building: quotes,
# commas, backslashes, line breaks, the empty string, non-ASCII text.
map_text = st.one_of(
    st.text(max_size=8),
    st.sampled_from(['"', "'", ",", "", "a,b", 'x"y', "it's", "\\", "\n",
                     "ção", "São Paulo", "日本語", "🙂", " "]),
)


@settings(max_examples=30, deadline=None)
@given(
    st.lists(st.tuples(cell, cell, cell), min_size=1, max_size=30),
    st.dictionaries(map_text, map_text, max_size=8),
)
def test_convention_rules_hold_for_arbitrary_cells(spark, rows, tricky):
    # TP_Y decodes through the generated map: every key of it once, then
    # the row's arbitrary TP cell (mostly misses)
    keys = list(tricky)
    rows = rows + [(None, None, None)] * max(0, len(keys) - len(rows))
    ys = keys + [tp for tp, _, _ in rows[len(keys):]]
    df = spark.createDataFrame(
        [r + (y,) for r, y in zip(rows, ys)],
        "TP_X string, IN_X string, NU_X string, TP_Y string",
    )
    out = apply_conventions(
        df, table="t", year=2020, maps={"TP_X": MAP, "TP_Y": tricky}
    ).collect()
    for (tp, in_, nu), y, r in zip(rows, ys, out):
        assert r["TP_X"] == MAP.get(tp), f"dict.get semantics broke for {tp!r}"
        assert r["TP_Y"] == tricky.get(y), f"dict.get semantics broke for {y!r} in {tricky!r}"
        assert r["IN_X"] == ({"1": True, "0": False}.get(in_)), f"bool rule broke for {in_!r}"
        # try_cast int semantics: python int() on the trimmed literal,
        # else NULL. Spark's string->int cast trims EVERY char <= 0x20
        # (UTF8String.trimAll — control chars included, e.g. '0\x1b'
        # casts to 0), not just Python str.strip()'s whitespace set.
        # (and only ASCII digits count: python int() would also accept
        # unicode decimal digits, Spark's toInt does not)
        import re as _re

        _spark_trim = "".join(chr(c) for c in range(0x21))
        trimmed = nu.strip(_spark_trim) if nu is not None else None
        if trimmed and _re.fullmatch(r"[+-]?[0-9]+", trimmed):
            expected_nu = int(trimmed)
            if not (-(2**31) <= expected_nu < 2**31):
                expected_nu = None
        else:
            expected_nu = None
        assert r["NU_X"] == expected_nu, f"int rule broke for {nu!r}"


SHARD_SCHEMA = StructType(
    [StructField("id", LongType(), True), StructField("v", StringType(), True)]
)


@settings(max_examples=20, deadline=None)
@given(
    st.lists(
        st.lists(
            st.tuples(
                st.integers(0, 10**6),
                st.text(alphabet="abcxyz0123456789çã日", min_size=1, max_size=8),
            ),
            max_size=20,
        ),
        min_size=1,
        max_size=5,
    ),
    st.integers(0, 5),
)
def test_one_scan_over_shards_keeps_every_data_row(spark, shards, at):
    """A table's shard files read in ONE scan (etl.job.load_year_table)
    return the shards' data rows and nothing else: each file's header is
    dropped, a header-only shard adds no row."""
    shards.insert(at % (len(shards) + 1), [])
    with tempfile.TemporaryDirectory() as d:
        paths = []
        for i, shard in enumerate(shards):
            paths.append(os.path.join(d, f"shard_{i}.csv"))
            with open(paths[-1], "w", encoding="utf-8") as f:
                f.write("id|v\n" + "".join(f"{k}|{v}\n" for k, v in shard))
        got = load_csv_with_schema(spark, paths, SHARD_SCHEMA).collect()
    assert sorted(tuple(r) for r in got) == sorted(r for s in shards for r in s)
