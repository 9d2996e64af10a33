"""Dictionary decode: code→label lookup (reference parity P2/P3/J2).

The reference applies 72 code→label dicts as per-column Python UDFs
(transform.py:33-38, :68-77) — a JVM↔Python pickle round-trip per column.
Here the same semantics (unmapped or non-string code → NULL, dict.get
behavior) run natively, two ways:

- ``map_expr``: an inline constant map literal — O(1) per row inside
  codegen; right for the small/medium dicts (≤ ~10k entries). The
  literal is built in a constant number of py4j calls whatever the dict's
  size (``string_map_lit``), so the driver pays the same few
  milliseconds for a 12-entry and a 1,000-entry dict.
- ``broadcast dimension join`` (see etl/pipeline.py): for very large or
  shared dicts; null-on-miss comes from the LEFT join.

Both choices decode without a shuffle of the fact table.
"""

from __future__ import annotations

from itertools import chain
from typing import Mapping, Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

#: Separator candidates for shipping a string list as one joined string:
#: C0 controls, then the BMP private-use area (none is a regex metachar).
_SEPARATORS = tuple(map(chr, chain(range(0x01, 0x20), range(0xE000, 0xF900))))


def string_array_lit(values: Sequence[str]) -> Column:
    """Constant ``array<string>`` expression in O(1) py4j calls.

    ``F.lit(list)`` / ``F.create_map`` of ``F.lit`` pairs cost a few py4j
    round trips PER ELEMENT (and a numpy-array literal still sets the
    Java array one element per call). Here the strings cross the gateway
    as ONE joined string literal, ``split`` by a separator that occurs in
    none of them; the optimizer folds the split of a literal into an
    array literal, so rows never evaluate it."""
    if not values:  # split("") would give [""], not []
        return F.array().cast("array<string>")
    text = "".join(values)
    sep = next((ch for ch in _SEPARATORS if ch not in text), None)
    if sep is None:
        raise ValueError("no separator character is free in these strings")
    return F.split(F.lit(sep.join(values)), sep, -1)


def string_map_lit(mapping: Mapping[str, str]) -> Column:
    """Constant ``map<string,string>`` literal in O(1) py4j calls
    (``map_from_arrays`` of two ``string_array_lit``; the optimizer folds
    it into one map literal)."""
    return F.map_from_arrays(
        string_array_lit(list(mapping.keys())), string_array_lit(list(mapping.values()))
    )


def map_expr(mapping: Mapping[str, str], col: str | Column) -> Column:
    """Inline map lookup: ``mapping.get(code)`` semantics (miss → NULL)."""
    c = F.col(col) if isinstance(col, str) else col
    return string_map_lit(mapping)[c]


def map_as_dimension(
    spark: SparkSession, mapping: Mapping[str, str], key_col: str = "code", val_col: str = "label"
) -> DataFrame:
    """Materialize a dict as a 2-column dimension DataFrame for broadcast
    left joins (the scale path for big dicts)."""
    return spark.createDataFrame(
        [(k, v) for k, v in mapping.items()], schema=f"{key_col} string, {val_col} string"
    )


def decode_with_broadcast_join(
    df: DataFrame,
    mapping_df: DataFrame,
    code_col: str,
    *,
    key_col: str = "code",
    val_col: str = "label",
) -> DataFrame:
    """Replace ``code_col`` with its decoded label via broadcast LEFT join
    (miss → NULL, preserving the reference's dict.get semantics)."""
    dim = mapping_df.select(
        F.col(key_col).alias("__k"), F.col(val_col).alias("__v")
    )
    return (
        df.join(F.broadcast(dim), df[code_col] == F.col("__k"), "left")
        .withColumn(code_col, F.col("__v"))
        .drop("__k", "__v")
    )
