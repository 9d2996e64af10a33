"""Dual-format date parsing (reference parity P6, transform.py:41-50).

The reference's census files switch format at 2014: ``dd/MM/yyyy`` for
year > 2014, SAS-style ``ddMMMyyyy:HH:mm:ss`` (English month abbrevs,
e.g. ``01FEB2013:00:00:00``) before. The reference used a per-row Python
UDF with ``datetime.strptime``; here both formats are native Catalyst
expressions.

Divergence (deliberate, lenient): the reference UDF does NOT catch
``ValueError`` — a malformed date string crashes the reference job. This
engine yields NULL instead (``try_to_timestamp``), so one bad row cannot
kill a 100 TB load; the NULLs are countable afterwards.

Locale safety: the SAS month abbreviation is decoded through an explicit
JAN..DEC → 01..12 literal map rather than a ``MMM`` pattern, because
``MMM`` consults the JVM default locale — under e.g. ``-Duser.language=pt``
(where February is "fev") every legacy date would silently parse to NULL.
The remaining patterns are purely numeric and locale-independent.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from censo_escolar_spark.functions.decode import string_map_lit

MODERN_FORMAT = "dd/MM/yyyy"
#: numeric-only pattern the SAS input is rewritten into (locale-proof)
SAS_NUMERIC_FORMAT = "ddMMyyyy:HH:mm:ss"

#: English SAS month abbreviations → month number, applied as a literal
#: map lookup (unmapped/malformed month → NULL → whole parse NULL).
_SAS_MONTHS = {
    "JAN": "01", "FEB": "02", "MAR": "03", "APR": "04",
    "MAY": "05", "JUN": "06", "JUL": "07", "AUG": "08",
    "SEP": "09", "OCT": "10", "NOV": "11", "DEC": "12",
}


def parse_census_date(col: str | Column, year: int) -> Column:
    """Year-dependent date parse; malformed/NULL input → NULL (DateType)."""
    c = F.col(col) if isinstance(col, str) else col
    if year > 2014:
        return F.try_to_timestamp(c, F.lit(MODERN_FORMAT)).cast("date")
    # 01FEB2013:00:00:00 → 01 + "02" + 2013:00:00:00, then a numeric-only
    # parse. F.concat (not concat_ws) so an unmapped month nulls the row.
    month_map = string_map_lit(_SAS_MONTHS)
    normalized = F.concat(
        F.substring(c, 1, 2),
        month_map[F.upper(F.substring(c, 3, 3))],
        F.substring(c, 6, 100),
    )
    return F.try_to_timestamp(normalized, F.lit(SAS_NUMERIC_FORMAT)).cast("date")
