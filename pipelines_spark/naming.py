"""Column-name normalization — a first-class engine operation.

The reference normalizes every inbound schema: NFKD accent strip,
lowercase, whitespace/punctuation to underscore, and a leading ``_``
when the name starts with a digit (reference:
pipelines/utils/utils.py:542-565 ``remove_columns_accents`` and
pipelines/utils/utils.py:925-935 ``final_column_treatment``). Schema
names arrive from DB cursor descriptions and JSON payload keys, so
this runs on every source read.

Pure-Python (driver-side, O(#columns)) — it rewrites the schema, not
the data, so it costs nothing at any scale.
"""

from __future__ import annotations

import re
import unicodedata

from pyspark.sql import DataFrame

_UNDERSCORE_RUN = re.compile(r"[^0-9a-zA-Z]+")


def normalize_column_name(name: str, index: int = 0) -> str:
    """Normalize one column name.

    NFKD-decompose and drop non-ascii marks, lowercase, collapse any
    run of non-alphanumeric chars to ``_``, trim edge underscores, and
    prefix ``_`` if the result starts with a digit. Empty results get
    a positional fallback name.
    """
    decomposed = unicodedata.normalize("NFKD", name)
    ascii_only = decomposed.encode("ascii", "ignore").decode("ascii")
    cleaned = _UNDERSCORE_RUN.sub("_", ascii_only).strip("_").lower()
    if not cleaned:
        return f"col_{index}"
    if cleaned[0].isdigit():
        return f"_{cleaned}"
    return cleaned


def quote_name(name: str) -> str:
    """``name`` as a backtick-quoted SQL identifier, for the expression
    strings of ``selectExpr``/``F.expr``: a projection over many columns
    is then parsed in one JVM call, where building a ``Column`` per
    column costs py4j round trips (about 1 ms each)."""
    return "`" + name.replace("`", "``") + "`"


def normalize_names(names: list[str]) -> list[str]:
    """Normalize a schema's worth of names, de-duplicating collisions
    with positional suffixes (two distinct raw names must never merge
    into one column)."""
    out: list[str] = []
    seen: dict[str, int] = {}
    for i, name in enumerate(names):
        norm = normalize_column_name(name, i)
        if norm in seen:
            seen[norm] += 1
            norm = f"{norm}_{seen[norm]}"
        seen.setdefault(norm, 0)
        out.append(norm)
    return out


def normalize_columns(df: DataFrame) -> DataFrame:
    """Return ``df`` with all column names normalized.

    ``toDF`` is a metadata-only projection — Catalyst folds it into
    the scan, so no extra stage appears in the physical plan.
    """
    return df.toDF(*normalize_names(df.columns))
