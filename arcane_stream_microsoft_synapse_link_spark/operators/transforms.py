"""Row-level CDC transforms: name normalization, field selection, merge key.

Reference operators B1/B2/B4 (SURVEY.md §2.B). All pure DataFrame ops —
Catalyst folds them into the scan projection (column pruning), so none of
these cost a pass over the data.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Fields that survive any include/exclude rule (reference default:
# .helm/templates/crd-microsoft-synapse.yaml:410-418).
ESSENTIAL_FIELDS = ("id", "versionnumber", "isdelete", "arcane_merge_key")

_NORMALIZE_RE = re.compile(r"[^0-9a-zA-Z_]")


def quote_name(name: str) -> str:
    """Backtick-quote a column name for SQL text (raw CDM names, before
    normalization, may hold ``$``, ``/``, spaces or backticks)."""
    return "`" + name.replace("`", "``") + "`"


def normalize_column_names(df: DataFrame) -> DataFrame:
    """Strip special characters ($ / \\ ...) from field names (B2,
    reference docs/crd.md:186-187). Raises if two source names collapse
    to the same normalized name ('a\\$b' vs 'ab') — failing here with the
    colliding pair beats an ambiguous-reference error downstream."""
    normalized = [_NORMALIZE_RE.sub("", c) for c in df.columns]
    seen: dict[str, str] = {}
    for src, norm in zip(df.columns, normalized):
        if norm in seen:
            raise ValueError(
                f"column-name normalization collision: {seen[norm]!r} and "
                f"{src!r} both normalize to {norm!r}"
            )
        seen[norm] = src
    return df.toDF(*normalized)


def with_merge_key(df: DataFrame, key_column: str = "Id") -> DataFrame:
    """Synthesize ``arcane_merge_key`` from the entity key (B4 [inferred]):
    canonical lowercase of the guid key."""
    return df.withColumn("arcane_merge_key", F.lower(F.col(key_column)))


def select_fields(
    df: DataFrame,
    mode: str = "all",
    fields: list[str] | tuple[str, ...] = (),
    essential: tuple[str, ...] = ESSENTIAL_FIELDS,
) -> DataFrame:
    """Include/exclude field selection with essential-field protection (B1,
    rule grammar: crd-microsoft-synapse.yaml:397-446).

    mode: 'all' | 'include' | 'exclude'. Matching is case-insensitive, as
    column-name handling in the reference lake stack is.
    """
    if mode == "all":
        return df
    wanted = {f.lower() for f in fields}
    ess = set(essential)
    cols = df.columns
    if mode == "include":
        keep = [c for c in cols if c.lower() in wanted or c.lower() in ess]
    elif mode == "exclude":
        keep = [c for c in cols if c.lower() not in wanted or c.lower() in ess]
    else:
        raise ValueError(f"unknown field-selection mode {mode!r}")
    return df.select(*keep)
