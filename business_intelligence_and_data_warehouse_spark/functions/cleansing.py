"""String cleansing column helpers (reference operators P3/P4:
`ReplaceString` literal+regex steps, `StringOperations` trim/case —
e.g. `ETL/etl for customer with scd2.ktr:974-1026`,
`etl for geolocation with scd1.ktr:597-695`). All native functions."""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def trim_initcap(col: Column) -> Column:
    """City-style cleanup: trim both ends + capitalize each word."""
    return F.initcap(F.trim(col))


def trim_upper(col: Column) -> Column:
    """State-code-style cleanup: trim + uppercase."""
    return F.upper(F.trim(col))


def underscores_to_spaces(col: Column) -> Column:
    """Category-name cleanup (reference `ETL for category.ktr:619-669`)."""
    return F.regexp_replace(col, "_", " ")


def canonicalize(col: Column, variants: dict[str, str]) -> Column:
    """Literal replacement chain (reference maps 5 'sao paulo' spelling
    variants to one canonical form)."""
    out = col
    for bad, good in variants.items():
        out = F.when(out == bad, F.lit(good)).otherwise(out)
    return out
