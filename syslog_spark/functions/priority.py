"""Priority/facility/severity Spark Column expressions + dimension tables.

Reference semantics: priority.go (decode arithmetic, validity bounds,
name tables — spellings reproduced byte-for-byte, including "deamon" [sic]
and the duplicated Security/authorization name for facilities 4 and 10).
All expressions are pure Catalyst (JVM-side, codegen'd) — no UDFs.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from .. import constants as C


def facility_of(priority: Column | str) -> Column:
    """priority.go:28-31 — integer division by 8."""
    p = F.col(priority) if isinstance(priority, str) else priority
    return F.floor(p.cast("int") / 8).cast("smallint")


def severity_of(priority: Column | str) -> Column:
    """priority.go:36-39 — mod 8."""
    p = F.col(priority) if isinstance(priority, str) else priority
    return F.pmod(p.cast("int"), F.lit(8)).cast("smallint")


def is_valid_priority(c: Column) -> Column:
    return c.cast("int").between(0, C.MAX_PRIORITY)


def is_valid_facility(c: Column) -> Column:
    return c.cast("int").between(0, C.MAX_FACILITY)


def is_valid_severity(c: Column) -> Column:
    return c.cast("int").between(0, C.MAX_SEVERITY)


def facility_name(c: Column | str) -> Column:
    """Facility.String() (priority.go:61-66): name or 'Invalid'; null in ->
    null out. Array-literal lookup (no join, no shuffle)."""
    c = F.col(c) if isinstance(c, str) else c
    arr = F.array(*[F.lit(n) for n in C.FACILITY_NAMES])
    return F.when(
        is_valid_facility(c), F.element_at(arr, c.cast("int") + 1)
    ).otherwise(F.when(c.isNotNull(), F.lit(C.INVALID_NAME)))


def severity_name(c: Column | str) -> Column:
    """Severity.String() (priority.go:104-109)."""
    c = F.col(c) if isinstance(c, str) else c
    arr = F.array(*[F.lit(n) for n in C.SEVERITY_NAMES])
    return F.when(
        is_valid_severity(c), F.element_at(arr, c.cast("int") + 1)
    ).otherwise(F.when(c.isNotNull(), F.lit(C.INVALID_NAME)))


def tenant_of(source: Column | str) -> Column:
    """Deterministic source->tenant mapping (north-rule enrichment; not in
    the reference). Trivially SQL-mirrorable for the DuckDB oracle."""
    s = F.col(source) if isinstance(source, str) else source
    return F.concat(
        F.lit("tenant_"),
        F.pmod(F.ascii(F.substring(s, 1, 1)) + F.length(s), F.lit(4)),
    )


# --- dimension tables (broadcast side) ----------------------------------------


def facility_names_df(spark):
    return spark.createDataFrame(
        [(i, n) for i, n in enumerate(C.FACILITY_NAMES)],
        "facility smallint, facility_name string",
    )


def severity_names_df(spark):
    return spark.createDataFrame(
        [(i, n) for i, n in enumerate(C.SEVERITY_NAMES)],
        "severity smallint, severity_name string",
    )
