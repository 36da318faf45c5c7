"""Data-layout functions: multi-dimensional clustering for file skipping.

At 100 TB the cheapest query is the one that never opens the file.
Parquet readers skip files/row-groups whose min-max stats exclude the
predicate, but min-max only works along the SORT order — sorting by
``(a, b)`` clusters ``a`` and scatters ``b``. A Morton (Z-order) curve
interleaves the bits of both columns so each file covers a small
RECTANGLE of (a, b) space, making min-max pruning effective on either
column (the technique behind Z-ordered table layouts in modern
lakehouse formats; Morton 1966).

Pure integer bit arithmetic — deterministic and SQL-portable
(``shiftright``/``&``/``<<`` exist in Spark and DuckDB alike).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def morton_code(a: Column, b: Column, bits: int = 16) -> Column:
    """Interleave the low ``bits`` bits of two non-negative ints:
    result bit 2i = bit i of ``a``, bit 2i+1 = bit i of ``b``.
    2·bits ≤ 62 keeps the code in a signed BIGINT."""
    assert 2 * bits <= 62
    code = F.lit(0).cast("long")
    for i in range(bits):
        abit = F.shiftright(a.cast("long"), i).bitwiseAND(F.lit(1))
        bbit = F.shiftright(b.cast("long"), i).bitwiseAND(F.lit(1))
        code = (
            code
            + abit * F.lit(1 << (2 * i)).cast("long")
            + bbit * F.lit(1 << (2 * i + 1)).cast("long")
        )
    return code


def morton_code_sql(a: str, b: str, bits: int = 16) -> str:
    """DuckDB twin of :func:`morton_code` (same bit arithmetic)."""
    terms = []
    for i in range(bits):
        terms.append(f"((({a} >> {i}) & 1) * {1 << (2 * i)})")
        terms.append(f"((({b} >> {i}) & 1) * {1 << (2 * i + 1)})")
    return "(" + " + ".join(terms) + ")"


def int_in(col: str, values) -> Column:
    """``col IN (v1, v2, ...)`` over integer ``values`` as ONE SQL
    expression: one py4j call however many values, where
    ``F.col(col).isin(values)`` sends each value to the JVM as its own
    literal. Catalyst plans the same ``In`` predicate, so it still
    pushes down to the scan. The column name is backquoted and every
    value must pass ``int()``, so nothing but integers reaches the SQL
    text. No values matches no row."""
    vals = ", ".join(str(int(v)) for v in values)
    if not vals:
        return F.lit(False)
    return F.expr(f"`{col.replace('`', '``')}` IN ({vals})")


def zorder_repartition(
    df: DataFrame,
    col_a: str,
    col_b: str,
    n_files: int,
    bits: int = 16,
) -> DataFrame:
    """Cluster rows for writing: range-partition + sort by the Morton
    code of (col_a, col_b), then drop the key. Each output file then
    covers one Z-curve segment — a small (a, b) rectangle — so min-max
    stats prune scans filtered on EITHER column. Range partitioning
    samples the code distribution, so skew in (a, b) still yields
    balanced files.

    Each column is min-max normalized to the full ``bits`` width before
    interleaving. This is load-bearing, not cosmetic: raw values with
    unequal ranges (say partkey ≤ 2^18, suppkey ≤ 2^3) leave one
    column's high bits constant, the curve degenerates to a plain sort
    on the wider column, and min-max pruning on the narrow column stops
    working entirely (a file then spans its FULL range). The two-scalar
    min/max pre-scan is trivial next to the write it optimizes."""
    stats = df.agg(
        F.min(col_a).alias("__amn"),
        F.max(col_a).alias("__amx"),
        F.min(col_b).alias("__bmn"),
        F.max(col_b).alias("__bmx"),
    )
    top = (1 << bits) - 1

    def scaled(col: str, mn: str, mx: str) -> Column:
        span = F.col(mx) - F.col(mn)
        return F.when(
            span > 0,
            ((F.col(col) - F.col(mn)) * top / span).cast("long"),
        ).otherwise(F.lit(0).cast("long"))

    keyed = df.join(F.broadcast(stats)).withColumn(
        "__z",
        morton_code(
            scaled(col_a, "__amn", "__amx"),
            scaled(col_b, "__bmn", "__bmx"),
            bits,
        ),
    )
    return (
        keyed.repartitionByRange(n_files, "__z")
        .sortWithinPartitions("__z")
        .drop("__z", "__amn", "__amx", "__bmn", "__bmx")
    )
