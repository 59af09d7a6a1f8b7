"""Vector math over ``array<float>`` embedding columns.

Pure Column expressions (zip_with/aggregate fold) — JVM-side, no Python.
Both engines fold left-to-right over the same float32 values cast to
double, so dot products and norms agree bit-for-bit; scores are still
rounded at the query layer before ranking as a belt-and-braces measure.

Scale note: brute-force top-k is a broadcast of the (small) query set
against the (huge) corpus — one map-side pass + TakeOrdered, no corpus
shuffle. The LSH-bucketed variant (operators.similarity) is the path when
the query set itself is large.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Each helper accepts either Column objects (legacy path: ~40-80 py4j
# round-trips per call to assemble the fold expression tree) or plain
# column-NAME strings, in which case the identical expression is built
# as ONE parsed SQL string (a single py4j call). On this driver a py4j
# round-trip costs milliseconds, so Column-built cosines were adding
# ~0.5 s of plan-CONSTRUCTION time per call site per bench rep (guide
# §7.3 — driver-side plan building). The parsed form and the Column
# form produce the same Catalyst expression (same zip_with/aggregate
# fold, same cast), so results are bit-identical; the differential
# gate re-verifies every converted key.
#
# String inputs are spliced into parsed SQL, so they must be valid SQL
# identifiers/expressions (a name needing backticks must be passed
# pre-quoted or as a Column). Mixed Column/str calls coerce the string
# side with F.expr (ADVICE r12).


def _dot_spark_sql(a: str, b: str) -> str:
    return (
        f"aggregate(zip_with(CAST({a} AS ARRAY<DOUBLE>), "
        f"CAST({b} AS ARRAY<DOUBLE>), (x, y) -> x * y), "
        f"0D, (acc, x) -> acc + x)"
    )


def _norm_spark_sql(a: str) -> str:
    return (
        f"sqrt(aggregate(transform(CAST({a} AS ARRAY<DOUBLE>), "
        f"x -> x * x), 0D, (acc, x) -> acc + x))"
    )


def _as_double(v: Column) -> Column:
    return v.cast("array<double>")


def dot(a: Column | str, b: Column | str) -> Column:
    if isinstance(a, str) and isinstance(b, str):
        return F.expr(_dot_spark_sql(a, b))
    # mixed Column/str (ADVICE r12): coerce the string side instead of
    # crashing with an opaque AttributeError inside .cast
    a = F.expr(a) if isinstance(a, str) else a
    b = F.expr(b) if isinstance(b, str) else b
    prods = F.zip_with(_as_double(a), _as_double(b), lambda x, y: x * y)
    return F.aggregate(prods, F.lit(0.0), lambda acc, x: acc + x)


def norm(a: Column | str) -> Column:
    if isinstance(a, str):
        return F.expr(_norm_spark_sql(a))
    sq = F.transform(_as_double(a), lambda x: x * x)
    return F.sqrt(F.aggregate(sq, F.lit(0.0), lambda acc, x: acc + x))


def cosine(a: Column | str, b: Column | str) -> Column:
    """``dot / (norm * norm)``; NULL when either vector has zero norm
    (``try_divide``; DuckDB's ``cosine_sql`` yields NULL there too)."""
    if isinstance(a, str) and isinstance(b, str):
        return F.expr(cosine_spark_sql(a, b))
    a = F.expr(a) if isinstance(a, str) else a
    b = F.expr(b) if isinstance(b, str) else b
    return F.try_divide(dot(a, b), norm(a) * norm(b))


def cosine_spark_sql(a: str, b: str) -> str:
    """The Spark-SQL text of ``cosine(a, b)`` for callers that embed it
    inside a larger parsed expression (e.g. a higher-order-function
    lambda, where the operands are lambda variables)."""
    return (
        f"try_divide({_dot_spark_sql(a, b)}, "
        f"{_norm_spark_sql(a)} * {_norm_spark_sql(b)})"
    )


# --- DuckDB twins (structurally identical folds) ---------------------------


def dot_sql(a: str, b: str) -> str:
    return (
        f"list_aggregate(list_transform(range(len({a})), "
        f"i -> CAST({a}[i + 1] AS DOUBLE) * CAST({b}[i + 1] AS DOUBLE)), 'sum')"
    )


def norm_sql(a: str) -> str:
    return (
        f"sqrt(list_aggregate(list_transform({a}, "
        f"x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum'))"
    )


def cosine_sql(a: str, b: str) -> str:
    return f"({dot_sql(a, b)} / ({norm_sql(a)} * {norm_sql(b)}))"
