"""Shared expression helpers for hash-stable cross-engine results.

Double aggregation is the main source of cross-engine nondeterminism: the
accumulation ORDER differs between Spark partial aggregation and DuckDB, and
IEEE addition is not associative. Routing sums through DECIMAL partial sums
makes them exact and order-independent, then a final cast back to DOUBLE is
deterministic. See catalog.py docstring for the full rule set.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def dsum(col: Column | str, scale: str = "18,2") -> Column:
    """Order-independent SUM of a 2-dp double column, returned as DOUBLE."""
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(c.cast(f"decimal({scale})")).cast("double")


def davg(col: Column | str, scale: str = "18,2") -> Column:
    """Order-independent AVG: exact decimal sum, one double division."""
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(c.cast(f"decimal({scale})")).cast("double") / F.count(c)


def _top_level_fields(ddl: str) -> list[str]:
    """Field names of a DDL schema string, splitting only on top-level
    commas (nested ``array<struct<a:int, b:int>>`` commas don't count,
    and neither do parameterized-type commas like ``decimal(10,2)`` —
    ADVICE r13)."""
    parts, depth, cur = [], 0, []
    for ch in ddl:
        if ch in "<(":
            depth += 1
        elif ch in ">)":
            depth -= 1
        if ch == "," and depth == 0:
            parts.append("".join(cur))
            cur = []
        else:
            cur.append(ch)
    parts.append("".join(cur))
    return [p.strip().split()[0].strip("`") for p in parts if p.strip()]


def tiny_df(spark, rows, schema):
    """Small driver-local control table as a JVM-side DataFrame
    (optimization r13, guide §4 Python-boundary class).

    ``spark.createDataFrame(list, schema)`` parallelizes PICKLED rows over
    ``defaultParallelism`` partitions, so every downstream task — on a
    6-row query fixture, 32 tasks, 26 of them empty — must round-trip a
    Python worker just to deserialize its (usually empty) slice; measured
    ~0.3 s per task wave, several waves per serve query. Routing the same
    rows through pandas+Arrow builds the batches DRIVER-side and the scan
    is pure JVM (measured 1.48 s -> 0.58 s on the 6-row BM25 query-term
    collect at local[32]); the explicit ``schema`` pins the exact same
    column types as the pickle path. On a cluster the same fix removes
    the per-task Python worker round-trip for every control-table scan.

    Contract: ``rows`` must not contain float NaN — the Arrow path
    coerces NaN to NULL where pickle keeps NaN (the guide §4.3 coercion
    caveat). Callers here pass ints / strings / bools / finite doubles
    only; the contract is ENFORCED below (ADVICE r13: a future NaN
    producer must fail loudly, not silently change semantics — route
    such rows through :func:`collected_df`, whose pickle path keeps
    NaN). Falls back to the pickle path when pandas is unavailable.
    """
    import math

    def _no_nan(v):
        if isinstance(v, float) and math.isnan(v):
            raise ValueError(
                "tiny_df: float NaN in rows — the Arrow path would "
                "silently coerce it to NULL; use collected_df (pickle "
                "semantics) for NaN-bearing control tables"
            )
        if isinstance(v, (list, tuple)):
            for e in v:
                _no_nan(e)
        elif isinstance(v, dict):
            for e in v.values():
                _no_nan(e)

    rows = [tuple(r) for r in rows]
    for r in rows:
        _no_nan(r)
    try:
        import pandas as pd
    except ImportError:  # pragma: no cover - pandas ships with pyspark here
        return spark.createDataFrame(rows, schema)
    names = (_top_level_fields(schema) if isinstance(schema, str)
             else list(schema.fieldNames()))
    pdf = pd.DataFrame(rows, columns=names, dtype=object)
    return spark.createDataFrame(pdf, schema=schema)


def collected_df(spark, rows, schema):
    """Re-create a DataFrame from ``df.collect()`` output in ONE partition
    (optimization r13, guide §4): the plain ``createDataFrame(rows,
    schema)`` spreads the pickled rows over ``defaultParallelism``
    near-empty partitions, each paying a Python-worker round trip per
    downstream task. One slice keeps pickle's exact null/NaN semantics
    (unlike :func:`tiny_df`'s Arrow path) for already-bounded collected
    results — top-k tables, audit verdicts — at one worker wave."""
    return spark.createDataFrame(
        spark.sparkContext.parallelize(list(rows), numSlices=1), schema
    )


def dense_lit(value) -> Column:
    """Array literal (possibly nested) shipped to the JVM in ONE py4j
    crossing (optimization r13, guide §1/§4 driver-cost class).

    ``F.lit`` on a Python list recurses into ``array(*[lit(x) ...])`` —
    one py4j round trip PER ELEMENT, measured ~3 s for a 4096-double
    model table and ~1 s for an 8x16x8 PQ codebook, paid at every query
    BUILD (the DSIR scorer, the PQ/OPQ encode + ADC table, the IVF
    quantizer, LSH hyperplanes). Rendering the same values as one SQL
    ``array(...)`` expression string crosses py4j once and parses
    JVM-side in milliseconds; ConstantFolding collapses the parsed
    CreateArray-of-Literals to the identical folded Literal, so the
    expression tree the executor sees is unchanged.

    Bit-exactness: floats are rendered with ``repr`` (shortest
    round-trip form) and parsed by the same IEEE-754 ``parseDouble``
    path, so every value — including denormals and
    ``1.7976931348623157e308`` — reproduces exactly; NaN/±Infinity get
    explicit CAST forms (verified bit-identical to ``F.lit`` against a
    live session, including element_at folding). Ints mirror ``F.lit``'s
    type mapping: IntegerType inside the int32 range (a bare SQL integer
    literal), LongType (``L`` suffix) beyond it — several consumers
    (``element_at`` index arithmetic in the ADC scorer) require the INT
    form the ``F.lit`` path produced.
    """
    import math

    def leaf(x) -> str:
        if isinstance(x, bool):
            raise TypeError("dense_lit: bool leaves are not supported")
        if isinstance(x, int):
            return str(x) if -2**31 <= x < 2**31 else f"{x}L"
        x = float(x)
        if math.isnan(x):
            return "CAST('NaN' AS DOUBLE)"
        if math.isinf(x):
            return f"CAST('{'-' if x < 0 else ''}Infinity' AS DOUBLE)"
        return repr(x) + "D"

    def rec(u) -> str:
        if isinstance(u, (list, tuple)):
            if len(u) == 0:
                raise ValueError(
                    "dense_lit: empty arrays have no element type — use "
                    "F.array().cast(...) for those")
            return "array(" + ",".join(rec(e) for e in u) + ")"
        return leaf(u)

    return F.expr(rec(value))
