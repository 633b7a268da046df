"""JVM-side local relations for small driver-known row sets.

``spark.createDataFrame(rows, ...)`` routes tiny driver lists through a
pickled Python RDD (``applySchemaToPythonRDD``): every materialization of
the plan pays a Python-worker task — measured ~0.3 s per noop
materialization on the gate box at 32 local threads, and the routing
pipelines materialize such relations inside every query (the SSSP lane
seeds, the batch OD-pair table, per-pair candidate join sides). A SQL
``VALUES`` list instead parses to a ``LocalRelation``: the rows live in
the JVM plan, joins against them broadcast without any Python stage, and
the optimizer sees exact sizes (guide §4 — eliminate the Python boundary;
measured 362 ms -> 54 ms for a 9-row noop write).

Only the types the routing pipelines need are supported (string / integral
/ double / boolean); anything else falls back to ``createDataFrame``
(correct, just slower), as does the empty list (``VALUES`` cannot be
empty).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession

# rows above this fall back to createDataFrame (ADVICE r14): a LocalRelation
# lives INSIDE the driver plan — it is copied on every plan transform and
# shipped with every task binary — and the VALUES text goes through the SQL
# parser, so a multi-million-row label table (the graph local tiers dispatch
# up to ~5M edges) would trade one Python task for a tens-of-MB parse and a
# plan the optimizer re-copies. 20k rows ≈ a few hundred KB of SQL — parse
# time is milliseconds and the relation still broadcasts exactly.
LOCALREL_MAX_ROWS = 20_000


def _split_top(schema: str) -> list[str]:
    """Split a DDL column list on TOP-LEVEL commas only: types like
    ``decimal(10,2)``, ``array<struct<a:int,b:int>>`` or ``map<string,int>``
    carry commas of their own (ADVICE r14 — the naive split built malformed
    casts from them)."""
    out, depth, start = [], 0, 0
    for i, ch in enumerate(schema):
        if ch in "<(":
            depth += 1
        elif ch in ">)":
            depth -= 1
        elif ch == "," and depth == 0:
            out.append(schema[start:i])
            start = i + 1
    out.append(schema[start:])
    return out


def _lit(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, str):
        return "'" + v.replace("\\", "\\\\").replace("'", "\\'") + "'"
    if isinstance(v, int):
        return str(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "CAST('NaN' AS DOUBLE)"
        if math.isinf(v):
            return f"CAST('{'-' if v < 0 else ''}Infinity' AS DOUBLE)"
        # repr() round-trips doubles exactly; force DOUBLE typing so an
        # integral-valued float does not parse as an int literal
        return f"CAST({v!r} AS DOUBLE)"
    if isinstance(v, (list, tuple)):
        # flat arrays of supported scalars (leg coordinates, path ids);
        # the SELECT's outer CAST normalizes the element type
        return "array(" + ",".join(_lit(x) for x in v) + ")"
    raise TypeError(type(v))


def local_rows_df(spark: SparkSession, rows: list[tuple], schema: str) -> DataFrame:
    """A DataFrame over driver-local ``rows`` with DDL ``schema``
    (``"name type, ..."``), built as a JVM ``LocalRelation`` when possible.

    The SELECT casts every column to its declared type, so literal typing
    quirks (int-sized longs, NULL columns) land on the exact schema
    ``createDataFrame`` would produce.
    """
    if not rows or len(rows) > LOCALREL_MAX_ROWS:
        return spark.createDataFrame(rows or [], schema)
    cols = [c.strip().split(None, 1) for c in _split_top(schema)]
    try:
        values = ",".join(
            "(" + ",".join(_lit(v) for v in row) + ")" for row in rows
        )
    except TypeError:
        return spark.createDataFrame(rows, schema)
    names = ",".join(name for name, _ in cols)
    sel = ",".join(f"CAST({name} AS {typ}) AS {name}" for name, typ in cols)
    return spark.sql(f"SELECT {sel} FROM (VALUES {values}) AS t({names})")
