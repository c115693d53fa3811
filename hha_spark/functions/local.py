"""Driver-local bounded frames as Arrow tables — pure-JVM scans.

The engine builds many small driver-side frames (gate rollups, model
artifacts, probe dimensions). ``createDataFrame(list-or-rows)`` routes
them through a pickled Python RDD: every downstream scan — the bench's
noop force, an oracle collect, EVERY re-evaluation of a broadcast build
side — launches Python worker tasks, and this sandbox charges ~0.2 s of
protocol latency per Python-touching task (measured round 11; the
round-11 fix cut the partition count 32 -> 1 but kept one Python task
per scan). An Arrow-table ``createDataFrame`` ships the same rows as
one Arrow batch the JVM scans directly: zero Python tasks, ever.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    ArrayType,
    DataType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    StringType,
    StructType,
)

# schema DDL -> parsed StructType, so per-epoch/per-call frames don't
# re-parse their (module-constant) schema strings
_PARSED: dict[str, StructType] = {}


def _pa_type(dt: DataType):
    import pyarrow as pa

    if isinstance(dt, LongType):
        return pa.int64()
    if isinstance(dt, IntegerType):
        return pa.int32()
    if isinstance(dt, StringType):
        return pa.string()
    if isinstance(dt, DoubleType):
        return pa.float64()
    if isinstance(dt, FloatType):
        return pa.float32()
    if isinstance(dt, ArrayType):
        return pa.list_(_pa_type(dt.elementType))
    raise TypeError(f"unsupported local-frame column type: {dt}")


def sql_over_views(
    session: SparkSession,
    template: str,
    frames: dict[str, DataFrame] | None = None,
    **literals,
) -> DataFrame:
    """Run a fused SQL statement with every referenced frame
    registered as an EXPLICIT temp view — never via ``spark.sql``'s
    ``{df}`` kwargs. PySpark's kwarg formatter registers a throwaway
    view per frame and then drops it (SQLStringFormatter.clear ->
    dropTempView), and dropping a temp view UNCACHES the plan it
    points at: substituting a persisted frame evicts its persist()
    entry, so every later consumer recomputes it from scratch
    (measured round 12: the curation funnel's store write re-derived
    the whole candidate-join chain, t_write ~6x). Explicit
    createOrReplaceTempView — one py4j call per frame, the same
    boundary cost the formatter pays — keeps cache reuse intact. The
    views are deliberately left registered: replaced on the next
    call, never dropped (dropping is exactly the eviction being
    avoided), and scoped to `session` (foreachBatch bodies run on a
    per-batch clone, so nothing leaks to the main session). Every
    frame must already live on `session`.

    `literals` are formatted into the SQL text verbatim, so only
    numbers are accepted (int or float, not bool); anything else
    raises TypeError here rather than surfacing as a syntax error or
    an injected fragment far from the call site.

    Assumes classic (non-Connect) PySpark: ``session.sql`` analyzes
    the statement eagerly, so the returned frame is bound to the
    plans the views point at NOW, and a later call that re-registers
    the same ``_hha_fused_*`` name cannot retarget it. Under Spark
    Connect analysis is lazy and that no longer holds — re-audit this
    helper before any Connect migration.
    """
    for key, value in literals.items():
        if isinstance(value, bool) or not isinstance(value, (int, float)):
            raise TypeError(
                f"sql_over_views literal {key}={value!r} must be an int "
                "or float"
            )
    names = {}
    for key, df in (frames or {}).items():
        name = f"_hha_fused_{key}"
        df.createOrReplaceTempView(name)
        names[key] = name
    return session.sql(template.format(**names, **literals))


def arrow_rows_frame(
    spark: SparkSession, rows, schema: str | StructType
) -> DataFrame:
    """Bounded driver-local rows (tuples or pyspark Rows, positional)
    as an Arrow-backed DataFrame with the given DDL or StructType
    `schema`.

    NOT NULL holds at construction: ``createDataFrame`` casts the
    table to the schema's Arrow form, whose non-nullable fields raise
    ValueError on a None (tests/test_local_frames.py pins this)."""
    import pyarrow as pa

    if isinstance(schema, StructType):
        st = schema
    else:
        st = _PARSED.get(schema)
        if st is None:
            st = StructType.fromDDL(schema)
            _PARSED[schema] = st
    tbl = pa.table(
        {
            f.name: pa.array(
                [r[i] for r in rows], _pa_type(f.dataType)
            )
            for i, f in enumerate(st.fields)
        }
    )
    return spark.createDataFrame(tbl, schema)
