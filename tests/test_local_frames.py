"""The two driver-local frame constructors behind the streaming
gates' fixed costs (round-11 optimization): pre-first-write store
reads must plan as a zero-task JVM LocalRelation, and gate-result
rollups must occupy ONE partition — not a defaultParallelism-wide
Python RDD whose every scan launches ~one zero-row Python worker
task per core (the measured epoch-0 pathology: 32-34-task stages
with ~17 s of executor wait and ~0.3 s of CPU per probe)."""

from __future__ import annotations

from hha_spark.queries.streaming_gate import _local_rows
from hha_spark.streaming.store import empty_frame, read_history, read_latest

_SCHEMA = "doc_id long, tokens array<string>, kind string"


def _executed(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_empty_frame_is_local_relation(spark):
    df = empty_frame(spark, _SCHEMA)
    plan = _executed(df)
    # zero-task JVM literal, not a parallelized Python RDD
    assert "LocalTableScan" in plan
    assert "ExistingRDD" not in plan
    assert df.columns == ["doc_id", "tokens", "kind"]
    assert [f.dataType.simpleString() for f in df.schema.fields] == [
        "bigint",
        "array<string>",
        "string",
    ]
    assert df.count() == 0


def test_pre_first_write_reads_are_local_relations(spark, tmp_path):
    root = str(tmp_path / "store")
    rv = read_latest(spark, root, _SCHEMA)
    kh = read_history(
        spark, root, "doc", _SCHEMA, ("doc_id", "tokens", "kind")
    )
    for df in (rv, kh):
        assert "LocalTableScan" in _executed(df)
        assert "ExistingRDD" not in _executed(df)
        assert df.count() == 0
    # an empty LocalRelation lets Catalyst prune the whole prev-state
    # branch out of an epoch-0 plan (PropagateEmptyRelation) — the
    # join below must optimize to an empty LocalTableScan, not plan a
    # real join over a 32-partition Python RDD
    probe = spark.range(5).selectExpr("id AS doc_id").join(
        rv.select("doc_id"), "doc_id"
    )
    assert "LocalTableScan" in _executed(probe)
    assert "Join" not in _executed(probe)


def test_sql_over_views_preserves_persist_cache(spark):
    """Fused SQL statements must reference frames through EXPLICIT
    temp views (sql_over_views), never spark.sql's {df} kwargs: the
    kwarg formatter's cleanup (dropTempView) UNCACHES the substituted
    frame, so a persisted frame referenced by a fused statement is
    both recomputed by that statement and evicted for every later
    consumer (measured round 12: funnel t_write ~6x)."""
    from hha_spark.functions.local import sql_over_views

    df = spark.range(100).selectExpr("id", "id * 2 AS y").persist()
    try:
        df.count()  # materialize the cache entry
        out = sql_over_views(
            spark, "SELECT sum(y) AS s FROM {d}", frames={"d": df}
        )
        plan = out._jdf.queryExecution().optimizedPlan().toString()
        assert "InMemoryRelation" in plan  # the statement reuses it
        assert out.collect()[0][0] == sum(2 * i for i in range(100))
        # ...and the entry survives the statement (the kwarg form
        # would have evicted it here)
        again = df.groupBy().sum("y")
        plan2 = again._jdf.queryExecution().optimizedPlan().toString()
        assert "InMemoryRelation" in plan2
    finally:
        df.unpersist()


def test_sql_over_views_rejects_non_numeric_literals(spark):
    """Literals are pasted into the SQL text, so only numbers pass:
    a string (or a bool, or None) fails fast at the helper instead of
    as a syntax error or an injected fragment inside the statement."""
    import pytest

    from hha_spark.functions.local import sql_over_views

    template = "SELECT {v} AS v"
    assert sql_over_views(spark, template, v=7).first()[0] == 7
    assert sql_over_views(spark, template, v=0.5).first()[0] == 0.5
    for bad in ("1 OR 1=1", True, None):
        with pytest.raises(TypeError, match="literal v="):
            sql_over_views(spark, template, v=bad)


def test_local_rows_arrow_localtablescan_roundtrip(spark):
    """Gate-result frames are Arrow-backed LocalTableScans: zero
    Python tasks on any downstream scan (round-12 follow-up to the
    round-11 1-partition fix), values and nulls round-tripping."""
    rows = [(1, "a"), (2, None), (3, "c")]
    df = _local_rows(spark, rows, "k long, v string")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" in plan
    assert "PythonRDD" not in plan and "ExistingRDD" not in plan
    got = sorted((r.k, r.v) for r in df.collect())
    assert got == sorted(rows)
    empty = _local_rows(spark, [], "k long, v string")
    assert empty.count() == 0
    assert empty.schema.simpleString() == df.schema.simpleString()


def test_arrow_rows_frame_enforces_not_null(spark):
    """A None in a column the schema declares NOT NULL raises at
    construction (createDataFrame's cast to the schema's Arrow form);
    nullable columns keep their NULLs. The alerts append goes through
    this frame with ALERTS_SCHEMA, the watchlist with ZONES_SCHEMA."""
    import pytest

    from hha_spark.functions.local import arrow_rows_frame
    from hha_spark.schemas import ALERTS_SCHEMA

    ok = arrow_rows_frame(spark, [(65, 11, None, 7, "ip", 5)], ALERTS_SCHEMA)
    assert ok.collect()[0].sum_val is None  # sum_val is nullable
    for i, name in enumerate(ALERTS_SCHEMA.fieldNames()):
        if name == "sum_val":
            continue
        row = [65, 11, 100, 7, "ip", 5]
        row[i] = None
        with pytest.raises(ValueError, match=repr(name)):
            arrow_rows_frame(spark, [tuple(row)], ALERTS_SCHEMA)
    with pytest.raises(ValueError, match="'k'"):
        arrow_rows_frame(spark, [(None,)], "k long NOT NULL")
