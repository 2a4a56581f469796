"""The shared recall rollup (plans/recall.py) on tiny literal frames:
Spark and DuckDB give the same rows, and the edge rows read as the
module docstring promises — a method that returned nothing still has
its grid row, a duplicated method row counts twice, and 'exact' is
the recall = 1 control."""

from __future__ import annotations

import duckdb

from flink_pipeline_spark.plans.recall import recall_rollup, rollup_sql

from .parity import rows_from_duckdb, rows_from_spark

TRUTH = [(1, 10), (1, 11), (2, 20), (2, 21)]
DUP = [(1, 10), (1, 10), (2, 99)]  # one hit, duplicated; one miss
SCHEMA = "query_id BIGINT, neighbor_id BIGINT"


def _values(rows):
    return ", ".join(f"({q}, {n})" for q, n in rows)


def test_recall_rollup_edge_rows_match_duckdb(spark):
    got = recall_rollup(
        spark,
        spark.createDataFrame(TRUTH, SCHEMA),
        {
            "dup": spark.createDataFrame(DUP, SCHEMA),
            "empty": spark.createDataFrame([], SCHEMA),
        },
        prec=True,
    )
    sql = f"""
    WITH truth AS (
        SELECT * FROM (VALUES {_values(TRUTH)}) t(query_id, neighbor_id)
    ), dup AS (
        SELECT * FROM (VALUES {_values(DUP)}) t(query_id, neighbor_id)
    ), empty AS (
        SELECT * FROM truth WHERE false
    ), {rollup_sql({'dup': 'dup', 'empty': 'empty'}, prec=True)}
    """
    s_cols, s_rows = rows_from_spark(got)
    d_cols, d_rows = rows_from_duckdb(duckdb.connect(), sql)
    assert s_cols == d_cols
    assert sorted(s_rows) == sorted(d_rows)

    rows = {r.method: r.asDict() for r in got.collect()}
    assert set(rows) == {"exact", "dup", "empty"}
    assert rows["exact"] == dict(
        method="exact", n_truth=4, n_method=4, hits=4, recall=1.0, prec=1.0
    )
    assert rows["dup"] == dict(
        method="dup", n_truth=4, n_method=3, hits=2, recall=0.5, prec=0.6667
    )
    assert rows["empty"] == dict(
        method="empty", n_truth=4, n_method=0, hits=0, recall=0.0, prec=0.0
    )
