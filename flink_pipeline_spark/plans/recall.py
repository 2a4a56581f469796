"""The recall rollups every search and dedup audit shares — one Spark
function and one DuckDB text builder per shape, so a fix to the
rollup is made once.

``recall_rollup`` (Spark) and ``rollup_sql`` (its DuckDB twin) score
a set of named method result lists against one truth list. Output
contract, one row per grid method:

* columns ``(method, n_truth, n_method, hits, recall)``, plus
  ``prec`` when ``prec=True``;
* the grid is ``'exact'`` followed by the methods in argument order,
  and every grid method gets its row even when its frame is empty:
  ``n_method = 0``, ``hits = 0``, ``recall = 0.0``, ``prec = 0.0``;
* ``'exact'`` is the truth scored against itself — the recall = 1
  control row;
* ``hits`` counts method rows found in truth, so a duplicated method
  row counts twice in both ``n_method`` and ``hits``;
* ``n_truth`` is the truth's row count (a 1-row broadcast).

The method union lists the methods in argument order and the exact
arm last. ``keys`` names the two columns that identify a result row
(``(query_id, neighbor_id)`` for vector search, ``(qdoc, cdoc)`` for
MaxSim).

``q_dedup_unindex_recall`` (plans/unindex.py) keeps its own tail: its
``n_dropped_served`` is a second aggregate in the same groupBy, over
an extra join to the drop set.

``pair_audit`` is the dedup audits' per-method shape: one method's
pair list against the pair truth, as one row with precision. It stays
separate from ``recall_rollup`` because its plan (one aggregate per
method, unioned by the caller) differs. ``q_dedup_embed_recall_sampled``
(plans/llm_ops.py) keeps its own per-method tail: its recall is
guarded against an empty sampled truth and it carries ``n_anchors``.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..caching import literal_frame
from ..functions.portable import round_agg, round_sql

KEYS = ("query_id", "neighbor_id")


def _prec(n_method: Column) -> Column:
    return F.when(n_method == 0, F.lit(0.0)).otherwise(
        round_agg(F.col("hits").cast("double") / F.col("n_method"))
    )


def recall_rollup(
    spark: SparkSession,
    truth: DataFrame,
    methods: dict[str, DataFrame],
    keys: tuple[str, str] = KEYS,
    prec: bool = False,
) -> DataFrame:
    """(method, n_truth, n_method, hits, recall[, prec]) — see the
    module docstring. Every frame must carry the ``keys`` columns."""
    m = reduce(
        DataFrame.unionByName,
        [
            df.withColumn("method", F.lit(name))
            for name, df in [*methods.items(), ("exact", truth)]
        ],
    )
    counts = (
        m.join(truth.withColumn("is_hit", F.lit(1)), list(keys), "left")
        .groupBy("method")
        .agg(
            F.count("*").cast("long").alias("n_method"),
            F.sum(F.coalesce(F.col("is_hit"), F.lit(0)))
            .cast("long")
            .alias("hits"),
        )
    )
    grid = literal_frame(
        spark, [(n,) for n in ["exact", *methods]], "method STRING"
    )
    tt = truth.agg(F.count("*").cast("long").alias("n_truth"))
    n_method = F.coalesce(F.col("n_method"), F.lit(0))
    cols = [
        "method",
        "n_truth",
        n_method.cast("long").alias("n_method"),
        F.coalesce(F.col("hits"), F.lit(0)).cast("long").alias("hits"),
        round_agg(
            F.coalesce(F.col("hits"), F.lit(0)).cast("double")
            / F.col("n_truth")
        ).alias("recall"),
    ]
    if prec:
        cols.append(_prec(n_method).alias("prec"))
    return (
        grid.join(counts, "method", "left")
        .crossJoin(F.broadcast(tt))
        .select(*cols)
    )


def rollup_sql(
    methods: dict[str, str],
    keys: tuple[str, str] = KEYS,
    prec: bool = False,
) -> str:
    """The DuckDB twin of recall_rollup: the m/counts/grid/tt CTEs and
    the final SELECT, to follow ``WITH ..., `` in a text that defines a
    ``truth`` CTE. ``methods`` maps each method name to the CTE its
    rows are read from."""
    a, b = keys
    m = "\n        UNION ALL\n        ".join(
        f"SELECT '{name}'{' AS method' if i == 0 else ''}, {a}, {b} "
        f"FROM {cte}"
        for i, (name, cte) in enumerate(
            [*methods.items(), ("exact", "truth")]
        )
    )
    grid = ", ".join(f"'{n}'" for n in ["exact", *methods])
    prec_sql = (
        f""",
           CASE WHEN coalesce(c.n_method, 0) = 0 THEN 0.0
                ELSE {round_sql('c.hits::DOUBLE / c.n_method')} END AS prec"""
        if prec
        else ""
    )
    return f"""m AS (
        {m}
    ), counts AS (
        SELECT m.method,
               CAST(count(*) AS BIGINT) AS n_method,
               CAST(sum(CASE WHEN t.{b} IS NOT NULL
                             THEN 1 ELSE 0 END) AS BIGINT) AS hits
        FROM m LEFT JOIN truth t
          ON t.{a} = m.{a} AND t.{b} = m.{b}
        GROUP BY m.method
    ), grid AS (
        SELECT unnest([{grid}]) AS method
    ), tt AS (SELECT CAST(count(*) AS BIGINT) AS n_truth FROM truth)
    SELECT g.method, tt.n_truth,
           CAST(coalesce(c.n_method, 0) AS BIGINT) AS n_method,
           CAST(coalesce(c.hits, 0) AS BIGINT) AS hits,
           {round_sql('coalesce(c.hits, 0)::DOUBLE / tt.n_truth')} AS recall{prec_sql}
    FROM grid g LEFT JOIN counts c ON c.method = g.method
    CROSS JOIN tt"""


def pair_audit(
    method: DataFrame,
    truth: DataFrame,
    denom: DataFrame,
    keys: tuple[str, str],
    name: str,
) -> DataFrame:
    """One (method, n_truth, n_method, hits, recall, prec) row: the
    ``keys`` pairs of ``method`` left-joined to ``truth``, against the
    1-row ``denom`` (n_truth). No broadcast hint on the truth join:
    the truth pair set is data-dependent in size, and AQE broadcasts
    it only when it measures small."""
    h = (
        method.select(*keys)
        .join(truth.withColumn("hit", F.lit(1)), list(keys), "left")
        .agg(
            F.count("*").cast("long").alias("n_method"),
            F.coalesce(F.sum("hit"), F.lit(0)).cast("long").alias("hits"),
        )
    )
    return h.crossJoin(F.broadcast(denom)).select(
        F.lit(name).alias("method"),
        F.col("n_truth"),
        "n_method",
        "hits",
        round_agg(F.col("hits").cast("double") / F.col("n_truth")).alias(
            "recall"
        ),
        _prec(F.col("n_method")).alias("prec"),
    )
