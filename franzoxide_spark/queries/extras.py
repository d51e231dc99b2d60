"""Extended surface queries (Q45-Q49): pivot/unpivot round trip, the
pandas-UDF scalar path, a Python UDTF, and exact percentiles — the
remaining API families from SURVEY.md §2.3's Tier C inventory.
(GROUPING SETS moved into relational.q11's merged grouping entry.)"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from franzoxide_spark.queries import register
from franzoxide_spark.tables import fanned_table, table

# --------------------------------------------------------------------------
# Q45 — pivot (long -> wide) then unpivot via stack() (wide -> long)
# --------------------------------------------------------------------------
# Round trip covering both reshaping operators in one registry entry (see
# the Q11 consolidation note in relational.py): pivot orders counts by
# status x priority with zero-fill, then stack the wide columns back to
# long form — the oracle reproduces the zero-filled status x priority
# grid directly.
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_PIVOT_ALIASES = ["p1_urgent", "p2_high", "p3_medium", "p4_not_specified", "p5_low"]


def q45(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    piv = (
        o.groupBy("o_orderstatus")
        .pivot("o_orderpriority", _PRIORITIES)
        .count()
        .na.fill(0)
    ).toDF("o_orderstatus", *_PIVOT_ALIASES)
    stack_arms = ", ".join(f"'{a}', {a}" for a in _PIVOT_ALIASES)
    return piv.selectExpr(
        "o_orderstatus",
        f"stack({len(_PIVOT_ALIASES)}, {stack_arms}) AS (priority, n)",
    )


_PRIO_LIST = ", ".join(f"'{p}'" for p in _PRIORITIES)
_ALIAS_LIST = ", ".join(f"'{a}'" for a in _PIVOT_ALIASES)
Q45_SQL = f"""
WITH s AS (SELECT DISTINCT o_orderstatus FROM orders),
     p AS (SELECT unnest([{_ALIAS_LIST}]) AS priority,
                  unnest([{_PRIO_LIST}]) AS prio_val),
     c AS (SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n
           FROM orders GROUP BY 1, 2)
SELECT s.o_orderstatus, p.priority, CAST(COALESCE(c.n, 0) AS BIGINT) AS n
FROM s CROSS JOIN p
LEFT JOIN c ON c.o_orderstatus = s.o_orderstatus AND c.o_orderpriority = p.prio_val
"""


# --------------------------------------------------------------------------
# Q47 — vectorized pandas UDF (Arrow scalar path)
# --------------------------------------------------------------------------
def q47(spark: SparkSession, sf_dir: str) -> DataFrame:
    # defined in-function: pandas_udf resolves types against the active
    # session, so the decorator cannot run at import time
    @F.pandas_udf("double")
    def log_score(v: pd.Series) -> pd.Series:
        import numpy as np

        return np.log1p(v.clip(lower=0.0)) * 2.0

    ev = table(spark, sf_dir, "events")
    return (
        ev.withColumn("score", log_score(F.col("value")))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("score") / F.count("score"), 6).alias("avg_score"),
        )
    )


Q47_SQL = """
SELECT event_type, COUNT(*) AS n,
       ROUND(SUM(2.0 * ln(1.0 + GREATEST(value, 0.0)))
             / COUNT(*), 6) AS avg_score
FROM events GROUP BY event_type
"""


# --------------------------------------------------------------------------
# Q48 — Python UDTF (table function: text -> shingle rows)
# --------------------------------------------------------------------------
def q48(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.functions import lit, udtf

    @udtf(returnType="doc_id bigint, shingle string")
    class ShingleUDTF:
        def eval(self, doc_id: int, text: str):
            toks = text.split(" ")
            seen = set()
            for i in range(max(len(toks) - 2, 0)):
                s = " ".join(toks[i : i + 3])
                if s not in seen:
                    seen.add(s)
                    yield (doc_id, s)

    spark.udtf.register("shingle_udtf", ShingleUDTF)
    fanned_table(spark, sf_dir, "documents").createOrReplaceTempView("v_documents")
    return spark.sql(
        """
        SELECT s.doc_id, COUNT(*) AS n_shingles,
               MIN(s.shingle) AS first_shingle
        FROM v_documents d, LATERAL shingle_udtf(d.doc_id, d.text) s
        GROUP BY s.doc_id
        """
    )


Q48_SQL = """
WITH sh AS (
  SELECT doc_id,
         unnest(list_distinct(list_transform(
           range(1, greatest(len(string_split(text, ' ')) - 1, 1)),
           i -> array_to_string((string_split(text, ' '))[i:i+2], ' ')))) AS shingle
  FROM documents
)
SELECT doc_id, COUNT(*) AS n_shingles, MIN(shingle) AS first_shingle
FROM sh GROUP BY doc_id
"""

# --------------------------------------------------------------------------
# Q49 — exact percentiles (interpolated), grouped
# --------------------------------------------------------------------------
def grouped_percentiles(
    df: DataFrame,
    value_col: str,
    group_col: str,
    qs: tuple[float, ...] = (0.25, 0.5, 0.75),
    exact: bool = True,
    accuracy: int = 10000,
) -> DataFrame:
    """Grouped percentiles with an exact/approx switch.

    Exact ``percentile`` buffers every group value in one aggregation
    buffer — required by the cross-engine oracle contract (hash-exact
    interpolated values), but a single hot group with billions of rows
    would blow the executor at 100 TB. The scale-safe twin is
    ``approx_percentile`` (Greenwald-Khanna: bounded sketch memory, rank
    error <= n/accuracy, merges map-side like any partial agg), same plan
    shape — switching is a flag, not a rewrite. Exact stays the oracle
    path; approx is the 100 TB path (the q30-exact / q37-approx pattern).
    """
    fn = "percentile" if exact else "approx_percentile"
    acc = "" if exact else f", {accuracy}"
    return df.groupBy(group_col).agg(
        F.count(F.lit(1)).alias("n"),
        *[
            F.round(F.expr(f"{fn}({value_col}, {q}{acc})"), 6).alias(
                f"p{int(q * 100)}"
            )
            for q in qs
        ],
    )


def q49(spark: SparkSession, sf_dir: str, exact: bool = True) -> DataFrame:
    return grouped_percentiles(
        table(spark, sf_dir, "orders"), "o_totalprice", "o_orderstatus",
        exact=exact,
    )


Q49_SQL = """
SELECT o_orderstatus, COUNT(*) AS n,
       ROUND(quantile_cont(o_totalprice, 0.25), 6) AS p25,
       ROUND(quantile_cont(o_totalprice, 0.5), 6) AS p50,
       ROUND(quantile_cont(o_totalprice, 0.75), 6) AS p75
FROM orders GROUP BY o_orderstatus
"""

register("q45_pivot_unpivot", q45, Q45_SQL)
register("q47_pandas_udf_score", q47, Q47_SQL)
register("q48_python_udtf_shingles", q48, Q48_SQL)
register("q49_exact_percentiles", q49, Q49_SQL)


# --------------------------------------------------------------------------
# Q139 — PageRank over the supplier↔customer co-transaction graph
#        (operators/graph.py): nodes are suppliers (key*2) and customers
#        (key*2+1), an undirected edge per distinct (supplier, customer)
#        pair that shares a lineitem. 3 power iterations, d=0.85; the
#        oracle unrolls the identical recurrence in SQL. Final ranks
#        rounded to 9dp (values ~1/N; FP summation wobble is ~1e-15).
# --------------------------------------------------------------------------
_Q139_EDGE_CTE = """
SELECT DISTINCT l_suppkey * 2 AS src, o_custkey * 2 + 1 AS dst
FROM lineitem JOIN orders ON o_orderkey = l_orderkey
UNION
SELECT DISTINCT o_custkey * 2 + 1 AS src, l_suppkey * 2 AS dst
FROM lineitem JOIN orders ON o_orderkey = l_orderkey
"""


def q139(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from franzoxide_spark.operators.graph import pagerank

    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    pairs = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .select(
            (F.col("l_suppkey") * 2).alias("s"),
            (F.col("o_custkey") * 2 + 1).alias("c"),
        )
        .distinct()
        # three consumers below (two degree aggs + the attach join) —
        # without this checkpoint the fact-fact join + distinct would
        # execute once per consumer. Lazy: the first degree broadcast
        # materializes it in its own job (r17 — the former EAGER
        # checkpoint here plus pagerank()'s internal checkpoint of the
        # doubled edge list materialized nearly the same data twice)
        .localCheckpoint(eager=False)
    )
    # Bipartite degree attach: per-side degree tables are key-cardinality
    # sized (suppliers / customers), so they re-enter broadcast and the
    # doubled edge list is built map-side with `deg` already on it —
    # pagerank() then skips its generic degree groupBy over 2x|pairs|
    # rows (the edge build dominates its wall-clock; see operators/graph).
    deg_s = pairs.groupBy("s").agg(F.count(F.lit(1)).alias("__ds"))
    deg_c = pairs.groupBy("c").agg(F.count(F.lit(1)).alias("__dc"))
    # ONE materialization point for the whole edge build (r17): the
    # degree-attached pair list is the checkpoint, and the doubled
    # directions are two cheap projections of it — pagerank() is told
    # via pre_materialized=True not to checkpoint the 2x-width union
    # again. Isolated min-of-6: 1.97 -> 1.66 s, result-identical.
    attached = (
        pairs.join(F.broadcast(deg_s), "s")
        .join(F.broadcast(deg_c), "c")
        .localCheckpoint(eager=False)
    )
    # Node count folded into the SAME job that materializes the edge
    # checkpoint (r18, VERDICT #4): the graph's nodes are distinct s ∪
    # distinct c, and the two sets are disjoint by parity (s = 2·suppkey
    # even, c = 2·custkey+1 odd), so countDistinct(s) + countDistinct(c)
    # IS the node count — pagerank() no longer runs its own
    # distinct-dst count over the 2x-width doubled edge list as a
    # separate scheduling round.
    counts = attached.agg(
        F.countDistinct("s").alias("__ns"),
        F.countDistinct("c").alias("__nc"),
    ).collect()[0]
    n_nodes = int(counts["__ns"]) + int(counts["__nc"])
    edges = attached.select(
        F.col("s").alias("src"),
        F.col("c").alias("dst"),
        F.col("__ds").alias("deg"),
    ).union(
        attached.select(
            F.col("c").alias("src"),
            F.col("s").alias("dst"),
            F.col("__dc").alias("deg"),
        )
    )
    ranks = pagerank(
        edges, iters=3, damping=0.85, symmetric=True,
        pre_materialized=True, n_nodes=n_nodes,
    ).select("node", F.round("rank", 9).alias("rank"))
    w = Window.orderBy(F.desc("rank"), F.asc("node"))
    return (
        ranks.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 20)
        .select(
            F.when(F.col("node") % 2 == 0, F.lit("supplier"))
            .otherwise(F.lit("customer"))
            .alias("node_type"),
            F.floor(F.col("node") / 2).cast("bigint").alias("node_key"),
            F.col("rk").cast("int").alias("rk"),
            "rank",
        )
    )


def _q139_sql() -> str:
    from franzoxide_spark.operators.graph import sql_pagerank_unrolled

    prefix = sql_pagerank_unrolled(_Q139_EDGE_CTE, iters=3, damping=0.85)
    return f"""
{prefix},
final AS (SELECT node, ROUND(rank, 9) AS rank FROM r3),
topk AS (
  SELECT node, rank,
         ROW_NUMBER() OVER (ORDER BY rank DESC, node ASC) AS rk
  FROM final
)
SELECT CASE WHEN node % 2 = 0 THEN 'supplier' ELSE 'customer' END AS node_type,
       CAST(node // 2 AS BIGINT) AS node_key,
       CAST(rk AS INT) AS rk,
       rank
FROM topk WHERE rk <= 20
"""


register("q139_pagerank_topk", q139, _q139_sql())
