"""Driver-checkable queries over the native DQ framework
(:mod:`.quality`), exercising the reference's verification semantics
(jobs/ev_sessions_silver_etl_clean.py:132-208) on the TPC-H fixtures.

Metrics are exposed as INTEGER counts (not fractions) so the DuckDB
oracle comparison is bit-exact — a fraction would ride on float
division order. The aggregation shape is the one
``VerificationSuite.run`` compiles: every scan-level metric folds into
ONE pass (single scan at 100 TB), uniqueness adds one combiner-reduced
groupBy pass — which ``run`` lets carry the scan-level metrics too.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.localframe import local_df
from ..sources.scratch import scratch_dir
from .quality import RowRule, annotate_rows

ORACLE: dict[str, str] = {}


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    from ..sources.readers import read_fixture

    return read_fixture(spark, sf_dir, name)


# ---------------------------------------------------------------------------
# Dataset-level verification metrics in ONE aggregation pass
# (reference A3-A5, A7: Deequ completeness / non-negativity /
# containment compiled to a single scan). Deequ null semantics:
# nulls FAIL completeness, PASS compliance/containment.
# ---------------------------------------------------------------------------
def q_dq_verification(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    status_ok = F.col("o_orderstatus").isNull() | F.col("o_orderstatus").isin(
        "O", "F", "P"
    )
    nonneg = F.coalesce(F.col("o_totalprice"), F.lit(0.0)) >= 0
    agg = o.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("o_custkey").isNull().cast("long")).alias("n_null_custkey"),
        F.sum((~nonneg).cast("long")).alias("n_negative_totalprice"),
        F.sum((~status_ok).cast("long")).alias("n_bad_status"),
    )
    return agg.select(
        "*",
        (
            (F.col("n_null_custkey") == 0)
            & (F.col("n_negative_totalprice") == 0)
            & (F.col("n_bad_status") == 0)
        ).alias("passed"),
    )


ORACLE["dq_verification"] = """
WITH m AS (
  SELECT COUNT(*) AS n_rows,
         CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS n_null_custkey,
         CAST(SUM(CASE WHEN NOT (COALESCE(o_totalprice, 0) >= 0) THEN 1 ELSE 0 END)
           AS BIGINT) AS n_negative_totalprice,
         CAST(SUM(CASE WHEN NOT (o_orderstatus IS NULL OR o_orderstatus IN ('O','F','P'))
                  THEN 1 ELSE 0 END) AS BIGINT) AS n_bad_status
  FROM orders
)
SELECT n_rows, n_null_custkey, n_negative_totalprice, n_bad_status,
       (n_null_custkey = 0 AND n_negative_totalprice = 0 AND n_bad_status = 0)
         AS passed
FROM m
"""


# ---------------------------------------------------------------------------
# Uniqueness analyzer (reference A6: Deequ isUnique = values occurring
# exactly once / total rows) — the one constraint that needs its own
# grouping pass. Exposed as exact counts.
# ---------------------------------------------------------------------------
def q_dq_uniqueness(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    per_value = o.groupBy("o_orderkey").agg(F.count(F.lit(1)).alias("cnt"))
    return per_value.agg(
        F.sum(F.when(F.col("cnt") == 1, 1).otherwise(0)).alias("n_unique_values"),
        F.sum("cnt").alias("n_rows"),
    ).select(
        "*", (F.col("n_unique_values") == F.col("n_rows")).alias("is_unique")
    )


ORACLE["dq_uniqueness"] = """
WITH g AS (SELECT o_orderkey, COUNT(*) AS cnt FROM orders GROUP BY o_orderkey)
SELECT CAST(SUM(CASE WHEN cnt = 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_unique_values,
       CAST(SUM(cnt) AS BIGINT) AS n_rows,
       SUM(CASE WHEN cnt = 1 THEN 1 ELSE 0 END) = SUM(cnt) AS is_unique
FROM g
"""


# ---------------------------------------------------------------------------
# Row-level rule annotation -> per-reason violation counts (reference
# row-rule quarantine, :170-208). annotate_rows builds the nullable
# slot array + higher-order filter in one codegen projection; the
# explode/groupBy here is the reporting summary a DQ dashboard reads.
# ---------------------------------------------------------------------------
LINEITEM_RULES = [
    ("high_qty", "l_quantity > 45"),
    ("deep_discount", "l_discount >= 0.08"),
    ("returned", "l_returnflag = 'R'"),
]


def q_dq_reason_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    rules = [RowRule(name, F.expr(cond)) for name, cond in LINEITEM_RULES]
    annotated = annotate_rows(li, rules)
    return (
        annotated.select(F.explode("quarantine_reason").alias("reason"))
        .groupBy("reason")
        .agg(F.count(F.lit(1)).alias("n_rows"))
        .orderBy("reason")
    )


_CASES = ", ".join(
    f"CASE WHEN {cond} THEN '{name}' END" for name, cond in LINEITEM_RULES
)
ORACLE["dq_reason_counts"] = f"""
SELECT reason, COUNT(*) AS n_rows FROM (
  SELECT unnest(list_filter([{_CASES}], x -> x IS NOT NULL)) AS reason
  FROM lineitem
) GROUP BY reason ORDER BY reason
"""


# ---------------------------------------------------------------------------
# Column profiler (the Deequ ColumnProfilerRunner analog): one row of
# statistics PER PROFILED COLUMN — completeness, distinct count,
# min/max, exact-decimal mean for numerics — computed in ONE
# aggregation scan plus one combiner-reduced distinct pass per
# column. The unpivoted one-row-per-column layout is what a DQ
# dashboard or schema-drift monitor consumes.
# ---------------------------------------------------------------------------
def q_dq_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.oracle import davg

    li = _t(spark, sf_dir, "lineitem")
    stats = li.agg(
        F.count(F.lit(1)).alias("n_rows"),
        # l_quantity
        F.sum(F.col("l_quantity").isNull().cast("long")).alias("q_nulls"),
        F.min("l_quantity").alias("q_min"),
        F.max("l_quantity").alias("q_max"),
        davg("l_quantity").alias("q_mean"),
        # l_extendedprice
        F.sum(F.col("l_extendedprice").isNull().cast("long")).alias("p_nulls"),
        F.min("l_extendedprice").alias("p_min"),
        F.max("l_extendedprice").alias("p_max"),
        davg("l_extendedprice").alias("p_mean"),
        # l_returnflag (categorical: no mean, min/max lexicographic)
        F.sum(F.col("l_returnflag").isNull().cast("long")).alias("r_nulls"),
    )
    distincts = li.agg(
        F.countDistinct("l_quantity").alias("q_distinct"),
        F.countDistinct("l_extendedprice").alias("p_distinct"),
        F.countDistinct("l_returnflag").alias("r_distinct"),
    )
    s = stats.crossJoin(F.broadcast(distincts))
    rows = [
        s.select(
            F.lit("l_quantity").alias("column"),
            "n_rows",
            F.col("q_nulls").alias("n_nulls"),
            F.col("q_distinct").alias("n_distinct"),
            F.col("q_min").cast("double").alias("min_val"),
            F.col("q_max").cast("double").alias("max_val"),
            F.col("q_mean").alias("mean_val"),
        ),
        s.select(
            F.lit("l_extendedprice").alias("column"),
            "n_rows",
            F.col("p_nulls").alias("n_nulls"),
            F.col("p_distinct").alias("n_distinct"),
            F.col("p_min").cast("double").alias("min_val"),
            F.col("p_max").cast("double").alias("max_val"),
            F.col("p_mean").alias("mean_val"),
        ),
        s.select(
            F.lit("l_returnflag").alias("column"),
            "n_rows",
            F.col("r_nulls").alias("n_nulls"),
            F.col("r_distinct").alias("n_distinct"),
            F.lit(None).cast("double").alias("min_val"),
            F.lit(None).cast("double").alias("max_val"),
            F.lit(None).cast("double").alias("mean_val"),
        ),
    ]
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out.orderBy("column")


def _profile_oracle() -> str:
    from ..functions.oracle import davg_sql

    return f"""
WITH stats AS (
  SELECT COUNT(*) AS n_rows,
         CAST(SUM(CASE WHEN l_quantity IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS q_nulls,
         COUNT(DISTINCT l_quantity) AS q_distinct,
         CAST(MIN(l_quantity) AS DOUBLE) AS q_min,
         CAST(MAX(l_quantity) AS DOUBLE) AS q_max,
         {davg_sql('l_quantity')} AS q_mean,
         CAST(SUM(CASE WHEN l_extendedprice IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS p_nulls,
         COUNT(DISTINCT l_extendedprice) AS p_distinct,
         CAST(MIN(l_extendedprice) AS DOUBLE) AS p_min,
         CAST(MAX(l_extendedprice) AS DOUBLE) AS p_max,
         {davg_sql('l_extendedprice')} AS p_mean,
         CAST(SUM(CASE WHEN l_returnflag IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS r_nulls,
         COUNT(DISTINCT l_returnflag) AS r_distinct
  FROM lineitem
)
SELECT 'l_extendedprice' AS "column", n_rows, p_nulls AS n_nulls,
       p_distinct AS n_distinct, p_min AS min_val, p_max AS max_val,
       p_mean AS mean_val
FROM stats
UNION ALL
SELECT 'l_quantity', n_rows, q_nulls, q_distinct, q_min, q_max, q_mean
FROM stats
UNION ALL
SELECT 'l_returnflag', n_rows, r_nulls, r_distinct, NULL, NULL, NULL
FROM stats
ORDER BY "column"
"""


ORACLE["dq_profile"] = _profile_oracle()


# ---------------------------------------------------------------------------
# Metrics repository over snapshot-table versions + anomaly detection
# — Deequ's MetricsRepository/anomaly-check feature re-expressed on
# the in-engine table format: quality metrics computed per COMMITTED
# VERSION (time travel makes history queryable), drift between
# consecutive versions flagged against a relative threshold. This is
# the production shape of "did today's load look like yesterday's":
# metric history rides the manifest log, no side database.
# ---------------------------------------------------------------------------
DRIFT_THRESHOLD = 0.05  # |relative change| above this flags an anomaly


def snapshot_metric_history(
    spark: SparkSession, table: str, metrics: dict[str, str]
) -> list[dict]:
    """Per-version metric values for a snapshot table: ``metrics``
    maps name -> aggregate SQL expression; each committed version is
    time-traveled and measured with ONE agg pass (bounded driver
    rows: versions x metrics)."""
    from ..sources import snaptable as st

    out = []
    for h in st.history(table):
        v = h["version"]
        row = (
            st.read_snapshot(spark, table, version=v)
            .agg(*[F.expr(expr).alias(name) for name, expr in metrics.items()])
            .collect()[0]
        )
        out.append({"version": v, **{m: row[m] for m in metrics}})
    return out


def q_snapshot_metric_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three-version orders table (create -> DELETE high tail ->
    small append), with row-count and decimal-exact total-price
    metrics per version and drift flags vs the previous version. The
    oracle replays each version's visible rows in SQL, so the
    version/metric/drift pipeline is hash-checked end-to-end."""
    from ..sources import snaptable as st
    from ..sources.readers import read_fixture

    orders = read_fixture(spark, sf_dir, "orders")
    with scratch_dir("snap_drift") as table:
        st.create_table(orders, table, [])
        st.delete_where(spark, table, [("o_totalprice", ">", 300000.0)])
        st.append(orders.filter(F.col("o_custkey") % 500 == 1), table)
        hist = snapshot_metric_history(
            spark,
            table,
            {
                "n_rows": "CAST(COUNT(*) AS BIGINT)",
                "total_price": (
                    "CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(25,10))) AS STRING)"
                    " AS DOUBLE)"
                ),
            },
        )
    rows = []
    prev = None
    for h in hist:
        if prev is None:
            drift = False
        elif prev["n_rows"] == 0:
            # empty predecessor: any growth is infinite relative
            # drift; empty-to-empty is no drift
            drift = h["n_rows"] > 0
        else:
            rel = abs(h["n_rows"] - prev["n_rows"]) / prev["n_rows"]
            drift = rel > DRIFT_THRESHOLD
        total = None if h["total_price"] is None else float(h["total_price"])
        rows.append((h["version"], h["n_rows"], total, drift))
        prev = h
    return local_df(spark, 
        rows,
        "version int, n_rows bigint, total_price double, size_anomaly boolean",
    ).orderBy("version")


def _drift_oracle() -> str:
    from ..functions.oracle import dsum_sql

    return f"""
WITH v1 AS (SELECT * FROM orders),
v2 AS (SELECT * FROM orders WHERE NOT (o_totalprice > 300000.0)),
v3 AS (
  SELECT * FROM v2
  UNION ALL
  SELECT * FROM orders WHERE o_custkey % 500 = 1
),
m AS (
  SELECT 1 AS version, COUNT(*) AS n_rows,
         {dsum_sql('o_totalprice')} AS total_price FROM v1
  UNION ALL
  SELECT 2, COUNT(*), {dsum_sql('o_totalprice')} FROM v2
  UNION ALL
  SELECT 3, COUNT(*), {dsum_sql('o_totalprice')} FROM v3
)
SELECT version, n_rows, total_price,
       COALESCE(
         ABS(n_rows - LAG(n_rows) OVER (ORDER BY version))
           / CAST(LAG(n_rows) OVER (ORDER BY version) AS DOUBLE)
           > {DRIFT_THRESHOLD},
         FALSE) AS size_anomaly
FROM m
ORDER BY version
"""


ORACLE["snapshot_metric_drift"] = _drift_oracle()


# ---------------------------------------------------------------------------
# Categorical concentration profiling: Gini impurity per column.
# Deequ-style profilers report entropy/distinctness per column; the
# Shannon form needs ln() (libm parity hazard, see text.py BM25 note),
# so the surfaced concentration measure is GINI IMPURITY
# 1 - sum(p_v^2) — same ordering of "how concentrated is this
# column", pure +,*,/ arithmetic, exactly oracle-matchable. One
# grouped count per column (map-side combinable over low-cardinality
# keys), then a bounded second aggregate; the stacked form profiles
# any number of categorical columns in a single scan.
# ---------------------------------------------------------------------------
GINI_COLS = ["l_returnflag", "l_linestatus"]


def q_gini_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    stack = ", ".join(f"'{c}', {c}" for c in GINI_COLS)
    pairs = li.select(
        F.expr(
            f"stack({len(GINI_COLS)}, {stack}) AS (column_name, value)"
        )
    )
    counts = pairs.groupBy("column_name", "value").agg(
        F.count(F.lit(1)).alias("c")
    )
    totals = counts.groupBy("column_name").agg(
        F.sum("c").alias("n"), F.count(F.lit(1)).alias("n_values")
    )
    from ..functions.oracle import dsum as _dsum

    return (
        counts.join(F.broadcast(totals), "column_name")
        .select(
            "column_name",
            "n_values",
            (
                (F.col("c").cast("double") / F.col("n").cast("double"))
                * (F.col("c").cast("double") / F.col("n").cast("double"))
            ).alias("p2"),
        )
        .groupBy("column_name", "n_values")
        .agg(_dsum("p2").alias("sum_p2"))
        .select(
            "column_name",
            "n_values",
            (1.0 - F.col("sum_p2")).alias("gini_impurity"),
        )
        .orderBy("column_name")
    )


def _gini_oracle() -> str:
    from ..functions.oracle import dsum_sql as _dsum_sql

    unions = " UNION ALL ".join(
        f"SELECT '{c}' AS column_name, CAST({c} AS VARCHAR) AS value "
        "FROM lineitem"
        for c in GINI_COLS
    )
    return f"""
WITH pairs AS ({unions}),
counts AS (
  SELECT column_name, value, COUNT(*) AS c
  FROM pairs GROUP BY column_name, value
),
totals AS (
  SELECT column_name, SUM(c) AS n, COUNT(*) AS n_values
  FROM counts GROUP BY column_name
),
p AS (
  SELECT counts.column_name, totals.n_values,
         (CAST(c AS DOUBLE) / CAST(n AS DOUBLE))
           * (CAST(c AS DOUBLE) / CAST(n AS DOUBLE)) AS p2
  FROM counts JOIN totals ON totals.column_name = counts.column_name
)
SELECT column_name, CAST(n_values AS BIGINT) AS n_values,
       1.0 - {_dsum_sql("p2")} AS gini_impurity
FROM p
GROUP BY column_name, n_values
ORDER BY column_name
"""


ORACLE["gini_profile"] = _gini_oracle()


# ---------------------------------------------------------------------------
# k-anonymity audit — the governance twin of the PII masking pass:
# for a quasi-identifier tuple (nation, market segment), how many
# customers share each combination, and which combinations fall
# below the k threshold (re-identifiable: an attacker who knows a
# person's QI tuple narrows them to < K candidates). Reports the
# per-cell sizes plus the table-level verdict columns every privacy
# review asks for: number of violating cells and the share of rows
# at risk.
#
# Scale: one map-side-combinable groupBy on the (bounded) QI tuple;
# the verdict columns are window aggregates over the tiny cell
# frame, never the customer table.
# ---------------------------------------------------------------------------
K_ANON = 5


def q_k_anonymity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    cells = (
        cust.join(
            F.broadcast(nation),
            cust["c_nationkey"] == nation["n_nationkey"],
        )
        .groupBy(
            F.col("n_name").alias("nation"),
            F.col("c_mktsegment").alias("mktsegment"),
        )
        .agg(F.count(F.lit(1)).alias("cell_size"))
    )
    wall = W.partitionBy()
    at_risk = F.sum(
        F.when(F.col("cell_size") < K_ANON, F.col("cell_size")).otherwise(0)
    ).over(wall)
    return (
        cells.select(
            "nation",
            "mktsegment",
            "cell_size",
            (F.col("cell_size") < K_ANON).alias("violates_k"),
            F.sum(F.when(F.col("cell_size") < K_ANON, 1).otherwise(0))
            .over(wall)
            .alias("violating_cells"),
            (
                at_risk.cast("double")
                / F.sum("cell_size").over(wall).cast("double")
            ).alias("rows_at_risk_share"),
        )
        .orderBy("nation", "mktsegment")
    )


ORACLE["k_anonymity_audit"] = f"""
WITH cells AS (
  SELECT n.n_name AS nation, c.c_mktsegment AS mktsegment,
         COUNT(*) AS cell_size
  FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
  GROUP BY 1, 2
)
SELECT nation, mktsegment, cell_size,
       cell_size < {K_ANON} AS violates_k,
       CAST(SUM(CASE WHEN cell_size < {K_ANON} THEN 1 ELSE 0 END) OVER ()
            AS BIGINT) AS violating_cells,
       CAST(SUM(CASE WHEN cell_size < {K_ANON} THEN cell_size ELSE 0 END)
            OVER () AS DOUBLE)
         / CAST(SUM(cell_size) OVER () AS DOUBLE) AS rows_at_risk_share
FROM cells
ORDER BY nation, mktsegment
"""


# ---------------------------------------------------------------------------
# l-diversity audit — the companion privacy gate to k_anonymity_audit:
# a quasi-identifier cell (nation x market segment) is safe only if
# the SENSITIVE attribute (order priority) takes at least L distinct
# values inside it; k-anonymous cells where everyone shares one
# priority still leak. One row per QI cell with its distinct-l, the
# violation flag, and the global violating-cell count.
#
# Scale: the fact join is a broadcast of the tiny nation dim; the
# distinct-l aggregate is map-side combinable on (cell, priority)
# first, then cell — two slim shuffles, no payloads.
# ---------------------------------------------------------------------------
L_DIV = 3


def q_l_diversity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    orders = _t(spark, sf_dir, "orders")
    joined = (
        orders.join(
            cust.select("c_custkey", "c_nationkey", "c_mktsegment"),
            orders["o_custkey"] == cust["c_custkey"],
        )
        .join(F.broadcast(nation), F.col("c_nationkey") == nation["n_nationkey"])
        .select(
            F.col("n_name").alias("nation"),
            F.col("c_mktsegment").alias("mktsegment"),
            "o_orderpriority",
        )
    )
    cells = joined.groupBy("nation", "mktsegment").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("o_orderpriority").alias("l_distinct"),
    )
    wall = W.partitionBy()
    return (
        cells.select(
            "nation",
            "mktsegment",
            "n_rows",
            "l_distinct",
            (F.col("l_distinct") < L_DIV).alias("violates_l"),
            F.sum(F.when(F.col("l_distinct") < L_DIV, 1).otherwise(0))
            .over(wall)
            .alias("violating_cells"),
        )
        .orderBy("nation", "mktsegment")
    )


ORACLE["l_diversity_audit"] = f"""
WITH cells AS (
  SELECT n.n_name AS nation, c.c_mktsegment AS mktsegment,
         COUNT(*) AS n_rows,
         COUNT(DISTINCT o.o_orderpriority) AS l_distinct
  FROM orders o
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN nation n ON c.c_nationkey = n.n_nationkey
  GROUP BY 1, 2
)
SELECT nation, mktsegment, n_rows, l_distinct,
       l_distinct < {L_DIV} AS violates_l,
       CAST(SUM(CASE WHEN l_distinct < {L_DIV} THEN 1 ELSE 0 END) OVER ()
            AS BIGINT) AS violating_cells
FROM cells
ORDER BY nation, mktsegment
"""
