"""Count-min sketch: mergeable sub-linear frequency summaries.

The engine already surfaces Spark's built-in sketch family
(``approx_count_distinct`` HLL++, ``approx_percentile`` t-digest,
``freqItems`` — see analytics.py); this module adds the one classic
sketch Spark lacks as a public aggregate, the COUNT-MIN SKETCH
(Cormode & Muthukrishnan 2005), built from first principles as a
pure DataFrame aggregation so it is portable, mergeable, and
oracle-checkable:

- The sketch is a D x W counter matrix. Each input row increments
  one bucket per hash row: ``(d, hash_d(key) mod W) += 1``. As a
  DataFrame that is ONE map-side-combinable groupBy over D*W bounded
  keys — at 100 TB the shuffle carries at most D*W*partitions
  partial counts, independent of row count, and two sketches merge
  by adding counters (the property that makes CMS the standard
  frequency summary for streaming/distributed settings).
- Point estimate for a key = min over rows d of its D counters.
  Guarantee: estimate >= true count always (counters only
  over-count), and <= true + eps*N with probability over the hash
  family; the over-count comes from collisions.
- Hashes are the portable seeded md5 family
  (functions/hashing.py:hash60) — byte-identical in DuckDB, so the
  ENTIRE sketch (all D*W counters) and every estimate hash-match the
  oracle exactly; the queries below are fully value-oracled, not
  contract-oracled.

``q_cms_heavy_hitters`` surfaces the end-to-end use: sketch the
events stream's user activity, estimate every candidate user from
the sketch alone, rank, and report estimate vs exact count with the
one-sided error bound asserted per row.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.localframe import local_df
from ..functions.hashing import hash60, hash60_sql
from ..sources.scratch import scratch_dir

ORACLE: dict[str, str] = {}

CMS_D = 4
CMS_W = 256
CMS_TOPK = 20


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    from ..sources.readers import read_fixture

    return read_fixture(spark, sf_dir, name)


def cms_build(keys: DataFrame, key_col: str) -> DataFrame:
    """The D x W counter matrix ``(d, bucket, cnt)`` of a key stream.
    One combinable shuffle over <= D*W group keys."""
    probes = F.array(
        *[
            F.struct(
                F.lit(d).alias("d"),
                F.pmod(hash60(F.col(key_col), seed=d), F.lit(CMS_W)).alias(
                    "bucket"
                ),
            )
            for d in range(CMS_D)
        ]
    )
    return (
        keys.select(F.explode(probes).alias("p"))
        .select("p.d", "p.bucket")
        .groupBy("d", "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def cms_estimate(candidates: DataFrame, key_col: str, sketch: DataFrame) -> DataFrame:
    """Adds ``cms_est``: min over the D probed counters. The sketch
    is tiny (<= D*W rows) and broadcast; estimation never shuffles
    the candidate side."""
    probed = candidates.select(
        key_col,
        *[
            F.pmod(hash60(F.col(key_col), seed=d), F.lit(CMS_W)).alias(
                f"b{d}"
            )
            for d in range(CMS_D)
        ],
    )
    out = probed
    for d in range(CMS_D):
        s = sketch.filter(F.col("d") == d).select(
            F.col("bucket").alias(f"b{d}"), F.col("cnt").alias(f"c{d}")
        )
        out = out.join(F.broadcast(s), f"b{d}", "left")
    return out.select(
        key_col,
        F.least(
            *[F.coalesce(F.col(f"c{d}"), F.lit(0)) for d in range(CMS_D)]
        ).alias("cms_est"),
    )


def q_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top users by sketch-estimated event count: estimate from the
    CMS alone, rank on the estimate (exact tie-break by user), and
    report the exact count alongside with the one-sided guarantee
    ``cms_est >= exact`` asserted per row."""
    ev = _t(spark, sf_dir, "events").select(
        F.col("user_id").cast("string").alias("user")
    )
    sketch = cms_build(ev, "user")
    exact = ev.groupBy("user").agg(F.count(F.lit(1)).alias("exact_cnt"))
    est = cms_estimate(exact, "user", sketch)
    return (
        est.join(exact, "user")
        .select(
            F.col("user").cast("bigint").alias("user_id"),
            "cms_est",
            "exact_cnt",
            (F.col("cms_est") >= F.col("exact_cnt")).alias("never_undercounts"),
        )
        .orderBy(F.col("cms_est").desc(), "user_id")
        .limit(CMS_TOPK)
    )


def _cms_oracle() -> str:
    probe_rows = " UNION ALL ".join(
        f"SELECT user, {d} AS d, "
        f"{hash60_sql('user', seed=d)} % {CMS_W} AS bucket FROM keys"
        for d in range(CMS_D)
    )
    return f"""
WITH keys AS (SELECT CAST(user_id AS VARCHAR) AS user FROM events),
probes AS ({probe_rows}),
sketch AS (
  SELECT d, bucket, COUNT(*) AS cnt FROM probes GROUP BY d, bucket
),
exact AS (SELECT user, COUNT(*) AS exact_cnt FROM keys GROUP BY user),
est AS (
  SELECT e.user, MIN(s.cnt) AS cms_est
  FROM exact e
  JOIN probes p ON p.user = e.user
  JOIN sketch s ON s.d = p.d AND s.bucket = p.bucket
  GROUP BY e.user
)
SELECT CAST(est.user AS BIGINT) AS user_id, cms_est, exact_cnt,
       cms_est >= exact_cnt AS never_undercounts
FROM est JOIN exact ON exact.user = est.user
ORDER BY cms_est DESC, user_id
LIMIT {CMS_TOPK}
"""


ORACLE["cms_heavy_hitters"] = _cms_oracle()


# ---------------------------------------------------------------------------
# HyperLogLog distinct-count sketch — built from first principles as
# a pure DataFrame aggregation, EXACTLY oracled (unlike Spark's
# approx_count_distinct HLL++, whose register layout is engine
# internal and only contract-testable). Flajolet et al. 2007:
#
# - hash each key with the portable md5 family (hash60), split the 60
#   bits into a register index (low HLL_P bits) and a 52-bit suffix w;
#   the register's value is the rank = leading-zero count of w + 1,
#   i.e. 53 - bitlength(w) (53 when w = 0).
# - the sketch is ONE map-side-combinable groupBy over at most
#   m = 2^HLL_P register keys per group — at 100 TB the shuffle
#   carries m*partitions tiny partials, independent of row count, and
#   two sketches merge by per-register MAX (the property that makes
#   HLL the industry-standard distributed distinct counter).
# - raw estimate E = alpha_m * m^2 / sum_j 2^-M_j. The harmonic-mean
#   denominator is the one float-order hazard, so it is computed as
#   an EXACT integer: sum_j 2^(53 - M_j) as int64 (<= m * 2^53 = 2^61)
#   and E = alpha_m * m^2 * 2^53 / S — deterministic IEEE double ops
#   on an exact integer, bit-identical on both engines. No
#   small/large-range corrections (they need ln(); repo no-log rule) —
#   the raw estimator's bias at n >> m is what the rel_err column
#   surfaces honestly.
#
# q_hll_sketch: distinct users per event type, sketch estimate vs
# exact, with the full register state folded through the oracle (any
# hash/indexing/rank divergence moves a register and the hash check).
# ---------------------------------------------------------------------------
HLL_P = 8
HLL_M = 1 << HLL_P  # 256 registers


def q_hll_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").select(
        "event_type", F.col("user_id").cast("string").alias("u")
    )
    h = ev.select(
        "event_type", hash60(F.col("u")).alias("h")
    )
    ranks = h.select(
        "event_type",
        (F.col("h") % HLL_M).alias("idx"),
        F.when(F.shiftright("h", HLL_P) == 0, F.lit(53))
        .otherwise(
            F.lit(53) - F.length(F.conv(F.shiftright("h", HLL_P), 10, 2))
        )
        .alias("rank"),
    )
    regs = ranks.groupBy("event_type", "idx").agg(F.max("rank").alias("r"))
    types = ev.select("event_type").distinct()
    grid = types.crossJoin(
        F.broadcast(spark.range(HLL_M).select(F.col("id").alias("idx")))
    )
    filled = grid.join(regs, ["event_type", "idx"], "left").select(
        "event_type", F.coalesce(F.col("r"), F.lit(0)).alias("r")
    )
    s = filled.groupBy("event_type").agg(
        F.sum(
            F.expr("shiftleft(CAST(1 AS BIGINT), CAST(53 - r AS INT))")
        ).alias("s")
    )
    exact = ev.distinct().groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_exact")
    )
    # alpha_m * m^2 * 2^53 folded in PYTHON (IEEE double) and inlined
    # as its round-trip repr: SQL numeric literals with a decimal
    # point are DECIMAL in both engines, with different
    # division/rounding semantics — string->double parsing is
    # correctly rounded everywhere (the functions/oracle.py argument).
    alpha_num = "CAST('4.2399330249068963e+20' AS DOUBLE)"
    return (
        s.join(exact, "event_type")
        .select(
            "event_type",
            F.col("n_exact").cast("bigint").alias("n_exact"),
            (F.expr(alpha_num) / F.col("s").cast("double")).alias("hll_est"),
            (
                (F.expr(alpha_num) / F.col("s").cast("double") - F.col("n_exact").cast("double"))
                / F.col("n_exact").cast("double")
            ).alias("rel_err"),
        )
        .orderBy("event_type")
    )


ORACLE["hll_sketch"] = f"""
WITH keys AS (
  SELECT DISTINCT event_type, CAST(user_id AS VARCHAR) AS u FROM events
), h AS (
  SELECT event_type, {hash60_sql('u')} AS h FROM keys
), ranks AS (
  SELECT event_type, h % {HLL_M} AS idx,
         CASE WHEN (h >> {HLL_P}) = 0 THEN 53
              ELSE 53 - length(bin(h >> {HLL_P})) END AS rank
  FROM h
), regs AS (
  SELECT event_type, idx, MAX(rank) AS r FROM ranks GROUP BY 1, 2
), grid AS (
  SELECT et.event_type, g.range AS idx
  FROM (SELECT DISTINCT event_type FROM keys) et, range({HLL_M}) g
), filled AS (
  SELECT grid.event_type, COALESCE(regs.r, 0) AS r
  FROM grid LEFT JOIN regs
    ON regs.event_type = grid.event_type AND regs.idx = grid.idx
), s AS (
  SELECT event_type,
         CAST(SUM(CAST(1 AS BIGINT) << (53 - r)) AS BIGINT) AS s
  FROM filled GROUP BY 1
), exact AS (
  SELECT event_type, COUNT(*) AS n_exact FROM keys GROUP BY 1
)
SELECT s.event_type, CAST(n_exact AS BIGINT) AS n_exact,
       CAST('4.2399330249068963e+20' AS DOUBLE)
         / CAST(s AS DOUBLE) AS hll_est,
       (CAST('4.2399330249068963e+20' AS DOUBLE)
         / CAST(s AS DOUBLE) - CAST(n_exact AS DOUBLE))
         / CAST(n_exact AS DOUBLE) AS rel_err
FROM s JOIN exact ON exact.event_type = s.event_type
ORDER BY s.event_type
"""


def q_hll_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL MERGEABILITY — the property that makes sketches the
    distributed distinct-count currency: per-(event_type, month)
    register sets merge across months by per-register MAX, and the
    merged estimate must equal the directly-built whole-corpus
    estimate EXACTLY (not approximately — max-merge is lossless by
    construction). The query proves it per event type: build monthly
    sketches, merge, build direct, compare. At 100 TB this is the
    rollup pattern: daily partitions sketch independently (map-side,
    m counters each), any time-range union is a metadata-cheap max —
    no rescan of history.

    Exactness: same md5 register derivation and exact-int64 harmonic
    denominator as q_hll_sketch; `merge_lossless` rides every row so
    any divergence between the merged and direct register sets moves
    the hash."""
    ev = _t(spark, sf_dir, "events").select(
        "event_type",
        F.date_format("ts", "yyyy-MM").alias("month"),
        F.col("user_id").cast("string").alias("u"),
    )
    h = ev.select(
        "event_type",
        "month",
        hash60(F.col("u")).alias("h"),
    )
    ranks = h.select(
        "event_type",
        "month",
        (F.col("h") % HLL_M).alias("idx"),
        F.when(F.shiftright("h", HLL_P) == 0, F.lit(53))
        .otherwise(
            F.lit(53) - F.length(F.conv(F.shiftright("h", HLL_P), 10, 2))
        )
        .alias("rank"),
    )
    monthly = ranks.groupBy("event_type", "month", "idx").agg(
        F.max("rank").alias("r")
    )
    merged = monthly.groupBy("event_type", "idx").agg(
        F.max("r").alias("r")
    )
    direct = ranks.groupBy("event_type", "idx").agg(
        F.max("rank").alias("r")
    )

    def estimate(regs: DataFrame, out: str) -> DataFrame:
        types = regs.select("event_type").distinct()
        grid = types.crossJoin(
            F.broadcast(spark.range(HLL_M).select(F.col("id").alias("idx")))
        )
        filled = grid.join(regs, ["event_type", "idx"], "left").select(
            "event_type", F.coalesce(F.col("r"), F.lit(0)).alias("r")
        )
        return filled.groupBy("event_type").agg(
            F.sum(
                F.expr("shiftleft(CAST(1 AS BIGINT), CAST(53 - r AS INT))")
            ).alias(out)
        )

    alpha = "CAST('4.2399330249068963e+20' AS DOUBLE)"
    sm = estimate(merged, "s_merged")
    sd = estimate(direct, "s_direct")
    return (
        sm.join(sd, "event_type")
        .select(
            "event_type",
            (F.expr(alpha) / F.col("s_merged").cast("double")).alias(
                "est_merged"
            ),
            (F.expr(alpha) / F.col("s_direct").cast("double")).alias(
                "est_direct"
            ),
            (F.col("s_merged") == F.col("s_direct")).alias("merge_lossless"),
        )
        .orderBy("event_type")
    )


ORACLE["hll_union"] = f"""
WITH ev AS (
  SELECT event_type, strftime(ts, '%Y-%m') AS month,
         CAST(user_id AS VARCHAR) AS u
  FROM events
), ranks AS (
  SELECT event_type, month,
         {hash60_sql('u')} % {HLL_M} AS idx,
         CASE WHEN ({hash60_sql('u')} >> {HLL_P}) = 0 THEN 53
              ELSE 53 - length(bin({hash60_sql('u')} >> {HLL_P})) END AS rank
  FROM ev
), monthly AS (
  SELECT event_type, month, idx, MAX(rank) AS r FROM ranks GROUP BY 1, 2, 3
), merged AS (
  SELECT event_type, idx, MAX(r) AS r FROM monthly GROUP BY 1, 2
), direct AS (
  SELECT event_type, idx, MAX(rank) AS r FROM ranks GROUP BY 1, 2
), grid AS (
  SELECT et.event_type, g.range AS idx
  FROM (SELECT DISTINCT event_type FROM ev) et, range({HLL_M}) g
), sm AS (
  SELECT grid.event_type,
         CAST(SUM(CAST(1 AS BIGINT) << (53 - COALESCE(m.r, 0))) AS BIGINT)
           AS s_merged
  FROM grid LEFT JOIN merged m
    ON m.event_type = grid.event_type AND m.idx = grid.idx
  GROUP BY 1
), sd AS (
  SELECT grid.event_type,
         CAST(SUM(CAST(1 AS BIGINT) << (53 - COALESCE(d.r, 0))) AS BIGINT)
           AS s_direct
  FROM grid LEFT JOIN direct d
    ON d.event_type = grid.event_type AND d.idx = grid.idx
  GROUP BY 1
)
SELECT sm.event_type,
       CAST('4.2399330249068963e+20' AS DOUBLE)
         / CAST(s_merged AS DOUBLE) AS est_merged,
       CAST('4.2399330249068963e+20' AS DOUBLE)
         / CAST(s_direct AS DOUBLE) AS est_direct,
       s_merged = s_direct AS merge_lossless
FROM sm JOIN sd ON sd.event_type = sm.event_type
ORDER BY sm.event_type
"""


def q_snapshot_incremental_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable-SKETCH IVM riding the snapshot change feed
    (sources/snaptable.refresh_hll_view over maintain_hll): a
    distinct-count materialized view whose state is per-group HLL
    REGISTERS, refreshed through the same txn cursor as the
    count/sum and min/max views. Lifecycle: source table from
    ``orders`` (g = custkey % 5, distinct keys = order keys), full
    sink build at v1, churn (a spread DELETE that removes register
    witnesses + an APPEND of fresh keys), then a DELTA refresh —
    inserts fold by per-idx max (hll_union's lossless-merge
    property), delete-suspicious groups pay the bounded Gupta-Mumick
    rescan. Contract columns pin: the delta path actually ran
    (mode='delta'), the maintained registers are BIT-EQUAL to a
    recompute on the final snapshot, and a third refresh no-ops. The
    per-group estimate + exact count replay in DuckDB from the same
    md5 register algebra, so the whole maintained sketch is
    value-oracled, not contract-oracled."""
    import os

    from ..sources import snaptable as st
    from ..sources.readers import read_fixture

    orders = read_fixture(spark, sf_dir, "orders").select(
        "o_orderkey",
        (F.col("o_custkey") % 5).cast("int").alias("g"),
    )
    with scratch_dir("ivm_hll") as root:
        src = os.path.join(root, "src")
        sink = os.path.join(root, "sink")
        st.create_table(orders, src, [])
        r1 = st.refresh_hll_view(spark, src, sink, ["g"], "o_orderkey")
        # churn: a whole-group delete (every register witness gone ->
        # rescan returns empty, the group drops) + an append whose
        # fresh keys repopulate every group including the deleted one
        st.delete_where(spark, src, [("g", "=", 2)])
        st.append(
            orders.filter(F.col("o_orderkey") % 11 == 3).select(
                (F.col("o_orderkey") + 7000000).alias("o_orderkey"),
                ((F.col("o_orderkey") + 1) % 5).cast("int").alias("g"),
            ),
            src,
        )
        r2 = st.refresh_hll_view(spark, src, sink, ["g"], "o_orderkey")
        r3 = st.refresh_hll_view(spark, src, sink, ["g"], "o_orderkey")
        maintained = st.read_snapshot(spark, sink)
        recomputed = st.hll_regs(st.read_snapshot(spark, src), ["g"], "o_orderkey")
        diff = (
            maintained.select("g", "idx", "r")
            .exceptAll(recomputed.select("g", "idx", "r"))
            .unionAll(
                recomputed.select("g", "idx", "r").exceptAll(
                    maintained.select("g", "idx", "r")
                )
            )
            .count()
        )
        contract_ok = bool(
            r1["mode"] == "full"
            and r2["mode"] == "delta"
            and r3["mode"] == "noop"
            and diff == 0
        )
        est = st.hll_estimate(maintained, ["g"])
        exact = (
            st.read_snapshot(spark, src)
            .groupBy("g")
            .agg(F.count_distinct("o_orderkey").alias("n_exact"))
        )
        rows = (
            est.join(exact, "g")
            .select("g", "n_exact", "hll_est")
            .orderBy("g")
            .collect()
        )
    return local_df(spark, 
        [(r.g, r.n_exact, float(r.hll_est), contract_ok) for r in rows],
        "g int, n_exact bigint, hll_est double, contract_ok boolean",
    ).orderBy("g")


ORACLE["snapshot_incremental_hll"] = f"""
WITH final_state AS (
  SELECT o_orderkey, CAST(o_custkey % 5 AS INT) AS g FROM orders
  WHERE CAST(o_custkey % 5 AS INT) <> 2
  UNION ALL
  SELECT o_orderkey + 7000000, CAST((o_orderkey + 1) % 5 AS INT)
  FROM orders WHERE o_orderkey % 11 = 3
), keys AS (
  SELECT DISTINCT g, CAST(o_orderkey AS VARCHAR) AS u FROM final_state
), h AS (
  SELECT g, {hash60_sql('u')} AS h FROM keys
), ranks AS (
  SELECT g, h % {HLL_M} AS idx,
         CASE WHEN (h >> {HLL_P}) = 0 THEN 53
              ELSE 53 - length(bin(h >> {HLL_P})) END AS rank
  FROM h
), regs AS (
  SELECT g, idx, MAX(rank) AS r FROM ranks GROUP BY 1, 2
), s AS (
  SELECT g,
         CAST(SUM(CAST(1 AS BIGINT) << (53 - r)) AS BIGINT)
         + ({HLL_M} - COUNT(*)) * (CAST(1 AS BIGINT) << 53) AS s
  FROM regs GROUP BY 1
), exact AS (
  SELECT g, COUNT(*) AS n_exact FROM keys GROUP BY 1
)
SELECT s.g, CAST(n_exact AS BIGINT) AS n_exact,
       CAST('4.2399330249068963e+20' AS DOUBLE) / CAST(s AS DOUBLE)
         AS hll_est,
       TRUE AS contract_ok
FROM s JOIN exact ON exact.g = s.g
ORDER BY s.g
"""
