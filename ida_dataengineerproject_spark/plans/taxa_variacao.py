"""Flagship analytical pipeline — the reference's ONE query,
``ida.vw_taxa_variacao`` (/root/reference/schema_star.sql:108-164; documented
as the product in README.md:145-156).

Semantics reproduced stage-by-stage (SURVEY.md §3.3):
1. media_mensal  — fact ⋈ dims, variable filter, AVG by month, LAG over global
   month order (schema_star.sql:109-119).
2. media_calc    — pct-change ((cur-prev)/NULLIF(prev,0))*100, ROUND 2, drop
   first month (:120-126).
3. grupo_mensal / grupo_calc — same per group, LAG partitioned (:127-147).
4. final         — inner join USING(mes), pivot to fixed group columns,
   delta = ROUND(group_variation - market_variation, 2) (:148-164).

Applied to driver testdata by role-mapping (FIXTURES.md §3.1):
fact = lineitem ⋈ orders, month = o_orderdate, group = l_returnflag,
variable filter = l_linestatus = 'F', measure = l_extendedprice.

Scale design:
- The join is fact⋈fact (lineitem⋈orders on orderkey) — at 100 TB both sides
  shuffle on l_orderkey once; AQE handles skew.  Aggregation reduces to
  (#months × #groups) rows BEFORE any window, so the global-order LAG
  (a single-partition window — the classic hazard) only ever sees ~10²-10³
  aggregated rows regardless of input scale (SURVEY.md §7.4.2).
- Month grain is a string 'yyyy-MM': lexicographic == chronological, so LAG
  ordering is safe on both engines (schema_star.sql:113).
- AVG uses exact-decimal SUM/COUNT so the DuckDB oracle matches bit-exact
  (functions/aggs.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.aggs import cents
from ..sources.bucketed import bucketed_fact
from ..sources.tables import table

# l_returnflag plays the reference's 10 hard-coded operator groups
# (schema_star.sql:151-160): explicit pivot list, deterministic columns.
GROUPS = ["A", "N", "R"]


def _pct_change(cur, prev):
    """((cur - prev) / NULLIF(prev, 0)) * 100, rounded to 2
    (schema_star.sql:123,144: op26/op27/op28)."""
    return F.round((cur - prev) / F.nullif(prev, F.lit(0.0)) * 100, 2)


def taxa_variacao(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem = table(spark, sf_dir, "lineitem")
    orders = table(spark, sf_dir, "orders")
    return _taxa_from_tables(lineitem, orders)


def taxa_variacao_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The flagship over BUCKETED storage — identical semantics (same
    oracle), different table layout: lineitem and orders live as catalog
    bucketed tables (`bucketBy(n, orderkey).sortBy(orderkey)`,
    sources/bucketed.py), so the fact⋈fact join that dominates the plain
    arm's wall time needs NO Exchange on either side — bucket i joins
    bucket i straight off the scans.

    Motivation (r9 at-scale profile): at the x100 replica the plain arm
    spent 4.4 s of its 8.7 s wall on the shuffle write+read of the 45 M-row
    lineitem⋈orders exchange — distributed-join machinery the query
    itself cannot avoid when the tables at rest are unkeyed.  An engine
    whose fact tables are bucketed on their join key at rest (the normal
    posture for a 100 TB warehouse serving this query nightly) never pays
    it.  The bucketed write is a one-time storage cost (memoized per
    process here; a real warehouse pays it at ingest), and every
    subsequent run joins exchange-free: only the grain-sized aggregate
    shuffle remains (#months × #groups rows).

    tests/test_plan_quality.py pins the plan shape: zero Exchange below
    the join, both scans `Bucketed: true`.

    r11: reads the CANONICAL full-width bucketed facts
    (sources/bucketed.bucketed_fact) shared by every orderkey-keyed arm
    — parquet column pruning keeps the scan bytes identical to the r10
    per-query projected copies, with one copy and one write instead of
    N.

    bucketed_fact's shuffle_hash hint pins the join strategy the LAYOUT
    exists for — caught by the r11 ratio guard: over the full-width tables,
    Catalyst's size-only estimator scales the narrow (o_orderkey, mes)
    projection by output-row-width ratio, shrinking the UNFILTERED
    15 M-row orders side below the 64 MB broadcast threshold, and the
    resulting fact-side BroadcastExchange (a ~240 MB in-memory hash
    relation built per executor) measured 8.9 s vs the hash join's
    1.9 s at the x100 replica (guard row: 0.96× → 5.47×).  The r10
    projected copies dodged this only because their child row width was
    already narrow.  shuffle_hash over merge (A/B at x100: 1.94 vs
    2.12 s): both consume the bucketed scans exchange-free, but Spark 4
    does not propagate bucket-file sort order, so SMJ pays a per-bucket
    sort the per-partition hash build skips — the same reason the
    session prefers SHJ globally.  Contract pinned in
    tests/test_plan_quality.py: exchange-free hash join, zero
    broadcast of a fact side."""
    li_b = bucketed_fact(spark, sf_dir, "lineitem")
    o_b = bucketed_fact(spark, sf_dir, "orders")
    return _taxa_from_tables(li_b, o_b)


def _taxa_from_tables(lineitem: DataFrame, orders: DataFrame) -> DataFrame:
    # Hot-path representation (r9, measured at the x10 replica):
    # - month key = year*100 + month INT through the join/aggregate;
    #   the 'yyyy-MM' string (op23) materializes AFTER the grain-sized
    #   aggregate (~#months × #groups rows).  date_format on every
    #   joined row ran the full timestamp formatter — ~0.5 s of wall —
    #   and int keys order chronologically exactly like the string.
    #   The key is computed per ORDER (1.5 M rows) on the slimmed join
    #   build side, not per joined lineitem row (6 M).
    # - measure = integer CENTS (exact: every l_extendedprice is a
    #   2-decimal double, asserted by the bit-exact parity vs the
    #   decimal-summing oracle; round(v*100) recovers the exact cent
    #   count because the double error of v*100 is ≪ 0.5).  The long
    #   sum replaces DECIMAL(38,2) aggregation buffers through the
    #   grouping-sets Expand — the q18 A/B measured decimal buffers at
    #   ~2× the long cost.  Headroom: Σcents < 2^63 up to ~9·10^16
    #   dollars of turnover per grain; the final cast re-rounds exactly
    #   like the decimal→double cast while Σcents < 2^53.
    ob = orders.select(
        "o_orderkey",
        (F.year("o_orderdate") * 100 + F.month("o_orderdate")).alias("mes"),
    )
    base = (
        lineitem.filter(F.col("l_linestatus") == "F")  # op13 variable filter
        .select(
            "l_orderkey",
            F.col("l_returnflag").alias("grupo"),
            cents("l_extendedprice").alias("valor"),
        )
        .join(ob, F.col("l_orderkey") == F.col("o_orderkey"))
    )

    # BOTH grains in ONE aggregate pass via GROUPING SETS ((grupo, mes),
    # (mes)): the fact⋈fact join + scan runs once and Expand doubles rows
    # map-side only (partial aggregation collapses them before the single
    # grain-sized shuffle).  Decimal addition is associative, so the
    # (mes) set is bit-identical to aggregating base rows directly (what
    # the oracle does).
    #
    # History (r5): every DIAMOND formulation of the shared grain failed
    # at some scale — (a) re-aggregating a shared (grupo, mes) aggregate
    # is SILENTLY split into two full scans by Spark 4's aggregate merge;
    # (b) persist()-ing the grain restored compute-once at toy scale but
    # measured 4x slower at the 100x replicated probe (branches race to
    # fill the cache, cached subplans lose AQE); (c) grouping sets with
    # two filtered branches re-split because the grouping-id filters push
    # below each branch's aggregate, de-canonicalizing the shared
    # exchange.  So the pipeline is LINEAR from here: no second reference
    # to the aggregate anywhere — both LAGs run in one window pass (the
    # (mes) rows form their own partition), and the market pct-change
    # reaches the group rows via a window over mes instead of a
    # self-join.  Nothing downstream of the Expand ever touches more
    # than (#groups + 1) x #months rows.
    sums = base.groupingSets([["grupo", "mes"], ["mes"]], "grupo", "mes").agg(
        F.sum("valor").alias("s"),  # exact integer cents (see above)
        F.count("valor").alias("c"),
        F.grouping("grupo").alias("is_market"),
    )

    # one LAG window for BOTH grains (op33/34, op39/40): market rows get
    # a dedicated partition key, so their lag runs over the global month
    # order (every month of base appears in the (mes) grouping set by
    # construction), group rows lag within their group.
    series_key = F.when(
        F.col("is_market") == 1, F.lit("__MARKET__")
    ).otherwise(F.col("grupo"))
    w_series = Window.partitionBy(series_key).orderBy("mes")
    cur = sums.select(
        "grupo",
        "mes",
        "is_market",
        # cents→double is exact (< 2^53); /100 is the single rounding to
        # nearest-double(Σvalor), bitwise the DECIMAL(38,2)→DOUBLE cast
        # of the oracle; /c then rounds exactly as the oracle's division.
        ((F.col("s").cast("double") / 100) / F.col("c")).alias("valor_cur"),
    ).select(
        "grupo",
        "mes",
        "is_market",
        "valor_cur",
        F.lag("valor_cur").over(w_series).alias("prev"),
    )
    # pct-change per series row; first month of each series → NULL
    # (op26-28; the explicit prev IS NOT NULL drop happens via the
    # variacao/taxa null filters below, op14)
    varied = cur.select(
        "grupo",
        "mes",
        "is_market",
        _pct_change(F.col("valor_cur"), F.col("prev")).alias("variacao"),
    )

    # attach the market pct-change to every group row of the same month
    # (op32's join USING(mes), expressed as a window over mes — the data
    # is already grain-sized, so this is a tiny shuffle, not a join of
    # two recomputed branches)
    w_mes = Window.partitionBy("mes")
    rows = varied.select(
        "grupo",
        "mes",
        "is_market",
        "variacao",
        F.max(
            F.when(F.col("is_market") == 1, F.col("variacao"))
        ).over(w_mes).alias("taxa_variacao_media"),
    )

    # stage 5: keep group rows with both sides present (inner-join
    # semantics: months missing either series drop), pivot via explicit
    # max(CASE) aggregates (op17/op35), global sort (op41)
    delta = F.round(F.col("variacao") - F.col("taxa_variacao_media"), 2)
    return (
        rows.filter(
            (F.col("is_market") == 0)
            & F.col("variacao").isNotNull()
            & F.col("taxa_variacao_media").isNotNull()
        )
        .groupBy("mes", "taxa_variacao_media")
        .agg(
            *[
                F.max(F.when(F.col("grupo") == g, delta)).alias(
                    f"grp_{g.lower()}"
                )
                for g in GROUPS
            ]
        )
        .orderBy("mes")
        # op23's 'yyyy-MM' string, materialized on the final ~#months
        # rows only (int key ordering == lexicographic string ordering)
        .select(
            F.format_string(
                "%04d-%02d", (F.col("mes") / 100).cast("int"), F.col("mes") % 100
            ).alias("mes"),
            "taxa_variacao_media",
            *[f"grp_{g.lower()}" for g in GROUPS],
        )
    )


# DuckDB twin of the pipeline above — identical arithmetic, identical
# aliases, exact-decimal AVG, so values hash-match bit-exact.  Every
# ROUND gets ``+ 0.0``: DuckDB rounds a small negative double to -0.0,
# where Spark's round (and the reference's PostgreSQL numeric) gives 0.0;
# adding +0.0 turns -0.0 into 0.0 and leaves every other value as it is.
TAXA_VARIACAO_ORACLE_SQL = """
WITH base AS (
    SELECT strftime(o.o_orderdate, '%Y-%m') AS mes,
           l.l_returnflag AS grupo,
           l.l_extendedprice AS valor
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    WHERE l.l_linestatus = 'F'
),
media_mensal AS (
    SELECT mes,
           CAST(SUM(CAST(valor AS DECIMAL(38,2))) AS DOUBLE) / COUNT(valor) AS valor_medio
    FROM base GROUP BY mes
),
media_calc AS (
    SELECT mes,
           ROUND((valor_medio - prev) / NULLIF(prev, 0) * 100, 2) + 0.0 AS taxa_variacao_media
    FROM (SELECT mes, valor_medio,
                 LAG(valor_medio) OVER (ORDER BY mes) AS prev
          FROM media_mensal)
    WHERE prev IS NOT NULL
),
grupo_mensal AS (
    SELECT grupo, mes,
           CAST(SUM(CAST(valor AS DECIMAL(38,2))) AS DOUBLE) / COUNT(valor) AS valor_grupo
    FROM base GROUP BY grupo, mes
),
grupo_calc AS (
    SELECT grupo, mes,
           ROUND((valor_grupo - prev) / NULLIF(prev, 0) * 100, 2) + 0.0 AS variacao
    FROM (SELECT grupo, mes, valor_grupo,
                 LAG(valor_grupo) OVER (PARTITION BY grupo ORDER BY mes) AS prev
          FROM grupo_mensal)
    WHERE prev IS NOT NULL
)
SELECT g.mes,
       m.taxa_variacao_media,
       MAX(CASE WHEN g.grupo = 'A'
           THEN ROUND(g.variacao - m.taxa_variacao_media, 2) + 0.0 END) AS grp_a,
       MAX(CASE WHEN g.grupo = 'N'
           THEN ROUND(g.variacao - m.taxa_variacao_media, 2) + 0.0 END) AS grp_n,
       MAX(CASE WHEN g.grupo = 'R'
           THEN ROUND(g.variacao - m.taxa_variacao_media, 2) + 0.0 END) AS grp_r
FROM grupo_calc g JOIN media_calc m USING (mes)
GROUP BY g.mes, m.taxa_variacao_media
ORDER BY g.mes
"""
