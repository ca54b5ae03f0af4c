"""Profiler aggregates as oracle-checked queries (SURVEY.md §2.4 A6-A11):
the driver-visible face of lakehouse_sfc_spark.profiler.  Each one computes a
reference profiler statistic with plain distributed aggregates.

Reference parity: wlg/profiler/stats.py:137-183 (min/max, histogram,
cardinality, top-k), re-expressed as single-shuffle Spark jobs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lakehouse_sfc_spark.queries.registry import register
from lakehouse_sfc_spark.sources.loader import load_table, materialize_once

_NUM_COLS = ("l_quantity", "l_extendedprice", "l_discount", "l_tax")


def _stat_select(col: str) -> str:
    return (
        f"SELECT '{col}' AS col_name, COUNT(*) AS cnt,"
        f" CAST(SUM(CASE WHEN {col} IS NULL THEN 1 ELSE 0 END)"
        f" AS BIGINT) AS nulls,"
        f" MIN({col}) AS min_v, MAX({col}) AS max_v,"
        f" COUNT(DISTINCT {col}) AS n_distinct FROM lineitem"
    )


@register(
    "profile_numeric_stats",
    oracle=" UNION ALL ".join(_stat_select(c) for c in _NUM_COLS),
)
def profile_numeric_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """count/nulls/min/max/distinct for every numeric lineitem column in ONE
    aggregate pass, unpivoted with stack() — the profiler's pass-1 shape.
    At 100 TB this is one scan + partial aggs; no per-column jobs."""
    li = load_table(spark, sf_dir, "lineitem")
    aggs = []
    for c in _NUM_COLS:
        aggs += [
            F.count(F.lit(1)).alias(f"cnt__{c}"),
            F.sum(F.col(c).isNull().cast("long")).alias(f"nulls__{c}"),
            F.min(c).alias(f"min__{c}"),
            F.max(c).alias(f"max__{c}"),
            F.count_distinct(F.col(c)).alias(f"nd__{c}"),
        ]
    one = li.agg(*aggs)
    stack_args = ", ".join(
        f"'{c}', cnt__{c}, nulls__{c}, min__{c}, max__{c}, nd__{c}"
        for c in _NUM_COLS
    )
    return one.selectExpr(
        f"stack({len(_NUM_COLS)}, {stack_args})"
        " AS (col_name, cnt, nulls, min_v, max_v, n_distinct)"
    )


_HIST_BINS = 10


@register(
    "profile_histogram",
    oracle=f"""
    WITH mm AS (SELECT MIN(l_quantity) AS lo, MAX(l_quantity) AS hi
                FROM lineitem)
    SELECT LEAST(FLOOR((l_quantity - lo) / (hi - lo) * {_HIST_BINS}),
                 {_HIST_BINS - 1})::BIGINT AS bucket,
           COUNT(*) AS cnt
    FROM lineitem, mm
    GROUP BY 1
    """,
)
def profile_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width histogram with np.histogram bin semantics (max value lands
    in the last bin).  The 1-row min/max side is broadcast, so the histogram
    is scan + broadcast + partial agg — no wide shuffle."""
    li = load_table(spark, sf_dir, "lineitem")
    mm = li.agg(
        F.min("l_quantity").alias("lo"), F.max("l_quantity").alias("hi")
    )
    bucket = F.least(
        F.floor(
            (F.col("l_quantity") - F.col("lo"))
            / (F.col("hi") - F.col("lo"))
            * _HIST_BINS
        ),
        F.lit(_HIST_BINS - 1).cast("bigint"),
    )
    return (
        li.crossJoin(F.broadcast(mm))
        .groupBy(bucket.alias("bucket"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


# Inputs are cast to low-scale decimals FIRST, then multiplied in exact
# decimal arithmetic: rounding a double at scale 2 is far from the 53-bit
# precision edge so both engines convert identically, and everything after
# that is exact — double*double products rounded to DECIMAL(38,10) disagree
# between engines in the 17th significant digit.
_QUANTILES = (0.01, 0.05, 0.25, 0.5, 0.75, 0.95, 0.99)


@register(
    "profile_quantiles",
    oracle=f"""
    WITH r AS (
      SELECT l_extendedprice AS x,
             ROW_NUMBER() OVER (ORDER BY l_extendedprice) AS rn,
             COUNT(*) OVER () AS n
      FROM lineitem
    )
    SELECT q, x AS value
    FROM r, (SELECT CAST(UNNEST(ARRAY{list(_QUANTILES)}) AS DOUBLE) AS q)
    WHERE rn = CEIL(q * n)
    ORDER BY q
    """,
)
def profile_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Profiler quantiles (wlg/profiler/stats.py:95-96,169-176: q in
    {{.01,.05,.25,.5,.75,.95,.99}}) as EXACT type-1 quantiles — the value at
    rank ceil(q*n) — because approx_percentile's sketch is engine-specific
    and can't hash-match an oracle.

    Scale note: like the reference (<=20k-row sample for quantiles), this
    exact form is meant for the profiler's bounded sample; the production
    path for full-table quantiles is approx_percentile, which this query's
    sample-exact twin validates against."""
    li = load_table(spark, sf_dir, "lineitem")
    from pyspark.sql import Window

    r = li.select(
        F.col("l_extendedprice").alias("x"),
        F.row_number().over(Window.orderBy("l_extendedprice")).alias("rn"),
        F.count(F.lit(1)).over(Window.partitionBy()).alias("n"),
    )
    targets = spark.createDataFrame(
        [(q,) for q in _QUANTILES], "q double"
    )
    return (
        r.join(F.broadcast(targets))
        .filter(F.col("rn") == F.ceil(F.col("q") * F.col("n")))
        .select("q", F.col("x").alias("value"))
        .orderBy("q")
    )


_CORR_MOMENTS = """
   CAST(SUM(CAST({x} AS DECIMAL(15,{s}))) AS DOUBLE) AS s{x},
   CAST(SUM(CAST({y} AS DECIMAL(15,{s}))) AS DOUBLE) AS s{y},
   CAST(SUM(CAST({x} AS DECIMAL(15,{s})) * CAST({y} AS DECIMAL(15,{s}))) AS DOUBLE) AS s{x}{y},
   CAST(SUM(CAST({x} AS DECIMAL(15,{s})) * CAST({x} AS DECIMAL(15,{s}))) AS DOUBLE) AS s{x}{x},
   CAST(SUM(CAST({y} AS DECIMAL(15,{s})) * CAST({y} AS DECIMAL(15,{s}))) AS DOUBLE) AS s{y}{y}
"""


@register(
    "profile_correlation",
    oracle=f"""
    WITH s AS (
      SELECT l_quantity, l_extendedprice FROM lineitem
      WHERE l_orderkey <= 15000
    ),
    r AS (
      SELECT l_quantity AS x, l_extendedprice AS y,
             RANK() OVER (ORDER BY l_quantity)
               + (COUNT(*) OVER (PARTITION BY l_quantity) - 1) / 2.0 AS rx,
             RANK() OVER (ORDER BY l_extendedprice)
               + (COUNT(*) OVER (PARTITION BY l_extendedprice) - 1) / 2.0 AS ry
      FROM s
    ),
    m AS (
      SELECT COUNT(*)::DOUBLE AS n,
             {_CORR_MOMENTS.format(x="x", y="y", s=2)},
             {_CORR_MOMENTS.format(x="rx", y="ry", s=1)}
      FROM r
    )
    SELECT (n*sxy - sx*sy)
             / (sqrt(n*sxx - sx*sx) * sqrt(n*syy - sy*sy)) AS pearson,
           (n*srxry - srx*sry)
             / (sqrt(n*srxrx - srx*srx) * sqrt(n*sryry - sry*sry)) AS spearman
    FROM m
    """,
)
def profile_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson + Spearman correlation (wlg/profiler/stats.py:283-310,
    wlg/profiler/correlation.py:53-83) from exact-decimal moment sums, so the
    result is bit-identical across engines (built-in corr() accumulates
    doubles in engine-specific order).  Spearman = Pearson over average ranks;
    the tie-averaged rank is RANK() + (count(=value)-1)/2, expressed with the
    same window functions in both engines.

    Scale note: the reference profiler computes correlations on a <=50k-row
    sample (stats.py:95-98); this query realizes that contract with a
    DETERMINISTIC sample (orderkeys <= 15000, ~60k rows at any SF >= 0.01).
    Beyond keeping the unpartitioned rank window sample-sized, the bound is
    load-bearing for bit-exactness: at full sf0.1+ the rank moments exceed
    2^53 in scaled-integer units and the decimal->double casts round
    differently between engines (observed 1-ulp divergence)."""
    from pyspark.sql import Window

    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_orderkey") <= 15000
    )
    x, y = F.col("l_quantity"), F.col("l_extendedprice")
    rx = F.rank().over(Window.orderBy("l_quantity")) + (
        F.count(F.lit(1)).over(Window.partitionBy("l_quantity")) - 1
    ) / 2.0
    ry = F.rank().over(Window.orderBy("l_extendedprice")) + (
        F.count(F.lit(1)).over(Window.partitionBy("l_extendedprice")) - 1
    ) / 2.0
    r = li.select(
        x.alias("x"), y.alias("y"), rx.alias("rx"), ry.alias("ry")
    )

    def dec(name: str, scale: int):
        return F.col(name).cast(f"decimal(15,{scale})")

    def dsum_(c) -> F.Column:
        return F.sum(c).cast("double")

    xd, yd = dec("x", 2), dec("y", 2)
    rxd, ryd = dec("rx", 1), dec("ry", 1)
    m = r.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        dsum_(xd).alias("sx"),
        dsum_(yd).alias("sy"),
        dsum_(xd * yd).alias("sxy"),
        dsum_(xd * xd).alias("sxx"),
        dsum_(yd * yd).alias("syy"),
        dsum_(rxd).alias("srx"),
        dsum_(ryd).alias("sry"),
        dsum_(rxd * ryd).alias("srxry"),
        dsum_(rxd * rxd).alias("srxrx"),
        dsum_(ryd * ryd).alias("sryry"),
    )
    n = F.col("n")
    pearson = (n * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.sqrt(n * F.col("sxx") - F.col("sx") * F.col("sx"))
        * F.sqrt(n * F.col("syy") - F.col("sy") * F.col("sy"))
    )
    spearman = (n * F.col("srxry") - F.col("srx") * F.col("sry")) / (
        F.sqrt(n * F.col("srxrx") - F.col("srx") * F.col("srx"))
        * F.sqrt(n * F.col("sryry") - F.col("sry") * F.col("sry"))
    )
    return m.select(pearson.alias("pearson"), spearman.alias("spearman"))


@register(
    "profile_topk",
    oracle="""
    SELECT source, COUNT(*) AS cnt
    FROM documents
    GROUP BY source
    ORDER BY cnt DESC, source ASC
    LIMIT 5
    """,
)
def profile_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k most frequent values with a total (count desc, value asc) order
    so ties are deterministic across engines — the profiler's top-k rule."""
    d = load_table(spark, sf_dir, "documents")
    return (
        d.groupBy("source")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("source"))
        .limit(5)
    )


@register(
    "profile_gini",
    oracle="""
    WITH et_n AS (SELECT CAST(SUM(c) AS BIGINT) AS n,
                    CAST(SUM(c*c) AS BIGINT) AS sumsq,
                    COUNT(*) AS n_distinct
             FROM (SELECT COUNT(*) AS c FROM events GROUP BY event_type)),
    seg_n AS (SELECT CAST(SUM(c) AS BIGINT) AS n,
                     CAST(SUM(c*c) AS BIGINT) AS sumsq,
                     COUNT(*) AS n_distinct
              FROM (SELECT COUNT(*) AS c FROM customer GROUP BY c_mktsegment))
    SELECT col_name, n, n_distinct,
           CAST(n * n - sumsq AS DOUBLE) / (n * n) AS gini
    FROM (
      SELECT 'events.event_type' AS col_name, n, n_distinct, sumsq FROM et_n
      UNION ALL
      SELECT 'customer.c_mktsegment', n, n_distinct, sumsq FROM seg_n
    )
    ORDER BY col_name
    """,
)
def profile_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini impurity of categorical columns (class-balance diagnostic for a
    label or domain column): gini = 1 - Σ(cᵢ/n)² computed as the RATIONAL
    (n² - Σcᵢ²)/n² — integer numerator and denominator, ONE double
    division, bit-identical across engines (the naive per-class p²
    summation would be float-order-dependent).  Two-level aggregation:
    count per value (shuffle bounded by the domain size), then a 1-row
    reduction — the scan dominates at any scale."""
    ev = load_table(spark, sf_dir, "events")
    cust = load_table(spark, sf_dir, "customer")

    def gini_of(df: DataFrame, col: str, label: str) -> DataFrame:
        counts = df.groupBy(col).agg(F.count(F.lit(1)).alias("c"))
        return counts.agg(
            F.lit(label).alias("col_name"),
            F.sum("c").alias("n"),
            F.count(F.lit(1)).alias("n_distinct"),
            (
                (
                    F.sum("c") * F.sum("c") - F.sum(F.col("c") * F.col("c"))
                ).cast("double")
                / (F.sum("c") * F.sum("c"))
            ).alias("gini"),
        )

    return (
        gini_of(ev, "event_type", "events.event_type")
        .unionAll(gini_of(cust, "c_mktsegment", "customer.c_mktsegment"))
        .orderBy("col_name")
    )


@register(
    "profile_outliers",
    oracle="""
    WITH r AS (
      SELECT c_acctbal AS x,
             ROW_NUMBER() OVER (ORDER BY c_acctbal) AS rn,
             COUNT(*) OVER () AS n
      FROM customer
    ),
    fences AS (
      SELECT MIN(n) AS n,
             MIN(CASE WHEN rn = CEIL(0.25 * n) THEN x END) AS q1,
             MIN(CASE WHEN rn = CEIL(0.75 * n) THEN x END) AS q3
      FROM r
    ),
    f2 AS (
      SELECT n, q1, q3,
             q1 - 1.5 * (q3 - q1) AS lo_fence,
             q3 + 1.5 * (q3 - q1) AS hi_fence
      FROM fences
    )
    SELECT f2.n, f2.q1, f2.q3, f2.lo_fence, f2.hi_fence,
           COUNT(CASE WHEN c.c_acctbal < f2.lo_fence THEN 1 END) AS n_low,
           COUNT(CASE WHEN c.c_acctbal > f2.hi_fence THEN 1 END) AS n_high
    FROM customer c CROSS JOIN f2
    GROUP BY 1, 2, 3, 4, 5
    """,
)
def profile_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tukey-fence outlier audit on a numeric column: values outside
    [q1 − 1.5·IQR, q3 + 1.5·IQR].  The robust-statistics alternative to
    z-scores that needs NO sqrt/stddev — quantiles are exact type-1 data
    values (ranks .25n/.75n are float-exact), and the fences use only
    subtraction and one ×1.5, both correctly-rounded IEEE ops, so both
    engines land on identical fences and identical counts.

    Two passes: a rank pass pins q1/q3 (the profiler's bounded-sample
    contract, same as profile_quantiles — production full-table quantiles
    go through approx_percentile), then the fences broadcast into a
    conditional-count scan.  The counting pass is the scalable one — a
    plain map-side aggregate."""
    c = load_table(spark, sf_dir, "customer")
    from pyspark.sql import Window

    r = c.select(
        F.col("c_acctbal").alias("x"),
        F.row_number().over(Window.orderBy("c_acctbal")).alias("rn"),
        F.count(F.lit(1)).over(Window.partitionBy()).alias("n"),
    )
    fences = r.agg(
        F.min("n").alias("n"),
        F.min(
            F.when(F.col("rn") == F.ceil(0.25 * F.col("n")), F.col("x"))
        ).alias("q1"),
        F.min(
            F.when(F.col("rn") == F.ceil(0.75 * F.col("n")), F.col("x"))
        ).alias("q3"),
    ).select(
        "n",
        "q1",
        "q3",
        (F.col("q1") - 1.5 * (F.col("q3") - F.col("q1"))).alias("lo_fence"),
        (F.col("q3") + 1.5 * (F.col("q3") - F.col("q1"))).alias("hi_fence"),
    )
    return (
        c.crossJoin(F.broadcast(fences))
        .groupBy("n", "q1", "q3", "lo_fence", "hi_fence")
        .agg(
            F.count(
                F.when(F.col("c_acctbal") < F.col("lo_fence"), 1)
            ).alias("n_low"),
            F.count(
                F.when(F.col("c_acctbal") > F.col("hi_fence"), 1)
            ).alias("n_high"),
        )
    )


_H2D_BINS = 8


@register(
    "profile_histogram_2d",
    oracle=f"""
    WITH mm AS (
      SELECT MIN(l_quantity) AS qlo, MAX(l_quantity) AS qhi,
             MIN(l_discount) AS dlo, MAX(l_discount) AS dhi
      FROM lineitem
    )
    SELECT LEAST(FLOOR((l_quantity - qlo) / (qhi - qlo) * {_H2D_BINS}),
                 {_H2D_BINS - 1})::BIGINT AS qbin,
           LEAST(FLOOR((l_discount - dlo) / (dhi - dlo) * {_H2D_BINS}),
                 {_H2D_BINS - 1})::BIGINT AS dbin,
           COUNT(*) AS cnt
    FROM lineitem, mm
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
)
def profile_histogram_2d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Joint 2-D histogram of a feature pair (quantity × discount) — the
    cross-distribution a feature-drift monitor or a mutual-information
    screen starts from; the 1-D marginals (`profile_histogram`) cannot
    expose interactions.  Same np.histogram bin semantics (max value in
    the last bin), same shape: 1-row min/max frame broadcast into a
    map-side bucket aggregate — one scan, no wide shuffle, at most
    bins² output rows at any data size."""
    li = load_table(spark, sf_dir, "lineitem")
    mm = li.agg(
        F.min("l_quantity").alias("qlo"),
        F.max("l_quantity").alias("qhi"),
        F.min("l_discount").alias("dlo"),
        F.max("l_discount").alias("dhi"),
    )

    def bucket(col: str, lo: str, hi: str):
        return F.least(
            F.floor(
                (F.col(col) - F.col(lo))
                / (F.col(hi) - F.col(lo))
                * _H2D_BINS
            ),
            F.lit(_H2D_BINS - 1).cast("bigint"),
        )

    return (
        li.crossJoin(F.broadcast(mm))
        .groupBy(
            bucket("l_quantity", "qlo", "qhi").alias("qbin"),
            bucket("l_discount", "dlo", "dhi").alias("dbin"),
        )
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy("qbin", "dbin")
    )


@register(
    "profile_autocorr",
    oracle="""
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS day, COUNT(*) AS c
      FROM events GROUP BY 1
    ),
    lagged AS (
      SELECT c AS x,
             LEAD(c) OVER (ORDER BY day) AS y
      FROM daily
    ),
    m AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS np,
             CAST(SUM(x) AS BIGINT) AS sx,
             CAST(SUM(y) AS BIGINT) AS sy,
             CAST(SUM(x * x) AS BIGINT) AS sxx,
             CAST(SUM(y * y) AS BIGINT) AS syy,
             CAST(SUM(x * y) AS BIGINT) AS sxy
      FROM lagged WHERE y IS NOT NULL
    )
    SELECT np AS n_pairs,
           CAST(np * sxy - sx * sy AS BIGINT) AS cov_num,
           CAST(np * sxx - sx * sx AS BIGINT) AS var_x_num,
           CAST(np * syy - sy * sy AS BIGINT) AS var_y_num,
           CAST(np * sxy - sx * sy AS DOUBLE)
             / sqrt(CAST(np * sxx - sx * sx AS DOUBLE)
                    * CAST(np * syy - sy * sy AS DOUBLE)) AS r1
    FROM m
    """,
)
def profile_autocorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lag-1 autocorrelation of the daily event-count series — the
    seasonality/trend screen a feed monitor runs (r1 ≈ 0 for memoryless
    arrivals, near 1 for trending volume, negative for alternating load).
    Every moment is an INTEGER sum over integer daily counts; the only
    doubles are the final sqrt (correctly-rounded IEEE on identical
    integer inputs) and one division — bit-exact across engines, unlike
    any naive mean-centered float formulation.

    Scale shape: the raw scan reduces to |days| rows before the (tiny)
    ordered window; the moment reduction is one aggregate."""
    from pyspark.sql import Window as W

    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.col("ts").cast("date").alias("day")
    ).agg(F.count(F.lit(1)).alias("c"))
    lagged = daily.select(
        F.col("c").alias("x"),
        F.lead("c").over(W.orderBy("day")).alias("y"),
    ).filter(F.col("y").isNotNull())
    m = lagged.agg(
        F.count(F.lit(1)).alias("np"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    np_, sx, sy = F.col("np"), F.col("sx"), F.col("sy")
    sxx, syy, sxy = F.col("sxx"), F.col("syy"), F.col("sxy")
    cov = np_ * sxy - sx * sy
    vx = np_ * sxx - sx * sx
    vy = np_ * syy - sy * sy
    return m.select(
        np_.alias("n_pairs"),
        cov.cast("bigint").alias("cov_num"),
        vx.cast("bigint").alias("var_x_num"),
        vy.cast("bigint").alias("var_y_num"),
        (
            cov.cast("double")
            / F.sqrt(vx.cast("double") * vy.cast("double"))
        ).alias("r1"),
    )


# --- deterministic bootstrap confidence interval -------------------------------

_BOOT_B = 32  # bootstrap replicas


@register(
    "profile_bootstrap_ci",
    oracle=f"""
    WITH o AS MATERIALIZED (
      SELECT o_totalprice AS y,
             ROW_NUMBER() OVER (ORDER BY o_orderkey) - 1 AS rk
      FROM orders WHERE o_orderkey IS NOT NULL
    ),
    n AS (SELECT COUNT(*) AS n FROM o),
    d AS MATERIALIZED (
      SELECT CAST(i.id // n.n AS INTEGER) AS b,
             CAST(('0x' || substr(md5((i.id % n.n) || ':'
                   || (i.id // n.n) || ':boot'), 1, 8))::BIGINT % n.n
                 AS BIGINT) AS rk
      FROM n, LATERAL (SELECT unnest(range(0, n.n * {_BOOT_B})) AS id) i
    )
    SELECT d.b AS replica,
           COUNT(*) AS n_draws,
           COUNT(o.y) AS n_nonnull,
           CAST(SUM(CAST(o.y AS DECIMAL(18,2))) AS DOUBLE) / COUNT(o.y)
               AS mean_price
    FROM d JOIN o ON o.rk = d.rk
    GROUP BY d.b ORDER BY d.b
    """,
)
def profile_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DETERMINISTIC bootstrap — the resampling engine behind every error
    bar, made reproducible and engine-independent: replica b's j-th draw
    picks the row ranked md5(j:b) % n, so the full multinomial resample
    is a pure function of (row rank, replica) with no RNG state; the
    {_BOOT_B} replica means are exact-decimal sums with ONE double
    division each, and their spread IS the standard-error estimate (the
    caller reads min/max/stddev of the replica column).  Seeded RNG
    bootstraps are reproducible on one engine but never across engines —
    hash-derived draws are the cross-engine form.

    Scale shape: the draw relation is synthesized (range(n·B) — no data
    explosion, just ids), joined to the ranked rows on the rank key (one
    hash shuffle), then a {_BOOT_B}-group aggregation.  The global
    ROW_NUMBER rank is the demo's single sort; at 100 TB ranks come from
    a range-partitioned zipWithIndex-style assignment (per-partition
    offsets from one count pass), no global sort."""
    from pyspark.sql import Window

    o = materialize_once(
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey").isNotNull())
        .select(
            F.col("o_totalprice").alias("y"),
            (
                F.row_number().over(Window.orderBy("o_orderkey")) - 1
            ).alias("rk"),
        )
    )
    n = o.count()
    d = (
        spark.range(n * _BOOT_B)
        .select(
            (F.col("id") / n).cast("int").alias("b"),
            F.conv(
                F.substring(
                    F.md5(
                        F.concat_ws(
                            ":",
                            (F.col("id") % n).cast("long"),
                            (F.col("id") / n).cast("int"),
                            F.lit("boot"),
                        )
                    ),
                    1,
                    8,
                ),
                16,
                10,
            )
            .cast("long")
            .__mod__(n)
            .alias("rk"),
        )
    )
    return (
        d.join(o, "rk")
        .groupBy(F.col("b").alias("replica"))
        .agg(
            F.count(F.lit(1)).alias("n_draws"),
            F.count("y").alias("n_nonnull"),
            (
                F.sum(F.col("y").cast("decimal(18,2)")).cast("double")
                / F.count("y")
            ).alias("mean_price"),
        )
        .orderBy("replica")
    )
