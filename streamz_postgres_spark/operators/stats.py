"""Statistical aggregates: correlation / covariance / regression
slope (algebraic over exact sums — order-independent) and
interpolated percentiles.

The SDF layer's var/std family (SURVEY §2.5) generalizes here: all
second-moment statistics reduce to the five exact decimal sums
(n, Sx, Sy, Sxx, Syy, Sxy), so a 10,000-partition cluster run and
the single-threaded oracle produce identical doubles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from streamz_postgres_spark.catalog import load_table
from streamz_postgres_spark.functions.kll import (
    KLL_ORACLE_SQL,
    calibrated_readout,
    kll_sketch,
    sketch_estimates,
)
from streamz_postgres_spark.functions.numeric import (
    dsum,
    qround,
    sql_dsum,
    sql_qround,
)
from streamz_postgres_spark.registry import register


@register(
    "q_stats_corr",
    oracle=f"""
SELECT l_returnflag,
       n,
       (n * sxy - sx * sy) / (n * sxx - sx * sx) AS regr_slope_price_qty,
       (CAST(FLOOR(((n * sxy - sx * sy)
         / (SQRT(GREATEST(n * sxx - sx * sx, 0.0))
            * SQRT(GREATEST(n * syy - sy * sy, 0.0))))
         * 10000000000.0 + 0.5) AS DOUBLE) / 10000000000.0)
         AS corr_qty_price,
       (sxy - sx * sy / n) / (n - 1) AS covar_samp_qty_price
FROM (
  SELECT l_returnflag,
         CAST(COUNT(*) AS DOUBLE) AS n,
         {sql_dsum('l_quantity')} AS sx,
         {sql_dsum('l_extendedprice')} AS sy,
         {sql_dsum('l_quantity * l_quantity')} AS sxx,
         {sql_dsum('l_extendedprice * l_extendedprice')} AS syy,
         {sql_dsum('l_quantity * l_extendedprice')} AS sxy
  FROM lineitem
  GROUP BY l_returnflag
) m
""",
    tags=("agg", "stats"),
)
def q_stats_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlation, sample covariance and regression slope of
    (quantity, price) per return flag, from the five exact sums —
    one partial-aggregating shuffle of 5 decimals per group.
    corr goes through qround(10): the sqrt-product denominator is
    subject to engine-side FP contraction differences at 1 ulp."""
    li = load_table(spark, sf_dir, "lineitem")
    x, y = F.col("l_quantity"), F.col("l_extendedprice")
    m = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        dsum(x).alias("sx"),
        dsum(y).alias("sy"),
        dsum(x * x).alias("sxx"),
        dsum(y * y).alias("syy"),
        dsum(x * y).alias("sxy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxx, syy, sxy = F.col("sxx"), F.col("syy"), F.col("sxy")
    # try_divide throughout: a single-row group has an exactly-zero
    # variance denominator (exact decimal sums, not FP residue), and
    # DuckDB's x/0 is NULL while Spark's ANSI / raises
    # (degenerate-cardinality sweep). n > 0 always here (groups have
    # rows), so the inner sx*sy/n division stays plain.
    return m.select(
        "l_returnflag",
        "n",
        F.try_divide(n * sxy - sx * sy, n * sxx - sx * sx).alias(
            "regr_slope_price_qty"
        ),
        # GREATEST clamp before sqrt: micro-quantized sxx can sit one
        # micro-unit BELOW sx*sx/n, and DuckDB hard-errors on
        # sqrt(negative) while Spark yields NaN — the term is
        # mathematically >= 0, so clamping only rewrites the
        # would-be-error case to the NULL the zero-variance case
        # already produces (degenerate-cardinality sweep class).
        qround(
            F.try_divide(
                n * sxy - sx * sy,
                F.sqrt(F.greatest(n * sxx - sx * sx, F.lit(0.0)))
                * F.sqrt(F.greatest(n * syy - sy * sy, F.lit(0.0))),
            ),
            10,
        ).alias("corr_qty_price"),
        F.try_divide(sxy - sx * sy / n, n - F.lit(1.0)).alias(
            "covar_samp_qty_price"
        ),
    )


@register(
    "q_approx_quantile",
    oracle=f"""
SELECT l_returnflag,
       {sql_qround('quantile_cont(l_extendedprice, 0.5)', 4)} AS p50_exact,
       TRUE AS p50_ok,
       TRUE AS p99_ok
FROM lineitem
GROUP BY l_returnflag
""",
    tags=("agg", "stats", "approx"),
)
def q_approx_quantile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greenwald-Khanna approximate percentiles next to their exact
    values — the constant-memory sketch that replaces exact
    percentile sorts at 100 TB (like q_approx_distinct for counts).

    The GK estimate is engine-specific, so the query self-checks it
    against its rank-error guarantee instead of emitting the raw
    value: with accuracy=1000 the returned element's rank is within
    n/1000 of the target, so its VALUE must lie inside the exact
    [q-0.01, q+0.01] quantile bracket (10× looser than the
    guarantee). ``p50_ok``/``p99_ok`` assert that; the oracle pins
    the exact median and expects both flags TRUE."""
    li = load_table(spark, sf_dir, "lineitem")
    # ONE exact-percentile buffer and ONE GK sketch per group (r13,
    # guide §2.3): percentile()/percentile_approx() accept an ARRAY
    # of percentages and return the same values as separate calls,
    # but each separate call built and shuffled its own per-group
    # value buffer / sketch — this was 4 exact sorts + 2 sketches
    # per group where 1 + 1 suffices (measured ~7 s CPU -> ~2.5 s).
    agg = li.groupBy("l_returnflag").agg(
        F.percentile_approx(
            "l_extendedprice",
            F.array(F.lit(0.5), F.lit(0.99)),
            F.lit(1000),
        ).alias("_apx"),
        F.percentile(
            "l_extendedprice",
            F.array(F.lit(0.5), F.lit(0.49), F.lit(0.51), F.lit(0.98)),
        ).alias("_ex"),
        F.max("l_extendedprice").alias("_p100"),
    )
    return agg.select(
        "l_returnflag",
        qround(F.col("_ex")[0], 4).alias("p50_exact"),
        F.col("_apx")[0]
        .between(F.col("_ex")[1], F.col("_ex")[2])
        .alias("p50_ok"),
        F.col("_apx")[1]
        .between(F.col("_ex")[3], F.col("_p100"))
        .alias("p99_ok"),
    )


@register(
    "q_sample",
    oracle=f"""
SELECT l_returnflag,
       COUNT(*) AS n_sampled,
       {sql_dsum('l_quantity')} AS sum_qty_sampled
FROM lineitem
WHERE substr(md5(CAST(l_orderkey AS VARCHAR) || '|'
                 || CAST(l_linenumber AS VARCHAR)), 1, 4) < '199a'
GROUP BY l_returnflag
""",
    tags=("relational", "approx"),
)
def q_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic ~10% Bernoulli sample + aggregate — the
    profiling primitive for 100 TB exploration (sample-then-estimate
    instead of full scans).

    The sample predicate is a content hash (first 16 bits of
    md5(primary key) under a fixed threshold), not an RNG: identical
    row sets on every engine, every rerun, and every task RETRY —
    `.sample(seed=...)` is only stable per-partitioning, so a 100 TB
    job that loses an executor can silently resample; the hash form
    cannot. It also pushes down as an ordinary filter. Both engines
    compute the same lowercase-hex md5, so the driver value-checks
    the sampled aggregate exactly."""
    li = load_table(spark, sf_dir, "lineitem")
    key = F.concat_ws(
        "|",
        F.col("l_orderkey").cast("string"),
        F.col("l_linenumber").cast("string"),
    )
    return (
        li.filter(F.substring(F.md5(key), 1, 4) < "199a")
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n_sampled"),
            dsum("l_quantity").alias("sum_qty_sampled"),
        )
    )


@register(
    "q_percentile",
    oracle=f"""
SELECT l_returnflag,
       {sql_qround('quantile_cont(l_extendedprice, 0.5)', 4)} AS p50,
       {sql_qround('quantile_cont(l_extendedprice, 0.9)', 4)} AS p90,
       {sql_qround('quantile_cont(l_extendedprice, 0.99)', 4)} AS p99,
       MAX(l_extendedprice) AS p100
FROM lineitem
GROUP BY l_returnflag
""",
    tags=("agg", "stats"),
)
def q_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles per group (both engines use
    the same lo + frac*(hi-lo) continuous definition; compared via
    qround(4) to absorb last-ulp interpolation differences). At
    100 TB the approximate twin is percentile_approx (see
    q_approx_distinct for the sketch-based pattern)."""
    li = load_table(spark, sf_dir, "lineitem")
    # ONE percentile buffer per group (r14, guide §2.3 — the proven
    # q_approx_quantile fold): percentile() with an ARRAY of
    # percentages computes all three ranks from the same per-group
    # value buffer and returns the identical interpolated doubles as
    # three separate calls — but three separate calls each built and
    # shuffled their own independent buffer of every group value.
    agg = li.groupBy("l_returnflag").agg(
        F.percentile(
            "l_extendedprice",
            F.array(F.lit(0.5), F.lit(0.9), F.lit(0.99)),
        ).alias("_p"),
        F.max("l_extendedprice").alias("p100"),
    )
    return agg.select(
        "l_returnflag",
        qround(F.col("_p")[0], 4).alias("p50"),
        qround(F.col("_p")[1], 4).alias("p90"),
        qround(F.col("_p")[2], 4).alias("p99"),
        "p100",
    )


# -- winsorization ----------------------------------------------------------


@register(
    "q_winsorize",
    oracle=f"""
WITH st AS (
  SELECT event_type,
         {sql_qround('quantile_cont(value, 0.05)', 6)} AS lo,
         {sql_qround('quantile_cont(value, 0.95)', 6)} AS hi
  FROM events GROUP BY event_type
)
SELECT e.event_id, e.event_type, e.value,
       LEAST(GREATEST(e.value, st.lo), st.hi) AS clamped
FROM events e JOIN st ON e.event_type = st.event_type
""",
    tags=("agg", "stats", "pipeline"),
)
def q_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorization: clamp every value into its group's [p5, p95]
    band — the outlier-taming transform applied to reward/metric
    columns before they feed averages or training losses. Two-pass
    shape: a per-group exact-percentile agg (5 rows out), then a
    broadcast join + pure least/greatest map — no window over the
    fact table, no second shuffle. At 100 TB swap the exact
    percentile for percentile_approx (q_stats_histogram_approx is
    the registered, rank-audited form of this swap); the clamp
    pass is unchanged.
    Band edges go through qround(6) (interpolation ulp guard);
    clamped values are either the untouched input double or a band
    edge, so the output is bit-stable."""
    e = load_table(spark, sf_dir, "events")
    # one percentile buffer for both band edges (r14, guide §2.3 —
    # the q_approx_quantile array fold; identical interpolated
    # doubles, half the per-group aggregation state)
    st = e.groupBy(F.col("event_type").alias("g")).agg(
        F.percentile(
            "value", F.array(F.lit(0.05), F.lit(0.95))
        ).alias("_p")
    ).select(
        "g",
        qround(F.col("_p")[0], 6).alias("lo"),
        qround(F.col("_p")[1], 6).alias("hi"),
    )
    return (
        e.join(F.broadcast(st), F.col("event_type") == F.col("g"))
        .select(
            "event_id",
            "event_type",
            "value",
            F.least(F.greatest(F.col("value"), F.col("lo")), F.col("hi"))
            .alias("clamped"),
        )
    )


# -- two-sample hypothesis test ---------------------------------------------


@register(
    "q_abtest_welch",
    oracle=f"""
WITH m AS (
  SELECT event_type,
         CAST(user_id % 2 AS BIGINT) AS variant,
         CAST(COUNT(*) AS DOUBLE) AS n,
         {sql_dsum('value')} AS sx,
         {sql_dsum('value * value')} AS sxx
  FROM events
  GROUP BY event_type, variant
)
SELECT a.event_type,
       CAST(a.n AS BIGINT) AS n_control,
       CAST(b.n AS BIGINT) AS n_treat,
       {sql_qround('(b.sx / b.n) - (a.sx / a.n)', 9)} AS lift,
       {sql_qround(
           '((b.sx / b.n) - (a.sx / a.n))'
           ' / SQRT(GREATEST('
           '((a.sxx - a.sx * a.sx / a.n) / (a.n - 1)) / a.n'
           '      + ((b.sxx - b.sx * b.sx / b.n) / (b.n - 1)) / b.n, 0.0))', 9)}
         AS t_welch
FROM m a JOIN m b ON a.event_type = b.event_type
WHERE a.variant = 0 AND b.variant = 1
""",
    tags=("agg", "stats"),
)
def q_abtest_welch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch two-sample t statistic per event type, variant assigned
    by user-id parity (the deterministic stand-in for an experiment
    bucket column): mean lift and its t value from the five exact
    per-arm sums. One partial-aggregating shuffle of 3 decimals per
    (type, arm); the 2×|types| moment table then self-joins
    broadcast-size. This is the experiment-readout pattern at 100 TB:
    moments reduce map-side, the test statistic is O(arms) driver-
    free arithmetic, qround(9) pins the sqrt/division ulp."""
    e = load_table(spark, sf_dir, "events")
    m = e.groupBy(
        "event_type", (F.col("user_id") % 2).cast("bigint").alias("variant")
    ).agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        dsum("value").alias("sx"),
        dsum(F.col("value") * F.col("value")).alias("sxx"),
    )
    a = m.filter(F.col("variant") == 0).select(
        "event_type",
        F.col("n").alias("n0"),
        F.col("sx").alias("sx0"),
        F.col("sxx").alias("sxx0"),
    )
    b = m.filter(F.col("variant") == 1).select(
        F.col("event_type").alias("et_b"),
        F.col("n").alias("n1"),
        F.col("sx").alias("sx1"),
        F.col("sxx").alias("sxx1"),
    )
    j = a.join(F.broadcast(b), F.col("event_type") == F.col("et_b"))
    m0 = F.col("sx0") / F.col("n0")
    m1 = F.col("sx1") / F.col("n1")
    # try_divide + GREATEST: an n = 1 arm zeroes the (n - 1) sample
    # denominator (DuckDB /0 -> NULL; ANSI / raises), and the
    # quantized variance can sit a micro-unit below zero where DuckDB
    # hard-errors on sqrt(negative) while Spark yields NaN — both are
    # the degenerate-cardinality sweep class; the clamp only rewrites
    # would-be-error cases to the NULL the engines then agree on.
    # NULL-vs-0 note: GREATEST *skips* NULLs on both engines, so a
    # NULL variance (n = 1 arm) clamps to 0 -> /0 -> NULL t on both.
    v0 = F.try_divide(
        F.col("sxx0") - F.col("sx0") * F.col("sx0") / F.col("n0"),
        F.col("n0") - 1,
    )
    v1 = F.try_divide(
        F.col("sxx1") - F.col("sx1") * F.col("sx1") / F.col("n1"),
        F.col("n1") - 1,
    )
    t = F.try_divide(
        m1 - m0,
        F.sqrt(
            F.greatest(v0 / F.col("n0") + v1 / F.col("n1"), F.lit(0.0))
        ),
    )
    return j.select(
        "event_type",
        F.col("n0").cast("bigint").alias("n_control"),
        F.col("n1").cast("bigint").alias("n_treat"),
        qround(m1 - m0, 9).alias("lift"),
        qround(t, 9).alias("t_welch"),
    )


# -- robust dispersion ------------------------------------------------------


@register(
    "q_mad",
    oracle=f"""
WITH med AS (
  SELECT event_type,
         {sql_qround('quantile_cont(value, 0.5)', 6)} AS median_value
  FROM events GROUP BY event_type
)
SELECT e.event_type,
       CAST(COUNT(*) AS BIGINT) AS n,
       med.median_value,
       {sql_qround('quantile_cont(ABS(e.value - med.median_value), 0.5)', 6)}
         AS mad
FROM events e JOIN med ON e.event_type = med.event_type
GROUP BY e.event_type, med.median_value
""",
    tags=("agg", "stats"),
)
def q_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median absolute deviation per group — the robust scale
    estimate that pairs with q_rolling_median (stddev is hostage to
    the same outliers it's meant to flag). Two percentile passes:
    group medians (tiny), broadcast back, median of absolute
    residuals. Same two-scan shape as q_winsorize; at 100 TB both
    percentiles downgrade gracefully to percentile_approx. The
    median is qround(6)-pinned BEFORE residuals so both engines
    subtract the identical double."""
    e = load_table(spark, sf_dir, "events")
    med = e.groupBy(F.col("event_type").alias("g")).agg(
        qround(F.percentile("value", F.lit(0.5)), 6).alias("median_value")
    )
    return (
        e.join(F.broadcast(med), F.col("event_type") == F.col("g"))
        .groupBy("event_type", "median_value")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            qround(
                F.percentile(
                    F.abs(F.col("value") - F.col("median_value")), F.lit(0.5)
                ),
                6,
            ).alias("mad"),
        )
        .select("event_type", "n", "median_value", "mad")
    )


# -- serial correlation -----------------------------------------------------

_AUTOCORR_MIN_N = 10


@register(
    "q_autocorr",
    oracle=f"""
WITH pairs AS (
  SELECT user_id, value AS y,
         lag(value) OVER (PARTITION BY user_id ORDER BY event_id) AS x
  FROM events
),
m AS (
  SELECT user_id,
         CAST(COUNT(*) AS DOUBLE) AS n,
         {sql_dsum('x')} AS sx, {sql_dsum('y')} AS sy,
         {sql_dsum('x * x')} AS sxx, {sql_dsum('y * y')} AS syy,
         {sql_dsum('x * y')} AS sxy
  FROM pairs WHERE x IS NOT NULL
  GROUP BY user_id
)
SELECT user_id, CAST(n AS BIGINT) AS n_pairs,
       {sql_qround(
           '(n * sxy - sx * sy)'
           ' / (SQRT(n * sxx - sx * sx) * SQRT(n * syy - sy * sy))', 9)}
         AS r1
FROM m
WHERE n >= {_AUTOCORR_MIN_N}
  AND (n * sxx - sx * sx) > 0 AND (n * syy - sy * sy) > 0
""",
    tags=("stats", "window", "timeseries"),
)
def q_autocorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lag-1 autocorrelation of each user's value sequence — the
    one-number diagnostic separating trending/sticky series from
    white noise (and the screen for 'is a changepoint test even
    worth running'). One key-partitioned lag window builds the
    (x_{{t-1}}, x_t) pairs, then the correlation is algebraic over
    the five exact decimal sums (same machinery as q_stats_corr) —
    shuffle payload is 5 decimals per user. Degenerate (zero-
    variance) series are filtered, short series gated at
    n >= {_AUTOCORR_MIN_N}."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("event_id")
    pairs = e.select(
        "user_id",
        F.col("value").alias("y"),
        F.lag("value").over(w).alias("x"),
    ).filter(F.col("x").isNotNull())
    x, y = F.col("x"), F.col("y")
    m = pairs.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        dsum(x).alias("sx"), dsum(y).alias("sy"),
        dsum(x * x).alias("sxx"), dsum(y * y).alias("syy"),
        dsum(x * y).alias("sxy"),
    )
    n = F.col("n")
    vx = n * F.col("sxx") - F.col("sx") * F.col("sx")
    vy = n * F.col("syy") - F.col("sy") * F.col("sy")
    r1 = (n * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.sqrt(vx) * F.sqrt(vy)
    )
    return (
        m.filter((n >= _AUTOCORR_MIN_N) & (vx > 0) & (vy > 0))
        .select(
            "user_id",
            n.cast("bigint").alias("n_pairs"),
            qround(r1, 9).alias("r1"),
        )
    )


# -- forensic digit-distribution audit --------------------------------------

_BENFORD_EXP = "LN(1.0 + 1.0 / d) / LN(10.0)"


@register(
    "q_benford",
    oracle=f"""
WITH cents AS (
  SELECT CAST(FLOOR(o_totalprice * 100.0 + 0.5) AS BIGINT) AS c
  FROM orders WHERE o_totalprice > 0
),
digits AS (
  SELECT CAST(substr(CAST(c AS VARCHAR), 1, 1) AS BIGINT) AS d,
         CAST(COUNT(*) AS BIGINT) AS n_obs
  FROM cents GROUP BY 1
),
tot AS (SELECT CAST(SUM(n_obs) AS DOUBLE) AS n FROM digits)
SELECT d, n_obs,
       {sql_qround(f'tot.n * ({_BENFORD_EXP})', 6)} AS n_expected,
       {sql_qround(
           f'(CAST(n_obs AS DOUBLE) - tot.n * ({_BENFORD_EXP}))'
           f' * (CAST(n_obs AS DOUBLE) - tot.n * ({_BENFORD_EXP}))'
           f' / (tot.n * ({_BENFORD_EXP}))', 6)} AS chi2_term
FROM digits CROSS JOIN tot
""",
    tags=("stats", "quality"),
)
def q_benford(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law audit of order totals: observed vs expected
    leading-digit counts plus per-digit chi-square terms — the
    forensic data-quality screen for fabricated or truncated numeric
    columns (synthetic uniform data fails it loudly, which is itself
    the diagnostic). The leading digit comes from the INTEGER cents
    string, never floor(log10(x)): log10's last-ulp error flips the
    digit at exact powers of ten, while integer→string is identical
    in every engine. One map + 9-row agg; expectations and chi-square
    go through qround(6) (ln ulp guard)."""
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 0)
    cents = o.select(
        F.floor(F.col("o_totalprice") * 100.0 + 0.5).cast("bigint").alias("c")
    )
    digits = cents.select(
        F.substring(F.col("c").cast("string"), 1, 1).cast("bigint").alias("d")
    ).groupBy("d").agg(F.count(F.lit(1)).cast("bigint").alias("n_obs"))
    tot = digits.agg(F.sum("n_obs").cast("double").alias("n"))
    expected = F.col("n") * (
        F.log(1.0 + 1.0 / F.col("d")) / F.log(F.lit(10.0))
    )
    obs = F.col("n_obs").cast("double")
    return (
        digits.crossJoin(F.broadcast(tot))
        .select(
            "d",
            "n_obs",
            qround(expected, 6).alias("n_expected"),
            qround((obs - expected) * (obs - expected) / expected, 6).alias(
                "chi2_term"
            ),
        )
    )


# -- per-segment OLS trend --------------------------------------------------

#: epoch BEFORE every fixture row, so all diffs are positive —
#: DuckDB's date_diff floors while Spark's timestampdiff truncates
#: toward zero, and the two only agree on non-negative differences
#: (verified: a centered epoch diverges by 1s on every pre-epoch
#: fractional timestamp). x stays INTEGER seconds (per-row
#: casts of x and x*value to decimal(38,6) are the proven dsum
#: pattern); only the x^2 term is pre-scaled by 2^24 — an EXACT
#: dyadic division whose finite decimal expansion both engines
#: quantize identically — so its decimal SUM stays below 2^53
#: decimal units and the final decimal->double cast is lossless.
#: Without the scaling, sum(x^2) in raw seconds exceeds double
#: integer range and the engines' decimal->double conversions round
#: the huge value differently (observed: one-ulp slope divergence).
#: Bound: sxx exact through ~sf0.1, the plain sx sum through
#: ~sf0.01 month-span fixtures (the oracle gate's scale); longer
#: spans or bigger corpora raise the dyadic scales (documented, not
#: silent).
_TREND_EPOCH = "2024-01-01 00:00:00"
_TREND_XX_SCALE = 16777216.0  # 2^24
# sxy gets the same power-of-two pre-scale discipline as sxx: an
# exact exponent shift (no mantissa change), so quantization happens
# on a bit-identical double in both engines while keeping
# |x*value/S| inside the micro6 floor bound (numeric.py: |x| <
# 9.2e12). Without it, a decades-from-epoch timestamp times a
# ~1e5-magnitude value overflows the BIGINT floor on the Spark side
# only (v2 hostile-fixture find: pre-epoch x magnitude class).
_TREND_XY_SCALE = 65536.0  # 2^16

_SQL_TREND_X = (
    f"CAST(date_diff('second', TIMESTAMP '{_TREND_EPOCH}', ts) AS DOUBLE)"
)


@register(
    "q_trend_ols",
    oracle=f"""
WITH m AS (
  SELECT event_type,
         CAST(COUNT(*) AS DOUBLE) AS n,
         {sql_dsum(_SQL_TREND_X)} AS sx,
         {sql_dsum('value')} AS sy,
         {sql_dsum(f'{_SQL_TREND_X} * value / {_TREND_XY_SCALE!r}')} AS sxy_s,
         {sql_dsum(f'{_SQL_TREND_X} * {_SQL_TREND_X} / {_TREND_XX_SCALE!r}')}
           AS sxx_s
  FROM events
  GROUP BY event_type
)
SELECT event_type,
       CAST(n AS BIGINT) AS n_events,
       (n * (sxy_s * {_TREND_XY_SCALE!r}) - sx * sy)
         / (n * (sxx_s * {_TREND_XX_SCALE!r}) - sx * sx)
         AS slope_per_sec,
       (sy - (n * (sxy_s * {_TREND_XY_SCALE!r}) - sx * sy)
             / (n * (sxx_s * {_TREND_XX_SCALE!r}) - sx * sx) * sx) / n
         AS intercept_at_epoch
FROM m
""",
    tags=("stats", "timeseries"),
)
def q_trend_ols(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-segment least-squares trend: slope and intercept of value
    against event time (seconds from a centered epoch) for every
    event type — the 'is this metric drifting, and in which segment?'
    readout. Five exact decimal moments per group (see the scaling
    note above _TREND_EPOCH), then the closed form evaluated in the
    identical expression order in both engines — slopes hash-match
    to the last bit. One partial-agg shuffle of 5 decimals per group
    at any scale; the q_autocorr/q_zipf_fit moment pattern extended
    to the time axis. Intercept is the fitted value at the epoch."""
    e = load_table(spark, sf_dir, "events")
    x = F.expr(
        f"timestampdiff(SECOND, TIMESTAMP_NTZ '{_TREND_EPOCH}', ts)"
    ).cast("double")
    m = e.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        dsum(x).alias("sx"),
        dsum("value").alias("sy"),
        dsum(x * F.col("value") / _TREND_XY_SCALE).alias("sxy_s"),
        dsum(x * x / _TREND_XX_SCALE).alias("sxx_s"),
    )
    sxx = F.col("sxx_s") * _TREND_XX_SCALE
    sxy = F.col("sxy_s") * _TREND_XY_SCALE
    slope = (F.col("n") * sxy - F.col("sx") * F.col("sy")) / (
        F.col("n") * sxx - F.col("sx") * F.col("sx")
    )
    intercept = (F.col("sy") - slope * F.col("sx")) / F.col("n")
    return m.select(
        "event_type",
        F.col("n").cast("bigint").alias("n_events"),
        slope.alias("slope_per_sec"),
        intercept.alias("intercept_at_epoch"),
    )


@register(
    "q_kll_quantile",
    oracle=KLL_ORACLE_SQL,
    tags=("stats", "sketch", "agg"),
)
def q_kll_quantile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BATCH mergeable KLL percentiles, the batch twin of
    q_stream_kll_quantile: Spark's native KLL sketch
    (``kll_sketch_agg_double``, k = 256) per event type, a two-phase
    aggregate whose partial sketches are built before the shuffle,
    so the exchange carries kilobyte sketches per (task, type)
    instead of the value multiset (like q_hll_partial for counts).
    The p50/p90 estimates are then self-calibrated against the exact
    order statistics exactly as in the streaming twin (shared
    functions/kll.py calibrated_readout; same oracle). At 100 TB the
    sketch path shuffles O(tasks x types) KB while the audit side's
    O(n) multiset is dropped — the registered query keeps it because
    auditing IS the query (the q_ann_recall shape)."""
    e = load_table(spark, sf_dir, "events")
    sketches = e.groupBy("event_type").agg(kll_sketch("value").alias("sk"))
    return calibrated_readout(sketch_estimates(sketches), e)


# -- one-scan correlation matrix --------------------------------------------

_CORRM_MEASURES = ("l_quantity", "l_extendedprice", "l_discount", "l_tax")
_CORRM_PAIRS = tuple(
    (a, b)
    for i, a in enumerate(_CORRM_MEASURES)
    for b in _CORRM_MEASURES[i + 1 :]
)


def _sql_corrm_pair(x: str, y: str) -> str:
    # GREATEST clamp: same sqrt(quantization-negative) guard as
    # q_stats_corr (DuckDB errors, Spark NaN; the term is
    # mathematically >= 0)
    corr = (
        f"(n * s_{x}_{y} - s_{x} * s_{y}) "
        f"/ (SQRT(GREATEST(n * s_{x}_{x} - s_{x} * s_{x}, 0.0)) "
        f"* SQRT(GREATEST(n * s_{y}_{y} - s_{y} * s_{y}, 0.0)))"
    )
    return f"""SELECT '{x}' AS col_x, '{y}' AS col_y,
       CAST(n AS BIGINT) AS n,
       {sql_qround(corr, 10)} AS corr,
       (s_{x}_{y} - s_{x} * s_{y} / n) / (n - 1) AS covar_samp
FROM m"""


def _sql_corrm_union() -> str:
    return "\nUNION ALL\n".join(
        _sql_corrm_pair(x, y) for x, y in _CORRM_PAIRS
    )


def _sql_corrm_sums() -> str:
    sums = ["CAST(COUNT(*) AS DOUBLE) AS n"]
    for c in _CORRM_MEASURES:
        sums.append(f"{sql_dsum(c)} AS s_{c}")
        sums.append(f"{sql_dsum(f'{c} * {c}')} AS s_{c}_{c}")
    for x, y in _CORRM_PAIRS:
        sums.append(f"{sql_dsum(f'{x} * {y}')} AS s_{x}_{y}")
    return ",\n         ".join(sums)


@register(
    "q_corr_matrix",
    oracle=f"""
WITH m AS (
  SELECT {_sql_corrm_sums()}
  FROM lineitem
)
{_sql_corrm_union()}
ORDER BY col_x, col_y
""",
    tags=("agg", "stats", "profile"),
)
def q_corr_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full pairwise correlation matrix of the lineitem measures in
    ONE scan — the feature-redundancy screen a training pipeline
    runs before picking inputs (|corr| near 1 between two features
    means one is dead weight; q_stats_corr is the grouped single-
    pair deep-dive, this is the all-pairs survey). All 15 algebraic
    sums (count, 4 sums, 4 sum-of-squares, 6 cross-sums) ride a
    single partial-aggregating shuffle of exact decimals, then each
    of the 6 pairs is presented from the one-row frame
    (q_data_profile's unpivot shape). corr goes through qround(10)
    for the same sqrt-contraction reason as q_stats_corr; covariance
    and the sums are bit-exact. At 100 TB this is ONE pass over the
    fact table however many measures you add — the k x k matrix
    costs O(k^2) aggregate slots, not O(k^2) scans."""
    li = load_table(spark, sf_dir, "lineitem")
    aggs = [F.count(F.lit(1)).cast("double").alias("n")]
    for c in _CORRM_MEASURES:
        aggs.append(dsum(F.col(c)).alias(f"s_{c}"))
        aggs.append(dsum(F.col(c) * F.col(c)).alias(f"s_{c}_{c}"))
    for x, y in _CORRM_PAIRS:
        aggs.append(dsum(F.col(x) * F.col(y)).alias(f"s_{x}_{y}"))
    m = li.agg(*aggs)

    n = F.col("n")
    rows = None
    for x, y in _CORRM_PAIRS:
        sx, sy = F.col(f"s_{x}"), F.col(f"s_{y}")
        sxx, syy = F.col(f"s_{x}_{x}"), F.col(f"s_{y}_{y}")
        sxy = F.col(f"s_{x}_{y}")
        part = m.select(
            F.lit(x).alias("col_x"),
            F.lit(y).alias("col_y"),
            n.cast("bigint").alias("n"),
            # try_divide: n = 1 makes both denominators exactly 0
            # (DuckDB -> NULL, ANSI / -> raise); at n = 0 the inner
            # sx*sy/n numerator is already NULL so try_divide just
            # passes the NULL through like DuckDB does.
            qround(
                F.try_divide(
                    n * sxy - sx * sy,
                    F.sqrt(F.greatest(n * sxx - sx * sx, F.lit(0.0)))
                    * F.sqrt(F.greatest(n * syy - sy * sy, F.lit(0.0))),
                ),
                10,
            ).alias("corr"),
            F.try_divide(
                sxy - F.try_divide(sx * sy, n), n - F.lit(1.0)
            ).alias("covar_samp"),
        )
        rows = part if rows is None else rows.unionByName(part)
    return rows.orderBy("col_x", "col_y")


# -- equi-height histogram (ANALYZE-style stats) ------------------------------

_EQH_BUCKETS = 10
_EQH_QS = [i / _EQH_BUCKETS for i in range(1, _EQH_BUCKETS)]  # 0.1..0.9


@register(
    "q_stats_histogram",
    oracle=f"""
WITH bounds AS (
  SELECT list_transform(
           quantile_cont(o_totalprice, {_EQH_QS}),
           b -> {sql_qround('b', 4)}) AS bs
  FROM orders
), assigned AS (
  SELECT o.o_totalprice AS v,
         CAST(len(list_filter(b.bs, x -> x < o.o_totalprice)) AS INTEGER)
           AS bucket
  FROM orders o CROSS JOIN bounds b
)
SELECT bucket,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(COUNT(DISTINCT v) AS BIGINT) AS ndv,
       MIN(v) AS lo,
       MAX(v) AS hi
FROM assigned
GROUP BY bucket
ORDER BY bucket
""",
    tags=("stats", "agg"),
)
def q_stats_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-height histogram with per-bucket NDV over order totals —
    the ANALYZE/compute-statistics artifact a cost-based optimizer
    consumes for selectivity estimation (equal-height buckets bound
    the estimation error where equi-width ones collapse on skew;
    NDV per bucket is what prices equality predicates). Two passes:
    ONE aggregate computes all nine interior boundaries (exact
    interpolated percentiles, qround(4) on both engines so the
    bucket-assignment comparisons see identical doubles), broadcast
    as a single row; the assignment pass is a row-local
    filter-count against the broadcast array feeding a keyed
    aggregate. No global sort, no single-partition window — at
    100 TB swap the exact percentile for percentile_approx and the
    NDV for HLL partials; the read-out shape is unchanged."""
    o = load_table(spark, sf_dir, "orders")
    bounds = o.agg(
        F.transform(
            F.percentile(
                "o_totalprice",
                F.array(*[F.lit(q) for q in _EQH_QS]),
            ),
            lambda b: qround(b, 4),
        ).alias("bs")
    )
    assigned = o.crossJoin(F.broadcast(bounds)).select(
        F.col("o_totalprice").alias("v"),
        F.size(
            F.filter(F.col("bs"), lambda x: x < F.col("o_totalprice"))
        )
        .cast("int")
        .alias("bucket"),
    )
    return (
        assigned.groupBy("bucket")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.countDistinct("v").cast("bigint").alias("ndv"),
            F.min("v").alias("lo"),
            F.max("v").alias("hi"),
        )
        .orderBy("bucket")
    )


_EQH_ACCURACY = 10_000  # approx_percentile accuracy: rank error <= n/accuracy


@register(
    "q_stats_histogram_approx",
    oracle=f"""
WITH t AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM orders)
SELECT CAST(j.j AS INTEGER) AS j,
       CAST(j.j AS DOUBLE) / {_EQH_BUCKETS}.0 AS q,
       t.n AS n_total,
       CAST((j.j * t.n) // {_EQH_BUCKETS} AS BIGINT) AS target_rank,
       CAST(1 AS INTEGER) AS rank_in_bound,
       CAST(1 AS INTEGER) AS order_ok
FROM t JOIN (VALUES (1), (2), (3), (4), (5), (6), (7), (8), (9))
  AS j(j) ON TRUE
ORDER BY j
""",
    tags=("stats", "sketch", "scale"),
)
def q_stats_histogram_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-height histogram boundaries from APPROX_PERCENTILE with a
    self-calibrating bounds read-out — the 100 TB form
    q_stats_histogram's docstring promises (r8 verdict Next-round
    #3): the exact interpolated percentile is an all-data sort-ish
    aggregate, while approx_percentile is a mergeable
    Greenwald-Khanna sketch with a WORST-CASE rank guarantee
    |realized_rank(boundary_j) - target_rank_j| <= n/accuracy, which
    is exactly what makes the swap auditable. Sketch contents are
    not cross-engine reproducible (DuckDB has no GK twin), so the
    registered read-out is the q_kmv_distinct calibration pattern:
    per boundary, the EXACT target rank (checkable integers) plus a
    rank_in_bound flag — and an order_ok flag asserting the boundary
    array is non-decreasing. The GK guarantee promises only that SOME
    rank of the returned value is within n/accuracy of target, and on
    a duplicate-heavy column a value occupies the whole rank interval
    [COUNT(v < b)+1, COUNT(v <= b)] — so the flag checks that this
    interval INTERSECTS [target-tol, target+tol] (both endpoint
    counts from one row-local pass against the broadcast boundary
    array, +1 slack for the floor/ceil convention), not that the
    maximum rank alone lands in band (the r9 advisor's find: the
    max-rank convention is sound on near-distinct columns like
    o_totalprice but would mis-flag a guarantee-meeting sketch on a
    low-cardinality column). The oracle emits the flags as literal 1:
    a boundary outside its guaranteed rank band fails the VALUE gate,
    not just a test. One sketch aggregate + one counting pass, both
    mergeable map-side; nothing sorts, nothing is quadratic; the
    exact key (q_stats_histogram) stays registered as the
    calibration oracle for bucket shape itself."""
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_totalprice").alias("v")
    )
    bounds = o.agg(
        F.percentile_approx(
            "v",
            F.array(*[F.lit(q) for q in _EQH_QS]),
            F.lit(_EQH_ACCURACY),
        ).alias("bs")
    )
    joined = o.crossJoin(F.broadcast(bounds))
    realized = []
    for j in range(1, _EQH_BUCKETS):
        realized.append(
            F.sum(
                F.when(F.col("v") <= F.element_at("bs", j), 1).otherwise(0)
            )
            .cast("bigint")
            .alias(f"le{j}")
        )
        realized.append(
            F.sum(
                F.when(F.col("v") < F.element_at("bs", j), 1).otherwise(0)
            )
            .cast("bigint")
            .alias(f"lt{j}")
        )
    agg = joined.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        *realized,
        F.first("bs").alias("bs"),
    )
    per_j = agg.select(
        "n",
        # n = 0 short-circuit: over an EMPTY input the sketch is NULL
        # and the rank guarantee is vacuously met (there is no rank
        # to miss), so both flags must read 1 like the oracle's
        # literals — without it the NULL comparisons fall through to
        # otherwise(0) (degenerate-cardinality sweep).
        F.when(
            (F.col("n") == 0) | F.expr("bs = array_sort(bs)"), 1
        ).otherwise(0).cast("int").alias("order_ok"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("j"),
                        # the boundary value's full rank interval:
                        # [COUNT(v < b)+1, COUNT(v <= b)]
                        (F.col(f"lt{j}") + F.lit(1)).alias("rank_lo"),
                        F.col(f"le{j}").alias("rank_hi"),
                    )
                    for j in range(1, _EQH_BUCKETS)
                ]
            )
        ).alias("t"),
    )
    target = F.expr(f"(t.j * n) div {_EQH_BUCKETS}").cast("bigint")
    tol = F.expr(f"n div {_EQH_ACCURACY}").cast("bigint") + F.lit(1)
    return per_j.select(
        F.col("t.j").cast("int").alias("j"),
        (F.col("t.j").cast("double") / F.lit(float(_EQH_BUCKETS))).alias(
            "q"
        ),
        F.col("n").alias("n_total"),
        target.alias("target_rank"),
        # interval intersection: [rank_lo, rank_hi] meets
        # [target-tol, target+tol] iff lo <= target+tol AND
        # hi >= target-tol
        F.when(
            (F.col("n") == 0)
            | (
                (F.col("t.rank_lo") <= target + tol)
                & (F.col("t.rank_hi") >= target - tol)
            ),
            1,
        )
        .otherwise(0)
        .cast("int")
        .alias("rank_in_bound"),
        "order_ok",
    ).orderBy("j")
