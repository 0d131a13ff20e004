"""Monitoring-battery operators (round 15): the tests a data-platform
team runs CONTINUOUSLY over a landed corpus — variance homogeneity and
median shift across segments (Bartlett, Mood), digit-law data-quality
screening (Benford), normality of the daily series (Anderson-Darling),
multiple-testing control over per-segment alarms (Benjamini-Hochberg),
monotone-trend detection (Mann-Kendall), sequential drift detectors
(CUSUM, Page-Hinkley), and volatility bands (Bollinger).

Every op follows the engine's established cross-engine float discipline
(BASELINE.md, operators/hypothesis.py): corpus aggregates are EXACT
int64 moments (cents, counts, squared cents); order-sensitive double
sums fold over key-sorted arrays (``F.aggregate`` over
``array_sort(collect_list(struct))`` == DuckDB ``list_reduce(list(v
ORDER BY k), ...)``); p-values come from the shared A&S 26.2.17
normal-CDF polynomial and the Wilson-Hilferty chi-square mapping with
identical literals in both engines; outputs half-up micro-quantize.

Scale shape shared by the whole battery: ONE map-side-combined pass
over the fact table produces a BOUNDED frame (segment grain: the
event-type domain; time grain: the calendar day domain), and every
subsequent fold/window runs on that bounded frame — the single-task
windows here are the documented bounded case, never data-grain.

Capability mapping: extends SURVEY §2's aggregate battery; the
reference repo's ingestion monitors (status counts per product) have no
statistical layer — this is the engine-native replacement.
"""

from __future__ import annotations

import math as _math

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import table
from ..registry import register
from .hypothesis import _norm_cdf, _norm_cdf_sql, q4, r6

_THIRD = 1.0 / 3.0


def _wh_p_sql(chi2: str, df: str) -> str:
    """Wilson-Hilferty chi-square upper-tail p as DuckDB SQL; *df* may be
    an expression (both engines evaluate the identical double algebra)."""
    z = (
        f"(pow(({chi2}) / ({df}), {_THIRD!r})"
        f" - (1.0 - 2.0 / (9.0 * ({df})))) / sqrt(2.0 / (9.0 * ({df})))"
    )
    return f"(1.0 - {_norm_cdf_sql(z)})"


def _wh_p(chi2, df):
    """The Spark twin of :func:`_wh_p_sql` — identical operation order."""
    z = (F.pow(chi2 / df, F.lit(_THIRD)) - (1.0 - 2.0 / (9.0 * df))) / F.sqrt(
        2.0 / (9.0 * df)
    )
    return 1.0 - _norm_cdf(z)


def _ordfold(key, val):
    """Order-pinned double sum: fold *val* in ascending *key* order (the
    textrank/bartlett discipline — Spark twin of DuckDB
    ``list_reduce(list(val ORDER BY key), (a, b) -> a + b)`` seeded 0.0)."""
    return F.aggregate(
        F.transform(
            F.array_sort(F.collect_list(F.struct(key.alias("k"), val.alias("v")))),
            lambda s: s["v"],
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


_CENTS = "CAST(round(value * 100) AS BIGINT)"


def _seg_moments_sql() -> str:
    """Per-event-type exact moment CTE shared by the segment tests."""
    return f"""seg AS (
  SELECT event_type AS g,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum({_CENTS}) AS BIGINT) AS s,
         CAST(sum({_CENTS} * {_CENTS}) AS BIGINT) AS ss
  FROM events GROUP BY 1
)"""


def _seg_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    cents = F.round(F.col("value") * 100).cast("long")
    return (
        table(spark, sf_dir, "events")
        .groupBy(F.col("event_type").alias("g"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(cents).cast("long").alias("s"),
            F.sum(cents * cents).cast("long").alias("ss"),
        )
    )


# corrected sum of squares from exact int moments — the shared algebraic
# order both engines use: CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) * s / n
_CSS_SQL = "(CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) * s / n)"


def _css():
    return F.col("ss").cast("double") - F.col("s").cast("double") * F.col("s") / F.col("n")


@register(
    "agg_bartlett",
    oracle=f"""
WITH {_seg_moments_sql()},
st AS (
  SELECT CAST(count(*) AS BIGINT) AS k,
         CAST(sum(n) AS BIGINT) AS nn,
         list_reduce(list_prepend(0.0, list({_CSS_SQL} ORDER BY g)),
                     (a, b) -> a + b) AS css_pool,
         list_reduce(list_prepend(0.0,
             list((n - 1) * ln({_CSS_SQL} / (n - 1)) ORDER BY g)),
                     (a, b) -> a + b) AS sum_ln,
         list_reduce(list_prepend(0.0, list(1.0 / (n - 1) ORDER BY g)),
                     (a, b) -> a + b) AS sum_inv
  FROM seg
),
ch AS (
  SELECT k, nn,
         ((nn - k) * ln(css_pool / (nn - k)) - sum_ln)
           / (1.0 + (sum_inv - 1.0 / (nn - k)) / (3.0 * (k - 1))) AS chi2
  FROM st
)
SELECT k, nn AS n,
       floor(chi2 * 10000 + 0.5) / 10000.0 AS chi2,
       CAST(k - 1 AS BIGINT) AS df,
       floor({_wh_p_sql("chi2", "CAST(k - 1 AS DOUBLE)")} * 1000000 + 0.5)
         / 1000000.0 AS p
FROM ch
""",
)
def agg_bartlett(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BARTLETT'S TEST of equal variances across event-type segments —
    the parametric partner of ``agg_levene_bf`` (Levene is robust to
    non-normality; Bartlett is the more powerful test when normality
    holds, and the pair disagreeing is itself a diagnostic).

    Statistic: ``[(N-k) ln(sp2) - sum (n_i-1) ln(s_i^2)] / C`` with the
    standard Bartlett correction C.  Exactness: per-segment (n, sum,
    sum-of-squares) are exact int64; every cross-segment double sum
    folds in sorted segment order; Wilson-Hilferty + the shared A&S Phi
    give the p.  Scale: one map-side-combined pass to the event-type
    domain (bounded), then a one-row report."""
    seg = _seg_moments(spark, sf_dir)
    st = seg.agg(
        F.count(F.lit(1)).cast("long").alias("k"),
        F.sum("n").cast("long").alias("nn"),
        _ordfold(F.col("g"), _css()).alias("css_pool"),
        _ordfold(
            F.col("g"), (F.col("n") - 1) * F.log(_css() / (F.col("n") - 1))
        ).alias("sum_ln"),
        _ordfold(F.col("g"), 1.0 / (F.col("n") - 1)).alias("sum_inv"),
    )
    chi2 = (
        (F.col("nn") - F.col("k")) * F.log(F.col("css_pool") / (F.col("nn") - F.col("k")))
        - F.col("sum_ln")
    ) / (
        1.0
        + (F.col("sum_inv") - 1.0 / (F.col("nn") - F.col("k")))
        / (3.0 * (F.col("k") - 1))
    )
    ch = st.select("k", "nn", chi2.alias("chi2"))
    return ch.select(
        "k",
        F.col("nn").alias("n"),
        q4(F.col("chi2")).alias("chi2"),
        (F.col("k") - 1).cast("long").alias("df"),
        r6(_wh_p(F.col("chi2"), (F.col("k") - 1).cast("double"))).alias("p"),
    )


def _lower_median(col: str):
    """The lower median of long column *col* as one exact aggregate: the
    oracle's min c with cumulative count >= floor((n+1)/2).
    ``percentile_disc`` returns a double, exact for |c| < 2^53."""
    return F.expr(f"percentile_disc(0.5) WITHIN GROUP (ORDER BY {col})").cast("long")


@register(
    "agg_mood_median",
    oracle=f"""
WITH ev AS (SELECT event_type AS g, {_CENTS} AS c FROM events),
hist AS (
  SELECT c, CAST(count(*) AS BIGINT) AS cnt,
         CAST(sum(count(*)) OVER (ORDER BY c) AS BIGINT) AS cum
  FROM ev GROUP BY 1
),
nt AS (SELECT CAST(sum(cnt) AS BIGINT) AS nn FROM hist),
med AS (
  SELECT min(c) AS med FROM hist, nt
  WHERE cum >= CAST(floor((nn + 1) / 2) AS BIGINT)
),
seg AS (
  SELECT g, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CASE WHEN c > med THEN 1 ELSE 0 END) AS BIGINT) AS a
  FROM ev, med GROUP BY 1, med
),
tot AS (
  SELECT CAST(count(*) AS BIGINT) AS k, CAST(sum(n) AS BIGINT) AS nn,
         CAST(sum(a) AS BIGINT) AS aa
  FROM seg
),
ch AS (
  SELECT tot.k, tot.nn,
         (SELECT list_reduce(list_prepend(0.0, list(
             (a - CAST(n AS DOUBLE) * aa / nn)
               * (a - CAST(n AS DOUBLE) * aa / nn)
               / (CAST(n AS DOUBLE) * aa / nn)
             + ((n - a) - CAST(n AS DOUBLE) * (nn - aa) / nn)
               * ((n - a) - CAST(n AS DOUBLE) * (nn - aa) / nn)
               / (CAST(n AS DOUBLE) * (nn - aa) / nn)
             ORDER BY g)), (x, y) -> x + y)
          FROM seg) AS chi2
  FROM tot
)
SELECT ch.k, ch.nn AS n, med.med AS grand_median_cents,
       floor(ch.chi2 * 10000 + 0.5) / 10000.0 AS chi2,
       CAST(ch.k - 1 AS BIGINT) AS df,
       floor({_wh_p_sql("ch.chi2", "CAST(ch.k - 1 AS DOUBLE)")} * 1000000 + 0.5)
         / 1000000.0 AS p
FROM ch, med
""",
)
def agg_mood_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MOOD'S MEDIAN TEST across event-type segments: does any segment's
    median value differ from the pooled median?  The rank-free
    nonparametric companion to ``agg_kruskal_wallis`` (Kruskal ranks
    everything; Mood only asks above-or-below the grand median, so it
    tolerates wild tails and censored metering).

    The grand LOWER MEDIAN (min c with cumulative count >= floor((n+1)/2))
    is one exact ``percentile_disc(0.5)`` aggregate over the cents
    column: the cents histogram grows with the data, so it is not
    gathered into an array.  Each row is then tested against the
    broadcast median and the counts combine to the event-type segments,
    a frame the event-type DOMAIN bounds (<= 5 rows), gathered into one
    array; the 2 x k chi-square folds over it in sorted segment order
    and Wilson-Hilferty + shared Phi give the p."""
    ev = table(spark, sf_dir, "events").select(
        F.col("event_type").alias("g"),
        F.round(F.col("value") * 100).cast("long").alias("c"),
    )
    med = ev.agg(_lower_median("c").alias("med"))
    segs = (
        ev.crossJoin(F.broadcast(med))
        .groupBy("med", "g")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(F.when(F.col("c") > F.col("med"), 1).otherwise(0))
            .cast("long")
            .alias("a"),
        )
        .groupBy("med")
        .agg(F.array_sort(F.collect_list(F.struct("g", "n", "a"))).alias("segs"))
    )
    ea = "CAST(e.n AS DOUBLE) * aa / nn"
    eb = "CAST(e.n AS DOUBLE) * (nn - aa) / nn"
    cell = (
        f"(e.a - {ea}) * (e.a - {ea}) / ({ea})"
        f" + ((e.n - e.a) - {eb}) * ((e.n - e.a) - {eb}) / ({eb})"
    )
    ch = segs.selectExpr(
        "med",
        "segs",
        "CAST(size(segs) AS BIGINT) AS k",
        "aggregate(segs, 0L, (s, e) -> s + e.n) AS nn",
        "aggregate(segs, 0L, (s, e) -> s + e.a) AS aa",
    ).selectExpr("k", "nn", "med", f"aggregate(segs, 0D, (s, e) -> s + {cell}) AS chi2")
    return ch.select(
        "k",
        F.col("nn").alias("n"),
        F.col("med").alias("grand_median_cents"),
        q4(F.col("chi2")).alias("chi2"),
        (F.col("k") - 1).cast("long").alias("df"),
        r6(_wh_p(F.col("chi2"), (F.col("k") - 1).cast("double"))).alias("p"),
    )


_BENFORD_P = [_math.log10(1.0 + 1.0 / d) for d in range(1, 10)]
_BENFORD_DF = 8
_BENFORD_WH_A = 1.0 - 2.0 / (9.0 * _BENFORD_DF)
_BENFORD_WH_B = _math.sqrt(2.0 / (9.0 * _BENFORD_DF))


def _benford_oracle() -> str:
    p_rows = ", ".join(f"({d}, {_BENFORD_P[d - 1]!r})" for d in range(1, 10))
    z = (
        f"(pow(chi2 / {_BENFORD_DF}, {_THIRD!r}) - {_BENFORD_WH_A!r})"
        f" / {_BENFORD_WH_B!r}"
    )
    return f"""
WITH c AS (
  SELECT CAST(substr(CAST(CAST(round(l_extendedprice * 100) AS BIGINT)
                          AS VARCHAR), 1, 1) AS BIGINT) AS digit
  FROM lineitem
),
o AS (SELECT digit, CAST(count(*) AS BIGINT) AS obs FROM c GROUP BY 1),
bp AS (
  -- DuckDB parses VALUES float literals as DECIMAL; the masses must be
  -- DOUBLE or the chi-square cells overflow DECIMAL(38) multiplication
  SELECT digit, CAST(p AS DOUBLE) AS p FROM (VALUES {p_rows}) v(digit, p)
),
nt AS (SELECT CAST(sum(obs) AS BIGINT) AS nn FROM o),
cells AS (
  SELECT bp.digit, coalesce(o.obs, 0) AS obs, nt.nn * bp.p AS exp_n
  FROM bp LEFT JOIN o USING (digit) CROSS JOIN nt
),
ch AS (
  SELECT (SELECT nn FROM nt) AS nn,
         list_reduce(list((obs - exp_n) * (obs - exp_n) / exp_n
                          ORDER BY digit),
                     (a, b) -> a + b) AS chi2,
         (SELECT digit FROM cells
          ORDER BY abs(obs - exp_n) / sqrt(exp_n) DESC, digit LIMIT 1)
           AS worst_digit,
         (SELECT abs(obs - exp_n) / sqrt(exp_n) FROM cells
          ORDER BY abs(obs - exp_n) / sqrt(exp_n) DESC, digit LIMIT 1)
           AS worst_dev
  FROM cells LIMIT 1
)
SELECT nn AS n, floor(chi2 * 10000 + 0.5) / 10000.0 AS chi2,
       CAST({_BENFORD_DF} AS BIGINT) AS df,
       floor((1.0 - {_norm_cdf_sql(z)}) * 1000000 + 0.5) / 1000000.0 AS p,
       worst_digit,
       floor(worst_dev * 10000 + 0.5) / 10000.0 AS worst_std_dev
FROM ch
"""


@register("agg_benford_test", oracle=_benford_oracle())
def agg_benford_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BENFORD FIRST-DIGIT TEST on lineitem prices — the forensic
    data-quality screen: genuinely multiplicative quantities follow
    ``P(d) = log10(1 + 1/d)``, and a landed feed whose digits drift from
    that (truncation bugs, unit mix-ups, synthetic padding) fails loudly
    here long before any business metric moves.

    First digits are exact string heads of exact cents (no float log10
    near power-of-ten boundaries); expected masses are Python-computed
    literals injected into both engines; the 9-cell chi-square folds in
    digit order; fixed df=8 Wilson-Hilferty literals give the p.  Also
    reports the worst cell (largest standardized deviation, tie to the
    smaller digit).  One map-side-combined pass to NINE cells."""
    li = table(spark, sf_dir, "lineitem")
    c = li.select(
        F.substring(
            F.round(F.col("l_extendedprice") * 100).cast("long").cast("string"),
            1,
            1,
        )
        .cast("long")
        .alias("digit")
    )
    # 9-cell digit histogram, two consumers (total + expected join) —
    # one corpus scan, materialized once (guide §2.4).
    o = (
        c.groupBy("digit")
        .agg(F.count(F.lit(1)).cast("long").alias("obs"))
        .localCheckpoint(eager=True)
    )
    bp = spark.createDataFrame(
        [(d, _BENFORD_P[d - 1]) for d in range(1, 10)], "digit long, p double"
    )
    nt = o.agg(F.sum("obs").cast("long").alias("nn"))
    cells = (
        bp.join(o, "digit", "left")
        .withColumn("obs", F.coalesce(F.col("obs"), F.lit(0)))
        .crossJoin(F.broadcast(nt))
        .select(
            "digit",
            "obs",
            "nn",
            (F.col("nn") * F.col("p")).alias("exp_n"),
        )
    )
    dev = F.abs(F.col("obs") - F.col("exp_n")) / F.sqrt(F.col("exp_n"))
    cell = (F.col("obs") - F.col("exp_n")) * (F.col("obs") - F.col("exp_n")) / F.col(
        "exp_n"
    )
    ch = cells.groupBy("nn").agg(
        _ordfold(F.col("digit"), cell).alias("chi2"),
        F.min(F.struct((-dev).alias("negdev"), F.col("digit").alias("d"))).alias(
            "worst"
        ),
    )
    z = (F.pow(F.col("chi2") / _BENFORD_DF, F.lit(_THIRD)) - _BENFORD_WH_A) / (
        _BENFORD_WH_B
    )
    return ch.select(
        F.col("nn").alias("n"),
        q4(F.col("chi2")).alias("chi2"),
        F.lit(_BENFORD_DF).cast("long").alias("df"),
        r6(1.0 - _norm_cdf(z)).alias("p"),
        F.col("worst.d").alias("worst_digit"),
        q4(-F.col("worst.negdev")).alias("worst_std_dev"),
    )


_AD_CASE = (
    # D'Agostino-Stephens p(A2*) literals, identical in both engines
    (0.6, "exp(1.2937 - 5.709 * __A__ + 0.0186 * __A__ * __A__)"),
    (0.34, "exp(0.9177 - 4.279 * __A__ - 1.38 * __A__ * __A__)"),
    (0.2, "1.0 - exp(-8.318 + 42.796 * __A__ - 59.938 * __A__ * __A__)"),
    (None, "1.0 - exp(-13.436 + 101.14 * __A__ - 223.73 * __A__ * __A__)"),
)


def _ad_p_sql(a: str) -> str:
    c = _AD_CASE
    return (
        f"(CASE WHEN ({a}) >= {c[0][0]} THEN {c[0][1]} "
        f"WHEN ({a}) >= {c[1][0]} THEN {c[1][1]} "
        f"WHEN ({a}) >= {c[2][0]} THEN {c[2][1]} "
        f"ELSE {c[3][1]} END)"
    ).replace("__A__", f"({a})")


def _ad_p(a):
    return (
        F.when(a >= 0.6, F.exp(1.2937 - 5.709 * a + 0.0186 * a * a))
        .when(a >= 0.34, F.exp(0.9177 - 4.279 * a - 1.38 * a * a))
        .when(a >= 0.2, 1.0 - F.exp(-8.318 + 42.796 * a - 59.938 * a * a))
        .otherwise(1.0 - F.exp(-13.436 + 101.14 * a - 223.73 * a * a))
    )


def _ad_oracle() -> str:
    zi = "((arr[i][1] - mu) / s)"
    zr = "((arr[CAST(n AS INT) + 1 - i][1] - mu) / s)"
    return f"""
WITH daily AS (
  SELECT CAST(date_diff('day', DATE '1970-01-01', date_trunc('day', ts))
              AS BIGINT) AS d,
         CAST(sum({_CENTS}) AS DOUBLE) / count(*) AS m
  FROM events GROUP BY 1
),
one AS (
  SELECT list([m, CAST(d AS DOUBLE)] ORDER BY m, d) AS arr,
         CAST(count(*) AS BIGINT) AS n
  FROM daily
),
st1 AS (
  SELECT arr, n,
         list_reduce(list_prepend(0.0, list_transform(arr, x -> x[1])),
                     (a, b) -> a + b) / n AS mu
  FROM one
),
st2 AS (
  SELECT arr, n, mu,
         sqrt(list_reduce(list_prepend(0.0,
                list_transform(arr, x -> (x[1] - mu) * (x[1] - mu))),
              (a, b) -> a + b) / (n - 1)) AS s
  FROM st1
),
st3 AS (
  SELECT n, mu, s,
         -CAST(n AS DOUBLE)
           - list_reduce(list_prepend(0.0, list_transform(arr, (x, i) ->
               (2.0 * i - 1) * (ln({_norm_cdf_sql(zi)})
                                + ln(1.0 - {_norm_cdf_sql(zr)})))),
               (a, b) -> a + b) / n AS a2
  FROM st2
),
st4 AS (
  SELECT n, mu, s, a2,
         a2 * (1.0 + 0.75 / n + 2.25 / (CAST(n AS DOUBLE) * n)) AS a2s
  FROM st3
)
SELECT n,
       floor(mu * 10000 + 0.5) / 10000.0 AS mean_cents,
       floor(s * 10000 + 0.5) / 10000.0 AS sd_cents,
       floor(a2 * 1000000 + 0.5) / 1000000.0 AS a2,
       floor(a2s * 1000000 + 0.5) / 1000000.0 AS a2_star,
       floor({_ad_p_sql("a2s")} * 1000000 + 0.5) / 1000000.0 AS p_normal
FROM st4
"""


@register("agg_anderson_darling", oracle=_ad_oracle())
def agg_anderson_darling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANDERSON-DARLING NORMALITY TEST of the daily mean event value —
    the tail-weighted EDF test beside ``agg_ks_normality`` (KS weights
    the middle; A-D's 1/[F(1-F)] weight is the standard choice when
    tail departures are what breaks the downstream z-machinery) and
    ``agg_jarque_bera`` (moment-based).

    A2 = -n - (1/n) sum (2i-1)[ln Phi(z_(i)) + ln(1 - Phi(z_(n+1-i)))]
    over the CALENDAR-BOUNDED day grain: daily means are exact-int
    ratios, the (value, day)-sorted fold order is engine-pinned, Phi is
    the shared A&S polynomial, and the small-sample correction plus the
    D'Agostino-Stephens case p use identical literals.  One combine to
    the day domain, a one-row report."""
    ev = table(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.datediff(F.date_trunc("day", "ts"), F.lit("1970-01-01").cast("date"))
        .cast("long")
        .alias("d")
    ).agg(
        (
            F.sum(F.round(F.col("value") * 100).cast("long")).cast("double")
            / F.count(F.lit(1))
        ).alias("m")
    )
    one = daily.agg(
        F.array_sort(
            F.collect_list(F.array(F.col("m"), F.col("d").cast("double")))
        ).alias("arr"),
        F.count(F.lit(1)).cast("long").alias("n"),
    )
    st1 = one.select(
        "arr",
        "n",
        (
            F.aggregate(
                F.transform(F.col("arr"), lambda x: x[0]),
                F.lit(0.0),
                lambda a, b: a + b,
            )
            / F.col("n")
        ).alias("mu"),
    )
    st2 = st1.select(
        "arr",
        "n",
        "mu",
        F.sqrt(
            F.aggregate(
                F.transform(
                    F.col("arr"),
                    lambda x: (x[0] - F.col("mu")) * (x[0] - F.col("mu")),
                ),
                F.lit(0.0),
                lambda a, b: a + b,
            )
            / (F.col("n") - 1)
        ).alias("s"),
    )

    def term(x, i):
        # Spark's index lambda is 0-based; the formula's i is 1-based
        zi = (x[0] - F.col("mu")) / F.col("s")
        rev = F.element_at(F.col("arr"), (F.col("n") - i).cast("int"))
        zr = (rev[0] - F.col("mu")) / F.col("s")
        return (2.0 * (i + 1) - 1) * (
            F.log(_norm_cdf(zi)) + F.log(1.0 - _norm_cdf(zr))
        )

    st3 = st2.select(
        "n",
        "mu",
        "s",
        (
            -F.col("n").cast("double")
            - F.aggregate(
                F.transform(F.col("arr"), term), F.lit(0.0), lambda a, b: a + b
            )
            / F.col("n")
        ).alias("a2"),
    )
    st4 = st3.select(
        "n",
        "mu",
        "s",
        "a2",
        (
            F.col("a2")
            * (1.0 + 0.75 / F.col("n") + 2.25 / (F.col("n").cast("double") * F.col("n")))
        ).alias("a2s"),
    )
    return st4.select(
        "n",
        q4(F.col("mu")).alias("mean_cents"),
        q4(F.col("s")).alias("sd_cents"),
        r6(F.col("a2")).alias("a2"),
        r6(F.col("a2s")).alias("a2_star"),
        r6(_ad_p(F.col("a2s"))).alias("p_normal"),
    )


@register(
    "agg_benjamini_hochberg",
    oracle=f"""
WITH {_seg_moments_sql()},
tot AS (
  SELECT CAST(count(*) AS BIGINT) AS k, CAST(sum(n) AS BIGINT) AS nn,
         CAST(sum(s) AS BIGINT) AS st, CAST(sum(ss) AS BIGINT) AS sst
  FROM seg
),
zt AS (
  SELECT g, n,
         (CAST(s AS DOUBLE) / n - CAST(st - s AS DOUBLE) / (nn - n))
           / sqrt((({_CSS_SQL})
                   + (CAST(sst - ss AS DOUBLE)
                      - CAST(st - s AS DOUBLE) * (st - s) / (nn - n)))
                  / (nn - 2) * (1.0 / n + 1.0 / (nn - n))) AS z,
         k
  FROM seg, tot
),
pt AS (
  SELECT g, n, z, k,
         2.0 * (1.0 - {_norm_cdf_sql("abs(z)")}) AS p
  FROM zt
),
bh AS (
  SELECT g, n, z, p,
         least(1.0, min(p * k / rk) OVER (
           ORDER BY p, g ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
           AS p_adj
  FROM (SELECT *, row_number() OVER (ORDER BY p, g) AS rk FROM pt)
)
SELECT g AS event_type, n,
       floor(z * 1000000 + 0.5) / 1000000.0 AS z,
       floor(p * 1000000 + 0.5) / 1000000.0 AS p,
       floor(p_adj * 1000000 + 0.5) / 1000000.0 AS p_adj,
       p_adj <= 0.05 AS rejected
FROM bh ORDER BY event_type
""",
)
def agg_benjamini_hochberg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BENJAMINI-HOCHBERG FDR CONTROL over the per-segment mean-shift
    family: each event type gets a two-sample z test against its
    complement (pooled variance, exact-int moments), and the resulting
    p-value FAMILY is BH-adjusted — the multiple-testing discipline
    every monitoring battery needs once it fires one test per segment
    per day (k raw tests at alpha=0.05 false-alarm ~ k x 5%; BH caps
    the expected FALSE DISCOVERY RATE at 5% instead).

    Adjustment is the standard step-up: sort p ascending (segment-name
    tiebreak), p_adj_i = min_{{j>=i}} p_j * k / j capped at 1 — a
    running tail-min over the SEGMENT-DOMAIN-bounded frame (the bounded
    window case).  One map-side-combined corpus pass; everything after
    is k rows."""
    seg = _seg_moments(spark, sf_dir)
    tot = seg.agg(
        F.count(F.lit(1)).cast("long").alias("k"),
        F.sum("n").cast("long").alias("nn"),
        F.sum("s").cast("long").alias("st"),
        F.sum("ss").cast("long").alias("sst"),
    )
    j = seg.crossJoin(F.broadcast(tot))
    css1 = _css()
    css2 = (F.col("sst") - F.col("ss")).cast("double") - (
        F.col("st") - F.col("s")
    ).cast("double") * (F.col("st") - F.col("s")) / (F.col("nn") - F.col("n"))
    z = (
        F.col("s").cast("double") / F.col("n")
        - (F.col("st") - F.col("s")).cast("double") / (F.col("nn") - F.col("n"))
    ) / F.sqrt(
        (css1 + css2)
        / (F.col("nn") - 2)
        * (1.0 / F.col("n") + 1.0 / (F.col("nn") - F.col("n")))
    )
    pt = j.select(
        "g",
        "n",
        "k",
        z.alias("z"),
    ).withColumn("p", 2.0 * (1.0 - _norm_cdf(F.abs(F.col("z")))))
    w_rk = Window.orderBy("p", "g")
    w_tail = w_rk.rowsBetween(Window.currentRow, Window.unboundedFollowing)
    bh = pt.withColumn("rk", F.row_number().over(w_rk)).withColumn(
        "p_adj",
        F.least(
            F.lit(1.0),
            F.min(F.col("p") * F.col("k") / F.col("rk")).over(w_tail),
        ),
    )
    return bh.select(
        F.col("g").alias("event_type"),
        "n",
        r6(F.col("z")).alias("z"),
        r6(F.col("p")).alias("p"),
        r6(F.col("p_adj")).alias("p_adj"),
        (F.col("p_adj") <= 0.05).alias("rejected"),
    ).orderBy("event_type")


@register(
    "agg_mann_kendall",
    oracle=f"""
WITH daily AS (
  SELECT CAST(date_diff('day', DATE '1970-01-01', date_trunc('day', ts))
              AS BIGINT) AS d,
         CAST(sum({_CENTS}) AS BIGINT) AS y
  FROM events GROUP BY 1
),
p AS (
  SELECT CAST(sum(CASE WHEN b.y > a.y THEN 1 WHEN b.y < a.y THEN -1
                       ELSE 0 END) AS BIGINT) AS s
  FROM daily a JOIN daily b ON a.d < b.d
),
t AS (
  SELECT CAST(coalesce(sum(t * (t - 1) * (2 * t + 5)), 0) AS BIGINT)
           AS tiesum
  FROM (SELECT CAST(count(*) AS BIGINT) AS t FROM daily GROUP BY y)
  WHERE t > 1
),
nt AS (SELECT CAST(count(*) AS BIGINT) AS n FROM daily),
zc AS (
  SELECT nt.n, p.s,
         (CAST(nt.n AS DOUBLE) * (nt.n - 1) * (2 * nt.n + 5) - t.tiesum)
           / 18.0 AS var_s
  FROM p, t, nt
),
zz AS (
  SELECT n, s, var_s,
         CASE WHEN s > 0 THEN (s - 1) / sqrt(var_s)
              WHEN s < 0 THEN (s + 1) / sqrt(var_s)
              ELSE 0.0 END AS z
  FROM zc
)
SELECT n AS n_days, s,
       floor(var_s * 10000 + 0.5) / 10000.0 AS var_s,
       floor(z * 1000000 + 0.5) / 1000000.0 AS z,
       floor(2.0 * (1.0 - {_norm_cdf_sql("abs(z)")}) * 1000000 + 0.5)
         / 1000000.0 AS p,
       CASE WHEN 2.0 * (1.0 - {_norm_cdf_sql("abs(z)")}) < 0.05 AND s > 0
              THEN 'increasing'
            WHEN 2.0 * (1.0 - {_norm_cdf_sql("abs(z)")}) < 0.05 AND s < 0
              THEN 'decreasing'
            ELSE 'no trend' END AS trend
FROM zz
""",
)
def agg_mann_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MANN-KENDALL TREND TEST on daily revenue — the distribution-free
    monotone-trend detector (is the series drifting up, judged purely
    by pairwise order?), the classic for environmental / sensor series
    and the significance companion to ``agg_theil_sen`` (Sen gives the
    robust slope; MK says whether a trend exists at all).  Differs from
    ``agg_kendall_tau`` in both axis (value vs TIME, so no x-ties) and
    output (the tie-corrected normal z and trend verdict, not tau).

    S and the tie correction are exact integer pair counts on the
    calendar-bounded day grain (pairwise join over days, never facts);
    variance, z, and the shared-Phi p are one double expression each."""
    ev = table(spark, sf_dir, "events")
    # Calendar-bounded daily frame with several downstream consumers —
    # one corpus scan, materialized once (guide §2.4).
    daily = ev.groupBy(
        F.datediff(F.date_trunc("day", "ts"), F.lit("1970-01-01").cast("date"))
        .cast("long")
        .alias("d")
    ).agg(
        F.sum(F.round(F.col("value") * 100).cast("long")).cast("long").alias("y")
    ).localCheckpoint(eager=True)
    a = daily.select(F.col("d").alias("da"), F.col("y").alias("ya"))
    b = daily.select(F.col("d").alias("db"), F.col("y").alias("yb"))
    p = a.join(b, F.col("da") < F.col("db")).agg(
        F.sum(
            F.when(F.col("yb") > F.col("ya"), 1)
            .when(F.col("yb") < F.col("ya"), -1)
            .otherwise(0)
        )
        .cast("long")
        .alias("s")
    )
    t = (
        daily.groupBy("y")
        .agg(F.count(F.lit(1)).cast("long").alias("t"))
        .filter(F.col("t") > 1)
        .agg(
            F.coalesce(
                F.sum(F.col("t") * (F.col("t") - 1) * (2 * F.col("t") + 5)),
                F.lit(0),
            )
            .cast("long")
            .alias("tiesum")
        )
    )
    nt = daily.agg(F.count(F.lit(1)).cast("long").alias("n"))
    zc = (
        p.crossJoin(F.broadcast(t))
        .crossJoin(F.broadcast(nt))
        .select(
            "n",
            "s",
            (
                (
                    F.col("n").cast("double")
                    * (F.col("n") - 1)
                    * (2 * F.col("n") + 5)
                    - F.col("tiesum")
                )
                / 18.0
            ).alias("var_s"),
        )
    )
    z = (
        F.when(F.col("s") > 0, (F.col("s") - 1) / F.sqrt(F.col("var_s")))
        .when(F.col("s") < 0, (F.col("s") + 1) / F.sqrt(F.col("var_s")))
        .otherwise(F.lit(0.0))
    )
    zz = zc.select("n", "s", "var_s", z.alias("z"))
    pv = 2.0 * (1.0 - _norm_cdf(F.abs(F.col("z"))))
    return zz.select(
        F.col("n").alias("n_days"),
        "s",
        q4(F.col("var_s")).alias("var_s"),
        r6(F.col("z")).alias("z"),
        r6(pv).alias("p"),
        F.when((pv < 0.05) & (F.col("s") > 0), "increasing")
        .when((pv < 0.05) & (F.col("s") < 0), "decreasing")
        .otherwise("no trend")
        .alias("trend"),
    )


_DRIFT_BASE_DAYS = 7  # baseline window the drift detectors calibrate on
_DRIFT_K = 0.5  # slack, in baseline sds
_DRIFT_H = 5.0  # alarm threshold, in baseline sds


def _drift_daily_sql() -> str:
    """Day-grain exact moments + the baseline-window calibration CTEs
    shared by the CUSUM / Page-Hinkley oracles."""
    return f"""daily AS (
  SELECT CAST(date_diff('day', DATE '1970-01-01', date_trunc('day', ts))
              AS BIGINT) AS d,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum({_CENTS}) AS BIGINT) AS s,
         CAST(sum({_CENTS} * {_CENTS}) AS BIGINT) AS ss
  FROM events GROUP BY 1
),
base AS (
  SELECT CAST(sum(n) AS BIGINT) AS n, CAST(sum(s) AS BIGINT) AS s,
         CAST(sum(ss) AS BIGINT) AS ss
  FROM (SELECT * FROM daily ORDER BY d LIMIT {_DRIFT_BASE_DAYS})
),
cal AS (
  SELECT CAST(s AS DOUBLE) / n AS mu0,
         sqrt({_CSS_SQL} / (n - 1)) AS sd
  FROM base
),
arr AS (
  SELECT list([CAST(d AS DOUBLE), CAST(s AS DOUBLE) / n] ORDER BY d) AS a,
         CAST(count(*) AS BIGINT) AS n_days
  FROM daily
)"""


def _drift_daily(spark: SparkSession, sf_dir: str):
    ev = table(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100).cast("long")
    daily = ev.groupBy(
        F.datediff(F.date_trunc("day", "ts"), F.lit("1970-01-01").cast("date"))
        .cast("long")
        .alias("d")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(cents).cast("long").alias("s"),
        F.sum(cents * cents).cast("long").alias("ss"),
    )
    base = (
        daily.orderBy("d")
        .limit(_DRIFT_BASE_DAYS)
        .agg(
            F.sum("n").cast("long").alias("n"),
            F.sum("s").cast("long").alias("s"),
            F.sum("ss").cast("long").alias("ss"),
        )
    )
    cal = base.select(
        (F.col("s").cast("double") / F.col("n")).alias("mu0"),
        F.sqrt(_css() / (F.col("n") - 1)).alias("sd"),
    )
    arr = daily.agg(
        F.array_sort(
            F.collect_list(
                F.array(F.col("d").cast("double"), F.col("s").cast("double") / F.col("n"))
            )
        ).alias("a"),
        F.count(F.lit(1)).cast("long").alias("n_days"),
    )
    return cal, arr


_CUSUM_ORACLE = ("WITH " + _drift_daily_sql() + ",\n" + rf"""
fold AS (
  SELECT n_days, mu0, sd,
         list_reduce(list_prepend([0.0, 0.0, -1.0],
           list_transform(a, x -> [x[2], x[1], 0.0])),
           (acc, x) -> [
             greatest(0.0, acc[1] + (x[1] - mu0 - {_DRIFT_K} * sd)),
             greatest(acc[2],
                      greatest(0.0, acc[1] + (x[1] - mu0 - {_DRIFT_K} * sd))),
             CASE WHEN acc[3] < 0
                       AND greatest(0.0, acc[1] + (x[1] - mu0 - {_DRIFT_K} * sd))
                           > {_DRIFT_H} * sd
                  THEN x[2] ELSE acc[3] END]) AS st
  FROM arr, cal
)
SELECT n_days,
       floor(mu0 * 10000 + 0.5) / 10000.0 AS mu0_cents,
       floor(sd * 10000 + 0.5) / 10000.0 AS sd_cents,
       floor({_DRIFT_H} * sd * 10000 + 0.5) / 10000.0 AS threshold,
       floor(st[2] * 10000 + 0.5) / 10000.0 AS max_cusum,
       CAST(nullif(st[3], -1.0) AS BIGINT) AS alarm_day
FROM fold
""")


@register(
    "agg_cusum_drift",
    oracle=_CUSUM_ORACLE,
)
def agg_cusum_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ONE-SIDED CUSUM DRIFT DETECTOR on the daily mean event value —
    the sequential change detector (Page 1954) behind every
    "metric crept up" alarm: S_t = max(0, S_(t-1) + (x_t - mu0 - k*sd))
    accumulates only SUSTAINED positive deviation from the first-week
    baseline, and the alarm fires at the first day S_t > h*sd (k=0.5,
    h=5, the textbook ARL tuning).  The stateful streaming twin of the
    batch z machinery: a 3-sigma single day is absorbed, a 1-sigma
    week is caught.

    The baseline mean/sd come from exact event-level int moments of the
    first {base} days; the recursion folds the day-sorted means with a
    3-slot list state [S, max S, alarm day] — identical fold both
    engines (the day grain is calendar-bounded)."""
    cal, arr = _drift_daily(spark, sf_dir)
    return _cusum_report(cal, arr)


def _cusum_report(cal: DataFrame, arr: DataFrame) -> DataFrame:
    """The CUSUM fold + release over a (mu0, sd) calibration frame and a
    day-sorted [d, mean] array frame — shared by the batch op and the
    streaming twin (whose daily moments come out of the state store)."""
    one = arr.crossJoin(F.broadcast(cal))
    dev = lambda x: x[1] - F.col("mu0") - _DRIFT_K * F.col("sd")  # noqa: E731
    step = lambda acc, x: F.array(  # noqa: E731
        F.greatest(F.lit(0.0), acc[0] + dev(x)),
        F.greatest(acc[1], F.greatest(F.lit(0.0), acc[0] + dev(x))),
        F.when(
            (acc[2] < 0)
            & (F.greatest(F.lit(0.0), acc[0] + dev(x)) > _DRIFT_H * F.col("sd")),
            x[0],
        ).otherwise(acc[2]),
    )
    fold = one.select(
        "n_days",
        "mu0",
        "sd",
        F.aggregate(
            F.col("a"), F.array(F.lit(0.0), F.lit(0.0), F.lit(-1.0)), step
        ).alias("st"),
    )
    return fold.select(
        "n_days",
        q4(F.col("mu0")).alias("mu0_cents"),
        q4(F.col("sd")).alias("sd_cents"),
        q4(_DRIFT_H * F.col("sd")).alias("threshold"),
        q4(F.col("st")[1]).alias("max_cusum"),
        F.nullif(F.col("st")[2], F.lit(-1.0)).cast("long").alias("alarm_day"),
    )


agg_cusum_drift.__doc__ = agg_cusum_drift.__doc__.format(base=_DRIFT_BASE_DAYS)


@register(
    "agg_page_hinkley",
    oracle=f"""
WITH {_drift_daily_sql()},
fold AS (
  SELECT n_days, mu0, sd,
         -- state: [sum_x, t, m, m_min, alarm_day]
         list_reduce(list_prepend([0.0, 0.0, 0.0, 0.0, -1.0],
           list_transform(a, x -> [x[2], x[1], 0.0, 0.0, 0.0])),
           (acc, x) -> [
             acc[1] + x[1],
             acc[2] + 1.0,
             acc[3] + (x[1] - (acc[1] + x[1]) / (acc[2] + 1.0)
                       - {_DRIFT_K} * sd),
             least(acc[4],
                   acc[3] + (x[1] - (acc[1] + x[1]) / (acc[2] + 1.0)
                             - {_DRIFT_K} * sd)),
             CASE WHEN acc[5] < 0
                       AND (acc[3] + (x[1] - (acc[1] + x[1]) / (acc[2] + 1.0)
                                      - {_DRIFT_K} * sd))
                           - least(acc[4],
                                   acc[3] + (x[1] - (acc[1] + x[1])
                                             / (acc[2] + 1.0)
                                             - {_DRIFT_K} * sd))
                           > {_DRIFT_H} * sd
                  THEN x[2] ELSE acc[5] END]) AS st
  FROM arr, cal
)
SELECT n_days,
       floor({_DRIFT_K} * sd * 10000 + 0.5) / 10000.0 AS delta,
       floor({_DRIFT_H} * sd * 10000 + 0.5) / 10000.0 AS lambda,
       floor((st[3] - st[4]) * 10000 + 0.5) / 10000.0 AS ph_stat,
       CAST(nullif(st[5], -1.0) AS BIGINT) AS alarm_day
FROM fold
""",
)
def agg_page_hinkley(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PAGE-HINKLEY DRIFT DETECTOR on the daily mean event value — the
    self-calibrating companion to ``agg_cusum_drift``: instead of a
    frozen baseline mean, PH tracks the RUNNING mean and accumulates
    m_t = sum (x_i - xbar_i - delta); the alarm fires when m_t rises
    more than lambda above its running minimum (the mean has shifted up
    relative to everything seen so far).  Standard in streaming
    concept-drift monitors (Gama et al.); delta/lambda calibrate from
    the same first-week sd as CUSUM.

    One day-sorted fold with a 5-slot list state [sum x, t, m, min m,
    alarm day], identical in both engines; the running mean inside the
    fold is the exact same left-associated double algebra."""
    cal, arr = _drift_daily(spark, sf_dir)
    return _ph_report(cal, arr)


def _ph_report(cal: DataFrame, arr: DataFrame) -> DataFrame:
    """The Page-Hinkley fold + report over (cal, arr) — shared by the
    batch op above and its streaming twin ``stream_page_hinkley``."""
    one = arr.crossJoin(F.broadcast(cal))

    def step(acc, x):
        sx = acc[0] + x[1]
        t = acc[1] + 1.0
        m = acc[2] + (x[1] - sx / t - _DRIFT_K * F.col("sd"))
        mmin = F.least(acc[3], m)
        alarm = F.when(
            (acc[4] < 0) & (m - mmin > _DRIFT_H * F.col("sd")), x[0]
        ).otherwise(acc[4])
        return F.array(sx, t, m, mmin, alarm)

    fold = one.select(
        "n_days",
        "sd",
        F.aggregate(
            F.col("a"),
            F.array(F.lit(0.0), F.lit(0.0), F.lit(0.0), F.lit(0.0), F.lit(-1.0)),
            step,
        ).alias("st"),
    )
    return fold.select(
        "n_days",
        q4(_DRIFT_K * F.col("sd")).alias("delta"),
        q4(_DRIFT_H * F.col("sd")).alias("lambda"),
        q4(F.col("st")[2] - F.col("st")[3]).alias("ph_stat"),
        F.nullif(F.col("st")[4], F.lit(-1.0)).cast("long").alias("alarm_day"),
    )


_BOLL_WIN = 7  # trading-style rolling window, in days
_BOLL_K = 2.0  # band half-width in rolling sds


@register(
    "win_bollinger",
    oracle=f"""
WITH daily AS (
  SELECT CAST(date_diff('day', DATE '1970-01-01', date_trunc('day', ts))
              AS BIGINT) AS d,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum({_CENTS}) AS BIGINT) AS s,
         CAST(sum({_CENTS} * {_CENTS}) AS BIGINT) AS ss
  FROM events GROUP BY 1
),
roll AS (
  SELECT d, n, s,
         CAST(sum(n) OVER w AS BIGINT) AS rn,
         CAST(sum(s) OVER w AS BIGINT) AS rs,
         CAST(sum(ss) OVER w AS BIGINT) AS rss,
         CAST(count(*) OVER w AS BIGINT) AS rdays
  FROM daily
  WINDOW w AS (ORDER BY d ROWS BETWEEN {_BOLL_WIN - 1} PRECEDING
               AND CURRENT ROW)
),
bands AS (
  SELECT d,
         CAST(s AS DOUBLE) / n AS m_day,
         CAST(rs AS DOUBLE) / rn AS mid,
         sqrt((CAST(rss AS DOUBLE) - CAST(rs AS DOUBLE) * rs / rn)
              / (rn - 1)) AS sd
  FROM roll WHERE rdays >= {_BOLL_WIN}
)
SELECT d,
       floor(m_day * 10000 + 0.5) / 10000.0 AS daily_mean,
       floor(mid * 10000 + 0.5) / 10000.0 AS mid,
       floor((mid - {_BOLL_K} * sd) * 10000 + 0.5) / 10000.0 AS lower,
       floor((mid + {_BOLL_K} * sd) * 10000 + 0.5) / 10000.0 AS upper,
       m_day > mid + {_BOLL_K} * sd OR m_day < mid - {_BOLL_K} * sd
         AS breakout
FROM bands ORDER BY d
""",
)
def win_bollinger(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BOLLINGER BANDS over the daily mean event value: a {w}-day
    rolling volume-weighted mean with +/-{k} rolling-sd bands, flagging
    the days whose mean breaks out — the volatility-aware threshold
    beside ``win_control_chart``'s fixed-sigma limits and
    ``win_ma_crossover``'s trend signal (a band adapts its width to
    recent dispersion, so a calm week tightens the alarm).

    The rolling frame sums EXACT int moments (event counts, cents,
    squared cents) — integer window sums are order-free, so the rolling
    mean/sd are deterministic one-shot double expressions, never a
    float accumulation.  Day grain is calendar-bounded (the documented
    bounded-window case); only full {w}-day windows report."""
    ev = table(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100).cast("long")
    daily = ev.groupBy(
        F.datediff(F.date_trunc("day", "ts"), F.lit("1970-01-01").cast("date"))
        .cast("long")
        .alias("d")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(cents).cast("long").alias("s"),
        F.sum(cents * cents).cast("long").alias("ss"),
    )
    w = Window.orderBy("d").rowsBetween(-(_BOLL_WIN - 1), 0)
    roll = daily.select(
        "d",
        "n",
        "s",
        F.sum("n").over(w).cast("long").alias("rn"),
        F.sum("s").over(w).cast("long").alias("rs"),
        F.sum("ss").over(w).cast("long").alias("rss"),
        F.count(F.lit(1)).over(w).cast("long").alias("rdays"),
    )
    bands = roll.filter(F.col("rdays") >= _BOLL_WIN).select(
        "d",
        (F.col("s").cast("double") / F.col("n")).alias("m_day"),
        (F.col("rs").cast("double") / F.col("rn")).alias("mid"),
        F.sqrt(
            (
                F.col("rss").cast("double")
                - F.col("rs").cast("double") * F.col("rs") / F.col("rn")
            )
            / (F.col("rn") - 1)
        ).alias("sd"),
    )
    return bands.select(
        "d",
        q4(F.col("m_day")).alias("daily_mean"),
        q4(F.col("mid")).alias("mid"),
        q4(F.col("mid") - _BOLL_K * F.col("sd")).alias("lower"),
        q4(F.col("mid") + _BOLL_K * F.col("sd")).alias("upper"),
        (
            (F.col("m_day") > F.col("mid") + _BOLL_K * F.col("sd"))
            | (F.col("m_day") < F.col("mid") - _BOLL_K * F.col("sd"))
        ).alias("breakout"),
    ).orderBy("d")


win_bollinger.__doc__ = win_bollinger.__doc__.format(w=_BOLL_WIN, k=_BOLL_K)


@register("stream_cusum_drift", oracle=_CUSUM_ORACLE)
def stream_cusum_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING CUSUM: the drift detector maintained as a stateful
    streaming aggregate.  Events arrive in three round-robin-split
    micro-batches (every day spans every batch, so the day cells
    genuinely MERGE partial moments across triggers); each trigger folds
    its arrivals into the day-grain (count, sum, sum-of-squares) state —
    calendar-bounded cells, the stream_heavy_hitters state argument —
    and after the drain the exact same calibration + CUSUM fold as
    ``agg_cusum_drift`` runs over the FINAL state, so the batch oracle
    verifies the incremental build: a lost or double-counted micro-batch
    shifts a daily moment and fails the hash.

    At scale: per-trigger shuffle carries <= |days| x 3 longs after
    map-side partial aggregation regardless of arrival volume, the
    complete-mode output is day-sized, and the alarm math is a bounded
    fold — the monitoring loop this implements (land a batch, advance
    the detector) never rescans history."""
    import os
    import shutil
    import tempfile

    from ..streaming.state import _few_shuffle_partitions

    staging = os.path.join(
        tempfile.gettempdir(), f"sdis_staging_scusum_{os.getpid()}"
    )
    shutil.rmtree(staging, ignore_errors=True)
    ev = table(spark, sf_dir, "events").select(
        F.col("ts"), F.round(F.col("value") * 100).cast("long").alias("c")
    )
    ev.repartition(3).write.mode("overwrite").parquet(staging)

    sink = f"scusum_sink_{os.getpid()}"
    with _few_shuffle_partitions(spark):
        q = (
            spark.readStream.schema("ts timestamp, c long")
            .option("maxFilesPerTrigger", 1)
            .parquet(staging)
            .groupBy(
                F.datediff(
                    F.date_trunc("day", "ts"), F.lit("1970-01-01").cast("date")
                )
                .cast("long")
                .alias("d")
            )
            .agg(
                F.count(F.lit(1)).cast("long").alias("n"),
                F.sum("c").cast("long").alias("s"),
                F.sum(F.col("c") * F.col("c")).cast("long").alias("ss"),
            )
            .writeStream.format("memory")
            .queryName(sink)
            .outputMode("complete")
            .trigger(availableNow=True)
            .option("checkpointLocation", os.path.join(staging, "_checkpoint"))
            .start()
        )
        q.awaitTermination(180)
    daily = spark.table(sink)

    base = (
        daily.orderBy("d")
        .limit(_DRIFT_BASE_DAYS)
        .agg(
            F.sum("n").cast("long").alias("n"),
            F.sum("s").cast("long").alias("s"),
            F.sum("ss").cast("long").alias("ss"),
        )
    )
    cal = base.select(
        (F.col("s").cast("double") / F.col("n")).alias("mu0"),
        F.sqrt(_css() / (F.col("n") - 1)).alias("sd"),
    )
    arr = daily.agg(
        F.array_sort(
            F.collect_list(
                F.array(
                    F.col("d").cast("double"),
                    F.col("s").cast("double") / F.col("n"),
                )
            )
        ).alias("a"),
        F.count(F.lit(1)).cast("long").alias("n_days"),
    )
    out = _cusum_report(cal, arr)
    # Materialize before dropping the staging dir (the lifecycle-op
    # discipline: the driver hashes the frame after this returns).
    result = spark.createDataFrame(out.collect(), out.schema)
    shutil.rmtree(staging, ignore_errors=True)
    return result


@register(
    "agg_cochran_q",
    oracle=f"""
WITH x AS (
  SELECT user_id,
         CAST(date_diff('day', DATE '1970-01-01', date_trunc('day', ts))
              AS BIGINT) AS d,
         event_type,
         CASE WHEN max(value) > 50 THEN 1 ELSE 0 END AS hit
  FROM events GROUP BY 1, 2, 3
),
kk AS (SELECT CAST(count(DISTINCT event_type) AS BIGINT) AS k FROM events),
r AS (
  SELECT user_id, d, CAST(sum(hit) AS BIGINT) AS ri FROM x GROUP BY 1, 2
),
c AS (
  SELECT event_type, CAST(sum(hit) AS BIGINT) AS cj FROM x GROUP BY 1
),
s AS (
  SELECT kk.k,
         (SELECT CAST(count(*) AS BIGINT) FROM r) AS n_blocks,
         (SELECT CAST(sum(cj) AS BIGINT) FROM c) AS sc,
         (SELECT CAST(sum(cj * cj) AS BIGINT) FROM c) AS sc2,
         (SELECT CAST(sum(ri) AS BIGINT) FROM r) AS sr,
         (SELECT CAST(sum(ri * ri) AS BIGINT) FROM r) AS sr2
  FROM kk
),
q AS (
  SELECT k, n_blocks,
         (k - 1) * (k * CAST(sc2 AS DOUBLE) - CAST(sc AS DOUBLE) * sc)
           / (k * CAST(sr AS DOUBLE) - sr2) AS qstat
  FROM s
)
SELECT k, n_blocks,
       floor(qstat * 10000 + 0.5) / 10000.0 AS q,
       CAST(k - 1 AS BIGINT) AS df,
       floor({_wh_p_sql("qstat", "CAST(k - 1 AS DOUBLE)")} * 1000000 + 0.5)
         / 1000000.0 AS p
FROM q
""",
)
def agg_cochran_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COCHRAN'S Q over (user, day) blocks x event-type treatments: is a
    HIGH-VALUE outcome (any event with value > 50 in that block-cell)
    equally likely across event types, judged as a matched design?
    Each user-day is its own block, so cross-user and cross-day
    engagement variance cancels — the k-treatment generalization of
    McNemar and the binary-outcome sibling of ``agg_friedman``.  (Plain
    presence is degenerate on this corpus — every user reaches every
    type — hence the tail-outcome binary, which varies per cell.)

    Q = (k-1)[k sum C_j^2 - (sum C_j)^2] / (k sum R_i - sum R_i^2] with
    column totals C_j (blocks where type j hit) and row totals R_i
    (types that hit in block i) — EVERY ingredient an exact int64
    (all-or-none blocks contribute zero to the denominator by algebra,
    no filtering), one double division, Wilson-Hilferty + shared Phi
    for the p.  Scale: one combine to the (user, day, type) grain; the
    report is one row."""
    ev = table(spark, sf_dir, "events")
    x = ev.groupBy(
        "user_id",
        F.datediff(F.date_trunc("day", "ts"), F.lit("1970-01-01").cast("date"))
        .cast("long")
        .alias("d"),
        "event_type",
    ).agg(F.when(F.max("value") > 50, 1).otherwise(0).alias("hit"))
    kk = ev.agg(F.countDistinct("event_type").cast("long").alias("k"))
    r = x.groupBy("user_id", "d").agg(F.sum("hit").cast("long").alias("ri"))
    c = x.groupBy("event_type").agg(F.sum("hit").cast("long").alias("cj"))
    rs = r.agg(
        F.count(F.lit(1)).cast("long").alias("n_blocks"),
        F.sum("ri").cast("long").alias("sr"),
        F.sum(F.col("ri") * F.col("ri")).cast("long").alias("sr2"),
    )
    cs = c.agg(
        F.sum("cj").cast("long").alias("sc"),
        F.sum(F.col("cj") * F.col("cj")).cast("long").alias("sc2"),
    )
    s = kk.crossJoin(F.broadcast(rs)).crossJoin(F.broadcast(cs))
    qstat = (
        (F.col("k") - 1)
        * (F.col("k") * F.col("sc2").cast("double") - F.col("sc").cast("double") * F.col("sc"))
        / (F.col("k") * F.col("sr").cast("double") - F.col("sr2"))
    )
    q = s.select("k", "n_blocks", qstat.alias("qstat"))
    return q.select(
        "k",
        "n_blocks",
        q4(F.col("qstat")).alias("q"),
        (F.col("k") - 1).cast("long").alias("df"),
        r6(_wh_p(F.col("qstat"), (F.col("k") - 1).cast("double"))).alias("p"),
    )


@register(
    "agg_seasonal_mann_kendall",
    oracle=f"""
WITH daily AS (
  SELECT CAST(date_diff('day', DATE '1970-01-01', date_trunc('day', ts))
              AS BIGINT) AS d,
         CAST(sum({_CENTS}) AS BIGINT) AS y
  FROM events GROUP BY 1
),
str AS (SELECT d, d % 7 AS h, y FROM daily),
p AS (
  SELECT a.h, CAST(sum(CASE WHEN b.y > a.y THEN 1 WHEN b.y < a.y THEN -1
                            ELSE 0 END) AS BIGINT) AS s
  FROM str a JOIN str b ON a.h = b.h AND a.d < b.d
  GROUP BY 1
),
t AS (
  SELECT h, CAST(count(*) AS BIGINT) AS n,
         CAST(coalesce(sum(CASE WHEN tt > 1
                                THEN tt * (tt - 1) * (2 * tt + 5)
                                ELSE 0 END), 0) AS BIGINT) AS tiesum
  FROM (SELECT h, y, CAST(count(*) AS BIGINT) AS tt FROM str GROUP BY 1, 2)
  GROUP BY 1
),
agg AS (
  SELECT CAST(count(*) AS BIGINT) AS n_strata,
         CAST(sum(t.n) AS BIGINT) AS n_days,
         (SELECT CAST(coalesce(sum(s), 0) AS BIGINT) FROM p) AS s,
         list_reduce(list_prepend(0.0, list(
             (CAST(t.n AS DOUBLE) * (t.n - 1) * (2 * t.n + 5) - t.tiesum)
               / 18.0 ORDER BY t.h)),
           (a, b) -> a + b) AS var_s
  FROM t
),
zz AS (
  SELECT n_strata, n_days, s, var_s,
         CASE WHEN s > 0 THEN (s - 1) / sqrt(var_s)
              WHEN s < 0 THEN (s + 1) / sqrt(var_s)
              ELSE 0.0 END AS z
  FROM agg
)
SELECT n_strata, n_days, s,
       floor(var_s * 10000 + 0.5) / 10000.0 AS var_s,
       floor(z * 1000000 + 0.5) / 1000000.0 AS z,
       floor(2.0 * (1.0 - {_norm_cdf_sql("abs(z)")}) * 1000000 + 0.5)
         / 1000000.0 AS p,
       CASE WHEN 2.0 * (1.0 - {_norm_cdf_sql("abs(z)")}) < 0.05 AND s > 0
              THEN 'increasing'
            WHEN 2.0 * (1.0 - {_norm_cdf_sql("abs(z)")}) < 0.05 AND s < 0
              THEN 'decreasing'
            ELSE 'no trend' END AS trend
FROM zz
""",
)
def agg_seasonal_mann_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SEASONAL MANN-KENDALL (Hirsch & Slack) on daily revenue with
    weekly strata: pairwise trend signs are counted ONLY within the same
    day-of-week stratum (d mod 7 — pure integer, no calendar-function
    dialect risk), so a strong weekly cycle cannot masquerade as (or
    hide) a monotone trend — the standard upgrade over plain
    ``agg_mann_kendall`` for any series with a known period, and the
    workhorse of environmental/satellite time-series QA.

    S sums exact per-stratum integer pair counts; the stratum variances
    (tie-corrected) fold in stratum order; z and the shared-Phi p follow
    the MK continuity convention.  Pairs are bounded by (days/7 choose
    2) x 7 — calendar math, never fact volume."""
    ev = table(spark, sf_dir, "events")
    # Calendar-bounded daily frame with several downstream consumers —
    # one corpus scan, materialized once (guide §2.4).
    daily = ev.groupBy(
        F.datediff(F.date_trunc("day", "ts"), F.lit("1970-01-01").cast("date"))
        .cast("long")
        .alias("d")
    ).agg(
        F.sum(F.round(F.col("value") * 100).cast("long")).cast("long").alias("y")
    ).localCheckpoint(eager=True)
    s = daily.select("d", (F.col("d") % 7).alias("h"), "y")
    a = s.select(F.col("h"), F.col("d").alias("da"), F.col("y").alias("ya"))
    b = s.select(F.col("h").alias("hb"), F.col("d").alias("db"), F.col("y").alias("yb"))
    p = (
        a.join(b, (F.col("h") == F.col("hb")) & (F.col("da") < F.col("db")))
        .groupBy("h")
        .agg(
            F.sum(
                F.when(F.col("yb") > F.col("ya"), 1)
                .when(F.col("yb") < F.col("ya"), -1)
                .otherwise(0)
            )
            .cast("long")
            .alias("s")
        )
    )
    t = (
        s.groupBy("h", "y")
        .agg(F.count(F.lit(1)).cast("long").alias("tt"))
        .groupBy("h")
        .agg(
            F.count(F.lit(1)).cast("long").alias("ny"),
            F.sum("tt").cast("long").alias("n"),
            F.coalesce(
                F.sum(
                    F.when(
                        F.col("tt") > 1,
                        F.col("tt") * (F.col("tt") - 1) * (2 * F.col("tt") + 5),
                    ).otherwise(0)
                ),
                F.lit(0),
            )
            .cast("long")
            .alias("tiesum"),
        )
    )
    stot = p.agg(F.coalesce(F.sum("s"), F.lit(0)).cast("long").alias("s"))
    var_h = (
        F.col("n").cast("double") * (F.col("n") - 1) * (2 * F.col("n") + 5)
        - F.col("tiesum")
    ) / 18.0
    agg = t.agg(
        F.count(F.lit(1)).cast("long").alias("n_strata"),
        F.sum("n").cast("long").alias("n_days"),
        _ordfold(F.col("h"), var_h).alias("var_s"),
    ).crossJoin(F.broadcast(stot))
    z = (
        F.when(F.col("s") > 0, (F.col("s") - 1) / F.sqrt(F.col("var_s")))
        .when(F.col("s") < 0, (F.col("s") + 1) / F.sqrt(F.col("var_s")))
        .otherwise(F.lit(0.0))
    )
    zz = agg.select("n_strata", "n_days", "s", "var_s", z.alias("z"))
    pv = 2.0 * (1.0 - _norm_cdf(F.abs(F.col("z"))))
    return zz.select(
        "n_strata",
        "n_days",
        "s",
        q4(F.col("var_s")).alias("var_s"),
        r6(F.col("z")).alias("z"),
        r6(pv).alias("p"),
        F.when((pv < 0.05) & (F.col("s") > 0), "increasing")
        .when((pv < 0.05) & (F.col("s") < 0), "decreasing")
        .otherwise("no trend")
        .alias("trend"),
    )


_SPEC_SDS = 4.0  # spec limits: baseline mean +/- 4 baseline sds


@register(
    "agg_capability_index",
    oracle=f"""
WITH {_drift_daily_sql()},
allm AS (
  SELECT CAST(sum(n) AS BIGINT) AS n, CAST(sum(s) AS BIGINT) AS s,
         CAST(sum(ss) AS BIGINT) AS ss
  FROM daily
),
st AS (
  SELECT allm.n,
         CAST(allm.s AS DOUBLE) / allm.n AS mu,
         sqrt((CAST(allm.ss AS DOUBLE)
               - CAST(allm.s AS DOUBLE) * allm.s / allm.n)
              / (allm.n - 1)) AS sigma,
         cal.mu0 - {_SPEC_SDS} * cal.sd AS lsl,
         cal.mu0 + {_SPEC_SDS} * cal.sd AS usl
  FROM allm, cal
),
oos AS (
  SELECT CAST(count(*) AS BIGINT) AS n_out
  FROM events, st
  WHERE {_CENTS} < st.lsl OR {_CENTS} > st.usl
)
SELECT st.n,
       floor(st.mu * 10000 + 0.5) / 10000.0 AS mu_cents,
       floor(st.sigma * 10000 + 0.5) / 10000.0 AS sigma_cents,
       floor(st.lsl * 10000 + 0.5) / 10000.0 AS lsl,
       floor(st.usl * 10000 + 0.5) / 10000.0 AS usl,
       floor((st.usl - st.lsl) / (6.0 * st.sigma) * 1000000 + 0.5)
         / 1000000.0 AS cp,
       floor(least(st.usl - st.mu, st.mu - st.lsl) / (3.0 * st.sigma)
             * 1000000 + 0.5) / 1000000.0 AS cpk,
       oos.n_out,
       floor(CAST(oos.n_out AS DOUBLE) / st.n * 1000000 + 0.5)
         / 1000000.0 AS out_of_spec_rate
FROM st, oos
""",
)
def agg_capability_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PROCESS CAPABILITY Cp / Cpk of the event value against
    baseline-derived spec limits (first-week mean +/- {k} first-week
    sds — the same calibration window the drift detectors use): Cp
    asks whether the month's SPREAD fits the spec band, Cpk whether it
    fits WHERE IT ACTUALLY SITS (a centered-but-wide process and a
    tight-but-drifted one fail differently) — the one-number SLA
    summary next to ``win_control_chart``'s per-point alarms.

    Overall mean/sigma and the baseline limits all derive from exact
    int64 moments; the out-of-spec count is one exact predicate pass
    (a broadcast one-row spec join, so the scan stays map-side); Cp,
    Cpk and the rate are one double expression each."""
    cal, _ = _drift_daily(spark, sf_dir)
    ev = table(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100).cast("long")
    allm = ev.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(cents).cast("long").alias("s"),
        F.sum(cents * cents).cast("long").alias("ss"),
    )
    st = allm.crossJoin(F.broadcast(cal)).select(
        "n",
        (F.col("s").cast("double") / F.col("n")).alias("mu"),
        F.sqrt(_css() / (F.col("n") - 1)).alias("sigma"),
        (F.col("mu0") - _SPEC_SDS * F.col("sd")).alias("lsl"),
        (F.col("mu0") + _SPEC_SDS * F.col("sd")).alias("usl"),
    )
    oos = (
        ev.select(cents.alias("c"))
        .crossJoin(F.broadcast(st.select("lsl", "usl")))
        .filter((F.col("c") < F.col("lsl")) | (F.col("c") > F.col("usl")))
        .agg(F.count(F.lit(1)).cast("long").alias("n_out"))
    )
    return st.crossJoin(F.broadcast(oos)).select(
        "n",
        q4(F.col("mu")).alias("mu_cents"),
        q4(F.col("sigma")).alias("sigma_cents"),
        q4(F.col("lsl")).alias("lsl"),
        q4(F.col("usl")).alias("usl"),
        r6((F.col("usl") - F.col("lsl")) / (6.0 * F.col("sigma"))).alias("cp"),
        r6(
            F.least(F.col("usl") - F.col("mu"), F.col("mu") - F.col("lsl"))
            / (3.0 * F.col("sigma"))
        ).alias("cpk"),
        "n_out",
        r6(F.col("n_out").cast("double") / F.col("n")).alias("out_of_spec_rate"),
    )


agg_capability_index.__doc__ = agg_capability_index.__doc__.format(k=_SPEC_SDS)


_EWMA_LAMBDA = 0.2
_EWMA_L = 3.0


@register(
    "win_ewma_control",
    oracle=f"""
WITH {_drift_daily_sql()},
zfold AS (
  SELECT cal.mu0, cal.sd,
         a AS arr,
         list_reduce(
           list_prepend([cal.mu0], list_transform(a, x -> [x[2]])),
           (acc, x) -> list_append(acc,
             {_EWMA_LAMBDA} * x[1]
               + (1.0 - {_EWMA_LAMBDA}) * acc[len(acc)])) AS zs
  FROM arr, cal
)
SELECT CAST(arr[i][1] AS BIGINT) AS d,
       floor(arr[i][2] * 10000 + 0.5) / 10000.0 AS daily_mean,
       floor(zs[i + 1] * 10000 + 0.5) / 10000.0 AS ewma,
       floor((mu0 - lim) * 10000 + 0.5) / 10000.0 AS lcl,
       floor((mu0 + lim) * 10000 + 0.5) / 10000.0 AS ucl,
       zs[i + 1] > mu0 + lim OR zs[i + 1] < mu0 - lim AS out_of_control
FROM (
  SELECT mu0, sd, arr, zs, unnest(generate_series(1, len(arr))) AS i
  FROM zfold
), LATERAL (
  SELECT {_EWMA_L} * sd * sqrt({_EWMA_LAMBDA} / (2.0 - {_EWMA_LAMBDA})
           * (1.0 - pow(1.0 - {_EWMA_LAMBDA}, 2.0 * i))) AS lim
) lims
ORDER BY d
""",
)
def win_ewma_control(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EWMA CONTROL CHART (Roberts 1959) over the daily mean value:
    z_t = lambda x_t + (1-lambda) z_(t-1) seeded at the baseline mean,
    with the exact time-varying limits mu0 +/- L sd sqrt(lambda/(2-lambda)
    (1-(1-lambda)^2t)) — the drift-sensitive SPC chart between
    ``win_control_chart``'s memoryless 3-sigma points and
    ``agg_cusum_drift``'s pure accumulation (EWMA re-weights recent
    history smoothly, catching 0.5-1.5 sigma shifts fastest).

    The fold is one day-sorted float recursion identical in both
    engines; limits are closed-form per index (pow is the same libm
    call), and the baseline mean/sd come from exact first-week int
    moments.  Day grain is calendar-bounded."""
    cal, arr = _drift_daily(spark, sf_dir)
    return _ewma_chart_report(cal, arr)


def _ewma_chart_report(cal: DataFrame, arr: DataFrame) -> DataFrame:
    """The EWMA chart fold + limits over (cal, arr) — shared by the
    batch op above and its streaming twin ``stream_ewma_monitor``."""
    one = arr.crossJoin(F.broadcast(cal))
    zfold = one.select(
        "mu0",
        "sd",
        F.col("a").alias("arr"),
        F.aggregate(
            F.col("a"),
            F.array(F.col("mu0")),
            lambda acc, x: F.concat(
                acc,
                F.array(
                    _EWMA_LAMBDA * x[1]
                    + (1.0 - _EWMA_LAMBDA) * F.element_at(acc, F.size(acc))
                ),
            ),
        ).alias("zs"),
    )
    rows = zfold.select(
        "mu0",
        "sd",
        "arr",
        "zs",
        F.posexplode(F.col("arr")).alias("i0", "x"),
    )
    t = F.col("i0") + 1  # 1-based chart index
    lim = (
        _EWMA_L
        * F.col("sd")
        * F.sqrt(
            _EWMA_LAMBDA
            / (2.0 - _EWMA_LAMBDA)
            * (1.0 - F.pow(F.lit(1.0 - _EWMA_LAMBDA), 2.0 * t))
        )
    )
    z = F.element_at(F.col("zs"), (F.col("i0") + 2).cast("int"))
    return rows.select(
        F.col("x")[0].cast("long").alias("d"),
        q4(F.col("x")[1]).alias("daily_mean"),
        q4(z).alias("ewma"),
        q4(F.col("mu0") - lim).alias("lcl"),
        q4(F.col("mu0") + lim).alias("ucl"),
        ((z > F.col("mu0") + lim) | (z < F.col("mu0") - lim)).alias(
            "out_of_control"
        ),
    ).orderBy("d")


@register(
    "agg_westgard_rules",
    oracle=f"""
WITH {_drift_daily_sql()},
z AS (
  SELECT CAST(x[1] AS BIGINT) AS d, (x[2] - cal.mu0) / cal.sd AS z
  FROM (SELECT unnest(a) AS x FROM arr), cal
),
w AS (
  SELECT d, z,
         lag(z, 1) OVER (ORDER BY d) AS z1,
         lag(z, 2) OVER (ORDER BY d) AS z2,
         lag(z, 3) OVER (ORDER BY d) AS z3,
         CASE WHEN z > 0 THEN 1 WHEN z < 0 THEN -1 ELSE 0 END AS sg,
         min(CASE WHEN z > 0 THEN 1 WHEN z < 0 THEN -1 ELSE 0 END)
           OVER (ORDER BY d ROWS BETWEEN 9 PRECEDING AND CURRENT ROW) AS sgmin,
         max(CASE WHEN z > 0 THEN 1 WHEN z < 0 THEN -1 ELSE 0 END)
           OVER (ORDER BY d ROWS BETWEEN 9 PRECEDING AND CURRENT ROW) AS sgmax,
         CAST(count(*) OVER (ORDER BY d ROWS BETWEEN 9 PRECEDING
                             AND CURRENT ROW) AS BIGINT) AS w10
  FROM z
),
v AS (
  SELECT d,
         abs(z) > 3.0 AS r13s,
         z1 IS NOT NULL AND abs(z) > 2.0 AND abs(z1) > 2.0
           AND z * z1 > 0 AS r22s,
         z1 IS NOT NULL AND z * z1 < 0 AND abs(z - z1) > 4.0 AS r4s,
         z3 IS NOT NULL
           AND abs(z) > 1.0 AND abs(z1) > 1.0 AND abs(z2) > 1.0
           AND abs(z3) > 1.0 AND z * z1 > 0 AND z1 * z2 > 0
           AND z2 * z3 > 0 AS r41s,
         w10 = 10 AND sgmin = sgmax AND sgmin <> 0 AS r10x
  FROM w
)
SELECT rule, CAST(sum(CASE WHEN hit THEN 1 ELSE 0 END) AS BIGINT)
         AS violations,
       min(CASE WHEN hit THEN d END) AS first_day
FROM (
  SELECT d, '1_3s' AS rule, r13s AS hit FROM v
  UNION ALL SELECT d, '2_2s', r22s FROM v
  UNION ALL SELECT d, 'R_4s', r4s FROM v
  UNION ALL SELECT d, '4_1s', r41s FROM v
  UNION ALL SELECT d, '10_x', r10x FROM v
) GROUP BY rule ORDER BY rule
""",
)
def agg_westgard_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WESTGARD MULTI-RULE QC over the standardized daily means — the
    clinical-lab rule battery (1_3s / 2_2s / R_4s / 4_1s / 10_x)
    combining single-point, consecutive-pair, range, and run logic so
    random error and systematic error trip DIFFERENT rules (one wild
    day is 1_3s; a 1-sigma drift is 4_1s/10_x long before any single
    point crosses 3 sigma).  Reports per-rule violation counts and the
    first violation day.

    z-scores standardize against the shared first-week baseline; the
    lag / run windows ride the calendar-bounded day grain (the bounded
    single-task case); every rule is an exact comparison on doubles
    identical in both engines."""
    cal, arr = _drift_daily(spark, sf_dir)
    z = (
        arr.select(F.explode("a").alias("x"))
        .crossJoin(F.broadcast(cal))
        .select(
            F.col("x")[0].cast("long").alias("d"),
            ((F.col("x")[1] - F.col("mu0")) / F.col("sd")).alias("z"),
        )
    )
    w_d = Window.orderBy("d")
    w10 = w_d.rowsBetween(-9, 0)
    sg = F.when(F.col("z") > 0, 1).when(F.col("z") < 0, -1).otherwise(0)
    w = z.select(
        "d",
        "z",
        F.lag("z", 1).over(w_d).alias("z1"),
        F.lag("z", 2).over(w_d).alias("z2"),
        F.lag("z", 3).over(w_d).alias("z3"),
        F.min(sg).over(w10).alias("sgmin"),
        F.max(sg).over(w10).alias("sgmax"),
        F.count(F.lit(1)).over(w10).cast("long").alias("w10"),
    )
    v = w.select(
        "d",
        (F.abs(F.col("z")) > 3.0).alias("r13s"),
        (
            F.col("z1").isNotNull()
            & (F.abs(F.col("z")) > 2.0)
            & (F.abs(F.col("z1")) > 2.0)
            & (F.col("z") * F.col("z1") > 0)
        ).alias("r22s"),
        (
            F.col("z1").isNotNull()
            & (F.col("z") * F.col("z1") < 0)
            & (F.abs(F.col("z") - F.col("z1")) > 4.0)
        ).alias("r4s"),
        (
            F.col("z3").isNotNull()
            & (F.abs(F.col("z")) > 1.0)
            & (F.abs(F.col("z1")) > 1.0)
            & (F.abs(F.col("z2")) > 1.0)
            & (F.abs(F.col("z3")) > 1.0)
            & (F.col("z") * F.col("z1") > 0)
            & (F.col("z1") * F.col("z2") > 0)
            & (F.col("z2") * F.col("z3") > 0)
        ).alias("r41s"),
        (
            (F.col("w10") == 10)
            & (F.col("sgmin") == F.col("sgmax"))
            & (F.col("sgmin") != 0)
        ).alias("r10x"),
    )
    stacked = None
    for rule, colname in [
        ("1_3s", "r13s"),
        ("2_2s", "r22s"),
        ("R_4s", "r4s"),
        ("4_1s", "r41s"),
        ("10_x", "r10x"),
    ]:
        part = v.select("d", F.lit(rule).alias("rule"), F.col(colname).alias("hit"))
        stacked = part if stacked is None else stacked.unionAll(part)
    return (
        stacked.groupBy("rule")
        .agg(
            F.sum(F.when(F.col("hit"), 1).otherwise(0)).cast("long").alias("violations"),
            F.min(F.when(F.col("hit"), F.col("d"))).alias("first_day"),
        )
        .orderBy("rule")
    )


@register(
    "agg_benjamini_yekutieli",
    oracle=f"""
WITH {_seg_moments_sql()},
tot AS (
  SELECT CAST(count(*) AS BIGINT) AS k, CAST(sum(n) AS BIGINT) AS nn,
         CAST(sum(s) AS BIGINT) AS st, CAST(sum(ss) AS BIGINT) AS sst
  FROM seg
),
zt AS (
  SELECT g, n,
         (CAST(s AS DOUBLE) / n - CAST(st - s AS DOUBLE) / (nn - n))
           / sqrt((({_CSS_SQL})
                   + (CAST(sst - ss AS DOUBLE)
                      - CAST(st - s AS DOUBLE) * (st - s) / (nn - n)))
                  / (nn - 2) * (1.0 / n + 1.0 / (nn - n))) AS z,
         k
  FROM seg, tot
),
pt AS (
  SELECT g, n, z, k,
         2.0 * (1.0 - {_norm_cdf_sql("abs(z)")}) AS p
  FROM zt
),
rk AS (SELECT *, row_number() OVER (ORDER BY p, g) AS rk FROM pt),
hm AS (
  SELECT list_reduce(list_prepend(0.0, list(1.0 / rk ORDER BY rk)),
                     (a, b) -> a + b) AS harm
  FROM rk
),
by_ AS (
  SELECT g, n, z, p, harm,
         least(1.0, min(p * k * harm / rk) OVER (
           ORDER BY p, g ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
           AS p_adj
  FROM rk, hm
)
SELECT g AS event_type, n,
       floor(z * 1000000 + 0.5) / 1000000.0 AS z,
       floor(p * 1000000 + 0.5) / 1000000.0 AS p,
       floor(p_adj * 1000000 + 0.5) / 1000000.0 AS p_adj,
       p_adj <= 0.05 AS rejected
FROM by_ ORDER BY event_type
""",
)
def agg_benjamini_yekutieli(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BENJAMINI-YEKUTIELI FDR CONTROL over the same per-segment
    mean-shift family as ``agg_benjamini_hochberg`` — the variant that
    stays valid under ARBITRARY dependence between the tests (segment
    tests against a shared complement are positively dependent by
    construction, so BY is the conservative choice a careful monitoring
    battery offers next to BH): the step-up threshold is inflated by
    the harmonic constant c(k) = sum_{{i<=k}} 1/i.

    Same exact-int z construction; the harmonic constant folds 1/rank
    over the rank-ordered segment frame (bounded, deterministic order);
    the tail-min window runs on the k-row frame.  One corpus pass."""
    seg = _seg_moments(spark, sf_dir)
    tot = seg.agg(
        F.count(F.lit(1)).cast("long").alias("k"),
        F.sum("n").cast("long").alias("nn"),
        F.sum("s").cast("long").alias("st"),
        F.sum("ss").cast("long").alias("sst"),
    )
    j = seg.crossJoin(F.broadcast(tot))
    css1 = _css()
    css2 = (F.col("sst") - F.col("ss")).cast("double") - (
        F.col("st") - F.col("s")
    ).cast("double") * (F.col("st") - F.col("s")) / (F.col("nn") - F.col("n"))
    z = (
        F.col("s").cast("double") / F.col("n")
        - (F.col("st") - F.col("s")).cast("double") / (F.col("nn") - F.col("n"))
    ) / F.sqrt(
        (css1 + css2)
        / (F.col("nn") - 2)
        * (1.0 / F.col("n") + 1.0 / (F.col("nn") - F.col("n")))
    )
    pt = j.select(
        "g", "n", "k", z.alias("z"),
        (2.0 * (1.0 - _norm_cdf(F.abs(z)))).alias("p"),
    )
    from pyspark.sql import Window

    w_rank = Window.orderBy("p", "g")
    ranked = pt.withColumn("rk", F.row_number().over(w_rank))
    hm = ranked.agg(_ordfold(F.col("rk"), 1.0 / F.col("rk")).alias("harm"))
    tail = Window.orderBy("p", "g").rowsBetween(Window.currentRow, Window.unboundedFollowing)
    by = ranked.crossJoin(F.broadcast(hm)).withColumn(
        "p_adj",
        F.least(
            F.lit(1.0),
            F.min(F.col("p") * F.col("k") * F.col("harm") / F.col("rk")).over(tail),
        ),
    )
    return by.select(
        F.col("g").alias("event_type"),
        "n",
        r6(F.col("z")).alias("z"),
        r6(F.col("p")).alias("p"),
        r6(F.col("p_adj")).alias("p_adj"),
        (F.col("p_adj") <= 0.05).alias("rejected"),
    ).orderBy("event_type")


@register(
    "agg_inequality_indices",
    oracle="""
WITH vh AS (
  SELECT CAST(l_quantity AS BIGINT) AS v, CAST(count(*) AS BIGINT) AS t
  FROM lineitem GROUP BY 1
),
tot AS (SELECT CAST(sum(t) AS BIGINT) AS n, CAST(sum(t * v) AS BIGINT) AS s
        FROM vh),
fold AS (
  SELECT n, s,
         list_reduce(list_prepend(0.0, list(
             t * ((CAST(v AS DOUBLE) * n / s) * ln(CAST(v AS DOUBLE) * n / s))
             ORDER BY v)), (a, b) -> a + b) AS ft,
         list_reduce(list_prepend(0.0, list(
             t * ln(CAST(v AS DOUBLE) * n / s) ORDER BY v)),
           (a, b) -> a + b) AS fl,
         list_reduce(list_prepend(0.0, list(
             t * ln(CAST(v AS DOUBLE)) ORDER BY v)), (a, b) -> a + b) AS fv
  FROM vh, tot GROUP BY n, s
)
SELECT n,
       floor(CAST(s AS DOUBLE) / n * 1000000 + 0.5) / 1000000.0 AS mean_qty,
       floor(ft / n * 1000000 + 0.5) / 1000000.0 AS theil_t,
       floor(-fl / n * 1000000 + 0.5) / 1000000.0 AS theil_l,
       floor((1.0 - exp(fv / n) / (CAST(s AS DOUBLE) / n)) * 1000000 + 0.5)
         / 1000000.0 AS atkinson_1
FROM fold
""",
)
def agg_inequality_indices(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ENTROPY-FAMILY INEQUALITY INDICES of the quantity distribution:
    Theil's T (top-sensitive), Theil's L / mean-log-deviation
    (bottom-sensitive), and the Atkinson index at epsilon = 1
    (1 - geometric/arithmetic mean) — the decomposable complements of
    ``agg_gini``/``agg_lorenz_curve`` that a data-balance audit reports
    (T and L are additively decomposable by subgroup; Gini is not).

    All three are folds over the BOUNDED value histogram (<= 50
    distinct quantities), never the data grain: exact int counts times
    identical ln terms, folded in value order; the three indices are
    pinned double closed forms of the folds.  One map-side combine."""
    li = table(spark, sf_dir, "lineitem")
    vh = li.groupBy(F.col("l_quantity").cast("long").alias("v")).agg(
        F.count(F.lit(1)).cast("long").alias("t")
    )
    tot = vh.agg(
        F.sum("t").cast("long").alias("n"),
        F.sum(F.col("t") * F.col("v")).cast("long").alias("s"),
    )
    j = vh.crossJoin(F.broadcast(tot))
    r = F.col("v").cast("double") * F.col("n") / F.col("s")
    fold = j.groupBy("n", "s").agg(
        _ordfold(F.col("v"), F.col("t") * (r * F.log(r))).alias("ft"),
        _ordfold(F.col("v"), F.col("t") * F.log(r)).alias("fl"),
        _ordfold(F.col("v"), F.col("t") * F.log(F.col("v").cast("double"))).alias(
            "fv"
        ),
    )
    n, s = F.col("n"), F.col("s")
    return fold.select(
        "n",
        r6(s.cast("double") / n).alias("mean_qty"),
        r6(F.col("ft") / n).alias("theil_t"),
        r6(-F.col("fl") / n).alias("theil_l"),
        r6(1.0 - F.exp(F.col("fv") / n) / (s.cast("double") / n)).alias(
            "atkinson_1"
        ),
    )


_ESD_ROUNDS = 3


def _esd_oracle() -> str:
    """Unrolled generalized-ESD rounds: each round computes exact int
    moments of the REMAINING days, flags the max-|z| day, removes it."""
    parts = [
        f"""WITH daily AS (
  SELECT CAST(date_diff('day', DATE '1970-01-01', date_trunc('day', ts))
              AS BIGINT) AS d,
         CAST(sum({_CENTS}) AS BIGINT) AS y
  FROM events GROUP BY 1
),
r1 AS (SELECT d, y FROM daily)"""
    ]
    for j in range(1, _ESD_ROUNDS + 1):
        parts.append(
            f""",
m{j} AS (
  SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(y) AS BIGINT) AS s,
         CAST(sum(y * y) AS BIGINT) AS ss
  FROM r{j}
),
z{j} AS (
  SELECT r{j}.d, r{j}.y,
         abs(CAST(r{j}.y AS DOUBLE) - CAST(s AS DOUBLE) / n)
           / sqrt((CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) * s / n) / (n - 1))
           AS r_stat
  FROM r{j}, m{j}
),
o{j} AS (SELECT d, y, r_stat FROM z{j} ORDER BY r_stat DESC, d LIMIT 1),
r{j + 1} AS (SELECT d, y FROM r{j} WHERE d <> (SELECT d FROM o{j}))"""
        )
    sel = "\nUNION ALL\n".join(
        f"SELECT CAST({j} AS BIGINT) AS round, d AS day_index,"
        f" floor(CAST(y AS DOUBLE) / 100.0 * 10000 + 0.5) / 10000.0 AS value_dollars,"
        f" floor(r_stat * 1000000 + 0.5) / 1000000.0 AS r_stat FROM o{j}"
        for j in range(1, _ESD_ROUNDS + 1)
    )
    parts.append(f"\nSELECT * FROM ({sel}) ORDER BY round")
    return "".join(parts)


@register("agg_esd_outliers", oracle=_esd_oracle())
def agg_esd_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GENERALIZED ESD (extreme studentized deviate, {r} rounds) on
    daily revenue: iteratively flag the most extreme day, REMOVE it,
    and re-studentize — the masking-proof upgrade of ``agg_grubbs_test``
    (a second outlier inflates the variance and hides the first from a
    single-shot test; ESD re-estimates after every removal).  Reports
    each round's flagged day and its R statistic (statistic-only, the
    welch_t convention — the lambda critical values are t-quantiles).

    Each round's mean/sd come from EXACT int64 moments of the remaining
    days (no folds needed); the argmax is ordered by the pinned double
    ratio with day tiebreak; rounds unroll as chained CTEs in the
    oracle and chained anti-filters in the DataFrame plan.  Scale:
    {r} x calendar-bounded algebra."""
    ev = table(spark, sf_dir, "events")
    # Calendar-bounded daily frame with several downstream consumers —
    # one corpus scan, materialized once (guide §2.4).
    daily = ev.groupBy(
        F.datediff(F.date_trunc("day", "ts"), F.lit("1970-01-01").cast("date"))
        .cast("long")
        .alias("d")
    ).agg(
        F.sum(F.round(F.col("value") * 100).cast("long")).cast("long").alias("y")
    ).localCheckpoint(eager=True)
    cur = daily
    outs = []
    for j in range(1, _ESD_ROUNDS + 1):
        m = cur.agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("y").cast("long").alias("s"),
            F.sum(F.col("y") * F.col("y")).cast("long").alias("ss"),
        )
        z = cur.crossJoin(F.broadcast(m)).select(
            "d",
            "y",
            (
                F.abs(F.col("y").cast("double") - F.col("s").cast("double") / F.col("n"))
                / F.sqrt(
                    (
                        F.col("ss").cast("double")
                        - F.col("s").cast("double") * F.col("s") / F.col("n")
                    )
                    / (F.col("n") - 1)
                )
            ).alias("r_stat"),
        )
        top = z.orderBy(F.desc("r_stat"), "d").limit(1).localCheckpoint(eager=True)
        outs.append(
            top.select(
                F.lit(j).cast("long").alias("round"),
                F.col("d").alias("day_index"),
                q4(F.col("y").cast("double") / 100.0).alias("value_dollars"),
                r6(F.col("r_stat")).alias("r_stat"),
            )
        )
        flagged = top.select(F.col("d").alias("fd"))
        cur = cur.join(F.broadcast(flagged), cur["d"] == F.col("fd"), "left_anti")
    res = outs[0]
    for o in outs[1:]:
        res = res.unionAll(o)
    return res.orderBy("round")


agg_esd_outliers.__doc__ = agg_esd_outliers.__doc__.format(r=_ESD_ROUNDS)


from ..registry import spec as _spec  # noqa: E402  (registered above)


@register("stream_page_hinkley", oracle=_spec("agg_page_hinkley").oracle)
def stream_page_hinkley(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING PAGE-HINKLEY: the self-calibrating drift detector
    maintained as a stateful streaming aggregate — the running-mean
    sibling of ``stream_cusum_drift`` (CUSUM needs a frozen baseline;
    PH tracks the mean it drifts FROM, so the streaming deployment
    needs no calibration warm-start).  Events arrive in three
    round-robin micro-batches; each trigger merges partial day-grain
    moments into the complete-mode state; after the drain the exact
    ``agg_page_hinkley`` fold runs over the FINAL state, so the batch
    oracle verifies the incremental build — a lost or double-counted
    micro-batch shifts a daily mean and fails the hash.

    Scale: per-trigger shuffle <= |days| x 3 longs after map-side
    partial aggregation regardless of arrival volume; the detector fold
    is calendar-bounded (the stream_cusum_drift state argument)."""
    import os
    import shutil
    import tempfile

    from ..streaming.state import _few_shuffle_partitions

    staging = os.path.join(tempfile.gettempdir(), f"sdis_staging_sph_{os.getpid()}")
    shutil.rmtree(staging, ignore_errors=True)
    ev = table(spark, sf_dir, "events").select(
        F.col("ts"), F.round(F.col("value") * 100).cast("long").alias("c")
    )
    ev.repartition(3).write.mode("overwrite").parquet(staging)

    sink = f"sph_sink_{os.getpid()}"
    with _few_shuffle_partitions(spark):
        q = (
            spark.readStream.schema("ts timestamp, c long")
            .option("maxFilesPerTrigger", 1)
            .parquet(staging)
            .groupBy(
                F.datediff(
                    F.date_trunc("day", "ts"), F.lit("1970-01-01").cast("date")
                )
                .cast("long")
                .alias("d")
            )
            .agg(
                F.count(F.lit(1)).cast("long").alias("n"),
                F.sum("c").cast("long").alias("s"),
                F.sum(F.col("c") * F.col("c")).cast("long").alias("ss"),
            )
            .writeStream.format("memory")
            .queryName(sink)
            .outputMode("complete")
            .trigger(availableNow=True)
            .option("checkpointLocation", os.path.join(staging, "_checkpoint"))
            .start()
        )
        q.awaitTermination(180)
    daily = spark.table(sink)

    base = (
        daily.orderBy("d")
        .limit(_DRIFT_BASE_DAYS)
        .agg(
            F.sum("n").cast("long").alias("n"),
            F.sum("s").cast("long").alias("s"),
            F.sum("ss").cast("long").alias("ss"),
        )
    )
    cal = base.select(
        (F.col("s").cast("double") / F.col("n")).alias("mu0"),
        F.sqrt(_css() / (F.col("n") - 1)).alias("sd"),
    )
    arr = daily.agg(
        F.array_sort(
            F.collect_list(
                F.array(
                    F.col("d").cast("double"),
                    F.col("s").cast("double") / F.col("n"),
                )
            )
        ).alias("a"),
        F.count(F.lit(1)).cast("long").alias("n_days"),
    )
    out = _ph_report(cal, arr)
    result = spark.createDataFrame(out.collect(), out.schema)
    shutil.rmtree(staging, ignore_errors=True)
    return result


@register(
    "agg_hodges_lehmann",
    oracle="""
WITH vh AS (
  SELECT CAST(l_quantity AS BIGINT) AS v, CAST(count(*) AS BIGINT) AS t
  FROM lineitem GROUP BY 1
),
tot AS (SELECT CAST(sum(t) AS BIGINT) AS n FROM vh),
ws AS (
  SELECT a.v + b.v AS s, CAST(sum(a.t * b.t) AS BIGINT) AS w
  FROM vh a JOIN vh b ON a.v < b.v GROUP BY 1
),
wd AS (SELECT 2 * v AS s, CAST(t * (t + 1) AS BIGINT) / 1 AS w2x FROM vh),
allw AS (
  SELECT s, CAST(sum(w) AS BIGINT) AS w2 FROM (
    SELECT s, 2 * w AS w FROM ws
    UNION ALL SELECT s, w2x FROM wd
  ) GROUP BY s
),
cum AS (
  SELECT a.s, CAST(sum(b.w2) AS BIGINT) AS cw2
  FROM allw a JOIN allw b ON b.s <= a.s GROUP BY a.s
),
np AS (SELECT CAST(n * (n + 1) AS BIGINT) AS np2 FROM tot),
ks AS (
  SELECT CAST(floor((CAST(np2 AS DOUBLE) / 2 + 1) / 2) AS BIGINT) * 2 - 1
           AS k1x,
         CAST(floor((CAST(np2 AS DOUBLE) / 2 + 2) / 2) AS BIGINT) * 2 - 1
           AS k2x
  FROM np
),
os_ AS (
  SELECT (SELECT min(s) FROM cum WHERE cw2 >= k1x) AS s1,
         (SELECT min(s) FROM cum WHERE cw2 >= k2x) AS s2
  FROM ks
)
SELECT n,
       CAST(np2 / 2 AS BIGINT) AS n_pairs,
       floor((CAST(s1 + s2 AS DOUBLE) / 4.0) * 1000000 + 0.5) / 1000000.0
         AS hl_estimate,
       floor(CAST((SELECT CAST(sum(t * v) AS BIGINT) FROM vh) AS DOUBLE) / n
             * 1000000 + 0.5) / 1000000.0 AS mean
FROM tot, np, os_
""",
)
def agg_hodges_lehmann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HODGES-LEHMANN LOCATION ESTIMATOR of quantity: the median of all
    n(n+1)/2 Walsh averages (x_i + x_j)/2, i <= j — the location
    estimate the Wilcoxon signed-rank test inverts to, ~30% more
    efficient than the median under normality yet still 29%-breakdown
    robust; reported next to the plain mean so the skew gap is visible.

    NO pairwise stage: Walsh-average SUMS live on the <= 99-value
    doubled-sum grid built from the value histogram (weights t_a*t_b
    exact int64, diagonal t(t+1)/2 pairs via doubled weights so nothing
    halves early); the median order statistics k1/k2 are min s with
    cumulative weight >= k, and the estimate is (s_(k1) + s_(k2))/4 —
    one pinned double at the very end.

    Plan shape: one corpus scan combines to the quantity histogram,
    whose size the quantity DOMAIN bounds (<= 50 values, flat in fact
    volume), and one aggregate gathers it into an array.  The
    Walsh-sum grid (<= 1275 weighted sums), its cumulative order
    statistics and the mean are higher-order-function folds over that
    array in the projection — no join, no checkpoint."""
    li = table(spark, sf_dir, "lineitem")
    h = (
        li.groupBy(F.col("l_quantity").cast("long").alias("v"))
        .agg(F.count(F.lit(1)).cast("long").alias("t"))
        .agg(F.collect_list(F.struct("v", "t")).alias("h"))
    )
    # The folds are SQL text: built as Column objects they cost ~1,500
    # py4j round trips per call, more than the plan takes to run.
    #
    # walsh: (s, w2) over a.v < b.v pairs plus the diagonal, sorted by s;
    # the running weight first reaching k at an element reaches it at
    # the same s on the s-grouped grid, so no group-by is needed.
    walsh = """array_sort(concat(
        flatten(transform(h, a -> transform(filter(h, b -> b.v > a.v),
            b -> named_struct('s', a.v + b.v, 'w2', 2 * a.t * b.t)))),
        transform(h, a -> named_struct('s', 2 * a.v, 'w2', a.t * (a.t + 1)))))"""

    def first_s(field, plus):
        # s of the first element whose running weight reaches the doubled
        # order statistic floor((n(n+1)/2 + plus)/2)*2 - 1
        k = f"CAST(floor((CAST(n * (n + 1) AS DOUBLE) / 2 + {plus}) / 2) AS BIGINT) * 2 - 1"
        return f"coalesce(acc.{field}, CASE WHEN acc.cw2 + e.w2 >= {k} THEN e.s END)"

    out = h.selectExpr(
        "aggregate(h, 0L, (s, e) -> s + e.t) AS n",
        "aggregate(h, 0L, (s, e) -> s + e.t * e.v) AS tv",
        "h",
    ).selectExpr(
        "n",
        "tv",
        "n * (n + 1) AS np2",
        f"""aggregate({walsh},
            named_struct('cw2', 0L, 'k1', CAST(NULL AS BIGINT), 'k2', CAST(NULL AS BIGINT)),
            (acc, e) -> named_struct('cw2', acc.cw2 + e.w2,
                                     'k1', {first_s("k1", 1)}, 'k2', {first_s("k2", 2)})) AS os""",
    )
    return out.select(
        "n",
        (F.col("np2") / 2).cast("long").alias("n_pairs"),
        r6((F.col("os.k1") + F.col("os.k2")).cast("double") / 4.0).alias("hl_estimate"),
        r6(F.col("tv").cast("double") / F.col("n")).alias("mean"),
    )


_QN_D = 2.21914446598508  # asymptotic Qn consistency constant (Rousseeuw-Croux)


@register(
    "agg_qn_scale",
    oracle=f"""
WITH vh AS (
  SELECT CAST(l_quantity AS BIGINT) AS v, CAST(count(*) AS BIGINT) AS t
  FROM lineitem GROUP BY 1
),
tot AS (SELECT CAST(sum(t) AS BIGINT) AS n FROM vh),
dh AS (
  SELECT dv, CAST(sum(w) AS BIGINT) AS w FROM (
    SELECT b.v - a.v AS dv, a.t * b.t AS w
    FROM vh a JOIN vh b ON a.v < b.v
    UNION ALL
    SELECT 0 AS dv, CAST(t * (t - 1) AS BIGINT) / 2 AS w FROM vh WHERE t > 1
  ) GROUP BY dv
),
cum AS (
  SELECT a.dv, CAST(sum(b.w) AS BIGINT) AS cw
  FROM dh a JOIN dh b ON b.dv <= a.dv GROUP BY a.dv
),
kk AS (
  SELECT n,
         CAST(floor((floor(CAST(n AS DOUBLE) / 2) + 1)
                    * floor(CAST(n AS DOUBLE) / 2) / 2) AS BIGINT) AS k
  FROM tot
),
os_ AS (SELECT n, k, (SELECT min(dv) FROM cum WHERE cw >= k) AS qraw FROM kk)
SELECT n, k, CAST(qraw AS BIGINT) AS qn_raw,
       floor({_QN_D} * qraw * 1000000 + 0.5) / 1000000.0 AS qn
FROM os_
""",
)
def agg_qn_scale(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROUSSEEUW-CROUX Qn SCALE ESTIMATOR of quantity: the k-th order
    statistic (k = C(h,2), h = n/2+1) of all pairwise |x_i - x_j| — the
    50%-breakdown scale estimate that, unlike MAD
    (``ext_outlier_mad``), needs NO location estimate and keeps 82%
    efficiency under normality (MAD: 37%).  The robust sd every
    contamination-heavy monitoring threshold should use.

    NO pairwise stage: the |diff| distribution lives on the <= 50-value
    difference histogram (value-histogram self-join with exact int64
    pair weights, zero-diffs t(t-1)/2); the order statistic is min dv
    with cumweight >= k; k's integer algebra evaluates in identical
    floor/double form in both engines (exact below 2^53); the one
    double is the final consistency scaling."""
    li = table(spark, sf_dir, "lineitem")
    # <=50-value quantity histogram with 4-5 consumers — one corpus scan,
    # materialized once (guide §2.4).
    vh = (
        li.groupBy(F.col("l_quantity").cast("long").alias("v"))
        .agg(F.count(F.lit(1)).cast("long").alias("t"))
        .localCheckpoint(eager=True)
    )
    tot = vh.agg(F.sum("t").cast("long").alias("n"))
    a = vh.select(F.col("v").alias("va"), F.col("t").alias("ta"))
    b = vh.select(F.col("v").alias("vb"), F.col("t").alias("tb"))
    dpairs = (
        a.join(F.broadcast(b), F.col("va") < F.col("vb"))
        .select(
            (F.col("vb") - F.col("va")).alias("dv"),
            (F.col("ta") * F.col("tb")).alias("w"),
        )
    )
    dzero = vh.filter(F.col("t") > 1).select(
        F.lit(0).cast("long").alias("dv"),
        (F.col("t") * (F.col("t") - 1) / 2).cast("long").alias("w"),
    )
    dh = dpairs.unionByName(dzero).groupBy("dv").agg(
        F.sum("w").cast("long").alias("w")
    )
    ca = dh.select(F.col("dv").alias("da"))
    cb = dh.select(F.col("dv").alias("db"), "w")
    cum = (
        ca.join(F.broadcast(cb), F.col("db") <= F.col("da"))
        .groupBy("da")
        .agg(F.sum("w").cast("long").alias("cw"))
    )
    kk = tot.select(
        "n",
        F.floor(
            (F.floor(F.col("n").cast("double") / 2) + 1)
            * F.floor(F.col("n").cast("double") / 2)
            / 2
        )
        .cast("long")
        .alias("k"),
    )
    j = cum.crossJoin(F.broadcast(kk))
    qraw = j.filter(F.col("cw") >= F.col("k")).agg(F.min("da").alias("qraw"))
    out = kk.crossJoin(F.broadcast(qraw))
    return out.select(
        "n",
        "k",
        F.col("qraw").cast("long").alias("qn_raw"),
        r6(_QN_D * F.col("qraw")).alias("qn"),
    )


@register(
    "ext_cusum_squares",
    oracle="""
WITH daily AS (
  SELECT CAST(date_diff('day', DATE '1970-01-01', date_trunc('day', ts))
              AS BIGINT) AS d,
         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS y
  FROM events GROUP BY 1
),
ret AS (
  SELECT a.d, CAST(a.y - b.y AS BIGINT) AS r
  FROM daily a JOIN daily b ON b.d = a.d - 1
),
tot AS (SELECT CAST(count(*) AS BIGINT) AS tt,
               CAST(sum(r * r) AS BIGINT) AS sr2 FROM ret),
cum AS (
  SELECT a.d,
         CAST(sum(b.r * b.r) AS BIGINT) AS c2,
         CAST(count(*) AS BIGINT) AS i
  FROM ret a JOIN ret b ON b.d <= a.d GROUP BY a.d
),
dev AS (
  SELECT d, abs(CAST(c2 AS DOUBLE) / sr2 - CAST(i AS DOUBLE) / tt) AS dev
  FROM cum, tot
),
mx AS (SELECT d, dev FROM dev ORDER BY dev DESC, d LIMIT 1)
SELECT (SELECT tt FROM tot) AS n_returns,
       d AS at_day,
       floor(dev * 1000000 + 0.5) / 1000000.0 AS max_dev
FROM mx
""",
)
def ext_cusum_squares(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM-OF-SQUARES (Brown-Durbin-Evans) variance-stability check
    on daily revenue changes: the cumulative share of squared returns
    s_t = sum_{i<=t} r_i^2 / sum r^2 should climb the uniform diagonal
    t/T if volatility is constant — the maximum |s_t - t/T| deviation
    and WHERE it peaks localize a variance regime change that
    mean-watching detectors (``agg_cusum_drift``, Page-Hinkley) are
    blind to.  Statistic-only (the BDE bands are special tables — the
    welch_t convention).

    Returns and squared-return cumsums are exact int64 on the dense
    calendar grid (day-offset joins, never a window over fact rows);
    the deviation is one pinned double ratio per day; the argmax
    tiebreaks by day.  Scale: calendar-bounded."""
    ev = table(spark, sf_dir, "events")
    # Calendar-bounded daily frame with several downstream consumers —
    # one corpus scan, materialized once (guide §2.4).
    daily = ev.groupBy(
        F.datediff(F.date_trunc("day", "ts"), F.lit("1970-01-01").cast("date"))
        .cast("long")
        .alias("d")
    ).agg(
        F.sum(F.round(F.col("value") * 100).cast("long")).cast("long").alias("y")
    ).localCheckpoint(eager=True)
    a = daily.select(F.col("d").alias("da"), F.col("y").alias("ya"))
    b = daily.select(F.col("d").alias("db"), F.col("y").alias("yb"))
    ret = a.join(F.broadcast(b), F.col("db") == F.col("da") - 1).select(
        F.col("da").alias("d"), (F.col("ya") - F.col("yb")).cast("long").alias("r")
    )
    tot = ret.agg(
        F.count(F.lit(1)).cast("long").alias("tt"),
        F.sum(F.col("r") * F.col("r")).cast("long").alias("sr2"),
    )
    ra = ret.select(F.col("d").alias("dd"))
    rb = ret.select(F.col("d").alias("db2"), "r")
    cum = (
        ra.join(F.broadcast(rb), F.col("db2") <= F.col("dd"))
        .groupBy("dd")
        .agg(
            F.sum(F.col("r") * F.col("r")).cast("long").alias("c2"),
            F.count(F.lit(1)).cast("long").alias("i"),
        )
    )
    dev = cum.crossJoin(F.broadcast(tot)).select(
        F.col("dd").alias("d"),
        F.abs(
            F.col("c2").cast("double") / F.col("sr2")
            - F.col("i").cast("double") / F.col("tt")
        ).alias("dev"),
    )
    mx = dev.orderBy(F.desc("dev"), "d").limit(1)
    out = mx.crossJoin(F.broadcast(tot))
    return out.select(
        F.col("tt").alias("n_returns"),
        F.col("d").alias("at_day"),
        r6(F.col("dev")).alias("max_dev"),
    )


@register(
    "agg_turning_points",
    oracle=f"""
WITH daily AS (
  SELECT CAST(date_diff('day', DATE '1970-01-01', date_trunc('day', ts))
              AS BIGINT) AS d,
         CAST(sum({_CENTS}) AS BIGINT) AS y
  FROM events GROUP BY 1
),
tp AS (
  SELECT CAST(count(*) AS BIGINT) AS t
  FROM daily a
  JOIN daily p ON p.d = a.d - 1
  JOIN daily q ON q.d = a.d + 1
  WHERE (a.y > p.y AND a.y > q.y) OR (a.y < p.y AND a.y < q.y)
),
nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM daily),
zz AS (
  SELECT n, t,
         2.0 * (n - 2) / 3.0 AS e_t,
         (16.0 * n - 29.0) / 90.0 AS var_t,
         (CAST(t AS DOUBLE) - 2.0 * (n - 2) / 3.0)
           / sqrt((16.0 * n - 29.0) / 90.0) AS z
  FROM tp, nn
)
SELECT n AS n_days, t AS turning_points,
       floor(e_t * 10000 + 0.5) / 10000.0 AS expected,
       floor(z * 1000000 + 0.5) / 1000000.0 AS z,
       floor(2.0 * (1.0 - {_norm_cdf_sql("abs(z)")}) * 1000000 + 0.5)
         / 1000000.0 AS p,
       CASE WHEN 2.0 * (1.0 - {_norm_cdf_sql("abs(z)")}) < 0.05 AND z < 0
              THEN 'too_smooth'
            WHEN 2.0 * (1.0 - {_norm_cdf_sql("abs(z)")}) < 0.05 AND z > 0
              THEN 'too_oscillatory'
            ELSE 'random' END AS verdict
FROM zz
""",
)
def agg_turning_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TURNING-POINT TEST (Kendall) on daily revenue: count the local
    peaks and troughs — an i.i.d. series turns at 2(n-2)/3 of its
    interior points; significantly FEWER turns means trend/persistence
    (the series glides), significantly MORE means oscillation
    (negative autocorrelation, e.g. a weekly see-saw).  The
    cheapest-possible randomness screen next to ``agg_runs_test``
    (runs look at signs vs the median; turning points at local
    geometry), Var = (16n-29)/90 exact.

    The triple (prev, here, next) comes from two exact-int day-offset
    joins on the dense calendar grid; count/mean/variance/z are pinned
    closed forms; shared-Phi two-sided p.  Scale: calendar-bounded."""
    ev = table(spark, sf_dir, "events")
    # Calendar-bounded daily frame with several downstream consumers —
    # one corpus scan, materialized once (guide §2.4).
    daily = ev.groupBy(
        F.datediff(F.date_trunc("day", "ts"), F.lit("1970-01-01").cast("date"))
        .cast("long")
        .alias("d")
    ).agg(
        F.sum(F.round(F.col("value") * 100).cast("long")).cast("long").alias("y")
    ).localCheckpoint(eager=True)
    a = daily.select(F.col("d").alias("da"), F.col("y").alias("ya"))
    p = daily.select(F.col("d").alias("dp"), F.col("y").alias("yp"))
    q = daily.select(F.col("d").alias("dq"), F.col("y").alias("yq"))
    tp = (
        a.join(F.broadcast(p), F.col("dp") == F.col("da") - 1)
        .join(F.broadcast(q), F.col("dq") == F.col("da") + 1)
        .filter(
            ((F.col("ya") > F.col("yp")) & (F.col("ya") > F.col("yq")))
            | ((F.col("ya") < F.col("yp")) & (F.col("ya") < F.col("yq")))
        )
        .agg(F.count(F.lit(1)).cast("long").alias("t"))
    )
    nn = daily.agg(F.count(F.lit(1)).cast("long").alias("n"))
    n = F.col("n")
    zz = tp.crossJoin(F.broadcast(nn)).select(
        n,
        F.col("t"),
        (2.0 * (n - 2) / 3.0).alias("e_t"),
        ((16.0 * n - 29.0) / 90.0).alias("var_t"),
        (
            (F.col("t").cast("double") - 2.0 * (n - 2) / 3.0)
            / F.sqrt((16.0 * n - 29.0) / 90.0)
        ).alias("z"),
    )
    pv = 2.0 * (1.0 - _norm_cdf(F.abs(F.col("z"))))
    return zz.select(
        F.col("n").alias("n_days"),
        F.col("t").alias("turning_points"),
        q4(F.col("e_t")).alias("expected"),
        r6(F.col("z")).alias("z"),
        r6(pv).alias("p"),
        F.when((pv < 0.05) & (F.col("z") < 0), "too_smooth")
        .when((pv < 0.05) & (F.col("z") > 0), "too_oscillatory")
        .otherwise("random")
        .alias("verdict"),
    )


@register("stream_ewma_monitor", oracle=_spec("win_ewma_control").oracle)
def stream_ewma_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING EWMA CONTROL CHART: the Roberts chart maintained as a
    stateful streaming aggregate — the third member of the streaming
    drift-twin family (``stream_cusum_drift``, ``stream_page_hinkley``),
    covering the 0.5-1.5 sigma shift band those two bracket.  Three
    round-robin micro-batches merge partial day-grain moments in
    complete mode; after the drain the exact ``win_ewma_control`` fold
    and time-varying limits run over the FINAL state, so the batch
    oracle verifies the incremental build bit-for-bit.

    Scale: per-trigger shuffle <= |days| x 3 longs after map-side
    partial aggregation regardless of arrival volume; the chart fold is
    calendar-bounded."""
    import os
    import shutil
    import tempfile

    from ..streaming.state import _few_shuffle_partitions

    staging = os.path.join(tempfile.gettempdir(), f"sdis_staging_sewma_{os.getpid()}")
    shutil.rmtree(staging, ignore_errors=True)
    ev = table(spark, sf_dir, "events").select(
        F.col("ts"), F.round(F.col("value") * 100).cast("long").alias("c")
    )
    ev.repartition(3).write.mode("overwrite").parquet(staging)

    sink = f"sewma_sink_{os.getpid()}"
    with _few_shuffle_partitions(spark):
        q = (
            spark.readStream.schema("ts timestamp, c long")
            .option("maxFilesPerTrigger", 1)
            .parquet(staging)
            .groupBy(
                F.datediff(
                    F.date_trunc("day", "ts"), F.lit("1970-01-01").cast("date")
                )
                .cast("long")
                .alias("d")
            )
            .agg(
                F.count(F.lit(1)).cast("long").alias("n"),
                F.sum("c").cast("long").alias("s"),
                F.sum(F.col("c") * F.col("c")).cast("long").alias("ss"),
            )
            .writeStream.format("memory")
            .queryName(sink)
            .outputMode("complete")
            .trigger(availableNow=True)
            .option("checkpointLocation", os.path.join(staging, "_checkpoint"))
            .start()
        )
        q.awaitTermination(180)
    daily = spark.table(sink)

    base = (
        daily.orderBy("d")
        .limit(_DRIFT_BASE_DAYS)
        .agg(
            F.sum("n").cast("long").alias("n"),
            F.sum("s").cast("long").alias("s"),
            F.sum("ss").cast("long").alias("ss"),
        )
    )
    cal = base.select(
        (F.col("s").cast("double") / F.col("n")).alias("mu0"),
        F.sqrt(_css() / (F.col("n") - 1)).alias("sd"),
    )
    arr = daily.agg(
        F.array_sort(
            F.collect_list(
                F.array(
                    F.col("d").cast("double"),
                    F.col("s").cast("double") / F.col("n"),
                )
            )
        ).alias("a"),
        F.count(F.lit(1)).cast("long").alias("n_days"),
    )
    out = _ewma_chart_report(cal, arr)
    result = spark.createDataFrame(out.collect(), out.schema)
    shutil.rmtree(staging, ignore_errors=True)
    return result


import math as _m

_RAYLEIGH_COS = [(1.0 * _m.cos(2 * _m.pi * h / 24)) for h in range(24)]
_RAYLEIGH_SIN = [(1.0 * _m.sin(2 * _m.pi * h / 24)) for h in range(24)]


def _rayleigh_case(vals: list, col: str) -> str:
    return (
        "CASE " + " ".join(f"WHEN {col} = {h} THEN {v!r}" for h, v in enumerate(vals))
        + " END"
    )


@register(
    "agg_rayleigh_test",
    oracle=f"""
WITH hh AS (
  SELECT CAST(extract(hour FROM ts) AS BIGINT) AS h,
         CAST(count(*) AS BIGINT) AS n
  FROM events GROUP BY 1
),
fold AS (
  SELECT CAST(sum(n) AS BIGINT) AS nn,
         list_reduce(list_prepend(0.0, list(
             n * ({_rayleigh_case(_RAYLEIGH_COS, "h")}) ORDER BY h)),
           (a, b) -> a + b) AS sc,
         list_reduce(list_prepend(0.0, list(
             n * ({_rayleigh_case(_RAYLEIGH_SIN, "h")}) ORDER BY h)),
           (a, b) -> a + b) AS ss
  FROM hh
),
st AS (
  SELECT nn, sc, ss,
         sqrt(sc * sc + ss * ss) / nn AS rbar,
         atan2(ss, sc) AS theta
  FROM fold
),
zz AS (
  SELECT nn, rbar, theta, nn * (rbar * rbar) AS z FROM st
)
SELECT nn AS n,
       floor((CASE WHEN theta < 0 THEN theta + 2 * {_m.pi!r} ELSE theta END)
             / (2 * {_m.pi!r}) * 24 * 10000 + 0.5) / 10000.0 AS mean_hour,
       floor(rbar * 1000000 + 0.5) / 1000000.0 AS resultant,
       floor(z * 1000000 + 0.5) / 1000000.0 AS rayleigh_z,
       floor(exp(-z) * (1.0 + (2.0 * z - z * z) / (4.0 * nn)) * 1000000 + 0.5)
         / 1000000.0 AS p,
       CASE WHEN exp(-z) * (1.0 + (2.0 * z - z * z) / (4.0 * nn)) < 0.05
            THEN 'directional' ELSE 'uniform' END AS verdict
FROM zz
""",
)
def agg_rayleigh_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAYLEIGH TEST for hour-of-day uniformity (circular statistics):
    do events cluster around a preferred time of day, or spread
    uniformly around the 24-hour clock?  Treating each hour as an angle
    2 pi h/24, the mean resultant length Rbar measures concentration
    and z = n Rbar^2 tests uniformity (p via the standard small-sample
    correction exp(-z)(1 + (2z - z^2)/4n)); the mean DIRECTION converts
    back to the peak hour — a statistic a linear mean of hours gets
    WRONG across midnight (23h and 1h average to noon linearly, to
    midnight circularly), which is exactly why the circular family
    exists.

    The 24 cos/sin weights are Python literals spliced into both
    engines; resultant components fold over the hour-bounded histogram
    in hour order; everything after is pinned double algebra (atan2 is
    the same libm call).  Scale: one combine to <= 24 cells."""
    ev = table(spark, sf_dir, "events")
    hh = ev.groupBy(F.hour("ts").cast("long").alias("h")).agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    cos_expr = None
    sin_expr = None
    for h in range(24):
        c = F.when(F.col("h") == h, F.lit(_RAYLEIGH_COS[h]))
        s = F.when(F.col("h") == h, F.lit(_RAYLEIGH_SIN[h]))
        cos_expr = c if cos_expr is None else cos_expr.when(F.col("h") == h, F.lit(_RAYLEIGH_COS[h]))
        sin_expr = s if sin_expr is None else sin_expr.when(F.col("h") == h, F.lit(_RAYLEIGH_SIN[h]))
    fold = hh.agg(
        F.sum("n").cast("long").alias("nn"),
        _ordfold(F.col("h"), F.col("n") * cos_expr).alias("sc"),
        _ordfold(F.col("h"), F.col("n") * sin_expr).alias("ss"),
    )
    st = fold.select(
        "nn",
        "sc",
        "ss",
        (F.sqrt(F.col("sc") * F.col("sc") + F.col("ss") * F.col("ss")) / F.col("nn")).alias("rbar"),
        F.atan2(F.col("ss"), F.col("sc")).alias("theta"),
    )
    zz = st.select(
        "nn", "rbar", "theta", (F.col("nn") * (F.col("rbar") * F.col("rbar"))).alias("z")
    )
    two_pi = 2 * _m.pi
    theta_pos = F.when(F.col("theta") < 0, F.col("theta") + two_pi).otherwise(
        F.col("theta")
    )
    pv = F.exp(-F.col("z")) * (
        1.0 + (2.0 * F.col("z") - F.col("z") * F.col("z")) / (4.0 * F.col("nn"))
    )
    return zz.select(
        F.col("nn").alias("n"),
        q4(theta_pos / two_pi * 24).alias("mean_hour"),
        r6(F.col("rbar")).alias("resultant"),
        r6(F.col("z")).alias("rayleigh_z"),
        r6(pv).alias("p"),
        F.when(pv < 0.05, "directional").otherwise("uniform").alias("verdict"),
    )


_B2_EXP = [
    sum(_m.log10(1 + 1 / (10 * d1 + d2)) for d1 in range(1, 10))
    for d2 in range(10)
]


@register(
    "agg_benford_2digit",
    oracle=f"""
WITH dd AS (
  SELECT CAST(floor(CAST(round(value * 100) AS BIGINT)
              / pow(10.0, floor(log10(CAST(round(value * 100) AS BIGINT))) - 1))
              AS BIGINT) % 10 AS d2,
         CAST(count(*) AS BIGINT) AS n
  FROM events
  WHERE CAST(round(value * 100) AS BIGINT) >= 10
  GROUP BY 1
),
tot AS (SELECT CAST(sum(n) AS BIGINT) AS nn FROM dd),
chi AS (
  SELECT nn,
         list_reduce(list_prepend(0.0, list(
             (n - nn * (CASE d2 {" ".join(f"WHEN {i} THEN {e!r}" for i, e in enumerate(_B2_EXP))} END))
             * (n - nn * (CASE d2 {" ".join(f"WHEN {i} THEN {e!r}" for i, e in enumerate(_B2_EXP))} END))
             / (nn * (CASE d2 {" ".join(f"WHEN {i} THEN {e!r}" for i, e in enumerate(_B2_EXP))} END))
             ORDER BY d2)), (a, b) -> a + b) AS chi2
  FROM dd, tot GROUP BY nn
)
SELECT nn AS n,
       floor(chi2 * 10000 + 0.5) / 10000.0 AS chi2,
       CAST(9 AS BIGINT) AS df,
       floor({_wh_p_sql("chi2", "9.0")} * 1000000 + 0.5) / 1000000.0 AS p,
       CASE WHEN {_wh_p_sql("chi2", "9.0")} < 0.05
            THEN 'deviates' ELSE 'conforms' END AS verdict
FROM chi
""",
)
def agg_benford_2digit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SECOND-DIGIT BENFORD TEST on value cents: the forensic
    escalation of the first-digit screen (``agg_benford_test``) —
    manipulated numbers often pass first-digit Benford (people learn
    it) but fail the flatter second-digit law P(d2) = sum_d1 log10(1 +
    1/(10 d1 + d2)), and rounding artifacts (psychological pricing)
    light up specifically here.  chi2 over the 10 second-digit cells
    with the Wilson-Hilferty p at df = 9.

    The second digit extracts by integer algebra on exact cents
    (floor(c / 10^(floor(log10 c) - 1)) % 10, amounts >= 10 cents);
    the ten expected shares are Python literals spliced into both
    engines; the chi2 folds digit-ordered.  Scale: one combine to 10
    cells."""
    ev = table(spark, sf_dir, "events")
    c = F.round(F.col("value") * 100).cast("long")
    d2 = (
        F.floor(
            c / F.pow(F.lit(10.0), F.floor(F.log10(c)) - 1)
        ).cast("long")
        % 10
    )
    dd = (
        ev.filter(c >= 10)
        .groupBy(d2.alias("d2"))
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        # 10-cell histogram, two consumers — one corpus scan (guide §2.4).
        .localCheckpoint(eager=True)
    )
    tot = dd.agg(F.sum("n").cast("long").alias("nn"))
    exp_expr = None
    for i, e in enumerate(_B2_EXP):
        w = F.when(F.col("d2") == i, F.lit(e))
        exp_expr = w if exp_expr is None else exp_expr.when(F.col("d2") == i, F.lit(e))
    term = (
        (F.col("n") - F.col("nn") * exp_expr)
        * (F.col("n") - F.col("nn") * exp_expr)
        / (F.col("nn") * exp_expr)
    )
    chi = (
        dd.crossJoin(F.broadcast(tot))
        .groupBy("nn")
        .agg(_ordfold(F.col("d2"), term).alias("chi2"))
    )
    pv = _wh_p(F.col("chi2"), F.lit(9.0))
    return chi.select(
        F.col("nn").alias("n"),
        q4(F.col("chi2")).alias("chi2"),
        F.lit(9).cast("long").alias("df"),
        r6(pv).alias("p"),
        F.when(pv < 0.05, "deviates").otherwise("conforms").alias("verdict"),
    )


_MARKOV_ITERS = 5


def _markov_oracle() -> str:
    parts = [
        """WITH pr AS (
  SELECT event_type AS b,
         lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS a
  FROM events
),
cells AS (
  SELECT a, b, CAST(count(*) AS BIGINT) AS c
  FROM pr WHERE a IS NOT NULL GROUP BY 1, 2
),
rows_ AS (SELECT a, CAST(sum(c) AS BIGINT) AS na FROM cells GROUP BY 1),
p AS (
  SELECT cells.a, cells.b, CAST(cells.c AS DOUBLE) / rows_.na AS pab
  FROM cells JOIN rows_ USING (a)
),
states AS (SELECT DISTINCT a AS s FROM cells),
kk AS (SELECT CAST(count(*) AS BIGINT) AS k FROM states),
pi0 AS (SELECT s, 1.0 / k AS pi FROM states, kk)"""
    ]
    for i in range(1, _MARKOV_ITERS + 1):
        parts.append(
            f""",
pi{i} AS (
  SELECT p.b AS s,
         list_reduce(list_prepend(0.0, list(pi{i - 1}.pi * p.pab ORDER BY p.a)),
                     (x, y) -> x + y) AS pi
  FROM p JOIN pi{i - 1} ON p.a = pi{i - 1}.s GROUP BY p.b
)"""
        )
    parts.append(
        f"""
SELECT pi{_MARKOV_ITERS}.s AS state,
       rows_.na AS n_out,
       floor(pi{_MARKOV_ITERS}.pi * 1000000 + 0.5) / 1000000.0 AS pi_stationary,
       floor(coalesce(sp.pab, 0.0) * 1000000 + 0.5) / 1000000.0 AS self_prob
FROM pi{_MARKOV_ITERS}
JOIN rows_ ON rows_.a = pi{_MARKOV_ITERS}.s
LEFT JOIN (SELECT a, pab FROM p WHERE a = b) sp ON sp.a = pi{_MARKOV_ITERS}.s
ORDER BY state"""
    )
    return "".join(parts)


@register("ext_markov_transitions", oracle=_markov_oracle())
def ext_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FIRST-ORDER MARKOV CHAIN of per-user event types: the transition
    matrix from each user's (ts, event_id)-ordered event sequence, its
    STATIONARY DISTRIBUTION by {it} unrolled power iterations from
    uniform, and each state's self-loop probability — the user-behavior
    model behind next-event prediction and the "where does engagement
    settle" question (the stationary mass is where sessions spend their
    long-run time, which the raw event-type frequencies only approximate
    when the chain mixes slowly).

    The lag runs per-user partitioned (the distributed sequence shape —
    no global ordering anywhere); transition counts and row sums are
    exact int64; each power iteration folds the 25-cell matrix-vector
    product in source-state order; the oracle unrolls the identical
    {it} iterations as chained CTEs.  Scale: one user-partitioned
    window pass, then state-domain-bounded algebra."""
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pr = ev.select(
        F.col("event_type").alias("b"), F.lag("event_type").over(w).alias("a")
    ).filter(F.col("a").isNotNull())
    # <=25-cell transition matrix with three consumers (row sums, the
    # normalized p, the state list) — the user-partitioned window pass
    # runs ONCE (guide §2.4; it was re-run per consumer before).
    cells = (
        pr.groupBy("a", "b")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .localCheckpoint(eager=True)
    )
    rows_ = cells.groupBy("a").agg(F.sum("c").cast("long").alias("na"))
    p = cells.join(rows_, "a").select(
        "a", "b", (F.col("c").cast("double") / F.col("na")).alias("pab")
    ).localCheckpoint(eager=True)
    states = cells.select(F.col("a").alias("s")).distinct()
    kk = states.agg(F.count(F.lit(1)).cast("long").alias("k"))
    pi = states.crossJoin(F.broadcast(kk)).select(
        "s", (F.lit(1.0) / F.col("k")).alias("pi")
    )
    for _ in range(_MARKOV_ITERS):
        pi = (
            p.join(pi, p["a"] == pi["s"])
            .groupBy(F.col("b").alias("s2"))
            .agg(_ordfold(F.col("a"), F.col("pi") * F.col("pab")).alias("pi"))
            .select(F.col("s2").alias("s"), "pi")
        )
    sp = p.filter(F.col("a") == F.col("b")).select(
        F.col("a").alias("ssp"), F.col("pab").alias("self_pab")
    )
    out = (
        pi.join(rows_, pi["s"] == rows_["a"])
        .join(F.broadcast(sp), pi["s"] == F.col("ssp"), "left")
    )
    return out.select(
        F.col("s").alias("state"),
        F.col("na").alias("n_out"),
        r6(F.col("pi")).alias("pi_stationary"),
        r6(F.coalesce(F.col("self_pab"), F.lit(0.0))).alias("self_prob"),
    ).orderBy("state")


ext_markov_transitions.__doc__ = ext_markov_transitions.__doc__.format(
    it=_MARKOV_ITERS
)
