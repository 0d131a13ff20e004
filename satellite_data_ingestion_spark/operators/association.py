"""Ordinal-association battery (round 15, wave 2): the categorical /
ordinal dependence measures a curation team runs when BOTH axes of a
question are discrete — "do later line numbers carry bigger quantities?"
(Goodman-Kruskal gamma, Kendall tau-b/tau-c), "does order priority
predict basket size, and which way?" (Somers' D), "did per-customer
priority mix SHIFT between first and last order?" (Bowker symmetry, the
k-level McNemar), "how much does hour-of-day tell you about event mix?"
(Theil's uncertainty coefficient), and the ordered-alternative trend
tests (Jonckheere-Terpstra, Cuzick) that upgrade Kruskal-Wallis when
the groups have a natural order.

Every operator here is ONE map-side-combined pass from the fact grain
to a BOUNDED contingency frame (<= #levels_x x #levels_y cells: 350 for
linenumber x quantity, 35 for priority x basket size, 25 for priority x
priority, 120 for hour x event-type), and every subsequent pair count,
margin, and fold runs on that bounded frame — cell self-joins and
pairwise folds are cells^2 (<= ~122k rows), never data^2.  At 100 TB
the only data-grain work is the first combine; the statistics are cell
algebra.

Float discipline (BASELINE.md, operators/hypothesis.py): pair products
and margins are EXACT int64 wherever the magnitude bound allows
(documented per site); the handful of super-int64 products (the JT
variance's n^3-scale terms at sf>=1) go through double in the IDENTICAL
algebraic order in both engines (IEEE multiply is deterministic, so
equal order means equal bits); order-sensitive double sums fold over
key-sorted arrays (``_ordfold`` == DuckDB ``list_reduce(list(v ORDER BY
k))``); p-values use the shared A&S normal CDF / Wilson-Hilferty
chi-square; outputs half-up micro-quantize (r6/q4).

Capability mapping: extends SURVEY §2's hypothesis-test battery
(`agg_kendall_tau`, `agg_chi2_independence`, `agg_kruskal_wallis`,
`agg_mcnemar`) with the ordinal/paired-categorical siblings; the
reference repo (a 454-line ingestion scheduler, main.py:28-29) has no
statistical layer — this is engine-native analytics over the landed
corpus.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import table
from ..registry import register
from .hypothesis import _norm_cdf, _norm_cdf_sql, q4, r6
from .monitoring import _ordfold, _wh_p, _wh_p_sql


# ---------------------------------------------------------------------------
# shared concordance machinery over a bounded (x, y, c) cell frame
# ---------------------------------------------------------------------------


def _cd_sql(cells_sql: str) -> str:
    """Concordant/discordant pair products + margins as chained CTEs over
    *cells_sql* (which must yield BIGINT columns x, y, c).  conc/disc are
    bounded by n(n-1)/2 (~1.8e13 at sf1) and the doubled tie margins
    nx(nx-1) by ~4e12 — all exact int64."""
    return f"""cells AS ({cells_sql}),
cd AS (
  SELECT CAST(coalesce(sum(CASE WHEN b.y > a.y THEN a.c * b.c ELSE 0 END), 0)
              AS BIGINT) AS conc,
         CAST(coalesce(sum(CASE WHEN b.y < a.y THEN a.c * b.c ELSE 0 END), 0)
              AS BIGINT) AS disc
  FROM cells a JOIN cells b ON a.x < b.x
),
mm AS (
  SELECT CAST(sum(c) AS BIGINT) AS n,
         CAST(count(DISTINCT x) AS BIGINT) AS kx,
         CAST(count(DISTINCT y) AS BIGINT) AS ky
  FROM cells
),
tx AS (
  SELECT CAST(sum(nx * (nx - 1)) AS BIGINT) AS t2x
  FROM (SELECT CAST(sum(c) AS BIGINT) AS nx FROM cells GROUP BY x)
),
ty AS (
  SELECT CAST(sum(ny * (ny - 1)) AS BIGINT) AS t2y
  FROM (SELECT CAST(sum(c) AS BIGINT) AS ny FROM cells GROUP BY y)
)"""


def _total(arr: str, e: str = "e") -> str:
    """Spark SQL: the exact int64 sum of the ``c`` fields of *arr*."""
    return f"aggregate({arr}, 0L, (s, {e}) -> s + {e}.c)"


def _cell_stats(cells: DataFrame) -> DataFrame:
    """One row (n, kx, ky, t2x, t2y, conc, disc) of exact int64 from a
    bounded (x, y, c) cell frame: one aggregate gathers the cells into an
    array and every statistic is a fold over it.  Each unordered
    both-axes-different pair is counted once via the a.x < b.x
    orientation (cells^2 lambda steps — <= 122k at 350 cells).  The folds
    are SQL text: built as Column objects they cost ~1,000 py4j round
    trips per call, more than the plan takes to run."""

    def ties(axis):
        # sum over the axis levels of the margin count m of m(m-1)
        margins = (
            f"transform(array_distinct(transform(cs, e -> e.{axis})), "
            f"v -> {_total(f'filter(cs, e -> e.{axis} = v)')})"
        )
        return f"aggregate({margins}, 0L, (s, m) -> s + m * (m - 1))"

    def pairs(cmp):
        others = _total(f"filter(cs, b -> b.x > a.x AND b.y {cmp} a.y)", "b")
        return f"aggregate(cs, 0L, (t, a) -> t + a.c * {others})"

    cs = cells.agg(F.collect_list(F.struct("x", "y", "c")).alias("cs"))
    return cs.selectExpr(
        f"{_total('cs')} AS n",
        "CAST(size(array_distinct(transform(cs, e -> e.x))) AS BIGINT) AS kx",
        "CAST(size(array_distinct(transform(cs, e -> e.y))) AS BIGINT) AS ky",
        f"{ties('x')} AS t2x",
        f"{ties('y')} AS t2y",
        f"{pairs('>')} AS conc",
        f"{pairs('<')} AS disc",
    )


_LI_CELLS_SQL = """SELECT CAST(l_linenumber AS BIGINT) AS x,
         CAST(l_quantity AS BIGINT) AS y,
         CAST(count(*) AS BIGINT) AS c
  FROM lineitem GROUP BY 1, 2"""


def _li_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    return li.groupBy(
        F.col("l_linenumber").cast("long").alias("x"),
        F.col("l_quantity").cast("long").alias("y"),
    ).agg(F.count(F.lit(1)).cast("long").alias("c"))


@register(
    "agg_goodman_kruskal_gamma",
    oracle=f"""
WITH {_cd_sql(_LI_CELLS_SQL)}
SELECT n, kx, ky, conc, disc,
       floor((CAST(conc AS DOUBLE) - disc) / (CAST(conc AS DOUBLE) + disc)
             * 1000000 + 0.5) / 1000000.0 AS gamma,
       floor((CAST(conc AS DOUBLE) - disc) * 2.0
             / sqrt(CAST(n * (n - 1) - t2x AS DOUBLE)
                    * CAST(n * (n - 1) - t2y AS DOUBLE))
             * 1000000 + 0.5) / 1000000.0 AS tau_b,
       floor((CAST(conc AS DOUBLE) - disc) * (2.0 * least(kx, ky))
             / (CAST(n AS DOUBLE) * n * (least(kx, ky) - 1))
             * 1000000 + 0.5) / 1000000.0 AS tau_c
FROM cd, mm, tx, ty
""",
)
def agg_goodman_kruskal_gamma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GOODMAN-KRUSKAL GAMMA (with Kendall tau-b and Stuart tau-c) for
    the ordinal pair line-number x quantity: do later lines of an order
    systematically carry different quantities?  Gamma ignores ties
    entirely ((C-D)/(C+D)); tau-b corrects both margins; tau-c corrects
    for the rectangular 7x50 table — reporting all three is the standard
    ordinal-association panel.

    All pair counts come from the 350-cell contingency grid (ONE
    map-side combine over lineitem, then :func:`_cell_stats` folds over
    the gathered cells — 122k cell pairs, never 3.6e11 row pairs).  C,
    D, n(n-1) and the doubled tie margins nx(nx-1) are exact int64
    (bounds in :func:`_cd_sql`); the three ratios are single pinned
    double expressions.  Scale: cell count is domain-bounded (7 x 50),
    flat in fact volume."""
    st = _cell_stats(_li_cells(spark, sf_dir))
    num = F.col("conc").cast("double") - F.col("disc")
    n, m = F.col("n"), F.least("kx", "ky")
    return st.select(
        "n",
        "kx",
        "ky",
        "conc",
        "disc",
        r6(num / (F.col("conc").cast("double") + F.col("disc"))).alias("gamma"),
        r6(
            num
            * 2.0
            / F.sqrt(
                (n * (n - 1) - F.col("t2x")).cast("double")
                * (n * (n - 1) - F.col("t2y")).cast("double")
            )
        ).alias("tau_b"),
        r6(num * (2.0 * m) / (n.cast("double") * n * (m - 1))).alias("tau_c"),
    )


_ORD_CELLS_SQL = """SELECT CAST(substr(o_orderpriority, 1, 1) AS BIGINT) AS x,
         deg.y AS y,
         CAST(count(*) AS BIGINT) AS c
  FROM orders
  JOIN (SELECT l_orderkey, CAST(count(*) AS BIGINT) AS y
        FROM lineitem GROUP BY 1) deg
    ON o_orderkey = l_orderkey
  GROUP BY 1, 2"""


@register(
    "agg_somers_d",
    oracle=f"""
WITH {_cd_sql(_ORD_CELLS_SQL)}
SELECT n, conc, disc,
       floor((CAST(conc AS DOUBLE) - disc) * 2.0
             / CAST(n * (n - 1) - t2x AS DOUBLE)
             * 1000000 + 0.5) / 1000000.0 AS d_yx,
       floor((CAST(conc AS DOUBLE) - disc) * 2.0
             / CAST(n * (n - 1) - t2y AS DOUBLE)
             * 1000000 + 0.5) / 1000000.0 AS d_xy
FROM cd, mm, tx, ty
""",
)
def agg_somers_d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SOMERS' D for order priority (x, ordinal 1=URGENT..5=LOW) vs
    basket size (y = line count per order, 1..7): the ASYMMETRIC ordinal
    measure — d_yx conditions on pairs untied on x ("given two orders of
    different priority, how much more often does the lower-priority one
    carry more lines?") and d_xy on pairs untied on y; reporting both
    directions is the point of Somers over tau.

    The cell grid is 5x7 = 35 cells (domain-bounded) built from ONE
    orderkey-keyed join (orders x per-order line counts — both sides
    keyed on the join column, AQE-planned) followed by a map-side
    combine; :func:`_cell_stats` folds the gathered cells into the exact
    int64 pair products and doubled tie margins; each D is one pinned
    double division."""
    li = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders")
    deg = li.groupBy(F.col("l_orderkey").alias("okey")).agg(
        F.count(F.lit(1)).cast("long").alias("y")
    )
    pri = o.select(
        F.col("o_orderkey").alias("okey"),
        F.substring("o_orderpriority", 1, 1).cast("long").alias("x"),
    )
    cells = (
        pri.join(deg, "okey")
        .groupBy("x", "y")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    st = _cell_stats(cells)
    num = F.col("conc").cast("double") - F.col("disc")
    n = F.col("n")
    return st.select(
        "n",
        "conc",
        "disc",
        r6(num * 2.0 / (n * (n - 1) - F.col("t2x")).cast("double")).alias("d_yx"),
        r6(num * 2.0 / (n * (n - 1) - F.col("t2y")).cast("double")).alias("d_xy"),
    )


# First/last order-priority transition per customer: shared by the Bowker
# symmetry test here and the weighted-kappa agreement op (agreement.py).
_FL_CELLS_SQL = """seq AS (
  SELECT o_custkey,
         CAST(substr(o_orderpriority, 1, 1) AS BIGINT) AS pri,
         CAST(date_diff('day', DATE '1970-01-01', date_trunc('day', o_orderdate))
              AS BIGINT) * 1000000000000 + o_orderkey AS ok
  FROM orders
),
fl AS (
  SELECT o_custkey, arg_min(pri, ok) AS fi, arg_max(pri, ok) AS li
  FROM seq GROUP BY 1
),
cells AS (SELECT fi, li, CAST(count(*) AS BIGINT) AS c FROM fl GROUP BY 1, 2)"""


def first_last_priority_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(fi, li, c): per-customer first-order vs last-order priority
    transition counts — min_by/max_by on the collision-free
    (epoch-day * 1e12 + orderkey) sort key, one customer-grain combine."""
    o = table(spark, sf_dir, "orders")
    ok = (
        F.datediff(
            F.date_trunc("day", "o_orderdate"), F.lit("1970-01-01").cast("date")
        ).cast("long")
        * F.lit(1000000000000).cast("long")
        + F.col("o_orderkey")
    )
    seq = o.select(
        "o_custkey",
        F.substring("o_orderpriority", 1, 1).cast("long").alias("pri"),
        ok.alias("ok"),
    )
    fl = seq.groupBy("o_custkey").agg(
        F.min_by("pri", "ok").alias("fi"), F.max_by("pri", "ok").alias("li")
    )
    # 25-cell transition matrix; both callers (bowker, weighted kappa)
    # fan out to 3-5 consumers — one customer-grain combine, materialized
    # once (guide §2.4).
    return (
        fl.groupBy("fi", "li")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .localCheckpoint(eager=True)
    )


@register(
    "agg_bowker_test",
    oracle=f"""
WITH {_FL_CELLS_SQL},
pr AS (
  SELECT coalesce(p1.i, p2.i) AS i, coalesce(p1.j, p2.j) AS j,
         coalesce(p1.u, 0) AS u, coalesce(p2.v, 0) AS v
  FROM (SELECT fi AS i, li AS j, c AS u FROM cells WHERE fi < li) p1
  FULL OUTER JOIN
       (SELECT li AS i, fi AS j, c AS v FROM cells WHERE fi > li) p2
    ON p1.i = p2.i AND p1.j = p2.j
),
st AS (
  SELECT CAST(count(*) AS BIGINT) AS df,
         list_reduce(list_prepend(0.0, list(
             CAST((u - v) * (u - v) AS DOUBLE) / (u + v) ORDER BY i * 10 + j)),
           (a, b) -> a + b) AS chi2
  FROM pr WHERE u + v > 0
)
SELECT (SELECT CAST(count(*) AS BIGINT) FROM fl) AS n_customers,
       df,
       floor(chi2 * 10000 + 0.5) / 10000.0 AS chi2,
       CASE WHEN df = 0 THEN 1.0
            ELSE floor({_wh_p_sql("chi2", "CAST(df AS DOUBLE)")} * 1000000 + 0.5)
                   / 1000000.0 END AS p
FROM st
""",
)
def agg_bowker_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BOWKER'S SYMMETRY TEST (the k-level McNemar) on each customer's
    FIRST-order vs LAST-order priority: is the observed first->last
    priority transition matrix symmetric, i.e. did the per-customer
    priority mix actually DRIFT over the order sequence, or just churn?
    chi2 = sum_{i<j} (n_ij - n_ji)^2 / (n_ij + n_ji), df = #{i<j:
    n_ij + n_ji > 0}.

    First/last per customer via min_by/max_by on the collision-free
    (epoch-day * 1e12 + orderkey) sort key (one combine at customer
    grain — orderkey < 1e12 through sf1's twin by orders of magnitude);
    the transition matrix is 25 cells; the chi2 folds its <= 10
    off-diagonal terms in (i, j) order; Wilson-Hilferty + shared Phi for
    the p.  Scale: everything past the customer-grain combine is
    constant-size."""
    cells = first_last_priority_cells(spark, sf_dir)
    p1 = cells.filter(F.col("fi") < F.col("li")).select(
        F.col("fi").alias("i"), F.col("li").alias("j"), F.col("c").alias("u")
    )
    p2 = cells.filter(F.col("fi") > F.col("li")).select(
        F.col("li").alias("i"), F.col("fi").alias("j"), F.col("c").alias("v")
    )
    pr = (
        p1.join(p2, ["i", "j"], "full_outer")
        .select(
            "i",
            "j",
            F.coalesce("u", F.lit(0)).alias("u"),
            F.coalesce("v", F.lit(0)).alias("v"),
        )
        .filter(F.col("u") + F.col("v") > 0)
    )
    term = ((F.col("u") - F.col("v")) * (F.col("u") - F.col("v"))).cast("double") / (
        F.col("u") + F.col("v")
    )
    st = pr.agg(
        F.count(F.lit(1)).cast("long").alias("df"),
        _ordfold(F.col("i") * 10 + F.col("j"), term).alias("chi2"),
    )
    nc = cells.agg(F.sum("c").cast("long").alias("n_customers"))
    out = nc.crossJoin(F.broadcast(st))
    return out.select(
        "n_customers",
        "df",
        q4(F.col("chi2")).alias("chi2"),
        F.when(F.col("df") == 0, F.lit(1.0))
        .otherwise(r6(_wh_p(F.col("chi2"), F.col("df").cast("double"))))
        .alias("p"),
    )


@register(
    "agg_theil_u",
    oracle="""
WITH xy AS (
  SELECT CAST(extract(hour FROM ts) AS BIGINT) AS x, event_type AS y,
         CAST(count(*) AS BIGINT) AS c
  FROM events GROUP BY 1, 2
),
tot AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM xy),
hx AS (
  SELECT list_reduce(list_prepend(0.0, list(
           (CAST(cx AS DOUBLE) / n) * ln(CAST(n AS DOUBLE) / cx) ORDER BY x)),
         (a, b) -> a + b) AS hx
  FROM (SELECT x, CAST(sum(c) AS BIGINT) AS cx FROM xy GROUP BY 1), tot
),
hy AS (
  SELECT list_reduce(list_prepend(0.0, list(
           (CAST(cy AS DOUBLE) / n) * ln(CAST(n AS DOUBLE) / cy) ORDER BY y)),
         (a, b) -> a + b) AS hy
  FROM (SELECT y, CAST(sum(c) AS BIGINT) AS cy FROM xy GROUP BY 1), tot
),
hxy AS (
  SELECT list_reduce(list_prepend(0.0, list(
           (CAST(c AS DOUBLE) / n) * ln(CAST(n AS DOUBLE) / c)
           ORDER BY lpad(CAST(x AS VARCHAR), 2, '0') || '|' || y)),
         (a, b) -> a + b) AS hxy
  FROM xy, tot
)
SELECT n,
       floor(hx * 1000000 + 0.5) / 1000000.0 AS h_x,
       floor(hy * 1000000 + 0.5) / 1000000.0 AS h_y,
       floor(hxy * 1000000 + 0.5) / 1000000.0 AS h_xy,
       floor((hx + hy - hxy) / hy * 1000000 + 0.5) / 1000000.0 AS u_y_given_x,
       floor((hx + hy - hxy) / hx * 1000000 + 0.5) / 1000000.0 AS u_x_given_y,
       floor(2.0 * (hx + hy - hxy) / (hx + hy) * 1000000 + 0.5) / 1000000.0
         AS u_sym
FROM tot, hx, hy, hxy
""",
)
def agg_theil_u(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THEIL'S UNCERTAINTY COEFFICIENT U(Y|X) for hour-of-day (x) vs
    event type (y): what fraction of event-mix entropy does knowing the
    hour remove?  Unlike Cramer's V it is ASYMMETRIC (U(Y|X) != U(X|Y))
    and reads as a fraction of bits — the measure quality teams use for
    "is this categorical feature informative about that label".  Also
    reports the symmetric average.

    One combine to the 24 x #types grid; the three plug-in entropies
    fold their <= 120 (p ln 1/p) terms in pinned key order (numeric
    hour, type string, zero-padded hour|type) so cross-engine float sums
    cannot diverge; U's are pinned ratios of the SAME unrounded
    entropies via MI = H(X) + H(Y) - H(XY)."""
    ev = table(spark, sf_dir, "events")
    # <=120-cell grid with four consumers (tot + three entropy folds) —
    # one corpus scan, materialized once (guide §2.4).
    xy = (
        ev.groupBy(
            F.hour("ts").cast("long").alias("x"), F.col("event_type").alias("y")
        )
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .localCheckpoint(eager=True)
    )
    tot = xy.agg(F.sum("c").cast("long").alias("n"))

    def ent(df: DataFrame, cnt, key) -> DataFrame:
        t = (F.col(cnt).cast("double") / F.col("n")) * F.log(
            F.col("n").cast("double") / F.col(cnt)
        )
        return df.crossJoin(F.broadcast(tot)).agg(_ordfold(key, t).alias("h"))

    hx = ent(
        xy.groupBy("x").agg(F.sum("c").cast("long").alias("cx")), "cx", F.col("x")
    ).withColumnRenamed("h", "hx")
    hy = ent(
        xy.groupBy("y").agg(F.sum("c").cast("long").alias("cy")), "cy", F.col("y")
    ).withColumnRenamed("h", "hy")
    key_xy = F.concat(
        F.lpad(F.col("x").cast("string"), 2, "0"), F.lit("|"), F.col("y")
    )
    hxy = ent(xy, "c", key_xy).withColumnRenamed("h", "hxy")
    st = (
        tot.crossJoin(F.broadcast(hx))
        .crossJoin(F.broadcast(hy))
        .crossJoin(F.broadcast(hxy))
    )
    mi = F.col("hx") + F.col("hy") - F.col("hxy")
    return st.select(
        "n",
        r6(F.col("hx")).alias("h_x"),
        r6(F.col("hy")).alias("h_y"),
        r6(F.col("hxy")).alias("h_xy"),
        r6(mi / F.col("hy")).alias("u_y_given_x"),
        r6(mi / F.col("hx")).alias("u_x_given_y"),
        r6(2.0 * mi / (F.col("hx") + F.col("hy"))).alias("u_sym"),
    )


@register(
    "agg_jonckheere_terpstra",
    oracle=f"""
WITH cells AS (
  SELECT CAST(l_linenumber AS BIGINT) AS g, CAST(l_quantity AS BIGINT) AS v,
         CAST(count(*) AS BIGINT) AS c
  FROM lineitem GROUP BY 1, 2
),
pq AS (
  SELECT CAST(coalesce(sum(CASE WHEN b.v > a.v THEN a.c * b.c ELSE 0 END), 0)
              AS BIGINT) AS wins,
         CAST(coalesce(sum(CASE WHEN b.v = a.v THEN a.c * b.c ELSE 0 END), 0)
              AS BIGINT) AS evens
  FROM cells a JOIN cells b ON a.g < b.g
),
gs AS (
  SELECT CAST(sum(ng) AS BIGINT) AS n,
         CAST(sum(ng * ng) AS BIGINT) AS sn2,
         list_reduce(list_prepend(0.0, list(
             CAST(ng AS DOUBLE) * (ng - 1) * (2 * ng + 5) ORDER BY g)),
           (a, b) -> a + b) AS g1,
         list_reduce(list_prepend(0.0, list(
             CAST(ng AS DOUBLE) * (ng - 1) * (ng - 2) ORDER BY g)),
           (a, b) -> a + b) AS g2,
         list_reduce(list_prepend(0.0, list(
             CAST(ng AS DOUBLE) * (ng - 1) ORDER BY g)),
           (a, b) -> a + b) AS g3
  FROM (SELECT g, CAST(sum(c) AS BIGINT) AS ng FROM cells GROUP BY 1)
),
vs AS (
  SELECT list_reduce(list_prepend(0.0, list(
             CAST(tv AS DOUBLE) * (tv - 1) * (2 * tv + 5) ORDER BY v)),
           (a, b) -> a + b) AS t1,
         list_reduce(list_prepend(0.0, list(
             CAST(tv AS DOUBLE) * (tv - 1) * (tv - 2) ORDER BY v)),
           (a, b) -> a + b) AS t2,
         list_reduce(list_prepend(0.0, list(
             CAST(tv AS DOUBLE) * (tv - 1) ORDER BY v)),
           (a, b) -> a + b) AS t3
  FROM (SELECT v, CAST(sum(c) AS BIGINT) AS tv FROM cells GROUP BY 1)
),
st AS (
  SELECT n, 2 * wins + evens AS jt2,
         (CAST(n AS DOUBLE) * n - sn2) / 4 AS mean_jt,
         (CAST(n AS DOUBLE) * (n - 1) * (2 * n + 5) - g1 - t1) / 72.0
           + g2 * t2 / (36.0 * (CAST(n AS DOUBLE) * (n - 1) * (n - 2)))
           + g3 * t3 / (8.0 * (CAST(n AS DOUBLE) * (n - 1))) AS var_jt
  FROM pq, gs, vs
),
zz AS (
  SELECT n, jt2, mean_jt, var_jt,
         (CAST(jt2 AS DOUBLE) / 2 - mean_jt) / sqrt(var_jt) AS z
  FROM st
)
SELECT n, jt2,
       floor(mean_jt * 10000 + 0.5) / 10000.0 AS mean_jt,
       floor(var_jt * 10000 + 0.5) / 10000.0 AS var_jt,
       floor(z * 1000000 + 0.5) / 1000000.0 AS z,
       floor(2.0 * (1.0 - {_norm_cdf_sql("abs(z)")}) * 1000000 + 0.5)
         / 1000000.0 AS p,
       CASE WHEN 2.0 * (1.0 - {_norm_cdf_sql("abs(z)")}) < 0.05 AND z > 0
              THEN 'increasing'
            WHEN 2.0 * (1.0 - {_norm_cdf_sql("abs(z)")}) < 0.05 AND z < 0
              THEN 'decreasing'
            ELSE 'no trend' END AS trend
FROM zz
""",
)
def agg_jonckheere_terpstra(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JONCKHEERE-TERPSTRA ordered-alternative test: does quantity shift
    MONOTONICALLY across the ordered line-number groups 1..7?  Strictly
    sharper than Kruskal-Wallis when the alternative is ordered — JT
    sums the pairwise Mann-Whitney statistics of every group pair in
    order.  jt2 = 2*JT keeps the tie half-weights integral: 2*#(lo-group
    value < hi-group value) + #(equal), both exact int64 from the
    350-cell grid's a.g < b.g self-join (bounded by n^2 ~ 3.6e13 at
    sf1).

    Null mean (n^2 - sum ng^2)/4 uses exact int moments; the
    tie-corrected Lehmann variance folds its per-group and per-value
    terms (n^3-scale — beyond int64 at sf1, hence double in IDENTICAL
    pinned order) in g / v order; two-sided p via the shared Phi."""
    # 350-cell grid with four consumers (pair self-join + group/value
    # margin folds) — one corpus scan, materialized once (guide §2.4).
    cells = (
        _li_cells(spark, sf_dir)
        .select(F.col("x").alias("g"), F.col("y").alias("v"), "c")
        .localCheckpoint(eager=True)
    )
    a = cells.select(F.col("g").alias("ga"), F.col("v").alias("va"), F.col("c").alias("ca"))
    b = cells.select(F.col("g").alias("gb"), F.col("v").alias("vb"), F.col("c").alias("cb"))
    prod = F.col("ca") * F.col("cb")
    pq = a.join(F.broadcast(b), F.col("ga") < F.col("gb")).agg(
        F.coalesce(
            F.sum(F.when(F.col("vb") > F.col("va"), prod).otherwise(F.lit(0))),
            F.lit(0),
        )
        .cast("long")
        .alias("wins"),
        F.coalesce(
            F.sum(F.when(F.col("vb") == F.col("va"), prod).otherwise(F.lit(0))),
            F.lit(0),
        )
        .cast("long")
        .alias("evens"),
    )
    ng = F.col("ng")
    gs = (
        cells.groupBy("g")
        .agg(F.sum("c").cast("long").alias("ng"))
        .agg(
            F.sum("ng").cast("long").alias("n"),
            F.sum(ng * ng).cast("long").alias("sn2"),
            _ordfold(F.col("g"), ng.cast("double") * (ng - 1) * (2 * ng + 5)).alias("g1"),
            _ordfold(F.col("g"), ng.cast("double") * (ng - 1) * (ng - 2)).alias("g2"),
            _ordfold(F.col("g"), ng.cast("double") * (ng - 1)).alias("g3"),
        )
    )
    tv = F.col("tv")
    vs = (
        cells.groupBy("v")
        .agg(F.sum("c").cast("long").alias("tv"))
        .agg(
            _ordfold(F.col("v"), tv.cast("double") * (tv - 1) * (2 * tv + 5)).alias("t1"),
            _ordfold(F.col("v"), tv.cast("double") * (tv - 1) * (tv - 2)).alias("t2"),
            _ordfold(F.col("v"), tv.cast("double") * (tv - 1)).alias("t3"),
        )
    )
    n = F.col("n")
    st = (
        pq.crossJoin(F.broadcast(gs))
        .crossJoin(F.broadcast(vs))
        .select(
            "n",
            (2 * F.col("wins") + F.col("evens")).alias("jt2"),
            ((n.cast("double") * n - F.col("sn2")) / 4).alias("mean_jt"),
            (
                (n.cast("double") * (n - 1) * (2 * n + 5) - F.col("g1") - F.col("t1"))
                / 72.0
                + F.col("g2")
                * F.col("t2")
                / (36.0 * (n.cast("double") * (n - 1) * (n - 2)))
                + F.col("g3") * F.col("t3") / (8.0 * (n.cast("double") * (n - 1)))
            ).alias("var_jt"),
        )
    )
    zz = st.select(
        "n",
        "jt2",
        "mean_jt",
        "var_jt",
        (
            (F.col("jt2").cast("double") / 2 - F.col("mean_jt"))
            / F.sqrt(F.col("var_jt"))
        ).alias("z"),
    )
    pv = 2.0 * (1.0 - _norm_cdf(F.abs(F.col("z"))))
    return zz.select(
        "n",
        "jt2",
        q4(F.col("mean_jt")).alias("mean_jt"),
        q4(F.col("var_jt")).alias("var_jt"),
        r6(F.col("z")).alias("z"),
        r6(pv).alias("p"),
        F.when((pv < 0.05) & (F.col("z") > 0), "increasing")
        .when((pv < 0.05) & (F.col("z") < 0), "decreasing")
        .otherwise("no trend")
        .alias("trend"),
    )


@register(
    "agg_cuzick_trend",
    oracle=f"""
WITH cells AS (
  SELECT CAST(l_linenumber AS BIGINT) AS s,
         CAST(round(l_discount * 100) AS BIGINT) AS v,
         CAST(count(*) AS BIGINT) AS c
  FROM lineitem GROUP BY 1, 2
),
vh AS (SELECT v, CAST(sum(c) AS BIGINT) AS t FROM cells GROUP BY 1),
vr AS (
  SELECT a.v, a.t,
         2 * CAST(coalesce(sum(b.t), 0) AS BIGINT) + a.t + 1 AS mr2
  FROM vh a LEFT JOIN vh b ON b.v < a.v
  GROUP BY a.v, a.t
),
ts AS (
  SELECT CAST(sum(cells.s * cells.c * vr.mr2) AS BIGINT) AS t2
  FROM cells JOIN vr ON cells.v = vr.v
),
ss AS (
  SELECT CAST(sum(c) AS BIGINT) AS n,
         CAST(sum(s * c) AS BIGINT) AS ss1,
         CAST(sum(s * s * c) AS BIGINT) AS ss2
  FROM cells
),
tie AS (
  SELECT list_reduce(list_prepend(0.0, list(
             CAST(t AS DOUBLE) * t * t - t ORDER BY v)), (a, b) -> a + b) AS tie3
  FROM vh
),
st AS (
  SELECT n, t2, (n + 1) * ss1 AS e_t2,
         (1.0 - tie3 / (CAST(n AS DOUBLE) * n * n - n))
           * ((n + 1.0) * (CAST(n AS DOUBLE) * ss2 - CAST(ss1 AS DOUBLE) * ss1)
              / 12.0) AS var_t
  FROM ts, ss, tie
),
zz AS (
  SELECT n, t2, e_t2, var_t,
         (CAST(t2 AS DOUBLE) - e_t2) / (2.0 * sqrt(var_t)) AS z
  FROM st
)
SELECT n, t2, e_t2,
       floor(var_t * 10000 + 0.5) / 10000.0 AS var_t,
       floor(z * 1000000 + 0.5) / 1000000.0 AS z,
       floor(2.0 * (1.0 - {_norm_cdf_sql("abs(z)")}) * 1000000 + 0.5)
         / 1000000.0 AS p,
       CASE WHEN 2.0 * (1.0 - {_norm_cdf_sql("abs(z)")}) < 0.05 AND z > 0
              THEN 'increasing'
            WHEN 2.0 * (1.0 - {_norm_cdf_sql("abs(z)")}) < 0.05 AND z < 0
              THEN 'decreasing'
            ELSE 'no trend' END AS trend
FROM zz
""",
)
def agg_cuzick_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUZICK'S TREND TEST (Wilcoxon-type rank trend across ordered
    groups): do DISCOUNTS drift with line number?  T = sum of (group
    score x midrank of discount); scores are the natural 1..7 line
    numbers, midranks come from the GLOBAL 11-value discount histogram
    — 2*midrank = 2*(count below) + (count at) + 1 stays integral, so
    t2 = 2T, its null mean e_t2 = (n+1)*sum(scores), and every moment
    are exact int64 (t2 <= ~5e14 at sf1).

    Var(T) = phi * (n+1)(n*sum s^2 - (sum s)^2)/12 with the tie factor
    phi = 1 - sum(t^3 - t)/(n^3 - n); the t^3 and n^3 terms exceed int64
    at sf1 so both fold/evaluate as doubles in IDENTICAL pinned order
    (11 ordered tie terms).  z = (t2 - e_t2)/(2 sqrt Var); shared-Phi
    two-sided p.  Scale: one combine to 77 cells; the 11-row histogram
    drives everything else."""
    li = table(spark, sf_dir, "lineitem")
    # 77-cell histogram with four downstream consumers (vh/ts/ss/tie) —
    # one corpus scan, materialized once (guide §2.4; wave-N discipline).
    cells = (
        li.groupBy(
            F.col("l_linenumber").cast("long").alias("s"),
            F.round(F.col("l_discount") * 100).cast("long").alias("v"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .localCheckpoint(eager=True)
    )
    vh = cells.groupBy("v").agg(F.sum("c").cast("long").alias("t"))
    a = vh.select(F.col("v").alias("va"), F.col("t").alias("ta"))
    b = vh.select(F.col("v").alias("vb"), F.col("t").alias("tb"))
    vr = (
        a.join(F.broadcast(b), F.col("vb") < F.col("va"), "left")
        .groupBy("va", "ta")
        .agg(
            (
                2 * F.coalesce(F.sum("tb"), F.lit(0)).cast("long")
                + F.col("ta")
                + 1
            ).alias("mr2")
        )
        .select(F.col("va").alias("v"), "mr2")
    )
    ts = (
        cells.join(F.broadcast(vr), "v")
        .agg(F.sum(F.col("s") * F.col("c") * F.col("mr2")).cast("long").alias("t2"))
    )
    ss = cells.agg(
        F.sum("c").cast("long").alias("n"),
        F.sum(F.col("s") * F.col("c")).cast("long").alias("ss1"),
        F.sum(F.col("s") * F.col("s") * F.col("c")).cast("long").alias("ss2"),
    )
    tie = vh.agg(
        _ordfold(
            F.col("v"), F.col("t").cast("double") * F.col("t") * F.col("t") - F.col("t")
        ).alias("tie3")
    )
    n = F.col("n")
    st = (
        ts.crossJoin(F.broadcast(ss))
        .crossJoin(F.broadcast(tie))
        .select(
            "n",
            "t2",
            ((n + 1) * F.col("ss1")).alias("e_t2"),
            (
                (1.0 - F.col("tie3") / (n.cast("double") * n * n - n))
                * (
                    (n + 1.0)
                    * (n.cast("double") * F.col("ss2") - F.col("ss1").cast("double") * F.col("ss1"))
                    / 12.0
                )
            ).alias("var_t"),
        )
    )
    zz = st.select(
        "n",
        "t2",
        "e_t2",
        "var_t",
        ((F.col("t2").cast("double") - F.col("e_t2")) / (2.0 * F.sqrt(F.col("var_t")))).alias("z"),
    )
    pv = 2.0 * (1.0 - _norm_cdf(F.abs(F.col("z"))))
    return zz.select(
        "n",
        "t2",
        "e_t2",
        q4(F.col("var_t")).alias("var_t"),
        r6(F.col("z")).alias("z"),
        r6(pv).alias("p"),
        F.when((pv < 0.05) & (F.col("z") > 0), "increasing")
        .when((pv < 0.05) & (F.col("z") < 0), "decreasing")
        .otherwise("no trend")
        .alias("trend"),
    )
