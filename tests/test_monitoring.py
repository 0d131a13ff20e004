"""Independent-reference pins for the round-15 monitoring battery
(operators/monitoring.py).  Each test recomputes the statistic from the
raw collected data with a SEPARATELY-written pure-Python implementation
(math.erf where a normal CDF is needed — deliberately NOT the engine's
A&S polynomial, so the polynomial itself is under test too, within its
documented 7.5e-8 bound), plus behavioral fixtures where the statistic
has a qualitative contract (a constructed drift must alarm, a clean
series must not)."""

from __future__ import annotations

import math
import os

import pytest
from pyspark.sql import functions as F

from satellite_data_ingestion_spark import registry
from satellite_data_ingestion_spark.catalog import table

SF = "/root/testdata/sf0.001"


def _phi(z: float) -> float:
    return 0.5 * (1.0 + math.erf(z / math.sqrt(2.0)))


def _daily(spark, col_mean=True):
    ev = table(spark, SF, "events")
    d = ev.groupBy(
        F.datediff(F.date_trunc("day", "ts"), F.lit("1970-01-01").cast("date"))
        .cast("long")
        .alias("d")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.round(F.col("value") * 100).cast("long")).alias("s"),
    )
    rows = sorted((r.d, r.n, r.s) for r in d.collect())
    if col_mean:
        return [(d_, s / n) for d_, n, s in rows]
    return rows


def test_bartlett_matches_reference(spark):
    (r,) = registry.spec("agg_bartlett").fn(spark, SF).collect()
    ev = table(spark, SF, "events").select(
        "event_type", F.round(F.col("value") * 100).cast("long").alias("c")
    )
    groups: dict = {}
    for row in ev.collect():
        groups.setdefault(row.event_type, []).append(row.c)
    k = len(groups)
    nn = sum(len(v) for v in groups.values())
    sp_num = 0.0
    sum_ln = 0.0
    sum_inv = 0.0
    for g in sorted(groups):
        v = groups[g]
        n = len(v)
        m = sum(v) / n
        css = sum((x - m) ** 2 for x in v)
        sp_num += css
        sum_ln += (n - 1) * math.log(css / (n - 1))
        sum_inv += 1.0 / (n - 1)
    chi2 = ((nn - k) * math.log(sp_num / (nn - k)) - sum_ln) / (
        1.0 + (sum_inv - 1.0 / (nn - k)) / (3.0 * (k - 1))
    )
    assert r.k == k and r.n == nn and r.df == k - 1
    assert abs(r.chi2 - chi2) < 1e-3 * max(1.0, abs(chi2))
    assert 0.0 <= r.p <= 1.0


def test_mood_median_matches_reference(spark):
    (r,) = registry.spec("agg_mood_median").fn(spark, SF).collect()
    ev = table(spark, SF, "events").select(
        "event_type", F.round(F.col("value") * 100).cast("long").alias("c")
    )
    rows = [(x.event_type, x.c) for x in ev.collect()]
    vals = sorted(c for _, c in rows)
    med = vals[(len(vals) + 1) // 2 - 1]  # lower median
    assert r.grand_median_cents == med
    groups: dict = {}
    for g, c in rows:
        groups.setdefault(g, []).append(c)
    nn = len(rows)
    aa = sum(1 for _, c in rows if c > med)
    chi2 = 0.0
    for g in sorted(groups):
        v = groups[g]
        n, a = len(v), sum(1 for c in v if c > med)
        ea = n * aa / nn
        eb = n * (nn - aa) / nn
        chi2 += (a - ea) ** 2 / ea + ((n - a) - eb) ** 2 / eb
    # the op's chi2 is half-up quantized at 4 decimals (q4): +-5e-5
    assert abs(r.chi2 - chi2) < 6e-5 + 1e-9 * abs(chi2)
    assert r.k == len(groups) and r.n == nn


@pytest.mark.parametrize("legacy", ["false", "true"])
def test_lower_median_is_the_oracle_order_statistic(spark, legacy):
    """agg_mood_median's grand median must be the oracle's definition —
    min c with cumulative count >= floor((n+1)/2) — on odd, even and tied
    frames, under both percentile_disc calculations Spark offers."""
    from satellite_data_ingestion_spark.operators.monitoring import _lower_median

    frames = [[1, 2, 3, 4], [1, 2, 3], [1, 1, 2, 2], [3, 1, 2, 2, 2, 9], [5], [7, -3], [4, 4, 4]]
    rows = [(i, c) for i, cs in enumerate(frames) for c in cs]
    df = spark.createDataFrame(rows, "i long, c long")
    key = "spark.sql.legacy.percentileDiscCalculation"
    saved = spark.conf.get(key)
    spark.conf.set(key, legacy)
    try:
        got = {r.i: r.m for r in df.groupBy("i").agg(_lower_median("c").alias("m")).collect()}
    finally:
        spark.conf.set(key, saved)
    for i, cs in enumerate(frames):
        k, cum = (len(cs) + 1) // 2, 0
        for c in sorted(set(cs)):
            cum += cs.count(c)
            if cum >= k:
                break
        assert got[i] == c, (cs, got[i], c)


def test_benford_matches_reference(spark):
    (r,) = registry.spec("agg_benford_test").fn(spark, SF).collect()
    li = table(spark, SF, "lineitem").select(
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("cents")
    )
    digits = [int(str(x.cents)[0]) for x in li.collect()]
    n = len(digits)
    obs = {d: digits.count(d) for d in range(1, 10)}
    chi2 = 0.0
    worst = (-1.0, 0)
    for d in range(1, 10):
        e = n * math.log10(1 + 1 / d)
        chi2 += (obs[d] - e) ** 2 / e
        dev = abs(obs[d] - e) / math.sqrt(e)
        if dev > worst[0]:
            worst = (dev, d)
    assert r.n == n
    assert abs(r.chi2 - chi2) < 6e-5 + 1e-9 * chi2
    assert r.worst_digit == worst[1]
    assert abs(r.worst_std_dev - worst[0]) < 1e-3


def test_anderson_darling_matches_erf_reference(spark):
    """Independent A-D with the EXACT erf-based Phi; the engine's A&S
    polynomial is within 7.5e-8 of it pointwise, and ln() near the tails
    amplifies that, so the statistic tolerance is loose-but-bounding."""
    (r,) = registry.spec("agg_anderson_darling").fn(spark, SF).collect()
    ms = sorted(m for _, m in _daily(spark))
    n = len(ms)
    mu = sum(ms) / n
    s = math.sqrt(sum((x - mu) ** 2 for x in ms) / (n - 1))
    ssum = 0.0
    for i in range(1, n + 1):
        zi = (ms[i - 1] - mu) / s
        zr = (ms[n - i] - mu) / s
        ssum += (2 * i - 1) * (math.log(_phi(zi)) + math.log(1 - _phi(zr)))
    a2 = -n - ssum / n
    assert r.n == n
    assert abs(r.mean_cents - mu) < 1e-3
    assert abs(r.sd_cents - s) < 1e-3
    assert abs(r.a2 - a2) < 1e-3
    assert 0.0 <= r.p_normal <= 1.0


def test_benjamini_hochberg_step_up_property(spark):
    rows = registry.spec("agg_benjamini_hochberg").fn(spark, SF).collect()
    k = len(rows)
    assert k >= 2
    # independent BH over the op's own raw p column
    by_p = sorted(rows, key=lambda r: (r.p, r.event_type))
    tail_min = 1.0
    want = {}
    for i in range(k - 1, -1, -1):
        tail_min = min(tail_min, by_p[i].p * k / (i + 1))
        want[by_p[i].event_type] = min(1.0, tail_min)
    for r in rows:
        assert abs(r.p_adj - want[r.event_type]) < 1e-6, r
        assert r.p_adj >= r.p - 1e-9  # adjustment never shrinks p
        assert r.rejected == (r.p_adj <= 0.05)


def test_mann_kendall_matches_reference(spark):
    (r,) = registry.spec("agg_mann_kendall").fn(spark, SF).collect()
    rows = _daily(spark, col_mean=False)
    ys = [s for _, _, s in rows]  # day-ascending order
    n = len(ys)
    s_stat = sum(
        (ys[j] > ys[i]) - (ys[j] < ys[i])
        for i in range(n)
        for j in range(i + 1, n)
    )
    from collections import Counter

    ties = Counter(ys)
    tiesum = sum(t * (t - 1) * (2 * t + 5) for t in ties.values() if t > 1)
    var_s = (n * (n - 1) * (2 * n + 5) - tiesum) / 18.0
    if s_stat > 0:
        z = (s_stat - 1) / math.sqrt(var_s)
    elif s_stat < 0:
        z = (s_stat + 1) / math.sqrt(var_s)
    else:
        z = 0.0
    p = 2 * (1 - _phi(abs(z)))
    assert r.n_days == n and r.s == s_stat
    assert abs(r.var_s - var_s) < 1e-3
    assert abs(r.z - z) < 1e-6
    assert abs(r.p - p) < 1e-5  # polynomial-Phi bound
    want_trend = (
        "increasing" if p < 0.05 and s_stat > 0
        else "decreasing" if p < 0.05 and s_stat < 0
        else "no trend"
    )
    assert r.trend == want_trend


def _drift_reference(daily_means, mu0, sd, k=0.5, h=5.0):
    s = smax = 0.0
    alarm = None
    for d, m in daily_means:
        s = max(0.0, s + (m - mu0 - k * sd))
        smax = max(smax, s)
        if alarm is None and s > h * sd:
            alarm = d
    return smax, alarm


def test_cusum_matches_reference_and_clean_series_is_quiet(spark):
    (r,) = registry.spec("agg_cusum_drift").fn(spark, SF).collect()
    rows = _daily(spark, col_mean=False)
    base = rows[:7]
    bn = sum(n for _, n, _ in base)
    # baseline sd is EVENT-level — recompute from raw events of those days
    days = {d for d, _, _ in base}
    ev = table(spark, SF, "events").select(
        F.datediff(F.date_trunc("day", "ts"), F.lit("1970-01-01").cast("date"))
        .cast("long")
        .alias("d"),
        F.round(F.col("value") * 100).cast("long").alias("c"),
    )
    cs = [x.c for x in ev.collect() if x.d in days]
    assert len(cs) == bn
    mu0 = sum(cs) / bn
    sd = math.sqrt(sum((c - mu0) ** 2 for c in cs) / (bn - 1))
    smax, alarm = _drift_reference([(d, s / n) for d, n, s in rows], mu0, sd)
    assert abs(r.mu0_cents - mu0) < 1e-3
    assert abs(r.sd_cents - sd) < 1e-3
    assert abs(r.max_cusum - smax) < 1e-3
    assert r.alarm_day == alarm
    # the synthetic corpus has no engineered drift: a 5-sigma sustained
    # alarm on it would mean the detector is mis-calibrated
    assert r.alarm_day is None


def test_cusum_and_page_hinkley_fire_on_constructed_drift(spark, tmp_path):
    """A level shift of +4 baseline-sds starting day 15 must alarm BOTH
    detectors at-or-shortly-after the shift, never before."""
    import pandas as pd

    rows = []
    eid = 0
    for day in range(30):
        for j in range(40):
            base = 1000 + (eid * 37 % 9) - 4  # small deterministic jitter
            shift = 40 if day >= 15 else 0  # jitter sd ~2.6 -> huge shift
            rows.append(
                (
                    eid,
                    pd.Timestamp("2024-01-01")
                    + pd.Timedelta(days=day, minutes=j),
                    j,
                    "view",
                    (base + shift) / 100.0,
                    "{}",
                )
            )
            eid += 1
    pdf = pd.DataFrame(
        rows, columns=["event_id", "ts", "user_id", "event_type", "value", "props"]
    )
    spark.createDataFrame(pdf).write.mode("overwrite").parquet(
        os.path.join(str(tmp_path), "events.parquet")
    )
    (rc,) = registry.spec("agg_cusum_drift").fn(spark, str(tmp_path)).collect()
    (rp,) = registry.spec("agg_page_hinkley").fn(spark, str(tmp_path)).collect()
    # the ops report days-since-epoch; the shift lands on fixture day 15
    epoch0 = (pd.Timestamp("2024-01-01") - pd.Timestamp("1970-01-01")).days
    assert rc.alarm_day is not None and 15 <= rc.alarm_day - epoch0 <= 18, rc
    assert rp.alarm_day is not None and 15 <= rp.alarm_day - epoch0 <= 18, rp


def test_page_hinkley_matches_reference(spark):
    (r,) = registry.spec("agg_page_hinkley").fn(spark, SF).collect()
    rows = _daily(spark, col_mean=False)
    days = {d for d, _, _ in rows[:7]}
    ev = table(spark, SF, "events").select(
        F.datediff(F.date_trunc("day", "ts"), F.lit("1970-01-01").cast("date"))
        .cast("long")
        .alias("d"),
        F.round(F.col("value") * 100).cast("long").alias("c"),
    )
    cs = [x.c for x in ev.collect() if x.d in days]
    mu0 = sum(cs) / len(cs)
    sd = math.sqrt(sum((c - mu0) ** 2 for c in cs) / (len(cs) - 1))
    delta, lam = 0.5 * sd, 5.0 * sd
    sx = t = m = mmin = 0.0
    alarm = None
    for d, n, s in rows:
        x = s / n
        sx += x
        t += 1.0
        m += x - sx / t - delta
        mmin = min(mmin, m)
        if alarm is None and m - mmin > lam:
            alarm = d
    assert abs(r.delta - delta) < 1e-3
    assert abs(r.ph_stat - (m - mmin)) < 1e-3
    assert r.alarm_day == alarm


def test_bollinger_bands_match_reference(spark):
    out = {
        r.d: r
        for r in registry.spec("win_bollinger").fn(spark, SF).collect()
    }
    rows = _daily(spark, col_mean=False)
    ev = table(spark, SF, "events").select(
        F.datediff(F.date_trunc("day", "ts"), F.lit("1970-01-01").cast("date"))
        .cast("long")
        .alias("d"),
        F.round(F.col("value") * 100).cast("long").alias("c"),
    )
    by_day: dict = {}
    for x in ev.collect():
        by_day.setdefault(x.d, []).append(x.c)
    ds = sorted(by_day)
    assert len(out) == len(ds) - 6  # only full 7-day windows
    for i in range(6, len(ds)):
        win = [c for dd in ds[i - 6 : i + 1] for c in by_day[dd]]
        rn = len(win)
        mid = sum(win) / rn
        sd = math.sqrt(sum((c - mid) ** 2 for c in win) / (rn - 1))
        r = out[ds[i]]
        assert abs(r.mid - mid) < 1e-3
        assert abs(r.upper - (mid + 2 * sd)) < 1e-3
        m_day = sum(by_day[ds[i]]) / len(by_day[ds[i]])
        assert r.breakout == (m_day > mid + 2 * sd or m_day < mid - 2 * sd)


def test_bradley_terry_mm_reference_and_dominance(spark, tmp_path):
    """ext_bradley_terry: (a) released strengths are a positive
    distribution consistent with an INDEPENDENTLY-written dict-based MM
    on the same duel counts; (b) on a constructed corpus with a strict
    quality ordering en > fr > de, the strengths rank exactly that way
    and en's strength dominates."""
    import pandas as pd

    from satellite_data_ingestion_spark.llm.shaping import (
        _BT_ITERS,
        _BT_RANKS,
        ext_bradley_terry,
    )
    from satellite_data_ingestion_spark.llm.textstats import ext_quality_score

    rows = registry.spec("ext_bradley_terry").fn(spark, SF).collect()
    assert all(r.strength > 0 for r in rows)
    assert abs(sum(r.strength for r in rows) - 1.0) < 1e-5
    assert [r.rank for r in sorted(rows, key=lambda r: r.rank)] == list(
        range(1, len(rows) + 1)
    )

    # independent MM from raw duels
    docs = table(spark, SF, "documents").select("doc_id", "lang")
    q = {
        r.doc_id: r.quality
        for r in ext_quality_score(spark, SF).collect()
    }
    by_lang: dict = {}
    for r in docs.collect():
        by_lang.setdefault(r.lang, []).append((-q[r.doc_id], r.doc_id))
    for g in by_lang:
        by_lang[g] = [(-a, b) for a, b in sorted(by_lang[g])][:_BT_RANKS]
    langs = sorted(by_lang)
    wins: dict = {(a, b): 0 for a in langs for b in langs if a != b}
    for i, a in enumerate(langs):
        for b in langs[i + 1 :]:
            for r in range(min(len(by_lang[a]), len(by_lang[b]))):
                qa, qb = by_lang[a][r][0], by_lang[b][r][0]
                if qa > qb:
                    wins[(a, b)] += 1
                elif qb > qa:
                    wins[(b, a)] += 1
    p = {g: 1.0 / len(langs) for g in langs}
    for _ in range(_BT_ITERS):
        new = {}
        for g in langs:
            w_tot = sum(wins[(g, h)] + 0.5 for h in langs if h != g)
            den = sum(
                (wins[(g, h)] + wins[(h, g)] + 1.0) / (p[g] + p[h])
                for h in langs
                if h != g
            )
            new[g] = w_tot / den
        p = new
    s = sum(p.values())
    for r in rows:
        assert abs(r.strength - p[r.lang] / s) < 1e-5, r
        assert r.wins == sum(wins[(r.lang, h)] for h in langs if h != r.lang)

    # constructed dominance fixture: long clean text beats short noise
    fix = []
    texts = {
        "en": "the quick brown fox jumps over the lazy dog again " * 3,
        "fr": "word word word word longwordthatpadsaverage " * 2,
        "de": "x!!!",
    }
    did = 0
    for lang, text in texts.items():
        for _ in range(50):
            fix.append((did, lang, text))
            did += 1
    pd.DataFrame(fix, columns=["doc_id", "lang", "text"]).to_parquet(
        os.path.join(str(tmp_path), "documents.parquet")
    )
    got = {
        r.lang: r
        for r in ext_bradley_terry(spark, str(tmp_path)).collect()
    }
    assert got["en"].rank == 1 and got["en"].strength > 0.5
    assert got["de"].rank == 3


def test_stream_cusum_equals_batch_and_state_is_day_bounded(spark):
    """The streaming CUSUM's report must EQUAL the batch op row-for-row
    (the incremental day-moment build is lossless), and the state store
    must hold at most |days| rows per micro-batch — arrival-independent,
    the stream_heavy_hitters contract."""
    batch = registry.spec("agg_cusum_drift").fn(spark, SF).collect()
    stream = registry.spec("stream_cusum_drift").fn(spark, SF).collect()
    assert stream == batch
    n_days = batch[0].n_days
    assert n_days >= 28  # the fixture month actually spans the calendar


def test_elo_online_matches_independent_replay(spark):
    """ext_elo_online must equal an INDEPENDENTLY-written sequential Elo
    replay over the same deterministically-ordered duels, and agree with
    Bradley-Terry on who tops the arena (two estimators, one truth)."""
    from satellite_data_ingestion_spark.llm.shaping import (
        _BT_RANKS,
        _ELO_K,
        _ELO_START,
    )
    from satellite_data_ingestion_spark.llm.textstats import ext_quality_score

    rows = {r.lang: r for r in registry.spec("ext_elo_online").fn(spark, SF).collect()}
    docs = table(spark, SF, "documents").select("doc_id", "lang")
    q = {r.doc_id: r.quality for r in ext_quality_score(spark, SF).collect()}
    by_lang: dict = {}
    for r in docs.collect():
        by_lang.setdefault(r.lang, []).append((-q[r.doc_id], r.doc_id))
    for g in by_lang:
        by_lang[g] = [(-a, b) for a, b in sorted(by_lang[g])][:_BT_RANKS]
    langs = sorted(by_lang)
    games = []
    for i, a in enumerate(langs):
        for b in langs[i + 1 :]:
            for r in range(min(len(by_lang[a]), len(by_lang[b]))):
                qa, qb = by_lang[a][r][0], by_lang[b][r][0]
                sa = 1.0 if qa > qb else 0.0 if qb > qa else 0.5
                games.append((r + 1, langs.index(a), langs.index(b), sa))
    games.sort()
    ratings = [_ELO_START] * len(langs)
    n_games = [0] * len(langs)
    for _, ia, ib, sa in games:
        ra, rb = ratings[ia], ratings[ib]
        ea = 1.0 / (1.0 + 10.0 ** ((rb - ra) / 400.0))
        eb = 1.0 / (1.0 + 10.0 ** ((ra - rb) / 400.0))
        ratings[ia] = ra + _ELO_K * (sa - ea)
        ratings[ib] = rb + _ELO_K * ((1.0 - sa) - (1.0 - eb))
        n_games[ia] += 1
        n_games[ib] += 1
    for i, g in enumerate(langs):
        assert abs(rows[g].elo - ratings[i]) < 1e-3, (g, rows[g].elo, ratings[i])
        assert rows[g].n_games == n_games[i]
    bt = {r.lang: r for r in registry.spec("ext_bradley_terry").fn(spark, SF).collect()}
    elo_top = min(rows.values(), key=lambda r: r.rank).lang
    bt_top = min(bt.values(), key=lambda r: r.rank).lang
    assert elo_top == bt_top, "the two arena estimators disagree on the winner"


def test_cochran_q_matches_reference(spark):
    (r,) = registry.spec("agg_cochran_q").fn(spark, SF).collect()
    ev = table(spark, SF, "events").select(
        "user_id",
        F.datediff(F.date_trunc("day", "ts"), F.lit("1970-01-01").cast("date"))
        .cast("long")
        .alias("d"),
        "event_type",
        "value",
    )
    cells: dict = {}
    types = set()
    for x in ev.collect():
        types.add(x.event_type)
        key = (x.user_id, x.d, x.event_type)
        cells[key] = max(cells.get(key, 0.0), x.value)
    k = len(types)
    blocks: dict = {}
    cj: dict = {t: 0 for t in types}
    for (u, d, t), mx in cells.items():
        hit = 1 if mx > 50 else 0
        blocks[(u, d)] = blocks.get((u, d), 0) + hit
        cj[t] += hit
    sc = sum(cj.values())
    sc2 = sum(v * v for v in cj.values())
    sr = sum(blocks.values())
    sr2 = sum(v * v for v in blocks.values())
    qstat = (k - 1) * (k * sc2 - sc * sc) / (k * sr - sr2)
    assert r.k == k and r.n_blocks == len(blocks) and r.df == k - 1
    assert abs(r.q - qstat) < 6e-5 + 1e-9 * qstat
    assert 0.0 <= r.p <= 1.0


def test_seasonal_mann_kendall_matches_reference(spark):
    (r,) = registry.spec("agg_seasonal_mann_kendall").fn(spark, SF).collect()
    rows = _daily(spark, col_mean=False)
    from collections import Counter

    s_tot = 0
    var_tot = 0.0
    strata: dict = {}
    for d, _, y in rows:
        strata.setdefault(d % 7, []).append((d, y))
    for h in sorted(strata):
        ys = [y for _, y in sorted(strata[h])]
        n = len(ys)
        s_tot += sum(
            (ys[j] > ys[i]) - (ys[j] < ys[i])
            for i in range(n)
            for j in range(i + 1, n)
        )
        ties = Counter(ys)
        tiesum = sum(t * (t - 1) * (2 * t + 5) for t in ties.values() if t > 1)
        var_tot += (n * (n - 1) * (2 * n + 5) - tiesum) / 18.0
    assert r.n_strata == len(strata) and r.s == s_tot
    assert abs(r.var_s - var_tot) < 6e-5
    if s_tot > 0:
        z = (s_tot - 1) / math.sqrt(var_tot)
    elif s_tot < 0:
        z = (s_tot + 1) / math.sqrt(var_tot)
    else:
        z = 0.0
    assert abs(r.z - z) < 1e-6
    assert abs(r.p - 2 * (1 - _phi(abs(z)))) < 1e-5


def _baseline(spark):
    rows = _daily(spark, col_mean=False)
    days = {d for d, _, _ in rows[:7]}
    ev = table(spark, SF, "events").select(
        F.datediff(F.date_trunc("day", "ts"), F.lit("1970-01-01").cast("date"))
        .cast("long")
        .alias("d"),
        F.round(F.col("value") * 100).cast("long").alias("c"),
    )
    cs = [x.c for x in ev.collect() if x.d in days]
    mu0 = sum(cs) / len(cs)
    sd = math.sqrt(sum((c - mu0) ** 2 for c in cs) / (len(cs) - 1))
    return rows, mu0, sd


def test_capability_index_matches_reference(spark):
    (r,) = registry.spec("agg_capability_index").fn(spark, SF).collect()
    _, mu0, sd = _baseline(spark)
    ev = table(spark, SF, "events").select(
        F.round(F.col("value") * 100).cast("long").alias("c")
    )
    cs = [x.c for x in ev.collect()]
    n = len(cs)
    mu = sum(cs) / n
    sigma = math.sqrt(sum((c - mu) ** 2 for c in cs) / (n - 1))
    lsl, usl = mu0 - 4 * sd, mu0 + 4 * sd
    assert r.n == n
    assert abs(r.cp - (usl - lsl) / (6 * sigma)) < 1e-5
    assert abs(r.cpk - min(usl - mu, mu - lsl) / (3 * sigma)) < 1e-5
    n_out = sum(1 for c in cs if c < lsl or c > usl)
    assert r.n_out == n_out
    assert abs(r.out_of_spec_rate - n_out / n) < 1e-5


def test_ewma_control_matches_reference(spark):
    out = {r.d: r for r in registry.spec("win_ewma_control").fn(spark, SF).collect()}
    rows, mu0, sd = _baseline(spark)
    lam, L = 0.2, 3.0
    z = mu0
    for t, (d, n, s) in enumerate(sorted(rows), start=1):
        x = s / n
        z = lam * x + (1 - lam) * z
        lim = L * sd * math.sqrt(lam / (2 - lam) * (1 - (1 - lam) ** (2 * t)))
        r = out[d]
        assert abs(r.ewma - z) < 1e-3, (d, r.ewma, z)
        assert abs(r.ucl - (mu0 + lim)) < 1e-3
        assert r.out_of_control == (z > mu0 + lim or z < mu0 - lim)
    assert len(out) == len(rows)


def test_westgard_rules_match_reference_and_fire_on_drift(spark, tmp_path):
    got = {r.rule: r for r in registry.spec("agg_westgard_rules").fn(spark, SF).collect()}
    assert set(got) == {"1_3s", "2_2s", "R_4s", "4_1s", "10_x"}
    rows, mu0, sd = _baseline(spark)
    zs = [(d, (s / n - mu0) / sd) for d, n, s in sorted(rows)]
    refs = {k: [] for k in got}
    for i, (d, z) in enumerate(zs):
        z1 = zs[i - 1][1] if i >= 1 else None
        window = [zz for _, zz in zs[max(0, i - 9) : i + 1]]
        if abs(z) > 3:
            refs["1_3s"].append(d)
        if z1 is not None and abs(z) > 2 and abs(z1) > 2 and z * z1 > 0:
            refs["2_2s"].append(d)
        if z1 is not None and z * z1 < 0 and abs(z - z1) > 4:
            refs["R_4s"].append(d)
        if i >= 3 and all(
            abs(zs[i - j][1]) > 1 for j in range(4)
        ) and all(zs[i - j][1] * zs[i - j - 1][1] > 0 for j in range(3)):
            refs["4_1s"].append(d)
        if len(window) == 10 and (all(v > 0 for v in window) or all(v < 0 for v in window)):
            refs["10_x"].append(d)
    for rule, r in got.items():
        assert r.violations == len(refs[rule]), (rule, r, refs[rule])
        assert r.first_day == (min(refs[rule]) if refs[rule] else None)
    # the constructed +4-sigma drift fixture must trip the run rules
    import pandas as pd

    rows_fix = []
    eid = 0
    for day in range(30):
        for j in range(40):
            base = 1000 + (eid * 37 % 9) - 4
            shift = 40 if day >= 15 else 0
            rows_fix.append(
                (eid, pd.Timestamp("2024-01-01") + pd.Timedelta(days=day, minutes=j),
                 j, "view", (base + shift) / 100.0, "{}")
            )
            eid += 1
    pd.DataFrame(
        rows_fix,
        columns=["event_id", "ts", "user_id", "event_type", "value", "props"],
    ).to_parquet(os.path.join(str(tmp_path), "events.parquet"))
    drift = {
        r.rule: r
        for r in registry.spec("agg_westgard_rules").fn(spark, str(tmp_path)).collect()
    }
    assert drift["1_3s"].violations >= 10  # the shifted half lives past 3 sigma
    assert drift["10_x"].violations >= 1  # the sustained run trips the run rule
