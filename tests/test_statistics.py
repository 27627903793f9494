"""OLS sufficient-statistics regression (operators/statistics.py):
third-engine check against numpy on the same slices."""

from __future__ import annotations

import math

import numpy as np

from dump1090_stream_parser_spark.operators.statistics import q_regression
from dump1090_stream_parser_spark.tables import load_table

from .conftest import SF_DIR


def test_regression_matches_numpy(spark):
    got = {
        (r["l_returnflag"], r["l_linestatus"]): r
        for r in q_regression(spark, SF_DIR).collect()
    }
    assert got, "lineitem slices expected"
    rows = (
        load_table(spark, SF_DIR, "lineitem")
        .select("l_returnflag", "l_linestatus", "l_quantity",
                "l_extendedprice")
        .collect()
    )
    by_key: dict[tuple, list] = {}
    for r in rows:
        by_key.setdefault(
            (r["l_returnflag"], r["l_linestatus"]), []
        ).append((float(r["l_quantity"]), float(r["l_extendedprice"])))
    assert by_key.keys() == got.keys()
    for key, pts in by_key.items():
        x = np.array([p[0] for p in pts])
        y = np.array([p[1] for p in pts])
        slope, intercept = np.polyfit(x, y, 1)
        pred = slope * x + intercept
        ss_res = float(((y - pred) ** 2).sum())
        ss_tot = float(((y - y.mean()) ** 2).sum())
        r2 = 1.0 - ss_res / ss_tot
        g = got[key]
        assert g["n_rows"] == len(pts)
        # round(6) grain: abs_tol 5e-7 on scale-free r2; coefficients
        # are larger so relative tolerance governs
        assert math.isclose(g["slope"], slope, rel_tol=1e-5,
                            abs_tol=5.01e-7), key
        assert math.isclose(g["intercept"], intercept, rel_tol=1e-5,
                            abs_tol=5.01e-7), key
        assert math.isclose(g["r2"], r2, rel_tol=1e-5,
                            abs_tol=5.01e-7), key
        assert 0.0 <= g["r2"] <= 1.0


def test_mutual_info_matches_numpy(spark):
    """Third-engine check: recompute MI and entropies from raw joint
    counts with numpy; identities MI <= min(H), MI >= 0."""
    import math as m

    from dump1090_stream_parser_spark.operators.statistics import (
        q_mutual_info,
    )

    row = q_mutual_info(spark, SF_DIR).collect()[0]
    pairs = (
        load_table(spark, SF_DIR, "documents")
        .select("lang", "source")
        .collect()
    )
    joint: dict[tuple, int] = {}
    for r in pairs:
        joint[(r["lang"], r["source"])] = (
            joint.get((r["lang"], r["source"]), 0) + 1
        )
    n = sum(joint.values())
    lm: dict[str, int] = {}
    sm: dict[str, int] = {}
    for (l, s), c in joint.items():
        lm[l] = lm.get(l, 0) + c
        sm[s] = sm.get(s, 0) + c
    mi = sum(
        (c / n) * m.log(c * n / (lm[l] * sm[s]))
        for (l, s), c in joint.items()
    )
    h_l = -sum((c / n) * m.log(c / n) for c in lm.values())
    h_s = -sum((c / n) * m.log(c / n) for c in sm.values())
    assert row["n_docs"] == n
    assert row["n_cells"] == len(joint)
    assert math.isclose(row["mi"], mi, rel_tol=0, abs_tol=1e-5)
    assert math.isclose(row["h_lang"], h_l, rel_tol=0, abs_tol=1e-5)
    assert math.isclose(row["h_source"], h_s, rel_tol=0, abs_tol=1e-5)
    assert 0.0 <= row["mi"] <= min(row["h_lang"], row["h_source"]) + 1e-9


def test_anomaly_mad_matches_numpy(spark):
    """Third-engine check: median/MAD/outlier-count per event type
    recomputed with numpy on the same rows."""
    import numpy as np

    from dump1090_stream_parser_spark.operators.statistics import (
        q_anomaly_mad,
    )

    got = {
        r["event_type"]: r for r in q_anomaly_mad(spark, SF_DIR).collect()
    }
    rows = (
        load_table(spark, SF_DIR, "events")
        .filter("value IS NOT NULL")
        .select("event_type", "value")
        .collect()
    )
    by_type: dict[str, list[float]] = {}
    for r in rows:
        by_type.setdefault(r["event_type"], []).append(float(r["value"]))
    assert by_type.keys() == got.keys()
    for t, vals in by_type.items():
        v = np.array(vals)
        med = float(np.median(v))  # numpy interpolates like both engines
        mad = float(np.median(np.abs(v - med)))
        n_out = int((np.abs(v - med) > 3.0 * 1.4826 * mad).sum())
        g = got[t]
        assert g["n_events"] == len(vals)
        assert math.isclose(g["med"], med, rel_tol=0, abs_tol=5.01e-7)
        assert math.isclose(g["mad"], mad, rel_tol=0, abs_tol=5.01e-7)
        assert g["n_outliers"] == n_out, t


def test_acf_matches_numpy(spark):
    from dump1090_stream_parser_spark.operators.statistics import q_acf

    got = {
        (r["event_type"], r["k"]): r for r in q_acf(spark, SF_DIR).collect()
    }
    assert got, "acf rows expected"
    rows = (
        load_table(spark, SF_DIR, "events")
        .filter("value IS NOT NULL")
        .select("event_type", "ts", "event_id", "value")
        .collect()
    )
    series: dict[str, list] = {}
    for r in rows:
        series.setdefault(r["event_type"], []).append(
            (r["ts"], r["event_id"], math.floor(r["value"] * 1e6 + 0.5))
        )
    for etype, pts in series.items():
        pts.sort()
        v = np.array([p[2] for p in pts], dtype=np.float64)
        for k in (1, 2, 3):
            if len(v) <= k:
                assert (etype, k) not in got
                continue
            x, y = v[:-k], v[k:]
            if x.std() == 0 or y.std() == 0:
                assert (etype, k) not in got
                continue
            ref = float(np.corrcoef(x, y)[0, 1])
            g = got[(etype, k)]
            assert g["n_pairs"] == len(x)
            assert math.isclose(g["acf"], ref, rel_tol=1e-5,
                                abs_tol=5.01e-7), (etype, k)
            assert -1.0 <= g["acf"] <= 1.0


def test_weighted_median_matches_python(spark):
    from collections import defaultdict

    from dump1090_stream_parser_spark.operators.statistics import (
        q_weighted_median,
    )

    got = {
        r["l_returnflag"]: r
        for r in q_weighted_median(spark, SF_DIR).collect()
    }
    assert got, "groups expected"

    rows = (
        load_table(spark, SF_DIR, "lineitem")
        .select("l_returnflag", "l_extendedprice", "l_quantity")
        .collect()
    )
    by_rf = defaultdict(list)
    for r in rows:
        by_rf[r["l_returnflag"]].append(
            (round(r["l_extendedprice"] * 100),
             round(r["l_quantity"] * 100))
        )
    assert by_rf.keys() == got.keys()
    for rf, pts in by_rf.items():
        pts.sort()
        tot = sum(w for _, w in pts)
        cum = 0
        med = None
        below = 0
        for price_c, w in pts:
            if med is None:
                below = cum
            cum += w
            if med is None and 2 * cum >= tot:
                med = price_c
        g = got[rf]
        assert g["n_rows"] == len(pts)
        assert math.isclose(g["total_weight"], tot / 100.0, rel_tol=1e-12)
        assert math.isclose(
            g["weighted_median_price"], med / 100.0, rel_tol=1e-12
        )
        # defining property: weight at-or-below >= half, strictly
        # below < half (integer comparisons, no tolerance needed)
        at_or_below = sum(w for p, w in pts if p <= med)
        strictly_below = sum(w for p, w in pts if p < med)
        assert 2 * at_or_below >= tot
        assert 2 * strictly_below < tot


def test_acf_segmented_equals_single_pass(spark):
    from dump1090_stream_parser_spark.operators.statistics import (
        acf_segmented,
        acf_single_sort,
        q_acf,
    )

    single = {
        (r["event_type"], r["k"]): (r["n_pairs"], r["acf"])
        for r in acf_single_sort(spark, SF_DIR).collect()
    }
    seg = {
        (r["event_type"], r["k"]): (r["n_pairs"], r["acf"])
        for r in acf_segmented(spark, SF_DIR).collect()
    }
    # EXACT equality: the segmented plan pairs the identical integer
    # set, and integer sums commute -- no reassociation tolerance
    assert seg == single

    # the registered q_acf IS the segmented plan (VERDICT r8 ask #2)
    registered = {
        (r["event_type"], r["k"]): (r["n_pairs"], r["acf"])
        for r in q_acf(spark, SF_DIR).collect()
    }
    assert registered == single


def test_acf_segmented_prefix_carry_survives_sparse_buckets(spark):
    """Round-9 hardening: the prefix carry removed the density
    precondition. 1-day buckets at sf0.001 have (type, day) segments
    with fewer than LAG_MAX rows (measured min occupancy 2) -- the
    previous-segment-only carry lost exactly the k=3 boundary pairs
    there; the prefix carry must stay EXACTLY equal regardless of
    bucket width."""
    from dump1090_stream_parser_spark.operators.statistics import (
        acf_segmented,
        acf_single_sort,
    )

    single = {
        (r["event_type"], r["k"]): (r["n_pairs"], r["acf"])
        for r in acf_single_sort(spark, SF_DIR).collect()
    }
    for width in ("1 day", "12 hours", "30 days"):
        seg = {
            (r["event_type"], r["k"]): (r["n_pairs"], r["acf"])
            for r in acf_segmented(spark, SF_DIR, width).collect()
        }
        assert seg == single, width


def test_abtest_matches_python(spark):
    from dump1090_stream_parser_spark.operators.statistics import (
        Z_CRIT,
        q_abtest,
    )

    got = {
        (r["grp1"], r["grp2"]): r for r in q_abtest(spark, SF_DIR).collect()
    }
    assert got, "cohort pairs expected"

    rows = (
        load_table(spark, SF_DIR, "orders")
        .select("o_orderpriority", "o_orderstatus")
        .collect()
    )
    from collections import defaultdict

    n: dict[str, int] = defaultdict(int)
    s: dict[str, int] = defaultdict(int)
    for r in rows:
        n[r["o_orderpriority"]] += 1
        if r["o_orderstatus"] == "F":
            s[r["o_orderpriority"]] += 1
    groups = sorted(n)
    n_pairs = len(groups) * (len(groups) - 1) // 2
    assert len(got) == n_pairs

    def z(g1, g2):
        p1, p2 = s[g1] / n[g1], s[g2] / n[g2]
        pp = (s[g1] + s[g2]) / (n[g1] + n[g2])
        return (p1 - p2) / math.sqrt(
            pp * (1 - pp) * (1 / n[g1] + 1 / n[g2])
        )

    for (g1, g2), r in got.items():
        assert (r["n1"], r["s1"]) == (n[g1], s[g1])
        assert (r["n2"], r["s2"]) == (n[g2], s[g2])
        ref = z(g1, g2)
        assert math.isclose(r["z"], ref, rel_tol=1e-9, abs_tol=5.01e-7)
        assert r["significant"] == (abs(ref) > Z_CRIT)
        # antisymmetry by recomputation
        assert math.isclose(z(g2, g1), -ref, rel_tol=1e-12)


def test_gini_matches_python(spark):
    from collections import defaultdict

    from dump1090_stream_parser_spark.operators.statistics import q_gini

    got = {r["source"]: r for r in q_gini(spark, SF_DIR).collect()}
    assert got, "sources expected"

    rows = (
        load_table(spark, SF_DIR, "documents")
        .select("source", "n_chars")
        .collect()
    )
    by_src = defaultdict(list)
    for r in rows:
        by_src[r["source"]].append(r["n_chars"])
    assert by_src.keys() == got.keys()
    for src, xs in by_src.items():
        xs.sort()
        n = len(xs)
        swx = sum((i + 1) * x for i, x in enumerate(xs))
        sx = sum(xs)
        gini = 2 * swx / (n * sx) - (n + 1) / n
        g = got[src]
        assert g["n_docs"] == n and g["total_chars"] == sx
        assert math.isclose(g["gini"], gini, rel_tol=1e-9, abs_tol=5.01e-7)
        assert 0.0 <= g["gini"] < 1.0

    # identity: equal sizes -> exactly 0
    n = 7
    assert math.isclose(
        2 * sum((i + 1) * 5 for i in range(n)) / (n * 5 * n)
        - (n + 1) / n,
        0.0,
        abs_tol=1e-12,
    )


def test_benford_matches_python(spark):
    from collections import defaultdict

    from dump1090_stream_parser_spark.operators.statistics import (
        BENFORD_P,
        q_benford,
    )

    got = {r["digit"]: r for r in q_benford(spark, SF_DIR).collect()}
    assert set(got) == set(range(1, 10))

    rows = (
        load_table(spark, SF_DIR, "orders")
        .filter("o_totalprice > 0")
        .select("o_totalprice")
        .collect()
    )
    counts: dict[int, int] = defaultdict(int)
    for r in rows:
        counts[int(str(round(r["o_totalprice"] * 100))[0])] += 1
    n = sum(counts.values())
    share_sum = 0.0
    for d in range(1, 10):
        g = got[d]
        o = counts.get(d, 0)
        p = BENFORD_P[d - 1]
        assert g["n_obs"] == o
        assert math.isclose(g["observed_p"], o / n, rel_tol=0,
                            abs_tol=5.01e-7)
        assert g["expected_p"] == p
        assert math.isclose(
            g["chi2_term"], (o - n * p) ** 2 / (n * p),
            rel_tol=1e-6, abs_tol=5.01e-7,
        )
        share_sum += o / n
    assert math.isclose(share_sum, 1.0, rel_tol=1e-12)


def test_seasonality_matches_python(spark):
    import math
    from collections import defaultdict
    from datetime import date

    from dump1090_stream_parser_spark.operators.statistics import (
        q_seasonality,
    )

    got = {
        r["event_type"]: r for r in q_seasonality(spark, SF_DIR).collect()
    }
    assert got, "per-type seasonality rows expected"
    rows = (
        load_table(spark, SF_DIR, "events")
        .select("event_type", "ts")
        .collect()
    )
    anchor = date(2020, 1, 6)  # a Monday
    counts = defaultdict(lambda: [0] * 7)
    for r in rows:
        counts[r["event_type"]][(r["ts"].date() - anchor).days % 7] += 1
    assert counts.keys() == got.keys()
    for etype, per_dow in counts.items():
        n = sum(per_dow)
        exp = n / 7.0
        chi2 = sum((c - exp) ** 2 / exp for c in per_dow)
        peak = max(range(7), key=lambda d: (per_dow[d], -d))
        g = got[etype]
        assert g["n_events"] == n
        assert math.isclose(g["chi2"], chi2, rel_tol=1e-9, abs_tol=5.01e-7)
        assert g["peak_dow"] == peak
        assert math.isclose(
            g["peak_share"], per_dow[peak] / n, rel_tol=0, abs_tol=5.01e-7
        )
        assert g["chi2"] >= 0 and 0 < g["peak_share"] <= 1


def test_winsorize_matches_python(spark):
    import math
    from collections import defaultdict

    from dump1090_stream_parser_spark.operators.statistics import (
        WINSOR_HI,
        WINSOR_LO,
        q_winsorize,
    )

    got = {
        r["l_returnflag"]: r for r in q_winsorize(spark, SF_DIR).collect()
    }
    assert got, "per-flag winsorized rows expected"
    rows = (
        load_table(spark, SF_DIR, "lineitem")
        .select("l_returnflag", "l_extendedprice")
        .collect()
    )
    by_rf = defaultdict(list)
    for r in rows:
        by_rf[r["l_returnflag"]].append(round(r["l_extendedprice"] * 100))
    assert by_rf.keys() == got.keys()
    for rf, vals in by_rf.items():
        vals.sort()
        n = len(vals)

        def cut(p):
            cum = 0
            seen = 0
            for v in vals:
                seen += 1
                if 100 * seen >= p * n:
                    return v
            return vals[-1]

        lo, hi = cut(WINSOR_LO), cut(WINSOR_HI)
        wmean = sum(min(max(v, lo), hi) for v in vals) / n / 100.0
        g = got[rf]
        assert g["n_rows"] == n
        assert math.isclose(g["p01"], lo / 100.0, rel_tol=1e-12)
        assert math.isclose(g["p99"], hi / 100.0, rel_tol=1e-12)
        assert math.isclose(
            g["winsor_mean"], wmean, rel_tol=0, abs_tol=5.01e-7
        )
        assert g["p01"] <= g["p99"]
        assert vals[0] / 100.0 <= g["winsor_mean"] <= vals[-1] / 100.0


def test_ks_test_matches_python(spark):
    import math
    from collections import defaultdict

    from dump1090_stream_parser_spark.operators.statistics import (
        KS_C,
        q_ks_test,
    )

    got = {
        (r["grp1"], r["grp2"]): r
        for r in q_ks_test(spark, SF_DIR).collect()
    }
    assert got, "cohort pairs expected"
    rows = (
        load_table(spark, SF_DIR, "orders")
        .select("o_orderpriority", "o_totalprice")
        .collect()
    )
    by_g = defaultdict(list)
    for r in rows:
        by_g[r["o_orderpriority"]].append(round(r["o_totalprice"] * 100))
    groups = sorted(by_g)
    assert got.keys() == {
        (a, b) for i, a in enumerate(groups) for b in groups[i + 1:]
    }
    for (g1, g2), r in got.items():
        v1, v2 = sorted(by_g[g1]), sorted(by_g[g2])
        n1, n2 = len(v1), len(v2)
        grid = sorted(set(v1) | set(v2))
        best, best_at = -1, None
        import bisect
        for v in grid:
            c1 = bisect.bisect_right(v1, v)
            c2 = bisect.bisect_right(v2, v)
            gap = abs(c1 * n2 - c2 * n1)
            if gap > best:
                best, best_at = gap, v
        assert (r["n1"], r["n2"]) == (n1, n2)
        d = best / (n1 * n2)
        assert math.isclose(r["ks_d"], d, rel_tol=0, abs_tol=5.01e-7)
        assert math.isclose(r["d_at"], best_at / 100.0, rel_tol=1e-12)
        thr = KS_C * math.sqrt((n1 + n2) / (n1 * n2))
        assert r["significant"] == (d > thr)
        assert 0.0 <= r["ks_d"] <= 1.0


def test_hill_matches_python(spark):
    import math
    from collections import defaultdict

    from dump1090_stream_parser_spark.operators.statistics import (
        HILL_K,
        q_hill,
    )

    got = {
        r["l_returnflag"]: r for r in q_hill(spark, SF_DIR).collect()
    }
    assert got, "per-flag hill rows expected"
    rows = (
        load_table(spark, SF_DIR, "lineitem")
        .select("l_returnflag", "l_extendedprice")
        .collect()
    )
    by_rf = defaultdict(list)
    for r in rows:
        by_rf[r["l_returnflag"]].append(round(r["l_extendedprice"] * 100))
    for rf, vals in by_rf.items():
        vals.sort(reverse=True)
        if len(vals) <= HILL_K:
            assert rf not in got
            continue
        top, thr = vals[:HILL_K], vals[HILL_K]
        s = sum(math.log(x / thr) for x in top)
        g = got[rf]
        assert g["k"] == HILL_K
        assert math.isclose(g["x_threshold"], thr / 100.0, rel_tol=1e-12)
        assert math.isclose(
            g["hill_mean"], s / HILL_K, rel_tol=1e-6, abs_tol=5.01e-7
        )
        assert math.isclose(
            g["tail_index"], HILL_K / s, rel_tol=1e-6, abs_tol=5.01e-7
        )
        assert g["tail_index"] > 0


def test_chi2_third_engine(spark):
    """Recompute the chi-square statistic in pure Python from the raw
    contingency table (third engine) and pin the bounds."""
    import math
    from collections import Counter

    from dump1090_stream_parser_spark.operators.statistics import q_chi2

    row = q_chi2(spark, SF_DIR).collect()
    assert len(row) == 1
    got = row[0]

    raw = (
        load_table(spark, SF_DIR, "orders")
        .select("o_orderpriority", "o_orderstatus")
        .collect()
    )
    cells = Counter((r[0], r[1]) for r in raw)
    n = sum(cells.values())
    rs = Counter()
    cs = Counter()
    for (a, b), c in cells.items():
        rs[a] += c
        cs[b] += c
    chi2 = 0.0
    for a in rs:
        for b in cs:
            o = cells.get((a, b), 0)
            e = rs[a] * cs[b] / n
            chi2 += (o - e) ** 2 / e
    assert got["n_rows"] == n
    assert got["n_levels_a"] == len(rs)
    assert got["n_levels_b"] == len(cs)
    assert got["dof"] == (len(rs) - 1) * (len(cs) - 1)
    assert math.isclose(got["chi2"], chi2, rel_tol=1e-9, abs_tol=1e-5)
    assert got["chi2"] >= 0
    assert 0.0 <= got["cramers_v"] <= 1.0
    v = math.sqrt(chi2 / (n * min(len(rs) - 1, len(cs) - 1)))
    assert math.isclose(got["cramers_v"], v, rel_tol=1e-6, abs_tol=5.01e-7)


def test_mann_whitney_matches_python(spark):
    """Third-engine recomputation of U1, the tie-corrected z and the
    verdict, plus the U1 + U2 = n1*n2 identity (computing U2 by
    swapping cohort roles must complement U1 exactly, half-ties and
    all)."""
    import math
    from collections import Counter, defaultdict

    from dump1090_stream_parser_spark.operators.statistics import (
        MW_Z_CRIT,
        q_mann_whitney,
    )

    got = {
        (r["grp1"], r["grp2"]): r
        for r in q_mann_whitney(spark, SF_DIR).collect()
    }
    assert got, "cohort pairs expected"
    rows = (
        load_table(spark, SF_DIR, "orders")
        .select("o_orderpriority", "o_totalprice")
        .collect()
    )
    by_g = defaultdict(list)
    for r in rows:
        by_g[r["o_orderpriority"]].append(round(r["o_totalprice"] * 100))
    groups = sorted(by_g)
    assert got.keys() == {
        (a, b) for i, a in enumerate(groups) for b in groups[i + 1:]
    }

    def u2_of(va, vb):  # 2*U(a over b): wins*2 + ties
        cb = Counter(vb)
        grid = sorted(cb)
        cum = 0
        below = {}
        for v in grid:
            below[v] = cum
            cum += cb[v]
        import bisect

        u2 = 0
        for x in va:
            i = bisect.bisect_left(grid, x)
            if i < len(grid) and grid[i] == x:
                u2 += 2 * below[x] + cb[x]
            else:
                wins = sum(cb[v] for v in grid[:i])
                u2 += 2 * wins
        return u2

    for (g1, g2), r in got.items():
        v1, v2 = by_g[g1], by_g[g2]
        n1, n2 = len(v1), len(v2)
        u2 = u2_of(v1, v2)
        assert (r["n1"], r["n2"]) == (n1, n2)
        assert math.isclose(r["u1"], u2 / 2.0, rel_tol=1e-12)
        # complement identity: U1 + U2 = n1*n2 (in 2x units)
        assert u2 + u2_of(v2, v1) == 2 * n1 * n2
        tie = Counter(v1)
        tie.update(v2)
        ts = sum(t**3 - t for t in tie.values())
        nn = n1 + n2
        var = n1 * n2 / 12.0 * ((nn + 1.0) - ts / (nn * (nn - 1.0)))
        z = (u2 - n1 * n2) / (2.0 * math.sqrt(var))
        assert math.isclose(r["z"], z, rel_tol=0, abs_tol=5.01e-7)
        assert r["significant"] == (abs(z) > MW_Z_CRIT)


def test_subsample_ci_matches_python(spark):
    """Third-engine recomputation: hash-bit replica membership, exact
    replica sums/counts, sorted replica means, and the sqrt(1/2)
    Politis-Romano CI; plus the containment sanity mean in [ci_lo,
    ci_hi] and ci_lo <= ci_hi."""
    import hashlib
    import math
    from collections import defaultdict

    from dump1090_stream_parser_spark.operators.statistics import (
        SS_REPLICAS,
        q_subsample_ci,
    )

    got = {r["grp"]: r for r in q_subsample_ci(spark, SF_DIR).collect()}
    assert got
    rows = (
        load_table(spark, SF_DIR, "orders")
        .select("o_orderpriority", "o_totalprice", "o_orderkey")
        .collect()
    )
    sums = defaultdict(lambda: [0, 0])  # grp -> [n, s]
    reps = defaultdict(lambda: [[0, 0] for _ in range(SS_REPLICAS)])
    for r in rows:
        g = r["o_orderpriority"]
        cents = round(r["o_totalprice"] * 100)
        h = int(
            hashlib.md5(str(r["o_orderkey"]).encode()).hexdigest()[:15],
            16,
        )
        sums[g][0] += 1
        sums[g][1] += cents
        for b in range(SS_REPLICAS):
            if (h >> b) & 1:
                reps[g][b][0] += 1
                reps[g][b][1] += cents
    assert set(got) == set(sums)
    sqrt_half = 0.7071067811865476
    for g, r in got.items():
        n, s = sums[g]
        mean = s / n
        ms = sorted(sb / cb if cb else float("nan")
                    for cb, sb in reps[g])
        rep_lo, rep_hi = ms[1], ms[SS_REPLICAS - 2]
        assert r["n"] == n
        assert math.isclose(r["mean_cents"], mean, rel_tol=0, abs_tol=5.01e-7)
        assert math.isclose(r["rep_lo"], rep_lo, rel_tol=0, abs_tol=5.01e-7)
        assert math.isclose(r["rep_hi"], rep_hi, rel_tol=0, abs_tol=5.01e-7)
        ci_lo = mean - sqrt_half * (rep_hi - mean)
        ci_hi = mean - sqrt_half * (rep_lo - mean)
        assert math.isclose(r["ci_lo"], ci_lo, rel_tol=0, abs_tol=5.01e-7)
        assert math.isclose(r["ci_hi"], ci_hi, rel_tol=0, abs_tol=5.01e-7)
        assert r["ci_lo"] <= r["mean_cents"] <= r["ci_hi"]


def test_theil_sen_matches_python_and_is_robust(spark):
    from collections import defaultdict

    from dump1090_stream_parser_spark.operators.statistics import (
        q_theil_sen,
    )

    got = {r["event_type"]: r for r in q_theil_sen(spark, SF_DIR).collect()}
    assert got
    rows = (
        load_table(spark, SF_DIR, "events")
        .selectExpr(
            "event_type",
            "CAST(datediff(to_date(ts), to_date('2024-01-01')) AS LONG)"
            " AS x",
        )
        .collect()
    )
    daily = defaultdict(lambda: defaultdict(int))
    for r in rows:
        daily[r["event_type"]][r["x"]] += 1

    def ts_fit(pts):  # [(x, y)] -> (slope, intercept, n_pairs)
        pts = sorted(pts)
        pairs = []
        for i, (x1, y1) in enumerate(pts):
            for x2, y2 in pts[i + 1:]:
                dy, dx = y2 - y1, x2 - x1
                pairs.append((dy / dx, dy, dx, x1, x2))
        pairs.sort()
        slope = pairs[(len(pairs) + 1) // 2 - 1][0]
        res = sorted((y - slope * x, x) for x, y in pts)
        inter = res[(len(res) + 1) // 2 - 1][0]
        return slope, inter, len(pairs)

    def ols_slope(pts):
        n = len(pts)
        sx = sum(x for x, _ in pts)
        sy = sum(y for _, y in pts)
        sxy = sum(x * y for x, y in pts)
        sxx = sum(x * x for x, _ in pts)
        return (n * sxy - sx * sy) / (n * sxx - sx * sx)

    import math

    for et, r in got.items():
        pts = list(daily[et].items())
        slope, inter, n_pairs = ts_fit(pts)
        assert r["n_days"] == len(pts)
        assert r["n_pairs"] == n_pairs
        assert math.isclose(r["slope"], slope, rel_tol=0, abs_tol=5.01e-7)
        assert math.isclose(
            r["intercept"], inter, rel_tol=0, abs_tol=5.01e-7
        )
        # robustness: 10x one day's count; OLS must move at least
        # 2x more than Theil-Sen (at sf0.001 the daily counts are
        # single digits, so the median itself shifts a little; the
        # GAP is the property)
        bad = [(x, y * 10 if x == pts[0][0] else y) for x, y in pts]
        ts_move = abs(ts_fit(bad)[0] - slope)
        ols_move = abs(ols_slope(bad) - ols_slope(pts))
        assert ols_move > 2 * ts_move, (et, ols_move, ts_move)


def test_rank_sum_algebra_properties():
    """The rank-sum algebra that q_mann_whitney and q_auc share,
    property-tested over arbitrary generated data (no Spark): (1) the
    count-collapse U equals the O(n1*n2) pairwise definition with
    half-tie credit; (2) the complement identity U(a,b) + U(b,a) =
    n1*n2 holds exactly in 2x-integer units; (3) AUC from the same
    algebra is scale-free in [0, 1] and flips under score negation."""
    from collections import Counter

    from hypothesis import given, settings
    from hypothesis import strategies as st

    vals = st.lists(
        st.integers(min_value=-50, max_value=50), min_size=1, max_size=40
    )

    def u2_collapse(va, vb):  # 2*U(a over b) via the engine's algebra
        ca, cb = Counter(va), Counter(vb)
        below_b, u2 = 0, 0
        for v in sorted(set(ca) | set(cb)):
            u2 += ca.get(v, 0) * (2 * below_b + cb.get(v, 0))
            below_b += cb.get(v, 0)
        return u2

    def u2_pairwise(va, vb):
        return sum(
            2 if a > b else (1 if a == b else 0) for a in va for b in vb
        )

    @settings(max_examples=300, deadline=None)
    @given(vals, vals)
    def check(a, b):
        u2 = u2_collapse(a, b)
        assert u2 == u2_pairwise(a, b)
        assert u2 + u2_collapse(b, a) == 2 * len(a) * len(b)
        auc = u2 / (2 * len(a) * len(b))
        assert 0.0 <= auc <= 1.0
        neg_auc = u2_collapse([-x for x in a], [-x for x in b]) / (
            2 * len(a) * len(b)
        )
        assert abs(auc + neg_auc - 1.0) < 1e-12

    check()


def test_rank_cuts_boundaries(spark):
    """functions/exact.rank_cuts against pure-Python expected values on
    a synthetic frame that lands ON the cut boundaries:

    - group "a" has exactly 100 unit-weight rows with tied values
      (0, 1, 1, 2, 2, ..., 49, 49, 50), so ``100 * cum == 1 * tot``
      holds with equality at the first row and ``100 * cum == 99 *
      tot`` inside the last tied run: ``>=`` picks 0 and 49, where a
      strict ``>`` would pick 1 and 50;
    - group "b" has even total weight 8 with running weights 1, 4, 6,
      8, so the (1, 2) cut meets ``2 * cum == tot`` exactly at 20;
    - group "c" holds a single (tied) value, which every cut returns.
    """
    import random

    from dump1090_stream_parser_spark.functions.exact import rank_cuts

    rows = [("a", (i + 1) // 2, 1) for i in range(100)]
    rows += [("b", v, w) for v, w in ((10, 1), (20, 3), (30, 2), (40, 2))]
    rows += [("c", 7, 2), ("c", 7, 5)]
    random.Random(7).shuffle(rows)
    cuts = {"lo": (1, 100), "med": (1, 2), "hi": (99, 100)}
    df = spark.createDataFrame(rows, "g string, v long, w long")
    got = rank_cuts(df, "g", "v", "w", cuts).collect()

    def expected(pts, num, den):
        tot = sum(w for _, w in pts)
        cum = 0
        for v, w in sorted(pts):
            cum += w
            if den * cum >= num * tot:
                return v

    by_g = {}
    for g, v, w in rows:
        by_g.setdefault(g, []).append((v, w))
    assert len(got) == len(rows)
    assert sorted(r["g"] for r in got) == sorted(g for g, _, _ in rows)
    for r in got:
        pts = by_g[r["g"]]
        assert r["tot"] == sum(w for _, w in pts)
        for name, (num, den) in cuts.items():
            assert r[name] == expected(pts, num, den), (r, name)
    pick = {r["g"]: r for r in got}
    assert (pick["a"]["lo"], pick["a"]["med"], pick["a"]["hi"]) == (0, 25, 49)
    assert pick["b"]["med"] == 20
    assert (pick["c"]["lo"], pick["c"]["med"], pick["c"]["hi"]) == (7, 7, 7)
