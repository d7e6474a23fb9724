"""Round-10 fixes: the blocked_pairs hot-block guard (r9 verdict weak #1),
the four r9 ADVICE findings (evalmetrics __all__, fleiss_kappa empty input,
conformal null residuals, cooccurrence_recs hub-pruned frequencies)."""

import pytest
from pyspark.sql import functions as F


# ---------------------------------------------------------------- blocked_pairs


def _names(spark, rows):
    return spark.createDataFrame(rows, "id long, blk string, name string")


def test_blocked_pairs_normal_blocks_unchanged(spark):
    from stackstac_spark.operators.linkage import blocked_pairs

    df = _names(
        spark,
        [(1, "a", "x"), (2, "a", "y"), (3, "a", "z"), (4, "b", "p"), (5, "b", "q")],
    )
    got = sorted(
        (r["id_a"], r["id_b"])
        for r in blocked_pairs(df, ["blk"], "id", ["name"]).collect()
    )
    assert got == [(1, 2), (1, 3), (2, 3), (4, 5)]


def test_blocked_pairs_hot_block_fails_fast(spark):
    from stackstac_spark.operators.linkage import blocked_pairs

    # adversarial one-hot-block fixture: every row lands in block "hot"
    df = _names(spark, [(i, "hot", f"n{i}") for i in range(30)])
    with pytest.raises(ValueError, match="max_block"):
        blocked_pairs(df, ["blk"], "id", ["name"], max_block=10)
    # raising the bound (or disabling) restores the exact all-pairs plan
    n = blocked_pairs(df, ["blk"], "id", ["name"], max_block=None).count()
    assert n == 30 * 29 // 2
    n2 = blocked_pairs(df, ["blk"], "id", ["name"], max_block=1000).count()
    assert n2 == n


def test_blocked_pairs_auto_subblock_caps_hot_block(spark):
    from stackstac_spark.operators.linkage import blocked_pairs

    # one hot block (60 rows) + one normal block (4 rows)
    rows = [(i, "hot", f"n{i:03d}") for i in range(60)] + [
        (100 + i, "cold", f"c{i}") for i in range(4)
    ]
    df = _names(spark, rows)
    w = 5
    out = blocked_pairs(
        df, ["blk"], "id", ["name"], max_block=10, auto_subblock=w
    ).collect()
    cold = [(r["id_a"], r["id_b"]) for r in out if r["blk"] == "cold"]
    hot = [r for r in out if r["blk"] == "hot"]
    # cold block keeps exact all-pairs semantics
    assert sorted(cold) == [
        (a, b) for a in range(100, 104) for b in range(a + 1, 104)
    ]
    # hot block: exactly the sorted-neighborhood pairs — names sort as ids,
    # so the windowed pairs are |i-j| < w, each emitted once, id_a < id_b
    expect = {(i, j) for i in range(60) for j in range(i + 1, min(i + w, 60))}
    got = {(r["id_a"], r["id_b"]) for r in hot}
    assert got == expect
    # the quadratic count never materializes: n*(w-1) - sum bound
    assert len(hot) == len(expect) < 60 * 59 // 2
    # payloads stay aligned with their ids after re-orientation
    for r in hot:
        assert r["name_a"] == f"n{r['id_a']:03d}"
        assert r["name_b"] == f"n{r['id_b']:03d}"


def test_edit_distance_pairs_guard_passthrough(spark):
    from stackstac_spark.operators.linkage import edit_distance_pairs

    df = _names(spark, [(i, "hot", f"n{i}") for i in range(25)])
    with pytest.raises(ValueError, match="max_block"):
        edit_distance_pairs(df, "name", ["blk"], "id", max_block=5)
    # auto_subblock path still scores pairs (distinct-pair scoring intact)
    out = edit_distance_pairs(
        df, "name", ["blk"], "id", max_block=5, auto_subblock=4
    )
    assert out.count() > 0
    assert {"id_a", "id_b", "distance"} <= set(out.columns)


def test_jaro_winkler_pairs_guard_passthrough(spark):
    from stackstac_spark.operators.linkage import jaro_winkler_pairs

    df = _names(spark, [(i, "hot", f"name{i}") for i in range(25)])
    with pytest.raises(ValueError, match="max_block"):
        jaro_winkler_pairs(df, "name", ["blk"], "id", max_block=5)


def test_fuzzy_pairs_never_pair_an_id_with_itself(spark):
    """One id under two similar names in one block: the name-level scoring
    must not explode that name pair into an (id, id) self-pair."""
    from stackstac_spark.operators.linkage import edit_distance_pairs, jaro_winkler_pairs

    df = _names(spark, [(1, "a", "jon"), (1, "a", "john"), (2, "a", "joan")])
    ed = edit_distance_pairs(df, "name", ["blk"], "id", max_distance=2).collect()
    jw = jaro_winkler_pairs(df, "name", ["blk"], "id", threshold=0.7).collect()
    for rows in (ed, jw):
        assert rows, "the fixture's cross-id pairs must still match"
        assert all(r["id_a"] != r["id_b"] for r in rows)
        assert {(r["id_a"], r["id_b"]) for r in rows} == {(1, 2)}


# ---------------------------------------------------------------- evalmetrics


def test_evalmetrics_all_exports():
    import stackstac_spark.operators.evalmetrics as m

    assert m.__all__ == [
        "roc_auc", "average_precision", "cohens_kappa", "mcnemar_test",
        "rbo_overlap", "cochran_q", "lift_deciles",
        "ndcg_at_k", "wilson_rank", "fleiss_kappa", "calibration_error",
        # r12 wave
        "brier_decomposition", "krippendorff_alpha",
        # r12 second sub-wave
        "lin_ccc", "cronbach_alpha", "gwet_ac1",
        # r12 third sub-wave
        "mrr", "topk_eval",
        # r12 sixth sub-wave
        "classifier_report", "log_loss", "youden_threshold",
        # r12 seventh sub-wave
        "bland_altman",
    ]
    for name in m.__all__:
        assert hasattr(m, name), name


def test_fleiss_kappa_empty_input_raises(spark):
    from stackstac_spark.operators.evalmetrics import fleiss_kappa

    empty = spark.createDataFrame([], "item long, category string")
    with pytest.raises(ValueError, match="non-empty"):
        fleiss_kappa(empty, "item", "category")


# ---------------------------------------------------------------- conformal


def test_conformal_null_rows_excluded(spark):
    from stackstac_spark.operators.mlfit import conformal_interval

    clean = spark.createDataFrame(
        [(float(i), float(i) + (1.0 if i % 2 else -1.0)) for i in range(20)],
        "y double, yhat double",
    )
    test = spark.createDataFrame([(5.0,)], "yhat double")
    base = conformal_interval(clean, test, alpha=0.2).first()
    # nulls in y or yhat must not occupy order-statistic slots nor count
    # toward n_cal — with the old code they sorted FIRST and shrank qhat
    dirty = clean.unionByName(
        spark.createDataFrame(
            [(None, 1.0), (1.0, None), (None, None)] * 4, "y double, yhat double"
        )
    )
    got = conformal_interval(dirty, test, alpha=0.2).first()
    assert got["qhat"] == base["qhat"]
    assert got["pi_lo"] == base["pi_lo"] and got["pi_hi"] == base["pi_hi"]


def test_conformal_all_null_raises(spark):
    from stackstac_spark.operators.mlfit import conformal_interval

    cal = spark.createDataFrame([(None, 1.0)], "y double, yhat double")
    test = spark.createDataFrame([(5.0,)], "yhat double")
    with pytest.raises(ValueError, match="non-null"):
        conformal_interval(cal, test)


# ---------------------------------------------------------------- cooccurrence


def test_cooccurrence_freq_uses_pruned_incidence(spark):
    from stackstac_spark.operators.graph import cooccurrence_recs

    # basket H is a hub (4 items > max_basket_size=3) and must contribute
    # to NEITHER co-counts NOR frequencies; baskets b1/b2 carry the signal
    rows = (
        [("H", i) for i in [1, 2, 3, 4]]
        + [("b1", 1), ("b1", 2)]
        + [("b2", 1), ("b2", 2)]
    )
    df = spark.createDataFrame(rows, "basket string, item long")
    out = cooccurrence_recs(
        df, basket_col="basket", item_col="item", k=5, max_basket_size=3
    ).collect()
    by_pair = {(r["item"], r["rec_item"]): r for r in out}
    # items 3,4 exist only in the dropped hub basket -> no recs at all
    assert all(k[0] in (1, 2) and k[1] in (1, 2) for k in by_pair)
    r = by_pair[(1, 2)]
    # freq over PRUNED incidence: item1 in {b1,b2} -> 2 (not 3 with hub);
    # weight 2 shared baskets -> cosine 2/sqrt(2*2) = 1.0 exactly
    assert r["weight"] == 2
    assert r["score"] == 1.0


def test_fleiss_kappa_single_category_null_not_error(spark):
    """Universal agreement on ONE category: p_e = 1 and kappa is the
    undefined 0/0 — must emit NULL, not an ANSI divide-by-zero."""
    from stackstac_spark.operators.evalmetrics import fleiss_kappa

    labels = spark.createDataFrame(
        [(i, "yes") for i in range(4) for _ in range(3)], "item long, category string"
    )
    row = fleiss_kappa(labels, "item", "category").first()
    assert row["p_e"] == 1.0 and row["p_bar"] == 1.0
    assert row["kappa"] is None


# ---------------------------------------------------------------- r10 wave


def test_silhouette_centroid_known_values(spark):
    from stackstac_spark.operators.similarity import silhouette_centroid

    # two 1-D clusters at 0 and 10; point at 4 assigned to cluster 0
    rows = [(1, [0.0], 0), (2, [1.0], 0), (3, [10.0], 1), (4, [4.0], 0)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>, cluster int")
    out = {r["vec_id"]: r for r in silhouette_centroid(df, [[0.0], [10.0]]).collect()}
    assert out[1]["a"] == 0.0 and out[1]["b"] == 10.0 and out[1]["s"] == 1.0
    assert out[2]["a"] == 1.0 and out[2]["b"] == 9.0 and out[2]["s"] == round(8 / 9, 6)
    assert out[3]["a"] == 0.0 and out[3]["b"] == 10.0 and out[3]["s"] == 1.0
    # boundary-ish point: a=4, b=6 -> s = 2/6
    assert out[4]["s"] == round(2 / 6, 6)


def test_silhouette_single_cluster_null(spark):
    from stackstac_spark.operators.similarity import silhouette_centroid

    df = spark.createDataFrame(
        [(1, [0.0], 0)], "vec_id long, embedding array<double>, cluster int"
    )
    r = silhouette_centroid(df, [[0.0]]).first()
    assert r["b"] is None and r["s"] is None


def test_isotonic_calibrate_pools_violators(spark):
    from stackstac_spark.operators.mlfit import isotonic_calibrate

    # scores 0..3 (4 bins), rates .0, .8, .2, 1.0 — bins 1,2 violate and
    # pool to (0.8+0.2)/2 = 0.5 with equal weights
    rows = []
    for b, rate in [(0, 0.0), (1, 0.8), (2, 0.2), (3, 1.0)]:
        rows += [(float(b), 1.0)] * int(rate * 10) + [(float(b), 0.0)] * (
            10 - int(rate * 10)
        )
    df = spark.createDataFrame(rows, "score double, label double")
    out = {r["bin"]: r for r in isotonic_calibrate(df, "score", "label", bins=4).collect()}
    assert [out[b]["rate_raw"] for b in range(4)] == [0.0, 0.8, 0.2, 1.0]
    assert [out[b]["rate_iso"] for b in range(4)] == [0.0, 0.5, 0.5, 1.0]
    # isotonic output is monotone and mass-preserving per pooled block
    assert out[1]["n"] == 10 and out[1]["pos"] == 8.0


def test_isotonic_already_monotone_unchanged(spark):
    from stackstac_spark.operators.mlfit import isotonic_calibrate

    rows = [(0.0, 0.0)] * 5 + [(1.0, 0.0), (1.0, 1.0)] + [(2.0, 1.0)] * 5
    df = spark.createDataFrame(rows, "score double, label double")
    out = {r["bin"]: r for r in isotonic_calibrate(df, "score", "label", bins=3).collect()}
    for b in out:
        assert out[b]["rate_iso"] == out[b]["rate_raw"]


def test_mutual_information_independent_and_dependent(spark):
    from stackstac_spark.operators.drift import mutual_information
    import math

    # independent: every (x, y) combination equally likely -> MI = 0
    indep = spark.createDataFrame(
        [(x, y) for x in "ab" for y in "cd" for _ in range(5)], "x string, y string"
    )
    r = mutual_information(indep, "x", "y").first()
    assert r["mi"] == 0.0 and r["nmi"] == 0.0
    # deterministic: y == x -> MI = H(x) = ln 2, NMI = 1
    dep = spark.createDataFrame(
        [(x, x) for x in "ab" for _ in range(5)], "x string, y string"
    )
    r = mutual_information(dep, "x", "y").first()
    assert r["mi"] == round(math.log(2), 6)
    assert r["nmi"] == 1.0
    # constant column -> NMI null, MI 0
    const = spark.createDataFrame([("a", "c"), ("a", "d")], "x string, y string")
    r = mutual_information(const, "x", "y").first()
    assert r["mi"] == 0.0 and r["nmi"] is None


def test_hill_tail_index_pareto(spark):
    import math

    from stackstac_spark.operators.textstats import hill_tail_index

    # exact power-law sample x_i = (i/n)^(-1/alpha) has Hill estimate
    # alpha-ish; use a tiny exact check instead: values 16,8,4,2 with k=3
    df = spark.createDataFrame([(16.0,), (8.0,), (4.0,), (2.0,), (1.0,)], "v double")
    r = hill_tail_index(df, "v", k=3).first()
    # top-4 = 16,8,4,2; sum ln(x_i/2) over top-3 = ln8+ln4+ln2 = 6 ln2
    assert r["x_tail"] == 2.0
    assert r["hill_alpha"] == round(3.0 / (6.0 * math.log(2)), 6)
    # degenerate: all equal -> null
    same = spark.createDataFrame([(3.0,)] * 6, "v double")
    assert hill_tail_index(same, "v", k=4).first()["hill_alpha"] is None


def test_label_noise_flags_confident_wrong(spark):
    from stackstac_spark.operators.mlfit import label_noise_flags

    # 1-labeled rows score high (t_hi ~ 0.9), 0-labeled low (t_lo ~ 0.9)
    # except one mislabeled row each way
    rows = (
        [(i, 0.9, 1) for i in range(10)]
        + [(100 + i, 0.1, 0) for i in range(10)]
        + [(500, 0.95, 0), (501, 0.05, 1)]  # confidently mislabeled
    )
    df = spark.createDataFrame(rows, "id long, p double, y int")
    out = {r["id"]: r for r in label_noise_flags(df, "p", "y").collect()}
    assert out[500]["flagged"] and out[501]["flagged"]
    assert out[0]["flagged"] is False and out[100]["flagged"] is False
    assert out[500]["noise_margin"] > 0
    assert out[0]["noise_margin"] == 0.0


def test_sax_symbols_known_series(spark):
    from stackstac_spark.operators.timeseries import sax_symbols

    # ramp 0..15: z-normalized, 4 segments of 4 points -> strictly
    # increasing PAA -> letters a, b, c, d
    rows = [("u", t, float(t)) for t in range(16)]
    df = spark.createDataFrame(rows, "k string, t int, v double")
    out = sax_symbols(df, word_len=4, t_col="t", value_col="v", keys=["k"]).collect()
    assert [r["seg"] for r in out] == [0, 1, 2, 3]
    assert [r["n_pts"] for r in out] == [4, 4, 4, 4]
    paas = [r["paa"] for r in out]
    assert paas == sorted(paas) and paas[0] < 0 < paas[-1]
    assert [r["symbol"] for r in out] == ["a", "b", "c", "d"]
    # constant series -> z = 0 -> middle letter everywhere
    const = spark.createDataFrame(
        [("c", t, 5.0) for t in range(8)], "k string, t int, v double"
    )
    sym = {r["seg"]: r["symbol"] for r in sax_symbols(const, 4, "t", "v", ["k"]).collect()}
    assert set(sym.values()) == {"c"}  # paa = 0.0 -> third letter of abcd


def test_calibration_error_known_values(spark):
    from stackstac_spark.operators.evalmetrics import calibration_error

    # two bins: p=0.2 with 25% positives, p=0.8 with 75% positives
    rows = [(0.2, 1.0)] * 1 + [(0.2, 0.0)] * 3 + [(0.8, 1.0)] * 3 + [(0.8, 0.0)] * 1
    df = spark.createDataFrame(rows, "p double, y double")
    r = calibration_error(df, "p", "y", bins=10).first()
    assert r["n"] == 8
    # each bin gap = |0.25-0.2| = |0.75-0.8| = 0.05
    assert r["ece"] == 0.05 and r["mce"] == 0.05
    # brier = mean over (p-y)^2: (0.64 + 3*0.04 + 3*0.04 + 0.64)/8
    assert r["brier"] == round((0.64 + 0.04 * 3 + 0.04 * 3 + 0.64) / 8, 6)
    # perfectly calibrated degenerate case: p == y exactly
    perf = spark.createDataFrame([(1.0, 1.0), (0.0, 0.0)], "p double, y double")
    r2 = calibration_error(perf, "p", "y").first()
    assert r2["brier"] == 0.0 and r2["ece"] == 0.0 and r2["mce"] == 0.0


def test_split_leakage_audit_semantics(spark):
    from stackstac_spark.operators.sampling import split_leakage_audit

    rows = [
        # group A: clean time split (train all before test)
        ("A", 1, "train"), ("A", 2, "train"), ("A", 5, "test"),
        # group B: leaked (train ts 9 past test ts 5)
        ("B", 9, "train"), ("B", 5, "test"),
        # group C: train-only -> excluded
        ("C", 3, "train"),
        # boundary: equal timestamps count as leaked
        ("D", 4, "train"), ("D", 4, "test"),
    ]
    df = spark.createDataFrame(rows, "g string, ts long, split string")
    out = {r["g"]: r for r in split_leakage_audit(df, "g", "ts").collect()}
    assert set(out) == {"A", "B", "D"}
    assert out["A"]["leaked"] is False and out["A"]["n_train"] == 2
    assert out["B"]["leaked"] is True
    assert out["D"]["leaked"] is True  # boundary inclusive
    # a proper time-based split drives the leaked count to zero
    assert sum(r["leaked"] for r in out.values() if r["g"] == "A") == 0


def test_effective_sample_size_known_values(spark):
    from stackstac_spark.operators.sampling import effective_sample_size

    # equal weights -> ESS = n; one dominant weight -> ESS ~ 1
    eq = spark.createDataFrame([("g", 2.0)] * 10, "g string, w double")
    r = effective_sample_size(eq, "w", ["g"]).first()
    assert r["ess"] == 10.0 and r["ess_ratio"] == 1.0
    dom = spark.createDataFrame(
        [("g", 1000.0)] + [("g", 0.001)] * 9, "g string, w double"
    )
    r = effective_sample_size(dom, "w", ["g"]).first()
    assert r["ess"] < 1.1
    # null/NaN/negative weights are excluded from BOTH sums and n
    dirty = spark.createDataFrame(
        [("g", 2.0)] * 10 + [("g", None), ("g", float("nan")), ("g", -5.0)],
        "g string, w double",
    )
    r = effective_sample_size(dirty, "w", ["g"]).first()
    assert r["n"] == 10 and r["ess"] == 10.0
