"""Probabilistic record linkage (entity resolution) — Fellegi & Sunter 1969.

The missing relative of the dedup family: near-duplicate detection over
STRUCTURED records instead of text. Candidate pairs come from BLOCKING
(equi-join on coarse keys — the only thing standing between linkage and an
O(N²) cross join at 100 TB); each pair gets a log-likelihood match score
Σ_f w_f where the field weight is ln(m_f/u_f) on agreement and
ln((1−m_f)/(1−u_f)) on disagreement. m_f (P(agree | true match)) is a
supplied prior; u_f (P(agree | random pair)) is ESTIMATED FROM THE DATA as
the exact collision probability Σ_v n_v(n_v−1) / (N(N−1)) — an integer
computation an external engine replays bit-for-bit, which keeps the whole
scorer value-checkable.

Scale shape: u-estimation is one value-keyed count per field (map-side
combined); blocking is a self-equi-join on the block key (shuffle keyed on
the block — skewed blocks respond to AQE or a salted block key); scoring is
pure per-row arithmetic on the pair stream. Nothing is driver-sized except
the F field weights.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

__all__ = [
    "field_u_probabilities",
    "linkage_score",
    "fellegi_sunter_train",
    "fellegi_sunter_score",
    "blocked_pairs",
    "edit_distance_pairs",
    "jaro_winkler",
    "jaro_winkler_bound",
    "jaro_winkler_pairs",
    "blocking_eval",
]


def field_u_probabilities(df: DataFrame, fields: list[str]) -> dict[str, float]:
    """Exact random-pair agreement probability per field:
    u = Σ_v n_v(n_v−1) / (N(N−1)) over non-null values (unordered pairs
    cancel the factor 2). One grouped count per field; returns plain
    floats for embedding into the scorer (driver-sized: one double per
    field)."""
    n = df.count()
    if n < 2:
        raise ValueError(f"need >= 2 records to estimate u, got {n}")
    out = {}
    for f in fields:
        agg = (
            df.filter(F.col(f).isNotNull())
            .groupBy(f)
            .agg(F.count(F.lit(1)).alias("c"))
            .agg(F.sum(F.expr("c * (c - 1)")).alias("s"))
            .collect()[0]["s"]
        )
        out[f] = float(agg or 0) / float(n * (n - 1))
    return out


def linkage_score(
    df: DataFrame,
    id_col: str,
    block_cols: list[str],
    field_m: dict[str, float],
    round_to: int = 4,
) -> DataFrame:
    """Score blocked candidate pairs with Fellegi-Sunter log-likelihood
    weights. ``field_m`` maps field column → m prior (P(agree | match));
    u per field is estimated from ``df`` via
    :func:`field_u_probabilities`. Returns
    (id_a, id_b, agree_<field>..., score) for every within-block pair
    with id_a < id_b; callers threshold or top-k downstream.

    Fields where u ∈ {0, 1} are degenerate (always/never agreeing) and
    rejected — their weights would be ±inf.
    """
    import math

    fields = list(field_m)
    u = field_u_probabilities(df, fields)
    for f in fields:
        if not 0.0 < u[f] < 1.0:
            raise ValueError(
                f"field {f!r} has degenerate u={u[f]} (constant or all-"
                f"distinct column) — drop it or fix the field definition"
            )
        if not 0.0 < field_m[f] < 1.0:
            raise ValueError(f"m for field {f!r} must be in (0,1), got {field_m[f]}")
    a = df.select(
        F.col(id_col).alias("id_a"),
        *[F.col(c).alias(f"ba_{c}") for c in block_cols],
        *[F.col(f).alias(f"fa_{f}") for f in fields],
    )
    b = df.select(
        F.col(id_col).alias("id_b"),
        *[F.col(c).alias(f"bb_{c}") for c in block_cols],
        *[F.col(f).alias(f"fb_{f}") for f in fields],
    )
    cond = [F.col(f"ba_{c}") == F.col(f"bb_{c}") for c in block_cols]
    pairs = a.join(b, cond).filter(F.col("id_a") < F.col("id_b"))
    score = F.lit(0.0)
    outs = []
    for f in fields:
        agree = F.col(f"fa_{f}").eqNullSafe(F.col(f"fb_{f}"))
        w_a = math.log(field_m[f] / u[f])
        w_d = math.log((1.0 - field_m[f]) / (1.0 - u[f]))
        score = score + F.when(agree, F.lit(w_a)).otherwise(F.lit(w_d))
        outs.append(agree.alias(f"agree_{f}"))
    return pairs.select(
        "id_a", "id_b", *outs, F.round(score, round_to).alias("score")
    )


def fellegi_sunter_train(
    labeled_pairs: DataFrame,
    agreement_cols: list[str],
    label_col: str = "is_match",
    laplace: float = 0.5,
    round_to: int = 6,
) -> DataFrame:
    """Supervised Fellegi-Sunter parameter estimation (Fellegi & Sunter
    1969 §3; the labeled-data alternative to the EM fit): from candidate
    pairs carrying boolean agreement columns and a match label, estimate
    per field

        m = P(agree | match)        u = P(agree | non-match)

    with Laplace smoothing (``laplace`` pseudo-counts on both sides, so a
    field that always/never agrees in the sample still yields finite
    weights), and emit the log2 agreement / disagreement weights the FS
    decision rule sums:

        w_agree = log2(m/u)         w_disagree = log2((1−m)/(1−u))

    NULL agreement values (comparisons over missing fields) count as
    disagreement on both sides — the conservative FS convention; encode
    "missing" as its own boolean upstream if you need a third state.

    Returns one row per field: (field, m, u, w_agree, w_disagree). Plan:
    the pairs unpivot to (field, agree, label) via ``stack`` (map-only)
    and ONE grouped aggregate computes both conditional means — no
    per-field scan loop, output is F rows (driver-sized by definition).
    Complements :func:`linkage_score`, which takes m as a prior and
    estimates u from record-level value frequencies.
    """
    if not agreement_cols:
        raise ValueError("agreement_cols must be non-empty")
    if laplace <= 0:
        raise ValueError(f"laplace must be positive, got {laplace}")
    n_f = len(agreement_cols)
    stack_expr = "stack({}, {}) AS (field, agree)".format(
        n_f, ", ".join(f"'{c}', {c}" for c in agreement_cols)
    )
    long = labeled_pairs.select(
        F.col(label_col).cast("boolean").alias("__match"), F.expr(stack_expr)
    )
    lap = float(laplace)
    est = long.groupBy("field").agg(
        (
            (F.sum(F.when(F.col("__match") & F.col("agree"), 1).otherwise(0)) + lap)
            / (F.sum(F.when(F.col("__match"), 1).otherwise(0)) + 2 * lap)
        ).alias("m"),
        (
            (F.sum(F.when(~F.col("__match") & F.col("agree"), 1).otherwise(0)) + lap)
            / (F.sum(F.when(~F.col("__match"), 1).otherwise(0)) + 2 * lap)
        ).alias("u"),
    )
    log2 = F.lit(math.log(2.0))
    return est.select(
        "field",
        F.round("m", round_to).alias("m"),
        F.round("u", round_to).alias("u"),
        F.round(F.log(F.col("m") / F.col("u")) / log2, round_to).alias("w_agree"),
        F.round(
            F.log((1.0 - F.col("m")) / (1.0 - F.col("u"))) / log2, round_to
        ).alias("w_disagree"),
    )


def fellegi_sunter_score(
    pairs: DataFrame,
    weights: DataFrame,
    agreement_cols: list[str],
    id_cols: tuple[str, str] = ("id_a", "id_b"),
    round_to: int = 4,
) -> DataFrame:
    """Score candidate pairs with a trained FS weights table
    (:func:`fellegi_sunter_train` output): score = Σ_field (w_agree if
    the pair agrees on the field else w_disagree).

    Plan: unpivot the pairs to (ids, field, agree) with ``stack``, ONE
    broadcast hash join against the weights table (F rows — always
    broadcastable), and one sum per pair. The pair stream is never
    widened beyond F rows per pair and never shuffled except for the
    final per-pair aggregate, which AQE coalesces.
    """
    ia, ib = id_cols
    n_f = len(agreement_cols)
    stack_expr = "stack({}, {}) AS (field, agree)".format(
        n_f, ", ".join(f"'{c}', {c}" for c in agreement_cols)
    )
    long = pairs.select(F.col(ia), F.col(ib), F.expr(stack_expr))
    w = F.when(F.col("agree"), F.col("w_agree")).otherwise(F.col("w_disagree"))
    return (
        long.join(F.broadcast(weights.select("field", "w_agree", "w_disagree")), "field")
        .groupBy(ia, ib)
        .agg(F.round(F.sum(w), round_to).alias("score"))
    )


def blocked_pairs(
    df: DataFrame,
    block_cols: list[str],
    id_col: str,
    payload_cols: list[str],
    max_block: int | None = 100_000,
    auto_subblock: int | None = None,
) -> DataFrame:
    """Within-block unordered candidate pairs (id_a < id_b): the standard
    blocking step shared by every fuzzy matcher below. An equi-join on the
    block key — the ONLY thing standing between string comparison and an
    O(N²) cross join.

    ``max_block`` fails fast when one block holds more rows than the
    bound (its pair count is quadratic in that block — one hot
    (brand, first-word) block at 100 TB would own a near-cross-join with
    no diagnostic otherwise) — the same guard policy as
    ``minhash_lsh_candidates``'s ``max_bucket`` and ``grid_cluster``'s
    ``max_cell_count``: the right response to a pathological block is a
    finer blocking key, not letting one task go quadratic. The check is
    one groupBy-count over the block keys, run before pair enumeration;
    the returned plan for in-bound inputs is unchanged.

    ``auto_subblock=w`` is the escape hatch: instead of raising,
    oversized blocks are sorted-neighborhood-capped — rows in such a
    block are sorted by the first payload column and only pairs within
    window ``w`` of each other are emitted (Hernández & Stolfo 1995),
    bounding an oversized block's pairs at ``n·(w-1)`` instead of
    ``n²/2``. Normal blocks keep exact all-pairs semantics; the windowed
    join is banded (⌊rn/w⌋ buckets, each row probing its own and the
    next band) so no task sees the whole hot block.
    """
    if max_block is not None:
        # the guard below runs an eager job anyway — materialize the
        # record stream first so the guard scan and BOTH join sides read
        # one evaluation of the caller's upstream projection (per-record
        # bound ingredients, repartition) instead of three (optimization
        # r12, the _per_score_counts pattern)
        df = df.localCheckpoint(eager=False)
    a = df.select(
        *block_cols,
        F.col(id_col).alias("id_a"),
        *[F.col(c).alias(f"{c}_a") for c in payload_cols],
    )
    b = df.select(
        *block_cols,
        F.col(id_col).alias("id_b"),
        *[F.col(c).alias(f"{c}_b") for c in payload_cols],
    )
    if max_block is None:
        return a.join(b, block_cols).filter(F.col("id_a") < F.col("id_b"))
    sizes = df.groupBy(*block_cols).agg(F.count(F.lit(1)).alias("__bn"))
    if auto_subblock is None:
        worst = sizes.agg(F.max("__bn").alias("m")).first()
        if worst["m"] is not None and worst["m"] > max_block:
            raise ValueError(
                f"a block holds {worst['m']} rows (> max_block={max_block}); "
                f"its pair join is quadratic — use finer block_cols, raise "
                f"max_block, or pass auto_subblock=w to sorted-neighborhood-"
                f"cap oversized blocks"
            )
        return a.join(b, block_cols).filter(F.col("id_a") < F.col("id_b"))
    if auto_subblock < 2:
        raise ValueError(f"auto_subblock must be >= 2, got {auto_subblock}")
    big = sizes.filter(F.col("__bn") > max_block).select(*block_cols)
    a_ok = a.join(F.broadcast(big), block_cols, "left_anti")
    b_ok = b.join(F.broadcast(big), block_cols, "left_anti")
    exact = a_ok.join(b_ok, block_cols).filter(F.col("id_a") < F.col("id_b"))
    # sorted-neighborhood inside oversized blocks: rank rows by the first
    # payload column (id tiebreak), band by ⌊rn/w⌋; each left row probes
    # its own and the following band — covers every |rn_a-rn_b| < w pair
    # exactly once after the rn filter, with per-task fan-in ≤ 2w rows.
    sort_key = f"{payload_cols[0]}_a" if payload_cols else "id_a"
    w_rn = Window.partitionBy(*block_cols).orderBy(F.col(sort_key), F.col("id_a"))
    ranked = (
        a.join(F.broadcast(big), block_cols, "left_semi")
        .withColumn("__rn", F.row_number().over(w_rn))
    )
    wnd = int(auto_subblock)
    left = ranked.withColumn(
        "__band", F.explode(
            F.array(
                (F.col("__rn") / wnd).cast("long"),
                (F.col("__rn") / wnd).cast("long") + 1,
            )
        )
    )
    right = ranked.select(
        *block_cols,
        (F.col("__rn") / wnd).cast("long").alias("__band"),
        F.col("__rn").alias("__rn_b"),
        F.col("id_a").alias("id_b"),
        *[
            F.col(f"{c}_a").alias(f"{c}_b")
            for c in payload_cols
        ],
    )
    capped = (
        left.join(right, [*block_cols, "__band"])
        .filter(
            (F.col("__rn_b") > F.col("__rn"))
            & (F.col("__rn_b") - F.col("__rn") < wnd)
        )
        # re-orient to id_a < id_b: sorted-neighborhood pairs are unordered
        .select(
            *block_cols,
            F.when(F.col("id_a") < F.col("id_b"), F.col("id_a"))
            .otherwise(F.col("id_b"))
            .alias("id_a"),
            F.when(F.col("id_a") < F.col("id_b"), F.col("id_b"))
            .otherwise(F.col("id_a"))
            .alias("id_b"),
            *[
                F.when(
                    F.col("id_a") < F.col("id_b"), F.col(f"{c}_a")
                ).otherwise(F.col(f"{c}_b")).alias(f"{c}_a")
                for c in payload_cols
            ],
            *[
                F.when(
                    F.col("id_a") < F.col("id_b"), F.col(f"{c}_b")
                ).otherwise(F.col(f"{c}_a")).alias(f"{c}_b")
                for c in payload_cols
            ],
        )
    )
    return exact.unionByName(capped.select(*exact.columns))


def edit_distance_pairs(
    df: DataFrame,
    string_col: str,
    block_cols: list[str],
    id_col: str,
    max_distance: int = 10,
    prefix_len: int | None = None,
    max_block: int | None = 100_000,
    auto_subblock: int | None = None,
) -> DataFrame:
    """Levenshtein fuzzy join: within-block pairs with edit distance ≤
    ``max_distance`` on ``string_col`` (optionally truncated to
    ``prefix_len`` chars to bound the O(len²) DP). Uses Catalyst's
    built-in ``levenshtein`` — JVM-side, whole-stage-codegen'd; no Python
    in the pair stream. ``max_block`` / ``auto_subblock`` pass through to
    :func:`blocked_pairs` (hot-block fail-fast / sorted-neighborhood
    cap)."""
    work = df
    if prefix_len is not None:
        work = df.withColumn(string_col, F.substring(F.col(string_col), 1, prefix_len))
    sa, sb = f"{string_col}_a", f"{string_col}_b"
    if auto_subblock is not None:
        # sorted-neighborhood capping changes which ID pairs exist, so it
        # stays on the id-level pair stream; distinct-pair scoring intact.
        pairs = blocked_pairs(
            work, block_cols, id_col, [string_col],
            max_block=max_block, auto_subblock=auto_subblock,
        )
        uniq = pairs.select(sa, sb).distinct()
        scored = uniq.withColumn(
            "distance", F.levenshtein(F.col(sa), F.col(sb))
        ).filter(F.col("distance") <= max_distance)
        return pairs.join(scored, [sa, sb])
    # Optimization r13 (guide §8: decide with small rows, move ids once).
    # The r9 shape scored DISTINCT string pairs but still materialized the
    # full id-level pair stream twice (the block self-join ran once for the
    # pair stream and once under the distinct) and the optimizer pushed the
    # levenshtein filter below the distinct, scoring every RAW pair
    # (sf0.1: 999,806 raw pairs for 512 distinct name pairs). Restructure:
    # group ids per (block, name) ONCE, self-join at the NAME level (the
    # tiny side — duplicate-heavy corpora collapse ~2000x here), score each
    # unordered name pair exactly once, and explode the id lists straight
    # into the output. The id-level pair stream is never materialized; the
    # only quadratic term left is the OUTPUT itself. Identical rows: every
    # unordered id pair {x, y} of one block appears exactly once — via its
    # unordered name pair (na < nb, any id order, emitted as
    # least/greatest) or its within-name list (na = nb, x < y).
    if max_block is not None:
        work = work.localCheckpoint(eager=False)
        worst = (
            work.groupBy(*block_cols)
            .agg(F.count(F.lit(1)).alias("__bn"))
            .agg(F.max("__bn").alias("m"))
            .first()
        )
        if worst["m"] is not None and worst["m"] > max_block:
            raise ValueError(
                f"a block holds {worst['m']} rows (> max_block={max_block}); "
                f"its pair join is quadratic — use finer block_cols, raise "
                f"max_block, or pass auto_subblock=w to sorted-neighborhood-"
                f"cap oversized blocks"
            )
    grp = work.groupBy(*block_cols, string_col).agg(
        F.collect_list(F.col(id_col)).alias("__ids")
    )
    ga = grp.select(
        *block_cols,
        F.col(string_col).alias(sa),
        F.col("__ids").alias("__ids_a"),
    )
    gb = grp.select(
        *[F.col(c).alias(f"{c}__b") for c in block_cols],
        F.col(string_col).alias(sb),
        F.col("__ids").alias("__ids_b"),
    )
    cond = [F.col(c) == F.col(f"{c}__b") for c in block_cols] + [
        F.col(sa) <= F.col(sb)
    ]
    scored = (
        ga.join(gb, cond)
        .withColumn("distance", F.levenshtein(F.col(sa), F.col(sb)))
        .filter(F.col("distance") <= max_distance)
    )
    exploded = (
        scored.select(
            sa, sb, *block_cols, "__ids_a", "__ids_b", "distance"
        )
        .withColumn("__x", F.explode("__ids_a"))
        .withColumn("__y", F.explode("__ids_b"))
        .filter(
            ((F.col(sa) < F.col(sb)) & (F.col("__x") != F.col("__y")))
            | (F.col("__x") < F.col("__y"))
        )
    )
    # id_a is the smaller id; its NAME must stay attached to it (the old
    # pair stream carried name(id_a), not min(name)) — swap names back
    # where the id order crosses the name order
    swap = (F.col(sa) < F.col(sb)) & (F.col("__x") > F.col("__y"))
    return exploded.select(
        F.when(swap, F.col(sb)).otherwise(F.col(sa)).alias(sa),
        F.when(swap, F.col(sa)).otherwise(F.col(sb)).alias(sb),
        *block_cols,
        F.least("__x", "__y").alias("id_a"),
        F.greatest("__x", "__y").alias("id_b"),
        "distance",
    )


def _jaro(a: str, b: str) -> float:
    """Classic Jaro similarity (Jaro 1989): match window
    ⌊max(|a|,|b|)/2⌋−1, transpositions = half the out-of-order matches.
    Empty-string convention follows DuckDB's jaro_similarity: 0.0."""
    la, lb = len(a), len(b)
    if la == 0 or lb == 0:
        return 0.0
    if a == b:
        return 1.0
    window = max(la, lb) // 2 - 1
    if window < 0:
        window = 0
    a_match = [False] * la
    b_match = [False] * lb
    m = 0
    for i in range(la):
        lo, hi = max(0, i - window), min(lb, i + window + 1)
        for j in range(lo, hi):
            if not b_match[j] and b[j] == a[i]:
                a_match[i] = True
                b_match[j] = True
                m += 1
                break
    if m == 0:
        return 0.0
    t = 0
    j = 0
    for i in range(la):
        if a_match[i]:
            while not b_match[j]:
                j += 1
            if a[i] != b[j]:
                t += 1
            j += 1
    t //= 2
    return (m / la + m / lb + (m - t) / m) / 3.0


def jaro_winkler(a: str, b: str, p: float = 0.1, boost_threshold: float = 0.7) -> float:
    """Jaro-Winkler similarity (Winkler 1990): the Jaro score boosted by
    l·p·(1−jaro) for a common prefix of l ≤ 4 chars, applied only when
    jaro > ``boost_threshold``. Semantics verified cell-for-cell against
    DuckDB's ``jaro_winkler_similarity`` (tests/test_round8_ops.py), which
    is what the oracle gate replays."""
    j = _jaro(a, b)
    if j > boost_threshold:
        l = 0
        for ca, cb in zip(a[:4], b[:4]):
            if ca != cb:
                break
            l += 1
        j += l * p * (1.0 - j)
    return j


# character buckets for the JW prefilter bound: 26 lowercase letters +
# space (the hot-path alphabet) with a catch-all "other" bucket. ANY
# partition of the char space yields a sound bound (see below); a finer
# one is merely tighter.
_JW_BOUND_ALPHABET = "abcdefghijklmnopqrstuvwxyz "


def _jw_count_exprs(s) -> list:
    """Per-bucket character counts of a string column — one
    ``length(s) − length(replace(s, ch))`` per alphabet bucket, all
    whole-stage-codegen string ops. Computed ONCE per record (pre-join)
    by :func:`jaro_winkler_pairs`, so the per-pair bound is O(alphabet)
    integer arithmetic."""
    return [
        F.length(s) - F.length(F.replace(s, F.lit(ch), F.lit("")))
        for ch in _JW_BOUND_ALPHABET
    ]


def _jw_bound_from_counts(la, lb, arr_a, arr_b, sum_a, sum_b, pre_a, pre_b):
    """Shared bound assembly from precomputed pieces (lengths, bucket-count
    ARRAYS, known-bucket sums, 4-char prefixes). The counts travel as one
    array column per side so the pair-level expression stays SMALL — a
    two-lambda aggregate over 27 elements — instead of 27 scalar columns
    whose least()-chain balloons the join condition into an interpreted
    megatree (measured 30 s+ at 1M pairs; this shape is sub-second). See
    :func:`jaro_winkler_bound` for the soundness argument."""
    i_known = F.aggregate(
        F.zip_with(arr_a, arr_b, lambda x, y: F.least(x, y)),
        F.lit(0),
        lambda acc, x: acc + x,
    )
    cap = i_known + F.least(la - sum_a, lb - sum_b)
    m_hat = F.greatest(F.least(cap, la, lb), F.lit(0))
    j_ub = F.when((la == 0) | (lb == 0), F.lit(0.0)).otherwise(
        (m_hat.cast("double") / la + m_hat.cast("double") / lb + F.lit(1.0))
        / F.lit(3.0)
    )
    l = (
        F.when(F.substring(pre_a, 1, 4) == F.substring(pre_b, 1, 4), F.lit(4))
        .when(F.substring(pre_a, 1, 3) == F.substring(pre_b, 1, 3), F.lit(3))
        .when(F.substring(pre_a, 1, 2) == F.substring(pre_b, 1, 2), F.lit(2))
        .when(F.substring(pre_a, 1, 1) == F.substring(pre_b, 1, 1), F.lit(1))
        .otherwise(F.lit(0))
    )
    return F.when(
        j_ub > 0.7, j_ub + l.cast("double") * F.lit(0.1) * (F.lit(1.0) - j_ub)
    ).otherwise(j_ub)


def jaro_winkler_bound(a, b):
    """Provable JVM-side UPPER bound on jaro_winkler(a, b), as a Catalyst
    expression over two string columns — the prune-only prefilter that
    cuts the blocked pair stream before any Python scoring runs.

    Soundness chain (every matched pair survives, guaranteed):

    - Jaro matches pair EQUAL characters with distinct positions, so the
      match count is bounded by the character-MULTISET intersection:
      m ≤ Σ_v min(cnt_a(v), cnt_b(v)). Bucketing values (26 letters +
      space + "other") only loosens it — for a bucket g,
      Σ_{v∈g} min(a_v, b_v) ≤ min(Σ a_v, Σ b_v) — so the bucketed sum
      stays an upper bound for ANY input alphabet. m ≤ min(|a|, |b|) is
      taken alongside.
    - transpositions ≥ 0 ⇒ jaro ≤ (m̂/|a| + m̂/|b| + 1)/3.
    - The Winkler boost j + l·p·(1−j) applies only when j > 0.7 and is
      increasing in BOTH j (1 − 0.1l > 0) and l; l never exceeds the
      common-4-prefix length from substring equality (over-counting l
      for sub-4-length equal strings only raises the bound). The
      piecewise envelope g(j) = j for j ≤ 0.7 else j + l·0.1·(1−j) is
      monotone, so jw(a,b) ≤ g(upper(j)).

    Empty strings follow the jaro convention (score 0) but the bound
    degrades gracefully (never below the true value). Property-tested
    against the scalar scorer (Hypothesis: bound ≥ jw on arbitrary
    strings, including non-alphabet chars exercising the "other"
    bucket). Cost: O(alphabet) string replaces + integer arithmetic, all
    inside whole-stage codegen — no higher-order functions, no Python.
    """
    cnt_a, cnt_b = _jw_count_exprs(a), _jw_count_exprs(b)
    return _jw_bound_from_counts(
        F.length(a),
        F.length(b),
        F.array(*cnt_a),
        F.array(*cnt_b),
        sum(cnt_a[1:], cnt_a[0]),
        sum(cnt_b[1:], cnt_b[0]),
        a,
        b,
    )


def _jw_bound_py(a: str, b: str) -> float:
    """Pure-Python mirror of :func:`jaro_winkler_bound` — the reference
    the Hypothesis soundness test checks ``jaro_winkler(a,b) ≤ bound``
    against, and a Spark test pins column-vs-python equality, chaining
    the property to the Catalyst expression."""
    la, lb = len(a), len(b)
    if la == 0 or lb == 0:
        j_ub = 0.0
    else:
        cnt_a = [a.count(ch) for ch in _JW_BOUND_ALPHABET]
        cnt_b = [b.count(ch) for ch in _JW_BOUND_ALPHABET]
        cap = sum(min(x, y) for x, y in zip(cnt_a, cnt_b))
        cap += min(la - sum(cnt_a), lb - sum(cnt_b))
        m_hat = max(min(cap, la, lb), 0)
        j_ub = (m_hat / la + m_hat / lb + 1.0) / 3.0
    for k in (4, 3, 2, 1):
        if a[:k] == b[:k]:
            l = k
            break
    else:
        l = 0
    return j_ub + l * 0.1 * (1.0 - j_ub) if j_ub > 0.7 else j_ub


def _jw_batch(sa, sb):
    """Vectorized Jaro-Winkler over two aligned string sequences → numpy
    double array. Same greedy window-match + half-transposition semantics
    as :func:`jaro_winkler` (equality pinned by a Hypothesis test), but
    the per-character loops run as numpy row-parallel sweeps: one
    O(Lmax) loop of vectorized (N × Lmax) masks instead of a Python char
    loop per pair — the ~50× constant that keeps Python viable on the
    surviving pair stream."""
    import numpy as np

    n = len(sa)
    if n == 0:
        return np.zeros(0, dtype=np.float64)
    sa = ["" if x is None else x for x in sa]
    sb = ["" if x is None else x for x in sb]
    la = np.fromiter((len(x) for x in sa), dtype=np.int64, count=n)
    lb = np.fromiter((len(x) for x in sb), dtype=np.int64, count=n)
    La, Lb = int(la.max()), int(lb.max())
    if La == 0 or Lb == 0:
        return np.zeros(n, dtype=np.float64)
    A = np.zeros((n, La), dtype=np.uint32)
    B = np.zeros((n, Lb), dtype=np.uint32)
    for i, x in enumerate(sa):
        if x:
            A[i, : la[i]] = np.frombuffer(x.encode("utf-32-le"), dtype=np.uint32)
    for i, x in enumerate(sb):
        if x:
            B[i, : lb[i]] = np.frombuffer(x.encode("utf-32-le"), dtype=np.uint32)
    window = np.maximum(np.maximum(la, lb) // 2 - 1, 0)
    jpos = np.arange(Lb)[None, :]
    a_matched = np.zeros((n, La), dtype=bool)
    b_matched = np.zeros((n, Lb), dtype=bool)
    for i in range(La):
        active = i < la
        lo = np.maximum(0, i - window)[:, None]
        hi = np.minimum(lb, i + window + 1)[:, None]
        eq = (
            (B == A[:, i][:, None])
            & (jpos >= lo)
            & (jpos < hi)
            & ~b_matched
            & active[:, None]
        )
        has = eq.any(axis=1)
        j = eq.argmax(axis=1)
        rows = np.where(has)[0]
        b_matched[rows, j[rows]] = True
        a_matched[rows, i] = True
    m = a_matched.sum(axis=1)
    Mmax = int(m.max()) if n else 0
    t = np.zeros(n, dtype=np.int64)
    if Mmax > 0:
        Ma = np.zeros((n, Mmax), dtype=np.uint32)
        Mb = np.zeros((n, Mmax), dtype=np.uint32)
        ra = np.cumsum(a_matched, axis=1) - 1
        rb = np.cumsum(b_matched, axis=1) - 1
        ri, ci = np.where(a_matched)
        Ma[ri, ra[ri, ci]] = A[ri, ci]
        ri, ci = np.where(b_matched)
        Mb[ri, rb[ri, ci]] = B[ri, ci]
        valid = np.arange(Mmax)[None, :] < m[:, None]
        t = ((Ma != Mb) & valid).sum(axis=1) // 2
    with np.errstate(divide="ignore", invalid="ignore"):
        j_score = np.where(
            (m > 0) & (la > 0) & (lb > 0),
            (m / np.maximum(la, 1) + m / np.maximum(lb, 1) + (m - t) / np.maximum(m, 1))
            / 3.0,
            0.0,
        )
    pmax = min(4, La, Lb)
    if pmax > 0:
        common = (A[:, :pmax] == B[:, :pmax]) & (
            np.arange(pmax)[None, :] < np.minimum(la, lb)[:, None]
        )
        l = np.cumprod(common, axis=1).sum(axis=1)
    else:
        l = np.zeros(n, dtype=np.int64)
    return np.where(j_score > 0.7, j_score + l * 0.1 * (1.0 - j_score), j_score)


def jaro_winkler_pairs(
    df: DataFrame,
    string_col: str,
    block_cols: list[str],
    id_col: str,
    threshold: float = 0.8,
    round_to: int = 6,
    max_block: int | None = 100_000,
    auto_subblock: int | None = None,
) -> DataFrame:
    """Jaro-Winkler fuzzy join: within-block pairs scoring ≥ ``threshold``.
    ``max_block`` / ``auto_subblock`` pass through to
    :func:`blocked_pairs` (hot-block fail-fast / sorted-neighborhood cap).

    Three cost tiers, each feeding the next only its survivors:

    1. **Blocking** (relational equi-join) — the O(N²) avoidance.
    2. **JVM prefilter** — :func:`jaro_winkler_bound`, a provable upper
       bound on JW from character-absence counts + exact prefix, entirely
       in Catalyst expressions: pairs whose BOUND can't reach
       ``threshold`` never reach Python (prune-only; Hypothesis-tested
       never to drop a qualifying pair). A small epsilon covers the
       final rounding step.
    3. **Vectorized scorer** — an Arrow-batched pandas UDF running
       :func:`_jw_batch` (numpy row-parallel sweeps, not per-row char
       loops) on what's left.

    At 100 TB the pair stream dominates: tiers 1-2 are whole-JVM and
    bound Python's input to near-matches only; tier 3's constant is
    numpy's, ~50× below scalar Python's."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    def _jw_fn(sa, sb):
        return pd.Series(_jw_batch(sa.tolist(), sb.tolist()))

    # set annotations at runtime: this module uses `from __future__ import
    # annotations`, which would hand pandas_udf unresolvable STRING hints
    _jw_fn.__annotations__ = {"sa": pd.Series, "sb": pd.Series, "return": pd.Series}
    _jw_udf = pandas_udf(_jw_fn, "double")

    sa_n, sb_n = f"{string_col}_a", f"{string_col}_b"
    ca, cb = F.col(sa_n), F.col(sb_n)
    if auto_subblock is not None:
        # sorted-neighborhood capping changes which ID pairs exist; keep
        # the id-level pair stream for that mode (distinct-pair scoring
        # intact).
        counts = _jw_count_exprs(F.col(string_col))
        work = df.select(
            "*",
            F.array(*counts).alias("__jwcnt"),
            sum(counts[1:], counts[0]).alias("__jwks"),
            F.length(F.col(string_col)).alias("__jwlen"),
        )
        target = df.sparkSession.sparkContext.defaultParallelism
        if work.rdd.getNumPartitions() < target:
            work = work.repartition(target)
        pairs = blocked_pairs(
            work, block_cols, id_col, [string_col, "__jwcnt", "__jwks", "__jwlen"],
            max_block=max_block, auto_subblock=auto_subblock,
        )
        uniq = pairs.select(
            sa_n, sb_n,
            "__jwcnt_a", "__jwcnt_b", "__jwks_a", "__jwks_b",
            "__jwlen_a", "__jwlen_b",
        ).dropDuplicates([sa_n, sb_n])
        bound = _jw_bound_from_counts(
            F.col("__jwlen_a"),
            F.col("__jwlen_b"),
            F.col("__jwcnt_a"),
            F.col("__jwcnt_b"),
            F.col("__jwks_a"),
            F.col("__jwks_b"),
            ca,
            cb,
        )
        scored = (
            uniq.filter(bound >= F.lit(threshold - 10.0**-round_to))
            .withColumn("jw", F.round(_jw_udf(ca, cb), round_to))
            .filter(F.col("jw") >= threshold)
            .select(sa_n, sb_n, "jw")
        )
        return pairs.join(scored, [sa_n, sb_n]).drop(
            "__jwcnt_a", "__jwcnt_b", "__jwks_a", "__jwks_b",
            "__jwlen_a", "__jwlen_b",
        )
    # Optimization r13 (guide §8 — the same restructure as
    # :func:`edit_distance_pairs`, see the long comment there): group ids
    # per (block, name) once, enumerate/bound/score at the NAME level
    # (where duplicate-heavy corpora collapse orders of magnitude), and
    # explode the id lists straight into the output. The id-level pair
    # stream — which the r9 shape materialized TWICE, with the bound
    # ingredients paid per record — is never built; bound ingredients are
    # computed once per DISTINCT (block, name); the Python scorer's input
    # is unchanged (distinct bound-surviving name pairs).
    work = df
    if max_block is not None:
        work = work.localCheckpoint(eager=False)
        worst = (
            work.groupBy(*block_cols)
            .agg(F.count(F.lit(1)).alias("__bn"))
            .agg(F.max("__bn").alias("m"))
            .first()
        )
        if worst["m"] is not None and worst["m"] > max_block:
            raise ValueError(
                f"a block holds {worst['m']} rows (> max_block={max_block}); "
                f"its pair join is quadratic — use finer block_cols, raise "
                f"max_block, or pass auto_subblock=w to sorted-neighborhood-"
                f"cap oversized blocks"
            )
    counts = _jw_count_exprs(F.col(string_col))
    grp = (
        work.groupBy(*block_cols, string_col)
        .agg(F.collect_list(F.col(id_col)).alias("__ids"))
        .select(
            "*",
            F.array(*counts).alias("__jwcnt"),
            sum(counts[1:], counts[0]).alias("__jwks"),
            F.length(F.col(string_col)).alias("__jwlen"),
        )
    )
    ga = grp.select(
        *block_cols,
        F.col(string_col).alias(sa_n),
        F.col("__ids").alias("__ids_a"),
        F.col("__jwcnt").alias("__jwcnt_a"),
        F.col("__jwks").alias("__jwks_a"),
        F.col("__jwlen").alias("__jwlen_a"),
    )
    gb = grp.select(
        *[F.col(c).alias(f"{c}__b") for c in block_cols],
        F.col(string_col).alias(sb_n),
        F.col("__ids").alias("__ids_b"),
        F.col("__jwcnt").alias("__jwcnt_b"),
        F.col("__jwks").alias("__jwks_b"),
        F.col("__jwlen").alias("__jwlen_b"),
    )
    cond = [F.col(c) == F.col(f"{c}__b") for c in block_cols] + [
        F.col(sa_n) <= F.col(sb_n)
    ]
    bound = _jw_bound_from_counts(
        F.col("__jwlen_a"),
        F.col("__jwlen_b"),
        F.col("__jwcnt_a"),
        F.col("__jwcnt_b"),
        F.col("__jwks_a"),
        F.col("__jwks_b"),
        ca,
        cb,
    )
    scored = (
        ga.join(gb, cond)
        .filter(bound >= F.lit(threshold - 10.0**-round_to))
        .withColumn("jw", F.round(_jw_udf(ca, cb), round_to))
        .filter(F.col("jw") >= threshold)
    )
    exploded = (
        scored.select(sa_n, sb_n, *block_cols, "__ids_a", "__ids_b", "jw")
        .withColumn("__x", F.explode("__ids_a"))
        .withColumn("__y", F.explode("__ids_b"))
        .filter(
            ((F.col(sa_n) < F.col(sb_n)) & (F.col("__x") != F.col("__y")))
            | (F.col("__x") < F.col("__y"))
        )
    )
    # keep name(id_a) attached to id_a, as the old pair stream did
    swap = (F.col(sa_n) < F.col(sb_n)) & (F.col("__x") > F.col("__y"))
    return exploded.select(
        F.when(swap, F.col(sb_n)).otherwise(F.col(sa_n)).alias(sa_n),
        F.when(swap, F.col(sa_n)).otherwise(F.col(sb_n)).alias(sb_n),
        *block_cols,
        F.least("__x", "__y").alias("id_a"),
        F.greatest("__x", "__y").alias("id_b"),
        "jw",
    )


def blocking_eval(
    df: DataFrame,
    truth_pairs: DataFrame,
    block_cols: list[str],
    id_col: str,
    round_to: int = 6,
) -> DataFrame:
    """Blocking-strategy scorecard (the standard record-linkage evaluation
    triple, Christen 2012): one row with

    - ``reduction_ratio``  = 1 − candidates/total_pairs — how much of the
      O(N²) space the blocks remove,
    - ``completeness``     = matched/truth — the fraction of TRUE pairs
      the blocks keep reachable (pairs completeness / recall),
    - ``quality``          = matched/candidates — truth density inside
      the blocks (pairs quality / precision),

    the trade-off curve every blocking key choice moves along. Candidate
    counts come from Σ n_b(n_b−1)/2 over per-block row counts — computed
    WITHOUT enumerating a single pair, so the eval runs on corpora whose
    candidate set itself would not fit. Truth pairs are checked by
    joining each side to its block key and comparing (two equi-joins).
    ``truth_pairs`` must carry (id_a, id_b); pairs whose ids are missing
    from ``df`` count as unmatched (they ARE missed)."""
    n = df.count()
    total_pairs = n * (n - 1) // 2
    blocks = df.groupBy(*block_cols).agg(F.count(F.lit(1)).alias("nb"))
    cand = blocks.agg(
        F.sum(F.col("nb") * (F.col("nb") - 1) / 2).cast("long").alias("cand"),
        F.count(F.lit(1)).alias("n_blocks"),
    )
    from functools import reduce

    keys = df.select(F.col(id_col).alias("__id"), *block_cols)
    ta = truth_pairs.select(F.col("id_a"), F.col("id_b"))
    if not block_cols:
        raise ValueError("block_cols must be non-empty")
    same_block = reduce(
        lambda a, b: a & b,
        [F.col(c).eqNullSafe(F.col(f"__b_{c}")) for c in block_cols],
    )
    matched = (
        ta.join(keys.withColumnRenamed("__id", "id_a"), "id_a")
        .join(
            keys.select(
                F.col("__id").alias("id_b"),
                *[F.col(c).alias(f"__b_{c}") for c in block_cols],
            ),
            "id_b",
        )
        .filter(same_block)
        .count()
    )
    n_truth = ta.count()
    row = cand.first()
    from pyspark.sql import types as T

    from stackstac_spark.session import local_df

    schema = T.StructType(
        [
            T.StructField("n_blocks", T.LongType()),
            T.StructField("cand_pairs", T.LongType()),
            T.StructField("total_pairs", T.LongType()),
            T.StructField("truth_pairs", T.LongType()),
            T.StructField("matched", T.LongType()),
            T.StructField("reduction_ratio", T.DoubleType()),
            T.StructField("completeness", T.DoubleType()),
            T.StructField("quality", T.DoubleType()),
        ]
    )
    cand_n = int(row["cand"] or 0)
    return local_df(
        df.sparkSession,
        [
            (
                int(row["n_blocks"]),
                cand_n,
                int(total_pairs),
                int(n_truth),
                int(matched),
                round(1.0 - cand_n / total_pairs, round_to) if total_pairs else None,
                round(matched / n_truth, round_to) if n_truth else None,
                round(matched / cand_n, round_to) if cand_n else None,
            )
        ],
        schema,
    )
