"""Operator-level unit regressions from round-1 ADVICE."""

from __future__ import annotations

import pytest


def test_asof_join_keeps_string_ids(spark):
    """ADVICE r1: non-numeric id columns must survive asof_join in their
    native dtype (an unconditional cast to long nulled them out and inner
    mode then dropped every row)."""
    from mycenae_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [("u1", 100, "L-a"), ("u1", 200, "L-b"), ("u2", 150, "L-c")],
        "k string, ts_us long, lid string",
    )
    right = spark.createDataFrame(
        [("u1", 90, "R-x"), ("u1", 150, "R-y"), ("u2", 200, "R-z")],
        "k string, ts_us long, rid string",
    )
    out = asof_join(
        left, right, on="k", ts_col="ts_us", left_id="lid", right_id="rid"
    )
    rows = {r["left_lid"]: r["right_rid"] for r in out.collect()}
    assert rows == {"L-a": "R-x", "L-b": "R-y"}  # L-c has no prior right row
    assert dict(out.dtypes)["right_rid"] == "string"


def test_compaction_tempdirs_invisible_to_readers(spark, tmp_path):
    """ADVICE r1: in-flight compaction rewrites must not be listable as data
    or as a bogus `date=` partition."""
    import os

    from mycenae_spark.maintenance import compact_partition, list_partitions

    lake = str(tmp_path / "lake")
    df = spark.range(100).selectExpr(
        "'k1' AS ksid", "date'2024-01-05' AS date", "id AS tsid",
        "timestamp_millis(1704412800000 + id) AS ts", "cast(id as double) AS value",
    )
    for _ in range(3):
        df.write.mode("append").partitionBy("ksid", "date").parquet(lake)
    compact_partition(spark, lake, "k1", "2024-01-05")
    assert list_partitions(lake, "k1") == ["2024-01-05"]
    # no leftover non-partition dirs inside the ksid directory
    entries = os.listdir(os.path.join(lake, "ksid=k1"))
    assert all(e.startswith("date=") or e.startswith("_") or e.startswith(".")
               for e in entries)
    assert spark.read.parquet(lake).count() == 300


def test_approx_percentile_merge_error_bound(spark):
    """The 100 TB percentile path (`percentile_approx`, used by the p50/p90/
    p99 merge aggregators) is a mergeable sketch: partial sketches built per
    partition combine map-side.  Property: the guaranteed rank-error bound
    (accuracy parameter d => rank within n/d) holds REGARDLESS of how the
    data is partitioned — i.e. sketch merging does not degrade the bound."""
    import pyspark.sql.functions as F

    from tests.conftest import SF_DIR
    from mycenae_spark.sources.tables import events_as_points

    pts = events_as_points(spark, SF_DIR).select("value")
    n = pts.count()
    vals = sorted(r[0] for r in pts.collect())
    accuracy = 1000  # rank error <= n / accuracy

    for parts in (1, 7, 32):
        got = (
            pts.repartition(parts)
            .agg(
                F.percentile_approx("value", F.lit(0.9), F.lit(accuracy)).alias("p")
            )
            .collect()[0]["p"]
        )
        import bisect

        # rank window of the returned value within the sorted data
        lo = bisect.bisect_left(vals, got)
        hi = bisect.bisect_right(vals, got)
        target = 0.9 * n
        tol = n / accuracy + 1
        assert lo - tol <= target <= hi + tol, (
            f"parts={parts}: approx p90 {got} has rank [{lo},{hi}], "
            f"target {target} outside ±{tol}"
        )


def test_window_ewma_closed_form_matches_recursive(spark):
    """window_ewma's power-of-two closed form must match the textbook
    recursion s_n = a*v_n + (1-a)*s_{n-1} (a=0.5) to FP tolerance.

    NOT bit-equal to the recursion: the closed form reassociates the
    additions (T_n accumulates v_i·2^i at large magnitudes, the recursion
    halves as it goes).  The judged bit-exactness claim is CROSS-ENGINE —
    both engines evaluate the same closed form with the same coefficients
    and the same running-sum order — which tests/test_oracle.py checks;
    this test pins the semantics against the recursive definition."""
    import random

    import pyspark.sql.functions as F
    from pyspark.sql import Window

    rng = random.Random(7)
    rows = []
    for series in ("s1", "s2", "s3"):
        for i in range(rng.randint(1, 40)):
            rows.append((series, i, round(rng.uniform(-100, 100), 4)))
    df = spark.createDataFrame(rows, "series string, i int, v double")

    w = Window.partitionBy("series").orderBy("i")
    wacc = w.rowsBetween(Window.unboundedPreceding, 0)
    rn = F.row_number().over(w)
    acc = df.select(
        "series", "i", "v", rn.alias("rn"),
        F.first("v").over(w).alias("v1"),
        (F.col("v") * F.pow(F.lit(2.0), rn)).alias("u"),
    ).withColumn("tsum", F.sum("u").over(wacc))
    closed = (
        F.pow(F.lit(2.0), 1 - F.col("rn")) * F.col("v1")
        + 0.5 * F.pow(F.lit(2.0), -F.col("rn"))
        * (F.col("tsum") - 2 * F.col("v1"))
    )
    got = {
        (r["series"], r["i"]): r["e"]
        for r in acc.select("series", "i", closed.alias("e")).collect()
    }

    import math

    by_series = {}
    for series, i, v in sorted(rows):
        if series not in by_series:
            by_series[series] = v  # s_1 = v_1
        else:
            by_series[series] = 0.5 * v + 0.5 * by_series[series]
        assert math.isclose(
            got[(series, i)], by_series[series], rel_tol=1e-11, abs_tol=1e-11
        ), (series, i, got[(series, i)], by_series[series])


def test_bpe_apply_merge_adjacent_runs():
    """The replace-semantics contract (functions/bpe.py): ONE pass misses
    immediately-adjacent repeats because the matched trailing space
    consumes the next occurrence's leading space; the spec'd 3 passes
    reach the fixpoint for natural runs.  Both engines implement the same
    pass count, so this pins the Python reference."""
    from mycenae_spark.functions.bpe import apply_merge

    assert apply_merge(" a a a a ", "a a", passes=1) == " aa a a "
    assert apply_merge(" a a a a ", "a a", passes=2) == " aa aa "
    assert apply_merge(" a a a a ", "a a", passes=3) == " aa aa "
    # non-adjacent occurrences all merge in one pass
    assert apply_merge(" a a x a a ", "a a", passes=1) == " aa x aa "
    # merged symbols are atomic: 'aa a' is not ' a a '
    assert apply_merge(" aa a ", "a a", passes=3) == " aa a "


def test_bpe_learn_and_tokenize_known_corpus(spark):
    """Trainer + tokenizer on a corpus with hand-computable pair counts:
    word freqs are ab=4, abc=2, zz=1 → pair counts (a b)=6, (b c)=2,
    (z z)=1 → first merge ('a b', 6); after it 'abc' is [ab, c] → second
    merge ('ab c', 2).  Tokenizing with both merges: 'ab' → [ab],
    'abc' → [abc], 'zz' → [z, z]."""
    from mycenae_spark.functions.bpe import bpe_token_counts, learn_merges

    docs = spark.createDataFrame(
        [(0, "ab ab ab abc"), (1, "ab abc zz")],
        "doc_id long, text string",
    )
    merges = learn_merges(docs, n_merges=2)
    assert [(m[1], m[2]) for m in merges] == [("a b", 6), ("ab c", 2)]
    got = {
        r["doc_id"]: (r["n_tokens"], r["n_words"])
        for r in bpe_token_counts(docs, merges).collect()
    }
    # doc0: ab(1)+ab(1)+ab(1)+abc(1) = 4 tokens / 4 words
    # doc1: ab(1)+abc(1)+zz(2: z z unmerged) = 4 tokens / 3 words
    assert got == {0: (4, 4), 1: (4, 3)}


def test_bpe_tokenize_engine_matches_python_on_adjacent_runs(spark):
    """The JVM replace chain and the Python reference agree on the
    adversarial adjacent-run words the pass-count spec exists for."""
    from mycenae_spark.functions.bpe import (
        apply_merge,
        bpe_token_counts,
    )

    docs = spark.createDataFrame(
        [(0, "aaaa aaa aaaaaaaa")], "doc_id long, text string"
    )
    merges = [(1, "a a", 99)]
    got = {r["doc_id"]: r["n_tokens"] for r in bpe_token_counts(docs, merges).collect()}
    expect = sum(
        len(apply_merge(" " + " ".join(w) + " ", "a a").split()) 
        for w in ("aaaa", "aaa", "aaaaaaaa")
    )
    assert got == {0: expect}


def test_winnowing_guarantee_and_density(spark):
    """The winnowing GUARANTEE (Schleimer et al.): any shared passage of
    ≥ w + k − 1 = 7 tokens must share at least one selected fingerprint
    (same fph AND same gram content, since fingerprints are positioned
    hashes of identical grams); and density is far below one-per-gram
    (the 2/(w+1) expectation)."""
    from mycenae_spark.functions.text import winnow_fingerprints

    shared = [f"s{i}" for i in range(9)]  # 9-token shared passage
    rows = [
        (0, " ".join([f"a{i}" for i in range(20)] + shared)),
        (1, " ".join(shared + [f"b{i}" for i in range(20)])),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    fps = winnow_fingerprints(docs, "doc_id", "text", k=4, w=4).collect()
    by_doc = {}
    for r in fps:
        by_doc.setdefault(r["doc_id"], set()).add(r["fph"])
    # guarantee: the 9-token shared run yields at least one common hash
    assert by_doc[0] & by_doc[1]
    # density: 29-token docs have 26 grams; selections must be well
    # under one-per-gram (expected ~2/(w+1) of positions, deduped)
    for d, s in by_doc.items():
        n_rows = sum(1 for r in fps if r["doc_id"] == d)
        assert n_rows < 26, (d, n_rows)


def test_asof_join_tolerance_bound(spark):
    """merge_asof tolerance semantics: a left row whose latest-prior
    right row is beyond the bound is UNMATCHED (no fallback to older
    rows); within the bound, matching is unchanged; outer mode keeps
    the row with nulls."""
    from mycenae_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [("u", 100, "L1"), ("u", 250, "L2"), ("u", 900, "L3")],
        "k string, ts_us long, lid string",
    )
    right = spark.createDataFrame(
        [("u", 90, "R1"), ("u", 240, "R2")],
        "k string, ts_us long, rid string",
    )
    inner = {
        r["left_lid"]: r["right_rid"]
        for r in asof_join(
            left, right, on="k", ts_col="ts_us",
            left_id="lid", right_id="rid", tolerance=50,
        ).collect()
    }
    # L3's latest prior is R2 at gap 660 > 50: dropped, NOT matched to R1
    assert inner == {"L1": "R1", "L2": "R2"}
    outer = {
        r["left_lid"]: r["right_rid"]
        for r in asof_join(
            left, right, on="k", ts_col="ts_us",
            left_id="lid", right_id="rid", tolerance=50, inner=False,
        ).collect()
    }
    assert outer == {"L1": "R1", "L2": "R2", "L3": None}


# ------------------------------------------------------------------ funnel

def test_funnel_ordering_and_window_bounds(spark):
    """The funnel's ordering constraint: step k anchors on step k-1's
    MATCHED time.  A click BEFORE the first view does not convert; a
    click exactly at the window bound does; one past it does not."""
    from mycenae_spark.operators.funnel import funnel_stages

    W = 100
    rows = [
        # u1: full funnel — click at view+W (inclusive bound), purchase in window
        ("u1", "view", 1000), ("u1", "click", 1000 + W), ("u1", "purchase", 1150),
        # u2: click exists but only BEFORE the first view -> stage 1
        ("u2", "click", 500), ("u2", "view", 900),
        # u3: click one past the window -> stage 1
        ("u3", "view", 1000), ("u3", "click", 1000 + W + 1),
        # u4: no view at all (click+purchase present) -> stage 0
        ("u4", "click", 100), ("u4", "purchase", 150),
        # u5: view+click, purchase outside CLICK's window (anchors on click,
        # not view) -> stage 2
        ("u5", "view", 1000), ("u5", "click", 1010),
        ("u5", "purchase", 1010 + W + 1),
    ]
    df = spark.createDataFrame(rows, "tag_user string, metric string, ts_us long")
    out = {
        r["user_id"]: r
        for r in funnel_stages(
            df, "tag_user", "metric", "ts_us",
            ["view", "click", "purchase"], W,
        ).collect()
    }
    assert out["u1"]["stage"] == 3
    assert out["u1"]["click_us"] == 1000 + W           # inclusive bound
    assert out["u1"]["latency_ms"] == (1150 - 1000) // 1000
    assert out["u2"]["stage"] == 1 and out["u2"]["click_us"] == -1
    assert out["u3"]["stage"] == 1
    assert out["u4"]["stage"] == 0 and out["u4"]["view_us"] == -1
    assert out["u5"]["stage"] == 2 and out["u5"]["purchase_us"] == -1


def test_funnel_anchors_on_matched_step_not_earliest_event(spark):
    """Two clicks: one before the view (ignored), one after (matched) —
    the purchase window must anchor on the MATCHED click."""
    from mycenae_spark.operators.funnel import funnel_stages

    rows = [
        ("u", "click", 100),          # pre-view click: not a funnel step
        ("u", "view", 200),
        ("u", "click", 250),          # the matched click
        ("u", "purchase", 320),       # within 100 of 250, NOT of 100
    ]
    df = spark.createDataFrame(rows, "tag_user string, metric string, ts_us long")
    (r,) = funnel_stages(
        df, "tag_user", "metric", "ts_us", ["view", "click", "purchase"], 100
    ).collect()
    assert (r["stage"], r["click_us"], r["purchase_us"]) == (3, 250, 320)


# ------------------------------------------------- incremental minhash dedup

def test_incremental_dedup_verdicts_and_index_valve(spark):
    """Delta-vs-index semantics: an exact copy of a corpus doc is flagged
    with the smallest matching corpus id; a unique delta doc keeps; a
    short (< ngram) delta doc is a structural keep; and a bucket over the
    INDEX-side cap is dropped, so a delta doc matching only boilerplate
    keeps."""
    from mycenae_spark.functions.dedup import incremental_minhash_verdicts

    boiler = "the same boilerplate text repeated everywhere forever"
    corpus = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta"),
            (2, "alpha beta gamma delta epsilon zeta"),  # dup inside corpus
            (10, boiler), (11, boiler), (12, boiler),    # hot bucket (3 > cap 2)
        ],
        "doc_id long, text string",
    )
    delta = spark.createDataFrame(
        [
            (100, "alpha beta gamma delta epsilon zeta"),  # copy -> dup_of 1
            (101, "nothing like anything else at all here"),  # unique keep
            (102, "too short"),                              # < 3 tokens: keep
            (103, boiler),                                   # valve: keep
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r
        for r in incremental_minhash_verdicts(
            corpus, delta, "doc_id", "text",
            n_bands=4, max_bucket_size=2, extra_cols=(),
        ).collect()
    }
    assert out[100]["is_dup"] == 1 and out[100]["dup_of"] == 1
    assert out[101]["is_dup"] == 0 and out[101]["dup_of"] == -1
    assert out[102]["is_dup"] == 0 and out[102]["n_idx_matches"] == 0
    assert out[103]["is_dup"] == 0  # index-side valve dropped the hot bucket


@pytest.mark.parametrize(
    "bits,n_segments,max_hamming",
    [(32, 4, 3), (64, 6, 5)],  # judged grain + Manku production grain
)
def test_simhash_banding_finds_all_close_pairs(
    spark, bits, n_segments, max_hamming
):
    """Pigeonhole guarantee, verified against brute force: EVERY pair
    within the guaranteed Hamming distance must be found by the banding
    (no valve) — including at 64/6 where segments are UNEVEN (11×4+10×2)
    and bit 63 is the long's sign bit.  Run on the sf0.001 corpus."""
    from itertools import combinations

    from mycenae_spark.functions.dedup import simhash, simhash_hamming_pairs

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    sigs = {
        r["doc_id"]: r["simhash"] & ((1 << 64) - 1)  # unsigned view
        for r in simhash(docs, "doc_id", "text", bits=bits).collect()
    }
    if bits == 64:
        assert any(s >> 63 for s in sigs.values()), "sign bit never voted"
    brute = {
        (a, b)
        for a, b in combinations(sorted(sigs), 2)
        if bin(sigs[a] ^ sigs[b]).count("1") <= max_hamming
    }
    found = {
        (r["doc_a"], r["doc_b"])
        for r in simhash_hamming_pairs(
            docs, "doc_id", "text", bits=bits, n_segments=n_segments,
            max_hamming=max_hamming, max_bucket_size=None,
        ).collect()
    }
    assert found == brute and len(brute) > 0


def test_simhash_pairs_rejects_unguaranteed_distance(spark):
    import pytest as _pytest

    from mycenae_spark.functions.dedup import simhash_hamming_pairs

    docs = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    with _pytest.raises(ValueError):
        simhash_hamming_pairs(docs, "doc_id", "text", n_segments=4, max_hamming=4)


def test_asof_join_equal_ts_ties_deterministic(spark):
    """Equal-(key, ts) right rows must resolve deterministically: backward
    picks the MAX right id (the windowed-band oracle's ORDER BY ts DESC,
    id DESC convention), forward the MIN — never shuffle-partitioning
    luck (r11 review finding; latent until data carries such ties)."""
    from mycenae_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [("u", 100, 1)], "k string, ts_us long, lid long"
    )
    right = spark.createDataFrame(
        [("u", 90, 7), ("u", 90, 3), ("u", 110, 12), ("u", 110, 9)],
        "k string, ts_us long, rid long",
    )
    back = asof_join(
        left.repartition(8), right.repartition(8), on="k",
        left_id="lid", right_id="rid",
    ).collect()
    assert [(r["left_lid"], r["right_rid"]) for r in back] == [(1, 7)]
    fwd = asof_join(
        left.repartition(8), right.repartition(8), on="k",
        left_id="lid", right_id="rid", direction="forward",
    ).collect()
    assert [(r["left_lid"], r["right_rid"]) for r in fwd] == [(1, 9)]


def test_attribution_join_window_boundaries_and_modes(spark):
    """attribution_join (r12): first = earliest in-window touch via the
    shift-and-mirror forward as-of; last = latest via backward as-of;
    both windows are CLOSED on both ends (a touch exactly at ts−W or at
    ts matches), unmatched conversions stay as null rows, and the two
    modes disagree exactly when a window holds >1 touch."""
    from mycenae_spark.operators.asof import attribution_join

    W = 100
    conv = spark.createDataFrame(
        [("u1", 1000, 10), ("u2", 1000, 20), ("u3", 1000, 30)],
        "user string, ts_us long, event_id long",
    )
    touch = spark.createDataFrame(
        [
            ("u1", 900, 101),   # exactly at ts-W: in (closed)
            ("u1", 950, 102),
            ("u1", 1000, 103),  # exactly at ts: in (closed)
            ("u2", 899, 201),   # 1 us too early: out
        ],
        "user string, ts_us long, event_id long",
    )

    def run(mode):
        return {
            r["left_event_id"]: r["right_event_id"]
            for r in attribution_join(
                conv, touch, on="user", window_us=W, mode=mode
            ).collect()
        }

    last = run("last")
    first = run("first")
    assert last[10] == 103 and first[10] == 101  # modes pick window ends
    assert last[20] is None and first[20] is None  # out-of-window only
    assert last[30] is None and first[30] is None  # no touches at all
    # original conversion timestamp restored in first mode
    rows = attribution_join(conv, touch, on="user", window_us=W,
                            mode="first").collect()
    assert all(r["ts_us"] == 1000 for r in rows)
    import pytest as _pytest

    with _pytest.raises(ValueError, match="mode"):
        attribution_join(conv, touch, on="user", window_us=W, mode="linear")


def test_interval_overlap_touch_semantics(spark):
    """interval_overlap_join: closed-interval touches (end == start)
    pair with overlap 0; disjoint intervals in the SAME bin do not."""
    from mycenae_spark.operators.ranges import interval_overlap_join

    left = spark.createDataFrame(
        [(1, 100, 200)], "lid long, a_start long, a_end long")
    right = spark.createDataFrame(
        [(10, 200, 250),   # touches at 200: overlap 0
         (20, 201, 250)],  # disjoint but same bin
        "rid long, w_start long, w_end long")
    out = {
        (r["lid"], r["rid"]): r["overlap"]
        for r in interval_overlap_join(
            left, right, bin_width=1000,
            left_start="a_start", left_end="a_end",
            right_start="w_start", right_end="w_end",
        ).collect()
    }
    assert out == {(1, 10): 0}


def test_jaccard_prefix_boundary_and_completeness(spark):
    """jaccard_prefix_pairs: a pair at EXACTLY J = t survives every
    filter (prefix, length, positional) — the boundary the epsilon
    guard on the positional bound exists for — and a crafted corpus
    where naive and filtered joins are enumerable agrees pair-for-pair
    with the naive computation."""
    from mycenae_spark.functions.dedup import (
        jaccard_prefix_pairs,
        ngram_jaccard_pairs,
    )

    # unigram sets (ngram=1): doc 1 = {a..h} (8), doc 2 = {a..f,x,y}
    # (8, 6 shared): J = 6/10 < 0.8.  doc 3 = {a..h, p} (9, 8 shared
    # with doc 1): J = 8/9 ≈ 0.889 ≥ 0.8.  doc 4/5 identical: J = 1.
    # doc 6 = 9 tokens sharing 8 with doc 3 → J = 8/10 = 0.8 EXACTLY.
    rows = [
        (1, "a b c d e f g h"),
        (2, "a b c d e f x y"),
        (3, "a b c d e f g h p"),
        (4, "q r s t"),
        (5, "q r s t"),
        (6, "a b c d e f g p z"),  # with doc 3: shared 8 of union 10
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r["doc_a"], r["doc_b"]): round(r["jaccard"], 6)
        for r in jaccard_prefix_pairs(
            docs, "doc_id", "text", ngram=1, threshold=0.8
        ).collect()
    }
    naive = {
        (r["doc_a"], r["doc_b"]): round(r["jaccard"], 6)
        for r in ngram_jaccard_pairs(
            docs, "doc_id", "text", ngram=1, threshold=0.8
        ).collect()
    }
    assert got == naive  # the filters lose nothing
    assert (1, 3) in got and got[(1, 3)] == round(8 / 9, 6)
    assert (4, 5) in got and got[(4, 5)] == 1.0
    assert (3, 6) in got and got[(3, 6)] == 0.8  # exact boundary kept
    assert (1, 2) not in got  # below threshold excluded


def test_pair_dot_arrow_bit_parity(spark):
    """pair_dot_arrow is BIT-identical to the HOF dot() fold — the r20
    contract that lets the embedding/knn/semantic verify legs cross the
    Arrow boundary without touching oracle hashes.  Compared via
    doubleToRawLongBits so 0.5-ulp drift (a pairwise or FMA summation
    sneaking into the kernel) fails loudly rather than rounding away."""
    import pyspark.sql.functions as F

    from mycenae_spark.functions.similarity import dot, pair_dot_arrow
    from mycenae_spark.sources.tables import load_table

    e = load_table(
        spark, "/root/testdata/sf0.001", "embeddings"
    ).select("vec_id", "embedding")
    a = e.select(F.col("vec_id").alias("ia"), F.col("embedding").alias("_ea"))
    b = e.select(F.col("vec_id").alias("ib"), F.col("embedding").alias("_eb"))
    pairs = a.join(b, F.col("ia") != F.col("ib"))
    hof = pairs.select(
        "ia", "ib", dot(F.col("_ea"), F.col("_eb")).alias("d_hof")
    )
    arw = pair_dot_arrow(pairs, "_ea", "_eb", ["ia", "ib"], "d_arw")
    cmp = hof.join(arw, ["ia", "ib"])
    bits = lambda c: F.expr(  # noqa: E731
        f"reflect('java.lang.Double','doubleToRawLongBits', {c})"
    )
    n_pairs = e.count() * (e.count() - 1)
    assert cmp.count() == n_pairs
    assert cmp.filter(bits("d_hof") != bits("d_arw")).count() == 0


def test_pair_dot_arrow_rejects_ragged_and_null(spark):
    """The kernel's preconditions fail LOUDLY: ragged array lengths and
    null arrays raise instead of silently mis-folding."""
    import pytest

    from mycenae_spark.functions.similarity import pair_dot_arrow

    ragged = spark.createDataFrame(
        [(1, [1.0, 2.0], [1.0, 2.0, 3.0])],
        "i long, _ea array<double>, _eb array<double>",
    )
    with pytest.raises(Exception, match="ragged"):
        pair_dot_arrow(ragged, "_ea", "_eb", ["i"], "d").collect()
    withnull = spark.createDataFrame(
        [(1, None, [1.0])], "i long, _ea array<double>, _eb array<double>"
    )
    with pytest.raises(Exception, match="null embedding"):
        pair_dot_arrow(withnull, "_ea", "_eb", ["i"], "d").collect()


def test_pair_dot_arrow_rejects_empty_arrays(spark):
    """A non-empty batch of zero-length embeddings is a degenerate
    projection upstream: it raises like the ragged/null cases instead of
    folding to 0.0 dots."""
    import pytest

    from mycenae_spark.functions.similarity import pair_dot_arrow

    empty = spark.createDataFrame(
        [(1, [], [])], "i long, _ea array<double>, _eb array<double>"
    )
    with pytest.raises(Exception, match="empty embedding"):
        pair_dot_arrow(empty, "_ea", "_eb", ["i"], "d").collect()


def test_spread_scan_fails_closed_on_unlisted_shuffles(spark, tmp_path):
    """spread_scan names the NARROW logical nodes and treats every other
    node as exchange-bearing.  Pandas cogroup / grouped-map nodes
    (FlatMapCoGroupsInPandas, FlatMapGroupsInPandas) shuffle but were
    missing from the old exchange list, so the guard fell through to the
    ``df.rdd`` probe — under AQE that runs the shuffle stages as jobs at
    query-construction time.  They must come back unchanged with ZERO
    jobs started; a narrow single-file scan projection (with and without
    an explode) must still spread to the session default parallelism."""
    import pyspark.sql.functions as F

    from mycenae_spark.sources.tables import spread_scan

    sc = spark.sparkContext
    keyed = spark.range(64).withColumn("k", F.col("id") % 4)
    cogrouped = keyed.groupBy("k").cogroup(keyed.groupBy("k")).applyInPandas(
        lambda left, right: left, schema=keyed.schema
    )
    grouped = keyed.groupBy("k").applyInPandas(lambda p: p, schema=keyed.schema)
    group = "spread-scan-fail-closed"
    sc.setJobGroup(group, "spread_scan construction must start no job")
    try:
        for frame in (cogrouped, grouped):
            assert spread_scan(frame) is frame
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []

    path = str(tmp_path / "one_file")
    spark.range(256).select(
        "id", F.array(F.col("id"), F.col("id") + 1).alias("xs")
    ).coalesce(1).write.parquet(path)
    scan = spark.read.parquet(path)
    assert scan.rdd.getNumPartitions() == 1
    parallelism = sc.defaultParallelism
    assert parallelism > 1
    for narrow in (
        scan.select("id", "xs"),
        scan.filter(F.col("id") > 3).select("id", F.explode("xs").alias("x")),
    ):
        assert spread_scan(narrow).rdd.getNumPartitions() == parallelism
