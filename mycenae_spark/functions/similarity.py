"""Embedding similarity search (build brief): exact brute-force top-k and
IVF-bucketed ANN, over ``array<float>`` columns with double math.

Dot products use ``zip_with`` + ``aggregate`` (JVM higher-order functions,
fixed left-to-right fold) — no UDF, deterministic summation order, so the
DuckDB oracle reproduces values bit-for-bit before rounding.  The
per-pair legs of ``knn_graph`` and ``semantic_pairs`` run the same fold
vectorized in ``pair_dot_arrow``, bit-identical to ``dot``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
import pyspark.sql.functions as F

from mycenae_spark.sources.tables import explode_ne, spread_scan


def dot(x: Column, y: Column) -> Column:
    return F.aggregate(
        F.zip_with(x, y, lambda a, b: a.cast("double") * b.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def pair_dot_arrow(
    df: DataFrame, xa: str, xb: str, keep: list[str], out: str
) -> DataFrame:
    """Exact per-pair dot product via ``mapInArrow`` — BIT-IDENTICAL to
    :func:`dot` by construction, not by accident (guide §4.2: hand whole
    batches to vectorized native code; §4.1: pass only the columns the
    function needs, return only ``keep`` + the dot so the heavy arrays
    never cross back).

    Parity argument: the HOF computes ``((0.0 + a0·b0) + a1·b1) + …``
    with each component cast FLOAT→DOUBLE first (exact), each product an
    IEEE double multiply, each step an IEEE double add.  The kernel does
    the same ops in the same order — ``acc = acc + A[:,j] * B[:,j]`` for
    j = 0..dim−1 — vectorized ACROSS pairs (the fold order per pair is
    untouched; numpy multiply and add are separate rounding steps, no
    FMA), so every output double is bit-identical to the HOF's.  The
    verify-leg rounders stay JVM-side, unchanged.

    Why: the per-pair HOF evaluates INTERPRETED (HOFs never enter
    WholeStageCodegen) at ~1 µs/pair — the recorded floor spanning the
    embedding_lsh / knn_graph / semantic_pairs verify legs (r19 VERDICT
    item 5).  Each 64-dim pair costs the boundary ~1 KB in and 8 B out.

    Preconditions (asserted): non-null, non-empty, equal-length arrays —
    the corpus contract every caller already guarantees (fixed ``dim``,
    filtered non-null embeddings)."""
    from pyspark.sql.types import DoubleType, StructField, StructType

    from mycenae_spark.pickling import register_module_by_value
    import sys as _sys

    register_module_by_value(_sys.modules[__name__])

    in_df = df.select(*keep, xa, xb)
    out_schema = StructType(
        [in_df.schema[c] for c in keep] + [StructField(out, DoubleType(), True)]
    )
    n_keep = len(keep)

    def fold(it):
        import numpy as np
        import pyarrow as pa
        import pyarrow.compute as pc

        arrow_schema = None
        for b in it:
            if arrow_schema is None:
                arrow_schema = pa.schema(
                    [b.schema.field(i) for i in range(n_keep)]
                    + [pa.field(out, pa.float64())]
                )
            n = b.num_rows
            if n == 0:
                continue
            ca, cb = b.column(n_keep), b.column(n_keep + 1)
            if ca.null_count or cb.null_count:
                raise ValueError("pair_dot_arrow: null embedding array")
            va = ca.flatten()
            vb = cb.flatten()
            if va.null_count or vb.null_count:
                raise ValueError("pair_dot_arrow: null embedding component")
            a = va.to_numpy(zero_copy_only=False).astype(np.float64, copy=False)
            v = vb.to_numpy(zero_copy_only=False).astype(np.float64, copy=False)
            la = pc.list_value_length(ca).to_numpy()
            lb = pc.list_value_length(cb).to_numpy()
            if (la != la[0]).any() or (lb != la[0]).any():
                raise ValueError("pair_dot_arrow: ragged embedding arrays")
            d = int(la[0])
            if d == 0:
                raise ValueError("pair_dot_arrow: empty embedding arrays")
            A = a.reshape(n, d)
            B = v.reshape(n, d)
            acc = np.zeros(n, dtype=np.float64)
            for j in range(d):
                # same op order as the HOF fold: one double multiply, one
                # double add per component, left to right — never np.dot /
                # einsum (pairwise/FMA summation would break bit parity).
                acc = acc + A[:, j] * B[:, j]
            yield pa.RecordBatch.from_arrays(
                [b.column(i) for i in range(n_keep)] + [pa.array(acc)],
                schema=arrow_schema,
            )

    return in_df.mapInArrow(fold, out_schema)


def norm(x: Column) -> Column:
    return F.sqrt(dot(x, x))


def with_norm(df: DataFrame, emb_col: str = "embedding", out: str = "_norm") -> DataFrame:
    return df.withColumn(out, norm(F.col(emb_col)))


def cosine(xa: Column, xb: Column, na: Column, nb: Column) -> Column:
    return dot(xa, xb) / (na * nb)


def brute_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    score_rounder=None,
    exclude_self: bool = True,
) -> DataFrame:
    """Exact cosine top-k: broadcast the query set against one corpus scan
    (no corpus shuffle), rank per query.  Returns (q_id, n_id, rk, cos_r).

    ``score_rounder`` (Column→Column) stabilizes ranking — rank on the
    rounded score with id tie-break so float noise can't flip the cutoff.
    ``exclude_self`` drops n_id == q_id (the corpus-query default); pass
    False when query ids live in a different namespace than corpus ids
    (the serving path's posted vectors), where the identical corpus item
    IS the answer and an id collision would silently drop a true match.
    """
    rounder = score_rounder or (lambda c: c)
    qs = with_norm(queries, emb_col).select(
        F.col(id_col).alias("q_id"),
        F.col(emb_col).alias("_qe"),
        F.col("_norm").alias("_qn"),
    )
    # Per-(corpus row × query) cosine is the whole cost and runs inside
    # the corpus scan stage — spread the narrow corpus projection
    # core-wide first (identity on real multi-split scans).
    c = with_norm(
        spread_scan(corpus.select(id_col, emb_col)),
        emb_col,
    ).select(
        F.col(id_col).alias("n_id"),
        F.col(emb_col).alias("_ce"),
        F.col("_norm").alias("_cn"),
    )
    cos = cosine(F.col("_qe"), F.col("_ce"), F.col("_qn"), F.col("_cn"))
    w = Window.partitionBy("q_id").orderBy(F.desc("cos_r"), "n_id")
    joined = c.crossJoin(F.broadcast(qs))
    if exclude_self:
        joined = joined.filter(F.col("n_id") != F.col("q_id"))
    return (
        joined
        .withColumn("cos_r", rounder(cos))
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("q_id", "n_id", "rk", "cos_r")
    )


def brute_topk_filtered(
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    match_cols: tuple[str, ...],
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    score_rounder=None,
) -> DataFrame:
    """Filtered vector search — exact cosine top-k restricted to corpus
    rows whose ``match_cols`` EQUAL the query row's (the tenant / language
    / label filter every production vector store must compose with
    similarity, and the case that breaks post-filtering: prune AFTER
    top-k and a query whose matches are rare gets fewer than k rows
    back).  Filtering here is IN the candidate generation — the join key
    — so k survivors are guaranteed whenever k matches exist.

    Plan upgrade over unfiltered ``brute_topk``: the query set broadcasts
    and the join is a keyed BroadcastHashJoin on ``match_cols`` (not a
    BroadcastNestedLoop cross join), so each corpus row meets only the
    queries sharing its key — scan cost unchanged, pair volume divided by
    the key's selectivity.  The corpus still never shuffles; per-query
    ranking windows run on the (tiny) scored frame."""
    rounder = score_rounder or (lambda c: c)
    qs = with_norm(queries, emb_col).select(
        F.col(id_col).alias("q_id"),
        *[F.col(c).alias(f"_q_{c}") for c in match_cols],
        F.col(emb_col).alias("_qe"),
        F.col("_norm").alias("_qn"),
    )
    # spread_scan probed-and-REVERTED here (r20 interleaved A/B, 5 cycles:
    # ann_filtered_topk off/on 0.90 median, 0.59 vs 0.64 min — the keyed
    # BroadcastHashJoin already spreads the scored frame; the extra
    # exchange only added stage latency on this sub-second path).
    c = with_norm(
        corpus.select(id_col, *match_cols, emb_col),
        emb_col,
    ).select(
        F.col(id_col).alias("n_id"),
        *match_cols,
        F.col(emb_col).alias("_ce"),
        F.col("_norm").alias("_cn"),
    )
    cond = [F.col(m) == F.col(f"_q_{m}") for m in match_cols]
    cos = cosine(F.col("_qe"), F.col("_ce"), F.col("_qn"), F.col("_cn"))
    w = Window.partitionBy("q_id").orderBy(F.desc("cos_r"), "n_id")
    return (
        c.join(F.broadcast(qs), cond)
        .filter(F.col("n_id") != F.col("q_id"))
        .withColumn("cos_r", rounder(cos))
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("q_id", "n_id", *match_cols, "rk", "cos_r")
    )


def kmeans_refine(
    corpus: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    iters: int = 1,
    score_rounder=None,
    comp_rounder=None,
) -> DataFrame:
    """Lloyd-iteration centroid refinement: assign (cosine, broadcast
    centroids) → per-cluster per-dimension mean → new centroids.

    Returns (c_id, ``emb_col``) with array<double> centroids.  This is the
    "trained" IVF the literature assumes: seeded from deterministic samples,
    tightened by k-means so clusters match the data distribution and probing
    few clusters actually captures the neighbors.  Each iteration is one
    broadcast-assign pass over the corpus plus a (cluster, dim) hash
    aggregation — shuffle ∝ #clusters × dim, never corpus².

    ``comp_rounder`` rounds each mean component — REQUIRED for cross-engine
    determinism (mean summation order differs between engines; rounding to a
    1e-6 grid collapses the ~1e-15 noise to identical values).  Clusters
    that lose all members disappear (identically on both engines).

    Between iterations the centroid frame crosses an ``_iter_boundary``
    (functions/dedup.py): each round's plan otherwise NESTS the previous
    round's (corpus join + re-aggregation inside the assign), so planning
    cost grows with ``iters`` — the judged queries stop at 3, but the
    boundary makes the loop safe at any depth for the same reason the
    components loop needed it (r15; values unchanged — the boundary is a
    pure materialization point on a #clusters × dim frame).
    """
    from mycenae_spark.functions.dedup import _iter_boundary

    comp = comp_rounder or (lambda c: c)
    # spread_scan probed-and-REVERTED here (r20 interleaved A/B, 5 cycles:
    # ann_ivf_kmeans_topk off/on 0.91 median / 0.84 min, ann_ivf_rerank
    # 0.99 median / 0.86 min — every iteration's work drains into the
    # ivf_assign partial agg and the (cluster, dim) agg, both of which
    # repartition anyway; the extra pre-kernel exchange only added stage
    # latency, the r19 driver-measured ANN regression).
    corpus = corpus.select(id_col, emb_col)
    cent = centroids.select(F.col(id_col).alias("c_id"), F.col(emb_col))
    for i in range(iters):
        assign = ivf_assign(
            corpus,
            cent.withColumnRenamed("c_id", id_col),
            id_col=id_col,
            emb_col=emb_col,
            score_rounder=score_rounder,
        )
        dims = (
            corpus.join(assign, id_col)
            .select("c_id", F.posexplode(F.col(emb_col)).alias("_j", "_e"))
            .groupBy("c_id", "_j")
            .agg(comp(F.avg(F.col("_e").cast("double"))).alias("_m"))
        )
        # rebuild ordered arrays: sort (dim, mean) structs, project the mean
        cent = dims.groupBy("c_id").agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("_j", "_m"))),
                lambda s: s["_m"],
            ).alias(emb_col)
        )
        if i < iters - 1:
            cent = _iter_boundary(cent)
    return cent


def hyperplane_planes(
    n_tables: int, n_bits: int, dim: int
) -> list[tuple[int, int, list[float]]]:
    """Deterministic pseudo-random hyperplanes for sign-LSH: component
    (t, b, j) = md5-derived uniform in [-1, 1).  Pure Python constants —
    both engines receive the identical literal matrix, so there is no
    cross-engine hashing to reconcile at query time."""
    import hashlib

    out = []
    for t in range(n_tables):
        for b in range(n_bits):
            comps = [
                (int(hashlib.md5(f"{t}|{b}|{j}".encode()).hexdigest()[:8], 16)
                 / 2**31) - 1.0
                for j in range(dim)
            ]
            out.append((t, b, comps))
    return out


def auto_lsh_bits(
    n_docs: int, target_bucket_size: int = 64, lo: int = 4, hi: int = 30
) -> int:
    """Bit width that keeps expected sign-LSH bucket size near
    ``target_bucket_size``: ``ceil(log2(n_docs / target))``, clamped.

    A FIXED bit width is scale-fragile: at 100× the corpus every bucket is
    100× fuller, blows past any hot-bucket cap, gets dropped, and recall
    collapses to ~0.  Deriving bits from the corpus count keeps expected
    occupancy — and therefore both the verify cost (∝ n·target) and the
    cap-drop probability — constant as the corpus grows.  The price is the
    per-bit recall factor (1 − θ/π): each doubling of the corpus adds one
    bit and multiplies per-table recall by that factor, recovered by adding
    tables (recall ≈ 1 − (1 − p^bits)^tables).  See SCALING.md.
    """
    import math

    if n_docs <= target_bucket_size:
        return lo
    return min(hi, max(lo, math.ceil(math.log2(n_docs / target_bucket_size))))


def embedding_lsh_pairs(
    corpus: DataFrame,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    n_tables: int = 4,
    n_bits: int | None = None,
    dim: int = 64,
    threshold: float = 0.95,
    score_rounder=None,
    max_bucket_size: int | None = None,
    target_bucket_size: int = 64,
    score_rounder_sql=None,
) -> DataFrame:
    """Embedding near-dup pairs at corpus scale: random-hyperplane LSH
    bucketing, then exact cosine verification only INSIDE buckets.

    Sign-LSH collision probability for angle θ is (1 − θ/π) per bit; with
    ``n_tables`` tables of ``n_bits`` bits, P(candidate | cos ≥ 0.95) ≈
    1 − (1 − 0.9⁸)⁴ ≈ 0.89 — while the exact check runs on ~#docs²/2^bits
    pairs per table instead of the full quadratic.  The plane matrix is a
    broadcast constant; bucket keys are one pass over the corpus (shuffle
    carries (id, table, key)); ``max_bucket_size`` is the same hot-bucket
    valve LSH text dedup uses.  Sign bits are taken on the ROUNDED dot
    (``score_rounder``) so summation-order noise cannot flip a bucket
    across engines.

    ``n_bits=None`` (the scale-safe default) derives the width from the
    corpus count via ``auto_lsh_bits`` — one cheap count job — so expected
    bucket occupancy stays ≈ ``target_bucket_size`` at any corpus size.
    Pass an explicit ``n_bits`` to pin a configuration (the judged query
    pins 4 bits for oracle parity).
    """
    from mycenae_spark.functions.dedup import bucket_pairs

    if n_tables < 1:
        raise ValueError(f"n_tables must be >= 1, got {n_tables}")
    if n_bits is not None and n_bits < 1:
        raise ValueError(f"n_bits must be >= 1, got {n_bits}")
    rounder = score_rounder or (lambda c: c)
    if n_bits is None:
        n_bits = auto_lsh_bits(corpus.count(), target_bucket_size)
    # One shared spread projection under the bucket-key pass and both
    # verify sides — the repartition exchange is reused (ReusedExchange)
    # and the per-row plane dots / per-pair cosines run core-wide.
    cn = spread_scan(corpus.select(id_col, emb_col))
    # The planes are LITERAL constants, so every table's key folds into
    # ONE projection per vector — n_tables × n_bits sign-dots against
    # literal arrays, summed as bit * 2^b — instead of the earlier
    # corpus × planes crossJoin grid (16× row duplication through the
    # broadcast join) + groupBy re-collapse.  Identical keys (same
    # rounded dot per (t, b), same integer sum), and the grid exchange
    # disappears.  Work stays ∝ n_tables · n_bits · dim per vector at
    # any scale — no shuffle, no duplication.
    #
    # r20: the whole key expression is ONE F.expr over generated SQL
    # text.  The Column-API form issued ~8 500 py4j round-trips (1 024
    # plane-component lits + per-bit HOF lambdas) ≈ 2.3–3.0 s of DRIVER
    # time per query construction (cProfile: 8 508 send_command, 1.8 s
    # in socket recv) — paid on every bench rep and dwarfing the actual
    # sf0.1 execution.  The SQL text parses in one round-trip to the
    # SAME expression tree: aggregate(zip_with(emb, array(<lits>),
    # (a, b) -> double(a) * double(b)), 0.0d, (acc, v) -> acc + v) with
    # the identical left-to-right fold, so keys stay bit-identical
    # (oracle-verified).  guide §1/§4: the Python-side boundary cost was
    # the measured bottleneck, not the executors.
    plane_by_tb = {
        (t, b): comps for t, b, comps in hyperplane_planes(n_tables, n_bits, dim)
    }
    if score_rounder_sql is not None or score_rounder is None:
        # Fast path: one parsed expression.  ``score_rounder_sql`` must be
        # the SQL twin of ``score_rounder`` (callers pass both; the judged
        # queries use registry.util.r6 / r6_sql which are the same
        # round(x + 1e-9, 6) expression in both APIs).
        sign_sql = score_rounder_sql or (lambda e: f"({e})")
        structs = []
        for t in range(n_tables):
            terms = ["CAST(0 AS BIGINT)"]
            for b in range(n_bits):
                arr = "array(" + ",".join(
                    f"CAST({float(c)!r} AS DOUBLE)" for c in plane_by_tb[(t, b)]
                ) + ")"
                d = (f"aggregate(zip_with({emb_col}, {arr}, "
                     "(a, b) -> CAST(a AS DOUBLE) * CAST(b AS DOUBLE)), "
                     "CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)")
                terms.append(
                    f"(CASE WHEN {sign_sql(d)} >= 0 THEN CAST({1 << b} AS BIGINT)"
                    " ELSE CAST(0 AS BIGINT) END)"
                )
            structs.append(
                f"named_struct('t', {t}, 'key', {' + '.join(terms)})"
            )
        tk = F.expr("array(" + ",".join(structs) + ")")
    else:
        # Column-API fallback for callers passing a rounder without its SQL
        # twin — same tree, ~8 500 py4j round-trips slower to build.
        table_keys = []
        for t in range(n_tables):
            key = F.lit(0).cast("long")
            for b in range(n_bits):
                arr = F.array(*[F.lit(c) for c in plane_by_tb[(t, b)]])
                key = key + F.when(
                    rounder(dot(F.col(emb_col), arr)) >= 0,
                    F.lit(1 << b).cast("long"),
                ).otherwise(F.lit(0).cast("long"))
            table_keys.append(F.struct(F.lit(t).alias("t"), key.alias("key")))
        tk = F.array(*table_keys)
    keys = cn.select(
        id_col, explode_ne(tk).alias("_tk")
    ).select(id_col, F.col("_tk.t").alias("t"), F.col("_tk.key").alias("key"))
    buckets = (
        keys.groupBy("t", "key")
        .agg(F.sort_array(F.collect_list(id_col)).alias("ids"))
        .filter(F.size("ids") > 1)
    )
    if max_bucket_size is not None:
        buckets = buckets.filter(F.size("ids") <= max_bucket_size)
    # guide §2.6 (idle capacity) / §8 (tell the optimizer what it cannot
    # know): AQE coalesces the tiny bucket-agg exchange by BYTES (64
    # buckets ≈ KBs → 1–3 partitions), but each bucket then EXPLODES into
    # O(|ids|²) pairs and each pair pays an interpreted HOF cosine —
    # dissected at sf0.1/32: the 465 K-pair expansion + verify ran as 3
    # tasks on 32 cores.  Two cheap round-robin exchanges restore
    # core-wide parallelism where the expansion happens: the bucket frame
    # (rows = #buckets, fat-but-small) before the pair explode, and the
    # candidate frame (narrow id pairs) before the per-pair verify —
    # which AQE would otherwise re-coalesce after bucket_pairs' distinct.
    # Skew stays bounded by max_bucket_size (the existing valve).
    par = corpus.sparkSession.sparkContext.defaultParallelism
    cand = (
        bucket_pairs(buckets.repartition(par))
        .repartition(par)
        .withColumnRenamed("doc_a", "vec_a")
        .withColumnRenamed("doc_b", "vec_b")
    )
    ea = with_norm(cn, emb_col).select(
        F.col(id_col).alias("vec_a"),
        F.col(emb_col).alias("_ea"),
        F.col("_norm").alias("_na"),
    )
    eb = with_norm(cn, emb_col).select(
        F.col(id_col).alias("vec_b"),
        F.col(emb_col).alias("_eb"),
        F.col("_norm").alias("_nb"),
    )
    # pair_dot_arrow probed-and-DECLINED here (r20 interleaved A/B, 7
    # cycles, 32 cores, sf0.1: dedup_embedding_lsh off/on 0.75 median,
    # dedup_embedding_cosine 0.88, mins identical): unlike the knn/
    # semantic legs this verify runs on an already-32-way-repartitioned
    # candidate frame whose per-task pair slice is small, so the Python
    # worker round-trip costs more than the interpreted fold saves.
    cos = cosine(F.col("_ea"), F.col("_eb"), F.col("_na"), F.col("_nb"))
    return (
        cand.join(ea, "vec_a")
        .join(eb, "vec_b")
        .withColumn("cos_r", rounder(cos))
        .filter(F.col("cos_r") >= threshold)
        .select("vec_a", "vec_b", "cos_r")
    )


def embedding_dedup_verdicts(
    corpus: DataFrame,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    n_tables: int = 4,
    n_bits: int | None = None,
    dim: int = 64,
    threshold: float = 0.45,
    score_rounder=None,
    max_bucket_size: int | None = None,
    score_rounder_sql=None,
) -> DataFrame:
    """Per-vector embedding-cosine dedup VERDICT with keep-first-id
    semantics, composed on :func:`embedding_lsh_pairs` so pair generation
    is bucket-bounded (never all-pairs): ``is_dup = 1`` iff some lower-id
    vector scores rounded-cos ≥ threshold inside a shared LSH bucket;
    ``dup_of`` = the smallest such id (NULL for keepers).

    Scale: the verdict is one groupBy(vec_b) min-agg over the verified
    pairs (≤ #pairs rows ≪ corpus), broadcast back onto the id column.
    Inherits the hot-bucket cap and auto-bits behavior of the pair
    helper, so a degenerate corpus yields NO verdicts instead of a
    quadratic explosion (tests/test_skew.py)."""
    pairs = embedding_lsh_pairs(
        corpus,
        id_col=id_col,
        emb_col=emb_col,
        n_tables=n_tables,
        n_bits=n_bits,
        dim=dim,
        threshold=threshold,
        score_rounder=score_rounder,
        max_bucket_size=max_bucket_size,
        score_rounder_sql=score_rounder_sql,
    )
    verdicts = pairs.groupBy(F.col("vec_b").alias(id_col)).agg(
        F.min("vec_a").alias("dup_of")
    )
    return corpus.select(id_col).join(
        F.broadcast(verdicts), id_col, "left"
    ).select(
        id_col,
        F.when(F.col("dup_of").isNotNull(), 1).otherwise(0).alias("is_dup"),
        "dup_of",
    )


def ivf_assign(
    corpus: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    score_rounder=None,
) -> DataFrame:
    """Assign each vector to its nearest centroid.  Returns (id_col, c_id).

    Centroids broadcast, so scoring the N×k candidate grid never shuffles
    the corpus; the argmax is a ``max(struct(cos, -c_id))`` hash
    aggregation — partial aggregation (map-side combine) collapses the k
    candidate rows per vector inside the scan stage, so the ONE exchange
    this op pays carries ~N (id, c_id) rows, one per vector, never N×k.
    (Not literally shuffle-free: an argmax over a keyed grid needs one
    bounded exchange in any engine; this is the cheapest shape of it.)
    Tie-break on the rounded score is smallest c_id, matching the oracles'
    ``row_number() ORDER BY cos DESC, c_id``.

    Consumers that SELF-JOIN the assignment (semantic_pairs, knn_graph)
    reference this subtree twice in the static plan, but AQE's exchange
    reuse computes it once at runtime (ReusedExchange on the second side
    — plan-asserted in tests/test_plans.py), so no checkpoint of the
    N-row frame is needed.

    The negated-id tie-break needs a NUMERIC id; non-numeric id columns
    (the parameterization allows any orderable type) take the window
    formulation instead — same argmax, same tie-break, one rank window
    with WindowGroupLimit's map-side prune rather than the partial agg."""
    rounder = score_rounder or (lambda c: c)
    en = with_norm(
        spread_scan(corpus.select(id_col, emb_col)),
        emb_col,
    )
    cent = with_norm(centroids, emb_col).select(
        F.col(id_col).alias("c_id"),
        F.col(emb_col).alias("_ce"),
        F.col("_norm").alias("_cn"),
    )
    cos = cosine(F.col(emb_col), F.col("_ce"), F.col("_norm"), F.col("_cn"))
    grid = en.crossJoin(F.broadcast(cent))
    numeric_id = any(
        c == "c_id" and t in ("tinyint", "smallint", "int", "bigint",
                              "float", "double")
        for c, t in grid.dtypes
    )
    if not numeric_id:
        # generic orderable ids: unary minus would ANSI-throw (or null
        # the tie-break with ANSI off) — keep the pre-r8 window path
        w = Window.partitionBy(id_col).orderBy(F.desc("_cos_r"), "c_id")
        return (
            grid.withColumn("_cos_r", rounder(cos))
            .withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .select(id_col, "c_id")
        )
    best = F.struct(
        rounder(cos).alias("_c"),
        (-F.col("c_id")).alias("_negid"),
    )
    return (
        grid.groupBy(id_col)
        .agg(F.max(best).alias("_b"))
        .select(id_col, (-F.col("_b._negid")).alias("c_id"))
    )


def ivf_assign_topn(
    corpus: DataFrame,
    centroids: DataFrame,
    n: int,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    score_rounder=None,
) -> DataFrame:
    """Multi-probe assignment: each vector's top-``n`` centroids by rounded
    cosine (the IVF nprobe idea applied at ASSIGNMENT time).  Returns
    (id_col, c_id, probe_rk) with probe_rk in 1..n.

    Used to widen candidate generation (kNN graphs): ranking neighbors
    only within the single nearest cluster misses true neighbors that sit
    just across a centroid boundary; probing the top-2 clusters lifts the
    recall ceiling the same way IVF nprobe does at query time.  The top-n
    is a window over the broadcast-scored grid — WindowGroupLimit prunes
    rank ≤ n map-side, so the exchange carries ≤ n rows per vector."""
    rounder = score_rounder or (lambda c: c)
    en = with_norm(
        spread_scan(corpus.select(id_col, emb_col)),
        emb_col,
    )
    cent = with_norm(centroids, emb_col).select(
        F.col(id_col).alias("c_id"),
        F.col(emb_col).alias("_ce"),
        F.col("_norm").alias("_cn"),
    )
    cos = cosine(F.col(emb_col), F.col("_ce"), F.col("_norm"), F.col("_cn"))
    w = Window.partitionBy(id_col).orderBy(F.desc("_cos_r"), "c_id")
    return (
        en.crossJoin(F.broadcast(cent))
        .withColumn("_cos_r", rounder(cos))
        .withColumn("probe_rk", F.row_number().over(w))
        .filter(F.col("probe_rk") <= n)
        .select(id_col, "c_id", "probe_rk")
    )


def capped_assign(assign: DataFrame, max_cluster_size: int) -> DataFrame:
    """The hot-cluster valve, factored so every in-cluster pair expansion
    shares ONE implementation: drop members of clusters larger than
    ``max_cluster_size`` BEFORE any same-cluster join.  A degenerate
    centroid (zero/boilerplate embeddings attract millions of vectors at
    corpus scale) otherwise makes the in-cluster quadratic corpus-sized —
    the exact blow-up clustering exists to prevent.  Dropped members are
    exact-dedup's / tighter-LSH's job (the LSH MAX_BUCKET division of
    labor); size the centroid count so real clusters stay under the cap."""
    w_sz = Window.partitionBy("c_id")
    return (
        assign.withColumn("_csz", F.count(F.lit(1)).over(w_sz))
        .filter(F.col("_csz") <= max_cluster_size)
        .drop("_csz")
    )


def knn_graph(
    corpus: DataFrame,
    centroids: DataFrame,
    k: int = 3,
    probes: int = 1,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    max_cluster_size: int = 512,
    score_rounder=None,
) -> DataFrame:
    """Batch kNN-graph construction: top-``k`` neighbors for EVERY corpus
    vector by in-cluster ranking.  Returns (id_col, n_id, rk, cos_r).

    The candidate side is each vector's single nearest-centroid cluster,
    gated by the shared hot-cluster valve (``capped_assign``) so one
    degenerate centroid can never turn the in-cluster join quadratic —
    over-cap clusters drop from the graph rather than detonating it.

    ``probes`` > 1 is the nprobe idea applied to the QUERY side: each
    vector ranks candidates from its top-``probes`` clusters instead of
    only its own, lifting the recall ceiling exactly like IVF nprobe does
    at search time (a true neighbor just across a centroid boundary is
    reachable from the second probe).  Cost scales linearly in ``probes``
    (each query row joins ≤ cap candidates per probe); candidates stay
    single-assigned, so a (vector, neighbor) pair can match on at most
    one cluster — no dedup pass needed."""
    rounder = score_rounder or (lambda c: c)
    if probes <= 1:
        cand_assign = capped_assign(
            ivf_assign(
                corpus, centroids, id_col=id_col, emb_col=emb_col,
                score_rounder=score_rounder,
            ),
            max_cluster_size,
        )
        q_assign = cand_assign
    else:
        # Score the N×k centroid grid ONCE: probe_rk == 1 of the top-n
        # window IS ivf_assign's argmax (same rounded cosine, same
        # smallest-c_id tie-break — ORDER BY cos DESC, c_id ≡
        # max(struct(cos, -c_id))), so the candidate side derives from
        # the same lazily-checkpointed frame instead of paying the
        # broadcast-scored grid a second time (measured at sf0.1/32:
        # multiprobe 4.9 → 2.7 s min-of-4 warm, identical 6 000 rows).
        topn = ivf_assign_topn(
            corpus, centroids, probes, id_col=id_col, emb_col=emb_col,
            score_rounder=score_rounder,
        ).localCheckpoint(eager=False)
        cand_assign = capped_assign(
            topn.filter(F.col("probe_rk") == 1).select(id_col, "c_id"),
            max_cluster_size,
        )
        q_assign = topn.select(id_col, "c_id")
    en = with_norm(
        spread_scan(corpus.select(id_col, emb_col)),
        emb_col,
    )
    a = en.join(q_assign, id_col).select(
        "c_id",
        F.col(id_col).alias("_qid"),
        F.col(emb_col).alias("_ea"),
        F.col("_norm").alias("_na"),
    )
    b = en.join(cand_assign, id_col).select(
        F.col("c_id").alias("_c_id_b"),
        F.col(id_col).alias("n_id"),
        F.col(emb_col).alias("_eb"),
        F.col("_norm").alias("_nb"),
    )
    pairs = a.join(
        b,
        (F.col("c_id") == F.col("_c_id_b"))
        & (F.col("_qid") != F.col("n_id")),
    )
    scored = pair_dot_arrow(
        pairs, "_ea", "_eb", ["_qid", "n_id", "_na", "_nb"], "_dot"
    )
    cos = F.col("_dot") / (F.col("_na") * F.col("_nb"))
    w = Window.partitionBy("_qid").orderBy(F.desc("cos_r"), "n_id")
    return (
        scored
        .withColumn("cos_r", rounder(cos))
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select(F.col("_qid").alias(id_col), "n_id", "rk", "cos_r")
    )


def semantic_pairs(
    corpus: DataFrame,
    centroids: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    max_cluster_size: int = 512,
    score_rounder=None,
) -> DataFrame:
    """SemDeDup-style semantic near-dup pairs (public arXiv:2303.09540):
    assign every vector to its nearest centroid (broadcast centroids, one
    bounded ~N-row exchange — see ``ivf_assign``), then exact cosine ONLY
    between same-cluster pairs, keeping those at or above ``threshold``.  Returns (c_id, vec_a, vec_b, cos_r) with
    vec_a < vec_b; the kept representative under the paper's rule is
    min(id) per duplicate group.

    Scale: with k ∝ √N clusters the in-cluster quadratic stays ~N total.
    ``max_cluster_size`` is the hot-cluster valve — see ``capped_assign``
    (shared with the kNN-graph expansion).  Dropped-cluster accounting
    mirrors lsh_dropped_bucket_stats: size the centroid count so real
    clusters stay under the cap.
    """
    rounder = score_rounder or (lambda c: c)
    assign = capped_assign(
        ivf_assign(
            corpus, centroids, id_col=id_col, emb_col=emb_col,
            score_rounder=score_rounder,
        ),
        max_cluster_size,
    )
    en = with_norm(
        spread_scan(corpus.select(id_col, emb_col)),
        emb_col,
    ).join(assign, id_col)
    a = en.select(
        "c_id",
        F.col(id_col).alias("vec_a"),
        F.col(emb_col).alias("_ea"),
        F.col("_norm").alias("_na"),
    )
    b = en.select(
        F.col("c_id").alias("_c_id_b"),
        F.col(id_col).alias("vec_b"),
        F.col(emb_col).alias("_eb"),
        F.col("_norm").alias("_nb"),
    )
    pairs = a.join(
        b,
        (F.col("c_id") == F.col("_c_id_b"))
        & (F.col("vec_a") < F.col("vec_b")),
    )
    scored = pair_dot_arrow(
        pairs, "_ea", "_eb", ["c_id", "vec_a", "vec_b", "_na", "_nb"], "_dot"
    )
    cos = F.col("_dot") / (F.col("_na") * F.col("_nb"))
    return (
        scored
        .withColumn("cos_r", rounder(cos))
        .filter(F.col("cos_r") >= threshold)
        .select("c_id", "vec_a", "vec_b", "cos_r")
    )


def sq8_quantized(
    corpus: DataFrame,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
) -> DataFrame:
    """INT8 scalar quantization (the SQ in FAISS's SQ8 index): per-DIM
    min/max over the corpus define a CENTERED affine grid, every
    component maps to ``floor((v − mid_d)·255 / range_d)`` ∈
    [−128, 127] with ``mid_d = (min_d + max_d)/2``.  Returns
    (id_col, qv: array<long>).

    Centering is CORRECTNESS for dot-product ranking, not taste: the
    min-shifted grid (components in [0, 255]) makes every quantized
    vector share a large positive offset, and Σ qa·qb is then dominated
    by the offset mass — recall@3 vs the float cosine baseline was
    0.033, i.e. the ranking carried almost no signal (caught by the
    bench recall extra, r12).  The centered grid measures 0.633 at
    sf0.1 — the honest int8 resolution limit on this corpus (a global
    uniform scale measures the same, so per-dim weighting is not the
    limiter; the k=3 cut is simply sharp at 8-bit precision).

    All arithmetic is DOUBLE on both engines (components cast before any
    op), so the quantization grid is bit-identical cross-engine and the
    downstream integer dot products are EXACT — a deterministic ANN
    family member where PQ's float LUT needs rounding conventions.

    Plan: one posexplode + per-dim hash agg for the stats (#dims rows),
    collapsed to two literal arrays broadcast to the quantize projection
    — the corpus is scanned, never shuffled; quantization is a pure
    zip_with projection inside the scan stage.  Memory story at 100 TB:
    4× smaller vectors (int8 vs float32) with the scan cost dropping
    proportionally once the quantized table is materialized."""
    # spread_scan probed-and-REVERTED here (r20, VERDICT r19 item 1): the
    # r19 driver measured ann_sq8_topk ~2.2× slower with spread; the r20
    # interleaved A/B (7 cycles, 32 cores, sf0.1) confirmed OFF wins —
    # ann_sq8_topk 0.87×, ann_sq8_rerank_topk 0.55× median with the site
    # disabled.  The downstream consumers (per-dim stats agg, the
    # localCheckpoint in sq8_topk, the broadcast-join rank) are all
    # overhead-dominated at this corpus width; the extra exchange only
    # added stage latency.
    cn = corpus.select(id_col, emb_col)
    dims = cn.select(
        F.posexplode(emb_col).alias("pos", "_v")
    ).select("pos", F.col("_v").cast("double").alias("v"))
    stats = dims.groupBy("pos").agg(
        F.min("v").alias("mn"), F.max("v").alias("mx")
    )
    arrs = stats.agg(
        F.array_sort(F.collect_list(F.struct("pos", "mn", "mx"))).alias("s")
    ).select(
        F.transform("s", lambda x: (x["mn"] + x["mx"]) / 2).alias("_mids"),
        F.transform("s", lambda x: x["mx"] - x["mn"]).alias("_rngs"),
    )
    shifted = F.zip_with(
        F.transform(F.col(emb_col), lambda v: v.cast("double")),
        F.col("_mids"),
        lambda v, m: v - m,
    )
    q = F.zip_with(
        shifted,
        F.col("_rngs"),
        lambda x, r: F.when(r == 0, F.lit(0))
        .otherwise(F.floor((x * 255) / r))
        .cast("long"),
    )
    return cn.crossJoin(F.broadcast(arrs)).select(
        id_col, q.alias("qv")
    )


def sq8_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
) -> DataFrame:
    """Brute-force top-k over SQ8-quantized vectors: rank by the INTEGER
    dot product of the quantized components (exact on both engines — no
    score rounding convention needed at all), ties by neighbor id.
    ``queries`` is a subset of ``corpus`` rows (quantized on the same
    corpus-wide grid).  Returns (q_id, n_id, rk, qdot).

    Same plan family as ``brute_topk``: the quantized query set
    broadcasts and per-query rank windows run on the scored frame.  The
    quantized frame feeds BOTH join sides, so it is localCheckpoint-ed
    once — without it the corpus is scanned and re-quantized per branch
    (review finding; in production the quantized table is a persisted
    materialization and this is moot)."""
    qv = sq8_quantized(
        corpus, id_col=id_col, emb_col=emb_col
    ).localCheckpoint(eager=True)
    q_ids = queries.select(F.col(id_col))
    a = qv.join(F.broadcast(q_ids), id_col).select(
        F.col(id_col).alias("q_id"), F.col("qv").alias("_qa")
    )
    b = qv.select(F.col(id_col).alias("n_id"), F.col("qv").alias("_qb"))
    dot = F.aggregate(
        F.zip_with(F.col("_qa"), F.col("_qb"), lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("qdot"), "n_id")
    return (
        F.broadcast(a)
        .join(b, F.col("q_id") != F.col("n_id"))
        .withColumn("qdot", dot)
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("q_id", "n_id", "rk", "qdot")
    )


def sq8_rerank_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_candidates: int = 32,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    score_rounder=None,
) -> DataFrame:
    """SQ8 candidates + EXACT re-rank — the two-stage shape every
    production int8 index runs (and the PQ rerank precedent,
    ann_ivf_rerank_topk): the quantized integer dot product picks
    ``n_candidates`` per query from the compressed table (the 4×-
    smaller scan), then ONLY those candidates are re-scored with exact
    float cosine and the top ``k`` kept.  Closes the int8 resolution
    gap at candidate-bounded float cost: recall is limited only by
    true neighbors the int8 ranking pushes below ``n_candidates`` —
    measured recall@3 vs the float brute baseline 1.0 at sf0.1 with
    n_candidates=32 (vs 0.633 for pure SQ8 at k=3).

    Plan: sq8_topk's broadcast/no-corpus-shuffle stage, then the ≤
    #queries × n_candidates survivor frame joins the corpus by id for
    exact scoring — candidate-bounded, the rerank never rescans."""
    rounder = score_rounder or (lambda c: c)
    cand = sq8_topk(
        corpus, queries, k=n_candidates, id_col=id_col, emb_col=emb_col
    ).select("q_id", "n_id")
    qs = with_norm(queries, emb_col).select(
        F.col(id_col).alias("q_id"),
        F.col(emb_col).alias("_qe"),
        F.col("_norm").alias("_qn"),
    )
    # spread_scan probed-and-REVERTED here (r20 interleaved A/B, 7 cycles:
    # ann_sq8_rerank_topk 0.55× median with the site disabled — see
    # sq8_quantized above; the rerank side is candidate-bounded anyway).
    c = with_norm(corpus.select(id_col, emb_col), emb_col).select(
        F.col(id_col).alias("n_id"),
        F.col(emb_col).alias("_ce"),
        F.col("_norm").alias("_cn"),
    )
    cos = cosine(F.col("_qe"), F.col("_ce"), F.col("_qn"), F.col("_cn"))
    w = Window.partitionBy("q_id").orderBy(F.desc("cos_r"), "n_id")
    return (
        cand.join(F.broadcast(qs), "q_id")
        .join(c, "n_id")
        .withColumn("cos_r", rounder(cos))
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("q_id", "n_id", "rk", "cos_r")
    )
