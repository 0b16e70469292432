"""Text-analysis column builders (build brief: lang-id, quality scoring,
token counting, fingerprinting) — pure built-in expressions, so they run
inside WholeStageCodegen and stay DuckDB-checkable.

All builders take/return Columns so they compose into any DataFrame program
(the registry's declared queries are thin wrappers over these).
"""

from __future__ import annotations

from pyspark.sql import Column
import pyspark.sql.functions as F

from mycenae_spark.sources.tables import explode_ne, spread_scan

#: Minimal per-language stopword profiles for the lang-id heuristic.  A real
#: deployment swaps these for character-n-gram profiles; the plan shape
#: (per-doc set intersections) is identical.
STOPWORDS = {
    "en": ["the", "a", "of", "and", "to"],
    "es": ["el", "la", "de", "y", "que"],
    "de": ["der", "die", "das", "und", "ist"],
    "fr": ["le", "la", "de", "et", "est"],
}

#: BPE-ish segmentation: letter runs | digit runs | single punctuation.
BPE_REGEX = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def tokens(text: Column | str) -> Column:
    """Whitespace tokenization (single-space corpus convention)."""
    return F.split(text, " ")


def shingles(toks: Column | str, n: int = 3) -> Column:
    """Word n-gram shingles as space-joined strings; [] when len < n.

    Guarded with ``when``: Spark's ``sequence(1, 0)`` counts *down* to
    ``[1, 0]``, so an unguarded short document would index out of bounds
    (an ANSI-mode error), not produce an empty list.

    Builder is ONE ``slice`` per shingle, not n ``element_at`` lookups:
    when callers inline a ``tokens(text)`` EXPRESSION here (rather than
    a projected column), projection collapse copies that expression into
    every lambda reference — n copies of ``split`` per shingle made the
    element_at form ~3.8× slower on the sf0.1 corpus (7.3 s → 1.9 s for
    the bigram postings scan).  Callers on hot paths should still
    pre-project the token array (see ``ngram_jaccard_pairs``)."""
    toks = F.col(toks) if isinstance(toks, str) else toks
    idx = F.sequence(F.lit(0), F.size(toks) - n)
    built = F.transform(
        idx, lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n))
    )
    empty = F.array().cast("array<string>")
    return F.when(F.size(toks) >= n, built).otherwise(empty)


def winnow_fingerprints(
    df,
    id_col: str,
    text_col: str,
    k: int = 4,
    w: int = 4,
):
    """Document fingerprinting by WINNOWING (Schleimer, Wilkerson &
    Aiken, "Winnowing: Local Algorithms for Document Fingerprinting",
    SIGMOD'03 — the MOSS kernel; the build brief's "document
    fingerprinting" modality): hash every k-token gram, slide a window
    of ``w`` consecutive hashes, keep each window's MINIMUM — the
    guarantee is that any match of ≥ w + k − 1 tokens shares at least
    one selected fingerprint, at an expected density of 2/(w+1) instead
    of every gram.

    Determinism contract: the per-window argmin is made total by
    encoding ``key = hash · 2²⁰ + pos`` and taking ``min(key)`` (hash
    ties break to the LEFTMOST position — the paper picks rightmost;
    either satisfies the guarantee, ours is the SQL-mirrorable total
    order).  Hash = first 8 md5 hex chars (32-bit, the engine-wide
    convention); positions are 0-based and must stay < 2²⁰ (docs are
    pipeline-bounded long before a million tokens).

    Output: (id, pos, fph) — one row per selected fingerprint, DISTINCT
    (adjacent windows usually select the same minimum; that collapse is
    winnowing's compression).  Scale: one scan, per-doc windows (never
    a global order), output ∝ corpus grams × 2/(w+1)."""
    from pyspark.sql import Window

    # The per-gram slice+concat+md5 below is this kernel's whole
    # pre-exchange cost — spread the narrow projection core-wide first
    # (identity on already-parallel scans; see spread_scan).
    toked = spread_scan(df.select(id_col, text_col)).select(
        id_col, tokens(text_col).alias("_ts")
    ).filter(
        F.size("_ts") >= k + w - 1  # at least one full window
    )
    # explode_ne: toked is filtered to >= k+w-1 tokens, so the window
    # array is non-empty (see explode_ne for the inferred-filter tax).
    grams = toked.select(
        id_col,
        explode_ne(
            F.transform(
                F.sequence(F.lit(0), F.size("_ts") - k),
                lambda i: F.struct(
                    i.cast("long").alias("pos"),
                    F.concat_ws(" ", F.slice("_ts", i + 1, k)).alias("gram"),
                ),
            )
        ).alias("_pg"),
    ).select(id_col, F.col("_pg.pos").alias("pos"), F.col("_pg.gram").alias("gram"))
    h = F.conv(F.substring(F.md5("gram"), 1, 8), 16, 10).cast("long")
    # Enforce (don't assume) the documented pos < 2²⁰ bound: past it the
    # packed key would corrupt BOTH fph and pos silently (r9 ADVICE).
    # raise_error keeps the check JVM-side and free on the happy path.
    pos_checked = F.when(F.col("pos") < F.lit(1 << 20), F.col("pos")).otherwise(
        F.raise_error(
            F.concat(
                F.lit(
                    "winnow_fingerprints: token position >= 2^20 in doc "
                ),
                F.col(id_col).cast("string"),
                F.lit(" — key packing would corrupt fph/pos; chunk the "
                      "document upstream"),
            )
        ).cast("long")
    )
    keyed = grams.select(
        id_col,
        "pos",
        (h * F.lit(1048576) + pos_checked).alias("_key"),
        F.count(F.lit(1)).over(Window.partitionBy(id_col)).alias("_ng"),
    )
    win = (
        Window.partitionBy(id_col).orderBy("pos").rowsBetween(0, w - 1)
    )
    sel = keyed.select(
        id_col,
        "pos",
        "_ng",
        F.min("_key").over(win).alias("_skey"),
    ).filter(F.col("pos") <= F.col("_ng") - w)  # full windows only
    return sel.select(
        id_col,
        (F.col("_skey") % 1048576).alias("pos"),
        (F.col("_skey") / 1048576).cast("long").alias("fph"),
    ).distinct()


def stopword_overlap(toks: Column | str, lang: str) -> Column:
    """#distinct tokens ∩ the language's stopword set."""
    return F.size(
        F.array_intersect(
            F.array_distinct(toks), F.array(*[F.lit(w) for w in STOPWORDS[lang]])
        )
    )


def langid(toks: Column | str) -> Column:
    """Argmax stopword overlap with deterministic priority on ties."""
    s = {lang: stopword_overlap(toks, lang) for lang in STOPWORDS}
    return (
        F.when((s["en"] >= s["es"]) & (s["en"] >= s["de"]) & (s["en"] >= s["fr"]), "en")
        .when((s["es"] >= s["de"]) & (s["es"] >= s["fr"]), "es")
        .when(s["de"] >= s["fr"], "de")
        .otherwise("fr")
    )


def token_count_ws(text: Column | str) -> Column:
    return F.size(tokens(text))


def token_count_bpe(text: Column | str) -> Column:
    return F.regexp_count(text, F.lit(BPE_REGEX))


def fingerprint(text: Column | str, length: int = 16) -> Column:
    """md5 over whitespace-normalized lowercased text — the groupable
    stand-in for a rolling content hash."""
    return F.substring(
        F.md5(F.lower(F.regexp_replace(text, r"\s+", " "))), 1, length
    )


def quality_score(toks: Column | str) -> Column:
    """Length + English-stopword-coverage composite in [0, 1]."""
    n_tok = F.size(F.col(toks) if isinstance(toks, str) else toks)
    stop_cov = stopword_overlap(toks, "en") / F.lit(float(len(STOPWORDS["en"])))
    return F.least(F.lit(1.0), n_tok / F.lit(100.0)) * 0.5 + stop_cov * 0.5
