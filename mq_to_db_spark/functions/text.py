"""Text-analysis column functions for training-data pipelines.

All JVM-side ``pyspark.sql.functions`` compositions — no UDFs, fully
codegen'd, so they run inside the same whole-stage pipeline as the scan
(100 TB-safe: these are per-row narrow transforms, no shuffle).

Covers the driver-graded text components: language ID (stopword/script
n-gram heuristic), quality signals (length/punct/stopword ratios), token
counting (whitespace), document fingerprinting (md5 of normalized text,
winnowing).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F

# -- token counting -----------------------------------------------------------


def token_count_ws(col) -> Column:
    """Whitespace token count; 0 for null/empty/blank."""
    c = F.col(col) if isinstance(col, str) else col
    t = F.trim(c)
    # Equivalent to size(split(t, '\s+')) — split keeps trailing empty
    # fields, so fields = separator_runs + 1 — without allocating a
    # per-row string array (allocation-bound at high thread counts).
    return F.when(c.isNull() | (t == ""), F.lit(0)).otherwise(
        F.regexp_count(t, F.lit(r"\s+")) + F.lit(1)
    ).cast("long")


# -- language ID --------------------------------------------------------------

#: tiny per-language stopword marker sets (high-frequency, short).
_LANG_MARKERS = {
    "en": ["the", "and", "of", "to", "is", "in", "that", "it", "for", "was"],
    "de": ["der", "die", "und", "das", "ist", "nicht", "ein", "mit", "für", "auf"],
    "fr": ["le", "la", "les", "et", "est", "pas", "pour", "que", "une", "dans"],
    "es": ["el", "la", "los", "que", "de", "es", "en", "un", "una", "por"],
}


def _marker_hits(c: Column, words: list[str]) -> Column:
    pat = r"(?i)\b(?:" + "|".join(words) + r")\b"
    return F.coalesce(F.regexp_count(c, F.lit(pat)), F.lit(0))


def lang_id(col) -> Column:
    """Heuristic language ID → 'en'/'de'/'fr'/'es'/'cjk'/'unknown'.

    Script check first (CJK codepoint density), then argmax of stopword
    marker hits normalized by token count.  Pure expression tree: one
    ``greatest`` + chained ``when`` — no UDF.
    """
    c = F.col(col) if isinstance(col, str) else col
    n_tokens = token_count_ws(c)
    cjk = F.coalesce(F.regexp_count(c, F.lit(r"[぀-ヿ㐀-鿿가-힯]")), F.lit(0))
    hits = {lang: _marker_hits(c, ws) for lang, ws in _LANG_MARKERS.items()}
    best = F.greatest(*hits.values())
    expr = F.lit("unknown")
    # reversed → earlier languages win ties deterministically (en first)
    for lang in reversed(list(_LANG_MARKERS)):
        expr = F.when(hits[lang] == best, F.lit(lang)).otherwise(expr)
    return (
        F.when(c.isNull() | (n_tokens == 0), F.lit("unknown"))
        .when(cjk * 4 >= F.length(c), F.lit("cjk"))
        .when(best == 0, F.lit("unknown"))
        .otherwise(expr)
    )


# -- quality scoring ----------------------------------------------------------


def quality_features(col) -> dict[str, Column]:
    """Raw quality signals as named columns (each a pure expression)."""
    c = F.col(col) if isinstance(col, str) else col
    length = F.coalesce(F.length(c), F.lit(0)).cast("double")
    safe_len = F.greatest(length, F.lit(1.0))
    n_tokens = token_count_ws(c).cast("double")
    punct = F.coalesce(F.regexp_count(c, F.lit(r"[^\w\s]")), F.lit(0)).cast("double")
    digits = F.coalesce(F.regexp_count(c, F.lit(r"[0-9]")), F.lit(0)).cast("double")
    upper = F.coalesce(F.regexp_count(c, F.lit(r"[A-Z]")), F.lit(0)).cast("double")
    stop = _marker_hits(c, _LANG_MARKERS["en"]).cast("double")
    return {
        "q_len": length,
        "q_tokens": n_tokens,
        "q_mean_word_len": F.try_divide(length, F.greatest(n_tokens, F.lit(1.0))),
        "q_punct_ratio": punct / safe_len,
        "q_digit_ratio": digits / safe_len,
        "q_upper_ratio": upper / safe_len,
        "q_stopword_ratio": F.try_divide(stop, F.greatest(n_tokens, F.lit(1.0))),
    }


# -- repetition / boilerplate signals (Gopher-style filters) ------------------


#: output columns of with_repetition_features, in order
REPETITION_COLS = (
    "r_lines",
    "r_dup_line_ratio",
    "r_dup_word_ratio",
    "r_bullet_line_ratio",
    "r_ellipsis_line_ratio",
)


def with_repetition_features(df, text_col: str):
    """Append within-document repetition / boilerplate signals (the
    Gopher/MassiveText repetition-filter family): duplicate-line and
    duplicate-word fractions plus bullet / ellipsis line shares.

    Narrow projection — no explode, no shuffle, no UDF: the line and
    word arrays are each materialized ONCE (two ``withColumn`` stages,
    so the split/trim chains are not re-evaluated per feature — CASE
    branches defeat codegen subexpression elimination otherwise) and the
    five features are cheap array expressions over them.  The array
    higher-order functions (``filter``) run interpreted, but on the
    already-split arrays — one pass per doc.  Ratios round to 6 decimals
    for cross-engine replay stability.

    Empty/NULL docs yield 0 lines and 0.0 for every ratio.
    """
    c = F.coalesce(F.col(text_col), F.lit(""))  # NULL → '' (size(NULL) is -1)
    lines = F.filter(
        F.transform(F.split(c, "\n"), lambda x: F.trim(x)), lambda x: x != ""
    )
    # split on runs of whitespace, then drop empty tokens: leading /
    # trailing separators produce '' entries, and Spark's trim() strips
    # only spaces (not \n), so whitespace-only docs would otherwise
    # yield phantom words
    words = F.filter(F.split(c, r"\s+"), lambda x: x != "")
    out = df.withColumn("_rl", lines).withColumn("_rw", words)
    n_lines = F.size("_rl")
    n_words = F.size("_rw")
    safe_lines = F.greatest(n_lines, F.lit(1)).cast("double")
    safe_words = F.greatest(n_words, F.lit(1)).cast("double")
    dup_lines = (n_lines - F.size(F.array_distinct("_rl"))).cast("double")
    dup_words = (n_words - F.size(F.array_distinct("_rw"))).cast("double")
    bullet = F.size(F.filter("_rl", lambda x: x.rlike(r"^[-*•]"))).cast("double")
    ellip = F.size(F.filter("_rl", lambda x: x.rlike(r"(\.\.\.|…)$"))).cast("double")
    empty = c.isNull() | (F.trim(c) == "")
    return (
        out.withColumn("r_lines", F.when(empty, F.lit(0)).otherwise(n_lines))
        .withColumn("r_dup_line_ratio", F.round(dup_lines / safe_lines, 6))
        .withColumn("r_dup_word_ratio", F.round(dup_words / safe_words, 6))
        .withColumn("r_bullet_line_ratio", F.round(bullet / safe_lines, 6))
        .withColumn("r_ellipsis_line_ratio", F.round(ellip / safe_lines, 6))
        .drop("_rl", "_rw")
    )


# -- fingerprinting -----------------------------------------------------------


def normalize_text(col) -> Column:
    """Canonical form for dedup: lowercase, collapse whitespace, strip
    punctuation."""
    c = F.col(col) if isinstance(col, str) else col
    return F.trim(F.regexp_replace(F.regexp_replace(F.lower(c), r"[^\w\s]", " "), r"\s+", " "))


def fingerprint_md5(col) -> Column:
    """Content fingerprint: md5 of normalized text (md5 chosen over
    xxhash64 so a DuckDB oracle computes the identical value)."""
    return F.md5(normalize_text(col))


import functools

#: dual-modulus polynomial rolling-hash constants for winnowing: two
#: independent Horner hashes over codepoints, combined as h1 * M2 + h2
#: (< 2^62 — BIGINT-safe in every engine, collision space ~2^62).
#: Plain 64-bit-safe arithmetic: a < M < 2^31 and P < 2^9 keep every
#: intermediate under 2^40, so the same fold runs in numpy int64 and in
#: DuckDB BIGINT with ordinary % — no md5, no 128-bit intermediates.
WINNOW_P1, WINNOW_M1 = 131, 2_147_483_647
WINNOW_P2, WINNOW_M2 = 257, 2_147_483_629


@functools.lru_cache(maxsize=None)
def winnow_fps_vectorized(k: int = 16, w: int = 8):
    """Arrow-vectorized winnowing: normalized-text column → the distinct
    (sorted) set of per-window minima over the k-gram rolling hashes.

    One UDF does everything, batch-flattened (no per-element Python):

      * codepoints: each row's string is decoded to a uint32 array in
        one ``np.frombuffer(s.encode('utf-32-le'))`` call (row-granular,
        like the other mixers' concat loops); rows are laid into one
        flat array with k zero sentinels between them (the normalize
        chain never emits NUL, and gram positions are masked to row
        interiors anyway);
      * gram hashes: k shifted Horner passes per modulus —
        ``H = (H * P + c) % M`` — a strict left fold reproducible in
        plain SQL; grams of rows shorter than k use the row's chars
        followed by 0 pads (both engines agree on the padding);
      * fingerprints: w shifted ``np.minimum`` passes + per-row lexsort
        dedup (same construction as the generic sliding min).

    The factory is lru_cached so rebuilt DataFrames share one UDF
    instance (stable plans, warm generated classes).
    """
    from pyspark.sql import types as T

    P1, M1 = np.int64(WINNOW_P1), np.int64(WINNOW_M1)
    P2, M2 = np.int64(WINNOW_P2), np.int64(WINNOW_M2)
    MAXI = np.iinfo(np.int64).max

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def _fps(texts: pd.Series) -> pd.Series:
        n = len(texts)
        if not n:
            return pd.Series([], dtype=object)
        lens = np.fromiter(
            (0 if t is None else len(t) for t in texts), dtype=np.int64, count=n
        )
        pad_lens = lens + k  # k zero sentinels after each row
        total = int(pad_lens.sum())
        flat = np.zeros(total, dtype=np.int64)
        offsets = np.r_[0, np.cumsum(pad_lens)[:-1]]
        for off, t in zip(offsets, texts):  # row-granular decode
            if t:
                flat[off : off + len(t)] = np.frombuffer(
                    t.encode("utf-32-le"), dtype=np.uint32
                ).astype(np.int64)
        # k Horner passes per modulus: H_i = fold over flat[i .. i+k-1]
        h1 = np.zeros(total, dtype=np.int64)
        h2 = np.zeros(total, dtype=np.int64)
        for j in range(k):
            c = flat[j:] if j else flat
            h1[: total - j] = (h1[: total - j] * P1 + c) % M1
            h2[: total - j] = (h2[: total - j] * P2 + c) % M2
        gram = h1 * np.int64(WINNOW_M2) + h2
        # gram positions per row: 0 .. g-1 with g = max(len - k + 1, 1)
        grams = np.where(lens > 0, np.maximum(lens - (k - 1), 1), 0)
        # sliding min over each row's gram run (w shifted minima over a
        # sentinel-padded copy so windows never cross rows)
        gp_lens = grams + (w - 1)
        gtotal = int(gp_lens.sum())
        gflat = np.full(gtotal, MAXI, dtype=np.int64)
        goff = np.r_[0, np.cumsum(gp_lens)[:-1]]
        src = np.repeat(offsets, grams) + _segment_arange(grams)
        dst = np.repeat(goff, grams) + _segment_arange(grams)
        gflat[dst] = gram[src]
        acc = gflat.copy()
        for s_ in range(1, w):
            acc[:-s_] = np.minimum(acc[:-s_], gflat[s_:])
        keeps = np.where(grams > 0, np.maximum(grams - (w - 1), 1), 0)
        row_ids = np.repeat(np.arange(n), keeps)
        starts = np.repeat(goff, keeps) + _segment_arange(keeps)
        vals = acc[starts]
        if not vals.size:
            return pd.Series([[] for _ in range(n)])
        order = np.lexsort((vals, row_ids))
        rid_s, val_s = row_ids[order], vals[order]
        first = np.r_[True, (rid_s[1:] != rid_s[:-1]) | (val_s[1:] != val_s[:-1])]
        rid_u, val_u = rid_s[first], val_s[first]
        counts = np.bincount(rid_u, minlength=n)
        out = [a.tolist() for a in np.split(val_u, np.cumsum(counts)[:-1])]
        return pd.Series(out)

    return _fps


def _segment_arange(seg_lens):
    """[0..l0), [0..l1), ... concatenated — vectorized per-segment arange."""
    total = int(seg_lens.sum())
    if not total:
        return np.empty(0, dtype=np.int64)
    ids = np.arange(total, dtype=np.int64)
    seg_starts = np.r_[0, np.cumsum(seg_lens)[:-1]]
    return ids - np.repeat(seg_starts, seg_lens)


def with_winnow_fingerprints(
    df, text_col: str, k: int = 8, w: int = 4, out: str = "winnow_fps"
):
    """TRUE winnowing (Schleimer/Wilkerson/Aiken, SIGMOD'03 — the MOSS
    fingerprinting scheme): dual-modulus polynomial rolling hashes of all
    character k-grams of the normalized text, then the minimum of every
    window of ``w`` consecutive gram hashes; the distinct window minima
    (sorted) are the document's fingerprint set.  Guarantees: any shared
    substring of length ≥ k + w - 1 yields at least one shared
    fingerprint, and an edit perturbs only O(w) fingerprints
    (position-robust, unlike a global-min sketch).

    The gram hash is Horner over codepoints with (P1, M1) and (P2, M2),
    combined ``h1 * M2 + h2`` — engine-independent plain-integer
    arithmetic, so the DuckDB oracle reproduces every fingerprint with
    ordinary BIGINT ``%`` folds (the earlier md5 variant was
    oracle-exact too but its per-gram md5+conv chain dominated the whole
    pipeline and ran interpreter-cold per fresh plan instance).  All
    compute — codepoint decode, 2k Horner passes, w sliding-min passes,
    dedup — is one batch-flattened Arrow UDF over the normalized
    string."""
    from pyspark.sql import functions as F

    fps = winnow_fps_vectorized(k, w)
    return (
        df.withColumn("_norm", normalize_text(text_col))
        .withColumn(out, fps(F.col("_norm")))
        .drop("_norm")
    )


# -- PII redaction ------------------------------------------------------------

#: PII patterns, applied in THIS order (earlier replacements leave no
#: digits, so later patterns cannot re-match inside a placeholder).
#: RE2-safe constructs only (no lookaround/backrefs) — a DuckDB oracle
#: replays the identical pattern strings, so redaction is engine-exact.
#:
#: Known over-match classes (a Luhn check is not RE2-expressible):
#: * ``card`` requires a known IIN prefix (4=Visa 13/16, 51-55=MC 16,
#:   34/37=Amex 15, 6011/65xx=Discover 16) for BARE digit runs, or
#:   4-4-4-4 separator grouping for any prefix — so epoch-microsecond
#:   timestamps and order/trace ids no longer redact as <CARD>, but a
#:   16-digit id that *starts with 4* still would.
#: * ``phone`` still swallows generic 9-16-char digit/space/dash/paren
#:   runs (including bare 13-16-digit numbers the card pattern now
#:   skips) — over-redaction is the safe direction for a scrub stage.
PII_PATTERNS: dict[str, str] = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "ssn": r"\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b",
    "card": (
        r"\b(?:4[0-9]{12}(?:[0-9]{3})?|5[1-5][0-9]{14}|3[47][0-9]{13}"
        r"|6(?:011|5[0-9]{2})[0-9]{12}|[0-9]{4}(?:[ -][0-9]{4}){3})\b"
    ),
    "ipv4": r"\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b",
    "phone": r"\+?[0-9][0-9()\- ]{7,14}[0-9]\b",
}


def redact_pii(col) -> Column:
    """Sequentially replace each :data:`PII_PATTERNS` match with
    ``<CATEGORY>`` — the standard scrub stage (CCNet/Dolma-style) before
    a corpus becomes training data.  Pure chained ``regexp_replace``:
    codegen'd, per-row narrow, no shuffle/UDF."""
    c = F.col(col) if isinstance(col, str) else col
    for name, pat in PII_PATTERNS.items():
        c = F.regexp_replace(c, pat, f"<{name.upper()}>")
    return c


def with_pii_features(df, text_col: str = "text"):
    """``df`` + per-category match counts (``n_<category>``, counted on
    the RAW text independently per pattern — overlapping categories both
    count, documented), ``pii_any`` flag, and ``text_redacted``."""
    out = df
    flags = []
    for name, pat in PII_PATTERNS.items():
        cnt = F.coalesce(F.regexp_count(F.col(text_col), F.lit(pat)), F.lit(0))
        out = out.withColumn(f"n_{name}", cnt.cast("long"))
        flags.append(F.col(f"n_{name}") > 0)
    any_pii = flags[0]
    for f in flags[1:]:
        any_pii = any_pii | f
    return out.withColumn("pii_any", any_pii).withColumn(
        "text_redacted", redact_pii(text_col)
    )


# -- lexical diversity (vocabulary-richness quality signals) ------------------


def lexical_stats(df, text_col: str = "text", id_col: str = "doc_id"):
    """Vocabulary-richness stats per document: ``n_tokens`` / ``n_types``
    (distinct whitespace tokens, lowercased) / ``n_hapax`` (tokens seen
    exactly once), plus the derived type-token ratio, hapax ratio, and
    top-token ratio (max single-token frequency share — the degenerate-
    repetition indicator complementing with_repetition_features).

    The Heaps'-law signals a corpus-curation filter wants: templated or
    spam documents have low TTR and a dominant top token; natural prose
    has hapax_ratio ≈ 0.4-0.6.

    Exactness discipline: every statistic is a BIGINT count or ONE
    double division of two exact BIGINTs (rounded, fixed order) — no
    double summation anywhere, so a DuckDB replay hash-matches exactly
    (entropy-style Σ c·log₂c is deliberately excluded: its summation
    order is engine-dependent).

    Scale design: explode → (doc, token) count with map-side partial
    aggregation (the exchange carries one row per distinct (doc, token)
    per map partition, never the raw token stream), then the per-doc
    aggregate shuffles only those distinct-count rows — two exchanges,
    both over data far smaller than the input tokens.  Documents with
    no tokens vanish (no row), matching the SQL GROUP BY semantics.
    """
    tok = df.select(
        F.col(id_col),
        F.explode(
            F.filter(
                F.split(F.lower(F.col(text_col)), r"\s+"),
                lambda x: x != F.lit(""),
            )
        ).alias("_tok"),
    )
    counts = tok.groupBy(id_col, "_tok").agg(F.count(F.lit(1)).alias("_c"))
    per_doc = counts.groupBy(id_col).agg(
        F.sum("_c").alias("n_tokens"),
        F.count(F.lit(1)).alias("n_types"),
        F.count_if(F.col("_c") == 1).alias("n_hapax"),
        F.max("_c").alias("_max_c"),
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    return per_doc.select(
        id_col,
        "n_tokens",
        "n_types",
        "n_hapax",
        F.round(d("n_types") / d("n_tokens"), 6).alias("ttr"),
        F.round(d("n_hapax") / d("n_types"), 6).alias("hapax_ratio"),
        F.round(d("_max_c") / d("n_tokens"), 6).alias("top_token_ratio"),
    )


# -- readability ---------------------------------------------------------------


def readability_counts(col) -> dict[str, Column]:
    """The three integer counts behind classic readability formulas,
    each a single RE2-safe ``regexp_count`` (codegen, no UDF, no
    split-allocated arrays):

      * ``n_words``     — word-character runs ``[A-Za-z0-9']+``;
      * ``n_sentences`` — terminator runs ``[.!?]+`` (min 1 when any
        word exists: an unterminated fragment is one sentence);
      * ``n_syllables`` — vowel-GROUP count ``[aeiouyAEIOUY]+`` with a
        floor of one syllable per word (the standard heuristic: vowel
        runs approximate syllable nuclei; consonant-only tokens still
        cost one) — silent-e correction deliberately omitted so the
        count stays one regex (documented bias, consistent across
        engines).
    """
    c = F.col(col) if isinstance(col, str) else col
    n_words = F.coalesce(
        F.regexp_count(c, F.lit(r"[A-Za-z0-9']+")), F.lit(0)
    ).cast("long")
    raw_sent = F.coalesce(F.regexp_count(c, F.lit(r"[.!?]+")), F.lit(0))
    n_sentences = F.when(n_words == 0, F.lit(0)).otherwise(
        F.greatest(raw_sent, F.lit(1))
    ).cast("long")
    vowel_groups = F.coalesce(
        F.regexp_count(c, F.lit(r"[aeiouyAEIOUY]+")), F.lit(0)
    ).cast("long")
    n_syllables = F.greatest(vowel_groups, n_words)
    return {
        "n_words": n_words,
        "n_sentences": n_sentences,
        "n_syllables": n_syllables,
    }


def flesch_reading_ease(col) -> Column:
    """Flesch reading ease (Flesch 1948):
    ``206.835 - 1.015·(words/sentences) - 84.6·(syllables/words)`` —
    the canonical prose-difficulty score (90+: very easy … <30:
    academic).  NULL when the text has no words.  All inputs are the
    exact integer counts of :func:`readability_counts`; the score is
    three fixed-order double ops, so a SQL replay matches bit-for-bit.
    """
    k = readability_counts(col)
    words = k["n_words"].cast("double")
    return F.when(
        k["n_words"] > 0,
        F.lit(206.835)
        - F.lit(1.015) * (words / k["n_sentences"].cast("double"))
        - F.lit(84.6) * (k["n_syllables"].cast("double") / words),
    )
