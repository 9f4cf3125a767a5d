"""Deduplication operators for large-scale training-data pipelines.

Four strategies, fine → coarse, all shuffle-aware:

  * **exact** — hash-groupBy on a content fingerprint; one shuffle on the
    (high-cardinality, well-distributed) hash → no skew.
  * **MinHash + LSH** — word-shingle → H minhashes → band/bucket join.
    Candidate generation is an explode+self-join *on band buckets* (never
    all-pairs); verification re-computes exact Jaccard on candidates only.
    Classic Broder/Leskovec-Rajaraman-Ullman (MMDS ch.3) construction.
  * **SimHash** — 60-bit Charikar signature: per-word md5 hashes computed
    JVM-side (codegen), bit voting in one Arrow-vectorized pandas UDF
    (batch-flattened bit matrix + ``np.add.reduceat`` — no per-row
    Python); near-dups share signatures within small Hamming distance,
    found by pigeonhole band match on 4×15-bit chunks (exact recall for
    hamming ≤ 3).  md5 (not xxhash64) so the DuckDB oracle reproduces
    signatures bit-for-bit.
  * **n-gram Jaccard** — inverted-index pair generation (explode shingle →
    join on shingle → count shared) with document-frequency pruning so a
    stopword-shingle can't explode the join (the skew guard at 100 TB).

Hashes are md5-derived (not xxhash64) wherever a DuckDB oracle needs to
reproduce the value; xxhash64 where only self-consistency matters.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window as W
from pyspark.sql import functions as F
from pyspark.sql import types as T

from mq_to_db_spark.functions.text import normalize_text

#: SQL text of normalize_text (for F.expr-built pipelines; keep in sync)
_NORM_TEXT_SQL = (
    "trim(regexp_replace(regexp_replace(lower({col}), '[^\\\\w\\\\s]', ' '), '\\\\s+', ' '))"
)

# -- exact --------------------------------------------------------------------


def dedup_exact(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Keep the lowest-id representative of each exact (normalized)
    duplicate class.  min_by avoids a window shuffle: single hash agg."""
    fp = F.md5(normalize_text(text_col))
    return (
        df.withColumn("_fp", fp)
        .groupBy("_fp")
        .agg(
            F.min_by(F.struct(*df.columns), F.col(id_col)).alias("_rep"),
            F.count(F.lit(1)).alias("dup_count"),
        )
        .select("_rep.*", "dup_count")
    )


# -- shingles + minhash -------------------------------------------------------


def hashed_shingle_sets(
    df: DataFrame, id_col: str, text_col: str, n: int = 3
) -> DataFrame:
    """(id, shingles: array<bigint>) — distinct word-n-gram shingle sets
    as int64 hashes, built WITHOUT materializing shingle strings: words
    are hashed once, shingle identity is xxhash64 over the word-hash
    n-tuple (measured ~7× faster than `array_join(slice(...))` string
    shingles; Jaccard over the hash sets equals Jaccard over string
    shingles up to ~2^-64 collisions).  Docs shorter than n words clamp
    indices → their single degenerate shingle, mirroring the string
    path's whole-text shingle.  Null/empty docs are dropped."""
    tuple_hash = "xxhash64(" + ", ".join(
        f"element_at(_wh, i + {k})" for k in range(n)
    ) + ")"
    # docs shorter than n words get ONE shingle hashing the WHOLE word-hash
    # array (not a clamped n-tuple: clamping collapsed 'a', 'a a', 'a b b'…
    # prefix-equivalent short docs onto one hash — false J=1.0 pairs the
    # string-shingle path and the DuckDB oracles never produce); hashing
    # the array keeps short docs distinct unless their full word sequences
    # match, mirroring the string path's full-text shingle exactly.
    return (
        df.select(F.col(id_col).alias("id"), F.col(text_col).alias("text"))
        # null filter BEFORE the _wh projection: the predicate that pushes
        # to the scan is the cheap isnotnull, never an inlined copy of the
        # split/hash chain.  (A size(_wh) > 0 guard would be vacuous —
        # split() returns at least [''] for any non-null string.)
        .filter(F.col("text").isNotNull())
        .withColumn(
            "_wh",
            F.expr(
                "transform(split(" + _NORM_TEXT_SQL.format(col="text") + ", ' '), w -> xxhash64(w))"
            ),
        )
        .withColumn(
            "shingles",
            F.expr(
                f"CASE WHEN size(_wh) < {n} THEN array(xxhash64(_wh)) "
                f"ELSE array_distinct(transform(sequence(1, size(_wh) - {n - 1}), "
                f"i -> {tuple_hash})) END"
            ),
        )
        .select("id", "shingles")
    )


import functools


@functools.lru_cache(maxsize=None)
def minhash_signature_vectorized(n_hashes: int = 32):
    """Arrow-vectorized minhash over pre-hashed shingles — the scale path.

    A pure-expression fold (``aggregate`` of ``zip_with`` over the
    shingle array) is evaluated interpreted (higher-order functions sit
    outside whole-stage codegen) and allocates a seq+zip_with array pair
    *per shingle* — measured ~5× slower than this split: the JVM hashes each shingle string once
    (``transform(shingles, s -> xxhash64(s))``), then this pandas UDF
    derives all ``n_hashes`` minima with 32 affine mixes over the
    concatenated hash array + ``np.minimum.reduceat`` per row segment —
    per-batch numpy, no per-element Python (input_hint discipline).

    Returns a callable mapping an ``array<bigint>`` column of base hashes
    to the ``array<bigint>`` signature column.
    """
    rng = np.random.default_rng(0x5EED)
    # odd multipliers → bijective multiply-mix mod 2^64 (Dietzfelbinger
    # multiply-shift family); offsets break alignment between seeds.
    A = (rng.integers(0, 2**63, size=n_hashes, dtype=np.uint64) << np.uint64(1)) | np.uint64(1)
    B = rng.integers(0, 2**63, size=n_hashes, dtype=np.uint64)

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def _mix(hashes: pd.Series) -> pd.Series:
        if not len(hashes):
            return pd.Series([], dtype=object)
        lens = np.fromiter((len(h) for h in hashes), dtype=np.int64, count=len(hashes))
        flat = (
            np.concatenate([np.asarray(h, dtype=np.int64) for h in hashes])
            .astype(np.uint64)
            if lens.sum()
            else np.empty(0, dtype=np.uint64)
        )
        offsets = np.r_[0, np.cumsum(lens)[:-1]]
        nonempty = lens > 0
        out = np.full((len(hashes), n_hashes), np.iinfo(np.int64).max, dtype=np.int64)
        with np.errstate(over="ignore"):
            for i in range(n_hashes):
                mixed = flat * A[i] + B[i]
                mixed ^= mixed >> np.uint64(31)
                if len(flat):
                    # bit-level view: the uint64 minimum reinterpreted as
                    # int64 — equality across docs (all minhash needs) is
                    # preserved exactly
                    mins = np.minimum.reduceat(mixed, offsets[nonempty])
                    out[nonempty, i] = mins.view(np.int64)
        return pd.Series(list(out))

    return _mix


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
    verify_threshold: float = 0.5,
) -> DataFrame:
    """Near-duplicate pairs (id_a < id_b) with exact Jaccard ≥ threshold.

    rows/bands tuned so the LSH S-curve midpoint ≈ threshold^(1/r).
    Verification computes exact Jaccard over the shingle sets of
    candidates only."""
    assert n_hashes % bands == 0
    r = n_hashes // bands
    mix = minhash_signature_vectorized(n_hashes)
    # Numeric shingle sets (hashed_shingle_sets — no shingle strings);
    # the Arrow UDF derives all n_hashes minima from the integer hashes
    # (minhash_signature_vectorized), and verification computes exact
    # Jaccard over the same hash sets.
    base = (
        hashed_shingle_sets(df, id_col, text_col, shingle_n)
        .select("id", "shingles", mix(F.col("shingles")).alias("sig"))
        .persist()  # reused 3× (banding + both sides of verification)
    )
    banded = base.select(
        "id",
        F.explode(
            F.expr(
                f"transform(sequence(0, {bands - 1}), "
                f"b -> struct(b AS band, array_join(slice(sig, b * {r} + 1, {r}), ',') AS key))"
            )
        ).alias("bk"),
    ).select("id", "bk.band", "bk.key")
    cands = _bucket_pairs(banded, ["band", "key"])
    inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
    union = F.size(F.array_union("sh_a", "sh_b")).cast("double")
    return (
        cands.join(base.select(F.col("id").alias("id_a"), F.col("shingles").alias("sh_a")), "id_a")
        .join(base.select(F.col("id").alias("id_b"), F.col("shingles").alias("sh_b")), "id_b")
        .withColumn("jaccard", F.try_divide(inter, union))
        .filter(F.col("jaccard") >= verify_threshold)
        .select("id_a", "id_b", "jaccard")
    )


def _bucket_pairs(banded: DataFrame, bucket_cols: list[str], max_bucket: int = 200) -> DataFrame:
    """Distinct candidate (id_a < id_b) pairs from LSH buckets.

    Collect ids per bucket and expand ordered pairs with an expression —
    no self-join, so the (possibly expensive) upstream computes once and
    the shuffle carries bare ids.  Buckets larger than ``max_bucket`` are
    dropped (degenerate all-near-identical content; exact dedup catches
    those far cheaper than O(b²) pair expansion — the skew guard)."""
    pair_expr = F.expr(
        "flatten(transform(ids, (x, i) -> "
        "transform(slice(ids, i + 2, size(ids) - i - 1), "
        "y -> struct(least(x, y) AS id_a, greatest(x, y) AS id_b))))"
    )
    return (
        banded.groupBy(*bucket_cols)
        .agg(F.collect_list("id").alias("ids"))
        .filter((F.size("ids") > 1) & (F.size("ids") <= max_bucket))
        .select(F.explode(pair_expr).alias("p"))
        .select("p.id_a", "p.id_b")
        .distinct()
    )


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 8,
) -> DataFrame:
    """Exact connected components over an undirected pair list →
    ``(id, component)`` with component = min id in the cluster.

    Min-label propagation WITH pointer-jumping: each round every node
    (1) adopts the minimum label among itself and its neighbors
    (HashMin hooking), then (2) shortcuts to its label's label
    (``component ← label(component)``), so reachable-label distance
    roughly doubles per round and convergence takes **O(log diameter)**
    rounds — not the O(diameter) of plain propagation that a long
    duplicate chain would hit at 100 TB (cf. the star algorithms of
    Kiveris et al., SoCC'14, which achieve the same bound).  Duplicate
    clusters are near-cliques (1-2 rounds in practice); the loop
    early-exits when a round changes nothing, and a graph that still
    hasn't converged after ``max_iter`` rounds raises rather than
    silently returning wrong labels (raise > warn: a wrong drop-set
    corrupts the dedup output downstream).  Each round is two
    shuffle-joins over the edge/label lists; ``localCheckpoint``
    truncates the growing lineage (on a real cluster use
    ``spark.sparkContext.setCheckpointDir`` + ``checkpoint()`` for
    fault-tolerant truncation).  Labels only ever decrease and are
    bounded by the true component minimum, so shortcutting never
    changes the fixpoint — only how fast it is reached."""
    edges = (
        pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
        .union(pairs.select(F.col(id_b).alias("src"), F.col(id_a).alias("dst")))
        .distinct()
        .persist()
    )
    labels = edges.select(F.col("src").alias("id")).distinct().withColumn(
        "component", F.col("id")
    )
    converged = False
    for _ in range(max_iter):
        # (1) hooking: min over own label and neighbors' labels
        nbr_min = (
            edges.join(labels, edges.src == labels.id)
            .select(F.col("dst").alias("id"), "component")
        )
        hooked = (
            labels.union(nbr_min)
            .groupBy("id")
            .agg(F.min("component").alias("component"))
        )
        # (2) pointer jump: component ← component's own label (labels
        # cover every node, components are node ids ⇒ inner-join-safe
        # via left join + coalesce for self-rooted labels)
        jump = hooked.select(
            F.col("id").alias("component"), F.col("component").alias("_jump")
        )
        new_labels = (
            hooked.join(jump, "component", "left")
            .select(
                "id", F.coalesce("_jump", F.col("component")).alias("component")
            )
            .localCheckpoint(eager=True)
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "id")
            .filter(F.col("n.component") != F.col("o.component"))
            .limit(1)
            .count()
        )
        labels = new_labels
        if changed == 0:
            converged = True
            break
    edges.unpersist()
    if not converged:
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds "
            "(log2(component diameter) exceeds max_iter); raise max_iter"
        )
    return labels


def dedup_minhash(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.7,
    exact_components: bool = True,
    **kw,
) -> DataFrame:
    """Drop near-duplicates, keeping one representative (the minimum id)
    per duplicate cluster.

    ``exact_components=True`` (default) resolves chained duplicates
    (A~B, B~C, A≁C ⇒ keep only A) via bounded label propagation —
    deterministic drop-sets.  ``False`` falls back to the cheaper one-pass
    keep-lowest-id-neighbor approximation (at most one extra survivor per
    chain link — fine when clusters are cliques)."""
    pairs = minhash_lsh_pairs(df, id_col, text_col, verify_threshold=threshold, **kw)
    if exact_components:
        comp = connected_components(pairs)
        losers = comp.filter(F.col("id") != F.col("component")).select(
            F.col("id").alias(id_col)
        )
    else:
        losers = pairs.select(F.col("id_b").alias(id_col)).distinct()
    return df.join(losers, id_col, "left_anti")


# -- n-gram Jaccard via inverted index ---------------------------------------


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_n: int = 3,
    threshold: float = 0.5,
    max_doc_freq: int = 1000,
) -> DataFrame:
    """Exact Jaccard pairs via inverted index: explode shingles, self-join
    on shingle, count shared, compute |A∩B| / (|A|+|B|-|A∩B|).

    ``max_doc_freq`` prunes shingles appearing in more than N docs before
    the self-join — the skew guard: a ubiquitous shingle would otherwise
    produce O(N²) candidate rows."""
    # numeric shingle sets (hashed_shingle_sets): identical inter/union
    # counts up to ~2^-64 collisions, and the posting shuffle carries
    # 8-byte keys instead of shingle text
    docs = (
        hashed_shingle_sets(df, id_col, text_col, shingle_n)
        .withColumnRenamed("shingles", "sh")
        .withColumn("n_sh", F.size("sh"))
    )
    # materialize the posting list once — it feeds the frequency count and
    # both sides of the self-join (3 consumers of an expensive subtree)
    posting = docs.select("id", "n_sh", F.explode("sh").alias("shingle")).persist()
    freq = posting.groupBy("shingle").count().filter(F.col("count") <= max_doc_freq)
    posting = posting.join(F.broadcast(freq.select("shingle")), "shingle")
    a = posting.alias("a")
    b = posting.alias("b")
    shared = (
        a.join(b, "shingle")
        .filter(F.col("a.id") < F.col("b.id"))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"),
                 F.col("a.n_sh").alias("na"), F.col("b.n_sh").alias("nb"))
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    jac = F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter"))
    return (
        shared.withColumn("jaccard", jac.cast("double"))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


# -- simhash ------------------------------------------------------------------


SIMHASH_BITS = 60  # 15 hex chars of md5 → fits a signed 64-bit long exactly


@F.pandas_udf(T.LongType())
def _simhash_votes(hashes: pd.Series) -> pd.Series:
    """Bit-vote reduction: ``array<bigint>`` of per-word 60-bit hashes →
    60-bit Charikar signature.  Fully batch-vectorized (mirrors the
    minhash mixer): flatten all words of the Arrow batch into one array,
    unpack to a (total_words × 60) sign matrix, ``np.add.reduceat`` per
    row segment, re-pack the vote signs — no per-row Python loop.

    Word *hashing* happens JVM-side (md5, codegen) so the signature is
    reproducible by the DuckDB oracle; this UDF only reduces."""
    n = len(hashes)
    if not n:
        return pd.Series([], dtype="int64")
    lens = np.fromiter(
        (0 if h is None else len(h) for h in hashes), dtype=np.int64, count=n
    )
    out = np.zeros(n, dtype=np.int64)
    if lens.sum() == 0:
        return pd.Series(out)
    flat = np.concatenate(
        [np.asarray(h, dtype=np.int64) for h in hashes if h is not None and len(h)]
    ).astype(np.uint64)
    shifts = np.arange(SIMHASH_BITS, dtype=np.uint64)
    # ±1 vote per (word, bit); int32 caps batch segments at 2^31 words/doc
    signed = 2 * ((flat[:, None] >> shifts[None, :]) & np.uint64(1)).astype(np.int32) - 1
    offsets = np.r_[0, np.cumsum(lens)[:-1]]
    nonempty = lens > 0
    votes = np.add.reduceat(signed, offsets[nonempty], axis=0)
    sig = ((votes >= 0).astype(np.uint64) << shifts[None, :]).sum(axis=1, dtype=np.uint64)
    out[nonempty] = sig.view(np.int64)
    return pd.Series(out)


def simhash(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """60-bit simhash per doc: normalize → split → md5 word hashes (JVM,
    one codegen pass, term frequency = vote weight) → Arrow bit-vote UDF.
    Empty/null docs are dropped (no signal to hash)."""
    return (
        df.select(F.col(id_col).alias("id"), normalize_text(text_col).alias("_norm"))
        .filter(F.length("_norm") > 0)
        .withColumn("_words", F.split("_norm", " "))
        .withColumn(
            "_h",
            F.expr("transform(_words, w -> cast(conv(substring(md5(w), 1, 15), 16, 10) as bigint))"),
        )
        .select("id", _simhash_votes(F.col("_h")).alias("simhash"))
    )


def simhash_pairs(
    df: DataFrame, id_col: str, text_col: str, max_hamming: int = 3, n_chunks: int = 4
) -> DataFrame:
    """Pairs within Hamming distance ≤ ``max_hamming``, via the pigeonhole
    trick: split 60 bits into ``n_chunks`` chunks of 15; any pair within
    distance ``n_chunks - 1`` agrees exactly on ≥1 chunk → join per
    chunk, verify with bit_count(xor).  For the default (4 chunks,
    distance ≤ 3) recall is exactly 1.0 — the result is deterministic and
    oracle-checkable (full O(n²) hamming join in DuckDB at test scale)."""
    assert max_hamming < n_chunks, "pigeonhole exactness needs max_hamming < n_chunks"
    width = SIMHASH_BITS // n_chunks
    mask = (1 << width) - 1
    # persist: the pandas-UDF signature feeds banding + both verify joins
    sigs = simhash(df, id_col, text_col).persist()
    chunks = sigs.select(
        "id",
        F.explode(
            F.expr(
                f"transform(sequence(0, {n_chunks - 1}), c -> "
                f"struct(c AS chunk, shiftright(simhash, c * {width}) & {mask} AS key))"
            )
        ).alias("ck"),
    ).select("id", "ck.chunk", "ck.key")
    cands = _bucket_pairs(chunks, ["chunk", "key"])
    ham = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    return (
        cands.join(sigs.select(F.col("id").alias("id_a"), F.col("simhash").alias("sh_a")), "id_a")
        .join(sigs.select(F.col("id").alias("id_b"), F.col("simhash").alias("sh_b")), "id_b")
        .select("id_a", "id_b", ham.cast("int").alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
    )


# -- embedding near-dup -------------------------------------------------------


def embedding_neardup_pairs(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float = 0.95,
    n_planes: int = 8,
    n_bands: int = 8,
) -> DataFrame:
    """Near-duplicate pairs by embedding cosine ≥ threshold; candidates
    from ``n_bands`` independent random-hyperplane LSH bands (a pair is a
    candidate if it collides in *any* band — the OR-construction that
    recovers recall the single-signature variant lacked), verified with
    exact cosine.  P(candidate | cos=c) = 1-(1-p^n_planes)^n_bands with
    p = 1-arccos(c)/π; at the 0.95 default: ≥0.98."""
    from mq_to_db_spark.operators.similarity import (
        band_signatures_with_norm,
        dot,
        hyperplane_planes,
    )

    dim_row = df.select(F.size(F.col(vec_col)).alias("d")).first()
    if dim_row is None:
        return df.sparkSession.createDataFrame(
            [], "id_a long, id_b long, cosine double"
        )
    dim = dim_row.d
    sigs = band_signatures_with_norm(
        [hyperplane_planes(n_planes, dim, seed=1000 + b) for b in range(n_bands)]
    )
    # null / wrong-dimension vectors are filtered before the signature UDF
    # (a ragged Arrow batch would fail the whole job for one bad row).
    # Signatures AND the per-row norm come out of ONE Arrow pass
    # (band_signatures_with_norm — strict-fold accumulation, bit-
    # identical to l2_norm/cosine_sim_cols), so the persisted base pays
    # a single batch read of the vectors and the pair stage 1 fold
    # instead of 3 (semcluster's pair-stage lesson, PROFILE §7/§9)
    base = (
        df.filter(F.col(vec_col).isNotNull() & (F.size(vec_col) == dim))
        .select(F.col(id_col).alias("id"), F.col(vec_col).alias("vec"))
        .withColumn("_sn", sigs(F.col("vec")))
        .select(
            "id",
            "vec",
            F.col("_sn")["sigs"].alias("_s"),
            F.col("_sn")["norm"].alias("_n"),
        )
        .persist()
    )
    banded = base.select(
        "id", F.posexplode(F.col("_s")).alias("band", "key")
    )
    cands = _bucket_pairs(banded, ["band", "key"])
    cos = F.try_divide(
        dot(F.col("va").cast("array<double>"), F.col("vb").cast("array<double>")),
        F.col("na") * F.col("nb"),
    )
    return (
        cands.join(
            base.select(
                F.col("id").alias("id_a"),
                F.col("vec").alias("va"),
                F.col("_n").alias("na"),
            ),
            "id_a",
        )
        .join(
            base.select(
                F.col("id").alias("id_b"),
                F.col("vec").alias("vb"),
                F.col("_n").alias("nb"),
            ),
            "id_b",
        )
        .select("id_a", "id_b", cos.alias("cosine"))
        .filter(F.col("cosine") >= threshold)
    )


# -- winnowing fingerprint pairs ----------------------------------------------


def editdist_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    min_sim: float = 0.8,
    jaccard_floor: float = 0.3,
    **lsh_kw,
) -> DataFrame:
    """Fuzzy-dedup pairs by EXACT Levenshtein similarity, LSH-bounded.

    Character-level edit similarity ``1 - lev/max(len)`` is the
    classic fuzzy-match verdict (record linkage / OCR dedup) and
    catches reorder-free small edits that shingle Jaccard scores
    coarsely.  Computing it all-pairs is O(n² · len²) — never at
    corpus scale — so candidates come from :func:`minhash_lsh_pairs`
    (exact Jaccard ≥ ``jaccard_floor`` after banding), and only those
    pairs pay the exact ``levenshtein`` dynamic program.  At the
    fixture's operating point the candidate stage has no false
    negatives for edit-sim ≥ 0.8 pairs (near-identical texts share
    shingles overwhelmingly), so the two-stage result is the exact
    answer there — and the oracle replays BOTH stages, making the
    contract exact by construction at any operating point.

    Scale shape: candidate generation shuffles bare ids; normalized
    texts join back id-keyed only for surviving candidates.  The
    Levenshtein verify is JVM ``levenshtein`` (identical unit-cost
    definition in DuckDB) — ZERO Python.

    Returns ``id_a, id_b, lev, sim`` (sim rounded 6dp).
    """
    cands = minhash_lsh_pairs(
        df, id_col, text_col, verify_threshold=jaccard_floor, **lsh_kw
    ).select("id_a", "id_b")
    norm = df.select(
        F.col(id_col).alias("id"), normalize_text(text_col).alias("nt")
    )
    j = cands.join(
        norm.select(F.col("id").alias("id_a"), F.col("nt").alias("ta")), "id_a"
    ).join(
        norm.select(F.col("id").alias("id_b"), F.col("nt").alias("tb")), "id_b"
    )
    lev = F.levenshtein("ta", "tb")
    mx = F.greatest(F.length("ta"), F.length("tb"))
    sim = F.when(mx == 0, F.lit(1.0)).otherwise(
        F.lit(1.0) - lev.cast("double") / mx
    )
    return (
        j.withColumn("sim", sim)
        .filter(F.col("sim") >= min_sim)
        .select(
            "id_a",
            "id_b",
            lev.cast("int").alias("lev"),
            F.round("sim", 6).alias("sim"),
        )
    )


def winnow_similar_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 16,
    w: int = 8,
    min_shared: int = 5,
    max_doc_freq: int = 50,
) -> DataFrame:
    """Document pairs sharing ≥ ``min_shared`` winnowing fingerprints —
    the MOSS-style containment/plagiarism detector: any shared substring
    of length ≥ k+w-1 contributes a shared fingerprint, so near-dups and
    partial copies surface without an all-pairs comparison.

    Same skew-guarded inverted-index shape as :func:`ngram_jaccard_pairs`:
    explode fingerprints, prune those in more than ``max_doc_freq`` docs
    (a boilerplate fingerprint would otherwise explode the self-join),
    join on fingerprint, count shared."""
    from mq_to_db_spark.functions.text import with_winnow_fingerprints

    docs = (
        with_winnow_fingerprints(
            df.select(F.col(id_col).alias("id"), F.col(text_col).alias("text")),
            "text", k, w, out="fps",
        )
        .filter(F.size("fps") > 0)
        .select("id", "fps")
    )
    posting = docs.select("id", F.explode("fps").alias("fp")).persist()
    freq = posting.groupBy("fp").count().filter(F.col("count") <= max_doc_freq)
    posting = posting.join(F.broadcast(freq.select("fp")), "fp")
    a, b = posting.alias("a"), posting.alias("b")
    return (
        a.join(b, "fp")
        .filter(F.col("a.id") < F.col("b.id"))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )
