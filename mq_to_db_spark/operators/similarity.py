"""Similarity search over embedding columns (``array<float>``).

Baseline: brute-force cosine top-k — one narrow pass (zip_with dot
product, JVM-side) + ``ORDER BY LIMIT k`` which Spark executes as a
per-partition top-k + driver merge (TakeOrderedAndProject), never a full
sort.  Scale path: random-hyperplane LSH bucketing (Charikar) — probe
only matching buckets, with multi-probe on query-side sign flips to
recover recall (:func:`ann_lsh_topk`).  An IVF-style variant
(:func:`ivf_topk`) probes the lists of the nearest coarse centroids.

Hyperplane weights and IVF centroid selection are deterministic,
engine-independent constants (seeded numpy literals / md5-derived
ranks), so a DuckDB oracle can replay the *entire* approximate
algorithm — signature, probe set, candidate filter, exact re-rank —
bit-for-bit.  All per-row vector math is expression-level (explicit
literal-weight sums inside whole-stage codegen) — no Python in the hot
path.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def dot(a: Column, b: Column, dim: int | None = None) -> Column:
    """Dot product of two array columns.

    With ``dim`` known (callers that hold the quantizer/centroids know
    it statically), the fold is unrolled into a flat left-associated
    sum — whole-stage-codegen instead of the interpreted higher-order
    ``aggregate`` path, ~10× faster per pair on wide joins.  The
    leading ``lit(0.0)`` term reproduces the fold's seed so both paths
    are IEEE-bit-identical (same association order) — **for arrays of
    exactly ``dim`` elements only**: on a shorter array ``a[i]`` yields
    NULL (or errors under ANSI mode) where the fold returns a partial
    sum over the actual elements, and on NULL arrays the unrolled path
    NULLs while the fold NULLs too but via a different route.  Callers
    passing ``dim`` must pre-filter ``vec IS NOT NULL AND size(vec) ==
    dim`` (the same guard :func:`knn_join_lsh` applies before its
    signature UDF)."""
    if dim is not None:
        acc = F.lit(0.0)
        for i in range(dim):
            acc = acc + a[i] * b[i]
        return acc
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def l2_norm(a: Column, dim: int | None = None) -> Column:
    """L2 norm; same unrolled-vs-fold duality — and the same
    exactly-``dim``-elements precondition on the unrolled path — as
    :func:`dot`."""
    if dim is not None:
        acc = F.lit(0.0)
        for i in range(dim):
            acc = acc + a[i] * a[i]
        return F.sqrt(acc)
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v))


def cosine_sim_cols(a: Column, b: Column, dim: int | None = None) -> Column:
    return F.try_divide(
        dot(a, b, dim), l2_norm(a, dim) * l2_norm(b, dim)
    )


def cosine_topk(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Brute-force cosine top-k against a literal query vector — the
    exact baseline every ANN variant is measured against."""
    q = F.array(*[F.lit(float(x)) for x in query_vec])
    scored = df.select(
        F.col(id_col),
        cosine_sim_cols(F.col(vec_col).cast("array<double>"), q).alias("cosine"),
    )
    return scored.orderBy(F.desc("cosine"), F.col(id_col)).limit(k)


# -- hyperplane LSH -----------------------------------------------------------


def hyperplane_planes(n_planes: int, dim: int, seed: int = 13) -> np.ndarray:
    """The shared (n_planes × dim) weight matrix, uniform in [-1, 1).

    Seeded numpy → a pure deterministic constant: the Spark expression,
    the driver-side query-signature computation, and the DuckDB oracle
    generator all embed the *same literals*, so every engine agrees on
    every bucket id."""
    rng = np.random.default_rng(seed)
    return rng.uniform(-1.0, 1.0, size=(n_planes, dim))


def hyperplane_signature(vec: Column, planes: np.ndarray) -> Column:
    """LSH bucket id: sign pattern of dot products with the literal
    hyperplanes; plane 0 is the most significant bit.

    Each dot product is a strict left fold over ``zip_with(vec, plane,
    *)`` — the fold keeps the expression tree compact (an explicit
    n_planes × dim literal-sum tree blows the 64 KB codegen method limit
    and falls back to interpreted for the whole stage), and its
    left-to-right association is exactly what the DuckDB oracle's
    ``v[1]*w1 + v[2]*w2 + …`` sum evaluates, so both engines agree on
    every sign bit-for-bit (IEEE: ``0.0 + t0 == t0``)."""
    n_planes, _dim = planes.shape
    v = vec.cast("array<double>")
    sig = F.lit(0)
    for p in range(n_planes):
        w = F.array(*[F.lit(float(x)) for x in planes[p]])
        d = F.aggregate(
            F.zip_with(v, w, lambda x, y: x * y), F.lit(0.0), lambda acc, t: acc + t
        )
        sig = sig * 2 + F.when(d >= 0, F.lit(1)).otherwise(F.lit(0))
    return sig.cast("long")


def hyperplane_signature_py(vec: list[float], planes: np.ndarray) -> int:
    """Driver-side signature of a query vector — same bit order as
    :func:`hyperplane_signature`.  math.fsum-free plain left sum keeps
    the association order identical to the Spark/DuckDB expressions."""
    sig = 0
    for p in range(planes.shape[0]):
        d = 0.0
        for x, w in zip(vec, planes[p]):
            d += float(x) * float(w)
        sig = sig * 2 + (1 if d >= 0 else 0)
    return sig


def lsh_probe_masks(n_planes: int, multiprobe: int) -> list[int]:
    """XOR masks for multi-probe: the exact bucket, all 1-bit flips, and
    (for multiprobe ≥ 2) all 2-bit flips — sorted for determinism."""
    masks = {0}
    if multiprobe >= 1:
        masks |= {1 << b for b in range(n_planes)}
    if multiprobe >= 2:
        masks |= {
            (1 << b1) | (1 << b2)
            for b1 in range(n_planes)
            for b2 in range(b1 + 1, n_planes)
        }
    return sorted(masks)


def ann_lsh_topk(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 8,
    multiprobe: int = 1,
    seed: int = 13,
) -> DataFrame:
    """Approximate top-k: hash the corpus into hyperplane buckets, probe
    the query's bucket (± 1/2-bit flips per ``multiprobe``), exact
    cosine within candidates only."""
    planes = hyperplane_planes(n_planes, len(query_vec), seed)
    qsig = hyperplane_signature_py(query_vec, planes)
    probes = [qsig ^ m for m in lsh_probe_masks(n_planes, multiprobe)]
    hashed = df.withColumn("sig", hyperplane_signature(F.col(vec_col), planes))
    cand = hashed.filter(F.col("sig").isin(*probes))
    q = F.array(*[F.lit(float(x)) for x in query_vec])
    return (
        cand.select(
            F.col(id_col),
            cosine_sim_cols(F.col(vec_col).cast("array<double>"), q).alias("cosine"),
        )
        .orderBy(F.desc("cosine"), F.col(id_col))
        .limit(k)
    )


def knn_join_brute(
    left: DataFrame,
    right: DataFrame,
    k: int = 5,
    left_id: str = "id_l",
    right_id: str = "id_r",
    vec_col: str = "embedding",
) -> DataFrame:
    """k-NN join (each left row → its k nearest right rows) — broadcast
    brute force, correct for a small right side; window top-k per left id."""
    from pyspark.sql import Window as W

    l = left.select(F.col(left_id).alias("lid"), F.col(vec_col).alias("lv"))
    r = right.select(F.col(right_id).alias("rid"), F.col(vec_col).alias("rv"))
    scored = l.crossJoin(F.broadcast(r)).withColumn(
        "cosine", cosine_sim_cols(F.col("lv").cast("array<double>"), F.col("rv").cast("array<double>"))
    )
    w = W.partitionBy("lid").orderBy(F.desc("cosine"), F.col("rid"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("lid", "rid", "cosine", "rank")
    )


# -- IVF ----------------------------------------------------------------------


def ivf_centroids(
    df: DataFrame,
    n_centroids: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[float]]:
    """Deterministic coarse quantizer: the ``n_centroids`` corpus vectors
    with the smallest md5-derived id hash (hash-reservoir sampling —
    stable across partitionings and cluster sizes, no iterative k-means
    job; md5 rather than xxhash64 so the DuckDB oracle derives the same
    centroid set).  At 100 TB this is one cheap top-k over ids; refining
    with a few Lloyd iterations is an optional offline step that only
    changes the anchor list, not the search path."""
    rows = (
        df.select(F.col(id_col), F.col(vec_col).cast("array<double>").alias("v"))
        .withColumn(
            "_h",
            F.conv(F.substring(F.md5(F.col(id_col).cast("string")), 1, 15), 16, 10).cast("long"),
        )
        .orderBy("_h", id_col)
        .limit(n_centroids)
        .collect()
    )
    return [list(r.v) for r in rows]


#: above this many literal terms the ivf_assign expression tree risks the
#: 64 KB codegen method limit (whole stage falls back to interpreted) —
#: switch to the Arrow-vectorized argmax
_IVF_EXPR_TERM_BUDGET = 2048


def ivf_assign(
    df: DataFrame,
    centroids: list[list[float]],
    vec_col: str = "embedding",
    out_col: str = "list_id",
    use_udf: bool | None = None,
) -> DataFrame:
    """Assign each vector to its nearest (max-cosine) centroid — the
    inverted-list id.  Centroids are literal expressions (broadcast-free,
    identical on every executor); at scale the assigned table is
    partitioned by ``list_id`` so probes prune partitions.

    Two physical strategies, identical assignments:

      * **expression** (default for small quantizers): ``greatest()``
        over (cos, lid) structs — pure codegen, zero Python.
      * **Arrow UDF** (``use_udf=None`` auto-selects it once
        ``n_centroids × dim`` exceeds the codegen expression budget —
        the 256–1024-centroid quantizer a 100 TB corpus wants): one
        vectorized left-fold dot per (batch, centroid) with the same
        IEEE association and the same max-cos/max-lid tie-break, so
        both paths agree bit-for-bit (see test_ivf_assign_udf_parity).
    """
    n_c = len(centroids)
    dim = len(centroids[0]) if n_c else 0
    if use_udf is None:
        use_udf = n_c * dim > _IVF_EXPR_TERM_BUDGET
    if use_udf:
        return df.withColumn(out_col, _ivf_assign_udf(centroids)(F.col(vec_col)))
    v = F.col(vec_col).cast("array<double>")
    # greatest() over (cos, lid) structs = max-by-cosine with a
    # deterministic lid tie-break (struct comparison is field-ordered)
    # NB: stays on the fold (higher-order) path — an unrolled k×dim
    # greatest() repeats the array cast per term and overflows janino's
    # method budget (codegen falls back to interpreted, net slower);
    # the unrolled form is reserved for single-dot column-ref
    # predicates like semcluster's pair filter
    scored = [
        F.struct(
            cosine_sim_cols(v, F.array(*[F.lit(float(x)) for x in c])).alias("cos"),
            F.lit(i).alias("lid"),
        )
        for i, c in enumerate(centroids)
    ]
    return df.withColumn(out_col, F.greatest(*scored)["lid"] if len(scored) > 1 else scored[0]["lid"])


def _ivf_assign_udf(centroids: list[list[float]]):
    """Arrow-vectorized nearest-centroid argmax, bit-compatible with the
    expression path: dots and norms are strict left-associated
    accumulator folds (seeded at 0.0, like ``F.aggregate``), the winner
    is max cosine with ties to the HIGHEST lid (``greatest()`` struct
    semantics).  Zero-norm rows/centroids (expression path: NULL cosine,
    never greatest) score -inf here — likewise never selected."""
    from pyspark.sql import types as T

    C = np.asarray(centroids, dtype=np.float64)  # (m, dim)
    m, dim = C.shape
    cnorm = np.zeros(m, dtype=np.float64)
    for d in range(dim):
        cnorm += C[:, d] * C[:, d]
    cnorm = np.sqrt(cnorm)

    def _assign_clean(vec_rows: list) -> np.ndarray:
        """argmax over dim-matching vectors (ties -> highest lid)."""
        n = len(vec_rows)
        V = np.array([np.asarray(v, dtype=np.float64) for v in vec_rows])
        Vt = np.ascontiguousarray(V.T)  # (dim, n)
        dots = np.zeros((n, m), dtype=np.float64)
        vnorm = np.zeros(n, dtype=np.float64)
        for d in range(dim):
            dots += Vt[d][:, None] * C[:, d][None, :]
            vnorm += Vt[d] * Vt[d]
        vnorm = np.sqrt(vnorm)
        denom = vnorm[:, None] * cnorm[None, :]
        with np.errstate(divide="ignore", invalid="ignore"):
            cos = np.where(denom > 0, dots / denom, -np.inf)
        # argmax with ties to the highest lid: scan lids ascending, >=
        best = np.zeros(n, dtype=np.int32)
        best_cos = cos[:, 0].copy()
        for lid in range(1, m):
            take = cos[:, lid] >= best_cos
            best[take] = lid
            best_cos[take] = cos[take, lid]
        return best

    @F.pandas_udf(T.IntegerType())
    def _assign(vecs: pd.Series) -> pd.Series:
        n = len(vecs)
        if not n:
            return pd.Series([], dtype="int32")
        # NULL / off-dimension / empty vectors: every cosine is NULL on
        # the expression path, and greatest()'s struct comparison puts
        # null cos fields first -> the HIGHEST lid wins.  Mirror that
        # here (they'd otherwise make np.array ragged and crash).
        valid = np.fromiter(
            (v is not None and len(v) == dim for v in vecs),
            dtype=bool,
            count=n,
        )
        if valid.all():
            return pd.Series(_assign_clean(list(vecs)))
        out = np.full(n, m - 1, dtype=np.int32)
        clean = [v for v, ok in zip(vecs, valid) if ok]
        if clean:
            out[valid] = _assign_clean(clean)
        return pd.Series(out)

    return _assign


def ivf_probe_lists(query_vec: list[float], centroids: list[list[float]], nprobe: int) -> list[int]:
    """The ``nprobe`` inverted-list ids whose centroids are nearest the
    query (driver-side numpy; stable sort ⇒ cosine ties break toward the
    lower list id, matching the SQL oracle's ORDER BY cos DESC, lid)."""
    c = np.asarray(centroids, dtype=np.float64)
    q = np.asarray(query_vec, dtype=np.float64)
    cos = (c @ q) / (np.linalg.norm(c, axis=1) * np.linalg.norm(q) + 1e-300)
    return [int(i) for i in np.argsort(-cos, kind="stable")[:nprobe]]


def ivf_topk(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    n_centroids: int = 16,
    nprobe: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: list[list[float]] | None = None,
) -> DataFrame:
    """IVF approximate top-k: probe the ``nprobe`` inverted lists whose
    centroids are nearest the query; exact cosine within candidates.

    Recall/latency knob is ``nprobe`` (= n_centroids ⇒ exact brute
    force)."""
    if centroids is None:
        centroids = ivf_centroids(df, n_centroids, id_col, vec_col)
    probes = ivf_probe_lists(query_vec, centroids, nprobe)
    assigned = ivf_assign(df, centroids, vec_col)
    cand = assigned.filter(F.col("list_id").isin(probes))
    qcol = F.array(*[F.lit(float(x)) for x in query_vec])
    return (
        cand.select(
            F.col(id_col),
            cosine_sim_cols(F.col(vec_col).cast("array<double>"), qcol).alias("cosine"),
        )
        .orderBy(F.desc("cosine"), F.col(id_col))
        .limit(k)
    )


def knn_join_lsh(
    left: DataFrame,
    right: DataFrame,
    k: int = 5,
    left_id: str = "id_l",
    right_id: str = "id_r",
    vec_col: str = "embedding",
    n_planes: int = 8,
    n_bands: int = 8,
    dim: int | None = None,
) -> DataFrame:
    """Approximate k-NN join for a LARGE right side — the scale path
    :func:`knn_join_brute` (broadcast, small right) cannot take.

    Both sides are hashed into ``n_bands`` independent hyperplane-LSH
    bands; candidates are (left, right) rows colliding in ANY band (an
    equi-join on (band, sig) — never a cross join), scored with exact
    cosine, window top-k per left row.  A left row whose true neighbor
    collides in no band misses it (OR-construction recall: tune bands ×
    planes); rows may return fewer than k matches.

    Shuffle discipline (the 100 TB budget): the banded frames and the
    candidate DISTINCT carry **bare ids only** — each embedding crosses
    the wire exactly once per candidate re-join (hashed by its own id),
    never inside the (band, sig) exchange or the multi-collision dedup.
    Null / wrong-dimension vectors are filtered before the signature UDF
    (one bad row must not fail the batch)."""
    if dim is None:
        row = left.select(F.size(F.col(vec_col)).alias("d")).first()
        dim = row.d if row else 0
    sigs = band_signatures_with_norm(
        [hyperplane_planes(n_planes, dim, seed=1000 + b) for b in range(n_bands)]
    )

    def keyed(df, id_col, out_id):
        # ONE Arrow pass computes both the band signatures and the L2
        # norm (band_signatures_with_norm): the persisted side frames
        # carry (id, vec, sigs, norm), so banding is a pure JVM
        # posexplode of a stored column and the re-rank pays 1 fold per
        # pair instead of 3 — no separate interpreted l2_norm fold over
        # the whole side (PROFILE §7: higher-order lambdas run
        # interpreted per element).  Norm accumulation order inside the
        # UDF is the strict left-associated per-element loop, IEEE-bit-
        # identical to the l2_norm fold / cosine_sim_cols.
        sn = F.col("_sn")
        return (
            df.filter(F.col(vec_col).isNotNull() & (F.size(vec_col) == dim))
            .select(F.col(id_col).alias(out_id), F.col(vec_col).alias(f"v_{out_id}"))
            .withColumn("_sn", sigs(F.col(f"v_{out_id}")))
            .select(
                out_id,
                f"v_{out_id}",
                sn["sigs"].alias(f"s_{out_id}"),
                sn["norm"].alias(f"n_{out_id}"),
            )
        )

    from pyspark.sql import Window as W

    # persist: each side feeds its banding pass AND the candidate re-join
    lv = keyed(left, left_id, "lid").persist()
    rv = keyed(right, right_id, "rid").persist()

    def banded(df, out_id):
        return df.select(
            out_id, F.posexplode(F.col(f"s_{out_id}")).alias("band", "sig")
        )

    cand = (
        banded(lv, "lid")
        .join(banded(rv, "rid"), ["band", "sig"])
        .select("lid", "rid")
        .distinct()  # a pair may collide in several bands — bare-id dedup
    )
    scored = (
        cand.join(lv, "lid")
        .join(rv, "rid")
        .select(
            "lid",
            "rid",
            F.try_divide(
                dot(
                    F.col("v_lid").cast("array<double>"),
                    F.col("v_rid").cast("array<double>"),
                ),
                F.col("n_lid") * F.col("n_rid"),
            ).alias("cosine"),
        )
    )
    w = W.partitionBy("lid").orderBy(F.desc("cosine"), F.col("rid"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("lid", "rid", "cosine", "rank")
    )


def band_signatures_with_norm(bands_planes: list[np.ndarray]):
    """Arrow-vectorized multi-band hyperplane signatures fused with the
    L2 norm in the SAME Arrow pass: ``vec → struct<sigs: array<long>,
    norm: double>``, one signature element per band.

    Each signature is BIT-EXACT with :func:`hyperplane_signature`'s fold
    (and therefore with the DuckDB oracle's literal sums): each dot
    product is a strict sequential left-associated accumulator sum over
    ``dim`` (``((0 + t₀) + t₁) + …``), unlike ``np.dot``/``sum`` whose
    BLAS/pairwise association could flip a sign at the decision
    boundary.

    One batch read of the vector data replaces two (the signature UDF
    plus a separate interpreted ``l2_norm`` fold over every row — the
    higher-order ``aggregate`` lambda runs interpreted per element,
    PROFILE §7), which is what the banded k-NN / near-dup side frames
    pay before their persist.

    BIT-EXACT with :func:`l2_norm`'s fold: the squared-sum is the same
    strict sequential left-associated accumulator over ``dim``
    (``((0 + t₀) + t₁) + …``), never ``np.linalg.norm``/``np.sum``
    whose pairwise association differs; ``np.sqrt`` is the same IEEE
    operation as ``F.sqrt``.  Callers must pre-filter null /
    wrong-dimension vectors (``vec IS NOT NULL AND size(vec) == dim``);
    a ragged batch would otherwise fail the ``np.array`` stack."""
    from pyspark.sql import types as T

    P = np.stack(bands_planes)  # (B, n_planes, dim)
    B, n_planes, dim = P.shape
    out_t = T.StructType(
        [
            T.StructField("sigs", T.ArrayType(T.LongType())),
            T.StructField("norm", T.DoubleType()),
        ]
    )

    @F.pandas_udf(out_t)
    def _sigs_norm(vecs: pd.Series) -> pd.DataFrame:
        n = len(vecs)
        if not n:
            return pd.DataFrame({"sigs": pd.Series([], dtype=object),
                                 "norm": pd.Series([], dtype=np.float64)})
        V = np.array([np.asarray(v, dtype=np.float64) for v in vecs])
        Vt = np.ascontiguousarray(V.T)  # (dim, n)
        out = np.zeros((n, B), dtype=np.int64)
        for b in range(B):
            sig = np.zeros(n, dtype=np.int64)
            for p in range(n_planes):
                w = P[b, p]
                acc = np.zeros(n, dtype=np.float64)
                for d in range(dim):
                    acc += Vt[d] * w[d]
                sig = sig * 2 + (acc >= 0).astype(np.int64)
            out[:, b] = sig
        ss = np.zeros(n, dtype=np.float64)
        for d in range(dim):  # strict fold order == l2_norm's aggregate
            ss += Vt[d] * Vt[d]
        return pd.DataFrame({"sigs": list(out), "norm": np.sqrt(ss)})

    return _sigs_norm
