"""Dedup + similarity operators: planted-duplicate truth tests on the
driver documents/embeddings tables."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from mq_to_db_spark.operators.dedup import (
    dedup_exact,
    dedup_minhash,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_pairs,
)
from mq_to_db_spark.operators.similarity import ann_lsh_topk, cosine_topk, knn_join_brute

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet").cache()


@pytest.fixture(scope="module")
def docs_with_dupes(spark, docs):
    """Plant exact + near duplicates with known ids ≥ 100000."""
    base = docs.limit(20).collect()
    extra = []
    for i, r in enumerate(base[:5]):
        extra.append((100000 + i, r.text, r.lang, r.source, r.n_chars))  # exact dup
    for i, r in enumerate(base[5:10]):
        extra.append((100100 + i, r.text + " extra tail words here", r.lang, r.source, r.n_chars))
    extra_df = spark.createDataFrame(extra, schema=docs.schema)
    return docs.unionByName(extra_df).cache()


def test_dedup_exact(spark, docs_with_dupes, docs):
    kept = dedup_exact(docs_with_dupes, "doc_id", "text")
    # 5 exact dupes collapse; the 5 near-dup rows legitimately survive
    assert kept.count() == docs.count() + 5
    # representatives are the lowest ids → survivors ≥100000 are exactly
    # the near-dup plants
    assert kept.filter(F.col("doc_id") >= 100000).count() == 5
    dup_classes = kept.filter(F.col("dup_count") > 1)
    assert dup_classes.count() == 5
    assert dup_classes.filter(F.col("doc_id") < 100000).count() == 5


def test_minhash_finds_planted_pairs(spark, docs_with_dupes):
    pairs = minhash_lsh_pairs(
        docs_with_dupes, "doc_id", "text", verify_threshold=0.5
    ).toPandas()
    found = set(zip(pairs.id_a, pairs.id_b))
    # every exact dup pair (jaccard 1.0) must be found
    for i in range(5):
        orig = docs_with_dupes.filter(F.col("doc_id") == 100000 + i).collect()[0]
    exact_pairs = {(p.id_a, p.id_b) for p in pairs.itertuples() if p.jaccard >= 0.999}
    assert len(exact_pairs) >= 5
    # near-dup (appended tail) pairs found with jaccard in (0.5, 1)
    near = pairs[(pairs.id_b >= 100100) & (pairs.jaccard < 0.999)]
    assert len(near) >= 4  # high-probability LSH recall on 8 bands


def test_dedup_minhash_removes_near_dupes(spark, docs_with_dupes, docs):
    kept = dedup_minhash(docs_with_dupes, "doc_id", "text", threshold=0.5)
    # all 10 planted rows have a lower-id twin with jaccard > 0.5
    assert kept.count() <= docs.count() + 1  # allow 1 LSH miss
    assert kept.filter((F.col("doc_id") >= 100000) & (F.col("doc_id") < 100100)).count() == 0


def test_ngram_jaccard_exact_values(spark):
    df = spark.createDataFrame(
        [(1, "a b c d e"), (2, "a b c d e"), (3, "a b c x y"), (4, "q r s t u")],
        "id long, text string",
    )
    pairs = ngram_jaccard_pairs(df, "id", "text", shingle_n=3, threshold=0.1).toPandas()
    got = {(r.id_a, r.id_b): round(r.jaccard, 6) for r in pairs.itertuples()}
    # doc1/doc2 identical: 3 shingles shared of 3 → 1.0
    assert got[(1, 2)] == 1.0
    # doc1/doc3 share "a b c" only: 1 of 5 → 0.2
    assert got[(1, 3)] == pytest.approx(0.2)
    assert (1, 4) not in got


def test_simhash_pairs(spark, docs_with_dupes):
    pairs = simhash_pairs(docs_with_dupes, "doc_id", "text", max_hamming=3).toPandas()
    exact = pairs[pairs.hamming == 0]
    assert len(exact) >= 5  # planted exact dupes collide at distance 0


def test_cosine_topk_self_hit(spark):
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    q = emb.filter("vec_id = 0").collect()[0].embedding
    top = cosine_topk(emb, list(q), k=5).toPandas()
    assert top.iloc[0].vec_id == 0
    assert top.iloc[0].cosine == pytest.approx(1.0, abs=1e-6)
    assert (top.cosine.values[:-1] >= top.cosine.values[1:]).all()  # sorted


def test_ann_lsh_recall(spark):
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").cache()
    q = emb.filter("vec_id = 0").collect()[0].embedding
    exact = set(cosine_topk(emb, list(q), k=10).toPandas().vec_id)
    approx = set(
        ann_lsh_topk(emb, list(q), k=10, n_planes=6, multiprobe=2).toPandas().vec_id
    )
    # multiprobe LSH recall@10 ≥ 0.5 on 500 vectors (probabilistic but
    # deterministic given fixed seed planes)
    assert len(exact & approx) >= 5
    assert 0 in approx


def test_knn_join(spark):
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    left = emb.limit(10).select(F.col("vec_id").alias("id_l"), "embedding")
    right = emb.select(F.col("vec_id").alias("id_r"), "embedding")
    knn = knn_join_brute(left, right, k=3).toPandas()
    assert len(knn) == 30
    # self is always the nearest neighbor
    top1 = knn[knn["rank"] == 1]
    assert (top1.lid == top1.rid).all()


def test_ivf_topk_recall_and_determinism(spark):
    from mq_to_db_spark.operators.similarity import (
        cosine_topk,
        ivf_centroids,
        ivf_topk,
    )

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    qv = list(emb.filter("vec_id = 3").collect()[0].embedding)

    exact = [r.vec_id for r in cosine_topk(emb, qv, k=10).collect()]
    # centroids are hash-deterministic: same list twice
    c1 = ivf_centroids(emb, 8)
    c2 = ivf_centroids(emb, 8)
    assert c1 == c2

    approx = [r.vec_id for r in ivf_topk(emb, qv, k=10, n_centroids=8, nprobe=3).collect()]
    recall3 = len(set(exact) & set(approx)) / 10
    # synthetic embeddings are ~isotropic random vectors, the worst case
    # for coarse quantization — assert usefulness + monotonicity, not
    # clustered-data recall
    assert recall3 >= 0.3, recall3
    approx6 = [r.vec_id for r in ivf_topk(emb, qv, k=10, n_centroids=8, nprobe=6).collect()]
    recall6 = len(set(exact) & set(approx6)) / 10
    assert recall6 >= recall3
    # nprobe = n_centroids degenerates to exact brute force
    full = [r.vec_id for r in ivf_topk(emb, qv, k=10, n_centroids=8, nprobe=8).collect()]
    assert full == exact


def test_simhash_matches_pure_python_reference(spark):
    """The Arrow bit-vote UDF must equal a per-doc pure-Python simhash
    (md5 word hashes, term-frequency votes) — guards the batch-flattened
    reduceat vectorization."""
    import hashlib
    import re

    from mq_to_db_spark.operators.dedup import simhash

    texts = [
        (1, "The quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy dog!"),
        (3, "Erwähnung völlig über straße — déjà vu, naïve café."),
        (4, "a"),
        (5, "x " * 300),
        (6, None),
        (7, "   "),
    ]
    df = spark.createDataFrame(texts, "doc_id long, text string")
    got = {r.id: r.simhash for r in simhash(df, "doc_id", "text").collect()}

    def ref_sig(text):
        # re.ASCII: Java (Spark) and RE2 (DuckDB) treat \w as ASCII-only
        norm = re.sub(
            r"\s+",
            " ",
            re.sub(r"[^\w\s]", " ", text.lower(), flags=re.ASCII),
            flags=re.ASCII,
        ).strip()
        if not norm:
            return None
        votes = [0] * 60
        for w in norm.split(" "):
            h = int(hashlib.md5(w.encode()).hexdigest()[:15], 16)
            for b in range(60):
                votes[b] += 1 if (h >> b) & 1 else -1
        return sum((1 << b) for b in range(60) if votes[b] >= 0)

    for doc_id, text in texts:
        want = None if text is None else ref_sig(text)
        if want is None:
            assert doc_id not in got  # empty docs dropped
        else:
            assert got[doc_id] == want, doc_id


def test_connected_components_chained_duplicates(spark):
    """A~B, B~C but A≁C: exact CC keeps only A; the one-pass
    approximation is documented to possibly keep C too."""
    from mq_to_db_spark.operators.dedup import connected_components, dedup_minhash

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22), (22, 23)],
        "id_a long, id_b long",
    )
    comp = {r.id: r.component for r in connected_components(pairs).collect()}
    assert comp == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 20: 20, 21: 20, 22: 20, 23: 20}

    # end-to-end: chain of near-dup texts A~B~C where A vs C are still
    # near (minhash chain) — exact components keep exactly one survivor
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 4
    rows = [
        (1, base),
        (2, base + " tail one"),
        (3, base + " tail one two"),
        (50, "completely different content about other things entirely " * 5),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    kept = dedup_minhash(df, "doc_id", "text", threshold=0.5)
    ids = sorted(r.doc_id for r in kept.collect())
    assert ids == [1, 50]



def _clustered_embeddings(spark, n_clusters=20, per_cluster=25, dim=32, seed=7):
    import numpy as np

    rng = np.random.default_rng(seed)
    centers = rng.normal(size=(n_clusters, dim))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    rows = []
    vid = 0
    for c in range(n_clusters):
        for _ in range(per_cluster):
            v = centers[c] + 0.02 * rng.normal(size=dim)
            rows.append((vid, c, [float(x) for x in v]))
            vid += 1
    return spark.createDataFrame(
        rows, "vec_id long, cluster int, embedding array<double>"
    ), centers


def test_ann_recall_on_clustered_data(spark):
    """On data with real neighbor structure (tight clusters — the case
    ANN exists for) both LSH-multiprobe and IVF reach recall@10 ≥ 0.9
    vs brute force.  (The driver's synthetic embeddings are isotropic
    random vectors — the adversarial case — covered by the exact
    full-algorithm DuckDB oracles instead.)"""
    from mq_to_db_spark.operators.similarity import ann_lsh_topk, cosine_topk, ivf_topk

    emb, centers = _clustered_embeddings(spark)
    emb = emb.cache()
    qv = [float(x) for x in centers[0]]

    brute = {r.vec_id for r in cosine_topk(emb, qv, k=10).collect()}
    lsh = {
        r.vec_id
        for r in ann_lsh_topk(emb, qv, k=10, n_planes=8, multiprobe=2).collect()
    }
    ivf = {
        r.vec_id for r in ivf_topk(emb, qv, k=10, n_centroids=16, nprobe=3).collect()
    }
    assert len(lsh & brute) / 10 >= 0.9, sorted(lsh & brute)
    assert len(ivf & brute) / 10 >= 0.9, sorted(ivf & brute)
    emb.unpersist()


def test_embedding_neardup_banded_recall(spark):
    """Planted near-identical vector pairs are all found by the banded
    OR-construction (the single-signature variant missed pairs split by
    one unlucky hyperplane)."""
    import numpy as np

    from mq_to_db_spark.operators.dedup import embedding_neardup_pairs

    rng = np.random.default_rng(11)
    rows = []
    for i in range(30):
        v = rng.normal(size=24)
        rows.append((2 * i, [float(x) for x in v]))
        rows.append((2 * i + 1, [float(x) for x in v + 0.01 * rng.normal(size=24)]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    pairs = embedding_neardup_pairs(df, "vec_id", "embedding", threshold=0.95)
    found = {(r.id_a, r.id_b) for r in pairs.collect()}
    planted = {(2 * i, 2 * i + 1) for i in range(30)}
    assert planted <= found, planted - found


def test_knn_join_lsh_recall_on_clustered_data(spark):
    """The banded k-NN join (no broadcast, no cross join) reaches
    recall ≥ 0.9 vs the brute-force join on clustered data."""
    from mq_to_db_spark.operators.similarity import knn_join_brute, knn_join_lsh

    emb, _ = _clustered_embeddings(spark, n_clusters=10, per_cluster=20)
    emb = emb.cache()
    left = emb.filter("vec_id < 20").select(F.col("vec_id").alias("id_l"), "embedding")
    right = emb.select(F.col("vec_id").alias("id_r"), "embedding")
    brute = {
        (r.lid, r.rid) for r in knn_join_brute(left, right, k=5).collect()
    }
    approx = {
        (r.lid, r.rid)
        for r in knn_join_lsh(left, right, k=5, n_planes=8, n_bands=8).collect()
    }
    assert len(brute & approx) / len(brute) >= 0.9, len(brute & approx) / len(brute)
    # plan shape: equi-join on (band, sig), never a broadcast nested loop
    plan = knn_join_lsh(left, right, k=5)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    emb.unpersist()


def test_knn_join_lsh_distinct_carries_no_vectors(spark):
    """The candidate dedup (DISTINCT on lid, rid) must shuffle bare ids —
    an exchange that carried the embedding arrays would dominate the
    shuffle at dim=768 (VERDICT r02 anti-pattern #1)."""
    import io
    from contextlib import redirect_stdout

    from mq_to_db_spark.operators.similarity import knn_join_lsh

    emb, _ = _clustered_embeddings(spark, n_clusters=4, per_cluster=5)
    left = emb.filter("vec_id < 5").select(F.col("vec_id").alias("id_l"), "embedding")
    right = emb.select(F.col("vec_id").alias("id_r"), "embedding")
    out = knn_join_lsh(left, right, k=3)
    buf = io.StringIO()
    with redirect_stdout(buf):
        out.explain("formatted")
    plan = buf.getvalue()
    # every Exchange hash-partitioned on BOTH lid and rid (the distinct
    # and its downstream) must list no vector column in its Input
    for block in plan.split("\n\n"):
        if "Exchange" not in block or "hashpartitioning" not in block:
            continue
        part_line = next(l for l in block.splitlines() if "hashpartitioning" in l)
        if "lid" in part_line and "rid" in part_line:
            assert "v_lid" not in block and "v_rid" not in block, block


def test_knn_join_lsh_skips_bad_vectors(spark):
    """One NULL and one wrong-dimension row must not fail the job
    (ADVICE r02: np.asarray(None) / ragged batch crashed the UDF)."""
    from mq_to_db_spark.operators.similarity import knn_join_lsh

    emb, _ = _clustered_embeddings(spark, n_clusters=4, per_cluster=5, dim=16)
    bad = spark.createDataFrame(
        [(900, None), (901, [1.0, 2.0])], "vec_id long, embedding array<double>"
    )
    full = emb.select("vec_id", "embedding").unionByName(bad)
    left = full.select(F.col("vec_id").alias("id_l"), "embedding")
    right = full.select(F.col("vec_id").alias("id_r"), "embedding")
    rows = knn_join_lsh(left, right, k=2, dim=16).collect()
    assert rows  # good rows still match
    assert not any(r.lid in (900, 901) or r.rid in (900, 901) for r in rows)


def test_embedding_neardup_skips_bad_vectors(spark):
    from mq_to_db_spark.operators.dedup import embedding_neardup_pairs

    rng = np.random.default_rng(3)
    v = [float(x) for x in rng.normal(size=16)]
    df = spark.createDataFrame(
        [(0, v), (1, v), (2, None), (3, [1.0])],
        "vec_id long, embedding array<double>",
    )
    pairs = embedding_neardup_pairs(df, "vec_id", "embedding", threshold=0.9)
    got = {(r.id_a, r.id_b) for r in pairs.collect()}
    assert got == {(0, 1)}


def test_ivf_assign_udf_parity(spark):
    """The Arrow-UDF argmax (large-quantizer path) must produce the exact
    assignments of the literal-expression path — same IEEE association,
    same max-cos/max-lid tie-break (VERDICT r02 next-round #5)."""
    from mq_to_db_spark.operators.similarity import ivf_assign

    rng = np.random.default_rng(21)
    n_c, dim = 64, 64
    cents = [[float(x) for x in rng.normal(size=dim)] for _ in range(n_c)]
    rows = [(i, [float(x) for x in rng.normal(size=dim)]) for i in range(300)]
    # plant exact-centroid rows (cos=1.0 against their own centroid)
    rows += [(1000 + i, list(c)) for i, c in enumerate(cents[:8])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    expr_path = {
        r.vec_id: r.list_id
        for r in ivf_assign(df, cents, use_udf=False).collect()
    }
    udf_path = {
        r.vec_id: r.list_id
        for r in ivf_assign(df, cents, use_udf=True).collect()
    }
    assert expr_path == udf_path
    # auto mode picks the UDF above the codegen budget (64×64 > 2048)
    auto = ivf_assign(df, cents)
    assert "pythonUDF" in auto._jdf.queryExecution().executedPlan().toString() or \
        "ArrowEvalPython" in auto._jdf.queryExecution().executedPlan().toString()


def test_short_doc_shingles_not_conflated(spark):
    """Prefix-equivalent sub-n-word docs must NOT hash to the same
    shingle set ('a' vs 'a a' vs 'a b b': the string-shingle path and
    the DuckDB oracles give Jaccard 0) — ADVICE r02."""
    from mq_to_db_spark.operators.dedup import hashed_shingle_sets

    df = spark.createDataFrame(
        [(1, "a"), (2, "a a"), (3, "a b b"), (4, "a"), (5, "x y z")],
        "doc_id long, text string",
    )
    sets = {r.id: tuple(sorted(r.shingles)) for r in
            hashed_shingle_sets(df, "doc_id", "text", n=3).collect()}
    assert sets[1] == sets[4]              # identical short docs still match
    assert sets[1] != sets[2]              # 'a' vs 'a a'
    assert sets[2] != sets[3]              # 'a a' vs 'a b b'
    assert sets[1] != sets[5] and sets[3] != sets[5]


def test_connected_components_raises_on_nonconvergence(spark):
    """A chain longer than max_iter rounds must raise, not silently
    return wrong labels (ADVICE r02)."""
    from mq_to_db_spark.operators.dedup import connected_components

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(12)], "id_a long, id_b long"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(chain, max_iter=2)
    labels = connected_components(chain, max_iter=16)
    assert {r.component for r in labels.collect()} == {0}


def test_connected_components_log_rounds_on_long_chain(spark):
    """Pointer-jumping makes rounds O(log diameter): a 100-hop chain
    resolves within 9 rounds (plain min-label propagation would need
    ~100) and still yields the exact min-id component."""
    from mq_to_db_spark.operators.dedup import connected_components

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(100)], "id_a long, id_b long"
    )
    labels = connected_components(chain, max_iter=9)
    rows = labels.collect()
    assert len(rows) == 101
    assert {r.component for r in rows} == {0}


def test_editdist_pairs_planted_edits(spark, docs_with_dupes):
    from mq_to_db_spark.operators.dedup import editdist_pairs

    out = editdist_pairs(docs_with_dupes, "doc_id", "text", min_sim=0.8)
    rows = {(r["id_a"], r["id_b"]): (r["lev"], r["sim"]) for r in out.collect()}
    # exact dups: lev == 0, sim == 1.0
    # (the corpus carries its own planted dups, so only assert the
    # pairs this fixture added; others may legitimately appear)
    for i in range(5):
        assert rows[(i, 100000 + i)] == (0, 1.0)
    # tail-appended near dups: small positive lev, sim >= 0.8
    for i in range(5):
        lev, sim = rows[(5 + i, 100100 + i)]
        assert 0 < lev <= len(" extra tail words here") and 0.8 <= sim < 1.0
    # symmetry/ordering: id_a < id_b always
    assert all(a < b for a, b in rows)
