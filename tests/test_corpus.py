"""Corpus vocabulary statistics (operators/corpus) — hand-computed counts."""

from __future__ import annotations

from pyspark.sql import functions as F

from realtime_fraud_detection_spark.operators import corpus as CO

ROWS = [
    (1, "the cat sat on the mat"),
    (2, "the dog sat"),
    (3, "a cat and a dog"),
]


def _df(spark):
    return spark.createDataFrame(ROWS, "doc_id int, text string")


def test_term_table_tf_and_df(spark):
    got = {
        r["term"]: (r["tf"], r["df"])
        for r in CO.term_table(_df(spark), "text", "doc_id").collect()
    }
    assert got["the"] == (3, 2)   # twice in doc 1, once in doc 2
    assert got["cat"] == (2, 2)
    assert got["sat"] == (2, 2)
    assert got["a"] == (2, 1)     # twice, only in doc 3
    assert got["mat"] == (1, 1)


def test_top_k_terms_rank_and_tiebreak(spark):
    top = CO.top_k_terms(_df(spark), "text", "doc_id", 4).collect()
    ranked = [(r["rank"], r["term"], r["tf"]) for r in sorted(top, key=lambda r: r["rank"])]
    # tf=3: the; tf=2 ties broken alphabetically: a < cat < dog < sat
    assert ranked[0] == (1, "the", 3)
    assert ranked[1] == (2, "a", 2)
    assert ranked[2] == (3, "cat", 2)
    assert ranked[3] == (4, "dog", 2)


def test_vocab_summary(spark):
    row = CO.vocab_summary(_df(spark), "text", "doc_id").collect()[0]
    # terms: the(3) cat(2) sat(2) on(1) mat(1) dog(2) a(2) and(1) -> 8 terms, 14 tokens
    assert row["vocab_size"] == 8
    assert row["total_tokens"] == 14
    assert row["hapax_terms"] == 3  # on, mat, and
    assert row["type_token_ratio"] == round(8 / 14, 6)


# ---------------------------------------------------------------------------
# Okapi BM25 ranking
# ---------------------------------------------------------------------------

def _bm25_expected(corpus, query_terms, k1=1.2, b=0.75):
    """Independent python reference implementation."""
    import math
    from collections import Counter

    docs = {i: t.lower().split() for i, t in corpus}
    n = len(docs)
    dfc = Counter(t for toks in docs.values() for t in set(toks))
    avgdl = sum(len(t) for t in docs.values()) / n
    out = {}
    for d, toks in docs.items():
        tfc = Counter(toks)
        s = 0.0
        for t in set(query_terms):
            if tfc[t] == 0:
                continue
            idf = math.log((n - dfc[t] + 0.5) / (dfc[t] + 0.5) + 1.0)
            s += idf * tfc[t] * (k1 + 1) / (tfc[t] + k1 * (1 - b + b * len(toks) / avgdl))
        if s > 0:
            out[d] = round(s, 6)
    return out


def test_bm25_matches_reference_implementation(spark):
    corpus = [
        (1, "the cat sat on the mat"),
        (2, "the dog sat"),
        (3, "a cat and a dog"),
        (4, "entirely unrelated words here"),
    ]
    df = spark.createDataFrame(corpus, "doc_id int, text string")
    q = spark.createDataFrame([(10, "cat sat")], "q_id int, query string")
    got = {
        r["doc"]: (r["rank"], r["score"])
        for r in CO.bm25_rank(df, q).collect()
    }
    want = _bm25_expected(corpus, ["cat", "sat"])
    assert set(got) == set(want)  # doc 4 never matches
    import pytest

    for d, exp in want.items():
        assert got[d][1] == pytest.approx(exp, abs=2e-6), d
    # ranks follow score desc, doc-id tiebreak
    ranked = sorted(got.items(), key=lambda kv: kv[1][0])
    scores = [s for _, (_, s) in ranked]
    assert scores == sorted(scores, reverse=True)


def test_bm25_top_k_cap_and_multi_query(spark):
    rows = [(i, f"common filler w{i}") for i in range(30)]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    q = spark.createDataFrame(
        [(1, "common"), (2, "w7")], "q_id int, query string"
    )
    got = CO.bm25_rank(df, q, top_k=5).collect()
    by_q = {}
    for r in got:
        by_q.setdefault(r["q_id"], []).append(r)
    assert len(by_q[1]) == 5  # 30 matches capped at top_k
    assert [r["doc"] for r in sorted(by_q[1], key=lambda r: r["rank"])] == [0, 1, 2, 3, 4]
    # q2 matches exactly one doc, and it outranks none others
    assert len(by_q[2]) == 1 and by_q[2][0]["doc"] == 7


def test_bm25_with_caller_dt_leaves_no_checkpoints(spark):
    """A caller-supplied doc-term table (a session-cached corpus) is reused
    across calls: two searches over it persist nothing new, and rank the
    same as a call that builds its own table."""
    from realtime_fraud_detection_spark.operators.scaling import _persistent_rdd_ids

    df = spark.createDataFrame(
        [(1, "the cat sat on the mat"), (2, "the dog sat"), (3, "a cat and a dog")],
        "doc_id int, text string",
    )
    q = spark.createDataFrame([(10, "cat sat"), (11, "dog")], "q_id int, query string")
    dt = CO.doc_term_table(df, "text", "doc_id").cache()
    dt.count()
    before = _persistent_rdd_ids(spark)
    runs = [sorted(CO.bm25_rank(df, q, dt=dt).collect()) for _ in range(2)]
    assert _persistent_rdd_ids(spark) == before
    assert runs[0] == runs[1] == sorted(CO.bm25_rank(df, q).collect())
    dt.unpersist()


def test_bm25_matches_duckdb_within_tolerance(spark):
    import duckdb
    import pytest

    from realtime_fraud_detection_spark.sources.testdata import load_table
    from tests.conftest import SF_SMOKE

    docs = load_table(spark, SF_SMOKE, "documents", fan_out=True)
    # deterministic query set drawn from the corpus itself: first 4 tokens
    # of every 97th document
    queries = docs.filter("doc_id % 97 = 0").selectExpr(
        "doc_id AS q_id",
        "concat_ws(' ', slice(split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ')), ' '), 1, 4)) AS query",
    )
    got = {
        (r["q_id"], r["doc"]): (r["rank"], r["score"])
        for r in CO.bm25_rank(docs, queries, top_k=5).collect()
    }
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{SF_SMOKE}/documents.parquet')"
    )
    want = con.execute(r"""
WITH ws AS (
  SELECT doc_id, string_split_regex(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), '\s+') AS w
  FROM documents
),
tok AS (SELECT doc_id AS doc, unnest(w) AS term FROM ws WHERE len(w) > 0),
dt AS (SELECT doc, term, COUNT(*) AS tf FROM tok WHERE length(term) > 0 GROUP BY 1, 2),
lens AS (SELECT doc, CAST(SUM(tf) AS BIGINT) AS dl FROM dt GROUP BY 1),
dft AS (SELECT term, COUNT(*) AS df FROM dt GROUP BY 1),
stats AS (SELECT COUNT(*) AS n, AVG(dl) AS avgdl FROM lens),
q AS (
  SELECT doc_id AS q_id, unnest(w[1:4]) AS term FROM ws WHERE doc_id % 97 = 0
),
qt AS (SELECT DISTINCT q_id, term FROM q WHERE length(term) > 0),
cand AS (
  SELECT qt.q_id, dt.doc, dt.tf, dft.df, lens.dl, stats.n, stats.avgdl
  FROM dt JOIN qt USING (term) JOIN dft USING (term)
  JOIN lens USING (doc) CROSS JOIN stats
),
scored AS (
  SELECT q_id, doc,
         ROUND(SUM(ln((n - df + 0.5)/(df + 0.5) + 1.0)
                   * tf * 2.2 / (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl))), 6) AS score
  FROM cand GROUP BY 1, 2
)
SELECT q_id, doc, rank, score FROM (
  SELECT q_id, doc, score,
         row_number() OVER (PARTITION BY q_id ORDER BY score DESC, doc ASC) AS rank
  FROM scored
) WHERE rank <= 5
""").fetchall()
    want = {(q, d): (rk, s) for q, d, rk, s in want}
    assert set(got) == set(want)
    for key in got:
        assert got[key][1] == pytest.approx(want[key][1], abs=2e-6), key


def test_corpus_diff_statuses(spark):
    from realtime_fraud_detection_spark.operators.corpus import corpus_diff

    old = spark.createDataFrame(
        [(1, "same text"), (2, "will change"), (3, "goes away"),
         (4, "Same,   TEXT?")],  # id 4: normalization-invariant edit target
        "doc_id long, text string",
    )
    new = spark.createDataFrame(
        [(1, "same text"), (2, "has changed"), (5, "brand new"),
         (4, "same text")],  # fingerprint equals its old normalized form
        "doc_id long, text string",
    )
    got = {r["doc"]: r["status"] for r in corpus_diff(old, new).collect()}
    assert got == {
        1: "unchanged",
        2: "changed",
        3: "removed",
        4: "unchanged",  # punctuation/case-only difference is no change
        5: "added",
    }


def test_corpus_diff_fixture_self_identity(spark):
    from realtime_fraud_detection_spark.operators.corpus import corpus_diff
    from realtime_fraud_detection_spark.sources.testdata import load_table
    from tests.conftest import SF_SMOKE

    docs = load_table(spark, SF_SMOKE, "documents")
    against_self = corpus_diff(docs, docs)
    counts = {
        r["status"]: r["n"]
        for r in against_self.groupBy("status").agg(F.count("*").alias("n")).collect()
    }
    assert counts == {"unchanged": docs.count()}
    # drop 10, mutate 5 → exact release-note counts
    new = docs.filter("doc_id >= 10").withColumn(
        "text",
        F.when(F.col("doc_id") < 15, F.concat(F.col("text"), F.lit(" zz9mut"))).otherwise(
            F.col("text")
        ),
    )
    counts = {
        r["status"]: r["n"]
        for r in corpus_diff(docs, new).groupBy("status").agg(F.count("*").alias("n")).collect()
    }
    assert counts["removed"] == 10 and counts["changed"] == 5
    assert counts["unchanged"] == docs.count() - 15
