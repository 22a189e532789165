"""Corpus-level vocabulary statistics — the tokenizer-training /
corpus-analysis prep step of a training-data pipeline: term frequencies,
document frequencies, and a deterministic top-k over the whole corpus.

Shape at scale: explode(words) → ONE hash-aggregate keyed by the term
(map-side partial counts absorb the per-document skew — a term appearing
1M times in one partition shuffles as a single (term, count) row), then a
single-reducer top-k only over the already-aggregated term table. The
document body never shuffles; the term table is orders of magnitude
smaller than the corpus (vocabulary grows ~O(corpus^0.5), Heaps' law).

Top-k is tie-broken by the term itself (suite determinism rule: every
top-k/limit is tie-broken by a unique key).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.text import normalized_text


def term_table(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """(term, tf, df) — corpus term frequency and document frequency from
    one explode + one aggregate (count + count_distinct share the
    grouping)."""
    words = df.select(
        F.col(id_col).alias("doc"),
        F.explode(
            F.split(F.trim(normalized_text(F.col(text_col))), r"\s+")
        ).alias("term"),
    ).filter(F.length("term") > 0)
    return words.groupBy("term").agg(
        F.count("*").alias("tf"),
        F.count_distinct("doc").alias("df"),
    )


def top_k_terms(df: DataFrame, text_col: str, id_col: str, k: int) -> DataFrame:
    """Top-k corpus terms by frequency, ties broken by term; adds the
    frequency rank. The window is a single-reducer sort over the term
    TABLE (not the corpus) — the standard final step after pre-aggregation;
    for huge vocabularies switch to orderBy(...).limit(k), which Spark
    executes as per-partition partial top-k + merge."""
    w = Window.orderBy(F.desc("tf"), F.asc("term"))
    return (
        term_table(df, text_col, id_col)
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def doc_term_table(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """(doc, term, _tf_dt) — the tokenized corpus behind BM25 (and any
    other term-level search signal). Expensive relative to everything
    downstream (the corpus body shuffles once here), so callers serving
    several searches build it once, checkpoint, and pass it to
    :func:`bm25_rank` via `dt=` (the shared-word-table rule)."""
    words = df.select(
        F.col(id_col).alias("doc"),
        F.explode(
            F.split(F.trim(normalized_text(F.col(text_col))), r"\s+")
        ).alias("term"),
    ).filter(F.length("term") > 0)
    return words.groupBy("doc", "term").agg(F.count("*").alias("_tf_dt"))


def bm25_rank(
    df: DataFrame,
    queries: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    query_id_col: str = "q_id",
    query_text_col: str = "query",
    k1: float = 1.2,
    b: float = 0.75,
    top_k: int = 10,
    dt: DataFrame | None = None,
) -> DataFrame:
    """Okapi BM25 ranking of every document against a query table —
    full-text search over the corpus (Robertson & Zaragoza, "The
    Probabilistic Relevance Framework: BM25 and Beyond", FnTIR 2009):

        score(q,d) = Σ_{t∈q} idf(t) · tf(t,d)·(k1+1)
                               / (tf(t,d) + k1·(1 − b + b·|d|/avgdl))
        idf(t)     = ln((N − df(t) + 0.5)/(df(t) + 0.5) + 1)   (Lucene's
                     non-negative variant)

    Returns (q_id, doc, rank, score) — top_k docs per query, score rounded
    to 6 dp and ties broken by doc id (suite determinism rule), so the
    result SET is stable even though idf/score are transcendental.

    Scale shape: the corpus side is the same doc-term table as
    :func:`term_table` (token text shuffles once, map-side combined);
    the query-term table is tiny and BROADCASTS into the term join, so
    only matching doc-terms survive to the scoring aggregate; N and avgdl
    join as a broadcast 1-row frame (no driver action). The final top-k
    is a per-query window over candidates that matched at least one query
    term — never the whole corpus.
    """
    # four consumers (lens, dft, stats, the candidate join) — materialize
    # the doc-term table so the corpus tokenize+shuffle runs ONCE, not per
    # consumer subtree (a DAG has no sharing across join inputs). Callers
    # running several searches over one corpus pass a prebuilt `dt`
    # (doc_term_table) so it is not rebuilt per call either.
    own_dt = dt is None
    if own_dt:
        dt = doc_term_table(df, text_col, id_col).localCheckpoint(eager=False)
    lens = dt.groupBy("doc").agg(F.sum("_tf_dt").alias("_dl"))
    # lens feeds TWO consumers (the per-doc candidate join and the corpus
    # stats aggregate) — materialize it so the groupBy(doc) pass over the
    # doc-term blocks runs once, not per reference (r14, guide §2.4). Only
    # on a dt built here: a caller-supplied dt is reused across calls in one
    # session, and a checkpoint per call would pile up unfreed blocks there
    # (ADVICE r14), so those calls keep a plain lens subtree.
    if own_dt:
        lens = lens.localCheckpoint(eager=False)
    dft = dt.groupBy("term").agg(F.count("*").alias("_df"))
    stats = lens.agg(
        F.count("*").alias("_n_docs"), F.avg("_dl").alias("_avgdl")
    )

    qterms = (
        queries.select(
            F.col(query_id_col).alias("q_id"),
            F.explode(
                F.split(
                    F.trim(normalized_text(F.col(query_text_col))), r"\s+"
                )
            ).alias("term"),
        )
        .filter(F.length("term") > 0)
        .distinct()
    )

    cand = (
        dt.join(F.broadcast(qterms), "term")
        .join(F.broadcast(dft), "term")
        .join(lens, "doc")
        .join(F.broadcast(stats))
    )
    idf = F.log(
        (F.col("_n_docs") - F.col("_df") + 0.5) / (F.col("_df") + 0.5) + 1.0
    )
    denom = F.col("_tf_dt") + k1 * (
        1.0 - b + b * F.col("_dl") / F.col("_avgdl")
    )
    contrib = idf * F.col("_tf_dt") * (k1 + 1.0) / denom
    scored = cand.groupBy("q_id", "doc").agg(
        F.round(F.sum(contrib), 6).alias("score")
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("score"), F.asc("doc"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= top_k)
        .select("q_id", "doc", "rank", "score")
    )


def rrf_fuse(
    rankings: dict[str, DataFrame],
    k: int = 60,
    top_k: int | None = None,
    weights: dict[str, float] | None = None,
    q_col: str = "q_id",
    doc_col: str = "doc",
    rank_col: str = "rank",
) -> DataFrame:
    """Reciprocal-rank fusion of per-query ranked lists (Cormack, Clarke &
    Buettcher, SIGIR 2009) — the standard way to combine lexical (BM25) and
    vector (ANN) retrieval into one hybrid ranking without score
    calibration:

        rrf(q, d) = Σ_s w_s / (k + rank_s(q, d))

    over the sources s where d appears in q's list; k=60 is the paper's
    constant. Each input frame is a ranked list (q_col, doc_col, rank_col)
    with rank unique per (query, doc) within its source — exactly the
    output shape of :func:`bm25_rank` and `similarity.brute_force_topk`.

    Returns (q_id, doc, rrf_score, rank, <source>_rank...) — fused rank is
    tie-broken by doc id; a doc missing from one source carries a NULL
    source rank and simply contributes nothing for it.

    Determinism: each contribution w/(k+rank) is a per-row double rounded
    into DECIMAL(20,16) before the sum, so the fused score is an exact
    order-insensitive decimal sum (the suite's decimal-sum rule) — the
    ranking never depends on float accumulation order across sources or
    partitions.

    Scale shape: the inputs are already per-query top-k tables (k·|queries|
    rows, corpus-independent), so fusion is one union + one map-side-
    combined hash aggregate on (q_id, doc) + a per-query window over ≤
    Σ_s k_s candidates. The corpus itself is never touched — hybrid search
    at 100 TB costs whatever the underlying retrievers cost, plus this
    epsilon.
    """
    if not rankings:
        raise ValueError("rankings must contain at least one source")
    if k < 1:
        raise ValueError(f"k must be >= 1 (k + rank divides), got {k}")
    weights = weights or {}
    unknown = set(weights) - set(rankings)
    if unknown:
        # a typo'd weight key would otherwise silently weight nothing
        raise ValueError(f"weights for unknown sources: {sorted(unknown)}")
    parts = []
    for name, df in rankings.items():
        w = float(weights.get(name, 1.0))
        parts.append(
            df.select(
                F.col(q_col).alias("q_id"),
                F.col(doc_col).alias("doc"),
                F.lit(name).alias("_src"),
                F.col(rank_col).cast("int").alias("_rank"),
                (F.lit(w) / (F.lit(float(k)) + F.col(rank_col)))
                .cast("decimal(20,16)")
                .alias("_contrib"),
            )
        )
    u = parts[0]
    for p in parts[1:]:
        u = u.unionByName(p)
    aggs = [F.sum("_contrib").alias("_score")]
    for name in rankings:
        aggs.append(
            F.min(F.when(F.col("_src") == name, F.col("_rank"))).alias(
                f"{name}_rank"
            )
        )
    fused = u.groupBy("q_id", "doc").agg(*aggs)
    w_rank = Window.partitionBy("q_id").orderBy(F.desc("_score"), F.asc("doc"))
    out = fused.withColumn("rank", F.row_number().over(w_rank))
    if top_k is not None:
        out = out.filter(F.col("rank") <= top_k)
    return out.select(
        "q_id",
        "doc",
        F.round(F.col("_score").cast("double"), 6).alias("rrf_score"),
        "rank",
        *[f"{name}_rank" for name in rankings],
    )


def vocab_summary(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """One-row corpus summary: vocabulary size, total tokens, hapax count
    (terms occurring once — the long-tail mass a tokenizer won't merge),
    and type-token ratio."""
    t = term_table(df, text_col, id_col)
    return t.agg(
        F.count("*").alias("vocab_size"),
        F.sum("tf").alias("total_tokens"),
        F.sum(F.when(F.col("tf") == 1, 1).otherwise(0)).alias("hapax_terms"),
        F.round(F.count("*") / F.sum("tf"), 6).alias("type_token_ratio"),
    )


def corpus_diff(
    old: DataFrame,
    new: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Release-to-release corpus diff: per document id, whether it was
    added, removed, kept unchanged, or changed content — the audit table
    behind "what moved between corpus v1 and v2" (and the input to
    incremental re-processing: only `added`/`changed` docs need to re-run
    the expensive pipeline stages).

    Identity is the document id; change detection is the content
    fingerprint (md5 of normalized text — functions/text.fingerprint, so
    whitespace/punctuation-only edits count as unchanged, same identity
    rule as exact dedup).

    One full-outer join on the id, carrying (id, 32-byte fingerprint) per
    side — never the text. Status is deterministic; the frame aggregates
    to release-note counts with one groupBy.
    """
    from ..functions.text import fingerprint

    o = old.select(
        F.col(id_col).alias("doc"), fingerprint(F.col(text_col)).alias("_fp_old")
    )
    n = new.select(
        F.col(id_col).alias("doc"), fingerprint(F.col(text_col)).alias("_fp_new")
    )
    return o.join(n, "doc", "full_outer").select(
        "doc",
        F.when(F.col("_fp_old").isNull(), "added")
        .when(F.col("_fp_new").isNull(), "removed")
        .when(F.col("_fp_old") == F.col("_fp_new"), "unchanged")
        .otherwise("changed")
        .alias("status"),
    )
