"""Full-text relevance retrieval (BM25) as pure DataFrame ops.

The reference ships rows into Elasticsearch precisely so users can run
relevance-ranked ``match`` queries over them (the generated mapping at
``PAHive2ES.scala:126-159`` is what Lucene's BM25 similarity scores
against).  This operator reproduces that capability engine-side: score a
corpus against a query string with Lucene's BM25 formula and return the
top-k — no index required.

Scale shape (100 TB corpus, q query terms): each document scores from
its own token stream (tf, dl) against ONE 1-row corpus aggregate (N,
avgdl, the q dfs) that reaches the rows as a scalar subquery — the
``plans/scoring.py`` construction (``CorpusStats``), so no explode, no
(doc, term) shuffle and no id join; the ranking is a top-k cut
(TakeOrderedAndProject heaps, no global sort).

Determinism: per-(doc,term) partial scores are rounded to 6 decimals and
summed as DECIMAL(28,6) — decimal addition is associative, so partition
order can't flip low-order float bits, and an ANSI-SQL oracle reproduces
the exact values.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = ["bm25_topk"]



def bm25_topk(
    docs: DataFrame,
    query: str,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = 1.2,
    b: float = 0.75,
    top_k: int = 10,
) -> DataFrame:
    """Top-k documents for ``query`` under Lucene-style BM25.

    idf(t)   = ln(1 + (N - df + 0.5) / (df + 0.5))          (always > 0)
    score(d) = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl))

    Returns (id_col, score, rank) ordered by score desc, id asc.  ``avgdl``
    is the corpus mean token count (Lucene semantics), computed in the same
    1-row aggregate as N.
    """
    # analysis chain shared with plans/query_dsl.py (standard analyzer
    # by default — plans/analysis.py); a NULL text is an empty document
    from ..plans.analysis import analyze_text
    from ..plans.scoring import CorpusStats, bm25_sum_sql

    terms = sorted(set(analyze_text(query)))
    if not terms:
        raise ValueError("query has no terms after analysis")

    st = CorpusStats(k1, b)
    m = st.partial_map(text_col, terms)
    ranked = (
        st.attach(docs, docs)
        .where(F.col(m).isNotNull())  # docs holding a query term
        .select(F.col(id_col).alias("_did"),
                F.expr(bm25_sum_sql(m, terms)).alias("score"))
        .orderBy(F.col("score").desc(), F.col("_did").asc())
        .limit(top_k)
    )
    # rank over the k collected rows only (single tiny partition)
    from pyspark.sql.window import Window

    w = Window.orderBy(F.col("score").desc(), F.col("_did").asc())
    return ranked.select(
        F.col("_did").alias(id_col),
        "score",
        F.row_number().over(w).alias("rank"),
    )


def rrf_fuse(
    ranked: list[DataFrame],
    id_col: str = "doc_id",
    rank_col: str = "rank",
    k: int = 60,
    top_k: int = 10,
) -> DataFrame:
    """Reciprocal-rank fusion of N ranked result lists (the standard hybrid
    lexical+vector retrieval combiner — Cormack et al. 2009, the same
    formula behind ES's ``rrf`` rank mode):
    ``rrf_score(d) = Σ_lists 1 / (k + rank_list(d))``, with a list that
    does not contain ``d`` contributing 0.

    Each input carries (id_col, rank_col); inputs are typically already
    tiny top-k frames (bm25_topk, an es_search knn result ranked by
    ``_score``), so the union + groupBy is a trivially small aggregation —
    the heavy lifting happened inside each retriever.  ``k`` dampens the
    head (rank 1 vs 2 differs by ~1/3700 at k=60, so no single list
    dominates); ties break on id for engine-stable output."""
    if not ranked:
        raise ValueError("rrf_fuse needs at least one ranked input")
    parts = [
        df.select(
            F.col(id_col).alias("_did"),
            (F.lit(1.0) / (F.lit(float(k)) + F.col(rank_col).cast("double"))).alias("_c"),
        )
        for df in ranked
    ]
    allc = parts[0]
    for p in parts[1:]:
        allc = allc.unionByName(p)
    fused = (
        allc.groupBy("_did")
        .agg(F.round(F.sum("_c"), 9).alias("rrf_score"))
        .orderBy(F.col("rrf_score").desc(), F.col("_did").asc())
        .limit(top_k)
    )
    from pyspark.sql.window import Window

    w = Window.orderBy(F.col("rrf_score").desc(), F.col("_did").asc())
    return fused.select(
        F.col("_did").alias(id_col),
        "rrf_score",
        F.row_number().over(w).alias("rank"),
    )
