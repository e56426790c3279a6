"""Percolate: REVERSE search — stored query bodies matched against
candidate documents, the alerting/classification shape (ES ``percolate``
query over a percolator index).

Live ES indexes the queries and percolates one document per request; at
pipeline scale the natural inversion is BATCH percolation: all stored
queries compile once on the driver into N boolean Columns (the existing
DSL compiler — ``compile_query`` — turns ANY stored filter-context body
into a predicate), and ONE scan over the candidate frame evaluates every
query per row, collecting the ids of the matching queries.  N queries ×
M documents costs one table pass, no join, no shuffle (the gated-column
pattern the adjacency-matrix agg uses at ``query_dsl.py``), and scan-side
conjuncts of the candidate ``filter`` still push to parquet.

Scoring contexts reject loudly: percolation is a MATCH decision, not a
ranking — a stored body whose top-level clause is score-only
(``function_score`` / ``script_score`` / ``knn`` / feature queries /
``pinned``) has no filter-context meaning, exactly ES's percolator
restriction on unsupported query types.

Reference parity note: the reference loader publishes an alias that
consumers query with arbitrary DSL (``ESClient.java:154-170``); a
percolator index is the same DSL stored server-side.  This module serves
that consumer surface against the engine's tables.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .query_dsl import _strip_names, compile_query, expand_lookups

__all__ = ["es_percolate"]

#: score-only clause kinds with no filter-context meaning — percolation
#: rejects these loudly instead of silently degrading (the ES percolator
#: likewise limits supported query types)
_SCORE_ONLY = (
    "function_score", "script_score", "knn", "rank_feature",
    "distance_feature", "pinned", "more_like_this",
)


#: every container clause and the slot(s) where child QUERY CLAUSES live
#: — the rejection walk recurses exactly here (code-review r11: the
#: original bool/constant_score/dis_max whitelist missed boosting/
#: nested/join containers; a fully generic key walk would instead
#: false-positive on FIELD names like "pinned" inside leaf specs)
_CONTAINERS: dict[str, tuple[str, ...]] = {
    "bool": ("must", "filter", "should", "must_not"),
    "constant_score": ("filter",),
    "dis_max": ("queries",),
    "boosting": ("positive", "negative"),
    "nested": ("query",),
    "has_child": ("query",),
    "has_parent": ("query",),
    "span_within": ("little", "big"),
    "span_containing": ("little", "big"),
    "span_near": ("clauses",),
    "span_or": ("clauses",),
    "span_not": ("include", "exclude"),
    "span_first": ("match",),
}


def _reject_score_context(qid, q) -> None:
    if isinstance(q, list):
        for sub in q:
            _reject_score_context(qid, sub)
        return
    if not isinstance(q, dict):
        return
    for kind, body in q.items():
        if kind in _SCORE_ONLY:
            raise ValueError(
                f"percolate query {qid!r} uses {kind!r}, which is "
                "score-only — percolation is a filter-context match "
                "decision")
        slots = _CONTAINERS.get(kind)
        if slots and isinstance(body, dict):
            for s in slots:
                _reject_score_context(qid, body.get(s))


def es_percolate(
    df: DataFrame,
    queries: dict | list,
    id_field: str = "_id",
    analyzer: str | None = None,
) -> DataFrame:
    """Match every stored query against every candidate row in ONE scan.

    ``queries`` is ``{query_id: body}`` or ``[(query_id, body), ...]``
    where each body is a query CLAUSE dict (the value under a search
    body's ``"query"`` key).  Returns ``(id_field, query_id)`` pairs —
    one row per (document, matching stored query), documents with no
    match absent, exactly the hit list ES returns when percolating that
    document.  Pair output keeps the result driver-hashable and joins
    back to either side trivially.

    Scale shape: each predicate is one parsed Spark-SQL expression
    (``compile_query``) — N stored queries add
    N boolean expressions to one projection, not N scans or joins; the
    per-row match-id array is built with ``array_compact`` (nulls =
    non-matches dropped) and exploded.  100 TB of candidates percolate in
    a single embarrassingly-parallel pass."""
    from .analysis import using

    pairs = list(queries.items()) if isinstance(queries, dict) else [
        (qid, body) for qid, body in queries]
    if not pairs:
        raise ValueError("percolate needs at least one stored query")
    ids = [str(qid) for qid, _ in pairs]
    if len(set(ids)) != len(ids):
        raise ValueError("duplicate percolate query ids")
    with using(analyzer):
        flags = []
        for qid, q in pairs:
            _reject_score_context(qid, q)
            q = _strip_names(expand_lookups(df, q, id_field))
            # raw predicate (no coalesce wrapper): a NULL match makes
            # when() yield NULL, which array_compact drops — same
            # NULL-is-no-match semantics as where()
            flags.append(compile_query(q, id_field))
    # evaluate the N predicates in a dedicated PROJECT first: whole-stage
    # codegen's subexpression elimination then computes shared pieces
    # (e.g. the tokenize of a field several match bodies touch) ONCE —
    # folding them into the explode's Generate node re-evaluated them
    # per query (4 match queries cost 4 tokenize passes, SCALE.md
    # "Round-11 probes")
    names = [f"__pq{i}" for i in range(len(flags))]
    flagged = df.select(
        F.col(id_field),
        *[f.alias(n) for f, n in zip(flags, names)])
    matched = F.array_compact(F.array(*[
        F.when(F.col(n), F.lit(str(qid)))
        for n, (qid, _) in zip(names, pairs)]))
    return (
        flagged.select(F.col(id_field),
                       F.explode(matched).alias("query_id"))
    )
