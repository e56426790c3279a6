"""Parent-child (join field) search: ``has_child`` / ``has_parent`` /
``parent_id`` over ONE frame holding both relations — the ES join-field
model (a relation-name column + a parent-id column) re-expressed as
Spark joins.

The reference's consumers query the loaded alias with arbitrary DSL
(``ESClient.java:154-170``); indexes mapped with a join field issue
these three clauses.  The engine models the join field as two ordinary
columns:

- ``relation_field`` (default ``relation``): the doc's relation name,
- ``parent_field`` (default ``parent_id``): the parent doc's id (NULL
  on parents/roots).

Compilation — every clause is composable inside ``bool`` /
``constant_score`` / ``dis_max`` trees (filter context):

- ``has_child {type, query, min_children, max_children}``: children of
  ``type`` matching ``query`` aggregate per parent id — ONE shuffle
  that carries only the MATCHING children — the count gates
  ``min_children <= n <= max_children`` (defaults 1..unbounded), and
  the resulting parent-id flag frame left-joins back on the id: a
  semi-join with a count gate.
- ``has_parent {parent_type, query}``: parents of ``parent_type``
  matching ``query`` project to an id frame joined on
  ``parent_field`` (parent ids are unique, so the join never fans
  out).
- ``parent_id {type, id}``: a pure predicate — ``relation == type AND
  parent_field == id`` — no join at all.

Scoring: a body whose TOP-LEVEL query is a single ``has_child`` with
``score_mode`` in (avg, sum, max, min) ranks parents by the aggregated
BM25 ``_score`` of their matching children (child scores from
``plans.scoring.score_frame``, corpus statistics over the whole frame —
the single-index analogue of Lucene's index-wide stats; sums route
through DECIMAL(28,6) so results are order-independent and
oracle-reproducible).  ``score_mode`` in any NESTED position rejects
loudly rather than silently degrade to filter context.  ``has_parent``
``score: true`` is likewise rejected (ES default is false).

The data anomaly where a child's ``parent_field`` points at another
child is not detected (the relation-tree definition lives in the ES
mapping, which the flat frame does not carry) — such a row would match
``has_child`` like a real parent.

Scale shape (100 TB): no driver collect anywhere — each clause is one
child- or parent-side filtered projection/aggregate joined back on an
id key; AQE broadcasts the flag frame when it is small.  Hit filters
on real columns still push to parquet (the flag columns join after the
scan, and Catalyst keeps scan-side conjuncts below the join).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .query_dsl import es_search, validate_body_keys

__all__ = ["es_parent_child"]

_HC_KEYS = {"type", "query", "min_children", "max_children", "score_mode",
            "ignore_unmapped"}
_HP_KEYS = {"parent_type", "query", "score", "ignore_unmapped"}


class _PCRewriter:
    """Walk a query tree; replace has_child / has_parent with internal
    ``_pc_flag`` marker clauses backed by flag frames to left-join, and
    parent_id with its plain bool equivalent."""

    def __init__(self, df: DataFrame, id_field: str, relation_field: str,
                 parent_field: str):
        self.df = df
        self.id_field = id_field
        self.relation_field = relation_field
        self.parent_field = parent_field
        #: (flag frame, join-on) — join-on None means join on id_field
        self.joins: list[tuple[DataFrame, Column | None]] = []

    def _flag(self) -> str:
        return f"_pc_{len(self.joins)}"

    def rewrite(self, q: dict) -> dict:
        if len(q) != 1 and {"has_child", "has_parent", "parent_id"} & set(q):
            # a multi-key dict would otherwise fall through the
            # single-key unpack and smuggle the join clause past the
            # rewriter into compile_query (VERDICT r10 #9)
            raise ValueError(
                "a query object holding has_child/has_parent/parent_id "
                f"must have exactly one key, got {sorted(q)} — wrap "
                "sibling clauses in a bool")
        (kind, body), = q.items() if len(q) == 1 else (("", None),)
        if kind == "has_child":
            unknown = set(body) - _HC_KEYS
            if unknown:
                raise ValueError(
                    f"unsupported has_child option(s): {sorted(unknown)}")
            if str(body.get("score_mode", "none")) != "none":
                raise ValueError(
                    "has_child score_mode is only supported as the body's "
                    "top-level query (filter context cannot carry scores)")
            lo = int(body.get("min_children", 1))
            hi = body.get("max_children")
            if lo < 1:
                raise ValueError("min_children must be >= 1")
            name = self._flag()
            kids = self._children(body["type"], body["query"])
            gate: Column = F.col("_n") >= lo
            if hi is not None:
                gate = gate & (F.col("_n") <= int(hi))
            frame = (
                kids.groupBy(F.col(self.parent_field).alias(self.id_field))
                .agg(F.count(F.lit(1)).alias("_n"))
                .select(self.id_field, gate.alias(name))
            )
            self.joins.append((frame, None))
            return {"_pc_flag": {"column": name}}
        if kind == "has_parent":
            unknown = set(body) - _HP_KEYS
            if unknown:
                raise ValueError(
                    f"unsupported has_parent option(s): {sorted(unknown)}")
            if bool(body.get("score")):
                raise ValueError("has_parent score: true is not supported "
                                 "(ES default false — filter context)")
            name = self._flag()
            key = f"_pcj_{len(self.joins)}"
            from .query_dsl import compile_query

            # the predicate compiles RAW: where() already drops NULL
            # rows, and a coalesce(pred, false) wrapper would block
            # parquet pushdown of the inner conjuncts (the r8 bool trap)
            pred = compile_query(body["query"], self.id_field)
            parents = (
                self.df
                .where((F.col(self.relation_field) == str(body["parent_type"]))
                       & pred)
                .select(F.col(self.id_field).alias(key),
                        F.lit(True).alias(name))
            )
            self.joins.append((parents, F.col(self.parent_field) == F.col(key)))
            return {"_pc_flag": {"column": name}}
        if kind == "parent_id":
            return {"bool": {"filter": [
                {"term": {self.relation_field: str(body["type"])}},
                {"term": {self.parent_field: body["id"]}},
            ]}}
        if kind == "bool":
            out = {}
            for sec in ("must", "filter", "should", "must_not"):
                subs = body.get(sec)
                if subs is None:
                    continue
                subs = subs if isinstance(subs, list) else [subs]
                out[sec] = [self.rewrite(c) for c in subs]
            for k in set(body) - {"must", "filter", "should", "must_not"}:
                out[k] = body[k]
            return {"bool": out}
        if kind == "constant_score":
            return {kind: {**body, "filter": self.rewrite(body["filter"])}}
        if kind == "dis_max":
            return {kind: {**body,
                           "queries": [self.rewrite(c)
                                       for c in body["queries"]]}}
        # any other clause passes through untouched; a parent-child
        # clause hiding in an unsupported container (nested, function
        # filters, aggs) reaches compile_query's unknown-kind rejection
        return q

    def _children(self, ctype: str, query: dict) -> DataFrame:
        from .query_dsl import compile_query

        # raw predicate: where() treats NULL as false, and wrapping in
        # coalesce would block parquet pushdown (the r8 bool trap)
        pred = compile_query(query, self.id_field)
        return self.df.where(
            (F.col(self.relation_field) == str(ctype)) & pred
            & F.col(self.parent_field).isNotNull()
        )


def es_parent_child(
    df: DataFrame,
    body: dict,
    id_field: str = "_id",
    relation_field: str = "relation",
    parent_field: str = "parent_id",
    analyzer: str | None = None,
) -> DataFrame:
    """Run one ES search body that may contain ``has_child`` /
    ``has_parent`` / ``parent_id`` clauses (module docstring for the
    join model).  Everything else — sort, from/size, _source, aggs,
    other clauses — delegates to ``es_search`` over the flag-augmented
    frame."""
    from .analysis import using

    validate_body_keys(body)
    with using(analyzer):
        return _es_parent_child_impl(df, body, id_field, relation_field,
                                     parent_field)


def _es_parent_child_impl(
    df: DataFrame, body: dict, id_field: str,
    relation_field: str, parent_field: str,
) -> DataFrame:
    q = body.get("query")
    if (isinstance(q, dict) and len(q) == 1 and "has_child" in q
            and str(q["has_child"].get("score_mode", "none")) != "none"):
        return _scored_has_child(df, body, id_field, relation_field,
                                 parent_field)
    aggs = body.get("aggs") or {}
    pc_aggs = [(n, s) for n, s in aggs.items()
               if isinstance(s, dict) and ({"children", "parent"} & set(s))]
    if pc_aggs:
        # `children` / `parent` aggregations: switch the aggregation
        # context across the join field (ES join-field aggs).  The
        # matched frame (query hits, no paging) SEMI-JOINS to the other
        # relation — one keyed join carrying only ids, then the ordinary
        # agg compiler runs over the switched population with doc_count
        # as a value_count in the same pass.
        if len(aggs) != 1:
            raise ValueError(
                "children/parent must be the only top-level aggregation")
        if int(body.get("size", 10)) != 0:
            raise ValueError(
                "children/parent aggregations require size: 0 "
                "(the agg frame is the result)")
        from .query_dsl import compile_aggs

        (name, s), = pc_aggs
        kind = "children" if "children" in s else "parent"
        matched = _matched_frame(df, q, id_field, relation_field,
                                 parent_field)
        if kind == "children":
            ctype = str(s["children"]["type"])
            ids = matched.select(F.col(id_field).alias("__pc_pid"))
            pop = df.where(F.col(relation_field) == ctype).join(
                ids, F.col(parent_field) == F.col("__pc_pid"),
                "left_semi")
        else:
            # parent agg: from matched children of `type` to their
            # (distinct by construction) parents
            ctype = str(s["parent"]["type"])
            pids = (matched.where(F.col(relation_field) == ctype)
                    .select(F.col(parent_field).alias("__pc_pid")))
            pop = df.join(pids, F.col(id_field) == F.col("__pc_pid"),
                          "left_semi")
        sub = {"doc_count": {"value_count": {"field": id_field}},
               **(s.get("aggs") or {})}
        return compile_aggs(pop, sub, id_field)
    if not q:
        return es_search(df, body, id_field=id_field)
    rw = _PCRewriter(df, id_field, relation_field, parent_field)
    new_q = rw.rewrite(q)
    out = df
    for frame, cond in rw.joins:
        out = (out.join(frame, [id_field], "left") if cond is None
               else out.join(frame, cond, "left"))
    res = es_search(out, {**body, "query": new_q}, id_field=id_field)
    return res.drop(*[c for c in res.columns
                      if c.startswith(("_pc_", "_pcj_"))])


def _matched_frame(
    df: DataFrame, q, id_field: str,
    relation_field: str, parent_field: str,
) -> DataFrame:
    """The rows the body's query matches — full frame, no paging — for
    aggregation-context switches."""
    if not q:
        return df
    from .query_dsl import _strip_names, compile_query, expand_lookups

    rw = _PCRewriter(df, id_field, relation_field, parent_field)
    new_q = rw.rewrite(q)
    out = df
    for frame, cond in rw.joins:
        out = (out.join(frame, [id_field], "left") if cond is None
               else out.join(frame, cond, "left"))
    pred = compile_query(
        _strip_names(expand_lookups(out, new_q, id_field)), id_field)
    out = out.where(pred)
    return out.drop(*[c for c in out.columns
                      if c.startswith(("_pc_", "_pcj_"))])


def _scored_has_child(
    df: DataFrame, body: dict, id_field: str,
    relation_field: str, parent_field: str,
) -> DataFrame:
    """Top-level scored has_child: parents ranked by the score_mode
    aggregate of their matching children's BM25 ``_score``."""
    from .scoring import score_frame

    extra_body = set(body) - {"query", "size", "_source"}
    if extra_body:
        # loud-reject convention: a sort/from/aggs on the scored path
        # would otherwise vanish silently (validate_body_keys passes —
        # the keys are legal elsewhere; code-review r10)
        raise ValueError(
            "scored has_child supports only query/size/_source body keys "
            f"(got {sorted(extra_body)}); hits rank by _score desc")
    spec = body["query"]["has_child"]
    unknown = set(spec) - _HC_KEYS
    if unknown:
        raise ValueError(
            f"unsupported has_child option(s): {sorted(unknown)}")
    mode = str(spec.get("score_mode", "none"))
    if mode not in ("avg", "sum", "max", "min"):
        raise ValueError(
            f"unsupported has_child score_mode: {mode!r} "
            "(none | avg | sum | max | min)")
    lo = int(spec.get("min_children", 1))
    hi = spec.get("max_children")
    if lo < 1:
        raise ValueError("min_children must be >= 1")
    from .query_dsl import compile_query

    # raw predicate — same pushdown rule as _children
    pred = compile_query(spec["query"], id_field)
    kids_base = df.where(
        (F.col(relation_field) == str(spec["type"])) & pred
        & F.col(parent_field).isNotNull()
    )
    # score ONLY the matching children; corpus statistics (N, avgdl,
    # per-term df) come from the WHOLE frame via stats_over's 1-row
    # aggregate — same values as scoring the full corpus, while the
    # per-row tf/dl work covers child hits only
    kids = score_frame(kids_base, spec["query"], id_field, stats_over=df)
    # decimal-routed sum: child scores are 6-dp rounded, so the per-
    # parent aggregate is order-independent (same convention as _bm25)
    dsum = F.sum(F.col("_score").cast("decimal(28,6)"))
    agg = {
        "sum": F.round(dsum.cast("double"), 6),
        "avg": F.round((dsum / F.count(F.lit(1))).cast("double"), 6),
        "max": F.max("_score"),
        "min": F.min("_score"),
    }[mode]
    gate: Column = F.col("_n") >= lo
    if hi is not None:
        gate = gate & (F.col("_n") <= int(hi))
    parents = (
        kids.groupBy(F.col(parent_field).alias(id_field))
        .agg(agg.alias("_score"), F.count(F.lit(1)).alias("_n"))
        .where(gate)
        .drop("_n")
    )
    hits = df.join(parents, [id_field], "inner")
    size = int(body.get("size", 10))
    hits = hits.orderBy(F.col("_score").desc(), F.col(id_field).asc())
    hits = hits.limit(size)
    src = body.get("_source")
    if src:
        hits = hits.select(*src, "_score")
    return hits
