"""Relevance-scored search: a ``_score`` pipeline over the query DSL.

The reference loads a live index consumers query with RANKED searches
(``ESClient.java:154-170`` — the alias serves ordinary ``match`` queries,
which Lucene scores with BM25).  ``plans/query_dsl.py`` is filter-context
only; this module adds the score context on top of the same clause
compilers:

- ``match`` / ``multi_match`` / ``match_phrase`` score with Lucene's BM25
  (the exact formula of ``operators/retrieval.py:38``; multi_match is
  best_fields — max over per-field scores + ``tie_breaker``; match_phrase
  scores its terms gated on the phrase actually matching — live ES uses
  position-aware phrase freq, a documented approximation),
- ``term`` scores idf (the exact BM25 value for a keyword posting:
  tf=1, dl=avgdl ⇒ score = idf),
- match/multi_match ``fuzziness`` widens the HIT SET (the predicate
  fuzzy-matches) but scoring stays exact-term BM25: a doc matched only
  fuzzily is a hit with score 0.0 and ranks last — a documented
  approximation (live ES scales BM25 by edit distance per fuzzy
  expansion, which needs per-expansion df the flat frame doesn't
  carry),
- structural clauses (``range`` / ``exists`` / ``wildcard`` / ``prefix``
  / ``ids`` / ``fuzzy`` / ``regexp`` / geo) contribute the constant 1.0
  exactly like live ES's filter-to-query rewrite,
- ``bool`` sums must + matching should (filter / must_not contribute 0),
- ``constant_score`` yields its boost, ``dis_max`` the max of child
  scores plus ``tie_breaker`` times the rest,
- ``function_score`` transforms the inner score: ``field_value_factor``
  (all ES modifiers), ``gauss``/``exp``/``linear`` decay on
  numeric/date/geo fields, seeded ``random_score``, and ``weight``
  functions with optional per-function ``filter``, combined by
  ``score_mode`` and applied by ``boost_mode``,
- ``boosting`` demotes (never excludes) negative-query matches by
  ``negative_boost``,
- ``script_score`` (query and function_score function) computes the
  score from the Painless arithmetic subset (doc refs, params, Math.*)
  with ``_score`` bound to the inner query's score — all codegen,
- ``rescore`` re-ranks the top window with a second query (corpus-wide
  stats for both, TakeOrderedAndProject window cut),
- a body with ``knn`` retrieves the UNION of query matches and the
  exact-cosine top-k, summing BM25 and ``(1 + cos) / 2`` (ES 8 combined
  retrieval; knn-only bodies return exactly the top-k).

Scale shape (100 TB corpus): a document's BM25 partials need only its
own tokens plus three index-wide numbers (N, avgdl, each query term's
df), so every scored plan reduces its corpus statistics to ONE 1-row
aggregate (``CorpusStats``) that reaches the rows as a scalar subquery,
and each row computes its own tf and dl in codegen.  No explode, no
(doc, term) shuffle, no join back on the id; the whole score
expression tree is plain codegen over the row.  No per-clause scans,
no Python.

Rendering: the score tree is ONE Spark-SQL text (``_ScoreCompiler``)
parsed by one ``F.expr`` — never inside a ``transform`` lambda, which
Spark interprets.  The pieces other modules render — a node's match
predicate (``query_dsl.query_sql``), a script, a haversine distance —
are Spark-SQL text too, read inline.

Determinism: per-(doc, term) partials are rounded to 6 decimals (same as
``bm25_topk``), DECIMAL(28,6) sums, final ``_score`` rounded to 6 — an
ANSI-SQL oracle reproduces the exact values.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.util import (
    sql_bind, sql_ident, sql_let, sql_literal, sql_path, sql_string,
)
from .analysis import analyze_col, analyze_sql, field_terms, shingle_sql
from .analysis import analyze_text as _analyze_terms
from .query_dsl import compile_query, haversine_meters, query_sql

__all__ = ["es_scored_search", "es_retriever_search", "score_frame",
           "with_shared_analysis", "sparse_tf_vector", "CorpusStats",
           "bm25_sum_sql"]


def sparse_tf_vector(text, analyzer: str | None = None):
    """Term-frequency sparse vector (``map<token,double>``) from a text
    column — the honest doc-side encoder for the ``sparse_vector``
    query when the corpus has no model-produced (ELSER) expansions:
    weight(t) = tf(t) over the analyzed stream.

    Scale shape: the analyzed token array is LET-BOUND so the analysis
    chain evaluates ONCE per row (the r13 slice-in-HOF lesson), then
    the map builds via array_distinct + a counting filter — all codegen
    higher-order functions, no UDF, no shuffle; O(distinct × len)
    comparisons per row on in-register tokens."""
    return sql_bind(text, lambda ref: sql_let(
        [analyze_sql(ref, analyzer)], lambda ts: (
            f"map_from_entries(transform(array_distinct({ts[0]}), "
            f"t -> struct(t AS key, CAST(size(filter({ts[0]}, x -> x = t))"
            " AS DOUBLE) AS value)))")))

#: clauses that score as the constant 1.0 when they match (ES's
#: filter-to-query rewrite wraps them in a constant score)
_CONSTANT_ONE_KINDS = {
    "range", "exists", "wildcard", "prefix", "ids", "fuzzy", "regexp",
    "terms", "terms_set", "geo_distance", "geo_bounding_box", "nested",
    "match_phrase_prefix", "intervals",
    "span_term", "span_or", "span_near", "span_first", "span_not",
}


def _normalize(q: dict) -> dict:
    """Expand query_string/simple_query_string into plain clause trees so
    the score builder and the hit filter see one grammar."""
    (kind, body), = q.items()
    if kind == "wrapper":
        import base64 as _b64
        import json as _json

        raw = body["query"] if isinstance(body, dict) else body
        return _normalize(_json.loads(_b64.b64decode(str(raw))))
    if kind == "query_string":
        from .query_string import parse_query_string

        return _normalize(parse_query_string(body))
    if kind == "simple_query_string":
        from .query_string import parse_simple_query_string

        return _normalize(parse_simple_query_string(body))
    if kind == "bool":
        out = {}
        for sec in ("must", "filter", "should", "must_not"):
            subs = body.get(sec)
            if subs is None:
                continue
            subs = subs if isinstance(subs, list) else [subs]
            out[sec] = [_normalize(c) for c in subs]
        for k in ("minimum_should_match",):
            if k in body:
                out[k] = body[k]
        return {"bool": out}
    if kind == "constant_score":
        return {"constant_score": {**body, "filter": _normalize(body["filter"])}}
    if kind == "dis_max":
        return {"dis_max": {**body, "queries": [_normalize(c) for c in body["queries"]]}}
    if kind == "function_score":
        out = dict(body)
        out["query"] = _normalize(body.get("query", {"match_all": {}}))
        return {"function_score": out}
    if kind == "pinned":
        return {"pinned": {**body, "organic": _normalize(body["organic"])}}
    if kind == "boosting":
        return {"boosting": {**body,
                             "positive": _normalize(body["positive"]),
                             "negative": _normalize(body["negative"])}}
    if kind == "script_score":
        return {"script_score": {
            **body, "query": _normalize(body.get("query", {"match_all": {}}))}}
    return q


#: score-tree nodes whose score needs no match predicate of their own:
#: they score through their children (a non-``cross_fields``
#: ``multi_match`` through its per-field clauses), and the caller's hit
#: filter compiles — and so validates — the whole tree anyway
_UNGATED_KINDS = {"match_all", "dis_max", "pinned", "function_score",
                  "boosting", "semantic", "weighted_tokens"}


def _dis_max(parts: list[str], tie: float) -> str:
    """ES's dis_max combine: the best part plus ``tie`` times the sum of
    the others."""
    best = f"greatest({', '.join(parts)})" if len(parts) > 1 else parts[0]
    if tie and len(parts) > 1:
        best = f"({best} + {sql_literal(tie)} * ({_sum(parts)} - {best}))"
    return best


def _sum(parts: list[str]) -> str:
    """``parts`` added left to right."""
    return f"({' + '.join(parts)})" if len(parts) > 1 else parts[0]


def _decimal_sum(parts) -> str:
    """Σ of ``parts``, each rounded to 6 decimals so DECIMAL(28,6)
    addition is exact and order-independent, as a DOUBLE — the
    BM25-family convention an ANSI-SQL oracle replays bit-for-bit."""
    adds = "".join(f" + CAST(round({p}, 6) AS DECIMAL(28,6))" for p in parts)
    return f"CAST(CAST(0 AS DECIMAL(28,6)){adds} AS DOUBLE)"


def _times(score: str, factor: float) -> str:
    return f"({score} * {sql_literal(float(factor))})"


class _ScoreCompiler:
    """One walk of a normalized query tree: ``build`` renders the score
    as Spark-SQL text and, as each arm reads a corpus statistic (a
    term-score map or a keyword idf), declares it on ``stats``.
    ``stats.attach`` then renders exactly what the score reads.

    A node's own match predicate (``query_dsl.query_sql``) is rendered
    only where the node gates on it; ``pred`` hands ``build`` the root's
    predicate when the caller has rendered it already (ES|QL's full-text
    WHERE functions)."""

    def __init__(self, id_field: str, stats: "CorpusStats"):
        self.id_field = id_field
        self.stats = stats

    def _matches(self, q: dict) -> str:
        """``q``'s match predicate, NULL read as false."""
        return f"coalesce({query_sql(q, self.id_field)}, FALSE)"

    def build(self, q: dict, pred: str | None = None) -> str:
        (kind, body), = q.items()
        if kind == "knn":
            raise ValueError(
                "knn has its own scored path in es_search — not valid here"
            )
        if pred is None and kind not in _UNGATED_KINDS and not (
                kind == "multi_match"
                and body.get("type", "best_fields") != "cross_fields"):
            # rendered before the arm runs: query_sql also validates
            pred = query_sql(q, self.id_field)

        def gate(score: str) -> str:
            """``score`` where this node matches, else 0."""
            return f"CASE WHEN {pred} THEN {score} ELSE 0.0D END"

        if kind == "match_all":
            return sql_literal(float(body.get("boost", 1.0)))
        if kind in ("match", "match_phrase"):
            field, raw = next(iter(body.items()))
            spec = raw if isinstance(raw, dict) else {"query": raw}
            boost = float(spec.get("boost", 1.0))
            return gate(self._bm25(field, str(spec["query"]), boost))
        if kind == "match_bool_prefix":
            # bool of term queries + trailing prefix: the full terms sum
            # their BM25 partials; the prefix clause contributes the
            # constant 1.0 when it matches (Lucene's constant-score
            # prefix rewrite), all gated on the clause's own predicate
            from .analysis import preanalyzed_stream, sayt_subfield

            field, raw = next(iter(body.items()))
            spec = raw if isinstance(raw, dict) else {"query": raw}
            boost = float(spec.get("boost", 1.0))
            # a search_as_you_type shingle subfield (round 13): both the
            # scored terms and the prefix clause read shingles
            terms = field_terms(field, spec["query"])
            sub = sayt_subfield(field)
            if not terms:
                return gate(sql_literal(boost))
            full = list(dict.fromkeys(terms[:-1]))
            root = sub[0] if sub is not None else field
            pre = preanalyzed_stream(root)
            toks = _nonnull_toks(sql_path(pre) if pre is not None
                                 else analyze_sql(sql_path(root)))
            if sub is not None:
                toks = shingle_sql(toks, sub[1])
            prefix = f"exists({toks}, x -> startswith(x, {sql_string(terms[-1])}))"
            score = (f"({self._bm25_terms(field, full)}"
                     f" + CASE WHEN {prefix} THEN 1.0D ELSE 0.0D END)")
            return gate(_times(score, boost))
        if kind == "multi_match":
            boost = float(body.get("boost", 1.0))
            tie = float(body.get("tie_breaker", 0.0))
            mm_type = str(body.get("type", "best_fields"))
            if mm_type == "cross_fields":
                # term-centric scoring over the blended-df maps: per term,
                # dismax across the group's fields (+ tie_breaker times
                # the rest, per-field boosts applied to each field's
                # score), then the per-term contributions sum — rounded
                # to 6 and DECIMAL-added so the total is order-
                # independent and oracle-reproducible.  Fields group by
                # analyzer (a search_as_you_type subfield scores its
                # shingles apart from its root); groups combine by dismax
                from .query_dsl import _analyzer_groups, _split_field_boosts

                flds, boosts = _split_field_boosts(body["fields"])
                parts = []
                for g in _analyzer_groups(flds):
                    group = [flds[i] for i in g]
                    terms = sorted(set(field_terms(group[0], body["query"])))
                    if not terms:
                        continue
                    maps = [sql_ident(self.stats.partial_map(
                        f, terms, df_fields=group)) for f in group]
                    parts.append(_decimal_sum(_dis_max([
                        _times(f"coalesce({m}[{sql_string(t)}], 0.0D)",
                               boosts[i]) for m, i in zip(maps, g)], tie)
                        for t in terms))
                if not parts:
                    return gate(sql_literal(boost))
                return gate(_times(_dis_max(parts, tie), boost))
            per = []
            for f in body["fields"]:
                f2, _, fb = str(f).partition("^")
                fboost = float(fb) if fb else 1.0
                if mm_type in ("best_fields", "most_fields"):
                    spec = {"query": body["query"],
                            "operator": body.get("operator", "or"),
                            "boost": fboost}
                    for k in ("minimum_should_match", "fuzziness",
                              "zero_terms_query"):
                        if k in body:
                            spec[k] = body[k]
                    sub = {"match": {f2: spec}}
                elif mm_type == "phrase":
                    spec = {"query": body["query"], "boost": fboost}
                    if "slop" in body:
                        spec["slop"] = body["slop"]
                    sub = {"match_phrase": {f2: spec}}
                elif mm_type == "phrase_prefix":
                    # constant-one clause (ES scores prefix phrases with
                    # position data the engine approximates away)
                    sub = {"match_phrase_prefix": {f2: {"query": body["query"],
                                                        "boost": fboost}}}
                elif mm_type == "bool_prefix":
                    spec = {"query": body["query"],
                            "operator": body.get("operator", "or"),
                            "boost": fboost}
                    if "minimum_should_match" in body:
                        spec["minimum_should_match"] = body["minimum_should_match"]
                    sub = {"match_bool_prefix": {f2: spec}}
                else:
                    raise ValueError(
                        f"unsupported multi_match type: {mm_type!r} "
                        "(best_fields | most_fields | phrase | phrase_prefix"
                        " | cross_fields | bool_prefix)"
                    )
                per.append(self.build(sub))
            if mm_type in ("most_fields", "bool_prefix"):
                # most_fields and bool_prefix SUM the per-field scores
                # (ES's Type enum groups both with tieBreaker 1.0);
                # tie_breaker applies to the best_fields family only
                return _times(_sum(per), boost)
            return _times(_dis_max(per, tie), boost)
        if kind == "term":
            field, raw = next(iter(body.items()))
            value = raw["value"] if isinstance(raw, dict) else raw
            boost = float(raw.get("boost", 1.0)) if isinstance(raw, dict) else 1.0
            return gate(_times(self.stats.idf(field, value), boost))
        if kind == "bool":
            parts: list[str] = []
            for c in body.get("must", []):
                parts.append(self.build(c))
            for c in body.get("should", []):
                parts.append(self.build(c))  # build() is already pred-gated
            if not parts:
                # filter/must_not-only bool: constant 1.0 like ES's
                # ConstantScore(…) rewrite of a pure-filter query
                return gate("1.0D")
            # gate on the bool's OWN match predicate: a nested bool whose
            # must/must_not/minimum_should_match fails scores ZERO even
            # when individual should-children match (code-review r8: the
            # ungated sum leaked a non-matching inner bool's child scores
            # into a matching outer should)
            return gate(_sum(parts))
        if kind == "constant_score":
            return gate(sql_literal(float(body.get("boost", 1.0))))
        if kind == "dis_max":
            return _dis_max([self.build(c) for c in body["queries"]],
                            float(body.get("tie_breaker", 0.0)))
        if kind == "script":
            # constant-scored like every structural clause, but script's
            # boost is a SIBLING of the "script" key (the generic
            # constant-kind extraction would read the inner spec and
            # silently drop it — code-review r10)
            return gate(sql_literal(float(body.get("boost", 1.0))))
        if kind == "pinned":
            # ES pinned: the listed ids sort ABOVE every organic hit, in
            # list order — live ES pins with scores descending from
            # Float.MAX_VALUE; the engine uses 1e10 - position, far
            # above any BM25 value and oracle-expressible
            ids = [str(v) for v in body["ids"]]
            out = self.build(body["organic"])
            idc = f"CAST({sql_path(self.id_field)} AS STRING)"
            for i in range(len(ids) - 1, -1, -1):
                out = (f"CASE WHEN {idc} = {sql_string(ids[i])} THEN "
                       f"{sql_literal(1e10 - i)} ELSE {out} END")
            # the query-level boost multiplies pinned constants and
            # organic scores alike (code-review r10: it validated as an
            # allowed key but was silently dropped)
            return _times(out, body.get("boost", 1.0))
        if kind == "combined_fields":
            # BM25F over the combined field (Lucene CombinedFieldQuery):
            # tf and dl are per-field values weighted by the field
            # boosts and SUMMED into one synthetic field; df counts docs
            # where the term appears in ANY field.  Per-term partials
            # come from the group's single ``_cfmap_*`` map; terms
            # sum decimal-rounded like every BM25 family member
            from .query_dsl import _split_field_boosts

            flds, boosts = _split_field_boosts(body["fields"], min_boost=1.0)
            terms = tuple(sorted(set(_analyze_terms(str(body["query"])))))
            boost = float(body.get("boost", 1.0))
            if not terms:
                return gate(sql_literal(boost))
            m = self.stats.combined_map(flds, boosts, terms)
            return gate(_times(bm25_sum_sql(m, terms), boost))
        if kind == "rank_feature":
            # ES rank_feature: a monotonic function of a positive
            # numeric feature field — saturation x/(x+pivot) (pivot
            # REQUIRED here: live ES defaults to the index's mean
            # feature value, which a deterministic engine must not
            # guess), log ln(sf + x), sigmoid x^e/(x^e + pivot^e),
            # linear x.  All closed-form codegen
            fns = [k for k in ("saturation", "log", "sigmoid", "linear")
                   if k in body]
            unknown = set(body) - {"field", "boost", "saturation", "log",
                                   "sigmoid", "linear"}
            if unknown or len(fns) > 1:
                raise ValueError(
                    f"bad rank_feature options: {sorted(unknown) or fns}")
            boost = float(body.get("boost", 1.0))
            x = f"CAST({sql_path(body['field'])} AS DOUBLE)"
            fn = fns[0] if fns else "saturation"
            spec_f = body.get(fn) or {}
            if fn == "saturation":
                if "pivot" not in spec_f:
                    raise ValueError(
                        "rank_feature saturation needs an explicit pivot "
                        "(live ES derives one from index statistics — "
                        "pass it for deterministic scores)")
                if float(spec_f["pivot"]) <= 0:
                    raise ValueError("rank_feature pivot must be positive")
                s = f"({x} / ({x} + {sql_literal(float(spec_f['pivot']))}))"
            elif fn == "log":
                if float(spec_f["scaling_factor"]) <= 0:
                    raise ValueError(
                        "rank_feature scaling_factor must be positive")
                s = f"ln({sql_literal(float(spec_f['scaling_factor']))} + {x})"
            elif fn == "sigmoid":
                pv = float(spec_f["pivot"])
                ex = float(spec_f["exponent"])
                if pv <= 0 or ex <= 0:
                    raise ValueError(
                        "rank_feature sigmoid pivot/exponent must be "
                        "positive")
                pw = f"power({x}, {sql_literal(ex)})"
                s = f"({pw} / ({pw} + {sql_literal(pv ** ex)}))"
            else:
                s = x
            return gate(f"round({_times(s, boost)}, 6)")
        if kind == "distance_feature":
            # ES distance_feature: boost * pivot / (pivot + distance)
            # from origin — geo (haversine meters) or date
            # (milliseconds); closed-form codegen like the decay family
            unknown = set(body) - {"field", "origin", "pivot", "boost"}
            if unknown:
                raise ValueError(
                    f"unsupported distance_feature option(s): "
                    f"{sorted(unknown)}")
            boost = float(body.get("boost", 1.0))
            origin, pivot = body["origin"], body["pivot"]
            if isinstance(origin, dict):
                pv = _parse_distance_m(pivot)
                if pv is None:
                    raise ValueError(
                        f"bad distance_feature pivot: {pivot!r}")
                fld = sql_path(body["field"])
                dist = haversine_meters(
                    f"{fld}.lat", f"{fld}.lon",
                    float(origin["lat"]), float(origin["lon"]))
            else:
                pv = _parse_duration_ms(pivot)
                if pv is None:
                    raise ValueError(
                        f"bad distance_feature pivot: {pivot!r} "
                        "(date pivots are ES time units, e.g. '7d')")
                # validate the origin DRIVER-SIDE: a bad string cast to
                # timestamp is NULL in Spark and would silently poison
                # every _score (code-review r10).  Epoch-millis numbers
                # are ES-legal; "now" needs the engine's pinned-clock
                # rule — reject with the fix spelled out
                if isinstance(origin, (int, float)) and not isinstance(
                        origin, bool):
                    ocol = f"timestamp_millis({int(origin)})"
                else:
                    o = str(origin)
                    if o.strip().lower().startswith("now"):
                        raise ValueError(
                            "distance_feature origin 'now' is "
                            "nondeterministic — pass an explicit "
                            "timestamp (pinned-clock convention)")
                    import datetime as _dt

                    try:
                        _dt.datetime.fromisoformat(o.replace(" ", "T"))
                    except ValueError:
                        raise ValueError(
                            f"bad distance_feature origin: {origin!r} "
                            "(ISO timestamp or epoch millis)") from None
                    ocol = f"CAST({sql_string(o)} AS TIMESTAMP)"
                dist = (f"CAST(abs(unix_millis(CAST({sql_path(body['field'])}"
                        f" AS TIMESTAMP)) - unix_millis({ocol})) AS DOUBLE)")
            pvl = sql_literal(float(pv))
            return gate(f"round({_times(f'({pvl} / ({pvl} + {dist}))', boost)}, 6)")
        if kind == "max_sim":
            # late-interaction maxSim (ES rank_vectors
            # maxSimDotProduct): Σ over QUERY vectors of the best dot
            # product against any doc vector.  The query side is a
            # plan literal (ColBERT queries are ≤ dozens of vectors),
            # so the sum unrolls like the sparse_vector dot product;
            # the doc side is one transform+array_max per query vector
            # — all codegen higher-order functions, zero shuffle, zero
            # UDF.  Each per-query max rounds to 6 decimals before
            # DECIMAL(28,6) addition (the BM25-family convention), so
            # a DuckDB oracle replays the sum hash-identically via
            # list_dot_product/list_max.
            doc = sql_path(body["field"])
            # a doc vector of the wrong dimension would zip_with into
            # NULL products that array_max skips and coalesce turns
            # into a silent 0 score (round-14 review) — reject loudly
            # at runtime instead, the engine's anti-silent policy
            dim = len(body["query_vectors"][0])
            bests = []
            for qv in body["query_vectors"]:
                lit_q = ", ".join(sql_literal(float(x)) for x in qv)
                bests.append(
                    f"coalesce(array_max(transform({doc}, d -> aggregate("
                    f"zip_with(d, array({lit_q}), (a, b) -> CAST(a AS DOUBLE)"
                    " * b), 0.0D, (acc, x) -> acc + x))), 0.0D)")
            msg = sql_string(f"max_sim: doc vector dimension != {dim} "
                             "(query_vectors dimension) on field ")
            return gate(
                f"CASE WHEN exists({doc}, d -> size(d) != {dim}) THEN "
                f"CAST(raise_error(concat({msg}, "
                f"{sql_string(str(body['field']))})) AS DOUBLE) "
                f"ELSE {_times(_decimal_sum(bests), body.get('boost', 1.0))}"
                " END")
        if kind == "semantic":
            # semantic_text stand-in: the standard analysis chain IS
            # the "inference" — distinct query tokens at weight 1.0,
            # rewritten onto sparse_vector (validation in the filter
            # branch, which the caller's hit filter runs).  NOTE: use the
            # module-level _analyze_terms (= analysis.analyze_text,
            # identical to query_dsl's wrapper) — a local import here
            # would shadow the name for the WHOLE method and break the
            # earlier combined_fields/_bm25 call sites with
            # UnboundLocalError.
            toks = sorted(set(_analyze_terms(str(body["query"]))))
            return self.build({"sparse_vector": {
                "field": body["field"],
                "query_vector": {t: 1.0 for t in toks},
                **({"boost": body["boost"]} if "boost" in body else {})}})
        if kind == "weighted_tokens":
            # field-keyed precursor of sparse_vector — rewrite and
            # recurse (validation lives in the filter branch, which the
            # caller's hit filter runs)
            from .query_dsl import _field_spec

            field, spec = _field_spec(body)
            return self.build({"sparse_vector": {
                "field": field, "query_vector": spec["tokens"],
                **({"boost": spec["boost"]} if "boost" in spec else {})}})
        if kind == "sparse_vector":
            # learned-sparse dot product: Σ_t qv[t] * doc_map[t] over
            # the QUERY vector's tokens — the query expansion is small
            # (ELSER prunes to ~dozens of tokens), so the sum unrolls
            # into codegen plan literals exactly like the classifier's
            # map shape (operators/classify.py): zero shuffle, zero UDF,
            # the score rides the scan.  Per-term products round to 6
            # decimals before DECIMAL(28,6) addition, so the sum is
            # order-exact and an ANSI oracle replays it hash-identically
            # (the BM25-family convention).  Validation in
            # plans/query_dsl.py's filter branch.
            m = sql_path(body["field"])
            qv = body["query_vector"]
            total = _decimal_sum(
                _times(f"coalesce({m}[{sql_string(str(t))}], 0.0D)", qv[t])
                for t in sorted(qv))
            return gate(_times(total, body.get("boost", 1.0)))
        if kind == "function_score":
            return self._function_score(body)
        if kind == "script_score":
            # ES script_score QUERY: hits = inner query's, score = the
            # script's value with _score bound to the inner score.  Its
            # min_score param EXCLUDES hits — a score-driven hit-set
            # change the filter compiler can't see, so reject it loudly
            # rather than return wrong hit counts (use the body-level
            # min_score, which es_scored_search applies to the hit set)
            if "min_score" in body:
                raise ValueError(
                    "script_score's min_score param is not supported — "
                    "use the search body's top-level min_score"
                )
            v = _script_score(body, self.build(body["query"]))
            return gate(f"round({_times(v, body.get('boost', 1.0))}, 6)")
        if kind == "boosting":
            # ES boosting: positive score, multiplied by negative_boost
            # when the negative query matches (demotion, never exclusion)
            pos = self.build(body["positive"])
            neg = self._matches(body["negative"])
            nb = body.get("negative_boost", 0.5)
            return f"CASE WHEN {neg} THEN {_times(pos, nb)} ELSE {pos} END"
        if kind in _CONSTANT_ONE_KINDS:
            spec = next(iter(body.values()))
            boost = float(spec.get("boost", 1.0)) if isinstance(spec, dict) else 1.0
            return gate(sql_literal(boost))
        raise ValueError(f"unsupported clause in score context: {kind}")

    def _bm25(self, field: str, query: str, boost: float) -> str:
        """``boost`` times the sum of the per-term partials from this
        doc's term-score map for ``field`` (the ``_tsmap_<field>`` column
        ``stats`` renders)."""
        return _times(self._bm25_terms(
            field, sorted(set(field_terms(field, query)))), boost)

    def _bm25_terms(self, field: str, terms: list[str]) -> str:
        if not terms:
            return "0.0D"
        return bm25_sum_sql(self.stats.partial_map(field, terms), terms)

    # -- function_score ------------------------------------------------------
    def _function_score(self, body: dict) -> str:
        base = self.build(body["query"])
        fn_kinds = ("field_value_factor", "gauss", "exp", "linear",
                    "random_score", "script_score")
        known_body = {"query", "functions", "score_mode", "boost_mode",
                      "max_boost", "weight", "filter", *fn_kinds}
        unknown_body = set(body) - known_body
        if unknown_body:
            # loud rejection in the SHORTHAND path too — pre-fix, a
            # top-level script_score was silently dropped and hits got
            # plain query scores (code-review r8)
            raise ValueError(
                f"unsupported function_score function(s): {sorted(unknown_body)}"
            )
        funcs = body.get("functions")
        if funcs is None:
            # single-function shorthand at the top level
            funcs = [{k: v for k, v in body.items()
                      if k in (*fn_kinds, "weight", "filter")}]
            funcs = [f for f in funcs if set(f) - {"filter"}]
        vals: list[str] = []
        matched: list[str] = []
        poisons: list[str] = []
        for fn in funcs:
            unsupported = set(fn) - {"filter", "weight", *fn_kinds}
            if unsupported:
                raise ValueError(
                    f"unsupported function_score function(s): {sorted(unsupported)}"
                )
            if sum(k in fn for k in fn_kinds) > 1:
                raise ValueError(
                    "one scoring function per functions[] entry "
                    f"(got {sorted(set(fn) & set(fn_kinds))})"
                )
            v = "1.0D"
            if "field_value_factor" in fn:
                v = _field_value_factor(fn["field_value_factor"])
            for dk in ("gauss", "exp", "linear"):
                if dk in fn:
                    v = _decay_column(dk, fn[dk])
            if "random_score" in fn:
                v = _random_score(fn["random_score"])
            if "script_score" in fn:
                # inside function_score, the script sees _score = the
                # INNER QUERY's score (ES semantics)
                v = _script_score(fn["script_score"], base)
            if "weight" in fn:
                v = _times(v, fn["weight"])
            gate = self._matches(fn["filter"]) if "filter" in fn else "TRUE"
            vals.append(f"CASE WHEN {gate} THEN {v} END")  # NULL unmatched
            matched.append(f"CAST({gate} AS INT)")
            # a function that MATCHED but produced a NULL factor (missing
            # field without `missing`, out-of-domain modifier input) must
            # not be silently coalesced into the neutral element — it
            # poisons the whole score to NULL (ADVICE r8, documented in
            # _field_value_factor)
            poisons.append(f"({gate} AND {v} IS NULL)")
        score_mode = str(body.get("score_mode", "multiply"))

        def fold(op: str, unit: str) -> str:
            return f"({f' {op} '.join(f'coalesce({v}, {unit})' for v in vals)})"

        if not vals:
            fscore = "1.0D"
        elif score_mode == "multiply":
            fscore = fold("*", "1.0D")
        elif score_mode == "sum":
            fscore = fold("+", "0.0D")
        elif score_mode in ("max", "min"):
            best = ("greatest" if score_mode == "max" else "least")
            fscore = (f"coalesce({best}({', '.join(vals)}), 1.0D)"
                      if len(vals) > 1 else f"coalesce({vals[0]}, 1.0D)")
        elif score_mode == "avg":
            fscore = (f"CASE WHEN {_sum(matched)} > 0 THEN "
                      f"{fold('+', '0.0D')} / {_sum(matched)} ELSE 1.0D END")
        elif score_mode == "first":
            fscore = f"coalesce({', '.join(vals)}, 1.0D)"
        else:
            raise ValueError(f"unsupported score_mode: {score_mode}")
        if "max_boost" in body:
            # least() skips NULLs, so cap before the poison wrap
            fscore = f"least({fscore}, {sql_literal(float(body['max_boost']))})"
        boost_mode = str(body.get("boost_mode", "multiply"))
        combiners = {
            "multiply": f"({base} * {fscore})",
            "sum": f"({base} + {fscore})",
            "replace": fscore,
            "max": f"greatest({base}, {fscore})",
            "min": f"least({base}, {fscore})",
            "avg": f"(({base} + {fscore}) / 2.0D)",
        }
        if boost_mode not in combiners:
            raise ValueError(f"unsupported boost_mode: {boost_mode}")
        if not poisons:
            return combiners[boost_mode]
        # applied AFTER the boost_mode combine: greatest/least would
        # otherwise skip the NULL factor and leak the base score
        return (f"CASE WHEN ({' OR '.join(poisons)}) THEN CAST(NULL AS DOUBLE)"
                f" ELSE {combiners[boost_mode]} END")


def _field_value_factor(spec: dict) -> str:
    """ES ``field_value_factor``: modifier(factor * field), with
    ``missing`` substituted for NULL — every modifier is codegen math.

    NULL semantics (documented divergence, ADVICE r8): a NULL field value
    with no ``missing`` param — or a modifier input outside its domain
    (log/ln of a non-positive, sqrt of a negative, reciprocal of zero) —
    yields a NULL factor and therefore a NULL ``_score`` that sorts LAST
    under the default ``_score desc`` ordering.  Live ES raises a search
    error for the same inputs; a distributed engine cannot fail one row's
    query, so the row is deterministically demoted instead (pass
    ``missing`` to restore ES behavior).  The domain guards are explicit
    ``CASE WHEN`` gates so every modifier returns NULL — never NaN or
    ±Infinity, which would poison the sort order."""
    missing = (sql_literal(float(spec["missing"])) if "missing" in spec
               else "NULL")
    v = _times(f"coalesce(CAST({sql_path(spec['field'])} AS DOUBLE), {missing})",
               spec.get("factor", 1.0))
    modifier = str(spec.get("modifier", "none"))
    mods = {
        "none": lambda c: c,
        "log": lambda c: f"CASE WHEN {c} > 0 THEN log10({c}) END",
        "log1p": lambda c: f"CASE WHEN {c} > -1 THEN log10({c} + 1.0D) END",
        "log2p": lambda c: f"CASE WHEN {c} > -2 THEN log10({c} + 2.0D) END",
        "ln": lambda c: f"CASE WHEN {c} > 0 THEN ln({c}) END",
        "ln1p": lambda c: f"CASE WHEN {c} > -1 THEN ln({c} + 1.0D) END",
        "ln2p": lambda c: f"CASE WHEN {c} > -2 THEN ln({c} + 2.0D) END",
        "sqrt": lambda c: f"CASE WHEN {c} >= 0 THEN sqrt({c}) END",
        "square": lambda c: f"({c} * {c})",
        "reciprocal": lambda c: f"CASE WHEN {c} != 0 THEN 1.0D / {c} END",
    }
    if modifier not in mods:
        raise ValueError(f"unsupported field_value_factor modifier: {modifier}")
    return f"round({mods[modifier](v)}, 6)"


_DURATION_MS = {"ms": 1, "s": 1000, "m": 60_000, "h": 3_600_000,
                "H": 3_600_000, "d": 86_400_000, "w": 604_800_000}
_DISTANCE_M = {"mm": 0.001, "cm": 0.01, "m": 1.0, "km": 1000.0,
               "mi": 1609.344, "yd": 0.9144, "ft": 0.3048, "nmi": 1852.0}


def _parse_duration_ms(s) -> float | None:
    """``"10d"`` → milliseconds, or None if not an ES time unit string."""
    import re as _re

    m = _re.fullmatch(r"(\d+(?:\.\d+)?)(ms|s|m|h|H|d|w)", str(s).strip())
    return float(m.group(1)) * _DURATION_MS[m.group(2)] if m else None


def _parse_distance_m(s) -> float | None:
    """``"10km"`` → meters, or None if not an ES distance string (a bare
    number means meters, like ES)."""
    import re as _re

    m = _re.fullmatch(r"(\d+(?:\.\d+)?)(mm|cm|m|km|mi|yd|ft|nmi)?",
                      str(s).strip())
    if not m:
        return None
    return float(m.group(1)) * _DISTANCE_M[m.group(2) or "m"]


def _decay_column(kind: str, body: dict) -> str:
    """ES ``function_score`` decay functions ``gauss`` / ``exp`` /
    ``linear`` over numeric, date, or geo-point fields — closed-form
    codegen math over the scored frame (VERDICT r8 #3):

    - adjusted distance ``d = max(0, |value - origin| - offset)``,
    - ``gauss``:  ``exp(ln(decay) · d² / scale²)``
      (ES's ``exp(-d²/2σ²)`` with ``σ² = -scale²/(2·ln decay)``),
    - ``exp``:    ``exp(ln(decay) · d / scale)``,
    - ``linear``: ``max(0, (s - d)/s)`` with ``s = scale/(1 - decay)``.

    Field kind is inferred from the spec: a ``{lat, lon}`` origin is geo
    (haversine distance, ES distance-unit strings), a time-unit ``scale``
    ("10d") is a date field (origin is a date / date-math expression —
    ``now`` anchors need the engine's pinned-clock extension key ``now``
    in the spec, same determinism rule as range date math), anything else
    is numeric.  A NULL field value scores 1.0, exactly ES's documented
    decay behavior for missing fields.  Rounded to 6 like every factor."""
    spec = dict(body)
    now = spec.pop("now", None)
    (field, fspec), = spec.items()
    fspec = dict(fspec)
    if "multi_value_mode" in fspec:
        raise ValueError("multi_value_mode is not supported (single-valued "
                         "fields only)")
    origin, scale = fspec["origin"], fspec["scale"]
    offset = fspec.get("offset", 0)
    decay = float(fspec.get("decay", 0.5))
    if not (0.0 < decay < 1.0):
        raise ValueError(f"decay must be in (0, 1), got {decay}")
    if isinstance(origin, dict):  # geo point
        # explicit NULL gate: haversine's trig pipeline does not propagate
        # NULL coordinates, and ES scores missing fields 1.0 (the final
        # coalesce handles that once dist is properly NULL)
        far = haversine_meters(
            sql_path(field + ".lat"), sql_path(field + ".lon"),
            float(origin["lat"]), float(origin["lon"]))
        dist = (f"CASE WHEN {sql_path(field + '.lat')} IS NOT NULL AND "
                f"{sql_path(field + '.lon')} IS NOT NULL THEN {far} END")
        scale_v = _parse_distance_m(scale)
        offset_v = _parse_distance_m(offset)
        if scale_v is None or offset_v is None:
            raise ValueError(f"bad geo decay scale/offset: {scale!r}/{offset!r}")
    elif _parse_duration_ms(scale) is not None:  # date field
        from datetime import datetime

        from .query_dsl import parse_date_math

        o = str(origin)
        if isinstance(now, str):
            now, _ = parse_date_math(now if "||" in now else now + "||")
        anchor, _ = parse_date_math(
            o if ("||" in o or o.startswith("now")) else o + "||", now=now)
        origin_ms = (anchor - datetime(1970, 1, 1)).total_seconds() * 1000.0
        dist = (f"abs(CAST(unix_millis(CAST({sql_path(field)} AS TIMESTAMP))"
                f" AS DOUBLE) - {sql_literal(origin_ms)})")
        scale_v = _parse_duration_ms(scale)
        offset_v = (_parse_duration_ms(offset) if offset != 0 else 0.0)
        if offset_v is None:
            raise ValueError(f"bad date decay offset: {offset!r}")
    else:  # numeric
        dist = (f"abs(CAST({sql_path(field)} AS DOUBLE) - "
                f"{sql_literal(float(origin))})")
        scale_v, offset_v = float(scale), float(offset)
    if scale_v <= 0:
        raise ValueError(f"decay scale must be positive, got {scale!r}")
    import math as _math

    # greatest() would silently skip a NULL distance and hand the decay a
    # 0 — keep NULL flowing so the final coalesce applies ES's missing→1.0
    d = (f"CASE WHEN {dist} IS NOT NULL THEN greatest({dist} - "
         f"{sql_literal(float(offset_v))}, 0.0D) END")
    ln_decay = _math.log(decay)
    if kind == "gauss":
        out = f"exp({d} * {d} * {sql_literal(ln_decay / (scale_v * scale_v))})"
    elif kind == "exp":
        out = f"exp({d} * {sql_literal(ln_decay / scale_v)})"
    else:  # linear
        s = sql_literal(scale_v / (1.0 - decay))
        # same NULL guard as d: greatest's zero floor must not swallow a
        # missing-field NULL before the coalesce
        out = (f"CASE WHEN {d} IS NOT NULL THEN "
               f"greatest(({s} - {d}) / {s}, 0.0D) END")
    # ES: documents missing the field get a decay factor of 1.0
    return f"round(coalesce({out}, 1.0D), 6)"


def _script_score(spec: dict, score: str) -> str:
    """ES ``script_score``: the Painless arithmetic subset
    (``query_dsl._script_sql`` — doc refs, params, Math.* calls)
    with ``_score`` bound to the inner query's score, the SQL text
    ``score``.  Same codegen class as every other score function;
    anything outside the subset rejects loudly."""
    import re as _re

    from .query_dsl import _script_sql

    raw = spec.get("script")
    if isinstance(raw, dict):
        src = raw.get("source", "")
        params = {k: sql_literal(v)
                  for k, v in (raw.get("params") or {}).items()}
    else:
        src, params = str(raw), {}
    if not src:
        raise ValueError("script_score needs a script source")
    src = _re.sub(r"(?<![\w.])_score(?![\w.])", "params.__score", src)
    params["__score"] = score
    return f"round({_script_sql(src, params, columns='*')}, 6)"


def _random_score(spec: dict) -> str:
    """ES ``random_score`` with ``seed`` + ``field``: deterministic
    pseudo-random [0, 1) per document from a 64-bit hash of (field value,
    seed).  ES requires exactly this pair for reproducible scores; the
    unseeded form would be nondeterministic across retries/speculative
    tasks, so it rejects loudly (same determinism convention as date
    math's pinned now)."""
    spec = spec or {}
    if "seed" not in spec or "field" not in spec:
        raise ValueError(
            "random_score needs both seed and field for deterministic "
            "scores (ES's own reproducibility requirement)"
        )
    # the seed renders as F.lit would type it (INT, or BIGINT past 32
    # bits): xxhash64 hashes the literal's type
    h = (f"pmod(xxhash64({sql_path(str(spec['field']))}, {int(spec['seed'])}),"
         " CAST(1048576.0D AS BIGINT))")
    return f"round(CAST({h} AS DOUBLE) / 1048576.0D, 6)"


#: marker prefix for materialized shared-analysis token columns; the
#: full column name carries the analyzer the stream was BUILT under —
#: ``__analyzed__<analyzer>__<field>`` — so a consumer compiling with a
#: different grammar can never silently read stale tokens (code-review
#: r12: a name without the analyzer made the staleness guard
#: unenforceable)
ANALYZED_PREFIX = "__analyzed__"


def _analyzed_col_name(field: str) -> str:
    from .analysis import current_analyzer

    return f"{ANALYZED_PREFIX}{current_analyzer()}__{field}"



def _tsmap_name(field: str) -> str:
    """Column name for a field's term-score map.  Dots in
    search_as_you_type subfield names (``text._2gram``) would parse as
    struct access inside ``F.col`` — mangle them out of the name."""
    return "_tsmap_" + field.replace(".", "__")

def _nonnull_toks(toks: str) -> str:
    """The token array ``toks`` (SQL), NULL read as the empty list —
    size(NULL) is -1, which would poison avgdl for the whole corpus."""
    return f"coalesce({toks}, CAST(array() AS ARRAY<STRING>))"


def _toks_sql(columns, field: str) -> str:
    """Full-chain token stream for ``field`` as SQL text over a frame
    with ``columns`` — reads the materialized shared-analysis column
    when the frame carries one built under the ACTIVE analyzer
    (``with_shared_analysis``), else tokenizes inline; NULL text reads
    as no tokens either way.

    A search_as_you_type shingle subfield (``root._2gram`` /
    ``root._3gram``, round 13) derives from the ROOT's stream — which
    keeps reading the materialized root column when one exists — so
    BM25 tf/df/dl over shingle "terms" costs one extra codegen
    transform, never a second tokenization."""
    from .analysis import sayt_subfield

    sub = sayt_subfield(field)
    if sub is not None:
        root, n = sub
        return shingle_sql(_toks_sql(columns, root), n)
    pre = _analyzed_col_name(field)
    return _nonnull_toks(sql_path(pre) if pre in columns
                         else analyze_sql(sql_path(field)))


def with_shared_analysis(df: DataFrame, fields) -> DataFrame:
    """Materialize each field's analyzed token stream ONCE as a
    ``__analyzed__<field>`` column and localCheckpoint the frame — the
    multi-query tokenize-sharing surface (VERDICT r11 #7): N scored
    searches over the same corpus each re-tokenize every scored field,
    and higher-order let-binding cannot share work across separate
    aggregates.  Checkpointing trades memory (token arrays ≈ corpus
    text size, spillable) for tokenizing each field exactly once no
    matter how many score trees read it; ``CorpusStats`` picks the
    columns up via ``_toks_sql``.  Build it under the SAME analyzer
    scope as the queries that will consume it."""
    out = df
    for f in sorted(set(fields)):
        out = out.withColumn(_analyzed_col_name(f), analyze_col(f))
    return out.localCheckpoint(eager=False)


def _bm25_partial_sql(k1: float, b: float, *, tf: str, dl: str, df: str,
                      n: str, avgdl: str) -> str:
    """The BM25 per-(doc, term) partial as ONE SQL expression over the
    SQL operands ``tf``/``dl``/``df``/``n``/``avgdl`` — float literals
    pre-folded in Python (``k1 + 1.0`` / ``1.0 - b``), rounded to 6."""
    return (
        f"round(ln(1.0D + ({n} - {df} + 0.5D) / ({df} + 0.5D))"
        f" * ({tf} * {k1 + 1.0!r}D)"
        f" / ({tf} + {k1!r}D * ({1.0 - b!r}D + {b!r}D * {dl} / {avgdl})), 6)"
    )


def bm25_sum_sql(map_col: str, terms) -> str:
    """Sum of ``terms``' partials read from the term-score map column
    ``map_col`` (a term the row lacks adds 0).  Partials are rounded to
    6 decimals, so DECIMAL(28,6) addition is exact and order-independent
    — what lets an ANSI-SQL oracle reproduce the sum bit-for-bit."""
    m = sql_ident(map_col)
    parts = "".join(f" + CAST(coalesce({m}[{sql_string(t)}], 0.0D)"
                    " AS DECIMAL(28,6))" for t in terms)
    return f"CAST(CAST(0 AS DECIMAL(28,6)){parts} AS DOUBLE)"


class CorpusStats:
    """The corpus statistics of one scored plan as ONE 1-row aggregate,
    and the per-row BM25 term-score maps rendered over it.

    Lucene scores a document from its own tf and length; the only
    index-wide inputs are N, avgdl and each term's df.  Callers declare
    the maps they read (``partial_map``, ``combined_map``) and keyword
    idf leaves (``idf``); each declaration returns the output column's
    name, and a map declared again gains the new terms.  ``attach``
    renders the declarations and adds, in three projections over the
    scored frame:

    - the analyzed token stream of each field, once per row, and the
      statistics row as a scalar subquery over the corpus frame (Spark
      merges the scalar subqueries of one query that read the same
      relation into one aggregate);
    - each (field, term)'s tf, ``size(toks) - size(array_remove(toks,
      t))``, and each field's dl — codegen, no lambda;
    - the declared outputs.  A map holds the row's query terms in sorted
      order with their ``_bm25_partial_sql`` partials, and is NULL when
      the row holds none of them.

    Helper columns are named ``_bm25_*``; ``helpers`` lists them and
    ``names`` the outputs, for the caller to drop."""

    def __init__(self, k1: float, b: float):
        self.k1, self.b = k1, b
        #: (kind, field(s), df fields | boosts) -> (output column, terms)
        self.maps: dict = {}
        self.idfs: list = []             # (field, value) -> _idf_<index>
        self.fields: list[str] = []      # token streams, by index
        self.stats: dict = {}            # key -> (struct field, SQL agg)
        self.cols: dict = {}             # key -> (row column, SQL)

    def _declare(self, spec, name: str, terms) -> str:
        name, held = self.maps.setdefault(spec, (name, set()))
        held.update(terms)
        return name

    def partial_map(self, field: str, terms, df_fields=None) -> str:
        """map<term, partial> of ``field``.  ``df_fields`` blends the df
        as its MAX over those fields (Lucene's BlendedTermQuery,
        multi_match ``cross_fields``); tf, dl and avgdl stay ``field``'s
        own."""
        if df_fields:
            return self._declare(("tf", field, tuple(df_fields)),
                                 f"_xfmap_{len(self.maps)}", terms)
        return self._declare(("tf", field, ()), _tsmap_name(field), terms)

    def combined_map(self, fields, boosts, terms) -> str:
        """BM25F map<term, partial> over ``fields`` (Lucene
        CombinedFieldQuery): tf and dl are the boost-weighted sums of the
        per-field values, df counts docs holding the term in ANY field."""
        return self._declare(("cf", tuple(fields), tuple(boosts)),
                             f"_cfmap_{len(self.maps)}", terms)

    def idf(self, field: str, value) -> str:
        """Keyword idf of the leaf ``field == value`` (tf=1 and dl=avgdl
        for a keyword, so score = idf)."""
        if (field, value) not in self.idfs:
            self.idfs.append((field, value))
        return f"_idf_{self.idfs.index((field, value))}"

    @property
    def names(self) -> list[str]:
        return [*[n for n, _ in self.maps.values()],
                *[f"_idf_{i}" for i in range(len(self.idfs))]]

    @property
    def helpers(self) -> list[str]:
        return ["_bm25_stats",
                *[f"_bm25_t{i}" for i in range(len(self.fields))],
                *[c for c, _ in self.cols.values()]]

    def _toks(self, field: str) -> str:
        if field not in self.fields:
            self.fields.append(field)
        return f"_bm25_t{self.fields.index(field)}"

    def _stat(self, key, sql: str) -> str:
        if key not in self.stats:
            self.stats[key] = (f"s{len(self.stats)}", sql)
        return f"_bm25_stats.{self.stats[key][0]}"

    def _col(self, key, sql: str) -> str:
        if key not in self.cols:
            self.cols[key] = (f"_bm25_c{len(self.cols)}", sql)
        return self.cols[key][0]

    def _n(self) -> str:
        return self._stat("n", "CAST(count(1) AS DOUBLE)")

    def _tf_sql(self, field: str, term: str) -> str:
        t = self._toks(field)
        return (f"CAST(size({t}) - size(array_remove({t}, {sql_string(term)}))"
                " AS DOUBLE)")

    def _dl_sql(self, field: str) -> str:
        return f"CAST(size({self._toks(field)}) AS DOUBLE)"

    def _df(self, fields, term: str) -> str:
        """Docs holding ``term`` in any of ``fields``."""
        t = sql_string(term)
        hit = " OR ".join(f"array_contains({self._toks(f)}, {t})"
                          for f in fields)
        return self._stat(("df", tuple(fields), term),
                          f"CAST(sum(CAST({hit} AS INT)) AS DOUBLE)")

    @staticmethod
    def _map_sql(entries) -> str:
        """``entries``: (term, tf column, partial SQL), terms sorted."""
        items = ", ".join(f"IF({tf} > 0D, struct({sql_string(t)}, {p}), NULL)"
                          for t, tf, p in entries)
        hit = " OR ".join(f"{tf} > 0D" for _, tf, _ in entries)
        return (f"IF({hit}, map_from_entries(array_compact("
                f"array({items}))), NULL)")

    def _partial_sql(self, field: str, df_fields, terms) -> str:
        dl = self._col(("dl", field), self._dl_sql(field))
        avgdl = self._stat(("avgdl", field), f"avg({self._dl_sql(field)})")
        entries = []
        for t in sorted(terms):
            dfs = [self._df((f,), t) for f in (df_fields or (field,))]
            df = dfs[0] if len(dfs) == 1 else f"greatest({', '.join(dfs)})"
            tf = self._col(("tf", field, t), self._tf_sql(field, t))
            entries.append((t, tf, _bm25_partial_sql(
                self.k1, self.b, tf=tf, dl=dl, df=df, n=self._n(),
                avgdl=avgdl)))
        return self._map_sql(entries)

    def _combined_sql(self, fields, boosts, terms) -> str:
        def wsum(render):
            return "0.0D" + "".join(f" + {render(f)} * {float(w)!r}D"
                                    for f, w in zip(fields, boosts))

        key = (fields, boosts)
        dl = self._col(("cfdl", key), wsum(self._dl_sql))
        avgdl = self._stat(("cfavgdl", key), f"avg({wsum(self._dl_sql)})")
        entries = []
        for t in sorted(terms):
            tf = self._col(("cftf", key, t), " + ".join(
                f"{self._tf_sql(f, t)} * {float(w)!r}D"
                for f, w in zip(fields, boosts)))
            entries.append((t, tf, _bm25_partial_sql(
                self.k1, self.b, tf=tf, dl=dl, df=self._df(fields, t),
                n=self._n(), avgdl=avgdl)))
        return self._map_sql(entries)

    def attach(self, frame: DataFrame, corpus: DataFrame) -> DataFrame:
        """``frame`` + the declared outputs (and the helper columns), with
        the statistics aggregated over ``corpus``."""
        outs = {name: (self._partial_sql(field, arg, terms) if kind == "tf"
                       else self._combined_sql(field, arg, terms))
                for (kind, field, arg), (name, terms) in self.maps.items()}
        flags = []
        for i, (field, value) in enumerate(self.idfs):
            flags.append(f"CAST(({sql_path(field)} = {sql_literal(value)})"
                         f" AS INT) AS _bm25_f{i}")
            n, df = ("CAST(count(1) AS DOUBLE)",
                     f"CAST(sum(_bm25_f{i}) AS DOUBLE)")
            outs[f"_idf_{i}"] = self._stat(
                ("idf", i),
                f"round(ln(1.0D + ({n} - {df} + 0.5D) / ({df} + 0.5D)), 6)")
        body = ", ".join(f"{sql_string(k)}, {sql}"
                         for k, sql in self.stats.values())
        def toks(df: DataFrame) -> list[str]:
            return [f"{_toks_sql(df.columns, f)} AS _bm25_t{i}"
                    for i, f in enumerate(self.fields)]

        stats = corpus.selectExpr(*toks(corpus), *flags).selectExpr(
            f"named_struct({body})").scalar()
        out = frame.selectExpr("*", *toks(frame)).withColumn(
            "_bm25_stats", stats)
        if self.cols:
            out = out.selectExpr(
                "*", *[f"{sql} AS {c}" for c, sql in self.cols.values()])
        return out.selectExpr("*", *[
            f"{sql} AS `{name.replace('`', '``')}`"
            for name, sql in outs.items()])


def _apply_query_rescore(
    top: DataFrame, rspec: dict, id_field: str, *,
    k1: float, b: float, stats_over: DataFrame | None,
) -> DataFrame:
    """Lucene QueryRescorer.combine over a bounded window frame ``top``
    that carries ``_score0`` (the first-pass score) plus the doc
    columns: score the rescore query against index-wide stats
    (``stats_over``), blend per ``score_mode``, and let a window doc
    the rescore query does NOT match keep ``query_weight * original``
    — the secondary score is omitted, not treated as 0 (which would
    zero the doc under multiply/min and halve it under avg).  ONE
    construction shared by the search-body ``rescore`` and the
    ``rescorer`` retriever (the one-grammar lockstep rule)."""
    top = score_frame(
        top, rspec["rescore_query"], id_field, k1=k1, b=b,
        stats_over=stats_over,
    ).withColumnRenamed("_score", "_rescore")
    qw = sql_literal(float(rspec.get("query_weight", 1.0)))
    rqw = sql_literal(float(rspec.get("rescore_query_weight", 1.0)))
    a, b_ = f"({qw} * `_score0`)", f"({rqw} * `_rescore`)"
    mode = str(rspec.get("score_mode", "total"))
    blend = {
        "total": f"({a} + {b_})",
        "multiply": f"({a} * {b_})",
        "avg": f"(({a} + {b_}) / 2.0D)",
        "max": f"greatest({a}, {b_})",
        "min": f"least({a}, {b_})",
    }.get(mode)
    if blend is None:
        raise ValueError(f"unsupported rescore score_mode: {mode}")
    rpred = query_sql(_normalize(rspec["rescore_query"]), id_field)
    top = top.withColumn("_score", F.expr(
        f"round(CASE WHEN coalesce({rpred}, FALSE) THEN {blend} ELSE {a} END, 6)"))
    return top.drop("_score0", "_rescore")


def score_frame(
    df: DataFrame,
    query: dict,
    id_field: str = "_id",
    *,
    k1: float = 1.2,
    b: float = 0.75,
    stats_over: DataFrame | None = None,
    explain: bool = False,
) -> DataFrame:
    """``df`` + a ``_score`` column for ``query`` (score context), rounded
    to 6 decimals.  Rows are NOT filtered — callers apply the filter
    predicate separately (``es_scored_search`` does both).

    ``explain`` adds an ``_explanation`` JSON column per row: the final
    value, the BM25 parameters, the normalized clause tree, each scored
    text field's per-term partial map, and each keyword term leaf's idf —
    the numbers a consumer needs to audit a score.  (Live ES renders a
    Lucene explanation TREE; this compact object form is the documented
    equivalent for a flat frame.)

    Each row is scored from its own tokens against one 1-row statistics
    aggregate over ``stats_over`` (default ``df``) — no join on
    ``id_field``.  Ids are unique per frame, as in ES; rows sharing an
    id are each scored from their own tokens."""
    q = _normalize(query)
    st = CorpusStats(k1, b)
    sc = _ScoreCompiler(id_field, st)
    score = sc.build(q)
    out = df
    if st.names:
        out = st.attach(df, stats_over if stats_over is not None else df)
    out = out.withColumn("_score", F.expr(f"round({score}, 6)"))
    if explain:
        import json as _json

        # the term-score maps the score reads, one per text field
        fields = sorted(f for kind, f, df_fields in st.maps
                        if kind == "tf" and not df_fields)
        expl = F.to_json(F.struct(
            F.col("_score").alias("value"),
            F.lit(f"score(k1={k1}, b={b}), clause tree: "
                  + _json.dumps(q, sort_keys=True, default=str)
                  ).alias("description"),
            *[F.col(_tsmap_name(f)).alias(f"bm25_partials_{f}")
              for f in fields],
            *[F.col(f"_idf_{i}").alias(
                "idf_" + "".join(ch if ch.isalnum() else "_"
                                 for ch in f"{fld}_{val}"))
              for i, (fld, val) in enumerate(st.idfs)],
        ))
        out = out.withColumn("_explanation", expl)
    if not st.names:
        return out
    # one parsed projection: a drop of N names costs N py4j calls
    return out.selectExpr("* EXCEPT ("
                          + ", ".join(map(sql_ident, [*st.helpers, *st.names]))
                          + ")")


def es_retriever_search(
    df: DataFrame,
    body: dict,
    id_field: str = "_id",
    *,
    k1: float = 1.2,
    b: float = 0.75,
    analyzer: str | None = None,
    rerank_models: "dict[str, dict] | None" = None,
) -> DataFrame:
    """ES 8.14 ``retriever`` search API (round 12): a retriever TREE in
    place of ``query`` — ``standard`` (a query-DSL retriever, ranked by
    BM25 ``_score``, optional ``filter``), ``knn`` (exact cosine top-k
    via the canonical rounded-before-rank helper, optional ``filter``
    pre-restricting candidates), ``rrf`` (reciprocal-rank fusion of
    child retrievers with ``rank_constant`` / ``rank_window_size``),
    ``linear`` (ES 8.18: weighted sum of per-child normalized
    scores — minmax / l2_norm / none — fused as union + one groupBy,
    round 14 second batch), and ``text_similarity_reranker`` (ES 8.15:
    rerank the child's top window with the deterministic linear model
    named by ``inference_id`` in ``rerank_models=`` — round 15, see
    the branch comment for the scoring contract).

    A single (non-rrf) root returns the retriever's REAL score —
    ``_score`` (BM25 or rounded cosine) plus ``rank``; an ``rrf`` root
    returns the fused ``rrf_score`` plus ``rank``.  Either way the
    body's ``_source`` columns join back onto the ≤ size result (a
    broadcast join).  Unknown body keys and unknown retriever options
    reject loudly (the validate_body_keys contract), as do
    ``query``-beside-``retriever`` and ``rank_window_size < size``.

    Scale shape: each child retriever is its own pushed-down top-window
    (TakeOrderedAndProject); the fusion unions the tiny ranked frames
    (operators/retrieval.py::rrf_fuse) — the heavy work happened inside
    each retriever, exactly ES's per-shard rank-then-fuse layout."""
    from pyspark.sql.window import Window

    from ..operators.retrieval import rrf_fuse
    from ..operators.similarity import cosine_topk

    unknown = set(body) - {"retriever", "size", "_source"}
    if unknown:
        raise ValueError(
            "unsupported retriever body key(s): "
            f"{sorted(unknown)} (a `query` beside `retriever` is the "
            "mutually-exclusive form ES rejects too)")
    spec = body.get("retriever")
    if not isinstance(spec, dict) or len(spec) != 1:
        raise ValueError("retriever body needs exactly one retriever root")
    size = int(body.get("size", 10))

    def by_score(frame: DataFrame, window: int | None = None) -> DataFrame:
        """(id, _score, rank) of ``frame``, ranked by _score then id, the
        first ``window`` ranks."""
        w = Window.orderBy(F.col("_score").desc(), F.col(id_field).asc())
        out = frame.select(id_field, "_score",
                           F.row_number().over(w).alias("rank"))
        return out if window is None else out.where(F.col("rank") <= window)

    def pin(child: DataFrame, pinned: list[str]) -> DataFrame:
        """``child`` without the ``pinned`` ids, plus a rank-0 row per
        pinned id scored 1e10 - its position (the pinned query's rule)."""
        idc = f"CAST({sql_path(id_field)} AS STRING)"
        listed = f"{idc} IN ({', '.join(map(sql_string, pinned))})"
        score = "CAST(NULL AS DOUBLE)"
        for i in range(len(pinned) - 1, -1, -1):
            score = (f"CASE WHEN {idc} = {sql_string(pinned[i])} THEN "
                     f"{sql_literal(1e10 - i)} ELSE {score} END")
        pins = df.where(listed).select(
            id_field, F.expr(score).alias("_score"), F.lit(0).alias("rank"))
        return (child.where(f"NOT ({listed})")
                .select(id_field, "_score", "rank").unionByName(pins))

    def ranked(node: dict, window: int) -> DataFrame:
        """(id, _score, rank) for one child retriever."""
        if not isinstance(node, dict) or len(node) != 1:
            raise ValueError("each retriever needs exactly one type key")
        (rkind, rbody), = node.items()
        if rkind == "standard":
            unk = set(rbody) - {"query", "filter"}
            if unk:
                raise ValueError(
                    f"unsupported standard retriever option(s): "
                    f"{sorted(unk)}")
            q = rbody["query"]
            if "filter" in rbody:
                q = {"bool": {"must": [q], "filter": [rbody["filter"]]}}
            sub = {"query": q, "size": window, "_source": [id_field]}
            return by_score(es_scored_search(df, sub, id_field,
                                             k1=k1, b=b, analyzer=analyzer))
        if rkind == "knn":
            unk = set(rbody) - {"field", "query_vector", "k", "filter",
                                "num_candidates"}
            if unk:
                raise ValueError(
                    f"unsupported knn retriever option(s): {sorted(unk)}")
            cand = df
            if "filter" in rbody:
                from .query_dsl import compile_query, expand_lookups

                inner = expand_lookups(df, rbody["filter"], id_field)
                cand = cand.where(F.coalesce(
                    compile_query(inner, id_field), F.lit(False)))
            kk = min(int(rbody.get("k", window)), window)
            # canonical rounded-before-rank exact cosine (the engine-
            # stable ordering rule every knn surface follows)
            top = cosine_topk(cand, [float(x) for x in
                                     rbody["query_vector"]],
                              k=kk, id_col=id_field,
                              vec_col=rbody["field"])
            return by_score(top.withColumnRenamed("score", "_score"))
        if rkind == "text_similarity_reranker":
            # ES 8.15 semantic reranker retriever (round 15, VERDICT
            # r14 #5): fetch the child's top rank_window_size, rescore
            # each (inference_text, doc field) pair with the model
            # behind inference_id, re-order by the new score.  Live ES
            # calls an inference endpoint (usually LLM-backed); an
            # offline engine cannot serve those, so inference_id must
            # name a DETERMINISTIC linear model supplied via the
            # rerank_models= parameter — {"weights": {term: w},
            # "default_weight": dw, "bias": b, "analyzer": a} — scored
            # as sigmoid(bias + Σ over doc-token occurrences that
            # appear in the analyzed inference_text of weights[token])
            # through the SAME fold/sigmoid sites as the quality
            # classifier (operators/classify.py — one rounding rule,
            # oracle-replayable).  Query terms not in the weight table
            # take default_weight, so a bare model is tf-weighted
            # query-term overlap.  Unknown inference ids reject loudly.
            unk = set(rbody) - {"retriever", "field", "inference_id",
                                "inference_text", "rank_window_size",
                                "min_score"}
            if unk:
                raise ValueError(
                    "unsupported text_similarity_reranker option(s): "
                    f"{sorted(unk)}")
            for req in ("retriever", "field", "inference_id",
                        "inference_text"):
                if req not in rbody:
                    raise ValueError(
                        f"text_similarity_reranker needs {req!r}")
            mid = rbody["inference_id"]
            models = rerank_models or {}
            if mid not in models:
                raise ValueError(
                    f"unknown rerank inference_id {mid!r} — this "
                    "engine serves only deterministic linear models "
                    "passed via rerank_models= (available: "
                    f"{sorted(models)}); remote/LLM-backed inference "
                    "endpoints are not servable offline")
            model = models[mid]
            munk = set(model) - {"weights", "default_weight", "bias",
                                 "analyzer"}
            if munk:
                raise ValueError(
                    f"unsupported rerank model option(s): {sorted(munk)} "
                    "(weights | default_weight | bias | analyzer)")
            from ..operators.classify import (
                _sigmoid_col,
                _weight_lookup,
                _weighted_fold,
            )

            child_window = int(rbody.get("rank_window_size",
                                         max(window, 10)))
            if child_window < window:
                raise ValueError(
                    f"rank_window_size ({child_window}) must be >= the "
                    f"consuming window ({window})")
            if child_window > 10_000:
                # the window ids are COLLECTED to push the text-fetch
                # In filter, so the window must stay bounded — live ES
                # enforces the same ceiling (index.max_result_window,
                # default 10000) on rank_window_size
                raise ValueError(
                    f"rank_window_size ({child_window}) exceeds 10000 "
                    "(the index.max_result_window ceiling live ES "
                    "applies; the rerank window is collected driver-"
                    "side to push the text-fetch filter)")
            child = ranked(rbody["retriever"], child_window)
            m_an = model.get("analyzer")
            qtoks = _analyze_terms(str(rbody["inference_text"]), m_an)
            if not qtoks:
                raise ValueError(
                    "text_similarity_reranker inference_text analyzed "
                    "to no tokens")
            weights = model.get("weights") or {}
            dw = float(model.get("default_weight", 1.0))
            eff = {t: float(weights.get(t, dw))
                   for t in dict.fromkeys(qtoks)}
            field = rbody["field"]
            # the child frame is <= child_window rows (a bounded,
            # user-set window) — collect its ids and push an In filter
            # into the corpus scan, so the text fetch prunes row groups
            # instead of re-scanning the whole text column (a broadcast
            # semi-join still paid a corpus-sized column read — probed
            # +1.0 s at 1M docs, SCALE.md "Round-15 probes").  Same
            # bounded-collect shape as the terms-lookup and rescore
            # windows.
            win_ids = [r[0] for r in child.select(id_field).collect()]
            docs = df.select(id_field, field).where(
                F.col(id_field).isin(win_ids))
            score = _sigmoid_col(
                _weighted_fold(analyze_col(field, m_an),
                               _weight_lookup(eff)),
                float(model.get("bias", 0.0)))
            scored = docs.select(id_field, score.alias("_score"))
            if "min_score" in rbody:
                scored = scored.where(
                    F.col("_score") >= float(rbody["min_score"]))
            return by_score(scored, window)
        if rkind == "pinned":
            # ES 8.18 pinned retriever: the named docs rank FIRST in
            # their given order, then the child retriever's organic
            # results with the pinned ids removed — the same
            # descending-1e10 pin scores and dedup the rule retriever's
            # pin path uses (one mechanism, two surfaces).
            unk = set(rbody) - {"retriever", "ids", "docs",
                                "rank_window_size"}
            if unk:
                raise ValueError(
                    f"unsupported pinned retriever option(s): "
                    f"{sorted(unk)}")
            if ("ids" in rbody) == ("docs" in rbody):
                raise ValueError(
                    "pinned retriever needs exactly one of ids | docs")
            if "docs" in rbody:
                pinned = []
                for d in rbody["docs"]:
                    dunk = set(d) - {"_id", "_index"}
                    if dunk or "_id" not in d:
                        raise ValueError(
                            "pinned docs entries take _id (+ optional "
                            f"_index), got {sorted(d)}")
                    pinned.append(str(d["_id"]))
            else:
                pinned = [str(i) for i in rbody["ids"]]
            if not pinned:
                raise ValueError("pinned retriever needs >= 1 pin")
            if len(set(pinned)) != len(pinned):
                raise ValueError("pinned ids must be distinct")
            child_window = int(rbody.get("rank_window_size",
                                         max(window, 10)))
            if child_window < window:
                raise ValueError(
                    f"rank_window_size ({child_window}) must be >= "
                    f"the consuming window ({window})")
            return by_score(
                pin(ranked(rbody["retriever"], child_window), pinned), window)
        if rkind == "rescorer":
            # ES 8.18 rescorer retriever: apply a query rescore to the
            # child retriever's top window — the SAME
            # _apply_query_rescore construction as the search body's
            # ``rescore`` (score_frame against index-wide stats,
            # score_mode blend, Lucene's non-matching combine), so the
            # two surfaces cannot drift.  The window ids are collected
            # (bounded by the same 10 000 max_result_window ceiling as
            # the reranker) to push an In filter into the doc fetch.
            unk = set(rbody) - {"retriever", "rescore",
                                "rank_window_size"}
            if unk:
                raise ValueError(
                    f"unsupported rescorer retriever option(s): "
                    f"{sorted(unk)}")
            for req in ("retriever", "rescore"):
                if req not in rbody:
                    raise ValueError(f"rescorer retriever needs {req!r}")
            rescore = rbody["rescore"]
            if isinstance(rescore, list):
                if len(rescore) != 1:
                    raise ValueError("only a single rescorer is "
                                     "supported")
                rescore = rescore[0]
            runk = set(rescore) - {"query", "window_size"}
            if runk:
                raise ValueError(
                    f"unsupported rescore option(s): {sorted(runk)}")
            rspec = dict(rescore["query"])
            child_window = int(rescore.get(
                "window_size", int(rbody.get("rank_window_size",
                                             max(window, 10)))))
            if child_window < window:
                raise ValueError(
                    f"rescore window_size ({child_window}) must be >= "
                    f"the consuming window ({window})")
            if child_window > 10_000:
                raise ValueError(
                    f"rescore window_size ({child_window}) exceeds "
                    "10000 (the index.max_result_window ceiling; the "
                    "window is collected driver-side to push the doc-"
                    "fetch filter)")
            from .query_dsl import expand_lookups

            rspec["rescore_query"] = expand_lookups(
                df, rspec["rescore_query"], id_field)
            child = ranked(rbody["retriever"], child_window)
            # materialize the ≤window child frame ONCE (the body-
            # rescore LocalRelation rule): collecting only the ids and
            # re-referencing the child plan would re-run its whole
            # scoring pipeline at every downstream consumer
            win_plan = child.select(id_field,
                                    F.col("_score").alias("_score0"))
            win_rows = win_plan.collect()
            win = df.sparkSession.createDataFrame(
                win_rows, win_plan.schema)
            win_ids = [r[0] for r in win_rows]
            top = df.where(F.col(id_field).isin(win_ids)) \
                .join(F.broadcast(win), id_field)
            return by_score(_apply_query_rescore(
                top, rspec, id_field, k1=k1, b=b, stats_over=df), window)
        if rkind == "rule":
            # ES 8.16 rule retriever: apply query rules on top of a
            # child retriever.  Rule evaluation is pure driver-side
            # Python over plan literals (plans/rules.matched_rule_ids —
            # the SAME matcher the `rule` query rewrite uses, so the
            # two surfaces cannot drift): matched exclude rules drop
            # their ids from the child window, matched pinned rules
            # inject their ids ABOVE every organic hit with the pinned
            # query's score rule (1e10 - position — one constant, both
            # surfaces).  Pinned docs are injected even when the child
            # window missed them (the pinned-query semantics: promoted
            # docs need not match the organic query) — that fetch is an
            # isin over <= 100 ids, pruned at the scan.  The re-rank is
            # one tiny global window over <= rank_window_size + 100
            # rows.
            unk = set(rbody) - {"retriever", "ruleset_ids",
                                "match_criteria", "rank_window_size"}
            if unk:
                raise ValueError(
                    f"unsupported rule retriever option(s): "
                    f"{sorted(unk)}")
            for req in ("retriever", "ruleset_ids", "match_criteria"):
                if req not in rbody:
                    raise ValueError(f"rule retriever needs {req!r}")
            from .rules import matched_rule_ids

            pinned, excluded = matched_rule_ids(
                rbody["ruleset_ids"], rbody["match_criteria"],
                what="rule retriever")
            child_window = int(rbody.get("rank_window_size",
                                         max(window, 10)))
            if child_window < window:
                raise ValueError(
                    f"rank_window_size ({child_window}) must be >= "
                    f"the consuming window ({window})")
            child = ranked(rbody["retriever"], child_window)
            if excluded:
                child = child.where(
                    ~F.col(id_field).cast("string").isin(excluded))
            return by_score(pin(child, pinned) if pinned else child, window)
        raise ValueError(
            f"unsupported retriever: {rkind!r} "
            "(standard | knn | rrf | linear | rule | pinned | "
            "rescorer | text_similarity_reranker)")

    (kind, spec_body), = spec.items()
    if kind == "linear":
        # ES 8.18 linear retriever: weighted sum of per-child
        # NORMALIZED scores — each child entry is {"retriever": node,
        # "weight": w, "normalizer": "minmax"|"l2_norm"|"none"}.  A doc
        # absent from a child's top window contributes 0 from that
        # child (ES's convention).  Documented edge: a degenerate
        # minmax window (max == min) normalizes every member to 1.0 —
        # they are jointly the child's best hits; ES leaves this case
        # unspecified.  Scale shape identical to rrf: the heavy work is
        # inside each child's pushed-down top-window; normalization is
        # one tiny global-window pass per ≤window-row child frame and
        # the fusion is a union + ONE groupBy on the id.
        from pyspark.sql.window import Window as _W

        unknown = set(spec_body) - {"retrievers", "rank_window_size"}
        if unknown:
            raise ValueError(
                f"unsupported linear option(s): {sorted(unknown)}")
        window = int(spec_body.get("rank_window_size", max(size, 10)))
        if window < size:
            raise ValueError(
                f"rank_window_size ({window}) must be >= size ({size})")
        entries = spec_body.get("retrievers") or []
        if len(entries) < 2:
            raise ValueError("linear needs at least two child retrievers")
        parts = []
        for ent in entries:
            unk = set(ent) - {"retriever", "weight", "normalizer"}
            if unk:
                raise ValueError(
                    "unsupported linear child option(s): "
                    f"{sorted(unk)}")
            norm = str(ent.get("normalizer", "none"))
            if norm not in ("minmax", "l2_norm", "none"):
                raise ValueError(
                    f"unsupported linear normalizer {norm!r} "
                    "(minmax | l2_norm | none)")
            child = ranked(ent["retriever"], window)
            wall = _W.partitionBy(F.lit(1))
            s = F.col("_score")
            if norm == "minmax":
                mn = F.min(s).over(wall)
                mx = F.max(s).over(wall)
                ns = F.when(mx == mn, F.lit(1.0)).otherwise(
                    (s - mn) / (mx - mn))
            elif norm == "l2_norm":
                l2 = F.sqrt(F.sum(s * s).over(wall))
                ns = F.when(l2 == 0, F.lit(0.0)).otherwise(s / l2)
            else:
                ns = s
            w = float(ent.get("weight", 1.0))
            parts.append(child.select(
                id_field,
                F.round(ns * F.lit(w), 6).alias("_part")))
        uni = parts[0]
        for prt in parts[1:]:
            uni = uni.unionByName(prt)
        fused = (
            uni.groupBy(id_field)
            .agg(F.round(F.sum("_part"), 6).alias("linear_score"))
            .orderBy(F.col("linear_score").desc(), F.col(id_field).asc())
            .limit(size)
        )
        fw = _W.orderBy(F.col("linear_score").desc(),
                        F.col(id_field).asc())
        fused = fused.withColumn("rank", F.row_number().over(fw))
        score_col = "linear_score"
    elif kind == "rrf":
        unknown = set(spec_body) - {"retrievers", "rank_constant",
                                    "rank_window_size"}
        if unknown:
            raise ValueError(
                f"unsupported rrf option(s): {sorted(unknown)}")
        window = int(spec_body.get("rank_window_size", max(size, 10)))
        if window < size:
            raise ValueError(
                f"rank_window_size ({window}) must be >= size ({size})")
        children = [ranked(r, window).drop("_score")
                    for r in spec_body["retrievers"]]
        if len(children) < 2:
            raise ValueError("rrf needs at least two child retrievers")
        fused = rrf_fuse(children, id_col=id_field,
                         k=int(spec_body.get("rank_constant", 60)),
                         top_k=size)
        score_col = "rrf_score"
    else:
        fused = ranked({kind: spec_body}, size)
        score_col = "_score"
    src = body.get("_source")
    if not src:
        return fused
    return (
        df.select(id_field, *[c for c in src if c != id_field])
        .join(F.broadcast(fused), id_field)
        .select(id_field, score_col, "rank",
                *[c for c in src if c != id_field])
    )


def es_scored_search(
    df: DataFrame,
    body: dict,
    id_field: str = "_id",
    *,
    k1: float = 1.2,
    b: float = 0.75,
    analyzer: str | None = None,
) -> DataFrame:
    """Public entry: scopes the analysis chain (``analyzer`` — standard
    default / whitespace fallback, ``plans/analysis.py``) around the plan
    build, then delegates.  Full semantics on ``_es_scored_search_impl``.

    NOTE (eager plan build): a body with ``rescore`` runs a bounded
    Spark job AT PLAN-BUILD TIME — the ≤ ``window_size`` top-window
    frame is collected once so the rescore corpus reduces to a 1-row
    broadcast aggregate (VERDICT r8 #4).  Every other body shape is
    fully lazy; callers scheduling actions should expect the rescore
    case to touch the cluster before the returned DataFrame is acted
    on."""
    from .analysis import preanalyzed, using
    from .query_dsl import validate_body_keys
    from .rules import expand_rule_queries

    validate_body_keys(body)
    if body.get("query"):
        # query-rules pre-pass (round 14): ``rule`` nodes rewrite to
        # pinned/bool over literals before any compiler walks the tree
        body = {**body, "query": expand_rule_queries(body["query"])}
    with using(analyzer):
        from .analysis import current_analyzer

        # only columns built under THIS search's analyzer are eligible —
        # the grammar is part of the column name, so a frame shared
        # across analyzers simply falls back to inline tokenizing for
        # the mismatched one (code-review r12)
        want = f"{ANALYZED_PREFIX}{current_analyzer()}__"
        pre = {c[len(want):]: c for c in df.columns
               if c.startswith(want)}
        if pre:
            # the frame carries materialized shared-analysis streams
            # (with_shared_analysis / es_msearch scored) — let every
            # compile site read them instead of re-tokenizing
            with preanalyzed(pre):
                return _es_scored_search_impl(df, body, id_field,
                                              k1=k1, b=b)
        return _es_scored_search_impl(df, body, id_field, k1=k1, b=b)


def _es_scored_search_impl(
    df: DataFrame,
    body: dict,
    id_field: str = "_id",
    *,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """ES search in SCORE context: filter by the query, rank by BM25
    ``_score`` (or the body's explicit ``sort``, where ``_score`` is a
    legal key), apply ``min_score`` / ``from`` / ``size``, project
    ``_source`` + ``_score``.

    ``rescore`` re-ranks the top ``window_size`` hits with a second query
    (scored AFTER the window cut against corpus-wide statistics — the
    window cut is a TakeOrderedAndProject, never a global sort), blended
    by ``score_mode`` total/multiply/avg/max/min with query_weight /
    rescore_query_weight.  ``collapse`` keeps the best hit per field value
    (WindowGroupLimit); ``highlight`` wraps the query's terms (the query
    is normalized first, so query_string bodies highlight too).

    Top-k compiles to TakeOrderedAndProject over the scored frame.  Each
    row scores from its own tokens; the corpus statistics are one 1-row
    aggregate (``CorpusStats``), so the only exchange below the top-k is
    that aggregate's single-row one — no id join, no (doc, term)
    shuffle."""
    from .query_dsl import (
        _strip_names,
        apply_slice,
        expand_lookups,
        named_queries_column,
    )

    # sliced scored exports partition BEFORE scoring (ADVICE r12: "slice"
    # was whitelisted in _BODY_KEYS but only the filter-context path
    # consumed it, silently duplicating the full corpus per worker).  The
    # slice predicate restricts the HIT SET only; everything INDEX-WIDE
    # stays on the pre-slice frame — corpus statistics (stats_over),
    # plan-build data lookups (terms lookup / more_like_this must see
    # the referenced doc even when it lands in another slice), and the
    # knn top-k (each slice exports "global top-k ∩ slice", so the
    # union of slices is exactly the unsliced hit set) — matching ES
    # where slices share shard-level state (code-review r13: expanding
    # against the sliced frame silently dropped hits from slices not
    # containing the lookup doc)
    _pre_slice = df
    df, body = apply_slice(df, body, id_field)
    _slice_stats = _pre_slice if df is not _pre_slice else None
    knn = body.get("knn")
    knn_only = knn is not None and "query" not in body
    query = body.get("query", {"match_all": {}})

    query = expand_lookups(_pre_slice, query, id_field)
    # named queries ride the scored path too: the column is computed on
    # the input frame (flows through every downstream join/cut) and the
    # compile/score tree sees the stripped body
    mq = named_queries_column(query, id_field) if "query" in body else None
    # stripped unconditionally: a _name the collector's walk misses must
    # still never reach the positional spec compilers (code-review r9)
    query = _strip_names(query)
    extra_named: list[str] = []
    if mq is not None:
        df = df.withColumn("matched_queries", mq)
        extra_named.append("matched_queries")
    want_explain = bool(body.get("explain"))
    if want_explain and (knn is not None or body.get("rescore") is not None):
        # the knn/rescore blends rewrite _score AFTER score_frame stamps
        # the explanation, which would break the value == _score contract
        # (code-review r9) — reject loudly rather than explain stale math
        raise ValueError(
            "explain is not supported together with knn or rescore"
        )
    if knn_only:
        # a knn-only body returns exactly the top-k — no match_all
        # baseline score, no non-knn hits (and nothing to explain)
        if want_explain:
            raise ValueError("explain is not supported for knn-only bodies")
        scored = df.withColumn("_score", F.lit(0.0))
        qpred = F.lit(False)
    else:
        # the hit filter, compiled (and so validated) before the score
        # tree, whose wrapper nodes compile no predicate of their own
        qpred = compile_query(_normalize(query), id_field)
        scored = score_frame(df, query, id_field, k1=k1, b=b,
                             stats_over=_slice_stats,
                             explain=want_explain)
    if knn is not None:
        # ES 8 combined retrieval: the hit set is the UNION of the query's
        # matches and the kNN top-k, and _score SUMS both contributions —
        # this is the true hybrid shape (es_search's filter-context knn
        # treats `query` as a hard pre-filter instead, documented there).
        # The top-k cut is a TakeOrderedAndProject on exact cosine; the
        # k-row id frame broadcasts back, so the knn side adds no shuffle.
        from ..operators.similarity import _cosine_to_literal

        field, qv = knn["field"], [float(x) for x in knn["query_vector"]]
        k = int(knn.get("k", 10))
        qarr = F.array(*[F.lit(x) for x in qv])
        sim = F.round(
            (F.lit(1.0) + _cosine_to_literal(F.col(field), qarr, qv))
            / F.lit(2.0), 6,
        )
        # top-k over the PRE-SLICE frame: the slice intersects below via
        # the join against the (sliced) scored frame, so slices union to
        # exactly the unsliced knn hit set (code-review r13)
        cand = _pre_slice
        if "filter" in knn:
            cand = cand.where(
                F.coalesce(compile_query(
                    expand_lookups(_pre_slice, knn["filter"], id_field),
                    id_field),
                    F.lit(False))
            )
        top_ids = (
            cand.select(F.col(id_field).alias("_knn_id"),
                        sim.alias("_knn_score"))
            .orderBy(F.col("_knn_score").desc(), F.col("_knn_id").asc())
            .limit(k)
        )
        scored = scored.join(
            F.broadcast(top_ids),
            scored[id_field] == top_ids["_knn_id"], "left",
        ).drop("_knn_id")
        scored = scored.withColumn("_score", F.expr(
            "round(`_score` + coalesce(`_knn_score`, 0.0D), 6)"))
    rescore = body.get("rescore")
    if isinstance(rescore, list):
        # ES accepts a list of rescorers; one is supported — reject the
        # chained form loudly instead of a TypeError deep in the dict walk
        if len(rescore) != 1:
            raise ValueError("only a single rescorer is supported")
        rescore = rescore[0]
    if rescore is not None:
        # the rescore query's own scoring is DEFERRED until after the
        # window cut (VERDICT r8 #4): only the corpus-wide statistics
        # need a full pass — the per-row term maps are computed on the
        # ≤ window_size frame below
        rspec = dict(rescore["query"])
        rspec["rescore_query"] = expand_lookups(
            _pre_slice, rspec["rescore_query"], id_field)
        scored = scored.withColumnRenamed("_score", "_score0")
    # hit-set filter: query matches, or with knn the UNION of query
    # matches and the top-k.  The predicate stays RAW in the plain WHERE
    # (NULL rows drop exactly like false, and a coalesce() wrapper blocks
    # ALL parquet PushedFilters — the r8 bool-pushdown fix; this path had
    # kept the wrapper, so every scored search read every row group).
    # Only the knn-union OR needs NULL→false coalescing (a NULL qpred
    # would poison the disjunction for knn-only hits).
    if knn is not None:
        scored = scored.where(
            F.coalesce(qpred, F.lit(False)) | F.col("_knn_score").isNotNull()
        ).drop("_knn_score")
    else:
        scored = scored.where(qpred)
    if body.get("post_filter"):
        # hits narrow further AFTER scoring (scores/aggs are
        # post_filter-blind, like ES); applies to the knn-union hit set
        # too.  The rescore window's interplay with post_filter is
        # unspecified in ES's docs — reject the combination rather than
        # pick silently.
        if rescore is not None:
            raise ValueError("post_filter cannot combine with rescore")
        scored = scored.where(compile_query(
            _strip_names(expand_lookups(
                _pre_slice, body["post_filter"], id_field)),
            id_field))
    if "min_score" in body:
        mcol = "_score0" if rescore is not None else "_score"
        scored = scored.where(F.col(mcol) >= F.lit(float(body["min_score"])))
    sort_spec = body.get("sort")
    if rescore is not None:
        if sort_spec:
            raise ValueError("rescore cannot be combined with an explicit sort")
        window_size = int(rescore.get("window_size", 10))
        offset0 = int(body.get("from", 0))
        size0 = int(body.get("size", 10))
        if offset0 + size0 > window_size:
            raise ValueError(
                f"rescore window_size {window_size} must cover from+size "
                f"{offset0 + size0} (hits beyond the window keep their "
                "original order and never reach this page)"
            )
        # the window frame has TWO consumers below (the first-pass score
        # and the rescore term maps) — materialize its ≤
        # window_size rows once into a LocalRelation so the first-pass
        # pipeline executes exactly once and nothing stays cached after
        # the call (code-review r9: persist() leaked one cached frame per
        # rescore query).  The bounded collect is the same driver-work
        # class as the suggesters' candidate frames; it does make the
        # rescore path eager at plan-build time.
        top_plan = scored.orderBy(
            F.col("_score0").desc(), F.col(id_field).asc()
        ).limit(window_size)
        top = df.sparkSession.createDataFrame(
            top_plan.collect(), top_plan.schema)
        # Lucene rescores WINDOW docs against INDEX-wide stats: tf/dl and
        # the term maps cover the ≤ window_size frame only, while
        # stats_over=df contributes N/avgdl/per-term-df as ONE 1-row
        # corpus aggregate (VERDICT r8 #4; plan-asserted in
        # tests/test_scoring.py)
        scored = _apply_query_rescore(
            top, rspec, id_field, k1=k1, b=b, stats_over=_pre_slice)
    if sort_spec:
        # reuse es_search's _sort_columns (missing/mode/_geo_distance
        # handling identical between the filter and scored paths, ADVICE
        # r8) — only the _score default direction differs: ES defaults
        # _score to DESC where every plain field defaults to ASC, so
        # bare/unordered _score entries are normalized before delegating
        # (_score is an ordinary column of the scored frame by now)
        from .query_dsl import _sort_columns

        norm = []
        for s in sort_spec:
            if s == "_score":
                norm.append({"_score": {"order": "desc"}})
            elif isinstance(s, dict) and set(s) == {"_score"}:
                fspec = s["_score"]
                order = (fspec.get("order") if isinstance(fspec, dict)
                         else fspec) or "desc"
                norm.append({"_score": {"order": order}})
            else:
                norm.append(s)
        cols = _sort_columns(norm)
    else:
        cols = [F.col("_score").desc(), F.col(id_field).asc()]
    if body.get("collapse"):
        # best hit per distinct field value by the effective sort —
        # WindowGroupLimit, same shape as the filter-context path
        from pyspark.sql.window import Window

        cw = Window.partitionBy(body["collapse"]["field"]).orderBy(*cols)
        scored = (
            scored.withColumn("_collapse_rank", F.row_number().over(cw))
            .where(F.col("_collapse_rank") == 1)
            .drop("_collapse_rank")
        )
    offset = int(body.get("from", 0))
    size = int(body.get("size", 10))
    scored = scored.orderBy(*cols).limit(offset + size)
    if offset:
        from pyspark.sql.window import Window

        w = Window.orderBy(*cols)
        scored = (
            scored.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") > offset).drop("_rn")
        )
    extra_cols: list[str] = []
    if body.get("highlight"):
        from .query_dsl import _apply_highlight

        # normalize first so query_string / simple_query_string bodies
        # contribute their parsed terms to the highlighter
        scored, extra_cols = _apply_highlight(
            scored, {**body, "query": _normalize(query)}
        )
    from .query_dsl import _apply_response_fields

    expl_cols = (["_explanation"]
                 if "_explanation" in scored.columns else [])
    return _apply_response_fields(
        scored, body, ["_score", *extra_cols, *extra_named, *expl_cols])
