"""Score-context search: BM25 _score parity with operators/retrieval.py,
bool/constant_score/dis_max composition, and function_score transforms."""

import math

import pytest
from pyspark.sql import functions as F

from hive2es_offline_spark.operators.retrieval import bm25_topk
from hive2es_offline_spark.plans.scoring import es_scored_search, score_frame


@pytest.fixture()
def corpus(spark):
    return spark.createDataFrame(
        [
            (1, "merge the stream now", "web", 800),
            (2, "vector index build merge", "web", 300),
            (3, "merge request merge queue", "api", 900),
            (4, "stream of vectors", "web", 1200),
            (5, "nothing relevant here at all", "api", 100),
        ],
        "doc_id long, text string, source string, n long",
    )


def _bm25_expected(docs, query_terms, k1=1.2, b=0.75):
    """Driver-side reference: same formula, rounded like the engine."""
    toks = {d: t.lower().split() for d, t in docs}
    n = float(len(toks))
    avgdl = sum(len(v) for v in toks.values()) / n
    scores = {}
    for term in query_terms:
        df_t = float(sum(1 for v in toks.values() if term in v))
        if df_t == 0:
            continue
        idf = math.log(1.0 + (n - df_t + 0.5) / (df_t + 0.5))
        for d, v in toks.items():
            tf = float(v.count(term))
            if not tf:
                continue
            dl = float(len(v))
            p = round(idf * (tf * (k1 + 1)) / (tf + k1 * (1 - b + b * dl / avgdl)), 6)
            scores[d] = round(scores.get(d, 0.0) + p, 6)
    return scores


DOCS = [
    (1, "merge the stream now"),
    (2, "vector index build merge"),
    (3, "merge request merge queue"),
    (4, "stream of vectors"),
    (5, "nothing relevant here at all"),
]


def test_match_score_matches_bm25_reference(corpus):
    out = es_scored_search(
        corpus,
        {"query": {"match": {"text": "merge stream"}}, "size": 10,
         "_source": ["doc_id"]},
        id_field="doc_id",
    ).collect()
    exp = _bm25_expected(DOCS, ["merge", "stream"])
    assert {r["doc_id"]: r["_score"] for r in out} == pytest.approx(exp)
    # ranking: score desc, id asc
    ordered = sorted(exp.items(), key=lambda kv: (-kv[1], kv[0]))
    assert [r["doc_id"] for r in out] == [d for d, _ in ordered]


def test_parity_with_bm25_topk(corpus):
    """The scored search and operators/retrieval.bm25_topk must agree
    exactly on scores and ranking for a plain match query."""
    ranked = bm25_topk(
        corpus, "merge stream", id_col="doc_id", text_col="text", top_k=10
    ).collect()
    scored = es_scored_search(
        corpus, {"query": {"match": {"text": "merge stream"}}, "size": 10},
        id_field="doc_id",
    ).collect()
    assert [(r["doc_id"], r["score"]) for r in ranked] == [
        (r["doc_id"], r["_score"]) for r in scored
    ]


def test_bool_sums_should_and_term_scores_idf(corpus):
    """bool: must match + matching should term; term leaf scores idf."""
    body = {
        "query": {"bool": {
            "must": [{"match": {"text": "merge"}}],
            "should": [{"term": {"source": "web"}}],
        }},
        "size": 10,
    }
    out = {r["doc_id"]: r["_score"]
           for r in es_scored_search(corpus, body, id_field="doc_id").collect()}
    base = _bm25_expected(DOCS, ["merge"])
    df_web = 3.0
    idf_web = round(math.log(1.0 + (5.0 - df_web + 0.5) / (df_web + 0.5)), 6)
    exp = {d: round(s + (idf_web if d in (1, 2, 4) else 0.0), 6)
           for d, s in base.items()}
    assert out == pytest.approx(exp)


def test_constant_score_and_dis_max(corpus):
    body = {"query": {"constant_score": {
        "filter": {"range": {"n": {"gte": 500}}}, "boost": 2.5}}, "size": 10}
    out = {r["doc_id"]: r["_score"]
           for r in es_scored_search(corpus, body, id_field="doc_id").collect()}
    assert out == {1: 2.5, 3: 2.5, 4: 2.5}

    body = {"query": {"dis_max": {
        "queries": [{"match": {"text": "merge"}}, {"match": {"text": "stream"}}],
        "tie_breaker": 0.5,
    }}, "size": 10}
    out = {r["doc_id"]: r["_score"]
           for r in es_scored_search(corpus, body, id_field="doc_id").collect()}
    s_merge = _bm25_expected(DOCS, ["merge"])
    s_stream = _bm25_expected(DOCS, ["stream"])
    exp = {}
    for d in set(s_merge) | set(s_stream):
        a, b_ = s_merge.get(d, 0.0), s_stream.get(d, 0.0)
        exp[d] = round(max(a, b_) + 0.5 * min(a, b_), 6)
    assert out == pytest.approx(exp)


def test_structural_clauses_score_one(corpus):
    out = {r["doc_id"]: r["_score"] for r in es_scored_search(
        corpus, {"query": {"range": {"n": {"gte": 500}}}, "size": 10},
        id_field="doc_id").collect()}
    assert out == {1: 1.0, 3: 1.0, 4: 1.0}
    # a filter-only bool also scores the ES constant 1.0
    out = {r["doc_id"]: r["_score"] for r in es_scored_search(
        corpus, {"query": {"bool": {"filter": [{"term": {"source": "api"}}]}},
                 "size": 10}, id_field="doc_id").collect()}
    assert out == {3: 1.0, 5: 1.0}


def test_multi_match_best_fields(spark):
    df = spark.createDataFrame(
        [(1, "merge stream", "other"), (2, "other", "merge")],
        "doc_id long, title string, body string",
    )
    out = es_scored_search(
        df,
        {"query": {"multi_match": {
            "query": "merge", "fields": ["title", "body"]}}, "size": 10},
        id_field="doc_id",
    ).collect()
    s_title = _bm25_expected([(1, "merge stream"), (2, "other")], ["merge"])
    s_body = _bm25_expected([(1, "other"), (2, "merge")], ["merge"])
    exp = {d: max(s_title.get(d, 0.0), s_body.get(d, 0.0)) for d in (1, 2)}
    assert {r["doc_id"]: r["_score"] for r in out} == pytest.approx(exp)


def test_function_score_field_value_factor(corpus):
    body = {"query": {"function_score": {
        "query": {"match": {"text": "merge"}},
        "field_value_factor": {"field": "n", "factor": 0.001, "modifier": "log1p"},
        "boost_mode": "multiply",
    }}, "size": 10}
    out = {r["doc_id"]: r["_score"]
           for r in es_scored_search(corpus, body, id_field="doc_id").collect()}
    base = _bm25_expected(DOCS, ["merge"])
    ns = {1: 800, 2: 300, 3: 900}
    exp = {d: round(s * round(math.log10(0.001 * ns[d] + 1.0), 6), 6)
           for d, s in base.items()}
    assert out == pytest.approx(exp)


def test_function_score_weight_filter_and_modes(corpus):
    # two functions: weight 3 gated on source=web, weight 5 on n>=900;
    # score_mode=sum, boost_mode=replace
    body = {"query": {"function_score": {
        "query": {"match": {"text": "merge"}},
        "functions": [
            {"filter": {"term": {"source": "web"}}, "weight": 3.0},
            {"filter": {"range": {"n": {"gte": 900}}}, "weight": 5.0},
        ],
        "score_mode": "sum", "boost_mode": "replace",
    }}, "size": 10}
    out = {r["doc_id"]: r["_score"]
           for r in es_scored_search(corpus, body, id_field="doc_id").collect()}
    assert out == {1: 3.0, 2: 3.0, 3: 5.0}  # doc3: api but n=900

    # no function matches -> neutral 1.0 under multiply boost_mode
    body["query"]["function_score"]["functions"] = [
        {"filter": {"term": {"source": "nope"}}, "weight": 9.0}]
    body["query"]["function_score"]["score_mode"] = "multiply"
    body["query"]["function_score"]["boost_mode"] = "multiply"
    out = {r["doc_id"]: r["_score"]
           for r in es_scored_search(corpus, body, id_field="doc_id").collect()}
    assert out == pytest.approx(_bm25_expected(DOCS, ["merge"]))


def test_fvf_missing_and_modifier_validation(corpus):
    from hive2es_offline_spark.plans.scoring import _field_value_factor

    with pytest.raises(ValueError, match="modifier"):
        _field_value_factor({"field": "n", "modifier": "exp"})
    with pytest.raises(ValueError, match="score_mode"):
        es_scored_search(corpus, {"query": {"function_score": {
            "query": {"match_all": {}},
            "functions": [{"weight": 2.0}], "score_mode": "geometric",
        }}}, id_field="doc_id").collect()


def test_query_string_scores_through_same_pipeline(corpus):
    body = {"query": {"query_string": {
        "query": "text:merge OR text:stream"}}, "size": 10}
    out = {r["doc_id"]: r["_score"]
           for r in es_scored_search(corpus, body, id_field="doc_id").collect()}
    exp = _bm25_expected(DOCS, ["merge", "stream"])
    assert out == pytest.approx(exp)


def test_min_score_and_paging(corpus):
    body = {"query": {"match": {"text": "merge stream"}},
            "min_score": 0.6, "size": 10}
    out = es_scored_search(corpus, body, id_field="doc_id").collect()
    exp = _bm25_expected(DOCS, ["merge", "stream"])
    assert [r["doc_id"] for r in out] == sorted(
        (d for d, s in exp.items() if s >= 0.6),
        key=lambda d: (-exp[d], d),
    )
    body = {"query": {"match": {"text": "merge stream"}}, "from": 1, "size": 2}
    out = es_scored_search(corpus, body, id_field="doc_id").collect()
    full = sorted(exp.items(), key=lambda kv: (-kv[1], kv[0]))
    assert [r["doc_id"] for r in out] == [d for d, _ in full[1:3]]


def test_explicit_sort_overrides_score_order(corpus):
    body = {"query": {"match": {"text": "merge"}},
            "sort": [{"n": {"order": "desc"}}], "size": 10,
            "_source": ["doc_id", "n"]}
    out = es_scored_search(corpus, body, id_field="doc_id").collect()
    assert [r["doc_id"] for r in out] == [3, 1, 2]
    assert "_score" in out[0].asDict()


def test_boosting_demotes_but_never_excludes(corpus):
    body = {"query": {"boosting": {
        "positive": {"match": {"text": "merge"}},
        "negative": {"term": {"source": "api"}},
        "negative_boost": 0.2,
    }}, "size": 10}
    out = {r["doc_id"]: r["_score"]
           for r in es_scored_search(corpus, body, id_field="doc_id").collect()}
    base = _bm25_expected(DOCS, ["merge"])
    # docs 3 (api) demoted by 0.2; docs 1, 2 (web) untouched; doc 3 still
    # present (demotion, never exclusion)
    exp = {d: round(s * (0.2 if d == 3 else 1.0), 6) for d, s in base.items()}
    assert out == pytest.approx(exp)
    assert 3 in out


def test_null_text_rows_do_not_poison_avgdl(spark):
    """A NULL text cell must count as an empty document (F.size(NULL) is
    -1 — unguarded it would corrupt avgdl corpus-wide)."""
    df = spark.createDataFrame(
        [(1, "merge stream"), (2, None), (3, "merge")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r["_score"] for r in es_scored_search(
        df, {"query": {"match": {"text": "merge"}}, "size": 10},
        id_field="doc_id").collect()}
    exp = _bm25_expected([(1, "merge stream"), (2, ""), (3, "merge")], ["merge"])
    assert out == pytest.approx({d: s for d, s in exp.items() if s})


def test_non_matching_inner_bool_scores_zero(spark):
    """Code-review r8 confirmed bug: a nested bool whose must fails must
    contribute ZERO score even when its should-children match — pre-fix
    the ungated sum leaked the inner should's BM25 into the outer bool."""
    df = spark.createDataFrame(
        [(1, "x x", "b"), (2, "other", "b"), (3, "x", "a")],
        "doc_id long, text string, source string",
    )
    body = {"query": {"bool": {"should": [
        {"bool": {"must": [{"term": {"source": "a"}}],
                  "should": [{"match": {"text": "x"}}]}},
        {"term": {"source": "b"}},
    ]}}, "size": 10}
    out = {r["doc_id"]: r["_score"]
           for r in es_scored_search(df, body, id_field="doc_id").collect()}
    # docs 1 and 2 fail the inner bool's must -> both score exactly
    # idf('b'); doc 3 scores idf('a') + its matching inner-should BM25
    assert out[1] == out[2]
    idf_b = round(math.log(1.0 + (3.0 - 2.0 + 0.5) / (2.0 + 0.5)), 6)
    assert out[1] == pytest.approx(idf_b)
    assert out[3] > 0


def test_sort_score_defaults_desc_and_function_score_rejects_unknown(corpus):
    out = es_scored_search(
        corpus, {"query": {"match": {"text": "merge stream"}},
                 "sort": ["_score"], "size": 10}, id_field="doc_id"
    ).collect()
    scores = [r["_score"] for r in out]
    assert scores == sorted(scores, reverse=True)  # ES: _score sorts DESC
    # explicit asc still honored
    out = es_scored_search(
        corpus, {"query": {"match": {"text": "merge stream"}},
                 "sort": [{"_score": {"order": "asc"}}], "size": 10},
        id_field="doc_id").collect()
    assert [r["_score"] for r in out] == sorted(scores)
    # unsupported function kinds raise in the SHORTHAND path too
    # (gauss/exp/linear/random_score/script_score supported since r9)
    with pytest.raises(ValueError, match="random_walk"):
        es_scored_search(corpus, {"query": {"function_score": {
            "query": {"match_all": {}},
            "random_walk": {"field": "n"},
        }}}, id_field="doc_id").collect()


def test_rescore_blends_top_window(corpus):
    """rescore: top window_size hits by the original score re-ranked by
    qw*score + rqw*rescore_score (corpus-stat BM25 for both)."""
    body = {
        "query": {"match": {"text": "merge"}},
        "rescore": {"window_size": 10, "query": {
            "rescore_query": {"match": {"text": "stream"}},
            "query_weight": 0.5, "rescore_query_weight": 2.0,
        }},
        "size": 10,
    }
    out = {r["doc_id"]: r["_score"]
           for r in es_scored_search(corpus, body, id_field="doc_id").collect()}
    s_merge = _bm25_expected(DOCS, ["merge"])
    s_stream = _bm25_expected(DOCS, ["stream"])
    # abs tolerance absorbs Spark's HALF_UP vs Python's banker's rounding
    # on exact .5e-6 ties (0.2694985 -> 0.269499 vs 0.269498)
    exp = {d: round(0.5 * s + 2.0 * s_stream.get(d, 0.0), 6)
           for d, s in s_merge.items()}
    assert out == pytest.approx(exp, abs=2e-6)
    # multiply mode; a window doc NOT matching the rescore query keeps
    # query_weight * original (Lucene QueryRescorer.combine — never a
    # zeroing 0 secondary)
    body["rescore"]["query"]["score_mode"] = "multiply"
    out = {r["doc_id"]: r["_score"]
           for r in es_scored_search(corpus, body, id_field="doc_id").collect()}
    exp = {d: round(0.5 * s * 2.0 * s_stream[d], 6) if d in s_stream
           else round(0.5 * s, 6)
           for d, s in s_merge.items()}
    assert out == pytest.approx(exp, abs=2e-6)
    with pytest.raises(ValueError, match="window_size"):
        es_scored_search(corpus, {**body, "rescore": {
            "window_size": 2, "query": body["rescore"]["query"]},
            "size": 5}, id_field="doc_id")
    with pytest.raises(ValueError, match="explicit sort"):
        es_scored_search(corpus, {**body, "sort": [{"n": "asc"}]},
                         id_field="doc_id")


def test_scored_collapse_and_highlight(corpus):
    body = {
        "query": {"query_string": {"query": "merge stream",
                                   "default_field": "text"}},
        "collapse": {"field": "source"},
        "highlight": {"fields": {"text": {}}},
        "size": 10,
        "_source": ["doc_id", "source", "text"],
    }
    out = es_scored_search(corpus, body, id_field="doc_id").collect()
    # one best hit per source value
    assert len(out) == len({r["source"] for r in out})
    # query_string terms highlight through the normalized tree
    hl = {r["doc_id"]: r["text_highlight"] for r in out}
    assert hl[1] == "<em>merge</em> the <em>stream</em> now"


def test_combined_query_knn_retrieval(spark):
    """ES 8 combined retrieval: hit set = query matches UNION knn top-k,
    _score = BM25 + (1+cos)/2 for docs in both."""
    import numpy as np

    rows = [
        (1, "merge stream", [1.0, 0.0]),
        (2, "other words", [0.9, 0.1]),
        (3, "merge only", [0.0, 1.0]),
        (4, "unrelated", [-1.0, 0.0]),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, embedding array<double>")
    body = {"query": {"match": {"text": "merge"}},
            "knn": {"field": "embedding", "query_vector": [1.0, 0.0], "k": 2},
            "size": 10}
    out = {r["doc_id"]: r["_score"]
           for r in es_scored_search(df, body, id_field="doc_id").collect()}
    bm = _bm25_expected([(d, t) for d, t, _ in rows], ["merge"])
    def knn_score(v):
        c = np.dot(v, [1.0, 0.0]) / (np.linalg.norm(v) or 1.0)
        return round((1 + c) / 2, 6)
    # knn top-2 by cosine to [1,0]: doc 1 (cos 1) and doc 2 (cos ~0.9939)
    exp = {
        1: round(bm[1] + knn_score([1.0, 0.0]), 6),
        2: round(0.0 + knn_score([0.9, 0.1]), 6),   # knn-only hit
        3: round(bm[3], 6),                          # query-only hit
    }
    assert out == pytest.approx(exp, abs=2e-6)
    assert 4 not in out  # neither side retrieved it

    # knn-only body: exactly the top-k, scored by similarity alone
    out = es_scored_search(
        df, {"knn": {"field": "embedding", "query_vector": [1.0, 0.0],
                     "k": 2}, "size": 10}, id_field="doc_id").collect()
    assert [(r["doc_id"], r["_score"]) for r in out] == [
        (1, knn_score([1.0, 0.0])), (2, knn_score([0.9, 0.1]))]

    # knn filter pre-restricts the candidate pool (ES >= 8.2 semantics)
    out = es_scored_search(
        df, {"knn": {"field": "embedding", "query_vector": [1.0, 0.0],
                     "k": 2, "filter": {"range": {"doc_id": {"gte": 2}}}},
             "size": 10}, id_field="doc_id").collect()
    assert [r["doc_id"] for r in out] == [2, 3]


def test_rescore_list_form_and_knn_corpus_stats(spark):
    """ES's list-form rescore is accepted (single entry); with knn in the
    body, the rescore query's BM25 stats stay CORPUS-wide — the union
    filter must not shrink N/avgdl/df (code-review r8)."""
    rows = [
        (1, "merge stream", [1.0, 0.0]),
        (2, "other words", [0.9, 0.1]),
        (3, "merge only", [0.0, 1.0]),
        (4, "unrelated stuff here", [-1.0, 0.0]),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, embedding array<double>")
    body = {"query": {"match": {"text": "merge"}},
            "knn": {"field": "embedding", "query_vector": [1.0, 0.0], "k": 1},
            "rescore": [{"window_size": 10, "query": {
                "rescore_query": {"match": {"text": "stream"}}}}],
            "size": 10}
    out = {r["doc_id"]: r["_score"]
           for r in es_scored_search(df, body, id_field="doc_id").collect()}
    bm_merge = _bm25_expected([(d, t) for d, t, _ in rows], ["merge"])
    bm_stream = _bm25_expected([(d, t) for d, t, _ in rows], ["stream"])
    # hit set: merge matches {1, 3} UNION knn top-1 {1}; doc 1 blends the
    # knn-combined original with the CORPUS-stat stream score
    assert set(out) == {1, 3}
    exp1 = round(round(bm_merge[1] + 1.0, 6) + bm_stream[1], 6)
    assert out[1] == pytest.approx(exp1, abs=2e-6)
    assert out[3] == pytest.approx(bm_merge[3], abs=2e-6)  # qw*orig, no zero
    with pytest.raises(ValueError, match="single rescorer"):
        es_scored_search(df, {**body, "rescore": [body["rescore"][0]] * 2},
                         id_field="doc_id")


def test_scored_search_plan_shape(corpus):
    """The scale contract, plan-asserted: ranking is TakeOrderedAndProject
    and NO Python evaluator appears anywhere in the score pipeline (join
    strategy is AQE's runtime call — a local-relation initial plan may
    show SortMergeJoin before stats arrive, so it is not asserted)."""
    body = {"query": {"bool": {
        "must": [{"match": {"text": "merge stream"}}],
        "should": [{"term": {"source": "web"}}]}}, "size": 10}
    plan = (es_scored_search(corpus, body, id_field="doc_id")
            ._jdf.queryExecution().executedPlan().toString())
    assert "TakeOrderedAndProject" in plan
    assert "Python" not in plan


def test_fvf_null_and_domain_guards(spark):
    # ADVICE r8: NULL field without `missing`, and out-of-domain modifier
    # inputs (log/ln of non-positive, reciprocal of 0), yield a NULL
    # _score that sorts LAST under _score desc — documented divergence
    # (ES errors; a distributed engine demotes deterministically), and
    # never NaN/Infinity which would poison the sort.
    df = spark.createDataFrame(
        [(1, "merge", 10.0), (2, "merge", None), (3, "merge", 0.0),
         (4, "merge", -5.0)],
        "doc_id long, text string, n double",
    )
    for modifier, exp1 in (("log", 1.0), ("ln", math.log(10.0))):
        out = es_scored_search(df, {"query": {"function_score": {
            "query": {"match_all": {}},
            "field_value_factor": {"field": "n", "modifier": modifier},
        }}, "size": 10}, id_field="doc_id").collect()
        scores = {r["doc_id"]: r["_score"] for r in out}
        assert scores[1] == pytest.approx(exp1, abs=2e-6)
        for d in (2, 3, 4):
            assert scores[d] is None, (modifier, d)
        # NULL-score rows sort after every real score
        assert [r["doc_id"] for r in out][0] == 1
    out = es_scored_search(df, {"query": {"function_score": {
        "query": {"match_all": {}},
        "field_value_factor": {"field": "n", "modifier": "reciprocal"},
    }}, "size": 10}, id_field="doc_id").collect()
    scores = {r["doc_id"]: r["_score"] for r in out}
    assert scores[3] is None and scores[2] is None
    assert scores[1] == pytest.approx(0.1, abs=2e-6)
    # `missing` restores ES behavior for the NULL row
    out = es_scored_search(df, {"query": {"function_score": {
        "query": {"match_all": {}},
        "field_value_factor": {"field": "n", "missing": 100.0,
                               "modifier": "log"},
    }}, "size": 10}, id_field="doc_id").collect()
    assert {r["doc_id"]: r["_score"] for r in out}[2] == pytest.approx(
        2.0, abs=2e-6)


def test_scored_sort_reuses_filter_path_parser(corpus):
    # ADVICE r8: the scored path delegates to query_dsl._sort_columns, so
    # bare-string entries, order shorthand, and _score mixing behave
    # identically to es_search — including _score's DESC default inside a
    # multi-key sort.
    body = {"query": {"match": {"text": "merge"}},
            "sort": ["source", "_score"], "size": 10,
            "_source": ["doc_id", "source"]}
    out = es_scored_search(corpus, body, id_field="doc_id").collect()
    exp = _bm25_expected(DOCS, ["merge"])
    src = {1: "web", 2: "web", 3: "api"}
    # docs 1 and 2 tie EXACTLY (tf=1, dl=4 each): like ES (shard order),
    # the engine leaves order among equal (source, _score) keys
    # unspecified, so assert the sort-KEY sequence and the hit set — not
    # one arbitrary serialization of the tie (r15: the old id-sequence
    # assertion flaked once shuffled-hash joins changed row order)
    expected_keys = sorted((src[d], -s) for d, s in exp.items())
    assert [(src[r["doc_id"]], -exp[r["doc_id"]]) for r in out] == expected_keys
    assert {r["doc_id"] for r in out} == set(exp)
    # _geo_distance option handling now comes from the shared parser too:
    # unsupported companions reject loudly instead of silently sorting
    with pytest.raises(ValueError, match="_geo_distance"):
        es_scored_search(corpus, {
            "query": {"match": {"text": "merge"}},
            "sort": [{"_geo_distance": {"loc": {"lat": 0, "lon": 0},
                                        "bad_option": 1}}],
        }, id_field="doc_id")


def test_decay_functions_numeric_date_geo(spark):
    """gauss/exp/linear decay (VERDICT r8 #3): origin/scale/offset/decay
    semantics per the ES docs, closed-form codegen over the scored frame."""
    import datetime as dt

    df = spark.createDataFrame(
        [(1, dt.date(2024, 1, 1), 10.0, {"lat": 0.0, "lon": 0.0}),
         (2, dt.date(2024, 1, 11), 20.0, {"lat": 0.0, "lon": 1.0}),
         (3, dt.date(2023, 12, 2), 0.0, None),
         (4, None, None, None)],
        "id long, d date, n double, "
        "loc struct<lat: double, lon: double>")

    def scores(fn):
        out = es_scored_search(df, {"query": {"function_score": {
            "query": {"match_all": {}}, **fn}}, "size": 10},
            id_field="id").collect()
        return {r["id"]: r["_score"] for r in out}

    # numeric gauss: value at origin -> 1.0, at origin±scale -> decay,
    # missing field -> 1.0 (ES documented behavior)
    sc = scores({"gauss": {"n": {"origin": 10, "scale": 10, "decay": 0.5}}})
    assert sc[1] == pytest.approx(1.0, abs=2e-6)
    assert sc[2] == pytest.approx(0.5, abs=2e-6)
    assert sc[3] == pytest.approx(0.5, abs=2e-6)
    assert sc[4] == 1.0
    # numeric exp at half a scale: 0.5**0.5
    sc = scores({"exp": {"n": {"origin": 10, "scale": 20, "decay": 0.5}}})
    assert sc[2] == pytest.approx(0.5 ** 0.5, abs=2e-6)
    # date linear with offset: dist 10d, adj 5d, s = scale/(1-decay) = 20d
    sc = scores({"linear": {"d": {"origin": "2024-01-01", "scale": "10d",
                                  "offset": "5d", "decay": 0.5}}})
    assert sc[1] == pytest.approx(1.0, abs=2e-6)
    assert sc[2] == pytest.approx(0.75, abs=2e-6)
    assert sc[3] == 0.0  # 30d out -> linear hits its zero floor
    assert sc[4] == 1.0
    # geo gauss: ~111.2km east at the equator, scale 111.2km -> ~decay
    sc = scores({"gauss": {"loc": {"origin": {"lat": 0, "lon": 0},
                                   "scale": "111.195km", "decay": 0.5}}})
    assert sc[1] == pytest.approx(1.0, abs=2e-6)
    assert sc[2] == pytest.approx(0.5, abs=1e-3)
    assert sc[3] == 1.0 and sc[4] == 1.0
    # now-anchored origins need the pinned clock (determinism convention)
    with pytest.raises(ValueError, match="inject a deterministic clock"):
        scores({"gauss": {"d": {"origin": "now-1d", "scale": "10d"}}})
    sc = scores({"gauss": {"d": {"origin": "now/d", "scale": "10d"},
                           "now": "2024-01-01"}})
    assert sc[1] == pytest.approx(1.0, abs=2e-6)
    # loud rejections
    with pytest.raises(ValueError, match="decay must be in"):
        scores({"gauss": {"n": {"origin": 0, "scale": 10, "decay": 1.5}}})
    with pytest.raises(ValueError, match="scale must be positive"):
        scores({"gauss": {"n": {"origin": 0, "scale": 0}}})
    with pytest.raises(ValueError, match="multi_value_mode"):
        scores({"gauss": {"n": {"origin": 0, "scale": 10,
                                "multi_value_mode": "min"}}})


def test_decay_composes_with_functions_and_weight(corpus):
    # decay inside functions[] with per-function filter + weight, combined
    # by score_mode/boost_mode like any other function
    body = {"query": {"function_score": {
        "query": {"match_all": {}},
        "functions": [
            {"gauss": {"n": {"origin": 800, "scale": 400, "decay": 0.5}},
             "weight": 2.0},
            {"weight": 10.0, "filter": {"term": {"source": "api"}}},
        ],
        "score_mode": "sum",
    }}, "size": 10}
    out = {r["doc_id"]: r["_score"]
           for r in es_scored_search(corpus, body, id_field="doc_id").collect()}
    import math as m
    g = lambda n: 2.0 * round(m.exp((n - 800) ** 2 * m.log(0.5) / 400 ** 2), 6)
    assert out[1] == pytest.approx(g(800), abs=2e-6)
    assert out[3] == pytest.approx(round(g(900), 6) + 10.0, abs=2e-6)
    assert out[5] == pytest.approx(g(100) + 10.0, abs=2e-5)


def test_random_score_seeded_deterministic(corpus):
    body = {"query": {"function_score": {
        "query": {"match_all": {}},
        "random_score": {"seed": 42, "field": "doc_id"},
    }}, "size": 10}
    a = {r["doc_id"]: r["_score"]
         for r in es_scored_search(corpus, body, id_field="doc_id").collect()}
    b = {r["doc_id"]: r["_score"]
         for r in es_scored_search(corpus, body, id_field="doc_id").collect()}
    assert a == b
    assert all(0.0 <= v < 1.0 for v in a.values())
    assert len(set(a.values())) > 1  # actually varies per doc
    body2 = {"query": {"function_score": {
        "query": {"match_all": {}},
        "random_score": {"seed": 43, "field": "doc_id"},
    }}, "size": 10}
    c = {r["doc_id"]: r["_score"]
         for r in es_scored_search(corpus, body2, id_field="doc_id").collect()}
    assert c != a  # seed changes the permutation
    with pytest.raises(ValueError, match="seed and field"):
        es_scored_search(corpus, {"query": {"function_score": {
            "query": {"match_all": {}}, "random_score": {}}}},
            id_field="doc_id")


def test_rescore_tsmap_join_is_post_window_cut(spark):
    """VERDICT r8 #4: the rescore query's per-doc term-map (tf + tsmap
    join) must be computed over the ≤ window_size frame — only the
    corpus-wide statistics (N, avgdl, per-term df) scan the full corpus,
    as broadcast-size aggregates.  Plan-asserted: the rescore field's
    tsmap aggregate subtree contains the window-cut GlobalLimit."""
    df = spark.createDataFrame(
        [(i, f"merge stream doc {i}", f"vector quality item {i}")
         for i in range(50)],
        "doc_id long, text string, text2 string")
    body = {"query": {"match": {"text": "merge stream"}},
            "rescore": {"window_size": 5, "query": {
                "rescore_query": {"match": {"text2": "vector quality"}},
                "rescore_query_weight": 2.0}},
            "size": 3}
    out = es_scored_search(df, body, id_field="doc_id")
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    # the window frame is MATERIALIZED once (≤ window_size rows collected
    # into a local frame — one execution for its two consumers: the blend
    # projection and the rescore tf subtree; nothing stays cached).  It
    # shows up as the relation carrying the _score0 column ...
    import re as _re

    win_rel = _re.compile(r"(LocalRelation|LogicalRDD) \[[^\]]*_score0")
    assert win_rel.search(plan), plan[:1500]
    # ... and the rescore field's term-map aggregate reads that window
    # frame, never a fresh corpus scan, for its tf branch
    i = plan.index("AS _tsmap_text2")
    assert win_rel.search(plan[i:]), plan[i:i + 2000]
    # no TakeOrderedAndProject/limit below the tsmap aggregate anymore:
    # the cut already happened before materialization
    assert "GlobalLimit" not in plan[i:], plan[i:i + 2000]
    # blend values unchanged by the restructure: window docs combine
    # qw*orig + rqw*rescore, docs outside the window keep original order
    rows = out.collect()
    assert len(rows) == 3
    scores = [r["_score"] for r in rows]
    assert scores == sorted(scores, reverse=True)


def test_script_score_query_and_function(corpus):
    """script_score: Painless arithmetic subset with _score bound to the
    inner query's score — as a top-level query and as a function_score
    function; Math.* calls; loud rejections for the unsupported rest."""
    # top-level script_score query: hits = inner query's matches
    body = {"query": {"script_score": {
        "query": {"match": {"text": "merge"}},
        "script": {"source": "_score * params.f + Math.log(doc['n'].value)",
                   "params": {"f": 2.0}},
    }}, "size": 10}
    out = {r["doc_id"]: r["_score"]
           for r in es_scored_search(corpus, body, id_field="doc_id").collect()}
    base = _bm25_expected(DOCS, ["merge"])
    ns = {1: 800, 2: 300, 3: 900}
    exp = {d: round(round(s * 2.0 + math.log(ns[d]), 6), 6)
           for d, s in base.items()}
    assert out == pytest.approx(exp, abs=2e-6)
    # as a function inside function_score (boost_mode replace)
    body = {"query": {"function_score": {
        "query": {"match": {"text": "merge"}},
        "functions": [{"script_score": {
            "script": {"source": "Math.sqrt(doc['n'].value)"}}}],
        "boost_mode": "replace",
    }}, "size": 10}
    out = {r["doc_id"]: r["_score"]
           for r in es_scored_search(corpus, body, id_field="doc_id").collect()}
    assert out == pytest.approx(
        {d: round(math.sqrt(ns[d]), 6) for d in ns}, abs=2e-6)
    # rejections: min_score param, unknown Math fn, out-of-subset script
    with pytest.raises(ValueError, match="min_score"):
        es_scored_search(corpus, {"query": {"script_score": {
            "query": {"match_all": {}}, "script": {"source": "_score"},
            "min_score": 2.0}}}, id_field="doc_id")
    with pytest.raises(ValueError, match="Math.tanh"):
        es_scored_search(corpus, {"query": {"script_score": {
            "query": {"match_all": {}},
            "script": {"source": "Math.tanh(doc['n'].value)"}}}},
            id_field="doc_id")
    with pytest.raises(ValueError, match="unsupported bucket script"):
        es_scored_search(corpus, {"query": {"script_score": {
            "query": {"match_all": {}},
            "script": {"source": "saturation(doc['n'].value, 5)"}}}},
            id_field="doc_id")


def test_multi_match_types(spark):
    """multi_match type option: most_fields SUMS per-field scores,
    phrase runs match_phrase per field (best_fields combine),
    phrase_prefix matches search-as-you-type; cross_fields blends df
    across the fields (supported since round 10)."""
    df = spark.createDataFrame(
        [(1, "merge stream", "merge alpha"), (2, "other thing", "merge x"),
         (3, "stream merge", "beta gamma")],
        "doc_id long, title string, body string",
    )
    s_title = _bm25_expected(
        [(1, "merge stream"), (2, "other thing"), (3, "stream merge")],
        ["merge"])
    s_body = _bm25_expected(
        [(1, "merge alpha"), (2, "merge x"), (3, "beta gamma")], ["merge"])
    body = {"query": {"multi_match": {
        "query": "merge", "fields": ["title", "body"],
        "type": "most_fields"}}, "size": 10}
    out = {r["doc_id"]: r["_score"]
           for r in es_scored_search(df, body, id_field="doc_id").collect()}
    exp = {d: round(s_title.get(d, 0.0) + s_body.get(d, 0.0), 6)
           for d in (1, 2, 3)}
    assert out == pytest.approx(exp, abs=2e-6)
    # phrase type: only docs where the phrase is adjacent in SOME field
    body = {"query": {"multi_match": {
        "query": "merge stream", "fields": ["title", "body"],
        "type": "phrase"}}, "size": 10}
    out = [r["doc_id"] for r in
           es_scored_search(df, body, id_field="doc_id").collect()]
    assert out == [1]
    # slop passthrough: "stream merge" transposed needs slop 2
    body["query"]["multi_match"]["slop"] = 2
    out = sorted(r["doc_id"] for r in
                 es_scored_search(df, body, id_field="doc_id").collect())
    assert out == [1, 3]
    # phrase_prefix: last term is a prefix
    body = {"query": {"multi_match": {
        "query": "merge st", "fields": ["title", "body"],
        "type": "phrase_prefix"}}, "size": 10}
    out = [r["doc_id"] for r in
           es_scored_search(df, body, id_field="doc_id").collect()]
    assert out == [1]
    # filter context honors the type too
    from hive2es_offline_spark.plans.query_dsl import compile_query

    got = [r["doc_id"] for r in df.where(compile_query(
        {"multi_match": {"query": "merge stream", "fields": ["title", "body"],
                         "type": "phrase"}}, "doc_id")).collect()]
    assert got == [1]
    # cross_fields is SUPPORTED since round 10: blended df = max over
    # the two fields (2 each here), every field one-token-hit with
    # dl=avgdl=2 => identical partials, dismax picks either
    p = round(math.log(1.6), 6)  # ln(1 + (3-2+.5)/(2+.5))
    out = {r["doc_id"]: r["_score"]
           for r in es_scored_search(df, {"query": {"multi_match": {
               "query": "merge", "fields": ["title", "body"],
               "type": "cross_fields"}}, "size": 10,
               "_source": ["doc_id"]}, id_field="doc_id").collect()}
    assert out == pytest.approx({1: p, 2: p, 3: p}, abs=2e-6)


def test_scored_hit_filter_pushes_to_parquet(spark, tmp_path):
    """The scored path's hit-set WHERE keeps the predicate RAW (a
    coalesce wrapper blocks ALL parquet PushedFilters — the r8 bool fix;
    this path had kept the wrapper, so every scored search scanned every
    row group).  Plan-asserted like test_bool_conjuncts_push_to_parquet."""
    src = str(tmp_path / "docs.parquet")
    spark.createDataFrame(
        [(i, f"merge doc {i}", i * 10) for i in range(100)],
        "doc_id long, text string, n long",
    ).write.parquet(src)
    df = spark.read.parquet(src)
    body = {"query": {"function_score": {
        "query": {"range": {"n": {"gte": 500}}},
        "gauss": {"n": {"origin": 500, "scale": 100, "decay": 0.5}},
    }}, "size": 10}
    out = es_scored_search(df, body, id_field="doc_id")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "GreaterThanOrEqual(n,500)" in plan, plan[:1500]
    # bool bodies push their conjuncts too
    body = {"query": {"bool": {
        "must": [{"match": {"text": "merge"}}],
        "filter": [{"range": {"n": {"gte": 500}}}],
    }}, "size": 10}
    out = es_scored_search(df, body, id_field="doc_id")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "GreaterThanOrEqual(n,500)" in plan, plan[:1500]


def test_explain_emits_score_breakdown(corpus):
    """explain: true adds an _explanation JSON column carrying the final
    value, the BM25 params + normalized clause tree, per-field term
    partials, and keyword-leaf idfs — enough to recompute the score."""
    import json as _json

    body = {"query": {"bool": {
        "must": [{"match": {"text": "merge stream"}}],
        "should": [{"term": {"source": "web"}}],
    }}, "size": 10, "explain": True, "_source": ["doc_id"]}
    out = es_scored_search(corpus, body, id_field="doc_id").collect()
    for r in out:
        e = _json.loads(r["_explanation"])
        assert e["value"] == r["_score"]
        assert "k1=1.2" in e["description"]
        assert "clause tree" in e["description"]
        parts = e.get("bm25_partials_text") or {}
        idf = e.get("idf_source_web")
        # the explanation's numbers recompose to the score
        total = round(sum(parts.values()), 6)
        if idf is not None and r["doc_id"] in (1, 2, 4):
            total = round(total + idf, 6)
        assert total == pytest.approx(r["_score"], abs=2e-6)
    # no explain flag -> no column
    out = es_scored_search(corpus, {"query": {"match": {"text": "merge"}},
                                    "size": 5}, id_field="doc_id")
    assert "_explanation" not in out.columns


def test_explain_phrase_prefix_lists_no_partials(spark):
    """A multi_match phrase_prefix scores the constant 1.0, so its
    explanation lists no BM25 partials: the explanation carries exactly
    the maps the score reads."""
    import json as _json

    df = spark.createDataFrame(
        [(1, "slow scan of the table"), (2, "a slow scanner"),
         (3, "fast merge")], "doc_id long, text string")
    body = {"query": {"multi_match": {
        "query": "slow sc", "fields": ["text"], "type": "phrase_prefix"}},
        "explain": True, "_source": ["doc_id"]}
    rows = es_scored_search(df, body, id_field="doc_id").collect()
    assert sorted(r["doc_id"] for r in rows) == [1, 2]
    for r in rows:
        e = _json.loads(r["_explanation"])
        assert r["_score"] == e["value"] == 1.0
        assert not [k for k in e if k.startswith("bm25_partials_")], e


# --- multi_match cross_fields / bool_prefix (round 10) ----------------------


@pytest.fixture()
def names(spark):
    return spark.createDataFrame(
        [
            (1, "will", "smith"),
            (2, "smith", "jones"),
            (3, "bob", "will"),
        ],
        "doc_id long, first string, last string",
    )


def test_cross_fields_and_matches_terms_across_fields(names):
    body = {"query": {"multi_match": {
        "query": "will smith", "fields": ["first", "last"],
        "type": "cross_fields", "operator": "and"}},
        "size": 10, "_source": ["doc_id"]}
    rows = es_scored_search(names, body, id_field="doc_id").collect()
    # term-centric AND: doc 1 has will@first + smith@last; no single
    # field of any doc contains both terms
    assert [r.doc_id for r in rows] == [1]
    # every field is one token (tf=1, dl=1, avgdl=1 => tf-part = 1.0) and
    # each term's blended df = max(1, 1) = 1 over N=3
    p = round(math.log(1.0 + (3 - 1 + 0.5) / (1 + 0.5)), 6)
    assert rows[0]._score == pytest.approx(round(p + p, 6), abs=2e-6)


def test_best_fields_and_does_not_cross(names):
    body = {"query": {"multi_match": {
        "query": "will smith", "fields": ["first", "last"],
        "type": "best_fields", "operator": "and"}},
        "size": 10, "_source": ["doc_id"]}
    assert es_scored_search(names, body, id_field="doc_id").count() == 0


def test_cross_fields_blends_df_to_the_max(spark):
    # 'x' fills field a in every doc (df_a = 3) but appears in field b
    # only in doc 1 (df_b = 1): BlendedTermQuery scores BOTH fields with
    # df = max = 3, so doc 1's b-occurrence must NOT get the rare-term
    # idf of its own field
    df = spark.createDataFrame(
        [(1, "x", "x"), (2, "x", "q"), (3, "x", "r")],
        "doc_id long, a string, b string",
    )
    blended = round(math.log(1.0 + (3 - 3 + 0.5) / (3 + 0.5)), 6)
    body = {"query": {"multi_match": {
        "query": "x", "fields": ["a", "b"], "type": "cross_fields",
        "tie_breaker": 0.5}},
        "size": 10, "_source": ["doc_id"]}
    rows = {r.doc_id: r._score
            for r in es_scored_search(df, body, id_field="doc_id").collect()}
    # doc 1: dismax of two equal blended partials + 0.5 * the other
    assert rows[1] == pytest.approx(round(blended * 1.5, 6), abs=2e-6)
    # docs 2, 3: only field a matches — the bare blended partial (an
    # unblended b-side df of 1 would have scored ln(1 + 2.5/1.5) instead)
    assert rows[2] == pytest.approx(blended, abs=2e-6)
    assert rows[3] == pytest.approx(blended, abs=2e-6)


def test_match_bool_prefix_scores_terms_plus_prefix_constant(corpus):
    body = {"query": {"match_bool_prefix": {"text": "merge str"}},
            "size": 10, "_source": ["doc_id"]}
    rows = {r.doc_id: r._score
            for r in es_scored_search(corpus, body, id_field="doc_id").collect()}
    exp = _bm25_expected(DOCS, ["merge"])
    # docs 1 and 4 contain a 'str' prefix token (stream): +1.0 constant
    assert rows[1] == pytest.approx(round(exp[1] + 1.0, 6), abs=2e-6)
    assert rows[4] == pytest.approx(1.0, abs=2e-6)
    assert rows[2] == pytest.approx(exp[2], abs=2e-6)
    assert rows[3] == pytest.approx(exp[3], abs=2e-6)
    assert 5 not in rows


def test_match_bool_prefix_operator_and(corpus):
    body = {"query": {"match_bool_prefix": {
        "text": {"query": "merge str", "operator": "and"}}},
        "size": 10, "_source": ["doc_id"]}
    rows = es_scored_search(corpus, body, id_field="doc_id").collect()
    assert [r.doc_id for r in rows] == [1]


def test_match_bool_prefix_minimum_should_match(corpus):
    from hive2es_offline_spark.plans.query_dsl import compile_query

    pred = compile_query(
        {"match_bool_prefix": {"text": {
            "query": "merge stream no", "minimum_should_match": 2}}},
        "doc_id",
    )
    got = sorted(r.doc_id for r in corpus.where(pred).collect())
    # only doc 1 satisfies two of (merge, stream, no*-prefix)
    assert got == [1]


def test_multi_match_bool_prefix_sums_fields_with_boost(corpus):
    body = {"query": {"multi_match": {
        "query": "merge we", "fields": ["text", "source^2"],
        "type": "bool_prefix"}},
        "size": 10, "_source": ["doc_id"]}
    rows = {r.doc_id: r._score
            for r in es_scored_search(corpus, body, id_field="doc_id").collect()}
    exp = _bm25_expected(DOCS, ["merge"])
    # text: BM25(merge) (no 'we' prefix token); source: 'web' matches the
    # prefix => (0 + 1.0) * 2 for docs 1, 2, 4
    assert rows[1] == pytest.approx(round(exp[1] + 2.0, 6), abs=2e-6)
    assert rows[2] == pytest.approx(round(exp[2] + 2.0, 6), abs=2e-6)
    assert rows[3] == pytest.approx(exp[3], abs=2e-6)
    assert rows[4] == pytest.approx(2.0, abs=2e-6)
    assert 5 not in rows


# --- script / rank_feature / distance_feature (round 10) --------------------


def test_script_query_filters_and_scores_constant(corpus):
    from hive2es_offline_spark.plans.query_dsl import compile_query

    pred = compile_query({"script": {"script": {
        "source": "doc['n'].value >= params.lo", "params": {"lo": 800}}}},
        "doc_id")
    assert sorted(r.doc_id for r in corpus.where(pred).collect()) == [1, 3, 4]
    out = es_scored_search(corpus, {
        "query": {"script": {"script": {"source": "doc['n'].value >= 800"}}},
        "size": 10, "_source": ["doc_id"]}, id_field="doc_id").collect()
    assert {r._score for r in out} == {1.0}


def test_script_query_rejects_non_boolean(corpus):
    from hive2es_offline_spark.plans.query_dsl import compile_query

    with pytest.raises(ValueError, match="boolean"):
        compile_query({"script": {"script": {"source": "doc['n'].value"}}},
                      "doc_id")


def test_rank_feature_functions(corpus):
    body = {"query": {"rank_feature": {
        "field": "n", "saturation": {"pivot": 800}, "boost": 2.0}},
        "size": 10, "_source": ["doc_id"]}
    rows = {r.doc_id: r._score
            for r in es_scored_search(corpus, body, id_field="doc_id").collect()}
    for d, n in [(1, 800), (2, 300), (3, 900), (4, 1200), (5, 100)]:
        assert rows[d] == pytest.approx(round(2.0 * n / (n + 800), 6), abs=2e-6)
    body["query"]["rank_feature"] = {"field": "n",
                                     "log": {"scaling_factor": 1}}
    rows = {r.doc_id: r._score
            for r in es_scored_search(corpus, body, id_field="doc_id").collect()}
    assert rows[4] == pytest.approx(round(math.log(1 + 1200), 6), abs=2e-6)
    body["query"]["rank_feature"] = {"field": "n",
                                     "sigmoid": {"pivot": 800, "exponent": 2}}
    rows = {r.doc_id: r._score
            for r in es_scored_search(corpus, body, id_field="doc_id").collect()}
    assert rows[2] == pytest.approx(
        round(300.0**2 / (300.0**2 + 800.0**2), 6), abs=2e-6)


def test_rank_feature_saturation_requires_pivot(corpus):
    with pytest.raises(ValueError, match="pivot"):
        es_scored_search(corpus, {
            "query": {"rank_feature": {"field": "n"}},
            "size": 5, "_source": ["doc_id"]}, id_field="doc_id")


def test_distance_feature_date(spark):
    df = spark.createDataFrame(
        [(1, "2024-01-01 00:00:00"), (2, "2024-01-08 00:00:00")],
        "id long, ts string",
    ).select("id", F.col("ts").cast("timestamp").alias("ts"))
    body = {"query": {"distance_feature": {
        "field": "ts", "origin": "2024-01-01 00:00:00", "pivot": "7d",
        "boost": 3.0}},
        "size": 10, "_source": ["id"]}
    rows = {r.id: r._score
            for r in es_scored_search(df, body, id_field="id").collect()}
    assert rows[1] == pytest.approx(3.0, abs=2e-6)      # at the origin
    assert rows[2] == pytest.approx(1.5, abs=2e-6)      # one pivot away


def test_combined_fields_bm25f(spark):
    # one token per field, boosts 1 and 2: dl_c = 3 for every doc,
    # avgdl = 3; df('x') = 2 of 3 docs (any-field containment)
    df = spark.createDataFrame(
        [(1, "x", "x"), (2, "x", "q"), (3, "q", "q")],
        "id long, a string, b string",
    )
    body = {"query": {"combined_fields": {
        "query": "x", "fields": ["a", "b^2"]}},
        "size": 10, "_source": ["id"]}
    rows = {r.id: r._score
            for r in es_scored_search(df, body, id_field="id").collect()}
    idf = math.log(1.0 + (3 - 2 + 0.5) / (2 + 0.5))
    # doc 1: weighted tf = 1 + 2 = 3 -> tf part 3*2.2/(3 + 1.2) ; doc 2: tf 1 -> 1.0
    assert rows[1] == pytest.approx(
        round(idf * (3 * 2.2) / (3 + 1.2), 6), abs=2e-6)
    assert rows[2] == pytest.approx(round(idf, 6), abs=2e-6)
    assert 3 not in rows


def test_combined_fields_term_centric_and(spark):
    df = spark.createDataFrame(
        [(1, "will", "smith"), (2, "smith", "jones")],
        "id long, first string, last string",
    )
    body = {"query": {"combined_fields": {
        "query": "will smith", "fields": ["first", "last"],
        "operator": "and"}},
        "size": 10, "_source": ["id"]}
    assert [r.id for r in
            es_scored_search(df, body, id_field="id").collect()] == [1]


def test_combined_fields_rejects_sub_one_boost(spark):
    from hive2es_offline_spark.plans.query_dsl import compile_query

    with pytest.raises(ValueError, match=">= 1"):
        compile_query({"combined_fields": {
            "query": "x", "fields": ["a^0.5"]}}, "id")


def test_pinned_query_promotes_ids_in_order(corpus):
    body = {"query": {"pinned": {
        "ids": [5, 4],
        "organic": {"match": {"text": "merge"}}}},
        "size": 10, "_source": ["doc_id"]}
    out = es_scored_search(corpus, body, id_field="doc_id").collect()
    # pinned docs first in LIST order (5 then 4), then organic by BM25
    assert [r.doc_id for r in out][:2] == [5, 4]
    organic = _bm25_expected(DOCS, ["merge"])
    tail = sorted(organic.items(), key=lambda kv: (-kv[1], kv[0]))
    assert [r.doc_id for r in out][2:] == [d for d, _ in tail]
    scores = {r.doc_id: r._score for r in out}
    assert scores[5] > scores[4] > max(organic.values())
    for d, s in organic.items():
        assert scores[d] == pytest.approx(s, abs=2e-6)


def test_pinned_filter_context_unions_ids_and_organic(corpus):
    from hive2es_offline_spark.plans.query_dsl import compile_query

    pred = compile_query({"pinned": {
        "ids": [5], "organic": {"match": {"text": "merge"}}}}, "doc_id")
    got = sorted(r.doc_id for r in corpus.where(pred).collect())
    assert got == [1, 2, 3, 5]


def test_script_and_pinned_boosts_apply(corpus):
    out = es_scored_search(corpus, {
        "query": {"script": {"script": {"source": "doc['n'].value >= 800"},
                             "boost": 2.0}},
        "size": 10, "_source": ["doc_id"]}, id_field="doc_id").collect()
    assert {r._score for r in out} == {2.0}
    rows = {r.doc_id: r._score for r in es_scored_search(corpus, {
        "query": {"pinned": {"ids": [5],
                             "organic": {"match": {"text": "merge"}},
                             "boost": 2.0}},
        "size": 10, "_source": ["doc_id"]}, id_field="doc_id").collect()}
    organic = _bm25_expected(DOCS, ["merge"])
    assert rows[5] == pytest.approx(2e10)
    for d, s in organic.items():
        assert rows[d] == pytest.approx(round(2 * s, 6), abs=4e-6)


def test_rank_feature_domain_guards(spark):
    df = spark.createDataFrame(
        [(1, 10.0), (2, -300.0), (3, None)], "id long, x double")
    body = {"query": {"rank_feature": {
        "field": "x", "saturation": {"pivot": 300}}},
        "size": 10, "_source": ["id"]}
    out = es_scored_search(df, body, id_field="id").collect()
    # non-positive and NULL features are NOT hits (ES forbids them at
    # index time) — no NULL/negative scores can poison the sort
    assert [r.id for r in out] == [1]
    with pytest.raises(ValueError, match="positive"):
        es_scored_search(df, {"query": {"rank_feature": {
            "field": "x", "saturation": {"pivot": 0}}},
            "size": 5, "_source": ["id"]}, id_field="id")


def test_distance_feature_origin_validation(spark):
    df = spark.createDataFrame(
        [(1, "2024-01-08 00:00:00")], "id long, ts string",
    ).select("id", F.col("ts").cast("timestamp").alias("ts"))
    # epoch-millis origin is legal
    body = {"query": {"distance_feature": {
        "field": "ts", "origin": 1704067200000, "pivot": "7d"}},
        "size": 5, "_source": ["id"]}
    out = es_scored_search(df, body, id_field="id").collect()
    assert out[0]._score == pytest.approx(0.5, abs=2e-6)  # one pivot away
    with pytest.raises(ValueError, match="nondeterministic"):
        es_scored_search(df, {"query": {"distance_feature": {
            "field": "ts", "origin": "now", "pivot": "7d"}},
            "size": 5, "_source": ["id"]}, id_field="id")
    with pytest.raises(ValueError, match="origin"):
        es_scored_search(df, {"query": {"distance_feature": {
            "field": "ts", "origin": "not-a-date", "pivot": "7d"}},
            "size": 5, "_source": ["id"]}, id_field="id")


def test_wrapper_query_decodes_and_scores(corpus):
    import base64 as b64
    import json as js

    payload = b64.b64encode(js.dumps(
        {"match": {"text": "merge stream"}}).encode()).decode()
    out = es_scored_search(corpus, {
        "query": {"wrapper": {"query": payload}},
        "size": 10, "_source": ["doc_id"]}, id_field="doc_id").collect()
    exp = _bm25_expected(DOCS, ["merge", "stream"])
    assert {r.doc_id: r._score for r in out} == pytest.approx(exp)


def test_wrapper_query_bad_payload_rejects(corpus):
    from hive2es_offline_spark.plans.query_dsl import compile_query

    with pytest.raises(ValueError, match="wrapper"):
        compile_query({"wrapper": {"query": "!!!not-base64-json"}}, "doc_id")


class TestSharedAnalysisMsearch:
    """Scored multi-search tokenize sharing (VERDICT r11 #7): the arms
    of one scored _msearch read ONE materialized token stream per field
    and reuse identical term maps, with results identical to independent
    es_scored_search calls."""

    BODIES = [
        {"query": {"multi_match": {"query": "merge stream",
                                   "fields": ["text^2", "source"],
                                   "type": "best_fields",
                                   "tie_breaker": 0.3}},
         "size": 5, "_source": ["doc_id"]},
        {"query": {"multi_match": {"query": "merge stream",
                                   "fields": ["text", "source"],
                                   "type": "most_fields"}},
         "size": 5, "_source": ["doc_id"]},
        {"query": {"multi_match": {"query": "merge str",
                                   "fields": ["text", "source^3"],
                                   "type": "bool_prefix"}},
         "size": 5, "_source": ["doc_id"]},
        {"query": {"match_phrase": {"text": {"query": "merge stream",
                                             "slop": 1}}},
         "size": 5, "_source": ["doc_id"]},
    ]

    @pytest.fixture()
    def docs(self, spark):
        rows = [
            (1, "merge stream merge sorted runs", "src1"),
            (2, "the stream merges into a run", "src2"),
            (3, "nothing relevant here", "src3"),
            (4, "merge merge merge stream stream", "src1"),
            (5, "a stream then a merge strategy", "merge"),
            (6, None, "src1"),
        ]
        return spark.createDataFrame(rows, "doc_id long, text string, source string")

    def test_results_identical_to_independent_searches(self, docs):
        from hive2es_offline_spark.plans.query_dsl import es_msearch
        from hive2es_offline_spark.plans.scoring import es_scored_search

        shared = es_msearch(docs, self.BODIES, id_field="doc_id",
                            scored=True)
        got = sorted((r["request_index"], r["doc_id"], r["_score"])
                     for r in shared.collect())
        want = []
        for i, b in enumerate(self.BODIES):
            for r in es_scored_search(docs, b, id_field="doc_id").collect():
                want.append((i, r["doc_id"], r["_score"]))
        assert got == sorted(want)

    def test_one_tokenize_per_field_in_plan(self, docs):
        from hive2es_offline_spark.plans.query_dsl import es_msearch

        shared = es_msearch(docs, self.BODIES, id_field="doc_id",
                            scored=True)
        plan = shared._jdf.queryExecution().executedPlan().toString()
        # every tokenize was materialized into the shared checkpoint:
        # the arms' plans carry ZERO inline tokenizer calls (the
        # checkpoint scan shows as an RDD scan)
        assert "regexp_extract_all" not in plan, plan[:4000]
        assert "__analyzed__" in plan
        # and the result contract does not leak the shared columns
        assert not [c for c in shared.columns
                    if c.startswith("__analyzed__")]

    def test_single_body_keeps_inline_path(self, docs):
        from hive2es_offline_spark.plans.query_dsl import es_msearch

        one = es_msearch(docs, self.BODIES[:1], id_field="doc_id",
                         scored=True)
        plan = one._jdf.queryExecution().executedPlan().toString()
        assert "__analyzed__" not in plan  # no checkpoint for one body


def test_shared_analysis_is_analyzer_stamped(spark):
    # (code-review r12) a frame whose shared streams were built under
    # one analyzer must NOT feed a search compiling under another — the
    # grammar rides in the column name, so the mismatched search falls
    # back to inline tokenizing and scores correctly
    from hive2es_offline_spark.plans.analysis import using
    from hive2es_offline_spark.plans.scoring import (
        es_scored_search,
        with_shared_analysis,
    )

    df = spark.createDataFrame(
        [(1, "the dogs were merging streams"), (2, "nothing here")],
        "doc_id long, text string")
    with using("standard"):
        shared = with_shared_analysis(df, ["text"])
    body = {"query": {"match": {"text": "merging"}}, "_source": ["doc_id"]}
    # english stems the query to "merg"; the standard-built stream holds
    # "merging" — the stale stream would score zero hits
    got = [r["doc_id"] for r in es_scored_search(
        shared, body, id_field="doc_id", analyzer="english").collect()]
    assert got == [1]
    # and under the MATCHING analyzer the stream IS used (plan carries
    # the stamped column, no inline tokenizer)
    plan = es_scored_search(shared, body, id_field="doc_id",
                            analyzer="standard") \
        ._jdf.queryExecution().executedPlan().toString()
    assert "__analyzed__standard__text" in plan
    assert "regexp_extract_all" not in plan


class TestRetrieverAPI:
    """ES 8.14 retriever tree (round 12): standard / knn / rrf root."""

    @pytest.fixture()
    def docs(self, spark):
        rows = [(i, f"merge stream doc {i}" if i % 3 == 0
                 else "other text here",
                 [float(i % 7), 1.0]) for i in range(1, 21)]
        return spark.createDataFrame(
            rows, "doc_id long, text string, embedding array<double>")

    def test_rrf_fuses_standard_and_knn(self, docs):
        from hive2es_offline_spark.plans.scoring import es_retriever_search

        body = {"retriever": {"rrf": {
            "retrievers": [
                {"standard": {"query": {"match": {"text": "merge stream"}}}},
                {"knn": {"field": "embedding",
                         "query_vector": [6.0, 1.0], "k": 8}},
            ],
            "rank_constant": 60, "rank_window_size": 10,
        }}, "size": 6, "_source": ["doc_id", "text"]}
        out = es_retriever_search(docs, body, id_field="doc_id")
        rows = {r["doc_id"]: r for r in out.collect()}
        assert len(rows) == 6
        # a doc ranked by BOTH retrievers out-fuses single-list docs:
        # 6 matches the text AND has embedding [6,1] (cosine rank 1)
        best = min(rows.values(), key=lambda r: r["rank"])
        assert best["doc_id"] == 6
        # rrf scores are 1/(k+rank) sums, rounded to 9
        assert all(0 < r["rrf_score"] < 2 / 60 for r in rows.values())
        # ranks are dense 1..6, id tie-break deterministic
        assert sorted(r["rank"] for r in rows.values()) == list(range(1, 7))

    def test_standard_root_and_rejects(self, docs):
        from hive2es_offline_spark.plans.scoring import es_retriever_search

        body = {"retriever": {"standard": {
            "query": {"match": {"text": "merge"}}}}, "size": 3}
        got = [r["doc_id"] for r in es_retriever_search(
            docs, body, id_field="doc_id").orderBy("rank").collect()]
        assert len(got) == 3
        with pytest.raises(ValueError, match="at least two"):
            es_retriever_search(docs, {"retriever": {"rrf": {
                "retrievers": [{"standard": {"query": {
                    "match": {"text": "merge"}}}}]}}},
                id_field="doc_id").collect()
        with pytest.raises(ValueError, match="unsupported retriever"):
            es_retriever_search(docs, {"retriever": {
                "semantic": {}}},
                id_field="doc_id").collect()
        with pytest.raises(ValueError, match="rrf option"):
            es_retriever_search(docs, {"retriever": {"rrf": {
                "retrievers": [], "window": 5}}},
                id_field="doc_id").collect()


class TestTextSimilarityReranker:
    """ES 8.15 text_similarity_reranker (round 15, VERDICT r14 #5):
    rerank the child window with a deterministic linear model."""

    MODELS = {"lex-rerank": {"weights": {"merge": 0.8},
                             "default_weight": 0.5, "bias": -1.0}}

    @pytest.fixture()
    def docs(self, spark):
        return spark.createDataFrame(
            [(1, "merge stream merge table"),
             (2, "stream stream stream query"),
             (3, "merge nothing else"),
             (4, "totally unrelated words"),
             (5, "merge stream query vector")],
            "doc_id long, text string")

    def _body(self, **over):
        spec = {"retriever": {"standard": {
                    "query": {"match": {"text": "merge stream"}}}},
                "field": "text", "inference_id": "lex-rerank",
                "inference_text": "merge stream",
                "rank_window_size": 10}
        spec.update(over)
        return {"retriever": {"text_similarity_reranker": spec},
                "size": 3}

    def test_reranks_child_window_by_model_score(self, docs):
        import math

        from hive2es_offline_spark.plans.scoring import es_retriever_search

        out = es_retriever_search(docs, self._body(), id_field="doc_id",
                                  rerank_models=self.MODELS).collect()
        got = [(r["doc_id"], r["_score"]) for r in
               sorted(out, key=lambda r: r["rank"])]
        # doc1: 2*0.8 (merge) + 0.5 (stream) = 2.1; doc2: 3*0.5; doc5:
        # 0.8 + 0.5 — sigmoid(bias + total) rounded 6, the classifier's
        # one rounding rule
        sig = lambda t: round(1 / (1 + math.exp(-(-1.0 + t))), 6)  # noqa: E731
        assert got == [(1, sig(2.1)), (2, sig(1.5)), (5, sig(1.3))]
        # BM25 alone would NOT rank doc2 (no 'merge') above doc5

    def test_min_score_filters(self, docs):
        from hive2es_offline_spark.plans.scoring import es_retriever_search

        out = es_retriever_search(
            docs, self._body(min_score=0.6), id_field="doc_id",
            rerank_models=self.MODELS).collect()
        assert [r["doc_id"] for r in out] == [1, 2]

    def test_rejects(self, docs):
        from hive2es_offline_spark.plans.scoring import es_retriever_search

        with pytest.raises(ValueError, match="unknown rerank inference_id"):
            es_retriever_search(
                docs, self._body(inference_id="remote-llm"),
                id_field="doc_id", rerank_models=self.MODELS)
        with pytest.raises(ValueError, match="unknown rerank inference_id"):
            es_retriever_search(docs, self._body(), id_field="doc_id")
        with pytest.raises(ValueError, match="must be >= the consuming"):
            es_retriever_search(
                docs, self._body(rank_window_size=2), id_field="doc_id",
                rerank_models=self.MODELS)
        with pytest.raises(ValueError, match="exceeds 10000"):
            es_retriever_search(
                docs, self._body(rank_window_size=20_000),
                id_field="doc_id", rerank_models=self.MODELS)
        with pytest.raises(ValueError, match="needs 'inference_text'"):
            body = self._body()
            del body["retriever"]["text_similarity_reranker"][
                "inference_text"]
            es_retriever_search(docs, body, id_field="doc_id",
                                rerank_models=self.MODELS)
        with pytest.raises(ValueError, match="model option"):
            es_retriever_search(
                docs, self._body(), id_field="doc_id",
                rerank_models={"lex-rerank": {"temperature": 0.7}})
        with pytest.raises(ValueError, match="reranker option"):
            es_retriever_search(
                docs, self._body(model="x"), id_field="doc_id",
                rerank_models=self.MODELS)


def test_retriever_filters_and_validation(spark):
    # (code-review r12 pass 2) child retrievers honor `filter`, single
    # roots return the REAL score, and body/option typos reject loudly
    from hive2es_offline_spark.plans.scoring import es_retriever_search

    rows = [(i, f"merge doc {i}" if i % 2 == 0 else "other",
             [float(i), 1.0], "en" if i <= 4 else "fr")
            for i in range(1, 9)]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, embedding array<double>, "
              "lang string")
    # knn retriever filter restricts the candidate pool
    body = {"retriever": {"knn": {
        "field": "embedding", "query_vector": [1.0, 0.0], "k": 2,
        "filter": {"term": {"lang": "en"}}}}, "size": 2,
        "_source": ["doc_id"]}
    got = sorted(r["doc_id"] for r in es_retriever_search(
        df, body, id_field="doc_id").collect())
    assert got == [3, 4]  # best cosine among lang=en only
    # standard retriever filter composes with the query
    body = {"retriever": {"standard": {
        "query": {"match": {"text": "merge"}},
        "filter": {"term": {"lang": "fr"}}}}, "size": 5,
        "_source": ["doc_id"]}
    out = es_retriever_search(df, body, id_field="doc_id").collect()
    assert sorted(r["doc_id"] for r in out) == [6, 8]
    # single root carries the retriever's REAL _score (BM25 > 0 here)
    assert all(r["_score"] > 0 for r in out)
    with pytest.raises(ValueError, match="retriever body key"):
        es_retriever_search(df, {"retriever": {"standard": {
            "query": {"match_all": {}}}}, "sizee": 3},
            id_field="doc_id").collect()
    with pytest.raises(ValueError, match="rank_window_size"):
        es_retriever_search(df, {"retriever": {"rrf": {
            "retrievers": [
                {"standard": {"query": {"match_all": {}}}},
                {"knn": {"field": "embedding",
                         "query_vector": [1.0, 0.0]}}],
            "rank_window_size": 2}}, "size": 5},
            id_field="doc_id").collect()
    with pytest.raises(ValueError, match="knn retriever option"):
        es_retriever_search(df, {"retriever": {"knn": {
            "field": "embedding", "query_vector": [1.0, 0.0],
            "similarity": 0.3}}}, id_field="doc_id").collect()


def test_scored_slice_partitions_and_shares_corpus_stats(corpus):
    # (ADVICE r12) "slice" in a SCORED body used to pass validation and
    # be silently ignored — every worker exported the full corpus.  Now
    # the slice predicate applies before scoring, the partitions are
    # disjoint and covering, and corpus statistics stay index-wide (a
    # doc scores identically in its slice and in the unsliced search).
    base = {"query": {"match": {"text": "merge"}}, "size": 10,
            "_source": ["doc_id"]}
    full = {r["doc_id"]: r["_score"] for r in es_scored_search(
        corpus, base, id_field="doc_id").collect()}
    parts = [
        {r["doc_id"]: r["_score"] for r in es_scored_search(
            corpus, {**base, "slice": {"id": i, "max": 2}},
            id_field="doc_id").collect()}
        for i in range(2)
    ]
    assert not (parts[0].keys() & parts[1].keys())
    assert parts[0].keys() | parts[1].keys() == full.keys()
    merged = {**parts[0], **parts[1]}
    assert merged == full  # index-wide stats: scores match the unsliced run


def test_shared_tsmaps_keyed_by_source_frame(spark):
    # scored searches over two different corpora never share corpus
    # statistics: not when their plans run as one action (Spark merges
    # the statistics subqueries of one query only over the SAME
    # relation), and not across the arms of one scored es_msearch each
    from hive2es_offline_spark.plans.query_dsl import es_msearch

    a = spark.createDataFrame(
        [(1, "merge merge merge"), (2, "other words here")],
        "doc_id long, text string")
    b = spark.createDataFrame(
        [(1, "merge once"), (2, "merge twice still"), (3, "no hit")],
        "doc_id long, text string")
    body = {"query": {"match": {"text": "merge"}}, "size": 10}
    solo = {}
    for tag, frame in (("a", a), ("b", b)):
        solo[tag] = {r["doc_id"]: r["_score"] for r in es_scored_search(
            frame, body, id_field="doc_id").collect()}
    assert solo["a"] != solo["b"]
    both = es_scored_search(a, body, id_field="doc_id").select(
        F.lit("a").alias("tag"), "doc_id", "_score").unionByName(
        es_scored_search(b, body, id_field="doc_id").select(
            F.lit("b").alias("tag"), "doc_id", "_score"))
    got = {"a": {}, "b": {}}
    for r in both.collect():
        got[r["tag"]][r["doc_id"]] = r["_score"]
    assert got == solo
    for tag, frame in (("a", a), ("b", b)):
        ms = es_msearch(frame, [body, {**body, "size": 5}],
                        id_field="doc_id", scored=True).collect()
        for i in (0, 1):
            assert {r["doc_id"]: r["_score"] for r in ms
                    if r["request_index"] == i} == solo[tag]


def test_sliced_export_resolves_lookups_and_knn_globally(spark):
    # (code-review r13) plan-build data lookups and the knn top-k must
    # see the PRE-slice frame: a terms-lookup doc living in another
    # slice used to expand to an empty list, silently dropping hits
    docs = spark.createDataFrame(
        [(i, "alpha" if i % 3 == 0 else "beta",
          [float(i % 5), 1.0]) for i in range(10)],
        "doc_id long, tag string, emb array<double>")
    lookup_body = {"query": {"terms": {
        "tag": {"index": "docs", "id": 3, "path": "tag"}}},
        "size": 100, "_source": ["doc_id"]}
    full = sorted(r["doc_id"] for r in es_scored_search(
        docs, lookup_body, id_field="doc_id").collect())
    assert full == [0, 3, 6, 9]
    parts = [sorted(r["doc_id"] for r in es_scored_search(
        docs, {**lookup_body, "slice": {"id": i, "max": 2}},
        id_field="doc_id").collect()) for i in range(2)]
    assert sorted(parts[0] + parts[1]) == full
    assert not (set(parts[0]) & set(parts[1]))
    # knn top-k is slice-invariant: slices union to the GLOBAL top-k
    knn_body = {"knn": {"field": "emb", "query_vector": [4.0, 1.0],
                        "k": 4}, "size": 100, "_source": ["doc_id"]}
    top = sorted(r["doc_id"] for r in es_scored_search(
        docs, knn_body, id_field="doc_id").collect())
    sliced = sorted(sum(([r["doc_id"] for r in es_scored_search(
        docs, {**knn_body, "slice": {"id": i, "max": 3}},
        id_field="doc_id").collect()] for i in range(3)), []))
    assert sliced == top


def test_filter_context_slice_rejects_knn(spark):
    from hive2es_offline_spark.plans.query_dsl import es_search

    docs = spark.createDataFrame(
        [(i, [float(i), 1.0]) for i in range(6)],
        "doc_id long, emb array<double>")
    with pytest.raises(ValueError, match="slice-invariant|top-k"):
        es_search(docs, {"knn": {"field": "emb",
                                 "query_vector": [1.0, 0.0], "k": 2},
                         "slice": {"id": 0, "max": 2}},
                  id_field="doc_id").collect()
    # and the plain filter-context lookup resolves pre-slice too
    tagged = spark.createDataFrame(
        [(i, "alpha" if i % 3 == 0 else "beta") for i in range(10)],
        "doc_id long, tag string")
    body = {"query": {"terms": {
        "tag": {"index": "docs", "id": 3, "path": "tag"}}},
        "size": 100, "_source": ["doc_id"]}
    full = sorted(r["doc_id"] for r in es_search(
        tagged, body, id_field="doc_id").collect())
    assert full == [0, 3, 6, 9]
    parts = [sorted(r["doc_id"] for r in es_search(
        tagged, {**body, "slice": {"id": i, "max": 2}},
        id_field="doc_id").collect()) for i in range(2)]
    assert sorted(parts[0] + parts[1]) == full


class TestPinnedRescorerRetrievers:
    """ES 8.18 pinned + rescorer retriever kinds (round 15): pins ride
    the rule retriever's mechanism, the rescore rides the search
    body's _apply_query_rescore — one construction per behavior."""

    @pytest.fixture()
    def docs(self, spark):
        rows = [(i, f"merge stream doc {i}" if i % 3 == 0
                 else "other text here",
                 [float(i % 7), 1.0]) for i in range(1, 21)]
        return spark.createDataFrame(
            rows, "doc_id long, text string, embedding array<double>")

    def test_pinned_order_and_organic_dedup(self, docs):
        from hive2es_offline_spark.plans.scoring import es_retriever_search

        body = {"retriever": {"pinned": {
            "ids": ["7", "3"],
            "retriever": {"standard": {
                "query": {"match": {"text": "merge stream"}}}},
        }}, "size": 5, "_source": ["doc_id"]}
        rows = sorted(es_retriever_search(docs, body, id_field="doc_id")
                      .collect(), key=lambda r: r["rank"])
        got = [r["doc_id"] for r in rows]
        # pins first IN GIVEN ORDER; 3 matches organically but is
        # deduped out of the organic tail
        assert got[:2] == [7, 3]
        assert 3 not in got[2:]
        assert all(i % 3 == 0 for i in got[2:])  # organic matches only

    def test_pinned_docs_form_and_rejects(self, docs):
        from hive2es_offline_spark.plans.scoring import es_retriever_search

        body = {"retriever": {"pinned": {
            "docs": [{"_id": 5}],
            "retriever": {"standard": {
                "query": {"match": {"text": "merge"}}}},
        }}, "size": 3}
        rows = sorted(es_retriever_search(docs, body, id_field="doc_id")
                      .collect(), key=lambda r: r["rank"])
        assert rows[0]["doc_id"] == 5
        with pytest.raises(ValueError, match="exactly one of"):
            es_retriever_search(docs, {"retriever": {"pinned": {
                "ids": ["1"], "docs": [{"_id": 2}],
                "retriever": {"standard": {"query": {
                    "match": {"text": "merge"}}}}}}, "size": 1},
                id_field="doc_id")
        with pytest.raises(ValueError, match="distinct"):
            es_retriever_search(docs, {"retriever": {"pinned": {
                "ids": ["1", "1"],
                "retriever": {"standard": {"query": {
                    "match": {"text": "merge"}}}}}}, "size": 1},
                id_field="doc_id")

    def test_rescorer_reorders_window(self, docs):
        from hive2es_offline_spark.plans.scoring import es_retriever_search

        base = {"retriever": {"standard": {
            "query": {"match": {"text": "merge stream"}}}}}
        plain = sorted(es_retriever_search(
            docs, {"retriever": dict(base["retriever"]), "size": 5},
            id_field="doc_id").collect(), key=lambda r: r["rank"])
        body = {"retriever": {"rescorer": {
            "rescore": {"window_size": 10, "query": {
                "rescore_query": {"match": {"text": "6"}},
                "rescore_query_weight": 5.0}},
            **base,
        }}, "size": 5}
        rows = sorted(es_retriever_search(docs, body, id_field="doc_id")
                      .collect(), key=lambda r: r["rank"])
        # only doc 6's text contains the token "6": it gets the
        # rescore boost and jumps to rank 1
        assert rows[0]["doc_id"] == 6
        # non-matching window docs keep query_weight * original
        plain_scores = {r["doc_id"]: r["_score"] for r in plain}
        for r in rows[1:]:
            if r["doc_id"] in plain_scores:
                assert r["_score"] == pytest.approx(
                    plain_scores[r["doc_id"]], abs=1e-6)

    def test_rescorer_rejects(self, docs):
        from hive2es_offline_spark.plans.scoring import es_retriever_search

        with pytest.raises(ValueError, match="needs 'rescore'"):
            es_retriever_search(docs, {"retriever": {"rescorer": {
                "retriever": {"standard": {"query": {
                    "match": {"text": "merge"}}}}}}, "size": 1},
                id_field="doc_id")
        with pytest.raises(ValueError, match="score_mode"):
            es_retriever_search(docs, {"retriever": {"rescorer": {
                "retriever": {"standard": {"query": {
                    "match": {"text": "merge"}}}},
                "rescore": {"query": {
                    "rescore_query": {"match": {"text": "x"}},
                    "score_mode": "bogus"}}}}, "size": 1},
                id_field="doc_id").collect()


class TestSparseVector:
    """ES 8.15 sparse_vector query (round 14, VERDICT r13 #4):
    learned-sparse token-weight dot product over a map column."""

    @pytest.fixture(scope="class")
    def docs(self, spark):
        return spark.createDataFrame(
            [
                (1, {"merge": 2.0, "stream": 1.0}),
                (2, {"stream": 3.0, "batch": 1.0}),
                (3, {"batch": 4.0}),
                (4, None),
            ],
            "doc_id long, toks map<string,double>")

    def test_dot_product_scores(self, docs):
        from hive2es_offline_spark.plans.scoring import es_scored_search

        out = es_scored_search(docs, {
            "query": {"sparse_vector": {
                "field": "toks",
                "query_vector": {"merge": 1.5, "stream": 0.5}}},
            "size": 10, "_source": ["doc_id"],
        }, id_field="doc_id")
        rows = [(r["doc_id"], r["_score"]) for r in out.collect()]
        # doc1: 2*1.5 + 1*0.5 = 3.5; doc2: 3*0.5 = 1.5; doc3/4 no hit
        assert rows == [(1, 3.5), (2, 1.5)]

    def test_boost_and_missing_tokens(self, docs):
        from hive2es_offline_spark.plans.scoring import es_scored_search

        out = es_scored_search(docs, {
            "query": {"sparse_vector": {
                "field": "toks", "boost": 2.0,
                "query_vector": {"batch": 1.0, "nope": 9.0}}},
            "size": 10, "_source": ["doc_id"],
        }, id_field="doc_id")
        rows = [(r["doc_id"], r["_score"]) for r in out.collect()]
        assert rows == [(3, 8.0), (2, 2.0)]

    def test_filter_context(self, docs):
        from hive2es_offline_spark.plans.query_dsl import es_search

        out = es_search(docs, {
            "query": {"sparse_vector": {
                "field": "toks", "query_vector": {"stream": 1.0}}},
            "size": 10, "_source": ["doc_id"],
        }, id_field="doc_id")
        assert sorted(r["doc_id"] for r in out.collect()) == [1, 2]

    def test_rejects(self, docs):
        from hive2es_offline_spark.plans.query_dsl import es_search

        with pytest.raises(ValueError, match="inference endpoint"):
            es_search(docs, {"query": {"sparse_vector": {
                "field": "toks", "inference_id": "elser",
                "query": "merge"}}, "size": 1}, id_field="doc_id")
        with pytest.raises(ValueError, match="non-empty query_vector"):
            es_search(docs, {"query": {"sparse_vector": {
                "field": "toks", "query_vector": {}}}, "size": 1},
                id_field="doc_id")

    def test_sparse_tf_vector_encoder(self, spark):
        from hive2es_offline_spark.plans.scoring import sparse_tf_vector

        df = spark.createDataFrame(
            [(1, "the stream merges the stream"), (2, None)],
            "doc_id long, text string")
        out = df.select("doc_id",
                        sparse_tf_vector("text").alias("m")).collect()
        m = out[0]["m"]
        assert m["stream"] == 2.0 and m["merges"] == 1.0
        assert out[1]["m"] is None

    def test_no_exchange_plan(self, docs):
        # the score rides the scan: no shuffle in the scoring stage
        from hive2es_offline_spark.plans.scoring import es_scored_search

        plan = es_scored_search(docs, {
            "query": {"sparse_vector": {
                "field": "toks", "query_vector": {"merge": 1.0}}},
            "size": 5, "_source": ["doc_id"],
        }, id_field="doc_id")._jdf.queryExecution() \
            .executedPlan().toString()
        assert "TakeOrderedAndProject" in plan


class TestSemanticQuery:
    """ES 8.15 semantic query over a semantic_text field (round 15):
    the standard analysis chain stands in for the inference endpoint —
    distinct analyzed query tokens at weight 1.0, rewritten onto
    sparse_vector in both contexts."""

    @pytest.fixture(scope="class")
    def docs(self, spark):
        return spark.createDataFrame(
            [
                (1, {"merge": 2.0, "stream": 1.0}),
                (2, {"stream": 3.0, "batch": 1.0}),
                (3, {"batch": 4.0}),
                (4, None),
            ],
            "doc_id long, emb map<string,double>")

    def test_scores_match_unit_weight_sparse_vector(self, docs):
        from hive2es_offline_spark.plans.scoring import es_scored_search

        sem = es_scored_search(docs, {
            "query": {"semantic": {
                "field": "emb", "query": "Merge the STREAM"}},
            "size": 10, "_source": ["doc_id"],
        }, id_field="doc_id")
        ref = es_scored_search(docs, {
            "query": {"sparse_vector": {
                "field": "emb",
                "query_vector": {"merge": 1.0, "the": 1.0,
                                 "stream": 1.0}}},
            "size": 10, "_source": ["doc_id"],
        }, id_field="doc_id")
        assert [tuple(r) for r in sem.collect()] == \
            [tuple(r) for r in ref.collect()]
        # doc1: 2+1 = 3; doc2: 3
        rows = [(r["doc_id"], r["_score"]) for r in sem.collect()]
        assert rows == [(1, 3.0), (2, 3.0)]

    def test_filter_context_and_boost(self, docs):
        from hive2es_offline_spark.plans.query_dsl import es_search
        from hive2es_offline_spark.plans.scoring import es_scored_search

        out = es_search(docs, {
            "query": {"semantic": {"field": "emb", "query": "batch"}},
            "size": 10, "_source": ["doc_id"],
        }, id_field="doc_id")
        assert sorted(r["doc_id"] for r in out.collect()) == [2, 3]
        boosted = es_scored_search(docs, {
            "query": {"semantic": {"field": "emb", "query": "batch",
                                   "boost": 2.0}},
            "size": 10, "_source": ["doc_id"],
        }, id_field="doc_id")
        assert [(r["doc_id"], r["_score"]) for r in boosted.collect()] \
            == [(3, 8.0), (2, 2.0)]

    def test_rejects(self, docs):
        from hive2es_offline_spark.plans.query_dsl import es_search

        with pytest.raises(ValueError, match="semantic option"):
            es_search(docs, {"query": {"semantic": {
                "field": "emb", "query": "x", "lenient": True}},
                "size": 1}, id_field="doc_id")
        with pytest.raises(ValueError, match="non-empty query"):
            es_search(docs, {"query": {"semantic": {
                "field": "emb", "query": "  "}}, "size": 1},
                id_field="doc_id")


class TestWeightedTokens:
    """weighted_tokens (round 14 second batch): the field-keyed
    precursor of sparse_vector — same dot product, both contexts."""

    def _df(self, spark):
        return spark.createDataFrame(
            [(1, {"merge": 2.0, "stream": 1.0}),
             (2, {"batch": 3.0}),
             (3, {"merge": 0.5})],
            "id long, sv map<string,double>")

    def test_filter_context_matches_shared_tokens(self, spark):
        from hive2es_offline_spark.plans.query_dsl import es_search

        body = {"query": {"weighted_tokens": {
            "sv": {"tokens": {"merge": 1.2, "stream": 0.9}}}},
            "sort": [{"id": "asc"}], "_source": ["id"], "size": 10}
        got = [r["id"] for r in es_search(
            self._df(spark), body, id_field="id").collect()]
        assert got == [1, 3]

    def test_scored_equals_sparse_vector(self, spark):
        from hive2es_offline_spark.plans.scoring import es_scored_search

        qv = {"merge": 1.2, "stream": 0.9}
        common = {"sort": [{"_score": "desc"}, {"id": "asc"}],
                  "_source": ["id"], "size": 10}
        wt = es_scored_search(self._df(spark), {
            "query": {"weighted_tokens": {"sv": {"tokens": qv}}},
            **common}, id_field="id").collect()
        sv = es_scored_search(self._df(spark), {
            "query": {"sparse_vector": {"field": "sv",
                                        "query_vector": qv}},
            **common}, id_field="id").collect()
        assert [(r["id"], r["_score"]) for r in wt] == \
            [(r["id"], r["_score"]) for r in sv]
        assert [r["id"] for r in wt] == [1, 3]

    def test_boost_and_reject(self, spark):
        from hive2es_offline_spark.plans.query_dsl import es_search
        from hive2es_offline_spark.plans.scoring import es_scored_search

        wt = es_scored_search(self._df(spark), {
            "query": {"weighted_tokens": {
                "sv": {"tokens": {"merge": 1.0}, "boost": 2.0}}},
            "sort": [{"id": "asc"}], "_source": ["id", "_score"],
            "size": 10}, id_field="id").collect()
        assert [r["_score"] for r in wt] == [4.0, 1.0]
        with pytest.raises(ValueError, match="pruning_config"):
            es_search(self._df(spark), {
                "query": {"weighted_tokens": {"sv": {
                    "tokens": {"a": 1.0},
                    "pruning_config": {"tokens_freq_ratio_threshold": 5},
                }}}, "size": 1}, id_field="id")


class TestMaxSim:
    """max_sim (round 14 second batch): late-interaction maxSim over a
    rank_vectors-shaped array<array<double>> column."""

    def _df(self, spark):
        return spark.createDataFrame(
            [(1, [[1.0, 0.0], [0.0, 1.0]]),
             (2, [[0.5, 0.5]]),
             (3, []),
             (4, None)],
            "id long, rv array<array<double>>")

    def test_scores_sum_of_best_dots(self, spark):
        body = {"query": {"max_sim": {
            "field": "rv",
            "query_vectors": [[1.0, 0.0], [0.0, 2.0]]}},
            "sort": [{"_score": "desc"}, {"id": "asc"}],
            "_source": ["id"], "size": 10}
        got = [(r["id"], r["_score"]) for r in es_scored_search(
            self._df(spark), body, id_field="id").collect()]
        # doc1: max(1.0, 0.0) + max(0.0, 2.0) = 3.0
        # doc2: 0.5 + 1.0 = 1.5; doc3/4: empty/null field → no hit
        assert got == [(1, 3.0), (2, 1.5)]

    def test_boost_and_rejects(self, spark):
        body = {"query": {"max_sim": {
            "field": "rv", "query_vectors": [[1.0, 0.0]],
            "boost": 3.0}},
            "sort": [{"id": "asc"}], "_source": ["id", "_score"],
            "size": 10}
        got = [r["_score"] for r in es_scored_search(
            self._df(spark), body, id_field="id").collect()]
        assert got == [3.0, 1.5]
        with pytest.raises(ValueError, match="share one dimension"):
            es_scored_search(self._df(spark), {
                "query": {"max_sim": {
                    "field": "rv",
                    "query_vectors": [[1.0], [1.0, 2.0]]}},
                "size": 1}, id_field="id")
        with pytest.raises(ValueError, match="query_vectors"):
            es_scored_search(self._df(spark), {
                "query": {"max_sim": {"field": "rv",
                                      "query_vectors": []}},
                "size": 1}, id_field="id")


class TestLinearRetriever:
    """linear retriever (round 14 second batch): weighted sum of
    per-child normalized scores."""

    def _docs(self, spark):
        return spark.createDataFrame(
            [(1, "dogs dogs dogs", [1.0, 0.0]),
             (2, "dogs cats", [0.9, 0.1]),
             (3, "cats", [0.0, 1.0]),
             (4, "dogs", [0.7, 0.3])],
            "id long, t string, emb array<double>")

    def _body(self, norm1="minmax", norm2="minmax"):
        return {"retriever": {"linear": {"retrievers": [
            {"retriever": {"standard": {
                "query": {"match": {"t": "dogs"}}}},
             "weight": 2.0, "normalizer": norm1},
            {"retriever": {"knn": {"field": "emb",
                                   "query_vector": [1.0, 0.0],
                                   "k": 4}},
             "weight": 1.0, "normalizer": norm2},
        ], "rank_window_size": 10}}, "size": 4, "_source": ["id"]}

    def test_minmax_weighted_fusion(self, spark):
        from hive2es_offline_spark.plans.scoring import (
            es_retriever_search)

        rows = {r["id"]: r for r in es_retriever_search(
            self._docs(spark), self._body(), id_field="id").collect()}
        # best lexical doc gets 2.0, best knn doc gets 1.0 — doc1 is
        # both → 3.0 exactly; doc3 never matches lexical and is the
        # knn minimum → 0.0
        assert rows[1]["linear_score"] == 3.0
        assert rows[1]["rank"] == 1
        assert rows[3]["linear_score"] == 0.0

    def test_absent_child_contributes_zero(self, spark):
        from hive2es_offline_spark.plans.scoring import (
            es_retriever_search)

        # doc3 is outside the lexical window entirely (no 'dogs');
        # its fused score comes from the knn child alone
        rows = {r["id"]: r for r in es_retriever_search(
            self._docs(spark), self._body(norm2="none"),
            id_field="id").collect()}
        assert rows[3]["linear_score"] == 0.0  # cosine([0,1],[1,0])=0

    def test_rejects(self, spark):
        from hive2es_offline_spark.plans.scoring import (
            es_retriever_search)

        bad = self._body()
        bad["retriever"]["linear"]["retrievers"][0]["normalizer"] = "zscore"
        with pytest.raises(ValueError, match="normalizer"):
            es_retriever_search(self._docs(spark), bad, id_field="id")
        one = self._body()
        one["retriever"]["linear"]["retrievers"] = \
            one["retriever"]["linear"]["retrievers"][:1]
        with pytest.raises(ValueError, match="at least two"):
            es_retriever_search(self._docs(spark), one, id_field="id")
        small = self._body()
        small["retriever"]["linear"]["rank_window_size"] = 2
        with pytest.raises(ValueError, match="rank_window_size"):
            es_retriever_search(self._docs(spark), small, id_field="id")


class TestRound14ReviewFixes:
    def test_max_sim_dim_mismatch_rejects(self, spark):
        df = spark.createDataFrame(
            [(1, [[1.0, 0.0, 0.0]])], "id long, rv array<array<double>>")
        body = {"query": {"max_sim": {
            "field": "rv", "query_vectors": [[1.0, 0.0]]}},
            "sort": [{"id": "asc"}], "_source": ["id"], "size": 5}
        with pytest.raises(Exception, match="dimension"):
            es_scored_search(df, body, id_field="id").collect()

    def test_weighted_tokens_missing_tokens_rejects(self, spark):
        from hive2es_offline_spark.plans.query_dsl import es_search

        df = spark.createDataFrame(
            [(1, {"a": 1.0})], "id long, sv map<string,double>")
        with pytest.raises(ValueError, match="tokens map"):
            es_search(df, {"query": {"weighted_tokens": {
                "sv": {"boost": 2.0}}}, "size": 1}, id_field="id")


class TestRuleRetriever:
    """ES 8.16 ``rule`` retriever: query rules applied on top of a
    child retriever — the SAME driver-side matcher and pinned score
    rule (1e10 - position) as the ``rule`` query rewrite
    (plans/rules.matched_rule_ids), so the two surfaces cannot
    drift."""

    @pytest.fixture()
    def docs(self, spark):
        rows = [(i, f"merge stream doc {i}" if i % 3 == 0
                 else "other text here") for i in range(1, 21)]
        return spark.createDataFrame(rows, "doc_id long, text string")

    @pytest.fixture()
    def ruleset(self):
        from hive2es_offline_spark.plans.rules import (
            delete_query_ruleset,
            put_query_ruleset,
        )

        put_query_ruleset("promo", [
            {"rule_id": "pin-hot", "type": "pinned",
             "criteria": [{"type": "exact", "metadata": "topic",
                           "values": ["streams"]}],
             "actions": {"ids": ["7", "2"]}},
            {"rule_id": "drop-spam", "type": "exclude",
             "criteria": [{"type": "exact", "metadata": "topic",
                           "values": ["streams"]}],
             "actions": {"ids": ["3"]}},
        ])
        yield "promo"
        delete_query_ruleset("promo")

    def _body(self, crit, size=5):
        return {"retriever": {"rule": {
            "retriever": {"standard": {
                "query": {"match": {"text": "merge stream"}}}},
            "ruleset_ids": ["promo"],
            "match_criteria": crit,
            "rank_window_size": 10,
        }}, "size": size}

    def test_pin_exclude_and_injection(self, docs, ruleset):
        from hive2es_offline_spark.plans.scoring import es_retriever_search

        out = es_retriever_search(
            docs, self._body({"topic": "streams"}), id_field="doc_id")
        rows = out.orderBy("rank").collect()
        got = [r["doc_id"] for r in rows]
        # pinned 7 (NOT an organic hit — injected from the corpus) and
        # 2 (also not organic) lead in rule order; excluded 3 is gone;
        # organic hits (multiples of 3) follow by BM25
        assert got[:2] == [7, 2]
        assert 3 not in got
        assert rows[0]["_score"] == 1e10 and rows[1]["_score"] == 1e10 - 1
        assert all(g % 3 == 0 for g in got[2:])

    def test_unmatched_criteria_is_child_passthrough(self, docs, ruleset):
        from hive2es_offline_spark.plans.scoring import es_retriever_search

        out = es_retriever_search(
            docs, self._body({"topic": "other"}), id_field="doc_id")
        got = [r["doc_id"] for r in out.orderBy("rank").collect()]
        assert 7 not in got and 2 not in got and 3 in got
        assert all(g % 3 == 0 for g in got)

    def test_rule_parity_with_rule_query(self, docs, ruleset):
        # the retriever and the query rewrite must rank identically
        from hive2es_offline_spark.plans.query_dsl import es_search
        from hive2es_offline_spark.plans.scoring import (
            es_retriever_search,
            es_scored_search,
        )

        ret = [r["doc_id"] for r in es_retriever_search(
            docs, self._body({"topic": "streams"}), id_field="doc_id")
            .orderBy("rank").collect()]
        q = {"query": {"rule": {
            "organic": {"match": {"text": "merge stream"}},
            "ruleset_ids": ["promo"],
            "match_criteria": {"topic": "streams"}}},
            "size": 5}
        qr = [r["doc_id"] for r in es_scored_search(
            docs, q, "doc_id").orderBy(
                F.col("_score").desc(), F.col("doc_id").asc()).collect()]
        assert ret == qr

    def test_rejects(self, docs, ruleset):
        from hive2es_offline_spark.plans.scoring import es_retriever_search

        with pytest.raises(ValueError, match="rule retriever needs"):
            es_retriever_search(docs, {"retriever": {"rule": {
                "retriever": {"standard": {"query": {"match":
                                                     {"text": "x"}}}},
                "ruleset_ids": ["promo"]}}}, id_field="doc_id")
        with pytest.raises(ValueError, match="unsupported rule retriever"):
            es_retriever_search(docs, {"retriever": {"rule": {
                "retriever": {"standard": {"query": {"match":
                                                     {"text": "x"}}}},
                "ruleset_ids": ["promo"], "match_criteria": {"a": "b"},
                "boost": 2}}}, id_field="doc_id")
        with pytest.raises(ValueError, match="unknown query ruleset"):
            es_retriever_search(
                docs, {"retriever": {"rule": {
                    "retriever": {"standard": {"query": {"match":
                                                         {"text": "x"}}}},
                    "ruleset_ids": ["nope"],
                    "match_criteria": {"a": "b"}}}}, id_field="doc_id")
        with pytest.raises(ValueError, match="must be >= the consuming"):
            body = self._body({"topic": "streams"}, size=20)
            body["retriever"]["rule"]["rank_window_size"] = 5
            es_retriever_search(docs, body, id_field="doc_id")
