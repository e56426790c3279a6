"""search_as_you_type emulation (round 13, VERDICT r12 #6): shingle
subfields (root._2gram / root._3gram) derived from the root's analyzed
stream + bool_prefix composition, in filter AND score context."""

import pytest
from pyspark.sql import functions as F

from hive2es_offline_spark.plans.query_dsl import compile_query, es_search
from hive2es_offline_spark.plans.scoring import es_scored_search


@pytest.fixture()
def docs(spark):
    return spark.createDataFrame(
        [
            (1, "the quick brown fox jumps"),
            (2, "quick red fox, brown tail"),      # quick+brown NOT adjacent
            (3, "a slow brown dog"),
            (4, "quick quick brown brown"),
            (5, None),
        ],
        "id long, t string",
    )


def hits(df, body):
    return sorted(r["id"] for r in df.where(
        F.coalesce(compile_query(body, "id"), F.lit(False))).collect())


def test_2gram_prefix_matches_mid_phrase(docs):
    # the acceptance example: a prefix typed MID-PHRASE hits via the
    # 2-gram shingle ("quick bro" ⊑ "quick brown"), adjacency required
    body = {"match_bool_prefix": {"t._2gram": "quick bro"}}
    assert hits(docs, body) == [1, 4]
    # non-adjacent quick..brown (doc 2) must NOT match
    body = {"match_bool_prefix": {"t._2gram": "quick brown"}}
    assert hits(docs, body) == [1, 4]
    # 3-gram: "quick brown fox" adjacency
    body = {"match_bool_prefix": {"t._3gram": "quick brown fo"}}
    assert hits(docs, body) == [1]
    # multi-shingle query: full 2-gram + trailing prefix 2-gram
    body = {"match_bool_prefix": {
        "t._2gram": {"query": "quick brown fox ju", "operator": "and"}}}
    assert hits(docs, body) == [1]


def test_root_field_unchanged_and_multi_match_composition(docs):
    # plain match on the root stays plain (the acceptance's second half)
    assert hits(docs, {"match": {"t": "quick"}}) == [1, 2, 4]
    # the canonical sayt query: multi_match bool_prefix over root + grams
    body = {"multi_match": {
        "query": "quick bro", "type": "bool_prefix",
        "fields": ["t", "t._2gram", "t._3gram"]}}
    # OR across fields: root's bool_prefix (quick OR bro*) matches 1,2,4
    # and 3 via "brown"; the gram fields add nothing new to the hit SET
    assert hits(docs, body) == [1, 2, 3, 4]


def test_scored_sayt_ranks_adjacency_first(docs):
    # scoring: the _2gram/_3gram shingle hits lift adjacent phrases above
    # docs that merely contain the words — the point of the field type
    body = {"query": {"multi_match": {
        "query": "quick brown fox", "type": "bool_prefix",
        "fields": ["t", "t._2gram", "t._3gram"]}},
        "size": 10, "_source": ["id"]}
    out = es_scored_search(docs, body, id_field="id").collect()
    ranked = [r["id"] for r in out]
    assert ranked[0] == 1                      # full adjacent phrase
    s = {r["id"]: r["_score"] for r in out}
    assert s[1] > s[2] and s[1] > s[3]         # adjacency beats bag-of-words
    assert 5 not in s


def test_scored_subfield_bm25_uses_shingle_stats(spark):
    # the shingle "terms" score real BM25: a doc repeating the full
    # 2-gram gets a higher tf partial than a single occurrence
    df = spark.createDataFrame(
        [(1, "quick brown then quick brown again"),
         (2, "quick brown only once here"),
         (3, "nothing relevant")],
        "id long, t string")
    body = {"query": {"match_bool_prefix": {
        "t._2gram": "quick brown fo"}}, "size": 10}
    out = {r["id"]: r["_score"] for r in
           es_scored_search(df, body, id_field="id").collect()}
    assert set(out) == {1, 2}
    assert out[1] > out[2]


def test_index_prefix_subfield_rejected(docs):
    with pytest.raises(ValueError, match="_index_prefix"):
        hits(docs, {"match_bool_prefix": {"t._index_prefix": "qui"}})
    with pytest.raises(ValueError, match="_index_prefix"):
        es_scored_search(docs, {"query": {"multi_match": {
            "query": "qui", "type": "bool_prefix",
            "fields": ["t", "t._index_prefix"]}}}, id_field="id").collect()


def test_shingles_ride_language_chains(spark):
    # shingles form over the POST-CHAIN stream: under english, stopwords
    # vanish before pairing, so "running the streams" shingles as
    # "run stream" and the stemmed prefix query hits it; doc 2 keeps a
    # real token between run and stream, so no 2-gram forms
    df = spark.createDataFrame(
        [(1, "running the streams quickly"), (2, "runs fast; stream here")],
        "id long, t string")
    body = {"query": {"match_bool_prefix": {"t._2gram": "running strea"}},
            "_source": ["id"], "size": 10}
    got = sorted(r["id"] for r in es_search(
        df, body, id_field="id", analyzer="english").collect())
    assert got == [1]


def scores(df, query, **extra):
    body = {"query": query, "size": 10, "_source": ["id"], **extra}
    return {r["id"]: r["_score"]
            for r in es_scored_search(df, body, id_field="id").collect()}


def test_match_on_subfield_reads_shingles(docs):
    # match on a shingle subfield matches adjacent query terms only, in
    # filter and score context alike
    assert hits(docs, {"match": {"t._2gram": "quick brown"}}) == [1, 4]
    assert hits(docs, {"match": {"t._3gram": "quick brown fox"}}) == [1]
    # a query shorter than the shingle has no terms: zero_terms_query
    assert hits(docs, {"match": {"t._2gram": "quick"}}) == []
    s = scores(docs, {"match": {"t._2gram": "quick brown"}})
    assert set(s) == {1, 4} and all(v > 0 for v in s.values())
    # doc 4 holds the shingle once among 3, doc 1 once among 4
    assert s[4] > s[1]


def test_best_fields_over_root_and_subfield(docs):
    body = {"multi_match": {"query": "quick brown",
                            "fields": ["t", "t._2gram"]}}
    assert hits(docs, body) == [1, 2, 3, 4]
    s = scores(docs, body)
    # the subfield arm lifts adjacent quick brown above the bag of words
    assert s[1] > s[2]
    gram = scores(docs, {"match": {"t._2gram": "quick brown"}})
    root = scores(docs, {"match": {"t": "quick brown"}})
    for i, v in s.items():
        assert v == pytest.approx(max(root[i], gram.get(i, 0.0)))


def test_cross_fields_groups_subfield_apart(docs):
    # ES groups cross_fields fields by analyzer: the root group counts
    # the terms, the 2-gram group its shingles; the groups dismax
    body = {"multi_match": {"query": "quick brown", "type": "cross_fields",
                            "fields": ["t", "t._2gram"], "operator": "and",
                            "tie_breaker": 0.3}}
    assert hits(docs, body) == [1, 2, 4]
    s = scores(docs, body)
    root = scores(docs, {"multi_match": {
        "query": "quick brown", "type": "cross_fields", "fields": ["t"],
        "operator": "and"}})
    gram = scores(docs, {"match": {"t._2gram": "quick brown"}})
    assert set(s) == {1, 2, 4}
    for i, v in s.items():
        a, b = root[i], gram.get(i, 0.0)
        assert v == pytest.approx(max(a, b) + 0.3 * min(a, b))


@pytest.mark.parametrize("clause", [
    {"match_phrase": {"t._2gram": "quick brown"}},
    {"term": {"t._2gram": "quick brown"}},
    {"prefix": {"t._3gram": "quick"}},
    {"exists": {"field": "t._2gram"}},
    {"combined_fields": {"query": "quick", "fields": ["t", "t._2gram"]}},
])
def test_other_clauses_on_subfield_raise(docs, clause):
    with pytest.raises(ValueError, match=r"t\._[23]gram"):
        hits(docs, clause)
    with pytest.raises(ValueError, match=r"t\._[23]gram"):
        scores(docs, clause)


@pytest.mark.parametrize("scored", [False, True])
def test_highlight_on_subfield_wraps_root_text(spark, scored):
    # the subfield has no text of its own: its highlight wraps the
    # root's text with the query's terms, and the column survives the
    # _source projection under its literal dotted name
    df = spark.createDataFrame(
        [(1, "the quick brown fox"), (2, "quick red fox"), (3, "a brown dog")],
        "id long, text string")
    body = {"query": {"match": {"text._2gram": "quick brown"}},
            "highlight": {"fields": {"text._2gram": {}}},
            "_source": ["id"]}
    search = es_scored_search if scored else es_search
    rows = search(df, body, id_field="id").collect()
    assert [(r["id"], r["text._2gram_highlight"]) for r in rows] == [
        (1, "the <em>quick</em> <em>brown</em> fox")]
