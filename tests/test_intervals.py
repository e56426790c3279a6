"""ES ``intervals`` query: match/prefix/all_of/any_of over the span
position engine, property-checked against the phrase predicate."""

import random

import pytest
from pyspark.sql import functions as F

from hive2es_offline_spark.plans.query_dsl import (
    _intervals_predicate, _phrase_predicate, compile_query,
)


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(
        [
            (1, "alpha beta gamma delta"),
            (2, "beta alpha"),
            (3, "alpha x y beta"),
            (4, "gamma delta alpha"),
            (5, "alpha"),
            (6, "beta sigma alphabet"),
        ],
        "id long, txt string",
    )


def ids(df, clause):
    return sorted(r["id"] for r in df.where(
        F.coalesce(compile_query(clause, "id"), F.lit(False))).collect())


def test_intervals_match_ordered_and_gaps(docs):
    q = {"intervals": {"txt": {"match": {
        "query": "alpha beta", "ordered": True, "max_gaps": 0}}}}
    assert ids(docs, q) == [1]  # adjacency, in order
    q["intervals"]["txt"]["match"]["max_gaps"] = 2
    assert ids(docs, q) == [1, 3]  # two interior gaps allowed
    q["intervals"]["txt"]["match"]["max_gaps"] = -1
    assert ids(docs, q) == [1, 3]  # unbounded, still ordered


def test_intervals_match_unordered(docs):
    q = {"intervals": {"txt": {"match": {"query": "alpha beta"}}}}
    # default unordered + unbounded: both terms anywhere
    assert ids(docs, q) == [1, 2, 3]
    q = {"intervals": {"txt": {"match": {
        "query": "alpha beta", "max_gaps": 0}}}}
    assert ids(docs, q) == [1, 2]  # adjacency in either order


def test_intervals_prefix_and_any_of(docs):
    assert ids(docs, {"intervals": {"txt": {"prefix": {"prefix": "alphab"}}}}) == [6]
    q = {"intervals": {"txt": {"any_of": {"intervals": [
        {"prefix": {"prefix": "sig"}},
        {"match": {"query": "delta"}},
    ]}}}}
    assert ids(docs, q) == [1, 4, 6]


def test_intervals_all_of(docs):
    q = {"intervals": {"txt": {"all_of": {
        "ordered": True, "max_gaps": 1,
        "intervals": [
            {"match": {"query": "alpha"}},
            {"prefix": {"prefix": "bet"}},
        ]}}}}
    # alpha then a bet*-token with at most one interior gap
    assert ids(docs, q) == [1]
    q["intervals"]["txt"]["all_of"]["max_gaps"] = 2
    assert ids(docs, q) == [1, 3]
    # unordered pair: doc 2 (beta alpha) joins at adjacency
    q2 = {"intervals": {"txt": {"all_of": {
        "max_gaps": 0,
        "intervals": [
            {"match": {"query": "alpha"}},
            {"match": {"query": "beta"}},
        ]}}}}
    assert ids(docs, q2) == [1, 2]


def test_intervals_zero_term_match_source_has_no_intervals(docs):
    # "les" is a french stopword: as in ES, that match source yields no
    # intervals — all_of then matches nothing, any_of ignores it
    from hive2es_offline_spark.plans.analysis import using

    les = {"match": {"query": "les"}}
    bet = {"prefix": {"prefix": "bet"}}

    def all_of(*sources):
        return {"intervals": {"txt": {"all_of": {
            "ordered": True, "intervals": list(sources)}}}}

    def any_of(*sources):
        return {"any_of": {"intervals": list(sources)}}

    with using("french"):
        assert ids(docs, all_of({"match": {"query": "alpha"}}, bet)) == [1, 3]
        assert ids(docs, all_of(les, bet)) == []
        assert ids(docs, all_of(
            any_of(les, {"match": {"query": "alpha"}}), bet)) == [1, 3]
        assert ids(docs, all_of(any_of(les, les), bet)) == []
        assert ids(docs, {"intervals": {"txt": any_of(
            les, {"prefix": {"prefix": "sig"}})}}) == [6]
        # a source of two or more terms is still refused
        with pytest.raises(ValueError, match="single-term"):
            ids(docs, all_of({"match": {"query": "alpha gamma"}}, bet))


def test_intervals_loud_rejections(docs):
    with pytest.raises(ValueError, match="intervals rule"):
        ids(docs, {"intervals": {"txt": {"fuzzy": {"term": "alpha"}}}})
    with pytest.raises(ValueError, match="single-term"):
        ids(docs, {"intervals": {"txt": {"all_of": {"intervals": [
            {"match": {"query": "alpha beta"}},
            {"match": {"query": "gamma"}},
        ]}}}})
    with pytest.raises(ValueError, match="unordered intervals match"):
        ids(docs, {"intervals": {"txt": {"match": {
            "query": "alpha beta gamma", "max_gaps": 1}}}})


def test_intervals_ordered_adjacent_equals_phrase_engine(spark):
    """Property: ordered intervals with max_gaps=0 == the phrase
    positions engine at slop 0, over randomized token streams."""
    rng = random.Random(20260815)
    vocab = ["a", "b", "c", "d"]
    rows = [(i, " ".join(rng.choice(vocab)
                         for _ in range(rng.randint(0, 12))))
            for i in range(300)]
    df = spark.createDataFrame(rows, "id long, txt string")
    toks = F.split(F.col("txt"), " ")
    for terms in (["a", "b"], ["b", "a", "c"], ["a", "a"]):
        iv = _intervals_predicate(
            toks, {"match": {"query": " ".join(terms),
                             "ordered": True, "max_gaps": 0}})
        ph = _phrase_predicate(toks, terms, slop=0)
        diff = df.where(F.coalesce(iv, F.lit(False))
                        != F.coalesce(ph, F.lit(False))).count()
        assert diff == 0, f"intervals vs phrase disagree for {terms}"
