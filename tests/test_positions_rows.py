"""Fixed rows for the token-positions clauses: phrases, spans and
intervals over one small seeded corpus, under the standard, english,
french and german analyzers and inside a ``nested`` scope.  The
expected ids are the engine's answers pinned once; any change to the
positions renderers must reproduce them exactly."""

import random

import pytest
from pyspark.sql import functions as F

from hive2es_offline_spark.plans.analysis import using
from hive2es_offline_spark.plans.query_dsl import compile_query

VOCAB = ("quick brown fox foxes dog dogs dog's the lazy over jumped jumps "
         "running runs l'école les élèves été café über straße fox, quick.").split()

#: hand-written rows for the shapes random text rarely forms
FIXED = (
    "The quick brown fox jumped over the lazy dogs.",
    "quick, the brown old fox",
    "a lazy dog and a fox",
    "jumped near the lazy dogs and over",
    "Les élèves de l'école, l'école des élèves.",
    "Über die Straße",
    "the lazy, the fox; the lazy dog's running",
    "quick quick fox fox",
)


@pytest.fixture(scope="module")
def corpus(spark):
    rng = random.Random(5)
    rows = []
    for i in range(160):
        words = [rng.choice(VOCAB) for _ in range(rng.randint(2, 10))]
        half = len(words) // 2
        rows.append((i, " ".join(words),
                     [(" ".join(words[:half]),), (" ".join(words[half:]),)]))
    for i, text in enumerate(FIXED, start=len(rows)):
        words = text.split()
        half = len(words) // 2
        rows.append((i, text, [(" ".join(words[:half]),),
                               (" ".join(words[half:]),)]))
    rows += [(len(rows), None, None), (len(rows) + 1, "", [])]
    return spark.createDataFrame(
        rows, "id long, txt string, hits array<struct<t:string>>").cache()


def _span(term):
    return {"span_term": {"txt": term}}


def _multi(kind, value):
    return {"span_multi": {"match": {kind: {"txt": value}}}}


# name -> (analyzer, clause)
CASES = {
    "phrase_sloppy": ("standard", {"match_phrase": {"txt": {
        "query": "quick fox", "slop": 2}}}),
    "phrase_transposed": ("standard", {"match_phrase": {"txt": {
        "query": "fox quick", "slop": 2}}}),
    "phrase_three_terms": ("standard", {"match_phrase": {"txt": {
        "query": "quick brown fox", "slop": 1}}}),
    "phrase_prefix_sloppy": ("standard", {"match_phrase_prefix": {"txt": {
        "query": "lazy do", "slop": 1}}}),
    "phrase_english": ("english", {"match_phrase": {"txt": {
        "query": "the running dogs"}}}),
    "phrase_english_sloppy": ("english", {"match_phrase": {"txt": {
        "query": "jumped over foxes", "slop": 2}}}),
    "phrase_french": ("french", {"match_phrase": {"txt": {
        "query": "l'école des élèves", "slop": 1}}}),
    "phrase_german_folded": ("german", {"match_phrase_prefix": {"txt": {
        "query": "uber stras"}}}),
    "span_near_ordered": ("standard", {"span_near": {"clauses": [
        _span("quick"), {"span_or": {"clauses": [_span("fox"), _span("dog")]}},
    ], "slop": 1, "in_order": True}}),
    "span_near_unordered": ("standard", {"span_near": {"clauses": [
        _multi("prefix", "bro"), _span("lazy"), _multi("wildcard", "f?x"),
    ], "slop": 3, "in_order": False}}),
    "span_near_regexp": ("standard", {"span_near": {"clauses": [
        _multi("regexp", "dog.*"), _span("over"),
    ], "slop": 0}}),
    "span_within": ("standard", {"span_within": {
        "little": _span("brown"),
        "big": {"span_near": {"clauses": [_span("quick"), _span("fox")],
                              "slop": 3, "in_order": True}}}}),
    "span_containing_near_little": ("standard", {"span_containing": {
        "little": {"span_near": {"clauses": [_span("the"), _span("lazy")],
                                 "slop": 1}},
        "big": {"span_near": {"clauses": [
            _multi("prefix", "jump"), _span("dogs"), _span("over")],
            "slop": 6}}}}),
    "span_first": ("standard", {"span_first": {
        "match": {"span_or": {"clauses": [_span("fox"), _span("foxes")]}},
        "end": 2}}),
    "span_not": ("standard", {"span_not": {
        "include": _multi("prefix", "dog"), "exclude": _span("dog")}}),
    "intervals_ordered": ("standard", {"intervals": {"txt": {"match": {
        "query": "lazy dog fox", "ordered": True, "max_gaps": 3}}}}),
    "intervals_unordered_bounded": ("standard", {"intervals": {"txt": {
        "match": {"query": "fox lazy", "max_gaps": 1}}}}),
    "intervals_duplicate_terms": ("standard", {"intervals": {"txt": {
        "match": {"query": "fox dog fox"}}}}),
    "intervals_all_of_prefix": ("standard", {"intervals": {"txt": {"all_of": {
        "ordered": True, "max_gaps": 1, "intervals": [
            {"match": {"query": "quick"}},
            {"any_of": {"intervals": [{"prefix": {"prefix": "fox"}},
                                      {"match": {"query": "lazy"}}]}},
        ]}}}}),
    "intervals_all_of_unordered": ("standard", {"intervals": {"txt": {
        "all_of": {"max_gaps": 0, "intervals": [
            {"prefix": {"prefix": "jump"}}, {"match": {"query": "dogs"}}]}}}}),
    "intervals_any_of_prefix": ("standard", {"intervals": {"txt": {"any_of": {
        "intervals": [{"prefix": {"prefix": "caf"}},
                      {"match": {"query": "straße über", "ordered": True}}]}}}}),
    "nested_phrase": ("english", {"nested": {"path": "hits", "query": {
        "match_phrase": {"hits.t": {"query": "quick foxes", "slop": 1}}}}}),
    "nested_span_near": ("standard", {"nested": {"path": "hits", "query": {
        "span_near": {"clauses": [{"span_term": {"hits.t": "the"}},
                                  {"span_term": {"hits.t": "lazy"}}],
                      "slop": 1, "in_order": False}}}}),
}

#: the matching ids of each case
EXPECTED = {
    "intervals_all_of_prefix": [8, 17, 29, 30, 35, 50, 56, 69, 86, 95, 132,
            135, 136, 137, 141, 153, 158, 160, 167],
    "intervals_all_of_unordered": [27, 33, 38, 147, 155],
    "intervals_any_of_prefix": [2, 8, 12, 15, 22, 29, 31, 39, 42, 43, 44, 46,
            53, 56, 61, 68, 74, 79, 89, 92, 103, 107, 111, 118, 124, 134, 135,
            137, 145, 148, 152, 155, 156],
    "intervals_duplicate_terms": [76, 87, 135],
    "intervals_ordered": [162],
    "intervals_unordered_bounded": [7, 30, 32, 68, 71, 105, 114, 166],
    "nested_phrase": [17, 30, 35, 86, 95, 135, 136, 141, 160],
    "nested_span_near": [52, 71, 160, 166],
    "phrase_english": [3, 20, 26, 35, 78, 100, 117, 141, 149],
    "phrase_english_sloppy": [87, 91],
    "phrase_french": [32, 164],
    "phrase_german_folded": [0, 1, 5, 18, 20, 22, 27, 30, 33, 36, 37, 43, 46,
            53, 60, 65, 70, 73, 78, 83, 92, 99, 100, 103, 111, 120, 141, 144,
            145, 150, 152, 156, 165],
    "phrase_prefix_sloppy": [36, 52, 84, 125, 160, 162, 163, 166],
    "phrase_sloppy": [8, 17, 29, 30, 35, 45, 50, 62, 69, 86, 95, 132, 135, 136,
            141, 153, 160, 167],
    "phrase_three_terms": [160],
    "phrase_transposed": [8, 18, 29, 30, 35, 37, 45, 57, 62, 82, 86, 95, 106,
            115, 124, 135, 136, 141, 167],
    "span_containing_near_little": [163],
    "span_first": [9, 30, 32, 35, 36, 41, 45, 46, 56, 57, 62, 64, 67, 68, 74,
            80, 82, 83, 87, 91, 95, 96, 101, 110, 113, 119, 121, 123, 124, 128,
            131, 135, 138, 140, 143, 144, 147, 148, 152, 154, 155, 157],
    "span_near_ordered": [8, 17, 29, 30, 35, 50, 53, 65, 66, 69, 70, 86, 95,
            111, 120, 132, 135, 136, 141, 153, 160, 167],
    "span_near_regexp": [4, 52, 53, 58, 84, 105, 125, 143],
    "span_near_unordered": [56, 68, 160],
    "span_not": [1, 2, 3, 4, 5, 10, 14, 16, 18, 19, 23, 25, 27, 33, 34, 35, 36,
            37, 38, 39, 44, 48, 57, 58, 60, 66, 67, 77, 79, 81, 83, 84, 87, 88,
            91, 92, 99, 100, 101, 109, 118, 122, 124, 125, 130, 139, 141, 143,
            144, 145, 147, 149, 152, 153, 155, 156, 160, 163, 166],
    "span_within": [93, 160, 161],
}


@pytest.mark.parametrize("name", sorted(CASES))
def test_positions_rows(corpus, name):
    analyzer, clause = CASES[name]
    with using(analyzer):
        pred = F.coalesce(compile_query(clause, "id"), F.lit(False))
    got = sorted(r["id"] for r in corpus.where(pred).select("id").collect())
    assert got == EXPECTED[name]


@pytest.mark.parametrize("clause", [
    {"match_phrase": {"txt": {"query": "quick fox", "slop": -1}}},
    {"match_phrase_prefix": {"txt": {"query": "quick brown fo", "slop": -2}}},
    {"span_near": {"clauses": [_span("quick"), _span("fox")], "slop": -1}},
])
def test_negative_slop_rejects(clause):
    # the ordered chain reads a negative gap bound as unbounded, so a
    # negative slop must never reach it (Lucene rejects it too)
    with pytest.raises(ValueError, match="slop must be >= 0"):
        compile_query(clause, "id")
