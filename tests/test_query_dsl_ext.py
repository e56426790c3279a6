"""Round-6 query-DSL extensions: regexp / fuzzy / multi_match clauses and
range / filters / missing conditional-bucket aggregations."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from hive2es_offline_spark.plans.query_dsl import compile_aggs, compile_query


@pytest.fixture(scope="module")
def df(spark):
    return spark.createDataFrame(
        [
            (1, "alpha beta gamma", "BUILDING", 50.0),
            (2, "beta delta", "BUILDINS", 150.0),
            (3, "epsilon", "MACHINERY", 250.0),
            (4, None, "HOUSEHOLD", None),
        ],
        "id long, txt string, seg string, price double",
    )


def ids(df, clause):
    return sorted(r["id"] for r in df.where(compile_query(clause, "id")).collect())


def test_regexp_is_whole_value_anchored(df):
    assert ids(df, {"regexp": {"seg": {"value": "BUILD.*"}}}) == [1, 2]
    # substring match alone must NOT hit (anchoring)
    assert ids(df, {"regexp": {"seg": {"value": "UILD"}}}) == []
    assert ids(df, {"regexp": {"seg": "B.*G"}}) == [1]


def test_fuzzy_explicit_and_auto(df):
    assert ids(df, {"fuzzy": {"seg": {"value": "BUILDING", "fuzziness": 0}}}) == [1]
    # BUILDINS is one substitution away
    assert ids(df, {"fuzzy": {"seg": {"value": "BUILDING", "fuzziness": 1}}}) == [1, 2]
    # AUTO: len("MACHINERZZ") >= 6 -> fuzziness 2
    assert ids(df, {"fuzzy": {"seg": "MACHINERZZ"}}) == [3]
    # AUTO: len < 3 -> exact only
    assert ids(df, {"fuzzy": {"seg": "BU"}}) == []


def test_fuzzy_transposition_is_one_edit(df):
    """The r6 documented divergence, closed: ES counts an adjacent
    transposition as ONE edit where plain levenshtein needs two."""
    # BUILDIGN: one transposition of BUILDING (levenshtein would be 2)
    assert ids(df, {"fuzzy": {"seg": {"value": "BUILDIGN", "fuzziness": 1}}}) == [1]
    # fuzziness 2 (UDF path): one transposition + one substitution
    assert ids(df, {"fuzzy": {"seg": {"value": "BUILDIGNS", "fuzziness": 2}}}) == [1, 2]


def test_fuzzy_auto_custom_ladder(df):
    # AUTO:1,20 -> len("BU")=2 >= 1 and < 20 -> budget 1: BU ~ B? no seg
    # within 1 edit; but AUTO:1,2 -> budget 2 reaches nothing either; use a
    # close term: "BUILDINX" with AUTO:9,20 -> len 8 < 9 -> budget 0 (miss)
    assert ids(df, {"fuzzy": {"seg": {"value": "BUILDINX", "fuzziness": "AUTO:9,20"}}}) == []
    # same term with AUTO:3,20 -> budget 1 -> hits BUILDING (1 sub)
    assert ids(df, {"fuzzy": {"seg": {"value": "BUILDINX", "fuzziness": "AUTO:3,20"}}}) == [1, 2]


def test_fuzzy_rejects_bad_fuzziness(df):
    with pytest.raises(ValueError, match="malformed"):
        ids(df, {"fuzzy": {"seg": {"value": "X", "fuzziness": "AUTO:high,low"}}})
    with pytest.raises(ValueError, match="malformed"):
        ids(df, {"fuzzy": {"seg": {"value": "X", "fuzziness": "AUTO:3"}}})
    with pytest.raises(ValueError, match="caps"):
        ids(df, {"fuzzy": {"seg": {"value": "X", "fuzziness": 3}}})


def _reference_osa(a: str, b: str) -> int:
    """Independent full-matrix restricted-Damerau implementation (the
    Wikipedia OSA pseudocode, no cap, no rolling rows) — the test oracle
    for ``osa_distance``."""
    la, lb = len(a), len(b)
    d = [[0] * (lb + 1) for _ in range(la + 1)]
    for i in range(la + 1):
        d[i][0] = i
    for j in range(lb + 1):
        d[0][j] = j
    for i in range(1, la + 1):
        for j in range(1, lb + 1):
            cost = 0 if a[i - 1] == b[j - 1] else 1
            d[i][j] = min(d[i - 1][j] + 1, d[i][j - 1] + 1, d[i - 1][j - 1] + cost)
            if i > 1 and j > 1 and a[i - 1] == b[j - 2] and a[i - 2] == b[j - 1]:
                d[i][j] = min(d[i][j], d[i - 2][j - 2] + 1)
    return d[la][lb]


def test_osa_distance_matches_reference_damerau():
    """Property: the capped rolling-row OSA used by the fuzziness-2 UDF
    agrees with an independent reference Damerau implementation on random
    short strings (and the f<=1 codegen decomposition agrees with both)."""
    import random

    from hive2es_offline_spark.plans.query_dsl import (
        _transposition_variants,
        osa_distance,
    )

    rng = random.Random(7)
    alphabet = "abcd"  # small alphabet: transpositions/repeats are common
    for _ in range(3000):
        a = "".join(rng.choice(alphabet) for _ in range(rng.randint(0, 7)))
        b = "".join(rng.choice(alphabet) for _ in range(rng.randint(0, 7)))
        ref = _reference_osa(a, b)
        assert osa_distance(a, b, 2) == min(ref, 3), (a, b)
        # the pure-codegen f=1 decomposition: dam<=1 == lev<=1 or one swap
        lev1 = _reference_osa_lev(a, b) <= 1
        assert (ref <= 1) == (lev1 or a in _transposition_variants(b)), (a, b)


def _reference_osa_lev(a: str, b: str) -> int:
    la, lb = len(a), len(b)
    d = list(range(lb + 1))
    for i in range(1, la + 1):
        prev, d[0] = d[0], i
        for j in range(1, lb + 1):
            cur = min(d[j] + 1, d[j - 1] + 1, prev + (a[i - 1] != b[j - 1]))
            prev, d[j] = d[j], cur
    return d[lb]


def test_fuzzy_guard_pushed_below_python_eval(df):
    """The fuzziness-2 length guard must evaluate BELOW the Arrow eval so
    out-of-window rows never cross into Python."""
    pred = compile_query({"fuzzy": {"seg": {"value": "MACHINERY", "fuzziness": 2}}}, "id")
    plan = df.where(pred)._jdf.queryExecution().executedPlan().toString()
    eval_pos = plan.find("ArrowEvalPython")
    assert eval_pos != -1
    guard_pos = plan.find("length(seg")
    assert guard_pos != -1 and guard_pos > eval_pos  # deeper in the tree = earlier


def test_date_math_parse_and_rounding():
    from datetime import datetime

    from hive2es_offline_spark.plans.query_dsl import parse_date_math

    s, n = parse_date_math("2014-11-18||/M")
    assert s == datetime(2014, 11, 1) and n == datetime(2014, 12, 1)
    s, n = parse_date_math("2024-01-31||+1M")  # Java clamp: Jan 31 + 1M = Feb 29
    assert s == datetime(2024, 2, 29) and n == s
    s, n = parse_date_math("2024-03-15||-2w/d")
    assert s == datetime(2024, 3, 1) and n == datetime(2024, 3, 2)
    s, _ = parse_date_math("now-1d", now=datetime(2024, 6, 2, 12))
    assert s == datetime(2024, 6, 1, 12)
    with pytest.raises(ValueError, match="inject"):
        parse_date_math("now-1d")
    with pytest.raises(ValueError, match="unsupported date-math"):
        parse_date_math("2024-01-01||+1q")


def test_range_date_math_per_operator_rounding(spark):
    from datetime import datetime

    df = spark.createDataFrame(
        [(i, datetime(2014, 11, 1 + i)) for i in range(8)] +
        [(99, datetime(2014, 12, 5))],
        "id long, ts timestamp",
    )
    # gte /M rounds DOWN: everything from Nov 1 on
    assert ids(df, {"range": {"ts": {"gte": "2014-11-18||/M"}}}) == [0, 1, 2, 3, 4, 5, 6, 7, 99]
    # gt /M rounds UP: excludes the whole of November
    assert ids(df, {"range": {"ts": {"gt": "2014-11-18||/M"}}}) == [99]
    # lt /M rounds DOWN: excludes November entirely
    assert ids(df, {"range": {"ts": {"lt": "2014-11-18||/M"}}}) == []
    # lte /M rounds UP: includes through Nov 30
    assert ids(df, {"range": {"ts": {"lte": "2014-11-18||/M"}}}) == [0, 1, 2, 3, 4, 5, 6, 7]
    # now with an injected clock
    assert ids(df, {"range": {"ts": {"gte": "now-3d", "now": "2014-12-05"}}}) == [99]
    with pytest.raises(ValueError, match="inject"):
        ids(df, {"range": {"ts": {"gte": "now-3d"}}})


def test_range_rejects_unknown_keys(spark):
    # a dropped time_zone shifted the bound silently: with the +01:00
    # offset ES matches both rows, the bound read as UTC matched only
    # the second; relation and typos were accepted the same way
    from datetime import datetime

    df = spark.createDataFrame(
        [(1, datetime(2023, 12, 31, 23, 45)), (2, datetime(2024, 1, 1, 0, 45))],
        "id long, ts timestamp")
    for extra in ({"time_zone": "+01:00"}, {"bogus": 1},
                  {"relation": "disjoint"}, {"format": "yyyy-MM-dd"}):
        with pytest.raises(ValueError, match="unsupported range option"):
            ids(df, {"range": {"ts": {"gte": "2024-01-01T00:30:00", **extra}}})
    # query_string's boost rides along
    assert ids(df, {"range": {"ts": {"gte": "2024-01-01T00:30:00",
                                     "boost": 2.0}}}) == [2]


def test_match_filter_plan_holds_an_array_literal(df):
    plan = df.where(compile_query({"match": {"txt": "beta gamma"}}, "id")) \
        ._jdf.queryExecution().optimizedPlan().toString()
    assert "arrays_overlap" in plan and "[beta,gamma]" in plan
    assert "array(beta" not in plan


def test_wide_terms_and_bool_parse(spark):
    df = spark.range(0, 20000).selectExpr("id", "CAST(id AS STRING) AS k")
    values = [str(v) for v in range(0, 20000, 2)]  # 10 000 values
    got = df.where(compile_query({"terms": {"k": values}}, "id")).count()
    assert got == 10000
    body = {"bool": {
        "filter": [{"range": {"id": {"gte": i}}} for i in range(150)],
        "should": [{"term": {"k": str(v)}} for v in range(140, 290)],
        "minimum_should_match": 1}}
    assert ids(df, body) == list(range(149, 290))


def test_match_phrase_prefix(spark):
    df = spark.createDataFrame(
        [(1, "quick brown fox"), (2, "quick brownie"), (3, "brown quick")],
        "id long, txt string",
    )
    assert ids(df, {"match_phrase_prefix": {"txt": "quick bro"}}) == [1, 2]
    # full last term still matches as its own prefix
    assert ids(df, {"match_phrase_prefix": {"txt": "quick brown"}}) == [1, 2]
    # order matters (phrase, not bag of words)
    assert ids(df, {"match_phrase_prefix": {"txt": "brown qui"}}) == [3]


def test_match_phrase_prefix_slop(spark):
    """ES honors slop for phrase_prefix (MultiPhrasePrefixQuery); the
    multi_match phrase_prefix arm used to silently drop it (ADVICE r10)."""
    df = spark.createDataFrame(
        [(1, "quick brown fox"), (2, "quick red brown fox"),
         (3, "quick red hot brownie"), (4, "brownie quick")],
        "id long, txt string",
    )
    # slop=0: only the adjacent phrase
    assert ids(df, {"match_phrase_prefix": {"txt": {
        "query": "quick bro", "slop": 0}}}) == [1]
    # slop=1 tolerates one intervening token
    assert ids(df, {"match_phrase_prefix": {"txt": {
        "query": "quick bro", "slop": 1}}}) == [1, 2]
    # slop=2 reaches the doubly-separated prefix token, AND the
    # reversed pair (Lucene: exact reversed order costs slop 2)
    assert ids(df, {"match_phrase_prefix": {"txt": {
        "query": "quick bro", "slop": 2}}}) == [1, 2, 3, 4]
    # multi_match phrase_prefix forwards slop identically
    assert ids(df, {"multi_match": {
        "query": "quick bro", "type": "phrase_prefix",
        "fields": ["txt"], "slop": 1}}) == [1, 2]
    # single-term prefix with slop still works (prefix-only path)
    assert ids(df, {"match_phrase_prefix": {"txt": {
        "query": "bro", "slop": 1}}}) == [1, 2, 3, 4]


def test_terms_set_thresholds(spark):
    df = spark.createDataFrame(
        [(1, "a b c", 2), (2, "a x y", 2), (3, "a b", 1)],
        "id long, txt string, req long",
    )
    terms = {"terms": ["a", "b", "c"]}
    # constant script: params.num_terms -> all 3 required
    assert ids(df, {"terms_set": {"txt": {
        **terms, "minimum_should_match_script": {"source": "params.num_terms"}}}}) == [1]
    # integer-literal script
    assert ids(df, {"terms_set": {"txt": {
        **terms, "minimum_should_match_script": {"source": "2"}}}}) == [1, 3]
    # per-document threshold column
    assert ids(df, {"terms_set": {"txt": {
        **terms, "minimum_should_match_field": "req"}}}) == [1, 3]


def test_multi_match_or_across_fields(df):
    got = ids(df, {"multi_match": {"query": "beta machinery", "fields": ["txt", "seg"]}})
    assert got == [1, 2, 3]
    # operator=and applies PER FIELD
    got = ids(
        df,
        {"multi_match": {"query": "alpha beta", "fields": ["txt", "seg"],
                         "operator": "and"}},
    )
    assert got == [1]


def test_range_agg_buckets_and_gated_stats(df):
    out = compile_aggs(
        df,
        {"r": {"range": {"field": "price", "ranges": [
            {"to": 100}, {"from": 100, "to": 200}, {"from": 200},
        ]},
            "aggs": {"p": {"stats": {"field": "price"}}}}},
    ).collect()
    by_key = {r["key"]: r for r in out}
    assert set(by_key) == {"*-100", "100-200", "200-*"}
    assert by_key["*-100"]["doc_count"] == 1
    assert by_key["100-200"]["p_sum"] == 150.0
    assert by_key["200-*"]["p_avg"] == 250.0
    # NULL price doc lands in no range bucket
    assert sum(r["doc_count"] for r in out) == 3


def test_range_agg_from_inclusive_to_exclusive(spark):
    df2 = spark.createDataFrame([(1, 100.0), (2, 200.0)], "id long, v double")
    out = compile_aggs(
        df2, {"r": {"range": {"field": "v", "ranges": [{"from": 100, "to": 200}]}}}
    ).collect()
    assert out[0]["doc_count"] == 1  # 100 in, 200 out


def test_filters_agg_overlapping_buckets(df):
    out = compile_aggs(
        df,
        {"f": {"filters": {"filters": {
            "cheap": {"range": {"price": {"lt": 200}}},
            "b_seg": {"prefix": {"seg": "BUILD"}},
        }},
            "aggs": {"n": {"value_count": {"field": "id"}}}}},
        id_field="id",
    ).collect()
    by_key = {r["key"]: r for r in out}
    # docs 1,2 match BOTH buckets: overlap preserved, unlike a groupBy
    assert by_key["cheap"]["doc_count"] == 2
    assert by_key["b_seg"]["doc_count"] == 2
    assert by_key["b_seg"]["n"] == 2


def test_missing_agg(df):
    out = compile_aggs(df, {"m": {"missing": {"field": "price"}}}).collect()
    assert len(out) == 1
    assert out[0]["key"] == "missing" and out[0]["doc_count"] == 1


def test_extended_stats_matches_numpy(spark):
    vals = [3.25, 7.5, 11.0, 42.125, 0.5]
    df3 = spark.createDataFrame([(v,) for v in vals], "v double")
    row = compile_aggs(df3, {"s": {"extended_stats": {"field": "v"}}}).collect()[0]
    arr = np.array(vals)
    assert row["s_count"] == 5
    assert row["s_sum"] == pytest.approx(arr.sum(), abs=1e-9)
    assert row["s_sum_of_squares"] == pytest.approx((arr ** 2).sum(), abs=1e-9)
    assert row["s_variance"] == pytest.approx(arr.var(), abs=1e-6)
    assert row["s_std_deviation"] == pytest.approx(arr.std(), abs=1e-6)


def test_cond_bucket_plus_groupby_bucket_rejected(df):
    with pytest.raises(ValueError, match="at most one bucket"):
        compile_aggs(
            df,
            {"a": {"terms": {"field": "seg"}},
             "b": {"missing": {"field": "price"}}},
        )


def test_cond_bucket_single_scan_plan(df):
    """The conditional-bucket body must compile to ONE ungrouped aggregate:
    no shuffle key, no join, one scan."""
    out = compile_aggs(
        df,
        {"r": {"range": {"field": "price", "ranges": [{"to": 100}, {"from": 100}]},
               "aggs": {"p": {"avg": {"field": "price"}}}}},
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1  # SinglePartition merge only
    assert "Join" not in plan


def test_top_hits_per_bucket(df):
    out = compile_aggs(
        df,
        {"b": {"terms": {"field": "seg"},
               "aggs": {"top": {"top_hits": {
                   "size": 1,
                   "sort": [{"price": {"order": "desc"}}],
                   "_source": ["id", "price"],
               }}}}},
    ).collect()
    assert set(r["key"] for r in out) == {"BUILDING", "BUILDINS", "MACHINERY", "HOUSEHOLD"}
    assert all(r["hit_rank"] == 1 for r in out)
    by_key = {r["key"]: r for r in out}
    assert by_key["MACHINERY"]["id"] == 3 and by_key["MACHINERY"]["price"] == 250.0


def test_top_hits_requires_sort_and_solo(df):
    with pytest.raises(ValueError, match="sort"):
        compile_aggs(df, {"b": {"terms": {"field": "seg"},
                                "aggs": {"top": {"top_hits": {"size": 1}}}}})
    with pytest.raises(ValueError, match="only sub-agg"):
        compile_aggs(
            df,
            {"b": {"terms": {"field": "seg"},
                   "aggs": {"top": {"top_hits": {"size": 1, "sort": ["id"]}},
                            "m": {"avg": {"field": "price"}}}}},
        )


def test_top_hits_applies_terms_bucket_cap(df):
    """ES's terms `size` caps the BUCKET count in top_hits mode too
    (pre-r7 documented divergence, closed): buckets ranked by doc count
    desc, key asc — BUILDING/BUILDINS/MACHINERY/HOUSEHOLD all have 1 doc,
    so size=2 keeps the 2 lexicographically-first keys."""
    out = compile_aggs(
        df,
        {"b": {"terms": {"field": "seg", "size": 2},
               "aggs": {"top": {"top_hits": {
                   "size": 1, "sort": [{"price": {"order": "desc"}}],
                   "_source": ["id"],
               }}}}},
    ).collect()
    assert sorted(r["key"] for r in out) == ["BUILDING", "BUILDINS"]


def test_top_hits_bucket_cap_prefers_big_buckets(spark):
    rows = [("a", i) for i in range(5)] + [("b", 10)] + [("c", 20), ("c", 21)]
    df7 = spark.createDataFrame(rows, "g string, v long")
    out = compile_aggs(
        df7,
        {"b": {"terms": {"field": "g", "size": 2},
               "aggs": {"top": {"top_hits": {"size": 1, "sort": ["v"]}}}}},
    ).collect()
    # a (5 docs) and c (2 docs) survive; b is cut
    assert sorted(r["key"] for r in out) == ["a", "c"]


def test_top_hits_plans_window_group_limit(df):
    out = compile_aggs(
        df,
        {"b": {"terms": {"field": "seg"},
               "aggs": {"top": {"top_hits": {"size": 2, "sort": ["id"]}}}}},
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in plan


def test_percentile_ranks_exact(spark):
    df4 = spark.createDataFrame([(v,) for v in [10.0, 20.0, 30.0, 40.0]], "v double")
    row = compile_aggs(
        df4, {"r": {"percentile_ranks": {"field": "v", "values": [25, 40]}}}
    ).collect()[0]
    assert row["r_25"] == 50.0   # 10, 20 <= 25
    assert row["r_40"] == 100.0


def test_percentile_ranks_gated_in_filters_bucket(spark):
    df5 = spark.createDataFrame(
        [("a", 10.0), ("a", 30.0), ("b", 100.0)], "g string, v double"
    )
    out = compile_aggs(
        df5,
        {"f": {"filters": {"filters": {"only_a": {"term": {"g": "a"}}}},
               "aggs": {"r": {"percentile_ranks": {"field": "v", "values": [20]}}}}},
        id_field="g",
    ).collect()
    assert out[0]["r_20"] == 50.0  # within bucket a: 10 <= 20, 30 > 20


def test_date_histogram_fixed_interval(spark):
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    df6 = spark.createDataFrame(
        [("2024-01-01 00:10:00",), ("2024-01-01 00:20:00",), ("2024-01-01 01:05:00",)],
        "ts string",
    ).select(F.to_timestamp("ts").alias("ts"))
    out = compile_aggs(
        df6, {"h": {"date_histogram": {"field": "ts", "fixed_interval": "30m"}}}
    ).collect()
    got = {str(r["key"]): r["doc_count"] for r in out}
    assert got == {
        "2024-01-01 00:00:00": 2,
        "2024-01-01 01:00:00": 1,
    }
    with pytest.raises(ValueError, match="fixed_interval"):
        compile_aggs(df6, {"h": {"date_histogram": {"field": "ts", "fixed_interval": "1w"}}})


def test_collapse_keeps_best_hit_per_field_value(spark):
    from hive2es_offline_spark.plans.query_dsl import es_search

    df = spark.createDataFrame(
        [(1, "a", 10.0), (2, "a", 30.0), (3, "b", 20.0), (4, "b", 5.0)],
        "id long, g string, v double",
    )
    body = {
        "collapse": {"field": "g"},
        "sort": [{"v": {"order": "desc"}}],
        "size": 10,
        "_source": ["id", "g", "v"],
    }
    out = es_search(df, body, id_field="id").collect()
    assert [(r["id"], r["g"]) for r in out] == [(2, "a"), (3, "b")]
    with pytest.raises(ValueError, match="collapse"):
        es_search(df, {"collapse": {"field": "g"}}, id_field="id")


def test_search_after_deep_paging(spark):
    from hive2es_offline_spark.plans.query_dsl import es_search

    df = spark.createDataFrame(
        [(i, float(i % 3), f"d{i}") for i in range(12)],
        "id long, grp double, name string",
    )
    body = {"sort": [{"grp": {"order": "desc"}}, {"id": {"order": "asc"}}],
            "size": 3, "_source": ["id", "grp"]}
    page1 = es_search(df, body, id_field="id").collect()
    assert [(r["grp"], r["id"]) for r in page1] == [(2.0, 2), (2.0, 5), (2.0, 8)]
    last = page1[-1]
    body2 = dict(body, search_after=[last["grp"], last["id"]])
    page2 = es_search(df, body2, id_field="id").collect()
    assert [(r["grp"], r["id"]) for r in page2] == [(2.0, 11), (1.0, 1), (1.0, 4)]
    with pytest.raises(ValueError, match="from"):
        es_search(df, dict(body2, **{"from": 3}), id_field="id")
    with pytest.raises(ValueError, match="sort"):
        es_search(df, {"search_after": [1], "size": 2}, id_field="id")


def test_search_after_pages_through_null_sort_values(spark):
    """ADVICE r6 (medium): rows with NULL sort keys used to be shown on
    page 1 and then be unreachable from every later page.  NULL now orders
    as -infinity (Spark's asc_nulls_first / desc_nulls_last), so walking
    the cursor visits EVERY row exactly once, in page order."""
    from hive2es_offline_spark.plans.query_dsl import es_search

    df = spark.createDataFrame(
        [(0, None), (1, 10.0), (2, None), (3, 5.0), (4, 20.0), (5, None)],
        "id long, score double",
    )
    for order in ("asc", "desc"):
        body = {"sort": [{"score": {"order": order}}, {"id": {"order": "asc"}}],
                "size": 2, "_source": ["id", "score"]}
        seen, cursor, pages = [], None, 0
        while pages < 10:
            b = dict(body) if cursor is None else dict(body, search_after=cursor)
            page = es_search(df, b, id_field="id").collect()
            if not page:
                break
            seen += [r["id"] for r in page]
            cursor = [page[-1]["score"], page[-1]["id"]]
            pages += 1
        assert sorted(seen) == [0, 1, 2, 3, 4, 5], (order, seen)
        assert len(seen) == len(set(seen)), (order, seen)  # no row twice
        # NULLs arrive where the page order put them: first on asc
        # (nulls_first), last on desc (nulls_last)
        null_ids = {0, 2, 5}
        got_null_pos = [i for i, x in enumerate(seen) if x in null_ids]
        assert got_null_pos == ([0, 1, 2] if order == "asc" else [3, 4, 5])


def test_composite_after_with_missing_bucket_pages_consistently(spark):
    """missing_bucket=true + 'after' (pre-r7: refused): the NULL bucket
    sorts first on asc and the cursor can step past it."""
    df = spark.createDataFrame(
        [(None, 1.0), (None, 2.0), ("a", 10.0), ("b", 20.0)],
        "g string, v double",
    )
    body = {"composite": {
        "size": 2,
        "sources": [{"g": {"terms": {"field": "g", "missing_bucket": True}}}],
    }, "aggs": {"total": {"sum": {"field": "v"}}}}
    p1 = compile_aggs(df, {"b": body}).collect()
    assert [(r["g"], r["doc_count"], r["total"]) for r in p1] == [
        (None, 2, 3.0), ("a", 1, 10.0)]
    body2 = {"b": {**body, "composite": {**body["composite"], "after": {"g": "a"}}}}
    p2 = compile_aggs(df, body2).collect()
    assert [(r["g"], r["doc_count"], r["total"]) for r in p2] == [("b", 1, 20.0)]
    # a NULL cursor value means "after the missing bucket"
    body3 = {"b": {**body, "composite": {**body["composite"], "after": {"g": None}}}}
    p3 = compile_aggs(df, body3).collect()
    assert [(r["g"], r["doc_count"]) for r in p3] == [("a", 1), ("b", 1)]


def test_pipeline_aggs_on_histogram(spark):
    """derivative / cumulative_sum / bucket_script / bucket_selector over
    the reduced bucket frame, declaration order (round 7)."""
    df = spark.createDataFrame(
        [(float(m), 10.0 * m + i) for m in range(1, 5) for i in range(m)],
        "band double, v double",
    )
    out = compile_aggs(df, {"h": {
        "histogram": {"field": "band", "interval": 1},
        "aggs": {
            "total": {"sum": {"field": "v"}},
            "d": {"derivative": {"buckets_path": "total"}},
            "c": {"cumulative_sum": {"buckets_path": "total"}},
            "per_doc": {"bucket_script": {
                "buckets_path": {"t": "total", "n": "_count"},
                "script": "params.t / params.n"}},
            "keep": {"bucket_selector": {
                "buckets_path": {"n": "_count"}, "script": "params.n > 1"}},
        }}}).orderBy("key").collect()
    got = [(r["key"], r["doc_count"], r["total"], r["d"], r["c"], r["per_doc"])
           for r in out]
    # bucket 1 (n=1) dropped by the selector; derivative/cumsum computed
    # before it per declaration order (first bucket's derivative is null,
    # and bucket 2 still sees bucket 1's total)
    assert got == [
        (2.0, 2, 41.0, 31.0, 51.0, 20.5),
        (3.0, 3, 93.0, 52.0, 144.0, 31.0),
        (4.0, 4, 166.0, 73.0, 310.0, 41.5),
    ]


def test_pipeline_over_gap_filled_series(spark):
    """The classic time-series combo: derivative + cumulative_sum over a
    min_doc_count=0 gap-filled histogram — empty buckets contribute NULL
    to the derivative chain and are skipped by the running sum."""
    df = spark.createDataFrame([(0.0, 2.0), (30.0, 8.0)], "band double, v double")
    out = compile_aggs(df, {"h": {
        "histogram": {"field": "band", "interval": 10, "min_doc_count": 0},
        "aggs": {"s": {"sum": {"field": "v"}},
                 "d": {"derivative": {"buckets_path": "s"}},
                 "c": {"cumulative_sum": {"buckets_path": "s"}}}}}
    ).orderBy("key").collect()
    assert [(r["key"], r["doc_count"], r["s"], r["d"], r["c"]) for r in out] == [
        (0.0, 1, 2.0, None, 2.0),
        (10.0, 0, None, None, 2.0),
        (20.0, 0, None, None, 2.0),
        (30.0, 1, 8.0, None, 10.0),  # gap neighbor: lag is NULL, like ES
    ]


def test_bucket_script_property_vs_python_eval(spark):
    """Property: the Painless-subset parser agrees with Python eval on 120
    random arithmetic/comparison expressions — evaluated in ONE Spark pass
    (one boolean/double column per expression over a 1-row frame)."""
    import random

    from hive2es_offline_spark.plans.query_dsl import _script_sql

    rng = random.Random(13)
    vals = {"a": 7.0, "b": -3.0, "c": 0.5}

    def gen_arith(depth=0):
        if depth > 2 or rng.random() < 0.4:
            return rng.choice(["params.a", "params.b", "params.c",
                               str(rng.randint(0, 9)), "2.5"])
        op = rng.choice(["+", "-", "*", "/"])
        return f"({gen_arith(depth + 1)} {op} {gen_arith(depth + 1)})"

    exprs = []
    for _ in range(120):
        e = gen_arith()
        if rng.random() < 0.5:
            e = f"{e} {rng.choice(['>', '<', '>=', '<=', '==', '!='])} {gen_arith()}"
        exprs.append(e)

    df = spark.createDataFrame([tuple(vals.values())], "a double, b double, c double")
    params = {k: k for k in vals}
    cols = [F.expr(_script_sql(e, params)).alias(f"e{i}")
            for i, e in enumerate(exprs)]
    row = df.select(*cols).collect()[0]
    for i, e in enumerate(exprs):
        try:
            expected = eval(e.replace("params.", ""), {}, dict(vals))  # noqa: S307
        except ZeroDivisionError:
            continue  # SQL x/0 is NULL; Python raises — skip those draws
        got = row[f"e{i}"]
        if isinstance(expected, bool):
            assert got == expected, (e, got, expected)
        elif got is not None:
            assert abs(got - expected) < 1e-9, (e, got, expected)


def test_serial_diff_and_moving_fn(spark):
    df = spark.createDataFrame(
        [(float(b), float(v)) for b, v in
         [(0, 1), (1, 4), (2, 9), (3, 16), (4, 25)]],
        "band double, v double",
    )
    out = compile_aggs(df, {"h": {
        "histogram": {"field": "band", "interval": 1},
        "aggs": {
            "s": {"sum": {"field": "v"}},
            "d2": {"serial_diff": {"buckets_path": "s", "lag": 2}},
            "mmax": {"moving_fn": {"buckets_path": "s", "window": 2,
                                   "script": "MovingFunctions.max(values)"}},
            "mavg": {"moving_fn": {"buckets_path": "s", "window": 2, "shift": 1,
                                   "script": "MovingFunctions.unweightedAvg(values)"}},
        }}}).orderBy("key").collect()
    got = [(r["key"], r["s"], r["d2"], r["mmax"], r["mavg"]) for r in out]
    assert got == [
        # mmax: max of the 2 PRIOR buckets (shift 0 excludes current);
        # mavg: shift 1 slides right to include the current bucket
        (0.0, 1.0, None, None, 1.0),
        (1.0, 4.0, None, 1.0, 2.5),
        (2.0, 9.0, 8.0, 4.0, 6.5),
        (3.0, 16.0, 12.0, 9.0, 12.5),
        (4.0, 25.0, 16.0, 16.0, 20.5),
    ]


def test_sibling_stats_and_percentiles_bucket(spark):
    df = spark.createDataFrame(
        [("a", 1.0), ("b", 3.0), ("c", 5.0)], "g string, v double"
    )
    base = {"t": {"terms": {"field": "g"}, "aggs": {"m": {"max": {"field": "v"}}}}}
    out = compile_aggs(df, {**base, "st": {
        "stats_bucket": {"buckets_path": "t>m"}}}).collect()
    r = out[0]
    assert (r["st_count"], r["st_min"], r["st_max"], r["st_avg"], r["st_sum"]) == \
        (3, 1.0, 5.0, 3.0, 9.0)
    out = compile_aggs(df, {**base, "pct": {
        "percentiles_bucket": {"buckets_path": "t>m", "percents": [50]}}}).collect()
    assert out[0]["pct_p50"] == 3.0


def test_pipeline_derivative_rejects_terms_parent(spark):
    df = spark.createDataFrame([("a", 1.0)], "g string, v double")
    with pytest.raises(ValueError, match="histogram"):
        compile_aggs(df, {"t": {"terms": {"field": "g"}, "aggs": {
            "m": {"sum": {"field": "v"}},
            "d": {"derivative": {"buckets_path": "m"}}}}}).collect()


def test_bucket_script_rejects_unknown_syntax(spark):
    # Math.log is SUPPORTED since r9 (script_score shares the subset);
    # ternaries and unknown function calls still reject loudly
    df = spark.createDataFrame([("a", 1.0)], "g string, v double")
    def agg(script):
        return compile_aggs(df, {"t": {"terms": {"field": "g"}, "aggs": {
            "m": {"sum": {"field": "v"}},
            "s": {"bucket_script": {"buckets_path": {"m": "m"},
                                    "script": script}}}}})
    out = agg("Math.log(params.m)")  # compiles now
    assert "s" in out.columns
    with pytest.raises(ValueError, match="unsupported bucket script"):
        agg("params.m > 0 ? 1 : 0")
    with pytest.raises(ValueError, match="unsupported bucket script"):
        agg("decay(params.m)")
    with pytest.raises(ValueError, match="Math.cosh"):
        agg("Math.cosh(params.m)")


def test_bucket_sort_truncates_buckets(spark):
    df = spark.createDataFrame(
        [("a", 1.0), ("a", 2.0), ("b", 9.0), ("c", 4.0)], "g string, v double"
    )
    out = compile_aggs(df, {"t": {
        "terms": {"field": "g"},
        "aggs": {"m": {"max": {"field": "v"}},
                 "s": {"bucket_sort": {"sort": [{"m": {"order": "desc"}}],
                                       "size": 2}}}}}).collect()
    assert [(r["key"], r["m"]) for r in out] == [("b", 9.0), ("c", 4.0)]


def test_sibling_max_bucket_value_and_keys(spark):
    df = spark.createDataFrame(
        [("a", 5.0), ("a", 5.0), ("b", 10.0), ("c", 10.0)], "g string, v double"
    )
    out = compile_aggs(df, {
        "t": {"terms": {"field": "g"}, "aggs": {"m": {"max": {"field": "v"}}}},
        "best": {"max_bucket": {"buckets_path": "t>m"}},
    }).orderBy("key").collect()
    assert all(r["best_value"] == 10.0 for r in out)
    assert all(r["best_keys"] == "b,c" for r in out)  # ties: both keys
    out2 = compile_aggs(df, {
        "t": {"terms": {"field": "g"}, "aggs": {"m": {"max": {"field": "v"}}}},
        "mean": {"avg_bucket": {"buckets_path": "t>m"}},
    }).collect()
    assert all(abs(r["mean_value"] - 25.0 / 3) < 1e-9 for r in out2)


def test_geo_distance_and_bounding_box(spark):
    from pyspark.sql import Row

    # Paris (48.8566, 2.3522) as origin; London ~343 km, Lyon ~392 km,
    # New York ~5837 km
    df = spark.createDataFrame([
        Row(id=1, name="london", loc=Row(lat=51.5074, lon=-0.1278)),
        Row(id=2, name="lyon", loc=Row(lat=45.7640, lon=4.8357)),
        Row(id=3, name="nyc", loc=Row(lat=40.7128, lon=-74.0060)),
    ])
    near = {"geo_distance": {"distance": "400km",
                             "loc": {"lat": 48.8566, "lon": 2.3522}}}
    assert ids(df, near) == [1, 2]
    assert ids(df, {"geo_distance": {"distance": "350km",
                                     "loc": {"lat": 48.8566, "lon": 2.3522}}}) == [1]
    assert ids(df, {"geo_distance": {"distance": "6000km",
                                     "loc": {"lat": 48.8566, "lon": 2.3522}}}) == [1, 2, 3]
    # bounding box around western Europe (lat 42..55, lon -5..10)
    box = {"geo_bounding_box": {"loc": {
        "top_left": {"lat": 55.0, "lon": -5.0},
        "bottom_right": {"lat": 42.0, "lon": 10.0}}}}
    assert ids(df, box) == [1, 2]
    with pytest.raises(ValueError, match="dateline"):
        ids(df, {"geo_bounding_box": {"loc": {
            "top_left": {"lat": 10.0, "lon": 170.0},
            "bottom_right": {"lat": -10.0, "lon": -170.0}}}})
    # sanity: haversine magnitude vs known Paris-London distance (~343.5km)
    from hive2es_offline_spark.plans.query_dsl import haversine_meters
    from pyspark.sql import functions as SF

    d = df.where("id = 1").select(
        SF.expr(haversine_meters("loc.lat", "loc.lon",
                                 48.8566, 2.3522)).alias("d")
    ).collect()[0]["d"]
    assert abs(d - 343_500) < 2_000


def test_nested_query_per_element_semantics(spark):
    """The point of nested vs flattened: ONE element must satisfy the
    whole inner bool.  Doc 2 has qty>=5 on one item and brand 'acme' on a
    DIFFERENT item — flattened matching would wrongly hit it."""
    from pyspark.sql import Row

    df = spark.createDataFrame([
        Row(id=1, items=[Row(brand="acme", qty=7), Row(brand="x", qty=1)]),
        Row(id=2, items=[Row(brand="acme", qty=1), Row(brand="x", qty=9)]),
        Row(id=3, items=[Row(brand="zed", qty=9)]),
        Row(id=4, items=[]),
    ])
    body = {"nested": {"path": "items", "query": {"bool": {"filter": [
        {"term": {"items.brand": "acme"}},
        {"range": {"items.qty": {"gte": 5}}},
    ]}}}}
    assert ids(df, body) == [1]
    # single-clause nested, unprefixed field names also resolve
    assert ids(df, {"nested": {"path": "items",
                               "query": {"term": {"brand": "zed"}}}}) == [3]
    # match clause inside nested (analyzer over the element field)
    assert ids(df, {"nested": {"path": "items",
                               "query": {"match": {"items.brand": "ACME"}}}}) == [1, 2]
    with pytest.raises(ValueError, match="inside nested"):
        ids(df, {"nested": {"path": "items", "query": {
            "nested": {"path": "items", "query": {"match_all": {}}}}}})
    with pytest.raises(ValueError, match="not supported inside nested"):
        ids(df, {"nested": {"path": "items", "query": {
            "fuzzy": {"items.brand": {"value": "acmebrand", "fuzziness": 2}}}}})


def test_nested_inner_hits_returns_matching_elements(spark):
    import json

    from pyspark.sql import Row

    from hive2es_offline_spark.plans.query_dsl import es_search

    df = spark.createDataFrame([
        Row(id=1, items=[Row(brand="acme", qty=7), Row(brand="acme", qty=1),
                         Row(brand="x", qty=9)]),
        Row(id=2, items=[Row(brand="x", qty=9)]),
    ])
    body = {
        "query": {"nested": {"path": "items",
                             "query": {"term": {"items.brand": "acme"}},
                             "inner_hits": {}}},
        "sort": [{"id": {"order": "asc"}}],
        "size": 10,
        "_source": ["id"],
    }
    out = es_search(df, body, id_field="id").collect()
    assert [r["id"] for r in out] == [1]
    hits = json.loads(out[0]["items_inner_hits"])
    assert hits == [{"brand": "acme", "qty": 7}, {"brand": "acme", "qty": 1}]


def test_highlight_wraps_query_terms(spark):
    from hive2es_offline_spark.plans.query_dsl import es_search

    df = spark.createDataFrame(
        [(1, "Stream and MERGE the stream now"), (2, "merge only"), (3, "none")],
        "id long, txt string",
    )
    body = {
        "query": {"bool": {"should": [
            {"match": {"txt": "stream merge"}},
            {"term": {"id": -1}},  # other-field terms must not highlight txt
        ], "minimum_should_match": 1}},
        "sort": [{"id": {"order": "asc"}}],
        "size": 10,
        "_source": ["id", "txt"],
        "highlight": {"fields": {"txt": {}}},
    }
    out = es_search(df, body, id_field="id").collect()
    assert [r["id"] for r in out] == [1, 2]
    # case-insensitive, every occurrence, original casing preserved
    assert out[0]["txt_highlight"] == \
        "<em>Stream</em> and <em>MERGE</em> the <em>stream</em> now"
    assert out[1]["txt_highlight"] == "<em>merge</em> only"
    # custom tags
    body["highlight"] = {"fields": {"txt": {}}, "pre_tags": ["["], "post_tags": ["]"]}
    out = es_search(df, body, id_field="id").collect()
    assert out[1]["txt_highlight"] == "[merge] only"
    # ES dict shorthand for bool sections (ADVICE r7): {"must": {...}}
    # instead of {"must": [{...}]} must highlight, not crash
    body2 = {
        "query": {"bool": {"must": {"match": {"txt": "merge"}}}},
        "sort": [{"id": {"order": "asc"}}], "size": 10,
        "_source": ["id", "txt"], "highlight": {"fields": {"txt": {}}},
    }
    out = es_search(df, body2, id_field="id").collect()
    assert out[1]["txt_highlight"] == "<em>merge</em> only"


def test_significant_text_token_level_jlh(spark):
    """significant_text: JLH over analyzed tokens, one count per doc (a
    repeated token inside a doc counts once), totals are DOC counts."""
    from hive2es_offline_spark.plans.query_dsl import es_search

    df = spark.createDataFrame(
        [
            (1, "a", "crash crash stacktrace kernel"),
            (2, "a", "crash kernel panic"),
            (3, "b", "picnic sunshine kernel"),
            (4, "b", "sunshine beach holiday"),
        ],
        "id long, grp string, text string",
    )
    out = es_search(df, {
        "query": {"term": {"grp": "a"}},
        "size": 0,
        "aggs": {"sig": {"significant_text": {"field": "text", "size": 3}}},
    }, id_field="id").collect()
    rows = {r["key"]: r for r in out}
    # 'crash' appears in both fg docs (once each despite repetition) and
    # no bg docs -> top score; doc-level totals: fg_total=2, bg_total=4
    assert out[0]["key"] == "crash"
    assert rows["crash"]["doc_count"] == 2 and rows["crash"]["bg_count"] == 2
    # fg%=1.0, bg%=0.5 -> (1-0.5)*(1/0.5) = 1.0
    assert abs(rows["crash"]["score"] - 1.0) < 1e-9
    assert "sunshine" not in rows  # absent from the foreground


def test_runtime_mappings_field_in_query_agg_and_sort(spark):
    from hive2es_offline_spark.plans.query_dsl import es_search

    df = spark.createDataFrame(
        [(1, 100.0, 2.0), (2, 300.0, 3.0), (3, 500.0, 1.0)],
        "id long, price double, qty double",
    )
    body = {
        "runtime_mappings": {"total": {
            "type": "double",
            "script": {"source": "emit(doc['price'].value * doc.qty)"}}},
        "query": {"range": {"total": {"gte": 500.0}}},
        "sort": [{"total": {"order": "desc"}}],
        "size": 10,
        "_source": ["id", "total"],
    }
    out = es_search(df, body, id_field="id").collect()
    assert [(r["id"], r["total"]) for r in out] == [(2, 900.0), (3, 500.0)]
    # aggs over the runtime field
    agg_body = {
        "runtime_mappings": body["runtime_mappings"],
        "size": 0,
        "aggs": {"m": {"max": {"field": "total"}}},
    }
    assert es_search(df, agg_body, id_field="id").collect()[0]["m"] == 900.0
    with pytest.raises(ValueError, match="unknown doc field"):
        es_search(df, {"runtime_mappings": {"x": {
            "script": {"source": "doc['nope'].value"}}}, "size": 1}, id_field="id")


def test_adjacency_matrix_pairwise_intersections(spark):
    df = spark.createDataFrame(
        [("a", 1.0), ("a", 9.0), ("b", 9.5), ("c", 0.1)], "g string, v double"
    )
    out = compile_aggs(df, {"m": {
        "adjacency_matrix": {"filters": {
            "is_a": {"term": {"g": "a"}},
            "high": {"range": {"v": {"gte": 5.0}}},
        }},
        "aggs": {"mx": {"max": {"field": "v"}}}}}).collect()
    got = {r["key"]: (r["doc_count"], r["mx"]) for r in out}
    # empty cells omitted; pair key joins the sorted names
    assert got == {"is_a": (2, 9.0), "high": (2, 9.5), "high&is_a": (1, 9.0)}


def test_terms_order_by_metric_key_and_missing(spark):
    df = spark.createDataFrame(
        [("a", 1.0), ("a", 3.0), ("b", 10.0), (None, 7.0)],
        "g string, v double",
    )
    body = lambda order, **kw: {"t": {  # noqa: E731
        "terms": {"field": "g", "order": order, **kw},
        "aggs": {"m": {"avg": {"field": "v"}}}}}
    out = compile_aggs(df, body({"m": "desc"})).collect()
    assert [r["key"] for r in out] == ["b", None, "a"]
    out = compile_aggs(df, body({"_key": "asc"})).collect()
    assert [r["key"] for r in out] == [None, "a", "b"]  # NULL sorts first
    out = compile_aggs(df, body({"_count": "asc"})).collect()
    assert [r["key"] for r in out] == [None, "b", "a"]
    # missing: NULL keys land in the named bucket (exact ES semantics)
    out = compile_aggs(df, body({"_key": "asc"}, missing="N/A")).collect()
    assert [r["key"] for r in out] == ["N/A", "a", "b"]
    with pytest.raises(ValueError, match="unknown sub-agg"):
        compile_aggs(df, body({"nope": "desc"})).collect()


def test_histogram_offset(spark):
    df = spark.createDataFrame([(3.0,), (7.0,), (13.0,)], "v double")
    out = compile_aggs(df, {"h": {"histogram": {
        "field": "v", "interval": 10, "offset": 5}}}).collect()
    assert sorted((r["key"], r["doc_count"]) for r in out) == [
        (-5.0, 1), (5.0, 2)]  # buckets [-5,5) and [5,15)


def test_histogram_offset_gap_fill(spark):
    """offset + min_doc_count=0 together (ADVICE r7 medium): the dense
    axis must sit on the OFFSET grid (i*interval+offset), or the left join
    on key silently zeroes every real bucket."""
    df = spark.createDataFrame([(3.0,), (7.0,), (38.0,)], "v double")
    out = compile_aggs(df, {"h": {"histogram": {
        "field": "v", "interval": 10, "offset": 5, "min_doc_count": 0}}}).collect()
    assert [(r["key"], r["doc_count"]) for r in out] == [
        (-5.0, 1), (5.0, 1), (15.0, 0), (25.0, 0), (35.0, 1)]
    # extended_bounds are raw values aligned onto the OFFSET grid too
    out = compile_aggs(df, {"h": {"histogram": {
        "field": "v", "interval": 10, "offset": 5, "min_doc_count": 0,
        "extended_bounds": {"min": -12, "max": 52}}}}).collect()
    assert [r["key"] for r in out] == [-15.0, -5.0, 5.0, 15.0, 25.0, 35.0, 45.0]
    assert [r["doc_count"] for r in out] == [0, 1, 1, 0, 0, 1, 0]


def test_histogram_gap_fill_min_doc_count_zero(spark):
    df = spark.createDataFrame([(5.0,), (35.0,), (36.0,)], "v double")
    out = compile_aggs(df, {"h": {"histogram": {
        "field": "v", "interval": 10, "min_doc_count": 0}}}).collect()
    assert [(r["key"], r["doc_count"]) for r in out] == [
        (0.0, 1), (10.0, 0), (20.0, 0), (30.0, 2)]
    # extended_bounds widen the axis beyond the data
    out = compile_aggs(df, {"h": {"histogram": {
        "field": "v", "interval": 10, "min_doc_count": 0,
        "extended_bounds": {"min": -10, "max": 55}}}}).collect()
    assert [r["key"] for r in out] == [-10.0, 0.0, 10.0, 20.0, 30.0, 40.0, 50.0]


def test_date_histogram_gap_fill_and_empty_metrics(spark):
    from datetime import datetime

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    df = spark.createDataFrame(
        [(datetime(2024, 1, 5), 10.0), (datetime(2024, 4, 2), 40.0)],
        "ts timestamp, v double",
    )
    out = compile_aggs(df, {"h": {
        "date_histogram": {"field": "ts", "calendar_interval": "month",
                           "min_doc_count": 0},
        "aggs": {"m": {"avg": {"field": "v"}}}}}).collect()
    assert [(r["key"].month, r["doc_count"], r["m"]) for r in out] == [
        (1, 1, 10.0), (2, 0, None), (3, 0, None), (4, 1, 40.0)]


def test_terms_min_doc_count(spark):
    df = spark.createDataFrame([("a",)] * 3 + [("b",)], "g string")
    out = compile_aggs(df, {"t": {"terms": {
        "field": "g", "min_doc_count": 2}}}).collect()
    assert [(r["key"], r["doc_count"]) for r in out] == [("a", 3)]


def test_weighted_avg_skips_value_missing_docs(spark):
    df = spark.createDataFrame(
        [(10.0, 1.0), (None, 100.0), (20.0, 3.0)], "v double, w double"
    )
    row = compile_aggs(df, {"wa": {"weighted_avg": {
        "value": {"field": "v"}, "weight": {"field": "w"}}}}).collect()[0]
    # the weight-100 doc has no value: its weight must NOT dilute (ES)
    assert row["wa"] == (10.0 * 1 + 20.0 * 3) / (1 + 3)


def test_rare_terms_exact_long_tail(spark):
    df = spark.createDataFrame(
        [("a",)] * 5 + [("b",)] * 2 + [("c",)], "g string"
    )
    out = compile_aggs(df, {"r": {"rare_terms": {
        "field": "g", "max_doc_count": 2}}}).collect()
    assert [(r["key"], r["doc_count"]) for r in out] == [("c", 1), ("b", 2)]


def test_multi_terms_tuple_buckets(spark):
    df = spark.createDataFrame(
        [("a", "x", 1.0), ("a", "x", 2.0), ("a", "y", 9.0), ("b", "x", 4.0)],
        "g string, h string, v double",
    )
    out = compile_aggs(df, {"m": {
        "multi_terms": {"terms": [{"field": "g"}, {"field": "h"}], "size": 2},
        "aggs": {"mx": {"max": {"field": "v"}}}}}).collect()
    assert [(r["g"], r["h"], r["doc_count"], r["mx"]) for r in out] == [
        ("a", "x", 2, 2.0), ("a", "y", 1, 9.0)]


def test_top_metrics_direction_and_bucket(spark):
    df = spark.createDataFrame(
        [("a", 1, 10.0), ("a", 2, 20.0), ("b", 3, 5.0)],
        "g string, ts long, v double",
    )
    body = {"t": {"terms": {"field": "g"}, "aggs": {
        "last": {"top_metrics": {"metrics": {"field": "v"},
                                 "sort": {"ts": "desc"}}}}}}
    out = {r["key"]: r["last_v"] for r in compile_aggs(df, body).collect()}
    assert out == {"a": 20.0, "b": 5.0}
    body["t"]["aggs"]["last"]["top_metrics"]["sort"] = {"ts": "asc"}
    out = {r["key"]: r["last_v"] for r in compile_aggs(df, body).collect()}
    assert out == {"a": 10.0, "b": 5.0}


def test_composite_agg_pagination(spark):
    df = spark.createDataFrame(
        [("a", 10.0), ("a", 30.0), ("b", 20.0), ("c", 5.0), ("c", 7.0)],
        "g string, v double",
    )
    body = {"composite": {"size": 2, "sources": [{"g": {"terms": {"field": "g"}}}]},
            "aggs": {"total": {"sum": {"field": "v"}}}}
    p1 = compile_aggs(df, {"b": body}).collect()
    assert [(r["g"], r["doc_count"], r["total"]) for r in p1] == [
        ("a", 2, 40.0), ("b", 1, 20.0)]
    body2 = {"b": {**body, "composite": {**body["composite"], "after": {"g": "b"}}}}
    p2 = compile_aggs(df, body2).collect()
    assert [(r["g"], r["doc_count"], r["total"]) for r in p2] == [("c", 2, 12.0)]


def test_composite_multi_source_histogram(spark):
    df = spark.createDataFrame(
        [("x", 5.0), ("x", 15.0), ("y", 5.0), ("y", 6.0)],
        "g string, v double",
    )
    out = compile_aggs(
        df,
        {"b": {"composite": {"size": 10, "sources": [
            {"g": {"terms": {"field": "g"}}},
            {"bucket": {"histogram": {"field": "v", "interval": 10}}},
        ]}}},
    ).collect()
    assert [(r["g"], r["bucket"], r["doc_count"]) for r in out] == [
        ("x", 0.0, 1), ("x", 10.0, 1), ("y", 0.0, 2)]


def test_composite_rejects_shadowing_source_name(spark):
    df7 = spark.createDataFrame([("a", 5.0)], "g string, v double")
    with pytest.raises(ValueError, match="shadows"):
        compile_aggs(
            df7,
            {"b": {"composite": {"sources": [
                {"v": {"histogram": {"field": "v", "interval": 10}}},
            ]}}},
        )
    # terms source named after its own field is the identity case: allowed
    out = compile_aggs(
        df7,
        {"b": {"composite": {"sources": [{"g": {"terms": {"field": "g"}}}]}}},
    ).collect()
    assert out[0]["g"] == "a"


def test_es_count(spark):
    from hive2es_offline_spark.plans.query_dsl import es_count

    df = spark.createDataFrame(
        [(1, "a"), (2, "a"), (3, "b")], "id long, g string"
    )
    assert es_count(df).collect()[0]["count"] == 3
    body = {"query": {"term": {"g": "a"}}}
    assert es_count(df, body, id_field="id").collect()[0]["count"] == 2


def test_significant_terms_jlh(spark):
    from hive2es_offline_spark.plans.query_dsl import es_search

    # 'x' dominates the foreground (hi rows), 'z' the background
    rows = [(i, "hi" if i < 20 else "lo", "x" if i < 15 else ("y" if i < 40 else "z"))
            for i in range(100)]
    df = spark.createDataFrame(rows, "id long, grp string, term string")
    body = {
        "query": {"term": {"grp": "hi"}},
        "size": 0,
        "aggs": {"sig": {"significant_terms": {"field": "term", "size": 3}}},
    }
    out = es_search(df, body, id_field="id").collect()
    assert out[0]["key"] == "x"  # 15/20 fg vs 15/100 bg: most significant
    by_key = {r["key"]: r for r in out}
    assert by_key["x"]["doc_count"] == 15 and by_key["x"]["bg_count"] == 15
    # z never appears in the foreground -> excluded entirely
    assert "z" not in by_key
    # JLH spot check for x: fg%=0.75, bg%=0.15 -> (0.6)*(5) = 3.0
    assert by_key["x"]["score"] == 3.0


def test_significant_terms_must_be_sole_agg(spark):
    from hive2es_offline_spark.plans.query_dsl import es_search

    df = spark.createDataFrame([(1, "a")], "id long, t string")
    with pytest.raises(ValueError, match="only aggregation"):
        es_search(df, {"size": 0, "aggs": {
            "sig": {"significant_terms": {"field": "t"}},
            "n": {"value_count": {"field": "id"}},
        }}, id_field="id")


def test_case_insensitive_term_prefix_wildcard_regexp(spark):
    df = spark.createDataFrame(
        [(1, "Building"), (2, "BUILDING"), (3, "machinery")], "id long, s string"
    )
    ci = {"value": "building", "case_insensitive": True}
    assert ids(df, {"term": {"s": ci}}) == [1, 2]
    assert ids(df, {"term": {"s": "building"}}) == []  # default stays exact
    assert ids(df, {"prefix": {"s": {"value": "BUILD", "case_insensitive": True}}}) == [1, 2]
    assert ids(df, {"wildcard": {"s": {"value": "b*ing", "case_insensitive": True}}}) == [1, 2]
    assert ids(df, {"regexp": {"s": {"value": "mach.*", "case_insensitive": True}}}) == [3]
    assert ids(df, {"regexp": {"s": {"value": "MACH.*", "case_insensitive": True}}}) == [3]


def test_geo_distance_sort(spark):
    from pyspark.sql import Row

    from hive2es_offline_spark.plans.query_dsl import es_search

    df = spark.createDataFrame([
        Row(id=1, loc=Row(lat=51.5074, lon=-0.1278)),   # London ~343km
        Row(id=2, loc=Row(lat=45.7640, lon=4.8357)),    # Lyon ~392km
        Row(id=3, loc=Row(lat=40.7128, lon=-74.0060)),  # NYC ~5837km
    ])
    body = {"sort": [{"_geo_distance": {
        "loc": {"lat": 48.8566, "lon": 2.3522}, "order": "asc", "unit": "km"}}],
        "size": 10, "_source": ["id"]}
    assert [r["id"] for r in es_search(df, body, id_field="id").collect()] == [1, 2, 3]
    body["sort"][0]["_geo_distance"]["order"] = "desc"
    assert [r["id"] for r in es_search(df, body, id_field="id").collect()] == [3, 2, 1]
    # expression sorts cannot be cursor keys
    with pytest.raises(ValueError, match="cursor"):
        es_search(df, {**body, "search_after": [1000.0]}, id_field="id")
    # known-but-order-irrelevant companions are tolerated (ADVICE r7) ...
    body["sort"][0]["_geo_distance"].update(
        {"distance_type": "arc", "mode": "min", "ignore_unmapped": True,
         "order": "asc"})
    assert [r["id"] for r in es_search(df, body, id_field="id").collect()] == [1, 2, 3]
    # ... and an unknown option raises naming the offender, not a bare
    # unpacking ValueError
    body["sort"][0]["_geo_distance"]["nested_path"] = "x"
    with pytest.raises(ValueError, match="nested_path"):
        es_search(df, body, id_field="id")


def test_es_mget_found_missing_and_source(spark):
    from hive2es_offline_spark.plans.query_dsl import es_mget

    df = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20), (3, "c", 30)],
        "id long, name string, v long",
    )
    out = es_mget(
        df, {"ids": [2, 99, 1], "_source": ["name"]}, id_field="id"
    ).collect()
    assert [(r["mget_id"], r["found"], r["name"]) for r in out] == [
        ("2", True, "b"), ("99", False, None), ("1", True, "a")]
    # docs form with per-doc _source union; duplicate requests allowed
    out = es_mget(df, {"docs": [
        {"_id": 3, "_source": ["v"]}, {"_id": 3, "_source": ["name"]},
    ]}, id_field="id").collect()
    assert [(r["mget_id"], r["found"], r["name"], r["v"]) for r in out] == [
        ("3", True, "c", 30), ("3", True, "c", 30)]
    with pytest.raises(ValueError, match="ids or docs"):
        es_mget(df, {"docs": []}, id_field="id")


def test_es_mget_routing_mismatch_is_not_found(spark):
    from hive2es_offline_spark.plans.query_dsl import es_mget

    df = spark.createDataFrame(
        [(1, "west", "a"), (2, "east", "b")],
        "id long, shard_key string, name string",
    )
    out = es_mget(df, {"docs": [
        {"_id": 1, "routing": "west"},     # correct routing -> found
        {"_id": 2, "routing": "west"},     # wrong routing -> NOT found (ES
        {"_id": 2},                        # only reads the routed shard)
    ]}, id_field="id", routing_field="shard_key").collect()
    assert [(r["mget_id"], r["found"], r["name"]) for r in out] == [
        ("1", True, "a"), ("2", False, None), ("2", True, "b")]


def test_es_mget_plan_broadcasts_request(spark):
    from hive2es_offline_spark.plans.query_dsl import es_mget

    df = spark.createDataFrame([(i, i * 2) for i in range(100)], "id long, v long")
    out = es_mget(df, {"ids": [1, 2, 3]}, id_field="id")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan


def test_match_fuzziness_per_token(spark):
    df = spark.createDataFrame(
        [(1, "quick brown fox"), (2, "quick browm dog"), (3, "slow red cat")],
        "id long, txt string",
    )
    # fuzziness 1: "brown" matches the "browm" typo token too
    assert ids(df, {"match": {"txt": {"query": "brown", "fuzziness": 1}}}) == [1, 2]
    assert ids(df, {"match": {"txt": {"query": "brown", "fuzziness": 0}}}) == [1]
    # AUTO ladder per term: len("fox")=3 -> budget 1 ("dog" is 3 subs away,
    # no hit); operator=and requires every term fuzzily present
    assert ids(df, {"match": {"txt": {
        "query": "quick browm", "fuzziness": 1, "operator": "and"}}}) == [1, 2]
    with pytest.raises(ValueError, match="fuzziness resolving to 2"):
        ids(df, {"match": {"txt": {"query": "elephant", "fuzziness": 2}}})


def test_filter_singular_agg(spark):
    df = spark.createDataFrame(
        [("a", 10.0), ("a", 20.0), ("b", 30.0), ("b", 40.0)], "g string, v double")
    out = compile_aggs(df, {"cheap": {
        "filter": {"range": {"v": {"lt": 35.0}}},
        "aggs": {"avg_v": {"avg": {"field": "v"}}},
    }}).collect()
    assert [(r["key"], r["doc_count"], r["avg_v"]) for r in out] == [
        ("cheap", 3, 20.0)]
    # bare filter agg (no sub-aggs): just the bucket count
    out = compile_aggs(df, {"bs": {"filter": {"term": {"g": "b"}}}}).collect()
    assert [(r["key"], r["doc_count"]) for r in out] == [("bs", 2)]


def test_global_agg_escapes_query_filter(spark):
    from hive2es_offline_spark.plans.query_dsl import es_search

    df = spark.createDataFrame(
        [("a", 10.0), ("a", 20.0), ("b", 30.0)], "g string, v double")
    body = {"query": {"term": {"g": "a"}}, "size": 0,
            "aggs": {"all": {"global": {}, "aggs": {
                "n": {"value_count": {"field": "v"}},
                "avg_v": {"avg": {"field": "v"}}}}}}
    (row,) = es_search(df, body, id_field="g").collect()
    assert (row["n"], row["avg_v"]) == (3, 20.0)  # all 3 rows, not just g=a
    with pytest.raises(ValueError, match="only top-level"):
        es_search(df, {**body, "aggs": {**body["aggs"],
                  "x": {"avg": {"field": "v"}}}}, id_field="g")


def test_bool_conjuncts_push_to_parquet(spark, tmp_path):
    """must/filter conjuncts must reach the parquet reader as
    PushedFilters (row-group pruning at scale).  Pre-r8 every bool child
    was wrapped in coalesce(pred, false), which blocked pushdown for ALL
    bool queries — only the NULL-semantics-sensitive spots (must_not,
    should counting) may coalesce."""
    from hive2es_offline_spark.plans.query_dsl import es_search

    p = str(tmp_path / "t.parquet")
    spark.createDataFrame(
        [(i, "en" if i % 2 else "fr", i * 10) for i in range(100)],
        "id long, lang string, n long",
    ).write.parquet(p)
    df = spark.read.parquet(p)
    q = es_search(df, {"query": {"bool": {
        "must": [{"range": {"n": {"gte": 300}}}],
        "filter": [{"term": {"lang": "en"}}],
    }}, "sort": [{"id": {"order": "asc"}}], "size": 5}, id_field="id")
    plan = q._jdf.queryExecution().executedPlan().toString()
    import re

    m = re.search(r"PushedFilters: \[([^\]]*)\]", plan)
    assert m, plan
    pushed = m.group(1)
    assert "GreaterThanOrEqual(n,300)" in pushed
    assert "EqualTo(lang,en)" in pushed
    # and the results still honor ES NULL semantics end-to-end
    assert [r["id"] for r in q.collect()] == [31, 33, 35, 37, 39]


def test_es_mget_source_string_false_and_empty(spark):
    """ES accepts '_source' as a bare string, false, or [] — a string
    must select that ONE column, not explode into characters
    (code-review r8)."""
    from hive2es_offline_spark.plans.query_dsl import es_mget

    df = spark.createDataFrame([(1, "a", 10)], "id long, name string, v long")
    out = es_mget(df, {"ids": [1], "_source": "name"}, id_field="id").collect()
    assert set(out[0].asDict()) == {"mget_id", "found", "name"}
    out = es_mget(df, {"ids": [1], "_source": False}, id_field="id").collect()
    assert set(out[0].asDict()) == {"mget_id", "found"}
    out = es_mget(df, {"ids": [1], "_source": []}, id_field="id").collect()
    assert set(out[0].asDict()) == {"mget_id", "found"}


def test_date_range_agg(spark):
    from datetime import datetime

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    df = spark.createDataFrame(
        [(i, datetime(2024, m, 15), float(i)) for i, m in
         enumerate([1, 2, 2, 3, 6, 7])],
        "id long, ts timestamp, v double",
    )
    out = compile_aggs(df, {"dr": {"date_range": {
        "field": "ts",
        "ranges": [
            {"to": "2024-02-01"},
            {"from": "2024-02-01", "to": "2024-04-01", "key": "spring"},
            {"from": "2024-01-01||+5M", "key": "late"},
        ],
        "aggs": {},
    }, "aggs": {"avg_v": {"avg": {"field": "v"}}}}}).collect()
    got = {r["key"]: (r["doc_count"], r["avg_v"]) for r in out}
    assert got["*-2024-02-01"] == (1, 0.0)
    assert got["spring"] == (3, 2.0)          # Feb, Feb, Mar
    assert got["late"] == (2, 4.5)            # Jun, Jul (date math bound)
    # date math with 'now' must be pinned
    with pytest.raises(ValueError, match="inject"):
        compile_aggs(df, {"dr": {"date_range": {
            "field": "ts", "ranges": [{"from": "now-1d"}]}}}).collect()


def test_nested_agg_runs_per_element(spark):
    from pyspark.sql import Row

    df = spark.createDataFrame([
        Row(oid=1, items=[Row(sku="a", qty=2), Row(sku="b", qty=3)]),
        Row(oid=2, items=[Row(sku="a", qty=5)]),
    ])
    # bare nested: element count (3 nested docs in 2 parents)
    (row,) = compile_aggs(df, {"n": {"nested": {"path": "items"}}}).collect()
    assert row["doc_count"] == 3
    # metric sub-agg over element fields ("items." prefix stripped)
    (row,) = compile_aggs(df, {"n": {"nested": {"path": "items"},
        "aggs": {"total_qty": {"sum": {"field": "items.qty"}}}}}).collect()
    assert row["total_qty"] == 10
    # bucket sub-agg per element
    out = compile_aggs(df, {"n": {"nested": {"path": "items"},
        "aggs": {"by_sku": {"terms": {"field": "items.sku"},
                 "aggs": {"q": {"sum": {"field": "items.qty"}}}}}}}).collect()
    assert {(r["key"], r["doc_count"], r["q"]) for r in out} == {
        ("a", 2, 7), ("b", 1, 3)}
    with pytest.raises(ValueError, match="only top-level"):
        compile_aggs(df, {"n": {"nested": {"path": "items"}},
                          "m": {"value_count": {"field": "oid"}}})


def test_terms_include_exclude(spark):
    df = spark.createDataFrame(
        [("apple",), ("apple",), ("banana",), ("avocado",), (None,)],
        "fruit string",
    )
    body = lambda **kw: {"t": {"terms": {"field": "fruit", **kw}}}
    out = compile_aggs(df, body(include=["apple", "banana"])).collect()
    assert sorted((r["key"], r["doc_count"]) for r in out) == [
        ("apple", 2), ("banana", 1)]
    # regex include is whole-value anchored
    out = compile_aggs(df, body(include="a.*")).collect()
    assert sorted(r["key"] for r in out) == ["apple", "avocado"]
    # exclude keeps the NULL bucket (documented divergence preserved)
    out = compile_aggs(df, body(exclude="a.*")).collect()
    assert sorted((r["key"] or "", r["doc_count"]) for r in out) == [
        ("", 1), ("banana", 1)]
    out = compile_aggs(df, body(include="a.*", exclude=["avocado"])).collect()
    assert [r["key"] for r in out] == ["apple"]


def test_terms_include_applies_to_top_hits_and_numeric_keys(spark):
    # include/exclude must gate the top_hits path too (code-review r8:
    # the early return skipped it), and numeric include lists must match
    # non-string key columns without string-cast mismatches
    df = spark.createDataFrame(
        [("a", 1.0, 10), ("a", 2.0, 20), ("b", 1.0, 30), ("c", 3.0, 40)],
        "g string, ver double, v long",
    )
    out = compile_aggs(df, {"t": {
        "terms": {"field": "g", "include": ["a", "b"]},
        "aggs": {"h": {"top_hits": {"size": 1,
                                    "sort": [{"v": {"order": "desc"}}],
                                    "_source": ["g", "v"]}}},
    }}).collect()
    assert sorted({r["key"] for r in out}) == ["a", "b"]
    assert {(r["key"], r["v"]) for r in out} == {("a", 20), ("b", 30)}
    # numeric include on a DOUBLE key: [1, 2] must match 1.0 / 2.0
    out = compile_aggs(df, {"t": {"terms": {
        "field": "ver", "include": [1, 2]}}}).collect()
    assert sorted((r["key"], r["doc_count"]) for r in out) == [
        (1.0, 2), (2.0, 1)]


def test_field_caps_and_analyze(spark):
    from pyspark.sql import Row

    from hive2es_offline_spark.plans.query_dsl import es_analyze, es_field_caps

    df = spark.createDataFrame([
        Row(id=1, name="a", price=1.5, ts=None,
            tags=["x"], loc=Row(lat=0.0, lon=0.0)),
    ], "id long, name string, price double, ts timestamp, "
       "tags array<string>, loc struct<lat double, lon double>")
    caps = {r["field"]: r for r in es_field_caps(df).collect()}
    assert caps["id"]["type"] == "long" and caps["id"]["aggregatable"]
    assert caps["ts"]["type"] == "date"
    assert caps["tags"]["is_complex"] and not caps["tags"]["aggregatable"]
    assert caps["loc"]["is_complex"]

    toks = es_analyze(spark, "The  Quick brown").collect()
    assert [(t["token"], t["position"], t["start_offset"], t["end_offset"])
            for t in toks] == [("the", 0, 0, 3), ("quick", 1, 5, 10),
                               ("brown", 2, 11, 16)]


def test_reverse_nested_counts_parents(spark):
    from pyspark.sql import Row

    df = spark.createDataFrame([
        Row(oid=1, items=[Row(sku="a", qty=2), Row(sku="a", qty=1),
                          Row(sku="b", qty=3)]),
        Row(oid=2, items=[Row(sku="a", qty=5)]),
    ])
    out = compile_aggs(df, {"n": {"nested": {"path": "items"},
        "aggs": {"by_sku": {"terms": {"field": "items.sku"},
                 "aggs": {"parents": {"reverse_nested": {}}}}}}}).collect()
    got = {(r["key"], r["doc_count"], r["parents"]) for r in out}
    # sku a: 3 elements across 2 parents; sku b: 1 element in 1 parent
    assert got == {("a", 3, 2), ("b", 1, 1)}
    with pytest.raises(ValueError, match="path is not supported"):
        compile_aggs(df, {"n": {"nested": {"path": "items"},
            "aggs": {"p": {"reverse_nested": {"path": "x"}}}}})


def test_es_mget_duplicate_corpus_ids_yield_one_row_per_request(spark):
    # ADVICE r8: duplicate id VALUES in the corpus must not fan a request
    # out into multiple result rows.  VERDICT r9 #8 replaced the file-
    # order winner with a value-deterministic one: smallest values over
    # sorted-name columns ("dup" < "dup2" < "first").
    from hive2es_offline_spark.plans.query_dsl import es_mget

    df = spark.createDataFrame(
        [(1, "first"), (1, "dup"), (2, "only"), (1, "dup2")],
        "id long, name string",
    ).coalesce(1)
    out = es_mget(df, {"ids": [1, 2, 7]}, id_field="id").collect()
    assert [(r["mget_id"], r["found"], r["name"]) for r in out] == [
        ("1", True, "dup"), ("2", True, "only"), ("7", False, None)]


def test_es_msearch_union_with_request_index(spark, tmp_path):
    """_msearch (VERDICT r8 #8): N bodies, one call, rows tagged with
    their 0-based request_index; columns union by name with NULL fill."""
    from hive2es_offline_spark.plans.query_dsl import es_msearch

    df = spark.createDataFrame(
        [(1, "en", 10), (2, "fr", 20), (3, "en", 30)],
        "id long, lang string, n long")
    out = es_msearch(df, [
        {"query": {"term": {"lang": "en"}}, "sort": [{"id": "asc"}],
         "_source": ["id", "lang"]},
        {"query": {"range": {"n": {"gte": 20}}}, "sort": [{"id": "asc"}],
         "_source": ["id", "n"]},
    ], id_field="id").collect()
    got = sorted((r["request_index"], r["id"]) for r in out)
    assert got == [(0, 1), (0, 3), (1, 2), (1, 3)]
    by_req = {}
    for r in out:
        by_req.setdefault(r["request_index"], []).append(r)
    # NULL fill where a body didn't project the column
    assert all(r["n"] is None for r in by_req[0])
    assert all(r["lang"] is None for r in by_req[1])
    with pytest.raises(ValueError, match="at least one body"):
        es_msearch(df, [], id_field="id")
    # scored context: _score rides along per body
    out = es_msearch(df, [
        {"query": {"term": {"lang": "en"}}, "_source": ["id"]},
    ], id_field="id", scored=True).collect()
    assert {r["id"]: r["_score"] is not None for r in out} == {1: True, 3: True}


def test_msearch_cli_ndjson_and_list(spark, tmp_path):
    import json as _json

    from hive2es_offline_spark.jobs.query import _parse_msearch, main

    # NDJSON wire form: header lines ignored
    nd = '{"index": "t"}\n{"query": {"term": {"lang": "en"}}}\n' \
         '{}\n{"query": {"range": {"n": {"gte": 20}}}}'
    assert len(_parse_msearch(nd)) == 2
    assert _parse_msearch('[{"query": {"match_all": {}}}]') == [
        {"query": {"match_all": {}}}]
    # end-to-end through the CLI entry
    src = str(tmp_path / "t.parquet")
    spark.createDataFrame(
        [(1, "en", 10), (2, "fr", 20)], "id long, lang string, n long"
    ).write.parquet(src)
    outp = str(tmp_path / "out.parquet")
    main(["--input", src, "--msearch", "--id-field", "id",
          "--body", _json.dumps([
              {"query": {"term": {"lang": "en"}}, "_source": ["id"]},
              {"query": {"term": {"lang": "fr"}}, "_source": ["id"]},
          ]),
          "--output", outp])
    got = {(r["request_index"], r["id"])
           for r in spark.read.parquet(outp).collect()}
    assert got == {(0, 1), (1, 2)}


def test_more_like_this_selects_interesting_terms(spark):
    """more_like_this: Lucene's MLT shape — like-text terms with
    min_term_freq, ranked by tf·idf against corpus doc frequencies,
    min_doc_freq pruning, top max_query_terms become a match with
    minimum_should_match; works by _id ref and free text, in filter and
    scored context."""
    from hive2es_offline_spark.plans.query_dsl import es_search
    from hive2es_offline_spark.plans.scoring import es_scored_search

    rows = [
        (1, "spark spark shuffle shuffle partition partition"),
        (2, "spark shuffle partition tuning guide"),
        (3, "spark shuffle partition basics"),
        (4, "cooking pasta with tomato sauce"),
        (5, "gardening tips for spring flowers"),
        (6, "spark appears everywhere spark"),
        (7, "shuffle dance moves"),
        (8, "partition walls for offices"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    body = {"query": {"more_like_this": {
        "fields": ["text"],
        "like": [{"_id": 1}],
        "min_term_freq": 2, "min_doc_freq": 2,
        "minimum_should_match": "67%",
    }}, "sort": [{"doc_id": "asc"}], "size": 10, "_source": ["doc_id"]}
    got = [r["doc_id"] for r in es_search(df, body, id_field="doc_id").collect()]
    # selected terms: spark/shuffle/partition (each tf=2 in doc 1, df>=2);
    # 67% of 3 rounds DOWN to 2 terms required (ES percentage semantics)
    assert got == [1, 2, 3]
    # free-text like + scored context: BM25 over the selected terms
    body = {"query": {"more_like_this": {
        "fields": ["text"],
        "like": "spark spark shuffle shuffle",
        "min_term_freq": 2, "min_doc_freq": 2,
        "minimum_should_match": 1,
    }}, "size": 10}
    out = es_scored_search(df, body, id_field="doc_id").collect()
    assert all(r["_score"] > 0 for r in out)
    assert {r["doc_id"] for r in out} == {1, 2, 3, 6, 7}
    # max_query_terms caps selection by interestingness: "pasta" (df=1
    # with min_doc_freq=1) beats corpus-common "spark"
    body = {"query": {"more_like_this": {
        "fields": ["text"],
        "like": "pasta pasta spark spark",
        "min_term_freq": 2, "min_doc_freq": 1, "max_query_terms": 1,
        "minimum_should_match": 1,
    }}, "size": 10}
    got = sorted(r["doc_id"] for r in
                 es_search(df, body, id_field="doc_id").collect())
    assert got == [4]  # only the pasta doc
    # loud rejections
    with pytest.raises(ValueError, match="explicit fields"):
        es_search(df, {"query": {"more_like_this": {"like": "x"}}},
                  id_field="doc_id")
    with pytest.raises(ValueError, match="unlike"):
        es_search(df, {"query": {"more_like_this": {
            "fields": ["text"], "like": "x", "unlike": "y"}}},
            id_field="doc_id")
    with pytest.raises(ValueError, match="selected no terms"):
        es_search(df, {"query": {"more_like_this": {
            "fields": ["text"], "like": "unique words only once"}}},
            id_field="doc_id")
    # nested inside bool + es_count path
    from hive2es_offline_spark.plans.query_dsl import es_count

    n = es_count(df, {"query": {"bool": {
        "must": [{"more_like_this": {
            "fields": ["text"], "like": [{"_id": 1}],
            "min_term_freq": 2, "min_doc_freq": 2,
            "minimum_should_match": "100%"}}],
        "must_not": [{"term": {"doc_id": 1}}],
    }}}, id_field="doc_id").first()["count"]
    assert n == 2  # docs 2, 3 carry all three selected terms


def test_terms_lookup_resolves_from_document(spark):
    """terms LOOKUP form: the terms list is fetched from a referenced
    document at plan-build time (one id-pruned scan); a missing lookup
    doc matches nothing, exactly like ES."""
    from hive2es_offline_spark.plans.query_dsl import es_search

    df = spark.createDataFrame(
        [(1, "alice", ["red", "blue"]), (2, "bob", ["green"]),
         (3, "red", None), (4, "blue", None), (5, "green", None)],
        "id long, color string, followed array<string>")
    body = {"query": {"terms": {"color": {
        "index": "t", "id": 1, "path": "followed"}}},
        "sort": [{"id": "asc"}], "_source": ["id"]}
    got = [r["id"] for r in es_search(df, body, id_field="id").collect()]
    assert got == [3, 4]
    # missing lookup doc -> empty terms -> no hits (not an error)
    body = {"query": {"terms": {"color": {
        "index": "t", "id": 999, "path": "followed"}}}, "_source": ["id"]}
    assert es_search(df, body, id_field="id").count() == 0
    # scalar path value is accepted as a single term
    body = {"query": {"terms": {"color": {
        "index": "t", "id": 2, "path": "color"}}}, "_source": ["id"]}
    got = [r["id"] for r in es_search(df, body, id_field="id").collect()]
    assert got == [2]
    with pytest.raises(ValueError, match="id and path"):
        es_search(df, {"query": {"terms": {"color": {"index": "t"}}}},
                  id_field="id")
    with pytest.raises(ValueError, match="terms-lookup option"):
        es_search(df, {"query": {"terms": {"color": {
            "id": 1, "path": "followed", "cache": True}}}}, id_field="id")


def test_highlight_fragments(spark):
    """Opt-in highlight fragments: a JSON array of up to
    number_of_fragments snippets of ~fragment_size chars around matches,
    terms tag-wrapped inside each; default (no fragment opts) keeps the
    whole-field behavior; number_of_fragments: 0 = whole field (ES)."""
    import json as _json

    from hive2es_offline_spark.plans.query_dsl import es_search

    long_text = ("alpha " + "x " * 40 + "merge point one " + "y " * 40
                 + "merge point two " + "z " * 40 + "tail")
    df = spark.createDataFrame([(1, long_text)], "id long, t string")
    body = {"query": {"match": {"t": "merge"}},
            "highlight": {"fields": {"t": {
                "fragment_size": 40, "number_of_fragments": 2}}}}
    out = es_search(df, body, id_field="id").collect()[0]
    frags = _json.loads(out["t_highlight"])
    assert len(frags) == 2
    for f in frags:
        assert "<em>merge</em>" in f
        assert len(f) <= 40 + len("<em></em>") + 10  # window + tags + word run-over
    # cap: only the first number_of_fragments windows survive
    body["highlight"]["fields"]["t"]["number_of_fragments"] = 1
    out = es_search(df, body, id_field="id").collect()[0]
    assert len(_json.loads(out["t_highlight"])) == 1
    # number_of_fragments: 0 -> whole field, scalar column (ES semantics)
    body["highlight"]["fields"]["t"] = {"number_of_fragments": 0}
    out = es_search(df, body, id_field="id").collect()[0]
    assert out["t_highlight"].count("<em>merge</em>") == 2
    assert not out["t_highlight"].startswith("[")
    # body-level defaults apply per field
    body = {"query": {"match": {"t": "merge"}},
            "highlight": {"fragment_size": 30, "fields": {"t": {}}}}
    out = es_search(df, body, id_field="id").collect()[0]
    assert isinstance(_json.loads(out["t_highlight"]), list)


def test_span_queries(spark):
    """span_term / span_or / span_near (in_order + slop, Lucene unit-span
    gap measure) / span_first / span_not over the analyzed position
    arrays."""
    df = spark.createDataFrame(
        [(1, "alpha bravo charlie delta"),
         (2, "charlie x alpha"),
         (3, "alpha x x charlie"),
         (4, "delta echo"),
         (5, "alpha, charlie!")],
        "id long, t string")

    def hits(q):
        return sorted(r["id"] for r in df.where(
            F.coalesce(compile_query(q, "id"), F.lit(False))).collect())

    assert hits({"span_term": {"t": "charlie"}}) == [1, 2, 3, 5]
    assert hits({"span_or": {"clauses": [
        {"span_term": {"t": "bravo"}}, {"span_term": {"t": "echo"}},
    ]}}) == [1, 4]
    # span_near in_order slop 0: adjacent
    near = {"span_near": {"clauses": [
        {"span_term": {"t": "alpha"}}, {"span_term": {"t": "charlie"}},
    ], "slop": 0, "in_order": True}}
    assert hits(near) == [5]
    near["span_near"]["slop"] = 2
    assert hits(near) == [1, 3, 5]
    # unordered: doc 2 (charlie x alpha) enters at slop >= 1
    near["span_near"]["in_order"] = False
    near["span_near"]["slop"] = 1
    assert hits(near) == [1, 2, 5]
    # span_first: match must end by position `end`
    assert hits({"span_first": {
        "match": {"span_term": {"t": "charlie"}}, "end": 1}}) == [2]
    # span_not: an alpha not immediately... (unit spans: position not in
    # exclude set) — exclude alpha occurrences that are also charlie
    # positions is trivial; use span_or exclude to make it meaningful
    assert hits({"span_not": {
        "include": {"span_or": {"clauses": [
            {"span_term": {"t": "bravo"}}, {"span_term": {"t": "x"}}]}},
        "exclude": {"span_term": {"t": "bravo"}},
    }}) == [2, 3]
    # loud rejections: mixed fields, non-span children
    with pytest.raises(ValueError, match="one field"):
        hits({"span_near": {"clauses": [
            {"span_term": {"t": "alpha"}}, {"span_term": {"id": "1"}}]}})
    with pytest.raises(ValueError, match="span_term, span_multi"):
        hits({"span_near": {"clauses": [
            {"span_term": {"t": "alpha"}}, {"term": {"t": "x"}}]}})
    # scored context: constant 1.0 like other structural clauses
    from hive2es_offline_spark.plans.scoring import es_scored_search

    out = es_scored_search(df, {"query": near, "size": 10},
                           id_field="id").collect()
    assert {r["id"]: r["_score"] for r in out} == {1: 1.0, 2: 1.0, 5: 1.0}


def test_named_queries_matched_queries_column(spark):
    """ES named queries: clauses with _name produce a matched_queries
    JSON column listing which named clauses each hit satisfies (sorted);
    the same name on several clauses matches if any does."""
    import json as _json

    from hive2es_offline_spark.plans.query_dsl import es_search
    from hive2es_offline_spark.plans.scoring import es_scored_search

    df = spark.createDataFrame(
        [(1, "en", 10), (2, "fr", 20), (3, "en", 30)],
        "id long, lang string, n long")
    body = {"query": {"bool": {
        "must": [{"range": {"n": {"gte": 10, "_name": "n_ok"}}}],
        "should": [
            {"term": {"lang": {"value": "en", "_name": "is_en"}}},
            {"range": {"n": {"gte": 25, "_name": "big"}}},
        ],
    }}, "sort": [{"id": "asc"}], "_source": ["id"]}
    out = es_search(df, body, id_field="id").collect()
    got = {r["id"]: _json.loads(r["matched_queries"]) for r in out}
    assert got == {1: ["is_en", "n_ok"], 2: ["n_ok"],
                   3: ["big", "is_en", "n_ok"]}
    # same name on two clauses: either match surfaces it once
    body = {"query": {"bool": {"should": [
        {"term": {"lang": {"value": "en", "_name": "x"}}},
        {"range": {"n": {"gte": 15, "_name": "x"}}},
    ]}}, "sort": [{"id": "asc"}], "_source": ["id"]}
    out = es_search(df, body, id_field="id").collect()
    assert all(_json.loads(r["matched_queries"]) == ["x"] for r in out)
    # scored context carries the column through score/cut/projection
    body = {"query": {"bool": {
        "must": [{"range": {"n": {"gte": 10}}}],
        "should": [{"term": {"lang": {"value": "fr", "_name": "is_fr"}}}],
    }}, "size": 10, "_source": ["id"]}
    out = es_scored_search(df, body, id_field="id").collect()
    got = {r["id"]: _json.loads(r["matched_queries"]) for r in out}
    assert got == {1: [], 2: ["is_fr"], 3: []}
    # a body with no _name markers adds no column
    out = es_search(df, {"query": {"match_all": {}}, "_source": ["id"]},
                    id_field="id")
    assert "matched_queries" not in out.columns


def test_geo_metric_aggs(spark):
    """geo_centroid (planar mean + count) and geo_bounds (bounding box)
    over struct{lat,lon} columns, incl. inside a terms bucket."""
    df = spark.createDataFrame(
        [(1, "a", {"lat": 10.0, "lon": 20.0}),
         (2, "a", {"lat": 30.0, "lon": -40.0}),
         (3, "b", {"lat": -5.0, "lon": 5.0}),
         (4, "b", None)],
        "id long, g string, loc struct<lat: double, lon: double>")
    out = compile_aggs(df, {
        "c": {"geo_centroid": {"field": "loc"}},
        "b": {"geo_bounds": {"field": "loc"}},
    }, "id").collect()[0]
    assert (out["c_lat"], out["c_lon"], out["c_count"]) == (
        pytest.approx(35.0 / 3), pytest.approx(-5.0), 3)
    assert (out["b_top"], out["b_bottom"], out["b_left"], out["b_right"]) == (
        30.0, -5.0, -40.0, 20.0)
    rows = {r["key"]: r for r in compile_aggs(df, {
        "t": {"terms": {"field": "g"},
              "aggs": {"c": {"geo_centroid": {"field": "loc"}}}},
    }, "id").collect()}
    assert rows["a"]["c_lat"] == pytest.approx(20.0)
    assert rows["b"]["c_count"] == 1


def test_sampler_and_diversified_sampler(spark):
    """sampler: sub-aggs over a deterministic hash-ordered top
    shard_size sample; diversified_sampler additionally caps docs per
    field value."""
    df = spark.createDataFrame(
        [(i, "g%d" % (i % 3), float(i)) for i in range(100)],
        "id long, g string, v double")
    out = compile_aggs(df, {"s": {
        "sampler": {"shard_size": 10},
        "aggs": {"n": {"value_count": {"field": "v"}}},
    }}, "id").collect()[0]
    assert out["n"] == 10
    # deterministic across invocations
    out2 = compile_aggs(df, {"s": {
        "sampler": {"shard_size": 10},
        "aggs": {"avg_v": {"avg": {"field": "v"}}},
    }}, "id").collect()[0]
    out3 = compile_aggs(df, {"s": {
        "sampler": {"shard_size": 10},
        "aggs": {"avg_v": {"avg": {"field": "v"}}},
    }}, "id").collect()[0]
    assert out2["avg_v"] == out3["avg_v"]
    # bare sampler returns its doc_count
    out = compile_aggs(df, {"s": {"sampler": {"shard_size": 7}}}, "id").first()
    assert out["doc_count"] == 7
    # diversified: at most max_docs_per_value rows per g before the cut
    out = compile_aggs(df, {"s": {
        "diversified_sampler": {"shard_size": 50, "field": "g",
                                "max_docs_per_value": 2},
        "aggs": {"n": {"value_count": {"field": "v"}}},
    }}, "id").first()
    assert out["n"] == 6  # 3 values x 2 docs
    with pytest.raises(ValueError, match="only top-level"):
        compile_aggs(df, {"s": {"sampler": {}},
                          "other": {"avg": {"field": "v"}}}, "id")


def test_auto_date_histogram(spark):
    """auto_date_histogram picks the smallest ladder interval keeping
    the bucket count <= `buckets` and surfaces it as `interval`."""
    import datetime as dt

    rows = [(i, dt.datetime(2024, 1, 1) + dt.timedelta(hours=i))
            for i in range(48)]  # 2-day span
    df = spark.createDataFrame(rows, "id long, ts timestamp")
    out = compile_aggs(df, {"h": {
        "auto_date_histogram": {"field": "ts", "buckets": 4}}}, "id")
    got = out.collect()
    # 47h span / 12h = 4 buckets — the smallest ladder step within target
    assert all(r["interval"] == "12h" for r in got)
    assert len(got) == 4 and sorted(r["doc_count"] for r in got) == [12] * 4
    out = compile_aggs(df, {"h": {
        "auto_date_histogram": {"field": "ts", "buckets": 2}}}, "id")
    got = out.collect()
    assert all(r["interval"] == "1d" for r in got) and len(got) == 2
    # tighter target -> weekly; wider -> hourly
    out = compile_aggs(df, {"h": {
        "auto_date_histogram": {"field": "ts", "buckets": 60}}}, "id")
    assert out.first()["interval"] == "1h"
    # multi-year span falls back to calendar years
    rows = [(i, dt.datetime(2000 + i, 6, 1)) for i in range(20)]
    df = spark.createDataFrame(rows, "id long, ts timestamp")
    out = compile_aggs(df, {"h": {
        "auto_date_histogram": {"field": "ts", "buckets": 10}}}, "id")
    got = out.collect()
    assert all(r["interval"] == "1y" for r in got) and len(got) == 20
    # sub-aggs ride along
    out = compile_aggs(df, {"h": {
        "auto_date_histogram": {"field": "ts", "buckets": 10},
        "aggs": {"m": {"max": {"field": "id"}}}}}, "id")
    assert "m" in out.columns


def test_r9_review_fixes_lookup_named_geo(spark):
    """Second-pass review fixes: terms lookups resolve inside agg
    filters / function_score filters / knn filters and reject loudly
    where no frame is in hand; _name markers are stripped on every
    compile path (es_count, nested); geo_centroid counts only points
    with both coordinates."""
    import json as _json

    from hive2es_offline_spark.plans.query_dsl import es_count, es_search

    df = spark.createDataFrame(
        [(1, "alice", ["red", "blue"], {"lat": 10.0, "lon": 20.0}),
         (2, "bob", ["green"], {"lat": 30.0, "lon": None}),
         (3, "red", None, None), (4, "blue", None, None),
         (5, "green", None, None)],
        "id long, color string, followed array<string>, "
        "loc struct<lat: double, lon: double>")
    # terms lookup inside an aggs filter bucket resolves (was silently
    # matching the dict KEYS)
    out = es_search(df, {"size": 0, "aggs": {"b": {
        "filter": {"terms": {"color": {"index": "t", "id": 1,
                                       "path": "followed"}}},
        "aggs": {"n": {"value_count": {"field": "id"}}},
    }}}, id_field="id").first()
    assert out["n"] == 2  # docs 3 and 4
    # ... and inside a function_score per-function filter
    from hive2es_offline_spark.plans.scoring import es_scored_search

    out = es_scored_search(df, {"query": {"function_score": {
        "query": {"match_all": {}},
        "functions": [{"filter": {"terms": {"color": {
            "index": "t", "id": 1, "path": "followed"}}}, "weight": 5.0}],
    }}, "size": 10}, id_field="id").collect()
    assert {r["id"]: r["_score"] for r in out} == {
        1: 1.0, 2: 1.0, 3: 5.0, 4: 5.0, 5: 1.0}
    # a lookup reaching the compiler without a frame rejects loudly
    with pytest.raises(ValueError, match="lookup form reached the compiler"):
        compile_query({"terms": {"color": {"index": "t", "id": 1,
                                           "path": "followed"}}}, "id")
    # _name on es_count path and inside nested bodies no longer breaks
    n = es_count(df, {"query": {"terms": {"color": ["red", "blue"],
                                          "_name": "x"}}},
                 id_field="id").first()["count"]
    assert n == 2
    # geo_centroid: doc 2's half point (lon NULL) is excluded everywhere
    out = compile_aggs(df, {"c": {"geo_centroid": {"field": "loc"}}},
                       "id").first()
    assert (out["c_lat"], out["c_lon"], out["c_count"]) == (10.0, 20.0, 1)


def test_auto_date_histogram_alignment_never_overflows(spark):
    """code-review r9: the interval choice counts EPOCH-ALIGNED buckets,
    so alignment can't yield target+1 buckets (a 46h span crossing two
    midnight boundaries needs 1d, not 12h, for buckets=4)."""
    import datetime as dt

    rows = [(0, dt.datetime(2024, 1, 1, 11)), (1, dt.datetime(2024, 1, 3, 9))]
    df = spark.createDataFrame(rows, "id long, ts timestamp")
    out = compile_aggs(df, {"h": {
        "auto_date_histogram": {"field": "ts", "buckets": 4}}}, "id")
    got = out.collect()
    # 12h would produce 5 aligned buckets (01-01T00 .. 01-03T00) — the
    # aligned count picks 1d (3 buckets <= 4)
    assert all(r["interval"] == "1d" for r in got)
    assert len(got) <= 4


def test_unknown_body_keys_reject_loudly(spark):
    """ES-style strict body parsing: a typo'd top-level key must not
    silently return the unfiltered table; response-shaping hints with no
    flat-frame meaning are accepted as no-ops."""
    from hive2es_offline_spark.plans.query_dsl import es_search
    from hive2es_offline_spark.plans.scoring import es_scored_search

    df = spark.createDataFrame([(1, "a")], "id long, t string")
    with pytest.raises(ValueError, match="sizee"):
        es_search(df, {"query": {"match_all": {}}, "sizee": 5}, id_field="id")
    with pytest.raises(ValueError, match="qeury"):
        es_scored_search(df, {"qeury": {"match_all": {}}}, id_field="id")
    # accepted no-ops pass through
    assert es_search(df, {"query": {"match_all": {}},
                          "track_total_hits": True, "timeout": "2s"},
                     id_field="id").count() == 1


# --- approximate percentiles (round 10: tdigest.compression scale path) -----


def test_percentiles_tdigest_compression_routes_to_sketch(spark):
    vals = spark.range(1, 10_001).select(
        F.col("id").alias("_id"), F.col("id").cast("double").alias("v"))
    exact = compile_aggs(
        vals, {"p": {"percentiles": {"field": "v", "percents": [50, 95]}}}
    )
    approx = compile_aggs(
        vals, {"p": {"percentiles": {"field": "v", "percents": [50, 95],
                                     "tdigest": {"compression": 100}}}}
    )
    # the scale path swaps the full-buffer exact aggregate for the
    # bounded-memory sketch — assert the PLAN, not just the values
    exact_plan = exact._jdf.queryExecution().executedPlan().toString()
    approx_plan = approx._jdf.queryExecution().executedPlan().toString()
    assert "approx" not in exact_plan.lower()
    assert "percentile" in exact_plan.lower()
    assert "approx" in approx_plan.lower()
    e, a = exact.collect()[0], approx.collect()[0]
    assert e["p_p50"] == 5000.5  # exact interpolates
    # sketch tolerance: within 1% of the exact value at compression 100
    assert abs(a["p_p50"] - e["p_p50"]) <= 0.01 * e["p_p50"]
    assert abs(a["p_p95"] - e["p_p95"]) <= 0.01 * e["p_p95"]
    # schema identical either way (doubles)
    assert exact.schema == approx.schema


def test_boxplot_compression_routes_to_sketch(spark):
    vals = spark.range(1, 1_001).select(
        F.col("id").alias("_id"), F.col("id").cast("double").alias("v"))
    exact = compile_aggs(vals, {"b": {"boxplot": {"field": "v"}}})
    approx = compile_aggs(
        vals, {"b": {"boxplot": {"field": "v", "compression": 200}}})
    assert "approx" in approx._jdf.queryExecution().executedPlan().toString().lower()
    e, a = exact.collect()[0], approx.collect()[0]
    assert (e["b_min"], e["b_max"]) == (a["b_min"], a["b_max"])  # exact extremes
    for q in ("b_q1", "b_q2", "b_q3"):
        assert abs(a[q] - e[q]) <= 0.02 * e[q]
    assert exact.schema == approx.schema


def test_es_mget_duplicate_winner_is_layout_stable(spark):
    """VERDICT r9 #8: the duplicate-id winner must not depend on file /
    partition order — reversing and repartitioning the corpus must pick
    the same row."""
    from hive2es_offline_spark.plans.query_dsl import es_mget

    rows = [(1, "b", 20.0), (1, "a", 10.0), (2, "z", 5.0), (1, "c", 30.0)]
    df_fwd = spark.createDataFrame(rows, "id long, tag string, v double")
    df_rev = spark.createDataFrame(rows[::-1],
                                   "id long, tag string, v double")
    body = {"ids": [1, 2], "_source": ["tag", "v"]}
    a = es_mget(df_fwd.repartition(4), body, id_field="id").collect()
    b = es_mget(df_rev.coalesce(1), body, id_field="id").collect()
    assert [(r["mget_id"], r["tag"], r["v"]) for r in a] \
        == [(r["mget_id"], r["tag"], r["v"]) for r in b]
    # sorted-name column order: tag 'a' (then v) wins for id 1
    assert a[0]["tag"] == "a" and a[0]["v"] == 10.0


# --- scripted_metric (round 10) ----------------------------------------------


def test_scripted_metric_conditional_sum(spark):
    d = spark.createDataFrame(
        [(1, "sale", 10.0), (2, "sale", 30.5), (3, "refund", 5.0)],
        "id long, kind string, amount double",
    )
    out = compile_aggs(d, {"profit": {"scripted_metric": {
        "init_script": "state.total = 0",
        "map_script": ("if (doc['kind'].value == params.k) "
                       "{ state.total += doc['amount'].value }"),
        "combine_script": "return state.total",
        "reduce_script": ("double total = 0; for (a in states) "
                          "{ total += a } return total"),
        "params": {"k": "sale"},
    }}}).collect()
    assert out[0]["profit"] == 40.5


def test_scripted_metric_multiple_vars_and_bucket_gate(spark):
    d = spark.createDataFrame(
        [(1, "a", 10.0), (2, "a", 20.0), (3, "b", 5.0)],
        "id long, seg string, v double",
    )
    out = compile_aggs(d, {"m": {
        "terms": {"field": "seg"},
        "aggs": {"s": {"scripted_metric": {
            "map_script": "state.t += doc['v'].value; state.n += 1",
        }}}}}).collect()
    by_key = {r["key"]: r for r in out}
    assert by_key["a"]["s_t"] == 30.0 and by_key["a"]["s_n"] == 2.0
    assert by_key["b"]["s_t"] == 5.0 and by_key["b"]["s_n"] == 1.0


def test_scripted_metric_rejects_non_additive_programs(spark):
    d = spark.createDataFrame([(1, 1.0)], "id long, v double")
    with pytest.raises(ValueError, match="init statement"):
        compile_aggs(d, {"m": {"scripted_metric": {
            "init_script": "state.t = 5",
            "map_script": "state.t += doc['v'].value"}}})
    with pytest.raises(ValueError, match="combine_script"):
        compile_aggs(d, {"m": {"scripted_metric": {
            "map_script": "state.t += doc['v'].value",
            "combine_script": "return state.t * 2"}}})
    with pytest.raises(ValueError, match="reduce_script"):
        compile_aggs(d, {"m": {"scripted_metric": {
            "map_script": "state.t += doc['v'].value",
            "reduce_script": ("double m = 0; for (a in states) "
                              "{ m = Math.max(m, a) } return m")}}})
    with pytest.raises(ValueError, match="map statement"):
        compile_aggs(d, {"m": {"scripted_metric": {
            "map_script": "state.t = doc['v'].value"}}})


# --- scroll paging (round 10) -------------------------------------------------


def test_es_scroll_pages_are_disjoint_and_ordered(spark):
    from hive2es_offline_spark.plans.query_dsl import es_scroll

    df = spark.createDataFrame(
        [(i, i % 3) for i in range(1, 11)], "id long, grp long")
    body = {"sort": [{"grp": "asc"}], "size": 4, "_source": ["id", "grp"],
            "scroll": "1m"}
    seen, sid = [], None
    for _ in range(5):
        page, sid = es_scroll(df, body, id_field="id", scroll_id=sid)
        seen.append([(r["grp"], r["id"]) for r in page.collect()])
        if sid is None:
            break
    flat = [x for p in seen for x in p]
    # full coverage, no duplicates, total order (grp asc, id asc tiebreak)
    assert flat == sorted([(i % 3, i) for i in range(1, 11)])
    assert [len(p) for p in seen] == [4, 4, 2]  # short page terminates


def test_es_scroll_typed_cursor_round_trip(spark):
    """ADVICE r10 / VERDICT r10 #8: fractional-second timestamp and
    decimal sort keys must survive the JSON cursor round-trip exactly —
    ``default=str`` used to stringify them and the implicit string-vs-
    typed-column cast could skip or duplicate rows at a page boundary.
    Pages through the whole frame and asserts every row visited once."""
    from datetime import datetime
    from decimal import Decimal

    from hive2es_offline_spark.plans.query_dsl import es_scroll

    # adjacent microsecond timestamps that straddle page boundaries, plus
    # duplicate ts values so the decimal secondary key does real work
    rows = [
        (i,
         datetime(2024, 3, 1, 12, 0, 0, 100000 + (i // 2)),  # dup pairs
         Decimal(f"{i}.{i:06d}"))
        for i in range(11)
    ]
    df = spark.createDataFrame(
        rows, "id long, ts timestamp, amt decimal(18,6)")
    body = {"sort": [{"ts": "asc"}, {"amt": "desc"}], "size": 3,
            "_source": ["id", "ts", "amt"]}
    seen, sid = [], None
    for _ in range(6):
        page, sid = es_scroll(df, body, id_field="id", scroll_id=sid)
        seen.extend(r["id"] for r in page.collect())
        if sid is None:
            break
    # exactly-once coverage in cursor order (ts asc, amt desc, id asc)
    expect = [r[0] for r in sorted(rows, key=lambda r: (r[1], -r[2], r[0]))]
    assert seen == expect
    assert sorted(seen) == list(range(11))

    # date sort keys round-trip too
    from datetime import date

    df2 = spark.createDataFrame(
        [(i, date(2024, 1, 1 + i % 3)) for i in range(7)],
        "id long, d date")
    seen2, sid2 = [], None
    for _ in range(5):
        page, sid2 = es_scroll(
            df2, {"sort": [{"d": "asc"}], "size": 2, "_source": ["id", "d"]},
            id_field="id", scroll_id=sid2)
        seen2.extend(r["id"] for r in page.collect())
        if sid2 is None:
            break
    assert sorted(seen2) == list(range(7)) and len(seen2) == 7

    # unsupported sort-key types are rejected loudly, not stringified
    from hive2es_offline_spark.plans.query_dsl import _cursor_encode

    with pytest.raises(ValueError, match="losslessly"):
        _cursor_encode(bytearray(b"\x00"))


def test_es_scroll_rejects_from_and_requires_cursor_columns(spark):
    from hive2es_offline_spark.plans.query_dsl import es_scroll

    df = spark.createDataFrame([(1, 2)], "id long, v long")
    with pytest.raises(ValueError, match="from"):
        es_scroll(df, {"from": 5, "size": 2}, id_field="id")
    with pytest.raises(ValueError, match="cursor"):
        es_scroll(df, {"sort": [{"v": "asc"}], "size": 1,
                       "_source": ["v"]}, id_field="id")


# --- code-review r10 regressions ---------------------------------------------


def test_es_mget_tiebreak_skips_nested_unorderable_columns(spark):
    # code-review r10: array<map<...>> is as unorderable as a top-level
    # map — the tiebreak must skip it recursively, not crash
    from hive2es_offline_spark.plans.query_dsl import es_mget

    df = spark.createDataFrame(
        [(1, "a", [{"k": "v"}]), (1, "b", [{"k": "w"}]), (2, "c", [])],
        "id long, tag string, tags array<map<string,string>>",
    )
    out = es_mget(df, {"ids": [1, 2], "_source": ["tag"]},
                  id_field="id").collect()
    assert [(r["mget_id"], r["tag"]) for r in out] == [("1", "a"), ("2", "c")]


def test_cross_fields_operator_is_case_insensitive(spark):
    # code-review r10: ES sends operator "AND" — must not degrade to OR
    df = spark.createDataFrame(
        [(1, "alpha only", "nothing"), (2, "alpha here", "beta there")],
        "id long, t1 string, t2 string",
    )
    got = sorted(r["id"] for r in df.where(compile_query(
        {"multi_match": {"query": "alpha beta", "fields": ["t1", "t2"],
                         "type": "cross_fields", "operator": "AND"}},
        "id")).collect())
    assert got == [2]


def test_intervals_unordered_duplicate_terms_need_distinct_positions(spark):
    # code-review r10: "foo foo" unordered+unbounded must require two
    # foo positions (one interval per source), consistent with the
    # bounded path
    from hive2es_offline_spark.plans.query_dsl import _intervals_predicate

    df = spark.createDataFrame(
        [(1, "foo bar"), (2, "foo bar foo")], "id long, txt string")
    toks = F.split(F.col("txt"), " ")
    pred = _intervals_predicate(toks, {"match": {"query": "foo foo"}})
    assert sorted(r["id"] for r in df.where(pred).collect()) == [2]


def test_scripted_metric_combine_var_selection(spark):
    # code-review r10: `return state.a` selects ONE accumulator — the
    # others must not leak out as extra columns
    d = spark.createDataFrame([(1, 2.0, 5.0)], "id long, x double, y double")
    out = compile_aggs(d, {"m": {"scripted_metric": {
        "map_script": "state.a += doc['x'].value; state.b += doc['y'].value",
        "combine_script": "return state.a",
    }}})
    assert out.columns == ["m"]
    assert out.collect()[0]["m"] == 2.0
    with pytest.raises(ValueError, match="never accumulates"):
        compile_aggs(d, {"m": {"scripted_metric": {
            "map_script": "state.a += doc['x'].value",
            "combine_script": "return state.z"}}})


def test_scored_has_child_rejects_unsupported_body_keys(spark):
    from hive2es_offline_spark.plans.join_field import es_parent_child

    df = spark.createDataFrame(
        [(1, "question", None, "t"), (2, "answer", 1, "t")],
        "id long, relation string, parent_id long, txt string")
    with pytest.raises(ValueError, match="scored has_child"):
        es_parent_child(df, {
            "query": {"has_child": {"type": "answer",
                                    "query": {"match_all": {}},
                                    "score_mode": "sum"}},
            "sort": [{"id": "asc"}], "size": 5, "_source": ["id"],
        }, id_field="id")


def test_es_scroll_page_is_local_single_job(spark):
    # code-review r10: each scroll call runs one job; the returned page
    # is a local relation, so consuming it does not re-run the search
    from hive2es_offline_spark.plans.query_dsl import es_scroll

    df = spark.createDataFrame([(i,) for i in range(9)], "id long")
    page, sid = es_scroll(df, {"size": 4, "_source": ["id"]},
                          id_field="id")
    # the returned page reads the collected rows (ExistingRDD of driver
    # data), not the search plan — no sort/filter/limit to re-run
    plan = page._jdf.queryExecution().executedPlan().toString()
    assert "ExistingRDD" in plan or "LocalTableScan" in plan
    assert "TakeOrdered" not in plan and "Sort" not in plan
    assert [r["id"] for r in page.collect()] == [0, 1, 2, 3]
    assert sid is not None


def test_zero_terms_query_defaults_to_none(spark):
    # ES: a match whose query analyzes to NOTHING matches no documents
    # by default; zero_terms_query "all" opts into match_all (pre-r10
    # the engine silently did "all")
    df = spark.createDataFrame([(1, "alpha")], "id long, txt string")
    assert df.where(compile_query(
        {"match": {"txt": "!!!"}}, "id")).count() == 0
    assert df.where(compile_query(
        {"match": {"txt": {"query": "!!!", "zero_terms_query": "all"}}},
        "id")).count() == 1
    assert df.where(compile_query(
        {"match_phrase": {"txt": "..."}}, "id")).count() == 0
    assert df.where(compile_query(
        {"multi_match": {"query": "%", "fields": ["txt"],
                         "type": "cross_fields"}}, "id")).count() == 0
    assert df.where(compile_query(
        {"intervals": {"txt": {"match": {"query": "~"}}}}, "id")).count() == 0


def test_multi_match_fuzziness_passthrough_and_validation(spark):
    df = spark.createDataFrame(
        [(1, "building", "x"), (2, "buildinx", "y"), (3, "nope", "z")],
        "id long, a string, b string",
    )
    got = sorted(r["id"] for r in df.where(compile_query(
        {"multi_match": {"query": "building", "fields": ["a", "b"],
                         "fuzziness": 1}}, "id")).collect())
    assert got == [1, 2]  # buildinx is one edit away
    with pytest.raises(ValueError, match="fuzziness"):
        compile_query({"multi_match": {
            "query": "building", "fields": ["a"], "type": "phrase",
            "fuzziness": 1}}, "id")
    with pytest.raises(ValueError, match="multi_match option"):
        compile_query({"multi_match": {
            "query": "x", "fields": ["a"], "analyzer": "keyword"}}, "id")


def test_zero_terms_query_validation_and_type_forwarding(spark):
    # code-review r10 second pass: bad enum values reject; every
    # multi_match type forwards zero_terms_query
    df = spark.createDataFrame([(1, "alpha", "beta")],
                               "id long, t1 string, t2 string")
    with pytest.raises(ValueError, match="zero_terms_query"):
        compile_query({"match": {"t1": {
            "query": "!!!", "zero_terms_query": "alll"}}}, "id")
    for t in ("phrase", "phrase_prefix", "bool_prefix", "cross_fields"):
        q = {"multi_match": {"query": "!!!", "fields": ["t1", "t2"],
                             "type": t, "zero_terms_query": "all"}}
        assert df.where(compile_query(q, "id")).count() == 1, t
    q = {"combined_fields": {"query": "%%", "fields": ["t1"],
                             "zero_terms_query": "all"}}
    assert df.where(compile_query(q, "id")).count() == 1
    with pytest.raises(ValueError, match="not be empty"):
        compile_query({"combined_fields": {"query": "x", "fields": []}},
                      "id")


# --- round 11: span_within / span_containing / span_multi --------------------


class TestSpanFamily:
    @pytest.fixture()
    def df(self, spark):
        return spark.createDataFrame(
            [(1, "the quick brown fox jumps over the lazy dog"),
             (2, "quick fox"),
             (3, "fox then much later quick brown arrives"),
             (4, "a quicker fix"),
             (5, None)],
            "id long, t string")

    def test_span_multi_standalone(self, df):
        assert ids(df, {"span_multi": {"match": {
            "prefix": {"t": "qui"}}}}) == [1, 2, 3, 4]
        assert ids(df, {"span_multi": {"match": {
            "wildcard": {"t": "f?x"}}}}) == [1, 2, 3, 4]
        assert ids(df, {"span_multi": {"match": {
            "regexp": {"t": "do.|laz."}}}}) == [1]
        with pytest.raises(ValueError, match="span_multi supports"):
            ids(df, {"span_multi": {"match": {"term": {"t": "fox"}}}})

    def test_span_multi_inside_span_near(self, df):
        # prefix child in a near: quick* within 1 of fox, in order
        q = {"span_near": {"clauses": [
            {"span_multi": {"match": {"prefix": {"t": "quick"}}}},
            {"span_term": {"t": "fox"}},
        ], "slop": 2, "in_order": True}}
        assert ids(df, q) == [1, 2]

    def test_span_within_and_containing(self, df):
        # little: the single term "brown"; big: quick...jumps within slop
        big = {"span_near": {"clauses": [
            {"span_term": {"t": "quick"}},
            {"span_term": {"t": "jumps"}},
        ], "slop": 3, "in_order": True}}
        little = {"span_term": {"t": "brown"}}
        assert ids(df, {"span_within": {
            "little": little, "big": big}}) == [1]
        # doc-level filter semantics: containing gives the same hit set
        assert ids(df, {"span_containing": {
            "little": little, "big": big}}) == [1]
        # a little OUTSIDE every big occurrence does not hit
        assert ids(df, {"span_within": {
            "little": {"span_term": {"t": "dog"}}, "big": big}}) == []
        # 3-clause big, span_or little
        big3 = {"span_near": {"clauses": [
            {"span_term": {"t": "quick"}},
            {"span_term": {"t": "fox"}},
            {"span_term": {"t": "over"}},
        ], "slop": 3, "in_order": True}}
        little_or = {"span_or": {"clauses": [
            {"span_term": {"t": "jumps"}},
            {"span_term": {"t": "nothere"}}]}}
        assert ids(df, {"span_within": {
            "little": little_or, "big": big3}}) == [1]

    def test_span_within_validation(self, df):
        big = {"span_near": {"clauses": [
            {"span_term": {"t": "quick"}},
            {"span_term": {"t": "jumps"}}], "slop": 3,
            "in_order": False}}
        with pytest.raises(ValueError, match="in_order"):
            ids(df, {"span_within": {
                "little": {"span_term": {"t": "brown"}}, "big": big}})
        with pytest.raises(ValueError, match="share a field"):
            ids(df, {"span_within": {
                "little": {"span_term": {"other": "x"}},
                "big": {"span_term": {"t": "quick"}}}})

    def test_span_unit_big_contains_only_same_position(self, df):
        # a unit big can only contain an identical-position little
        assert ids(df, {"span_within": {
            "little": {"span_term": {"t": "fox"}},
            "big": {"span_term": {"t": "fox"}}}}) == [1, 2, 3]
        assert ids(df, {"span_within": {
            "little": {"span_term": {"t": "fox"}},
            "big": {"span_term": {"t": "quick"}}}}) == []


def test_span_within_mixed_field_big_rejected(spark):
    # code-review r11: a span_near inside within/containing whose LATER
    # clause names another field must reject, not silently evaluate
    # against the first clause's tokens
    df = spark.createDataFrame(
        [(1, "quick brown jumps", "zzz")], "id long, t string, other string")
    with pytest.raises(ValueError, match="one field"):
        ids(df, {"span_within": {
            "little": {"span_term": {"t": "brown"}},
            "big": {"span_near": {"clauses": [
                {"span_term": {"t": "quick"}},
                {"span_term": {"other": "jumps"}}], "slop": 3}}}})


# --- round 11: t_test metric + matrix_stats aggregation ----------------------


class TestStatTests:
    @pytest.fixture()
    def df(self, spark):
        rows = [(i, float(i), float(2 * i + 1), float(10 - i) if i < 8 else None)
                for i in range(10)]
        return spark.createDataFrame(rows, "id long, a double, b double, c double")

    def test_t_test_paired(self, df, spark):
        from hive2es_offline_spark.plans.query_dsl import es_search

        body = {"size": 0, "aggs": {"tt": {"t_test": {
            "a": {"field": "a"}, "b": {"field": "b"}, "type": "paired"}}}}
        r = es_search(df, body, id_field="id").collect()[0]
        # d = a - b = -(i+1): mean -5.5, sd sqrt(variance of -i-1)=sd(i)
        import statistics
        d = [i - (2 * i + 1) for i in range(10)]
        t = statistics.mean(d) / (statistics.stdev(d) / 10 ** 0.5)
        assert r["tt_t"] == pytest.approx(t, abs=2e-6)
        assert r["tt_df"] == 9

    def test_t_test_welch_and_pooled(self, df):
        from hive2es_offline_spark.plans.query_dsl import es_search

        import statistics
        a = [float(i) for i in range(10)]
        b = [float(2 * i + 1) for i in range(10)]
        va, vb = statistics.variance(a), statistics.variance(b)
        ma, mb = statistics.mean(a), statistics.mean(b)
        tw = (ma - mb) / (va / 10 + vb / 10) ** 0.5
        body = {"size": 0, "aggs": {"tt": {"t_test": {
            "a": {"field": "a"}, "b": {"field": "b"}}}}}  # default Welch
        r = es_search(df, body, id_field="id").collect()[0]
        assert r["tt_t"] == pytest.approx(tw, abs=2e-6)
        sp2 = ((10 - 1) * va + (10 - 1) * vb) / 18
        tp = (ma - mb) / (sp2 * (2 / 10)) ** 0.5
        body["aggs"]["tt"]["t_test"]["type"] = "homoscedastic"
        r = es_search(df, body, id_field="id").collect()[0]
        assert r["tt_t"] == pytest.approx(tp, abs=2e-6)
        assert r["tt_df"] == 18
        body["aggs"]["tt"]["t_test"]["type"] = "nope"
        with pytest.raises(ValueError, match="t_test type"):
            es_search(df, body, id_field="id").collect()

    def test_t_test_degenerate_populations_null(self, spark):
        # (ADVICE r11) n < 2 per arm or zero variance used to divide by
        # zero and emit NaN/Infinity — the contract is NULL t and NULL df
        from hive2es_offline_spark.plans.query_dsl import es_search

        one = spark.createDataFrame([(1, 3.0, 4.0)],
                                    "id long, a double, b double")
        for ttype in ("paired", "homoscedastic", "heteroscedastic"):
            body = {"size": 0, "aggs": {"tt": {"t_test": {
                "a": {"field": "a"}, "b": {"field": "b"},
                "type": ttype}}}}
            r = es_search(one, body, id_field="id").collect()[0]
            assert r["tt_t"] is None, ttype
            assert r["tt_df"] is None, ttype
        # zero variance with n >= 2: constant columns
        const = spark.createDataFrame(
            [(i, 5.0, 7.0) for i in range(4)],
            "id long, a double, b double")
        for ttype in ("paired", "homoscedastic", "heteroscedastic"):
            body = {"size": 0, "aggs": {"tt": {"t_test": {
                "a": {"field": "a"}, "b": {"field": "b"},
                "type": ttype}}}}
            r = es_search(const, body, id_field="id").collect()[0]
            assert r["tt_t"] is None, ttype
            assert r["tt_df"] is None, ttype

    def test_matrix_stats(self, df):
        from hive2es_offline_spark.plans.query_dsl import es_search

        body = {"size": 0, "aggs": {"m": {"matrix_stats": {
            "fields": ["a", "b", "c"]}}}}
        rows = {(r["field_x"], r["field_y"]): r
                for r in es_search(df, body, id_field="id").collect()}
        # c is NULL for i >= 8 -> only 8 docs participate ANYWHERE
        assert all(r["doc_count"] == 8 for r in rows.values())
        # b = 2a+1 -> correlation exactly 1; c = 10-a -> exactly -1
        assert rows[("a", "b")]["correlation"] == pytest.approx(1.0, abs=1e-6)
        assert rows[("a", "c")]["correlation"] == pytest.approx(-1.0, abs=1e-6)
        assert rows[("a", "a")]["correlation"] == 1.0
        import statistics
        va = statistics.variance(range(8))
        assert rows[("a", "a")]["covariance"] == pytest.approx(va, abs=2e-6)
        assert rows[("a", "b")]["covariance"] == pytest.approx(2 * va, abs=2e-6)
        with pytest.raises(ValueError, match="at least 2"):
            es_search(df, {"size": 0, "aggs": {"m": {"matrix_stats": {
                "fields": ["a"]}}}}, id_field="id").collect()


def test_median_absolute_deviation(spark):
    from hive2es_offline_spark.plans.query_dsl import es_search

    df = spark.createDataFrame(
        [(i, float(v)) for i, v in enumerate([1, 2, 3, 4, 5, 100])],
        "id long, x double")
    body = {"size": 0, "aggs": {"mad": {
        "median_absolute_deviation": {"field": "x"}}}}
    r = es_search(df, body, id_field="id").collect()[0]
    # median = 3.5; |x - 3.5| = [2.5, 1.5, .5, .5, 1.5, 96.5] -> med 1.5
    assert r["mad"] == 1.5
    # per-bucket MAD rejects loudly (global median would be wrong)
    body2 = {"size": 0, "aggs": {"r": {
        "range": {"field": "x", "ranges": [{"to": 10}]},
        "aggs": {"mad": {"median_absolute_deviation": {"field": "x"}}}}}}
    with pytest.raises(ValueError, match="top-level"):
        es_search(df, body2, id_field="id").collect()


# --- round 12: rate metric + normalize pipeline aggregation ------------------


class TestRateNormalize:
    @pytest.fixture()
    def df(self, spark):
        import datetime as dt

        rows = [(1, dt.date(2024, 1, 5), 10.0),
                (2, dt.date(2024, 1, 20), 20.0),
                (3, dt.date(2024, 2, 10), 29.0),   # 2024: leap February
                (4, dt.date(2024, 4, 1), 30.0),
                (5, dt.date(2024, 4, 15), 30.0),
                (6, dt.date(2024, 4, 30), 30.0)]
        return spark.createDataFrame(rows, "id long, d date, v double")

    def test_rate_calendar_widths(self, df):
        from hive2es_offline_spark.plans.query_dsl import es_search

        body = {"size": 0, "aggs": {"m": {
            "date_histogram": {"field": "d", "calendar_interval": "month"},
            "aggs": {
                "v_day": {"rate": {"field": "v", "unit": "day"}},
                "docs_week": {"rate": {"unit": "week"}},
                "v_month": {"rate": {"field": "v", "unit": "month"}},
                "v_vc": {"rate": {"field": "v", "unit": "day",
                                  "mode": "value_count"}},
            }}}}
        rows = {r["key"].month: r
                for r in es_search(df, body, id_field="id").collect()}
        # January: 31 days; February 2024: 29; April: 30
        assert rows[1]["v_day"] == pytest.approx(30.0 / 31, abs=2e-6)
        assert rows[2]["v_day"] == pytest.approx(1.0, abs=2e-6)
        assert rows[4]["v_day"] == pytest.approx(3.0, abs=2e-6)
        assert rows[1]["docs_week"] == pytest.approx(2 / (31 / 7), abs=2e-6)
        # unit == parent interval -> the plain sum
        assert rows[4]["v_month"] == pytest.approx(90.0, abs=2e-6)
        assert rows[4]["v_vc"] == pytest.approx(3 / 30, abs=2e-6)

    def test_rate_fixed_interval_and_rejects(self, df, spark):
        from hive2es_offline_spark.plans.query_dsl import es_search

        body = {"size": 0, "aggs": {"m": {
            "date_histogram": {"field": "d", "fixed_interval": "7d"},
            "aggs": {"r": {"rate": {"unit": "day"}}}}}}
        rows = es_search(df, body, id_field="id").collect()
        # every fixed bucket is exactly 7 days wide
        assert all(r["r"] == pytest.approx(r["doc_count"] / 7.0, abs=2e-6)
                   for r in rows)
        with pytest.raises(ValueError, match="date_histogram parent"):
            es_search(df, {"size": 0, "aggs": {"m": {
                "terms": {"field": "id"},
                "aggs": {"r": {"rate": {"unit": "day"}}}}}},
                id_field="id").collect()
        with pytest.raises(ValueError, match="calendar parent"):
            es_search(df, {"size": 0, "aggs": {"m": {
                "date_histogram": {"field": "d", "fixed_interval": "7d"},
                "aggs": {"r": {"rate": {"unit": "month"}}}}}},
                id_field="id").collect()
        with pytest.raises(ValueError, match="rate mode"):
            es_search(df, {"size": 0, "aggs": {"m": {
                "date_histogram": {"field": "d",
                                   "calendar_interval": "month"},
                "aggs": {"r": {"rate": {"field": "v", "mode": "avg"}}}}}},
                id_field="id").collect()

    def test_rate_mode_without_field_rejects(self, df):
        # (ADVICE r12) mode used to validate only inside the field
        # branch: a field-less (or bogus) mode silently fell back to
        # doc_count — the validate-but-ignore class.  ES errors too.
        from hive2es_offline_spark.plans.query_dsl import es_search

        for mode in ("value_count", "sum"):
            with pytest.raises(ValueError, match="requires a field"):
                es_search(df, {"size": 0, "aggs": {"m": {
                    "date_histogram": {"field": "d",
                                       "calendar_interval": "month"},
                    "aggs": {"r": {"rate": {"unit": "day",
                                            "mode": mode}}}}}},
                    id_field="id").collect()
        with pytest.raises(ValueError, match="rate mode"):
            es_search(df, {"size": 0, "aggs": {"m": {
                "date_histogram": {"field": "d",
                                   "calendar_interval": "month"},
                "aggs": {"r": {"rate": {"unit": "day",
                                        "mode": "bogus"}}}}}},
                id_field="id").collect()

    def test_rate_calendar_width_is_dst_invariant(self, df, spark):
        # (ADVICE r12) calendar bucket width now derives from DATE day
        # counts: in a DST session timezone a spring-forward month is
        # 30.958 unix-days, which used to skew the rate vs the DuckDB
        # oracle's date_diff('day').  March 2024 springs forward in
        # America/New_York; its width must still be exactly 31 days.
        import datetime as dt

        from hive2es_offline_spark.plans.query_dsl import es_search

        mar = spark.createDataFrame(
            [(1, dt.date(2024, 3, 5), 62.0), (2, dt.date(2024, 3, 20), 0.0)],
            "id long, d date, v double")
        body = {"size": 0, "aggs": {"m": {
            "date_histogram": {"field": "d", "calendar_interval": "month"},
            "aggs": {"r": {"rate": {"field": "v", "unit": "day"}}}}}}
        prev = spark.conf.get("spark.sql.session.timeZone")
        try:
            spark.conf.set("spark.sql.session.timeZone", "America/New_York")
            (row,) = es_search(mar, body, id_field="id").collect()
        finally:
            spark.conf.set("spark.sql.session.timeZone", prev)
        assert row["r"] == pytest.approx(2.0, abs=2e-6)  # 62 / 31, not /30.96

    def test_normalize_methods(self, df):
        import math

        from hive2es_offline_spark.plans.query_dsl import es_search

        body = {"size": 0, "aggs": {"m": {
            "date_histogram": {"field": "d", "calendar_interval": "month"},
            "aggs": {
                "vsum": {"sum": {"field": "v"}},
                "pct": {"normalize": {"buckets_path": "vsum",
                                      "method": "percent_of_sum"}},
                "r01": {"normalize": {"buckets_path": "_count",
                                      "method": "rescale_0_1"}},
                "r100": {"normalize": {"buckets_path": "_count",
                                       "method": "rescale_0_100"}},
                "z": {"normalize": {"buckets_path": "vsum",
                                    "method": "z-score"}},
                "sm": {"normalize": {"buckets_path": "vsum",
                                     "method": "softmax"}},
            }}}}
        rows = {r["key"].month: r
                for r in es_search(df, body, id_field="id").collect()}
        sums = {1: 30.0, 2: 29.0, 4: 90.0}
        total = sum(sums.values())
        mean = total / 3
        sd = math.sqrt(sum((s - mean) ** 2 for s in sums.values()) / 3)
        sm_den = sum(math.exp(s) for s in sums.values())
        for m, s in sums.items():
            assert rows[m]["pct"] == pytest.approx(s / total, abs=2e-6)
            assert rows[m]["z"] == pytest.approx((s - mean) / sd, abs=2e-6)
            assert rows[m]["sm"] == pytest.approx(
                math.exp(s) / sm_den, abs=2e-6)
        assert rows[2]["r01"] == 0.0 and rows[4]["r01"] == 1.0
        assert rows[1]["r100"] == pytest.approx(50.0, abs=2e-6)
        with pytest.raises(ValueError, match="normalize method"):
            es_search(df, {"size": 0, "aggs": {"m": {
                "date_histogram": {"field": "d",
                                   "calendar_interval": "month"},
                "aggs": {"n": {"normalize": {"buckets_path": "_count",
                                             "method": "rank"}}}}}},
                id_field="id").collect()


# --- round 12: ip_prefix, geo_line, _terms_enum, _rank_eval ------------------


class TestIpPrefix:
    def test_buckets_and_null_drop(self, spark):
        from hive2es_offline_spark.plans.query_dsl import es_search

        logs = spark.createDataFrame(
            [(1, "10.0.0.5"), (2, "10.0.1.200"), (3, "10.0.0.77"),
             (4, "192.168.3.1"), (5, "garbage"), (6, None)],
            "id long, ip string")
        body = {"size": 0, "aggs": {"nets": {
            "ip_prefix": {"field": "ip", "prefix_length": 24},
            "aggs": {"mx": {"max": {"field": "id"}}}}}}
        rows = {r["key"]: r for r in es_search(
            logs, body, id_field="id").collect()}
        assert set(rows) == {"10.0.0.0", "10.0.1.0", "192.168.3.0"}
        assert rows["10.0.0.0"]["doc_count"] == 2
        assert rows["10.0.0.0"]["mx"] == 3
        assert all(r["prefix_length"] == 24 for r in rows.values())
        # /0 collapses everything parseable into one bucket
        body0 = {"size": 0, "aggs": {"nets": {
            "ip_prefix": {"field": "ip", "prefix_length": 0}}}}
        r0 = es_search(logs, body0, id_field="id").collect()
        assert [(r["key"], r["doc_count"]) for r in r0] == [("0.0.0.0", 4)]

    def test_rejects(self, spark):
        from hive2es_offline_spark.plans.query_dsl import es_search

        logs = spark.createDataFrame([(1, "1.2.3.4")], "id long, ip string")
        with pytest.raises(ValueError, match="IPv6"):
            es_search(logs, {"size": 0, "aggs": {"n": {"ip_prefix": {
                "field": "ip", "prefix_length": 64, "is_ipv6": True}}}},
                id_field="id").collect()
        with pytest.raises(ValueError, match="out of range"):
            es_search(logs, {"size": 0, "aggs": {"n": {"ip_prefix": {
                "field": "ip", "prefix_length": 33}}}},
                id_field="id").collect()
        with pytest.raises(ValueError, match="min_doc_count"):
            es_search(logs, {"size": 0, "aggs": {"n": {"ip_prefix": {
                "field": "ip", "prefix_length": 8,
                "min_doc_count": 0}}}}, id_field="id").collect()


class TestGeoLine:
    def test_sorted_truncated_lines(self, spark):
        from hive2es_offline_spark.plans.query_dsl import es_search

        rows = [(1, "a", 10.5, 20.5, 3), (2, "a", 11.5, 21.5, 1),
                (3, "a", 12.5, 22.5, 2), (4, "b", 1.0, 2.0, 1),
                (5, "b", None, 3.0, 2)]
        pts = spark.createDataFrame(
            rows, "id long, g string, lat double, lon double, ts long"
        ).select("id", "g", "ts", F.struct("lat", "lon").alias("loc"))
        body = {"size": 0, "aggs": {"by": {
            "terms": {"field": "g"},
            "aggs": {"line": {"geo_line": {
                "point": {"field": "loc"}, "sort": {"field": "ts"}}}}}}}
        out = {r["key"]: r["line"] for r in es_search(
            pts, body, id_field="id").collect()}
        assert out["a"] == ('{"type":"LineString","coordinates":'
                            '[[21.5,11.5],[22.5,12.5],[20.5,10.5]]}')
        # the half-set point drops like ES's missing-coordinate docs
        assert out["b"] == ('{"type":"LineString","coordinates":'
                            '[[2.0,1.0]]}')
        # desc + size truncation
        body["aggs"]["by"]["aggs"]["line"]["geo_line"].update(
            sort_order="desc", size=2)
        out = {r["key"]: r["line"] for r in es_search(
            pts, body, id_field="id").collect()}
        assert out["a"] == ('{"type":"LineString","coordinates":'
                            '[[20.5,10.5],[22.5,12.5]]}')
        with pytest.raises(ValueError, match="geo_line option"):
            es_search(pts, {"size": 0, "aggs": {"by": {
                "terms": {"field": "g"},
                "aggs": {"line": {"geo_line": {
                    "point": {"field": "loc"}, "sort": {"field": "ts"},
                    "smooth": True}}}}}}, id_field="id").collect()

    def test_bounded_mode_identical_output_exact_doc_count(self, spark):
        # VERDICT r12 #8: "bounded": true swaps the full-bucket
        # collect_list buffer for a window-ranked pre-cut — output
        # (line, sort values) must be BYTE-IDENTICAL to the default and
        # doc_count must still count every row, including the ones the
        # cut excluded from the line
        from hive2es_offline_spark.plans.query_dsl import es_search

        rows = [(i, "a" if i % 3 else "b",
                 float(i % 7) + 0.5, float((i * 3) % 11) + 0.25, i % 13)
                for i in range(60)]
        pts = spark.createDataFrame(
            rows, "id long, g string, lat double, lon double, ts long"
        ).select("id", "g", "ts", F.struct("lat", "lon").alias("loc"))

        def run(extra):
            body = {"size": 0, "aggs": {"by": {
                "terms": {"field": "g"},
                "aggs": {"line": {"geo_line": {
                    "point": {"field": "loc"}, "sort": {"field": "ts"},
                    "include_sort": True, "size": 5, **extra}}}}}}
            return {r["key"]: (r["doc_count"], r["line"]) for r in
                    es_search(pts, body, id_field="id").collect()}

        plain, bounded = run({}), run({"bounded": True})
        assert bounded == plain
        assert bounded["a"][0] == 40 and bounded["b"][0] == 20
        # the line itself holds only `size` vertices
        import json
        assert len(json.loads(bounded["a"][1])["coordinates"]) == 5
        # desc order rides the same pre-cut
        assert run({"sort_order": "desc"}) == \
            run({"sort_order": "desc", "bounded": True})
        # bounded needs a group-by parent (no silent unbounded fallback)
        with pytest.raises(ValueError, match="group-by bucket parent"):
            es_search(pts, {"size": 0, "aggs": {"line": {"geo_line": {
                "point": {"field": "loc"}, "sort": {"field": "ts"},
                "bounded": True}}}}, id_field="id").collect()
        # the internal keep-column marker is not a user option
        with pytest.raises(ValueError, match="group-by bucket parent"):
            es_search(pts, {"size": 0, "aggs": {"r": {
                "range": {"field": "ts", "ranges": [{"to": 100}]},
                "aggs": {"line": {"geo_line": {
                    "point": {"field": "loc"}, "sort": {"field": "ts"},
                    "bounded": True}}}}}}, id_field="id").collect()


class TestTermsEnumRankEval:
    def test_terms_enum_paging_and_filter(self, spark):
        from hive2es_offline_spark.plans.query_dsl import es_terms_enum

        docs = spark.createDataFrame(
            [(i, f"src{i % 13}", i) for i in range(50)],
            "id long, source string, n long")
        vals = lambda b: [r["terms"] for r in  # noqa: E731
                          es_terms_enum(docs, b, "id").collect()]
        assert vals({"field": "source", "string": "src1", "size": 3}) == \
            ["src1", "src10", "src11"]
        assert vals({"field": "source", "string": "src1", "size": 3,
                     "search_after": "src10"}) == ["src11", "src12"]
        assert vals({"field": "source", "string": "SRC1", "size": 2,
                     "case_insensitive": True}) == ["src1", "src10"]
        # index_filter restricts the enumerated population
        assert vals({"field": "source", "string": "src1",
                     "index_filter": {"range": {"n": {"lte": 1}}}}) == \
            ["src1"]
        with pytest.raises(ValueError, match="_terms_enum option"):
            vals({"field": "source", "fuzzy": {}})

    @pytest.fixture()
    def rated(self, spark):
        return spark.createDataFrame(
            [(i, 100 - i, "x" if i % 2 == 0 else "y") for i in range(1, 21)],
            "doc_id long, n long, t string")

    def test_rank_eval_metrics_hand_computed(self, rated):
        import math

        from hive2es_offline_spark.plans.query_dsl import es_rank_eval

        reqs = [
            {"id": "q1", "request": {"query": {"term": {"t": "x"}},
                                     "sort": [{"n": "desc"}]},
             "ratings": [{"_id": 2, "rating": 3}, {"_id": 4, "rating": 1},
                         {"_id": 19, "rating": 2}]},
            {"id": "q2", "request": {"query": {"term": {"t": "y"}},
                                     "sort": [{"n": "asc"}]},
             "ratings": [{"_id": 19, "rating": 1}]},
        ]
        # ranked q1 hits: 2,4,6,8,10; q2 hits: 19,17,15,13,11
        def run(metric):
            body = {"requests": reqs, "metric": metric}
            return {r["request_id"]: r["metric_score"]
                    for r in es_rank_eval(rated, body,
                                          id_field="doc_id").collect()}

        p = run({"precision": {"k": 5}})
        assert p["q1"] == pytest.approx(0.4) and p["q2"] == pytest.approx(0.2)
        assert p["_overall"] == pytest.approx(0.3)
        r = run({"recall": {"k": 5}})
        # q1: 2 of 3 rated-relevant retrieved; q2: 1 of 1
        assert r["q1"] == pytest.approx(2 / 3, abs=2e-6)
        assert r["q2"] == pytest.approx(1.0)
        m = run({"mean_reciprocal_rank": {"k": 5}})
        assert m["q1"] == pytest.approx(1.0) and m["q2"] == pytest.approx(1.0)
        d = run({"dcg": {"k": 5, "normalize": True}})
        dcg = 7.0 + 1.0 / math.log2(3)
        idcg = 7.0 + 3.0 / math.log2(3) + 1.0 / math.log2(4)
        assert d["q1"] == pytest.approx(dcg / idcg, abs=2e-6)
        assert d["q2"] == pytest.approx(1.0)
        with pytest.raises(ValueError, match="rank_eval metric"):
            run({"expected_reciprocal_rank": {"k": 5}})


def test_normalize_degenerate_frames_null_and_softmax_stable(spark):
    # the t_test ADVICE r11 class applied to normalize: constant buckets
    # (zero span / zero stddev) and zero sums yield NULL, and softmax is
    # max-shifted so huge metrics don't overflow to NaN
    import datetime as dt

    from hive2es_offline_spark.plans.query_dsl import es_search

    rows = [(1, dt.date(2024, 1, 5), 5.0), (2, dt.date(2024, 2, 5), 5.0),
            (3, dt.date(2024, 3, 5), 5.0)]
    df = spark.createDataFrame(rows, "id long, d date, v double")
    body = {"size": 0, "aggs": {"m": {
        "date_histogram": {"field": "d", "calendar_interval": "month"},
        "aggs": {
            "s": {"sum": {"field": "v"}},
            "r01": {"normalize": {"buckets_path": "s",
                                  "method": "rescale_0_1"}},
            "z": {"normalize": {"buckets_path": "s", "method": "z-score"}},
            "mean": {"normalize": {"buckets_path": "s", "method": "mean"}},
            "sm": {"normalize": {"buckets_path": "s", "method": "softmax"}},
        }}}}
    for r in es_search(df, body, id_field="id").collect():
        assert r["r01"] is None and r["z"] is None and r["mean"] is None
        # equal values: softmax is exactly uniform, not NaN
        assert r["sm"] == pytest.approx(1 / 3, abs=2e-6)
    # overflow-range metrics stay finite
    big = spark.createDataFrame(
        [(1, dt.date(2024, 1, 5), 800.0), (2, dt.date(2024, 2, 5), 900.0)],
        "id long, d date, v double")
    body2 = {"size": 0, "aggs": {"m": {
        "date_histogram": {"field": "d", "calendar_interval": "month"},
        "aggs": {"s": {"sum": {"field": "v"}},
                 "sm": {"normalize": {"buckets_path": "s",
                                      "method": "softmax"}}}}}}
    out = {r["key"].month: r["sm"]
           for r in es_search(big, body2, id_field="id").collect()}
    assert out[2] == pytest.approx(1.0, abs=1e-6)
    assert out[1] == pytest.approx(0.0, abs=1e-6)


def test_rank_eval_zero_hit_request_scores_zero(spark):
    # (code-review r12) a request matching NOTHING must score 0.0 (ES's
    # behavior), and _overall must average it in — not skip a NULL
    from hive2es_offline_spark.plans.query_dsl import es_rank_eval

    df = spark.createDataFrame(
        [(i, 100 - i, "x") for i in range(1, 11)],
        "doc_id long, n long, t string")
    body = {"requests": [
        {"id": "hits", "request": {"query": {"term": {"t": "x"}},
                                   "sort": [{"n": "desc"}]},
         "ratings": [{"_id": 1, "rating": 1}, {"_id": 2, "rating": 1}]},
        {"id": "empty", "request": {"query": {"term": {"t": "absent"}},
                                    "sort": [{"n": "desc"}]},
         "ratings": [{"_id": 1, "rating": 1}]},
    ], "metric": {"precision": {"k": 5}}}
    out = {r["request_id"]: r["metric_score"]
           for r in es_rank_eval(df, body, id_field="doc_id").collect()}
    assert out["hits"] == pytest.approx(0.4)
    assert out["empty"] == 0.0
    assert out["_overall"] == pytest.approx(0.2)
    body["metric"] = {"recall": {"k": 5}}
    out = {r["request_id"]: r["metric_score"]
           for r in es_rank_eval(df, body, id_field="doc_id").collect()}
    assert out["empty"] == 0.0 and out["_overall"] == pytest.approx(0.5)


def test_geo_line_include_sort_and_terms_enum_pushdown(spark, tmp_path):
    # (code-review r12) include_sort rides the per-vertex sort values
    # along; the terms_enum index_filter reaches PushedFilters
    from hive2es_offline_spark.plans.query_dsl import (
        es_search,
        es_terms_enum,
    )

    pts = spark.createDataFrame(
        [(1, "a", 10.5, 20.5, 3), (2, "a", 11.5, 21.5, 1)],
        "id long, g string, lat double, lon double, ts long"
    ).select("id", "g", "ts", F.struct("lat", "lon").alias("loc"))
    body = {"size": 0, "aggs": {"by": {
        "terms": {"field": "g"},
        "aggs": {"line": {"geo_line": {
            "point": {"field": "loc"}, "sort": {"field": "ts"},
            "include_sort": True}}}}}}
    line = es_search(pts, body, id_field="id").collect()[0]["line"]
    assert line == ('{"type":"LineString","coordinates":'
                    '[[21.5,11.5],[20.5,10.5]],"sort":[1,3]}')
    # normalize format is the validate-but-ignore class -> loud reject
    with pytest.raises(ValueError, match="normalize option"):
        es_search(pts, {"size": 0, "aggs": {"m": {
            "terms": {"field": "g"},
            "aggs": {"n": {"normalize": {
                "buckets_path": "_count", "method": "percent_of_sum",
                "format": "00.0%"}}}}}}, id_field="id").collect()
    p = str(tmp_path / "docs.parquet")
    spark.createDataFrame(
        [(i, f"src{i % 7}", i * 10) for i in range(100)],
        "id long, source string, n long").write.parquet(p)
    df = spark.read.parquet(p)
    out = es_terms_enum(df, {"field": "source", "string": "src1",
                             "index_filter": {"range": {"n": {"gte": 0}}}},
                        id_field="id")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [" in plan and "GreaterThanOrEqual(n" in plan, \
        plan[:2000]


# --- round 12 fodder: bucket_correlation, moving_percentiles, knn clause,
# --- frequent_item_sets -------------------------------------------------------


class TestRound12Fodder:
    def test_bucket_correlation_hand_computed(self, spark):
        import statistics

        from hive2es_offline_spark.plans.query_dsl import es_search

        # 3 buckets with counts 1, 2, 3 and expectations 10, 20, 30:
        # perfectly linear -> corr exactly 1
        df = spark.createDataFrame(
            [(i, k) for i, k in enumerate([0, 1, 1, 2, 2, 2])],
            "id long, k int")
        body = {"size": 0, "aggs": {
            "m": {"terms": {"field": "k", "size": 10}},
            "corr": {"bucket_correlation": {
                "buckets_path": "m>_count",
                "function": {"count_correlation": {
                    "indicator": {"expectations": [10, 20, 30]}}}}}}}
        rows = es_search(df, body, id_field="id").collect()
        assert all(r["corr_value"] == pytest.approx(1.0, abs=2e-6)
                   for r in rows)
        # anti-correlated
        body["aggs"]["corr"]["bucket_correlation"]["function"][
            "count_correlation"]["indicator"]["expectations"] = [30, 20, 10]
        rows = es_search(df, body, id_field="id").collect()
        assert all(r["corr_value"] == pytest.approx(-1.0, abs=2e-6)
                   for r in rows)
        # length mismatch / zero variance -> NULL (degenerate contract)
        body["aggs"]["corr"]["bucket_correlation"]["function"][
            "count_correlation"]["indicator"]["expectations"] = [1, 2]
        rows = es_search(df, body, id_field="id").collect()
        assert all(r["corr_value"] is None for r in rows)
        with pytest.raises(ValueError, match="count_correlation"):
            es_search(df, {"size": 0, "aggs": {
                "m": {"terms": {"field": "k"}},
                "c": {"bucket_correlation": {
                    "buckets_path": "m>_count",
                    "function": {"spearman": {}}}}}},
                id_field="id").collect()

    def test_bucket_count_ks_test_hand_computed(self, spark):
        from hive2es_offline_spark.plans.query_dsl import es_search

        # counts 1,2,3 (total 6) vs uniform fractions:
        # empCDF = 1/6, 3/6, 1; expCDF = 1/3, 2/3, 1
        # less = max(emp-exp) clamped = 0; greater = max(exp-emp) = 1/6
        df = spark.createDataFrame(
            [(i, k) for i, k in enumerate([0, 1, 1, 2, 2, 2])],
            "id long, k int")
        body = {"size": 0, "aggs": {
            "m": {"terms": {"field": "k", "size": 10}},
            "ks": {"bucket_count_ks_test": {
                "buckets_path": "m>_count"}}}}
        r = es_search(df, body, id_field="id").first()
        assert r["ks_less"] == pytest.approx(0.0)
        assert r["ks_greater"] == pytest.approx(1 / 6, abs=2e-6)
        assert r["ks_two_sided"] == pytest.approx(1 / 6, abs=2e-6)
        # explicit fractions matching the counts exactly -> all zero
        body["aggs"]["ks"]["bucket_count_ks_test"]["fractions"] = \
            [1 / 6, 2 / 6, 3 / 6]
        r = es_search(df, body, id_field="id").first()
        assert r["ks_less"] == pytest.approx(0.0)
        assert r["ks_greater"] == pytest.approx(0.0)
        assert r["ks_two_sided"] == pytest.approx(0.0)
        # mass shifted early: counts stochastically smaller ->
        # "less" evidence positive
        body["aggs"]["ks"]["bucket_count_ks_test"]["fractions"] = \
            [0.0, 0.2, 0.8]
        r = es_search(df, body, id_field="id").first()
        # empCDF = 1/6, 1/2, 1; expCDF = 0, 0.2, 1 -> max(emp-exp) = 0.3
        assert r["ks_less"] == pytest.approx(0.3, abs=2e-6)
        # alternative subset limits the output columns
        body["aggs"]["ks"]["bucket_count_ks_test"]["alternative"] = \
            ["two_sided"]
        r = es_search(df, body, id_field="id").first()
        assert "ks_less" not in r.asDict() and "ks_two_sided" in r.asDict()
        # fractions length mismatch -> NULL (degenerate contract)
        body["aggs"]["ks"]["bucket_count_ks_test"] = {
            "buckets_path": "m>_count", "fractions": [0.5, 0.5]}
        r = es_search(df, body, id_field="id").first()
        assert r["ks_less"] is None and r["ks_two_sided"] is None

    def test_bucket_count_ks_test_rejects(self, spark):
        from hive2es_offline_spark.plans.query_dsl import es_search

        df = spark.createDataFrame([(1, 0)], "id long, k int")
        base = {"size": 0, "aggs": {
            "m": {"terms": {"field": "k"}},
            "ks": {"bucket_count_ks_test": {"buckets_path": "m>_count"}}}}
        import copy
        b = copy.deepcopy(base)
        b["aggs"]["ks"]["bucket_count_ks_test"]["sampling_method"] = \
            "upper_tail"
        with pytest.raises(ValueError, match="sampling_method"):
            es_search(df, b, id_field="id").collect()
        b = copy.deepcopy(base)
        b["aggs"]["ks"]["bucket_count_ks_test"]["alternative"] = ["both"]
        with pytest.raises(ValueError, match="alternative"):
            es_search(df, b, id_field="id").collect()
        b = copy.deepcopy(base)
        b["aggs"]["ks"]["bucket_count_ks_test"]["fractions"] = [-1.0, 2.0]
        with pytest.raises(ValueError, match="fractions"):
            es_search(df, b, id_field="id").collect()

    def test_moving_percentiles_exact_windows(self, spark):
        import datetime as dt

        from hive2es_offline_spark.plans.query_dsl import es_search

        rows = [(i, dt.date(2024, 1 + i, 1), float(10 * (i + 1)))
                for i in range(6)]
        df = spark.createDataFrame(rows, "id long, d date, v double")
        body = {"size": 0, "aggs": {"m": {
            "date_histogram": {"field": "d", "calendar_interval": "month"},
            "aggs": {"s": {"sum": {"field": "v"}},
                     "mp": {"moving_percentiles": {
                         "buckets_path": "s", "window": 3,
                         "percents": [50.0]}}}}}}
        out = {r["key"].month: r["mp_p50"]
               for r in es_search(df, body, id_field="id").collect()}
        # windows: [] -> NULL; [10] -> 10; [10,20] -> 15; [10,20,30] -> 20
        assert out[1] is None
        assert out[2] == 10.0 and out[3] == 15.0 and out[4] == 20.0
        assert out[5] == 30.0 and out[6] == 40.0
        with pytest.raises(ValueError, match="histogram"):
            es_search(df, {"size": 0, "aggs": {"m": {
                "terms": {"field": "id"},
                "aggs": {"mp": {"moving_percentiles": {
                    "buckets_path": "_count", "window": 3}}}}}},
                id_field="id").collect()

    def test_knn_query_clause_expands_and_composes(self, spark):
        from hive2es_offline_spark.plans.query_dsl import es_search

        rows = [(i, [float(i), 1.0], i % 2) for i in range(1, 9)]
        df = spark.createDataFrame(
            rows, "vec_id long, embedding array<double>, label int")
        # query [1, 0]: cosine favors SMALL ids (larger first component
        # relative to norm... actually cos = i/sqrt(i^2+1), increasing in
        # i) -> top-3 = 8, 7, 6
        body = {"query": {"knn": {"field": "embedding",
                                  "query_vector": [1.0, 0.0], "k": 3}},
                "sort": [{"vec_id": "asc"}], "_source": ["vec_id"]}
        got = [r["vec_id"] for r in es_search(
            df, body, id_field="vec_id").collect()]
        assert got == [6, 7, 8]
        # composes with an enclosing bool filter (odd labels only)
        body2 = {"query": {"bool": {
            "must": [{"knn": {"field": "embedding",
                              "query_vector": [1.0, 0.0], "k": 3}}],
            "filter": [{"term": {"label": 1}}]}},
            "sort": [{"vec_id": "asc"}], "_source": ["vec_id"]}
        got = [r["vec_id"] for r in es_search(
            df, body2, id_field="vec_id").collect()]
        assert got == [7]  # of the top-3 only 7 has label 1
        # the knn's own pre-filter restricts the candidate pool instead
        body3 = {"query": {"knn": {
            "field": "embedding", "query_vector": [1.0, 0.0], "k": 3,
            "filter": {"term": {"label": 1}}}},
            "sort": [{"vec_id": "asc"}], "_source": ["vec_id"]}
        got = [r["vec_id"] for r in es_search(
            df, body3, id_field="vec_id").collect()]
        assert got == [3, 5, 7]
        with pytest.raises(ValueError, match="knn clause option"):
            es_search(df, {"query": {"knn": {
                "field": "embedding", "query_vector": [1.0, 0.0],
                "similarity": 0.5}}}, id_field="vec_id").collect()

    def test_frequent_item_sets_pairs(self, spark):
        from hive2es_offline_spark.plans.query_dsl import es_search

        rows = [(1, ["a", "b", "c"]), (2, ["a", "b"]), (3, ["b", "a"]),
                (4, ["c"]), (5, ["a", "c", "a"])]  # dup item collapses
        df = spark.createDataFrame(rows, "id long, items array<string>")
        body = {"size": 0, "aggs": {"p": {"frequent_item_sets": {
            "fields": [{"field": "items"}],
            "minimum_support": 0.4, "size": 10}}}}
        got = {(r["key_a"], r["key_b"]): (r["doc_count"], r["support"])
               for r in es_search(df, body, id_field="id").collect()}
        # a&b in docs 1,2,3 (support .6); a&c in 1,5 (.4); b&c only doc 1
        assert got == {("a", "b"): (3, 0.6), ("a", "c"): (2, 0.4)}
        with pytest.raises(ValueError, match="minimum_set_size"):
            es_search(df, {"size": 0, "aggs": {"p": {"frequent_item_sets": {
                "fields": [{"field": "items"}],
                "minimum_set_size": 3}}}}, id_field="id").collect()


def test_downsample_rollup(spark):
    import datetime as dt

    from hive2es_offline_spark.operators.temporal import downsample

    rows = [
        (1, dt.datetime(2024, 1, 1, 0, 10), "a", 1.0, "p1"),
        (2, dt.datetime(2024, 1, 1, 5, 59), "a", 3.0, "p2"),
        (3, dt.datetime(2024, 1, 1, 6, 1), "a", 5.0, "p3"),
        (4, dt.datetime(2024, 1, 1, 1, 0), "b", 7.0, "p4"),
    ]
    df = spark.createDataFrame(
        rows, "id long, ts timestamp, t string, v double, lbl string")
    out = {(r["t"], r["_tsid"].hour): r for r in downsample(
        df, "ts", "6h", dims=["t"], metrics=["v"],
        labels=["lbl"]).collect()}
    first = out[("a", 0)]
    assert (first["v_min"], first["v_max"], first["v_sum"],
            first["v_value_count"]) == (1.0, 3.0, 4.0, 2)
    assert first["lbl_last"] == "p2"  # last by ts within the bucket
    assert out[("a", 6)]["v_sum"] == 5.0
    assert out[("b", 0)]["lbl_last"] == "p4"
    with pytest.raises(ValueError, match="interval"):
        downsample(df, "ts", "6x", dims=["t"], metrics=["v"])


def test_termvectors_and_sliced_search(spark):
    # round 12: _termvectors per-term stats + sliced export partitions
    from hive2es_offline_spark.plans.query_dsl import (
        es_search,
        es_termvectors,
    )

    df = spark.createDataFrame(
        [(1, "the quick brown fox the fox"), (2, "fox runs"),
         (3, "nothing here")],
        "id long, text string")
    rows = {r["term"]: r for r in es_termvectors(
        df, {"id": 1, "fields": ["text"], "term_statistics": True},
        id_field="id").collect()}
    assert rows["fox"]["term_freq"] == 2
    assert rows["fox"]["positions"] == "[3,5]"
    assert rows["fox"]["doc_freq"] == 2 and rows["fox"]["ttf"] == 3
    assert rows["the"]["doc_freq"] == 1 and rows["the"]["ttf"] == 2
    # VERDICT r12 #2: doc_freq is the exploded-distinct join, not a
    # crossJoin fan — the plan must contain no nested-loop product
    plan = es_termvectors(
        df, {"id": 1, "fields": ["text"], "term_statistics": True},
        id_field="id")._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    with pytest.raises(ValueError, match="_termvectors option"):
        es_termvectors(df, {"id": 1, "fields": ["text"],
                            "offsets": True}, id_field="id")
    # slices are disjoint, deterministic, and cover everything
    big = spark.createDataFrame([(i,) for i in range(20)], "id long")
    parts = [set(r["id"] for r in es_search(
        big, {"query": {"match_all": {}}, "size": 100,
              "slice": {"id": i, "max": 3}, "_source": ["id"]},
        id_field="id").collect()) for i in range(3)]
    assert not (parts[0] & parts[1]) and not (parts[1] & parts[2])
    assert parts[0] | parts[1] | parts[2] == set(range(20))
    with pytest.raises(ValueError, match="slice id"):
        es_search(big, {"query": {"match_all": {}},
                        "slice": {"id": 3, "max": 3}},
                  id_field="id").collect()
    with pytest.raises(ValueError, match="slice option"):
        es_search(big, {"query": {"match_all": {}},
                        "slice": {"id": 0, "max": 2, "seed": 7}},
                  id_field="id").collect()
    # (ADVICE r12) a nested/unknown slice field keeps the loud
    # ValueError contract instead of leaking a bare KeyError
    with pytest.raises(ValueError, match="top-level column"):
        es_search(big, {"query": {"match_all": {}},
                        "slice": {"id": 0, "max": 2, "field": "loc.lat"}},
                  id_field="id").collect()


# --- round 13: categorize_text aggregation ----------------------------------


def test_categorize_text_signature_buckets(spark):
    from hive2es_offline_spark.plans.query_dsl import es_search

    logs = [
        "Connection from 10.0.0.1 failed after 3 retries",
        "Connection from 10.0.0.77 failed after 11 retries",
        "Connection from 10.0.0.8 failed after 2 retries",
        "User alice logged in",
        "User bob logged in",
        "Disk 2 at 93% capacity",
        "12 34",          # all-variable message: skipped, like ES
        None,
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(logs)], "id long, msg string")
    body = {"size": 0, "aggs": {"cats": {
        "categorize_text": {"field": "msg"}}}}
    rows = es_search(df, body, id_field="id").collect()
    got = {r["key"]: (r["doc_count"], r["max_matching_length"])
           for r in rows}
    # number-bearing tokens (10.0.0.1, 3, 93) are variable parts
    assert got["connection from failed after retries"] == (3, 49)
    # exact signatures: alice/bob do NOT merge (similarity 100 contract)
    assert got["user alice logged in"] == (1, 20)
    assert got["disk at capacity"] == (1, 22)
    assert "12 34" not in " ".join(got)
    # categorization_filters scrub text BEFORE tokenizing
    body = {"size": 0, "aggs": {"cats": {"categorize_text": {
        "field": "msg", "categorization_filters": ["User \\w+"]}}}}
    got2 = {r["key"]: r["doc_count"]
            for r in es_search(df, body, id_field="id").collect()}
    assert got2["logged in"] == 2
    # size caps buckets after the doc_count-desc order
    body = {"size": 0, "aggs": {"cats": {"categorize_text": {
        "field": "msg", "size": 1}}}}
    (top,) = es_search(df, body, id_field="id").collect()
    assert top["key"] == "connection from failed after retries"
    import pytest as _pt
    with _pt.raises(ValueError, match="similarity_threshold"):
        es_search(df, {"size": 0, "aggs": {"c": {"categorize_text": {
            "field": "msg", "similarity_threshold": 70}}}},
            id_field="id").collect()
    with _pt.raises(ValueError, match="categorize_text option"):
        es_search(df, {"size": 0, "aggs": {"c": {"categorize_text": {
            "field": "msg", "max_unique_tokens": 5}}}},
            id_field="id").collect()
    with _pt.raises(ValueError, match="sub-aggregations"):
        es_search(df, {"size": 0, "aggs": {"c": {
            "categorize_text": {"field": "msg"},
            "aggs": {"m": {"max": {"field": "id"}}}}}},
            id_field="id").collect()


# --- round 13: change_point sibling pipeline aggregation ---------------------


class TestChangePoint:
    def _run(self, spark, day_values, **cp_opts):
        import datetime as dt

        from hive2es_offline_spark.plans.query_dsl import es_search

        rows = []
        i = 0
        for day, v in enumerate(day_values, start=1):
            rows.append((i, dt.date(2024, 1, day), float(v)))
            i += 1
        df = spark.createDataFrame(rows, "id long, d date, v double")
        body = {"size": 0, "aggs": {
            "hist": {"date_histogram": {"field": "d",
                                        "calendar_interval": "day"},
                     "aggs": {"vs": {"sum": {"field": "v"}}}},
            "cp": {"change_point": {"buckets_path": "hist>vs",
                                    **cp_opts}},
        }}
        out = es_search(df, body, id_field="id").collect()
        r = out[0]
        return r["cp_type"], r["cp_key"], r["cp_score"], out

    def test_step_change(self, spark):
        typ, key, score, out = self._run(
            spark, [1, 1, 1, 1, 5, 5, 5, 5])
        assert typ == "step_change"
        assert key.startswith("2024-01-05")  # first right-segment bucket
        assert score == 1.0                  # the split explains ALL variance
        # the annotation rides every bucket row (ES: buckets + sibling)
        assert len(out) == 8 and all(r["cp_type"] == typ for r in out)

    def test_spike_and_dip(self, spark):
        typ, key, score, _ = self._run(
            spark, [2, 2, 2, 2, 2, 50, 2, 2, 2, 2, 2])
        assert typ == "spike" and key.startswith("2024-01-06")
        assert score == 1.0                  # one bucket carries all variance
        typ, key, score, _ = self._run(
            spark, [9, 9, 9, 1, 9, 9, 9, 9, 9])
        assert typ == "dip" and key.startswith("2024-01-04")
        assert score == 1.0

    def test_flat_series_is_stationary_with_nulls(self, spark):
        # the degenerate-frame NULL contract (the t_test class)
        typ, key, score, _ = self._run(spark, [3, 3, 3, 3, 3, 3])
        assert typ == "stationary" and key is None and score is None

    def test_too_few_buckets_indeterminable(self, spark):
        typ, key, score, _ = self._run(spark, [1, 9, 1])
        assert typ == "indeterminable" and key is None and score is None

    def test_mild_noise_is_stationary(self, spark):
        typ, key, score, _ = self._run(
            spark, [5, 6, 5, 7, 6, 5, 6, 7, 5, 6])
        assert typ == "stationary"

    def test_rejects_unknown_options(self, spark):
        import pytest as _pt

        with _pt.raises(ValueError, match="change_point option"):
            self._run(spark, [1, 1, 5, 5, 5], comment="x")


# --- round 13: variable_width_histogram --------------------------------------


def test_variable_width_histogram_clusters_on_largest_gaps(spark):
    from hive2es_offline_spark.plans.query_dsl import es_search

    # three well-separated value clusters: [1,2,2,3], [50,51], [200]
    vals = [1.0, 2.0, 2.0, 3.0, 50.0, 51.0, 200.0]
    df = spark.createDataFrame(
        [(i, x) for i, x in enumerate(vals)], "id long, x double")
    body = {"size": 0, "aggs": {"b": {
        "variable_width_histogram": {"field": "x", "buckets": 3}}}}
    rows = es_search(df, body, id_field="id").collect()
    got = [(r["min"], r["max"], r["doc_count"], r["key"]) for r in rows]
    assert got == [
        (1.0, 3.0, 4, 2.0),          # centroid (1+2+2+3)/4
        (50.0, 51.0, 2, 50.5),
        (200.0, 200.0, 1, 200.0),
    ]
    # fewer distinct values than buckets: one bucket per value
    body["aggs"]["b"]["variable_width_histogram"]["buckets"] = 10
    assert len(es_search(df, body, id_field="id").collect()) == 6
    # buckets=1 degenerates to the global stats
    body["aggs"]["b"]["variable_width_histogram"]["buckets"] = 1
    (one,) = es_search(df, body, id_field="id").collect()
    assert (one["min"], one["max"], one["doc_count"]) == (1.0, 200.0, 7)
    # gap ties cut at the smaller value first (deterministic): values
    # 0, 10, 20 with buckets=2 -> the 0|10 gap wins the single cut
    tie = spark.createDataFrame(
        [(1, 0.0), (2, 10.0), (3, 20.0)], "id long, x double")
    rows = es_search(tie, {"size": 0, "aggs": {"b": {
        "variable_width_histogram": {"field": "x", "buckets": 2}}}},
        id_field="id").collect()
    assert [(r["min"], r["max"]) for r in rows] == [(0.0, 0.0), (10.0, 20.0)]
    import pytest as _pt
    with _pt.raises(ValueError, match="variable_width_histogram option"):
        es_search(df, {"size": 0, "aggs": {"b": {
            "variable_width_histogram": {
                "field": "x", "initial_buffer": 500}}}},
            id_field="id").collect()
    with _pt.raises(ValueError, match="sub-aggregations"):
        es_search(df, {"size": 0, "aggs": {"b": {
            "variable_width_histogram": {"field": "x"},
            "aggs": {"m": {"max": {"field": "id"}}}}}},
            id_field="id").collect()


def test_change_point_ignores_null_metric_buckets(spark):
    # (code-review r13) a NULL-metric bucket used to desynchronize the
    # row_number against the NULL-skipping sums, pushing scores outside
    # [0, 1]; NULL buckets now leave the series entirely
    import datetime as dt

    from hive2es_offline_spark.plans.query_dsl import es_search

    rows = []
    vals = [1.0, 1.0, 1.0, 1.0, None, 5.0, 5.0, 5.0, 5.0]
    for day, v in enumerate(vals, start=1):
        rows.append((day, dt.date(2024, 1, day), v))
    df = spark.createDataFrame(rows, "id long, d date, v double")
    body = {"size": 0, "aggs": {
        "hist": {"date_histogram": {"field": "d",
                                    "calendar_interval": "day"},
                 "aggs": {"vm": {"max": {"field": "v"}}}},
        "cp": {"change_point": {"buckets_path": "hist>vm"}},
    }}
    out = es_search(df, body, id_field="id").collect()
    r = out[0]
    assert r["cp_type"] == "step_change"
    assert r["cp_key"].startswith("2024-01-06")  # first right-side bucket
    assert r["cp_score"] == 1.0                  # back inside the contract
    assert len(out) == 9                         # NULL bucket still a ROW
