"""Deterministic counters, immune to host noise.

Spark jobs for the index job and the table read: a warm ``run_job`` is
one Spark job (the bundle write), a repeat read of an unchanged table
launches none, and a rewritten table is inferred again.  Jobs are
counted with ``statusTracker`` job ids under a job group.

Spark jobs for BM25 scoring: a scored query reduces its corpus
statistics to one 1-row aggregate that each row reads, so a scored
search is a few jobs however many text fields and arms it scores, and
an ES|QL ``METADATA _score`` build runs none.

py4j round trips for the analysis-chain and positions-clause builds:
the chain, and a whole phrase, span or intervals clause, is Spark-SQL
text parsed once, so building it costs a few dozen gateway calls, not
one per expression node.  The six-arm scored multi-search build is
gated too: a score-tree node compiles its match predicate only where
it gates on it.  So is each score-tree family's warm build: the score
is one Spark-SQL text, parsed once.

py4j round trips of a filter clause's warm ``compile_query`` build: the
clause tree renders as one Spark-SQL text, so any clause costs the one
parse.

py4j round trips and Spark jobs of each ``search_mix`` family's warm
build, as ``perfbench/workloads.py`` builds it: the counters the
benchmark's trace reports per family, gated here so a regression
shows without a benchmark run."""

import threading
import uuid
from contextlib import contextmanager

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from py4j.protocol import MEMORY_COMMAND_NAME
from pyspark.sql import functions as F

from hive2es_offline_spark.jobs import Hive2ESConfig, run_job
from hive2es_offline_spark.plans import analysis as A
from hive2es_offline_spark.plans.query_dsl import compile_query
from hive2es_offline_spark.sources import read_table

from conftest import SF_SMOKE


@contextmanager
def spark_jobs(spark):
    """Collect the ids of the Spark jobs launched inside the block."""
    sc = spark.sparkContext
    group = f"count-{uuid.uuid4().hex}"
    ids: list[int] = []
    sc.setLocalProperty("spark.jobGroup.id", group)
    try:
        yield ids
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        # the status store fills from the listener bus, asynchronously
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        ids.extend(sc.statusTracker().getJobIdsForGroup(group))


def test_warm_run_job_launches_one_spark_job(spark, tmp_path):
    read_table(spark, "lineitem", SF_SMOKE)  # the session has seen the table
    cfg = Hive2ESConfig(
        table="lineitem",
        index_name="lineitem_20240101",
        sf_dir=SF_SMOKE,
        where="l_quantity < 30",
        routing_col="l_orderkey",
        num_shards=3,
        output_root=str(tmp_path),
    )
    with spark_jobs(spark) as jobs:
        manifest = run_job(spark, cfg)
    assert manifest["state"] == "completed" and manifest["doc_count"] > 0
    assert len(jobs) == 1, f"run_job launched jobs {jobs}"


def test_repeat_read_of_unchanged_table_launches_no_job(spark):
    first = read_table(spark, "lineitem", SF_SMOKE)
    with spark_jobs(spark) as jobs:
        again = read_table(spark, "lineitem", SF_SMOKE, where="l_quantity < 30")
    assert jobs == []
    assert again.schema == first.schema


def _write_file(path, table):
    pq.write_table(table, str(path))


def _write_dir(path, table, spark):
    spark.createDataFrame(table.to_pandas()).coalesce(1).write.mode("overwrite").parquet(str(path))


@pytest.mark.parametrize("layout", ["file", "directory"])
def test_rewritten_table_is_inferred_again(spark, tmp_path, layout):
    path = tmp_path / "t.parquet"
    write = _write_file if layout == "file" else (lambda p, t: _write_dir(p, t, spark))
    write(path, pa.table({"a": [1, 2]}))
    assert read_table(spark, "t", str(tmp_path)).columns == ["a"]
    write(path, pa.table({"a": [1, 2], "b": ["x", "y"]}))
    df = read_table(spark, "t", str(tmp_path))
    assert df.columns == ["a", "b"]
    assert [r["a"] for r in df.where("b = 'y'").collect()] == [2]


def test_schema_cache_shared_between_threads():
    # more threads than cores on a tiny cache, with a short switch
    # interval: no lost or torn entry, the bound holds, sessions stay apart
    import sys
    import threading

    from hive2es_offline_spark.sources.tables import SchemaCache

    class Session:  # weakref-able stand-in for a SparkSession
        pass

    cache, sessions = SchemaCache(size=4), [Session(), Session()]
    errors: list[BaseException] = []

    def hammer(t):
        try:
            for i in range(2000):
                s, key = sessions[i % 2], (t, i % 6)
                cache.put(s, key, (id(s), key))
                got = cache.get(s, key)
                assert got in (None, (id(s), key)), got
        except BaseException as e:  # reported below, on the main thread
            errors.append(e)

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=hammer, args=(t,)) for t in range(16)]
        for th in threads:
            th.start()
        for th in threads:
            th.join(timeout=60)
    finally:
        sys.setswitchinterval(old)
    assert not any(th.is_alive() for th in threads)
    assert errors == []
    for s in sessions:
        assert 0 < len(cache._by_session[s]) <= 4


def _documents(spark):
    """The seeded documents corpus, read with a warm schema cache."""
    read_table(spark, "documents", SF_SMOKE)
    return read_table(spark, "documents", SF_SMOKE)


def _multi_match(mm_type, query, fields, **extra):
    return {"query": {"multi_match": {
        "query": query, "fields": fields, "type": mm_type, **extra}},
        "size": 5, "_source": ["doc_id"]}


#: (body, job bound) of one scored search each, build and collect
SCORED_SEARCHES = {
    "match": ({"query": {"match": {"text": "merge stream vector"}},
               "size": 10, "_source": ["doc_id"]}, 3),
    "cross_fields": (_multi_match(
        "cross_fields", "merge src3", ["text", "source"],
        operator="and", tie_breaker=0.3), 3),
    # no score reads a term map here: no statistics job either
    "phrase_prefix": (_multi_match("phrase_prefix", "slow sc", ["text"]), 1),
}


@pytest.mark.parametrize("search", sorted(SCORED_SEARCHES))
def test_scored_search_jobs(spark, search):
    from hive2es_offline_spark.plans.scoring import es_scored_search

    body, bound = SCORED_SEARCHES[search]
    docs = _documents(spark)
    with spark_jobs(spark) as jobs:
        rows = es_scored_search(docs, body, id_field="doc_id").collect()
    assert rows
    assert len(jobs) <= bound, f"{search}: jobs {jobs}"


def test_six_arm_multi_match_msearch_jobs(spark):
    import __spark_entry__ as entry

    _documents(spark)
    with spark_jobs(spark) as jobs:
        rows = entry.q_es_multi_match_types(spark, SF_SMOKE).collect()
    assert {r["mm_type"] for r in rows} >= {"best_fields", "cross_fields"}
    assert len(jobs) <= 10, f"jobs {jobs}"


def test_esql_score_build_runs_no_job(spark):
    from hive2es_offline_spark.plans.esql import esql

    docs = _documents(spark)
    with spark_jobs(spark) as jobs:
        out = esql({"documents": docs}, """
            FROM documents METADATA _score
            | WHERE MATCH(text, "merge stream") AND TERM(source, "src3")
            | WHERE MULTI_MATCH("merge", text, source)
            | KEEP doc_id, _score | SORT _score DESC, doc_id ASC | LIMIT 5
        """)
    assert jobs == []
    assert out.count() >= 0


@contextmanager
def py4j_calls(spark):
    """Count the gateway commands sent inside the block, from any
    thread.  Release commands, which py4j sends whenever Python's GC
    frees a proxy, are left out: their number depends on GC timing, not
    on the code."""
    client = spark.sparkContext._gateway._gateway_client
    send = client.send_command
    calls = [0]
    lock = threading.Lock()

    def counted(command, *args, **kwargs):
        if not command.startswith(MEMORY_COMMAND_NAME):
            with lock:
                calls[0] += 1
        return send(command, *args, **kwargs)

    client.send_command = counted
    try:
        yield calls
    finally:
        client.send_command = send


def test_six_arm_multi_match_msearch_build_py4j_calls(spark):
    # a score-tree node compiles its match predicate only where it gates
    # on it: compiling one at every node made this build 3 378 calls;
    # gating nodes only, 2 892; the score as one SQL text, 1 068; the
    # match predicates as SQL text too, 849; the helper columns dropped
    # by one parsed projection, 800
    import __spark_entry__ as entry

    _documents(spark)
    entry.q_es_multi_match_types(spark, SF_SMOKE)  # warm
    with py4j_calls(spark) as calls:
        entry.q_es_multi_match_types(spark, SF_SMOKE)
    assert 0 < calls[0] <= 880, f"{calls[0]} py4j calls"  # 800


def _scored_frame(spark):
    """Two documents with a field for each score-tree family."""
    import datetime

    return spark.createDataFrame([
        ("1", "the quick brown fox", "quick fox", "a", 3.0,
         datetime.datetime(2024, 1, 3), (1.0, 1.0), {"quick": 2.0, "fox": 1.0}),
        ("2", "a lazy dog sleeps", "lazy dog", "b", 7.0,
         datetime.datetime(2024, 2, 1), (2.0, 2.0), {"dog": 1.0}),
    ], "id string, text string, title string, tag string, n double, "
       "ts timestamp, loc struct<lat: double, lon: double>, "
       "sv map<string, double>")


#: (query, py4j bound) of one warm ``es_scored_search`` build each; a
#: bound is the latest measured count plus 10 %, earlier counts follow it
SCORE_TREE_BUILDS = {
    # 109 calls; 382 before filter clauses rendered as Spark-SQL text;
    # 1 452 when the score was assembled from Columns
    "function_score": ({"function_score": {
        "query": {"match": {"text": "quick fox"}},
        "functions": [
            {"gauss": {"n": {"origin": 5, "scale": 2}}},
            {"exp": {"ts": {"origin": "2024-01-01", "scale": "10d"}}},
            {"linear": {"loc": {"origin": {"lat": 0, "lon": 0},
                                "scale": "500km"}}},
            {"field_value_factor": {"field": "n", "modifier": "log1p",
                                    "missing": 1}},
            {"weight": 2.0, "filter": {"term": {"tag": "a"}}}],
        "score_mode": "sum", "boost_mode": "multiply"}}, 120),
    # 108; 240; 461
    "pinned_boosting": ({"pinned": {"ids": ["2"], "organic": {"boosting": {
        "positive": {"match": {"text": "quick"}},
        "negative": {"term": {"tag": "b"}}, "negative_boost": 0.5}}}}, 119),
    # 115; 357; 752
    "bool_dis_max": ({"bool": {
        "must": [{"dis_max": {"queries": [
            {"match": {"text": "quick"}}, {"match": {"title": "fox"}}],
            "tie_breaker": 0.3}}],
        "should": [{"term": {"tag": "a"}}, {"range": {"n": {"gte": 1}}}]}},
        127),
    # 66; 661; 991
    "sparse_rank_feature": ({"bool": {"should": [
        {"sparse_vector": {"field": "sv",
                           "query_vector": {"quick": 1.0, "fox": 0.5}}},
        {"rank_feature": {"field": "n", "saturation": {"pivot": 3}}}]}},
        73),
    # 115; 136; 1 073
    "cross_fields": ({"multi_match": {
        "query": "quick fox", "fields": ["text", "title^2"],
        "type": "cross_fields", "tie_breaker": 0.3}}, 127),
}


@pytest.mark.parametrize("name", sorted(SCORE_TREE_BUILDS))
def test_score_tree_build_py4j_calls(spark, name):
    from hive2es_offline_spark.plans.scoring import es_scored_search

    query, bound = SCORE_TREE_BUILDS[name]
    df = _scored_frame(spark)

    def build():
        return es_scored_search(df, {"query": query, "size": 5},
                                id_field="id")

    build()  # warm
    with py4j_calls(spark) as calls:
        build()
    assert 0 < calls[0] <= bound, f"{name}: {calls[0]} py4j calls"
    assert build().count() > 0


CHAIN_BUILDS = {
    "analyze_col": (lambda c: A.analyze_col(c, "english"), 40),
    "candidate_tokens_col": (
        lambda c: A.candidate_tokens_col(c, ["run"], "english"), 40),
    "with_chain_positions": (
        lambda c: A.with_chain_positions(
            c, [("run", False), ("fast", True)],
            lambda p: f"array({p[0]}, {p[1]})", "english"), 40),
}


@pytest.mark.parametrize("build", sorted(CHAIN_BUILDS))
def test_chain_build_py4j_calls(spark, build):
    fn, bound = CHAIN_BUILDS[build]
    col = F.col("text")
    fn(col)  # warm: first-use lookups are not the build's cost
    with py4j_calls(spark) as calls:
        fn(col)
    assert 0 < calls[0] <= bound, f"{build}: {calls[0]} py4j calls"


def _span(term):
    return {"span_term": {"text": term}}


NEAR3 = [_span("quick"), _span("brown"), _span("fox")]

#: (analyzer, clause) of one positions-clause build each
POSITIONS_BUILDS = {
    "match_phrase_sloppy": ("standard", {"match_phrase": {"text": {
        "query": "quick brown fox", "slop": 2}}}),
    "match_phrase_english": ("english", {"match_phrase": {"text": {
        "query": "the running dogs"}}}),
    "match_phrase_prefix_slop": ("standard", {"match_phrase_prefix": {
        "text": {"query": "quick brown fo", "slop": 1}}}),
    "span_near_in_order": ("standard", {"span_near": {
        "clauses": NEAR3, "slop": 2, "in_order": True}}),
    "span_near_unordered": ("standard", {"span_near": {
        "clauses": NEAR3, "slop": 2, "in_order": False}}),
    "span_within": ("standard", {"span_within": {
        "little": _span("brown"),
        "big": {"span_near": {"clauses": NEAR3[::2], "slop": 3}}}}),
    "span_not": ("standard", {"span_not": {
        "include": _span("fox"), "exclude": _span("quick")}}),
    "intervals_ordered_match": ("standard", {"intervals": {"text": {
        "match": {"query": "quick brown fox", "ordered": True,
                  "max_gaps": 2}}}}),
    "intervals_all_of": ("standard", {"intervals": {"text": {"all_of": {
        "ordered": True, "intervals": [
            {"match": {"query": "quick"}}, {"prefix": {"prefix": "fo"}}]}}}}),
}


@pytest.mark.parametrize("build", sorted(POSITIONS_BUILDS))
def test_positions_build_py4j_calls(spark, build):
    analyzer, clause = POSITIONS_BUILDS[build]
    with A.using(analyzer):
        compile_query(clause, "id")  # warm
        with py4j_calls(spark) as calls:
            compile_query(clause, "id")
    assert 0 < calls[0] <= 40, f"{build}: {calls[0]} py4j calls"


#: fixed parameters of the generated search_mix queries
SEARCH_MIX_PARAMS = {
    "filter_topk": {"lo": 5, "hi": 20, "flag": "R", "status": "O", "k": 10},
    "aggs_terms": {"discount": 0.03},
    "aggs_date_histogram": {"status": "F", "interval": "month"},
    "match_bm25": {"terms": ["merge", "stream"], "k": 10},
    "esql_stats": {"year": 1995, "discount": 0.03},
}

#: (py4j bound, build-job bound) of one warm build each; a bound is the
#: latest measured count plus at most 10 %, and a count in parentheses
#: is the one before filter clauses rendered as Spark-SQL text
SEARCH_MIX_BUILDS = {
    "filter_topk": (124, 0),            # 112 calls, 0 jobs (275)
    "aggs_terms": (238, 0),             # 216, 0 (240)
    "aggs_date_histogram": (165, 0),    # 150, 0 (174)
    "match_bm25": (148, 0),             # 134, 0 (180)
    "es_retriever_rrf": (1467, 0),      # 1 333, 0 (1 379)
    "es_retriever_pinned": (911, 3),    # 828, 3 (907)
    "es_knn": (698, 1),                 # 634, 1: the knn top-k collect (658)
    "esql_stats": (161, 0),             # 147, 0
    "es_esql_score": (143, 0),          # 130, 0 (153)
    "es_esql_knn": (751, 1),            # 683, 1: the KNN boundary
}


def _search_mix_build(spark, name):
    """A registered ``es_`` query, or a generated body compiled over its
    table, as ``perfbench``'s search_mix builds each op."""
    if name.startswith("es_"):
        import __spark_entry__ as entry

        return lambda: entry.queries()[name](spark, SF_SMOKE)
    from perfbench.workloads import _compile, render

    entry_fn, request, _, _ = render(name, SEARCH_MIX_PARAMS[name])
    return lambda: _compile(spark, SF_SMOKE, name, entry_fn, request)


@pytest.mark.parametrize("name", sorted(SEARCH_MIX_BUILDS))
def test_search_mix_build_counters(spark, name):
    py4j_bound, jobs_bound = SEARCH_MIX_BUILDS[name]
    build = _search_mix_build(spark, name)
    build()  # warm: schema inference and first-use lookups
    with spark_jobs(spark) as jobs, py4j_calls(spark) as calls:
        build()
    assert 0 < calls[0] <= py4j_bound, f"{name}: {calls[0]} py4j calls"
    assert len(jobs) <= jobs_bound, f"{name}: build jobs {jobs}"


#: (clause, py4j bound) of one warm ``compile_query`` build each; a bound
#: is the measured count plus 10 %, the count when the clauses were
#: built from Columns in parentheses
QUERY_LEAF_BUILDS = {
    "term": ({"term": {"l_returnflag": "R"}}, 4),  # 3 calls (27)
    "range": ({"range": {"l_quantity": {"gte": 5, "lte": 20}}}, 4),  # 3 (65)
    "filter_topk_bool": ({"bool": {  # 3 (166)
        "filter": [{"range": {"l_quantity": {"gte": 5, "lte": 20}}},
                   {"term": {"l_returnflag": "R"}}],
        "must_not": [{"term": {"l_linestatus": "O"}}]}}, 4),
    "nested_bool": ({"nested": {"path": "items", "query": {"bool": {  # 3 (106)
        "must": [{"term": {"items.brand": "acme"}},
                 {"range": {"items.qty": {"gte": 5, "lte": 9}}}]}}}}, 4),
    "geo_distance": ({"geo_distance": {  # 3 (197)
        "distance": "10km", "loc": {"lat": 48.86, "lon": 2.35}}}, 4),
}


@pytest.mark.parametrize("name", sorted(QUERY_LEAF_BUILDS))
def test_query_leaf_build_py4j_calls(spark, name):
    clause, bound = QUERY_LEAF_BUILDS[name]
    compile_query(clause, "id")  # warm
    with py4j_calls(spark) as calls:
        compile_query(clause, "id")
    assert 0 < calls[0] <= bound, f"{name}: {calls[0]} py4j calls"
