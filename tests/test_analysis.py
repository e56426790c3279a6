"""The analysis chain (plans/analysis.py): standard-analyzer tokenization
consistent across the Spark column path, the driver/Python path, the
DuckDB oracle path, and every consumer surface (match, phrase+slop,
minimum_should_match, BM25, highlight, _analyze) — VERDICT r8 #2."""

import pytest
from pyspark.sql import functions as F

from hive2es_offline_spark.plans.analysis import (
    analyze_col,
    analyze_text,
    analyze_with_offsets,
    duckdb_tokens,
    using,
)
from hive2es_offline_spark.plans.query_dsl import (
    compile_query,
    es_analyze,
    es_search,
)

PUNCT = [
    "Hello, World!",
    "don't stop 2.5 u.s.a. foo_bar",
    "a--b  c\td",
    "end.",
    "'quoted' trailing'",
    "semi;colon:and(parens)",
]


def test_three_way_tokenizer_parity(spark):
    """Spark column, Python driver, and DuckDB oracle tokenizers agree on
    punctuated text (the driver's value-hash compare depends on it)."""
    import duckdb

    df = spark.createDataFrame([(t,) for t in PUNCT], "t string")
    spark_toks = [r["toks"] for r in
                  df.select(analyze_col(F.col("t")).alias("toks")).collect()]
    py_toks = [analyze_text(t) for t in PUNCT]
    con = duckdb.connect()
    duck_toks = [
        con.execute(f"select {duckdb_tokens('$1')}", {"1": t}).fetchone()[0]
        for t in PUNCT
    ]
    assert spark_toks == py_toks == duck_toks


def test_standard_token_grammar():
    assert analyze_text("Hello, World!") == ["hello", "world"]
    # UAX#29 joiners: apostrophe/dot BETWEEN runs, underscore inside
    assert analyze_text("don't stop 2.5 u.s.a. foo_bar") == [
        "don't", "stop", "2.5", "u.s.a", "foo_bar"]
    # every other punctuation run splits; whitespace of any kind splits
    assert analyze_text("a--b  c\td") == ["a", "b", "c", "d"]
    assert analyze_text("semi;colon:and(parens)") == [
        "semi", "colon", "and", "parens"]
    # leading/trailing joiners do not attach
    assert analyze_text("'quoted' trailing'") == ["quoted", "trailing"]
    assert analyze_text("") == []
    # the whitespace fallback keeps the historical semantics
    assert analyze_text("Hello, World!", "whitespace") == ["hello,", "world!"]
    with pytest.raises(ValueError, match="unsupported analyzer"):
        analyze_text("x", "simple")


def test_match_hits_punctuated_text(spark):
    # the realism gap VERDICT r8 called out: match: "world" vs "world!"
    df = spark.createDataFrame(
        [(1, "Hello, world!"), (2, "worldly affairs"), (3, "WORLD")],
        "id long, t string")
    got = [r["id"] for r in
           df.where(compile_query({"match": {"t": "world"}}, "id"))
           .orderBy("id").collect()]
    assert got == [1, 3]
    # under the whitespace fallback the old behavior is reproducible
    with using("whitespace"):
        got = [r["id"] for r in
               df.where(compile_query({"match": {"t": "world"}}, "id"))
               .orderBy("id").collect()]
    assert got == [3]


def test_es_search_analyzer_option(spark):
    df = spark.createDataFrame([(1, "Hello, world!")], "id long, t string")
    body = {"query": {"match": {"t": "world"}}, "_source": ["id"]}
    assert es_search(df, body, id_field="id").count() == 1
    assert es_search(df, body, id_field="id", analyzer="whitespace").count() == 0
    with pytest.raises(ValueError, match="unsupported analyzer"):
        es_search(df, body, id_field="id", analyzer="nope")


def test_match_phrase_over_analyzed_stream(spark):
    df = spark.createDataFrame(
        [(1, "the quick brown fox jumps"), (2, "quick, fox!"),
         (3, "fox quick"), (4, "quick x brown y fox"), (5, None)],
        "id long, t string")

    def hits(body):
        return [r["id"] for r in
                df.where(F.coalesce(compile_query(body, "id"), F.lit(False)))
                .orderBy("id").collect()]

    # punctuation between the terms is a token boundary, not a mismatch
    assert hits({"match_phrase": {"t": "quick fox"}}) == [2]
    # slop: in-order gap cost (doc 1: quick..fox gap 1); Lucene's
    # transposed-pair cost is 2 (doc 3), per the ES docs example
    assert hits({"match_phrase": {"t": {"query": "quick fox", "slop": 1}}}) == [1, 2]
    assert hits({"match_phrase": {"t": {"query": "quick fox", "slop": 2}}}) == [1, 2, 3]
    # 3+ terms: in-order minimal cost p_n - p_1 - (n-1)
    assert hits({"match_phrase": {"t": {"query": "quick brown fox", "slop": 2}}}) == [1, 4]
    assert hits({"match_phrase": {"t": {"query": "quick brown fox"}}}) == [1]
    # prefix variant rides the same token stream
    assert hits({"match_phrase_prefix": {"t": "brown fo"}}) == [1]


def test_minimum_should_match_grammar(spark):
    df = spark.createDataFrame(
        [(1, "a b c d"), (2, "a b"), (3, "a"), (4, "x")], "id long, t string")

    def hits(msm):
        body = {"match": {"t": {"query": "a b c d",
                                "minimum_should_match": msm}}}
        return [r["id"] for r in
                df.where(compile_query(body, "id")).orderBy("id").collect()]

    assert hits(2) == [1, 2]
    assert hits(-2) == [1, 2]          # 4 terms - 2 allowed misses
    assert hits("75%") == [1]          # floor(3.0) = 3 required
    assert hits("-25%") == [1]         # 4 - floor(1.0) = 3 required
    assert hits("50%") == [1, 2]
    # conditional: <=3 terms -> all required; >3 -> 50%
    assert hits("3<50%") == [1, 2]
    # multi-condition picks the largest N below the term count
    assert hits("1<4 5<50%") == [1]
    # multi_match forwards msm per field
    body = {"multi_match": {"query": "a b c d", "fields": ["t"],
                            "minimum_should_match": "75%"}}
    assert [r["id"] for r in df.where(compile_query(body, "id")).collect()] == [1]


def test_msm_and_slop_in_score_context(spark):
    from hive2es_offline_spark.plans.scoring import es_scored_search

    df = spark.createDataFrame(
        [(1, "a b c d"), (2, "a b x y"), (3, "a x y z")], "id long, t string")
    out = es_scored_search(df, {"query": {"match": {
        "t": {"query": "a b c d", "minimum_should_match": "75%"}}},
        "size": 10}, id_field="id").collect()
    assert [r["id"] for r in out] == [1]  # msm gates the scored hit set
    df2 = spark.createDataFrame(
        [(1, "alpha beta"), (2, "alpha mid beta"), (3, "beta alpha")],
        "id long, t string")
    out = es_scored_search(df2, {"query": {"match_phrase": {
        "t": {"query": "alpha beta", "slop": 1}}}, "size": 10},
        id_field="id").collect()
    assert sorted(r["id"] for r in out) == [1, 2]


def test_es_analyze_standard_offsets(spark):
    rows = es_analyze(spark, "Hello, World! don't").collect()
    assert [(r["token"], r["position"], r["start_offset"], r["end_offset"])
            for r in rows] == [
        ("hello", 0, 0, 5), ("world", 1, 7, 12), ("don't", 2, 14, 19)]
    rows = es_analyze(spark, "Hello, World!", analyzer="whitespace").collect()
    assert [r["token"] for r in rows] == ["hello,", "world!"]
    assert analyze_with_offsets("a.b c") == [("a.b", 0, 0, 3), ("c", 1, 4, 5)]


def test_highlight_uses_analyzed_terms(spark):
    df = spark.createDataFrame([(1, "Say hello, world!")], "id long, t string")
    body = {"query": {"match": {"t": "hello, world"}},
            "highlight": {"fields": {"t": {}}}}
    out = es_search(df, body, id_field="id").collect()
    assert out[0]["t_highlight"] == "Say <em>hello</em>, <em>world</em>!"


def test_bm25_parity_on_punctuated_corpus_vs_duckdb(spark):
    """End-to-end DuckDB value parity for scored search over PUNCTUATED
    text — the oracle tokenizes with the same regexp (VERDICT r8 #2
    'DuckDB parity suite green on punctuated fixtures')."""
    import duckdb

    from hive2es_offline_spark.plans.scoring import es_scored_search

    rows = [(1, "Merge the stream; now!"), (2, "vector index (build) merge"),
            (3, "merge request, merge queue."), (4, "stream of vectors"),
            (5, "nothing relevant here at all")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = es_scored_search(
        df, {"query": {"match": {"text": "merge stream"}}, "size": 10,
             "_source": ["doc_id"]}, id_field="doc_id"
    ).toPandas()
    con = duckdb.connect()
    con.execute("create table docs(doc_id bigint, text varchar)")
    con.executemany("insert into docs values (?, ?)", rows)
    toks = duckdb_tokens("text")
    oracle = con.sql(f"""
WITH base AS (SELECT doc_id, {toks} AS toks FROM docs),
dl AS (SELECT doc_id, len(toks)::DOUBLE AS dl FROM base),
stats AS (SELECT count(*)::DOUBLE n, avg(dl) avgdl FROM dl),
hits AS (SELECT doc_id, unnest(toks) term FROM base),
tf AS (SELECT doc_id, term, count(*)::DOUBLE tf FROM hits
       WHERE term IN ('merge','stream') GROUP BY 1, 2),
dfreq AS (SELECT term, count(*)::DOUBLE df FROM tf GROUP BY 1),
p AS (SELECT tf.doc_id,
             round(ln(1.0 + (s.n - d.df + 0.5)/(d.df + 0.5))
                   * (tf.tf * 2.2)
                   / (tf.tf + 1.2*(1 - 0.75 + 0.75*dl.dl/s.avgdl)), 6) AS pp
      FROM tf JOIN dfreq d USING (term) JOIN dl USING (doc_id), stats s)
SELECT doc_id,
       round(sum(CAST(pp AS DECIMAL(28,6)))::DOUBLE, 6) AS _score
FROM p GROUP BY doc_id ORDER BY _score DESC, doc_id
""").df()
    got = got.sort_values(["_score", "doc_id"],
                          ascending=[False, True]).reset_index(drop=True)
    assert list(got["doc_id"]) == list(oracle["doc_id"])
    assert list(got["_score"]) == pytest.approx(list(oracle["_score"]),
                                                abs=2e-6)


def test_phrase_regex_fast_path_equals_positions_engine(spark):
    """The slop=0 regexp_like fast path must agree with the positions
    engine (_phrase_predicate over analyze_col) on adversarial joiner /
    separator layouts — token bridges (don't, u.s.a), lone joiners,
    multi-char separators, boundary joiners.  compile_query's own
    match_phrase, which renders the pattern into SQL text, must agree
    too (the ``\\p{L}`` classes survive the literal's escaping)."""
    from hive2es_offline_spark.plans.query_dsl import (
        _phrase_predicate,
        _phrase_regex_pattern,
        compile_query,
    )

    def compiled(terms):
        return compile_query({"match_phrase": {"t": " ".join(terms)}}, "id")

    frags = ["don", "t", "u", "s", "2", "5", "quick", "fox"]
    seps = ["'", ".", " ", ", ", " '", "' ", "..", ". ", "-", " - ", ""]
    texts = []
    import itertools
    for a, b in itertools.product(frags[:4], frags[:4]):
        for s1 in seps:
            texts.append(f"{a}{s1}{b}")
            texts.append(f"x {a}{s1}{b} y")
            texts.append(f"x'{a}{s1}{b}.y")
    texts += ["Don't stop", "u.s.a", "2.5 done", "quick.fox", "quick..fox",
              "quick 'fox", "a quick fox", "quickfox", "the quick, fox!"]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)],
                               "id long, t string")
    phrases = [["don", "t"], ["u", "s"], ["2", "5"], ["quick", "fox"],
               ["don't", "stop"], ["u.s", "a"], ["t", "don"]]
    for terms in phrases:
        fast = F.regexp_like(F.lower(F.col("t")),
                             F.lit(_phrase_regex_pattern(terms)))
        ref = _phrase_predicate(analyze_col(F.col("t")), terms, 0)
        rows = df.select(
            "id", "t",
            F.coalesce(fast, F.lit(False)).alias("fast"),
            F.coalesce(ref, F.lit(False)).alias("ref"),
            F.coalesce(compiled(terms), F.lit(False)).alias("cq"),
        ).where((F.col("fast") != F.col("ref"))
                | (F.col("cq") != F.col("ref"))).collect()
        assert not rows, (terms, [(r["t"], r["fast"], r["ref"], r["cq"])
                                  for r in rows[:10]])
    # whitespace analyzer parity too
    with using("whitespace"):
        for terms in [["quick", "fox"], ["don't", "stop"]]:
            fast = F.regexp_like(F.lower(F.col("t")),
                                 F.lit(_phrase_regex_pattern(terms)))
            ref = _phrase_predicate(analyze_col(F.col("t")), terms, 0)
            rows = df.select(
                "t", F.coalesce(fast, F.lit(False)).alias("fast"),
                F.coalesce(ref, F.lit(False)).alias("ref"),
                F.coalesce(compiled(terms), F.lit(False)).alias("cq"),
            ).where((F.col("fast") != F.col("ref"))
                    | (F.col("cq") != F.col("ref"))).collect()
            assert not rows, (terms, [(r["t"], r["fast"], r["ref"], r["cq"])
                                      for r in rows[:10]])


def test_msm_floor_one_never_matches_all(spark):
    """code-review r9: an msm spec computing to 0 must keep >=1 required
    term (Lucene disjunction semantics), never degrade match into
    match_all — in the plain, fuzzy, and MLT-rewritten paths."""
    df = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "alpha x"), (3, "none of them")],
        "id long, t string")
    # 25% of 3 floors to 0 -> clamped to 1
    body = {"match": {"t": {"query": "alpha beta gamma",
                            "minimum_should_match": "25%"}}}
    got = [r["id"] for r in df.where(compile_query(body, "id"))
           .orderBy("id").collect()]
    assert got == [1, 2]
    # explicit 0 / deeply negative also clamp to 1 in match context
    for msm in (0, -5):
        body = {"match": {"t": {"query": "alpha beta",
                                "minimum_should_match": msm}}}
        got = [r["id"] for r in df.where(compile_query(body, "id"))
               .orderBy("id").collect()]
        assert got == [1, 2], msm
    # fuzzy path clamps too
    body = {"match": {"t": {"query": "alpha beta", "fuzziness": 1,
                            "minimum_should_match": 0}}}
    got = sorted(r["id"] for r in df.where(compile_query(body, "id")).collect())
    assert got == [1, 2]
    # bool keeps floor 0: explicit msm 0 beside must = should optional
    body = {"bool": {"must": [{"match": {"t": "alpha"}}],
                     "should": [{"match": {"t": "gamma"}}],
                     "minimum_should_match": 0}}
    got = sorted(r["id"] for r in df.where(compile_query(body, "id")).collect())
    assert got == [1, 2]
    # bool msm now takes the percentage grammar as well
    body = {"bool": {"should": [{"match": {"t": "alpha"}},
                                {"match": {"t": "beta"}},
                                {"match": {"t": "none"}}],
                     "minimum_should_match": "67%"}}
    got = sorted(r["id"] for r in df.where(compile_query(body, "id")).collect())
    assert got == [1]  # needs 2 of 3


# --- round 11: language analysis chains (VERDICT r10 #2) ---------------------


class TestEnglishChain:
    def test_stem_vectors(self):
        from hive2es_offline_spark.plans.analysis import stem_text

        vec = {
            # Porter step 1a
            "caresses": "caress", "ponies": "poni", "cats": "cat",
            "dress": "dress", "virus": "virus",
            # step 1b + cleanup (and the eed blocker)
            "running": "run", "hopping": "hop", "falling": "fall",
            "agreed": "agre", "feed": "feed", "sized": "siz",
            "troubled": "troubl", "bled": "bled", "sing": "sing",
            # step 2 lite
            "relational": "relat", "vietnamization": "vietnamiz",
            # 1c / 5a / 5b
            "happy": "happi", "sky": "sky", "hope": "hop",
            "controlling": "control", "see": "see",
        }
        for w, s in vec.items():
            assert stem_text(w) == s, (w, stem_text(w), s)
        # query and corpus conflate: the property that matters for search
        for a, b in [("running", "run"), ("ponies", "pony"),
                     ("hoping", "hope"), ("agreed", "agree")]:
            assert stem_text(a) == stem_text(b), (a, b)

    def test_english_chain_order(self):
        # possessive strip -> stopword (post-lowercase) -> stem
        # (shoes -> shoe -> sho: step 5a's final-e rule, like Porter's)
        assert analyze_text("The runner's shoes were THE best", "english") \
            == ["runner", "sho", "wer", "best"]
        # an all-stopword query analyzes to [] (zero_terms territory)
        assert analyze_text("the a an of", "english") == []

    def test_three_way_english_parity_fixed(self):
        import duckdb

        texts = PUNCT + [
            "The ponies were running; John's dog agreed!",
            "hoping, hopped, hopping, hoped",
            "relational vietnamization happiness controlling",
            "skies sky say stay busses fusses",
            "feed agreed freed exceed",
        ]
        con = duckdb.connect()
        for t in texts:
            py = analyze_text(t, "english")
            duck = con.execute(
                f"select {duckdb_tokens('$1', 'english')}", {"1": t}
            ).fetchone()[0]
            assert py == duck, (t, py, duck)

    def test_three_way_english_parity_spark(self, spark):
        import duckdb

        texts = PUNCT + [
            "The ponies were running; John's dog agreed!",
            "relational vietnamization happiness controlling",
        ]
        df = spark.createDataFrame([(t,) for t in texts], "t string")
        got = [r["toks"] for r in df.select(
            analyze_col(F.col("t"), "english").alias("toks")).collect()]
        assert got == [analyze_text(t, "english") for t in texts]

    def test_three_way_english_parity_property(self):
        import duckdb

        from hypothesis import given, settings
        from hypothesis import strategies as st

        con = duckdb.connect()

        @settings(max_examples=150, deadline=None)
        @given(st.text(
            alphabet=st.sampled_from(
                list("abcdefghijklmnopqrstuvwxyzAEIOUY' .,-_0123456789")),
            max_size=40))
        def check(t):
            py = analyze_text(t, "english")
            duck = con.execute(
                f"select {duckdb_tokens('$1', 'english')}", {"1": t}
            ).fetchone()[0]
            assert py == duck, (t, py, duck)

        check()

    def test_match_english_running_matches_run(self, spark):
        # the VERDICT r10 #2 acceptance example: an index analyzed with
        # 'english' must hit "running" for query "run" and ignore "the"
        df = spark.createDataFrame(
            [(1, "The dogs were running fast"), (2, "a run in the park"),
             (3, "nothing relevant"), (4, "The The The")],
            "id long, t string")
        body = {"query": {"match": {"t": "run"}}, "_source": ["id"]}
        got = [r["id"] for r in es_search(
            df, body, id_field="id", analyzer="english")
            .orderBy("id").collect()]
        assert got == [1, 2]
        # stopword-only query = zero terms = no hits (ES default 'none')
        assert es_search(df, {"query": {"match": {"t": "the"}},
                              "_source": ["id"]},
                         id_field="id", analyzer="english").count() == 0


class TestCustomAnalyzers:
    def test_register_synonym_analyzer_three_way(self, spark):
        import duckdb

        from hive2es_offline_spark.plans.analysis import register_analyzer

        register_analyzer(
            "english_syn", possessive=True, stopwords="_english_",
            stemmer=True,
            synonyms=[["car", "auto", "automobile"],
                      ["fast", "quick", "speedy"]])
        texts = ["The automobiles were quick!", "a speedy car", "autos"]
        py = [analyze_text(t, "english_syn") for t in texts]
        # every member rewrites to the group head, post-stem
        assert py[0] == ["car", "wer", "fast"]
        assert py[1] == ["fast", "car"]
        assert py[2] == ["car"]
        con = duckdb.connect()
        for t, exp in zip(texts, py):
            duck = con.execute(
                f"select {duckdb_tokens('$1', 'english_syn')}", {"1": t}
            ).fetchone()[0]
            assert duck == exp, (t, duck, exp)
        df = spark.createDataFrame([(t,) for t in texts], "t string")
        got = [r["toks"] for r in df.select(
            analyze_col(F.col("t"), "english_syn").alias("toks")).collect()]
        assert got == py
        # and the match surface composes: query "auto" hits "car" docs
        df2 = spark.createDataFrame(
            [(1, "my car is red"), (2, "the bike")], "id long, t string")
        assert [r["id"] for r in es_search(
            df2, {"query": {"match": {"t": "auto"}}, "_source": ["id"]},
            id_field="id", analyzer="english_syn").collect()] == [1]

    def test_register_rejects_bad_specs(self):
        from hive2es_offline_spark.plans.analysis import register_analyzer

        with pytest.raises(ValueError, match="built-in"):
            register_analyzer("english", stemmer=True)
        with pytest.raises(ValueError, match="tokenizer"):
            register_analyzer("x1", tokenizer="icu")
        # _german_/_spanish_ (r13a), _italian_/_portuguese_ (r13b),
        # _russian_ (r14) and _dutch_ (r14b) became supported shorthands
        with pytest.raises(ValueError, match="stopword set"):
            register_analyzer("x2", stopwords="_swedish_")
        with pytest.raises(ValueError, match="stopword"):
            register_analyzer("x3", stopwords="_english_",
                              synonyms=[["the", "car"]])
        with pytest.raises(ValueError, match="multiple canonicals"):
            register_analyzer("x4", synonyms=[["car", "auto"],
                                              ["lorry", "auto"]])

    def test_stopword_only_custom_chain(self, spark):
        from hive2es_offline_spark.plans.analysis import register_analyzer

        register_analyzer("nostem_stop", stopwords=["foo", "bar"])
        assert analyze_text("foo running bar baz", "nostem_stop") == \
            ["running", "baz"]
        import duckdb

        con = duckdb.connect()
        duck = con.execute(
            f"select {duckdb_tokens('$1', 'nostem_stop')}",
            {"1": "foo running bar baz"}).fetchone()[0]
        assert duck == ["running", "baz"]


class TestFilterChainPhrases:
    def test_match_phrase_under_english_chain(self, spark):
        # code-review r11 (top finding): the slop=0 surface-regex fast
        # path is invalid once a filter chain rewrites tokens — phrase
        # queries under 'english' must route through the positions
        # engine over the analyzed stream
        df = spark.createDataFrame(
            [(1, "they were merging streams all day"),
             (2, "merging streams"),
             (3, "streams merging"),          # wrong order
             (4, "merging the streams")],     # stopword between -> gapless
            "id long, t string")

        def hits(body, analyzer="english"):
            return [r["id"] for r in es_search(
                df, {"query": body, "_source": ["id"]},
                id_field="id", analyzer=analyzer).orderBy("id").collect()]

        # stemmed phrase [merg, stream] at slop=0: docs 1, 2, and 4 (the
        # stopword 'the' is REMOVED before positions, so merg/stream are
        # adjacent post-filter — the documented gapless-position model)
        assert hits({"match_phrase": {"t": "merging streams"}}) == [1, 2, 4]
        # inflection-insensitive: query 'merged stream' stems identically
        assert hits({"match_phrase": {"t": "merged stream"}}) == [1, 2, 4]
        # order still matters
        assert hits({"match_phrase": {"t": "streams merged"}}) == [3]
        # prefix variant under the chain
        assert hits({"match_phrase_prefix": {"t": "merging str"}}) \
            == [1, 2, 4]
        # the plain standard chain keeps the regex fast path semantics
        assert hits({"match_phrase": {"t": "merging streams"}},
                    analyzer="standard") == [1, 2]

    def test_whitespace_tokenizer_tab_parity(self, spark):
        # code-review r11: Python .split() tokenized tabs differently
        # from Spark's split(' +') — both must keep 'a\tb' ONE token
        import duckdb

        t = "a\tb c"
        assert analyze_text(t, "whitespace") == ["a\tb", "c"]
        df = spark.createDataFrame([(t,)], "t string")
        got = df.select(analyze_col(
            F.col("t"), "whitespace").alias("x")).collect()[0]["x"]
        assert got == ["a\tb", "c"]
        con = duckdb.connect()
        duck = con.execute(
            f"select {duckdb_tokens('$1', 'whitespace')}", {"1": t}
        ).fetchone()[0]
        assert duck == ["a\tb", "c"]

    def test_possessive_strip_never_leaves_empty_tokens(self, spark):
        # code-review r11: a bare 's token under a whitespace tokenizer
        # must disappear, not become an empty phrase position
        import duckdb

        from hive2es_offline_spark.plans.analysis import register_analyzer

        register_analyzer("ws_poss", tokenizer="whitespace",
                          possessive=True)
        t = "john's 's bag"
        assert analyze_text(t, "ws_poss") == ["john", "bag"]
        df = spark.createDataFrame([(t,)], "t string")
        got = df.select(analyze_col(
            F.col("t"), "ws_poss").alias("x")).collect()[0]["x"]
        assert got == ["john", "bag"]
        con = duckdb.connect()
        duck = con.execute(
            f"select {duckdb_tokens('$1', 'ws_poss')}", {"1": t}
        ).fetchone()[0]
        assert duck == ["john", "bag"]


class TestStemPrefixInvariant:
    def test_invariant_fuzzed(self):
        """stem(t)[:-1] is a PREFIX of t — the guard the match/phrase
        fast paths rely on (candidate_tokens_col / with_chain_positions).
        Exhaustive over short vowel-heavy words plus 30k random tokens;
        a future stemmer rule that edits anywhere but the suffix must
        fail here before it silently drops matches."""
        import itertools
        import random

        from hive2es_offline_spark.plans.analysis import stem_text

        random.seed(11)
        alph = "abcdefghilmnorstuyz'."
        words = itertools.chain(
            ("".join(p) for n in (1, 2, 3, 4)
             for p in itertools.product("aeilnosty", repeat=n)),
            ("".join(random.choice(alph)
                     for _ in range(random.randint(5, 14)))
             for _ in range(30000)),
        )
        for w in words:
            s = stem_text(w)
            assert w.startswith(s[:-1]), (w, s)

    def test_candidate_tokens_equal_full_chain_membership(self, spark):
        # the pruned array must agree with the full chain on membership
        # AND multiplicity of the queried stems (msm counts distinct
        # query-term hits via intersect; overlap via arrays_overlap)
        from hive2es_offline_spark.plans.analysis import (
            analyze_col,
            candidate_tokens_col,
        )

        texts = [
            "The ponies were running; John's dog agreed!",
            "merge merged merging merges stream streams streaming",
            "nothing relevant here at all",
            "skies sky say happy happily hoping hope",
            None, "",
        ]
        df = spark.createDataFrame([(t,) for t in texts], "t string")
        terms = ["merg", "stream", "run", "poni", "happi"]
        full = [r["x"] for r in df.select(F.filter(
            analyze_col(F.col("t"), "english"),
            lambda x: x.isin(*terms)).alias("x")).collect()]
        fast = [r["x"] for r in df.select(F.filter(
            candidate_tokens_col(F.col("t"), terms, "english"),
            lambda x: x.isin(*terms)).alias("x")).collect()]
        assert [sorted(x) if x is not None else None for x in full] == \
            [sorted(x) if x is not None else None for x in fast]

    def test_chain_positions_equal_full_chain_positions(self, spark):
        from hive2es_offline_spark.plans.analysis import (
            analyze_col,
            with_chain_positions,
        )

        texts = ["the ponies were running to the running track",
                 "running", "no hits", None]
        df = spark.createDataFrame([(t,) for t in texts], "t string")

        def ref_positions(term):
            # positions in the full-chain stream, computed independently
            hit = F.transform(
                analyze_col(F.col("t"), "english"),
                lambda x, i: F.when(x == term, i).otherwise(F.lit(-1)))
            return F.filter(hit, lambda p: p >= 0)

        for term in ["run", "poni", "track", "absent"]:
            ref = [r["x"] for r in
                   df.select(ref_positions(term).alias("x")).collect()]
            fast = [r["x"] for r in df.select(with_chain_positions(
                F.col("t"), [(term, False)], lambda pos: pos[0],
                "english").alias("x")).collect()]
            assert ref == fast, (term, ref, fast)

    def test_sql_let_binds_and_returns(self, spark):
        from hive2es_offline_spark.operators.util import sql_let

        df = spark.createDataFrame([(1, [1, 2, 3], [4, 5])],
                                   "id long, a array<int>, b array<int>")
        out = df.select(F.expr(sql_let(
            ["a", "b"],
            lambda cs: f"size({cs[0]}) + size({cs[1]})")).alias("n"))
        assert out.collect()[0]["n"] == 5
        # NULL arrays flow through as NULL field reads, not errors
        df2 = spark.createDataFrame([(1, None)], "id long, a array<int>")
        out2 = df2.select(F.expr(sql_let(
            ["a"], lambda cs: f"size({cs[0]})")).alias("n"))
        assert out2.collect()[0]["n"] is None  # size(NULL) = NULL (ANSI)


class TestStatAggsEdge:
    def test_mad_null_field_and_odd_names(self, spark):
        from hive2es_offline_spark.plans.query_dsl import es_search

        df = spark.createDataFrame(
            [(1, None), (2, None)], "id long, `unit-price` double")
        body = {"size": 0, "aggs": {"mad": {
            "median_absolute_deviation": {"field": "unit-price"}}}}
        r = es_search(df, body, id_field="id").collect()[0]
        assert r["mad"] is None  # used to crash on float(None)
        df2 = spark.createDataFrame(
            [(1, 1.0), (2, 2.0), (3, 6.0)], "id long, `unit-price` double")
        r = es_search(df2, body, id_field="id").collect()[0]
        assert r["mad"] == 1.0  # median 2, |dev| = [1, 0, 4]

    def test_t_test_arm_filters(self, spark):
        from hive2es_offline_spark.plans.query_dsl import es_search

        df = spark.createDataFrame(
            [(i, "A" if i < 6 else "B", float(i)) for i in range(12)],
            "id long, grp string, v double")
        body = {"size": 0, "aggs": {"tt": {"t_test": {
            "a": {"field": "v", "filter": {"term": {"grp": "A"}}},
            "b": {"field": "v", "filter": {"term": {"grp": "B"}}}}}}}
        r = es_search(df, body, id_field="id").collect()[0]
        import statistics
        a, b = [float(i) for i in range(6)], [float(i) for i in range(6, 12)]
        tw = (statistics.mean(a) - statistics.mean(b)) / (
            statistics.variance(a) / 6 + statistics.variance(b) / 6) ** 0.5
        assert r["tt_t"] == pytest.approx(tw, abs=2e-6)
        # paired + filters rejects; unknown arm options reject
        with pytest.raises(ValueError, match="paired"):
            es_search(df, {"size": 0, "aggs": {"tt": {"t_test": {
                "a": {"field": "v", "filter": {"term": {"grp": "A"}}},
                "b": {"field": "v"}, "type": "paired"}}}},
                id_field="id").collect()
        with pytest.raises(ValueError, match="arm option"):
            es_search(df, {"size": 0, "aggs": {"tt": {"t_test": {
                "a": {"field": "v", "script": "x"},
                "b": {"field": "v"}}}}}, id_field="id").collect()

    def test_matrix_stats_missing_substitution(self, spark):
        from hive2es_offline_spark.plans.query_dsl import es_search

        df = spark.createDataFrame(
            [(1, 1.0, 10.0), (2, 2.0, None), (3, 3.0, 30.0)],
            "id long, x double, y double")
        # without missing: row 2 skipped everywhere
        body = {"size": 0, "aggs": {"m": {"matrix_stats": {
            "fields": ["x", "y"]}}}}
        rows = {(r["field_x"], r["field_y"]): r for r in
                es_search(df, body, id_field="id").collect()}
        assert rows[("x", "x")]["doc_count"] == 2
        # with missing: row 2 participates with y=20
        body = {"size": 0, "aggs": {"m": {"matrix_stats": {
            "fields": ["x", "y"], "missing": {"y": 20.0}}}}}
        rows = {(r["field_x"], r["field_y"]): r for r in
                es_search(df, body, id_field="id").collect()}
        assert rows[("x", "y")]["doc_count"] == 3
        assert rows[("x", "y")]["correlation"] == pytest.approx(1.0, abs=1e-6)
        with pytest.raises(ValueError, match="matrix_stats option"):
            es_search(df, {"size": 0, "aggs": {"m": {"matrix_stats": {
                "fields": ["x", "y"], "mode": "upper"}}}},
                id_field="id").collect()


class TestFrenchAndFolding:
    """Round 12 (VERDICT r11 #2): asciifolding filter + the stock french
    chain (elision → stop → minimal french stemmer), one rule table
    rendered three ways."""

    FR_TEXTS = [
        "Les châteaux et les chevaux de l'été étaient généreux",
        "qu'une chanteuse chante; les chanteuses chantaient!",
        "jusqu'aujourd'hui, l'avion d'Émilie vole",
        "personnes personne personnel",
        "café cafés œufs straße",
    ]

    def test_french_stem_vectors(self):
        from hive2es_offline_spark.plans.analysis import stem_text

        vec = {
            # -x family
            "chevaux": "cheval", "châteaux": "château",
            "généreux": "généreu", "maux": "maux",      # < 6 chars: kept
            # sequential s/r/e/é drops + de-double
            "chanteuses": "chanteus", "chanteuse": "chanteus",
            "personnes": "person", "personne": "person",
            "chanter": "chant", "chantée": "chant", "chanté": "chant",
            # short words untouched
            "été": "été", "pas": "pas",
        }
        for w, s in vec.items():
            assert stem_text(w, "french") == s, (w, stem_text(w, "french"), s)
        # singular and plural conflate — the property that matters
        for a, b in [("chevaux", "cheval"), ("châteaux", "château"),
                     ("personnes", "personne"),
                     ("chanteuses", "chanteuse")]:
            assert stem_text(a, "french") == stem_text(b, "french"), (a, b)

    def test_french_chain_order(self):
        # elision strips l'/qu'/jusqu' BEFORE the stop filter; stopwords
        # (incl. accented été/étaient) drop; the stemmer conflates
        assert analyze_text("L'été, les châteaux... qu'une personne voit!",
                            "french") == ["château", "person", "voit"]
        # aujourd'hui: 'a' is not an elision article -> kept whole
        assert "aujourd'hui" in analyze_text("aujourd'hui", "french")

    def test_three_way_french_parity_fixed(self, spark):
        import duckdb

        con = duckdb.connect()
        py = [analyze_text(t, "french") for t in self.FR_TEXTS]
        for t, exp in zip(self.FR_TEXTS, py):
            duck = con.execute(
                f"select {duckdb_tokens('$1', 'french')}", {"1": t}
            ).fetchone()[0]
            assert duck == exp, (t, duck, exp)
        df = spark.createDataFrame([(t,) for t in self.FR_TEXTS], "t string")
        got = [r["toks"] for r in df.select(
            analyze_col(F.col("t"), "french").alias("toks")).collect()]
        assert got == py

    def test_three_way_french_parity_property(self):
        import duckdb

        from hypothesis import given, settings
        from hypothesis import strategies as st

        con = duckdb.connect()

        @settings(max_examples=150, deadline=None)
        @given(st.text(
            alphabet=st.sampled_from(
                list("abcdefghijlmnopqrstuvxzéèêàçœæß' .,-")),
            max_size=40))
        def check(t):
            py = analyze_text(t, "french")
            duck = con.execute(
                f"select {duckdb_tokens('$1', 'french')}", {"1": t}
            ).fetchone()[0]
            assert py == duck, (t, py, duck)

        check()

    def test_folding_three_way(self, spark):
        import duckdb

        from hive2es_offline_spark.plans.analysis import (
            fold_text,
            register_analyzer,
        )

        assert fold_text("café") == "cafe"
        assert fold_text("œuf ærø straße") == "oeuf aero strasse"
        register_analyzer("folded_fr", elision=True, asciifolding=True,
                          stopwords="_french_", stemmer="french")
        texts = self.FR_TEXTS
        py = [analyze_text(t, "folded_fr") for t in texts]
        # folded: no accents anywhere in the output stream
        assert all(all(tok.isascii() or "'" in tok for tok in toks)
                   for toks in py), py
        # the folded stop filter still drops "été" (folded to "ete")
        assert "ete" not in py[0] and "etaient" not in py[0]
        con = duckdb.connect()
        for t, exp in zip(texts, py):
            duck = con.execute(
                f"select {duckdb_tokens('$1', 'folded_fr')}", {"1": t}
            ).fetchone()[0]
            assert duck == exp, (t, duck, exp)
        df = spark.createDataFrame([(t,) for t in texts], "t string")
        got = [r["toks"] for r in df.select(
            analyze_col(F.col("t"), "folded_fr").alias("toks")).collect()]
        assert got == py

    def test_match_folded_cafe_and_stemmed_french(self, spark):
        # the VERDICT r11 #2 acceptance example: "café" must match query
        # "cafe" and a plural French form must hit its singular query
        from hive2es_offline_spark.plans.analysis import register_analyzer

        register_analyzer("folded_fr2", elision=True, asciifolding=True,
                          stopwords="_french_", stemmer="french")
        df = spark.createDataFrame(
            [(1, "un café à Paris"), (2, "le cafe du coin"),
             (3, "les châteaux de la Loire"), (4, "rien d'intéressant")],
            "id long, t string")
        body = {"query": {"match": {"t": "cafe"}}, "_source": ["id"]}
        got = [r["id"] for r in es_search(
            df, body, id_field="id", analyzer="folded_fr2")
            .orderBy("id").collect()]
        assert got == [1, 2]
        body = {"query": {"match": {"t": "château"}}, "_source": ["id"]}
        assert [r["id"] for r in es_search(
            df, body, id_field="id", analyzer="folded_fr2")
            .collect()] == [3]

    def test_french_stem_prefix_invariant_fuzzed(self):
        # the fast-path guard invariant, re-fuzzed for the new stemmer
        # (VERDICT r11 #2): stem(t)[:-1] must be a prefix of t
        import itertools
        import random

        from hive2es_offline_spark.plans.analysis import stem_text

        random.seed(12)
        alph = "abcdefghilmnorstuxzéèàç'."
        words = itertools.chain(
            ("".join(p) for n in (1, 2, 3, 4)
             for p in itertools.product("aeilnosxué", repeat=n)),
            ("".join(random.choice(alph)
                     for _ in range(random.randint(5, 14)))
             for _ in range(30000)),
        )
        for w in words:
            s = stem_text(w, "french")
            assert w.startswith(s[:-1]), (w, s)

    def test_candidate_tokens_fast_path_under_folded_chain(self, spark):
        # the prefix guard is only valid AFTER elision+folding — this
        # pins that candidate_tokens_col applies the char filters before
        # pruning (an accented surface form must still be found)
        from hive2es_offline_spark.plans.analysis import (
            candidate_tokens_col,
            register_analyzer,
        )

        register_analyzer("folded_fr3", elision=True, asciifolding=True,
                          stopwords="_french_", stemmer="french")
        texts = self.FR_TEXTS + [None, "", "rien ici"]
        df = spark.createDataFrame([(t,) for t in texts], "t string")
        terms = ["château", "cheval", "chanteus", "cafe", "avion"]
        full = [r["x"] for r in df.select(F.filter(
            analyze_col(F.col("t"), "folded_fr3"),
            lambda x: x.isin(*terms)).alias("x")).collect()]
        fast = [r["x"] for r in df.select(F.filter(
            candidate_tokens_col(F.col("t"), terms, "folded_fr3"),
            lambda x: x.isin(*terms)).alias("x")).collect()]
        assert [sorted(x) if x is not None else None for x in full] == \
            [sorted(x) if x is not None else None for x in fast]


class TestGermanSpanishChains:
    """Round 13 (VERDICT r12 #3): german + spanish light stemmer chains
    with Latin-Extended folding, property-tested three-way like the
    english/french chains."""

    DE_TEXTS = [
        "Die Kinder spielten in den Gärten über der Straße",
        "das kleinste Haus, die kleinsten Häuser",
        "Filme films Film; schnellsten schnellste schnell",
        "Müller Mueller Bücher Buch",
    ]
    ES_TEXTS = [
        "Las luces de los niños en las casas grandes",
        "el mes, los meses; la luz, las luces",
        "canción canciones señora señoras",
        "libro libros libra libras más mas",
    ]
    IT_TEXTS = [
        "l'amico dell'acqua e i ragazzi più veloci",
        "figlia figlie figlio; amiche amico",
        "la città è bella, un'altra città",
        "quest'anno nell'isola sull'acqua",
    ]
    PT_TEXTS = [
        "os limões e as flores dos animais grandes",
        "limão limões; animal animais; papel papéis",
        "as casas e os livros do coração",
        "não há lençóis nas canções",
    ]

    def test_german_stem_vectors(self):
        from hive2es_offline_spark.plans.analysis import stem_text

        vec = {
            # step 1: -ern / -e(m|n|r|s) / -e / consonant+-s
            "kindern": "kind", "hauses": "haus", "hunde": "hund",
            "films": "film", "garten": "gart",
            # step 2 after step 1: -est / consonant+-st
            "kleinste": "klein", "schnellsten": "schnell",
            # length guards keep short words whole
            "des": "des", "aus": "aus", "name": "nam", "ein": "ein",
            # -s after a vowel is NOT stemmable (st-ending consonants only)
            "autos": "autos", "haus": "haus",
        }
        for w, s in vec.items():
            assert stem_text(w, "german") == s, (w, stem_text(w, "german"))
        # plural/singular conflation — the property that matters
        for a, b in [("kindern", "kind"), ("häuser", "häus"),
                     ("filme", "film")]:
            assert stem_text(a, "german") == stem_text(b, "german"), (a, b)

    def test_spanish_stem_vectors(self):
        from hive2es_offline_spark.plans.analysis import stem_text

        vec = {
            "meses": "mes", "luces": "luz", "libros": "libr",
            "libro": "libr", "casas": "cas", "grandes": "grand",
            "senoras": "senor", "senora": "senor",
            # length guard: everything below 5 chars stays whole
            "mes": "mes", "luz": "luz", "casa": "casa", "mas": "mas",
            # final consonant forms stay (light stemmer scope)
            "cancion": "cancion",
        }
        for w, s in vec.items():
            assert stem_text(w, "spanish") == s, (w, stem_text(w, "spanish"))
        # NOTE: 4-char singulars ("casa") sit under the length guard and
        # do NOT conflate with their plural — exactly Lucene's behavior
        for a, b in [("libros", "libro"), ("libras", "libra"),
                     ("senoras", "senora"), ("canciones", "cancion")]:
            assert stem_text(a, "spanish") == stem_text(b, "spanish"), (a, b)

    def test_chain_orders(self):
        # german: fold FIRST (ü→u, ß→ss), then stop (folded set: "über"
        # drops as "uber"), then stem
        assert analyze_text("Die Kinder spielten über der Straße",
                            "german") == ["kind", "spielt", "strass"]
        # spanish: fold (ñ→n, á→a), stop ("más" drops as "mas"), stem
        assert analyze_text("Las luces de los niños más grandes",
                            "spanish") == ["luz", "nin", "grand"]
        # italian: elision (l'/dell'), fold, stop, stem
        assert analyze_text("L'amico dell'acqua e i ragazzi più veloci",
                            "italian") == ["amico", "acqua", "ragazz",
                                           "veloc"]
        # portuguese: fold (ões→oes, ç→c), stop ("não"/"os"), stem
        assert analyze_text("Os limões e as flores dos animais",
                            "portuguese") == ["lima", "flor", "animal"]

    def test_italian_stem_vectors(self):
        from hive2es_offline_spark.plans.analysis import stem_text

        # singular/plural/gender conflation on folded tokens; words
        # under the ≥6-length guard pass through like Lucene's
        vec = {"figlie": "figl", "figlia": "figl", "figlio": "figl",
               "amiche": "amic", "ragazzi": "ragazz", "ragazzo": "ragazz",
               "veloci": "veloc", "libri": "libri", "cane": "cane"}
        for w, st_ in vec.items():
            assert stem_text(w, "italian") == st_, (w, stem_text(w, "italian"))

    def test_portuguese_stem_vectors(self):
        from hive2es_offline_spark.plans.analysis import stem_text

        vec = {"limoes": "lima", "limao": "lima",
               "animais": "animal", "animal": "animal",
               "papeis": "papel", "papel": "papel",
               "lencois": "lencol",
               "livros": "livr", "livro": "livr",
               "flores": "flor", "flor": "flor",
               "casas": "casa", "casa": "casa"}
        for w, st_ in vec.items():
            assert stem_text(w, "portuguese") == st_, (
                w, stem_text(w, "portuguese"))

    @pytest.mark.parametrize("lang,texts", [
        ("german", DE_TEXTS), ("spanish", ES_TEXTS),
        ("italian", IT_TEXTS), ("portuguese", PT_TEXTS)])
    def test_three_way_parity_fixed(self, spark, lang, texts):
        import duckdb

        con = duckdb.connect()
        py = [analyze_text(t, lang) for t in texts]
        for t, exp in zip(texts, py):
            duck = con.execute(
                f"select {duckdb_tokens('$1', lang)}", {"1": t}
            ).fetchone()[0]
            assert duck == exp, (t, duck, exp)
        df = spark.createDataFrame([(t,) for t in texts], "t string")
        got = [r["toks"] for r in df.select(
            analyze_col(F.col("t"), lang).alias("toks")).collect()]
        assert got == py

    @pytest.mark.parametrize("lang,alphabet", [
        ("german", "abdefghiklmnorstuzäöüß' ._-"),
        ("spanish", "abcdeghilmnorstuzáéíñóú' ._-"),
        ("italian", "abcdeghilmnorstuvzàèéìòù' ._-"),
        ("portuguese", "abcdeghilmnorstuvzãõáéíóçê' ._-")])
    def test_three_way_parity_property(self, lang, alphabet):
        import duckdb

        from hypothesis import given, settings
        from hypothesis import strategies as st

        con = duckdb.connect()

        @settings(max_examples=150, deadline=None)
        @given(st.text(alphabet=st.sampled_from(list(alphabet)),
                       max_size=40))
        def check(t):
            py = analyze_text(t, lang)
            duck = con.execute(
                f"select {duckdb_tokens('$1', lang)}", {"1": t}
            ).fetchone()[0]
            assert py == duck, (t, py, duck)

        check()

    @pytest.mark.parametrize("lang,alphabet,seed", [
        ("german", "abdefghiklmnorstuz'.", 13),
        ("spanish", "abcdeghilmnorstuz'.", 14),
        ("italian", "abcdeghilmnorstuvz'.", 15),
        ("portuguese", "abcdeghilmnorstuvz'.", 16)])
    def test_stem_prefix_invariant_fuzzed(self, lang, alphabet, seed):
        # the fast-path guard invariant, re-fuzzed per new stemmer
        # (VERDICT r12 #3): stem(t)[:-1] must be a prefix of t.  Fuzz
        # inputs are POST-FOLD tokens (the chains fold before stemming),
        # so the alphabet is ASCII like the streams the stemmers see.
        import itertools
        import random

        from hive2es_offline_spark.plans.analysis import stem_text

        random.seed(seed)
        words = itertools.chain(
            ("".join(p) for n in (1, 2, 3, 4)
             for p in itertools.product("aeilnorst", repeat=n)),
            ("".join(random.choice(alphabet)
                     for _ in range(random.randint(5, 14)))
             for _ in range(30000)),
        )
        for w in words:
            s = stem_text(w, lang)
            assert w.startswith(s[:-1]), (w, s)

    def test_latin_extended_folding_three_way(self, spark):
        import duckdb

        from hive2es_offline_spark.plans.analysis import fold_text

        # the VERDICT r12 #3 examples: Latin-Extended ő ř ș (plus a few
        # more) must fold in all three contexts
        t = "kőszeg řeka București Łódź þing ðe ħello"
        exp = ["koszeg", "reka", "bucuresti", "lodz", "thing", "de",
               "hello"]
        assert [fold_text(x) for x in t.lower().split()] == exp
        from hive2es_offline_spark.plans.analysis import register_analyzer

        register_analyzer("fold_ext", asciifolding=True)
        assert analyze_text(t, "fold_ext") == exp
        con = duckdb.connect()
        duck = con.execute(
            f"select {duckdb_tokens('$1', 'fold_ext')}", {"1": t}
        ).fetchone()[0]
        assert duck == exp
        df = spark.createDataFrame([(t,)], "t string")
        got = df.select(analyze_col(
            F.col("t"), "fold_ext").alias("x")).collect()[0]["x"]
        assert got == exp

    def test_match_german_plural_hits_singular(self, spark):
        # acceptance: a german query in singular form must hit plural
        # documents (and vice versa), with umlaut/ß surface differences
        # folded away
        docs = [
            (1, "Die Kinder spielen im Garten"),
            (2, "Das Kind schläft"),
            (3, "Die Straße ist lang"),
            (4, "nada que ver aquí"),
        ]
        df = spark.createDataFrame(docs, "id long, t string")

        def hits(body):
            return sorted(r["id"] for r in es_search(
                df, {"query": body, "_source": ["id"], "size": 10},
                id_field="id", analyzer="german").collect())

        assert hits({"match": {"t": "Kind"}}) == [1, 2]
        assert hits({"match": {"t": "Kindern"}}) == [1, 2]
        assert hits({"match": {"t": "strasse"}}) == [3]
        assert hits({"match_phrase": {"t": "im garten"}}) == [1]

    def test_match_spanish_plural_hits_singular(self, spark):
        docs = [
            (1, "las luces de la ciudad"),
            (2, "una luz en la ventana"),
            (3, "los niños cantan canciones"),
        ]
        df = spark.createDataFrame(docs, "id long, t string")

        def hits(body):
            return sorted(r["id"] for r in es_search(
                df, {"query": body, "_source": ["id"], "size": 10},
                id_field="id", analyzer="spanish").collect())

        assert hits({"match": {"t": "luz"}}) == [1, 2]
        assert hits({"match": {"t": "luces"}}) == [1, 2]
        # "niño" (4 chars post-fold) sits under the length guard and
        # stays "nino" while "niños" stems to "nin" — like Lucene, the
        # light stemmer does not conflate across the guard; the plural
        # query finds the plural doc
        assert hits({"match": {"t": "niños"}}) == [3]
        assert hits({"match": {"t": "canción"}}) == [3]


RU_TEXTS = [
    "Книгами и книгах: красного цвета!",
    "Истории, историями… ИСТОРИЯ",
    "ещё еда, её ёлка",   # ё→е folding + stopword drops
    "власть властью линии нн",
    "",
]
CJK_TEXTS = [
    "Tokyo 東京都 is ひらがな big",
    "中 一 lone chars and latin-words",
    "한국어 텍스트 test",
    "日本語のテキスト 2.5 points",
    "",
]


class TestRussianCjkChains:
    """Round 14 (VERDICT r13 #6): russian light-stemmer chain
    (Cyrillic, fold-first ё→е) and the honest cjk bigram chain."""

    def test_russian_stem_vectors(self):
        from hive2es_offline_spark.plans.analysis import stem_text

        vec = {"книгами": "книг", "книгах": "книг", "книги": "книг",
               "книга": "книг",
               "красного": "красн", "красному": "красн",
               "красный": "красн", "красные": "красн",
               "историями": "истор", "истории": "истор",
               "история": "истор",
               "власть": "власт", "властью": "власт",
               "линии": "лин",
               "дом": "дом", "мир": "мир"}
        for w, s in vec.items():
            assert stem_text(w, "russian") == s, (w, stem_text(w, "russian"))

    def test_russian_chain_order(self):
        # ё folds to е BEFORE the stop filter ("ещё" folds to "еще",
        # which is in the folded stop set); stems run after stops
        # "еда" is 3 letters — below the final-vowel rule's length
        # guard, the light-stemmer pass-through convention
        assert analyze_text("ещё еда, её ёлка", "russian") == [
            "еда", "елк"]

    def test_cjk_bigrams(self):
        # runs → overlapping 2-grams; lone CJK char stays a unigram;
        # Latin tokens pass through (minus English stopwords)
        assert analyze_text("東京都", "cjk") == ["東京", "京都"]
        assert analyze_text("中 big", "cjk") == ["中", "big"]
        assert analyze_text("the 東京 and tokyo", "cjk") == ["東京", "tokyo"]
        # mixed-script runs split at the script boundary
        assert analyze_text("abc中文def", "cjk") == ["abc", "中文", "def"]

    def test_cjk_offsets(self):
        from hive2es_offline_spark.plans.analysis import (
            analyze_with_offsets)

        rows = analyze_with_offsets("x 東京都", "cjk")
        assert rows == [("x", 0, 0, 1),
                        ("東京", 1, 2, 4), ("京都", 2, 3, 5)]

    @pytest.mark.parametrize("lang,texts", [
        ("russian", RU_TEXTS), ("cjk", CJK_TEXTS)])
    def test_three_way_parity_fixed(self, spark, lang, texts):
        import duckdb

        con = duckdb.connect()
        py = [analyze_text(t, lang) for t in texts]
        for t, exp in zip(texts, py):
            duck = con.execute(
                f"select {duckdb_tokens('$1', lang)}", {"1": t}
            ).fetchone()[0]
            assert duck == exp, (t, duck, exp)
        df = spark.createDataFrame([(t,) for t in texts], "t string")
        got = [r["toks"] for r in df.select(
            analyze_col(F.col("t"), lang).alias("toks")).collect()]
        assert got == py

    @pytest.mark.parametrize("lang,alphabet", [
        ("russian", "абвгдеиклмнорстуыьэюяё' ._-"),
        ("cjk", "ab12中文字東京のが한국' ._-")])
    def test_three_way_parity_property(self, lang, alphabet):
        import duckdb

        from hypothesis import given, settings
        from hypothesis import strategies as st

        con = duckdb.connect()

        @settings(max_examples=150, deadline=None)
        @given(st.text(alphabet=st.sampled_from(list(alphabet)),
                       max_size=40))
        def check(t):
            py = analyze_text(t, lang)
            duck = con.execute(
                f"select {duckdb_tokens('$1', lang)}", {"1": t}
            ).fetchone()[0]
            assert py == duck, (t, py, duck)

        check()

    def test_three_way_parity_property_spark(self, spark):
        # Spark-vs-Python sample parity for both chains (the per-case
        # hypothesis round trip through a JVM job would be minutes; a
        # fixed diverse sample catches the same class of drift)
        samples = RU_TEXTS + CJK_TEXTS + [
            "ёж мышь ночь", "中a中 b中b", "가나다 라 마바",
            "данные по-русски c latin", "のの の"]
        for lang in ("russian", "cjk"):
            py = [analyze_text(t, lang) for t in samples]
            df = spark.createDataFrame([(t,) for t in samples], "t string")
            got = [r["toks"] for r in df.select(
                analyze_col(F.col("t"), lang).alias("toks")).collect()]
            assert got == py, lang

    def test_russian_stem_prefix_invariant_fuzzed(self):
        import itertools
        import random

        from hive2es_offline_spark.plans.analysis import stem_text

        random.seed(17)
        alphabet = "абвгдеиклмнорстуыьюя"
        words = itertools.chain(
            ("".join(p) for n in (1, 2, 3, 4)
             for p in itertools.product("аеилнорст", repeat=n)),
            ("".join(random.choice(alphabet)
                     for _ in range(random.randint(5, 14)))
             for _ in range(30000)),
        )
        for w in words:
            s = stem_text(w, "russian")
            assert w.startswith(s[:-1]), (w, s)

    def test_match_russian_and_cjk(self, spark):
        from hive2es_offline_spark.plans.query_dsl import es_search

        ru = spark.createDataFrame(
            [(1, "Красного цвета книги"), (2, "зелёные дома"),
             (3, "ничего интересного")],
            "doc_id long, text string")
        hits = es_search(ru, {
            "query": {"match": {"text": "красный книга"}},
            "size": 10, "_source": ["doc_id"]},
            id_field="doc_id", analyzer="russian")
        assert sorted(r["doc_id"] for r in hits.collect()) == [1]
        cj = spark.createDataFrame(
            [(1, "東京都に住む"), (2, "京都は静かです"), (3, "大阪 only")],
            "doc_id long, text string")
        hits = es_search(cj, {
            "query": {"match": {"text": "東京"}},
            "size": 10, "_source": ["doc_id"]},
            id_field="doc_id", analyzer="cjk")
        # "東京" is one bigram: doc1 has it (東京/京都/…), doc2 has 京都
        # but not 東京
        assert sorted(r["doc_id"] for r in hits.collect()) == [1]


NL_TEXTS = [
    "De katten en de boeken van de jongens",
    "Mogelijkheden, mogelijkheid… MOGELIJK",
    "één huisje, twee huisjes",   # één→een folds into the stop set
    "witte vogels zitten; de witte vogel zit",
    "",
]


class TestDutchChain:
    """Round 14 tail (VERDICT r13 'missing #4'): dutch light-stemmer
    chain — fold-first (één→een, ĳ→ij) + folded Snowball-core stop set
    + three-step suffix-drop stemmer (s-layer, en/e-layer, undouble)."""

    def test_dutch_stem_vectors(self):
        from hive2es_offline_spark.plans.analysis import stem_text

        vectors = [
            ("katten", "kat"), ("kat", "kat"),
            ("boeken", "boek"), ("boek", "boek"),
            ("mogelijkheden", "mogelijk"), ("mogelijkheid", "mogelijk"),
            ("jongens", "jong"), ("jongen", "jong"),
            ("witte", "wit"), ("wit", "wit"),
            ("vogels", "vogel"), ("vogel", "vogel"),
            ("huisjes", "huisj"), ("huisje", "huisj"),
            ("fietsen", "fiets"), ("fiets", "fiets"),
            ("anders", "ander"), ("andere", "ander"),
            ("regeringen", "regering"), ("regering", "regering"),
            ("zitten", "zit"), ("zit", "zit"),
        ]
        for w, s in vectors:
            assert stem_text(w, "dutch") == s, (w, stem_text(w, "dutch"))

    def test_dutch_chain_order(self):
        # fold → stop → stem: één folds to the stopword een and drops;
        # the ĳ ligature folds to two-letter ij before stemming
        assert analyze_text("één kat en twee katten", "dutch") == [
            "kat", "twee", "kat"]
        assert analyze_text("vrĳe dagen", "dutch") == \
            analyze_text("vrije dagen", "dutch")

    def test_three_way_parity_fixed(self, spark):
        import duckdb

        con = duckdb.connect()
        py = [analyze_text(t, "dutch") for t in NL_TEXTS]
        for t, exp in zip(NL_TEXTS, py):
            duck = con.execute(
                f"select {duckdb_tokens('$1', 'dutch')}", {"1": t}
            ).fetchone()[0]
            assert duck == exp, (t, duck, exp)
        df = spark.createDataFrame([(t,) for t in NL_TEXTS], "t string")
        got = [r["toks"] for r in df.select(
            analyze_col(F.col("t"), "dutch").alias("toks")).collect()]
        assert got == py

    def test_three_way_parity_property(self):
        import duckdb

        from hypothesis import given, settings
        from hypothesis import strategies as st

        con = duckdb.connect()

        @settings(max_examples=150, deadline=None)
        @given(st.text(alphabet=st.sampled_from(
            list("abdeghijklmnoprstuvwzéëĳ' ._-")), max_size=40))
        def check(t):
            py = analyze_text(t, "dutch")
            duck = con.execute(
                f"select {duckdb_tokens('$1', 'dutch')}", {"1": t}
            ).fetchone()[0]
            assert py == duck, (t, py, duck)

        check()

    def test_dutch_stem_prefix_invariant_fuzzed(self):
        import itertools
        import random

        from hive2es_offline_spark.plans.analysis import stem_text

        random.seed(19)
        alphabet = "abdeghijklmnoprstuvwz"
        words = itertools.chain(
            ("".join(p) for n in (1, 2, 3, 4)
             for p in itertools.product("adehijlnrst", repeat=n)),
            ("".join(random.choice(alphabet)
                     for _ in range(random.randint(5, 14)))
             for _ in range(30000)),
        )
        for w in words:
            s = stem_text(w, "dutch")
            assert w.startswith(s[:-1]), (w, s)

    def test_match_dutch_plural_hits_singular(self, spark):
        from hive2es_offline_spark.plans.query_dsl import es_search

        docs = [
            (1, "De katten slapen in het huisje"),
            (2, "Een kat op het dak"),
            (3, "De mogelijkheid bestaat"),
            (4, "alle mogelijkheden zijn open"),
            (5, "niets te zien hier"),
        ]
        df = spark.createDataFrame(docs, "doc_id long, text string")

        def hits(body):
            return sorted(r["doc_id"] for r in es_search(
                df, {"query": body, "_source": ["doc_id"], "size": 10},
                id_field="doc_id", analyzer="dutch").collect())

        assert hits({"match": {"text": "kat"}}) == [1, 2]
        assert hits({"match": {"text": "katten"}}) == [1, 2]
        assert hits({"match": {"text": "mogelijkheden"}}) == [3, 4]
        assert hits({"match_phrase": {"text": "het huisje"}}) == [1]


class TestSqlChainTwin:
    """analyze_col / candidate_tokens_col render the chain as ONE parsed
    SQL expression (analyze_sql / candidate_tokens_sql).  A column NAME
    is quoted into the text; a Column binds as a SQL lambda argument.
    Both input paths, the Python chain (analyze_text) and the DuckDB
    oracle (duckdb_tokens) must stay token-for-token identical for every
    registered analyzer on a fixture exercising apostrophes,
    accents/ligatures, Cyrillic, CJK, tabs, empties and NULLs."""

    ROWS = [
        (0, "The cats' owners' l'article jusqu'au qu'il O'Brien's merging"),
        (1, "Übergrößen straße œuvre ælfred ĳsbrand één chłopiec"),
        (2, "больших годами ёлка пример хорошего"),
        (3, "日本語のテキスト and English words 中文 mixed 한국어 tokens"),
        (4, ""),
        (5, None),
        (6, "running runner runs ran hopeful hopefully caresses ponies ties"),
        (7, "geléͤe  multiple   spaces\tand\ttabs 123 num_42 a.b.c"),
    ]

    def test_sql_chain_matches_column_chain(self, spark):
        from pyspark.sql import functions as F

        from hive2es_offline_spark.plans import analysis as A

        df = spark.createDataFrame(self.ROWS, "id long, text string")
        for an in A.analyzer_names():
            old = {r["id"]: r["t"] for r in df.select(
                "id", A.analyze_col(F.col("text"), an).alias("t")).collect()}
            new = {r["id"]: r["t"] for r in df.select(
                "id", A.analyze_col("text", an).alias("t")).collect()}
            assert old == new, f"analyzer {an} drifted between renderings"

    def test_every_rendering_agrees(self, spark):
        import duckdb
        from pyspark.sql import functions as F

        from hive2es_offline_spark.plans import analysis as A

        df = spark.createDataFrame(self.ROWS, "id long, text string")
        con = duckdb.connect()
        con.execute("CREATE TABLE docs (id BIGINT, text VARCHAR)")
        con.executemany("INSERT INTO docs VALUES (?, ?)", self.ROWS)
        for an in A.analyzer_names():
            rows = df.select(
                "id",
                A.analyze_col("text", an).alias("name"),
                A.analyze_col(F.col("text"), an).alias("column"),
                F.transform(F.array("text"), lambda x: A.analyze_col(x, an))
                .getItem(0).alias("lambda"),
            ).collect()
            duck = dict(con.execute(
                f"SELECT id, {A.duckdb_tokens('text', an)} FROM docs"
            ).fetchall())
            for r in rows:
                text = dict(self.ROWS)[r["id"]]
                want = None if text is None else A.analyze_text(text, an)
                got = {k: r[k] for k in ("name", "column", "lambda")}
                got["duckdb"] = duck[r["id"]]
                assert all(v == want for v in got.values()), (an, r["id"], want, got)

    def test_candidate_sql_matches_column(self, spark):
        from pyspark.sql import functions as F

        from hive2es_offline_spark.plans import analysis as A

        df = spark.createDataFrame(self.ROWS, "id long, text string")
        probes = {
            "english": ["run", "cat", "owner"],
            "dutch": ["kat", "mogelijk"],
            "russian": ["больш"],
            "cjk": ["本語", "english"],
            "italian": ["articol"],
        }
        for an, terms in probes.items():
            old = {r["id"]: r["t"] for r in df.select(
                "id", A.candidate_tokens_col(F.col("text"), terms, an)
                .alias("t")).collect()}
            new = {r["id"]: r["t"] for r in df.select(
                "id", A.candidate_tokens_col("text", terms, an)
                .alias("t")).collect()}
            assert old == new, f"candidate chain {an} drifted"

    def test_dotted_name_resolves_nested(self, spark):
        from hive2es_offline_spark.plans import analysis as A

        df = spark.createDataFrame(
            [(1, ("The Cats' merging",))], "id long, s struct<text: string>")
        got = df.select(A.analyze_col("s.text", "english").alias("t")).first()["t"]
        assert got == ["cat", "merg"]
