"""ES|QL subset compiler (plans/esql.py): pipeline commands, the
expression grammar, loud rejects, and plan-shape assertions."""

import pytest
from pyspark.sql import functions as F

from hive2es_offline_spark.plans.esql import esql


@pytest.fixture(scope="module")
def catalog(spark):
    sales = spark.createDataFrame(
        [
            (1, "a", "red", 10.0, ["x", "y"]),
            (2, "a", "blue", 20.5, ["z"]),
            (3, "b", "red", 30.0, None),
            (4, "b", "blue", 40.0, []),
            (5, "b", None, 50.0, ["x"]),
        ],
        "id long, cat string, color string, amount double, tags array<string>")
    extra = spark.createDataFrame(
        [(6, "c", "red", 60.0, None)],
        "id long, cat string, color string, amount double, tags array<string>")
    return {"sales": sales, "extra": extra}


class TestPipeline:
    def test_where_keep_sort_limit(self, catalog):
        out = esql(catalog, '''
            FROM sales
            | WHERE amount >= 20 AND cat == "b"
            | KEEP id, amount
            | SORT amount DESC
            | LIMIT 2
        ''')
        assert out.columns == ["id", "amount"]
        assert [(r["id"], r["amount"]) for r in out.collect()] == [
            (5, 50.0), (4, 40.0)]

    def test_eval_sequential_references(self, catalog):
        out = esql(catalog, '''
            FROM sales
            | EVAL doubled = amount * 2, label = CONCAT(cat, "-",
                   TO_STRING(doubled))
            | WHERE id == 1
            | KEEP label
        ''')
        assert out.first()["label"] == "a-20.0"

    def test_stats_by(self, catalog):
        out = esql(catalog, '''
            FROM sales
            | STATS total = SUM(amount), n = COUNT(*),
                    mx = MAX(amount) BY cat
            | SORT cat ASC
        ''')
        rows = [(r["cat"], r["total"], r["n"], r["mx"])
                for r in out.collect()]
        assert rows == [("a", 30.5, 2, 20.5), ("b", 120.0, 3, 50.0)]

    def test_stats_computed_key_and_ungrouped(self, catalog):
        out = esql(catalog, '''
            FROM sales
            | STATS n = COUNT(*) BY big = amount >= 30
            | SORT big ASC
        ''')
        assert [(r["big"], r["n"]) for r in out.collect()] == [
            (False, 2), (True, 3)]
        one = esql(catalog, "FROM sales | STATS med = MEDIAN(amount)")
        assert one.first()["med"] == 30.0

    def test_from_union_and_wildcard_keep(self, catalog):
        out = esql(catalog, '''
            FROM sales, extra
            | STATS n = COUNT(*)
        ''')
        assert out.first()["n"] == 6
        cols = esql(catalog, "FROM sales | KEEP c*, id").columns
        assert cols == ["cat", "color", "id"]

    def test_drop_rename_mv_expand(self, catalog):
        out = esql(catalog, '''
            FROM sales
            | DROP tags, color
            | RENAME amount AS value
        ''')
        assert out.columns == ["id", "cat", "value"]
        ex = esql(catalog, '''
            FROM sales
            | MV_EXPAND tags
            | STATS n = COUNT(*), with_tag = COUNT(tags)
        ''').first()
        # 5 rows -> x,y / z / NULL / NULL(empty) / x = 6 rows, 4 tagged
        assert (ex["n"], ex["with_tag"]) == (6, 4)

    def test_mv_expand_keeps_column_position(self, catalog):
        out = esql(catalog, "FROM sales | MV_EXPAND tags")
        assert out.columns == ["id", "cat", "color", "amount", "tags"]


class TestExpressions:
    def test_like_rlike_in_case(self, catalog):
        out = esql(catalog, '''
            FROM sales
            | WHERE color LIKE "r*" OR cat IN ("c")
            | EVAL kind = CASE(amount >= 30, "big", "small")
            | KEEP id, kind
            | SORT id ASC
        ''')
        # row 5 has NULL color: NULL LIKE … OR false is NULL → dropped,
        # standard three-valued filter semantics
        assert [(r["id"], r["kind"]) for r in out.collect()] == [
            (1, "small"), (3, "big")]

    def test_is_null_and_not(self, catalog):
        out = esql(catalog, '''
            FROM sales
            | WHERE color IS NULL
            | KEEP id
        ''')
        assert [r["id"] for r in out.collect()] == [5]
        out2 = esql(catalog, '''
            FROM sales
            | WHERE NOT (color IS NULL) AND color != "red"
            | STATS n = COUNT(*)
        ''')
        assert out2.first()["n"] == 2

    def test_scalar_functions(self, catalog):
        r = esql(catalog, '''
            FROM sales
            | WHERE id == 2
            | EVAL a = ROUND(amount), b = SUBSTRING(color, 1, 2),
                   c = TO_UPPER(cat), d = LENGTH(color),
                   e = COALESCE(color, "?"), f = ABS(0 - amount)
            | KEEP a, b, c, d, e, f
        ''').first()
        assert (r["a"], r["b"], r["c"], r["d"], r["e"], r["f"]) == (
            21.0, "bl", "A", 4, "blue", 20.5)

    def test_date_trunc_span(self, spark):
        import datetime

        df = spark.createDataFrame(
            [(datetime.datetime(2024, 3, 15, 13, 7),)], "ts timestamp")
        r = esql({"t": df}, '''
            FROM t | EVAL d = DATE_TRUNC(1 day, ts) | KEEP d
        ''').first()
        assert r["d"] == datetime.datetime(2024, 3, 15)

    def test_percentile(self, catalog):
        r = esql(catalog, '''
            FROM sales | STATS p50 = PERCENTILE(amount, 50)
        ''').first()
        assert r["p50"] == 30.0


class TestRejects:
    def test_unknown_command(self, catalog):
        # GROK/DISSECT/LOOKUP JOIN became supported in round 13,
        # ENRICH/INLINESTATS then SAMPLE/CHANGE_POINT/FORK/FUSE in
        # round 14; EXPLAIN stays a representative unknown
        with pytest.raises(ValueError,
                           match="unsupported command EXPLAIN"):
            esql(catalog, "FROM sales | EXPLAIN")

    def test_unknown_index(self, catalog):
        with pytest.raises(ValueError, match="unknown index"):
            esql(catalog, "FROM nope | LIMIT 1")

    def test_unnamed_aggregate(self, catalog):
        with pytest.raises(ValueError, match="explicit names"):
            esql(catalog, "FROM sales | STATS COUNT(*)")

    def test_unnamed_computed_by_key(self, catalog):
        with pytest.raises(ValueError, match="computed BY keys"):
            esql(catalog, "FROM sales | STATS n = COUNT(*) BY amount >= 30")

    def test_now_rejects(self, catalog):
        with pytest.raises(ValueError, match="NOW"):
            esql(catalog, "FROM sales | EVAL t = NOW()")

    def test_unknown_function(self, catalog):
        with pytest.raises(ValueError, match="unsupported function ENRICHY"):
            esql(catalog, "FROM sales | EVAL x = ENRICHY(id)")

    def test_unknown_keep_column(self, catalog):
        with pytest.raises(ValueError, match="unknown column"):
            esql(catalog, "FROM sales | KEEP nope")

    def test_wildcard_without_match(self, catalog):
        with pytest.raises(ValueError, match="matches no column"):
            esql(catalog, "FROM sales | KEEP zz*")

    def test_source_must_be_from_or_row(self, catalog):
        with pytest.raises(ValueError, match="must be FROM, ROW or TS"):
            esql(catalog, "SHOW INFO")
        with pytest.raises(ValueError, match="at least one assignment"):
            esql(catalog, "ROW")
        with pytest.raises(ValueError, match="non-empty catalog"):
            esql({}, "ROW a = 1")

    def test_row_source(self, catalog):
        r = esql(catalog, '''
            ROW a = 1, b = "x", c = ROUND(2.7), d = CONCAT("x", "y")
            | EVAL e = a + 10
        ''').first()
        assert (r["a"], r["b"], r["c"], r["d"], r["e"]) == (
            1, "x", 3.0, "xy", 11)

    def test_rename_unknown_column_rejects(self, catalog):
        # withColumnRenamed is a silent no-op on a missing source —
        # the compiler must reject instead (code-review r13)
        with pytest.raises(ValueError, match="unknown column 'nope'"):
            esql(catalog, "FROM sales | RENAME nope AS x")

    def test_spaced_wildcard_rejects(self, catalog):
        # "c *" (whitespace before *) must be a syntax error, not a
        # silent pattern expansion (code-review r13)
        with pytest.raises(ValueError, match="glued"):
            esql(catalog, "FROM sales | KEEP cat, id *")


class TestPlanShape:
    def test_where_pushes_to_scan(self, spark, tmp_path):
        path = str(tmp_path / "t.parquet")
        spark.range(100).withColumn(
            "v", (F.col("id") % 7).cast("double")).write.parquet(path)
        df = spark.read.parquet(path)
        plan = esql({"t": df}, '''
            FROM t | WHERE id >= 50 | KEEP v
        ''')._jdf.queryExecution().executedPlan().toString()
        assert "PushedFilters: [IsNotNull(id), GreaterThanOrEqual(id,50)" \
            in plan
        assert "ReadSchema: struct<id:bigint,v:double>" in plan

    def test_sort_limit_is_top_k(self, catalog):
        plan = esql(catalog, '''
            FROM sales | SORT amount DESC | LIMIT 3
        ''')._jdf.queryExecution().executedPlan().toString()
        assert "TakeOrderedAndProject" in plan


class TestLookupDissectGrok:
    @pytest.fixture(scope="class")
    def cat2(self, spark):
        logs = spark.createDataFrame(
            [
                (1, "h1", "2024-01-01T10:00:00 ERROR disk full on /dev/sda"),
                (2, "h2", "2024-01-01T10:05:00 INFO started worker 17"),
                (3, "h1", "not a log line"),
            ],
            "id long, host string, msg string")
        hosts = spark.createDataFrame(
            [("h1", "eu"), ("h2", "us")], "host string, region string")
        return {"logs": logs, "hosts": hosts}

    def test_lookup_join_broadcast(self, cat2):
        out = esql(cat2, '''
            FROM logs
            | LOOKUP JOIN hosts ON host
            | KEEP id, region
            | SORT id ASC
        ''')
        assert [(r["id"], r["region"]) for r in out.collect()] == [
            (1, "eu"), (2, "us"), (3, "eu")]
        plan = esql(cat2, "FROM logs | LOOKUP JOIN hosts ON host") \
            ._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in plan

    def test_lookup_join_rejects(self, cat2):
        with pytest.raises(ValueError, match="unknown lookup index"):
            esql(cat2, "FROM logs | LOOKUP JOIN nope ON host")
        with pytest.raises(ValueError, match="must exist on both"):
            esql(cat2, "FROM logs | LOOKUP JOIN hosts ON region")
        clash = dict(cat2)
        clash["bad"] = cat2["hosts"].withColumnRenamed("region", "msg")
        with pytest.raises(ValueError, match="collide"):
            esql(clash, "FROM logs | LOOKUP JOIN bad ON host")

    def test_dissect(self, cat2):
        out = esql(cat2, '''
            FROM logs
            | DISSECT msg "%{ts} %{level} %{rest}"
            | KEEP id, ts, level
            | SORT id ASC
        ''').collect()
        assert (out[0]["ts"], out[0]["level"]) == (
            "2024-01-01T10:00:00", "ERROR")
        # "not a log line" HAS two spaces, so it dissects ("not"/"a");
        # the NULL-on-no-match contract is pinned by the grok test below
        assert (out[2]["ts"], out[2]["level"]) == ("not", "a")

    def test_dissect_skip_and_modifier_reject(self, cat2):
        out = esql(cat2, '''
            FROM logs
            | DISSECT msg "%{?skip} %{level} %{}"
            | KEEP id, level | SORT id ASC
        ''').first()
        assert out["level"] == "ERROR"

    def test_dissect_right_padding(self, spark):
        # %{key->}: the delimiter after it may repeat (round 15 — was
        # a loud reject before; the other modifiers still are)
        df = spark.createDataFrame(
            [(1, "alpha    beta"), (2, "x y"), (3, "padded   ")],
            "id long, msg string")
        rows = {r["id"]: r for r in esql({"t": df}, '''
            FROM t | DISSECT msg "%{a->} %{b}"
        ''').collect()}
        assert (rows[1]["a"], rows[1]["b"]) == ("alpha", "beta")
        assert (rows[2]["a"], rows[2]["b"]) == ("x", "y")
        assert (rows[3]["a"], rows[3]["b"]) == ("padded", "")
        # skip keys take the modifier too
        r = esql({"t": df}, '''
            FROM t | DISSECT msg "%{?junk->} %{rest}" | WHERE id == 1
        ''').first()
        assert r["rest"] == "beta"
        # padding with nothing after it is meaningless -> loud reject
        with pytest.raises(ValueError, match="right-padding"):
            esql({"t": df}, 'FROM t | DISSECT msg "x %{a->}"')

    def test_dissect_append(self, spark):
        df = spark.createDataFrame(
            [(1, "john jacob smith")], "id long, msg string")
        r = esql({"t": df}, '''
            FROM t | DISSECT msg "%{name} %{+name} %{+name}"
        ''').first()
        assert r["name"] == "johnjacobsmith"
        r = esql({"t": df}, '''
            FROM t
            | DISSECT msg "%{name} %{+name} %{+name}" APPEND_SEPARATOR=" "
        ''').first()
        assert r["name"] == "john jacob smith"
        # /n ordering reorders the pieces
        r = esql({"t": df}, '''
            FROM t
            | DISSECT msg "%{+name/2} %{+name/3} %{+name/1}" APPEND_SEPARATOR=","
        ''').first()
        assert r["name"] == "smith,john,jacob"

    def test_dissect_append_rejects(self, spark):
        df = spark.createDataFrame([(1, "a b")], "id long, msg string")
        with pytest.raises(ValueError, match="duplicate DISSECT key"):
            esql({"t": df}, 'FROM t | DISSECT msg "%{a} %{a}"')
        with pytest.raises(ValueError, match="ordered"):
            esql({"t": df}, 'FROM t | DISSECT msg "%{+a/1} %{+a}"')
        with pytest.raises(ValueError, match="APPEND_SEPARATOR"):
            esql({"t": df},
                 'FROM t | GROK msg "%{WORD:w}" APPEND_SEPARATOR=","')

    def test_grok_with_casts_and_null_on_no_match(self, cat2):
        out = esql(cat2, '''
            FROM logs
            | GROK msg "%{TIMESTAMP_ISO8601:ts} %{LOGLEVEL:level} %{GREEDYDATA:rest}"
            | KEEP id, ts, level
            | SORT id ASC
        ''').collect()
        assert out[0]["level"] == "ERROR"
        assert out[1]["level"] == "INFO"
        assert out[2]["ts"] is None and out[2]["level"] is None
        n = esql(cat2, '''
            FROM logs
            | GROK msg "%{TIMESTAMP_ISO8601} INFO started worker %{INT:n:int}"
            | WHERE n IS NOT NULL
            | KEEP n
        ''').first()
        assert n["n"] == 17

    def test_grok_unknown_pattern_rejects(self, cat2):
        with pytest.raises(ValueError, match="unknown GROK pattern"):
            esql(cat2, 'FROM logs | GROK msg "%{SYSLOGBASE:x}"')
        with pytest.raises(ValueError, match="GROK conversion"):
            esql(cat2, 'FROM logs | GROK msg "%{INT:n:decimal}"')

    def test_enrich_basic(self, cat2):
        out = esql(cat2, '''
            FROM logs
            | ENRICH hosts ON host
            | KEEP id, region | SORT id ASC
        ''')
        assert [(r["id"], r["region"]) for r in out.collect()] == [
            (1, "eu"), (2, "us"), (3, "eu")]
        plan = esql(cat2, "FROM logs | ENRICH hosts ON host") \
            ._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in plan

    def test_enrich_with_rename(self, cat2):
        out = esql(cat2, '''
            FROM logs
            | ENRICH hosts ON host WITH zone = region
            | KEEP id, zone | SORT id ASC
        ''').first()
        assert out["zone"] == "eu"

    def test_enrich_rejects(self, cat2):
        with pytest.raises(ValueError, match="unknown enrich policy"):
            esql(cat2, "FROM logs | ENRICH nope ON host")
        with pytest.raises(ValueError, match="match-type 'match'"):
            esql(cat2, "FROM logs | ENRICH hosts ON region")
        with pytest.raises(ValueError, match="explicit ON"):
            esql(cat2, "FROM logs | ENRICH hosts")
        with pytest.raises(ValueError, match="not in policy"):
            esql(cat2, "FROM logs | ENRICH hosts ON host WITH nope")
        clash = dict(cat2)
        clash["bad"] = cat2["hosts"].withColumnRenamed("region", "msg")
        with pytest.raises(ValueError, match="collide"):
            esql(clash, "FROM logs | ENRICH bad ON host")


class TestDissectGrokHardening:
    """Regression pins for the code-review r13 second-pass findings."""

    @pytest.fixture(scope="class")
    def vals(self, spark):
        return spark.createDataFrame(
            [(1, "val 3.5"), (2, "v -1.5"), (3, "1:2-3:4-")],
            "id long, msg string")

    def test_grok_int_cast_of_float_is_null_not_crash(self, vals):
        # ANSI cast would abort the job on NUMBER "3.5" -> int
        r = esql({"t": vals}, '''
            FROM t | GROK msg "val %{NUMBER:n:int}" | WHERE id == 1
        ''').first()
        assert r["n"] is None

    def test_grok_number_matches_negatives(self, vals):
        r = esql({"t": vals}, '''
            FROM t | GROK msg "v %{NUMBER:n:float}" | WHERE id == 2
        ''').first()
        assert r["n"] == pytest.approx(-1.5)

    def test_malformed_pattern_rejects(self, vals):
        with pytest.raises(ValueError, match="malformed"):
            esql({"t": vals}, 'FROM t | GROK msg "%{NOTSPACE:w %{INT:x}"')
        with pytest.raises(ValueError, match="malformed"):
            esql({"t": vals}, 'FROM t | DISSECT msg "%{a %{b}"')

    def test_dissect_is_non_backtracking(self, vals):
        # "%{a}:%{b}-" on "1:2-3:4-": b stops at the FIRST '-', the
        # leftover "3:4-" fails the anchor -> no match, NULL fields
        # (a backtracking .*? fabricated b="2-3:4" before the fix)
        r = esql({"t": vals}, '''
            FROM t | DISSECT msg "%{a}:%{b}-" | WHERE id == 3
        ''').first()
        assert r["a"] is None and r["b"] is None

    def test_dissect_reference_modifiers_reject(self, vals):
        for pat in ("%{*a}:%{b}", "%{&a}:%{b}"):
            with pytest.raises(ValueError, match="modifier"):
                esql({"t": vals}, f'FROM t | DISSECT msg "{pat}"')

    def test_dissect_adjacent_keys_reject(self, vals):
        with pytest.raises(ValueError, match="adjacent"):
            esql({"t": vals}, 'FROM t | DISSECT msg "x %{a}%{b}"')


class TestR14Fixes:
    """ADVICE r13 fixes: SORT default null ordering, ROW id leak,
    string escapes — plus VERDICT r13 #10 error positions."""

    def test_sort_default_nulls_asc_last(self, catalog):
        # ES|QL treats null as the largest value: ASC → nulls LAST
        # (Spark's bare .asc() is nulls-first — ADVICE r13 #1)
        out = esql(catalog, "FROM sales | SORT color ASC | KEEP id, color")
        assert out.collect()[-1]["color"] is None

    def test_sort_default_nulls_desc_first(self, catalog):
        out = esql(catalog, "FROM sales | SORT color DESC | KEEP id, color")
        assert out.first()["color"] is None

    def test_sort_explicit_nulls_still_win(self, catalog):
        out = esql(catalog,
                   "FROM sales | SORT color ASC NULLS FIRST | KEEP color")
        assert out.first()["color"] is None
        out = esql(catalog,
                   "FROM sales | SORT color DESC NULLS LAST | KEEP color")
        assert out.collect()[-1]["color"] is None

    def test_row_does_not_leak_range_id(self, catalog):
        # ROW x = id + 1 must fail at analysis, not resolve range(1)'s
        # built-in id column to 0 (ADVICE r13 #2)
        from pyspark.errors import AnalysisException

        with pytest.raises(AnalysisException):
            esql(catalog, "ROW x = id + 1")

    def test_string_escapes_decode(self, catalog):
        r = esql(catalog, r'ROW a = "x\ty", b = "l1\nl2", c = "cr\r"').first()
        assert r["a"] == "x\ty"
        assert r["b"] == "l1\nl2"
        assert r["c"] == "cr\r"

    def test_unknown_escape_rejects_with_position(self, catalog):
        with pytest.raises(ValueError, match=r"unknown string escape \\d"):
            esql(catalog, r'FROM sales | WHERE cat RLIKE "\d+"')

    def test_error_positions(self, catalog):
        # parser-level rejects carry the 1-based column of the offending
        # token (VERDICT r13 #10)
        with pytest.raises(ValueError, match="at col 23"):
            esql(catalog, "FROM sales | WHERE id ~ 3")  # '~' untokenizable
        q = "FROM sales | KEEP nope"
        with pytest.raises(ValueError, match="unknown column"):
            esql(catalog, q)

    def test_trailing_tokens_position(self, catalog):
        q = "FROM sales | WHERE id == 1 extra"
        with pytest.raises(ValueError, match=r"trailing tokens.*at col 28"):
            esql(catalog, q)


class TestBucketAndDateFns:
    """Round-14 additions: BUCKET() in STATS BY (VERDICT r13 #2) plus
    DATE_FORMAT / DATE_DIFF / DATE_EXTRACT and the MV_* family."""

    @pytest.fixture(scope="class")
    def tcat(self, spark):
        t = spark.createDataFrame(
            [
                (1, "2024-03-01 10:05:00", 12.0, [1.0, 2.0, 3.0]),
                (2, "2024-03-01 10:55:00", 34.0, [5.0]),
                (3, "2024-03-01 11:10:00", 77.0, None),
                (4, "2024-03-02 23:59:59", 151.0, [2.0, 4.0]),
            ],
            "id long, ts_s string, v double, xs array<double>",
        ).withColumn("ts", F.col("ts_s").cast("timestamp"))
        return {"t": t}

    def test_bucket_hourly_stats(self, tcat):
        out = esql(tcat, '''
            FROM t
            | STATS n = COUNT(*), total = SUM(v)
              BY h = BUCKET(ts, 1 hour)
            | SORT h ASC
        ''')
        rows = [(str(r["h"]), r["n"], r["total"]) for r in out.collect()]
        assert rows == [
            ("2024-03-01 10:00:00", 2, 46.0),
            ("2024-03-01 11:00:00", 1, 77.0),
            ("2024-03-02 23:00:00", 1, 151.0)]

    def test_bucket_fixed_multi_unit(self, tcat):
        # 30-minute fixed span: epoch-aligned flooring
        out = esql(tcat, '''
            FROM t | WHERE id <= 2
            | EVAL b = BUCKET(ts, 30 minutes) | KEEP id, b | SORT id ASC
        ''')
        got = [str(r["b"]) for r in out.collect()]
        assert got == ["2024-03-01 10:00:00", "2024-03-01 10:30:00"]

    def test_bucket_numeric_span(self, tcat):
        out = esql(tcat, '''
            FROM t | STATS n = COUNT(*) BY b = BUCKET(v, 50) | SORT b ASC
        ''')
        assert [(r["b"], r["n"]) for r in out.collect()] == [
            (0.0, 2), (50.0, 1), (150.0, 1)]

    def test_bucket_rejects(self, tcat):
        with pytest.raises(ValueError, match="calendar span"):
            esql(tcat, "FROM t | EVAL b = BUCKET(ts, 2 months)")
        with pytest.raises(ValueError, match="auto-range"):
            esql(tcat, "FROM t | EVAL b = BUCKET(v, 10, 0, 100)")

    def test_date_format(self, tcat):
        r = esql(tcat, '''
            FROM t | WHERE id == 1
            | EVAL d = DATE_FORMAT("yyyy/MM/dd HH", ts) | KEEP d
        ''').first()
        assert r["d"] == "2024/03/01 10"

    def test_date_diff(self, tcat):
        r = esql(tcat, '''
            ROW a = 1
            | EVAL h = DATE_DIFF("hour", TO_STRING("2024-03-01 08:00:00"),
                                 TO_STRING("2024-03-01 10:30:00"))
        ''').first()
        assert r["h"] == 2
        with pytest.raises(ValueError, match="not fixed-width"):
            esql(tcat, 'FROM t | EVAL m = DATE_DIFF("month", ts, ts)')

    def test_date_extract(self, tcat):
        r = esql(tcat, '''
            FROM t | WHERE id == 4
            | EVAL y = DATE_EXTRACT("year", ts),
                   dow = DATE_EXTRACT("day_of_week", ts),
                   hh = DATE_EXTRACT("hour_of_day", ts)
            | KEEP y, dow, hh
        ''').first()
        # 2024-03-02 is a Saturday: ChronoField DAY_OF_WEEK (ISO) = 6
        assert (r["y"], r["dow"], r["hh"]) == (2024, 6, 23)

    def test_mv_functions(self, tcat):
        out = esql(tcat, '''
            FROM t
            | EVAL n = MV_COUNT(xs), lo = MV_MIN(xs), hi = MV_MAX(xs),
                   s = MV_SUM(xs), a = MV_AVG(xs)
            | KEEP id, n, lo, hi, s, a | SORT id ASC
        ''')
        rows = [(r["n"], r["lo"], r["hi"], r["s"], r["a"])
                for r in out.collect()]
        assert rows[0] == (3, 1.0, 3.0, 6.0, 2.0)
        assert rows[1] == (1, 5.0, 5.0, 5.0, 5.0)
        assert rows[2] == (None, None, None, None, None)
        assert rows[3] == (2, 2.0, 4.0, 6.0, 3.0)


class TestInlinestats:
    """INLINESTATS (round 14, VERDICT r13 #3): window aggregates over
    the unreduced frame."""

    def test_by_keys_window(self, catalog):
        out = esql(catalog, '''
            FROM sales
            | INLINESTATS cat_total = SUM(amount), cat_n = COUNT(*)
              BY cat
            | KEEP id, cat, amount, cat_total, cat_n
            | SORT id ASC
        ''')
        rows = [(r["cat_total"], r["cat_n"]) for r in out.collect()]
        assert rows == [(30.5, 2), (30.5, 2), (120.0, 3), (120.0, 3),
                        (120.0, 3)]
        # every row kept — that's the STATS difference
        assert len(rows) == 5

    def test_computed_key_materializes(self, catalog):
        out = esql(catalog, '''
            FROM sales
            | INLINESTATS n = COUNT(*) BY big = amount >= 30
            | KEEP id, big, n | SORT id ASC
        ''')
        rows = [(r["big"], r["n"]) for r in out.collect()]
        assert rows == [(False, 2), (False, 2), (True, 3), (True, 3),
                        (True, 3)]

    def test_ungrouped_is_broadcast_scalar(self, catalog):
        q = '''
            FROM sales
            | INLINESTATS grand = SUM(amount), mx = MAX(amount)
            | KEEP id, grand, mx | SORT id ASC
        '''
        out = esql(catalog, q)
        assert [(r["grand"], r["mx"]) for r in out.collect()] == [
            (150.5, 50.0)] * 5
        plan = esql(catalog, q)._jdf.queryExecution() \
            .executedPlan().toString()
        # the global scalar attaches via broadcast crossJoin, not an
        # empty-partition global window
        assert "BroadcastNestedLoopJoin" in plan
        assert "Window" not in plan

    def test_median_and_count_distinct(self, catalog):
        r = esql(catalog, '''
            FROM sales
            | INLINESTATS med = MEDIAN(amount),
                          colors = COUNT_DISTINCT(color) BY cat
            | WHERE id == 3 | KEEP med, colors
        ''').first()
        assert r["med"] == 40.0
        assert r["colors"] == 2

    def test_rejects(self, catalog):
        with pytest.raises(ValueError, match="explicit names"):
            esql(catalog, "FROM sales | INLINESTATS COUNT(*)")
        with pytest.raises(ValueError, match="direct aggregate call"):
            esql(catalog, "FROM sales | INLINESTATS x = amount + 1")
        with pytest.raises(ValueError,
                           match="unsupported INLINESTATS aggregate"):
            esql(catalog, "FROM sales | INLINESTATS x = LENGTH(cat)")
        with pytest.raises(ValueError, match="takes 2 argument"):
            esql(catalog, "FROM sales | INLINESTATS p = PERCENTILE(amount)")

    def test_name_replaces_column_like_eval(self, catalog):
        # ES|QL INLINESTATS replaces an existing column, like EVAL —
        # in BOTH the window and the broadcast-scalar paths
        r = esql(catalog, """
            FROM sales | INLINESTATS amount = COUNT(*) BY cat
            | WHERE id == 1 | KEEP amount
        """).first()
        assert r["amount"] == 2
        r = esql(catalog, """
            FROM sales | INLINESTATS amount = COUNT(*)
            | WHERE id == 1 | KEEP amount
        """).first()
        assert r["amount"] == 5


class TestSampleChangePointCategorize:
    """Round 14 second batch: SAMPLE (deterministic LCG gate),
    CHANGE_POINT (the change_point_scalar detector as a command), and
    the CATEGORIZE grouping function."""

    def test_sample_deterministic_and_scaled(self, spark):
        df = spark.range(1000).toDF("doc_id")
        q = "FROM t | SAMPLE 0.25 doc_id | STATS n = COUNT(*)"
        n1 = esql({"t": df}, q).first()["n"]
        n2 = esql({"t": df}, q).first()["n"]
        assert n1 == n2                      # retry-deterministic
        assert 150 < n1 < 350                # ~p·N
        # the gate IS random_sampler's (query_dsl.sampling_gate):
        # three LCG rounds, identical row selection across surfaces
        P, MULT, MIX = 1_000_000_007, 387_420_489, 12_345
        exp = sum(1 for i in range(1000)
                  if ((i % P * MULT + MIX) % P * MULT + 987_654_323)
                  % P < int(0.25 * P))
        assert n1 == exp

    def test_sample_rejects(self, catalog):
        with pytest.raises(ValueError, match="probability"):
            esql(catalog, "FROM sales | SAMPLE 2.5 id")
        with pytest.raises(ValueError, match="id_column"):
            esql(catalog, "FROM sales | SAMPLE 0.5")
        with pytest.raises(ValueError, match="unknown column"):
            esql(catalog, "FROM sales | SAMPLE 0.5 nope")
        with pytest.raises(ValueError, match="integral"):
            esql(catalog, "FROM sales | SAMPLE 0.5 cat")

    def test_change_point_step(self, spark):
        s = spark.createDataFrame(
            [(i, 10.0 if i < 6 else 30.0) for i in range(12)],
            "k long, v double")
        rows = esql({"t": s}, "FROM t | CHANGE_POINT v ON k | SORT k ASC"
                    ).collect()
        marked = [r for r in rows if r["type"] is not None]
        assert len(marked) == 1
        assert marked[0]["k"] == 6
        assert marked[0]["type"] == "step_change"
        assert marked[0]["pvalue"] == 1.0
        assert len(rows) == 12               # annotation, not a filter

    def test_change_point_spike_and_as_names(self, spark):
        vals = [10.0] * 11
        vals[5] = 99.0
        s = spark.createDataFrame(
            list(enumerate(vals)), "k long, v double")
        rows = esql({"t": s},
                    "FROM t | CHANGE_POINT v ON k AS cptype, score"
                    ).collect()
        marked = [r for r in rows if r["cptype"] is not None]
        assert len(marked) == 1
        assert marked[0]["k"] == 5
        assert marked[0]["cptype"] == "spike"
        assert marked[0]["score"] == 1.0

    def test_change_point_stationary_all_null(self, spark):
        s = spark.createDataFrame(
            [(i, 10.0) for i in range(8)], "k long, v double")
        rows = esql({"t": s}, "FROM t | CHANGE_POINT v ON k").collect()
        assert all(r["type"] is None and r["pvalue"] is None
                   for r in rows)

    def test_change_point_rejects(self, catalog, spark):
        with pytest.raises(ValueError, match="value column"):
            esql(catalog, "FROM sales | CHANGE_POINT nope ON id")
        with pytest.raises(ValueError, match="key column"):
            esql(catalog, "FROM sales | CHANGE_POINT amount")
        with pytest.raises(ValueError, match="collides"):
            esql(catalog,
                 "FROM sales | CHANGE_POINT amount ON id AS cat, x")

    def test_categorize_groups_signatures(self, spark):
        logs = spark.createDataFrame(
            [(1, "Connected to 10.1.0.1"),
             (2, "Connected to 10.1.0.2"),
             (3, "Connection error at 10.1.0.3"),
             (4, "Connection error at 10.1.0.9"),
             (5, "12345")],
            "id long, msg string")
        rows = esql({"t": logs}, """
            FROM t | STATS n = COUNT(*) BY cat = CATEGORIZE(msg)
            | SORT n DESC, cat ASC
        """).collect()
        got = [(r["cat"], r["n"]) for r in rows]
        assert got == [("connected to", 2),
                       ("connection error at", 2),
                       (None, 1)]


class TestFork:
    """ES|QL FORK (round 14 second batch): branch sub-pipelines over
    one input, unioned by name with the _fork discriminator."""

    def test_fork_unions_with_discriminator(self, catalog):
        rows = esql(catalog, """
            FROM sales
            | FORK (WHERE amount >= 40 | KEEP id, amount)
                   (STATS n = COUNT(*) BY cat | RENAME n AS amount
                    | KEEP cat, amount)
            | SORT _fork ASC, amount ASC
        """).collect()
        f1 = [r for r in rows if r["_fork"] == "fork1"]
        f2 = [r for r in rows if r["_fork"] == "fork2"]
        assert [r["id"] for r in f1] == [4, 5]
        assert [(r["cat"], r["amount"]) for r in f2] == [("a", 2), ("b", 3)]
        # union-by-name fills the other branch's columns with NULL
        assert all(r["cat"] is None for r in f1)
        assert all(r["id"] is None for r in f2)

    def test_fork_branches_share_input(self, catalog):
        # both branches see the same WHERE-filtered frame
        rows = esql(catalog, """
            FROM sales | WHERE cat == "b"
            | FORK (STATS n = COUNT(*)) (STATS m = MAX(amount))
        """).collect()
        by = {r["_fork"]: r for r in rows}
        assert by["fork1"]["n"] == 3
        assert by["fork2"]["m"] == 50.0

    def test_fork_pipe_inside_branch_not_a_stage_break(self, catalog):
        rows = esql(catalog, """
            FROM sales
            | FORK (SORT amount DESC | LIMIT 1 | KEEP id)
                   (SORT amount ASC | LIMIT 1 | KEEP id)
            | SORT _fork ASC
        """).collect()
        assert [(r["_fork"], r["id"]) for r in rows] == [
            ("fork1", 5), ("fork2", 1)]

    def test_fork_rejects(self, catalog):
        with pytest.raises(ValueError, match="2 to 8 branches"):
            esql(catalog, "FROM sales | FORK (WHERE id == 1)")
        with pytest.raises(ValueError, match="nested"):
            esql(catalog, """
                FROM sales
                | FORK (FORK (WHERE id == 1) (WHERE id == 2))
                       (WHERE id == 3)
            """)
        with pytest.raises(ValueError, match="parenthesized"):
            esql(catalog, "FROM sales | FORK WHERE id == 1")
        with pytest.raises(ValueError, match="at least one command"):
            esql(catalog, "FROM sales | FORK () (WHERE id == 1)")
        with pytest.raises(ValueError, match="one FORK per query"):
            esql(catalog, """
                FROM sales
                | FORK (WHERE id == 1) (WHERE id == 2)
                | FORK (WHERE id == 1) (WHERE id == 2)
            """)


class TestScalarRoundOut:
    """Round 14 second batch: string/multivalue/ip scalar functions."""

    def test_string_functions(self, spark):
        df = spark.createDataFrame(
            [(1, "hello world"), (2, "abc")], "id long, s string")
        r = esql({"t": df}, """
            FROM t
            | EVAL rep = REPLACE(s, "o", "0"), rev = REVERSE(s),
                   l3 = LEFT(s, 3), r3 = RIGHT(s, 3),
                   parts = SPLIT(s, " "), pos = LOCATE(s, "o"),
                   pos2 = LOCATE(s, "o", 6)
            | WHERE id == 1 | LIMIT 1
        """).first()
        assert r["rep"] == "hell0 w0rld"
        assert r["rev"] == "dlrow olleh"
        assert r["l3"] == "hel"
        assert r["r3"] == "rld"
        assert r["parts"] == ["hello", "world"]
        assert r["pos"] == 5
        assert r["pos2"] == 8

    def test_split_is_literal_not_regex(self, spark):
        df = spark.createDataFrame([(1, "a.b.c")], "id long, s string")
        r = esql({"t": df},
                 'FROM t | EVAL p = SPLIT(s, ".") | LIMIT 1').first()
        assert r["p"] == ["a", "b", "c"]

    def test_mv_functions(self, spark):
        df = spark.createDataFrame(
            [(1, [3, 1, 3, 2]), (2, []), (3, None)],
            "id long, v array<int>")
        rows = {r["id"]: r for r in esql({"t": df}, """
            FROM t
            | EVAL d = MV_DEDUPE(v), s = MV_SORT(v),
                   f = MV_FIRST(v), l = MV_LAST(v)
        """).collect()}
        assert sorted(rows[1]["d"]) == [1, 2, 3]
        assert rows[1]["s"] == [1, 2, 3, 3]
        assert rows[1]["f"] == 3 and rows[1]["l"] == 2
        assert rows[2]["f"] is None and rows[2]["l"] is None
        assert rows[3]["f"] is None and rows[3]["d"] is None

    def test_cidr_match(self, spark):
        df = spark.createDataFrame(
            [(1, "10.1.2.3"), (2, "192.168.0.9"), (3, "8.8.8.8")],
            "id long, ip string")
        got = [r["id"] for r in esql({"t": df}, """
            FROM t
            | WHERE CIDR_MATCH(ip, "10.0.0.0/8", "192.168.0.0/16")
            | SORT id ASC
        """).collect()]
        assert got == [1, 2]

    def test_rejects(self, catalog):
        with pytest.raises(ValueError, match="literal delimiter"):
            esql(catalog, "FROM sales | EVAL x = SPLIT(cat, cat)")
        with pytest.raises(ValueError, match="literal substring"):
            esql(catalog, "FROM sales | EVAL x = LOCATE(cat, cat)")
        with pytest.raises(ValueError, match="CIDR"):
            esql(catalog,
                 'FROM sales | WHERE CIDR_MATCH(cat, "not-a-cidr")')
        with pytest.raises(ValueError, match="at least one CIDR"):
            esql(catalog, "FROM sales | WHERE CIDR_MATCH(cat)")


class TestScalarTail15:
    """Round 15 third batch: MV percentile family, string tail
    (SPACE/REPEAT/BIT_LENGTH/BYTE_LENGTH/base64), generalized HASH."""

    def test_mv_percentile(self, spark):
        df = spark.createDataFrame(
            [(1, [5, 1, 3, 9]), (2, []), (3, None)],
            "id long, v array<int>")
        rows = {r["id"]: r for r in esql({"t": df}, """
            FROM t
            | EVAL p50 = MV_PERCENTILE(v, 50), p0 = MV_PERCENTILE(v, 0),
                   p100 = MV_PERCENTILE(v, 100),
                   p25 = MV_PERCENTILE(v, 25)
        """).collect()}
        # sorted: 1 3 5 9; p50 = (3+5)/2, p25 = 1 + 0.75·(3−1)
        assert rows[1]["p50"] == pytest.approx(4.0)
        assert rows[1]["p0"] == pytest.approx(1.0)
        assert rows[1]["p100"] == pytest.approx(9.0)
        assert rows[1]["p25"] == pytest.approx(2.5)
        assert rows[2]["p50"] is None and rows[3]["p50"] is None

    def test_mv_percentile_out_of_range_poisons(self, spark):
        df = spark.createDataFrame([(1, [1, 2])], "id long, v array<int>")
        with pytest.raises(Exception, match="MV_PERCENTILE"):
            esql({"t": df},
                 "FROM t | EVAL p = MV_PERCENTILE(v, 101)").collect()

    def test_mv_mad(self, spark):
        df = spark.createDataFrame(
            [(1, [1, 2, 3, 100]), (2, [7])], "id long, v array<int>")
        rows = {r["id"]: r for r in esql({"t": df}, """
            FROM t | EVAL m = MV_MEDIAN_ABSOLUTE_DEVIATION(v)
        """).collect()}
        # median 2.5; |dev| = 1.5 0.5 0.5 97.5 → median (0.5+1.5)/2
        assert rows[1]["m"] == pytest.approx(1.0)
        assert rows[2]["m"] == pytest.approx(0.0)

    def test_mv_pseries_weighted_sum(self, spark):
        df = spark.createDataFrame(
            [(1, [10.0, 4.0, 1.0]), (2, [])],
            "id long, v array<double>")
        rows = {r["id"]: r for r in esql({"t": df}, """
            FROM t | EVAL w = MV_PSERIES_WEIGHTED_SUM(v, 2.0)
        """).collect()}
        # 10/1 + 4/4 + 1/9, stored order (NOT sorted)
        assert rows[1]["w"] == pytest.approx(10 + 1 + 1 / 9)
        assert rows[2]["w"] is None

    def test_string_tail(self, spark):
        df = spark.createDataFrame([(1, "héllo")], "id long, s string")
        r = esql({"t": df}, """
            FROM t
            | EVAL sp = CONCAT("a", SPACE(3), "b"), rp = REPEAT(s, 2),
                   bits = BIT_LENGTH(s), bytes = BYTE_LENGTH(s),
                   b64 = TO_BASE64("spark"), rt = FROM_BASE64(TO_BASE64(s))
            | LIMIT 1
        """).first()
        assert r["sp"] == "a   b"
        assert r["rp"] == "héllohéllo"
        # é is 2 bytes in UTF-8 → 6 bytes, 48 bits
        assert r["bytes"] == 6 and r["bits"] == 48
        assert r["b64"] == "c3Bhcms="
        assert r["rt"] == "héllo"

    def test_space_negative_poisons(self, spark):
        df = spark.createDataFrame([(1, -3)], "id long, n int")
        with pytest.raises(Exception, match="SPACE"):
            esql({"t": df}, "FROM t | EVAL x = SPACE(n)").collect()
        with pytest.raises(Exception, match="REPEAT"):
            esql({"t": df}, 'FROM t | EVAL x = REPEAT("a", n)').collect()

    def test_hash(self, spark):
        import hashlib
        df = spark.createDataFrame([(1, "spark")], "id long, s string")
        r = esql({"t": df}, """
            FROM t
            | EVAL h1 = HASH("md5", s), h2 = HASH("SHA256", s),
                   h3 = HASH("sha512", s), hn = HASH("sha1", NULL)
            | LIMIT 1
        """).first()
        assert r["h1"] == hashlib.md5(b"spark").hexdigest()
        assert r["h2"] == hashlib.sha256(b"spark").hexdigest()
        assert r["h3"] == hashlib.sha512(b"spark").hexdigest()
        assert r["hn"] is None

    def test_hash_unknown_algorithm_poisons(self, spark):
        df = spark.createDataFrame([(1, "x")], "id long, s string")
        with pytest.raises(Exception, match="HASH algorithm"):
            esql({"t": df},
                 'FROM t | EVAL h = HASH("crc32", s)').collect()

    def test_arity_enforced(self, catalog):
        for bad in ("MV_PERCENTILE(cat)", "SPACE()", "REPEAT(cat)",
                    "HASH(cat)", "MV_PSERIES_WEIGHTED_SUM(cat)",
                    "TO_VERSION()"):
            with pytest.raises(ValueError, match="argument"):
                esql(catalog, f"FROM sales | EVAL x = {bad}")

    def test_to_version_ordering(self, spark):
        vers = ["1.0.0", "1.0.0-alpha", "1.0.0-alpha.1", "1.0.0-alpha.beta",
                "1.0.0-beta", "1.0.0-1", "1.0.10", "1.2.0", "2.0.0",
                "9.0.0", "10.0.0", "1.0", "bogus", "alpha"]
        df = spark.createDataFrame([(i, v) for i, v in enumerate(vers)],
                                   "id long, v string")
        got = [r["v"] for r in esql({"t": df}, """
            FROM t | EVAL k = TO_VERSION(v) | SORT k ASC | KEEP v
        """).collect()]
        # semver precedence: numeric prerelease < alpha prereleases <
        # release; 1.0 (two segments) before 1.0.0; numeric 9 < 10;
        # invalid strings after every valid version, alphabetical
        assert got == [
            "1.0", "1.0.0-1", "1.0.0-alpha", "1.0.0-alpha.1",
            "1.0.0-alpha.beta", "1.0.0-beta", "1.0.0", "1.0.10",
            "1.2.0", "2.0.0", "9.0.0", "10.0.0", "alpha", "bogus"]

    def test_math_date_stragglers(self, spark):
        import datetime as dt
        df = spark.createDataFrame(
            [(1, 104.0, dt.datetime(2024, 3, 4, 12, 0))],  # a Monday
            "id long, x double, ts timestamp")
        r = esql({"t": df}, """
            FROM t
            | EVAL r1 = ROUND_TO(x, 0.0, 50.0, 100.0, 200.0),
                   r2 = ROUND_TO(-5.0, 0.0, 50.0),
                   sc = SCALB(3.0, 4),
                   cs = COPY_SIGN(7.5, -2), cs2 = COPY_SIGN(-7.5, 2),
                   dn = DAY_NAME(ts), mn = MONTH_NAME(ts)
            | LIMIT 1
        """).first()
        assert r["r1"] == 100.0
        assert r["r2"] == 0.0  # below the smallest point -> smallest
        assert r["sc"] == 48.0
        assert r["cs"] == -7.5 and r["cs2"] == 7.5
        assert r["dn"] == "Monday" and r["mn"] == "March"

    def test_to_version_null_and_equality(self, spark):
        df = spark.createDataFrame(
            [(1, "1.2.3", "1.2.3"), (2, "1.0", "1.0.0"), (3, None, "1")],
            "id long, a string, b string")
        rows = {r["id"]: r for r in esql({"t": df}, """
            FROM t | EVAL eq = TO_VERSION(a) == TO_VERSION(b)
        """).collect()}
        assert rows[1]["eq"] is True
        assert rows[2]["eq"] is False  # 1.0 and 1.0.0 stay distinct
        assert rows[3]["eq"] is None


class TestAggTail15:
    """Round 15 third batch STATS aggregates: exact per-group
    MEDIAN_ABSOLUTE_DEVIATION, ST_CENTROID_AGG, ST_EXTENT_AGG."""

    def _pts(self, spark):
        from pyspark.sql import functions as SF
        return (spark.createDataFrame(
            [(1, 1.0, 10.0, 20.0), (1, 2.0, 12.0, 24.0),
             (1, 3.0, 14.0, 28.0), (1, 100.0, 16.0, 30.0),
             (2, 5.0, -10.0, 40.0), (3, None, 1.0, 1.0)],
            "g int, x double, lat double, lon double")
            .withColumn("loc", SF.struct("lat", "lon"))
            .drop("lat", "lon"))

    def test_mad_exact_per_group(self, spark):
        rows = {r["g"]: r for r in esql({"t": self._pts(spark)}, """
            FROM t | STATS m = MEDIAN_ABSOLUTE_DEVIATION(x) BY g
        """).collect()}
        # group 1: median 2.5, |dev| = 1.5 0.5 0.5 97.5 → median 1.0
        assert rows[1]["m"] == pytest.approx(1.0)
        assert rows[2]["m"] == pytest.approx(0.0)
        assert rows[3]["m"] is None  # all-NULL group

    def test_centroid_and_extent(self, spark):
        rows = {r["g"]: r for r in esql({"t": self._pts(spark)}, """
            FROM t
            | STATS c = ST_CENTROID_AGG(loc), e = ST_EXTENT_AGG(loc)
              BY g
            | EVAL clat = ST_Y(c), clon = ST_X(c)
            | DROP c
        """).collect()}
        assert rows[1]["clat"] == pytest.approx(13.0)
        assert rows[1]["clon"] == pytest.approx(25.5)
        assert rows[1]["e"] == (
            "BBOX (20.000000, 30.000000, 16.000000, 10.000000)")
        assert rows[2]["e"] == (
            "BBOX (40.000000, 40.000000, -10.000000, -10.000000)")

    def test_mad_with_agg_where(self, spark):
        # the per-aggregate WHERE gate (8.16) composes: the outlier
        # row is filtered out of the MAD's value stream only
        r = esql({"t": self._pts(spark)}, """
            FROM t
            | STATS m = MEDIAN_ABSOLUTE_DEVIATION(x) WHERE x < 50,
                    all_m = MEDIAN_ABSOLUTE_DEVIATION(x)
              BY g
            | WHERE g == 1
        """).first()
        # without outlier: values 1 2 3, median 2, |dev| 1 0 1 → 1.0
        assert r["m"] == pytest.approx(1.0)
        assert r["all_m"] == pytest.approx(1.0)

    def test_arity(self, catalog):
        with pytest.raises(ValueError, match="argument"):
            esql(catalog,
                 "FROM sales | STATS m = MEDIAN_ABSOLUTE_DEVIATION()")
        with pytest.raises(ValueError, match="argument"):
            esql(catalog, "FROM sales | STATS f = FIRST(id)")

    def test_first_last(self, spark):
        df = spark.createDataFrame(
            [(1, 10, "a"), (1, 30, "c"), (1, 20, "b"),
             (2, 5, "x"), (2, 5, "w"),        # tie on sort key
             (3, None, "only-null-sort"), (3, 7, None)],
            "g int, ts int, v string")
        rows = {r["g"]: r for r in esql({"t": df}, """
            FROM t | STATS f = FIRST(v, ts), l = LAST(v, ts) BY g
        """).collect()}
        assert rows[1]["f"] == "a" and rows[1]["l"] == "c"
        # tie on the sort key breaks by value (documented)
        assert rows[2]["f"] == "w" and rows[2]["l"] == "x"
        # NULL sort key and NULL value rows are both skipped
        assert rows[3]["f"] is None and rows[3]["l"] is None

    def test_first_with_agg_where(self, spark):
        df = spark.createDataFrame(
            [(1, 1, "low"), (1, 2, "hi"), (1, 3, "hi2")],
            "g int, ts int, v string")
        r = esql({"t": df}, """
            FROM t | STATS f = FIRST(v, ts) WHERE ts >= 2 BY g
        """).first()
        assert r["f"] == "hi"

    def test_sample_deterministic(self, spark):
        df = spark.createDataFrame(
            [(1, f"v{i}") for i in range(20)] + [(2, None)],
            "g int, v string")
        q = "FROM t | STATS s = SAMPLE(v, 5), n = COUNT(*) BY g"
        a = {r["g"]: r for r in esql({"t": df}, q).collect()}
        b = {r["g"]: r for r in esql(
            {"t": df.repartition(7)}, q).collect()}
        # deterministic across partitionings, subset of the values
        assert a[1]["s"] == b[1]["s"] and len(a[1]["s"]) == 5
        assert set(a[1]["s"]) <= {f"v{i}" for i in range(20)}
        assert a[2]["s"] == []  # NULLs skipped

    def test_sample_limit_literal(self, catalog):
        with pytest.raises(ValueError, match="positive integer"):
            esql(catalog, "FROM sales | STATS s = SAMPLE(cat, 0)")


class TestFullTextWhere:
    """ES|QL MATCH()/QSTR() in WHERE (round 15, VERDICT r14 #2): the
    bridge into the DSL match compiler and the Lucene query-string
    grammar."""

    def _docs(self, spark):
        return spark.createDataFrame(
            [(1, "the quick brown fox", "a"),
             (2, "lazy dogs sleep", "b"),
             (3, "quick silver lining", "a"),
             (4, "nothing here", "b")],
            "id long, txt string, cat string")

    def test_match_is_analyzed_or_of_terms(self, spark):
        rows = esql({"t": self._docs(spark)}, '''
            FROM t | WHERE MATCH(txt, "QUICK fox") | KEEP id | SORT id ASC
        ''').collect()
        # lowercased standard-chain terms, OR semantics (live ES default)
        assert [r["id"] for r in rows] == [1, 3]

    def test_match_composes_with_stats(self, spark):
        rows = esql({"t": self._docs(spark)}, '''
            FROM t | WHERE MATCH(txt, "quick") AND id >= 1
            | STATS n = COUNT(*) BY cat | SORT cat ASC
        ''').collect()
        assert [(r["cat"], r["n"]) for r in rows] == [("a", 2)]

    def test_qstr_fielded_boolean_grammar(self, spark):
        rows = esql({"t": self._docs(spark)}, '''
            FROM t | WHERE QSTR("txt:quick AND txt:fox") | KEEP id
        ''').collect()
        assert [r["id"] for r in rows] == [1]

    def test_where_pushes_into_scan(self, catalog):
        plan = esql(catalog, '''
            FROM sales | WHERE MATCH(cat, "a")
        ''')._jdf.queryExecution().executedPlan().toString()
        # one codegen filter over the scan, no joins/aggregates added
        assert "Filter" in plan and "Join" not in plan

    def test_rejects(self, spark):
        docs = {"t": self._docs(spark)}
        with pytest.raises(ValueError, match="only allowed in WHERE"):
            esql(docs, 'FROM t | EVAL m = MATCH(txt, "quick")')
        with pytest.raises(ValueError, match="only allowed in WHERE"):
            esql(docs, 'FROM t | EVAL m = QSTR("txt:quick")')
        with pytest.raises(ValueError, match="named options"):
            esql(docs, 'FROM t | WHERE MATCH(txt, "q", "and")')
        with pytest.raises(ValueError, match="QSTR options"):
            esql(docs, 'FROM t | WHERE QSTR("txt:q", "x")')
        with pytest.raises(ValueError, match="field name first"):
            esql(docs, 'FROM t | WHERE MATCH("quick", txt)')
        with pytest.raises(ValueError, match="bare term"):
            esql(docs, 'FROM t | WHERE QSTR("no field prefix")')


class TestMetadataScore:
    """ES|QL 9.1 ``FROM … METADATA _score``: full-text WHERE functions
    contribute their clause scores — parity-pinned against the DSL
    scorer (es_scored_search), which IS the reference construction."""

    def _docs(self, spark):
        return spark.createDataFrame(
            [(i, f"merge stream doc {i}" if i % 3 == 0
              else ("merge only here" if i % 3 == 1 else "other text"),
              f"k{i % 4}") for i in range(1, 21)],
            "id long, text string, kw string")

    def test_match_score_parity_with_dsl(self, spark):
        from hive2es_offline_spark.plans.scoring import es_scored_search

        df = self._docs(spark)
        got = [(r["id"], r["_score"]) for r in esql({"t": df}, '''
            FROM t METADATA _score
            | WHERE MATCH(text, "merge stream")
            | KEEP id, _score
            | SORT _score DESC, id ASC
        ''').collect()]
        ref = es_scored_search(df, {
            "query": {"match": {"text": "merge stream"}},
            "size": 100, "_source": ["id"]}, id_field="id").collect()
        want = sorted([(r["id"], r["_score"]) for r in ref],
                      key=lambda x: (-x[1], x[0]))
        assert got == want

    def test_term_scores_keyword_idf(self, spark):
        from hive2es_offline_spark.plans.scoring import es_scored_search

        df = self._docs(spark)
        r = esql({"t": df}, '''
            FROM t METADATA _score
            | WHERE TERM(kw, "k1") | KEEP id, _score | LIMIT 1
        ''').first()
        ref = es_scored_search(df, {
            "query": {"term": {"kw": "k1"}},
            "size": 1, "_source": ["id"]}, id_field="id").first()
        assert r["_score"] == pytest.approx(ref["_score"], abs=1e-9)

    def test_scores_accumulate_across_wheres(self, spark):
        df = self._docs(spark)
        one = {r["id"]: r["_score"] for r in esql({"t": df}, '''
            FROM t METADATA _score
            | WHERE MATCH(text, "merge") | KEEP id, _score
        ''').collect()}
        two = {r["id"]: r["_score"] for r in esql({"t": df}, '''
            FROM t METADATA _score
            | WHERE MATCH(text, "merge")
            | WHERE MATCH(text, "stream") OR id <= 100
            | KEEP id, _score
        ''').collect()}
        # doc 3 matches both; doc 1 only the first (OR keeps the row,
        # contribution 0)
        assert two[3] > one[3]
        assert two[1] == pytest.approx(one[1])

    def test_multi_match_is_best_fields_max(self, spark):
        from hive2es_offline_spark.plans.scoring import es_scored_search

        df = self._docs(spark).withColumn("alt", F.col("text"))
        r = esql({"t": df}, '''
            FROM t METADATA _score
            | WHERE MULTI_MATCH("merge", text, alt)
            | KEEP id, _score | SORT _score DESC, id ASC | LIMIT 1
        ''').first()
        ref = es_scored_search(df, {
            "query": {"match": {"text": "merge"}},
            "size": 1, "_source": ["id"]}, id_field="id").first()
        # identical fields: best_fields max == the single-field score
        assert r["_score"] == pytest.approx(ref["_score"], abs=1e-9)

    def _dsl_rows(self, df, query):
        from hive2es_offline_spark.plans.scoring import es_scored_search

        return sorted((r["id"], r["_score"]) for r in es_scored_search(
            df, {"query": query, "size": 100, "_source": ["id"]},
            id_field="id").collect())

    def test_multi_match_two_fields_is_the_dsl_score(self, spark):
        df = self._docs(spark).withColumn(
            "alt", F.when(F.col("id") % 2 == 0, F.lit("stream merge stream"))
            .otherwise(F.lit("nothing")))
        got = sorted((r["id"], r["_score"]) for r in esql({"t": df}, '''
            FROM t METADATA _score
            | WHERE MULTI_MATCH("merge stream", text, alt)
            | KEEP id, _score
        ''').collect())
        want = self._dsl_rows(df, {"multi_match": {
            "query": "merge stream", "fields": ["text", "alt"]}})
        assert len(got) > 1 and got == want

    def test_match_and_term_is_the_dsl_bool_score(self, spark):
        df = self._docs(spark)
        got = sorted((r["id"], r["_score"]) for r in esql({"t": df}, '''
            FROM t METADATA _score
            | WHERE MATCH(text, "merge stream") AND TERM(kw, "k1")
            | KEEP id, _score
        ''').collect())
        want = self._dsl_rows(df, {"bool": {"must": [
            {"match": {"text": "merge stream"}}, {"term": {"kw": "k1"}}]}})
        assert len(got) > 1 and got == want

    def test_score_column_without_fulltext_stays_zero(self, spark):
        r = esql({"t": self._docs(spark)}, '''
            FROM t METADATA _score | WHERE id == 5 | KEEP id, _score
        ''').first()
        assert r["_score"] == 0.0

    def test_rejects(self, spark):
        df = self._docs(spark)
        with pytest.raises(ValueError, match="filter-only"):
            esql({"t": df}, '''
                FROM t METADATA _score
                | WHERE QSTR("text:merge")
            ''')
        with pytest.raises(ValueError, match="filter-only"):
            esql({"t": df}, '''
                FROM t METADATA _score | WHERE KQL("id >= 3")
            ''')
        clash = df.withColumn("_score", F.lit(1.0))
        with pytest.raises(ValueError, match="collides"):
            esql({"t": clash}, "FROM t METADATA _score")
        # unscored queries keep QSTR fully working
        assert esql({"t": df},
                    'FROM t | WHERE QSTR("text:merge")').count() > 0


class TestEsqlKnn:
    """ES|QL 9.1 KNN(field, [v…][, k]): pre-filtered exact knn with
    the engine's rounded-before-rank cosine and a tie-inclusive k-th
    boundary (documented divergence from live ES's exactly-k)."""

    def _vecs(self, spark):
        rows = [(i, [float(i % 7), 1.0]) for i in range(1, 21)] \
            + [(99, None)]
        return spark.createDataFrame(rows, "id long, emb array<double>")

    def test_boundary_and_score(self, spark):
        out = esql({"t": self._vecs(spark)}, '''
            FROM t METADATA _score
            | WHERE KNN(emb, [6.0, 1.0], 4)
            | KEEP id, _score | SORT _score DESC, id ASC
        ''').collect()
        got = [(r["id"], r["_score"]) for r in out]
        # ids ≡ 6 (mod 7) are exact matches (cos = 1.0); the 4th-best
        # similarity ties across ids ≡ 5, so the cut keeps all ties
        assert got[:3] == [(6, 1.0), (13, 1.0), (20, 1.0)]
        assert {g[0] for g in got[3:]} == {5, 12, 19}
        assert all(g[1] == got[3][1] for g in got[3:])

    def test_filter_only_and_null_vectors_drop(self, spark):
        ids = [r["id"] for r in esql({"t": self._vecs(spark)}, '''
            FROM t | WHERE KNN(emb, [6.0, 1.0], 3) | KEEP id
        ''').collect()]
        assert set(ids) == {6, 13, 20}
        assert 99 not in ids  # NULL vector rows never match

    def test_composes_with_scalar_filter(self, spark):
        ids = sorted(r["id"] for r in esql({"t": self._vecs(spark)}, '''
            FROM t | WHERE KNN(emb, [6.0, 1.0], 3) AND id <= 13 | KEEP id
        ''').collect())
        assert ids == [6, 13]

    def test_rejects(self, spark):
        df = self._vecs(spark)
        with pytest.raises(ValueError, match="numeric"):
            esql({"t": df}, 'FROM t | WHERE KNN(emb, [6.0, "x"])')
        with pytest.raises(ValueError, match="positive integer"):
            esql({"t": df}, "FROM t | WHERE KNN(emb, [6.0, 1.0], 0)")
        with pytest.raises(ValueError, match="only allowed in WHERE"):
            esql({"t": df}, "FROM t | EVAL x = KNN(emb, [6.0, 1.0])")


class TestFullTextRoundOut:
    """ES|QL full-text WHERE round-out (round 15, second batch):
    MATCH_PHRASE (8.18), TERM (8.16), MULTI_MATCH (8.18) and KQL
    (8.17) ride the same DSL-compiler bridge as MATCH/QSTR."""

    def _docs(self, spark):
        return spark.createDataFrame(
            [(1, "the quick brown fox", "a", 10),
             (2, "brown quick reversal", "b", 20),
             (3, "quick silver lining", "a", 30),
             (4, "nothing here", "b", 40)],
            "id long, txt string, cat string, n long")

    def test_match_phrase_is_positional(self, spark):
        rows = esql({"t": self._docs(spark)}, '''
            FROM t | WHERE MATCH_PHRASE(txt, "quick brown") | KEEP id
        ''').collect()
        # doc 2 has both terms but reversed — phrase adjacency excludes it
        assert [r["id"] for r in rows] == [1]

    def test_term_is_exact_unanalyzed(self, spark):
        docs = {"t": self._docs(spark)}
        rows = esql(docs, '''
            FROM t | WHERE TERM(cat, "a") | KEEP id | SORT id ASC
        ''').collect()
        assert [r["id"] for r in rows] == [1, 3]
        # numeric literal value → numeric equality
        rows = esql(docs, '''
            FROM t | WHERE TERM(n, 20) | KEEP id
        ''').collect()
        assert [r["id"] for r in rows] == [2]
        # TERM does not analyze: a multi-word value matches nothing
        rows = esql(docs, '''
            FROM t | WHERE TERM(txt, "quick brown") | KEEP id
        ''').collect()
        assert rows == []

    def test_multi_match_or_across_fields(self, spark):
        rows = esql({"t": self._docs(spark)}, '''
            FROM t | WHERE MULTI_MATCH("b", cat, txt) | KEEP id | SORT id ASC
        ''').collect()
        # cat=b on 2,4; analyzed "b" appears in no txt token
        assert [r["id"] for r in rows] == [2, 4]

    def test_kql_boolean_grammar(self, spark):
        rows = esql({"t": self._docs(spark)}, '''
            FROM t | WHERE KQL("txt:quick and not txt:fox and n <= 30")
            | KEEP id | SORT id ASC
        ''').collect()
        assert [r["id"] for r in rows] == [2, 3]

    def test_kql_value_group_and_phrase(self, spark):
        rows = esql({"t": self._docs(spark)}, '''
            FROM t | WHERE KQL("cat:(a or b) and txt:\\"quick brown\\"")
            | KEEP id
        ''').collect()
        assert [r["id"] for r in rows] == [1]

    def test_pushes_into_scan(self, catalog):
        for q in ('FROM sales | WHERE MATCH_PHRASE(cat, "a b")',
                  'FROM sales | WHERE TERM(cat, "a")',
                  'FROM sales | WHERE MULTI_MATCH("a", cat)',
                  'FROM sales | WHERE KQL("cat:a")'):
            plan = esql(catalog, q)._jdf.queryExecution() \
                .executedPlan().toString()
            assert "Filter" in plan and "Join" not in plan

    def test_rejects(self, spark):
        docs = {"t": self._docs(spark)}
        for q in ('FROM t | EVAL m = MATCH_PHRASE(txt, "q b")',
                  'FROM t | EVAL m = TERM(cat, "a")',
                  'FROM t | EVAL m = MULTI_MATCH("a", cat)',
                  'FROM t | EVAL m = KQL("cat:a")'):
            with pytest.raises(ValueError, match="only allowed in WHERE"):
                esql(docs, q)
        with pytest.raises(ValueError, match="named options"):
            esql(docs, 'FROM t | WHERE MATCH_PHRASE(txt, "q", "s")')
        with pytest.raises(ValueError, match="field name first"):
            esql(docs, 'FROM t | WHERE TERM("a", cat)')
        with pytest.raises(ValueError, match="literal string or"):
            esql(docs, 'FROM t | WHERE TERM(cat, txt)')
        with pytest.raises(ValueError, match="at least one field"):
            esql(docs, 'FROM t | WHERE MULTI_MATCH("a")')
        with pytest.raises(ValueError, match="column names"):
            esql(docs, 'FROM t | WHERE MULTI_MATCH("a", "b")')
        with pytest.raises(ValueError, match="KQL options"):
            esql(docs, 'FROM t | WHERE KQL("cat:a", "x")')
        with pytest.raises(ValueError, match="bare term"):
            esql(docs, 'FROM t | WHERE KQL("unqualified")')


class TestSpatial:
    """ES|QL spatial functions (round 15, VERDICT r14 #3): ST_DISTANCE
    via the shared haversine, relation predicates via the geo_shape
    compiler, literal WKT through TO_GEOPOINT/TO_GEOSHAPE."""

    POLY = "POLYGON((-1 -1, 11 -1, 11 11, -1 11, -1 -1))"

    def _pts(self, spark):
        return spark.createDataFrame(
            [(1, 0.0, 0.0), (2, 10.0, 10.0), (3, 50.0, 50.0),
             (4, -20.0, 30.0)],
            "id long, lat double, lon double").select(
            "id", F.struct("lat", "lon").alias("loc"))

    def test_within_contains_intersects_agree(self, spark):
        cat = {"t": self._pts(spark)}
        for q in (
            f'FROM t | WHERE ST_WITHIN(loc, TO_GEOSHAPE("{self.POLY}"))'
            ' | KEEP id | SORT id ASC',
            f'FROM t | WHERE ST_CONTAINS(TO_GEOSHAPE("{self.POLY}"), loc)'
            ' | KEEP id | SORT id ASC',
            f'FROM t | WHERE ST_INTERSECTS(loc, "{self.POLY}")'
            ' | KEEP id | SORT id ASC',
        ):
            assert [r["id"] for r in esql(cat, q).collect()] == [1, 2]

    def test_distance_matches_haversine(self, spark):
        import math

        rows = esql({"t": self._pts(spark)}, '''
            FROM t | EVAL d = ST_DISTANCE(loc, TO_GEOPOINT("POINT(0 0)"))
            | KEEP id, d | SORT id ASC
        ''').collect()
        assert rows[0]["d"] == 0.0
        # (10, 10) vs (0, 0): reference haversine on Lucene's radius
        r = 6371008.7714150598
        a = (math.sin(math.radians(10) / 2) ** 2
             + math.cos(0.0) * math.cos(math.radians(10))
             * math.sin(math.radians(10) / 2) ** 2)
        want = 2 * r * math.asin(min(1.0, math.sqrt(a)))
        assert abs(rows[1]["d"] - want) < 1e-6
        assert rows[1]["d"] < rows[2]["d"]

    def test_st_xy_and_point_equality(self, spark):
        rows = esql({"t": self._pts(spark)}, '''
            FROM t | EVAL x = ST_X(loc), y = ST_Y(loc)
            | WHERE ST_INTERSECTS(loc, TO_GEOPOINT("POINT(10 10)"))
            | KEEP id, x, y
        ''').collect()
        assert [(r["id"], r["x"], r["y"]) for r in rows] == [(2, 10.0, 10.0)]

    def test_filter_is_codegen_scan(self, spark):
        plan = esql({"t": self._pts(spark)}, f'''
            FROM t | WHERE ST_WITHIN(loc, TO_GEOSHAPE("{self.POLY}"))
        ''')._jdf.queryExecution().executedPlan().toString()
        assert "Filter" in plan and "Join" not in plan
        assert "pythonUDF" not in plan  # pure codegen trig/ray-cast

    def test_grid_functions_match_agg_builders(self, spark):
        """ST_GEOHASH/ST_GEOTILE/ST_GEOHEX key rows the same way as the
        geohash_grid / geotile_grid / hex_grid bucket aggs."""
        from collections import Counter

        from hive2es_offline_spark.plans.query_dsl import compile_aggs

        pts = self._pts(spark)
        rows = esql({"t": pts}, '''
            FROM t | EVAL gh = ST_GEOHASH(loc, 2), gt = ST_GEOTILE(loc, 4),
                          hx = ST_GEOHEX(loc, 2)
            | KEEP id, gh, gt, hx | SORT id ASC
        ''').collect()
        for col, agg, prec in (("gh", "geohash_grid", 2),
                               ("gt", "geotile_grid", 4),
                               ("hx", "hex_grid", 2)):
            buckets = compile_aggs(pts, {"g": {agg: {
                "field": "loc", "precision": prec}}}).collect()
            assert Counter(r[col] for r in rows) == {
                b["key"]: b["doc_count"] for b in buckets}
        # sane key shapes
        assert rows[0]["gt"].startswith("4/")
        assert len(rows[0]["gh"]) == 2
        assert rows[0]["hx"].startswith("2/")

    def test_grid_rejects(self, spark):
        cat = {"t": self._pts(spark)}
        with pytest.raises(ValueError, match="integer literal"):
            esql(cat, "FROM t | EVAL g = ST_GEOHASH(loc, 2.5)")
        with pytest.raises(ValueError, match="geotile precision"):
            esql(cat, "FROM t | EVAL g = ST_GEOTILE(loc, 99)")
        with pytest.raises(ValueError, match="geohash precision"):
            esql(cat, "FROM t | EVAL g = ST_GEOHASH(loc, 0)")

    def test_rejects(self, spark):
        cat = {"t": self._pts(spark)}
        with pytest.raises(ValueError, match="cannot contain"):
            esql(cat, f'FROM t | WHERE ST_CONTAINS(loc, "{self.POLY}")')
        with pytest.raises(ValueError, match="cannot be within"):
            esql(cat, f'FROM t | WHERE ST_WITHIN("{self.POLY}", loc)')
        with pytest.raises(ValueError, match="two points"):
            esql(cat, f'FROM t | WHERE ST_DISTANCE(loc, "{self.POLY}") < 5')
        with pytest.raises(ValueError, match="only usable as an ST_"):
            esql(cat, f'FROM t | EVAL g = TO_GEOSHAPE("{self.POLY}")')
        with pytest.raises(ValueError, match="WKT POINT"):
            esql(cat, f'FROM t | EVAL p = TO_GEOPOINT("{self.POLY}")')
        with pytest.raises(ValueError, match="unsupported WKT"):
            esql(cat, 'FROM t | EVAL p = TO_GEOPOINT("LINESTRING(0 0, 1 1)")')
        with pytest.raises(ValueError, match="malformed WKT"):
            esql(cat, 'FROM t | WHERE ST_WITHIN(loc, "POLYGON((0 0 1, 1 1))")')


class TestToIp:
    """ES|QL TO_IP (round 15, VERDICT r14 #4): numeric ip ordering."""

    def _logs(self, spark):
        return spark.createDataFrame(
            [(1, "9.0.0.0"), (2, "10.0.0.1"), (3, "10.0.0.255"),
             (4, "192.168.1.1"), (5, None)],
            "id long, ip string")

    def test_numeric_not_lexicographic_order(self, spark):
        rows = esql({"t": self._logs(spark)}, '''
            FROM t | WHERE ip IS NOT NULL
            | EVAL ipn = TO_IP(ip) | SORT ipn ASC | KEEP id
        ''').collect()
        # lexicographic would put "10.*" before "9.*"
        assert [r["id"] for r in rows] == [1, 2, 3, 4]

    def test_compare_and_null_passthrough(self, spark):
        rows = esql({"t": self._logs(spark)}, '''
            FROM t
            | WHERE TO_IP(ip) >= TO_IP("10.0.0.0")
                    AND TO_IP(ip) < TO_IP("11.0.0.0")
            | KEEP id | SORT id ASC
        ''').collect()
        assert [r["id"] for r in rows] == [2, 3]
        n = esql({"t": self._logs(spark)}, '''
            FROM t | EVAL ipn = TO_IP(ip) | WHERE ipn IS NULL
            | STATS n = COUNT(*)
        ''').first()["n"]
        assert n == 1  # the NULL row passes through, no raise

    def test_composes_with_cidr_match(self, spark):
        rows = esql({"t": self._logs(spark)}, '''
            FROM t | WHERE CIDR_MATCH(ip, "10.0.0.0/8")
            | EVAL ipn = TO_IP(ip) | SORT ipn DESC | KEEP id
        ''').collect()
        assert [r["id"] for r in rows] == [3, 2]

    def test_malformed_raises_at_runtime(self, spark):
        bad = spark.createDataFrame(
            [(1, "10.0.0.1"), (2, "300.1.1.1"), (3, "::1")],
            "id long, ip string")
        for v in ("300.1.1.1", "::1", "not-an-ip"):
            df = spark.createDataFrame([(1, v)], "id long, ip string")
            out = esql({"t": df}, "FROM t | EVAL ipn = TO_IP(ip)")
            with pytest.raises(Exception, match="TO_IP cannot parse"):
                out.collect()
        # and the valid rows of a mixed frame never mask the bad one
        out = esql({"t": bad}, "FROM t | EVAL ipn = TO_IP(ip)")
        with pytest.raises(Exception, match="TO_IP cannot parse"):
            out.collect()


class TestStatsRoundOut:
    """Round 15: per-aggregate WHERE (ES 8.16), VALUES/TOP/
    WEIGHTED_AVG/STD_DEV aggregates, and the math scalar tail."""

    def _frame(self, spark):
        return spark.createDataFrame(
            [(1, "a", 10.0, 1), (2, "a", 20.0, 2), (3, "b", 30.0, 1),
             (4, "b", 40.0, 3), (5, "a", 50.0, 2), (6, "b", None, 1)],
            "id long, cat string, v double, w int")

    def test_per_aggregate_where(self, spark):
        r = esql({"t": self._frame(spark)}, '''
            FROM t | STATS n = COUNT(*), n_hi = COUNT(*) WHERE v >= 30,
                           s_hi = SUM(v) WHERE v >= 30,
                           d_hi = COUNT_DISTINCT(cat) WHERE v >= 40
        ''').first()
        assert (r["n"], r["n_hi"], r["s_hi"], r["d_hi"]) == (6, 3, 120.0, 2)

    def test_inlinestats_per_aggregate_where(self, spark):
        rows = esql({"t": self._frame(spark)}, '''
            FROM t
            | INLINESTATS n_hi = COUNT(*) WHERE v >= 30,
                          s_lo = SUM(v) WHERE v < 30 BY cat
            | KEEP id, cat, n_hi, s_lo | SORT id ASC
        ''').collect()
        by = {r["id"]: (r["n_hi"], r["s_lo"]) for r in rows}
        # cat a: v = 10, 20, 50 -> one >= 30, 30.0 below
        assert by[1] == (1, 30.0) and by[5] == (1, 30.0)
        # cat b: v = 30, 40, NULL -> two >= 30, nothing below
        assert by[3] == (2, None) and by[6] == (2, None)

    def test_per_aggregate_where_with_by(self, spark):
        rows = esql({"t": self._frame(spark)}, '''
            FROM t | STATS s = SUM(v) WHERE w == 1 BY cat | SORT cat ASC
        ''').collect()
        assert [(r["cat"], r["s"]) for r in rows] == [("a", 10.0), ("b", 30.0)]

    def test_new_aggregates(self, spark):
        import math

        r = esql({"t": self._frame(spark)}, '''
            FROM t
            | STATS wavg = WEIGHTED_AVG(v, w), sd = STD_DEV(v),
                    vals = VALUES(cat), t2 = TOP(v, 2, "desc"),
                    b2 = TOP(v, 2, "asc")
        ''').first()
        # NULL-v row 6 contributes NEITHER numerator nor weight
        assert r["wavg"] == round((10 + 40 + 30 + 120 + 100) / 9, 6)
        vs = [10.0, 20.0, 30.0, 40.0, 50.0]
        mean = sum(vs) / 5
        assert r["sd"] == round(math.sqrt(sum(x * x for x in vs) / 5
                                          - mean ** 2), 6)
        assert r["vals"] == ["a", "b"]
        assert r["t2"] == [50.0, 40.0] and r["b2"] == [10.0, 20.0]

    def test_math_scalars(self, spark):
        import math

        r = esql({"t": self._frame(spark)}, '''
            FROM t | WHERE id == 4
            | EVAL l = LOG(v), l2 = LOG(2, v), lg = LOG10(v),
                   deg = TO_DEGREES(PI()), atn = ATAN2(1.0, 1.0),
                   sg = SIGNUM(0.0 - v), hy = HYPOT(3.0, 4.0)
            | KEEP l, l2, lg, deg, atn, sg, hy
        ''').first()
        assert abs(r["l"] - math.log(40.0)) < 1e-12
        assert abs(r["l2"] - math.log2(40.0)) < 1e-12
        assert abs(r["lg"] - math.log10(40.0)) < 1e-12
        assert r["deg"] == 180.0 and r["sg"] == -1.0 and r["hy"] == 5.0
        assert abs(r["atn"] - math.pi / 4) < 1e-12

    def test_rejects(self, spark):
        cat = {"t": self._frame(spark)}
        with pytest.raises(ValueError, match="positive integer"):
            esql(cat, 'FROM t | STATS x = TOP(v, 0, "desc")')
        with pytest.raises(ValueError, match='"asc" or "desc"'):
            esql(cat, 'FROM t | STATS x = TOP(v, 2, "up")')
        with pytest.raises(ValueError, match="takes"):
            esql(cat, "FROM t | STATS x = WEIGHTED_AVG(v)")
        with pytest.raises(ValueError, match="trailing tokens after the"):
            esql(cat, "FROM t | STATS x = SUM(v) WHERE v > 1 v")
        with pytest.raises(ValueError, match="takes 0"):
            esql(cat, "FROM t | EVAL p = PI(v)")


class TestMvRoundOut:
    """Round 15: MV_SLICE/MV_APPEND/MV_CONCAT/MV_MEDIAN/MV_ZIP."""

    def _frame(self, spark):
        return spark.createDataFrame(
            [(1, [3.0, 1.0, 2.0, 4.0], ["a", "b"], ["x", "y", "z"]),
             (2, None, None, ["q"])],
            "id long, v array<double>, s1 array<string>, s2 array<string>")

    def test_slice_median_zip_concat(self, spark):
        r = esql({"t": self._frame(spark)}, '''
            FROM t | WHERE id == 1
            | EVAL sl = MV_SLICE(v, 1, 2), one = MV_SLICE(v, -2),
                   emp = MV_SLICE(v, 3, 1), app = MV_APPEND(s1, s2),
                   med = MV_MEDIAN(v), medo = MV_MEDIAN(MV_SLICE(v, 0, 2)),
                   z = MV_ZIP(s1, s2), zd = MV_ZIP(s1, s2, "-"),
                   c = MV_CONCAT(s1, "|")
        ''').first()
        assert r["sl"] == [1.0, 2.0]          # 0-based INCLUSIVE
        assert r["one"] == [2.0]              # negative from the end
        assert r["emp"] == []                 # inverted window -> empty
        assert r["app"] == ["a", "b", "x", "y", "z"]
        assert r["med"] == 2.5                # even: mean of middles
        assert r["medo"] == 2.0               # odd: middle of {1,2,3}
        assert r["z"] == ["a,x", "b,y", "z"]  # longer tail verbatim
        assert r["zd"] == ["a-x", "b-y", "z"]
        assert r["c"] == "a|b"

    def test_null_propagation(self, spark):
        r = esql({"t": self._frame(spark)}, '''
            FROM t | WHERE id == 2
            | EVAL sl = MV_SLICE(v, 0), med = MV_MEDIAN(v)
        ''').first()
        assert r["sl"] is None and r["med"] is None

    def test_rejects(self, spark):
        cat = {"t": self._frame(spark)}
        with pytest.raises(ValueError, match="MV_CONCAT delimiter"):
            esql(cat, "FROM t | EVAL c = MV_CONCAT(s1, s2)")
        with pytest.raises(ValueError, match="MV_SLICE takes"):
            esql(cat, "FROM t | EVAL c = MV_SLICE(v)")


class TestParseHashIpPrefix:
    """Round 15 second batch: DATE_PARSE, MD5/SHA1/SHA256, IP_PREFIX."""

    def _frame(self, spark):
        return spark.createDataFrame(
            [(1, "2024-03-05 10:30:00", "abc", "10.1.200.77"),
             (2, "2025-12-31 23:59:59", "xyz", "192.168.31.9")],
            "id long, ts string, s string, ip string")

    def test_date_parse(self, spark):
        rows = esql({"t": self._frame(spark)}, '''
            FROM t | EVAL d = DATE_PARSE("yyyy-MM-dd HH:mm:ss", ts),
                          day = DATE_FORMAT("yyyy-MM-dd", d)
            | KEEP id, day | SORT id ASC
        ''').collect()
        assert [r["day"] for r in rows] == ["2024-03-05", "2025-12-31"]
        bad = esql({"t": self._frame(spark)},
                   'FROM t | EVAL d = DATE_PARSE("yyyy-MM-dd", s)')
        with pytest.raises(Exception):
            bad.collect()  # malformed throws under ANSI, never NULLs

    def test_hashes(self, spark):
        import hashlib

        r = esql({"t": self._frame(spark)}, '''
            FROM t | WHERE id == 1
            | EVAL m = MD5(s), s1 = SHA1(s), s2 = SHA256(s)
        ''').first()
        assert r["m"] == hashlib.md5(b"abc").hexdigest()
        assert r["s1"] == hashlib.sha1(b"abc").hexdigest()
        assert r["s2"] == hashlib.sha256(b"abc").hexdigest()

    def test_ip_prefix(self, spark):
        rows = esql({"t": self._frame(spark)}, '''
            FROM t | EVAL net = IP_PREFIX(ip, 24, 128),
                          wide = IP_PREFIX(ip, 12, 128)
            | KEEP id, net, wide | SORT id ASC
        ''').collect()
        assert [(r["net"], r["wide"]) for r in rows] == [
            ("10.1.200.0", "10.0.0.0"), ("192.168.31.0", "192.160.0.0")]

    def test_rejects(self, spark):
        cat = {"t": self._frame(spark)}
        with pytest.raises(ValueError, match="literal pattern"):
            esql(cat, "FROM t | EVAL d = DATE_PARSE(ts, ts)")
        with pytest.raises(ValueError, match=r"v4 length"):
            esql(cat, 'FROM t | EVAL n = IP_PREFIX(ip, 33, 128)')
        with pytest.raises(ValueError, match=r"v6 length"):
            esql(cat, 'FROM t | EVAL n = IP_PREFIX(ip, 24, 200)')
        out = esql({"t": spark.createDataFrame([(1, "::1")],
                                               "id long, ip string")},
                   "FROM t | EVAL n = IP_PREFIX(ip, 24, 64)")
        with pytest.raises(Exception, match="TO_IP cannot parse"):
            out.collect()  # IPv6 data rejects loudly, like TO_IP


class TestRerankCommand:
    """ES|QL 9.x RERANK (round 15): deterministic scorer-backed subset
    sharing the text_similarity_reranker registry + sigmoid contract."""

    MODELS = {"lex-v1": {"weights": {"merge": 0.8},
                         "default_weight": 0.5, "bias": -1.0}}

    def _docs(self, spark):
        return spark.createDataFrame(
            [(1, "merge stream merge table"),
             (2, "stream stream stream query"),
             (3, "totally unrelated words")],
            "id long, txt string")

    def test_rerank_writes_score_and_sorts(self, spark):
        import math

        rows = esql({"t": self._docs(spark)}, '''
            FROM t
            | RERANK "merge stream" ON txt WITH "lex-v1"
            | SORT _score DESC, id ASC
            | KEEP id, _score
        ''', rerank_models=self.MODELS).collect()
        sig = lambda t: round(1 / (1 + math.exp(-(-1.0 + t))), 6)  # noqa: E731
        # doc1: 2*0.8 + 0.5; doc2: 3*0.5; doc3: 0 overlap -> sigmoid(bias)
        assert [(r["id"], r["_score"]) for r in rows] == [
            (1, sig(2.1)), (2, sig(1.5)), (3, sig(0.0))]

    def test_matches_retriever_scoring_contract(self, spark):
        """The ES|QL command and the retriever kind must score a given
        (query, doc) pair identically — one contract, two surfaces."""
        from hive2es_offline_spark.plans.scoring import es_retriever_search

        docs = self._docs(spark).withColumnRenamed("txt", "text") \
            .withColumnRenamed("id", "doc_id")
        via_retriever = {r["doc_id"]: r["_score"] for r in es_retriever_search(
            docs, {"retriever": {"text_similarity_reranker": {
                "retriever": {"standard": {
                    "query": {"match": {"text": "merge stream"}}}},
                "field": "text", "inference_id": "lex-v1",
                "inference_text": "merge stream",
                "rank_window_size": 10}}, "size": 3},
            id_field="doc_id", rerank_models=self.MODELS).collect()}
        via_esql = {r["doc_id"]: r["_score"] for r in esql(
            {"t": docs}, '''
                FROM t | RERANK "merge stream" ON text WITH "lex-v1"
                | KEEP doc_id, _score
            ''', rerank_models=self.MODELS).collect()}
        for k, v in via_retriever.items():
            assert via_esql[k] == v

    def test_rejects(self, spark):
        docs = {"t": self._docs(spark)}
        with pytest.raises(ValueError, match="unknown rerank inference"):
            esql(docs, 'FROM t | RERANK "q" ON txt WITH "other"',
                 rerank_models=self.MODELS)
        with pytest.raises(ValueError, match="unknown rerank inference"):
            esql(docs, 'FROM t | RERANK "q" ON txt WITH "lex-v1"')
        with pytest.raises(ValueError, match="ON <field>"):
            esql(docs, 'FROM t | RERANK "q" txt WITH "lex-v1"',
                 rerank_models=self.MODELS)
        with pytest.raises(ValueError, match="unknown column"):
            esql(docs, 'FROM t | RERANK "q" ON nope WITH "lex-v1"',
                 rerank_models=self.MODELS)
        with pytest.raises(ValueError, match="LLM-backed"):
            esql(docs, 'FROM t | COMPLETION "write a poem" WITH "llm"',
                 rerank_models=self.MODELS)


class TestFromMetadata:
    """FROM … METADATA _index (round 14 second batch)."""

    def test_index_column_per_branch(self, catalog):
        rows = esql(catalog, """
            FROM sales, extra METADATA _index
            | STATS n = COUNT(*) BY _index
            | SORT _index ASC
        """).collect()
        assert [(r["_index"], r["n"]) for r in rows] == [
            ("extra", 1), ("sales", 5)]

    def test_where_on_index_prunes(self, catalog):
        rows = esql(catalog, """
            FROM sales, extra METADATA _index
            | WHERE _index == "extra" | KEEP id, _index
        """).collect()
        assert [(r["id"], r["_index"]) for r in rows] == [(6, "extra")]

    def test_rejects(self, catalog, spark):
        with pytest.raises(ValueError, match="_id"):
            esql(catalog, "FROM sales METADATA _id")
        # a LEADING identifier is always an index name (round-15 review)
        # — so this parses METADATA as an index and trips the comma rule
        with pytest.raises(ValueError, match="expected ','"):
            esql(catalog, "FROM METADATA _index")
        clash = {"t": spark.createDataFrame(
            [(1, "x")], "id long, _index string")}
        with pytest.raises(ValueError, match="collides"):
            esql(clash, "FROM t METADATA _index")

    def test_index_literally_named_metadata(self, spark):
        """Round-15 review: 'FROM metadata' must read the index, not
        eat the keyword."""
        cat = {"metadata": spark.createDataFrame(
            [(1, "x"), (2, "y")], "id long, s string")}
        rows = esql(cat, "FROM metadata | SORT id ASC").collect()
        assert [r["id"] for r in rows] == [1, 2]
        rows = esql(cat, "FROM metadata METADATA _index | LIMIT 1"
                    ).collect()
        assert rows[0]["_index"] == "metadata"

    def test_metadata_field_list_enforced(self, catalog):
        """Round-15 review: missing commas and duplicates reject loudly,
        mirroring the index-name list."""
        with pytest.raises(ValueError,
                           match="between metadata fields"):
            esql(catalog, "FROM sales METADATA _index _index | LIMIT 1")
        with pytest.raises(ValueError, match="duplicate metadata"):
            esql(catalog, "FROM sales METADATA _index, _index | LIMIT 1")


class TestFuse:
    """ES|QL FUSE (round 14 second batch): merge FORK branches by key
    — rrf (rank-based) and linear (raw-score sum)."""

    def _frame(self, spark):
        return spark.createDataFrame(
            [(1, "a", 10.0), (2, "a", 20.0), (3, "b", 30.0),
             (4, "b", 40.0), (5, "a", 50.0)],
            "id long, cat string, v double")

    def test_rrf_fuse_of_two_rankings(self, spark):
        rows = esql({"t": self._frame(spark)}, """
            FROM t
            | FORK (SORT v DESC | LIMIT 3 | EVAL _score = v
                    | KEEP id, _score)
                   (SORT v ASC | LIMIT 3 | EVAL _score = 100.0 - v
                    | KEEP id, _score)
            | FUSE rrf KEY BY id
            | SORT _score DESC, id ASC
        """).collect()
        assert [r["id"] for r in rows][:2] == [3, 1]
        # id 3 ranks 3rd in fork1 AND 3rd in fork2 → two contributions
        assert rows[0]["_score"] == round(2 / 63, 9)
        # id 1 only in fork2 (rank 1) → 1/61
        assert rows[1]["_score"] == round(1 / 61, 9)
        assert set(rows[0].asDict()) == {"id", "_score"}

    def test_linear_fuse_sums_raw_scores(self, spark):
        rows = esql({"t": self._frame(spark)}, """
            FROM t
            | FORK (WHERE cat == "a" | EVAL _score = v | KEEP id, _score)
                   (WHERE v >= 40 | EVAL _score = 1.0 | KEEP id, _score)
            | FUSE linear KEY BY id
            | SORT _score DESC, id ASC
        """).collect()
        by = {r["id"]: r["_score"] for r in rows}
        assert by[5] == 51.0      # 50 from fork1 + 1.0 from fork2
        assert by[4] == 1.0       # fork2 only
        assert by[1] == 10.0

    def test_score_by_custom_column(self, spark):
        rows = esql({"t": self._frame(spark)}, """
            FROM t
            | FORK (EVAL s = v | KEEP id, s) (EVAL s = 1.0 | KEEP id, s)
            | FUSE linear SCORE BY s KEY BY id
            | SORT s DESC, id ASC
        """).collect()
        assert rows[0]["id"] == 5 and rows[0]["s"] == 51.0

    def test_guard_keeps_branch_top_k_plan(self, spark):
        """Round 15: the NULL guard must NOT cost the branch
        TakeOrderedAndProject rewrites — raise_error (non-deterministic)
        and when/otherwise (duplicate score reference) both blocked
        CollapseProject and planned a range-partition sort exchange
        (~2.7x on the benched row)."""
        plan = esql({"t": self._frame(spark)}, """
            FROM t
            | FORK (SORT v DESC, id ASC | LIMIT 3 | EVAL _score = v
                    | KEEP id, _score)
                   (SORT id ASC | LIMIT 3 | EVAL _score = 100.0 - v
                    | KEEP id, _score)
            | FUSE rrf KEY BY id
            | SORT _score DESC, id ASC | LIMIT 3
        """)._jdf.queryExecution().executedPlan().toString()
        # both branches AND the final cut plan as top-k heaps
        assert plan.count("TakeOrderedAndProject") == 3
        assert "rangepartitioning" not in plan

    def test_null_score_branch_rejects_at_runtime(self, spark):
        """Round-15 review: a FORK branch that never produced the score
        column gets NULL-filled by the union — silently ranking those
        rows diverges from the ranked-branch contract; reject loudly."""
        q = """
            FROM t
            | FORK (EVAL _score = v | KEEP id, _score) (KEEP id)
            | FUSE {m} KEY BY id
        """
        for m in ("rrf", "linear"):
            df = esql({"t": self._frame(spark)}, q.format(m=m))
            # the guard is an ANSI-cast poison: a branch that statically
            # lacks the column raises at plan time via constant folding,
            # a data-dependent NULL at run time — both carry the message
            with pytest.raises(Exception, match="NULL _score"):
                df.collect()

    def test_rejects(self, spark, catalog):
        with pytest.raises(ValueError, match="_fork"):
            esql(catalog, "FROM sales | FUSE KEY BY id")
        with pytest.raises(ValueError, match="missing"):
            esql({"t": self._frame(spark)}, """
                FROM t | FORK (KEEP id) (KEEP id) | FUSE KEY BY id
            """)
        with pytest.raises(ValueError, match="WITH options"):
            esql({"t": self._frame(spark)}, """
                FROM t
                | FORK (EVAL _score = v | KEEP id, _score)
                       (EVAL _score = v | KEEP id, _score)
                | FUSE rrf KEY BY id WITH x
            """)


class TestRound14PlanShapes:
    """Plan assertions for the round-14 second-batch surfaces."""

    def test_fork_branch_keeps_top_k_shape(self, catalog):
        plan = esql(catalog, """
            FROM sales
            | FORK (SORT amount DESC | LIMIT 3 | KEEP id, amount)
                   (WHERE cat == "a" | KEEP id, amount)
        """)._jdf.queryExecution().executedPlan().toString()
        # branch 1's SORT|LIMIT still plans as a top-k inside the union
        assert "TakeOrderedAndProject" in plan
        assert "Union" in plan

    def test_sample_gate_precedes_aggregation(self, spark, tmp_path):
        path = str(tmp_path / "s.parquet")
        spark.range(1000).withColumn(
            "v", (F.col("id") % 5).cast("double")).write.parquet(path)
        df = spark.read.parquet(path)
        plan = esql({"t": df}, """
            FROM t | SAMPLE 0.25 id | STATS n = COUNT(*)
        """)._jdf.queryExecution().executedPlan().toString()
        # the LCG gate is a codegen Filter on the scan side of the
        # aggregation exchange — pmod arithmetic, no UDF
        assert "pmod" in plan
        assert "BatchEvalPython" not in plan
        assert "Filter" in plan.split("Exchange")[-1]  # below the agg

    def test_rule_query_plan_equals_pinned_rewrite(self, spark):
        from hive2es_offline_spark.plans.query_dsl import es_search
        from hive2es_offline_spark.plans.rules import (
            delete_query_ruleset, put_query_ruleset)

        put_query_ruleset("shape", [
            {"rule_id": "p", "type": "pinned",
             "criteria": [{"type": "always"}],
             "actions": {"ids": ["7"]}}])
        try:
            df = spark.createDataFrame(
                [(str(i), "dogs" if i % 2 else "cats")
                 for i in range(10)], "id string, t string")
            body_rule = {"query": {"rule": {
                "organic": {"match": {"t": "dogs"}},
                "ruleset_ids": ["shape"],
                "match_criteria": {"q": "x"}}},
                "_source": ["id"], "size": 10}
            body_pinned = {"query": {"pinned": {
                "ids": ["7"], "organic": {"match": {"t": "dogs"}}}},
                "_source": ["id"], "size": 10}
            p1 = es_search(df, body_rule, id_field="id") \
                ._jdf.queryExecution().executedPlan().toString()
            p2 = es_search(df, body_pinned, id_field="id") \
                ._jdf.queryExecution().executedPlan().toString()
            # the rewrite happens before compilation: byte-identical
            # physical plans, zero added nodes
            assert p1 == p2
        finally:
            delete_query_ruleset("shape")

    def test_max_sim_stays_codegen(self, spark):
        from hive2es_offline_spark.plans.scoring import es_scored_search

        df = spark.createDataFrame(
            [(1, [[1.0, 0.0]])], "id long, rv array<array<double>>")
        plan = es_scored_search(df, {
            "query": {"max_sim": {"field": "rv",
                                  "query_vectors": [[1.0, 2.0]]}},
            "sort": [{"id": "asc"}], "_source": ["id"], "size": 5},
            id_field="id")._jdf.queryExecution() \
            .executedPlan().toString()
        assert "BatchEvalPython" not in plan
        assert "Exchange" not in plan.split("TakeOrderedAndProject")[-1]


class TestRound14ReviewFixes:
    """Regression pins for the round-14 code-review findings."""

    def test_to_datetime_numeric_is_millis(self, spark):
        df = spark.createDataFrame([(1, 1700000000000)],
                                   "id long, ms long")
        r = esql({"t": df}, """
            FROM t | EVAL ts = TO_DATETIME(ms),
                        s = TO_DATETIME("2023-11-14 22:13:20")
            | LIMIT 1
        """).first()
        assert r["ts"] == r["s"]             # millis, not seconds

    def test_mv_sort_desc(self, spark):
        df = spark.createDataFrame([(1, [3, 1, 2])],
                                   "id long, v array<int>")
        r = esql({"t": df}, """
            FROM t | EVAL d = MV_SORT(v, "DESC"), a = MV_SORT(v)
            | LIMIT 1
        """).first()
        assert r["d"] == [3, 2, 1] and r["a"] == [1, 2, 3]
        with pytest.raises(ValueError, match="MV_SORT order"):
            esql({"t": df}, 'FROM t | EVAL x = MV_SORT(v, "UP")')

    def test_fn_arity_rejects(self, catalog):
        with pytest.raises(ValueError, match="argument"):
            esql(catalog, "FROM sales | EVAL x = MV_FIRST(tags, id)")
        with pytest.raises(ValueError, match="argument"):
            esql(catalog, "FROM sales | EVAL x = ABS(id, id)")
        with pytest.raises(ValueError, match="argument"):
            esql(catalog, "FROM sales | STATS m = MAX(amount, id)")

    def test_right_propagates_null(self, spark):
        df = spark.createDataFrame([(1, None), (2, "abc")],
                                   "id long, s string")
        rows = {r["id"]: r for r in esql({"t": df}, """
            FROM t | EVAL z = RIGHT(s, 0), r = RIGHT(s, 2)
        """).collect()}
        assert rows[1]["z"] is None and rows[1]["r"] is None
        assert rows[2]["z"] == "" and rows[2]["r"] == "bc"

    def test_from_missing_comma_rejects(self, catalog):
        with pytest.raises(ValueError, match="expected ','"):
            esql(catalog, "FROM sales extra | LIMIT 1")
        with pytest.raises(ValueError, match="METADATA needs"):
            esql(catalog, "FROM sales METADATA | LIMIT 1")

    def test_sample_matches_random_sampler(self, spark):
        from hive2es_offline_spark.plans.query_dsl import es_search

        df = spark.range(2000).toDF("doc_id") \
            .withColumn("v", (F.col("doc_id") % 9).cast("double"))
        a = esql({"t": df},
                 "FROM t | SAMPLE 0.3 doc_id | STATS n = COUNT(*)"
                 ).first()["n"]
        agg = es_search(df, {"size": 0, "aggs": {"s": {
            "random_sampler": {"probability": 0.3, "field": "doc_id"},
            "aggs": {"c": {"value_count": {"field": "v"}}}}}},
            id_field="doc_id").first()
        # random_sampler scales counts by 1/p — undo to compare the
        # RAW selected-row count with SAMPLE's
        assert a == round(agg["c"] * 0.3)

    def test_change_point_duplicate_keys_reject(self, spark):
        df = spark.createDataFrame(
            [(i % 5, float(i)) for i in range(20)],
            "k long, v double")
        with pytest.raises(Exception, match="duplicate key"):
            esql({"t": df},
                 "FROM t | CHANGE_POINT v ON k").collect()


class TestTimeSeries:
    """ES|QL TS command (9.x time series): two-stage OUTER(INNER(col))
    aggregation over declared dimensions — RATE with counter-reset
    compensation over the observed span, the *_OVER_TIME family, and
    the loud-reject contract for everything the flat catalog cannot
    honestly express."""

    SPEC = {"metrics": {"dimensions": ["host"], "timestamp": "ts"}}

    def _metrics(self, spark):
        import datetime as dt

        base = dt.datetime(2024, 1, 1)
        data = {
            # (offset_s, counter, gauge) — counter resets at 90s
            "a": [(0, 0.0, 10.0), (30, 5.0, 12.0), (60, 8.0, 11.0),
                  (90, 2.0, 15.0), (120, 4.0, 13.0)],
            "b": [(0, 100.0, 1.0), (60, 160.0, 2.0), (120, 220.0, 3.0)],
        }
        rows = [(h, base + dt.timedelta(seconds=o), c, g)
                for h, ss in data.items() for o, c, g in ss]
        return spark.createDataFrame(
            rows, "host string, ts timestamp, requests double, load double")

    def _run(self, spark, q):
        return esql({"metrics": self._metrics(spark)}, q,
                    ts_specs=self.SPEC)

    def test_rate_and_over_time_by_bucket(self, spark):
        rows = self._run(spark, '''
            TS metrics
            | STATS r = SUM(RATE(requests)),
                    mx = MAX(MAX_OVER_TIME(load)),
                    lg = AVG(LAST_OVER_TIME(load)),
                    n = COUNT(COUNT_OVER_TIME(load))
              BY b = BUCKET(ts, 1 minute)
            | SORT b ASC
        ''').collect()
        got = [(r["r"], r["mx"], r["lg"], r["n"]) for r in rows]
        # bucket 0: host a incr 5 over 30 s = 1/6 (6dp decimal route);
        # host b single sample -> NULL rate, skipped by SUM
        # bucket 1: host a 8->2 is a reset -> incr = 2 over 30 s
        # bucket 2: both hosts single-sample -> SUM of no rates = NULL
        assert got == [(0.166667, 12.0, 6.5, 2),
                       (0.066667, 15.0, 8.5, 2),
                       (None, 13.0, 8.0, 2)]

    def test_first_min_sum_avg_over_time(self, spark):
        rows = self._run(spark, '''
            TS metrics
            | STATS f = MIN(FIRST_OVER_TIME(load)),
                    mn = MIN(MIN_OVER_TIME(load)),
                    s = SUM(SUM_OVER_TIME(load)),
                    av = AVG(AVG_OVER_TIME(load))
              BY b = BUCKET(ts, 1 minute)
            | SORT b ASC
        ''').collect()
        got = [(r["f"], r["mn"], r["s"], r["av"]) for r in rows]
        # bucket 0: a first/min 10, sum 22, avg 11; b 1/1/1/1
        assert got[0] == (1.0, 1.0, 23.0, 6.0)
        # bucket 1: a first 11 min 11 sum 26 avg 13; b 2
        assert got[1] == (2.0, 2.0, 28.0, 7.5)

    def test_dimension_as_by_key(self, spark):
        rows = self._run(spark, '''
            TS metrics
            | STATS mx = MAX(MAX_OVER_TIME(load)) BY host
            | SORT host ASC
        ''').collect()
        assert [(r["host"], r["mx"]) for r in rows] == \
            [("a", 15.0), ("b", 3.0)]

    def test_whole_series_rate_no_bucket(self, spark):
        rows = self._run(spark, '''
            TS metrics | STATS r = SUM(RATE(requests))
        ''').collect()
        # a: incr 5+3+2+2 = 12 over 120 s = 0.1; b: 120 over 120 s = 1
        assert rows[0]["r"] == 1.1

    def test_where_before_stats_filters_raw_rows(self, spark):
        rows = self._run(spark, '''
            TS metrics
            | WHERE host == "b"
            | STATS r = SUM(RATE(requests))
        ''').collect()
        assert rows[0]["r"] == 1.0

    def test_stats_after_ts_stats_is_plain(self, spark):
        rows = self._run(spark, '''
            TS metrics
            | STATS mx = MAX(MAX_OVER_TIME(load)) BY host
            | STATS total = SUM(mx)
        ''').collect()
        assert rows[0]["total"] == 18.0

    def test_plan_single_wide_shuffle(self, spark):
        plan = self._run(spark, '''
            TS metrics
            | STATS r = SUM(RATE(requests)) BY b = BUCKET(ts, 1 minute)
        ''')._jdf.queryExecution().executedPlan().toString()
        # the window and the stage-1 groupBy share one hash
        # partitioning over (dims, bucket); stage 2 re-shuffles only
        # the per-series-bucket rows
        assert plan.count("Exchange") <= 3
        assert "Window" in plan

    def test_rejects(self, spark):
        m = {"metrics": self._metrics(spark),
             "other": self._metrics(spark)}
        spec = self.SPEC

        def run(q, **kw):
            return esql(m, q, **kw)

        with pytest.raises(ValueError, match="exactly one index"):
            run("TS metrics, other | LIMIT 1", ts_specs=spec)
        with pytest.raises(ValueError, match="time-series spec"):
            run("TS metrics | LIMIT 1")
        with pytest.raises(ValueError, match="OUTER"):
            run("TS metrics | STATS r = RATE(requests)", ts_specs=spec)
        with pytest.raises(ValueError, match="over-time"):
            run("TS metrics | STATS r = SUM(requests)", ts_specs=spec)
        with pytest.raises(ValueError, match="per-aggregate WHERE"):
            run('TS metrics | STATS r = SUM(RATE(requests)) WHERE host == "a"',
                ts_specs=spec)
        with pytest.raises(ValueError, match="unsupported function"):
            # over-time functions only exist inside TS STATS
            run("FROM metrics | STATS r = SUM(RATE(requests))",
                ts_specs=spec)
        with pytest.raises(ValueError, match="collides"):
            run("TS metrics | STATS host = SUM(RATE(requests))",
                ts_specs=spec)
        with pytest.raises(ValueError, match="not on"):
            run("TS metrics | LIMIT 1",
                ts_specs={"metrics": {"dimensions": ["nope"],
                                      "timestamp": "ts"}})
        with pytest.raises(ValueError, match="unsupported ts_specs"):
            run("TS metrics | LIMIT 1",
                ts_specs={"metrics": {"dimensions": ["host"],
                                      "timestamp": "ts", "x": 1}})


class TestBridgeNesting:
    """Full-text, geo-relation, KNN and CATEGORIZE calls compile through
    other modules' Column builders ("bridges"); nested under another
    operator they must still resolve in every stage, and no hidden
    helper column may leak into the result frame."""

    POLY = "POLYGON((-1 -1, 11 -1, 11 11, -1 11, -1 -1))"

    @pytest.fixture(scope="class")
    def frame(self, spark):
        return spark.createDataFrame(
            [(1, 0.0, 0.0, "Connected to 10.1.0.1", "quick brown fox",
              [1.0, 0.0]),
             (2, 10.0, 10.0, "Connected to 10.1.0.2", "lazy dog",
              [0.0, 1.0]),
             (3, 50.0, 50.0, "Connection error at 10.1.0.3", "quick silver",
              [1.0, 1.0]),
             (4, -20.0, 30.0, "Connection error at 10.1.0.9", "nothing here",
              [2.0, 0.1]),
             (5, 1.0, 1.0, "12345", "quick", [0.5, 0.5])],
            "id long, lat double, lon double, msg string, txt string, "
            "emb array<double>").select(
            "id", F.struct("lat", "lon").alias("loc"), "msg", "txt", "emb")

    DIST = [(1, 0.0), (2, 1568522.7), (3, 7293897.1), (4, 3950911.0),
            (5, 157249.6)]

    @pytest.mark.parametrize("query, want", [
        ('FROM t | EVAL d = ROUND(ST_DISTANCE(loc, '
         'TO_GEOPOINT("POINT(0 0)")), 1) | KEEP id, d | SORT id ASC',
         DIST),
        (f'FROM t | EVAL w = CASE(ST_WITHIN(loc, TO_GEOSHAPE("{POLY}")), '
         '1, 0) | KEEP id, w | SORT id ASC',
         [(1, 1), (2, 1), (3, 0), (4, 0), (5, 1)]),
        ('FROM t | STATS a = AVG(ST_DISTANCE(loc, TO_GEOPOINT("POINT(0 0)")))'
         ' BY c = CATEGORIZE(msg) | SORT c ASC',
         [("connected to", 784261.358147),
          ("connection error at", 5622404.098156),
          (None, 157249.597769)]),
        ('FROM t | SORT ST_DISTANCE(loc, TO_GEOPOINT("POINT(10 10)")) ASC, '
         'id ASC | KEEP id',
         [(2,), (5,), (1,), (4,), (3,)]),
        ('FROM t | WHERE NOT MATCH(txt, "quick") OR id > 4 | KEEP id '
         '| SORT id ASC',
         [(2,), (4,), (5,)]),
        ('FROM t METADATA _score | WHERE KNN(emb, [1.0, 0.0], 3) '
         'AND id <= 3 | KEEP id, _score | SORT _score DESC, id ASC',
         [(1, 1.0), (3, 0.707107)]),
        ('FROM t | EVAL p = loc, d = ROUND(ST_DISTANCE(p, '
         'TO_GEOPOINT("POINT(0 0)")), 1) | KEEP id, d | SORT id ASC',
         DIST),
    ], ids=["eval-round-distance", "eval-case-within",
            "stats-avg-distance-by-categorize", "sort-distance",
            "where-not-match-or", "where-knn-and-score",
            "eval-earlier-assignment"])
    def test_nested_bridge_rows(self, frame, query, want):
        df = esql({"t": frame}, query)
        assert not any("\x00" in c for c in df.columns)
        assert [tuple(r) for r in df.collect()] == want
