"""IPv4/CIDR query surface (functions/ip.py + query_dsl hooks) —
VERDICT r10 #5."""

import pytest
from pyspark.sql import functions as F

from hive2es_offline_spark.functions.ip import (
    cidr_bounds,
    ip_from_long_spark,
    ip_from_long_sql,
    ip_literal_value,
    ip_to_long_spark,
    ip_to_long_sql,
    is_cidr_literal,
    is_ip_literal,
)
from hive2es_offline_spark.plans.query_dsl import compile_query, es_search


def test_literal_parsing():
    assert ip_literal_value("0.0.0.0") == 0
    assert ip_literal_value("255.255.255.255") == 0xFFFFFFFF
    assert ip_literal_value("192.168.1.10") == (192 << 24) | (168 << 16) | (1 << 8) | 10
    assert cidr_bounds("10.0.0.0/8") == (10 << 24, (11 << 24) - 1)
    assert cidr_bounds("192.168.1.128/25") == (ip_literal_value("192.168.1.128"),
                                               ip_literal_value("192.168.1.255"))
    # /0 is everything, /32 a single host
    assert cidr_bounds("1.2.3.4/32") == (ip_literal_value("1.2.3.4"),) * 2
    assert cidr_bounds("9.9.9.9/0") == (0, 0xFFFFFFFF)
    # non-aligned base: the mask zeroes host bits (10.0.0.77/24 -> .0-.255)
    assert cidr_bounds("10.0.0.77/24") == (ip_literal_value("10.0.0.0"),
                                           ip_literal_value("10.0.0.255"))
    with pytest.raises(ValueError, match="IPv6"):
        ip_literal_value("::1")
    with pytest.raises(ValueError, match="valid IPv4"):
        ip_literal_value("1.2.3.999")
    with pytest.raises(ValueError, match="prefix length"):
        cidr_bounds("1.2.3.4/33")
    assert is_ip_literal("9.8.7.6") and not is_ip_literal("9.8.7")
    assert is_cidr_literal("9.8.7.0/24") and not is_cidr_literal("9.8.7.6")


@pytest.fixture()
def logs(spark):
    return spark.createDataFrame(
        [(1, "10.0.0.5"), (2, "10.0.1.200"), (3, "9.255.255.255"),
         (4, "192.168.1.10"), (5, "192.168.2.10"), (6, "11.0.0.0"),
         (7, "not an ip"), (8, None), (9, "1.2.3.4.5")],
        "id long, ip string")


def ids(df, q):
    return [r["id"] for r in
            df.where(F.coalesce(compile_query(q, "id"), F.lit(False)))
            .orderBy("id").collect()]


def test_ip_to_long_column(logs):
    vals = {r["id"]: r["v"] for r in logs.select(
        "id", F.expr(ip_to_long_spark("ip")).alias("v")).collect()}
    assert vals[1] == ip_literal_value("10.0.0.5")
    assert vals[7] is None and vals[8] is None
    # a 5-part value must not silently parse its first 4 octets
    assert vals[9] is None


#: values that are not dotted quads of octets <= 255: each must parse
#: to NULL in both renderers
NOT_IPS = ["10.0.0.300", "10.+1.0.5", "256.0.0.0", "1e1.0.0.5",
           "10.0.0.0x1", "1.2.3.4\n", "-1.0.0.1", " 1.2.3.4"]


def _duck_and_spark(spark, rows, schema, duck_sql, spark_sql):
    """{id: value} of ``duck_sql`` in DuckDB and ``spark_sql`` in Spark,
    both over the column ``v`` of ``rows``."""
    import duckdb

    con = duckdb.connect()
    con.execute(f"CREATE TABLE t (id BIGINT, v {schema[1]})")
    con.executemany("INSERT INTO t VALUES (?, ?)", rows)
    duck = dict(con.sql(f"SELECT id, {duck_sql} FROM t").fetchall())
    df = spark.createDataFrame(rows, f"id long, v {schema[0]}")
    return duck, {r["id"]: r["x"] for r in df.select(
        "id", F.expr(spark_sql).alias("x")).collect()}


def test_ip_to_long_sql_twin(spark, logs):
    rows = [(r["id"], r["ip"]) for r in logs.collect()]
    rows += [(100 + i, v) for i, v in enumerate(NOT_IPS)]
    duck, spark_vals = _duck_and_spark(
        spark, rows, ("string", "VARCHAR"),
        ip_to_long_sql("v"), ip_to_long_spark("v"))
    assert duck == spark_vals
    assert all(spark_vals[100 + i] is None for i in range(len(NOT_IPS)))
    assert not any(is_ip_literal(v) for v in NOT_IPS)


def test_ip_from_long_sql_twin(spark):
    rows = [(1, 0), (2, 1), (3, 2**32 - 1), (4, None)]
    duck, spark_vals = _duck_and_spark(
        spark, rows, ("long", "BIGINT"),
        ip_from_long_sql("v"), ip_from_long_spark("v"))
    assert duck == spark_vals == {
        1: "0.0.0.0", 2: "0.0.0.1", 3: "255.255.255.255", 4: None}


@pytest.fixture()
def bad_octets(spark):
    return spark.createDataFrame(
        [(1, "10.0.0.5"), (2, "10.0.0.300"), (3, "10.+1.0.5"),
         (4, "10.0.1.7"), (5, None)],
        "id long, ip string")


def test_term_cidr_skips_bad_octets(bad_octets):
    assert ids(bad_octets, {"term": {"ip": "10.0.0.0/8"}}) == [1, 4]


def test_cidr_match_skips_bad_octets(bad_octets):
    from hive2es_offline_spark.plans.esql import esql

    rows = esql({"t": bad_octets}, '''
        FROM t | WHERE CIDR_MATCH(ip, "10.0.0.0/8") | KEEP id | SORT id
    ''').collect()
    assert [r["id"] for r in rows] == [1, 4]


def test_ip_range_skips_bad_octets(bad_octets):
    body = {"size": 0, "aggs": {"r": {"ip_range": {
        "field": "ip", "ranges": [{"from": "10.0.0.0", "to": "10.0.2.0"}]}}}}
    rows = es_search(bad_octets, body, id_field="id").collect()
    assert [r["doc_count"] for r in rows] == [2]


def test_ip_prefix_of_null_ip_is_null(spark):
    from hive2es_offline_spark.plans.esql import esql

    df = spark.createDataFrame([(1, "10.1.2.3"), (2, None)],
                               "id long, ip string")
    rows = esql({"t": df}, '''
        FROM t | EVAL net = IP_PREFIX(ip, 24, 0) | KEEP id, net | SORT id
    ''').collect()
    assert [r["net"] for r in rows] == ["10.1.2.0", None]


def test_term_cidr_and_terms_mixed(logs):
    # term with a CIDR block = block membership
    assert ids(logs, {"term": {"ip": "10.0.0.0/8"}}) == [1, 2]
    assert ids(logs, {"term": {"ip": "192.168.1.0/24"}}) == [4]
    # plain term stays exact string equality
    assert ids(logs, {"term": {"ip": "11.0.0.0"}}) == [6]
    # terms: blocks OR plain values
    assert ids(logs, {"terms": {"ip": [
        "192.168.0.0/16", "9.255.255.255"]}}) == [3, 4, 5]


def test_ip_semantics_inside_nested_scope(spark):
    # a nested clause resolves its fields onto the exists() lambda
    # element, which SQL text cannot name — the ip parse still applies
    df = spark.createDataFrame(
        [(1, [("10.0.0.5",), ("192.168.1.1",)]), (2, [("9.255.255.255",)]),
         (3, [("not an ip",)]), (4, None)],
        "id long, hits array<struct<ip:string>>")

    def nested(q):
        return ids(df, {"nested": {"path": "hits", "query": q}})

    assert nested({"term": {"hits.ip": "10.0.0.0/8"}}) == [1]
    assert nested({"terms": {"hits.ip": ["192.168.0.0/16", "x"]}}) == [1]
    assert nested({"range": {"hits.ip": {
        "gte": "9.0.0.0", "lt": "10.0.0.0", "ip": True}}}) == [2]


def test_range_ip_is_numeric_not_lexicographic(logs):
    # lexicographically "9.255..." > "10.0..."; numerically it is below
    assert ids(logs, {"range": {"ip": {
        "gte": "10.0.0.0", "lt": "11.0.0.0"}}}) == [1, 2]
    assert ids(logs, {"range": {"ip": {"lt": "10.0.0.0"}}}) == [3]
    # non-ip string bounds keep plain string-compare semantics
    assert ids(logs, {"range": {"ip": {"gte": "not"}}}) == [7]


def test_ip_range_aggregation(logs):
    body = {"size": 0, "aggs": {"blocks": {"ip_range": {
        "field": "ip",
        "ranges": [
            {"to": "10.0.0.0", "key": "below"},
            {"from": "10.0.0.0", "to": "11.0.0.1"},     # default key
            {"mask": "192.168.0.0/16"},                 # key = the mask
        ]}}}}
    rows = {r["key"]: r["doc_count"]
            for r in es_search(logs, body, id_field="id").collect()}
    assert rows == {"below": 1, "10.0.0.0-11.0.0.1": 3,
                    "192.168.0.0/16": 2}


def test_loose_shapes_fall_back_to_string_semantics(logs):
    # code-review r11: "300.1.1.1" passes the \d{1,3} shape but is not a
    # valid IP — it must fall back to plain string compare, not raise
    assert is_ip_literal("300.1.1.1") is False
    assert is_cidr_literal("300.1.1.1/8") is False
    assert is_cidr_literal("1.2.3.4/40") is False
    # range with a loose bound -> lexicographic string semantics
    # ('9.255...' and 'not an ip' sort above '300.1.1.1' as strings)
    assert ids(logs, {"range": {"ip": {"gte": "300.1.1.1"}}}) == [3, 7]


def test_cidr_term_still_matches_literal_cidr_strings(spark):
    # mapping-blind hedge: a keyword field STORING CIDR strings still
    # finds its exact value (code-review r11: block-only compile
    # returned zero rows for such data)
    df = spark.createDataFrame(
        [(1, "10.0.0.0/8"), (2, "10.1.2.3"), (3, "11.0.0.0")],
        "id long, subnet string")
    assert ids(df, {"term": {"subnet": "10.0.0.0/8"}}) == [1, 2]
    assert ids(df, {"terms": {"subnet": ["10.0.0.0/8"]}}) == [1, 2]


def test_cidr_prefix_out_of_range_rejects_loudly():
    # VERDICT r11 #10: the whole /33-/99 two-digit span must raise at
    # cidr_bounds (the regex admits two digits; the range check rejects)
    for n in (33, 40, 64, 99):
        with pytest.raises(ValueError, match="prefix length"):
            cidr_bounds(f"1.2.3.4/{n}")


def test_cidr_hedge_flag_disables_range_arm(spark):
    # (ADVICE r11) the term/terms CIDR hedge over-matches on keyword
    # fields holding dotted-quad strings; the per-term `"cidr": false`
    # key compiles exact equality only
    df = spark.createDataFrame(
        [(1, "10.0.0.0/8"), (2, "10.1.2.3"), (3, "11.0.0.0")],
        "id long, subnet string")
    # per-term key: only the literal string matches
    assert ids(df, {"term": {"subnet": {
        "value": "10.0.0.0/8", "cidr": False}}}) == [1]
    # default hedge behavior is unchanged
    assert ids(df, {"term": {"subnet": "10.0.0.0/8"}}) == [1, 2]


def test_range_ip_hint_overrides_autodetect(spark, logs):
    # (ADVICE r11) ip range semantics are overridable: `"ip": false`
    # forces the plain (lexicographic on strings) compare, `"ip": true`
    # with non-ip bounds rejects, and plain auto-detection warns
    import warnings

    # lexicographic: "9.255..." sorts ABOVE "11.0.0.0" and "1.2.3.4.5"
    # sorts BELOW "10.0.0.0" as strings — both drop out
    assert ids(logs, {"range": {"ip": {
        "gte": "10.0.0.0", "lt": "11.0.0.0", "ip": False}}}) == [1, 2]
    with pytest.raises(ValueError, match="non-ip bounds"):
        ids(logs, {"range": {"ip": {"gte": "not", "ip": True}}})
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        compile_query({"range": {"ip": {"gte": "10.0.0.0"}}}, "id")
    assert any("uint32 IP comparison" in str(x.message) for x in w)
    # explicit "ip": true auto-selects silently (the caller opted in)
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        compile_query({"range": {"ip": {"gte": "10.0.0.0", "ip": True}}}, "id")
    assert not [x for x in w if "uint32" in str(x.message)]
