"""Property test: random ES bool-query trees compiled by query_dsl must
agree with a direct Python evaluator on every row of a fixed corpus.

One Spark evaluation per tree would cost ~100 ms each; instead 200
seeded-random trees compile into ONE wide select (one boolean column per
tree) evaluated in a single Spark pass — the property stays per-tree, the
Spark cost stays O(1).  The generator is a plain ``random.Random(seed)``
recursion (not hypothesis's two-phase collect) so the test is order- and
selection-independent: it can run alone, sharded, or shuffled.
"""

import fnmatch
import ipaddress
import math
import random
import re
from datetime import datetime

from pyspark.sql import functions as F

from hive2es_offline_spark.plans.query_dsl import compile_query

PARIS, LONDON = (48.8566, 2.3522), (51.5074, -0.1278)

ROWS = [
    {"id": 0, "s": "alpha", "n": 5.0, "txt": "quick brown fox",
     "ip": "10.1.2.3", "loc": PARIS, "items": [("acme", 3), ("zed", 9)],
     "ts": datetime(2023, 12, 31, 23, 45), "m": 1},
    {"id": 1, "s": "beta", "n": 15.0, "txt": "lazy dog",
     "ip": "192.168.5.5", "loc": LONDON, "items": [("acme", 9)],
     "ts": datetime(2024, 1, 1), "m": 2},
    {"id": 2, "s": "gamma", "n": 25.0, "txt": "quick red fox",
     "ip": "11.0.0.1", "loc": (40.7128, -74.006), "items": [],
     "ts": datetime(2024, 1, 1, 0, 45), "m": None},
    {"id": 3, "s": "alpha", "n": 35.0, "txt": "brown bear",
     "ip": "10.0.0.0/8", "loc": (52.52, 13.405), "items": None,
     "ts": datetime(2024, 1, 2, 6), "m": 3},
    {"id": 4, "s": "delta", "n": None, "txt": "quick", "ip": None,
     "loc": None, "items": [("zed", 1), ("acme", 5)], "ts": None, "m": 1},
    # NULL strings
    {"id": 5, "s": None, "n": 45.0, "txt": None, "ip": "not.an.ip.x",
     "loc": (48.9, 2.4), "items": [("bolt", None)],
     "ts": datetime(2024, 2, 1), "m": 0},
    # unicode
    {"id": 6, "s": "über", "n": 55.0, "txt": "Quick ÜBER fox",
     "ip": "10.255.255.255", "loc": (-33.8688, 151.2093),
     "items": [("Ünï", 2)], "ts": datetime(2024, 1, 15), "m": 2},
]
SCHEMA = ("id long, s string, n double, txt string, ip string, "
          "loc struct<lat: double, lon: double>, "
          "items array<struct<brand: string, qty: int>>, ts timestamp, m int")

STRINGS = ["alpha", "beta", "gamma", "delta", "omega"]
TOKENS = ["quick", "brown", "fox", "lazy", "dog", "bear"]
EARTH_RADIUS_M = 6371008.7714150598  # Lucene's mean earth radius
NOW = "2024-01-02T12:00:00"
#: date-math expression -> (interval start, next interval start) at NOW
DATE_MATH = {
    "now-1d/d": (datetime(2024, 1, 1), datetime(2024, 1, 2)),
    "now/M": (datetime(2024, 1, 1), datetime(2024, 2, 1)),
    "2023-12-31||+1d": (datetime(2024, 1, 1), datetime(2024, 1, 1)),
    "now-12h": (datetime(2024, 1, 2), datetime(2024, 1, 2)),
}
NESTED = [
    {"term": {"items.brand": "acme"}},
    {"range": {"items.qty": {"gte": 5}}},
    {"bool": {"must": [{"term": {"items.brand": "acme"}},
                       {"range": {"items.qty": {"gte": 5}}}]}},
    {"bool": {"must_not": [{"term": {"items.brand": "acme"}}]}},
]
SCRIPTS = ["doc['n'].value > params.t", "doc['n'].value * 2 <= params.t",
           "doc['n'].value != params.t"]


def random_leaf(rng: random.Random) -> dict:
    pick = rng.randrange(19)
    if pick == 0:
        return {"match_all": {}}
    if pick == 1:
        return {"term": {"s": rng.choice(STRINGS)}}
    if pick == 2:
        return {"terms": {"s": rng.sample(STRINGS, rng.randint(1, 3))}}
    if pick == 3:
        return {"range": {"n": {rng.choice(["gt", "gte", "lt", "lte"]):
                                rng.choice([0.0, 10.0, 20.0, 30.0, 40.0])}}}
    if pick == 4:
        return {"exists": {"field": "n"}}
    if pick == 5:
        return {"prefix": {"s": rng.choice(["al", "be", "ga", "x", "ü"])}}
    if pick == 6:
        return {"match": {"txt": rng.choice(TOKENS)}}
    if pick == 7:
        return {"ids": {"values": rng.sample(range(7), rng.randint(1, 3))}}
    if pick == 8:
        return {"wildcard": {"s": rng.choice(
            ["al*", "*ta", "b?ta", "*mm*", "ü*"])}}
    if pick == 9:
        return {"regexp": {"s": rng.choice(
            ["al.*", "(beta|gamma)", "[a-d].*a", "ü.*"])}}
    if pick == 10:
        return {"term": {"s": {"value": rng.choice(["ALPHA", "Beta", "ÜBER"]),
                               "case_insensitive": True}}}
    if pick == 11:
        if rng.random() < 0.5:
            return {"constant_score": {"filter": random_leaf(rng)}}
        return {"dis_max": {"queries": [random_leaf(rng)
                                        for _ in range(rng.randint(1, 3))]}}
    if pick == 12:
        return {"nested": {"path": "items", "query": rng.choice(NESTED)}}
    if pick == 13:
        top, bottom, left, right = rng.choice(
            [(60.0, 40.0, -10.0, 20.0), (50.0, 45.0, 0.0, 5.0)])
        return {"geo_bounding_box": {"loc": {
            "top_left": {"lat": top, "lon": left},
            "bottom_right": {"lat": bottom, "lon": right}}}}
    if pick == 14:
        lat, lon = rng.choice([PARIS, LONDON])
        return {"geo_distance": {"distance": rng.choice(
            ["10km", "500km", "1000km"]), "loc": {"lat": lat, "lon": lon}}}
    if pick == 15:
        blocks = ["10.0.0.0/8", "192.168.0.0/16", "11.0.0.1"]
        if rng.random() < 0.5:
            return {"term": {"ip": rng.choice(blocks)}}
        return {"terms": {"ip": rng.sample(blocks, rng.randint(1, 2))}}
    if pick == 16:
        return {"range": {"ts": {
            rng.choice(["gt", "gte", "lt", "lte"]): rng.choice(list(DATE_MATH)),
            "now": NOW}}}
    if pick == 17:
        need = rng.choice([
            {"minimum_should_match_script": {"source": "params.num_terms"}},
            {"minimum_should_match_script": {"source": "1"}},
            {"minimum_should_match_field": "m"}])
        return {"terms_set": {"txt": {
            "terms": rng.sample(TOKENS, rng.randint(1, 3)), **need}}}
    return {"script": {"script": {"source": rng.choice(SCRIPTS),
                                  "params": {"t": rng.choice([5, 10, 30])}}}}


def random_tree(rng: random.Random, depth: int) -> dict:
    if depth == 0 or rng.random() < 0.4:
        return random_leaf(rng)
    body = {}
    for section in ("must", "filter", "must_not", "should"):
        if rng.random() < 0.5:
            body[section] = [
                random_tree(rng, depth - 1) for _ in range(rng.randint(0, 2))
            ]
    return {"bool": body}


def haversine_m(a, b):
    dphi = math.radians(b[0] - a[0])
    dlam = math.radians(b[1] - a[1])
    h = (math.sin(dphi / 2) ** 2 + math.cos(math.radians(a[0]))
         * math.cos(math.radians(b[0])) * math.sin(dlam / 2) ** 2)
    return 2.0 * EARTH_RADIUS_M * math.asin(min(1.0, math.sqrt(h)))


def in_cidr(ip, block):
    try:
        return ipaddress.ip_address(ip) in ipaddress.ip_network(block)
    except ValueError:
        return False


def tokens(text):
    return text.lower().split() if text is not None else None


def element_eval(q, item):
    """A nested clause's inner query on one (brand, qty) element."""
    (kind, body), = q.items()
    brand, qty = item
    if kind == "term":
        return brand == body["items.brand"]
    if kind == "range":
        return qty is not None and qty >= body["items.qty"]["gte"]
    return (all(element_eval(c, item) for c in body.get("must", []))
            and not any(element_eval(c, item) for c in body.get("must_not", [])))


def py_eval(q, row):
    """Reference evaluator with ES's TWO-valued semantics: a clause over a
    missing field does not match (never SQL-NULL)."""
    (kind, body), = q.items()
    if kind == "match_all":
        return True
    if kind == "term" and "ip" in body:
        v, ip = body["ip"], row["ip"]
        return ip is not None and (ip == v or "/" in v and in_cidr(ip, v))
    if kind == "terms" and "ip" in body:
        return any(py_eval({"term": {"ip": v}}, row) for v in body["ip"])
    if kind == "term":
        spec, s = body["s"], row["s"]
        if isinstance(spec, dict):
            return s is not None and s.lower() == spec["value"].lower()
        return s == spec
    if kind == "terms":
        return row["s"] in body["s"]
    if kind == "range" and "ts" in body:
        spec = dict(body["ts"])
        spec.pop("now")
        (op, expr), = spec.items()
        ts, (start, nxt) = row["ts"], DATE_MATH[expr]
        if ts is None:
            return False
        return {"gte": ts >= start, "lt": ts < start,
                "gt": ts >= nxt if nxt != start else ts > start,
                "lte": ts < nxt if nxt != start else ts <= start}[op]
    if kind == "range":
        (op, v), = body["n"].items()
        if row["n"] is None:
            return False  # missing field: clause does not match
        return {"gt": row["n"] > v, "gte": row["n"] >= v,
                "lt": row["n"] < v, "lte": row["n"] <= v}[op]
    if kind == "exists":
        return row[body["field"]] is not None
    if kind == "prefix":
        return row["s"] is not None and row["s"].startswith(body["s"])
    if kind == "wildcard":
        return row["s"] is not None and fnmatch.fnmatchcase(row["s"], body["s"])
    if kind == "regexp":
        return row["s"] is not None and re.fullmatch(body["s"], row["s"]) is not None
    if kind == "match":
        return row["txt"] is not None and body["txt"] in tokens(row["txt"])
    if kind == "ids":
        return row["id"] in body["values"]
    if kind == "constant_score":
        return py_eval(body["filter"], row)
    if kind == "dis_max":
        return any(py_eval(c, row) for c in body["queries"])
    if kind == "nested":
        return any(element_eval(body["query"], item)
                   for item in row["items"] or [])
    if kind == "geo_bounding_box":
        box, loc = body["loc"], row["loc"]
        return loc is not None and (
            box["bottom_right"]["lat"] <= loc[0] <= box["top_left"]["lat"]
            and box["top_left"]["lon"] <= loc[1] <= box["bottom_right"]["lon"])
    if kind == "geo_distance":
        origin, loc = body["loc"], row["loc"]
        return loc is not None and haversine_m(
            loc, (origin["lat"], origin["lon"])) <= float(
                body["distance"][:-2]) * 1000.0
    if kind == "terms_set":
        spec, toks = body["txt"], tokens(row["txt"])
        if "minimum_should_match_field" in spec:
            need = row["m"]
        else:
            src = spec["minimum_should_match_script"]["source"]
            need = len(spec["terms"]) if src == "params.num_terms" else int(src)
        if toks is None or need is None:
            return False
        return sum(t in toks for t in spec["terms"]) >= need
    if kind == "script":
        script, n = body["script"], row["n"]
        t = script["params"]["t"]
        if n is None:
            return False
        return {SCRIPTS[0]: n > t, SCRIPTS[1]: n * 2 <= t,
                SCRIPTS[2]: n != t}[script["source"]]
    if kind == "bool":
        ok = all(py_eval(c, row) for c in body.get("must", []) + body.get("filter", []))
        ok = ok and not any(py_eval(c, row) for c in body.get("must_not", []))
        should = body.get("should", [])
        if should:
            msm = 0 if (body.get("must") or body.get("filter")) else 1
            if msm > 0:
                ok = ok and sum(py_eval(c, row) for c in should) >= msm
        return ok
    raise AssertionError(kind)


def test_compiled_trees_match_python_eval(spark):
    rng = random.Random(20260814)
    trees = [random_tree(rng, 2) for _ in range(200)]
    df = spark.createDataFrame(
        [tuple(r.values()) for r in ROWS], SCHEMA)
    cols = [compile_query(q, "id").alias(f"q{i}") for i, q in enumerate(trees)]
    got = df.select(F.col("id"), *cols).orderBy("id").collect()
    for i, q in enumerate(trees):
        for row_idx, r in enumerate(ROWS):
            expected = py_eval(q, r)
            # a top-level NULL filters the row exactly like False does, so
            # they are WHERE-equivalent; inside bool the compiler coalesces
            actual = bool(got[row_idx][f"q{i}"])
            assert actual == expected, (
                f"tree {q} row {r}: spark={actual} python={expected}"
            )
