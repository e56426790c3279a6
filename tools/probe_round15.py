#!/usr/bin/env python3
"""Round-15 scale probes (1M-row, local[32]) — bound each new surface
against its plain-query floor, the per-round discipline SCALE.md
records.

Probes:
  1. ES|QL WHERE MATCH()/QSTR() at 1M docs vs the equivalent DSL match
     through es_search (the bridge compiles to the SAME predicate — the
     ratio must be ~1.0x, proving the grammar adds no plan weight)
  2. ES|QL spatial filter (ST_WITHIN ray-cast + ST_DISTANCE haversine)
     at 1M points vs the DSL geo_polygon + geo_distance bool (same
     relation/trig machinery — ~1.0x)
  3. ES|QL TO_IP guarded parse at 1M rows: the malformed-raise guard
     (rlike + forall) vs the bare ip_to_long_spark parse, and the 4x
     evaluation shape of the benched golden vs an EVAL-once pipeline
  4. text_similarity_reranker at 1M docs: the rerank adds a broadcast
     semi-join + codegen sigmoid over a 100-row window on top of its
     BM25 child — the delta must be window-sized, not corpus-sized
  5. video_dedup alignment="set" vs "slot" on the 60-video fixture
     (same bucketed join, one less key — pair counts identical here)
"""
from __future__ import annotations

import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pyspark.sql import functions as F  # noqa: E402

from hive2es_offline_spark.session import get_spark  # noqa: E402


def t(fn, runs=2):
    fn()  # warm
    best = 1e9
    for _ in range(runs):
        t0 = time.perf_counter()
        fn()
        best = min(best, time.perf_counter() - t0)
    return best


def main():
    spark = get_spark("probe-r15")
    from hive2es_offline_spark.plans.esql import esql
    from hive2es_offline_spark.plans.query_dsl import es_search
    from hive2es_offline_spark.plans.scoring import es_retriever_search

    n = 1_000_000
    words = ("merge stream run data quality reads scan write batch "
             "index shard node vector").split()

    def text_col(vocab):
        return F.concat_ws(" ", *[
            F.element_at(F.lit(vocab),
                         ((F.col("id") * (i + 3)) % len(vocab) + 1)
                         .cast("int"))
            for i in range(8)])

    docs = (spark.range(n).select(
        F.col("id").alias("doc_id"), text_col(words).alias("text"))
        .localCheckpoint())

    # 1. ES|QL MATCH/QSTR vs the DSL match it bridges to
    esql_match = t(lambda: esql({"d": docs}, '''
        FROM d | WHERE MATCH(text, "merge stream") OR QSTR("text:vector")
        | STATS n = COUNT(*)
    ''').collect())
    dsl_match = t(lambda: es_search(docs, {"size": 0, "query": {
        "bool": {"should": [
            {"match": {"text": "merge stream"}},
            {"match": {"text": "vector"}}], "minimum_should_match": 1}},
        "aggs": {"n": {"value_count": {"field": "doc_id"}}}},
        id_field="doc_id").collect())
    print(f"1. esql MATCH|QSTR 1M: {esql_match:.2f}s vs DSL bool/match "
          f"{dsl_match:.2f}s  ratio {esql_match / dsl_match:.2f}x")

    pts = (spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.struct(((F.col("id") % 160) - 80 + 0.5).cast("double")
                 .alias("lat"),
                 ((F.col("id") * 7 % 360) - 180 + 0.5).cast("double")
                 .alias("lon")).alias("loc"))
        .localCheckpoint())
    poly = "POLYGON((-60 -40, -20 50, 60 60, 40 -30, -60 -40))"
    esql_sp = t(lambda: esql({"p": pts}, f'''
        FROM p | WHERE ST_WITHIN(loc, TO_GEOSHAPE("{poly}"))
                 AND ST_DISTANCE(loc, TO_GEOPOINT("POINT(20.5 10.5)"))
                     < 3000000
        | STATS n = COUNT(*)
    ''').collect())
    dsl_sp = t(lambda: es_search(pts, {"size": 0, "query": {"bool": {
        "filter": [
            {"geo_polygon": {"loc": {"points": [
                {"lat": -40.0, "lon": -60.0}, {"lat": 50.0, "lon": -20.0},
                {"lat": 60.0, "lon": 60.0}, {"lat": -30.0, "lon": 40.0}]}}},
            {"geo_distance": {"distance": "3000km",
                              "loc": {"lat": 10.5, "lon": 20.5}}}]}},
        "aggs": {"n": {"value_count": {"field": "doc_id"}}}},
        id_field="doc_id").collect())
    print(f"2. esql ST_WITHIN+ST_DISTANCE 1M: {esql_sp:.2f}s vs DSL "
          f"geo bool {dsl_sp:.2f}s  ratio {esql_sp / dsl_sp:.2f}x")

    # 3. TO_IP guard cost and evaluation-count shape
    from hive2es_offline_spark.functions.ip import ip_to_long_spark

    ips = (spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.concat_ws(".",
                    (F.lit(10) + F.col("id") % 5).cast("string"),
                    ((F.col("id") * 7) % 256).cast("string"),
                    ((F.col("id") * 13) % 256).cast("string"),
                    (F.col("id") % 256).cast("string")).alias("ip"))
        .localCheckpoint())
    bare = t(lambda: ips.select(F.expr(ip_to_long_spark("ip")).alias("v"))
             .agg(F.sum("v")).collect())
    guarded = t(lambda: esql({"l": ips}, '''
        FROM l | EVAL v = TO_IP(ip) | STATS s = SUM(v)
    ''').collect())
    four_x = t(lambda: esql({"l": ips}, '''
        FROM l
        | WHERE TO_IP(ip) >= TO_IP("11.0.0.0")
                AND TO_IP(ip) < TO_IP("14.0.0.0")
        | EVAL v = TO_IP(ip), net = FLOOR(TO_IP(ip) / 16777216)
        | STATS n = COUNT(*) BY net
    ''').collect())
    once = t(lambda: esql({"l": ips}, '''
        FROM l
        | EVAL v = TO_IP(ip)
        | WHERE v >= 184549376 AND v < 234881024
        | EVAL net = FLOOR(v / 16777216)
        | STATS n = COUNT(*) BY net
    ''').collect())
    print(f"3. TO_IP 1M: bare parse {bare:.2f}s, guarded {guarded:.2f}s "
          f"({guarded / bare:.2f}x), golden 4x-eval shape {four_x:.2f}s "
          f"vs EVAL-once {once:.2f}s ({four_x / once:.2f}x)")

    # 4. reranker delta over its BM25 child
    child = {"retriever": {"standard": {
        "query": {"match": {"text": "merge stream"}}}}, "size": 100}
    base = t(lambda: es_retriever_search(
        docs, child, id_field="doc_id").collect())
    rerank = t(lambda: es_retriever_search(
        docs, {"retriever": {"text_similarity_reranker": {
            "retriever": {"standard": {
                "query": {"match": {"text": "merge stream"}}}},
            "field": "text", "inference_id": "m",
            "inference_text": "merge stream vector",
            "rank_window_size": 100}}, "size": 100},
        id_field="doc_id",
        rerank_models={"m": {"weights": {"merge": 0.8},
                             "default_weight": 0.5,
                             "bias": -1.0}}).collect())
    print(f"4. reranker 1M docs, 100-row window: child {base:.2f}s, "
          f"+rerank {rerank:.2f}s  delta {rerank - base:+.2f}s")

    # 5. set vs slot alignment on the video fixture
    import numpy as np

    from hive2es_offline_spark.operators import video
    from hive2es_offline_spark.operators.dedup import video_dedup

    rng = np.random.default_rng(7)

    def frame(seed):
        g = (rng.integers(0, 256, (32, 48), dtype=np.uint8)
             if seed is None else
             np.full((32, 48), seed % 256, dtype=np.uint8))
        return np.stack([g, g, g], axis=2)

    vids = spark.createDataFrame(
        [(i, video.encode_avi_mjpeg(
            [frame(i), frame(i + 1), frame(i + 2), frame(i + 3)], fps=5))
         for i in range(60)],
        "doc_id long, payload binary").localCheckpoint()
    slot = t(lambda: video_dedup(vids, num_frames=4).collect(), runs=1)
    sets = t(lambda: video_dedup(vids, num_frames=4,
                                 alignment="set").collect(), runs=1)
    print(f"5. video_dedup 60 vids: slot {slot:.2f}s, set {sets:.2f}s  "
          f"ratio {sets / slot:.2f}x")

    spark.stop()


if __name__ == "__main__":
    main()
