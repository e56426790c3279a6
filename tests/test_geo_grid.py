"""geohash_grid / geotile_grid bucket aggregations: golden cell vectors,
NULL handling, size/order semantics, and metric sub-aggs."""

import pytest
from pyspark.sql import functions as F

from hive2es_offline_spark.plans.query_dsl import (
    compile_aggs, geohash_cell_sql, geotile_cell_sql,
)


@pytest.fixture(scope="module")
def pts(spark):
    return spark.createDataFrame(
        [
            (1, 57.64911, 10.40744, 5.0),     # wikipedia geohash vector
            (2, 52.374081, 4.912350, 7.0),    # amsterdam
            (3, 52.369219, 4.901618, 9.0),    # amsterdam (same cells)
            (4, -25.382708, -49.265506, 1.0),  # curitiba
            (5, 90.0, 180.0, 1.0),            # NE corner clamp
            (6, -90.0, -180.0, 1.0),          # SW corner clamp
            (7, None, 10.0, 1.0),             # missing lat
        ],
        "id long, lat double, lon double, v double",
    )


def test_geohash_golden_vectors(pts):
    rows = {r["id"]: r["gh"] for r in pts.select(
        "id", F.expr(geohash_cell_sql("lat", "lon", 11)).alias("gh")
    ).collect()}
    assert rows[1] == "u4pruydqqvj"
    assert rows[4] == "6gkzwgjzn82"
    assert rows[5] == "zzzzzzzzzzz"
    assert rows[6] == "00000000000"
    assert rows[7] is None  # greatest() must not swallow the NULL


def test_geotile_golden_vectors(pts):
    rows = {r["id"]: r["gt"] for r in pts.select(
        "id", F.expr(geotile_cell_sql("lat", "lon", 8)).alias("gt")
    ).collect()}
    assert rows[2] == "8/131/84"
    # poleward latitudes clamp into Web-Mercator bounds (±85.05112878,
    # ES GeoTileUtils) BEFORE the projection: the south pole lands in the
    # SOUTH edge tile (y = 2^z - 1), not y=0 — at lat=-90 exactly,
    # tan+sec underflows to 0.0 and log(0)=NULL would otherwise be
    # silently swallowed by the clamp (ADVICE r10)
    assert rows[5] == "8/255/0"
    assert rows[6] == "8/0/255"
    assert rows[7] is None


def test_geohash_grid_agg_buckets_and_metrics(pts):
    loc = pts.select(
        "id", "v", F.struct("lat", "lon").alias("loc")).withColumnRenamed(
        "id", "_id")
    out = compile_aggs(loc, {"g": {
        "geohash_grid": {"field": "loc", "precision": 4},
        "aggs": {"s": {"sum": {"field": "v"}}},
    }}).collect()
    by_key = {r["key"]: r for r in out}
    # docs 2 and 3 share the 4-char amsterdam cell; the NULL-lat doc is
    # dropped (no cell), so 5 buckets remain
    assert len(out) == 5
    assert by_key["u173"]["doc_count"] == 2
    assert by_key["u173"]["s"] == 16.0
    assert by_key["u4pr"]["doc_count"] == 1


def test_geotile_grid_size_caps_by_count_desc(pts):
    loc = pts.select("id", F.struct("lat", "lon").alias("loc"))
    out = compile_aggs(loc, {"g": {
        "geotile_grid": {"field": "loc", "precision": 8, "size": 1},
    }}).collect()
    # the only 2-doc tile wins the size=1 cut
    assert len(out) == 1
    assert out[0]["key"] == "8/131/84"
    assert out[0]["doc_count"] == 2


def test_grid_rejects_unknown_options(pts):
    loc = pts.select("id", F.struct("lat", "lon").alias("loc"))
    with pytest.raises(ValueError, match="geohash_grid option"):
        compile_aggs(loc, {"g": {"geohash_grid": {
            "field": "loc", "bounds": {}}}})
    with pytest.raises(ValueError, match="precision"):
        compile_aggs(loc, {"g": {"geohash_grid": {
            "field": "loc", "precision": 13}}}).collect()


# --- round 11: geo_polygon query + geo_distance aggregation (VERDICT #4) ----


def test_geo_polygon_square_and_concave(spark):
    from hive2es_offline_spark.plans.query_dsl import compile_query

    df = spark.createDataFrame(
        [(1, 5.0, 5.0),     # inside the square
         (2, 15.0, 5.0),    # outside (north)
         (3, -5.0, 5.0),    # outside (south)
         (4, 5.0, 15.0),    # outside (east)
         (5, 9.9, 9.9),     # inside, near corner
         (6, None, None)],  # NULL coords -> no match
        "id long, lat double, lon double",
    ).select("id", F.struct("lat", "lon").alias("loc"))
    square = {"geo_polygon": {"loc": {"points": [
        {"lat": 0.0, "lon": 0.0}, {"lat": 10.0, "lon": 0.0},
        {"lat": 10.0, "lon": 10.0}, {"lat": 0.0, "lon": 10.0},
        {"lat": 0.0, "lon": 0.0},  # explicitly closed ring de-dups
    ]}}}
    got = [r["id"] for r in df.where(compile_query(square, "id"))
           .orderBy("id").collect()]
    assert got == [1, 5]

    # concave C-shape: the notch (4..6, 2..10) is OUTSIDE
    c_shape = {"geo_polygon": {"loc": {"points": [
        {"lat": 0, "lon": 0}, {"lat": 10, "lon": 0},
        {"lat": 10, "lon": 10}, {"lat": 6, "lon": 10},
        {"lat": 6, "lon": 2}, {"lat": 4, "lon": 2},
        {"lat": 4, "lon": 10}, {"lat": 0, "lon": 10},
    ]}}}
    df2 = spark.createDataFrame(
        [(1, 5.0, 1.0),   # in the spine (west of the notch)
         (2, 5.0, 5.0),   # in the notch -> outside
         (3, 8.0, 5.0),   # upper arm
         (4, 2.0, 5.0),   # lower arm
         (5, 5.0, 11.0)], # east of everything
        "id long, lat double, lon double",
    ).select("id", F.struct("lat", "lon").alias("loc"))
    got = [r["id"] for r in df2.where(compile_query(c_shape, "id"))
           .orderBy("id").collect()]
    assert got == [1, 3, 4]


def test_geo_polygon_validation(spark):
    from hive2es_offline_spark.plans.query_dsl import compile_query

    with pytest.raises(ValueError, match="3 distinct"):
        compile_query({"geo_polygon": {"loc": {"points": [
            {"lat": 0, "lon": 0}, {"lat": 1, "lon": 1},
            {"lat": 0, "lon": 0}]}}}, "id")
    with pytest.raises(ValueError, match="degenerate"):
        compile_query({"geo_polygon": {"loc": {"points": [
            {"lat": 0, "lon": 0}, {"lat": 0, "lon": 5},
            {"lat": 0, "lon": 10}]}}}, "id")


def test_geo_distance_agg_rings(spark):
    from hive2es_offline_spark.plans.query_dsl import es_search

    # points on the equator at known longitudes: 1 degree ~ 111.19 km
    df = spark.createDataFrame(
        [(i, 0.0, float(i)) for i in range(10)],
        "id long, lat double, lon double",
    ).select("id", F.struct("lat", "lon").alias("loc"))
    body = {"size": 0, "aggs": {"rings": {"geo_distance": {
        "field": "loc", "origin": {"lat": 0.0, "lon": 0.0}, "unit": "km",
        "ranges": [
            {"to": 200, "key": "near"},            # lon 0, 1 (~0, ~111)
            {"from": 200, "to": 500, "key": "mid"}, # lon 2..4 (~222..445)
            {"from": 100, "key": "far_overlap"},    # lon 1..9: 9 (overlaps!)
        ]}}}}
    rows = {r["key"]: r["doc_count"]
            for r in es_search(df, body, id_field="id").collect()}
    assert rows == {"near": 2, "mid": 3, "far_overlap": 9}

    # string origin + default keys + unsupported unit rejection
    body2 = {"size": 0, "aggs": {"rings": {"geo_distance": {
        "field": "loc", "origin": "0.0, 0.0",
        "ranges": [{"to": 200000}]}}}}
    rows2 = es_search(df, body2, id_field="id").collect()
    assert rows2[0]["key"] == "*-200000" and rows2[0]["doc_count"] == 2
    with pytest.raises(ValueError, match="unit"):
        es_search(df, {"size": 0, "aggs": {"r": {"geo_distance": {
            "field": "loc", "origin": "0,0", "unit": "ft",
            "ranges": [{"to": 1}]}}}}, id_field="id").collect()


class TestGeoShape:
    """geo_shape query over point fields (VERDICT r11 #3): GeoJSON
    shapes ([lon, lat] order), holes, multipolygon, four relations."""

    @pytest.fixture()
    def pts(self, spark):
        rows = [
            (1, 1.0, 1.0),    # inside outer ring, outside the hole
            (2, 2.5, 2.5),    # inside the hole
            (3, 9.0, 9.0),    # outside everything
            (4, None, 2.0),   # NULL lat
            (5, 5.0, 5.0),    # inside the second polygon only
        ]
        return spark.createDataFrame(
            [(i, {"lat": a, "lon": b}) for i, a, b in rows],
            "id long, pt struct<lat:double,lon:double>")

    POLY = {"type": "polygon", "coordinates": [
        [[0, 0], [4, 0], [4, 4], [0, 4], [0, 0]],
        [[2, 2], [3, 2], [3, 3], [2, 3], [2, 2]],      # hole
    ]}
    MULTI = {"type": "multipolygon", "coordinates": [
        POLY["coordinates"],
        [[[4.5, 4.5], [6, 4.5], [6, 6], [4.5, 6], [4.5, 4.5]]],
    ]}

    def ids(self, df, q):
        from pyspark.sql import functions as F

        from hive2es_offline_spark.plans.query_dsl import compile_query

        return [r["id"] for r in df.where(
            F.coalesce(compile_query(q, "id"), F.lit(False)))
            .orderBy("id").collect()]

    def test_relations_holes_multipolygon(self, pts):
        gs = lambda sh, rel=None: {"geo_shape": {"pt": {  # noqa: E731
            "shape": sh, **({"relation": rel} if rel else {})}}}
        # the hole excludes id 2; within == intersects for points
        assert self.ids(pts, gs(self.POLY)) == [1]
        assert self.ids(pts, gs(self.POLY, "within")) == [1]
        # disjoint is the strict negation; NULL coords never match
        assert self.ids(pts, gs(self.POLY, "disjoint")) == [2, 3, 5]
        assert self.ids(pts, gs(self.MULTI)) == [1, 5]
        env = {"type": "envelope", "coordinates": [[0, 4], [4, 0]]}
        assert self.ids(pts, gs(env)) == [1, 2]
        # contains: only a Point query shape can be contained by a point
        pt_shape = {"type": "point", "coordinates": [5.0, 5.0]}
        assert self.ids(pts, gs(pt_shape, "contains")) == [5]
        assert self.ids(pts, gs(self.POLY, "contains")) == []

    def test_rejects(self, pts):
        with pytest.raises(ValueError, match="geo_shape type"):
            self.ids(pts, {"geo_shape": {"pt": {"shape": {
                "type": "circle", "coordinates": [0, 0]}}}})
        with pytest.raises(ValueError, match="dateline"):
            self.ids(pts, {"geo_shape": {"pt": {"shape": {
                "type": "envelope", "coordinates": [[170, 4], [-170, 0]]}}}})
        with pytest.raises(ValueError, match="relation"):
            self.ids(pts, {"geo_shape": {"pt": {
                "shape": self.POLY, "relation": "crosses"}}})
        with pytest.raises(ValueError, match="at least 3"):
            self.ids(pts, {"geo_shape": {"pt": {"shape": {
                "type": "polygon",
                "coordinates": [[[0, 0], [1, 1], [0, 0]]]}}}})
        with pytest.raises(ValueError, match="option"):
            self.ids(pts, {"geo_shape": {"pt": {
                "shape": self.POLY, "strategy": "recursive"}}})

    def test_envelope_pushes_to_parquet(self, spark, tmp_path):
        # the envelope compiles to four plain comparisons on the struct
        # fields — they must reach the parquet scan as PushedFilters
        from pyspark.sql import functions as F

        from hive2es_offline_spark.plans.query_dsl import compile_query

        p = str(tmp_path / "pts.parquet")
        spark.createDataFrame(
            [(i, {"lat": float(i), "lon": float(i)}) for i in range(100)],
            "id long, pt struct<lat:double,lon:double>"
        ).write.parquet(p)
        df = spark.read.parquet(p)
        q = {"geo_shape": {"pt": {"shape": {
            "type": "envelope", "coordinates": [[10, 20], [20, 10]]}}}}
        plan = df.where(compile_query(q, "id"))._jdf.queryExecution() \
            .executedPlan().toString()
        assert "PushedFilters: [" in plan
        # struct-field pushdown renders as pt.lat / pt.lon predicates
        assert "pt.lat" in plan and "pt.lon" in plan, plan
