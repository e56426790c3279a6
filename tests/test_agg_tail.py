"""Round-13 aggregation tail: extended_stats_bucket (sibling pipeline),
cumulative_cardinality (first-seen exact cumulative distincts),
random_sampler (deterministic seeded sampling with inverse-probability
scaling), and hex_grid (honest z/q/r axial hex binning) + the
geohex_grid loud reject."""

import datetime

import pytest
from pyspark.sql import functions as F

from hive2es_offline_spark.plans.query_dsl import compile_aggs, hex_cell_sql


# ---------------------------------------------------------------- helpers

def _hist_frame(spark, values):
    """One row per value; histogram interval 1 buckets each int value."""
    return spark.createDataFrame([(float(v),) for v in values], "x double")


# ------------------------------------------- extended_stats_bucket (sibling)

class TestExtendedStatsBucket:
    def test_hand_computed_moments(self, spark):
        # buckets 0,1,2 carry avg metric values 1.0, 2.0, 3.0
        df = spark.createDataFrame(
            [(0.0, 1.0), (0.0, 1.0), (1.0, 2.0), (2.0, 3.0)],
            "x double, v double")
        out = compile_aggs(df, {
            "h": {"histogram": {"field": "x", "interval": 1},
                  "aggs": {"m": {"avg": {"field": "v"}}}},
            "es": {"extended_stats_bucket": {"buckets_path": "h>m"}},
        }).orderBy("key").collect()
        assert [r["key"] for r in out] == [0.0, 1.0, 2.0]
        r = out[0]
        assert r["es_count"] == 3
        assert r["es_min"] == 1.0 and r["es_max"] == 3.0
        assert r["es_avg"] == 2.0 and r["es_sum"] == 6.0
        assert r["es_sum_of_squares"] == 14.0
        # population variance = 14/3 - 4
        assert r["es_variance"] == pytest.approx(0.666667)
        assert r["es_std_deviation"] == pytest.approx(0.816497)
        # sigma default 2: avg ± 2·std (std already rounded to 6)
        assert r["es_std_deviation_bounds_upper"] == pytest.approx(3.632994)
        assert r["es_std_deviation_bounds_lower"] == pytest.approx(0.367006)

    def test_sigma_option(self, spark):
        df = spark.createDataFrame(
            [(0.0, 1.0), (1.0, 3.0)], "x double, v double")
        r = compile_aggs(df, {
            "h": {"histogram": {"field": "x", "interval": 1},
                  "aggs": {"m": {"avg": {"field": "v"}}}},
            "es": {"extended_stats_bucket": {
                "buckets_path": "h>m", "sigma": 3.0}},
        }).orderBy("key").first()
        # avg 2, pop var 1, std 1 -> bounds 2 ± 3
        assert r["es_std_deviation_bounds_upper"] == pytest.approx(5.0)
        assert r["es_std_deviation_bounds_lower"] == pytest.approx(-1.0)

    def test_unknown_option_rejects(self, spark):
        df = _hist_frame(spark, [1])
        with pytest.raises(ValueError, match="extended_stats_bucket option"):
            compile_aggs(df, {
                "h": {"histogram": {"field": "x", "interval": 1},
                      "aggs": {"m": {"avg": {"field": "x"}}}},
                "es": {"extended_stats_bucket": {
                    "buckets_path": "h>m", "gap_policy": "skip"}},
            }).collect()


# ------------------------------------------------- cumulative_cardinality

class TestCumulativeCardinality:
    @pytest.fixture(scope="class")
    def days(self, spark):
        d = datetime.datetime
        rows = [
            (d(2024, 1, 1), "u1"), (d(2024, 1, 1), "u2"),
            (d(2024, 1, 2), "u2"), (d(2024, 1, 2), "u3"),
            # Jan 3 has no rows (gap-fill case), Jan 4 revisits u1
            (d(2024, 1, 4), "u1"), (d(2024, 1, 4), "u4"),
            (d(2024, 1, 4), "u5"),
        ]
        return spark.createDataFrame(rows, "ts timestamp, user string")

    def test_exact_cumulative_distincts(self, spark, days):
        out = compile_aggs(days, {
            "h": {"date_histogram": {"field": "ts",
                                     "calendar_interval": "day"},
                  "aggs": {"users": {"cardinality": {"field": "user"}},
                           "cum": {"cumulative_cardinality": {
                               "buckets_path": "users"}}}},
        }).orderBy("key").collect()
        assert [r["users"] for r in out] == [2, 2, 3]
        assert [r["cum"] for r in out] == [2, 3, 5]

    def test_gap_buckets_carry_previous_value(self, spark, days):
        out = compile_aggs(days, {
            "h": {"date_histogram": {"field": "ts",
                                     "calendar_interval": "day",
                                     "min_doc_count": 0},
                  "aggs": {"users": {"cardinality": {"field": "user"}},
                           "cum": {"cumulative_cardinality": {
                               "buckets_path": "users"}}}},
        }).orderBy("key").collect()
        assert len(out) == 4  # Jan 3 gap bucket emitted
        assert [r["doc_count"] for r in out] == [2, 2, 0, 3]
        assert [r["cum"] for r in out] == [2, 3, 3, 5]

    def test_terms_parent_rejects(self, spark, days):
        with pytest.raises(ValueError, match="histogram"):
            compile_aggs(days, {
                "t": {"terms": {"field": "user"},
                      "aggs": {"users": {"cardinality": {"field": "user"}},
                               "cum": {"cumulative_cardinality": {
                                   "buckets_path": "users"}}}},
            }).collect()

    def test_min_doc_count_gt1_rejects(self, spark, days):
        with pytest.raises(ValueError, match="min_doc_count"):
            compile_aggs(days, {
                "h": {"date_histogram": {"field": "ts",
                                         "calendar_interval": "day",
                                         "min_doc_count": 2},
                      "aggs": {"users": {"cardinality": {"field": "user"}},
                               "cum": {"cumulative_cardinality": {
                                   "buckets_path": "users"}}}},
            }).collect()

    def test_path_must_name_cardinality_sibling(self, spark, days):
        with pytest.raises(ValueError, match="cardinality sub-aggregation"):
            compile_aggs(days, {
                "h": {"date_histogram": {"field": "ts",
                                         "calendar_interval": "day"},
                      "aggs": {"n": {"value_count": {"field": "user"}},
                               "cum": {"cumulative_cardinality": {
                                   "buckets_path": "n"}}}},
            }).collect()


# ------------------------------------------------------- random_sampler

def _sample_hash(i: int, seed: int) -> int:
    """Python twin of the engine's documented LCG-over-prime-field hash."""
    P, MULT = 1_000_000_007, 387_420_489
    h = i % P
    h = (h * MULT + seed * 987_654_323 + 12_345) % P
    return (h * MULT + 987_654_323) % P


class TestRandomSampler:
    @pytest.fixture(scope="class")
    def ids(self, spark):
        return spark.createDataFrame(
            [(i, float(i % 7)) for i in range(1000)], "id long, v double")

    def test_deterministic_and_matches_python_twin(self, spark, ids):
        body = {"s": {"random_sampler": {
            "probability": 0.25, "seed": 42, "field": "id"}}}
        a = compile_aggs(ids, body, id_field="id").first()["doc_count"]
        b = compile_aggs(ids, body, id_field="id").first()["doc_count"]
        assert a == b  # reproducible across runs
        P = 1_000_000_007
        expected_raw = sum(
            1 for i in range(1000)
            if _sample_hash(i, 42) < int(0.25 * P))
        assert a == round(expected_raw / 0.25)

    def test_probability_one_is_identity(self, spark, ids):
        out = compile_aggs(ids, {"s": {
            "random_sampler": {"probability": 1.0, "field": "id"},
            "aggs": {"total": {"sum": {"field": "v"}}},
        }}, id_field="id").first()
        assert out["doc_count"] == 1000
        assert out["total"] == pytest.approx(
            sum(float(i % 7) for i in range(1000)))

    def test_sum_scales_and_avg_does_not(self, spark, ids):
        p, seed = 0.5, 7
        out = compile_aggs(ids, {"s": {
            "random_sampler": {"probability": p, "seed": seed,
                               "field": "id"},
            "aggs": {"total": {"sum": {"field": "v"}},
                     "mean": {"avg": {"field": "v"}}},
        }}, id_field="id").first()
        P = 1_000_000_007
        kept = [i for i in range(1000)
                if _sample_hash(i, seed) < int(p * P)]
        raw_sum = sum(float(i % 7) for i in kept)
        assert out["doc_count"] == round(len(kept) / p)
        assert out["total"] == pytest.approx(round(raw_sum / p, 6))
        assert out["mean"] == pytest.approx(raw_sum / len(kept), abs=1e-6)

    def test_bucket_doc_counts_scale(self, spark, ids):
        out = compile_aggs(ids, {"s": {
            "random_sampler": {"probability": 0.5, "seed": 1,
                               "field": "id"},
            "aggs": {"byv": {"terms": {"field": "v", "size": 3}}},
        }}, id_field="id").orderBy("key").collect()
        P = 1_000_000_007
        kept = [i for i in range(1000)
                if _sample_hash(i, 1) < int(0.5 * P)]
        from collections import Counter
        counts = Counter(float(i % 7) for i in kept)
        top3 = sorted(counts.items(),
                      key=lambda kv: (-kv[1], kv[0]))[:3]
        expect = {k: round(c / 0.5) for k, c in top3}
        assert {r["key"]: r["doc_count"] for r in out} == expect

    def test_probability_domain_rejects(self, spark, ids):
        for p in (0.0, 0.75, 1.5, -0.1):
            with pytest.raises(ValueError, match="probability"):
                compile_aggs(ids, {"s": {"random_sampler": {
                    "probability": p, "field": "id"}}}, id_field="id")

    def test_non_integral_field_rejects(self, spark, ids):
        with pytest.raises(ValueError, match="integral id column"):
            compile_aggs(ids, {"s": {"random_sampler": {
                "probability": 0.5, "field": "v"}}}, id_field="id")

    def test_unknown_field_rejects_descriptively(self, spark, ids):
        with pytest.raises(ValueError, match="not a top-level column"):
            compile_aggs(ids, {"s": {"random_sampler": {
                "probability": 0.5, "field": "nope"}}}, id_field="id")

    def test_metric_with_nested_aggs_rejects(self, spark, ids):
        # a nested aggs block under a METRIC would be silently dropped
        # by the single-aggregate path (code-review r13)
        with pytest.raises(ValueError, match="nested 'aggs'"):
            compile_aggs(ids, {"s": {
                "random_sampler": {"probability": 0.5, "field": "id"},
                "aggs": {"t": {"sum": {"field": "v"},
                               "aggs": {"inner": {"value_count": {
                                   "field": "v"}}}}},
            }}, id_field="id")

    def test_unscalable_subagg_rejects(self, spark, ids):
        with pytest.raises(ValueError, match="under random_sampler"):
            compile_aggs(ids, {"s": {
                "random_sampler": {"probability": 0.5, "field": "id"},
                "aggs": {"c": {"cardinality": {"field": "v"}}},
            }}, id_field="id")


# ------------------------------------------------------------- hex_grid

class TestHexGrid:
    def test_hand_computed_cells(self, spark):
        import math
        # precision 0 -> circumradius 45 deg.  (0,0) is the origin cell;
        # lon = 45*sqrt(3) with lat 0 sits exactly on axial (1, 0);
        # lat 27, lon 27*sqrt(3) has fractional cube coords
        # (0.4, 0.4, -0.8): naive rounding gives (0,0,-1) (sum != 0) and
        # the repair re-derives r -> cell (0, 1)
        pts = spark.createDataFrame(
            [
                (1, 0.0, 0.0),
                (2, 0.0, 45.0 * math.sqrt(3.0)),
                (3, 27.0, 27.0 * math.sqrt(3.0)),
                (4, None, 10.0),
            ],
            "id long, lat double, lon double")
        rows = {r["id"]: r["h"] for r in pts.select(
            "id", F.expr(hex_cell_sql("lat", "lon", 0)).alias("h")
        ).collect()}
        assert rows[1] == "0/0/0"
        assert rows[2] == "0/1/0"
        assert rows[3] == "0/0/1"
        assert rows[4] is None

    def test_agg_buckets_count_and_cap(self, spark):
        pts = spark.createDataFrame(
            [(i, 0.0 + (i % 2) * 40.0, 0.0) for i in range(10)],
            "id long, lat double, lon double")
        loc = pts.select(
            "id", F.struct(F.col("lat"), F.col("lon")).alias("loc"))
        out = compile_aggs(loc, {"g": {"hex_grid": {
            "field": "loc", "precision": 2, "size": 1}}}).collect()
        # two cells of 5 docs each; size=1 keeps the count-desc key-asc top
        assert len(out) == 1 and out[0]["doc_count"] == 5

    def test_precision_domain_rejects(self, spark):
        with pytest.raises(ValueError, match="precision"):
            hex_cell_sql("0.0D", "0.0D", 16)

    def test_geohex_grid_rejects_loudly(self, spark):
        pts = spark.createDataFrame([(1,)], "id long")
        with pytest.raises(NotImplementedError, match="hex_grid extension"):
            compile_aggs(pts, {"g": {"geohex_grid": {
                "field": "loc", "precision": 4}}})


# ----------------------------------------------------------- time_series

class TestTimeSeries:
    @pytest.fixture(scope="class")
    def tsdb(self, spark):
        rows = [
            ("h1", "us", 1.0), ("h1", "us", 3.0),
            ("h2", "us", 5.0), ("h2", "eu", 7.0), ("h1", "eu", 9.0),
        ]
        return spark.createDataFrame(rows, "host string, region string, v double")

    def test_buckets_per_series_with_metrics(self, spark, tsdb):
        out = compile_aggs(tsdb, {"ts": {
            "time_series": {"dimensions": ["host", "region"]},
            "aggs": {"m": {"avg": {"field": "v"}}},
        }}).collect()
        got = {(r["host"], r["region"]): (r["doc_count"], r["m"]) for r in out}
        assert got == {("h1", "us"): (2, 2.0), ("h1", "eu"): (1, 9.0),
                       ("h2", "us"): (1, 5.0), ("h2", "eu"): (1, 7.0)}
        # dimensions-ascending order
        assert [(r["host"], r["region"]) for r in out] == sorted(got)

    def test_size_caps(self, spark, tsdb):
        out = compile_aggs(tsdb, {"ts": {
            "time_series": {"dimensions": ["host", "region"], "size": 2},
        }}).collect()
        assert [(r["host"], r["region"]) for r in out] == [
            ("h1", "eu"), ("h1", "us")]

    def test_missing_dimensions_rejects(self, spark, tsdb):
        with pytest.raises(ValueError, match="dimensions"):
            compile_aggs(tsdb, {"ts": {"time_series": {}}})

    def test_keyed_rejects(self, spark, tsdb):
        with pytest.raises(ValueError, match="keyed"):
            compile_aggs(tsdb, {"ts": {"time_series": {
                "dimensions": ["host"], "keyed": True}}})

    def test_unknown_option_rejects(self, spark, tsdb):
        with pytest.raises(ValueError, match="time_series option"):
            compile_aggs(tsdb, {"ts": {"time_series": {
                "dimensions": ["host"], "shard_size": 10}}})

    def test_null_dimension_rows_have_no_series(self, spark):
        # ES forms a _tsid only from docs carrying the dimensions; a
        # NULL bucket would also sort NULLS-FIRST vs the oracle's
        # NULLS-LAST under the size cap (code-review r13)
        df = spark.createDataFrame(
            [("h1", 1.0), (None, 2.0), ("h2", 3.0)],
            "host string, v double")
        out = compile_aggs(df, {"ts": {
            "time_series": {"dimensions": ["host"]}}}).collect()
        assert [r["host"] for r in out] == ["h1", "h2"]


class TestReduceGuards:
    """VERDICT r13 #8: the single-partition reduce frames in
    variable_width_histogram / categorize_text reject loudly past their
    cardinality bounds instead of OOMing the reducer."""

    def test_variable_width_rejects_past_bound(self, spark):
        from hive2es_offline_spark.plans.query_dsl import es_search

        df = spark.createDataFrame(
            [(i, float(i)) for i in range(10)], "id long, v double")
        body = {"size": 0, "aggs": {"h": {"variable_width_histogram": {
            "field": "v", "buckets": 3, "max_distinct_values": 5}}}}
        with pytest.raises(Exception, match="max_distinct_values=5"):
            es_search(df, body, id_field="id").collect()
        # at the bound it still runs (10 distinct > 5, so use 10)
        body["aggs"]["h"]["variable_width_histogram"][
            "max_distinct_values"] = 10
        out = es_search(df, body, id_field="id").collect()
        assert len(out) == 3

    def test_categorize_text_rejects_past_bound(self, spark):
        from hive2es_offline_spark.plans.query_dsl import es_search

        df = spark.createDataFrame(
            [(i, f"unique message variant{chr(97 + i)} here")
             for i in range(8)], "id long, msg string")
        body = {"size": 0, "aggs": {"c": {"categorize_text": {
            "field": "msg", "max_buckets": 4}}}}
        with pytest.raises(Exception, match="max_buckets=4"):
            es_search(df, body, id_field="id").collect()
        body["aggs"]["c"]["categorize_text"]["max_buckets"] = 8
        out = es_search(df, body, id_field="id").collect()
        assert len(out) == 8

    def test_unknown_option_still_rejects(self, spark):
        from hive2es_offline_spark.plans.query_dsl import es_search

        df = spark.createDataFrame([(1, 1.0)], "id long, v double")
        with pytest.raises(ValueError, match="unsupported"):
            es_search(df, {"size": 0, "aggs": {"h": {
                "variable_width_histogram": {
                    "field": "v", "shard_size": 5}}}},
                id_field="id").collect()
