"""End-to-end job tests: the Hive2ES/PAHive2ES-equivalent pipeline from a
source table to a published, alias-addressable bundle."""

import json
import re

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from hive2es_offline_spark.jobs import Hive2ESConfig, build_documents, run_job
from hive2es_offline_spark.sinks import bundle

from conftest import SF_SMOKE


def test_run_job_lineitem_bundle(spark, tmp_path):
    cfg = Hive2ESConfig(
        table="lineitem",
        index_name="lineitem_19980101",
        sf_dir=SF_SMOKE,
        where="l_quantity < 10",
        num_shards=3,
        output_root=str(tmp_path),
    )
    manifest = run_job(spark, cfg)
    assert manifest["state"] == "completed"
    assert manifest["doc_count"] > 0
    assert set(map(int, manifest["shard_counts"])) <= {0, 1, 2}
    # alias derived from the _yyyymmdd suffix (PAHive2ES.scala:41-42)
    assert bundle.resolve_alias(str(tmp_path), "lineitem") == "lineitem_19980101"
    # mapping synthesized and staged with the bundle
    props = manifest["mapping"]["doc"]["properties"]
    assert props["l_orderkey"] == {"type": "long"}
    assert props["l_shipdate"] == {"type": "date", "format": "yyyyMMdd"}
    assert props["l_returnflag"] == {"type": "string", "index": "not_analyzed"}
    # docs readable back, sparse-JSON bodies, routed
    back = bundle.read_bundle(spark, str(tmp_path), "lineitem")
    row = back.first()
    doc = json.loads(row["doc"])
    assert doc["l_quantity"] < 10
    assert len(doc["l_shipdate"]) == 8  # yyyyMMdd


def test_build_documents_explicit_id_routing(spark):
    cfg = Hive2ESConfig(
        table="orders",
        index_name="orders_v1",
        sf_dir=SF_SMOKE,
        id_col="o_orderkey",
        routing_col="o_custkey",
        num_shards=5,
    )
    docs, mapping = build_documents(spark, cfg)
    r = docs.first()
    assert r["_id"] != r["_routing"]  # routing came from o_custkey
    assert 0 <= r["_shard"] < 5
    assert "o_totalprice" in mapping["doc"]["properties"]


def test_build_documents_generated_id_is_deterministic(spark):
    cfg = Hive2ESConfig(table="region", index_name="r_v1", sf_dir=SF_SMOKE)
    a = {r["_id"] for r in build_documents(spark, cfg)[0].select("_id").collect()}
    b = {r["_id"] for r in build_documents(spark, cfg)[0].select("_id").collect()}
    assert a == b  # md5-of-row ids: rerun-idempotent (vs reference's random)


def test_json_source_mode(spark, tmp_path):
    rows = [(f'{{"id": {i}, "name": "n{i}", "score": {i}.5}}',) for i in range(50)]
    src = str(tmp_path / "json_src.parquet")
    spark.createDataFrame(rows, "value string").write.parquet(src)
    cfg = Hive2ESConfig(
        table="json_src",
        index_name="js_v1",
        sf_dir=str(tmp_path),
        json_source=True,
        id_col="id",
        num_shards=2,
        output_root=str(tmp_path / "out"),
    )
    manifest = run_job(spark, cfg)
    assert manifest["doc_count"] == 50
    back = bundle.read_bundle(spark, str(tmp_path / "out"), "js_v1")
    doc = json.loads(back.where("_id = '7'").first()["doc"])
    assert doc["name"] == "n7"


def test_map_flatten_in_job(spark, tmp_path):
    df = spark.createDataFrame(
        [(1, {"Hits&Total": "10", "city": "SF"}), (2, {"city": "NY"})],
        "uid int, tags_il map<string,string>",
    )
    src_dir = tmp_path / "maps"
    df.write.parquet(str(src_dir / "user_index.parquet"))
    cfg = Hive2ESConfig(
        table="user_index",
        index_name="ui_v1",
        sf_dir=str(src_dir),
        id_col="uid",
        num_shards=2,
    )
    docs, mapping = build_documents(spark, cfg)
    props = mapping["doc"]["properties"]
    # *_il map keys prefixed + normalized + unindexed (PAHive2ES.scala:53-98)
    assert props["tags_il-hits-total"] == {"type": "string", "index": "no"}
    assert props["tags_il-city"] == {"type": "string", "index": "no"}
    d1 = json.loads(docs.where("_id = '1'").first()["doc"])
    assert d1["tags_il-city"] == "SF"
    assert d1["tags_il-hits-total"] == "10"
    d2 = json.loads(docs.where("_id = '2'").first()["doc"])
    assert "tags_il-hits-total" not in d2  # sparse doc: absent, not null


def test_cli_parses_and_runs(spark, tmp_path, monkeypatch):
    import hive2es_offline_spark.jobs.hive2es as job_mod

    monkeypatch.setattr(job_mod, "_cli_spark", lambda: spark, raising=False)
    # run through main() with a tiny table
    from hive2es_offline_spark.session import get_spark

    monkeypatch.setattr("hive2es_offline_spark.session.get_spark", lambda *a, **k: spark)
    job_mod.main(
        [
            "--table", "region",
            "--index-name", "region_20240101",
            "--sf-dir", SF_SMOKE,
            "--id", "r_regionkey",
            "--number-of-shards", "2",
            "--output-root", str(tmp_path),
        ]
    )
    assert bundle.resolve_alias(str(tmp_path), "region") == "region_20240101"


def test_repartition_toggle_controls_routing_exchange(spark):
    # reference default (--repartition false, Hive2ES.scala:68-72): no
    # routing shuffle — pre-clustered input must not pay a pointless
    # full exchange.  true = one exchange keyed by the shard column.
    base = dict(table="orders", index_name="o_v1", sf_dir=SF_SMOKE, id_col="o_orderkey")
    off, _ = build_documents(spark, Hive2ESConfig(**base))
    on, _ = build_documents(spark, Hive2ESConfig(**base, repartition=True))
    plan_off = off._jdf.queryExecution().executedPlan().toString()
    plan_on = on._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan_off
    assert "Exchange" in plan_on
    # same documents either way, shard column present in both
    assert off.count() == on.count()
    assert {r["_shard"] for r in off.select("_shard").distinct().collect()} == {0, 1, 2}


def test_hive_input_fields_projects_source_columns(spark):
    # --hive-input-fields: only whitelisted columns reach mapping + docs;
    # id/routing survive even when not listed
    cfg = Hive2ESConfig(
        table="orders",
        index_name="o_proj",
        sf_dir=SF_SMOKE,
        id_col="o_orderkey",
        hive_input_fields=frozenset({"o_orderstatus", "o_totalprice"}),
    )
    docs, mapping = build_documents(spark, cfg)
    props = mapping["doc"]["properties"]
    assert set(props) == {"o_orderkey", "o_orderstatus", "o_totalprice"}
    doc = json.loads(docs.first()["doc"])
    assert set(doc) <= {"o_orderkey", "o_orderstatus", "o_totalprice"}
    # unknown fields fail loudly instead of silently indexing nothing
    bad = Hive2ESConfig(
        table="orders", index_name="o_bad", sf_dir=SF_SMOKE,
        id_col="o_orderkey", hive_input_fields=frozenset({"nope"}),
    )
    with pytest.raises(ValueError, match="nope"):
        build_documents(spark, bad)


def test_bulk_flush_interval_warns_as_compat_noop(spark, tmp_path):
    cfg = Hive2ESConfig(
        table="region",
        index_name="region_bfi",
        sf_dir=SF_SMOKE,
        id_col="r_regionkey",
        output_root=str(tmp_path),
        bulk_flush_interval="30s",
    )
    with pytest.warns(UserWarning, match="bulk-flush-interval"):
        run_job(spark, cfg)


def test_overrides_from_metadata_table(spark, tmp_path):
    # O3: per-field type overrides loaded from a metadata table
    # (PAHive2ES.scala:66-77) — here l_quantity forced long
    meta = spark.createDataFrame(
        [("l_quantity", "long", "a"), ("other", "double", "b")],
        "index_name string, data_type string, theme string",
    )
    meta.write.parquet(str(tmp_path / "fieldmeta.parquet"))
    from hive2es_offline_spark.jobs.hive2es import load_type_overrides

    overrides = load_type_overrides(
        spark, "fieldmeta", str(tmp_path), where="theme = 'a'"
    )
    assert overrides == {"l_quantity": "long"}

    cfg = Hive2ESConfig(
        table="lineitem",
        index_name="li_v2",
        sf_dir=SF_SMOKE,
        id_col="l_orderkey",
        overrides_table=None,  # apply via dict to avoid mixed sf_dir reads
        type_overrides=overrides,
    )
    docs, mapping = build_documents(spark, cfg)
    assert mapping["doc"]["properties"]["l_quantity"] == {"type": "long"}
    doc = json.loads(docs.first()["doc"])
    assert isinstance(doc["l_quantity"], int)  # cast applied to values too


def test_user_mapping_overrides_synthesis(spark, tmp_path):
    # reference priority: a user-passed full mapping (--mapping,
    # Hive2ES.scala:82-84) wins over schema synthesis end-to-end
    user_mapping = {
        "doc": {
            "_all": {"enabled": False},
            "properties": {"r_name": {"type": "string", "index": "analyzed"}},
        }
    }
    cfg = Hive2ESConfig(
        table="region",
        index_name="region_um",
        sf_dir=SF_SMOKE,
        id_col="r_regionkey",
        num_shards=2,
        output_root=str(tmp_path),
        mapping_json=json.dumps(user_mapping),
    )
    manifest = run_job(spark, cfg)
    assert manifest["mapping"] == user_mapping  # user mapping, not synthesized
    staged = bundle.read_manifest(str(tmp_path), "region_um")
    assert staged["mapping"] == user_mapping


def test_final_index_settings_merge_over_defaults(spark, tmp_path):
    cfg = Hive2ESConfig(
        table="region",
        index_name="region_fs",
        sf_dir=SF_SMOKE,
        id_col="r_regionkey",
        num_shards=2,
        output_root=str(tmp_path),
        final_index_settings={"number_of_replicas": 3, "refresh_interval": "30s"},
    )
    manifest = run_job(spark, cfg)
    assert manifest["settings_final"]["number_of_replicas"] == 3  # user override
    assert manifest["settings_final"]["refresh_interval"] == "30s"


def test_type_name_keys_mapping_and_resource(spark):
    cfg = Hive2ESConfig(
        table="region",
        index_name="region_tn",
        sf_dir=SF_SMOKE,
        id_col="r_regionkey",
        type_name="mytype",
    )
    _, mapping = build_documents(spark, cfg)
    assert "mytype" in mapping and "doc" not in mapping
    from hive2es_offline_spark.sinks.es_bulk import es_write_conf

    assert es_write_conf("idx")["es.resource"] == "idx"  # ES 8.x: untyped
    assert es_write_conf("idx", type_name="mytype")["es.resource"] == "idx/mytype"


def test_cli_mapping_and_settings_flags(spark, tmp_path, monkeypatch):
    import hive2es_offline_spark.jobs.hive2es as job_mod

    monkeypatch.setattr("hive2es_offline_spark.session.get_spark", lambda *a, **k: spark)
    mapping_file = tmp_path / "user_mapping.json"
    mapping_file.write_text(
        '{"doc": {"properties": {"r_name": {"type": "string"}}}}'
    )
    job_mod.main(
        [
            "--table", "region",
            "--index-name", "region_cli2",
            "--sf-dir", SF_SMOKE,
            "--id", "r_regionkey",
            "--number-of-shards", "2",
            "--output-root", str(tmp_path),
            "--mapping", f"@{mapping_file}",
            "--final-index-setting", "number_of_replicas=1",
            "--final-index-setting", "refresh_interval=5s",
            "--bulk-actions", "200",
            "--bulk-size", "10",
        ]
    )
    staged = bundle.read_manifest(str(tmp_path), "region_cli2")
    assert staged["mapping"]["doc"]["properties"]["r_name"] == {"type": "string"}
    assert staged["settings_final"]["number_of_replicas"] == "1"
    assert staged["settings_final"]["refresh_interval"] == "5s"


def test_query_cli_main(spark, tmp_path, capsys):
    """The query CLI: an ES body straight against a parquet path — hits,
    aggs, _count, @file bodies, and parquet output."""
    import json

    from hive2es_offline_spark.jobs import query as qjob

    from conftest import SF_SMOKE

    src = f"{SF_SMOKE}/orders.parquet"
    body = {"query": {"range": {"o_totalprice": {"gte": 100000.0}}},
            "sort": [{"o_orderkey": {"order": "asc"}}], "size": 5,
            "_source": ["o_orderkey", "o_totalprice"]}
    qjob.main(["--input", src, "--body", json.dumps(body),
               "--id-field", "o_orderkey"])
    lines = [json.loads(ln) for ln in capsys.readouterr().out.strip().splitlines()]
    assert len(lines) == 5
    assert all(ln["o_totalprice"] >= 100000.0 for ln in lines)
    assert lines == sorted(lines, key=lambda r: r["o_orderkey"])

    # _count API + @file body
    bf = tmp_path / "body.json"
    bf.write_text(json.dumps({"query": body["query"]}))
    qjob.main(["--input", src, "--body", f"@{bf}", "--count",
               "--id-field", "o_orderkey"])
    (count_line,) = capsys.readouterr().out.strip().splitlines()
    assert json.loads(count_line)["count"] == len(
        [1 for _ in spark.read.parquet(src)
         .where("o_totalprice >= 100000.0").collect()]
    )

    # agg body -> bucket frame; parquet output path
    agg_body = {"size": 0, "aggs": {"b": {"terms": {"field": "o_orderpriority"}}}}
    out_dir = str(tmp_path / "out")
    qjob.main(["--input", src, "--body", json.dumps(agg_body),
               "--id-field", "o_orderkey", "--output", out_dir])
    manifest = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert manifest["rows"] == spark.read.parquet(out_dir).count() > 0


def test_query_cli_mget_and_scored(spark, capsys):
    """--mget fetches by id list with found flags; --scored ranks by BM25."""
    import json

    from hive2es_offline_spark.jobs import query as qjob

    from conftest import SF_SMOKE

    src = f"{SF_SMOKE}/documents.parquet"
    qjob.main(["--input", src, "--mget", "--id-field", "doc_id",
               "--body", json.dumps({"ids": [3, 999999],
                                     "_source": ["source"]})])
    lines = [json.loads(ln) for ln in capsys.readouterr().out.strip().splitlines()]
    assert [(ln["mget_id"], ln["found"]) for ln in lines] == [
        ("3", True), ("999999", False)]
    assert "source" in lines[0] and "source" not in lines[1]  # NULL omitted by toJSON

    qjob.main(["--input", src, "--scored", "--id-field", "doc_id",
               "--body", json.dumps({"query": {"match": {"text": "merge"}},
                                     "size": 3, "_source": ["doc_id"]})])
    lines = [json.loads(ln) for ln in capsys.readouterr().out.strip().splitlines()]
    assert len(lines) == 3
    scores = [ln["_score"] for ln in lines]
    assert scores == sorted(scores, reverse=True) and scores[0] > 0


def test_query_cli_suggest_body(spark, capsys):
    """A pure suggest body routes to the suggester automatically."""
    import json

    from hive2es_offline_spark.jobs import query as qjob

    from conftest import SF_SMOKE

    qjob.main(["--input", f"{SF_SMOKE}/documents.parquet",
               "--id-field", "doc_id",
               "--body", json.dumps({"suggest": {"fix": {
                   "text": "mrege",
                   "term": {"field": "text", "size": 1}}}})])
    lines = [json.loads(ln) for ln in capsys.readouterr().out.strip().splitlines()]
    assert lines[0]["suggestion"] == "merge"


def test_esql_cli(spark, capsys, tmp_path):
    """The ES|QL CLI (round 15): a pipeline straight against parquet
    paths — multi-index catalog, @file queries, RERANK with a model
    registry, parquet output, and loud catalog errors."""
    import json

    from hive2es_offline_spark.jobs import esql as ejob

    from conftest import SF_SMOKE

    src = f"{SF_SMOKE}/orders.parquet"
    ejob.main(["--index", f"orders={src}", "--query", '''
        FROM orders
        | WHERE o_totalprice > 100000
        | STATS n = COUNT(*), total = SUM(o_totalprice)
          BY o_orderpriority
        | SORT o_orderpriority ASC
    '''])
    lines = [json.loads(ln)
             for ln in capsys.readouterr().out.strip().splitlines()]
    assert len(lines) == 5 and all(ln["n"] > 0 for ln in lines)
    assert [ln["o_orderpriority"] for ln in lines] == sorted(
        ln["o_orderpriority"] for ln in lines)

    # @file query + parquet output
    qf = tmp_path / "q.esql"
    qf.write_text("FROM orders | STATS n = COUNT(*)")
    out_dir = str(tmp_path / "out")
    ejob.main(["--index", f"orders={src}", "--query", f"@{qf}",
               "--output", out_dir])
    manifest = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert manifest["rows"] == 1

    # RERANK with a registry passed on the CLI
    docs = f"{SF_SMOKE}/documents.parquet"
    ejob.main(["--index", f"documents={docs}",
               "--rerank-models",
               json.dumps({"m": {"weights": {"merge": 0.8},
                                 "default_weight": 0.5, "bias": -1.0}}),
               "--query", '''
        FROM documents
        | WHERE MATCH(text, "merge stream")
        | RERANK "merge stream" ON text WITH "m"
        | SORT _score DESC, doc_id ASC | LIMIT 3
        | KEEP doc_id, _score
    '''])
    rows = [json.loads(ln)
            for ln in capsys.readouterr().out.strip().splitlines()]
    assert len(rows) == 3
    assert rows[0]["_score"] >= rows[1]["_score"] >= rows[2]["_score"]

    import pytest as _pytest

    with _pytest.raises(ValueError, match="name=path"):
        ejob.main(["--index", "orders", "--query", "FROM orders"])


def _pre_fusion_documents(df):
    """The Column-built document rules as they were before the fused SQL
    projection — kept here only as the reference the generated ids must
    keep matching: normalize (decimal -> double, date/timestamp ->
    yyyyMMdd), scrub ''/'null' strings, then md5(to_json(struct(cols)))."""
    cols = []
    for f in df.schema.fields:
        c = F.col(f.name)
        if isinstance(f.dataType, T.DecimalType):
            c = c.cast("double")
        elif isinstance(f.dataType, (T.DateType, T.TimestampType, T.TimestampNTZType)):
            c = F.date_format(c, "yyyyMMdd")
        if isinstance(f.dataType, (T.StringType, T.DateType, T.TimestampType, T.TimestampNTZType)):
            t = F.trim(c)
            c = F.when((t == "") | (F.lower(t) == "null"), F.lit(None)).otherwise(c)
        cols.append(c.alias(f.name))
    n = df.select(*cols)
    body = F.to_json(F.struct(*n.columns))
    return n.select(F.md5(body).alias("_id"), body.alias("doc"))


@pytest.mark.parametrize("flatten_maps", [True, False])
def test_generated_ids_match_pre_fusion_formula(spark, tmp_path, flatten_maps):
    import datetime as dt
    import decimal

    strings = ["", "null", " NULL ", "x", None, "ok'q\\\"", "Null"]
    rows = [
        (
            i,
            decimal.Decimal(f"{i}.25"),
            dt.date(2020, 1, 1 + i % 28),
            dt.datetime(2021, 2, 3, 4, 5, i % 60),
            {"a": strings[i % 7], "b": "null"} if i % 3 else {"c": ""},
            strings[i % 7],
        )
        for i in range(42)
    ]
    src = spark.createDataFrame(
        rows, "k int, d decimal(10,2), day date, ts timestamp, m map<string,string>, s string"
    )
    src.write.parquet(str(tmp_path / "mixed.parquet"))
    cfg = Hive2ESConfig(
        table="mixed", index_name="mx_v1", sf_dir=str(tmp_path), flatten_maps=flatten_maps
    )
    docs, _ = build_documents(spark, cfg)
    got = sorted((r["_id"], r["doc"]) for r in docs.select("_id", "doc").collect())

    from hive2es_offline_spark.operators import document
    from hive2es_offline_spark.sources import read_table

    ref = read_table(spark, "mixed", str(tmp_path))
    if flatten_maps:
        ref = document.flatten_map_column(ref, "m")
    want = sorted((r["_id"], r["doc"]) for r in _pre_fusion_documents(ref).collect())
    assert got == want
    assert len({i for i, _ in got}) == len(rows)  # every row its own id


def test_document_json_is_serialized_once(spark):
    # the fused projection builds the body once and hashes it: one to_json
    # in the physical plan, not one for doc and another inside md5
    cfg = Hive2ESConfig(table="lineitem", index_name="li_v1", sf_dir=SF_SMOKE)
    docs, _ = build_documents(spark, cfg)
    plan = docs._jdf.queryExecution().executedPlan().toString()
    # Spark 4 prints to_json in a physical plan as its evaluator
    assert len(re.findall(r"to_json\(|StructsToJsonEvaluator\(", plan)) == 1, plan
