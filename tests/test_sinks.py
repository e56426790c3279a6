"""Bundle sink: staging -> validate -> atomic publish -> alias swap; bulk
batching thresholds; multimodal plumbing."""

import glob
import json
import os

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from hive2es_offline_spark.operators import multimodal, routing
from hive2es_offline_spark.sinks import bundle, es_bulk


@pytest.fixture()
def docs(spark):
    rows = [(str(i), str(i), json.dumps({"id": i, "v": i * 2})) for i in range(100)]
    df = spark.createDataFrame(rows, "_id string, _routing string, doc string")
    return routing.with_shard(df, "_routing", 3)


def test_bundle_write_publish_swap(spark, docs, tmp_path):
    root = str(tmp_path)
    m = bundle.write_bundle(docs, root, "idx_v1", 3)
    assert m["doc_count"] == 100
    assert m["state"] == "started"
    assert os.path.exists(os.path.join(root, "idx_v1_tmp"))
    assert not os.path.exists(os.path.join(root, "idx_v1"))

    published = bundle.publish_bundle(root, "idx_v1", alias="idx")
    assert published["state"] == "completed"
    assert not os.path.exists(os.path.join(root, "idx_v1_tmp"))  # renamed away
    assert bundle.resolve_alias(root, "idx") == "idx_v1"

    back = bundle.read_bundle(spark, root, "idx")
    assert back.count() == 100
    assert set(r["shard"] for r in back.select("shard").distinct().collect()) <= {0, 1, 2}


def test_publish_validation_rejects_empty(spark, docs, tmp_path):
    root = str(tmp_path)
    bundle.write_bundle(docs.limit(0), root, "empty_v1", 3)
    with pytest.raises(ValueError, match="failed validation"):
        bundle.publish_bundle(root, "empty_v1")


def _shard_docs(spark, sizes):
    """Documents with ``sizes[shard]`` rows on each shard, spread over
    several tasks so a shard spans several part files."""
    rows = [(f"{s}-{i}", f"{s}-{i}", "{}", s) for s, n in sizes.items() for i in range(n)]
    df = spark.createDataFrame(rows, "_id string, _routing string, doc string, _shard int")
    return df.repartition(4)


@pytest.mark.parametrize(
    "sizes, limit0",
    [
        ({0: 900, 1: 3, 2: 1}, False),  # skewed; shard 3 empty
        ({1: 40, 3: 25}, False),  # shards 0 and 2 empty
        ({0: 10, 1: 10}, True),  # docs.limit(0): nothing written
    ],
)
def test_footer_counts_equal_spark_count(spark, tmp_path, sizes, limit0):
    docs = _shard_docs(spark, sizes)
    if limit0:
        docs = docs.limit(0)
    root = str(tmp_path)
    m = bundle.write_bundle(docs, root, "idx_v1", 4)
    staged = (
        spark.read.schema("_id string, _routing string, doc string, shard int")
        .parquet(os.path.join(root, "idx_v1_tmp"))
        .groupBy("shard")
        .count()
        .collect()
    )
    assert m["shard_counts"] == {r["shard"]: r["count"] for r in staged}
    assert m["doc_count"] == (0 if limit0 else sum(sizes.values()))


def test_deleted_part_file_lowers_count_and_fails_publish(spark, docs, tmp_path):
    root = str(tmp_path)
    m = bundle.write_bundle(docs.repartition(4), root, "idx_v1", 3)
    staging = os.path.join(root, "idx_v1_tmp")
    victim = sorted(glob.glob(os.path.join(staging, "shard=*", "part-*.parquet")))[0]
    lost = pq.read_metadata(victim).num_rows
    os.remove(victim)
    assert sum(bundle.shard_counts(staging).values()) == m["doc_count"] - lost
    with pytest.raises(ValueError, match="staged files hold"):
        bundle.publish_bundle(root, "idx_v1", alias="idx")
    assert not os.path.exists(os.path.join(root, "idx_v1"))  # nothing published
    assert not os.path.exists(os.path.join(root, "idx.alias.json"))


def test_alias_swap_is_atomic_repoint(spark, docs, tmp_path):
    root = str(tmp_path)
    for v in ("v1", "v2"):
        bundle.write_bundle(docs, root, f"idx_{v}", 3)
        bundle.publish_bundle(root, f"idx_{v}", alias="idx")
    assert bundle.resolve_alias(root, "idx") == "idx_v2"
    assert bundle.read_bundle(spark, root, "idx").count() == 100


def test_bulk_batching_thresholds():
    docs = [(str(i), str(i), '{"x":1}') for i in range(250)]
    batches = list(es_bulk.iter_bulk_batches(iter(docs), "idx", bulk_actions=100))
    assert len(batches) == 3  # 100 + 100 + 50
    first_actions = batches[0].strip().split("\n")
    assert len(first_actions) == 200  # meta + doc per action
    meta = json.loads(first_actions[0])
    assert meta["create"]["_index"] == "idx"


def test_bulk_write_stats(spark, docs):
    stats = es_bulk.bulk_write_stats(docs.repartition(4), "idx").collect()
    assert sum(r["doc_count"] for r in stats) == 100
    assert all(r["batch_count"] >= 1 for r in stats if r["doc_count"] > 0)


def test_es_write_conf_reference_defaults():
    conf = es_bulk.es_write_conf("myindex")
    assert conf["es.write.operation"] == "create"  # idempotent under retry
    assert conf["es.batch.size.entries"] == "100"  # ArgsParser.scala:21
    assert conf["es.batch.size.bytes"] == str(5 * 1024 * 1024)  # :22
    assert conf["es.mapping.routing"] == "_routing"


def test_multimodal_decode_plumbing(spark):
    df = spark.createDataFrame(
        [(1, "hello world"), (2, "another doc")], "doc_id long, text string"
    )
    payloads = multimodal.with_binary_payload(df)
    rows = {r["doc_id"]: r for r in multimodal.decode_image_meta(payloads).collect()}
    assert rows[1]["n_bytes"] == len(b"hello world")
    # default policy: non-image payloads yield NULL metadata, never fakes
    assert rows[1]["width"] is None and rows[1]["format"] is None
    assert rows[1]["decode_status"] == "undecodable"
    # opt-in fake stand-in stays deterministic: same payload -> same meta
    faked = {r["doc_id"]: r for r in multimodal.decode_image_meta(
        payloads, on_undecodable="fake").collect()}
    assert faked[1]["width"] >= 64 and faked[1]["height"] >= 64
    assert faked[1]["format"] in ("png", "jpeg", "webp")
    again = {r["doc_id"]: r for r in multimodal.decode_image_meta(
        multimodal.with_binary_payload(df), on_undecodable="fake").collect()}
    assert faked[1] == again[1]
