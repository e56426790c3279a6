"""Index-bundle sink: staged, atomically-published document bundles.

The reference stages zipped Lucene shard dirs on HDFS under ``..._tmp`` names
and renames on completion (``CompressionUtils.java:51-83``,
``ESContainer.scala:251-285``); the server fleet polls for completed bundles
and installs them (``IndexBuilder.java:164-191``).  The Spark-first
equivalent keeps the PROTOCOL (stage -> validate -> atomic rename -> swap)
but stores bundles as shard-partitioned parquet + a JSON manifest, so no
embedded ES node, no zip, and any consumer (including the bulk loader) can
read a bundle as a normal table.

Layout:
    {root}/{index_name}_tmp/          staging (invisible to consumers)
        shard=*/part-*.parquet        documents, partitioned by shard
        _MANIFEST.json                row counts per shard + mapping + settings
    {root}/{index_name}/              published (after atomic rename)
    {root}/{alias}.alias.json         alias pointer (atomic swap via rename)

Scale notes: the write is ``partitionBy("shard")`` on the already
shard-co-located DataFrame, so each task writes only its own shard dirs (no
second shuffle), and it is the sink's only Spark job.  The manifest's
per-shard counts come from the written files' parquet footers
(``shard_counts``), so they count what is actually on disk without
re-reading the data; publish checks the staged files against the manifest
the same way before the rename.  The rename publish is atomic on HDFS-like
filesystems — identical guarantee to the reference.  Like the rename, the
footer count assumes a root the driver can open as a POSIX path.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import time

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession

from ..plans.mapping import index_settings_final, index_settings_for_load


def write_bundle(
    docs: DataFrame,
    root: str,
    index_name: str,
    num_shards: int,
    mapping: dict | None = None,
    shard_col: str = "_shard",
    final_settings: dict | None = None,
) -> dict:
    """Stage a document bundle.  ``docs`` must already carry ``shard_col``
    (see ``operators.routing.with_shard``).  Returns the manifest.

    ``final_settings`` are user index settings applied at publish, merged
    OVER the serving defaults (the reference's --final-index-setting,
    ``ESClient.java:251-266``)."""
    staging = os.path.join(root, f"{index_name}_tmp")
    docs.withColumnRenamed(shard_col, "shard").write.mode("overwrite").partitionBy(
        "shard"
    ).parquet(staging)
    counts = shard_counts(staging)
    manifest = {
        "index": index_name,
        "num_shards": num_shards,
        "doc_count": sum(counts.values()),
        "shard_counts": counts,
        "mapping": mapping or {},
        "settings_load": index_settings_for_load(num_shards),
        "settings_final": {**index_settings_final(), **(final_settings or {})},
        "created_ms": int(time.time() * 1000),
        "state": "started",  # mirrors the ZK started->completed state machine
    }
    with open(os.path.join(staging, "_MANIFEST.json"), "w") as f:
        json.dump(manifest, f, indent=2, sort_keys=True)
    return manifest


def shard_counts(staging: str) -> dict[int, int]:
    """Documents per shard of a staged bundle, summed from the row counts
    in the part files' parquet footers (no Spark job, no data pages read).
    Shards with no rows are absent, as in a ``groupBy("shard").count()``."""
    counts: dict[int, int] = {}
    for f in glob.glob(os.path.join(staging, "shard=*", "part-*.parquet")):
        shard = int(os.path.basename(os.path.dirname(f)).split("=", 1)[1])
        counts[shard] = counts.get(shard, 0) + pq.read_metadata(f).num_rows
    return {s: n for s, n in sorted(counts.items()) if n}


def publish_bundle(
    root: str,
    index_name: str,
    alias: str | None = None,
    min_docs: int = 1,
) -> dict:
    """Validate + atomically publish a staged bundle; optionally swap the
    alias pointer to it (reference finalization: ``NodeService.java:127-153``,
    alias swap ``ESClient.java:154-170``)."""
    staging = os.path.join(root, f"{index_name}_tmp")
    final = os.path.join(root, index_name)
    with open(os.path.join(staging, "_MANIFEST.json")) as f:
        manifest = json.load(f)
    if manifest["doc_count"] < min_docs:
        raise ValueError(
            f"bundle {index_name} failed validation: {manifest['doc_count']} docs < {min_docs}"
        )
    on_disk = {str(s): n for s, n in shard_counts(staging).items()}
    if on_disk != manifest["shard_counts"]:
        raise ValueError(
            f"bundle {index_name} failed validation: staged files hold "
            f"{sum(on_disk.values())} docs per shard {on_disk}, manifest says "
            f"{manifest['doc_count']} per shard {manifest['shard_counts']}"
        )
    manifest["state"] = "completed"
    manifest["published_ms"] = int(time.time() * 1000)
    with open(os.path.join(staging, "_MANIFEST.json"), "w") as f:
        json.dump(manifest, f, indent=2, sort_keys=True)
    if os.path.exists(final):
        shutil.rmtree(final)
    os.rename(staging, final)  # the atomic commit (HDFS rename semantics)
    if alias:
        swap_alias(root, alias, index_name)
    return manifest


def swap_alias(root: str, alias: str, index_name: str) -> None:
    """Atomic alias repoint: write-then-rename, same trick as the bundles."""
    tmp = os.path.join(root, f"{alias}.alias.json._tmp")
    dst = os.path.join(root, f"{alias}.alias.json")
    with open(tmp, "w") as f:
        json.dump({"alias": alias, "index": index_name}, f)
    os.replace(tmp, dst)


def resolve_alias(root: str, alias: str) -> str:
    with open(os.path.join(root, f"{alias}.alias.json")) as f:
        return json.load(f)["index"]


def read_manifest(root: str, index_name: str) -> dict:
    with open(os.path.join(root, index_name, "_MANIFEST.json")) as f:
        return json.load(f)


def read_bundle(spark: SparkSession, root: str, name_or_alias: str) -> DataFrame:
    """Read a published bundle (by index name or alias) as a DataFrame."""
    path = os.path.join(root, name_or_alias)
    if not os.path.exists(path):
        path = os.path.join(root, resolve_alias(root, name_or_alias))
    return spark.read.parquet(path)
