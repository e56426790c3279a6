"""The end-to-end hive2es job — the engine's equivalent of the reference's
two entry points (``Hive2ES.main``, generic; ``PAHive2ES.main``, production
path with inference + metadata overrides).

One declarative pipeline replaces the reference's three table scans
(metadata job, inference job, transform job — ``PAHive2ES.scala:75,121,202``):

    read(table, where)                          # O1/O2, Catalyst pushdown
      -> [json-source parse]                    # O5
      -> [map-column flatten]                   # O6/O8 (1 agg per map col)
      -> type normalization + overrides         # O9/O10 (O3 via table read)
      -> null scrub                             # O11
      -> documents (_id, _routing, doc)         # O4/O15
      -> shard routing + co-location            # O16 (ES murmur3)
      -> bundle staging -> publish (alias swap) # O17-O24, O33
         (or: es-hadoop connector conf for a live cluster)

Config mirrors the reference CLI surface (``ArgsParser.scala:31-128``); the
ZK/leader/segment-surgery half of the reference is intentionally absent —
the Spark driver is the coordinator and the publish protocol is the bundle
sink's atomic rename + alias swap (see SURVEY.md §3.3).
"""

from __future__ import annotations

import argparse
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from ..operators import document, routing
from ..plans.mapping import synthesize_mapping
from ..sinks import bundle
from ..sinks.es_bulk import es_write_conf
from ..sources import read_table


@dataclass
class Hive2ESConfig:
    """Job configuration (reference flags in comments)."""

    table: str  # --hive-table
    index_name: str  # --index-name
    sf_dir: str | None = None  # parquet-table root (tests); None = metastore
    where: str | None = None  # --where
    id_col: str | None = None  # --id  (None -> synthesized row id)
    routing_col: str | None = None  # --routing (None -> id)
    num_shards: int = 3  # --number-of-shards
    partition_multiple: int = 10  # --partition-multiples
    #: --repartition (``ArgsParser.scala:9,46-48``): reference default is
    #: FALSE — the production path (``Hive2ES.scala:68-72``) skips the
    #: routing shuffle and lets the sink partition locally; True co-locates
    #: rows by ES shard first (one exchange keyed by a 4-byte int).
    repartition: bool = False
    #: --hive-input-fields (``ArgsParser.scala:106-109``): projection
    #: whitelist over the source columns — only these (plus id/routing)
    #: reach the documents.  Empty = every column.
    hive_input_fields: frozenset[str] = frozenset()
    alias: str | None = None  # --alias
    json_source: bool = False  # --json-source (single JSON-string column)
    type_overrides: dict[str, str] = field(default_factory=dict)  # O9 manual
    #: O3 metadata-table path: a table with (index_name, data_type) rows —
    #: the reference's raw.I_DSPDATA_USERINDEX_INDEXFIELD lookup
    #: (PAHive2ES.scala:66-77); optional WHERE narrows by dt/theme.
    overrides_table: str | None = None
    overrides_where: str | None = None
    index_hive_fields: frozenset[str] = frozenset()  # --index-hive-fields
    index_es_fields: frozenset[str] = frozenset()  # --index-es-fields
    flatten_maps: bool = True  # PA path map handling
    max_map_keys: int = 1000
    output_root: str | None = None  # bundle sink root; None = no write
    es_nodes: str | None = None  # set to write via es-hadoop connector instead
    #: --mapping: user-supplied full mapping JSON.  Reference priority 2
    #: (``ArgsParser.scala:70-72``, ``Hive2ES.scala:82-84``): a hand-tuned
    #: mapping WINS over schema synthesis when provided.
    mapping_json: str | None = None
    #: --final-index-setting: settings applied at publish, merged over the
    #: serving defaults (``ArgsParser.scala:74-76``, ``ESClient.java:251-266``)
    final_index_settings: dict[str, object] = field(default_factory=dict)
    #: --type-name (``ArgsParser.scala:77-79``); keys the synthesized
    #: mapping and the legacy typed es resource
    type_name: str = "doc"
    #: --bulk-actions / --bulk-size(MB) (``ArgsParser.scala:94-104``);
    #: thresholds for the live bulk sink
    bulk_actions: int = 100
    bulk_size_mb: int = 5
    #: --bulk-flush-interval: accepted for reference-CLI compatibility, but
    #: TIME-based flushing has no equivalent on this engine's batch sinks —
    #: the reference's BulkProcessor (``ESContainer.scala:137``) flushes a
    #: live buffer on a timer; es-hadoop and the bundle sink flush every
    #: batch synchronously on the size/count thresholds above.  The
    #: streaming path's trigger interval is the time-based knob.  run_job
    #: warns when a non-default value is set so the no-op is never silent.
    bulk_flush_interval: str = "5s"


def load_type_overrides(
    spark: SparkSession,
    table: str,
    sf_dir: str | None = None,
    where: str | None = None,
) -> dict[str, str]:
    """Per-field ES-type overrides from a metadata table (reference O3:
    ``spark.sql(dataTypeMappingSql).collect()`` -> driver map,
    ``PAHive2ES.scala:66-77``).  The collect is bounded: one row per
    overridden field."""
    rows = read_table(spark, table, sf_dir, where=where).select(
        "index_name", "data_type"
    ).collect()
    return {r["index_name"].strip(): r["data_type"].strip() for r in rows}


def build_documents(spark: SparkSession, cfg: Hive2ESConfig) -> tuple[DataFrame, dict]:
    """The transform half: (routed documents DataFrame, ES mapping dict)."""
    df = read_table(spark, cfg.table, cfg.sf_dir, where=cfg.where)

    if cfg.hive_input_fields and not cfg.json_source:
        # --hive-input-fields projection whitelist: prune at the scan
        # (Catalyst pushes the select into the parquet ReadSchema).  id and
        # routing columns are always retained so the document keys survive.
        keep = set(cfg.hive_input_fields) | {
            c for c in (cfg.id_col, cfg.routing_col) if c
        }
        missing = keep - set(df.columns)
        if missing:
            raise ValueError(f"--hive-input-fields not in {cfg.table}: {sorted(missing)}")
        df = df.select(*[c for c in df.columns if c in keep])

    if cfg.overrides_table:
        table_overrides = load_type_overrides(
            spark, cfg.overrides_table, cfg.sf_dir, cfg.overrides_where
        )
        # explicit dict entries win over the metadata table
        cfg.type_overrides = {**table_overrides, **cfg.type_overrides}

    if cfg.json_source:
        # reference --json-source: row is one JSON string (Hive2ES.scala:48-49)
        col0 = df.columns[0]
        df = document.parse_json_column(df, col0).select(f"{col0}_parsed.*")

    # field-set inference runs on the PRE-flatten schema so the index policy
    # sees the original column names (`tags_il` -> unindexed keys,
    # PAHive2ES.scala:53-64); map keys are discovered once and reused for
    # the flatten below (one aggregation per map column total)
    keys_cache: dict[str, list[str]] = {}
    fields = document.infer_field_set(
        df,
        set(cfg.index_hive_fields),
        set(cfg.index_es_fields),
        max_keys=cfg.max_map_keys,
        map_keys_cache=keys_cache,
        type_overrides=cfg.type_overrides,
    )
    if cfg.mapping_json:
        # user mapping wins over synthesis (reference priority order:
        # Hive2ES.scala:82-84 uses args.mapping when present)
        import json as _json

        mapping = _json.loads(cfg.mapping_json)
    else:
        mapping = synthesize_mapping(fields, doc_type=cfg.type_name)

    if cfg.flatten_maps:
        for col, keys in keys_cache.items():
            df = document.flatten_map_column(df, col, keys=keys)

    # normalize -> scrub -> (_id, _routing, doc) as one fused projection;
    # no id column -> _id = md5(doc), a deterministic hash of the full row
    # (idempotent across reruns, unlike the reference's random fallback
    # Hive2ES.scala:60-62)
    docs = document.project_documents(df, cfg.id_col, cfg.routing_col, cfg.type_overrides)
    if cfg.repartition:
        routed = routing.repartition_for_shards(
            docs, "_routing", cfg.num_shards, cfg.partition_multiple
        )
    else:
        # reference production default: shard id only, no routing exchange —
        # pre-clustered input keeps its partitioning and the sink splits by
        # the _shard column locally per task
        routed = routing.with_shard(docs, "_routing", cfg.num_shards)
    return routed, mapping


def run_job(spark: SparkSession, cfg: Hive2ESConfig) -> dict:
    """Full job: build documents, stage bundle, validate, publish, swap
    alias.  Returns the published manifest."""
    routed, mapping = build_documents(spark, cfg)
    if cfg.bulk_flush_interval != "5s":
        import warnings

        warnings.warn(
            "--bulk-flush-interval is accepted for reference-CLI "
            "compatibility only: batch sinks flush on --bulk-actions/"
            "--bulk-size thresholds, not time; use the streaming ingest "
            "trigger for time-based flushing",
            stacklevel=2,
        )
    if cfg.es_nodes:
        # one resource convention: es_write_conf owns es.resource (typed only
        # for legacy clusters via type_name); save() takes no path so the
        # conf is never overridden by a second, inconsistent resource string
        conf = es_write_conf(
            cfg.index_name,
            nodes=cfg.es_nodes,
            bulk_actions=cfg.bulk_actions,
            bulk_bytes=cfg.bulk_size_mb * 1024 * 1024,
            type_name=cfg.type_name if cfg.type_name != "doc" else None,
        )
        (
            routed.drop("_shard")
            .write.format("org.elasticsearch.spark.sql")
            .options(**conf)
            .mode("append")
            .save()
        )
        return {"index": cfg.index_name, "sink": "elasticsearch", "mapping": mapping}
    if not cfg.output_root:
        raise ValueError("config needs output_root (bundle sink) or es_nodes")
    bundle.write_bundle(
        routed,
        cfg.output_root,
        cfg.index_name,
        cfg.num_shards,
        mapping=mapping,
        final_settings=cfg.final_index_settings,
    )
    return bundle.publish_bundle(
        cfg.output_root, cfg.index_name, alias=cfg.alias or _derive_alias(cfg.index_name)
    )


def _derive_alias(index_name: str) -> str | None:
    """Reference derives alias by stripping the date suffix
    (``PAHive2ES.scala:41-42``: ``name_yyyymmdd`` -> ``name``)."""
    if "_" in index_name:
        base, suffix = index_name.rsplit("_", 1)
        if suffix.isdigit():
            return base
    return None


def main(argv: list[str] | None = None) -> None:
    """CLI mirroring the reference's scopt surface (``ArgsParser.scala``)."""
    p = argparse.ArgumentParser(prog="hive2es", description=__doc__)
    p.add_argument("--table", required=True, help="source table (metastore or name under --sf-dir)")
    p.add_argument("--index-name", required=True)
    p.add_argument("--sf-dir", default=None, help="parquet table root (omit for Hive metastore)")
    p.add_argument("--where", default=None)
    p.add_argument("--id", dest="id_col", default=None)
    p.add_argument("--routing", dest="routing_col", default=None)
    p.add_argument("--number-of-shards", type=int, default=3)
    p.add_argument(
        "--repartition", choices=["true", "false"], default="false",
        help="co-locate rows by ES shard before the sink (reference default: false)",
    )
    p.add_argument("--partition-multiples", type=int, default=10)
    p.add_argument(
        "--hive-input-fields", default="",
        help="comma list restricting which source columns are indexed",
    )
    p.add_argument("--alias", default=None)
    p.add_argument("--json-source", action="store_true")
    p.add_argument("--output-root", default=None)
    p.add_argument("--es-nodes", default=None)
    p.add_argument(
        "--index-hive-fields", default="",
        help="comma list of source fields to force-index despite *_il/*_ex",
    )
    p.add_argument(
        "--index-es-fields", default="",
        help="comma list of ES field names to force-index",
    )
    p.add_argument(
        "--overrides-table", default=None,
        help="metadata table with (index_name, data_type) per-field type overrides",
    )
    p.add_argument("--overrides-where", default=None)
    p.add_argument("--no-flatten-maps", action="store_true")
    p.add_argument(
        "--mapping", default=None,
        help="full mapping JSON (or @/path/to/file); wins over schema synthesis",
    )
    p.add_argument(
        "--final-index-setting", action="append", default=[],
        metavar="KEY=VALUE",
        help="index setting applied at publish (repeatable), e.g. number_of_replicas=2",
    )
    p.add_argument("--type-name", default="doc")
    p.add_argument("--bulk-actions", type=int, default=100)
    p.add_argument("--bulk-size", type=int, default=5, help="bulk flush threshold, MB")
    p.add_argument("--bulk-flush-interval", default="5s")
    a = p.parse_args(argv)

    mapping_json = a.mapping
    if mapping_json and mapping_json.startswith("@"):
        with open(mapping_json[1:]) as f:
            mapping_json = f.read()
    final_settings: dict[str, object] = {}
    for kv in a.final_index_setting:
        k, _, v = kv.partition("=")
        final_settings[k.strip()] = v.strip()

    from ..session import get_spark

    cfg = Hive2ESConfig(
        table=a.table,
        index_name=a.index_name,
        sf_dir=a.sf_dir,
        where=a.where,
        id_col=a.id_col,
        routing_col=a.routing_col,
        num_shards=a.number_of_shards,
        partition_multiple=a.partition_multiples,
        repartition=a.repartition == "true",
        hive_input_fields=frozenset(f for f in a.hive_input_fields.split(",") if f),
        alias=a.alias,
        json_source=a.json_source,
        output_root=a.output_root,
        es_nodes=a.es_nodes,
        index_hive_fields=frozenset(f for f in a.index_hive_fields.split(",") if f),
        index_es_fields=frozenset(f for f in a.index_es_fields.split(",") if f),
        overrides_table=a.overrides_table,
        overrides_where=a.overrides_where,
        flatten_maps=not a.no_flatten_maps,
        mapping_json=mapping_json,
        final_index_settings=final_settings,
        type_name=a.type_name,
        bulk_actions=a.bulk_actions,
        bulk_size_mb=a.bulk_size,
        bulk_flush_interval=a.bulk_flush_interval,
    )
    # metastore input (no --sf-dir) needs a Hive-enabled session, exactly as
    # the reference always builds one (Hive2ES.scala:33-37); file input
    # doesn't, and skipping it avoids spinning up a Derby metastore.
    manifest = run_job(
        get_spark("hive2es-job", enable_hive=cfg.sf_dir is None), cfg
    )
    print(manifest)


if __name__ == "__main__":
    main()
