#!/usr/bin/env python3
"""Benchmark headline queries at $SPARK_GRAFT_SF_DIR (default sf0.1).

Prints ONE JSON line:
  {"metric": "total_sec", "value": N, "unit": "sec",
   "queries": {name: sec, ...}, "sf": "..."}

Each query executes end-to-end into the noop sink (full plan, no driver
collect overhead).  The set covers the reference's document pipeline
(e2e_docs = scan -> normalize -> route -> JSON docs, its entire production
workload) plus the relational + LLM-pipeline operators.
"""

from __future__ import annotations

import json
import os
import re
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import __spark_entry__ as entry_mod
from hive2es_offline_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# JVM log hygiene: route driver/executor log4j output to a file instead of
# the console so a late log (e.g. the benign accumulator-update race from a
# just-finished job, seen in BENCH_r05's tail) can never contaminate the
# bench's output stream.  After the run the file is scanned: benign stacks
# are counted into the JSON, anything unexpected fails the bench loudly.
_BENIGN_STACK_MARKERS = (
    # accumulator updates racing job teardown (SPARK-helpfully logged at
    # ERROR by DAGScheduler.updateAccumulators but harmless post-completion)
    "updateAccumulators",
    "Attempted to access garbage collected accumulator",
)


def _jvm_log_conf() -> tuple[str, str]:
    """Write a log4j2 config routing everything >=WARN to a temp file;
    returns (config_path, log_path)."""
    d = tempfile.mkdtemp(prefix="bench_jvmlog_")
    log_path = os.path.join(d, "jvm.log")
    conf_path = os.path.join(d, "log4j2.properties")
    with open(conf_path, "w") as f:
        f.write(
            "rootLogger.level = warn\n"
            "rootLogger.appenderRef.file.ref = FileAppender\n"
            "appender.file.type = File\n"
            "appender.file.name = FileAppender\n"
            f"appender.file.fileName = {log_path}\n"
            "appender.file.layout.type = PatternLayout\n"
            "appender.file.layout.pattern = %d{HH:mm:ss} %p %c: %m%n%ex\n"
        )
    return conf_path, log_path


def _scan_jvm_log(log_path: str) -> tuple[int, list[str]]:
    """Split the JVM log into entries; return (benign_stack_count,
    unexpected_entries).  An entry is 'stacky' if it carries exception
    frames (\\tat ...) or an exception class name."""
    if not os.path.exists(log_path):
        return 0, []
    entries: list[str] = []
    cur: list[str] = []
    ts = re.compile(r"^\d\d:\d\d:\d\d ")
    with open(log_path, errors="replace") as f:
        for line in f:
            if ts.match(line) and cur:
                entries.append("".join(cur))
                cur = []
            cur.append(line)
    if cur:
        entries.append("".join(cur))
    benign = 0
    unexpected = []
    for e in entries:
        stacky = "\tat " in e or "Exception" in e or "Error" in e
        if not stacky:
            continue
        if any(m in e for m in _BENIGN_STACK_MARKERS):
            benign += 1
        else:
            unexpected.append(e)
    return benign, unexpected

BENCH_QUERIES = [
    "scan_filter",
    "agg_group",
    "join_inner",
    "window_rank",
    "topk",
    "sessionize",
    "tumbling_window",
    "text_stats",
    "dedup_exact",
    "dedup_minhash",
    "sim_search",
    "partition_counts",
    "asof_join",
    "ngram_jaccard",
    "rollup_cube",
    "map_flatten",
    # round-3 LLM-pipeline additions: corpus-LM scoring (two corpus passes
    # + broadcast vocab) and cross-document boilerplate removal
    "lm_score",
    "line_dedup",
    # the write path: stage a real shard-partitioned bundle + atomic publish
    # (the reference's actual production job, not just the transforms)
    "publish_swap",
    # round-4 additions: embedding-space dedup (k-means cells + in-cell
    # pairs + components), distributed PCA (moments + driver eigh +
    # whitened projection), and the trainer hand-off export (sharded gzip
    # JSONL, staged + atomically published)
    "semantic_dedup",
    "embed_pca",
    "jsonl_export",
    # round-5 additions: the daily-maintenance write path a 100 TB lake
    # actually runs — merge-by-rewrite snapshot upsert (partition-pruned,
    # atomic CURRENT swap) and small-file compaction (bytes-sized rewrite)
    "snapshot_upsert",
    "compact_table",
    # round-5 retrieval + monitoring surfaces: hybrid BM25+vector RRF
    # fusion, PSI column-drift between corpus halves, and the composed
    # multimodal loop (real PNG codecs -> features -> WebDataset shards)
    "hybrid_search",
    "data_drift",
    "multimodal_prepare",
    # round-6 additions: the remaining daily-ops sinks — WebDataset tar
    # shards (Arrow-batched tar framing) and Morton-key clustering rewrite —
    # plus the new audio (WAV decode + spectral features) and video (AVI
    # parse -> MJPEG decode -> PNG frames -> features) modality loops
    "webdataset_export",
    "zorder_layout",
    "audio_features",
    "video_frames",
    # round-7 additions: the composed curation pass (single-action lazy
    # pipeline over PII scrub -> quality -> repetition -> decontamination
    # -> dedup -> chunking; guards the persist work in jobs/curate.py from
    # regressing the composition) and the exercised HTTP bulk transport
    # (in-process stub /_bulk with injected 503s, so the timed path
    # includes batch framing + retry/backoff + response parsing)
    "curation_pipeline",
    "bulk_write_http",
    # round-8 additions: the Lucene query_string entry point (parse ->
    # single-predicate scan) and BM25 score-context ranking (tokenize ->
    # term-partial map join -> TakeOrderedAndProject)
    "es_query_string",
    "es_scored_search",
    # round-9 additions: term-suggester vocabulary pass (tokenize ->
    # vocab groupBy -> literal-array candidate join) and gauss decay
    # scoring (closed-form codegen over the scored frame)
    "es_suggest",
    "es_decay_score",
    # round-10 additions: the completion-suggester path (prefix +
    # fuzzy-levenshtein + context gate, three arms), all six multi_match
    # types in one row (incl. the blended-df cross_fields maps), and the
    # parent-child join-field arms (child-side aggregate semi-join +
    # scored has_child)
    "es_completion",
    "es_multi_match_types",
    "es_parent_child",
    # round-11 additions: the english analysis chain on the match path
    # (six per-step stemmer transforms — guards the chain against
    # tree-explosion regressions), batch percolation (N stored queries
    # gated in one scan), URL canonicalize+dedup (regex pipeline + one
    # hash shuffle), and the exact-BPE budget pass (broadcast merges +
    # Arrow mapInPandas — the deliberate Python-path row)
    "es_match_english",
    "es_percolate",
    "url_dedup",
    "token_budget",
    # round-12 additions: the folded-French chain on the match path, the
    # rate/normalize dashboard aggs, geo_shape's three relations in one
    # scan, perceptual image dedup (real codec decode + dHash + blocked
    # pair join — a deliberate Python-path row), ip_prefix/geo_line
    # aggregations, and the _terms_enum/_rank_eval read APIs
    "es_match_folded",
    "es_rate_normalize",
    "es_geo_shape",
    "image_dedup",
    "es_ip_prefix",
    "es_geo_line",
    "es_terms_enum",
    "es_rank_eval",
    # round-13 additions: the german/italian chains on the match path,
    # categorize_text (log-pattern clustering), change_point beside its
    # histogram, search_as_you_type's materialized shingle subfields,
    # variable_width_histogram's distinct-reduce clustering, the
    # aggregation tail (cumulative_cardinality's first-seen pass,
    # random_sampler's gated scan, hex_grid axial binning,
    # extended_stats_bucket's reduce-phase moments, time_series
    # per-series rollup), the response-shaping search body
    # (post_filter + fields + script_fields), and the ES|QL pipeline
    # compiler (FROM|WHERE|EVAL|STATS|SORT over lineitem)
    "es_match_german",
    "es_match_italian",
    "es_categorize_text",
    "es_change_point",
    "es_search_as_you_type",
    "es_variable_width",
    "es_cumulative_cardinality",
    "es_random_sampler",
    "es_hex_grid",
    "es_extended_stats_bucket",
    "es_time_series",
    "es_response_fields",
    "es_esql",
    "es_esql_lookup",
    "quality_classifier",
    # round-14 additions: ES|QL BUCKET (hourly STATS BY over events),
    # INLINESTATS (hash-partitioned window over orders) and ENRICH
    # (broadcast policy join), the sparse_vector learned-sparse dot
    # product (tf encoder + plan-literal query expansion), the russian
    # and cjk chains on the match path, and slot-aligned perceptual
    # video dedup (a deliberate Python-path row: frame sampling +
    # per-frame dHash)
    "es_esql_bucket",
    "es_esql_inlinestats",
    "es_esql_enrich",
    "es_sparse_vector",
    "es_match_russian",
    "es_match_cjk",
    "video_dedup",
    # round-14 second batch: the dutch chain on the match path, the
    # query-rules rewrite (driver-side criteria → pinned/bool; the row
    # prices at its organic query's cost by construction), the ES|QL
    # SAMPLE/CATEGORIZE/CHANGE_POINT/FORK commands, and weighted_tokens
    "es_match_dutch",
    "es_rule_query",
    "es_esql_sample",
    "es_esql_categorize",
    "es_esql_changepoint",
    "es_esql_fork",
    "es_weighted_tokens",
    # round-14 third batch: the linear retriever (weighted normalized
    # fusion) and late-interaction maxSim over a multi-vector field
    "es_retriever_linear",
    "es_max_sim",
    "es_esql_fuse",
    # round-15 additions: ES|QL full-text WHERE functions (MATCH into
    # the DSL match compiler, QSTR into the query-string grammar — one
    # pushdown-eligible codegen filter + STATS) and the spatial
    # functions (ST_WITHIN ray-cast + ST_DISTANCE haversine in one
    # codegen filter, ST_X/ST_Y grid STATS)
    "es_esql_match",
    "es_esql_spatial",
    "es_esql_ip",
    # the third retriever kind: BM25 child window broadcast back onto
    # the corpus, deterministic linear rerank in codegen — and the
    # ES|QL RERANK command on the same seam (filter -> codegen rescore
    # -> TakeOrderedAndProject)
    "es_retriever_rerank",
    "es_esql_rerank",
    # the spatial grid scalar functions grouping a STATS (one
    # aggregation exchange, pure codegen bit math)
    "es_esql_grid",
    # per-aggregate WHERE + the aggregate tail (WEIGHTED_AVG/STD_DEV/
    # TOP/VALUES) in ONE groupBy
    "es_esql_stats",
    # IP_PREFIX mask+render, DATE_PARSE round-trip, MD5 digest in one
    # filter + aggregation
    "es_esql_fn",
    # MV percentile family over the real array<float> column + the
    # HASH/base64/byte-length string tail (one projection + one STATS)
    "es_esql_fn2",
    # exact per-group MAD (collect buffer) + centroid/extent
    # min/max/decimal-sum aggregates in one exchange
    "es_esql_spatial_agg",
    # TO_VERSION semver ordering key feeding one TakeOrderedAndProject
    "es_esql_version",
    # semantic query: analysis-chain-as-inference rewrite onto the
    # sparse_vector dot product (scan-riding score, top-k heap)
    "es_semantic",
    # KS doc-count test: one terms exchange + reduce-phase CDF windows
    "es_ks_test",
    # FIRST/LAST struct-min aggregates + deterministic SAMPLE in one
    # STATS exchange
    "es_esql_first_last",
    # ROUND_TO banding + date names, one projection + one STATS
    "es_esql_fn3",
    # pinned root over a rescorer child: bounded window collect +
    # In-pushdown doc fetch + pin isin
    "es_retriever_pinned",
    # METADATA _score: 1-row corpus-stats subquery + row-local BM25
    # riding the scan into a TakeOrderedAndProject
    "es_esql_score",
    # ES|QL KNN: one bounded boundary job + a scan-riding cosine
    "es_esql_knn",
]


def _cpu_pressure() -> dict | None:
    """Sample /proc/pressure/cpu: {'avg10': float, 'total_us': int} for the
    'some' line, or None where PSI is unavailable.  Stamped into the bench
    JSON so a loaded-machine run is visible in the artifact itself (the
    committed BENCH_r07.json was such a run — four phantom regressions)."""
    try:
        with open("/proc/pressure/cpu") as f:
            for line in f:
                if line.startswith("some"):
                    kv = dict(p.split("=") for p in line.split()[1:])
                    return {"avg10": float(kv["avg10"]),
                            "total_us": int(kv["total"])}
    except OSError:
        return None
    return None


def run_noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def main() -> None:
    psi_before = _cpu_pressure()
    wall_start = time.perf_counter()
    conf_path, log_path = _jvm_log_conf()
    spark = get_spark(
        "hive2es-bench",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions": f"-Dlog4j2.configurationFile=file:{conf_path}",
        },
    )

    # JVM / codegen warm-up on a tiny table
    spark.read.parquet(os.path.join(SF_DIR, "region.parquet")).count()

    queries = entry_mod.queries()
    timings: dict[str, float] = {}
    medians: dict[str, float] = {}

    def measure(name, plan_fn, runs=3):
        # One UNTIMED warm-up run per query (pays whole-stage-codegen compile
        # and JIT outside the clock — the r4 bench "regression" was exactly
        # this cost plus machine contention landing in the timed window; see
        # BENCH_DIAGNOSIS_r05.md), then n timed runs reporting min AND median
        # so a contended run is visible instead of silently inflating min.
        run_noop(plan_fn())
        times = []
        for _ in range(runs):
            t0 = time.perf_counter()
            run_noop(plan_fn())
            times.append(time.perf_counter() - t0)
        times.sort()
        timings[name] = round(times[0], 3)
        medians[name] = round(times[len(times) // 2], 3)

    measure("e2e_docs", lambda: entry_mod.entry_docs(spark, SF_DIR))
    for name in BENCH_QUERIES:
        measure(name, lambda n=name: queries[n](spark, SF_DIR))

    total = round(sum(timings.values()), 3)
    spark.stop()
    # load attestation: CPU-stall share of the whole bench wall window.
    # The bench itself saturates local[32] in bursts, so nonzero stall is
    # normal — the flag key is external load BEFORE the run (avg10_before)
    # plus an unusually high stall_pct vs the round's baseline.
    psi_after = _cpu_pressure()
    wall = time.perf_counter() - wall_start
    attestation = None
    if psi_before and psi_after:
        attestation = {
            "avg10_before": psi_before["avg10"],
            "avg10_after": psi_after["avg10"],
            "stall_pct": round(
                100.0 * (psi_after["total_us"] - psi_before["total_us"])
                / (wall * 1e6), 2,
            ),
        }
    benign_stacks, unexpected = _scan_jvm_log(log_path)
    if unexpected:
        sys.stderr.write(
            f"bench: {len(unexpected)} unexpected JVM log entr(ies):\n"
            + "\n---\n".join(e[:2000] for e in unexpected[:5])
            + "\n"
        )
        raise SystemExit(1)
    payload = {
        "metric": "total_sec",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "queries_median": medians,
        "jvm_benign_stacks": benign_stacks,
        "cpu_pressure": attestation,
        "sf": SF_DIR.rstrip("/").rsplit("sf", 1)[-1],
    }
    # Self-contained sidecar (VERDICT r14 #6): the harness that records
    # the stdout line keeps only a bounded 2000-char tail, which the
    # ~4 kB line outgrew in r13/r14 ("parsed": null in the headline
    # artifacts).  EVERY bench run therefore also writes the full
    # parsed payload next to bench.py, so whoever ran it — the driver
    # included — leaves a json.load-able artifact in the tree.
    sidecar = {
        "rc": 0,
        "cpus": os.environ.get("SPARK_GRAFT_CPUS", ""),
        "sf_dir": SF_DIR,
        "parsed": payload,
    }
    sidecar_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)),
        "BENCH_FULL_LATEST.json")
    with open(sidecar_path, "w") as fh:
        json.dump(sidecar, fh, indent=2)
        fh.write("\n")
    print(
        json.dumps(
            payload,
            # compact separators: the bounded-tail problem above — every
            # byte of the one-line contract counts (tools/record_bench.py
            # and the sidecar carry the full payload regardless)
            separators=(",", ":"),
        )
    )


if __name__ == "__main__":
    main()
