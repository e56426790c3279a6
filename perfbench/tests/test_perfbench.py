"""Tests of the benchmark itself: inputs are a function of the seed, every
correctness check counts a corrupted result as a failure, and each
workload runs end to end and prints every metric with its unit.

    python -m pytest perfbench/tests -q

The smoke tests start Spark (about a minute per workload); the rest need
only DuckDB and pyarrow.
"""

from __future__ import annotations

import itertools
import json
import os
import subprocess
import sys
from pathlib import Path

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

ROOT = Path(__file__).resolve().parents[2]
sys.path.insert(0, str(ROOT))

from hive2es_offline_spark.functions.es_hash import es_routing_hash  # noqa: E402
from perfbench import datagen, metrics  # noqa: E402
from perfbench import workloads as W  # noqa: E402

BENCH = json.loads((ROOT / "BENCHMARK.json").read_text())


# -- the metric table and BENCHMARK.json agree --------------------------------

def test_benchmark_json_matches_metric_table():
    assert BENCH["end_to_end"] == [
        {"name": m.name, "unit": m.unit, "better": m.better, "bound": m.bound}
        for m in metrics.END_TO_END]
    assert BENCH["per_layer"] == [
        {"name": m.name, "unit": m.unit, "better": m.better} for m in metrics.PER_LAYER]
    assert all(m.moves for m in metrics.PER_LAYER)
    assert {w["name"] for w in BENCH["workloads"]} <= set(W.WORKLOADS)
    assert any(m.name == "setup_s" and m.bound == max(x.bound for x in metrics.END_TO_END)
               for m in metrics.END_TO_END)


# -- same seed, same inputs --------------------------------------------------

SMALL = {"lineitem": 3000, "documents": 300, "embeddings": 200}


def test_same_seed_regenerates_identical_inputs(tmp_path):
    a = datagen.write_tables(str(tmp_path / "a"), 7, SMALL)
    b = datagen.write_tables(str(tmp_path / "b"), 7, SMALL)
    c = datagen.write_tables(str(tmp_path / "c"), 8, SMALL)
    for name in SMALL:
        ta, tb, tc = (pq.read_table(p[name]) for p in (a, b, c))
        assert ta.equals(tb), name
        assert not ta.equals(tc), name


@pytest.mark.parametrize("name", sorted(W.WORKLOADS))
def test_same_seed_regenerates_identical_operations(tmp_path, name):
    def stream(seed, sub):
        wl = W.WORKLOADS[name](seed, str(tmp_path / sub), scale=0.01)
        return [(o.name, o.params, o.round_end) for o in itertools.islice(wl.ops(), 15)]

    assert stream(3, "a") == stream(3, "b")
    assert stream(3, "a") != stream(4, "c") or name == "curate_batch"


def test_curation_batches_overlap_and_repeat(tmp_path):
    def split(sub):
        wl = W.CurateBatch(5, str(tmp_path / sub), scale=0.1)
        wl.prepare()
        return wl.ids

    a, b = split("a"), split("b")
    assert a == b
    assert a["day1"] & a["day2"], "daily batches must overlap"
    assert a["day1"] | a["day2"] == set(range(len(a["day1"] | a["day2"])))


# -- each check counts a corrupted result as a failure ------------------------

def _bundle(root: Path, index: str, rows: list[tuple[str, int]]) -> None:
    """A published bundle holding one document per routing key."""
    for shard in range(W.NUM_SHARDS):
        d = root / index / f"shard={shard}"
        d.mkdir(parents=True)
        keys = [k for k, s in rows if s == shard]
        pq.write_table(pa.table({"_id": keys, "_routing": keys, "doc": ["{}"] * len(keys)}),
                       d / "part-0.parquet")


def _index_case(tmp_path, corrupt=None):
    wl = W.IndexBuild(9, str(tmp_path), scale=0.0)
    wl.prepare()
    op = next(wl.ops())
    con = W.duck(wl.data, wl.tables)
    keys = [k for (k,) in con.sql(
        f"SELECT CAST(l_orderkey AS VARCHAR) FROM lineitem WHERE {op.params['where']}").fetchall()]
    rows = [(k, es_routing_hash(k) % W.NUM_SHARDS) for k in keys]
    counts = {}
    for _, s in rows:
        counts[str(s)] = counts.get(str(s), 0) + 1
    payload = {"manifest": {"index": op.name, "doc_count": len(rows), "shard_counts": counts},
               "alias_target": op.name, "tmp_left": False}
    if corrupt:
        rows = corrupt(payload, rows)
    _bundle(Path(wl.out), op.name, rows)
    res = W.Result(op, payload=payload)
    wl.check([res])
    return res.failures


def _off_by_one(payload, rows):
    payload["manifest"]["doc_count"] += 1
    return rows


def _wrong_shard(payload, rows):
    # every key moves to the next shard; the manifest is left as written
    return [(k, (s + 1) % W.NUM_SHARDS) for k, s in rows]


def _stale_alias(payload, rows):
    payload["alias_target"] = "lineitem_20000101"
    return rows


def _staging_left(payload, rows):
    payload["tmp_left"] = True
    return rows


def _lost_doc(payload, rows):
    return rows[1:]


def test_index_check_passes_a_correct_bundle(tmp_path):
    assert _index_case(tmp_path) == []


@pytest.mark.parametrize("corrupt", [_off_by_one, _wrong_shard, _stale_alias,
                                     _staging_left, _lost_doc])
def test_index_check_counts_corruption(tmp_path, corrupt):
    assert _index_case(tmp_path, corrupt)


def _search_case(tmp_path, name, corrupt=None):
    wl = W.SearchMix(4, str(tmp_path), scale=0.05)
    wl.prepare()
    op = next(o for o in wl.ops() if o.name == name)
    con = W.duck(wl.data, wl.tables)
    if name.startswith("es_"):
        import __spark_entry__ as entry

        got = con.sql(entry._all_goldens()[name]).df()
    else:
        got = con.sql(W.render(name, op.params)[2]).df()
    if corrupt:
        got = corrupt(got)
    res = W.Result(op, payload=got)
    wl.check([res])
    return res.failures


SEARCH_NAMES = sorted({name for _, name in W.ROUND})


@pytest.mark.parametrize("name", SEARCH_NAMES)
def test_search_check_passes_the_reference(tmp_path, name):
    assert _search_case(tmp_path, name) == []


@pytest.mark.parametrize("name", SEARCH_NAMES)
def test_search_check_counts_a_dropped_hit(tmp_path, name):
    assert _search_case(tmp_path, name, lambda df: df.iloc[1:])


@pytest.mark.parametrize("name", ["match_bm25", "filter_topk", "es_retriever_rrf"])
def test_search_check_counts_a_changed_value(tmp_path, name):
    def bump(df):
        df = df.copy()
        col = [c for c in df.columns if df[c].dtype.kind == "f"][0]
        df.loc[df.index[0], col] += 0.01
        return df

    assert _search_case(tmp_path, name, bump)


def test_search_check_counts_swapped_order(tmp_path):
    assert _search_case(tmp_path, "filter_topk", lambda df: df.iloc[::-1])


def _curate_case(tmp_path, corrupt=None):
    wl = W.CurateBatch(6, str(tmp_path), scale=0.1)
    wl.prepare()
    op = next(wl.ops())
    ids = sorted(wl.ids[op.name])[: len(wl.ids[op.name]) // 2]
    export = tmp_path / "export"
    export.mkdir()
    report = {"input_rows": len(wl.ids[op.name]), "after_near_dup": len(ids),
              "signature_store_version": 1, "export": {"row_count": len(ids)}}
    if corrupt:
        ids = corrupt(report, ids)
    with open(export / "part-00000.json", "w") as fh:
        fh.writelines(json.dumps({"doc_id": i}) + "\n" for i in ids)
    res = W.Result(op, payload={"report": report, "export": str(export)})
    wl.check([res])
    return res.failures


def test_curate_check_passes_a_consistent_day(tmp_path):
    assert _curate_case(tmp_path) == []


@pytest.mark.parametrize("corrupt", [
    lambda rep, ids: ids + ids[:1],  # a duplicate id
    lambda rep, ids: ids + [10**9],  # an id that was never input
    lambda rep, ids: ids[1:],  # the export lost a row the report counts
    lambda rep, ids: (rep.update(signature_store_version=2), ids)[1],  # version skipped
])
def test_curate_check_counts_corruption(tmp_path, corrupt):
    assert _curate_case(tmp_path, corrupt)


def test_compare_frames_ignores_row_order_only_when_told():
    import pandas as pd

    a = pd.DataFrame({"k": [1, 2], "v": [0.5, 0.25]})
    assert W.compare_frames(a.iloc[::-1], a, ordered=False) == []
    assert W.compare_frames(a.iloc[::-1], a, ordered=True)
    assert W.compare_frames(a.drop(columns="v"), a, ordered=False)


def test_duckdb_reads_what_the_runner_writes(tmp_path):
    # the curate check reads the export as newline-delimited JSON
    p = tmp_path / "part-00000.json"
    p.write_text('{"doc_id": 1}\n{"doc_id": 2}\n')
    rows = duckdb.sql(f"SELECT doc_id FROM read_json('{tmp_path}/part-*', "
                      "format = 'newline_delimited')").fetchall()
    assert rows == [(1,), (2,)]


# -- smoke: every workload runs and prints every metric with its unit ---------

def _run(workload: str, trace: int) -> tuple[int, dict]:
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "1",
         "--seconds", "1", "--trace", str(trace), "--scale", "0.01"],
        cwd=ROOT, capture_output=True, text=True, timeout=600)
    return p.returncode, json.loads(p.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload", sorted(W.WORKLOADS))
def test_smoke_prints_every_end_to_end_metric(workload):
    rc, line = _run(workload, 0)
    assert rc == 0 and line["correct"] and line["failed"] == 0 and line["attempted"] >= 1
    assert set(line) == {"correct", "attempted", "failed", "metrics"}
    want = {m["name"]: m["unit"] for m in BENCH["end_to_end"]}
    assert {k: v["unit"] for k, v in line["metrics"].items()} == want
    assert all(v["value"] > 0 for v in line["metrics"].values())


def test_smoke_traced_prints_every_per_layer_metric():
    rc, line = _run("index_build", 1)
    assert rc == 0 and line["correct"]
    want = {m["name"]: m["unit"] for m in BENCH["per_layer"]}
    assert {k: v["unit"] for k, v in line["metrics"].items()} == want
    got = {k: v["value"] for k, v in line["metrics"].items()}
    for name in ("session.get_spark_s", "sources.py4j_calls", "jobs.hive2es.build_documents_ms",
                 "sinks.bundle.write_bundle_jobs", "spark.jobs_per_op", "trace.op_p50_ms"):
        assert got[name] > 0, name


def test_without_engine_sources_it_fails_without_a_result(tmp_path):
    # a directory holding only the benchmark: no engine to run
    (tmp_path / "perfbench").mkdir()
    for f in (ROOT / "perfbench").glob("*.py"):
        (tmp_path / "perfbench" / f.name).write_text(f.read_text())
    (tmp_path / "BENCHMARK.json").write_text((ROOT / "BENCHMARK.json").read_text())
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "index_build",
                        "--seed", "1", "--seconds", "1", "--trace", "0"],
                       cwd=tmp_path, capture_output=True, text=True, timeout=120, env=env)
    assert p.returncode != 0
    assert p.stdout.strip() == ""
