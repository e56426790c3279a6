#!/usr/bin/env python3
"""Run one benchmark workload against the engine and print its metrics.

    python3 perfbench/run.py --workload index_build --seed 1 --seconds 10 --trace 0

Workloads (``perfbench/workloads.py``):

* ``index_build``  -- repeated ``jobs.hive2es.run_job`` calls, one fresh
  daily index each, routed on ``l_orderkey``, bundle sink + alias swap;
* ``search_mix``   -- one analyst in a closed loop: query-DSL bodies and
  ES|QL pipelines compiled through the ``plans`` entry points, collected;
* ``curate_batch`` -- two days of ``jobs.curate.run_curation`` against one
  signature store, repeated as pairs.

All inputs are generated from ``--seed`` under ``.perfbench/`` in the
checkout.  One Spark session serves the run: set-up (session start plus a
warm-up of the workload's code paths) is timed as ``setup_s``, then
operations run in whole rounds until ``--seconds`` have passed.  Every result is checked against an independent reference after the
timed loop.  ``--trace 1`` runs the same workload with spans, py4j counts
and Spark's event log, and prints the per-layer metrics instead.

The last line of standard output is one JSON object::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

and the full record (per-operation times, host load, spans) goes to
``.perfbench/<workload>-seed<seed>-trace<t>.json``.  The exit code is 0
only when every check passed.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
OUT_DIR = ROOT / ".perfbench"
#: stop starting rounds after this long, whatever --seconds says, so a
#: stalled host still ends the run well inside its time limit
LOOP_CAP_S = 100.0


def _percentile(xs: list[float], q: float) -> float:
    xs = sorted(xs)
    pos = (len(xs) - 1) * q
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def _prepare_env(work: Path, cpus: int) -> None:
    """Launch environment of the Spark JVM and its Python workers: workers
    import the engine (the es_hash Arrow UDF runs there), and every scratch
    file stays inside the run's work directory."""
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH", "")) if p)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    for sub in ("tmp", "local"):
        (work / sub).mkdir(parents=True, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "local")
    os.environ["TMPDIR"] = str(work / "tmp")
    tempfile.tempdir = str(work / "tmp")


def _cpu_jiffies() -> tuple[int, int]:
    """(steal, total) jiffies over all CPUs from /proc/stat: the share of
    time the hypervisor ran something else while this guest wanted CPU."""
    with open("/proc/stat") as fh:
        vals = [int(x) for x in fh.readline().split()[1:]]
    return vals[7], sum(vals)


def _jvm_peak_rss_mb(spark) -> float:
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return float("nan")


def _stop(spark) -> None:
    """Stop the session and the JVM behind it, and wait for the JVM (and
    with it the Python worker daemons) to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the gateway server exits when stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:  # never leave it running
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


def _install_spans(tracer) -> None:
    import __spark_entry__ as entry
    from hive2es_offline_spark import sources
    from hive2es_offline_spark.jobs import curate, hive2es
    from hive2es_offline_spark.sinks import bundle, export, snapshot

    for owner in (sources, entry, hive2es):
        tracer.wrap(owner, "read_table", "sources.read_table")
    tracer.wrap(hive2es, "run_job", "jobs.hive2es.run_job")
    tracer.wrap(hive2es, "build_documents", "jobs.hive2es.build_documents")
    tracer.wrap(bundle, "write_bundle", "sinks.bundle.write_bundle")
    tracer.wrap(bundle, "publish_bundle", "sinks.bundle.publish_bundle")
    tracer.wrap(curate, "run_curation", "jobs.curate.run_curation")
    tracer.wrap(snapshot, "upsert_snapshot", "sinks.snapshot.upsert_snapshot")
    tracer.wrap(export, "write_jsonl", "sinks.export.write_jsonl")


def end_to_end(results, setup_s: float, rss_mb: float) -> dict[str, float]:
    lat = [r.seconds for r in results]
    return {
        "op_p50_ms": statistics.median(lat) * 1e3,
        "ops_per_s": len(lat) / sum(lat),
        "docs_per_s": sum(r.docs for r in results) / sum(lat),
        "setup_s": setup_s,
        "jvm_peak_rss_mb": rss_mb,
    }


def per_layer(tracer, results, jobs, extra: dict) -> dict[str, float]:
    """Per-layer metrics of a traced run.  Function spans report means per
    call; ``spark.*`` and ``self_ms.*`` are per operation."""
    from perfbench import metrics as M
    from perfbench.trace import jobs_within

    n = len(results)
    in_ops = [s for s in tracer.spans if s.op is not None and s.end]
    by_name: dict[str, list] = {}
    for s in in_ops:
        by_name.setdefault(s.name, []).append(s)

    def mean(xs):
        return sum(xs) / len(xs) if xs else 0.0

    def span_stats(name):
        sp = by_name.get(name, [])
        return (mean([s.ms for s in sp]), mean([s.py4j for s in sp]),
                mean([len(jobs_within(jobs, s.start, s.end)) for s in sp]))

    out: dict[str, float] = dict.fromkeys((m.name for m in M.PER_LAYER), 0.0)
    out.update(extra)
    ms, calls, _ = span_stats("sources.read_table")
    out["sources.read_table_ms"], out["sources.py4j_calls"] = ms, calls
    ms, calls, njobs = span_stats("jobs.hive2es.build_documents")
    out["jobs.hive2es.build_documents_ms"] = ms
    out["jobs.hive2es.build_documents_py4j_calls"] = calls
    out["jobs.hive2es.build_documents_jobs"] = njobs
    ms, _, njobs = span_stats("sinks.bundle.write_bundle")
    out["sinks.bundle.write_bundle_ms"], out["sinks.bundle.write_bundle_jobs"] = ms, njobs
    out["sinks.bundle.publish_bundle_ms"] = span_stats("sinks.bundle.publish_bundle")[0]
    out["sinks.snapshot.upsert_snapshot_ms"] = span_stats("sinks.snapshot.upsert_snapshot")[0]
    out["sinks.export.write_jsonl_ms"] = span_stats("sinks.export.write_jsonl")[0]

    # search: build = plans.build span, exec = spark.collect span, per family
    builds = {s.op: s for s in by_name.get("plans.build", [])}
    collects = {s.op: s for s in by_name.get("spark.collect", [])}
    for fam in (None, *M.SEARCH_FAMILIES):
        ops = [r.op.index for r in results if r.op.index in builds
               and (fam is None or r.op.family == fam)]
        if not ops:
            continue
        b = [builds[i] for i in ops]
        pre = "plans." if fam is None else f"plans.{fam}."
        build_ms = sum(s.ms for s in b)
        exec_ms = sum(collects[i].ms for i in ops if i in collects)
        out[pre + "build_ms"] = statistics.median(s.ms for s in b)
        out[pre + "py4j_calls"] = mean([s.py4j for s in b])
        out[pre + "build_jobs"] = mean([len(jobs_within(jobs, s.start, s.end)) for s in b])
        out[pre + "build_share"] = build_ms / (build_ms + exec_ms)

    op_spans = by_name.get("bench.op", [])
    op_jobs = [j for s in op_spans for j in jobs_within(jobs, s.start, s.end)]
    for key in ("jobs", "stages", "tasks", "tasks_failed", "task_cpu_s", "gc_s",
                "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
                "input_bytes", "python_udf_ms"):
        total = len(op_jobs) if key == "jobs" else sum(j.metrics[key] for j in op_jobs)
        out[f"spark.{key}_per_op"] = total / n
    if any(r.op.family == "day" for r in results):
        out["jobs.curate.jobs"] = len(op_jobs) / n
        out["jobs.curate.stages"] = sum(j.metrics["stages"] for j in op_jobs) / n

    selfs = tracer.self_ms(in_ops)
    for layer in ("bench", "jobs", "plans", "sinks", "sources", "spark"):
        out[f"self_ms.{layer}"] = selfs.get(layer, 0.0) / n
    out["trace.op_p50_ms"] = statistics.median(r.seconds for r in results) * 1e3
    out["trace.py4j_calls_per_op"] = mean([s.py4j for s in op_spans])
    return out


def _curate_stages(results, marks: dict[int, list]) -> dict[str, float]:
    """Stage durations from the public ``stage_cb`` boundary timestamps:
    each stage runs from the previous boundary (or the call's start)."""
    per: dict[str, list[float]] = {}
    for r in results:
        prev = marks.get(r.op.index, [(None, 0.0)])[0][1]
        for name, t in marks.get(r.op.index, [])[1:]:
            per.setdefault(name, []).append((t - prev) * 1e3)
            prev = t
    out = {f"jobs.curate.stage.{k}_ms": statistics.mean(v) for k, v in per.items()}
    kept = [r.payload["report"]["after_near_dup"] / r.payload["report"]["input_rows"]
            for r in results if r.payload]
    if kept:
        out["jobs.curate.kept_ratio"] = statistics.mean(kept)
    return out


def _bundle_files(results, root: str, num_shards: int) -> dict[str, float]:
    files = size = 0
    for r in results:
        for dirpath, _, names in os.walk(os.path.join(root, r.op.name)):
            for f in names:
                if f.endswith(".parquet"):
                    files += 1
                    size += os.path.getsize(os.path.join(dirpath, f))
    n = len(results)
    return {"sinks.bundle.bytes_written": size / n, "sinks.bundle.files_written": files / n,
            "sinks.bundle.files_per_shard": files / n / num_shards}


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, default=10.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", type=float, default=1.0,
                   help="input size relative to the benchmark's (tests use 0.01)")
    a = p.parse_args(argv)

    if not (ROOT / "hive2es_offline_spark" / "__init__.py").is_file() or \
            not (ROOT / "bench.py").is_file():
        sys.stderr.write(f"perfbench: no engine sources under {ROOT}\n")
        return 2
    sys.path.insert(0, str(ROOT))
    from perfbench import workloads as W

    if a.workload not in W.WORKLOADS:
        sys.stderr.write(f"perfbench: unknown workload {a.workload!r}; "
                         f"choose from {sorted(W.WORKLOADS)}\n")
        return 2

    cpus = len(os.sched_getaffinity(0))
    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    work = OUT_DIR / f"{tag}-{os.getpid()}"
    if work.exists():
        shutil.rmtree(work)
    _prepare_env(work, cpus)
    try:
        return _run(a, W, work, tag, cpus)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _run(a, W, work: Path, tag: str, cpus: int) -> int:
    import bench  # the repo bench's JVM log routing, log scan and PSI sampler

    from perfbench import metrics as M
    from perfbench.trace import Tracer, read_event_log

    psi_before = bench._cpu_pressure()
    wl = W.WORKLOADS[a.workload](a.seed, str(work), a.scale)
    wl.prepare()  # inputs are written before the clock starts

    from hive2es_offline_spark.session import get_spark

    log_conf, log_path = bench._jvm_log_conf()
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions":
            f"-Dlog4j2.configurationFile=file:{log_conf} -Djava.io.tmpdir={work / 'tmp'}",
    }
    events = work / "events"
    if a.trace:
        events.mkdir()
        conf.update({"spark.eventLog.enabled": "true", "spark.eventLog.dir": f"file:{events}",
                     "spark.eventLog.compress": "false"})
    tracer = Tracer()

    t0 = time.perf_counter()
    with tracer.span("session.get_spark"):
        spark = get_spark(f"perfbench-{a.workload}", extra_conf=conf)
    t1 = time.perf_counter()
    results: list = []
    marks: dict[int, list] = {}
    try:
        if a.trace:
            tracer.count_py4j(spark)
            _install_spans(tracer)
        with tracer.span("session.warmup"):
            wl.warmup(spark)
        t2 = loop_start = time.perf_counter()
        for op in wl.ops():
            res = W.Result(op)
            tracer.op = op.index
            kwargs = {}
            if a.trace and a.workload == "search_mix":
                kwargs["tracer"] = tracer
            if a.trace and a.workload == "curate_batch":
                marks[op.index] = [("start", time.time())]
                kwargs["stage_cb"] = lambda name, _df, i=op.index: marks[i].append(
                    (name, time.time()))
            s0, j0 = time.perf_counter(), _cpu_jiffies()
            try:
                with tracer.span("bench.op"):
                    wl.run(spark, op, res, **kwargs)
            except Exception as exc:  # noqa: BLE001 -- a failed op is counted, not fatal
                res.failures.append(f"{type(exc).__name__}: {exc}")
                traceback.print_exc(file=sys.stderr)
            res.seconds = time.perf_counter() - s0
            j1 = _cpu_jiffies()
            res.steal_share = (j1[0] - j0[0]) / max(j1[1] - j0[1], 1)
            results.append(res)
            elapsed = time.perf_counter() - loop_start
            if (op.round_end and elapsed >= a.seconds) or elapsed >= LOOP_CAP_S:
                break
        tracer.op = None
        rss_mb = _jvm_peak_rss_mb(spark)
    finally:
        tracer.unwrap_all()
        _stop(spark)

    # checks run after the timed loop, against DuckDB and pure Python
    try:
        wl.check([r for r in results if not r.failures])
    except Exception as exc:  # noqa: BLE001 -- a broken check is a failed run
        traceback.print_exc(file=sys.stderr)
        for r in results:
            r.failures.append(f"check raised {type(exc).__name__}: {exc}")
    benign, unexpected = bench._scan_jvm_log(log_path)
    psi_after = bench._cpu_pressure()

    e2e = end_to_end(results, t2 - t0, rss_mb)
    record = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
        "scale": a.scale, "nproc": cpus, "cpu_pressure_before": psi_before,
        "cpu_pressure_after": psi_after, "session_start_s": t1 - t0,
        "jvm_log_benign_stacks": benign, "jvm_log_unexpected": [u[:500] for u in unexpected],
        "end_to_end": e2e,
        "op_p90_ms": _percentile([r.seconds for r in results], 0.9) * 1e3,
        "op_samples": len(results),
        "ops": [{"index": r.op.index, "family": r.op.family, "name": r.op.name,
                 "params": r.op.params, "seconds": r.seconds, "build_s": r.build_s,
                 "docs": r.docs, "steal_share": r.steal_share, "failures": r.failures}
                for r in results],
    }
    if a.trace:
        jobs = read_event_log(str(events))
        extra = {"session.get_spark_s": t1 - t0, "session.warmup_s": t2 - t1}
        if a.workload == "curate_batch":
            extra.update(_curate_stages(results, marks))
        if a.workload == "index_build":
            extra.update(_bundle_files(results, wl.out, W.NUM_SHARDS))
        metrics = per_layer(tracer, results, jobs, extra)
        record["per_layer"] = metrics
        record["spans"] = tracer.to_json()
        untraced = OUT_DIR / f"{a.workload}-seed{a.seed}-trace0.json"
        if untraced.exists():
            base = json.loads(untraced.read_text())["end_to_end"]
            record["tracing_overhead"] = {k: e2e[k] - base[k] for k in e2e}
        units = {m.name: m.unit for m in M.PER_LAYER}
    else:
        metrics = e2e
        units = {m.name: m.unit for m in M.END_TO_END}
    (OUT_DIR / f"{tag}.json").write_text(json.dumps(record, indent=1, default=str))

    failed = sum(1 for r in results if r.failures)
    for r in results:
        for f in r.failures:
            sys.stderr.write(f"perfbench: {r.op.name} #{r.op.index} failed: {f}\n")
    line = {
        "correct": failed == 0,
        "attempted": len(results),
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units},
    }
    steal = statistics.mean(r.steal_share for r in results)
    print(f"perfbench: {a.workload} seed={a.seed} nproc={cpus} "
          f"cpu_pressure_avg10 before={psi_before and psi_before['avg10']} "
          f"after={psi_after and psi_after['avg10']} steal={steal:.1%} "
          f"record={OUT_DIR.name}/{tag}.json")
    print(json.dumps(line), flush=True)
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
