"""The three workloads: inputs, seeded operation streams, the call into the
engine's public entry point, and the correctness check of each result.

Every workload yields operations in rounds.  The runner stops only at a
round boundary, so each run of a workload executes the same mix of
operations whatever the seed, and the seed changes only the inputs and the
parameters.
"""

from __future__ import annotations

import contextlib
import datetime as dt
import itertools
import math
import os
import time
from dataclasses import dataclass, field

import duckdb
import numpy as np
import pyarrow.parquet as pq

from perfbench import datagen


@dataclass
class Op:
    index: int
    family: str
    name: str
    params: dict = field(default_factory=dict)
    round_end: bool = True


@dataclass
class Result:
    op: Op
    seconds: float = 0.0  # wall time of the operation, set by the runner
    docs: int = 0  # input documents the operation consumed
    build_s: float | None = None  # driver-side plan build (search only)
    steal_share: float = 0.0  # share of CPU time the hypervisor took meanwhile
    payload: object = None  # what the check needs
    failures: list[str] = field(default_factory=list)


# ---------------------------------------------------------------------------
# result comparison shared by the checks
# ---------------------------------------------------------------------------

def _canon(v):
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return None
    if hasattr(v, "isoformat"):
        return str(v.isoformat())[:19]
    if isinstance(v, (bool, np.bool_)):
        return bool(v)
    if isinstance(v, (int, np.integer)):
        return int(v)
    if isinstance(v, (float, np.floating)) or type(v).__name__ == "Decimal":
        return round(float(v), 6)
    return str(v)


def compare_frames(got, want, ordered: bool) -> list[str]:
    """Rows of two pandas frames over the oracle's columns; empty when
    equal.  Floats compare to 6 decimals, timestamps by ISO text."""
    cols = list(want.columns)
    missing = [c for c in cols if c not in got.columns]
    if missing:
        return [f"missing columns {missing}"]
    g = [tuple(_canon(x) for x in r) for r in got[cols].itertuples(index=False, name=None)]
    w = [tuple(_canon(x) for x in r) for r in want[cols].itertuples(index=False, name=None)]
    if not ordered:
        key = lambda r: tuple((x is None, str(x)) for x in r)  # noqa: E731
        g, w = sorted(g, key=key), sorted(w, key=key)
    if len(g) != len(w):
        return [f"{len(g)} rows, oracle has {len(w)}"]
    bad = [i for i, (a, b) in enumerate(zip(g, w)) if a != b]
    if bad:
        i = bad[0]
        return [f"{len(bad)} rows differ; first at {i}: {g[i]} vs {w[i]}"]
    return []


def duck(data_dir: str, tables) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in tables:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    return con


# ---------------------------------------------------------------------------
# index_build: hive2es.run_job, one fresh daily index per operation
# ---------------------------------------------------------------------------

INDEX_ROWS = 150_000
NUM_SHARDS = 3
ROUTING_SAMPLE = 40


def check_index(manifest: dict, expected_docs: int, alias_target: str | None,
                tmp_left: bool, on_disk_docs: int,
                routed: list[tuple[str, int]], num_shards: int) -> list[str]:
    """A published index agrees with an independent count and routing."""
    from hive2es_offline_spark.functions.es_hash import es_routing_hash

    out = []
    if manifest.get("doc_count") != expected_docs:
        out.append(f"doc_count {manifest.get('doc_count')} != reference {expected_docs}")
    shard_sum = sum(int(v) for v in manifest.get("shard_counts", {}).values())
    if shard_sum != manifest.get("doc_count"):
        out.append(f"shard counts sum to {shard_sum}, manifest says {manifest.get('doc_count')}")
    if on_disk_docs != expected_docs:
        out.append(f"{on_disk_docs} documents on disk, reference {expected_docs}")
    if tmp_left:
        out.append("staging directory left behind")
    if alias_target != manifest.get("index"):
        out.append(f"alias resolves to {alias_target}, not {manifest.get('index')}")
    wrong = [(k, s) for k, s in routed if es_routing_hash(k) % num_shards != s]
    if not routed:
        out.append("no routing keys sampled")
    elif wrong:
        out.append(f"{len(wrong)} of {len(routed)} sampled keys on the wrong shard, e.g. {wrong[0]}")
    return out


class IndexBuild:
    name = "index_build"
    tables = ("lineitem",)

    def __init__(self, seed: int, work: str, scale: float = 1.0):
        self.seed, self.work = seed, work
        self.data = os.path.join(work, "data")
        self.out = os.path.join(work, "indices")
        self.rows = max(int(INDEX_ROWS * scale), 2000)

    def prepare(self) -> None:
        datagen.write_tables(self.data, self.seed, {"lineitem": self.rows})

    def ops(self):
        rng = np.random.default_rng([self.seed, 101])
        day0 = dt.date(2026, 1, 1) + dt.timedelta(days=int(rng.integers(0, 300)))
        epoch = dt.date(1992, 1, 1)
        for i in itertools.count():
            # a window of ~60 % of the ship dates: the seed moves it, the
            # job size stays comparable across seeds
            span = int(datagen.SHIP_DAYS * rng.uniform(0.58, 0.62))
            lo = epoch + dt.timedelta(days=int(rng.integers(0, datagen.SHIP_DAYS - span)))
            hi = lo + dt.timedelta(days=span)
            where = (f"l_shipdate >= TIMESTAMP '{lo}' "
                     f"AND l_shipdate < TIMESTAMP '{hi}'")
            day = day0 + dt.timedelta(days=i)
            yield Op(i, "index", f"lineitem_{day:%Y%m%d}", {"where": where})

    def _config(self, index_name: str, where: str | None, sf_dir: str, root: str):
        from hive2es_offline_spark.jobs.hive2es import Hive2ESConfig

        return Hive2ESConfig(table="lineitem", index_name=index_name, sf_dir=sf_dir,
                             where=where, routing_col="l_orderkey",
                             num_shards=NUM_SHARDS, output_root=root)

    def warmup(self, spark) -> None:
        """One whole-table job of the same shape into a throwaway root: the
        first job in a JVM runs about 1.5x slower, and leaving it in the
        timed loop made the median depend on how many jobs fit in the run."""
        from hive2es_offline_spark.jobs.hive2es import run_job

        everything = ("l_shipdate >= TIMESTAMP '1992-01-01' "
                      "AND l_shipdate < TIMESTAMP '2002-01-01'")
        run_job(spark, self._config("warm_20250101", everything, self.data,
                                    os.path.join(self.work, "warm_out")))

    def run(self, spark, op: Op, res: Result) -> None:
        from hive2es_offline_spark.jobs import hive2es
        from hive2es_offline_spark.sinks.bundle import resolve_alias

        manifest = hive2es.run_job(spark, self._config(op.name, op.params["where"],
                                                       self.data, self.out))
        res.docs = int(manifest["doc_count"])
        # the alias and staging state belong to this operation: look now,
        # before the next one moves the alias
        res.payload = {
            "manifest": manifest,
            "alias_target": resolve_alias(self.out, "lineitem"),
            "tmp_left": os.path.exists(os.path.join(self.out, f"{op.name}_tmp")),
        }

    def check(self, results: list[Result]) -> None:
        con = duck(self.data, self.tables)
        for r in results:
            if r.payload is None:
                continue
            where = r.op.params["where"]
            expected = con.sql(f"SELECT count(*) FROM lineitem WHERE {where}").fetchone()[0]
            bundle = os.path.join(self.out, r.op.name)
            scan = (f"read_parquet('{bundle}/shard=*/*.parquet', hive_partitioning = true)")
            on_disk = con.sql(f"SELECT count(*) FROM {scan}").fetchone()[0]
            keys = con.sql(
                f"SELECT DISTINCT CAST(l_orderkey AS VARCHAR) AS k FROM lineitem "
                f"WHERE {where} ORDER BY hash(l_orderkey + {self.seed + r.op.index}) "
                f"LIMIT {ROUTING_SAMPLE}").fetchall()
            klist = ", ".join(f"'{k}'" for (k,) in keys)
            routed = con.sql(
                f"SELECT DISTINCT _routing, CAST(shard AS INTEGER) FROM {scan} "
                f"WHERE _routing IN ({klist})").fetchall() if keys else []
            if len({k for k, _ in routed}) != len(keys):
                r.failures.append(f"{len(keys)} sampled routing keys, {len(routed)} found routed")
            r.failures += check_index(r.payload["manifest"], expected,
                                      r.payload["alias_target"], r.payload["tmp_left"],
                                      on_disk, routed, NUM_SHARDS)


# ---------------------------------------------------------------------------
# search_mix: one analyst, closed loop, query DSL and ES|QL
# ---------------------------------------------------------------------------

SEARCH_SIZES = {"lineitem": 60_000, "documents": 1_000, "embeddings": 1_000}
_TERMS = [w for w in datagen.VOCAB if w not in ("a", "the")]

#: the round, in a seeded order.  Generated queries (no ``es_`` prefix)
#: draw fresh seeded parameters each time and render their own oracle; the
#: ``es_`` queries are the engine's registered queries, run over the seeded
#: corpus and checked against the engine's registered DuckDB goldens.  The
#: cheap queries run three times per round, so the per-run median falls
#: inside their cluster of latencies rather than at its edge, and stays put.
ROUND = (
    *(("filter_topk", "filter_topk"),) * 3,
    *(("aggs", "aggs_terms"),) * 3,
    *(("aggs", "aggs_date_histogram"),) * 3,
    *(("bm25", "match_bm25"),) * 2,
    ("multi_match", "es_multi_match_types"),
    ("retriever", "es_retriever_rrf"),
    ("retriever", "es_retriever_pinned"),
    *(("knn", "es_knn"),) * 3,
    *(("esql", "esql_stats"),) * 3,
    ("esql", "es_esql_score"),
    ("esql", "es_esql_knn"),
)
_TABLE_OF = {"filter_topk": "lineitem", "aggs_terms": "lineitem",
             "aggs_date_histogram": "lineitem", "match_bm25": "documents",
             "es_multi_match_types": "documents", "es_retriever_rrf": "documents",
             "es_retriever_pinned": "documents", "es_knn": "embeddings",
             "esql_stats": "lineitem", "es_esql_score": "documents",
             "es_esql_knn": "embeddings"}


def _params(name: str, rng: np.random.Generator) -> dict:
    if name == "filter_topk":
        lo = int(rng.integers(1, 30))
        return {"lo": lo, "hi": lo + int(rng.integers(5, 20)),
                "flag": str(rng.choice(["A", "N", "R"])),
                "status": str(rng.choice(["O", "F"])),
                "k": int(rng.choice([10, 20, 50]))}
    if name == "aggs_terms":
        return {"discount": int(rng.integers(0, 8)) / 100}
    if name == "aggs_date_histogram":
        return {"status": str(rng.choice(["O", "F"])),
                "interval": str(rng.choice(["year", "quarter", "month"]))}
    if name == "match_bm25":
        n = int(rng.integers(1, 4))
        return {"terms": [str(t) for t in rng.choice(_TERMS, size=n, replace=False)],
                "k": int(rng.choice([10, 25]))}
    if name == "esql_stats":
        return {"year": int(rng.integers(1992, 2001)),
                "discount": int(rng.integers(0, 8)) / 100}
    return {}


def render(name: str, p: dict):
    """(entry, request, oracle SQL, ordered) for a generated query.
    ``entry`` names the public function the request compiles through."""
    if name == "filter_topk":
        body = {"query": {"bool": {
            "filter": [{"range": {"l_quantity": {"gte": p["lo"], "lte": p["hi"]}}},
                       {"term": {"l_returnflag": p["flag"]}}],
            "must_not": [{"term": {"l_linestatus": p["status"]}}]}},
            "sort": [{"l_extendedprice": "desc"}, {"l_orderkey": "asc"},
                     {"l_linenumber": "asc"}],
            "size": p["k"], "_source": ["l_orderkey", "l_linenumber", "l_extendedprice"]}
        sql = (f"SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem "
               f"WHERE l_quantity >= {p['lo']} AND l_quantity <= {p['hi']} "
               f"AND l_returnflag = '{p['flag']}' AND NOT l_linestatus = '{p['status']}' "
               f"ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber LIMIT {p['k']}")
        return "es_search", body, sql, True
    if name == "aggs_terms":
        body = {"size": 0, "query": {"range": {"l_discount": {"gte": p["discount"]}}},
                "aggs": {"flags": {"terms": {"field": "l_returnflag", "size": 3},
                                   "aggs": {"qty": {"sum": {"field": "l_quantity"}}}}}}
        sql = (f"SELECT l_returnflag AS key, count(*) AS doc_count, sum(l_quantity) AS qty "
               f"FROM lineitem WHERE l_discount >= {p['discount']} GROUP BY 1")
        return "es_search", body, sql, False
    if name == "aggs_date_histogram":
        body = {"size": 0, "query": {"term": {"l_linestatus": p["status"]}},
                "aggs": {"per": {"date_histogram": {"field": "l_shipdate",
                                                    "calendar_interval": p["interval"]},
                                 "aggs": {"qty": {"sum": {"field": "l_quantity"}}}}}}
        sql = (f"SELECT CAST(date_trunc('{p['interval']}', l_shipdate) AS TIMESTAMP) AS key, "
               f"count(*) AS doc_count, sum(l_quantity) AS qty FROM lineitem "
               f"WHERE l_linestatus = '{p['status']}' GROUP BY 1")
        return "es_search", body, sql, False
    if name == "match_bm25":
        import __spark_entry__ as entry

        terms = ", ".join(f"'{t}'" for t in p["terms"])
        body = {"query": {"match": {"text": " ".join(p["terms"])}},
                "size": p["k"], "_source": ["doc_id"]}
        # the engine's own BM25 golden, re-pointed at this query's terms
        sql = (entry._BM25_ORACLE.replace("('merge', 'stream', 'vector')", f"({terms})")
               .replace("LIMIT 10", f"LIMIT {p['k']}"))
        sql = f"SELECT doc_id, score AS _score FROM ({sql})"
        return "es_scored_search", body, sql, True
    if name == "esql_stats":
        text = (f'FROM lineitem | WHERE l_shipdate >= "{p["year"]}-01-01" '
                f'AND l_discount > {p["discount"]} '
                "| EVAL revenue = l_extendedprice * (1.0 - l_discount) "
                "| STATS total = SUM(revenue), orders = COUNT(*), "
                "avg_qty = AVG(l_quantity), max_price = MAX(l_extendedprice) "
                "BY l_returnflag, l_linestatus "
                "| SORT l_returnflag ASC, l_linestatus ASC")
        import __spark_entry__ as entry

        sql = (entry._all_goldens()["es_esql"]
               .replace("TIMESTAMP '1995-01-01'", f"TIMESTAMP '{p['year']}-01-01'")
               .replace("l_discount > 0.03", f"l_discount > {p['discount']}"))
        return "esql", text, sql, True
    raise KeyError(name)


def _compile(spark, data: str, name: str, entry_fn: str, request):
    """Resolve the table through ``sources.read_table`` and compile through
    the public entry, as ``jobs/query.py`` and ``jobs/esql.py`` do."""
    from hive2es_offline_spark import sources
    from hive2es_offline_spark.plans import esql, query_dsl, scoring

    df = sources.read_table(spark, _TABLE_OF[name], data)
    if entry_fn == "es_search":
        return query_dsl.es_search(df, request, id_field="l_orderkey")
    if entry_fn == "es_scored_search":
        return scoring.es_scored_search(df, request, id_field="doc_id")
    return esql.esql({_TABLE_OF[name]: df}, request)


class SearchMix:
    name = "search_mix"
    tables = tuple(SEARCH_SIZES)

    def __init__(self, seed: int, work: str, scale: float = 1.0):
        self.seed, self.work = seed, work
        self.data = os.path.join(work, "data")
        self.sizes = {t: max(int(n * scale), 200) for t, n in SEARCH_SIZES.items()}

    def prepare(self) -> None:
        datagen.write_tables(self.data, self.seed, self.sizes)

    def ops(self):
        rng = np.random.default_rng([self.seed, 202])
        i = 0
        while True:
            order = rng.permutation(len(ROUND))
            for j, k in enumerate(order):
                fam, name = ROUND[k]
                yield Op(i, fam, name, _params(name, rng), round_end=j == len(ROUND) - 1)
                i += 1

    def build(self, spark, op: Op):
        if op.name.startswith("es_"):
            import __spark_entry__ as entry

            return entry.queries()[op.name](spark, self.data)
        entry_fn, request, _, _ = render(op.name, op.params)
        return _compile(spark, self.data, op.name, entry_fn, request)

    def warmup(self, spark) -> None:
        rng = np.random.default_rng([self.seed, 203])
        for name in ("filter_topk", "match_bm25"):
            self.build(spark, Op(-1, "", name, _params(name, rng))).toPandas()

    def run(self, spark, op: Op, res: Result, tracer=None) -> None:
        span = tracer.span if tracer else lambda _name: contextlib.nullcontext()
        t0 = time.perf_counter()
        with span("plans.build"):
            df = self.build(spark, op)
        t1 = time.perf_counter()
        with span("spark.collect"):
            pdf = df.toPandas()
        res.build_s = t1 - t0
        res.docs = self.sizes[_TABLE_OF[op.name]]
        res.payload = pdf

    def check(self, results: list[Result]) -> None:
        import __spark_entry__ as entry

        con = duck(self.data, self.tables)
        goldens = entry._all_goldens()
        for r in results:
            if r.payload is None:
                continue
            if r.op.name.startswith("es_"):
                want, ordered = con.sql(goldens[r.op.name]).df(), False
            else:
                _, _, sql, ordered = render(r.op.name, r.op.params)
                want = con.sql(sql).df()
            r.failures += compare_frames(r.payload, want, ordered)


# ---------------------------------------------------------------------------
# curate_batch: two daily run_curation calls against one signature store
# ---------------------------------------------------------------------------

CURATE_POOL = 1_500


def check_curation(report: dict, export_ids: list[int], input_ids: set[int],
                   expected_version: int) -> list[str]:
    out = []
    if len(set(export_ids)) != len(export_ids):
        out.append(f"{len(export_ids) - len(set(export_ids))} duplicate ids in the export")
    stray = set(export_ids) - input_ids
    if stray:
        out.append(f"{len(stray)} exported ids not in the input, e.g. {min(stray)}")
    exported = report.get("export", {}).get("row_count")
    if exported != len(export_ids):
        out.append(f"report says {exported} exported, export holds {len(export_ids)}")
    if report.get("signature_store_version") != expected_version:
        out.append(f"store version {report.get('signature_store_version')}, "
                   f"expected {expected_version}")
    return out


class CurateBatch:
    name = "curate_batch"
    tables = ("documents",)

    def __init__(self, seed: int, work: str, scale: float = 1.0):
        self.seed, self.work = seed, work
        self.data = os.path.join(work, "data")
        self.out = os.path.join(work, "curated")
        self.pool = max(int(CURATE_POOL * scale), 100)

    def _split(self, src: str, dst: str) -> dict[str, set[int]]:
        """Two overlapping daily batches: days share a seeded 20-40 % of
        the pool, so day 2 meets day 1's signatures."""
        rng = np.random.default_rng([self.seed, 303])
        t = pq.read_table(src)
        n = t.num_rows
        overlap = int(n * rng.uniform(0.2, 0.4))
        cut = (n + overlap) // 2
        days = {"day1": t.slice(0, cut), "day2": t.slice(cut - overlap)}
        os.makedirs(dst, exist_ok=True)
        for name, tab in days.items():
            pq.write_table(tab, os.path.join(dst, f"{name}.parquet"))
        return {name: set(tab.column("doc_id").to_pylist()) for name, tab in days.items()}

    def prepare(self) -> None:
        datagen.write_tables(self.data, self.seed, {"documents": self.pool})
        self.ids = self._split(os.path.join(self.data, "documents.parquet"), self.data)
        warm = os.path.join(self.work, "warm")
        datagen.write_tables(warm, self.seed + 1, {"documents": 120})
        self._split(os.path.join(warm, "documents.parquet"), warm)

    def ops(self):
        for pair in itertools.count():
            yield Op(2 * pair, "day", "day1", {"pair": pair}, round_end=False)
            yield Op(2 * pair + 1, "day", "day2", {"pair": pair}, round_end=True)

    def _config(self, data: str, out: str, day: str):
        from hive2es_offline_spark.jobs.curate import CurateConfig

        return CurateConfig(input_path=os.path.join(data, f"{day}.parquet"),
                            output_path=os.path.join(out, day),
                            signature_store=os.path.join(out, "store"))

    def warmup(self, spark) -> None:
        from hive2es_offline_spark.jobs.curate import run_curation

        warm = os.path.join(self.work, "warm")
        for day in ("day1", "day2"):
            run_curation(spark, self._config(warm, os.path.join(self.work, "warm_out"), day))

    def run(self, spark, op: Op, res: Result, stage_cb=None) -> None:
        from hive2es_offline_spark.jobs import curate

        cfg = self._config(self.data, os.path.join(self.out, f"pair{op.params['pair']}"),
                           op.name)
        report = curate.run_curation(spark, cfg, stage_cb=stage_cb)
        res.docs = int(report["input_rows"])
        res.payload = {"report": report, "export": cfg.output_path}

    def check(self, results: list[Result]) -> None:
        con = duckdb.connect()
        for r in results:
            if r.payload is None:
                continue
            rows = con.sql(
                "SELECT doc_id FROM read_json("
                f"'{r.payload['export']}/part-*', format = 'newline_delimited')").fetchall()
            r.failures += check_curation(r.payload["report"], [x for (x,) in rows],
                                         self.ids[r.op.name],
                                         1 if r.op.name == "day1" else 2)


WORKLOADS = {w.name: w for w in (IndexBuild, SearchMix, CurateBatch)}
