"""The benchmark's workloads.

A workload makes its inputs from the seed (:meth:`generate`, not timed),
builds its state on a fresh session (:meth:`setup`, part of ``setup_s``),
and then yields passes of ops. Every pass holds each op of the workload
once, in an order the seed permutes. :meth:`run` executes one op inside
the timed span and returns what :meth:`check` compares against the truth
afterwards, outside the timed span.

- ``curation`` runs declared queries (``pretalx_hub_etl_spark.queries``)
  over a generated corpus and checks each result against the query's
  DuckDB oracle, or against the shape the corpus fixes when the query
  declares no oracle;
- ``schedule_sync`` runs the pretalx -> hub sync cycle against two hub
  tables, one copy-on-write and one merge-on-read, and checks the hub state
  after every cycle against the schedule generator.
"""

from __future__ import annotations

import json
import os
import pickle
import random
import subprocess
import sys
import threading
import time
from collections import defaultdict
from dataclasses import dataclass, field

from . import gen

CURATION = (
    "q_dedup_near_md5", "q_dedup_clusters", "q_dedup_semantic",
    "q_sim_topk_pq", "q_knn_graph", "q_text_bm25", "q_multimodal_decode_avi",
    "q_graph_pagerank", "q_text_quality", "q_dedup_exact",
)
#: curation queries that return pairs found through a candidate join
PAIR_QUERIES = frozenset({"q_dedup_near_md5", "q_knn_graph", "q_sim_topk_pq"})
#: curation queries that declare no DuckDB oracle, with the result shape
#: the generated corpus fixes: (group column, item column, groups, items per
#: group). q_sim_topk_pq returns k = 10 distinct neighbours for each of its
#: five query vectors (vec_id < 5).
ROWS_ONLY = {"q_sim_topk_pq": ("query_id", "vec_id", range(5), 10)}
#: corpus scale factor (7.5k customers, 2.5k documents, 1k embeddings):
#: half that of ``bench.py``, so that a warm-up pass and a timed pass fit
#: one run
CORPUS_SF = 0.05


@dataclass
class Ctx:
    """What an op needs: the session, the tracer and the engine registry."""

    spark: object
    tracer: object
    registry: dict
    work: str
    #: Catalyst phase times of the last traced op, ms
    phases: dict[str, float] = field(default_factory=dict)


def canonical(columns: list[str], rows: list[tuple]) -> list[tuple]:
    """Rows with columns ordered by name, normalised and sorted by the
    repo's parity comparator: equal results compare equal whatever their
    row and column order."""
    # check_parity prepends a fixed source tree to sys.path on import; the
    # checkout's own engine must stay first
    saved = list(sys.path)
    try:
        from tools.check_parity import canonicalize
    finally:
        sys.path[:] = saved
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    return canonicalize([tuple(r[i] for i in order) for r in rows])


def plan_phases(df) -> dict[str, float]:
    """Force planning of ``df`` and return Catalyst's phase times (ms)."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    out, it = {}, qe.tracker().phases().iterator()
    while it.hasNext():
        kv = it.next()
        out[kv._1()] = float(kv._2().durationMs())
    return out


class DeclaredQueries:
    """Declared queries over a generated corpus, checked against DuckDB."""

    def __init__(self, queries: tuple[str, ...]):
        self.queries = queries
        self._oracle: dict[str, list[tuple] | None] | None = None
        self._lock = threading.Lock()

    def generate(self, work: str, seed: int) -> dict:
        self.sf_dir = os.path.join(work, "corpus")
        counts = gen.write_corpus(self.sf_dir, seed, CORPUS_SF)
        return {"corpus_sf": CORPUS_SF, "rows": counts}

    def setup(self, ctx: Ctx) -> None:
        """Start computing the oracles' results in a child process. It
        starts once the engine is set up, so it runs beside the warm-up pass
        and not the set-up, and DuckDB's memory never counts in the Python
        driver's resident memory."""
        self._out = os.path.join(os.path.dirname(self.sf_dir), "oracles.pickle")
        self._child = subprocess.Popen(
            [sys.executable, "-m", "perfbench.workloads", self.sf_dir, self._out, *self.queries]
        )

    def passes(self, rng: random.Random):
        while True:
            order = list(self.queries)
            rng.shuffle(order)
            yield order

    def warmup_groups(self, ops: list[str]) -> list[list[str]]:
        """Ops that may warm up concurrently: every query on its own."""
        return [[op] for op in ops]

    def before(self, op: str) -> None:
        pass

    def run(self, ctx: Ctx, op: str):
        tr = ctx.tracer
        with tr.span("plans.build"):
            df = ctx.registry[op].fn(ctx.spark, self.sf_dir)
        if tr.active:
            with tr.span("catalyst.plan"):
                ctx.phases = plan_phases(df)
        with tr.span("spark.action"):
            rows = df.collect()
        return df.columns, [tuple(r) for r in rows]

    def check(self, op: str, result) -> str | None:
        columns, rows = result
        spec_oracle = self._oracle_rows(op)
        if spec_oracle is None:
            group, item, groups, per_group = ROWS_ONLY[op]
            g, i = columns.index(group), columns.index(item)
            items = defaultdict(set)
            for r in rows:
                items[r[g]].add(r[i])
            if len(rows) != len(groups) * per_group or sorted(items) != list(groups) or any(
                len(v) != per_group for v in items.values()
            ):
                return (
                    f"{op}: {len(rows)} rows, expected {per_group} distinct "
                    f"{item} for each {group} in {list(groups)}"
                )
            return None
        if canonical(columns, rows) != spec_oracle:
            return f"{op}: result differs from its DuckDB oracle"
        return None

    def _oracle_rows(self, op: str) -> list[tuple] | None:
        """The oracle's result for ``op``; the first call waits for the
        child process."""
        with self._lock:
            if self._oracle is None:
                if self._child.wait() != 0:
                    raise RuntimeError(f"oracle process exited with {self._child.returncode}")
                with open(self._out, "rb") as fh:
                    self._oracle = pickle.load(fh)
        return self._oracle[op]


def oracle_results(sf_dir: str, queries: tuple[str, ...]) -> dict[str, list[tuple] | None]:
    """Canonical DuckDB result of each query's oracle over the corpus, or
    None for a query that declares none and whose shape ``ROWS_ONLY`` fixes."""
    import duckdb

    from pretalx_hub_etl_spark.queries import load_all

    registry = load_all()
    missing = [q for q in queries if q not in registry]
    if missing:
        raise KeyError(f"queries not in the registry: {missing}")
    unchecked = [q for q in queries if registry[q].oracle is None and q not in ROWS_ONLY]
    if unchecked:
        raise KeyError(f"queries with neither an oracle nor a known shape: {unchecked}")
    con = duckdb.connect()
    try:
        for f in os.listdir(sf_dir):
            path = os.path.join(sf_dir, f)
            con.execute(f"CREATE VIEW {f.removesuffix('.parquet')} AS SELECT * FROM '{path}'")
        out = {}
        for q in queries:
            if registry[q].oracle is None:
                out[q] = None
                continue
            res = con.execute(registry[q].oracle)
            out[q] = canonical([d[0] for d in res.description], res.fetchall())
        return out
    finally:
        con.close()


# --- schedule_sync -------------------------------------------------------------

#: talks per hub table
SYNC_TALKS = 2000
#: a hub is compacted (``OPTIMIZE``) after every this many of its cycles
OPTIMIZE_EVERY = 3

MERGE_SQL = (
    "MERGE INTO {hub} AS t USING {src} AS s ON t.k = s.k "
    "WHEN MATCHED AND s.op_flag = 'update' THEN UPDATE SET name = s.name "
    "WHEN NOT MATCHED THEN INSERT (k, id, name, tags) "
    "VALUES (s.k, s.id, s.name, s.tags) "
    "WHEN NOT MATCHED BY SOURCE THEN DELETE"
)


@dataclass
class Hub:
    name: str
    kind: str  # "cow" | "mor"
    gen: gen.ScheduleGenerator
    path: str = ""
    cycles: int = 0
    doc_path: str = ""
    truth: dict = field(default_factory=dict)
    before_state: dict = field(default_factory=dict)
    snapshot: dict = field(default_factory=dict)
    counts: dict = field(default_factory=dict)


def table_files(path: str) -> tuple[int, int]:
    """(files a full read of the current version scans, of which delta
    files), from the table's manifests."""
    mdir = os.path.join(path, "_manifest")
    with open(os.path.join(mdir, "_latest")) as fh:
        cur = int(fh.read().strip())

    def files(v: int) -> int:
        with open(os.path.join(mdir, f"{v}.json")) as fh:
            return len(json.load(fh).get("files", ()))

    with open(os.path.join(mdir, f"{cur}.json")) as fh:
        head = json.load(fh)
    base = head.get("checkpoint_at")
    if base is None:  # copy-on-write: each manifest lists the whole version
        return len(head.get("files", ())), 0
    deltas = sum(files(v) for v in range(base + 1, cur + 1))
    return files(base) + deltas, deltas


def write_hub_rows(path: str, state: dict[str, str]) -> None:
    """Hub rows (match key -> talk name) as one parquet file."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    keys = sorted(state)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(pa.table({
        "k": keys,
        "id": [f"ev-{k}" for k in keys],
        "name": [state[k] for k in keys],
        "tags": [[k] for k in keys],
    }), path)


def dir_files(path: str) -> dict[str, tuple[int, float]]:
    """relative path -> (bytes, mtime) of every file under ``path``."""
    out = {}
    for d, _, names in os.walk(path):
        for n in names:
            p = os.path.join(d, n)
            st = os.stat(p)
            out[os.path.relpath(p, path)] = (st.st_size, st.st_mtime)
    return out


class ScheduleSync:
    """The reference job: sync changing pretalx schedules into the hub.

    The hub holds two event tables, one copy-on-write and one
    merge-on-read, each fed by its own conference schedule. An op is one
    sync cycle of the hub: for each table, read the schedule document,
    build the reconcile plan against the table read through
    ``LakehouseSqlCatalog``, apply it with one ``MERGE INTO`` and read the
    table back; every ``OPTIMIZE_EVERY``-th cycle then compacts it.
    """

    def generate(self, work: str, seed: int) -> dict:
        self.work = work
        self.hubs = [
            Hub("hub_cow", "cow", gen.ScheduleGenerator(seed, SYNC_TALKS, prefix="C")),
            Hub("hub_mor", "mor", gen.ScheduleGenerator(seed + 1, SYNC_TALKS, prefix="M")),
        ]
        self._initial = {h.name: h.gen.expected() for h in self.hubs}
        for h in self.hubs:
            write_hub_rows(self._initial_path(h), self._initial[h.name])
        return {"talks_per_hub": SYNC_TALKS, "hubs": [h.kind for h in self.hubs]}

    def _initial_path(self, h: Hub) -> str:
        return os.path.join(self.work, "initial", f"{h.name}.parquet")

    def setup(self, ctx: Ctx) -> None:
        """Initial load of both hub tables into a fresh directory."""
        from pretalx_hub_etl_spark.plans.lakehouse_sql import LakehouseSqlCatalog
        from pretalx_hub_etl_spark.sinks.merge import MergeSink
        from pretalx_hub_etl_spark.sinks.mor import MorTable

        self.cat = LakehouseSqlCatalog(ctx.spark)
        for h in self.hubs:
            h.path = os.path.join(self.work, "hub", h.name)
            df = ctx.spark.read.parquet(self._initial_path(h))
            sink = MergeSink if h.kind == "cow" else MorTable
            sink(h.path, key="k").init(df)
            self.cat.register_path(h.name, h.path)
            h.truth = dict(self._initial[h.name])

    def passes(self, rng: random.Random):
        """A pass is ``OPTIMIZE_EVERY`` cycles, the last one compacting, so
        every pass holds the same mix. The seed drives only the schedules."""
        while True:
            yield ["sync"] * OPTIMIZE_EVERY

    def warmup_groups(self, ops: list[str]) -> list[list[str]]:
        """The two tables warm up side by side, each through the pass's
        cycles (an op named after a table syncs that table alone)."""
        return [[h.name] * len(ops) for h in self.hubs]

    def _hubs(self, op: str) -> list[Hub]:
        return self.hubs if op == "sync" else [h for h in self.hubs if h.name == op]

    def before(self, op: str) -> None:
        """Next schedule document of each table (generated, not timed)."""
        for h in self._hubs(op):
            doc, h.counts = h.gen.next_doc()
            h.doc_path = os.path.join(self.work, "docs", f"{h.name}-{h.cycles}.json")
            os.makedirs(os.path.dirname(h.doc_path), exist_ok=True)
            gen.write_doc(h.doc_path, doc)
            h.before_state, h.truth = h.truth, h.gen.expected()
            h.snapshot = dir_files(h.path)

    def writes(self, op: str, result) -> dict:
        """What the last cycle wrote under the tables: data files and
        bytes, manifest bytes, and the bytes its compaction rewrote."""
        out = dict.fromkeys(
            ("files_written", "bytes_written", "rows_changed", "manifest_bytes",
             "bytes_rewritten"), 0,
        )
        for h in self._hubs(op):
            new = {
                p: v for p, v in dir_files(h.path).items()
                if h.snapshot.get(p) != v
            }
            data = {p: v for p, v in new.items() if p.endswith(".parquet")}
            t_opt = result[h.name]["optimize_at"]
            out["files_written"] += len(data)
            out["bytes_written"] += sum(b for b, _ in data.values())
            out["rows_changed"] += sum(h.counts.values())
            out["manifest_bytes"] += sum(
                b for p, (b, _) in new.items() if p.startswith("_manifest")
            )
            out["bytes_rewritten"] += sum(
                b for b, mtime in data.values()
                if t_opt is not None and mtime >= t_opt
            )
        return out

    def run(self, ctx: Ctx, op: str) -> dict:
        return {h.name: self._cycle(ctx, h) for h in self._hubs(op)}

    def _cycle(self, ctx: Ctx, h: Hub) -> dict:
        from pyspark.sql import functions as F

        from pretalx_hub_etl_spark.plans.pretalx import full_pipeline
        from pretalx_hub_etl_spark.sources.json_doc import read_schedule_json

        tr, src = ctx.tracer, f"sync_src_{h.name}"
        with tr.span("sync.build"):
            doc = read_schedule_json(ctx.spark, h.doc_path)
            target = self.cat.sql(f"SELECT id, name, tags FROM {h.name}")
            plan = full_pipeline(doc, target)
            plan.filter(F.col("op_flag") != "delete").select(
                F.col("match_key").alias("k"),
                "name",
                "op_flag",
                F.concat(F.lit("ev-"), F.col("match_key")).alias("id"),
                F.array(F.col("match_key")).alias("tags"),
            ).createOrReplaceTempView(src)
        t0 = time.perf_counter()
        with tr.span("sync.merge"):
            self.cat.sql(MERGE_SQL.format(hub=h.name, src=src))
        t1 = time.perf_counter()
        files = table_files(h.path) if tr.active else None
        with tr.span("sync.read"):
            df = self.cat.sql(f"SELECT k, name FROM {h.name}")
            if tr.active:
                ctx.phases = plan_phases(df)
            rows = df.collect()
        t2 = time.perf_counter()
        h.cycles += 1
        optimize_at = None
        if h.cycles % OPTIMIZE_EVERY == 0:
            optimize_at = time.time()
            with tr.span("sync.optimize"):
                self.cat.sql(f"OPTIMIZE {h.name}")
        return {
            "rows": {r[0]: r[1] for r in rows},
            "commit_s": t1 - t0,
            "read_s": t2 - t1,
            "files": files,
            "optimize_at": optimize_at,
        }

    def check(self, op: str, result) -> str | None:
        for h in self._hubs(op):
            got, before = result[h.name]["rows"], h.before_state
            if got != h.truth:
                return f"{h.name} cycle {h.cycles}: table state differs from the schedule"
            applied = {
                "create": len(got.keys() - before.keys()),
                "delete": len(before.keys() - got.keys()),
                "update": sum(
                    1 for k in got.keys() & before.keys() if got[k] != before[k]
                ),
            }
            if applied != h.counts:
                return f"{h.name} cycle {h.cycles}: applied {applied}, expected {h.counts}"
        return None

    def storage_amp(self) -> float:
        """Bytes under the hub tables over the bytes of their live rows
        written once as parquet."""
        on_disk = once = 0
        for h in self.hubs:
            on_disk += sum(b for b, _ in dir_files(h.path).values())
            p = os.path.join(self.work, f"{h.name}-once.parquet")
            write_hub_rows(p, h.truth)
            once += os.path.getsize(p)
        return on_disk / once


def make(name: str):
    if name == "curation":
        return DeclaredQueries(CURATION)
    if name == "schedule_sync":
        return ScheduleSync()
    raise ValueError(f"unknown workload {name!r}")


WORKLOADS = ("curation", "schedule_sync")


if __name__ == "__main__":  # SF_DIR OUT QUERY...: pickle the oracle results to OUT
    with open(sys.argv[2], "wb") as fh:
        pickle.dump(oracle_results(sys.argv[1], tuple(sys.argv[3:])), fh)
