"""The benchmark's closed-loop workloads (one client, one process).

Each workload has a ``prepare`` step (seeded input generation and the
truth the outputs are checked against; repeated, so set-up time is a
median), a ``warm`` step (run outside timing, counted in set-up) and a
``measure`` step that runs whole operations until the deadline. Every
operation's output is checked against the truth; an operation that
raises or returns a wrong result counts as failed.

There is no separate state-store workload: at about 4 s per merge plus
lookup on a 4-core host it cannot fit the run budget beside these two,
so the store is measured through the stream's per-batch merges and a
lookup after every drain.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import time

import numpy as np

from . import gen
from .trace import SparkProbe, Tracer, attach_executions, iso_to_epoch


class Outcome:
    """What a measured phase produced: operation latencies, counts and
    the per-layer numbers of a traced run."""

    def __init__(self) -> None:
        self.op_latencies: list[float] = []
        self.cycles: list[float] = []  # wall of each whole drain or pass
        self.attempted = 0
        self.failed = 0
        self.work_items = 0
        self.roots = []  # top-level spans of the completed operations
        self.errors: list[str] = []
        # pgoutput_stream only: progress records, state dirs, decode-node
        # metrics and the last SQL execution already read
        self.progress: list[tuple] = []
        self.states: list[str] = []
        self.python: list[dict] = []
        self.sql_seen = -1

    def fail(self, msg: str) -> None:
        self.failed += 1
        if len(self.errors) < 5:
            self.errors.append(msg)


def typed_digest(rows) -> tuple[int, str]:
    """Row count and an order-insensitive hash of typed row tuples."""
    acc = 0
    n = 0
    for r in rows:
        h = hashlib.blake2b(repr(tuple(r)).encode(), digest_size=8).digest()
        acc = (acc + int.from_bytes(h, "big")) % (1 << 64)
        n += 1
    return n, f"{acc:016x}"


def _describe(spark, text: str) -> None:
    spark.sparkContext.setJobDescription(text)


# --- pgoutput_stream ---------------------------------------------------------------


class PgoutputStream:
    """Binary pgoutput feed -> decode_pgoutput -> apply_pipeline ->
    start_upsert_stream (availableNow), drained repeatedly into fresh
    state. After each drain the final read_state must equal the truth,
    and a ``lookup`` of a Zipf sample of keys must return their truth."""

    #: a drain is short beside the run so a run holds several, and one
    #: drain more or less moves the batch median little
    N_FILES = 4
    CHANGES_PER_FILE = 500
    N_BUCKETS = 16
    LOOKUP = 64

    def __init__(self, ctx) -> None:
        self.ctx = ctx
        self.n = 0
        self.rng = np.random.default_rng(ctx.seed)

    def prepare(self, rep: int) -> None:
        feed = os.path.join(self.ctx.work, f"feed{rep}")
        shutil.rmtree(feed, ignore_errors=True)
        info = gen.pgoutput_feed(feed, self.ctx.seed, self.N_FILES, self.CHANGES_PER_FILE)
        self.feed, self.info = feed, info
        # a two-file feed of another seed warms the same path before timing
        self.warm_feed = os.path.join(self.ctx.work, f"warm{rep}")
        shutil.rmtree(self.warm_feed, ignore_errors=True)
        gen.pgoutput_feed(self.warm_feed, self.ctx.seed + 1, 2, self.CHANGES_PER_FILE)
        self.truth = {k: (k, r[1], r[2], r[3].strftime("%Y-%m-%d %H:%M:%S.%f"), r[4], r[5])
                      for k, r in info["truth"].items()}
        self.expected = typed_digest(self.truth.values())

    def _drain(self, tr: Tracer, out: Outcome | None, feed: str | None = None) -> None:
        import pyspark.sql.functions as F
        from pyspark.sql.types import (BooleanType, DoubleType, IntegerType, LongType,
                                       StringType, StructField, StructType, TimestampType)

        from pgcdc_spark.cdc.pgoutput import decode_pgoutput
        from pgcdc_spark.cdc.transform import apply_pipeline
        from pgcdc_spark.streaming.pipeline import read_state, start_upsert_stream
        from pgcdc_spark.streaming.statestore import BucketedStateStore

        spark = self.ctx.spark
        row_schema = StructType([
            StructField("id", LongType()), StructField("name", StringType()),
            StructField("score", DoubleType()), StructField("updated_at", TimestampType()),
            StructField("active", BooleanType()), StructField("qty", IntegerType())])
        i, self.n = self.n, self.n + 1
        state = os.path.join(self.ctx.work, f"state{i}")
        ckpt = os.path.join(self.ctx.work, f"ckpt{i}")
        op = f"drain{i}"
        progress, ok = [], False
        with tr.span("drain", "streaming.pipeline", op=op) as root:
            t0 = time.perf_counter()
            try:
                src = (spark.readStream.schema("lsn long, payload binary")
                       .option("maxFilesPerTrigger", 1).parquet(feed or self.feed))
                env = decode_pgoutput(src, row_schema,
                                      relations={gen.RELID: [c for c, _ in gen.COLUMNS]})
                q = start_upsert_stream(apply_pipeline(env), state, ckpt, keys=["id"],
                                        n_buckets=self.N_BUCKETS)
                q.awaitTermination()
                progress = q.recentProgress
                ok = q.exception() is None
            except Exception as e:  # noqa: BLE001 - a failed drain is a failed operation
                if out is not None:
                    out.fail(f"{op}: {type(e).__name__}: {e}")
            wall = time.perf_counter() - t0
        if out is None:
            return
        out.attempted += 1
        if not ok:
            return
        ts = F.date_format("updated_at", "yyyy-MM-dd HH:mm:ss.SSSSSS")
        cols = ["id", "name", "score", ts, "active", "qty"]
        keys = sorted({int(k) for k in gen.zipf_keys(self.rng, self.N_FILES
                                                      * self.CHANGES_PER_FILE, self.LOOKUP)})
        out.attempted += 1
        try:
            with tr.span("check", "harness", op=op):
                got = typed_digest(tuple(r) for r in
                                   read_state(spark, state).select(*cols).collect())
            with tr.span("lookup", "streaming.statestore", op=op):
                _describe(spark, f"perfbench {op} lookup")
                df = BucketedStateStore(state).lookup(spark, ["id"], [(k,) for k in keys])
                found = [] if df is None else [tuple(r) for r in df.select(*cols).collect()]
        except Exception as e:  # noqa: BLE001 - a failed read is a failed operation
            out.fail(f"{op} read: {type(e).__name__}: {e}")
            return
        batches = [p for p in progress if p.get("numInputRows", 0) > 0]
        if got != self.expected or len(batches) != self.N_FILES:
            out.fail(f"{op}: state {got} != truth {self.expected} "
                     f"or {len(batches)} batches != {self.N_FILES}")
            return
        if sorted(found) != sorted(self.truth[k] for k in keys if k in self.truth):
            out.fail(f"{op}: lookup of {len(keys)} keys returned {len(found)} wrong rows")
            return
        out.cycles.append(wall)
        out.work_items += self.info["changes"]
        out.op_latencies += [p["durationMs"]["triggerExecution"] / 1000.0 for p in batches]
        out.progress.extend((op, root, p) for p in progress)
        out.roots.append(root)
        out.states.append(state)
        if tr.enabled:  # read the decode node's accumulators while its plans are live
            with tr.span("trace_read", "harness", op=op):
                probe = SparkProbe(spark)
                execs = probe.sql_executions(out.sql_seen)
                out.sql_seen = max([e["id"] for e in execs], default=out.sql_seen)
                out.python.extend(probe.node_accumulators(e["id"], "MapInPandas")
                                  for e in execs
                                  if any(n == "MapInPandas" for n, _ in e["nodes"]))

    def warm(self) -> None:
        for _ in range(2):  # the first drain is dominated by cold start
            self._drain(Tracer(False), None, self.warm_feed)

    def measure(self, deadline: float, tr: Tracer, out: Outcome) -> None:
        if tr.enabled:
            out.sql_seen = SparkProbe(self.ctx.spark).last_sql_id()
        while time.perf_counter() < deadline:
            self._drain(tr, out)

    def layers(self, tr: Tracer, probe: SparkProbe, out: Outcome, execs: list[dict]) -> dict:
        from pgcdc_spark.streaming.statestore import BucketedStateStore

        phases = {"latestOffset": "latest_offset_s", "walCommit": "wal_commit_s",
                  "getBatch": "get_batch_s", "queryPlanning": "query_planning_s",
                  "addBatch": "add_batch_s", "commitOffsets": "commit_offsets_s"}
        m = {f"stream.{v}": 0.0 for v in phases.values()}
        add_spans = []
        n_batches = rows = 0
        first_start: dict[str, float] = {}
        for op, root, p in out.progress:
            d = p.get("durationMs", {})
            start = iso_to_epoch(p["timestamp"])
            first_start.setdefault(op, start)
            if p.get("numInputRows", 0) > 0:
                n_batches += 1
                rows += p["numInputRows"]
            for k, v in phases.items():
                m[f"stream.{v}"] += d.get(k, 0) / 1000.0
            b = tr.derived(f"batch{p['batchId']}", "streaming.pipeline", start,
                           start + d.get("triggerExecution", 0) / 1000.0, root,
                           batch=p["batchId"])
            t = start
            for k in phases:  # MicroBatchExecution runs the phases in this order
                dur = d.get(k, 0) / 1000.0
                layer = {"queryPlanning": "catalyst",
                         "addBatch": "streaming.statestore"}.get(k, "streaming.pipeline")
                s = tr.derived(k, layer, t, t + dur, b) if b is not None else None
                if k == "addBatch" and s is not None:
                    add_spans.append(s)
                t += dur
        m["stream.batches"] = float(n_batches)
        m["stream.rows_per_batch"] = rows / n_batches if n_batches else 0.0
        m["stream.start_s"] = sum(first_start[r.op] - r.start for r in out.roots
                                  if r.op in first_start)

        def merge_layer(e):
            names = {n for n, _ in e["nodes"]}
            if any(_WRITE in n for n in names):
                return "exec"  # the bucket rewrite
            if "MapInPandas" in names:
                return "streaming.statestore"  # the foreachBatch call around the merge
            return "cdc.pgoutput"  # first action on the batch: decode + bucket probe

        attach_executions(tr, execs, add_spans, merge_layer)
        lookups = [s for s in tr.spans if s.name == "lookup"]
        checks = [s for s in tr.spans if s.name == "check"]
        attach_executions(tr, execs, lookups + checks, lambda e: "exec")
        m.update(store_split(tr, add_spans, execs, out.work_items))
        # decode-node metrics come from live accumulators (see
        # SparkProbe.node_accumulators); a batch whose plan the JVM already
        # collected reads zero rows and is left out of the count
        py = [nm for nm in out.python if nm.get("number of output rows", 0.0) > 0]
        probe_ids = {s.attrs["sql_id"] for s in tr.spans
                     if s.layer == "cdc.pgoutput" and "sql_id" in s.attrs}
        rows_out = sum(nm.get("number of output rows", 0.0) for e in execs
                       if e["id"] in probe_ids
                       for n, nm in e["nodes"] if n == "InMemoryTableScan")
        m.update({
            "pgoutput.python_batches": float(len(py)),
            "pgoutput.python_run_s": sum(nm.get("time to run Python workers", 0.0) for nm in py),
            "pgoutput.python_boot_s": sum(nm.get("time to start Python workers", 0.0)
                                          for nm in py),
            "pgoutput.python_init_s": sum(nm.get("time to initialize Python workers", 0.0)
                                          for nm in py),
            "pgoutput.bytes_to_python": sum(nm.get("data sent to Python workers", 0.0)
                                            for nm in py),
            "pgoutput.bytes_from_python": sum(nm.get("data returned from Python workers", 0.0)
                                              for nm in py),
            "pgoutput.rows_in": float(rows),
            "pgoutput.rows_out": rows_out,
            "pgoutput.useful_ratio": rows_out / rows if rows else 0.0,
        })
        stores = [BucketedStateStore(st) for st in out.states]
        m.update(touched_metrics([t for st in stores for t in touched_per_merge(st.history())],
                                 self.N_BUCKETS))
        lookup_ids = {c.attrs["sql_id"] for s in lookups for c in tr.children(s)
                      if "sql_id" in c.attrs}
        reads = [nm["number of partitions read"] for e in execs if e["id"] in lookup_ids
                 for n, nm in e["nodes"] if "number of partitions read" in nm]
        m.update({
            "store.version_fanin": float(np.mean([
                len(set(st.current_manifest()["buckets"].values())) for st in stores]))
            if stores else 0.0,
            "store.lookup_s": sum(s.dur for s in lookups),
            "store.lookup_buckets_read": sum(reads) / len(lookups) if lookups else 0.0,
            "store.disk_bytes_per_live_row": (
                sum(_dir_bytes(st.root) for st in stores)
                / max(1, len(self.truth) * len(stores))),
        })
        return m


def _dir_bytes(path: str) -> int:
    total = 0
    for d, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return total


_WRITE = "InsertIntoHadoopFsRelationCommand"


def store_split(tr: Tracer, merge_spans: list, execs: list[dict],
                n_changes: int) -> dict[str, float]:
    """Split merge spans into the innermost SQL executions that write
    parquet (the bucket rewrite, compactions included), the other
    innermost executions (the touched-bucket probe) and the rest
    (driver-side planning, manifest, history and GC work); count the rows
    and bytes those writes produced."""
    by_id = {e["id"]: e for e in execs}
    probe = rewrite = rows = nbytes = 0.0
    todo = [c for s in merge_spans for c in tr.children(s)]
    while todo:
        c = todo.pop()
        inner = [x for x in tr.children(c) if "sql_id" in x.attrs]
        e = by_id.get(c.attrs.get("sql_id"))
        if inner or e is None:
            todo.extend(inner)
            continue
        writes = [nm for n, nm in e["nodes"] if _WRITE in n]
        if writes:
            rewrite += c.dur
            rows += sum(nm.get("number of output rows", 0.0) for nm in writes)
            nbytes += sum(nm.get("written output", 0.0) for nm in writes)
        else:
            probe += c.dur
    total = sum(s.dur for s in merge_spans)
    n = max(1, n_changes)
    return {"store.merges": float(len(merge_spans)), "store.merge_s": total,
            "store.probe_s": probe, "store.rewrite_s": rewrite,
            "store.driver_s": max(0.0, total - probe - rewrite),
            "store.rows_rewritten_per_change": rows / n,
            "store.bytes_written_per_change": nbytes / n}


def innermost(tr: Tracer, span, start: float, end: float):
    """The deepest span at or under ``span`` that holds [start, end]."""
    for c in tr.children(span):
        if c.start <= start and end <= c.end:
            return innermost(tr, c, start, end)
    return span


def touched_per_merge(history: list[dict]) -> list[int]:
    """Buckets each merge rewrote, from consecutive retained manifests
    (compaction publishes, labelled ``<n>c``, are skipped)."""
    out, prev = [], {}
    for h in history:
        cur = h["manifest"]["buckets"]
        if h["label"].isdigit():
            out.append(sum(1 for b, v in cur.items() if prev.get(b) != v))
        prev = cur
    return out


def touched_metrics(touched: list[int], n_buckets: int) -> dict[str, float]:
    mean = sum(touched) / len(touched) if touched else 0.0
    return {"store.touched_buckets": mean, "store.touched_fraction": mean / n_buckets}


# --- query_mix ---------------------------------------------------------------------

#: A subset of the bench.py HEADLINE queries, one or more per operator
#: family, small enough that a pass fits the run length at 4 cores.
QUERIES = {
    "q1_pricing_summary": "relational",
    "q3_shipping_priority": "relational",
    "q5_local_supplier_volume": "relational",
    "window_topk_per_group": "relational",
    "events_hourly_rollup": "relational",
    "cdc_upsert_state": "cdc",
    "dedup_exact": "dedup",
    "emb_cosine_topk": "ann",
    "docs_quality_score": "text",
    "docs_unigram_logprob": "text",
}
FAMILIES = tuple(dict.fromkeys(QUERIES.values()))


class QueryMix:
    """One pass (the closed loop's operation) runs every query of
    ``QUERIES`` in a seed-permuted order and collects it; each result must
    pass ``oracle.compare`` against its DuckDB oracle on the same
    generated tables."""

    def __init__(self, ctx) -> None:
        self.ctx = ctx
        self.rng = np.random.default_rng(ctx.seed)
        self.n = 0

    def prepare(self, rep: int) -> None:
        self.data = os.path.join(self.ctx.work, f"tables{rep}")
        shutil.rmtree(self.data, ignore_errors=True)
        gen.tables(self.data, self.ctx.seed)

    def oracles(self) -> None:
        from pgcdc_spark.oracle import duck_connect
        from pgcdc_spark.queries import all_queries

        self.qs = all_queries()
        con = duck_connect(self.data)
        try:
            self.want = {n: con.execute(self.qs[n].oracle).df() for n in QUERIES}
        finally:
            con.close()

    def _pass(self, tr: Tracer, out: Outcome | None) -> None:
        import pandas as pd

        from pgcdc_spark.cache import release_shared
        from pgcdc_spark.oracle import compare

        spark = self.ctx.spark
        p, self.n = self.n, self.n + 1
        order = [str(n) for n in self.rng.permutation(list(QUERIES))]
        busy, done, checks = 0.0, 0, []  # busy: the pass without harness work
        for name in order:
            op = f"pass{p}.{name}"
            try:
                t0 = time.perf_counter()
                with tr.span("query", "queries", op=op, family=QUERIES[name]) as root:
                    with tr.span("build", "queries", op=op) as b:
                        _describe(spark, f"perfbench {op} build")
                        df = self.qs[name].fn(spark, self.data)
                    with tr.span("collect", "exec", op=op) as c:
                        _describe(spark, f"perfbench {op} collect")
                        rows = df.collect()
                    release_shared()
                busy += time.perf_counter() - t0
                done += 1
                with tr.span("convert", "harness", op=op):
                    checks.append((name, pd.DataFrame.from_records(
                        [tuple(r) for r in rows], columns=df.columns)))
                    if tr.enabled:
                        # nested in layers(): the optimizer and planner run
                        # inside the collect's SQL execution, after it starts
                        c.attrs["phases"] = SparkProbe.catalyst_phases(df)
                        out.roots.append(root)
            except Exception as e:  # noqa: BLE001 - a failed query is a failed operation
                if out is not None:
                    out.attempted += 1
                    out.fail(f"{op}: {type(e).__name__}: {e}")
        if out is None:
            return
        failed_before = out.failed
        with tr.span("check", "harness", op=f"pass{p}"):
            for name, got in checks:
                out.attempted += 1
                try:
                    res = compare(name, got, self.want[name])
                except Exception as e:  # noqa: BLE001 - an uncomparable result is wrong
                    out.fail(f"{name}: compare raised {type(e).__name__}: {e}")
                    continue
                if not res.ok:
                    out.fail(f"{name}: {res.detail}")
        if done == len(order) and out.failed == failed_before:
            # the operation is the whole pass: per-query latencies mix
            # queries of very different cost, so their median jumps
            # between neighbouring queries from run to run
            out.op_latencies.append(busy)
            out.cycles.append(busy)
            out.work_items += len(order)

    def warm(self) -> None:
        self.oracles()
        self._pass(Tracer(False), None)

    def measure(self, deadline: float, tr: Tracer, out: Outcome) -> None:
        while time.perf_counter() < deadline:
            self._pass(tr, out)

    def layers(self, tr: Tracer, probe: SparkProbe, out: Outcome, execs: list[dict]) -> dict:
        builds = [s for s in tr.spans if s.name == "build"]
        collects = [s for s in tr.spans if s.name == "collect"]
        attach_executions(tr, execs, builds + collects, lambda e: "exec")
        for b, c in zip(builds, collects):
            for ph, (start, end) in c.attrs.pop("phases", {}).items():
                owner = innermost(tr, b if ph == "analysis" else c, start, end)
                tr.derived(ph, "catalyst", start, end, owner)
        eager = sum(1 for b in builds for c in tr.children(b) if "sql_id" in c.attrs)
        m = {"query.build_s": sum(s.dur for s in builds),
             "query.eager_executions": float(eager)}
        for ph in ("analysis", "optimization", "planning"):
            m[f"catalyst.{ph}_s"] = sum(s.dur for s in tr.spans if s.name == ph)
        for fam in FAMILIES:
            m[f"family.{fam}_s"] = sum(s.dur for s in out.roots
                                       if s.attrs.get("family") == fam)
        return m


WORKLOADS = {"pgoutput_stream": PgoutputStream, "query_mix": QueryMix}
