"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload pgoutput_stream --seed 1 --seconds 20 --trace 0

Run from the repository root. The last stdout line is one JSON object
``{"correct", "attempted", "failed", "metrics"}``: with ``--trace 0``
the end-to-end metrics of BENCHMARK.json, with ``--trace 1`` the
per-layer ones. The line before it (``detail``) records the host, the
set-up parts, the tail percentile with its sample count and any failure
messages. A traced run also writes its spans to
``perfbench/.work/spans-<pid>.jsonl``.

The program runs in this process on ``local[$SPARK_GRAFT_CPUS]``
(default: the CPU count). Scratch state lives under
``perfbench/.work/run-<pid>`` and is removed at exit.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench import stats  # noqa: E402
from perfbench.trace import RssSampler, SparkProbe, Tracer, exec_counters  # noqa: E402
from perfbench.workloads import WORKLOADS, Outcome  # noqa: E402

END_TO_END = {"setup_s": "s", "throughput_per_s": "1/s", "op_p50_s": "s", "op_tail_s": "s"}
#: layers whose self time a traced run reports as ``self.<layer>_s``
LAYERS = ("cdc.pgoutput", "streaming.pipeline", "streaming.statestore", "queries",
          "catalyst", "exec", "harness")
#: input generation is repeated and its median counted in ``setup_s``
PREPARE_REPS = 3


def per_layer_units() -> dict[str, str]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)["per_layer"]}


def _env(work: str) -> None:
    """Environment the program and its Python workers start with: the
    package importable, caches off (as bench.py sets them) and every
    temporary file under ``work``."""
    os.environ["SPARK_GRAFT_CPUS"] = (os.environ.get("SPARK_GRAFT_CPUS")
                                      or str(os.cpu_count() or 1))
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    os.environ["PGCDC_ANN_CACHE"] = "0"
    os.environ["PGCDC_IVM_CACHE"] = "0"
    # every run compiles the package afresh, so the first run in a new
    # checkout costs the same as the rest
    os.environ["PYTHONDONTWRITEBYTECODE"] = "1"
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "2g")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options -Djava.io.tmpdir={work}/tmp "
        f"--conf spark.sql.warehouse.dir={work}/warehouse pyspark-shell")
    os.makedirs(os.environ["TMPDIR"], exist_ok=True)


def _host() -> dict:
    import pyspark

    java = subprocess.run(["java", "-version"], capture_output=True, text=True).stderr
    return {"nproc": os.cpu_count(), "SPARK_GRAFT_CPUS": os.environ["SPARK_GRAFT_CPUS"],
            "loadavg_start": os.getloadavg(), "pyspark": pyspark.__version__,
            "java": java.splitlines()[0] if java else None}


def _stop(spark) -> None:
    """Stop the session and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    if gw is not None:
        gw.shutdown()
        proc = getattr(gw, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)


class Ctx:
    def __init__(self, spark, work: str, seed: int) -> None:
        self.spark, self.work, self.seed = spark, work, seed


def _trace_layers(w, probe, tr, base: Outcome, out: Outcome, since: tuple,
                  t_meas: float) -> dict[str, float]:
    sql_since, job_since, gc0 = since
    gc = probe.gc_seconds() - gc0
    execs = probe.sql_executions(sql_since)
    layers = w.layers(tr, probe, out, execs)
    layers.update(exec_counters(probe, execs, job_since))
    layers["jvm.gc_s"] = gc
    roots = [s for s in tr.spans if s.parent is None]
    by_layer = tr.self_by_layer(roots)
    for name in LAYERS:
        layers[f"self.{name}_s"] = by_layer.get(name, 0.0)
    layers["trace.wall_s"] = sum(s.dur for s in roots)
    layers["trace.accounted_share"] = sum(by_layer.values()) / t_meas if t_meas else 0.0
    b, o = base.op_latencies, out.op_latencies
    layers["trace.overhead_ratio"] = stats.median(o) / stats.median(b) if b and o else 0.0
    layers["trace.overhead_base_n"] = float(len(b))
    return layers


def run(workload: str, seed: int, seconds: int, trace: bool, work: str) -> dict:
    host = _host()
    layers: dict[str, float] = {}
    with RssSampler() if trace else contextlib.nullcontext() as rss:
        t0 = time.perf_counter()
        from pgcdc_spark.session import get_spark

        spark = get_spark(app_name=f"perfbench-{workload}")
        spark.sparkContext.setLogLevel("ERROR")
        t_session = time.perf_counter() - t0
        try:
            w = WORKLOADS[workload](Ctx(spark, work, seed))
            reps = []
            for r in range(PREPARE_REPS):
                t = time.perf_counter()
                w.prepare(r)
                reps.append(time.perf_counter() - t)
            t = time.perf_counter()
            w.warm()
            t_warm = time.perf_counter() - t
            setup_s = t_session + stats.median(reps) + t_warm

            base, out, tr = Outcome(), Outcome(), Tracer(trace)
            if trace:
                # an untraced first third is the base of trace.overhead_ratio
                w.measure(time.perf_counter() + seconds / 3, Tracer(False), base)
                probe = SparkProbe(spark)
                since = (probe.last_sql_id(), probe.last_job_id(), probe.gc_seconds())
            t_meas = time.perf_counter()
            w.measure(t_meas + seconds * (2 / 3 if trace else 1), tr, out)
            t_meas = time.perf_counter() - t_meas
            if trace:
                layers = _trace_layers(w, probe, tr, base, out, since, t_meas)
                layers["mem.peak_rss_mb"] = rss.peak / 2**20
                tr.dump(os.path.join(HERE, ".work", f"spans-{os.getpid()}.jsonl"))
        finally:
            _stop(spark)
    host["loadavg_end"] = os.getloadavg()
    lat = out.op_latencies
    detail = {"host": host, "setup": {"session_s": t_session, "prepare_s": reps,
                                      "warm_s": t_warm},
              "errors": base.errors + out.errors, "ops": len(lat), "cycles_s": out.cycles}
    e2e: dict[str, float] = {}
    if lat:
        tail = stats.tail(lat)
        detail["tail"] = tail
        detail["load_signature"] = stats.load_signature(out.cycles)
        e2e = {"setup_s": setup_s,
               "throughput_per_s": out.work_items / len(out.cycles) / stats.median(out.cycles),
               "op_p50_s": stats.median(lat), "op_tail_s": tail["value"]}
    if trace:
        units = per_layer_units()
        metrics = {n: {"value": float(layers.get(n, 0.0)), "unit": u} for n, u in units.items()}
        detail["layers_unlisted"] = {k: v for k, v in layers.items() if k not in units}
    else:
        metrics = {n: {"value": e2e.get(n, 0.0), "unit": u} for n, u in END_TO_END.items()}
    failed = base.failed + out.failed
    attempted = base.attempted + out.attempted
    return {"detail": detail,
            "result": {"correct": failed == 0 and bool(lat), "attempted": max(1, attempted),
                       # no completed operation is a failure even if none raised
                       "failed": failed if lat else max(1, failed), "metrics": metrics}}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "pgcdc_spark")):
        print(f"perfbench: no pgcdc_spark package under {ROOT}", file=sys.stderr)
        return 2
    work = os.path.join(HERE, ".work", f"run-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    # a terminated run still removes its scratch state and stops the JVM
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        _env(work)
        res = run(args.workload, args.seed, args.seconds, bool(args.trace), work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"detail": res["detail"]}))
    print(json.dumps(res["result"]))
    return 0


if __name__ == "__main__":
    sys.exit(main())
