"""TableOne benchmark: seeded inputs, a closed loop of one client on
``local[N]`` (N = usable CPUs), every result checked against DuckDB.

    python3 perfbench/run.py --workload cohort_interactive --seed 1 --seconds 30 --trace 0

Run it from the repository root. A run plans whole cycles of ops that
take about ``--seconds`` at the workload's nominal op latency. The last
stdout line is one JSON object ``{"correct", "attempted", "failed",
"metrics"}``; the line before it carries run context (per-op latencies,
the tail percentile and how many samples lie beyond it, host steal, CPU
seconds, the largest live JVM heap seen after an op).
``--trace 0`` reports the end-to-end metrics. ``--trace 1`` runs one op
sequence three times (a discarded JIT warm-up, untraced, then with spans
and Spark's event log) and reports the per-layer metrics; spans and jobs
are written to ``.perfbench_out/trace-<workload>-<seed>.json``.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import sys
import time
import traceback
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
#: Spark's and the JVM's temporary files; outlives one run when a
#: process runs several (the JVM keeps the directory it started with)
TMP = ROOT / ".perfbench_out" / "tmp"
#: a tail percentile needs this many samples beyond it
TAIL_BEYOND = 10


def _cores() -> int:
    return len(os.sched_getaffinity(0))


def start_session(cores: int, scratch: Path, event_dir: Path | None = None):
    from pyspark.sql import SparkSession

    tmp = TMP
    tmp.mkdir(parents=True, exist_ok=True)
    b = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName("perfbench")
        .config("spark.sql.shuffle.partitions", str(cores))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.memory", "1g")
        .config("spark.local.dir", str(tmp))
        .config("spark.sql.warehouse.dir", str(scratch / "warehouse"))
        .config("spark.driver.extraJavaOptions", f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData")
    )
    if event_dir is not None:
        event_dir.mkdir(parents=True, exist_ok=True)
        b = (
            b.config("spark.eventLog.enabled", "true")
            .config("spark.eventLog.dir", event_dir.as_uri())
            .config("spark.eventLog.compress", "false")
            .config("spark.eventLog.rolling.enabled", "false")
        )
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def heap_after_gc_mb(spark) -> float:
    """The JVM heap in use after its last garbage collection: the live
    heap, whatever size G1 gives eden and the heap."""
    mf = spark._jvm.java.lang.management.ManagementFactory
    used = 0
    for pool in mf.getMemoryPoolMXBeans():
        after = pool.getCollectionUsage()  # None for non-heap pools
        if after is not None:
            used += after.getUsed()
    return used / 2**20


def planned_ops(cls, seconds: float) -> int:
    """Whole cycles, at least one, that take about ``seconds`` at
    ``cls.op_s``."""
    return max(1, round(seconds / (cls.op_s * cls.cycle))) * cls.cycle


def tail(latencies: list[float]) -> tuple[float, float, int]:
    """(value, percentile, samples beyond) of the highest percentile with
    at least TAIL_BEYOND samples beyond it; the maximum when too few."""
    s = sorted(latencies)
    n = len(s)
    if n > TAIL_BEYOND:
        return s[n - TAIL_BEYOND - 1], 100.0 * (n - TAIL_BEYOND) / n, TAIL_BEYOND
    return s[-1], 100.0, 0


class Run:
    def __init__(self, args, scratch: Path):
        from oracle import Oracle
        from workloads import WORKLOADS

        self.args = args
        self.scratch = scratch
        self.cores = _cores()
        self.cls = WORKLOADS[args.workload]
        self.oracle = Oracle()
        self.spark = None
        self.failed = self.attempted = 0
        self.errors: list[str] = []

    def close(self) -> None:
        """Stop Spark, then end the JVM and wait for it and its Python
        workers to exit."""
        from pyspark import SparkContext

        from procstat import ended, tree

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        self.oracle.close()
        gateway = SparkContext._gateway
        if gateway is None:
            return
        started = tree(gateway.proc.pid)  # the JVM and its Python workers
        gateway.shutdown()
        gateway.proc.stdin.close()  # the JVM exits when its stdin closes
        gateway.proc.wait(timeout=60)
        SparkContext._gateway = SparkContext._jvm = None
        deadline = time.monotonic() + 30
        while not all(ended(p) for p in started) and time.monotonic() < deadline:
            time.sleep(0.1)

    def _record(self, r) -> None:
        self.attempted += 1
        if r.errors:
            self.failed += 1
            self.errors += r.errors[:3]

    def _op(self, wl, ctx, k):
        from workloads import OpResult

        try:
            r = wl.op(ctx, k)
        except Exception:  # an op that raises is a failed op; the loop goes on
            r = OpResult(math.nan, 0.0, 0, [traceback.format_exc(limit=3)])
        self._record(r)
        return r

    def setup(self, event_dir: Path | None = None):
        """Session start (the JVM's launch in a run's first set-up), input
        generation and loading, and one warm-up op. Returns the set-up
        wall time without the warm-up's DuckDB check."""
        from workloads import Api, Ctx, fresh_dir

        if self.spark is not None:
            self.spark.stop()
        t0 = time.perf_counter()
        self.spark = start_session(self.cores, self.scratch, event_dir)
        ctx = Ctx(self.spark, Api(), self.oracle, fresh_dir(str(self.scratch / "data")),
                  self.args.seed, self.args.scale)
        wl = self.cls()
        wl.prepare(ctx)
        prepare_s = time.perf_counter() - t0
        warm = self._op(wl, ctx, 0)
        return wl, ctx, prepare_s + warm.latency_s

    def loop(self, wl, ctx, count: int, each=None) -> list:
        """Ops 1, ..., ``count``; ``each`` runs after every op."""
        from procstat import steal_s

        out = []
        self.heap_mb = 0.0
        steal0 = steal_s()
        for k in range(1, count + 1):
            out.append(self._op(wl, ctx, k))
            self.heap_mb = max(self.heap_mb, heap_after_gc_mb(self.spark))
            if each is not None:
                each()
        self.steal = steal_s() - steal0
        return out

    def end_to_end(self) -> dict:
        from procstat import peak_rss_mb

        wl, ctx, setup_s = self.setup()
        ops = self.loop(wl, ctx, planned_ops(self.cls, self.args.seconds))
        good = [r for r in ops if not r.errors]
        lat = [r.latency_s for r in good] or [math.nan]
        tail_s, tail_pct, beyond = tail(lat)
        pids = [os.getpid(), self.spark.sparkContext._gateway.proc.pid]
        self.context = {
            "ops": len(ops), "op_tail_percentile": round(tail_pct, 2), "op_tail_beyond": beyond,
            "host.steal_s": self.steal,
            "spark.heap_after_gc_mb": self.heap_mb,
            "host.cpu_s": sum(r.cpu_s for r in ops), "op_latencies_s": [r.latency_s for r in ops],
        }
        return {
            "setup_s": (setup_s, "s"),
            "op_p50_s": (statistics.median(lat), "s"),
            "op_tail_s": (tail_s, "s"),
            "rows_per_s": (sum(r.rows for r in good) / sum(lat), "rows/s"),
            "cpu_s_per_op": (sum(r.cpu_s for r in ops) / len(ops), "s"),
            "peak_rss_mb": (peak_rss_mb(pids), "MB"),
            "ok_ops_ratio": (1.0 - sum(1 for r in ops if r.errors) / len(ops), "ratio"),
        }

    def per_layer(self) -> dict:
        from layers import per_layer_metrics
        from spans import CLOCK_SLACK_S, Tracer, attribute, dump, engine_patched, read_event_log
        from workloads import Api

        n = self.cls.trace_ops
        wl, ctx, _ = self.setup()
        self.loop(wl, ctx, n)  # JIT warm-up, so both phases below start equally warm
        wl, ctx, _ = self.setup()
        plain = self.loop(wl, ctx, n)
        event_dir = self.scratch / "events"
        wl, ctx, _ = self.setup(event_dir)
        tracer = Tracer()
        ctx.api, ctx.tracer = Api(tracer), tracer
        registry = None
        each = None
        if hasattr(wl, "layout"):  # the registry: file layout after every op
            registry = {"layout": [wl.layout(ctx)], "source_bytes": -wl.source_bytes}
            each = lambda: registry["layout"].append(wl.layout(ctx))  # noqa: E731
        with engine_patched(tracer):
            traced = self.loop(wl, ctx, len(plain), each)
        if registry:
            registry["source_bytes"] += wl.source_bytes
            registry["compact_live_bytes"] = wl.compact_live_bytes(ctx)
        self.spark.stop()
        self.spark = None
        (log,) = [p for p in event_dir.iterdir() if p.is_file()]
        jobs, stages = read_event_log(str(log))
        first = min(s.t0 for s in tracer.spans)
        jobs = {j: job for j, job in jobs.items() if job.submit >= first - CLOCK_SLACK_S}
        attribution = attribute(tracer.spans, jobs)
        out_dir = ROOT / ".perfbench_out"
        out_dir.mkdir(exist_ok=True)
        dump(str(out_dir / f"trace-{self.args.workload}-{self.args.seed}.json"), tracer.spans, jobs)
        self.context = {"ops": len(traced), "host.steal_s": self.steal,
                        "attribution": attribution}
        metrics = per_layer_metrics(tracer.spans, jobs, stages, self.cores, plain, traced,
                                    attribution, self.steal, registry)
        metrics["spark.heap_after_gc_mb"] = (self.heap_mb, "MB")
        return metrics


def main(argv: list[str] | None = None) -> int:
    from workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0, help="input size factor (tests use < 1)")
    args = ap.parse_args(argv)

    if not (ROOT / "tableone_pyspark_spark" / "__init__.py").is_file():
        print(f"perfbench: no tableone_pyspark_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    scratch = ROOT / ".perfbench_out" / f"run-{os.getpid()}"
    shutil.rmtree(scratch, ignore_errors=True)
    scratch.mkdir(parents=True)
    os.environ["TMPDIR"] = os.environ["SPARK_LOCAL_DIRS"] = str(TMP)

    run = Run(args, scratch)
    try:
        metrics = run.per_layer() if args.trace else run.end_to_end()
    finally:
        run.close()
        shutil.rmtree(scratch, ignore_errors=True)
    if run.errors:
        print("perfbench: check failures:\n  " + "\n  ".join(run.errors[:10]), file=sys.stderr)
    print(json.dumps({"context": run.context}))
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.path.insert(0, str(HERE))
    sys.exit(main())
