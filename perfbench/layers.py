"""Per-layer metrics of a traced run, averaged per traced op."""

from __future__ import annotations

import statistics

from spans import LayerStats


def per_layer_metrics(spans, jobs, stages, cores, plain, traced, attribution, steal,
                      registry=None) -> dict:
    ls = LayerStats(spans, jobs, stages, cores)
    ok = [r for r in traced if not r.errors] or traced
    n = len(ok)
    op_wall = ls.wall("op")
    rows = sum(r.rows for r in ok)
    suff = ls.sufficient()
    tableone = ls.wall("engine.tableone")
    hyp = ls.named("hypothesis.test")
    op_jobs = sum(len(ls.subtree_jobs(s)) for s in ls.named("op"))

    def per_call(name: str, what: str) -> float:
        calls = ls.named(name)
        if not calls:
            return 0.0
        return (ls.wall(name) if what == "s" else ls.job_count(name)) / len(calls)

    m = {
        "engine.tableone_s": (tableone / n, "s"),
        "engine.assemble_s": (sum(ls.self_time(s) for s in ls.named("engine.tableone")) / n, "s"),
        "engine.result_collect_s": (ls.wall("engine.result_collect") / n, "s"),
        "engine.result_jobs": (ls.job_count("engine.result_collect") / n, "count"),
        "engine.result_collect_share": (ls.wall("engine.result_collect") / op_wall, "ratio"),
        "sufficient.wall_s": (suff["wall_s"] / n, "s"),
        "sufficient.op_share": (suff["wall_s"] / op_wall, "ratio"),
        "sufficient.jobs": (suff["jobs"] / n, "count"),
        "sufficient.scan_stages": (suff["scan_stages"] / n, "count"),
        "sufficient.input_records_per_row": (suff["input_records"] / rows if rows else 0.0, "ratio"),
        "sufficient.executor_cpu_s": (suff["executor_cpu_s"] / n, "s"),
        "sufficient.shuffle_write_bytes": (suff["shuffle_write_bytes"] / n, "B"),
        "sufficient.spill_bytes": (suff["spill_bytes"] / n, "B"),
        "sufficient.slot_util": (suff["slot_util"], "ratio"),
        "sufficient.task_skew": (suff["task_skew"], "ratio"),
        "sufficient.idle_gap_s": (suff["idle_gap_s"] / n, "s"),
        "hypothesis.s": (sum(s.t1 - s.t0 for s in hyp) / n, "s"),
        "hypothesis.calls": (len(hyp) / n, "count"),
        "tablelog.merge_s": (ls.wall("tablelog.merge_rows") / n, "s"),
        "tablelog.delete_s": (ls.wall("tablelog.delete_rows") / n, "s"),
        "tablelog.read_version_s": (ls.wall("tablelog.read_version") / n, "s"),
        "tablelog.optimize_s": (per_call("tablelog.optimize", "s"), "s"),
        "tablelog.merge_jobs": (per_call("tablelog.merge_rows", "jobs"), "count"),
        "tablelog.delete_jobs": (per_call("tablelog.delete_rows", "jobs"), "count"),
        "tablelog.optimize_jobs": (per_call("tablelog.optimize", "jobs"), "count"),
        "spark.jobs_per_op": (op_jobs / n, "count"),
        "spark.gc_s": (ls.gc_s(["op"]) / n, "s"),
        "host.steal_s": (steal, "s"),
        "host.cpu_s_per_op": (sum(r.cpu_s for r in traced) / len(traced), "s"),
        "trace.overhead_ratio": (
            sum(r.latency_s for r in traced) / sum(r.latency_s for r in plain), "ratio"),
        "trace.unattributed_jobs": (attribution["outside"], "count"),
        "trace.ambiguous_jobs": (attribution["ambiguous"], "count"),
    }
    live_files = dv_files = read_per_row = write_amp = space_amp = 0.0
    if registry:
        after = registry["layout"][1:]
        live_files = statistics.mean(x["live_files"] for x in after)
        dv_files = statistics.mean(x["dv_files"] for x in after)
        read_per_row = ls.input_records("engine.tableone") / rows if rows else 0.0
        grown = registry["layout"][-1]["disk_bytes"] - registry["layout"][0]["disk_bytes"]
        write_amp = grown / registry["source_bytes"]
        space_amp = registry["layout"][-1]["disk_bytes"] / registry["compact_live_bytes"]
    m.update({
        "tablelog.live_files": (live_files, "count"),
        "tablelog.dv_files": (dv_files, "count"),
        "tablelog.read_records_per_live_row": (read_per_row, "ratio"),
        "tablelog.write_amp": (write_amp, "ratio"),
        "tablelog.space_amp": (space_amp, "ratio"),
    })
    return m
