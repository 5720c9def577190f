#!/usr/bin/env python3
"""sparklog benchmark: one command per workload.

    python3 perfbench/run.py --workload tail --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The last line of standard output is one
JSON object ``{"correct", "attempted", "failed", "metrics"}``: with
``--trace 0`` the metrics are the end-to-end metrics of BENCHMARK.json,
with ``--trace 1`` the per-layer ones. Each run also writes its full
figures (and, traced, its spans) to ``.perfbench_out/``. The exit code is
0 when every output check passed, 1 when one failed and 2 when the run
could not start (for example, without the engine package beside it).
See perfbench/README.md for the workloads and metric definitions.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("tail", "corpus")

TABLES = ["logs", "clients", "messages", "deliveries"]
STORES = ["vocab", "neardup"]
E2E = {"setup_s": "s", "peak_rss_mb": "MB", "cold_cpu_s": "s", "warm_cpu_s": "s"}


def _per_layer() -> dict[str, str]:
    m = {"session.start_s": "s",
         "sources.read_s": "s", "sources.lag_lines_p50": "lines",
         "sources.lag_lines_max": "lines", "sources.batch_lines_p50": "lines"}
    for k in ("trigger", "add_batch", "latest_offset", "query_planning", "wal_commit",
              "commit_offsets"):
        m[f"streaming.{k}_ms_p50"] = "ms"
    m["streaming.merge_batch_s_p50"] = "s"
    for t in TABLES:
        m[f"streaming.merge_{t}_s_p50"] = "s"
    m.update({"streaming.jobs_per_batch": "count", "streaming.stages_per_batch": "count",
              "streaming.tasks_per_batch": "count", "streaming.executor_run_s_per_batch": "s",
              "streaming.shuffle_write_bytes_per_batch": "bytes",
              "streaming.task_busy_ratio": "ratio",
              "streaming.write_bytes_per_input_byte": "ratio"})
    for t in TABLES:
        m[f"streaming.buckets_rewritten_per_batch.{t}"] = "count"
        m[f"streaming.state_bytes.{t}"] = "bytes"
        m[f"streaming.state_files.{t}"] = "count"
    m.update({"parsing.parse_s": "s", "parsing.admitted_ratio": "ratio"})
    for t in TABLES:
        m[f"tables.build_s.{t}"] = "s"
        m[f"tables.rows.{t}"] = "count"
    for ph in ("build", "plan", "exec"):
        for w in ("cold", "warm"):
            m[f"queries.{ph}_s_{w}"] = "s"
    m.update({"queries.build_jobs_warm": "count", "queries.jobs_warm": "count",
              "queries.stages_warm": "count", "queries.tasks_warm": "count",
              "queries.executor_run_s_warm": "s", "queries.shuffle_bytes_warm": "bytes",
              "queries.spill_bytes_warm": "bytes", "queries.task_busy_ratio_warm": "ratio"})
    for s in STORES:
        m[f"stores.ingest_s_p50.{s}"] = "s"
        m[f"stores.state_bytes.{s}"] = "bytes"
        m[f"stores.state_files.{s}"] = "count"
    m.update({"ledger.compact_s": "s", "ledger.atomic_rewrite_s": "s",
              "ledger.mark_committed_s": "s", "stores.jobs_per_wave": "count",
              "spark.jobs": "count", "spark.tasks": "count", "spark.gc_s": "s",
              "baseline.once_lines_per_s.local1": "lines/s",
              "baseline.once_lines_per_s.localN": "lines/s",
              "trace.overhead_s": "s"})
    return m


PER_LAYER = _per_layer()


def _eventlog_layers(workload: str, res: dict, ev, n_cpus: int) -> dict:
    """Per-layer figures from the Spark event log: job, stage and task
    counts, executor run time, shuffle, spill and GC, attributed to a
    micro-batch or a wave by time window and to a query by job group."""
    from tracing import p50

    L = res["layers"]
    # jobs submitted while the workload's measured part ran: not set-up,
    # output checks, probes or the baseline sessions
    everything = ev.totals(ev.select(window=res["window"]))
    L["spark.jobs"] = float(everything["jobs"])
    L["spark.tasks"] = float(everything["tasks"])
    L["spark.gc_s"] = everything["gc_s"]
    if workload == "tail":
        per = []
        for s in res["spans"]:
            if s["name"] == "streaming.merge_batch":
                tot = ev.totals(ev.select(window=(s["start"], s["end"])))
                per.append((tot, s["end"] - s["start"]))
        for key in ("jobs", "stages", "tasks"):
            L[f"streaming.{key}_per_batch"] = p50(t[key] for t, _ in per)
        L["streaming.executor_run_s_per_batch"] = p50(t["executor_run_s"] for t, _ in per)
        L["streaming.shuffle_write_bytes_per_batch"] = p50(t["shuffle_write_bytes"] for t, _ in per)
        wall = sum(w for _, w in per)
        L["streaming.task_busy_ratio"] = (sum(t["executor_run_s"] for t, _ in per)
                                          / (wall * n_cpus)) if wall else 0.0
    elif workload == "corpus":
        warm = [r for tag, rs in L.pop("_phases").items() if tag.startswith("warm") for r in rs]
        n_pass = max(1, len({r["group"].split(":")[0] for r in warm}))
        tot = ev.totals([j for r in warm for j in ev.select(group=r["group"])])
        build = [j for r in warm for j in ev.select(group=r["group"], window=r["build_window"])]
        L["queries.build_jobs_warm"] = len(build) / n_pass
        for key in ("jobs", "stages", "tasks"):
            L[f"queries.{key}_warm"] = tot[key] / n_pass
        L["queries.executor_run_s_warm"] = tot["executor_run_s"] / n_pass
        L["queries.shuffle_bytes_warm"] = tot["shuffle_write_bytes"] / n_pass
        L["queries.spill_bytes_warm"] = tot["spill_bytes"] / n_pass
        wall = sum(r["exec"] for r in warm)
        L["queries.task_busy_ratio_warm"] = (tot["executor_run_s"] / (wall * n_cpus)) if wall else 0.0
        units = [u for u in L.pop("_units")[1:] if u["traced"]]
        L["stores.jobs_per_wave"] = p50(len(ev.select(window=u["wave_window"])) for u in units)
    return L


def _cpu_jiffies() -> tuple[int, int]:
    """(total, steal) CPU time of the whole machine, from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return sum(fields), fields[7]


def main() -> int:
    ap = argparse.ArgumentParser(description="sparklog benchmark")
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "maillog2db_spark")):
        print(f"perfbench: engine package maillog2db_spark not found in {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    import harness
    import tracing
    import workloads

    h = harness.Harness(args.workload, bool(args.trace))
    tracer = tracing.Tracer() if args.trace else None
    try:
        h.start_session()
        start = h.last_start
        t_work = time.time()
        cpu0 = _cpu_jiffies()
        res = getattr(workloads, args.workload)(h, args.seed, args.seconds, tracer)
        cpu1 = _cpu_jiffies()
        res["detail"]["workload_wall_s"] = time.time() - t_work
        res["detail"]["setup_wall_s"] = start["wall_s"]
        # share of the machine's CPU time taken by the hypervisor while the
        # workload ran: the figure to look at when a run reads slow
        res["detail"]["steal_share"] = (cpu1[1] - cpu0[1]) / max(1, cpu1[0] - cpu0[0])
        rss = h.peak_rss_mb()
        if tracer is not None:
            tracer.unwrap_all()
            h.spark.stop()  # closes the event log
            res["spans"] = tracer.closed()
            _eventlog_layers(args.workload, res, tracing.EventLog(h.event_dir), harness.cpus())
            res["layers"]["session.start_s"] = start["wall_s"]
            tracer.dump(os.path.join(harness.OUT_ROOT, f"spans-{args.workload}-{args.seed}.json"))
    finally:
        h.shutdown()

    checks = res["checks"]
    correct = all(ok for _, ok, _ in checks)
    for name, ok, msg in checks:
        if not ok:
            print(f"perfbench: check failed: {name}: {msg}", file=sys.stderr)
    e2e = {"setup_s": start["cpu_s"], "peak_rss_mb": rss, **res["e2e"]}
    if args.trace:
        layers = res["layers"]
        metrics = {k: {"value": float(layers.get(k, 0.0)), "unit": u}
                   for k, u in PER_LAYER.items()}
    else:
        metrics = {k: {"value": float(e2e[k]), "unit": u} for k, u in E2E.items()}
    detail = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
              "trace": args.trace, "time": time.time(), "e2e": e2e, "detail": res["detail"],
              "layers": res["layers"],
              "checks": checks, "attempted": res["attempted"], "failed": res["failed"]}
    with open(os.path.join(harness.OUT_ROOT,
                           f"{args.workload}-seed{args.seed}-trace{args.trace}.json"), "w") as f:
        json.dump(detail, f, indent=1, default=str)
    print(json.dumps({"correct": correct, "attempted": int(res["attempted"]),
                      "failed": int(res["failed"]), "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
