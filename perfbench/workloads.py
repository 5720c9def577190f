"""The benchmark's workloads. Each drives only the engine's public entry
points and returns, for one run:

* ``e2e``      — cold_cpu_s and warm_cpu_s (see README.md for what they
                 mean on each workload);
* ``detail``   — the workload's own figures, wall-clock times among them
                 (freshness, lines/s, state read time, ...);
* ``layers``   — per-layer figures, filled in a traced run only;
* ``attempted`` / ``failed`` — operations tried and failed;
* ``window``   — wall-clock (start, end) of the measured part;
* ``checks``   — (name, ok, message) for every output check.

Output checks run after the measured part and are not timed.
"""

from __future__ import annotations

import json
import math
import os
import re
import statistics
import subprocess
import sys
import time
from concurrent.futures import ThreadPoolExecutor
from datetime import datetime

import gen
from tracing import p50

TABLES = ["logs", "clients", "messages", "deliveries"]
STORES = ["vocab", "neardup"]


def _q(xs, q: float) -> float:
    """Median for q = 0.5, else the nearest-rank quantile; 0.0 for no
    samples."""
    xs = sorted(xs)
    if not xs:
        return 0.0
    if q == 0.5:
        return float(statistics.median(xs))
    return float(xs[min(len(xs), max(1, math.ceil(q * len(xs)))) - 1])


def _digest(df):
    """Order-insensitive content digest of a DataFrame: row count plus two
    independent 64- and 32-bit row-hash sums (exact decimal sums, so no
    overflow). Equal multisets of rows give equal digests."""
    from pyspark.sql import functions as F

    cols = sorted(df.columns)
    r = df.select(F.xxhash64(*cols).alias("a"), F.hash(*cols).alias("b")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("a").cast("decimal(38,0)")).alias("a"),
        F.sum(F.col("b").cast("decimal(38,0)")).alias("b"),
    ).collect()[0]
    return int(r["n"]), str(r["a"]), str(r["b"])


def _layout(root: str, since: float | None = None) -> dict[str, dict]:
    """Per table under a store root: partitions (buckets) and files, total
    bytes, and — when ``since`` is given — the buckets holding a data file
    written after ``since`` and the bytes of those files."""
    out = {}
    for table in sorted(os.listdir(root)):
        tdir = os.path.join(root, table)
        if table.startswith(("_", ".")) or not os.path.isdir(tdir):
            continue
        files = n_bytes = new_bytes = 0
        touched = set()
        for dirpath, _, names in os.walk(tdir):
            for n in names:
                if n.startswith(("_", ".")):
                    continue
                st = os.stat(os.path.join(dirpath, n))
                files += 1
                n_bytes += st.st_size
                if since is not None and st.st_mtime >= since:
                    touched.add(dirpath)
                    new_bytes += st.st_size
        out[table] = {"files": files, "bytes": n_bytes,
                      "buckets_rewritten": len(touched), "bytes_written": new_bytes}
    return out


# --- tail -------------------------------------------------------------------

TAIL_WARMUP_BATCHES = 1  # micro-batches excluded from the measurement


def _iso(ts: str) -> float:
    return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


def _end_pos(p) -> int:
    m = re.search(r"pos\W+(\d+)", str(p["sources"][0]["endOffset"]))
    return int(m.group(1)) if m else 0


def _batches(q) -> list[dict]:
    """Micro-batches with input, from the query's progress reports."""
    out = []
    for p in q.recentProgress:
        if p["numInputRows"] <= 0:
            continue
        d = p["durationMs"]
        start = _iso(p["timestamp"])
        out.append({"id": p["batchId"], "start": start,
                    "commit": start + d["triggerExecution"] / 1000.0,
                    "rows": p["numInputRows"], "end_pos": _end_pos(p),
                    "ms": {k: d.get(k, 0) for k in ("triggerExecution", "addBatch",
                                                    "latestOffset", "queryPlanning",
                                                    "walCommit", "commitOffsets")}})
    return sorted(out, key=lambda b: b["id"])


def _batch_cpu_at(batches: list[dict], lines: int) -> tuple[float, float, float]:
    """(CPU seconds of a micro-batch of ``lines`` lines, per-batch fixed
    CPU, CPU per 1000 lines) from a least-squares line through the given
    batches' (lines, CPU seconds). Batches after the warm-up differ in
    size (the catch-up batch, the steady ones, the drain batch after the
    generator stops) and which of them a run gets depends on where its
    stop falls; a median over them moved by 30% between runs, the line
    evaluated at one fixed size by 10%. With fewer than two sizes it falls
    back to the median."""
    xs = [b["rows"] for b in batches]
    ys = [b["cpu"] for b in batches]
    mx, my = statistics.fmean(xs), statistics.fmean(ys)
    sxx = sum((x - mx) ** 2 for x in xs)
    if sxx == 0:
        return statistics.median(ys), 0.0, 0.0
    slope = sum((x - mx) * (y - my) for x, y in zip(xs, ys)) / sxx
    fixed = my - slope * mx
    return fixed + slope * lines, fixed, slope * 1000


def _cpu_listener(h, cpu_at: dict):
    """A StreamingQueryListener that stamps the engine's CPU seconds at
    each micro-batch's progress event (batches run back to back, so the
    difference between two stamps is one batch's CPU time)."""
    from pyspark.sql.streaming import StreamingQueryListener

    class CpuAtProgress(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            cpu_at.setdefault(event.progress.batchId, h.cpu_s())

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return CpuAtProgress()


def _await(pred, q, timeout: float, what: str) -> None:
    deadline = time.time() + timeout
    while not pred():
        if q.exception() is not None:
            raise RuntimeError(f"stream failed while waiting for {what}: {q.exception()}")
        if time.time() > deadline:
            raise TimeoutError(f"timed out waiting for {what}")
        time.sleep(0.1)


def tail(h, seed: int, seconds: int, tracer=None) -> dict:
    """Open loop: a separate generator process appends ``gen.TAIL_RATE``
    lines/s in ``gen.TAIL_WAVE_MS`` waves to one growing file; ``streaming.start_ingest(
    tail_file=True)`` follows it with the CLI's default trigger. The first
    TAIL_WARMUP_BATCHES micro-batches are warm-up; waves due in the next
    ``seconds`` are measured, then the generator stops, the stream drains
    and the four tables are read back."""
    from maillog2db_spark import streaming

    spark = h.spark
    d = h.work
    log, stamps, stop = (os.path.join(d, n) for n in ("grow.log", "stamps.json", "stop"))
    store_dir = os.path.join(d, "store")
    layout: list[dict] = []
    if tracer is not None:
        _trace_tail(tracer, store_dir, layout)
    g = subprocess.Popen([sys.executable, os.path.join(os.path.dirname(gen.__file__), "gen.py"),
                          "tail", "--seed", str(seed), "--out", log, "--stamps", stamps,
                          "--stop", stop])
    cpu_at: dict[int, float] = {}
    listener = _cpu_listener(h, cpu_at)
    spark.streams.addListener(listener)
    try:
        while not os.path.exists(log):
            time.sleep(0.02)
        t_run, cpu_start = time.time(), h.cpu_s()
        q = streaming.start_ingest(spark, log, store_dir, os.path.join(d, "ckpt"),
                                   year=gen.YEAR, tail_file=True)
        _await(lambda: len(_batches(q)) >= TAIL_WARMUP_BATCHES, q, 150, "warm-up batches")
        t_meas = time.time()
        while time.time() < t_meas + seconds:
            if q.exception() is not None:
                raise RuntimeError(f"stream failed: {q.exception()}")
            time.sleep(0.05)
        t_stop = time.time()
    finally:
        with open(stop, "w"):
            pass
        g.wait(timeout=60)
    st = json.load(open(stamps))
    final_pos = st["waves"][-1][2] if st["waves"] else 0
    _await(lambda: bool(_batches(q)) and _batches(q)[-1]["end_pos"] >= final_pos,
           q, 120, "the stream to drain")
    # the listener hears of a batch after its progress report: wait for it
    _await(lambda: all(b["id"] in cpu_at for b in _batches(q)), q, 30,
           "the CPU stamp of every micro-batch")
    batches = _batches(q)
    t_drained = time.time()
    q.stop()
    spark.streams.removeListener(listener)
    failed_stream = q.exception() is not None
    prev = cpu_start
    for b in batches:
        b["cpu"] = cpu_at[b["id"]] - prev
        prev = cpu_at[b["id"]]

    # freshness: from each measured wave's due time to the commit of the
    # first batch whose end offset covers the wave
    fresh = []
    for due, _, end in st["waves"]:
        if t_meas <= due <= t_stop:
            b = next(b for b in batches if b["end_pos"] >= end)
            fresh.append(b["commit"] - due)
    warm = batches[TAIL_WARMUP_BATCHES:] or batches
    late = [w - due for due, w, _ in st["waves"]]

    store = streaming.ParquetStateStore(store_dir)
    t0 = time.perf_counter()
    got = {t: _digest(store.read(spark, t)) for t in TABLES}
    state_read_s = time.perf_counter() - t0

    # the standard micro-batch: ten seconds of traffic
    warm_cpu, fixed_cpu, cpu_per_kline = _batch_cpu_at(warm, 10 * gen.TAIL_RATE)
    res = {
        "e2e": {"cold_cpu_s": batches[0]["cpu"], "warm_cpu_s": warm_cpu},
        "detail": {"batch_fixed_cpu_s": fixed_cpu, "cpu_s_per_1000_lines": cpu_per_kline,
                   "cold_s": batches[0]["ms"]["triggerExecution"] / 1000.0,
                   "warm_s": statistics.median(b["ms"]["triggerExecution"] for b in warm) / 1000.0,
                   "freshness_p50_s": _q(fresh, 0.5), "freshness_p95_s": _q(fresh, 0.95),
                   "freshness_samples": len(fresh), "state_read_s": state_read_s,
                   "lines_per_s": sum(b["rows"] for b in warm)
                   / sum(b["ms"]["triggerExecution"] / 1000.0 for b in warm),
                   "generator_late_p50_s": _q(late, 0.5), "generator_late_max_s": max(late),
                   "batches": [{"id": b["id"], "rows": b["rows"], "ms": b["ms"]["triggerExecution"],
                                "cpu_s": b["cpu"]} for b in batches],
                   "lines": st["lines_per_wave"] * len(st["waves"]),
                   "line_types": st["line_types"]},
        "attempted": len(batches),
        "failed": int(failed_stream),
        "window": (t_run, t_drained),
        "checks": [],
        "layers": {},
    }
    t0 = time.perf_counter()
    res["checks"], twin = _tail_checks(spark, log, got, st["predicted_rows"])
    res["detail"]["check_s"] = time.perf_counter() - t0
    if tracer is not None:
        res["layers"] = _tail_layers(h, tracer, batches, st, layout, store_dir, log)
        baseline, checks = _single_core_baseline(h, log, twin)
        res["layers"].update(baseline)
        res["checks"] += checks
    return res


def _tail_checks(spark, log: str, got: dict, predicted: dict) -> tuple[list, dict]:
    """The four store tables equal the batch twin (``pipeline.process_lines``
    over the same file) and the generator's predicted row counts. Also
    returns the twin's digests."""
    from maillog2db_spark import pipeline

    twin = pipeline.process_lines(spark.read.text(log), year=gen.YEAR, materialize=True)
    want = {t: _digest(getattr(twin, t)) for t in TABLES}
    checks = []
    for t in TABLES:
        checks.append((f"{t}=batch_twin", got[t] == want[t], f"store {got[t]} vs twin {want[t]}"))
        checks.append((f"{t}=predicted_rows", got[t][0] == predicted[t],
                       f"store {got[t][0]} rows vs generator {predicted[t]}"))
    return checks, want


def _trace_tail(tracer, store_dir: str, layout: list) -> None:
    from maillog2db_spark import parsing, streaming, tables

    def before_batch(args, kwargs):
        # trace even batches only; odd ones give the untraced baseline
        # that the tracing overhead is measured against
        tracer.enabled = args[1] % 2 == 0

    def after_batch(sp, args, kwargs):
        if os.path.isdir(store_dir):
            layout.append({"batch": args[1], "layout": _layout(store_dir, since=sp["start"])})

    tracer.wrap(streaming, "merge_batch", "streaming.merge_batch",
                before=before_batch, after=after_batch)
    S = streaming.ParquetStateStore
    tracer.wrap(S, "merge_append_dedup", lambda a, k: f"streaming.merge_{a[2]}")
    tracer.wrap(S, "merge_clients", "streaming.merge_clients")
    tracer.wrap(S, "merge_messages", "streaming.merge_messages")
    tracer.wrap(parsing, "parse_lines", "parsing.parse_lines")
    for t in ("build_logs", "build_deliveries", "build_messages_with_seqs"):
        tracer.wrap(tables, t, f"tables.{t}")


def _tail_layers(h, tracer, batches, st, layout, store_dir, log) -> dict:
    spark = h.spark
    tracer.enabled = True
    L: dict[str, float] = {}
    warm = batches[TAIL_WARMUP_BATCHES:] or batches
    # sources: backlog at commit = lines the generator had written beyond
    # the batch's end offset when the batch committed
    lag = [st["lines_per_wave"] * sum(1 for _, w, e in st["waves"]
                                      if w <= b["commit"] and e > b["end_pos"]) for b in warm]
    L["sources.lag_lines_p50"] = p50(lag)
    L["sources.lag_lines_max"] = float(max(lag, default=0))
    L["sources.batch_lines_p50"] = p50(b["rows"] for b in warm)
    for key, name in (("triggerExecution", "trigger"), ("addBatch", "add_batch"),
                      ("latestOffset", "latest_offset"), ("queryPlanning", "query_planning"),
                      ("walCommit", "wal_commit"), ("commitOffsets", "commit_offsets")):
        L[f"streaming.{name}_ms_p50"] = p50(b["ms"][key] for b in warm)
    L["streaming.merge_batch_s_p50"] = p50(tracer.durations("streaming.merge_batch"))
    for t in TABLES:
        L[f"streaming.merge_{t}_s_p50"] = p50(tracer.durations(f"streaming.merge_{t}"))
    traced = [b for b in warm if b["id"] % 2 == 0]
    untraced = [b for b in warm if b["id"] % 2 == 1]
    L["trace.overhead_s"] = (p50(b["ms"]["triggerExecution"] for b in traced)
                             - p50(b["ms"]["triggerExecution"] for b in untraced)) / 1000.0 \
        if traced and untraced else 0.0
    # store layout per traced warm batch
    warm_ids = {b["id"] for b in warm}
    traced_warm = [x for x in layout if x["batch"] in warm_ids] or layout
    lay = [x["layout"] for x in traced_warm]
    written = sum(sum(t["bytes_written"] for t in x.values()) for x in lay)
    line_bytes = os.path.getsize(log) / max(1, sum(1 for _ in open(log, "rb")))
    rows = {b["id"]: b["rows"] for b in batches}
    rows_in = sum(rows.get(x["batch"], 0) for x in traced_warm)
    for t in TABLES:
        L[f"streaming.buckets_rewritten_per_batch.{t}"] = p50(x.get(t, {}).get("buckets_rewritten", 0)
                                                               for x in lay)
    L["streaming.write_bytes_per_input_byte"] = written / (rows_in * line_bytes) if rows_in else 0.0
    final = _layout(store_dir)
    for t in TABLES:
        L[f"streaming.state_bytes.{t}"] = float(final.get(t, {}).get("bytes", 0))
        L[f"streaming.state_files.{t}"] = float(final.get(t, {}).get("files", 0))
    L["_layout_per_batch"] = [{"batch": x["batch"], **{t: x["layout"].get(t, {}).get("buckets_rewritten")
                                                       for t in TABLES}} for x in layout]
    # one-shot layer probes over the whole tail file (traced run only)
    L.update(_parse_probe(spark, log))
    return L


def _parse_probe(spark, log: str) -> dict:
    """sources / parsing / tables over the final tail file, each timed on
    its own: batch read through the ``maillog`` source, the parse
    materialised once, then each table builder over that parse."""
    from maillog2db_spark import parsing, sources, tables

    L = {}
    sources.register(spark)
    t0 = time.perf_counter()
    n_lines = spark.read.format("maillog").load(log).count()
    L["sources.read_s"] = time.perf_counter() - t0
    t0 = time.perf_counter()
    parsed = parsing.parse_lines(spark.read.text(log), year=gen.YEAR).localCheckpoint(eager=True)
    L["parsing.parse_s"] = time.perf_counter() - t0
    L["parsing.admitted_ratio"] = parsed.count() / max(1, n_lines)
    for t in TABLES:
        t0 = time.perf_counter()
        n = getattr(tables, f"build_{t}")(parsed).count()
        L[f"tables.build_s.{t}"] = time.perf_counter() - t0
        L[f"tables.rows.{t}"] = float(n)
    return L


def _single_core_baseline(h, log: str, twin: dict) -> tuple[dict, list]:
    """The CLI's ``-once`` path over the tail file at local[1] and at
    local[nproc], each in a fresh session into an empty store; each
    store is checked against the batch twin like the tailed one."""
    from harness import cpus
    from maillog2db_spark import streaming

    n_lines = sum(1 for _ in open(log, "rb"))
    L, checks = {}, []
    for n in (1, cpus()):
        spark = h.restart(n)
        d = os.path.join(h.work, f"once-{n}")
        t0 = time.perf_counter()
        streaming.start_ingest(spark, log, d + "/store", d + "/ckpt", year=gen.YEAR,
                               available_now=True, tail_file=True).awaitTermination()
        L[f"baseline.once_lines_per_s.local{'1' if n == 1 else 'N'}"] = (
            n_lines / (time.perf_counter() - t0))
        store = streaming.ParquetStateStore(d + "/store")
        for t in TABLES:
            got = _digest(store.read(spark, t))
            checks.append((f"once_local{n}.{t}=batch_twin", got == twin[t],
                           f"store {got} vs twin {twin[t]}"))
    return L, checks


# --- query mix --------------------------------------------------------------

QUERY_EVENTS = 20_000
# a fixed list, so that every commit runs the same work: all ml_* queries
# plus three ev/doc queries over the events and documents tables the
# generator writes (the other families read tables it does not make)
QUERY_MIX = [
    "ml_admission_stats", "ml_clients", "ml_deliveries", "ml_delivery_typed",
    "ml_logs", "ml_messages", "ml_msg_delivery_join", "ml_parse_header",
    "ml_pii_scrub", "ml_relay_latency", "ml_relay_latency_approx", "ml_router_counts",
    "ev_sessionize", "doc_bpe_token_stats", "doc_rolling_fingerprint",
]


def query_mix() -> list[str]:
    """QUERY_MIX; a query missing from the registry fails the run rather
    than changing the work measured."""
    from maillog2db_spark import queries as Q

    missing = [n for n in QUERY_MIX if n not in Q.REGISTRY]
    if missing:
        raise RuntimeError(f"queries missing from the registry: {missing}")
    return list(QUERY_MIX)


def make_sf(d: str, seed: int, n_events: int, docs: list[dict]) -> str:
    os.makedirs(d, exist_ok=True)
    gen.write_events(os.path.join(d, "events.parquet"), seed, n_events)
    gen.write_documents(os.path.join(d, "documents.parquet"), docs)
    return d


# --- corpus (store waves + query mix) -----------------------------------------

WAVE_DOCS = 200


def corpus(h, seed: int, seconds: int, tracer=None) -> dict:
    """Closed loop, one client, over one seeded corpus (events plus
    documents). Each unit of work is one wave of WAVE_DOCS documents (doc
    ids monotone across waves) through the two stores — additive partials
    (``streaming_vocab``) and a signature store with a whole-table rewrite
    (``streaming_neardup``) — followed by one pass of the query mix with
    ``bench.py``'s ``count()`` action. Unit 0 is cold; ``seconds // 10``
    (at least 1) warm units follow. Then the vocab store is compacted,
    the pairs log rewritten and the resolved state read back."""
    from maillog2db_spark import queries as Q
    from maillog2db_spark import streaming_neardup as snd
    from maillog2db_spark import streaming_vocab as sv

    spark = h.spark
    # a traced run adds one warm unit, so that it has both a traced and
    # an untraced warm unit to measure the tracing overhead between
    n_units = 1 + max(1, seconds // 10) + (tracer is not None)
    rows = gen.documents_rows(seed, n_units * WAVE_DOCS)
    sf = make_sf(os.path.join(h.work, "sf"), seed, QUERY_EVENTS, rows)
    paths = []
    for i in range(n_units):
        p = os.path.join(h.work, "waves", f"wave{i}.parquet")
        os.makedirs(os.path.dirname(p), exist_ok=True)
        gen.write_documents(p, rows[i * WAVE_DOCS:(i + 1) * WAVE_DOCS])
        paths.append(p)
    mix = query_mix()
    root = os.path.join(h.work, "stores")
    vstore = sv.VocabStore(os.path.join(root, "vocab"))
    nstore = snd.MinHashStore(os.path.join(root, "neardup"))
    ingest = {
        "vocab": lambda df, i: sv.vocab_ingest_batch(spark, df, vstore, i),
        "neardup": lambda df, i: snd.neardup_ingest_batch(
            spark, df.select("doc_id", "lang", "text"), nstore, i),
    }
    if tracer is not None:
        _trace_stores(tracer)
    sc = spark.sparkContext
    counts = {"attempted": 0, "failed": 0}
    phases: dict[str, list] = {}

    def timed(what: str, fn, traced: bool, group: str | None = None):
        counts["attempted"] += 1
        t0 = time.perf_counter()
        try:
            if traced and group is not None:
                sc.setJobGroup(group, what)
            fn()
            return time.perf_counter() - t0
        except Exception as e:  # a failed operation is counted, not fatal
            counts["failed"] += 1
            print(f"perfbench: {what} failed: {e}", file=sys.stderr)
            return None
        finally:
            if traced and group is not None:
                sc.setJobGroup("", "")

    def run_query(name: str, tag: str, traced: bool) -> None:
        if not traced:
            Q.REGISTRY[name].fn(spark, sf).count()
            return
        # traced: build, plan and execute timed apart
        w0, t0 = time.time(), time.perf_counter()
        df = Q.REGISTRY[name].fn(spark, sf)
        t1, w1 = time.perf_counter(), time.time()
        df._jdf.queryExecution().executedPlan()
        t2 = time.perf_counter()
        df.count()
        t3 = time.perf_counter()
        phases.setdefault(tag, []).append(
            {"name": name, "build": t1 - t0, "plan": t2 - t1, "exec": t3 - t2,
             "group": f"{tag}:{name}", "build_window": (w0, w1)})

    units = []
    t_run = time.time()
    for i, p in enumerate(paths):
        # in a traced run, trace unit 0 and the even warm units; the odd
        # warm units give the untraced baseline for the tracing overhead
        traced = tracer is not None and i % 2 == 0
        if tracer is not None:
            tracer.enabled = traced
        df = spark.read.parquet(p)
        w0, c0 = time.time(), h.cpu_s()
        stores = {s: timed(f"wave {i} {s}", lambda f=f: f(df, i), False) for s, f in ingest.items()}
        w1 = time.time()
        tag = "cold" if i == 0 else f"warm{i}"
        qs = {n: timed(f"query {n}", lambda n=n: run_query(n, tag, traced), traced,
                       f"{tag}:{n}") for n in mix}
        units.append({"unit": i, "traced": traced, "stores": stores, "queries": qs,
                      "cpu_s": h.cpu_s() - c0, "wave_window": (w0, w1)})
    t_units_done = time.time()
    if tracer is not None:
        tracer.enabled = True

    t0 = time.perf_counter()
    sv.compact_store(spark, vstore)
    nstore.compact_pairs(spark)
    compact_s = time.perf_counter() - t0
    t0 = time.perf_counter()
    got = {
        "source_kl": sorted(map(tuple, sv.source_kl(spark, vstore).collect())),
        "vocab_growth": sorted(map(tuple, sv.vocab_growth(spark, vstore).collect())),
        "temperature_mix": sorted(map(tuple, sv.temperature_mix(spark, vstore).collect())),
        "zipf_fit": sorted(map(tuple, sv.zipf_fit(spark, vstore).collect())),
        "neardup_pairs": sorted(map(tuple, nstore.read_pairs(spark).collect())),
    }
    state_read_s = time.perf_counter() - t0

    def ok(ts) -> list[float]:  # times of the operations that succeeded
        return [t for t in ts if t is not None]

    def total(u) -> float:
        return sum(ok(u["stores"].values())) + sum(ok(u["queries"].values()))

    warm = units[1:]
    per_query = [t for u in warm for t in ok(u["queries"].values())]
    per_store = [t for u in warm for t in ok(u["stores"].values())]
    res = {
        "e2e": {"cold_cpu_s": units[0]["cpu_s"],
                "warm_cpu_s": statistics.median(u["cpu_s"] for u in warm)},
        "detail": {"cold_s": total(units[0]),
                   "warm_s": statistics.median(total(u) for u in warm),
                   "latency_p50_s": _q(per_query + per_store, 0.5),
                   "query_cold_s": sum(ok(units[0]["queries"].values())),
                   "query_warm_s": statistics.median(sum(ok(u["queries"].values())) for u in warm),
                   "warm_p50_s": _q(per_query, 0.5), "warm_p80_s": _q(per_query, 0.8),
                   "wave_cold_s": sum(ok(units[0]["stores"].values())),
                   "batch_p50_s": _q(per_store, 0.5), "state_read_s": state_read_s,
                   "compact_s": compact_s, "units": n_units, "docs_per_wave": WAVE_DOCS,
                   "queries": mix, "unit_times": units},
        "attempted": counts["attempted"],
        "failed": counts["failed"],
        "window": (t_run, t_units_done),
        "checks": [],
        "layers": {},
    }
    t0 = time.perf_counter()
    # the checks are many small independent jobs: overlap them
    with ThreadPoolExecutor(max_workers=4) as pool:
        res["checks"] = _store_checks(spark, sf, got, pool) + _query_checks(spark, sf, mix, pool)
    res["detail"]["check_s"] = time.perf_counter() - t0
    if tracer is not None:
        L = _query_layers(phases)
        L.update(_store_layers(tracer, root))
        traced_tot = [total(u) for u in warm if u["traced"]]
        untraced_tot = [total(u) for u in warm if not u["traced"]]
        L["trace.overhead_s"] = p50(traced_tot) - p50(untraced_tot) \
            if traced_tot and untraced_tot else 0.0
        L["_units"] = units
        res["layers"] = L
    return res


def _normalize(pdf):
    import pandas as pd

    pdf = pdf[sorted(pdf.columns)].copy()
    for c in pdf.columns:
        s = pdf[c]
        if pd.api.types.is_datetime64_any_dtype(s):
            pdf[c] = s.dt.strftime("%Y-%m-%d %H:%M:%S.%f")
        elif pd.api.types.is_float_dtype(s):
            pdf[c] = s.round(9)
        elif s.dtype == object:
            pdf[c] = s.map(lambda v: tuple(v) if hasattr(v, "__len__") and not isinstance(v, (str, bytes, dict)) else v)
    pdf = pdf.astype(str)
    return pdf.sort_values(by=list(pdf.columns), kind="mergesort").reset_index(drop=True)


def _query_checks(spark, sf: str, mix: list[str], pool) -> list:
    """Each query's rows equal its DuckDB oracle (row count, column names,
    order-insensitive values) where it has one; otherwise it returns rows."""
    import duckdb

    from maillog2db_spark import queries as Q

    con = duckdb.connect()
    for t in ("events", "documents"):
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet'")

    def one(name: str):
        try:
            got = Q.REGISTRY[name].fn(spark, sf).toPandas()
            sql = Q.REGISTRY[name].oracle_sql
            if sql is None:
                return name, len(got) > 0, f"rows-only: {len(got)} rows"
            want = con.cursor().sql(sql).df()
            ok = (sorted(got.columns) == sorted(want.columns) and len(got) == len(want)
                  and _normalize(got).equals(_normalize(want)))
            return name, ok, f"spark {len(got)} rows vs oracle {len(want)}"
        except Exception as e:
            return name, False, f"error: {e}"

    checks = [f.result() for f in [pool.submit(one, n) for n in mix]]
    con.close()
    return checks


def _query_layers(phases) -> dict:
    L: dict[str, float] = {}
    for tag, key in (("cold", "cold"), ("warm", "warm")):
        rows = [r for t, rs in phases.items() if t.startswith(tag) for r in rs]
        n_pass = max(1, len({t for t in phases if t.startswith(tag)}))
        for ph in ("build", "plan", "exec"):
            L[f"queries.{ph}_s_{key}"] = sum(r[ph] for r in rows) / n_pass
    L["_phases"] = phases
    return L


def _store_checks(spark, sf: str, got: dict, pool) -> list:
    """Resolved store state equals the batch operators over the union of
    the waves (the stream≡batch equivalences of the streaming tests)."""
    from maillog2db_spark.operators import dedup
    from maillog2db_spark.operators.corpus_analytics import source_kl
    from maillog2db_spark.operators.sampling import source_temperature_mix
    from maillog2db_spark.operators.text import vocab_growth, zipf_fit

    ops = {"source_kl": source_kl, "vocab_growth": vocab_growth,
           "temperature_mix": source_temperature_mix, "zipf_fit": zipf_fit,
           "neardup_pairs": dedup.neardup_pairs}
    want = {k: pool.submit(lambda op=op: sorted(map(tuple, op(spark, sf).collect())))
            for k, op in ops.items()}
    want = {k: f.result() for k, f in want.items()}
    checks = [(k, got[k] == want[k], f"store {len(got[k])} rows vs batch {len(want[k])}")
              for k in ops]
    checks.append(("neardup_pairs_nonempty", len(want["neardup_pairs"]) > 0,
                   f"{len(want['neardup_pairs'])} pairs"))
    return checks


def _trace_stores(tracer) -> None:
    from maillog2db_spark import ledger, streaming_neardup, streaming_vocab

    tracer.wrap(streaming_vocab, "vocab_ingest_batch", "stores.ingest.vocab")
    tracer.wrap(streaming_neardup, "neardup_ingest_batch", "stores.ingest.neardup")
    tracer.wrap(ledger, "compact_additive_store", "ledger.compact_additive_store")
    tracer.wrap(ledger, "atomic_rewrite", "ledger.atomic_rewrite")
    tracer.wrap(streaming_neardup, "atomic_rewrite", "ledger.atomic_rewrite")
    tracer.wrap(ledger.FileBatchLedger, "mark_committed", "ledger.mark_committed")


def _store_layers(tracer, root) -> dict:
    L: dict[str, float] = {}
    for s in STORES:
        # unit 0 (cold) excluded
        L[f"stores.ingest_s_p50.{s}"] = p50(tracer.durations(f"stores.ingest.{s}")[1:])
        lay = _layout(os.path.join(root, s))
        L[f"stores.state_bytes.{s}"] = float(sum(t["bytes"] for t in lay.values()))
        L[f"stores.state_files.{s}"] = float(sum(t["files"] for t in lay.values()))
    L["ledger.compact_s"] = sum(tracer.durations("ledger.compact_additive_store"))
    L["ledger.atomic_rewrite_s"] = sum(tracer.durations("ledger.atomic_rewrite"))
    L["ledger.mark_committed_s"] = sum(tracer.durations("ledger.mark_committed"))
    return L
