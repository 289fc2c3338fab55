"""Traced run (``--trace 1``): per-layer metrics of the forwarder and of the
dedup operators, measured from this benchmark's own wrappers and counters.

One forwarder process (traced_child.py) runs an untraced segment, a traced
one and a second untraced one. The traced segment gives the per-layer
metrics; the tracing overhead is its median latency (of the ``low`` phase,
or of the backlog) minus the mean of the two untraced segments' medians,
which cancels the drift of a forwarder still warming up.
After SIGTERM the same warm session runs the dedup operators on a seeded
corpus. ``forward_backlog`` adds a run of the plain CLI at ``--cpus 1`` as
the single-core baseline.

Spans per epoch (shared epoch id): ``epoch`` with children ``source.read``
(latestOffset + getBatch), ``plan`` (queryPlanning), ``sink.call``
(addBatch, itself the parent of ``put_records``) and ``commit`` (walCommit
+ commitOffsets). A span's self time is its duration minus the part its
children cover.
"""

from __future__ import annotations

import asyncio
import glob
import hashlib
import json
import os
import shutil
import sys
import time
from datetime import datetime

from checks import check_delivery
from corpus import ORACLE_QUERIES, Q76_RECALL_GATE, oracle_digests, write_corpus
from forward import cpu_count, run_forwarder
from loadgen import decode_record
from report import emit, percentile, run_errors, run_extras, segment_figures
from workloads import FORWARD_WORKLOADS, MAX_BODY_BYTES

KPL_TARGET_B = 25_000
CHILD_EXIT_TIMEOUT_S = 120.0
# forward_backlog's traced run drains four backlogs (untraced, traced,
# untraced, single-core), each this share of the timed run's, to stay
# well inside the run time limit
BACKLOG_SEGMENT_SHARE = 1 / 3
# the single-core baseline (a second forwarder start) runs only if the
# traced part ended this soon, so a slow host still finishes within the
# benchmark's per-run limit
BASELINE_DEADLINE_S = 85.0

# every per-layer metric, in BENCHMARK.json order: name -> unit
PER_LAYER = {
    "sources.nsq.read_ms.p50": "ms",
    "sources.nsq.read_ms.p99": "ms",
    "sources.nsq.msgs_per_epoch.p50": "msg",
    "sources.nsq.ack_lag_ms.p50": "ms",
    "sources.nsq.ack_lag_ms.p99": "ms",
    "sources.nsq.backlog_msgs.max": "msg",
    "sources.nsq.touches_per_msg": "count",
    "sources.nsq.redelivered_frac": "fraction",
    "streaming.pipeline.epoch_ms.p50": "ms",
    "streaming.pipeline.epoch_ms.p99": "ms",
    "streaming.pipeline.plan_ms.p50": "ms",
    "streaming.pipeline.commit_ms.p50": "ms",
    "streaming.pipeline.trigger_wait_ms.p50": "ms",
    "streaming.pipeline.state_rows.max": "rows",
    "streaming.pipeline.state_mb.max": "MB",
    "streaming.pipeline.dedup_dropped_frac": "fraction",
    "streaming.kinesis_sink.call_ms.p50": "ms",
    "streaming.kinesis_sink.call_ms.p99": "ms",
    "streaming.kinesis_sink.client_setup_ms.p50": "ms",
    "streaming.kinesis_sink.put_records_ms.p50": "ms",
    "streaming.kinesis_sink.put_records_ms.p99": "ms",
    "streaming.kinesis_sink.tasks_per_epoch": "count",
    "streaming.kinesis_sink.msgs_per_record": "msg",
    "streaming.kinesis_sink.records_per_call": "count",
    "streaming.kinesis_sink.retried_frac": "fraction",
    "streaming.kinesis_sink.wire_bytes_per_msg": "B",
    "streaming.kinesis_sink.put_units_per_1k_msgs": "units/1k",
    "streaming.kpl.pack_msgs_per_s": "msg/s",
    "streaming.kpl.fill_frac": "fraction",
    "operators.llm_dedup.shared_postings_s": "s",
    "operators.llm_dedup.q75_s": "s",
    "operators.llm_dedup.q76_s": "s",
    "operators.llm_dedup.q78_s": "s",
    "operators.similarity.q80_s": "s",
    "operators.similarity.q82_s": "s",
    "operators.shuffle_mb": "MB",
    "operators.llm_dedup.q76_recall": "fraction",
    "session.get_spark_s": "s",
    "trace.self_frac.epoch": "fraction",
    "trace.self_frac.source_read": "fraction",
    "trace.self_frac.plan": "fraction",
    "trace.self_frac.sink_call": "fraction",
    "trace.self_frac.put_records": "fraction",
    "trace.self_frac.commit": "fraction",
    "trace.overhead_ms": "ms",
}


def pct(values, q: float) -> float:
    return percentile(values, q) if values else 0.0


def _union_s(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b > end:
            total += b - max(a, end)
            end = b
    return total


def _epochs(progress: list[dict], since_wall: float) -> list[dict]:
    """Progress events of epochs that started after ``since_wall``, in order,
    each with its start as a wall-clock ``start`` field."""
    out = []
    for p in progress:
        start = datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp()
        if start >= since_wall:
            out.append({**p, "start": start})
    return sorted(out, key=lambda p: p["batchId"])


def pipeline_layers(trace_dir: str, since_wall: float) -> dict[str, float]:
    """Per-layer metrics of the streaming path from the traced segment."""
    with open(os.path.join(trace_dir, "main.json")) as fh:
        main = json.load(fh)
    spans = []
    for path in glob.glob(os.path.join(trace_dir, "exec-*.jsonl")):
        with open(path) as fh:
            spans += [json.loads(line) for line in fh]
    epochs = _epochs([json.loads(p) for p in main["progress"]], since_wall)
    data = [p for p in epochs if p["numInputRows"] > 0]
    sink_spans = {s["epoch"]: s for s in main["sink_spans"] if s["t0"] >= since_wall}
    puts = [s for s in spans if s["name"] == "put_records" and s["t0"] >= since_wall]
    setups = [s for s in spans if s["name"] == "client_setup" and s["t0"] >= since_wall]

    def dur(p, *keys):
        return sum(p["durationMs"].get(k, 0) for k in keys)

    self_ms = dict.fromkeys(("epoch", "source_read", "plan", "sink_call", "put_records", "commit"), 0.0)
    epoch_total = 0.0
    for p in data:
        e = dur(p, "triggerExecution")
        read, plan = dur(p, "latestOffset", "getBatch"), dur(p, "queryPlanning")
        add, commit = dur(p, "addBatch"), dur(p, "walCommit", "commitOffsets")
        call = sink_spans.get(p["batchId"])
        put = 0.0
        if call is not None:
            put = 1e3 * _union_s(
                [(s["t0"], s["t1"]) for s in puts if call["t0"] <= s["t0"] <= call["t1"]]
            )
        epoch_total += e
        for k, v in (("epoch", e - read - plan - add - commit), ("source_read", read),
                     ("plan", plan), ("sink_call", add - put), ("put_records", put),
                     ("commit", commit)):
            self_ms[k] += v
    tasks = [
        sum(1 for s in setups if c["t0"] <= s["t0"] <= c["t1"]) for c in sink_spans.values()
    ]
    waits = [
        1e3 * (b["start"] - a["start"]) - dur(a, "triggerExecution")
        for a, b in zip(epochs, epochs[1:])
    ]
    state = [op for p in data for op in p.get("stateOperators", [])]
    n_in = sum(p["numInputRows"] for p in data)
    n_fwd = sum(
        p.get("observedMetrics", {}).get("forward_metrics", {}).get("n_records", 0) for p in data
    )
    out = {
        "sources.nsq.read_ms.p50": pct([dur(p, "latestOffset", "getBatch") for p in data], 50),
        "sources.nsq.read_ms.p99": pct([dur(p, "latestOffset", "getBatch") for p in data], 99),
        "sources.nsq.msgs_per_epoch.p50": pct([p["numInputRows"] for p in data], 50),
        "streaming.pipeline.epoch_ms.p50": pct([dur(p, "triggerExecution") for p in data], 50),
        "streaming.pipeline.epoch_ms.p99": pct([dur(p, "triggerExecution") for p in data], 99),
        "streaming.pipeline.plan_ms.p50": pct([dur(p, "queryPlanning") for p in data], 50),
        "streaming.pipeline.commit_ms.p50": pct([dur(p, "walCommit", "commitOffsets") for p in data], 50),
        "streaming.pipeline.trigger_wait_ms.p50": pct(waits, 50),
        "streaming.pipeline.state_rows.max": max((op["numRowsTotal"] for op in state), default=0),
        "streaming.pipeline.state_mb.max": max((op["memoryUsedBytes"] for op in state), default=0) / 2**20,
        "streaming.pipeline.dedup_dropped_frac": 1 - n_fwd / n_in if n_in else 0.0,
        "streaming.kinesis_sink.call_ms.p50": pct([1e3 * (s["t1"] - s["t0"]) for s in sink_spans.values()], 50),
        "streaming.kinesis_sink.call_ms.p99": pct([1e3 * (s["t1"] - s["t0"]) for s in sink_spans.values()], 99),
        "streaming.kinesis_sink.client_setup_ms.p50": pct([1e3 * (s["t1"] - s["t0"]) for s in setups], 50),
        "streaming.kinesis_sink.put_records_ms.p50": pct([1e3 * (s["t1"] - s["t0"]) for s in puts], 50),
        "streaming.kinesis_sink.put_records_ms.p99": pct([1e3 * (s["t1"] - s["t0"]) for s in puts], 99),
        "streaming.kinesis_sink.tasks_per_epoch": sum(tasks) / len(tasks) if tasks else 0.0,
        "session.get_spark_s": main["get_spark_s"],
    }
    for k, v in self_ms.items():
        out[f"trace.self_frac.{k}"] = v / epoch_total if epoch_total else 0.0
    return out


def broker_endpoint_layers(run, seg) -> dict[str, float]:
    """Counters the generator kept over the traced segment."""
    b0, b1 = seg.broker0, run.broker.stats
    deliveries = b1.deliveries - b0.deliveries
    msgs = [m for _, m in seg.published]
    lags = [m.fin_at - m.delivered_at for m in msgs if m.fin_at is not None]
    calls = [c for c in run.endpoint.stats.calls if seg.t0 <= c.t_recv <= seg.t1]
    recs = [r for r in run.endpoint.records if seg.t0 <= r.t_recv <= seg.t1]
    n_bodies = sum(len(decode_record(r.data)) for r in recs)
    distinct = {p.body for p, _ in seg.published if len(p.body) <= MAX_BODY_BYTES}
    n_attempted = sum(c.n_records for c in calls)
    return {
        "sources.nsq.ack_lag_ms.p50": 1e3 * pct(lags, 50),
        "sources.nsq.ack_lag_ms.p99": 1e3 * pct(lags, 99),
        "sources.nsq.backlog_msgs.max": seg.backlog_max,
        "sources.nsq.touches_per_msg": (b1.touches - b0.touches) / max(1, deliveries),
        "sources.nsq.redelivered_frac": (b1.redeliveries - b0.redeliveries) / max(1, deliveries),
        "streaming.kinesis_sink.msgs_per_record": n_bodies / max(1, len(recs)),
        "streaming.kinesis_sink.records_per_call": n_attempted / max(1, len(calls)),
        "streaming.kinesis_sink.retried_frac": sum(c.n_throttled for c in calls) / max(1, n_attempted),
        "streaming.kinesis_sink.wire_bytes_per_msg": sum(c.wire_bytes for c in calls) / max(1, len(distinct)),
    }


def kpl_layers(bodies: list[bytes]) -> dict[str, float]:
    """Isolated KplAggregator put/drain on the segment's own bodies, each
    with a 16-hex-digit key like the pipeline's keyless fallback."""
    from nsq2kinesis_spark.streaming.kpl import KplAggregator, is_aggregated

    keyed = [(b, hashlib.blake2b(b, digest_size=8).hexdigest()) for b in bodies]
    rates, fills = [], []
    for _ in range(3):
        agg = KplAggregator(target_size=KPL_TARGET_B)
        t0 = time.perf_counter()
        for body, key in keyed:
            agg.put(body, key)
        entries = agg.drain()
        rates.append(len(keyed) / (time.perf_counter() - t0))
        fills = [len(e.data) / KPL_TARGET_B for e in entries if is_aggregated(e.data)]
    return {
        "streaming.kpl.pack_msgs_per_s": sorted(rates)[1],
        "streaming.kpl.fill_frac": sum(fills) / len(fills) if fills else 0.0,
    }


def corpus_layers(trace_dir: str, oracle: dict[str, str]) -> tuple[dict, list[str], dict]:
    """Operator metrics, oracle/recall check failures and extra figures."""
    with open(os.path.join(trace_dir, "corpus.json")) as fh:
        res = json.load(fh)
    errors = [
        f"{q} differs from its DuckDB oracle" for q in ORACLE_QUERIES if res["digests"][q] != oracle[q]
    ]
    if res["q75_pairs"] == 0:
        errors.append("q75 found no near-duplicate pairs in the planted corpus")
    if res["q76_recall"] < Q76_RECALL_GATE:
        errors.append(f"q76 recall {res['q76_recall']:.3f} below {Q76_RECALL_GATE}")
    sec = res["seconds"]
    out = {
        "operators.llm_dedup.shared_postings_s": sec["shared_postings"],
        "operators.llm_dedup.q75_s": sec["q75_neardup_jaccard"],
        "operators.llm_dedup.q76_s": sec["q76_neardup_minhash_lsh"],
        "operators.llm_dedup.q78_s": sec["q78_simhash_pairs"],
        "operators.similarity.q80_s": sec["q80_cosine_topk"],
        "operators.similarity.q82_s": sec["q82_ann_ivf"],
        "operators.shuffle_mb": sum(res["shuffle_mb"].values()),
        "operators.llm_dedup.q76_recall": res["q76_recall"],
    }
    extra = {f"operators.{q}.shuffle_mb": (v, "MB") for q, v in res["shuffle_mb"].items()}
    extra["operators.job_s"] = (sum(sec.values()), "s")
    return out, errors, extra


def cached_oracle(seed: int, corpus_dir: str, repo_root: str) -> dict[str, str]:
    """Oracle digests, computed once per seed and corpus content."""
    h = hashlib.sha256()
    for t in ("documents", "embeddings"):
        with open(os.path.join(corpus_dir, f"{t}.parquet"), "rb") as fh:
            h.update(fh.read())
    cache = os.path.join(repo_root, ".perfbench_work", "oracle", f"{seed}-{h.hexdigest()[:16]}.json")
    if os.path.exists(cache):
        with open(cache) as fh:
            return json.load(fh)
    digests = oracle_digests(corpus_dir, repo_root)
    os.makedirs(os.path.dirname(cache), exist_ok=True)
    with open(cache, "w") as fh:
        json.dump(digests, fh)
    return digests


def traced_run(args, repo_root: str, work: str) -> dict:
    t_start = time.monotonic()
    trace_dir = os.path.join(work, "trace")
    corpus_dir = os.path.join(work, "corpus")
    os.makedirs(trace_dir)
    write_corpus(args.seed, corpus_dir)
    oracle = cached_oracle(args.seed, corpus_dir, repo_root)

    make = FORWARD_WORKLOADS[args.workload]
    if args.workload == "forward_steady":
        inputs = make(args.seed, args.seconds)
        phase = "low"
        untraced = [
            [p for p in make(args.seed, args.seconds, variant=v).measured if p.phase == phase]
            for v in (1, 3)
        ]
    else:
        seconds = args.seconds * BACKLOG_SEGMENT_SHARE
        inputs = make(args.seed, seconds)
        phase = "backlog"
        untraced = [make(args.seed, seconds, variant=v).measured for v in (1, 3)]
    enabled = os.path.join(trace_dir, "ENABLED")

    def on_segment(name: str) -> None:
        if name == "traced":
            open(enabled, "w").close()
        elif os.path.exists(enabled):
            os.remove(enabled)

    child = [sys.executable, os.path.join(os.path.dirname(__file__), "traced_child.py"),
             trace_dir, corpus_dir, "--"]
    run = asyncio.run(
        run_forwarder(
            inputs,
            [("untraced", untraced[0]), ("traced", inputs.measured), ("untraced2", untraced[1])],
            child, repo_root, work, cpu_count(), on_segment, CHILD_EXIT_TIMEOUT_S,
        )
    )
    rep = check_delivery(run.all_bodies, run.endpoint.records)
    errors = run_errors(run, rep)
    plain = [segment_figures(run, run.segments[i], rep)[1] for i in (0, 2)]
    e2e, extra, n_pub = segment_figures(run, run.segments[1], rep)
    seg = run.segments[1]
    layers = pipeline_layers(trace_dir, seg.wall0)
    layers.update(broker_endpoint_layers(run, seg))
    bodies = [p.body for p, _ in seg.published if len(p.body) <= MAX_BODY_BYTES]
    layers.update(kpl_layers(list(dict.fromkeys(bodies))))
    op_layers, op_errors, op_extra = corpus_layers(trace_dir, oracle)
    layers.update(op_layers)
    errors += op_errors
    key = f"latency_p50_ms.{phase}"
    untraced_p50 = (plain[0][key][0] + plain[1][key][0]) / 2
    layers["trace.overhead_ms"] = extra[key][0] - untraced_p50
    layers["streaming.kinesis_sink.put_units_per_1k_msgs"] = extra["put_units_per_1k_msgs"][0]

    extra = {f"traced.{k}": v for k, v in {**e2e, **extra}.items()}
    extra.update({f"untraced.{key}": (untraced_p50, "ms (mean of two segments)")})
    extra.update(op_extra)
    extra.update(run_extras(run, rep))
    if args.workload == "forward_backlog" and time.monotonic() - t_start > BASELINE_DEADLINE_S:
        print("cpus1 baseline skipped: the traced run took too long to leave time for it")
    elif args.workload == "forward_backlog":
        cpus1, cpus1_errors = single_core_baseline(args, repo_root, work)
        extra.update(cpus1)
        base_rate = (plain[0]["drain_msgs_per_s"][0] + plain[1]["drain_msgs_per_s"][0]) / 2
        extra["cpus1.speedup_of_all_cores"] = (base_rate / cpus1["cpus1.drain_msgs_per_s"][0], "x")
        errors += cpus1_errors
    metrics = {k: (layers[k], unit) for k, unit in PER_LAYER.items()}
    failed = rep.undelivered + rep.duplicated + rep.unexpected
    return emit(metrics, extra, errors, n_pub, failed)


def single_core_baseline(args, repo_root: str, work: str) -> tuple[dict, list[str]]:
    """The plain CLI at ``--cpus 1`` on a backlog the size of the untraced
    segments: its figures and correctness failures."""
    base = os.path.join(work, "cpus1")
    os.makedirs(base)
    inputs = FORWARD_WORKLOADS[args.workload](
        args.seed, args.seconds * BACKLOG_SEGMENT_SHARE, variant=2
    )
    inputs.warmup = []  # the set-up messages suffice before a drain-rate baseline
    run = asyncio.run(
        run_forwarder(inputs, [("measured", inputs.measured)],
                      [sys.executable, "-m", "nsq2kinesis_spark"], repo_root, base, 1)
    )
    rep = check_delivery(run.all_bodies, run.endpoint.records)
    e2e, extra, _ = segment_figures(run, run.segments[0], rep)
    errors = [f"cpus1: {e}" for e in run_errors(run, rep)]
    shutil.rmtree(base, ignore_errors=True)
    out = {f"cpus1.{k}": v for k, v in e2e.items()}
    out["cpus1.drain_msgs_per_s"] = extra["drain_msgs_per_s"]
    return out, errors
