"""Figures and correctness verdicts of a forwarder run (see METRICS.md)."""

from __future__ import annotations

import math

from forward import STREAM
from workloads import MAX_BODY_BYTES, SLO_S

# every end-to-end metric, in BENCHMARK.json order: name -> unit
END_TO_END = {
    "setup_s": "s",
    "peak_pss_mb": "MB",
    "latency_p50_ms": "ms",
    "latency_p99_ms": "ms",
    "cpu_ms_per_msg": "ms",
}
LATENESS_P99_GATE_S = 0.05
LATENESS_MAX_GATE_S = 0.5
KINESIS_UNIT_B = 25_000


def percentile(values, q: float) -> float:
    """Nearest-rank percentile (q in 0..100) of a non-empty sequence."""
    s = sorted(values)
    return s[max(0, math.ceil(q / 100 * len(s)) - 1)]


def run_errors(run, rep) -> list[str]:
    """Correctness failures of a whole forwarder run."""
    broker, endpoint = run.broker, run.endpoint
    errors = list(rep.errors)
    if run.exit_code != 0:
        errors.append(f"forwarder exit code {run.exit_code} after SIGTERM")
    if run.leftover_pids:
        errors.append(f"{len(run.leftover_pids)} forwarder processes outlived it")
    if broker.unfinished:
        errors.append(f"{broker.unfinished} messages never FINed")
    if STREAM not in endpoint.stats.streams_created:
        errors.append("the forwarder did not create its stream in test mode")
    if endpoint.stats.auth_failures:
        errors.append(
            f"SigV4 rejected {len(endpoint.stats.auth_failures)} requests: "
            f"{endpoint.stats.auth_failures[0]}"
        )
    with open(run.log_path, "rb") as fh:
        n_dead = fh.read().count(b'"dead_letter"')
    if n_dead:
        errors.append(f"{n_dead} messages dead-lettered")
    lateness = broker.stats.lateness_s
    if percentile(lateness, 99) > LATENESS_P99_GATE_S or max(lateness) > LATENESS_MAX_GATE_S:
        errors.append(
            f"generator fell behind: lateness p99 {percentile(lateness, 99) * 1e3:.1f} ms, "
            f"max {max(lateness) * 1e3:.1f} ms"
        )
    return errors


def segment_figures(run, seg, rep) -> tuple[dict, dict, int]:
    """End-to-end metrics and extra figures of one segment, and the number
    of distinct deliverable messages it published."""
    # latency of each distinct body, from its first scheduled copy
    first_due: dict[bytes, tuple[float, str]] = {}
    for pub, msg in seg.published:
        if pub.body not in first_due or msg.due < first_due[pub.body][0]:
            first_due[pub.body] = (msg.due, pub.phase)
    lat: dict[str, list[float]] = {}
    missing = 0  # deliverable but never delivered: misses any limit
    for body, (due, phase) in first_due.items():
        t = rep.first_recv.get(body)
        if t is not None:
            lat.setdefault(phase, []).append(t - due)
        elif len(body) <= MAX_BODY_BYTES:
            missing += 1
    n_msgs = sum(len(v) for v in lat.values())
    n_pub = n_msgs + missing
    units = n_records = 0
    for rec in run.endpoint.records:
        if seg.t0 <= rec.t_recv <= seg.t1:
            units += math.ceil((len(rec.data) + len(rec.partition_key.encode())) / KINESIS_UNIT_B)
            n_records += 1
    every = [x for v in lat.values() for x in v]
    values = {
        "setup_s": run.t_first_record - run.t_start,
        "peak_pss_mb": run.sampler.peak_pss / 2**20,
        "latency_p50_ms": percentile(every, 50) * 1e3,
        "latency_p99_ms": percentile(every, 99) * 1e3,
        "cpu_ms_per_msg": seg.tree_cpu_s * 1e3 / n_msgs,
    }
    metrics = {k: (values[k], unit) for k, unit in END_TO_END.items()}
    extra = {
        f"latency_{q}_ms.{ph}": (percentile(v, n) * 1e3, f"ms (n={len(v)})")
        for ph, v in sorted(lat.items())
        for q, n in (("p50", 50), ("p99", 99))
    }
    if "backlog" in lat:
        extra["drain_msgs_per_s"] = (n_msgs / max(lat["backlog"]), "msg/s")
    n_late = sum(1 for x in every if x > SLO_S)
    extra.update(
        {
            # whole epochs quantize it: every non-empty epoch costs one record
            # per shuffle partition, so on forward_steady one epoch more or
            # less in a run moves it by a tenth; a per-layer figure, not bounded
            "put_units_per_1k_msgs": (1000 * units / n_msgs, "units/1k"),
            "slo_miss_frac": ((missing + n_late) / n_pub, "fraction"),
            "generator.cpu_frac": (seg.generator_cpu_s / (seg.t1 - seg.t0), "fraction"),
            "measured_msgs": (n_msgs, "count"),
            "measured_records": (n_records, "count"),
        }
    )
    return metrics, extra, n_pub


def run_extras(run, rep) -> dict:
    """Whole-run figures: delivery fractions, generator lateness, timeline."""
    lateness = run.broker.stats.lateness_s
    b = run.broker.stats
    return {
        "broker.redeliveries": (b.redeliveries, "count"),
        "broker.timeouts": (b.timeouts, "count"),
        "broker.requeues": (b.requeues, "count"),
        "broker.fin_errors": (b.fin_errors, "count"),
        "undelivered_frac": (rep.undelivered / max(1, rep.expected), "fraction"),
        "dup_delivered_frac": (rep.duplicated / max(1, rep.expected), "fraction"),
        "generator.lateness_ms.p99": (percentile(lateness, 99) * 1e3, "ms"),
        "generator.lateness_ms.max": (max(lateness) * 1e3, "ms"),
        **{f"timeline.{k}": (v, "s") for k, v in run.timeline.items()},
    }


def emit(metrics: dict, extra: dict, errors: list[str], attempted: int, failed: int) -> dict:
    """Print every figure on its own line; return the result object."""
    for name, (value, unit) in {**metrics, **extra}.items():
        print(f"{name} = {value:.6g} {unit}")
    for err in errors:
        print(f"CHECK FAILED: {err}")
    return {
        "correct": not errors,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
