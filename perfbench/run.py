"""Forwarder benchmark: ``python3 perfbench/run.py --workload NAME --seed N
--seconds S --trace 0|1``, run from the root of a checkout.

Launches the shipped forwarder (``python -m nsq2kinesis_spark``) against
this benchmark's own NSQ broker and Kinesis endpoint (loadgen.py), feeds
it a seeded workload (workloads.py), checks every delivered byte
(checks.py) and prints one line per metric, then the result as a JSON
object on the last line. ``--trace 1`` runs the traced variant instead
(traced.py) and reports the per-layer metrics. Metric definitions and the
layer-to-end-to-end mapping are in METRICS.md.
"""

from __future__ import annotations

import argparse
import asyncio
import json
import os
import shutil
import signal
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from checks import check_delivery  # noqa: E402
from forward import RunFailed, cpu_count, run_forwarder  # noqa: E402
from report import emit, run_errors, run_extras, segment_figures  # noqa: E402
from workloads import FORWARD_WORKLOADS  # noqa: E402


def timed_run(args, repo_root: str, work: str) -> dict:
    inputs = FORWARD_WORKLOADS[args.workload](args.seed, args.seconds)
    run = asyncio.run(
        run_forwarder(
            inputs,
            [("measured", inputs.measured)],
            [sys.executable, "-m", "nsq2kinesis_spark"],
            repo_root,
            work,
            cpu_count(),
        )
    )
    rep = check_delivery(run.all_bodies, run.endpoint.records)
    metrics, extra, n_pub = segment_figures(run, run.segments[0], rep)
    extra.update(run_extras(run, rep))
    failed = rep.undelivered + rep.duplicated + rep.unexpected
    return emit(metrics, extra, run_errors(run, rep), n_pub, failed)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(FORWARD_WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # SIGTERM unwinds like an exception, so the forwarder is still stopped
    signal.signal(signal.SIGTERM, lambda signum, _frame: sys.exit(128 + signum))

    repo_root = os.getcwd()
    if not os.path.isfile(os.path.join(repo_root, "nsq2kinesis_spark", "__main__.py")):
        print("run from the root of a checkout: nsq2kinesis_spark/ not found", file=sys.stderr)
        return 2
    sys.path.insert(1, repo_root)
    work = os.path.join(repo_root, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work)
    result = None
    try:
        if args.trace:
            from traced import traced_run

            result = traced_run(args, repo_root, work)
        else:
            result = timed_run(args, repo_root, work)
    except RunFailed as exc:
        print(f"run failed: {exc}", file=sys.stderr)
        return 1
    finally:
        if result is None:  # the forwarder's own account of the failure
            log = os.path.join(work, "forwarder.log")
            if os.path.exists(log):
                with open(log, errors="replace") as fh:
                    sys.stderr.write(fh.read()[-6000:])
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
