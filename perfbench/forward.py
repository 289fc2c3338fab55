"""One forwarder run: start the load generator, launch the forwarder against
it, feed a workload's schedule, shut the forwarder down with SIGTERM and
collect what both ends saw."""

from __future__ import annotations

import asyncio
import dataclasses
import os
import signal
import subprocess
import time
from dataclasses import dataclass, field

from loadgen import BrokerStats, KinesisEndpoint, NsqBroker, wall_ns_at
from procstat import TreeSampler
from workloads import THROTTLE_FRAC, ForwardInputs

TOPIC = "bench"
CHANNEL = "nsq2kinesis"  # the forwarder's default --channel
STREAM = "bench-stream"
SETUP_TIMEOUT_S = 120.0
DRAIN_TIMEOUT_S = 60.0
EXIT_TIMEOUT_S = 40.0
SAMPLE_EVERY_S = 1.0  # each sample reads smaps_rollup of every Python process


class RunFailed(RuntimeError):
    """The run could not complete; no result is printed."""


def cpu_count() -> int:
    return len(os.sched_getaffinity(0))


def child_env(repo_root: str, work: str) -> dict[str, str]:
    """The forwarder's environment: repo on the path, scratch space and
    Spark's local dirs inside the work directory, static test credentials.
    The CLI's own flag variables and engine conf overrides are left out, so
    the forwarder runs with its defaults."""
    env = {
        k: v
        for k, v in os.environ.items()
        if not k.startswith(("AWS_", "SPARK_GRAFT"))
        and k not in ("TOPIC", "CHANNEL", "STREAM", "KINESIS_ENDPOINT", "NSQD_TCP_ADDRESS",
                      "SPOOL_DIR", "TEST", "CHECKPOINT_DIR", "SKETCH_TABLE")
    }
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env.update(
        PYTHONPATH=repo_root,
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=os.path.join(work, "local"),
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp}",
        AWS_ACCESS_KEY_ID="test",
        AWS_SECRET_ACCESS_KEY="test",
        AWS_REGION="us-east-1",
        AWS_EC2_METADATA_DISABLED="true",
        AWS_CONFIG_FILE=os.path.join(work, "aws-config"),
        AWS_SHARED_CREDENTIALS_FILE=os.path.join(work, "aws-credentials"),
    )
    return env


def forwarder_argv(broker_addr: str, endpoint_url: str, checkpoint: str, cpus: int) -> list[str]:
    """The shipped CLI's flags: defaults plus test mode, endpoint, checkpoint
    and core count."""
    return [
        "--topic", TOPIC,
        "--nsqd-tcp-address", broker_addr,
        "--stream", STREAM,
        "--kinesis-endpoint", endpoint_url,
        "--test",
        "--checkpoint-dir", checkpoint,
        "--cpus", str(cpus),
    ]


@dataclass
class Segment:
    """One measured part of a run. ``t0``/``t1`` are loop time; ``wall0`` is
    ``t0`` on the wall clock (the forwarder's spans use wall time)."""

    name: str
    t0: float
    wall0: float
    t1: float = 0.0
    published: list = field(default_factory=list)  # (Publication, Message) per copy
    generator_cpu_s: float = 0.0
    tree_cpu_s: float = 0.0  # forwarder process-tree CPU over the segment
    broker0: BrokerStats | None = None  # broker counters at the segment start
    backlog_max: int = 0


@dataclass
class ForwardRun:
    """What one run observed. Times are generator loop time (seconds)."""

    t_start: float = 0.0
    t_first_record: float = 0.0
    segments: list[Segment] = field(default_factory=list)
    all_bodies: list[bytes] = field(default_factory=list)
    broker: NsqBroker | None = None
    endpoint: KinesisEndpoint | None = None
    sampler: TreeSampler | None = None
    exit_code: int | None = None
    log_path: str = ""
    leftover_pids: list[int] = field(default_factory=list)
    timeline: dict[str, float] = field(default_factory=dict)  # phase -> seconds


async def _wait_for(pred, timeout: float, proc: subprocess.Popen, what: str) -> None:
    deadline = time.monotonic() + timeout
    while not pred():
        if proc.poll() is not None:
            raise RunFailed(f"forwarder exited with {proc.returncode} while waiting for {what}")
        if time.monotonic() > deadline:
            raise RunFailed(f"timed out after {timeout:.0f}s waiting for {what}")
        await asyncio.sleep(0.02)


def _schedule(broker: NsqBroker, pubs, base: float, loop) -> list:
    out = []
    for p in pubs:
        due = base + p.offset_s
        out.append((p, broker.publish(p.body, due, wall_ns_at(due, loop))))
    return out


async def run_forwarder(
    inputs: ForwardInputs,
    segments: list[tuple[str, list]],
    child_cmd: list[str],
    repo_root: str,
    work: str,
    cpus: int,
    on_segment=None,
    exit_timeout_s: float = EXIT_TIMEOUT_S,
) -> ForwardRun:
    """Drive one forwarder process through set-up, warm-up and each
    measured segment in turn (``on_segment(name)`` runs before a segment
    is scheduled); return once it has exited and its process tree is gone.
    A segment ends when every message published so far is FINed."""
    loop = asyncio.get_running_loop()
    run = ForwardRun()
    broker = NsqBroker(TOPIC, CHANNEL)
    endpoint = KinesisEndpoint(inputs.throttle_salt, THROTTLE_FRAC)
    run.broker, run.endpoint = broker, endpoint
    await broker.start()
    await endpoint.start()
    run.log_path = os.path.join(work, "forwarder.log")
    checkpoint = os.path.join(work, "checkpoint")
    proc = None
    try:
        with open(run.log_path, "wb") as log:
            run.t_start = loop.time()
            for body in inputs.first:
                broker.publish(body, run.t_start, wall_ns_at(run.t_start, loop))
            proc = subprocess.Popen(
                child_cmd + forwarder_argv(broker.addr, endpoint.url, checkpoint, cpus),
                cwd=work,
                env=child_env(repo_root, work),
                stdin=subprocess.DEVNULL,
                stdout=log,
                stderr=subprocess.STDOUT,
            )
        run.sampler = TreeSampler(proc.pid, SAMPLE_EVERY_S)
        run.sampler.start()

        await _wait_for(lambda: endpoint.records, SETUP_TIMEOUT_S, proc, "the first record")
        run.t_first_record = endpoint.records[0].t_recv
        t_warm = loop.time() + 0.05
        _schedule(broker, inputs.warmup, t_warm, loop)
        if inputs.measure_after_s is None:
            await _wait_for(
                lambda: broker.unfinished == 0, DRAIN_TIMEOUT_S, proc, "warm-up messages"
            )
        else:  # the first segment's schedule starts 0.05 s after this wake-up
            await asyncio.sleep(max(0.0, t_warm + inputs.measure_after_s - 0.05 - loop.time()))
        run.timeline["warmup_s"] = loop.time() - run.t_first_record

        for name, pubs in segments:
            if on_segment is not None:
                on_segment(name)
            seg = Segment(name, loop.time() + 0.05, time.time() + 0.05)
            gen_cpu0, tree_cpu0 = time.thread_time(), run.sampler.cpu_s()
            seg.broker0 = dataclasses.replace(broker.stats, lateness_s=[])
            broker.stats.backlog_max = 0
            seg.published = _schedule(broker, pubs, seg.t0, loop)
            last_due = max((m.due for _, m in seg.published), default=seg.t0)
            await asyncio.sleep(max(0.0, last_due - loop.time()))
            await _wait_for(
                lambda: broker.unfinished == 0, DRAIN_TIMEOUT_S, proc, f"segment {name} to drain"
            )
            seg.t1 = loop.time()
            run.timeline[f"{name}.drain_s"] = seg.t1 - last_due
            seg.generator_cpu_s = time.thread_time() - gen_cpu0
            seg.tree_cpu_s = run.sampler.cpu_s() - tree_cpu0
            seg.backlog_max = broker.stats.backlog_max
            run.segments.append(seg)

        t_stop = loop.time()
        proc.send_signal(signal.SIGTERM)
        run.exit_code = await loop.run_in_executor(None, _wait_exit, proc, exit_timeout_s)
        run.timeline["shutdown_s"] = loop.time() - t_stop
    finally:
        if run.sampler is not None:
            run.sampler.stop()
        if proc is not None and proc.poll() is None:
            proc.kill()
            await loop.run_in_executor(None, proc.wait)
        if run.sampler is not None:
            marker = f"TMPDIR={os.path.join(work, 'tmp')}".encode()
            t_reap = loop.time()
            run.leftover_pids = await loop.run_in_executor(None, _reap, run.sampler, marker)
            run.timeline["reap_s"] = loop.time() - t_reap
        await broker.close()
        await endpoint.close()
    run.all_bodies = (
        list(inputs.first)
        + [p.body for p in inputs.warmup]
        + [p.body for _, pubs in segments for p in pubs]
    )
    return run


def _wait_exit(proc: subprocess.Popen, timeout: float) -> int | None:
    try:
        return proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        return None


def _reap(sampler: TreeSampler, marker: bytes) -> list[int]:
    """Wait for every process of the tree to end; kill stragglers. Returns
    the pids that had to be killed."""
    deadline = time.monotonic() + 10
    while sampler.alive(marker) and time.monotonic() < deadline:
        time.sleep(0.1)
    left = sampler.alive(marker)
    for pid in left:
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    deadline = time.monotonic() + 5
    while sampler.alive(marker) and time.monotonic() < deadline:
        time.sleep(0.05)
    return left
