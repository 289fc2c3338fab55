"""Seeded inputs of the forwarder workloads.

Everything the program sees (message bodies, their schedule, which copies
are duplicates, which Kinesis records the endpoint throttles) is derived
here from the benchmark's ``--seed``; the same seed gives the same inputs.
The rates and sizes are fixed constants, not computed at run time.
"""

from __future__ import annotations

from dataclasses import dataclass

from statistics import NormalDist

import numpy as np

MAX_BODY_BYTES = 1 << 20  # the forwarder drops bodies above this (Kinesis limit)
SLO_S = 10.0  # reference nsqd MsgTimeout: later than this, nsqd redelivers
DUP_FRAC = 0.10  # share of distinct bodies published a second time
THROTTLE_FRAC = 0.10  # share of Kinesis records failed on their first attempt
WARMUP_FIRST = 20  # bodies due at process start; the first delivery ends set-up
WARMUP_RATE = 100.0  # msg/s of the post-set-up warm-up stream
WARMUP_S = 1.0
# forward_steady's warm-up stream is longer and runs straight into the
# measured schedule: the JVM is still compiling hot paths for several epochs
# after set-up, and a pipeline that has gone idle starts its next epoch late
STEADY_WARMUP_S = 4.0

# forward_steady: two open-loop Poisson phases of equal length. HIGH_RATE is
# about two-thirds of the small-body drain rate the host sustains in its slow
# hours, with a margin: an 8000 message backlog of ~200 B bodies drains at
# 290-310 msg/s on a quiet 4-core x86 host, so about 250 msg/s when the host
# runs its usual 15-20 % slower in busy hours. At two-thirds of the quiet rate
# the forwarder neared saturation in busy hours, and its latency grew far more
# than the host slowed.
LOW_RATE = 100.0
HIGH_RATE = 150.0
SMALL_MEDIAN_B = 200
SMALL_SIGMA = 0.5
DUP_DELAY_S = (1.0, 3.0)

# forward_backlog: one preloaded backlog released at once. Log-normal sizes
# with median 8 KB and sigma chosen so that one body in eight is over the
# 25 KB KPL target; a few planted bodies are over 1 MiB. The forwarder reads
# at most 1000 copies per epoch, 909 distinct bodies at this duplicate
# share. The backlog is an odd number of such epochs, so its median message
# sits mid-epoch: on an epoch boundary the median would flip between two
# epochs' completion times from run to run.
DRAIN_MSGS_PER_S = 227  # about the drain rate on a 4-core x86 host
EPOCH_DISTINCT = 909
BIG_MEDIAN_B = 8192
BIG_SIGMA = 0.97
BIG_CAP_B = 900_000
OVERSIZE_BODIES = 3
OVERSIZE_RANGE_B = (MAX_BODY_BYTES + 50_000, MAX_BODY_BYTES + 300_000)


@dataclass
class Publication:
    """One published copy: seconds after its phase starts, and its body."""

    offset_s: float
    body: bytes
    phase: str


class BodyFactory:
    """Unique bodies: an ASCII serial header plus seeded filler bytes."""

    def __init__(self, rng: np.random.Generator, variant: int) -> None:
        self.rng = rng
        self.variant = variant
        self.serial = 0

    def make(self, size: int) -> bytes:
        self.serial += 1
        head = b"msg-%d-%08d|" % (self.variant, self.serial)
        n = max(0, size - len(head))
        return head + self.rng.integers(32, 127, size=n, dtype=np.uint8).tobytes()

    def lognormal(self, median: float, sigma: float, n: int, lo: int, hi: int) -> list[bytes]:
        """``n`` bodies whose sizes are the log-normal's quantiles at evenly
        spaced levels, in seeded order: every seed gets the same size mix, so
        the seed moves which body is where, not how many bytes a run carries."""
        z = np.array([NormalDist().inv_cdf((i + 0.5) / n) for i in range(n)])
        sizes = np.clip(median * np.exp(sigma * z), lo, hi)
        return [self.make(int(s)) for s in self.rng.permutation(sizes)]


def _poisson_offsets(rng: np.random.Generator, rate: float, seconds: float) -> np.ndarray:
    """Arrival times of a Poisson process over ``seconds``, conditioned on
    its expected count (given the count, arrivals are uniform)."""
    return np.sort(rng.uniform(0.0, seconds, size=int(round(rate * seconds))))


def _with_duplicates(
    rng: np.random.Generator, pubs: list[Publication], delay_s: tuple[float, float]
) -> list[Publication]:
    n_dup = int(round(DUP_FRAC * len(pubs)))
    picks = rng.choice(len(pubs), size=n_dup, replace=False)
    dups = [
        Publication(pubs[i].offset_s + rng.uniform(*delay_s), pubs[i].body, pubs[i].phase)
        for i in sorted(picks)
    ]
    return sorted(pubs + dups, key=lambda p: p.offset_s)


@dataclass
class ForwardInputs:
    first: list[bytes]  # due at process start
    warmup: list[Publication]  # relative to the end of set-up
    measured: list[Publication]  # relative to the start of measurement
    throttle_salt: bytes
    # when set, measurement starts this long after the warm-up stream does,
    # without waiting for the warm-up messages to drain
    measure_after_s: float | None = None


def forward_steady(seed: int, seconds: float, variant: int = 0) -> ForwardInputs:
    """``variant`` draws an independent schedule with distinct bodies from
    the same seed (the traced run draws its extra segments this way)."""
    rng = np.random.default_rng([seed, 1, variant])
    bodies = BodyFactory(rng, variant)

    def small(n: int) -> list[bytes]:
        return bodies.lognormal(SMALL_MEDIAN_B, SMALL_SIGMA, n, 40, 4000)

    first = small(WARMUP_FIRST)
    warm_t = _poisson_offsets(rng, LOW_RATE, STEADY_WARMUP_S)
    warmup = [Publication(t, b, "warmup") for t, b in zip(warm_t, small(len(warm_t)))]
    half = seconds / 2
    low_t = _poisson_offsets(rng, LOW_RATE, half)
    high_t = _poisson_offsets(rng, HIGH_RATE, half) + half
    pubs = [Publication(t, b, "low") for t, b in zip(low_t, small(len(low_t)))]
    pubs += [Publication(t, b, "high") for t, b in zip(high_t, small(len(high_t)))]
    measured = _with_duplicates(rng, pubs, DUP_DELAY_S)
    return ForwardInputs(first, warmup, measured, rng.bytes(16), STEADY_WARMUP_S)


def forward_backlog(seed: int, seconds: float, variant: int = 0) -> ForwardInputs:
    rng = np.random.default_rng([seed, 2, variant])
    bodies = BodyFactory(rng, variant)

    def big(n: int) -> list[bytes]:
        return bodies.lognormal(BIG_MEDIAN_B, BIG_SIGMA, n, 64, BIG_CAP_B)

    first = bodies.lognormal(SMALL_MEDIAN_B, SMALL_SIGMA, WARMUP_FIRST, 40, 4000)
    warm_t = _poisson_offsets(rng, WARMUP_RATE, WARMUP_S)
    warmup = [Publication(t, b, "warmup") for t, b in zip(warm_t, big(len(warm_t)))]
    epochs = max(1, 2 * round((seconds * DRAIN_MSGS_PER_S / EPOCH_DISTINCT - 1) / 2) + 1)
    n = epochs * EPOCH_DISTINCT
    backlog = big(n - OVERSIZE_BODIES)
    backlog += [bodies.make(int(rng.integers(*OVERSIZE_RANGE_B))) for _ in range(OVERSIZE_BODIES)]
    order = rng.permutation(len(backlog))
    pubs = [Publication(0.0, backlog[i], "backlog") for i in order]
    measured = _with_duplicates(rng, pubs, (0.0, 0.0))
    return ForwardInputs(first, warmup, measured, rng.bytes(16))


FORWARD_WORKLOADS = {"forward_steady": forward_steady, "forward_backlog": forward_backlog}
