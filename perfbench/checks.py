"""Correctness checks of a forwarder run, independent of the program's code."""

from __future__ import annotations

from collections import Counter
from collections.abc import Iterable
from dataclasses import dataclass, field

from loadgen import decode_record
from workloads import MAX_BODY_BYTES

MAX_KEY_CHARS = 256


@dataclass
class DeliveryReport:
    expected: int = 0  # distinct deliverable bodies published
    delivered: int = 0  # expected bodies decoded at the endpoint
    undelivered: int = 0
    duplicated: int = 0  # extra copies of expected bodies
    unexpected: int = 0  # decoded bodies never published, or too big to forward
    errors: list[str] = field(default_factory=list)
    first_recv: dict[bytes, float] = field(default_factory=dict)

    @property
    def ok(self) -> bool:
        return not self.errors


def check_delivery(published: Iterable[bytes], records: Iterable) -> DeliveryReport:
    """The multiset of distinct deliverable published bodies must equal the
    multiset of bodies decoded from the accepted records, byte for byte.

    ``records`` carry ``partition_key``, ``data`` and ``t_recv``. Every
    record must have a partition key of 1..256 characters and fit the
    Kinesis 1 MiB record limit; bodies over ``MAX_BODY_BYTES`` must be
    dropped by the forwarder."""
    rep = DeliveryReport()
    expected = {b for b in published if len(b) <= MAX_BODY_BYTES}
    rep.expected = len(expected)
    seen: Counter[bytes] = Counter()
    n_bad_key = n_too_big = n_corrupt = 0
    for rec in records:
        if not 1 <= len(rec.partition_key) <= MAX_KEY_CHARS:
            n_bad_key += 1
        if len(rec.data) + len(rec.partition_key.encode()) > MAX_BODY_BYTES:
            n_too_big += 1
        try:
            bodies = decode_record(rec.data)
        except (ValueError, IndexError):
            n_corrupt += 1
            continue
        for body in bodies:
            seen[body] += 1
            rep.first_recv.setdefault(body, rec.t_recv)
    rep.delivered = sum(1 for b in expected if seen[b])
    rep.undelivered = rep.expected - rep.delivered
    rep.duplicated = sum(n - 1 for b, n in seen.items() if b in expected and n > 1)
    rep.unexpected = sum(n for b, n in seen.items() if b not in expected)
    for count, what in (
        (n_corrupt, "records failed KPL decoding"),
        (n_bad_key, "records without a valid partition key"),
        (n_too_big, "records over the 1 MiB Kinesis limit"),
        (rep.undelivered, "published bodies never delivered"),
        (rep.duplicated, "bodies delivered more than once"),
        (rep.unexpected, "delivered bodies that were never published or are oversize"),
    ):
        if count:
            rep.errors.append(f"{count} {what}")
    return rep
