"""Tests of the benchmark's own checker, decoder, signer check and broker.

Run from the repository root: ``python3 -m pytest perfbench -q``.
"""

from __future__ import annotations

import asyncio
import json
import os
import sys
from types import SimpleNamespace

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(1, ROOT)

from checks import check_delivery  # noqa: E402
from loadgen import KPL_MAGIC, KinesisEndpoint, NsqBroker, decode_record, verify_sigv4  # noqa: E402
from workloads import MAX_BODY_BYTES, forward_backlog, forward_steady  # noqa: E402


def _records(bodies: list[bytes]) -> list[SimpleNamespace]:
    """Kinesis records as the forwarder's packer builds them."""
    from nsq2kinesis_spark.streaming.kpl import KplAggregator

    agg = KplAggregator(target_size=25_000)
    for i, b in enumerate(bodies):
        agg.put(b, f"key-{i:04d}")
    return [
        SimpleNamespace(partition_key=e.partition_key, data=e.data, t_recv=float(n))
        for n, e in enumerate(agg.drain())
    ]


@pytest.fixture
def bodies() -> list[bytes]:
    return [b"body-%04d|" % i + bytes([i % 251]) * (i * 37 % 3000) for i in range(300)] + [
        b"x" * 30_000  # over the KPL target: passes through unpacked
    ]


def test_exact_delivery_passes(bodies):
    rep = check_delivery(bodies + [b"y" * (MAX_BODY_BYTES + 1)], _records(bodies))
    assert rep.ok, rep.errors
    assert rep.delivered == rep.expected == len(bodies)
    assert set(rep.first_recv) == set(bodies)


def test_dropped_record_is_rejected(bodies):
    recs = _records(bodies)
    rep = check_delivery(bodies, recs[1:])
    assert not rep.ok and rep.undelivered > 0


def test_duplicated_record_is_rejected(bodies):
    recs = _records(bodies)
    rep = check_delivery(bodies, recs + recs[:1])
    assert not rep.ok and rep.duplicated > 0


@pytest.mark.parametrize("aggregated", [True, False])
def test_corrupted_record_is_rejected(bodies, aggregated):
    recs = _records(bodies)
    which = next(i for i, r in enumerate(recs) if r.data.startswith(KPL_MAGIC) == aggregated)
    rec = recs[which]
    data = bytearray(rec.data)
    data[len(data) // 2] ^= 0x01
    recs[which] = SimpleNamespace(partition_key=rec.partition_key, data=bytes(data), t_recv=0.0)
    assert not check_delivery(bodies, recs).ok


def test_oversize_delivery_and_missing_key_are_rejected(bodies):
    big = b"z" * (MAX_BODY_BYTES + 1)
    recs = _records(bodies) + [SimpleNamespace(partition_key="k", data=big, t_recv=0.0)]
    rep = check_delivery(bodies + [big], recs)
    assert not rep.ok and rep.unexpected == 1
    recs = _records(bodies)
    recs[0] = SimpleNamespace(partition_key="", data=recs[0].data, t_recv=0.0)
    assert not check_delivery(bodies, recs).ok


def test_decoder_matches_program_encoder():
    from nsq2kinesis_spark.streaming.kpl import encode_aggregated

    frame = encode_aggregated(["a", "b"], [(0, b"one"), (1, b"two"), (0, b"")])
    assert decode_record(frame) == [b"one", b"two", b""]
    assert decode_record(b"plain") == [b"plain"]
    with pytest.raises(ValueError):
        decode_record(frame[:-1] + bytes([frame[-1] ^ 1]))


def _signed(body: bytes, target: str, secret: str = "test") -> dict[str, str]:
    """Headers of a botocore-signed Kinesis request, as the endpoint sees them."""
    from botocore.auth import SigV4Auth
    from botocore.awsrequest import AWSRequest
    from botocore.credentials import Credentials

    req = AWSRequest(
        method="POST",
        url="http://127.0.0.1:4567/",
        data=body,
        headers={"X-Amz-Target": target, "Content-Type": "application/x-amz-json-1.1"},
    )
    SigV4Auth(Credentials("test", secret), "kinesis", "us-east-1").add_auth(req)
    headers = {k.lower(): v for k, v in req.headers.items()}
    headers["host"] = "127.0.0.1:4567"
    return headers


def test_sigv4_check_accepts_botocore_and_rejects_tampering():
    body = json.dumps({"StreamName": "s", "Records": []}).encode()
    headers = _signed(body, "Kinesis_20131202.PutRecords")
    args = ("test", "test", "us-east-1")
    assert verify_sigv4("POST", "/", headers, body, *args) is None
    assert verify_sigv4("POST", "/", headers, body + b" ", *args) is not None
    assert verify_sigv4("POST", "/", headers, body, "test", "other", "us-east-1") is not None
    wrong = _signed(body, "Kinesis_20131202.PutRecords", secret="other")
    status, _ = KinesisEndpoint(b"salt", 0.5)._handle("POST", "/", wrong, body, 0.0)
    assert status == 403


def test_throttling_is_seeded_and_first_attempt_only():
    import base64

    datas = [b"record-%d" % i for i in range(400)]
    ep = KinesisEndpoint(b"salt", 0.5)
    picked = [d for d in datas if ep.throttles(d)]
    assert 120 < len(picked) < 280
    assert picked == [d for d in datas if KinesisEndpoint(b"salt", 0.5).throttles(d)]

    def put(records: list[bytes]) -> dict:
        body = json.dumps(
            {"StreamName": "s", "Records": [
                {"Data": base64.b64encode(d).decode(), "PartitionKey": "k"} for d in records
            ]}
        ).encode()
        status, reply = ep._handle(
            "POST", "/", _signed(body, "Kinesis_20131202.PutRecords"), body, 0.0
        )
        assert status == 200
        return reply

    first = put(datas)
    assert first["FailedRecordCount"] == len(picked)
    failed = [d for d, r in zip(datas, first["Records"]) if "ErrorCode" in r]
    assert failed == picked
    assert put(failed)["FailedRecordCount"] == 0  # a retry is accepted
    assert sorted(r.data for r in ep.records) == sorted(datas)


def test_workloads_are_seeded():
    a, b = forward_steady(7, 4), forward_steady(7, 4)
    assert [p.body for p in a.measured] == [p.body for p in b.measured]
    assert a.throttle_salt == b.throttle_salt
    assert [p.body for p in forward_steady(8, 4).measured] != [p.body for p in a.measured]
    back = forward_backlog(7, 4)
    assert sum(len(p.body) > MAX_BODY_BYTES for p in back.measured) >= 3
    distinct = {p.body for p in back.measured}
    assert 0.08 < 1 - len(distinct) / len(back.measured) < 0.12


def test_steady_warmup_runs_into_the_measured_schedule():
    inputs = forward_steady(7, 4)
    assert inputs.measure_after_s is not None
    assert 0 < max(p.offset_s for p in inputs.warmup) < inputs.measure_after_s
    assert forward_backlog(7, 4).measure_after_s is None  # the backlog waits for a quiet pipeline


def test_broker_delivers_on_schedule_and_redelivers_unacked():
    """The program's own NSQ client against the broker: messages appear at
    their due time, FIN is counted, and an un-FINed message comes back
    with attempts + 1 after the message timeout."""
    from nsq2kinesis_spark.sources.nsq import NsqConnection

    async def scenario():
        loop = asyncio.get_running_loop()
        broker = NsqBroker("t", "c", msg_timeout_s=0.5)
        await broker.start()
        now = loop.time()
        broker.publish(b"early", now, 0)
        broker.publish(b"late", now + 0.4, 0)
        conn = await loop.run_in_executor(None, NsqConnection, broker.addr, "t", "c", 10)
        try:
            first = await loop.run_in_executor(None, conn.poll, 10, 0.2)
            assert [m[1] for m in first] == [b"early"]
            conn.finish(first[0][0])
            second = await loop.run_in_executor(None, conn.poll, 10, 0.5)
            assert [m[1] for m in second] == [b"late"]
            again = await loop.run_in_executor(None, conn.poll, 1, 1.0)  # not FINed
            assert [(m[1], m[3]) for m in again] == [(b"late", 2)]
            conn.finish(again[0][0])
            await asyncio.sleep(0.1)
        finally:
            conn.close()
            await broker.close()
        assert broker.unfinished == 0
        assert broker.stats.fins == 2 and broker.stats.timeouts == 1
        assert broker.stats.redeliveries == 1

    asyncio.run(scenario())


def test_benchmark_json_names_match_the_code():
    import report
    import traced

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert [m["name"] for m in spec["end_to_end"]] == list(report.END_TO_END)
    assert [(m["name"], m["unit"]) for m in spec["end_to_end"]] == list(report.END_TO_END.items())
    assert [(m["name"], m["unit"]) for m in spec["per_layer"]] == list(traced.PER_LAYER.items())
