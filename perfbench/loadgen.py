"""Load generator for the forwarder benchmark: an NSQ broker and a Kinesis
endpoint in one asyncio loop, one thread, one process.

Both ends of the system under test talk to this process over their real
wire protocols, so every timestamp (scheduled publish, broker delivery,
FIN, endpoint receipt) comes from one clock.

Broker (public NSQ TCP protocol, https://nsq.io/clients/tcp_protocol_spec.html):
one topic and channel. A message becomes available at its scheduled time,
and its header ``ts`` is that scheduled time (wall clock), so the
forwarder's watermark and the measured latency share a clock. A consumer
connection holds at most ``RDY`` messages in flight, as in nsqd. Messages
not FINed within ``msg_timeout_s`` (reset by TOUCH) are redelivered with
attempts + 1; REQ requeues after its delay. Deadlines live in heaps, so a
delivery never scans the in-flight set.

Endpoint (Kinesis JSON 1.1 over HTTP/1.1 keep-alive): ``CreateStream`` and
``PutRecords``. Every request's SigV4 signature is recomputed from the raw
bytes and rejected with 403 on mismatch. Each record whose content hash
falls in a seeded share fails on its first attempt only, with
``ProvisionedThroughputExceededException``; its retry is accepted.
Accepted records are kept with their receipt time and decoded after the
run by :func:`decode_record` (this file's own KPL decoder).
"""

from __future__ import annotations

import asyncio
import base64
import hashlib
import heapq
import hmac
import json
import re
import struct
import time
from collections import deque
from dataclasses import dataclass, field

FRAME_RESPONSE, FRAME_ERROR, FRAME_MESSAGE = 0, 1, 2
HEARTBEAT_S = 30.0
KPL_MAGIC = b"\xf3\x89\x9a\xc2"


def _frame(ftype: int, payload: bytes) -> bytes:
    return struct.pack(">ii", len(payload) + 4, ftype) + payload


@dataclass
class Message:
    """One published copy. ``due`` is loop time; ``ts_ns`` the header ts."""

    msg_id: bytes
    body: bytes
    due: float
    ts_ns: int
    attempts: int = 0
    delivered_at: float | None = None
    deadline_token: int = 0
    conn: "_NsqConn | None" = None
    fin_at: float | None = None


@dataclass
class BrokerStats:
    deliveries: int = 0
    redeliveries: int = 0
    timeouts: int = 0
    touches: int = 0
    requeues: int = 0
    fins: int = 0
    fin_errors: int = 0
    backlog_max: int = 0
    lateness_s: list[float] = field(default_factory=list)


class _NsqConn:
    def __init__(self, writer: asyncio.StreamWriter) -> None:
        self.writer = writer
        self.rdy = 0
        self.in_flight = 0
        self.subscribed = False


class NsqBroker:
    """Single-topic, single-channel nsqd (see module docstring)."""

    def __init__(self, topic: str, channel: str, msg_timeout_s: float = 10.0) -> None:
        self.topic, self.channel = topic, channel
        self.msg_timeout_s = msg_timeout_s
        self.stats = BrokerStats()
        self.messages: dict[bytes, Message] = {}
        self._scheduled: list[tuple[float, int, Message]] = []  # heap by due
        self._deferred: list[tuple[float, int, Message]] = []  # REQ delays
        self._timeouts: list[tuple[float, int, bytes]] = []  # (deadline, token, id)
        self._ready: deque[Message] = deque()
        self._conns: list[_NsqConn] = []
        self._seq = 0
        self._token = 0
        self.unfinished = 0
        self._wake = asyncio.Event()
        self._server: asyncio.base_events.Server | None = None
        self._pump_task: asyncio.Task | None = None
        self._conn_tasks: set[asyncio.Task] = set()
        self.addr = ""

    # -- publishing ---------------------------------------------------------

    def publish(self, body: bytes, due: float, ts_ns: int) -> Message:
        """Schedule one copy of ``body``; it becomes available at ``due``."""
        self._seq += 1
        msg = Message(f"{self._seq:016x}".encode(), body, due, ts_ns)
        self.messages[msg.msg_id] = msg
        self.unfinished += 1
        heapq.heappush(self._scheduled, (due, self._seq, msg))
        self._wake.set()
        return msg

    # -- server -------------------------------------------------------------

    async def start(self) -> None:
        self._server = await asyncio.start_server(self._serve, "127.0.0.1", 0)
        port = self._server.sockets[0].getsockname()[1]
        self.addr = f"127.0.0.1:{port}"
        self._pump_task = asyncio.create_task(self._pump())

    async def close(self) -> None:
        if self._pump_task is not None:
            self._pump_task.cancel()
            try:
                await self._pump_task
            except asyncio.CancelledError:
                pass
        if self._server is not None:
            self._server.close()
            await self._server.wait_closed()
        for c in list(self._conns):
            c.writer.close()
        for t in list(self._conn_tasks):
            t.cancel()
        await asyncio.gather(*self._conn_tasks, return_exceptions=True)

    async def _serve(self, reader: asyncio.StreamReader, writer: asyncio.StreamWriter) -> None:
        task = asyncio.current_task()
        self._conn_tasks.add(task)
        conn = _NsqConn(writer)
        try:
            if await reader.readexactly(4) != b"  V2":
                return
            self._conns.append(conn)
            while True:
                line = await reader.readline()
                if not line:
                    return
                self._command(conn, line.rstrip(b"\n").split(b" "))
        except (asyncio.IncompleteReadError, ConnectionError):
            pass
        finally:
            self._drop(conn)
            self._conn_tasks.discard(task)
            writer.close()

    def _command(self, conn: _NsqConn, parts: list[bytes]) -> None:
        cmd = parts[0]
        now = asyncio.get_running_loop().time()
        if cmd == b"SUB":
            if parts[1].decode() != self.topic or parts[2].decode() != self.channel:
                conn.writer.write(_frame(FRAME_ERROR, b"E_BAD_TOPIC"))
                return
            conn.subscribed = True
            conn.writer.write(_frame(FRAME_RESPONSE, b"OK"))
        elif cmd == b"RDY":
            conn.rdy = int(parts[1])
        elif cmd == b"FIN":
            msg = self._owned(conn, parts[1])
            if msg is None:
                self.stats.fin_errors += 1
                conn.writer.write(_frame(FRAME_ERROR, b"E_FIN_FAILED"))
                return
            self.stats.fins += 1
            msg.fin_at = now
            self.unfinished -= 1
            self._release(msg)
        elif cmd == b"REQ":
            msg = self._owned(conn, parts[1])
            if msg is None:
                conn.writer.write(_frame(FRAME_ERROR, b"E_REQ_FAILED"))
                return
            self.stats.requeues += 1
            self._release(msg)
            self._seq += 1
            heapq.heappush(self._deferred, (now + int(parts[2]) / 1000, self._seq, msg))
        elif cmd == b"TOUCH":
            msg = self._owned(conn, parts[1])
            if msg is None:
                conn.writer.write(_frame(FRAME_ERROR, b"E_TOUCH_FAILED"))
                return
            self.stats.touches += 1
            self._arm_timeout(msg, now)
        elif cmd == b"NOP":
            return
        elif cmd == b"CLS":
            conn.writer.write(_frame(FRAME_RESPONSE, b"CLOSE_WAIT"))
        else:
            conn.writer.write(_frame(FRAME_ERROR, b"E_INVALID"))
        self._wake.set()

    def _owned(self, conn: _NsqConn, msg_id: bytes) -> Message | None:
        msg = self.messages.get(msg_id)
        if msg is None or msg.conn is not conn:
            return None
        return msg

    def _release(self, msg: Message) -> None:
        msg.conn.in_flight -= 1
        msg.conn = None
        msg.deadline_token = -1

    def _arm_timeout(self, msg: Message, now: float) -> None:
        self._token += 1
        msg.deadline_token = self._token
        heapq.heappush(self._timeouts, (now + self.msg_timeout_s, self._token, msg.msg_id))

    def _drop(self, conn: _NsqConn) -> None:
        """A closed connection's in-flight messages go back to the queue."""
        if conn in self._conns:
            self._conns.remove(conn)
        for msg in self.messages.values():
            if msg.conn is conn:
                msg.conn = None
                msg.deadline_token = -1
                self._ready.appendleft(msg)
        self._wake.set()

    # -- delivery loop ------------------------------------------------------

    async def _pump(self) -> None:
        loop = asyncio.get_running_loop()
        next_heartbeat = loop.time() + HEARTBEAT_S
        while True:
            now = loop.time()
            while self._scheduled and self._scheduled[0][0] <= now:
                due, _, msg = heapq.heappop(self._scheduled)
                self.stats.lateness_s.append(now - due)
                self._ready.append(msg)
            while self._deferred and self._deferred[0][0] <= now:
                self._ready.append(heapq.heappop(self._deferred)[2])
            while self._timeouts and self._timeouts[0][0] <= now:
                _, token, msg_id = heapq.heappop(self._timeouts)
                msg = self.messages[msg_id]
                if msg.deadline_token == token and msg.conn is not None:
                    self.stats.timeouts += 1
                    self._release(msg)
                    self._ready.appendleft(msg)
            self.stats.backlog_max = max(self.stats.backlog_max, len(self._ready))
            self._deliver(now)
            if now >= next_heartbeat:
                for c in self._conns:
                    c.writer.write(_frame(FRAME_RESPONSE, b"_heartbeat_"))
                next_heartbeat = now + HEARTBEAT_S
            wake_at = next_heartbeat
            for heap in (self._scheduled, self._deferred, self._timeouts):
                if heap:
                    wake_at = min(wake_at, heap[0][0])
            self._wake.clear()
            try:
                await asyncio.wait_for(self._wake.wait(), max(0.0, wake_at - loop.time()))
            except TimeoutError:
                pass

    def _deliver(self, now: float) -> None:
        for conn in self._conns:
            if not conn.subscribed:
                continue
            frames = []
            while self._ready and conn.in_flight < conn.rdy:
                msg = self._ready.popleft()
                msg.attempts += 1
                if msg.attempts > 1:
                    self.stats.redeliveries += 1
                self.stats.deliveries += 1
                msg.conn = conn
                msg.delivered_at = now
                conn.in_flight += 1
                self._arm_timeout(msg, now)
                frames.append(
                    _frame(
                        FRAME_MESSAGE,
                        struct.pack(">qH", msg.ts_ns, msg.attempts) + msg.msg_id + msg.body,
                    )
                )
            if frames:
                conn.writer.write(b"".join(frames))


# -- Kinesis endpoint ---------------------------------------------------------


def _signing_key(secret: str, datestamp: str, region: str) -> bytes:
    key = ("AWS4" + secret).encode()
    for part in (datestamp, region, "kinesis", "aws4_request"):
        key = hmac.new(key, part.encode(), hashlib.sha256).digest()
    return key


_AUTH_RE = re.compile(
    r"AWS4-HMAC-SHA256 Credential=([^/]+)/(\d{8})/([^/]+)/kinesis/aws4_request, "
    r"SignedHeaders=([^,]+), Signature=([0-9a-f]{64})"
)


def verify_sigv4(
    method: str,
    path: str,
    headers: dict[str, str],
    body: bytes,
    access_key: str,
    secret_key: str,
    region: str,
) -> str | None:
    """Recompute a SigV4 signature from the raw request; None if it holds,
    else the reason it does not."""
    m = _AUTH_RE.fullmatch(headers.get("authorization", ""))
    if m is None:
        return "unparseable Authorization header"
    key_id, datestamp, req_region, signed, signature = m.groups()
    if key_id != access_key or req_region != region:
        return f"unexpected credential scope {key_id}/{req_region}"
    uri, _, query = path.partition("?")
    canonical_query = "&".join(sorted(q for q in query.split("&") if q))
    names = signed.split(";")
    canonical_headers = "".join(
        f"{n}:{' '.join(headers.get(n, '').split())}\n" for n in names
    )
    canonical = "\n".join(
        [method, uri or "/", canonical_query, canonical_headers, signed,
         hashlib.sha256(body).hexdigest()]
    )
    to_sign = "\n".join(
        [
            "AWS4-HMAC-SHA256",
            headers.get("x-amz-date", ""),
            f"{datestamp}/{region}/kinesis/aws4_request",
            hashlib.sha256(canonical.encode()).hexdigest(),
        ]
    )
    expect = hmac.new(
        _signing_key(secret_key, datestamp, region), to_sign.encode(), hashlib.sha256
    ).hexdigest()
    return None if hmac.compare_digest(expect, signature) else "signature mismatch"


@dataclass
class ReceivedRecord:
    t_recv: float
    partition_key: str
    data: bytes


@dataclass
class CallStat:
    t_recv: float
    n_records: int
    n_throttled: int
    wire_bytes: int  # HTTP request body


@dataclass
class EndpointStats:
    calls: list[CallStat] = field(default_factory=list)  # PutRecords calls
    auth_failures: list[str] = field(default_factory=list)
    streams_created: list[str] = field(default_factory=list)


class KinesisEndpoint:
    """PutRecords/CreateStream over HTTP (see module docstring)."""

    def __init__(
        self,
        throttle_salt: bytes,
        throttle_frac: float,
        access_key: str = "test",
        secret_key: str = "test",
        region: str = "us-east-1",
    ) -> None:
        self.throttle_salt = throttle_salt
        self.throttle_cut = int(throttle_frac * 2**64)
        self.access_key, self.secret_key, self.region = access_key, secret_key, region
        self.stats = EndpointStats()
        self.records: list[ReceivedRecord] = []
        self._throttled_once: set[bytes] = set()
        self._server: asyncio.base_events.Server | None = None
        self._conn_tasks: set[asyncio.Task] = set()
        self.url = ""

    def throttles(self, data: bytes) -> bool:
        """Seeded content-hash selection of first-attempt failures."""
        digest = hashlib.blake2b(data, key=self.throttle_salt, digest_size=8).digest()
        return int.from_bytes(digest, "big") < self.throttle_cut

    async def start(self) -> None:
        self._server = await asyncio.start_server(self._serve, "127.0.0.1", 0)
        self.url = f"http://127.0.0.1:{self._server.sockets[0].getsockname()[1]}"

    async def close(self) -> None:
        if self._server is not None:
            self._server.close()
            await self._server.wait_closed()
        for t in list(self._conn_tasks):
            t.cancel()
        await asyncio.gather(*self._conn_tasks, return_exceptions=True)

    async def _serve(self, reader: asyncio.StreamReader, writer: asyncio.StreamWriter) -> None:
        task = asyncio.current_task()
        self._conn_tasks.add(task)
        loop = asyncio.get_running_loop()
        try:
            while True:
                try:
                    head = await reader.readuntil(b"\r\n\r\n")
                except asyncio.IncompleteReadError:
                    return
                lines = head.decode("latin-1").split("\r\n")
                method, path, _ = lines[0].split(" ", 2)
                headers = {}
                for ln in lines[1:]:
                    if ln:
                        k, _, v = ln.partition(":")
                        headers[k.strip().lower()] = v.strip()
                body = await reader.readexactly(int(headers.get("content-length", "0")))
                t_recv = loop.time()
                status, reply = self._handle(method, path, headers, body, t_recv)
                raw = json.dumps(reply).encode()
                writer.write(
                    f"HTTP/1.1 {status} {'OK' if status == 200 else 'Error'}\r\n"
                    "Content-Type: application/x-amz-json-1.1\r\n"
                    f"Content-Length: {len(raw)}\r\n\r\n".encode()
                    + raw
                )
                await writer.drain()
        except (ConnectionError, asyncio.IncompleteReadError):
            pass
        finally:
            self._conn_tasks.discard(task)
            writer.close()

    def _handle(self, method, path, headers, body, t_recv) -> tuple[int, dict]:
        err = verify_sigv4(
            method, path, headers, body, self.access_key, self.secret_key, self.region
        )
        if err is not None:
            self.stats.auth_failures.append(err)
            return 403, {"__type": "IncompleteSignatureException", "message": err}
        target = headers.get("x-amz-target", "")
        req = json.loads(body)
        if target == "Kinesis_20131202.CreateStream":
            self.stats.streams_created.append(req["StreamName"])
            return 200, {}
        if target != "Kinesis_20131202.PutRecords":
            return 400, {"__type": "UnknownOperationException"}
        results, n_failed = [], 0
        for rec in req["Records"]:
            data = base64.b64decode(rec["Data"])
            if self.throttles(data) and data not in self._throttled_once:
                self._throttled_once.add(data)
                n_failed += 1
                results.append(
                    {
                        "ErrorCode": "ProvisionedThroughputExceededException",
                        "ErrorMessage": "Rate exceeded for shard shardId-000000000000",
                    }
                )
                continue
            self.records.append(ReceivedRecord(t_recv, rec.get("PartitionKey", ""), data))
            results.append(
                {"SequenceNumber": str(len(self.records)), "ShardId": "shardId-000000000000"}
            )
        self.stats.calls.append(CallStat(t_recv, len(results), n_failed, len(body)))
        return 200, {"FailedRecordCount": n_failed, "Records": results}


# -- KPL decoding (independent of the program's own decoder) -----------------


def _varint(buf: bytes, pos: int) -> tuple[int, int]:
    value = shift = 0
    while True:
        b = buf[pos]
        pos += 1
        value |= (b & 0x7F) << shift
        if b < 0x80:
            return value, pos
        shift += 7


def _fields(buf: bytes):
    """Yield (field_no, wire_type, value) of a protobuf message."""
    pos = 0
    while pos < len(buf):
        tag, pos = _varint(buf, pos)
        field_no, wire = tag >> 3, tag & 7
        if wire == 0:
            value, pos = _varint(buf, pos)
        elif wire == 2:
            n, pos = _varint(buf, pos)
            value = buf[pos : pos + n]
            if len(value) != n:
                raise ValueError("truncated length-delimited field")
            pos += n
        else:
            raise ValueError(f"unexpected wire type {wire}")
        yield field_no, wire, value


def decode_record(data: bytes) -> list[bytes]:
    """User records inside one Kinesis record: the KPL aggregate's payloads
    (magic + protobuf AggregatedRecord + MD5 trailer, checksum verified), or
    the record itself when it is not aggregated."""
    if not data.startswith(KPL_MAGIC):
        return [data]
    pb, digest = data[4:-16], data[-16:]
    if hashlib.md5(pb).digest() != digest:
        raise ValueError("KPL MD5 trailer mismatch")
    n_keys = 0
    out = []
    for field_no, wire, value in _fields(pb):
        if field_no == 1 and wire == 2:
            n_keys += 1
        elif field_no == 3 and wire == 2:
            payload, key_index = None, None
            for f2, w2, v2 in _fields(value):
                if f2 == 1 and w2 == 0:
                    key_index = v2
                elif f2 == 3 and w2 == 2:
                    payload = bytes(v2)
            if payload is None or key_index is None or key_index >= n_keys:
                raise ValueError("KPL record without data or valid key index")
            out.append(payload)
    if not out:
        raise ValueError("empty KPL aggregate")
    return out


def wall_ns_at(loop_time: float, loop: asyncio.AbstractEventLoop) -> int:
    """Wall-clock ns for a loop-time instant (header ts of a scheduled copy)."""
    return time.time_ns() + int((loop_time - loop.time()) * 1e9)
