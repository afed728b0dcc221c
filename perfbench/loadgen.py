"""Load generator and read-back check for `ingest_open`, and the staged input of `bulk_ingest`.

The generators run in the benchmark's own Python process, never in the
server's JVM. Every record body is a JSON object whose first field is
`"id":"<request>.<index>"`: the request id links a client span to the
server-side spans of a traced run (`TracingChannel`, `TracingStore`).
"""
import http.client
import json
import math
import os
import random
import socket
import statistics
import struct
import threading
import time
import zlib

LIMIT_MS = 50.0  # BASELINE's keyed-produce row: maximum write latency under 50 ms
WINDOW_S = 2.0  # a rung's latency figures are medians over windows of this length
KEYS = 1024
PAD = "x" * 8192


def pct(values, q):
    """Nearest-rank percentile of `values` (q in 0..100); nan when empty."""
    if not values:
        return float("nan")
    s = sorted(values)
    return s[max(0, math.ceil(q / 100.0 * len(s)) - 1)]


def record(rid, i, key, size):
    head = '{"id":"%s.%d","k":"%s","pad":"' % (rid, i, key)
    return (head + PAD[:max(0, size - len(head) - 2)] + '"}').encode()


# ------------------------------------------------------------------ binary

def frame(stream_id, op, flags, body=b""):
    head = struct.pack(">BBHBI", 1, flags, stream_id, op, len(body))
    return head + struct.pack(">I", zlib.crc32(head)) + body


def produce_body(ts_micros, key, topic, records):
    k, t = key.encode(), topic.encode()
    parts = [struct.pack(">qB", ts_micros, len(k)), k, struct.pack(">B", len(t)), t]
    for r in records:
        parts += [struct.pack(">I", len(r)), r]
    return b"".join(parts)


class BinaryConnection:
    """One binary-protocol connection: startup handshake done, frames
    pipelined by stream id."""

    def __init__(self, port):
        self.sock = socket.create_connection(("127.0.0.1", port))
        self.sock.setsockopt(socket.IPPROTO_TCP, socket.TCP_NODELAY, 1)
        self.rfile = self.sock.makefile("rb")
        self.sock.sendall(frame(0, 1, 0))
        op, _, _ = self.read()
        if op != 2:
            raise RuntimeError("binary startup answered op %d" % op)

    def read(self):
        head = self.rfile.read(13)
        if len(head) < 13:
            raise EOFError("binary connection closed")
        _, _, sid, op, n = struct.unpack(">BBHBI", head[:9])
        return op, sid, self.rfile.read(n)

    def close(self):
        try:
            self.sock.close()
        except OSError:
            pass


class OpenLoop:
    """`ingest_open`: 2 pipelined binary connections, each with a writer
    thread that sends 64-record frames of 1 KiB records on a fixed
    schedule and a reader thread that collects the acks. Connection c
    owns the keys with index c (mod 2), so each key's frames leave in
    order on one connection. Request ids are `w<c>-<n>` in the warm-up
    (rung index -1) and `o<c>-<n>` after it, n counting a connection's
    frames."""

    RECORDS = 64
    SIZE = 1024

    def __init__(self, port, seed, topic):
        rng = random.Random(seed)
        keys = ["k%d" % i for i in range(KEYS)]
        rng.shuffle(keys)
        self.keys = [keys[0::2], keys[1::2]]
        self.topic = topic
        self.conns = [BinaryConnection(port), BinaryConnection(port)]
        self.lock = threading.Lock()
        self.frames = {}  # rid -> dict(rung, sched, sent, acked, failed, key, n)
        self.pending = [dict(), dict()]  # per connection: stream id -> rid
        self.next_frame = [0, 0]
        # frame timestamps: wall-clock micros at the scheduled send time
        self.epoch_us = time.time_ns() // 1000 - int(time.perf_counter() * 1e6)
        self.readers = [threading.Thread(target=self._read, args=(c,), daemon=True) for c in (0, 1)]
        for t in self.readers:
            t.start()

    def _read(self, c):
        conn = self.conns[c]
        try:
            while True:
                op, sid, _ = conn.read()
                now = time.perf_counter()
                with self.lock:
                    rid = self.pending[c].pop(sid, None)
                    if rid is None:
                        continue
                    f = self.frames[rid]
                    if op == 5:
                        f["acked"] = now
                    else:
                        f["failed"] = True
        except (EOFError, OSError, ValueError):
            return

    def _write(self, c, rung, rate, start, seconds, offset):
        conn = self.conns[c]
        interval = 2.0 * self.RECORDS / rate
        keys = self.keys[c]
        j = 0
        while True:
            sched = start + offset + j * interval
            if sched >= start + seconds:
                return
            delay = sched - time.perf_counter()
            if delay > 0:
                time.sleep(delay)
            n = self.next_frame[c]
            self.next_frame[c] += 1
            rid = "%s%d-%d" % ("w" if rung < 0 else "o", c, n)
            key = keys[n % len(keys)]
            recs = [record(rid, i, key, self.SIZE) for i in range(self.RECORDS)]
            body = produce_body(self.epoch_us + int(sched * 1e6), key, self.topic, recs)
            sid = n % 65536
            with self.lock:
                self.pending[c][sid] = rid
                self.frames[rid] = {"rung": rung, "sched": sched, "sent": time.perf_counter(),
                                    "acked": None, "failed": False, "key": key, "n": self.RECORDS}
            conn.sock.sendall(frame(sid, 4, 1, body))
            j += 1

    def inflight(self):
        with self.lock:
            return sum(len(p) for p in self.pending)

    def rung(self, index, rate, seconds, drain_s=10.0):
        """Offers `rate` msgs/s for `seconds`, then waits up to `drain_s`
        for the acks; returns the rung's figures. A frame still unacked
        then misses the latency limit; only an error answer fails it.
        `window_p50_ms` and `window_p95_ms` are the medians, over the
        rung's windows of about WINDOW_S, of each window's percentile, so a
        stall shorter than half the rung does not move them."""
        start = time.perf_counter() + 0.05
        interval = 2.0 * self.RECORDS / rate
        writers = [threading.Thread(target=self._write, args=(c, index, rate, start, seconds, c * interval / 2))
                   for c in (0, 1)]
        for t in writers:
            t.start()
        time.sleep(max(0.0, start + seconds / 2 - time.perf_counter()))
        mid = self.inflight()
        for t in writers:
            t.join()
        end = self.inflight()
        deadline = time.perf_counter() + drain_s
        while self.inflight() and time.perf_counter() < deadline:
            time.sleep(0.005)
        with self.lock:
            fs = [f for f in self.frames.values() if f["rung"] == index]
        lat = [(f["acked"] - f["sched"]) * 1e3 if f["acked"] is not None and not f["failed"] else math.inf
               for f in fs]
        nw = max(1, round(seconds / WINDOW_S))
        windows = [[] for _ in range(nw)]
        for f, ms in zip(fs, lat):
            windows[min(nw - 1, int((f["sched"] - start) / seconds * nw))].append(ms)
        windows = [w for w in windows if w]
        late = [(f["sent"] - f["sched"]) * 1e3 for f in fs]
        acked = [f for f in fs if f["acked"] is not None and not f["failed"]]
        span = (max(f["acked"] for f in acked) - start) if acked else seconds
        frames_per_s = rate / self.RECORDS
        growth = end - mid > max(4, 0.05 * frames_per_s)
        p99 = pct(lat, 99)
        steady = not growth and len(acked) == len(fs)
        meets = p99 <= LIMIT_MS and steady
        late_p99 = pct(late, 99)
        return {"rate": rate, "frames": len(fs), "failed_frames": sum(1 for f in fs if f["failed"]),
                "unacked_frames": sum(1 for f in fs if f["acked"] is None and not f["failed"]),
                "achieved_msgs_s": self.RECORDS * len(acked) / span,
                "ack_p50_ms": pct(lat, 50), "ack_p95_ms": pct(lat, 95), "ack_p99_ms": p99, "late_p99_ms": late_p99,
                "window_p50_ms": statistics.median(pct(w, 50) for w in windows),
                "window_p95_ms": statistics.median(pct(w, 95) for w in windows),
                "backlog_mid": mid, "backlog_end": end, "backlog_grew": growth, "steady": steady,
                "meets_limit": meets,
                # a miss the generator's own lateness explains says nothing about the server
                "valid": meets or late_p99 < LIMIT_MS / 2, "latencies": lat}

    def acked_records(self):
        """rid.i -> (key, connection, frame number, index) of every acked record."""
        out = {}
        with self.lock:
            for rid, f in self.frames.items():
                if f["acked"] is not None and not f["failed"]:
                    c, n = rid[1:].split("-")
                    for i in range(f["n"]):
                        out["%s.%d" % (rid, i)] = (f["key"], int(c), int(n), i)
        return out

    def sent_ids(self):
        with self.lock:
            return {"%s.%d" % (rid, i) for rid, f in self.frames.items() for i in range(f["n"])}

    def client_rtts(self):
        with self.lock:
            return {rid: (f["acked"] - f["sent"]) * 1e3 for rid, f in self.frames.items()
                    if f["acked"] is not None and not f["failed"]}

    def close(self):
        for c in self.conns:
            c.close()


# -------------------------------------------------------------------- REST

class Rest:
    def __init__(self, port):
        self.conn = http.client.HTTPConnection("127.0.0.1", port, timeout=120)
        # headers and body leave in separate writes: keep Nagle's algorithm
        # from holding the body back
        self.conn.connect()
        self.conn.sock.setsockopt(socket.IPPROTO_TCP, socket.TCP_NODELAY, 1)

    def call(self, method, path, body=None, headers=None):
        self.conn.request(method, path, body=body, headers=headers or {})
        r = self.conn.getresponse()
        return r.status, r.read()

    def close(self):
        self.conn.close()


def register(rest, consumer, group, topic):
    status, body = rest.call("PUT", "/v1/consumer/register?consumerId=%s&group=%s&topic=%s"
                             "&onNewGroup=startFromEarliest" % (consumer, group, topic))
    if status != 200:
        raise RuntimeError("register %s: %d %s" % (consumer, status, body[:200]))


def poll(rest, consumer):
    """One JSON poll: (status, [(partition, offset, record dict)])."""
    status, body = rest.call("POST", "/v1/consumer/poll?consumerId=%s" % consumer,
                             headers={"Accept": "application/json"})
    out = []
    if status == 200:
        for item in json.loads(body):
            part = (item["version"], item["token"], item["rangeIndex"])
            start = int(item["startOffset"])
            out += [(part, start + i, v) for i, v in enumerate(item["values"])]
    return status, out


# ------------------------------------------------------------------ stage

def write_stage(directory, n, files, seed):
    """`bulk_ingest`'s input: `n` records `{"id":"b.<i>","seq":<i>,...}` of
    1 KiB, keyed by a seeded draw among 1,024 keys, timestamps rising with
    i, as `files` parquet files with each key in one file."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    rng = random.Random(seed)
    keys = [rng.randrange(KEYS) for _ in range(n)]
    base_us = 1_700_000_000_000_000
    os.makedirs(directory)
    for f in range(files):
        ids = [i for i in range(n) if keys[i] % files == f]
        values = []
        for i in ids:
            head = '{"id":"b.%d","seq":%d,"pad":"' % (i, i)
            values.append((head + PAD[:1022 - len(head)] + '"}').encode())
        table = pa.table({"key": pa.array(["k%d" % keys[i] for i in ids], pa.string()),
                          "value": pa.array(values, pa.binary()),
                          "timestamp": pa.array([base_us + i for i in ids], pa.timestamp("us", tz="UTC"))})
        pq.write_table(table, os.path.join(directory, "part-%05d.parquet" % f))
    return directory


# -------------------------------------------------------------- read-back

def read_back(port, topic, acked, sent, group):
    """Reads `topic` from the start with a fresh group and checks it
    against the acked records (`id -> (key, writer, request number,
    index)`): every acked record exactly once, nothing that was never
    sent, offsets contiguous from 0 in every partition, and each writer's
    records of a key in the order it sent them. Returns (failures, notes)."""
    rest = Rest(port)
    seen, parts = {}, {}
    try:
        register(rest, "v", group, topic)
        while True:
            status, recs = poll(rest, "v")
            if status != 200:
                break
            for part, off, v in recs:
                seen[v["id"]] = seen.get(v["id"], 0) + 1
                parts.setdefault(part, []).append((off, v["id"]))
        rest.call("POST", "/v1/consumer/goodbye?consumerId=v")
    finally:
        rest.close()
    missing = sum(1 for i in acked if i not in seen)
    dup = sum(n - 1 for n in seen.values() if n > 1)
    phantom = sum(1 for i in seen if i not in sent)
    gaps = out_of_order = 0
    for recs in parts.values():
        recs.sort()
        offs = [o for o, _ in recs]
        if offs != list(range(len(offs))):
            gaps += 1
        last = {}
        for _, rid in recs:
            meta = acked.get(rid)
            if meta is None:
                continue
            key, writer, req, idx = meta
            if (key, writer) in last and last[(key, writer)] >= (req, idx):
                out_of_order += 1
            last[(key, writer)] = (req, idx)
    failures = missing + dup + phantom + gaps + out_of_order
    notes = ("%d acked, %d read, %d missing, %d duplicated, %d never sent, %d partitions with offset gaps, "
             "%d out of key order" % (len(acked), sum(seen.values()), missing, dup, phantom, gaps, out_of_order))
    return failures, notes
