#!/usr/bin/env python3
"""Open-loop load generator for the stream_ingest workload.

One single-threaded process that appends records to a kafka-wire topic
(`<root>/<topic>/<partition>.jsonl`, one record per line:
`tsMillis \\t 0 \\t base64(key) \\t base64(value) \\t -`), the file-backed
log the engine's `kafka-wire` source reads.

Protocol with the consumer, line by line:
  stdout  "warmup <records> <distinct> <seq sum>"
                               a small separate topic for the consumer's
                               warm-up is written
  stdout  "ready <records>"    the backlog is written
  stdin   "go"                 start live traffic at --rate records/s
  stdin   "stop"               end live traffic after the current tick
  stdout  <one JSON line>      what was produced, and how late the
                               generator ran

Each record's timestamp is its scheduled send time, so a stall anywhere
shows as latency. The value is `<seq>|<user>|<payload>`; a seeded share of
records are re-sends of a recent record (same key, same value, same seq),
which the consumer's exact dedup must drop. The generator counts what it
produced: all records, the distinct ones, the sum of their seq numbers and
their byte weight as `RecordWeigher.recordWeight` defines it.
"""
import argparse
import base64
import json
import os
import random
import select
import sys
import time

TICK_S = 0.005
PARTITIONS = 4
# The record mix is assumed, not measured (README.md, "Stream traffic"):
# 10000 uniform keys, 10 % re-sends, values of about 35 bytes.
USERS = 10000
DUP_FRAC = 0.1
RECORD_OVERHEAD_BYTES = 256  # RecordWeigher.RecordOverheadBytes


class Log:
    def __init__(self, root, topic):
        d = os.path.join(root, topic)
        os.makedirs(d, exist_ok=True)
        self.topic = topic
        self.files = [open(os.path.join(d, f"{p}.jsonl"), "a", encoding="ascii")
                      for p in range(PARTITIONS)]

    def close(self):
        for f in self.files:
            f.close()


class Producer:
    def __init__(self, seed):
        self.rng = random.Random(seed)
        self.recent = []  # (partition, key_b64, value_b64) of recent originals
        self.seq = 0
        self.produced = 0
        self.distinct = 0
        self.seq_sum = 0
        self.weight = 0

    def batch(self, log, stamps):
        """Append one record per timestamp; each tick's lines are written
        with one call per partition and flushed together."""
        out = [[] for _ in log.files]
        topic_len = len(log.topic)
        for ts in stamps:
            if self.recent and self.rng.random() < DUP_FRAC:
                p, k, v = self.recent[self.rng.randrange(len(self.recent))]
            else:
                user = self.rng.randrange(USERS)
                payload = "%016x" % self.rng.getrandbits(64)
                key = b"user%d" % user
                value = b"%d|%d|%s" % (self.seq, user, payload.encode())
                p, k, v = user % len(log.files), base64.b64encode(key).decode(), \
                    base64.b64encode(value).decode()
                self.distinct += 1
                self.seq_sum += self.seq
                self.weight += len(key) + len(value) + topic_len + RECORD_OVERHEAD_BYTES
                self.seq += 1
                self.recent.append((p, k, v))
                if len(self.recent) > 1000:
                    self.recent.pop(0)
            out[p].append(f"{ts}\t0\t{k}\t{v}\t-\n")
            self.produced += 1
        for f, lines in zip(log.files, out):
            if lines:
                f.write("".join(lines))
        for f in log.files:
            f.flush()


_pending = b""


def stdin_line(timeout):
    """The next command line, or None if none arrives within `timeout`
    seconds (None: wait). Reads the raw descriptor, since a buffered reader
    would hide a second queued line from select()."""
    global _pending
    while b"\n" not in _pending:
        r, _, _ = select.select([0], [], [], timeout)
        if not r:
            return None
        chunk = os.read(0, 4096)
        if not chunk:
            return "stop"  # the consumer went away
        _pending += chunk
    line, _pending = _pending.split(b"\n", 1)
    return line.decode().strip()


def say(msg):
    sys.stdout.write(msg + "\n")
    sys.stdout.flush()


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--root", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--rate", type=float, required=True)
    ap.add_argument("--backlog", type=int, required=True)
    ap.add_argument("--warmup", type=int, required=True)
    ap.add_argument("--spans", default="")
    a = ap.parse_args()

    now_ms = int(time.time() * 1000)
    warm = Producer(a.seed + 1)
    log = Log(a.root, "warmup")
    warm.batch(log, [now_ms] * a.warmup)
    log.close()
    say(f"warmup {warm.produced} {warm.distinct} {warm.seq_sum}")

    # the backlog: records stamped as if sent at --rate before now
    prod = Producer(a.seed)
    log = Log(a.root, "events")
    now_ms = int(time.time() * 1000)
    chunk = 50000
    for lo in range(0, a.backlog, chunk):
        hi = min(a.backlog, lo + chunk)
        prod.batch(log, [now_ms - int((a.backlog - i) * 1000 / a.rate)
                         for i in range(lo, hi)])
    say(f"ready {prod.produced}")
    while stdin_line(None) != "go":
        pass
    # re-sends copy live records only: a backlog record may by now be older
    # than the consumer's dedup window
    prod.recent = []

    # live traffic, open loop: each tick sends every record due by now
    t0 = time.time()
    t0_ms = t0 * 1000.0
    sent = 0
    late = []
    spans = []
    while True:
        msg = stdin_line(0)
        if msg == "stop":
            break
        now = time.time()
        due = int((now - t0) * a.rate)
        if due > sent:
            first_ms = t0_ms + sent * 1000.0 / a.rate
            late.append(now * 1000.0 - first_ms)
            prod.batch(log, [int(t0_ms + i * 1000.0 / a.rate) for i in range(sent, due)])
            if a.spans:
                spans.append((now * 1000.0, time.time() * 1000.0, due - sent))
            sent = due
        time.sleep(max(0.0, TICK_S - (time.time() - now)))
    live_s = time.time() - t0
    log.close()
    if a.spans:
        with open(a.spans, "w") as f:
            for i, (s, e, n) in enumerate(spans):
                f.write(json.dumps({"id": i + 1, "parent": 0, "trace": f"tick/{i}",
                                    "layer": "generator", "name": f"tick {n}",
                                    "start_ms": s, "end_ms": e}) + "\n")
    late.sort()
    say(json.dumps({
        "produced": prod.produced, "distinct": prod.distinct,
        "seq_sum": prod.seq_sum, "weight": prod.weight,
        "backlog": a.backlog, "live": sent, "live_s": live_s,
        "offered_rps": sent / live_s if live_s > 0 else 0.0,
        "late_p99_ms": late[min(len(late) - 1, int(0.99 * len(late)))] if late else 0.0,
        "ticks": len(late)}))


if __name__ == "__main__":
    main()
