#!/usr/bin/env python3
"""Seeded GPS fleet and open-loop HTTP load generator for `POST /location`.

The fleet is about 2k devices whose fix share is Zipf-skewed. Request `i`
is due at `start + i / rate`; the schedule never waits for the server, and
each request is timed from when it was due, so a stall shows up as latency
on the requests queued behind it. THREADS threads each hold one keep-alive
connection and take requests `i` with `i % THREADS == thread`.

Bodies: about 2% malformed JSON (the endpoint must answer 400), about 2%
valid JSON without `location.timestamp` (accepted, then dead-lettered
downstream), the rest complete fixes. A complete fix carries its creation
time (the due time) in `location.timestamp`, with `/<seq>` appended so every
`gps_id` is unique.

Output: one tab-separated line per request
`seq kind status due_us ack_ms late_ms gps_id`, where `due_us` is the wall
clock due time in epoch microseconds, `ack_ms` the time from due to the end
of the response, and `late_ms` how late the generator itself started the
request.

    python3 fleet.py --seed 7 --port 8080 --count 1000 --rate 100 \
        --seq-base 1000000 --out fixes.tsv
"""
import argparse
import bisect
import http.client
import os
import random
import threading
import time
from datetime import datetime, timezone

DEVICES = 2000
ZIPF_S = 1.1
MALFORMED = 0.02
INCOMPLETE = 0.02
THREADS = 4


def plan(seed, count, seq_base):
    """The request list: (seq, kind, device, lat, lon, speed, heading)."""
    rng = random.Random(seed)
    cum, total = [], 0.0
    for k in range(1, DEVICES + 1):
        total += 1.0 / k ** ZIPF_S
        cum.append(total)
    home = [(35.0 + rng.random() * 2.0, 50.5 + rng.random() * 2.0)
            for _ in range(DEVICES)]
    out = []
    for i in range(count):
        u = rng.random()
        kind = ("malformed" if u < MALFORMED
                else "incomplete" if u < MALFORMED + INCOMPLETE else "ok")
        dev = bisect.bisect_left(cum, rng.random() * total)
        lat = home[dev][0] + rng.uniform(-0.01, 0.01)
        lon = home[dev][1] + rng.uniform(-0.01, 0.01)
        out.append((seq_base + i, kind, dev, lat, lon,
                    round(rng.uniform(0, 30), 2), round(rng.uniform(0, 359), 1)))
    return out


def iso_us(epoch_us):
    dt = datetime.fromtimestamp(epoch_us // 1_000_000, tz=timezone.utc)
    return dt.strftime("%Y-%m-%dT%H:%M:%S") + ".%06dZ" % (epoch_us % 1_000_000)


def body(req, due_us):
    seq, kind, dev, lat, lon, speed, heading = req
    coords = ('"coords":{"latitude":%.6f,"longitude":%.6f,"accuracy":4.5,'
              '"speed":%s,"heading":%s,"altitude":1190.2}'
              % (lat, lon, speed, heading))
    if kind == "malformed":
        return '{"device_id":"dev-%d","seq":%d,"location":{"timestamp":' % (dev, seq)
    if kind == "incomplete":
        return '{"device_id":"dev-%d","seq":%d,"location":{%s}}' % (dev, seq, coords)
    gps_id = "%s/%d" % (iso_us(due_us), seq)
    return ('{"device_id":"dev-%d","seq":%d,"location":{"timestamp":"%s",%s}}'
            % (dev, seq, gps_id, coords)), gps_id


def worker(port, reqs, start_mono, start_wall_us, rate, results):
    conn = http.client.HTTPConnection("127.0.0.1", port, timeout=30)
    for idx, req in reqs:
        due = start_mono + idx / rate
        now = time.monotonic()
        if due > now:
            time.sleep(due - now)
        due_us = start_wall_us + int(idx * 1_000_000 / rate)
        b = body(req, due_us)
        gps_id = "-"
        if isinstance(b, tuple):
            b, gps_id = b
        late_ms = (time.monotonic() - due) * 1000.0
        # no retry: a resent body could be spooled twice, so a request
        # that errors is reported as unacknowledged (status -1)
        status = -1
        try:
            conn.request("POST", "/location", body=b.encode(),
                         headers={"Content-Type": "application/json"})
            resp = conn.getresponse()
            resp.read()
            status = resp.status
        except (OSError, http.client.HTTPException):
            conn.close()
            conn = http.client.HTTPConnection("127.0.0.1", port, timeout=30)
        ack_ms = (time.monotonic() - due) * 1000.0
        results.append((req[0], req[1], status, due_us, ack_ms, late_ms, gps_id))
    conn.close()


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--port", type=int, required=True)
    ap.add_argument("--count", type=int, required=True)
    ap.add_argument("--rate", type=float, required=True)
    ap.add_argument("--seq-base", type=int, default=0)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    reqs = list(enumerate(plan(a.seed, a.count, a.seq_base)))
    results = []
    start_mono = time.monotonic() + 0.05
    start_wall_us = int((time.time() + 0.05) * 1_000_000)
    pool = [threading.Thread(target=worker,
                             args=(a.port, reqs[t::THREADS], start_mono,
                                   start_wall_us, a.rate, results))
            for t in range(THREADS)]
    for t in pool:
        t.start()
    for t in pool:
        t.join()
    results.sort()
    with open(a.out + ".tmp", "w") as f:
        for r in results:
            f.write("%d\t%s\t%d\t%d\t%.3f\t%.3f\t%s\n" % r)
    os.replace(a.out + ".tmp", a.out)


if __name__ == "__main__":
    main()
