#!/usr/bin/env python3
"""Seeded Debezium change-event backlog for the `gps_raw` table.

Writes `--events` change events as JSON lines, `--per-file` events to a
file (one file per connector fetch), each file written under a dot name and
renamed into place. The op mix is about 80% create, 15% update and 5%
delete; updates and deletes pick their row Zipf-skewed towards the oldest
rows, and a deleted row is never touched again. About 1% of the events are
corrupt: half are truncated JSON, half have an after-image without `id`.

`--expected` receives the rows `location_instances` must hold afterwards,
one per create or update event (deletes and corrupt events are dropped):
`gps_id \\t POINT(lon lat) \\t lat \\t lon`, coordinates with six decimals
so the text is exact on both sides.

    python3 cdc.py --seed 7 --events 250000 --per-file 10000 \
        --out backlog/ --expected expected.tsv
"""
import argparse
import os
import random

CORRUPT = 0.01
OPS = (("c", 0.80), ("u", 0.95), ("d", 1.0))


def after_json(gps_id, dev, lat, lon, speed, heading):
    return ('{"id":"%s","deviceId":"dev-%d","heading":%s,"speed":%s,'
            '"accuracy":4.5,"altitude":1190.2,"latitude":%.6f,"longitude":%.6f}'
            % (gps_id, dev, heading, speed, lat, lon))


def event(after, op, lsn, ts_ms):
    return ('{"schema":{"type":"struct","name":"gps.public.gps_raw.Envelope"},'
            '"payload":{"before":null,"after":%s,"source":{"connector":"postgresql",'
            '"db":"gps","schema":"public","table":"gps_raw","lsn":%d},'
            '"op":"%s","ts_ms":%d}}' % (after, lsn, op, ts_ms))


def generate(seed, n):
    """Yield (event_line, expected_row_or_None)."""
    rng = random.Random(seed)
    live, where = [], {}   # live ids in creation order, id -> index
    created = 0
    ts = 1_760_000_000_000
    for i in range(n):
        ts += rng.randint(0, 3)
        lsn = 1000 + i
        if rng.random() < CORRUPT:
            if rng.random() < 0.5:
                line = event(after_json("x", 0, 0.0, 0.0, 0, 0), "c", lsn, ts)
                yield line[: rng.randint(10, len(line) - 10)], None
            else:
                yield event('{"latitude":1.000000,"longitude":2.000000}',
                            "c", lsn, ts), None
            continue
        u = rng.random()
        op = next(o for o, c in OPS if u < c) if live else "c"
        lat = 35.0 + rng.random() * 2.0
        lon = 50.5 + rng.random() * 2.0
        dev = rng.randrange(2000)
        speed, heading = round(rng.uniform(0, 30), 2), round(rng.uniform(0, 359), 1)
        if op == "c":
            gps_id = "s%d-%d" % (seed, created)
            created += 1
            where[gps_id] = len(live)
            live.append(gps_id)
        else:
            k = min(len(live) - 1, int(rng.paretovariate(1.1)) - 1)
            gps_id = live[k]
        if op == "d":
            # swap-remove keeps the pick O(1); the skew stays on the head
            last = live.pop()
            if last != gps_id:
                live[where[gps_id]] = last
                where[last] = where[gps_id]
            del where[gps_id]
            yield (event("null", op, lsn, ts)
                   .replace('"before":null', '"before":{"id":"%s"}' % gps_id), None)
            continue
        lat, lon = float("%.6f" % lat), float("%.6f" % lon)
        yield (event(after_json(gps_id, dev, lat, lon, speed, heading), op, lsn, ts),
               "%s\tPOINT(%.6f %.6f)\t%.6f\t%.6f" % (gps_id, lon, lat, lat, lon))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--events", type=int, required=True)
    ap.add_argument("--per-file", type=int, default=10000)
    ap.add_argument("--out", required=True)
    ap.add_argument("--expected", required=True)
    a = ap.parse_args()
    os.makedirs(a.out, exist_ok=True)
    lines, expected, part = [], [], 0

    def flush():
        nonlocal lines, part
        tmp = os.path.join(a.out, ".cdc-%05d.json" % part)
        with open(tmp, "w") as f:
            f.write("\n".join(lines) + "\n")
        os.replace(tmp, os.path.join(a.out, "cdc-%05d.json" % part))
        lines, part = [], part + 1

    for line, row in generate(a.seed, a.events):
        lines.append(line)
        if row is not None:
            expected.append(row)
        if len(lines) == a.per_file:
            flush()
    if lines:
        flush()
    with open(a.expected + ".tmp", "w") as f:
        f.write("\n".join(expected) + ("\n" if expected else ""))
    os.replace(a.expected + ".tmp", a.expected)


if __name__ == "__main__":
    main()
