#!/usr/bin/env python3
"""Self-test of the benchmark at tiny scale (about 5 minutes).

    python3 perfbench/test/selftest.py

Runs every workload tiny (1k fixes, 10k change events, 3 query ids) and
checks that each prints every end-to-end metric of BENCHMARK.json and every
named workload metric with its unit; that a traced run prints every
per-layer metric with its unit; that an injected duplicate sink row and an
injected throwing query id make the run fail instead of timing it; and that
the command fails without a result where the engine sources are missing.
"""
import json
import os
import shutil
import subprocess
import sys

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(BENCH)
SPEC = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
UNITS = {"_per_s": "1/s", "_ms": "ms", "_s": "s", "_mb": "MB", "_frac": "ratio"}
NAMED = {
    "fleet_http": ["setup_s", "fix_ack_p50_ms", "fix_ack_p99_ms", "fix_to_location_p50_ms",
                   "fix_to_location_p99_ms", "fix_capacity_per_s", "peak_rss_mb", "failed_frac"],
    "cdc_backlog": ["setup_s", "cdc_rows_per_s", "cdc_apply_p50_ms", "cdc_apply_p99_ms",
                    "peak_rss_mb", "failed_frac"],
    "batch_surface": ["setup_s", "batch_pass_s", "batch_query_p50_s", "batch_query_p95_s",
                      "peak_rss_mb", "failed_frac"],
}
failures = []


def check(cond, what):
    print(("ok   " if cond else "FAIL ") + what, flush=True)
    if not cond:
        failures.append(what)


def run(workload, *extra, trace=0, cwd=ROOT):
    cmd = ["python3", os.path.join(cwd, "perfbench", "run.py"), "--workload", workload,
           "--seed", "3", "--seconds", "2", "--trace", str(trace), "--scale", "tiny", *extra]
    r = subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=900)
    lines = r.stdout.strip().splitlines()
    result = None
    if lines:
        try:
            result = json.loads(lines[-1])
        except ValueError:
            pass
    named = {}
    for line in lines:
        if line.startswith(workload + ": "):
            named = json.loads(line[len(workload) + 2:])
    return r.returncode, result, named


def unit_of(name):
    return next((u for suffix, u in UNITS.items() if name.endswith(suffix)), None)


def main():
    e2e = {m["name"]: m["unit"] for m in SPEC["end_to_end"]}
    layers = {m["name"]: m["unit"] for m in SPEC["per_layer"]}
    for w in NAMED:
        code, result, named = run(w)
        check(code == 0 and result is not None and result["correct"], f"{w}: tiny run is correct")
        if result:
            got = {k: v["unit"] for k, v in result["metrics"].items()}
            check(got == e2e, f"{w}: every end-to-end metric printed with its unit")
            check(result["failed"] == 0 and result["attempted"] > 0, f"{w}: attempted > 0, failed 0")
        for n in NAMED[w]:
            check(n in named and named[n]["unit"] == unit_of(n), f"{w}: prints {n} in {unit_of(n)}")

    code, result, _ = run("fleet_http", trace=1)
    check(code == 0 and result is not None, "fleet_http traced: run is correct")
    if result:
        got = {k: v["unit"] for k, v in result["metrics"].items()}
        check(got == layers, "fleet_http traced: every per-layer metric printed with its unit")
        m = {k: v["value"] for k, v in result["metrics"].items()}
        check(m["stream.ingress.batches"] > 0, "fleet_http traced: micro-batch phases recorded")
        # layer counts cover the traced phase alone: its 1000 POSTs, not
        # the warm-up's or the untraced phase's
        check(m["httpingress.spool_files"] == m["httpingress.posts"] - m["httpingress.rejected_400"],
              "fleet_http traced: spool files counted over the traced phase")
        check(m["pipeline.ok_rows"] == m["sink.gps_raw.rows"] == m["sink.location_instances.rows"],
              "fleet_http traced: ok rows and sink rows counted over the traced phase")
        check(m["sink.gps_raw.replay_skips"] == 0 and m["sink.location_instances.replay_skips"] == 0,
              "fleet_http traced: no replay skips without a restart")
    check(os.path.exists(os.path.join(BENCH, ".work", "fleet_http", "spans.jsonl")),
          "fleet_http traced: spans written")

    for w, inject in (("fleet_http", "dup_sink_row"), ("cdc_backlog", "dup_sink_row"),
                      ("batch_surface", "throwing_id")):
        code, result, named = run(w, "--inject", inject)
        check(code != 0, f"{w} with {inject}: exits non-zero")
        check(result is not None and not result["correct"] and result["failed"] >= 1,
              f"{w} with {inject}: reported as failed, not timed")
        if w == "batch_surface" and named:
            check(named["batch_samples"]["value"] == 3 * named["batch_passes"]["value"],
                  "batch_surface with throwing_id: the failing id is left out of the timings")

    bare = os.path.join(BENCH, ".work", "selftest-bare")
    shutil.rmtree(bare, ignore_errors=True)
    shutil.copytree(BENCH, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns(".work", "target"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    code, result, _ = run("cdc_backlog", cwd=bare)
    check(code != 0 and result is None, "without the engine sources: fails with no result")
    shutil.rmtree(bare, ignore_errors=True)

    print("%d failed checks" % len(failures))
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
