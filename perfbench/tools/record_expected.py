#!/usr/bin/env python3
"""Record the expected results of the batch_surface query set.

    python3 perfbench/tools/record_expected.py

Builds the harness as run.py does, if needed. Lists every
query id with its family, DuckDB oracle SQL and whether it registers a shared
CacheScope cache, and picks one id per family among those with oracle SQL:
the one whose SHA-1 of the name sorts first, taken from the cache-bearing ids
when the family has any, so the set exercises CacheScope. Runs each picked
id's SQL in DuckDB over perfbench/data/sf0.001, writes the result to parquet
under perfbench/.work/oracle, and hashes it with perfbench.ResultHash, the
code that hashes the engine's rows. Writes perfbench/expected/batch_sf0.001.tsv.
"""
import hashlib
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)
import run  # noqa: E402  (the benchmark's build and JVM options)

DATA = os.path.join(HERE, "data", "sf0.001")
OUT = os.path.join(HERE, "expected", "batch_sf0.001.tsv")
WORK = os.path.join(HERE, ".work", "oracle")
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def record_tool(*args):
    opens = ["--add-opens=java.base/%s=ALL-UNNAMED" % p for p in run.JAVA_OPENS]
    cmd = ["java", *opens, "-Duser.timezone=UTC",
           "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties"),
           "-cp", os.pathsep.join(run.classpath()), "perfbench.RecordTool", *args]
    return subprocess.run(cmd, check=True, stdout=subprocess.PIPE, text=True).stdout.splitlines()


def main():
    import duckdb
    ids = [json.loads(line) for line in record_tool("list", DATA) if line.startswith("{")]
    chosen = {}
    for q in sorted((q for q in ids if q["oracle"]),
                    key=lambda q: (not q["shared_cache"], hashlib.sha1(q["id"].encode()).hexdigest())):
        chosen.setdefault(q["family"], q)
    shutil.rmtree(WORK, ignore_errors=True)
    os.makedirs(WORK)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{DATA}/{t}.parquet'")
    files = {}
    for fam, q in sorted(chosen.items()):
        files[q["id"]] = os.path.join(WORK, q["id"] + ".parquet")
        con.execute(f"COPY ({q['oracle']}) TO '{files[q['id']]}' (FORMAT parquet)")
    hashed = {}
    for line in record_tool("hash", *files.values()):
        f, digest, rows = line.split("\t")
        hashed[f] = (digest, rows)
    lines = ["# id\tfamily\tsha256 of the DuckDB oracle result\trows"]
    for fam, q in sorted(chosen.items()):
        digest, rows = hashed[files[q["id"]]]
        lines.append("%s\t%s\t%s\t%s" % (q["id"], fam, digest, rows))
        print(lines[-1], file=sys.stderr)
    os.makedirs(os.path.dirname(OUT), exist_ok=True)
    with open(OUT, "w") as f:
        f.write("\n".join(lines) + "\n")


if __name__ == "__main__":
    main()
