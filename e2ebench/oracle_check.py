#!/usr/bin/env python3
"""Cross-checks the batch_queries digests against the engine's DuckDB oracle.

    python3 e2ebench/oracle_check.py [--write]

Run from the repository root. Generates the benchmark's batch tables, runs
each cohort query once to parquet with its result digest, and compares every
result with `SparkEntry.oracleSql` evaluated by DuckDB over the same tables
(row count, column names and a hash of the sorted values, by the rule of
tools/check_oracle.py). With --write, and only if every query matches, the
digests are written to the benchmark's digests.tsv. Exits 1 on any mismatch.
"""
import json
import os
import shutil
import sys

import duckdb
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import run  # noqa: E402

# the engine's own oracle comparison rule
sys.path.insert(0, os.path.join(run.ROOT, "tools"))
from check_oracle import normalize, table_hash  # noqa: E402

DIGESTS = os.path.join(run.BENCH, "src", "main", "resources", "e2ebench", "digests.tsv")


def main():
    cp = run.classpath()
    work = os.path.join(run.WORK, "oracle")
    out = os.path.join(work, "out")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cmd = (["java", "-Xmx3g"]
           + [x for p in run.ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
              f"-Djava.io.tmpdir={work}/tmp", f"-Dspark.local.dir={work}/tmp",
              "-cp", cp, "e2ebench.Main", "--emit", out, "--work", work])
    with open(os.path.join(work, "emit.log"), "w") as err:
        done = run.run_to_end(cmd, 600, cwd=run.ROOT, stderr=err)
    if done is None or done[0] != 0:
        sys.exit(f"emit failed, see {work}/emit.log")
    digests = dict(l.split("\t") for l in done[1].splitlines() if "\t" in l)

    con = duckdb.connect()
    for t in ("events", "orders", "documents", "embeddings"):
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{work}/tables/{t}.parquet/*.parquet')")
    oracle = json.load(open(os.path.join(out, "oracle_sql.json")))
    bad = 0
    for name in sorted(digests):
        got = normalize(pd.read_parquet(os.path.join(out, name)))
        exp = normalize(con.sql(oracle[name]).df())
        ok = (list(got.columns) == list(exp.columns) and len(got) == len(exp)
              and table_hash(got) == table_hash(exp))
        bad += not ok
        print(f"  {'ok' if ok else 'MISMATCH'} {name}: {len(got)} rows, digest {digests[name]}")
    if bad:
        sys.exit(1)
    if "--write" in sys.argv:
        with open(DIGESTS, "w") as fh:
            fh.writelines(f"{k}\t{digests[k]}\n" for k in sorted(digests))
        print(f"wrote {os.path.relpath(DIGESTS, run.ROOT)}")
    shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
