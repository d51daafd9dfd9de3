#!/usr/bin/env python3
"""Record the expected analytics digests, gated on the DuckDB oracles.

  python3 perfbench/record_digests.py

Runs the analytics workload once with result dumps, checks every query
that has an oracle (SparkEntry.oracleSql) against DuckDB over the same
generated tables, and only if all of them match writes the digests the
run computed to perfbench/expected_digests.json. Queries without an
oracle are recorded as computed and listed as unverified.
"""
import json
import math
import subprocess
import sys
import tempfile
from pathlib import Path

import duckdb

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
import gen_tables  # noqa: E402
import run  # noqa: E402

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def canon(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    key = lambda r: tuple((x is None, repr(x)) for x in r)  # noqa: E731
    return [cols[i] for i in order], sorted((tuple(r[i] for i in order) for r in rows), key=key)


def same(a, b):
    if isinstance(a, float) and isinstance(b, float) and math.isnan(a) and math.isnan(b):
        return True
    if isinstance(a, bool) != isinstance(b, bool):
        return False
    return a == b


def main():
    (HERE / ".work").mkdir(exist_ok=True)
    with tempfile.TemporaryDirectory(dir=HERE / ".work") as tmp:
        tmp = Path(tmp)
        dump, results = tmp / "dump", tmp / "results"
        subprocess.run([sys.executable, str(HERE / "run.py"), "--workload", "analytics", "--seed", "0",
                        "--dump", str(dump), "--results", str(results)], check=True)
        report = json.loads((results / "analytics-s0-t0.json").read_text())
        digests = {k[len("digest."):]: v for k, v in report["info"].items() if k.startswith("digest.")}
        gen_tables.write(str(tmp / "tables"), run.TABLE_SEED, run.TABLE_SCALE)
        con = duckdb.connect()
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{tmp / 'tables' / t}.parquet')")
        oracles = json.loads((dump / "oracle_sql.json").read_text())
        bad = []
        for q in sorted(digests):
            if q not in oracles:
                print(f"UNVERIFIED {q} (no oracle)")
                continue
            got = con.execute(f"SELECT * FROM read_parquet('{dump / q}/*.parquet')")
            gc, gr = canon(got.fetchall(), [d[0] for d in got.description])
            want = con.execute(oracles[q])
            wc, wr = canon(want.fetchall(), [d[0] for d in want.description])
            ok = gc == wc and len(gr) == len(wr) and all(all(same(x, y) for x, y in zip(a, b)) for a, b in zip(gr, wr))
            print(f"{'PASS' if ok else 'FAIL'} {q} ({len(gr)} rows)")
            if not ok:
                bad.append(q)
        if bad:
            sys.exit(f"oracle mismatch on {bad}; digests not recorded")
        (HERE / "expected_digests.json").write_text(json.dumps(dict(sorted(digests.items())), indent=1) + "\n")
        print(f"recorded {len(digests)} digests")


if __name__ == "__main__":
    main()
