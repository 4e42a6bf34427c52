"""Record the expected (row count, xxhash64 sum) of every benchmark query.

    python3 perfbench/record_digests.py           # write digests.json
    python3 perfbench/record_digests.py --check   # compare, write nothing

Run from the root of a checkout.  A digest is recorded only for a query
whose result matches its DuckDB oracle (`oracle_sql()`, compared the way
tools/check_correctness.py compares) on the benchmark's own tables; the
script exits non-zero if any query disagrees with its oracle or, with
--check, with the stored digest.
"""

from __future__ import annotations

import json
import os
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main() -> int:
    check = "--check" in sys.argv[1:]
    sys.path[:0] = [ROOT, os.path.join(ROOT, "tools")]
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    import duckdb
    from check_correctness import TABLES, value_hash

    import __spark_entry__ as entry
    from perfbench import data
    from perfbench.queries import DIGESTS, QUERIES, force
    from s2spark.plans.session import build_session

    stored = json.load(open(DIGESTS)) if check else {}
    spark = build_session(app_name="perfbench-digests")
    spark.sparkContext.setLogLevel("ERROR")
    bad = 0
    out = {}
    oracles = entry.oracle_sql()
    query_fns = entry.queries()
    os.makedirs(os.path.join(ROOT, ".bench_build"), exist_ok=True)
    with tempfile.TemporaryDirectory(dir=os.path.join(ROOT, ".bench_build")) as d:
        data.write_tables(d)
        con = duckdb.connect()
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{d}/{t}.parquet')")
        for name in sorted(QUERIES):
            row = force(query_fns[name](spark, d)).collect()[0]
            digest = [int(row.n), int(row.h or 0)]
            got = query_fns[name](spark, d).toPandas()
            exp = con.execute(oracles[name]).fetchdf()
            oracle_ok = (len(got) == len(exp)
                         and sorted(got.columns) == sorted(exp.columns)
                         and value_hash(got) == value_hash(exp))
            status = "ok" if oracle_ok else "ORACLE MISMATCH"
            if check and stored.get(name) != digest:
                status = f"DIGEST MISMATCH (stored {stored.get(name)})"
            bad += status != "ok"
            print(f"{status:>8}  {name}: {digest}", flush=True)
            out[name] = digest
    spark.stop()
    if bad:
        return 1
    if not check:
        with open(DIGESTS, "w") as f:
            json.dump(out, f, indent=1, sort_keys=True)
            f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
