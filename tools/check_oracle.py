"""Command-line form of the oracle check Tier-1 runs.

Runs every __spark_entry__.queries() entry on Spark and its
oracle_sql() twin on DuckDB (default sf0.01; Tier-1 runs sf0.001) and
compares them with dle.resultcheck.compare: row count, sorted column
names, column types and an order-insensitive value hash.

    python tools/check_oracle.py [sf_dir] [name ...]

An unknown name exits 1 before Spark starts. What the queries leave in
the temp dir (checkpoint roots, stream sources) goes to a directory of
this run's own, removed at exit, so no later run resumes from it.
"""

from __future__ import annotations

import atexit
import shutil
import sys
import tempfile
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

import __spark_entry__ as entrymod  # noqa: E402
from dle.resultcheck import compare, duck_views  # noqa: E402
from dle.session import get_spark  # noqa: E402


def main():
    sf = sys.argv[1] if len(sys.argv) > 1 and "/" in sys.argv[1] \
        else "/root/testdata/sf0.01"
    only = [a for a in sys.argv[1:] if "/" not in a]
    oracles = entrymod.oracle_sql()
    unknown = sorted(set(only) - set(oracles))
    if unknown:
        raise SystemExit(f"unknown query name(s): {', '.join(unknown)}")
    # registered before the session starts, so it runs after Spark stops
    tempfile.tempdir = tempfile.mkdtemp(prefix="check-oracle-")
    atexit.register(shutil.rmtree, tempfile.tempdir, True)
    spark = get_spark("oracle-check", master="local[8]",
                      shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    con = duck_views(sf)

    qs = entrymod.queries()
    fails = []
    for name, sql in oracles.items():
        if only and name not in only:
            continue
        try:
            sdf = qs[name](spark, sf)
            srows = sdf.collect()
        except Exception as e:
            print(f"FAIL {name}: spark error {e}")
            fails.append(name)
            continue
        try:
            problems = compare(sdf.columns, srows, sdf.schema, con.sql(sql))
        except Exception as e:
            print(f"FAIL {name}: duckdb error {str(e)[:300]}")
            fails.append(name)
            continue
        if problems:
            print(f"FAIL {name}: " + "; ".join(str(p)[:400]
                                               for p in problems))
            fails.append(name)
        else:
            print(f"PASS {name} ({len(srows)} rows)")
    print(f"\n{len(fails)} failures" + (f": {fails}" if fails else ""))
    sys.exit(1 if fails else 0)


if __name__ == "__main__":
    main()
