#!/usr/bin/env python
"""Dump .explain("formatted") for named contract queries to
plans/r14/<query>_<suffix>.txt — the judge-facing before/after plan
evidence for OPTIMIZATION_r14.md.  Usage:

    python plans/r14/dump_plans.py <suffix> q_a q_b ...

Reads $SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) like bench.py.
"""
from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)),
                                "..", ".."))


def main() -> None:
    suffix = sys.argv[1]
    names = sys.argv[2:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or (os.cpu_count() or 8)

    from healthkit_to_sqlite_spark.registry import queries
    from healthkit_to_sqlite_spark.session import get_spark

    spark = get_spark("dump_plans", cpus=cpus, shuffle_partitions=cpus)
    qs = queries()
    out_dir = os.path.dirname(os.path.abspath(__file__))
    for n in names:
        if n not in qs:
            print(f"SKIP {n}: not registered")
            continue
        df = qs[n](spark, sf_dir)
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain(mode="formatted")
        path = os.path.join(out_dir, f"{n}_{suffix}.txt")
        with open(path, "w") as fh:
            fh.write(f"# {n} — explain(formatted), sf_dir={sf_dir}\n")
            fh.write(buf.getvalue())
        print(f"WROTE {path}")
    spark.stop()


if __name__ == "__main__":
    main()
