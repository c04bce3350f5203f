"""Full-registry DuckDB-oracle sweep (the verify-skill recipe, scripted).

Run from a FOREIGN cwd: cd /tmp && python <repo>/tools/oracle_sweep.py [sf_dir] [key ...]
Sweeps the checkout this file lives in. Prints one line per key:
<name> MATCH|MISMATCH|ERROR <rows>.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb  # noqa: E402

import __spark_entry__ as mod  # noqa: E402
from tinymapreduce_spark.session import get_spark  # noqa: E402
from tinymapreduce_spark.sources.loaders import TABLES  # noqa: E402


def main() -> None:
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = get_spark()
    assert len(mod.entry(spark).collect()) > 0
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet'")
    q, o = mod.queries(), mod.oracle_sql()
    keys = sys.argv[2:] or sorted(q)
    bad = 0
    for name in keys:
        try:
            pdf = q[name](spark, sf).toPandas()
            if name not in o:
                print(name, "rows-only", len(pdf), flush=True)
                continue
            b = con.execute(o[name]).df()
            a = pdf.reindex(sorted(pdf.columns), axis=1).sort_values(
                by=sorted(pdf.columns), ignore_index=True
            )
            b = b.reindex(sorted(b.columns), axis=1).sort_values(
                by=sorted(b.columns), ignore_index=True
            )
            ok = a.equals(b)
            bad += 0 if ok else 1
            print(name, "MATCH" if ok else "MISMATCH", len(a), flush=True)
        except Exception as e:  # noqa: BLE001
            bad += 1
            print(name, "ERROR", repr(e)[:300], flush=True)
    print("SWEEP-DONE bad=", bad, flush=True)


if __name__ == "__main__":
    main()
