"""Local replica of the driver's correctness harness.

Runs each __spark_entry__.queries() entry at sf0.01 and compares
against the DuckDB oracle: row count, column names, and an
order-insensitive value hash over columns sorted by name.

Each PASS line carries the query's value hash, so two runs, with the
trailing [seconds] stripped, diff clean when a change kept every answer:
    python tools/check_oracle.py | sed 's/ \[.*s\]$//' > a.txt

Usage: python tools/check_oracle.py [query ...]
"""

from __future__ import annotations

import hashlib
import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb  # noqa: E402

SF_DIR = os.environ.get("ORACLE_SF_DIR", "/root/testdata/sf0.01")
TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()


def norm_cell(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if v == int(v) and abs(v) < 1e15:
            return str(int(v))
        return f"{v:.10g}"
    if isinstance(v, bool):
        return str(int(v))
    if hasattr(v, "isoformat"):
        s = v.isoformat(sep=" ")
        return s
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(norm_cell(x) for x in v) + "]"
    return str(v)


def value_hash(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("\x1f".join(norm_cell(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()[:16]


def main():
    from immoeliza_pipeline_spark.session import get_spark
    import __spark_entry__ as ent

    spark = get_spark(cpus=os.environ.get("SPARK_GRAFT_CPUS", "8"))
    spark.sparkContext.setLogLevel("FATAL")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")

    qs = ent.queries()
    oracles = ent.oracle_sql()
    wanted = sys.argv[1:] or list(qs)
    n_pass = n_fail = 0
    for name in wanted:
        fn = qs[name]
        t0 = time.time()
        try:
            sdf = fn(spark, SF_DIR)
            # HARD type guard: TimestampType (with-TZ) output columns
            # are rendered by PySpark's collect() through the PROCESS
            # timezone (TZ env var), which no session conf pins — a
            # non-UTC driver shifts every value. Export epoch-µs
            # BIGINTs (unix_micros) instead. TIMESTAMP_NTZ and DATE
            # convert TZ-independently and are fine. The regex scans
            # the FULL type string so timestamps nested inside
            # structs/arrays/maps are caught too.
            import re as _re
            bad_ts = [f.name for f in sdf.schema.fields
                      if _re.search(r"timestamp(?!_ntz)",
                                    f.dataType.simpleString())]
            if bad_ts:
                print(f"FAIL {name}: TZ-sensitive timestamp output "
                      f"column(s) {bad_ts} — export unix_micros() "
                      f"BIGINT instead")
                n_fail += 1
                continue
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as e:
            print(f"FAIL {name}: spark error: {e}")
            n_fail += 1
            continue
        dt = time.time() - t0
        if name not in oracles:
            print(f"ROWS-ONLY {name}: {len(srows)} rows [{dt:.1f}s]")
            continue
        try:
            rel = con.sql(oracles[name])
            # HARD type guard: a bare integer sum() is HUGEINT (int128)
            # in DuckDB; the driver's normalizer renders it differently
            # than Spark's BIGINT and the hash silently mismatches (the
            # fetchall() path below masks it — plain Python ints). Fail
            # loudly here so the class of bug can't recur.
            bad = [f"{c}:{t}" for c, t in zip(rel.columns, rel.types)
                   if "HUGEINT" in str(t).upper()]
            if bad:
                print(f"FAIL {name}: oracle emits HUGEINT column(s) "
                      f"{bad} — CAST(... AS BIGINT) in the oracle SQL")
                n_fail += 1
                continue
            ocols = list(rel.columns)
            orows = rel.fetchall()
        except Exception as e:
            print(f"FAIL {name}: oracle error: {e}")
            n_fail += 1
            continue
        problems = []
        if len(srows) != len(orows):
            problems.append(f"rows {len(srows)} vs {len(orows)}")
        if sorted(scols) != sorted(ocols):
            problems.append(f"cols {sorted(scols)} vs {sorted(ocols)}")
        if not problems:
            sh, oh = value_hash(srows, scols), value_hash(orows, ocols)
            if sh != oh:
                problems.append(f"hash {sh} vs {oh}")
                # show first differing lines for debugging
                so = sorted(range(len(scols)), key=lambda i: scols[i])
                oo = sorted(range(len(ocols)), key=lambda i: ocols[i])
                sset = sorted("\x1f".join(norm_cell(r[i]) for i in so) for r in srows)
                oset = sorted("\x1f".join(norm_cell(r[i]) for i in oo) for r in orows)
                for a, b in zip(sset, oset):
                    if a != b:
                        print(f"   spark:  {a[:200]!r}")
                        print(f"   oracle: {b[:200]!r}")
                        break
        if problems:
            print(f"FAIL {name}: {'; '.join(problems)} [{dt:.1f}s]")
            n_fail += 1
        else:
            print(f"PASS {name}: {len(srows)} rows {sh} [{dt:.1f}s]")
            n_pass += 1
    print(f"\n{n_pass} pass, {n_fail} fail, {len(wanted)} total")
    spark.stop()
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
