"""Local replica of the driver's t2 correctness gate.

Runs every suite query through Spark AND its DuckDB oracle at sf0.01,
compares row count, column names, and an order-insensitive value hash
(columns sorted by name, rows sorted, values normalized). Prints one
line per query; exits nonzero on any mismatch.

Usage: python tools/check_oracle.py [name_substring ...]
"""

from __future__ import annotations

import hashlib
import math
import sys
import traceback
from pathlib import Path

import duckdb

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

SF_DIR = "/root/testdata/sf0.01"
TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def normalize(v):
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "T" if v else "F"
    if isinstance(v, float):
        # Driver-parity: int vs float must hash DIFFERENTLY (7 != 7.0) —
        # round 1's scalar_math failed only in the driver because this
        # normalizer used to coerce whole floats to int strings.
        if math.isnan(v):
            return "NaN"
        s = f"{v:.6g}"
        if "." not in s and "e" not in s and "n" not in s:
            s += ".0"
        return s
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(normalize(x) for x in v) + "]"
    return str(v)


def driver_canon_check(rows, colnames):
    """Replicate the driver's canonicalization step on the RAW cells:
    it builds a pandas frame and ``sort_values`` over every column,
    which factorizes object columns and raises ``TypeError: unhashable
    type: 'list'`` on array cells. Round 6 shipped two array-output
    rows that were green here (the old hash path stringified lists)
    and red at the driver — this makes the replica fail where the
    driver fails. Returns an error string or None."""
    import pandas as pd

    try:
        pdf = pd.DataFrame([tuple(r) for r in rows], columns=list(colnames))
        pdf.sort_values(by=sorted(colnames), kind="mergesort")
    except Exception as e:  # noqa: BLE001 — any canon failure is a driver red
        return f"{type(e).__name__}: {e}"
    return None


def table_hash(rows, colnames):
    order = sorted(range(len(colnames)), key=lambda i: colnames[i])
    lines = sorted(
        "|".join(normalize(r[i]) for i in order) for r in rows
    )
    h = hashlib.sha256()
    for ln in lines:
        h.update(ln.encode())
        h.update(b"\n")
    return h.hexdigest()


def main() -> int:
    from siddhi_operator_spark.session import build_session
    from siddhi_operator_spark.suite import REGISTRY

    filters = sys.argv[1:]
    spark = build_session("oracle-check", shuffle_partitions=8)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'"
        )

    failures = []
    for name, spec in REGISTRY.items():
        if filters and not any(f in name for f in filters):
            continue
        try:
            sdf = spec.fn(spark, SF_DIR)
            srows = sdf.collect()
            scols = sdf.columns
        except Exception:
            print(f"FAIL  {name}: spark error")
            traceback.print_exc()
            failures.append(name)
            continue
        if spec.oracle is None:
            print(f"ok*   {name}: rows-only ({len(srows)} rows)")
            if len(srows) == 0:
                print(f"      WARNING: 0 rows from rows-only query")
            continue
        try:
            cur = con.execute(spec.oracle)
            dcols = [d[0] for d in cur.description]
            drows = cur.fetchall()
        except Exception:
            print(f"FAIL  {name}: duckdb error")
            traceback.print_exc()
            failures.append(name)
            continue
        problems = []
        canon_err = driver_canon_check(srows, scols) or driver_canon_check(
            drows, dcols
        )
        if canon_err:
            problems.append(f"driver-canon error: {canon_err}")
        if sorted(scols) != sorted(dcols):
            problems.append(f"cols spark={sorted(scols)} duck={sorted(dcols)}")
        if len(srows) != len(drows):
            problems.append(f"rowcount spark={len(srows)} duck={len(drows)}")
        if not problems:
            sh = table_hash([tuple(r) for r in srows], scols)
            dh = table_hash(drows, dcols)
            if sh != dh:
                problems.append("value-hash mismatch")
                # show a diff sample
                sset = {
                    "|".join(
                        normalize(t[i])
                        for i in sorted(range(len(scols)), key=lambda i: scols[i])
                    )
                    for t in (tuple(r) for r in srows)
                }
                dset = {
                    "|".join(
                        normalize(r[i])
                        for i in sorted(range(len(dcols)), key=lambda i: dcols[i])
                    )
                    for r in drows
                }
                only_s = list(sset - dset)[:3]
                only_d = list(dset - sset)[:3]
                if only_s:
                    problems.append(f"spark-only: {only_s}")
                if only_d:
                    problems.append(f"duck-only: {only_d}")
        if problems:
            print(f"FAIL  {name}: " + "; ".join(problems))
            failures.append(name)
        else:
            print(f"ok    {name} ({len(srows)} rows)")

    print()
    if failures:
        print(f"{len(failures)} FAILURES: {failures}")
        return 1
    print("all green")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
