"""Local stand-in for the driver's DuckDB-oracle correctness gate.

Runs every `queries()` entry at a given sf dir, runs the matching
`oracle_sql()` in DuckDB on the same parquet tables, and compares
row count + column names + an order-insensitive value hash
(columns sorted by name, rows sorted, values stringified).

Usage: python tools/check_correctness.py [sf_dir] [query ...]

Set ``CHECK_JSON=/path/out.json`` to also record per-query verdicts,
merged under the sf key — the multi-scale sweep artifact
(``for sf in 0.001 0.01 0.1: CHECK_JSON=SWEEP.json ...``).
"""

from __future__ import annotations

import hashlib
import json
import os
import sys
import time

import duckdb

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings".split()
)


def norm_cell(v) -> str:
    import math

    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if v == int(v) and abs(v) < 1e15:
            return str(int(v))
        return repr(v)
    if isinstance(v, bool):
        return str(int(v))
    return str(v)


def frame_hash(cols: list[str], rows: list[tuple]) -> tuple[str, int]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("\x1f".join(norm_cell(r[i]) for i in order) for r in rows)
    h = hashlib.sha256("\n".join(lines).encode()).hexdigest()[:16]
    return h, len(rows)


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    # the checkout this script lives in, not an installed or fixed copy
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    import __spark_entry__ as entry
    from knetminer_etl_spark.runtime import get_session

    spark = get_session(
        app_name="correctness-check",
        master="local[8]",
        conf={"spark.ui.enabled": "false", "spark.driver.memory": "8g"},
    )
    spark.sparkContext.setLogLevel("ERROR")

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    queries = entry.queries()
    oracles = entry.oracle_sql()
    n_pass = n_fail = n_rows_only = 0
    results: dict[str, str] = {}
    from knetminer_etl_spark.runtime.session import release_pinned_rdds

    for name, fn in sorted(queries.items()):
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
            # drop localCheckpoint pins between queries: a 100+-query
            # sweep otherwise accumulates every query's pinned blocks
            release_pinned_rdds(spark)
        except Exception as e:
            print(f"FAIL  {name}: spark error: {str(e)[:300]}")
            results[name] = "spark_error"
            n_fail += 1
            continue
        if name not in oracles:
            print(f"ROWS  {name}: {len(srows)} rows (no oracle) [{time.time()-t0:.1f}s]")
            results[name] = f"rows_only:{len(srows)}"
            n_rows_only += 1
            continue
        try:
            cur = con.execute(oracles[name])
            ocols = [d[0] for d in cur.description]
            orows = cur.fetchall()
        except Exception as e:
            print(f"FAIL  {name}: duckdb error: {str(e)[:300]}")
            results[name] = "duckdb_error"
            n_fail += 1
            continue
        sh, sn = frame_hash(scols, srows)
        oh, on = frame_hash(ocols, orows)
        ok = (sorted(scols) == sorted(ocols)) and sh == oh and sn == on
        results[name] = "pass" if ok else "fail"
        status = "PASS " if ok else "FAIL "
        print(
            f"{status} {name}: spark {sn} rows/{sh} vs oracle {on} rows/{oh} "
            f"[{time.time()-t0:.1f}s]"
        )
        if not ok:
            n_fail += 1
            if sorted(scols) != sorted(ocols):
                print(f"      cols spark={sorted(scols)} oracle={sorted(ocols)}")
            else:
                # show first differing rows for debugging
                order_s = sorted(range(len(scols)), key=lambda i: scols[i])
                order_o = sorted(range(len(ocols)), key=lambda i: ocols[i])
                aset = sorted(
                    "\x1f".join(norm_cell(r[i]) for i in order_s) for r in srows
                )
                bset = sorted(
                    "\x1f".join(norm_cell(r[i]) for i in order_o) for r in orows
                )
                sa, sb = set(aset), set(bset)
                for x in list(sa - sb)[:3]:
                    print("      spark-only:", x.replace("\x1f", " | ")[:220])
                for x in list(sb - sa)[:3]:
                    print("      oracle-only:", x.replace("\x1f", " | ")[:220])
        else:
            n_pass += 1
    print(f"\n{n_pass} pass, {n_fail} fail, {n_rows_only} rows-only")
    art = os.environ.get("CHECK_JSON")
    if art:
        merged = {}
        if os.path.exists(art):
            with open(art) as fh:
                merged = json.load(fh)
        sf_key = sf_dir.rstrip("/").rsplit("/", 1)[-1]
        merged.setdefault(sf_key, {}).update(results)
        merged[sf_key + "_summary"] = (
            f"{sum(v == 'pass' for v in merged[sf_key].values())} pass / "
            f"{len(merged[sf_key])} checked"
        )
        with open(art, "w") as fh:
            json.dump(merged, fh, indent=1)
            fh.write("\n")
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
