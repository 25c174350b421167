"""Local emulation of the driver's correctness gate: run every queries()
entry on Spark at sf0.01 and compare against oracle_sql() via DuckDB
(row count + column names + order-insensitive values). Reports FP drift
separately from hard mismatches so rounding risk is visible.

Usage: python tools/check_contract.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem", "events", "documents", "embeddings"]


def norm_rows(cols, rows):
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        vals = []
        for i in idx:
            v = r[i]
            if isinstance(v, float):
                v = round(v, 9)
            vals.append(v)
        out.append(tuple(vals))
    return sorted(cols), sorted(out, key=lambda t: tuple(str(x) for x in t))


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import duckdb

    import __spark_entry__ as entrymod
    from elektra_spark.session import get_spark

    spark = get_spark("contract-check", extra_conf={"spark.ui.showConsoleProgress": "false"})
    spark.sparkContext.setLogLevel("ERROR")

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")

    # twins that must train/sample from the harness's scale directory (e.g.
    # the IVF quantizer) read it from this env var; the driver's own harness
    # runs at sf0.01, which is the in-code default
    os.environ["ELEKTRA_SF_DIR"] = sf_dir
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    results = {}
    for name, fn in qs.items():
        if only and name not in only:
            continue
        import time

        t0 = time.time()
        # root of every job label: query/operator/phase/step
        spark.sparkContext.setJobDescription(name)
        try:
            sdf = fn(spark, sf_dir)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as e:
            results[name] = f"SPARK ERROR: {e}"
            print(f"{name}: SPARK ERROR: {str(e)[:300]}", flush=True)
            continue
        dt = time.time() - t0
        if name not in oracles:
            results[name] = f"rows-only OK ({len(srows)} rows, {dt:.1f}s)"
            print(f"{name}: rows-only, {len(srows)} rows, {dt:.1f}s", flush=True)
            continue
        try:
            odf = con.sql(oracles[name]).df()
            ocols = list(odf.columns)
            orows = [tuple(r) for r in odf.itertuples(index=False, name=None)]
        except Exception as e:
            results[name] = f"ORACLE ERROR: {e}"
            print(f"{name}: ORACLE ERROR: {str(e)[:300]}", flush=True)
            continue
        # the driver hashes pandas values column-sorted, so dtype families must
        # match too (a DuckDB HUGEINT/DOUBLE where Spark emits BIGINT flips the
        # hash even when every value compares equal)
        sdtypes = {c: ("f" if t.startswith(("float", "double")) else "i" if t in ("bigint", "int", "smallint", "tinyint") else "o")
                   for c, t in sdf.dtypes}
        odtypes = {c: ("f" if str(t).startswith("float") else "i" if str(t).startswith(("int", "uint")) else "o")
                   for c, t in odf.dtypes.items()}
        # a nullable DuckDB integer column converts to float64 in .df(); treat
        # an oracle float whose values are all integral-or-NaN as family 'i'
        # when the Spark side is integer (round-3 ADVICE false positive)
        for c in list(odtypes):
            if odtypes[c] == "f" and sdtypes.get(c) == "i":
                vals = odf[c]
                if vals.dropna().apply(float.is_integer).all():
                    odtypes[c] = "i"
        type_mismatch = {c: (sdtypes.get(c), odtypes.get(c)) for c in sdtypes
                         if c in odtypes and sdtypes[c] != odtypes[c]}
        sc, sr = norm_rows(scols, srows)
        oc, orr = norm_rows(ocols, orows)
        if sc != oc:
            results[name] = f"SCHEMA MISMATCH spark={sc} oracle={oc}"
        elif type_mismatch:
            results[name] = f"TYPE MISMATCH {type_mismatch} (spark vs oracle dtype family)"
        elif len(sr) != len(orr):
            results[name] = f"ROWCOUNT MISMATCH spark={len(sr)} oracle={len(orr)}"
        elif sr == orr:
            results[name] = f"MATCH ({len(sr)} rows, {dt:.1f}s)"
        else:
            bad = sum(1 for a, b in zip(sr, orr) if a != b)
            ex = next((a, b) for a, b in zip(sr, orr) if a != b)
            results[name] = f"VALUE MISMATCH {bad}/{len(sr)} rows, e.g. {ex}"
        print(f"{name}: {results[name]}", flush=True)

    print("\n==== SUMMARY ====")
    n_bad = 0
    for name, res in results.items():
        ok = res.startswith("MATCH") or res.startswith("rows-only")
        n_bad += 0 if ok else 1
        print(f"{'OK ' if ok else 'BAD'} {name}: {res}")
    print(f"{n_bad} failing")
    sys.exit(1 if n_bad else 0)


if __name__ == "__main__":
    main()
