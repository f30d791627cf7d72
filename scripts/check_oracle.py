"""Local replica of the driver's correctness gate: run every queries()
entry on Spark and its oracle_sql() in DuckDB over the same sf dir, compare
row count, column names, and order-insensitive values.

Usage: python scripts/check_oracle.py [sf_dir] [only_query ...]

With SPARK_GRAFT_GATE_JSON=<path> set, also writes the driver-format
correctness file ({query: {rows_match, schema_match, hash_match,
spark_rows, oracle_rows, err}, ...}) covering every entry run — the
committed CORRECTNESS_LOCAL artifact for entries past the driver gate's
budget.
"""

import json
import math
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()


def norm_cell(v):
    if v is None:
        return None
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return round(v, 9)
    if isinstance(v, bytes):
        return v.hex()
    return v


def norm_rows(cols, rows):
    out = []
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    for r in rows:
        out.append(tuple(norm_cell(r[i]) for i in order))
    return sorted(cols), sorted(out, key=lambda t: tuple(str(x) for x in t))


def compare_result(scols, srows, dcols, drows) -> dict:
    """Driver-gate-shaped comparison record for one entry, including the
    round-5 forensics payload (`first_diff`) on any divergence. Pure —
    unit-tested by tests/test_entry_contract.py's forced mismatches."""
    rec = {"rows_match": False, "schema_match": False,
           "hash_match": False, "spark_rows": None,
           "oracle_rows": None, "err": None}
    sc, sr = norm_rows(scols, srows)
    dc, dr = norm_rows(dcols, drows)
    rec["spark_rows"], rec["oracle_rows"] = len(sr), len(dr)
    rec["schema_match"] = sc == dc
    rec["rows_match"] = len(sr) == len(dr)
    rec["hash_match"] = sc == dc and sr == dr
    if sc != dc:
        rec["first_diff"] = {"kind": "columns", "spark": sc, "oracle": dc}
    elif len(sr) != len(dr):
        dr_set, sr_set = set(dr), set(sr)
        s_only = [r for r in sr if r not in dr_set][:2]
        d_only = [r for r in dr if r not in sr_set][:2]
        rec["first_diff"] = {
            "kind": "rows", "columns": sc,
            "spark_only": [[repr(v) for v in r] for r in s_only],
            "oracle_only": [[repr(v) for v in r] for r in d_only]}
    elif sr != dr:
        diff = [i for i, (a, b) in enumerate(zip(sr, dr)) if a != b]
        i0 = diff[0]
        rec["first_diff"] = {
            "kind": "values", "columns": sc,
            "n_differing": len(diff), "row_index": i0,
            "spark": [repr(v) for v in sr[i0]],
            "oracle": [repr(v) for v in dr[i0]]}
    return rec


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    from pyspark.sql import SparkSession
    spark = (SparkSession.builder.master("local[8]")
             .config("spark.sql.shuffle.partitions", "8")
             .config("spark.ui.enabled", "false")
             .config("spark.driver.memory", "6g")
             .getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")

    con = duckdb.connect()
    for t in TABLES:
        path = f"{sf_dir}/{t}.parquet"
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")

    import __spark_entry__ as e
    qs, osql = e.queries(), e.oracle_sql()

    import time

    ok = fail = 0
    report: dict = {}
    t_start = time.time()
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        rec = {"rows_match": False, "schema_match": False,
               "hash_match": False, "spark_rows": None,
               "oracle_rows": None, "err": None}
        report[name] = rec
        try:
            sdf = fn(spark, sf_dir)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
            res = con.execute(osql[name])
            dcols = [d[0] for d in res.description]
            drows = res.fetchall()
            # forensics payload (round-5): on ANY divergence the JSON
            # artifact carries the concrete diverging rows (first_diff),
            # so a driver-only flake (like r4's source_mix_weights) is
            # diagnosable from CORRECTNESS_LOCAL alone
            rec.update(compare_result(scols, srows, dcols, drows))
            report[name] = rec
            if rec["hash_match"]:
                print(f"ok   {name} ({rec['spark_rows']} rows, "
                      f"{time.time() - t0:.1f}s)", flush=True)
                ok += 1
            else:
                print(f"FAIL {name}: "
                      f"{json.dumps(rec.get('first_diff'))[:500]}")
                fail += 1
        except Exception as ex:
            rec["err"] = f"{type(ex).__name__}: {str(ex)[:300]}"
            print(f"ERROR {name}: {rec['err']}")
            fail += 1
    print(f"\n{ok} ok, {fail} failed, {time.time() - t_start:.1f}s total")
    json_path = os.environ.get("SPARK_GRAFT_GATE_JSON")
    if json_path:
        with open(json_path, "w") as f:
            json.dump(report, f, indent=2)
        print(f"wrote {json_path} ({len(report)} entries)")
    spark.stop()
    sys.exit(1 if fail else 0)


if __name__ == "__main__":
    main()
