"""Full-catalog correctness artifact (VERDICT r3 task #3): run EVERY
`queries()` key vs its DuckDB oracle at sf0.01 and persist the result in
the driver gate's per-key schema as `CORRECTNESS_LOCAL_r{N}.json` —
evidence for the keys the driver's 50-key sample doesn't touch.

Usage: python tools/correctness_local.py [sf_dir] [out.json]
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tools.oracle_check import canon, duck_con  # noqa: E402


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    out_path = sys.argv[2] if len(sys.argv) > 2 else "CORRECTNESS_LOCAL.json"
    import __spark_entry__ as entry
    from azure_airbnb_cdc_ingestion_pipeline_spark.session import get_spark

    spark = get_spark("correctness-local")
    spark.sparkContext.setLogLevel("ERROR")
    con = duck_con(sf_dir)
    qs = entry.queries()
    oracles = entry.oracle_sql()
    results: dict[str, dict] = {}
    n_pass = 0
    for name in sorted(qs):
        rec = {
            "rows_match": False,
            "schema_match": False,
            "hash_match": False,
            "spark_rows": None,
            "oracle_rows": None,
            "err": None,
        }
        try:
            sp = canon(qs[name](spark, sf_dir).toPandas())
            rec["spark_rows"] = len(sp)
            oracle = oracles.get(name)
            if oracle is None:
                rec.update(rows_match=True, schema_match=True, err="no_oracle")
            else:
                du = canon(con.sql(oracle).df())
                rec["oracle_rows"] = len(du)
                rec["rows_match"] = len(sp) == len(du)
                rec["schema_match"] = list(sp.columns) == list(du.columns)
                rec["hash_match"] = (
                    rec["rows_match"] and rec["schema_match"] and sp.equals(du)
                )
        except Exception as exc:  # noqa: BLE001
            rec["err"] = f"{type(exc).__name__}: {exc}"
        ok = rec["hash_match"] or (rec["err"] == "no_oracle" and rec["rows_match"])
        n_pass += int(ok)
        results[name] = rec
        print(f"{'PASS' if ok else 'FAIL'}  {name}", flush=True)
    with open(out_path, "w") as f:
        json.dump(results, f, indent=1)
    print(f"\n{n_pass}/{len(results)} pass -> {out_path}")
    if n_pass != len(results):
        sys.exit(1)


if __name__ == "__main__":
    main()
