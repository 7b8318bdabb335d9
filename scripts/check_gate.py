"""Local mirror of the driver's sf0.01 correctness gate over ALL
__spark_entry__ registry entries: SQL parity vs DuckDB where an oracle
exists, rows-only otherwise. Run before shipping a round:

    python scripts/check_gate.py [sf_dir] [--only name1,name2]

The Spark master comes from SPARK_GRAFT_MASTER, else
local[$SPARK_GRAFT_CPUS] (session.get_spark), like every other entry
point: `SPARK_GRAFT_CPUS=$(nproc) python scripts/check_gate.py`.
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.join(REPO, "tests"))


def main() -> None:
    import __spark_entry__ as entry
    from parity import compare, duck_con

    from org_dharts_dia_tesseract_spark.session import get_spark

    args = [a for a in sys.argv[1:]]
    only: set[str] | None = None
    if "--only" in args:
        i = args.index("--only")
        if i + 1 >= len(args):
            sys.exit("usage: check_gate.py [sf_dir] [--only name1,name2]")
        only = set(args[i + 1].split(","))
        del args[i:i + 2]
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    spark = get_spark(app_name="check-gate")
    qs, oq = entry.queries(), entry.oracle_sql()
    if only:
        missing = only - set(qs)
        if missing:
            sys.exit(f"--only names not in the registry: {sorted(missing)}")
        qs = {k: v for k, v in qs.items() if k in only}
    con = duck_con(sf_dir)
    results: dict[str, dict] = {}
    for i, name in enumerate(qs):
        t0 = time.time()
        try:
            df = qs[name](spark, sf_dir)
            if name in oq:
                compare(df, con, oq[name], name)
                results[name] = {"status": "OK", "mode": "sql"}
            else:
                results[name] = {"status": "OK", "mode": "rows",
                                 "rows": df.count()}
        except Exception as ex:   # noqa: BLE001 — report, don't abort
            results[name] = {"status": "FAIL",
                             "err": f"{type(ex).__name__}: {ex}"[:300]}
        results[name]["sec"] = round(time.time() - t0, 1)
        print(f"[{i + 1}/{len(qs)}] {name}: {results[name]['status']} "
              f"({results[name]['sec']}s)", flush=True)
    bad = {k: v for k, v in results.items() if v["status"] != "OK"}
    print("FAILURES:", json.dumps(bad, indent=1) if bad else "none")
    print("total sec:", round(sum(r["sec"] for r in results.values()), 1))
    spark.stop()
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
