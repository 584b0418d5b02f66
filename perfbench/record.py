"""Records the expected output of every browse/bulk entry on the fixed
corpus into expected.json.

    python3 perfbench/run.py --workload browse --seed 0 --seconds 1 --record

Each entry runs twice, in two JVMs; a digest that differs between them
is reported and not stored. Where the entry has a DuckDB oracle
(`SparkEntry.oracleSql`), the Spark output is also compared with it by
tools/check.py's `compare` (rows and columns sorted, NaN == NaN, exact
values); the verdict is stored next to the digest.
"""
import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def oracle_verdict(sql, out_dir, corpus):
    """'match', or the mismatches tools/check.py reports for this output."""
    import duckdb
    import pandas as pd
    sys.path.insert(0, os.path.join(os.path.dirname(HERE), "tools"))
    from check import TABLES, compare
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{corpus}/{t}.parquet')")
    duck = con.sql(sql).df()
    con.close()
    issues = [i for i in compare("", pd.read_parquet(out_dir), duck)
              if not i.startswith("dtype-warn")]
    return "; ".join(issues)[:300] if issues else "match"


def record(workload, w, cp, corpus, run_jvm, work):
    if workload == "maintain":
        raise SystemExit("maintain checks itself against a batch rebuild")
    entries = list(w["entries"])
    digests = []
    for attempt in range(2):
        run_dir = os.path.join(work, "runs", f"record-{workload}-{attempt}")
        shutil.rmtree(run_dir, ignore_errors=True)
        res = run_jvm(cp, {"workload": workload, "corpus": corpus, "trace": 0,
                           "record": 1, "fixtures": w["fixtures"], "ops": entries},
                      run_dir, deadline_s=3000, budget_s=3600)
        errs = {o["name"]: o["error"] for o in res["ops"] if o["error"]}
        if errs:
            raise SystemExit(f"entries failed: {errs}")
        digests.append(dict(zip(entries, res["digests"])))
        if attempt == 0:
            with open(os.path.join(run_dir, "oracle_sql.json")) as f:
                oracle = json.load(f)
            verdicts = {n: (oracle_verdict(oracle[n], os.path.join(run_dir, "out", n),
                                           corpus) if n in oracle else "none")
                        for n in entries}
        shutil.rmtree(run_dir, ignore_errors=True)
    path = os.path.join(HERE, "expected.json")
    expected = json.load(open(path)) if os.path.exists(path) else {}
    expected[workload] = {}
    for n in entries:
        if digests[0][n] != digests[1][n]:
            print(f"unstable {n}: {digests[0][n]} vs {digests[1][n]}")
            continue
        expected[workload][n] = {"digest": digests[0][n], "oracle": verdicts[n]}
        print(f"{n}: {digests[0][n]} oracle={verdicts[n]}")
    with open(path, "w") as f:
        json.dump(expected, f, indent=1, sort_keys=True)
        f.write("\n")
