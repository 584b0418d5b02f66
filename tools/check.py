#!/usr/bin/env python3
"""Local self-check mimicking the driver's DuckDB-oracle compare.

Usage: python3 tools/check.py [sfDir] [outDir] [--skip-verify] [names...]

1. builds the jar (sbt package) and runs graft.Verify at sfDir -> outDir
2. registers each testdata parquet as a DuckDB view named by table
3. runs every oracle_sql.json entry, compares against the Spark parquet:
   columns sorted by name, rows sorted by all columns, exact value match
   (small float epsilon reported separately so parity bugs are visible).
"""
import json, math, subprocess, sys, os
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]  # the checkout this script is in

SF = sys.argv[1] if len(sys.argv) > 1 and not sys.argv[1].startswith('-') else '/root/testdata/sf0.01'
OUT = sys.argv[2] if len(sys.argv) > 2 and not sys.argv[2].startswith('-') else '/tmp/verify_out'
SKIP = '--skip-verify' in sys.argv
ONLY = [a for a in sys.argv[3:] if not a.startswith('-')]

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()
ADD_OPENS = [f"--add-opens={p}=ALL-UNNAMED" for p in (
    "java.base/java.lang java.base/java.lang.invoke java.base/java.lang.reflect "
    "java.base/java.io java.base/java.net java.base/java.nio java.base/java.util "
    "java.base/java.util.concurrent java.base/java.util.concurrent.atomic "
    "java.base/sun.nio.ch java.base/sun.nio.cs java.base/sun.security.action "
    "java.base/sun.util.calendar").split()]

def run_verify():
    subprocess.run(["sbt", "-batch", "package"], check=True, cwd=ROOT,
                   stdout=subprocess.DEVNULL)
    jar = str(ROOT / "target/scala-2.13/etllensspark_2.13-0.1.0.jar")
    cp = "/opt/spark/jars/*:" + jar
    env = dict(os.environ, SPARK_GRAFT_CPUS="8")
    extra = [",".join(ONLY)] if ONLY else []
    r = subprocess.run(["java", *ADD_OPENS, "-Xmx8g",
                        "-Dspark.ui.enabled=false",
                        "-Dspark.sql.session.timeZone=UTC",
                        "-cp", cp, "graft.Verify", SF, OUT, *extra], env=env)
    if r.returncode != 0:
        sys.exit("graft.Verify failed")

def canon(v):
    if v is None: return None
    if isinstance(v, float):
        return v
    if hasattr(v, 'timestamp'):  # datetime-like -> epoch ns int
        import pandas as pd
        return pd.Timestamp(v).value
    if isinstance(v, (list, tuple)):
        return tuple(canon(x) for x in v)
    return v

def compare(name, spark_df, duck_df):
    import pandas as pd
    issues = []
    scols, dcols = sorted(spark_df.columns), sorted(duck_df.columns)
    if scols != dcols:
        return [f"COLUMN MISMATCH spark={scols} duck={dcols}"]
    s = spark_df[scols]; d = duck_df[dcols]
    if len(s) != len(d):
        return [f"ROWCOUNT spark={len(s)} duck={len(d)}"]
    # dtype visibility (driver may compare schemas strictly)
    for c in scols:
        st, dt = str(s[c].dtype), str(d[c].dtype)
        if st != dt:
            issues.append(f"dtype-warn {c}: spark={st} duck={dt}")
    srows = sorted((tuple(canon(v) for v in row) for row in s.itertuples(index=False)), key=repr)
    drows = sorted((tuple(canon(v) for v in row) for row in d.itertuples(index=False)), key=repr)
    def eq(x, y):
        if x == y: return True
        return isinstance(x, float) and isinstance(y, float) and \
            math.isnan(x) and math.isnan(y)
    exact = 0; close = 0; bad = []
    for a, b in zip(srows, drows):
        if len(a) == len(b) and all(eq(x, y) for x, y in zip(a, b)):
            exact += 1; continue
        ok = len(a) == len(b)
        if ok:
            for x, y in zip(a, b):
                if eq(x, y): continue
                if isinstance(x, float) and isinstance(y, float) and \
                   math.isclose(x, y, rel_tol=1e-9, abs_tol=1e-12):
                    continue
                ok = False; break
        if ok: close += 1
        else: bad.append((a, b))
    if close: issues.append(f"FLOAT-INEXACT rows={close} (hash would MISMATCH)")
    if bad:
        issues.append(f"VALUE MISMATCH rows={len(bad)} e.g. {bad[0][0]} vs {bad[0][1]}")
    return issues

def main():
    import duckdb, pandas as pd
    if not SKIP: run_verify()
    # A fresh capped connection per oracle: a long-lived 32-thread
    # default-config connection accumulates buffer-pool memory across
    # the ~210 queries until the process hits the environment's
    # allocation ceiling and every LATER query "fails" with rotating
    # spurious OOMs (observed 2026-08-14: 24-64 rotating "Out of
    # Memory" failures on an idle 122G-free host; each query green
    # standalone). 8 threads + 8G is far above any single sf<=1
    # oracle's need, and reconnecting bounds retained state at one
    # query's worth — runs are burst-immune and failures isolate.
    def fresh_con():
        c = duckdb.connect()
        c.execute("SET threads TO 8")
        c.execute("SET memory_limit='8GB'")
        for t in TABLES:
            # driver corpora are single files; DevScale corpora
            # (target/sf1) are Spark-written directories of part files
            p = f"{SF}/{t}.parquet"
            if os.path.isdir(p):
                p = f"{p}/*.parquet"
            c.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
        return c
    oracle = json.load(open(f"{OUT}/oracle_sql.json"))
    # an ONLY name that is neither oracled nor dumped is a typo — fail
    # loudly instead of reporting a vacuous green run
    ghosts = [n for n in ONLY
              if n not in oracle and not os.path.isdir(f"{OUT}/{n}")]
    if ghosts:
        sys.exit(f"unknown query name(s): {ghosts}")
    names = [n for n in (ONLY or sorted(oracle)) if n in oracle]
    n_ok = n_fail = 0
    for name in names:
        pq_dir = f"{OUT}/{name}"
        if not os.path.isdir(pq_dir):
            print(f"FAIL {name}: no spark output"); n_fail += 1; continue
        try:
            spark_df = pd.concat([pd.read_parquet(f"{pq_dir}/{f}")
                                  for f in os.listdir(pq_dir) if f.endswith(".parquet")])
        except Exception as e:
            print(f"FAIL {name}: read spark parquet: {e}"); n_fail += 1; continue
        try:
            con = fresh_con()
            try:
                duck_df = con.sql(oracle[name]).df()
            finally:
                con.close()
        except Exception as e:
            print(f"FAIL {name}: oracle sql: {str(e)[:300]}"); n_fail += 1; continue
        issues = compare(name, spark_df, duck_df)
        hard = [i for i in issues if not i.startswith("dtype-warn")]
        if hard:
            n_fail += 1
            print(f"FAIL {name}: " + "; ".join(issues))
        else:
            n_ok += 1
            tag = " (" + "; ".join(issues) + ")" if issues else ""
            print(f"ok   {name} rows={len(spark_df)}{tag}")
    # queries with no oracle -> rows-only
    out_dirs = {d for d in os.listdir(OUT) if os.path.isdir(f"{OUT}/{d}")}
    for name in sorted(out_dirs - set(oracle)):
        print(f"rows-only {name}")
    print(f"== {n_ok} ok, {n_fail} fail")
    sys.exit(1 if n_fail else 0)

if __name__ == "__main__":
    main()
