#!/usr/bin/env python3
"""The repo benchmark: one run of one workload.

    python3 perfbench/run.py --workload sync_small --seed 1 --seconds 15 --trace 0

Builds the engine and the benchmark from source (perfbench/build.py), runs
the workload in one JVM (graft.perfbench.Main), checks its outputs and
prints, as the last line of stdout, one JSON object:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics
are the end-to-end ones, with --trace 1 the per-layer ones. Workloads,
metrics and their definitions: perfbench/README.md.

Sync passes are checked inside the JVM against the generator's closed form;
query_mix slot outputs are checked here against the DuckDB oracle SQL that
graft.Verify emits for the same queries.
"""
import argparse
import glob
import json
import math
import os
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402

WORKLOADS = ["sync_small", "sync_large", "query_mix"]
FIXTURE = os.path.join(HERE, "fixture", "sf0.001")
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
# The JVM must finish inside the 180 s a run is allowed, builds aside.
JVM_TIMEOUT_S = 165

# The engine's runtime flags from build.sbt, and a pinned heap (fixed size,
# so no run is timed while the heap grows).
JVM_OPTS = [
    "-Xms3g", "-Xmx3g", "-XX:TieredStopAtLevel=1", "-XX:ReservedCodeCacheSize=512m",
    "-XX:-UsePerfData", "-Dspark.ui.enabled=false",
    "-Dspark.sql.session.timeZone=UTC",
] + [a for p in [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
] for a in ("--add-opens", p + "=ALL-UNNAMED")]


def canon(v):
    """Value canonicalization of tools/check_oracle.py."""
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if v == int(v) and abs(v) < 2 ** 53:
            return str(int(v))
        return repr(v)
    return str(v)


def oracle_failures(checks):
    """Names of query outputs that differ from their oracle (same rules as
    tools/check_oracle.py: columns by name, rows as sorted value sets,
    dtypes must agree). A query on the no-oracle list must return rows."""
    import duckdb
    import pandas as pd
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{FIXTURE}/{t}.parquet'")
    bad = []
    for c in checks:
        name = c["name"]
        try:
            files = sorted(glob.glob(os.path.join(c["out"], "*.parquet")))
            got = pd.concat([pd.read_parquet(f) for f in files], ignore_index=True)
            if c.get("no_oracle") is not None:
                ok = len(got) > 0
            elif c.get("oracle") is None:
                ok = False
            else:
                exp = con.execute(c["oracle"]).df()
                cols = sorted(got.columns)

                def rows(df):
                    return sorted(tuple(canon(v) for v in r) for r in
                                  df[cols].itertuples(index=False, name=None))
                ok = (cols == sorted(exp.columns)
                      and all(str(got[k].dtype) == str(exp[k].dtype) for k in cols)
                      and rows(got) == rows(exp))
        except Exception as e:  # a missing or unreadable output is a failure
            print(f"perfbench: checking {name}: {e}", file=sys.stderr)
            ok = False
        if not ok:
            print(f"perfbench: {name} output differs from its oracle",
                  file=sys.stderr)
            bad.append(name)
    return bad


def main():
    # SIGTERM unwinds like an exception, so subprocess.run kills and reaps
    # the compiler or the JVM it is waiting on
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--negative-control", action="store_true",
                    help="sink drops one node delete; the run must fail its check")
    a = ap.parse_args()

    classpath = build.build()
    tag = f"{a.workload}-{a.seed}-{a.trace}" + ("-neg" if a.negative_control else "")
    run_dir = os.path.join(build.OUT, "runs", tag)
    tmp = os.path.join(build.OUT, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cores = len(os.sched_getaffinity(0))
    cmd = (["java"] + JVM_OPTS + [
        f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
        f"-Dspark.sql.warehouse.dir={os.path.join(tmp, 'warehouse')}",
        "-cp", classpath, "graft.perfbench.Main", a.workload, str(a.seed),
        str(a.seconds), str(a.trace), run_dir, FIXTURE, str(cores)]
        + (["drop-delete"] if a.negative_control else []))
    env = dict(os.environ, SPARK_LOCAL_DIRS=tmp)
    env.pop("SPARK_GRAFT_SHUFFLE", None)  # the engine sizes its own shuffle
    log = run_dir + ".log"
    os.makedirs(os.path.dirname(log), exist_ok=True)
    t0 = time.time()
    with open(log, "w") as err:
        try:
            r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=err, text=True,
                               env=env, cwd=tmp, timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            raise SystemExit(f"perfbench: run exceeded {JVM_TIMEOUT_S} s; see {log}")
    lines = [x for x in r.stdout.splitlines() if x.startswith("PERFBENCH ")]
    if r.returncode != 0 or not lines:
        sys.stderr.write(open(log).read()[-4000:])
        raise SystemExit(f"perfbench: JVM exited {r.returncode}; see {log}")
    jvm_s = time.time() - t0
    res = json.loads(lines[-1][len("PERFBENCH "):])
    failed = res["failed"]
    if res.get("checks"):
        bad = oracle_failures(res["checks"])
        print(f"perfbench: {len(res['checks'])} query outputs checked, "
              f"{len(bad)} differ", file=sys.stderr)
        failed += len(bad)
    print(f"perfbench: {a.workload} seed {a.seed} trace {a.trace}: "
          f"{res['attempted']} ops, {failed} failed, {time.time() - t0:.1f} s "
          f"({jvm_s:.1f} s in the JVM)",
          file=sys.stderr)
    print(json.dumps({"correct": failed == 0, "attempted": res["attempted"],
                      "failed": failed, "metrics": res["metrics"]}))


if __name__ == "__main__":
    main()
