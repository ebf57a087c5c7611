#!/usr/bin/env python3
"""graft benchmark: one run of one workload.

Usage (from the repository root):

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
                             [--tiny] [--inject digest|oracle]

Workloads (see perfbench/NOTES.md):
  smt_chain      the Connect SMT chain over a seeded envelope batch
  operators      five operator queries over a generated corpus, closed loop
  cdc_stream     commits to a snapshot table streamed into a replica

The first run in a checkout compiles graft plus the benchmark mains with
sbt (perfbench/build.sbt); later runs reuse the classpath while the
sources are unchanged. Each run works in perfbench/.work/<run>/, which it
deletes at the end.

The last stdout line is one JSON object: `correct`, `attempted`, `failed`
and `metrics` (the end-to-end metrics of BENCHMARK.json with --trace 0,
the per-layer ones with --trace 1). The line before it names every
end-to-end and workload figure (setup_s, failed_ratio, smt.records_per_s,
tail.pass_s.p50, stream.latency_s.*, ...) with its unit. Any wrong output
makes `correct` false, empties `metrics`, and exits 1.

`--tiny` shrinks every input for the self-check (selfcheck.py);
`--inject` plants a wrong expected digest (in the JVM) or a wrong oracle
row (in the DuckDB compare) to prove that such a run fails.
"""
import argparse
import hashlib
import importlib.util
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

import gen

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = HERE / ".work"
BUILD = HERE / "target"
CP_FILE = BUILD / "graftbench.classpath"
DEADLINE_S = 170.0

# input sizes: (full, --tiny)
SIZES = {
    "smt_chain": ({"records": 400000}, {"records": 20000}),
    "operators": ({"docs": 500, "embeddings": 200}, {"docs": 200, "embeddings": 60}),
    "cdc_stream": ({"initial_rows": 2000, "rows": 240, "interval_ms": 800, "commits": 10,
                    "drains": 3, "drain_rows": 6000},
                   {"initial_rows": 500, "rows": 50, "interval_ms": 300, "commits": 8,
                    "drains": 2, "drain_rows": 200}),
}
CORPUS_SEED = 42  # the operator corpus is fixed; the seed permutes query order
# the per-layer metric families each workload exercises and must report;
# the traced run reports 0 for every other family
LAYERS = {
    "smt_chain": {"config", "transforms", "spark", "exec", "trace", "jvm"},
    "operators": {"spark", "exec", "operators", "trace", "jvm"},
    "cdc_stream": {"spark", "exec", "snapshots", "stream", "gen", "trace", "jvm"},
}

JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources_stamp():
    h = hashlib.sha1()
    files = [HERE / "build.sbt", HERE / "project" / "build.properties"]
    for base in (HERE / "scala", ROOT / "src" / "main"):
        files += sorted(p for p in base.rglob("*") if p.is_file())
    for p in files:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def build():
    """Compile with sbt when the sources changed; return the classpath."""
    for need in (ROOT / "src" / "main" / "scala", ROOT / "tools" / "oracle_check.py"):
        if not need.exists():
            fail(f"{need.relative_to(ROOT)} is missing: run from a graft checkout")
    stamp = sources_stamp()
    if CP_FILE.exists():
        saved = CP_FILE.read_text().split("\n", 1)
        if saved[0] == stamp:
            return saved[1].strip()
    if "SPARK_HOME" not in os.environ:
        fail("SPARK_HOME must name the Spark install whose jars/ graft builds against")
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = Path.home() / ".sbt" / "repositories"
    if "SBT_OPTS" not in env and repos.exists():
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true "
                           f"-Dsbt.repository.config={repos} -Dsbt.offline=true -Xmx3g")
    out = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
         "compile", "export Runtime/fullClasspath"],
        cwd=HERE, env=env, capture_output=True, text=True, timeout=840)
    lines = [l for l in out.stdout.splitlines() if l.strip()]
    if out.returncode != 0 or not lines or "classes" not in lines[-1]:
        sys.stderr.write(out.stdout[-4000:] + out.stderr[-2000:])
        fail("sbt build failed")
    BUILD.mkdir(exist_ok=True)
    CP_FILE.write_text(stamp + "\n" + lines[-1].strip() + "\n")
    return lines[-1].strip()


def timed(f, *a):
    t = time.perf_counter()
    r = f(*a)
    return r, time.perf_counter() - t


def oracle_frames(corpus, oracles):
    """The DuckDB oracle's answer for each query, cached per (corpus bytes,
    oracle SQL, DuckDB version) under .work/oracle/: the corpus is fixed, so
    the first run in a checkout pays for the quadratic oracles and later runs
    compare against the same frames.
    """
    import duckdb
    import pandas as pd
    h = hashlib.sha1(duckdb.__version__.encode())
    for t in sorted(corpus.glob("*.parquet")):
        h.update(t.name.encode())
        h.update(t.read_bytes())
    h.update(json.dumps(oracles, sort_keys=True).encode())
    cache = WORK / "oracle" / h.hexdigest()
    if not (cache / "done").exists():
        shutil.rmtree(cache, ignore_errors=True)
        cache.mkdir(parents=True)
        con = duckdb.connect()
        for t in corpus.glob("*.parquet"):
            con.execute(f"CREATE VIEW {t.stem} AS SELECT * FROM '{t}'")
        for name, sql in oracles.items():
            con.sql(sql).df().to_pickle(cache / f"{name}.pkl")
        con.close()
        (cache / "done").write_text("")
    return {name: pd.read_pickle(cache / f"{name}.pkl") for name in oracles}


def oracle_check(verify, corpus, inject):
    """Compare each query result under `verify` with its DuckDB oracle, using
    the comparison rules of tools/oracle_check.py. Returns (checked, errors).
    """
    import pandas as pd
    spec = importlib.util.spec_from_file_location("oracle_check", ROOT / "tools" / "oracle_check.py")
    oc = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(oc)
    oracles = json.loads((verify / "oracle_sql.json").read_text())
    frames = oracle_frames(corpus, oracles)
    errors = []
    for name in sorted(oracles):
        spark_df = oc.canon(pd.read_parquet(verify / name))
        ora_df = frames[name]
        if inject == "oracle" and len(ora_df):
            ora_df = ora_df.iloc[1:]
        ora_df = oc.canon(ora_df)
        if list(spark_df.columns) != list(ora_df.columns) or len(spark_df) != len(ora_df):
            errors.append(f"oracle {name}: shape {list(spark_df.columns)}x{len(spark_df)} "
                          f"!= {list(ora_df.columns)}x{len(ora_df)}")
            continue
        bad = next(((c, i) for c in spark_df.columns
                    for i, (x, y) in enumerate(zip(spark_df[c].tolist(), ora_df[c].tolist()))
                    if not oc.values_equal(x, y)), None)
        if bad:
            errors.append(f"oracle {name}: column {bad[0]} row {bad[1]} differs")
    return len(oracles), errors


def run_jvm(cp, work, jargs, deadline):
    java = shutil.which("java") or fail("java not found")
    opens = [x for p in JDK_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    (work / "tmp").mkdir(parents=True, exist_ok=True)
    cmd = [java, *opens, "-Xmx4g", "-XX:+UseParallelGC", f"-Djava.io.tmpdir={work / 'tmp'}",
           "-cp", cp, "graftbench.Main", *jargs]
    log = open(work / "jvm.log", "w")
    p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=work,
                         start_new_session=True)
    try:
        p.wait(timeout=max(5.0, deadline - time.monotonic()))
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        log.close()
        sys.stderr.write((work / "jvm.log").read_text()[-3000:])
        fail("benchmark JVM timed out")
    log.close()
    return p.returncode


def main():
    t_start = time.monotonic()
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(SIZES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true")
    ap.add_argument("--inject", choices=("digest", "oracle"))
    a = ap.parse_args()

    spec_path = ROOT / "BENCHMARK.json"
    if not spec_path.exists():
        fail("BENCHMARK.json is missing")
    spec = json.loads(spec_path.read_text())
    cp = build()
    deadline = time.monotonic() + DEADLINE_S - min(5.0, time.monotonic() - t_start)

    size = SIZES[a.workload][1 if a.tiny else 0]
    work = WORK / f"{a.workload}-{a.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    try:
        jargs = ["--workload", a.workload, "--seed", str(a.seed),
                 "--seconds", str(a.seconds), "--trace", str(a.trace),
                 "--work", str(work), "--out", str(work / "result.json"),
                 "--spans", str(WORK / "traces" / f"{a.workload}-{a.seed}.json")]
        corpus = None
        if a.workload == "operators":
            corpus = work / "corpus"
            _, prep_s = timed(gen.generate, str(corpus), size["docs"],
                              size["embeddings"], CORPUS_SEED)
            jargs += ["--data", str(corpus), "--prep_s", str(prep_s)]
        else:
            jargs += [x for k, v in size.items() for x in (f"--{k}", str(v))]
        if a.inject == "digest":
            jargs += ["--inject", "digest"]
        rc = run_jvm(cp, work, jargs, deadline)
        rfile = work / "result.json"
        if not rfile.exists():
            sys.stderr.write((work / "jvm.log").read_text()[-3000:])
            fail(f"benchmark JVM exited {rc} without a result")
        r = json.loads(rfile.read_text())
        errors = list(r["errors"])
        attempted, failed = r["attempted"], r["failed"]
        if corpus is not None and (work / "verify" / "oracle_sql.json").exists():
            checked, oerr = oracle_check(work / "verify", corpus, a.inject)
            attempted += checked
            failed += len(oerr)
            errors += oerr
    finally:
        shutil.rmtree(work, ignore_errors=True)

    correct = failed == 0 and rc == 0 and attempted > 0
    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]
    source = r["layers"] if a.trace else r["e2e"]
    if a.trace:  # a layer the workload does not exercise did no work
        source = {**{m["name"]: 0.0 for m in wanted
                     if m["name"].split(".")[0] not in LAYERS[a.workload]}, **source}
    missing = [m["name"] for m in wanted if not isinstance(source.get(m["name"]), (int, float))]
    if correct and missing:
        errors.append(f"metrics not produced: {', '.join(missing)}")
        correct = False
    for e in errors[:20]:
        print(f"FAIL {e}", file=sys.stderr)
    summary = {"workload": a.workload, "seed": a.seed, "trace": a.trace,
               "failed_ratio": {"value": failed / max(1, attempted), "unit": "ratio"}}
    for k, v in r["summary"].items():
        summary[k] = {"value": v, "unit": unit_of(k)}
    print(json.dumps({"summary": summary}))
    metrics = {m["name"]: {"value": source[m["name"]], "unit": m["unit"]}
               for m in wanted} if correct else {}
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    sys.exit(0 if correct else 1)


def unit_of(name):
    if name.endswith("_per_s"):
        return "1/s"
    if name.endswith("_s") or "_s." in name:
        return "s"
    return "count"


if __name__ == "__main__":
    main()
