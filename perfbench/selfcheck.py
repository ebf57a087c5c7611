#!/usr/bin/env python3
"""Self-check of the benchmark at tiny sizes.

Usage (from the repository root): python3 perfbench/selfcheck.py

For every workload of BENCHMARK.json it asserts that
  - an untraced run reports every end-to-end metric, with its unit, and the
    workload's named figures (setup_s, failed_ratio, smt.records_per_s, ...);
  - a traced run reports every per-layer metric, with its unit;
  - a run with a deliberately wrong expected digest fails: exit code 1,
    `correct` false and no metric values;
and that a wrong DuckDB oracle row fails the operators workload the same way,
and that the benchmark refuses to run outside a graft checkout.
"""
import json
import shutil
import subprocess
import sys
import tempfile
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
SUMMARY = {
    "smt_chain": ["setup_s", "failed_ratio", "smt.records_per_s"],
    "operators": ["setup_s", "failed_ratio", "tail.pass_s.p50"],
    "cdc_stream": ["setup_s", "failed_ratio", "stream.latency_s.p50", "stream.latency_s.p90",
                   "stream.drain_rows_per_s", "table.commit_s.p50", "table.commit_s.p90"],
}


def run(workload, *extra, cwd=ROOT):
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", workload,
                        "--seed", "7", "--seconds", "2", "--tiny", *extra],
                       cwd=cwd, capture_output=True, text=True, timeout=900)
    lines = p.stdout.strip().splitlines()
    return p.returncode, lines, p.stderr


def main():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    problems = []

    def expect(ok, what):
        print(("ok   " if ok else "FAIL ") + what, flush=True)
        if not ok:
            problems.append(what)

    for w in (x["name"] for x in spec["workloads"]):
        for trace, wanted in (("0", spec["end_to_end"]), ("1", spec["per_layer"])):
            rc, lines, err = run(w, "--trace", trace)
            last = json.loads(lines[-1]) if lines else {}
            expect(rc == 0 and last.get("correct") is True,
                   f"{w} trace {trace}: correct run exits 0 ({err.strip()[-300:]})")
            got = last.get("metrics", {})
            expect(all(got.get(m["name"], {}).get("unit") == m["unit"]
                       and isinstance(got[m["name"]]["value"], (int, float)) for m in wanted),
                   f"{w} trace {trace}: every metric reported with its unit")
            if trace == "0":
                summary = json.loads(lines[-2])["summary"] if len(lines) > 1 else {}
                expect(all(n in summary and "unit" in summary[n] for n in SUMMARY[w]),
                       f"{w}: summary names {', '.join(SUMMARY[w])}")
        rc, lines, _ = run(w, "--trace", "0", "--inject", "digest")
        last = json.loads(lines[-1]) if lines else {}
        expect(rc == 1 and last.get("correct") is False and last.get("metrics") == {},
               f"{w}: a wrong expected digest fails the run")

    rc, lines, _ = run("operators", "--trace", "0", "--inject", "oracle")
    last = json.loads(lines[-1]) if lines else {}
    expect(rc == 1 and last.get("correct") is False and last.get("metrics") == {},
           "operators: a wrong oracle row fails the run")

    with tempfile.TemporaryDirectory() as bare:
        shutil.copy(ROOT / "BENCHMARK.json", bare)
        shutil.copytree(HERE, Path(bare) / "perfbench",
                        ignore=shutil.ignore_patterns(".work", "target", "project/project"))
        rc, lines, _ = run("smt_chain", "--trace", "0", cwd=bare)
        expect(rc != 0 and not any(l.startswith('{"correct"') for l in lines),
               "outside a checkout: exits non-zero without a result")

    print(f"{len(problems)} problem(s)")
    sys.exit(1 if problems else 0)


if __name__ == "__main__":
    main()
