#!/usr/bin/env python3
"""Record the golden result fingerprints in perfbench/goldens.tsv.

For each workload of BENCHMARK.json, the harness writes a graft.Verify
dump of the workload's queries and prints each query run's fingerprint
twice live and once from the dump. The DuckDB
oracle (tools/check_oracle.py) then checks the dump. A query gets a golden
only if its fingerprints agree and the oracle passed it; a query with no
oracle SQL is recorded and marked no-oracle-sql. A query run under several
confs (the graph gate on both sides) has one golden: runs that disagree
are a defect to report, not a second golden.

    python3 perfbench/record_goldens.py          # from the repository root
"""
import json
import os
import re
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402
import run  # noqa: E402


def fingerprints(classes, workload, dump):
    """[(sf, label, query, live1, live2, dumped)] for every query run."""
    tmp = os.path.join(build.BUILD, "tmp-goldens")
    os.makedirs(tmp, exist_ok=True)
    out = subprocess.run(
        run.java_cmd(classes, tmp, [
            "--mode", "fingerprint", "--workload", workload, "--data", run.DATA,
            "--cores", str(len(os.sched_getaffinity(0))), "--dump", dump]),
        check=True, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
        text=True).stdout.splitlines()
    return [l.split("\t")[1:] for l in out if l.startswith("FP\t")]


def oracle(sf, dump, queries):
    env = dict(os.environ, GRAFT_DUCKDB_TEMPDIR=os.path.join(build.BUILD, "duckdb"))
    out = subprocess.run(
        [sys.executable, os.path.join(build.ROOT, "tools", "check_oracle.py"),
         os.path.join(run.DATA, sf), dump, "--only", ",".join(queries)],
        check=True, stdout=subprocess.PIPE, text=True, env=env).stdout
    print(out, file=sys.stderr)
    with open(os.path.join(dump, "oracle_sql.json")) as f:
        have_sql = set(json.load(f))
    passed = set(re.findall(r"^ok\s+(\S+)", out, re.M))
    return {q: ("oracle-ok" if q in passed else
                "no-oracle-sql" if q not in have_sql else None) for q in queries}


def main():
    classes = build.build()
    goldens, problems = {}, []
    for w in (w["name"] for w in run.spec()["workloads"]):
        dump = os.path.join(build.BUILD, "verify", w)
        fps = fingerprints(classes, w, dump)
        status = oracle(fps[0][0], dump, sorted({f[2] for f in fps}))
        for sf, label, q, live1, live2, dumped in fps:
            if live1 != live2 or live1 != dumped:
                problems.append(f"{w} {label}: {live1} {live2} dump {dumped}")
            elif status[q] is None:
                problems.append(f"{w} {label}: oracle check failed")
            elif goldens.setdefault((sf, q), (live1, status[q]))[0] != live1:
                problems.append(f"{w} {label}: {live1} != {goldens[(sf, q)][0]}")
    with open(os.path.join(HERE, "goldens.tsv"), "w") as f:
        f.write("# sf\tquery\trows\txxhash64_sum\tverified\n")
        for (sf, q), (fp, st) in sorted(goldens.items()):
            rows, h = fp.split(":")
            f.write(f"{sf}\t{q}\t{rows}\t{h}\t{st}\n")
    for p in problems:
        print("PROBLEM " + p)
    sys.exit(1 if problems else 0)


if __name__ == "__main__":
    main()
