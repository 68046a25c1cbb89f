#!/usr/bin/env python3
"""Pin the engine workloads' expected fingerprints.

    python3 perfbench/pin.py [workload ...]

For each engine workload in `workloads.json` (all by default), on its
input tables:

1. `graft.Verify` dumps every query of the workload as parquet;
2. `dev/selfcheck.py` compares each dump with its DuckDB oracle and must
   pass;
3. the benchmark fingerprints the dumps, and separately runs every query
   twice through its own path (prepare, run, sink, release);
4. all three fingerprints of a query must agree. Then they are written
   to `fingerprints.json`.

A query whose fingerprint does not repeat is reported, not pinned.
"""

import json
import os
import shutil
import subprocess
import sys
import time

import run


def main():
    spec = run.load_json("workloads.json")["workloads"]
    names = sys.argv[1:] or [w for w, s in spec.items() if s["kind"] == "engine"]
    cores = len(os.sched_getaffinity(0))
    cp = run.classpath()
    path = os.path.join(run.HERE, "fingerprints.json")
    pinned = run.load_json("fingerprints.json") if os.path.exists(path) else {}
    deadline = time.time() + 3600
    for w in names:
        s = spec[w]
        data = os.path.join(run.HERE, s["data"])
        queries = sorted(set(s["queries"]) | {s["cold"]})
        work = os.path.join(run.WORK, "pin-" + w)
        shutil.rmtree(work, ignore_errors=True)
        os.makedirs(os.path.join(work, "tmp"))
        dump = os.path.join(work, "dump")
        subprocess.run(run.java_cmd(cp, os.path.join(work, "tmp"), "graft.Verify",
                                    [data, dump, ",".join(queries)]),
                       env=dict(os.environ, SPARK_GRAFT_CPUS=str(cores)), check=True,
                       stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL)
        oracle = subprocess.run([sys.executable, os.path.join(run.ROOT, "dev", "selfcheck.py"),
                                 dump, data, ",".join(queries)])
        if oracle.returncode != 0:
            sys.exit("%s: dumps do not match the DuckDB oracle" % w)
        dumped = run.jvm(cp, work, {"mode": "dump", "cores": cores, "dir": dump,
                                    "queries": ",".join(queries)}, deadline, "dump")
        ran = run.jvm(cp, work, {"mode": "run", "kind": "engine", "cores": cores,
                                 "passes": 2, "trace": 0, "data": data, "cold": s["cold"],
                                 "queries": ",".join(queries)}, deadline, "run")
        seen = {}
        for o in dumped["ops"] + ran["ops"]:
            seen.setdefault(o["name"], set()).add((o["rows"], o["hash"]) if o["ok"] else None)
        bad = {q: sorted(map(str, v)) for q, v in seen.items() if len(v) != 1 or None in v}
        for q, v in bad.items():
            print("%s %s: fingerprint does not repeat: %s" % (w, q, v))
        pinned[w] = {q: list(next(iter(v))) for q, v in sorted(seen.items()) if q not in bad}
        shutil.rmtree(work, ignore_errors=True)
    with open(path, "w") as f:
        json.dump(pinned, f, indent=1, sort_keys=True)
        f.write("\n")


if __name__ == "__main__":
    main()
