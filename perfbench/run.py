#!/usr/bin/env python3
"""Benchmark of the HPV pipeline and the engine's query suite.

Run from the root of a checkout:

    python3 perfbench/run.py --workload hpv_nightly --seed 1 --seconds 10 --trace 0

It builds the engine with the benchmark's drivers from source (once per
source state), makes the workload's inputs from the seed, runs the
workload in a fresh JVM on `nproc` cores, checks every output, and prints
as its last line one JSON object: `correct`, `attempted`, `failed` and
`metrics`. With `--trace 0` the metrics are the end-to-end ones; with
`--trace 1` they are the per-layer ones of a traced run. The line before
it is a record with everything measured, weather included.

Workloads, query lists and metric meanings are pinned in
`perfbench/workloads.json`; engine fingerprints in
`perfbench/fingerprints.json`.
"""

import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import hpvmodel  # noqa: E402

ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "work")
STAMP = os.path.join(HERE, "target", "perfbench-classpath.json")
RUN_LIMIT_S = 170

JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(2)


def load_json(name):
    with open(os.path.join(HERE, name)) as f:
        return json.load(f)


# ---- build ----

def source_digest():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    for p in sorted(files):
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def classpath():
    """The runtime classpath, building with sbt when the sources changed."""
    digest = source_digest()
    if os.path.exists(STAMP):
        with open(STAMP) as f:
            stamp = json.load(f)
        if stamp.get("digest") == digest:
            return stamp["classpath"]
    env = dict(os.environ, COURSIER_MODE="offline")
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.offline=true",
           "compile", "export Runtime/fullClasspath"]
    try:
        p = subprocess.run(cmd, cwd=HERE, env=env, stdout=subprocess.PIPE,
                           stderr=subprocess.STDOUT, text=True, timeout=840)
    except (OSError, subprocess.TimeoutExpired) as e:
        fail("build failed: %s" % e)
    lines = [ln for ln in p.stdout.splitlines() if "scala-2.13" + os.sep + "classes" in ln
             and not ln.startswith("[")]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout[-4000:])
        fail("build failed (sbt exit %d)" % p.returncode)
    os.makedirs(os.path.dirname(STAMP), exist_ok=True)
    with open(STAMP, "w") as f:
        json.dump({"digest": digest, "classpath": lines[-1].strip()}, f)
    return lines[-1].strip()


# ---- the JVM side ----

# Driver memory, fixed so that peak RSS compares across hosts; the heap is
# sized up front so its growth does not depend on GC timing.
DRIVER_MEMORY = "2g"


def java_cmd(cp, tmp, main, args):
    """A JVM command line running `main` on the engine's classpath."""
    opens = [x for p in JDK17_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
    return (["java"] + opens + ["-Xms" + DRIVER_MEMORY, "-Xmx" + DRIVER_MEMORY,
                                "-Djava.io.tmpdir=" + tmp, "-Dspark.ui.enabled=false",
                                "-cp", cp, main] + list(args))


def jvm(cp, run_dir, args, deadline, log_name):
    """Run perfbench.Main; returns its result object."""
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    out = os.path.join(run_dir, log_name + ".json")
    cmd = java_cmd(cp, tmp, "perfbench.Main",
                   ["%s=%s" % kv for kv in args.items()]
                   + ["local_dir=" + local, "out=" + out,
                      "launch_ms=%.3f" % (time.time() * 1000)])
    with open(os.path.join(run_dir, log_name + ".log"), "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT)
        try:
            proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail("%s exceeded the run's time limit" % log_name)
    if proc.returncode != 0 or not os.path.exists(out):
        with open(os.path.join(run_dir, log_name + ".log")) as f:
            sys.stderr.write(f.read()[-4000:])
        fail("%s exited with %d" % (log_name, proc.returncode))
    with open(out) as f:
        return json.load(f)


# ---- metrics ----

def quantile(xs, q):
    """Linear-interpolated quantile, q in [0, 1]."""
    s = sorted(xs)
    if len(s) == 1:
        return s[0]
    pos = q * (len(s) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def check_ops(ops, expected):
    """Failed ops: an error, or a fingerprint other than `expected(name)`."""
    failed = []
    for o in ops:
        want = expected(o["name"])
        if not o["ok"]:
            failed.append("%s: %s" % (o["name"], o["error"]))
        elif want is None:
            failed.append("%s: no expected fingerprint" % o["name"])
        elif (o["rows"], o["hash"]) != tuple(want):
            failed.append("%s: got %d rows / %s, want %d rows / %s" % (
                o["name"], o["rows"], o["hash"], want[0], want[1]))
    return failed


def end_to_end(result):
    cold = [o["s"] for o in result["ops"] if o["kind"] == "cold"]
    warm = [o["s"] for o in result["ops"] if o["kind"] == "warm"]
    timed = cold + warm
    return {
        "setup_s": result["setup_s"],
        "first_op_s": cold[0],
        "wall_s": sum(timed),
        "op_p50_s": statistics.median(warm),
        "op_p95_s": quantile(warm, 0.95),
        "peak_rss_mb": result["peak_rss_mb"],
    }


def per_layer(result, cfg, spec, families, layer_names):
    layers = {k: 0.0 for k in layer_names}
    layers.update(result.get("layers", {}))
    passes = cfg["passes"]
    warm = sum(o["s"] for o in result["ops"] if o["kind"] == "warm")
    traced = [o for o in result["ops"] if o["kind"] == "traced"]
    if spec["kind"] == "hpv":
        layers["ingest.workbooks"] = cfg["workbooks"]
        layers["ingest.cells"] = cfg["cells"]
    else:
        for o in traced:
            key = "queries.%s.wall_s" % families[o["name"]]
            layers[key] += o["s"] / passes
    layers["host.steal_s"] = result["steal_s"]
    layers["host.load1"] = result["load1"]
    layers["trace.overhead_frac"] = sum(o["s"] for o in traced) / warm - 1.0
    return layers


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--corrupt-expected", action="store_true",
                    help="alter one expected value, to show the check catches it")
    a = ap.parse_args()
    deadline = time.time() + RUN_LIMIT_S

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("engine sources not found under %s" % os.path.join(ROOT, "src"))
    spec_all = load_json("workloads.json")
    if a.workload not in spec_all["workloads"]:
        fail("unknown workload %r" % a.workload)
    spec = spec_all["workloads"][a.workload]
    cores = len(os.sched_getaffinity(0))

    cp = classpath()
    deadline = max(deadline, time.time() + RUN_LIMIT_S)  # a first build gets its own budget

    run_dir = os.path.join(WORK, "run-%s-%d-%d" % (a.workload, a.seed, os.getpid()))
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        passes = max(1, round(a.seconds / spec["pass_seconds"]))
        args = {"mode": "run", "kind": spec["kind"], "cores": cores, "passes": passes,
                "trace": a.trace}
        cfg = {"passes": passes}
        if spec["kind"] == "hpv":
            grids = hpvmodel.generate_grids(a.seed, spec["workbooks"], spec["las"])
            hpvmodel.write_workbooks(grids, os.path.join(run_dir, "in"))
            rows = hpvmodel.model_rows(grids)
            if a.corrupt_expected:
                r = rows[0]
                rows[0] = r[:3] + ((r[3] or 0) + 1,) + r[4:]
            want = hpvmodel.fingerprint(rows)
            expected = lambda name: want
            cfg.update(workbooks=len(grids), cells=hpvmodel.cell_count(grids))
            args.update({"in": os.path.join(run_dir, "in"),
                         "dest": os.path.join(run_dir, "hpv_uptake"),
                         "extract": hpvmodel.EXTRACT_DATE})
        else:
            pinned = load_json("fingerprints.json")[a.workload]
            if a.corrupt_expected:
                q = spec["queries"][0]
                pinned[q] = [pinned[q][0] + 1, pinned[q][1]]
            expected = pinned.get
            queries = spec["queries"]
            args.update(data=os.path.join(HERE, spec["data"]), cold=spec["cold"],
                        queries=",".join(queries))
        if a.trace:
            os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
            args["spans"] = os.path.join(WORK, "traces", "%s-seed%d.jsonl" % (a.workload, a.seed))

        result = jvm(cp, run_dir, args, deadline, "run")
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    ops = result["ops"]
    failed = check_ops(ops, expected)
    for f in failed:
        print("perfbench: FAILED " + f, file=sys.stderr)
    declared = load_json(os.path.join(os.pardir, "BENCHMARK.json"))["per_layer" if a.trace else "end_to_end"]
    units = {m["name"]: m["unit"] for m in declared}
    if a.trace:
        metrics = per_layer(result, cfg, spec, load_json("families.json"), list(units))
    else:
        metrics = end_to_end(result)
    record = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
        "cores": cores, "passes": passes, "failed_frac": len(failed) / len(ops),
        "failures": failed, "op_samples": sum(1 for o in ops if o["kind"] == "warm"),
        "host_steal_s": result["steal_s"], "host_load1": result["load1"],
        "ops": [[o["name"], o["kind"], o["s"]] for o in ops],
    }
    print(json.dumps({"record": record}))
    print(json.dumps({
        "correct": not failed,
        "attempted": len(ops),
        "failed": len(failed),
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))


if __name__ == "__main__":
    main()
