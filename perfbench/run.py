#!/usr/bin/env python3
"""End-to-end and per-layer benchmark of the graft DrugDisease engine.

Usage (from the root of a checkout):
    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Workloads (see perfbench/README.md for why each exists):
    open_dense        RunPipeline.execute, open mode, hub-heavy PPI network
    whitelist_ingest  RunPipeline.execute, whitelist mode, large evidence file
                      (not in BENCHMARK.json: by hand, for the traced contrast)
    query_mix         seven registered queries on star-schema tables

The harness builds the program from source (sbt, in perfbench/), generates
the inputs from the seed (cached under perfbench/.work/inputs), runs the
measured JVM, checks the outputs outside the timed region, and prints one
JSON object as the last line of stdout.  With --trace 0 it reports the
end-to-end metrics of BENCHMARK.json, with --trace 1 the per-layer ones.
Everything it writes stays under perfbench/.work and perfbench/target.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys

sys.dont_write_bytecode = True

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
sys.path.insert(0, HERE)

import check  # noqa: E402
import gen  # noqa: E402

PIPELINES = ("open_dense", "whitelist_ingest")
MIX_SF = 0.01          # query_mix table scale (lineitem = 6M x sf rows)
MIX_SEED = 42          # the tables are fixed; --seed permutes query order
CACHED_INPUTS = 3      # generated input sets kept per workload
JVM_TIMEOUT = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg):
    log(msg)
    sys.exit(2)


def build():
    """Compile program + harness once per source state; return the classpath."""
    if not os.path.isfile(os.path.join(ROOT, "src", "main", "scala", "graft", "RunPipeline.scala")):
        fail("no program sources next to perfbench/ — run from the root of a checkout")
    h = hashlib.sha256()
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main"),
                 os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")):
        paths = [base] if os.path.isfile(base) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(base) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    stamp = h.hexdigest()
    cp_file = os.path.join(HERE, "target", "classpath.txt")
    stamp_file = os.path.join(WORK, "build.stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return open(cp_file).read()
    os.makedirs(WORK, exist_ok=True)
    log("building (sbt compile)")
    # the toolchain's offline repositories, unless the caller configured sbt
    repos = os.path.expanduser(os.path.join("~", ".sbt", "repositories"))
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if os.path.exists(repos):
        env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true -Dsbt.offline=true "
                                   f"-Dsbt.repository.config={repos} -Xmx4g")
    with open(os.path.join(WORK, "build.log"), "w") as out:
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "writeClasspath"],
                           cwd=HERE, stdout=out, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL,
                           env=env)
    if r.returncode != 0:
        fail(f"build failed, see {os.path.join(WORK, 'build.log')}")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return open(cp_file).read()


def inputs(workload, seed):
    """Generated input directory and its properties (cached per workload, seed)."""
    with open(os.path.join(HERE, "gen.py"), "rb") as f:
        version = hashlib.sha256(f.read()).hexdigest()[:12]
    if workload in PIPELINES:
        d = os.path.join(WORK, "inputs", f"{workload}-{seed}-{version}")
        make = lambda: gen.pipeline_inputs(d, workload, seed)  # noqa: E731
    else:
        d = os.path.join(WORK, "inputs", f"mix-sf{MIX_SF}-{version}")
        make = lambda: gen.mix_tables(d, MIX_SF, MIX_SEED)  # noqa: E731
    props = os.path.join(d, "_props.json")
    if not os.path.exists(props):
        shutil.rmtree(d, ignore_errors=True)
        log(f"generating inputs in {os.path.relpath(d, ROOT)}")
        p = make()
        with open(props, "w") as f:
            json.dump(p, f)
    os.utime(props)
    # bound the cache: keep the most recently used sets of this workload
    base, prefix = os.path.dirname(d), os.path.basename(d).split("-")[0] + "-"
    mine = sorted((x for x in os.listdir(base) if x.startswith(prefix)),
                  key=lambda x: os.path.getmtime(os.path.join(base, x, "_props.json"))
                  if os.path.exists(os.path.join(base, x, "_props.json")) else 0)
    for x in mine[:-CACHED_INPUTS]:
        shutil.rmtree(os.path.join(base, x), ignore_errors=True)
    with open(props) as f:
        return d, json.load(f)


def jvm(cp, workload, in_dir, work_dir, seconds, trace, seed):
    shutil.rmtree(work_dir, ignore_errors=True)
    os.makedirs(os.path.join(work_dir, "tmp"))
    result = os.path.join(work_dir, "result.json")
    cmd = ["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        "-Xmx4g", f"-Djava.io.tmpdir={os.path.join(work_dir, 'tmp')}", "-cp", cp,
        "perfbench.Main", workload, in_dir, work_dir, str(seconds), str(trace), str(seed),
        str(os.cpu_count()), result]
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work_dir, "tmp"))
    with open(os.path.join(work_dir, "jvm.log"), "w") as out:
        p = subprocess.Popen(cmd, cwd=work_dir, stdout=out, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, env=env)
        try:
            rc = p.wait(timeout=JVM_TIMEOUT)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            fail(f"{workload}: JVM timed out, see {work_dir}/jvm.log")
    if rc != 0 or not os.path.exists(result):
        fail(f"{workload}: JVM exited {rc}, see {work_dir}/jvm.log")
    with open(result) as f:
        return json.load(f)


def check_outputs(workload, in_dir, res):
    """Failure messages by checked unit: the pipeline run or each query."""
    if workload in PIPELINES:
        fails, counts = check.pipeline(in_dir, res["out_dir"])
        log(f"sinks: {counts}")
        return {"pipeline": "; ".join(fails)} if fails else {}
    return check.queries(in_dir, res["results_dir"], res["oracle"], res["queries"], ROOT)


def summary(name, unit, xs):
    """Median, sample count and the highest percentile with >= 10 samples beyond it."""
    line = f"{name}: median {statistics.median(xs):.4f} {unit} over {len(xs)} samples"
    beyond = [q for q in (50, 75, 90, 95, 99) if len(xs) * (100 - q) / 100 >= 10]
    if beyond:
        q = beyond[-1]
        line += f", p{q} {statistics.quantiles(xs, n=100)[q - 1]:.4f} {unit}"
    else:
        line += " (too few samples for a tail percentile)"
    print(line)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=PIPELINES + ("query_mix",))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(spec_path):
        fail("BENCHMARK.json not found at the checkout root")
    with open(spec_path) as f:
        spec = json.load(f)
    cp = build()
    in_dir, props = inputs(a.workload, a.seed)
    print(f"workload {a.workload} seed {a.seed}: inputs {props['input_mb']} MB, rows {props['rows']}")
    run_dir = os.path.join(WORK, "runs", a.workload)

    if a.trace:
        res = jvm(cp, a.workload, in_dir, os.path.join(run_dir, "traced"), a.seconds, 1, a.seed)
        fails = check_outputs(a.workload, in_dir, res)
        attempted = res["attempted"]
        failed = min(attempted, res["threw"] + len(fails))
        got = res["metrics"]
        metrics = {m["name"]: {"value": float(got.get(m["name"], 0.0)), "unit": m["unit"]}
                   for m in spec["per_layer"]}
        self_s = {}
        for s in res["spans"]:
            self_s[s["layer"]] = self_s.get(s["layer"], 0.0) + s["self_s"]
        print("self time by layer: " + ", ".join(f"{k} {v:.3f} s" for k, v in self_s.items()))
        print(f"tracing overhead: {got['trace.overhead_s']:.3f} s "
              f"(traced {got['trace.traced_run_s']:.3f} s)")
    else:
        # One JVM: set-up, an untimed first execute (pipelines) or pass
        # (query_mix), then warm ones timed for --seconds, at least four.
        res = jvm(cp, a.workload, in_dir, os.path.join(run_dir, "jvm"), a.seconds, 0, a.seed)
        fails = check_outputs(a.workload, in_dir, res)
        attempted = res["attempted"]
        # every execute of a pipeline writes the same sinks and every pass
        # computes the same query results, so a failed check fails all of
        # them (per query for query_mix)
        if a.workload in PIPELINES:
            failed = attempted if fails else res["threw"]
        else:
            failed = min(attempted, res["threw"] + len(fails) * res["passes"])
        if not res["run_s"]:
            fail(f"{a.workload}: no timed sample, an execute threw: {res['errors']}")
        samples = {"setup_s": [res["setup_s"]], "run_s": res["run_s"], "task_s": res["task_s"]}
        metrics = {}
        for m in spec["end_to_end"]:
            xs = samples[m["name"]]
            summary(m["name"], m["unit"], xs)
            metrics[m["name"]] = {"value": statistics.median(xs), "unit": m["unit"]}
        summary("peak_exec_mem_mb (largest task peak; not gated)", "MB", res["peak_exec_mem_mb"])
        if a.workload in PIPELINES:
            print(f"cold execute (untimed, not gated): {res['cold_run_s']:.4f} s")
        print(f"fail_ratio: {failed}/{attempted} = {failed / attempted:.4f}")
    for unit, msg in res["errors"].items():
        log(f"threw: {unit}: {msg[:300]}")
    for unit, msg in fails.items():
        log(f"check failed: {unit}: {msg}")
    print(json.dumps({"correct": not fails and failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
