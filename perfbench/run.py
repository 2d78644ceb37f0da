#!/usr/bin/env python3
"""The repository benchmark: one command per workload run.

Usage (from the repository root):

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

It builds the engine and the harness from source (into `.bench_build/`)
whenever their sources differ from the last build in this checkout,
generates the workload's inputs from the sf0.1 fixture with the seed
(once per seed, outside the measured processes),
runs the harness JVMs, checks every pipeline's output against the
recorded goldens, and prints one JSON object as the last line of
stdout. With `--trace 0` it carries the end-to-end metrics; with
`--trace 1` the per-layer metrics of a traced run, whose full report
(span tree, plan census per pipeline) is written under
`.bench_build/traces/`.

The fixture directory is `$SPARK_GRAFT_SF_DIR` when set, else the sf0.1
directory that TESTDATA.md lists.
"""
import argparse
import hashlib
import json
import math
import os
import re
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import inputs  # noqa: E402

BUILD = ".bench_build"
HARNESS = os.path.join("perfbench", "harness")
GOLDENS = os.path.join(HERE, "goldens.json")

JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def log(msg):
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def driver_mem():
    """The tier-1 rule: half the host memory in GiB, clamped to 2..8."""
    try:
        with open("/proc/meminfo") as f:
            kb = int(next(l for l in f if l.startswith("MemTotal:")).split()[1])
        g = kb // 2097152
    except (OSError, StopIteration, ValueError):
        g = 2
    return f"{min(max(g, 2), 8)}g"


def cpus():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def fixture_dir(root):
    env = os.environ.get("SPARK_GRAFT_SF_DIR")
    if env:
        return env
    try:
        with open(os.path.join(root, "TESTDATA.md")) as f:
            for line in f:
                m = re.match(r"\|\s*0\.1\s*\|\s*`([^`]+)`", line)
                if m:
                    return m.group(1).rstrip("/")
    except OSError:
        pass
    fail("no fixture: set SPARK_GRAFT_SF_DIR or list the sf0.1 dir in TESTDATA.md")


def sbt_env(root):
    b = os.path.join(root, BUILD)
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    opts = [
        "-Dsbt.offline=true", "-Dsbt.override.build.repos=true",
        # keep sbt's own state inside the checkout
        f"-Dsbt.global.base={b}/sbt-global", f"-Dsbt.ivy.home={b}/ivy2",
        "-Dsbt.boot.lock=false", f"-Djava.io.tmpdir={b}/tmp", f"-Djna.tmpdir={b}/tmp",
        "-Xmx2g",
    ]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts.append(f"-Dsbt.repository.config={repos}")
    env["SBT_OPTS"] = " ".join(opts)
    # also reaches the JVMs the sbt launcher script starts on its own
    env["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    return env


# Sources the build reads: a change to any of them rebuilds (sbt's
# incremental compile) before the next run.
BUILD_INPUTS = ["build.sbt", "project", os.path.join("src", "main"),
                os.path.join(HARNESS, "build.sbt"), os.path.join(HARNESS, "project"),
                os.path.join(HARNESS, "src", "main")]


def build_files(root):
    """The build input files, as sorted paths relative to `root`."""
    out = []
    for top in BUILD_INPUTS:
        path = os.path.join(root, top)
        if os.path.isfile(path):
            out.append(top)
        for d, dirs, files in os.walk(path):
            # sbt's own output under project/ is not an input
            dirs[:] = [x for x in dirs if x != "target"]
            out += [os.path.relpath(os.path.join(d, f), root) for f in files]
    return sorted(out)


def source_hash(root):
    """SHA-256 over the path and content of every build input file."""
    h = hashlib.sha256()
    for rel in build_files(root):
        h.update(rel.encode() + b"\0")
        with open(os.path.join(root, rel), "rb") as f:
            h.update(f.read())
        h.update(b"\0")
    return h.hexdigest()


def build(root):
    """Compile the engine and the harness when their sources changed
    since the last build in this checkout; returns the runtime classpath
    and the engine build's JVM options."""
    done = os.path.join(root, BUILD, "build.json")
    digest = source_hash(root)
    if os.path.exists(done):
        with open(done) as f:
            b = json.load(f)
        if b.get("sources") == digest:
            return b["classpath"], b["java_options"]
    os.makedirs(os.path.join(root, BUILD, "tmp"), exist_ok=True)
    log("building engine and harness")
    t0 = time.time()
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath", "print javaOptions"],
        cwd=os.path.join(root, HARNESS), env=sbt_env(root),
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
        timeout=BUILD_TIMEOUT_S)
    # output ends with the classpath line, then one "* <option>" line each
    lines = [l.strip() for l in p.stdout.splitlines() if l.strip()]
    opts = []
    while lines and lines[-1].startswith("* "):
        opts.insert(0, lines.pop()[2:])
    if p.returncode != 0 or not lines or lines[-1].startswith("[") or not opts:
        sys.stderr.write(p.stdout[-4000:])
        fail("build failed")
    cp = lines[-1]
    # the heap is set per run (driver_mem), not by the build
    opts = [o for o in opts if not o.startswith("-Xmx")]
    with open(done, "w") as f:
        json.dump({"sources": digest, "classpath": cp, "java_options": opts}, f)
    log(f"built in {time.time() - t0:.0f} s")
    return cp, opts


def jvm(root, build_out, args, tag):
    """Run one harness JVM to completion; returns its parsed report."""
    b = os.path.join(root, BUILD)
    tmp = os.path.join(b, "tmp", f"{tag}-{os.getpid()}")
    os.makedirs(tmp, exist_ok=True)
    out = os.path.join(tmp, "report.json")
    cp, opts = build_out
    cmd = (["java"] + opts +
           [f"-Xmx{driver_mem()}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
            f"-Dspark.local.dir={tmp}", "-cp", cp, "perfbench.Harness"] +
           args + ["--out", out])
    env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_GRAFT_BENCH_")}
    log_path = os.path.join(b, f"{tag}.log")
    with open(log_path, "w") as lf:
        p = subprocess.Popen(cmd, cwd=tmp, env=env, stdout=lf, stderr=subprocess.STDOUT)
        try:
            rc = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            fail(f"{tag} JVM timed out; log in {log_path}")
    if rc != 0 or not os.path.exists(out):
        with open(log_path) as lf:
            sys.stderr.write(lf.read()[-4000:])
        fail(f"{tag} JVM failed (exit {rc})")
    last = os.path.join(b, f"{tag}-report.json")
    os.replace(out, last)
    shutil.rmtree(tmp, ignore_errors=True)
    with open(last) as f:
        return json.load(f)


def load_goldens():
    try:
        with open(GOLDENS) as f:
            return json.load(f)
    except OSError:
        return {}


def check_outputs(workload, check, goldens):
    """Pipelines whose check-pass output differs from the golden."""
    want = goldens.get(workload, {})
    bad = {}
    for name, got in check["pipelines"].items():
        g = want.get(name)
        if not got.get("ok"):
            bad[name] = got.get("error", "failed")
        elif g is None:
            bad[name] = "no golden recorded"
        elif (got["rows"], got["digest"]) != (g["rows"], g["digest"]):
            bad[name] = f"rows/digest {got['rows']}/{got['digest']} != {g['rows']}/{g['digest']}"
    return bad


def end_to_end(main, manifest, bad):
    timed = [p["wall_s"] for p in main["timed"]]
    pass_s = statistics.median(timed)
    later = main["timed"] + main.get("traced", [])
    attempted = len(main["cold"]["pipelines"]) + sum(len(p["pipelines"]) for p in later)
    # the cold pass is the checked pass: its failures are all in `bad`
    failed = len(bad) + sum(1 for p in later for t in p["pipelines"] if not t["ok"])
    recall = main["check"]["recall_at_10"]
    if recall is None or math.isnan(recall):
        # unscored: a workload without top-k rungs returns exact results;
        # rungs that failed found nothing
        recall = 0.0 if main["check"]["recall_scored"] else 1.0
    metrics = {
        "pass_s": pass_s,
        "cold_pass_s": main["cold"]["wall_s"],
        "rows_per_s": manifest["pass_rows"] / pass_s,
        "setup_s": main["setup"]["setup_s"],
        "ok_frac": 1.0 - failed / attempted,
        "recall_at_10": recall,
    }
    return attempted, failed, metrics


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(inputs.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record-goldens", action="store_true",
                    help="store this run's check-pass outputs as the goldens")
    a = ap.parse_args()

    root = os.getcwd()
    for need in ("build.sbt", os.path.join("src", "main", "scala", "graft", "Bench.scala"),
                 os.path.join(HARNESS, "build.sbt")):
        if not os.path.exists(os.path.join(root, need)):
            fail(f"run from the repository root: {need} not found")
    sf = fixture_dir(root)
    if not os.path.isdir(sf):
        fail(f"fixture directory {sf} not found")

    built = build(root)
    manifest = inputs.generate(sf, os.path.join(root, BUILD, "inputs"), a.workload, a.seed)
    base = ["--workload", a.workload, "--sf", manifest["dir"], "--cpus", str(cpus()),
            "--pipelines", ",".join(inputs.WORKLOADS[a.workload]),
            "--staging", ",".join(inputs.STAGING[a.workload])]

    main_report = jvm(root, built,
                      base + ["--seconds", str(a.seconds), "--trace", str(a.trace)], "run")

    goldens = load_goldens()
    if a.record_goldens:
        goldens[a.workload] = {n: {"rows": c["rows"], "digest": c["digest"]}
                               for n, c in main_report["check"]["pipelines"].items() if c["ok"]}
        with open(GOLDENS, "w") as f:
            json.dump(goldens, f, indent=1, sort_keys=True)
            f.write("\n")
    bad = check_outputs(a.workload, main_report["check"], goldens)
    for name, why in bad.items():
        log(f"output check failed: {name}: {why}")
    for p in main_report["timed"] + main_report.get("traced", []):
        for t in p["pipelines"]:
            if not t["ok"]:
                log(f"{p['tag']} {t['name']} threw: {t['error']}")

    attempted, failed, e2e = end_to_end(main_report, manifest, bad)
    if a.trace:
        trace = main_report["trace"]
        traces = os.path.join(root, BUILD, "traces")
        os.makedirs(traces, exist_ok=True)
        path = os.path.join(traces, f"{a.workload}-seed{a.seed}-{int(time.time())}.json")
        with open(path, "w") as f:
            json.dump({"workload": a.workload, "seed": a.seed, "cpus": main_report["cpus"],
                       "heap_max_mb": main_report["heap_max_mb"], "end_to_end": e2e,
                       "output_failures": bad, **trace}, f, indent=1)
        log(f"trace written to {path}")
        # a pipeline of the other workload took no time in this one
        line = result(attempted, failed, trace["metrics"], declared("per_layer"), default=0.0)
    else:
        line = result(attempted, failed, e2e, declared("end_to_end"))
    print(json.dumps(line))


def declared(kind):
    """{name: unit} of the metrics BENCHMARK.json declares under `kind`."""
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[kind]}


def result(attempted, failed, values, units, default=None):
    """The result object printed as the last line of stdout."""
    metrics = {}
    for name, unit in units.items():
        value = values.get(name, default)
        if value is None or math.isnan(value):
            fail(f"metric {name} was not measured")
        metrics[name] = {"value": value, "unit": unit}
    return {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": metrics}


if __name__ == "__main__":
    main()
