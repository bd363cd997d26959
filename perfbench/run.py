#!/usr/bin/env python3
"""The engine's benchmark: one run of one workload.

    python3 perfbench/run.py --cpus nproc --driver-heap SIZE
        --workload scan_shuffle|driver_tails|curation --seed N
        --seconds N --trace 0|1

The engine runs on local[N] with N the CPUs this process may use
(nproc); `--cpus nproc` only records that choice in the command.

Run from the repository root (or any copy of its committed files). The
first run builds the engine and the harness with sbt into perfbench/target;
later runs reuse the build while the sources are unchanged. Inputs are
generated from the seed (perfbench/gen.py), the JVM side
(perfbench.Main) sets up and measures, and this script checks every output
and prints, as its last line, one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end ones of BENCHMARK.json, with
--trace 1 the per-layer ones; the traced run also writes its spans to
.bench_build/perfbench/traces/, and every run keeps the JVM's raw record in
.bench_build/perfbench/raw/. Everything the run writes stays under
.bench_build/ in the checkout. See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
# what the run needs from the rest of the repository
NEEDS = [os.path.join("src", "main", "scala", "graft", "Verify.scala"),
         os.path.join("tools", "make_sf1.py"),
         os.path.join("tools", "compare.py")]
JVM_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]
YOUNG = "512m"
# a run ends within this many seconds of starting, build excluded
RUN_LIMIT_S = 170


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_stamp():
    h = hashlib.sha256()
    trees = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")]
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for t in trees:
        for d, dirs, fs in os.walk(t):
            dirs.sort()
            files += [os.path.join(d, f) for f in sorted(fs)]
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode() + b"\0")
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile with sbt once per source state; returns the classpath."""
    stamp = source_stamp()
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "stamp.txt")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f, open(cp_file) as f2:
            same, cp = f.read() == stamp, f2.read()
        main = os.path.join(cp.split(os.pathsep)[0], "perfbench", "Main.class")
        if same and os.path.exists(main):
            return cp
    log("building engine and harness with sbt")
    t = time.time()
    env = dict(os.environ, COURSIER_MODE="offline",
               SBT_OPTS=(os.environ.get("SBT_OPTS", "") + " -Dsbt.offline=true").strip())
    # own process group: the sbt launcher script forks the JVM that builds
    with subprocess.Popen(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
            text=True, start_new_session=True) as proc:
        try:
            out, err = proc.communicate(timeout=840)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.communicate()
            raise SystemExit("perfbench: sbt build timed out")
    proc.stdout, proc.stderr = out, err
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stdout[-4000:] + proc.stderr[-4000:])
        raise SystemExit("perfbench: sbt build failed")
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    log(f"built in {time.time() - t:.1f} s")
    return cp


def inputs_for(workload, seed):
    """Generated inputs, reused when this seed was generated before."""
    import gen
    out = os.path.join(BUILD, "inputs", f"{workload}-{seed}")
    meta = os.path.join(out, "inputs.json")
    if not os.path.exists(meta):
        shutil.rmtree(out, ignore_errors=True)
        tmp = out + f".tmp{os.getpid()}"
        gen.generate(workload, seed, tmp)
        os.replace(tmp, out)
    with open(meta) as f:
        return out, json.load(f)


def run_jvm(cp, args, work, cpus, heap, deadline):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    # fixed heap and young generation: G1's adaptive sizing otherwise moves
    # peak RSS by a third, and run time with it, from run to run
    cmd = [java, f"-Xms{heap}", f"-Xmx{heap}", f"-Xmn{YOUNG}",
           f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in JVM_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main"] + args
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cpus),
               SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "w") as out:
        proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=out,
                                stderr=subprocess.STDOUT)
        try:
            rc = proc.wait(timeout=max(deadline - time.time() - 15, 1))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            rc = "timeout"
    if rc != 0:
        with open(log_path) as f:
            sys.stderr.write(f.read()[-6000:])
        raise SystemExit(f"perfbench: JVM side failed ({rc})")


def check_outputs(raw, inputs, meta, work, deadline):
    """Per op name: (ok, expected rows, note)."""
    import checks
    vdir = os.path.join(work, "verify")
    cache = os.path.join(BUILD, "verified", meta["digest"])
    os.makedirs(os.path.dirname(cache), exist_ok=True)
    expect = checks.queries(ROOT, vdir, inputs, raw["verify_queries"],
                            cache + ".json", deadline - time.time())
    if raw["manifests"]:
        expect["curation_run"] = checks.curation(
            os.path.join(work, "curation"), vdir, raw["manifests"],
            cache + "-artifacts.json")
    tsv = os.path.join(vdir, "reference_index.tsv")
    if os.path.exists(tsv):
        expect["reference_index"] = checks.reference(os.path.join(inputs, "ref"), tsv)
    for name, (ok, _, note) in expect.items():
        if not ok:
            log(f"check failed: {name}: {note}")
    return expect


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--cpus", choices=["nproc"], required=True,
                    help="local[N] cores: the CPUs this process may use")
    ap.add_argument("--driver-heap", required=True,
                    help="JVM heap, -Xms = -Xmx, e.g. 3g")
    a = ap.parse_args()

    missing = [p for p in NEEDS if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        raise SystemExit(f"perfbench: not in a repository checkout "
                         f"(missing {', '.join(missing)})")
    import gen
    import metrics
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if a.workload not in gen.PLANS:
        raise SystemExit(f"perfbench: unknown workload {a.workload}")
    cpus = len(os.sched_getaffinity(0))

    os.makedirs(BUILD, exist_ok=True)
    cp = build()
    deadline = time.time() + RUN_LIMIT_S
    inputs, meta = inputs_for(a.workload, a.seed)
    run_id = f"{a.workload}-{a.seed}-{os.getpid()}"
    work = os.path.join(BUILD, "work", run_id)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "verify"), exist_ok=True)
    raw_path = os.path.join(work, "raw.json")
    try:
        run_jvm(cp, ["--workload", a.workload, "--inputs", inputs,
                     "--work", work, "--seconds", str(a.seconds),
                     "--trace", str(a.trace), "--out", raw_path],
                work, cpus, a.driver_heap, deadline)
        with open(raw_path) as f:
            raw = json.load(f)
        expect = check_outputs(raw, inputs, meta, work, deadline)
    finally:
        if os.path.exists(raw_path):
            os.makedirs(os.path.join(BUILD, "raw"), exist_ok=True)
            shutil.copyfile(raw_path, os.path.join(BUILD, "raw", f"{run_id}.json"))
        shutil.rmtree(work, ignore_errors=True)

    attempted = failed = 0
    for p in [raw["warm"]] + raw["untraced"] + raw["traced"]:
        for o in p:
            attempted += 1
            ok, rows, note = expect.get(o["name"], (False, None, "unchecked"))
            if o["error"] or not ok or o["rows"] != rows:
                failed += 1
                why = o["error"] or note or f"{o['rows']} rows, expected {rows}"
                log(f"op {o['name']} pass {o['pass']} failed: {why}")
    failed_checks = [n for n, (ok, _, _) in expect.items() if not ok]
    correct = failed == 0 and not failed_checks and raw["cores"] == cpus

    if a.trace:
        values, spans, per_pass, unsteady = metrics.per_layer(raw, run_id)
        wanted = spec["per_layer"]
        trace_dir = os.path.join(BUILD, "traces")
        os.makedirs(trace_dir, exist_ok=True)
        with open(os.path.join(trace_dir, f"{a.workload}-{a.seed}.json"), "w") as f:
            json.dump({"run_id": run_id, "per_pass": per_pass,
                       "not_exactly_repeated": unsteady, "spans": spans}, f)
        if unsteady:
            log("counts not exactly repeated between passes: " + ", ".join(
                f"{k} {sorted({pp[k] for pp in per_pass})}" for k in unsteady))
    else:
        values = metrics.end_to_end(raw, meta["input_rows"])
        wanted = spec["end_to_end"]
    out = {}
    for m in wanted:
        if m["name"] not in values:
            raise SystemExit(f"perfbench: no value for metric {m['name']}")
        out[m["name"]] = {"value": values[m["name"]], "unit": m["unit"]}
        log(f"{a.workload} {m['name']} = {values[m['name']]:.6g} {m['unit']}")
    log(f"{a.workload} failed_frac = {failed / max(attempted, 1):.6g} "
        f"({failed}/{attempted}); checks failed: {failed_checks or 'none'}")
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": failed, "metrics": out}))


if __name__ == "__main__":
    main()
