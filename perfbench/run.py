#!/usr/bin/env python3
"""graft benchmark: one run of one workload.

    python3 perfbench/run.py --workload catalog|corpus --seed N \
        --seconds S --trace 0|1

Run from the root of a source checkout. The first run builds the engine
and the harness from source with sbt (offline); later runs reuse the
build while the sources are unchanged. Inputs are generated from the
seed and cached; every run then gets a fresh JVM with a fixed heap, a
fresh artifact directory and fresh Spark local directories, runs set-up
and timed passes (see Harness.scala; --seconds buys a fixed number of
whole passes, sized for a 4-core host), checks every output for
correctness, writes a result file under .bench_build/results/ and
prints one JSON line as the last line of standard output: the
end-to-end metrics with --trace 0, the per-layer metrics with --trace 1.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
sys.path.insert(0, HERE)

import gen  # noqa: E402

DEADLINE_S = 170          # the whole run, build excluded
HEAP = "2g"
# Nominal pass length on a 4-core host: --seconds buys this many whole
# timed passes. The count, not a deadline, ends the measurement, so every
# run stops at the same point of the JIT's warm-up curve.
PASS_S = {"catalog": 2.0, "corpus": 3.5}
WORKLOADS = {
    "catalog": lambda d, seed: gen.tables(d, seed, 0.01, 500, 500),
    "corpus": lambda d, seed: (gen.corpus(d, seed, 0.01, 500, 500),
                               gen.text(os.path.join(d, "input"), seed)),
}
JDK_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg):
    log(msg)
    sys.exit(2)


def run_group(cmd, timeout, **kw):
    """Run cmd in its own process group; on return, nothing it started is
    left running. Returns (exit code or None on timeout, stdout text)."""
    p = subprocess.Popen(cmd, start_new_session=True, text=True, **kw)
    try:
        out, _ = p.communicate(timeout=timeout)
        rc = p.returncode
    except subprocess.TimeoutExpired:
        out, rc = "", None
    finally:
        try:
            os.killpg(p.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        p.wait()
    return rc, out or ""


def source_hash():
    """Hash of everything the build reads, so an edited source rebuilds."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(ROOT, "project"), os.path.join(HERE, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        for dirpath, dirnames, filenames in os.walk(r):
            dirnames[:] = sorted(d for d in dirnames if d not in ("target", "project"))
            files += [os.path.join(dirpath, f) for f in filenames
                      if f.endswith((".scala", ".java", ".sbt", ".properties"))]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def build(stamp):
    """Compile engine + harness; returns the runtime classpath."""
    cp_file = os.path.join(BUILD, f"classpath-{stamp}.txt")
    if os.path.exists(cp_file):
        with open(cp_file) as f:
            return f.read().strip()
    log("building engine and harness with sbt")
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    t0 = time.time()
    with open(os.path.join(BUILD, "build.log"), "w") as logf:
        rc, out = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                             "export Runtime/fullClasspath"],
                            840, cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=logf)
        logf.write(out)
    cp = [line.strip() for line in out.splitlines()
          if "perfbench" in line and line.count(os.pathsep) > 3 and " " not in line.strip()]
    if rc != 0 or not cp:
        fail(f"build failed ({'timed out' if rc is None else f'exit {rc}'}); "
             "see .bench_build/build.log")
    log(f"built in {time.time() - t0:.0f} s")
    for old in os.listdir(BUILD):
        if old.startswith("classpath-"):
            os.remove(os.path.join(BUILD, old))
    with open(cp_file + ".tmp", "w") as f:
        f.write(cp[-1])
    os.replace(cp_file + ".tmp", cp_file)
    return cp[-1]


def inputs(workload, seed):
    """The workload's input directory for this seed, generated once and
    kept (keyed by the generator's own source, so an edited generator
    never serves stale inputs)."""
    with open(os.path.join(HERE, "gen.py"), "rb") as f:
        gen_hash = hashlib.sha256(f.read()).hexdigest()[:8]
    d = os.path.join(BUILD, "data", f"{workload}-{seed}-{gen_hash}")
    if not os.path.exists(os.path.join(d, ".done")):
        shutil.rmtree(d, ignore_errors=True)
        WORKLOADS[workload](d, seed)
        open(os.path.join(d, ".done"), "w").close()
    return d


def run_jvm(cp, workload, data, work, seed, passes, trace, timeout):
    for sub in ("artifacts", "local", "tmp", "warehouse"):
        os.makedirs(os.path.join(work, sub))
    env = {k: v for k, v in os.environ.items()
           if not k.startswith(("SPARK_GRAFT_", "SPARK_CONF", "SPARK_LOCAL"))}
    env["SPARK_GRAFT_ARTIFACT_DIR"] = os.path.join(work, "artifacts")
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    cmd = ["java"]
    for p in JDK_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += [f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch", "-XX:+UseG1GC",
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", cp, "graft.perfbench.Harness",
            "--workload", workload, "--data", data, "--work", work,
            "--seed", str(seed), "--passes", str(passes),
            "--trace", str(trace),
            "--out", os.path.join(work, "result.json")]
    with open(os.path.join(work, "jvm.log"), "w") as logf:
        rc, _ = run_group(cmd, timeout, cwd=work, env=env, stdout=logf, stderr=logf)
    if rc != 0:
        fail(f"harness {'timed out' if rc is None else f'exited {rc}'}; "
             f"see {os.path.relpath(os.path.join(work, 'jvm.log'), ROOT)}")
    with open(os.path.join(work, "result.json")) as f:
        return json.load(f)


def commit():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, text=True,
                              capture_output=True, timeout=10).stdout.strip() or None
    except OSError:
        return None


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    # a terminated run still stops the JVM or sbt it started (run_group)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    for need in ("build.sbt", os.path.join("src", "main", "scala", "graft"),
                 os.path.join("tools", "compare.py")):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"engine source missing ({need}): run from a full source checkout")
    import verify  # reads tools/compare.py, checked above
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
        spec = json.load(f)
    os.makedirs(BUILD, exist_ok=True)
    stamp = source_hash()
    cp = build(stamp)
    t0 = time.time()
    data = inputs(a.workload, a.seed)
    t_inputs = time.time()
    # one run at a time: whatever is under runs/ is left from a killed run
    shutil.rmtree(os.path.join(BUILD, "runs"), ignore_errors=True)
    work = os.path.join(BUILD, "runs", f"{a.workload}-{a.seed}")
    passes = max(2, round(a.seconds / PASS_S[a.workload]))
    res = run_jvm(cp, a.workload, data, work, a.seed, passes, a.trace,
                  DEADLINE_S - 25 - (time.time() - t0))
    t_jvm = time.time()

    # correctness: every mismatch fails each execution of that operation
    v = res["verify"]
    oracle_cache = os.path.join(data, "oracle.json")
    bad = verify.check_queries(data, v, oracle_cache)
    if v["jobs"]:
        bad.update(verify.check_jobs(os.path.join(data, "input"), v))
    for name, why in sorted(bad.items()):
        log(f"WRONG {name}: {why}")
    log(f"inputs {t_inputs - t0:.1f} s, jvm {t_jvm - t_inputs:.1f} s, "
        f"verify {time.time() - t_jvm:.1f} s")
    failed = res["failed"] + sum(o["runs"] - o["errors"] for o in res["ops"]
                                 if o["name"] in bad)
    attempted = res["attempted"]
    layers = res["layers"]
    layers["error_rate"] = failed / attempted
    layers["heap_peak_mb"] = res["e2e"]["heap_peak_mb"]
    for job in ("wordcount", "grep", "pipe"):
        layers[f"mr.{job}.output_mb"] = verify.output_mb(v["jobs"].get(job, ""))

    key, values = (("per_layer", layers) if a.trace else ("end_to_end", res["e2e"]))
    metrics = {}
    for m in spec[key]:
        v = values.get(m["name"])
        if not isinstance(v, (int, float)) or not math.isfinite(v):
            fail(f"metric {m['name']} was not measured")
        metrics[m["name"]] = {"value": values[m["name"]], "unit": m["unit"]}

    res.update(commit=commit(), source=stamp, seconds=a.seconds, wrong=bad,
               attempted=attempted, failed=failed)
    stamp_t = time.strftime("%Y%m%dT%H%M%S")
    out = os.path.join(BUILD, "results", f"{a.workload}-s{a.seed}-t{a.trace}-{stamp_t}.json")
    os.makedirs(os.path.dirname(out), exist_ok=True)
    with open(out, "w") as f:
        json.dump(res, f, indent=1)
    if a.trace:
        traces = os.path.join(BUILD, "traces")
        os.makedirs(traces, exist_ok=True)
        shutil.move(os.path.join(work, "trace.json"),
                    os.path.join(traces, os.path.basename(out)))
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
