#!/usr/bin/env python3
"""graft benchmark: one run of one workload.

    python3 perfbench/run.py --workload olap_sf01 --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. The first run builds the engine and
the benchmark (sbt, offline) and generates the sf1 inputs with
graft.tools.GenScale; later runs reuse both while their fingerprints
match. Everything the benchmark writes stays under `.perfbench/`.

The last line of stdout is one JSON object: `correct`, `attempted`,
`failed` and `metrics` (end-to-end metrics with --trace 0, per-layer
metrics with --trace 1). See perfbench/README.md.
"""
import argparse
import contextlib
import glob
import hashlib
import importlib.util
import io
import json
import os
import shutil
import signal
import subprocess
import sys
import time

# tools/compare.py is loaded as a module; write no bytecode cache beside it
sys.dont_write_bytecode = True

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BENCH = os.path.join(ROOT, "perfbench")
WORK = os.path.join(ROOT, ".perfbench")
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
SPARK_HOME = os.environ.get("SPARK_HOME") or os.path.dirname(os.path.dirname(
    os.path.realpath(shutil.which("spark-submit") or "spark-submit")))
SPARK_JARS = os.path.join(SPARK_HOME, "jars")
# the sf0.1 tables, found as graft.Bench finds them
SF01 = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
SF1_FACTOR = "10"
WORKLOADS = ("olap_sf01", "jobs_incremental")
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 600
GEN_TIMEOUT_S = 600
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
JOBS_SRC = os.path.join(BENCH, "src", "main", "scala", "graft", "perfbench", "Jobs.scala")


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def cores():
    return len(os.sched_getaffinity(0))


def run_checked(cmd, timeout, cwd=ROOT, env=None):
    """Run cmd with its stdout sent to our stderr; kill its process
    group on timeout and wait for it to end."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=sys.stderr,
                         start_new_session=True)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise SystemExit(f"{cmd[0]} timed out after {timeout} s")
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise


def digest(paths):
    h = hashlib.sha256()
    for p in sorted(paths):
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def build():
    """Package engine + benchmark into one jar with sbt, unless the
    sources are unchanged. Returns the jar and the source digest."""
    sources = glob.glob(f"{ENGINE_SRC}/**/*.scala", recursive=True)
    sources += glob.glob(f"{BENCH}/src/**/*.scala", recursive=True)
    sources += [os.path.join(BENCH, "build.sbt"),
                os.path.join(BENCH, "project", "build.properties")]
    want = digest(sources)
    jar = os.path.join(BENCH, "target", "scala-2.13", "perfbench_2.13-0.1.0-SNAPSHOT.jar")
    stamp = os.path.join(WORK, "build.stamp")
    if os.path.exists(jar) and os.path.exists(stamp) and open(stamp).read() == want:
        return jar, want
    env = dict(os.environ, COURSIER_MODE="offline", SPARK_HOME=SPARK_HOME)
    repos = os.path.expanduser("~/.sbt/repositories")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log("building engine and benchmark")
    t0 = time.time()
    if run_checked(["sbt", "--batch", "-Dsbt.log.noformat=true", "package"],
                   BUILD_TIMEOUT_S, cwd=BENCH, env=env) != 0 or not os.path.exists(jar):
        raise SystemExit("build failed")
    log(f"built in {time.time() - t0:.1f} s")
    with open(stamp, "w") as f:
        f.write(want)
    return jar, want


def class_sharing(jar, build_digest):
    """JVM flags that map a class-data-sharing archive of this build,
    which cuts JVM and Spark start-up by seconds. The archive is written
    once per build, by a short olap_sf01 run made only for that, so
    every measured run maps the same archive."""
    jsa = os.path.join(WORK, f"classes-{build_digest[:16]}.jsa")
    if not os.path.exists(jsa):
        for old in glob.glob(os.path.join(WORK, "classes-*.jsa")):
            os.remove(old)
        log("writing the class-data-sharing archive")
        run_dir = os.path.join(WORK, "archive-run")
        shutil.rmtree(run_dir, ignore_errors=True)
        os.makedirs(run_dir)
        cmd, env = jvm(jar, "graft.perfbench.Main", [
            "--workload", "olap_sf01", "--seed", "0", "--seconds", "1", "--trace", "0",
            "--data", SF01, "--sf1", "", "--drops", "", "--work", run_dir,
            "--cores", str(cores()), "--out", os.path.join(run_dir, "result.json")],
            flags=[f"-XX:ArchiveClassesAtExit={jsa}"])
        if run_checked(cmd, JVM_TIMEOUT_S, env=env) != 0 or not os.path.exists(jsa):
            raise SystemExit("writing the class-data-sharing archive failed")
    return [f"-XX:SharedArchiveFile={jsa}"]


def jvm(classes, main, args, heap="3g", extra_env=None, flags=()):
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opens = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
             "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs",
             "java.base/sun.security.action", "java.base/sun.util.calendar"]
    # A fixed-size heap under the parallel collector: with G1 and a
    # growing heap, warm timings and peak RSS varied twice as much from
    # run to run on a 4-core host.
    cmd = ["java", *flags, "-XX:+UseParallelGC", f"-Xms{heap}", f"-Xmx{heap}",
           "-Duser.timezone=UTC",
           f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           f"-Dspark.local.dir={os.path.join(WORK, 'spark-local')}",
           f"-Dspark.sql.warehouse.dir={os.path.join(WORK, 'warehouse')}",
           f"-Dspark.hadoop.hadoop.tmp.dir={os.path.join(WORK, 'hadoop-tmp')}",
           f"-Dderby.system.home={os.path.join(WORK, 'derby')}"]
    for p in opens:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", f"{classes}:{SPARK_JARS}/*", main] + args
    env = dict(os.environ, **(extra_env or {}))
    return cmd, env


def fingerprint_dir(d):
    parts = []
    for t in TABLES:
        p = os.path.join(d, f"{t}.parquet")
        if not os.path.exists(p):
            raise SystemExit(f"input table missing: {p}")
        st = os.stat(p)
        parts.append(f"{t}:{st.st_size}:{int(st.st_mtime)}")
    return parts


def ensure_sf1(classes):
    """Generate sf1 from sf0.1 with GenScale, and cut its documents and
    corpus embeddings into the drops of jobs_incremental
    (graft.perfbench.Drops). Reuse both while the source tables, the
    generator and splitter sources and the factor are unchanged.
    Returns the sf1 and drops directories."""
    out = os.path.join(WORK, "data", "sf1")
    drops = os.path.join(WORK, "data", "sf1-drops")
    gen_src = os.path.join(ENGINE_SRC, "graft", "tools", "GenScale.scala")
    want = hashlib.sha256("\n".join(
        fingerprint_dir(SF01) + [SF1_FACTOR, digest([gen_src, JOBS_SRC])]).encode()).hexdigest()
    stamp = os.path.join(WORK, "data", "sf1.fingerprint")
    if os.path.exists(stamp) and open(stamp).read() == want:
        return out, drops
    for d in (out, drops):
        shutil.rmtree(d, ignore_errors=True)
    if os.path.exists(stamp):
        os.remove(stamp)
    for what, main_, args in (("sf1", "graft.tools.GenScale", [SF01, out, SF1_FACTOR]),
                              ("drops", "graft.perfbench.Drops", [out, drops, str(cores())])):
        log(f"generating {what}")
        t0 = time.time()
        cmd, env = jvm(classes, main_, args,
                       extra_env={"SPARK_GRAFT_MASTER": f"local[{cores()}]"})
        if run_checked(cmd, GEN_TIMEOUT_S, env=env) != 0:
            raise SystemExit(f"{what} generation failed")
        log(f"{what} generated in {time.time() - t0:.1f} s")
    with open(stamp, "w") as f:
        f.write(want)
    return out, drops


def compare_outputs(res):
    """Compare each dumped batch output with DuckDB over its oracle SQL
    by running tools/compare.py on the dump directory, as the repo's
    correctness gate does. Returns the keys that fail, with the reason."""
    spec_ = importlib.util.spec_from_file_location("compare", os.path.join(ROOT, "tools", "compare.py"))
    compare = importlib.util.module_from_spec(spec_)
    spec_.loader.exec_module(compare)
    with open(os.path.join(res["check_dir"], "oracle_sql.json")) as f:
        keys = set(json.load(f))
    out = io.StringIO()
    cwd = os.getcwd()
    os.chdir(WORK)  # DuckDB spills, if at all, under the work directory
    try:
        with contextlib.redirect_stdout(out):
            compare.main(res["oracle_data"], res["check_dir"], only=keys)
    finally:
        os.chdir(cwd)
    sys.stderr.write(out.getvalue())
    bad = {}
    for line in out.getvalue().splitlines():
        if line.startswith("FAIL ") and ":" in line:
            key, why = line[5:].split(":", 1)
            if key in keys:
                bad[key] = why.strip()
    return bad


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    b = spec()
    want_metrics = b["per_layer"] if a.trace else b["end_to_end"]

    if not os.path.isdir(ENGINE_SRC):
        raise SystemExit(f"engine sources not found at {ENGINE_SRC}")
    os.makedirs(WORK, exist_ok=True)
    jar, build_digest = build()
    if a.workload == "jobs_incremental":
        sf1, drops = ensure_sf1(jar)
    else:
        sf1, drops = os.path.join(WORK, "data", "sf1"), os.path.join(WORK, "data", "sf1-drops")
    run_dir = os.path.join(WORK, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    out = os.path.join(run_dir, "result.json")
    cmd, env = jvm(jar, "graft.perfbench.Main", [
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", str(a.trace), "--data", SF01, "--sf1", sf1, "--drops", drops, "--work", run_dir,
        "--cores", str(cores()), "--out", out], flags=class_sharing(jar, build_digest))
    if run_checked(cmd, JVM_TIMEOUT_S, env=env) != 0 or not os.path.exists(out):
        raise SystemExit("benchmark JVM failed")
    with open(out) as f:
        res = json.load(f)

    ops = res["ops_by_key"]
    failed = dict(res["failed_by_key"])
    problems = {c["check"]: c["detail"] for c in res["checks"] if not c["ok"]}
    if res["check_dir"]:
        for key, why in compare_outputs(res).items():
            problems[key] = why
            failed[key] = ops.get(key, 0)
    for key, why in sorted(problems.items()):
        log(f"output check failed: {key}: {why}")
    attempted = sum(ops.values())
    n_failed = sum(failed.values())
    values = res["layers"] if a.trace else res["e2e"]
    missing = [m["name"] for m in want_metrics if m["name"] not in values]
    if missing:
        raise SystemExit(f"metrics missing from the run: {missing}")
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in want_metrics}

    notes = res["notes"]
    p90 = notes.get("op_p90_s")
    print(f"workload={a.workload} seed={a.seed} trace={a.trace} "
          f"error_rate={n_failed / max(1, attempted):.4f} ({n_failed}/{attempted} ops) "
          f"op_p90_s={'%.4f s' % p90 if p90 is not None else 'n/a (fewer than 100 ops)'} "
          f"warm_ops={notes.get('warm_ops')} checks_failed={len(problems)}")
    for name, m in metrics.items():
        print(f"  {name} = {m['value']} {m['unit']}")
    print(json.dumps({"correct": not problems and n_failed == 0, "attempted": attempted,
                      "failed": n_failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
