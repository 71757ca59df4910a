#!/usr/bin/env python3
"""Benchmark of the graft engine: times one workload in one fresh JVM and
checks every result against its DuckDB oracle.

    python3 bench/run.py --workload premarket --seed 1 --seconds 8 --trace 0

The last line of standard output is one JSON object with the keys
`correct`, `attempted`, `failed` and `metrics`: the end-to-end metrics
with `--trace 0`, the per-layer metrics with `--trace 1`. README.md in
this directory describes the workloads and every metric.

The first run in a checkout compiles the library sources under
`src/main/scala` together with the harness in `bench/src` (sbt, offline),
and fills the oracle cache; later runs reuse both. Everything the
benchmark writes stays under `bench/.work`.
"""
import argparse
import ctypes
import fcntl
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import inputs  # noqa: E402
import metrics  # noqa: E402
import oracle  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

DATA = os.path.join(HERE, "data")
WORK = os.path.join(HERE, ".work")
LIBRARY = os.path.join(ROOT, "src", "main", "scala")
JVM_TIMEOUT_S = 150
# A fixed heap, committed at start (-Xms = -Xmx) so that peak_rss_mb does
# not follow the heap's resizing decisions; 2 GiB holds every workload
# here with room to spare.
HEAP = "2g"
BUILD_TIMEOUT_S = 800
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def cpus():
    return int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))


def head_commit():
    try:
        return subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"],
                              capture_output=True, text=True,
                              timeout=10).stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def source_digest():
    h = hashlib.sha256()
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for top in (LIBRARY, os.path.join(HERE, "src")):
        for d, _, names in sorted(os.walk(top)):
            files += [os.path.join(d, n) for n in sorted(names) if n.endswith(".scala")]
    for path in files:
        h.update(os.path.relpath(path, ROOT).encode())
        with open(path, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def die_with_parent():
    """In the child before exec: the kernel kills it if this process dies."""
    ctypes.CDLL(None).prctl(1, signal.SIGKILL)  # PR_SET_PDEATHSIG


def build(digest):
    """The classpath of the compiled library and harness, compiling first
    when the sources changed since the last build in this checkout."""
    out = os.path.join(WORK, "build")
    os.makedirs(out, exist_ok=True)
    with open(os.path.join(out, "lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        stamp, cp_file = os.path.join(out, "stamp"), os.path.join(out, "classpath")
        if os.path.exists(stamp) and open(stamp).read() == digest:
            return open(cp_file).read()
        env = dict(os.environ)
        env.setdefault("COURSIER_MODE", "offline")
        repos = os.path.expanduser("~/.sbt/repositories")
        env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Xmx2g" + (
            f" -Dsbt.override.build.repos=true -Dsbt.repository.config={repos}"
            if os.path.exists(repos) else ""))
        with open(os.path.join(out, "sbt.log"), "w") as log:
            proc = subprocess.run(
                ["sbt", "-batch", "-Dsbt.log.noformat=true", "compile",
                 "export Runtime/fullClasspath"],
                cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=log,
                stdin=subprocess.DEVNULL, text=True, timeout=BUILD_TIMEOUT_S,
                preexec_fn=die_with_parent)
            log.write(proc.stdout)
        lines = [ln for ln in proc.stdout.splitlines() if ln.strip()]
        if proc.returncode != 0 or not lines or ".jar" not in lines[-1]:
            raise RuntimeError(f"build failed, see {log.name}")
        with open(cp_file, "w") as f:
            f.write(lines[-1].strip())
        with open(stamp, "w") as f:
            f.write(digest)
        return lines[-1].strip()


def jvm(cp, work, args):
    """Runs the harness JVM in the scratch dir `work` and returns the record
    it wrote."""
    tmpdir = os.path.join(work, "tmp")
    os.makedirs(tmpdir)
    out = os.path.join(work, "result.json")
    env = dict(os.environ)
    env.pop("SPARK_LOCAL_DIRS", None)
    cmd = ["java"]
    for pkg in ADD_OPENS:
        cmd += ["--add-opens", f"{pkg}=ALL-UNNAMED"]
    cmd += [f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={tmpdir}", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC", "-cp", cp, "graftbench.Run",
            f"cpus={cpus()}", f"work={work}", f"out={out}"] + args
    with open(os.path.join(work, "jvm.log"), "w") as log:
        launched = time.time() * 1e3
        proc = subprocess.Popen(cmd + [f"launched_ms={launched!r}"],
                                stdout=log, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, env=env, cwd=work,
                                preexec_fn=die_with_parent)
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if rc != 0 or not os.path.exists(out):
        with open(log.name) as f:
            tail = f.read()[-2000:]
        raise RuntimeError(f"harness JVM exited with {rc}:\n{tail}")
    with open(out) as f:
        return json.load(f)


def check(record, ops, check_dir, orc):
    """Failures: operations that threw, and results that differ from the
    oracle, as (operation, reason) pairs; and known defects, which are
    reported on every run but do not fail it."""
    failures = [(e["op"], e["error"]) for e in record["errors"]]
    threw = {e["op"] for e in record["errors"] if e["pass"] == 0}
    defects = []
    with open(os.path.join(check_dir, "oracle_sql.json")) as f:
        sqls = json.load(f)
    for op in ops:
        if op in threw:
            continue
        query = op.split(":")[-1]
        result = os.path.join(check_dir, op.replace(":", "_"))
        if query not in sqls:
            failures.append((op, "no oracle"))
            continue
        if op.startswith("csv:"):
            diff, known = orc.check_csv(sqls[query], result)
            if known:
                defects.append((op, known))
        else:
            diff = orc.check_parquet(sqls[query], result)
        if diff:
            failures.append((op, diff))
    return failures, defects


def result_line(record, failures, values):
    return {
        "correct": not failures,
        "attempted": record["attempted"],
        "failed": len(failures),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in values.items()},
    }


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # a terminated run still stops its JVM and removes its scratch dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not os.path.isfile(os.path.join(LIBRARY, "graft", "SparkEntry.scala")):
        sys.exit(f"no library sources under {LIBRARY}: run from a full checkout")
    ops, flagship = WORKLOADS[args.workload]

    digest = source_digest()
    cp = build(digest)
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    try:
        sf = os.path.join(run_dir, "input")
        inputs.permuted_copy(DATA, sf, args.seed)
        work = os.path.join(run_dir, "jvm")
        record = jvm(cp, work, [
            f"sf={sf}", "ops=" + ",".join(ops),
            f"seconds={args.seconds}", f"min_warm={2 + 3 * args.trace}",
            f"trace={args.trace}"])
        orc = oracle.Oracle(DATA, inputs.digest(DATA), os.path.join(WORK, "oracle-cache"))
        failures, defects = check(record, ops, os.path.join(work, "check"), orc)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    if args.trace:
        values = metrics.per_layer(record)
    else:
        values = metrics.end_to_end(record, flagship)
    box = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
           "nproc": os.cpu_count(), "cpus": cpus(), "heap": HEAP,
           "head": head_commit(), "sources": digest[:16],
           "failures": failures, "known_defects": defects,
           "pass_ms": [p["wall_ms"] for p in record["passes"]],
           "query_warm_ms": metrics.per_query_warm_ms(record)}
    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    with open(os.path.join(WORK, "results",
                           f"{args.workload}-seed{args.seed}-trace{args.trace}.json"),
              "w") as f:
        json.dump(dict(box, metrics=values, record=record), f)
    for op, why in failures:
        print(f"# FAILED {op}: {why}")
    for op, why in defects:
        print(f"# KNOWN DEFECT {op}: {why}")
    print("# " + json.dumps({k: box[k] for k in (
        "workload", "seed", "nproc", "cpus", "heap", "head", "sources", "pass_ms")}))
    print(json.dumps(result_line(record, failures, values)))


if __name__ == "__main__":
    main()
