#!/usr/bin/env python3
"""Run one benchmark workload against the engine built from this checkout.

Usage, from the repository root:

    python3 perfbench/run.py --workload tools|fixpoint \
        --seed N --seconds S --trace 0|1 [--record]

The first run builds the engine and the harness with sbt (perfbench/build.sbt
depends on the engine's build) and caches the runtime classpath under
perfbench/target, keyed by a hash of the sources; later runs start the JVM
directly. The JVM is sized from the host the way the engine's test
launch is: heap from /proc/meminfo, one Spark core per CPU. Everything a run
writes (corpus, Aux tables, Spark scratch, output files) lives under
perfbench/.work/run-<pid> and is removed when the run ends; traced runs keep
their span files in perfbench/.work/traces.

The last line of standard output is one JSON object with the keys
correct, attempted, failed and metrics. --record rewrites the expected
query fingerprints (perfbench/expected/) from this run instead of checking
them; record only from a tree whose oracle check is green.
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
WORK = os.path.join(HERE, ".work")
TARGET = os.path.join(HERE, "target")
DATA = os.path.join(HERE, "data", "sf0.01")
EXPECTED = os.path.join(HERE, "expected", "fingerprints.tsv")
# The engine's build and sources, relative to the repository root.
ENGINE = ["build.sbt", os.path.join("project", "build.properties"),
          os.path.join("src", "main")]
HARNESS = ["build.sbt", os.path.join("project", "build.properties"),
           os.path.join("src", "main")]
RUN_LIMIT_S = 175  # a run must end within 180 s of its start,
BUILD_RUN_LIMIT_S = 880  # or within 900 s when it had to build first

def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    """Hash of every file the build reads, so an edit forces a rebuild."""
    h = hashlib.sha256()
    for base, rels in ((ROOT, ENGINE), (HERE, HARNESS)):
        for rel in rels:
            top = os.path.join(base, rel)
            paths = [top] if os.path.isfile(top) else sorted(
                os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
            for p in paths:
                h.update(os.path.relpath(p, ROOT).encode())
                with open(p, "rb") as f:
                    h.update(f.read())
    return h.hexdigest()


def build():
    """Compile engine + harness once per source state; return the classpath
    and the JVM options the engine's build declares, and whether this call
    built them."""
    cp_file = os.path.join(TARGET, "classpath.txt")
    opts_file = os.path.join(TARGET, "javaopts.txt")
    stamp_file = os.path.join(TARGET, "build.stamp")
    stamp = source_stamp()

    def written():
        with open(cp_file) as c, open(opts_file) as o:
            return c.read().strip(), o.read().splitlines()

    if all(map(os.path.exists, (cp_file, opts_file, stamp_file))):
        with open(stamp_file) as f:
            if f.read() == stamp:
                return written(), False
    if shutil.which("sbt") is None:
        fail("sbt not found on PATH")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx3g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true",
                     f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    print("perfbench: building engine and harness", file=sys.stderr)
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                       cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr,
                       stdin=subprocess.DEVNULL, timeout=850)
    if r.returncode != 0 or not os.path.exists(cp_file) or not os.path.exists(opts_file):
        fail(f"build failed (sbt exit {r.returncode})")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return written(), True


def driver_mem():
    """A quarter of the host's memory, clamped to 2..4 GiB: the bundled
    sf0.01 tables need little, and every GiB of the pre-touched heap costs
    set-up time and memory that the host shares."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        return f"{min(4, max(2, kb // 4194304))}g"
    except (OSError, StopIteration, ValueError):
        return "2g"


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["tools", "fixpoint"])
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=["0", "1"])
    ap.add_argument("--record", action="store_true")
    a = ap.parse_args()
    started = time.monotonic()

    missing = [p for p in ENGINE if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        fail(f"engine sources not found next to perfbench/: {', '.join(missing)}")
    (cp, java_opts), built = build()
    limit = BUILD_RUN_LIMIT_S if built else RUN_LIMIT_S

    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(len(os.sched_getaffinity(0)))
    env = dict(os.environ, SPARK_GRAFT_CPUS=cpus,
               SPARK_LOCAL_DIRS=os.path.join(run_dir, "spark-local"))
    # A fixed-size, pre-touched heap, as the engine's timed runs use: heap
    # commit faults then fall in set-up, not in a timed call.
    heap = driver_mem()
    cmd = (["java"] + java_opts +
           [f"-Xms{heap}", f"-Xmx{heap}", "-XX:+AlwaysPreTouch", f"-Djava.io.tmpdir={tmp}",
            f"-Dgraft.aux.root={os.path.join(run_dir, 'aux')}",
            f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
            "-cp", cp, "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", a.trace, "--work", run_dir, "--data", DATA, "--expected", EXPECTED] +
           (["--record"] if a.record else []))
    proc = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=subprocess.PIPE,
                            stdin=subprocess.DEVNULL, text=True, start_new_session=True)
    try:
        budget = max(30.0, limit - (time.monotonic() - started))
        out, _ = proc.communicate(timeout=budget)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        fail(f"run exceeded {limit} s")
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        shutil.rmtree(run_dir, ignore_errors=True)

    lines = out.rstrip("\n").split("\n")
    if proc.returncode != 0:
        sys.stdout.write(out)
        fail(f"harness exited with {proc.returncode}")
    try:
        result = json.loads(lines[-1])
    except (ValueError, IndexError):
        sys.stdout.write(out)
        fail("harness printed no result line")
    if sorted(result) != ["attempted", "correct", "failed", "metrics"]:
        fail(f"malformed result keys: {sorted(result)}")
    for line in lines[:-1]:
        print(line)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
