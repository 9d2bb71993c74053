#!/usr/bin/env python3
"""graft's benchmark: one command per workload run.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a source checkout. The first run builds the harness
(perfbench/build.sbt compiles graft's sources together with it); later runs
reuse the build while the sources are unchanged. Generated inputs, sinks
and checkpoints live under .perfbench/ in the checkout and are removed
when the run ends. Each run leaves its raw record in .perfbench/out/, and
a traced run its spans. A traced run reports the tracing overhead against
the untraced run of the same workload, seed and sources, when one exists.

The last line of standard output is one JSON object:
{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}.
With --trace 0 the metrics are the end_to_end metrics of BENCHMARK.json,
with --trace 1 its per_layer metrics. The lines before it report every
metric under its workload-specific name with its sample count, and an
environment stamp. A failed output check makes the run exit non-zero.
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
BUILD_DIR = os.path.join(HERE, "target")
STAMP = os.path.join(BUILD_DIR, "graftbench.stamp")
CLASSES = os.path.join(BUILD_DIR, "scala-2.13", "classes")
GRAFT_SRC = os.path.join(ROOT, "src", "main", "scala", "graft")
WORK_ROOT = os.path.join(ROOT, ".perfbench")
HEAP = "2g"

sys.path.insert(0, HERE)
import metrics  # noqa: E402


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_digest():
    """Digest of every source the build compiles, so a changed source
    rebuilds and an unchanged one reuses the build."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def spark_home():
    """SPARK_HOME, or the installation that spark-submit on the PATH is in."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        fail("Spark not found: set SPARK_HOME")
    return home


def build(digest):
    if os.path.exists(STAMP) and open(STAMP).read().strip() == digest:
        return
    env = dict(os.environ, COURSIER_MODE="offline", SPARK_HOME=spark_home())
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true "
                   "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories") +
                   " -Dsbt.offline=true -Xmx2g")
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
           "compile"]
    print("perfbench: building the harness (sbt compile)", file=sys.stderr)
    r = subprocess.run(cmd, cwd=HERE, env=env, stdout=subprocess.PIPE,
                       stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0 or not os.path.isdir(CLASSES):
        sys.stderr.write(r.stdout[-4000:])
        fail("build failed", 3)
    with open(STAMP, "w") as fh:
        fh.write(digest)


def git_head():
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                           text=True, timeout=10)
        if r.returncode == 0:
            return r.stdout.strip()
    except (OSError, subprocess.SubprocessError):
        pass
    return None


def loadavg():
    with open("/proc/loadavg") as fh:
        return [float(x) for x in fh.read().split()[:3]]


def cpu_jiffies():
    """(steal, total) jiffies of all CPUs so far, from /proc/stat."""
    with open("/proc/stat") as fh:
        xs = [int(x) for x in fh.readline().split()[1:]]
    return xs[7] if len(xs) > 7 else 0, sum(xs[:8])


def java_cmd(args, work, spans):
    opens = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio",
             "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]
    cmd = ["java", f"-Xmx{HEAP}", "-Duser.timezone=UTC", "-Dspark.ui.enabled=false",
           f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"]
    for p in opens:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", CLASSES + os.pathsep + os.path.join(spark_home(), "jars", "*"),
            "graftbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--work", work, "--graft-src", GRAFT_SRC, "--spans", spans]
    return cmd


def run_jvm(cmd, timeout):
    """Run the harness JVM in its own process group; on timeout or signal
    the whole group is stopped and waited for."""
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True,
                            start_new_session=True)

    def stop(*_):
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    old = {s: signal.signal(s, lambda *a: (stop(), sys.exit(4)))
           for s in (signal.SIGTERM, signal.SIGINT)}
    try:
        out, _ = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        stop()
        proc.wait()
        fail("harness timed out", 4)
    finally:
        stop()
        for s, h in old.items():
            signal.signal(s, h)
    return proc.returncode, out


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    spec = metrics.load_spec(os.path.join(ROOT, "BENCHMARK.json"))
    if args.workload not in metrics.WORKLOADS:
        fail(f"unknown workload {args.workload}")
    if not os.path.isdir(GRAFT_SRC) or not os.path.isfile(os.path.join(ROOT, "build.sbt")):
        fail("graft sources not found: run from the root of a graft checkout")
    if shutil.which("java") is None or shutil.which("sbt") is None:
        fail("java and sbt are required")

    load_start = loadavg()
    steal0, total0 = cpu_jiffies()
    digest = source_digest()
    build(digest)
    t_start = time.time()  # a run must end within 180 s of its build

    work = os.path.join(WORK_ROOT, f"work-{args.workload}-{args.seed}-{os.getpid()}")
    spans = os.path.join(WORK_ROOT, "out", f"spans-{args.workload}-{args.seed}.jsonl")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    try:
        code, out = run_jvm(java_cmd(args, work, spans), timeout=170 - (time.time() - t_start))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    raw = None
    for line in out.splitlines():
        if line.startswith("@@RAW "):
            raw = json.loads(line[len("@@RAW "):])
    if code != 0 or raw is None:
        fail(f"harness exited with code {code} and no result", 5)
    # the raw record stays, so a traced run can compare itself with the
    # untraced run of the same seed and sources (the tracing overhead)
    raw["source_digest"] = digest
    out_dir = os.path.dirname(spans)
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, f"raw-{args.workload}-{args.seed}-trace{args.trace}.json"),
              "w") as fh:
        json.dump(raw, fh)
    bare = None
    bare_path = os.path.join(out_dir, f"raw-{args.workload}-{args.seed}-trace0.json")
    if args.trace == 1 and os.path.exists(bare_path):
        with open(bare_path) as fh:
            bare = json.load(fh)
        if bare.get("source_digest") != digest:
            bare = None

    steal1, total1 = cpu_jiffies()
    env = {
        "nproc": os.cpu_count(),
        "spark_master": raw["env"]["spark_master"],
        "heap_limit_mb": raw["env"]["heap_limit_mb"],
        "loadavg_start": load_start,
        "loadavg_end": loadavg(),
        # share of CPU time the host withheld from this machine during the run
        "steal_frac": (steal1 - steal0) / max(1, total1 - total0),
        "git_head": git_head(),
        "source_digest": digest[:16],
        "seed": args.seed,
        "workload": args.workload,
        "trace": args.trace,
    }
    result, report = metrics.summarize(spec, raw, args.trace == 1, bare)
    print("env " + json.dumps(env, sort_keys=True))
    for line in report:
        print(line)
    print(json.dumps(result))
    sys.exit(0 if result["correct"] else 1)


if __name__ == "__main__":
    main()
