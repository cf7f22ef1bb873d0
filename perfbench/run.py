#!/usr/bin/env python3
"""Run one workload of the engine's benchmark and print its result.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run it from the repository root. The first run builds the engine and the
benchmark from source with sbt (about a minute); later runs reuse the
build until a source file changes. The result is the last line of
stdout, one JSON object with the keys correct, attempted, failed and
metrics. Logs go to stderr; inputs, outputs, traces and Spark's scratch
space go to perfbench/work/.
"""
import argparse
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "work")
LAUNCH = os.path.join(HERE, "target", "launch.txt")
STAMP = os.path.join(HERE, "target", "launch.sources")
CORES = 4
HEAP = "3g"
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def sources_digest():
    """Digest of every file the build reads, so an edit forces a rebuild."""
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")):
        for d, _, names in os.walk(top):
            files += [os.path.join(d, n) for n in names]
    h = hashlib.sha256()
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    opts = env.get("SBT_OPTS", "")
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos) and "sbt.repository.config" not in opts:
        opts += (f" -Dsbt.override.build.repos=true -Dsbt.repository.config={repos}"
                 " -Dsbt.offline=true")
    if "-Xmx" not in opts:
        opts += " -Xmx2g"
    # sbt's and the JVM's scratch files stay in the checkout
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opts += f" -XX:-UsePerfData -Djava.io.tmpdir={tmp} -Djna.tmpdir={tmp}"
    env["SBT_OPTS"] = opts.strip()
    env.setdefault("COURSIER_MODE", "offline")
    return env


def build():
    digest = sources_digest()
    if os.path.exists(LAUNCH) and os.path.exists(STAMP):
        with open(STAMP) as fh:
            if fh.read().strip() == digest:
                return
    sbt = shutil.which("sbt")
    if sbt is None:
        sys.exit("perfbench: sbt is not on PATH")
    log("building the engine and the benchmark with sbt")
    proc = subprocess.run(
        [sbt, "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
         "compile", "writeLaunch"],
        cwd=HERE, env=sbt_env(), stdin=subprocess.DEVNULL, stdout=sys.stderr,
        stderr=sys.stderr, timeout=BUILD_TIMEOUT_S)
    if proc.returncode != 0 or not os.path.exists(LAUNCH):
        sys.exit(f"perfbench: build failed (sbt exit {proc.returncode})")
    with open(STAMP, "w") as fh:
        fh.write(digest + "\n")


def java_command(args):
    with open(LAUNCH) as fh:
        lines = [ln.rstrip("\n") for ln in fh if ln.strip()]
    classpath, engine_opts = lines[0], lines[1:]
    # the engine build's heap default is sized for its full suite; the
    # benchmark pins its own
    opts = [o for o in engine_opts if not o.startswith("-Xmx")]
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    java = shutil.which("java") or "java"
    return [java, *opts, f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={tmp}",
            f"-Dspark.sql.warehouse.dir={os.path.join(WORK, 'warehouse')}",
            f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
            "-cp", classpath, "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--work", WORK]


def main():
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), required=True)
    args = p.parse_args()

    engine = os.path.join(ROOT, "src", "main", "scala", "graft")
    if not os.path.isdir(engine) or not os.path.exists(os.path.join(ROOT, "build.sbt")):
        sys.exit("perfbench: the engine sources are missing; run from a full checkout")
    build()

    env = dict(os.environ)
    env["SPARK_GRAFT_CPUS"] = str(CORES)
    # Spark's scratch space (shuffle files, spills) stays in the checkout
    env["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    env.pop("SPARK_GRAFT_MASTER", None)
    proc = subprocess.Popen(java_command(args), cwd=ROOT, env=env,
                            stdin=subprocess.DEVNULL, stdout=subprocess.PIPE,
                            stderr=sys.stderr, text=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        sys.exit(f"perfbench: the run exceeded {RUN_TIMEOUT_S} s")
    lines = [ln for ln in out.splitlines() if ln.strip()]
    if proc.returncode != 0 or not lines or not lines[-1].startswith("{"):
        sys.exit(f"perfbench: the run failed (exit {proc.returncode})")
    print(lines[-1], flush=True)


if __name__ == "__main__":
    main()
