#!/usr/bin/env python3
"""Run one benchmark workload against the engine built from this checkout.

Usage (from the root of the checkout):

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the engine and the benchmark with sbt on first use (the classpath is
cached under .bench_build/, keyed on a hash of every source file), then runs
one JVM with local[N], N = min(4, nproc). Prints the JVM's per-metric lines
and, as the last line, the result object. The full self-describing record is
written to .bench_build/results/. Exits non-zero, without a result line, if
the engine sources are missing, the build fails, or the run fails or
overruns.
"""
import argparse
import hashlib
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ["wins_publish", "registry_stream", "registry_heavy", "registry_light",
             "stream_arrivals"]
RUN_LIMIT_S = 170  # the whole run, build excluded
BUILD_LIMIT_S = 800

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"[perfbench] error: {msg}", file=sys.stderr)
    sys.exit(2)


def source_files():
    """Every file the build reads, in a stable order."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main"),
             os.path.join(HERE, "project")]
    files = [os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, dirs, names in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            files += [os.path.join(d, n) for n in sorted(names)
                      if n.endswith((".scala", ".java", ".properties", ".sbt"))]
    return files


def fingerprint():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def spark_home():
    """SPARK_HOME, or the installation that owns spark-submit on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        fail("no Spark installation found: set SPARK_HOME")
    return home


def commit():
    """The git commit when the checkout is a repository, else 'none'."""
    try:
        p = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, text=True,
                           capture_output=True, timeout=10)
        return p.stdout.strip() if p.returncode == 0 else "none"
    except (OSError, subprocess.TimeoutExpired):
        return "none"


def sbt_env():
    env = dict(os.environ)
    env["SPARK_HOME"] = spark_home()
    env["COURSIER_MODE"] = "offline"
    opts = ("-Dsbt.override.build.repos=true -Dsbt.offline=true -Xmx2g "
            "-Dsbt.server.autostart=false")
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += f" -Dsbt.repository.config={repos}"
    env["SBT_OPTS"] = opts
    return env


def build(fp):
    """Compile engine + benchmark; cache the runtime classpath."""
    stamp = os.path.join(BUILD, "build.stamp")
    cp_file = os.path.join(BUILD, "classpath.txt")
    if os.path.exists(stamp) and os.path.exists(cp_file):
        with open(stamp) as fh:
            if fh.read().strip() == fp:
                with open(cp_file) as fh:
                    return fh.read().strip()
    os.makedirs(BUILD, exist_ok=True)
    log_path = os.path.join(BUILD, "build.log")
    with open(log_path, "w") as log:
        try:
            p = subprocess.run(
                ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                 "export Runtime/fullClasspath"],
                cwd=HERE, env=sbt_env(), stdout=subprocess.PIPE, stderr=log,
                text=True, timeout=BUILD_LIMIT_S, start_new_session=True)
        except subprocess.TimeoutExpired:
            fail(f"build timed out after {BUILD_LIMIT_S}s (see {log_path})")
        log.write(p.stdout)
    if p.returncode != 0:
        fail(f"build failed (see {log_path})")
    lines = [l for l in p.stdout.splitlines()
             if os.pathsep in l and ".jar" in l and not l.startswith("[")]
    if not lines:
        fail(f"build printed no classpath (see {log_path})")
    cp = lines[-1].strip()
    with open(cp_file, "w") as fh:
        fh.write(cp)
    with open(stamp, "w") as fh:
        fh.write(fp)
    return cp


def cores():
    try:
        n = len(os.sched_getaffinity(0))
    except AttributeError:
        n = os.cpu_count() or 1
    return max(1, min(4, n))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail(f"engine sources not found under {os.path.join(ROOT, 'src')}")
    for need in ("data/sf0.01", "expected/registry.tsv"):
        if not os.path.exists(os.path.join(HERE, need)):
            fail(f"benchmark input missing: perfbench/{need}")

    fp = fingerprint()
    cp = build(fp)

    tag = f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}"
    work = os.path.join(BUILD, "runs", tag)
    results = os.path.join(BUILD, "results")
    logs = os.path.join(BUILD, "logs")
    for d in (work, os.path.join(work, "tmp"), results, logs):
        os.makedirs(d, exist_ok=True)
    out = os.path.join(results, f"{tag}.json")
    n = cores()
    cmd = (["java", "-XX:+UseParallelGC", "-Xms3g", "-Xmx3g", "-Xmn768m", "-Xss4m"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + [f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
              f"-Dspark.local.dir={os.path.join(work, 'spark-local')}",
              f"-Dderby.system.home={work}",
              "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
              "-cp", cp, "perfbench.Main",
              "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", str(a.trace),
              "--root", ROOT, "--cores", str(n), "--work", work, "--out", out,
              "--commit", f"{commit()} src-sha256:{fp[:16]}"])
    err_path = os.path.join(logs, f"{tag}.stderr")
    env = dict(os.environ)
    env["SPARK_LOCAL_IP"] = "127.0.0.1"
    env["SPARK_LOCAL_HOSTNAME"] = "localhost"
    with open(err_path, "w") as err:
        proc = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE, stderr=err,
                                text=True, env=env, start_new_session=True)
        try:
            stdout, _ = proc.communicate(timeout=RUN_LIMIT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            shutil.rmtree(work, ignore_errors=True)
            fail(f"run exceeded {RUN_LIMIT_S}s (stderr: {err_path})")
    shutil.rmtree(work, ignore_errors=True)
    lines = stdout.splitlines()
    if proc.returncode != 0 or not lines or not lines[-1].startswith("{"):
        sys.stdout.write("\n".join(lines[-20:]) + "\n")
        fail(f"run failed with exit code {proc.returncode} (stderr: {err_path})")
    for l in lines:
        print(l)
    sys.stdout.flush()


if __name__ == "__main__":
    main()
