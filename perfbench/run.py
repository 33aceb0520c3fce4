#!/usr/bin/env python3
"""Runs one workload of graft's benchmark.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1
    python3 perfbench/run.py --selftest

Run from the root of a graft checkout. The first run builds the
benchmark and the engine from the checkout's sources with sbt (again
whenever a source changes) and then runs every workload briefly once, to
record the classes a run loads in a class-data-sharing archive that
later JVMs map instead of loading them again. Every run then starts one
JVM that sets the workload up, runs its closed loop on Spark
`local[nproc]`, and prints a readable report whose last line is the JSON
result. Build output, inputs and logs go under $CARGO_TARGET_DIR
(default `.bench_build`).
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
WORKLOADS = ["cdc_upsert", "analytics_mix"]
BUILD_TIMEOUT_S = 420
TRAIN_TIMEOUT_S = 240
RUN_TIMEOUT_S = 170
HEAP = "3g"

# Spark 4 on JDK 17 needs these outside spark-submit (the engine's own
# build passes the same list to its forked runs).
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
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def out_dir():
    return os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"), "graftbench")


def source_files():
    """Every file the build reads, in a fixed order."""
    singles = ["build.sbt", "project/build.properties",
               "perfbench/build.sbt", "perfbench/project/build.properties"]
    trees = ["src/main", "perfbench/src"]
    files = [p for p in singles if os.path.isfile(os.path.join(ROOT, p))]
    for t in trees:
        for d, _, names in os.walk(os.path.join(ROOT, t)):
            files += [os.path.relpath(os.path.join(d, n), ROOT) for n in names]
    return sorted(files)


def digest():
    h = hashlib.sha256()
    for rel in source_files():
        h.update(rel.encode())
        with open(os.path.join(ROOT, rel), "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def run_bounded(cmd, timeout, **kw):
    """Runs `cmd` in its own process group; kills the group on timeout
    and always waits for it."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        fail(f"{cmd[0]} exceeded {timeout} s")
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise


def sbt_env():
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.isfile(repos):
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true -Dsbt.offline=true "
                           f"-Dsbt.repository.config={repos}")
    return env


def java_cmd(cp, work, *jvm):
    return (["java", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={work}/tmp",
             "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC", *jvm]
            + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
            + ["-cp", cp, "graftbench.Main"])


def fresh_dir(path):
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(os.path.join(path, "tmp"))
    return path


def build(src_digest):
    """The runtime classpath (jars only, as class-data sharing needs),
    building and recording the class archive first unless this source
    tree was already built."""
    out = out_dir()
    stamp, cp_file = os.path.join(out, "stamp"), os.path.join(out, "classpath")
    if os.path.isfile(stamp) and os.path.isfile(cp_file):
        with open(stamp) as f:
            if f.read() == src_digest:
                with open(cp_file) as g:
                    return g.read()
    os.makedirs(out, exist_ok=True)
    for f in (stamp, archive()):
        if os.path.exists(f):
            os.remove(f)
    log = os.path.join(out, "build.log")
    with open(log, "w") as f:
        code = run_bounded(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                            "export Runtime/fullClasspathAsJars"], BUILD_TIMEOUT_S,
                           cwd=HERE, stdout=f, stderr=subprocess.STDOUT, env=sbt_env())
    with open(log) as f:
        lines = f.read().splitlines()
    cps = [l for l in lines if not l.startswith("[") and os.pathsep in l and l.endswith(".jar")]
    if code != 0 or not cps:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail(f"build failed (exit {code}); log in {log}")
    with open(cp_file, "w") as f:
        f.write(cps[-1])
    train(cps[-1])
    with open(stamp, "w") as f:
        f.write(src_digest)
    return cps[-1]


def archive():
    return os.path.join(out_dir(), "classes.jsa")


def train(cp):
    """Runs every workload's set-up and warm-up once and archives the
    classes loaded. Runs need the archive to fit their time budget: it
    saves about 10 s of class loading per run on four cores."""
    work = fresh_dir(os.path.join(out_dir(), "work", "train"))
    tmp = archive() + ".tmp"
    log = os.path.join(out_dir(), "train.log")
    with open(log, "w") as f:
        code = run_bounded(java_cmd(cp, work, f"-XX:ArchiveClassesAtExit={tmp}")
                           + ["--train", "--work", work], TRAIN_TIMEOUT_S,
                           cwd=work, stdout=f, stderr=subprocess.STDOUT)
    if code != 0 or not os.path.isfile(tmp):
        fail(f"class archive not recorded (exit {code}); log in {log}")
    os.replace(tmp, archive())
    shutil.rmtree(work, ignore_errors=True)


def source_id(src_digest):
    head = "none"
    if os.path.isdir(os.path.join(ROOT, ".git")):
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True)
        if r.returncode == 0:
            head = r.stdout.strip()
    return f"git:{head},src-sha256:{src_digest[:16]}"


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawTextHelpFormatter)
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--trace", choices=["0", "1"])
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if not a.selftest and None in (a.workload, a.seed, a.seconds, a.trace):
        ap.error("--workload, --seed, --seconds and --trace are required")
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail(f"{ROOT} is not a graft checkout: no build.sbt or src/main/scala/graft")

    src = digest()
    cp = build(src)
    name = "selftest" if a.selftest else a.workload
    work = fresh_dir(os.path.join(out_dir(), "work", name))
    cmd = java_cmd(cp, work, f"-XX:SharedArchiveFile={archive()}")
    cmd += (["--selftest"] if a.selftest else
            ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
             "--trace", a.trace, "--work", work, "--source", source_id(src)])
    log = os.path.join(out_dir(), f"{name}.log")
    stdout = os.path.join(work, "stdout")
    with open(log, "w") as err, open(stdout, "w") as out:
        code = run_bounded(cmd, RUN_TIMEOUT_S, cwd=work, stdout=out, stderr=err)
    with open(stdout) as f:
        report = f.read()
    if code != 0:
        with open(log) as f:
            sys.stderr.write("".join(f.readlines()[-60:]))
        fail(f"{name} exited with {code}; log in {log}")
    sys.stdout.write(report)
    sys.stdout.flush()


if __name__ == "__main__":
    main()
