#!/usr/bin/env python3
"""Build and run the perfbench benchmark.

Run from the repository root:

    python3 perfbench/run.py --workload geo --seed 1 --seconds 5 --trace 0

The first run in a checkout builds the engine and the benchmark from
source with sbt (offline), packs the class directories into jars, and
records a JVM class-data-sharing archive from one short training run, so
that each later JVM starts Spark in seconds instead of tens of seconds.
Later runs reuse all of it while the sources are unchanged. Each run then
starts one JVM, which writes its full report to perfbench/results/ and
prints a metric table, one verdict line per op, and, as the last line of
standard output, the summary JSON object.
"""
import argparse
import hashlib
import json
import os
import signal
import subprocess
import sys
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TARGET = os.path.join(HERE, "target")
STAMP = os.path.join(TARGET, "perfbench-build.json")
CDS_DIR = os.path.join(TARGET, "cds")
ARCHIVE = os.path.join(CDS_DIR, "perfbench.jsa")
WORKLOADS = ("geo", "corpus_ingest")
BUILD_TIMEOUT_S = 850
RUN_TIMEOUT_S = 170
HEAP = "3g"

# Spark 4.x on JDK 17 needs these outside spark-submit (same list as the
# root build's javaOptions).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print("[perfbench] " + msg, file=sys.stderr, flush=True)


def source_files():
    """Every file the build reads: both build definitions, all main sources,
    and this script, which drives the build."""
    files = [os.path.abspath(__file__)]
    for base in (ROOT, HERE):
        for name in ("build.sbt", os.path.join("project", "build.properties")):
            path = os.path.join(base, name)
            if os.path.isfile(path):
                files.append(path)
        src = os.path.join(base, "src", "main")
        for dirpath, dirnames, filenames in os.walk(src):
            dirnames.sort()
            files.extend(os.path.join(dirpath, f) for f in sorted(filenames))
    return files


def digest():
    h = hashlib.sha256()
    for path in source_files():
        h.update(os.path.relpath(path, ROOT).encode())
        with open(path, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if not env.get("SBT_OPTS"):
        opts = ["-Dsbt.offline=true", "-Xmx3g"]
        repos = os.path.expanduser(os.path.join("~", ".sbt", "repositories"))
        if os.path.isfile(repos):
            opts += ["-Dsbt.override.build.repos=true", "-Dsbt.repository.config=" + repos]
        env["SBT_OPTS"] = " ".join(opts)
    return env


def run_bounded(cmd, cwd, timeout, env=None):
    """Runs cmd in its own process group, capturing its standard output;
    kills the group on timeout."""
    proc = subprocess.Popen(cmd, cwd=cwd, env=env, start_new_session=True,
                            stdout=subprocess.PIPE, text=True)
    try:
        out, _ = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.communicate()
        raise RuntimeError("%s timed out after %d s" % (cmd[0], timeout))
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
    return proc.returncode, out


def jar_dirs(classpath):
    """Replaces class directories by jars: the class-data-sharing archive
    accepts only jars on the classpath."""
    os.makedirs(CDS_DIR, exist_ok=True)
    out = []
    for i, entry in enumerate(classpath.split(os.pathsep)):
        if os.path.isdir(entry):
            jar = os.path.join(CDS_DIR, "%d-%s.jar" % (i, os.path.basename(entry)))
            with zipfile.ZipFile(jar, "w", zipfile.ZIP_STORED) as z:
                for dirpath, dirnames, filenames in os.walk(entry):
                    dirnames.sort()
                    for name in sorted(filenames):
                        path = os.path.join(dirpath, name)
                        z.write(path, os.path.relpath(path, entry))
            entry = jar
        out.append(entry)
    return os.pathsep.join(out)


def build(want):
    """Compiles engine and benchmark and records the class-data-sharing
    archive; returns the runtime classpath."""
    if os.path.isfile(STAMP):
        with open(STAMP) as f:
            stamp = json.load(f)
        if stamp.get("digest") == want:
            return stamp["classpath"]
    log("building engine and benchmark with sbt")
    code, out = run_bounded(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export perfbench/Runtime/fullClasspath"],
        HERE, BUILD_TIMEOUT_S, env=sbt_env())
    lines = [l.strip() for l in out.splitlines()]
    sys.stderr.write(out[-4000:])
    cps = [l for l in lines if ".jar" in l and os.pathsep in l and not l.startswith("[")]
    if code != 0 or not cps:
        raise RuntimeError("sbt build failed (exit %d)" % code)
    subprocess.run(["rm", "-rf", CDS_DIR])
    classpath = jar_dirs(cps[-1])
    log("recording the class-data-sharing archive")
    code, _ = run_bounded(
        java_cmd(classpath, "-XX:ArchiveClassesAtExit=" + ARCHIVE, "geo", 0, 1, 1,
                 os.path.join(CDS_DIR, "training.json"), os.path.join(HERE, "work", "training"),
                 "training"),
        ROOT, RUN_TIMEOUT_S)
    subprocess.run(["rm", "-rf", os.path.join(HERE, "work", "training")])
    if code != 0 or not os.path.isfile(ARCHIVE):
        raise RuntimeError("training run failed (exit %d)" % code)
    with open(STAMP, "w") as f:
        json.dump({"digest": want, "classpath": classpath}, f)
    return classpath


def java_cmd(classpath, share, workload, seed, seconds, trace, out_file, work, commit):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # unified JVM logging is off: class-data-sharing notices would go to stdout
    cmd = [java, share, "-Xlog:disable", "-Xmx" + HEAP, "-Djava.io.tmpdir=" + tmp]
    for p in ADD_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    return cmd + ["-cp", classpath, "perfbench.Main",
                  "--workload", workload, "--seed", str(seed),
                  "--seconds", str(seconds), "--trace", str(trace),
                  "--out", out_file, "--work", os.path.join(work, "run"),
                  "--commit", commit]


def commit_id(src_digest):
    try:
        code, out = run_bounded(["git", "rev-parse", "HEAD"], ROOT, 30)
        if code == 0 and out.strip():
            return out.strip()
    except (OSError, RuntimeError):
        pass
    return "src-" + src_digest[:16]


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        log("engine sources not found next to the benchmark; nothing to build")
        return 2
    want = digest()
    classpath = build(want)

    tag = "%s-seed%d-trace%d" % (args.workload, args.seed, args.trace)
    out_file = os.path.join(HERE, "results", tag + ".json")
    work = os.path.join(HERE, "work", args.workload)
    os.makedirs(os.path.dirname(out_file), exist_ok=True)
    if os.path.exists(out_file):
        os.remove(out_file)
    cmd = java_cmd(classpath, "-XX:SharedArchiveFile=" + ARCHIVE, args.workload, args.seed,
                   args.seconds, args.trace, out_file, work, commit_id(want))
    try:
        code, out = run_bounded(cmd, ROOT, RUN_TIMEOUT_S)
    finally:
        subprocess.run(["rm", "-rf", work])
    lines = out.rstrip("\n").splitlines()
    if code != 0 or not lines:
        sys.stderr.write(out)
        log("benchmark JVM exited with %d" % code)
        return code or 1
    result = json.loads(lines[-1])
    for line in lines[:-1]:
        print(line)
    print(json.dumps(result, separators=(",", ":")))
    return 0


if __name__ == "__main__":
    try:
        sys.exit(main())
    except RuntimeError as e:
        log(str(e))
        sys.exit(1)
