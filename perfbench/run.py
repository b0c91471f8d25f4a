#!/usr/bin/env python3
"""Run one workload of the graft benchmark and print its result.

    python3 perfbench/run.py --workload corpus_dedup --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. The first run builds the engine and the
benchmark from source with sbt (the benchmark's own build in this
directory depends on the engine's build one level up); later runs reuse the
build while the sources are unchanged. The measurement runs in a fresh JVM.
Everything the run writes stays inside the checkout: the build under
`target/` dirs, scratch data under `.bench_work/` (removed after the run),
spans and the last untraced figures under `.bench_out/`.

The last line of standard output is one JSON object with `correct`,
`attempted`, `failed` and `metrics`. The lines before it are diagnostics:
the run record, input sizes, the end-to-end figures and the
workload-specific figures, and in a traced run the engine work per span and
the tracing overhead.
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
import zipfile

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
WORKLOADS = ("corpus_dedup", "table_commits", "image_stream")
BUILD_TIMEOUT_S = 700
RUN_TIMEOUT_S = 170
HEAP = "3g"

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_files():
    """Every file the build reads, in a stable order."""
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(BENCH, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(BENCH, "project", "build.properties")]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src", "main")):
        for d, _, names in sorted(os.walk(top)):
            files += [os.path.join(d, n) for n in sorted(names)]
    return files


def fingerprint():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def run_bounded(cmd, timeout, cwd, env=None, stdout=None):
    """Runs cmd in its own process group; kills the group on timeout and
    waits for it. Returns (exit code, stdout text or None)."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=stdout, stderr=sys.stderr,
                         text=True, start_new_session=True)
    try:
        out, _ = p.communicate(timeout=timeout)
        return p.returncode, out
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return None, None
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise


def jar_dirs(cp):
    """Packs each class directory of the classpath into a jar: class-data
    sharing maps classes from jars only."""
    out = []
    for i, entry in enumerate(cp.split(os.pathsep)):
        if os.path.isdir(entry):
            jar = os.path.join(BENCH, "target", f"classes-{i}.jar")
            with zipfile.ZipFile(jar + ".tmp", "w", zipfile.ZIP_STORED) as z:
                for d, _, names in sorted(os.walk(entry)):
                    for n in sorted(names):
                        f = os.path.join(d, n)
                        z.write(f, os.path.relpath(f, entry))
            os.replace(jar + ".tmp", jar)
            entry = jar
        out.append(entry)
    return os.pathsep.join(out)


def build(stamp):
    cp_file = os.path.join(BENCH, "target", "classpath-jars.txt")
    fp = fingerprint()
    if os.path.exists(cp_file) and os.path.exists(stamp) and open(stamp).read() == fp:
        return open(cp_file).read().strip(), fp
    log("building the engine and the benchmark (sbt)")
    t0 = time.time()
    code, _ = run_bounded(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                          BUILD_TIMEOUT_S, BENCH, stdout=sys.stderr)
    dirs_file = os.path.join(BENCH, "target", "classpath.txt")
    if code != 0 or not os.path.exists(dirs_file):
        log(f"build failed (exit {code})")
        sys.exit(3)
    with open(cp_file, "w") as fh:
        fh.write(jar_dirs(open(dirs_file).read().strip()))
    with open(stamp, "w") as fh:
        fh.write(fp)
    log(f"build took {time.time() - t0:.1f}s")
    return open(cp_file).read().strip(), fp


def main():
    # a terminated run stops the JVM it started (run_bounded's cleanup)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        log("the engine's sources are not here: run from the root of a full checkout")
        sys.exit(2)
    if shutil.which("sbt") is None or shutil.which("java") is None:
        log("sbt and java are required")
        sys.exit(2)

    os.makedirs(os.path.join(BENCH, "target"), exist_ok=True)
    cp, fp = build(os.path.join(BENCH, "target", "build.stamp"))

    work = os.path.join(ROOT, ".bench_work", f"{a.workload}-{a.seed}-{os.getpid()}")
    out_dir = os.path.join(ROOT, ".bench_out")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(out_dir, exist_ok=True)
    cmd = ["java", f"-Xmx{HEAP}", f"-Xms{HEAP}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    # class-data sharing: the first run archives the classes it loaded, and
    # later runs map them instead of loading them again (set-up time only;
    # the window runs after every class it needs is loaded either way). The
    # archive is written under a temporary name and kept only if the run
    # ends well, so a killed run never leaves a torn archive behind.
    cds = os.path.join(BENCH, "target", f"classes-{fp}.jsa")
    cds_new = f"{cds}.{os.getpid()}.tmp"
    cmd += [f"-XX:SharedArchiveFile={cds}" if os.path.exists(cds) else f"-XX:ArchiveClassesAtExit={cds_new}",
            "-Xlog:disable"]
    cmd += [f"-Djava.io.tmpdir={tmp}", "-Djava.awt.headless=true",
            f"-Dlog4j2.configurationFile={os.path.join(BENCH, 'log4j2.properties')}",
            "-Dspark.sql.session.timeZone=UTC", "-Duser.language=en", "-Duser.country=US",
            f"-Dperfbench.source={fp}", "-cp", cp, "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--work", work, "--out", out_dir]
    try:
        code, out = run_bounded(cmd, RUN_TIMEOUT_S, ROOT, stdout=subprocess.PIPE)
        if code == 0 and os.path.exists(cds_new):
            os.replace(cds_new, cds)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        if os.path.exists(cds_new):
            os.remove(cds_new)
    if code is None:
        log(f"the run exceeded {RUN_TIMEOUT_S}s and was stopped")
        sys.exit(4)
    lines = [l for l in (out or "").splitlines() if l.strip()]
    result = None
    if lines:
        try:
            result = json.loads(lines[-1])
        except ValueError:
            result = None
    if code != 0 or not isinstance(result, dict) or set(result) != {"correct", "attempted", "failed", "metrics"}:
        for l in lines[-20:]:
            print(l, file=sys.stderr)
        log(f"the run ended without a result (exit {code})")
        sys.exit(5)
    diag = {}
    for l in lines[:-1]:
        print(l)
        try:
            diag.update(json.loads(l))
        except ValueError:
            pass
    e2e = {k: v["value"] for k, v in diag.get("end_to_end", {}).items()}
    # tracing overhead: traced minus the last untraced run of this workload,
    # of the same seed when there is one
    last = os.path.join(out_dir, f"untraced-{a.workload}-{a.seed}.json")
    any_seed = os.path.join(out_dir, f"untraced-{a.workload}.json")
    if a.trace == 0:
        for f in (last, any_seed):
            with open(f, "w") as fh:
                json.dump({"seed": a.seed, "end_to_end": e2e}, fh)
    else:
        for f in (last, any_seed):
            if os.path.exists(f):
                with open(f) as fh:
                    base = json.load(fh)
                over = {k: e2e[k] - v for k, v in base["end_to_end"].items() if k in e2e}
                print(json.dumps({"trace_overhead": over, "untraced_seed": base["seed"]}))
                break
    print(json.dumps(result), flush=True)


if __name__ == "__main__":
    main()
