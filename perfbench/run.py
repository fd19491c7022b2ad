#!/usr/bin/env python3
"""Run the repository benchmark.

    python3 perfbench/run.py --workload <name|all> --seed <n> --seconds <n> --trace <0|1>
                             [--scale tiny] [--inject-failure]

Run it from the root of a checkout. The first run builds the engine and the
benchmark with sbt (perfbench/build.sbt) and caches the classpath in
.bench_build/; later runs reuse it while the sources are unchanged. Inputs,
indexes and span files live in .bench_work/. The last line of standard output
is the JSON result; the exit code is nonzero if any operation failed, any
correctness check did not hold, or the checkout holds no engine sources.
"""
import argparse
import hashlib
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
WORK = os.path.join(ROOT, ".bench_work")
RUN_LIMIT_S = 170

ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def fail(msg, code=3):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_files():
    """Every file the build reads: engine sources and both build definitions."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    return sorted(files)


def classpath():
    """Builds with sbt when the sources changed since the last build."""
    engine = os.path.join(ROOT, "src", "main", "scala")
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt")) and os.path.isdir(engine)):
        fail("no engine sources here (build.sbt and src/main/scala); run from a repository checkout")
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    stamp = h.hexdigest()
    stamp_file, cp_file = os.path.join(BUILD, "stamp"), os.path.join(BUILD, "classpath")
    if os.path.isfile(stamp_file) and os.path.isfile(cp_file):
        with open(stamp_file) as fh:
            if fh.read().strip() == stamp:
                with open(cp_file) as fh:
                    return fh.read().strip()
    t0 = time.time()
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
        cwd=HERE, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if p.returncode != 0:
        sys.stderr.write(p.stdout[-8000:])
        fail("build failed")
    cp = p.stdout.strip().splitlines()[-1].strip()
    os.makedirs(BUILD, exist_ok=True)
    with open(cp_file, "w") as fh:
        fh.write(cp)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    print(f"perfbench: built in {time.time() - t0:.0f} s", file=sys.stderr)
    return cp


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=["0", "1"])
    ap.add_argument("--scale", default="bench", choices=["bench", "tiny"])
    ap.add_argument("--inject-failure", action="store_true")
    a = ap.parse_args()

    cp = classpath()
    shutil.rmtree(WORK, ignore_errors=True)
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp)
    # temporary files (native libraries unpacked by compression codecs) stay in the checkout
    cmd = ["java", "-Xmx3g", "-XX:-UsePerfData", "-Djava.io.tmpdir=" + tmp, "-Dspark.ui.enabled=false",
           "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties")]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", a.trace, "--work", WORK, "--scale", a.scale]
    if a.inject_failure:
        cmd.append("--inject-failure")
    limit = RUN_LIMIT_S * (4 if a.workload == "all" else 1)
    proc = subprocess.Popen(cmd, cwd=ROOT)
    try:
        code = proc.wait(timeout=limit)
    except subprocess.TimeoutExpired:
        fail(f"run exceeded {limit} s", code=4)
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
        # keep span files of traced runs; drop inputs and indexes
        if os.path.isdir(WORK):
            for n in os.listdir(WORK):
                if not n.startswith("spans-"):
                    shutil.rmtree(os.path.join(WORK, n), ignore_errors=True)
    sys.exit(code)


if __name__ == "__main__":
    main()
