#!/usr/bin/env python3
"""Seeded validate/assemble benchmark for the graft engine.

    python3 perfbench/run.py --workload <validate_bulk|assemble>
        --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the repository's
main sources together with the benchmark (sbt, into .bench_build/); later
runs reuse the build while no source changed. Inputs are generated from
--seed and cached per (seed, size) under .bench_build/fixtures. The JVM is
launched at local[4] with a fixed, pre-touched heap; its last stdout line,
one JSON object, is the result. Exits non-zero when any output check fails
or when the checkout holds no program to build.
"""
import argparse
import hashlib
import os
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(BUILD, "sbt", "scala-2.13", "classes")
STAMP = os.path.join(BUILD, "build.stamp")
SPARK_JARS = "/opt/spark/jars"
HEAP = "2g"
JVM_TIMEOUT = 170
OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
         "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
         "java.base/java.nio", "java.base/java.util",
         "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
         "java.base/sun.nio.ch", "java.base/sun.nio.cs",
         "java.base/sun.security.action", "java.base/sun.util.calendar"]


def sources_digest():
    """Digest of every source and build file the benchmark compiles."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(p.encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    digest = sources_digest()
    if os.path.exists(STAMP) and open(STAMP).read() == digest:
        return
    env = dict(os.environ, COURSIER_MODE="offline")
    env.setdefault("SBT_OPTS", " ".join([
        "-Dsbt.override.build.repos=true",
        "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories"),
        "-Dsbt.offline=true", "-Xmx2g"]))
    t0 = time.time()
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                        "-Dsbt.server.autostart=false", "compile"],
                       cwd=HERE, env=env, stdin=subprocess.DEVNULL,
                       stdout=sys.stderr, stderr=sys.stderr, timeout=840)
    if r.returncode != 0:
        sys.exit("perfbench: build failed")
    with open(STAMP, "w") as f:
        f.write(digest)
    print(f"[bench] built in {time.time() - t0:.1f} s", flush=True)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True,
                    choices=["validate_bulk", "assemble"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        sys.exit("perfbench: no program sources (src/main/scala/graft) in this checkout")
    if not os.path.isdir(SPARK_JARS):
        sys.exit("perfbench: Spark jars not found at " + SPARK_JARS)
    build()

    spark_version = next((j[len("spark-core_2.13-"):-len(".jar")] for j in os.listdir(SPARK_JARS)
                          if j.startswith("spark-core_2.13-")), "unknown")
    print(f"[bench] host nproc={os.cpu_count()} load1={os.getloadavg()[0]:.2f} "
          f"heap={HEAP} spark={spark_version} master=local[4]", flush=True)

    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java"] + [x for p in OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")] +
           [f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch",
            "-Djava.io.tmpdir=" + tmp,
            "-cp", CLASSES + os.pathsep + os.path.join(SPARK_JARS, "*"),
            "graftbench.BenchMain",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace), "--dir", BUILD])
    p = subprocess.Popen(cmd, cwd=ROOT, stdin=subprocess.DEVNULL, stdout=subprocess.PIPE,
                         stderr=subprocess.PIPE, text=True)
    try:
        out, err = p.communicate(timeout=JVM_TIMEOUT)
    except subprocess.TimeoutExpired:
        p.kill()
        p.communicate()
        sys.exit(f"perfbench: JVM did not finish within {JVM_TIMEOUT} s")
    lines = out.splitlines()
    if p.returncode != 0 or not lines or not lines[-1].startswith("{"):
        sys.stderr.write(err[-4000:])
    # the JVM's last line is the result; print everything, it stays last
    print("\n".join(lines), flush=True)
    sys.exit(p.returncode if p.returncode != 0 or (lines and lines[-1].startswith("{")) else 1)


if __name__ == "__main__":
    main()
