#!/usr/bin/env python3
"""Benchmark for the graft north-star pipeline.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --selftest

The first run in a checkout builds the engine sources (src/main/scala) and
the harness (perfbench/src) with perfbench/build.sbt; later runs reuse the
build while the sources are unchanged. The run itself is one JVM: it
generates seeded inputs, sets up, measures for --seconds, checks every op's
output and prints one JSON object as the last line of stdout.

--selftest runs all three workloads at smoke scale with every check on,
traced smoke runs of each, and a tamper run that must report a failed op.
"""

import argparse
import hashlib
import json
import os
import pathlib
import subprocess
import sys

HERE = pathlib.Path(__file__).resolve().parent
ROOT = HERE.parent
ENGINE = ROOT / "src" / "main" / "scala"
BUILD = HERE / "target"
CLASSPATH = BUILD / "perfbench-classpath.txt"
STAMP = BUILD / "perfbench-stamp.txt"
WORK = HERE / "work"
WORKLOADS = ("enrich_commit", "spatial_queries", "curate_commit")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840

JVM_OPTS = [
    "-Xmx3g",
    "-XX:ReservedCodeCacheSize=512m",
    f"-Djava.io.tmpdir={WORK / 'tmp'}",
] + [arg for pkg in (
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar") for arg in ("--add-opens", f"{pkg}=ALL-UNNAMED")]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources_digest():
    h = hashlib.sha256()
    files = sorted(ENGINE.rglob("*.scala")) + sorted((HERE / "src").rglob("*.scala"))
    files += [HERE / "build.sbt", HERE / "project" / "build.properties"]
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def spark_home():
    """The Spark distribution whose `spark-submit` is first on PATH next to a `jars` dir."""
    for d in os.environ.get("PATH", "").split(os.pathsep):
        home = pathlib.Path(d).resolve().parent
        if (pathlib.Path(d) / "spark-submit").is_file() and any(home.glob("jars/spark-core_*.jar")):
            return home
    fail("set SPARK_HOME to a Spark 4 distribution")


def build():
    digest = sources_digest()
    if STAMP.is_file() and CLASSPATH.is_file() and STAMP.read_text() == digest:
        return CLASSPATH.read_text().strip()
    env = dict(os.environ, COURSIER_MODE="offline")
    if "SPARK_HOME" not in env:
        env["SPARK_HOME"] = str(spark_home())
    repos = pathlib.Path.home() / ".sbt" / "repositories"
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    if repos.is_file():
        opts = ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"] + opts
    env.setdefault("SBT_OPTS", " ".join(opts))
    proc = subprocess.run(
        ["sbt", "-batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
        timeout=BUILD_TIMEOUT_S)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines or "classes" not in lines[-1]:
        sys.stderr.write(proc.stdout[-4000:])
        fail("build failed")
    BUILD.mkdir(parents=True, exist_ok=True)
    CLASSPATH.write_text(lines[-1].strip())
    STAMP.write_text(digest)
    return lines[-1].strip()


def run(classpath, args):
    """Run the harness; returns (exit code, stdout lines)."""
    (WORK / "tmp").mkdir(parents=True, exist_ok=True)
    cmd = ["java"] + JVM_OPTS + ["-cp", classpath, "graft.perfbench.Main",
                                 "--work", str(WORK)] + args
    try:
        proc = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True,
                              timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail(f"run exceeded {RUN_TIMEOUT_S} s")
    return proc.returncode, proc.stdout.splitlines()


def result_of(lines):
    try:
        res = json.loads(lines[-1])
    except (IndexError, ValueError):
        return None
    return res if set(res) == {"correct", "attempted", "failed", "metrics"} else None


def selftest(classpath):
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    e2e = {m["name"] for m in spec["end_to_end"]}
    layers = {m["name"] for m in spec["per_layer"]}
    problems = []

    def smoke(workload, trace, extra=()):
        code, lines = run(classpath, ["--workload", workload, "--seed", "7", "--seconds", "1",
                                      "--trace", trace, "--scale", "smoke", *extra])
        print("\n".join(line for line in lines if line.startswith("[perfbench]")))
        res = result_of(lines)
        if code != 0 or res is None:
            problems.append(f"{workload} trace={trace}: exit {code}, no result line")
        return res

    for w in WORKLOADS:
        res = smoke(w, "0")
        if res and not (res["correct"] and res["failed"] == 0 and set(res["metrics"]) == e2e):
            problems.append(f"{w}: correct={res['correct']} failed={res['failed']} "
                            f"metrics={sorted(res['metrics'])}")
    for w in WORKLOADS:
        res = smoke(w, "1")
        if res and not (res["correct"] and set(res["metrics"]) == layers):
            problems.append(f"{w} traced: correct={res['correct']} "
                            f"missing={sorted(layers - set(res['metrics']))}")
    res = smoke("enrich_commit", "0", ["--tamper", "1"])
    if res and (res["correct"] or res["failed"] < 1):
        problems.append("tamper: a dropped committed row was not counted as a failed op")
    for p in problems:
        print(f"selftest FAILED: {p}")
    print("selftest passed" if not problems else f"selftest: {len(problems)} problem(s)")
    return 0 if not problems else 1


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", choices=("0", "1"), default="0")
    ap.add_argument("--scale", choices=("full", "smoke"), default="full")
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if not ENGINE.is_dir():
        fail(f"engine sources not found at {ENGINE.relative_to(ROOT)}; run from a full checkout")
    if not a.selftest and (a.workload is None or a.seed is None or a.seconds is None):
        ap.error("--workload, --seed and --seconds are required")
    classpath = build()
    if a.selftest:
        sys.exit(selftest(classpath))
    code, lines = run(classpath, ["--workload", a.workload, "--seed", str(a.seed),
                                  "--seconds", str(a.seconds), "--trace", a.trace,
                                  "--scale", a.scale])
    print("\n".join(lines))
    if code != 0 or result_of(lines) is None:
        fail(f"run failed (exit {code})")


if __name__ == "__main__":
    main()
