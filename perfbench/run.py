#!/usr/bin/env python3
"""Run one benchmark workload against the engine built from this checkout.

    python3 perfbench/run.py --workload sync_stream|catalog|index_serve \
        --seed N --seconds S --trace 0|1

Run from the root of a checkout. The first run compiles the engine's sources
together with the harness in perfbench/ (a separate sbt build, offline, with
the Spark jars shipped in the image) and caches the classpath under
.bench_build/; later runs reuse it until a source file changes. Every run
gets a fresh work directory under .bench_build/run/. The last line printed is
the JSON result; the spans of a traced run are kept in .bench_build/traces/.
"""

import argparse
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

ROOT = os.getcwd()
HERE = os.path.dirname(os.path.abspath(__file__))
BUILD = os.path.join(ROOT, ".bench_build")
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala", "graft")
WORKLOADS = ("sync_stream", "catalog", "index_serve")
JAVA_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar"]
RUN_TIMEOUT_S = 170


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    files = sorted(
        glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"), recursive=True)
        + glob.glob(os.path.join(HERE, "src", "main", "scala", "**", "*.scala"), recursive=True)
        + [os.path.join(HERE, "build.sbt"),
           os.path.join(HERE, "project", "build.properties")])
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def spark_home():
    """The Spark installation whose jars the build compiles against."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        fail("no Spark installation found; set SPARK_HOME")
    return home


def sbt_env():
    env = dict(os.environ)
    env["SPARK_HOME"] = spark_home()
    env["COURSIER_MODE"] = "offline"
    tmp = os.path.join(BUILD, "sbt-tmp")
    os.makedirs(tmp, exist_ok=True)
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false",
            f"-Dsbt.global.base={os.path.join(BUILD, 'sbt-global')}",
            f"-Djava.io.tmpdir={tmp}", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    return env


def classpath():
    """Compile the engine + harness once per source state; return the classpath."""
    stamp = source_stamp()
    cp_file = os.path.join(BUILD, "classpath.txt")
    if os.path.exists(cp_file):
        with open(cp_file) as fh:
            cached = json.load(fh)
        if cached.get("stamp") == stamp:
            return cached["classpath"]
    os.makedirs(BUILD, exist_ok=True)
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "export Runtime/fullClasspath"],
        cwd=HERE, env=sbt_env(), stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=850)
    lines = [ln for ln in proc.stdout.splitlines() if ln.strip()]
    if proc.returncode != 0 or not lines or lines[-1].startswith("["):
        sys.stderr.write("\n".join(ln for ln in lines if ln.startswith("[error]")) + "\n")
        fail("build failed")
    with open(cp_file, "w") as fh:
        json.dump({"stamp": stamp, "classpath": lines[-1]}, fh)
    return lines[-1]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isdir(ENGINE_SRC):
        fail(f"no engine sources at {os.path.relpath(ENGINE_SRC, ROOT)}; "
             "run from the root of a graft checkout")

    cp = classpath()
    work = os.path.join(BUILD, "run")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    data = os.path.join(work, "data")
    t_gen = 0.0
    if args.workload == "catalog":
        # set-up is measured as the median of several: generate three times
        gens = []
        for _ in range(3):
            t = time.time()
            shutil.rmtree(data, ignore_errors=True)
            subprocess.run([sys.executable, os.path.join(HERE, "gen_data.py"), data],
                           check=True)
            gens.append(time.time() - t)
        t_gen = sorted(gens)[1]
        shutil.copy(os.path.join(HERE, "fingerprints.json"), work)

    cmd = (["java"]
           + [a for p in JAVA_OPENS for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
           + ["-Xmx3g", f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
              f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
              "-Dspark.ui.enabled=false", "-cp", cp, "perfbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--work", work, "--data", data,
              "--benchmark", os.path.join(ROOT, "BENCHMARK.json"),
              "--pre-setup-s", f"{t_gen:.6f}"])
    t_jvm = time.time()
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        fail(f"run exceeded {RUN_TIMEOUT_S} s")
    print(f"perfbench: workload process {time.time() - t_jvm:.1f} s", file=sys.stderr)
    lines = [ln for ln in out.splitlines() if ln.strip()]
    if proc.returncode != 0 or not lines or not lines[-1].startswith("{"):
        sys.stdout.write("\n".join(lines[-40:]) + "\n")
        fail(f"workload exited with {proc.returncode} and no result")
    result = json.loads(lines[-1])

    traces = os.path.join(BUILD, "traces")
    os.makedirs(traces, exist_ok=True)
    key = f"{args.workload}-{args.seed}"
    if args.trace:
        shutil.copy(os.path.join(work, "spans.jsonl"),
                    os.path.join(traces, f"{key}.spans.jsonl"))
        # the traced run prints its end-to-end values as "# traced NAME VALUE UNIT"
        untraced = os.path.join(traces, f"{key}.untraced.json")
        if os.path.exists(untraced):
            with open(untraced) as fh:
                base = json.load(fh)["metrics"]
            for ln in [ln for ln in lines if ln.startswith("# traced ")]:
                _, _, name, value, unit = ln.split()
                if name in base:
                    lines.insert(-1, f"# tracing overhead {name}: "
                                     f"{float(value) - base[name]['value']:+.4f} {unit}")
    else:
        with open(os.path.join(traces, f"{key}.untraced.json"), "w") as fh:
            json.dump(result, fh)
    if os.environ.get("PERFBENCH_PIN") == "1":
        shutil.copy(os.path.join(work, "fingerprints.out.json"),
                    os.path.join(BUILD, "fingerprints.out.json"))
    shutil.rmtree(work, ignore_errors=True)
    print("\n".join(lines))


if __name__ == "__main__":
    main()
