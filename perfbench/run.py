#!/usr/bin/env python3
"""graft benchmark launcher.

    python3 perfbench/run.py --workload ts_live|corpus_pipeline --seed N --seconds S --trace 0|1

Run from the repository root. The first call builds the library and the
benchmark program from source with sbt (offline, Spark jars from
$SPARK_HOME/jars) into perfbench/target; later calls reuse that build while
the sources are unchanged. Each run starts one JVM for one workload under a
fresh directory in perfbench/target/work, deleted when the run ends. The
program's report goes to stdout, followed by one JSON line with the result.
Exit code 0 means every output check passed.
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
TARGET = os.path.join(HERE, "target")
LIB_SRC = os.path.join(ROOT, "src", "main", "scala")
START = time.monotonic()
DEADLINE_S = 175  # the whole run, build excluded

# Spark 4 on JDK 17 outside spark-submit needs these module openings.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_files():
    files = []
    for top in (LIB_SRC, os.path.join(HERE, "src")):
        for d, _, names in os.walk(top):
            files += [os.path.join(d, n) for n in names if n.endswith((".scala", ".java"))]
    files += [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    return sorted(files)


def build():
    """Compile once per source state; return the runtime classpath."""
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    cp_file = os.path.join(TARGET, "classpath.txt")
    stamp_file = os.path.join(TARGET, "classpath.stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read().strip() == stamp:
                with open(cp_file) as fc:
                    return fc.read().strip()
    if shutil.which("sbt") is None:
        die("sbt is not on PATH")
    tmp = os.path.join(TARGET, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # sbt's global state and temporary files stay under perfbench/target
    cmd = ["sbt", "-batch", "-Dsbt.log.noformat=true", "-J-XX:-UsePerfData",
           f"-Djava.io.tmpdir={tmp}",
           f"-Dsbt.global.base={os.path.join(TARGET, 'sbt-global')}",
           "compile", "export Runtime/fullClasspath"]
    p = subprocess.run(cmd, cwd=HERE, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=850)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    sys.stderr.write("\n".join(lines[-30:-1]) + "\n")
    if p.returncode != 0 or not lines or "graft-perfbench" in lines[-1] or ":" not in lines[-1]:
        die(f"build failed (sbt exit {p.returncode})")
    cp = lines[-1].strip()
    with open(cp_file, "w") as fh:
        fh.write(cp)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return cp


def expected_metrics(trace):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    return {m["name"]: m["unit"] for m in bench["per_layer" if trace else "end_to_end"]}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=["ts_live", "corpus_pipeline"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(LIB_SRC, "graft")):
        die(f"library sources not found under {LIB_SRC}: run from a full checkout")
    if not os.environ.get("SPARK_HOME"):
        die("SPARK_HOME is not set")
    expected = expected_metrics(a.trace)
    cp = build()
    build_s = time.monotonic() - START

    work = os.path.join(TARGET, "work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    result = os.path.join(work, "result.json")
    cmd = ["java", "-Xmx3g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "graftbench.Main", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace), "--work", work,
            "--result", result]
    if a.trace:
        cmd += ["--spans", os.path.join(TARGET, "trace", f"{a.workload}-seed{a.seed}.jsonl")]
    env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_GRAFT_")}
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    budget = DEADLINE_S - (time.monotonic() - START - build_s)
    proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=subprocess.PIPE, text=True,
                            start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=budget)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        die(f"run exceeded {DEADLINE_S} s", 4)
    try:
        with open(result) as fh:
            res = json.load(fh)
    except (OSError, ValueError):
        res = None
    finally:
        shutil.rmtree(work, ignore_errors=True)
    sys.stdout.write(out)
    if res is None:
        die(f"benchmark exited {proc.returncode} without a result", 3)
    got = {k: v["unit"] for k, v in res["metrics"].items()}
    if got != expected:
        die(f"metric set differs from BENCHMARK.json: missing {sorted(set(expected) - set(got))}, "
            f"extra {sorted(set(got) - set(expected))}, "
            f"units {sorted(k for k in got if k in expected and got[k] != expected[k])}", 3)
    print(f"build_s {build_s:.1f}  run_s {time.monotonic() - START - build_s:.1f}", file=sys.stderr)
    print(json.dumps(res))
    sys.exit(0 if proc.returncode == 0 and res["correct"] else 1)


if __name__ == "__main__":
    main()
