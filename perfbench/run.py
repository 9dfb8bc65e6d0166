#!/usr/bin/env python3
"""Run one benchmark workload from the root of a checkout.

    python3 perfbench/run.py --workload ingest|serve|append --seed N --seconds S --trace 0|1

Builds the engine and the benchmark from source if needed (see
build.py), runs the workload in one JVM with Spark local[nproc] and one
client thread, and passes its output through: the last line of
standard output is the JSON result. Scratch data lives under the build
directory and is removed on exit; traces of ``--trace 1`` runs are kept
in ``<build dir>/traces``.
"""
import argparse
import os
import shutil
import signal
import subprocess
import sys
from pathlib import Path

sys.dont_write_bytecode = True  # leave no __pycache__ in the checkout
sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

WORKLOADS = ("ingest", "serve", "append")

# Spark 4 on JDK 17 needs these outside spark-submit (the same list the
# engine's own build passes).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()
    if a.seconds < 1:
        ap.error("--seconds must be at least 1")

    # set-up and checks take about a minute; the timed loop runs
    # --seconds, a traced run replays it three times (untraced, traced,
    # untraced), and each pass may overrun by up to one operation
    timeout_s = 90 + (4 if a.trace == "1" else 1) * 2 * a.seconds
    classes = build.build()
    target = build.target_dir()
    run_dir = target / f"run-{a.workload}-{a.seed}-{os.getpid()}"
    tmp = run_dir / "tmp"
    tmp.mkdir(parents=True)
    cmd = ["java", "-Xmx3g", "-Xss8m", "-XX:-UsePerfData"]
    for m in ADD_OPENS:
        cmd += ["--add-opens", f"{m}=ALL-UNNAMED"]
    cmd += [
        f"-Djava.io.tmpdir={tmp}",
        f"-Dspark.local.dir={tmp}",
        f"-Dspark.sql.warehouse.dir={run_dir / 'warehouse'}",
        "-Dspark.ui.enabled=false",
        f"-Dlog4j2.configurationFile={build.BENCH / 'log4j2.properties'}",
        "-cp", build.java_classpath(classes), "graftbench.Main",
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", a.trace, "--work", str(run_dir / "work"), "--trace-out", str(target / "traces"),
    ]
    proc = subprocess.Popen(cmd, cwd=run_dir)
    # a terminated runner still stops and reaps its JVM (finally below)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        return proc.wait(timeout=timeout_s)
    except subprocess.TimeoutExpired:
        print(f"run: workload exceeded {timeout_s} s, stopped", file=sys.stderr)
        proc.kill()
        proc.wait()
        return 3
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
