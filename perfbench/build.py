#!/usr/bin/env python3
"""Build file of the benchmark package.

Compiles the engine (``src/main/scala`` of the checkout) together with
the benchmark (``perfbench/src``) with the Scala compiler that ships in
the Spark distribution, so the build needs nothing but the distribution's
``jars`` directory (``$SPARK_HOME``, else the first distribution on the
PATH whose ``jars`` holds the Scala compiler) and a JDK. Output goes to
``$CARGO_TARGET_DIR`` (default ``.bench_build`` in the checkout), into a
directory keyed by a hash of every source, so an unchanged tree is not
rebuilt.

    python3 perfbench/build.py          # build; prints the classes directory
    python3 perfbench/build.py test     # build, then run the self-tests
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
ENGINE_SRC = ROOT / "src" / "main" / "scala"
BENCH_SRC = [BENCH / "src" / "main" / "scala", BENCH / "src" / "test" / "scala"]
SCALA_VERSION = "2.13.17"


def spark_jars() -> Path:
    if os.environ.get("SPARK_HOME"):
        return Path(os.environ["SPARK_HOME"]) / "jars"
    for d in os.environ.get("PATH", "").split(os.pathsep):
        jars = Path(d).resolve().parent / "jars"
        if (Path(d) / "spark-submit").is_file() and (jars / f"scala-compiler-{SCALA_VERSION}.jar").is_file():
            return jars
    raise SystemExit(f"build: no Spark distribution with Scala {SCALA_VERSION}; set SPARK_HOME")


def target_dir() -> Path:
    t = Path(os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    return t if t.is_absolute() else ROOT / t


def sources() -> list:
    if not (ENGINE_SRC / "graft").is_dir():
        raise SystemExit(f"build: engine sources not found under {ENGINE_SRC}")
    files = []
    for d in [ENGINE_SRC] + BENCH_SRC:
        files += sorted(p for p in d.rglob("*.scala") if p.is_file())
    return files


def classpath_jars() -> str:
    jars = spark_jars()
    if not (jars / f"scala-compiler-{SCALA_VERSION}.jar").is_file():
        raise SystemExit(f"build: no Scala {SCALA_VERSION} compiler in {jars}")
    return str(jars / "*")


def build() -> Path:
    """Compile if needed; return the classes directory."""
    files = sources()
    jars = spark_jars()
    h = hashlib.sha256()
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    h.update(sorted(p.name for p in jars.glob("*.jar")).__repr__().encode())
    out = target_dir() / f"classes-{h.hexdigest()[:16]}"
    if (out / "BUILD_OK").is_file():
        return out
    target_dir().mkdir(parents=True, exist_ok=True)
    for old in target_dir().glob("classes-*"):
        shutil.rmtree(old, ignore_errors=True)
    tmp = out.with_name(out.name + ".tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    args = tmp / "scalac.args"
    args.write_text("\n".join(str(f) for f in files) + "\n")
    compiler_cp = os.pathsep.join(
        str(jars / f"scala-{m}-{SCALA_VERSION}.jar") for m in ("compiler", "library", "reflect"))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
           "-cp", compiler_cp, "scala.tools.nsc.Main", "-nowarn",
           "-classpath", classpath_jars(), "-d", str(tmp), f"@{args}"]
    print(f"build: compiling {len(files)} sources into {out}", file=sys.stderr)
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise SystemExit(f"build: scalac failed with code {r.returncode}")
    args.unlink()
    (tmp / "BUILD_OK").write_text("ok\n")
    tmp.rename(out)
    return out


def java_classpath(classes: Path) -> str:
    return os.pathsep.join([str(classes), classpath_jars()])


def main() -> int:
    classes = build()
    if sys.argv[1:] == ["test"]:
        cmd = ["java", "-Xmx1g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={target_dir()}",
               "-cp", java_classpath(classes), "graftbench.SelfTest", str(ROOT)]
        return subprocess.run(cmd).returncode
    print(classes)
    return 0


if __name__ == "__main__":
    sys.exit(main())
