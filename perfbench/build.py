"""Build file of the benchmark.

Compiles the program's sources (src/main/scala) and then the benchmark's
own sources (perfbench/src) with the Scala compiler that ships among
Spark's jars, into .bench_build/perfbench/{program,bench}-<stamp>/classes. Each
stamp hashes the sources it depends on, so an unchanged tree is not rebuilt.

    python3 perfbench/build.py        # prints the classpath it built
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path.cwd()
BUILD = ROOT / ".bench_build" / "perfbench"
PROGRAM_SRC = ROOT / "src" / "main" / "scala"
BENCH_SRC = ROOT / "perfbench" / "src"


def spark_jars() -> Path:
    """$SPARK_HOME/jars, else the jar directory the sbt build compiles
    against (its `unmanagedBase`)."""
    if "SPARK_HOME" in os.environ:
        jars = Path(os.environ["SPARK_HOME"]) / "jars"
    else:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)',
                      (ROOT / "build.sbt").read_text() if (ROOT / "build.sbt").exists() else "")
        if not m:
            raise SystemExit("perfbench: set SPARK_HOME to a Spark install")
        jars = Path(m.group(1))
    if not any(jars.glob("scala-compiler-*.jar")):
        raise SystemExit(f"perfbench: no Scala compiler among the Spark jars in {jars}")
    return jars


def sources(root: Path) -> list:
    return sorted(p for p in root.rglob("*.scala") if p.is_file())


def stamp(files: list) -> str:
    h = hashlib.sha256()
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()[:16]


def scalac(jars: Path, classpath: str, out: Path, files: list) -> None:
    out.mkdir(parents=True)
    args_file = out.parent / f"{out.name}.args"
    args_file.write_text("\n".join(str(f) for f in files) + "\n")
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", f"{jars}/*",
           "scala.tools.nsc.Main",
           "-nowarn", "-classpath", classpath, "-d", str(out), f"@{args_file}"]
    proc = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr, timeout=600)
    if proc.returncode != 0:
        raise SystemExit(f"perfbench: compiling {out.name} failed ({proc.returncode})")


def build() -> str:
    """Builds if needed and returns the run classpath."""
    program, bench = sources(PROGRAM_SRC), sources(BENCH_SRC)
    if not program:
        raise SystemExit(f"perfbench: no program sources under {PROGRAM_SRC}")
    if not bench:
        raise SystemExit(f"perfbench: no benchmark sources under {BENCH_SRC}")
    jars = spark_jars()
    p_stamp = stamp(program)
    prog = compiled("program", p_stamp, jars, f"{jars}/*", program)
    bench_out = compiled("bench", stamp(program + bench), jars, f"{prog}:{jars}/*", bench)
    return f"{bench_out}:{prog}:{jars}/*"


def compiled(kind: str, key: str, jars: Path, classpath: str, files: list) -> Path:
    """The class directory for `files` at stamp `key`, compiled on a miss.
    Older builds of the same kind are removed."""
    target = BUILD / f"{kind}-{key}"
    if (target / "done").exists():
        return target / "classes"
    staging = BUILD / f"staging-{kind}-{os.getpid()}"
    shutil.rmtree(staging, ignore_errors=True)
    try:
        scalac(jars, classpath, staging / "classes", files)
        (staging / "done").write_text("ok\n")
        for old in BUILD.glob(f"{kind}-*"):
            shutil.rmtree(old, ignore_errors=True)
        staging.rename(target)
    finally:
        shutil.rmtree(staging, ignore_errors=True)
    return target / "classes"


if __name__ == "__main__":
    print(build())
