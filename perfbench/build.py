"""Build file of the benchmark package.

Compiles the program (`src/main/scala`) together with the benchmark's own
sources (`perfbench/src`, `perfbench/test`) with the Scala compiler that
ships in Spark's jar directory, into `<build dir>/classes-<source hash>`.
A build whose sources are unchanged is reused.

    python3 perfbench/build.py        # prints the classes directory
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
BENCH = ROOT / "perfbench"
MAIN_SOURCES = ROOT / "src" / "main" / "scala"
RESOURCES = ROOT / "src" / "main" / "resources"


def _spark_jars() -> Path:
    """Jar directory of the Spark installation at `$SPARK_HOME`, else of the
    first `spark-submit` on PATH that sits in one. It also ships the Scala
    compiler."""
    homes = [os.environ.get("SPARK_HOME", "")] + [
        str(Path(d).resolve().parent) for d in os.environ.get("PATH", "").split(os.pathsep)
        if d and (Path(d) / "spark-submit").is_file()]
    for home in homes:
        if home and (Path(home) / "jars").is_dir():
            return Path(home) / "jars"
    raise SystemExit("perfbench: no Spark installation (set SPARK_HOME)")


SPARK_JARS = _spark_jars()

# Spark 4 on JDK 17 outside spark-submit needs these (as build.sbt sets them).
ADD_OPENS = [
    f"--add-opens=java.base/{p}=ALL-UNNAMED"
    for p in ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
              "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
              "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]
]


def build_dir() -> Path:
    d = Path(os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    return d if d.is_absolute() else ROOT / d


def sources() -> list:
    if not (MAIN_SOURCES / "graft" / "pipeline" / "EntityEtlJob.scala").is_file():
        raise SystemExit(f"perfbench: no program sources under {MAIN_SOURCES}")
    found = []
    for base in (MAIN_SOURCES, BENCH / "src", BENCH / "test"):
        found += sorted(p for p in base.rglob("*.scala") if p.is_file())
    return found


def classpath(classes: Path) -> str:
    return os.pathsep.join([str(classes), str(RESOURCES), str(SPARK_JARS / "*")])


def build() -> Path:
    """Compile if needed; return the classes directory."""
    srcs = sources()
    h = hashlib.sha256()
    for p in srcs:
        h.update(str(p.relative_to(ROOT)).encode() + b"\0" + p.read_bytes() + b"\0")
    h.update("\n".join(sorted(x.name for x in SPARK_JARS.glob("*.jar"))).encode())
    out = build_dir()
    classes = out / f"classes-{h.hexdigest()[:16]}"
    if (classes / ".complete").is_file():
        return classes
    out.mkdir(parents=True, exist_ok=True)
    tmp = out / f"tmp-build-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    (tmp / "classes").mkdir(parents=True)
    (tmp / "jvm-tmp").mkdir()
    argfile = tmp / "sources.txt"
    argfile.write_text("\n".join(f'"{p}"' for p in srcs) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp / 'jvm-tmp'}",
           "-cp", str(SPARK_JARS / "*"), "scala.tools.nsc.Main", "-nowarn",
           "-classpath", str(SPARK_JARS / "*"), "-d", str(tmp / "classes"), f"@{argfile}"]
    print(f"perfbench: compiling {len(srcs)} sources into {classes}", file=sys.stderr)
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=sys.stderr, stderr=sys.stderr)
    try:
        proc.wait()
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
    if proc.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise SystemExit(f"perfbench: compilation failed ({proc.returncode})")
    (tmp / "classes" / ".complete").write_text("ok\n")
    for old in out.glob("classes-*"):
        shutil.rmtree(old, ignore_errors=True)
    os.replace(tmp / "classes", classes)
    shutil.rmtree(tmp, ignore_errors=True)
    return classes


if __name__ == "__main__":
    print(build())
