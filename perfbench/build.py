#!/usr/bin/env python3
"""Builds the benchmark's JVM classes from source.

Compiles the library (src/main/scala) and the harness (perfbench/src)
with the Scala compiler that ships in Spark's jars directory, into
.bench_build/classes. A build whose sources and toolchain are unchanged
is reused.

Usage, from the repository root:  python3 perfbench/build.py
Spark is found through SPARK_HOME, else through spark-submit on PATH.
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

BUILD_DIR = ".bench_build"


def spark_jars() -> Path:
    home = os.environ.get("SPARK_HOME")
    if not home:
        exe = shutil.which("spark-submit")
        if exe:
            home = str(Path(exe).resolve().parent.parent)
    if not home or not (Path(home) / "jars").is_dir():
        raise SystemExit("perfbench: Spark not found; set SPARK_HOME")
    return Path(home) / "jars"


def sources(root: Path) -> list:
    lib = root / "src" / "main" / "scala"
    if not lib.is_dir():
        raise SystemExit(f"perfbench: no library sources under {lib}")
    return sorted(lib.rglob("*.scala")) + sorted((root / "perfbench" / "src").rglob("*.scala"))


def build(root: Path) -> Path:
    """Returns the classes directory, compiling first if it is stale."""
    jars = spark_jars()
    srcs = sources(root)
    digest = hashlib.sha256(str(jars).encode())
    for p in srcs:
        digest.update(str(p.relative_to(root)).encode())
        digest.update(p.read_bytes())
    stamp = digest.hexdigest()
    out = root / BUILD_DIR / "classes"
    if (out / "STAMP").is_file() and (out / "STAMP").read_text() == stamp:
        return out
    tmp = root / BUILD_DIR / f"classes.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    argfile = root / BUILD_DIR / f"scalac{os.getpid()}.args"
    argfile.write_text("\n".join(str(p) for p in srcs))
    cp = str(jars / "*")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={root / BUILD_DIR}",
           "-cp", cp, "scala.tools.nsc.Main", "-nowarn",
           "-d", str(tmp), "-classpath", cp, f"@{argfile}"]
    try:
        r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    finally:
        argfile.unlink(missing_ok=True)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        sys.stderr.write(r.stdout[-20000:])
        raise SystemExit(f"perfbench: compilation failed (exit {r.returncode})")
    (tmp / "STAMP").write_text(stamp)
    shutil.rmtree(out, ignore_errors=True)
    tmp.rename(out)
    return out


if __name__ == "__main__":
    print(build(Path.cwd()))
