"""Build file of the benchmark.

Compiles the library sources of the checkout (``src/main/scala``) together
with the benchmark's own Scala sources (``perfbench/src``, ``perfbench/test``)
into ``.bench_build/classes``, with the Scala compiler that ships among
Spark's jars, so the benchmark needs no build tool and no download. The build
is skipped when no source changed since the last one.

    python3 perfbench/build.py [--root <checkout>]
"""
import argparse
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

BENCH = Path(__file__).resolve().parent


def spark_jars() -> Path:
    home = os.environ.get("SPARK_HOME")
    if not home:
        exe = shutil.which("spark-submit")
        if exe:
            home = str(Path(os.path.realpath(exe)).parent.parent)
    if not home or not (Path(home) / "jars").is_dir():
        raise SystemExit("perfbench: Spark not found; set SPARK_HOME")
    return Path(home) / "jars"


def java() -> str:
    home = os.environ.get("JAVA_HOME")
    if home and (Path(home) / "bin" / "java").is_file():
        return str(Path(home) / "bin" / "java")
    exe = shutil.which("java")
    if not exe:
        raise SystemExit("perfbench: java not found; set JAVA_HOME")
    return exe


def inputs(root: Path):
    lib = root / "src" / "main" / "scala"
    if not lib.is_dir():
        raise SystemExit(f"perfbench: no library sources under {lib}")
    scala = sorted(lib.rglob("*.scala"))
    for d in ("src", "test"):
        scala += sorted((BENCH / d).rglob("*.scala"))
    res_dir = root / "src" / "main" / "resources"
    resources = sorted(p for p in res_dir.rglob("*") if p.is_file()) if res_dir.is_dir() else []
    return scala, res_dir, resources


def build(root: Path) -> Path:
    """Return the class directory, compiling first if a source changed."""
    out = root / ".bench_build"
    classes = out / "classes"
    stamp = out / "stamp"
    scala, res_dir, resources = inputs(root)
    h = hashlib.sha256()
    for f in scala + resources:
        h.update(str(f).encode())
        h.update(f.read_bytes())
    digest = h.hexdigest()
    if classes.is_dir() and stamp.is_file() and stamp.read_text() == digest:
        return classes
    tmp = out / "classes.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    argfile = out / "scalac.args"
    argfile.write_text("\n".join(f'"{f}"' for f in scala) + "\n")
    jars = f"{spark_jars()}{os.sep}*"
    cmd = [java(), "-Xss8m", "-Xmx2g", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={out}", "-cp", jars, "scala.tools.nsc.Main",
           "-encoding", "UTF-8", "-nowarn", "-d", str(tmp), "-cp", jars, f"@{argfile}"]
    if subprocess.run(cmd, stdout=sys.stderr).returncode != 0:
        raise SystemExit("perfbench: build failed")
    for f in resources:
        dst = tmp / f.relative_to(res_dir)
        dst.parent.mkdir(parents=True, exist_ok=True)
        shutil.copyfile(f, dst)
    shutil.rmtree(classes, ignore_errors=True)
    tmp.rename(classes)
    stamp.write_text(digest)
    return classes


if __name__ == "__main__":
    ap = argparse.ArgumentParser()
    ap.add_argument("--root", default=".")
    build(Path(ap.parse_args().root).resolve())
