"""Build file of the benchmark: compiles the library (`src/main/scala`)
and the benchmark's own Scala sources (`perfbench/scala`) with the Scala
compiler that ships among the Spark jars (the same jars the library's
sbt build compiles against), into
`.bench_build/perfbench/<source hash>/classes` under the checkout.

A build is reused while no source changes; it is published by an atomic
rename, so an interrupted build is never picked up.
"""
import hashlib
import os
import shutil
import subprocess
from pathlib import Path

HERE = Path(__file__).resolve().parent


def spark_jars():
    """The Spark distribution's jars, $SPARK_HOME/jars; they include the
    Scala compiler."""
    jars = Path(os.environ.get("SPARK_HOME", "."), "jars")
    if not any(jars.glob("scala-compiler-*.jar")):
        raise SystemExit(f"no Spark/Scala jars under {jars}; set SPARK_HOME")
    return jars


def sources(root):
    lib = Path(root, "src", "main", "scala")
    if not lib.is_dir():
        raise SystemExit(f"{lib} is missing: run from the root of a full checkout")
    return sorted(lib.rglob("*.scala")) + sorted(Path(HERE, "scala").rglob("*.scala"))


def ensure(root):
    """Return the classes directory for the current sources, compiling first
    if needed."""
    root = Path(root).resolve()
    jars = spark_jars()
    files = sources(root)
    h = hashlib.sha256()
    for f in files:
        h.update(str(f.relative_to(root)).encode())
        h.update(f.read_bytes())
    base = Path(root, ".bench_build", "perfbench")
    out = base / h.hexdigest()[:16]
    if (out / "classes").is_dir():
        return out / "classes"
    tmp = base / f"tmp-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    (tmp / "classes").mkdir(parents=True)
    argfile = tmp / "sources.txt"
    argfile.write_text("\n".join(str(f) for f in files) + "\n")
    cp = f"{jars}/*"
    proc = subprocess.run(
        ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
         "-nowarn", "-d", str(tmp / "classes"), "-cp", cp, f"@{argfile}"],
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if proc.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise SystemExit("compile failed:\n" + proc.stdout[-4000:])
    argfile.unlink()
    for old in base.iterdir():
        if old != tmp and not old.name.startswith("tmp-"):
            shutil.rmtree(old, ignore_errors=True)
    os.replace(tmp, out)
    return out / "classes"
