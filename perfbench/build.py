"""Build file of the benchmark: compiles graft's main sources together
with the benchmark client (perfbench/src) into one class directory.

It calls the Scala compiler that ships inside Spark's jars directory, so
it needs nothing beyond a JDK and a Spark distribution (found through
SPARK_HOME, else through `spark-submit` on PATH). A build whose sources
have not changed since the last one is reused.

    python3 perfbench/build.py          # from the repository root
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

BENCH = Path(__file__).resolve().parent


def spark_jars() -> Path:
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = str(Path(shutil.which("spark-submit")).resolve().parent.parent)
    if not home or not (Path(home) / "jars").is_dir():
        raise SystemExit("perfbench: no Spark distribution (set SPARK_HOME)")
    return Path(home) / "jars"


def build_dir(root: Path) -> Path:
    return root / os.environ.get("CARGO_TARGET_DIR", ".bench_build")


def sources(root: Path) -> list:
    main = root / "src" / "main" / "scala"
    if not main.is_dir():
        raise SystemExit(f"perfbench: graft sources not found under {main}")
    return sorted(main.rglob("*.scala")) + sorted((BENCH / "src").rglob("*.scala"))


def source_digest(root: Path, files: list) -> str:
    h = hashlib.sha256()
    for f in files:
        h.update(str(f.relative_to(root)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def build(root: Path) -> tuple:
    """Returns (class directory, source digest), compiling if needed."""
    root = root.resolve()
    files = sources(root)
    digest = source_digest(root, files)
    out = build_dir(root) / "classes"
    stamp = build_dir(root) / "classes.sha256"
    if stamp.is_file() and stamp.read_text() == digest and out.is_dir():
        return out, digest
    shutil.rmtree(out, ignore_errors=True)
    out.mkdir(parents=True)
    stamp.unlink(missing_ok=True)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", str(spark_jars() / "*"), "scala.tools.nsc.Main",
           "-usejavacp", "-nowarn", "-encoding", "UTF-8", "-d", str(out)] + [str(f) for f in files]
    done = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr, timeout=840)
    if done.returncode != 0:
        raise SystemExit(f"perfbench: compile failed ({done.returncode})")
    stamp.write_text(digest)
    return out, digest


if __name__ == "__main__":
    print(build(Path.cwd())[0])
