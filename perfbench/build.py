"""Build file of the benchmark: compiles the engine (`src/main/scala`) and
the benchmark (`perfbench/src`) from source with the Scala compiler that
ships in Spark's `jars/` directory (found through `SPARK_HOME`), into
`.bench_build/classes` of the checkout. A stamp of every source file's
path and content makes later runs reuse the classes.

    python3 perfbench/build.py        # build (or confirm up to date), print the classpath
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
BUILD = ROOT / ".bench_build"
CLASSES = BUILD / "classes"


class BuildError(Exception):
    pass


def java() -> str:
    home = os.environ.get("JAVA_HOME")
    return str(Path(home) / "bin" / "java") if home else "java"


def spark_jars() -> Path:
    home = os.environ.get("SPARK_HOME")
    if not home or not (Path(home) / "jars").is_dir():
        raise BuildError("SPARK_HOME must name a Spark installation with a jars/ directory")
    return Path(home) / "jars"


def sources() -> list:
    engine = sorted((ROOT / "src" / "main" / "scala").rglob("*.scala"))
    if not engine:
        raise BuildError(f"no engine sources under {ROOT / 'src' / 'main' / 'scala'}")
    return engine + sorted((HERE / "src").rglob("*.scala"))


def stamp(files: list) -> str:
    h = hashlib.sha256()
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def classpath() -> str:
    return f"{CLASSES}{os.pathsep}{spark_jars() / '*'}"


def ensure_built() -> str:
    """Compile when the sources changed since the last build; return the run classpath."""
    files = sources()
    jars = spark_jars()
    want = stamp(files)
    stamp_file = CLASSES / ".stamp"
    if stamp_file.is_file() and stamp_file.read_text() == want:
        return classpath()
    tmp = BUILD / "classes.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    argfile = BUILD / "sources.txt"
    argfile.write_text("\n".join(str(f) for f in files) + "\n")
    cmd = [java(), "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", str(jars / "*"), "scala.tools.nsc.Main",
           "-nowarn", "-d", str(tmp), "-classpath", str(jars / "*"), f"@{argfile}"]
    proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    argfile.unlink()
    if proc.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise BuildError("compilation failed:\n" + proc.stdout[-4000:])
    (tmp / ".stamp").write_text(want)
    shutil.rmtree(CLASSES, ignore_errors=True)
    tmp.rename(CLASSES)
    return classpath()


if __name__ == "__main__":
    try:
        print(ensure_built())
    except BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        sys.exit(2)
