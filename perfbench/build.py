"""Build file of the benchmark package.

Compiles the program's sources (`src/main/scala`) together with the
benchmark's own (`perfbench/src`) into `.bench_build/classes` with the
Scala compiler that ships in Spark's jar directory, so a fresh checkout
needs nothing but a JDK and a Spark distribution. The output is keyed
by a digest of every source file and reused while the digest matches.

    python3 perfbench/build.py      # prints the classes directory
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

BENCH_DIR = Path(__file__).resolve().parent
ROOT = BENCH_DIR.parent
OUT = ROOT / ".bench_build"
SOURCE_DIRS = [ROOT / "src" / "main" / "scala", BENCH_DIR / "src"]


class BuildError(Exception):
    pass


def spark_jars() -> Path:
    """Spark's jar directory: $SPARK_HOME/jars, else next to spark-submit."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = str(Path(os.path.realpath(submit)).parent.parent)
    jars = Path(home) / "jars" if home else None
    if jars is None or not jars.is_dir():
        raise BuildError("no Spark distribution found: set SPARK_HOME")
    return jars


def java() -> str:
    home = os.environ.get("JAVA_HOME")
    return str(Path(home) / "bin" / "java") if home else "java"


def sources() -> list:
    files = []
    for d in SOURCE_DIRS:
        files += sorted(glob.glob(str(d / "**" / "*.scala"), recursive=True))
    return files


def digest(files: list) -> str:
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        h.update(Path(f).read_bytes())
    return h.hexdigest()[:16]


def build() -> tuple:
    """Compile if needed; returns (classes dir, source digest)."""
    if not (ROOT / "src" / "main" / "scala" / "graft").is_dir():
        raise BuildError(f"program sources not found under {ROOT / 'src/main/scala'}")
    files = sources()
    key = digest(files)
    classes = OUT / f"classes-{key}"
    if (classes / "BUILD_OK").exists():
        return classes, key
    jars = spark_jars()
    compiler = [glob.glob(str(jars / f"scala-{m}-2.*.jar")) for m in ("compiler", "library", "reflect")]
    if not all(compiler):
        raise BuildError(f"no Scala compiler jars in {jars}")
    tmp = OUT / f"classes-{key}.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    print(f"build: compiling {len(files)} sources", file=sys.stderr)
    cmd = [java(), "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", f"-Djava.io.tmpdir={OUT}",
           "-cp", os.pathsep.join(c[0] for c in compiler),
           "scala.tools.nsc.Main", "-nowarn", "-d", str(tmp), "-cp", str(jars / "*")] + files
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise BuildError("compile failed:\n" + r.stdout[-4000:])
    (tmp / "BUILD_OK").write_text(key + "\n")
    for old in OUT.glob("classes-*"):
        if old != tmp:
            shutil.rmtree(old, ignore_errors=True)
    tmp.rename(classes)
    return classes, key


if __name__ == "__main__":
    try:
        print(build()[0])
    except BuildError as e:
        print(f"build: {e}", file=sys.stderr)
        sys.exit(2)
