"""Build file of the benchmark.

Compiles the repo's main Scala sources together with the harness in
`perfbench/src` using the Scala compiler that ships in Spark's jar directory,
so the build needs neither sbt nor a dependency cache. The classes land in
`<out>/classes`, stamped with a digest of every source; an unchanged tree is
not compiled again.

    python3 perfbench/build.py            # builds into .bench_build/
"""

import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent


class BuildError(Exception):
    pass


def spark_jars() -> Path:
    """Spark's jar directory: $SPARK_HOME/jars, else the pyspark package's."""
    candidates = []
    if os.environ.get("SPARK_HOME"):
        candidates.append(Path(os.environ["SPARK_HOME"]) / "jars")
    try:
        import pyspark  # noqa: PLC0415

        candidates.append(Path(pyspark.__file__).parent / "jars")
    except ImportError:
        pass
    for c in candidates:
        if any(c.glob("spark-sql_*.jar")) and any(c.glob("scala-compiler-*.jar")):
            return c
    raise BuildError("no Spark jar directory with a Scala compiler (set SPARK_HOME)")


def java() -> str:
    home = os.environ.get("JAVA_HOME")
    if home and (Path(home) / "bin" / "java").exists():
        return str(Path(home) / "bin" / "java")
    found = shutil.which("java")
    if not found:
        raise BuildError("no java on PATH")
    return found


def sources(root: Path = ROOT) -> list:
    main = root / "src" / "main" / "scala"
    if not main.is_dir():
        raise BuildError(f"{main} is missing: the benchmark builds the program from source")
    files = sorted(main.rglob("*.scala")) + sorted((HERE / "src").glob("*.scala"))
    return files


def digest(files: list) -> str:
    h = hashlib.sha256()
    for f in files:
        h.update(str(f).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def classpath(classes: Path, root: Path = ROOT) -> str:
    return os.pathsep.join(
        [str(classes), str(root / "src" / "main" / "resources"), str(spark_jars() / "*")]
    )


def build(out: Path, root: Path = ROOT) -> Path:
    """Returns the classes directory, compiling first if any source changed."""
    files = sources(root)
    stamp = digest(files)
    classes = out / "classes"
    stamp_file = out / "classes.sha256"
    if classes.is_dir() and stamp_file.exists() and stamp_file.read_text() == stamp:
        return classes
    tmp = out / "classes.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    jars = str(spark_jars() / "*")
    cmd = [java(), "-Xss16m", "-Xmx2g", "-XX:-UsePerfData", "-cp", jars,
           "scala.tools.nsc.Main", "-nowarn", "-d", str(tmp), "-classpath", jars]
    cmd += [str(f) for f in files]
    print(f"building {len(files)} sources into {classes}", file=sys.stderr)
    proc = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if proc.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise BuildError(f"scalac exited with {proc.returncode}")
    shutil.rmtree(classes, ignore_errors=True)
    tmp.rename(classes)
    stamp_file.write_text(stamp)
    return classes


if __name__ == "__main__":
    try:
        print(build(ROOT / ".bench_build"))
    except BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        sys.exit(2)
