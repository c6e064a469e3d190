"""Build graft and the benchmark from source with the Scala compiler in
Spark's jar directory (no sbt, no network).

    python3 perfbench/build.py [OUT_DIR]

Compiles `src/main/scala` of the checkout plus `perfbench/src` into
OUT_DIR/graftbench.jar (default OUT_DIR: $CARGO_TARGET_DIR, else
.bench_build). A stamp of the sources' hash skips the build when
nothing changed.
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys
import zipfile
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
HEAP = "2g"
# Spark on JDK 17 outside spark-submit needs these (as in build.sbt)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def spark_jars() -> Path:
    """$SPARK_HOME/jars, else the jar directory graft's build.sbt names
    as its `unmanagedBase`."""
    if "SPARK_HOME" in os.environ:
        jars = Path(os.environ["SPARK_HOME"]) / "jars"
    else:
        sbt = ROOT / "build.sbt"
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)',
                      sbt.read_text() if sbt.is_file() else "")
        if not m:
            raise SystemExit("no Spark jars: set SPARK_HOME")
        jars = Path(m.group(1))
    if not jars.is_dir():
        raise SystemExit(f"Spark jars not found at {jars} (set SPARK_HOME)")
    return jars


def out_dir() -> Path:
    return ROOT / os.environ.get("CARGO_TARGET_DIR", ".bench_build")


def sources() -> list:
    graft = sorted((ROOT / "src" / "main" / "scala").rglob("*.scala"))
    if not graft:
        raise SystemExit(f"graft sources not found under {ROOT / 'src/main/scala'}")
    return graft + sorted((BENCH / "src").rglob("*.scala"))


def java_cmd(out: Path, work: Path, main: str) -> list:
    """The JVM command for `main`, keeping every file it writes under
    `work`. Spark runs with the configuration `GraftSession.create`
    gives it; the properties here only keep its files in `work` and
    leave out the web UI."""
    opens = [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
    props = {
        "spark.ui.enabled": "false",
        "spark.local.dir": work / "spark-local",
        "spark.sql.warehouse.dir": work / "warehouse",
        "java.io.tmpdir": work / "tmp",
        "derby.system.home": work / "derby",
    }
    for d in ("spark-local", "warehouse", "tmp", "derby"):
        (work / d).mkdir(parents=True, exist_ok=True)
    cp = os.pathsep.join([str(out / "graftbench.jar"), str(spark_jars() / "*")])
    return (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}"] + opens +
            [f"-D{k}={v}" for k, v in props.items()] + ["-cp", cp, main])


def run(cmd: list, timeout: float, what: str) -> None:
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=timeout)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-5000:])
        raise SystemExit(f"{what} failed (exit {r.returncode})")


def build(out: Path) -> bool:
    """Compile and package if the sources changed; return whether it
    did."""
    jars = spark_jars()
    srcs = sources()
    compiler = sorted(jars.glob("scala-compiler-*.jar"))
    if not compiler:
        raise SystemExit(f"no scala-compiler jar in {jars}")
    h = hashlib.sha256(str(compiler[-1].name).encode())
    for s in srcs:
        h.update(str(s.relative_to(ROOT)).encode())
        h.update(s.read_bytes())
    digest = h.hexdigest()
    stamp = out / "build.stamp"
    if stamp.is_file() and stamp.read_text() == digest:
        return False
    stamp.unlink(missing_ok=True)
    classes = out / "classes"
    shutil.rmtree(classes, ignore_errors=True)
    classes.mkdir(parents=True)
    argfile = out / "sources.txt"
    argfile.write_text("\n".join(str(s) for s in srcs) + "\n")
    cp = os.pathsep.join(str(j) for j in sorted(jars.glob("scala-*.jar")))
    run(["java", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
         "-usejavacp", "-nowarn", "-cp", str(jars / "*"),
         "-d", str(classes), f"@{argfile}"], 800, "compile")
    with zipfile.ZipFile(out / "graftbench.jar", "w") as z:
        for f in sorted(classes.rglob("*.class")):
            z.write(f, f.relative_to(classes).as_posix())
    shutil.rmtree(classes)
    stamp.write_text(digest)
    return True


if __name__ == "__main__":
    out = Path(sys.argv[1]) if len(sys.argv) > 1 else out_dir()
    out.mkdir(parents=True, exist_ok=True)
    build(out)
    print(out / "graftbench.jar")
