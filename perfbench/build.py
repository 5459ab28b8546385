"""Build file of the benchmark: compiles the program (src/main) and the
benchmark (perfbench/src) with the Scala compiler that ships in Spark's
jar directory, into the build directory ($CARGO_TARGET_DIR, default
.bench_build). A build is skipped when no source changed since the last
one. Usage: python3 perfbench/build.py
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
BENCH = ROOT / "perfbench"


class BuildError(Exception):
    pass


def build_dir():
    return ROOT / os.environ.get("CARGO_TARGET_DIR", ".bench_build")


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        home = str(Path(submit).resolve().parent.parent) if submit else ""
    jars = Path(home) / "jars" if home else None
    if not jars or not any(jars.glob("spark-core_*.jar")):
        raise BuildError("Spark jars not found: set SPARK_HOME")
    return jars


def sources():
    main = sorted((ROOT / "src" / "main" / "scala").rglob("*.scala"))
    bench = sorted((BENCH / "src").rglob("*.scala"))
    if not main:
        raise BuildError("program sources (src/main/scala) not found")
    if not bench:
        raise BuildError("benchmark sources (perfbench/src) not found")
    resources = ROOT / "src" / "main" / "resources"
    res = sorted(p for p in resources.rglob("*") if p.is_file()) if resources.is_dir() else []
    return main, bench, res


def stamp(files, jars):
    h = hashlib.sha256()
    for p in files:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    h.update(" ".join(sorted(j.name for j in jars.glob("*.jar"))).encode())
    return h.hexdigest()


def scalac(jars, out, classpath, files, log):
    out.mkdir(parents=True)
    args = out.parent / (out.name + ".args")
    args.write_text("\n".join(str(f) for f in files) + "\n")
    cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", "-cp", f"{jars}/*",
           "scala.tools.nsc.Main", "-nowarn", "-d", str(out), "-classpath", classpath,
           f"@{args}"]
    with open(log, "ab") as lf:
        rc = subprocess.run(cmd, stdout=lf, stderr=subprocess.STDOUT).returncode
    if rc != 0:
        raise BuildError(f"scalac failed (exit {rc}), see {log}")


def build():
    """Returns the classpath of the built benchmark, building if needed."""
    jars = spark_jars()
    main, bench, res = sources()
    out = build_dir()
    classes = out / "classes"
    cp = f"{classes}/bench:{classes}/main:{jars}/*"
    want = stamp(main + bench + res, jars)
    stamp_file = out / "build.stamp"
    if stamp_file.is_file() and stamp_file.read_text() == want and classes.is_dir():
        return cp, want
    out.mkdir(parents=True, exist_ok=True)
    tmp = out / "classes.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    log = out / "build.log"
    log.write_text("")
    scalac(jars, tmp / "main", f"{jars}/*", main, log)
    for r in res:
        dst = tmp / "main" / r.relative_to(ROOT / "src" / "main" / "resources")
        dst.parent.mkdir(parents=True, exist_ok=True)
        shutil.copyfile(r, dst)
    scalac(jars, tmp / "bench", f"{tmp}/main:{jars}/*", bench, log)
    shutil.rmtree(classes, ignore_errors=True)
    tmp.rename(classes)
    stamp_file.write_text(want)
    return cp, want


if __name__ == "__main__":
    try:
        print(build()[0])
    except BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        sys.exit(2)
