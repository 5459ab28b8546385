"""Runs one benchmark workload and prints its result as the last line.

    python3 perfbench/run.py --workload micmac_ingest --seed 1 --seconds 10 --trace 0

Workloads: micmac_ingest, iterative_ops (see README.md).
--trace 0 reports the end-to-end metrics, --trace 1 the per-layer ones
(and writes the per-query count table of the ops it ran). The last
stdout line is one JSON object with the keys correct, attempted, failed
and metrics. Host context and the full result (samples, errors, count
table) are kept under <build dir>/results/.

    python3 perfbench/run.py --count-table OUT.tsv

writes the count table of all 200 contract queries instead: two passes
in one traced JVM, about 8 minutes on a 4-core host.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

sys.dont_write_bytecode = True
sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
WORKLOADS = ("micmac_ingest", "iterative_ops")
XMX = "3g"
JVM_TIMEOUT_S = 170
COUNT_TABLE_TIMEOUT_S = 3600
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
             "java.base/java.nio", "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def other_spark_jvms():
    """Pids of other running JVMs that load Spark."""
    found = []
    for d in Path("/proc").iterdir():
        if not d.name.isdigit() or int(d.name) == os.getpid():
            continue
        try:
            cmd = (d / "cmdline").read_bytes().split(b"\0")
        except OSError:
            continue
        if cmd and cmd[0].endswith(b"java") and any(b"spark" in a.lower() for a in cmd):
            found.append(int(d.name))
    return found


def host_context():
    nproc = len(os.sched_getaffinity(0))
    load = os.getloadavg()
    jvms = other_spark_jvms()
    flags = []
    if jvms:
        flags.append(f"{len(jvms)} other Spark JVM(s) running at start")
    if load[0] > nproc:
        flags.append(f"load {load[0]:.2f} above nproc {nproc} at start")
    return {"nproc": nproc, "load_before": list(load), "flags": flags}


def versions(jars):
    spark = sorted(p.name for p in jars.glob("spark-core_*.jar"))
    jdk = subprocess.run(["java", "-XX:-UsePerfData", "-version"],
                         capture_output=True, text=True).stderr
    # the checkout may not be a repository: never report an enclosing one
    env = os.environ | {"GIT_CEILING_DIRECTORIES": str(ROOT.parent)}
    commit = subprocess.run(["git", "-C", str(ROOT), "rev-parse", "HEAD"],
                            capture_output=True, text=True, env=env)
    return {"spark": spark[0].split("-", 1)[1].removesuffix(".jar") if spark else None,
            "jdk": jdk.splitlines()[0] if jdk else None,
            "git_commit": commit.stdout.strip() if commit.returncode == 0 else None}


def run_jvm(cp, argv, work, log, timeout):
    cmd = (["java", f"-Xmx{XMX}", "-XX:+UseG1GC", "-Xss8m", "-XX:-UsePerfData"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + [f"-Djava.io.tmpdir={work / 'tmp'}",
              f"-Dlog4j2.configurationFile={BENCH / 'log4j2.properties'}",
              "-Dspark.ui.enabled=false", "-cp", cp, "graftbench.Main"] + argv)
    (work / "tmp").mkdir(parents=True, exist_ok=True)
    with open(log, "wb") as lf:
        p = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT, cwd=work,
                             start_new_session=True)
        try:
            return p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            return None


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", default="sf0.01", help="fixture under perfbench/data")
    ap.add_argument("--docs-per-batch", type=int, default=500)
    ap.add_argument("--count-table", type=Path)
    a = ap.parse_args()
    if not a.workload and not a.count_table:
        ap.error("--workload or --count-table is required")

    ctx = host_context()
    data = BENCH / "data"
    if not (data / a.sf).is_dir() or not (data / "sf0.001").is_dir():
        print(f"fixture {data / a.sf} not found", file=sys.stderr)
        return 2
    try:
        cp, src_hash = build.build()
        jars = build.spark_jars()
    except build.BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        return 2

    tag = f"{a.workload or 'count_table'}-s{a.seed}-t{a.trace}-{os.getpid()}"
    out_dir = build.build_dir() / "results"
    out_dir.mkdir(parents=True, exist_ok=True)
    work = build.build_dir() / "work" / tag
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    result_file = out_dir / f"{tag}.json"
    argv = ["--seed", str(a.seed), "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--sf", str(data / a.sf), "--warm-sf", str(data / "sf0.001"),
            "--work", str(work), "--out", str(result_file),
            "--golden", str(BENCH / "golden_rows.tsv"),
            "--docs-per-batch", str(a.docs_per_batch)]
    if a.count_table:
        argv += ["--count-table", str(a.count_table.resolve())]
    else:
        argv += ["--workload", a.workload]

    t0 = time.time()
    log = out_dir / f"{tag}.log"
    rc = run_jvm(cp, argv, work, log,
                 COUNT_TABLE_TIMEOUT_S if a.count_table else JVM_TIMEOUT_S)
    ctx.update(versions(jars))
    ctx.update({"load_after": list(os.getloadavg()), "xmx": XMX, "seed": a.seed,
                "source_sha256": src_hash, "wall_s": round(time.time() - t0, 3)})
    shutil.rmtree(work, ignore_errors=True)
    if rc != 0:
        reason = "timed out" if rc is None else f"exited {rc}"
        tail = log.read_text(errors="replace").splitlines()[-30:]
        print(f"benchmark JVM {reason}; log {log}:\n" + "\n".join(tail), file=sys.stderr)
        return 1
    if a.count_table:
        print(f"count table written to {a.count_table}", file=sys.stderr)
        return 0

    full = json.loads(result_file.read_text())
    full["host"] = ctx
    full["args"] = vars(a) | {"count_table": None}
    result_file.write_text(json.dumps(full, indent=1) + "\n")
    print(f"host: {json.dumps(ctx)}", file=sys.stderr)
    for flag in ctx["flags"]:
        print(f"WARNING: {flag}; this result may be inflated", file=sys.stderr)
    for e in full["errors"]:
        print(f"failed op: {e}", file=sys.stderr)
    print(json.dumps({k: full[k] for k in ("correct", "attempted", "failed", "metrics")}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
