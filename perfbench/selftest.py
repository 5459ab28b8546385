"""Self-test of the benchmark on a tiny configuration: every workload,
untraced and traced, on the sf0.001 fixture with a small corpus. Checks
that the result line parses, that every op passed its output check, and
that the metrics are exactly those BENCHMARK.json names, with its units.

    python3 perfbench/selftest.py        # about 5 minutes on 4 cores
"""
import json
import subprocess
import sys
from pathlib import Path

BENCH = Path(__file__).resolve().parent
SPEC = json.loads((BENCH.parent / "BENCHMARK.json").read_text())
TINY = ["--sf", "sf0.001", "--seconds", "1", "--docs-per-batch", "24"]


def check(workload, trace):
    cmd = [sys.executable, str(BENCH / "run.py"), "--workload", workload,
           "--seed", "7", "--trace", str(trace)] + TINY
    p = subprocess.run(cmd, capture_output=True, text=True, timeout=600)
    if p.returncode != 0:
        return [f"exit {p.returncode}: {p.stderr[-2000:]}"]
    line = p.stdout.strip().splitlines()[-1]
    r = json.loads(line)
    problems = []
    if set(r) != {"correct", "attempted", "failed", "metrics"}:
        problems.append(f"keys {sorted(r)}")
    if r.get("correct") is not True or r.get("failed") != 0 or r.get("attempted", 0) < 1:
        problems.append(f"correct={r.get('correct')} attempted={r.get('attempted')} "
                        f"failed={r.get('failed')}: {p.stderr[-1500:]}")
    want = {m["name"]: m["unit"] for m in SPEC["per_layer" if trace else "end_to_end"]}
    got = {k: v.get("unit") for k, v in r.get("metrics", {}).items()}
    if set(got) != set(want):
        problems.append(f"missing {sorted(set(want) - set(got))}, "
                        f"unexpected {sorted(set(got) - set(want))}")
    problems += [f"{k}: unit {got[k]} != {want[k]}" for k in want if k in got and got[k] != want[k]]
    problems += [f"{k}: value {v['value']!r} is not a number"
                 for k, v in r.get("metrics", {}).items()
                 if not isinstance(v.get("value"), (int, float))]
    return problems


def main():
    failed = False
    for w in (x["name"] for x in SPEC["workloads"]):
        for trace in (0, 1):
            problems = check(w, trace)
            print(f"{w} trace={trace}: {'ok' if not problems else 'FAIL'}")
            for pr in problems:
                print(f"  {pr}")
            failed |= bool(problems)
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
