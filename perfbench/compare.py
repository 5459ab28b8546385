"""Compares two per-query count tables (from `run.py --count-table` or a
traced run's `.counts.tsv`).

    python3 perfbench/compare.py BEFORE.tsv AFTER.tsv

Counts (rows, jobs, stages, tasks, micro-batches) do not depend on host
load, so any difference is flagged. Shuffle bytes are flagged when they
move by more than 1 % (compressed block sizes shift by about 0.1 % with
row order). Wall time is flagged only when the two tables' [min, max]
ranges do not overlap, i.e. when the change falls outside the spread
each table recorded; a query timed once in either table has no recorded
spread, and its wall time is not compared. Exits 1 when anything is
flagged.
"""
import csv
import sys

COUNTS = ("ok", "rows", "jobs", "stages", "tasks", "microbatches")
BYTES = ("shuffle_write_bytes", "shuffle_read_bytes")
BYTES_TOLERANCE = 0.01


def load(path):
    with open(path, newline="") as f:
        return {r["query"]: r for r in csv.DictReader(f, delimiter="\t")}


def compare(before, after):
    flags = []
    for q in sorted(before.keys() | after.keys()):
        if q not in before or q not in after:
            flags.append(f"{q}: only in {'after' if q in after else 'before'}")
            continue
        b, a = before[q], after[q]
        for k in COUNTS:
            if b[k] != a[k]:
                flags.append(f"{q}: {k} {b[k]} -> {a[k]}")
        for k in BYTES:
            x, y = int(b[k]), int(a[k])
            if abs(y - x) > BYTES_TOLERANCE * max(x, y, 1):
                flags.append(f"{q}: {k} {x} -> {y}")
        for t, name in ((b, "before"), (a, "after")):
            if t["counts_stable"] != "1":
                flags.append(f"{q}: counts differ between the {name} table's own runs")
        b_lo, b_hi = float(b["wall_min_s"]), float(b["wall_max_s"])
        a_lo, a_hi = float(a["wall_min_s"]), float(a["wall_max_s"])
        spread = int(b["runs"]) > 1 and int(a["runs"]) > 1
        if spread and (a_lo > b_hi or a_hi < b_lo):
            flags.append(f"{q}: wall {b['wall_p50_s']} s [{b_lo}, {b_hi}] -> "
                         f"{a['wall_p50_s']} s [{a_lo}, {a_hi}]")
    return flags


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    before, after = load(sys.argv[1]), load(sys.argv[2])
    flags = compare(before, after)
    for f in flags:
        print(f)
    common = before.keys() & after.keys()
    tot = {k: (sum(int(before[q][k]) for q in common), sum(int(after[q][k]) for q in common))
           for k in ("jobs", "stages", "tasks")}
    print(f"{len(common)} queries in both; " + ", ".join(
        f"{k} {b} -> {a}" for k, (b, a) in tot.items()) + f"; {len(flags)} flagged")
    return 1 if flags else 0


if __name__ == "__main__":
    sys.exit(main())
