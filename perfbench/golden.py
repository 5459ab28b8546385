"""Writes the golden row counts the benchmark checks each query against.

    python3 perfbench/golden.py SF VERIFY_OUT_DIR

VERIFY_OUT_DIR is a `graft.Verify` dump of the fixture perfbench/data/SF
that passes `tools/oracle_check.py`. The counts of every query in it
replace the SF rows of perfbench/golden_rows.tsv.
"""
import sys
from pathlib import Path

import duckdb

GOLDEN = Path(__file__).resolve().parent / "golden_rows.tsv"


def main(sf, dump):
    con = duckdb.connect()
    rows = []
    for d in sorted(p for p in Path(dump).iterdir() if p.is_dir()):
        files = list(d.glob("*.parquet"))
        n = con.execute("SELECT count(*) FROM read_parquet(?)",
                        [[str(f) for f in files]]).fetchone()[0] if files else 0
        rows.append(f"{sf}\t{d.name}\t{n}")
    keep = []
    if GOLDEN.exists():
        keep = [l for l in GOLDEN.read_text().splitlines()
                if l and not l.startswith("#") and l.split("\t")[0] != sf]
    header = "# sf\tquery\trows (from a graft.Verify dump that passes tools/oracle_check.py)"
    GOLDEN.write_text("\n".join([header] + sorted(keep + rows)) + "\n")
    print(f"{len(rows)} golden counts for {sf}")


if __name__ == "__main__":
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    main(sys.argv[1], sys.argv[2])
