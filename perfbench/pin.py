#!/usr/bin/env python3
"""Survey entries on the benchmark's tables and (re)write the pinned file.

    python3 perfbench/pin.py survey OUT.tsv [NAME ...]
    python3 perfbench/pin.py pin

``survey`` runs the named entries (default: all) twice in one session and
writes, per entry: name, kind (oracle|rows), rows, checksum, eager jobs,
first and second latency, and status (``ok``, an error, or ``UNSTABLE``
when the second run's checksum differs).

``pin`` surveys every entry of the cold_eager list and rewrites
``expected/pinned.tsv`` (name, kind, rows, checksum). Only pin from a tree
whose outputs pass the DuckDB oracle on the same tables (``Verify`` plus
``tools/verify_local.py`` pointed at the generated table directory that
``survey`` prints).
"""
import os
import shutil
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402
import run  # noqa: E402


def survey(out, names):
    classes = build.build()
    tables = run.tables_dir()
    print(f"tables: {tables}", file=sys.stderr)
    work = tempfile.mkdtemp(prefix="pin-", dir=os.path.dirname(build.build_dir()))
    try:
        entries = "ALL"
        if names:
            entries = os.path.join(work, "entries.txt")
            with open(entries, "w") as f:
                f.write("\n".join(names) + "\n")
        conf = {"mode": "pin", "tables": tables, "work": work,
                "cores": run.cores(), "entries": entries,
                "out": os.path.abspath(out)}
        rc = run.java(classes, conf, work, timeout=3000)
        if rc != 0:
            sys.exit(f"pin: client exited with {rc}")
    finally:
        shutil.rmtree(work, ignore_errors=True)


def pin():
    names = run.entry_list("cold_eager")
    tmp = os.path.join(os.path.dirname(build.build_dir()), "survey.tsv")
    survey(tmp, names)
    rows = [l.rstrip("\n").split("\t") for l in open(tmp)]
    bad = [r for r in rows if r[7] != "ok" and not (r[1] == "rows" and r[7].startswith("UNSTABLE"))]
    if bad:
        sys.exit("pin: not pinned, entries failed:\n" +
                 "\n".join(f"{r[0]}: {r[7]}" for r in bad))
    with open(os.path.join(HERE, "expected", "pinned.tsv"), "w") as f:
        f.write("# name\tkind\trows\tchecksum (see pin.py)\n")
        for r in rows:
            f.write("\t".join(r[:4]) + "\n")


if __name__ == "__main__":
    if sys.argv[1:2] == ["survey"] and len(sys.argv) >= 3:
        survey(sys.argv[2], sys.argv[3:])
    elif sys.argv[1:] == ["pin"]:
        pin()
    else:
        sys.exit(__doc__)
