#!/usr/bin/env python3
"""Generate OPERATORS.md — the user-facing per-entry operator index
(round-10 verdict suggestion; round-11 verdict item 6): every
`SparkEntry.queries` entry linked to the file that defines it and to
its correctness provenance (DuckDB oracle hash at sf0.01, or the
rows-only pinning ScalaTest suite from `SparkEntry.rowsOnlyProvenance`).

Inputs are all derived from the tree + the newest driver correctness
artifact, so the index can be regenerated every round:

  python3 tools/gen_operator_index.py
"""
import glob
import json
import os
import re
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def newest_correctness():
    stamped = sorted(glob.glob(os.path.join(ROOT, "CORRECTNESS_r*.json")))
    if not stamped:
        sys.exit("no CORRECTNESS_r*.json found")
    return stamped[-1], json.load(open(stamped[-1]))


def defining_files(names):
    """entry name -> repo-relative file defining its `"name" ->` binding."""
    out = {}
    # PlanAudit/SparkEntry hold per-entry REFERENCE maps (plan
    # predicates, rows-only provenance), not definitions
    grep = subprocess.run(
        ["grep", "-rn", "-e", '" ->', "--include=*.scala",
         "--exclude=PlanAudit.scala", "--exclude=SparkEntry.scala",
         os.path.join(ROOT, "src/main/scala")],
        capture_output=True, text=True).stdout
    pat = re.compile(r'^([^:]+):\d+:\s*"([A-Za-z0-9_]+)" ->')
    for line in grep.splitlines():
        m = pat.match(line)
        if m and m.group(2) in names:
            rel = os.path.relpath(m.group(1), ROOT)
            # an entry bound in more than one file would be a bug the
            # Map ++ would hide (last module wins) — surface it
            if m.group(2) in out and out[m.group(2)] != rel:
                print(f"WARN: {m.group(2)} bound in {out[m.group(2)]} "
                      f"and {rel}", file=sys.stderr)
            out[m.group(2)] = rel
    return out


def rows_only_suites():
    src = open(os.path.join(
        ROOT, "src/main/scala/graft/SparkEntry.scala")).read()
    body = src.split("def rowsOnlyProvenance", 1)[1]
    return dict(re.findall(r'"([A-Za-z0-9_]+)" -> "([A-Za-z0-9_]+)"', body))


def main():
    art_path, art = newest_correctness()
    names = sorted(art)
    files = defining_files(set(names))
    suites = rows_only_suites()
    missing = [n for n in names if n not in files]
    if missing:
        print(f"WARN: no defining file found for {missing}",
              file=sys.stderr)

    by_file = {}
    for n in names:
        by_file.setdefault(files.get(n, "?"), []).append(n)

    n_oracle = sum(1 for v in art.values() if v.get("hash_match"))
    n_rows = len(names) - n_oracle
    lines = [
        "# Operator index",
        "",
        "Every driver-checked entry in `SparkEntry.queries` — the name you",
        "pass to `graft.Verify`/`graft.Probe`/`SPARK_GRAFT_BENCH_ONLY`",
        "— with the file defining it and how its correctness is pinned:",
        "",
        f"- **oracle** ({n_oracle} entries): hash-matched against DuckDB",
        "  running `SparkEntry.oracleSql` on the same parquet tables",
        f"  (rows+schema+hash green in `{os.path.basename(art_path)}`).",
        f"- **rows-only** ({n_rows} entries): not SQL-expressible",
        "  (streaming, iterative floats, filesystem effects, approximate",
        "  sketches); semantics pinned by the named ScalaTest suite",
        "  (`SparkEntry.rowsOnlyProvenance`).",
        "",
        "Regenerate with `python3 tools/gen_operator_index.py` after the",
        "driver stamps a new `CORRECTNESS_r*.json`.",
        "",
    ]
    for f in sorted(by_file):
        lines.append(f"## `{f}`")
        lines.append("")
        lines.append("| entry | correctness |")
        lines.append("|---|---|")
        for n in by_file[f]:
            if art[n].get("hash_match"):
                prov = "oracle"
            elif art[n].get("err") == "no_oracle":
                suite = suites.get(n)
                prov = f"rows-only — {suite}" if suite else "rows-only"
            else:
                prov = f"UNRESOLVED ({art[n].get('err')})"
            lines.append(f"| `{n}` | {prov} |")
        lines.append("")
    out = os.path.join(ROOT, "OPERATORS.md")
    with open(out, "w") as fh:
        fh.write("\n".join(lines))
    print(f"wrote {out}: {len(names)} entries over {len(by_file)} files "
          f"({n_oracle} oracle, {n_rows} rows-only)")


if __name__ == "__main__":
    main()
