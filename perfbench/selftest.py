#!/usr/bin/env python3
"""The benchmark's own checks: the tail-percentile rule, generator
determinism per seed, and the result checksum's canonical form (the last
runs in the JVM, ``graftbench.SelfTest``).

    python3 perfbench/selftest.py

Exits non-zero if any check fails.
"""
import hashlib
import os
import shutil
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402

failures = []


def check(name, ok):
    print(f"{'ok  ' if ok else 'FAIL'} {name}")
    if not ok:
        failures.append(name)


def digest(path):
    with open(path, "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()


def tree_digest(d):
    return {f: digest(os.path.join(d, f)) for f in sorted(os.listdir(d))}


def main():
    # at least 10 samples strictly beyond the reported percentile
    check("tail: 19 samples -> p50", run.tail_percentile(19) == 50)
    check("tail: 40 samples -> p75", run.tail_percentile(40) == 75)
    check("tail: 72 samples -> p75", run.tail_percentile(72) == 75)
    check("tail: 100 samples -> p90", run.tail_percentile(100) == 90)
    check("tail: 199 samples -> p90", run.tail_percentile(199) == 90)
    check("tail: 200 samples -> p95", run.tail_percentile(200) == 95)
    xs = list(range(1, 101))
    check("p50 of a symmetric sample is its median",
          abs(run.percentile([5, 1, 4, 3, 2], 50) - 3) < 1e-9)
    check("p90 of 1..100 is near 90.5", abs(run.percentile(xs, 90) - 90.5) < 0.01)
    check("percentile of a constant sample", abs(run.percentile([7] * 12, 75) - 7) < 1e-9)
    gap = [1.0] * 6 + [2.0] * 6
    check("p50 across a gap lies between its sides",
          1.2 < run.percentile(gap, 50) < 1.8
          and abs(run.percentile(gap, 50) - 1.5) < 1e-9)

    scratch = tempfile.mkdtemp(prefix="selftest-",
                               dir=os.path.dirname(build.build_dir())
                               if os.path.isdir(os.path.dirname(build.build_dir()))
                               else None)
    try:
        a, b, c = (os.path.join(scratch, n) for n in "abc")
        ca = gen.corpus(a, 7, 2000)
        cb = gen.corpus(b, 7, 2000)
        cc = gen.corpus(c, 8, 2000)
        check("corpus: same seed, same bytes", digest(a) == digest(b))
        check("corpus: same seed, same counts", ca == cb)
        check("corpus: other seed, other bytes", digest(a) != digest(c))
        words = open(a).read().split()
        check("corpus: counts match the text",
              sum(ca.values()) == len(words) and ca["w0"] == words.count("w0"))
        ta, tb = os.path.join(scratch, "ta"), os.path.join(scratch, "tb")
        gen.tables(ta, 0.001)
        gen.tables(tb, 0.001)
        check("tables: regenerated tables are byte-identical",
              tree_digest(ta) == tree_digest(tb))
        check("tables: all ten written", len(os.listdir(ta)) == 10)
    finally:
        shutil.rmtree(scratch, ignore_errors=True)

    classes = build.build()
    work = tempfile.mkdtemp(prefix="selftest-", dir=os.path.dirname(build.build_dir()))
    try:
        rc = run.java(classes, {"mode": "selftest"}, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    check("checksum canonical form (JVM)", rc == 0)
    if failures:
        sys.exit(f"{len(failures)} self-test(s) failed")


if __name__ == "__main__":
    main()
