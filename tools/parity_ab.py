#!/usr/bin/env python
"""Row-identity check of named queries between two trees (r15 measurement
tool, not part of the bench contract).

Usage: python tools/parity_ab.py TREE_A TREE_B SF_DIR NAME [NAME ...]

Runs each named query in ONE session per tree (subprocess isolation so the
two trees' modules never mix), collects sorted rows, and diffs them. Each
subprocess runs from its tree's root: Spark's Python workers import the
package from the working directory, not from the driver's sys.path."""

from __future__ import annotations

import json
import subprocess
import sys

SNIPPET = r"""
import json, sys
sys.path.insert(0, sys.argv[1])
from batch_public_spark.plans import QUERIES
from batch_public_spark.session import get_spark
spark = get_spark("parity_ab")
out = {}
for name in sys.argv[3:]:
    df = QUERIES[name].fn(spark, sys.argv[2])
    rows = sorted([tuple(r) for r in df.collect()])
    out[name] = [list(map(repr, r)) for r in rows]
print("PARITY_JSON:" + json.dumps(out))
"""


def run_tree(tree: str, sf_dir: str, names: list[str]) -> dict:
    p = subprocess.run(
        [sys.executable, "-c", SNIPPET, tree, sf_dir, *names],
        capture_output=True, text=True, timeout=1800, cwd=tree,
    )
    for line in p.stdout.splitlines():
        if line.startswith("PARITY_JSON:"):
            return json.loads(line[len("PARITY_JSON:"):])
    raise RuntimeError(f"no output from {tree}:\n{p.stdout[-2000:]}\n{p.stderr[-3000:]}")


def main() -> None:
    tree_a, tree_b, sf_dir = sys.argv[1:4]
    names = sys.argv[4:]
    a = run_tree(tree_a, sf_dir, names)
    b = run_tree(tree_b, sf_dir, names)
    ok = True
    for name in names:
        if a[name] == b[name]:
            print(f"{name}: IDENTICAL ({len(a[name])} rows)")
        else:
            ok = False
            sa, sb = set(map(tuple, a[name])), set(map(tuple, b[name]))
            print(f"{name}: MISMATCH a={len(a[name])} b={len(b[name])} "
                  f"only_a={list(sa - sb)[:3]} only_b={list(sb - sa)[:3]}")
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
