"""Normalized diff of the ``plans/r<N>/<query>_{before,after}.txt``
captures: strips the session-dependent artifacts (expression ids,
plan ids, lambda variable names, engine scratch paths,
MapPartitionsRDD numbers, batch ids) and reports whether each pair is
shape-identical. The optimization rounds' claim "this change alters
no physical plan" is checked by exactly this normalization.

Usage: python scripts/plan_diff.py [--round 15] [--verbose]
"""

from __future__ import annotations

import argparse
import difflib
import glob
import os
import re


#: a path into an engine scratch dir, under any temp dir: the per-process
#: root ``sparkgraft-<pid>-<starttime>`` (materialize.py) or the older
#: ``spark-graft-*``/``spark_graft_*`` dirs, with the rest of the path
_SCRATCH = re.compile(
    r"(?:/[^\s,()\[\]/]+)*/(?:sparkgraft-\d+-\d+|spark[-_]graft[-_])"
    r"[^\s,)\]]*"
)


def norm(path: str) -> str:
    t = open(path).read()
    t = re.sub(r"#\d+", "#N", t)  # expression ids
    t = re.sub(r"plan_id=\d+", "plan_id=N", t)
    t = _SCRATCH.sub("TMP", t)
    t = re.sub(r"spark-warehouse[^\s,\)\]]*", "WH", t)
    t = re.sub(r"cachedrdd-\d+", "cachedrdd-N", t)
    t = re.sub(r"MapPartitionsRDD\[\d+\]", "MapPartitionsRDD[N]", t)
    t = re.sub(r"batch=\d+", "batch=N", t)
    t = re.sub(r"Statistics\([^)]*\)", "STATS", t)
    # lambda variable NAMES differ between the lambda-HOF builder
    # (x_120) and the parsed SQL form (acc/v) — same expression tree
    t = re.sub(r"lambda [A-Za-z]+(_\d+)?#N", "lambda L#N", t)
    return t


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--round", type=int, default=15)
    ap.add_argument("--verbose", action="store_true")
    args = ap.parse_args()
    root = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "plans",
        f"r{args.round}",
    )
    names = sorted(
        {
            os.path.basename(p).rsplit("_", 1)[0]
            for p in glob.glob(os.path.join(root, "*_before.txt"))
        }
    )
    n_diff = 0
    for n in names:
        after = os.path.join(root, f"{n}_after.txt")
        if not os.path.exists(after):
            print(f"{n}: no after capture (measured-and-rejected entry)")
            continue
        nb = norm(os.path.join(root, f"{n}_before.txt"))
        na = norm(after)
        if nb == na:
            print(f"{n}: IDENTICAL (normalized)")
        else:
            n_diff += 1
            print(f"{n}: DIFFERS")
            if args.verbose:
                print(
                    "\n".join(
                        difflib.unified_diff(
                            nb.splitlines(), na.splitlines(), lineterm=""
                        )
                    )
                )
    return 1 if n_diff else 0


if __name__ == "__main__":
    raise SystemExit(main())
