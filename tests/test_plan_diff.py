"""``scripts/plan_diff.py:norm`` must treat two captures of one plan made
in different processes as identical: each engine process keeps its
scratch dirs under its own ``<tmp>/sparkgraft-<pid>-<starttime>/`` root,
so the paths in a streaming parity's scans differ in the root, the
per-query dir names below it, and the temp dir itself."""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

_PLAN = """\
(1) Scan parquet
Output [2]: [k#{a}, v#{b}L]
Location: InMemoryFileIndex [file:{root}/itemstats_{q}/state/seg=0, \
file:{root}/itemstats_{q}/state/batch=3]
ReadSchema: struct<k:string,v:bigint>

(2) Scan parquet
Location: InMemoryFileIndex [file:{data}/part.parquet]
"""


def _norm(tmp_path, name: str, **kw) -> str:
    from scripts.plan_diff import norm

    p = tmp_path / name
    p.write_text(_PLAN.format(**kw))
    return norm(str(p))


def test_norm_ignores_the_process_scratch_root(tmp_path):
    a = _norm(tmp_path, "a.txt", a=12, b=13, q="ab12cd", data="/data/sf1",
              root="/tmp/sparkgraft-4242-991")
    b = _norm(tmp_path, "b.txt", a=40, b=41, q="x9_7f", data="/data/sf1",
              root="/var/tmp/sparkgraft-77-123456")
    assert a == b
    assert "sparkgraft" not in a


def test_norm_keeps_paths_outside_the_scratch_root(tmp_path):
    root = "/tmp/sparkgraft-4242-991"
    a = _norm(tmp_path, "a.txt", a=1, b=2, q="q", data="/data/sf1", root=root)
    b = _norm(tmp_path, "b.txt", a=1, b=2, q="q", data="/data/sf2", root=root)
    assert a != b
