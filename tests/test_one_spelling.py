"""Static guard: a formula the package spells once stays spelled once.

Each retired spelling below has one home. A copy of it anywhere else in
the package is a second definition that can drift from the first, so
this scan fails on it and names the file and line.
"""

from __future__ import annotations

import ast
import re
from pathlib import Path

PKG = Path(__file__).resolve().parent.parent / "kafka_flink_exactlyonce_example_spark"

#: (name, pattern over one source line, the one module allowed to hold it)
RETIRED = [
    (
        "normalized-text digest (hashing.text_digest)",
        re.compile(r"md5\(\s*F\.lower\(\s*F\.trim\("),
        "functions/hashing.py",
    ),
    (
        "word-set Jaccard (similarity.jaccard)",
        re.compile(r"array_intersect\("),
        "functions/similarity.py",
    ),
]


def _sources():
    for path in sorted(PKG.rglob("*.py")):
        yield path.relative_to(PKG).as_posix(), path.read_text()


def test_retired_spellings_live_only_in_their_home_module():
    found = []
    for rel, src in _sources():
        for lineno, line in enumerate(src.splitlines(), 1):
            for name, pat, home in RETIRED:
                if rel != home and pat.search(line):
                    found.append(f"{rel}:{lineno}: {name}: {line.strip()}")
    assert not found, "second spellings:\n" + "\n".join(found)


def test_foreach_batch_wiring_lives_only_in_run_exactly_once():
    """Every exactly-once stream starts through
    ``streaming.jobs.run_exactly_once``; a second
    ``writeStream.foreachBatch(`` chain re-spells its checkpoint and
    trigger wiring."""
    found = []
    for rel, src in _sources():
        tree = ast.parse(src)
        owner = {}
        for fn in ast.walk(tree):
            if isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
                for line in range(fn.lineno, fn.end_lineno + 1):
                    # ast.walk is breadth-first: the innermost def wins
                    owner[line] = fn.name
        for lineno, line in enumerate(src.splitlines(), 1):
            if "writeStream.foreachBatch(" not in line:
                continue
            where = (rel, owner.get(lineno))
            if where != ("streaming/jobs.py", "run_exactly_once"):
                found.append(f"{rel}:{lineno}: {line.strip()}")
    assert not found, "foreachBatch wiring outside run_exactly_once:\n" + (
        "\n".join(found)
    )
