from __future__ import annotations

import json
import os

import gen
import oracle

UNIVERSE = gen.Universe(movies=50, customers=40)
SHAPE = gen.Shape(files=6, docs_per_file=30, watchers_per_doc=4, corrupt_lines=3)


def _snapshot(root: str) -> dict:
    out = {}
    for name in sorted(os.listdir(root)):
        path = os.path.join(root, name)
        with open(path, "rb") as f:
            out[name] = (f.read(), os.stat(path).st_mtime)
    return out


def test_same_seed_same_bytes_and_mtimes(tmp_path):
    a = gen.Generator(UNIVERSE, 7).write(str(tmp_path / "a"), SHAPE)
    b = gen.Generator(UNIVERSE, 7).write(str(tmp_path / "b"), SHAPE)
    c = gen.Generator(UNIVERSE, 8).write(str(tmp_path / "c"), SHAPE)
    assert _snapshot(a.root) == _snapshot(b.root)
    assert _snapshot(a.root) != _snapshot(c.root)
    mtimes = [os.stat(p).st_mtime for p in a.json_files]
    assert mtimes == sorted(set(mtimes))  # distinct and in file order


def test_corpus_properties(tmp_path):
    c = gen.Generator(UNIVERSE, 3).write(str(tmp_path), SHAPE)
    assert len(c.json_files) == SHAPE.files and c.decoy.endswith(".txt")
    lines = [ln for p in c.json_files for ln in open(p).read().splitlines()]
    assert len(lines) == SHAPE.files * SHAPE.docs_per_file
    rows = oracle.explode_files(c.json_files)
    assert len(rows) == c.valid_ratings
    decodable = len(oracle.explode_lines(lines))
    assert decodable == c.valid_ratings
    # the planted corrupt lines are exactly the undecodable ones
    bad = 0
    for ln in lines:
        try:
            json.loads(ln)
        except json.JSONDecodeError:
            bad += 1
    assert bad == SHAPE.corrupt_lines
    dates = {r[5] for r in rows}
    assert dates & set(gen.MALFORMED_DATES)  # some malformed dates
    assert any(r[4] == 0 for r in rows)  # some missing ratings
    keys = [(r[3], r[0]) for r in rows]
    assert len(set(keys)) < len(keys)  # pairs repeat
