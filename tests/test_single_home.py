"""The incremental-index lifecycle has ONE home, `sources/layout.py`.
Six copies of it once drifted apart (LSH compaction never dropped
replayed rows; the admission state read ignored pending deletes), so
this scan fails when a copy of the tombstone path, the per-key
conflict guard or the Hamming band-key explode appears anywhere
else in the package."""

from __future__ import annotations

import pathlib
import re

import pytest

PKG = pathlib.Path(__file__).resolve().parent.parent / "jly_flink_spark"
HOME = "sources/layout.py"

PIECES = {
    "tombstone suffix": re.compile(r"\.tombstones\b"),
    "conflict guard": re.compile(r"has conflicting [\w{}]+ values"),
    "hamming band explode": re.compile(
        r"shiftright\((?:(?!shiftright).){0,200}?\.alias\(\"bkey\"\)",
        re.S,
    ),
}


@pytest.mark.parametrize("piece", sorted(PIECES))
def test_lifecycle_piece_has_one_home(piece):
    pattern = PIECES[piece]
    homes = sorted(
        p.relative_to(PKG).as_posix()
        for p in PKG.rglob("*.py")
        if pattern.search(p.read_text())
    )
    assert homes == [HOME]
