"""Evidence must be in the tree: every ``BENCH/…`` path that SURVEY.md
or README.md cites has to exist, so no claim rests on an artifact a
reader cannot open."""

from __future__ import annotations

import re
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parents[1]


@pytest.mark.parametrize("doc", ["SURVEY.md", "README.md"])
def test_cited_bench_paths_exist(doc):
    text = (ROOT / doc).read_text(encoding="utf-8")
    # a path runs over name characters; trailing sentence punctuation
    # and a possessive "'s" are not part of it
    cited = {m.rstrip(".") for m in re.findall(r"BENCH/[\w./-]*", text)}
    missing = sorted(p for p in cited if not (ROOT / p).exists())
    assert not missing, f"{doc} cites files not in the tree: {missing}"
