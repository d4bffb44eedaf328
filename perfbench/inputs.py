"""Seeded inputs: the corpus, the query mix, the oracle's answers and
the ingest payloads.

Everything here is a pure function of the seed. Corpora come from
``fixtures/gen_corpus.gen_corpus`` and are cached as parquet per
(seed, size), because generation is pure Python (about 2,000 docs/s);
the oracle's answers are cached beside them for the same reason.
"""

from __future__ import annotations

import json
import os
from pathlib import Path

import numpy as np
import pandas as pd

from fixtures.gen_corpus import _WORDS, gen_corpus

# Zipf rank bands of the generator's vocabulary
HOT = _WORDS[:12]
MID = _WORDS[12:70]
RARE = _WORDS[95:]

SHAPES = (
    "and2", "and3", "or2", "or3", "not", "phrase", "prefix",
    "tree_or_and", "tree_or_not", "hot", "rare", "hot_rare",
)
# shapes whose answer the frozen pandas oracle can score (flat AND/OR/NOT)
FLAT = {"and2", "and3", "or2", "or3", "not", "hot", "rare", "hot_rare"}


def corpus(cache_dir: Path, n: int, seed: int) -> pd.DataFrame:
    path = cache_dir / f"corpus-s{seed}-n{n}.parquet"
    if path.exists():
        return pd.read_parquet(path)
    df = gen_corpus(n, seed=seed)
    cache_dir.mkdir(parents=True, exist_ok=True)
    tmp = path.with_suffix(".tmp")
    df.to_parquet(tmp, index=False)
    tmp.rename(path)
    return df


def oracle_answers(cache_dir: Path, n: int, seed: int, flat: dict, score, k: int) -> dict:
    """The oracle's answers to the flat queries ``flat`` (text -> spec),
    cached as JSON next to the corpus. ``score(spec)`` is the oracle's
    frame of every scored doc (``doc_id`` is the corpus row number: the
    real doc ids are known only once Spark has hashed the keys). Kept
    are the rows scoring at least the k-th best, ties included: enough
    to rank the top k by real doc id later."""
    path = cache_dir / f"oracle-s{seed}-n{n}.json"
    known = json.loads(path.read_text()) if path.exists() else {}
    missing = [t for t in flat if t not in known]
    for text in missing:
        exp = score(flat[text])
        if len(exp):
            exp = exp[exp["score"] >= exp["score"].iloc[min(k, len(exp)) - 1] - 1e-6]
        known[text] = {"row": exp["doc_id"].tolist(), "score": exp["score"].tolist()}
    if missing:
        cache_dir.mkdir(parents=True, exist_ok=True)
        tmp = path.with_suffix(f".tmp{os.getpid()}")
        tmp.write_text(json.dumps(known))
        tmp.rename(path)
    return {t: known[t] for t in flat}


class TermIndex:
    """term -> set of row numbers, over the analyzed corpus: enough to
    decide before a run that a drawn query has at least one hit."""

    def __init__(self, tokens: pd.Series):
        self.tokens = list(tokens)
        self.docs: dict[str, set[int]] = {}
        for i, toks in enumerate(self.tokens):
            for t in toks:
                self.docs.setdefault(t, set()).add(i)

    def all(self, terms) -> set[int]:
        sets = [self.docs.get(t, set()) for t in terms]
        return set.intersection(*sets) if sets else set()

    def any(self, terms) -> set[int]:
        return set().union(*(self.docs.get(t, set()) for t in terms))

    def phrase(self, a: str, b: str) -> set[int]:
        return {
            i for i in self.all([a, b])
            if any(x == a and y == b for x, y in zip(self.tokens[i], self.tokens[i][1:]))
        }

    def prefix(self, p: str) -> set[int]:
        return self.any([t for t in self.docs if t.startswith(p)])


def _draw(rng, pool, n=1):
    return list(rng.choice(pool, size=n, replace=False))


def make_query(rng, shape: str) -> tuple[str, dict]:
    """One query text of ``shape`` plus what its hit test needs."""
    if shape == "and2":
        a, b = _draw(rng, MID, 2)
        return f"{a} {b}", {"op": "AND", "terms": [a, b]}
    if shape == "and3":
        a, b, c = _draw(rng, HOT, 3)
        return f"{a} {b} {c}", {"op": "AND", "terms": [a, b, c]}
    if shape == "or2":
        a, b = _draw(rng, MID, 2)
        return f"{a} OR {b}", {"op": "OR", "terms": [a, b]}
    if shape == "or3":
        a, b, c = _draw(rng, RARE, 3)
        return f"{a} OR {b} OR {c}", {"op": "OR", "terms": [a, b, c]}
    if shape == "not":
        (a,), (b,) = _draw(rng, HOT), _draw(rng, MID)
        return f"{a} -{b}", {"op": "AND", "terms": [a], "not": [b]}
    if shape == "phrase":
        a, b = _draw(rng, HOT, 2)
        return f'"{a} {b}"', {"phrase": (a, b)}
    if shape == "prefix":
        (a,) = _draw(rng, [w for w in MID if len(w) >= 4])
        return f"{a[:3]}*", {"prefix": a[:3]}
    if shape == "tree_or_and":
        a, b = _draw(rng, MID, 2)
        (c,) = _draw(rng, HOT)
        return f"({a} OR {b}) {c}", {"tree": ("and", a, b, c)}
    if shape == "tree_or_not":
        a, b = _draw(rng, HOT, 2)
        (c,) = _draw(rng, MID)
        return f"({a} OR {b}) -{c}", {"tree": ("not", a, b, c)}
    if shape == "hot":
        (a,) = _draw(rng, HOT[:6])
        return a, {"op": "AND", "terms": [a]}
    if shape == "rare":
        (a,) = _draw(rng, RARE)
        return a, {"op": "AND", "terms": [a]}
    if shape == "hot_rare":
        (a,), (b,) = _draw(rng, HOT), _draw(rng, RARE)
        return f"{a} {b}", {"op": "AND", "terms": [a, b]}
    raise ValueError(shape)


def hits(ix: TermIndex, spec: dict) -> set[int]:
    if "phrase" in spec:
        return ix.phrase(*spec["phrase"])
    if "prefix" in spec:
        return ix.prefix(spec["prefix"])
    if "tree" in spec:
        kind, a, b, c = spec["tree"]
        either = ix.any([a, b])
        return either & ix.docs.get(c, set()) if kind == "and" else either - ix.docs.get(c, set())
    got = ix.all(spec["terms"]) if spec["op"] == "AND" else ix.any(spec["terms"])
    return got - ix.any(spec.get("not", []))


def query_stream(ix: TermIndex, seed: int, n: int) -> list[tuple[str, str, dict]]:
    """``n`` (shape, text, spec) draws, each redrawn until the corpus has
    at least one hit for it. Shapes are stratified: every block of
    ``len(SHAPES)`` draws holds each shape once, in a seeded order, so a
    48-query batch has four of each and the work per batch does not
    swing with the seed's shape mix."""
    rng = np.random.default_rng([seed, 7])
    out = []
    for i in range(n):
        if i % len(SHAPES) == 0:
            order = rng.permutation(len(SHAPES))
        shape = SHAPES[int(order[i % len(SHAPES)])]
        for _ in range(200):
            text, spec = make_query(rng, shape)
            if hits(ix, spec):
                break
        else:
            raise RuntimeError(f"no {shape} query with a hit for seed {seed}")
        out.append((shape, text, spec))
    return out


def ingest_payloads(base: pd.DataFrame, seed: int, cycles: int, n_new: int, n_upd: int):
    """Per cycle: new docs and updated base docs, all carrying the
    cycle's marker token. Updates take base rows in order, so no key is
    updated twice."""
    out = []
    for c in range(cycles):
        marker = f"cyclemark{c:03d}"
        new = gen_corpus(n_new, seed=seed * 1000 + c + 1)
        new["path"] = f"ingest/c{c}/" + new["path"]
        upd = base.iloc[c * n_upd:(c + 1) * n_upd].copy()
        upd["commit"] = [f"upd-{seed}-{c}-{i}" for i in range(len(upd))]
        batch = pd.concat([new, upd], ignore_index=True)
        batch["content"] = batch["content"] + " " + marker
        out.append({"marker": marker, "docs": batch})
    return out
