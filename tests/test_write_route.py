"""The driver route of append_segment / delete_by_pk / compact
(streaming/incremental.py module docstring) against their Spark plans.

At test sizes every index is under the write caps in ``index``, so a
plain call takes the driver route; setting the caps to 0 forces the
Spark plans. Both routes run the same kernels over the same file format,
so after every write they must leave identical answers, lexicon rows,
``stats.json``, manifests (timings aside), docmap rows (docnos aside:
each route numbers a new segment's docs in its own order) and
tombstones, and ``fsck_index`` must pass. A driver-route append or
delete starts at most one Spark job, a driver-route compaction none."""

from __future__ import annotations

import json
import shutil
from pathlib import Path

import numpy as np
import pandas as pd
import pyarrow.dataset as pds
import pytest

from fastcatsearch3_spark import index as index_mod
from fastcatsearch3_spark.collection import Collection
from fastcatsearch3_spark.index import IndexStore
from fastcatsearch3_spark.operators.fsck import fsck_index
from fastcatsearch3_spark.operators.ingest import normalize_corpus
from fastcatsearch3_spark.streaming.incremental import dedup_latest
from fixtures.gen_corpus import gen_corpus, gen_corpus_delta
from tests.test_driver_route import BASE_N, CFG, _jobs, _queries, _rows


def _spark_caps(m) -> None:
    m.setattr(index_mod, "LOCAL_MAX_BYTES", 0)


@pytest.fixture(scope="module")
def base(spark, tmp_path_factory):
    """(base corpus, root of its built index — copy before writing)."""
    pdf = gen_corpus(BASE_N, seed=42)
    root = str(tmp_path_factory.mktemp("write_base"))
    Collection(spark, root, CFG).build(normalize_corpus(spark.createDataFrame(pdf)))
    return pdf, root


def _copy(spark, base, tmp_path, name: str) -> Collection:
    root = tmp_path / name
    shutil.copytree(base[1], root)
    return Collection(spark, str(root), CFG)


def _table(root: str, sub: str, drop: tuple[str, ...] = ()) -> list[tuple]:
    """Sorted rows of ``<root>/<sub>`` (columns in name order)."""
    p = Path(root, sub)
    if not p.exists():
        return []
    t = pds.dataset(str(p), format="parquet", partitioning="hive").to_table()
    cols = sorted(c for c in t.column_names if c not in drop)
    return sorted(zip(*(t.column(c).to_pylist() for c in cols)))


def _state(col: Collection, queries: dict) -> dict:
    """Everything both routes must agree on after a write."""
    root = Path(col.root)
    manifests = {}
    for p in sorted((root / "manifest").glob("segment-*.json")):
        m = json.loads(p.read_text())
        metrics = m.pop("metrics")
        assert "elapsed_sec" in metrics
        manifests[p.name] = m
    return {
        "answers": {
            s: _rows(col.search(q, k=10)) for s, q in queries.items()
        },
        "lexicon": _table(col.root, "lexicon"),
        "stats": json.loads((root / "stats.json").read_text()),
        "manifests": manifests,
        "docmap": _table(col.root, "docmap", drop=("docno",)),
        "deletes": _table(col.root, "deletes"),
    }


def _write(spark, col: Collection, kind: str, pdf):
    if kind == "append":
        return col.append(spark.createDataFrame(pdf))
    if kind == "delete":
        return col.delete(spark.createDataFrame(pdf[["repo", "path"]]))
    return col.compact()


def _steps():
    new, upd, tomb = gen_corpus_delta(BASE_N)
    upd2 = new.iloc[:10].copy()
    upd2["commit"] = "rev2"
    upd2["content"] = upd2["content"] + " secondrevision"
    dup = upd2.iloc[:3].copy()  # a later version of 3 keys in the same batch
    dup["commit"] = "rev3"
    dup["content"] = dup["content"] + " thirdrevision"
    return [
        ("append", pd.concat([new, upd], ignore_index=True)),
        ("delete", tomb),
        ("append", pd.concat([upd2, dup], ignore_index=True)),
        ("compact", None),
    ]


def test_routes_write_the_same_index(spark, base, tmp_path, monkeypatch):
    drv, spk = _copy(spark, base, tmp_path, "drv"), _copy(spark, base, tmp_path, "spk")
    queries = _queries(base[0])
    queries["rev"] = "secondrevision OR thirdrevision"
    for i, (kind, pdf) in enumerate(_steps()):
        _write(spark, drv, kind, pdf)
        with monkeypatch.context() as m:
            _spark_caps(m)
            _write(spark, spk, kind, pdf)
        got, want = _state(drv, queries), _state(spk, queries)
        for key in want:
            assert got[key] == want[key], f"step {i} ({kind}): {key} differs"
        assert any(got["answers"].values())
        assert fsck_index(spark, drv.store)["ok"], f"step {i} ({kind})"
        if kind == "compact":  # same docnos (rank by doc_id), so same blobs
            for sub in ("docmap", "postings"):
                assert _table(drv.root, sub) == _table(spk.root, sub), sub
        if i == 2:  # the Spark read route over pyarrow- and Spark-written files
            with monkeypatch.context() as m:
                _spark_caps(m)
                spark_read = {
                    s: _rows(drv.search(q, k=10)) for s, q in queries.items()
                }
            assert spark_read == got["answers"]
    assert {d for d, _ in got["answers"]["rev"]} == {
        d for d, _ in want["answers"]["rev"]
    } and len(got["answers"]["rev"]) == 10


def test_driver_writes_start_at_most_one_job(spark, base, tmp_path):
    col = _copy(spark, base, tmp_path, "jobs")
    new, upd, tomb = gen_corpus_delta(BASE_N)
    docs = spark.createDataFrame(pd.concat([new, upd], ignore_index=True))
    keys = spark.createDataFrame(tomb[["repo", "path"]])
    m, jobs = _jobs(spark, "drv-append", lambda: col.append(docs))
    assert len(jobs) <= 1 and m["n_docs"] == 70
    assert m["lineage"]["tombstones"] == 20
    n, jobs = _jobs(spark, "drv-delete", lambda: col.delete(keys))
    assert len(jobs) <= 1 and n == 10
    m, jobs = _jobs(spark, "drv-compact", col.compact)
    assert jobs == [] and m["n_docs"] == BASE_N + 50 - 10
    assert fsck_index(spark, col.store)["ok"]


@pytest.mark.parametrize("cap", ["rows", "bytes"])
def test_over_a_cap_takes_the_spark_route(spark, base, tmp_path, monkeypatch, cap):
    """A batch over LOCAL_MAX_ROWS, or an index over the byte caps, runs
    the Spark plans (several jobs per write) and gives the same index."""
    drv, spk = _copy(spark, base, tmp_path, "drv"), _copy(spark, base, tmp_path, "spk")
    queries = _queries(base[0])
    steps = _steps()[:2] + [("compact", None)]
    for kind, pdf in steps:
        _write(spark, drv, kind, pdf)
        with monkeypatch.context() as m:
            if cap == "rows":
                m.setattr(index_mod, "LOCAL_MAX_ROWS", 5)
            else:
                m.setattr(index_mod, "LOCAL_MAX_BYTES", 1)
            _, jobs = _jobs(
                spark, f"over-{cap}-{kind}", lambda: _write(spark, spk, kind, pdf)
            )
        if kind != "compact" or cap == "bytes":
            assert len(jobs) > 1, f"{kind} over the {cap} cap stayed on the driver"
        assert _state(drv, queries) == _state(spk, queries), kind


def test_dedup_parity_with_dedup_latest(spark, base, tmp_path, monkeypatch):
    """Two versions of one key under different commits, and a key whose
    versions include a null commit: the driver keeps dedup_latest's
    survivor (commit desc, nulls last, then doc_id desc) and writes the
    same tombstones as the Spark plan."""
    pdf = base[0]
    two = pd.concat([pdf.iloc[[0]]] * 2, ignore_index=True)
    two["commit"] = ["c1", "c2"]
    nul = pd.concat([pdf.iloc[[1]]] * 2, ignore_index=True)
    nul["commit"] = [None, "c0"]
    only_null = pdf.iloc[[2]].copy()
    only_null["commit"] = None
    batch = pd.concat([two, nul, only_null], ignore_index=True)
    batch["content"] = batch["content"] + " v" + batch.index.astype(str)

    want = {
        r["doc_id"]
        for r in dedup_latest(normalize_corpus(spark.createDataFrame(batch)))
        .select("doc_id")
        .collect()
    }
    assert len(want) == 3
    drv, spk = _copy(spark, base, tmp_path, "drv"), _copy(spark, base, tmp_path, "spk")
    drv.append(spark.createDataFrame(batch))
    with monkeypatch.context() as m:
        _spark_caps(m)
        spk.append(spark.createDataFrame(batch))
    for col in (drv, spk):
        seg1 = IndexStore(col.root).local_table("docmap", ["segment_id", "doc_id"])
        assert set(seg1.loc[seg1["segment_id"] == 1, "doc_id"]) == want
    tomb = _table(drv.root, "deletes")
    assert len(tomb) == 3 and tomb == _table(spk.root, "deletes")


def _decoded(root: str, remap: bool) -> dict:
    """(shard, term) -> sorted [(docno, tf, dl, positions)], decoded one
    blob at a time with the one-list decoders. With ``remap``, entries of
    dead copies (tombstoned by a later segment) are dropped and docnos
    become the doc's rank by doc_id among its shard's live docs."""
    from fastcatsearch3_spark.functions.vbyte import (
        decode_positions_blob,
        decode_postings,
    )

    new_docno = None
    if remap:
        dm = IndexStore(root).local_table("docmap")
        tomb = pd.DataFrame(_table(root, "deletes"), columns=["doc_id", "segment_id"])
        last_tomb = dm["doc_id"].map(tomb.groupby("doc_id")["segment_id"].max())
        live = dm[~(dm["segment_id"] < last_tomb.fillna(-1))].sort_values("doc_id")
        live["rank"] = live.groupby("shard").cumcount()
        new_docno = {
            (r.segment_id, r.shard, r.docno): r.rank for r in live.itertuples()
        }
    out: dict = {}
    for r in IndexStore(root).local_table("postings").itertuples():
        d, t, l = decode_postings(r.postings)
        flat, starts = decode_positions_blob(r.positions, t)
        ends = np.append(starts[1:], flat.size)
        assert r.df == d.size and r.cf == int(t.sum())
        for e in range(d.size):
            docno = int(d[e])
            if remap:
                docno = new_docno.get((r.segment_id, r.shard, docno))
                if docno is None:
                    continue
            out.setdefault((r.shard, r.term), []).append(
                (docno, int(t[e]), int(l[e]), tuple(flat[starts[e] : ends[e]].tolist()))
            )
    return {k: sorted(v) for k, v in out.items()}


def test_compaction_against_a_pandas_reference(spark, base, tmp_path):
    """The compacted postings hold exactly the live pre-compaction entries,
    positions included, renumbered by doc_id rank within the shard."""
    col = _copy(spark, base, tmp_path, "ref")
    for kind, pdf in _steps()[:3]:
        _write(spark, col, kind, pdf)
    want = _decoded(col.root, remap=True)
    m = col.compact()
    assert set(m["metrics"]["phases"]) == {"read_s", "decode_s", "pack_s", "write_s"}
    assert m["metrics"]["entries"] == sum(map(len, want.values()))
    assert _decoded(col.root, remap=False) == want
    assert fsck_index(spark, col.store)["ok"]
