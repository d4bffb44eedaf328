"""The driver route of search_index / search_many / search_bm25f
(plans/search.py module docstring) against the Spark route.

At test sizes every index is under ``index.LOCAL_MAX_BYTES``, so a plain
call takes the driver route; setting the cap to 0 forces the Spark plan.
Both routes run the same shard kernels and must return identical
(doc_id, score) rankings — on a fresh index, after appends, updates and
deletes, and after compaction. Driver-route reads, cache hits and empty
early returns must start no Spark job."""

from __future__ import annotations

import shutil
import sys
from pathlib import Path

import pytest

from fastcatsearch3_spark import index as index_mod
from fastcatsearch3_spark.collection import Collection
from fastcatsearch3_spark.config import EngineConfig
from fastcatsearch3_spark.operators.ingest import normalize_corpus
from fastcatsearch3_spark.plans.search import Bm25fQuery, search_bm25f
from fixtures.gen_corpus import gen_corpus, gen_corpus_delta

sys.path.insert(0, str(Path(__file__).resolve().parents[1] / "perfbench"))
import inputs  # noqa: E402  perfbench's query shapes

BASE_N = 400
CFG = EngineConfig(
    num_shards=4, store_positions=True, indexed_fields=("content", "path")
)


def _jobs(spark, group: str, fn):
    """(fn's result, ids of the Spark jobs it started)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, list(sc.statusTracker().getJobIdsForGroup(group))


def _rows(df):
    return [tuple(r) for r in df.collect()]


def _spark_route(monkeypatch, fn):
    with monkeypatch.context() as m:
        m.setattr(index_mod, "LOCAL_MAX_BYTES", 0)
        return fn()


@pytest.fixture(scope="module")
def states(spark, tmp_path_factory):
    """Index roots: 'fresh'; 'mutated' (appends, updates, deletes);
    'compacted' (the mutated index after compact())."""
    base = gen_corpus(BASE_N, seed=42)
    roots = {s: str(tmp_path_factory.mktemp(s)) for s in ("fresh", "mutated", "compacted")}
    Collection(spark, roots["fresh"], CFG).build(
        normalize_corpus(spark.createDataFrame(base))
    )
    shutil.rmtree(roots["mutated"])
    shutil.copytree(roots["fresh"], roots["mutated"])
    col = Collection(spark, roots["mutated"], CFG)
    new, upd, tomb = gen_corpus_delta(BASE_N)
    col.append(spark.createDataFrame(new))
    col.append(spark.createDataFrame(upd))
    col.delete(spark.createDataFrame(tomb[["repo", "path"]]))
    shutil.rmtree(roots["compacted"])
    shutil.copytree(roots["mutated"], roots["compacted"])
    Collection(spark, roots["compacted"], CFG).compact()
    return base, roots


def _queries(base) -> dict[str, str]:
    """shape -> one query of each perfbench shape, each with a hit."""
    from fastcatsearch3_spark.functions.analyzer import get_analyzer

    toks = get_analyzer(CFG)(base["content"], CFG)
    stream = inputs.query_stream(inputs.TermIndex(toks), 5, len(inputs.SHAPES))
    assert {s for s, _, _ in stream} == set(inputs.SHAPES)
    return {shape: text for shape, text, _ in stream}


@pytest.mark.parametrize("state", ["fresh", "mutated", "compacted"])
def test_routes_agree(spark, states, state, monkeypatch):
    base, roots = states
    col = Collection(spark, roots[state], CFG)
    queries = _queries(base)

    def both(fn):
        spark_rows = _spark_route(monkeypatch, lambda: _rows(fn()))
        local_rows, jobs = _jobs(spark, f"drv-{state}", lambda: _rows(fn()))
        assert jobs == [], "the driver route started a Spark job"
        assert local_rows == spark_rows
        return local_rows

    for q in queries.values():
        assert both(lambda: col.search(q, k=10)), q

    # match_doc_ids, the facet feeder with its own batched decode, holds
    # exactly the docs both routes score
    for shape in ("not", "tree_or_not"):
        q = queries[shape]
        scored = {d for d, _ in both(lambda: col.search(q, k=100_000))}
        assert {r[0] for r in _rows(col.match(q))} == scored, q

    # offset and after paging
    q = queries["hot"]
    full = both(lambda: col.search(q, k=12))
    page2 = both(lambda: col.search(q, k=5, offset=5))
    assert page2 == full[5:10]
    doc, score = full[4]
    after = both(lambda: col.search(q, k=5, after=(score, doc)))
    assert after == full[5:10]

    # batch: the perfbench shapes plus phrase and BM25F entries
    batch = dict(queries)
    batch["ph"] = '"' + " ".join(base["content"].iloc[0].split()[:2]) + '"'
    batch["bm25f"] = Bm25fQuery(queries["and2"], {"content": 1.0, "path": 0.5})
    rows = both(lambda: col.search_many(batch, k=10))
    assert {r[0] for r in rows} >= {"ph", "bm25f"}

    # search_bm25f: one Bm25fQuery of search_many, so it has the driver
    # route too
    fq = batch["bm25f"]
    assert both(
        lambda: search_bm25f(spark, col.store, fq.text, fq.field_weights, k=10)
    )


def test_batch_decodes_each_list_once(spark, states, monkeypatch):
    """A search_many kernel call decodes its lists in one batched pass,
    each (segment, shard, term) list in full at most once and its
    positions at most once, however many queries of the batch read it;
    run one at a time, the same queries
    decode the shared lists again. The batch's texts are parsed in one
    ``parse_query`` call, the parse layer's one entry point."""
    from collections import Counter

    from fastcatsearch3_spark.plans import scoring
    from fastcatsearch3_spark.plans import search as search_mod

    base, roots = states
    col = Collection(spark, roots["mutated"], CFG)
    counts: Counter = Counter()
    passes: Counter = Counter()  # batched decode passes per kernel call
    call = [0]
    held = []  # the kernel frees lists early: hold keys so ids stay unique

    def count(kind, own):
        held.append(own)
        counts[call[0], kind, id(own)] += 1

    # keyed by each list's own header (entries) or decoded tf array
    # (positions): equal blobs of two terms can be one bytes object after
    # the Arrow read
    def batched(blobs, *a):
        passes[call[0]] += 1
        out = real_lists(blobs, *a)
        for meta, entries in out:
            if entries is not None:
                count("entries", meta)
        return out

    def lazy(blob, meta):
        count("entries", meta)
        return real_full(blob, meta)

    def positions(blobs, tfs):
        for t in tfs:
            count("positions", t)
        return real_pos(blobs, tfs)

    real_lists, real_full = scoring.decode_lists, scoring.decode_postings
    real_pos = scoring.decode_positions_many
    real_make = search_mod.make_kernel

    def make_kernel(*a, **kw):
        kernel = real_make(*a, **kw)

        def per_call(pdf, mask):
            call[0] += 1
            return kernel(pdf, mask)
        return per_call

    monkeypatch.setattr(search_mod, "make_kernel", make_kernel)
    monkeypatch.setattr(scoring, "decode_lists", batched)
    monkeypatch.setattr(scoring, "decode_postings", lazy)
    monkeypatch.setattr(scoring, "decode_positions_many", positions)
    parses = []
    real_parse = search_mod.parse_query

    def parse_query(text, *a):
        parses.append(text)
        return real_parse(text, *a)

    monkeypatch.setattr(search_mod, "parse_query", parse_query)
    queries = _queries(base)
    rows, jobs = _jobs(spark, "decode-once", lambda: _rows(col.search_many(queries, k=10)))
    assert jobs == [] and {r[0] for r in rows} == set(queries)
    assert parses == [list(queries.values())]
    assert call[0] > 1 and counts
    assert set(passes.values()) == {1}
    assert max(counts.values()) == 1
    assert any(kind == "positions" for _, kind, _ in counts)
    batch = sum(counts.values())
    counts.clear()
    for qid, q in queries.items():
        col.search_many({qid: q}, k=10).collect()
    assert sum(counts.values()) > batch


def test_cache_hit_collect_starts_no_job(spark, states, tmp_path):
    _, roots = states
    root = tmp_path / "idx"
    shutil.copytree(roots["fresh"], root)
    col = Collection(spark, str(root), CFG, cache_size=4, shared_cache=True)
    first = _rows(col.search("index", k=5))
    hit, jobs = _jobs(spark, "l1-hit", lambda: _rows(col.search("index", k=5)))
    assert col.cache_hits == 1 and hit == first and jobs == []
    other = Collection(spark, str(root), CFG, cache_size=4, shared_cache=True)
    hit2, jobs2 = _jobs(spark, "l2-hit", lambda: _rows(other.search("index", k=5)))
    assert other.shared_hits == 1 and hit2 == first and jobs2 == []


@pytest.mark.parametrize("route", ["driver", "spark"])
def test_cache_miss_frame_is_built_once(spark, states, monkeypatch, route):
    """A cache miss returns the rows search_index gives, as a frame whose
    collect starts no Spark job: on the driver route search_index's own
    local frame (one ``local_frame`` call per miss), on the Spark route
    a local frame rebuilt from the collected rows."""
    from fastcatsearch3_spark.plans import search as search_mod

    _, roots = states
    q = "index OR merge"
    col = Collection(spark, roots["fresh"], CFG, cache_size=4)
    plain = Collection(spark, roots["fresh"], CFG, cache_size=0)
    built = []
    real = search_mod.local_frame
    with monkeypatch.context() as m:
        if route == "spark":
            m.setattr(index_mod, "LOCAL_MAX_BYTES", 0)
        want = _rows(plain.search(q, k=5))
        m.setattr(search_mod, "local_frame", lambda *a, **k: built.append(1) or real(*a, **k))
        out = col.search(q, k=5)
    assert col.cache_misses == 1 and want
    assert len(built) == 1
    rows, jobs = _jobs(spark, f"miss-{route}", lambda: _rows(out))
    assert rows == want and jobs == []
    assert _rows(col.search(q, k=5)) == want and col.cache_hits == 1


def test_and_with_unindexed_term_starts_no_job(spark, states, monkeypatch):
    _, roots = states
    col = Collection(spark, roots["fresh"], CFG)
    rows, jobs = _spark_route(
        monkeypatch,
        lambda: _jobs(
            spark, "empty-and",
            lambda: _rows(col.search("index zzznotindexedzzz", k=5)),
        ),
    )
    assert rows == [] and jobs == []


def test_per_epoch_state_rekeys_across_writes(spark, tmp_path, monkeypatch):
    """One long-lived Collection across writes: the driver route's size
    listing and denied set follow the index epoch."""
    base = gen_corpus(BASE_N, seed=42)
    col = Collection(spark, str(tmp_path / "idx"), CFG)
    col.build(normalize_corpus(spark.createDataFrame(base)))
    store = col.store

    def top(q, k=1000):
        return {d for d, _ in _rows(col.search(q, k=k))}

    victim = base.iloc[0]
    word = victim["content"].split()[0]
    ids_before = top(word)
    state0 = store._local_state()
    assert len(state0["denied"]) == 0

    # delete: the very first read after it must not return the doc
    victim_id = next(iter(_doc_ids(spark, base.iloc[:1])))
    col.delete(spark.createDataFrame(base.iloc[:1][["repo", "path"]]))
    after_delete = top(word)
    assert victim_id in ids_before and victim_id not in after_delete
    state1 = store._local_state()
    assert state1 is not state0 and state1["epoch"] != state0["epoch"]
    assert len(state1["denied"]) == 1

    # update: the newer copy stays live, the older one is masked
    upd = base.iloc[1:2].copy()
    old_id = next(iter(_doc_ids(spark, upd)))
    upd["commit"] = "rev2"
    upd["content"] = upd["content"] + " epochmarker"
    new_id = next(iter(_doc_ids(spark, upd)))
    col.append(spark.createDataFrame(upd))
    assert top("epochmarker") == {new_id}
    w1 = upd["content"].iloc[0].split()[0]
    got = top(w1)
    assert new_id in got and old_id not in got
    state2 = store._local_state()
    assert state2["epoch"] != state1["epoch"] and len(state2["denied"]) == 2

    # compact: the size listing and the denied set are rebuilt
    col.compact()
    post = store._local_state()
    assert post["epoch"] != state2["epoch"] and "denied" not in post
    assert post["bytes"] == store._disk_bytes() < index_mod.LOCAL_MAX_BYTES
    assert top("epochmarker") == {new_id}
    assert len(store._local_state()["denied"]) == 0
    assert victim_id not in top(word)
    for q in (word, w1, f"{word} OR {w1}"):
        assert _rows(col.search(q, k=10)) == _spark_route(
            monkeypatch, lambda: _rows(col.search(q, k=10))
        )


def _doc_ids(spark, pdf) -> set[int]:
    """doc_ids the engine derives for these corpus rows."""
    return {
        r["doc_id"]
        for r in normalize_corpus(spark.createDataFrame(pdf))
        .select("doc_id")
        .collect()
    }
