"""Property tests for the vectorized VByte posting codec (SURVEY.md F-9/I-9)."""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

settings.register_profile(
    "vbyte",
    suppress_health_check=[HealthCheck.data_too_large, HealthCheck.too_slow],
    deadline=None,
)
settings.load_profile("vbyte")

from fastcatsearch3_spark.functions import vbyte as V
from fastcatsearch3_spark.functions.vbyte import (
    decode_blocks,
    decode_lists,
    decode_meta,
    decode_positions_blob,
    decode_positions_many,
    decode_postings,
    decode_postings_many,
    encode_positions_blob,
    encode_positions_many,
    encode_postings,
    encode_postings_many,
    join_bytes,
    split_positions_bytes,
    split_positions_many,
    vbyte_decode,
    vbyte_decode_prefix,
    vbyte_encode,
)
from fastcatsearch3_spark.operators.build import _pack_frame


@given(
    st.lists(st.integers(min_value=0, max_value=2**64 - 1), min_size=0, max_size=500)
)
@settings(max_examples=200, deadline=None)
def test_vbyte_roundtrip(vals):
    arr = np.array(vals, dtype=np.uint64)
    enc = vbyte_encode(arr)
    dec = vbyte_decode(enc)
    assert dec.tolist() == vals


def test_vbyte_known_bytes():
    # protobuf-varint convention: 300 = 0b10101100 0b00000010
    enc = vbyte_encode(np.array([0, 1, 127, 128, 300], dtype=np.uint64))
    assert enc.tolist() == [0x00, 0x01, 0x7F, 0x80, 0x01, 0xAC, 0x02]


def test_vbyte_prefix():
    arr = np.arange(1000, dtype=np.uint64) * 9973
    enc = vbyte_encode(arr)
    vals, consumed = vbyte_decode_prefix(enc, 10)
    assert vals.tolist() == arr[:10].tolist()
    assert consumed <= 10 * 10
    vals2 = vbyte_decode(enc[consumed:])
    assert vals2.tolist() == arr[10:].tolist()


@st.composite
def posting_arrays(draw):
    n = draw(st.integers(min_value=1, max_value=600))
    gaps = draw(
        st.lists(
            st.integers(min_value=1, max_value=2**31),
            min_size=n,
            max_size=n,
        )
    )
    docnos = np.cumsum(np.array(gaps, dtype=np.uint64)) - 1
    tfs = np.array(
        draw(st.lists(st.integers(1, 10000), min_size=n, max_size=n)),
        dtype=np.uint64,
    )
    dls = np.array(
        draw(st.lists(st.integers(1, 100000), min_size=n, max_size=n)),
        dtype=np.uint64,
    )
    return docnos, tfs, dls


@given(posting_arrays(), st.sampled_from([4, 128, 4096]))
@settings(max_examples=60, deadline=None)
def test_posting_blob_roundtrip(arrs, block_size):
    docnos, tfs, dls = arrs
    blob = encode_postings(docnos, tfs, dls, block_size=block_size)
    d2, t2, l2 = decode_postings(blob)
    np.testing.assert_array_equal(d2, docnos)
    np.testing.assert_array_equal(t2, tfs)
    np.testing.assert_array_equal(l2, dls)


@given(posting_arrays())
@settings(max_examples=40, deadline=None)
def test_block_meta_invariants(arrs):
    """WAND safety: block maxima/minima must bound every entry (§5.2)."""
    docnos, tfs, dls = arrs
    bs = 128
    blob = encode_postings(docnos, tfs, dls, block_size=bs)
    meta = decode_meta(blob)
    assert meta.n == docnos.size
    cnts = meta.block_counts()
    assert cnts.sum() == docnos.size
    for i in range(meta.nblocks):
        lo, hi = i * bs, i * bs + int(cnts[i])
        assert meta.block_first[i] == docnos[lo]
        assert meta.block_maxtf[i] == tfs[lo:hi].max()
        assert meta.block_mindl[i] == dls[lo:hi].min()


@given(posting_arrays(), st.data())
@settings(max_examples=30, deadline=None)
def test_decode_selected_blocks(arrs, data):
    docnos, tfs, dls = arrs
    blob = encode_postings(docnos, tfs, dls, block_size=64)
    meta = decode_meta(blob)
    nb = meta.nblocks
    sel = sorted(
        data.draw(
            st.sets(st.integers(0, nb - 1), min_size=0, max_size=min(nb, 5))
        )
    )
    d2, t2, l2 = decode_blocks(blob, meta, np.array(sel, dtype=np.int64))
    expect_d, expect_t, expect_l = [], [], []
    cnts = meta.block_counts()
    for i in sel:
        lo, hi = i * 64, i * 64 + int(cnts[i])
        expect_d.append(docnos[lo:hi])
        expect_t.append(tfs[lo:hi])
        expect_l.append(dls[lo:hi])
    if sel:
        np.testing.assert_array_equal(d2, np.concatenate(expect_d))
        np.testing.assert_array_equal(t2, np.concatenate(expect_t))
        np.testing.assert_array_equal(l2, np.concatenate(expect_l))
    else:
        assert d2.size == 0


def test_single_entry():
    blob = encode_postings(
        np.array([42], dtype=np.uint64),
        np.array([7], dtype=np.uint64),
        np.array([99], dtype=np.uint64),
    )
    d, t, dl = decode_postings(blob)
    assert d.tolist() == [42] and t.tolist() == [7] and dl.tolist() == [99]


# ---------------------------------------------------------------------------
# Wire format: pinned bytes, and the batched codec against the one-list one
# ---------------------------------------------------------------------------

def _golden_case(n: int, bs: int):
    """Seeded lists: docno gaps up to 2^40, tf up to 2^20, dl up to 2^16
    (half the gaps and tfs 1), and per-entry position runs of 1–5 values."""
    rng = np.random.default_rng(n * 1000 + bs)
    gaps = rng.integers(1, 2**40, size=n, endpoint=True, dtype=np.uint64)
    gaps[rng.random(n) < 0.5] = 1
    docnos = np.cumsum(gaps) - np.uint64(1)
    tfs = rng.integers(1, 2**20, size=n, endpoint=True, dtype=np.uint64)
    tfs[rng.random(n) < 0.5] = 1
    dls = rng.integers(1, 2**16, size=n, endpoint=True, dtype=np.uint64)
    ents = np.empty(n, dtype=object)
    for e in range(n):
        k = int(rng.integers(1, 6))
        ents[e] = vbyte_encode(
            rng.integers(0, 2**20, size=k, dtype=np.uint64)
        ).tobytes()
    return docnos, tfs, dls, ents


# sha256 of (postings blob, positions blob), computed with the one-list
# encoders before the batched codec existed
_GOLDEN = {
    (1, 64): ("42a2bfc129005cacf8d52b597a6f9ec9facae8c6bf568d1034a0b1b6a0e971a5", "25718a9918ee2e68380940fc217bc3953b300c85ca3bffcf5cc5360a9669f1fd"),
    (1, 128): ("a128fe2b57abe1279044e68f09b67169ad9f11c776346f07262fb7f4621930c3", "6878df22c28f61eaf011f25866d14c4234efe853038273594aaff4b9f7c79d78"),
    (127, 64): ("2ccb820fce46ee4b795ee92fcaad59c450c2afe1d8e41e189d09aaa6f69eb897", "cf0a3573e98aedddba688346c77df350489e906b8750f63b62a8bbb52912c252"),
    (127, 128): ("ecc936a1f645d1e0ed7a97f7dc1765a19e06c92ec43881529ede4b5f16840263", "e5f472e0ffeef30bf7e2907010830bcf264de642d929527f0e22b617963bb11b"),
    (128, 64): ("5a2441739ad6a5a2870bc6e174864c68e2fc10dbf142350cb0188e490942d2c1", "ca4d4cca71813304a5b57c831e7b5ebdfae2f19556262888e9cb905669d2c9e0"),
    (128, 128): ("24e78936e7d8fd7436f3433e8b3144b2b0ee9cb94cac82ba1c9325861c315da1", "3d71104ce511dcd4306d05d6284e26d08b334b244ffeb6ee5642c0f8d269187e"),
    (129, 64): ("c1704a60e5c87922c394bac12586a25aad7255a35bd71565178536fcdfc04ca0", "52971dfcaaf06730f0ba443f5609cdcb7fc8c88a2145cb4c7bab0aa6e1ba37fb"),
    (129, 128): ("20b814d4746f4561363d398369f95a0061fc6dceb42df5873c9052ba774e6696", "cf22a87af36dbca36e84b32d0262fe1a2e67bfaccb1aa19877d165f6b3272c47"),
    (1000, 64): ("5d2ac5094ab1e6415f6398eb589c8e031a4d711c59ad6be09ba6f68d607bae05", "c3cabac9bbd8b49d60dd27933f43ac551a07c405833acff0415ae66806168355"),
    (1000, 128): ("a79a95f077a076400a0b1130c4fc5429cebc2bc4c1f60d5012e67424570ade28", "636e5f92ed24de7b3419bfb1b437b748aa5141a50a8787756280101ed44ba6ee"),
}


def test_posting_wire_format_golden():
    for (n, bs), (want_post, want_pos) in _GOLDEN.items():
        docnos, tfs, dls, ents = _golden_case(n, bs)
        post = encode_postings(docnos, tfs, dls, bs)
        pos = encode_positions_blob(ents, bs)
        assert hashlib.sha256(post).hexdigest() == want_post, (n, bs)
        assert hashlib.sha256(pos).hexdigest() == want_pos, (n, bs)


@st.composite
def posting_runs(draw):
    """Several posting lists as flat arrays, plus per-entry position runs.
    Hypothesis picks the list sizes and value widths, a seeded generator
    the values (drawing thousands of integers one by one is slow)."""
    run_lens = np.array(
        draw(st.lists(st.integers(1, 300), min_size=1, max_size=6)), dtype=np.int64
    )
    gap_max, tf_max = draw(st.sampled_from([2, 2**7, 2**40])), draw(st.sampled_from([2, 2**20]))
    rng = np.random.default_rng(draw(st.integers(0, 2**32 - 1)))
    docnos = np.concatenate([
        np.cumsum(rng.integers(1, gap_max, size=n, endpoint=True, dtype=np.uint64))
        for n in run_lens
    ])
    tfs = rng.integers(1, tf_max, size=docnos.size, endpoint=True, dtype=np.uint64)
    dls = rng.integers(1, 2**16, size=docnos.size, endpoint=True, dtype=np.uint64)
    ents = [
        vbyte_encode(np.arange(int(t) % 5 + 1, dtype=np.uint64) * 7).tobytes()
        for t in tfs
    ]
    return run_lens, docnos, tfs, dls, ents


_SMALL_BATCH = st.sampled_from([None, 1, 7, 300])


def _batch(monkeypatch, cap):
    if cap is not None:
        monkeypatch.setattr(V, "BATCH_ENTRIES", cap)


@given(posting_runs(), st.sampled_from([4, 128]), _SMALL_BATCH)
@settings(max_examples=25, deadline=None)
def test_decode_postings_many_equals_per_blob(runs, block_size, cap):
    run_lens, docnos, tfs, dls, _ = runs
    starts = np.concatenate(([0], np.cumsum(run_lens)))
    blobs = [
        encode_postings(docnos[a:b], tfs[a:b], dls[a:b], block_size)
        for a, b in zip(starts[:-1], starts[1:])
    ]
    with pytest.MonkeyPatch.context() as m:
        _batch(m, cap)
        row, d, t, l = decode_postings_many(blobs)
    want = [decode_postings(b) for b in blobs]
    np.testing.assert_array_equal(row, np.repeat(np.arange(len(blobs)), run_lens))
    for got, i in ((d, 0), (t, 1), (l, 2)):
        np.testing.assert_array_equal(got, np.concatenate([w[i] for w in want]))


def _ref_varints(blob: bytes):
    """The blob's vbyte values, one at a time (the reference reader)."""
    v = shift = 0
    for byte in blob:
        v |= (byte & 0x7F) << shift
        shift += 7
        if byte < 0x80:
            yield v
            v = shift = 0


def _ref_decode(blob: bytes):
    """(header fields, docnos, tfs, dls) of one posting blob, read value
    by value as the module docstring lays the format out."""
    it = _ref_varints(blob)
    n, nb, bs, last = (next(it) for _ in range(4))
    rest = [next(it) for _ in range(4 * nb)]
    first = list(np.cumsum(rest[:nb], dtype=np.uint64).tolist())
    head = dict(
        n=n, block_size=bs, last_docno=last, block_first=first,
        block_maxtf=rest[nb : 2 * nb], block_mindl=rest[2 * nb : 3 * nb],
        block_bytes=rest[3 * nb :],
    )
    docnos, tfs, dls = [], [], []
    for i in range(nb):
        cnt = bs if i < nb - 1 else n - bs * (nb - 1)
        gaps = [next(it) for _ in range(cnt - 1)]
        docnos += np.cumsum([first[i]] + gaps, dtype=np.uint64).tolist()
        tfs += [next(it) for _ in range(cnt)]
        dls += [next(it) for _ in range(cnt)]
    return head, docnos, tfs, dls


@st.composite
def block_lists(draw):
    """A block size from 1 to 128 and posting lists over it: single-entry
    lists, lists a whole number of blocks long, and any length."""
    bs = draw(st.integers(1, 128))
    n_of = st.one_of(
        st.just(1), st.integers(1, 4).map(lambda m: m * bs), st.integers(1, 400)
    )
    run_lens = np.array(draw(st.lists(n_of, min_size=1, max_size=8)), np.int64)
    rng = np.random.default_rng(draw(st.integers(0, 2**32 - 1)))
    docnos = np.concatenate([
        np.cumsum(rng.integers(1, 2**12, size=n, dtype=np.uint64)) for n in run_lens
    ])
    tfs = rng.integers(1, 2**9, size=docnos.size, dtype=np.uint64)
    dls = rng.integers(1, 2**16, size=docnos.size, dtype=np.uint64)
    return bs, run_lens, encode_postings_many(run_lens, docnos, tfs, dls, bs)


@given(block_lists(), st.sampled_from([None, 0, 1, 300, 2**40]), _SMALL_BATCH)
@settings(max_examples=60, deadline=None)
def test_decode_lists_equals_per_list_decode(lists, budget, cap):
    """The batched read decoder equals per-list ``decode_meta`` +
    ``decode_postings`` and a value-by-value reference reader, field for
    field and dtype for dtype; with a budget it decodes exactly the
    smallest lists whose total entry count fits, and only headers of the
    rest. A small BATCH_ENTRIES makes the lists span several slices."""
    _, run_lens, blobs = lists
    with pytest.MonkeyPatch.context() as m:
        _batch(m, cap)
        got = decode_lists(blobs, budget)
    if budget is None:
        eager = set(range(len(blobs)))
    else:
        order = np.argsort(run_lens, kind="stable")
        eager = set(order[np.cumsum(run_lens[order]) <= budget].tolist())
    assert len(got) == len(blobs)
    for i, (blob, (meta, entries)) in enumerate(zip(blobs, got)):
        one, want = decode_meta(blob), decode_postings(blob)
        head, *ref = _ref_decode(blob)
        for f, v in head.items():
            a, b = getattr(meta, f), getattr(one, f)
            assert type(a) is type(b)
            if isinstance(a, np.ndarray):
                assert a.dtype == b.dtype
                np.testing.assert_array_equal(a, b)
            else:
                assert a == b
            assert np.array_equal(np.asarray(a), np.asarray(v, dtype=np.asarray(a).dtype))
        assert meta.data_offset == one.data_offset
        assert meta.nblocks == -(-meta.n // meta.block_size)
        assert (entries is not None) == (i in eager)
        for arr in [] if entries is None else zip(entries, want, ref):
            a, w, r = arr
            assert a.dtype == w.dtype == np.uint64
            np.testing.assert_array_equal(a, w)
            np.testing.assert_array_equal(a, np.array(r, dtype=np.uint64))


@given(posting_runs(), st.integers(1, 128), _SMALL_BATCH)
@settings(max_examples=25, deadline=None)
def test_decode_positions_many_equals_reference(runs, block_size, cap):
    """The batched positions decoder equals per-list
    ``decode_positions_blob`` and the reference: entry e's positions are
    the running sum of its delta run."""
    run_lens, _, tfs, _, ents = runs
    pos_tfs = np.array([int(t) % 5 + 1 for t in tfs], dtype=np.uint64)
    starts = np.concatenate(([0], np.cumsum(run_lens)))
    buf, bstarts, blens = join_bytes(ents)
    blobs = encode_positions_many(run_lens, buf, bstarts, blens, block_size)
    tf_runs = [pos_tfs[a:b] for a, b in zip(starts[:-1], starts[1:])]
    with pytest.MonkeyPatch.context() as m:
        _batch(m, cap)
        got = decode_positions_many(blobs, tf_runs)
    for (flat, es), blob, tf, a, b in zip(got, blobs, tf_runs, starts[:-1], starts[1:]):
        one = decode_positions_blob(blob, tf)
        ref = np.concatenate([np.cumsum(vbyte_decode(e)) for e in ents[a:b]])
        assert flat.dtype == one[0].dtype == np.uint64
        assert es.dtype == one[1].dtype == np.int64
        np.testing.assert_array_equal(flat, one[0])
        np.testing.assert_array_equal(es, one[1])
        np.testing.assert_array_equal(flat, ref)
        np.testing.assert_array_equal(es, np.concatenate(([0], np.cumsum(tf.astype(np.int64))[:-1])))
    with pytest.raises(ValueError):
        decode_positions_many(blobs[:1], [tf_runs[0] + 1])


@given(posting_runs(), st.sampled_from([4, 128]), _SMALL_BATCH)
@settings(max_examples=25, deadline=None)
def test_encode_postings_many_round_trips(runs, block_size, cap):
    run_lens, docnos, tfs, dls, _ = runs
    with pytest.MonkeyPatch.context() as m:
        _batch(m, cap)
        blobs = encode_postings_many(run_lens, docnos, tfs, dls, block_size)
    starts = np.concatenate(([0], np.cumsum(run_lens)))
    assert len(blobs) == run_lens.size
    for blob, a, b in zip(blobs, starts[:-1], starts[1:]):
        d, t, l = decode_postings(blob)
        np.testing.assert_array_equal(d, docnos[a:b])
        np.testing.assert_array_equal(t, tfs[a:b])
        np.testing.assert_array_equal(l, dls[a:b])
        assert blob == encode_postings(docnos[a:b], tfs[a:b], dls[a:b], block_size)


@given(posting_runs(), st.sampled_from([4, 128]), _SMALL_BATCH)
@settings(max_examples=25, deadline=None)
def test_batched_positions_equal_per_entry_path(runs, block_size, cap):
    run_lens, _, tfs, _, ents = runs
    pos_tfs = np.array([int(t) % 5 + 1 for t in tfs], dtype=np.uint64)
    starts = np.concatenate(([0], np.cumsum(run_lens)))
    buf, bstarts, blens = join_bytes(ents)
    with pytest.MonkeyPatch.context() as m:
        _batch(m, cap)
        blobs = encode_positions_many(run_lens, buf, bstarts, blens, block_size)
        sbuf, sstarts, slens = split_positions_many(blobs, pos_tfs, run_lens)
    raw = sbuf.tobytes()
    assert [raw[s : s + n] for s, n in zip(sstarts, slens)] == ents
    for blob, a, b in zip(blobs, starts[:-1], starts[1:]):
        one = np.array(ents[a:b] + [None], dtype=object)[:-1]
        assert blob == encode_positions_blob(one, block_size)
        assert split_positions_bytes(blob, pos_tfs[a:b]) == ents[a:b]
        flat, _ = decode_positions_blob(blob, pos_tfs[a:b])
        assert flat.size == int(pos_tfs[a:b].sum())


@given(
    st.lists(
        st.tuples(
            st.integers(0, 3), st.sampled_from(["a", "b", "c:d", "e"]),
            st.integers(0, 300), st.integers(1, 9),
        ),
        min_size=1, max_size=400, unique_by=lambda r: r[:3],
    ),
    st.integers(1, 50),
)
@settings(max_examples=20, deadline=None)
def test_pack_frame_same_under_a_small_batch_bound(rows, cap):
    """One _pack_frame call cut at run boundaries packs the same rows."""
    pdf = pd.DataFrame(rows, columns=["shard", "term", "docno", "tf"])
    pdf["dl"] = pdf["docno"] % 17 + pdf["tf"]
    pdf["pos"] = [
        vbyte_encode(np.arange(t, dtype=np.uint64)).tobytes() for t in pdf["tf"]
    ]
    want = _pack_frame(pdf, 4, combine=False)
    with pytest.MonkeyPatch.context() as m:
        m.setattr(V, "BATCH_ENTRIES", cap)
        got = _pack_frame(pdf, 4, combine=False)
    pd.testing.assert_frame_equal(got, want)
    assert want["df"].sum() == len(pdf)
