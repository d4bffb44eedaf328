"""Delta-gap + variable-byte posting codec (SURVEY.md F-9, I-3, I-9).

Reference capability: fastcatsearch3 writes postings as delta-gapped,
variable-byte-encoded docNo/tf streams (core:ir.io.IOUtil.writeVInt /
readVInt [K]); BASELINE.json mandates the same scheme verbatim. This
module is a from-scratch **vectorized numpy** implementation — encode and
decode are O(bytes) with no per-value Python loops, so they run hot
inside Arrow/pandas UDFs (BASELINE.json input_hint: no per-row Python).

VByte wire format (protobuf-varint style): little-endian 7-bit groups,
MSB set ⇒ continuation.

Posting blob layout, block-addressable for block-max WAND (O-3):

    meta stream (one vbyte run):
        n                    total entries
        nblocks              ceil(n / block_size)
        block_size
        last_docno           docno of the final entry (accumulator sizing)
        block_first[nb]      first docno per block, delta-coded (abs first)
        block_maxtf[nb]      max tf per block            (WAND upper bound)
        block_mindl[nb]      min doc length per block    (WAND upper bound)
        block_bytes[nb]      encoded byte length of each block's data
    data: per block i, one vbyte run of
        deltas[cnt_i - 1]    docno gaps for entries 1.. (entry 0 = block_first)
        tfs[cnt_i]
        dls[cnt_i]           doc length (token count) per entry

cnt_i = block_size except the last block. docnos must be strictly
increasing uint64 (dense segment-local docNos — the reference's
segment-local docNo design, core:ir.document/DocumentWriter [K]).

Embedding dl per entry (vs a doc-length sidecar) costs ~1–2 bytes/entry
but means BM25 scoring touches ONLY the query terms' posting rows — at
10^12-doc scale a per-query scan of a doc-length table would dwarf the
posting read. The docmap table is consulted only to hydrate the final
top-k docnos back to doc_ids (Q-5), a pushdown-prunable k-row lookup.

Having per-block byte offsets + first-docno + maxima in the meta stream
means a scorer can establish a threshold and then decode ONLY the blocks
whose upper bound is competitive — true block skipping, not just score
skipping.

One wire format, one batched codec: every function works on many posting
lists at once and crosses into numpy once per batch instead of once per
list; the one-list functions are one-list calls of it.

  * ``encode_postings_many(run_lens, docnos, tfs, dls, block_size)`` —
    the lists are consecutive runs of flat arrays; one ``vbyte_encode``
    for all block data and one for all meta streams, interleaved per run
    with ragged gathers. Returns one blob per run (``encode_postings``).
  * ``decode_lists(blobs, budget)`` → per blob its ``PostingMeta`` and
    entries — the query kernel's reader (``plans.scoring.PostingList``).
    The blobs are joined and decoded by one vbyte pass; every blob ends
    on a terminal byte, so a blob's first value is found by counting the
    terminal bytes before its offset. With ``budget`` only the smallest
    lists are decoded in full, the others' headers are read from bounded
    prefixes (``decode_meta``, ``decode_postings``).
  * ``decode_postings_many(blobs)`` → (row, docnos, tfs, dls), flat — the
    same pass, for the write path.
  * ``decode_blocks`` decodes selected blocks of one list in one pass
    (the query kernel's probes).
  * ``encode_positions_many`` / ``split_positions_many`` /
    ``decode_positions_many`` — the positions sidecar, on one byte buffer
    with per-entry (start, len) arrays (``encode_positions_blob``,
    ``split_positions_bytes``, ``decode_positions_blob``).

tests/test_vbyte.py pins the bytes. Each batched call cuts its input at
list boundaries into slices of at most ``BATCH_ENTRIES`` entries
(decode: blob bytes), so its temporaries stay bounded on a large Spark
partition.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import NamedTuple

import numpy as np

_U7 = np.uint64(7)
_MASK7 = np.uint64(0x7F)
_CONT = np.uint8(0x80)


# ---------------------------------------------------------------------------
# Raw vbyte primitives (vectorized)
# ---------------------------------------------------------------------------

def vbyte_encode(vals: np.ndarray, return_lens: bool = False):
    """Encode a uint64 array to a vbyte byte stream.

    Vectorized: the only loop is over the ≤10 possible byte positions.
    """
    v = np.ascontiguousarray(vals, dtype=np.uint64)
    n = v.size
    if n == 0:
        empty = np.zeros(0, dtype=np.uint8)
        return (empty, np.zeros(0, dtype=np.int64)) if return_lens else empty
    # bytes needed per value
    nb = np.ones(n, dtype=np.int64)
    tmp = v >> _U7
    while tmp.any():
        nb += tmp > 0
        tmp >>= _U7
    offsets = np.zeros(n, dtype=np.int64)
    np.cumsum(nb[:-1], out=offsets[1:])
    total = int(offsets[-1] + nb[-1])
    out = np.zeros(total, dtype=np.uint8)
    shifted = v.copy()
    for k in range(10):
        mask = nb > k
        if not mask.any():
            break
        pos = offsets[mask] + k
        byte = (shifted[mask] & _MASK7).astype(np.uint8)
        cont = (nb[mask] > k + 1).astype(np.uint8) * _CONT
        out[pos] = byte | cont
        shifted >>= _U7
    if return_lens:
        return out, nb
    return out


def vbyte_decode(buf: np.ndarray | bytes) -> np.ndarray:
    """Decode an entire vbyte stream to a uint64 array. Fully vectorized:
    value boundaries from the continuation-bit mask, per-value sums via
    np.add.reduceat."""
    b = np.frombuffer(buf, dtype=np.uint8) if not isinstance(buf, np.ndarray) else buf
    if b.size == 0:
        return np.zeros(0, dtype=np.uint64)
    return _vbyte_decode_ends(b)[0]


def _vbyte_decode_ends(b: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """``vbyte_decode`` of a non-empty uint8 array, plus the index of each
    value's terminal byte. Gathers byte k of every value longer than k,
    for k = 0, 1, ... (most values take one or two bytes), instead of
    shifting every byte and summing per value."""
    if b[-1] & _CONT:
        raise ValueError("vbyte stream truncated")
    ends = np.flatnonzero(b < _CONT)
    starts = np.empty_like(ends)
    starts[0] = 0
    starts[1:] = ends[:-1] + 1
    lens = ends - starts + 1
    low = b & _MASK7.astype(np.uint8)
    vals = low[starts].astype(np.uint64)
    k, sel = 1, np.flatnonzero(lens > 1)
    while sel.size:
        vals[sel] |= low[starts[sel] + k].astype(np.uint64) << np.uint64(7 * k)
        k += 1
        sel = sel[lens[sel] > k]
    return vals, ends


def vbyte_decode_prefix(buf: np.ndarray, nvals: int) -> tuple[np.ndarray, int]:
    """Decode the first ``nvals`` values; return (values, bytes_consumed).

    Only scans a bounded prefix (≤ 10 bytes per value), so reading the
    meta stream of a huge posting blob never touches the data section.
    """
    if nvals == 0:
        return np.zeros(0, dtype=np.uint64), 0
    vals, ends, _ = _prefix([buf], np.array([nvals]))
    return vals, int(ends[-1]) + 1


# ---------------------------------------------------------------------------
# Ragged-range helpers (vectorized gather of per-block slices)
# ---------------------------------------------------------------------------

def ragged_ranges(starts: np.ndarray, counts: np.ndarray) -> np.ndarray:
    """Concatenate [arange(s, s+c) for s, c in zip(starts, counts)] without
    a Python loop."""
    counts = counts.astype(np.int64)
    total = int(counts.sum())
    if total == 0:
        return np.zeros(0, dtype=np.int64)
    rep_starts = np.repeat(starts.astype(np.int64), counts)
    within = np.arange(total, dtype=np.int64) - np.repeat(
        np.concatenate(([0], np.cumsum(counts)[:-1])), counts
    )
    return rep_starts + within


def segment_sums(vals: np.ndarray, seg_starts: np.ndarray, out_dtype=np.int64) -> np.ndarray:
    """Sum of vals over segments beginning at seg_starts (may include
    empty segments, which np.add.reduceat mishandles)."""
    if vals.size == 0:
        return np.zeros(seg_starts.size, dtype=out_dtype)
    cs = np.concatenate(([0], np.cumsum(vals.astype(out_dtype))))
    seg_ends = np.concatenate((seg_starts[1:], [vals.size]))
    return cs[seg_ends] - cs[seg_starts]


# ---------------------------------------------------------------------------
# Posting blob encode/decode
# ---------------------------------------------------------------------------

@dataclass
class PostingMeta:
    n: int
    block_size: int
    last_docno: int
    block_first: np.ndarray   # absolute first docno per block (uint64)
    block_maxtf: np.ndarray   # uint64
    block_mindl: np.ndarray   # uint64
    block_bytes: np.ndarray   # int64
    data_offset: int          # byte offset where block data begins

    @property
    def nblocks(self) -> int:
        return int(self.block_first.size)

    def block_counts(self) -> np.ndarray:
        nb = self.nblocks
        cnts = np.full(nb, self.block_size, dtype=np.int64)
        if nb:
            cnts[-1] = self.n - self.block_size * (nb - 1)
        return cnts

    def block_data_offsets(self) -> np.ndarray:
        return self.data_offset + np.concatenate(
            ([0], np.cumsum(self.block_bytes[:-1]))
        ).astype(np.int64)


def encode_postings(
    docnos: np.ndarray,
    tfs: np.ndarray,
    dls: np.ndarray,
    block_size: int = 128,
) -> bytes:
    """Pack one term's (docno, tf, dl) arrays — docnos strictly increasing —
    into the block-addressable blob described in the module docstring."""
    n = int(np.asarray(docnos).size)
    if n == 0:
        raise ValueError("empty posting list")
    return encode_postings_many(np.array([n]), docnos, tfs, dls, block_size)[0]


def decode_meta(blob: bytes | np.ndarray) -> PostingMeta:
    """The header of one posting blob, read from a bounded prefix: the
    one-list, header-only call of ``decode_lists``."""
    return decode_lists([blob], 0)[0][0]


def decode_postings(
    blob: bytes | np.ndarray, meta: PostingMeta | None = None
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Full decode → (docnos, tfs, dls), all uint64: the one-list call of
    ``decode_lists``, whose one vbyte pass reads the header too, so a
    caller's ``meta`` is not needed."""
    return decode_lists([blob])[0][1]


# ---------------------------------------------------------------------------
# Positions sidecar blob (J-5 phrase/proximity support)
#
# Positions live in a SEPARATE blob (its own parquet column), not inside the
# main posting blob — Lucene's .doc/.pos file split re-expressed as column
# pruning: queries without phrases never read a positions byte. Layout:
#
#     vbyte run: nblocks, block_bytes[nb]   (block structure mirrors the
#                                            main blob's entry blocking)
#     data: per block, the concatenation of each entry's vbyte run of
#           delta-gapped within-doc token positions (first absolute);
#           entry boundaries are implied by the main blob's tf values
#           (tf_e positions per entry — no per-entry length stored).
# ---------------------------------------------------------------------------

def encode_positions_blob(
    entry_pos_bytes: np.ndarray, block_size: int
) -> bytes:
    """Assemble one term's positions blob from per-entry already-encoded
    position byte runs (object array of bytes, in docno order)."""
    buf, starts, lens = join_bytes(entry_pos_bytes)
    return encode_positions_many(
        np.array([lens.size]), buf, starts, lens, block_size
    )[0]


def decode_positions_blob(
    blob: bytes | np.ndarray, tfs: np.ndarray
) -> tuple[np.ndarray, np.ndarray]:
    """Full decode → (flat absolute positions, entry start offsets into it).
    ``tfs`` = per-entry tf values from the main blob decode (entry e has
    tfs[e] positions). The one-list call of ``decode_positions_many``."""
    return decode_positions_many([blob], [tfs])[0]


def split_positions_bytes(
    blob: bytes | np.ndarray, tfs: np.ndarray
) -> list[bytes]:
    """Slice a positions blob back into its per-entry encoded byte runs
    (used by compaction: within-doc position gaps are docno-independent,
    so re-pack reuses the bytes verbatim)."""
    blob = blob.tobytes() if isinstance(blob, np.ndarray) else bytes(blob)
    buf, starts, lens = split_positions_many([blob], tfs, np.array([len(tfs)]))
    raw = buf.tobytes()
    return [raw[s : s + n] for s, n in zip(starts.tolist(), lens.tolist())]


def decode_blocks(
    blob: bytes | np.ndarray, meta: PostingMeta, block_idx: np.ndarray
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Decode only the selected blocks → (docnos, tfs, dls), blocks in
    ``block_idx`` order. One vbyte pass over the selected blocks' bytes
    (each block ends on a terminal byte), split per block as
    ``decode_postings_many`` splits blobs."""
    b = np.frombuffer(blob, dtype=np.uint8) if not isinstance(blob, np.ndarray) else blob
    idx = np.asarray(block_idx, dtype=np.int64)
    if idx.size == 0:
        z = np.zeros(0, dtype=np.uint64)
        return z, z.copy(), z.copy()
    cnt = meta.block_counts()[idx]
    vals = vbyte_decode(
        b[ragged_ranges(meta.block_data_offsets()[idx], meta.block_bytes[idx])]
    )
    return _block_entries(vals, _starts(3 * cnt - 1), cnt, meta.block_first[idx])


# ---------------------------------------------------------------------------
# Batched codec (module docstring): many posting lists per numpy pass.
# Lists are runs over flat arrays, ``run_lens[r]`` entries each, in order.
# A list longer than BATCH_ENTRIES is a slice of its own.
# ---------------------------------------------------------------------------

BATCH_ENTRIES = 1 << 16


def _starts(counts: np.ndarray) -> np.ndarray:
    """Exclusive prefix sum: where each run of ``counts`` begins."""
    out = np.zeros(counts.size, dtype=np.int64)
    np.cumsum(counts[:-1], out=out[1:])
    return out


def _slices(sizes: np.ndarray, run_lens: np.ndarray | None = None):
    """Cut the lists into [lo, hi) slices whose ``sizes`` sum to at most
    BATCH_ENTRIES (a list over it is a slice of its own). Yields (lo, hi,
    e0, e1): [e0, e1) is the slice's entry range given ``run_lens``."""
    cs = np.cumsum(sizes)
    ecs = np.concatenate(([0], np.cumsum(sizes if run_lens is None else run_lens)))
    lo, base = 0, 0
    while lo < sizes.size:
        hi = max(int(np.searchsorted(cs, base + BATCH_ENTRIES, side="right")), lo + 1)
        yield lo, hi, int(ecs[lo]), int(ecs[hi])
        lo, base = hi, int(cs[hi - 1])


def join_bytes(parts) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Byte strings → (one uint8 buffer, start and length of each)."""
    lens = np.fromiter(map(len, parts), np.int64, count=len(parts))
    buf = np.frombuffer(b"".join(parts), dtype=np.uint8)
    return buf, _starts(lens), lens


def _blocks(run_lens: np.ndarray, bs: int):
    """Block layout of runs: per run nb; per block its run, index within
    the run, first entry and entry count; per run its first block."""
    nb = (run_lens + bs - 1) // bs
    blk_run = np.repeat(np.arange(run_lens.size), nb)
    first_blk = _starts(nb)
    j = np.arange(blk_run.size, dtype=np.int64) - first_blk[blk_run]
    bstart = _starts(run_lens)[blk_run] + j * bs
    cnt = np.minimum(bs, run_lens[blk_run] - j * bs)
    return nb, blk_run, j, bstart, cnt, first_blk


def _interleave(a, a_lens, b, b_lens) -> list[bytes]:
    """Per run r: ``a``'s r-th byte run, then ``b``'s, as one bytes."""
    starts = np.stack([_starts(a_lens), a.size + _starts(b_lens)], axis=1)
    counts = np.stack([a_lens, b_lens], axis=1)
    raw = np.concatenate([a, b])[
        ragged_ranges(starts.ravel(), counts.ravel())
    ].tobytes()
    ends = np.cumsum(a_lens + b_lens).tolist()
    return [raw[s:e] for s, e in zip([0] + ends[:-1], ends)]


def encode_postings_many(
    run_lens: np.ndarray,
    docnos: np.ndarray,
    tfs: np.ndarray,
    dls: np.ndarray,
    block_size: int = 128,
) -> list[bytes]:
    """``encode_postings`` of every run: list r is entries
    ``[sum(run_lens[:r]), sum(run_lens[:r+1]))`` of the flat arrays, its
    docnos strictly increasing. Returns one blob per run."""
    run_lens = np.asarray(run_lens, dtype=np.int64)
    d = np.ascontiguousarray(docnos, dtype=np.uint64)
    t = np.ascontiguousarray(tfs, dtype=np.uint64)
    dl = np.ascontiguousarray(dls, dtype=np.uint64)
    out: list[bytes] = []
    for lo, hi, e0, e1 in _slices(run_lens):
        out += _encode_slice(
            run_lens[lo:hi], d[e0:e1], t[e0:e1], dl[e0:e1], int(block_size)
        )
    return out


def _encode_slice(run_lens, d, t, dl, bs: int) -> list[bytes]:
    nb, blk_run, j, bstart, cnt, first_blk = _blocks(run_lens, bs)
    # data: per block one vbyte run [deltas (cnt-1), tfs (cnt), dls (cnt)]
    vstarts = _starts(3 * cnt - 1)
    V = np.empty(int((3 * cnt - 1).sum()), dtype=np.uint64)
    V[ragged_ranges(vstarts, cnt - 1)] = np.diff(d)[ragged_ranges(bstart, cnt - 1)]
    V[ragged_ranges(vstarts + cnt - 1, cnt)] = t  # blocks tile the entries
    V[ragged_ranges(vstarts + 2 * cnt - 1, cnt)] = dl
    data, lens = vbyte_encode(V, return_lens=True)
    block_bytes = segment_sums(lens, vstarts)

    # meta: per run [n, nb, bs, last, bf_delta[nb], maxtf[nb], mindl[nb],
    # block_bytes[nb]]
    block_first = d[bstart]
    bf_delta = block_first.copy()
    bf_delta[1:] -= block_first[:-1]
    bf_delta[first_blk] = block_first[first_blk]
    mlen = 4 + 4 * nb
    mstart = _starts(mlen)
    M = np.empty(int(mlen.sum()), dtype=np.uint64)
    M[mstart] = run_lens
    M[mstart + 1] = nb
    M[mstart + 2] = bs
    M[mstart + 3] = d[_starts(run_lens) + run_lens - 1]
    pos, stride = mstart[blk_run] + 4 + j, nb[blk_run]
    M[pos] = bf_delta
    M[pos + stride] = np.maximum.reduceat(t, bstart)
    M[pos + 2 * stride] = np.minimum.reduceat(dl, bstart)
    M[pos + 3 * stride] = block_bytes
    meta, mlens = vbyte_encode(M, return_lens=True)
    return _interleave(
        meta, segment_sums(mlens, mstart), data, segment_sums(block_bytes, first_blk)
    )


def decode_lists(
    blobs, budget: int | None = None
) -> list[tuple[PostingMeta, tuple[np.ndarray, np.ndarray, np.ndarray] | None]]:
    """The read path's posting decoder: per blob in a sequence, its
    ``PostingMeta`` and its entries (docnos, tfs, dls), all uint64.

    Without ``budget`` every blob is decoded in full. With it, only the
    smallest lists are, while their total entry count stays within
    ``budget``; every other list gets None for its entries, and its header
    is read from a bounded prefix (≤ 10 bytes per header value), so its
    data section is not touched. Full decodes share one vbyte pass per
    slice of at most BATCH_ENTRIES blob bytes (with ``budget``, entries);
    headers alone take two passes over the prefixes (the first reads
    each list's n and nblocks)."""
    blobs = list(blobs)
    out: list = [None] * len(blobs)
    full = np.arange(len(blobs))
    sizes = np.fromiter(map(len, blobs), np.int64, count=len(blobs))
    if budget is not None and blobs:
        head = _prefix(blobs, np.full(len(blobs), 4))[0].astype(np.int64)
        n, nb = head[0::4], head[1::4]
        order = np.argsort(n, kind="stable")
        fits = np.cumsum(n[order]) <= budget
        full, rest = np.sort(order[fits]), order[~fits]
        if rest.size:
            part = [blobs[i] for i in rest.tolist()]
            heads = _heads(*_prefix(part, 4 + 4 * nb[rest])[:3])[0]
            for i, meta in zip(rest.tolist(), _metas(heads)):
                out[i] = (meta, None)
        sizes = n  # the lists decoded in full fit the budget: one slice
    for lo, hi, _, _ in _slices(sizes[full]):
        idx = full[lo:hi].tolist()
        heads, (d, t, dl) = _decode_slice([blobs[i] for i in idx])
        spans = zip(_starts(heads.n).tolist(), heads.n.tolist())
        for i, meta, (s, c) in zip(idx, _metas(heads), spans):
            out[i] = (meta, (d[s : s + c], t[s : s + c], dl[s : s + c]))
    return out


def decode_postings_many(
    blobs,
) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """``decode_postings`` of every blob in a sequence → (row, docnos,
    tfs, dls): the entries of all blobs in order, ``row`` = the index of
    each entry's blob (int64; the rest uint64)."""
    blobs = list(blobs)
    parts: list[tuple] = []
    sizes = np.fromiter(map(len, blobs), np.int64, count=len(blobs))
    for lo, hi, _, _ in _slices(sizes):
        heads, entries = _decode_slice(blobs[lo:hi])
        parts.append((np.repeat(np.arange(lo, hi), heads.n), *entries))
    if not parts:
        z = np.zeros(0, dtype=np.uint64)
        return np.zeros(0, dtype=np.int64), z, z.copy(), z.copy()
    return tuple(np.concatenate(c) for c in zip(*parts))


class _Heads(NamedTuple):
    """The headers of several posting lists, flat: per list (int64) its
    entry count, block count, block size, last docno, data offset and
    first block; per block the ``PostingMeta`` arrays, lists in order."""

    n: np.ndarray
    nb: np.ndarray
    bs: np.ndarray
    last: np.ndarray
    data_offset: np.ndarray
    first_blk: np.ndarray
    block_first: np.ndarray
    block_maxtf: np.ndarray
    block_mindl: np.ndarray
    block_bytes: np.ndarray


def _heads(vals: np.ndarray, ends: np.ndarray, offs: np.ndarray):
    """Parse the meta streams of posting lists decoded into ``vals``: list
    i starts at byte ``offs[i]`` of the joined buffer whose value v ends
    at byte ``ends[v]``. Every list ends on a terminal byte, so its first
    value's index is the count of terminal bytes before its offset.
    Returns the ``_Heads`` and, per block, (its list, its index within
    the list, the index of its list's first data value)."""
    v0 = np.searchsorted(ends, offs)
    n, nb, bs, last = (vals[v0 + i].astype(np.int64) for i in range(4))
    blk_run = np.repeat(np.arange(offs.size), nb)
    first_blk = _starts(nb)
    first = first_blk[blk_run]
    j = np.arange(blk_run.size, dtype=np.int64) - first
    m, stride = (v0 + 4)[blk_run] + j, nb[blk_run]
    bf_delta = vals[m]
    cs = np.cumsum(bf_delta)  # reset per list: block_first
    data0 = v0 + 4 + 4 * nb
    heads = _Heads(
        n, nb, bs, last, ends[data0 - 1] + 1 - offs, first_blk,
        cs - (cs[first] - bf_delta[first]),
        vals[m + stride], vals[m + 2 * stride],
        vals[m + 3 * stride].astype(np.int64),
    )
    return heads, (blk_run, j, data0[blk_run])


def _metas(h: _Heads) -> list[PostingMeta]:
    """One ``PostingMeta`` per list of ``h``; its block arrays are views."""
    cols = (h.n, h.bs, h.last, h.data_offset, h.first_blk, h.nb)
    return [
        PostingMeta(
            n=n, block_size=bs, last_docno=last,
            block_first=h.block_first[f : f + nb],
            block_maxtf=h.block_maxtf[f : f + nb],
            block_mindl=h.block_mindl[f : f + nb],
            block_bytes=h.block_bytes[f : f + nb],
            data_offset=off,
        )
        for n, bs, last, off, f, nb in zip(*(c.tolist() for c in cols))
    ]


def _prefix(blobs, nvals: np.ndarray):
    """Decode the first ``nvals[i]`` values of blob i, scanning at most
    10 bytes per value → (vals, ends, offs) over the blobs' prefixes that
    hold exactly those values, joined (``_vbyte_decode_ends``; prefix i at
    byte ``offs[i]``)."""
    windows = [b[: 10 * c] for b, c in zip(blobs, nvals.tolist())]
    buf, woffs, wlens = join_bytes(windows)
    term = np.flatnonzero(buf < _CONT)
    k = np.searchsorted(term, woffs) + nvals - 1
    if (k >= term.size).any() or (term[k] >= woffs + wlens).any():
        raise ValueError("vbyte stream truncated")
    lens = term[k] + 1 - woffs
    return (*_vbyte_decode_ends(buf[ragged_ranges(woffs, lens)]), _starts(lens))


def _decode_slice(blobs) -> tuple[_Heads, tuple[np.ndarray, np.ndarray, np.ndarray]]:
    """Headers and entries of the blobs, from one vbyte pass."""
    buf, offs, _ = join_bytes(blobs)
    vals, ends = _vbyte_decode_ends(buf)
    h, (blk_run, j, data0) = _heads(vals, ends, offs)
    bsb, nbb = h.bs[blk_run], h.nb[blk_run]
    cnt = np.where(j == nbb - 1, h.n[blk_run] - bsb * (nbb - 1), bsb)
    g = _starts(3 * cnt - 1)
    vs = data0 + g - g[h.first_blk[blk_run]]
    return h, _block_entries(vals, vs, cnt, h.block_first)


def _block_entries(
    vals: np.ndarray, vs: np.ndarray, cnt: np.ndarray, block_first: np.ndarray
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """The entries of posting blocks decoded into ``vals`` → (docnos,
    tfs, dls), blocks in order. Block i holds ``cnt[i]`` entries, its
    values start at ``vals[vs[i]]`` (cnt-1 docno gaps, cnt tfs, cnt dls)
    and its first docno is ``block_first[i]``."""
    tfs = vals[ragged_ranges(vs + cnt - 1, cnt)]
    dls = vals[ragged_ranges(vs + 2 * cnt - 1, cnt)]
    # docnos: block_first at each block's first entry, gaps after it, then
    # a cumsum reset per block
    estart = _starts(cnt)
    full = np.empty(int(cnt.sum()), dtype=np.uint64)
    full[ragged_ranges(estart + 1, cnt - 1)] = vals[ragged_ranges(vs, cnt - 1)]
    full[estart] = block_first
    acc = np.cumsum(full)
    return acc - np.repeat(acc[estart] - block_first, cnt), tfs, dls


def encode_positions_many(
    run_lens: np.ndarray,
    buf: np.ndarray,
    starts: np.ndarray,
    lens: np.ndarray,
    block_size: int,
) -> list[bytes]:
    """``encode_positions_blob`` of every run: entry e's encoded position
    run is ``buf[starts[e] : starts[e] + lens[e]]``, entries in run order.
    Returns one blob per run."""
    run_lens = np.asarray(run_lens, dtype=np.int64)
    out: list[bytes] = []
    for lo, hi, e0, e1 in _slices(run_lens):
        el = lens[e0:e1]
        nb, blk_run, j, bstart, _, first_blk = _blocks(run_lens[lo:hi], int(block_size))
        # header per run: [nb, block_bytes[nb]]
        hstart = _starts(1 + nb)
        H = np.empty(int((1 + nb).sum()), dtype=np.uint64)
        H[hstart] = nb
        H[hstart[blk_run] + 1 + j] = segment_sums(el, bstart)
        head, hlens = vbyte_encode(H, return_lens=True)
        data = buf[ragged_ranges(starts[e0:e1], el)]
        out += _interleave(
            head, segment_sums(hlens, hstart),
            data, segment_sums(el, _starts(run_lens[lo:hi])),
        )
    return out


def split_positions_many(
    blobs, tfs: np.ndarray, run_lens: np.ndarray
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """``split_positions_bytes`` of every blob: blob r holds ``run_lens[r]``
    entries, whose tfs are the matching run of ``tfs``. Returns (buf,
    starts, lens): entry e's encoded position run is
    ``buf[starts[e] : starts[e] + lens[e]]``."""
    run_lens = np.asarray(run_lens, dtype=np.int64)
    tfs = np.asarray(tfs).astype(np.int64)
    buf, offs, sizes = join_bytes(blobs)
    starts = np.empty(tfs.size, dtype=np.int64)
    ends = np.empty(tfs.size, dtype=np.int64)
    for lo, hi, e0, e1 in _slices(sizes, run_lens):
        b1 = int(offs[hi - 1] + sizes[hi - 1])
        term = offs[lo] + np.flatnonzero(buf[offs[lo] : b1] < _CONT)  # value ends
        rl, t = run_lens[lo:hi], tfs[e0:e1]
        row, rs = np.repeat(np.arange(hi - lo), rl), _starts(rl)
        # a blob's last sum(tf) values are its entries' positions, in order
        vend = np.searchsorted(term, offs[lo:hi] + sizes[lo:hi])
        within = _starts(t)
        first = (vend - segment_sums(t, rs))[row] + within - within[rs][row]
        starts[e0:e1] = term[first - 1] + 1
        ends[e0:e1] = term[first + t - 1] + 1
    return buf, starts, ends - starts


def decode_positions_many(
    blobs, tfs
) -> list[tuple[np.ndarray, np.ndarray]]:
    """``decode_positions_blob`` of every blob in a sequence: ``tfs[r]``
    holds the tf of each entry of blob r. One vbyte pass per slice of at
    most BATCH_ENTRIES blob bytes, the per-entry delta decode (a cumsum
    reset per entry) over all its lists at once."""
    blobs = list(blobs)
    out: list = []
    sizes = np.fromiter(map(len, blobs), np.int64, count=len(blobs))
    for lo, hi, _, _ in _slices(sizes):
        buf, offs, _ = join_bytes(blobs[lo:hi])
        vals, ends = _vbyte_decode_ends(buf)
        v0 = np.searchsorted(ends, offs)
        tf = [np.asarray(t).astype(np.int64) for t in tfs[lo:hi]]
        ne = np.fromiter(map(len, tf), np.int64, count=len(tf))
        tf = np.concatenate(tf)
        npos = segment_sums(tf, _starts(ne))  # positions per list
        first = v0 + 1 + vals[v0].astype(np.int64)  # after [nb, block_bytes]
        if not np.array_equal(np.append(v0[1:], vals.size) - first, npos):
            raise ValueError("positions blob length mismatch with tf stream")
        pv = vals[ragged_ranges(first, npos)]
        estart = _starts(tf)
        cs = np.cumsum(pv)
        flat = cs - np.repeat(cs[estart] - pv[estart], tf)
        p0, e0 = _starts(npos).tolist(), _starts(ne).tolist()
        for p, c, e, m in zip(p0, npos.tolist(), e0, ne.tolist()):
            out.append((flat[p : p + c], estart[e : e + m] - p))
    return out
