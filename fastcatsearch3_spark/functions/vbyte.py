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

Two APIs, one wire format. The query kernels read one term at a time with
``decode_meta`` / ``decode_postings`` / ``decode_blocks`` (a cached
``PostingMeta`` per term). The write path — the build's pack stage,
appends and compaction — works on many posting lists at once, so it uses
the batched codec, which crosses into numpy once per batch instead of
once per list:

  * ``encode_postings_many(run_lens, docnos, tfs, dls, block_size)`` —
    the lists are consecutive runs of flat arrays; one ``vbyte_encode``
    for all block data and one for all meta streams, interleaved per run
    with ragged gathers. Returns one blob per run.
  * ``decode_postings_many(blobs)`` → (row, docnos, tfs, dls) — the blobs
    are joined and decoded by one ``vbyte_decode``; every blob ends on a
    terminal byte, so a blob's first value is found by counting the
    terminal bytes before its offset.
  * ``encode_positions_many`` / ``split_positions_many`` — the positions
    sidecar, on one byte buffer with per-entry (start, len) arrays.

The batched functions produce the same bytes as the one-list ones
(``encode_postings``, ``encode_positions_blob`` and
``split_positions_bytes`` are one-list calls of them;
tests/test_vbyte.py pins the bytes). Each batched call cuts its input at
list boundaries into slices of at most ``BATCH_ENTRIES`` entries
(decode: blob bytes), so its temporaries stay bounded on a large Spark
partition.
"""

from __future__ import annotations

from dataclasses import dataclass

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
    value's terminal byte."""
    is_last = (b & _CONT) == 0
    ends = np.nonzero(is_last)[0]
    starts = np.empty_like(ends)
    starts[0] = 0
    starts[1:] = ends[:-1] + 1
    lens = ends - starts + 1
    pos_in_val = np.arange(b.size, dtype=np.int64) - np.repeat(starts, lens)
    contrib = (b.astype(np.uint64) & _MASK7) << (pos_in_val.astype(np.uint64) * _U7)
    return np.add.reduceat(contrib, starts), ends


def vbyte_decode_prefix(buf: np.ndarray, nvals: int) -> tuple[np.ndarray, int]:
    """Decode the first ``nvals`` values; return (values, bytes_consumed).

    Only scans a bounded prefix (≤ 10 bytes per value), so reading the
    meta stream of a huge posting blob never touches the data section.
    """
    b = np.frombuffer(buf, dtype=np.uint8) if not isinstance(buf, np.ndarray) else buf
    if nvals == 0:
        return np.zeros(0, dtype=np.uint64), 0
    window = b[: nvals * 10]
    is_last = (window & _CONT) == 0
    ends = np.nonzero(is_last)[0][:nvals]
    if ends.size < nvals:
        raise ValueError("vbyte stream truncated")
    stop = int(ends[-1]) + 1
    vals = vbyte_decode(window[:stop])
    return vals[:nvals], stop


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
    b = np.frombuffer(blob, dtype=np.uint8) if not isinstance(blob, np.ndarray) else blob
    head, consumed = vbyte_decode_prefix(b, 4)
    n, nb, bs, last = int(head[0]), int(head[1]), int(head[2]), int(head[3])
    rest, rest_bytes = vbyte_decode_prefix(b[consumed:], 4 * nb)
    bf = np.cumsum(rest[:nb].astype(np.uint64))
    return PostingMeta(
        n=n,
        block_size=bs,
        last_docno=last,
        block_first=bf,
        block_maxtf=rest[nb : 2 * nb],
        block_mindl=rest[2 * nb : 3 * nb],
        block_bytes=rest[3 * nb : 4 * nb].astype(np.int64),
        data_offset=consumed + rest_bytes,
    )


def decode_postings(
    blob: bytes | np.ndarray, meta: PostingMeta | None = None
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Full decode → (docnos, tfs, dls), all uint64. One vectorized pass."""
    b = np.frombuffer(blob, dtype=np.uint8) if not isinstance(blob, np.ndarray) else blob
    meta = meta or decode_meta(b)
    n, nb = meta.n, meta.nblocks
    cnts = meta.block_counts()
    V = vbyte_decode(b[meta.data_offset :])
    nvals_per_block = 3 * cnts - 1
    vstarts = np.concatenate(([0], np.cumsum(nvals_per_block)[:-1]))
    dpos = ragged_ranges(vstarts, cnts - 1)
    tpos = ragged_ranges(vstarts + (cnts - 1), cnts)
    lpos = ragged_ranges(vstarts + (2 * cnts - 1), cnts)
    tfs = V[tpos]
    dls = V[lpos]
    # reconstruct docnos: within each block, docno = block_first + cumsum(deltas)
    full = np.zeros(n, dtype=np.uint64)
    entry_starts = np.concatenate(([0], np.cumsum(cnts)[:-1]))
    nonstart_mask = np.ones(n, dtype=bool)
    nonstart_mask[entry_starts] = False
    full[nonstart_mask] = V[dpos]
    # block-start entries: delta from previous entry = block_first[i] - last
    # docno of block i-1; expressed so a single global cumsum reconstructs.
    deltasums = segment_sums(V[dpos], np.concatenate(([0], np.cumsum(cnts - 1)[:-1])), np.uint64)
    prev_last = np.empty(nb, dtype=np.uint64)
    prev_last[0] = 0
    prev_last[1:] = meta.block_first[:-1] + deltasums[:-1]
    full[entry_starts] = meta.block_first - prev_last
    docnos = np.cumsum(full)
    return docnos, tfs, dls


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
    tfs[e] positions). Vectorized: one vbyte pass + the cumsum-reset trick."""
    b = np.frombuffer(blob, dtype=np.uint8) if not isinstance(blob, np.ndarray) else blob
    head, consumed = vbyte_decode_prefix(b, 1)
    nb = int(head[0])
    _, skip = vbyte_decode_prefix(b[consumed:], nb)
    vals = vbyte_decode(b[consumed + skip:])
    tfs = tfs.astype(np.int64)
    entry_starts = np.concatenate(([0], np.cumsum(tfs[:-1])))
    if vals.size != int(tfs.sum()):
        raise ValueError("positions blob length mismatch with tf stream")
    cs = np.cumsum(vals)
    base = cs[entry_starts] - vals[entry_starts]
    flat = cs - np.repeat(base, tfs)
    return flat, entry_starts


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
    """Decode only the selected blocks → (docnos, tfs, dls). Loops over the
    (already pruned, small) selected block set; numpy inside."""
    b = np.frombuffer(blob, dtype=np.uint8) if not isinstance(blob, np.ndarray) else blob
    offs = meta.block_data_offsets()
    cnts = meta.block_counts()
    doc_parts, tf_parts, dl_parts = [], [], []
    for i in np.asarray(block_idx, dtype=np.int64):
        cnt = int(cnts[i])
        vals = vbyte_decode(b[offs[i] : offs[i] + int(meta.block_bytes[i])])
        deltas = vals[: cnt - 1]
        tfs = vals[cnt - 1 : 2 * cnt - 1]
        dls = vals[2 * cnt - 1 :]
        docnos = np.empty(cnt, dtype=np.uint64)
        docnos[0] = meta.block_first[i]
        if cnt > 1:
            docnos[1:] = meta.block_first[i] + np.cumsum(deltas)
        doc_parts.append(docnos)
        tf_parts.append(tfs)
        dl_parts.append(dls)
    if not doc_parts:
        z = np.zeros(0, dtype=np.uint64)
        return z, z.copy(), z.copy()
    return (
        np.concatenate(doc_parts),
        np.concatenate(tf_parts),
        np.concatenate(dl_parts),
    )


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
        row, d, t, dl = _decode_slice(blobs[lo:hi])
        parts.append((row + lo, d, t, dl))
    if not parts:
        z = np.zeros(0, dtype=np.uint64)
        return np.zeros(0, dtype=np.int64), z, z.copy(), z.copy()
    return tuple(np.concatenate(c) for c in zip(*parts))


def _decode_slice(blobs):
    buf, offs, _ = join_bytes(blobs)
    vals, ends = _vbyte_decode_ends(buf)
    # every blob ends on a terminal byte, so its first value's index is the
    # count of terminal bytes before its offset
    v0 = np.searchsorted(ends, offs)
    n, nb, bs = (vals[v0 + i].astype(np.int64) for i in range(3))
    blk_run = np.repeat(np.arange(offs.size), nb)
    first_blk = _starts(nb)[blk_run]
    j = np.arange(blk_run.size, dtype=np.int64) - first_blk
    bsb, nbb = bs[blk_run], nb[blk_run]
    cnt = np.where(j == nbb - 1, n[blk_run] - bsb * (nbb - 1), bsb)
    bf_delta = vals[v0[blk_run] + 4 + j]
    cs = np.cumsum(bf_delta)  # reset per blob: block_first
    block_first = cs - (cs[first_blk] - bf_delta[first_blk])
    g = _starts(3 * cnt - 1)
    vs = (v0 + 4 + 4 * nb)[blk_run] + g - g[first_blk]
    tfs = vals[ragged_ranges(vs + cnt - 1, cnt)]
    dls = vals[ragged_ranges(vs + 2 * cnt - 1, cnt)]
    # docnos: block_first at each block's first entry, gaps after it, then
    # a cumsum reset per block
    estart = _starts(cnt)
    full = np.empty(int(cnt.sum()), dtype=np.uint64)
    full[ragged_ranges(estart + 1, cnt - 1)] = vals[ragged_ranges(vs, cnt - 1)]
    full[estart] = block_first
    acc = np.cumsum(full)
    docnos = acc - np.repeat(acc[estart] - block_first, cnt)
    return np.repeat(np.arange(offs.size), n), docnos, tfs, dls


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
