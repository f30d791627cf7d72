"""Posting-list compression kernels: delta + varint encoding.

The global index stores postings both as columnar rows (the query-friendly
form Spark scans and prunes natively) and as packed per-(term, block) byte
payloads — delta-encoded docIDs, term frequencies and position arrays — the
"compressed per-partition posting lists" of the design. Blocks are
doc-contiguous (block_id = doc_id // block_span), which gives every block a
disjoint docID range: a doc's positions for any term live at block
doc_id // block_span, so a query that knows its candidate docs decodes
only their blocks. On the lean layout this store is the index's only
positional copy.

Layout of a packed payload (all varint, little 7-bit groups, MSB continue):
    n_docs,
    doc_delta[0..n),          # first is delta from block base doc
    tf[0..n),
    dl[0..n),                 # per-doc length: BM25 scoring needs no join
    for each doc: n_positions, pos_delta[0..m)   # first is absolute-1

The scoring prefix (first 1+3n values) is decodable without touching the
position section — `decode_block_scores` does exactly that, vectorized.
"""

from __future__ import annotations

import numpy as np


def encode_varints_np(values: "np.ndarray") -> bytes:
    """Vectorized varint encoding of a non-negative int64 array — identical
    byte output to `encode_varints`, ~50× faster. The loops below run once
    per *byte level* (≤10, usually 1-3), not once per value."""
    arr = np.asarray(values, dtype=np.int64)
    if arr.size == 0:
        return b""
    if (arr < 0).any():
        raise ValueError("varint requires non-negative integers")
    u = arr.astype(np.uint64)
    nbytes = np.ones(u.shape, np.int64)
    v = u >> np.uint64(7)
    while v.any():
        nbytes += (v > 0)
        v >>= np.uint64(7)
    ends = np.cumsum(nbytes)
    out = np.empty(int(ends[-1]), np.uint8)
    idx = ends - nbytes
    vals = u.copy()
    remaining = nbytes.copy()
    while True:
        mask = remaining > 0
        if not mask.any():
            break
        b = (vals[mask] & np.uint64(0x7F)).astype(np.uint8)
        b |= (remaining[mask] > 1).astype(np.uint8) << np.uint8(7)
        out[idx[mask]] = b
        vals[mask] >>= np.uint64(7)
        idx[mask] += 1
        remaining[mask] -= 1
    return out.tobytes()


def encode_varints(values, out: bytearray) -> None:
    for v in values:
        v = int(v)
        if v < 0:
            raise ValueError("varint requires non-negative integers")
        while True:
            b = v & 0x7F
            v >>= 7
            if v:
                out.append(b | 0x80)
            else:
                out.append(b)
                break


def decode_varints(buf: bytes, pos: int, count: int) -> tuple[list[int], int]:
    out = []
    for _ in range(count):
        shift = 0
        val = 0
        while True:
            b = buf[pos]
            pos += 1
            val |= (b & 0x7F) << shift
            if not b & 0x80:
                break
            shift += 7
        out.append(val)
    return out, pos


def pack_block(doc_ids, tfs, dls, positions_lists, base_doc: int) -> bytes:
    """doc_ids must be sorted ascending and >= base_doc.

    Builds the whole payload as ONE integer sequence and varint-encodes it
    in a single vectorized pass: [n, doc_deltas.., tfs.., dls..,
    interleaved(len_i, pos_deltas_i)..] — byte-identical to the scalar
    implementation."""
    doc_arr = np.asarray(doc_ids, dtype=np.int64)
    n = doc_arr.size
    doc_deltas = np.diff(doc_arr, prepend=np.int64(base_doc))
    lens = np.fromiter((len(p) for p in positions_lists),
                       count=n, dtype=np.int64)
    if n and int(lens.sum()):
        flat = np.concatenate(
            [np.asarray(p, dtype=np.int64) for p in positions_lists])
        pdelta = np.diff(flat, prepend=np.int64(0))
        starts = np.cumsum(lens) - lens
        nonempty = lens > 0
        pdelta[starts[nonempty]] = flat[starts[nonempty]]
        pos_seq = np.insert(pdelta, starts, lens)
    else:
        pos_seq = lens
    full = np.concatenate([
        np.array([n], dtype=np.int64), doc_deltas,
        np.asarray(tfs, dtype=np.int64), np.asarray(dls, dtype=np.int64),
        pos_seq])
    return encode_varints_np(full)


def unpack_block(payload: bytes, base_doc: int):
    """Returns (doc_ids, tfs, dls, positions_lists)."""
    (n,), pos = decode_varints(payload, 0, 1)
    deltas, pos = decode_varints(payload, pos, n)
    doc_ids = []
    cur = base_doc
    for d in deltas:
        cur += d
        doc_ids.append(cur)
    tfs, pos = decode_varints(payload, pos, n)
    dls, pos = decode_varints(payload, pos, n)
    positions_lists = []
    for _ in range(n):
        (m,), pos = decode_varints(payload, pos, 1)
        pdeltas, pos = decode_varints(payload, pos, m)
        cur_p = 0
        poss = []
        for p in pdeltas:
            cur_p += p
            poss.append(cur_p)
        positions_lists.append(poss)
    return doc_ids, tfs, dls, positions_lists


def decode_varints_prefix(buf: bytes, max_values: int | None = None) -> "np.ndarray":
    """Vectorized decode of the first `max_values` varints (all if None) —
    one boolean mask + one reduceat over the byte array, no Python loop.
    The whole buffer is scanned for terminator bytes (a single vectorized
    pass) but only the requested value groups are materialized."""
    b = np.frombuffer(buf, dtype=np.uint8)
    term = (b & 0x80) == 0
    ends = np.flatnonzero(term)
    if max_values is not None:
        ends = ends[:max_values]
    if ends.size == 0:
        return np.empty(0, np.int64)
    b = b[: ends[-1] + 1]
    starts = np.empty_like(ends)
    starts[0] = 0
    starts[1:] = ends[:-1] + 1
    lengths = ends - starts + 1
    pos_in_group = np.arange(b.size, dtype=np.int64) - np.repeat(starts, lengths)
    contrib = (b & np.uint8(0x7F)).astype(np.int64) << (7 * pos_in_group)
    return np.add.reduceat(contrib, starts)


def decode_block_scores(payload: bytes, base_doc: int):
    """(doc_ids, tfs, dls) as int64 ndarrays — decodes ONLY the scoring
    prefix (1+3n values), never touching the position section. Compaction
    uses it to recover (tf, dl) when it rebuilds postings rows from packed
    payloads."""
    n = int(decode_varints_prefix(payload, 1)[0])
    vals = decode_varints_prefix(payload, 1 + 3 * n)
    doc_ids = np.int64(base_doc) + np.cumsum(vals[1:1 + n])
    return doc_ids, vals[1 + n:1 + 2 * n], vals[1 + 2 * n:1 + 3 * n]


def decode_block_positions(payload: bytes, base_doc: int):
    """(doc_ids, flat_positions, per_doc_counts) — full vectorized decode
    of the position section: ONE varint pass over the whole payload, then
    numpy segment ops to undelta each doc's position run. Feeds the
    phrase-verification and headline paths when row postings carry no
    positions column (the packed store is then the only positional copy).

    flat_positions is the concatenation of every doc's absolute positions;
    np.repeat(doc_ids, per_doc_counts) aligns a doc id to each one."""
    vals = decode_varints_prefix(payload)
    n = int(vals[0])
    doc_ids = np.int64(base_doc) + np.cumsum(vals[1:1 + n])
    pos_section = vals[1 + 3 * n:]
    # layout per doc: [len_i, delta_0..delta_{len_i-1}] — the varint pass
    # above already decoded everything; this loop (≤128 docs) only slices
    # and undeltas each run
    counts = np.empty(n, np.int64)
    runs = []
    idx = 0
    for i in range(n):
        m = int(pos_section[idx])
        counts[i] = m
        runs.append(np.cumsum(pos_section[idx + 1: idx + 1 + m]))
        idx += 1 + m
    flat = np.concatenate(runs) if runs else np.empty(0, np.int64)
    return doc_ids, flat, counts
