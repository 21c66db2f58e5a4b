"""Blocked, delta+VByte-compressed posting lists with skip metadata.

Logical mirror of the reference's postlist layout — not byte-for-byte:

- VByte: LSB-first 7-bit varints, continuation bit 0x80
  (`xapian-core/common/pack.h:294-360`).
- Chunking: bounded blocks keyed (term, first_docid), docids stored as
  (delta - 1) after the first — `glass_postlist.cc:219-329`,
  `pack_glass_postlist_key` (`pack.h:569-594`); a filter on
  (first_docid, last_docid) replaces the B-tree key seek for skip_to.
- Per-block exact `wdf_max` for block-max pruning, the honey-backend
  design (`honey_postlist_encodings.h:26-111`); glass derives a looser
  bound (`glass_postlist.cc:151-191`) — we follow honey.

Blocked table schema (one row per block):
  term        string   (block key part 1)
  first_docid long     (block key part 2; parquet min/max prunable)
  last_docid  long
  n           int      postings in block
  wdf_max     int      exact max wdf within block
  payload     binary   v1: vbyte([d0, delta1-1, ..., w0..wn-1, l0..ln-1])
                       docid deltas, then wdfs, then doclens
                       v2: vbyte([deltas..., wdfs...]) — NO doclen stream
  payload_v   int      (v2 tables only; v1 tables lack the column, so a
                       blocked table is self-describing)

Payload v1 denormalizes doclens into the payload so BM25 scoring from
blocks needs no doclen join (locality trick).  Payload v2 follows glass
instead: doclen lives ONCE per warehouse (the doclens table — glass
keeps it in a separate postlist, pack.h:569-594, glass_postlist.h:53-56)
and scoring joins it back for candidate docs only.  v2 cuts pack/decode/
storage bytes by the whole doclen stream (~1/3 of payload ints, and
doclens are the widest of the three streams), which matters exactly on
the bandwidth-bound stages of a big build; the price is one
candidate-scoped doclen join at query time (see query/wand.py).

Encode/decode are vectorized numpy inside Arrow-batched mapInPandas —
no per-row Python in the build or query hot path.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

BLOCK_SCHEMA = (
    "term string, first_docid long, last_docid long, n int, "
    "wdf_max int, payload binary"
)
BLOCK_SCHEMA_V2 = BLOCK_SCHEMA + ", payload_v int"


def block_schema(payload_v: int = 1) -> str:
    return BLOCK_SCHEMA_V2 if payload_v == 2 else BLOCK_SCHEMA


DEFAULT_BLOCK = 512  # postings per block (~ CHUNKSIZE=2000 bytes in glass)


# -- VByte (vectorized) ------------------------------------------------------


def _vbyte_encode_with_lengths(
    values: np.ndarray,
) -> tuple[np.ndarray, np.ndarray]:
    """LSB-first 7-bit varint encode of a uint64 array (pack.h:294-305).

    Returns (byte stream as uint8 array, per-value byte lengths) so callers
    that pack many independent payloads can encode them all in ONE call and
    slice the stream at value boundaries afterwards."""
    v = np.asarray(values, dtype=np.uint64)
    if v.size == 0:
        return np.empty(0, dtype=np.uint8), np.empty(0, dtype=np.int64)
    # byte length per value: 1 + floor(log128(v))
    nbytes = np.ones(v.shape, dtype=np.int64)
    rest = v >> np.uint64(7)
    while rest.any():
        nbytes += (rest > 0).astype(np.int64)
        rest >>= np.uint64(7)
    total = int(nbytes.sum())
    out = np.empty(total, dtype=np.uint8)
    # write position of each value's first byte
    starts = np.concatenate(([0], np.cumsum(nbytes)[:-1]))
    cur = v.copy()
    offset = np.zeros(v.shape, dtype=np.int64)
    remaining = nbytes.copy()
    while (remaining > 0).any():
        mask = remaining > 0
        b = (cur[mask] & np.uint64(0x7F)).astype(np.uint8)
        cont = (remaining[mask] > 1).astype(np.uint8) * np.uint8(0x80)
        out[starts[mask] + offset[mask]] = b | cont
        cur[mask] >>= np.uint64(7)
        offset[mask] += 1
        remaining[mask] -= 1
    return out, nbytes


def vbyte_encode(values: np.ndarray) -> bytes:
    """LSB-first 7-bit varint encode of a uint64 array (pack.h:294-305)."""
    return _vbyte_encode_with_lengths(values)[0].tobytes()


def vbyte_decode(buf: bytes) -> np.ndarray:
    """Decode an LSB-first varint stream to uint64 (pack.h:325-360)."""
    b = np.frombuffer(buf, dtype=np.uint8)
    if b.size == 0:
        return np.empty(0, dtype=np.uint64)
    is_last = (b & 0x80) == 0
    # value id for each byte: number of completed values before it
    vid = np.concatenate(([0], np.cumsum(is_last)[:-1]))
    # position within its value
    starts = np.concatenate(([0], np.nonzero(is_last)[0][:-1] + 1))
    pos = np.arange(b.size) - starts[vid]
    nvals = int(is_last.sum())
    out = np.zeros(nvals, dtype=np.uint64)
    np.add.at(
        out, vid, (b & 0x7F).astype(np.uint64) << (np.uint64(7) * pos.astype(np.uint64))
    )
    return out


# -- block pack / unpack -----------------------------------------------------


def _pack_group(
    term: str,
    docids: np.ndarray,
    wdfs: np.ndarray,
    doclens: np.ndarray,
    block_size: int,
) -> list[tuple]:
    """Pack one term's docid-sorted postings into block rows."""
    if len(docids) > 1 and np.any(docids[1:] == docids[:-1]):
        # duplicate (term, docid) postings would underflow the delta-1
        # coding (uint64 wrap -> corrupt docids for the rest of the
        # block).  The inverter emits unique terms per doc, so this is
        # defensive: collapse duplicates by summing wdf, keeping the
        # first doclen
        keep = np.concatenate(([True], docids[1:] != docids[:-1]))
        grp = np.cumsum(keep) - 1
        wdf_sum = np.zeros(int(keep.sum()), dtype=np.int64)
        np.add.at(wdf_sum, grp, wdfs.astype(np.int64))
        docids, wdfs, doclens = docids[keep], wdf_sum, doclens[keep]
    rows = []
    for s in range(0, len(docids), block_size):
        d = docids[s : s + block_size]
        w = wdfs[s : s + block_size]
        ln = doclens[s : s + block_size]
        deltas = np.empty(len(d), dtype=np.uint64)
        deltas[0] = d[0]
        if len(d) > 1:
            # delta - 1: consecutive docids encode as 0 (glass
            # read_did_increase, glass_postlist.cc:106-113)
            deltas[1:] = (d[1:] - d[:-1] - 1).astype(np.uint64)
        ints = np.concatenate(
            [deltas, w.astype(np.uint64), ln.astype(np.uint64)]
        )
        rows.append(
            (
                term,
                int(d[0]),
                int(d[-1]),
                int(len(d)),
                int(w.max()),
                vbyte_encode(ints),
            )
        )
    return rows


def _term_changes(terms) -> np.ndarray:
    """Boolean array of len(terms)-1: terms[i+1] != terms[i].

    For an Arrow string array the comparison runs in Arrow C++ over the
    raw buffers; a numpy object array falls back to per-element compare
    (only test/teaching paths feed numpy — the build feeds Arrow)."""
    import pyarrow.compute as pc

    if isinstance(terms, pa.Array):
        n = len(terms)
        if n <= 1:
            return np.empty(0, dtype=bool)
        ne = pc.not_equal(terms.slice(1), terms.slice(0, n - 1))
        return ne.to_numpy(zero_copy_only=False).astype(bool, copy=False)
    return terms[1:] != terms[:-1]


def _pack_region(
    terms,
    docids: np.ndarray,
    wdfs: np.ndarray,
    doclens: np.ndarray,
    block_size: int,
    with_doclen: bool = True,
) -> tuple:
    """Vectorized pack of a (term, docid)-sorted posting region.

    The whole region is segmented, delta-coded and vbyte-encoded with
    numpy array ops and ONE varint-encode call — no per-term or per-block
    Python (the round-3 packer paid ~0.6 ms of pandas slicing per distinct
    term, which is the build's death on a real long-tail dictionary).
    `terms` may be a pyarrow string Array (the build path — term bytes
    never become per-posting Python objects) or a numpy object array.

    Returns (term_per_block as numpy object array, first_docid,
    last_docid, n, wdf_max, payload byte stream, payload offsets
    int64[nblocks+1]); the payload of block b is
    stream[offsets[b]:offsets[b+1]].
    """
    n_rows = len(docids)
    run_start = np.empty(n_rows, dtype=bool)
    run_start[0] = True
    run_start[1:] = _term_changes(terms)
    # defensive collapse of duplicate (term, docid) postings — they would
    # underflow the delta-1 coding (uint64 wrap -> corrupt docids for the
    # rest of the block).  The inverter emits unique terms per doc, so the
    # mask is all-False in practice and this costs one vectorized check.
    dup = np.zeros(n_rows, dtype=bool)
    dup[1:] = (docids[1:] == docids[:-1]) & ~run_start[1:]
    if dup.any():
        keep = ~dup
        grp = np.cumsum(keep) - 1
        wdf_sum = np.zeros(int(keep.sum()), dtype=np.int64)
        np.add.at(wdf_sum, grp, wdfs.astype(np.int64))
        # dup rows are never run starts, so masking preserves run starts
        if isinstance(terms, pa.Array):
            terms = terms.filter(pa.array(keep))
        else:
            terms = terms[keep]
        docids, doclens = docids[keep], doclens[keep]
        wdfs, run_start = wdf_sum, run_start[keep]
        n_rows = len(docids)
    run_id = np.cumsum(run_start) - 1
    run_starts_idx = np.nonzero(run_start)[0]
    off_in_run = np.arange(n_rows) - run_starts_idx[run_id]
    # blocks restart at every term and every block_size postings within it
    bs = np.nonzero(off_in_run % block_size == 0)[0]
    nblocks = len(bs)
    be = np.concatenate((bs[1:], [n_rows]))
    nb = (be - bs).astype(np.int64)
    first = docids[bs]
    last = docids[be - 1]
    wdf_max = np.maximum.reduceat(wdfs, bs)
    # docid coding: raw docid at each block start, delta-1 after
    # (glass read_did_increase, glass_postlist.cc:106-113)
    d_enc = np.empty(n_rows, dtype=np.uint64)
    d_enc[0] = docids[0]
    d_enc[1:] = (docids[1:] - docids[:-1] - 1).astype(np.uint64)
    d_enc[bs] = docids[bs].astype(np.uint64)
    # one interleaved int array, per block [deltas..., wdfs...(, doclens)]
    # — v2 (with_doclen=False) omits the doclen stream entirely
    s = 3 if with_doclen else 2
    row_block = np.repeat(np.arange(nblocks), nb)
    row_in_block = np.arange(n_rows) - bs[row_block]
    out_base = np.concatenate(([0], np.cumsum(s * nb)[:-1]))
    pos = out_base[row_block] + row_in_block
    nb_here = nb[row_block]
    ints = np.empty(s * n_rows, dtype=np.uint64)
    ints[pos] = d_enc
    ints[pos + nb_here] = wdfs.astype(np.uint64)
    if with_doclen:
        ints[pos + 2 * nb_here] = doclens.astype(np.uint64)
    stream, nbytes = _vbyte_encode_with_lengths(ints)
    blk_bytes = np.add.reduceat(nbytes, out_base)
    offsets = np.concatenate(([0], np.cumsum(blk_bytes)))
    if isinstance(terms, pa.Array):
        tpb = terms.take(pa.array(bs)).to_numpy(zero_copy_only=False)
    else:
        tpb = terms[bs]
    return tpb, first, last, nb, wdf_max, stream, offsets


# Flush a hot term's pending postings once they reach this many rows.
# Cut at a block_size multiple: blocks restart (raw docid, fresh wdf_max)
# at every block boundary, so packing a term's prefix separately from its
# tail emits byte-identical blocks — the pending run therefore never needs
# the COMPLETE posting list, only a block-aligned suffix.  2^21 postings ≈
# 50 MB of int64 arrays (plus term bytes), far below executor memory yet
# thousands of blocks per flush, so the vectorized pack stays amortized.
CARRY_FLUSH_POSTINGS = 1 << 21


def _slice4(frag: tuple, a: int, b: int | None = None) -> tuple:
    t, d, w, l = frag
    stop = len(d) if b is None else b
    ts = t.slice(a, stop - a) if isinstance(t, pa.Array) else t[a:stop]
    return ts, d[a:stop], w[a:stop], l[a:stop]


def _concat4(frags: list[tuple]) -> tuple:
    if len(frags) == 1:
        return frags[0]
    ts = [f[0] for f in frags]
    if isinstance(ts[0], pa.Array):
        t = pa.concat_arrays([x.cast(ts[0].type) for x in ts])
    else:
        t = np.concatenate(ts)
    return (
        t,
        np.concatenate([f[1] for f in frags]),
        np.concatenate([f[2] for f in frags]),
        np.concatenate([f[3] for f in frags]),
    )


def _first_term(frag: tuple):
    t = frag[0]
    return t[0].as_py() if isinstance(t, pa.Array) else t[0]


def _pack_stream(
    batches: Iterator[tuple],
    block_size: int,
    flush_postings: int = CARRY_FLUSH_POSTINGS,
    with_doclen: bool = True,
) -> Iterator[tuple]:
    """Drive _pack_region over a stream of (term, docid, wdf, doclen)
    batches (term column: pyarrow string Array or numpy object array),
    holding back each batch's final (possibly continuing) run so a term's
    blocks are cut from its COMPLETE posting list.

    The pending run accumulates as a LIST of batch fragments and is
    concatenated ONCE when the term completes — concatenating per batch
    would copy a stopword-class term's growing prefix once per 10k-row
    Arrow batch, i.e. O(postings^2/batch) bytes moved (measured: 3-6x
    whole-stage slowdown at 8M docs).  A run that reaches flush_postings
    is packed up to a block_size-aligned cut, bounding memory REGARDLESS
    of term frequency while keeping emitted bytes identical — blocks
    restart (raw docid, fresh wdf_max) at every block boundary, so the cut
    is invisible.  (Byte-identity assumes no duplicate (term, docid)
    postings — the inverter's invariant; with dups inside a flushed prefix
    the collapse shifts later block cuts, still yielding VALID blocks
    since readers use each block's explicit n.)  Term splitting is already
    normal here (partition boundaries may split a term; each side emits
    its own blocks, exactly like the multiple sorted runs merged by
    xapian-compact, glass_compact.cc:80-340)."""
    pend: list[tuple] = []  # fragments of ONE pending (trailing) run
    pend_rows = 0
    pend_term = None

    def flush_aligned(run: tuple) -> Iterator[tuple]:
        """Pack a hot run's prefix at the largest block-aligned cut that
        leaves a non-empty remainder; the remainder becomes the new pend."""
        nonlocal pend, pend_rows
        d = run[1]
        cut = ((len(d) - 1) // block_size) * block_size
        # back off while a duplicate (term, docid) pair straddles the cut,
        # so the defensive collapse in _pack_region still sees the pair
        while cut > 0 and d[cut] == d[cut - 1]:
            cut -= block_size
        if cut > 0:
            yield _pack_region(*_slice4(run, 0, cut), block_size,
                               with_doclen=with_doclen)
            run = _slice4(run, cut)
        pend, pend_rows = [run], len(run[1])

    for batch in batches:
        terms = batch[0]
        n = len(batch[1])
        if n == 0:
            continue
        if pend and _first_term(batch) != pend_term:
            # the pending run is complete — pack it on its own
            yield _pack_region(*_concat4(pend), block_size,
                               with_doclen=with_doclen)
            pend, pend_rows = [], 0
        changes = np.nonzero(_term_changes(terms))[0]
        if len(changes) == 0:
            pend.append(batch)
            pend_rows += n
            if len(pend) == 1:
                pend_term = _first_term(batch)
        else:
            cut = int(changes[-1]) + 1
            yield _pack_region(
                *_concat4(pend + [_slice4(batch, 0, cut)]), block_size,
                with_doclen=with_doclen,
            )
            tail = _slice4(batch, cut)
            pend, pend_rows = [tail], n - cut
            pend_term = _first_term(tail)
        if pend_rows >= flush_postings:
            yield from flush_aligned(_concat4(pend))
    if pend:
        yield _pack_region(*_concat4(pend), block_size,
                           with_doclen=with_doclen)


def _np_int(col: np.ndarray | pd.Series) -> np.ndarray:
    a = col.to_numpy() if hasattr(col, "to_numpy") else np.asarray(col)
    return a.astype(np.int64, copy=False)


def pack_blocks_arrow(block_size: int = DEFAULT_BLOCK, payload_v: int = 1):
    """mapInArrow fn over (term, docid, wdf, doclen) sorted by (term, docid)
    within each partition: emits block rows as Arrow RecordBatches.

    The payload binary column is built directly from the packed byte stream
    + offsets pair (pa.BinaryArray.from_buffers) — zero per-block Python.
    payload_v=2 omits the doclen stream (see module docstring) and appends
    the constant payload_v marker column.
    """
    import pyarrow as pa

    fields = [
        ("term", pa.string()),
        ("first_docid", pa.int64()),
        ("last_docid", pa.int64()),
        ("n", pa.int32()),
        ("wdf_max", pa.int32()),
        ("payload", pa.binary()),
    ]
    if payload_v == 2:
        fields.append(("payload_v", pa.int32()))
    schema = pa.schema(fields)

    def pack(batches) -> Iterator["pa.RecordBatch"]:
        def np_batches():
            for rb in batches:
                cols = {name: rb.column(i) for i, name in
                        enumerate(rb.schema.names)}
                wdfs = _np_int(cols["wdf"].to_numpy(zero_copy_only=False))
                if payload_v == 2:
                    # v2 never encodes doclens: don't even require (or
                    # convert) the column — the caller's projection can
                    # prune it from the parquet scan.  The wdf array
                    # stands in as a zero-cost placeholder for the
                    # 4-tuple slicing helpers; _pack_region ignores it.
                    lens = wdfs
                else:
                    lens = _np_int(
                        cols["doclen"].to_numpy(zero_copy_only=False)
                    )
                yield (
                    cols["term"],  # stays Arrow: no per-posting PyObjects
                    _np_int(cols["docid"].to_numpy(zero_copy_only=False)),
                    wdfs,
                    lens,
                )

        for tpb, first, last, nb, wmax, stream, offs in _pack_stream(
            np_batches(), block_size, with_doclen=payload_v != 2
        ):
            payload = pa.Array.from_buffers(
                pa.binary(), len(tpb),
                [None, pa.py_buffer(offs.astype(np.int32).tobytes()),
                 pa.py_buffer(stream.tobytes())],
            )
            arrays = [
                pa.array(tpb, type=pa.string()),
                pa.array(first, type=pa.int64()),
                pa.array(last, type=pa.int64()),
                pa.array(nb.astype(np.int32), type=pa.int32()),
                pa.array(wmax.astype(np.int32), type=pa.int32()),
                payload,
            ]
            if payload_v == 2:
                arrays.append(
                    pa.array(np.full(len(tpb), 2, dtype=np.int32),
                             type=pa.int32())
                )
            yield pa.RecordBatch.from_arrays(arrays, schema=schema)

    return pack


def pack_blocks(
    postings: DataFrame,
    block_size: int = DEFAULT_BLOCK,
    num_ranges: int | None = None,
    payload_v: int = 1,
) -> DataFrame:
    """(term, docid, wdf, doclen) -> blocked table.

    Explicit term-hash-range layout: repartitionByRange(term, docid) gives
    each task a contiguous (term, docid) range — hot terms span several
    tasks (built-in salting by docid range), cold terms pack densely.
    """
    parts = num_ranges or postings.sparkSession.conf.get(
        "spark.sql.shuffle.partitions", "32"
    )
    cols = ["term", "docid", "wdf"] + (["doclen"] if payload_v == 1 else [])
    return (
        postings.select(*cols)
        .repartitionByRange(int(parts), "term", "docid")
        .sortWithinPartitions("term", "docid")
        .mapInArrow(
            pack_blocks_arrow(block_size, payload_v), block_schema(payload_v)
        )
    )


def _decode_block_batch(batch: pd.DataFrame) -> dict[str, np.ndarray]:
    """Vectorized decode of a whole Arrow batch of block rows.

    One vbyte_decode over the concatenated payloads (every payload ends on
    a value boundary, so decode(concat) == concat(decode(each))), then pure
    numpy segment arithmetic — no per-block Python loop in the query hot
    path (the glass cursor decodes chunk-at-a-time, glass_postlist.cc:
    219-329; we decode batch-at-a-time).

    Payload-version aware: v2 batches (payload_v column present) carry no
    doclen stream, and the returned dict has no "doclen" key.  A batch
    with the column must be all-v2: a null or other version (e.g. a v1
    table unioned in by name) raises instead of decoding v1 payloads
    with the v2 stride.
    """
    v2 = "payload_v" in batch.columns
    if v2:
        pv = batch["payload_v"]
        if pv.isna().any() or (pv != 2).any():
            raise ValueError(
                "mixed payload versions in one blocked table: every row's "
                "payload_v must be 2"
            )
    s = 2 if v2 else 3
    ns = batch["n"].to_numpy(np.int64)
    ints = vbyte_decode(b"".join(batch["payload"]))
    nblocks = len(ns)
    total = int(ns.sum())
    # flat layout per block i: [deltas(n_i), wdfs(n_i)(, doclens(n_i))]
    starts3 = np.zeros(nblocks, dtype=np.int64)
    pstarts = np.zeros(nblocks, dtype=np.int64)
    if nblocks > 1:
        np.cumsum(s * ns[:-1], out=starts3[1:])
        np.cumsum(ns[:-1], out=pstarts[1:])
    block_of = np.repeat(np.arange(nblocks), ns)
    within = np.arange(total, dtype=np.int64) - pstarts[block_of]
    delta_idx = starts3[block_of] + within
    n_rep = ns[block_of]
    deltas = ints[delta_idx].astype(np.int64)
    wdfs = ints[delta_idx + n_rep].astype(np.int64)
    # docid reconstruction: within a block d = segmented_cumsum(delta+1) - 1
    c = np.cumsum(deltas + 1)
    seg_base = np.zeros(nblocks, dtype=np.int64)
    if nblocks > 1:
        seg_base[1:] = c[pstarts[1:] - 1]
    docids = c - seg_base[block_of] - 1
    out = {
        "term": np.repeat(batch["term"].to_numpy(), ns),
        "first_docid": np.repeat(
            batch["first_docid"].to_numpy(np.int64), ns
        ),
        "docid": docids,
        "wdf": wdfs,
    }
    if not v2:
        out["doclen"] = ints[delta_idx + 2 * n_rep].astype(np.int64)
    return out


def unpack_blocks_udf(with_doclen: bool = True):
    """mapInPandas fn: block rows -> (term, docid, wdf[, doclen]) postings
    (doclen only for v1 payloads — pass with_doclen=False for v2)."""
    out_cols = ["term", "docid", "wdf"] + (["doclen"] if with_doclen else [])

    def unpack(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in batches:
            if batch.empty:
                continue
            cols = _decode_block_batch(batch)
            if with_doclen and "doclen" not in cols:
                # clear executor-side diagnosis instead of a bare KeyError:
                # the caller asked for doclen from a v2 payload that never
                # stored one (use unpack_blocks(), which version-sniffs)
                raise ValueError(
                    "with_doclen=True over a payload-v2 blocked table: "
                    "v2 payloads carry no doclen stream"
                )
            yield pd.DataFrame({c: cols[c] for c in out_cols})

    return unpack


def unpack_blocks(blocked: DataFrame) -> DataFrame:
    """Block rows -> posting rows.  Version-aware: a v2 table (payload_v
    column present) decodes to (term, docid, wdf) — no doclen stream
    exists; callers needing doclen join the warehouse doclens table,
    candidate-scoped (query/wand.py)."""
    v2 = "payload_v" in blocked.columns
    schema = "term string, docid long, wdf int" + (
        "" if v2 else ", doclen long"
    )
    return blocked.mapInPandas(unpack_blocks_udf(with_doclen=not v2), schema)


def unpack_blocks_keyed(blocked: DataFrame) -> DataFrame:
    """Like unpack_blocks but keeps the block key (first_docid) on every
    posting row, so postings can be joined back to per-query surviving-
    block sets (the batched block-max path, query/wand.py)."""
    v2 = "payload_v" in blocked.columns
    out_cols = ["term", "first_docid", "docid", "wdf"] + (
        [] if v2 else ["doclen"]
    )
    schema = "term string, first_docid long, docid long, wdf int" + (
        "" if v2 else ", doclen long"
    )

    def unpack(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in batches:
            if batch.empty:
                continue
            cols = _decode_block_batch(batch)
            yield pd.DataFrame({c: cols[c] for c in out_cols})

    return blocked.mapInPandas(unpack, schema)
