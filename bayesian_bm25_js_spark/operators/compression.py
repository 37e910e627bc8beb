"""Posting-list compression: docID-sorted delta+varint blocks + block-max.

The reference keeps plain {docId, tf} arrays (bm25.ts:20-23) and a
separate dense BlockMaxIndex (scorer.ts:624-711). block_max_table is
the WAND metadata every routed batch reads. The delta+varint codec
(pack_postings / unpack_postings) is a standalone operator, no longer
the store format: save_index writes the postings once, as zstd parquet
rows sorted (term, doc_id), 1.05-1.12x the packed bytes and faster to
save and reload (sources/index_store.py). The codec packs postings
into fixed-count blocks:

  packed (term, block_id, n, min_doc_id, max_doc_id, max_contrib,
          doc_deltas BINARY, tfs BINARY, dls BINARY, dl_min, dl_width)

* The count rule is the packing rule: block_id = the posting's ordinal
  within its term's docID-sorted list // block_size, so every block but
  a term's last holds exactly block_size postings (skew-proof: no group
  outgrows block_size regardless of term frequency). Doc-range blocks
  (block_id = doc_id // block_size, the reference's rule,
  scorer.ts:659-661) belong to block_max_table only — the WAND metadata,
  where block membership must be a pure function of doc_id.
* doc_deltas: varint gaps of ascending doc_ids within the block
  (the first gap is 0: the block's min_doc_id is stored);
  tfs / dls: frame-of-reference bit-packed term frequencies and doc
  lengths (residuals from the block min at a fixed per-block bit
  width — tf and dl cluster, so residuals fit 2-8 bits where varint
  paid 8-16, and an all-equal block stores zero payload). dl is
  denormalized into the blob, as it is into the postings rows, so
  decoded postings never need the corpus-sized doc_stats table
  joined back on.
* max_contrib: the block's max BM25 contribution idf*tf_norm — the
  BMW bound input (Corollary 7.4.2), computed at pack time.

Pack runs as one mapInPandas over the term-sorted postings stream,
unpack as an Arrow-vectorized pandas UDF; both codecs work on a whole
Arrow batch per call.
"""

from __future__ import annotations

from typing import List, Optional

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from bayesian_bm25_js_spark.operators.index_build import InvertedIndex

DEFAULT_BLOCK_SIZE = 128  # scorer.ts:630


# group-count thresholds: value v needs 1 + #(v >= 2^(7k)) 7-bit groups
_VARINT_THRESHOLDS = np.array(
    [np.uint64(1) << np.uint64(7 * k) for k in range(1, 10)], dtype=np.uint64
)


def varint_encode(values: np.ndarray) -> bytes:
    """LEB128 encode non-negative ints (< 2^63), fully vectorized.

    The codec runs inside the pack/unpack Arrow UDFs once per block —
    a per-element Python loop here was the pack hot path (~2 loop
    iterations per posting over every posting in the corpus)."""
    v = np.asarray(values, dtype=np.uint64)
    if v.size == 0:
        return b""
    ngroups = 1 + (v[:, None] >= _VARINT_THRESHOLDS[None, :]).sum(axis=1)
    maxg = int(ngroups.max())
    shifts = np.uint64(7) * np.arange(maxg, dtype=np.uint64)
    chunks = ((v[:, None] >> shifts[None, :]) & np.uint64(0x7F)).astype(np.uint8)
    gidx = np.arange(maxg)
    valid = gidx[None, :] < ngroups[:, None]
    cont = gidx[None, :] < (ngroups[:, None] - 1)
    chunks = np.where(cont, chunks | 0x80, chunks)
    # row-major flatten of the valid mask keeps per-value group order
    return chunks[valid].tobytes()


def varint_decode(data: bytes) -> List[int]:
    """Vectorized LEB128 decode: segment boundaries at clear
    continuation bits, per-segment horner sum via add.reduceat.
    An incomplete trailing value (continuation bit set on the last
    byte) is dropped, matching the scalar decoder's behavior."""
    if not data:
        return []
    b = np.frombuffer(data, dtype=np.uint8)
    end_idx = np.nonzero((b & 0x80) == 0)[0]
    if end_idx.size == 0:
        return []
    b = b[: end_idx[-1] + 1]
    starts = np.empty_like(end_idx)
    starts[0] = 0
    starts[1:] = end_idx[:-1] + 1
    pos = np.arange(len(b), dtype=np.uint64) - np.repeat(
        starts.astype(np.uint64), end_idx - starts + 1
    )
    vals = (b & 0x7F).astype(np.uint64) << (np.uint64(7) * pos)
    return [int(x) for x in np.add.reduceat(vals, starts)]


def _encode_rows(values: np.ndarray, row_starts: np.ndarray, lens: np.ndarray):
    """Encode many rows' values in ONE vectorized pass -> list[bytes].

    values: all rows' non-negative ints concatenated in row order;
    row_starts/lens: each row's slice of `values`. Byte-identical to
    calling varint_encode per row, but the per-value work happens once
    per Arrow batch instead of once per block."""
    n_rows = len(lens)
    if values.size == 0:
        return [b""] * n_rows
    v = values.astype(np.uint64, copy=False)
    ngroups = 1 + (v[:, None] >= _VARINT_THRESHOLDS[None, :]).sum(axis=1)
    maxg = int(ngroups.max())
    shifts = np.uint64(7) * np.arange(maxg, dtype=np.uint64)
    chunks = ((v[:, None] >> shifts[None, :]) & np.uint64(0x7F)).astype(np.uint8)
    gidx = np.arange(maxg)
    valid = gidx[None, :] < ngroups[:, None]
    cont = gidx[None, :] < (ngroups[:, None] - 1)
    chunks = np.where(cont, chunks | 0x80, chunks)
    buf = chunks[valid].tobytes()
    cum = np.concatenate(([0], np.cumsum(ngroups)))
    offs_lo = cum[row_starts]
    offs_hi = cum[row_starts + lens]
    return [buf[lo:hi] for lo, hi in zip(offs_lo, offs_hi)]


def _decode_rows(blobs) -> tuple:
    """Decode many rows' varint blobs in ONE vectorized pass.

    -> (all_values uint64 in row order, row_counts int64). Inverse of
    _encode_rows; complete values only (every stored blob ends with a
    clear continuation bit)."""
    byte_lens = np.fromiter((len(b) for b in blobs), dtype=np.int64, count=len(blobs))
    big = np.frombuffer(b"".join(blobs), dtype=np.uint8)
    if big.size == 0:
        return np.empty(0, dtype=np.uint64), np.zeros(len(blobs), dtype=np.int64)
    ends = (big & 0x80) == 0
    end_idx = np.nonzero(ends)[0]
    starts = np.empty_like(end_idx)
    starts[0] = 0
    starts[1:] = end_idx[:-1] + 1
    pos = np.arange(len(big), dtype=np.uint64) - np.repeat(
        starts.astype(np.uint64), end_idx - starts + 1
    )
    vals = (big & 0x7F).astype(np.uint64) << (np.uint64(7) * pos)
    all_values = np.add.reduceat(vals, starts)
    # per-row value count = clear-continuation bytes inside the row's span
    cum_ends = np.concatenate(([0], np.cumsum(ends)))
    byte_offs = np.concatenate(([0], np.cumsum(byte_lens)))
    row_counts = cum_ends[byte_offs[1:]] - cum_ends[byte_offs[:-1]]
    return all_values, row_counts


def _for_encode_rows(values: np.ndarray, row_starts: np.ndarray, lens: np.ndarray):
    """Frame-of-reference bit-pack many rows in one vectorized pass.

    Per row: residuals v - min(v) packed MSB-first at the row's fixed
    bit width w = bits(max residual); rows are byte-aligned so they
    slice out of one buffer. -> (blobs list[bytes], mins int64[],
    widths uint8[]). A row of identical values has width 0 and an
    EMPTY blob — the common case for dl streams over uniform docs.
    """
    n_rows = len(lens)
    mins = np.zeros(n_rows, dtype=np.int64)
    widths = np.zeros(n_rows, dtype=np.uint8)
    if values.size == 0:
        return [b""] * n_rows, mins, widths
    v = values.astype(np.int64, copy=False)
    row_ids = np.repeat(np.arange(n_rows), lens)
    mins = np.full(n_rows, np.iinfo(np.int64).max, dtype=np.int64)
    np.minimum.at(mins, row_ids, v)
    mins[lens == 0] = 0
    resid = (v - mins[row_ids]).astype(np.uint64)
    row_max = np.zeros(n_rows, dtype=np.uint64)
    np.maximum.at(row_max, row_ids, resid)
    # bits needed for the max residual (0 for all-equal rows)
    widths = np.where(
        row_max > 0, np.floor(np.log2(np.maximum(row_max, 1))).astype(np.int64) + 1, 0
    ).astype(np.uint8)
    w_per_val = widths[row_ids].astype(np.int64)
    # bit layout: rows byte-aligned; inside a row, value j occupies
    # bits [j*w, (j+1)*w) MSB-first
    row_bits = lens * widths.astype(np.int64)
    row_bytes = (row_bits + 7) // 8
    row_byte_offs = np.concatenate(([0], np.cumsum(row_bytes)))
    total_bits = int(row_byte_offs[-1]) * 8
    if total_bits == 0:
        return [b""] * n_rows, mins, widths
    bits = np.zeros(total_bits, dtype=np.uint8)
    # start bit of each value: row's byte offset * 8 + idx_in_row * w
    idx_in_row = np.arange(len(v)) - row_starts[row_ids]
    val_start = row_byte_offs[row_ids] * 8 + idx_in_row * w_per_val
    maxw = int(widths.max())
    for j in range(maxw):
        sel = w_per_val > j
        # bit j (MSB-first) of the residual
        shift = (w_per_val[sel] - 1 - j).astype(np.uint64)
        bits[val_start[sel] + j] = ((resid[sel] >> shift) & np.uint64(1)).astype(
            np.uint8
        )
    buf = np.packbits(bits).tobytes()
    return (
        [buf[lo:hi] for lo, hi in zip(row_byte_offs[:-1], row_byte_offs[1:])],
        mins,
        widths,
    )


def _for_decode_rows(blobs, mins, widths, counts) -> np.ndarray:
    """Inverse of _for_encode_rows -> all rows' values concatenated
    (int64, row order). counts: values per row (width-0 rows decode to
    `count` copies of min)."""
    counts = np.asarray(counts, dtype=np.int64)
    n_rows = len(counts)
    mins = np.asarray(mins, dtype=np.int64)
    widths = np.asarray(widths, dtype=np.int64)
    total = int(counts.sum())
    out = np.empty(total, dtype=np.int64)
    row_starts = np.concatenate(([0], np.cumsum(counts)[:-1]))
    row_ids = np.repeat(np.arange(n_rows), counts)
    out[:] = mins[row_ids]
    packed = widths > 0
    if not packed.any():
        return out
    buf = b"".join(bytes(b) for b in blobs)
    bits = np.unpackbits(np.frombuffer(buf, dtype=np.uint8))
    byte_lens = np.fromiter(
        (len(b) for b in blobs), dtype=np.int64, count=n_rows
    )
    byte_offs = np.concatenate(([0], np.cumsum(byte_lens)))
    w_per_val = widths[row_ids]
    sel = w_per_val > 0
    idx_in_row = np.arange(total) - row_starts[row_ids]
    val_start = byte_offs[row_ids] * 8 + idx_in_row * w_per_val
    resid = np.zeros(total, dtype=np.int64)
    maxw = int(widths.max())
    for j in range(maxw):
        s = w_per_val > j
        resid[s] = (resid[s] << 1) | bits[val_start[s] + j]
    out[sel] += resid[sel]
    return out


def pack_postings(
    index: InvertedIndex,
    block_size: int = DEFAULT_BLOCK_SIZE,
    n_partitions: Optional[int] = None,
) -> DataFrame:
    """postings -> packed block table: ONE shuffle + a streaming Arrow
    pass.

    block_id is the posting's ordinal within its term's docID-sorted
    list // block_size — every block holds exactly block_size postings
    (last one excepted), so sparse tail terms still fill blocks and
    varint deltas amortize (doc-range blocking left one-posting blocks
    whose per-row metadata outweighed the payload — measured packed/row
    ≈ 1.39 on the long-tail corpus). The first delta is from min_doc_id
    (stored), so unpack never needs the blocking rule back.

    Postings are repartitioned by hash(term) into n_partitions buckets
    (default spark.sql.shuffle.partitions; pass the store's bucket count
    to write the result with no further exchange) and sorted by
    (term, doc_id); block membership is then just position in the
    sorted run, so a mapInPandas over the sorted stream emits finished
    blocks directly — no per-slice count window, no offsets join, no
    collect_list re-grouping (a windowed formulation shuffled the
    corpus-sized postings three times and buffered every block through
    an ObjectHashAggregate; measured 7-16s vs ~3s at 100k docs / 11.5M
    postings). Output rows ride in (term asc, block_id asc) order inside
    each bucket — exactly the layout save_index wants on disk.

    Per-task memory is bounded: the packer keeps at most block_size - 1
    carry rows between Arrow batches (the unfinished trailing block of
    the batch's last term); a df≈n_docs hot term streams through in
    batch-sized chunks, never buffered whole in one task (ADVICE r02).
    The per-row contrib is computed with the same float64 operation
    order as tf_norm_column * idf.
    """
    if block_size < 1:
        raise ValueError(f"block_size must be >= 1, got {block_size}")
    n_partitions = n_partitions or int(
        index.postings.sparkSession.conf.get("spark.sql.shuffle.partitions", "200")
    )
    k1, b, avgdl = float(index.k1), float(index.b), float(index.avgdl)
    bs = block_size

    cols = index.postings.select("term", "doc_id", "tf", "dl", "idf")
    srt = cols.repartition(n_partitions, "term").sortWithinPartitions(
        "term", "doc_id"
    )

    out_cols = [
        "term", "block_id", "n", "min_doc_id", "max_doc_id", "max_contrib",
        "doc_deltas", "tfs", "dls", "tf_min", "tf_width", "dl_min", "dl_width",
    ]

    def _emit(term, doc, tf, dl, idf, ordinals):
        """Rows (sorted, ordinals ≡ 0 mod bs at run starts) -> block df."""
        starts = np.nonzero(ordinals % bs == 0)[0]
        lens = np.diff(np.append(starts, len(doc)))
        tfd = tf.astype(np.float64)
        dld = dl.astype(np.float64)
        # same float64 op order as tf_norm_column * idf
        contrib = (
            (tfd * (k1 + 1.0)) / (tfd + k1 * ((1.0 - b) + b * (dld / avgdl)))
        ) * idf
        gaps = np.empty_like(doc)
        if len(doc) > 1:
            gaps[1:] = doc[1:] - doc[:-1]
        gaps[starts] = 0  # first delta is from min_doc_id (stored)
        tf_blobs, tf_mins, tf_widths = _for_encode_rows(tf, starts, lens)
        dl_blobs, dl_mins, dl_widths = _for_encode_rows(dl, starts, lens)
        return pd.DataFrame(
            {
                "term": term[starts],
                "block_id": (ordinals[starts] // bs).astype(np.int64),
                "n": lens.astype(np.int32),
                "min_doc_id": doc[starts],
                "max_doc_id": doc[starts + lens - 1],
                "max_contrib": np.maximum.reduceat(contrib, starts),
                "doc_deltas": _encode_rows(gaps.astype(np.uint64), starts, lens),
                "tfs": tf_blobs,
                "dls": dl_blobs,
                "tf_min": tf_mins,
                "tf_width": tf_widths.astype(np.int32),
                "dl_min": dl_mins,
                "dl_width": dl_widths.astype(np.int32),
            },
            columns=out_cols,
        )

    def pack_partition(batches):
        carry = None  # trailing partial block of the last term seen
        # ordinal to assign to the next row of `pending_term` — the
        # first carry row's ordinal when carry is non-empty, else the
        # continuation ordinal for a term whose emitted rows happened to
        # end exactly on a block boundary (carry empty but the term may
        # still continue in the next batch).
        pending_term = None
        carry_ord = 0
        for pdf in batches:
            if not len(pdf):
                continue
            if carry is not None:
                pdf = pd.concat([carry, pdf], ignore_index=True)
            term = pdf["term"].to_numpy()
            doc = pdf["doc_id"].to_numpy(dtype=np.int64)
            m = len(term)
            # per-run ordinals: arange minus each run's start offset,
            # plus the carried continuation offset when the first run
            # continues the previous batch's last term
            change = np.empty(m, dtype=bool)
            change[0] = True
            change[1:] = term[1:] != term[:-1]
            run_starts = np.nonzero(change)[0]
            idx = np.arange(m, dtype=np.int64)
            ordinals = idx - np.repeat(
                run_starts, np.diff(np.append(run_starts, m))
            )
            if pending_term is not None and term[0] == pending_term:
                first_run_end = run_starts[1] if len(run_starts) > 1 else m
                ordinals[:first_run_end] += carry_ord
            # emit everything except the trailing partial block of the
            # LAST term (it may continue in the next batch)
            last = run_starts[-1]
            o_end = ordinals[-1] + 1
            cut = last + max(0, (o_end // bs) * bs - ordinals[last])
            if cut > 0:
                yield _emit(
                    term[:cut],
                    doc[:cut],
                    pdf["tf"].to_numpy(dtype=np.int64)[:cut],
                    pdf["dl"].to_numpy(dtype=np.int64)[:cut],
                    pdf["idf"].to_numpy(dtype=np.float64)[:cut],
                    ordinals[:cut],
                )
            pending_term = term[-1]
            if cut < m:
                carry = pdf.iloc[cut:].reset_index(drop=True)
                carry_ord = int(ordinals[cut])
            else:
                carry = None
                carry_ord = int(ordinals[-1]) + 1
        if carry is not None and len(carry):
            yield _emit(
                carry["term"].to_numpy(),
                carry["doc_id"].to_numpy(dtype=np.int64),
                carry["tf"].to_numpy(dtype=np.int64),
                carry["dl"].to_numpy(dtype=np.int64),
                carry["idf"].to_numpy(dtype=np.float64),
                np.arange(len(carry), dtype=np.int64) + carry_ord,
            )

    schema = (
        "term string, block_id long, n int, min_doc_id long, max_doc_id long, "
        "max_contrib double, doc_deltas binary, tfs binary, dls binary, "
        "tf_min bigint, tf_width int, dl_min bigint, dl_width int"
    )
    return srt.mapInPandas(pack_partition, schema)


def unpack_postings(packed: DataFrame) -> DataFrame:
    """packed blocks -> (term, block_id, doc_id, tf, dl). Inverse of
    pack. Reconstruction is anchored on the stored min_doc_id, so no
    blocking-rule parameter is needed."""

    @pandas_udf("struct<doc_ids:array<bigint>,tfs:array<int>,dls:array<int>>")
    def _unpack(
        deltas: pd.Series,
        tfs: pd.Series,
        dls: pd.Series,
        bases: pd.Series,
        tf_mins: pd.Series,
        tf_widths: pd.Series,
        dl_mins: pd.Series,
        dl_widths: pd.Series,
    ) -> pd.DataFrame:
        # whole-batch vectorized decode; per-row work is one np.split
        # slice, and the struct rows are zipped JVM-side (arrays_zip)
        d_blobs = [bytes(d) for d in deltas]
        gaps, counts = _decode_rows(d_blobs)
        tf_all = _for_decode_rows(
            [bytes(t) for t in tfs], tf_mins, tf_widths, counts
        )
        dl_all = _for_decode_rows(
            [bytes(x) for x in dls], dl_mins, dl_widths, counts
        )
        t_counts = counts
        l_counts = counts
        # per-row cumsum of gaps rebased to the block's min_doc_id:
        # global cumsum minus the cumsum just before each row's start
        g = np.cumsum(gaps.astype(np.int64))
        row_starts = np.concatenate(([0], np.cumsum(counts)[:-1]))
        g_before = np.where(row_starts > 0, g[row_starts - 1], 0)
        base_arr = np.asarray(bases, dtype=np.int64)
        doc_all = (
            g - np.repeat(g_before, counts) + np.repeat(base_arr, counts)
            if gaps.size
            else np.empty(0, dtype=np.int64)
        )
        splits = np.cumsum(counts)[:-1]
        return pd.DataFrame(
            {
                "doc_ids": np.split(doc_all, splits),
                "tfs": [a.astype(np.int32) for a in np.split(tf_all.astype(np.int64), np.cumsum(t_counts)[:-1])],
                "dls": [a.astype(np.int32) for a in np.split(dl_all.astype(np.int64), np.cumsum(l_counts)[:-1])],
            }
        )

    return (
        packed.withColumn(
            "blob",
            _unpack(
                F.col("doc_deltas"), F.col("tfs"), F.col("dls"),
                F.col("min_doc_id"), F.col("tf_min"), F.col("tf_width"),
                F.col("dl_min"), F.col("dl_width"),
            ),
        )
        .withColumn(
            "entry", F.explode(F.arrays_zip("blob.doc_ids", "blob.tfs", "blob.dls"))
        )
        .select(
            "term",
            "block_id",
            F.col("entry.doc_ids").cast("long").alias("doc_id"),
            F.col("entry.tfs").cast("int").alias("tf"),
            F.col("entry.dls").cast("int").alias("dl"),
        )
    )


def block_max_table(
    index: InvertedIndex, block_size: int = DEFAULT_BLOCK_SIZE
) -> DataFrame:
    """(term, block_id, max_contrib, min_contrib, n) — BlockMaxIndex.build
    semantics (scorer.ts:641-674) as one aggregate, extended with the
    block's min contribution and posting count: every one of the n docs
    holding the term in the block scores >= min_contrib, which gives the
    WAND threshold n distinct lower-bound witnesses per (term, block)."""
    contrib = index.tf_norm_column(F.col("tf"), F.col("dl")) * F.col("idf")
    # term rides along for inspection/oracle queries (1:1 with term_id);
    # hot paths join/filter on term_id and column-prune the string away.
    return (
        index.postings.withColumn(
            # long: block ids reach n_docs // block_size, which outgrows
            # int32 past ~2.7e11 docs (ADVICE r4)
            "block_id", F.floor(F.col("doc_id") / block_size).cast("long")
        )
        .groupBy("term_id", "term", "block_id")
        .agg(
            F.max(contrib).alias("max_contrib"),
            F.min(contrib).alias("min_contrib"),
            F.count(F.lit(1)).alias("n"),
        )
    )
