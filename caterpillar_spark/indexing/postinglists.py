"""Compressed document-level posting lists with block-max metadata.

The persisted inverted-file layout mandated by the north_rule:
delta-gap + varint compressed posting lists, partitioned by term hash,
with per-term document frequencies and skip-block (block-max) metadata
for WAND pruning.

Layout — one row per (term, block)::

    term        string   -- the term
    term_bucket int      -- pmod(xxhash64(term), num_buckets); partition col
    block       int      -- doc-range block id (see below)
    n_docs      int      -- postings in this block
    first_doc   long     -- first doc id (unsigned order) in the block
    last_doc    long     -- last doc id; with first_doc = skip metadata
    doc_gaps    binary   -- varint deltas of the remaining n-1 doc ids
    freqs       binary   -- varint term frequency per doc (doc-level tf)
    doc_lens    binary   -- varint document length (tokens) per doc
    max_freq    int      -- block-max tf
    max_score_q double   -- block-max BM25 term quotient
                            max_d tf*(k1+1)/(tf + k1*(1-b+b*dl/avgdl));
                            query bound for the block = idf * max_score_q

Block assignment is **by doc-id range, not by list position**:
``block = shiftrightunsigned(doc_id, 64 - block_bits)``.  Because doc
ids are xxhash64(url) (uniform), a hot term's postings spread evenly
over all 2^block_bits blocks — this is the skew answer for posting-list
*construction*: the groupBy key is (term, block), so no reducer ever
holds more than ~1/2^block_bits of the hottest list (vs. the reference,
which is single-writer SQLite and sidesteps the problem,
storage/sqlite.py:133-150).  Alignment is global: block B covers the
same doc range for every term, so intersection and WAND can process
block-aligned groups without re-sorting.

Aggregation to document level (tf = sum of frame freqs, dl = sum of
frame tokens) happens map-side-combinable before the block groupBy.
Encoding runs in an Arrow-batched grouped ``applyInPandas`` — no
per-row Python at the driver.
"""

from __future__ import annotations

from typing import Optional

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import (
    BinaryType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from caterpillar_spark.indexing.codec import (
    decode_doc_gaps,
    decode_varints,
    encode_doc_gaps,
    encode_varints,
)

BM25_K1 = 1.2
BM25_B = 0.75
# Block sizing (measured, BASELINE.md "Block sizing at 2M docs"): pick
# 2^block_bits so a *hot* term's per-(term, block) row carries between
# ~3*10^4 postings (the measured overhead floor: 2M docs @ bits=10 =
# ~2k/row ran 14-54% slower queries than bits=6) and ~10^8 (the
# ~0.4 GB-decoded task-memory ceiling, DESIGN_SCALE.md).  2M docs ->
# 4-6; 10^9 docs -> 10-15; 10^12 -> 12-24.  The default suits sandbox
# scale only.
DEFAULT_BLOCK_BITS = 4

POSTING_LIST_SCHEMA = StructType(
    [
        StructField("term", StringType(), False),
        StructField("term_bucket", IntegerType(), False),
        StructField("block", IntegerType(), False),
        StructField("n_docs", IntegerType(), False),
        StructField("first_doc", LongType(), False),
        StructField("last_doc", LongType(), False),
        StructField("doc_gaps", BinaryType(), True),
        StructField("freqs", BinaryType(), True),
        StructField("doc_lens", BinaryType(), True),
        StructField("max_freq", IntegerType(), False),
        StructField("max_score_q", DoubleType(), False),
    ]
)


def doc_level_postings(
    postings: DataFrame, doc_lens: Optional[DataFrame] = None
) -> DataFrame:
    """(term, frame) postings -> (term, doc) postings: tf summed over
    the document's frames, dl = document token count (sum of frame
    tokens over the doc's distinct frames).

    Pass ``doc_lens`` (doc_id, dl) explicitly when ``postings`` is a
    term-bucket *slice* of the corpus — deriving dl from a slice would
    miss frames whose terms all hash outside the slice."""
    if doc_lens is None:
        doc_lens = (
            postings.select("doc_id", "field", "frame_seq", "frame_tokens")
            .dropDuplicates(["doc_id", "field", "frame_seq"])
            .groupBy("doc_id")
            .agg(F.sum("frame_tokens").cast("long").alias("dl"))
        )
    tf = postings.groupBy("term", "doc_id").agg(
        F.sum("freq").cast("long").alias("tf")
    )
    return tf.join(doc_lens, "doc_id")


def build_posting_lists(
    postings: DataFrame,
    num_buckets: int = 64,
    block_bits: int = DEFAULT_BLOCK_BITS,
    k1: float = BM25_K1,
    b: float = BM25_B,
    avgdl: Optional[float] = None,
    doc_lens: Optional[DataFrame] = None,
) -> DataFrame:
    """(term, frame) postings -> compressed block rows
    (POSTING_LIST_SCHEMA)."""
    docp = doc_level_postings(postings, doc_lens)
    if avgdl is None:
        row = (
            docp.select("doc_id", "dl")
            .dropDuplicates(["doc_id"])
            .agg(F.avg("dl"))
            .collect()[0]
        )
        avgdl = float(row[0] or 1.0)

    shift = 64 - block_bits
    sign_bit = -(2**63)
    keyed = docp.select(
        "term",
        F.pmod(F.xxhash64("term"), F.lit(num_buckets)).cast("int").alias(
            "term_bucket"
        ),
        F.shiftrightunsigned(F.col("doc_id"), shift).cast("int").alias("block"),
        # sign-bit flip makes signed sort order == unsigned doc order,
        # so sort_array below orders postings the way the codec needs
        F.col("doc_id").bitwiseXOR(F.lit(sign_bit)).alias("ukey"),
        "doc_id",
        "tf",
        "dl",
    )
    # The shuffle key is (term, block): a hot term's list spreads over
    # all 2^block_bits blocks, so no single reducer owns it.  The
    # collect_list stays JVM-side; Python sees one already-sorted array
    # per block and encodes a whole Arrow batch of blocks at a time.
    grouped = keyed.groupBy("term", "term_bucket", "block").agg(
        F.sort_array(
            F.collect_list(F.struct("ukey", "doc_id", "tf", "dl"))
        ).alias("plist")
    )

    def encode(batches):
        for pdf in batches:
            out = []
            for term, bucket, block, plist in pdf.itertuples(index=False):
                doc_ids = np.fromiter(
                    (p["doc_id"] for p in plist), dtype=np.int64, count=len(plist)
                )
                tfs = np.fromiter(
                    (p["tf"] for p in plist), dtype=np.int64, count=len(plist)
                )
                dls = np.fromiter(
                    (p["dl"] for p in plist), dtype=np.int64, count=len(plist)
                )
                score_q = (tfs * (k1 + 1.0)) / (
                    tfs + k1 * (1.0 - b + b * dls / avgdl)
                )
                out.append(
                    (
                        term,
                        int(bucket),
                        int(block),
                        len(doc_ids),
                        int(doc_ids[0]),
                        int(doc_ids[-1]),
                        encode_doc_gaps(doc_ids),
                        encode_varints(tfs),
                        encode_varints(dls),
                        int(tfs.max()),
                        float(score_q.max()),
                    )
                )
            yield pd.DataFrame(
                out, columns=[f.name for f in POSTING_LIST_SCHEMA.fields]
            )

    return grouped.mapInPandas(encode, schema=POSTING_LIST_SCHEMA)


#: Compressed POSITIONS layout — one row per (term, block, field),
#: doc-range-aligned with POSTING_LIST_SCHEMA blocks so phrase search
#: shuffles on the same ``block`` key WAND does.  ``data`` is one
#: varint stream: per frame (sorted by unsigned doc, then frame_seq)
#: ``[doc_gap, frame_seq, n_pos, pos_0, pos_gap...]`` where doc_gap is
#: the unsigned delta from the previous frame's doc (0 = same doc;
#: first frame's doc is ``first_doc``).  This closes the r3 gap where
#: phrase/ngram queries had to scan the RAW postings parquet — a
#: second, uncompressed layout — at 100 TB.
POSITION_LIST_SCHEMA = StructType(
    [
        StructField("term", StringType(), False),
        StructField("term_bucket", IntegerType(), False),
        StructField("block", IntegerType(), False),
        StructField("field", StringType(), False),
        StructField("n_frames", IntegerType(), False),
        StructField("first_doc", LongType(), False),
        StructField("data", BinaryType(), True),
    ]
)


def build_position_lists(
    postings: DataFrame,
    num_buckets: int = 64,
    block_bits: int = DEFAULT_BLOCK_BITS,
) -> DataFrame:
    """Frame-level (term, frame, positions) postings -> compressed
    position rows (POSITION_LIST_SCHEMA).

    Same skew-proof construction as :func:`build_posting_lists`: the
    shuffle key is (term, block, field), so a hot term's position data
    shards over all 2^block_bits doc-range blocks; encoding runs in an
    Arrow-batched ``mapInPandas`` with ONE varint encode per row (the
    per-frame values are flattened into a single stream first)."""
    shift = 64 - block_bits
    sign_bit = -(2**63)
    keyed = postings.select(
        "term",
        F.pmod(F.xxhash64("term"), F.lit(num_buckets)).cast("int").alias(
            "term_bucket"
        ),
        F.shiftrightunsigned(F.col("doc_id"), shift).cast("int").alias("block"),
        "field",
        F.col("doc_id").bitwiseXOR(F.lit(sign_bit)).alias("ukey"),
        "doc_id",
        "frame_seq",
        "positions",
    )
    grouped = keyed.groupBy("term", "term_bucket", "block", "field").agg(
        F.sort_array(
            F.collect_list(F.struct("ukey", "frame_seq", "doc_id", "positions"))
        ).alias("plist")
    )

    def encode(batches):
        for pdf in batches:
            out = []
            for term, bucket, block, field, plist in pdf.itertuples(index=False):
                flat: list = []
                prev_u = None
                first_doc = int(plist[0]["doc_id"])
                for fr in plist:
                    u = int(fr["ukey"]) + 2**63  # unsigned reinterpretation
                    flat.append(0 if prev_u is None else u - prev_u)
                    prev_u = u
                    pos = fr["positions"]
                    flat.append(int(fr["frame_seq"]))
                    flat.append(len(pos))
                    prev_p = 0
                    for j, p in enumerate(pos):
                        flat.append(int(p) if j == 0 else int(p) - prev_p)
                        prev_p = int(p)
                out.append(
                    (
                        term,
                        int(bucket),
                        int(block),
                        field,
                        len(plist),
                        first_doc,
                        encode_varints(flat),
                    )
                )
            yield pd.DataFrame(
                out, columns=[f.name for f in POSITION_LIST_SCHEMA.fields]
            )

    return grouped.mapInPandas(encode, schema=POSITION_LIST_SCHEMA)


def decode_position_row(row):
    """One POSITION_LIST_SCHEMA row -> list of (doc_id, frame_seq,
    positions ndarray) — the single source of truth for the decode used
    by the phrase kernel (query/phrase.py) and tests."""
    vals = decode_varints(row["data"])
    n = row["n_frames"]
    out = []
    u = np.int64(row["first_doc"]).astype(np.uint64)
    i = 0
    first = True
    for _ in range(n):
        # decode_varints reinterprets mod-2^64 values as signed; the
        # unsigned doc gap needs the uint64 view back
        gap = np.int64(vals[i]).astype(np.uint64); i += 1
        u = u if first else u + gap
        first = False
        fseq = int(vals[i]); i += 1
        npos = int(vals[i]); i += 1
        pos = np.cumsum(vals[i : i + npos])
        i += npos
        out.append((int(u.astype(np.int64)), fseq, pos))
    return out


def decode_position_row_filtered(row, keep_docs) -> list:
    """Like :func:`decode_position_row`, but materializes position
    arrays ONLY for frames whose doc_id is in ``keep_docs`` (a set of
    signed int64 doc ids).  The varint stream is sequential so every
    frame header is still walked, but dead frames skip the per-frame
    cumsum/array allocation — the phrase kernel's hot-term pruning
    path, where the doc intersection of the query terms is far smaller
    than each term's own list ("the" ∧ "index").  Plain-int walk (no
    numpy scalar churn) keeps the skip cost per dead frame to three
    index reads."""
    vals = decode_varints(row["data"])
    n = row["n_frames"]
    out = []
    M = (1 << 64) - 1
    u = int(row["first_doc"]) & M
    i = 0
    first = True
    for _ in range(n):
        gap = int(vals[i]) & M
        i += 1
        if not first:
            u = (u + gap) & M
        first = False
        fseq = int(vals[i]); i += 1
        npos = int(vals[i]); i += 1
        doc = u - (1 << 64) if u >= (1 << 63) else u
        if doc in keep_docs:
            out.append((doc, fseq, np.cumsum(vals[i : i + npos])))
        i += npos
    return out


def decode_block(row) -> pd.DataFrame:
    """One block row -> DataFrame(doc_id, tf, dl); test/debug helper and
    the single source of truth for the decode used by the WAND scorer."""
    n = row["n_docs"]
    return pd.DataFrame(
        {
            "doc_id": decode_doc_gaps(row["first_doc"], row["doc_gaps"], n),
            "tf": decode_varints(row["freqs"])[:n],
            "dl": decode_varints(row["doc_lens"])[:n],
        }
    )


def posting_list_stats(lists: DataFrame) -> DataFrame:
    """Per-term document frequency + compressed footprint from the block
    rows alone (the per-term document frequencies the north_rule
    requires the index to carry)."""
    return lists.groupBy("term").agg(
        F.sum("n_docs").cast("long").alias("doc_freq"),
        F.count("*").cast("int").alias("n_blocks"),
        (
            F.sum(F.octet_length("doc_gaps"))
            + F.sum(F.octet_length("freqs"))
            + F.sum(F.octet_length("doc_lens"))
        ).cast("long").alias("compressed_bytes"),
        F.max("max_freq").alias("max_freq"),
    )
