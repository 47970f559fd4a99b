"""Partitioned bloom URL-seen pre-filter (SURVEY.md §2 F3 / §4.3).

P independent bloom bitmaps, one per pmod(url_hash, P) bucket, all with
the same fixed geometry (BITS_PER_PART, NUM_HASHES).  Hashing is
Kirsch–Mitzenmacher double hashing g_i = h1 + i·h2 over two JVM-computed
hashes (h1 = xxhash64(url_norm), h2 = hash(url_norm) — Spark's
murmur3_x86_32 per BASELINE.json north_star "canonicalized murmur3 URL
hashes"), so the Python side does only vectorized numpy bit ops on Arrow
batches.

Correctness NEVER depends on the bloom (SURVEY §4.3): a negative is
definitely-new and may skip the exact anti-join; a positive falls through to
the exact check.  Choice of bloom over cuckoo: the URL-seen set is
insert-only — cuckoo's deletions buy nothing (SURVEY §4.3).

Sidecar lifecycle: the sidecar is a per-round STATE TABLE (P rows of
SIDECAR_SCHEMA) committed atomically with frontier/seen — resume reads it
back in O(P) instead of rebuilding from the full seen set.  One kernel,
bloom_pass, does all the bloom work of a round: a set of keys cogroups with
the previous sidecar rows on part_id, so each task receives only the
bitmaps of its own buckets (the shard-routing design SURVEY §4.3 calls for
at the 10^10 tier), and each group returns its keys flagged against the
previous bitmap together with its next bitmap, the previous one OR the
bits of every key.  OR-ing every candidate rather than only the new URLs
gives the same bitmap: a candidate that is not new is in seen, so its bits
are already set.  The driver never holds the bitmaps.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

SIDECAR_SCHEMA = T.StructType([
    T.StructField("part_id", T.IntegerType()),
    T.StructField("nbits", T.LongType()),
    T.StructField("nhashes", T.IntegerType()),
    T.StructField("bits_set", T.LongType()),      # popcount of bits
    # the keys the pass that wrote the row probed, and how many of them the
    # previous bitmap held
    T.StructField("n_probed", T.LongType()),
    T.StructField("n_maybe_seen", T.LongType()),
    T.StructField("bits", T.BinaryType()),
])
# what a pass reads of the previous sidecar (a sidecar committed with an
# n_items column and no counts reads the same)
_PREV_COLS = ("part_id", "nbits", "nhashes", "bits")

# fixed geometry per partition bucket (incremental maintenance): 2^21 bits
# / 7 hashes ≈ 1% FPR up to ~200k keys per bucket — FPR degradation past
# that capacity only costs extra anti-join traffic, never correctness
BITS_PER_PART = 1 << 21
NUM_HASHES = 7


def _positions(h1: np.ndarray, h2: np.ndarray, k: int, nbits: int) -> np.ndarray:
    """(n, k) bit positions via double hashing, in uint64 wraparound space."""
    u1 = h1.astype(np.int64).view(np.uint64)
    u2 = h2.astype(np.int64).astype(np.uint64)  # 32-bit murmur sign-extended
    i = np.arange(k, dtype=np.uint64)[None, :]
    return ((u1[:, None] + i * u2[:, None]) % np.uint64(nbits)).astype(np.int64)


def _probe(bits: np.ndarray, pos: np.ndarray) -> np.ndarray:
    """Per key: are all its bit positions set in the uint8 bitmap?"""
    return ((bits[pos >> 3] >> (pos & 7)) & 1).all(axis=1)


def _insert(bits: np.ndarray, pos: np.ndarray) -> None:
    """Set every key's bit positions in the uint8 bitmap, in place."""
    np.bitwise_or.at(bits, pos >> 3, (1 << (pos & 7)).astype(np.uint8))


def bloom_pass(
    keys: DataFrame, prev: DataFrame | None, n_parts: int,
    nbits: int = BITS_PER_PART, k: int = NUM_HASHES,
) -> DataFrame:
    """The round's one bloom pass.  `keys` (any columns, url_hash and h2
    among them) cogroups with the previous sidecar rows on part_id =
    pmod(url_hash, P); prev=None (round 0, the resume rebuild) is an empty
    sidecar.  Each group returns
    - its key rows: the key columns + maybe_seen, tested against the
      previous bitmap (several previous rows of a bucket are OR'd);
    - one next-bitmap row of SIDECAR_SCHEMA: the previous bitmap OR the
      bits of every key, with the group's probed and maybe-seen counts.
    A bucket gets a bitmap row iff it had a previous row or has a key.
    Split the output with `flags` and `sidecar`."""
    key_cols = keys.columns
    out_schema = T.StructType(
        [T.StructField(f.name, f.dataType) for f in keys.schema.fields]
        + [T.StructField("maybe_seen", T.BooleanType())]
        + SIDECAR_SCHEMA.fields
    )
    keyed = keys.withColumn(
        "part_id", F.pmod("url_hash", F.lit(n_parts)).cast("int")
    )
    if prev is None:
        # an empty native relation: the no-sidecar case runs the same
        # cogroup, and no Python RDD is built for it
        prev = keys.sparkSession.range(0).select(*[
            F.lit(None).cast(f.dataType).alias(f.name)
            for f in SIDECAR_SCHEMA.fields if f.name in _PREV_COLS
        ])

    def run(keys_pdf: pd.DataFrame, prev_pdf: pd.DataFrame) -> pd.DataFrame:
        # bitmaps of another geometry would be tested and OR'd against the
        # wrong modulus — a silent false negative that re-admits seen URLs;
        # ValueError, not assert, so the check survives `python -O`
        if not ((prev_pdf["nbits"] == nbits).all()
                and (prev_pdf["nhashes"] == k).all()):
            raise ValueError("bloom sidecar geometry differs from the pass's")
        bits = np.zeros(nbits // 8, dtype=np.uint8)
        for b in prev_pdf["bits"]:
            bits |= np.frombuffer(b, dtype=np.uint8)
        pos = _positions(
            keys_pdf["url_hash"].to_numpy(), keys_pdf["h2"].to_numpy(), k, nbits
        )
        maybe = _probe(bits, pos)
        _insert(bits, pos)
        part = (prev_pdf if len(prev_pdf) else keys_pdf)["part_id"].iloc[0]
        row = pd.DataFrame({
            "part_id": [int(part)], "nbits": [nbits], "nhashes": [k],
            "bits_set": [int(np.unpackbits(bits).sum())],
            "n_probed": [len(keys_pdf)], "n_maybe_seen": [int(maybe.sum())],
            "bits": [bits.tobytes()],
        })
        # nullable dtypes, so the rows of one kind hold nulls in the other
        # kind's columns without casting 64-bit hashes through float
        return pd.concat([
            keys_pdf[key_cols].assign(maybe_seen=maybe).convert_dtypes(),
            row.convert_dtypes(),
        ], ignore_index=True)

    return (
        keyed.groupBy("part_id")
        .cogroup(prev.select(*_PREV_COLS).groupBy("part_id"))
        .applyInPandas(run, schema=out_schema)
    )


def flags(out: DataFrame) -> DataFrame:
    """bloom_pass's key rows: its keys + maybe_seen."""
    return out.filter(F.col("bits").isNull()).drop(*SIDECAR_SCHEMA.fieldNames())


def sidecar(out: DataFrame) -> DataFrame:
    """bloom_pass's next-bitmap rows: the next sidecar."""
    return out.filter(F.col("bits").isNotNull()).select(*SIDECAR_SCHEMA.fieldNames())


def collect_sidecar(bloom_df: DataFrame) -> dict[int, tuple[int, int, bytes]]:
    """The sidecar's ≤P rows on the driver, {part_id: (nbits, nhashes,
    bits)}, to read a sidecar back; the engine itself never collects it."""
    return {
        r.part_id: (r.nbits, r.nhashes, bytes(r.bits))
        for r in bloom_df.collect()
    }
