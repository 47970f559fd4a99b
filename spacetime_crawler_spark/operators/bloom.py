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

Sidecar lifecycle (round 2 design): the sidecar is a per-round STATE TABLE
(P rows of (part_id, nbits, nhashes, n_items, bits)) committed atomically
with frontier/seen — resume reads it back in O(P) instead of rebuilding
from the full seen set.  Maintenance is distributed (the previous rows
cogroup with the round's new keys on part_id and each group ORs them in one
pass), and so is membership testing: the candidates COGROUP with the sidecar
rows on part_id, so each task receives only the bitmaps of its own buckets —
the shard-routing design SURVEY §4.3 calls for at the 10^10 tier.  The
driver never holds the bitmaps.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

BLOOM_SCHEMA = T.StructType([
    T.StructField("part_id", T.IntegerType()),
    T.StructField("nbits", T.LongType()),
    T.StructField("nhashes", T.IntegerType()),
    T.StructField("n_items", T.LongType()),
    T.StructField("bits", T.BinaryType()),
])

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


def _build_bitmap_fixed(
    h1: np.ndarray, h2: np.ndarray, nbits: int, k: int
) -> bytes:
    """Bitmap with CALLER-fixed geometry — the incremental-maintenance path:
    per-round delta bitmaps share (nbits, k) so they OR together."""
    bits = np.zeros(nbits // 8, dtype=np.uint8)
    if len(h1):
        pos = _positions(h1, h2, k, nbits)
        np.bitwise_or.at(bits, pos >> 3, (1 << (pos & 7)).astype(np.uint8))
    return bits.tobytes()


def update_bitmaps_df(
    prev: DataFrame | None, new_keys: DataFrame, n_parts: int,
    nbits: int = BITS_PER_PART, k: int = NUM_HASHES,
) -> DataFrame:
    """The next sidecar in ONE grouped pass: the previous sidecar rows and
    the round's newly-seen keys cogroup on part_id = pmod(url_hash, P), and
    each group ORs its previous bitmap with its new keys' bits.  This is
    incremental maintenance — O(new) hashing plus a ≤P-row bitmap exchange,
    never a rebuild from the full seen set.  prev=None (round 0, the resume
    rebuild) builds every bucket from new_keys alone.  A bucket gets a row
    iff it had a previous row or has a new key."""
    keyed = new_keys.select(
        F.pmod("url_hash", F.lit(n_parts)).cast("int").alias("part_id"),
        "url_hash",
        "h2",
    )
    if prev is None:
        # an empty native relation: the no-sidecar case runs the same
        # cogroup, and no Python RDD is built for it
        prev = new_keys.sparkSession.range(0).select(*[
            F.lit(None).cast(f.dataType).alias(f.name) for f in BLOOM_SCHEMA.fields
        ])

    def update(prev_pdf: pd.DataFrame, keys_pdf: pd.DataFrame) -> pd.DataFrame:
        # OR-ing bitmaps of another geometry would test bit positions
        # against the wrong modulus — a silent false negative; ValueError,
        # not assert, so the check survives `python -O`
        if not ((prev_pdf["nbits"] == nbits).all()
                and (prev_pdf["nhashes"] == k).all()):
            raise ValueError("bloom sidecar geometry differs from the update's")
        acc = np.zeros(nbits // 8, dtype=np.uint8)
        for b in prev_pdf["bits"]:
            acc |= np.frombuffer(b, dtype=np.uint8)
        if len(keys_pdf):
            acc |= np.frombuffer(_build_bitmap_fixed(
                keys_pdf["url_hash"].to_numpy(), keys_pdf["h2"].to_numpy(),
                nbits, k,
            ), dtype=np.uint8)
        part = (prev_pdf if len(prev_pdf) else keys_pdf)["part_id"].iloc[0]
        return pd.DataFrame({
            "part_id": [int(part)], "nbits": [nbits], "nhashes": [k],
            "n_items": [int(prev_pdf["n_items"].sum()) + len(keys_pdf)],
            "bits": [acc.tobytes()],
        })

    return (
        prev.groupBy("part_id")
        .cogroup(keyed.groupBy("part_id"))
        .applyInPandas(update, schema=BLOOM_SCHEMA)
    )


def flag_maybe_seen_cogrouped(
    candidates: DataFrame, bloom_df: DataFrame, n_parts: int
) -> DataFrame:
    """Membership test WITHOUT broadcasting the sidecar: candidates cogroup
    with the sidecar rows on part_id = pmod(url_hash, P), so each task holds
    only its own buckets' bitmaps — executor memory stays O(sidecar/P) no
    matter how large the seen set grows.  Multiple bitmap rows per bucket
    (e.g. sidecar ∪ fresh deltas) are OR'd on the fly.  Returns candidates
    + maybe_seen."""
    cand_cols = [f.name for f in candidates.schema.fields]
    out_schema = T.StructType(
        list(candidates.schema.fields) + [T.StructField("maybe_seen", T.BooleanType())]
    )
    keyed = candidates.withColumn(
        "part_id", F.pmod("url_hash", F.lit(n_parts)).cast("int")
    )
    bloomed = bloom_df.select("part_id", "nbits", "nhashes", "bits")

    def flag(cand_pdf: pd.DataFrame, bloom_pdf: pd.DataFrame) -> pd.DataFrame:
        if not len(cand_pdf):
            return pd.DataFrame(columns=cand_cols + ["maybe_seen"])
        if not len(bloom_pdf):
            maybe = np.zeros(len(cand_pdf), dtype=bool)
        else:
            nbits = int(bloom_pdf["nbits"].iloc[0])
            k = int(bloom_pdf["nhashes"].iloc[0])
            # uniform-geometry guard (same contract as update_bitmaps_df):
            # OR-ing bitmaps built under different nbits/nhashes would
            # compute bit positions against the wrong modulus — a silent
            # bloom FALSE NEGATIVE that re-admits seen URLs.  A mixed
            # sidecar is a caller bug; fail loudly — ValueError, not
            # assert, so the check survives `python -O`.
            if not (
                (bloom_pdf["nbits"] == nbits).all()
                and (bloom_pdf["nhashes"] == k).all()
            ):
                raise ValueError(
                    "mixed bloom geometry within one part_id group"
                )
            bits = np.zeros(nbits // 8, dtype=np.uint8)
            for b in bloom_pdf["bits"]:
                bits |= np.frombuffer(b, dtype=np.uint8)
            pos = _positions(
                cand_pdf["url_hash"].to_numpy(), cand_pdf["h2"].to_numpy(), k, nbits
            )
            maybe = ((bits[pos >> 3] >> (pos & 7)) & 1).all(axis=1)
        return cand_pdf[cand_cols].assign(maybe_seen=maybe)

    return (
        keyed.groupBy("part_id")
        .cogroup(bloomed.groupBy("part_id"))
        .applyInPandas(flag, schema=out_schema)
    )


def collect_sidecar(bloom_df: DataFrame) -> dict[int, tuple[int, int, bytes]]:
    """The sidecar's ≤P rows on the driver, {part_id: (nbits, nhashes,
    bits)}, to read a sidecar back; the engine itself never collects it."""
    return {
        r.part_id: (r.nbits, r.nhashes, bytes(r.bits))
        for r in bloom_df.collect()
    }
