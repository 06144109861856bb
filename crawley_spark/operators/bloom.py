"""Partitioned Bloom shards for the URL-seen filter — the crawl's only seen
prefilter (north_rule: "each iteration joins the frontier against a
partitioned Bloom/cuckoo URL-seen filter keyed by a 64-bit xxhash of
crawley's canonicalized-URL form").

Correctness story: the Bloom pass is a *prefilter* — candidates whose key is
definitely-not-in-bloom skip the exact anti-join entirely; "maybe seen" rows
still go through the exact join, so false positives never change results.
At 10^10 seen URLs the exact join's left side shrinks to the (rare) re-
discovered + false-positive rows, and the seen table itself is bucket-
partitioned so a future bucket-pruned read touches only matching shards.

Layout: SEEN_BUCKETS shards × BLOOM_BITS_PER_BUCKET bits. Keys are double-
hashed from two JVM-computed xxhash64 columns (h_i = h1 + i*h2), so the
Python side only does vectorized numpy bit tests — no per-row hashing.
"""

from __future__ import annotations

import os

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..kernels.xxh import xxh64
from ..sources.state import SEEN_BUCKETS

# 256 KiB per shard; 64 shards = 16 MiB total. What governs the FP rate is
# TOTAL bits vs total keys, so when SEEN_BUCKETS is raised toward the
# 2048-4096 design point, scale bits-per-bucket down to keep the total
# constant (tools/seen_scale_bench.py does this automatically). Overridable
# via env for the same reason SEEN_BUCKETS is.
BLOOM_BITS_PER_BUCKET = int(os.environ.get("CRAWLEY_BLOOM_BITS_PER_BUCKET", 1 << 21))
BLOOM_K = 4

BLOOM_SCHEMA = "bucket int, bitmap binary"


def with_bloom_hashes(df: DataFrame, run_col: str = "run_id", key_col: str = "url_key") -> DataFrame:
    """Two independent-ish 64-bit hashes, computed JVM-side."""
    return df.withColumn("_bh1", F.xxhash64(F.col(run_col), F.col(key_col))).withColumn(
        "_bh2", F.xxhash64(F.col(key_col), F.col(run_col))
    )


def _bit_positions(h1: np.ndarray, h2: np.ndarray) -> list:
    out = []
    m = np.uint64(BLOOM_BITS_PER_BUCKET)
    for i in range(BLOOM_K):
        out.append(((h1 + np.uint64(i) * h2) % m).astype(np.int64))
    return out


def _bitmap(h1: np.ndarray, h2: np.ndarray) -> bytes:
    """One shard's bits for the uint64 hash pairs (h1, h2)."""
    bits = np.zeros(BLOOM_BITS_PER_BUCKET // 8, dtype=np.uint8)
    for idx in _bit_positions(h1, h2):
        np.bitwise_or.at(bits, idx >> 3, np.uint8(1) << (idx & 7).astype(np.uint8))
    return bits.tobytes()


def build_shards(new_keys: DataFrame) -> DataFrame:
    """(bucket, bitmap) per bucket present in new_keys; new_keys needs
    bucket + _bh1 + _bh2 columns."""

    def build(key, pdf):
        import pandas as pd

        h1 = pdf["_bh1"].values.astype("int64").view(np.uint64)
        h2 = pdf["_bh2"].values.astype("int64").view(np.uint64)
        return pd.DataFrame({"bucket": [int(key[0])], "bitmap": [_bitmap(h1, h2)]})

    return new_keys.select("bucket", "_bh1", "_bh2").groupBy("bucket").applyInPandas(
        build, BLOOM_SCHEMA
    )


def build_shards_local(rows: list) -> list:
    """Driver-side shard build for bootstrap rows: [(run_id, url_key)] →
    [(bucket, bitmap_bytes)] with hashes identical to the JVM columns."""
    by_bucket: dict = {}
    for run_id, url_key in rows:
        kb = url_key.encode("utf-8", "surrogateescape")
        rb = run_id.encode("utf-8", "surrogateescape")
        bucket = (xxh64(kb, 42) % (1 << 64)) % SEEN_BUCKETS
        # F.xxhash64(a, b) chains: seed 42 → xxh(a) → seed → xxh(b)
        h1 = xxh64(kb, xxh64(rb, 42))
        h2 = xxh64(rb, xxh64(kb, 42))
        by_bucket.setdefault(bucket, []).append((h1, h2))
    return [
        (
            int(bucket),
            _bitmap(
                np.array([h[0] for h in hs], dtype=np.uint64),
                np.array([h[1] for h in hs], dtype=np.uint64),
            ),
        )
        for bucket, hs in by_bucket.items()
    ]


def merge_bitmaps(shards: list) -> dict:
    """[(bucket, bytes)] from any number of iterations → {bucket: np.uint8[]}"""
    merged: dict = {}
    for bucket, bm in shards:
        if bytes(bm[:4]) == b"CKF1":
            # manifests older than the layout record (state.current_layout)
            # have only this magic to stop cuckoo shards being OR-ed into
            # a bitmap
            raise ValueError(
                "seen-filter shard is a cuckoo filter (CKF1 magic): this "
                "checkpoint was written with the cuckoo prefilter, which this "
                "build cannot read (Bloom is the only seen prefilter); start "
                "a fresh checkpoint."
            )
        arr = np.frombuffer(bm, dtype=np.uint8)
        if bucket in merged:
            merged[bucket] = merged[bucket] | arr
        else:
            merged[bucket] = arr.copy()
    return merged


def prefilter(candidates: DataFrame, bloom_bc) -> DataFrame:
    """Adds ``_maybe_seen``: False ⇒ definitely new (skip the exact join).
    candidates needs bucket + _bh1 + _bh2. bloom_bc: broadcast {bucket: bits}."""

    def fn(batches):
        import pandas as pd

        blooms = bloom_bc.value
        for pdf in batches:
            n = len(pdf)
            maybe = np.zeros(n, dtype=bool)
            if blooms and n:
                h1 = pdf["_bh1"].values.astype("int64").view(np.uint64)
                h2 = pdf["_bh2"].values.astype("int64").view(np.uint64)
                buckets = pdf["bucket"].values
                all_hits = np.ones(n, dtype=bool)
                for idx in _bit_positions(h1, h2):
                    byte_i = (idx >> 3).astype(np.int64)
                    mask = (np.uint8(1) << (idx & 7).astype(np.uint8))
                    hit = np.zeros(n, dtype=bool)
                    for b in np.unique(buckets):
                        bm = blooms.get(int(b))
                        sel = buckets == b
                        if bm is None:
                            hit[sel] = False
                        else:
                            hit[sel] = (bm[byte_i[sel]] & mask[sel]) != 0
                    all_hits &= hit
                maybe = all_hits
            pdf = pdf.copy()
            pdf["_maybe_seen"] = maybe
            yield pdf

    schema = ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in candidates.schema.fields)
    return candidates.mapInPandas(fn, schema + ", _maybe_seen boolean")
