"""URL-seen set: exact sharded anti-join + an approximate-membership index.

Replaces the reference's Mongo compound unique index (core/crawler.py:726-733)
— its only dedup structure — with the scale design from the north rule:

1. **Exact layer** (always correct): a ``seen`` table sharded by
   ``pmod(xxhash64(url), n_shards)``; dedup is a ``left_anti`` join on
   (shard, url_hash, url).  Sharding keeps each join partition bounded and,
   at 10^10 URLs, maps onto a bucketed Iceberg table so the anti-join is
   shuffle-free on the seen side.

2. **Membership index** (scale path): per-shard blobs built distributed via
   ``applyInPandas`` and kept AS A TABLE, one blob row per shard — they
   never transit the driver.  Probing is a cogrouped ``applyInPandas`` on
   the shard key: each task receives one shard's candidates plus that
   shard's single blob row, so at 10^10 keys @1% fp (~12 GB of bits across
   10^4 shards) each executor holds only the ~1.2 MB shards it probes, and
   the blob table maps onto a bucketed Iceberg table that recrawl rounds
   merge incrementally.  Candidates that miss the index are *definitely
   new* and skip the exact join entirely; hits (a few % false positives)
   are confirmed by the exact anti-join — false positives cost a lookup,
   never correctness.

Two index flavors share that shell (:class:`MembershipIndex`): the bloom
below (bits OR-merge, cannot delete) and the delete-capable cuckoo in
``cuckoo.py``.  Each flavor owns only its blob format and membership
kernel; the crawl engine and the purge see the index object, never the
flavor.

Bloom double hashing from the single xxhash64 key: index_i = (h1 + i*h2)
mod m — standard Kirsch–Mitzenmacher construction, fully vectorized in numpy.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import BooleanType


def with_shard(df: DataFrame, n_shards: int, hash_col: str = "url_hash") -> DataFrame:
    return df.withColumn("shard", F.pmod(F.col(hash_col), F.lit(n_shards)).cast("int"))


def filter_unseen(candidates: DataFrame, seen: DataFrame | None) -> DataFrame:
    """Exact anti-join layer (J1).  ``candidates`` needs url + url_hash cols."""
    if seen is None:
        return candidates
    return candidates.join(
        seen.select("url_hash", "url"), on=["url_hash", "url"], how="left_anti"
    )


# ---------------------------------------------------------------------------
# bloom shards


def _bloom_params(n_keys: int, fpp: float) -> tuple[int, int]:
    n_keys = max(n_keys, 1)
    m = max(64, int(-n_keys * math.log(fpp) / (math.log(2) ** 2)))
    m = (m + 63) // 64 * 64  # round to whole words
    k = max(1, int(round(m / n_keys * math.log(2))))
    return m, min(k, 16)


def _bloom_positions(hashes: np.ndarray, m: int, k: int) -> np.ndarray:
    """(len(hashes), k) bit positions via double hashing on the 64-bit key."""
    h = hashes.astype(np.uint64)
    h1 = h % np.uint64(m)
    h2 = ((h >> np.uint64(33)) | np.uint64(1)) % np.uint64(m)
    i = np.arange(k, dtype=np.uint64)
    return (h1[:, None] + i[None, :] * h2[:, None]) % np.uint64(m)


# single source of truth for the per-shard filter sizing: the crawl engine
# records (m, k) derived from THIS constant in the store manifest and treats
# any mismatch as geometry drift (rebuild) — a divergent literal there would
# permanently fail the freshness check and silently disable the index
BLOOM_KEYS_PER_SHARD = 200_000
# false-positive rate of the persisted blooms (seen_bloom and posts_bloom);
# part of the recorded index geometry, so a change forces one rebuild
BLOOM_FPP = 0.01


def build_bloom_shards(
    seen: DataFrame, n_shards: int,
    keys_per_shard: int = BLOOM_KEYS_PER_SHARD, fpp: float = BLOOM_FPP,
) -> DataFrame:
    """Bloom blob TABLE (shard, m, k, bits) built distributed, one task per
    shard.  The blobs stay executor-side for their whole life: built here,
    shuffled once into the cogrouped probe — the driver never holds them
    (at the 10^10-key sizing that would be ~12 GB through the driver heap).
    """
    m, k = _bloom_params(keys_per_shard, fpp)
    n_words = m // 64

    def _build(pdf: pd.DataFrame) -> pd.DataFrame:
        bits = np.zeros(n_words, dtype=np.uint64)
        pos = _bloom_positions(pdf["url_hash"].to_numpy(np.int64), m, k).ravel()
        np.bitwise_or.at(bits, (pos >> 6).astype(np.int64), np.uint64(1) << (pos & np.uint64(63)))
        return pd.DataFrame(
            {
                "shard": [int(pdf["shard"].iloc[0])],
                "m": [m],
                "k": [k],
                "bits": [bits.tobytes()],
            }
        )

    return (
        with_shard(seen.select("url_hash"), n_shards)
        .groupBy("shard")
        .applyInPandas(_build, "shard int, m long, k int, bits binary")
    )


def merge_bloom_shards(prev: DataFrame, delta: DataFrame) -> DataFrame:
    """OR-merge two blob tables of IDENTICAL geometry (m, k) shard-by-shard.

    Bloom insertion is just setting bits, so OR(build(A), build(B)) ==
    build(A ∪ B) bit-for-bit — the incremental-index property: each round
    builds blobs from its (small) seen DELTA only and merges, instead of
    re-scanning the 10^10-key corpus.  Geometry is fixed at creation (size
    for target capacity up front; fp degrades gracefully past it — never
    correctness, the exact layer confirms suspects)."""

    def _merge(pdfs) -> pd.DataFrame:
        a, b = pdfs
        if len(a) == 0:
            return b[["shard", "m", "k", "bits"]]
        if len(b) == 0:
            return a[["shard", "m", "k", "bits"]]
        assert int(a["m"].iloc[0]) == int(b["m"].iloc[0]), "bloom geometry mismatch"
        bits = (
            np.frombuffer(a["bits"].iloc[0], dtype=np.uint64)
            | np.frombuffer(b["bits"].iloc[0], dtype=np.uint64)
        )
        return pd.DataFrame(
            {
                "shard": [int(a["shard"].iloc[0])],
                "m": [int(a["m"].iloc[0])],
                "k": [int(a["k"].iloc[0])],
                "bits": [bits.tobytes()],
            }
        )

    return (
        prev.groupBy("shard")
        .cogroup(delta.groupBy("shard"))
        .applyInPandas(
            lambda a, b: _merge((a, b)), "shard int, m long, k int, bits binary"
        )
    )


def cogroup_probe(df: DataFrame, blobs: DataFrame, n_shards: int, hit) -> DataFrame:
    """Adds ``maybe_seen`` bool by cogrouping candidates with the blob table
    on the shard key — each task gets one shard's candidates + its one blob.
    ``hit(blob_pdf, hashes)`` is the flavor's membership kernel over that
    one-row blob frame.

    Rows with maybe_seen == false are guaranteed-new (no false negatives);
    only maybe_seen rows need the exact anti-join.  An absent blob row means
    the shard holds no seen keys ⇒ definitely unseen.
    """
    from pyspark.sql.types import StructField, StructType

    added_shard = "shard" not in df.columns
    cand = with_shard(df, n_shards) if added_shard else df
    out_schema = StructType(
        list(df.schema.fields) + [StructField("maybe_seen", BooleanType())]
    )
    out_cols = [f.name for f in out_schema.fields]

    def _probe(cdf: pd.DataFrame, bdf: pd.DataFrame) -> pd.DataFrame:
        h = cdf["url_hash"].to_numpy(np.int64)
        out = cdf.copy()
        out["maybe_seen"] = np.zeros(len(h), dtype=bool) if len(bdf) == 0 else hit(bdf, h)
        if added_shard:
            out = out.drop(columns=["shard"])
        return out[out_cols]

    return (
        cand.groupBy("shard")
        .cogroup(blobs.groupBy("shard"))
        .applyInPandas(_probe, out_schema)
    )


def _bloom_hit(bdf: pd.DataFrame, h: np.ndarray) -> np.ndarray:
    m = int(bdf["m"].iloc[0])
    k = int(bdf["k"].iloc[0])
    bits = np.frombuffer(bdf["bits"].iloc[0], dtype=np.uint64)
    pos = _bloom_positions(h, m, k)
    hit = np.ones(len(h), dtype=bool)
    for j in range(k):
        p = pos[:, j]
        hit &= (bits[(p >> np.uint64(6)).astype(np.int64)]
                >> (p & np.uint64(63))) & np.uint64(1) == 1
    return hit


def bloom_maybe_seen(df: DataFrame, shards: DataFrame, n_shards: int) -> DataFrame:
    """:func:`cogroup_probe` over bloom blobs (shard, m, k, bits)."""
    return cogroup_probe(df, shards, n_shards, _bloom_hit)


# ---------------------------------------------------------------------------
# the index object: one lifecycle for every persisted membership index


class MembershipIndex:
    """A persisted per-shard membership index over ``url_hash`` keys.

    The store keeps the blobs as table ``table``; the manifest records
    ``geometry`` plus the round the blobs cover, and a mismatch on either
    means the blobs must not be probed (a false negative would let a seen
    key through).  Callers hold blobs as an opaque DataFrame: the format
    belongs to the flavor, which supplies

    - ``geometry`` (dict) and ``hit``, its membership kernel for
      :func:`cogroup_probe`;
    - ``build(keys)``: blobs covering a frame with a ``url_hash`` column;
    - ``merge(base, delta_keys, corpus_keys)``: blobs covering ``base`` ∪
      ``delta_keys`` (``corpus_keys`` are the keys ``base`` was built from,
      for a flavor that must re-derive a shard); None when both are None;
    - ``delete(blobs, keys)`` when ``can_delete``: retire keys in place.
    """

    can_delete = False

    def __init__(self, table: str, n_shards: int) -> None:
        self.table = table
        self.n_shards = n_shards

    def maybe_seen(self, df: DataFrame, blobs: DataFrame) -> DataFrame:
        return cogroup_probe(df, blobs, self.n_shards, self.hit)

    def filter_unseen(
        self, candidates: DataFrame, seen: DataFrame | None, blobs: DataFrame
    ) -> DataFrame:
        """Full two-layer dedup: index front-filter, exact confirm of the
        suspects.  ``blobs`` must cover every key of ``seen``."""
        if seen is None:
            return candidates
        flagged = self.maybe_seen(candidates, blobs)
        definitely_new = flagged.filter(~F.col("maybe_seen")).drop("maybe_seen")
        suspects = flagged.filter(F.col("maybe_seen")).drop("maybe_seen")
        return definitely_new.unionByName(filter_unseen(suspects, seen))


class BloomIndex(MembershipIndex):
    """Bloom blobs (shard, m, k, bits): insertion is setting bits, so a
    round's delta merges by OR; no delete (bits are shared between keys)."""

    hit = staticmethod(_bloom_hit)

    @property
    def geometry(self) -> dict:
        m, k = _bloom_params(BLOOM_KEYS_PER_SHARD, BLOOM_FPP)
        return {"m": m, "k": k, "n_shards": self.n_shards}

    def build(self, keys: DataFrame) -> DataFrame:
        return build_bloom_shards(keys, self.n_shards)

    def merge(self, base, delta_keys, corpus_keys):
        delta = None if delta_keys is None else self.build(delta_keys)
        if base is None or delta is None:
            return delta if base is None else base
        return merge_bloom_shards(base, delta)


SEEN_FLAVORS = ("bloom", "cuckoo")
SEEN_INDEX_TABLES = tuple(f"seen_{f}" for f in SEEN_FLAVORS)


def membership_index(table: str, n_shards: int) -> MembershipIndex:
    """The index persisted as ``table``: ``seen_cuckoo`` is a cuckoo filter,
    ``seen_bloom`` and ``posts_bloom`` are blooms."""
    if table == "seen_cuckoo":
        from .cuckoo import CuckooIndex  # cuckoo.py imports this module

        return CuckooIndex(table, n_shards)
    return BloomIndex(table, n_shards)


def seen_index(flavor: str, n_shards: int) -> MembershipIndex:
    """The URL-seen index of flavor ``flavor`` (``bloom`` or ``cuckoo``)."""
    return membership_index(f"seen_{flavor}", n_shards)


def posts_key_index(n_shards: int) -> MembershipIndex:
    """The index over previously stored post keys (always a bloom: it is
    rebuilt, never deleted from, after a purge)."""
    return membership_index("posts_bloom", n_shards)
