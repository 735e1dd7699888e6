"""URL purge — retire hosts/URLs from the crawl state as an O(delta) commit.

The north star asks for a *delete-capable* URL-seen structure ("partitioned
cuckoo-filter URL-seen set … retired URLs (e.g. purged hosts) can be removed
without rebuilding the shard"); this module is where that capability meets
the store.  One call removes a URL set from every stateful surface:

- **posts / seen / comments**: Iceberg-style EQUALITY-DELETE files
  (storage/backend.py ``deletes``) — the commit writes only the purged keys,
  never rewrites the tables; ``load`` anti-joins them out and the next
  ``compact`` folds them into the base.  O(purge delta) commit cost at any
  corpus size.
- **frontier / frontier_failed**: the frontier snapshot is O(active) and is
  filtered + rewritten (its normal per-round cost); frontier_failed takes an
  equality delete like the other append tables.
- **the URL-seen index** (operators/seen.MembershipIndex), asked whether it
  can delete:
  - the cuckoo flavor (``seen_cuckoo``) can: purged keys are DELETED from
    the stored per-shard tables in place — the index stays fresh through
    the purge, no rebuild.  This is the cuckoo's structural win.
  - the bloom flavor (``seen_bloom``) cannot (bits are shared), so the purge
    leaves its covered round behind the store round — the next crawl round
    detects the lag and rebuilds from the (now-smaller) seen table.
  The asymmetry is the point, and it is recorded in the returned metrics.
  Deletes always use the geometry recorded in the manifest: a delete routed
  to the wrong shard can strip another key's fingerprint, a false negative
  the index's meta would never reveal.

Purged URLs become refetchable: they are gone from ``seen``, so the next
round's gate schedules them again — the purge is also the "force recrawl
these URLs" knob.

Reference parity: the reference has no purge (its Mongo rows live forever);
this is a scale requirement the 10^10-frontier deployment adds (GDPR/host
retirement), built from the same operators the round path uses.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import urls as U
from ..operators import seen as SE
from ..storage.backend import SnapshotStore


def purge_urls(
    spark: SparkSession,
    store: SnapshotStore,
    urls: DataFrame,
) -> dict:
    """Remove ``urls`` (a 1-column ``url`` DataFrame, any casing/fragments —
    canonicalized here) from posts/seen/comments/frontier state.  Commits one
    store round; returns metrics.
    """
    # the FULL canonicalized purge list drives the posts/frontier deletes:
    # a url can sit in posts metadata or frontier retry state without ever
    # having entered seen (text fetch not yet succeeded), and the purge
    # contract is "gone from every surface", not "gone if seen"
    purged = (
        urls.select(U.canonicalize_url(F.col("url")).alias("url"))
        .distinct()
        .withColumn("url_hash", U.url_hash(F.col("url")))
        # several consumers (delete files, frontier filter, cuckoo delete)
        # — materialize once; also fixes the metrics count without rescans
        .localCheckpoint(eager=True)
    )
    n_purged = purged.count()
    seen_prev = store.load(spark, "seen")
    if seen_prev is not None:
        # cuckoo-delete input ONLY: in-place deletion is safe-for-others
        # solely on keys that were really inserted, so the index delete is
        # restricted to actually-seen urls while the equality deletes below
        # stay on the full list (posts metadata / frontier retry rows can
        # carry urls that never reached seen)
        purged_seen = purged.join(
            seen_prev.select("url").distinct(), on="url", how="left_semi"
        ).localCheckpoint(eager=True)
    else:
        purged_seen = purged.limit(0)
    n_purged_seen = purged_seen.count()

    round_id = store.current_round() + 1
    manifest = store.manifest() or {"tables": {}}
    deletes: dict = {}
    snapshots: dict = {}
    meta: dict = {}
    posts_prev = store.load(spark, "posts")

    for table in ("seen", "posts", "frontier_failed"):
        if table in manifest["tables"]:
            deletes[table] = (purged.select("url"), ["url"])
    if "comments" in manifest["tables"] and posts_prev is not None:
        # comments key on the parent post, not a url column: resolve the
        # purged post urls to their (stock, type, url_id) triplets so a
        # reused url_id under another stock is never over-deleted
        ckeys = (
            posts_prev.join(purged.select("url"), on="url", how="left_semi")
            .select(
                "stock_code", "content_type",
                F.col("url_id").alias("post_url_id"),
            )
            .distinct()
        )
        deletes["comments"] = (
            ckeys, ["stock_code", "content_type", "post_url_id"]
        )

    frontier_prev = store.load(spark, "frontier")
    if frontier_prev is not None:
        snapshots["frontier"] = frontier_prev.join(
            purged.select("url"), on="url", how="left_anti"
        )

    store_meta = store.meta()
    kept_fresh = invalidated = False
    for table in SE.SEEN_INDEX_TABLES:
        im = store_meta.get(table)
        if im is None or im.get("round") != store.current_round():
            continue
        idx = SE.membership_index(table, im["n_shards"])
        if not idx.can_delete:
            # leave the stale blobs: the meta round now lags the store
            # round, so the next crawl's freshness check rebuilds from the
            # post-purge seen table
            invalidated = True
            continue
        blobs = store.load(spark, table)
        if blobs is not None:
            snapshots[table] = idx.delete(blobs, purged_seen)
            meta[table] = {**im, "round": round_id}
            kept_fresh = True

    # posts_rows is deliberately NOT decremented: it is the HIGH-WATER
    # insertion count that seeds crawl_seq, and reusing a purged row's
    # sequence number would break insertion-order semantics (the Mongo _id
    # analog never reuses ids).  maintain()'s reconcile treats
    # actual < meta as legitimate for the same reason.

    store.commit(round_id, snapshots=snapshots, deletes=deletes, meta=meta)
    return {
        "round": round_id,
        "urls_purged": n_purged,          # full canonicalized request list
        "urls_purged_seen": n_purged_seen,  # subset that was in seen
        "cuckoo_kept_fresh": kept_fresh,
        "bloom_invalidated": invalidated,
    }


def purge_hosts(
    spark: SparkSession,
    store: SnapshotStore,
    hosts: list[str],
) -> dict:
    """Retire whole hosts (the north star's "purged hosts" case): every url
    of the given hosts, from EVERY url-bearing surface, goes through
    :func:`purge_urls`.  Deriving the list from seen alone would miss posts
    whose text fetch has not succeeded yet and frontier retry/pending rows —
    those urls never entered seen but must still be retired (host-retirement
    / GDPR contract).  One pruned scan per surface, union-distinct; no
    caller-side materialization."""
    per_table = []
    for table in ("seen", "posts", "frontier", "frontier_failed"):
        df = store.load(spark, table)
        if df is not None and "url" in df.columns:
            per_table.append(
                df.select("url").filter(
                    U.url_host(F.col("url")).isin(list(hosts))
                )
            )
    if not per_table:
        return {"round": store.current_round(), "urls_purged": 0,
                "urls_purged_seen": 0,
                "cuckoo_kept_fresh": False, "bloom_invalidated": False}
    from functools import reduce

    urls = reduce(lambda a, b: a.unionByName(b), per_table)
    return purge_urls(spark, store, urls)
