"""Fetch stage abstraction.

In the sandbox the "web" is the ``pages`` table (BASELINE.json input_hint), so
a fetch is a join: scheduled URLs ⋈ pages on url.  The scheduled side is a
bounded politeness batch, so Spark broadcasts it against the (100 TB-scale)
pages scan and the join prunes to exactly the requested rows.

On a real crawl the same interface is an HTTP fetch inside ``mapInPandas``
(one Arrow batch of URLs per partition, per-host token-bucket pacing inside
the worker — the reference's AsyncHttpClient, archive/full_text_CrawlerAsync
.py:64-143).  That path needs network access and is a documented stub here.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


class FixtureFetcher:
    """Fetch = lookup join against a pages table (html column).

    Join strategy matters enormously here: a sort-merge join shuffles the
    page *payloads* (html bytes — the dominant data volume) twice.  A
    politeness batch is bounded (budget × hosts), so we broadcast the
    scheduled URL set instead: the pages scan streams through a broadcast
    hash join and html is never shuffled.  Misses (fetch failures) are
    recovered with a second, column-pruned scan (url only) — Catalyst prunes
    the html column out of that scan entirely.

    ``broadcast_scheduled=False`` falls back to the shuffle join for
    unbounded batches.

    **Uniqueness contract**: ``pages`` must have one row per url (the engine's
    own commit path guarantees this; duplicate urls would duplicate fetched
    rows and skew the J4 horizon streaks and J2 new-count accounting).  Pass
    ``unique_urls=False`` for untrusted inputs: one row per url is then picked
    deterministically (min md5(html)) at the cost of shuffling the pages scan
    once — keep the default on the 100 TB path.
    """

    def __init__(
        self,
        pages: DataFrame,
        broadcast_scheduled: bool = True,
        unique_urls: bool = True,
    ):
        # only the columns a fetch returns; lets Catalyst prune the scan
        p = pages.select("url", "html")
        if not unique_urls:
            p = p.groupBy("url").agg(
                F.min_by("html", F.md5(F.col("html"))).alias("html")
            )
        self.pages = p
        self.broadcast_scheduled = broadcast_scheduled

    def fetch(self, scheduled: DataFrame, broadcast: bool | None = None) -> DataFrame:
        """Returns ``scheduled`` with an ``html`` column (null ⇒ fetch failed).

        ``broadcast`` overrides the instance default per call — the engine's
        ``broadcast_fetch="auto"`` mode passes the batch's KNOWN row count
        through this knob so politeness-bounded batches broadcast (the pages
        scan never shuffles its html) while unbounded batches fall back to
        the shuffle join (a driver-side broadcast build of millions of rows
        would serialize)."""
        if broadcast is None:
            broadcast = self.broadcast_scheduled
        if not broadcast:
            return scheduled.join(self.pages, on="url", how="left")
        hits = self.pages.join(F.broadcast(scheduled), on="url", how="inner")
        # miss recovery with ZERO exchanges: the url-only (column-pruned)
        # pages scan broadcast-semi-joins the batch, yielding the HIT url
        # set — bounded by the batch, so the anti-join against it
        # broadcasts too.  Anti-joining scheduled against ALL pages urls
        # (the previous form) put the corpus-sized side over the broadcast
        # threshold and forced a sort-merge anti — two exchanges and two
        # sorts per politeness wave, for a result bounded by the batch.
        hit_urls = self.pages.select("url").join(
            F.broadcast(scheduled.select("url")), on="url", how="left_semi"
        )
        misses = scheduled.join(
            F.broadcast(hit_urls), on="url", how="left_anti"
        ).withColumn("html", F.lit(None).cast("binary"))
        return hits.unionByName(misses)


def scan_extract(
    pages: DataFrame,
    scheduled: DataFrame,
    extract_udf,
    bloom_capacity: int = 4_000_000,
    bloom_fpp: float = 0.01,
    unique_urls: bool = True,
) -> DataFrame:
    """Fused fetch+extract for UNBOUNDED batches — html never shuffles.

    The shuffle-join fetch moves every page's html bytes through the exchange
    (the memory-bandwidth hog at batch ≈ corpus); the broadcast fetch caps the
    batch size at what the driver can serialize.  This third strategy covers
    the unbounded case with a bounded broadcast:

    1. a bloom filter over the scheduled url hashes — built DISTRIBUTED
       (per-partition partial bit arrays in ``mapInPandas``, OR-folded in two
       ``applyInPandas`` levels); only the final blob reaches the driver for
       broadcast.  Driver memory is O(m) = the filter size (a few MB at the
       default capacity), INDEPENDENT of batch size — never the O(batch)
       url-hash funnel (≈80 GB at a 10^10-row schedule),
    2. the filter is broadcast into a pandas-UDF predicate that prunes the
       pages SCAN; the extraction UDF runs INSIDE the scan stage on the
       surviving rows — html is consumed where it is read and never crosses
       an exchange,
    3. only the small extracted struct joins back to ``scheduled`` (left join
       from the scheduled side, so fetch misses surface as null extract
       columns exactly like the join fetch; bloom false positives are dropped
       here — they cost a wasted extract, never correctness).

    ``bloom_capacity`` caps the blob at broadcastable size.  Past it the fp
    rate degrades gracefully — more wasted extracts, never correctness; at
    batch ≈ corpus the filter prunes nothing and the operator degenerates to
    the full-scan extract, which is exactly what that regime needs anyway.

    **Uniqueness contract** (same as FixtureFetcher): ``pages`` must have one
    row per url, or duplicate urls multiply scheduled rows through the left
    join.  ``unique_urls=False`` enforces it by deduplicating the EXTRACTED
    rows per url (small structs — html still never shuffles; deterministic
    min-md5 pick), at the cost of one extra small shuffle.

    Returns ``scheduled`` + ``e`` (the extract struct, null ⇒ fetch miss) +
    ``partition_id`` (scan-stage lineage).
    """
    import numpy as np

    from ..functions import urls as U
    from ..operators.seen import _bloom_params, _bloom_positions

    # size the filter to the batch, capped at broadcastable capacity; the
    # count is a distributed aggregate (O(1) result row, no row transfer)
    n_sched = scheduled.count()
    if n_sched > bloom_capacity:
        # past capacity the fp rate degrades toward 1 (documented above) —
        # the degenerate full-scan regime must be observable, not silent
        import logging

        logging.getLogger(__name__).warning(
            "scan_extract: scheduled batch (%d urls) exceeds bloom_capacity "
            "(%d); filter fp rate degrades toward 1 and the operator "
            "approaches a full-scan extract", n_sched, bloom_capacity,
        )
    m, k = _bloom_params(min(max(n_sched, 1), bloom_capacity), bloom_fpp)
    n_words = m // 64

    def _partials(batches):
        bits = np.zeros(n_words, dtype=np.uint64)
        got = False
        for pdf in batches:
            if len(pdf) == 0:
                continue
            got = True
            pos = _bloom_positions(pdf["url_hash"].to_numpy("int64"), m, k).ravel()
            np.bitwise_or.at(
                bits, (pos >> 6).astype(np.int64), np.uint64(1) << (pos & np.uint64(63))
            )
        if got:
            yield pd.DataFrame({"bits": [bits.tobytes()]})

    def _or_fold(pdf: pd.DataFrame) -> pd.DataFrame:
        acc = np.zeros(n_words, dtype=np.uint64)
        for b in pdf["bits"]:
            acc |= np.frombuffer(b, dtype=np.uint64)
        return pd.DataFrame({"bits": [acc.tobytes()]})

    blob_df = (
        scheduled.select("url_hash")
        .mapInPandas(_partials, "bits binary")  # one partial blob per partition
        .withColumn("g", F.spark_partition_id() % 16)
        .groupBy("g").applyInPandas(lambda p: _or_fold(p), "bits binary")
        .withColumn("g", F.lit(0))
        .groupBy("g").applyInPandas(lambda p: _or_fold(p), "bits binary")
    )
    row = blob_df.head(1)  # ONE row of O(m) bytes — bounded by capacity
    blob = row[0]["bits"] if row else np.zeros(n_words, dtype=np.uint64).tobytes()
    bc = scheduled.sparkSession.sparkContext.broadcast(blob)

    from pyspark.sql.types import BooleanType

    @F.pandas_udf(BooleanType())
    def _might_contain(url_hash: pd.Series) -> pd.Series:
        import numpy as np

        blob = np.frombuffer(bc.value, dtype=np.uint64)
        h = url_hash.to_numpy("int64")
        p = _bloom_positions(h, m, k)
        hit = np.ones(len(h), dtype=bool)
        for j in range(k):
            pj = p[:, j]
            hit &= (blob[(pj >> np.uint64(6)).astype(np.int64)]
                    >> (pj & np.uint64(63))) & np.uint64(1) == 1
        return pd.Series(hit)

    extracted = (
        pages.select("url", "html")
        .withColumn("url_hash", U.url_hash(F.col("url")))
        .filter(_might_contain(F.col("url_hash")))
        .select(
            "url",
            extract_udf(F.col("url"), F.col("html")).alias("e"),
            F.length(F.col("html")).cast("long").alias("bytes"),
            F.spark_partition_id().alias("partition_id"),
            # computed IN the scan so only 32 hex chars (not html) ride the
            # dedup shuffle; same pick key as FixtureFetcher so both fetch
            # modes select the SAME row for a duplicated url
            F.md5(F.col("html")).alias("_pick"),
        )
    )
    if not unique_urls:
        # enforce one row per url on the EXTRACTED structs (small), never on
        # the html; deterministic pick = min md5(html), matching
        # FixtureFetcher's unique_urls=False contract exactly
        extracted = (
            extracted.groupBy("url")
            .agg(
                F.min_by(
                    F.struct("e", "bytes", "partition_id"), F.col("_pick")
                ).alias("_s")
            )
            .select(
                "url",
                F.col("_s.e").alias("e"),
                F.col("_s.bytes").alias("bytes"),
                F.col("_s.partition_id").alias("partition_id"),
            )
        )
    else:
        extracted = extracted.drop("_pick")
    return scheduled.join(extracted, on="url", how="left")


class HttpFetcher:
    """Real-network fetch: ``mapInPandas`` over host-partitioned URL batches,
    token-bucket-paced per host inside each worker (the reference's
    AsyncHttpClient politeness knobs, archive/full_text_CrawlerAsync.py:64-143
    + the per-host delay of core/scheduler.py:245).

    Plan shape: the (small) per-host politeness table broadcast-joins onto the
    scheduled batch so each row carries its ``delay_s``; rows then repartition
    by host, so one task owns each host's stream and a plain monotonic-clock
    token bucket enforces the minimum inter-request interval — per-host
    concurrency 1, exactly the reference's sequential per-host loop.  Fetches
    are stdlib ``urllib`` (no extra deps); a failed/timeout fetch yields
    html = null, which the engine already treats as a fetch miss feeding the
    R1-R5 retry budget.

    Exercised against a loopback HTTP server in tests/test_fetch.py — same
    posts output as the FixtureFetcher join on the same corpus.
    """

    def __init__(
        self,
        politeness: DataFrame | None = None,
        timeout_s: float = 10.0,
        n_partitions: int = 32,
        user_agent: str = "eastmoneygubacrawler-spark/1.0",
        url_rewrite=None,
        per_host_slots: int = 1,
        uas: DataFrame | None = None,
        ua_mode: str = "sequential",
        ua_blacklist: DataFrame | None = None,
        ua_now_ts: float = 0.0,
    ):
        """``url_rewrite``: optional callable url→request-url applied
        worker-side just before the request (rows keep their logical url) —
        the front-proxy/cache knob, and how tests route guba URLs to a
        loopback server.

        ``per_host_slots``: P3 per-host concurrency (the reference's
        max_concurrency, archive/full_text_CrawlerAsync.py semaphore).  A
        host's URLs hash into ``slots`` streams that fetch concurrently;
        each stream's token bucket spaces at ``delay × slots``, so the
        AGGREGATE per-host rate stays ≤ 1/delay while up to ``slots``
        connections run in parallel.  Streams that co-locate in one task
        pace stricter than required — politeness is a minimum, never
        violated.

        ``uas``: optional (ua, ua_rank) table — P9 rotation (the reference's
        per-request UserAgentManager.get_user_agent, core/user_agent_manager
        .py:16-121) wired into the real fetch path: the blacklist-filtered
        availability is assigned as a COLUMN over the scheduled batch
        (operators/useragents.py, ``ua_mode`` sequential|random) and each
        request sends its row's UA header.  A pre-existing ``ua`` column on
        the scheduled batch wins (caller-supplied assignment); rows with a
        null ua fall back to the static ``user_agent``."""
        self.politeness = (
            politeness.select("host", "delay_s") if politeness is not None else None
        )
        self.timeout_s = timeout_s
        self.n_partitions = n_partitions
        self.user_agent = user_agent
        self.url_rewrite = url_rewrite
        self.per_host_slots = max(1, per_host_slots)
        self.uas = uas
        self.ua_mode = ua_mode
        self.ua_blacklist = ua_blacklist
        self.ua_now_ts = ua_now_ts

    def fetch(
        self, scheduled: DataFrame, broadcast: bool | None = None
    ) -> DataFrame:
        """Returns ``scheduled`` with an ``html`` column (null ⇒ fetch failed).

        ``broadcast`` is accepted for interface parity with FixtureFetcher and
        ignored — an HTTP fetch has no pages side to join."""
        from pyspark.sql.types import BinaryType, StructField, StructType

        from ..functions import urls as U

        sched = scheduled
        if "host" not in sched.columns:
            sched = sched.withColumn("host", U.url_host(F.col("url")))
        added_delay = "delay_s" not in sched.columns
        if added_delay:
            if self.politeness is not None:
                sched = sched.join(F.broadcast(self.politeness), on="host", how="left")
            else:
                sched = sched.withColumn("delay_s", F.lit(None).cast("double"))
        added_ua = False
        if "ua" not in sched.columns:
            if self.uas is not None:
                from ..operators.useragents import (
                    assign_user_agents,
                    available_user_agents,
                )

                avail = available_user_agents(
                    self.uas, self.ua_blacklist, now_ts=self.ua_now_ts
                )
                sched = assign_user_agents(
                    sched, avail, mode=self.ua_mode, order_cols=["url"],
                    n_partitions=self.n_partitions,
                )
            else:
                sched = sched.withColumn("ua", F.lit(None).cast("string"))
            added_ua = True

        out_schema = StructType(
            list(scheduled.schema.fields)
            + ([StructField("host", sched.schema["host"].dataType)]
               if "host" not in scheduled.columns else [])
            # the assigned UA rides the output only when rotation is on —
            # fetch lineage for A-counters / blacklist feedback
            + ([StructField("ua", sched.schema["ua"].dataType)]
               if added_ua and self.uas is not None else [])
            + [StructField("html", BinaryType())]
        )
        out_cols = [f.name for f in out_schema.fields]
        timeout_s = self.timeout_s
        user_agent = self.user_agent
        url_rewrite = self.url_rewrite
        slots = self.per_host_slots

        def _fetch(batches):
            import time as _time
            import urllib.request

            import pandas as pd

            next_ok: dict = {}  # host -> earliest next fetch (monotonic)
            for pdf in batches:
                htmls = []
                for url, host, delay, row_ua in zip(
                    pdf["url"], pdf["host"], pdf["delay_s"], pdf["ua"]
                ):
                    d = 0.0 if delay is None or pd.isna(delay) else float(delay)
                    d *= slots  # each of `slots` streams paces slots× slower
                    wait = next_ok.get(host, 0.0) - _time.monotonic()
                    if wait > 0:
                        _time.sleep(wait)
                    next_ok[host] = _time.monotonic() + d
                    try:
                        ua = user_agent if row_ua is None or pd.isna(row_ua) \
                            else str(row_ua)
                        req = urllib.request.Request(
                            url_rewrite(url) if url_rewrite else url,
                            headers={"User-Agent": ua},
                        )
                        with urllib.request.urlopen(req, timeout=timeout_s) as r:
                            htmls.append(r.read())
                    except Exception:
                        htmls.append(None)
                out = pdf.copy()
                out["html"] = htmls
                yield out[out_cols]

        part_keys = [F.col("host")]
        if slots > 1:
            part_keys.append(F.pmod(F.xxhash64("url"), F.lit(slots)))
        return (
            sched.repartition(self.n_partitions, *part_keys)
            .mapInPandas(_fetch, out_schema)
        )
