"""The crawl-round driver: one call = one reference "round" (full crawl pass).

Pipeline per round (the Spark shape of core/crawler.py:723-871 +
archive/main_controller.py's stage-1/stage-2 split, SURVEY.md §3.1):

  seeds ─ filter F1, sort O1 ─→ probes (page-1 per stock×type)
      ─ fetch+parse UDF1, skip rules F3/F4/F5 ─→ total_pages (X2)
      ─ explode pages 1..N (X3) ─→ list frontier
  wave loop (politeness budget per host, canonical-order ranks O1-O4):
      fetch ⋈ pages → parse UDF1 → first-occurrence dedup + store anti-join
      (J1) → per-page new counts (J2) → duplicate-page horizon (J4) prunes
      the remaining frontier
  items ─ project F9 ─→ new posts rows, crawl_seq = row_number over the
      canonical key (host_rank, type_rank, page, item_seq)
  depth-1: post URLs (X4) ─ robots gate ─ seen-set (bloom + exact anti-join)
      ─ politeness waves ─ fetch → extract_text UDF2 (byte-identity) ─→
      MERGE full_text into posts (S6 analog)
  atomic append-only commit: posts/seen/comments/crawl_log round DELTAS +
      frontier snapshot + text merge-on-read patches (SnapshotStore)

Determinism: the crawl order is computed as data, so results are independent
of physical execution order — equality with the reference's sequential loop
is proven against the fixtures' pure-Python simulator in tests.
"""

from __future__ import annotations

import time
from dataclasses import dataclass
from functools import reduce

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions import urls as U
from ..functions.extract import extract_text_udf, parse_list_page_udf
from ..operators import frontier as FR
from ..operators import seen as SE
from ..storage.backend import SnapshotStore

POSTS_KEY = ["stock_code", "content_type", "url_id"]

# Strategy thresholds.  No caller tunes these per run, so they are module
# constants; an A/B study monkeypatches the constant (run_crawl reads each
# one at call time).

# SIZE-AWARE broadcast cap (r6 verdict item 1, adjudicated by the r7
# 4x-corpus ABAB — BENCH/fetch_abab_r7.json): a politeness-bounded batch
# (list wave, comment wave) with more rows than this falls back to the
# shuffle join even when bounded_fetch_broadcast is on.  The broadcast build
# (driver collect + hash relation + ship) is SERIAL, so past ~0.5M rows it
# dominates and INVERTS with core count (r6b at the 4x corpus: the one
# 1.7M-row wave read 66 s at 4c but 103 s at 16c broadcast, vs 48 s SMJ)
# while small waves broadcast strictly faster (r6c 1x ABAB, 0.43M rows).
# Neither constant strategy can be right at 100x; the row count of every
# wave batch is already known (the politeness count) so the choice is free.
BROADCAST_MAX_ROWS = 500_000
# text_fetch_mode="auto" crossover on the MEASURED mean html bytes of
# previous rounds (manifest meta "mean_text_bytes"): the fat-html study
# (BENCH/fat_html_modes.json) showed scan_extract 2.75x faster at 56 KB
# pages while join wins at 3 KB
SCAN_EXTRACT_BYTES_THRESHOLD = 16384
# text-merge join strategy crossover: past this many fetched texts the
# commit-time posts ⋈ texts join is hinted shuffled-hash (both sides are
# same-key round deltas — sort order buys nothing and SMJ sorts the text
# payload rows; measured 7.3 → 6.2 s on a 1.44M-row delta); below it the
# hint is withheld so Catalyst broadcasts the tiny text side
SHJ_TEXT_MERGE_THRESHOLD = 100_000
# ... and ABOVE this estimated per-partition build size the hint is withheld
# again: a shuffled-hash build that does not fit execution memory is a hard
# SparkOutOfMemoryError, not a spill (guide §3.1) — measured at the r7 8x
# corpus (11.5M texts / 32 shuffle partitions ≈ 700 MB per build) where the
# round died in the commit; SMJ spills gracefully there.
SHJ_BUILD_BUDGET_BYTES = 256 * 1024 * 1024
MAX_WAVES = 64
DUPLICATE_PAGE_THRESHOLD = 2  # core/crawler.py:104
# X9 start year: the reference seeds inference with datetime.now().year
# (archive/main_class.py:765); fixed here for reproducibility
INFERENCE_START_YEAR = 2026


@dataclass
class CrawlConfig:
    n_shards: int = 64
    n_salts: int = 16
    fetch_partitions: int = 32
    budget_per_host: int = 1_000_000_000  # list pages per host per wave (P1/P3)
    text_budget_per_host: int = 0  # depth-1 fetches per host per round (P2
    # QPS-cap analog, archive/full_text_CrawlerAsync.py:152); 0 ⇒ budget_per_host
    max_attempts: int = 5  # core/crawler.py:496 (tenacity budget)
    use_bloom: bool = True
    # approximate-membership front-filter flavor: "bloom" (default) or
    # "cuckoo" (north-star structure: delete-capable, ~1 byte/key at 95%
    # load — operators/cuckoo.py); both are operators/seen.MembershipIndex
    # flavors and the exact anti-join confirms suspects either way
    seen_filter: str = "bloom"
    max_depth: int = 2  # 0=list only, 1=+post text, 2=+paginated comments
    # fetch join strategy: broadcast the politeness-bounded batch (html never
    # shuffles) vs sort-merge (for unbounded batches, where the driver-side
    # broadcast build would serialize)
    broadcast_fetch: bool = True
    # bounded batches (probes, list waves, comment waves) broadcast
    # regardless of broadcast_fetch, waves up to BROADCAST_MAX_ROWS —
    # broadcast_fetch then only selects the strategy for the one unbounded
    # batch per round (the depth-1 text fetch).
    # Why (round-6 list-phase profile, BENCH/profile_list_phase.py): Spark
    # never reuses an exchange across queries, so on the shuffle-join path
    # EVERY wave re-shuffles and re-sorts the full pages html (2.5 GB written
    # 3x per round at the 2x scaling corpus); at 4x the sort leaves memory
    # and the list phase goes superlinear (9.8 -> 33.4 -> 71.9 s at 16
    # cores).  A bounded batch broadcast costs one columnar scan per wave
    # and keeps html out of every exchange — the 100 TB-path economics.
    # False restores the round-5 behavior (everything follows broadcast_fetch).
    bounded_fetch_broadcast: bool = True
    # depth-1 text strategy: "join" = fetch join then extract (html crosses
    # the exchange on the SMJ path); "scan_extract" = bloom-pruned scan with
    # the extraction fused INTO the scan stage — html never shuffles, only
    # the small text rows do (the unbounded-batch 100 TB path; see
    # engine/fetch.scan_extract); "auto" (default) picks per the measured
    # mean html size (SCAN_EXTRACT_BYTES_THRESHOLD) and cold-starts as
    # "join" until the store has a measurement
    text_fetch_mode: str = "auto"
    # F2 resume cursor (core/scheduler.py:206-217): only seeds >= start_code
    # (asc) / <= start_code (desc) are crawled this round
    start_code: str | None = None
    crawl_order: str = "asc"  # seed sort direction (core/scheduler.py:202-204)
    # politeness-table budget derivation: pages per host per round =
    # round_seconds / delay_s; text fetches = max_qps × round_seconds
    # (P1 core/scheduler.py:245; P2 archive/full_text_CrawlerAsync.py:152)
    round_seconds: float = 3600.0

    def __post_init__(self) -> None:
        # an unknown string would otherwise silently run the fallback branch
        # of each choice (bloom, join, descending order)
        for name, allowed in (
            ("seen_filter", SE.SEEN_FLAVORS),
            ("text_fetch_mode", ("auto", "join", "scan_extract")),
            ("crawl_order", ("asc", "desc")),
        ):
            if getattr(self, name) not in allowed:
                raise ValueError(
                    f"CrawlConfig.{name}={getattr(self, name)!r}; expected one of {allowed}"
                )


def shj_text_merge_hint(
    n_texts: int,
    mean_text_bytes: float | None,
    shuffle_partitions: int,
    advisory_bytes: int | None = None,
) -> bool:
    """Whether the commit-time posts ⋈ texts merge gets the shuffle_hash hint.

    The build side is the text delta, so its per-partition size is estimated
    from the round's mean EXTRACTED-text bytes.  AQE coalescing can merge
    shuffle partitions up to ``advisory_bytes`` (pass it when coalescing is
    on), so the estimate never drops below it.  An unmeasured mean withholds
    the hint: guessing low is the OOM case the budget exists to avoid."""
    if mean_text_bytes is None or n_texts <= SHJ_TEXT_MERGE_THRESHOLD:
        return False
    est = n_texts / max(shuffle_partitions, 1) * mean_text_bytes
    if advisory_bytes is not None:
        est = max(est, advisory_bytes)
    return est <= SHJ_BUILD_BUDGET_BYTES


def _seed_ranks(
    seeds: DataFrame, start_code: str | None = None, crawl_order: str = "asc"
) -> DataFrame:
    """F1 seed filter + F2 resume-cursor range + O1 deterministic order →
    host_rank per stock (core/stock_loader.py:61-66; core/scheduler.py:202-217)."""
    # exact reference semantics (core/stock_loader.py:61-66): only the literal
    # substrings 'ST' / 'st' / '退' — NOT upper(name), which would over-filter
    # mixed-case names like 'St...'
    filtered = seeds.filter(
        ~(
            F.col("name").contains("ST")
            | F.col("name").contains("st")
            | F.col("name").contains("退")
        )
    )
    codes = filtered.select(
        U.zfill_code(F.col("stock_code")).alias("stock_code")
    ).distinct()
    if start_code is not None:
        cursor = str(start_code).zfill(6)
        codes = codes.filter(
            F.col("stock_code") >= cursor
            if crawl_order == "asc"
            else F.col("stock_code") <= cursor
        )
    order = F.col("stock_code").asc() if crawl_order == "asc" else F.col("stock_code").desc()
    # global window is intentional here: the seed list is the ONE bounded
    # input (~5k stock codes, reference core/stock_loader.py) — at that size
    # a single-partition rank is cheaper than the two-phase
    # operators/order.global_row_number, which the engine uses for the
    # unbounded tables (crawl_seq over posts)
    w = Window.orderBy(order)
    return codes.withColumn("host_rank", F.row_number().over(w).cast("long") - 1)


def _with_url_identity(df: DataFrame, n_salts: int) -> DataFrame:
    return (
        df.withColumn("url", U.canonicalize_url(F.col("url")))
        .withColumn("url_hash", U.url_hash(F.col("url")))
        .withColumn("host", U.url_host(F.col("url")))
        .withColumn("salt", U.salt_for(F.col("url"), n_salts))
    )


def _run_concurrent(spark: SparkSession, fns: list) -> list:
    """Run independent driver-side callables as concurrent driver threads
    (optimization guide §2.6: actions are only sequential because the driver
    calls them sequentially) — the wall is max(job), not sum(job).  Each
    thread inherits the caller's local properties (job group, tags).  Callers
    must have warmed any shared upstream cache first so the concurrent jobs
    do not race to compute it."""
    from concurrent.futures import ThreadPoolExecutor

    from pyspark import inheritable_thread_target

    inherit = inheritable_thread_target(spark)
    with ThreadPoolExecutor(max_workers=len(fns)) as pool:
        futs = [pool.submit(inherit(fn)) for fn in fns]
        return [f.result() for f in futs]


def run_crawl(
    spark: SparkSession,
    store: SnapshotStore,
    pages: DataFrame,
    seeds: DataFrame,
    robots: DataFrame | None = None,
    politeness: DataFrame | None = None,
    cfg: CrawlConfig | None = None,
    fetcher=None,
) -> dict:
    """Run one crawl round; commits state atomically; returns metrics.

    ``fetcher`` defaults to the FixtureFetcher join against ``pages``; pass an
    engine.fetch.HttpFetcher to crawl over real HTTP (same interface —
    tests/test_fetch.py proves posts-output equality over a loopback server).
    """
    cfg = cfg or CrawlConfig()
    if spark.conf.get("spark.sql.adaptive.enabled", "true") != "true":
        # ADVICE r6: the suspect-free posts-key fast path (and the empty
        # terminating-wave schedule) rely on AQE empty-relation propagation;
        # without AQE every wave pays a posts-key corpus scan.  Results are
        # unchanged — this is a performance contract, surfaced loudly.
        import logging

        logging.getLogger(__name__).warning(
            "spark.sql.adaptive.enabled is false: run_crawl's suspect-free "
            "fast paths depend on AQE empty-relation propagation; expect "
            "per-wave corpus-key scans (results unchanged, wall inflated)"
        )
    t0 = time.time()
    phase_t: dict = {}
    # every cache created for this round is registered and released after
    # commit — a long-lived driver running many rounds must not accumulate
    # stale cached blocks (LRU-evicting useful ones)
    caches: list = []

    def _cached(df: DataFrame) -> DataFrame:
        caches.append(df)
        return df.cache()

    def _mark(name):
        now = time.time()
        phase_t[name] = round(now - phase_t.get("_last", t0), 3) + phase_t.get(name, 0.0)
        phase_t["_last"] = now
    round_id = store.current_round() + 1

    posts_prev = store.load(spark, "posts")
    seen_prev = store.load(spark, "seen")
    store_meta = store.meta()
    # persisted membership indexes (operators/seen.MembershipIndex): the
    # URL-seen index and the posts-key index share one lifecycle — load or
    # bootstrap here, probe in the gates, merge the round's delta in at
    # commit — so recrawl rounds never re-scan a full corpus to rebuild a
    # front-filter.  The manifest records each index's geometry and the
    # round it covers: a config drift (different --n-shards) or a lag (a
    # use_bloom=False round, or a purge a bloom cannot follow) would
    # otherwise probe wrong/stale blobs — FALSE NEGATIVES, i.e. refetch of
    # seen URLs and double MoR patches.  Drift/lag ⇒ rebuild, once.
    def _index_fresh(idx: SE.MembershipIndex) -> bool:
        """A persisted index is usable only if its recorded geometry matches
        this round's and it covers the latest committed round."""
        m = store_meta.get(idx.table)
        return (
            m is not None
            and all(m.get(f) == v for f, v in idx.geometry.items())
            and m.get("round") == store.current_round()
        )

    def _load_index(idx, corpus_keys: DataFrame | None) -> DataFrame | None:
        """The blobs this round probes and merges into: the stored ones when
        fresh, else a bootstrap build from the previous corpus (one
        O(corpus) distributed build, lazily checkpointed so the gates and
        the commit-time merge reuse it un-recomputed — blob bytes are bounded
        by geometry, never by corpus), else None (no index, or no corpus)."""
        if idx is None:
            return None
        if _index_fresh(idx):
            return store.load(spark, idx.table)
        if corpus_keys is None:
            return None
        return idx.build(corpus_keys).localCheckpoint(eager=False)

    seen_idx = SE.seen_index(cfg.seen_filter, cfg.n_shards) if cfg.use_bloom else None
    seen_blobs = _load_index(seen_idx, seen_prev)

    if fetcher is None:
        from .fetch import FixtureFetcher

        fetcher = FixtureFetcher(pages, broadcast_scheduled=cfg.broadcast_fetch)
    # per-call override for politeness-bounded batches (None ⇒ follow the
    # fetcher's instance default); see CrawlConfig.bounded_fetch_broadcast
    bounded_bc = True if cfg.bounded_fetch_broadcast else None

    def _fetch(batch: DataFrame, bc: bool | None) -> DataFrame:
        """Fetch with the per-call broadcast override only when one is set —
        a user-injected fetcher implementing the plain fetch(batch)
        signature keeps working whenever the engine is not overriding
        (ADVICE r6: the kwarg is otherwise part of the fetcher protocol)."""
        if bc is None:
            return fetcher.fetch(batch)
        return fetcher.fetch(batch, broadcast=bc)

    def _fetch_stage(batch: DataFrame, bc: bool | None) -> DataFrame:
        """The one fetch shape of list, text and comment batches: spread over
        (host, salt), fetch, tag each row with its executing partition for
        crawl_log.  Callers apply their own parse/extract UDF."""
        return _fetch(
            batch.repartition(cfg.fetch_partitions, F.col("host"), F.col("salt")),
            bc,
        ).withColumn("partition_id", F.spark_partition_id())

    def _bounded_bc(n_rows: int) -> bool | None:
        """Size-aware pick for a politeness-bounded batch (BROADCAST_MAX_ROWS):
        its row count is already in hand, so an over-cap batch falls back to
        the shuffle join instead of a serial driver-side broadcast build."""
        return None if bounded_bc is None else n_rows <= BROADCAST_MAX_ROWS

    def _fetch_log(
        fetched: DataFrame, stage: str, new_urls, nbytes
    ) -> DataFrame:
        """crawl_log rows of one fetch: per (partition, host) counts.  Lazy —
        each caller picks its own checkpoint."""
        return (
            fetched.groupBy("partition_id", "host")
            .agg(
                F.count("*").alias("fetched"),
                F.sum(new_urls).alias("new_urls"),
                F.sum(nbytes).alias("bytes"),
            )
            .withColumn("stage", F.lit(stage))
            .withColumn("round", F.lit(round_id))
        )

    # per-host politeness budgets derived from the config table (P1/P2/P5)
    def _budgets(per_host) -> DataFrame | None:
        if politeness is None:
            return None
        return politeness.select(
            "host",
            F.greatest(F.floor(per_host), F.lit(1)).cast("long").alias("budget"),
        )

    list_budgets = _budgets(F.lit(cfg.round_seconds) / F.col("delay_s"))
    text_budgets = _budgets(F.col("max_qps") * F.lit(cfg.round_seconds))

    # ---- probe stage -------------------------------------------------------
    ranks = _seed_ranks(seeds, cfg.start_code, cfg.crawl_order)
    ctypes = spark.createDataFrame(
        [("news", 0), ("report", 1), ("notice", 2)], ["content_type", "type_rank"]
    )
    probes = (
        ranks.crossJoin(F.broadcast(ctypes))
        .withColumn("page", F.lit(1))
        .withColumn(
            "url", U.list_page_url(F.col("stock_code"), F.col("content_type"), F.col("page"))
        )
    )
    probe_res = (
        _fetch(probes, bounded_bc)
        .withColumn("p", parse_list_page_udf(F.col("html"), F.lit(None).cast("long")))
        .select(
            "stock_code", "content_type", "host_rank", "type_rank", "url",
            F.col("p.count").alias("total_count"),
            F.col("p.status").alias("probe_status"),
            F.col("p.all_nick_ok").alias("all_nick_ok"),
            F.col("html").isNull().alias("fetch_failed"),
        )
        .transform(_cached)
    )

    # probe skip rules: bad nickname / captcha / no_json / fetch miss ⇒ the
    # whole (stock, type) is skipped this round (core/crawler.py:281-389)
    valid_probes = probe_res.filter(
        (~F.col("fetch_failed"))
        & F.col("probe_status").isin("ok", "no_data")
        & (F.col("all_nick_ok").isNull() | F.col("all_nick_ok"))
    ).withColumn("total_pages", U.total_pages(F.col("total_count")))

    # probe fetches count as consumed URLs (the probe really fetched page 1);
    # page-1 rows can never exceed a horizon (streak needs ≥2 prior pages)
    probe_seen = valid_probes.select(
        "stock_code", "content_type", F.lit(1).alias("page"), "url"
    ).distinct()

    # ---- list-page frontier -------------------------------------------------
    list_frontier = (
        valid_probes.filter(F.col("total_pages") > 0)
        .withColumn("page", F.explode(F.sequence(F.lit(1), F.col("total_pages"))))
        .withColumn(
            "url", U.list_page_url(F.col("stock_code"), F.col("content_type"), F.col("page"))
        )
        .withColumn("item_seq", F.lit(None).cast("int"))
        .select(
            "url", "stock_code", "content_type", "page",
            "host_rank", "type_rank", "item_seq",
            F.col("total_count").alias("expected_count"),
        )
    )
    list_frontier = _with_url_identity(list_frontier, cfg.n_salts).transform(_cached)

    posts_keys_prev = (
        posts_prev.select(*POSTS_KEY) if posts_prev is not None else None
    )

    # posts-key index (r4 verdict item 2): the per-wave dedup against ALL
    # previously-stored post keys gets the same treatment as the URL-seen
    # set — the index keyed on xxhash64(stock, type, url_id) probes each
    # wave's items, only HITS (suspects ≈ the true re-listed duplicates)
    # touch the exact posts-key corpus, and a suspect-free wave (the common
    # case on a forward crawl) skips it entirely.
    def _pkey_hash(df: DataFrame) -> DataFrame:
        return df.withColumn("url_hash", F.xxhash64(*POSTS_KEY))

    pkeys_prev = _pkey_hash(posts_keys_prev) if posts_keys_prev is not None else None
    posts_idx = SE.posts_key_index(cfg.n_shards) if cfg.use_bloom else None
    posts_blobs = _load_index(posts_idx, pkeys_prev)

    # ---- wave loop over list pages ------------------------------------------
    # Politeness waves process each host's pages in canonical order, so within
    # a (stock, type) pages always arrive in increasing page order across
    # waves — first-processed occurrence == global first occurrence, which
    # lets new-counts be computed incrementally per wave.  Every accumulator
    # is lineage-truncated (localCheckpoint) each wave: iterative plan growth
    # is exponential otherwise (union-of-union + window recompute).
    pending = list_frontier
    all_items = None  # accumulated NEW items (project source)
    round_keys = None  # item keys already counted this round
    page_stats_acc = None
    horizons = None
    list_seen_pages = probe_seen
    waves = 0
    list_fetched_rows = 0
    lineage_frames = []

    while waves < MAX_WAVES:
        waves += 1
        if horizons is not None:
            pending = FR.prune_beyond_horizon(pending, horizons)
        batch, over_budget = FR.politeness_split(
            pending, cfg.budget_per_host, host_budgets=list_budgets
        )
        batch = batch.transform(_cached)
        _mark('schedule')
        n_batch = batch.count()
        if n_batch == 0:
            break
        # next wave's carry is the rank complement — no anti-join; with an
        # unbounded budget it is a statically-empty LocalRelation, so the
        # terminating wave's schedule/count costs nothing
        pending = over_budget.localCheckpoint(eager=False)

        fetched = (
            _fetch_stage(batch, _bounded_bc(n_batch))
            .withColumn("p", parse_list_page_udf(F.col("html"), F.col("expected_count")))
            .cache()
        )
        list_fetched_rows += n_batch
        # lazy here; materialized concurrently with the wave-outcome frame
        # below once the fetched/page_rows caches are warm (guide §2.6)
        wave_lineage = _fetch_log(
            fetched, "list_fetch",
            F.size(F.coalesce(F.col("p.items"), F.array())),
            F.length(F.col("html")).cast("long"),
        ).localCheckpoint(eager=False)  # tiny; avoids refetch at commit
        lineage_frames.append(wave_lineage)

        page_rows = fetched.select(
            "stock_code", "content_type", "page", "host_rank", "type_rank",
            "url", "expected_count",
            F.col("p.status").alias("status"),
            F.col("p.items").alias("items"),
            (F.col("html").isNotNull() & F.col("p.status").isin("ok", "no_data")).alias("ok"),
        ).cache()

        items = (
            page_rows.filter(F.col("ok"))
            .select(
                "stock_code", "content_type", "page", "host_rank", "type_rank",
                F.explode(F.coalesce(F.col("items"), F.array())).alias("it"),
            )
            .select(
                "stock_code", "content_type", "page", "host_rank", "type_rank",
                F.col("it.post_id").alias("url_id"),
                F.col("it.post_title").alias("title"),
                F.col("it.art_url").alias("art_url"),
                F.col("it.post_click_count").alias("read_count"),
                F.col("it.post_comment_count").alias("comment_count"),
                F.col("it.post_publish_time").alias("publish_time"),
                F.col("it.user_nickname").alias("author"),
                F.col("it.grade_type").alias("grade"),
                F.col("it.institution").alias("institution"),
                F.col("it.notice_type").alias("notice_type"),
                F.col("it.item_seq").alias("item_seq"),
            )
        )
        # first occurrence within THIS wave, then drop keys already counted
        # in earlier waves or stored in previous rounds
        w_first = Window.partitionBy(*POSTS_KEY).orderBy("page", "item_seq")
        firsts_wave = (
            items.withColumn("_rn", F.row_number().over(w_first))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )
        if round_keys is not None:
            firsts_wave = firsts_wave.join(round_keys, on=POSTS_KEY, how="left_anti")
        if posts_keys_prev is not None:
            if posts_blobs is not None:
                flagged = (
                    posts_idx.maybe_seen(_pkey_hash(firsts_wave), posts_blobs)
                    .drop("url_hash")
                    .localCheckpoint(eager=True)
                )
                suspects = flagged.filter(F.col("maybe_seen")).drop("maybe_seen")
                fresh_rows = flagged.filter(~F.col("maybe_seen")).drop("maybe_seen")
                # resolve the (few) suspects with the corpus on the STREAM
                # side of broadcast joins: one pruned, shuffle-free key
                # scan, never a corpus-wide exchange.  Runs UNconditionally
                # — no per-wave driver gate (r5 verdict item 5): when the
                # wave has zero suspects the BroadcastExchange carries an
                # empty relation and AQE's empty-propagation collapses the
                # LeftSemi to an empty LocalRelation, so the posts-key
                # corpus is never scanned (measured: 0.27s vs 0.85s full
                # scan on a 5M-key corpus).  The joins fold into the
                # wave's existing firsts_wave eager checkpoint job, so the
                # posts-key index path adds zero driver actions.
                dup_keys = posts_keys_prev.join(
                    F.broadcast(suspects.select(*POSTS_KEY)),
                    on=POSTS_KEY, how="left_semi",
                )
                firsts_wave = fresh_rows.unionByName(
                    suspects.join(
                        F.broadcast(dup_keys), on=POSTS_KEY, how="left_anti"
                    )
                )
            else:
                firsts_wave = firsts_wave.join(
                    posts_keys_prev, on=POSTS_KEY, how="left_anti"
                )
        firsts_wave = firsts_wave.localCheckpoint(eager=True)
        _mark('list_fetch_parse')

        all_items = (
            firsts_wave
            if all_items is None
            else all_items.unionByName(firsts_wave).localCheckpoint(eager=False)
        )
        keys_wave = firsts_wave.select(*POSTS_KEY)
        round_keys = (
            keys_wave
            if round_keys is None
            else round_keys.unionByName(keys_wave).localCheckpoint(eager=False)
        )

        new_counts = firsts_wave.groupBy("stock_code", "content_type", "page").agg(
            F.count("*").alias("new_count")
        )
        # ONE per-wave outcome frame feeds BOTH accumulators (consumed list
        # pages → seen candidates, horizon-filtered at the end: pages
        # speculatively fetched past the early-stop are never consumed,
        # matching the reference's future-cancellation core/crawler.py:
        # 855-859 — and the per-page stats driving the J4 horizon); it was
        # two separate eager checkpoints per wave, i.e. two sequential
        # driver jobs over the same cached page_rows
        wave_pages = (
            page_rows.select("stock_code", "content_type", "page", "url", "ok")
            .join(new_counts, on=["stock_code", "content_type", "page"], how="left")
            .withColumn("new_count", F.coalesce(F.col("new_count"), F.lit(0)))
            .localCheckpoint(eager=False)
        )
        # materialize the two independent lazy checkpoints concurrently —
        # the firsts_wave job above already warmed the fetched/page_rows
        # caches, so these are two small jobs racing nothing
        _run_concurrent(spark, [wave_lineage.count, wave_pages.count])
        list_seen_pages = list_seen_pages.unionByName(
            wave_pages.filter(F.col("ok")).select(
                "stock_code", "content_type", "page", "url"
            )
        )
        stats = wave_pages.select(
            "stock_code", "content_type", "page", "ok", "new_count"
        )
        page_stats_acc = (
            stats
            if page_stats_acc is None
            else page_stats_acc.unionByName(stats)
        )
        horizons = FR.duplicate_page_horizon(
            page_stats_acc, DUPLICATE_PAGE_THRESHOLD
        ).transform(_cached)
        batch.unpersist()
        fetched.unpersist()
        page_rows.unpersist()

    if all_items is None:
        new_items_final = None
        posts_new = spark.createDataFrame([], "stock_code string")
    # apply the final horizon to the accumulated new items
    if all_items is not None:
        new_items_final = all_items
        if horizons is not None:
            new_items_final = FR.prune_beyond_horizon(new_items_final, horizons)

        # ---- project new posts rows (F9) + canonical crawl_seq -------------
        # crawl_seq continues across rounds (insertion order, like Mongo _id
        # order under the reference's sequential loop); two-phase distributed
        # rank — no single-partition global window at 10^10 scale
        from ..operators.order import global_row_number

        # running count rides the manifest — a per-round posts_prev.count()
        # would touch the whole corpus's parquet footers at a 10^10-row
        # table; the scan fallback only runs on a legacy (pre-meta) store
        prev_count = store_meta.get("posts_rows")
        if prev_count is None:
            prev_count = posts_prev.count() if posts_prev is not None else 0
        posts_new = (
            new_items_final.withColumn(
                "url", U.post_url(F.col("stock_code"), F.col("url_id"), F.col("art_url"))
            )
            .withColumn("summary", F.col("title"))  # core/crawler.py:615
            .withColumn("source", F.lit("official"))
            .withColumn("round", F.lit(round_id))
        )
        posts_new = global_row_number(
            posts_new,
            ["host_rank", "type_rank", "page", "item_seq"],
            out_col="crawl_seq",
            start=prev_count + 1,
            n_partitions=cfg.fetch_partitions,
        )

    posts_new = posts_new.transform(_cached)
    _mark('horizon_misc')
    # one aggregate yields the round's post count AND the comment-page total
    # that sizes the depth-2 fetch batch (the broadcast-vs-SMJ gate signal) —
    # a separate count of the comment schedule cost a ~5 s extra driver job
    # per round at the scaling corpus (measured: sequential comment phase
    # 18-20 s vs r6's 12 s with the standalone count)
    if "comment_count" in posts_new.columns:
        _pp = posts_new.agg(
            F.count("*").alias("n"),
            F.sum(
                F.when(
                    F.col("comment_count") > 0,
                    U.comment_total_pages(F.col("comment_count")),
                ).otherwise(F.lit(0))
            ).alias("cp"),
        ).head(1)[0]
        n_posts_new = int(_pp["n"])
        n_comment_pages_est = int(_pp["cp"] or 0)
    else:
        n_posts_new = posts_new.count()
        n_comment_pages_est = 0
    _mark('posts_project')

    # ---- depth-1: full-text fetch (new posts + cross-round retries) ----------
    # Reference analogs: stage-2 queue drain (archive/full_text_CrawlerAsync
    # .py:423-445) + tenacity retry budget (R1, core/crawler.py:490-498):
    # failed fetches persist as frontier retry rows, refetched next round
    # while attempts < max_attempts; over-budget rows carry over as pending.
    frontier_prev = store.load(spark, "frontier")
    # adaptive fetch-mode (r4 verdict item 8): the caller used to pick the
    # depth-1 strategy blind; "auto" derives it from the mean html bytes the
    # store has actually measured (manifest meta, written every round below
    # — no extra scan).  Cold start (no measurement yet) = "join", the
    # measured-best mode for small pages.
    text_mode = cfg.text_fetch_mode
    if text_mode == "auto":
        mb = store_meta.get("mean_text_bytes")
        text_mode = (
            "scan_extract"
            if mb is not None and mb > SCAN_EXTRACT_BYTES_THRESHOLD
            else "join"
        )
    # frontier columns a depth-1 / depth-2 row carries besides attempts
    d1_keys = [
        "url", "url_hash", "host", "salt",
        "host_rank", "type_rank", "page", "item_seq",
    ]
    d2_keys = [
        "url", "url_hash", "host", "salt", "stock_code", "content_type",
        "post_url_id", "page", "host_rank", "type_rank", "item_seq",
    ]

    def _candidates(depth: int, keys: list, new_rows) -> DataFrame | None:
        """This round's new rows (``new_rows()``; none without new posts) ∪
        previous rounds' retry/pending rows of the same depth still within
        the retry budget.  A candidate row is a frontier row minus the
        _with_url_identity columns."""
        cols = [c for c in keys if c not in ("url_hash", "host", "salt")]
        cols.append("attempts")
        parts = [new_rows().select(*cols)] if n_posts_new > 0 else []
        if frontier_prev is not None:
            parts.append(frontier_prev.filter(
                (F.col("depth") == depth)
                & F.col("status").isin("retry", "pending")
                & (F.col("attempts") < cfg.max_attempts)
            ).select(*cols))
        return reduce(DataFrame.unionByName, parts) if parts else None

    def _gated(cand: DataFrame) -> DataFrame:
        """URL identity + robots gate of a depth-1/depth-2 candidate set."""
        cand = _with_url_identity(cand, cfg.n_salts)
        return FR.robots_gate(cand, robots) if robots is not None else cand

    def _seen_gate(cand: DataFrame) -> DataFrame:
        """Drop candidates already in the previous rounds' seen set: the
        index front-filter with an exact confirm of its suspects, or the
        exact anti-join alone when the round keeps no index."""
        if seen_blobs is None:
            return SE.filter_unseen(cand, seen_prev)
        return seen_idx.filter_unseen(cand, seen_prev, seen_blobs)

    def _text_schedule(cand: DataFrame) -> tuple:
        """P2 politeness split of a gated candidate set.  Salted two-phase
        rank: the depth-1 frontier is the whole round's post list, ~all on
        one host — the plain window would single-task it.  The cached
        schedule feeds the fetch/scan (and, in scan_extract mode, the
        sizing count + distributed blob build)."""
        sched, unsched = FR.politeness_split(
            cand.transform(_cached),
            cfg.text_budget_per_host or cfg.budget_per_host,
            host_budgets=text_budgets, n_salts=cfg.n_salts,
        )
        return sched.transform(_cached), unsched

    def _retry_rows(
        fetched: DataFrame, ok, unscheduled: DataFrame, keys: list
    ) -> DataFrame:
        """Frontier rows of one depth: failures get attempts+1 (retry→failed
        at budget), over-politeness-budget rows stay pending."""
        fails = fetched.filter(~ok).select(
            *keys, (F.col("attempts") + 1).alias("attempts")
        ).withColumn(
            "status",
            F.when(F.col("attempts") >= cfg.max_attempts, F.lit("failed"))
            .otherwise(F.lit("retry")),
        )
        pend = unscheduled.select(*keys, "attempts").withColumn(
            "status", F.lit("pending")
        )
        return fails.unionByName(pend)

    def _run_depth1() -> dict:
        """Depth-1 text pipeline (gates → politeness → fetch → extract).
        Runs as its own driver thread so its Spark jobs overlap the
        independent depth-2 comment pipeline (optimization guide §2.6 —
        actions are only sequential because the driver calls them
        sequentially); all outputs, its elapsed time included, return via
        the dict — the only shared write is ``_cached``'s list append."""
        t_d1 = time.time()
        d1_cand = _candidates(1, d1_keys, lambda: (
            posts_new.groupBy("url")
            .agg(
                F.min("host_rank").alias("host_rank"),
                F.min("type_rank").alias("type_rank"),
                F.min("page").alias("page"),
                F.min("item_seq").alias("item_seq"),
            )
            .withColumn("attempts", F.lit(0))
        ))
        if d1_cand is None:
            return {}
        out: dict = {}
        cand = _gated(d1_cand)
        # previously extracted URLs are never refetched
        cand = _seen_gate(cand)
        scheduled, unscheduled = _text_schedule(cand)
        if text_mode == "scan_extract":
            from .fetch import scan_extract

            fe = scan_extract(pages, scheduled, extract_text_udf)
            fetched_posts = fe.select(
                "url", "url_hash", "host", "salt",
                F.coalesce(F.col("partition_id"), F.lit(-1)).alias("partition_id"),
                "attempts", "host_rank", "type_rank", "page", "item_seq",
                F.col("bytes"),
                F.col("e.text").alias("full_text"),
                F.col("e.post_time").alias("full_text_time"),
                # a scheduled url absent from pages never left the scan:
                # null struct ⇒ fetch miss, same as the join path's null html
                F.coalesce(F.col("e.status"), F.lit("no_html")).alias("extract_status"),
            ).transform(_cached)
        else:
            fetched_posts = (
                _fetch_stage(scheduled, None)
                .withColumn("e", extract_text_udf(F.col("url"), F.col("html")))
                .select(
                    "url", "url_hash", "host", "salt", "partition_id", "attempts",
                    "host_rank", "type_rank", "page", "item_seq",
                    F.length(F.col("html")).cast("long").alias("bytes"),
                    F.col("e.text").alias("full_text"),
                    F.col("e.post_time").alias("full_text_time"),
                    F.col("e.status").alias("extract_status"),
                )
                .transform(_cached)
            )
        ok = F.col("extract_status").isin("ok", "fund")
        out["lineage"] = _fetch_log(
            fetched_posts, "text_fetch", ok.cast("long"), F.col("bytes")
        )
        text_ok = fetched_posts.filter(ok).select(
            "url", "full_text", "full_text_time"
        )
        out["text_ok"] = text_ok
        # ONE aggregate job yields the fetch count, the mean html size that
        # drives next round's auto mode selection, and the mean extracted-
        # text size that sizes this round's text-merge build (avg skips the
        # null text of failed fetches)
        stat = fetched_posts.agg(
            F.count("*").alias("n"),
            F.avg("bytes").alias("mb"),
            F.avg(F.octet_length("full_text")).alias("mt"),
        ).head(1)[0]
        out["n_text_fetched"] = int(stat["n"])
        out["mean_text_bytes"] = (
            round(float(stat["mb"]), 1)
            if out["n_text_fetched"] > 0 and stat["mb"] is not None
            else None
        )
        out["mean_extracted_bytes"] = stat["mt"]
        out["elapsed_s"] = round(time.time() - t_d1, 3)
        out["seen_urls"] = text_ok.select("url")
        out["frontier_rows"] = _retry_rows(
            fetched_posts, ok, unscheduled, d1_keys
        )
        return out

    # ---- depth-2: paginated comments (engine-defined contract) ---------------
    # Reference analog: the 3-stage pipeline's missing stage 3
    # (archive/main_controller.py:18 imports an absent module); pagination
    # generalizes X3, reply times are year-less → X9 inference in-pipeline.
    from ..schema import COMMENTS

    def _run_depth2() -> dict:
        """Depth-2 comment pipeline — the concurrent twin of _run_depth1
        (same thread/isolation contract: outputs via the dict only)."""
        if cfg.max_depth < 2:
            return {}
        t_d2 = time.time()
        out: dict = {"comments_prev": store.load(spark, "comments")}
        comments_prev = out["comments_prev"]
        d2_cand = _candidates(2, d2_keys, lambda: (
            posts_new.filter(F.col("comment_count") > 0)
            .select(
                "stock_code", "content_type",
                F.col("url_id").alias("post_url_id"),
                "comment_count", "host_rank", "type_rank", "item_seq",
            )
            .withColumn("n_cpages", U.comment_total_pages(F.col("comment_count")))
            .withColumn("page", F.explode(F.sequence(F.lit(1), F.col("n_cpages"))))
            .withColumn(
                "url",
                U.comment_page_url(
                    F.col("stock_code"), F.col("post_url_id"), F.col("page")
                ),
            )
            .withColumn("attempts", F.lit(0))
        ))
        if d2_cand is None:
            return out
        d2_cand = _gated(d2_cand)
        if seen_prev is not None:
            d2_cand = SE.filter_unseen(d2_cand, seen_prev)
        c_sched, c_unsched = _text_schedule(d2_cand)

        from ..functions.extract import parse_reply_page_udf

        # same size-aware pick as the list waves, gated on the comment-page
        # total already computed in the posts-project aggregate (no extra
        # driver job).  The estimate covers this round's NEW comment pages;
        # frontier carry rows (bounded by the retry budget) can push a
        # borderline batch slightly over the cap, which only costs a
        # somewhat-large broadcast — never correctness.
        fetched_c = (
            _fetch_stage(c_sched, _bounded_bc(n_comment_pages_est))
            .withColumn("p", parse_reply_page_udf(F.col("html")))
            .select(
                *d2_keys, "attempts", "partition_id",
                F.length(F.col("html")).cast("long").alias("bytes"),
                F.col("p.items").alias("items"),
                (F.col("html").isNotNull() & (F.col("p.status") == "ok")).alias("ok"),
            )
            .transform(_cached)
        )
        out["n_comment_fetched"] = fetched_c.count()
        out["elapsed_s"] = round(time.time() - t_d2, 3)
        out["lineage"] = _fetch_log(
            fetched_c, "comment_fetch",
            F.size(F.coalesce(F.col("items"), F.array())), F.col("bytes"),
        ).localCheckpoint(eager=True)
        out["seen_urls"] = fetched_c.filter(F.col("ok")).select("url")

        replies_new = (
            fetched_c.filter(F.col("ok"))
            .select(
                "stock_code", "content_type", "post_url_id", "page",
                F.explode(F.coalesce(F.col("items"), F.array())).alias("r"),
            )
            .select(
                "stock_code", "content_type", "post_url_id", "page",
                F.col("r.reply_id").alias("reply_id"),
                F.col("r.reply_user").alias("reply_user"),
                F.col("r.reply_text").alias("reply_text"),
                F.col("r.reply_time").alias("reply_time_raw"),
                F.col("r.item_seq").alias("item_seq"),
            )
            .withColumn("_is_new", F.lit(True))
        )
        # X9 year inference per post over (page, item_seq); prior rounds'
        # replies FOR THE TOUCHED POSTS ONLY are included so the window
        # state is complete when a retried page lands later than its
        # siblings.  The window partitions by the post key, so a post
        # with no new reply this round contributes nothing to inference —
        # semi-joining comments_prev down to this round's touched posts
        # keeps the union O(delta × pages-per-post) instead of unioning
        # the whole comment corpus every round (r4 verdict item 1).  The
        # touched-key set is bounded by the round's fetch budget →
        # broadcast; the semi-join is a shuffle-free pruned scan.
        from ..operators.year_infer import infer_year

        prev_touched = None
        if comments_prev is not None:
            touched = F.broadcast(
                replies_new.select(
                    "stock_code", "content_type", "post_url_id"
                ).distinct()
            )
            prev_touched = comments_prev.join(
                touched,
                on=["stock_code", "content_type", "post_url_id"],
                how="left_semi",
            ).transform(_cached)  # two consumers: window union + anti-join
            prev_raw = prev_touched.select(
                "stock_code", "content_type", "post_url_id", "page",
                "reply_id", "reply_user", "reply_text", "reply_time_raw",
                "item_seq",
            ).withColumn("_is_new", F.lit(False))
            all_rep = replies_new.unionByName(prev_raw)
        else:
            all_rep = replies_new
        inferred = infer_year(
            all_rep,
            raw_col="reply_time_raw",
            partition_cols=["stock_code", "content_type", "post_url_id"],
            order_cols=["page", "item_seq"],
            start_year=INFERENCE_START_YEAR,
            out_col="reply_time",
        )
        new_comments = (
            inferred.filter(F.col("_is_new"))
            .drop("_is_new")
            .withColumn("round", F.lit(round_id))
            .select(*[f.name for f in COMMENTS.fields])
        )
        if prev_touched is not None:
            # exactly-once per reply_id: stored replies of the touched
            # posts are the only possible collisions (new_comments keys
            # ⊆ touched), so the pruned frame suffices here too
            new_comments = new_comments.join(
                prev_touched.select(
                    "stock_code", "content_type", "post_url_id", "reply_id"
                ),
                on=["stock_code", "content_type", "post_url_id", "reply_id"],
                how="left_anti",
            )
        out["new_comments"] = new_comments

        out["frontier_rows"] = _retry_rows(
            fetched_c, F.col("ok"), c_unsched, d2_keys
        )
        return out

    # depth-1 and depth-2 are INDEPENDENT pipelines (both derive only from
    # posts_new + the previous frontier/seen state); they run as two
    # concurrent driver threads so one pipeline's straggler tail back-fills
    # the other's idle cores (guide §2.6 — Spark happily runs several jobs
    # at once; actions are only sequential because the driver calls them
    # sequentially).  Their phase walls are per-pipeline elapsed times, so
    # 'text_fetch_extract' + 'comment_fetch' can sum to more than the round
    # wall when overlapped.
    d1, d2 = _run_concurrent(spark, [_run_depth1, _run_depth2])
    phase_t["_last"] = time.time()
    for phase, res in (("text_fetch_extract", d1), ("comment_fetch", d2)):
        if "elapsed_s" in res:
            phase_t[phase] = res["elapsed_s"]
        if "lineage" in res:
            lineage_frames.append(res["lineage"])
    text_ok = d1.get("text_ok")
    n_text_fetched = d1.get("n_text_fetched", 0)
    mean_text_bytes = d1.get("mean_text_bytes")
    comments_prev = d2.get("comments_prev")
    new_comments_out = d2.get("new_comments")

    # ---- assemble round deltas (append-only commit) ---------------------------
    # Each table commits ONLY this round's new rows; SnapshotStore accumulates
    # delta paths and unions them at load.  Commit cost is O(round delta) —
    # never O(corpus), the difference between a 0.1% round rewriting 0.1% and
    # rewriting 100% at a 10^10-URL frontier.
    from ..schema import POSTS

    posts_cols = [f.name for f in POSTS.fields]
    cast_types = {f.name: f.dataType for f in POSTS.fields}
    appends: dict = {}
    patch_tables: dict = {}
    if n_posts_new > 0:
        posts_out = (
            posts_new.withColumn("full_text", F.lit(None).cast("string"))
            .withColumn("full_text_time", F.lit(None).cast("string"))
            .select(*[F.col(c).cast(cast_types[c]).alias(c) for c in posts_cols])
        )
        # same-round MERGE of extracted text (S6 analog: Mongo upsert by href,
        # archive/full_text_CrawlerAsync.py:409-413) — a round-delta ⋈
        # round-delta join, so the committed delta already carries its text
        # and load() needs no patch for the common case
        if text_ok is not None:
            upd = text_ok.select(
                "url",
                F.col("full_text").alias("_new_text"),
                F.col("full_text_time").alias("_new_time"),
            )
            # shuffled-hash over sort-merge for LARGE rounds: both sides are
            # round deltas of the same key set, so the merge gains nothing
            # from sort order and SMJ would sort the text payload rows on
            # 70-byte url keys at every commit (hint lands on the build
            # side; a LEFT join builds right = the text side).  Small rounds
            # skip the hint so Catalyst still broadcasts the tiny text side
            # — a strategy hint would override that choice.  VERY large
            # rounds skip it too: a hash build that does not fit execution
            # memory is a hard OOM, not a spill — SMJ sorts-and-spills
            # safely there (guide §3.1).  See shj_text_merge_hint.
            conf = spark.conf.get
            coalescing = conf("spark.sql.adaptive.enabled") == "true" and (
                conf("spark.sql.adaptive.coalescePartitions.enabled") == "true"
            )
            advisory = spark.sparkContext._jvm.org.apache.spark.network.util \
                .JavaUtils.byteStringAsBytes(
                    conf("spark.sql.adaptive.advisoryPartitionSizeInBytes"))
            if shj_text_merge_hint(
                n_text_fetched, d1.get("mean_extracted_bytes"),
                int(conf("spark.sql.shuffle.partitions")),
                advisory if coalescing else None,
            ):
                upd = upd.hint("shuffle_hash")
            posts_out = (
                posts_out.join(upd, on="url", how="left")
                .withColumn(
                    "full_text", F.coalesce(F.col("full_text"), F.col("_new_text"))
                )
                .withColumn(
                    "full_text_time",
                    F.coalesce(F.col("full_text_time"), F.col("_new_time")),
                )
                .select(*posts_cols)
            )
        appends["posts"] = posts_out
    # cross-round retry fills: texts fetched this round for posts committed in
    # EARLIER rounds (d1 frontier carry) become merge-on-read patch rows;
    # existing text is never overwritten because extracted URLs are seen-gated
    # out of refetch, so ≤1 patch row per url ever exists (the MoR contract)
    if text_ok is not None and frontier_prev is not None:
        fills = text_ok
        if n_posts_new > 0:
            fills = fills.join(posts_new.select("url"), on="url", how="left_anti")
        patch_tables["posts"] = (
            fills.select("url", "full_text", "full_text_time"),
            ["url"],
        )

    if new_comments_out is not None:
        appends["comments"] = new_comments_out
    if comments_prev is None and "comments" not in appends and cfg.max_depth >= 2:
        # first round with no comment pages: commit an empty delta so the
        # table exists with a stable schema
        appends["comments"] = spark.createDataFrame([], COMMENTS)

    if horizons is not None:
        list_seen_pages = FR.prune_beyond_horizon(list_seen_pages, horizons)
    no_urls = spark.createDataFrame([], "url string")
    seen_new = (
        list_seen_pages.select("url")
        .unionByName(d1.get("seen_urls", no_urls))
        .unionByName(d2.get("seen_urls", no_urls))
        .distinct()
        .withColumn("url", U.canonicalize_url(F.col("url")))
        .withColumn("url_hash", U.url_hash(F.col("url")))
        .transform(lambda d: SE.with_shard(d, cfg.n_shards))
        .withColumn("round", F.lit(round_id))
        .select("url_hash", "url", "shard", "round")
    )
    # delta-only append: urls already in the seen set are not re-written.
    # With an index the probe pre-prunes: rows it has never seen (the vast
    # majority of a round's delta) skip the exact anti-join against the
    # FULL seen corpus — only the few-% suspects touch it, exactly like the
    # d1 gate.  O(delta) instead of O(corpus-join) per round.
    seen_new = _seen_gate(seen_new)
    if cfg.use_bloom:
        # seen_new feeds TWO commit jobs (the seen delta write and the index
        # delta merge); materialize once or the whole probe/anti-join
        # plan executes twice inside the commit wall
        seen_new = seen_new.localCheckpoint(eager=True)
    appends["seen"] = seen_new

    if lineage_frames:
        crawl_log = reduce(DataFrame.unionByName, lineage_frames).withColumn(
            "wall_ms", F.lit(int((time.time() - t0) * 1000))
        ).select(
            "round", "stage", "partition_id", "host", "fetched", "new_urls",
            "bytes", "wall_ms",
        )
    else:
        from ..schema import CRAWL_LOG

        crawl_log = spark.createDataFrame([], CRAWL_LOG)

    # frontier final state: depth-0 list pages (this round) + depth-1 retry/
    # pending/failed rows (cross-round state)
    frontier_out = list_frontier.select(
        "url", "url_hash", "host", "salt",
        F.lit(0).alias("depth"), "stock_code", "content_type", "page",
        F.lit(None).cast("string").alias("post_url_id"),
        "host_rank", "type_rank", "item_seq",
        F.lit("fetched").alias("status"), F.lit(1).alias("attempts"),
        F.lit(round_id).alias("round"),
        F.col("expected_count").cast("long").alias("expected_count"),
    )
    for depth, rows in ((1, d1.get("frontier_rows")), (2, d2.get("frontier_rows"))):
        if rows is None:
            continue

        def _opt(c: str):
            # depth-1 rows carry no list/comment coordinates
            return c if c in rows.columns else F.lit(None).cast("string").alias(c)

        frontier_out = frontier_out.unionByName(rows.select(
            "url", "url_hash", "host", "salt",
            F.lit(depth).alias("depth"), _opt("stock_code"), _opt("content_type"),
            F.col("page").cast("int").alias("page"),
            _opt("post_url_id"),
            F.col("host_rank").cast("long").alias("host_rank"),
            F.col("type_rank").cast("int").alias("type_rank"),
            F.col("item_seq").cast("int").alias("item_seq"),
            "status",
            F.col("attempts").cast("int").alias("attempts"),
            F.lit(round_id).alias("round"),
            F.lit(None).cast("long").alias("expected_count"),
        ))
    # Terminally-failed rows leave the per-round snapshot for an APPEND-ONLY
    # delta table (round-3 verdict What's-wrong #2): the frontier snapshot is
    # rewritten whole each commit, so carrying every all-time failure kept
    # the rewrite O(active + all-time-failed) — at a realistic failure rate
    # on a 10^10-URL crawl the "small cross-round state" stops being small.
    # Failed rows are never retried (the carry filters select retry/pending
    # only), so splitting them out changes no crawl behavior; they stay
    # queryable via store.load("frontier_failed").
    frontier_cols = [f.name for f in frontier_out.schema.fields]
    failed_new = frontier_out.filter(F.col("status") == "failed")
    frontier_out = frontier_out.filter(F.col("status") != "failed")
    if frontier_prev is not None:
        # one-time migration of a legacy store: failed rows still in the
        # snapshot move to the append table this round and are dropped from
        # the snapshot — next round's frontier_prev carries none, so this
        # appends nothing thereafter (no duplicates)
        legacy_failed = frontier_prev.filter(
            (F.col("depth") >= 1)
            & (
                (F.col("status") == "failed")
                | ((F.col("status") == "retry") & (F.col("attempts") >= cfg.max_attempts))
            )
        ).select(*frontier_cols)
        failed_new = failed_new.unionByName(legacy_failed)
    appends["frontier_failed"] = failed_new

    appends["crawl_log"] = crawl_log

    snapshots = {"frontier": frontier_out}
    commit_meta: dict = {}
    if mean_text_bytes is not None:
        commit_meta["mean_text_bytes"] = mean_text_bytes
    if n_posts_new > 0:
        commit_meta["posts_rows"] = prev_count + n_posts_new
    elif "posts_rows" not in store_meta and posts_prev is None:
        commit_meta["posts_rows"] = 0

    # each index merges this round's delta keys into its base (stored or
    # bootstrap blobs) and commits as a snapshot with geometry + covered
    # round.  Committed every index round so the freshness check holds; a
    # round without new post keys carries the posts-key blobs forward.  At
    # sandbox sizing a snapshot is ~15 MB; a 10^4-shard deployment would
    # delta-commit only touched shards — same merge operator.
    for idx, base, delta, corpus in (
        (seen_idx, seen_blobs, seen_new, seen_prev),
        (posts_idx, posts_blobs,
         _pkey_hash(posts_new.select(*POSTS_KEY)) if n_posts_new > 0 else None,
         pkeys_prev),
    ):
        blobs = None if idx is None else idx.merge(base, delta, corpus)
        if blobs is not None:
            snapshots[idx.table] = blobs
            commit_meta[idx.table] = {**idx.geometry, "round": round_id}

    _mark('assemble')
    # frontier (small cross-round state) and the indexes are snapshot
    # tables; everything else commits as an append-only delta
    store.commit(
        round_id,
        snapshots=snapshots,
        appends=appends,
        patches=patch_tables,
        meta=commit_meta,
    )

    _mark('commit')
    for df_ in caches:  # release this round's blocks (commit is durable)
        df_.unpersist()
    phase_t.pop('_last', None)
    wall_s = time.time() - t0
    urls_fetched = (
        list_fetched_rows + n_text_fetched + d2.get("n_comment_fetched", 0)
        + probe_res.count()
    )
    return {
        "round": round_id,
        "waves": waves,
        "posts_new": n_posts_new,
        "urls_fetched": urls_fetched,
        "wall_s": wall_s,
        "phases": phase_t,
        "text_fetch_mode": text_mode,  # the EFFECTIVE depth-1 strategy
        "mean_text_bytes": mean_text_bytes,
        "throughput_urls_per_s": urls_fetched / wall_s if wall_s > 0 else 0.0,
    }
