"""End-to-end crawl vs the pure-Python reference-semantics simulator.

Asserts the three north-rule invariants on the fixture corpus:
1. final posts set == simulator's (every projected field),
2. canonical crawl ordering == simulator's insertion order (crawl_seq),
3. URL-seen set equality,
4. byte-identical extracted full_text per url,
plus recrawl incrementality (round 2 adds nothing, J4 early-stops).
"""

import pytest
from pyspark.sql import functions as F

from eastmoneygubacrawler_spark.engine import CrawlConfig, run_crawl
from eastmoneygubacrawler_spark.fixtures import simulate_reference_crawl
from eastmoneygubacrawler_spark.storage import SnapshotStore


@pytest.fixture(scope="module")
def crawl_result(spark, corpus, corpus_dir, tmp_path_factory):
    store = SnapshotStore(str(tmp_path_factory.mktemp("store")))
    pages = spark.read.parquet(f"{corpus_dir}/pages.parquet")
    seeds = spark.read.parquet(f"{corpus_dir}/seeds.parquet")
    robots = spark.read.parquet(f"{corpus_dir}/robots.parquet")
    politeness = spark.read.parquet(f"{corpus_dir}/politeness.parquet")
    cfg = CrawlConfig(n_shards=16, fetch_partitions=8)
    metrics = run_crawl(spark, store, pages, seeds, robots, politeness, cfg)
    golden = simulate_reference_crawl(corpus)
    return {
        "store": store, "metrics": metrics, "golden": golden,
        "pages": pages, "seeds": seeds, "robots": robots,
        "politeness": politeness, "cfg": cfg,
    }


def test_posts_set_matches_simulator(spark, crawl_result):
    got = {
        (r.stock_code, r.content_type, r.url_id): r
        for r in crawl_result["store"].load(spark, "posts").collect()
    }
    exp = {
        (p["stock_code"], p["content_type"], p["url_id"]): p
        for p in crawl_result["golden"]["posts"]
    }
    assert set(got) == set(exp)
    for k, p in exp.items():
        r = got[k]
        assert r.title == p["title"], k
        assert r.url == p["url"], k
        assert r.read_count == p["read_count"], k
        assert r.comment_count == p["comment_count"], k
        assert r.publish_time == p["publish_time"], k
        assert r.author == p["author"], k
        assert r.grade == p["grade"], k
        assert r.institution == p["institution"], k
        assert r.notice_type == p["notice_type"], k
        assert r.summary == p["summary"], k
        assert r.source == "official", k


def test_crawl_ordering_matches_simulator(spark, crawl_result):
    got = [
        (r.stock_code, r.content_type, r.url_id)
        for r in crawl_result["store"]
        .load(spark, "posts")
        .orderBy("crawl_seq")
        .collect()
    ]
    exp = [
        (p["stock_code"], p["content_type"], p["url_id"])
        for p in crawl_result["golden"]["posts"]
    ]
    assert got == exp
    seqs = [
        r.crawl_seq
        for r in crawl_result["store"].load(spark, "posts").orderBy("crawl_seq").collect()
    ]
    assert seqs == list(range(1, len(exp) + 1))


def test_seen_set_matches_simulator(spark, crawl_result):
    got = {r.url for r in crawl_result["store"].load(spark, "seen").collect()}
    assert got == crawl_result["golden"]["seen_urls"]


def test_full_text_byte_identical(spark, crawl_result):
    """Engine full_text must equal the pages-table ground truth per url."""
    posts = crawl_result["store"].load(spark, "posts")
    pages = crawl_result["pages"]
    joined = posts.filter(F.col("full_text").isNotNull()).join(
        pages.select("url", F.col("text").alias("gt")), on="url", how="left"
    )
    bad = joined.filter(
        F.col("gt").isNull() | (F.col("full_text") != F.col("gt"))
    ).count()
    assert bad == 0
    # and the simulator's view agrees (incl. which rows have no text at all)
    exp = {p["url"]: p["full_text"] for p in crawl_result["golden"]["posts"]}
    got = {r.url: r.full_text for r in posts.collect()}
    assert got == exp


def test_full_text_time_matches(spark, crawl_result):
    exp = {p["url"]: p["full_text_time"] for p in crawl_result["golden"]["posts"]}
    got = {r.url: r.full_text_time for r in crawl_result["store"].load(spark, "posts").collect()}
    assert got == exp


def test_robots_denied_never_fetched(spark, crawl_result, corpus):
    denied = corpus["robots_denied"]
    assert denied  # fixture must exercise robots
    seen = {r.url for r in crawl_result["store"].load(spark, "seen").collect()}
    assert not (seen & denied)
    posts = crawl_result["store"].load(spark, "posts")
    got = {r.url: r.full_text for r in posts.collect() if r.url in denied}
    assert got and all(v is None for v in got.values())


def test_horizon_pruned_pages_not_seen(spark, crawl_result, corpus):
    """Pages beyond the J4 early-stop (stock 0 news pages 5-6) are never consumed."""
    from eastmoneygubacrawler_spark.fixtures.generator import list_url

    stock0 = sorted(corpus["stocks"])[0]
    seen = {r.url for r in crawl_result["store"].load(spark, "seen").collect()}
    assert list_url(stock0, "news", 4) in seen
    assert list_url(stock0, "news", 5) not in seen
    assert list_url(stock0, "news", 6) not in seen


def test_recrawl_round_is_incremental(spark, crawl_result):
    """Round 2 over unchanged site: early-stops everywhere, adds 0 posts."""
    c = crawl_result
    n_before = c["store"].load(spark, "posts").count()
    m2 = run_crawl(
        spark, c["store"], c["pages"], c["seeds"], c["robots"], c["politeness"], c["cfg"]
    )
    assert m2["round"] == 1
    assert m2["posts_new"] == 0
    posts_after = c["store"].load(spark, "posts")
    assert posts_after.count() == n_before
    golden2 = simulate_reference_crawl(
        c["golden"] and _corpus_of(c), preexisting_keys=_keys_of(c["golden"])
    )
    assert golden2["posts"] == []


def _keys_of(golden):
    return {(p["stock_code"], p["content_type"], p["url_id"]) for p in golden["posts"]}


def _corpus_of(c):
    # corpus fixture is session-scoped; re-derive via the module fixture chain
    from eastmoneygubacrawler_spark.fixtures import FixtureConfig, build_corpus

    return build_corpus(FixtureConfig())


def test_shj_text_merge_identical(spark, crawl_result, tmp_path_factory, monkeypatch):
    """The large-round shuffled-hash text-merge path (normally gated on
    >100k fetched texts) commits bit-identical posts to the default
    broadcast/SMJ path — forced on here via SHJ_TEXT_MERGE_THRESHOLD=0."""
    from eastmoneygubacrawler_spark.engine import crawl as C

    c = crawl_result
    store2 = SnapshotStore(str(tmp_path_factory.mktemp("store_shj")))
    monkeypatch.setattr(C, "SHJ_TEXT_MERGE_THRESHOLD", 0)
    assert C.shj_text_merge_hint(1, 1.0, 8)  # the hint really applies
    m2 = run_crawl(
        spark, store2, c["pages"], c["seeds"], c["robots"], c["politeness"], c["cfg"]
    )
    assert m2["posts_new"] > 0
    ref = c["store"].load(spark, "posts")
    got = store2.load(spark, "posts")
    cols = ref.columns
    assert got.columns == cols
    assert ref.exceptAll(got).isEmpty() and got.exceptAll(ref).isEmpty()


def test_metrics_and_lineage(spark, crawl_result):
    m = crawl_result["metrics"]
    assert m["posts_new"] > 500
    assert m["urls_fetched"] > 0 and m["throughput_urls_per_s"] > 0
    log = crawl_result["store"].load(spark, "crawl_log")
    stages = {r.stage for r in log.select("stage").distinct().collect()}
    assert {"list_fetch", "text_fetch"} <= stages
    assert log.filter(F.col("fetched") > 0).count() > 0


def test_shj_text_merge_hint_sizes():
    """The commit-time shuffled-hash gate prices the per-partition build
    from the mean extracted-text bytes, floored at the AQE advisory
    partition size, and withholds the hint when nothing was measured."""
    from eastmoneygubacrawler_spark.engine.crawl import shj_text_merge_hint

    mb64 = 64 * 1024 * 1024
    # unmeasured mean: no hint, even for a large round
    assert not shj_text_merge_hint(1_440_000, None, 32, mb64)
    # small round: Catalyst broadcasts the tiny text side
    assert not shj_text_merge_hint(2_700, 2048.0, 8, mb64)
    # bigcorpus round, 1.44M texts at ~2 KB over 32 partitions: ~92 MB builds
    assert shj_text_merge_hint(1_440_000, 2048.0, 32, mb64)
    assert shj_text_merge_hint(1_440_000, 2048.0, 32, None)
    # the r7 8x corpus, 11.5M texts over 32 partitions: ~736 MB builds OOM
    assert not shj_text_merge_hint(11_500_000, 2048.0, 32, mb64)
    # AQE coalescing may merge partitions up to the advisory size, so a
    # small raw estimate does not pass under an over-budget advisory size
    assert shj_text_merge_hint(200_000, 100.0, 200, None)
    assert not shj_text_merge_hint(200_000, 100.0, 200, 8 * mb64)


@pytest.mark.parametrize("field, bad", [
    ("seen_filter", "quotient"),
    ("seen_filter", "Bloom"),
    ("text_fetch_mode", "scan"),
    ("crawl_order", "descending"),
])
def test_config_rejects_unknown_choice(field, bad):
    """A misspelt choice must fail loudly instead of silently running the
    fallback branch (bloom, join, descending order)."""
    with pytest.raises(ValueError, match=field):
        CrawlConfig(**{field: bad})
