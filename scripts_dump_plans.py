"""Regenerate PLANS.md: formatted physical plans of the flagship stages.

Run: python scripts_dump_plans.py   (writes PLANS.md)
"""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F

from eastmoneygubacrawler_spark.engine.fetch import FixtureFetcher
from eastmoneygubacrawler_spark.fixtures import FixtureConfig, build_corpus
from eastmoneygubacrawler_spark.functions.extract import (
    extract_text_udf,
    parse_list_page_udf,
)
from eastmoneygubacrawler_spark.plans.audit import explain_str
from eastmoneygubacrawler_spark.schema import PAGES
from eastmoneygubacrawler_spark.session import get_spark


def main() -> None:
    spark = get_spark("egs-plans", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    corpus = build_corpus(FixtureConfig(n_stocks=2, adversarial=False))
    tmp = "/tmp/egs_plans_pages"
    spark.createDataFrame(corpus["pages"], PAGES).write.mode("overwrite").parquet(tmp)
    pages = spark.read.parquet(tmp)

    sections = []

    # 1. pruned + pushed-down scan
    scan = pages.select("url", "lang").filter(F.col("lang") == "zh")
    sections.append(("Column-pruned, filter-pushed pages scan", explain_str(scan)))

    # 2. broadcast fetch + Arrow-batched list parse (no html shuffle)
    sched = pages.select("url").filter(F.col("url").contains("/list,")).limit(50)
    fetched = FixtureFetcher(pages).fetch(sched).withColumn(
        "p", parse_list_page_udf(F.col("html"), F.lit(None).cast("long"))
    )
    sections.append(("Broadcast fetch join + ArrowEvalPython list parse", explain_str(fetched)))

    # 3. extraction stage
    ext = pages.filter(F.col("text").isNotNull()).select(
        "url", extract_text_udf(F.col("url"), F.col("html")).alias("e")
    )
    sections.append(("Byte-identity text extraction (ArrowEvalPython)", explain_str(ext)))

    # 4. two-phase distributed global rank (no Exchange SinglePartition)
    from eastmoneygubacrawler_spark.operators.order import global_row_number

    ranked = global_row_number(
        pages.select("url", "warc_ts"), ["warc_ts", "url"],
        out_col="rank", n_partitions=8,
    )
    sections.append((
        "Two-phase global rank (operators/order.py) — zero Exchange SinglePartition",
        explain_str(ranked),
    ))

    # 5. LSH embedding near-dup — bucket equi-join candidates, no cross join
    from eastmoneygubacrawler_spark.operators.dedup import embedding_near_dups

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    nd = embedding_near_dups(emb, threshold=0.9)
    sections.append((
        "LSH embedding near-dup — candidates from bucket equi-join "
        "(no CartesianProduct), exact cosine verify on candidates only",
        explain_str(nd),
    ))

    # 6. fused scan-extract: extraction INSIDE the scan stage — the html
    # column feeds ArrowEvalPython directly off the parquet scan (below any
    # Exchange); only the small extract struct crosses the join
    from eastmoneygubacrawler_spark.engine.fetch import scan_extract
    from eastmoneygubacrawler_spark.functions.urls import url_hash

    sched = (
        pages.select("url").limit(200)
        .withColumn("url_hash", url_hash(F.col("url")))
    )
    se = scan_extract(pages, sched, extract_text_udf)
    sections.append((
        "Fused scan-extract (text_fetch_mode=scan_extract) — html consumed "
        "in the scan stage, never shuffled",
        explain_str(se),
    ))

    # 7. winnowing fingerprints — one whole-partition Arrow batch operator
    # (replaced the round-6 staged Catalyst HOF projections, whose lambdas
    # evaluate interpreted; measured ~10x slower than the vectorized pass)
    from eastmoneygubacrawler_spark.operators.dedup import winnow_fingerprints

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    wf = winnow_fingerprints(docs)
    sections.append((
        "Winnowing fingerprints — one MapInArrow pass (vectorized md5 + "
        "numpy sliding-window min), no shuffle before the final distinct",
        explain_str(wf),
    ))

    # 8. equality-delete load path — purged keys anti-joined BROADCAST (the
    # delete union is a purge delta, tiny), sequence condition evaluated in
    # the join, base scan untouched by any exchange
    import tempfile

    from eastmoneygubacrawler_spark.storage import SnapshotStore

    st = SnapshotStore(tempfile.mkdtemp(prefix="egs_plans_store_"))
    st.commit(0, appends={"posts_demo": pages.select("url", "lang")})
    st.commit(
        1,
        deletes={"posts_demo": (pages.select("url").limit(20), ["url"])},
    )
    loaded = st.load(spark, "posts_demo")
    sections.append((
        "Equality-delete load (purge path) — BroadcastHashJoin LeftAnti over "
        "the tiny delete-key union with the sequence predicate; the base scan "
        "sees no exchange",
        explain_str(loaded),
    ))

    # 9. commit text-merge join, large-round shape (engine/crawl.py posts_out):
    # shuffled-hash — both sides are same-key round deltas, so neither side
    # is sorted (SMJ would sort the text payload rows on url keys at every
    # commit); build side = the text update, bounded per shuffle partition
    meta = pages.select("url", "lang", F.lit(None).cast("string").alias("full_text"))
    upd = pages.select(
        "url", F.base64(F.col("html")).alias("_new_text")
    ).hint("shuffle_hash")
    merged = (
        meta.join(upd, on="url", how="left")
        .withColumn("full_text", F.coalesce(F.col("full_text"), F.col("_new_text")))
        .drop("_new_text")
    )
    sections.append((
        "Commit text-merge (large rounds, SHJ_TEXT_MERGE_THRESHOLD exceeded) "
        "— ShuffledHashJoin, zero Sort operators on the text payload",
        explain_str(merged),
    ))

    with open("PLANS.md", "w") as f:
        f.write(
            "# PLANS — flagship physical plans (`.explain(\"formatted\")`)\n\n"
            "Regenerate with `python scripts_dump_plans.py`.  Things to check:\n"
            "ReadSchema carries only requested columns; PushedFilters reaches the\n"
            "scan; the fetch is a BroadcastHashJoin (html never shuffles); all\n"
            "Python is ArrowEvalPython (pandas UDFs), never BatchEvalPython.\n"
        )
        for title, plan in sections:
            f.write(f"\n## {title}\n\n```\n{plan.strip()}\n```\n")
    print("wrote PLANS.md")
    spark.stop()


if __name__ == "__main__":
    main()
