"""The benchmark's workloads: their input, one iteration, the oracle.

Each workload is a closed loop with one client: ``iterate`` returns only
after the work it started has committed (a crawl round's manifest flip) or
been collected (a dedup pass), and the next iteration starts after that.
``check`` compares one iteration's output with an oracle that shares no
code with the engine; it runs after the timed window.
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

from eastmoneygubacrawler_spark.engine import CrawlConfig, run_crawl
from eastmoneygubacrawler_spark.fixtures.bigcorpus import build_big_corpus
from eastmoneygubacrawler_spark.storage import SnapshotStore

from probes import dir_stats

CRAWL_PHASES = {  # run_crawl's phases key -> metric
    "schedule": "crawl.schedule_s",
    "list_fetch_parse": "crawl.list_fetch_parse_s",
    "horizon_misc": "crawl.horizon_s",
    "posts_project": "crawl.posts_project_s",
    "text_fetch_extract": "crawl.text_fetch_extract_s",
    "assemble": "crawl.assemble_s",
    "commit": "crawl.commit_s",
}


def _fingerprint(obj) -> str:
    blob = json.dumps(obj, sort_keys=True, default=str)
    return hashlib.sha256(blob.encode()).hexdigest()[:16]


class BulkCrawl:
    """``bulk_d1``: the executor-rendered big corpus crawled at depth 1
    into a fresh store every round.  ``build_big_corpus`` takes no seed, so
    this input is the same for every ``--seed``."""

    name = "bulk_d1"
    items = "urls"  # what the items per second on the "#" line count
    warmups = 1  # build_big_corpus's own Spark jobs warm the session too
    n_stocks, items_per_type = 3, 300

    def __init__(self, spark, work: str, seed: int, tracer) -> None:
        self.spark, self.work, self.tracer = spark, work, tracer
        self.dir = os.path.join(work, "bulk")
        self.cfg = CrawlConfig(n_shards=8, fetch_partitions=8, max_depth=1)

    def generate(self) -> str:
        self.info = build_big_corpus(self.spark, self.n_stocks, self.items_per_type, self.dir)
        pages = pq.read_table(os.path.join(self.dir, "pages.parquet"),
                              columns=["url", "html", "text"]).sort_by("url")
        self.texts = {u: t for u, t in zip(pages["url"].to_pylist(), pages["text"].to_pylist())}
        digest = hashlib.sha256()
        for u, h, t in zip(*(pages[c].to_pylist() for c in ("url", "html", "text"))):
            digest.update(f"{u}\0{t}\0".encode() + h)
        return digest.hexdigest()[:16]

    def load(self) -> None:
        self.frames = [
            self.spark.read.parquet(os.path.join(self.dir, f"{t}.parquet")).cache()
            for t in ("pages", "seeds", "robots")
        ]
        for df in self.frames:
            df.count()
        self.frames.append(None)  # no politeness table

    def iterate(self, it: str, store: SnapshotStore | None = None) -> dict:
        """One round, seeds in to manifest flipped: into a fresh store, or
        into ``store`` when given (a recrawl)."""
        fresh = store is None
        if fresh:
            store = SnapshotStore(os.path.join(self.work, "stores", it))
            store.commit = self.tracer.wrap("store.commit", store.commit)
        before = dir_stats(store.root)
        with self.tracer.span("run_crawl", it) as sp:
            m = run_crawl(self.spark, store, *self.frames, self.cfg)
        after = dir_stats(store.root)
        return {
            "it": it, "span": sp, "m": m, "store": store, "fresh": fresh,
            "items": m["urls_fetched"],
            "store_bytes": after[0],
            "bytes_written": after[0] - before[0],
            "files_written": after[1] - before[1],
            "manifest_bytes": os.path.getsize(os.path.join(store.root, "_current.json")),
            "index_bytes": sum(
                dir_stats(store.root, f"data/{t}")[0] for t in ("seen_bloom", "seen_cuckoo")
            ),
        }

    def extras(self, rec: dict) -> list[dict]:
        """Traced runs only: recrawl the store ``rec`` committed (seen and
        frontier probes that find almost nothing new), then run store
        maintenance on it.  Both must leave its content unchanged."""
        again = self.iterate(rec["it"] + "-recrawl", rec["store"])
        again["base"] = rec
        with self.tracer.span("store.maintain", again["it"]) as sp:
            rec["store"].maintain(self.spark)
        again["maintain_span"] = sp
        return [again]

    def layer_metrics(self, rec: dict, extras: list[dict], tracer) -> dict:
        m, span = rec["m"], rec["span"]
        commit = next(s for s in tracer.spans if s["parent"] == span["id"])
        out = {name: m["phases"].get(phase, 0.0) for phase, name in CRAWL_PHASES.items()}
        out |= {
            "crawl.self_s": tracer.self_time(span),
            "crawl.waves": m["waves"],
            "crawl.urls_fetched": m["urls_fetched"],
            "crawl.posts_new": m["posts_new"],
            "seen.rows": rec["seen_rows"],
            "seen.index_bytes": rec["index_bytes"],
            "fetch.new_post_frac": m["posts_new"] / m["urls_fetched"],
            "store.commit_s": commit["end"] - commit["start"],
            "store.bytes_written": rec["bytes_written"],
            "store.files_written": rec["files_written"],
            "store.manifest_bytes": rec["manifest_bytes"],
            "store.bytes_per_post": rec["store_bytes"] / rec["posts_in_store"],
        }
        for again in extras:
            ms = again["maintain_span"]
            out |= {
                "frontier.refetch_frac": again["m"]["urls_fetched"] / m["urls_fetched"],
                "recrawl.round_s": again["span"]["end"] - again["span"]["start"],
                "store.maintain_s": ms["end"] - ms["start"],
            }
        return out

    # -------------------------------------------------------------- oracle

    def check(self, rec: dict) -> list[str]:
        sp, store = self.spark, rec["store"]
        posts = store.load(sp, "posts").toArrow().to_pylist()
        seen = set(store.load(sp, "seen").select("url").toArrow()["url"].to_pylist())
        rec["posts_in_store"], rec["seen_rows"] = len(posts), len(seen)
        if not rec["fresh"]:
            return self._check_recrawl(rec, posts, seen)
        rec["state"] = (posts, seen)
        errs, n = [], self.info["expected_posts"]
        if rec["m"]["posts_new"] != n or len(posts) != n:
            errs.append(f"posts_new {rec['m']['posts_new']}, stored {len(posts)}, expected {n}")
        if sorted(p["crawl_seq"] for p in posts) != list(range(1, len(posts) + 1)):
            errs.append("crawl_seq is not dense 1..n")
        wrong = [p["url"] for p in posts if p["full_text"] != self.texts.get(p["url"])
                 or p["full_text"] is None]
        if wrong:
            errs.append(f"full_text not byte-identical to pages.text for {len(wrong)} posts,"
                        f" e.g. {wrong[0]}")
        if seen != set(self.texts):
            errs.append(f"seen set differs from the corpus urls: {len(seen ^ set(self.texts))}")
        return errs

    def _check_recrawl(self, rec: dict, posts: list, seen: set) -> list[str]:
        base_posts, base_seen = rec["base"]["state"]
        errs = []
        if rec["m"]["posts_new"] != 0:
            errs.append(f"recrawl committed {rec['m']['posts_new']} new posts")

        def rows(xs):
            return sorted(json.dumps(x, sort_keys=True, default=str) for x in xs)

        if rows(posts) != rows(base_posts):
            errs.append("recrawl + maintain changed the posts table")
        if seen != base_seen:
            errs.append("recrawl + maintain changed the seen set")
        return errs


# ---------------------------------------------------------------- dedup_docs

_VOCAB = (
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window a spark part group big "
    "sort query fast the"
).split()
_LANGS = ["en", "en", "en", "zh", "es", "fr", "de"]

# (name, entry query).  The entry queries are the thin wrappers
# __spark_entry__ puts around the operators.dedup functions, with the
# parameters their DuckDB oracles (oracle_sql() under the same key) were
# written for.  A timed pass runs the four leaf operators; the composed
# clean pipeline runs only in traced runs (see DedupDocs.extras).
DEDUP_OPS = [
    ("exact", "dedup_exact"),
    ("minhash_lsh", "dedup_minhash_lsh"),
    ("simhash", "dedup_simhash"),
    ("winnow", "doc_winnow_real"),
]
CLEAN_PIPELINE = ("clean_pipeline", "corpus_clean_pipeline_lsh")


def make_documents(seed: int, n: int) -> list[dict]:
    """Documents shaped like the synthetic ``documents`` table the
    ``__spark_entry__`` queries read: 10-100 words over a 30-word
    vocabulary, about 5 % near-duplicates (an earlier text plus one word)
    and 1 % exact copies, so LSH pairs and components are never empty."""
    rng = random.Random(seed)
    docs: list[dict] = []
    for i in range(n):
        r = rng.random()
        if i > 20 and r < 0.05:
            text = docs[rng.randrange(len(docs))]["text"] + " dup"
        elif i > 20 and r < 0.06:
            text = docs[rng.randrange(len(docs))]["text"]
        else:
            text = " ".join(rng.choices(_VOCAB, k=rng.randint(10, 100)))
        docs.append(
            {"doc_id": i, "text": text, "lang": rng.choice(_LANGS),
             "source": f"src{i % 20}", "n_chars": len(text)}
        )
    return docs


def _norm_cell(v) -> str:
    if isinstance(v, float):
        return "nan" if math.isnan(v) else f"{v:.6f}"
    return str(v)


def normalize(rows, cols) -> list[tuple]:
    """Rows with columns in name order and cells as text, sorted — the
    comparison the repository's oracle-parity tests make."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(_norm_cell(row[i]) for i in order) for row in rows)


class DedupDocs:
    """``dedup_docs``: one pass of the four leaf dedup operators over a
    document table generated from the seed."""

    name = "dedup_docs"
    items = "docs"
    warmups = 2  # the second pass still runs ~15 % slower than later ones
    n_docs = 300

    def __init__(self, spark, work: str, seed: int, tracer) -> None:
        import __spark_entry__ as entry

        self.spark, self.seed, self.tracer, self.entry = spark, seed, tracer, entry
        self.dir = os.path.join(work, "docs")
        self.queries = entry.queries()
        self._oracle: dict = {}

    def generate(self) -> str:
        self.docs = make_documents(self.seed, self.n_docs)
        return _fingerprint(self.docs)

    def load(self) -> None:
        os.makedirs(self.dir, exist_ok=True)
        pq.write_table(pa.Table.from_pylist(self.docs), os.path.join(self.dir, "documents.parquet"))

    def _run(self, it: str, ops: list) -> dict:
        out = {}
        with self.tracer.span("dedup.pass", it) as sp:
            for op, query in ops:
                with self.tracer.span(f"dedup.{op}", it):
                    df = self.queries[query](self.spark, self.dir)
                    out[op] = (df.columns, df.collect())
        return {"it": it, "span": sp, "out": out, "items": self.n_docs}

    def iterate(self, it: str) -> dict:
        return self._run(it, DEDUP_OPS)

    def extras(self, rec: dict) -> list[dict]:
        """Traced runs only: the composed LSH clean pipeline (pairs, then
        connected components, then one representative per component), once
        to warm it up and once measured."""
        return [self._run(f"{rec['it']}-clean{i}", [CLEAN_PIPELINE]) for i in (0, 1)]

    def layer_metrics(self, rec: dict, extras: list[dict], tracer) -> dict:
        out = {}
        for r in [rec] + extras[-1:]:
            for s in tracer.spans:
                if s["parent"] == r["span"]["id"]:
                    out[f"{s['name']}_s"] = s["end"] - s["start"]
        out["dedup.lsh_pairs"] = len(rec["out"]["minhash_lsh"][1])
        if extras:
            out["dedup.components"] = len(extras[-1]["out"]["clean_pipeline"][1])
        return out

    def _expected(self, op: str) -> tuple:
        """The DuckDB oracle from ``oracle_sql()`` for one operator.

        ``oracle_sql()`` also materializes the crawl, media and ANN oracle
        files on first use; those entries are not evaluated here, so their
        builders are swapped for placeholders while the SQL text is read."""
        import duckdb

        if op in self._oracle:
            return self._oracle[op]
        e = self.entry
        saved = (e._ensure_crawl_sim_oracle, e._ensure_media_oracle, e._ensure_ann_oracle)
        e._ensure_crawl_sim_oracle = e._ensure_media_oracle = lambda: "unused"
        e._ensure_ann_oracle = lambda: {"lsh": "unused", "ivf": "unused"}
        try:
            sql = e.oracle_sql()[dict(DEDUP_OPS + [CLEAN_PIPELINE])[op]]
        finally:
            e._ensure_crawl_sim_oracle, e._ensure_media_oracle, e._ensure_ann_oracle = saved
        with duckdb.connect() as con:
            con.execute(
                "CREATE VIEW documents AS SELECT * FROM read_parquet("
                f"'{os.path.join(self.dir, 'documents.parquet')}')"
            )
            res = con.sql(sql)
            self._oracle[op] = (sorted(res.columns), normalize(res.fetchall(), res.columns))
        return self._oracle[op]

    def check(self, rec: dict) -> list[str]:
        errs = []
        for op, (cols, rows) in rec["out"].items():
            exp_cols, exp_rows = self._expected(op)
            if sorted(cols) != exp_cols:
                errs.append(f"{op}: columns {sorted(cols)} != {exp_cols}")
            elif normalize(rows, cols) != exp_rows:
                errs.append(f"{op}: {len(rows)} rows differ from the oracle's {len(exp_rows)}")
        return errs


WORKLOADS = {w.name: w for w in (BulkCrawl, DedupDocs)}
