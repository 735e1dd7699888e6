"""Atomic multi-table snapshot store with append-only delta commits
(Iceberg-fallback).

No Iceberg jars are available offline (SURVEY.md §7.3), so this reproduces
Iceberg's snapshot/append/merge-on-read semantics on plain Parquet:

- **append tables** (posts, seen, comments, crawl_log): each round writes ONLY
  that round's new rows to a round-numbered delta directory; the manifest
  accumulates the delta path list and ``load`` unions them.  Commit cost is
  O(round delta), never O(total corpus) — at a 10^10-URL frontier a round that
  adds 0.1% must not rewrite 100%.
- **merge-on-read patches**: an append table can carry patch files (e.g. a
  full-text fill for a post committed in an earlier round, the S6 Mongo-upsert
  analog).  ``load`` left-joins the (tiny) patch union on the patch keys and
  coalesces patched columns over base columns — Iceberg MoR update files.
- **snapshot tables** (frontier): full state replaced each round; ``load``
  reads only the latest path.
- a single manifest JSON is moved into place with ``os.replace`` — one atomic
  pointer flip commits the whole round.  A killed run restarts from the last
  committed manifest: rounds are idempotent, so replaying the interrupted
  round rewrites the same delta dirs and converges to the identical state
  (tests/test_resume.py).
- **compaction**: long delta chains are folded into one base file set
  (``compact``), automatically once a chain exceeds ``auto_compact_after``
  — bounding both manifest size and the per-load union fan-in.

Manifest paths are stored RELATIVE to the store root so a copied/moved store
(checkpoint restore) stays self-contained.

The manifest carries a ``format`` version.  Legacy (format-1) manifests that
stored ``tables[name]`` as a bare path string are migrated on read to the
``{mode: snapshot, paths: [p]}`` shape; a manifest from a NEWER format fails
with an explicit error instead of mis-reading.  ``commit`` rejects mode
conflicts (appending to a snapshot table or snapshotting over an append
chain would silently drop deltas otherwise).  An optional ``meta`` dict
rides the manifest — engine-level bookkeeping (running row counts, bloom
index geometry) that must survive restarts without a table scan.

On a real cluster the same interface maps 1:1 onto Iceberg
(``df.writeTo(...).append()`` / MERGE / snapshot expiry); only this module
changes.

Reference analog: the ``start_code`` resume cursor (core/scheduler.py:206-217)
plus the incremental-recrawl upsert (core/crawler.py:829-859) — strictly
weaker than this (they lose in-flight round state).
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


MANIFEST_FORMAT = 2


class SnapshotStore:
    def __init__(self, root: str, auto_compact_after: int = 64):
        self.root = root
        self.auto_compact_after = auto_compact_after
        os.makedirs(root, exist_ok=True)

    @property
    def _pointer(self) -> str:
        return os.path.join(self.root, "_current.json")

    def manifest(self) -> dict | None:
        try:
            with open(self._pointer) as f:
                m = json.load(f)
        except FileNotFoundError:
            return None
        fmt = m.get("format", 1)
        if fmt > MANIFEST_FORMAT:
            raise RuntimeError(
                f"store at {self.root} uses manifest format {fmt}; this build "
                f"reads up to format {MANIFEST_FORMAT} — refusing to guess"
            )
        if fmt < 2:
            # format-1 migration: snapshot entries were bare path strings
            m["tables"] = {
                name: (
                    ent
                    if isinstance(ent, dict)
                    else {"mode": "snapshot", "paths": [ent]}
                )
                for name, ent in m["tables"].items()
            }
            m["format"] = MANIFEST_FORMAT
        return m

    def meta(self) -> dict:
        """Engine bookkeeping carried on the manifest (row counts, index
        geometry) — survives restarts without scanning any table."""
        m = self.manifest()
        return {} if m is None else m.get("meta", {})

    def current_round(self) -> int:
        m = self.manifest()
        return -1 if m is None else m["round"]

    # ------------------------------------------------------------------ commit

    def commit(
        self,
        round_id: int,
        snapshots: dict[str, DataFrame] | None = None,
        appends: dict[str, DataFrame] | None = None,
        patches: dict[str, tuple[DataFrame, list[str]]] | None = None,
        meta: dict | None = None,
        deletes: dict[str, tuple[DataFrame, list[str]]] | None = None,
    ) -> dict:
        """Write this round's data then atomically flip the pointer.

        - ``snapshots``: name → full-state DataFrame (replaces the table).
        - ``appends``: name → delta DataFrame (ONLY this round's new rows).
        - ``patches``: name → (patch DataFrame, key_cols).  Patch rows update
          existing rows of append table ``name`` at load time (non-key columns
          coalesce over base).  The engine must guarantee ≤1 patch row per key
          across all rounds (the seen-gate does for post texts); ``load``
          additionally keeps only the newest patch per key as a guard.
        - ``deletes``: name → (keys DataFrame, key_cols) — Iceberg
          EQUALITY-DELETE files: rows of append table ``name`` matching any
          committed key are anti-joined out at load time.  The commit writes
          only the key rows (O(purge delta), never a table rewrite); the
          next ``compact`` folds them into the base and clears the list.
        - ``meta``: bookkeeping dict merged key-wise over the previous
          round's meta (e.g. running row counts, bloom geometry).

        A table's mode is fixed at creation: committing an append delta to an
        existing snapshot table (or vice versa) raises — either would silently
        drop data at load time (a snapshot reads only paths[-1]; a snapshot
        over an append chain discards the deltas).

        Table writes run as concurrent Spark jobs (driver threads) — the
        commit wall is max(write) not sum(write); atomicity comes solely from
        the pointer flip, so concurrency is safe.
        """
        from concurrent.futures import ThreadPoolExecutor

        snapshots = dict(snapshots or {})
        appends = dict(appends or {})
        patches = dict(patches or {})
        deletes = dict(deletes or {})
        prev = self.manifest()
        tables: dict = {} if prev is None else json.loads(json.dumps(prev["tables"]))

        def _check_mode(name: str, want: str) -> None:
            have = tables.get(name, {}).get("mode", want)
            if have != want:
                raise ValueError(
                    f"table {name!r} is mode={have!r}; committing it as "
                    f"{want!r} would silently drop data — compact/migrate "
                    "explicitly instead"
                )

        jobs: list[tuple[DataFrame, str]] = []
        for name, df in snapshots.items():
            _check_mode(name, "snapshot")
            rel = f"data/{name}/r{round_id:06d}"
            jobs.append((df, rel))
            tables[name] = {"mode": "snapshot", "paths": [rel]}
        for name, df in appends.items():
            _check_mode(name, "append")
            rel = f"data/{name}/r{round_id:06d}"
            jobs.append((df, rel))
            ent = tables.setdefault(name, {"mode": "append", "paths": []})
            if rel not in ent["paths"]:  # idempotent replay of a killed round
                ent["paths"].append(rel)
        for name, (df, keys) in patches.items():
            _check_mode(name, "append")
            rel = f"data/{name}/p{round_id:06d}"
            jobs.append((df, rel))
            ent = tables.setdefault(name, {"mode": "append", "paths": []})
            patch = ent.setdefault("patch", {"paths": [], "keys": list(keys)})
            if rel not in patch["paths"]:
                patch["paths"].append(rel)
        for name, (df, keys) in deletes.items():
            _check_mode(name, "append")
            rel = f"data/{name}/d{round_id:06d}"
            jobs.append((df.select(*keys), rel))
            ent = tables.setdefault(name, {"mode": "append", "paths": []})
            dels = ent.setdefault("deletes", {"paths": [], "keys": list(keys)})
            if rel not in dels["paths"]:
                dels["paths"].append(rel)

        if jobs:

            def _write(job):
                df, rel = job
                df.write.mode("overwrite").parquet(os.path.join(self.root, rel))

            with ThreadPoolExecutor(max_workers=len(jobs)) as pool:
                list(pool.map(_write, jobs))

        manifest = {
            "format": MANIFEST_FORMAT,
            "round": round_id,
            "tables": tables,
            "meta": {**(prev.get("meta", {}) if prev else {}), **(meta or {})},
            "committed_at": time.time(),
        }
        self._flip(manifest)

        # fold over-long delta chains (bounded manifest + load fan-in); runs
        # after the flip so a crash mid-compaction leaves a valid store
        if self.auto_compact_after and jobs:
            spark = jobs[0][0].sparkSession
            for name, ent in tables.items():
                if ent["mode"] != "append":
                    continue
                n = (
                    len(ent["paths"])
                    + len(ent.get("patch", {}).get("paths", ()))
                    + len(ent.get("deletes", {}).get("paths", ()))
                )
                if n > self.auto_compact_after:
                    self.compact(spark, name)
        return self.manifest()

    def _flip(self, manifest: dict) -> None:
        tmp = self._pointer + f".tmp.{os.getpid()}"
        with open(tmp, "w") as f:
            json.dump(manifest, f)
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, self._pointer)  # atomic commit point

    # -------------------------------------------------------------------- load

    def _abs(self, rel: str) -> str:
        return rel if os.path.isabs(rel) else os.path.join(self.root, rel)

    @staticmethod
    def _seq_col(table: str, prefix: str, src=None):
        """Round/sequence number from a data file path, anchored to the
        table directory (``.../{table}/{prefix}NNNNNN...``) so a look-alike
        segment elsewhere in the store root can never match.  A path that
        does NOT match raises at scan time — a silent null sequence would
        disable delete hiding."""
        import re as _re

        src = F.input_file_name() if src is None else src
        pat = f"/{_re.escape(table)}/{prefix}(\\d{{6}})"
        ext = F.regexp_extract(src, pat, 1)
        return F.when(
            ext == "",
            F.raise_error(F.concat(
                F.lit(f"store file path lacks /{table}/{prefix}NNNNNN "
                      "sequence segment: "), src,
            )),
        ).otherwise(ext.cast("long"))

    def load(self, spark: SparkSession, table: str) -> DataFrame | None:
        m = self.manifest()
        if m is None or table not in m["tables"]:
            return None
        ent = m["tables"][table]
        paths = [self._abs(p) for p in ent["paths"]]
        if not paths:
            return None
        if ent.get("mode", "snapshot") == "snapshot":
            return spark.read.parquet(paths[-1])
        base = spark.read.parquet(*paths)
        dels = ent.get("deletes")
        ddf = None
        if dels and dels["paths"]:
            # equality-delete files with Iceberg SEQUENCE semantics: a
            # delete committed at round d hides only rows from data files of
            # round ≤ d — a row re-appended AFTER the purge (refetch of a
            # purged url) must survive.  Sequence numbers come from the
            # dir-name round embedded in every path (r%06d / base_r%06d /
            # d%06d), materialized IN the scan stage (input_file_name is
            # empty after an exchange).  The delete union is tiny (purge
            # deltas only) → broadcast.
            from functools import reduce

            keys = dels["keys"]
            # sequence patterns are ANCHORED to the table's own directory —
            # an unanchored /r(\d{6}) would match a store ROOT that happens
            # to contain such a segment (.../r000123/store/...) and extract
            # the wrong round; _seq_col additionally fails loudly on a
            # non-matching path instead of yielding a null _seq (a null
            # would make the anti-join condition null and silently stop
            # hiding deleted rows)
            b = base.withColumn(
                "_seq",
                self._seq_col(table, r"(?:base_)?r"),
            ).alias("b")
            ddf = (
                spark.read.parquet(*[self._abs(p) for p in dels["paths"]])
                .withColumn("_dseq", self._seq_col(table, "d"))
                .groupBy(*keys).agg(F.max("_dseq").alias("_dseq"))
                .alias("d")
            )
            cond = reduce(
                lambda a, c: a & c,
                [F.col(f"b.{k}") == F.col(f"d.{k}") for k in keys],
            ) & (F.col("d._dseq") >= F.col("b._seq"))
            base = (
                b.join(F.broadcast(ddf), on=cond, how="left_anti").drop("_seq")
            )
        patch = ent.get("patch")
        if patch and patch["paths"]:
            keys = patch["keys"]
            # materialize the file name IN the scan stage, once — it is
            # empty after an exchange and unsupported after a multi-source
            # join; both consumers below (delete sequencing, newest-wins
            # dedup) derive from this column
            pdf = spark.read.parquet(
                *[self._abs(p) for p in patch["paths"]]
            ).withColumn("_src", F.input_file_name())
            if ddf is not None and set(dels["keys"]) <= set(pdf.columns):
                # deletes hide PATCH rows too, same sequence rule: a purge
                # at round d must remove text that arrived as an MoR fill in
                # a round ≤ d — otherwise the purged content survives in the
                # patch file and would even shadow a post-purge refetch
                # through the coalesce below
                from functools import reduce as _reduce

                dk = dels["keys"]
                p = pdf.withColumn(
                    "_pseq",
                    self._seq_col(table, "p", src=F.col("_src")),
                ).alias("p")
                pcond = _reduce(
                    lambda a, c: a & c,
                    [F.col(f"p.{k}") == F.col(f"d.{k}") for k in dk],
                ) & (F.col("d._dseq") >= F.col("p._pseq"))
                pdf = (
                    p.join(F.broadcast(ddf), on=pcond, how="left_anti")
                    .drop("_pseq")
                )
            if len(patch["paths"]) > 1:
                # belt-and-braces for the ≤1-patch-per-key contract: if an
                # upstream bug (e.g. a lossy seen-filter) ever double-patches
                # a key, keep only the NEWEST round's row instead of
                # duplicating base rows through the left join.  Patch file
                # paths sort by round (p%06d), so _src is the round order;
                # the patch union is tiny (cross-round fills).
                from pyspark.sql import Window

                w = Window.partitionBy(*keys).orderBy(F.desc("_src"))
                pdf = (
                    pdf.withColumn("_rn", F.row_number().over(w))
                    .filter(F.col("_rn") == 1)
                    .drop("_rn")
                )
            pdf = pdf.drop("_src")
            val_cols = [c for c in pdf.columns if c not in keys]
            renamed = pdf.select(
                *keys, *[F.col(c).alias(f"_patch_{c}") for c in val_cols]
            )
            base_cols = base.columns
            # patch union is tiny (cross-round retry fills only) → broadcast
            base = base.join(F.broadcast(renamed), on=keys, how="left")
            for c in val_cols:
                base = base.withColumn(c, F.coalesce(F.col(f"_patch_{c}"), F.col(c)))
            base = base.select(*base_cols)
        return base

    def maintain(self, spark: SparkSession) -> dict:
        """The between-rounds maintenance pass (reference analog: T5): fold
        every multi-file append chain, expire unreferenced dirs, and
        reconcile manifest bookkeeping against the tables it summarizes.
        Returns {"compacted": [...], "gc": [...], "reconciled": {...}}."""
        m = self.manifest()
        compacted = []
        if m is not None:
            for name, ent in m["tables"].items():
                if ent.get("mode") != "append":
                    continue
                n = (
                    len(ent["paths"])
                    + len(ent.get("patch", {}).get("paths", ()))
                    + len(ent.get("deletes", {}).get("paths", ()))
                )
                if n > 1:
                    self.compact(spark, name)
                    compacted.append(name)
        reconciled = self._reconcile_meta(spark)
        return {"compacted": compacted, "gc": self.gc(), "reconciled": reconciled}

    def _reconcile_meta(self, spark: SparkSession) -> dict:
        """crawl_seq trusts the manifest's running ``posts_rows`` counter; a
        code path that appends posts without updating meta (or an operator
        writing the table directly) would silently shift crawl_seq for every
        later round.  Maintenance is the natural place to cross-check — it
        already scans the table — and to REPAIR the counter, warning loudly.
        Returns {} when consistent."""
        m = self.manifest()
        if m is None or "posts" not in m.get("tables", {}):
            return {}
        meta_rows = m.get("meta", {}).get("posts_rows")
        if meta_rows is None:  # legacy store: engine falls back to a scan
            return {}
        posts = self.load(spark, "posts")
        actual = 0 if posts is None else posts.count()
        # posts_rows is a HIGH-WATER insertion counter (crawl_seq seed):
        # actual < meta is legitimate after purges (deleted rows never give
        # their sequence numbers back); only actual > meta — rows appended
        # without counter bookkeeping — is drift worth repairing
        if actual <= meta_rows:
            return {}
        import logging

        logging.getLogger(__name__).warning(
            "posts_rows drift: manifest says %d, table has %d — repairing "
            "the counter (crawl_seq for FUTURE rounds continues from the "
            "actual count; rows committed outside run_crawl caused this)",
            meta_rows, actual,
        )
        m["meta"]["posts_rows"] = actual
        self._flip(m)
        return {"posts_rows": {"was": meta_rows, "now": actual}}

    # ------------------------------------------------------------------- gc

    def gc(self) -> list[str]:
        """Remove data directories no longer referenced by the CURRENT
        manifest (Iceberg snapshot expiry): superseded snapshot versions,
        delta chains folded by compaction, patch files absorbed into a base.

        Safe by construction — there is exactly one pointer, flipped
        atomically, so anything unreferenced can never become referenced
        again.  Returns the removed relative paths."""
        import shutil

        m = self.manifest()
        if m is None:
            return []
        live: set[str] = set()
        for ent in m["tables"].values():
            live.update(ent["paths"])
            live.update(ent.get("patch", {}).get("paths", ()))
            live.update(ent.get("deletes", {}).get("paths", ()))
        removed = []
        data_root = os.path.join(self.root, "data")
        if not os.path.isdir(data_root):
            return []
        for table in sorted(os.listdir(data_root)):
            tdir = os.path.join(data_root, table)
            for d in sorted(os.listdir(tdir)):
                rel = f"data/{table}/{d}"
                if rel not in live:
                    shutil.rmtree(os.path.join(tdir, d), ignore_errors=True)
                    removed.append(rel)
        return removed

    # --------------------------------------------------------------- compact

    def compact(self, spark: SparkSession, table: str) -> None:
        """Fold an append table's delta chain + patches into one base dir.

        The merged view (``load``) is materialized once; the manifest then
        references only the new base, with an empty patch list.  Atomic via
        the same pointer flip; old delta dirs are left on disk (a GC pass can
        remove unreferenced dirs, exactly Iceberg snapshot expiry).
        """
        m = self.manifest()
        if m is None or table not in m["tables"]:
            return
        ent = m["tables"][table]
        if ent.get("mode") != "append":
            return
        df = self.load(spark, table)
        rel = f"data/{table}/base_r{m['round']:06d}_{int(time.time() * 1000)}"
        df.write.mode("overwrite").parquet(self._abs(rel))
        ent["paths"] = [rel]
        if "patch" in ent:
            ent["patch"]["paths"] = []
        if "deletes" in ent:  # folded into the new base by the load above
            ent["deletes"]["paths"] = []
        self._flip(m)
