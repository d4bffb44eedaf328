"""IndexStore — the on-disk layout of a built index (SURVEY.md §1.2).

    <root>/
      corpus/                     normalized source rows (optional copy)
      docmap/segment_id=N/        (shard, docno, doc_id, dl, content_sha256)
      postings/segment_id=N/      (shard, term, df, cf, postings)
      lexicon/                    (term, df, cf)      — global, merged
      deletes/                    (doc_id, segment_id) — tombstones (P-7)
      manifest/segment-N.json     per-segment lineage + metrics (I-8)
      stats.json                  n_docs, avgdl, config

On a cluster <root> is shared storage (S3/HDFS/Iceberg warehouse); the
reference instead copies segment files between nodes over netty
(server:org.fastcatsearch.transport [K]) — shared storage + Spark shuffle
make that operator unnecessary (SURVEY.md S-8).
"""

from __future__ import annotations

import json
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

from fastcatsearch3_spark.config import EngineConfig

# Driver-route caps (see CHANGES.md for the measurements behind each).
# An index whose postings plus docmap files hold fewer bytes than
# LOCAL_MAX_BYTES serves search_index / search_many on the driver
# (pyarrow reads + the shard kernels in-process, no Spark job), and its
# appends and deletes of at most LOCAL_MAX_ROWS batch rows run on the
# driver too (one bounded Spark job collects the batch). Its compaction
# runs on the driver as well: with the batched posting codec, compacting
# a 17 MB index took about 3 s on one core against 10-11 s for the Spark
# plan on local[4] (4-CPU host). Larger indexes and batches keep the
# Spark plans.
LOCAL_MAX_BYTES = 16 << 20
LOCAL_MAX_ROWS = 5_000


def recover_interrupted_compact(root: str | Path) -> bool:
    """Roll back a compaction swap that crashed mid-window (ST-4).

    The swap protocol (streaming/incremental.compact) renames live dirs to
    ``<sub>.old``, renames the new dirs in, then deletes the ``.old``
    copies. Commit point: BOTH ``postings`` and ``docmap`` exist. Before
    that point this rolls BACK (delete partial new dirs, restore ``.old``);
    after it, it just clears ``.old`` leftovers. Returns True if anything
    was repaired."""
    import shutil

    root = Path(root)
    subs = ("postings", "docmap", "deletes", "manifest")
    olds = [s for s in subs if (root / f"{s}.old").exists()]
    if not olds:
        return False
    committed = (root / "postings").exists() and (root / "docmap").exists()
    if committed:
        for s in olds:
            shutil.rmtree(root / f"{s}.old", ignore_errors=True)
        return True
    for s in ("postings", "docmap"):
        if s in olds and (root / s).exists():
            shutil.rmtree(root / s)  # partial new dir — discard
    for s in olds:
        if not (root / s).exists():
            (root / f"{s}.old").rename(root / s)
    return True


class IndexStore:
    def __init__(self, root: str):
        self.root = str(root)
        recover_interrupted_compact(self.root)

    def _p(self, *parts: str) -> str:
        return str(Path(self.root, *parts))

    def stats(self) -> dict:
        return json.loads(Path(self._p("stats.json")).read_text())

    def config(self) -> EngineConfig:
        return EngineConfig.from_dict(self.stats()["config"])

    def postings(self, spark: SparkSession) -> DataFrame:
        return spark.read.parquet(self._p("postings"))

    def docmap(self, spark: SparkSession) -> DataFrame:
        return spark.read.parquet(self._p("docmap"))

    def lexicon(self, spark: SparkSession) -> DataFrame:
        return spark.read.parquet(self._p("lexicon"))

    def corpus(self, spark: SparkSession) -> DataFrame:
        return spark.read.parquet(self._p("corpus"))

    def has_corpus(self) -> bool:
        return Path(self._p("corpus")).exists()

    def has_deletes(self) -> bool:
        return Path(self._p("deletes")).exists()

    def deletes(self, spark: SparkSession) -> DataFrame | None:
        if not self.has_deletes():
            return None
        return spark.read.parquet(self._p("deletes"))

    def denied_mask(self, spark: SparkSession) -> DataFrame | None:
        """Shard-local denied docno set (segment_id, shard, docno), built
        ONCE per index epoch and materialized under ``.denied/<epoch>``.

        The docmap ⋈ deletes resolution ran per query before; at 10^12
        docs that join is a full docmap scan, so it now runs only when the
        epoch changes (any append/delete/compact mutates the deletes file
        listing or segment set, which keys the epoch). Searches read the
        small materialized mask. Publication is write-to-tmp + rename, so
        a concurrent crash leaves at worst a stale tmp dir."""
        import shutil

        if not self.has_deletes():
            return None
        out = Path(self._p(".denied", self.epoch()))
        if not out.exists():
            from pyspark.sql import functions as F

            dm = self.docmap(spark).alias("dm")
            dl = spark.read.parquet(self._p("deletes")).alias("dl")
            denied = (
                dm.join(
                    dl,
                    (F.col("dm.doc_id") == F.col("dl.doc_id"))
                    & (F.col("dm.segment_id") < F.col("dl.segment_id")),
                )
                .select("dm.segment_id", "dm.shard", "dm.docno")
                .distinct()
            )
            tmp = out.with_name(out.name + ".tmp")
            shutil.rmtree(tmp, ignore_errors=True)
            denied.write.mode("overwrite").parquet(str(tmp))
            if not out.exists():  # racing builder may have published first
                tmp.rename(out)
            else:
                shutil.rmtree(tmp, ignore_errors=True)
            # GC stale epochs (best effort)
            for p in out.parent.iterdir():
                if p.name not in (out.name,) and not p.name.endswith(".tmp"):
                    shutil.rmtree(p, ignore_errors=True)
        return spark.read.parquet(str(out))

    def _local_state(self) -> dict:
        """Per-epoch driver-side state of the small-index read route,
        re-keyed on every ``epoch()`` change as ``df_for_terms`` re-keys
        its lexicon cache: the on-disk size listing (``bytes``) and,
        once ``local_view`` has asked for them, the postings dataset, the
        hydrate docmap and the denied set."""
        ep = self.epoch()
        st = getattr(self, "_local", None)
        if st is None or st["epoch"] != ep:
            st = self._local = {"epoch": ep, "bytes": self._disk_bytes()}
        return st

    def _disk_bytes(self) -> int:
        """Postings plus docmap bytes on disk (data files only)."""
        total = 0
        for sub in ("postings", "docmap"):
            base = Path(self._p(sub))
            if base.exists():
                total += sum(
                    p.stat().st_size
                    for p in base.rglob("*")
                    if p.is_file() and not p.name.startswith(("_", "."))
                )
        return total

    def local_batch(self, df: DataFrame):
        """A small append or delete batch as a pandas frame, or None when
        the write keeps its Spark plan: the index holds
        ``LOCAL_MAX_BYTES`` or more, the batch holds more than
        ``LOCAL_MAX_ROWS`` rows or none, or the collect fails.

        ONE bounded Spark job: an Arrow collect of ``limit(cap + 1)``
        (``toPandas``/``collect`` of a limit scan partitions in up to
        three scale-up jobs). Catalyst's size estimate cannot stand in
        for the row count: it is ``Long.MaxValue`` for a frame made from
        local pandas rows."""
        if LOCAL_MAX_ROWS <= 0 or self._disk_bytes() >= LOCAL_MAX_BYTES:
            return None
        try:
            pdf = df.limit(LOCAL_MAX_ROWS + 1).toArrow().to_pandas()
        except Exception:  # noqa: BLE001 — any collect failure → Spark path
            return None
        return pdf if 0 < len(pdf) <= LOCAL_MAX_ROWS else None

    def compacts_local(self) -> bool:
        """True when ``compact`` runs on the driver (index under
        ``LOCAL_MAX_BYTES``)."""
        return self._disk_bytes() < LOCAL_MAX_BYTES

    def local_table(self, sub: str, columns: list[str] | None = None):
        """``<root>/<sub>`` read with pyarrow as a pandas frame (hive
        partitioning: ``segment_id`` comes from the directory names)."""
        import pyarrow.dataset as pds

        return (
            pds.dataset(self._p(sub), format="parquet", partitioning="hive")
            .to_table(columns=columns)
            .to_pandas()
        )

    def local_view(
        self, terms: list[str], columns: list[str], with_deletes: bool
    ):
        """Inputs of the driver read route, all from ONE per-epoch state,
        so a write racing the request cannot mix two epochs' files:
        (the query terms' postings rows, the denied set or None, the
        docmap), as pandas frames read with pyarrow (no Spark job).

        None when the index holds ``LOCAL_MAX_BYTES`` or more, or when
        pyarrow fails to read it (a missing column included) — the
        caller then runs the Spark plan, as ``_lexicon_lookup_arrow``'s
        callers do."""
        st = self._local_state()
        if st["bytes"] >= LOCAL_MAX_BYTES:
            return None
        try:
            import pyarrow.dataset as pds

            if "docmap" not in st:
                st["postings"] = pds.dataset(
                    self._p("postings"), format="parquet", partitioning="hive"
                )
                st["docmap"] = self.local_table(
                    "docmap", ["segment_id", "shard", "docno", "doc_id"]
                )
            if with_deletes and "denied" not in st:
                st["denied"] = self._denied_local(st["docmap"])
            cand = (
                st["postings"]
                .to_table(columns=columns, filter=pds.field("term").isin(terms))
                .to_pandas()
            )
        except Exception:  # noqa: BLE001 — any reader failure → Spark path
            return None
        return cand, st["denied"] if with_deletes else None, st["docmap"]

    def _denied_local(self, dm):
        """The denied set (segment_id, shard, docno) in pandas: docmap ⋈
        deletes under ``denied_mask``'s predicate (``dm.doc_id =
        dl.doc_id AND dm.segment_id < dl.segment_id``). Empty when
        nothing is deleted."""
        dl = dm.iloc[:0][["doc_id", "segment_id"]]
        if self.has_deletes():
            dl = self.local_table("deletes", ["doc_id", "segment_id"])
        j = dm.merge(dl, on="doc_id", suffixes=("", "_dl"))
        return (
            j.loc[j["segment_id"] < j["segment_id_dl"],
                  ["segment_id", "shard", "docno"]]
            .drop_duplicates()
            .reset_index(drop=True)
        )

    def df_for_terms(self, spark: SparkSession, terms: list[str]) -> dict:
        """term → df for the given terms, from a driver-resident lexicon
        cache — the reference keeps its term dictionary memory-indexed
        per collection (core:ir.search.SearchIndexReader lexicon memory
        index [K]); here the cache holds only TERMS THAT HAVE BEEN ASKED
        (plus negative entries for absent ones), so it is O(distinct query
        terms), not O(lexicon). Invalidates on epoch change. Saves one
        Spark job per warm query. Absent terms are omitted from the
        result (mirroring the previous collect-based lookup)."""
        ep = self.epoch()
        if getattr(self, "_lex_epoch", None) != ep:
            self._lex_cache: dict[str, int | None] = {}
            self._lex_epoch = ep
        # bound driver memory under a diverse/adversarial term stream
        # (query-log replay adds a negative entry per misspelling): FIFO-
        # evict oldest insertions past the cap (dicts preserve order)
        while len(self._lex_cache) > 65536:
            self._lex_cache.pop(next(iter(self._lex_cache)))
        missing = [t for t in terms if t not in self._lex_cache]
        if missing:
            found = self._lexicon_lookup_arrow(missing)
            if found is None:
                from pyspark.sql import functions as F

                rows = (
                    self.lexicon(spark)
                    .where(F.col("term").isin(missing))
                    .select("term", "df")
                    .collect()
                )
                found = {r["term"]: r["df"] for r in rows}
            for t in missing:
                self._lex_cache[t] = found.get(t)
        return {
            t: self._lex_cache[t]
            for t in terms
            if self._lex_cache.get(t) is not None
        }

    def _lexicon_lookup_arrow(self, terms: list[str]) -> dict | None:
        """Cold-term lexicon lookup WITHOUT a Spark job: the lexicon
        parquet is itself the shared term-stats store (SURVEY §10.5 — any
        number of driver/serving processes read the same epoch-versioned
        artifact), so a driver-side pyarrow dataset read with a pushed
        ``term IN (...)`` filter serves it in milliseconds — parquet
        row-group statistics prune the scan (the lexicon is written
        term-sorted), and no executor or scheduler is involved. Returns
        None when pyarrow can't reach the store (exotic remote
        filesystems) — callers fall back to the Spark scan, which reads
        anywhere Spark reads."""
        try:
            import pyarrow.dataset as pds

            tbl = pds.dataset(self._p("lexicon"), format="parquet").to_table(
                columns=["term", "df"],
                filter=pds.field("term").isin(terms),
            )
            return dict(
                zip(tbl.column("term").to_pylist(), tbl.column("df").to_pylist())
            )
        except Exception:  # noqa: BLE001 — any reader failure → Spark path
            return None

    def _lexicon_range_arrow(
        self, lo: str, keep
    ) -> list[tuple[str, int]] | None:
        """Driver-side pruned range scan of the sorted lexicon (no Spark
        job): ``lo <= term < successor(lo)`` — the exact startswith
        interval; successor increments the last code point — so parquet
        min/max statistics prune to the few row groups holding the
        range. ``keep(term)`` filters candidates. Returns (term, df)
        rows ordered (df desc, term asc); None → caller falls back to
        the Spark scan. Shared by the prefix and wildcard probes."""
        if not lo or lo[-1] >= "\U0010ffff":
            return None
        try:
            import pyarrow.dataset as pds

            succ = lo[:-1] + chr(ord(lo[-1]) + 1)
            tbl = pds.dataset(self._p("lexicon"), format="parquet").to_table(
                columns=["term", "df"],
                filter=(pds.field("term") >= lo) & (pds.field("term") < succ),
            )
            rows = [
                (t, d)
                for t, d in zip(
                    tbl.column("term").to_pylist(),
                    tbl.column("df").to_pylist(),
                )
                if keep(t)
            ]
            rows.sort(key=lambda r: (-r[1], r[0]))
            return rows
        except Exception:  # noqa: BLE001 — any reader failure → Spark path
            return None

    def prefix_df_arrow(
        self, prefix: str, limit: int
    ) -> list[tuple[str, int]] | None:
        """Prefix expansion against the lexicon WITHOUT a Spark job (see
        ``_lexicon_range_arrow``). An UNQUALIFIED prefix (no ':') must
        never expand into another field's namespace — analyzer tokens
        cannot contain ':', so ':'-bearing keys are field-qualified and
        are excluded; a field-qualified prefix scans only its own
        namespace by construction. Returns (term, df) rows ordered
        (df desc, term asc) capped at ``limit``; None → Spark fallback."""
        qualified = ":" in prefix
        rows = self._lexicon_range_arrow(
            prefix, (lambda t: True) if qualified else (lambda t: ":" not in t)
        )
        return None if rows is None else rows[:limit]

    def pattern_df_arrow(
        self, pref: str, lead: str, fullmatch, limit: int
    ) -> list[str] | None:
        """Wildcard expansion against the lexicon WITHOUT a Spark job:
        the same pruned range scan over ``[pref+lead, successor)``
        (``lead`` = the pattern's literal leading run), then
        ``fullmatch`` (a compiled-regex ``fullmatch`` bound) filters the
        candidate payloads in Python — candidate volume is the LEAD's
        range, already row-group-pruned, not the vocab. Returns terms
        ordered (df desc, term asc) capped at ``limit``; None → Spark
        fallback. Only the wildcard-translated regex dialect takes this
        path (identical semantics in Python and the JVM); user regexes
        keep Java semantics on the Spark path."""
        npref = len(pref)
        rows = self._lexicon_range_arrow(
            pref + lead,
            lambda t: (npref or ":" not in t) and fullmatch(t[npref:]),
        )
        return None if rows is None else [t for t, _ in rows[:limit]]

    def _deletes_listing(self) -> str:
        """Sorted name:size listing of the deletes parts — the mutable
        half of the epoch (deletes are append-mode parquet parts, so any
        delete changes it)."""
        if not self.has_deletes():
            return ""
        return "|".join(
            sorted(
                f"{p.name}:{p.stat().st_size}"
                for p in Path(self._p("deletes")).iterdir()
                if p.is_file() and not p.name.startswith(("_", "."))
            )
        )

    def epoch(self) -> str:
        """Cheap index-version token: changes whenever a build / append /
        delete / compact publishes (stats.json mtime, segment set, deletes
        listing). The SINGLE epoch definition — it keys both the per-epoch
        denied-mask materialization and the Collection search cache, so
        the two invalidate together (the reference drops its search cache
        on the same collection index events [M])."""
        import hashlib

        parts = [
            str(Path(self._p("stats.json")).stat().st_mtime_ns),
            ",".join(map(str, self.segments())),
            self._deletes_listing(),
        ]
        return hashlib.sha256("||".join(parts).encode()).hexdigest()[:16]

    def segments(self) -> list[int]:
        base = Path(self._p("postings"))
        if not base.exists():
            return []
        return sorted(
            int(p.name.split("=", 1)[1])
            for p in base.iterdir()
            if p.is_dir() and p.name.startswith("segment_id=")
        )
