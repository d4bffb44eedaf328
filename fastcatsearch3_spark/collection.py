"""Collection facade — the reference's collection-centric surface.

fastcatsearch3 users operate on a *collection* (create → full index →
incremental add/update/delete → compact → search/facet/suggest;
server:org.fastcatsearch collection lifecycle [K]). This facade binds the
engine's operators to one index root so a reference user can drive the
whole lifecycle through a single object:

    col = Collection(spark, "/data/idx", EngineConfig(num_shards=256))
    col.build(corpus_df)                     # full index (resumable)
    col.append(new_docs_df)                  # add/update batch (J-7)
    col.delete(keys_df)                      # tombstone by pk (ST-2)
    col.compact()                            # merge segments (ST-4/I-6)
    col.search('"exact phrase" repo:spark -slow ~2', k=10)
    col.match("spark merge")                 # full match set (facet feeder)
    col.suggest("spa")                       # autocomplete
    col.stats()                              # n_docs / avgdl / config

Thin by design: every method is a one-line binding to the operator that
already owns the logic (and its tests/oracles).
"""

from __future__ import annotations

from collections import OrderedDict

from pyspark.sql import DataFrame, SparkSession

from fastcatsearch3_spark.config import EngineConfig
from fastcatsearch3_spark.index import IndexStore


class Collection:
    def __init__(
        self, spark: SparkSession, index_root: str,
        cfg: EngineConfig | None = None,
        cache_size: int = 0,
        shared_cache: bool = False,
    ):
        """``cache_size`` > 0 enables the search-result cache — the
        reference caches search results per collection and drops them on
        indexing events (server search-cache service [M]). Keyed by
        (index epoch, query, k, kwargs); an append/delete/compact changes
        ``IndexStore.epoch()`` so stale entries can never be served. Only
        plain-text/ParsedQuery lookups cache; calls passing DataFrame
        arguments (allow lists, corpus) bypass it.

        ``shared_cache`` adds a CROSS-PROCESS L2 (SURVEY §10.5): a sqlite
        file under ``<root>/.cache`` any serving process shares — a miss
        in this process's in-memory LRU consults it before running the
        search, and every computed result publishes to it. Same
        epoch-keyed invalidation; the in-memory LRU stays the L1."""
        self.spark = spark
        self.root = str(index_root)
        self._cfg = cfg
        self.cache_size = int(cache_size)
        self._cache: "OrderedDict[tuple, tuple]" = OrderedDict()
        self.cache_hits = 0
        self.cache_misses = 0
        self.shared_hits = 0
        self._shared = None
        if shared_cache:
            from fastcatsearch3_spark.cache import SharedResultCache

            self._shared = SharedResultCache(self.root)

    @property
    def cfg(self) -> EngineConfig:
        if self._cfg is None:
            self._cfg = IndexStore(self.root).config()
        return self._cfg

    @property
    def store(self) -> IndexStore:
        # one long-lived instance: IndexStore is a stateless view of the
        # on-disk index (epoch checks inside df_for_terms/denied_mask
        # handle mutation), and its warm caches (lexicon stats) only pay
        # off if the instance survives across queries
        if getattr(self, "_store", None) is None:
            self._store = IndexStore(self.root)
        return self._store

    def build(self, corpus: DataFrame, **kw) -> dict:
        from fastcatsearch3_spark.operators.build import build_index

        return build_index(self.spark, corpus, self.root, self.cfg, **kw)

    def append(self, docs: DataFrame) -> dict:
        from fastcatsearch3_spark.streaming.incremental import append_segment

        return append_segment(self.spark, self.root, docs, self.cfg)

    def delete(self, keys: DataFrame) -> int:
        from fastcatsearch3_spark.streaming.incremental import delete_by_pk

        return delete_by_pk(self.spark, self.root, keys)

    def compact(self) -> dict:
        from fastcatsearch3_spark.streaming.incremental import compact

        return compact(self.spark, self.root, self.cfg)

    def search(self, query, k: int = 10, **kw) -> DataFrame:
        # cached results come back as Arrow-backed local frames, so
        # collecting a cache hit starts no Spark job
        from fastcatsearch3_spark.plans.search import local_frame, search_index

        cacheable = self.cache_size > 0 and all(
            not isinstance(v, DataFrame) for v in kw.values()
        )
        if not cacheable:
            return search_index(self.spark, self.store, query, k=k, **kw)
        key = (
            self.store.epoch(), repr(query), k,
            tuple(sorted(kw.items(), key=lambda x: x[0])),
        )
        hit = self._cache.get(key)
        if hit is not None:
            self._cache.move_to_end(key)
            self.cache_hits += 1
            schema, rows = hit
            return local_frame(self.spark, schema, rows)
        if self._shared is not None:
            got = self._shared.get(repr(key), key[0])
            if got is not None:
                from pyspark.sql.types import StructType
                import json as _json

                schema_json, rows = got
                schema = StructType.fromJson(_json.loads(schema_json))
                self.shared_hits += 1
                self.cache_hits += 1
                self._cache[key] = (schema, rows)
                while len(self._cache) > self.cache_size:
                    self._cache.popitem(last=False)
                return local_frame(self.spark, schema, rows)
        self.cache_misses += 1
        out = search_index(self.spark, self.store, query, k=k, **kw)
        rows = out.collect()  # ≤ k result rows — never O(corpus)
        self._cache[key] = (out.schema, rows)
        while len(self._cache) > self.cache_size:
            self._cache.popitem(last=False)
        if self._shared is not None:
            self._shared.put(repr(key), key[0], out.schema.json(), rows)
        # a driver-route result already is a local frame; a Spark-route
        # plan is rebuilt from its rows so that it never runs twice
        return out if out.isLocal() else local_frame(self.spark, out.schema, rows)

    def search_many(self, queries: dict, k: int = 10, **kw) -> DataFrame:
        from fastcatsearch3_spark.plans.search import search_many

        return search_many(self.spark, self.store, queries, k=k, **kw)

    def match(self, query, **kw) -> DataFrame:
        from fastcatsearch3_spark.plans.search import match_doc_ids

        return match_doc_ids(self.spark, self.store, query, **kw)

    def suggest(self, prefix: str, k: int = 10) -> DataFrame:
        from fastcatsearch3_spark.plans.search import suggest_terms

        return suggest_terms(self.spark, self.store, prefix, k=k)

    def rescore(
        self, query, rescore_query, k: int = 10, window: int = 100, **kw
    ) -> DataFrame:
        """Two-phase ranking (plans/search.rescore_topk — Lucene
        QueryRescorer): BM25 top-``window`` re-scored by a secondary
        (phrase/proximity) query."""
        from fastcatsearch3_spark.plans.search import rescore_topk

        return rescore_topk(
            self.spark, self.store, query, rescore_query,
            k=k, window=window, **kw,
        )

    def function_score(
        self, query, fields_df: DataFrame, factor_col: str, k: int = 10, **kw
    ) -> DataFrame:
        """Static stored-field boost (plans/search.function_score — ES
        field_value_factor) over the full match set."""
        from fastcatsearch3_spark.plans.search import function_score

        return function_score(
            self.spark, self.store, query, fields_df, factor_col, k=k, **kw
        )

    def related(
        self, query, fields_df: DataFrame, top_n: int = 10, **kw
    ) -> DataFrame:
        """Related/significant keywords for a query's match set
        (plans/search.related_keywords)."""
        from fastcatsearch3_spark.plans.search import related_keywords

        return related_keywords(
            self.spark, self.store, query, fields_df, top_n=top_n, **kw
        )

    def build_factor_artifact(
        self, fields_df: DataFrame, factor_col: str, name: str, **kw
    ) -> dict:
        """Materialize a static rank factor for the pruned
        function_score path (plans/search.build_factor_artifact)."""
        from fastcatsearch3_spark.plans.search import build_factor_artifact

        return build_factor_artifact(
            self.spark, self.store, fields_df, factor_col, name, **kw
        )

    def function_score_topk(
        self, query, factor_name: str, k: int = 10, **kw
    ) -> DataFrame:
        """function_score with factor-aware early termination over a
        prebuilt artifact (plans/search.function_score_topk)."""
        from fastcatsearch3_spark.plans.search import function_score_topk

        return function_score_topk(
            self.spark, self.store, query, factor_name, k=k, **kw
        )

    def rescore_many(
        self, queries: dict, k: int = 10, window: int = 100, **kw
    ) -> DataFrame:
        """Batch two-phase ranking — N rescores in two shared kernel
        passes (plans/search.rescore_many)."""
        from fastcatsearch3_spark.plans.search import rescore_many

        return rescore_many(
            self.spark, self.store, queries, k=k, window=window, **kw
        )

    def function_score_many(
        self, queries: dict, factor_name: str, k: int = 10, **kw
    ) -> DataFrame:
        """Batch factor-pruned function_score — one postings scan + one
        factor cogroup for N queries (plans/search.function_score_many)."""
        from fastcatsearch3_spark.plans.search import function_score_many

        return function_score_many(
            self.spark, self.store, queries, factor_name, k=k, **kw
        )

    def explain(self, query, k: int = 10, doc_ids=None) -> DataFrame:
        """Per-(doc, term) BM25 partials for the query's top-k docs
        (plans/search.explain_scores — Lucene IndexSearcher.explain)."""
        from fastcatsearch3_spark.plans.search import explain_scores

        return explain_scores(
            self.spark, self.store, query, k=k, doc_ids=doc_ids
        )

    def fsck(self, corpus: DataFrame | None = None, **kw) -> dict:
        """Integrity audit report (operators/fsck.fsck_index)."""
        from fastcatsearch3_spark.operators.fsck import fsck_index

        return fsck_index(self.spark, self.store, corpus=corpus, **kw)

    def stats(self) -> dict:
        return self.store.stats()
