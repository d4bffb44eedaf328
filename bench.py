"""Benchmark harness (SURVEY.md §6 / M8).

Headline numbers for the BASELINE.json metric: index-build throughput
(files/sec, ingest → packed postings + merged lexicon) and warm top-k BM25
query latency (p50/p95 over the query mix). Runs at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints ONE JSON line:
  {"metric": ..., "value": <total sec>, "unit": "sec",
   "queries": {name: sec, ...}, "sf": ..., "cpus": ..., "git_sha": ...,
   "loadavg": [1, 5, 15 min], "build_docs_per_sec": ...,
   "query_p50_sec": ..., "query_p95_sec": ...}

Noise policy (this shared host swings one-sided by 2× between identical
runs — BENCH/WARM_AB_r03.md): warm queries are min-of-3, dedup pipelines
min-of-2, index_build min-of-2 with BOTH raw times in
queries.index_build_runs — [0] is the cold first build (comparable to the
r1/r2 single-pass artifacts), [1] the warm-JVM steady state; the headline
docs/sec uses the min. The authoritative build-throughput number remains
the pinned 1M-doc scaling protocol (BENCH/BASELINE.md), not this 5k-doc
smoke.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

import numpy as np


def _git_sha() -> str | None:
    """The checkout's commit, None outside a git work tree."""
    import subprocess

    try:
        return subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=os.path.dirname(os.path.abspath(__file__)),
            capture_output=True, text=True, check=True,
        ).stdout.strip()
    except (OSError, subprocess.CalledProcessError):
        return None


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]

    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("fcs3-bench")
        .config("spark.sql.shuffle.partitions", str(2 * cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", "16g")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    from fastcatsearch3_spark.config import EngineConfig
    from fastcatsearch3_spark.index import IndexStore
    from fastcatsearch3_spark.operators.build import build_index
    from fastcatsearch3_spark.operators.ingest import load_documents
    from fastcatsearch3_spark.plans.query import ParsedQuery
    from fastcatsearch3_spark.plans.search import search_index
    from fastcatsearch3_spark.plans import sql_bm25

    cfg = EngineConfig()
    timings: dict[str, float] = {}
    t_all = time.monotonic()

    corpus = load_documents(spark, sf_dir).cache()
    n_docs = corpus.count()

    root = tempfile.mkdtemp(prefix="fcs3_bench_")
    root_pos = tempfile.mkdtemp(prefix="fcs3_bench_pos_")
    try:
        # --- headline 1: cold index build (I-1..I-7) --------------------
        # min-of-2: single-pass builds on this shared host swing 8.9 to
        # 19.9 s for identical code (one-sided co-tenant noise, see
        # BENCH/WARM_AB_r03.md); two passes bound the damage and the
        # second is also the warm-JVM steady state the pinned scaling
        # protocol measures. Both raw times are reported.
        builds = []
        for i in range(2):
            tgt = root if i == 0 else tempfile.mkdtemp(prefix="fcs3_bench_b2_")
            t0 = time.monotonic()
            build_index(
                spark, corpus, tgt, cfg, resume=False, verify_integrity=True
            )
            builds.append(round(time.monotonic() - t0, 3))
            if i > 0:
                shutil.rmtree(tgt, ignore_errors=True)
        timings["index_build"] = min(builds)
        timings["index_build_runs"] = builds
        store = IndexStore(root)

        # --- headline 2: warm top-k BM25 latency (Q-3..Q-6, BMW) -------
        qmix = [
            ("q_and2", ParsedQuery(terms=["spark", "merge"], op="AND")),
            ("q_and3", ParsedQuery(terms=["spark", "merge", "table"], op="AND")),
            ("q_or2", ParsedQuery(terms=["vector", "stream"], op="OR")),
            ("q_not", ParsedQuery(terms=["spark"], not_terms=["slow"], op="AND")),
            ("q_hot", ParsedQuery(terms=["table"], op="AND")),
        ]
        # one warmup search so JIT/UDF-worker startup doesn't skew p95
        search_index(spark, store, ParsedQuery(terms=["index"], op="AND"), k=10).collect()
        lat: list[float] = []
        for name, pq in qmix:
            reps = []
            for _ in range(3):
                t0 = time.monotonic()
                search_index(spark, store, pq, k=10, mode="bmw").collect()
                reps.append(time.monotonic() - t0)
            timings[name] = round(min(reps), 3)
            lat.extend(reps)

        # --- positional index + phrase query (J-5, r2) ------------------
        # separate build so the headline index_build stays comparable to
        # the r1 baseline; the delta shows what positions cost. The store
        # stays alive for the mixed batch below (its phrase needs
        # positions); removed in the outer finally.
        pos_cfg = EngineConfig(store_positions=True)
        t0 = time.monotonic()
        build_index(spark, corpus, root_pos, pos_cfg, resume=False)
        timings["index_build_positions"] = round(time.monotonic() - t0, 3)
        store_pos = IndexStore(root_pos)
        reps = []
        for _ in range(3):
            t0 = time.monotonic()
            search_index(spark, store_pos, '"spark merge"', k=10).collect()
            reps.append(time.monotonic() - t0)
        timings["q_phrase"] = round(min(reps), 3)
        lat.extend(reps)

        # --- batch query execution (throughput mode) -------------------
        # amortization is measured head-to-head: the SAME mixed batch
        # (flat AND/OR/NOT + a phrase + a nested tree — the full r3 batch
        # surface) once through search_many (one shared scan + one kernel
        # pass) and once as sequential singles; q_batch_amortization =
        # singles / batch
        from fastcatsearch3_spark.plans.query import parse_query
        from fastcatsearch3_spark.plans.search import search_many

        batch_qs = {
            "b1": ParsedQuery(terms=["spark", "merge"], op="AND"),
            "b2": ParsedQuery(terms=["vector", "stream"], op="OR"),
            "b3": ParsedQuery(terms=["table"], not_terms=["hash"], op="AND"),
            "b4": ParsedQuery(terms=["index", "build"], op="AND"),
            "b5": ParsedQuery(terms=["line"], op="AND"),
            "b6": parse_query('"spark merge"', cfg),
            "b7": parse_query("((spark merge) OR (vector stream)) -slow", cfg),
        }
        t0 = time.monotonic()
        search_many(spark, store_pos, batch_qs, k=10).collect()
        timings["q_batch7"] = round(time.monotonic() - t0, 3)
        t0 = time.monotonic()
        for pq in batch_qs.values():
            search_index(spark, store_pos, pq, k=10).collect()
        timings["q_batch7_singles"] = round(time.monotonic() - t0, 3)
        timings["q_batch_amortization"] = round(
            timings["q_batch7_singles"] / timings["q_batch7"], 2
        )

        # --- batch with BM25F (r4): same 7 lexical shapes + a true-BM25F
        # multifield query, all through ONE kernel pass on a
        # (content, repo)+positions store (built untimed — the timed
        # builds above stay comparable across rounds). Singles use
        # search_bm25f for the BM25F member.
        from fastcatsearch3_spark.plans.search import Bm25fQuery, search_bm25f

        root_mf = tempfile.mkdtemp(prefix="fcs3_bench_mf_")
        try:
            build_index(
                spark, corpus, root_mf,
                EngineConfig(
                    indexed_fields=("content", "repo"), store_positions=True
                ),
                resume=False,
            )
            store_mf = IndexStore(root_mf)
            fq = Bm25fQuery("spark src1", {"content": 1.0, "repo": 2.0})
            search_bm25f(  # warm the dfu cache like any single would
                spark, store_mf, "spark src1",
                {"content": 1.0, "repo": 2.0}, k=10,
            ).collect()
            t0 = time.monotonic()
            search_many(
                spark, store_mf, {**batch_qs, "b8": fq}, k=10
            ).collect()
            timings["q_batch8_bm25f"] = round(time.monotonic() - t0, 3)
            t0 = time.monotonic()
            for pq in batch_qs.values():
                search_index(spark, store_mf, pq, k=10).collect()
            search_bm25f(
                spark, store_mf, "spark src1",
                {"content": 1.0, "repo": 2.0}, k=10,
            ).collect()
            timings["q_batch8_singles"] = round(time.monotonic() - t0, 3)
            timings["q_batch8_amortization"] = round(
                timings["q_batch8_singles"] / timings["q_batch8_bm25f"], 2
            )
        finally:
            shutil.rmtree(root_mf, ignore_errors=True)

        # --- hybrid retrieval (BM25 + dense re-rank) --------------------
        from fastcatsearch3_spark.plans.search import hybrid_search

        emb_h = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        t0 = time.monotonic()
        hybrid_search(
            spark, store, ParsedQuery(terms=["spark", "merge"], op="AND"),
            emb_h, probe_id=0, k=10, rerank_k=100,
        ).collect()
        timings["q_hybrid"] = round(time.monotonic() - t0, 3)

        # --- declarative BM25 path for comparison ----------------------
        t0 = time.monotonic()
        sql_bm25.bm25_topk(corpus, ["spark", "merge"], k=10, cfg=cfg).collect()
        timings["bm25_sql_path"] = round(time.monotonic() - t0, 3)

        # --- training-data pipeline headliners -------------------------
        from fastcatsearch3_spark.dataops import dedup as D
        from fastcatsearch3_spark.dataops import similarity as SIM

        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")

        def best_of(name: str, fn, reps: int = 2) -> None:
            # multi-stage dedup pipelines at 5k docs are scheduling-noise
            # dominated (measured ±35% between identical runs on this
            # shared host) — min-of-2 keeps the artifact comparable
            # across rounds without interleaving machinery
            rs = []
            for _ in range(reps):
                t0 = time.monotonic()
                fn()
                rs.append(time.monotonic() - t0)
            timings[name] = round(min(rs), 3)

        best_of("dedup_exact", lambda: D.exact_dedup(docs).count())
        # the documented all-pairs correctness baseline — kept in the bench
        # so the LSH path's advantage (which grows superlinearly with
        # corpus size) is visible next to it
        best_of(
            "dedup_jaccard_allpairs",
            lambda: D.jaccard_top_pairs(docs, cfg, top=50).count(),
        )
        best_of(
            "dedup_minhash_lsh",
            lambda: D.minhash_lsh_pairs(docs, cfg, top=50).count(),
        )
        best_of(
            "dedup_simhash",
            lambda: D.simhash_top_pairs(docs, cfg, top=50).count(),
        )
        t0 = time.monotonic()
        from pyspark.sql import functions as _FF

        batch = docs.where(_FF.col("doc_id") % 13 == 0).select(
            (_FF.col("doc_id") + 1000000).alias("doc_id"), "text"
        ).unionByName(
            docs.where(_FF.col("doc_id") % 17 == 0).select(
                (_FF.col("doc_id") + 2000000).alias("doc_id"),
                _FF.concat(_FF.col("text"), _FF.lit(" extra suffix")).alias("text"),
            )
        )
        D.dedup_against(docs.select("doc_id", "text"), batch, cfg).count()
        timings["dedup_incremental"] = round(time.monotonic() - t0, 3)
        t0 = time.monotonic()
        SIM.brute_force_topk(emb, probe_id=0, k=10).count()
        timings["ann_brute_force"] = round(time.monotonic() - t0, 3)
        t0 = time.monotonic()
        SIM.lsh_ann_topk(emb, probe_id=0, k=10).count()
        timings["ann_lsh"] = round(time.monotonic() - t0, 3)
        t0 = time.monotonic()
        SIM.ivf_ann_topk(emb, probe_id=0, k=10).count()
        timings["ann_ivf"] = round(time.monotonic() - t0, 3)
        t0 = time.monotonic()
        SIM.embedding_lsh_pairs(emb, limit=50).count()
        timings["dedup_embedding_lsh"] = round(time.monotonic() - t0, 3)

        # --- r2 search-surface additions -------------------------------
        from fastcatsearch3_spark.plans.query import parse_query
        from fastcatsearch3_spark.plans.search import (
            more_like_this,
            spell_suggest,
        )

        t0 = time.monotonic()
        search_index(
            spark, store, parse_query("spark merge^3", cfg), k=10
        ).collect()
        timings["q_boost"] = round(time.monotonic() - t0, 3)
        t0 = time.monotonic()
        spell_suggest(spark, store, "qery", k=10).collect()
        timings["q_spell"] = round(time.monotonic() - t0, 3)
        t0 = time.monotonic()
        more_like_this(spark, store, 7, corpus, m=5, k=10).collect()
        timings["q_mlt"] = round(time.monotonic() - t0, 3)
        from fastcatsearch3_spark.plans.search import search_collapse

        t0 = time.monotonic()
        search_collapse(
            spark, store, ParsedQuery(terms=["vector", "stream"], op="OR"),
            "repo", k=8, per_group=2, corpus_df=corpus,
        ).collect()
        timings["q_collapse"] = round(time.monotonic() - t0, 3)
        # wildcard MultiTermQuery: literal-lead probe (no Spark job) +
        # group-scored search (BENCH/WILDCARD_AB_r04.md)
        t0 = time.monotonic()
        search_index(spark, store, "s?a* merge", k=10).collect()
        timings["q_wildcard"] = round(time.monotonic() - t0, 3)

        # --- late-r4 serving additions: rescore window, function score,
        # related keywords (min-of-2 warm passes; tracked as separate keys
        # so the p50/p95 mix stays comparable across rounds) -------------
        from fastcatsearch3_spark.plans.search import (
            function_score,
            related_keywords,
            rescore_topk,
        )

        reps = []
        for _ in range(2):
            t0 = time.monotonic()
            rescore_topk(
                spark, store_pos, "spark OR merge", '"spark merge"',
                k=10, window=50,
            ).collect()
            reps.append(time.monotonic() - t0)
        timings["q_rescore"] = round(min(reps), 3)
        reps = []
        for _ in range(2):
            t0 = time.monotonic()
            function_score(
                spark, store, "spark merge",
                docs.select("doc_id", "n_chars"), "n_chars", k=10,
            ).collect()
            reps.append(time.monotonic() - t0)
        timings["q_function_score"] = round(min(reps), 3)
        reps = []
        for _ in range(2):
            t0 = time.monotonic()
            related_keywords(
                spark, store, "spark merge", corpus, top_n=10
            ).collect()
            reps.append(time.monotonic() - t0)
        timings["q_related"] = round(min(reps), 3)

        # --- r5 additions: factor-pruned function_score (artifact built
        # once, then kernel-side early termination), batch second-phase
        # rescore, index-time synonym search --------------------------
        from fastcatsearch3_spark.plans.query import ParsedQuery as _PQ
        from fastcatsearch3_spark.plans.search import (
            build_factor_artifact,
            function_score_topk,
            rescore_many,
        )

        t0 = time.monotonic()
        build_factor_artifact(
            spark, store, docs.select("doc_id", "n_chars"), "n_chars",
            "bench_pop",
        )
        timings["factor_artifact_build"] = round(time.monotonic() - t0, 3)
        reps = []
        for _ in range(2):
            t0 = time.monotonic()
            function_score_topk(
                spark, store, _PQ(terms=["spark", "merge"], op="OR"),
                "bench_pop", k=10,
            ).collect()
            reps.append(time.monotonic() - t0)
        timings["q_function_score_pruned"] = round(min(reps), 3)
        reps = []
        for _ in range(2):
            t0 = time.monotonic()
            rescore_many(
                spark, store_pos,
                {
                    "a": ("spark OR merge", '"spark merge"'),
                    "b": ("table OR hash", '"table hash"'),
                    "c": ("query OR window", '"query window"'),
                    "d": ("scan OR line", '"scan line"'),
                },
                k=10, window=50,
            ).collect()
            reps.append(time.monotonic() - t0)
        timings["q_rescore_batch4"] = round(min(reps), 3)

        # --- integrity audit (operators/fsck.py) -----------------------
        from fastcatsearch3_spark.operators.fsck import fsck_index

        t0 = time.monotonic()
        fsck_report = fsck_index(spark, store)
        timings["index_fsck"] = round(time.monotonic() - t0, 3)
        assert fsck_report["ok"], fsck_report

        # --- text/multimodal pipeline ops ------------------------------
        from fastcatsearch3_spark.dataops import multimodal as MMOD
        from fastcatsearch3_spark.dataops import textstats as TSTAT

        t0 = time.monotonic()
        TSTAT.repetition_stats(docs, cfg).count()
        timings["repetition_stats"] = round(time.monotonic() - t0, 3)
        t0 = time.monotonic()
        MMOD.resize(docs, out_w=4, out_h=3).count()
        timings["multimodal_resize"] = round(time.monotonic() - t0, 3)
        t0 = time.monotonic()
        MMOD.frame_sample(docs, frame_bytes=64, every=4).count()
        timings["multimodal_frames"] = round(time.monotonic() - t0, 3)

        # --- curation dataops ------------------------------------------
        from fastcatsearch3_spark.dataops import curation as CU

        t0 = time.monotonic()
        CU.sample_stratified(docs, {"en": 0.5, "fr": 0.25}).count()
        timings["sample_stratified"] = round(time.monotonic() - t0, 3)
        t0 = time.monotonic()
        from pyspark.sql import functions as _F

        CU.ngram_contamination(
            docs, docs.where(_F.col("source") == "src0"), n=8
        ).count()
        timings["ngram_contamination"] = round(time.monotonic() - t0, 3)
        t0 = time.monotonic()
        CU.pack_sequences(docs, capacity=2048, n_buckets=16).count()
        timings["pack_sequences"] = round(time.monotonic() - t0, 3)
    finally:
        shutil.rmtree(root, ignore_errors=True)
        shutil.rmtree(root_pos, ignore_errors=True)

    total = time.monotonic() - t_all
    out = {
        "metric": "index-build files/sec + warm top-k BM25 latency",
        "value": round(total, 3),
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "n_docs": int(n_docs),
        "cpus": cpus,
        "git_sha": _git_sha(),
        "loadavg": list(os.getloadavg()),
        "build_docs_per_sec": round(n_docs / timings["index_build"], 1),
        "query_p50_sec": round(float(np.percentile(lat, 50)), 4),
        "query_p95_sec": round(float(np.percentile(lat, 95)), 4),
    }
    print(json.dumps(out))


if __name__ == "__main__":
    main()
