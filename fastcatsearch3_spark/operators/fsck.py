"""Distributed index integrity audit — ``fsck`` for an IndexStore.

The reference relies on per-file CRCs and its transport layer to keep
segment copies consistent across nodes (server:org.fastcatsearch
transport/segment handling [K — SURVEY.md S-8]); with shared storage that
operator disappeared, but a 10^12-doc index still wants an AUDIT job an
operator can run after a migration, a storage incident, or a suspicious
query result. This module re-expresses that need Spark-first:

* ``postings_audit`` — ONE mapInPandas pass over the postings relation
  that fully decodes every (segment, shard, term) blob with the same
  numpy kernels serving uses (functions/vbyte.py) and re-derives every
  structural invariant the encoder promised: entry count == df,
  Σtf == cf, strictly increasing docnos, last-docno / block-first /
  block-max-tf / block-min-dl metadata consistency, and the positions
  sidecar's per-entry alignment. Violations come back as data (an array
  column), never exceptions — a broken blob must not kill the audit that
  is looking for broken blobs.
* ``recomputed_lexicon`` — the audit's (term, df, cf) re-aggregated
  across segments; equality with the published ``lexicon/`` artifact is
  the cross-file invariant (blobs ⇔ lexicon).
* ``fsck_index`` — the full report: structure (manifests, stats,
  segment-dir agreement), blob audit, lexicon reconciliation, docmap
  range containment, posting ``dl`` against docmap ``dl`` on a
  deterministic entry sample, and (when the corpus copy exists) the
  content sha256 invariant recheck (BASELINE.json input_hint).

Scale shape: the audit is embarrassingly parallel (no shuffle until the
small per-term aggregate), reads each postings byte exactly once, and
the expensive cross-checks stay AGGREGATE-sized: the docmap check
compares per-(segment, shard) docno ranges (num_segments × num_shards
rows), never exploded postings, and the dl check joins only the sample
(1/``DL_SAMPLE_MOD`` of the docs' entries plus one per list). The sha
recheck is sampleable (``sha_sample_mod``) for routine audits of a
100 TB document store.
"""

from __future__ import annotations

import json
from pathlib import Path
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fastcatsearch3_spark.functions.vbyte import (
    decode_meta,
    decode_positions_blob,
    decode_postings,
)

_AUDIT_SCHEMA = (
    "segment_id int, shard int, term string, df bigint, cf bigint, "
    "decoded_df bigint, decoded_cf bigint, min_docno bigint, "
    "max_docno bigint, violations array<string>, "
    "sample_docno array<bigint>, sample_dl array<bigint>"
)

# the dl sample: every entry whose docno is a multiple of this, plus each
# list's first entry
DL_SAMPLE_MOD = 64
_NO_SAMPLE = (np.zeros(0, np.int64), np.zeros(0, np.int64))


def _audit_one(blob: bytes, pos_blob, df_col: int, cf_col: int) -> tuple:
    """Decode one posting blob and return (decoded_df, decoded_cf,
    min_docno, max_docno, violations, sample docnos, sample dls): the
    dl sample as arrays, empty when the blob does not decode. Never
    raises."""
    bad: list[str] = []
    try:
        b = np.frombuffer(blob, dtype=np.uint8)
        meta = decode_meta(b)
        docnos, tfs, dls = decode_postings(b, meta)
    except Exception as e:  # malformed bytes must surface as data
        return -1, -1, -1, -1, [f"decode_error:{type(e).__name__}"], *_NO_SAMPLE
    # the invariant checks themselves must ALSO never raise — a blob
    # that decodes into nonsense (e.g. a corrupted block_size of 0, a
    # block count that overflows reduceat) is precisely what the audit
    # exists to report, so any exception here becomes a violation row
    try:
        n = int(docnos.size)
        dec_cf = int(tfs.sum())
        if n != df_col:
            bad.append("df_mismatch")
        if dec_cf != cf_col:
            bad.append("cf_mismatch")
        if n > 1 and not bool(np.all(docnos[1:] > docnos[:-1])):
            bad.append("docnos_not_increasing")
        if n and int(docnos[-1]) != meta.last_docno:
            bad.append("last_docno_mismatch")
        if meta.block_size <= 0:
            bad.append("bad_block_size")
        else:
            starts = np.arange(0, n, meta.block_size, dtype=np.int64)
            if starts.size != meta.nblocks:
                bad.append("block_count_mismatch")
            else:
                if not bool(np.array_equal(docnos[starts], meta.block_first)):
                    bad.append("block_first_mismatch")
                if not bool(
                    np.array_equal(
                        np.maximum.reduceat(tfs, starts), meta.block_maxtf
                    )
                ):
                    bad.append("block_maxtf_mismatch")
                if not bool(
                    np.array_equal(
                        np.minimum.reduceat(dls, starts), meta.block_mindl
                    )
                ):
                    bad.append("block_mindl_mismatch")
        if pos_blob is not None:
            try:
                flat, entry_starts = decode_positions_blob(
                    np.frombuffer(pos_blob, dtype=np.uint8), tfs
                )
                # within-entry positions strictly increase (gaps ≥ 1)
                nonstart = np.ones(flat.size, dtype=bool)
                nonstart[entry_starts] = False
                if flat.size > 1 and not bool(
                    np.all(np.diff(flat)[nonstart[1:]] > 0)
                ):
                    bad.append("positions_not_increasing")
            except Exception as e:
                bad.append(f"positions_error:{type(e).__name__}")
        mn = int(docnos[0]) if n else -1
        mx = int(docnos[-1]) if n else -1
        keep = docnos % np.uint64(DL_SAMPLE_MOD) == 0
        keep[:1] = True
        sample = docnos[keep].astype(np.int64), dls[keep].astype(np.int64)
        return n, dec_cf, mn, mx, bad, *sample
    except Exception as e:
        bad.append(f"audit_error:{type(e).__name__}")
        return -1, -1, -1, -1, bad, *_NO_SAMPLE


def postings_audit(spark: SparkSession, store) -> DataFrame:
    """Decode-audit every posting blob (see module docstring). Returns
    one row per (segment_id, shard, term) with re-derived df/cf, the
    docno range, a ``violations`` array (empty == healthy) and the dl
    sample (``sample_docno``, ``sample_dl``: the entries whose docno is a
    multiple of ``DL_SAMPLE_MOD``, plus the first). Field-qualified terms
    carry their field's length, not the docmap's, so their sample is
    empty."""
    postings = store.postings(spark)
    has_pos = "positions" in postings.columns
    field_prefixes = tuple(
        f"{f}:" for f in store.config().indexed_fields if f != "content"
    )
    cols = ["segment_id", "shard", "term", "df", "cf", "postings"] + (
        ["positions"] if has_pos else []
    )

    def audit(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            out = {
                "segment_id": pdf["segment_id"].to_numpy(np.int32),
                "shard": pdf["shard"].to_numpy(np.int32),
                "term": pdf["term"].to_numpy(object),
                "df": pdf["df"].to_numpy(np.int64),
                "cf": pdf["cf"].to_numpy(np.int64),
            }
            pos = pdf["positions"] if has_pos else None
            res = [
                _audit_one(
                    blob,
                    None if pos is None or pos.iloc[i] is None else pos.iloc[i],
                    int(out["df"][i]),
                    int(out["cf"][i]),
                )
                for i, blob in enumerate(pdf["postings"])
            ]
            out["decoded_df"] = np.array([r[0] for r in res], dtype=np.int64)
            out["decoded_cf"] = np.array([r[1] for r in res], dtype=np.int64)
            out["min_docno"] = np.array([r[2] for r in res], dtype=np.int64)
            out["max_docno"] = np.array([r[3] for r in res], dtype=np.int64)
            out["violations"] = [r[4] for r in res]
            samples = [
                _NO_SAMPLE if t.startswith(field_prefixes) else r[5:]
                for t, r in zip(out["term"], res)
            ]
            out["sample_docno"] = [d for d, _ in samples]
            out["sample_dl"] = [dl for _, dl in samples]
            yield pd.DataFrame(out)

    return postings.select(*cols).mapInPandas(audit, _AUDIT_SCHEMA)


def recomputed_lexicon(spark: SparkSession, store) -> DataFrame:
    """(term, df, cf) re-derived from blob decode, summed across segments
    — must equal the published ``lexicon/`` artifact exactly."""
    return (
        postings_audit(spark, store)
        .groupBy("term")
        .agg(
            F.sum("decoded_df").alias("df"), F.sum("decoded_cf").alias("cf")
        )
    )


def fsck_index(
    spark: SparkSession,
    store,
    corpus: DataFrame | None = None,
    sha_sample_mod: int = 1,
) -> dict:
    """Full integrity report. Returns a dict of check → {"ok": bool,
    "violations": int, "examples": [...]}; raises nothing.

    ``corpus``: the source relation (normalized CORPUS shape) to recheck
    the per-row content_sha256 invariant against the docmap's stored
    hashes (source ⇔ index). Defaults to the store's own ``corpus/``
    copy when one exists; skipped when neither is available. Documents
    with multiple docmap versions (superseded pk upserts awaiting
    compaction) are excluded — their old content no longer exists at the
    source. ``sha_sample_mod`` > 1 checks a deterministic 1/mod document
    sample (pmod(xxhash64(doc_id), mod) = 0) — routine-audit mode for a
    100 TB docstore."""
    report: dict[str, dict] = {}

    def rec(name: str, examples: list, total: int | None = None):
        report[name] = {
            "ok": not examples and not total,
            "violations": int(total if total is not None else len(examples)),
            "examples": [str(e) for e in examples[:5]],
        }

    # -- structure: segment dirs ⇔ manifests ⇔ stats ---------------------
    root = Path(store.root)
    seg_of = lambda p: int(p.name.split("=", 1)[1])  # noqa: E731
    post_segs = sorted(
        seg_of(p) for p in (root / "postings").glob("segment_id=*")
    )
    doc_segs = sorted(
        seg_of(p) for p in (root / "docmap").glob("segment_id=*")
    )
    man_segs = sorted(
        int(p.stem.split("-", 1)[1])
        for p in (root / "manifest").glob("segment-*.json")
    )
    probs = []
    if post_segs != doc_segs:
        probs.append(f"postings segments {post_segs} != docmap {doc_segs}")
    missing_man = [s for s in post_segs if s not in man_segs]
    if missing_man:
        probs.append(f"segments without manifest: {missing_man}")
    for s in man_segs:
        try:
            json.loads((root / "manifest" / f"segment-{s}.json").read_text())
        except Exception as e:
            probs.append(f"manifest segment-{s} unreadable: {e}")
    rec("structure", probs)

    docmap = store.docmap(spark)
    stats = store.stats()
    n_docs = docmap.count()
    probs = []
    if int(stats.get("n_docs", -1)) != n_docs:
        probs.append(
            f"stats.n_docs={stats.get('n_docs')} != docmap rows {n_docs}"
        )
    rec("stats", probs)

    # -- blob audit -------------------------------------------------------
    audit = postings_audit(spark, store)
    audit.persist()
    try:
        viol = (
            audit.select(F.explode("violations").alias("v"), "term")
            .groupBy("v")
            .agg(F.count("*").alias("n"), F.min("term").alias("example_term"))
            .collect()
        )
        rec(
            "postings_blobs",
            [f"{r['v']} x{r['n']} (e.g. {r['example_term']})" for r in viol],
            total=sum(r["n"] for r in viol),
        )

        # -- lexicon reconciliation (blobs ⇔ published artifact) ----------
        rebuilt = audit.groupBy("term").agg(
            F.sum("decoded_df").alias("rdf"), F.sum("decoded_cf").alias("rcf")
        )
        lex = store.lexicon(spark)
        bad = (
            rebuilt.join(lex, "term", "full_outer")
            .where(
                F.col("df").isNull()
                | F.col("rdf").isNull()
                | (F.col("df") != F.col("rdf"))
                | (F.col("cf") != F.col("rcf"))
            )
            .select("term")
            .limit(5)
            .collect()
        )
        n_bad = 0
        if bad:
            n_bad = (
                rebuilt.join(lex, "term", "full_outer")
                .where(
                    F.col("df").isNull()
                    | F.col("rdf").isNull()
                    | (F.col("df") != F.col("rdf"))
                    | (F.col("cf") != F.col("rcf"))
                )
                .count()
            )
        rec("lexicon", [r["term"] for r in bad], total=n_bad)

        # -- docmap range containment (aggregate-sized, never exploded) ---
        blob_rng = audit.groupBy("segment_id", "shard").agg(
            F.min("min_docno").alias("bmin"), F.max("max_docno").alias("bmax")
        )
        doc_rng = docmap.groupBy("segment_id", "shard").agg(
            F.min("docno").alias("dmin"),
            F.max("docno").alias("dmax"),
            F.count("*").alias("ndocs"),
        )
        bad = (
            blob_rng.join(doc_rng, ["segment_id", "shard"], "full_outer")
            .where(
                F.col("dmin").isNull()
                | (F.col("bmin") < F.col("dmin"))
                | (F.col("bmax") > F.col("dmax"))
            )
            .collect()
        )
        rec(
            "docmap_ranges",
            [f"segment {r['segment_id']} shard {r['shard']}" for r in bad],
        )

        # -- posting dl ⇔ docmap dl, on the audit's deterministic sample --
        entry = F.explode(F.arrays_zip("sample_docno", "sample_dl"))
        sample = audit.select("segment_id", "shard", entry.alias("s")).select(
            "segment_id", "shard",
            F.col("s.sample_docno").alias("docno"),
            F.col("s.sample_dl").alias("posting_dl"),
        )
        mism = sample.join(
            docmap.select("segment_id", "shard", "docno", "dl"),
            ["segment_id", "shard", "docno"],
        ).where(F.col("posting_dl") != F.col("dl"))
        bad = mism.limit(5).collect()
        rec(
            "docmap_dl",
            [
                f"dl_mismatch segment {r['segment_id']} shard {r['shard']} "
                f"docno {r['docno']}: postings {r['posting_dl']} != "
                f"docmap {r['dl']}"
                for r in bad
            ],
            total=mism.count() if bad else 0,
        )
    finally:
        audit.unpersist()

    # -- content sha256 invariant (input_hint: source ⇔ index) ------------
    if corpus is None and store.has_corpus():
        corpus = store.corpus(spark)
    if corpus is not None:
        src = corpus.select(
            "doc_id", F.sha2(F.col("content"), 256).alias("src_sha")
        )
        live = docmap
        dels = store.deletes(spark)
        if dels is not None:
            # tombstoned-but-not-compacted rows are not live: their
            # source content may have legitimately changed since, so
            # they must not page the operator as sha violations
            live = live.join(
                dels.select("doc_id", "segment_id").distinct(),
                ["doc_id", "segment_id"],
                "left_anti",
            )
        stored = live.groupBy("doc_id").agg(
            F.count("*").alias("nver"),
            F.min("content_sha256").alias("stored_sha"),
        )
        if sha_sample_mod > 1:
            cond = F.pmod(F.xxhash64("doc_id"), F.lit(sha_sample_mod)) == 0
            src, stored = src.where(cond), stored.where(cond)
        mism = src.join(stored, "doc_id", "inner").where(
            (F.col("nver") == 1) & (F.col("src_sha") != F.col("stored_sha"))
        )
        bad = mism.select("doc_id").limit(5).collect()
        n_bad = mism.count() if bad else 0
        rec("content_sha256", [r["doc_id"] for r in bad], total=n_bad)

    report["ok"] = all(
        v["ok"] for k, v in report.items() if isinstance(v, dict)
    )
    return report
