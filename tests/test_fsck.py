"""Index integrity audit (operators/fsck.py): a healthy index reports
every check ok; each class of corruption — flipped blob bytes, a
tampered lexicon row, a tampered content sha, a deleted manifest — is
detected as DATA (violation rows), never as an exception that kills the
audit job."""

from __future__ import annotations

import json
from pathlib import Path

import numpy as np
import pandas as pd
import pyarrow.parquet as pq
import pytest

from fastcatsearch3_spark.config import EngineConfig
from fastcatsearch3_spark.index import IndexStore
from fastcatsearch3_spark.operators.build import build_index
from fastcatsearch3_spark.operators.fsck import (
    fsck_index,
    postings_audit,
    recomputed_lexicon,
)
from fastcatsearch3_spark.operators.ingest import normalize_corpus

ROWS = [
    (1, "spark merge table fast scan"),
    (2, "slow merge line table query"),
    (3, "merge merge merge stable spark"),
    (4, "spark slow value tables window"),
    (5, "query window scan merge spark table"),
]


def _build(spark, tmp_path, store_positions=False):
    pdf = pd.DataFrame(
        {
            "doc_id": [r[0] for r in ROWS],
            "text": [r[1] for r in ROWS],
            "lang": "en",
            "source": "src1",
            "n_chars": [len(r[1]) for r in ROWS],
        }
    )
    corpus = normalize_corpus(spark.createDataFrame(pdf))
    cfg = EngineConfig(num_shards=2, store_positions=store_positions)
    root = str(tmp_path / "idx")
    build_index(spark, corpus, root, cfg)
    return IndexStore(root), corpus


def _one_parquet(root: Path, sub: str) -> Path:
    """First NON-EMPTY parquet file (a multi-partition write can leave
    empty part files; tampering row 0 of one would silently append a
    junk row via .loc instead)."""
    files = sorted(Path(root, sub).rglob("*.parquet"))
    assert files, f"no parquet under {sub}"
    for f in files:
        if pq.read_metadata(f).num_rows > 0:
            return f
    raise AssertionError(f"all parquet files under {sub} are empty")


def test_healthy_index_is_clean(spark, tmp_path):
    store, corpus = _build(spark, tmp_path, store_positions=True)
    report = fsck_index(spark, store, corpus=corpus)
    assert report["ok"], report
    for k, v in report.items():
        if isinstance(v, dict):
            assert v["ok"], (k, v)
    # the audit relation itself carries zero violations
    audit = postings_audit(spark, store).toPandas()
    assert all(len(v) == 0 for v in audit["violations"])
    assert (audit["df"] == audit["decoded_df"]).all()
    assert (audit["cf"] == audit["decoded_cf"]).all()


def test_recomputed_lexicon_equals_published(spark, tmp_path):
    store, _ = _build(spark, tmp_path)
    rebuilt = (
        recomputed_lexicon(spark, store).toPandas().sort_values("term")
    )
    lex = store.lexicon(spark).toPandas().sort_values("term")
    assert list(rebuilt["term"]) == list(lex["term"])
    assert list(rebuilt["df"]) == list(lex["df"])
    assert list(rebuilt["cf"]) == list(lex["cf"])


def _rewrite_parquet(path: Path, mutate):
    """Read one parquet file, apply ``mutate`` to its pandas frame, write
    it back (same schema). Drops Hadoop's ``.crc`` sidecar so the local
    filesystem reader doesn't reject the tampered file before the audit
    gets to look at its contents."""
    table = pq.read_table(path)
    pdf = table.to_pandas()
    pdf = mutate(pdf)
    import pyarrow as pa

    pq.write_table(
        pa.Table.from_pandas(pdf, schema=table.schema, preserve_index=False),
        path,
    )
    crc = path.parent / f".{path.name}.crc"
    if crc.exists():
        crc.unlink()


_rewrite_postings = _rewrite_parquet


def test_corrupt_blob_bytes_detected_not_raised(spark, tmp_path):
    store, _ = _build(spark, tmp_path)
    path = _one_parquet(Path(store.root), "postings")

    def flip(pdf):
        blob = bytearray(pdf.loc[0, "postings"])
        blob[len(blob) // 2] ^= 0xFF
        blob[-1] ^= 0xFF
        pdf.loc[0, "postings"] = bytes(blob)
        return pdf

    _rewrite_postings(path, flip)
    report = fsck_index(spark, IndexStore(store.root))
    assert not report["ok"]
    assert not report["postings_blobs"]["ok"]
    assert report["postings_blobs"]["violations"] >= 1


def test_tampered_df_column_detected(spark, tmp_path):
    store, _ = _build(spark, tmp_path)
    path = _one_parquet(Path(store.root), "postings")

    def bump(pdf):
        pdf.loc[0, "df"] = pdf.loc[0, "df"] + 1
        return pdf

    _rewrite_postings(path, bump)
    report = fsck_index(spark, IndexStore(store.root))
    assert not report["postings_blobs"]["ok"]
    assert any(
        "df_mismatch" in e for e in report["postings_blobs"]["examples"]
    )
    # lexicon reconciliation stays ok: publish happened before the
    # tamper and the BLOB DECODE (which reconciliation uses, not the
    # tampered df column) still agrees with the published sums
    assert report["lexicon"]["ok"]


def test_tampered_lexicon_detected(spark, tmp_path):
    store, _ = _build(spark, tmp_path)
    path = _one_parquet(Path(store.root), "lexicon")
    def bump_cf(pdf):
        pdf.loc[0, "cf"] = int(pdf.loc[0, "cf"]) + 7
        return pdf

    _rewrite_parquet(path, bump_cf)
    report = fsck_index(spark, IndexStore(store.root))
    assert not report["lexicon"]["ok"]
    assert report["lexicon"]["violations"] == 1
    assert report["postings_blobs"]["ok"]  # blobs themselves are fine


def test_tampered_docmap_sha256_detected(spark, tmp_path):
    store, corpus = _build(spark, tmp_path)
    path = _one_parquet(Path(store.root), "docmap")
    def zero_sha(pdf):
        pdf.loc[0, "content_sha256"] = "0" * 64
        return pdf

    _rewrite_parquet(path, zero_sha)
    report = fsck_index(spark, IndexStore(store.root), corpus=corpus)
    assert not report["content_sha256"]["ok"]
    assert report["content_sha256"]["violations"] == 1


def test_missing_manifest_detected(spark, tmp_path):
    store, _ = _build(spark, tmp_path)
    mans = sorted(Path(store.root, "manifest").glob("segment-*.json"))
    mans[0].unlink()
    report = fsck_index(spark, IndexStore(store.root))
    assert not report["structure"]["ok"]
    assert "without manifest" in report["structure"]["examples"][0]


def test_stats_drift_detected(spark, tmp_path):
    store, _ = _build(spark, tmp_path)
    sp = Path(store.root, "stats.json")
    stats = json.loads(sp.read_text())
    stats["n_docs"] += 3
    sp.write_text(json.dumps(stats))
    report = fsck_index(spark, IndexStore(store.root))
    assert not report["stats"]["ok"]


def test_positions_sidecar_audited(spark, tmp_path):
    store, _ = _build(spark, tmp_path, store_positions=True)
    path = _one_parquet(Path(store.root), "postings")

    def truncate_positions(pdf):
        assert "positions" in pdf.columns
        blob = pdf.loc[0, "positions"]
        pdf.loc[0, "positions"] = bytes(blob[: max(1, len(blob) - 2)])
        return pdf

    _rewrite_postings(path, truncate_positions)
    report = fsck_index(spark, IndexStore(store.root))
    assert not report["postings_blobs"]["ok"]
    assert any(
        "positions" in e for e in report["postings_blobs"]["examples"]
    )


def test_sha_sampling_is_deterministic_subset(spark, tmp_path):
    store, corpus = _build(spark, tmp_path)
    full = fsck_index(spark, store, corpus=corpus, sha_sample_mod=1)
    sampled = fsck_index(spark, store, corpus=corpus, sha_sample_mod=4)
    assert full["content_sha256"]["ok"]
    assert sampled["content_sha256"]["ok"]


def test_bad_block_size_is_violation_not_crash():
    """A corrupted block_size of 0 decodes 'cleanly' (single-block blobs
    derive their count independently) but must surface as a violation
    row, never an exception from the invariant checks themselves
    (review finding: np.arange(step=0) raised OUTSIDE the try)."""
    from fastcatsearch3_spark.functions.vbyte import (
        decode_meta,
        encode_postings,
        vbyte_encode,
    )
    from fastcatsearch3_spark.operators.fsck import _audit_one

    docnos = np.arange(1, 6, dtype=np.uint64)
    tfs = np.ones(5, dtype=np.uint64)
    dls = np.full(5, 7, dtype=np.uint64)
    blob = encode_postings(docnos, tfs, dls, 128)
    b = np.frombuffer(blob, dtype=np.uint8)
    meta = decode_meta(b)
    nb = meta.nblocks
    bf_delta = np.empty(nb, dtype=np.uint64)
    bf_delta[0] = meta.block_first[0]
    bf_delta[1:] = np.diff(meta.block_first)
    meta_vals = np.concatenate(
        [
            np.array([meta.n, nb, 0, meta.last_docno], dtype=np.uint64),
            bf_delta,
            np.asarray(meta.block_maxtf, dtype=np.uint64),
            np.asarray(meta.block_mindl, dtype=np.uint64),
            meta.block_bytes.astype(np.uint64),
        ]
    )
    tampered = vbyte_encode(meta_vals).tobytes() + bytes(
        b[meta.data_offset :]
    )
    dec_df, dec_cf, mn, mx, bad = _audit_one(tampered, None, 5, 5)[:5]
    assert "bad_block_size" in bad


def test_tombstoned_doc_with_changed_source_not_a_sha_violation(
    spark, tmp_path
):
    """A deleted-but-not-compacted doc whose source content has since
    changed must not page the operator as a sha mismatch (review
    finding #5): the docmap row is excluded via the tombstone set."""
    from pyspark.sql import functions as F

    store, corpus = _build(spark, tmp_path)
    edited = corpus.withColumn(
        "content",
        F.when(F.col("doc_id") == 1, F.lit("totally rewritten since"))
        .otherwise(F.col("content")),
    ).withColumn("content_sha256", F.sha2(F.col("content"), 256))

    # without a tombstone the edit IS a (true) violation
    report = fsck_index(spark, store, corpus=edited)
    assert not report["content_sha256"]["ok"]

    # tombstone doc 1 in every segment → excluded, check back to ok
    segs = (
        store.docmap(spark)
        .where(F.col("doc_id") == 1)
        .select("segment_id")
        .distinct()
        .collect()
    )
    dels = spark.createDataFrame(
        [(1, int(r["segment_id"])) for r in segs],
        "doc_id long, segment_id int",
    )
    dels.write.mode("append").parquet(str(Path(store.root) / "deletes"))
    report = fsck_index(spark, IndexStore(store.root), corpus=edited)
    assert report["content_sha256"]["ok"], report["content_sha256"]


@pytest.mark.parametrize("mutate", [False, True])
def test_posting_dl_checked_against_docmap(spark, tmp_path, monkeypatch, mutate):
    """A compaction whose decode shifts every entry's dl writes postings
    that disagree with the docmap (BM25 length norms all off by one):
    fsck's sampled dl check reports it, and stays ok without the shift."""
    from fastcatsearch3_spark.streaming import incremental as inc

    store, _ = _build(spark, tmp_path, store_positions=True)
    if mutate:
        real = inc._decode_iter

        def shifted(batches):
            for entries in real(batches):
                yield entries.assign(dl=entries["dl"] + 1)

        monkeypatch.setattr(inc, "_decode_iter", shifted)
    inc.compact(spark, store.root)
    monkeypatch.undo()
    report = fsck_index(spark, IndexStore(store.root))
    assert report["ok"] is not mutate, report
    dl = report["docmap_dl"]
    if mutate:
        assert dl["violations"] >= 1
        assert dl["examples"][0].startswith("dl_mismatch"), dl
    else:
        assert dl == {"ok": True, "violations": 0, "examples": []}
    # the other checks cannot see the shift
    assert report["postings_blobs"]["ok"] and report["docmap_ranges"]["ok"]


def test_field_terms_carry_no_dl_sample(spark, tmp_path):
    """Field-qualified terms hold their field's length, not the docmap's
    content dl, so they are left out of the sample (no false alarms)."""
    pdf = pd.DataFrame(
        {
            "doc_id": [r[0] for r in ROWS],
            "text": [r[1] for r in ROWS],
            "lang": "en",
            "source": "src1",
            "n_chars": [len(r[1]) for r in ROWS],
        }
    )
    cfg = EngineConfig(num_shards=2, indexed_fields=("content", "path"))
    root = str(tmp_path / "idx")
    build_index(spark, normalize_corpus(spark.createDataFrame(pdf)), root, cfg)
    store = IndexStore(root)
    audit = postings_audit(spark, store).toPandas()
    field = audit["term"].str.startswith("path:")
    assert field.any() and (~field).any()
    assert all(len(s) == 0 for s in audit.loc[field, "sample_docno"])
    assert all(len(s) >= 1 for s in audit.loc[~field, "sample_docno"])
    report = fsck_index(spark, store)
    assert report["ok"] and report["docmap_dl"]["ok"], report
