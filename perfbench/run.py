"""End-to-end benchmark of the fastcatsearch3_spark engine.

    python3 perfbench/run.py --workload query_batch --seed 1 --seconds 10 --trace 0

Runs one workload in a fresh process (one client thread, Spark
``local[<cpus>]``), checks every answer, and prints as its last stdout
line one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics``. With ``--trace 0`` the metrics are the end-to-end ones;
with ``--trace 1`` they are the per-layer ones, from spans the benchmark
records around its calls into each layer (see spans.py). The line before
it holds the run's provenance and sample counts. The exit code is 0 only
when every operation succeeded and every answer was right.

Workloads (closed loop, one client, positions on, 8 shards):

* ``query_batch``: ``Collection.search_many`` over 48-query batches on a
  10k-doc index. The fixed per-request cost is paid once per 48 queries;
  Spark's execution of the batch (``collect``) is about three quarters
  of a request, and the ``score_group`` kernel, postings decode
  included, about a quarter in one-core CPU time (see the trace layers).
* ``ingest_mixed``: a 5k-doc base. Each cycle appends new docs carrying
  a per-cycle marker token plus updates of existing keys, deletes keys,
  reads (the marker queries and four queries from the mix), compacts
  and reads again. Every write changes the index epoch, so post-write
  reads pay the per-epoch work (denied mask).

Checks: flat AND/OR/NOT answers equal the pandas oracle
(``tests/oracle.py``); every query has a hit; batch rows equal
``search_index`` rows; a marker query returns exactly its cycle's live
docs, before and after later writes and compaction.

Set-up: Spark start (timed), then untimed a tiny index that starts the
Python workers and serves the request types once; the workload's index
is then built twice and ``setup_s`` = Spark start + median build.
Everything the run writes lives under ``.bench_build/perfbench`` in the
checkout.

Processes: the benchmark is a child subreaper, so descendants that lose
their parent (the pyspark daemon and its workers outlive the JVM for a
moment) are re-parented to it. On every way out, SIGTERM included, it
stops every process below it and waits until each has ended. The input
helper also dies with it should it be killed outright.

Host: a fixed Python loop is timed at the start, after set-up, after the
workload and at the end. When these differ by more than HOST_DRIFT the
details line says ``host_contended`` and a warning goes to stderr; the
figures are still reported, so a contended run is visible, not hidden.
"""

from __future__ import annotations

import argparse
import contextlib
import ctypes
import hashlib
import json
import os
import pickle
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path[:0] = [str(HERE), str(ROOT)]

from measure import error_rate, same_ranking, tail  # noqa: E402
from spans import Tracer, job_counts, layer_self_ms  # noqa: E402

WORKLOADS = {
    # oracle: distinct flat queries checked against the pandas oracle per
    # run. It rescans the corpus per query (~0.5 s per 1k docs), in a
    # helper process while the JVM warms up, so the count is what fits
    # in that window; the answers are cached per (seed, size).
    "query_batch": {"docs": 10_000, "batch": 48, "oracle": 2},
    "ingest_mixed": {
        "docs": 5_000, "oracle": 3, "new": 40, "upd": 10, "del_new": 5, "del_prev": 3,
        "mix": 4,
    },
}
SETUP_BUILDS = 2
K = 10
MARKER_K = 64  # above the most docs one marker can match (new + upd)
MAX_CYCLES = 8
HOST_DRIFT = 0.25  # a run whose host probes differ by more is marked contended
SELF_TIME_TOL = 0.01  # span self times must sum to the request wall within 1%
STREAM = 600  # queries drawn per run; requests cycle through them
PREPARE_TIMEOUT_S = 150  # the input helper must be done by then

LAYER_UNITS = {
    "query.parse_ms": "ms", "index.stats_ms": "ms", "index.lexicon_ms": "ms",
    "index.open_ms": "ms", "index.denied_mask_ms": "ms",
    "search.plan_ms": "ms", "search.exec_ms": "ms", "search.jobs_per_req": "count",
    "search.stages_per_req": "count", "search.tasks_per_req": "count",
    "scoring.kernel_ms": "ms", "scoring.postings_bytes": "bytes",
    "vbyte.decode_ms": "ms", "vbyte.decode_mb_per_s": "MB/s",
    "analyzer.tokens_per_s": "tokens/s",
    "build.stage_s": "s", "build.docmap_s": "s", "build.postings_s": "s",
    "build.lexicon_s": "s", "build.postings_bytes": "bytes", "build.docmap_bytes": "bytes",
    "trace.overhead_pct": "%",
}


class Run:
    CACHE = ROOT / ".bench_build" / "perfbench" / "corpus"

    def __init__(self, args):
        self.args = args
        self.wl = WORKLOADS[args.workload]
        self.work = ROOT / ".bench_build" / "perfbench" / f"run-{os.getpid()}"
        self.cache = self.CACHE
        self.tracer = Tracer() if args.trace else None
        self.requests: list[dict] = []  # every read request, warm-up included
        self.writes: dict[str, list[tuple[str, float]]] = {"append": [], "delete": [], "compact": []}
        self.visible: list[float] = []
        self.ops = 0
        self.failures: list[str] = []
        self._failed_ops: set[int] = set()
        self.notes: dict = {}
        self.phase_s: dict[str, float] = {}
        self._last_mark = time.perf_counter()

    # -- bookkeeping -------------------------------------------------
    def mark(self, phase: str) -> None:
        """Record the wall time since the previous mark (run budget)."""
        now = time.perf_counter()
        self.phase_s[phase] = now - self._last_mark
        self._last_mark = now

    def op(self) -> int:
        self.ops += 1
        return self.ops

    def fail(self, op_id: int, why: str) -> None:
        self._failed_ops.add(op_id)
        if len(self.failures) < 20:
            self.failures.append(why)

    # -- spark -------------------------------------------------------
    def start_spark(self):
        cpus = len(os.sched_getaffinity(0))
        tmp, local = self.work / "tmp", self.work / "local"
        for d in (tmp, local):
            d.mkdir(parents=True, exist_ok=True)
        os.environ["PYTHONPATH"] = os.pathsep.join(
            [str(ROOT)] + [p for p in [os.environ.get("PYTHONPATH")] if p]
        )
        os.environ["PYSPARK_PYTHON"] = sys.executable
        os.environ["TMPDIR"] = str(tmp)
        os.environ["SPARK_LOCAL_DIRS"] = str(local)
        from pyspark.sql import SparkSession

        t0 = time.perf_counter()
        spark = (
            SparkSession.builder.master(f"local[{cpus}]")
            .appName("perfbench")
            .config("spark.ui.enabled", "false")
            .config("spark.ui.showConsoleProgress", "false")
            .config("spark.sql.shuffle.partitions", str(cpus))
            .config("spark.default.parallelism", str(cpus))
            .config("spark.sql.adaptive.enabled", "true")
            .config("spark.sql.session.timeZone", "UTC")
            .config("spark.driver.memory", "2g")
            .config("spark.local.dir", str(local))
            # a fixed young generation: G1's adaptive young sizing made the
            # JVM's peak RSS depend on collection timing (1.0-1.7 GB from
            # run to run). The old generation, where retained data lives,
            # still grows only as far as the program needs.
            .config("spark.driver.extraJavaOptions", f"-Djava.io.tmpdir={tmp} -Xmn256m")
            .config("spark.sql.warehouse.dir", str(self.work / "warehouse"))
            .getOrCreate()
        )
        spark.sparkContext.setLogLevel("ERROR")
        self.spark_start_s = time.perf_counter() - t0
        self.spark, self.cpus = spark, cpus
        return spark

    def stop_spark(self):
        from pyspark import SparkContext

        gw = SparkContext._gateway
        proc = getattr(gw, "proc", None)
        self.spark.stop()
        gw.shutdown()
        if proc is not None:
            proc.stdin.close()  # the JVM exits on EOF of its stdin
            proc.wait(timeout=60)

    # -- requests ----------------------------------------------------
    def request(self, kind: str, make_df, phase: str = "timed", traced: bool = False):
        """One read request: plan (the call that returns the DataFrame)
        then collect. Returns the collected rows, or None on failure."""
        rid = len(self.requests)
        rec = {"id": rid, "kind": kind, "phase": phase, "traced": traced, "op": self.op()}
        tr = self.tracer
        if tr is not None:
            self.spark.sparkContext.setJobGroup(f"pb-{rid}", kind)
        ctx = tr.instrument(self.col.store) if traced else contextlib.nullcontext()
        rows = None
        with ctx:
            if traced:
                tr.request = rid
            t0 = time.perf_counter()
            try:
                if traced:
                    with tr.span("request"):
                        with tr.span("search.plan"):
                            df = make_df()
                        with tr.span("search.exec"):
                            rows = df.collect()
                else:
                    rows = make_df().collect()
            except Exception as e:  # a failed request is counted, not fatal
                self.fail(rec["op"], f"{kind}: {type(e).__name__}: {e}")
            rec["s"] = time.perf_counter() - t0
            rec["ok"] = rows is not None
            if traced:
                tr.request = None
        if tr is not None:
            rec["jobs"] = job_counts(self.spark.sparkContext, f"pb-{rid}")
        self.requests.append(rec)
        return rows

    def search(self, text: str, kind: str, phase="timed", traced=False, k=K):
        rows = self.request(kind, lambda: self.col.search(text, k=k), phase, traced)
        self.requests[-1]["queries"] = [text]
        return rows

    def write(self, kind: str, fn, phase: str) -> None:
        op_id = self.op()
        t0 = time.perf_counter()
        try:
            fn()
        except Exception as e:
            self.fail(op_id, f"{kind}: {type(e).__name__}: {e}")
        self.writes[kind].append((phase, time.perf_counter() - t0))

    def traced_turn(self, kind: str, phase: str = "timed") -> bool:
        """In a traced run, alternate traced and untraced timed requests
        of each kind, so the untraced half measures tracing overhead."""
        if self.tracer is None or phase != "timed":
            return False
        n = sum(1 for r in self.requests if r["kind"] == kind and r["phase"] == "timed")
        return n % 2 == 0

    # -- set-up ------------------------------------------------------
    def warm_up(self, seed: int):
        """Absorb cold-JVM and cold-worker cost, untimed: build a tiny
        index (its pandas UDFs start the Python workers) and serve one
        search from it (and one batch for the batch workload)."""
        from fixtures.gen_corpus import gen_corpus
        from fastcatsearch3_spark.collection import Collection
        from fastcatsearch3_spark.operators.ingest import normalize_corpus

        spark = self.spark
        tiny = gen_corpus(200, seed=seed + 10_000)
        self.col = Collection(spark, str(self.work / "warm"), self.cfg)
        self.col.build(normalize_corpus(spark.createDataFrame(tiny)))
        self.mark("warm_build")
        self.search("index merge", "search", phase="warmup")
        if "batch" in self.wl:
            self.request(
                "batch",
                lambda: self.col.search_many({"a": "index", "b": "merge OR parse"}, k=K),
                phase="warmup",
            )

    def doc_ids(self, frames) -> dict:
        """(repo, path, commit) -> doc_id as the engine derives it
        (xxhash64 in Spark), in one untimed job."""
        import pandas as pd
        from fastcatsearch3_spark.operators.ingest import normalize_corpus

        idp = normalize_corpus(self.spark.createDataFrame(pd.concat(frames, ignore_index=True)))
        idp = idp.select("doc_id", "repo", "path", "commit").toPandas()
        return {(r.repo, r.path, r.commit): int(r.doc_id) for r in idp.itertuples()}

    def build(self, pdf):
        """SETUP_BUILDS timed builds of the workload's corpus; the last
        one is the index the workload runs on."""
        from fastcatsearch3_spark.collection import Collection
        from fastcatsearch3_spark.operators.build import read_manifest
        from fastcatsearch3_spark.operators.ingest import normalize_corpus

        builds, phases = [], []
        for i in range(SETUP_BUILDS):
            root = self.work / f"index{i}"
            t0 = time.perf_counter()
            col = Collection(self.spark, str(root), self.cfg)
            col.build(normalize_corpus(self.spark.createDataFrame(pdf)))
            dt = time.perf_counter() - t0
            m = read_manifest(str(root), 0)
            builds.append(dt)
            phases.append({
                "build.stage_s": m["metrics"]["phases"]["stage_sec"],
                "build.docmap_s": m["metrics"]["phases"]["docmap_sec"],
                "build.postings_s": m["metrics"]["phases"]["postings_sec"],
                "build.lexicon_s": dt - m["metrics"]["elapsed_sec"],
            })
            if i < SETUP_BUILDS - 1:
                shutil.rmtree(root)
        self.col = col
        self.build_s = builds
        self.build_layers = {k: statistics.median(p[k] for p in phases) for k in phases[0]}
        sizes = {d: _dir_bytes(root / d) for d in ("postings", "docmap", "lexicon")}
        self.build_layers["build.postings_bytes"] = sizes["postings"]
        self.build_layers["build.docmap_bytes"] = sizes["docmap"]
        content = int(pdf["content"].map(lambda s: len(s.encode())).sum())
        self.index_bytes_ratio = sum(sizes.values()) / content

    # -- workloads ---------------------------------------------------
    def run_query_batch(self, stream, oracle):
        B = self.wl["batch"]
        ntot = len(stream) // B
        answers: dict[str, list] = {}
        t_start = time.perf_counter()
        i = 0
        while i == 0 or time.perf_counter() - t_start < self.args.seconds:
            chunk = stream[(i % ntot) * B:(i % ntot + 1) * B]
            qs = {f"q{j}": text for j, (_s, text, _p) in enumerate(chunk)}
            rows = self.request(
                "batch", lambda: self.col.search_many(qs, k=K),
                traced=self.traced_turn("batch"),
            )
            op_id = self.requests[-1]["op"]
            self.requests[-1]["queries"] = list(qs.values())
            if rows is not None:
                got: dict[str, list] = {}
                for r in rows:
                    got.setdefault(r["query_id"], []).append((r["doc_id"], r["score"]))
                for qid, text in qs.items():
                    if not got.get(qid):
                        self.fail(op_id, f"no hit for {text!r}")
                    elif text in oracle and not same_ranking(got[qid], oracle[text], K):
                        self.fail(op_id, _mismatch("oracle", text, got[qid], oracle[text]))
                    else:
                        answers[text] = got[qid]
            i += 1
        self.timed_s = time.perf_counter() - t_start
        # parity: each non-flat shape's first query, batch rows vs search_index
        import inputs

        seen = set()
        for shape, text, _p in stream[: min(i, ntot) * B]:
            if shape in inputs.FLAT or shape in seen or text not in answers:
                continue
            seen.add(shape)
            rows = self.search(text, "parity", phase="check")
            got = [(r["doc_id"], r["score"]) for r in rows or []]
            if rows is not None and not same_ranking(got, answers[text], K):
                self.fail(self.requests[-1]["op"], _mismatch("search_index", text, got, answers[text]))

    def run_ingest_mixed(self, stream, payloads, ids):
        """Cycle 0 (append, marker read, delete) runs untimed, so the
        first append and delete of the process are not measured. Timed
        cycles follow until --seconds have passed. Each ends with a
        compaction, so every cycle does the same work and the figures do
        not depend on how many cycles fit in a run."""
        import pandas as pd

        spark, wl = self.spark, self.wl
        live: dict[int, set] = {}  # cycle -> doc_ids its marker must return
        mix = iter(stream)

        def read_marker(c: int, kind: str, phase: str):
            rows = self.search(
                payloads[c]["marker"], kind, phase, self.traced_turn(kind, phase), k=MARKER_K
            )
            if rows is not None and {r["doc_id"] for r in rows} != live[c]:
                self.fail(self.requests[-1]["op"], f"marker {c} after {kind}: wrong doc set")
            return rows is not None

        def cycle(c: int, phase: str):
            docs = payloads[c]["docs"]
            live[c] = {ids[(r.repo, r.path, r.commit)] for r in docs.itertuples()}
            sdf = spark.createDataFrame(docs)
            t_append = time.perf_counter()
            self.write("append", lambda: self.col.append(sdf), phase)
            if read_marker(c, "visible", phase) and phase == "timed":
                self.visible.append(time.perf_counter() - t_append)
            # delete some of this cycle's new docs and of the previous
            # cycle's updated docs
            gone = docs.iloc[: wl["del_new"]]
            if c > 0:
                prev = payloads[c - 1]["docs"]
                gone = pd.concat([gone, prev.iloc[wl["new"]: wl["new"] + wl["del_prev"]]])
            keys = spark.createDataFrame(gone[["repo", "path"]])
            self.write("delete", lambda: self.col.delete(keys), phase)
            for r in gone.itertuples():
                for s in live.values():
                    s.discard(ids[(r.repo, r.path, r.commit)])
            if phase != "timed":
                return
            read_marker(c, "deleted", phase)
            read_marker(c - 1, "previous", phase)
            for _ in range(wl["mix"]):
                _shape, text, _p = next(mix)
                rows = self.search(text, "mix", phase, self.traced_turn("mix", phase))
                if rows is not None and not rows:
                    self.fail(self.requests[-1]["op"], f"no hit for {text!r}")
            self.write("compact", self.col.compact, phase)
            read_marker(c, "compacted", phase)

        cycle(0, "warmup")
        t_start = time.perf_counter()
        c = 1
        while c < MAX_CYCLES and (c == 1 or time.perf_counter() - t_start < self.args.seconds):
            cycle(c, "timed")
            c += 1
        self.timed_s = time.perf_counter() - t_start
        self.cycles = c - 1

    # -- trace-only layers -------------------------------------------
    def replay_kernel(self, texts: list[str]):
        """Run ``score_group`` and ``decode_postings`` on the postings a
        request's queries read, from parquet via pyarrow, outside the
        request's timing. Prefix queries are skipped: their expansion
        is internal to the search plan. Returns None when nothing is
        left to replay."""
        import numpy as np
        import pyarrow.dataset as ds
        from fastcatsearch3_spark.functions.vbyte import decode_postings
        from fastcatsearch3_spark.plans.query import parse_query, placeholder_kind
        from fastcatsearch3_spark.plans.scoring import TermPostings, bm25_idf, score_group

        store = self.col.store
        stats = store.stats()
        pqs = [parse_query(t, self.cfg) for t in texts]
        pqs = [p for p in pqs if not any(placeholder_kind(t) for t in p.terms)]
        terms = sorted({t for p in pqs for t in p.terms + p.not_terms})
        if not terms:
            return None
        dfmap = store.df_for_terms(self.spark, terms)
        tbl = ds.dataset(str(Path(store.root) / "postings"), format="parquet", partitioning="hive")
        cols = ["segment_id", "shard", "term", "postings", "positions"]
        data = tbl.to_table(columns=cols, filter=ds.field("term").isin(terms)).to_pylist()
        groups: dict[tuple, dict] = {}
        for r in data:
            groups.setdefault((r["segment_id"], r["shard"]), {})[r["term"]] = r
        kernel = decode = 0.0
        nbytes = 0
        for p in pqs:
            need_pos = bool(p.phrases)
            for by_term in groups.values():
                tps = {}
                for t in p.terms + p.not_terms:
                    if t in by_term and t in dfmap:
                        r = by_term[t]
                        tps[t] = TermPostings(
                            term=t, idf=float(bm25_idf(stats["n_docs"], dfmap[t])),
                            blob=r["postings"], pos_blob=r["positions"] if need_pos else None,
                        )
                        nbytes += len(r["postings"]) + (len(r["positions"] or b"") if need_pos else 0)
                        t0 = time.perf_counter()
                        decode_postings(np.frombuffer(r["postings"], dtype=np.uint8))
                        decode += time.perf_counter() - t0
                pos = [tps[t] for t in p.terms if t in tps]
                if p.tree is None:
                    neg = [tps[t] for t in p.not_terms if t in tps]
                    if not pos or (p.op == "AND" and len(pos) < len(p.terms)):
                        continue
                else:
                    pos, neg = list(tps.values()), []
                    if not pos:
                        continue
                phrase_tps = None
                if p.phrases:
                    if any(t not in tps for ph in p.phrases for t in ph):
                        continue
                    phrase_tps = [[tps[t] for t in ph] for ph in p.phrases]
                t0 = time.perf_counter()
                score_group(
                    pos, k=K, op=p.op, k1=self.cfg.k1, b=self.cfg.b,
                    avgdl=stats["avgdl"], not_terms=neg, phrase_tps=phrase_tps,
                    phrase_slops=p.phrase_slops or None, tree=p.tree,
                    tree_pos_terms=set(p.terms) if p.tree is not None else None,
                    phrase_only_terms=set(p.phrase_only_terms) or None,
                )
                kernel += time.perf_counter() - t0
        return kernel, decode, nbytes

    def per_layer(self, pdf) -> dict:
        from fastcatsearch3_spark.functions.analyzer import tokenize_series

        tr = self.tracer
        timed = [r for r in self.requests if r["phase"] == "timed"]
        traced = [r for r in timed if r["traced"]]
        per_req = {r["id"]: layer_self_ms(tr.request_spans(r["id"])) for r in traced}
        out = {}
        for layer in ("query.parse", "index.stats", "index.lexicon", "index.open",
                      "index.denied_mask", "search.plan", "search.exec"):
            out[f"{layer}_ms"] = statistics.median(per_req[r["id"]].get(layer, 0.0) for r in traced)
        gaps = [abs(sum(per_req[r["id"]].values()) / 1e3 - r["s"]) / r["s"] for r in traced]
        self.notes["trace_selftime_gap_max"] = max(gaps)
        if max(gaps) > SELF_TIME_TOL:
            self.fail(self.op(), f"span self times miss request wall by {max(gaps):.2%}")
        for i, name in enumerate(("jobs", "stages", "tasks")):
            out[f"search.{name}_per_req"] = statistics.median(r["jobs"][i] for r in timed)
        replays = [x for x in (self.replay_kernel(r["queries"]) for r in traced) if x]
        # a request of prefix queries only has nothing to replay; should
        # every traced request be one, report zeros
        replays = replays or [(0.0, 0.0, 0)]
        kern = [k for k, _d, _b in replays]
        dec = [d for _k, d, _b in replays]
        nb = [b for _k, _d, b in replays]
        out["scoring.kernel_ms"] = 1e3 * statistics.median(kern)
        out["scoring.postings_bytes"] = statistics.median(nb)
        out["vbyte.decode_ms"] = 1e3 * statistics.median(dec)
        out["vbyte.decode_mb_per_s"] = sum(nb) / 1e6 / sum(dec) if sum(dec) else 0.0
        sample = pdf["content"].iloc[:2000]
        rates = []
        for _ in range(3):
            t0 = time.perf_counter()
            toks = tokenize_series(sample, min_len=self.cfg.min_token_len, max_len=self.cfg.max_token_len)
            rates.append(sum(map(len, toks)) / (time.perf_counter() - t0))
        out["analyzer.tokens_per_s"] = statistics.median(rates)
        out.update(self.build_layers)
        # tracing overhead: traced vs untraced requests of the same kind
        ratios = []
        for kind in {r["kind"] for r in timed}:
            lt = [r["s"] for r in timed if r["kind"] == kind and r["traced"]]
            lu = [r["s"] for r in timed if r["kind"] == kind and not r["traced"]]
            if lt and lu:
                ratios.append(statistics.median(lt) / statistics.median(lu))
        # (no kind with both halves happens only when one request filled
        # the whole run; there is then nothing to compare)
        out["trace.overhead_pct"] = 100.0 * (statistics.median(ratios) - 1.0) if ratios else 0.0
        return out

    # -- main --------------------------------------------------------
    def run(self) -> dict:
        import inputs
        args = self.args
        self.cfg = engine_config()
        self.work.mkdir(parents=True, exist_ok=True)
        load_before = os.getloadavg()
        self.probes = {"start": host_probe_ms()}
        # the inputs are pure Python: a helper process makes them while
        # the JVM starts and warms up, at low priority so that it does
        # not slow the Spark start, which set-up time includes
        prep_out = self.work / "inputs.pkl"
        prep = subprocess.Popen(
            [sys.executable, __file__, "--prepare", str(prep_out), "--workload", args.workload,
             "--seed", str(args.seed), "--seconds", str(args.seconds)],
            preexec_fn=_helper_preexec,
        )
        try:
            self.start_spark()
            self.mark("spark_start")
            self.warm_up(args.seed)
            self.mark("warm_reads")
            if prep.wait(timeout=PREPARE_TIMEOUT_S) != 0:
                raise RuntimeError(f"input helper exited with code {prep.returncode}")
            with open(prep_out, "rb") as f:
                pdf, stream, scored = pickle.load(f)
            self.mark("inputs_wait")
            payloads = []
            if args.workload == "ingest_mixed":
                payloads = inputs.ingest_payloads(
                    pdf, args.seed, MAX_CYCLES, self.wl["new"], self.wl["upd"]
                )
            ids = self.doc_ids([pdf] + [p["docs"] for p in payloads])
            row_ids = [ids[(r.repo, r.path, r.commit)] for r in pdf.itertuples()]
            oracle = {}
            for text, exp in scored.items():
                ranked = sorted((-sc, row_ids[i]) for i, sc in zip(exp["row"], exp["score"]))
                oracle[text] = [(d, -neg) for neg, d in ranked]
            self.mark("doc_ids")
            self.build(pdf)
            self.mark("setup_builds")
            self.probes["setup"] = host_probe_ms()
            if args.workload == "query_batch":
                self.run_query_batch(stream, oracle)
            else:
                # oracle check on the fresh base index, before any write
                for text in oracle:
                    rows = self.search(text, "oracle", phase="check")
                    got = [(r["doc_id"], r["score"]) for r in rows or []]
                    if rows is not None and not same_ranking(got, oracle[text], K):
                        self.fail(self.requests[-1]["op"], _mismatch("oracle", text, got, oracle[text]))
                self.run_ingest_mixed(stream, payloads, ids)
            self.mark("workload")
            self.probes["workload"] = host_probe_ms()
            layers = self.per_layer(pdf) if self.tracer is not None else None
            self.mark("per_layer")
            rss, self.notes["peak_rss_mb_by_cmd"] = peak_rss_mb()
        finally:
            if prep.poll() is None:
                prep.kill()
                prep.wait()
            if hasattr(self, "spark"):
                self.stop_spark()
            shutil.rmtree(self.work, ignore_errors=True)
        self.mark("stop")
        load_after = os.getloadavg()
        self.probes["end"] = host_probe_ms()
        drift = max(self.probes.values()) / min(self.probes.values()) - 1.0
        if drift > HOST_DRIFT:
            print(
                f"perfbench: host speed drifted {drift:.0%} during the run "
                f"(probes {self.probes} ms); its timings are marked contended",
                file=sys.stderr,
            )

        timed_reqs = [r for r in self.requests if r["phase"] == "timed"]
        timed = [r["s"] for r in timed_reqs]
        answered = sum(len(r["queries"]) for r in timed_reqs if r["ok"])
        attempted, failed = self.ops, len(self._failed_ops)
        if layers is not None:
            metrics = {k: {"value": v, "unit": LAYER_UNITS[k]} for k, v in layers.items()}
        else:
            metrics = {
                "setup_s": (self.spark_start_s + statistics.median(self.build_s), "s"),
                "build_docs_per_s": (self.wl["docs"] / statistics.median(self.build_s), "docs/s"),
                "index_bytes_ratio": (self.index_bytes_ratio, "ratio"),
                "peak_rss_mb": (rss, "MB"),
                "latency_p50_ms": (1e3 * statistics.median(timed), "ms"),
                "qps": (answered / self.timed_s, "1/s"),
            }
            metrics = {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}
        t = tail(timed)
        details = {
            "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "trace": args.trace, "source": source_id(), "cpus": self.cpus,
            "loadavg_before": load_before, "loadavg_after": load_after,
            "host_probe_ms": self.probes, "host_drift": drift,
            "host_contended": drift > HOST_DRIFT,
            "versions": versions(), "docs": self.wl["docs"],
            "requests": len(timed), "timed_s": self.timed_s,
            "latency_tail": (
                {"pct": t[0], "ms": 1e3 * t[1], "n": t[2]} if t
                else f"none: {len(timed)} requests, a tail needs 20"
            ),
            "spark_start_s": self.spark_start_s, "build_s": self.build_s,
            "write_ms": {
                k: [(ph, 1e3 * x) for ph, x in v] for k, v in self.writes.items()
            },
            "visible_ms": [1e3 * x for x in self.visible],
            "cycles": getattr(self, "cycles", None),
            "error_rate": error_rate(attempted, failed), "failures": self.failures,
            "phase_s": self.phase_s,
            **self.notes,
        }
        print(json.dumps(details))
        return {
            "correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": metrics,
        }


def engine_config():
    from fastcatsearch3_spark import EngineConfig

    return EngineConfig(num_shards=8, store_positions=True)


def prepare_inputs(docs: int, n_oracle: int, seed: int, cfg, cache: Path):
    """Corpus, query stream and the oracle's answers to the first flat
    queries. Pure Python, so it runs in a helper process (``--prepare``)
    while the JVM warms up."""
    import inputs
    from fastcatsearch3_spark.functions.analyzer import get_analyzer

    sys.path.insert(0, str(ROOT / "tests"))
    from oracle import bm25_topk_oracle

    pdf = inputs.corpus(cache, docs, seed)
    toks = get_analyzer(cfg)(pdf["content"], cfg)
    stream = inputs.query_stream(inputs.TermIndex(toks), seed, STREAM)
    flat = {}
    for shape, text, spec in stream:
        if shape in inputs.FLAT and text not in flat and len(flat) < n_oracle:
            flat[text] = spec
    rows = pdf[["content"]].assign(doc_id=range(len(pdf)))

    def score(spec):
        return bm25_topk_oracle(
            rows, spec["terms"], k=len(pdf), op=spec["op"], cfg=cfg,
            not_terms=spec.get("not"),
        )

    return pdf, stream, inputs.oracle_answers(cache, docs, seed, flat, score, K)


_PR_SET_PDEATHSIG = 1
_PR_SET_CHILD_SUBREAPER = 36


def _prctl(option: int, arg: int) -> None:
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(option, arg, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), f"prctl({option}, {arg}) failed")


def _helper_preexec() -> None:
    """In the input helper, before exec: low priority, and killed when
    the benchmark process dies, however it dies."""
    os.nice(10)
    _prctl(_PR_SET_PDEATHSIG, signal.SIGKILL)


def descendants() -> set[int]:
    """Pids of every process below this one, zombies included."""
    parent: dict[int, int] = {}
    for d in Path("/proc").iterdir():
        if d.name.isdigit():
            try:
                stat = (d / "stat").read_text()
            except OSError:
                continue
            parent[int(d.name)] = int(stat.rsplit(")", 1)[1].split()[1])
    tree, frontier = set(), [os.getpid()]
    while frontier:
        p = frontier.pop()
        kids = [c for c, pp in parent.items() if pp == p and c not in tree]
        tree.update(kids)
        frontier.extend(kids)
    return tree


def _reap() -> None:
    """Collect every child that has ended, without blocking."""
    while True:
        try:
            pid, _status = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def stop_descendants(grace_s: float = 10.0) -> set[int]:
    """Send SIGTERM to every descendant, then SIGKILL to any left after
    ``grace_s``, and wait until none is left. As a child subreaper this
    process inherits every orphaned descendant, so it can reap them all.
    Returns the pids that were still running when it was called."""
    found = descendants()
    for sig in (signal.SIGTERM, signal.SIGKILL):
        deadline = time.monotonic() + grace_s
        for pid in descendants():
            with contextlib.suppress(ProcessLookupError):
                os.kill(pid, sig)
        while True:
            _reap()
            if not descendants():
                return found
            if time.monotonic() > deadline:
                break
            time.sleep(0.02)
    return found


def _mismatch(what: str, text: str, got, exp) -> str:
    return f"{what} mismatch for {text!r}: got {got[:3]}... want {exp[:3]}..."


def _dir_bytes(path: Path) -> int:
    return sum(p.stat().st_size for p in path.rglob("*") if p.is_file())


def peak_rss_mb() -> tuple[float, dict[str, list]]:
    """Sum of VmHWM over this process and every descendant (the JVM and
    its Python workers), read from /proc; also, per command name, the
    sum and the number of processes."""
    tree = descendants() | {os.getpid()}
    by_cmd: dict[str, list] = {}
    for pid in tree:
        try:
            status = Path(f"/proc/{pid}/status").read_text().splitlines()
        except OSError:
            continue
        fields = dict(line.split(":", 1) for line in status if ":" in line)
        if "VmHWM" in fields:
            name = fields["Name"].strip()
            entry = by_cmd.setdefault(name, [0.0, 0])
            entry[0] += int(fields["VmHWM"].split()[0]) / 1024.0
            entry[1] += 1
    return sum(mb for mb, _n in by_cmd.values()), by_cmd


def host_probe_ms() -> float:
    """Median wall time of five runs of a fixed single-threaded loop.
    Taken at the start, after set-up, after the workload and at the end:
    a host that slows down or speeds up within a run shows as drift."""
    times = []
    for _ in range(5):
        t0 = time.perf_counter()
        x = 0
        for i in range(1_000_000):
            x += i
        times.append(1e3 * (time.perf_counter() - t0))
    return statistics.median(times)


def source_id() -> str:
    """git SHA when the checkout is a git repository, else a hash of the
    engine's source files."""
    try:
        out = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True, timeout=10
        )
        if out.returncode == 0:
            return "git:" + out.stdout.strip()
    except OSError:
        pass
    h = hashlib.sha256()
    for p in sorted((ROOT / "fastcatsearch3_spark").rglob("*.py")):
        h.update(p.relative_to(ROOT).as_posix().encode())
        h.update(p.read_bytes())
    return "src:" + h.hexdigest()[:16]


def versions() -> dict:
    import platform

    import pyarrow
    import pyspark

    return {"python": platform.python_version(), "pyspark": pyspark.__version__,
            "pyarrow": pyarrow.__version__}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--prepare", type=Path, help=argparse.SUPPRESS)
    args = ap.parse_args(argv)
    try:
        import fastcatsearch3_spark  # noqa: F401
        import pyspark  # noqa: F401
        from fixtures import gen_corpus  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the engine is not importable here: {e}", file=sys.stderr)
        return 2
    if not (ROOT / "tests" / "oracle.py").is_file():
        print("perfbench: tests/oracle.py is missing", file=sys.stderr)
        return 2
    if args.prepare is not None:
        wl = WORKLOADS[args.workload]
        out = prepare_inputs(wl["docs"], wl["oracle"], args.seed, engine_config(), Run.CACHE)
        with open(args.prepare, "wb") as f:
            pickle.dump(out, f)
        return 0
    # from here on, every process this one starts is stopped and waited
    # for before it exits; SIGTERM ends it through the same path
    _prctl(_PR_SET_CHILD_SUBREAPER, 1)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    try:
        result = Run(args).run()
    finally:
        left = stop_descendants()
        if left:
            print(f"perfbench: stopped {len(left)} leftover process(es)", file=sys.stderr)
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
