"""The benchmark's workloads, driven from one client thread.

Both workloads are closed loops on a warm QueryEngine over a freshly
built one-generation store: the client sends its next call only after
the previous one returned, and every output is checked against the
independent oracle (perfbench/oracle.py) before the loop goes on. A
round is serial ``topk`` calls, one ``topk_batch`` and ``phrase`` calls,
all drawn from one query pool:

serve-selective  every term has df <= 0.5% of docs, phrases are rare
                 bigrams: few postings are read, so the fixed per-call
                 cost (term resolve, job launch, the Arrow UDF boundary)
                 is nearly all of the time.
serve-broad      every term has df >= 10%, with the head stem (about
                 half the docs) in every AND query and half the OR
                 queries, phrases are the commonest bigrams: the pruned
                 scan, decode and block-max kernel carry the data work.

A traced run (``--trace 1``) then decomposes topk calls into their
layers and drives the write path once: add_documents -> reads over two
generations -> delete_documents + add_documents(replace=True) ->
compact -> reads, recomputing the oracle after every write. No read is
issued between the replace and the compact: df still counts masked
base-generation docs there until ROADMAP item 4 lands, so scores in
that window differ from the oracle.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import statistics
import sys
import threading
import time
import traceback
from collections import Counter
from dataclasses import dataclass
from pathlib import Path

import numpy as np
import pandas as pd
import pyarrow.dataset as ds

from perfbench import corpus as C
from perfbench.check import STEP, OutputMismatch, check_batch, check_phrase, check_topk
from perfbench.oracle import Oracle, StatsMismatch, tokenize
from perfbench.trace import EventLog, Span, Tracer, uncovered_s

from open_source_search_engine_spark.config import EngineConfig
from open_source_search_engine_spark.index import builder, merge
from open_source_search_engine_spark.index import segments as SEG
from open_source_search_engine_spark.index import wand as W
from open_source_search_engine_spark.index.engine import QueryEngine
from open_source_search_engine_spark.operators.postings import fast_postings
from open_source_search_engine_spark.session import get_spark

WORKLOADS = {"serve-selective": "selective", "serve-broad": "broad"}
NPROC = len(os.sched_getaffinity(0))
K = 10
CFG = EngineConfig(n_buckets=16, n_salts=NPROC, block_size=128)
STORE_DOCS = 5000
N_POOL = 32  # topk queries in the pool
N_PHRASES = 8
SERIAL_PER_ROUND = 6
BATCH_SIZE = 8
PHRASES_PER_ROUND = 2
ENGINE_OPENS = 3  # setup opens the warm engine this many times; the median counts
SELF_CHECK_DOCS = 100
REPLAY_QUERIES = 6
ENCODE_SAMPLE_DOCS = 1000
# traced write probe: files added, modified (replaced) and removed
ADD_DOCS, MODIFY_DOCS, DELETE_DOCS = 400, 150, 50

END_TO_END = {
    "setup_s": "s",
    "build_docs_per_s": "1/s",
    "index_bytes_per_input_byte": "ratio",
    "query_p50_ms": "ms",
    "batch_qps": "1/s",
    "phrase_p50_ms": "ms",
}


@dataclass
class Pool:
    topk: dict[str, tuple[list[str], str]]
    phrases: dict[str, list[str]]

    @property
    def terms(self) -> set[str]:
        return {t for terms, _m in self.topk.values() for t in terms} | {
            w for ws in self.phrases.values() for w in ws
        }


@dataclass
class Live:
    """The live doc set: what the store should hold after each write."""

    tokens: dict[int, list[str]]
    contents: dict[int, str]

    def put(self, pdf: pd.DataFrame, tokens: dict[int, list[str]]) -> None:
        self.tokens |= tokens
        self.contents |= dict(zip(pdf["doc_id"].tolist(), pdf["content"].tolist()))

    def drop(self, doc_ids: list[int]) -> None:
        for d in doc_ids:
            del self.tokens[d], self.contents[d]


class Bench:
    """State of one benchmark run (one process)."""

    def __init__(self, root: Path, workload: str, seed: int, seconds: int, traced: bool):
        self.workload, self.klass = workload, WORKLOADS[workload]
        self.seed, self.seconds, self.traced = seed, seconds, traced
        self.work = root / ".perfbench-work" / f"{workload}-s{seed}-t{int(traced)}"
        shutil.rmtree(self.work, ignore_errors=True)
        for d in ("tmp", "local", "events"):
            (self.work / d).mkdir(parents=True)
        self.store = self.work / "store"
        self.rng = np.random.default_rng([seed, 2])
        self.vocab = C.vocabulary(seed)
        self.spark = None
        self._starter: threading.Thread | None = None
        self._session: float | BaseException = 0.0
        self.tracer = Tracer(False)
        self.attempted = 0
        self.failed = 0
        self.samples: dict[str, list[float]] = {}
        self.info: dict = {}
        self.replay: dict[str, list[float]] = {}
        self.overhead_s = 0.0  # corpus, oracle and check time, never in a metric

    # ---- session ----

    def begin_session(self) -> None:
        """Start Spark in the background: the JVM starts while the client
        generates the corpus and the oracle. ``session()`` waits for it."""

        def start():
            try:
                self._session = self.start_session()
            except BaseException as e:  # handed to session() and raised there
                self._session = e

        self._starter = threading.Thread(target=start)
        self._starter.start()

    def session(self) -> float:
        """Seconds the session took to start, once it has."""
        self._starter.join()
        if isinstance(self._session, BaseException):
            raise self._session
        return self._session

    def start_session(self) -> float:
        os.environ["TMPDIR"] = str(self.work / "tmp")
        # an inherited SPARK_LOCAL_DIRS would override spark.local.dir
        os.environ["SPARK_LOCAL_DIRS"] = str(self.work / "local")
        # the session factory's tmpfs probe writes under /dev/shm; keep
        # every file this run makes inside the checkout
        os.environ["SPARK_GRAFT_NO_TMPFS"] = "1"
        conf = {
            "spark.driver.memory": "2g",
            "spark.local.dir": str(self.work / "local"),
            "spark.sql.warehouse.dir": str(self.work / "warehouse"),
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={self.work / 'tmp'} -XX:-UsePerfData"
            ),
            "spark.ui.showConsoleProgress": "false",
        }
        if self.traced:
            conf |= {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": str(self.work / "events"),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        start = time.time()
        t = time.perf_counter()
        self.spark = get_spark(
            "perfbench", master=f"local[{NPROC}]", shuffle_partitions=2 * NPROC,
            extra_conf=conf,
        )
        dt = time.perf_counter() - t
        self.spark.sparkContext.setLogLevel("ERROR")
        self.tracer = Tracer(self.traced, self.spark.sparkContext)
        if self.traced:
            self.tracer.spans.append(Span(0, "session.start", None, None, start, start + dt))
        return dt

    def stop_session(self) -> None:
        """Stop Spark and wait for the JVM (and its Python workers) to exit."""
        if self._starter is not None:
            self._starter.join()
        if self.spark is None:
            return
        gateway = self.spark.sparkContext._gateway
        proc = getattr(gateway, "proc", None)
        self.spark.stop()
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
        self.spark = None

    # ---- calls into the engine ----

    def timed(self, kind: str, fn, qid: str | None = None):
        """Run one public call and record its latency. A call that
        raises counts as failed and returns None."""
        self.attempted += 1
        t = time.perf_counter()
        try:
            with self.tracer.span(kind, qid):
                out = fn()
        except Exception:
            self.failed += 1
            traceback.print_exc(file=sys.stderr)
            return None
        self.samples.setdefault(kind, []).append(time.perf_counter() - t)
        return out

    def must(self, kind: str, fn) -> None:
        """A call the run cannot go on without: the store's state is
        unknown after a failed write."""
        failed = self.failed
        self.timed(kind, fn)
        if self.failed != failed:
            raise RuntimeError(f"{kind} failed")

    def write(self, kind: str, fn) -> None:
        before = _file_state(self.store)
        self.must(kind, fn)
        self.info["write_bytes"] = self.info.get("write_bytes", 0) + _written_bytes(
            before, _file_state(self.store)
        )

    # ---- corpus, oracle, checks ----

    def make_docs(self, doc_ids: list[int]) -> tuple[pd.DataFrame, dict[int, list[str]]]:
        t = time.perf_counter()
        pdf, toks = C.gen_docs(self.vocab, self.rng, doc_ids)
        # the generator knows each doc's tokens by construction; hold it
        # to the tokenizer rules on a sample
        for d, c in zip(pdf["doc_id"][:SELF_CHECK_DOCS], pdf["content"][:SELF_CHECK_DOCS]):
            if tokenize(c) != toks[d]:
                raise RuntimeError(f"corpus generator: tokens of doc {d} break the tokenizer rules")
        self.overhead_s += time.perf_counter() - t
        return pdf, toks

    def make_pool(self, oracle: Oracle) -> Pool:
        t = time.perf_counter()
        bigrams = C.bigram_df(oracle.positions)
        qp = C.query_pool(oracle.tokens, oracle.df, bigrams, self.rng, self.klass, N_POOL, N_PHRASES)
        self.overhead_s += time.perf_counter() - t
        return Pool(
            {f"q{i}": q for i, q in enumerate(qp.topk)},
            {f"p{i}": p for i, p in enumerate(qp.phrases)},
        )

    def oracle(self, live: Live) -> Oracle:
        t = time.perf_counter()
        o = Oracle(live.tokens)
        self.overhead_s += time.perf_counter() - t
        return o

    def expect(self, oracle: Oracle, pool: Pool):
        """(expected topk rows per qid, expected phrase docs per qid)."""
        t = time.perf_counter()
        exp = (oracle.topk(pool.topk, K), oracle.phrases(pool.phrases))
        self.overhead_s += time.perf_counter() - t
        return exp

    def check_store(self, oracle: Oracle, terms: set[str], live: Live) -> None:
        """Corpus stats vs meta.json/term_dict, and doc_meta must hold
        exactly the live docs with their content sha256 (so call it only
        where no tombstone masks a doc_meta row)."""
        t = time.perf_counter()
        oracle.check_store_stats(self.store, terms)
        tbl = ds.dataset(str(self.store / "doc_meta"), format="parquet").to_table(
            columns=["doc_id", "content_sha256"]
        )
        got = dict(zip(tbl.column("doc_id").to_pylist(), tbl.column("content_sha256").to_pylist()))
        if set(got) != set(live.contents):
            raise StatsMismatch(f"doc_meta holds {len(got)} docs, live set {len(live.contents)}")
        for d in sorted(live.contents):
            want = hashlib.sha256(live.contents[d].encode()).hexdigest()
            if got[d] != want:
                raise StatsMismatch(f"content_sha256 of doc {d}: store {got[d]}, source {want}")
        self.overhead_s += time.perf_counter() - t

    # ---- setup ----

    def build(self, pdf: pd.DataFrame) -> float:
        self.docs_df = self.spark.createDataFrame(pdf)
        t = time.perf_counter()
        with self.tracer.span("builder.build_index"):
            builder.build_index(
                self.spark, self.docs_df, self.store, cfg=CFG, text_col="content",
                tokenizer_mode="code",
            )
        build_s = time.perf_counter() - t
        self.info |= {
            "docs": len(pdf),
            "content_bytes": int(pdf["content"].str.len().sum()),
            "store_bytes": _dir_bytes(self.store),
            "store_build_s": build_s,
        }
        return build_s

    def open_engine(self) -> tuple[QueryEngine, float]:
        """Open the warm engine ENGINE_OPENS times; returns the last
        engine and the median open time."""
        ready, eng = [], None
        for _ in range(ENGINE_OPENS):
            if eng is not None:
                eng.close()
            t = time.perf_counter()
            with self.tracer.span("engine.open"):
                eng = QueryEngine(self.spark, self.store)
            ready.append(time.perf_counter() - t)
        return eng, statistics.median(ready)

    # ---- reads ----

    def read_round(
        self, eng: QueryEngine, pool: Pool, exp, cursor: Counter, label: str,
        prefix: str = "", deadline: float = float("inf"),
    ) -> None:
        """Serial topk calls, one batch, phrases; every output checked.
        ``prefix`` keeps the write probe's reads apart from the loop's. No
        call starts after ``deadline`` (a perf_counter time)."""
        where = f"{self.workload}/{label}"
        exp_topk, exp_phr = exp
        qids, pids = list(pool.topk), list(pool.phrases)
        gens = len(json.loads((self.store / "meta.json").read_text())["generations"])
        self.info.setdefault("generations_at_reads", []).append(gens)
        for _ in range(SERIAL_PER_ROUND):
            if time.perf_counter() >= deadline:
                return
            qid = qids[cursor["topk"] % len(qids)]
            cursor["topk"] += 1
            terms, mode = pool.topk[qid]
            rows = self.timed(
                f"{prefix}topk",
                lambda: [(r[0], r[1]) for r in eng.topk(terms, K, mode).collect()],
                qid,
            )
            if rows is not None:
                check_topk(where, f"{qid} {terms} {mode}", exp_topk[qid], rows, K)
                if not prefix:
                    self.info.setdefault("empty_results", []).append(int(not rows))
        if time.perf_counter() >= deadline:
            return
        batch = {q: pool.topk[q] for q in (qids[(cursor["batch"] + j) % len(qids)] for j in range(BATCH_SIZE))}
        cursor["batch"] += BATCH_SIZE
        rows = self.timed(
            f"{prefix}topk_batch",
            lambda: [(r[0], r[1], r[2]) for r in eng.topk_batch(batch, K).collect()],
        )
        if rows is not None:
            check_batch(where, batch, exp_topk, rows, K)
            if not prefix:
                self.info.setdefault("batch_shared_term_share", []).append(_shared_share(batch))
        for _ in range(PHRASES_PER_ROUND):
            if time.perf_counter() >= deadline:
                return
            pid = pids[cursor["phrase"] % len(pids)]
            cursor["phrase"] += 1
            words = pool.phrases[pid]
            docs = self.timed(f"{prefix}phrase", lambda: [r[0] for r in eng.phrase(words).collect()], pid)
            if docs is not None:
                check_phrase(where, words, exp_phr[pid], docs)

    def refresh(self, eng: QueryEngine) -> None:
        """Reload the warm engine after a write, as its next query would
        do itself, so the reload is not charged to one read."""
        self.must("engine.refresh", eng.refresh)

    # ---- results ----

    def end_to_end(self, setup_s: float) -> dict[str, float]:
        s, info = self.samples, self.info
        return {
            "setup_s": setup_s,
            "build_docs_per_s": info["docs"] / info["store_build_s"],
            "index_bytes_per_input_byte": info["store_bytes"] / info["content_bytes"],
            "query_p50_ms": statistics.median(s["topk"]) * 1e3,
            "batch_qps": BATCH_SIZE * len(s["topk_batch"]) / sum(s["topk_batch"]),
            "phrase_p50_ms": statistics.median(s["phrase"]) * 1e3,
        }

    def describe(self, oracle: Oracle, pool: Pool, rounds: int) -> None:
        """Workload properties printed with the result."""
        serial = self.samples["topk"]
        self.info |= {
            "nproc": NPROC,
            "master": f"local[{NPROC}]",
            "store_location": f"{self.store} on {_mount_of(self.store)}",
            "query_term_df_histogram": _df_histogram(oracle.df, pool.terms, oracle.n_docs),
            "empty_result_share": _mean(self.info.pop("empty_results")),
            "batch_shared_term_share": _mean(self.info.pop("batch_shared_term_share")),
            "query_tail": _tail(serial),
            "query_qps": len(serial) / sum(serial),
            "rounds": rounds,
        }


def serve(b: Bench) -> dict[str, float]:
    pdf, tokens = b.make_docs(list(range(STORE_DOCS)))
    live = Live(tokens, dict(zip(pdf["doc_id"].tolist(), pdf["content"].tolist())))
    oracle = b.oracle(live)
    pool = b.make_pool(oracle)
    exp = b.expect(oracle, pool)
    session_s = b.session()
    build_s = b.build(pdf)
    b.check_store(oracle, pool.terms, live)
    eng, ready_s = b.open_engine()
    setup_s = session_s + build_s + ready_s
    # one checked, untimed round first: the JVM and the Python workers
    # keep warming over the first calls, which would leak into the loop
    cursor: Counter = Counter()
    t = time.perf_counter()
    b.read_round(eng, pool, exp, cursor, "warmup", prefix="warmup.")
    b.info["warmup_s"] = time.perf_counter() - t

    # closed loop for --seconds; the first round always completes, so
    # every call kind has a sample
    rounds = 0
    steal = _cpu_steal()
    deadline = time.perf_counter() + b.seconds
    while time.perf_counter() < deadline:
        b.read_round(eng, pool, exp, cursor, "serve", deadline=deadline if rounds else float("inf"))
        rounds += 1
    b.info["host_cpu_steal_share"] = _cpu_steal(steal)
    e2e = b.end_to_end(setup_s)
    b.describe(oracle, pool, rounds)
    if b.traced:
        replay(b, eng, pool, dict(live.tokens), live)
        write_probe(b, eng, pool, live)
    b.info |= {"error_rate": b.failed / b.attempted, "benchmark_overhead_s": b.overhead_s}
    return e2e


def write_probe(b: Bench, eng: QueryEngine, pool: Pool, live: Live) -> None:
    """One update cycle: add new files -> reads over two generations ->
    delete removed files + replace modified ones -> compact -> reads."""
    spark, store = b.spark, b.store
    next_id = max(live.tokens) + 1
    new_pdf, new_toks = b.make_docs(list(range(next_id, next_id + ADD_DOCS)))
    b.write("merge.add", lambda: merge.add_documents(spark, spark.createDataFrame(new_pdf), store))
    live.put(new_pdf, new_toks)
    b.refresh(eng)
    oracle = b.oracle(live)
    b.check_store(oracle, pool.terms, live)
    b.read_round(eng, pool, b.expect(oracle, pool), Counter(), "after-add", prefix="update.")

    ids = np.array(sorted(live.tokens), dtype=np.int64)
    pick = b.rng.choice(ids.size, MODIFY_DOCS + DELETE_DOCS, replace=False)
    mod_ids, del_ids = ids[pick[:MODIFY_DOCS]].tolist(), ids[pick[MODIFY_DOCS:]].tolist()
    mod_pdf, mod_toks = b.make_docs(mod_ids)
    b.write("merge.delete", lambda: merge.delete_documents(spark, store, del_ids))
    b.write(
        "merge.replace",
        lambda: merge.add_documents(spark, spark.createDataFrame(mod_pdf), store, replace=True),
    )
    live.drop(del_ids)
    live.put(mod_pdf, mod_toks)
    b.write("merge.compact", lambda: merge.compact(spark, store))
    b.refresh(eng)
    oracle = b.oracle(live)
    b.check_store(oracle, pool.terms, live)
    b.read_round(eng, pool, b.expect(oracle, pool), Counter(), "after-compact", prefix="update.")

    w = b.samples
    ingested = int(pd.concat([new_pdf, mod_pdf])["content"].str.len().sum())
    b.info |= {
        "update_ingest_docs_per_s": (ADD_DOCS + MODIFY_DOCS) / (w["merge.add"][0] + w["merge.replace"][0]),
        "update_compact_s": w["merge.compact"][0],
        "update_write_amp": b.info["write_bytes"] / ingested,
        "update_query_p50_ms": statistics.median(w["update.topk"]) * 1e3,
    }


# ---- traced run: replays that split one call into its layers ----


def replay(b: Bench, eng: QueryEngine, pool: Pool, built: dict[int, list[str]], live: Live) -> None:
    """Decompose topk into resolve, scan and the per-salt kernel run
    driver-side; re-run tokenize (over the docs the store was built
    from, ``built``) and encode (over live docs) on their own. Merging
    the kernel's per-salt outputs must give the topk call's own rows."""
    spark, r, tr = b.spark, b.replay, b.tracer
    meta = json.loads((b.store / "meta.json").read_text())
    ts_arrays, ts_df = eng.tombstones_plan()
    if ts_df is not None:
        raise RuntimeError("replay expects the driver-side tombstone plan")
    for qid in list(pool.topk)[:REPLAY_QUERIES]:
        terms, mode = pool.topk[qid]
        t = time.perf_counter()
        eng.term_rows(terms)
        r.setdefault("engine.term_rows", []).append(time.perf_counter() - t)
        t = time.perf_counter()
        trows = W.query_term_rows(spark, b.store, terms)
        r.setdefault("wand.term_rows", []).append(time.perf_counter() - t)
        if not trows or (mode == "and" and len({x["term"] for x in trows}) < len(set(terms))):
            continue
        tids = sorted({int(x["term_id"]) for x in trows})
        with tr.span("replay.scan", qid) as sp:
            t = time.perf_counter()
            tbl = eng.pruned_segments(tids).select(*W.KERNEL_INPUT_COLS).toArrow()
            r.setdefault("engine.scan", []).append(time.perf_counter() - t)
        r.setdefault("scan_spans", []).append(sp.id)
        r.setdefault("engine.scan_blocks", []).append(tbl.num_rows)
        pdf = tbl.to_pandas()
        kernel = W.make_salt_kernel(tids, K, mode, ts_arrays, W.scoring_ctx(meta, trows))
        t = time.perf_counter()
        parts = [kernel(g) for _salt, g in pdf.groupby("salt")]
        r.setdefault("wand.kernel", []).append(time.perf_counter() - t)
        local = pd.concat(parts, ignore_index=True)
        r.setdefault("wand.candidates", []).append(len(local))
        if mode == "and":
            local = local[local["n_terms"] == len(tids)]
        local = local.sort_values(["score", "doc_id"], ascending=[False, True]).head(K)
        t = time.perf_counter()
        with tr.span("topk.replayed", qid):
            rows = [(x[0], x[1]) for x in eng.topk(terms, K, mode).collect()]
        r.setdefault("engine.topk", []).append(time.perf_counter() - t)
        r.setdefault("engine.buckets", []).append(len({x % CFG.n_buckets for x in tids}))
        mine = list(zip(local["doc_id"].tolist(), local["score"].tolist()))
        if [d for d, _ in mine] != [d for d, _ in rows] or any(
            abs(round(s1, 5) - s2) > STEP for (_, s1), (_, s2) in zip(mine, rows)
        ):
            raise OutputMismatch(
                f"{b.workload}/replay: query {qid} {terms} {mode}: per-salt kernel replay "
                f"{mine} differs from topk {rows}"
            )
        r.setdefault("engine.overhead", []).append(
            r["engine.topk"][-1] - r["engine.term_rows"][-1] - r["engine.scan"][-1]
            - r["wand.kernel"][-1]
        )

    # tokenize layer: the same docs through fast_postings to a noop sink
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    obs = Observation("postings")
    t = time.perf_counter()
    with tr.span("replay.tokenize"):
        fast_postings(b.docs_df, "content", "doc_id", mode="code").observe(
            obs, F.count(F.lit(1)).alias("rows")
        ).write.format("noop").mode("overwrite").save()
    r["postings.tokenize"] = [time.perf_counter() - t]
    rows = int(obs.get["rows"])
    want = sum(len(set(toks)) for toks in built.values())
    if rows != want:
        raise OutputMismatch(f"{b.workload}/replay: fast_postings gave {rows} rows, oracle {want}")
    r["postings.rows"] = [rows]

    # encode layer: encode_group over the postings of a fixed doc sample
    sample = {d: live.tokens[d] for d in sorted(live.tokens)[:ENCODE_SAMPLE_DOCS]}
    terms = sorted({t for toks in sample.values() for t in toks})
    td = ds.dataset(str(b.store / "term_dict"), format="parquet").to_table(
        filter=ds.field("term").isin(terms), columns=["term", "term_id"]
    )
    tid_of = dict(zip(td.column("term").to_pylist(), td.column("term_id").to_pylist()))
    post = pd.DataFrame(
        [(tid_of[t], d, tf, len(toks)) for d, toks in sample.items() for t, tf in Counter(toks).items()],
        columns=["term_id", "doc_id", "tf", "doc_len"],
    )
    width = SEG.salt_width(int(meta["max_doc_id"]), CFG.n_salts)
    post.insert(0, "salt", np.minimum(post["doc_id"] // width, CFG.n_salts - 1))
    post.insert(0, "bucket", post["term_id"] % CFG.n_buckets)
    groups = [g for _k, g in post.groupby(["bucket", "salt"])]
    times = []
    for _ in range(3):
        t = time.perf_counter()
        for g in groups:
            SEG.encode_group(g, CFG.block_size)
        times.append(time.perf_counter() - t)
    r["segments.postings_per_s"] = [len(post) / statistics.median(times)]
    seg = ds.dataset(str(b.store / "segments"), format="parquet", partitioning="hive")
    n_docs = seg.to_table(columns=["n_docs"]).column("n_docs").to_numpy()
    r["segments.blocks"] = [len(n_docs)]
    r["segments.bytes_per_posting"] = [_dir_bytes(b.store / "segments") / int(n_docs.sum())]


PER_LAYER = {
    "session.start_s": "s",
    "postings.tokenize_s": "s",
    "postings.rows": "count",
    "segments.postings_per_s": "1/s",
    "segments.bytes_per_posting": "B",
    "segments.blocks": "count",
    "builder.build_s": "s",
    "builder.jobs": "count",
    "builder.executor_run_s": "s",
    "builder.executor_cpu_s": "s",
    "builder.shuffle_write_bytes": "B",
    "builder.spill_bytes": "B",
    "builder.driver_only_s": "s",
    "builder.task_skew": "ratio",
    "engine.term_rows_ms": "ms",
    "engine.scan_ms": "ms",
    "engine.scan_blocks": "count",
    "engine.scan_bytes": "B",
    "engine.buckets": "count",
    "engine.topk_ms": "ms",
    "engine.overhead_ms": "ms",
    "engine.jobs_per_query": "count",
    "engine.tasks_per_query": "count",
    "wand.term_rows_ms": "ms",
    "wand.kernel_ms": "ms",
    "wand.candidates": "count",
    "wand.batch_ms_per_query": "ms",
    "lists.phrase_ms": "ms",
    "lists.phrase_scan_bytes": "B",
    "merge.add_s": "s",
    "merge.replace_s": "s",
    "merge.delete_s": "s",
    "merge.compact_s": "s",
    "merge.bytes_written": "B",
    "merge.generations": "count",
    "merge.shuffle_write_bytes": "B",
} | {f"traced.{k}": u for k, u in END_TO_END.items()}


def layer_metrics(b: Bench, e2e: dict[str, float]) -> dict[str, float]:
    """Every per-layer metric from the spans, the replays and the Spark
    event log of a traced run."""
    (log_file,) = [p for p in (b.work / "events").iterdir() if p.is_file()]
    tr, r = b.tracer, b.replay
    ev = EventLog(log_file, tr.spans)

    def med(xs, scale=1.0):
        return statistics.median(xs) * scale

    def durs(name):
        return [s.dur for s in tr.named(name)]

    def jobs(*names):
        return ev.jobs_in({s.id for n in names for s in tr.named(n)})

    def input_bytes(span_id):
        return sum(t.input_bytes for t in ev.tasks_of(ev.jobs_in({span_id})))

    (build_span,) = tr.named("builder.build_index")
    bjobs = jobs("builder.build_index")
    btasks = ev.tasks_of(bjobs)
    n_topk = len(tr.named("topk"))
    qjobs = jobs("topk")
    writes = ("merge.add", "merge.replace", "merge.delete", "merge.compact")
    return {
        "session.start_s": med(durs("session.start")),
        "postings.tokenize_s": med(r["postings.tokenize"]),
        "postings.rows": med(r["postings.rows"]),
        "segments.postings_per_s": med(r["segments.postings_per_s"]),
        "segments.bytes_per_posting": med(r["segments.bytes_per_posting"]),
        "segments.blocks": med(r["segments.blocks"]),
        "builder.build_s": build_span.dur,
        "builder.jobs": len(bjobs),
        "builder.executor_run_s": sum(t.run_s for t in btasks),
        "builder.executor_cpu_s": sum(t.cpu_s for t in btasks),
        "builder.shuffle_write_bytes": sum(t.shuffle_write for t in btasks),
        "builder.spill_bytes": sum(t.spill for t in btasks),
        "builder.driver_only_s": uncovered_s(build_span, bjobs),
        "builder.task_skew": ev.widest_stage_skew(bjobs),
        "engine.term_rows_ms": med(r["engine.term_rows"], 1e3),
        "engine.scan_ms": med(r["engine.scan"], 1e3),
        "engine.scan_blocks": med(r["engine.scan_blocks"]),
        "engine.scan_bytes": med([input_bytes(i) for i in r["scan_spans"]]),
        "engine.buckets": med(r["engine.buckets"]),
        "engine.topk_ms": med(durs("topk"), 1e3),
        "engine.overhead_ms": med(r["engine.overhead"], 1e3),
        "engine.jobs_per_query": len(qjobs) / n_topk,
        "engine.tasks_per_query": len(ev.tasks_of(qjobs)) / n_topk,
        "wand.term_rows_ms": med(r["wand.term_rows"], 1e3),
        "wand.kernel_ms": med(r["wand.kernel"], 1e3),
        "wand.candidates": med(r["wand.candidates"]),
        "wand.batch_ms_per_query": med(durs("topk_batch"), 1e3 / BATCH_SIZE),
        "lists.phrase_ms": med(durs("phrase"), 1e3),
        "lists.phrase_scan_bytes": med([input_bytes(s.id) for s in tr.named("phrase")]),
        "merge.add_s": med(durs("merge.add")),
        "merge.replace_s": med(durs("merge.replace")),
        "merge.delete_s": med(durs("merge.delete")),
        "merge.compact_s": med(durs("merge.compact")),
        "merge.bytes_written": b.info["write_bytes"],
        "merge.generations": max(b.info["generations_at_reads"]),
        "merge.shuffle_write_bytes": sum(t.shuffle_write for t in ev.tasks_of(jobs(*writes))),
    } | {f"traced.{k}": v for k, v in e2e.items()}


# ---- helpers ----


def _dir_bytes(path: Path) -> int:
    return sum(p.stat().st_size for p in path.rglob("*") if p.is_file())


def _file_state(path: Path) -> dict[str, tuple[int, int]]:
    out = {}
    for p in path.rglob("*"):
        if p.is_file():
            st = p.stat()
            out[str(p)] = (st.st_size, st.st_mtime_ns)
    return out


def _written_bytes(before: dict, after: dict) -> int:
    """Bytes of the files created or rewritten between two states."""
    return sum(sz for p, (sz, mt) in after.items() if before.get(p) != (sz, mt))


def _mount_of(path: Path) -> str:
    best, fstype = "", "?"
    with open("/proc/mounts") as f:
        for line in f:
            mnt, fs = line.split()[1:3]
            if str(path).startswith(mnt) and len(mnt) > len(best):
                best, fstype = mnt, fs
    return f"{best} ({fstype})"


def _cpu_steal(since: tuple[int, int] | None = None):
    """(steal, total) jiffies of the host's CPUs from /proc/stat; with
    ``since``, the share of CPU time stolen by the hypervisor since then."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    now = (fields[7] if len(fields) > 7 else 0, sum(fields))
    if since is None:
        return now
    return (now[0] - since[0]) / max(1, now[1] - since[1])


def _mean(xs: list[float]) -> float:
    return sum(xs) / len(xs)


def _tail(samples: list[float]) -> dict | None:
    """The highest percentile with at least 10 samples beyond it."""
    n = len(samples)
    if n < 11:
        return None
    return {"ms": sorted(samples)[n - 11] * 1e3, "percentile": 100.0 * (n - 10) / n, "samples": n}


def _shared_share(queries: dict[str, tuple[list[str], str]]) -> float:
    """Share of a batch's term uses whose term another query of the
    batch also uses."""
    count = Counter(t for terms, _m in queries.values() for t in set(terms))
    total = sum(count.values())
    return sum(c for c in count.values() if c > 1) / total


def _df_histogram(df: dict[str, int], terms: set[str], n_docs: float) -> dict[str, int]:
    """Query terms per df band (share of docs)."""
    edges = (0.0, 0.001, 0.005, 0.02, 0.1, 0.3, 1.01)
    return {
        f"{lo:g}-{min(hi, 1):g}": sum(1 for t in terms if lo <= df.get(t, 0) / n_docs < hi)
        for lo, hi in zip(edges, edges[1:])
    }


def run(root: Path, workload: str, seed: int, seconds: int, traced: bool) -> dict:
    b = Bench(root, workload, seed, seconds, traced)
    correct, metrics = True, {}
    try:
        b.begin_session()
        metrics = serve(b)
    except (OutputMismatch, StatsMismatch) as e:
        print(f"OUTPUT CHECK FAILED: {e}", file=sys.stderr)
        correct = False
    finally:
        b.stop_session()
    if traced and correct:
        b.tracer.dump(b.work / "spans.json")
        b.info["traced_end_to_end"] = metrics
        metrics = layer_metrics(b, metrics)
    report = {"workload": workload, "seed": seed, "traced": traced, **b.info}
    print(json.dumps(report))
    report["samples_s"] = b.samples
    (b.work / "report.json").write_text(json.dumps(report, indent=1))
    for d in ("store", "local", "tmp", "warehouse"):
        shutil.rmtree(b.work / d, ignore_errors=True)
    units = PER_LAYER if traced else END_TO_END
    return {
        "correct": correct,
        "attempted": max(1, b.attempted),
        "failed": b.failed,
        "metrics": {k: {"value": float(v), "unit": units[k]} for k, v in metrics.items()},
    }
