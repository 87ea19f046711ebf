"""The benchmark's workloads. Each one is a closed loop with one client
that repeats a fixed *cycle* of user operations through the public
facade (`engine.connect` → write / shutdown / compact / run_cascade /
apply_retention / execute_*) or `operators.datapipe`, with parameters
drawn from the run's seed.

* ``ingest``: bulk load in set-up, then strictly-forward stream batches
  with read-your-writes queries on the buffered batch, and periodic
  maintenance (cascade, compact, retention with a moving `now`).
* ``dashboard``: a read-only mix of all five query types over a
  committed store built in set-up, plus MinHash-LSH dedup and cosine
  top-k over a seeded document and embedding set.

Every answer is kept and checked against the oracle after the loop.
"""

from __future__ import annotations

import contextlib
import math
import os
import shutil
import time
import traceback

import numpy as np
import pandas as pd
import pyarrow.compute as pc
import pyarrow.parquet as pq

from lindorm_tsdb_contest_java_spark import engine
from lindorm_tsdb_contest_java_spark.operators import datapipe as DP
from lindorm_tsdb_contest_java_spark.ops.retention import RetentionPolicy
from lindorm_tsdb_contest_java_spark.sources.generator import (
    EPOCH_2024_US, generate_transcripts,
)
from lindorm_tsdb_contest_java_spark.sources.table import SnapshotTable

import check as C

MINUTE_MS, HOUR_MS, DAY_MS = 60_000, 3_600_000, 86_400_000
EPOCH_MS = EPOCH_2024_US // 1000
HOT = "conv-00000000"
READ_COLUMNS = C.ROW_COLUMNS[1:]
# Zipf exponent of the generator's conversation sizes, reused for the
# query traffic: low ranks (the hot conversation first) recur
ZIPF_A = 1.3
# corpus seed of the dashboard's committed store (bench.py's corpus seed)
STORE_SEED = 42


class Workload:
    """Shared loop machinery: timed operations, deferred oracle checks."""

    name = ""

    def __init__(self, spark, root: str, seed: int, params: dict):
        self.spark, self.root = spark, root
        self.p = params
        self.rng = np.random.default_rng(seed)
        self.samples: dict[str, list[float]] = {}
        self.attempted = 0
        self.failed = 0
        self.wrong = 0
        self.errors: list[str] = []
        self.pending: list[tuple] = []   # (kind, result, check fn)
        self.rows_returned = 0
        self.turns = 0                   # turns written in the loop
        self.span = None                 # set by the runner when tracing
        self.untimed = False             # warm-up ops: not sampled
        self.phases: dict[str, float] = {}  # set-up phase walls
        self.queue: list | None = None

    def concurrently(self, queue_ops, threads: int = 4) -> None:
        """Run the operations `queue_ops()` issues on a thread pool, with
        no timing samples: untimed warm-up passes and oracle-check
        queries, where only the answers matter. Overlapping their Spark
        jobs keeps the run short."""
        from concurrent.futures import ThreadPoolExecutor

        self.queue = []
        try:
            queue_ops()
        finally:
            queued, self.queue = self.queue, None

        def call(fn):
            try:
                return fn(), None
            except Exception as e:
                return None, e

        with ThreadPoolExecutor(max_workers=threads) as ex:
            results = list(ex.map(lambda q: call(q[1]), queued))
        if self.untimed:
            return
        for (kind, _, check), (out, err) in zip(queued, results):
            self.attempted += 1
            if err is not None:
                self._count_failure(kind, err)
            elif check is not None:
                self.pending.append((kind, out, check))

    def _count_failure(self, kind: str, err: Exception) -> None:
        self.failed += 1
        first = (str(err).splitlines() or [""])[0][:200]
        self.errors.append(f"{kind}: {type(err).__name__}: {first}")

    def phase(self, name: str, t0: float) -> float:
        now = time.perf_counter()
        self.phases[name] = now - t0
        return now

    def _layer_span(self, layer: str, name: str):
        if self.span is None:
            return contextlib.nullcontext()
        return self.span(layer, name)

    def op(self, kind: str, fn, check=None, layer: str = "engine",
           sample: bool = True):
        """Run one user operation; sample its wall (unless `sample` is
        False: oracle-check queries), keep its answer for the oracle
        check. Failures are counted, never raised. Inside `concurrently`
        the operation is queued instead."""
        if self.queue is not None:
            self.queue.append((kind, fn, check))
            return None
        self.attempted += 0 if self.untimed else 1
        t0 = time.perf_counter()
        try:
            with self._layer_span(layer, kind):
                out = fn()
        except Exception as e:
            # a failed operation counts and the run goes on (a warm-up
            # failure repeats, and is counted, in the loop)
            if not self.untimed:
                self._count_failure(kind, e)
            return None
        wall = time.perf_counter() - t0
        if not self.untimed:
            if sample:
                self.samples.setdefault(kind, []).append(wall)
            if isinstance(out, pd.DataFrame):
                self.rows_returned += len(out)
            if check is not None:
                self.pending.append((kind, out, check))
        return out

    def run_checks(self) -> None:
        for kind, out, check in self.pending:
            try:
                why = check(out)
            except Exception:
                why = "check raised " + traceback.format_exc(limit=1)
            if why is not None:
                self.wrong += 1
                self.errors.append(f"{kind}: wrong answer: {why}")
        self.pending = []

    def cached_store(self, rows: pd.DataFrame) -> float | None:
        """Open `self.db` on a copy of the committed store of `rows`,
        built by one `write` + `shutdown` into the per-checkout cache on
        first use. Returns the build wall when this run built it."""
        cache, built_s = self.p["store_cache"], None
        if not os.path.isdir(cache):
            tmp = f"{cache}.tmp-{os.getpid()}"
            shutil.rmtree(tmp, ignore_errors=True)
            t0 = time.perf_counter()
            db = engine.connect(self.spark, tmp)
            db.write(rows)
            db.shutdown()
            built_s = time.perf_counter() - t0
            os.makedirs(os.path.dirname(cache), exist_ok=True)
            try:
                os.rename(tmp, cache)
            except OSError:  # built concurrently by another run
                shutil.rmtree(tmp, ignore_errors=True)
        shutil.copytree(cache, self.root)
        self.db = engine.connect(self.spark, self.root)
        return built_s

    def zipf_conv(self, convs: list[str]) -> str:
        w = 1.0 / np.arange(1, len(convs) + 1) ** ZIPF_A
        return convs[int(self.rng.choice(len(convs), p=w / w.sum()))]


def _to_pdf(df) -> pd.DataFrame:
    return df.toPandas()


def corpus(seed: int, params: dict) -> pd.DataFrame:
    return generate_transcripts(n_conv=params["n_conv"],
                                mean_turns=params["mean_turns"], seed=seed)


# ---------------------------------------------------------------- ingest


class Ingest(Workload):
    """Write-heavy: stream replay with maintenance."""

    name = "ingest"

    def setup(self) -> None:
        p = self.p
        t = time.perf_counter()
        pdf = corpus(STORE_SEED, p)
        size = pdf.groupby("conv_id")["turn_idx"].transform("size")
        head = pdf["turn_idx"] < np.ceil(p["bulk_frac"] * size)
        bulk = pdf[head].reset_index(drop=True)
        self.stream = (pdf[~head].sort_values(["ts", "conv_id"])
                       .reset_index(drop=True))
        # the seed draws the stream batching and the retention horizon
        self.batch_rows = max(1, int(round(
            self.rng.uniform(*p["batch_frac"]) * len(pdf))))
        self.keep_us = int(self.rng.uniform(*p["keep_hours"]) * HOUR_MS) * 1000
        self.n_batches = math.ceil(len(self.stream) / self.batch_rows)
        self.written = [bulk]
        self.n_written = len(bulk)
        self.next_batch = 0
        self.expired_rows = 0
        self.horizon_us = None
        t = self.phase("inputs", t)
        self.bulk = (len(bulk), self.cached_store(bulk))
        t = self.phase("store_open", t)
        # warm-up: the first stream batch runs as an untimed cycle
        self.untimed = True
        try:
            self.cycle()
        finally:
            self.untimed = False
        self.phase("warm_up", t)

    def cycles_left(self) -> int:
        left = self.n_batches - self.next_batch
        return left // self.p["batches_per_cycle"]

    def _model(self, n_rows: int | None = None) -> pd.DataFrame:
        rows = pd.concat(self.written, ignore_index=True)
        return C.canonical_model(rows if n_rows is None else rows[:n_rows])

    def _retained(self, model: pd.DataFrame, horizon_us) -> pd.DataFrame:
        """Rows of chunks that retention at `horizon_us` keeps: a chunk
        is dropped once its end is at or before the horizon."""
        if horizon_us is None:
            return model
        chunk_us = self.p["chunk_us"]
        end = (model["ts_us"] // chunk_us + 1) * chunk_us
        return model[end > horizon_us]

    def cycle(self) -> None:
        p = self.p
        for _ in range(p["batches_per_cycle"]):
            i = self.next_batch
            batch = self.stream.iloc[i * self.batch_rows:
                                     (i + 1) * self.batch_rows]
            self.next_batch += 1
            self.written.append(batch)
            self.n_written += len(batch)
            n_model = self.n_written
            horizon = self.horizon_us
            self.op("write", lambda: self.db.write(batch))
            # read-your-writes on the buffered batch: memtable overlay
            convs = list(dict.fromkeys(batch["conv_id"]))[:10]
            self.op("latest", lambda: _to_pdf(self.db.execute_latest_query(
                        convs, READ_COLUMNS)),
                    check=lambda got, n=n_model, c=convs: C.check_latest(
                        got, self._model(n), c))
            conv = convs[int(self.rng.integers(len(convs)))]
            ub = int(batch["ts"].max().value // 1_000_000) + 1
            lb = ub - HOUR_MS
            self.op("time_range", lambda: _to_pdf(
                        self.db.execute_time_range_query(conv, lb, ub,
                                                         C.ROW_COLUMNS)),
                    check=lambda got, n=n_model, c=conv, lb=lb, ub=ub,
                    h=horizon: C.check_time_range(
                        got, self._retained(self._model(n), h), c, lb, ub,
                        C.ROW_COLUMNS))
            self.op("flush", lambda: self.db.shutdown(cascade=False))
            if not self.untimed:
                self.turns += len(batch)
        now_us = int(self.stream["ts"].iloc[
            min(self.next_batch * self.batch_rows, len(self.stream)) - 1]
            .value // 1000)
        keep = self.keep_us
        policy = RetentionPolicy(segments_keep_us=keep, tier_1m_keep_us=keep)
        self.op("cascade", self.db.run_cascade)
        self.op("compact", self.db.compact)
        out = self.op("retention", lambda: self.db.apply_retention(
            policy, now_us=now_us, vacuum_grace_s=0.0))
        if out and not self.untimed:
            self.expired_rows += out.get("segments", {}).get("rows_dropped", 0)
        self.horizon_us = max(self.horizon_us or 0, now_us - keep)

    def final_checks(self) -> None:
        """All five query types on the committed state after the loop."""
        self.concurrently(self._queue_final_checks)

    def _queue_final_checks(self) -> None:
        model = self._model()
        kept = self._retained(model, self.horizon_us)
        now_ms = int(model["ts_us"].max() // 1000) + 1
        self.op("check_latest", lambda: _to_pdf(
                    self.db.execute_latest_query(None, READ_COLUMNS)),
                check=lambda got: C.check_latest(got, model, None),
                sample=False)
        t = model[model["conv_id"] == HOT]["ts_us"]
        lb, ub = int(t.min() // 1000), int(t.max() // 1000) + 1
        self.op("check_time_range", lambda: _to_pdf(
                    self.db.execute_time_range_query(HOT, lb, ub,
                                                     C.ROW_COLUMNS)),
                check=lambda got: C.check_time_range(
                    got, kept, HOT, lb, ub, C.ROW_COLUMNS), sample=False)
        lb7 = now_ms - 7 * DAY_MS
        self.op("check_aggregate", lambda: _to_pdf(
                    self.db.execute_aggregate_query(HOT, "latency_s", lb7,
                                                    now_ms, "AVG")),
                check=lambda got: C.check_aggregate(
                    got, kept, HOT, "latency_s", lb7, now_ms, "AVG"),
                sample=False)
        lb1 = (now_ms // HOUR_MS - 24) * HOUR_MS
        ub1 = lb1 + 25 * HOUR_MS
        self.op("check_downsample", lambda: _to_pdf(
                    self.db.execute_downsample_query(
                        HOT, "latency_s", lb1, ub1, HOUR_MS, "AVG")),
                check=lambda got: C.check_downsample(
                    got, kept, HOT, "latency_s", lb1, ub1, HOUR_MS, "AVG"),
                sample=False)
        # percentiles only over whole retained hours: a coarse row that
        # straddles the retention floor keeps its pre-expiry value
        lbp = max(self.horizon_us or 0, int(model["ts_us"].min())) // 1000
        lbp = -(-lbp // HOUR_MS) * HOUR_MS
        self.op("check_percentile", lambda: _to_pdf(
                    self.db.execute_percentile_query(lbp, now_ms)),
                check=lambda got: C.check_percentile(got, model, lbp, now_ms),
                sample=False)

    def report(self, loop_s: float) -> dict:
        """Ingest-only figures: (value, unit, n, base)."""
        seg = SnapshotTable.load(os.path.join(self.root, "segments"))
        tbl = pq.read_table(seg.file_paths(), columns=["encoded_bytes",
                                                       "n_rows"])
        enc = pc.sum(tbl["encoded_bytes"]).as_py()
        live = pc.sum(tbl["n_rows"]).as_py()
        out = {}
        turns, built_s = self.bulk
        if built_s:
            out["bulk_turns_per_s"] = (
                turns / built_s, "turns/s", 1,
                "bulk-loaded turns / one cold write+shutdown (the run that "
                "built the cached store)")
        return {
            **out,
            "turns_per_s": (self.turns / loop_s, "turns/s", 1,
                            "streamed turns / loop wall incl. maintenance"),
            "expired_turns": (self.expired_rows, "turns", 1,
                              "segment rows dropped by retention in the loop"),
            "bytes_per_turn": (enc / live, "B/turn", 1,
                               "sum(encoded_bytes) of committed segments / "
                               "live turns in them"),
        }


# ------------------------------------------------------------- dashboard


def make_documents(rng: np.random.Generator, n_docs: int) -> pd.DataFrame:
    """Seeded word-salad documents with planted near-duplicates (one word
    changed) and exact duplicates, like the datapipe test fixture."""
    vocab = np.array([f"w{i}" for i in range(400)]
                     + ["the", "a", "of", "and", "spark", "table"])
    n_base = int(n_docs * 0.9)
    lengths = rng.integers(20, 60, n_base)
    texts = [" ".join(rng.choice(vocab, n)) for n in lengths]
    n_near = int(n_docs * 0.07)
    for j in rng.choice(n_base, n_near, replace=False):
        words = texts[j].split(" ")
        words[int(rng.integers(len(words)))] = "edited"
        texts.append(" ".join(words))
    while len(texts) < n_docs:
        texts.append(texts[int(rng.integers(n_base))])
    return pd.DataFrame({"doc_id": np.arange(len(texts), dtype=np.int64),
                         "text": texts})


class Dashboard(Workload):
    """Read-only: seeded query mix on a committed store + datapipe."""

    name = "dashboard"

    def setup(self) -> None:
        p = self.p
        t = time.perf_counter()
        # the seed draws the queries and the datapipe inputs
        self.model_rows = corpus(STORE_SEED, p)
        self.cached_store(self.model_rows)
        t = self.phase("store_open", t)
        self.model = C.canonical_model(self.model_rows)
        span = self.model.groupby("conv_id")["ts_us"].agg(["min", "max"])
        self.conv_span = {c: (int(a // 1000), int(b // 1000))
                          for c, (a, b) in span.iterrows()}
        self.convs = sorted(self.conv_span)
        self.docs_pdf = make_documents(self.rng, p["n_docs"])
        self.docs = (self.spark.createDataFrame(self.docs_pdf)
                     .repartition(p["cpus"] * 2, "doc_id").cache())
        self.docs.count()
        vecs = self.rng.standard_normal((p["n_vecs"], p["dim"])).astype(
            np.float32)
        self.vecs = vecs.astype(np.float64)
        self.vec_ids = np.arange(p["n_vecs"], dtype=np.int64)
        self.emb = (self.spark.createDataFrame(pd.DataFrame(
            {"vec_id": self.vec_ids, "embedding": list(vecs)}))
            .repartition(p["cpus"]).cache())
        self.emb.count()
        t = self.phase("datapipe_inputs", t)
        # warm-up: one untimed pass over every operation of the cycle
        self.untimed = True
        try:
            self.concurrently(self.cycle)
        finally:
            self.untimed = False
        self.phase("warm_up", t)

    def cycles_left(self) -> int:
        return 1 << 30

    def _window(self, conv: str, width_ms: int, align_ms: int) -> tuple:
        lo, hi = self.conv_span[conv]
        start = lo + int(self.rng.random() * max(0, hi - lo - width_ms))
        lb = start // align_ms * align_ms if align_ms else start
        return lb, lb + width_ms

    def cycle(self) -> None:
        db, m, rng = self.db, self.model, self.rng
        pick = lambda: self.zipf_conv(self.convs)  # noqa: E731

        self.op("latest", lambda: _to_pdf(db.execute_latest_query(
                    None, READ_COLUMNS)),
                check=lambda got: C.check_latest(got, m, None))
        ten = list(dict.fromkeys(pick() for _ in range(10)))
        self.op("latest", lambda: _to_pdf(db.execute_latest_query(
                    ten, READ_COLUMNS)),
                check=lambda got: C.check_latest(got, m, ten))

        # one shape per query family and variant: a 1 d projected range;
        # an interior-dominated (7 d) tier aggregate and a non-tier column
        # (pure decode); a filtered 1 h grid and an unaligned one (lb off
        # the minute grid: router fallback); a 30 d percentile
        conv = pick()
        cols = ["conv_id", "ts_us", "text_len"]
        lb, ub = self._window(conv, DAY_MS, MINUTE_MS)
        self.op("time_range", lambda: _to_pdf(
                    db.execute_time_range_query(conv, lb, ub, cols)),
                check=lambda got, c=conv, lb=lb, ub=ub: C.check_time_range(
                    got, m, c, lb, ub, cols))

        for col, agg in (("latency_s", "AVG"), ("turn_idx", "MAX")):
            conv = pick()
            lb, ub = self._window(conv, 7 * DAY_MS, DAY_MS)
            self.op("aggregate", lambda: _to_pdf(
                        db.execute_aggregate_query(conv, col, lb, ub, agg)),
                    check=lambda got, c=conv, col=col, agg=agg, lb=lb, ub=ub:
                        C.check_aggregate(got, m, c, col, lb, ub, agg))

        # the filtered 30 d panel follows the hot conversation in every
        # cycle (its straddle decode is the costliest read, so leaving it
        # to the draw would make a cycle's cost depend on the seed)
        for conv, days, col, agg, fop, fval, shift in (
                (HOT, 30, "text_len", "AVG", "GREATER", 10, 0),
                (pick(), 1, "text_len", "MAX", None, None, 7_000)):
            lb = self.conv_span[conv][0] // DAY_MS * DAY_MS + shift
            ub = lb + days * DAY_MS
            self.op("downsample", lambda: _to_pdf(
                        db.execute_downsample_query(conv, col, lb, ub, HOUR_MS,
                                                    agg, fop, fval)),
                    check=lambda got, c=conv, col=col, agg=agg, fop=fop,
                    fval=fval, lb=lb, ub=ub: C.check_downsample(
                        got, m, c, col, lb, ub, HOUR_MS, agg, fop, fval))

        lb = EPOCH_MS
        ub = lb + 30 * DAY_MS
        self.op("percentile", lambda: _to_pdf(
                    db.execute_percentile_query(lb, ub)),
                check=lambda got: C.check_percentile(got, m, lb, ub))

        self.op("dedup", lambda: _to_pdf(DP.lsh_candidate_pairs(
                    DP.minhash_signatures(DP.with_shingles(
                        DP.with_tokens(self.docs), n=3)), "doc_id")),
                check=lambda got: C.check_lsh_pairs(got, self.docs_pdf),
                layer="datapipe")
        q = rng.standard_normal(self.p["dim"])
        self.op("topk", lambda: _to_pdf(DP.cosine_topk(
                    self.emb, [float(x) for x in q], k=10)),
                check=lambda got, q=q: C.check_topk(
                    got, self.vecs, self.vec_ids, q, 10),
                layer="datapipe")

    def final_checks(self) -> None:
        """The loop's answers are the check set (run_checks)."""

    def report(self, loop_s: float) -> dict:
        return {}


WORKLOADS = {"ingest": Ingest, "dashboard": Dashboard}
