"""The benchmark's workloads: inputs made from the seed, the closed-loop
operation each one repeats, and the output checks.

Every workload drives the engine only through its public functions.
An operation is an :class:`Op`: ``run`` is the timed call, ``check``
(untimed) compares its output with values the benchmark computes itself
from :func:`light_curve_spark.sources.synthetic.row_fields` or from its
own document generator. A raised exception or a failed check counts the
operation as failed.

Sizes are module constants; ``SMALL`` scales them down for the smoke
test.
"""

from __future__ import annotations

import os
import shutil
import string
import time
from collections.abc import Callable, Iterator
from dataclasses import dataclass, field
from functools import reduce

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from light_curve_spark.operators.compress import decode_chunks, encode_chunks
from light_curve_spark.operators.dedup import minhash_lsh_pairs
from light_curve_spark.operators.downsample import downsample_lttb
from light_curve_spark.operators.features import extract_features
from light_curve_spark.operators.gapfill import interpolate_relational
from light_curve_spark.operators.retention import apply_retention
from light_curve_spark.operators.rollup import (
    retract_from_rollup,
    rollup_quantiles_arrays,
    rollup_tiers,
    rollup_tiers_arrays,
)
from light_curve_spark.operators.series import explode_series
from light_curve_spark.plans.caching import release_operator_caches
from light_curve_spark.plans.doc_pipeline import DocPipelineConfig, run_document_pipeline
from light_curve_spark.plans.pipeline import PipelineConfig, run_pipeline
from light_curve_spark.plans.salting import salted_repartition
from light_curve_spark.sources.catalog import ParquetSnapshotStorage
from light_curve_spark.sources.synthetic import SEQUENCES_SCHEMA, row_fields, synthetic_sequences
from light_curve_spark.streaming.incremental import incremental_rollup, retract_rollup_state

from tracing import RecordingStorage, Tracer, dir_bytes

SMALL = os.environ.get("PERFBENCH_SMALL") == "1"

INGEST_SEQUENCES = 300 if SMALL else 8000
SERVE_SEQUENCES = 200 if SMALL else 2000
# arriving fold batches are cut by size, as a stream source's
# max-bytes-per-trigger cuts them: consecutive sequences until the batch
# holds this many tokens (about 100 sequences; their lengths are
# heavy-tailed, so a fixed count would vary a batch's size by a third)
FOLD_TOKENS = 15_000 if SMALL else 30_000
DEDUP_BASE_DOCS = 60 if SMALL else 300
DEDUP_EXACT_GROUPS = 6 if SMALL else 30
DEDUP_NEAR_GROUPS = 6 if SMALL else 30
DEDUP_NEAR_VARIANTS = 2
DEDUP_MIN_RECALL = 0.9

BASE_WIDTH = 16
TIERS = (1, 10, 100)
# retention policy the serve client reads through: tier 1 keeps the
# last 256 positions before the watermark, tier 10 the last 2048, tier
# 100 everything
WATERMARK = 1024.0
HORIZONS = {1: 256.0, 10: 2048.0}
# serve's cycle: one request of each read type, then a Fold cycle
SERVE_READS = ("range", "regrid", "lttb", "replay")
# doc popularity follows Zipf's law in its classic form: the k-th most
# popular doc is requested in proportion to 1/k
ZIPF_S = 1.0
REGRID_POINTS = 24
REGRID_STEP = 2.5
REGRID_FILL = (-1.0, -2.0)
LTTB_POINTS = 12


@dataclass
class Op:
    kind: str
    run: Callable[[], object]
    check: Callable[[object], bool]
    items: int = 1  # units of work counted into throughput


@dataclass
class Ctx:
    spark: object
    seed: int
    work: str
    tracer: Tracer
    nproc: int
    layer: dict = field(default_factory=dict)  # per-layer figures
    phases: dict = field(default_factory=dict)  # set-up phase -> seconds
    lap_start: float = field(default_factory=time.perf_counter)

    def lap(self, phase: str) -> None:
        """Record the seconds since the previous lap as ``phase``."""
        now = time.perf_counter()
        self.phases[phase] = round(now - self.lap_start, 3)
        self.lap_start = now


def _doc_id(i: int) -> str:
    return f"doc{i:08d}"


def _storage(ctx: Ctx, root: str):
    """Fresh snapshot storage at ``root``; wrapped so commits become
    spans when tracing is on."""
    shutil.rmtree(root, ignore_errors=True)
    return RecordingStorage(ParquetSnapshotStorage(ctx.spark, root), ctx.tracer)


def _pipeline_config(ctx: Ctx, root: str) -> PipelineConfig:
    """The flagship job's config for a run: one doc-bucket group and two
    partitions per core. The defaults (4 groups of 32 partitions) size a
    cluster: on 4 vCPUs a warm pass over 2000 sequences took 77 s wall
    and 218 CPU seconds with them, against about 10 s wall for 8000
    sequences with this config, so a run could not hold two passes.
    A change to those two defaults therefore does not show here."""
    return PipelineConfig(out_root=root, n_groups=1, num_partitions=2 * ctx.nproc, input_snapshot="v1")


def _noop(df) -> None:
    df.write.mode("overwrite").format("noop").save()


def _bucket_stats(tokens: np.ndarray, tier: int) -> dict[int, tuple]:
    """(n_points, v_sum, v_min, v_max) per bucket of one sequence."""
    v = tokens.astype(np.float64)
    width = BASE_WIDTH * tier
    starts = np.arange(0, v.shape[0], width)
    n = np.minimum(width, v.shape[0] - starts)
    stats = zip(n, np.add.reduceat(v, starts), np.minimum.reduceat(v, starts), np.maximum.reduceat(v, starts))
    return {i: (int(c), float(a), float(lo), float(hi)) for i, (c, a, lo, hi) in enumerate(stats)}


def _tokens_equal(decoded_rows, expected: dict[str, np.ndarray]) -> bool:
    """Exact token equality of decoded chunk rows against reference."""
    got: dict[str, list] = {}
    for r in sorted(decoded_rows, key=lambda r: (r.doc_id, r.chunk_no)):
        got.setdefault(r.doc_id, []).extend(r.tokens)
    return set(got) == set(expected) and all(
        np.array_equal(np.asarray(got[d], dtype=np.int64), expected[d].astype(np.int64))
        for d in expected
    )


# --------------------------------------------------------------------------
# ingest: the flagship pipeline, fresh output root every pass


class Ingest:
    """``run_pipeline`` over ``synthetic_sequences``."""

    def __init__(self, ctx: Ctx):
        self.ctx = ctx

    def setup(self) -> None:
        ctx = self.ctx
        self.seq = synthetic_sequences(ctx.spark, INGEST_SEQUENCES, seed=ctx.seed, num_partitions=ctx.nproc)
        n_tok, _src, toks = row_fields(np.arange(INGEST_SEQUENCES), ctx.seed)
        self.total_tokens = int(n_tok.sum())
        rng = np.random.default_rng(ctx.seed)
        sample = rng.choice(INGEST_SEQUENCES, size=8, replace=False)
        self.sample = {_doc_id(int(i)): toks[int(i)] for i in sample}
        self.input_bytes = 4 * self.total_tokens  # int32 tokens
        self.stored = []
        self.passes = 0
        self._pass()  # warm-up pass (JIT, Python workers)
        ctx.lap("warm_up")

    def _pass(self):
        self.passes += 1
        root = os.path.join(self.ctx.work, f"ingest_out{self.passes % 2}")
        st = _storage(self.ctx, root)
        with self.ctx.tracer.span("plans.pipeline.run_pipeline"):
            run_pipeline(self.ctx.spark, self.seq, _pipeline_config(self.ctx, root), storage=st)
        return st, root

    def _check(self, res) -> bool:
        st, root = res
        self.stored.append(dir_bytes(root) / self.input_bytes)
        tiers = {
            r.tier: r.n for r in st.read("rollup").groupBy("tier").agg(F.sum("n_points").alias("n")).collect()
        }
        decoded = decode_chunks(st.read("chunks").filter(F.col("doc_id").isin(list(self.sample)))).collect()
        return (
            tiers == {t: self.total_tokens for t in TIERS}
            and st.read("features").count() == INGEST_SEQUENCES
            and _tokens_equal(decoded, self.sample)
        )

    def ops(self) -> Iterator[Op]:
        while True:
            yield Op("pass", self._pass, self._check, items=self.total_tokens)

    def layer_passes(self) -> None:
        """Force each lazy layer of the pipeline on its own over the same
        persisted input (noop writes), for per-layer busy time."""
        ctx, tr = self.ctx, self.ctx.tracer
        path = os.path.join(ctx.work, "ingest_input")
        self.seq.write.parquet(path)
        seq = ctx.spark.read.parquet(path)
        cfg = _pipeline_config(ctx, "")
        parts = cfg.num_partitions
        with tr.span("plans.salting.repartition"):
            _noop(salted_repartition(seq, parts, cfg.n_buckets))
        sizes = sorted(
            r.b
            for r in salted_repartition(seq, parts, cfg.n_buckets)
            .groupBy(F.spark_partition_id().alias("p"))
            .agg(F.sum(F.col("n_tok") * 4).alias("b"))
            .collect()
        )
        sizes += [0] * (parts - len(sizes))
        ctx.layer["plans.salting.partition_bytes_max_over_median"] = max(sizes) / max(float(np.median(sizes)), 1.0)
        with tr.span("operators.features.extract"):
            _noop(extract_features(seq, freqs=np.asarray(cfg.freqs)))
        with tr.span("operators.rollup.tiers_arrays"):
            _noop(rollup_tiers_arrays(seq, base_width=BASE_WIDTH, tiers=TIERS))
        with tr.span("operators.rollup.quantiles_arrays"):
            _noop(rollup_quantiles_arrays(seq, base_width=BASE_WIDTH, tiers=TIERS))
        with tr.span("operators.compress.encode"):
            _noop(encode_chunks(seq, max_len=cfg.max_chunk_len))
        out = encode_chunks(seq, max_len=cfg.max_chunk_len).agg(
            F.sum(F.length("ts_dod") + F.length("vals_gorilla")).alias("b")
        )
        bytes_out = out.collect()[0].b
        ctx.layer["operators.compress.bytes_out"] = float(bytes_out)
        ctx.layer["operators.compress.bytes_out_per_token_byte"] = bytes_out / self.input_bytes

    def stored_bytes_per_input_byte(self) -> float:
        return float(np.median(self.stored))


# --------------------------------------------------------------------------
# serve: point reads of the tables ingest writes, beside fold writes


class Serve:
    """Reads beside writes. Each operation is one cycle: a single-doc
    request of each type in ``SERVE_READS`` against tables
    ``run_pipeline`` wrote during set-up (the doc of each request is a
    seeded Zipf draw), then a ``Fold`` cycle: a fold of the next arriving
    batch, a whole-key delete of the oldest one and a partial-bucket
    delete, each followed by a state read. Every cycle has the same calls
    on the same amount of data, so cycles are alike, and the first one of
    a traced run traces every call."""

    def __init__(self, ctx: Ctx):
        self.ctx = ctx

    def setup(self) -> None:
        ctx = self.ctx
        seq = synthetic_sequences(ctx.spark, SERVE_SEQUENCES, seed=ctx.seed, num_partitions=ctx.nproc)
        root = os.path.join(ctx.work, "serve_tables")
        self.storage = _storage(ctx, root)
        run_pipeline(ctx.spark, seq, _pipeline_config(ctx, root), storage=self.storage)
        release_operator_caches()
        ctx.lap("tables")
        _n_tok, _src, self.tokens = row_fields(np.arange(SERVE_SEQUENCES), ctx.seed)
        self.input_bytes = 4 * int(_n_tok.sum())
        self.stored = dir_bytes(root) / self.input_bytes
        self.rng = np.random.default_rng(ctx.seed)
        self.popularity = self.rng.permutation(SERVE_SEQUENCES)
        zipf = np.arange(1, SERVE_SEQUENCES + 1, dtype=np.float64) ** -ZIPF_S
        self.rank_p = zipf / zipf.sum()
        self.fold = Fold(ctx)
        self.fold.setup(warm_up=False)  # the warm-up cycle runs its writes
        op = next(self.ops())  # one warm-up cycle
        op.check(op.run())
        ctx.lap("cycle_warm_up")

    def _doc(self) -> int:
        rank = int(self.rng.choice(SERVE_SEQUENCES, p=self.rank_p))
        return int(self.popularity[rank])

    def _tier_rows(self, doc: str):
        """One doc's rollup rows straight from the catalog."""
        with self.ctx.tracer.span("sources.catalog.read"):
            return self.storage.read("rollup").filter(F.col("doc_id") == doc)

    def _series(self, doc: str):
        """Tier-1 rows as a (doc_id, t, v) series: t = bucket, v = mean."""
        return (
            self._tier_rows(doc)
            .filter(F.col("tier") == TIERS[0])
            .select("doc_id", F.col("bucket").cast("double").alias("t"), F.col("v_mean").alias("v"))
        )

    def _collect(self, span: str, df):
        with self.ctx.tracer.span(span):
            rows = df.collect()
        # counted in traced operations only, like the rows they scan
        self.ctx.tracer.count("sources.catalog.rows_returned", len(rows))
        return rows

    def _expected_tier1(self, i: int) -> tuple[np.ndarray, np.ndarray]:
        st = _bucket_stats(self.tokens[i], TIERS[0])
        t = np.array(sorted(st), dtype=np.float64)
        v = np.array([st[int(b)][1] / st[int(b)][0] for b in t])
        return t, v

    def _range(self, i: int) -> Op:
        doc = _doc_id(i)

        def run():
            return self._collect(
                "operators.retention.apply",
                apply_retention(self._tier_rows(doc), WATERMARK, HORIZONS, base_width=BASE_WIDTH),
            )

        def check(rows) -> bool:
            want = {}
            for tier in TIERS:
                for b, s in _bucket_stats(self.tokens[i], tier).items():
                    end = (b + 1) * BASE_WIDTH * tier
                    if tier not in HORIZONS or end > WATERMARK - HORIZONS[tier]:
                        want[(tier, b)] = s
            got = {(r.tier, r.bucket): (r.n_points, r.v_sum, r.v_min, r.v_max) for r in rows}
            return got == want

        return Op("range", run, check)

    def _regrid(self, i: int) -> Op:
        doc = _doc_id(i)
        left, right = REGRID_FILL

        def run():
            grid = self.ctx.spark.range(REGRID_POINTS).select(
                F.lit(doc).alias("doc_id"), (F.col("id") * REGRID_STEP).alias("t")
            )
            return self._collect(
                "operators.gapfill.regrid",
                interpolate_relational(self._series(doc), grid, left, right, keys=["doc_id"]),
            )

        def check(rows) -> bool:
            kt, kv = self._expected_tier1(i)
            g = np.arange(REGRID_POINTS) * REGRID_STEP
            want = np.interp(g, kt, kv, left=left, right=right)
            got = np.array([r.v for r in sorted(rows, key=lambda r: r.t)])
            return got.shape == want.shape and np.allclose(got, want, rtol=1e-12, atol=1e-9)

        return Op("regrid", run, check)

    def _lttb(self, i: int) -> Op:
        doc = _doc_id(i)

        def run():
            return self._collect("operators.downsample.lttb", downsample_lttb(self._series(doc), LTTB_POINTS))

        def check(rows) -> bool:
            kt, kv = self._expected_tier1(i)
            if len(rows) != 1:
                return False
            t, v = np.asarray(rows[0].t_ds), np.asarray(rows[0].v_ds)
            n_want = kt.shape[0] if LTTB_POINTS >= kt.shape[0] else LTTB_POINTS
            known = dict(zip(kt.tolist(), kv.tolist()))
            return (
                t.shape[0] == n_want
                and t[0] == kt[0]
                and t[-1] == kt[-1]
                and bool(np.all(np.diff(t) > 0))
                and all(known.get(a) == b for a, b in zip(t.tolist(), v.tolist()))
            )

        return Op("lttb", run, check)

    def _replay(self, i: int) -> Op:
        doc = _doc_id(i)

        def run():
            with self.ctx.tracer.span("sources.catalog.read"):
                chunks = self.storage.read("chunks").filter(F.col("doc_id") == doc)
            return self._collect("operators.compress.decode", decode_chunks(chunks))

        return Op("replay", run, lambda rows: _tokens_equal(rows, {doc: self.tokens[i]}))

    def ops(self) -> Iterator[Op]:
        request = {"range": self._range, "regrid": self._regrid, "lttb": self._lttb, "replay": self._replay}
        while True:
            yield _cycle([lambda k=k: request[k](self._doc()) for k in SERVE_READS] + self.fold.cycle())

    def final_check(self) -> bool:
        return self.fold.final_check()

    def layer_passes(self) -> None:
        self.fold.layer_passes()

    def stored_bytes_per_input_byte(self) -> float:
        return self.stored


def _cycle(steps: list[Callable[[], Op]]) -> Op:
    """One operation made of several calls, run in order. Each step
    builds its call only when the previous one has run, so a delete
    picks among the docs folded so far."""

    def run():
        done = []
        for make in steps:
            op = make()
            done.append((op, op.run()))
        return done

    def check(done) -> bool:
        return all(op.check(res) for op, res in done)

    return Op("cycle", run, check, items=len(steps))


# --------------------------------------------------------------------------
# fold: continuous-aggregate writes (folds and deletes) beside state reads


class Fold:
    """Continuous-aggregate writes beside state reads, over a sliding
    window of arriving sequence batches. Each cycle folds the next batch
    with ``incremental_rollup``, expires the oldest live batch with a
    whole-key ``retract_rollup_state``, and deletes a range of positions
    from one live doc with a partial-bucket ``retract_from_rollup``; each
    write is followed by a state read. The state holds one batch between
    cycles, so every cycle does the same work however long a run is."""

    def __init__(self, ctx: Ctx):
        self.ctx = ctx

    def setup(self, warm_up: bool = True) -> None:
        ctx = self.ctx
        self.batches: list = []
        self.bounds = [0]  # batch b holds doc ids bounds[b] .. bounds[b + 1] - 1
        self.n_tok = np.zeros(0, dtype=np.int64)  # per doc id
        self.root = os.path.join(ctx.work, "fold_state")
        self.storage = _storage(ctx, self.root)
        self.rng = np.random.default_rng(ctx.seed)
        self.folded = 0  # batches folded so far
        self.expired = 0  # batches expired so far (the oldest ones)
        self.ranges: dict[int, tuple[int, int]] = {}  # doc -> deleted [lo, hi)
        self.tokens_in = 0
        self.bytes_written = 0
        self.state_rows = 0
        self._fold().run()  # the window's first batch
        if warm_up:
            for make in self.cycle():
                op = make()
                op.check(op.run())
            ctx.lap("write_warm_up")

    def cycle(self) -> list[Callable[[], Op]]:
        """The calls of one cycle, each built only when it is due."""
        return [self._fold, self._read, self._expire, self._read, self._delete_partial, self._read]

    def _batch(self, b: int):
        """Arriving batch ``b``: the next ``FOLD_TOKENS`` tokens' worth of
        sequences of the seeded corpus, built with ``row_fields`` (the
        generator's pure row function) so a run never runs out of input."""
        while len(self.batches) <= b:
            start = lookahead = self.bounds[-1]
            lengths = np.zeros(0, dtype=np.int64)
            while lengths.sum() < FOLD_TOKENS:
                more, _src, _tok = row_fields(np.arange(lookahead, lookahead + 256), self.ctx.seed)
                lengths = np.concatenate([lengths, more])
                lookahead += 256
            end = start + 1 + int(np.searchsorted(np.cumsum(lengths), FOLD_TOKENS))
            self.bounds.append(end)
            ids = np.arange(start, end)
            n_tok, source, tokens = row_fields(ids, self.ctx.seed)
            pdf = pd.DataFrame({"doc_id": [_doc_id(int(i)) for i in ids], "tokens": tokens, "n_tok": n_tok, "source": source})
            self.batches.append(self.ctx.spark.createDataFrame(pdf, schema=SEQUENCES_SCHEMA))
            self.n_tok = np.concatenate([self.n_tok, n_tok.astype(np.int64)])
        return self.batches[b]

    # reference model --------------------------------------------------
    def _live_docs(self) -> np.ndarray:
        return np.arange(self.bounds[self.expired], self.bounds[self.folded])

    def _live_ranges(self) -> dict[int, tuple[int, int]]:
        return {d: r for d, r in self.ranges.items() if d >= self.bounds[self.expired]}

    def _live_tokens(self) -> int:
        live = int(self.n_tok[self._live_docs()].sum())
        return live - sum(hi - lo for lo, hi in self._live_ranges().values())

    def _retained(self):
        """The live batches minus every partial delete, long form."""
        live = self.batches[self.expired : self.folded]
        long = explode_series(reduce(DataFrame.unionByName, live))
        for d, (lo, hi) in self._live_ranges().items():
            long = long.filter(~((F.col("doc_id") == _doc_id(d)) & (F.col("t") >= lo) & (F.col("t") < hi)))
        return long

    # operations -------------------------------------------------------
    def _write(self, span: str, fn) -> Callable[[], object]:
        def run():
            before = dir_bytes(self.root)
            with self.ctx.tracer.span(span):
                fn()
                release_operator_caches()
            self.bytes_written += dir_bytes(self.root) - before

        return run

    def _fold(self) -> Op:
        b = self.folded
        batch = self._batch(b)

        def fold():
            incremental_rollup(self.ctx.spark, self.storage, batch, base_width=BASE_WIDTH, tiers=TIERS)
            self.folded += 1
            self.tokens_in += int(self.n_tok[self.bounds[b] : self.bounds[b + 1]].sum())

        return Op("fold", self._write("streaming.incremental.fold", fold), lambda _r: True)

    def _expire(self) -> Op:
        b = self.expired
        keys = self.ctx.spark.createDataFrame(
            [(_doc_id(d),) for d in range(self.bounds[b], self.bounds[b + 1])], "doc_id string"
        )

        def retract():
            retract_rollup_state(self.storage, keys, base_width=BASE_WIDTH, tiers=TIERS)
            self.expired += 1

        return Op("retract", self._write("streaming.incremental.retract", retract), lambda _r: True)

    def _delete_partial(self) -> Op:
        live = [int(d) for d in self._live_docs() if self.n_tok[d] >= 32 and int(d) not in self.ranges]
        d = int(self.rng.choice(live))
        n = int(self.n_tok[d])
        width = max(1, min(40, n // 4))
        lo = int(self.rng.integers(0, n - width))
        batch = self._batch(int(np.searchsorted(self.bounds, d, side="right")) - 1)
        doc_rows = explode_series(batch.filter(F.col("doc_id") == _doc_id(d)))
        deleted = doc_rows.filter((F.col("t") >= lo) & (F.col("t") < lo + width))

        def retract():
            self.ranges[d] = (lo, lo + width)
            state = self.storage.read_snapshot("rollup_continuous")
            with self.ctx.tracer.span("operators.rollup.retract"):
                reduced = retract_from_rollup(
                    state, deleted, self._retained(), base_width=BASE_WIDTH, tiers=TIERS
                )
                self.storage.append(reduced, "rollup_continuous")

        return Op("retract", self._write("streaming.incremental.retract", retract), lambda _r: True)

    def _read(self) -> Op:
        def run():
            with self.ctx.tracer.span("streaming.incremental.state_read"):
                state = self.storage.read_snapshot("rollup_continuous")
                got = {r.tier: r.n for r in state.groupBy("tier").agg(F.sum("n_points").alias("n")).collect()}
            return got, self._live_tokens()

        def check(res) -> bool:
            per_tier, live = res
            return per_tier == {t: live for t in TIERS}

        return Op("state_read", run, check)

    def ops(self) -> Iterator[Op]:
        while True:
            yield from (make() for make in self.cycle())

    def final_check(self) -> bool:
        """The state equals ``rollup_tiers`` over the retained rows."""
        cols = ["doc_id", "source", "tier", "bucket", "n_points", "v_sum", "v_min", "v_max"]
        state = self.storage.read_snapshot("rollup_continuous").select(*cols)
        self.state_rows = state.count()
        want = rollup_tiers(self._retained(), base_width=BASE_WIDTH, tiers=TIERS).select(*cols)
        diff = state.exceptAll(want).count() + want.exceptAll(state).count()
        release_operator_caches()
        return diff == 0

    def layer_passes(self) -> None:
        """The relational tier cascade on its own, over one batch."""
        with self.ctx.tracer.span("operators.rollup.tiers_relational"):
            _noop(rollup_tiers(explode_series(self._batch(0)), base_width=BASE_WIDTH, tiers=TIERS))
            release_operator_caches()
        self.ctx.layer["streaming.incremental.state_rows"] = float(self.state_rows)

    def stored_bytes_per_input_byte(self) -> float:
        return self.bytes_written / max(4 * self.tokens_in, 1)


# --------------------------------------------------------------------------
# dedup: the document pipeline over a corpus with planted duplicates


def make_documents(seed: int) -> tuple[list[tuple[int, str]], dict[int, int], set[int]]:
    """Seeded corpus: random base documents plus planted duplicate
    groups. Returns (rows, group of each planted doc, the doc ids a
    correct dedup drops — every planted doc but its group's minimum).

    Exact groups add one copy that differs only in case and spacing
    (equal after the pipeline's normalization). Near groups add
    ``DEDUP_NEAR_VARIANTS`` copies with one word replaced each, a word
    3-gram Jaccard of about 0.95 against the original."""
    rng = np.random.default_rng(seed)
    letters = np.array(list(string.ascii_lowercase))
    vocab = np.array(["".join(rng.choice(letters, size=int(k))) for k in rng.integers(3, 10, size=4000)])
    texts = [list(rng.choice(vocab, size=int(rng.integers(60, 160)))) for _ in range(DEDUP_BASE_DOCS)]
    groups: list[list[int]] = []
    for base in range(DEDUP_EXACT_GROUPS):
        texts.append([w.upper() if j % 7 == 0 else w for j, w in enumerate(texts[base])])
        groups.append([base, len(texts) - 1])
    for base in range(DEDUP_EXACT_GROUPS, DEDUP_EXACT_GROUPS + DEDUP_NEAR_GROUPS):
        members = [base]
        for _ in range(DEDUP_NEAR_VARIANTS):
            words = list(texts[base])
            words[int(rng.integers(0, len(words)))] = str(rng.choice(vocab))
            texts.append(words)
            members.append(len(texts) - 1)
        groups.append(members)
    names = [int(k) for k in rng.permutation(len(texts))]
    spacing = ["  ", " "]
    rows = [(names[i], (spacing[i % 2] if i >= DEDUP_BASE_DOCS else " ").join(t)) for i, t in enumerate(texts)]
    group_of: dict[int, int] = {}
    drops: set[int] = set()
    for g, members in enumerate(groups):
        ids = sorted(names[m] for m in members)
        group_of.update({d: g for d in ids})
        drops.update(ids[1:])
    return rows, group_of, drops


class Dedup:
    """``run_document_pipeline`` over the seeded corpus, fresh root per pass."""

    def __init__(self, ctx: Ctx):
        self.ctx = ctx

    def setup(self) -> None:
        ctx = self.ctx
        rows, self.group_of, self.drops = make_documents(ctx.seed)
        path = os.path.join(ctx.work, "dedup_input")
        ctx.spark.createDataFrame(rows, "doc_id long, text string").repartition(ctx.nproc).write.mode(
            "overwrite"
        ).parquet(path)
        self.docs = ctx.spark.read.parquet(path)
        self.n_docs = len(rows)
        self.input_bytes = sum(len(t.encode()) for _d, t in rows)
        self.stored = []
        self.recall = []
        self.stage_s: dict[str, list[float]] = {}
        self.passes = 0

    def _pass(self):
        self.passes += 1
        root = os.path.join(self.ctx.work, f"dedup_out{self.passes % 2}")
        st = _storage(self.ctx, root)
        cfg = DocPipelineConfig(out_root=root, input_snapshot="v1")
        with self.ctx.tracer.span("plans.doc_pipeline.run_document_pipeline"):
            stats = run_document_pipeline(self.ctx.spark, self.docs, cfg, storage=st)
        for k, v in stats.items():
            if k.endswith("_sec"):
                self.stage_s.setdefault(k[: -len("_sec")], []).append(v)
        return st, root

    def _check(self, res) -> bool:
        st, root = res
        self.stored.append(dir_bytes(root) / self.input_bytes)
        status = st.read_snapshot("dp_doc_status").collect()
        dropped = {r.doc_id: r.lost_to for r in status if r.drop_stage is not None}
        false_drops = [
            d for d, to in dropped.items()
            if d not in self.drops or self.group_of.get(to) != self.group_of[d]
        ]
        recall = len(self.drops & set(dropped)) / len(self.drops)
        self.recall.append(recall)
        return len(status) == self.n_docs and not false_drops and recall >= DEDUP_MIN_RECALL

    def ops(self) -> Iterator[Op]:
        while True:
            yield Op("pass", self._pass, self._check, items=self.n_docs)

    def layer_passes(self) -> None:
        """Candidate vs verified pairs of the MinHash-LSH stage."""
        cfg = DocPipelineConfig(out_root="")
        kw = dict(n=cfg.ngram_n, num_hashes=cfg.num_hashes, bands=cfg.bands)
        with self.ctx.tracer.span("operators.dedup.minhash_lsh_pairs"):
            cand = minhash_lsh_pairs(self.docs, threshold=0.0, **kw).count()
            verified = minhash_lsh_pairs(self.docs, threshold=cfg.minhash_threshold, **kw).count()
        release_operator_caches()
        layer = self.ctx.layer
        layer["operators.dedup.candidate_pairs"] = float(cand)
        layer["operators.dedup.verified_pairs"] = float(verified)
        layer["operators.dedup.candidate_precision"] = verified / cand if cand else 0.0
        for stage, v in self.stage_s.items():
            layer[f"plans.doc_pipeline.stage_s.{stage}"] = float(np.median(v))
        layer["dedup_planted_recall"] = float(np.median(self.recall))

    def stored_bytes_per_input_byte(self) -> float:
        return float(np.median(self.stored))


WORKLOADS = {"ingest": Ingest, "serve": Serve, "fold": Fold, "dedup": Dedup}
