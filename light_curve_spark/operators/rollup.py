"""Continuous-aggregate rollups at 1x/10x/100x retention tiers.

north_rule: "rolls them into continuous aggregates at 1x/10x/100x
retention tiers". A tier-T bucket is ``floor(t / (base_width * T))``.

Cascade discipline (SURVEY.md §2.5): coarser tiers are computed FROM the
next-finer tier's partials — sum-of-sums, min-of-mins, max-of-maxs,
count-of-counts — never by re-scanning raw data. At 100 TB this is the
difference between one raw scan plus two tiny shuffles and three raw
scans; it is also exactly Spark's partial/final aggregate shape, so each
cascade step is a single hash-aggregate exchange that AQE coalesces.

Non-decomposable statistics (median, MAD) cannot cascade; policy is
recompute-from-raw per tier (:func:`rollup_quantiles`) — exactness beats
sketches for the golden-parity gate (SURVEY.md §7 phase 4).
"""

from __future__ import annotations

from functools import reduce

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from light_curve_spark.functions import bucketize

ROLLUP_AGG_COLS = ("n_points", "v_sum", "v_min", "v_max")


def _int_width(base_width) -> int:
    """Array-native rollups bucket on integer token positions; a
    fractional width would silently shift bucket boundaries vs the
    relational path (r2 review finding) — reject it loudly."""
    bw = int(base_width)
    if bw != base_width or bw <= 0:
        raise ValueError(
            f"array-native rollups need a positive integral base_width; got {base_width!r}"
        )
    return bw


def _flat_token_segments(b):
    """(flat f64 values, lengths, starts, elem, pos) from an Arrow
    batch's ``tokens`` ListArray — the shared segment preamble of every
    array-native kernel in this module."""
    toks = b.column(b.schema.get_field_index("tokens"))
    off = toks.offsets.to_numpy()
    lengths = (off[1:] - off[:-1]).astype(np.int64)
    flat = toks.flatten().to_numpy().astype(np.float64)
    starts = np.cumsum(lengths) - lengths
    elem = np.repeat(np.arange(lengths.shape[0]), lengths)
    pos = np.arange(flat.shape[0], dtype=np.int64) - starts[elem]
    return flat, lengths, starts, elem, pos


def _base_rollup(series: DataFrame, keys: list[str], width: float) -> DataFrame:
    return series.groupBy(
        *keys, bucketize("t", width).alias("bucket")
    ).agg(
        F.count("v").alias("n_points"),
        F.sum("v").alias("v_sum"),
        F.min("v").alias("v_min"),
        F.max("v").alias("v_max"),
    )


def _cascade(finer: DataFrame, keys: list[str], factor: int) -> DataFrame:
    """One cascade step: partials of partials, no raw re-scan."""
    return finer.groupBy(
        *keys,
        F.floor(F.col("bucket") / F.lit(factor)).alias("bucket"),
    ).agg(
        F.sum("n_points").alias("n_points"),
        F.sum("v_sum").alias("v_sum"),
        F.min("v_min").alias("v_min"),
        F.max("v_max").alias("v_max"),
    )


def rollup_tiers(
    series: DataFrame,
    keys: list[str] | None = None,
    base_width: float = 16.0,
    tiers: tuple[int, ...] = (1, 10, 100),
    persist_intermediate: bool = True,
) -> DataFrame:
    """(key..., tier, bucket, n_points, v_sum, v_min, v_max, v_mean) for
    every retention tier, cascaded. ``tiers`` must be ascending and each
    divisible by its predecessor.

    ``persist_intermediate`` caches each finer tier so the physical plan
    scans the raw series ONCE: without it, the union's three branches
    each recompute their full lineage (3 raw scans + 6 exchanges at 3
    tiers — verified in PLANS.md). Cached partials are tiny relative to
    raw (1/base_width per tier); they are registered in the session-scoped
    cache registry — call plans.caching.release_operator_caches() at a
    batch boundary to unpersist (the pipeline does)."""
    from light_curve_spark.plans.caching import cached

    keys = keys or ["doc_id", "source"]
    tiered: list[DataFrame] = []
    cur = _base_rollup(series, keys, base_width * tiers[0])
    if persist_intermediate and len(tiers) > 1:
        cur = cached(cur)
    tiered.append(cur.withColumn("tier", F.lit(tiers[0])))
    for i, (prev_t, t) in enumerate(zip(tiers, tiers[1:])):
        if t % prev_t != 0:
            raise ValueError(f"tier {t} not a multiple of {prev_t}")
        cur = _cascade(cur, keys, t // prev_t)
        if persist_intermediate and i < len(tiers) - 2:
            cur = cached(cur)
        tiered.append(cur.withColumn("tier", F.lit(t)))
    out = reduce(lambda a, b: a.unionByName(b), tiered)
    return out.select(
        *keys,
        "tier",
        "bucket",
        "n_points",
        "v_sum",
        "v_min",
        "v_max",
        (F.col("v_sum") / F.col("n_points")).alias("v_mean"),
    )


def null_safe_join(df: DataFrame, other: DataFrame, cols: list[str], how: str) -> DataFrame:
    """Join ``df`` to the broadcast ``other`` on ``cols`` with NULL
    matching NULL (``eqNullSafe``): rollup key columns such as ``source``
    are nullable, and a plain equi-join would let a NULL-keyed row slip
    past a retraction. Catalyst still plans it as a hash join."""
    o = other.select(*[F.col(c).alias(f"_o_{c}") for c in cols])
    cond = reduce(
        lambda a, b: a & b, [F.col(c).eqNullSafe(F.col(f"_o_{c}")) for c in cols]
    )
    return df.join(F.broadcast(o), cond, how)


def retract_from_rollup(
    rollup: DataFrame,
    deleted: DataFrame,
    retained: DataFrame,
    keys: list[str] | None = None,
    base_width: float = 16.0,
    tiers: tuple[int, ...] = (1, 10, 100),
) -> DataFrame:
    """Remove DELETED raw events from an already-computed tier rollup —
    the continuous-aggregate side of the right-to-be-forgotten surface
    (the dedup/vector twins are the tombstone operators). The result
    EQUALS ``rollup_tiers(retained, ...)`` (pytest + SQL oracle) by a
    footprint re-roll:

    - the delete's footprint is the distinct (keys, coarsest-tier
      bucket) pairs of the deleted rows; every tier bucket nests in
      exactly one coarsest bucket, its ancestor
      ``floor(bucket / (tiers[-1] // tier))``;
    - rollup rows whose ancestor is in the footprint are anti-joined
      out; everywhere else no deleted row contributed, so the stored
      partials already equal the retained rollup;
    - ``rollup_tiers`` over ``retained`` SEMI-JOINED to the footprint
      replaces them. The re-roll is bounded by the delete's
      coarsest-tier footprint (base_width * tiers[-1] of ``t`` per
      bucket), never the corpus: rows outside it never reach it.

    Keys match null-safely. Sums are re-added from retained rows, not
    subtracted, so ``v_sum`` carries no cancellation error. ``rollup``
    must carry the ``rollup_tiers`` row shape (``v_mean`` is re-derived);
    ``retained`` is the raw series minus ``deleted``, in the same long
    form the rollup was built from."""
    keys = keys or ["doc_id", "source"]
    coarsest = tiers[-1]
    span = coarsest // tiers[0]
    # same integer cascade as rollup_tiers, so boundaries agree exactly
    anc = F.floor(bucketize("t", base_width * tiers[0]) / F.lit(span))
    footprint = deleted.select(*keys, anc.alias("_anc")).distinct()
    kept = null_safe_join(
        rollup.withColumn(
            "_anc", F.floor(F.col("bucket") / (F.lit(coarsest) / F.col("tier")))
        ),
        footprint,
        [*keys, "_anc"],
        "left_anti",
    )
    reroll = rollup_tiers(
        null_safe_join(
            retained.withColumn("_anc", anc), footprint, [*keys, "_anc"], "left_semi"
        ),
        keys,
        base_width,
        tiers,
        persist_intermediate=False,
    )
    cols = [*keys, "tier", "bucket", *ROLLUP_AGG_COLS]
    return (
        kept.select(*cols)
        .unionByName(reroll.select(*cols))
        .withColumn("v_mean", F.col("v_sum") / F.col("n_points"))
    )


def rollup_tiers_arrays(
    seq: DataFrame,
    base_width: int = 16,
    tiers: tuple[int, ...] = (1, 10, 100),
) -> DataFrame:
    """Array-native tier cascade for the SEQUENCES table: zero shuffle.

    A sequence's time axis is its own token positions, so every tier
    bucket of a given doc lives inside that one row — groupBy would
    shuffle 6M exploded points to co-locate data that is already
    co-located. Instead the whole 1x/10x/100x cascade runs inside one
    mapInPandas pass, segment-vectorized (reduceat over bucket
    boundaries; coarser tiers reduce the finer tier's partials, same
    cascade math as :func:`rollup_tiers`). ~25x fewer rows ever leave
    the kernel, and none of them cross an exchange.

    At 100 TB this is the difference between the rollup being a free
    rider on the feature-extraction scan and being the job's largest
    shuffle. Results are identical to rollup_tiers(explode_series(seq))
    (tested). Output: (doc_id, source, tier, bucket, n_points, v_sum,
    v_min, v_max, v_mean).
    """
    import pyarrow as pa
    from pyspark.sql.types import (
        DoubleType,
        IntegerType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    schema = StructType(
        [
            StructField("doc_id", StringType(), False),
            StructField("source", StringType(), True),
            StructField("tier", IntegerType(), False),
            StructField("bucket", LongType(), False),
            StructField("n_points", LongType(), False),
            StructField("v_sum", DoubleType(), False),
            StructField("v_min", DoubleType(), False),
            StructField("v_max", DoubleType(), False),
            StructField("v_mean", DoubleType(), False),
        ]
    )
    out_names = [f.name for f in schema.fields]

    for prev_t, t in zip(tiers, tiers[1:]):
        if t % prev_t != 0:
            raise ValueError(f"tier {t} not a multiple of {prev_t}")

    base_width = _int_width(base_width)

    def fn(batches):
        for b in batches:
            if b.num_rows == 0:
                continue
            flat, lengths, starts, elem, pos = _flat_token_segments(b)
            if flat.shape[0] == 0:
                continue  # all-empty batch: no buckets (reduceat([0]) would throw)
            doc_col = b.column(b.schema.get_field_index("doc_id"))
            src_col = b.column(b.schema.get_field_index("source"))

            parts = []
            # tier 1 from raw, segment boundaries where (row, bucket) changes
            width = base_width * tiers[0]
            bucket = pos // width
            gid = elem * (1 << 40) | bucket  # composite, monotone within batch
            seg = np.flatnonzero(np.r_[True, gid[1:] != gid[:-1]])
            s_elem = elem[seg]
            s_bucket = bucket[seg]
            s_n = np.diff(np.r_[seg, flat.shape[0]])
            s_sum = np.add.reduceat(flat, seg)
            s_min = np.minimum.reduceat(flat, seg)
            s_max = np.maximum.reduceat(flat, seg)

            parts.append((tiers[0], s_elem, s_bucket, s_n, s_sum, s_min, s_max))
            for prev_t, t in zip(tiers, tiers[1:]):
                f = t // prev_t
                cb = s_bucket // f
                cg = s_elem * (1 << 40) | cb
                cseg = np.flatnonzero(np.r_[True, cg[1:] != cg[:-1]])
                s_n = np.add.reduceat(s_n, cseg)
                s_sum = np.add.reduceat(s_sum, cseg)
                s_min = np.minimum.reduceat(s_min, cseg)
                s_max = np.maximum.reduceat(s_max, cseg)
                s_elem = s_elem[cseg]
                s_bucket = cb[cseg]
                parts.append((t, s_elem, s_bucket, s_n, s_sum, s_min, s_max))

            e_all = np.concatenate([p[1] for p in parts])
            tier_all = np.concatenate(
                [np.full(p[1].shape[0], p[0], dtype=np.int32) for p in parts]
            )
            idx = pa.array(e_all)
            arrays = [
                doc_col.take(idx),
                src_col.take(idx),
                pa.array(tier_all),
                pa.array(np.concatenate([p[2] for p in parts])),
                pa.array(np.concatenate([p[3] for p in parts])),
                pa.array(np.concatenate([p[4] for p in parts])),
                pa.array(np.concatenate([p[5] for p in parts])),
                pa.array(np.concatenate([p[6] for p in parts])),
                pa.array(
                    np.concatenate([p[4] / p[3] for p in parts])
                ),
            ]
            yield pa.RecordBatch.from_arrays(arrays, out_names)

    return seq.select("doc_id", "source", "tokens", "n_tok").mapInArrow(
        fn, schema=schema
    )


def rollup_quantiles_arrays(
    seq: DataFrame,
    base_width: int = 16,
    tiers: tuple[int, ...] = (1, 10, 100),
) -> DataFrame:
    """Array-native exact median/MAD per tier bucket for the SEQUENCES
    table: zero shuffle (the non-decomposable companion to
    :func:`rollup_tiers_arrays`).

    The relational :func:`rollup_quantiles` explodes sequences to long
    form and shuffles EVERY point once per tier (median is
    non-decomposable, so it was the pipeline's largest exchange — the
    stage that hit the 1 GB-heap OOM at the 500k-sequence stress run).
    But a sequence's buckets are contiguous runs of its own row, so the
    exact per-bucket median/MAD reduce inside one mapInArrow pass: one
    ``np.lexsort`` per tier per batch for the medians, one more for the
    MADs (the same segment-median machinery as kernels feature_frame).
    Results bit-match the relational path (tested) — token values are
    integer-valued f64, and both paths take the exact mean-of-two-middles
    median."""
    import pyarrow as pa
    from pyspark.sql.types import (
        DoubleType,
        IntegerType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    schema = StructType(
        [
            StructField("doc_id", StringType(), False),
            StructField("source", StringType(), True),
            StructField("tier", IntegerType(), False),
            StructField("bucket", LongType(), False),
            StructField("v_median", DoubleType(), False),
            StructField("v_mad", DoubleType(), False),
        ]
    )

    base_width = _int_width(base_width)

    def fn(batches):
        from light_curve_spark.kernels.features import segment_median

        for b in batches:
            if b.num_rows == 0:
                continue
            flat, lengths, starts, elem, pos = _flat_token_segments(b)
            if flat.shape[0] == 0:
                continue  # all-empty batch: no buckets (empty medians would throw)
            doc_col = b.column(b.schema.get_field_index("doc_id"))
            src_col = b.column(b.schema.get_field_index("source"))
            e_parts, t_parts, b_parts, med_parts, mad_parts = [], [], [], [], []
            for t in tiers:
                width = base_width * t
                bucket = pos // width
                gid = elem * (1 << 40) | bucket  # monotone within batch
                seg = np.flatnonzero(np.r_[True, gid[1:] != gid[:-1]])
                seg_len = np.diff(np.r_[seg, flat.shape[0]])
                med = segment_median(flat, gid, seg, seg_len)
                seg_of = np.repeat(np.arange(seg.shape[0]), seg_len)
                absd = np.abs(flat - med[seg_of])
                mad = segment_median(absd, gid, seg, seg_len)
                e_parts.append(elem[seg])
                t_parts.append(np.full(seg.shape[0], t, dtype=np.int32))
                b_parts.append(bucket[seg])
                med_parts.append(med)
                mad_parts.append(mad)
            idx = pa.array(np.concatenate(e_parts))
            yield pa.RecordBatch.from_arrays(
                [
                    doc_col.take(idx),
                    src_col.take(idx),
                    pa.array(np.concatenate(t_parts)),
                    pa.array(np.concatenate(b_parts)),
                    pa.array(np.concatenate(med_parts)),
                    pa.array(np.concatenate(mad_parts)),
                ],
                [f.name for f in schema.fields],
            )

    return seq.select("doc_id", "source", "tokens").mapInArrow(fn, schema=schema)


def rollup_distinct(
    series: DataFrame,
    distinct_col: str,
    keys: list[str] | None = None,
    base_width: float = 16.0,
    tiers: tuple[int, ...] = (1, 10, 100),
    lg_config_k: int = 12,
) -> DataFrame:
    """Distinct-count continuous aggregate per retention tier via HLL
    sketches: (key..., tier, bucket, n_distinct).

    Distinct counts are non-decomposable exactly but MERGEABLE as
    sketches, so this follows the same cascade discipline as
    :func:`rollup_tiers`: the raw series is scanned ONCE into base-tier
    ``hll_sketch_agg`` sketches; every coarser tier is
    ``hll_union_agg`` over the next-finer tier's sketches (HLL union is
    lossless for same-precision sketches, so the cascaded estimate
    EQUALS the direct-aggregation estimate — pytest-asserted). At 100 TB
    that is one raw shuffle plus tiny sketch-table shuffles, versus a
    full re-shuffle of raw values per tier for exact count_distinct.

    Determinism is regime-dependent (measured, tests/test_round3.py):
    in the sparse/coupon regime (per-bucket cardinality well under
    2^lg_config_k/4) the sketch stores exact hashes, so estimates are
    EXACT and partition-independent — that is the sf0.01 contract
    query's regime, which is what lets it oracle against DuckDB's exact
    COUNT(DISTINCT). In the dense regime the estimate carries the
    standard ~1.04/sqrt(2^lg_config_k) relative error and can shift by
    a few counts with input partitioning (partials cross the
    sparse->dense promotion at different points — a DataSketches HLL
    property, not an engine bug). The cascade itself is lossless in
    BOTH regimes: unioned sketches give the same estimate as direct
    aggregation."""
    from light_curve_spark.plans.caching import cached

    keys = keys or []
    cur = series.groupBy(
        *keys, bucketize("t", base_width * tiers[0]).alias("bucket")
    ).agg(F.hll_sketch_agg(distinct_col, F.lit(lg_config_k)).alias("_sk"))
    if len(tiers) > 1:
        cur = cached(cur)
    tiered = [cur.withColumn("tier", F.lit(tiers[0]))]
    for i, (prev_t, t) in enumerate(zip(tiers, tiers[1:])):
        if t % prev_t != 0:
            raise ValueError(f"tier {t} not a multiple of {prev_t}")
        cur = cur.groupBy(
            *keys, F.floor(F.col("bucket") / F.lit(t // prev_t)).alias("bucket")
        ).agg(F.hll_union_agg("_sk").alias("_sk"))
        if i < len(tiers) - 2:
            cur = cached(cur)
        tiered.append(cur.withColumn("tier", F.lit(t)))
    out = reduce(lambda a, b: a.unionByName(b), tiered)
    return out.select(
        *keys,
        "tier",
        "bucket",
        F.hll_sketch_estimate("_sk").alias("n_distinct"),
    )


def rollup_quantiles_approx(
    series: DataFrame,
    keys: list[str] | None = None,
    base_width: float = 16.0,
    tiers: tuple[int, ...] = (1, 10, 100),
    accuracy: int = 10_000,
) -> DataFrame:
    """Sketch-based per-tier quantiles: ``percentile_approx`` (Greenwald-
    Khanna) instead of exact recompute-from-raw — the scale option when
    the exactness gate is not required: one pass per tier with a bounded-
    memory mergeable sketch (RANK error <= n/accuracy), no full re-sort
    of raw points. Output: (key..., tier, bucket, p25, p50, p75).

    Measured at stress scale (BENCH.md round-3 appendix, 61M tokens):
    6.4x faster than the relational exact path, 2.6x faster than the
    zero-shuffle array kernel; with per-bucket n << accuracy the sketch
    is rank-EXACT (every odd-count bucket matched the exact median to
    the bit). The residual deviation is definitional, not sketch error:
    GK returns an order statistic, while the exact median averages the
    two middles on even counts — on widely-spaced values that gap is
    data-dependent (mean ~5.5% of the median scale on uniform tokens),
    NOT bounded by the value quantization. No oracle (the sketch is
    engine-specific); accuracy vs the exact path is bounded in tests."""
    keys = keys or ["doc_id", "source"]
    out = None
    for t in tiers:
        tier_df = (
            series.withColumn("bucket", bucketize("t", base_width * t))
            .groupBy(*keys, "bucket")
            .agg(
                F.percentile_approx("v", 0.25, accuracy).alias("p25"),
                F.percentile_approx("v", 0.5, accuracy).alias("p50"),
                F.percentile_approx("v", 0.75, accuracy).alias("p75"),
            )
            .withColumn("tier", F.lit(t))
        )
        out = tier_df if out is None else out.unionByName(tier_df)
    return out.select(*keys, "tier", "bucket", "p25", "p50", "p75")


def rollup_quantiles(
    series: DataFrame,
    keys: list[str] | None = None,
    base_width: float = 16.0,
    tiers: tuple[int, ...] = (1, 10, 100),
) -> DataFrame:
    """Exact median/MAD per tier bucket, recomputed from raw (the
    non-decomposable companion to :func:`rollup_tiers`)."""
    keys = keys or ["doc_id", "source"]
    out = None
    for t in tiers:
        bucketed = series.withColumn(
            "bucket", bucketize("t", base_width * t)
        )
        med = bucketed.groupBy(*keys, "bucket").agg(F.median("v").alias("v_median"))
        mad = (
            bucketed.join(med, [*keys, "bucket"])
            .groupBy(*keys, "bucket")
            .agg(F.median(F.abs(F.col("v") - F.col("v_median"))).alias("v_mad"))
        )
        tier_df = med.join(mad, [*keys, "bucket"]).withColumn("tier", F.lit(t))
        out = tier_df if out is None else out.unionByName(tier_df)
    return out.select(*keys, "tier", "bucket", "v_median", "v_mad")
