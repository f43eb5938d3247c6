"""Continuous-aggregate write paths: the footprint re-roll retraction
and the array-kernel fold — null-safe keys, the footprint bound, and no
operator caches."""

import pytest
from pyspark.sql import functions as F

KW = dict(keys=["doc_id", "source"], base_width=16.0, tiers=(1, 10, 100))
COLS = ["doc_id", "source", "tier", "bucket", "n_points", "v_sum", "v_min", "v_max", "v_mean"]


def _rows(df):
    return sorted((tuple(r) for r in df.select(*COLS).collect()), key=repr)


def test_retract_null_source_key(spark, tmp_path):
    """A NULL key must match NULL in both retraction shapes; a plain
    equi-join left the stale NULL-keyed partials in place."""
    from light_curve_spark.operators.rollup import retract_from_rollup, rollup_tiers
    from light_curve_spark.sources.catalog import ParquetSnapshotStorage
    from light_curve_spark.streaming.incremental import retract_rollup_state

    # one doc, every odd row source=NULL: two key tuples, one of them NULL
    rows = [("d", None if i % 2 else "s", float(i), float((i * 37) % 11)) for i in range(200)]
    series = spark.createDataFrame(rows, "doc_id string, source string, t double, v double")
    cond = (F.col("t") >= 20) & (F.col("t") < 30)
    deleted, retained = series.filter(cond), series.filter(~cond)
    want = _rows(rollup_tiers(retained, **KW))
    full = rollup_tiers(series, **KW)
    assert _rows(retract_from_rollup(full, deleted, retained, **KW)) == want

    st = ParquetSnapshotStorage(spark, str(tmp_path / "st"))
    st.append(full, "rollup_continuous")
    retract_rollup_state(st, deleted, retained=retained, **KW)
    assert _rows(st.read_snapshot("rollup_continuous")) == want
    # whole-key delete of the NULL-source tuple
    gone = spark.createDataFrame([("d", None)], "doc_id string, source string")
    retract_rollup_state(st, gone, **KW)
    left = st.read_snapshot("rollup_continuous")
    assert left.filter(F.col("source").isNull()).count() == 0
    assert _rows(left) == _rows(rollup_tiers(retained.filter(F.col("source").isNotNull()), **KW))


def test_retract_reads_only_the_footprint(spark):
    """Rows of ``retained`` outside the delete's coarsest-tier footprint
    are never read: poisoned values there leave the result equal to the
    rollup of the true retained rows. An empty delete is the identity."""
    from light_curve_spark.operators.rollup import retract_from_rollup, rollup_tiers

    rows = [("d", "s", float(t), float(t % 13)) for t in range(3 * 1600)]
    series = spark.createDataFrame(rows, "doc_id string, source string, t double, v double")
    cond = (F.col("t") >= 1700) & (F.col("t") < 1710)  # coarsest bucket 1 only
    deleted, retained = series.filter(cond), series.filter(~cond)
    poison = retained.filter(F.col("t") < 1600).withColumn("v", F.lit(1e9)).union(
        retained.filter(F.col("t") >= 3200).withColumn("v", F.lit(-1e9))
    )
    full = rollup_tiers(series, **KW)
    inside = retained.filter((F.col("t") >= 1600) & (F.col("t") < 3200))
    got = retract_from_rollup(full, deleted, inside.union(poison), **KW)
    assert _rows(got) == _rows(rollup_tiers(retained, **KW))

    same = retract_from_rollup(full, series.limit(0), poison, **KW)
    assert _rows(same) == _rows(full)


def test_write_paths_register_no_operator_cache(spark, tmp_path):
    """Fold, both retraction shapes and the bare re-roll leave the
    session-scoped cache registry as they found it."""
    from light_curve_spark.operators.rollup import retract_from_rollup
    from light_curve_spark.operators.series import explode_series
    from light_curve_spark.plans import caching
    from light_curve_spark.sources.catalog import ParquetSnapshotStorage
    from light_curve_spark.sources.synthetic import synthetic_sequences
    from light_curve_spark.streaming.incremental import incremental_rollup, retract_rollup_state

    st = ParquetSnapshotStorage(spark, str(tmp_path / "st"))
    seq = synthetic_sequences(spark, 6, seed=7)
    series = explode_series(seq)
    cond = F.col("t") % 9 == 4
    before = len(caching._ACTIVE)
    incremental_rollup(spark, st, seq)
    retract_from_rollup(
        st.read_snapshot("rollup_continuous"), series.filter(cond), series.filter(~cond)
    ).count()
    retract_rollup_state(st, series.filter(cond), retained=series.filter(~cond))
    retract_rollup_state(st, seq.select("doc_id").limit(2))
    assert len(caching._ACTIVE) == before


def test_incremental_rollup_rejects_fractional_base_width(spark, tmp_path):
    from light_curve_spark.sources.catalog import ParquetSnapshotStorage
    from light_curve_spark.sources.synthetic import synthetic_sequences
    from light_curve_spark.streaming.incremental import incremental_rollup

    st = ParquetSnapshotStorage(spark, str(tmp_path / "st"))
    with pytest.raises(ValueError, match="integral base_width"):
        incremental_rollup(spark, st, synthetic_sequences(spark, 2, seed=1), base_width=16.5)
