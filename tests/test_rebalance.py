"""Unit + property tests for the rebalance/catalog surface (SURVEY.md §5.2
items 3, 5, 6): content preservation, shard balance, swap lifecycle,
edge cases (empty input, all-null keys, skewed keys).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from clickhouse_data_rebalance_spark.plans import catalog as cat
from clickhouse_data_rebalance_spark.plans.rebalance import (
    rebalance,
    rebalance_by_range,
    shard_id,
    skew_report,
)

from .conftest import SF_SMALL
from .test_rebalance_scale import _fingerprint


@pytest.fixture(scope="module")
def lineitem(spark):
    return spark.read.parquet(f"{SF_SMALL}/lineitem.parquet")


def test_rebalance_preserves_content(spark, lineitem, tmp_path):
    dst = str(tmp_path / "rl")
    rebalance(lineitem, 4, ["l_orderkey"], dst_path=dst)
    back = spark.read.parquet(dst)
    assert back.count() == lineitem.count()
    a = lineitem.agg(F.sum(F.col("l_quantity").cast("decimal(30,4)"))).collect()[0][0]
    b = back.agg(F.sum(F.col("l_quantity").cast("decimal(30,4)"))).collect()[0][0]
    assert a == b
    assert back.schema == lineitem.schema  # B6 schema-preserving copy


def test_rebalance_file_count_matches_shards(spark, lineitem, tmp_path):
    dst = str(tmp_path / "rl8")
    rebalance(lineitem, 8, ["l_orderkey"], dst_path=dst)
    files = [f for f in __import__("os").listdir(dst) if f.endswith(".parquet")]
    assert len(files) == 8


def test_rebalance_colocates_keys(spark, lineitem):
    # every row of the same key lands in the same shard
    out = lineitem.select("l_orderkey", shard_id(4, "l_orderkey").alias("s"))
    per_key = out.groupBy("l_orderkey").agg(F.countDistinct("s").alias("n"))
    assert per_key.filter(F.col("n") > 1).count() == 0


def test_shard_id_deterministic(spark, lineitem):
    a = lineitem.select(shard_id(8, "l_orderkey").alias("s")).collect()
    b = lineitem.select(shard_id(8, "l_orderkey").alias("s")).collect()
    assert a == b


def test_skew_report_totals(spark, lineitem):
    rep = skew_report(lineitem, 8, ["l_orderkey"]).collect()[0]
    assert rep["total_rows"] == lineitem.count()
    assert rep["n_shards_used"] <= 8
    assert rep["skew_ratio"] >= 1.0


def test_rebalance_empty_input(spark, lineitem, tmp_path):
    empty = lineitem.filter(F.lit(False))
    dst = str(tmp_path / "empty")
    rebalance(empty, 4, ["l_orderkey"], dst_path=dst)
    assert spark.read.parquet(dst).count() == 0


def test_rebalance_null_keys(spark, tmp_path):
    df = spark.createDataFrame(
        [(None, 1.0), (None, 2.0), (3, 3.0)], "k INT, v DOUBLE"
    )
    dst = str(tmp_path / "nulls")
    rebalance(df, 4, ["k"], dst_path=dst)
    back = spark.read.parquet(dst)
    assert back.count() == 3  # null keys hash to a shard, not dropped


def test_rebalance_salt_spreads_hot_key(spark):
    hot = spark.range(10000).select(F.lit(1).alias("k"), F.col("id"))
    plain = hot.select(shard_id(8, "k").alias("s")).distinct().count()
    # spread entropy must come from non-key content (here: id)
    salted = hot.select(shard_id(8, "k", salt=8, salt_cols=["id"]).alias("s")).distinct().count()
    assert plain == 1  # one hot key → one shard without salt
    assert salted > 1  # salt spreads it


def test_salted_assignment_is_content_deterministic(spark):
    # same rows, different input layout → identical salted shard ids
    df1 = spark.range(1000).select(F.lit(1).alias("k"), F.col("id"))
    df2 = df1.repartition(7)  # different physical layout
    a = df1.select("id", shard_id(8, "k", salt=8, salt_cols=["id"]).alias("s"))
    b = df2.select("id", shard_id(8, "k", salt=8, salt_cols=["id"]).alias("s"))
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_shard_id_matches_repartition_placement(spark, lineitem):
    # shard_id (murmur3 pmod n) must equal the partition repartition()
    # actually places the row in — report/placement/routing agreement
    out = lineitem.repartition(8, F.col("l_orderkey")).select(
        shard_id(8, "l_orderkey").alias("s"),
        F.spark_partition_id().alias("p"),
    )
    assert out.filter(F.col("s") != F.col("p")).count() == 0


def test_range_rebalance_sorts_boundaries(spark, lineitem, tmp_path):
    dst = str(tmp_path / "range")
    rebalance_by_range(lineitem, 4, ["l_shipdate"], dst_path=dst)
    back = spark.read.parquet(dst)
    assert back.count() == lineitem.count()


def test_versioned_name_rejects_bad_token():
    with pytest.raises(ValueError):
        cat.versioned_name("t", "bad token!")
    assert cat.versioned_name("t", "r2") == "t__vr2"


def test_swap_lifecycle(spark, tmp_path):
    src = spark.range(10).withColumnRenamed("id", "x")
    base = str(tmp_path / "cat")
    for t in ["tswap", "tswap__vr9", "tswap__old"]:
        spark.sql(f"DROP TABLE IF EXISTS {t}")
    src.write.option("path", f"{base}/tswap").saveAsTable("tswap")
    v = cat.snapshot(spark, "tswap", "r9", location=base)
    assert v == "tswap__vr9" and cat.table_exists(spark, v)
    # snapshot is idempotent
    assert cat.snapshot(spark, "tswap", "r9", location=base) == v
    cat.swap(spark, "tswap", "r9")
    assert cat.table_exists(spark, "tswap")
    assert cat.table_exists(spark, "tswap__old")
    assert spark.table("tswap").count() == 10
    assert cat.drop_versions(spark, "tswap") == 1
    assert not cat.table_exists(spark, "tswap__old")
    # swap of a missing version raises
    with pytest.raises(ValueError):
        cat.swap(spark, "tswap", "nope")
    spark.sql("DROP TABLE IF EXISTS tswap")


def test_swap_crash_recovery(spark, tmp_path):
    """Kill the swap between its two renames (the documented non-atomic
    window in catalog.swap) and verify recover_swap repairs the catalog:
    roll-forward when the versioned table survived, roll-back when only
    __old did, no-op when already consistent."""
    base = str(tmp_path / "crash")
    for t in ["tcrash", "tcrash__vr1", "tcrash__old"]:
        spark.sql(f"DROP TABLE IF EXISTS {t}")
    spark.range(10).withColumnRenamed("id", "x").write.option(
        "path", f"{base}/tcrash"
    ).saveAsTable("tcrash")
    # new version holds different data so roll-forward is observable
    spark.range(25).withColumnRenamed("id", "x").write.option(
        "path", f"{base}/tcrash__vr1"
    ).saveAsTable("tcrash__vr1")

    # simulate the crash: first rename done, second never ran
    spark.sql("ALTER TABLE tcrash RENAME TO tcrash__old")
    assert not cat.table_exists(spark, "tcrash")

    # mid-swap state: reads of the logical name fail (the documented window)
    with pytest.raises(Exception):
        spark.table("tcrash").count()

    assert cat.recover_swap(spark, "tcrash", "r1") == "forward"
    assert spark.table("tcrash").count() == 25  # new data took over
    assert spark.table("tcrash__old").count() == 10  # old data retained
    # idempotent once consistent
    assert cat.recover_swap(spark, "tcrash", "r1") == "consistent"
    # phase-8 GC completes recovery exactly like the non-crashed path
    assert cat.drop_versions(spark, "tcrash") == 1

    # rollback path: versioned table lost, only __old survives
    spark.sql("ALTER TABLE tcrash RENAME TO tcrash__old")
    assert cat.recover_swap(spark, "tcrash", "r1") == "rollback"
    assert spark.table("tcrash").count() == 25
    # nothing left at all -> unrecoverable raises
    spark.sql("DROP TABLE tcrash")
    with pytest.raises(ValueError):
        cat.recover_swap(spark, "tcrash", "r1")


def test_property_rebalance_preserves_random_tables(spark, tmp_path):
    # lightweight property check: several seeds, content hash preserved
    for seed in [1, 7, 42]:
        df = (
            spark.range(500)
            .select(
                (F.xxhash64("id", F.lit(seed)) % 100).alias("k"),
                F.col("id").cast("double").alias("v"),
            )
        )
        dst = str(tmp_path / f"prop{seed}")
        rebalance(df, 5, ["k"], dst_path=dst)
        back = spark.read.parquet(dst)
        pre = df.agg(F.sum("k"), F.sum("v"), F.count(F.lit(1))).collect()
        post = back.agg(F.sum("k"), F.sum("v"), F.count(F.lit(1))).collect()
        assert pre == post


def test_pipeline_end_to_end(spark, tmp_path):
    from clickhouse_data_rebalance_spark.plans.pipeline import resize_and_rebalance

    for t in ["pipe_t", "pipe_t__old"]:
        spark.sql(f"DROP TABLE IF EXISTS {t}")
    src = spark.range(1000).select(F.col("id").alias("k"), (F.col("id") * 2).alias("v"))
    src.write.option("path", str(tmp_path / "seed")).saveAsTable("pipe_t")
    rep = resize_and_rebalance(spark, "pipe_t", 4, ["k"], location=str(tmp_path))
    assert rep.content_preserved and rep.rows_after == 1000
    assert rep.old_table is None  # GC'd after the invariant held
    assert spark.table("pipe_t").agg(F.sum("v")).collect()[0][0] == 999 * 1000
    assert not (tmp_path / "seed").exists()  # the old copy's files went too
    spark.sql("DROP TABLE IF EXISTS pipe_t")


def test_pipeline_keep_old(spark, tmp_path):
    from clickhouse_data_rebalance_spark.plans import catalog as cat
    from clickhouse_data_rebalance_spark.plans.pipeline import resize_and_rebalance

    for t in ["pipe_k", "pipe_k__old"]:
        spark.sql(f"DROP TABLE IF EXISTS {t}")
    spark.range(50).write.option("path", str(tmp_path / "seed2")).saveAsTable("pipe_k")
    rep = resize_and_rebalance(spark, "pipe_k", 2, ["id"], location=str(tmp_path), keep_old=True)
    assert rep.old_table == "pipe_k__old"
    assert cat.table_exists(spark, "pipe_k__old")
    assert spark.table("pipe_k__old").count() == 50
    assert (tmp_path / "seed2").is_dir()  # keep_old keeps the files too
    for t in ["pipe_k", "pipe_k__old"]:
        spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_pipeline_missing_table_raises(spark):
    import pytest as _pytest
    from clickhouse_data_rebalance_spark.plans.pipeline import resize_and_rebalance

    with _pytest.raises(ValueError):
        resize_and_rebalance(spark, "no_such_tbl", 4, ["x"], location="/tmp/x")


def _seed_table(spark, tmp_path, name, n=300):
    """Drop ``name`` and its side-tables, then write a fresh external table
    of ``n`` rows (key ``k``, value ``v``) and return its fingerprint."""
    for t in cat.list_tables(spark):
        if t == name or t.startswith(f"{name}__"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")
    spark.range(n).select((F.col("id") % 17).alias("k"), F.col("id").alias("v")).write.option(
        "path", str(tmp_path / f"{name}_seed")
    ).saveAsTable(name)
    return _fingerprint(spark.table(name))


def _spy_rebalance(monkeypatch, spark, table, transform=lambda df: df):
    """Wrap ``pipeline.rebalance``: each call records the row count a
    reader of ``table`` sees at that moment, then delegates on
    ``transform(df)``. Returns the list of recorded counts."""
    from clickhouse_data_rebalance_spark.plans import pipeline

    seen, real = [], pipeline.rebalance

    def spy(df, *args, **kwargs):
        seen.append(spark.table(table).count())
        return real(transform(df), *args, **kwargs)

    monkeypatch.setattr(pipeline, "rebalance", spy)
    return seen


def _side_tables(spark, name):
    return [t for t in cat.list_tables(spark) if t.startswith(f"{name}__")]


def test_pipeline_source_readable_during_write(spark, tmp_path, monkeypatch):
    """The logical name serves the source while the re-scatter runs: only
    the swap after a verified write touches it."""
    from clickhouse_data_rebalance_spark.plans.pipeline import resize_and_rebalance

    _seed_table(spark, tmp_path, "pipe_r")
    seen = _spy_rebalance(monkeypatch, spark, "pipe_r")
    rep = resize_and_rebalance(spark, "pipe_r", 3, ["k"], location=str(tmp_path))
    assert seen == [300]
    assert rep.content_preserved and spark.table("pipe_r").count() == 300
    assert _side_tables(spark, "pipe_r") == []
    spark.sql("DROP TABLE IF EXISTS pipe_r")


def test_pipeline_failure_leaves_source(spark, tmp_path, monkeypatch):
    """A run that raises before the swap (unknown key column) leaves the
    source serving throughout, no side-table and no data files."""
    from clickhouse_data_rebalance_spark.plans.pipeline import resize_and_rebalance

    before = _seed_table(spark, tmp_path, "pipe_f")
    seen = _spy_rebalance(monkeypatch, spark, "pipe_f")
    with pytest.raises(Exception):
        resize_and_rebalance(spark, "pipe_f", 4, ["no_such_col"], location=str(tmp_path))
    assert seen == [300]
    assert _fingerprint(spark.table("pipe_f")) == before
    assert _side_tables(spark, "pipe_f") == []
    assert not list((tmp_path / "pipe_f").rglob("*.parquet"))
    spark.sql("DROP TABLE IF EXISTS pipe_f")


def test_pipeline_rerun_drops_stale_version(spark, tmp_path):
    """A run killed after writing its versioned table but before the swap
    leaves ``{t}__v{token}`` with data at the target; the next run drops
    it and lands exactly the source's content."""
    from clickhouse_data_rebalance_spark.plans.pipeline import resize_and_rebalance

    before = _seed_table(spark, tmp_path, "pipe_s")
    spark.range(7).select(F.col("id").alias("k"), F.col("id").alias("v")).write.option(
        "path", str(tmp_path / "pipe_s")
    ).saveAsTable(cat.versioned_name("pipe_s", "n4"))
    rep = resize_and_rebalance(spark, "pipe_s", 4, ["k"], location=str(tmp_path))
    assert rep.content_preserved and rep.rows_after == 300
    assert _fingerprint(spark.table("pipe_s")) == before
    assert _side_tables(spark, "pipe_s") == []
    spark.sql("DROP TABLE IF EXISTS pipe_s")


def test_pipeline_count_mismatch_never_swaps(spark, tmp_path, monkeypatch):
    """If the written version's count differs from the fan-in's, the swap
    never runs: the logical name keeps the source and the report says so."""
    from clickhouse_data_rebalance_spark.plans.pipeline import resize_and_rebalance

    before = _seed_table(spark, tmp_path, "pipe_m")
    _spy_rebalance(monkeypatch, spark, "pipe_m", lambda df: df.filter(F.col("v") % 2 == 0))
    rep = resize_and_rebalance(spark, "pipe_m", 2, ["k"], location=str(tmp_path))
    assert (rep.rows_before, rep.rows_after) == (300, 150)
    assert not rep.content_preserved and rep.old_table is None
    assert _fingerprint(spark.table("pipe_m")) == before
    assert (tmp_path / "pipe_m_seed").is_dir()
    for t in ["pipe_m", *_side_tables(spark, "pipe_m")]:
        spark.sql(f"DROP TABLE IF EXISTS {t}")


@pytest.mark.parametrize("seed_dir, location", [
    ("pipe_o", "."),  # target is the source's own directory
    ("src", "src"),  # target nested in the source: deleting the source would take it
    ("pipe_o/seed", "."),  # source nested in the target: clearing the target would take it
])
def test_pipeline_refuses_overlapping_location(spark, tmp_path, seed_dir, location):
    from clickhouse_data_rebalance_spark.plans.pipeline import resize_and_rebalance

    spark.sql("DROP TABLE IF EXISTS pipe_o")
    spark.range(20).write.option("path", str(tmp_path / seed_dir)).saveAsTable("pipe_o")
    with pytest.raises(ValueError, match="overlaps"):
        resize_and_rebalance(spark, "pipe_o", 2, ["id"], location=str(tmp_path / location))
    assert spark.table("pipe_o").count() == 20
    assert _side_tables(spark, "pipe_o") == []
    spark.sql("DROP TABLE IF EXISTS pipe_o")
