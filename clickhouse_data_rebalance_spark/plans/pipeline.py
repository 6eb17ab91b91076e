"""The reference's end-to-end rebalance pipeline as one API.

`sharding_recreation.py:269-342` runs 8 phases: introspect DDL → rewrite
versioned DDL → create versioned locals → rename old aside → rename new
into place → create versioned dist router → INSERT-SELECT through the
router (the rebalance) → drop old. Net effect (SURVEY.md §3.1): the old
data ends up re-scattered by hash across the enlarged shard set while
readers keep the logical table name throughout.

Spark collapses the phases that exist only because ClickHouse separates
local/distributed tables and per-node DDL (ON CLUSTER fan-out, recreate-
originals-on-new-shards): the catalog is cluster-global and a table's
partitioning IS its shard layout. What remains is the reference's
phases 3 → 7 → 4/5 → 8:

    create empty versioned table → hash re-scatter into it → verify
    → swap (`catalog.swap`, the package's one rename protocol) → GC

so the logical name serves the source until the new data is written and
verified, with the reference's guarded ordering (EXISTS probes before
renames, sharding_recreation.py:216-217, 236-237).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Observation, SparkSession, functions as F

from . import catalog as cat
from .rebalance import rebalance


def _strip_scheme(path: str) -> str:
    """``file:/tmp/x`` / ``hdfs://nn/x`` → path part, for overlap checks."""
    import re

    return re.sub(r"^[a-z][a-z0-9+.-]*:(//[^/]*)?", "", path).rstrip("/")


def _hadoop_fs(spark: SparkSession, path: str):
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    return hpath.getFileSystem(spark._jsc.hadoopConfiguration()), hpath


def _delete_path(spark: SparkSession, path: str) -> None:
    """Recursively delete ``path`` through the Hadoop FileSystem API —
    works for any scheme the cluster can write (local, HDFS, s3a, …),
    unlike shutil."""
    fs, hpath = _hadoop_fs(spark, path)
    fs.delete(hpath, True)


def _ensure_dir(spark: SparkSession, path: str) -> None:
    """mkdir -p: an external table whose LOCATION does not exist yet makes
    every resolution between CREATE and first INSERT stat the missing dir
    and log a FileNotFoundException at WARN — pre-create it instead."""
    fs, hpath = _hadoop_fs(spark, path)
    fs.mkdirs(hpath)


@dataclass
class RebalanceReport:
    """What the pipeline did — returned, not logged, so callers can gate."""

    table: str
    n_shards: int
    keys: list[str]
    rows_before: int
    rows_after: int
    old_table: str | None  # name of the kept __old table, None if none kept

    @property
    def content_preserved(self) -> bool:
        return self.rows_before == self.rows_after


def resize_and_rebalance(
    spark: SparkSession,
    table_name: str,
    n_shards: int,
    keys: list[str],
    location: str,
    keep_old: bool = False,
) -> RebalanceReport:
    """Re-scatter a catalog table across ``n_shards`` by ``keys`` while
    keeping its logical name readable — the whole reference pipeline.

    Phase map (reference → here, in the order it runs):
      1-2  DDL introspection/rewrite  → schema taken from the catalog
      3    create versioned locals    → create empty ``{t}__vn{n_shards}``
                                        at ``{location}/{t}``
      6    versioned dist router      → not needed: the DataFrame scan of
                                        the source IS the fan-in read
      7    INSERT INTO ... SELECT *   → rebalance(): one hash shuffle,
                                        append into the versioned table
      —    verify                     → its row count == the fan-in's
      4-5  rename old aside, new in   → catalog.swap(), only once verified
      8    DROP old                   → swap drops ``{t}__old``, then its
                                        files are deleted (unless keep_old)

    Readers of ``t`` see the source until the swap's two metadata renames
    (the reference has the same window: two separate cluster DDLs).
    ``keep_old=True`` keeps ``{t}__old``, both the table and its files. A
    count mismatch never reaches the swap: ``t`` keeps the source, the
    report says ``content_preserved`` False, and the versioned table stays
    for inspection. A killed run leaves a stale versioned table (the next
    run to the same shard count drops it), the swap's two-rename window
    (``catalog.recover_swap``) or ``{t}__old`` (the next run refuses until
    it is GC'd).
    """
    if not cat.table_exists(spark, table_name):
        raise ValueError(f"no such table: {table_name}")
    oname = cat.old_name(table_name)
    if cat.table_exists(spark, oname):
        raise ValueError(f"{oname} already exists — previous run not GC'd")

    src = spark.table(table_name)
    schema_ddl = ", ".join(
        f"`{f.name}` {f.dataType.simpleString()}" for f in src.schema.fields
    )

    target_loc = f"{location.rstrip('/')}/{table_name}"
    src_loc = (
        spark.sql(f"DESCRIBE FORMATTED {table_name}")
        .filter("col_name = 'Location'")
        .head()["data_type"]
        .rstrip("/")
    )
    src_dir, tgt_dir = _strip_scheme(src_loc) + "/", _strip_scheme(target_loc) + "/"
    if src_dir.startswith(tgt_dir) or tgt_dir.startswith(src_dir):
        raise ValueError(
            f"target location {target_loc} overlaps {table_name}'s data at "
            f"{src_loc}: the pipeline clears the target before reading the "
            "source and deletes the source after the swap"
        )

    token = f"n{n_shards}"
    vname = cat.versioned_name(table_name, token)
    # a stale versioned table is what a run killed before its swap leaves
    cat.drop_versions(spark, table_name, [token])
    # Guard before CREATE: an external-table CREATE ... LOCATION silently
    # adopts any files already under the location (e.g. from a killed
    # earlier run), which would serve duplicate rows after the INSERT.
    _delete_path(spark, target_loc)
    _ensure_dir(spark, target_loc)
    spark.sql(
        f"CREATE TABLE {vname} ({schema_ddl}) USING parquet LOCATION '{target_loc}'"
    )
    try:
        # phase 7: fan-in scan, one hash shuffle, fan-out append
        # (sharding_recreation.py:159-160's INSERT-SELECT). rows_before
        # rides the scan as an Observation: no extra pass over the source
        obs = Observation("rebalance_fanin")
        fan_in = src.observe(obs, F.count(F.lit(1)).alias("n_rows"))
        rebalance(fan_in, n_shards, keys).write.insertInto(vname)
        rows_before = int(obs.get["n_rows"])
    except Exception:
        # the source was never touched: drop the half-written version so
        # a retry (or a later CREATE at the same location) starts clean
        spark.sql(f"DROP TABLE {vname}")
        _delete_path(spark, target_loc)
        raise

    rows_after = spark.table(vname).count()
    swapped = rows_after == rows_before
    if swapped:
        cat.swap(spark, table_name, token, keep_old=keep_old)
        if not keep_old:
            _delete_path(spark, src_loc)
    return RebalanceReport(
        table=table_name,
        n_shards=n_shards,
        keys=keys,
        rows_before=rows_before,
        rows_after=rows_after,
        old_table=oname if swapped and keep_old else None,
    )
