"""Plain-Spark yardsticks for the bounded CPU metric.

The machine this benchmark runs on shares its host: when the host is busy,
the same Spark work costs up to twice the CPU time (each instruction waits
longer on shared caches and memory), and wall time stretches further. No
clock of the benchmark's own run is free of that. So each timed operation
is followed by a yardstick: a job written against PySpark's public API
alone, with no code of the package, that does the same kind of work on the
same inputs, right after it. The bounded metric divides the package's
task CPU time by the yardsticks'; the host's speed cancels out of the
ratio, the package's own cost does not.

Settings a session could change (shuffle partition count, parquet codec)
are named explicitly here, so a change to the package's session defaults
shows in the package's side of the ratio only.
"""

import os


def reshard(spark, src: str, n_shards: int, key: str, out: str) -> int:
    """The bare data path of a resize: read the table's parquet files,
    hash-partition them into ``n_shards`` by ``key``, write them as
    parquet, and count what was written. Returns that count."""
    (
        spark.read.parquet(src)
        .repartition(n_shards, key)
        .write.mode("overwrite")
        .option("compression", "snappy")
        .parquet(out)
    )
    return spark.read.parquet(out).count()


def _read(spark, fix: str, name: str):
    return spark.read.parquet(os.path.join(fix, f"{name}.parquet"))


def grouped_sums(spark, fix: str, partitions: int) -> list:
    """TPC-H Q1's grouped decimal sums and averages over lineitem
    (pricing_summary's kind)."""
    from pyspark.sql import functions as F

    def dec(c):
        return c.cast("decimal(30,4)")

    li = _read(spark, fix, "lineitem")
    qty, price = F.col("l_quantity"), F.col("l_extendedprice")
    disc_price = price * (1 - F.col("l_discount"))
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(dec(qty)), F.sum(dec(price)), F.sum(dec(disc_price)),
            F.sum(dec(disc_price * (1 + F.col("l_tax")))),
            F.avg(dec(qty)), F.avg(dec(price)), F.avg(dec(F.col("l_discount"))),
            F.count(F.lit(1)),
        )
        .orderBy("l_returnflag", "l_linestatus")
        .collect()
    )


def join_sorted(spark, fix: str, partitions: int) -> list:
    """An equi-join with a range filter whose rows are sorted and sent to
    the driver (join_theta_range's kind)."""
    li, part = _read(spark, fix, "lineitem"), _read(spark, fix, "part")
    return (
        li.repartition(partitions, "l_partkey")
        .join(part, (li.l_partkey == part.p_partkey)
              & (li.l_extendedprice > part.p_retailprice * 40))
        .select("l_orderkey", "l_linenumber", "p_partkey", "p_retailprice", "l_extendedprice")
        .orderBy("l_orderkey", "l_linenumber")
        .collect()
    )


def pandas_map(spark, fix: str, partitions: int) -> list:
    """A pandas UDF that builds each document's set of word 5-grams in
    Python (ngram_repetition_quality's kind)."""
    import pandas as pd
    from pyspark.sql import functions as F

    # nested, so it is pickled by value: the workers cannot import this
    # file; the module has no `from __future__ import annotations`, since
    # pandas_udf reads these type hints as types
    def distinct_5grams(text: pd.Series) -> pd.Series:
        def count(t):
            w = t.split()
            return len({tuple(w[i:i + 5]) for i in range(len(w) - 4)})

        return text.map(count)

    udf = F.pandas_udf(distinct_5grams, "long")
    docs = _read(spark, fix, "documents")
    return docs.select("doc_id", udf("text")).orderBy("doc_id").collect()


def exact_percentile(spark, fix: str, partitions: int) -> list:
    """Exact percentiles per group, over each group's sorted values and
    as interpolated aggregates (ch_dialect_quantile's kind)."""
    from pyspark.sql import functions as F

    li = _read(spark, fix, "lineitem")
    qty = F.col("l_quantity")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.sort_array(F.collect_list(qty)).alias("sorted"),
            F.percentile(qty, F.array(F.lit(0.25), F.lit(0.75))),
            F.percentile("l_extendedprice", 0.5), F.percentile("l_discount", 0.5),
            F.count(F.lit(1)).alias("n"),
        )
        .select("l_returnflag", F.expr("sorted[cast(floor(n * 0.5) as int)]"),
                F.expr("sorted[cast(floor(n * 0.9) as int)]"))
        .orderBy("l_returnflag")
        .collect()
    )


def word_counts(spark, fix: str, partitions: int) -> list:
    """The documents tokenised into per-document word counts, joined to a
    broadcast vocabulary and sorted (tf_idf's kind)."""
    from pyspark.sql import functions as F

    docs = _read(spark, fix, "documents")
    w = docs.select("doc_id", F.explode(F.split(F.lower("text"), " ")).alias("word"))
    tf = w.groupBy("doc_id", "word").count()
    vocab = w.groupBy("word").agg(F.countDistinct("doc_id").alias("df"))
    return (
        tf.join(F.broadcast(vocab), "word")
        .filter(F.col("doc_id") < 50)
        .orderBy("doc_id", "word")
        .collect()
    )


# the yardstick of each query of the query mix
FOR_QUERY = {
    "pricing_summary": grouped_sums,
    "join_theta_range": join_sorted,
    "ngram_repetition_quality": pandas_map,
    "ch_dialect_quantile": exact_percentile,
    "tf_idf": word_counts,
}
