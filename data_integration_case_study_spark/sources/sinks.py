"""Sinks (SURVEY.md §2.1 S3-S4) and constraint assertions.

The reference loads MySQL with ``to_sql(if_exists='replace', dtype=...)``
and then applies PRIMARY KEY DDL (reference insert.py:70-84, 188-191).
Spark-side equivalents:

- S3: ``write.format('jdbc')`` with ``createTableColumnTypes`` carrying the
  per-column SQL types (String(36) → VARCHAR(36)), partitioned/batched so
  the load parallelizes instead of the reference's single socket.
- S4: PRIMARY KEY DDL is not a Spark concept. Two replacements: a
  driver-side DDL passthrough for real JDBC targets, and — the lake-native
  path — :func:`assert_unique`, which turns the constraint into a verified
  data-quality invariant *before* the write (at 100 TB you want the check
  distributed, not a post-load index build).
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame


class ConstraintViolation(Exception):
    """A declared uniqueness/not-null invariant failed."""


def assert_unique(df: DataFrame, keys: list[str]) -> DataFrame:
    """S4 as a data-quality gate: fail (with offending examples) if the
    key set is not unique. One hash-agg, no driver collect of the table."""
    from pyspark.sql import functions as F

    dups = (
        df.groupBy(*keys).agg(F.count(F.lit(1)).alias("n")).filter(F.col("n") > 1)
    )
    sample = dups.limit(5).collect()
    if sample:
        raise ConstraintViolation(
            f"uniqueness violated for key {keys}: {len(sample)}+ groups, "
            f"examples: {[tuple(r)[:len(keys)] for r in sample]}"
        )
    return df


def assert_not_null(df: DataFrame, cols: list[str]) -> DataFrame:
    """NOT NULL constraint as a distributed assertion."""
    from pyspark.sql import functions as F

    pred = None
    for c in cols:
        p = F.col(c).isNull()
        pred = p if pred is None else (pred | p)
    n = df.filter(pred).limit(1).count()
    if n:
        raise ConstraintViolation(f"null values present in {cols}")
    return df


def commit_dir(path: str, write) -> None:
    """Replace the directory ``path`` whole with what ``write(staging)``
    produces — the one commit every sink and streaming state loop goes
    through (the reference's ``to_sql(if_exists='replace')``, reference
    insert.py:70-84).

    ``write`` fills a staging directory; only after it returns is the
    live copy renamed aside, staging renamed live, and the aside copy
    dropped. At every instant a full copy of the old or the new data
    exists on disk (``write.mode('overwrite')`` deletes the only copy
    before the job that replaces it, and a failed job leaves nothing).
    If ``write`` raises, staging is removed and ``path`` is untouched.
    A crash between the two renames is healed by the next call, and
    :func:`committed_dir` finds the aside copy meanwhile.

    Driver-local filesystems only: ``os.rename`` is not an object-store
    operation; on S3/GCS use a transactional table format instead."""
    path = path.rstrip("/")
    staging, prev = path + ".staging", path + ".prev"
    # died between rename(path→prev) and rename(staging→path): restore
    if not os.path.exists(path) and os.path.exists(prev):
        os.rename(prev, path)
    # a .prev next to a live path is a finished swap's leftover, a
    # staging directory an interrupted write's
    for leftover in (prev, staging):
        if os.path.exists(leftover):
            shutil.rmtree(leftover)
    try:
        write(staging)
    except BaseException:
        shutil.rmtree(staging, ignore_errors=True)
        raise
    if os.path.exists(path):
        os.rename(path, prev)
    os.rename(staging, path)
    if os.path.exists(prev):
        shutil.rmtree(prev)


def committed_dir(path: str) -> str | None:
    """The last copy :func:`commit_dir` committed at ``path``: the live
    directory, else the aside copy an interrupted swap left, else None."""
    path = path.rstrip("/")
    for d in (path, path + ".prev"):
        if os.path.exists(d):
            return d
    return None


def write_with_quality_gate(
    df: DataFrame,
    path: str,
    expectations: dict,
    mode: str = "overwrite",
) -> dict:
    """Write parquet while collecting data-quality metrics in the SAME
    job (``Observation`` — the metrics ride the write's own pass over the
    data, zero extra scans; contrast the reference, which re-reads per
    metric), then enforce expectations on the observed values.

    ``expectations``: ``{name: (agg_column, predicate)}`` — e.g.
    ``{"n_rows": (F.count(F.lit(1)), lambda n: n > 0)}``. Raises
    :class:`ConstraintViolation` with every failed metric; returns the
    observed metrics dict on success. At 100 TB this is how a load step
    self-certifies without doubling its I/O.

    The gate runs inside :func:`commit_dir`'s write, so a failed gate
    never leaves rejected data where downstream consumers read."""
    from pyspark.sql import Observation

    obs = Observation("quality_gate")
    aggs = [col.alias(name) for name, (col, _) in expectations.items()]

    def write(staging: str) -> None:
        df.observe(obs, *aggs).write.mode(mode).parquet(staging)
        got = obs.get
        failures = {
            name: got[name]
            for name, (_, predicate) in expectations.items()
            if not predicate(got[name])
        }
        if failures:
            raise ConstraintViolation(f"quality gate failed: {failures}")

    commit_dir(path, write)
    return obs.get


def write_parquet(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    partition_by: list[str] | None = None,
    max_records_per_file: int | None = None,
) -> None:
    """Lake-native sink. ``partition_by`` should be a low-cardinality
    pruning column (date, lang, source) — partition pruning at read time
    is the 100 TB equivalent of an index."""
    w = df.write.mode(mode)
    if partition_by:
        w = w.partitionBy(*partition_by)
    if max_records_per_file:
        w = w.option("maxRecordsPerFile", str(max_records_per_file))
    w.parquet(path)


def write_orc(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    partition_by: list[str] | None = None,
    compression: str = "zstd",
) -> None:
    """ORC sink — the other columnar lake format (Hive-ecosystem tables
    arrive as ORC as often as parquet; reference pipelines that land in
    Hive need both directions). Same predicate-pushdown / column-pruning
    / partition-pruning behavior as the parquet sink; ORC's built-in
    bloom filters and zstd ride through options."""
    w = df.write.mode(mode).option("compression", compression)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.orc(path)


def write_jdbc(
    df: DataFrame,
    url: str,
    table: str,
    mode: str = "overwrite",
    column_types: dict[str, str] | None = None,
    properties: dict[str, str] | None = None,
    num_partitions: int = 8,
    batchsize: int = 10000,
) -> None:
    """S3: JDBC load with explicit column types (reference insert.py:169,
    178-184 dtype dicts → createTableColumnTypes) and a parallel,
    batched write."""
    w = (
        df.repartition(num_partitions)
        .write.format("jdbc")
        .mode(mode)
        .option("url", url)
        .option("dbtable", table)
        .option("batchsize", str(batchsize))
    )
    if column_types:
        w = w.option(
            "createTableColumnTypes",
            ", ".join(f"{c} {t}" for c, t in column_types.items()),
        )
    for k, v in (properties or {}).items():
        w = w.option(k, v)
    w.save()


def primary_key_ddl(table: str, cols: list[str], quote: str = '"') -> list[str]:
    """Build the PRIMARY KEY DDL the reference applies after load
    (reference insert.py:188-191). Returned as NOT NULL + ADD PRIMARY KEY
    statements because standard SQL (and Derby/MySQL) requires PK columns
    to be non-nullable, and Spark's JDBC writer creates nullable columns.
    COLUMN identifiers are quoted (``quote``: ANSI double-quote by
    default, backtick for MySQL) because Spark's JDBC writer emits quoted
    — case-sensitive — column names in CREATE TABLE; the table name goes
    through unquoted, matching how the writer passes dbtable."""
    q = lambda ident: f"{quote}{ident}{quote}"  # noqa: E731
    return [
        *[f"ALTER TABLE {table} ALTER COLUMN {q(c)} NOT NULL" for c in cols],
        f"ALTER TABLE {table} ADD PRIMARY KEY ({', '.join(q(c) for c in cols)})",
    ]


def apply_constraints_jdbc(
    spark, url: str, ddl: list[str], properties: dict[str, str] | None = None
) -> None:
    """S4 passthrough for real JDBC targets (reference insert.py:188-191):
    executes ALTER TABLE DDL driver-side over a plain java.sql connection
    (the JVM is already there; the driver jar must be on the classpath —
    same requirement as the JDBC read/write paths). One statement per DDL
    string, in order; errors surface as the database's own exception."""
    jvm = spark._jvm
    props = jvm.java.util.Properties()
    for k, v in (properties or {}).items():
        props.setProperty(k, v)
    conn = jvm.java.sql.DriverManager.getConnection(url, props)
    try:
        stmt = conn.createStatement()
        try:
            for statement in ddl:
                stmt.executeUpdate(statement)
        finally:
            stmt.close()
    finally:
        conn.close()


def compact_small_files(
    spark,
    src_dir: str,
    dst_dir: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    fmt: str = "parquet",
) -> int:
    """Compact a directory of small files into ~target-sized ones — the
    maintenance job every streaming/incremental sink eventually needs
    (a year of per-microbatch writes = millions of KB-files whose
    open/footer cost dwarfs the data; at 100 TB, scan parallelism
    should come from row groups, not from file count).

    Sizing reads the SOURCE's current byte size from the filesystem
    (Hadoop FileSystem — works for any scheme Spark can read) and
    targets ceil(bytes / target) files: when that REDUCES the count
    the pass is a shuffle-free coalesce (tasks concatenate input
    splits; per-file sizes then vary with input skew — acceptable for
    compaction), otherwise a repartition rebalances. Returns the
    planned file count. On table formats (Delta/Iceberg) this is OPTIMIZE;
    here it is the plain-directory form with an atomic overwrite of
    ``dst_dir`` (:func:`commit_dir`)."""
    jvm = spark.sparkContext._jvm
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    path = jvm.org.apache.hadoop.fs.Path(src_dir)
    fs = path.getFileSystem(conf)
    total = fs.getContentSummary(path).getLength()
    n_files = max(1, -(-int(total) // int(target_file_bytes)))
    df = spark.read.format(fmt).load(src_dir)
    current = df.rdd.getNumPartitions()
    sized = df.coalesce(n_files) if n_files < current else df.repartition(n_files)
    commit_dir(dst_dir, sized.write.format(fmt).save)
    return n_files
