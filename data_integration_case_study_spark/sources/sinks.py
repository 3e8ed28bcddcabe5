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

The reference's ``if_exists='replace'`` is a whole-table swap. Here every
sink that replaces a directory (the quality gate, and through
``streaming/state.run_state_loop`` every streaming state directory)
goes through :func:`replace_dir`: write a staging copy, then swap it in
by rename, so a failed write or a crash never leaves the only copy
half-written.
"""

from __future__ import annotations

import os
import shutil
from collections.abc import Callable

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
    """NOT NULL constraint as a distributed assertion. No columns: no
    column can hold a null, so ``df`` is returned without a job."""
    from pyspark.sql import functions as F

    if not cols:
        return df
    pred = None
    for c in cols:
        p = F.col(c).isNull()
        pred = p if pred is None else (pred | p)
    n = df.filter(pred).limit(1).count()
    if n:
        raise ConstraintViolation(f"null values present in {cols}")
    return df


def recover_dir(path: str) -> None:
    """Finish an interrupted :func:`replace_dir` swap of ``path``. A crash
    between rename(path -> .prev) and rename(.staging -> path) leaves
    ``path`` missing: restore the aside copy. A ``.prev`` next to a live
    ``path`` is a finished swap's leftover: drop it."""
    path = path.rstrip("/")
    prev = path + ".prev"
    if not os.path.exists(path) and os.path.exists(prev):
        os.rename(prev, path)
    if os.path.exists(prev):
        shutil.rmtree(prev)


def replace_dir(path: str, write: Callable[[str], object]) -> None:
    """Replace directory ``path`` with what ``write(staging)`` writes.

    Heals an interrupted earlier swap (:func:`recover_dir`), clears a
    stale staging directory, then calls ``write`` with the staging path.
    If ``write`` raises, staging is removed and the error propagates;
    ``path`` is untouched. Otherwise the live copy is renamed aside,
    staging is renamed live, and the aside copy is dropped: at every
    instant a full copy of the old or new data exists on disk (an
    in-place overwrite whose job fails leaves ``path`` present but
    empty, and the next read raises ``UNABLE_TO_INFER_SCHEMA``).

    Driver-local filesystems only: ``os.rename`` is not an object-store
    operation; on S3/GCS use a transactional table format instead."""
    path = path.rstrip("/")
    staging = path + ".staging"
    prev = path + ".prev"
    recover_dir(path)
    if os.path.exists(staging):
        shutil.rmtree(staging)
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


def write_with_quality_gate(
    df: DataFrame,
    path: str,
    expectations: dict,
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

    Observe, write and check all run inside :func:`replace_dir`'s
    staging step, so ``path`` is replaced only after every predicate
    passes — a failed gate never leaves rejected data where downstream
    consumers read. Empty ``expectations`` raise ``ValueError`` before
    anything is written: a gate that checks nothing certifies nothing."""
    from pyspark.sql import Observation

    if not expectations:
        raise ValueError(
            f"write_with_quality_gate({path!r}): expectations is empty")

    obs = Observation("quality_gate")
    aggs = [col.alias(name) for name, (col, _) in expectations.items()]

    def write(staging: str) -> None:
        df.observe(obs, *aggs).write.parquet(staging)
        got = obs.get
        failures = {
            name: got[name]
            for name, (_, predicate) in expectations.items()
            if not predicate(got[name])
        }
        if failures:
            raise ConstraintViolation(f"quality gate failed: {failures}")

    replace_dir(path, write)
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
    here it is the plain-directory form with a plain overwrite of
    ``dst_dir`` — NOT atomic: a failed job leaves ``dst_dir`` empty. It
    does not go through :func:`replace_dir` because it serves any Hadoop
    scheme and that swap is a driver-local ``os.rename``; write to a
    fresh ``dst_dir`` and repoint readers when the old copy must
    survive a failure."""
    jvm = spark.sparkContext._jvm
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    path = jvm.org.apache.hadoop.fs.Path(src_dir)
    fs = path.getFileSystem(conf)
    total = fs.getContentSummary(path).getLength()
    n_files = max(1, -(-int(total) // int(target_file_bytes)))
    df = spark.read.format(fmt).load(src_dir)
    current = df.rdd.getNumPartitions()
    sized = df.coalesce(n_files) if n_files < current else df.repartition(n_files)
    sized.write.mode("overwrite").format(fmt).save(dst_dir)
    return n_files
