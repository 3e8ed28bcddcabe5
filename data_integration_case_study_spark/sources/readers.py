"""Source readers (SURVEY.md §2.1 S1-S2, S5; parquet is the canonical scan).

Reference parity:
- S1 ``csv_to_dataframe`` (reference read_file.py:5-6): ``;``-delimited CSV
  with a header row. The reference relies on pandas schema inference; at
  100 TB inference is a full extra scan and a correctness hazard (the
  reference itself has two silent date formats), so :func:`read_csv` takes
  an *explicit* schema and never infers by default.
- S2 ``xlsx_to_dataframe`` (reference read_file.py:9-10): XLSX has no
  splittable distributed reader; the engine ingests it driver-side (small
  dimension files only, which is the reference's use) and immediately
  converts to a Spark DataFrame. At scale the ingest step converts XLSX to
  Parquet once; everything downstream scans Parquet.

The reference's eager module-level read (read_file.py:13, an import
side-effect) is deliberately not reproduced.

Catalog parquet reads (:func:`read_parquet_table`, :func:`read_events`)
resolve a single-file table's schema from its footer on the driver and pass
it to the reader's ``schema(...)``. Without a schema, Spark's parquet
inference launches a one-task job per read (``mergeSchemasInParallel``,
even with ``mergeSchema=false``); the footer read is one driver-side file
open, no job (~9 ms against ~50 ms per read on a 4-vCPU VM). It runs
Spark's own footer reader and schema converter, configured exactly as
inference configures them, so the schema is the one Spark would infer.
Nothing is cached: every read reads its footer again. A directory (a
Spark-written or partitioned table), a glob or a missing path keeps
Spark's own inference and errors.
"""

from __future__ import annotations

import functools
from types import SimpleNamespace

from py4j.java_gateway import JavaClass, is_instance_of
from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

# The ten driver-harness tables (TESTDATA.md). Parquet carries its own
# schema; listing names here gives a single catalog entry-point.
TESTDATA_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def read_parquet_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Canonical scan: self-describing Parquet with pushdown + pruning.

    Column pruning and predicate pushdown reach the scan automatically when
    callers express filters/selects declaratively (verify via
    ``df.explain('formatted')`` → ``PushedFilters`` / ``ReadSchema``).
    The schema comes from the file's footer, read on the driver
    (:func:`read_parquet`).
    """
    return read_parquet(spark, f"{sf_dir}/{name}.parquet")


_PARQUET_PKG = "org.apache.spark.sql.execution.datasources.parquet"


def _java_class(jvm, name: str) -> JavaClass:
    """A JVM class by its full name; raises when this Spark build lacks it
    (py4j would otherwise hand back an uncallable package stub)."""
    obj = jvm
    for part in name.split("."):
        obj = getattr(obj, part)
    if not isinstance(obj, JavaClass):
        raise RuntimeError(
            f"driver-side parquet footer read needs {name}, "
            "which this Spark build does not provide"
        )
    return obj


@functools.lru_cache(maxsize=None)
def _footer_api(jvm) -> SimpleNamespace:
    """Handles on the Spark-internal footer classes (pinned by pyspark
    4.1.2), resolved once per JVM: each lookup is several py4j round
    trips. Only class handles are kept, never a schema or a footer."""
    converter = _java_class(jvm, f"{_PARQUET_PKG}.ParquetToSparkSchemaConverter")
    return SimpleNamespace(
        footer_reader=_java_class(jvm, f"{_PARQUET_PKG}.ParquetFooterReader"),
        file_format=_java_class(jvm, f"{_PARQUET_PKG}.ParquetFileFormat"),
        converter=converter,
        # inference leaves caseSensitive, useFieldId and
        # ignoreVariantAnnotation at the converter's defaults
        converter_defaults=tuple(
            getattr(converter, f"$lessinit$greater$default${i}")()
            for i in (3, 6, 7)
        ),
        skip_row_groups=_java_class(
            jvm, "org.apache.parquet.format.converter.ParquetMetadataConverter"
        ).SKIP_ROW_GROUPS,
        input_file=_java_class(jvm, "org.apache.parquet.hadoop.util.HadoopInputFile"),
        footer=_java_class(jvm, "org.apache.parquet.hadoop.Footer"),
        path=_java_class(jvm, "org.apache.hadoop.fs.Path"),
    )


def _footer_schema(spark: SparkSession, path: str):
    """The schema Spark would infer for the single parquet file at
    ``path``, read from its footer on the driver: a JVM ``StructType``, or
    None when ``path`` is a directory or does not resolve (the caller then
    leaves inference and errors to Spark).

    This is ``ParquetFileFormat.mergeSchemasInParallel``'s per-file step
    without its job: footer read with row groups skipped, then
    ``readSchemaFromFooter``, which prefers the Spark schema stored under
    the row-metadata key. The converter is built as inference builds it:
    binary-as-string, INT96, timestamp-NTZ, nanos-as-long and
    unknown-annotation settings from the session, the other three at
    their defaults."""
    api = _footer_api(spark._jvm)
    state = spark._jsparkSession.sessionState()
    hadoop_conf = state.newHadoopConf()
    hpath = api.path(path)
    try:
        status = hpath.getFileSystem(hadoop_conf).getFileStatus(hpath)
    except Py4JJavaError as e:
        # a glob or a missing path: Spark expands the one, reports the other
        if is_instance_of(spark.sparkContext._gateway, e.java_exception,
                          "java.io.FileNotFoundException"):
            return None
        raise
    if not status.isFile():
        return None
    metadata = api.footer_reader.readFooter(
        api.input_file.fromStatus(status, hadoop_conf), api.skip_row_groups
    )
    conf = state.conf()
    case_sensitive, use_field_id, ignore_variant = api.converter_defaults
    converter = api.converter(
        conf.isParquetBinaryAsString(),
        conf.isParquetINT96AsTimestamp(),
        case_sensitive,
        conf.parquetInferTimestampNTZEnabled(),
        conf.legacyParquetNanosAsLong(),
        use_field_id,
        ignore_variant,
        conf.parquetReaderRespectUnknownTypeAnnotation(),
    )
    return api.file_format.readSchemaFromFooter(
        api.footer(status.getPath(), metadata), converter
    )


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """Parquet scan that starts no Spark job for a single file: its
    schema comes from :func:`_footer_schema`. A directory, a glob or a
    missing path keeps Spark's own inference and errors."""
    schema = _footer_schema(spark, path)
    if schema is None:
        return spark.read.parquet(path)
    return DataFrame(spark._jsparkSession.read().schema(schema).parquet(path), spark)


def spread_to_parallelism(df: DataFrame) -> DataFrame:
    """Repartition UP to the cluster's parallelism before an explode-heavy
    stage — never down, and a NO-OP when the input already meets it. A
    small parquet table scans as 1-2 partitions, and everything before the
    first exchange (tokenize, explode, sha256) then runs on 1-2 cores;
    spreading the narrow pre-explode projection costs ~1% of the
    post-explode volume and parallelizes the fan-out. On a real cluster
    where the scan already has ≥ parallelism partitions this inserts no
    exchange at all — no accidental coalesce, no same-count reshuffle."""
    sc = df.sparkSession.sparkContext
    if df.rdd.getNumPartitions() < sc.defaultParallelism:
        return df.repartition(sc.defaultParallelism)
    return df


def read_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events scan with timestamp normalization across physical encodings.

    The harness has shipped ``ts`` both as TIMESTAMP(NANOS) — which Spark's
    vectorized reader rejects (PARQUET_TYPE_ILLEGAL) unless nanos are read
    as raw longs — and as plain TIMESTAMP(MICROS). Adapt to whatever the
    file declares instead of assuming one encoding:

    - LongType (nanos-as-long): rebuild a microsecond timestamp with
      integer division — lossless when the data has no sub-microsecond
      components, deterministic truncation otherwise, matching DuckDB's
      ns→us cast so oracle comparisons line up.
    - TimestampNTZType: cast to the session-zone TimestampType (session tz
      is pinned UTC, so the wall-clock values are unchanged) so every
      downstream plan sees one stable ts type regardless of file encoding.
    - TimestampType: already canonical.
    """
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType, TimestampNTZType

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = read_parquet(spark, f"{sf_dir}/events.parquet")
    ts_type = df.schema["ts"].dataType
    if isinstance(ts_type, LongType):
        return df.withColumn(
            "ts", F.timestamp_micros(F.expr("CAST(ts DIV 1000 AS LONG)"))
        )
    if isinstance(ts_type, TimestampNTZType):
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def load_tables(
    spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TESTDATA_TABLES
) -> dict[str, DataFrame]:
    """Load the driver-harness star schema as a dict of DataFrames."""
    return {name: read_parquet_table(spark, sf_dir, name) for name in names}


def read_csv(
    spark: SparkSession,
    path: str,
    schema: StructType | str | None = None,
    sep: str = ";",
    header: bool = True,
    corrupt_column: str | None = None,
) -> DataFrame:
    """S1: ``;``-delimited CSV scan (reference read_file.py:5-6).

    Explicit schema strongly preferred; ``schema=None`` falls back to
    inference for ad-hoc exploration only.

    ``corrupt_column`` opts into quarantine-style ingestion: malformed
    rows (wrong arity, unparseable casts) land with their RAW line in
    that extra string column instead of silently becoming nulls or
    failing the job — at 100 TB you route that column to a quarantine
    sink and keep loading. Requires an explicit schema."""
    reader = spark.read.options(sep=sep, header=str(header).lower())
    if corrupt_column is not None:
        if schema is None:
            raise ValueError("corrupt_column requires an explicit schema")
        if isinstance(schema, str):
            schema = f"{schema}, {corrupt_column} string"
        else:
            from pyspark.sql.types import StringType, StructField

            schema = StructType(
                [*schema.fields, StructField(corrupt_column, StringType())]
            )
        reader = reader.option("mode", "PERMISSIVE").option(
            "columnNameOfCorruptRecord", corrupt_column
        )
    if schema is not None:
        reader = reader.schema(schema)
    else:
        reader = reader.option("inferSchema", "true")
    return reader.csv(path)


def read_jsonl(
    spark: SparkSession,
    path: str,
    schema: StructType | str | None = None,
    corrupt_column: str | None = None,
) -> DataFrame:
    """JSON-lines scan — the crawl/export interchange format next to CSV
    (S1) in any real ingest surface. Splittable (one JSON object per
    line), so it scans distributed like CSV; same explicit-schema-first
    policy (inference is a full extra pass at 100 TB and silently unions
    drifting types), and the same ``corrupt_column`` quarantine contract:
    malformed lines land with their raw text in that column instead of
    failing the job or becoming silent nulls. Requires an explicit schema
    when quarantining. At scale the ingest step converts JSONL to parquet
    once; everything downstream scans parquet."""
    reader = spark.read
    if corrupt_column is not None:
        if schema is None:
            raise ValueError("corrupt_column requires an explicit schema")
        if isinstance(schema, str):
            schema = f"{schema}, {corrupt_column} string"
        else:
            from pyspark.sql.types import StringType, StructField

            schema = StructType(
                [*schema.fields, StructField(corrupt_column, StringType())]
            )
        reader = reader.option("mode", "PERMISSIVE").option(
            "columnNameOfCorruptRecord", corrupt_column
        )
    if schema is not None:
        reader = reader.schema(schema)
    return reader.json(path)


def read_parquet_evolving(spark: SparkSession, *paths: str) -> DataFrame:
    """Schema-drift-tolerant parquet read: union the schemas of all file
    groups (``mergeSchema``), so files written before a column existed
    surface it as null — the lake's answer to ALTER TABLE ADD COLUMN.
    At scale, schema merging reads footers only, not data."""
    return spark.read.option("mergeSchema", "true").parquet(*paths)


_XLSX_NS = "{http://schemas.openxmlformats.org/spreadsheetml/2006/main}"
_XLSX_RNS = "{http://schemas.openxmlformats.org/package/2006/relationships}"
_XLSX_RID = "{http://schemas.openxmlformats.org/officeDocument/2006/relationships}id"


def _parse_xlsx(path: str, sheet_name: int | str = 0):
    """Pure-stdlib XLSX parse (zipfile + ElementTree): XLSX is a zip of
    XML parts. Returns (header: list[str], rows: list[list]).

    Handles the cell types small dimension workbooks actually contain:
    shared strings (t="s"), inline strings (t="inlineStr"), formula
    strings (t="str"), booleans (t="b"), and numbers (int when integral);
    absent cells become None via the A1-reference column positions."""
    import zipfile
    import xml.etree.ElementTree as ET

    ns, rns = _XLSX_NS, _XLSX_RNS
    with zipfile.ZipFile(path) as z:
        wb = ET.fromstring(z.read("xl/workbook.xml"))
        rels = ET.fromstring(z.read("xl/_rels/workbook.xml.rels"))
        target_of = {
            r.get("Id"): r.get("Target") for r in rels.findall(f"{rns}Relationship")
        }
        sheets: list[tuple[str, str]] = []
        for s in wb.find(f"{ns}sheets").findall(f"{ns}sheet"):
            target = target_of[s.get(_XLSX_RID)]
            if not target.startswith("xl/"):
                target = "xl/" + target.lstrip("/")
            sheets.append((s.get("name"), target))
        if isinstance(sheet_name, int):
            target = sheets[sheet_name][1]
        else:
            target = dict(sheets)[sheet_name]

        shared: list[str] = []
        if "xl/sharedStrings.xml" in z.namelist():
            ss = ET.fromstring(z.read("xl/sharedStrings.xml"))
            for si in ss.findall(f"{ns}si"):
                shared.append("".join(t.text or "" for t in si.iter(f"{ns}t")))

        grid: list[dict[int, object]] = []
        for row in ET.fromstring(z.read(target)).iter(f"{ns}row"):
            cells: dict[int, object] = {}
            prev_col = -1
            for c in row.findall(f"{ns}c"):
                ref = c.get("r") or ""
                if any(ch.isalpha() for ch in ref):
                    col = 0
                    for ch in ref:
                        if ch.isalpha():
                            col = col * 26 + (ord(ch.upper()) - 64)
                        else:
                            break
                    col -= 1
                else:
                    # the r attribute is optional in OOXML: an unreferenced
                    # cell sits immediately after the previous one
                    col = prev_col + 1
                prev_col = col
                t = c.get("t")
                v = c.find(f"{ns}v")
                if t == "inlineStr":
                    is_el = c.find(f"{ns}is")
                    val = (
                        "".join(tt.text or "" for tt in is_el.iter(f"{ns}t"))
                        if is_el is not None else None
                    )
                elif v is None or v.text is None:
                    val = None
                elif t == "s":
                    val = shared[int(v.text)]
                elif t == "b":
                    val = v.text == "1"
                elif t == "str":
                    val = v.text
                else:
                    num = float(v.text)
                    val = int(num) if num.is_integer() else num
                cells[col] = val
            grid.append(cells)
    if not grid:
        return [], []
    width = max((max(r) + 1 for r in grid if r), default=0)
    dense = [[r.get(i) for i in range(width)] for r in grid]
    return [str(h) for h in dense[0]], dense[1:]


def read_xlsx(
    spark: SparkSession,
    path: str,
    schema: StructType | None = None,
    sheet_name: int | str = 0,
) -> DataFrame:
    """S2: XLSX scan (reference read_file.py:9-10), driver-side.

    XLSX is a zip container — inherently non-splittable — so a distributed
    read is impossible; the reference only ever reads a small relations
    sheet this way. Uses pandas+openpyxl when available; otherwise falls
    back to the pure-stdlib parser (:func:`_parse_xlsx`), so the engine
    has NO hard dependency for XLSX ingest."""
    header: list[str]
    rows: list[list]
    try:
        import pandas as pd

        pdf = pd.read_excel(path, sheet_name=sheet_name)
        pdf = pdf.astype(object).where(pd.notnull(pdf), None)
        header = [str(c) for c in pdf.columns]
        # pandas reads numeric columns as float64, so an integral cell
        # would stringify as '42.0' while the stdlib path yields '42';
        # collapse integral floats so untyped ingest is identical under
        # either optional dependency (np.float64 subclasses float)
        rows = [
            [
                int(v) if isinstance(v, float) and v.is_integer() else v
                for v in r
            ]
            for r in pdf.values.tolist()
        ]
    except ImportError:
        header, rows = _parse_xlsx(path, sheet_name)
    if schema is None:
        # Excel cells are untyped; stringify and let callers cast —
        # mirroring the reference's parse-after-read (insert.py:110-115)
        sdf = spark.createDataFrame(
            [[None if v is None else str(v) for v in r] for r in rows],
            schema=", ".join(f"`{h}` string" for h in header),
        )
        return sdf
    from pyspark.sql import functions as F

    sdf = spark.createDataFrame(
        [[None if v is None else str(v) for v in r] for r in rows],
        schema=", ".join(f"`{h}` string" for h in header),
    )
    return sdf.select(
        *[F.col(f.name).cast(f.dataType).alias(f.name) for f in schema.fields]
    )


def read_orc(spark: SparkSession, *paths: str) -> DataFrame:
    """ORC scan with schema merging across files — the columnar twin of
    ``read_parquet_evolving``. ORC scans get the same Catalyst treatment
    as parquet (PushedFilters / ReadSchema pruning / partition pruning),
    asserted by the round-trip plan test."""
    return spark.read.option("mergeSchema", "true").orc(*paths)


def read_jdbc(
    spark: SparkSession,
    url: str,
    table_or_query: str,
    properties: dict[str, str] | None = None,
    partition_column: str | None = None,
    lower_bound: int | None = None,
    upper_bound: int | None = None,
    num_partitions: int | None = None,
) -> DataFrame:
    """S5: JDBC scan (reference tests.py:38-42 runs SQL inside MySQL).

    ``table_or_query`` may be a table name or ``(SELECT ...) t`` subquery —
    Spark pushes the subquery to the database. For large tables pass the
    partition-column bounds so the read parallelizes instead of a single
    connection (the reference's single-socket profile, SURVEY §4).
    """
    reader = spark.read.format("jdbc").option("url", url).option("dbtable", table_or_query)
    for k, v in (properties or {}).items():
        reader = reader.option(k, v)
    if partition_column is not None:
        reader = (
            reader.option("partitionColumn", partition_column)
            .option("lowerBound", str(lower_bound))
            .option("upperBound", str(upper_bound))
            .option("numPartitions", str(num_partitions or 8))
        )
    return reader.load()
