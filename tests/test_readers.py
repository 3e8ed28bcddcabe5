"""Source reader tests (SURVEY §2.1 S1-S2)."""

from __future__ import annotations

import os
import tempfile

import pytest
from pyspark.sql.types import (
    DoubleType,
    StringType,
    StructField,
    StructType,
)

from data_integration_case_study_spark.sources.readers import read_csv, read_xlsx

CSV_BODY = "nom;prenom;solde\nMartin;Paul;10.5\nDurand;;-3.25\n"


@pytest.fixture(scope="module")
def csv_path():
    d = tempfile.mkdtemp(prefix="csv_src_")
    p = os.path.join(d, "contacts.csv")
    with open(p, "w") as f:
        f.write(CSV_BODY)
    return p


def test_read_csv_semicolon_with_schema(spark, csv_path):
    schema = StructType([
        StructField("nom", StringType()),
        StructField("prenom", StringType()),
        StructField("solde", DoubleType()),
    ])
    df = read_csv(spark, csv_path, schema=schema)
    rows = df.collect()
    assert df.schema == schema
    assert rows[0]["nom"] == "Martin" and rows[0]["solde"] == 10.5
    assert rows[1]["prenom"] is None  # empty field → null


def test_read_csv_inference_fallback(spark, csv_path):
    df = read_csv(spark, csv_path)  # S1 reference behavior: infer
    assert df.columns == ["nom", "prenom", "solde"]
    assert df.schema["solde"].dataType.typeName() == "double"


def test_read_csv_corrupt_record_quarantine(spark):
    d = tempfile.mkdtemp(prefix="csv_bad_")
    p = os.path.join(d, "mixed.csv")
    with open(p, "w") as f:
        f.write("nom;solde\nMartin;10.5\nBROKEN_LINE_NO_SEP\nDurand;not_a_number\n")
    from data_integration_case_study_spark.sources.readers import read_csv as rc

    df = rc(
        spark, p, schema="nom string, solde double", corrupt_column="_corrupt"
    ).cache()
    good = {r["nom"]: r["solde"] for r in df.filter("_corrupt IS NULL").collect()}
    assert good == {"Martin": 10.5}
    bad = [r["_corrupt"] for r in df.filter("_corrupt IS NOT NULL").collect()]
    assert sorted(bad) == ["BROKEN_LINE_NO_SEP", "Durand;not_a_number"]


def test_read_parquet_evolving_schema_drift(spark):
    from data_integration_case_study_spark.sources.readers import (
        read_parquet_evolving,
    )

    d = tempfile.mkdtemp(prefix="drift_")
    spark.createDataFrame([(1, "a")], "id long, v string").write.parquet(f"{d}/p1")
    spark.createDataFrame(
        [(2, "b", 9.5)], "id long, v string, score double"
    ).write.parquet(f"{d}/p2")
    df = read_parquet_evolving(spark, f"{d}/p1", f"{d}/p2")
    assert set(df.columns) == {"id", "v", "score"}
    rows = {r["id"]: r["score"] for r in df.collect()}
    assert rows == {1: None, 2: 9.5}  # pre-drift file surfaces null


def _write_minimal_xlsx(path):
    """Hand-built XLSX (zip of XML parts) exercising shared strings,
    inline strings, integral + fractional numbers, and a missing cell."""
    import zipfile

    wb = (
        '<?xml version="1.0"?>'
        '<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" '
        'xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships">'
        '<sheets><sheet name="relations" sheetId="1" r:id="rId1"/></sheets></workbook>'
    )
    rels = (
        '<?xml version="1.0"?>'
        '<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">'
        '<Relationship Id="rId1" '
        'Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" '
        'Target="worksheets/sheet1.xml"/></Relationships>'
    )
    shared = (
        '<?xml version="1.0"?>'
        '<sst xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" count="3" uniqueCount="3">'
        "<si><t>nom</t></si><si><t>score</t></si><si><t>Martin</t></si></sst>"
    )
    sheet = (
        '<?xml version="1.0"?>'
        '<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">'
        "<sheetData>"
        '<row r="1"><c r="A1" t="s"><v>0</v></c><c r="B1" t="s"><v>1</v></c>'
        '<c r="C1" t="inlineStr"><is><t>flag</t></is></c></row>'
        '<row r="2"><c r="A2" t="s"><v>2</v></c><c r="B2"><v>10.5</v></c>'
        '<c r="C2" t="b"><v>1</v></c></row>'
        '<row r="3"><c r="A3" t="inlineStr"><is><t>Durand</t></is></c>'
        '<c r="B3"><v>42</v></c></row>'
        "</sheetData></worksheet>"
    )
    types = (
        '<?xml version="1.0"?>'
        '<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">'
        '<Default Extension="xml" '
        'ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>'
        "</Types>"
    )
    with zipfile.ZipFile(path, "w") as z:
        z.writestr("[Content_Types].xml", types)
        z.writestr("xl/workbook.xml", wb)
        z.writestr("xl/_rels/workbook.xml.rels", rels)
        z.writestr("xl/sharedStrings.xml", shared)
        z.writestr("xl/worksheets/sheet1.xml", sheet)


def test_read_xlsx_stdlib_fallback(spark):
    # works with or without openpyxl: falls back to the zip+XML parser
    d = tempfile.mkdtemp(prefix="xlsx_src_")
    p = os.path.join(d, "relations.xlsx")
    _write_minimal_xlsx(p)
    df = read_xlsx(spark, p)
    assert df.columns == ["nom", "score", "flag"]
    rows = {r["nom"]: (r["score"], r["flag"]) for r in df.collect()}
    # untyped cells arrive stringified (reference parses after read)
    assert rows["Martin"] == ("10.5", "True")
    assert rows["Durand"] == ("42", None)  # missing C3 → null

    typed = read_xlsx(
        spark, p,
        schema=StructType([
            StructField("nom", StringType()),
            StructField("score", DoubleType()),
        ]),
    )
    got = {r["nom"]: r["score"] for r in typed.collect()}
    assert got == {"Martin": 10.5, "Durand": 42.0}


def test_read_jsonl_typed_and_quarantine(spark, tmp_path):
    from data_integration_case_study_spark.sources.readers import read_jsonl

    p = tmp_path / "rows.jsonl"
    p.write_text(
        '{"id": 1, "name": "alice", "score": 2.5}\n'
        '{"id": 2, "name": "bob", "score": 4.0}\n'
        'not json at all\n'
        '{"id": "NaN-ish", "name": "carol", "score": 1.0}\n'
    )
    df = read_jsonl(
        spark, str(p), "id long, name string, score double",
        corrupt_column="_corrupt",
    )
    rows = df.collect()
    assert len(rows) == 4
    good = [r for r in rows if r["_corrupt"] is None]
    bad = [r for r in rows if r["_corrupt"] is not None]
    assert {r["id"] for r in good} == {1, 2}
    # both the non-JSON line and the wrong-typed id are quarantined with
    # their raw text, not silently nulled
    assert len(bad) == 2
    assert any("not json" in r["_corrupt"] for r in bad)
    assert any("carol" in r["_corrupt"] for r in bad)

    # explicit-schema read without quarantine: clean columns only
    df2 = read_jsonl(spark, str(p), "id long, name string, score double")
    assert df2.columns == ["id", "name", "score"]


def test_orc_round_trip_with_pushdown(spark, sf_dir, tmp_path):
    """ORC sink/scan: values survive, partition + predicate pruning reach
    the ORC scan like they do for parquet."""
    from pyspark.sql import functions as F

    from data_integration_case_study_spark.sources.readers import (
        read_orc,
        read_parquet_table,
    )
    from data_integration_case_study_spark.sources.sinks import write_orc

    o = read_parquet_table(spark, sf_dir, "orders")
    path = str(tmp_path / "orders_orc")
    write_orc(o, path, partition_by=["o_orderstatus"])
    back = read_orc(spark, path)
    assert back.count() == o.count()
    # values survive the round trip exactly
    a = {r["o_orderkey"]: r["o_totalprice"] for r in o.collect()}
    b = {r["o_orderkey"]: r["o_totalprice"] for r in back.collect()}
    assert a == b
    # predicate + column pruning reach the ORC scan; the partition filter
    # prunes directories (no o_orderstatus residual in PushedFilters)
    plan = (
        back.filter((F.col("o_orderstatus") == "O") & (F.col("o_totalprice") > 1000.0))
        .select("o_orderkey")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "PushedFilters: [" in plan and "o_totalprice" in plan.split("PushedFilters")[1][:200]


# -- catalog parquet reads: schema from the footer, on the driver ----------

NANOS_AS_LONG = "spark.sql.legacy.parquet.nanosAsLong"


@pytest.fixture
def nanos_as_long_restored(spark):
    """read_events pins nanosAsLong=true session-wide; put the prior value
    back so the setting does not leak into later tests."""
    before = spark.conf.get(NANOS_AS_LONG, None)
    yield
    if before is None:
        spark.conf.unset(NANOS_AS_LONG)
    else:
        spark.conf.set(NANOS_AS_LONG, before)


def _job_ids(spark, action) -> list[int]:
    """Spark job ids started by ``action``, read from the status tracker
    under a fresh job group once the listener bus has drained."""
    import uuid

    sc = spark.sparkContext
    group = f"readers-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "parquet schema resolution")
    try:
        action()
    finally:
        sc._jsc.clearJobGroup()
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return list(sc.statusTracker().getJobIdsForGroup(group))


def test_read_parquet_table_schema_matches_spark_inference(spark, sf_dir):
    from data_integration_case_study_spark.sources.readers import (
        read_parquet_table,
    )

    names = sorted(
        f[: -len(".parquet")] for f in os.listdir(sf_dir) if f.endswith(".parquet")
    )
    assert len(names) == 10
    for name in names:
        got = read_parquet_table(spark, sf_dir, name)
        want = spark.read.parquet(f"{sf_dir}/{name}.parquet")
        assert type(got) is type(want)
        assert got.schema == want.schema, name


def test_read_events_schema_under_both_nanos_settings(
    spark, sf_dir, tmp_path, nanos_as_long_restored
):
    """The harness ``events.parquet`` and a TIMESTAMP(NANOS) twin: the
    footer schema is Spark's inferred one under either nanosAsLong
    setting (both refuse NANOS when it is off), and ``read_events``
    normalizes ``ts`` to a timestamp whatever the setting was before."""
    import datetime

    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.types import TimestampType

    from data_integration_case_study_spark.sources.readers import (
        read_events,
        read_parquet,
    )

    stamps = [datetime.datetime(2024, 1, 1, 12, 0, 0, 123456),
              datetime.datetime(2024, 1, 2, 0, 0, 1)]
    pq.write_table(
        pa.table({
            "event_id": pa.array([1, 2], pa.int64()),
            "ts": pa.array(stamps, pa.timestamp("ns")),
            "value": pa.array([0.5, 1.5]),
        }),
        str(tmp_path / "events.parquet"),
        version="2.6",
    )
    for d in (sf_dir, str(tmp_path)):
        path = f"{d}/events.parquet"
        for setting in ("true", "false"):
            spark.conf.set(NANOS_AS_LONG, setting)
            if d == str(tmp_path) and setting == "false":
                for read in (spark.read.parquet, lambda p: read_parquet(spark, p)):
                    with pytest.raises(Exception, match="PARQUET_TYPE_ILLEGAL"):
                        read(path)
            else:
                want = spark.read.parquet(path).schema
                assert read_parquet(spark, path).schema == want, (d, setting)

            spark.conf.set(NANOS_AS_LONG, setting)
            events = read_events(spark, d)
            spark.conf.set(NANOS_AS_LONG, "true")
            raw = spark.read.parquet(path).schema
            assert [(f.name, f.dataType) for f in events.schema] == [
                (f.name, TimestampType() if f.name == "ts" else f.dataType)
                for f in raw
            ], (d, setting)
    got = [r["ts"] for r in read_events(spark, str(tmp_path)).orderBy("event_id").collect()]
    assert got == stamps


def test_single_file_read_starts_no_spark_job(spark, sf_dir):
    from data_integration_case_study_spark.sources.readers import (
        read_events,
        read_parquet_table,
    )

    path = f"{sf_dir}/lineitem.parquet"
    # control: Spark's own inference runs a job, and the probe sees it
    assert _job_ids(spark, lambda: spark.read.parquet(path))
    assert _job_ids(spark, lambda: read_parquet_table(spark, sf_dir, "lineitem")) == []
    assert _job_ids(spark, lambda: read_events(spark, sf_dir)) == []


def test_directory_and_glob_tables_keep_spark_inference(spark, sf_dir, tmp_path):
    from data_integration_case_study_spark.sources.readers import (
        read_parquet_table,
    )

    nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
    nation.write.parquet(f"{tmp_path}/plain/nation.parquet")
    nation.write.partitionBy("n_regionkey").parquet(
        f"{tmp_path}/partitioned/nation.parquet"
    )
    # a glob is not a file either: Spark expands it
    for layout in ("plain", "partitioned", "pl*"):
        got = read_parquet_table(spark, f"{tmp_path}/{layout}", "nation")
        want = spark.read.parquet(f"{tmp_path}/{layout}/nation.parquet")
        assert got.schema == want.schema, layout
        assert sorted(map(tuple, got.collect())) == sorted(
            map(tuple, want.collect())
        ), layout


def test_missing_table_raises_spark_path_error(spark, tmp_path):
    from pyspark.errors import AnalysisException

    from data_integration_case_study_spark.sources.readers import (
        read_parquet_table,
    )

    with pytest.raises(AnalysisException, match="PATH_NOT_FOUND"):
        read_parquet_table(spark, str(tmp_path), "nope")


def test_missing_footer_class_raises(spark):
    from data_integration_case_study_spark.sources.readers import _java_class

    with pytest.raises(RuntimeError, match="does not provide"):
        _java_class(spark._jvm, "org.apache.parquet.hadoop.NoSuchFooterReader")


def test_plans_and_operators_never_read_parquet_directly():
    """Every catalog read goes through sources.readers, whose single-file
    path resolves the schema without a Spark job; a direct
    ``<x>.read[...].parquet(...)`` in plans/ or operators/ would bring the
    per-read inference job back."""
    import ast
    from pathlib import Path

    import data_integration_case_study_spark as pkg

    def reads_parquet(node: ast.AST) -> bool:
        if not (isinstance(node, ast.Attribute) and node.attr == "parquet"):
            return False
        inner = node.value
        while isinstance(inner, (ast.Attribute, ast.Call)):
            if isinstance(inner, ast.Attribute) and inner.attr == "read":
                return True
            inner = inner.value if isinstance(inner, ast.Attribute) else inner.func
        return False

    root = Path(pkg.__file__).parent
    files = sorted((root / "plans").rglob("*.py")) + sorted(
        (root / "operators").rglob("*.py")
    )
    assert len(files) > 20
    offenders = [
        f"{f.relative_to(root)}:{node.lineno}"
        for f in files
        for node in ast.walk(ast.parse(f.read_text()))
        if reads_parquet(node)
    ]
    assert offenders == []
