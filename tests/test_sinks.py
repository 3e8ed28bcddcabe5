from __future__ import annotations

import tempfile

import pytest

from data_integration_case_study_spark.sources import sinks
from data_integration_case_study_spark.sources.readers import read_parquet_table


def test_assert_unique_pass_and_fail(spark):
    ok = spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string")
    sinks.assert_unique(ok, ["id"])  # no raise
    bad = spark.createDataFrame([(1, "a"), (1, "b")], "id long, v string")
    with pytest.raises(sinks.ConstraintViolation, match="uniqueness"):
        sinks.assert_unique(bad, ["id"])


def test_assert_not_null(spark):
    bad = spark.createDataFrame([("a",), (None,)], "v string")
    with pytest.raises(sinks.ConstraintViolation, match="null"):
        sinks.assert_not_null(bad, ["v"])


def test_assert_not_null_without_columns_is_a_no_op(spark):
    df = spark.createDataFrame([(None,)], "v string")
    assert sinks.assert_not_null(df, []) is df


def test_quality_gate_rejects_empty_expectations(spark, tmp_path):
    df = spark.createDataFrame([(1,)], "id long")
    out = tmp_path / "out"
    with pytest.raises(ValueError, match="expectations is empty"):
        sinks.write_with_quality_gate(df, str(out), {})
    assert not any(tmp_path.iterdir())  # nothing written, not even staging


def test_parquet_roundtrip_partitioned(spark, sf_dir):
    df = read_parquet_table(spark, sf_dir, "customer")
    d = tempfile.mkdtemp(prefix="sink_")
    sinks.write_parquet(df, d, partition_by=["c_mktsegment"])
    back = spark.read.parquet(d)
    assert back.count() == df.count()
    # partition pruning: a segment filter must read only that partition
    pruned = back.filter("c_mktsegment = 'BUILDING'")
    plan = pruned.explain(extended=False) or ""
    assert pruned.count() == df.filter("c_mktsegment = 'BUILDING'").count()


def test_write_with_quality_gate(spark, sf_dir):
    from pyspark.sql import functions as F

    df = read_parquet_table(spark, sf_dir, "customer")
    d = tempfile.mkdtemp(prefix="gate_") + "/out"
    metrics = sinks.write_with_quality_gate(
        df, d,
        {
            "n_rows": (F.count(F.lit(1)), lambda n: n > 0),
            "null_keys": (
                F.count(F.when(F.col("c_custkey").isNull(), 1)),
                lambda n: n == 0,
            ),
        },
    )
    assert metrics["n_rows"] == df.count() and metrics["null_keys"] == 0
    assert spark.read.parquet(d).count() == df.count()  # the write happened
    with pytest.raises(sinks.ConstraintViolation, match="impossible"):
        sinks.write_with_quality_gate(
            df, d, {"impossible": (F.count(F.lit(1)), lambda n: n < 0)}
        )


def test_jdbc_roundtrip_with_pk_constraints(spark, sf_dir):
    """S3/S4/S5 end to end against embedded Derby (ships with Spark):
    parallel JDBC load with explicit column types → PRIMARY KEY DDL
    passthrough (reference insert.py:70-84, 188-191) → enforced
    uniqueness → partitioned JDBC scan equals the parquet source."""
    from data_integration_case_study_spark.sources.readers import read_jdbc

    dbdir = tempfile.mkdtemp(prefix="derby_") + "/db"
    url = f"jdbc:derby:{dbdir};create=true"
    df = read_parquet_table(spark, sf_dir, "customer").limit(200)

    sinks.write_jdbc(
        df, url, "customers",
        column_types={"c_name": "VARCHAR(64)", "c_mktsegment": "VARCHAR(16)"},
        num_partitions=2,
    )
    sinks.apply_constraints_jdbc(
        spark, url, sinks.primary_key_ddl("customers", ["c_custkey"])
    )

    back = read_jdbc(spark, url, "customers")
    assert sorted(r["c_custkey"] for r in back.collect()) == sorted(
        r["c_custkey"] for r in df.collect()
    )
    # partitioned scan path (S5 parallel read)
    lo, hi = 0, 200000
    part = read_jdbc(
        spark, url, "customers",
        partition_column="c_custkey", lower_bound=lo, upper_bound=hi,
        num_partitions=4,
    )
    assert part.rdd.getNumPartitions() == 4
    assert part.count() == df.count()
    # the PK is real: appending a duplicate key must fail in the database
    dup = df.limit(1)
    with pytest.raises(Exception, match="(?i)duplicate|constraint|23505"):
        sinks.write_jdbc(dup, url, "customers", mode="append", num_partitions=1)


def test_compact_small_files_reduces_count_preserves_rows(spark, tmp_path):
    from data_integration_case_study_spark.sources.sinks import (
        compact_small_files,
    )

    src = str(tmp_path / "small")
    dst = str(tmp_path / "compact")
    df = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    df.repartition(64).write.mode("overwrite").parquet(src)
    import glob

    small = glob.glob(f"{src}/part-*")
    assert len(small) == 64
    total = sum(__import__("os").path.getsize(f) for f in small)
    planned = compact_small_files(
        spark, src, dst, target_file_bytes=max(1, total // 4)
    )
    out = glob.glob(f"{dst}/part-*")
    # planned count honored (+/- empty-partition elimination)
    assert len(out) <= planned <= 8
    assert len(out) < len(small) / 4
    # byte-identical dataset
    a = sorted(tuple(r) for r in spark.read.parquet(src).collect())
    b = sorted(tuple(r) for r in spark.read.parquet(dst).collect())
    assert a == b


def test_replace_dir_failed_write_keeps_old_rows(spark, tmp_path):
    """A staging write whose job fails mid-way leaves the live directory's
    rows readable and no staging directory behind."""
    import os

    from pyspark.sql import functions as F

    path = str(tmp_path / "table")
    old = spark.range(20).withColumn("v", F.col("id") * 2)
    sinks.replace_dir(path, old.write.parquet)
    bad = spark.range(20).select(
        F.when(F.col("id") == 13, F.raise_error(F.lit("boom")))
        .otherwise(F.col("id"))
        .alias("id")
    )
    with pytest.raises(Exception, match="boom"):
        sinks.replace_dir(path, bad.write.parquet)
    assert sorted(tuple(r) for r in spark.read.parquet(path).collect()) == sorted(
        tuple(r) for r in old.collect()
    )
    assert not os.path.exists(path + ".staging")
    assert not os.path.exists(path + ".prev")


def test_quality_gate_heals_interrupted_swap(spark, tmp_path):
    """A crash between the swap's two renames leaves ``path`` missing and
    ``path.prev`` holding the last good copy. The next gated write restores
    it when the gate fails, and replaces it when the gate passes."""
    import os

    from pyspark.sql import functions as F

    path = str(tmp_path / "out")
    old = spark.range(5).toDF("k")
    old.write.parquet(path + ".prev")  # the planted rename window
    new = spark.range(100, 108).toDF("k")
    n_rows = F.count(F.lit(1))
    with pytest.raises(sinks.ConstraintViolation):
        sinks.write_with_quality_gate(new, path, {"n": (n_rows, lambda n: n < 0)})
    assert sorted(r.k for r in spark.read.parquet(path).collect()) == list(range(5))
    assert not os.path.exists(path + ".prev")

    os.rename(path, path + ".prev")
    got = sinks.write_with_quality_gate(new, path, {"n": (n_rows, lambda n: n > 0)})
    assert got == {"n": 8}
    assert sorted(r.k for r in spark.read.parquet(path).collect()) == list(
        range(100, 108)
    )
    assert not os.path.exists(path + ".prev")
    assert not os.path.exists(path + ".staging")


def test_only_sinks_module_renames():
    """sources.sinks.replace_dir is the engine's one directory swap: no
    other module under the package calls ``os.rename``, and nothing under
    streaming/ overwrites a directory in place with ``mode("overwrite")``."""
    import ast
    from pathlib import Path

    import data_integration_case_study_spark as pkg

    root = Path(pkg.__file__).parent
    files = sorted(root.rglob("*.py"))
    assert len(files) > 40

    def calls(f):
        return [n for n in ast.walk(ast.parse(f.read_text()))
                if isinstance(n, ast.Call) and isinstance(n.func, ast.Attribute)]

    renames = [
        f"{f.relative_to(root)}:{n.lineno}"
        for f in files
        if f != root / "sources" / "sinks.py"
        for n in calls(f)
        if n.func.attr == "rename"
        and isinstance(n.func.value, ast.Name)
        and n.func.value.id == "os"
    ]
    overwrites = [
        f"{f.relative_to(root)}:{n.lineno}"
        for f in sorted((root / "streaming").rglob("*.py"))
        for n in calls(f)
        if n.func.attr == "mode"
        and any(isinstance(a, ast.Constant) and a.value == "overwrite"
                for a in n.args)
    ]
    assert renames == [] and overwrites == []


def test_one_streaming_state_loop():
    """streaming/state.run_state_loop is the package's one foreachBatch
    loop: exactly one ``foreachBatch(`` call in the package, in
    streaming/state.py, and no module under streaming/ imports
    ``shutil`` (no commit protocol of its own beside replace_dir)."""
    import ast
    from pathlib import Path

    import data_integration_case_study_spark as pkg

    root = Path(pkg.__file__).parent
    loops, shutil_imports = [], []
    for f in sorted(root.rglob("*.py")):
        name = f.relative_to(root).as_posix()
        for n in ast.walk(ast.parse(f.read_text())):
            if isinstance(n, ast.Call) and getattr(n.func, "attr", "") == "foreachBatch":
                loops.append(f"{name}:{n.lineno}")
            if (name.startswith("streaming/")
                    and isinstance(n, (ast.Import, ast.ImportFrom))
                    and "shutil" in [getattr(n, "module", None),
                                     *(a.name for a in n.names)]):
                shutil_imports.append(f"{name}:{n.lineno}")
    assert [x.split(":")[0] for x in loops] == ["streaming/state.py"], loops
    assert shutil_imports == []
