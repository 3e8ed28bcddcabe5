

def test_engine_cache_registry_releases_tracked_persists(spark, sf_dir):
    """ADVICE item: library callers need a bound on engine-owned cache
    growth without nuking their own persists — operators.cache tracks
    every engine persist() and release_tracked() frees exactly those."""
    from data_integration_case_study_spark.operators import cache, dedup
    from data_integration_case_study_spark.sources.readers import (
        read_parquet_table,
    )

    spark.catalog.clearCache()
    # localCheckpoint blocks from earlier tests in the session (iterative
    # graph queries) are NOT SQL-cache entries; drop them so the storage
    # counts below are order-independent
    for rdd in list(spark.sparkContext._jsc.getPersistentRDDs().values()):
        rdd.unpersist(True)
    d = read_parquet_table(spark, sf_dir, "documents").limit(100)
    mine = d.select("doc_id").persist()  # caller-owned: must survive
    mine.count()
    pairs = dedup.minhash_candidate_pairs(d, "doc_id", "text")
    pairs.count()  # materializes the tracked per-doc summary

    jsc = spark.sparkContext._jsc.sc()
    assert len(jsc.getRDDStorageInfo()) >= 2  # engine cache + caller's

    released = cache.release_tracked(blocking=True)
    assert released >= 1
    remaining = len(jsc.getRDDStorageInfo())
    assert remaining == 1  # only the caller-owned persist survives
    # double release is a safe no-op
    assert cache.release_tracked() == 0
    mine.unpersist(True)


def test_only_cache_module_materializes():
    """operators.cache is the engine's one materialization policy: no
    other module under the package calls ``.persist(``, ``.checkpoint(``
    or ``.localCheckpoint(`` (they go through cache.track /
    cache.truncate)."""
    import ast
    from pathlib import Path

    import data_integration_case_study_spark as pkg

    root = Path(pkg.__file__).parent
    files = sorted(root.rglob("*.py"))
    assert len(files) > 40
    offenders = [
        f"{f.relative_to(root)}:{node.lineno}"
        for f in files
        if f != root / "operators" / "cache.py"
        for node in ast.walk(ast.parse(f.read_text()))
        if isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr in ("persist", "checkpoint", "localCheckpoint")
    ]
    assert offenders == []


def test_hash_seeds_are_module_constants():
    """Each hash family's seed is part of its answer (the DuckDB twins
    replay it, and a sketch merged or probed under another seed is
    silently wrong), so no function under functions/, operators/,
    streaming/ or multimodal/ takes a ``seed`` parameter. The one
    exception is ``dedup._affine_params``, which the families share,
    each passing its own seed constant."""
    import ast
    from pathlib import Path

    import data_integration_case_study_spark as pkg

    root = Path(pkg.__file__).parent
    files = sorted(
        f for sub in ("functions", "operators", "streaming", "multimodal")
        for f in (root / sub).rglob("*.py")
    )
    assert len(files) > 20
    offenders = [
        f"{f.relative_to(root)}:{node.name}"
        for f in files
        for node in ast.walk(ast.parse(f.read_text()))
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef))
        and "seed" in [
            a.arg for a in (*node.args.posonlyargs, *node.args.args,
                            *node.args.kwonlyargs)
        ]
    ]
    assert offenders == ["operators/dedup.py:_affine_params"]
