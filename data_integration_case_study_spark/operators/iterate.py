"""Empty on purpose: lineage truncation for iterative loops is
:func:`data_integration_case_study_spark.operators.cache.truncate`.

The module name stays importable only because ``perfbench/layers.py``
and ``perfbench/run.py`` still list ``iterate`` among the traced
operator modules; delete this file together with that entry.
"""
