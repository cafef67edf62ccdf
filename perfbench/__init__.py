"""Layered, oracle-checked benchmark of the spark_ml_helper_spark engine
(entry point: ``python3 perfbench/run.py``)."""
