"""Engine-side stand-ins for PySpark's worker entry points.

The package path mirrors the module each one wraps, so
``spark.python.daemon.module=dataflowtemplates_spark.pyspark.daemon``
reads as "the engine's pyspark.daemon" in a process listing, and
process-tree tooling that matches ``pyspark.daemon`` still finds the
worker tree. Absolute imports resolve ``pyspark`` to PySpark itself.
"""
