"""Spark-side functions: JVM Column builders first, Arrow-batched UDFs second.

Rule of thumb enforced across the engine (SURVEY §4): anything expressible
with ``pyspark.sql.functions`` stays JVM-side inside whole-stage codegen
(n-gram windows, MinHash band keys via nested ``transform``) in
``functions.columns``; Python appears only as Arrow-batched pandas UDFs for
the genuinely string-algorithmic parts (extraction, normalization, the fused
resolve kernel) in ``functions.udfs``. Import from those modules directly.
"""
