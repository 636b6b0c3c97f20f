"""PySpark-native analytics engine with the query/data-processing
capabilities of the reference GMall realtime stack
(zhangpeng-dev/sparkstreaming-gmall-demo).

Architecture (Spark-first, NOT a port):

- ``session``    -- SparkSession construction + runtime confs shared by
                    tests, bench, and the driver harness.
- ``schemas``    -- one ``StructType`` per logical table / stream record
                    (reference keeps per-topic case classes; see
                    reference gmall-realtime bean/*.scala).
- ``sources``    -- batch fixture reader (declared schemas),
                    streaming source builders.
- ``functions``  -- column-expression helpers (date/hour derivations,
                    money decimal policy, minute buckets, permille
                    rounding) -- all JVM-side built-ins.
- ``operators``  -- the operator layer: dedup, joins, aggregation,
                    windows, pagination, text, similarity, multimodal.
- ``plans``      -- declared queries Q1..Q12 + extensions, each paired
                    with a DuckDB oracle SQL string; serving endpoints.
- ``streaming``  -- Structured Streaming pipelines mirroring the five
                    reference DStream apps.
"""

__version__ = "0.1.0"
