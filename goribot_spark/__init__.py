"""goribot_spark — a from-scratch PySpark-native batch-iterative crawl engine.

Re-expresses the query/data-processing capabilities of the reference crawler
(zhshch2002/goribot, read-only at /root/reference) as an idiomatic Spark
DataFrame pipeline: a partitioned parquet ``frontier`` table replaces the
in-memory task queue (reference scheduler.go:26-74), an anti-join against a
``seen`` table replaces ReqDeduplicate
(extensions.go:288-309), and per-host politeness budgets computed with window
functions replace the Limiter's wall-clock throttles (limiter.go:50-153).

Nothing here is a port: the reference's goroutine pools, mutex queues and
middleware onions become declarative DataFrame transforms optimized by
Catalyst; the crawl loop is a driver-side superstep iteration where each wave
is one Spark DAG.
"""

__version__ = "0.1.0"

from goribot_spark import zipguard

# Every Python worker that unpickles an engine UDF imports this package, so
# this is where the per-task zip-directory re-read is cut (see zipguard).
zipguard.install()

from goribot_spark.session import get_spark  # noqa: E402, F401
