"""mit_mapreduce_spark — a PySpark-native analytics engine.

A ground-up, Spark-first re-expression of the capabilities of the
reference repo ``lilshady/mit_mapreduce`` (a Go MapReduce framework,
see SURVEY.md): its map/shuffle/reduce dataflow becomes DataFrame
plans optimized by Catalyst, its five plugin queries become
first-class DataFrame operators, and the surface is widened to the
full relational + LLM-data-pipeline operator set (joins, windows,
dedup, similarity search, text analysis, streaming) that the
reference leaves to its users.

Layout:
    session      SparkSession factory tuned for local[32] + cluster scale
    pyworker     the sessions' Python worker daemon (pyspark.daemon
                 without Spark's archives on sys.path)
    catalog      fixture-table loader / temp-view registration
    operators/   query operators (text, relational, dedup, similarity, ...)
    mapreduce/   faithful `run_job(map_fn, reduce_fn)` compatibility facade
    functions/   reusable column expression builders
    streaming/   Structured Streaming variants of the event operators
    plans/       plan-inspection helpers (pushdown/broadcast assertions)

Importing the package imports no pyspark: ``get_spark`` loads
``session`` on first use (PEP 562), so the worker daemon
``mit_mapreduce_spark.pyworker`` can choose which pyspark its workers
load before any is imported.
"""

__version__ = "0.1.0"


def __getattr__(name: str):
    if name == "get_spark":
        from mit_mapreduce_spark.session import get_spark

        return get_spark
    raise AttributeError(f"module {__name__!r} has no attribute {name!r}")
