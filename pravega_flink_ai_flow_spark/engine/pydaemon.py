"""Spark Python daemon whose forked workers share one preloaded heap.

Spark starts ``python -m <spark.python.daemon.module> <worker module>``
and forks a worker per task slot. Each worker runs ``gc.collect()``
after every task, which touches every inherited object and so copies
its page; each worker also imports pandas, pyarrow and the engine on
its own. Importing them here once, before any fork, and freezing them
out of the collector keeps those pages shared between workers.
"""

import gc

import pyspark.daemon  # imports the worker module named in argv[1]

import numpy  # noqa: F401
import pandas  # noqa: F401
import pyarrow  # noqa: F401
import pyspark.sql.pandas.serializers  # noqa: F401

import pravega_flink_ai_flow_spark.io.pravega_source  # noqa: F401
import pravega_flink_ai_flow_spark.ml.ops  # noqa: F401

if __name__ == "__main__":
    gc.freeze()
    pyspark.daemon.manager()
