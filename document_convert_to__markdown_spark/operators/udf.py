"""Pandas UDFs built per call.

A pandas UDF object builds its Java side on first use and keeps it,
bound to the SparkContext of that moment.  A module-level UDF therefore
outlives its session: after ``spark.stop()`` and a new session, every
task of a stage that uses it logs "Failed to update accumulator".
``per_call_pandas_udf`` keeps the decorator form and the call form
(``udf("col")``) but builds a new UDF each time it is applied.
"""

from __future__ import annotations

import functools

from pyspark.sql.pandas.functions import pandas_udf


def per_call_pandas_udf(return_type):
    """``@pandas_udf(return_type)`` whose UDF is built on every call."""
    def wrap(fn):
        @functools.wraps(fn)
        def build(*cols):
            return pandas_udf(fn, return_type)(*cols)
        return build
    return wrap
