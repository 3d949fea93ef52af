"""Operator pandas UDFs keep working across a session restart.

A pandas UDF object keeps its Java side bound to the SparkContext of its
first use; a module-level one then makes every task of its stage log
"Failed to update accumulator" once ``spark.stop()`` is followed by a
new session.  Two sessions, one after the other, in a child process (the
shared test session stays up)."""

import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_RESTART_SCRIPT = """
from pyspark.sql import functions as F
from document_convert_to__markdown_spark.operators import dedup, similarity, text
from document_convert_to__markdown_spark.pipeline.session import build_session

for _ in range(2):
    spark = build_session("restart", master="local[2]", shuffle_partitions=2)
    docs = spark.createDataFrame(
        [(i, f"the cat sat on mat {i} and more words") for i in range(8)],
        "doc_id long, text string")
    emb = spark.range(8).select(F.array(
        *[F.lit(float(j % 5) + 0.1).cast("float") for j in range(64)]
    ).alias("embedding"))
    for df, udf, col in [(docs, dedup.minhash_signature, "text"),
                         (docs, dedup.simhash64, "text"),
                         (docs, text.winnow_udf, "text"),
                         (docs, text.cleanup_markdown_udf, "text"),
                         (emb, similarity._lsh_bucket, "embedding"),
                         (emb, similarity._ivf_cell, "embedding")]:
        assert len(df.select(udf(col)).collect()) == 8
    spark.stop()
"""


def test_operator_udfs_survive_session_restart():
    env = dict(os.environ, SPARK_GRAFT_DRIVER_MEM="1g")
    proc = subprocess.run([sys.executable, "-c", _RESTART_SCRIPT], cwd=REPO,
                          env=env, capture_output=True, text=True,
                          timeout=600)
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert "Failed to update accumulator" not in proc.stderr
