"""Round-checkpoint helper for the iterative operators.

``localCheckpoint()`` truncates lineage cheaply, but its blocks live only on
the executors that computed them (non-replicated): on a real cluster an
executor failure or dynamic-allocation decommission mid-loop loses a round's
blocks and fails the job.  The local harness never loses executors, so
localCheckpoint stays the default; cluster deployments set
``SPARK_GRAFT_CHECKPOINT_DIR`` to a durable path (HDFS / object store) and
every round checkpoint becomes a RELIABLE ``checkpoint()`` into that
directory instead — identical plan truncation, executor-loss-safe (r9
ADVICE #3).  ``get_spark`` sets ``spark.cleaner.referenceTracking.cleanCheckpoints``
so unreferenced reliable checkpoints are deleted; it is a SparkContext conf, so
externally built sessions must set it at launch to get the same reaping.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame


def round_checkpoint(df: DataFrame) -> DataFrame:
    """Eagerly materialize ``df`` and truncate its lineage.

    Local mode (default): ``localCheckpoint`` — executor-memory blocks, no
    checkpoint dir needed.  With ``SPARK_GRAFT_CHECKPOINT_DIR`` set: reliable
    ``checkpoint()`` to that directory (set once per SparkContext).
    """
    ckdir = os.environ.get("SPARK_GRAFT_CHECKPOINT_DIR")
    if ckdir:
        sc = df.sparkSession.sparkContext
        if not sc.getCheckpointDir():
            sc.setCheckpointDir(ckdir)
        return df.checkpoint(eager=True)
    return df.localCheckpoint(eager=True)
