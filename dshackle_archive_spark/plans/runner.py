"""One Spark job over a driver-built list of work units.

``archive``, ``fix``, ``compact`` and ``verify`` each run their whole Spark
phase as ONE ``mapInPandas`` job with no shuffle: on this archiver's inputs
(tens to thousands of files per call) task and job launches, not data, set
the latency, so the per-record loop stays inside one task rather than
spreading over engine stages.
"""

from __future__ import annotations

import json
from typing import Callable

import pandas as pd
from pyspark.sql import SparkSession
from pyspark.sql import types as T


def run_units(
    spark: SparkSession,
    units: list,
    n: int,
    unit_fn: Callable[[list], pd.DataFrame],
    schema: T.StructType,
    weight: Callable[[list], int] = lambda u: 1,
) -> list:
    """Run ``unit_fn`` over every unit in one job of at most ``n`` tasks and
    collect the rows of the frames it returns (``schema``).

    Units are JSON-serializable lists; they go largest-first (``weight``) to
    the least-loaded task. The task table has one row per task holding a
    JSON list of its units. Built from a pandas frame, it reaches the JVM as
    an Arrow local table, one partition per row up to
    ``defaultParallelism``, with no Python pass in front of the job."""
    from ..session import ship_package

    ship_package(spark)
    n = max(1, min(n, len(units)))
    loads, lists = [0] * n, [[] for _ in range(n)]
    for u in sorted(units, key=weight, reverse=True):
        i = loads.index(min(loads))
        lists[i].append(u)
        loads[i] += weight(u)
    table = pd.DataFrame({"units": [json.dumps(us) for us in lists]})

    def task(batches):
        for pdf in batches:
            for us in pdf["units"]:
                for u in json.loads(us):
                    yield unit_fn(u)

    return (
        spark.createDataFrame(table, "units string")
        .mapInPandas(task, schema=schema)
        .collect()
    )
