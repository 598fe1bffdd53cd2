"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship crop_video query at sf0.001;
``queries()`` exposes every registered query as a
``(spark, sf_dir) -> DataFrame`` callable; ``oracle_sql()`` gives the DuckDB
twin for each hash-checkable query. Both return the registry in
registration order: the plan modules in the import order below, each
module's queries in definition order. Implementations live in
``videos_to_tfrecords_spark/plans/``.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

# importing the query modules populates the registry
import videos_to_tfrecords_spark.plans.reference_queries  # noqa: F401,E402
import videos_to_tfrecords_spark.plans.relational_queries  # noqa: F401,E402
import videos_to_tfrecords_spark.plans.text_queries  # noqa: F401,E402
import videos_to_tfrecords_spark.plans.similarity_queries  # noqa: F401,E402
import videos_to_tfrecords_spark.plans.pipeline_queries  # noqa: F401,E402
import videos_to_tfrecords_spark.plans.advanced_queries  # noqa: F401,E402
import videos_to_tfrecords_spark.plans.tpch_queries  # noqa: F401,E402
import videos_to_tfrecords_spark.plans.graph_queries  # noqa: F401,E402
import videos_to_tfrecords_spark.plans.feature_queries  # noqa: F401,E402
import videos_to_tfrecords_spark.plans.mining_queries  # noqa: F401,E402
import videos_to_tfrecords_spark.plans.learning_queries  # noqa: F401,E402
from videos_to_tfrecords_spark.plans.registry import ORACLES, QUERIES  # noqa: E402

SMOKE_SF_DIR = "/root/testdata/sf0.001"


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (SURVEY §7.1 M0): the reference's crop_video mode —
    sliding event-time windows × key, P9 partial-window suppression,
    time-sorted sequence assembly — on /root/testdata/sf0.001."""
    return QUERIES["crop_video_events"](spark, SMOKE_SF_DIR)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return dict(QUERIES)


def oracle_sql() -> dict[str, str]:
    return dict(ORACLES)
