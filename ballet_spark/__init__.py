"""ballet_spark — a PySpark-native point-in-time feature-engineering engine.

A from-scratch re-imagination of the semantics of ballet/ballet
(reference at /root/reference, cited by file:line in docstrings) on top
of the Spark DataFrame API: each feature is a declarative column/window/
fitted-parameter operator compiled into one Catalyst plan, with as-of
joins, sessionization, forward-fill backfill, skew handling and
checkpointed materialization designed for 10^12-row web tables.
"""

from pyspark.core.files import SparkFiles

from ballet_spark.core import Feature, FeatureEngineeringPipeline
from ballet_spark.session import get_spark, lazy_zip_invalidation

# In a Python worker every task re-runs importlib.invalidate_caches();
# see ballet_spark.session. Reused workers keep the patch; the driver
# never gets it.
if SparkFiles._is_running_on_worker:
    lazy_zip_invalidation()

__version__ = "0.1.0"

__all__ = ["Feature", "FeatureEngineeringPipeline", "get_spark", "__version__"]
