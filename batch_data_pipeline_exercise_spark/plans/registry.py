"""The full contract-query registry: importing this module registers every
query, in the fixed order ``contract`` then ``contract_ext``, then
``contract2`` … ``contract6``, and re-exports ``REGISTRY``."""

from batch_data_pipeline_exercise_spark.plans import contract
from batch_data_pipeline_exercise_spark.plans import contract_ext  # noqa: F401 — extension queries
from batch_data_pipeline_exercise_spark.plans import contract2  # noqa: F401 — breadth queries
from batch_data_pipeline_exercise_spark.plans import contract3  # noqa: F401 — TPC-H + corpus breadth
from batch_data_pipeline_exercise_spark.plans import contract4  # noqa: F401 — robust-stats + sampling breadth
from batch_data_pipeline_exercise_spark.plans import contract5  # noqa: F401 — sequence/drift/sketch breadth
from batch_data_pipeline_exercise_spark.plans import contract6  # noqa: F401 — round-6 breadth

REGISTRY = contract.REGISTRY
