"""Query plans: the oracle-checked registry consumed by __spark_entry__,
tests, and bench."""

# The registry first: it imports every queries_* module in its own order
# at its foot, so any plans module can be the first one imported.
from qa_data_pipeline_rag_llm_spark.plans import queries  # noqa: F401
