from airbyte_module_spark.plans.lineage import BatchLineage

__all__ = ["BatchLineage"]
