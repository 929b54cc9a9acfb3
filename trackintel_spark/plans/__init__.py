from trackintel_spark.plans.ids import dense_id_by_user
from trackintel_spark.plans.literals import sql_double
from trackintel_spark.plans.partitioning import write_bucketed_by_user

__all__ = [
    "dense_id_by_user",
    "write_bucketed_by_user",
    "sql_double",
]
