from filipo_spark.operators.dedup import lww_dedup, lww_dedup_salted  # noqa: F401
from filipo_spark.operators.merge import (  # noqa: F401
    apply_batch,
    canonical,
    changes_to_physical,
    logical,
    lww_resolve,
    to_physical,
)
