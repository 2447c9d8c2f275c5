from chronominer_spark.streaming.dedup_stream import (  # noqa: F401
    IncrementalExactDedup,
    IncrementalNearDup,
)
from chronominer_spark.streaming.validate import (  # noqa: F401
    IncrementalSuiteValidation,
    incremental_validation_query,
)
