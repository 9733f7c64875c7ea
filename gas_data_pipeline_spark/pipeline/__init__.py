"""Lakehouse write path (SURVEY §2.1 sinks, §3.2 lifecycle).

bronze (zero-loss raw events) -> silver (deduped typed observations)
-> gold (query views). The container has no Delta, so silver is the
versioned store (:mod:`versioned`): upsert idempotency comes from one
last-write-wins merge (:mod:`silver`) over the batch's dates, and each
commit publishes atomically as a new manifest version (SURVEY §7
"what's hard" #1). Every operation is set-based — no per-row loops
anywhere (the reference's gie/service.py:52-76 row-at-a-time insert
is the anti-pattern this layer replaces).
"""

from gas_data_pipeline_spark.pipeline.bronze import bronze_append, read_bronze  # noqa: F401
from gas_data_pipeline_spark.pipeline.silver import dedup_last_write_wins  # noqa: F401
from gas_data_pipeline_spark.pipeline.dims import insert_if_absent  # noqa: F401
