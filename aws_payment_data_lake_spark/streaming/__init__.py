"""Structured Streaming surface.

The reference lists streaming ingestion (Kinesis/Kafka) only as a
"Potential Upgrade" (README.md:133) — here it is a first-class variant of
the same logical plans the batch engine runs:

  events.py         file-source event stream: watermarked tumbling /
                    session window aggregations.
  bronze_stream.py  streaming medallion ingest: raw CSV stream ->
                    bronze transforms -> MERGE sink (foreachBatch +
                    partition-scoped upsert), replay-idempotent.
  joins.py          view->purchase attribution join (batch plan).
  cdc.py            queue change events folded into a txlog table.
  source.py         shared parquet stream-source plumbing (schema from
                    footer, file-vs-directory rule).

tests/test_streaming.py asserts stream==batch parity: the same
expressions produce the same rows whether fed a static DataFrame or a
file stream drained with Trigger.AvailableNow.
"""

from aws_payment_data_lake_spark.streaming.events import (  # noqa: F401
    read_event_stream,
    start_available_now,
    tumbling_counts,
)
from aws_payment_data_lake_spark.streaming.bronze_stream import (  # noqa: F401
    read_raw_stream,
    run_bronze_stream,
    start_bronze_upsert_sink,
)
from aws_payment_data_lake_spark.streaming.joins import (  # noqa: F401
    view_purchase_attribution_batch,
)
from aws_payment_data_lake_spark.streaming.source import (  # noqa: F401
    read_parquet_stream,
)
