"""Sources & sinks (SURVEY.md §2.1, S1-S9)."""

from aws_payment_data_lake_spark.sources.readers import (  # noqa: F401
    TESTDATA_TABLES,
    load,
    read_table,
)
from aws_payment_data_lake_spark.sources.writers import (  # noqa: F401
    delta_available,
    write_zone,
)
