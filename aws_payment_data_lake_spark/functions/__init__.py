"""Shared column-expression builders (UDF-free).

Everything here returns Spark Column expressions built from JVM built-ins
— no Python in the row path — and each has an exact DuckDB-SQL twin so
operators composed from these stay oracle-checkable. The md5-based 60-bit
hash is the cross-engine workhorse: both engines share md5, and 15 hex
chars stay inside a signed 64-bit int (16 would overflow under ANSI).
"""

from aws_payment_data_lake_spark.functions.text import (  # noqa: F401
    MERSENNE_P,
    hash60,
    shingles,
    tokens,
    word_ngrams,
    word_ngrams_upto,
)
from aws_payment_data_lake_spark.functions.vectors import (  # noqa: F401
    cosine,
    dot,
    norm,
    unit,
)
