from docwire_spark.streaming.extract_stream import (  # noqa: F401
    start_extract_stream,
)
