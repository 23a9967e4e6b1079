"""The input schema: the pages every index build starts from.

Plays the role of the reference's Alembic migrations
(``alembic/versions/0001_initial_schema.py`` ff.) for the one table the
engine does not write itself. A table the engine writes needs no constant
here: Spark's parquet writer stores the table's schema in each data file's
footer, and the build's and the serving open's reads take it from there
(``sources.tableio.footer_schema``: ``ParquetIO.read`` uses one data file
of the table directory, ``load_engines`` the first file the table's commit
marker names), so they run no schema-inference job.
"""

from __future__ import annotations

from pyspark.sql import types as T

# ---- input (BASELINE.json input_hint) --------------------------------------
PAGES = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("warc_ts", T.TimestampType(), True),
        T.StructField("html", T.BinaryType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("lang", T.StringType(), True),
    ]
)
