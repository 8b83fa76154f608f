"""Test-data tables: the driver's TPC-H-ish parquet tables (TESTDATA.md).

Tables: region nation customer supplier part orders lineitem events
documents embeddings — one parquet file per table under a sf dir; the
engine reads them through ``operators.table``.
"""

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
