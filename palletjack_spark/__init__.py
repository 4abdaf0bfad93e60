"""palletjack_spark — a PySpark-native analytics engine with the capabilities
of G-Research/PalletJack (Parquet metadata indexing + pruned scans), extended
with a full relational/streaming/LLM-data-pipeline operator surface.

The reference (/root/reference) is a Parquet *metadata indexing sidecar*: it
records byte offsets of every row group / column chunk inside the Thrift
footer so a reader can deserialize only the metadata subset it needs
(reference: README.md:2-9, python/palletjack/palletjack.cc:33-80).  Our
Spark-first re-expression:

- ``index``    — a distributed *metadata index table* (one row per
  (file, row_group) with per-column stats), built by executor-side pyarrow
  footer reads and persisted as a Parquet sidecar dataset.  Analogue of
  ``generate_metadata_index`` (palletjack_cython.pyx:13).
- ``sources``  — a pyarrow-backed ``mapInArrow`` scan that reads exactly the
  requested row groups x columns, the analogue of ``read_metadata`` +
  ``pq.ParquetReader().open(path, metadata=pruned)`` (python/README.md:70-74).
- ``queries``  — the declared relational inventory (SURVEY.md §2.2), each
  entry paired with a DuckDB oracle.
- ``functions``— LLM-data-pipeline primitives (dedup, similarity, text
  analysis, multimodal plumbing) designed for 100 TB scale.
- ``streaming``— Structured Streaming operators (windows, watermarks,
  stateful dedup) verified against batch equivalents.
"""

from palletjack_spark.errors import (
    PalletJackSparkError,
    IndexFormatError,
    InvalidSelectionError,
    EncryptedParquetError,
    ScanCastError,
)
from palletjack_spark.session import get_spark, tune_session
from palletjack_spark.tables import TABLES, load_table, table_path
from palletjack_spark.index import (
    add_bloom_filters,
    add_bloom_filters_dataset,
    build_index,
    load_index,
    MetadataIndex,
    prune_explain,
    prune_explain_counts,
    generate_metadata_index,
    read_metadata,
    read_schema,
)
from palletjack_spark.sources.arrow_scan import read_parquet_arrow

__version__ = "0.1.0"

__all__ = [
    "PalletJackSparkError",
    "IndexFormatError",
    "InvalidSelectionError",
    "EncryptedParquetError",
    "ScanCastError",
    "get_spark",
    "tune_session",
    "TABLES",
    "load_table",
    "table_path",
    "add_bloom_filters",
    "add_bloom_filters_dataset",
    "build_index",
    "load_index",
    "MetadataIndex",
    "prune_explain",
    "prune_explain_counts",
    "generate_metadata_index",
    "read_metadata",
    "read_schema",
    "read_parquet_arrow",
]
