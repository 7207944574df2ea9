"""parquet_go_spark — a PySpark-native per-column lightweight-compression engine.

Capabilities of ``balamurugana/parquet-go`` (a Go Parquet codec library),
re-expressed Spark-first (SURVEY.md):

- numpy codec kernels (``kernels/``): PLAIN, RLE/bit-packed hybrid,
  dictionary, delta + frame-of-reference bit-packing (with a patched
  PFOR variant for outlier-heavy data), byte-stream-split, front-coded
  prefix strings, FSST — semantics per the Apache Parquet spec
  (parquet.thrift:566-631) plus the FSST/PFOR papers; all vectorized,
  no per-row Python.
- a per-column-chunk codec auto-selector (``plan.py``) mirroring
  parquet-go's PLAIN / RLE_DICTIONARY / DELTA encoding choices, with
  size-verified fallbacks.
- a Spark encode/decode path (``encode.py`` / ``decode.py``):
  hash+turn-block-salted (or value-range) chunking → ``mapInArrow``
  vectorized kernels (or, for pre-grouped input, the direct path: one
  chunk per input file group, read inside its task) → encoded-chunk
  files + lineage manifests (``manifest.py``) with atomic snapshot
  commits, checkpoint resume, time travel, per-chunk bloom filters, and
  blob-level projection/filter pushdown; struct, list<struct> and map
  columns are shredded per child (``shred.py``).
- ``streaming.py`` (exactly-once micro-batch ingest, windowed
  aggregation, applyInPandasWithState sessionization), ``table.py``
  (write_table / write_table_direct / read_table / compact /
  delete_rows / upsert_table / count_rows), ``pipeline.py`` (dedup ×6
  incl. connected components, ANN ×3, sessionization, text analysis),
  ``multimodal.py`` (binary payloads), ``sources.py`` (JSON records),
  ``clustering.py`` (Z-order chunk clustering).
"""

from .table import (
    compact,
    count_rows,
    delete_rows,
    read_table,
    upsert_table,
    verify_roundtrip,
    write_table,
    write_table_direct,
)

__all__ = ["write_table", "write_table_direct", "read_table", "compact",
           "delete_rows", "upsert_table", "count_rows",
           "verify_roundtrip"]

__version__ = "0.2.0"
