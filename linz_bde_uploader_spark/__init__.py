"""linz_bde_uploader_spark — a PySpark-native BDE batch ETL / incremental-merge engine.

A brand-new engine with the query and data-processing capabilities of
linz/linz_bde_uploader (the reference), re-expressed Spark-first:

- ``sources``   — the ``.crs`` extract-file reader (reference: LINZ::Bde /
  bde_copy contract) and a JSON-lines reader with the same error budget.
- ``operators`` — the distributed diff/merge kernel (full-compare diff,
  level-5 change-driven incremental merge with I/U/D/0/X classification
  and key-swap repair), cleaning pipeline, schema negotiation, row-count
  tolerance gates.
- ``functions`` — scalar/text/dedup/similarity function library, including
  the large-scale training-data-pipeline operators (exact + MinHash +
  SimHash + n-gram-Jaccard dedup, ANN similarity search, language id,
  quality scoring, token counting, fingerprinting).
- ``meta``      — the control/metadata store (upload, upload_table,
  upload_stats — reference: sql/01-bde_control_tables.sql) plus the
  job/lock/purge services (C1–C8).
- ``plans``     — dataset discovery (S3), watermark planning, the
  deterministic merge workload, and the ``BdeUploader`` run loop.
- ``sinks``     — the versioned, atomically committed target table (S5),
  whose level-0 full replace is ``ParquetTarget.stage_replace``.

CLI: ``python -m linz_bde_uploader_spark -full|-incremental ...``.

Everything here derives from public knowledge only: the Apache Spark API
and the observable behavior of the reference repo.
"""

__version__ = "0.1.0"

from linz_bde_uploader_spark.session import get_spark  # noqa: F401
