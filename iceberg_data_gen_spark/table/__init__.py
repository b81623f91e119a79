"""Lightweight merge-on-read table format with Iceberg snapshot semantics.

The reference (`/root/reference/src/main.rs`) writes three Iceberg content
kinds — data files, position-delete files, equality-delete files — each
committed as one snapshot, through iceberg-rust against a REST catalog.
This container has no Iceberg runtime jar, so we re-express the *table
format semantics* Spark-first over plain Parquet + JSON metadata:

- a catalog of namespaces/tables on a filesystem warehouse
  (``LocalCatalog``), mirroring O3–O5/O15 of SURVEY.md §2.1;
- per-table ``metadata.json`` holding schema (with Iceberg field ids and
  identifier-field ids) and an append-only snapshot log;
- merge-on-read reads: the scan applies position deletes as a
  ``_metadata.row_index`` filter when their file recorded its runs of
  positions at commit, else with an anti-join on
  ``(_metadata.file_path, _metadata.row_index)``, and
  equality deletes with an anti-join on the equality key columns —
  exactly the semi-join-style delete application Iceberg readers perform
  (SURVEY.md §2.1, "implicit operator semantics") — over only the data
  files each delete file's footer bounds say it can match.

Everything data-sized is distributed: file writes go through Spark,
delete application is a row-index filter and at most two anti-joins
(broadcast when the delete side is small, which it virtually always
is), and only file-level metadata touches the driver (plus the
``pos`` column of a small position-delete file, read once at commit) —
the same division of labor as an Iceberg catalog.
"""

from iceberg_data_gen_spark.table.catalog import LocalCatalog
from iceberg_data_gen_spark.table.table import MoRTable

__all__ = ["LocalCatalog", "MoRTable"]
