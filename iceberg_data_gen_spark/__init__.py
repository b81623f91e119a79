"""PySpark-native analytics engine with the capability surface of
ZENOTME/iceberg-data-gen (reference at /root/reference, read-only),
extended with a relational query layer and LLM-data-pipeline operators
designed for 100 TB scale.

Subpackages
-----------
- ``session``   : tuned SparkSession factory (AQE, shuffle partitions, Arrow)
- ``artifacts`` : the one session-scoped cache for values derived from input files
- ``table``     : lightweight merge-on-read table format (Iceberg semantics:
                  snapshots, data / position-delete / equality-delete files)
- ``datagen``   : DataGenerator ABC + the reference's fixed-schema generator
                  (reference: src/fix_schema_generator.rs)
- ``operators`` : relational query layer + dedup / similarity / text ops
- ``streaming`` : Structured Streaming over the events table
"""

__version__ = "0.1.0"
