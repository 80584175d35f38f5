"""lk-validate-spark: a PySpark-native schema + constraint-validation engine.

A from-scratch re-imagination (NOT a port) of the validation semantics of
``semantic-kraus/lk-data-test`` (TEI-XML -> consistency checks -> RDF), rebuilt
as declarative Spark DataFrame plans over a partitioned table of pre-tokenized
training sequences ``(doc_id string, tokens array<int>, n_tok int, source
string, part_id int)``.

Layout
------
- ``session``      SparkSession builders tuned for local[N] and cluster runs.
- ``datagen``      deterministic, seeded synthetic `sequences` corpus + dims.
- ``sources``      catalog abstraction (Iceberg-style partition lineage over
                   parquet), loaders for the driver testdata tables.
- ``operators``    the rule operators (column stats, uniqueness, referential,
                   drift) plus training-data ops (dedup, similarity, text).
- ``plans``        rule registry, suite runner, checkpoint manifest (resume).
- ``functions``    shared column expressions + vectorized pandas UDFs.
"""

__version__ = "0.1.0"
