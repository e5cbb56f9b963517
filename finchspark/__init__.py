"""finchspark — PySpark-native near-duplicate detection & clustering engine.

A from-scratch Spark-first reimplementation of the query/data-processing
capabilities of onecodex/finch-rs (MinHash sketching + distance estimation),
extended with the operators a web-scale training-data dedup pipeline needs:
LSH candidate generation, SimHash fallback, connected-components clustering,
exact/near dedup, embedding similarity search, and text analysis.

Layout:
- ``finchspark.kernels``    pure-numpy reference-faithful kernels (no Spark)
- ``finchspark.operators``  DataFrame operators (signature, lsh, verify, cc, …)
- ``finchspark.plans``      end-to-end pipelines + checkpoint/resume
- ``finchspark.sources``    table IO (parquet catalog, FASTA test reader)
- ``finchspark.functions``  Catalyst column-expression helpers
- ``finchspark.streaming``  incremental near-dup on Structured Streaming
"""

__version__ = "0.1.0"
