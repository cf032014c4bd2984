"""Training-data pipeline operators over the documents/embeddings tables:
deduplication, similarity search, text analysis, multimodal plumbing.

All Spark-first: built-in pyspark.sql.functions wherever expressible
(JVM-side, codegen); Arrow-batched Python (mapInPandas) only for the
multimodal byte plumbing (feature extraction, resize).
"""
