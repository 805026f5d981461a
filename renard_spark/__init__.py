"""renard_spark — a PySpark-native narrative knowledge-graph construction engine.

Re-expresses the capabilities of the CompNet/Renard per-document pipeline
(reference: /root/reference, Renard 0.7.1) as a Spark-first engine:
DataFrame / SQL declarative plans, Arrow-batched Python steps for the
genuinely sequential per-document algorithms, explicit partitioning and
skew handling, checkpoint-resumable stage boundaries with lineage +
metrics side tables.

Layout
------
- ``session``    : SparkSession builder tuned for the engine
- ``corpus``     : deterministic synthetic interleaved text+media corpus
- ``sources``    : ingest (spans normalization, CoNLL BIO reader)
- ``operators``  : the pipeline stages (tokenize, ner, coref, unify,
                   cooccur, quotes, sentiment, conversation, relations,
                   triples, connected components)
- ``functions``  : training-data pipeline ops (dedup, similarity, text
                   analysis, multimodal plumbing)
- ``plans``      : stage registry, dataflow validation, checkpoint/resume
- ``io``         : catalog abstraction (parquet dirs, Iceberg-style API)
- ``streaming``  : incremental ingest (Structured Streaming foreachBatch)
"""

__version__ = "0.1.0"
