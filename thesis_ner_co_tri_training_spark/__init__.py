"""PySpark-native knowledge-graph construction engine.

Re-expresses the selection algebra of routerhan/thesis-ner-co-tri-training
(co-training / tri-training pseudo-label selection for fine-grained NER) as
the mention-detection core of a distributed triple-extraction pipeline:

    pages -> sentences -> mentions (3 deterministic tagger views)
          -> agreement-voted mentions (tri-training teachable gate)
          -> (subj, pred, obj) triples
          -> entity linking + canonicalization (LSH blocking + star CC)
          -> partitioned node/edge tables (Iceberg-style layout)

Everything is DataFrame/SQL-first; Python appears only in Arrow-vectorized
pandas UDFs (HTML text extraction, tagger views).
"""

__version__ = "0.1.0"
