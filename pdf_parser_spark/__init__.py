"""pdf_parser_spark — a PySpark-native bank-statement / web-document
extraction engine.

A from-scratch rebuild (NOT a port) of the capabilities of the reference
service ``ambolt-studio/pdf-parser`` (read-only at /root/reference), as a
batched Spark job over a Common-Crawl-style table of pages
``(url, warc_ts, html, text, lang)``.

Layers
------
engine/      pure-Python row semantics (lexers, bank rule tables, state
             machines) — runs *inside* Arrow-vectorized UDF batches
pdfio/       our own PDF byte-stream tokenizer + deterministic PDF writer
             + HTML boilerplate stripper (no pdfplumber dependency)
pipeline.py  the Spark fidelity path: mapInArrow extraction + parsing,
             salted repartition, metrics sidecar, snapshot/resume
relational.py the Spark relational path: exploded lines + window-function
             block segmentation + native Catalyst expressions
ops/         web-scale training-data operators: dedup (exact/minhash/
             simhash/ngram), ANN similarity, text stats, multimodal
"""

__version__ = "0.1.0"
