"""neurostore_text_extraction_spark — a from-scratch PySpark-native
main-content extraction engine with the capabilities of
neurostuff/neurostore-text-extraction (reference read-only at
/root/reference; behavior re-specified, never ported).

Layers
------
1. Extraction front-end (SURVEY.md §2.9): pure-Python HTML boilerplate
   stripping + readability candidate scoring + minimal PDF layout parse,
   executed as one Arrow-batched ``mapInArrow`` pass — never per-row
   driver Python.
2. Pipeline framework semantics (SURVEY.md §2.1–§2.8): prioritized
   source resolution, per-doc vs corpus-scoped operators, schema-driven
   text post-processing, config hashing, MD5 incremental recompute,
   per-partition lineage, checkpoint manifests with exact resume.
3. Training-data operators: dedup (exact/minhash/simhash/jaccard/
   embedding), ANN similarity, language-ID, quality scoring, token
   counting, fingerprinting, multimodal column plumbing.
"""

__version__ = "0.1.0"
