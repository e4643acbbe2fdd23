"""Operator library — pure functions DataFrame -> DataFrame.

Each module maps to a section of SURVEY.md §2:

- core:        filters/joins/windows/sorts (P*, J*, W1, O*) — the ~80% of
               the reference's SQL surface.
- merge:       MERGE INTO upsert (S13) as an outer-join rewrite.
- scd2:        Data Vault SCD2 satellite load (inferred dbt layer).
- drift:       schema-drift detection (schemadrift_* semantics).
- checks:      row-count reconciliation + all-success assertions (§5).
- dedup:       exact + MinHash-LSH + SimHash (+ pigeonhole Hamming pairs) +
               n-gram Jaccard + connected-component clusters (extension).
- joins:       as-of join, bucketed range join, salted skew join
               (extension — join shapes Spark's planner lacks).
- similarity:  brute-force + SRP-LSH + IVF cosine top-k (extension).
- text:        language-ID, quality scoring, token counts, fingerprints,
               C4 cleaning, PII redaction, Gopher repetition metrics.
- multimodal:  binary-column decode (real PPM/WAV parsers), resize,
               frame sampling, audio features.
- maintenance: compaction (full + incremental small-file rewrite),
               retention, orphan GC, snapshot expiry (C13).
- retrieval:   TF-IDF, BM25, corpus-trained bigram-LM scoring,
               feature-hashing embeddings (extension).
- bpe:         distributed BPE tokenizer training + broadcast encoding
               (extension).
- corpus:      splits, sampling, packing, mixture, contamination,
               training-stream assembly (shuffle/epochs/budgets/ids)
               (extension).
- graph:       fixed-point PageRank, co-purchase projection, triangle
               census (extension; connected components live in dedup).
"""
