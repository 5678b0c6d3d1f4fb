"""Training-data-pipeline operators over the documents/embeddings tables.

These are the large-scale corpus-curation operations a Common-Crawl-style
pipeline needs downstream of the crawl scheduler (the crawl side lives in
crawler_spark.frontier / scheduler):

* ``textstats``   — language-ID, quality scoring, token counting, document
                    fingerprinting. Pure built-in Column expressions
                    (whole-stage codegen, zero Python in the hot path).
* ``dedup``       — exact (hash-groupBy), MinHash+LSH banding, SimHash,
                    n-gram Jaccard. All deterministic & portable (md5-based
                    hashing) so a SQL oracle can verify them bit-for-bit.
* ``similarity``  — brute-force cosine top-k (baseline) and an LSH-bucketed
                    approximate variant (the scale path).
* ``multimodal``  — opaque-binary media columns with typed metadata and
                    mapInPandas decode plumbing over from-scratch BMP/PNG/
                    JPEG/WAV/Y4M codecs; other formats raise
                    ``NotImplementedError``.

Scale notes are attached per function; the common theme: one shuffle per
logical aggregation, explicit pre-aggregation before joins, broadcast for
small sides, and md5/xxhash-based bucketing so partitioning survives 100×
data growth without a skewed key ever landing in one task.
"""
