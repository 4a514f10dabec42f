"""Operator library — composable DataFrame → DataFrame transformations.

Each module groups one family from SURVEY.md §2:

- ``transforms``  — producer-side projections P1-P9
- ``views``       — curated-view operators V1-V12
- ``masking``     — governance G1-G3
- ``relational``  — consumption queries Q1-Q3 + relational demos (§2.8)
- ``dedup``       — exact / MinHash-LSH / SimHash / n-gram-Jaccard /
                    embedding near-dup (§2.8 extended surface)
- ``similarity``  — cosine top-k ANN, brute-force + LSH-bucketed (§2.8)
- ``textops``     — token counting, language id, quality, fingerprints
- ``graph``       — iterative-numeric graph analytics (PageRank); the
                    integer-label CC primitive stays with dedup
- ``multimodal``  — binary asset columns: Arrow-batched decode/feature
                    UDF plumbing, frame sampling, resize planning (§2.8)
"""
