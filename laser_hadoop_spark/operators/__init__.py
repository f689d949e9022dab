"""Reusable engine operators.

Modules:
    relational.py — salted skew joins + bucketed co-located joins
    chunking.py   — row-number chunker + range batcher (W1/W2)
    validation.py — constraint validation gates (error catalogue)
    dedup.py      — exact / MinHash-LSH / SimHash / n-gram Jaccard
    similarity.py — cosine expressions, brute-force + LSH + IVF ANN
    text.py       — tokenization, quality, language-ID, fingerprints
    multimodal.py — binary media columns: pure-numpy image/audio/video decode
    pca.py        — PCA / grouped black-box numerics (U1/U5)
    asof.py       — as-of (nearest-earlier) join composition (J8)
"""
