"""LLM-data-pipeline operators (BASELINE.json mandate, SURVEY.md §2.2).

Training-data curation ops a 100 TB pipeline needs, all as DataFrame
transforms: exact + MinHash-LSH + SimHash + n-gram-Jaccard deduplication,
embedding similarity search (brute-force and LSH-bucketed ANN), text
analysis (token stats, quality scoring, language-ID features,
fingerprinting), and multimodal binary-column plumbing.

Determinism contract: every hash that reaches an output or a sampling
decision is the *portable* sha256-based token hash
(``functions.text.token_hash64``, DuckDB twin ``token_hash64_sql``) —
identical integer results in Spark and DuckDB — so every pipeline here is
value-checkable against the SQL oracle. ``F.xxhash64`` (whose internals
DuckDB lacks) appears only as an internal shingle/gram join id that never
reaches an output (``dedup`` Jaccard/containment joins, ``similarity``).
"""
