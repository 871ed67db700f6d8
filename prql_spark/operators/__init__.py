"""Training-data pipeline operators, one module per family: dedup,
similarity search, text analysis and normalization, BPE tokenization,
multimodal hashing, splits and sampling, graph clustering, profiling,
sketches, skew handling and as-of joins. Every operator takes and
returns a DataFrame, so it composes with compiled PRQL and with the
other operators.
"""
