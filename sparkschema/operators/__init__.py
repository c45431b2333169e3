"""Table-level check operators: single-pass stats, uniqueness,
anti-join referential integrity, histogram drift, image round-trip, plus
training-data-pipeline operators (dedup, similarity, text analysis)."""
