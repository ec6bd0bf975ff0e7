"""Operator library: the count-min sketch plus the training-data-pipeline
ops (dedup, similarity, graph, curation, ...), one module per family."""
