"""Dataflow operators: ETL core (flatten / warehouse and its lake merge /
bookkeeping) and the large-scale extension operators (dedup, similarity,
text analysis, multimodal plumbing)."""
