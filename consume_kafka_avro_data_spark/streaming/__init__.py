"""Structured Streaming operators: the reference's stream lifecycle
(poll loop, bounded replay, graceful shutdown, idempotent sink) and the
curation ingests that ride it."""
