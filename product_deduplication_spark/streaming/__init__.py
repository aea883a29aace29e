"""Incremental ingestion.

The reference is batch-only (SURVEY.md §2.11) — its incremental story is
re-reading canonical CSVs (reference/clean_canonical.py:296-338). Here the
same capability is a snapshot-incremental job (reuse stored features, only
hash the new docs); resumability comes from the snapshot catalog.
"""
