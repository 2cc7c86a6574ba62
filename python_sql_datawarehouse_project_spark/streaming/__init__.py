"""Structured Streaming maintenance of warehouse tables: `maintenance`
drains a staged file feed into incremental MVs, MERGE and SCD2 (the S11
analogue).  The reference is strictly batch (SURVEY.md §2.9)."""
