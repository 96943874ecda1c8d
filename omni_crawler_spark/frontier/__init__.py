"""The from-scratch URL frontier (north rule): canonicalized+hashed
URLs, an exact seen anti-join, per-host politeness priority queue
with skew lanes, batched synthetic fetch + clean + validate,
snapshot-committed state with checkpoint resume. ``bloom`` is a
partitioned bloom filter library off the crawl path, kept for the
benchmark's filter probe."""
