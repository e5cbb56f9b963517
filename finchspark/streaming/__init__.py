"""Streaming disposition (SURVEY.md §2.7).

The reference has NO event-time streaming operators: its "streaming" is a
one-pass bounded-memory implementation of a batch semantic (size-(k+1) heap,
`lib/src/sketch_schemes/mash.rs:23`). This engine is therefore batch-first
with checkpoint/resume (`finchspark.plans.checkpoint`), which is the
north-rule's resumability requirement.

One incremental deployment is shipped on Structured Streaming:
`neardup.neardup_stream`, the full incremental dedup loop. It reuses the
exact batch operators inside `foreachBatch` (one code path, one semantics):
new docs are sketched, banded, and probed against the accumulated signature
store, emitting each verified near-dup pair exactly once (when its later
member arrives); equivalence with the batch LSH→verify stage for any
micro-batch split is property-tested. With `components_path` it also
maintains the component map continuously (incremental contract-and-merge
into a base table + changelog). Every write goes through a
`plans.checkpoint.TableStore`, the same store the batch pipeline
checkpoints to.
"""
