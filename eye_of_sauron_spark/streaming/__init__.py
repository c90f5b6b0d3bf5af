"""Structured Streaming surface: event-time windows, watermarking,
stateful per-key reordering, stream-static joins, and sinks.

The reference IS a streaming system — Kafka topics, poll loops,
per-camera consumers (SURVEY.md §1) — so this package carries its
semantics onto Structured Streaming:

- ``windows``  : tumbling / sliding / session event-time windows.
  The window operators are usable in batch too, which is how the
  driver oracle-checks them; the streaming tests re-run the same
  logic through a real file-source stream and assert equality.
- ``harness``  : turn the parquet fixtures into a multi-micro-batch
  file-source stream (the local stand-in for the Kafka source) and
  start every stream through ``drain_stream``, the one start (an
  availableNow drain inside the ``ephemeral_checkpoint`` conf scope).
  ``run_to_memory`` is its memory-sink form and owns the checkpoint
  dir, the sink name and the sink's temp view.
- ``reorder``  : the reference's per-camera ordered-reassembly buffer
  (src/utils.py:139-191) as a bounded stateful operator with
  state eviction (the reference's version leaks, utils.py:50,168).
- ``pipeline`` : the face-pipeline analog — stream-static broadcast
  join (A5), per-key sink routing (A9), checkpointed exactly-once
  file sink (A10).
"""

from . import replay, windows  # noqa: F401
