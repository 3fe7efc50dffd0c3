"""Structured Streaming incremental analogs of the reference's batch idioms.

The reference is batch-only but carries two incremental idioms (SURVEY §2.8):
a per-source freshness check that skips unchanged inputs
(/root/reference/src/main.rs:134-146) and a daily cron re-run
(script.sh:2-4). The Structured Streaming equivalents:

- file source + Trigger.AvailableNow: each run processes exactly the files
  that arrived since the last checkpoint, then stops — the reference's
  "skip if fresh" and "daily microbatch" in one mechanism, with exactly-once
  bookkeeping instead of a size heuristic.
- stream_prices_to_sqlite: the PriceCatcher top-up. Each microbatch's
  latest-per-(premise,item) champions are merged into the SQLite file by a
  guarded UPSERT; the file is the only state, and a replayed microbatch
  changes nothing, so there is no state store.
- latest_per_key_stream: the same champion rule as a stateful aggregate
  (update mode), for sinks that do not hold the champions themselves.
- dedup_within_watermark / tumbling_window_agg_stream: bounded-state
  duplicate drop and event-time windowing with late-data handling.

State stores shard by the grouping key, so every stateful operator here
scales the same way the batch plans do: one hash exchange on the keys, no
global state.
"""

from .corpus import corpus_ingest_stream, rowwise_repetition_ok
from .incremental import (
    contamination_monitor_stream,
    dedup_within_watermark,
    enrich_stream,
    enrich_stream_live,
    latest_per_key_stream,
    read_stream_parquet,
    run_available_now,
    session_agg_stream,
    tumbling_window_agg_stream,
)
from .pipeline import stream_prices_to_sqlite

__all__ = [
    "contamination_monitor_stream",
    "corpus_ingest_stream",
    "dedup_within_watermark",
    "enrich_stream",
    "enrich_stream_live",
    "latest_per_key_stream",
    "read_stream_parquet",
    "rowwise_repetition_ok",
    "run_available_now",
    "stream_prices_to_sqlite",
    "session_agg_stream",
    "tumbling_window_agg_stream",
]
