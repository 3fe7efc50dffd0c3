"""The PriceCatcher top-up, the one Structured Streaming path.

The reference is batch-only but carries two incremental habits (SURVEY
§2.8): a per-source freshness check that skips unchanged inputs
(/root/reference/src/main.rs:134-146) and a daily cron re-run
(script.sh:2-4). stream_prices_to_sqlite is both: a file-source stream
whose checkpoint records the files already merged, drained by an
availableNow trigger that processes exactly the files landed since the
last run and then stops. Each microbatch's latest-per-(premise, item)
champions are merged into the SQLite file by a guarded UPSERT; the file is
the only state, and a replayed microbatch changes nothing
(streaming.pipeline.stream_prices_to_sqlite).
"""
