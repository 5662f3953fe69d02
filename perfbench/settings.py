"""The values the benchmark pins. ``BENCHMARK.json`` (each workload's
``why``) and ``README.md`` record them; change them only together with a
new steadiness record."""

# Spark driver heap: caps the JVM, so its share of peak_pss_mb depends
# less on when GC runs
DRIVER_MEM = "1g"

# cdc_queue: events per trigger (the source's batchEvents), triggers per
# feed file (the window's step) and warm-up files
QUEUE_BATCH_EVENTS = 2000
QUEUE_CHUNK_TRIGGERS = 4
QUEUE_WARMUP_FILES = 1

# cdc_full_ingest: new docs per trigger, warm-up triggers, and the fold
# cadence (COMPACT_EVERY; a window is whole fold cycles)
FULL_DOCS_PER_TRIGGER = 200
FULL_WARMUP_TRIGGERS = 2
FOLD_EVERY = 8

# probes against the built index, after the ingest window
PROBE_SETS = 1
PROBE_K = 10
PROBE_NPROBE = 3
BM25_TOP_K = 20
