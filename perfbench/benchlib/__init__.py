"""Library behind ``perfbench/run.py``: seeded inputs, workloads, output
checks, harness-side tracing and the Spark event-log reader."""
