"""Benchmark for direct_kafka_stream_spark: three closed-loop workloads,
end-to-end metrics, a traced per-layer run and a steadiness report.
See run.py."""
