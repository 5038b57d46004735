"""Benchmark harness for gee_datapipeline_spark (see BENCHMARK.json)."""
