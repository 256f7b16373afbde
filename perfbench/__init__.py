"""Benchmark of the findb_spark engine; see BENCHMARK.json and run.py."""
