"""Benchmark for the bleve_spark engine: seeded transcript corpora, an
index-then-serve pipeline per workload, oracle-checked answers and a
traced run that times each call into an engine layer.

Run one workload with ``python3 perfbench/run.py --workload ingest
--seed 1 --seconds 10 --trace 0`` from the repository root."""
