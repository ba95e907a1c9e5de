"""Benchmark for the job-post similarity engine: seeded workloads driven
through the public API, with output checks and a traced per-layer run.
See README.md."""
