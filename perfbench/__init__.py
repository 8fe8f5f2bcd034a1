"""The repository's benchmark: two workloads over the query engine and the
Kinesis plane. Entry point: ``python3 perfbench/run.py``; see README.md."""
