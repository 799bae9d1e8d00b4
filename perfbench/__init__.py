"""The repository benchmark: watch-pipeline latency and drain throughput
plus a fixed query mix. Entry point: ``python3 perfbench/run.py``; see
``perfbench/NOTES.md``."""
