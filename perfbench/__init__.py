"""Repository benchmark: timed workloads over the engine's public crawl API."""
