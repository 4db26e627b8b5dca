"""Repository benchmark: seeded workloads over webindex_spark's public
functions, an end-to-end run and a traced per-layer run (see README.md)."""
