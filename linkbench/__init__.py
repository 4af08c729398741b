"""Benchmark of the linkorgs_software_spark package: seeded workloads,
end-to-end metrics, and a traced per-layer run. See ``README.md``."""
