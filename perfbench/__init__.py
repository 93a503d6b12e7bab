"""Engine benchmark: build, query and ingest workloads (see README.md)."""
