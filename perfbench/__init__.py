"""The repo's benchmark: workloads tile_pipeline and gates (see README.md)."""
