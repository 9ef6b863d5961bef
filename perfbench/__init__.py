"""The repo benchmark: workloads, layer trace and expected outputs."""
