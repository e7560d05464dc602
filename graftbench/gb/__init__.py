"""graft benchmark harness (Python side): input generation, result
checks, metric arithmetic, the per-layer summariser and the run
comparison tools."""
