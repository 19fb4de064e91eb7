"""Vectorized (pandas/Arrow) scalar function kernels — the Python side of
the pipeline's single mapInArrow hop, testable without Spark."""
