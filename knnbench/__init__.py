"""KNN/DTW classification benchmark: seeded workloads, correctness gate and
benchmark-side tracing. Entry point: ``python3 knnbench/run.py``."""
