"""Benchmark of the extraction job: see run.py and README.md."""
