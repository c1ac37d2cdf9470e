"""Benchmark of the fuggetabouspark library; entry point: perfbench/run.py."""
