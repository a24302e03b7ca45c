"""Benchmark for the linking and record-ER workloads; entry point run.py."""
