"""Benchmark for citybikedatawarehouse_spark; entry point: perfbench/run.py."""
