"""Layered benchmark of prql_spark; entry point ``layerbench/run.py``."""
