"""Steady-state benchmark of the extraction job, the resumable sink and
the operator suite. Entry point: ``python3 perfbench/run.py``."""
