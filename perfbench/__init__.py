"""Standalone benchmark of the engine's DBLP and LLM-curation pipelines.

Run ``python3 perfbench/run.py --help`` from the repository root; see
perfbench/README.md for the workloads, metrics and steadiness record.
"""
