"""Seeded end-to-end and per-layer benchmark of the K-Means engine; run
``python3 kmbench/run.py --help`` from the repository root."""
