"""Standalone benchmark for faiss_metal_spark: four single-client closed-loop
workloads timed from outside the library (see ``run.py`` and ``LAYERS.md``)."""
