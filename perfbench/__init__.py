"""End-to-end and per-layer benchmark of kfai_pipeline_spark; entry
point ``perfbench/run.py``, notes in ``perfbench/README.md``."""
