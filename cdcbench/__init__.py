"""CDC benchmark: generated workloads driven through the engine's public API
(see ``run.py``)."""
