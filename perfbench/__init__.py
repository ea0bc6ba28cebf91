"""Layer-attributed near-duplicate benchmark (see run.py)."""
