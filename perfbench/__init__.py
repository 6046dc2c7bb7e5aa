"""CDC sync benchmark (see run.py)."""
