"""CDC-path benchmark (see run.py and README.md)."""
