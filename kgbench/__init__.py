"""KG pipeline benchmark: see run.py."""
