"""Request-level benchmark of tank_spark (see run.py)."""
