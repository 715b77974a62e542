"""Stateful streaming operators: sessionization, heavy hitters, upserts."""
