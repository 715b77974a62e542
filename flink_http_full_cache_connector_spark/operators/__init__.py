"""Operators: the broadcast lookup join."""
