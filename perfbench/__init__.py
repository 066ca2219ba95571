"""Closed-loop benchmark of the extraction engine (see README.md)."""
