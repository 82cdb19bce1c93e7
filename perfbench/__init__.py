"""Closed-loop benchmark of the ``__spark_entry__`` queries (see README.md)."""
