"""Closed-loop benchmark of the KG pipeline; see README.md."""
