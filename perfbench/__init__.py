"""Repo benchmark (see README.md)."""
