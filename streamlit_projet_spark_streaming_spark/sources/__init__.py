"""Batch and streaming sources (SURVEY.md §2.A)."""

from .catalog import TABLES, load_table

__all__ = ["TABLES", "load_table"]
