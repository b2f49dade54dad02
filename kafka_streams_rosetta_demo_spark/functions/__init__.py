"""Scalar function surface (SURVEY.md §2.5, F1-F5)."""

from .datetime_fmt import ROSETTA_TS_FORMAT
from .nulls import customer_defaults

__all__ = [
    "ROSETTA_TS_FORMAT",
    "customer_defaults",
]
