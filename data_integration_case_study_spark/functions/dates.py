"""Date cleaning (SURVEY.md §2.6 T1-T3).

The reference parses two silent input formats — ``%d/%m/%Y`` from its CSV
sources (reference insert.py:110-113) and ``%Y-%m-%d`` from XLSX
(insert.py:114-115) — and reformats on the way out (tests.py:34-35). Here
each format is an explicit, named transform that parses with
``try_to_date``: an unparseable string becomes null instead of failing
the job — the 100 TB-friendly behaviour (quarantine bad rows, don't kill
a 1000-executor stage).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

FR_FORMAT = "dd/MM/yyyy"  # reference %d/%m/%Y
ISO_FORMAT = "yyyy-MM-dd"  # reference %Y-%m-%d


def _col(c: Column | str) -> Column:
    return F.col(c) if isinstance(c, str) else c


def parse_date_fr(c: Column | str) -> Column:
    """T1: parse ``dd/MM/yyyy`` strings (reference insert.py:110-113)."""
    return F.try_to_date(_col(c), FR_FORMAT)


def parse_date_iso(c: Column | str) -> Column:
    """T2: parse ``yyyy-MM-dd`` strings (reference insert.py:114-115)."""
    return F.try_to_date(_col(c), ISO_FORMAT)


def reformat_fr_to_iso(c: Column | str) -> Column:
    """T3: ``dd/MM/yyyy`` string → ``yyyy-MM-dd`` string (reference tests.py:34-35)."""
    return F.date_format(parse_date_fr(c), ISO_FORMAT)


def format_fr(c: Column | str) -> Column:
    """date/timestamp → ``dd/MM/yyyy`` string (inverse of T1, for round-trips)."""
    return F.date_format(_col(c), FR_FORMAT)
