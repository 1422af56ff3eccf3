"""Headline query plans shared by the driver entry point, tests, and bench.

Importing the package loads the registry (``queries``) first, so the
segments register in their fixed order even when a caller imports a
plan function straight from its segment.
"""

from . import queries  # noqa: F401
