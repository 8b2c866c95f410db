"""Operator library — one module per operator that the DataFrame API
does not already provide as a single call.

Every operator is a pure ``DataFrame -> DataFrame`` (or Column) function:
no hidden session state, no actions, fully lazy so Catalyst sees the whole
plan and can push filters/prune columns across operator boundaries.
Projections, filters, joins, set operations, ``distinct``, ``rollup``,
``cube`` and global top-k (``orderBy().limit()``) are DataFrame calls
used directly by the query functions (see ``registry.py``).
"""

from . import aggregations, sorts, windows  # noqa: F401
