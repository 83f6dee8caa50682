"""Temp-view registration for cached frames referenced from SQL builds.

Round 15 (optimization guide §5 caching / §7.2 plan reading): passing a
``.cache()``/``.persist()``-ed DataFrame as a ``spark.sql`` PARAMETER
(``spark.sql("... {bi} ...", bi=bi)``) does not just miss Spark's
CacheManager — analyzing the substituted query UNREGISTERS the cache
entry, so every later lookup (even plain DataFrame-API references to the
same frame) recomputes from source. Measured in Spark 4.1.2:

* substitution of the cached frame itself  → plan has 0 InMemoryTableScan
  AND subsequent DataFrame-API plans lose theirs too (entry dropped);
* substitution of an UNCACHED frame whose plan equals a cached one
  drops that other frame's entry the same way (the match is by plan,
  not by object);
* a TEMP VIEW over the cached frame, referenced by name in the same SQL
  string → InMemoryTableScan present, entry intact.

So the rule the engine follows (pinned by tests/test_sql_cache_audit.py):
frames that are cached/persisted, that must READ a cached frame inside
the SQL, or whose plan a cached frame may share enter SQL builds through
:func:`temp_view_for`; only frames no cache can match are passed as
``spark.sql`` parameters.

Views are registered under a per-call unique name (a process-global
counter) so concurrent builders can never replace each other's view
between registration and analysis. They are never dropped: dropping a
view uncaches every cache entry whose plan equals the view's, so
``spark.catalog.dropTempView`` on a view over a cached frame takes the
InMemoryTableScan out of every later plan of that frame, the DataFrame-
API ones included (measured on Spark 4.1.2; parameter substitution drops
its internal view and poisons caches this way). The cost is a few view
names per query construction.
"""

from __future__ import annotations

import itertools
import re

from pyspark.sql import DataFrame

_COUNTER = itertools.count()

_SAFE = re.compile(r"[^0-9a-zA-Z_]+")


def temp_view_for(df: DataFrame, hint: str = "v") -> str:
    """Register ``df`` as a session temp view under a fresh unique name
    and return that name for interpolation into a SQL string."""
    name = f"sqlv_{_SAFE.sub('_', hint)}_{next(_COUNTER)}"
    df.createOrReplaceTempView(name)
    return name
