"""The one memo for corpus summaries: relations an operator builds once
per session and corpus and reuses across query calls (gram, signature
and band-key relations, the streamed dedup index tables, PQ/IVF
indexes, converged k-means assignments). A memo rather than a persist
per call: a query called again would otherwise persist one more copy of
its summary each time.

An entry of ``kind`` is keyed on (applicationId, abspath(sf_dir),
params): a stopped session's relations are never handed to the next
session in the process, two spellings of one corpus share an entry, and
``params`` holds what else the build reads (``k``, a batch
predicate).

Each kind keeps at most ``BOUND`` entries, first in, first out.
Eviction and ``clear`` unpersist every DataFrame an entry holds, tuple
and list members included. Other values (table names) are released by
dropping them, and so are ``localCheckpoint`` relations: their
``unpersist()`` is a no-op and Spark's context cleaner reclaims them.

The path caches in ``operators/multimodal.py`` stay plain dicts: they
hold directories and id lists, not DataFrames, and key on the absolute
path.
"""

from __future__ import annotations

import os
from typing import Any, Callable

from py4j.protocol import Py4JJavaError

#: entries per kind; covers the (corpus, params) combinations a session
#: keeps live at once (the gram relation has three k per corpus)
BOUND = 4

_entries: dict[str, dict[tuple, Any]] = {}


def _key(spark, sf_dir: str, params: tuple) -> tuple:
    return (spark.sparkContext.applicationId, os.path.abspath(sf_dir), params)


def _release(value: Any) -> None:
    if isinstance(value, (tuple, list)):
        for v in value:
            _release(v)
    elif hasattr(value, "unpersist"):
        try:
            value.unpersist()
        except Py4JJavaError:
            pass  # its session was stopped, and took its cached blocks along


def get(kind: str, spark, sf_dir: str, params: tuple = ()) -> Any:
    """The entry for this key, or None if none was built."""
    return _entries.get(kind, {}).get(_key(spark, sf_dir, params))


def get_or_build(
    kind: str, spark, sf_dir: str, params: tuple, build: Callable[[], Any]
) -> Any:
    """The entry for this key; on a miss, ``build()`` it, store it and
    evict the kind's oldest entry if the kind is full."""
    entries = _entries.setdefault(kind, {})
    key = _key(spark, sf_dir, params)
    if key not in entries:
        value = build()
        if len(entries) >= BOUND:
            _release(entries.pop(next(iter(entries))))
        entries[key] = value
    return entries[key]


def clear(sf_dir: str | None = None) -> None:
    """Release every entry, or with ``sf_dir`` (any spelling) only that
    corpus's entries of every kind."""
    norm = None if sf_dir is None else os.path.abspath(sf_dir)
    for entries in _entries.values():
        for key in [k for k in entries if norm is None or k[1] == norm]:
            _release(entries.pop(key))
