"""Session caches: build once, probe many times.

The reference builds its vector store once and probes it on every
request; the operators keep that build/probe split with one
:class:`SessionCache` per kind of build (IVF index, BM25 postings,
normalized store, ...). Every ``get_or_*`` getter keys its cache with
:func:`cache_identity`, so two calls share an entry only when they name
the same corpus, pass the same input relation and ask for the same
build. Builds that persist a store write it under :func:`store_path`.

The caches are process-scoped and unbounded; ``clear()`` is the only
release hook. Getters are called from the Spark driver's main thread
only, so the caches take no lock.
"""

from __future__ import annotations

import hashlib
import inspect
import tempfile
from collections.abc import Callable
from typing import Any


class SessionCache:
    """A process-level map from identity key to built value.

    ``release`` is called on every value that :meth:`clear` drops (e.g.
    unpersisting an index's persisted relation)."""

    def __init__(self, release: Callable[[Any], None] | None = None):
        self._entries: dict = {}
        self._release = release

    def get_or_build(self, key, build: Callable[[], Any]):
        """The cached value for ``key``, calling ``build()`` on a miss.
        A ``None`` key never caches: every call builds."""
        if key is None:
            return build()
        if key not in self._entries:
            self._entries[key] = build()
        return self._entries[key]

    def put(self, key, value) -> None:
        self._entries[key] = value

    def values(self):
        return self._entries.values()

    def clear(self) -> None:
        if self._release is not None:
            for value in self._entries.values():
                self._release(value)
        self._entries.clear()

    def __len__(self) -> int:
        return len(self._entries)


def _frozen(value):
    """Deep-tuple list and tuple values so they can sit in a key (and a
    list passed where the default is a tuple hits the same entry)."""
    if isinstance(value, (list, tuple)):
        return tuple(_frozen(v) for v in value)
    return value


def cache_identity(cache_key, builder: Callable, *relations, **params):
    """The one key rule of every ``get_or_*`` getter: the caller's
    ``cache_key`` (the corpus name), each input relation's
    ``semanticHash()`` (a filtered corpus under the same name is a
    different build), and ``params`` bound against ``builder``'s
    signature with its defaults filled in (a parameter passed at its
    default value hits the entry that omitting it built). Returns None
    for a None ``cache_key``, which :meth:`SessionCache.get_or_build`
    treats as "always rebuild"."""
    if cache_key is None:
        return None
    bound = inspect.signature(builder).bind_partial(**params)
    bound.apply_defaults()
    return (
        cache_key,
        tuple(r.semanticHash() for r in relations),
        tuple((name, _frozen(v)) for name, v in bound.arguments.items()),
    )


def store_path(kind: str, key) -> str:
    """Deterministic temp-dir path of a store-backed build's output."""
    tag = hashlib.md5(repr(key).encode()).hexdigest()[:10]
    return f"{tempfile.gettempdir()}/{kind}_{tag}"
