"""The per-module query tables and the ``@query`` decorator that fills them."""

from __future__ import annotations

from collections.abc import Callable


def registrar() -> tuple[dict[str, Callable], dict[str, str], Callable]:
    """Return a module's ``QUERIES`` and ``ORACLE`` maps and the
    ``@query(name, oracle=None)`` decorator that registers into both."""
    queries: dict[str, Callable] = {}
    oracles: dict[str, str] = {}

    def query(name: str, oracle: str | None = None):
        def deco(fn):
            if name in queries:
                raise ValueError(f"query {name!r} registered twice")
            queries[name] = fn
            if oracle is not None:
                oracles[name] = oracle
            return fn

        return deco

    return queries, oracles, query
