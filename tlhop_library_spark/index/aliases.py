"""Index aliases — ES ``_aliases`` API parity.

A registry is one JSON file mapping alias name → list of index dirs.
``update_aliases`` applies a batch of add/remove actions ATOMICALLY
(temp-file + ``os.replace``, which is atomic on POSIX): a reader
resolving the alias sees either the old or the new mapping, never a
half-applied batch — the property ES aliases exist for (blue/green
reindex swaps: ``[{remove: idx_v1}, {add: idx_v2}]`` in one action).

An alias naming ONE index dir resolves to a plain :class:`IndexReader`;
an alias naming SEVERAL resolves to a :class:`ShardedIndexReader`
(global Σ-stats federation — the ES analogue of an alias spanning
indices, with the stronger guarantee that scoring is rank-identical
to one union index). The registry file is tiny and read per resolve —
at cluster scale it lives beside the indexes on shared storage and
the atomic-rename contract is unchanged (object stores: conditional
PUT)."""

from __future__ import annotations

import contextlib
import json
import os
import tempfile

from tlhop_library_spark.index.layout import STATS, is_index

try:  # POSIX-only; the registry contract needs it for writers
    import fcntl
except ImportError:  # pragma: no cover - non-POSIX host
    fcntl = None  # type: ignore[assignment]


@contextlib.contextmanager
def _writer_lock(registry_path: str):
    """Exclusive advisory lock for read-modify-write updaters.

    ``os.replace`` already makes the swap atomic for READERS, but two
    concurrent ``update_aliases`` calls are a lost-update race: both
    read, the second replace silently discards the first batch
    (round-3 ADVICE). An fcntl lock on a ``.lock`` sibling serializes
    writers (blocking — alias batches are tiny). On hosts without
    fcntl the single-writer requirement falls back to the caller."""
    if fcntl is None:  # pragma: no cover - non-POSIX host
        yield
        return
    d = os.path.dirname(os.path.abspath(registry_path)) or "."
    os.makedirs(d, exist_ok=True)
    lock_path = registry_path + ".lock"
    with open(lock_path, "a+") as lk:
        fcntl.flock(lk.fileno(), fcntl.LOCK_EX)
        try:
            yield
        finally:
            fcntl.flock(lk.fileno(), fcntl.LOCK_UN)


def read_aliases(registry_path: str) -> dict[str, list[str]]:
    """The full alias → [index_dir…] mapping ({} if no registry)."""
    if not os.path.isfile(registry_path):
        return {}
    with open(registry_path) as f:
        return json.load(f)


def update_aliases(
    registry_path: str, actions: list[dict],
) -> dict[str, list[str]]:
    """Apply ES-style alias actions atomically and return the new
    mapping. Each action is ``{"add": {"alias": a, "index": dir}}``
    or ``{"remove": {"alias": a, "index": dir}}`` (``"index": "*"``
    removes the whole alias). The whole batch lands in one atomic
    rename; a failing action aborts the batch with no change.
    Concurrent updaters are serialized by an exclusive lock on a
    ``.lock`` sibling, so no batch is lost to a read-modify-write
    race."""
    with _writer_lock(registry_path):
        return _update_aliases_locked(registry_path, actions)


def _update_aliases_locked(
    registry_path: str, actions: list[dict],
) -> dict[str, list[str]]:
    aliases = read_aliases(registry_path)
    for act in actions:
        if len(act) != 1 or next(iter(act)) not in ("add", "remove"):
            raise ValueError(f"bad action {act!r}")
        op, body = next(iter(act.items()))
        alias, index = body["alias"], body["index"]
        if op == "add":
            if not is_index(index):
                raise ValueError(f"{index} is not an index (no {STATS})")
            cur = aliases.setdefault(alias, [])
            if index not in cur:
                cur.append(index)
        else:
            if alias not in aliases:
                raise KeyError(f"alias {alias!r} does not exist")
            if index == "*":
                del aliases[alias]
            else:
                try:
                    aliases[alias].remove(index)
                except ValueError:
                    raise KeyError(
                        f"alias {alias!r} does not point at {index}"
                    ) from None
                if not aliases[alias]:
                    del aliases[alias]
    d = os.path.dirname(os.path.abspath(registry_path)) or "."
    os.makedirs(d, exist_ok=True)
    fd, tmp = tempfile.mkstemp(dir=d, suffix=".aliases.tmp")
    try:
        with os.fdopen(fd, "w") as f:
            json.dump(aliases, f, indent=1, sort_keys=True)
        os.replace(tmp, registry_path)  # POSIX-atomic swap
    except BaseException:
        if os.path.exists(tmp):
            os.remove(tmp)
        raise
    return aliases


def reader_for_alias(spark, registry_path: str, alias: str):
    """Resolve an alias to a reader: one dir → :class:`IndexReader`,
    several → :class:`ShardedIndexReader` (rank-identical to a single
    union index — tested in test_index_sharded.py)."""
    aliases = read_aliases(registry_path)
    if alias not in aliases:
        raise KeyError(f"alias {alias!r} does not exist")
    dirs = aliases[alias]
    if len(dirs) == 1:
        from tlhop_library_spark.index.query import IndexReader

        return IndexReader(spark, dirs[0])
    from tlhop_library_spark.index.sharded import ShardedIndexReader

    return ShardedIndexReader(spark, dirs)
