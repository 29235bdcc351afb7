"""The one commit protocol every versioned store and index shares.

A store at ``path`` holds generation directories ``v_<seq>-<hex>`` and
one pointer file naming the published one. A writer builds a new
generation BESIDE the live one and commits it with a single atomic
pointer swap, so a crash anywhere before the swap leaves readers on the
previous generation (or on nothing, for a first build) — never on a
half-written one. After the swap every generation except the current
and the previous one is deleted; the previous one is kept as the crash
window and as one step of time travel (`previous`).

Write-once builds commit with an EXCLUSIVE create of the pointer
(`publish(..., first=True)`): when two builders race on an empty path,
the first to commit wins, the loser drops its own generation and reads
the winner's. A first publish deletes no other generation, because a
concurrent builder's in-flight one looks exactly like a crashed orphan.

Maintenance writers (merge, append, compact, repair, republish) are
SINGLE-WRITER per path: the post-swap cleanup would delete another
writer's in-flight generation. Readers are always safe.

The same protocol is the single-node analogue of a table format's
commit (Delta/Iceberg) and the durable form of the reference's
write-then-confirm checkpoint and atomic state snapshot.
"""

from __future__ import annotations

import os
import shutil
import uuid
from typing import Callable

_POINTER = "_CURRENT"
_PREFIX = "v_"


def current(path: str) -> str | None:
    """The published generation directory, or None when nothing is
    published (a missing or unreadable pointer fails closed to empty)."""
    try:
        with open(os.path.join(path, _POINTER)) as f:
            name = f.read().strip()
    except OSError:
        return None
    d = os.path.join(path, name)
    return d if name and os.path.isdir(d) else None


def require(path: str, who: str, what: str = "index") -> str:
    """The published generation, or FileNotFoundError naming the caller
    — the read-or-raise guard every store reader shares."""
    cur = current(path)
    if cur is None:
        raise FileNotFoundError(f"{who}: no published {what} at {path!r}")
    return cur


def previous(path: str) -> str | None:
    """The one retained generation before the current one, or None
    after a single publish. Raises if cleanup left more than one."""
    cur = current(path)
    if cur is None:
        return None
    older = sorted(
        n
        for n in os.listdir(path)
        if n.startswith(_PREFIX)
        and os.path.isdir(os.path.join(path, n))
        and n != os.path.basename(cur)
    )
    if len(older) > 1:
        raise RuntimeError(
            f"expected at most one retained previous generation under {path!r},"
            f" found {older}"
        )
    return os.path.join(path, older[0]) if older else None


def next_generation(path: str) -> str:
    """Name the next generation dir ``v_<seq>-<hex>`` under ``path`` (the
    only place a generation name is made); creates ``path`` itself."""
    os.makedirs(path, exist_ok=True)
    cur = current(path)
    seq = 0 if cur is None else int(os.path.basename(cur)[2:].split("-")[0]) + 1
    return os.path.join(path, f"{_PREFIX}{seq}-{uuid.uuid4().hex[:8]}")


def publish(path: str, gen: str, first: bool = False) -> bool:
    """Commit ``gen`` as the published generation. Default: atomically
    swap the pointer (tmp file + os.replace), then delete every
    generation except the new and the previous one. ``first=True``:
    create the pointer exclusively (hard link of the tmp file) and
    return False, publishing nothing, when another writer got there
    first."""
    prev = current(path)
    tmp = os.path.join(path, f".{_POINTER}.{uuid.uuid4().hex[:8]}")
    with open(tmp, "w") as f:
        f.write(os.path.basename(gen))
        f.flush()
        os.fsync(f.fileno())
    if first:
        try:
            os.link(tmp, os.path.join(path, _POINTER))
            return True
        except FileExistsError:
            return False
        finally:
            os.remove(tmp)
    os.replace(tmp, os.path.join(path, _POINTER))
    keep = {os.path.basename(gen)}
    if prev is not None:
        keep.add(os.path.basename(prev))
    for name in os.listdir(path):
        if name.startswith(_PREFIX) and name not in keep:
            shutil.rmtree(os.path.join(path, name), ignore_errors=True)
    return True


def build_once(path: str, write: Callable[[str], None], overwrite: bool = False) -> str:
    """Write-once build: return the published generation, first writing
    one with ``write(gen)`` when nothing is published. ``overwrite=True``
    always writes and swaps in a new generation, so readers keep the old
    one until the swap and never see an empty path. A directory holding
    data but no pointer is not a store this protocol wrote: it raises
    instead of being read or silently replaced."""
    cur = current(path)
    if cur is not None and not overwrite:
        return cur
    if cur is None and not overwrite:
        foreign = sorted(
            n
            for n in (os.listdir(path) if os.path.isdir(path) else [])
            if not n.startswith((_PREFIX, _POINTER, f".{_POINTER}."))
        )
        if foreign:
            raise RuntimeError(
                f"{path!r} holds {foreign[:3]} but no published generation"
                " (a layout this version does not read); pass overwrite=True"
                " to rebuild it as a new generation"
            )
    gen = next_generation(path)
    write(gen)
    if publish(path, gen, first=not overwrite):
        return gen
    shutil.rmtree(gen, ignore_errors=True)  # lost the first-build race
    return current(path)


def link_forward(src: str, dst: str, keep: Callable[[str], bool]) -> list[str]:
    """Carry unchanged data into a new generation as hard links: every
    entry of ``src`` that ``keep(name)`` accepts — a file, or a partition
    directory's files — lands under ``dst`` without a byte rewritten.
    Returns the linked entry names."""
    linked = []
    for name in sorted(os.listdir(src)):
        if not keep(name):
            continue
        s, d = os.path.join(src, name), os.path.join(dst, name)
        if os.path.isdir(s):
            os.makedirs(d, exist_ok=True)
            files = [(os.path.join(s, f), os.path.join(d, f)) for f in os.listdir(s)]
        else:
            os.makedirs(dst, exist_ok=True)
            files = [(s, d)]
        for a, b in files:
            os.link(a, b)
        linked.append(name)
    return linked


def partition_value(name: str, col: str) -> int | None:
    """The int value of a ``col=<n>`` partition dir name, else None."""
    prefix = f"{col}="
    return int(name[len(prefix):]) if name.startswith(prefix) else None
