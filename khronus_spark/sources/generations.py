"""Generation publish for persisted artifacts: a writer builds into a
fresh `gen-<token>/` dir under the artifact root and makes it visible
with ONE atomic replace of the root's CURRENT pointer file.

A reader resolves CURRENT once and keeps a consistent view; a crash
mid-write leaves CURRENT on the previous complete generation (the
half-written one is unreachable). Used by `operators/pq.py`'s index
writers and `sources/dashboards.py`'s store.
"""

from __future__ import annotations

import os
import shutil
import time
import uuid


def resolve_generation_dir(path: str) -> str:
    """The directory a generation-published artifact actually lives
    in: the generation CURRENT under `path` names, or `path` itself for
    a flat layout (written straight into the dir)."""
    cur = os.path.join(path, "CURRENT")
    if os.path.isfile(cur):
        with open(cur) as fh:
            return os.path.join(path, fh.read().strip())
    return path


def new_generation(root: str) -> tuple[str, str]:
    """A fresh UNPUBLISHED generation under `root`: returns (name,
    dir). Writers build their artifacts into the returned dir and then
    make them visible with ONE `publish_generation` call."""
    os.makedirs(root, exist_ok=True)
    gen = f"gen-{uuid.uuid4().hex[:12]}"
    return gen, os.path.join(root, gen)


def publish_generation(root: str, gen: str, grace_seconds: float) -> None:
    """Atomically publish generation dir `gen` (already fully written
    under `root`) as CURRENT, then prune superseded generations by AGE.

    The current and immediately-previous generations are kept
    unconditionally; any other falls only once its mtime is
    `grace_seconds` old, so a reader slower than one publish interval
    never loses the generation it resolved. Pass grace_seconds=0 only
    when reader quiescence is guaranteed."""
    prev = None
    cur = os.path.join(root, "CURRENT")
    if os.path.isfile(cur):
        with open(cur) as fh:
            prev = fh.read().strip()
    tmp = os.path.join(root, f".CURRENT.tmp-{uuid.uuid4().hex[:8]}")
    with open(tmp, "w") as fh:
        fh.write(gen)
        fh.flush()
        os.fsync(fh.fileno())
    os.replace(tmp, cur)  # the atomic publish
    now = time.time()
    for name in os.listdir(root):
        full = os.path.join(root, name)
        if (
            name.startswith("gen-")
            and name not in (gen, prev)
            and os.path.isdir(full)
        ):
            try:
                age = now - os.path.getmtime(full)
            except OSError:
                continue  # raced with a concurrent prune
            if age >= grace_seconds:
                shutil.rmtree(full, ignore_errors=True)
