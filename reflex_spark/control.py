"""Crash-safe commits for the control plane, which the reference gets
from MySQL (rsql/eventstable.go:197-214): every commit point is one small
file written whole, and every single-writer job holds a claim file.

Each primitive writes a hidden temp file (``.<name>.<hex>.tmp``, read by
no listing) beside the target, fsyncs it, and publishes it in one atomic
step — ``os.replace``, or ``os.link`` to fail if the target exists (as
Delta's local LogStore does) — so a crash leaves the old state or the
complete new one. On an object store (POSIX-local here, as
``rblob/doc.go:1-16`` notes for the reference's buckets) ``write_atomic``
becomes a conditional PUT (``If-Match`` on the ETag / generation: S3
conditional writes, GCS ``ifGenerationMatch``), and ``create_exclusive``
and ``claim`` become ``If-None-Match: *`` PUTs on the target key.
"""

from __future__ import annotations

import contextlib
import os
import time
import uuid


def _publish(path: str, text: str, step) -> None:
    d, name = os.path.split(path)
    tmp = os.path.join(d, f".{name}.{uuid.uuid4().hex}.tmp")
    try:
        with open(tmp, "x", encoding="utf-8") as f:
            f.write(text)
            f.flush()
            os.fsync(f.fileno())
        step(tmp, path)
    finally:  # gone after a replace, or swept by a directory clear
        with contextlib.suppress(FileNotFoundError):
            os.unlink(tmp)


def write_atomic(path: str, text: str) -> None:
    """Durably replace ``path``'s content with ``text``."""
    _publish(path, text, os.replace)


def create_exclusive(path: str, text: str) -> None:
    """Durably create ``path`` holding ``text``; FileExistsError if it exists."""
    _publish(path, text, os.link)


class claim:
    """Single-writer claim file: ``acquire``/``release`` or ``with``. A
    second acquirer gets a ValueError naming the file, its holder, its
    age and ``why``; a crashed holder's claim refuses until removed."""

    def __init__(self, path: str, why: str):
        self.path = path
        self.why = why

    def acquire(self) -> None:
        try:
            create_exclusive(self.path, f"pid={os.getpid()}")
        except FileExistsError:
            try:
                age = max(0.0, time.time() - os.path.getmtime(self.path))
                with open(self.path, encoding="utf-8") as f:
                    holder = f.read().strip()
            except OSError:
                age, holder = -1.0, "?"
            raise ValueError(
                f"another writer holds the claim {self.path} (holder "
                f"{holder!r}, age {age:.0f}s): {self.why}. If that writer "
                "crashed, remove the claim file after confirming no write "
                "job is live."
            ) from None

    def release(self) -> None:
        with contextlib.suppress(OSError):
            os.remove(self.path)

    def __enter__(self) -> claim:
        self.acquire()
        return self

    def __exit__(self, *exc) -> None:
        self.release()
