"""Ref-store abstraction: the small KV surface the catalog commits to.

The commit protocol needs exactly four primitives over small JSON
blobs (refs, commit objects, table metadata, the ingest-key index):

- ``get(key)`` -> (payload, token) — read with a version token
- ``put(key, payload)`` — unconditional write, used ONLY for immutable
  uuid-named blobs (commits, metadata versions) that can never race
- ``put_if(key, payload, token)`` — conditional replace: succeeds iff
  the object's current token equals ``token`` (None = must not exist).
  This is the compare-and-swap every ref update is built on.
- ``list_keys(prefix)`` / ``delete(key)`` — maintenance.

Mappings onto real backends (the reference runs the same protocol
against Nessie's HTTP API — ``pyiceberg_patch_nessie.py:153-205``):

- **S3**: token = ETag; ``put_if`` = ``PutObject`` with ``If-Match``
  (or ``If-None-Match: *`` for token None) — conditional writes are
  GA on S3 since 2024. Immutable blobs are plain puts.
- **GCS**: token = generation; ``x-goog-if-generation-match``.
- **DynamoDB / any REST catalog**: conditional update expression.
- **Local FS** (:class:`LocalFSStore`): token = content digest;
  ``put_if`` holds an ``flock`` around read-compare-replace, which
  provides the same atomicity the object stores give natively.

Everything above the store is backend-agnostic: the catalog's one
commit loop (``Catalog._commit_loop`` around ``_commit_tables``), its
one staged-branch lifecycle (``Catalog.with_branch``), and the
``_cas_update`` loop under both that every ref CAS runs through. All
refs, the tag list and branch-creation stamps are ONE object,
``refs.json``, so each ref verb (a commit, a fork, a publish-and-drop,
a tag) is one ``put_if`` on it.
:class:`InMemoryStore` proves it (the catalog test suite runs against
it with zero filesystem metadata). A ``put_if`` that raises may still
have landed (a conditional-PUT timeout); ``_cas_update`` reads the key
back and treats a stored payload equal to the one written as success.
"""

from __future__ import annotations

import abc
import hashlib
import json
import os
import threading
import uuid
from typing import Any

try:  # POSIX file locking for the local backend
    import fcntl
except ImportError:  # pragma: no cover - non-POSIX
    fcntl = None


def _canonical(payload: dict[str, Any]) -> bytes:
    return json.dumps(payload, sort_keys=True, default=str).encode()


def _digest(data: bytes) -> str:
    return hashlib.blake2b(data, digest_size=16).hexdigest()


class RefStore(abc.ABC):
    """Minimal conditional-put KV store for catalog metadata."""

    @abc.abstractmethod
    def get(self, key: str) -> tuple[dict[str, Any], str] | None:
        """(payload, version-token), or None if the key doesn't exist."""

    @abc.abstractmethod
    def put(self, key: str, payload: dict[str, Any]) -> None:
        """Unconditional write — immutable uuid-named blobs only."""

    @abc.abstractmethod
    def put_if(
        self, key: str, payload: dict[str, Any], token: str | None
    ) -> bool:
        """Conditional replace (CAS). ``token=None`` = create-if-absent.
        Returns False when the current version doesn't match."""

    @abc.abstractmethod
    def list_keys(self, prefix: str) -> list[str]: ...

    def list_dirs(self, prefix: str) -> list[str]:
        """Immediate child 'directory' names under ``prefix`` (the
        object-store delimiter listing: S3 ListObjects CommonPrefixes).
        Default derives from ``list_keys`` — backends with a cheaper
        native listing should override."""
        depth = len([p for p in prefix.split("/") if p])
        out = set()
        for k in self.list_keys(prefix):
            parts = [p for p in k.split("/") if p]
            if len(parts) > depth + 1:
                out.add(parts[depth])
        return sorted(out)

    @abc.abstractmethod
    def delete(self, key: str) -> None: ...


class LocalFSStore(RefStore):
    """JSON files under a root directory; CAS via flock + atomic rename."""

    def __init__(self, root: str):
        self.root = os.path.abspath(root)
        os.makedirs(self.root, exist_ok=True)

    def _path(self, key: str) -> str:
        return os.path.join(self.root, key)

    def _lock_path(self) -> str:
        return os.path.join(self.root, ".store.lock")

    def get(self, key: str) -> tuple[dict[str, Any], str] | None:
        try:
            with open(self._path(key), "rb") as fh:
                data = fh.read()
        except FileNotFoundError:
            return None
        return json.loads(data), _digest(data)

    def put(self, key: str, payload: dict[str, Any]) -> None:
        path = self._path(key)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        tmp = f"{path}.tmp.{uuid.uuid4().hex[:8]}"
        with open(tmp, "w") as fh:
            json.dump(payload, fh, indent=1, default=str)
        os.replace(tmp, path)  # atomic on POSIX

    def put_if(
        self, key: str, payload: dict[str, Any], token: str | None
    ) -> bool:
        if fcntl is None:  # pragma: no cover - non-POSIX best effort
            cur = self.get(key)
            if (cur[1] if cur else None) != token:
                return False
            self.put(key, payload)
            return True
        with open(self._lock_path(), "a") as lock_fh:
            fcntl.flock(lock_fh, fcntl.LOCK_EX)
            try:
                cur = self.get(key)
                if (cur[1] if cur else None) != token:
                    return False
                self.put(key, payload)
                return True
            finally:
                fcntl.flock(lock_fh, fcntl.LOCK_UN)

    def list_keys(self, prefix: str) -> list[str]:
        base = self._path(prefix)
        if not os.path.isdir(base):
            return []
        out = []
        for dirpath, _dirs, names in os.walk(base):
            for n in names:
                if n.startswith(".") or ".tmp." in n:
                    continue
                out.append(
                    os.path.relpath(os.path.join(dirpath, n), self.root)
                )
        return sorted(out)

    def list_dirs(self, prefix: str) -> list[str]:
        # one os.listdir instead of the default full-walk derivation
        base = self._path(prefix)
        if not os.path.isdir(base):
            return []
        return sorted(
            n
            for n in os.listdir(base)
            if not n.startswith(".") and os.path.isdir(os.path.join(base, n))
        )

    def delete(self, key: str) -> None:
        try:
            os.remove(self._path(key))
        except FileNotFoundError:
            pass


class InMemoryStore(RefStore):
    """Dict-backed fake: proves the catalog assumes nothing POSIX."""

    def __init__(self):
        self._data: dict[str, bytes] = {}
        self._lock = threading.Lock()

    def get(self, key: str) -> tuple[dict[str, Any], str] | None:
        with self._lock:
            data = self._data.get(key)
        if data is None:
            return None
        return json.loads(data), _digest(data)

    def put(self, key: str, payload: dict[str, Any]) -> None:
        with self._lock:
            self._data[key] = _canonical(payload)

    def put_if(
        self, key: str, payload: dict[str, Any], token: str | None
    ) -> bool:
        with self._lock:
            cur = self._data.get(key)
            cur_token = _digest(cur) if cur is not None else None
            if cur_token != token:
                return False
            self._data[key] = _canonical(payload)
            return True

    def list_keys(self, prefix: str) -> list[str]:
        with self._lock:
            return sorted(k for k in self._data if k.startswith(prefix))

    def delete(self, key: str) -> None:
        with self._lock:
            self._data.pop(key, None)
