"""Pluggable commit backends for the manifest transaction log.

The manifest protocol (``writeops.ParquetTable``) needs exactly one
primitive from storage: an atomic **put-if-absent** of the next
``<version>.json`` manifest object. Everything else — snapshot
isolation, rebase-on-race, crash invisibility, exactly-once streaming
watermarks, checkpoint compaction — is built on that single conditional
write. This module is the seam between the protocol and the storage
that provides it.

The contract a backend must honor (the S3/GCS conditional-PUT shape):

- ``try_put(log_dir, name, payload) -> bool`` — atomic put-if-absent:
  True iff THIS call created the object; False iff the key already
  existed (a concurrent writer won it). Never partially visible: a
  reader that can see the key can read the whole payload. On S3 this is
  ``PutObject`` with ``If-None-Match: *`` (available since 2024-08; on
  older stacks, a DynamoDB lock table à la delta-rs), on GCS
  ``x-goog-if-generation-match: 0``, on ABFS a conditional ``Create`` —
  all the same primitive.
- ``read_name(log_dir, name) -> bytes | None`` — strongly consistent
  read of a KNOWN key (read-your-key). Object stores give this.
- ``list_names(log_dir) -> list[str]`` — MAY lag recent puts
  (list-after-write is only eventually consistent on some stores, and
  that's fine: a lagging list makes a writer propose a stale version
  and LOSE the conditional put, which the protocol's rebase loop
  already retries; it never corrupts). Lag must be bounded so retry
  terminates.
- ``delete_name(log_dir, name)`` — unconditional; only ``vacuum``
  calls it, and only for objects outside the retention window.
- ``ensure(log_dir)`` / ``log_exists(log_dir)`` — create/probe the log
  container. ``ensure`` must happen-before any data file lands in the
  live tree (crash invisibility hinges on it); a no-op + bucket-probe
  on real object stores.
- ``create_log(log_dir, payload)`` — create the log already holding
  ``payload`` as version 0, in one step; a log already there (another
  writer's) is kept. Adopting a directory written without a log uses
  it, so a log is never seen empty while it adopts (an empty log means
  an interrupted first write, whose files stay invisible). On an object
  store the version-0 put-if-absent is that step.

``log_dir`` is an opaque key prefix (locally: the ``_log`` directory
path). Data files always live on the Spark-readable filesystem; only
the commit log routes through the backend. The version-keyed helpers
(``list_versions`` / ``read`` / ``try_commit`` / ``delete``) are thin
wrappers over the name-keyed primitives — version objects are
``<v:020d>.json``; checkpoint sidecars (``<v:020d>.checkpoint.json``)
and any future log objects ride the same primitives.
"""

from __future__ import annotations

import json
import os
import shutil
import threading
import uuid


def _vkey(version: int) -> str:
    return f"{int(version):020d}.json"


class _VersionHelpers:
    """Version-keyed convenience layer over the name-keyed primitives."""

    def list_versions(self, log_dir: str) -> list[int]:
        return sorted(
            int(n[:-5])
            for n in self.list_names(log_dir)
            if n.endswith(".json") and n[:-5].isdigit()
        )

    def read(self, log_dir: str, version: int) -> bytes | None:
        return self.read_name(log_dir, _vkey(version))

    def try_commit(self, log_dir: str, version: int, payload: bytes) -> bool:
        return self.try_put(log_dir, _vkey(version), payload)

    def delete(self, log_dir: str, version: int) -> None:
        self.delete_name(log_dir, _vkey(version))


class LocalFSCommitBackend(_VersionHelpers):
    """Hard-link put-if-absent on a local/POSIX filesystem.

    ``os.link`` fails with EEXIST iff the target name is taken — atomic
    on every POSIX filesystem — and the payload is fsynced into the tmp
    file before the link, so a visible object is always complete.
    Listing a directory is strongly consistent locally, so
    ``list_names`` never lags here.
    """

    def ensure(self, log_dir: str) -> None:
        os.makedirs(log_dir, exist_ok=True)

    def log_exists(self, log_dir: str) -> bool:
        return os.path.isdir(log_dir)

    def create_log(self, log_dir: str, payload: bytes) -> None:
        """Prepare the log beside ``log_dir`` holding version 0, then
        rename it into place. A rename replaces only an empty
        directory, so it fails if another writer's log is there; any
        other failure raises."""
        prepared = f"{log_dir}.tmp-{uuid.uuid4().hex}"
        os.makedirs(prepared)
        self.try_commit(prepared, 0, payload)
        try:
            os.rename(prepared, log_dir)
        except OSError:
            shutil.rmtree(prepared, ignore_errors=True)
            if not self.list_names(log_dir):
                raise

    def list_names(self, log_dir: str) -> list[str]:
        try:
            return sorted(n for n in os.listdir(log_dir) if not n.startswith("."))
        except OSError:
            return []

    def read_name(self, log_dir: str, name: str) -> bytes | None:
        try:
            with open(os.path.join(log_dir, name), "rb") as f:
                return f.read()
        except FileNotFoundError:
            return None

    def try_put(self, log_dir: str, name: str, payload: bytes) -> bool:
        tmp = os.path.join(log_dir, f".tmp-{uuid.uuid4().hex}")
        with open(tmp, "wb") as f:
            f.write(payload)
            f.flush()
            os.fsync(f.fileno())
        try:
            os.link(tmp, os.path.join(log_dir, name))
            return True
        except FileExistsError:
            return False
        finally:
            os.unlink(tmp)

    def delete_name(self, log_dir: str, name: str) -> None:
        try:
            os.remove(os.path.join(log_dir, name))
        except FileNotFoundError:
            pass


class FakeObjectStoreCommitBackend(_VersionHelpers):
    """In-memory object store with the failure modes the protocol must
    survive — for tests (and as the executable spec of the contract):

    - ``list_lag``: each put hides its key from the next ``list_lag``
      ``list_names`` calls (bounded list-after-write lag, the
      eventual-consistency shape of older S3 listings). Reads of a
      known key are always strong, as on every real object store.
    - ``inject_races``: the first N ``try_put``s of VERSION objects
      lose — a phantom competitor snapshots the version first with a
      no-op manifest (the previous tip's doc re-stamped: a full doc
      repeats the same file list; a delta doc re-applies an
      already-applied set delta — both no-ops under the resolver's set
      semantics), forcing the caller through its rebase loop exactly
      the way a real concurrent writer would. The budget is finite so
      the loop provably terminates; the phantom must NOT reuse the
      caller's payload — a rebasing append would then union its own
      files twice.
    """

    def __init__(self, list_lag: int = 0, inject_races: int = 0):
        self._store: dict[tuple[str, str], bytes] = {}
        self._ensured: set[str] = set()
        self._hide: dict[tuple[str, str], int] = {}
        self._lock = threading.Lock()
        self.list_lag = int(list_lag)
        self.inject_races = int(inject_races)
        self.puts = 0
        self.lost_races = 0

    def ensure(self, log_dir: str) -> None:
        with self._lock:
            self._ensured.add(log_dir)

    def log_exists(self, log_dir: str) -> bool:
        with self._lock:
            if log_dir in self._ensured:
                return True
            return any(k[0] == log_dir for k in self._store)

    def create_log(self, log_dir: str, payload: bytes) -> None:
        with self._lock:
            if not any(k[0] == log_dir for k in self._store):
                self._ensured.add(log_dir)
                self._store[(log_dir, _vkey(0))] = payload
                self.puts += 1
                if self.list_lag:
                    self._hide[(log_dir, _vkey(0))] = self.list_lag

    def list_names(self, log_dir: str) -> list[str]:
        with self._lock:
            out = []
            for (d, name), _ in list(self._store.items()):
                if d != log_dir:
                    continue
                left = self._hide.get((d, name), 0)
                if left > 0:
                    # bounded lag: every list call burns one unit, so a
                    # writer's rebase loop always terminates
                    self._hide[(d, name)] = left - 1
                    continue
                out.append(name)
            return sorted(out)

    def read_name(self, log_dir: str, name: str) -> bytes | None:
        with self._lock:
            return self._store.get((log_dir, name))

    def try_put(self, log_dir: str, name: str, payload: bytes) -> bool:
        with self._lock:
            key = (log_dir, name)
            is_version = name.endswith(".json") and name[:-5].isdigit()
            if self.inject_races > 0 and is_version:
                # a phantom competitor takes this version first with a
                # no-op snapshot (previous tip's doc, or empty at v0)
                self.inject_races -= 1
                if key not in self._store:
                    v = int(name[:-5])
                    prev = self._store.get((log_dir, _vkey(v - 1)))
                    doc = json.loads(prev) if prev else {"files": [], "schema": None}
                    doc["version"] = v
                    doc["__raced"] = True
                    self._store[key] = json.dumps(doc).encode()
                    if self.list_lag:
                        self._hide[key] = self.list_lag
                self.lost_races += 1
                return False
            if key in self._store:
                return False
            self._store[key] = payload
            self.puts += 1
            if self.list_lag:
                self._hide[key] = self.list_lag
            return True

    def delete_name(self, log_dir: str, name: str) -> None:
        with self._lock:
            self._store.pop((log_dir, name), None)
            self._hide.pop((log_dir, name), None)
