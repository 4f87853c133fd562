"""Snapshot catalog — the ONLY place LakeTable touches storage metadata.

LakeTable's commit protocol needs exactly four storage primitives: init a
table location, read the current-version pointer, read an immutable snapshot
file, and atomically publish (snapshot, pointer) with a compare-and-swap on
the expected parent version. This module isolates them behind one small
interface so the rest of the table format is storage-agnostic:

- :class:`FileCatalog` (shipped): POSIX implementation — ``os.replace`` gives
  the atomic pointer swap; the parent check, held under a process-wide lock,
  gives optimistic concurrency among the threads of one driver.
- an object-store deployment implements the same four methods with
  conditional writes (S3 ``If-None-Match`` PUT / GCS generation
  preconditions / DynamoDB or a catalog service doing the CAS) — exactly the
  split Iceberg makes between table format and catalog. Data files never go
  through this interface; they are written by Spark's own committers, which
  are already object-store-safe.
"""

from __future__ import annotations

import json
import os
import threading

# One lock for every FileCatalog in the process: two handles on the same
# table share the pointer and the snapshot files, not a catalog object.
_PUBLISH_LOCK = threading.Lock()


class ConcurrentCommitError(RuntimeError):
    """Another writer advanced the table past the expected parent version."""


class FileCatalog:
    """POSIX pointer/snapshot store: ``{meta_dir}/snap-{v}.json`` immutable
    snapshot files + an atomically-replaced ``{meta_dir}/current`` pointer."""

    POINTER = "current"

    def __init__(self, meta_dir: str):
        self.meta_dir = meta_dir

    def initialize(self) -> None:
        os.makedirs(self.meta_dir, exist_ok=True)

    def exists(self) -> bool:
        return os.path.exists(os.path.join(self.meta_dir, self.POINTER))

    def read_pointer(self) -> int:
        with open(os.path.join(self.meta_dir, self.POINTER)) as f:
            return int(f.read().strip())

    def read_snapshot(self, version: int) -> dict:
        with open(os.path.join(self.meta_dir, f"snap-{version}.json")) as f:
            return json.load(f)

    def list_snapshot_versions(self) -> list[int]:
        """All snapshot versions present in the catalog, ascending."""
        out = []
        for name in os.listdir(self.meta_dir):
            if name.startswith("snap-") and name.endswith(".json"):
                out.append(int(name[5:-5]))
        return sorted(out)

    def delete_snapshot(self, version: int) -> None:
        """Remove one immutable snapshot file (expiration; never the one the
        pointer references — LakeTable.expire_snapshots enforces that)."""
        try:
            os.remove(os.path.join(self.meta_dir, f"snap-{version}.json"))
        except FileNotFoundError:
            pass

    def publish(self, snap: dict, expected_parent: int | None) -> None:
        """Persist the immutable snapshot file, then swap the pointer
        atomically iff the current version still equals ``expected_parent``
        (optimistic concurrency; a production catalog does this CAS
        server-side).

        The parent check, the snapshot write and the pointer swap run under
        one process-wide lock, so threads of one driver cannot both pass
        the check for the same parent. The lock does not reach other
        processes: writers in separate processes need the object-store
        catalog's own CAS (a conditional PUT on the pointer)."""
        with _PUBLISH_LOCK:
            if expected_parent is not None and self.read_pointer() != expected_parent:
                raise ConcurrentCommitError(
                    f"snapshot moved past v{expected_parent}; retry the commit"
                )
            snap_file = os.path.join(self.meta_dir, f"snap-{snap['version']}.json")
            with open(snap_file + ".tmp", "w") as f:
                json.dump(snap, f)
            os.replace(snap_file + ".tmp", snap_file)
            ptr = os.path.join(self.meta_dir, self.POINTER)
            with open(ptr + ".tmp", "w") as f:
                f.write(str(snap["version"]))
            os.replace(ptr + ".tmp", ptr)
