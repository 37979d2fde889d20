"""Per-partition checkpoint manifest — the storage-extension analogue.

Reference: extension/storage/filestorage persists KV state in a bbolt file
(client.go:20-40,53-84); stanza receivers checkpoint file offsets through it
(internal/stanza/storage.go:27-72) so a restarted collector resumes without
re-reading or dropping lines.

Spark design (north_rule: "checkpointed per-partition so the job resumes
with lineage"): the unit of work is an input partition (here: the day of
``warc_ts``; on Iceberg it would be the snapshot's partition spec). A JSON
manifest records each completed partition AFTER its sink write commits.
Because sink writes use dynamic partition overwrite keyed by the same
partition value, re-running a partition is idempotent: resume produces
byte-identical sinks vs an uninterrupted run (tested in
tests/test_checkpoint.py), with no duplicates and no gaps.

``write_json_atomic`` is the one commit primitive: the manifest and the
run reports (``plans/metrics.write_report``) are both written through it.
"""

from __future__ import annotations

import json
import os
import tempfile


def write_json_atomic(path: str, obj) -> None:
    """Write ``obj`` as JSON to ``path`` all at once: a temp file in the same
    directory, then ``os.replace`` (filestorage's atomic commit analogue).
    A reader sees the old file or the new one, never a torn write."""
    d = os.path.dirname(path) or "."
    os.makedirs(d, exist_ok=True)
    fd, tmp = tempfile.mkstemp(dir=d, prefix="_")
    with os.fdopen(fd, "w") as f:
        json.dump(obj, f)
    os.replace(tmp, path)


class Manifest:
    """Atomic JSON manifest of completed partition keys."""

    def __init__(self, path: str):
        self.path = path

    def done(self) -> set[str]:
        if not os.path.exists(self.path):
            return set()
        with open(self.path) as f:
            return set(json.load(f)["done"])

    def mark_done(self, key: str) -> None:
        write_json_atomic(self.path, {"done": sorted(self.done() | {key})})

    def pending(self, all_keys: list[str]) -> list[str]:
        done = self.done()
        return [k for k in all_keys if k not in done]

    def reset(self) -> None:
        if os.path.exists(self.path):
            os.remove(self.path)
