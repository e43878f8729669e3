"""The one commit protocol of the file-backed foreachBatch sinks.

foreachBatch is at-least-once: after a crash-restart Spark re-delivers
the last micro-batch under the same ``batch_id``. Every file-backed
sink in the engine (``streaming/materialize.py``'s versioned tables,
``operators/layout.py``'s ``ZOrderTable`` and
``streaming/progressive.py``'s ``ProgressiveResolver``) stays exact
under that by following the same five rules around one JSON pointer
file per sink directory:

1. Data lands in paths the pointer does not name yet.
2. The pointer flip is the commit. The pointer names the live paths
   and ``last_batch``.
3. Readers resolve only what the pointer names.
4. Cleanup runs after the flip and removes whatever is unnamed.
5. A batch with ``batch_id <= last_batch`` is skipped.

A crash before the flip leaves unnamed data that no reader sees and
the redelivered batch overwrites; a crash after the flip leaves
unnamed data that the next cleanup removes; a redelivered committed
batch is skipped. The pointer's other keys belong to the sink.
(Parquet-on-FS stand-in for a table format's transaction log, keyed
on the stable ``batchId`` the way Delta's idempotent writes use
``txnAppId``/``txnVersion``.)
"""

from __future__ import annotations

import json
import os
import shutil
from collections.abc import Iterable


class CommitPointer:
    """The pointer file ``<root>/_commit.json`` of one sink."""

    NAME = "_commit.json"

    def __init__(self, root: str):
        os.makedirs(root, exist_ok=True)
        self.path = os.path.join(root, self.NAME)

    def read(self) -> dict | None:
        """The committed pointer; ``None`` before the first commit."""
        try:
            with open(self.path, encoding="utf-8") as fh:
                return json.load(fh)
        except FileNotFoundError:
            return None

    def applied(self, batch_id: int) -> bool:
        """True when ``batch_id`` is already committed (rule 5)."""
        p = self.read()
        return p is not None and batch_id <= p.get("last_batch", -1)

    def publish(self, pointer: dict) -> None:
        """Commit: write a temp file, make it durable, then rename it
        over the pointer (atomic on POSIX), so readers see the old
        pointer or the new one, never a torn one."""
        tmp = self.path + ".tmp"
        with open(tmp, "w", encoding="utf-8") as fh:
            json.dump(pointer, fh)
            fh.flush()
            os.fsync(fh.fileno())
        os.replace(tmp, self.path)

    def cleanup(self, root: str, live: Iterable[str]) -> None:
        """Remove every entry of ``root`` that ``live`` does not name
        (rule 4). Call only after the flip that un-named them."""
        keep = set(live)
        for name in os.listdir(root):
            if name in keep or name.startswith(self.NAME):
                continue
            p = os.path.join(root, name)
            if os.path.isdir(p):
                shutil.rmtree(p, ignore_errors=True)
            else:
                os.remove(p)
