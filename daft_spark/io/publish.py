"""No-clobber publish of one table-log file, shared by the Delta,
Iceberg, Hudi and Paimon committers.

Every format names its next log entry after the state it read (Delta
``<v+1>.json``, Iceberg ``v<N+1>.metadata.json``, Paimon
``snapshot-<N+1>``, Hudi ``<instant>.<action>``). Publishing that name
must fail, not replace, when another writer got there first: the
entry is staged in a temp file beside the target and hard-linked into
place. ``link()`` refuses an existing target where ``rename()`` would
overwrite it, and readers never see a half-written file.
"""

from __future__ import annotations

import os
import uuid


class ConcurrentCommitError(RuntimeError):
    """Another writer already published the log entry this commit
    targeted: the state the commit was built on is stale."""


def publish_once(final: str, text: str, conflict: str) -> None:
    """Write ``text`` as the file ``final`` unless it already exists;
    raise ``ConcurrentCommitError(conflict)`` when it does."""
    tmp = os.path.join(os.path.dirname(final), f".tmp-{uuid.uuid4().hex}")
    with open(tmp, "w") as f:
        f.write(text)
    try:
        os.link(tmp, final)
    except FileExistsError:
        raise ConcurrentCommitError(conflict) from None
    finally:
        os.remove(tmp)
