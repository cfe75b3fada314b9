"""The one commit primitive of the four metadata logs: the LakeTable's
``metadata/v{N}.json``, Delta's ``_delta_log/{N:020d}.json``, Iceberg's
``metadata/v{N}.metadata.json`` and the catalog's ``manifest/v{N}.json``.

:func:`put_if_absent` claims a version slot with a complete entry (the
Delta Lake commit): the text goes to a temp file beside the slot, which
``os.link`` then publishes or, if another writer holds the slot,
refuses. A commit that fails before the link leaves no file behind.
:func:`advance_hint` moves an advisory pointer by ``os.replace``, so no
reader sees it torn. Which version is the tip stays per format. Temp
names (``.<hex>.tmp``) match no version listing.
"""

from __future__ import annotations

import os
import uuid


class CommitConflictError(RuntimeError):
    """Another writer claimed the version slot this commit was about to
    claim. Reload the table state and retry."""

    def __init__(self, detail: str):
        super().__init__(f"concurrent commit: {detail}")


def _write_aside(path: str, text: str) -> str:
    tmp = os.path.join(os.path.dirname(path), f".{uuid.uuid4().hex}.tmp")
    with open(tmp, "x", encoding="utf-8") as fh:
        try:
            fh.write(text)
        except BaseException:
            os.unlink(tmp)
            raise
    return tmp


def put_if_absent(path: str, text: str) -> None:
    """Publish ``text`` at ``path``; :class:`CommitConflictError` if it exists."""
    tmp = _write_aside(path, text)
    try:
        os.link(tmp, path)
    except FileExistsError:
        raise CommitConflictError(f"{path} already exists; reload and retry") from None
    finally:
        os.unlink(tmp)


def advance_hint(path: str, text: str) -> None:
    os.replace(_write_aside(path, text), path)
