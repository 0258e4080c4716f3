"""One commit rule for durable state (the CDC manifest, the HWM marks),
shaped like Spark's ``HDFSMetadataLog``: a directory of JSON entries
``gen=<seq>.json``, each carrying its ``seq``, the newest being the
state.  A commit hard-links a temp file into place: readers never see
a torn entry, and the link fails if the seq is taken, so of two
writers that read the same entry and commit the next seq one wins and
the other gets ``ManifestConflict``."""

from __future__ import annotations

import contextlib
import json
import os
import tempfile


class ManifestConflict(RuntimeError):
    """Another writer committed the seq this commit was for: both read
    the same entry, and the first to commit won."""


def seqs(log_dir: str) -> list[int]:
    """The committed seqs, ascending (none for a missing directory)."""
    if not os.path.isdir(log_dir):
        return []
    return sorted(
        int(f[len("gen=") : -len(".json")])
        for f in os.listdir(log_dir)
        if f.startswith("gen=") and f.endswith(".json")
    )


def read(log_dir: str, seq: int) -> dict:
    with open(os.path.join(log_dir, f"gen={seq}.json"), encoding="utf-8") as fh:
        return json.load(fh)


def latest(log_dir: str) -> dict | None:
    """The entry of the highest seq, or None for an empty log.  One a
    ``retain`` deleted after the listing has a newer one: list again."""
    while committed := seqs(log_dir):
        with contextlib.suppress(FileNotFoundError):
            return read(log_dir, committed[-1])
    return None


def commit(log_dir: str, body: dict) -> None:
    """Create ``gen=<body["seq"]>.json`` holding ``body``, or raise
    ``ManifestConflict`` if that seq is taken."""
    seq = body["seq"]
    os.makedirs(log_dir, exist_ok=True)
    fd, tmp = tempfile.mkstemp(prefix=f".tmp.gen={seq}.", dir=log_dir)
    try:
        with os.fdopen(fd, "w", encoding="utf-8") as fh:
            json.dump(body, fh)
        os.link(tmp, os.path.join(log_dir, f"gen={seq}.json"))
    except FileExistsError:
        raise ManifestConflict(f"{log_dir}: seq {seq} was committed by another writer") from None
    finally:
        os.remove(tmp)


def retain(log_dir: str, n: int) -> int:
    """Delete all but the newest ``n`` (>= 1) entries; returns how many."""
    drop = seqs(log_dir)[:-n]
    for s in drop:
        with contextlib.suppress(FileNotFoundError):  # a concurrent retain removed it
            os.remove(os.path.join(log_dir, f"gen={s}.json"))
    return len(drop)
