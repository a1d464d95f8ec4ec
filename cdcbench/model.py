"""Pure-Python reference model of the CDC state: last-write-wins per key.

The pipeline's default mode drops deletes before the merge, drops
corrupt (here: truncated) envelopes, and keeps per key the event with
the greatest ``(version, _seq)`` tuple, so ``_seq`` breaks version ties.
With ``apply_deletes`` the delete events take part in the merge and a
key whose winner is a delete disappears.
"""

from __future__ import annotations

from collections.abc import Iterable
from dataclasses import dataclass


@dataclass(frozen=True)
class Event:
    seq: int
    op: str
    key: int
    version: int
    truncated: bool = False
    payload: tuple = ()


def lww_state(events: Iterable[Event], apply_deletes: bool = False) -> dict[int, Event]:
    """Final state: key -> winning event."""
    state: dict[int, Event] = {}
    for e in events:
        if e.truncated or (e.op == "d" and not apply_deletes):
            continue
        cur = state.get(e.key)
        if cur is None or (e.version, e.seq) > (cur.version, cur.seq):
            state[e.key] = e
    if apply_deletes:
        state = {k: e for k, e in state.items() if e.op != "d"}
    return state


def backlog_events(files) -> Iterable[Event]:
    """Model events of generated backlog files (``gen.BacklogEvents``);
    the payload is ``(username, account_type)``."""
    for f in files:
        for seq, op, key, at, ver, trunc in zip(
            f.seq.tolist(), f.op.tolist(), f.key.tolist(), f.account_type.tolist(),
            f.updated_at.tolist(), f.truncated.tolist(),
        ):
            yield Event(seq, op, key, ver, trunc, (f"user_{key}_{seq}", at))
