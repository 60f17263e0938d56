"""Shared snapshot-lineage helpers (pure Python — usable from the JVM
read plane, the commit plane, AND DataSource worker processes). One
implementation of the walk-parent-ids loop that timestamp travel,
ref-aware expiration, incremental/changelog scans and the DataSource
changes and stream readers all depend on, so branch-lineage semantics
can never diverge between planes (r5 review finding: four hand-rolled
copies)."""

from __future__ import annotations


def main_line_ids(doc: dict) -> set[int]:
    """Snapshot ids on the MAIN branch: ancestors of
    ``current-snapshot-id`` via ``parent-snapshot-id`` lineage. Empty
    when the table has no current pointer (legacy/synthetic) — callers
    treat that as 'no lineage information', not 'no snapshots'."""
    by_id = {int(s["snapshot-id"]): s for s in doc.get("snapshots", [])}
    cur = doc.get("current-snapshot-id")
    out: set[int] = set()
    if cur is None:
        return out
    walk = int(cur)
    while walk in by_id and walk not in out:
        out.add(walk)
        parent = by_id[walk].get("parent-snapshot-id")
        if parent is None:
            break
        walk = int(parent)
    return out


def ancestor_ids(doc: dict, head_id: int, stop_at: set[int] | None = None) -> set[int]:
    """Ids reachable from ``head_id`` via parent lineage, stopping
    (exclusive) at any id in ``stop_at`` — the branch-only-ancestry set
    when ``stop_at`` is the main line."""
    by_id = {int(s["snapshot-id"]): s for s in doc.get("snapshots", [])}
    out: set[int] = set()
    walk = int(head_id)
    stop = stop_at or set()
    while walk in by_id and walk not in out and walk not in stop:
        out.add(walk)
        parent = by_id[walk].get("parent-snapshot-id")
        if parent is None:
            break
        walk = int(parent)
    return out


def chain(doc: dict, from_id, to_id: int) -> list[dict] | None:
    """The snapshots after ``from_id`` (exclusive) up to ``to_id``
    (inclusive) along parent lineage, oldest first; ``from_id`` None
    walks back to the oldest retained ancestor. None when ``from_id`` is
    given but the walk from ``to_id`` never reaches it (not an
    ancestor) — callers raise their own error."""
    by_id = {int(s["snapshot-id"]): s for s in doc.get("snapshots", [])}
    out: list[dict] = []
    walk = None if to_id is None else int(to_id)
    while walk is not None and walk != from_id and walk in by_id \
            and len(out) <= len(by_id):
        out.append(by_id[walk])
        parent = by_id[walk].get("parent-snapshot-id")
        walk = int(parent) if parent is not None else None
    if from_id is not None and walk != from_id:
        return None
    return out[::-1]
