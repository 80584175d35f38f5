"""Resumable checkpoint manifest with per-partition lineage + metrics.

north_rule requirement: "resumable from checkpoint with per-partition lineage
+ metrics" — reruns skip already-validated partitions and replay only
failures. Reference analog: ``delete_old_matches`` + manual-edit precedence
(``/root/reference/scripts/enrich_fackel_bibls.py:18-25``) and
delete-before-insert (``scripts/enrich_person_indices.py:46-49``) — the same
idempotence contract, expressed as lineage instead of in-place XML edits.

A partition is SKIPPED on rerun iff:
  - its manifest entry exists,
  - the recorded snapshot_id matches the table's current snapshot for that
    partition (data unchanged),
  - the recorded rule versions match the current rule suite,
  - the recorded params digest matches this run's params (an entry written
    without one re-runs once), and
  - its verdict was "pass"  (failures are replayed).
"""

from __future__ import annotations

import hashlib
import json
import os
import tempfile
from datetime import datetime, timezone

from ..sources.catalog import PartitionedTable
from .rules import Rule


def load_store(path: str) -> dict:
    """A JSON store's entries; {} when the store does not exist yet."""
    if not os.path.exists(path):
        return {}
    with open(path) as f:
        return json.load(f)


def save_store(path: str, entries: dict, indent: int | None = 1) -> None:
    """Atomic save: tmp file in the store's directory + rename."""
    d = os.path.dirname(path) or "."
    os.makedirs(d, exist_ok=True)
    fd, tmp = tempfile.mkstemp(dir=d)
    with os.fdopen(fd, "w") as f:
        json.dump(entries, f, indent=indent, sort_keys=True)
    os.replace(tmp, path)


def params_digest(params: dict | None) -> str:
    """Digest of a run's rule params; ``None`` digests like the runner's
    default ``{}``."""
    blob = json.dumps(params or {}, sort_keys=True, default=str)
    return hashlib.sha256(blob.encode()).hexdigest()[:16]


class CheckpointManifest:
    def __init__(self, path: str):
        self.path = path
        self.entries: dict[str, dict] = load_store(path)

    def save(self) -> None:
        save_store(self.path, self.entries)

    # -- resume logic ------------------------------------------------------
    def pending(
        self, table: PartitionedTable, rules: list[Rule], params: dict | None = None
    ) -> list[int]:
        rule_versions = {r.rule_id: r.version for r in rules}
        digest = params_digest(params)
        out = []
        for pid, snap in table.snapshot_ids().items():
            e = self.entries.get(str(pid))
            if (
                e is None
                or e.get("snapshot_id") != snap
                or e.get("rule_versions") != rule_versions
                or e.get("params_digest") != digest
                or e.get("verdict") != "pass"
            ):
                out.append(pid)
        return sorted(out)

    def acknowledge(self, part_id: int, note: str = "") -> None:
        """Triage workflow: accept a FAILED partition's current snapshot so
        reruns stop replaying it. The verdict flips to "pass" for resume
        purposes but the ack is recorded with provenance — and it holds only
        for the acknowledged snapshot, rule versions and params: if the
        partition's data, the suite or the params change, `pending`
        re-validates it like any other change. Raises KeyError for a
        partition the manifest has never seen (there is nothing to
        acknowledge)."""
        e = self.entries[str(part_id)]
        e["acknowledged"] = {
            "at": datetime.now(timezone.utc).isoformat(),
            "note": note,
            "was_verdict": e.get("verdict"),
            "snapshot_id": e.get("snapshot_id"),
        }
        e["verdict"] = "pass"

    # history depth per partition: enough for a robust median/MAD baseline
    # (plans/anomaly.py) without the manifest growing unboundedly with reruns
    HISTORY_MAX = 32

    def record(
        self,
        part_id: int,
        snapshot_id: str,
        files: list[str],
        rules: list[Rule],
        metrics: dict[str, float],
        verdict: str,
        params: dict | None = None,
    ) -> None:
        now = datetime.now(timezone.utc).isoformat()
        prev_hist = self.entries.get(str(part_id), {}).get("history", [])
        self.entries[str(part_id)] = {
            "part_id": part_id,
            "snapshot_id": snapshot_id,
            "files": list(files),
            "rule_versions": {r.rule_id: r.version for r in rules},
            "params_digest": params_digest(params),
            "metrics": metrics,
            "verdict": verdict,
            "completed_at": now,
            # append-only per-run metric series (bounded), the input to
            # anomaly detection: a partition can pass every threshold while
            # drifting far from ITS OWN history — that series is the only
            # place such slow corruption is visible
            "history": (
                prev_hist
                + [
                    {
                        "metrics": dict(metrics),
                        "verdict": verdict,
                        "snapshot_id": snapshot_id,
                        "completed_at": now,
                    }
                ]
            )[-self.HISTORY_MAX:],
        }
