"""Mechanized gate-rotation policy (gate_policy.py): family floors,
no anonymous slots, and a rotation log that must exactly explain any
drift from the most recent driver CORRECTNESS artifact."""

from __future__ import annotations

import json
import re
from pathlib import Path

from flink_repartition_watermark_example_spark.gate_policy import (
    FAMILIES,
    REQUIRED_FAMILIES,
    ROTATION_LOG,
)
from flink_repartition_watermark_example_spark.queries import EXTRA_QUERIES, QUERIES

REPO = Path(__file__).resolve().parent.parent


def test_every_family_member_is_a_registered_query():
    registered = set(QUERIES) | set(EXTRA_QUERIES)
    for fam, members in FAMILIES.items():
        # environment-gated registrations (protobuf TWS) may be absent;
        # a family must still resolve to at least one LIVE member
        live = members & registered
        assert live, f"family {fam} has no registered member"


def test_rule1_every_required_family_holds_a_gate_slot():
    gate = set(QUERIES)
    starved = {
        fam
        for fam in REQUIRED_FAMILIES
        if not (FAMILIES[fam] & gate)
    }
    assert not starved, f"families with no gate slot: {sorted(starved)}"


def test_rule2_no_anonymous_gate_slots():
    classified = set().union(*FAMILIES.values())
    anonymous = set(QUERIES) - classified
    assert not anonymous, (
        f"gate queries not classified into any family: {sorted(anonymous)}"
        " — add them to a family in gate_policy.py (or a new family)"
    )


def _latest_correctness() -> tuple[int, set[str]] | None:
    best = None
    for p in REPO.glob("CORRECTNESS_r*.json"):
        m = re.fullmatch(r"CORRECTNESS_r(\d+)\.json", p.name)
        if not m:
            continue
        rnd = int(m.group(1))
        if best is None or rnd > best[0]:
            try:
                keys = set(json.loads(p.read_text()))
            except (json.JSONDecodeError, OSError):
                continue
            best = (rnd, keys)
    return best


def test_rule5_rotation_log_explains_gate_drift_exactly():
    latest = _latest_correctness()
    if latest is None:
        return  # round 1: no artifact yet, nothing to diff against
    artifact_round, artifact_gate = latest
    live_gate = set(QUERIES)
    added_since = {
        q for e in ROTATION_LOG if e["round"] > artifact_round for q in e["added"]
    }
    removed_since = {
        q
        for e in ROTATION_LOG
        if e["round"] > artifact_round
        for q in e["removed"]
    }
    assert live_gate - artifact_gate == added_since, (
        "gate members not explained by ROTATION_LOG entries newer than "
        f"CORRECTNESS_r{artifact_round:02d}: "
        f"{sorted((live_gate - artifact_gate) ^ added_since)}"
    )
    assert artifact_gate - live_gate == removed_since, (
        "gate removals not explained by ROTATION_LOG entries newer than "
        f"CORRECTNESS_r{artifact_round:02d}: "
        f"{sorted((artifact_gate - live_gate) ^ removed_since)}"
    )


def test_rotation_log_entries_are_swaps_into_the_extras_registry():
    # every removed query must still exist (as an extra today, or have
    # later re-entered the gate); rotation never deletes coverage
    # unless an entry's "deleted" list records the deletion
    registered = set(QUERIES) | set(EXTRA_QUERIES)
    deleted = {q for e in ROTATION_LOG for q in e.get("deleted", [])}
    for e in ROTATION_LOG:
        for q in e["removed"]:
            assert q in registered or q in deleted, (
                f"round {e['round']} removed {q} entirely"
            )
        for q in e["added"]:
            assert q in registered or q in deleted, (
                f"round {e['round']} added unknown {q}"
            )


def test_rotation_log_deleted_names_are_not_registered():
    # the "deleted" list records code that is gone; naming a live
    # query there would waive the swap check above for it
    registered = set(QUERIES) | set(EXTRA_QUERIES)
    for e in ROTATION_LOG:
        for q in e.get("deleted", []):
            assert q not in registered, (
                f"round {e['round']} lists {q} as deleted, but it is registered"
            )
