"""Checks of one drain against the generator's ground truth.

The truth is computed in plain Python while the input is generated
(`gen.generate`), never from the program's own output. Each function
returns a list of human-readable mismatches; an empty list is a pass.
"""

from __future__ import annotations

from flink_dts_connector_spark.streaming.failover import DtsProgressTracker

import gen
from pipeline import CLUSTER


def _diff_dicts(name: str, got: dict, want: dict, limit: int = 3) -> list[str]:
    if got == want:
        return []
    missing = [k for k in want if k not in got][:limit]
    extra = [k for k in got if k not in want][:limit]
    wrong = [(k, got[k], want[k]) for k in want if k in got and got[k] != want[k]][:limit]
    return [
        f"{name}: {len(got)} entries vs {len(want)} expected; "
        f"missing {missing} extra {extra} wrong {wrong}"
    ]


def check_drain(wl, truth: gen.Truth, res) -> list[str]:
    bad: list[str] = []
    if res.records != truth.records:
        bad.append(f"consumed {res.records} wire records, topic holds {truth.records}")
    # conserved quantity: signed SUM(amount) and COUNT per group equal the
    # sums over the live rows; groups whose rows all died read (0, 0)
    got = {g: v for g, v in res.groups.items() if v != (0, 0)}
    bad += _diff_dicts("signed aggregates", got, truth.groups)
    if res.changelog_rows != truth.changelog_rows:
        bad.append(
            f"changelog has {res.changelog_rows} rows, expected I+D+2U = {truth.changelog_rows}"
        )
    tracker = DtsProgressTracker.load(res.tracker_path)
    bad += _diff_dicts("tracker offset@timestamp", tracker.partitions, truth.last_record)
    if tracker.cluster_id != CLUSTER:
        bad.append(f"tracker cluster id {tracker.cluster_id!r}")
    if res.batches_seen != 1:
        bad.append(f"availableNow drain ran {res.batches_seen} batches, expected 1")
    if res.wire_bytes != truth.wire_bytes:
        bad.append(f"drained {res.wire_bytes} wire bytes, topic holds {truth.wire_bytes}")
    # final state: upserted rows equal the live rows (key, cents, status)
    bad += _diff_dicts("upsert state", res.upsert, truth.live)
    table_rows = res.survivors.get((gen.DB, gen.TABLE), 0)
    if table_rows != truth.table_events:
        bad.append(f"{table_rows} decoded rows of {gen.SELECTED}, expected {truth.table_events}")
    if wl.prefiltered:
        # tenant filter: foreign tables and heartbeats contribute nothing
        foreign = {k: v for k, v in res.survivors.items() if k != (gen.DB, gen.TABLE)}
        if foreign:
            bad.append(f"foreign survivors after the table filter: {sorted(foreign.items())[:3]}")
    elif sum(res.survivors.values()) != truth.records:
        bad.append(f"decoded {sum(res.survivors.values())} records of {truth.records}")
    return bad
