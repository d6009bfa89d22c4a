"""Timestamp-checkpoint failover glue — the reference's signature feature.

DTS "DStore" clusters can fail over to a brand-new Kafka cluster where the
same data sits at DIFFERENT offsets. The reference therefore checkpoints
``"offset@timestamp"`` per partition and, on restore after a cluster switch,
re-seeks BY TIMESTAMP instead of trusting the stored offset
(`util/DtsUtil.java:15-25`, `FlinkDtsKafkaConsumer.java:356-381`,
`fetcher/ClusterSwitchListener.java:32-50` — which by design re-reads, i.e.
duplicates are allowed but gaps are not, README.md:26-28).

Spark equivalents:
  * progress tracking: a StreamingQueryListener records per-partition
    (offset, max event ts) each micro-batch — our "offset@timestamp" state;
  * cluster-switch detection: compare Kafka cluster id between runs (the
    reference throws from a ConsumerInterceptor; we detect at restart);
  * recovery: restart the query with ``startingOffsetsByTimestamp`` built
    from the recorded timestamps, with a fresh checkpoint dir.
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import dataclass, field


def compose_checkpoint(offset: int, ts_sec: int) -> str:
    """``"offset@timestamp"`` — `util/DtsUtil.java:15-18`."""
    return f"{offset}@{ts_sec}"


def parse_checkpoint(cp: str) -> tuple[int, int]:
    """Inverse; tolerates a bare offset (timestamp −1) like the reference's
    restore path (`FlinkDtsKafkaConsumer.java:363-381`)."""
    if "@" not in cp:
        return int(cp), -1
    off, ts = cp.split("@", 1)
    return int(off), int(ts)


@dataclass
class DtsProgressTracker:
    """Persists per-partition (offset, event-ts) progress as JSON, giving a
    timestamp to re-seek from when offsets stop being trustworthy.

    Used via ``foreachBatch`` (batch path) or a StreamingQueryListener's
    ``onQueryProgress`` (streaming path): call :meth:`update` with the
    batch's max (partition → offset, ts), then :meth:`save`.

    Ordering contract: call :meth:`save` only after every sink step of the
    batch has succeeded. The saved timestamp is where a re-seek after a
    DStore cluster switch starts; saved before a sink step that then
    fails, it already covers the failed batch, and the re-seek by
    timestamp skips that batch for good.
    """

    state_path: str
    cluster_id: str | None = None
    partitions: dict[int, tuple[int, int]] = field(default_factory=dict)

    def update(self, partition: int, offset: int, ts_sec: int) -> None:
        cur = self.partitions.get(partition)
        if cur is None or offset > cur[0]:
            self.partitions[partition] = (offset, ts_sec)

    def update_from_batch(self, rows) -> None:
        """rows: iterable of (kafka_partition, max_offset, max_ts_epoch_sec)."""
        for part, off, ts in rows:
            if part is not None and off is not None:
                self.update(int(part), int(off), int(ts) if ts is not None else -1)

    def save(self) -> None:
        tmp = f"{self.state_path}.tmp.{os.getpid()}.{time.monotonic_ns()}"
        with open(tmp, "w") as fh:
            json.dump(
                {
                    "cluster_id": self.cluster_id,
                    "partitions": {
                        str(p): compose_checkpoint(off, ts)
                        for p, (off, ts) in sorted(self.partitions.items())
                    },
                },
                fh,
            )
        os.replace(tmp, self.state_path)  # atomic: readers never see partial state

    @classmethod
    def load(cls, state_path: str) -> "DtsProgressTracker":
        tracker = cls(state_path=state_path)
        if os.path.exists(state_path):
            with open(state_path) as fh:
                data = json.load(fh)
            tracker.cluster_id = data.get("cluster_id")
            tracker.partitions = {
                int(p): parse_checkpoint(cp) for p, cp in data.get("partitions", {}).items()
            }
        return tracker

    # -- recovery ----------------------------------------------------------

    def cluster_switched(self, current_cluster_id: str | None) -> bool:
        """ClusterSwitchListener.onUpdate parity (`:32-50`): a changed Kafka
        cluster id means stored offsets are meaningless."""
        return (
            self.cluster_id is not None
            and current_cluster_id is not None
            and current_cluster_id != self.cluster_id
        )

    def min_safe_timestamp(self) -> int | None:
        """Most conservative re-seek point: the minimum recorded event ts
        across partitions (re-reads some data; never skips any — the
        at-least-once contract the reference documents)."""
        ts = [t for _, t in self.partitions.values() if t >= 0]
        return min(ts) if ts else None

    def starting_offsets_by_timestamp(self, topic: str) -> str | None:
        """Spark `startingOffsetsByTimestamp` JSON for recovery-by-timestamp
        (per-partition; milliseconds)."""
        if not self.partitions:
            return None
        return json.dumps(
            {topic: {str(p): ts * 1000 for p, (_, ts) in self.partitions.items() if ts >= 0}}
        )
