"""Retention enforcement: expire fine-grained history, keep the coarse tiers.

The north-star capability (BASELINE.json: "rollup, downsample, and
RETENTION engine ... cascading through 1m/1h/1d retention tiers"): the
compressed per-turn segments are the biggest bytes and age out first;
the 1m continuous aggregates age out later; the 1h/1d rollups and the
latest tier are tiny and kept forever. There is no reference analog —
the contest engine never deletes (`…/TSDBEngineImpl.java` has no delete
path); this module exists because a 100 TB production deployment cannot
keep per-turn blocks forever.

Mechanics (the Iceberg drop-partition model, two phases):

1. **Logical expiry is metadata-only.** Every retained store is
   partitioned by `time_chunk`, and a chunk is expired by committing a
   snapshot without its files (`SnapshotTable.drop_partitions`) — no
   data file is read or rewritten, so expiring a year of history over
   10^12 turns is one O(#manifest-entries) commit per table.
2. **Physical reclaim is `vacuum`**, deleting data files no snapshot
   references (with a grace window for in-flight writers).

Interplay guarantees, each pinned by tests/test_retention.py:

- **The coarse cascade survives fine-grain expiry.** The pipeline's
  1h/1d rebuild preserves previously-materialized coarse rows older
  than the current 1m floor (RollupPipeline._cascade), so a 1d point
  whose 1m inputs were expired keeps its original full-day value — the
  continuous-aggregate retention semantic (TimescaleDB's documented
  behavior for `drop_chunks` + continuous aggregates).
- **Incremental runs don't resurrect expired chunks.** The checkpoint
  still marks them done under their content fingerprint, so a re-run
  over unchanged raw input skips them; only actually-new data touches
  the store.
- **The latest tier is never expired**: a conversation idle since
  before the horizon must still answer `executeLatestQuery` (the
  reference's MapIndex.getLast has no horizon either).
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import dataclass


_STATE_FILE = "retention.json"


def read_retention_floor_us(pipeline_root: str) -> int | None:
    """Oldest microsecond the 1m tier is still contracted to hold, or
    None when retention has never been applied. The incremental
    cascade never recomputes a coarse window that starts below this
    floor, so those windows keep the values materialized before their
    1m inputs expired (see RollupPipeline._cascade_tier); absent a floor
    no window is frozen, so late data backfilled into old buckets is
    always picked up on tables that never expired anything."""
    try:
        with open(os.path.join(pipeline_root, _STATE_FILE)) as f:
            v = json.load(f).get("tier_1m_floor_us")
        return int(v) if v is not None else None
    except (FileNotFoundError, json.JSONDecodeError):
        return None


def _advance_retention_floor_us(pipeline_root: str, floor_us: int) -> None:
    path = os.path.join(pipeline_root, _STATE_FILE)
    cur = read_retention_floor_us(pipeline_root)
    if cur is not None and cur >= floor_us:
        return
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump({"tier_1m_floor_us": int(floor_us)}, f)
    os.replace(tmp, path)  # atomic: readers see old or new, never partial


@dataclass(frozen=True)
class RetentionPolicy:
    """Age horizons in MICROSECONDS relative to `now_us`; None = keep
    forever. `tier_1m_keep_us` governs both the conv-grain and the
    rate-grain 1m tiers (they expire together — same grain, same cost
    profile)."""

    segments_keep_us: int | None = None
    tier_1m_keep_us: int | None = None


def expired_chunk_pred(keep_us: int, now_us: int, chunk_us: int):
    """A chunk c covers [c*chunk_us, (c+1)*chunk_us): expired iff its
    END is at or before the horizon — a chunk with ANY in-horizon data
    is kept whole (partition-granular retention never splits files)."""
    horizon = now_us - keep_us
    return lambda c: (int(c) + 1) * chunk_us <= horizon


# policy field -> stores it expires
_POLICY_TABLES = {
    "segments_keep_us": ("segments",),
    "tier_1m_keep_us": ("tier_conv_1m", "tier_rate_1m"),
}


def apply_retention(pipeline, policy: RetentionPolicy,
                    now_us: int | None = None, vacuum: bool = True,
                    vacuum_grace_s: float = 3600.0) -> dict:
    """Enforce `policy` on the pipeline's stores. Idempotent: a second
    run at the same `now_us` drops nothing. Every expiry is recorded in
    the lineage log (job="retention") with the dropped row/byte counts
    from the manifest — the per-partition metrics rows the north rule
    asks of every tier write apply to tier *deletes* too."""
    now_us = int(time.time() * 1e6) if now_us is None else int(now_us)
    chunk_us = pipeline.chunk_us
    # l0 delta segments (engine l0_append flushes) carry no partition
    # metadata — a retention drop over the base table would leave their
    # expired rows alive and un-expirable. Compact first.
    if pipeline.table("segments_l0").current().files:
        raise ValueError(
            "store has un-compacted l0 delta segments: run "
            "engine.compact() before applying retention (partition "
            "drops only see the base segment layout)")
    # The engine's committed aggregate/downsample paths serve interior
    # buckets SOLELY from the 1m tier (routed_aggregate/_downsample):
    # expiring 1m chunks while their segments are still retained would
    # make those queries silently return partial (edge-only) results over
    # data that still exists. Refuse the inconsistent policy outright
    # (ADVICE r03): the 1m tier must live at least as long as segments.
    if policy.tier_1m_keep_us is not None and (
            policy.segments_keep_us is None
            or policy.tier_1m_keep_us < policy.segments_keep_us):
        raise ValueError(
            "tier_1m_keep_us must be >= segments_keep_us (and segments "
            "must not be kept forever while the 1m tier expires): the "
            "committed query paths answer interior buckets from the 1m "
            "tier, so expiring it before the segments would silently "
            f"truncate results over retained data. Got tier_1m_keep_us="
            f"{policy.tier_1m_keep_us}, segments_keep_us="
            f"{policy.segments_keep_us}.")
    out: dict[str, dict] = {}
    for field, tables in _POLICY_TABLES.items():
        keep_us = getattr(policy, field)
        if keep_us is None:
            continue
        pred = expired_chunk_pred(int(keep_us), now_us, chunk_us)
        for name in tables:
            table = pipeline.table(name)
            snap, dropped = table.drop_partitions(
                "time_chunk", pred,
                meta={"retention_now_us": now_us, "keep_us": int(keep_us)})
            stats = {
                "chunks_dropped": len({f["partition"]["time_chunk"]
                                       for f in dropped}),
                "files_dropped": len(dropped),
                "rows_dropped": sum(f["rows"] for f in dropped),
                "bytes_dropped": sum(f["bytes"] for f in dropped),
            }
            if dropped:
                pipeline.lineage.record(
                    job="retention", phase="drop_partitions", table=name,
                    snapshot_id=snap.snapshot_id, now_us=now_us,
                    keep_us=int(keep_us), **stats)
                if name == "tier_conv_1m":
                    # first kept chunk start = the floor the cascade must
                    # freeze coarse buckets below from now on
                    kept = [f.get("partition", {}).get("time_chunk")
                            for f in snap.files]
                    kept = [int(p) for p in kept if p is not None]
                    # fallback when the drop removed EVERY 1m chunk: the
                    # floor must still land on a chunk boundary (round the
                    # horizon UP to the next chunk start, ADVICE r03) —
                    # a mid-partition floor would put the cascade cutover
                    # inside a coarse-tier partition, and a later backfill
                    # rewriting that partition with only windows >= cutover
                    # would delete the frozen rows sharing it.
                    floor_us = (min(kept) * chunk_us if kept
                                else -(-(now_us - int(keep_us)) // chunk_us)
                                * chunk_us)
                    _advance_retention_floor_us(pipeline.root, floor_us)
            if vacuum:
                stats["vacuum"] = table.vacuum(grace_s=vacuum_grace_s)
            out[name] = stats
    return out
