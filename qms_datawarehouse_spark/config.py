"""Engine settings.

The sync semantics a caller can choose. The reference's other config
keys (src/config.py: batch size, sync interval, source map) are not
settings here: Spark's partitioned scan owns batching, the scheduler
takes its interval as an argument, and callers pass sources and the
warehouse root directly.
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass
class Settings:
    """Runtime configuration for the engine."""

    # Incremental-sync semantics: the reference uses a strict `$gt`
    # high-water-mark predicate (src/services/etl.py:210-211), which
    # silently drops rows that commit later with ts == checkpoint.
    # "gt" replicates that for parity; "ge_dedup" uses >= plus keyed
    # dedup on merge — the improvement documented in SURVEY.md T5.
    delta_mode: str = "gt"
