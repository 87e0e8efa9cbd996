"""Storage counters read from outside the program, off the warehouse's
files: what each commit wrote, what it inherited by hardlink, and what
the store holds per live row.

The layout read here is the warehouse's documented one:
``{root}/{table}/_CURRENT`` names the live ``v_*`` version dir, data
tables are partitioned into ``_bucket=N`` dirs, and the sync history is
an append-only parquet dir.
"""

from __future__ import annotations

import os

import pyarrow.parquet as pq

BUCKET_PREFIX = "_bucket="
HISTORY_LOG = "sync_history_log"


def current_version_dir(root: str, table: str) -> str | None:
    ptr = os.path.join(root, table, "_CURRENT")
    if not os.path.exists(ptr):
        return None
    with open(ptr) as f:
        return os.path.join(root, table, f.read().strip())


def inode_sizes(root: str) -> dict[tuple[int, int], int]:
    """Every regular file under ``root`` by (device, inode) → size;
    hardlinks collapse to one entry."""
    out = {}
    for dirpath, _, files in os.walk(root):
        for fn in files:
            st = os.lstat(os.path.join(dirpath, fn))
            out[(st.st_dev, st.st_ino)] = st.st_size
    return out


def bucket_files(vdir: str) -> dict[str, dict[int, str]]:
    """bucket dir name → {inode: path} of its parquet files."""
    out: dict[str, dict[int, str]] = {}
    for entry in os.listdir(vdir):
        if not entry.startswith(BUCKET_PREFIX):
            continue
        bdir = os.path.join(vdir, entry)
        out[entry] = {
            os.lstat(os.path.join(bdir, fn)).st_ino: os.path.join(bdir, fn)
            for fn in os.listdir(bdir)
            if fn.endswith(".parquet")
        }
    return out


class StorageProbe:
    """Snapshots one data table and the whole store after each commit
    and derives per-commit counters from consecutive snapshots."""

    def __init__(self, root: str, table: str):
        self.root = root
        self.table = table
        self.inodes = inode_sizes(root)
        vdir = current_version_dir(root, table)
        self.buckets = bucket_files(vdir) if vdir else {}
        self.commits: list[dict] = []

    def after_commit(self, rows_merged: int, input_bytes: int) -> dict:
        inodes = inode_sizes(self.root)
        new_bytes = sum(size for key, size in inodes.items() if key not in self.inodes)
        vdir = current_version_dir(self.root, self.table)
        buckets = bucket_files(vdir)
        touched = [b for b, files in buckets.items() if files.keys() != self.buckets.get(b, {}).keys()]
        old_inodes = {ino for files in self.buckets.values() for ino in files}
        rewritten = sum(
            pq.ParquetFile(path).metadata.num_rows
            for files in buckets.values()
            for ino, path in files.items()
            if ino not in old_inodes
        )
        commit = {
            "buckets_touched_frac": len(touched) / max(len(buckets), 1),
            "rows_rewritten_per_row_merged": rewritten / max(rows_merged, 1),
            "bytes_written": new_bytes,
            "bytes_written_per_input_byte": new_bytes / max(input_bytes, 1),
            "files_per_version": sum(len(f) for f in buckets.values()),
        }
        self.commits.append(commit)
        self.inodes, self.buckets = inodes, buckets
        return commit


def store_summary(root: str, tables: list[str]) -> dict:
    """Whole-store figures at the end of a run."""
    live_rows = 0
    for table in tables:
        vdir = current_version_dir(root, table)
        for files in bucket_files(vdir).values():
            live_rows += sum(pq.ParquetFile(p).metadata.num_rows for p in files.values())
    versions = [
        d for d in os.listdir(os.path.join(root, tables[0])) if d.startswith("v_")
    ]
    history_dir = os.path.join(root, HISTORY_LOG)
    store_bytes = sum(inode_sizes(root).values())
    return {
        "store_bytes": store_bytes,
        "live_rows": live_rows,
        "store_bytes_per_row": store_bytes / max(live_rows, 1),
        "versions_retained": len(versions),
        "history_log_files": sum(
            1 for f in os.listdir(history_dir) if f.endswith(".parquet")
        ) if os.path.isdir(history_dir) else 0,
    }
