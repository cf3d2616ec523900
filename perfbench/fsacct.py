"""Filesystem accounting for lake tables, from directory listings taken
between passes (outside the timed calls).

These are near-exact counts, so they are reported as counts and ratios,
never as speed-ups.
"""

from __future__ import annotations

import json
import os

MANIFEST = "_mmanifest.json"
HISTORY = "_mmanifest_history"
DELETES = "_deletes"


def listing(table_dir: str) -> dict[str, int]:
    """Relative path -> size of every file under ``table_dir``."""
    out = {}
    for dirpath, _, files in os.walk(table_dir):
        for name in files:
            full = os.path.join(dirpath, name)
            out[os.path.relpath(full, table_dir)] = os.path.getsize(full)
    return out


def _hidden(rel: str) -> bool:
    return any(p.startswith(("_", ".")) for p in rel.split(os.sep))


def data_files(files: dict[str, int]) -> dict[str, int]:
    """Parquet data files (hidden ``_``/``.`` entries excluded)."""
    return {p: s for p, s in files.items() if p.endswith(".parquet") and not _hidden(p)}


def dv_files(files: dict[str, int]) -> dict[str, int]:
    """Position-delete files the merge-on-read writer stages."""
    return {
        p: s for p, s in files.items()
        if p.startswith(DELETES + os.sep) and p.endswith(".parquet")
    }


def written(files: dict[str, int]) -> dict[str, int]:
    """What a pass writes as table content: data plus delete files."""
    return {**data_files(files), **dv_files(files)}


class LakeLedger:
    """Tracks the written files of a set of tables across passes."""

    def __init__(self, table_dirs: list[str]):
        self.table_dirs = table_dirs
        self.last = self._snap()
        self.per_pass: list[dict] = []

    def _snap(self) -> dict[str, dict[str, int]]:
        return {d: listing(d) if os.path.isdir(d) else {} for d in self.table_dirs}

    def total_bytes(self) -> int:
        return sum(sum(files.values()) for files in self.last.values())

    def step(self) -> dict:
        """Account one pass: files created and removed since the last
        call.  Returns and records the pass's counts."""
        now = self._snap()
        created_bytes = added = removed = 0
        for d in self.table_dirs:
            before, after = written(self.last[d]), written(now[d])
            new = [p for p in after if p not in before]
            created_bytes += sum(after[p] for p in new)
            added += sum(1 for p in new if p in data_files(now[d]))
            removed += sum(
                1 for p in data_files(self.last[d]) if p not in data_files(now[d])
            )
        self.last = now
        row = {"bytes_written": created_bytes, "files_added": added,
               "files_removed": removed}
        self.per_pass.append(row)
        return row

    def table_state(self) -> list[dict]:
        """Per table: live data files, live delete files per the
        manifest, and retained manifest versions."""
        out = []
        for d in self.table_dirs:
            files = self.last[d]
            man_path = os.path.join(d, MANIFEST)
            dv_live = 0
            if os.path.exists(man_path):
                with open(man_path) as fh:
                    dv_live = len(json.load(fh).get("delete_files") or [])
            out.append({
                "live_files": len(data_files(files)),
                "dv_files_live": dv_live,
                "versions": sum(
                    1 for p in files
                    if p.startswith(HISTORY + os.sep) and p.endswith(".json")
                ),
            })
        return out
