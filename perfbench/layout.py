"""Read a bucketed table's committed layout from outside the engine: the
newest manifest and the parquet footers of the files it lists."""

from __future__ import annotations

import glob
import json
import os

import pyarrow.parquet as pq

MANIFEST_GLOB = "_gmie_manifest-v*.json"


def manifest(table: str) -> dict:
    paths = glob.glob(os.path.join(table, MANIFEST_GLOB))
    newest = max(paths, key=lambda p: int(p.rsplit("-v", 1)[1][: -len(".json")]))
    with open(newest, encoding="utf-8") as fh:
        return json.load(fh)


def live_files(m: dict) -> list[str]:
    return sorted(f for files in m["buckets"].values() for f in files)


def file_rows(table: str, rel: str) -> int:
    return pq.ParquetFile(os.path.join(table, rel)).metadata.num_rows


def footprint(table: str) -> dict[str, int]:
    """Live files, rows and bytes of the committed table."""
    files = live_files(manifest(table))
    return {
        "files": len(files),
        "rows": sum(file_rows(table, f) for f in files),
        "bytes": sum(os.path.getsize(os.path.join(table, f)) for f in files),
    }


class MergeDiff:
    """Rows and bytes a merge rewrote, from the manifest before and after it.

    Call ``before`` ahead of the merge (the replaced files are deleted when
    it commits) and ``after`` once it returned.
    """

    def __init__(self, table: str):
        self.table = table
        self._rows: dict[str, int] = {}

    def before(self) -> None:
        self._live = set(live_files(manifest(self.table)))
        for f in self._live - self._rows.keys():
            self._rows[f] = file_rows(self.table, f)

    def after(self) -> dict[str, int]:
        now = set(live_files(manifest(self.table)))
        replaced, written = self._live - now, now - self._live
        return {
            "rows_rewritten": sum(self._rows[f] for f in replaced),
            "bytes_written": sum(
                os.path.getsize(os.path.join(self.table, f)) for f in written
            ),
            "live_files": len(now),
        }
