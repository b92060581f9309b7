"""Read a Delta table's ``_delta_log`` and data files directly.

The benchmark derives its byte and file counts from the committed log
rather than from engine internals, so the numbers mean the same thing
whichever code path wrote the commit.
"""

from __future__ import annotations

import json
import os


def _log(table: str) -> str:
    return os.path.join(table, "_delta_log")


def commit_versions(table: str) -> list[int]:
    return sorted(
        int(f[:-5]) for f in os.listdir(_log(table)) if f.endswith(".json") and f[:-5].isdigit()
    )


def latest_version(table: str) -> int:
    return commit_versions(table)[-1]


def actions(table: str, version: int) -> list[dict]:
    with open(os.path.join(_log(table), f"{version:020d}.json")) as f:
        return [json.loads(line) for line in f if line.strip()]


def adds(table: str, version: int) -> list[dict]:
    return [a["add"] for a in actions(table, version) if "add" in a]


def add_rows(add: dict) -> int:
    return json.loads(add.get("stats") or "{}").get("numRecords", 0)


def added_bytes(table: str, first: int, last: int) -> int:
    """Data-file bytes added by commits ``first..last`` inclusive."""
    return sum(a["size"] for v in range(first, last + 1) for a in adds(table, v))


def last_checkpoint(table: str) -> int:
    path = os.path.join(_log(table), "_last_checkpoint")
    if not os.path.exists(path):
        return -1
    with open(path) as f:
        return int(json.load(f)["version"])


def mean_commit_bytes(table: str) -> float:
    sizes = [os.path.getsize(os.path.join(_log(table), f"{v:020d}.json")) for v in commit_versions(table)]
    return sum(sizes) / len(sizes)


def data_files(table: str) -> int:
    """Parquet files on disk outside ``_delta_log``."""
    n = 0
    for d, dirs, files in os.walk(table):
        dirs[:] = [x for x in dirs if x != "_delta_log"]
        n += sum(f.endswith(".parquet") for f in files)
    return n
