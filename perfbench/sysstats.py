"""Storage and memory accounting read from the file system and /proc.

Storage is counted per inode: the engine hard-links freshly written
parquet files into changelog versions and tables (``ManagedTable.append``
/ ``overwrite`` and ``Changelog.record_linked``), so a plain ``du`` of
the warehouse would count those bytes twice.
"""

from __future__ import annotations

import json
import os


def tree_bytes(root: str) -> int:
    """Bytes under ``root``, each inode counted once."""
    seen: set[tuple[int, int]] = set()
    size = 0
    for dirpath, _dirs, names in os.walk(root):
        for name in names:
            st = os.lstat(os.path.join(dirpath, name))
            key = (st.st_dev, st.st_ino)
            if key not in seen:
                seen.add(key)
                size += st.st_size
    return size


def _children(pid: int) -> list[int]:
    out = []
    for task in os.listdir(f"/proc/{pid}/task"):
        try:
            with open(f"/proc/{pid}/task/{task}/children") as f:
                out += [int(c) for c in f.read().split()]
        except OSError:
            pass
    return out


def process_tree() -> list[int]:
    """This process and all its descendants: for the engine, the Python
    process, its JVM and the JVM's Python workers."""
    todo, seen = [os.getpid()], []
    while todo:
        p = todo.pop()
        seen.append(p)
        try:
            todo += _children(p)
        except OSError:
            pass
    return seen


def _status_kib(pid: int, field: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(field + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mib(pids: list[int]) -> float:
    """Sum of the processes' peak resident set sizes (``VmHWM``), MiB."""
    return sum(_status_kib(p, "VmHWM") for p in pids) / 1024.0


def cpu_seconds(pids: list[int]) -> float:
    """User plus system CPU time of the live processes in ``pids``, s."""
    tick = os.sysconf("SC_CLK_TCK")
    total = 0
    for p in pids:
        try:
            with open(f"/proc/{p}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += int(fields[11]) + int(fields[12])  # utime, stime
    return total / tick


def storage_metrics(warehouse: str) -> dict[str, float]:
    """Changelog state at run end: versions summed over every table,
    and bytes under the changelog directories (per inode)."""
    versions = 0
    size = 0
    for schema in os.listdir(warehouse):
        sdir = os.path.join(warehouse, schema)
        for entry in os.listdir(sdir):
            path = os.path.join(sdir, entry)
            if entry.endswith(".__meta.json"):
                with open(path) as f:
                    versions += json.load(f)["version"]
            elif entry.endswith(".__changelog"):
                size += tree_bytes(path)
    return {"streaming.changelog_versions": versions, "streaming.changelog_bytes": size}
