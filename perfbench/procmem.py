"""Peak resident memory of the Spark JVM and its Python workers, read from
/proc: no sampler thread, no psutil.

``reset`` writes 5 to each process's ``clear_refs``, which sets its VmHWM
(peak resident set) back to the current VmRSS; ``peak_mb`` sums VmHWM over
the same process tree after the operation.
"""

from __future__ import annotations

import os


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue  # exited while listing
        # field 4 (ppid) follows the parenthesised command name
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def process_tree(root_pid: int) -> list[int]:
    """``root_pid`` and all its descendants (the JVM, the pyspark daemon and
    the Python workers it forks)."""
    kids = _children_map()
    out, todo = [], [root_pid]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def alive(pid: int) -> bool:
    """True while ``pid`` runs; an exited (zombie) process counts as ended."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def reset(root_pid: int) -> bool:
    """Reset the peak of every process in the tree; False if the kernel
    refused (the peak then runs from process start)."""
    ok = True
    for pid in process_tree(root_pid):
        try:
            with open(f"/proc/{pid}/clear_refs", "w") as f:
                f.write("5")
        except OSError:
            ok = False
    return ok


def peak_mb(root_pid: int) -> float:
    total_kb = 0
    for pid in process_tree(root_pid):
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024.0
