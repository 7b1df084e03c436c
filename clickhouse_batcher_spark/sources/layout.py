"""The package's one partition-sizing rule.

Every write that picks its own partition count (an engine flush's Arrow
table, the parquet sink's ``write_table`` files, the graph's directed
edges) sizes it here, so output files land near one target size: fewer,
larger files keep a 100 TB scan from turning into task-scheduling
overhead and footer reads.
"""

from __future__ import annotations

DEFAULT_TARGET_FILE_BYTES = 128 * 1024 * 1024


def partitions_for(nbytes: int) -> int:
    """The package's partition-size rule: one partition (so one output
    file) per ``DEFAULT_TARGET_FILE_BYTES`` of data, and at least one."""
    return max(1, int(nbytes) // DEFAULT_TARGET_FILE_BYTES)
