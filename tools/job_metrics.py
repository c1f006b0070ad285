"""`_parse_bytes`: the byte count of a Spark SQL metric string.

perfbench/run.py imports it from this module (`tools.job_metrics`), so it
lives here. Per-row shuffle, spill, job, stage and task counts come from
bench.py's row mode (`python bench.py ROW [ROW...]`), which reads them
through perfbench.tracing.SparkProbe.
"""

from __future__ import annotations

import re

_UNIT = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40}


def _parse_bytes(s: str) -> int:
    """SQL metric strings look like 'total (min, med, max...)' or plain
    '216.0 B' / '1.2 MiB'; take the FIRST size token."""
    m = re.search(r"([\d.]+)\s*(B|KiB|MiB|GiB|TiB)", s)
    return int(float(m.group(1)) * _UNIT[m.group(2)]) if m else 0
