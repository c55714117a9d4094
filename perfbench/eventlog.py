"""Task metrics from a Spark event log, summed per job group.

The benchmark's traced session writes an uncompressed, non-rolling event
log (Spark 4 defaults to zstd-compressed logs), so every line is one
JSON listener event.  Stages take the job group of the job that
submitted them; tasks take their stage's group.
"""

from __future__ import annotations

import glob
import json
import os
from collections import defaultdict

GROUP = "spark.jobGroup.id"
FIELDS = ("run_ms", "gc_ms", "records_read", "bytes_written",
          "shuffle_bytes_written")


def by_group(log_dir: str) -> dict[str, dict[str, int]]:
    """``{job group: {field: total}}`` over every finished task."""
    files = [f for f in glob.glob(os.path.join(log_dir, "*"))
             if not f.endswith(".inprogress")]
    if len(files) != 1:
        raise RuntimeError(f"expected one finished event log in {log_dir}, "
                           f"found {len(files)}")
    stage_group: dict[int, str] = {}
    totals: dict[str, dict[str, int]] = defaultdict(
        lambda: dict.fromkeys(FIELDS, 0))
    with open(files[0]) as fh:
        for line in fh:
            # cheap prefilter: most lines are neither of the two events
            if '"SparkListenerStageSubmitted"' in line[:60]:
                ev = json.loads(line)
                props = ev.get("Properties") or {}
                stage_group[ev["Stage Info"]["Stage ID"]] = \
                    props.get(GROUP, "")
            elif '"SparkListenerTaskEnd"' in line[:60]:
                ev = json.loads(line)
                m = ev.get("Task Metrics")
                if not m:
                    continue
                t = totals[stage_group.get(ev["Stage ID"], "")]
                t["run_ms"] += m.get("Executor Run Time", 0)
                t["gc_ms"] += m.get("JVM GC Time", 0)
                t["records_read"] += \
                    m.get("Input Metrics", {}).get("Records Read", 0)
                t["bytes_written"] += \
                    m.get("Output Metrics", {}).get("Bytes Written", 0)
                t["shuffle_bytes_written"] += \
                    m.get("Shuffle Write Metrics", {}).get(
                        "Shuffle Bytes Written", 0)
    return dict(totals)
