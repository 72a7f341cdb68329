"""Record the tiny event log that test_ledger.py pins the parser against.

    python3 perfbench/testdata/record_eventlog.py

Runs four small calls on local[2] with the event log on, and writes
eventlog.jsonl (the events the parser reads, trimmed to the fields it
uses) and spans.json next to this file:

- tiny.scan: one aggregation job, job group set;
- tiny.python: a mapInArrow job, so the Python SQL metrics appear;
- tiny.thread: a job launched from another thread, which does not carry
  the caller's job group and is charged by time;
- a job outside every span, charged to tiny.untagged.
"""

from __future__ import annotations

import json
import sys
import tempfile
import threading
from dataclasses import asdict
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE.parent))

from harness import Recorder  # noqa: E402
from ledger import PY_METRICS, read_event_log  # noqa: E402


def _identity(batches):
    for b in batches:
        yield b


def _trim(e: dict) -> dict | None:
    kind = e["Event"]
    group = {k: v for k, v in (e.get("Properties") or {}).items()
             if k == "spark.jobGroup.id"}
    if kind == "SparkListenerJobStart":
        return {"Event": kind, "Job ID": e["Job ID"],
                "Submission Time": e["Submission Time"],
                "Stage IDs": e["Stage IDs"], "Properties": group}
    if kind == "SparkListenerTaskEnd":
        accs = [a for a in e["Task Info"].get("Accumulables", [])
                if a.get("Name") in PY_METRICS]
        return {"Event": kind, "Stage ID": e["Stage ID"],
                "Task Info": {"Accumulables": accs},
                "Task Metrics": e["Task Metrics"]}
    return None


def main() -> None:
    from pyspark.sql import SparkSession

    with tempfile.TemporaryDirectory() as d:
        spark = (
            SparkSession.builder.master("local[2]")
            .config("spark.ui.enabled", "false")
            .config("spark.sql.shuffle.partitions", "2")
            .config("spark.sql.adaptive.enabled", "false")
            .config("spark.eventLog.enabled", "true")
            .config("spark.eventLog.compress", "false")
            .config("spark.eventLog.rolling.enabled", "false")
            .config("spark.eventLog.dir", Path(d).as_uri())
            .getOrCreate()
        )
        rec = Recorder("tiny", spark, tag_jobs=True)
        with rec.span("scan"):
            spark.range(0, 1000, numPartitions=2).selectExpr("sum(id)").collect()
        with rec.span("python"):
            spark.range(0, 1000, numPartitions=2).mapInArrow(_identity, "id long").collect()
        with rec.span("thread"):
            t = threading.Thread(
                target=lambda: spark.range(0, 10, numPartitions=1).collect())
            t.start()
            t.join()
        spark.range(0, 5, numPartitions=1).collect()
        spark.stop()
        events = [x for x in map(_trim, read_event_log(Path(d))) if x]
    with open(HERE / "eventlog.jsonl", "w") as f:
        for e in events:
            f.write(json.dumps(e) + "\n")
    (HERE / "spans.json").write_text(json.dumps([asdict(s) for s in rec.spans], indent=1))


if __name__ == "__main__":
    main()
