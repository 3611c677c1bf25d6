"""Probe the Kafka environment gate once per round (VERDICT r13
stretch #8): the Kafka source/producer pair (S1/S4) activates only
when a broker + the spark-sql-kafka jar are reachable. It is an
honest clean-skip path when DNS is dead — this probe records the
state per round so the moment the gate opens, the standing skips are
converted to real tests the same round instead of silently staying
stale. Prints one JSON line for PERF.md.

Run: python tools/env_gates.py
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    from flink_user_behavior_analysis_spark.session import get_spark
    from flink_user_behavior_analysis_spark.sources.readers import (
        kafka_available,
    )

    spark = get_spark(app="env-gates")
    kafka = bool(kafka_available(spark))
    spark.stop()
    print(json.dumps({
        "probe": "env_gates",
        "kafka_available": kafka,
        "action": ("convert the matching pytest skips to live tests"
                   if kafka else "no change: the gate is still closed"),
    }))


if __name__ == "__main__":
    main()
