#!/usr/bin/env python
"""Memory-ceiling rehearsal: run the dedup/ANN/packing scale paths at 30x
with a deliberately SMALL heap to exercise the axis the data-volume probes
can't — executor memory pressure. Spark's contract under pressure is
spill-to-disk, not OOM; this probe measures whether our operators honor it
(bounded per-task state, no whole-relation driver collects) by recording
per-query shuffle/aggregate spill bytes from the UI REST API and asserting
completion.

Usage: python scripts/memory_ceiling_probe.py [heap] [cores] [shuffle_parts]
       [sf_dir] [q1,q2,...]

Defaults: 4g heap, 32 cores, 32 shuffle partitions, .scratch/sf3 (the 30x
fixture from make_sf1.py --factor 30), the operators whose shuffles
dominate the 30x probe. Fewer shuffle partitions = bigger per-task state =
more pressure on the SPILLABLE (tracked) region; fewer cores = more heap
per concurrent task for the UNTRACKED allocations (parquet column batches,
codegen row buffers) that cannot spill. Prints a markdown table and ONE
trailing JSON line.
"""

from __future__ import annotations

import json
import os
import sys
import time
import urllib.request

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)
os.environ["PYTHONPATH"] = _REPO + os.pathsep + os.environ.get("PYTHONPATH", "")

DEFAULT_QUERIES = [
    "dedup_exact",
    "dedup_minhash_lsh",
    "dedup_components_lsh",
    "dedup_embedding_cosine",
    "pack_sequences",
    "text_tfidf_topterm",
]


def _stage_totals(ui: str, app_id: str) -> dict[str, int]:
    """Cumulative spill/GC-relevant metrics across all completed stages."""
    with urllib.request.urlopen(f"{ui}/api/v1/applications/{app_id}/stages") as r:
        stages = json.load(r)
    out = {"memoryBytesSpilled": 0, "diskBytesSpilled": 0, "shuffleWriteBytes": 0}
    for st in stages:
        out["memoryBytesSpilled"] += st.get("memoryBytesSpilled", 0)
        out["diskBytesSpilled"] += st.get("diskBytesSpilled", 0)
        out["shuffleWriteBytes"] += st.get("shuffleWriteBytes", 0)
    return out


def main() -> int:
    heap = sys.argv[1] if len(sys.argv) > 1 else "4g"
    cores = sys.argv[2] if len(sys.argv) > 2 else "32"
    shuffle_parts = sys.argv[3] if len(sys.argv) > 3 else "32"
    sf_dir = sys.argv[4] if len(sys.argv) > 4 else os.path.join(_REPO, ".scratch/sf3")
    names = sys.argv[5].split(",") if len(sys.argv) > 5 else DEFAULT_QUERIES

    from stupidb_spark.session import get_session

    # The engine conf with the heap and shuffle width under test, and the UI
    # on (its REST API reports the spill metrics). local[32] like the bench:
    # 32 concurrent tasks sharing the small unified region is exactly the
    # pressure a packed 100 TB executor sees.
    spark = get_session(
        f"memory-ceiling-{heap}-{cores}c",
        cpus=cores,
        overrides={
            "spark.driver.memory": heap,
            "spark.ui.enabled": "true",
            "spark.sql.shuffle.partitions": shuffle_parts,
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    ui = spark.sparkContext.uiWebUrl
    app_id = spark.sparkContext.applicationId
    jvm_max = spark.sparkContext._jvm.java.lang.Runtime.getRuntime().maxMemory()

    from stupidb_spark.queryset import QUERIES

    results = {}
    prev = _stage_totals(ui, app_id)
    for name in names:
        t0 = time.perf_counter()
        QUERIES[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
        secs = time.perf_counter() - t0
        cur = _stage_totals(ui, app_id)
        results[name] = {
            "sec": round(secs, 2),
            "mem_spill_mb": round(
                (cur["memoryBytesSpilled"] - prev["memoryBytesSpilled"]) / 2**20, 1
            ),
            "disk_spill_mb": round(
                (cur["diskBytesSpilled"] - prev["diskBytesSpilled"]) / 2**20, 1
            ),
            "shuffle_write_mb": round(
                (cur["shuffleWriteBytes"] - prev["shuffleWriteBytes"]) / 2**20, 1
            ),
        }
        prev = cur
        r = results[name]
        print(
            f"| {name} | {r['sec']} | {r['shuffle_write_mb']} | "
            f"{r['mem_spill_mb']} | {r['disk_spill_mb']} |",
            flush=True,
        )
    payload = {
        "metric": "memory_ceiling_probe",
        "heap": heap,
        "cores": int(cores),
        "shuffle_partitions": int(shuffle_parts),
        "jvm_max_mb": round(jvm_max / 2**20),
        "sf_dir": sf_dir,
        "queries": results,
        "ok": True,
    }
    spark.stop()
    print(json.dumps(payload, separators=(",", ":")), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
