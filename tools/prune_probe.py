#!/usr/bin/env python3
"""File-skipping probe: dynamic pruning x Bloom composition + census scale.

Two evidence rows for BASELINE.md:

1. composed skipping (DEPLOY's two layers measured together): events
   range-laid-out on user_id (64 files), a selective build side
   (15%-of-domain key band, sparse membership inside it). Four
   semantically identical left-semi plans are timed and row-checked:
     plain       exact semi join, full scan
     dfp         dynamic_pruned_join  (FILES skipped by build bounds)
     bloom       bloom_semi_join      (ROWS pruned post-scan)
     dfp+bloom   bounds-pruned read -> bloom semi join (both layers)
   Also reports the file-skip fraction so the combined skip rate is
   visible, not inferred.

2. inflated census (the distributed-prune evidence): the zone map is
   padded with N synthetic never-matching file entries (and N empty
   sibling data files so the os.walk census grows identically), then
   `prune_files` runs at N in {0, 50k, 200k}. The surviving list the
   driver collects stays constant-size while the map grows 4 orders
   of magnitude past the survivors — the per-file verdict rows are
   evaluated in executors and never reach the driver (contrast: the
   r10 form collected one wide stat row per mapped file).

Usage: python3 tools/prune_probe.py   (prints one JSON line)
"""

from __future__ import annotations

import json
import math
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from gcp_data_pipeline_fyp_spark.operators.bloomfilter import (  # noqa: E402
    bloom_semi_join,
)
from gcp_data_pipeline_fyp_spark.operators.zonemap import (  # noqa: E402
    ZONEMAP_DIR,
    build_zonemap,
    dynamic_pruned_join,
    prune_files,
    read_pruned,
)
from gcp_data_pipeline_fyp_spark.queries_util import load  # noqa: E402
from gcp_data_pipeline_fyp_spark.session import get_spark  # noqa: E402
from gcp_data_pipeline_fyp_spark.sources.tables import Warehouse  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
N_FILES = 64


def _timed(fn):
    t0 = time.perf_counter()
    out = fn()
    return round(time.perf_counter() - t0, 2), out


def main() -> None:
    spark = get_spark(
        app_name="prune-probe",
        cpus=int(os.environ.get("SPARK_GRAFT_CPUS", "32")),
    )
    root = f"/tmp/prune_probe_{spark.sparkContext.applicationId}"
    wh = Warehouse(spark, root)
    base = load(spark, SF_DIR, "events").select(
        "event_id", "user_id", "event_type", "value"
    )
    copies = int(os.environ.get("PRUNE_PROBE_COPIES", "1"))
    parts = [
        base.withColumn("event_id", F.col("event_id") + F.lit(i * 10_000_000))
        for i in range(copies)
    ]
    ev = parts[0]
    for p in parts[1:]:
        ev = ev.unionByName(p)
    wh.overwrite_range_layout(ev, "EVP", ["user_id"], n_files=N_FILES)
    build_zonemap(wh, "EVP", ["user_id"])

    d = ev.agg(F.min("user_id"), F.max("user_id")).first()
    lo = math.floor(d[0] + 0.30 * (d[1] - d[0]))
    hi = math.floor(d[0] + 0.45 * (d[1] - d[0]))
    # sparse membership INSIDE the band: bounds alone can't finish the
    # job (files pruned to the band, rows still 7x the matches) — the
    # regime where the bloom layer earns its keep on the survivors
    build = (
        ev.filter(F.col("user_id").between(lo, hi))
        .filter(F.col("user_id") % 7 == 0)
        .select("user_id")
        .distinct()
        .localCheckpoint(eager=True)
    )
    n_keys = build.count()

    results: dict = {
        "sf_dir": SF_DIR,
        "copies": copies,
        "n_files": N_FILES,
        "n_keys": n_keys,
    }

    surviving, total = prune_files(wh, "EVP", {"user_id": (lo, hi)})
    results["file_skip"] = {
        "surviving": len(surviving),
        "total": total,
        "fraction_read": round(len(surviving) / total, 3),
    }

    probe_full = wh.read("EVP")

    def plain():
        return (
            probe_full.join(
                build, probe_full["user_id"] == build["user_id"], "left_semi"
            ).count()
        )

    def dfp():
        return dynamic_pruned_join(
            wh, "EVP", "user_id", build, "user_id", how="left_semi"
        ).count()

    def bloom():
        return bloom_semi_join(
            probe_full, build, "user_id", "user_id", n_keys_hint=n_keys
        ).count()

    def composed():
        pruned = read_pruned(wh, "EVP", {"user_id": (lo, hi)})
        return bloom_semi_join(
            pruned, build, "user_id", "user_id", n_keys_hint=n_keys
        ).count()

    counts = set()
    for name, fn in (
        ("plain", plain),
        ("dfp", dfp),
        ("bloom", bloom),
        ("dfp_bloom", composed),
    ):
        sec, n = _timed(fn)
        counts.add(n)
        results[name] = {"sec": sec, "rows": n}
    results["row_equal"] = len(counts) == 1

    # ---- inflated census: synthetic never-matching files + map rows
    zp = os.path.join(wh.path("EVP"), ZONEMAP_DIR)
    census_rows = {}
    for n_fake in (0, 50_000, 200_000) if copies == 1 else ():
        fake_dir = os.path.join(wh.path("EVP"), f"fakepad_{n_fake}")
        if n_fake:
            os.makedirs(fake_dir, exist_ok=True)
            paths = [
                os.path.join(fake_dir, f"pad-{i:07d}.parquet")
                for i in range(n_fake)
            ]
            for p in paths:
                open(p, "w").close()
            fake_map = spark.createDataFrame(
                [(p,) for p in paths], "__file string"
            ).select(
                "__file",
                F.lit(0).cast("long").alias("n_rows"),
                F.lit(int(1e15)).alias("user_id__min"),
                F.lit(int(1e15) + 1).alias("user_id__max"),
                F.lit(0).cast("long").alias("user_id__nulls"),
            )
            fake_map.coalesce(4).write.mode("append").parquet(zp)
        sec, (surv, tot) = _timed(
            lambda: prune_files(wh, "EVP", {"user_id": (lo, hi)})
        )
        census_rows[str(n_fake)] = {
            "sec": sec,
            "census_files": tot,
            "collected_survivors": len(surv),
        }
    results["inflated_census"] = census_rows

    shutil.rmtree(root, ignore_errors=True)
    print(json.dumps(results))


if __name__ == "__main__":
    main()
