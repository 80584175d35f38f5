"""Measure file-delta incremental validation at the scaling-corpus size.

Story being measured (the Iceberg append pattern): a 64x600000 corpus is
fully validated once; an append adds ~10% more rows as NEW FILES inside four
existing clean partitions (unique doc_ids, same distribution); the
incremental validator then scans ONLY the added files and merges the stored
mergeable state. Reports wall time + scanned rows for both runs and asserts
the mode split (4 delta partitions, 60 skipped).

Run AFTER scripts/bench_scaling.py has generated the corpus:
    python scripts/bench_incremental.py
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SRC = os.path.join(REPO, ".data", "scale_corpus_p64_r600000")
DST = os.path.join(REPO, ".data", "inc_corpus")
DELTA_SRC_PARTS = [65, 70, 75, 80]  # all clean-role (pid % 5 == 0)
DELTA_ROWS = 60000  # 10% of 600000


def hardlink_copy() -> None:
    if os.path.exists(DST):
        shutil.rmtree(DST)
    # cp -al: instant hardlink tree — appends only ADD files, existing file
    # inodes are never written, so the source corpus stays pristine
    subprocess.run(["cp", "-al", SRC, DST], check=True)
    # drop any manifest state that came along
    for sub in ("_manifest",):
        p = os.path.join(DST, "sequences", sub)
        if os.path.exists(p):
            shutil.rmtree(p)


def run_cli(label: str) -> dict:
    t0 = time.time()
    out = subprocess.run(
        [
            "spark-submit",
            "--master", "local[16]",
            "--driver-memory", "48g",
            "--conf", "spark.driver.extraJavaOptions=-Xms48g",
            os.path.join(REPO, "lk_data_test_spark", "cli.py"),
            "--data-dir", DST,
            "--parts", "64",
            "--rows-per-part", "600000",
            "--cores", "16",
            "--incremental-stats",
        ],
        capture_output=True, text=True, cwd=REPO, timeout=3600,
    )
    wall = round(time.time() - t0, 1)
    if out.returncode != 0:
        print(out.stderr[-4000:], file=sys.stderr)
        raise SystemExit(f"{label} failed")
    last = [ln for ln in out.stdout.strip().splitlines() if ln.startswith("{")][-1]
    r = json.loads(last)
    r["wall_sec_incl_jvm"] = wall
    print(f"{label}: {json.dumps(r)[:600]}", file=sys.stderr)
    return r


def append_delta() -> None:
    from pyspark.sql import functions as F

    from lk_data_test_spark.datagen import GenConfig, sequences_df
    from lk_data_test_spark.session import get_spark

    spark = get_spark("inc-delta-gen", cores=32)
    cfg = GenConfig(n_parts=max(DELTA_SRC_PARTS) + 1, rows_per_part=DELTA_ROWS)
    # generate clean-role partitions 65/70/75/80 (unique doc_ids D0065-* ...)
    # and land their rows in EXISTING clean partitions 0/5/10/15: new files,
    # new rows, same distribution — the pure append case
    (
        sequences_df(spark, cfg, part_ids=DELTA_SRC_PARTS)
        .withColumn("part_id", F.col("part_id") - 65)
        .write.mode("append")
        .partitionBy("part_id")
        .parquet(os.path.join(DST, "sequences"))
    )
    spark.stop()


def main() -> int:
    hardlink_copy()
    first = run_cli("run1 (first sight: all full)")
    append_delta()
    second = run_cli("run2 (10% append in 4 partitions)")

    modes2 = second["modes"]
    n_delta = sum(1 for m in modes2.values() if m == "delta")
    n_skip = sum(1 for m in modes2.values() if m == "skip")
    assert n_delta == 4 and n_skip == 60, (n_delta, n_skip)
    # the clean partitions that received the append must stay passing, and
    # the overall failing set (the generator's role-injected defects) must
    # be unchanged by the append
    for key in (
        "failed_partitions",
        "drift_failed_partitions",
        "referential_failed_partitions",
        "uniqueness_failed_partitions",
        "token_bounds_failed_partitions",
    ):
        assert set(second.get(key, [])) == set(first.get(key, [])), key
        assert not set(second.get(key, [])) & {0, 5, 10, 15}, key

    summary = {
        "first_full_elapsed_sec": first["elapsed_sec"],
        "first_scanned_rows": first["scanned_rows"],
        "delta_elapsed_sec": second["elapsed_sec"],
        "delta_scanned_rows": second["scanned_rows"],
        "delta_partitions": n_delta,
        "skipped_partitions": n_skip,
        "speedup": round(first["elapsed_sec"] / second["elapsed_sec"], 1),
    }
    print(json.dumps(summary))
    return 0


if __name__ == "__main__":
    sys.exit(main())
