"""Generate one workload's inputs as parquet, in a process of its own.

    python3 perfbench/gen.py --shape payload --rows 12000 --variants 4 --out DIR

writes ``DIR/v0`` .. ``DIR/v3`` and then ``DIR/_DONE``. Each variant's clip
table is the subset of ``datagen.clips_df(2 * rows)`` that the variant's
hash selects (about ``rows`` clips), so every variant is a
different sample of the same generator with the same planted violation
rates. The transcript dim keeps the selected clips' rows plus a seeded 1 %
of the rest as orphans; the drift baseline is built from the selected
clips outside the drift partitions. ``payload`` attaches the 50 ms PCM
payload; ``metadata`` has no ``bytes`` column at all.
"""

from __future__ import annotations

import argparse
import os

import common

FILES = 16  # parquet files per table: four input splits per core on 4 cores


def generate(spark, shape: str, rows: int, variant: int, out: str) -> None:
    from pyspark.sql import functions as F

    from data_check_spark import datagen
    from data_check_spark.operators.drift import make_baseline

    pool = datagen.clips_df(spark, 2 * rows, with_bytes=False).drop("bytes")
    picked = pool.filter(F.pmod(F.xxhash64("_gen_id", F.lit(variant)), F.lit(2)) == 0)
    picked = picked.localCheckpoint(eager=True)
    if shape == "payload":
        clips = datagen.attach_pcm_bytes(picked, cap_ms=common.BYTES_CAP_MS)
    else:
        clips = picked
    (clips.repartition(FILES, "_gen_id").drop("_gen_id", "_viol")
        .write.mode("overwrite").parquet(f"{out}/clips"))

    ids = picked.select("clip_id", F.lit(True).alias("_picked")).distinct()
    transcripts = (
        datagen.transcripts_df(spark, 2 * rows)
        .join(ids, "clip_id", "left")
        .filter(
            F.col("_picked").isNotNull()
            | (F.pmod(F.xxhash64("clip_id", F.lit(variant)), F.lit(100)) == 0)
        )
        .drop("_picked")
    )
    transcripts.repartition(4).write.mode("overwrite").parquet(f"{out}/transcripts")

    clean = picked.filter(~F.col("partition").isin(*sorted(datagen.DRIFT_PARTITIONS)))
    make_baseline(spark, clean, ["dur_ms", "sr_hz"]).write.mode("overwrite").parquet(
        f"{out}/baseline_stats"
    )


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--shape", choices=("payload", "metadata"), required=True)
    ap.add_argument("--rows", type=int, required=True)
    ap.add_argument("--variants", type=int, required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    common.ensure_repo_importable()
    spark = common.start_spark("perfbench-gen")
    try:
        for v in range(args.variants):
            generate(spark, args.shape, args.rows, v, f"{args.out}/v{v}")
            common.free_blocks(spark)
    finally:
        common.stop_spark(spark)
    with open(os.path.join(args.out, "_DONE"), "w") as f:
        f.write("ok\n")


if __name__ == "__main__":
    main()
