"""spark-submit entry point for ASR training-data preparation.

The audio counterpart of jobs/curate_job.py: take a raw clip table
(``clip_id, bytes, transcript``), run the decode-side curation stages, and
emit the window plan an ASR training loader consumes — WITHOUT ever
rewriting the audio payload (every output is (clip, offset) spans plus
token indices; the 100 TB byte column is read exactly once, by the decode
pass, and never shuffled).

    python tools/package_pyfiles.py                 # → dist/data_check_spark.zip
    spark-submit --master <cluster> --driver-memory <heap> \\
        --py-files dist/data_check_spark.zip \\
        jobs/asr_prep_job.py \\
        --input  <clips parquet> \\
        --output-dir <out> \\
        --window-samples 480000 [--dedup] [--frame-samples 64]

Pipeline:

1. optional gain-invariant acoustic dedup (``--dedup``: quantized
   frame-energy fingerprint → exact duplicate groups → first-wins keep;
   re-encoded/re-gained copies of one recording collapse);
2. voiced-segment extraction (framed int16 energy VAD) — ONE decode pass;
   clips yielding no voiced span (undecodable, silent) become REJECT rows
   with a reason, never silent drops;
3. fixed-size training windows tiled over voiced spans (short tails
   dropped), proportional transcript→audio word alignment, and per-window
   transcript token slices (first/last token index per window);
4. writes ``windows/`` (labeled window plan), ``tokens/`` (word spans),
   ``rejects/`` under --output-dir, plus one JSON manifest line on stdout
   (and manifest.json for local paths). Exits 2 if the written window
   plan's read-back row count disagrees with what was computed.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True, help="clips parquet dir")
    ap.add_argument("--output-dir", required=True)
    ap.add_argument("--id-col", default="clip_id")
    ap.add_argument("--bytes-col", default="bytes")
    ap.add_argument("--text-col", default="transcript")
    ap.add_argument("--frame-samples", type=int, default=64,
                    help="VAD frame size in samples")
    ap.add_argument("--min-energy", type=int, default=1,
                    help="per-frame voiced threshold (sum of squared samples)")
    ap.add_argument("--window-samples", type=int, default=16000,
                    help="training window length in samples")
    ap.add_argument("--min-samples", type=int, default=None,
                    help="shortest surviving tail window (default W//10)")
    ap.add_argument("--dedup", action="store_true",
                    help="drop gain-invariant acoustic duplicates (first id wins)")
    args = ap.parse_args(argv)
    if args.min_samples is None:
        min_samples = max(1, args.window_samples // 10)
    else:
        min_samples = args.min_samples
    if min_samples < 1:
        ap.error("--min-samples must be >= 1")

    from pyspark.sql import functions as F

    from data_check_spark.operators import audio as _audio
    from data_check_spark.session import get_spark

    spark = get_spark(app_name="data_check_asr_prep")
    spark.sparkContext.setLogLevel("WARN")
    id_col, bytes_col, text_col = args.id_col, args.bytes_col, args.text_col

    t0 = time.monotonic()
    clips = spark.read.parquet(args.input)
    n_in = clips.count()

    n_dup = 0
    if args.dedup:
        # NULL fingerprints (undecodable payloads) are NOT duplicates of
        # each other — they stay in and surface as rejects at the VAD stage
        fps = _audio.audio_fingerprint(
            clips.select(id_col, bytes_col),
            bytes_col=bytes_col, frame_samples=args.frame_samples,
            keep=[id_col],
        ).filter(F.col("fingerprint").isNotNull())
        keep = fps.groupBy("fingerprint").agg(F.min(id_col).alias("_keep"))
        losers = (
            fps.join(keep, "fingerprint")
            .filter(F.col(id_col) != F.col("_keep"))
            .select(id_col)
        )
        clips = clips.join(losers, id_col, "left_anti")
        n_kept = clips.count()
        n_dup = n_in - n_kept

    # ONE decode pass; the narrow span frame is consumed by windows,
    # alignment, window labeling and the reject anti-join
    segs = _audio.voiced_segments(
        clips.select(id_col, bytes_col),
        bytes_col=bytes_col,
        frame_samples=args.frame_samples,
        min_energy=args.min_energy,
        keep=[id_col],
    ).localCheckpoint()

    voiced_ids = segs.select(id_col).distinct()
    rejects = (
        clips.join(voiced_ids, id_col, "left_anti")
        .select(id_col, F.lit("no_voiced_audio").alias("reject_reason"))
        .localCheckpoint()
    )

    windows = _audio.training_windows(
        segs, window_samples=args.window_samples,
        min_samples=min_samples, id_col=id_col,
    )
    tokens = _audio.transcript_alignment(
        segs, clips.select(id_col, text_col),
        id_col=id_col, text_col=text_col,
    ).localCheckpoint()
    labeled = _audio.window_transcripts(windows, tokens, id_col=id_col).localCheckpoint()

    out = args.output_dir
    labeled.write.mode("overwrite").parquet(f"{out}/windows")
    tokens.write.mode("overwrite").parquet(f"{out}/tokens")
    rejects.write.mode("overwrite").parquet(f"{out}/rejects")

    n_windows = labeled.count()
    n_windows_written = spark.read.parquet(f"{out}/windows").count()
    manifest = {
        "clips_in": n_in,
        "acoustic_dups_dropped": n_dup,
        "rejects": rejects.count(),
        "windows": n_windows,
        "silent_windows": labeled.filter("n_tokens = 0").count(),
        "tokens_placed": tokens.count(),
        "window_samples": args.window_samples,
        "wall_sec": round(time.monotonic() - t0, 1),
    }
    print(json.dumps(manifest))
    if not out.startswith(("s3://", "hdfs://", "gs://")):
        os.makedirs(out, exist_ok=True)
        with open(f"{out}/manifest.json", "w") as f:
            json.dump(manifest, f, indent=2)
    if n_windows_written != n_windows:
        print(f"VERIFY FAILED: wrote {n_windows_written} windows, computed {n_windows}",
              file=sys.stderr)
        return 2
    return 0


if __name__ == "__main__":
    sys.exit(main())
