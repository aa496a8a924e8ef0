#!/usr/bin/env python
"""Dump .explain("formatted") for a round's touched queries to
plans/r<N>/<key>_<suffix>.txt, so plan claims can be checked against
the files (for the codec keys the claim is that the physical plan is
UNCHANGED — the optimization lives inside the Arrow kernels).

    python scripts/dump_plans.py --round N [suffix] [key1,key2,...]

suffix defaults to "after"; keys default to the codec-kernel set.
Reads the tables at $SPARK_GRAFT_SF_DIR (default: sf0.1, as bench.py).
"""

from __future__ import annotations

import argparse
import contextlib
import io
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pubsub2bq_spark.registry import all_queries  # noqa: E402
from pubsub2bq_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DEFAULT_KEYS = [
    "jpeg_decode", "jpeg_subsampled", "jpeg_progressive",
    "jpeg_progressive_color", "jpeg_lossless", "jpeg_hier",
    "video_frames_mjpeg", "audio_mp2", "jpeg_arith",
    "jpeg_arith_progressive", "jpeg_arith_lossless", "tiff_decode",
    "gif_frames", "audio_adpcm", "qoi_decode", "audio_flac",
]


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--round", type=int, required=True, help="round number N")
    ap.add_argument("suffix", nargs="?", default="after")
    ap.add_argument("keys", nargs="?", help="comma-separated registry keys")
    args = ap.parse_args()
    keys = args.keys.split(",") if args.keys else DEFAULT_KEYS
    out_dir = os.path.join(REPO, "plans", f"r{args.round}")
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark(f"plans-r{args.round}")
    reg = all_queries()
    for key in keys:
        df = reg[key].spark(spark, SF_DIR)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        plan = buf.getvalue()
        with open(os.path.join(out_dir, f"{key}_{args.suffix}.txt"), "w") as f:
            f.write(plan)
        print(f"{key}_{args.suffix}: {len(plan)} bytes")
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
