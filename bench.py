#!/usr/bin/env python
"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Output contract: stdout is a sequence of SMALL JSON lines — ≤20 query
timings per `{"bench_chunk": i, "of": n, "queries": {...}}` line, then
ONE compact final line {"metric", "value", "unit": "sec", "sf",
"run_id", "cpus", "counters_changed", stream/build scalars...} LAST,
every line under BENCH_LINE_MAX_BYTES. The full result, including each
stable key's job and stage counts, is appended to docs/bench_runs.jsonl.

Each query is forced through full execution with the noop sink (count()
would let Spark skip projections). Times exclude session startup.

Regression report: each timed run executes in its own Spark job group,
so the status tracker gives the exact number of jobs and stages it ran.
A key is stable when its two timed runs agree; a stable key whose
counts differ from the newest recorded run at the same sf and core
count is named on stderr and counted in ``counters_changed``. Each
artifact build leg is counted the same way, as key ``build_<name>``
over its last two cold builds. Wall times are published, not gated:
perfbench/ runs parent and change in pairs. Streaming micro-batch jobs
run under the stream's own group and are not counted; perfbench's
cdc_feed workload measures that layer.
"""

from __future__ import annotations

import json
import os
import sys
import time
import uuid

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pubsub2bq_spark.registry import all_queries  # noqa: E402
from pubsub2bq_spark.session import get_spark  # noqa: E402

# Headline set: one per operator family, weighted toward the ops that
# dominate real pipelines (scan→filter→join→agg, windows, dedup, ANN).
HEADLINE = [
    "tpch_q1",
    "tpch_q3",
    "tpch_q5",
    "tpch_q6",
    "tpch_q10",
    "tpch_q18",
    # Round-2 suite extensions (SURVEY §2.12): the heaviest of the new
    # TPC-H shapes + the corpus-hygiene composites.
    "tpch_q9",
    "tpch_q13",
    "tpch_q21",
    "pii_scrub",
    "corpus_filter",
    "sessionize",
    "multi_grain_rollup",
    "zorder_layout",
    "filter_pred",
    "groupby_agg",
    "join_inner",
    "join_broadcast",
    "join_asof",
    "count_distinct",
    "window_rank",
    "topk_per_group",
    "sort_limit",
    "latest_per_key",
    "tumbling_agg",
    "session_agg",
    "json_extract",
    "word_count",
    "text_dedup",
    "minhash_lsh",
    "simhash",
    "similarity_topk",
    "ann_lsh",
    "ann_ivf",
    "ann_ivf_kmeans",
    "ann_pq",
    # IVF-PQ (r10): residual product quantization inside IVF cells —
    # the FAISS-default serving combination.
    "ann_ivfpq",
    "multimodal_meta",
    "doc_fingerprint",
    "dedup_clusters",
    "skew_salted_agg",
    "bucketed_join",
    # Training-prep + ML suite (round 2, second half): chunking is the
    # heaviest map-only op, dup_passage the heaviest gram shuffle,
    # kmeans/pagerank the iterative archetypes.
    "doc_chunk",
    "dup_passage",
    "kmeans_lloyd",
    "pagerank",
    # Corpus-stats + graph/diff additions: entropy is the heaviest
    # per-doc aggregation, triangle_count the join-intensive graph op.
    "heavy_hitters",
    "token_entropy",
    "triangle_count",
    "snapshot_diff",
    # Round-2 late additions: incremental dedup is the steady-state
    # corpus-build op, graph_bfs the frontier-iterative archetype,
    # vocab/shuffle the tokenizer-prep passes, variant the semi-
    # structured path, count-min the mergeable-sketch path.
    "incremental_dedup",
    "variant_extract",
    "countmin_sketch",
    "bloom_membership",
    "graph_bfs",
    "vocab_coverage",
    "corpus_shuffle",
    "rag_retrieve",
    "recursive_cte",
    "markov_transitions",
    "canonical_dedup",
    "dataset_card",
    "stream_fanout",
    # North-star pipeline at table scale: spool → publish → validate →
    # project → sink, full streaming execution per run.
    "cdc_stream_events",
    # Round-4 additions: two-phase exact binning, 64-bit simhash +
    # Hamming-band pairs, Avro wire codec, JDBC snapshot leg, replay.
    "feature_binning",
    "simhash_pairs",
    "avro_validate",
    "jdbc_snapshot_union",
    "stream_replay",
    "bm25_topk",
    "hybrid_retrieve",
    "bpe_merges",
    "span_corruption",
    "transform_with_state",
    "kmeans_parallel_init",
    # Round-5 additions: LM-perplexity quality gate, SemDeDup pruning,
    # iterative BPE vocabulary training.
    "perplexity_filter",
    "semdedup",
    "bpe_train",
    "bpe_apply",
    # Round-6 additions: curriculum staging over the perplexity signal,
    # token-exact packing under the learned BPE vocab, cross-encoder-
    # style rerank over the hybrid retriever's candidates.
    "curriculum_order",
    "bpe_pack",
    "rerank_topk",
    # Hierarchical two-level IVF assignment (the corpus-scaled-k path).
    "ann_ivf_hier",
    # Round-8 additions: DSIR importance selection, CCNet paragraph
    # dedup with text rebuild, per-source boilerplate removal.
    "dsir_select",
    "paragraph_dedup",
    "boilerplate_remove",
    "embedding_pca",
    # Late round-8 additions: cross-cell SemDeDup recovery, token-n-gram
    # decontamination under the learned BPE vocab, the mixture×stage
    # training manifest, exact-substring repeat accounting, SFT chat
    # rendering with loss masks.
    "global_semdedup",
    "decontaminate",
    "mixture_curriculum",
    "substring_repeats",
    "chat_template",
    # DPO pair construction (one order-encoded aggregate) and directed
    # n-gram containment (rare-gram-blocked candidate pairs).
    "preference_pairs",
    "containment_dedup",
    # Embedding-space eval decontamination (directed cell-pair probe)
    # and the per-corpus-cell tokenizer-quality rollup.
    "semantic_decontaminate",
    "tokenizer_fertility",
    # Round-9 additions: the multimodal verbs now decode REAL PNG/WAV
    # payloads inside their kernels (stdlib codecs) — their cost is no
    # longer byte-length arithmetic, so they join the headline set.
    "image_resize",
    "audio_feature",
    "audio_resample",
    # Serve-from-disk IVF: build once (shared cache), persist partitioned
    # by cell, answer the probe query from the reloaded files.
    "ann_index_persist",
    # Image near-dup chain: real decode → aHash → banded Hamming pairs
    # (the image twin of simhash_pairs), plus frame-level audio features.
    "image_phash_pairs",
    "image_dedup_clusters",
    "audio_frames",
    # MMR re-rank (bounded greedy over the relevance pool) and the
    # zlib-compressibility pre-filter (pure scan, Arrow-batched).
    "mmr_diversify",
    "compression_ratio",
    # Winnowing passage-overlap detection (df-capped fingerprint join).
    "winnow_matches",
    # Interpolated Kneser-Ney bigram LM scoring (the KenLM standard).
    "kneser_ney_logprob",
    # Real AVI container parse, one row per decoded frame.
    "video_frames",
    # Round-11 additions: the three pair keys rewritten onto Arrow
    # kernels (Gram-product Jaccard, LSH-bucket cosine, bit-parallel
    # Levenshtein) join the gate so a kernel regression can't hide
    # outside the headline set.
    "ngram_jaccard",
    "embedding_dedup",
    "edit_distance_pairs",
    # Round-12 additions: the composed sketch→verify edit-distance
    # pipeline (LSH candidates → bit-parallel Levenshtein verify) and
    # the real stdlib baseline-JPEG decode path (Huffman + IDCT).
    "edit_verified",
    "jpeg_decode",
    # Round-13 additions: 4:2:0 chroma-subsampled color JPEG decode
    # (MCU-interleaved entropy decode + chroma upsample, the layout of
    # most real-world JPEGs) and Motion-JPEG video frames (per-frame
    # baseline-JPEG entropy decode inside the AVI container walk).
    "jpeg_subsampled",
    "video_frames_mjpeg",
    "audio_mulaw",
    "jpeg_progressive",
    "jpeg_progressive_color",
    # Round-13 late additions: IMA ADPCM (adaptive compressed audio,
    # full step-table recurrence), MS-RLE8 (the first INTER-FRAME
    # video codec: delta opcodes against a persistent canvas) and
    # SOF9 arithmetic JPEG (T.81 Annex D QM-coder + Annex F models —
    # the last JPEG entropy mode behind the gate).
    "audio_adpcm",
    "video_frames_rle",
    "jpeg_arith",
    "jpeg_lossless",
    # Animated GIF: LZW + sub-rectangle inter-frame compositing.
    "gif_frames",
    # FLAC: compressed lossless audio with real CRC/MD5 verification.
    "audio_flac",
    # TIFF: multi-strip early-change LZW (the scanned-document format).
    "tiff_decode",
    # QOI: the modern table-free lossless image format.
    "qoi_decode",
    # Hierarchical JPEG (T.81 Annex J): DHP/EXP pyramid with an SOF5
    # differential frame — the last Huffman JPEG mode.
    "jpeg_hier",
    # G.711 A-law: the second companding law (wFormatTag 6).
    "audio_alaw",
    # MPEG-1 Layer II: the first perceptual audio codec (r14).
    "audio_mp2",
    # Arithmetic progressive JPEG (SOF10): the last T.81 matrix cell.
    "jpeg_arith_progressive",
    # Arithmetic lossless JPEG (SOF11): the matrix is now complete.
    "jpeg_arith_lossless",
]


# ---------------------------------------------------------------------------
# Lossless bench record.
#
# A tail capture of stdout keeps only the LAST ~2000 characters, so one
# giant result line (126+ queries ≈ 3.5 KB) never survives whole:
#   * stdout is emitted as SMALL lines — ≤ BENCH_CHUNK_KEYS query timings
#     per `{"bench_chunk": i, ...}` line, and a compact scalar-totals line
#     LAST, every line bounded to BENCH_LINE_MAX_BYTES < the capture
#     window, so the tail always retains at least one parseable record;
#   * the COMPLETE result (job/stage counters included) is appended to
#     docs/bench_runs.jsonl keyed by a `run_id` also stamped on the
#     stdout lines.
# ---------------------------------------------------------------------------

BENCH_LINE_MAX_BYTES = 1900  # tail capture keeps ~2000 chars; stay under
BENCH_CHUNK_KEYS = 20
BENCH_RUNS_BASENAME = os.path.join("docs", "bench_runs.jsonl")
BENCH_RUNS_KEEP = 24  # newest runs kept in the jsonl (≈ several rounds)


def _bench_runs_path() -> str:
    return os.path.join(
        os.path.dirname(os.path.abspath(__file__)), BENCH_RUNS_BASENAME
    )


def _emit_lines(result: dict) -> list[str]:
    """Split the bench result into bounded stdout lines (pure function).

    Query timings go out in ≤ BENCH_CHUNK_KEYS-key `bench_chunk` lines;
    the final line carries every scalar field (metric/value/stream/build
    legs) plus run_id and chunk accounting — totals LAST so a tail
    capture always ends on a complete JSON record. Every line is
    asserted under BENCH_LINE_MAX_BYTES.
    """
    queries = result.get("queries", {})
    run_id = result.get("run_id", "")
    keys = list(queries)
    chunks = [
        keys[i : i + BENCH_CHUNK_KEYS]
        for i in range(0, len(keys), BENCH_CHUNK_KEYS)
    ]
    lines: list[str] = []
    for i, chunk in enumerate(chunks, 1):
        lines.append(
            json.dumps(
                {
                    "bench_chunk": i,
                    "of": len(chunks),
                    "run_id": run_id,
                    "queries": {k: queries[k] for k in chunk},
                },
                separators=(",", ":"),
            )
        )
    final = {k: v for k, v in result.items() if k != "queries"}
    final["n_queries"] = len(keys)
    final["queries_chunks"] = len(chunks)
    final["full_record"] = BENCH_RUNS_BASENAME
    lines.append(json.dumps(final, separators=(",", ":")))
    for ln in lines:
        if len(ln.encode()) > BENCH_LINE_MAX_BYTES:
            raise AssertionError(
                f"bench stdout line exceeds {BENCH_LINE_MAX_BYTES} bytes "
                f"({len(ln.encode())}): a tail capture would truncate "
                f"it — shrink BENCH_CHUNK_KEYS. Line head: {ln[:120]}"
            )
    return lines


def _record_full_run(result: dict) -> None:
    """Append the complete result to docs/bench_runs.jsonl (pruned)."""
    path = _bench_runs_path()
    rows: list[str] = []
    try:
        with open(path) as f:
            rows = [ln for ln in f.read().splitlines() if ln.strip()]
    except OSError:
        pass
    rows.append(json.dumps(result, separators=(",", ":")))
    rows = rows[-BENCH_RUNS_KEEP:]
    with open(path, "w") as f:
        f.write("\n".join(rows) + "\n")


def _full_runs() -> list[dict]:
    """Every parseable record in docs/bench_runs.jsonl, oldest first."""
    try:
        with open(_bench_runs_path()) as f:
            text = f.read()
    except OSError:
        return []
    runs = []
    for ln in text.splitlines():
        try:
            rec = json.loads(ln)
        except ValueError:
            continue
        if isinstance(rec, dict):
            runs.append(rec)
    return runs


def _load_full_run(run_id: str) -> dict | None:
    """Full bench record for run_id from docs/bench_runs.jsonl, if kept."""
    matches = [r for r in _full_runs() if r.get("run_id") == run_id]
    return matches[-1] if run_id and matches else None


# ---------------------------------------------------------------------------
# Job and stage counters.
# ---------------------------------------------------------------------------


def _counted(spark, label: str, fn) -> tuple[float, list[int]]:
    """Call fn(); return (wall seconds, [jobs, stages]).

    The call gets a job group of its own, so the status tracker's job
    ids for that group are exactly this call's jobs (stage ids are the
    union over those jobs, skipped stages included)."""
    sc = spark.sparkContext
    group = f"bench:{label}:{uuid.uuid4().hex}"
    sc.setJobGroup(group, label)
    try:
        t0 = time.perf_counter()
        fn()
        seconds = time.perf_counter() - t0
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    tracker = sc.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    stages: set[int] = set()
    for job in jobs:
        info = tracker.getJobInfo(job)
        if info is not None:
            stages.update(info.stageIds)
    return seconds, [len(jobs), len(stages)]


def run_counted(spark, registry: dict, key: str, sf_dir: str) -> tuple[float, list[int]]:
    """Run one key to completion; return (wall seconds, [jobs, stages]).
    Construction is timed and counted too: operators that do eager work
    while building (bucketed table writes, iterative fixpoints) must not
    get it excluded."""

    def run() -> None:
        df = registry[key].spark(spark, sf_dir)
        df.write.format("noop").mode("overwrite").save()

    return _counted(spark, key, run)


def stable_counters(
    first: dict[str, list[int]], second: dict[str, list[int]]
) -> tuple[dict[str, list[int]], list[str]]:
    """(counters of keys whose two runs agree, keys whose runs differ)."""
    stable = {k: v for k, v in first.items() if second.get(k) == v}
    return stable, sorted(k for k in first if k not in stable)


def counter_changes(
    counters: dict[str, list[int]], runs: list[dict], sf, cpus: int
) -> list[str]:
    """One line per stable key whose [jobs, stages] differ from the
    newest recorded run at the same sf and core count. Keys absent from
    that record (new, or unstable there) are not compared."""
    prior = next(
        (
            r
            for r in reversed(runs)
            if r.get("sf") == sf and r.get("cpus") == cpus and "counters" in r
        ),
        None,
    )
    if prior is None:
        return []
    was = prior["counters"]
    return [
        f"{key}: jobs {was[key][0]}→{now[0]}, stages {was[key][1]}→{now[1]} "
        f"(vs run {prior.get('run_id')})"
        for key, now in counters.items()
        if key in was and list(was[key]) != now
    ]


# ---------------------------------------------------------------------------
# Stream and artifact-build legs.
# ---------------------------------------------------------------------------


def _stream_throughput_legs(spark, sf_dir: str) -> dict:
    """The CDC pipeline under its processing-time trigger over the full
    spooled events table: one warm-up run, then three measured runs.
    Each figure takes its own min across the three (the busy-optimal
    run can carry a noisy tail). A failure never sinks the bench run
    but is named on stderr."""
    try:
        from pubsub2bq_spark.streaming.throughput import (
            measure_stream_throughput,
        )

        measure_stream_throughput(spark, sf_dir)  # warm
        runs = [measure_stream_throughput(spark, sf_dir) for _ in range(3)]
    except Exception as ex:
        print(
            f"bench: stream_throughput leg FAILED ({ex!r}) — "
            "figures absent from this capture",
            file=sys.stderr,
        )
        return {}
    m = min(runs, key=lambda r: r["busy_sec"])
    out = {
        "stream_throughput_rows": m["rows"],
        "stream_throughput_busy_sec": m["busy_sec"],
        "stream_throughput_rows_per_sec": m["rows_per_sec"],
    }
    for q in ("p50", "p95", "p99"):
        out[f"stream_throughput_batch_{q}_sec"] = min(
            r[f"batch_{q}_sec"] for r in runs
        )
    return out


# Artifact BUILD-cost legs: the registered keys are warm-path scans of
# artifacts built once per (session, sf), so a build regression would be
# invisible behind warm numbers. Each leg evicts EXACTLY its own artifact
# (dependencies stay warm, so image_phash_pairs times the band join, not
# a second decode pass) and times the cold rebuild, min-of-3
# evict-then-build. The builders are eager (materialize() inside
# session_artifact's build lambda), so the call duration IS the build
# cost, and its job group holds exactly the build's jobs.
ARTIFACT_BUILD_LEGS = (
    # (artifact cache key, module, build-trigger attribute)
    ("minhash_lsh_pairs", "pubsub2bq_spark.operators.llm_dedup", "minhash_lsh"),
    ("simhash_bits", "pubsub2bq_spark.operators.llm_dedup", "_sh_bits"),
    ("doc_nll", "pubsub2bq_spark.operators.llm_quality", "_doc_nll"),
    ("staged_nll", "pubsub2bq_spark.operators.llm_quality", "_staged_nll"),
    (
        "semdedup_quantizer",
        "pubsub2bq_spark.operators.llm_quality",
        "_quantizer_build",
    ),
    ("image_phash_table", "pubsub2bq_spark.operators.multimodal", "_phash_table"),
    (
        "image_phash_pairs",
        "pubsub2bq_spark.operators.multimodal",
        "image_phash_pairs",
    ),
    ("hybrid_fused", "pubsub2bq_spark.operators.retrieval", "_fused_candidates"),
    (
        "bpe_vocab_pieces",
        "pubsub2bq_spark.operators.training_prep",
        "cached_vocab_pieces",
    ),
)


def _artifact_build_legs(
    spark, sf_dir: str
) -> tuple[dict[str, float], list[dict[str, list[int]]]]:
    """Cold build cost per shared session artifact, min-of-3 (each
    measurement evicts the artifact first), published as
    ``build_<name>_sec`` fields, plus the [jobs, stages] of the last two
    builds as two ``{"build_<name>": counts}`` maps for stable_counters.
    A failing leg never sinks the bench run but is named on stderr."""
    import importlib

    from pubsub2bq_spark.tables import drop_session_artifact

    out: dict[str, float] = {}
    last_two: list[dict[str, list[int]]] = [{}, {}]
    for name, module, attr in ARTIFACT_BUILD_LEGS:
        try:
            fn = getattr(importlib.import_module(module), attr)
            runs = []
            for _ in range(3):
                drop_session_artifact(spark, name, sf_dir)
                runs.append(_counted(spark, f"build_{name}", lambda: fn(spark, sf_dir)))
            out[f"build_{name}_sec"] = round(min(t for t, _ in runs), 3)
            for counts, (_, c) in zip(last_two, runs[1:]):
                counts[f"build_{name}"] = c
        except Exception as ex:
            print(
                f"bench: build leg {name} FAILED ({ex!r}) — "
                "absent from this capture",
                file=sys.stderr,
            )
    return out, last_two


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    sf = float(sf) if sf.replace(".", "", 1).isdigit() else sf
    spark = get_spark("pubsub2bq_spark-bench")
    cpus = spark.sparkContext.defaultParallelism
    registry = all_queries()

    # Warm-up pass (untimed): first executions are dominated by JIT +
    # codegen compilation and by session-artifact builds, not by the
    # queries. Steady state is what a long-running deployment sees.
    for key in HEADLINE:
        run_counted(spark, registry, key, sf_dir)

    # Settle between phases: the warm-up ends with the streaming pipeline,
    # whose checkpoint/temp-dir teardown otherwise bleeds into the first
    # timed query.
    spark.sql("select 1").collect()
    time.sleep(2)

    # min over two INTERLEAVED rounds: single-JVM timings show multi-second
    # noise spikes, and a spike window is wide enough to cover two
    # back-to-back runs of the same query. Running the full suite twice
    # decorrelates the spikes from the queries they land on; the same two
    # runs decide which keys' job/stage counts are stable.
    rounds = [
        {key: run_counted(spark, registry, key, sf_dir) for key in HEADLINE}
        for _ in range(2)
    ]
    timings = {
        key: round(min(r[key][0] for r in rounds), 3) for key in HEADLINE
    }

    stream_metrics = _stream_throughput_legs(spark, sf_dir)
    # Artifact build-cost legs run LAST: every headline query must see
    # the warm artifacts (the registered keys' steady-state), and the
    # evict-rebuild cycles must not perturb the timed rounds.
    build_metrics, build_counts = _artifact_build_legs(spark, sf_dir)

    counters, unstable = stable_counters(
        *(
            {**{key: r[key][1] for key in HEADLINE}, **b}
            for r, b in zip(rounds, build_counts)
        )
    )
    if unstable:
        print(
            f"bench: unstable job/stage counts, not compared: "
            f"{', '.join(unstable)}",
            file=sys.stderr,
        )
    changed = counter_changes(counters, _full_runs(), sf, cpus)
    for line in changed:
        print(f"bench: counters changed {line}", file=sys.stderr)

    result = {
        "metric": "headline_queries_total_wall",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "run_id": f"{int(time.time())}.{os.getpid()}",
        "queries": timings,
        "sf": sf,
        "cpus": cpus,
        "counters_changed": len(changed),
        **stream_metrics,
        **build_metrics,
    }
    # The complete result (counters included) goes to the jsonl; stdout
    # carries chunked query lines with the compact scalar line LAST.
    _record_full_run({**result, "counters": counters})
    for line in _emit_lines(result):
        print(line)
    spark.stop()


if __name__ == "__main__":
    main()
