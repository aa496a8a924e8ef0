"""Run one benchmark workload in a fresh process and write its raw result.

``run.py`` starts this process once per measurement (and once more per
traced leg); it reads the JSON this writes to ``<root>/result.json``.
The engine is driven only through its public entry points:
``session.get_spark``, ``registry.all_queries()``,
``tables.clear_session_artifacts``, ``operators.cdc_pipeline.events_cdc_spec``
and ``streaming.cdc.CdcPipeline.run_processing_time``.

    python3 perfbench/child.py --workload W --seed N --seconds S \
        --root DIR --cores C
"""

from __future__ import annotations

import argparse
import glob
import hashlib
import json
import os
import random
import subprocess
import sys
import time

T_PROCESS = time.time()

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.getcwd()
sys.path[:0] = [REPO, os.path.join(REPO, "tests"), HERE]

import metrics as M  # noqa: E402

# The curation build mix and the scale factor of its staged inputs. Its
# kernels are driver- and scheduler-bound: a warm pass costs about the
# same at sf0.001 and sf0.01, but reaches its plateau sooner at sf0.001.
# semdedup (69 jobs, the costliest build) is left out to keep a run
# short enough for a warm-up that reaches the plateau; ann_ivf_kmeans
# (52 jobs) and image_dedup_clusters (32) stay as the scheduler-bound
# builds.
CURATION_SF = 0.001
CURATION_KEYS = ["minhash_lsh", "ann_ivf_kmeans", "image_dedup_clusters",
                 "edit_distance_pairs", "jpeg_decode"]
# Pass times after JVM start at sf0.001 on 4 cores read about 35, 20, 15,
# 14, 15, 15 s with semdedup in the mix: the third pass is on the
# plateau. So the warm-up is the cold pass plus WARM_PASSES more, and the
# window runs whole passes (about 10 s each), at least MIN_TIMED_PASSES,
# so every key has as many samples as any other.
WARM_PASSES = 1
MIN_TIMED_PASSES = 2
PASS_SECONDS = 10

# Offered events/s: the pipeline is about 50 % busy on 4 cores, so a
# starved run (CPU steal) slows batches without tipping into a backlog.
CDC_RATE = 2000.0
CDC_SEGMENTS_PER_S = 10.0
# The window opens CDC_SETTLE_S after the pipeline first keeps up with
# the feed (after the cold first batches and the backlog behind them),
# or after CDC_MAX_WARMUP_S if it never does.
CDC_SETTLE_S = 2.0
CDC_MAX_WARMUP_S = 40.0

OUT_DIR = os.path.join(REPO, ".perfbench_out")


def start_session(cores: int):
    from pubsub2bq_spark.session import get_spark

    spark = get_spark("perfbench", master=f"local[{cores}]")
    return spark, time.time() - T_PROCESS


def _cpu_times() -> tuple[int, int]:
    """(steal, total) CPU time in ticks over all CPUs, from /proc/stat."""
    with open("/proc/stat") as fh:
        ticks = [int(x) for x in fh.readline().split()[1:]]
    return ticks[7], sum(ticks)


def _steal_share(before: tuple[int, int], after: tuple[int, int]) -> float:
    """Share of CPU time the hypervisor gave to other guests in between."""
    return (after[0] - before[0]) / max(1, after[1] - before[1])


def _progress(query) -> list[dict]:
    out = []
    for pr in query.recentProgress:
        out.append(pr if isinstance(pr, dict) else json.loads(pr.json))
    return out


def _data_batches(progress: list[dict]) -> list[tuple[float, float]]:
    """(start, end) epoch seconds of the progress reports that ran a batch."""
    out = []
    for pr in progress:
        d = pr.get("durationMs", {})
        if "addBatch" in d:
            start = _epoch(pr["timestamp"])
            out.append((start, start + d.get("triggerExecution", 0) / 1000.0))
    return out


def _epoch(iso: str) -> float:
    from datetime import datetime, timezone

    return datetime.strptime(iso.rstrip("Z"), "%Y-%m-%dT%H:%M:%S.%f").replace(
        tzinfo=timezone.utc).timestamp()


# ---- cdc_feed ---------------------------------------------------------------

def _read_spool(spool: str) -> tuple[dict, dict, list]:
    """Expected deliveries from the segments the generator wrote.

    Returns (created_ms by identity, sink fields by identity, segments as
    (created_s, [identities])). Other-table rows are left out: the include
    list must drop them."""
    created, fields, segments = {}, {}, []
    for path in sorted(glob.glob(os.path.join(spool, "seg-*.json"))):
        idents, ts_ms = [], None
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                ts_ms = ev["ts_ms"]
                src = ev["source"]
                if (src["db"], src["table"]) != ("analytics", "events"):
                    continue
                row = ev["after"] if ev["op"] != "d" else ev["before"]
                ident = (row["event_id"], row["value"], "true" if ev["op"] == "d" else "false")
                created[ident] = ts_ms
                fields[ident] = (row["user_id"], row["event_type"])
                idents.append(ident)
        segments.append((ts_ms / 1000.0, idents))
    return created, fields, segments


def _read_sink(sink: str) -> tuple[list, dict]:
    """Sink rows as (identity, fields, region) plus visibility by identity:
    (time the file appeared, batch id). A delivered file is renamed into
    the sink dir, so its ctime is the moment its rows became visible."""
    import pyarrow.parquet as pq

    rows, visible = [], {}
    for path in sorted(glob.glob(os.path.join(sink, "batch*.parquet"))):
        st = os.stat(path)
        seen = max(st.st_ctime, st.st_mtime)
        batch = int(os.path.basename(path)[len("batch"):].split("-")[0])
        t = pq.read_table(path).to_pydict()
        for i in range(len(t["event_id"])):
            ident = (t["event_id"][i], t["value"][i], t["__deleted"][i])
            rows.append((ident, (t["user_id"][i], t["event_type"][i]), t["ingest_region"][i]))
            visible.setdefault(ident, (seen, batch))
    return rows, visible


def cdc_feed(spark, root: str, seed: int, seconds: float, start_s: float) -> dict:
    import pyarrow.parquet as pq
    from pubsub2bq_spark.operators.cdc_pipeline import events_cdc_spec
    from pubsub2bq_spark.streaming.cdc import CdcPipeline

    t_stage = time.time()
    spec = events_cdc_spec(os.path.join(root, "cdc"))
    os.makedirs(spec.spool_dir)
    pipeline = CdcPipeline(spark, spec)
    staging_s = time.time() - t_stage

    t0 = time.time() + 0.2
    stats_path = os.path.join(root, "gen_stats.json")
    gen = subprocess.Popen([
        sys.executable, os.path.join(HERE, "cdcgen.py"), "--spool", spec.spool_dir,
        "--stats", stats_path, "--seed", str(seed), "--rate", str(CDC_RATE),
        "--segments-per-s", str(CDC_SEGMENTS_PER_S), "--start", repr(t0),
        "--stop", repr(t0 + CDC_MAX_WARMUP_S + seconds)], stdin=subprocess.PIPE, text=True)
    try:
        t_query = time.time()
        query = pipeline.run_processing_time()
        caught_up = None
        while caught_up is None and time.time() < t0 + CDC_MAX_WARMUP_S:
            time.sleep(0.25)
            caught_up = M.catch_up_end(_data_batches(_progress(query)))
        opens = time.time() if caught_up is None else caught_up + CDC_SETTLE_S
        window = (opens, opens + seconds)
        gen.stdin.write(f"{window[1]!r}\n")
        gen.stdin.close()
        time.sleep(max(0.0, window[0] - time.time()))
        cpu_open = _cpu_times()
        time.sleep(max(0.0, window[1] - time.time()))
        cpu_close = _cpu_times()
        gen.wait(timeout=60)
        query.processAllAvailable()
        query.stop()
    finally:
        if gen.poll() is None:
            gen.kill()
            gen.wait()
    progress = _progress(query)
    with open(stats_path) as fh:
        gen_stats = json.load(fh)

    created, fields, segments = _read_spool(spec.spool_dir)
    rows, visible = _read_sink(spec.sink_dir)
    dlq_rows = sum(pq.read_metadata(p).num_rows
                   for p in glob.glob(os.path.join(spec.dlq_dir, "*.parquet")))

    # Correctness: every included event exactly once, with its own fields,
    # a NULL sink-only column, nothing else in the sink and an empty DLQ.
    counts: dict = {}
    wrong_fields = non_null_region = 0
    for ident, flds, region in rows:
        counts[ident] = counts.get(ident, 0) + 1
        wrong_fields += ident in fields and flds != fields[ident]
        non_null_region += region is not None
    missing = [i for i in created if i not in counts]
    dup = [i for i, c in counts.items() if c > 1 and i in created]
    unexpected = [i for i in counts if i not in created]
    problems = [f"{len(bad)} {what}, e.g. {bad[0]}" for bad, what in (
        (missing, "events never delivered"),
        (dup, "events delivered more than once"),
        (unexpected, "sink rows that match no included event"),
    ) if bad]
    problems += [f"{n} {what}" for n, what in (
        (wrong_fields, "sink rows with wrong user_id/event_type"),
        (non_null_region, "sink rows with a non-NULL ingest_region"),
        (dlq_rows, "DLQ rows"),
    ) if n]
    failed = len(missing) + len(dup) + len(unexpected) + wrong_fields + non_null_region + dlq_rows

    fresh = M.freshness_join(created, visible, window)
    done: dict[int, list] = {}
    for t, batch in visible.values():
        done.setdefault(batch, []).append(t)
    delivered = M.delivered_rate([(max(ts), len(ts)) for ts in done.values()], window)
    never = (float("inf"), None)
    backlog = sum(
        1 for c, ids in segments
        if ids and c < window[1] and max(visible.get(i, never)[0] for i in ids) > window[1])

    batches = []
    for pr in progress:
        d = pr.get("durationMs", {})
        start = _epoch(pr["timestamp"])
        batches.append({
            "batch": pr["batchId"], "start": start,
            "end": start + d.get("triggerExecution", 0) / 1000.0,
            # Sink rows, not numInputRows: the source is scanned once per
            # action on the batch, so its row count runs about double.
            "rows": len(done.get(pr["batchId"], ())), "durationMs": d,
        })
    # Set-up work: from the query start until the pipeline first kept up,
    # i.e. through the cold batches and the backlog that built behind them.
    return {
        "setup": {"session.start_s": start_s, "staging_s": staging_s,
                  "warmup_s": (caught_up or window[0]) - t_query},
        "window": window,
        "attempted": len(created), "failed": failed, "problems": problems,
        "freshness_ms": fresh["freshness_ms"], "freshness_batches": fresh["batches"],
        "delivered_per_s": delivered["rate"], "delivered_batches": delivered["batches"],
        "backlog_segments_end": backlog,
        "gen_late_ms": gen_stats["late_ms"], "batches": batches,
        "sink_files": len(glob.glob(os.path.join(spec.sink_dir, "batch*.parquet"))),
        "dlq_rows": dlq_rows, "steal_share": _steal_share(cpu_open, cpu_close),
    }


# ---- curation_build ---------------------------------------------------------

def _oracle(key: str, sql: str, sf_dir: str):
    """The key's DuckDB oracle result, cached by (oracle SQL, input bytes):
    both are fixed for a checkout, so later runs skip the DuckDB work."""
    import pandas as pd
    from oracle_harness import duckdb_conn

    h = hashlib.sha256(sql.encode())
    for path in sorted(glob.glob(os.path.join(sf_dir, "*.parquet"))):
        with open(path, "rb") as fh:
            h.update(fh.read())
    cache = os.path.join(OUT_DIR, "oracle", f"{key}-{h.hexdigest()[:16]}.pkl")
    if os.path.exists(cache):
        return pd.read_pickle(cache)
    pdf = duckdb_conn(sf_dir).execute(sql).fetchdf()
    os.makedirs(os.path.dirname(cache), exist_ok=True)
    pdf.to_pickle(cache + ".tmp")
    os.replace(cache + ".tmp", cache)
    return pdf


class _Collected:
    """A collected result in the shape ``oracle_harness.compare`` reads."""

    def __init__(self, pdf):
        self.pdf = pdf

    def toPandas(self):  # noqa: N802 - the DataFrame method name
        return self.pdf


def _tolerant_problems(spark_pdf, oracle_pdf) -> list[str]:
    """The tolerant pass of ``oracle_harness.compare``: its exact,
    driver-style row diff is left out, since floats may differ in the
    last digits."""
    from oracle_harness import compare, strict_compare

    strict = strict_compare(spark_pdf, oracle_pdf)
    return [p for p in compare(_Collected(spark_pdf), oracle_pdf) if p != strict]


def curation_build(spark, root: str, seed: int, seconds: float, start_s: float) -> dict:
    import datagen
    from pubsub2bq_spark.registry import all_queries
    from pubsub2bq_spark.tables import clear_session_artifacts

    keys = CURATION_KEYS
    t_stage = time.time()
    sf_dir = datagen.write_tables(CURATION_SF, os.path.join(root, "data"))
    queries = all_queries()
    staging_s = time.time() - t_stage

    sc = spark.sparkContext
    rng = random.Random(seed)
    failed_keys: dict[str, str] = {}
    spans: list[dict] = []

    def one_pass(tag: str, timed: bool, collect: dict | None = None) -> None:
        clear_session_artifacts()
        order = keys[:]
        rng.shuffle(order)
        for key in order:
            span = {"kind": "op", "id": f"{tag}-{len(spans)}", "key": key,
                    "window": timed}
            sc.setJobGroup(span["id"], key)
            span["start"] = time.time()
            try:
                df = queries[key].spark(spark, sf_dir)
                if collect is not None:
                    collect[key] = df.toPandas()
                else:
                    df.write.format("noop").mode("overwrite").save()
                span["ok"] = True
            except Exception as ex:  # a failing op is counted, never dropped
                span["ok"] = False
                failed_keys.setdefault(key, f"{type(ex).__name__}: {ex}"[:300])
            span["end"] = time.time()
            spans.append(span)

    # Warm-up: the cold pass, whose results feed the oracle check, then
    # WARM_PASSES passes like the timed ones.
    results: dict = {}
    t_warm = time.time()
    one_pass("cold", False, results)
    for p in range(WARM_PASSES):
        one_pass(f"warm{p}", False)
    warmup_s = time.time() - t_warm

    cpu_open = _cpu_times()
    for p in range(max(MIN_TIMED_PASSES, int(seconds) // PASS_SECONDS)):
        one_pass(f"p{p}", True)
    cpu_close = _cpu_times()
    sc.setJobGroup("perfbench-check", "oracle check")

    for key in keys:
        if key in failed_keys or key not in results:
            continue
        probs = _tolerant_problems(results[key], _oracle(key, queries[key].oracle, sf_dir))
        if probs:
            failed_keys[key] = "oracle mismatch: " + "; ".join(probs)[:300]

    window_ops = [s for s in spans if s["window"]]
    failed = sum(1 for s in spans if s["key"] in failed_keys)
    return {
        "setup": {"session.start_s": start_s, "staging_s": staging_s, "warmup_s": warmup_s},
        "window": (window_ops[0]["start"], window_ops[-1]["end"]),
        "attempted": len(spans), "failed": failed,
        "problems": [f"{k}: {v}" for k, v in sorted(failed_keys.items())],
        "spans": spans, "steal_share": _steal_share(cpu_open, cpu_close),
    }


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["cdc_feed", "curation_build"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--root", required=True)
    ap.add_argument("--cores", type=int, required=True)
    a = ap.parse_args()

    spark, start_s = start_session(a.cores)
    try:
        if a.workload == "cdc_feed":
            res = cdc_feed(spark, a.root, a.seed, a.seconds, start_s)
        else:
            res = curation_build(spark, a.root, a.seed, a.seconds, start_s)
    finally:
        spark.stop()
    res["cores"] = a.cores
    with open(os.path.join(a.root, "result.json"), "w") as fh:
        json.dump(res, fh)


if __name__ == "__main__":
    main()
