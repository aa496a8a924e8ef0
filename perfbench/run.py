"""The repo benchmark: one workload per invocation, run from the repo root.

    python3 perfbench/run.py --workload cdc_feed --seed 1 --seconds 20 --trace 0

Workloads (see perfbench/README.md for why each exists):

* ``cdc_feed``       open loop: a generator process offers CDC envelopes at
                     a fixed rate to ``CdcPipeline.run_processing_time()``;
* ``curation_build`` closed loop over six LLM-data curation builds, with
                     the session artifact cache cleared every pass.

Each measurement runs the workload in a fresh child process
(``child.py``) under a per-run scratch root inside the working directory,
which is removed afterwards. ``--trace 0`` prints the end-to-end metrics;
``--trace 1`` runs the workload again with Spark's event log enabled at
launch, writes spans to ``.perfbench_out/spans/`` and prints the
per-layer metrics. The last stdout line is one JSON object with
``correct``, ``attempted``, ``failed`` and ``metrics``.
"""

from __future__ import annotations

import argparse
import contextlib
import glob
import hashlib
import json
import os
import shlex
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import metrics as M  # noqa: E402
import spans as S  # noqa: E402
from child import CURATION_KEYS  # noqa: E402

REPO = os.getcwd()
OUT_DIR = os.path.join(REPO, ".perfbench_out")
RUN_DIR = os.path.join(REPO, ".perfbench_run")
DEADLINE_S = 170.0
DRIVER_MEM = "2g"
ONE_CORE_CDC_SECONDS = 8.0
# The local[1] leg runs only when this much of the deadline is left
# (it takes about 40-55 s on a 4-core box, most of it catching up); one
# cut at the deadline is reported and leaves its metric at 0.
ONE_CORE_MIN_LEFT_S = 90.0

WORKLOADS = ("cdc_feed", "curation_build")
END_TO_END = ("latency_ms", "throughput_per_s", "setup_s", "peak_rss_mb")
CDC_LAYERS = (
    "sources.list_ms_p50", "sources.backlog_segments_end", "sources.gen_late_ms_max",
    "streaming.cdc.add_batch_ms_p50", "streaming.cdc.jobs_per_batch",
    "streaming.cdc.plan_ms_p50", "checkpoint.commit_ms_p50",
    "streaming.cdc.busy_share", "streaming.cdc.rows_per_busy_s",
    "streaming.cdc.rows_per_busy_s_1core", "streaming.cdc.sink_files",
    "streaming.cdc.dlq_rows",
)
COMMON_LAYERS = ("session.start_s", "host.steal_share", "spark.exec_cpu_s", "spark.shuffle_mb",
                 "spark.spill_mb", "spark.gc_s", "driver.self_s", "python.worker_s")
PER_LAYER = COMMON_LAYERS + CDC_LAYERS + tuple(
    f"op.{k}.{m}" for k in CURATION_KEYS for m in ("ms", "jobs"))
UNITS = {
    "latency_ms": "ms", "throughput_per_s": "1/s",
    "setup_s": "s", "peak_rss_mb": "MB",
    "session.start_s": "s", "host.steal_share": "ratio", "spark.exec_cpu_s": "s",
    "spark.shuffle_mb": "MB",
    "spark.spill_mb": "MB", "spark.gc_s": "s", "driver.self_s": "s", "python.worker_s": "s",
    "sources.list_ms_p50": "ms", "sources.backlog_segments_end": "count",
    "sources.gen_late_ms_max": "ms", "streaming.cdc.add_batch_ms_p50": "ms",
    "streaming.cdc.jobs_per_batch": "count", "streaming.cdc.plan_ms_p50": "ms",
    "checkpoint.commit_ms_p50": "ms", "streaming.cdc.busy_share": "ratio",
    "streaming.cdc.rows_per_busy_s": "1/s", "streaming.cdc.rows_per_busy_s_1core": "1/s",
    "streaming.cdc.sink_files": "count", "streaming.cdc.dlq_rows": "count",
}
UNITS.update({f"op.{k}.ms": "ms" for k in CURATION_KEYS})
UNITS.update({f"op.{k}.jobs": "count" for k in CURATION_KEYS})


# ---- child processes ----------------------------------------------------------

def _procs():
    """(pid, state, ppid, pgid) of every process."""
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as fh:
                    state, ppid, pgid = fh.read().rsplit(")", 1)[1].split()[:3]
            except (OSError, ValueError):
                continue
            yield int(d), state, int(ppid), int(pgid)


def _tree_pss_mb(pid: int) -> float:
    """Proportional set size of a process and all its descendants."""
    kids: dict[int, list[int]] = {}
    for p, _, ppid, _ in _procs():
        kids.setdefault(ppid, []).append(p)
    total, stack = 0, [pid]
    while stack:
        p = stack.pop()
        stack.extend(kids.get(p, []))
        try:
            with open(f"/proc/{p}/smaps_rollup") as fh:
                total += next(int(line.split()[1]) for line in fh if line.startswith("Pss:"))
        except (OSError, StopIteration):
            pass
    return total / 1024.0


def _group_alive(pgid: int) -> bool:
    """Whether any process of the group is still running (zombies have ended)."""
    return any(g == pgid and state != "Z" for _, state, _, g in _procs())


def run_child(workload: str, seed: int, seconds: float, cores: int, trace: bool,
              deadline: float) -> dict:
    """Run one measurement in a fresh process group, sample its memory,
    then kill and reap whatever it left behind. Raises on failure."""
    root = os.path.join(RUN_DIR, f"{workload}-{seed}-{os.getpid()}-{cores}{'t' if trace else ''}")
    shutil.rmtree(root, ignore_errors=True)
    tmp = os.path.join(root, "tmp")
    os.makedirs(tmp)
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(root, "warehouse"),
        "spark.sql.streaming.numRecentProgressUpdates": "1000",
        # A fixed-size heap, touched in full at start, so peak memory does
        # not depend on when the heap grew or how much of it the collector
        # had used (curation runs read 2.9 or 3.3 GB without the touch);
        # and no hsperfdata file in the system temp dir.
        "spark.driver.extraJavaOptions":
            f"-Xms{DRIVER_MEM} -XX:+AlwaysPreTouch -Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }
    if trace:
        os.makedirs(os.path.join(root, "eventlog"))
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(root, "eventlog"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    env = dict(os.environ)
    env.update({
        "TMPDIR": tmp, "SPARK_LOCAL_DIRS": os.path.join(root, "local"),
        "SPARK_GRAFT_CPUS": str(cores), "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "PYTHONHASHSEED": "0", "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
        "PYSPARK_SUBMIT_ARGS": " ".join(
            f"--conf {shlex.quote(f'{k}={v}')}" for k, v in conf.items()) + " pyspark-shell",
    })
    cmd = [sys.executable, os.path.join(HERE, "child.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--root", root, "--cores", str(cores)]
    log_path = os.path.join(RUN_DIR, os.path.basename(root) + ".log")
    peak = [0.0]
    try:
        with open(log_path, "w") as log:
            proc = subprocess.Popen(cmd, env=env, stdout=log, stderr=subprocess.STDOUT,
                                    start_new_session=True)
            stop = threading.Event()

            def sample():
                while not stop.wait(0.5):
                    peak[0] = max(peak[0], _tree_pss_mb(proc.pid))

            sampler = threading.Thread(target=sample, daemon=True)
            sampler.start()
            timed_out = False
            try:
                proc.wait(timeout=max(1.0, deadline - time.time()))
            except subprocess.TimeoutExpired:
                timed_out = True
            finally:
                stop.set()
                sampler.join()
                try:
                    os.killpg(proc.pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
                proc.wait()
                while _group_alive(proc.pid):
                    time.sleep(0.05)
        if timed_out:
            raise TimeoutError(f"{workload} child killed at the deadline")
        if proc.returncode != 0:
            with open(log_path) as fh:
                tail = fh.read()[-3000:]
            raise RuntimeError(f"{workload} child exited {proc.returncode}:\n{tail}")
        with open(os.path.join(root, "result.json")) as fh:
            res = json.load(fh)
        res["peak_rss_mb"] = peak[0]
        if trace:
            res["jobs"] = S.fold_jobs(S.read_event_log(os.path.join(root, "eventlog")))
        return res
    finally:
        shutil.rmtree(root, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.remove(log_path)
        with contextlib.suppress(OSError):
            os.rmdir(RUN_DIR)


# ---- metrics -------------------------------------------------------------------

def _in_window(batches: list[dict], window) -> list[dict]:
    return [b for b in batches if window[0] <= b["start"] < window[1]]


def _pct(values, q, groups=None, what="samples") -> dict:
    p = M.percentile(values, q, groups)
    p["note"] = f"n={p['n']} {what}, {p['beyond']} beyond"
    return p


def cdc_end_to_end(res: dict) -> tuple[dict, list[str]]:
    """Freshness percentiles over the window's events, counting the batches
    beyond each one; a percentile with fewer than MIN_BEYOND batches beyond
    it reads n/a. The gated figure is the median. A median that falls short
    (a starved run) is still emitted, marked."""
    fresh, groups = res["freshness_ms"], res["freshness_batches"]
    pcts = {q: _pct(fresh, q / 100, groups, "events; batches") for q in (50, 75, 90)}
    lines = []
    for q, p in pcts.items():
        if p["reportable"]:
            lines.append(f"freshness_p{q}_ms = {p['value']:.1f} ms ({p['note']})")
        elif q != 50:
            lines.append(f"freshness_p{q}_ms = n/a ({p['note']})")
        else:
            lines.append(f"freshness_p{q}_ms = {p['value']:.1f} ms ({p['note']}) "
                         f"[below the sample rule: fewer than {M.MIN_BEYOND} batches beyond]")
    rate = res["delivered_per_s"]
    lines.append(f"delivered_per_s = {rate:.1f} 1/s ({res['delivered_batches']} whole batches)")
    return {"latency_ms": pcts[50]["value"], "throughput_per_s": rate}, lines


def curation_end_to_end(res: dict) -> tuple[dict, list[str], dict]:
    ops = [s for s in res["spans"] if s["window"]]
    by_key: dict[str, list[float]] = {}
    for s in ops:
        by_key.setdefault(s["key"], []).append((s["end"] - s["start"]) * 1000.0)
    geo = M.op_geomean_ms(by_key)
    wall = res["window"][1] - res["window"][0]
    per_s = len(ops) / wall
    lines = [f"op_geomean_ms = {geo:.1f} ms (over {len(by_key)} keys, {len(ops)} ops)",
             f"ops_per_s = {per_s:.4f} 1/s ({len(ops)} ops in {wall:.1f} s)"]
    lines += [f"op.{k}.ms = {statistics.median(v):.1f} ms (n={len(v)})" for k, v in by_key.items()]
    passes: dict[str, list] = {}
    for sp in res["spans"]:
        passes.setdefault(sp["id"].rsplit("-", 1)[0], []).append(sp)
    lines.append("pass walls (warm-up, then window): " + ", ".join(
        f"{tag} {max(x['end'] for x in sps) - min(x['start'] for x in sps):.1f} s"
        for tag, sps in passes.items()))
    return {"latency_ms": geo, "throughput_per_s": per_s}, lines, by_key


def cdc_layers(res: dict, jobs: list[dict], one_core: dict | None) -> tuple[dict, list[str]]:
    win = _in_window(res["batches"], res["window"])
    lines = []
    out = {}

    def med(name, values):
        p = _pct(values, 0.5, what="batches")
        lines.append(f"{name} = {p['value']:.2f} ({p['note']})"
                     + ("" if p["reportable"] else "  [below the sample rule]"))
        out[name] = p["value"]

    d = [b["durationMs"] for b in win]
    med("sources.list_ms_p50", [x.get("latestOffset", 0) + x.get("getBatch", 0) for x in d])
    med("streaming.cdc.add_batch_ms_p50", [x.get("addBatch", 0) for x in d])
    med("streaming.cdc.plan_ms_p50", [x.get("queryPlanning", 0) for x in d])
    med("checkpoint.commit_ms_p50", [x.get("walCommit", 0) + x.get("commitOffsets", 0) for x in d])
    per_batch = {b["batch"]: 0 for b in win}
    for j in jobs:
        if j["batch"] in per_batch:
            per_batch[j["batch"]] += 1
    out["streaming.cdc.jobs_per_batch"] = statistics.median(per_batch.values())
    busy = sum(x.get("triggerExecution", 0) for x in d) / 1000.0
    rows = sum(b["rows"] for b in win)
    out["streaming.cdc.busy_share"] = busy / (res["window"][1] - res["window"][0])
    out["streaming.cdc.rows_per_busy_s"] = rows / busy
    out["sources.backlog_segments_end"] = res["backlog_segments_end"]
    out["sources.gen_late_ms_max"] = max(res["gen_late_ms"])
    out["streaming.cdc.sink_files"] = res["sink_files"]
    out["streaming.cdc.dlq_rows"] = res["dlq_rows"]
    if one_core is not None:
        w1 = _in_window(one_core["batches"], one_core["window"])
        busy1 = sum(b["durationMs"].get("triggerExecution", 0) for b in w1) / 1000.0
        out["streaming.cdc.rows_per_busy_s_1core"] = sum(b["rows"] for b in w1) / busy1
        lines.append(
            f"streaming.cdc.rows_per_busy_s: {out['streaming.cdc.rows_per_busy_s']:.0f} at "
            f"{res['cores']} cores vs {out['streaming.cdc.rows_per_busy_s_1core']:.0f} at 1 core")
    return out, lines


def common_layers(res: dict, jobs: list[dict], parents: list[dict]) -> dict:
    ids = {p["id"] for p in parents}
    win = [j for j in jobs if j.get("parent") in ids]
    return {
        "session.start_s": res["setup"]["session.start_s"],
        "host.steal_share": res["steal_share"],
        "spark.exec_cpu_s": sum(j["exec_cpu_s"] for j in win),
        "spark.shuffle_mb": sum(j["shuffle_mb"] for j in win),
        "spark.spill_mb": sum(j["spill_mb"] for j in win),
        "spark.gc_s": sum(j["gc_s"] for j in win),
        "driver.self_s": S.driver_self_s(parents, win),
        "python.worker_s": sum(j["python_s"] for j in win),
    }


# ---- main ------------------------------------------------------------------------

def _source_digest() -> str:
    """Hash of the engine's and the benchmark's sources, so a traced run is
    compared only with untraced runs of the same code."""
    h = hashlib.sha256()
    for top in ("pubsub2bq_spark", os.path.relpath(HERE, REPO)):
        for path in sorted(glob.glob(os.path.join(REPO, top, "**", "*.py"), recursive=True)):
            h.update(os.path.relpath(path, REPO).encode())
            with open(path, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()[:16]


def _untraced_path(workload: str) -> str:
    return os.path.join(OUT_DIR, "untraced", f"{workload}-{_source_digest()}.jsonl")


def _record_untraced(workload: str, e2e: dict) -> None:
    path = _untraced_path(workload)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "a") as fh:
        fh.write(json.dumps(e2e) + "\n")


def _untraced_medians(workload: str) -> dict | None:
    path = _untraced_path(workload)
    if not os.path.exists(path):
        return None
    with open(path) as fh:
        rows = [json.loads(line) for line in fh if line.strip()]
    return {k: statistics.median(r[k] for r in rows) for k in rows[0]} if rows else None


def measure(workload: str, seed: int, seconds: float,
            trace: bool) -> tuple[dict, int, int, list[str]]:
    deadline = time.time() + DEADLINE_S
    cores = os.cpu_count() or 1
    cdc = workload == "cdc_feed"
    res = run_child(workload, seed, seconds, cores, trace, deadline)
    attempted, failed = res["attempted"], res["failed"]
    lines = [f"check: {p}" for p in res["problems"]]
    setup = res["setup"]
    setup_s = setup["session.start_s"] + setup["staging_s"] + setup["warmup_s"]
    lines.append(f"setup_s = {setup_s:.2f} s (session {setup['session.start_s']:.2f} + staging "
                 f"{setup['staging_s']:.2f} + warm-up {setup['warmup_s']:.2f})")
    if cdc:
        e2e, more = cdc_end_to_end(res)
    else:
        e2e, more, by_key = curation_end_to_end(res)
    lines += more
    e2e["setup_s"] = setup_s
    e2e["peak_rss_mb"] = res["peak_rss_mb"]
    lines.append(f"peak_rss_mb = {res['peak_rss_mb']:.1f} MB (process tree, proportional set size)")
    lines.append(f"error_rate = {failed / attempted:.6f} ({failed} failed of {attempted})")
    lines.append(f"host.steal_share = {res['steal_share']:.4f} (CPU time the hypervisor gave "
                 "other guests during the window; high values make a run incomparable)")
    if not trace:
        if failed == 0:
            _record_untraced(workload, e2e)
        return e2e, attempted, failed, lines

    jobs = res["jobs"]
    if cdc:
        span_list = S.batch_spans(res["batches"])
        parents = [s for s in span_list if s["kind"] == "batch"
                   and res["window"][0] <= s["start"] < res["window"][1]]
    else:
        span_list = res["spans"]
        parents = [s for s in span_list if s["window"]]
    S.link_jobs(jobs, span_list)
    layers = dict.fromkeys(PER_LAYER, 0.0)
    layers.update(common_layers(res, jobs, parents))
    if cdc:
        one = None
        if deadline - time.time() > ONE_CORE_MIN_LEFT_S:
            try:
                one = run_child(workload, seed, ONE_CORE_CDC_SECONDS, 1, False, deadline)
                attempted += one["attempted"]
                failed += one["failed"]
                lines += [f"check (local[1]): {p}" for p in one["problems"]]
            except TimeoutError:
                lines.append("local[1] leg cut at the deadline")
        else:
            lines.append("local[1] leg skipped: too little time left before the deadline")
        cl, more = cdc_layers(res, jobs, one)
        layers.update(cl)
        lines += more
    else:
        for key, ms in by_key.items():
            layers[f"op.{key}.ms"] = statistics.median(ms)
            n_jobs = [sum(1 for j in jobs if j.get("parent") == s["id"])
                      for s in parents if s["key"] == key]
            layers[f"op.{key}.jobs"] = statistics.median(n_jobs)
    spans_path = os.path.join(OUT_DIR, "spans", f"{workload}-seed{seed}.jsonl")
    S.write_spans(spans_path, span_list + jobs)
    win_jobs = [j for j in jobs if j.get("parent") in {p["id"] for p in parents}]
    job_union = M.union_length((j["start"], j["end"]) for j in win_jobs)
    lines.append(f"spans: {len(span_list) + len(jobs)} written to "
                 f"{os.path.relpath(spans_path, REPO)}")
    lines.append(f"self time: driver {layers['driver.self_s']:.2f} s, "
                 f"spark jobs {job_union:.2f} s (executor cpu {layers['spark.exec_cpu_s']:.2f} s, "
                 f"gc {layers['spark.gc_s']:.2f} s, "
                 f"python workers {layers['python.worker_s']:.2f} s)")
    base = _untraced_medians(workload)
    if base:
        lines.append("tracing overhead vs the median untraced run of this code: " + ", ".join(
            f"{k} {100.0 * (e2e[k] / base[k] - 1.0):+.1f}%" for k in END_TO_END if base.get(k)))
    else:
        lines.append("tracing overhead: no untraced run of this code recorded in this checkout")
    return layers, attempted, failed, lines


def main() -> int:
    ap = argparse.ArgumentParser(description="Run one benchmark workload.")
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    if not os.path.isfile(os.path.join(REPO, "pubsub2bq_spark", "__init__.py")):
        print("perfbench: run from the repository root (pubsub2bq_spark/ not found)",
              file=sys.stderr)
        return 2
    try:
        values, attempted, failed, lines = measure(a.workload, a.seed, a.seconds, bool(a.trace))
    except Exception as ex:
        print(f"perfbench: {a.workload} failed: {ex}", file=sys.stderr)
        return 1
    for line in lines:
        print(line)
    names = PER_LAYER if a.trace else END_TO_END
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {n: {"value": values[n], "unit": UNITS[n]} for n in names},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
