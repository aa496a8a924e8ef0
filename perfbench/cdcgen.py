"""Open-loop CDC feed: a single-threaded process that writes Debezium-style
envelope segments into a spool directory at a fixed offered rate.

Segments go out at seeded Poisson times, so the pipeline's 1 s trigger
cannot alias with them; each carries the events offered at a constant
rate since the previous one. Each segment is written under a hidden name
(which the file source skips) and then renamed, so a reader never sees a
half-written file. Every event carries its creation time in ``ts_ms``:
the time its segment was due, so a generator stall is charged to
freshness rather than hidden by a later stamp.

The mix is about 80/15/5 create/update/delete on the ``analytics.events``
table, plus about 5 % rows of other tables that the include list must
drop. Payloads carry an extra ``props`` field that the topic schema drops.
Each row version has a distinct ``value``, so ``(event_id, value,
__deleted)`` identifies one event in the sink.

The feed runs from ``--start`` until ``--stop``, or until an earlier
stop time (epoch seconds) arrives as one line on stdin: the caller picks
its measurement window only once the pipeline has caught up. The
generator records its own lateness (actual minus scheduled write time
per segment) in the stats file it writes on exit.

    python3 perfbench/cdcgen.py --spool DIR --stats FILE --seed N \
        --rate 2000 --segments-per-s 10 --start EPOCH_S --stop EPOCH_S
"""

from __future__ import annotations

import argparse
import json
import os
import random
import sys
import threading
import time

EVENT_TYPES = ("view", "click", "purchase", "signup")
OTHER_ID_BASE = 10**12


class Feed:
    """Seeded event source; keeps the live row versions for updates/deletes."""

    def __init__(self, seed: int):
        self.rng = random.Random(seed)
        self.live: list[dict] = []
        self.seq = 0
        self.next_id = 0

    def _row(self, event_id: int) -> dict:
        self.seq += 1
        return {
            "event_id": event_id,
            "user_id": self.rng.randrange(15_000),
            "event_type": self.rng.choice(EVENT_TYPES),
            "value": float(self.seq),
            "props": '{"k": %d}' % self.rng.randrange(100),
        }

    def event(self, ts_ms: int) -> dict:
        rng = self.rng
        source = {"db": "analytics", "table": "events"}
        r = rng.random()
        if r < 0.05:
            source = rng.choice(({"db": "analytics", "table": "users"},
                                 {"db": "crm", "table": "events"}))
            row = self._row(0)
            row["event_id"] = OTHER_ID_BASE + self.seq
            return {"before": None, "after": row, "op": "c", "ts_ms": ts_ms, "source": source}
        r = rng.random()
        if r < 0.80 or not self.live:
            row = self._row(self.next_id)
            self.next_id += 1
            self.live.append(row)
            return {"before": None, "after": row, "op": "c", "ts_ms": ts_ms, "source": source}
        i = rng.randrange(len(self.live))
        before = self.live[i]
        if r < 0.95:
            after = self._row(before["event_id"])
            self.live[i] = after
            return {"before": before, "after": after, "op": "u", "ts_ms": ts_ms, "source": source}
        self.live[i] = self.live[-1]
        self.live.pop()
        return {"before": before, "after": None, "op": "d", "ts_ms": ts_ms, "source": source}


def run(spool: str, stats_path: str, seed: int, rate: float, seg_rate: float,
        start: float, stop: float) -> None:
    os.makedirs(spool, exist_ok=True)
    feed = Feed(seed)
    timing = random.Random(seed ^ 0x5EED)
    late_ms: list[float] = []
    stop_at = [stop]

    def read_stop() -> None:
        line = sys.stdin.readline()
        if line.strip():
            stop_at[0] = min(stop_at[0], float(line))

    threading.Thread(target=read_stop, daemon=True).start()
    t = start
    n = 0
    owed = 0.0
    while True:
        gap = timing.expovariate(seg_rate)
        t += gap
        if t >= stop_at[0]:
            break
        # A segment carries the events offered since the previous one, so
        # the offered rate is exact over any window, not Poisson-noisy.
        owed += rate * gap
        per_seg = int(owed)
        if per_seg == 0:
            continue
        owed -= per_seg
        delay = t - time.time()
        if delay > 0:
            time.sleep(delay)
        if t >= stop_at[0]:
            break
        late_ms.append((time.time() - t) * 1000.0)
        ts_ms = int(t * 1000)
        body = "".join(json.dumps(feed.event(ts_ms)) + "\n" for _ in range(per_seg))
        name = f"seg-{n:06d}.json"
        hidden = os.path.join(spool, "." + name)
        with open(hidden, "w") as fh:
            fh.write(body)
        os.rename(hidden, os.path.join(spool, name))
        n += 1
    with open(stats_path, "w") as fh:
        json.dump({"late_ms": late_ms}, fh)


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--spool", required=True)
    ap.add_argument("--stats", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--rate", type=float, required=True)
    ap.add_argument("--segments-per-s", type=float, required=True)
    ap.add_argument("--start", type=float, required=True)
    ap.add_argument("--stop", type=float, required=True)
    a = ap.parse_args()
    run(a.spool, a.stats, a.seed, a.rate, a.segments_per_s, a.start, a.stop)


if __name__ == "__main__":
    main()
