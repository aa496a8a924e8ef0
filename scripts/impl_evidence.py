"""Build / refresh IMPL_EVIDENCE.json from git history (run at round start).

For every registry key, find the LATEST round whose CORRECTNESS_rN.json has
terminal driver evidence (a hash-matched row, or a rows-only ``no_oracle``
row), then compute the operator's implementation hash *as of the git commit
that added that round's file* — the driver runs against the round-final
tree, so that commit's source is exactly what the green row proved.  The
historic source is extracted without importing old code: ``git show`` the
module blob, then the same AST closure machinery evidence.live_impl_hash
uses on the live side (the function + every same-module symbol it
transitively references).  Two hashes are recorded per key: the closure
hash (freshness) and the fn-only hash (strong vs weak staleness — see
evidence.fresh_green_keys).

Usage:
    python scripts/impl_evidence.py            # rewrite IMPL_EVIDENCE.json
    python scripts/impl_evidence.py --check    # verify file is up to date
"""

from __future__ import annotations

import glob
import inspect
import json
import os
import re
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from pubsub2bq_spark.evidence import (  # noqa: E402
    EVIDENCE_FILE,
    closure_source,
    impl_hash_of_source,
    unwrap_registered,
)
from pubsub2bq_spark.registry import all_queries  # noqa: E402


def _git(*args: str) -> str:
    return subprocess.run(
        ["git", "-C", ROOT, *args], check=True, capture_output=True, text=True
    ).stdout


def round_commits() -> dict[int, str]:
    """{round_number: sha of the commit that added CORRECTNESS_rN.json}."""
    out: dict[int, str] = {}
    for path in sorted(glob.glob(os.path.join(ROOT, "CORRECTNESS_r*.json"))):
        rel = os.path.basename(path)
        m = re.search(r"r(\d+)\.json$", rel)
        if not m:
            continue
        sha = _git("log", "--diff-filter=A", "--format=%H", "--", rel).split()
        if sha:
            out[int(m.group(1))] = sha[-1]  # oldest add wins if re-added
    return out


def latest_green_rounds(max_round: int | None = None) -> dict[str, tuple[int, str]]:
    """{key: (round, kind)} for the newest terminal row per key, over
    CORRECTNESS files with round ≤ ``max_round`` (None = all). The cap
    must apply BEFORE latest-wins so a key green in both r2 and r99
    falls back to its r2 row when capped at r4, rather than vanishing."""
    best: dict[str, tuple[int, str]] = {}
    for path in sorted(glob.glob(os.path.join(ROOT, "CORRECTNESS_r*.json"))):
        m = re.search(r"r(\d+)\.json$", path)
        if not m:
            continue
        rnd = int(m.group(1))
        if max_round is not None and rnd > max_round:
            continue
        with open(path) as f:
            rows = json.load(f)
        for key, row in rows.items():
            if not isinstance(row, dict):
                continue
            if row.get("hash_match") is True:
                best[key] = (rnd, "hash")
            elif row.get("err") == "no_oracle" and row.get("spark_rows") is not None:
                # rows-only evidence; don't demote an existing same-round hash row
                if best.get(key, (0, ""))[0] < rnd:
                    best[key] = (rnd, "rows_only")
    return best


def _loader_at_commit(commit: str):
    """Module-source loader over the historic git tree — the twin of
    evidence._live_module_loader, so the recorded hash covers exactly
    the followed kernel modules *as of the green commit*."""
    def load(dotted: str) -> str | None:
        if not dotted.startswith("pubsub2bq_spark"):
            return None
        rel = "/".join(dotted.split(".")) + ".py"
        try:
            return _git("show", f"{commit}:{rel}")
        except subprocess.CalledProcessError:
            return None
    return load


def source_at_commit(commit: str, relpath: str, fn_name: str) -> str | None:
    """The function's closure source (fn + referenced same-module
    symbols + followed first-party kernel imports, identical machinery
    to evidence.live_impl_hash) at a historic commit — extracted from
    git blobs, never imported."""
    try:
        blob = _git("show", f"{commit}:{relpath}")
    except subprocess.CalledProcessError:
        return None
    module_name = relpath[: -len(".py")].replace("/", ".")
    return closure_source(blob, fn_name, _loader_at_commit(commit), module_name)


def fn_only_source_at_commit(commit: str, relpath: str, fn_name: str) -> str | None:
    """Just the function's own lines (decorators included) at a historic
    commit — the narrow twin of evidence.live_fn_hash."""
    import ast

    try:
        blob = _git("show", f"{commit}:{relpath}")
    except subprocess.CalledProcessError:
        return None
    try:
        tree = ast.parse(blob)
    except SyntaxError:
        return None
    for node in tree.body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)) and node.name == fn_name:
            start = min([node.lineno] + [d.lineno for d in node.decorator_list])
            return "\n".join(blob.splitlines()[start - 1 : node.end_lineno])
    return None


def build_evidence(max_round: int | None = None) -> dict[str, dict]:
    """``max_round`` restricts to CORRECTNESS files ≤ that round — used by
    --check so a brand-new driver-written CORRECTNESS file (which lands
    AFTER the round's last code commit, before anyone can refresh the
    evidence) doesn't fail the drift gate; the next round's start chore
    folds it in."""
    reg = all_queries()
    commits = round_commits()
    greens = latest_green_rounds(max_round)
    evidence: dict[str, dict] = {}
    missing: list[str] = []
    for key, (rnd, kind) in sorted(greens.items()):
        if key not in reg or rnd not in commits:
            continue
        fn = unwrap_registered(reg[key].spark)
        relpath = os.path.relpath(inspect.getsourcefile(fn), ROOT)
        src = source_at_commit(commits[rnd], relpath, fn.__name__)
        fn_src = fn_only_source_at_commit(commits[rnd], relpath, fn.__name__)
        if src is None:
            # fn moved files or was renamed since its green round — by
            # definition the implementation changed, so record no hash:
            # the key will read as stale and re-rotate forward.
            missing.append(f"{key} (r{rnd}: {fn.__name__} not in {relpath})")
            evidence[key] = {"round": rnd, "kind": kind, "hash": None, "fn_hash": None}
            continue
        evidence[key] = {
            "round": rnd,
            "kind": kind,
            "hash": impl_hash_of_source(src),
            "fn_hash": impl_hash_of_source(fn_src) if fn_src else None,
        }
    if missing:
        print(f"[impl_evidence] {len(missing)} keys unresolvable at their green commit "
              f"(recorded as stale): {missing}", file=sys.stderr)
    return evidence


def main() -> int:
    path = os.path.join(ROOT, EVIDENCE_FILE)
    if "--check" in sys.argv:
        try:
            with open(path) as f:
                current = f.read()
                covered = json.loads(current)
        except (OSError, ValueError):
            current, covered = "", {}
        file_max = max(
            (v.get("round", 0) for v in covered.values() if isinstance(v, dict)),
            default=0,
        )
        rendered = (
            json.dumps(build_evidence(max_round=file_max), indent=1, sort_keys=True)
            + "\n"
        )
        if current != rendered:
            print("IMPL_EVIDENCE.json is stale — rerun scripts/impl_evidence.py")
            return 1
        newer = [r for r in round_commits() if r > file_max]
        if newer:
            print(
                f"IMPL_EVIDENCE.json consistent through r{file_max}; "
                f"CORRECTNESS round(s) {newer} not yet folded in — run "
                "scripts/impl_evidence.py at round start."
            )
        else:
            print("IMPL_EVIDENCE.json up to date")
        return 0
    evidence = build_evidence()
    rendered = json.dumps(evidence, indent=1, sort_keys=True) + "\n"
    with open(path, "w") as f:
        f.write(rendered)
    print(f"wrote {path}: {len(evidence)} keys")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
