"""Computable stale-green detection (round-4 VERDICT #2).

A driver-green row in CORRECTNESS_rN.json verifies one specific
(implementation, oracle) pair. If either changes afterwards, the green
is STALE — the current code has never been driver-verified — and until
round 5 the only record of that was hand-maintained tier comments in
plans/queries.py. This tool makes it computed, not remembered:

- ``record <round>``: for every registry entry green in
  CORRECTNESS_r0<round>.json, store the CURRENT fingerprint
  (sha256 of the query function's source ⊕ its oracle SQL) plus the
  round number in tools/green_hashes.json. Run it at round close, while
  the working tree IS the code the driver verified.
  It refuses to run while the package, tools/ or tests/ hold uncommitted
  changes (the record file itself aside): a fingerprint taken from an
  edited tree would record as green code that no correctness run saw.
- ``check``: compare every registry entry's current fingerprint against
  the record. Prints three sets — NEVER-GREEN (no record), STALE
  (fingerprint drifted since the recorded green), FRESH — and exits 1
  if the first two are non-empty, so it can gate a round close.

Granularity caveat (deliberate): the fingerprint covers the query
function's own source and its oracle string. A change to a HELPER the
function calls does not move the fingerprint — the hand-audit still
owns that case, but it is the rare one; every stale-green incident in
rounds 1-4 (outlink_frontier's r4 admission gate, the r5 scoped-view
renames) edited the query function itself.

Usage:
    python tools/stale_greens.py check
    python tools/stale_greens.py record 5
"""

from __future__ import annotations

import hashlib
import inspect
import json
import os
import subprocess
import sys

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO_ROOT)

RECORD_PATH = os.path.join(REPO_ROOT, "tools", "green_hashes.json")

# the trees a recorded fingerprint must match: query code, this tool and
# the tests that check the stale set
GUARDED_DIRS = ("medical_vector_database_ocr_ner_spark", "tools", "tests")


def _semantic_source(fn) -> str:
    """The function's source as an AST dump with docstrings stripped —
    comments never reach the AST and docstrings are removed, so a
    doc-only edit does NOT invalidate a green row; any executable change
    (including constants and defaults) does."""
    import ast
    import textwrap

    tree = ast.parse(textwrap.dedent(inspect.getsource(fn)))
    for node in ast.walk(tree):
        body = getattr(node, "body", None)
        if not isinstance(body, list):  # Lambda/IfExp carry expr bodies
            continue
        if (body and isinstance(body[0], ast.Expr)
                and isinstance(body[0].value, ast.Constant)
                and isinstance(body[0].value.value, str)):
            node.body = body[1:] or [ast.Pass()]
    return ast.dump(tree)


def fingerprints() -> dict[str, str]:
    import medical_vector_database_ocr_ner_spark as pkg
    from medical_vector_database_ocr_ner_spark.plans.queries import QUERIES

    # golden-parquet oracles embed the repo's absolute path at import
    # time; normalize it so the SAME code checked out elsewhere (e.g. the
    # bootstrap worktree) fingerprints identically
    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(
        pkg.__file__)))
    out = {}
    for name, spec in QUERIES.items():
        src = _semantic_source(spec.fn)
        oracle = (spec.oracle or "").replace(repo_root, "<REPO>")
        out[name] = hashlib.sha256(
            (src + "\x00" + oracle).encode()
        ).hexdigest()[:16]
    return out


def load_record() -> dict:
    if not os.path.exists(RECORD_PATH):
        return {}
    with open(RECORD_PATH) as f:
        return json.load(f)


def dirty_paths(root: str = REPO_ROOT) -> list[str]:
    """Modified, staged or untracked files under GUARDED_DIRS of the git
    checkout at ``root``, except the green record itself."""
    out = subprocess.run(
        ["git", "status", "--porcelain", "--untracked-files=all", "--",
         *GUARDED_DIRS],
        cwd=root, capture_output=True, text=True, check=True,
    ).stdout
    return [line[3:] for line in out.splitlines()
            if line[3:] != "tools/green_hashes.json"]


def cmd_record(round_no: int, correctness_path: str | None = None) -> None:
    dirty = dirty_paths()
    if dirty:
        raise SystemExit(
            "refusing to record green fingerprints from a dirty tree; "
            "commit or stash first: " + ", ".join(dirty)
        )
    path = correctness_path or os.path.join(
        os.path.dirname(RECORD_PATH), os.pardir,
        f"CORRECTNESS_r{round_no:02d}.json",
    )
    with open(path) as f:
        rows = json.load(f)
    fps = fingerprints()
    rec = load_record()
    n = 0
    for name, row in rows.items():
        if not (row.get("rows_match") and row.get("schema_match")
                and row.get("hash_match")):
            continue
        if name not in fps:  # renamed/removed since
            continue
        rec[name] = {"hash": fps[name], "round": round_no}
        n += 1
    with open(RECORD_PATH, "w") as f:
        json.dump(rec, f, indent=1, sort_keys=True)
    print(f"recorded {n} green fingerprints from r{round_no:02d} "
          f"({len(rec)} total)")


def cmd_check() -> int:
    fps = fingerprints()
    rec = load_record()
    never = sorted(n for n in fps if n not in rec)
    stale = sorted(n for n in fps if n in rec and rec[n]["hash"] != fps[n])
    fresh = len(fps) - len(never) - len(stale)
    for n in never:
        print(f"NEVER-GREEN  {n}")
    for n in stale:
        print(f"STALE        {n} (green r{rec[n]['round']}, "
              f"source/oracle changed since)")
    print(f"\n{fresh} fresh / {len(stale)} stale / {len(never)} never-green "
          f"of {len(fps)} registry entries")
    return 1 if (never or stale) else 0


def main() -> int:
    if len(sys.argv) >= 2 and sys.argv[1] == "check":
        return cmd_check()
    if len(sys.argv) >= 3 and sys.argv[1] == "record":
        cmd_record(int(sys.argv[2]))
        return 0
    print(__doc__)
    return 2


if __name__ == "__main__":
    sys.exit(main())
