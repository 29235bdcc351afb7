"""Round-close summary generated FROM THE ARTIFACTS (round-12 verdict
item 8): hand-copied closing numbers drift (round-10's stale plan
audit, round-11's "255/255" prose slip) — this tool emits the closing
counts table byte-traceable to the JSON artifacts it reads, plus the
registry counts by importing the live module. Paste its output into
BASELINE.md verbatim.

Usage: python tools/round_close.py [--collect-tests]
  --collect-tests  also run `pytest --collect-only -q` for the test
                   count (slower; omitted = "n/a (pass --collect-tests)")

Prints a markdown table followed by one JSON line. Exits 1 when
PLAN_AUDIT.json's package_sha256 differs from the package on disk (the
audit is stale: re-run tools/plan_audit.py last).
"""

from __future__ import annotations

import glob
import json
import os
import re
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _load(name: str):
    p = os.path.join(REPO, name)
    try:
        with open(p) as f:
            return json.load(f)
    except (OSError, ValueError):
        return None


def _correctness(name: str) -> str:
    d = _load(name)
    if not d:
        return "absent"
    if "results" in d:  # check_correctness.py shape
        rs = d["results"]
        ok = sum(1 for v in rs.values() if v.get("status") == "match")
    else:  # driver-gate shape: {query: {rows_match, schema_match, hash_match, err}}
        rs = d
        ok = sum(
            1
            for v in rs.values()
            if isinstance(v, dict)
            and v.get("err") is None
            and all(v.get(k, True) for k in ("rows_match", "schema_match", "hash_match"))
        )
    return f"{ok}/{len(rs)} match" + ("" if ok == len(rs) else "  ← FAILURES")


def main() -> int:
    import importlib

    entry = importlib.import_module("__spark_entry__")
    n_q = len(entry.queries())
    n_o = len(entry.oracle_sql())

    bench_files = sorted(glob.glob(os.path.join(REPO, "BENCH_r*.json")))
    bench = _load(os.path.basename(bench_files[-1])) if bench_files else None
    bench_line = "absent"
    r1_subset = None
    if bench and bench.get("parsed"):
        p = bench["parsed"]
        r1_subset = p.get("r1_subset_total")
        bench_line = (
            f"{os.path.basename(bench_files[-1])}: suite {p.get('value')} s"
            f" / {p.get('n_queries')} queries, r1-subset {r1_subset} s"
            f" (r1 baseline 18.776 s → {round((r1_subset or 0) / 18.776, 2)}×),"
            f" pinned_over_budget={p.get('pinned_over_budget')}"
        )

    from tools.plan_audit import package_digest

    audit = _load("PLAN_AUDIT.json") or {}
    audit_fresh = audit.get("package_sha256") == package_digest(REPO)
    git_head = subprocess.run(
        ["git", "-C", REPO, "rev-parse", "--short", "HEAD"],
        capture_output=True, text=True,
    ).stdout.strip()
    audit_line = (
        f"{audit.get('queries', '?')} plans, "
        f"{len(audit.get('hard_failures') or [])} hard failures "
        f"(audited at {audit.get('git_head', '?')[:8]}, dirty={audit.get('git_dirty')}; "
        f"HEAD now {git_head}; package sha256 "
        f"{'matches' if audit_fresh else 'DIFFERS ← re-run tools/plan_audit.py'})"
    )

    tests_line = "n/a (pass --collect-tests)"
    if "--collect-tests" in sys.argv[1:]:
        out = subprocess.run(
            [sys.executable, "-m", "pytest", "--collect-only", "-q", "tests/"],
            capture_output=True, text=True, cwd=REPO,
        ).stdout
        m = re.search(r"(\d+) tests? collected", out)
        tests_line = f"{m.group(1)} collected" if m else "collect failed"

    rows = [
        ("registry queries", f"{n_q} (oracles: {n_o})"),
        ("CORRECTNESS_local (sf0.01)", _correctness("CORRECTNESS_local.json")),
        ("CORRECTNESS_sf01_full (sf0.1)", _correctness("CORRECTNESS_sf01_full.json")),
        ("driver gate (last round)", _correctness(
            os.path.basename(sorted(glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json")))[-1])
        ) if glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json")) else "absent"),
        ("bench", bench_line),
        ("plan audit", audit_line),
        ("tests", tests_line),
    ]
    print("| metric | value |")
    print("|---|---|")
    for k, v in rows:
        print(f"| {k} | {v} |")
    print()
    print(json.dumps({
        "queries": n_q,
        "oracles": n_o,
        "correctness_local": _correctness("CORRECTNESS_local.json"),
        "correctness_sf01": _correctness("CORRECTNESS_sf01_full.json"),
        "r1_subset_s": r1_subset,
        "plan_hard_failures": len(audit.get("hard_failures") or []),
        "plan_audit_fresh": audit_fresh,
        "git_head": git_head,
    }))
    return 0 if audit_fresh else 1


if __name__ == "__main__":
    raise SystemExit(main())
