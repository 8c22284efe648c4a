#!/usr/bin/env python
"""Machine-generate the self-description counts (VERDICT r07 directive #3).

Hand-written registry totals in README.md / COVERAGE.md drifted every
round ("200 `queries()` entries" while the registry held 312; a bench
history quoting a local quiet-box run instead of the recorded artifact).
This script owns every such number: each documented count is located by a
regex anchored to its surrounding prose and rewritten from the live
registry (``len(all_queries())``) or the recorded ``BENCH_r*.json``
artifacts.  ``--check`` (what ``tests/test_doc_counts.py`` runs) fails if
any documented number disagrees with reality or any anchor pattern has
gone missing; the default mode rewrites the files in place.

Mirrors the corpus-accounting gate's philosophy
(``tests/test_product_corpus_accounting.py``): documentation claims are
asserted against the artifact that makes them true, never hand-copied.
"""

from __future__ import annotations

import glob
import json
import os
import re
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)


def registry_count() -> int:
    from presto_db_spark.registry import all_queries

    return len(all_queries())


def bench_total(round_no: int) -> float | None:
    """Headline total from a recorded driver artifact (raw `value`;
    BENCH_r06's head-truncated line is recovered from the tail, which
    only retains value_normalized — its factor was 1.0 that round).
    ADVICE r08: the tail fallback quotes value_normalized AS raw, which
    is only valid when the recorded ambient_factor was 1.0 — multiply the
    factor back in when it is present, and refuse the recovery when the
    factor is unknowable (better no number than a flattering one)."""
    path = os.path.join(ROOT, f"BENCH_r{round_no:02d}.json")
    if not os.path.exists(path):
        return None
    d = json.load(open(path))
    parsed = d.get("parsed")
    if parsed and parsed.get("value") is not None:
        return float(parsed["value"])
    tail = d.get("tail", "")
    m = re.search(r'"value_normalized": ([\d.]+)', tail)
    if not m:
        return None
    f = re.search(r'"ambient_factor": ([\d.]+)', tail)
    if f is None:
        # r06 is the only truncated artifact and predates ambient_factor
        # in the tail; its factor was 1.0 (recorded in VERDICT r06).
        return float(m.group(1)) if round_no == 6 else None
    return float(m.group(1)) * float(f.group(1))


def trial_value(key: str) -> float | None:
    """Numbers quoted from the committed builder-run trial artifact
    (BENCH_TRIAL_r10.json) — the VERDICT r09 #1/#2 closure evidence.
    Machine-owned so README prose can never drift from the
    artifact they cite."""
    path = os.path.join(ROOT, "BENCH_TRIAL_r10.json")
    if not os.path.exists(path):
        return None
    d = json.load(open(path))
    head = d.get("headline", {})
    perq = head.get("queries_canonical") or d.get("detail", {}).get(
        "queries_canonical", {}
    )
    return {
        "minhash_raw": head.get("queries", {}).get("dedup_minhash_lsh"),
        "minhash_canon": perq.get("dedup_minhash_lsh"),
        "core17_canon": head.get("value_core17_canonical"),
        "epoch": head.get("r06_epoch_median_ratio"),
    }.get(key)


# (relative path, anchored regex with ONE capture group over the number,
#  value-producer name).  The regex must match EXACTLY once per file.
_REG = "registry"
RULES: list[tuple[str, str, str]] = [
    ("README.md", r"`queries\(\)` \((\d+) operators\)", _REG),
    ("README.md", r"`oracle_sql\(\)` \((\d+) oracles\)", _REG),
    ("README.md", r"entry; ALL (\d+) also carry", _REG),
    ("README.md", r"(\d+)/\d+ entries are value-checked", _REG),
    ("README.md", r"entries are value-checked; zero\s+rows-only", "noop"),
    ("README.md", r"of the (\d+) entries carries the same DuckDB oracle", _REG),
    ("COVERAGE.md", r"\*\*Totals: (\d+) `queries\(\)` entries", _REG),
    ("COVERAGE.md",
     r"\*\*Totals: \d+ `queries\(\)` entries, (\d+) with DuckDB oracles",
     _REG),
    # bench-history claims quote the RECORDED artifacts, not local runs
    # (VERDICT r07 "what's wrong" #3: README said 9.98 s for r06 while
    # BENCH_r06.json's tail records 8.02).
    ("README.md", r"ambient-inflated → r06 ([\d.]+) at factor 1\.0", "bench:6"),
    # r10 trial-artifact quotes (BENCH_TRIAL_r10.json is the source)
    ("README.md", r"records raw\s+([\d.]+) / \*\*canonical", "trial:minhash_raw:.3f"),
    ("README.md", r"\*\*canonical ([\d.]+) s\*\* \(adjacent", "trial:minhash_canon:.3f"),
    ("README.md", r"canonical core17 ([\d.]+) s vs the r06", "trial:core17_canon:.2f"),
    ("README.md", r"`r06_epoch_median_ratio` \*\*([\d.]+)\*\*", "trial:epoch:.3f"),
]


def apply(check: bool) -> int:
    reg = registry_count()
    failures: list[str] = []
    for relpath in {r[0] for r in RULES}:
        path = os.path.join(ROOT, relpath)
        text = open(path).read()
        for rel2, pattern, producer in RULES:
            if rel2 != relpath or producer == "noop":
                continue
            if producer.startswith("bench:"):
                total = bench_total(int(producer.split(":")[1]))
                if total is None:
                    failures.append(f"{relpath}: no artifact for {producer}")
                    continue
                want = f"{total:.2f}"
            elif producer.startswith("trial:"):
                _, key, fmt = producer.split(":")
                v = trial_value(key)
                if v is None:
                    failures.append(f"{relpath}: no artifact for {producer}")
                    continue
                want = format(v, fmt)
            else:
                want = str(reg)
            hits = list(re.finditer(pattern, text))
            if len(hits) != 1:
                failures.append(
                    f"{relpath}: anchor /{pattern}/ matched {len(hits)} times "
                    "(expected exactly 1 — the prose around a machine-owned "
                    "count moved; update scripts/update_counts.py RULES)"
                )
                continue
            m = hits[0]
            if m.group(1) != want:
                if check:
                    failures.append(
                        f"{relpath}: documented count {m.group(1)} != live "
                        f"{want} at /{pattern}/ — run scripts/update_counts.py"
                    )
                else:
                    s, e = m.span(1)
                    text = text[:s] + want + text[e:]
        # second-capture fixups (e.g. "312/312") — rewrite any N/N pair
        # whose first half the rules above already own.  ADVICE r08: in
        # --check mode this rewrite was computed and discarded, so a
        # drifted DENOMINATOR (e.g. "319/312") passed the gate — compare
        # and fail instead.
        fixed = re.sub(
            r"(\d+)/(\d+)(?= entries are value-checked)",
            f"{reg}/{reg}",
            text,
        )
        if check and fixed != text:
            failures.append(
                f"{relpath}: an N/N 'entries are value-checked' pair "
                f"disagrees with the live registry ({reg}) — run "
                "scripts/update_counts.py"
            )
        text = fixed
        if not check:
            open(path, "w").write(text)
    # stale-pattern tripwires: the exact strings VERDICT r07 flagged must
    # never reappear.
    for relpath in ["README.md", "COVERAGE.md", "scripts/full_correctness.py"]:
        text = open(os.path.join(ROOT, relpath)).read()
        for bad in ["200 `queries()`", "all 300 queries"]:
            if bad in text:
                failures.append(f"{relpath}: stale hand-written count {bad!r}")
    if failures:
        for f in failures:
            print("COUNT-DRIFT:", f, file=sys.stderr)
        return 1
    print(f"counts consistent: registry={reg}")
    return 0


if __name__ == "__main__":
    sys.exit(apply(check="--check" in sys.argv))
