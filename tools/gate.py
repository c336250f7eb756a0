"""Pre-snapshot gate: the checks every end-of-round commit must pass.

Rounds 3 and 4 both shipped red because a fix was verified in
isolation but the full suite was never re-run before snapshot. This
script IS the checklist — run it, and only snapshot on exit 0:

1. full ``pytest tests/``
2. ``tools/oracle_check.py`` over ALL catalog queries at sf0.01
   (mirror of the driver's correctness gate)
3. the sf0.1 headline subset — the queries whose bugs historically
   only appeared above sf0.01 (float accumulation order, bucket skew)
4. ``tools/stress.py 4 --also-spark-only-excluded`` — the
   oracle-compared sweep at a key-shifted ~4x sf0.1 (which caught the
   overflow / float-drift / recursion-valve bugs every sf0.1 check
   passed), plus — over the same built corpus — the Spark sides of
   the oracle-capped STRESS_EXCLUDE entries under structural laws
5. ``tools/stress_stream.py 16 4`` — the crash-injected streaming
   sweep: writer killed mid-batch at scale, replay must stay
   exactly-once vs the batch reference (16x pinned in r13)
6. ``tools/task_skew_audit.py`` — per-task straggler shape for the
   user-keyed queries under the 8x hot-key corpus vs pinned
   max/median ratio budgets (r13)
7. ``tools/spill_rehearsal.py`` in force mode over a subset at sf0.01
8. ``tools/profile_queries.py`` over every catalog query at sf0.01, one
   rep each: the query profiles' counters → METRICS.json (step
   ``metrics_audit``)

Plus a sub-second pinned-artifact drift check (step 0) that runs even
under ``--skip-pytest``.

Appends one result line to COVERAGE.md ("Gate log" section) so the
judge can see the gate actually ran.

GATE-BEFORE-SNAPSHOT RULE (r10 verdict, wrong #1): the final commit
of a round must be gate-verified — no catalog additions or operator
changes may land AFTER the round's last full gate run. If anything
lands later, re-run the gate on the exact HEAD tree before
snapshotting; the COVERAGE.md gate-log timestamp must be at or after
the snapshot commit's tree. (r10 shipped its 158th query an hour
after the last gate; verified post-hoc, but the habit is how a red
entry ships someday.)

Usage: python tools/gate.py [--skip-pytest] [--skip-stress]
"""

from __future__ import annotations

import datetime
import subprocess
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent

#: sf0.1 subset: historically scale-sensitive + the slowest pipelines.
HEADLINE = (
    "pricing_summary",
    "profit_by_nation_year",
    "dedup_clusters_minhash",
    "ngram_jaccard_pairs_lang",
    "clean_corpus",
    "user_event_gap_stats_window",
    # round-6 heavyweights: the end-to-end prep composite and the
    # exact substring scrub both chain several shuffle families.
    "prepare_training_shards",
    "substring_scrub_docs",
    # r13: the image family's pair entry — render + decode + dHash +
    # lossless banding, the round's new kernel chain, at sf0.1.
    "image_near_dup_phash",
)


def run(name: str, cmd: list[str]) -> tuple[str, bool, float, str]:
    t0 = time.perf_counter()
    proc = subprocess.run(
        cmd, cwd=REPO, capture_output=True, text=True, timeout=3600
    )
    dt = time.perf_counter() - t0
    tail = "\n".join((proc.stdout + proc.stderr).strip().splitlines()[-3:])
    ok = proc.returncode == 0
    print(f"[gate] {name}: {'PASS' if ok else 'FAIL'} ({dt:.0f}s)")
    if not ok:
        print(tail)
    return name, ok, dt, tail


def main() -> int:
    steps: list[tuple[str, list[str]]] = []
    # Sub-second standalone drift check on the GENERATED pinned
    # artifacts (zlib oracle map, IVF/PQ quantizers): runs even with
    # --skip-pytest, so a fixture regeneration can never silently
    # stale the oracles' embedded ground truth (VERDICT r9 item 5).
    steps.append(
        ("artifact_drift", [sys.executable, "tools/artifact_gate.py"])
    )
    # Planned-scan-count audit (r12): FileScans per source table per
    # catalog query vs the pinned budgets in tools/scan_audit.py —
    # the check that catches 22x-re-scan plan regressions (pagerank,
    # PSI monitor) that byte metrics and sf0.01 wall time cannot see.
    steps.append(("scan_audit", [sys.executable, "tools/scan_audit.py"]))
    # Quantizer drift advisory over the fixture stores (expected:
    # stable, exit 0) — a fixture or pinned-artifact regression that
    # shifts IVF cell occupancy trips a visible gate FAIL (r11
    # verdict stretch #9). watch/refit exit non-zero by design.
    steps.append(
        (
            "drift_advisory_fixtures",
            [
                sys.executable,
                "tools/drift_advisory.py",
                "/root/testdata/sf0.001/embeddings.parquet",
                "/root/testdata/sf0.01/embeddings.parquet",
            ],
        )
    )
    if "--skip-pytest" not in sys.argv:
        steps.append(("pytest", [sys.executable, "-m", "pytest", "tests/", "-q"]))
    # --strict = driver-faithful dtype-sensitive hashing (r7): the
    # lenient canon bridged DuckDB HUGEINT->float64 sums to int repr
    # and masked two driver reds in r6; the mirror must be at least
    # as strict as the thing it mirrors.
    steps.append(
        (
            "oracle_sf0.01_strict",
            [
                sys.executable,
                "tools/oracle_check.py",
                "/root/testdata/sf0.01",
                "--strict",
            ],
        )
    )
    steps.append(
        (
            "oracle_sf0.1_headline",
            [
                sys.executable,
                "tools/oracle_check.py",
                "/root/testdata/sf0.1",
                "--strict",
                *HEADLINE,
            ],
        )
    )
    # Committed verdicts for the driver's `no_oracle` rows (VERDICT
    # r10 missing #2): the 3-sigma sketch envelopes + BPE invariants,
    # written to BOUNDS_r{N}.json where N is the round in progress
    # (one past the latest driver CORRECTNESS file).
    # Round number: explicit --round N wins; otherwise inferred as one
    # past the latest driver CORRECTNESS file. The flag exists because
    # a post-snapshot re-verify run AFTER a round's CORRECTNESS file
    # lands would otherwise silently write BOUNDS for a round that has
    # not started (ADVICE r11).
    if "--round" in sys.argv:
        round_n = int(sys.argv[sys.argv.index("--round") + 1])
    else:
        rounds = [
            int(p.stem.split("_r")[1])
            for p in REPO.glob("CORRECTNESS_r*.json")
            if p.stem.split("_r")[1].isdigit()
        ]
        round_n = max(rounds, default=0) + 1
    bounds_out = f"BOUNDS_r{round_n:02d}.json"
    steps.append(
        (
            "bounds_report",
            [
                sys.executable,
                "tools/bounds_report.py",
                "/root/testdata/sf0.01",
                bounds_out,
            ],
        )
    )
    if "--skip-stress" not in sys.argv:
        # 4x key-shifted sf0.1 (~2.4M lineitem): the stage that caught
        # the bigint-overflow / float-drift / recursion-valve bugs the
        # sf0.1 sweeps could not see (tools/stress.py).
        # One invocation, two sweeps over the SAME built corpus: the
        # oracle-compared run plus the Spark-side structural-law pass
        # over the oracle-capped STRESS_EXCLUDE entries (so oracle
        # caps never cap Spark coverage; the 16x form of the second
        # sweep is the per-round manual run; r10). A single build
        # halves the gate's multi-minute 4x corpus cost.
        steps.append(
            (
                "stress_4x+spark_only_excluded",
                [
                    sys.executable,
                    "tools/stress.py",
                    "4",
                    "/root/testdata/sf0.1",
                    "--also-spark-only-excluded",
                ],
            )
        )
        # crash-injected streaming sweep (r9, widened to 16x in r13 —
        # the r12 verdict ran 16x by hand and required the gate to pin
        # it): StreamingPrepSink over a 16x corpus, writer killed
        # mid-batch at tick 1 and replayed — survivor set must equal
        # the crash-free batch reference (exactly-once at scale,
        # ~2 min).
        steps.append(
            (
                "stress_stream_crash_16x",
                [sys.executable, "tools/stress_stream.py", "16", "4"],
            )
        )
        # the media sink under the same protocol (r15): per-frame
        # signatures + shared-scene dedup + decimation, writer killed
        # between the clean-zone and index appends at tick 1, replay
        # must equal the iterative batch reference (~80 s at 16x).
        steps.append(
            (
                "stress_stream_media_crash_16x",
                [
                    sys.executable,
                    "tools/stress_stream.py",
                    "--media",
                    "16",
                    "4",
                ],
            )
        )
        # per-task straggler audit (r13, verdict #4): max/median task
        # duration per material stage for the user-keyed queries on
        # the 8x hot-key corpus, against the pinned ratio budgets in
        # tools/task_skew_audit.py — the "curse of the last reducer"
        # check byte metrics and scan counts cannot see.
        steps.append(
            (
                "task_skew",
                [sys.executable, "tools/task_skew_audit.py"],
            )
        )
        # spill-path regression check (r15): a fast force-mode
        # rehearsal — documented spill/fallback thresholds pinned tiny
        # — over a window/sort/SMJ/banded-agg representative subset at
        # sf0.01; results must still hash-match the oracle while
        # sorts spill and ObjectHashAggregate falls back (~90 s). The
        # full 18-query sf0.1 force+pressure evidence lives in
        # SPILL_force.json / SPILL_pressure.json (tools/spill_rehearsal.py).
        steps.append(
            (
                "spill_force_sf001",
                [
                    sys.executable,
                    "tools/spill_rehearsal.py",
                    "/root/testdata/sf0.01",
                    "--out",
                    "/tmp/spill_gate.json",
                    "session_window_user_stats",
                    "median_price_by_segment",
                    "monotonic_violations_user_value",
                    "table_diff_orders_drift",
                    "ngram_jaccard_pairs_lang",
                    "video_scene_near_dup",
                ],
            )
        )
        # measured jobs, stages, tasks and shuffle/spill/scan bytes for
        # EVERY catalog query at sf0.01, one rep each → METRICS.json
        # (r14 verdict #2: the audit previously ran by hand and
        # silently staled — the r14 binary-payload entries shipped with
        # no committed byte measurements). Fails on any query error or
        # on coverage < len(QUERIES); spills at standard memory are
        # reported in the output (expected zero — the deliberate
        # pressure run lives in tools/spill_rehearsal.py).
        steps.append(
            (
                "metrics_audit",
                [
                    "env",
                    "SPARK_GRAFT_SF_DIR=/root/testdata/sf0.01",
                    sys.executable,
                    "tools/profile_queries.py",
                    "--reps",
                    "1",
                ],
            )
        )
    results = [run(name, cmd) for name, cmd in steps]
    all_ok = all(ok for _, ok, _, _ in results)

    stamp = datetime.datetime.now(datetime.timezone.utc).strftime(
        "%Y-%m-%d %H:%MZ"
    )
    summary = ", ".join(
        f"{name} {'PASS' if ok else 'FAIL'} ({dt:.0f}s)"
        for name, ok, dt, _ in results
    )
    line = f"- {stamp}: {summary}\n"
    cov = REPO / "COVERAGE.md"
    text = cov.read_text() if cov.exists() else "# Coverage\n"
    if "## Gate log" not in text:
        text += "\n## Gate log\n\nPre-snapshot gate runs (`tools/gate.py`).\n\n"
    text += line
    cov.write_text(text)
    print(f"[gate] {'ALL PASS' if all_ok else 'GATE FAILED'} — logged to COVERAGE.md")
    return 0 if all_ok else 1


if __name__ == "__main__":
    sys.exit(main())
