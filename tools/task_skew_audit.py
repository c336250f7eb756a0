"""Per-task straggler audit under the hot-key stress corpus.

Byte metrics (tools/profile_queries.py) and planned-scan counts
(tools/scan_audit.py) are blind to the ONE scale killer the r12
verdict said no audit could see: the curse of the last reducer. A
stage whose bytes and plan are perfect can still serialize on a
single straggler task when one key owns a third of the data — at
1000 executors that one task IS the job's wall clock.

This tool measures straggler SHAPE directly: it builds the skewed
stress corpus (tools/stress.py build, 30% single-user hot key on
events), runs the user-keyed catalog queries that funnel that key,
and pulls per-stage task-duration quantiles plus the stage's total
executor runtime from Spark's AppStatusStore (works with the UI
disabled). Every MATERIAL stage (>= MIN_TASKS tasks and max task >=
FLOOR_MS — smaller stages cannot be a straggler problem at any
scale multiplier) must satisfy its query's law:

* ``ratio`` law (default): ``max_task / median_task <= bound`` —
  the shape AQE skew-split / salting / partial aggregation is
  supposed to guarantee for joins and aggregates.
* ``share`` law (pinned per query): ``max_task / total_stage_work <=
  bound``. Per-key WINDOWS cannot split a key, so max/median is
  unbounded by design there; what the operator CAN guarantee is that
  the last reducer holds no more than the hot key's share of the
  total work (~30% here) plus overhead — i.e. the stage parallelizes
  everything except the irreducible key. A regression that
  concentrates MORE than the key's share (a lost pre-projection, an
  accidental single-partition sort) fails loudly.

Bounds live in SKEW_BUDGETS — the committed exception table below,
each pin carrying its justification (the SCAN_BUDGETS idiom).

r14 (VERDICT r13 next #4): the audit also covers the BANDED pair
generators (dedup / perceptual near-dup / shared-scene) — the heavy
tail there is bucket degeneracy rather than a hot key: the in-bucket
pair lambda is O(m^2) in the largest band bucket m, and the
key-shifted stress corpus grows every true dup cluster `copies`-fold.
Besides the per-stage laws, the audit records a LARGEST-BUCKET
histogram per family (max / p99 / bucket count / sum of m^2, computed
with the operators' own key derivations so audit and plan can never
drift) and pins max-bucket bounds in BUCKET_BOUNDS.

Usage:
    python tools/task_skew_audit.py [copies] [sf_dir] [query ...]

Defaults: copies=8, sf_dir=/root/testdata/sf0.1, queries=AUDIT_QUERIES.
Writes TASK_SKEW.json when run over the full default set; prints
`task_skew PASS (...)` / FAIL lines per offending stage.
"""

from __future__ import annotations

import json
import os
import shutil
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from hadoop_data_pipeline_spark.profile import (  # noqa: E402
    profile_catalog,
    task_summary,
)

DEFAULT_RATIO = 6.0
FLOOR_MS = 400  #: stages whose slowest task is under this are immaterial
MIN_TASKS = 8  #: median / share of fewer tasks is noise

#: Hot-key share the --skew build plants (stress.py: event_id%10<3).
HOT_SHARE = 0.30

#: query -> (law, bound, justification). ``share`` pins document the
#: inherent hot-task shape of per-key windows (max task <= hot key's
#: work share + overhead slack); everything else answers to the
#: default ``ratio`` law. Measured 2026-08-16 on the 8x sf0.1 corpus
#: with the 30% hot user (local[32], TASK_SKEW.json).
SKEW_BUDGETS: dict[str, tuple[str, float, str]] = {
    name: (
        "share",
        0.55,
        "per-user window: the hot user's 30% share is one partition "
        "by definition; bounded = the hot task holds no more than "
        "the key's own work share (+overhead) of the stage",
    )
    for name in (
        "user_event_gap_stats_window",
        "running_sum_per_user",
        "forward_fill_purchase_value",
        "monotonic_violations_user_value",
        "rolling_1h_user_event_stats",
        "user_first_last_events",
        "user_journey_paths",
        "event_type_transitions",
        "user_state_history_scd2",
        "debounce_dedup_events",
        "latest_event_per_user_type",
    )
}

#: The audited set: every SKEW_HEADLINE window/agg query whose plan
#: keys on user_id (the hot dimension) — the queries where a
#: straggler CAN form — plus the salting/partial-agg exemplars that
#: must prove one does NOT form.
AUDIT_QUERIES = [
    "latest_event_per_user_type",
    "user_event_gap_stats_window",
    "running_sum_per_user",
    "forward_fill_purchase_value",
    "monotonic_violations_user_value",
    "rolling_1h_user_event_stats",
    "user_first_last_events",
    "user_journey_paths",
    "event_type_transitions",
    "user_state_history_scd2",
    "debounce_dedup_events",
    "salted_event_type_stats",
    "case_when_agg_per_user",
    "tumbling_daily_event_stats",
    "distinct_user_event_pairs",
    # the banded heavy tail (r14): bucket degeneracy, not hot keys
    "near_dup_pairs_minhash",
    "ngram_jaccard_pairs_lang",
    "image_near_dup_phash",
    "audio_fingerprint_near_dup",
    "video_scene_near_dup",
]

#: family -> max allowed LARGEST band bucket on the `copies`-fold
#: key-shifted corpus. The structural model: text copies are exact,
#: so every bucket grows exactly `copies`-fold — pins are the
#: measured 8x sf0.1 values with ~2x headroom (re-pin deliberately,
#: with a reason, the SCAN_BUDGETS idiom). ngram_postings is the one
#: EXACT pin: the operator drops posting lists past max_doc_freq, so
#: a surviving bucket larger than the cap is a correctness bug, not a
#: perf regression.
BUCKET_BOUNDS: dict[str, int] = {
    "image_dhash_pairs": 2000,
    "audio_fingerprint_pairs": 2000,
    "video_scene_pairs": 2000,
    "minhash_lsh": 2000,
    "ngram_postings_surviving": 100,  # == the catalog entry's cap
}


def stage_shapes(spark, stage_ids) -> dict[int, dict]:
    """Task-duration median and max plus total executor runtime of each
    profiled stage, from the AppStatusStore (live with the UI off)."""
    out: dict[int, dict] = {}
    for sid in stage_ids:
        s = task_summary(spark, sid, (0.5, 1.0))
        if s is None:
            continue  # attempt 0 ran no task
        (med_ms, max_ms), total_ms = s["durations_ms"], s["run_ms"]
        out[sid] = {
            "tasks": s["tasks"],
            "med_ms": round(med_ms, 1),
            "max_ms": round(max_ms, 1),
            "total_ms": round(total_ms, 1),
            "ratio": round(max_ms / med_ms, 2) if med_ms > 0 else None,
            "share": round(max_ms / total_ms, 3) if total_ms > 0 else None,
        }
    return out


def audit(spark, names: list[str], corpus: str) -> tuple[dict, list[str]]:
    results: dict[str, dict] = {}
    failures: list[str] = []
    for name in names:
        # one query at a time, so its stages are read while retained
        records, failed = profile_catalog(spark, [name], corpus, reps=1)
        if failed:
            failures.append(f"{name}: query failed or not in catalog")
            continue
        wall = round(records[name]["secs"][0], 2)
        stages = stage_shapes(spark, records[name]["stage_ids"])
        law, bound, why = SKEW_BUDGETS.get(
            name, ("ratio", DEFAULT_RATIO, "default")
        )
        material = {
            sid: s
            for sid, s in stages.items()
            if s["tasks"] >= MIN_TASKS
            and s["max_ms"] >= FLOOR_MS
            and s[law] is not None
        }
        worst = max((s[law] for s in material.values()), default=None)
        results[name] = {
            "wall_sec": wall,
            "law": law,
            "bound": bound,
            "worst": worst,
            "material_stages": material,
        }
        status = "PASS"
        if worst is not None and worst > bound:
            status = "FAIL"
            offenders = {
                sid: s for sid, s in material.items() if s[law] > bound
            }
            failures.append(
                f"{name}: worst {law} {worst} > bound {bound} ({why}); "
                f"stages {offenders}"
            )
        print(
            f"{status:5s} {name}: wall={wall}s law={law} worst="
            f"{worst if worst is not None else 'n/a (no material stage)'} "
            f"bound={bound}"
        )
    return results, failures


def banded_bucket_stats(spark, corpus: str) -> tuple[dict, list[str]]:
    """Largest-bucket histogram per banded family, computed with the
    operators' OWN key derivations (multimodal.band_subset_rows /
    dedup._banded / the staged shingle postings), so the audit
    measures exactly what the plans shuffle."""
    from pyspark.sql import functions as F

    from hadoop_data_pipeline_spark.operators import dedup
    from hadoop_data_pipeline_spark.operators import multimodal as mm
    from hadoop_data_pipeline_spark.sources.readers import load_table

    docs = load_table(spark, corpus, "documents")
    fams: dict[str, tuple] = {}
    img = mm.image_dhash(mm.attach_ppm_payload(docs))
    fams["image_dhash_pairs"] = (
        mm.band_subset_rows(img, "dhash", 2, 4, ["doc_id"]),
        ["band_id", "band_key"],
    )
    aud = mm.audio_fingerprints(mm.attach_wav_payload(docs))
    fams["audio_fingerprint_pairs"] = (
        mm.band_subset_rows(aud, "fingerprint", 2, 4, ["doc_id"]),
        ["band_id", "band_key"],
    )
    vid = mm.video_frame_dhashes_from_text(docs)
    fams["video_scene_pairs"] = (
        mm.band_subset_rows(vid, "dhash", 2, 4, ["doc_id", "frame_idx"]),
        ["frame_idx", "band_id", "band_key"],
    )
    fams["minhash_lsh"] = (
        dedup._banded(dedup.minhash_signatures(docs), "doc_id"),
        ["band_id", "band_key"],
    )
    # ngram postings, capped exactly like the catalog entry
    staged = dedup.staged_shingle_hashes(docs, extra_cols=["lang"])
    posts = staged.selectExpr(
        "doc_id", "lang", "explode(array_distinct(__sh)) AS __h"
    )
    cap = 100  # the ngram_jaccard_pairs_lang entry's max_doc_freq
    sizes = posts.groupBy("lang", "__h").count().where(F.col("count") <= cap)
    results: dict[str, dict] = {}
    failures: list[str] = []
    for name, spec in list(fams.items()) + [
        ("ngram_postings_surviving", (None, None))
    ]:
        if name == "ngram_postings_surviving":
            counts = sizes
        else:
            frame, keys = spec
            counts = frame.groupBy(*keys).count()
        row = counts.agg(
            F.max("count").alias("max_m"),
            F.expr("percentile_approx(count, 0.99)").alias("p99_m"),
            F.sum(F.when(F.col("count") >= 2, 1).otherwise(0)).alias(
                "buckets_ge2"
            ),
            F.sum(F.col("count") * F.col("count")).alias("sum_m2"),
        ).collect()[0]
        stat = {
            "max_m": int(row.max_m),
            "p99_m": int(row.p99_m),
            "buckets_ge2": int(row.buckets_ge2),
            "sum_m2": int(row.sum_m2),
        }
        results[name] = stat
        bound = BUCKET_BOUNDS[name]
        status = "PASS"
        if stat["max_m"] > bound:
            status = "FAIL"
            failures.append(
                f"bucket_histogram {name}: max bucket {stat['max_m']} > "
                f"bound {bound}"
            )
        print(
            f"{status:5s} bucket:{name}: max={stat['max_m']} "
            f"p99={stat['p99_m']} buckets>=2={stat['buckets_ge2']} "
            f"sum_m2={stat['sum_m2']} bound={bound}"
        )
    return results, failures


def main() -> int:
    import stress

    from hadoop_data_pipeline_spark.session import get_session

    copies = int(sys.argv[1]) if len(sys.argv) > 1 else 8
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"
    names = sys.argv[3:] or AUDIT_QUERIES
    out_dir = "/tmp/spark_graft_task_skew"
    spark = get_session("task_skew_audit")
    print(f"building {copies}x skewed corpus from {sf_dir} ...")
    stress.build(spark, sf_dir, out_dir, copies, skew=True)
    results, failures = audit(spark, list(names), out_dir)
    buckets = None
    if not sys.argv[3:]:
        spark.catalog.clearCache()
        buckets, bucket_failures = banded_bucket_stats(spark, out_dir)
        failures.extend(bucket_failures)
        with open(
            os.path.join(
                os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                "TASK_SKEW.json",
            ),
            "w",
        ) as fh:
            json.dump(
                {
                    "copies": copies,
                    "sf_dir": sf_dir,
                    "results": results,
                    "bucket_histogram": buckets,
                    "bucket_bounds": BUCKET_BOUNDS,
                },
                fh,
                indent=1,
                sort_keys=True,
            )
    shutil.rmtree(out_dir, ignore_errors=True)
    if failures:
        print(f"task_skew FAIL ({len(failures)} offender(s))")
        for f in failures:
            print(f"  {f}")
        return 1
    print(f"task_skew PASS ({len(results)} queries, 0 over budget)")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
