"""Regenerate ``pins.json``: the row count and canonical content hash
of every catalog-workload query on the benchmark's generated tables.

    python3 perfbench/pin.py

Run it from the repository root. Before pinning, each answer is checked
against the query's DuckDB oracle (``oracle_sql`` or, for sketch
queries, ``bound_oracle_sql``) with ``tools/oracle_check.py``'s strict
comparison, so a pin is never a wrong answer frozen in place. Exits 1
and writes nothing if any query fails its oracle.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import catalog  # noqa: E402
import run as runner  # noqa: E402

#: Queries whose DuckDB oracle cannot judge generated data, with why.
NO_ORACLE = {
    name: "the oracle inlines per-document decode results precomputed "
    "for the fixture corpus (functions/*_lens.py), so it has no rows for "
    "generated documents"
    for name in ("image_decode_stats", "audio_decode_stats")
}


def main() -> int:
    sys.path.insert(0, runner.ROOT)
    work = os.path.abspath(os.path.join(".bench_work", f"pin-{os.getpid()}"))
    os.makedirs(work)
    runner.prepare_env(work, runner.cpu_count())

    import duckdb

    import __spark_entry__ as entry
    from hadoop_data_pipeline_spark import queries_catalog as qc

    oc = catalog._oracle_check_module()
    args = argparse_ns()
    ctx = runner.Context(args, work)
    ctx.start_session()
    oracles, bounds = entry.oracle_sql(), entry.bound_oracle_sql()
    out, bad = {}, []
    try:
        for workload, spec in catalog.SPECS.items():
            root = ctx.fresh_dir(workload)
            catalog.fixtures.write_catalog(root, spec["sf"], spec["data_seed"])
            con = duckdb.connect()
            for t in oc.TABLES:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{root}/{t}.parquet'")
            pins = {}
            for name in spec["queries"]:
                ctx.spark.catalog.clearCache()
                sdf = qc.QUERIES[name](ctx.spark, root).toPandas()
                verdict = "exact"
                if name in NO_ORACLE:
                    problems, verdict = [], NO_ORACLE[name]
                elif name in oracles:
                    problems = oc.compare(sdf, con.execute(oracles[name]).df(), True)
                elif name in bounds:
                    b = bounds[name]
                    problems = oc.compare_bounded(
                        sdf, con.execute(b["sql"]).df(), b["rel_tol"]
                    )
                    verdict = f"within rel_tol {b['rel_tol']}"
                else:
                    problems = ["no oracle"]
                if problems:
                    bad.append(f"{workload}/{name}: {'; '.join(problems)[:300]}")
                pins[name] = catalog.content_digest(sdf, oc._canon)
                pins[name]["oracle"] = verdict
                print(f"{workload} {name} {pins[name]} {'FAIL' if problems else 'ok'}",
                      flush=True)
            out[workload] = {"sf": spec["sf"], "data_seed": spec["data_seed"],
                             "queries": pins}
    finally:
        runner.stop_spark(ctx.spark)
        runner.shutil.rmtree(work, ignore_errors=True)
    if bad:
        print("\n".join(bad), file=sys.stderr)
        return 1
    with open(catalog.PINS, "w") as fh:
        json.dump(out, fh, indent=1, sort_keys=True)
        fh.write("\n")
    return 0


def argparse_ns():
    import argparse

    return argparse.Namespace(seed=0, seconds=0, trace=0, dump=None)


if __name__ == "__main__":
    sys.exit(main())
