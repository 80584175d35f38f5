"""spark-submit entry point: generate (optional) + validate + report.

Usage (north_rule launch shape):
  zip -r engine.zip lk_data_test_spark
  spark-submit --master local[32] --py-files engine.zip \
      lk_data_test_spark/cli.py --data-dir /tmp/corpus --generate \
      --parts 16 --rows-per-part 2000

Prints one JSON line with per-rule verdict counts, throughput, and the
skipped/ran partition split (resume evidence), plus a human-readable
verdict table on stderr.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

# spark-submit puts the primary script's own directory on sys.path, not the
# repo root; bootstrap the package for runs without --py-files
_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)


def dimension(spark, path: str, optional: bool = False):
    """The table at ``path`` through ``read_parquet``: a second read of the
    unchanged directory runs no Spark job (its schema memo). A missing
    ``optional`` table is None; a missing required one fails in Spark."""
    from lk_data_test_spark.sources.catalog import read_parquet

    if optional and not os.path.exists(path):
        return None
    return read_parquet(spark, path)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--data-dir", default=None)
    ap.add_argument(
        "--query",
        default=None,
        help="run one registry query instead of the validation suite: a name "
        "from entry_queries (or 'list' to print all names) over --sf-dir",
    )
    ap.add_argument(
        "--sf-dir",
        default="/root/testdata/sf0.001",
        help="parquet table dir for --query mode",
    )
    ap.add_argument(
        "--show", type=int, default=0, help="print first N result rows (--query)"
    )
    ap.add_argument(
        "--ignore-corrupt-files",
        action="store_true",
        help="skip unreadable parquet files instead of failing the suite",
    )
    ap.add_argument(
        "--params",
        default=None,
        help="JSON rule-parameter overrides, keyed by rule id, e.g. "
        '\'{"drift": {"ks_threshold": 0.25}, "uniqueness": {"rsd": 0.02}}\'',
    )
    ap.add_argument(
        "--extra-rules",
        default=None,
        metavar="NAME[,NAME...]",
        help="append opt-in rules to the default suite (e.g. seq_structure; "
        "arm its checks via --params seq_bos_id/seq_eos_id/seq_pad_id)",
    )
    ap.add_argument("--generate", action="store_true")
    ap.add_argument("--parts", type=int, default=16)
    ap.add_argument("--rows-per-part", type=int, default=2000)
    ap.add_argument("--cores", default=None)
    ap.add_argument(
        "--generate-only",
        action="store_true",
        help="generate the corpus and exit (lets a bench pre-build data at "
        "full parallelism, then measure at reduced parallelism)",
    )
    ap.add_argument("--force", action="store_true", help="ignore checkpoint")
    ap.add_argument(
        "--build-profiles",
        default=None,
        metavar="OUT_DIR",
        help="instead of validating, BUILD the drift reference-profile table "
        "(per-source n_tok quantile sketch + top-K token frequencies, "
        "operators/profiles.py) from the corpus at --data-dir and write it "
        "as parquet to OUT_DIR; --profile-parts restricts the source "
        "partitions (e.g. a vetted clean snapshot)",
    )
    ap.add_argument(
        "--profile-parts",
        default=None,
        help="comma-separated part_ids to build profiles from (default: all)",
    )
    ap.add_argument(
        "--incremental-stats",
        action="store_true",
        help="file-delta incremental validation of the data-rule suite "
        "(plans/incremental_stats.py): partitions whose file set only GREW "
        "scan just the added files and merge the stored mergeable partials; "
        "unchanged partitions scan nothing; rewrites fall back to full; "
        "takes the rule --params of a full run",
    )
    ap.add_argument(
        "--suggest-from-parts",
        default=None,
        metavar="PARTS",
        help="comma-separated part_ids of a vetted snapshot: profile them "
        "(operators/suggest.py), accept the enforceable suggestions, and run "
        "the suite with the resulting generic constraints rule appended to "
        "the hand-built rules (operators/constraints.py)",
    )
    ap.add_argument(
        "--anomaly-report",
        action="store_true",
        help="instead of validating, score each partition's latest per-rule "
        "metrics against its own manifest history (plans/anomaly.py robust "
        "z-score) and print the anomalous rows as JSON",
    )
    ap.add_argument(
        "--anomaly-k",
        type=float,
        default=4.0,
        help="robust-z threshold for --anomaly-report (default 4.0)",
    )
    ap.add_argument(
        "--repeat",
        type=int,
        default=1,
        help="run the suite N times and report the LAST run (steady-state "
        "throughput: excludes one-time JVM/python-worker/codegen startup)",
    )
    args = ap.parse_args(argv)
    params = json.loads(args.params) if args.params else None

    from lk_data_test_spark.datagen import GenConfig, generate
    from lk_data_test_spark.plans.runner import ValidationRunner
    from lk_data_test_spark.session import get_spark
    from lk_data_test_spark.sources.catalog import PartitionedTable

    if args.query == "list":
        from lk_data_test_spark import entry_queries

        for name in sorted(entry_queries.Q):
            oracle = "oracle" if name in entry_queries.ORACLE else "rows-only"
            print(f"{name}  [{oracle}]")
        return 0

    spark = get_spark("lk-validate-cli", cores=args.cores)

    if args.query is not None:
        from lk_data_test_spark import entry_queries

        if args.query not in entry_queries.Q:
            print(f"unknown query {args.query!r}; try --query list", file=sys.stderr)
            return 2
        t0 = time.time()
        df = entry_queries.Q[args.query](spark, args.sf_dir)
        n = df.count()
        elapsed = round(time.time() - t0, 2)
        if args.show:
            df.show(args.show, truncate=False)
        print(
            json.dumps(
                {
                    "query": args.query,
                    "rows": n,
                    "columns": df.columns,
                    "sf_dir": args.sf_dir,
                    "elapsed_sec": elapsed,
                }
            )
        )
        return 0

    if args.data_dir is None:
        ap.error("--data-dir is required unless --query is given")

    cfg = GenConfig(n_parts=args.parts, rows_per_part=args.rows_per_part)
    seq_path = os.path.join(args.data_dir, "sequences")
    allowed_path = os.path.join(args.data_dir, "allowed_sources")
    profiles_path = os.path.join(args.data_dir, "reference_profiles")
    if (args.generate or args.generate_only) and not os.path.exists(seq_path):
        t0 = time.time()
        generate(spark, args.data_dir, cfg)
        print(f"generated corpus in {time.time() - t0:.1f}s", file=sys.stderr)
    if args.generate_only:
        print(json.dumps({"generated": seq_path}))
        return 0

    if args.build_profiles:
        from lk_data_test_spark.operators.profiles import (
            build_reference_profiles,
        )

        table = PartitionedTable(seq_path)
        if args.profile_parts:
            parts = [int(p) for p in args.profile_parts.split(",")]
            src = table.read_partitions(spark, parts)
        else:
            parts = table.partition_ids()
            src = table.read(spark)
        t0 = time.time()
        prof = build_reference_profiles(src)
        prof.coalesce(1).write.mode("overwrite").parquet(args.build_profiles)
        n = dimension(spark, args.build_profiles).count()
        print(
            json.dumps(
                {
                    "built_profiles": args.build_profiles,
                    "sources": n,
                    "from_parts": parts,
                    "elapsed_sec": round(time.time() - t0, 2),
                }
            )
        )
        return 0

    if args.incremental_stats:
        from lk_data_test_spark.plans.incremental_stats import (
            run_incremental_suite,
        )

        t0 = time.time()
        suite = run_incremental_suite(
            spark,
            PartitionedTable(seq_path),
            os.path.join(args.data_dir, "_manifest"),
            profiles=dimension(spark, profiles_path, optional=True),
            allowed=dimension(spark, allowed_path, optional=True),
            params=params,
        )

        def failed(rule: str) -> list[int]:
            parts = suite[rule]["parts"]
            return sorted(p for p, res in parts.items() if not res["passed"])

        r = suite["column_stats"]
        out = {
            "modes": {str(k): m for k, m in r["modes"].items()},
            "scanned_rows": r["scanned_rows"],
            "failed_partitions": failed("column_stats"),
        }
        if "drift" in suite:
            out["drift_modes"] = {
                str(k): m for k, m in suite["drift"]["modes"].items()
            }
        for rule in ("drift", "referential", "uniqueness", "token_bounds"):
            if rule in suite:
                out[f"{rule}_failed_partitions"] = failed(rule)
        out["elapsed_sec"] = round(time.time() - t0, 2)
        print(json.dumps(out))
        return 0

    if args.anomaly_report:
        runner = ValidationRunner(
            spark,
            PartitionedTable(seq_path),
            allowed_sources=dimension(spark, allowed_path),
            reference_profiles=dimension(spark, profiles_path),
        )
        rep = runner.anomaly_report(k=args.anomaly_k)
        rows = [r.asDict() for r in rep.filter("anomalous").collect()]
        print(
            json.dumps(
                {
                    "anomalous": rows,
                    "k": args.anomaly_k,
                    "scored_groups": rep.count(),
                }
            )
        )
        return 0

    rules = None
    if args.suggest_from_parts:
        from lk_data_test_spark.operators import constraints as _C
        from lk_data_test_spark.operators.suggest import suggest_constraints
        from lk_data_test_spark.plans.rules import default_rules

        vetted = [int(p) for p in args.suggest_from_parts.split(",")]
        ref = PartitionedTable(seq_path).read_partitions(spark, vetted)
        cons = _C.from_suggestions(
            suggest_constraints(ref, columns=["n_tok", "source"])
        )
        print(
            f"  suggested {len(cons)} constraints from parts {vetted}: "
            + ", ".join(c.constraint_id for c in cons),
            file=sys.stderr,
        )
        rules = default_rules() + [_C.constraint_rule(cons)]

    if args.extra_rules:
        from lk_data_test_spark.plans.rules import default_rules, optional_rules

        rules = (rules if rules is not None else default_rules()) + optional_rules(
            [n.strip() for n in args.extra_rules.split(",") if n.strip()]
        )

    runner = ValidationRunner(
        spark,
        PartitionedTable(seq_path, tolerate_corrupt=args.ignore_corrupt_files),
        allowed_sources=dimension(spark, allowed_path),
        reference_profiles=dimension(spark, profiles_path),
        rules=rules,
        output_dir=os.path.join(args.data_dir, "validation_out"),
        params=params,
    )
    run_times = []
    for i in range(max(1, args.repeat)):
        # repeated runs must all validate the full table (no manifest skips)
        force = args.force or args.repeat > 1
        t0 = time.time()
        res = runner.run(force=force)
        run_times.append(round(time.time() - t0, 2))
        if args.repeat > 1:
            print(f"  run {i + 1}/{args.repeat}: {run_times[-1]}s", file=sys.stderr)
    elapsed = run_times[-1]

    for v in sorted(res.verdicts, key=lambda v: (v["rule_id"], v["part_id"])):
        print(
            f"  part={v['part_id']:>4} rule={v['rule_id']:<14} "
            f"{'PASS' if v['passed'] else 'FAIL'} metric={v['metric']:.4f}",
            file=sys.stderr,
        )
    n_viol = res.violations.count()
    summary = {
        "ran_parts": len(res.ran_parts),
        "skipped_parts": len(res.skipped_parts),
        "rows_validated": res.rows_validated,
        "violations": n_viol,
        "failed_partitions": sorted(
            {v["part_id"] for v in res.verdicts if not v["passed"]}
        ),
        "elapsed_sec": round(elapsed, 2),
        "sequences_per_sec": round(res.rows_validated / elapsed, 1) if elapsed else 0,
        "run_times_sec": run_times,
        # per-rule wall-to-verdict latencies (rules overlap; not a sum)
        "rule_secs": res.extras.get("rule_secs", {}),
    }
    print(json.dumps(summary))
    return 0


if __name__ == "__main__":
    sys.exit(main())
