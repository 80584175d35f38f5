"""R2 — doc_id uniqueness: HyperLogLog screen + exact hashed fallback.

Reference semantics: Counter-based duplicate detection, report keys with
count > 1 (``/root/reference/curation/check_fackel_references.py:32,55``,
``scripts/archiv/fackel_text_matches.py:36-39`` — the checked-in golden
``AmbiguousFackelReferences.txt`` is exactly this "key + amount>1" report).

Scale design: an exact count-distinct over 10^12 doc_ids is a massive
shuffle, so:
1. SCREEN: per partition, ``count(*)`` vs ``approx_count_distinct(doc_id,
   rsd)`` (HLL++, map-side mergeable, no row shuffle). Partitions where the
   HLL estimate is more than 2*rsd below the row count are *flagged*.
2. EXACT (flagged partitions only, partition-pruned scan):
   a. group by ``xxhash64(doc_id)`` (8-byte shuffle key instead of the full
      string) and keep hashes with count > 1;
   b. semi-join the fact rows of those hashes (tiny set) and re-group by the
      real ``doc_id`` to eliminate hash collisions and emit exact duplicate
      keys with their counts.

The screen can miss duplicate rates below its resolution (~3*rsd); callers
needing certainty set params ``{"uniqueness": {"always_exact": True}}`` which
skips the screen. rsd defaults to 0.01 (HLL++ p=14; rsd<=0.005 switches Spark
to a 10x slower sort-based aggregation path — measured), so duplicate rates
>=3% are reliably caught; the HLL sketch is deterministic for a given dataset.
Every verdict row records which path produced it (``detail`` =
``path=screen`` | ``path=exact``), so a pass that rests on the screen alone is
auditable downstream rather than indistinguishable from an exact pass.

GLOBAL scope (``params={"uniqueness": {"scope": "global"}}``): the default
partition scope cannot see a doc_id duplicated ACROSS partitions — the common
real-world corruption (re-ingested shards, overlapping dumps). Global scope
keeps the one-pass screen economics via sketch mergeability (Datasketches HLL,
``F.hll_sketch_agg`` / ``hll_union_agg``): ONE aggregation pass yields a
per-partition (row count, HLL sketch) pair; the per-partition estimates screen
for local duplicates exactly as before, while

    sum(per-partition estimates) - estimate(union of sketches)

estimates the number of ids living in MORE THAN ONE partition — at zero extra
scan cost, because the union is a driver-submitted job over n_parts serialized
sketches, never a second pass over rows. Only when that cross signal exceeds
``3 * rsd * total_rows`` does the exact pass widen to the whole table
(duplicates may straddle any partition pair, so no pruning is sound); local-only
flags still prune to the flagged partitions. The exact pass groups the 8-byte
``xxhash64`` WITHOUT part_id, then attributes each globally-duplicated id back
to every partition holding it; verdicts carry ``scope=global`` provenance and
violations record ``global_count`` and the number of partitions the id spans.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..plans.rules import VERDICT_SCHEMA, RuleContext, RuleResult, local_frame

RULE_ID = "uniqueness"

DEFAULTS = {
    "rsd": 0.01,
    "always_exact": False,
    # "partition": duplicates counted within each partition (the reference's
    # Counter-per-report semantics). "global": duplicates counted across the
    # whole table, attributed back to every partition holding the id.
    "scope": "partition",
    # lgConfigK of the Datasketches HLL sketch used by the global screen
    # (~0.8% relative error at 14 — inside the rsd=0.01 band).
    "lg_k": 14,
}


# Estimated input bytes per map task of the HLL screen. At rsd 0.01 the
# HLL++ buffer is 1,639 words per group, and every map task generates its
# update and merge projections over all of them before it reads a row
# (~0.25 s of CPU per task on a 4-core VM). The screen reads only (part_id,
# doc_id), so it packs its scan into few large tasks instead of Spark's
# default of at least one task per core.
SCREEN_BYTES_PER_TASK = 1 << 30


def _screen_input(ids: DataFrame) -> DataFrame:
    """``ids`` coalesced to one partition per ``SCREEN_BYTES_PER_TASK`` of
    the optimizer's size estimate. HLL++ registers merge by max, so the
    estimates do not depend on how the rows are split."""
    stats = ids._jdf.queryExecution().optimizedPlan().stats()
    est = int(str(stats.sizeInBytes()))
    return ids.coalesce(max(1, -(-est // SCREEN_BYTES_PER_TASK)))


def duplicate_doc_ids(df: DataFrame) -> DataFrame:
    """Exact duplicates via the hash-first pattern -> (part_id, doc_id, dup_count,
    source, n_tok)."""
    hashed = df.select("part_id", F.xxhash64("doc_id").alias("h"))
    dup_hashes = (
        hashed.groupBy("part_id", "h")
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") > 1)
        .select("part_id", "h")
    )
    candidates = df.withColumn("h", F.xxhash64("doc_id")).join(
        dup_hashes, ["part_id", "h"], "left_semi"
    )
    return (
        candidates.groupBy("part_id", "doc_id")
        .agg(
            F.count(F.lit(1)).alias("dup_count"),
            F.min("source").alias("source"),
            F.min("n_tok").alias("n_tok"),
        )
        .filter(F.col("dup_count") > 1)
    )


def global_duplicate_doc_ids(df: DataFrame) -> DataFrame:
    """Exact CROSS-partition duplicates via the same hash-first pattern, but
    grouping the 8-byte hash WITHOUT part_id -> (part_id, doc_id, dup_count,
    global_count, n_parts, source, n_tok): one row per (partition, duplicated
    id), carrying the id's corpus-wide count and partition span."""
    hashed = df.select(F.xxhash64("doc_id").alias("h"))
    dup_hashes = (
        hashed.groupBy("h")
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") > 1)
        .select("h")
    )
    candidates = df.withColumn("h", F.xxhash64("doc_id")).join(
        dup_hashes, ["h"], "left_semi"
    )
    # candidates is tiny (only rows whose hash repeats corpus-wide), so the
    # exact re-groups below shuffle a bounded set, never the fact table
    global_counts = (
        candidates.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("global_count"),
            F.count_distinct("part_id").alias("n_parts"),
        )
        .filter(F.col("global_count") > 1)  # drops pure hash collisions
    )
    per_part = candidates.groupBy("part_id", "doc_id").agg(
        F.count(F.lit(1)).alias("dup_count"),
        F.min("source").alias("source"),
        F.min("n_tok").alias("n_tok"),
    )
    return per_part.join(global_counts, "doc_id")


def _verdicts_from_dups(
    df: DataFrame,
    ctx: RuleContext,
    dups: DataFrame,
    exact_parts: set[int],
    exact_detail: str,
    screen_detail: str,
) -> DataFrame:
    """ONE collect of the per-partition duplicate-key counts (tiny: <=
    n_parts rows) -> the verdict table as a local relation. The earlier
    skeleton-join form ran the cached dup plan twice per suite run (once
    here, once for the runner's verdict collect) — r6 collect-once pattern
    shared with column_stats / token_bounds."""
    metrics = {
        int(r["part_id"]): float(r["metric"])
        for r in dups.groupBy("part_id")
        .agg(F.count(F.lit(1)).cast("double").alias("metric"))
        .collect()
    }
    if ctx.part_ids is not None:
        part_ids = sorted(int(x) for x in ctx.part_ids)
    else:
        part_ids = sorted(
            int(r["part_id"])
            for r in df.select(F.col("part_id").cast("int"))
            .distinct()
            .collect()
        )
    return local_frame(
        ctx.spark,
        [
            (
                pid,
                RULE_ID,
                metrics.get(pid, 0.0) == 0.0,
                metrics.get(pid, 0.0),
                0.0,
                exact_detail if pid in exact_parts else screen_detail,
            )
            for pid in part_ids
        ],
        VERDICT_SCHEMA,
    )


def _all_part_ids(df: DataFrame, ctx: RuleContext) -> set[int]:
    if ctx.part_ids is not None:
        return {int(x) for x in ctx.part_ids}
    return {
        int(r["part_id"])
        for r in df.select("part_id").distinct().collect()
    }


def _evaluate_global(df: DataFrame, ctx: RuleContext, p: dict) -> RuleResult:
    ids = df.select("part_id", "doc_id")
    rsd = p["rsd"]

    exact_parts: set[int]
    if p["always_exact"]:
        scoped = df
        exact_parts = _all_part_ids(df, ctx)
    else:
        # ONE pass over the fact rows: per-partition count + mergeable HLL
        # sketch. Everything after is driver work over n_parts tiny rows.
        per = ids.groupBy("part_id").agg(
            F.count(F.lit(1)).alias("cnt"),
            F.hll_sketch_agg("doc_id", F.lit(int(p["lg_k"]))).alias("sk"),
        )
        rows = per.select(
            "part_id", "cnt", F.hll_sketch_estimate("sk").alias("est"), "sk"
        ).collect()
        total = sum(int(r["cnt"]) for r in rows)
        sum_est = sum(float(r["est"]) for r in rows)
        # union the serialized sketches: a driver-submitted job over n_parts
        # rows — NOT a second scan of the table
        union_est = 0.0
        if rows:
            union_est = float(
                ctx.spark.createDataFrame(
                    [(bytes(r["sk"]),) for r in rows], "sk binary"
                )
                .agg(F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("u"))
                .collect()[0]["u"]
            )
        local_flagged = {
            int(r["part_id"])
            for r in rows
            if float(r["est"]) < int(r["cnt"]) * (1.0 - 3.0 * rsd)
        }
        # ids present in >1 partition shrink the union relative to the sum
        # of per-partition estimates; each estimate carries ~rsd relative
        # error, so the detection band mirrors the local screen's 3*rsd
        cross_flag = (sum_est - union_est) > 3.0 * rsd * total
        if cross_flag:
            scoped = df  # duplicates may straddle ANY pair — no pruning
            exact_parts = _all_part_ids(df, ctx)
        elif local_flagged:
            scoped = df.filter(F.col("part_id").isin(sorted(local_flagged)))
            exact_parts = local_flagged
        else:
            scoped = df.filter(F.lit(False))
            exact_parts = set()

    dups = global_duplicate_doc_ids(scoped).cache()

    violations = dups.select(
        F.col("part_id").cast("int"),
        F.lit(RULE_ID).alias("rule_id"),
        "doc_id",
        "source",
        F.col("n_tok").cast("int"),
        F.format_string(
            "duplicate doc_id global_count=%d parts=%d",
            F.col("global_count"),
            F.col("n_parts"),
        ).alias("detail"),
    )

    verdicts = _verdicts_from_dups(
        df, ctx, dups, {int(x) for x in exact_parts},
        "path=exact scope=global", "path=screen scope=global",
    )
    return RuleResult(verdicts, violations)


def evaluate(df: DataFrame, ctx: RuleContext) -> RuleResult:
    p = {**DEFAULTS, **ctx.params.get(RULE_ID, {})}
    if p["scope"] == "global":
        return _evaluate_global(df, ctx, p)
    ids = df.select("part_id", "doc_id")

    exact_parts: set[int]  # partitions whose verdict comes from the exact path
    if p["always_exact"]:
        scoped = df  # exact path over everything
        exact_parts = set(
            ctx.part_ids
            if ctx.part_ids is not None
            else [r["part_id"] for r in ids.select("part_id").distinct().collect()]
        )
    else:
        screen = _screen_input(ids).groupBy("part_id").agg(
            F.count(F.lit(1)).alias("cnt"),
            F.approx_count_distinct("doc_id", p["rsd"]).alias("approx"),
        )
        flagged = [
            r["part_id"]
            for r in screen.filter(
                F.col("approx") < F.col("cnt") * (1.0 - 3.0 * p["rsd"])
            ).collect()
        ]
        scoped = df.filter(
            F.col("part_id").isin(flagged) if flagged else F.lit(False)
        )
        exact_parts = set(flagged)

    # tiny (one row per duplicated key); cache so violations + verdicts don't
    # re-run the hash-group plan
    dups = duplicate_doc_ids(scoped).cache()

    violations = dups.select(
        F.col("part_id").cast("int"),
        F.lit(RULE_ID).alias("rule_id"),
        "doc_id",
        "source",
        F.col("n_tok").cast("int"),
        F.format_string("duplicate doc_id count=%d", F.col("dup_count")).alias(
            "detail"
        ),
    )

    # provenance: which path produced this verdict — 'path=exact' means the
    # hash-group exact scan ran for the partition; 'path=screen' means the
    # pass rests on the HLL screen alone (resolution ~3*rsd — auditable
    # downstream instead of indistinguishable from an exact pass)
    verdicts = _verdicts_from_dups(
        df, ctx, dups, {int(x) for x in exact_parts},
        "path=exact", "path=screen",
    )
    return RuleResult(verdicts, violations)
