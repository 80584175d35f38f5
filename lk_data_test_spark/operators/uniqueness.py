"""R2 — doc_id uniqueness: one HyperLogLog sketch screen + exact hashed fallback.

Reference semantics: Counter-based duplicate detection, report keys with
count > 1 (``/root/reference/curation/check_fackel_references.py:32,55``,
``scripts/archiv/fackel_text_matches.py:36-39`` — the checked-in golden
``AmbiguousFackelReferences.txt`` is exactly this "key + amount>1" report).

Scale design: an exact count-distinct over 10^12 doc_ids is a massive
shuffle, so:
1. STATE (``sketch_state``): ONE aggregation pass gives every partition a
   (row count, Datasketches HLL sketch, estimate) triple
   (``F.hll_sketch_agg`` / ``hll_sketch_estimate``; map-side mergeable, no
   row shuffle). lgConfigK follows from rsd by Spark's HLL++ precision
   formula, ``ceil(2*log2(1.106/rsd))`` (``lg_config_k``): 14, ~0.8%
   relative error, at the default rsd 0.01.
2. SCREEN (``screen``): partitions whose estimate is more than 3*rsd below
   their row count are *flagged*.
3. EXACT (flagged partitions only, partition-pruned scan): ONE
   aggregation by (part_id, doc_id) with the count, ``min(source)`` and
   ``min(n_tok)``, kept where count > 1. The per-partition verdict counts
   come from one collect of it; the violation rows stay a lazy, uncached
   plan over the same aggregation.

The sketches UNION (``union_state``): the rows add and the union's sketch
is the sketch of all rows, so the incremental store
(``plans/incremental_stats.py``) gives ``part_verdicts`` its stored
sketches unioned with an append's, with no scan of the old rows.

The screen can miss duplicate rates below its resolution (~3*rsd); callers
needing certainty set params ``{"uniqueness": {"always_exact": True}}`` which
skips the screen. At the default rsd duplicate rates >=3% are reliably
caught; the sketch is deterministic for a given dataset. Every verdict row
records which path produced it (``detail`` = ``path=screen`` |
``path=exact``), so a pass that rests on the screen alone is auditable
downstream rather than indistinguishable from an exact pass.

GLOBAL scope (``params={"uniqueness": {"scope": "global"}}``): the default
partition scope cannot see a doc_id duplicated ACROSS partitions — the common
real-world corruption (re-ingested shards, overlapping dumps). Global scope
screens the same per-partition state: the per-partition estimates screen for
local duplicates exactly as before, while

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

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..plans.rules import (
    VIOLATION_SCHEMA, RuleContext, RuleResult, Verdict, local_frame, parts_to_judge,
    verdict_frame,
)

RULE_ID = "uniqueness"

DEFAULTS = {
    "rsd": 0.01,
    "always_exact": False,
    # "partition": duplicates counted within each partition (the reference's
    # Counter-per-report semantics). "global": duplicates counted across the
    # whole table, attributed back to every partition holding the id.
    "scope": "partition",
}

# the lgConfigK values Spark's Datasketches HLL functions accept
LG_K_MIN, LG_K_MAX = 4, 21

# (rows, HLL sketch bytes, estimate) of one partition; (0, b"", 0.0) when
# the partition has no rows
State = tuple[int, bytes, float]


def lg_config_k(rsd: float) -> int:
    """lgConfigK of the screen's sketch for relative standard deviation
    ``rsd``: Spark's HLL++ precision formula, ceil(2*log2(1.106/rsd)) — 14 at
    rsd 0.01, 16 at 0.005. An rsd that needs a lgConfigK outside the range
    the sketch functions accept raises here, before any job runs."""
    k = math.ceil(2.0 * math.log(1.106 / rsd) / math.log(2.0)) if rsd > 0 else 0
    if not LG_K_MIN <= k <= LG_K_MAX:
        raise ValueError(
            f"uniqueness rsd={rsd!r} is out of range: lgConfigK = "
            f"ceil(2*log2(1.106/rsd)) must lie in {LG_K_MIN}-{LG_K_MAX}"
        )
    return k


def sketch_state(df: DataFrame, lg_k: int) -> dict[int, State]:
    """ONE aggregation pass over ``df``'s rows -> {part_id: (rows, sketch,
    estimate)}. Everything after it is driver work over n_parts tiny rows."""
    rows = (
        df.groupBy("part_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.hll_sketch_agg("doc_id", F.lit(lg_k)).alias("sk"),
        )
        .select("part_id", "n", "sk", F.hll_sketch_estimate("sk").alias("est"))
        .collect()
    )
    return {
        int(r["part_id"]): (int(r["n"]), bytes(r["sk"]), float(r["est"]))
        for r in rows
    }


def union_state(
    spark: SparkSession, parts: dict[int, list[tuple[int, bytes]]]
) -> dict[int, State]:
    """Per key, the state of a list of (rows, sketch) pairs: the rows add,
    the sketches union, the estimate is the union's. One tiny job over the
    serialized sketches, never a scan of rows; none when there is no
    sketch."""
    data = [(k, sk) for k, pairs in parts.items() for _, sk in pairs if sk]
    got = {}
    if data:
        got = {
            int(r["k"]): (bytes(r["u"]), float(r["est"]))
            for r in local_frame(spark, data, "k int, sk binary")
            .groupBy("k")
            .agg(F.hll_union_agg("sk").alias("u"))
            .select("k", "u", F.hll_sketch_estimate("u").alias("est"))
            .collect()
        }
    return {
        k: (sum(n for n, _ in pairs), *got.get(k, (b"", 0.0)))
        for k, pairs in parts.items()
    }


def screen(
    spark: SparkSession, state: dict[int, State], rsd: float, scope: str, every
) -> set[int]:
    """The partitions that need the exact pass: those whose estimate is more
    than 3*rsd below their row count; at global scope all of ``every`` when
    the union of the sketches falls more than 3*rsd*rows below the sum of
    their estimates (ids in more than one partition). Each estimate carries
    ~rsd relative error, so the cross band mirrors the local one."""
    flagged = {
        pid for pid, (n, _, est) in state.items() if est < n * (1.0 - 3.0 * rsd)
    }
    if scope == "global" and state:
        total = sum(n for n, _, _ in state.values())
        sum_est = sum(est for _, _, est in state.values())
        pairs = [(n, sk) for n, sk, _ in state.values()]
        union_est = union_state(spark, {0: pairs})[0][2]
        if sum_est - union_est > 3.0 * rsd * total:
            return set(every)
    return flagged


def duplicate_doc_ids(df: DataFrame) -> DataFrame:
    """Exact duplicates in ONE aggregation -> (part_id, doc_id, dup_count,
    source, n_tok). Grouping by the real ``doc_id`` is exact, so no
    collision step follows; the scan is the flagged partitions only."""
    return (
        df.groupBy("part_id", "doc_id")
        .agg(
            F.count(F.lit(1)).alias("dup_count"),
            F.min("source").alias("source"),
            F.min("n_tok").alias("n_tok"),
        )
        .filter(F.col("dup_count") > 1)
    )


def global_duplicate_doc_ids(df: DataFrame) -> DataFrame:
    """Exact CROSS-partition duplicates -> (part_id, doc_id, dup_count,
    global_count, n_parts, source, n_tok): one row per (partition, duplicated
    id), carrying the id's corpus-wide count and partition span.

    Hash-first, unlike the partition-scope pass: this one reads the whole
    table, so its first shuffle groups the 8-byte ``xxhash64`` instead of
    the full string, and only the rows whose hash repeats go on to the
    exact re-grouping by ``doc_id``."""
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


def verdict(metric: float, detail: str) -> Verdict:
    """A partition's verdict from its exact duplicate count (0 when the
    screen cleared it): it passes at 0."""
    return (metric == 0.0, metric, 0.0, detail)


def part_verdicts(
    spark: SparkSession, state: dict[int, State], p: dict, read, part_ids,
    known: dict[int, float] | None = None,
) -> tuple[dict[int, Verdict], DataFrame]:
    """Each partition's verdict under the resolved params ``p``. The screen
    of ``state`` (every partition with ``always_exact``) picks the exact
    partitions, the exact pass reads ``read(part_ids)``, and its
    duplicate-key count is the metric. At partition scope that count
    depends on the partition's files alone, so a partition in ``known``
    (part_id -> count for the same files) is not read again; a global count
    depends on every partition scanned with it. -> (verdicts, the duplicate
    rows in ``VIOLATION_SCHEMA``: a lazy plan, not cached, so no later call
    is served this call's answer)."""
    exact = (
        set(part_ids)
        if p["always_exact"]
        else screen(spark, state, p["rsd"], p["scope"], part_ids)
    )
    if p["scope"] == "global":
        exact_pass, suffix, known = global_duplicate_doc_ids, " scope=global", None
        detail = F.format_string(
            "duplicate doc_id global_count=%d parts=%d", "global_count", "n_parts"
        )
    else:
        exact_pass, suffix = duplicate_doc_ids, ""
        detail = F.format_string("duplicate doc_id count=%d", "dup_count")
    metric = {pid: float(n) for pid, n in (known or {}).items() if pid in exact}
    need = sorted(exact - set(metric))
    dups = exact_pass(read(need)) if need else None
    if dups is not None:
        # ONE collect of the per-partition duplicate-key counts
        counts = dups.groupBy("part_id").agg(F.count(F.lit(1)).alias("n"))
        metric.update((int(r["part_id"]), float(r["n"])) for r in counts.collect())
    # provenance: 'path=screen' means the pass rests on the sketch screen
    # alone (resolution ~3*rsd)
    verdicts = {
        pid: verdict(
            metric.get(pid, 0.0),
            ("path=exact" if pid in exact else "path=screen") + suffix,
        )
        for pid in part_ids
    }
    if dups is None:
        return verdicts, local_frame(spark, [], VIOLATION_SCHEMA)
    return verdicts, dups.select(
        F.col("part_id").cast("int"),
        F.lit(RULE_ID).alias("rule_id"),
        "doc_id",
        "source",
        F.col("n_tok").cast("int"),
        detail.alias("detail"),
    )


def evaluate(df: DataFrame, ctx: RuleContext) -> RuleResult:
    p = {**DEFAULTS, **ctx.params.get(RULE_ID, {})}
    lg_k = lg_config_k(p["rsd"])
    state = found = {} if p["always_exact"] else sketch_state(df, lg_k)
    if p["always_exact"] and ctx.part_ids is None:
        found = [r[0] for r in df.select("part_id").distinct().collect()]
    part_ids = parts_to_judge(ctx, found)

    def read(pids):
        # no pruning when every partition is exact: at global scope
        # duplicates may straddle any pair
        if set(pids) == set(part_ids):
            return df
        return df.filter(F.col("part_id").isin(pids))

    verdicts, violations = part_verdicts(ctx.spark, state, p, read, part_ids)
    return RuleResult(verdict_frame(ctx, RULE_ID, verdicts), violations)
