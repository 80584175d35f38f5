"""Unit tests: multimodal plumbing, string functions."""

from __future__ import annotations

import os

import numpy as np
import pytest

from pyspark.sql import functions as F

from lk_data_test_spark.functions.strings import (
    last_path_segment,
    normalize_string,
    slugify,
    strip_prefix,
    zero_pad,
)
from lk_data_test_spark.operators import multimodal


def test_multimodal_feature_plumbing(spark):
    assets = multimodal.synth_assets(spark, n=60)
    feats = multimodal.extract_features(assets)
    rows = feats.collect()
    assert len(rows) == 60
    assert all(len(r["feature"]) == 16 for r in rows)
    assert all(0.0 <= v <= 1.0 for r in rows for v in r["feature"])
    assert {r["modality"] for r in rows} == {"image", "audio", "video"}
    # deterministic: same asset -> same feature
    again = {r["asset_id"]: r["feature"] for r in multimodal.extract_features(
        multimodal.synth_assets(spark, n=60)).collect()}
    assert all(again[r["asset_id"]] == r["feature"] for r in rows)


def test_multimodal_decode_stub_raises():
    with pytest.raises(NotImplementedError):
        multimodal.decode_stub(b"xx", "image", real=True)


def test_frame_sample_fanout(spark):
    assets = multimodal.synth_assets(spark, n=30)
    frames = multimodal.frame_sample_plan(assets, every_n=2)
    rows = frames.collect()
    assert rows and all(r["frame_no"] % 2 == 0 for r in rows)


def test_string_functions(spark):
    df = spark.createDataFrame(
        [("  a   b  c ", "#pmb123", "https://X.com/a/b/", 7)],
        "s string, k string, u string, n int",
    )
    r = df.select(
        normalize_string(F.col("s")).alias("ns"),
        strip_prefix(F.col("k")).alias("sk"),
        last_path_segment(F.col("u")).alias("seg"),
        zero_pad(F.col("n"), 3).alias("zp"),
        slugify(F.col("s")).alias("slug"),
    ).collect()[0]
    assert r["ns"] == "a b c"
    assert r["sk"] == "pmb123"
    assert r["seg"] == ""  # trailing slash -> empty last segment
    assert r["zp"] == "007"
    assert r["slug"] == "a-b-c"


def test_extract_begin_end_per_side_parsing(spark):
    """Each side parses independently (round-1 ADVICE): a malformed end must
    NOT collapse to begin, a malformed begin must not null the end."""
    from lk_data_test_spark.functions.strings import extract_begin_end

    df = spark.createDataFrame(
        [
            ("2020-05-01 – 2020-06-01",),
            ("2020-05-01",),
            ("2020-05-01 – garbage",),
            ("garbage – 2020-06-01",),
            ("garbage",),
        ],
        "span string",
    )
    b, e = extract_begin_end(F.col("span"))
    rows = df.select(
        F.date_format(b, "yyyy-MM-dd").alias("b"),
        F.date_format(e, "yyyy-MM-dd").alias("e"),
    ).collect()
    assert [(r["b"], r["e"]) for r in rows] == [
        ("2020-05-01", "2020-06-01"),
        ("2020-05-01", "2020-05-01"),
        ("2020-05-01", None),
        (None, "2020-06-01"),
        (None, None),
    ]


def test_ivf_topk_recall_and_exactness(spark):
    """IVF ANN: probed-list scores are exact (match brute force for the same
    pair) and recall@5 vs brute force is healthy at n_probe=3 of 8 lists."""
    from lk_data_test_spark.operators import similarity

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    bf = similarity.brute_force_topk(emb, k=5, n_queries=10).collect()
    ivf = similarity.ivf_topk(
        emb, k=5, n_queries=10, n_centroids=8, n_probe=3
    ).collect()

    bf_cos = {(r["query_id"], r["neighbor_id"]): r["cosine"] for r in bf}
    bf_sets = {}
    for r in bf:
        bf_sets.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    ivf_sets = {}
    for r in ivf:
        ivf_sets.setdefault(r["query_id"], set()).add(r["neighbor_id"])
        # any overlap pair must carry the identical exact cosine
        key = (r["query_id"], r["neighbor_id"])
        if key in bf_cos:
            assert r["cosine"] == bf_cos[key]

    hits = sum(len(bf_sets[q] & ivf_sets.get(q, set())) for q in bf_sets)
    total = sum(len(s) for s in bf_sets.values())
    recall = hits / total
    assert recall >= 0.5, f"recall@5 = {recall:.2f}"


def test_kmeans_monotone_deterministic_and_balances_ivf(spark):
    """Spherical Lloyd's: the objective sum(max_c cos(x, c)) is monotone
    non-decreasing per round, refitting is bit-deterministic (seeded init +
    exact per-cluster sums), assignments cover every vector, and the trained
    quantizer never balances the inverted lists worse than the random one."""
    import numpy as np

    from lk_data_test_spark.operators import similarity

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    cents, hist = similarity.kmeans_fit(emb, n_clusters=8, n_iter=3)
    assert len(hist) == 3
    for prev, cur in zip(hist, hist[1:]):
        assert cur >= prev - 1e-9, f"objective regressed: {hist}"

    cents2, hist2 = similarity.kmeans_fit(emb, n_clusters=8, n_iter=3)
    assert hist == hist2
    assert np.array_equal(cents, cents2)

    assign = similarity.kmeans_assign(emb, cents)
    counts = {r["cluster"]: r["n_vecs"] for r in
              assign.groupBy("cluster").agg(
                  F.count(F.lit(1)).alias("n_vecs")).collect()}
    assert sum(counts.values()) == emb.count()

    rand = similarity.ivf_centroids(64, 8, 11)
    rand_counts = [
        r["n"]
        for r in similarity.kmeans_assign(emb, rand)
        .groupBy("cluster").agg(F.count(F.lit(1)).alias("n")).collect()
    ]
    # trained lists are no more skewed than random ones (max list size)
    assert max(counts.values()) <= max(rand_counts)


def test_plan_shapes(spark, corpus_dir):
    """The physical plans the engine depends on at 100 TB: partition-pruned
    scans, and dimension lookups that never shuffle the fact side."""
    from lk_data_test_spark.operators import referential
    from lk_data_test_spark.plans.rules import RuleContext
    from lk_data_test_spark.sources.catalog import PartitionedTable

    t = PartitionedTable(f"{corpus_dir}/sequences")
    pruned = t.read_partitions(spark, [0, 1])
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "part_id" in plan

    ctx = RuleContext(
        spark=spark,
        allowed_sources=spark.read.parquet(f"{corpus_dir}/allowed_sources"),
        part_ids=t.partition_ids(),
    )
    res = referential.evaluate(t.read(spark), ctx)
    vplan = res.violations._jdf.queryExecution().executedPlan().toString()
    # no join at all: the active sources are a hash-set IN filter over the
    # failing partitions' scan
    assert "Join" not in vplan and "Exchange" not in vplan
    assert "INSET" in vplan and "PartitionFilters" in vplan and "part_id" in vplan


def test_uniqueness_exact_pass_is_partition_pruned(spark, corpus_dir):
    """The exact duplicate pass must rescan ONLY the HLL-flagged partitions:
    its scan carries a part_id partition filter, so clean partitions' files
    are never opened twice."""
    from lk_data_test_spark.operators import uniqueness
    from lk_data_test_spark.plans.rules import RuleContext
    from lk_data_test_spark.sources.catalog import PartitionedTable

    t = PartitionedTable(f"{corpus_dir}/sequences")
    ctx = RuleContext(spark=spark, part_ids=t.partition_ids())
    res = uniqueness.evaluate(t.read(spark), ctx)
    plan = res.violations._jdf.queryExecution().executedPlan().toString()
    scans = [ln for ln in plan.splitlines() if "PartitionFilters" in ln]
    assert scans and all("part_id" in ln for ln in scans)


def test_bucketed_join_is_shuffle_free(spark, tmp_path):
    """Co-bucketed tables join with ZERO Exchange (the write paid the
    shuffle once); the identical join over the raw parquet re-shuffles both
    sides every run — the contrast the bucketing layout exists to remove."""
    from lk_data_test_spark.sources.bucketed import bucketed_join, write_bucketed

    a = spark.range(0, 1000).selectExpr("id", "id * 2 AS x")
    b = spark.range(0, 1000).selectExpr("id", "id * 3 AS y")
    write_bucketed(a, "bj_a", "id", 4, path=str(tmp_path / "bj_a"))
    write_bucketed(b, "bj_b", "id", 4, path=str(tmp_path / "bj_b"))

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        j = bucketed_join(spark, "bj_a", "bj_b", "id")
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan
        assert j.count() == 1000

        raw = spark.read.parquet(str(tmp_path / "bj_a")).join(
            spark.read.parquet(str(tmp_path / "bj_b")), "id"
        )
        raw_plan = raw._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" in raw_plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.sql("DROP TABLE IF EXISTS bj_a")
        spark.sql("DROP TABLE IF EXISTS bj_b")


def test_doc_word_windows_roundtrip(spark):
    """Chunking invariant: stride == width means the chunks of each doc
    reassemble exactly to its trimmed text (no dropped or duplicated
    words)."""
    from lk_data_test_spark.entry_queries import Q

    chunks = Q["doc_word_windows"](spark, "/root/testdata/sf0.001")
    rebuilt = {
        r["doc_id"]: r["t"]
        for r in chunks.groupBy("doc_id")
        .agg(
            F.concat_ws(
                " ", F.array_sort(F.collect_list(F.struct("window_idx", "chunk")))
                .getField("chunk")
            ).alias("t")
        )
        .collect()
    }
    orig = {
        r["doc_id"]: r["t"]
        for r in spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .filter(F.col("doc_id") < 100)
        .select("doc_id", F.trim(F.col("text")).alias("t"))
        .collect()
    }
    assert rebuilt == orig


def test_packed_char_bins_greedy_budget(spark):
    """Packing invariant: within every (source, bin), removing the largest
    doc leaves under the 2000-char budget (the defining property of the
    running-sum greedy packer), and bins are dense from 0 per source."""
    from lk_data_test_spark.entry_queries import Q

    bins = (
        Q["packed_char_bins"](spark, "/root/testdata/sf0.001")
        .groupBy("source", "bin")
        .agg(F.sum("n_chars").alias("total"), F.max("n_chars").alias("mx"))
    )
    rows = bins.collect()
    assert all(r["total"] - r["mx"] < 2000 for r in rows)
    by_source: dict[str, set[int]] = {}
    for r in rows:
        by_source.setdefault(r["source"], set()).add(r["bin"])
    for s, bs in by_source.items():
        assert bs == set(range(len(bs))), s


def test_hll_approx_distinct_within_error_bound(spark):
    """The HLL estimators the engine leans on stay within 3*rsd of exact on
    real column shapes (doc_id ~unique; source low-cardinality):
    approx_count_distinct at its default rsd=0.05 (constraint suggestion)
    and the uniqueness screen's Datasketches sketch at the lgConfigK its
    default rsd=0.01 derives."""
    from lk_data_test_spark.operators import uniqueness

    rsd = uniqueness.DEFAULTS["rsd"]
    lg_k = F.lit(uniqueness.lg_config_k(rsd))
    d = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    row = d.agg(
        F.approx_count_distinct("doc_id").alias("a_doc"),
        F.hll_sketch_estimate(F.hll_sketch_agg("doc_id", lg_k)).alias("s_doc"),
        F.countDistinct("doc_id").alias("e_doc"),
        F.approx_count_distinct("source").alias("a_src"),
        F.hll_sketch_estimate(F.hll_sketch_agg("source", lg_k)).alias("s_src"),
        F.countDistinct("source").alias("e_src"),
    ).collect()[0]
    assert abs(row["a_doc"] - row["e_doc"]) / row["e_doc"] <= 0.15
    assert abs(row["a_src"] - row["e_src"]) / row["e_src"] <= 0.15
    assert abs(row["s_doc"] - row["e_doc"]) / row["e_doc"] <= 3 * rsd
    assert abs(row["s_src"] - row["e_src"]) / row["e_src"] <= 3 * rsd


def test_scored_best_match_argmax_tiebreak_and_blocking(spark):
    """Best-match semantics: deterministic argmax per left doc (score desc,
    lowest right id on ties) and hot-shingle blocking — a left doc whose only
    shared shingle exceeds max_df gets NO match (the quadratic guard), it is
    absent rather than wrongly matched."""
    from lk_data_test_spark.operators.matching import scored_best_match

    left = spark.createDataFrame(
        [(1, "w x y z q r"), (2, "m n o p")], "doc_id long, text string"
    )
    right = spark.createDataFrame(
        [(11, "w x y z c d"), (10, "w x y z a b")]
        + [(20 + i, f"m n o t{i} u{i}") for i in range(9)],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: (r["match_id"], r["score"])
        for r in scored_best_match(
            left, right, n=3, max_df=3, min_score=2
        ).collect()
    }
    # doc 1 ties 10 vs 11 at score 2 -> lowest rid wins; doc 2's only shared
    # shingle "m n o" has df=10 > max_df -> blocked, no match emitted
    assert got == {1: (10, 2)}


def test_tolerate_corrupt_skips_bad_files(spark, tmp_path):
    """A truncated file in one partition aborts the default scan but is
    skipped under tolerate_corrupt — the 10^12-row suite must not die to one
    bad file; the lineage digest still changes so resume re-validates it."""
    import pytest as _pytest

    from lk_data_test_spark.sources.catalog import PartitionedTable

    root = str(tmp_path / "t")
    spark.createDataFrame(
        [(f"d{i}", 0) for i in range(10)], "doc_id string, part_id int"
    ).write.partitionBy("part_id").parquet(root)
    with open(os.path.join(root, "part_id=0", "junk.parquet"), "wb") as f:
        f.write(b"not a parquet file")

    with _pytest.raises(Exception):
        PartitionedTable(root).read(spark).count()
    t = PartitionedTable(root, tolerate_corrupt=True)
    assert t.read(spark).count() == 10
    # the corrupt file participates in the snapshot digest: its appearance
    # changed the partition lineage, so a manifest resume re-validates
    assert "junk.parquet" in t.partition_info(0).files


def test_cli_query_mode(spark, capsys):
    """--query runs one registry query end-to-end and prints a JSON line."""
    import json as _json

    from lk_data_test_spark.cli import main

    rc = main(
        ["--query", "event_type_counts", "--sf-dir", "/root/testdata/sf0.001"]
    )
    assert rc == 0
    out = capsys.readouterr().out.strip().splitlines()[-1]
    got = _json.loads(out)
    assert got["query"] == "event_type_counts" and got["rows"] == 5

    rc = main(["--query", "list"])
    assert rc == 0
    listing = capsys.readouterr().out
    assert "event_type_counts  [oracle]" in listing
    assert main(["--query", "nope_not_real"]) == 2


def test_cli_build_profiles_mode(spark, corpus_dir, tmp_path, capsys):
    """--build-profiles writes the drift reference-profile table from the
    chosen (vetted) partitions and prints a JSON line; the parquet round-trips
    with the schema the drift rule consumes."""
    import json as _json

    from lk_data_test_spark.cli import main

    out = str(tmp_path / "profiles")
    rc = main(
        [
            "--data-dir", corpus_dir,
            "--build-profiles", out,
            "--profile-parts", "0,5",
        ]
    )
    assert rc == 0
    got = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert got["built_profiles"] == out and got["from_parts"] == [0, 5]
    prof = spark.read.parquet(out)
    assert [f.name for f in prof.schema.fields] == [
        "source", "n_tok_quantiles", "token_freq"
    ]
    assert prof.count() == got["sources"] > 0


def test_cli_dimension_reread_runs_no_job(spark, corpus_dir, tmp_path):
    """The CLI reads its dimension tables through ``read_parquet``: a second
    read of the same unchanged directory runs no Spark job, and a missing
    optional table is None."""
    from lk_data_test_spark.cli import dimension

    path = os.path.join(corpus_dir, "allowed_sources")
    first = dimension(spark, path)
    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup(None))
    again = dimension(spark, path)
    assert set(tracker.getJobIdsForGroup(None)) == before
    assert again.schema == first.schema
    assert dimension(spark, str(tmp_path / "missing"), optional=True) is None


def test_no_cartesian_product_in_any_registry_plan(spark):
    """Global scale guard: NO registry query may plan a CartesianProduct,
    and NO registry query may plan a nested-loop join that streams the fact
    table EXCEPT the explicitly allowlisted evaluation baselines whose
    broadcast side is bounded by construction (embedding_topk broadcasts
    the fixed query set, never the corpus). A nested-loop join over an
    unbounded side degrades to a cartesian product the moment the build
    side outgrows the broadcast threshold — a 100 TB outage. Driver-
    coordinated iterative queries (kmeans, dup_clusters, the rule suite)
    are skipped — building them EXECUTES jobs; their shapes are asserted by
    their own tests."""
    import __spark_entry__ as entry

    eager = {
        "embedding_kmeans_clusters",
        "embedding_ann_ivf_trained",
        "embedding_pq_topk",
        "embedding_ivfpq_topk",
        "ann_recall_at5",
        "semantic_dedup_pairs",
        "built_reference_profiles",
        "dup_clusters",
        "validation_suite_verdicts",
        "global_uniqueness_verdicts",
    }
    # Nested-loop allowed ONLY here: the broadcast side is bounded by
    # construction, never corpus-sized.
    bnlj_allowed = {
        "embedding_topk",            # broadcast side = fixed query set
        "doc_source_drift",          # crossJoin w/ 1-row global-avg agg
        "source_mixture_weights",    # crossJoin w/ 1-row totals agg
        "partition_balance_report",  # crossJoin w/ 1-row totals agg
        "vocab_ids",                 # triangular join over <=n_parts rows
    }
    bad, bad_bnlj = [], []
    for name, fn in entry.queries().items():
        if name in eager:
            continue
        plan = (
            fn(spark, "/root/testdata/sf0.001")
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        if "CartesianProduct" in plan:
            bad.append(name)
        if "BroadcastNestedLoopJoin" in plan and name not in bnlj_allowed:
            bad_bnlj.append(name)
    assert not bad, f"cartesian product planned in: {bad}"
    assert not bad_bnlj, (
        f"nested-loop join planned outside the bounded allowlist: {bad_bnlj}"
    )


def test_no_unbounded_global_window_in_any_registry_plan(spark):
    """Global scale guard: NO registry query may plan a Window with an empty
    partition spec over unbounded input — that funnels the whole dataset
    through ONE task for the sort. An unpartitioned Window is allowed only
    when its subtree contains a Limit (orderBy+limit compiles to a
    distributed TakeOrderedAndProject, so the window sees <= k rows), or when
    it sits on the explicit allowlist of aggregated bounded-domain inputs."""
    import __spark_entry__ as entry

    eager = {
        "embedding_kmeans_clusters",
        "embedding_ann_ivf_trained",
        "embedding_pq_topk",
        "embedding_ivfpq_topk",
        "ann_recall_at5",
        "semantic_dedup_pairs",
        "built_reference_profiles",
        "dup_clusters",
        "validation_suite_verdicts",
        "global_uniqueness_verdicts",
    }
    # priority_surrogate_keys: window input is the DISTINCT 5-value priority
    # enum (aggregated before ranking) — bounded by the dimension domain.
    allow = {"priority_surrogate_keys"}

    def nodes(p):
        yield p
        for i in range(p.children().size()):
            yield from nodes(p.children().apply(i))

    def has_limit(p):
        return any(
            n.nodeName() in ("GlobalLimit", "LocalLimit") for n in nodes(p)
        )

    bad = []
    for name, fn in entry.queries().items():
        if name in eager or name in allow:
            continue
        opt = (
            fn(spark, "/root/testdata/sf0.001")
            ._jdf.queryExecution()
            .optimizedPlan()
        )
        for n in nodes(opt):
            if n.nodeName() == "Window" and n.partitionSpec().size() == 0:
                if not has_limit(n):
                    bad.append(name)
                    break
    assert not bad, f"unbounded global window planned in: {bad}"


def test_sketch_quartiles_close_to_exact(spark):
    """The scale-default equi-depth quartiles (approx_percentile boundaries +
    broadcast classify — no per-group full sort) must put within 5% of each
    language's mass in every bucket vs the exact ntile form, and its plan
    must contain no Window at all."""
    import __spark_entry__ as entry

    sf = "/root/testdata/sf0.001"
    sketch = entry.queries()["chars_quartiles_by_lang_sketch"](spark, sf)
    assert "Window" not in sketch._jdf.queryExecution().executedPlan().toString()
    rows = sketch.collect()
    totals: dict[str, int] = {}
    for r in rows:
        totals[r["lang"]] = totals.get(r["lang"], 0) + r["n"]
    for r in rows:
        share = r["n"] / totals[r["lang"]]
        assert abs(share - 0.25) < 0.05, (
            f"{r['lang']} q{r['quartile']}: share {share:.3f}"
        )
    # exact and sketch agree on per-lang totals
    exact = entry.queries()["chars_quartiles_by_lang"](spark, sf).collect()
    exact_totals: dict[str, int] = {}
    for r in exact:
        exact_totals[r["lang"]] = exact_totals.get(r["lang"], 0) + r["n"]
    assert totals == exact_totals


def test_sketch_event_quantiles_close_to_exact(spark):
    """approx_percentile (bounded mergeable sketch) vs exact percentile():
    per-group quantile error within 1% of the group's value range; no
    buffering aggregate in the plan."""
    import __spark_entry__ as entry

    sf = "/root/testdata/sf0.001"
    exact = {
        r["event_type"]: (r["q25_cents"], r["q50_cents"], r["q75_cents"])
        for r in entry.queries()["event_value_quantiles"](spark, sf).collect()
    }
    sketch = {
        r["event_type"]: (r["q25_cents"], r["q50_cents"], r["q75_cents"])
        for r in entry.queries()["event_value_quantiles_sketch"](
            spark, sf
        ).collect()
    }
    assert set(exact) == set(sketch)
    for et, ev in exact.items():
        spread = max(1.0, ev[2] - ev[0])
        for a, b in zip(ev, sketch[et]):
            assert abs(a - b) <= 0.01 * spread + 1.0, (et, ev, sketch[et])


def test_ann_recall_floor(spark):
    """ANN quality gate: mean recall@5 of EVERY registry ANN path against
    the exact brute-force baseline must clear its per-method floor
    (measured at sf0.001 with the shipped parameters: lsh 0.86, ivf 0.56,
    ivf_trained 0.68, pq 0.92, ivfpq 0.80 — floors sit a noise margin
    below). The `ann_recall_at5` registry query keeps the same numbers
    driver-visible each round, 50 rows = 5 methods x 10 queries."""
    import __spark_entry__ as entry

    rows = entry.queries()["ann_recall_at5"](
        spark, "/root/testdata/sf0.001"
    ).collect()
    by_method: dict[str, list[float]] = {}
    for r in rows:
        by_method.setdefault(r["method"], []).append(r["recall"])
    floors = {
        "lsh": 0.7, "ivf": 0.5, "ivf_trained": 0.6, "pq": 0.8, "ivfpq": 0.75,
    }
    assert set(by_method) == set(floors)
    assert all(len(v) == 10 for v in by_method.values())
    for m, floor in floors.items():
        mean = sum(by_method[m]) / len(by_method[m])
        assert mean >= floor, f"{m} mean recall {mean:.2f} < {floor}"


def test_bigram_udtf_matches_jvm_path(spark):
    """The Python-UDTF lateral-TVF surface (custom 1->N fan-out beyond what
    explode expresses) produces the same bigram counts as the JVM indexed-
    transform path on the same sample. The UDTF is the API demo; the JVM
    path is what bigram_top15 ships at scale (per-row Python stays out of
    full-corpus plans)."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="bigram: string")
    class Bigrams:
        def eval(self, text: str):
            ws = text.strip().split(" ")
            for a, b in zip(ws, ws[1:]):
                yield (f"{a} {b}",)

    spark.udtf.register("bigrams", Bigrams)
    d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").filter(
        F.col("doc_id") < 50
    )
    d.createOrReplaceTempView("udtf_docs")
    got = {
        (r["bigram"], r["n"])
        for r in spark.sql(
            "SELECT b.bigram, count(*) AS n FROM udtf_docs d,"
            " LATERAL bigrams(d.text) b GROUP BY b.bigram"
        ).collect()
    }

    words = F.split(F.trim(F.col("text")), " ")
    bigrams = F.transform(
        F.slice(words, 1, F.size(words) - 1),
        lambda x, i: F.concat_ws(" ", x, F.element_at(words, i + 2)),
    )
    jvm = {
        (r["bigram"], r["n"])
        for r in d.select(F.explode(bigrams).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert got == jvm and len(jvm) > 50


def test_salted_join_matches_plain_join(spark):
    """Salted hot-key join is row-identical to the plain equi-join for inner
    AND left joins (incl. unmatched fact rows), and the physical shuffle is
    keyed on (key, salt) so a hot key fans over n_salts reducers."""
    from lk_data_test_spark.operators.skew import SALT_COL, salted_join

    fact = spark.createDataFrame(
        [(i, "hot" if i % 10 else f"k{i}") for i in range(500)]
        + [(1000, "orphan")],
        "row_id long, key string",
    )
    dim = spark.createDataFrame(
        [("hot", 1), ("k10", 2), ("k20", 3)], "key string, val int"
    )

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        for how in ("inner", "left"):
            plain = sorted(
                (r["row_id"], r["val"])
                for r in fact.join(dim, "key", how).collect()
            )
            salted = salted_join(
                fact, dim, "key", salt_from=["row_id"], n_salts=8, how=how
            )
            got = sorted((r["row_id"], r["val"]) for r in salted.collect())
            assert got == plain, how
        plan = salted._jdf.queryExecution().executedPlan().toString()
        assert SALT_COL in plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_dup_clusters_known_graph(spark):
    """Connected components on a known graph: two chains and a singleton-free
    pair; labels converge to the min doc_id per component."""
    from lk_data_test_spark.operators.dedup import dup_clusters

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21), (21, 22)],
        "doc_a long, doc_b long",
    )
    got = {r["doc_id"]: r["component"] for r in dup_clusters(pairs).collect()}
    assert got == {
        1: 1, 2: 1, 3: 1, 4: 1,
        10: 10, 11: 10,
        20: 20, 21: 20, 22: 20,
    }


def test_dup_clusters_long_chain_and_nonconvergence_signal(spark):
    """Pointer jumping collapses a 33-node chain (diameter 32) in far fewer
    rounds than its diameter; with max_iter=1 the non-fixpoint exit must
    raise instead of silently returning wrong labels (round-1 ADVICE)."""
    import pytest as _pytest

    from lk_data_test_spark.operators.dedup import dup_clusters

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(100, 132)], "doc_a long, doc_b long"
    )
    got = {r["doc_id"]: r["component"] for r in dup_clusters(chain, max_iter=8).collect()}
    assert got == {i: 100 for i in range(100, 133)}

    with _pytest.raises(RuntimeError, match="did not converge"):
        dup_clusters(chain, max_iter=1)


def test_asof_join_semantics_and_plan(spark):
    """At-or-before matching incl. the equal-timestamp tie (right row wins at
    its own timestamp), null when nothing precedes, and the union-window
    rewrite stays ONE hash-partitioning shuffle (no range-join blowup)."""
    from lk_data_test_spark.operators.temporal import asof_join

    left = spark.createDataFrame(
        [(1, 5, "a"), (1, 10, "b"), (1, 3, "c"), (2, 7, "d")],
        "k long, t long, tag string",
    )
    right = spark.createDataFrame(
        [(1, 4, 100), (1, 10, 200), (3, 1, 300)], "k long, t long, val long"
    )
    out = asof_join(left, right, on="k", left_ts="t", right_ts="t",
                    right_cols=["val"])
    got = {r["tag"]: r["val"] for r in out.collect()}
    assert got == {
        "a": 100,   # t=5 -> last right at 4
        "b": 200,   # t=10 -> right at 10 matches (at-or-before includes equal)
        "c": None,  # t=3 -> nothing at or before
        "d": None,  # key 2 has no right rows
    }
    plan = out._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]  # AQE echoes the initial plan
    assert final.count("hashpartitioning") == 1
    assert "CartesianProduct" not in final
    assert "BroadcastNestedLoop" not in final

    with pytest.raises(ValueError, match="collide"):
        asof_join(left, right, on="k", left_ts="t", right_ts="t",
                  right_cols=["tag"])


def test_sessionize_gap_boundary(spark):
    """A gap of exactly gap_sec stays in-session (strict >); one micro more
    starts a new one; sessions are per-user."""
    import datetime as dt

    from lk_data_test_spark.operators.temporal import sessionize

    t0 = dt.datetime(2024, 1, 1)
    rows = [
        (1, t0, 1),
        (1, t0 + dt.timedelta(seconds=1800), 2),                    # exact gap
        (1, t0 + dt.timedelta(seconds=3600, microseconds=1), 3),    # gap + 1us
        (2, t0, 4),
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp, event_id long")
    got = {
        r["event_id"]: r["session_idx"]
        for r in sessionize(df, gap_sec=1800).collect()
    }
    assert got == {1: 1, 2: 1, 3: 2, 4: 1}


def test_sessionize_agrees_with_builtin_session_window(spark):
    """Two independent sessionization implementations agree on real data:
    the batch lag-gap operator and Spark's built-in session_window produce
    the same per-user session counts (boundary semantics differ only at
    gaps EXACTLY equal to the gap — measure-zero on microsecond data)."""
    from pyspark.sql import functions as F

    from lk_data_test_spark.operators.temporal import sessionize

    e = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    mine = {
        r["user_id"]: r["n_sessions"]
        for r in sessionize(e, gap_sec=1800)
        .groupBy("user_id")
        .agg(F.max("session_idx").alias("n_sessions"))
        .collect()
    }
    builtin = {
        r["user_id"]: r["n_sessions"]
        for r in e.groupBy(F.session_window(F.col("ts"), "30 minutes"), "user_id")
        .count()
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_sessions"))
        .collect()
    }
    assert mine == builtin


def test_vocab_ids_reuses_single_range_shuffle(spark):
    """vocab_ids' two-stage rank derives local ranks AND per-partition counts
    from the same range-partitioned frame; correctness requires both branches
    to observe the SAME partition boundaries. The frame is explicitly
    persisted before the fork (exchange reuse alone is an optimization Spark
    may forgo under AQE/config changes), so both branches must read the ONE
    pinned materialization: the plan shows the local-rank window + range
    exchange only inside InMemoryRelation cache descriptions, with both
    consumers scanning it via InMemoryTableScan."""
    import __spark_entry__ as entry

    df = entry.queries()["vocab_ids"](spark, "/root/testdata/sf0.001")
    df.collect()  # finalize the adaptive plan
    plan = df._jdf.queryExecution().executedPlan().toString()
    # both the final join branch and the count/offset branch must scan the
    # pinned cache (plan strings repeat the cached relation's tree, so the
    # count exceeds 2 under AQE — the floor is what matters: 0 would mean
    # the persist was dropped and boundary agreement is back to luck)
    assert plan.count("InMemoryTableScan") >= 2, plan[:4000]


def test_pq_train_encode_topk(spark):
    """Product quantization: training error is monotone non-increasing and
    deterministic; codes are within [0, k); ADC + exact re-rank reaches
    recall@5 >= 0.8 vs brute force (re-ranked cosines are exact, so any
    overlap pair carries the identical score)."""
    from lk_data_test_spark.operators import similarity

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    books, hist = similarity.pq_train(emb, m=16, k=16, n_iter=3)
    assert books.shape == (16, 16, 4)
    assert len(hist) == 3
    for prev, cur in zip(hist, hist[1:]):
        assert cur <= prev + 1e-9, f"quantization error regressed: {hist}"
    books2, hist2 = similarity.pq_train(emb, m=16, k=16, n_iter=3)
    assert hist == hist2 and np.array_equal(books, books2)

    codes = similarity.pq_encode(emb, books).collect()
    assert len(codes) == emb.count()
    assert all(0 <= c < 16 for r in codes for c in r["codes"])
    assert all(len(r["codes"]) == 16 for r in codes)

    bf = similarity.brute_force_topk(emb, k=5, n_queries=10).collect()
    pq = similarity.pq_topk(
        emb, k=5, n_queries=10, m=16, n_codes=16, rerank=50, n_iter=3
    ).collect()
    bf_cos = {(r["query_id"], r["neighbor_id"]): r["cosine"] for r in bf}
    hits = 0
    for r in pq:
        key = (r["query_id"], r["neighbor_id"])
        if key in bf_cos:
            assert r["cosine"] == bf_cos[key]  # re-rank is exact
            hits += 1
    recall = hits / len(bf)
    assert recall >= 0.8, f"pq recall@5 = {recall:.2f}"


def test_ivfpq_recall(spark):
    """IVF+PQ with residual encoding: probing 3 of 8 trained lists with ADC
    scoring and exact re-rank keeps recall@5 healthy, any pair shared with
    brute force carries the identical exact cosine, and — the honest bound —
    recall lands within 0.05 of the PROBED-EXACT CEILING (exact scoring
    restricted to the same probed lists: 0.82 measured here). The ceiling is
    what IVF pruning alone costs; no encoding can beat it at the same
    n_probe, so "within epsilon of ceiling" is the correct done-criterion
    for the residual refinement (raw-vector codes sat 0.08 below it)."""
    from lk_data_test_spark.operators import similarity

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    bf = similarity.brute_force_topk(emb, k=5, n_queries=10).collect()
    got = similarity.ivfpq_topk(
        emb, k=5, n_queries=10, n_lists=8, n_probe=3, m=16, n_codes=16,
        rerank=50, n_iter=3,
    ).collect()
    bf_cos = {(r["query_id"], r["neighbor_id"]): r["cosine"] for r in bf}
    hits = 0
    for r in got:
        key = (r["query_id"], r["neighbor_id"])
        if key in bf_cos:
            assert r["cosine"] == bf_cos[key]
            hits += 1
    recall = hits / len(bf)
    # residual encoding + coarse_iter=4: measured 0.80 (raw codes: 0.74)
    assert recall >= 0.75, f"ivfpq recall@5 = {recall:.2f}"

    # ceiling gap: exact scoring over the SAME trained lists at n_probe=3
    cents, _ = similarity.kmeans_fit(emb, n_clusters=8, n_iter=4)
    ceil_rows = similarity.ivf_topk(
        emb, k=5, n_queries=10, n_probe=3, cents=cents
    ).collect()
    ceil_hits = sum(
        1 for r in ceil_rows if (r["query_id"], r["neighbor_id"]) in bf_cos
    )
    ceiling = ceil_hits / len(bf)
    assert recall >= ceiling - 0.05, (
        f"ivfpq {recall:.2f} vs probed-exact ceiling {ceiling:.2f}"
    )


def test_pq_shortlist_bounded_and_partition_independent(spark):
    """The ADC shortlist is two-stage distributed top-R: the Arrow pass
    emits at most Q x rerank local candidates per input partition, so the
    global rank window's input is bounded by P x Q x rerank — never
    O(corpus) (the prior per-query Window ranked the FULL code table in one
    task per query) — and under the (approx desc, neighbor asc) total order
    the final candidate set is identical for any partitioning."""
    from collections import Counter

    from lk_data_test_spark.operators import similarity as S

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    books, _ = S.pq_train(emb, m=16, k=16, n_iter=2)
    luts = S._query_luts(S._query_units(emb, 5), books)
    rerank = 7
    results = {}
    for n_parts in (3, 13):
        codes = S.pq_encode(emb, books).repartition(n_parts)
        local = S._adc_shortlist(codes, luts, rerank)
        assert local.count() <= n_parts * len(luts) * rerank
        results[n_parts] = sorted(
            (r["query_id"], r["neighbor_id"])
            for r in S._global_top(local, rerank).collect()
        )
        per_q = Counter(q for q, _ in results[n_parts])
        assert all(v == rerank for v in per_q.values())
    assert results[3] == results[13]


def test_adc_plan_size_query_batch_independent(spark):
    """The ADC lookup tables ride the Arrow closure as ONE (Q, m*k) matrix,
    NOT the plan: growing the query batch 20x must leave the compiled plan
    the same size (the prior literal-LUT explode / when-chain forms grew
    linearly with Q and recreated the measured thousand-literal codegen
    blowup at realistic batch sizes)."""
    from lk_data_test_spark.operators import similarity as S

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    books, _ = S.pq_train(emb, m=16, k=16, n_iter=2)
    codes = S.pq_encode(emb, books)

    def plan_len(n_q: int) -> int:
        luts = S._query_luts(S._query_units(emb, n_q), books)
        df = S._global_top(S._adc_shortlist(codes, luts, 50), 50)
        return len(df._jdf.queryExecution().optimizedPlan().toString())

    small, big = plan_len(10), plan_len(200)
    assert big <= small * 1.1, (small, big)


def test_redact_pii_scrubs_and_counts(spark):
    """redact_pii: emails and phone-shaped numbers are replaced with typed
    placeholders, counts match occurrences, and PII-free text passes through
    byte-identical with zero counts."""
    from lk_data_test_spark.operators.textstats import redact_pii

    df = spark.createDataFrame(
        [
            (1, "mail a.b+c@ex-1.org and b@x.io call +1-555-0001 now"),
            (2, "no pii here at all"),
            (3, "double 12-345-6789 and 1-222-3333"),
        ],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in redact_pii(df).collect()}
    assert rows[1]["n_emails"] == 2 and rows[1]["n_phones"] == 1
    assert rows[1]["clean_text"] == "mail <EMAIL> and <EMAIL> call <PHONE> now"
    assert rows[2]["n_emails"] == 0 and rows[2]["n_phones"] == 0
    assert rows[2]["clean_text"] == "no pii here at all"
    assert rows[3]["n_phones"] == 2
    assert "<PHONE>" in rows[3]["clean_text"]
    assert "6789" not in rows[3]["clean_text"]


def test_low_cardinality_windows_are_two_stage(spark):
    """stratified_doc_sample and packed_char_bins rank/prefix-sum over
    `source` — a bounded ~20-value domain that would funnel the corpus
    through |sources| tasks if windowed directly. Pin their two-stage
    shapes: every Window that partitions by source must ALSO partition by
    the physical-partition id (stage 1) or sit above the stage-1 Filter
    (stratified's global stage ranks <= P x |sources| x 5 rows); and
    packed_char_bins' range-partitioned frame is persisted so the
    local-sum branch and the totals/offset branch observe identical
    boundaries."""
    import __spark_entry__ as entry

    sf = "/root/testdata/sf0.001"
    strat = entry.queries()["stratified_doc_sample"](spark, sf)
    plan = strat._jdf.queryExecution().optimizedPlan().toString()
    # stage-1 window carries pid in its partition spec
    assert "pid" in plan, plan[:2000]
    # exactly two Window nodes (stage-1 local, stage-2 global); Spark also
    # inserts WindowGroupLimit rank-pushdown below each, which the substring
    # "Window [" does not match
    assert plan.count("Window [") == 2, plan[:2000]

    packed = entry.queries()["packed_char_bins"](spark, sf)
    packed.collect()
    pplan = packed._jdf.queryExecution().executedPlan().toString()
    assert pplan.count("InMemoryTableScan") >= 2, pplan[:2000]
    opt = packed._jdf.queryExecution().optimizedPlan().toString()
    assert "pid" in opt, opt[:2000]


def test_semantic_dedup_recall_and_exactness(spark):
    """SemDeDup (cluster-then-dedup): every emitted pair is a TRUE pair with
    the identical exact cosine as the brute-force baseline (precision 1 by
    construction — same integer-quantized scoring, candidate restriction
    only), and top-2 soft cell assignment keeps healthy recall of the
    brute-force pair set at the same threshold (measured 0.86 at sf0.001;
    top-1 cells scored 0.42 — boundary pairs need the probe)."""
    from lk_data_test_spark.operators import dedup

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    brute = {
        (r["vec_a"], r["vec_b"]): r["cosine"]
        for r in dedup.embedding_dup_pairs(emb, threshold=0.4).collect()
    }
    sem = {
        (r["vec_a"], r["vec_b"]): r["cosine"]
        for r in dedup.semantic_dup_pairs(
            emb, threshold=0.4, n_clusters=8
        ).collect()
    }
    assert brute, "baseline produced no pairs — threshold too high for corpus"
    # precision 1: emitted subset of brute-force set, identical scores
    for pair, cos in sem.items():
        assert pair in brute and cos == brute[pair], pair
    recall = len(sem) / len(brute)
    assert recall >= 0.75, f"semantic dedup recall {recall:.2f}"


def test_two_stage_forms_equal_single_window_on_skewed_corpus(spark, tmp_path):
    """Randomized equivalence: on a corpus with a 70%-hot source (the shape
    that motivates the rewrite), the two-stage packed_char_bins and
    stratified_doc_sample must produce byte-identical results to the naive
    single-window forms — for any partitioning, because both orders are
    total (unique doc_id tie-break)."""
    import random

    from pyspark.sql import Window as W

    rnd = random.Random(7)
    rows = [
        (
            i,
            "hot" if rnd.random() < 0.7 else f"s{rnd.randint(0, 5)}",
            rnd.randint(1, 500),
            "x",
        )
        for i in range(500)
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, source string, n_chars long, text string"
    )
    sf = str(tmp_path)
    df.repartition(7).write.parquet(f"{sf}/documents.parquet")

    import __spark_entry__ as entry

    # packed_char_bins vs naive running-sum window
    got = [
        tuple(r)
        for r in entry.queries()["packed_char_bins"](spark, sf).collect()
    ]
    w = (
        W.partitionBy("source")
        .orderBy(F.col("n_chars").desc(), "doc_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    exp = [
        tuple(r)
        for r in df.select(
            "doc_id",
            "source",
            "n_chars",
            F.floor((F.sum("n_chars").over(w) - F.col("n_chars")) / 2000.0)
            .cast("int")
            .alias("bin"),
        )
        .orderBy("source", "bin", "doc_id")
        .collect()
    ]
    assert got == exp

    # stratified_doc_sample vs naive per-source rank window
    got_s = [
        tuple(r)
        for r in entry.queries()["stratified_doc_sample"](spark, sf).collect()
    ]
    ws = W.partitionBy("source").orderBy(
        F.md5(F.col("doc_id").cast("string")), "doc_id"
    )
    exp_s = [
        tuple(r)
        for r in df.select("doc_id", "source")
        .withColumn("rk", F.row_number().over(ws))
        .filter(F.col("rk") <= 5)
        .orderBy("source", "rk")
        .collect()
    ]
    assert got_s == exp_s


def test_no_low_cardinality_only_window_partitions(spark):
    """Scale guard closing the gap the empty-partition-spec guard left: a
    Window whose partition keys are ALL bounded-domain columns (source,
    lang, event_type — ~5-20 values each) funnels the corpus through that
    many tasks, the same single-task-sort pathology as a global window,
    just sharded a few ways. Every such window must either be the GLOBAL
    stage of a two-stage plan (a finer-keyed local Window below it bounds
    its input at P x |domain| x k rows), sit above a Limit, or be on the
    documented allowlist of oracle-exact forms whose scale default is a
    separate sketch query."""
    import __spark_entry__ as entry

    eager = {
        "embedding_kmeans_clusters",
        "embedding_ann_ivf_trained",
        "embedding_pq_topk",
        "embedding_ivfpq_topk",
        "ann_recall_at5",
        "semantic_dedup_pairs",
        "built_reference_profiles",
        "dup_clusters",
        "validation_suite_verdicts",
        "global_uniqueness_verdicts",
    }
    # chars_quartiles_by_lang: documented ORACLE-EXACT form; the scale
    # default is chars_quartiles_by_lang_sketch (no window at all)
    allow = {"chars_quartiles_by_lang"}
    low_card = {"source", "lang", "event_type"}

    def nodes(p):
        yield p
        for i in range(p.children().size()):
            yield from nodes(p.children().apply(i))

    def has_limit(p):
        return any(
            n.nodeName() in ("GlobalLimit", "LocalLimit") for n in nodes(p)
        )

    def window_keys(n):
        return {
            n.partitionSpec().apply(i).toString().split("#")[0]
            for i in range(n.partitionSpec().size())
        }

    def is_second_stage(n):
        return any(
            m is not n
            and m.nodeName() == "Window"
            and not (window_keys(m) <= low_card)
            for m in nodes(n)
        )

    bad = []
    for name, fn in entry.queries().items():
        if name in eager or name in allow:
            continue
        opt = (
            fn(spark, "/root/testdata/sf0.001")
            ._jdf.queryExecution()
            .optimizedPlan()
        )
        for n in nodes(opt):
            if n.nodeName() != "Window" or n.partitionSpec().size() == 0:
                continue
            keys = window_keys(n)
            if (
                keys
                and keys <= low_card
                and not has_limit(n)
                and not is_second_stage(n)
            ):
                bad.append((name, sorted(keys)))
                break
    assert not bad, f"low-cardinality-only window partitions in: {bad}"


def test_lm_bigram_scores_hand_derived(spark):
    """lm_bigram_scores: fixed-point conditional probabilities match the
    hand-computed bigram LM exactly. Corpus: 'a b' x2 + 'a c' gives
    c(a,b)=2, c(a,c)=1, ctx(a)=3 -> the repeated docs score 2/3 with no
    novel transitions; the odd doc scores 1/3 and every transition novel.
    One-word docs have no bigrams and drop out."""
    from lk_data_test_spark.operators.textstats import lm_bigram_scores

    df = spark.createDataFrame(
        [(1, "a b"), (2, "a b"), (3, "a c"), (4, "solo")],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in lm_bigram_scores(df).collect()}
    assert set(rows) == {1, 2, 3}
    for d in (1, 2):
        assert rows[d]["n_bigrams"] == 1 and rows[d]["n_novel"] == 0
        assert rows[d]["lm_score"] == 666666 / 1_000_000
        assert rows[d]["novel_rate"] == 0.0
    assert rows[3]["n_novel"] == 1 and rows[3]["novel_rate"] == 1.0
    assert rows[3]["lm_score"] == 333333 / 1_000_000


def test_dup_token_spans_merges_islands(spark):
    """dup_token_spans: windows shared across docs merge into maximal spans;
    disjoint shared regions stay separate islands; doc-unique text emits
    nothing. w=3; 'a b c d e' is shared so positions 0-2 merge into one
    5-token span."""
    from lk_data_test_spark.operators.dedup import dup_token_spans

    df = spark.createDataFrame(
        [
            (1, "a b c d e x1 y1 z1"),
            (2, "q a b c d e r s"),
            (3, "a b c m1 m2 m3 n1 n2 n3 c d e"),
            (4, "totally unique words only here"),
        ],
        "doc_id long, text string",
    )
    spans = {
        (r["doc_id"], r["span_start"]): r
        for r in dup_token_spans(df, w=3).collect()
    }
    assert set(spans) == {(1, 0), (2, 1), (3, 0), (3, 9)}
    assert spans[(1, 0)]["span_end"] == 4 and spans[(1, 0)]["span_tokens"] == 5
    assert spans[(2, 1)]["span_end"] == 5 and spans[(2, 1)]["span_tokens"] == 5
    assert spans[(3, 0)]["span_tokens"] == 3
    assert spans[(3, 9)]["span_end"] == 11 and spans[(3, 9)]["span_tokens"] == 3


def test_suggest_constraints_branches(spark):
    """suggest.py: every constraint kind fires from the right profile shape —
    nullable column gets no not_null, low-distinctness no unique, bounded
    string domain gets a sorted is_in, numerics get min_ge/max_le."""
    from lk_data_test_spark.operators.suggest import suggest_constraints

    df = spark.createDataFrame(
        [
            (1, "b", None, 10),
            (2, "a", "x", 20),
            (3, "a", "y", 20),
            (4, "c", "z", 30),
        ],
        "id long, cat string, maybe string, val int",
    )
    rows = {
        (r["col_name"], r["constraint_kind"]): r
        for r in suggest_constraints(df, exact=True).collect()
    }
    assert rows[("id", "unique")]["support"] == 1.0
    assert ("cat", "unique") not in rows  # 3 distinct / 4 rows < 0.99
    assert rows[("cat", "is_in")]["suggested_value"] == "a,b,c"
    assert ("maybe", "not_null") not in rows  # has a null
    assert rows[("maybe", "is_in")]["suggested_value"] == "x,y,z"
    assert rows[("id", "min_ge")]["suggested_value"] == "1"
    assert rows[("val", "max_le")]["suggested_value"] == "30"
    # high-cardinality string columns never reach the domain-collect pass
    wide = spark.createDataFrame(
        [(i, f"v{i:05d}") for i in range(100)], "id long, s string"
    )
    kinds = {
        (r["col_name"], r["constraint_kind"])
        for r in suggest_constraints(wide, exact=True, low_card_max=32).collect()
    }
    assert ("s", "is_in") not in kinds and ("s", "unique") in kinds


def test_suggest_constraints_approx_agrees(spark):
    """The HLL scale path (exact=False) must yield the same SUGGESTIONS as
    the exact path on the bench tables: approx mode widens acceptance bands
    by 3*APPROX_RSD (suggest.py), so a 3-sigma sketch error cannot flip a
    branch when true distinctness is either ~1.0 or <=0.63 as here."""
    from lk_data_test_spark.operators.suggest import suggest_constraints

    d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    cols = ["doc_id", "text", "lang", "source", "n_chars"]
    exact = {
        (r["col_name"], r["constraint_kind"], r["suggested_value"])
        for r in suggest_constraints(d, cols, exact=True).collect()
    }
    approx = {
        (r["col_name"], r["constraint_kind"], r["suggested_value"])
        for r in suggest_constraints(d, cols, exact=False).collect()
    }
    assert exact == approx


def test_wilson_integer_form_matches_float_formula():
    """The sampled_quality_check verdict uses an integer-exact rearrangement
    of the z=2 Wilson upper bound (see entry_queries.py) so the boolean can
    never diverge between engines on float rounding. Property: over every
    (v, n) with n <= 400, the integer form equals the float formula
    evaluated at distance from the 0.2 threshold (ties broken identically
    because the comparison is exact on both sides of the algebra)."""
    import math

    for n in range(1, 401):
        for v in range(0, n + 1):
            upper = (v + 2 + 2 * math.sqrt(v * (n - v) / n + 1)) / (n + 4)
            a = n + 4 - 5 * (v + 2)
            int_form = a >= 0 and 100 * (v * (n - v) + n) <= n * a * a
            # the float formula can round ON the boundary; the integer form
            # is the ground truth there, so only assert when the float value
            # is clearly on one side (the algebra is exact, floats are not)
            if abs(upper - 0.2) > 1e-9:
                assert int_form == (upper <= 0.2), (v, n, upper)


def test_sampled_quality_and_balance_semantics(spark):
    """partition_balance_report flags the deliberately-skewed `en` slice of
    the driver testdata (218 of 500 docs at sf0.01-shape) and nothing else;
    sampled_quality_check's sample is the deterministic md5 1/16 and its
    verdict matches a per-group float Wilson recomputation."""
    import math
    import os

    from lk_data_test_spark.entry_queries import Q

    sf = os.environ.get("SPARK_GRAFT_SF_TEST", "/root/testdata/sf0.01")
    bal = {r["lang"]: r for r in Q["partition_balance_report"](spark, sf).collect()}
    assert set(bal) == {"de", "en", "es", "fr", "zh"}
    flagged = {k for k, r in bal.items() if r["needs_rebalance"]}
    assert flagged == {"en"}
    total = sum(r["n_rows"] for r in bal.values())
    for r in bal.values():
        assert r["row_skew"] == r["n_rows"] * len(bal) / total

    sq = Q["sampled_quality_check"](spark, sf).collect()
    assert sq, "sample must be non-empty"
    for r in sq:
        assert 0 < r["sample_n"] <= 80  # ~1/16 of 500 spread over 5 langs
        upper = (
            r["viol_n"] + 2
            + 2 * math.sqrt(r["viol_n"] * (r["sample_n"] - r["viol_n"]) / r["sample_n"] + 1)
        ) / (r["sample_n"] + 4)
        assert r["wilson_pass"] == (upper <= 0.2 + 1e-12), r


def test_trainer_sample_cap(spark, monkeypatch):
    # Bypass the ann_cache artifact store: this test compares bit-identical
    # refits WITHIN one process, and a disk hit from a previous session
    # differs in the last ulp (Spark partial-agg summation order is only
    # deterministic within a process, not across processes).
    monkeypatch.setenv("LK_ANN_CACHE", "0")
    """Bounded-sample training (the FAISS max_points_per_centroid
    convention, similarity._TRAIN_POINTS_PER_CENTROID): Lloyd's rounds at
    10^12 vectors must not each rescan the corpus, so both trainers cap
    their training set via a deterministic hash-threshold filter.
    Asserts: (a) a BINDING cap selects a strict, deterministic subset and
    the objective stays monotone; (b) cap disabled (0), cap >= corpus, and
    the default auto-cap (which never binds at test scale) are all
    bit-identical — the cap is pure scale posture, not a behavior change;
    (c) a PQ model trained under a binding cap still clears recall@5 >= 0.6
    through the full two-stage search."""
    from lk_data_test_spark.operators import similarity

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    n = emb.count()
    assert n == 500  # a 200-row cap binds; the 256*k defaults do not

    # (a) binding cap: deterministic refit, monotone objective, real subset
    c1, h1 = similarity.kmeans_fit(emb, n_clusters=8, n_iter=3, sample_cap=200)
    c2, h2 = similarity.kmeans_fit(emb, n_clusters=8, n_iter=3, sample_cap=200)
    assert h1 == h2 and np.array_equal(c1, c2)
    for prev, cur in zip(h1, h1[1:]):
        assert cur >= prev - 1e-9, f"objective regressed: {h1}"
    sample = similarity._train_sample(
        similarity._unit_vectors(emb), 200, n
    )
    n_sample = sample.count()
    assert 0 < n_sample < n
    assert abs(n_sample - 200) <= 60  # binomial jitter around the cap

    # (b) non-binding caps are exact no-ops
    c_off, h_off = similarity.kmeans_fit(emb, n_clusters=8, n_iter=2, sample_cap=0)
    c_big, h_big = similarity.kmeans_fit(
        emb, n_clusters=8, n_iter=2, sample_cap=10**6
    )
    c_auto, h_auto = similarity.kmeans_fit(emb, n_clusters=8, n_iter=2)
    assert h_off == h_big == h_auto
    assert np.array_equal(c_off, c_big) and np.array_equal(c_off, c_auto)
    b_off, e_off = similarity.pq_train(emb, m=16, k=16, n_iter=2, sample_cap=0)
    b_auto, e_auto = similarity.pq_train(emb, m=16, k=16, n_iter=2)
    assert e_off == e_auto and np.array_equal(b_off, b_auto)

    # (c) capped-training PQ still searches well end-to-end
    books, errs = similarity.pq_train(
        emb, m=16, k=16, n_iter=3, sample_cap=200
    )
    for prev, cur in zip(errs, errs[1:]):
        assert cur <= prev + 1e-9, f"quantization error regressed: {errs}"
    bf = similarity.brute_force_topk(emb, k=5, n_queries=10).collect()
    pq = similarity.pq_topk(
        emb, k=5, n_queries=10, m=16, n_codes=16, rerank=50, books=books
    ).collect()
    bf_keys = {(r["query_id"], r["neighbor_id"]) for r in bf}
    recall = sum(
        1 for r in pq if (r["query_id"], r["neighbor_id"]) in bf_keys
    ) / len(bf)
    assert recall >= 0.6, f"capped-training pq recall@5 = {recall:.2f}"


def test_train_sample_partitioning_invariant(spark):
    """The trainer sample is a pure function of vec_id: the SAME row set is
    selected regardless of how the input is partitioned (df.sample would
    fail this — its Bernoulli draw follows partition layout), which is what
    makes capped training deterministic across cluster sizes and retries."""
    from lk_data_test_spark.operators import similarity

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    u = similarity._unit_vectors(emb)
    picks = []
    for nparts in (1, 3, 7):
        s = similarity._train_sample(u.repartition(nparts), 200, emb.count())
        picks.append(sorted(r["vec_id"] for r in s.select("vec_id").collect()))
    assert picks[0] == picks[1] == picks[2]
    assert 0 < len(picks[0]) < 500


def test_cube_counts_one_expand_one_agg_exchange(spark):
    """docs_cube_counts' plan claim: all four grouping sets come from ONE
    Expand over one scan with ONE hash-partitioned aggregation exchange
    (plus the final orderBy range exchange) — no per-granularity rescan."""
    from lk_data_test_spark import entry_queries as E

    df = E.Q["docs_cube_counts"](spark, "/root/testdata/sf0.001")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Expand") == 1, plan
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert plan.count("Scan parquet") == 1, plan


def test_grid_banding_is_exact_vs_numpy_brute_force(spark):
    """embedding_dup_pairs' grid banding claims EXACT recall by the
    triangle-inequality bound (cos >= tau => every normalized coordinate
    differs by <= sqrt(2-2*tau), so the +/-1 multiprobe always covers the
    build row's home cell). Pin the math against a numpy brute force that
    replicates the operator's integer quantization bit-for-bit, on a
    random corpus salted with exact duplicates and near-duplicates, across
    thresholds from loose (big cells, few bands) to tight (many cells):
    the pair SET and every cosine must match exactly."""
    import numpy as np

    from lk_data_test_spark.operators import dedup

    rng = np.random.default_rng(97)
    base = rng.standard_normal((120, 16)).astype(np.float32)
    dups = base[:20] + rng.standard_normal((20, 16)).astype(np.float32) * 0.02
    exact = base[20:30].copy()
    vecs = np.vstack([base, dups, exact])
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id int, embedding array<float>",
    ).repartition(8)

    q = np.round(vecs.astype(np.float64) * 1000)  # quantized(scale=1000)
    nrm = np.sqrt((q * q).sum(axis=1))
    cos = (q @ q.T) / np.outer(nrm, nrm)
    n = len(vecs)
    iu = np.triu_indices(n, k=1)
    for tau in (0.4, 0.8, 0.95, 0.99):
        want = {
            (int(a), int(b)): cos[a, b]
            for a, b in zip(*iu)
            if cos[a, b] >= tau
        }
        got = {
            (r["vec_a"], r["vec_b"]): r["cosine"]
            for r in dedup.embedding_dup_pairs(df, threshold=tau).collect()
        }
        assert set(got) == set(want), (
            f"tau={tau}: missing={set(want) - set(got)} "
            f"extra={set(got) - set(want)}"
        )
        for pair, c in got.items():
            assert abs(c - want[pair]) < 1e-12, (tau, pair, c, want[pair])
        if tau <= 0.8:
            assert want, f"tau={tau}: corpus produced no pairs — bad salt"


def test_exact_pair_scorer_hot_cell_guard_trips(spark):
    """A degenerate corpus that concentrates everything in ONE cell must be
    a clean, actionable error from the exact scorer, not a silently
    quadratic job (r5 ADVICE / r5 VERDICT item 3): _cogroup_cosine_pairs'
    max_cell_rows bound raises with remediation guidance."""
    import numpy as np
    import pytest

    from pyspark.sql import functions as F

    from lk_data_test_spark.functions.arrays import int_dot, quantized
    from lk_data_test_spark.operators.dedup import _cogroup_cosine_pairs

    # 40 near-identical vectors -> a single cell on both sides
    rng = np.random.default_rng(5)
    base = rng.standard_normal(8)
    vecs = base + rng.standard_normal((40, 8)) * 1e-4
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id int, embedding array<float>",
    )
    q = df.select(
        "vec_id", quantized(F.col("embedding")).alias("q"), F.lit("c").alias("cell")
    ).withColumn("nrm", F.sqrt(int_dot(F.col("q"), F.col("q")).cast("double")))
    build = q.select(
        F.col("vec_id").alias("b_vec_id"),
        F.col("q").alias("b_q"),
        F.col("nrm").alias("b_nrm"),
        "cell",
    )
    out = _cogroup_cosine_pairs(q, build, "cell", 0.5, max_cell_rows=10)
    with pytest.raises(Exception, match="max_cell_rows"):
        out.collect()
    # and the same corpus under the default bound still scores fine
    ok = _cogroup_cosine_pairs(q, build, "cell", 0.5)
    assert ok.count() == 40 * 39 // 2
