"""Plan audit: dump formatted physical plans of the engine hot path and the
headline queries to PLANS.md, and assert the plan properties the 100 TB
design depends on (pushdown, pruning, codegen, broadcast, no Python in the
hot path). Run: python scripts/explain_audit.py
"""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")


def plan_of(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def hot_path_section(spark, log_dir: str = "/tmp/explain-audit-log"):
    """(title, plan, checks) for the CDC hot path — shared by the PLANS.md
    generator and tests/test_plan_shapes.py (VERDICT r3 next #8: a plan
    regression fails CI instead of waiting for a human to reread PLANS.md)."""
    from kafka_connect_dynamodb_spark.operators.apply import prepare_winners
    from kafka_connect_dynamodb_spark.sources.generator import change_events

    ev = change_events(spark, 1000, 5000)
    ev.write.mode("overwrite").parquet(log_dir)
    log = spark.read.parquet(log_dir)
    winners = prepare_winners(log)
    p = plan_of(winners)
    checks = []
    checks.append(("no Python (BatchEvalPython/ArrowEval) in hot path",
                   "EvalPython" not in p and "ArrowEval" not in p))
    checks.append(("event-name/keys filters pushed to parquet scan",
                   "PushedFilters: [In(event_name" in p))
    checks.append(("single interpreted from_json per event (no pushdown duplication)",
                   p.count("from_json") <= 4))  # 2 key fields x (s,n) in ONE Project
    checks.append(("whole-stage codegen spans present", "codegen id" in p))
    checks.append(("partial+final agg (map-side combine) for LWW",
                   p.count("SortAggregate") >= 2 or p.count("HashAggregate") >= 2))
    return ("CDC hot path: prepare_winners (filters -> key parse -> LWW dedup)",
            p, checks)


def query_section(spark, sf_dir: str, name: str):
    """(title, plan, checks) for one audited headline query."""
    import __spark_entry__ as entrymod
    wanted = QUERY_AUDIT[name]
    # retirees rotated out of the driver gate (r5) stay plan-audited
    qs = {**entrymod.RETIRED_QUERIES, **entrymod.CANDIDATE_QUERIES,
          **entrymod.queries()}
    p = plan_of(qs[name](spark, sf_dir))
    checks = [(w[0], (w[1] in p) == (w[2] if len(w) > 2 else True))
              for w in wanted]
    return (f"query: {name}", p, checks)


QUERY_AUDIT = {
        "q1_pricing_summary": [
            ("filter pushed to parquet scan", "PushedFilters: ["),
            ("hash aggregate (partial+final)", "HashAggregate"),
            ("codegen", "codegen id"),
        ],
        "q3_top_revenue_orders": [
            ("broadcast join of small dim", "BroadcastHashJoin"),
            ("top-k without global sort", "TakeOrderedAndProject"),
        ],
        "cdc_lww_latest_per_key": [
            ("column-pruned scan (no props col)", "ReadSchema"),
        ],
        "topk_per_group": [
            ("ranking window (group-limit pushdown)", "WindowGroupLimit"),
        ],
        "exact_dedup_docs": [
            ("hash aggregate on digest", "HashAggregate"),
        ],
        "embedding_cosine_topk": [
            ("top-k without global sort", "TakeOrderedAndProject"),
        ],
        "minhash_lsh_near_dups": [
            ("codegen'd signature (no UDF)", "codegen id"),
        ],
        "embedding_near_dup_pairs": [
            ("bucketed self-join, no cartesian product", "CartesianProduct", False),
            ("no nested-loop join", "BroadcastNestedLoopJoin", False),
            ("codegen'd signature (no UDF)", "codegen id"),
        ],
        "knn_join_lsh": [
            ("probe-bucket equi-join, no cartesian product", "CartesianProduct", False),
            ("no nested-loop join", "BroadcastNestedLoopJoin", False),
            ("ranking window inside probed buckets", "Window"),
        ],
        "ngram_jaccard_pairs": [
            ("freq-capped buckets, no cartesian product", "CartesianProduct", False),
        ],
        "minhash_jaccard_verified": [
            ("no cartesian product in candidate verify", "CartesianProduct", False),
            ("no Python in pipeline", "EvalPython", False),
        ],
        "asof_join_last_order": [
            ("union+window, no inequality join", "CartesianProduct", False),
            ("no nested-loop join", "BroadcastNestedLoopJoin", False),
            ("event-time window carry-forward", "Window"),
        ],
        "range_join_promo_windows": [
            ("bucketed interval join, no cartesian", "CartesianProduct", False),
            ("no nested-loop join", "BroadcastNestedLoopJoin", False),
        ],
        "time_bucket_rollup": [
            ("hash aggregate (partial+final)", "HashAggregate"),
            ("codegen", "codegen id"),
        ],
        "kmv_distinct_sketch": [
            ("bounded per-group state (top-k window)", "WindowGroupLimit"),
        ],
        # r5 corpus operators (VERDICT r4 next #7)
        "dedup_cluster_representatives": [
            ("no Python anywhere", "EvalPython", False),
            ("no cartesian product", "CartesianProduct", False),
            ("anti-join reduction to representatives", "LeftAnti"),
        ],
        "tf_idf_top_terms": [
            ("no Python anywhere", "EvalPython", False),
            ("map-side combined term counts", "HashAggregate"),
            ("per-doc top-k via group-limit window", "WindowGroupLimit"),
        ],
        "bm25_ranking": [
            ("no Python anywhere", "EvalPython", False),
            ("df-counts broadcast into scoring join", "BroadcastHashJoin"),
            ("map-side combined term counts", "HashAggregate"),
        ],
        "dup_span_fraction": [
            ("no Python anywhere", "EvalPython", False),
            ("no cartesian product", "CartesianProduct", False),
            ("semi-join pruning to duplicated hashes", "LeftSemi"),
            ("interval union via ranking window", "Window"),
        ],
        "corpus_trim_spans": [
            ("no Python anywhere", "EvalPython", False),
            ("no cartesian product", "CartesianProduct", False),
            ("gaps-and-islands windows", "Window"),
        ],
        # r6 rotation rows (VERDICT r5 next #1/#3)
        "pq_adc_topk": [
            ("no Python anywhere", "EvalPython", False),
            ("no joins at all — broadcast-literal ADC tables", "Join", False),
            ("top-k without global sort", "TakeOrderedAndProject"),
            ("codegen'd encode+score", "codegen id"),
        ],
        "neardup_banded_pairs": [
            ("no Python anywhere", "EvalPython", False),
            ("no cartesian product", "CartesianProduct", False),
            ("map-side combined digest minima (explode-once sig)", "HashAggregate"),
            ("keep-first star via ranking window", "Window"),
            ("codegen'd signature (no UDF)", "codegen id"),
        ],
        # r6b curation rows (operators/curation.py)
        "decontaminate_docs": [
            ("no Python anywhere", "EvalPython", False),
            ("no cartesian product", "CartesianProduct", False),
            ("benchmark n-gram index broadcast to the corpus side",
             "BroadcastHashJoin"),
            ("map-side combined per-doc overlap counts", "HashAggregate"),
        ],
        "pii_redaction": [
            ("no Python anywhere", "EvalPython", False),
            ("no joins — pure narrow projection", "Join", False),
            ("codegen'd regexp pipeline", "codegen id"),
        ],
        "pack_training_sequences": [
            ("no Python anywhere", "EvalPython", False),
            ("no cartesian product", "CartesianProduct", False),
            ("bucket offsets broadcast back (driver-sized side)",
             "BroadcastHashJoin"),
            ("parallel within-bucket running sums", "Window"),
        ],
        "top_token_coverage": [
            ("no Python anywhere", "EvalPython", False),
            ("map-side combined (doc, token) counts", "HashAggregate"),
            ("rank-1 filter pushed into the window", "WindowGroupLimit"),
        ],
        # Gopher repetition suite (operators/curation.py) — r7 fusion:
        # count/rank/interval-union windows AND the per-doc aggregate all
        # partition by the bare doc id, so the whole metric pass rides the
        # prefix-sum window's single hashpartitioning(id) exchange (the
        # zorder-style custom section below asserts the exchange count)
        "gopher_repetition": [
            ("no Python anywhere", "EvalPython", False),
            ("no cartesian product", "CartesianProduct", False),
            ("no join in the metric lineage (all-window single pass)",
             "SortMergeJoin", False),
            ("partial+final per-doc aggregate riding the window sort "
             "(no exchange between them)", "SortAggregate"),
            ("per-doc metrics broadcast into the doc join",
             "BroadcastHashJoin"),
        ],
        # r6c LM-quality row (operators/text.py::unigram_lm_nll)
        # r6e rows
        "line_dedup_docs": [
            ("no Python anywhere", "EvalPython", False),
            ("no cartesian product", "CartesianProduct", False),
            ("map-side combined distinct/count on the 8-byte line hash",
             "HashAggregate"),
            ("per-doc-bounded ordered reconstruction collect",
             "ObjectHashAggregate"),
        ],
        "dsir_importance_weights": [
            ("no Python anywhere", "EvalPython", False),
            ("no cartesian product", "CartesianProduct", False),
            ("<=n_buckets log-ratio table broadcast into the scoring join",
             "BroadcastHashJoin"),
            ("map-side combined (doc, bucket) counts", "HashAggregate"),
            ("doc-bounded ordered-fold collect", "ObjectHashAggregate"),
        ],
        "ivf_pq_topk": [
            ("no Python anywhere", "EvalPython", False),
            ("no join anywhere (codes scored in place)",
             "Join", False),
            ("top-k without global sort", "TakeOrderedAndProject"),
        ],
        "temperature_mix_resample": [
            ("no Python anywhere", "EvalPython", False),
            ("no join anywhere (rates are a literal CASE projection)",
             "Join", False),
            ("no aggregate in the scoring pass (counts precomputed)",
             "HashAggregate", False),
        ],
        "gopher_quality": [
            ("no Python anywhere", "EvalPython", False),
            ("no join anywhere (pure per-row projection)", "Join", False),
            ("no aggregate / no shuffle in the rule pass",
             "HashAggregate", False),
        ],
        "unigram_lm_quality": [
            ("no Python anywhere", "EvalPython", False),
            ("no cartesian product", "CartesianProduct", False),
            ("reference LM broadcast into the scoring join",
             "BroadcastHashJoin"),
            ("map-side combined (doc, token) tf counts", "HashAggregate"),
            ("doc-length-bounded ordered-fold collect", "ObjectHashAggregate"),
        ],
        "dup_ngram_stats": [
            ("no Python anywhere", "EvalPython", False),
            # partial agg before the FIRST shuffle; the SECOND stage is a
            # window + buffer-bounded collect (the r4 ADVICE-medium fix):
            # a map-side collect_list partial would itself buffer unbounded
            ("map-side combined (h, id) counts", "HashAggregate"),
            ("rank-capped example collection", "Window"),
            ("bounded collect aggregate", "ObjectHashAggregate"),
        ],
        # r7 rotation rows
        "debezium_roundtrip": [
            ("no Python anywhere (JVM to_json/from_json both directions)",
             "EvalPython", False),
            ("no cartesian product", "CartesianProduct", False),
            ("partial+final LWW aggregate (map-side combine; sort-based "
             "for the decimal max_by)", "SortAggregate"),
            ("codegen'd envelope codec", "codegen id"),
        ],
        "ivf_pq_residual_topk": [
            ("no Python anywhere", "EvalPython", False),
            ("no join anywhere (residual tables are cell-keyed literal "
             "CASEs)", "Join", False),
            ("top-k without global sort", "TakeOrderedAndProject"),
        ],
        # r7 candidate (operators/funnel.py): k chained step minima as
        # whole-partition windows over one user exchange; the distinct
        # pre-agg and the final per-user reduce both partial-combine
        "funnel_steps": [
            ("no Python anywhere", "EvalPython", False),
            ("no join anywhere (steps chain through windows)",
             "Join", False),
            ("step filter pushed to the parquet scan",
             "PushedFilters: [In(event_type"),
            ("single user-keyed exchange shared by all step windows",
             "hashpartitioning(u#"),
        ],
        # r7c candidate (operators/scd2.py): the fact->version temporal
        # lookup rides the SAME union+window shape as asof_join — the
        # textbook inequality join (nested-loop, quadratic per key) never
        # appears; the only join driver-side is none at all.
        "scd2_temporal_join": [
            ("no Python anywhere", "EvalPython", False),
            ("no cartesian product", "CartesianProduct", False),
            ("inequality never reaches a join (no nested loop)",
             "BroadcastNestedLoopJoin", False),
            ("single carry-forward window over the key exchange",
             "Window"),
        ],
        # r7d candidate (operators/similarity.py): SemDeDup — cell
        # assignment and centroid cosine are fold projections; the
        # quadratic pair term and the ranking window both key on the
        # cell, so nothing global ever materializes.
        "semdedup_prune": [
            ("no Python anywhere", "EvalPython", False),
            ("no cartesian product (pair term is a cell equi-join)",
             "CartesianProduct", False),
            ("pair self-join keyed on the cell", "hashpartitioning(cell#"),
            ("ranking window over the cell exchange", "Window"),
        ],
        # r7d candidate (operators/text.py): bigram stupid-backoff LM —
        # the trained model broadcasts into every scoring join; the doc
        # side is one bigram explode + map-side-combined counts + the
        # sorted per-doc fold; tercile cut is one lang window.
        "ccnet_bigram_buckets": [
            ("no Python anywhere", "EvalPython", False),
            ("model joins all broadcast (no corpus-vs-corpus shuffle "
             "join)", "SortMergeJoin", False),
            ("broadcast scoring joins", "BroadcastHashJoin"),
            ("tercile cut is a window, not a global sort", "Window"),
        ],
        # r7d candidate (lake/table.py::diff): churn-pruned semantic
        # version diff — both sides read ONLY changed buckets (pinned by
        # the monkeypatch test), then one key-keyed full-outer join.
        "cdc_version_diff": [
            ("no Python anywhere", "EvalPython", False),
            ("no cartesian product", "CartesianProduct", False),
            ("key-keyed exchange under the full-outer join",
             "hashpartitioning(key#"),
        ],
        # r7c (operators/scd2.py): full version history as one keyed
        # exchange + one lead window; the delete filter runs AFTER the
        # lead so deletes still close the prior version — no joins, no
        # state, no second exchange.
        "cdc_scd2_history": [
            ("no Python anywhere", "EvalPython", False),
            ("no join anywhere (versions close via lead window)",
             "Join", False),
            ("single key-hash exchange feeding the version window",
             "hashpartitioning(key#"),
            ("lead window over the keyed exchange", "Window"),
        ],
        "intradoc_line_dedup": [
            ("pure projection - no join anywhere", "Join", False),
            ("no aggregate (per-row array fold only)", "Aggregate", False),
            ("no Python anywhere", "EvalPython", False),
            ("codegen", "codegen id"),
        ],
        "winnow_fingerprint_digest": [
            ("pure projection - no join anywhere", "Join", False),
            ("no aggregate (digest folded per row)", "Aggregate", False),
            ("no Python anywhere", "EvalPython", False),
        ],
        "winnow_match_pairs": [
            ("freq-capped hash buckets, no cartesian product",
             "CartesianProduct", False),
            ("no nested-loop join", "BroadcastNestedLoopJoin", False),
            ("map-side combined pair counts", "HashAggregate"),
            ("no Python anywhere", "EvalPython", False),
        ],
        "cluster_safe_split": [
            ("no cartesian product", "CartesianProduct", False),
            ("no Python anywhere", "EvalPython", False),
        ],
        "cdc_tx_consistent_apply": [
            ("consistent read straight off pinned parquet versions",
             "Scan parquet"),
            ("no Python anywhere", "EvalPython", False),
        ],
        "url_canonical_dedup": [
            ("pure-expression normalization, no Python", "EvalPython",
             False),
            ("map-side combined group counts", "HashAggregate"),
            ("codegen", "codegen id"),
        ],
        "corpus_curate_e2e": [
            ("no cartesian product anywhere in the composition",
             "CartesianProduct", False),
            ("no nested-loop join", "BroadcastNestedLoopJoin", False),
            ("no Python anywhere", "EvalPython", False),
        ],
    }


def gopher_exchange_section(spark, sf_dir: str):
    """(title, plan, checks) asserting gopher_repetition's r7 fusion by
    COUNT, which the substring checks can't express: exactly one
    hashpartitioning exchange (the doc-id metric exchange) in the whole
    plan — gram counts, top-1 rank, interval union, and the per-doc
    aggregate all ride it."""
    import __spark_entry__ as entrymod
    p = plan_of(entrymod.queries()["gopher_repetition"](spark, sf_dir))
    # formatted explain splits the node name and its partitioning across
    # lines: "(n) Exchange" + "Arguments: hashpartitioning(...)"
    n_hash = p.count("Arguments: hashpartitioning")
    checks = [
        # ==1 also proves the partial+final per-doc aggregate has no
        # exchange between them (it would be a second hashpartitioning)
        (f"exactly one doc-keyed exchange in the metric pass ({n_hash})",
         n_hash == 1),
    ]
    return ("query: gopher_repetition (single-exchange fusion)", p, checks)


def quantile_histogram_section(spark, sf_dir: str):
    """(title, plan, checks) for exact_price_quantiles. The gate row's
    returned DataFrame is a driver-built literal (the resolved quantiles),
    so the auditable plan is the histogram job each refinement level runs
    (operators/stats.py:exact_quantiles): one pushable range filter over
    the value column + ONE map-side-combined aggregate emitting n_buckets
    rows. Rebuild one level's DataFrame exactly as the operator does."""
    from pyspark.sql import functions as F

    from kafka_connect_dynamodb_spark.operators.stats import _bucket

    li = spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))
    vals = (li.select(F.col("l_extendedprice").cast("double").alias("v"))
              .filter(F.col("v").isNotNull() & ~F.isnan("v")))
    lo, hi, nb = 901.0, 104949.5, 256
    cond = (F.col("v") >= F.lit(lo)) & (F.col("v") <= F.lit(hi))
    hist = (vals.withColumn("i", F.when(cond, F.lit(0)))
                .withColumn("b", F.when(cond, _bucket(F.col("v"), lo,
                                                      (hi - lo) / nb, nb)))
                .filter(F.col("i").isNotNull())
                .groupBy("i", "b")
                .agg(F.count("v").alias("c"), F.min("v").alias("mn"),
                     F.max("v").alias("mx")))
    p = plan_of(hist)
    checks = [
        ("value range/null filters pushed to the parquet scan",
         "PushedFilters: [" in p),
        ("map-side partial aggregate before the n_buckets-row shuffle",
         p.count("HashAggregate") >= 2),
        ("no global sort / range repartition anywhere",
         "rangepartitioning" not in p),
        ("no Python anywhere", "EvalPython" not in p),
    ]
    return ("query: exact_price_quantiles (one histogram-refinement level)",
            p, checks)


def incremental_view_section(spark):
    """(title, plan, checks) for cdc_incremental_agg_view's refresh path
    (operators/incremental.py): the delta plan must scan exactly the files
    the manifest's ``change_files`` names for the selected commits (cost ∝
    churn), never the table's base files, and fold them with one
    map-side-combined aggregate."""
    import shutil
    import tempfile
    from urllib.parse import urlparse

    from pyspark.sql import functions as F

    from kafka_connect_dynamodb_spark.lake.table import LakeTable
    from kafka_connect_dynamodb_spark.operators.incremental import (
        feed_agg_delta)

    work = tempfile.mkdtemp(prefix="audit-incview-")
    try:
        base = spark.range(100).select(
            F.col("id").alias("key"),
            (F.col("id") % 5).cast("string").alias("grp"),
            (F.col("id") * 7).alias("val"))
        t = LakeTable(os.path.join(work, "t"), change_feed=True,
                      feed_preimages=True)
        t.create(spark, base, key_cols=["key"], n_buckets=2)
        upd = spark.range(30).select(
            F.col("id").alias("key"),
            F.lit("g9").alias("grp"), (F.col("id") + 1).alias("val"),
            F.lit("u").alias("_op"), (F.col("id") + 10).cast("long")
             .alias("_seq"))
        t.merge(spark, upd, batch_id=1)
        feed = t.changes(spark, from_version=2)
        delta = feed_agg_delta(feed, ["grp"], ["val"])
        p = plan_of(delta)
        m = t.manifest()
        scanned = {urlparse(f).path for f in delta.inputFiles()}
        named = {os.path.join(t.root, e["path"])
                 for e in m.change_files if e["version"] >= 2}
        base = {os.path.join(t.root, e["path"]) for e in m.files}
        checks = [
            ("refresh scans exactly the selected commits' change-feed files",
             scanned == named and not scanned & base),
            ("map-side partial aggregate before the per-group shuffle",
             p.count("HashAggregate") >= 2),
            ("no join anywhere in the delta fold", "Join" not in p),
            ("no Python anywhere", "EvalPython" not in p),
        ]
        return ("query: cdc_incremental_agg_view (feed-delta refresh plan)",
                p, checks)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def zorder_section(spark, sf_dir: str):
    """(title, plan, checks) for zorder_pruned_scan — the plan shape plus the
    manifest-level data-skipping numbers (files read < files total on the
    combined two-column band), which live ABOVE the Spark plan: pruning
    happens against per-file z-column min/max stats before the scan DataFrame
    is even built (lake/table.py:pruned_entries), so the evidence is the
    file-count arithmetic, not a plan node."""
    import __spark_entry__ as entrymod
    table = entrymod._zorder_table(spark, sf_dir)
    lo, hi = entrymod._zorder_custkey_band(spark, sf_dir)
    preds = [("o_custkey", ">=", lo), ("o_custkey", "<=", hi),
             ("o_totalprice", ">=", entrymod._Z_PRICE_LO),
             ("o_totalprice", "<=", entrymod._Z_PRICE_HI)]
    total = len(table.manifest().files)
    pruned = len(table.pruned_entries(preds))
    one_col = len(table.pruned_entries(preds[:2]))
    p = plan_of(entrymod.q_zorder_pruned_scan(spark, sf_dir))
    checks = [
        (f"two-column band prunes files: {pruned}/{total} read",
         pruned < total),
        (f"second z-column tightens pruning beyond the first "
         f"({pruned} <= {one_col} <= {total})", pruned <= one_col),
        ("residual predicates re-applied in the scan (exactness)",
         "Filter" in p),
        ("no Python anywhere", "EvalPython" not in p),
    ]
    return ("query: zorder_pruned_scan (manifest stats skipping)", p, checks)


def main() -> None:
    from kafka_connect_dynamodb_spark.session import get_spark

    # AQE re-plans at runtime, so pre-execution formatted plans hide codegen
    # ids; disable it here ONLY so the audit shows the codegen spans (the
    # engine itself runs with AQE on).
    spark = get_spark("explain-audit", cores=4, shuffle_partitions=8,
                      extra_conf={"spark.sql.adaptive.enabled": "false"})
    sections = [hot_path_section(spark)]
    for name in QUERY_AUDIT:
        sections.append(query_section(spark, SF_DIR, name))
    sections.append(gopher_exchange_section(spark, SF_DIR))
    sections.append(zorder_section(spark, SF_DIR))
    sections.append(quantile_histogram_section(spark, SF_DIR))
    sections.append(incremental_view_section(spark))

    out = ["# PLANS.md — physical-plan audit (generated by scripts/explain_audit.py)",
           "",
           "Every operator was iterated until its plan has the shape the 100 TB",
           "design needs: filters/projection pushed into the parquet scan, map-side",
           "partial aggregation before every shuffle, broadcast for small dims,",
           "TakeOrderedAndProject for top-k (no global sort), whole-stage codegen",
           "everywhere, and zero Python in any hot path (pandas UDFs only in the",
           "multimodal decode seam).", ""]
    failed = 0
    for title, plan, checks in sections:
        out.append(f"## {title}\n")
        for label, ok in checks:
            out.append(f"- [{'x' if ok else ' '}] {label}")
            failed += 0 if ok else 1
        out.append("\n```\n" + plan.strip() + "\n```\n")

    with open(os.path.join(os.path.dirname(os.path.dirname(
            os.path.abspath(__file__))), "PLANS.md"), "w") as fh:
        fh.write("\n".join(out))
    print(f"PLANS.md written; {failed} failed checks")
    sys.exit(1 if failed else 0)


if __name__ == "__main__":
    main()
