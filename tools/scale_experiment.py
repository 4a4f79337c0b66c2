"""Empirical scaling check: do the headline plans scale ~linearly in rows?

Builds k-times-replicated copies of the sf0.1 ``events`` and ``documents``
tables under /tmp (ids offset per copy; document texts perturbed per copy so
near-dup structure doesn't densify quadratically; event times shifted a day
per copy so window counts scale instead of stacking), then times one
representative query per plan family at 1x/4x/8x:

- scan-bound map-only            quality_repetition
- shuffle aggregation (window)   idadecont
- banded self-join               dedup_minhash_lsh
- analytic window function       session_window_events

Linear-ish growth (ratio ~= k) is the pass signal: it means no hidden
all-pairs blowup, no driver-side bottleneck, no partition-count cliff —
the local[32] proxy for "the plan survives a cluster-scale fan-out".

Usage: python tools/scale_experiment.py --chunked  (fresh JVM per family
chunk — the committed-artifact form since r10; bare invocation runs one
session, honoring SPARK_GRAFT_SCALE_ONLY / SPARK_GRAFT_SCALE_WARM)
Prints one JSON line: {query: {"x1": s, "x4": s, "x8": s}} — one cold run
per (query, scale); all three rungs read build_scaled output so storage
format is identical and ratios measure data volume only.
"""

from __future__ import annotations

import functools
import json
import os
import shutil
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from bench import run_once, warm_up
from kafka_exercise_spark.catalog import (
    TABLES,
    drain_memo_build_log,
    load_table,
    table_path,
)
from kafka_exercise_spark.operators import (
    analytic,
    dedup,
    entityres,
    graph,
    market,
    pipeline_ops,
    sampling,
    similarity,
    textops,
)
from kafka_exercise_spark.session import get_spark
from kafka_exercise_spark.sources import lake

BASE = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
WORK = "/tmp/spark_graft_scale"

#: Bump when build_scaled's table layout changes (which tables are
#: replicated and how) — see the _DONE stamp check.
BUILD_LAYOUT_VERSION = "v3-replicates-events-documents-customer-lineitem-embeddings"

QUERIES = {
    "quality_repetition": textops.quality_repetition,
    "idadecont": pipeline_ops.idadecont,
    "dedup_minhash_lsh": dedup.dedup_minhash_lsh,
    # the union-find contraction gets its OWN rung (memo-served): its
    # consumers below then time their marginal cost
    "dedup_components": dedup.dedup_components,
    "session_window_events": analytic.session_window_events,
    "token_budget_select": sampling.token_budget_select,  # per-lang window fill
    "chunk_documents": textops.chunk_documents,  # map-only ×(C/S) fan-out
    "zorder_events": lake.zorder_events,  # scan + tiny per-tile agg
    "bm25_topk": similarity.bm25_topk,  # postings join on shared terms
    "heavy_hitters_topk": textops.heavy_hitters_topk,  # MG sketch + recount
    "graph_pagerank": graph.graph_pagerank,  # per-iter join+groupBy
    "lm_bigram_score": textops.lm_bigram_score,  # bigram vocab grows w/ corpus
    "resample_ffill_events": analytic.resample_ffill_events,  # span-bounded grid
    # pair-join families over the replicated customer/lineitem tables
    "er_fuzzy_pairs": entityres.er_fuzzy_pairs,  # delete-1 blocked join
    "basket_pair_rules": market.basket_pair_rules,  # within-basket pairs
    # char-fingerprint posting join; iterative vocab fit (winnow
    # fingerprints are disjoint across copies via the vocabulary rename, so
    # pair structure replicates linearly; the BPE trainer's per-round cost
    # tracks the ×k vocabulary, never the corpus)
    "winnowing_overlap_pairs": dedup.winnowing_overlap_pairs,
    "bpe_train_merges": textops.bpe_train_merges,
    # the composition/meta operators: each claims "memoized family frames +
    # small aggregates" as its marginal cost. They run AFTER their source
    # families above, so the per-dir memos those entries warmed are in place
    # and the rung times the composition itself (plus any family only the
    # composite builds — e.g. the detector matrix's simhash side — which is
    # its real cost).
    "dedup_detector_matrix": dedup.dedup_detector_matrix,
    "dedup_savings_report": dedup.dedup_savings_report,
    "split_leakage_report": dedup.split_leakage_report,
    # the ANN acceptance harness over the ×k-replicated embeddings table:
    # every variant's index/scan cost is per-(query,candidate), queries a
    # fixed panel — linear rungs mean no hidden all-pairs in the family
    "ann_recall_report": similarity.ann_recall_report,
    # the capstone composition (gate + survivors + split + mix)
    "curation_run_manifest": textops.curation_run_manifest,
    # the winnow admission probe (batch × corpus posting join — the
    # incremental shape) and the iterative perceptron fit (per-round cost =
    # one aggregate over the ×k feature table; the round count is FIXED, so
    # wall should track k, never k²)
    "winnow_incremental": dedup.winnow_incremental,
    "perceptron_train_rounds": textops.perceptron_train_rounds,
    # the model-vs-rules sheets run AFTER the fit (perceptron_train_rounds)
    # and the manifest above, so their rungs time the marginal composition
    # cost each claims: one labels join + a (split, source) groupBy; a
    # constant 9-way fan-out groupBy; one doc-keyed join over two served
    # frames.
    "model_rule_disagreement_report": textops.model_rule_disagreement_report,
    "model_gate_threshold_sweep": textops.model_gate_threshold_sweep,
    "curation_manifest_model_gate": textops.curation_manifest_model_gate,
    # the weighted-selection capstone (draw map-side + one per-source window
    # over the survivor set; runs AFTER the dedup families so the component
    # memo is warm and the rung times the selection itself) and the two
    # online-model audit sheets (one feature-table aggregate each + a
    # (split, source)/(split) groupBy; after the fit like the sheets above).
    "token_budget_weighted": sampling.token_budget_weighted,
    "model_promotion_report": textops.model_promotion_report,
    "model_batch_drift_report": textops.model_batch_drift_report,
    # pure compositions over memo-served frames (run after their parents
    # above, so the rung times the marginal join/aggregate each claims):
    # BOTH deploy-impact matrices and the per-doc leakage repair plan (same
    # tiers as split_leakage_report).
    "model_gate_impact_matrix": textops.model_gate_impact_matrix,
    "model_replace_impact_matrix": textops.model_replace_impact_matrix,
    "split_repair_plan": dedup.split_repair_plan,
    # training-data construction sheets: two map+agg layout sheets
    # (scan-bound — should track corpus size exactly), their 2-row decision
    # composition, the map-only FIM plan, the per-lang mirror pairing
    # (classifier shuffle + lang window — the window's per-lang task grows
    # ×k, the shape the two-level shard extension addresses at real scale),
    # and the pool-bounded contrastive miner (|queries|×TOP_K candidates —
    # should be FLAT, not linear: the pool, not the corpus, is the cost
    # driver; only the memoized index build underneath tracks k).
    "length_bucket_plan": sampling.length_bucket_plan,
    "output_shard_manifest": sampling.output_shard_manifest,
    "packing_vs_bucketing_report": sampling.packing_vs_bucketing_report,
    "fim_split_plan": textops.fim_split_plan,
    "preference_pairs": textops.preference_pairs,
    # the SemDeDup pair-frame build gets its OWN rung (within-cell
    # self-join, Σ|cell|² by design — and the scale fixture fattens the
    # SAME cells ×k because the quantizer is the FIXED served centroid
    # set, so this rung grows ~k², unlike production where k-means k
    # grows with the corpus and cells stay bounded). Running it first
    # warms the session memo so the miner below times its own claim —
    # the pool-bounded candidate split — not its parent's build.
    "dedup_semantic": similarity.dedup_semantic,
    "hard_negatives_topk": similarity.hard_negatives_topk,
    # the preference audit and export capstone run AFTER their parents
    # (classifier/components; weighted selection) — marginal-join rungs
    "preference_pair_dedup_audit": textops.preference_pair_dedup_audit,
    "export_shard_manifest": sampling.export_shard_manifest,
    # pure compositions (run after their parents above): the per-shard
    # raw-vs-selected manifest diff and the preference repair plan
    # (audit-joined frame + an O(poisoned) re-pair window)
    "curation_export_delta": sampling.curation_export_delta,
    "preference_pair_repair_plan": textops.preference_pair_repair_plan,
    # the simhash cutoff sweep (one pass over the banded pair plan at d<=3 —
    # candidate mass measured exactly linear with
    # tools/detector_scale_probe.py, since removed: `git show
    # c974e43:tools/detector_scale_probe.py`) and the DPO margin histogram
    # (the pairing's plan + a |bands|-row groupBy)
    "simhash_threshold_sweep": dedup.simhash_threshold_sweep,
    "preference_margin_histogram": textops.preference_margin_histogram,
    # bucketed-layout manifest: scan-bound like its economics sheet
    "bucket_batch_manifest": sampling.bucket_batch_manifest,
    # the bucketed layout's selected-corpus twin + delta (compositions over
    # the selection and the two bucket manifests) and the DPO
    # filtered-export capstone (repair plan + two |langs|-row aggregates)
    "bucket_export_manifest": sampling.bucket_export_manifest,
    "bucket_export_delta": sampling.bucket_export_delta,
    "preference_filtered_export": textops.preference_filtered_export,
    # the selected-corpus layout decision sheet (2-row fold of the
    # selection's packed layout + the selected bucket manifest)
    "packing_vs_bucketing_selected_report": (
        sampling.packing_vs_bucketing_selected_report
    ),
    # the DPO writer manifest (repair plan + broadcast cuts + one (lang,
    # shard) groupBy) and the cross-version export delta (the v-side
    # re-selection — filtered pairs, re-contraction, re-budget — plus ≤8-row
    # folds; its rung prices the v-side rerun, the v+1 side is the warm
    # selection memo)
    "preference_export_manifest": textops.preference_export_manifest,
    "export_version_delta": sampling.export_version_delta,
    # the bucketed twin rides the same memo-served selections: its rung
    # prices the bucket folds + joins alone (the shard delta above pays
    # the v-side rerun in the same chunk)
    "bucket_version_delta": sampling.bucket_version_delta,
    # the DPO export's cross-version delta — its rung prices the v-side
    # rerun (scores anti-join, re-pairing, re-contraction on the filtered
    # pair list) plus the |langs|-row folds; the v+1 side is the warm
    # pref_pairs_comps memo built by the repair plan timed earlier in the
    # preference chunk
    "preference_version_delta": textops.preference_version_delta,
}

#: Fresh-session ladder chunks. The single-JVM full ladder accumulates
#: ~45 queries x 3 dirs of checkpointed memo frames in one heap; by the
#: late rungs that session state inflated sub-linear builds ~2x
#: (dedup_detector_matrix x8: 14.6 s in-ladder vs 6.96 s fresh, measured
#: with tools/detector_scale_probe.py, since removed: `git show
#: c974e43:tools/detector_scale_probe.py`). Chunking runs each family
#: group in its OWN subprocess/JVM so committed rung numbers ARE the
#: fresh-session numbers.
#:
#: Each chunk lists `warm`: parent entries run UNTIMED on every rung
#: dir before the chunk's timed loop, so marginal-cost entries keep
#: exactly the semantics the full ladder gave them (parents' memos
#: warm, rung = the composition itself). Warm lists are derived from
#: the SCALING_r09 build_s cold-build map: an entry goes in `warm` iff
#: a timed entry consumes a memo it builds and it is not itself timed
#: earlier in the same chunk.
CHUNKS: tuple[dict, ...] = (
    {
        "name": "scan-agg-window",
        "warm": [],
        "timed": [
            "quality_repetition",
            "idadecont",
            "session_window_events",
            "token_budget_select",
            "chunk_documents",
            "zorder_events",
            "bm25_topk",
            "heavy_hitters_topk",
            "graph_pagerank",
            "lm_bigram_score",
            "resample_ffill_events",
        ],
    },
    {
        "name": "pair-joins",
        "warm": [],
        "timed": [
            "er_fuzzy_pairs",
            "basket_pair_rules",
            "winnowing_overlap_pairs",
            "winnow_incremental",
        ],
    },
    {
        # detector matrix times the tier_pairs composition with the
        # winnow side warm ("parents warmed as the ladder leaves them")
        "name": "dedup-core",
        "warm": ["winnowing_overlap_pairs"],
        "timed": [
            "dedup_minhash_lsh",
            "dedup_components",
            "dedup_detector_matrix",
            "dedup_savings_report",
            "split_leakage_report",
            "split_repair_plan",
            "simhash_threshold_sweep",
        ],
    },
    {
        "name": "ann",
        "warm": [],
        "timed": ["ann_recall_report", "dedup_semantic", "hard_negatives_topk"],
    },
    {
        "name": "model-fit",
        "warm": [],
        "timed": [
            "bpe_train_merges",
            "perceptron_train_rounds",
            "model_rule_disagreement_report",
            "model_gate_threshold_sweep",
            "model_promotion_report",
            "model_batch_drift_report",
        ],
    },
    {
        # manifests/capstones consume the component frame, the model
        # fit, and (for the model-gated variants) the rules manifest
        "name": "curation-capstones",
        "warm": [
            "dedup_minhash_lsh",
            "dedup_components",
            "perceptron_train_rounds",
        ],
        "timed": [
            "curation_run_manifest",
            "curation_manifest_model_gate",
            "token_budget_weighted",
            "model_gate_impact_matrix",
            "model_replace_impact_matrix",
            "length_bucket_plan",
            "output_shard_manifest",
            "packing_vs_bucketing_report",
            "export_shard_manifest",
            "curation_export_delta",
            "bucket_batch_manifest",
            "bucket_export_manifest",
            "bucket_export_delta",
            "packing_vs_bucketing_selected_report",
            "export_version_delta",
            "bucket_version_delta",
        ],
    },
    {
        "name": "preference",
        "warm": ["dedup_minhash_lsh", "dedup_components"],
        "timed": [
            "fim_split_plan",
            "preference_pairs",
            "preference_pair_dedup_audit",
            "preference_pair_repair_plan",
            "preference_margin_histogram",
            "preference_filtered_export",
            "preference_export_manifest",
            "preference_version_delta",
        ],
    },
)

# every ladder entry must be timed in exactly one chunk — a silently
# dropped entry would vanish from SCALING_r{N}.json without a trace
_timed_all = [n for c in CHUNKS for n in c["timed"]]
assert sorted(_timed_all) == sorted(QUERIES), (
    sorted(set(QUERIES) ^ set(_timed_all))
)
assert all(w in QUERIES for c in CHUNKS for w in c["warm"])


def build_scaled(spark, k: int) -> str:
    out = os.path.join(WORK, f"x{k}")
    # _DONE carries a LAYOUT VERSION: a stale cache built by an older
    # build_scaled (e.g. one that symlinked customer/lineitem unscaled)
    # would silently feed 1x data to every rung and fabricate flat
    # "scaling" ratios — stamp mismatch forces a rebuild.
    done = os.path.join(out, "_DONE")
    if os.path.exists(done):
        with open(done) as f:
            if f.read().strip() == BUILD_LAYOUT_VERSION:
                return out
        shutil.rmtree(out)
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)

    def _write(table: str, copies: list) -> None:
        union = functools.reduce(DataFrame.unionByName, copies)
        union.write.parquet(os.path.join(out, f"{table}.parquet"))

    ev = load_table(spark, BASE, "events")
    n_ev = ev.count()
    docs = load_table(spark, BASE, "documents")
    n_docs = docs.count()
    _write("events", [
        ev.select(
            (F.col("event_id") + F.lit(i * n_ev)).alias("event_id"),
            (F.col("ts") + F.make_interval(days=F.lit(i))).alias("ts"),
            (F.col("user_id") + F.lit(i * 10_000)).alias("user_id"),
            "event_type",
            "value",
            "props",
        )
        for i in range(k)
    ])
    # Per-copy VOCABULARY RENAME: every word w becomes "w<tag>", a
    # bijection on the token vocabulary. Within a copy the shingle-overlap
    # structure is exactly the original corpus's (renames preserve set
    # relations); across copies ZERO shingles are shared (disjoint
    # vocabularies) — so near-dup pair structure scales linearly, never
    # quadratically. Two rejected alternatives, both measured: a plain
    # suffix changes one shingle of ~50, leaving cross-copy near-dup pairs
    # band-colliding (superlinear 2.6x step 8x→16x); an INTERLEAVED tag
    # token puts the same token in every bigram, making every same-copy
    # doc pair overlap (within-copy pair explosion, 17x at 1x).
    def _tagged(i: int) -> F.Column:
        return F.regexp_replace(F.col("text"), r"(\S+)", f"$1u{i}")

    _write("documents", [
        docs.select(
            (F.col("doc_id") + F.lit(i * n_docs)).alias("doc_id"),
            "source",
            _tagged(i).alias("text"),
            *[
                # n_chars re-derived so the scaled fixture stays
                # self-consistent with the perturbed text
                F.length(_tagged(i))
                .cast(docs.schema["n_chars"].dataType)
                .alias("n_chars")
                if c == "n_chars"
                else F.col(c)
                for c in docs.columns
                if c not in ("doc_id", "source", "text")
            ],
        )
        for i in range(k)
    ])
    # customer ×k for the ER family: per-copy 2-char name prefix with
    # pairwise prefix distance 2 ("aa", "bb", …), so NO cross-copy pair is
    # within Levenshtein 1 — the distance-1 pair structure (what the
    # blocked join's work scales with) replicates exactly linearly, the
    # same design argument as the documents vocabulary rename
    cust = load_table(spark, BASE, "customer")
    n_cust = cust.count()
    _write("customer", [
        cust.select(
            (F.col("c_custkey") + F.lit(i * 10 * n_cust)).alias("c_custkey"),
            F.concat(F.lit(chr(ord("a") + i) * 2), F.col("c_name")).alias(
                "c_name"
            ),
            *[c for c in cust.columns if c not in ("c_custkey", "c_name")],
        )
        for i in range(k)
    ])
    # lineitem ×k for the basket family: baskets must never merge across
    # copies (orderkey offset); parts stay shared — pair SUPPORT grows k×
    # (linear counts on a fixed pair domain), candidate generation stays
    # Σ|basket|² per copy
    li = load_table(spark, BASE, "lineitem")
    max_ok = li.agg(F.max("l_orderkey")).collect()[0][0] + 1
    _write("lineitem", [
        li.select(
            (F.col("l_orderkey") + F.lit(i * max_ok)).alias("l_orderkey"),
            *[c for c in li.columns if c != "l_orderkey"],
        )
        for i in range(k)
    ])
    # embeddings ×k for the ANN family: vec_id offset keeps ids unique;
    # vectors replicate UNPERTURBED — retrieval cost is per
    # (query, candidate) with a FIXED query panel (vec_id < N_QUERIES
    # stays the original panel), so cells/buckets grow k× fatter and the
    # scan work grows linearly, which is exactly the capacity question
    # the rung asks. No pair structure exists to densify quadratically.
    emb = load_table(spark, BASE, "embeddings")
    n_emb = emb.count()
    _write("embeddings", [
        emb.select(
            (F.col("vec_id") + F.lit(i * n_emb)).alias("vec_id"),
            *[c for c in emb.columns if c != "vec_id"],
        )
        for i in range(k)
    ])
    _scaled = ("events", "documents", "customer", "lineitem", "embeddings")
    for t in TABLES:
        src = table_path(BASE, t)
        dst = table_path(out, t)
        if t not in _scaled and os.path.exists(src):
            os.symlink(src, dst)
    with open(os.path.join(out, "_DONE"), "w") as f:
        f.write(BUILD_LAYOUT_VERSION)
    return out


def run_chunked() -> None:
    """Run the ladder as one fresh subprocess/JVM per CHUNKS entry and
    print the merged JSON, led by the host canary (committed into the
    artifact under ``host_canary``). Chunk boundaries and warm lists keep
    every rung's semantics identical to a single-session ladder; only the
    accumulated-heap distortion is removed (see CHUNKS)."""
    import subprocess  # noqa: PLC0415

    from tools.host_canary import gate_or_warn  # noqa: PLC0415

    canary = gate_or_warn("scaling ladder (chunked)")
    merged: dict[str, dict] = {}
    for chunk in CHUNKS:
        env = dict(os.environ)
        env["SPARK_GRAFT_SCALE_ONLY"] = ",".join(chunk["timed"])
        if chunk["warm"]:
            env["SPARK_GRAFT_SCALE_WARM"] = ",".join(chunk["warm"])
        else:
            env.pop("SPARK_GRAFT_SCALE_WARM", None)
        print(f"=== chunk {chunk['name']} ===", file=sys.stderr)
        proc = subprocess.run(
            [sys.executable, os.path.abspath(__file__)],
            env=env,
            capture_output=True,
            text=True,
        )
        if proc.returncode != 0:
            sys.stderr.write(proc.stderr[-4000:])
            raise SystemExit(
                f"chunk {chunk['name']} failed (rc={proc.returncode})"
            )
        # the child's stdout may carry Spark/Ivy banners or, pathologically,
        # nothing: take the LAST parseable JSON line, so a stray trailing
        # line cannot sink the ladder, and name the chunk when none parses
        part = None
        for line in reversed(proc.stdout.strip().splitlines()):
            try:
                part = json.loads(line)
                break
            except ValueError:
                continue
        if not isinstance(part, dict):
            sys.stderr.write(proc.stdout[-2000:])
            raise SystemExit(
                f"chunk {chunk['name']}: no JSON result line on stdout"
            )
        overlap = set(part) & set(merged)
        assert not overlap, overlap
        merged.update(part)
    # registry order, like the single-session ladder; the canary rides
    # along as a non-query key (consumers iterate QUERIES, never keys)
    out = {k: merged[k] for k in QUERIES if k in merged}
    out["host_canary"] = canary
    print(json.dumps(out))


def _ladder_names(var: str) -> list[str]:
    """The comma-separated ladder entries named by env var ``var``."""
    names = [x.strip() for x in os.environ.get(var, "").split(",") if x.strip()]
    unknown = set(names) - set(QUERIES)
    if unknown:
        raise SystemExit(f"{var} names not in the ladder: {sorted(unknown)}")
    return names


def main() -> None:
    spark = get_spark("scale_experiment")
    spark.sparkContext.setLogLevel("ERROR")
    # warm the session, then each query SHAPE on the tiny fixture:
    # codegen/JIT are scale-independent, and per-dir memos
    # (localCheckpoint) stay cold for the timed dirs — so timings below
    # measure data volume, not compilation
    warm = "/root/testdata/sf0.01"
    warm_up(spark, warm)
    only = _ladder_names("SPARK_GRAFT_SCALE_ONLY")
    queries = {k: v for k, v in QUERIES.items() if k in only} if only else QUERIES
    # untimed per-dir parents (chunked mode): run on every rung dir
    # BEFORE the timed loop so marginal-cost entries find their memo
    # parents warm, exactly as the full single-session ladder left them
    warm_parents = _ladder_names("SPARK_GRAFT_SCALE_WARM")
    for n in warm_parents:
        QUERIES[n](spark, warm).write.format("noop").mode("overwrite").save()
    for fn in queries.values():
        fn(spark, warm).write.format("noop").mode("overwrite").save()
    # the 1x baseline goes through build_scaled too: identical storage
    # format (timestamp encoding, file layout) on every rung, so ratios
    # measure data volume only. One timed run per (query, scale) — repeats
    # would hit per-dir localCheckpoint memos and report cache hits.
    rungs = tuple(
        int(x)
        for x in os.environ.get("SPARK_GRAFT_SCALE_RUNGS", "1,4,8").split(",")
    )
    dirs = {k: build_scaled(spark, k) for k in rungs}
    for d in dirs.values():
        for n in warm_parents:
            QUERIES[n](spark, d).write.format("noop").mode("overwrite").save()
    results: dict[str, dict] = {}
    drain_memo_build_log()  # warm-phase builds are not rung evidence
    for name, fn in queries.items():
        results[name] = {}
        # bench.run_once's self-attribution (the SCALING_r08 lesson):
        # every cold memo built INSIDE a timed rung is named with its
        # build cost under that rung, so a super-linear-looking rung
        # carries its own explanation — "first entry to touch the shared
        # frame on this dir". Builds NEST (lsh_pairs calls
        # hashed_shingles): read build_s as "which frames were cold here",
        # never as a sum.
        builds: dict[str, dict[str, float]] = {}
        for k, d in dirs.items():
            t: list[float] = []
            run_once(spark, fn, d, t, f"x{k}", builds)
            results[name][f"x{k}"] = round(t[0], 3)
        if builds:
            results[name]["build_s"] = builds
    print(json.dumps(results))


if __name__ == "__main__":
    if "--chunked" in sys.argv[1:]:
        run_chunked()
    else:
        main()
