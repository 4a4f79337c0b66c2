"""Deterministic sampling / splitting / mixing for training-data pipelines.

At 100 TB, sampling decisions must be (a) reproducible across reruns and
cluster sizes, (b) computable row-locally with no shuffle, and (c) auditable.
RNG-based sampling (``df.sample``) fails all three — partition order changes
the sample. The standard fix, used here throughout, is **hash-bucket
sampling**: bucket = H(salt, key) mod 100, keep buckets below the rate. The
decision is a pure function of the row key, so it survives reruns, repartitions
and engine changes — and the DuckDB oracle reproduces it bit-for-bit
(md5-derived, functions/text.py:22-30).

Three first-class ops:

- **Stratified hash sampling** — per-stratum rates (per ``source`` here);
  the map side tags rows, a single agg audits realized rates.
- **Train/valid/test split** — disjoint hash buckets (80/10/10) on a salted
  key; different salt than sampling so the two decisions are independent.
- **Domain-mix resampling** — integer upsampling by per-source weight via
  ``explode(sequence(1, w))``: a narrow (no-shuffle) operator; fractional
  parts would add one hash-sampled extra copy (same primitive as above).

All three are pure map-side + one small audit aggregation: at 100 TB each is
a single scan with no data shuffle before the final per-stratum rollup.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from kafka_exercise_spark.catalog import load_table, memo, scale_partitions
from kafka_exercise_spark.functions.text import md5_hash64


def _hash_bucket(key: F.Column, salt: str, buckets: int = 100) -> F.Column:
    """Stable bucket in [0, buckets): md5-derived, salt-separated."""
    return F.pmod(
        md5_hash64(F.concat(F.lit(f"{salt}:"), key.cast("string"))), F.lit(buckets)
    )


def _source_num(col: F.Column) -> F.Column:
    """Numeric suffix of the fixture's source tag ('src7' → 7)."""
    return F.regexp_extract(col, r"(\d+)", 1).cast("int")


def sample_hash_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source stratified sample with deterministic hash buckets.

    Rates vary by stratum (5/10/15/20 % keyed off the source id — a stand-in
    for "keep more of the high-quality domain"). Output audits each stratum:
    total docs, docs kept, the configured rate, and the first kept doc_id
    (a value-level probe that the *membership*, not just the count, is
    deterministic).
    """
    docs = load_table(spark, sf_dir, "documents")
    rate = (F.pmod(_source_num(F.col("source")), F.lit(4)) + 1) * 5
    keep = _hash_bucket(F.col("doc_id"), "sample") < rate
    return (
        docs.select("source", "doc_id", rate.alias("rate_pct"), keep.alias("keep"))
        .groupBy("source", "rate_pct")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.when(F.col("keep"), 1).otherwise(0)).alias("n_sampled"),
            F.min(F.when(F.col("keep"), F.col("doc_id"))).alias("first_sampled"),
        )
    )


def split_train_valid_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Disjoint 80/10/10 train/valid/test split by salted hash bucket.

    The salt differs from the sampling salt, so split membership is
    independent of sample membership. Audit output per split: doc count,
    total chars (size balance), distinct sources (stratification balance).
    """
    docs = load_table(spark, sf_dir, "documents")
    b = _hash_bucket(F.col("doc_id"), "split")
    split = (
        F.when(b < 80, "train").when(b < 90, "valid").otherwise("test")
    )
    return (
        docs.select(split.alias("split"), "n_chars", "source")
        .groupBy("split")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
            F.count_distinct("source").alias("n_sources"),
        )
    )


def domain_mix_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted domain mixing by integer upsampling (1-3 copies per source).

    ``explode(sequence(1, w))`` replicates rows JVM-side with no shuffle —
    the scalable form of "repeat domain D w times in the training mix".
    Output audits in-vs-out row counts per source. (Fractional weights
    compose with hash sampling: w=2.3 → 2 copies + keep a 30 % hash sample
    of a third.)
    """
    docs = load_table(spark, sf_dir, "documents")
    w = F.pmod(_source_num(F.col("source")), F.lit(3)) + 1
    exploded = docs.select(
        "source", "doc_id", w.alias("weight")
    ).withColumn("copy", F.explode(F.sequence(F.lit(1), F.col("weight"))))
    return exploded.groupBy("source", "weight").agg(
        F.count_distinct("doc_id").alias("n_docs_in"),
        F.count("*").alias("n_rows_out"),
    )


#: Token budget per packed training sequence.
PACK_BUDGET_TOKENS = 2048

#: Packing shards — the unit of window parallelism (and, in production, of
#: output file layout).
PACK_SHARDS = 8


def pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic sequence packing: assign every document a (shard,
    seq_bin, offset) so fixed-token-budget training sequences can be
    assembled by concatenating each bin in doc_id order — the step between
    "deduped corpus" and "batches the trainer reads".

    Contiguous-fill packing per shard: running token total over doc_id
    order, bin = floor(tokens-before-this-doc / budget); a doc that crosses
    a budget boundary belongs to the bin it starts in (assemblers overflow
    into the next sequence). Everything is exact integer arithmetic over a
    windowed cumulative sum, so the layout is bit-reproducible across
    reruns, partitionings and engines — the same guarantee the rest of this
    module gives. The window partitions by shard (pmod of doc_id): N shards
    = N independent window tasks, so at 100 TB parallelism is chosen by
    shard count (thousands, aligned to output files), never a global sort.
    """
    from kafka_exercise_spark.functions.text import tokens  # noqa: PLC0415

    docs = load_table(spark, sf_dir, "documents")
    n_tok = F.size(tokens(F.col("text"))).cast("long")
    budget = F.lit(PACK_BUDGET_TOKENS)
    return _packed_layout(
        docs.select("doc_id", n_tok.alias("n_tok"))
    ).withColumn(
        "offset_in_bin",
        F.col("cum_tok") - F.col("n_tok") - F.col("seq_bin") * budget,
    )


def _packed_layout(sel: DataFrame) -> DataFrame:
    """THE packing rule, in one place: given (doc_id, n_tok), emit
    (doc_id, shard, n_tok, cum_tok, seq_bin) — pmod shard, doc_id-order
    running total per shard, start-bin attribution for boundary
    crossers. ``pack_sequences`` (raw corpus), ``output_shard_manifest``
    and ``export_shard_manifest`` (selected corpus) all consume this
    single definition, so the rule cannot drift between the layout and
    its manifests."""
    from pyspark.sql import Window  # noqa: PLC0415

    w = (
        Window.partitionBy("shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        sel.select(
            "doc_id",
            F.pmod(F.col("doc_id"), F.lit(PACK_SHARDS)).alias("shard"),
            "n_tok",
        )
        .withColumn("cum_tok", F.sum("n_tok").over(w))
        .withColumn(
            "seq_bin",
            F.floor(
                (F.col("cum_tok") - F.col("n_tok"))
                / F.lit(PACK_BUDGET_TOKENS)
            ),
        )
    )


def _shard_manifest(packed: DataFrame) -> DataFrame:
    """The per-(shard, seq_bin) writer-manifest rollup both manifest
    entries share: doc count, token mass, doc-id range, fill vs the
    sequence budget in ppm."""
    return (
        packed.groupBy("shard", "seq_bin")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("n_tok").cast("long").alias("bin_tokens"),
            F.min("doc_id").cast("long").alias("first_doc_id"),
            F.max("doc_id").cast("long").alias("last_doc_id"),
        )
        .select(
            F.col("shard").cast("long").alias("shard"),
            F.col("seq_bin").cast("long").alias("seq_bin"),
            "n_docs",
            "bin_tokens",
            "first_doc_id",
            "last_doc_id",
            F.expr(f"(bin_tokens * 1000000) div {PACK_BUDGET_TOKENS}")
            .cast("long")
            .alias("fill_ppm"),
        )
    )


#: Max documents kept per domain (C4 / RefinedWeb-style per-host cap).
DOMAIN_CAP = 15

#: Output shards of the deterministic global shuffle. In production this is
#: thousands (one per output file); each shard is one independent window task.
SHUFFLE_SHARDS = 16


def domain_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain document cap: keep at most DOMAIN_CAP docs per ``source``,
    chosen by deterministic hash order (C4's and RefinedWeb's "limit pages
    per host" anti-spam/anti-skew step).

    One window over (partition by source, order by salted hash): the shuffle
    key is the domain, so parallelism = #domains — millions at web scale,
    never a global sort. Hash order (not doc_id order) makes the kept set a
    pseudo-random, position-bias-free sample of each domain. Emits the kept
    rows themselves (source, doc_id, keep_rank) so the oracle value-checks
    membership, not just per-domain counts.
    """
    from pyspark.sql import Window  # noqa: PLC0415

    docs = load_table(spark, sf_dir, "documents")
    h = md5_hash64(F.concat(F.lit("cap:"), F.col("doc_id").cast("string")))
    w = Window.partitionBy("source").orderBy("hk", "doc_id")
    return (
        docs.select("source", "doc_id", h.alias("hk"))
        .withColumn("keep_rank", F.row_number().over(w).cast("long"))
        .filter(F.col("keep_rank") <= DOMAIN_CAP)
        .select("source", "doc_id", "keep_rank")
    )


#: Token budget per language in the training mixture (absolute, like a real
#: mixture spec: "N tokens of each language", not a fraction of the corpus).
LANG_TOKEN_BUDGET = 2000


def token_budget_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy per-language token-budget fill: keep documents, in
    deterministic hash order, until each language's token budget is spent —
    the mixture-construction step ("20 B tokens of code, 5 B of French, …")
    between a curated corpus and a training run.

    A doc is kept iff it *starts* within the budget (running token total
    before it < budget), so the kept set is a pure function of (salt,
    doc_id, budget): reproducible across reruns, partitionings and engines,
    and auditable — the emitted ``cum_tok`` is the running total the
    decision was made on. One window per language (shuffle key = lang):
    parallelism is the language count here, but at 100 TB the same shape
    shards as ``pack_sequences`` does — partition by (lang, H(doc) mod S)
    with per-shard budget/S — so no single-task language exists; the
    two-level form is a mechanical extension of this exact plan.
    """
    from pyspark.sql import Window  # noqa: PLC0415

    from kafka_exercise_spark.functions.text import tokens  # noqa: PLC0415

    docs = load_table(spark, sf_dir, "documents")
    h = md5_hash64(F.concat(F.lit("budget:"), F.col("doc_id").cast("string")))
    w = (
        Window.partitionBy("lang")
        .orderBy("hk", "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        docs.select(
            "lang",
            "doc_id",
            F.size(tokens(F.col("text"))).cast("long").alias("n_tok"),
            h.alias("hk"),
        )
        .withColumn("cum_tok", F.sum("n_tok").over(w))
        .filter(F.col("cum_tok") - F.col("n_tok") < LANG_TOKEN_BUDGET)
        .select("lang", "doc_id", "n_tok", "cum_tok")
    )


def quality_quantile_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language quantile-calibrated quality band: score every document
    with a cheap signal (milli-chars per token ≈ mean token length) and keep
    the interquartile band [Q1, Q3] of the document's OWN language — the
    calibration step that makes one quality cutoff work across languages
    with different orthography (a fixed chars/token band that is right for
    English would misjudge Chinese), and the standard robust trim of both
    tails (gibberish long-token docs above, fragment/boilerplate below).

    Two-pass plan: pass 1 aggregates per-language quartiles (|langs| rows —
    tiny), pass 2 broadcast-joins them back and filters map-side. The signal
    is integer-valued, so interpolated quartiles are exact quarter-doubles
    (x.0/x.25/x.5/x.75) — the band decision is exact arithmetic,
    bit-reproducible in the oracle, no float-boundary flakes. At 100 TB
    pass 1 uses ``approx_percentile`` (documented swap): the threshold
    becomes approximate but the decision stays deterministic given it.
    """
    from kafka_exercise_spark.functions.text import tokens  # noqa: PLC0415

    docs = load_table(spark, sf_dir, "documents")
    # token-less docs are excluded up front: the signal is undefined for
    # them, and engines disagree on division by zero (Spark NULL, DuckDB
    # error) — the oracle mirrors the same n_tok > 0 bound
    scored = (
        docs.select(
            "lang",
            "doc_id",
            "n_chars",
            F.size(tokens(F.col("text"))).alias("n_tok"),
        )
        .filter(F.col("n_tok") > 0)
        .select(
            "lang",
            "doc_id",
            # integer div == oracle `//` at any magnitude (n_tok > 0
            # filtered above, n_chars >= 0, so div == floor here)
            F.expr("(n_chars * 1000) div n_tok").alias("milli_cpt"),
        )
    )
    quartiles = scored.groupBy("lang").agg(
        F.percentile("milli_cpt", 0.25).alias("q1_cpt"),
        F.percentile("milli_cpt", 0.75).alias("q3_cpt"),
    )
    return (
        scored.join(F.broadcast(quartiles), "lang")
        .filter(
            (F.col("milli_cpt") >= F.col("q1_cpt"))
            & (F.col("milli_cpt") <= F.col("q3_cpt"))
        )
        .select(
            "lang",
            "doc_id",
            "milli_cpt",
            F.round("q1_cpt", 2).alias("q1_cpt"),
            F.round("q3_cpt", 2).alias("q3_cpt"),
        )
    )


def global_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global training-order shuffle: every doc gets a
    (shard, position) such that reading shards 0..S-1, each in position
    order, replays the corpus in seeded-pseudorandom order — the final step
    between "curated corpus" and "what the trainer streams".

    shard = H(seed, doc_id) mod S routes docs in one hash shuffle;
    position = row_number within the shard by (H, doc_id). No global sort,
    no single-partition window: parallelism is the shard count, and the
    layout is a pure function of (seed, doc_id) — rerunning on a different
    cluster, partitioning, or engine reproduces it bit-for-bit. Epoch 2
    uses a different seed, not a re-shuffle of epoch 1's output.
    """
    from pyspark.sql import Window  # noqa: PLC0415

    docs = load_table(spark, sf_dir, "documents")
    h = md5_hash64(F.concat(F.lit("shuffle:"), F.col("doc_id").cast("string")))
    w = Window.partitionBy("shard").orderBy("hk", "doc_id")
    return (
        docs.select("doc_id", h.alias("hk"))
        .withColumn("shard", F.pmod(F.col("hk"), F.lit(SHUFFLE_SHARDS)).cast("long"))
        .withColumn("position", F.row_number().over(w).cast("long"))
        .select("doc_id", "shard", "position")
    )


#: Total token budget the mixture plan allocates across sources.
MIX_PLAN_BUDGET = 50_000


def mixture_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixture planning: given per-source token inventories and target
    weights, allocate a total token budget and report, per source, the
    target, what is actually satisfiable, the shortfall, and the sampling
    rate to apply — the spreadsheet a mixture owner signs off before the
    selection job (``token_budget_select``) runs.

    Weights derive from the source id (the stand-in for a config file);
    every output is an exact integer (floor divisions of exact-in-double
    integer ratios): targets in tokens, shortfalls in tokens, rates in
    basis points — deliberately no decimal-rounded floats anywhere, the
    oracle-stability rule this repo's LM scorer had to learn. One token
    count per source (map-side combine), one 1-row weight total broadcast
    back: the plan costs one scan regardless of corpus size.
    """
    from kafka_exercise_spark.functions.text import tokens  # noqa: PLC0415

    docs = load_table(spark, sf_dir, "documents")
    w = (F.pmod(_source_num(F.col("source")), F.lit(4)) + 1).alias("weight")
    inventory = (
        docs.select("source", w, F.size(tokens(F.col("text"))).alias("n_tok"))
        .groupBy("source", "weight")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tok").cast("long").alias("avail_tokens"),
        )
    )
    # sum_w via an unpartitioned window over the TINY inventory (one row
    # per source) — a separate agg branch would re-scan documents; the
    # single-partition window holds |sources| rows, not corpus rows
    from pyspark.sql import Window  # noqa: PLC0415

    planned = inventory.withColumn(
        "sum_w", F.sum("weight").over(Window.partitionBy())
    ).withColumn(
        # integer `div` ≡ the oracle's `//` at any magnitude; a float
        # floor drifts once budget·weight passes 2^53 (module rule)
        "target_tokens",
        F.expr(f"({MIX_PLAN_BUDGET} * weight) div sum_w").cast("long"),
    )
    kept = F.least(F.col("avail_tokens"), F.col("target_tokens"))
    return planned.select(
        "source",
        F.col("weight").cast("long").alias("weight"),
        "n_docs",
        "avail_tokens",
        "target_tokens",
        kept.alias("planned_tokens"),
        (F.col("target_tokens") - kept).cast("long").alias("shortfall_tokens"),
        F.expr(
            "(least(avail_tokens, target_tokens) * 10000) div avail_tokens"
        ).cast("long").alias("rate_bps"),
    )


#: Weighted-sample size per stratum (per ``source``).
ES_SAMPLE_N = 20

#: Resolution of the hash-derived uniform: u ∈ {1/M, …, M/M}, M = 2^20.
ES_UNIFORM_M = 1 << 20


def weighted_sample_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted sampling WITHOUT replacement, per source —
    Efraimidis–Spirakis (A-ES) order sampling with hash-derived uniforms:
    key(d) = −ln(u_d)/w_d with u_d a pure function of ``doc_id``; the N
    smallest keys per stratum ARE a weighted sample without replacement.
    The pipeline use: pick a quality-weighted subsample of each source
    with zero RNG state — reruns, repartitions, and engines all agree on
    the exact same sample (the same argument as the hash-bucket sampler
    above, extended to weighted draws).

    Weight here = token count (longer docs proportionally likelier), the
    common "sample by token mass" policy.

    Scale: the per-stratum top-N is a rank()-limited window — Spark ≥3.5
    plans WindowGroupLimit, keeping a running N-heap per partition BEFORE
    the stratum shuffle, so the exchange carries ~N·partitions rows, not
    the corpus. Exactness: u is an integer ratio (identical doubles), ln
    and the divide are same-formula folds, and the output key is ONE 0-dp
    round at micro resolution (oracle-exactness rules, MEMORY.md).
    """
    from kafka_exercise_spark.functions.text import tokens  # noqa: PLC0415
    from pyspark.sql import Window  # noqa: PLC0415

    docs = scale_partitions(load_table(spark, sf_dir, "documents"), spark)
    w = F.size(tokens(F.col("text"))).cast("long")
    h = F.pmod(
        md5_hash64(F.concat(F.lit("es:"), F.col("doc_id").cast("string"))),
        F.lit(ES_UNIFORM_M),
    )
    u = (h + 1) / F.lit(float(ES_UNIFORM_M))
    scored = docs.select(
        "source", "doc_id", w.alias("weight"), (-F.log(u) / w).alias("key")
    ).where(F.col("weight") >= 1)
    win = Window.partitionBy("source").orderBy(
        F.col("key").asc(), F.col("doc_id").asc()
    )
    return (
        scored.withColumn("rnk", F.row_number().over(win))
        .where(F.col("rnk") <= ES_SAMPLE_N)
        .select(
            "source",
            "doc_id",
            "weight",
            F.round(F.col("key") * 1_000_000).cast("long").alias("key_micro"),
            F.col("rnk").cast("long").alias("rnk"),
        )
    )


def pack_efficiency_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Packing-layout audit over ``pack_sequences``: per-shard document
    and token totals, bin counts, fill ratio, and skew vs the mean shard
    — the straggler check run before a training job reads the layout
    (one hot shard = one slow data-loader rank for the whole epoch).

    Contiguous-fill packing is fragmentation-free by construction (bins
    are cumulative-sum intervals), so the interesting numbers are the
    LAST-bin underfill folded into fill_ppm and the cross-shard balance
    skew_ppm = shard tokens vs the mean in ppm (1 000 000 = perfectly
    balanced). All exact integers: counts, max-of-cumsum totals, and
    integer-``div`` ratios. Cost: one groupBy over the packed frame
    (|shards| rows out) + a 1-row broadcast back.
    """
    packed = pack_sequences(spark, sf_dir)
    per_shard = packed.groupBy("shard").agg(
        F.count("*").alias("n_docs"),
        F.max("cum_tok").cast("long").alias("total_tokens"),
        (F.max("seq_bin") + 1).cast("long").alias("n_bins"),
    )
    totals = per_shard.agg(
        F.sum("total_tokens").cast("long").alias("corpus_tokens"),
        F.count("*").cast("long").alias("n_shards"),
    )
    return per_shard.crossJoin(F.broadcast(totals)).select(
        F.col("shard").cast("long").alias("shard"),
        "n_docs",
        "total_tokens",
        "n_bins",
        F.expr(
            f"(total_tokens * 1000000) div (n_bins * {PACK_BUDGET_TOKENS})"
        ).alias("fill_ppm"),
        F.expr(
            "(total_tokens * n_shards * 1000000) div corpus_tokens"
        ).alias("skew_ppm"),
    )


#: Repetition red line for the epoch schedule, in milli-epochs: past ~4
#: epochs over the same data, additional repeats return rapidly
#: diminishing value (Muennighoff et al. 2023, "Scaling Data-Constrained
#: Language Models") — sources scheduled beyond this get flagged.
EPOCH_CAP_MILLI = 4_000


def mixture_epoch_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Epoch/repetition schedule per source — the LLaMA-style data-table
    companion to ``mixture_plan``: when a source's token TARGET exceeds
    what it has AVAILABLE, the training run repeats the source; this
    sheet states, in exact integers, how many times (milli-epochs =
    target·1000 ``div`` avail), how the last partial epoch splits
    (full_epochs + partial_tokens), and whether the repetition crosses
    the diminishing-returns red line (``EPOCH_CAP_MILLI``) a data owner
    must sign off on.

    Unlike ``mixture_plan`` (which CAPS targets at availability and
    reports the shortfall), the schedule presumes the mixture weights
    are non-negotiable and data repeats to meet them — the two sheets
    together are the "cut the target or repeat the data?" decision.
    Cost: arithmetic over the |sources|-row mixture inventory — the one
    corpus scan is the token count ``mixture_plan`` already pays; oracle
    composed from its oracle so the two sheets can never disagree.
    """
    plan = mixture_plan(spark, sf_dir)
    epochs_milli = F.expr("(target_tokens * 1000) div avail_tokens")
    full_epochs = F.expr("target_tokens div avail_tokens")
    return plan.select(
        "source",
        "weight",
        "avail_tokens",
        "target_tokens",
        epochs_milli.cast("long").alias("epochs_milli"),
        full_epochs.cast("long").alias("full_epochs"),
        (
            F.col("target_tokens")
            - full_epochs * F.col("avail_tokens")
        ).cast("long").alias("partial_tokens"),
        (epochs_milli > EPOCH_CAP_MILLI).alias("over_epoch_cap"),
    )


#: Temperature ladder for the temperature-scaled mixture, in milli-alpha:
#: 1000 = proportional (α=1), 500 = square root (α=½, the mT5 default
#: neighborhood), 250 = fourth root (α=¼, aggressive low-resource boost).
#: Restricted to halving powers ON PURPOSE: IEEE sqrt is correctly
#: rounded in both engines (identical doubles from identical inputs),
#: where a general pow(n, 0.3) is not — the repo's oracle-exactness rule.
MIX_TEMPERATURES_MILLI = (1000, 500, 250)

#: Temperature the weighted budget selection reads its per-source shares
#: at — α=½, the mT5 default. MUST be a member of the ladder above: the
#: budget sheet filters the temperature plan on it, and a non-member
#: would silently produce an EMPTY selection that still hash-matches its
#: (equally empty) composed oracle — asserted at import so a retune of
#: the ladder fails loudly instead.
BUDGET_ALPHA_MILLI = 500
assert BUDGET_ALPHA_MILLI in MIX_TEMPERATURES_MILLI


def mixture_temperature_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled mixture sampling (the mT5 / XLM-R recipe):
    per-source sampling shares p_i ∝ n_i^α for a ladder of temperatures
    α ∈ {1, ½, ¼}, next to the exact proportional share — the sheet that
    shows HOW MUCH each α boosts low-resource sources before a mixture
    owner picks one (α=1 reads the corpus as-is; lower α flattens the
    source distribution toward uniform).

    Exactness: token inventories are exact integers; n^α is a chain of
    correctly-rounded IEEE sqrts on identical doubles; the share
    denominator folds the SOURCE-ORDERED weight list (the pinned-fold
    rule), and the only rounding is ONE 0-dp round of identical doubles
    — the proven cross-engine float discipline. The proportional
    reference share is pure integer ``div``.

    Cost: one token-count scan (map-side combine to |sources| rows), a
    |sources|-row window to share the inventory vector, and a constant
    |ladder|-way fan-out — the plan is corpus-scan-bound like
    ``mixture_plan``.
    """
    return _mixture_plan_from(load_table(spark, sf_dir, "documents"))


def _mixture_plan_from(docs: DataFrame) -> DataFrame:
    """THE temperature-plan rule over any documents-shaped frame —
    separated from the sf_dir entry (r11) so the cross-version export
    delta can price corpus v (sans the arriving batch) with the SAME
    share arithmetic the published sheet uses: source inventories,
    shares and budgets are corpus-dependent (a new source shifts every
    other source's share), so the v-side budgets must be recomputed on
    v's own inventory — with one definition, never a fork."""
    from pyspark.sql import Window  # noqa: PLC0415

    from kafka_exercise_spark.functions.text import tokens  # noqa: PLC0415
    inv = (
        docs.select("source", F.size(tokens(F.col("text"))).alias("n_tok"))
        .groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("n_tok").cast("long").alias("avail_tokens"),
        )
    )
    # the source-ordered inventory vector, shared per row via a window
    # over the TINY |sources|-row frame (the mixture_plan idiom)
    inv_arr = F.array_sort(
        F.collect_list(F.struct("source", "avail_tokens")).over(
            Window.partitionBy()
        )
    )
    base = (
        inv.withColumn(
            "toks",
            F.transform(inv_arr, lambda s: s["avail_tokens"]),
        )
        .select(
            "source",
            "n_docs",
            "avail_tokens",
            "toks",
            F.explode(
                F.lit(list(MIX_TEMPERATURES_MILLI)).cast("array<bigint>")
            ).alias("alpha_milli"),
        )
    )

    def temp_w(n_long):
        d = n_long.cast("double")
        return (
            F.when(F.col("alpha_milli") == 1000, d)
            .when(F.col("alpha_milli") == 500, F.sqrt(d))
            .otherwise(F.sqrt(F.sqrt(d)))
        )

    w = temp_w(F.col("avail_tokens"))
    sum_w = F.aggregate(
        F.transform(F.col("toks"), lambda x: temp_w(x)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    sum_toks = F.aggregate(
        F.col("toks"), F.lit(0).cast("long"), lambda acc, x: acc + x
    )
    return (
        base.withColumn("sum_toks", sum_toks)
        .select(
            "alpha_milli",
            "source",
            "n_docs",
            "avail_tokens",
            F.round(w * F.lit(1_000_000.0) / sum_w, 0)
            .cast("long")
            .alias("share_ppm"),
            # exact-integer proportional reference (≡ α=1 up to the 0-dp
            # round; kept integer `div` so the anchor column never floats)
            F.expr("(avail_tokens * 1000000) div sum_toks")
            .cast("long")
            .alias("prop_share_ppm"),
        )
    )


def token_budget_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted token-budget selection — the capstone that makes soft
    dedup + the temperature mixture ONE executable plan: draw documents
    by their soft-dedup weights (``dedup_soft_weights``: a near-dup
    cluster of k contributes ~1 expected survivor, a pseudo-random
    representative per Lee et al. 2022's count-once-in-expectation
    reading), then fill each source's token budget — the α=½ (mT5
    default) share of ``mixture_temperature_plan`` applied to the total
    plan budget — in deterministic hash order (the
    ``token_budget_select`` greedy-fill rule: a doc is kept iff its
    running total BEFORE it is under the budget).

    Both stages are integer-exact pure functions of (salt, doc_id):
    the draw keeps a doc iff H("softdraw:", doc_id) mod 1e6 <
    weight_ppm (a hash-Bernoulli with exactly the soft weight as its
    rate), and the fill orders by a second, independent salt — so
    membership is reproducible across reruns, partitionings and
    engines, and the oracle COMPOSES the soft-weights and temperature
    oracles so the three sheets can never drift.

    Cost: one tokenize scan, a doc-keyed join to the soft-weight frame
    (itself one scan + the memoized component frame), a broadcast of
    the |sources|-row budget sheet, and ONE window partitioned by
    source — shuffle key = source, the ``token_budget_select`` scale
    shape (shard by (source, H(doc) mod S) with budget/S per shard at
    100 TB; mechanical extension of this exact plan).
    """
    return (
        _cumulated_survivor_frame(spark, sf_dir)
        .filter(F.col("cum_tok") - F.col("n_tok") < F.col("budget_tokens"))
        .select(
            "source", "doc_id", "weight_ppm", "n_tok", "cum_tok",
            "budget_tokens",
        )
    )


def _source_budgets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(source, budget_tokens): the α=``BUDGET_ALPHA_MILLI`` temperature
    share of the plan budget, integer ``div`` — the |sources|-row sheet
    both the selection and its fill report broadcast."""
    return _source_budgets_from(load_table(spark, sf_dir, "documents"))


def _source_budgets_from(docs: DataFrame) -> DataFrame:
    """The budget sheet over any documents-shaped frame — the
    ``_mixture_plan_from`` share at ``BUDGET_ALPHA_MILLI`` applied to
    the plan budget (one definition for the published selection and
    the cross-version delta's v-side rerun)."""
    return (
        _mixture_plan_from(docs)
        .filter(F.col("alpha_milli") == BUDGET_ALPHA_MILLI)
        .select(
            "source",
            F.expr(f"(share_ppm * {MIX_PLAN_BUDGET}) div 1000000")
            .cast("long")
            .alias("budget_tokens"),
        )
    )


def _weighted_survivor_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(source, doc_id, n_tok, weight_ppm, hk): the post-draw pool the
    weighted budget fill selects from — every doc whose salted hash
    lands under its soft-dedup weight (hash-Bernoulli at exactly
    weight_ppm). The weight is computed INLINE from the O(near-dup)
    component frame via the shared ``SOFT_WEIGHT_PPM_EXPR`` fragment —
    same definition as ``dedup_soft_weights``' published column, so the
    draw can never disagree with the sheet, but the join is corpus ×
    near-dup-set (left, unhinted — AQE broadcasts while the component
    frame fits) instead of the corpus × corpus shuffle that joining the
    full weight column would cost."""
    from kafka_exercise_spark.operators.dedup import (  # noqa: PLC0415
        dedup_components,
    )

    return _weighted_survivor_from(
        load_table(spark, sf_dir, "documents"),
        dedup_components(spark, sf_dir).select("doc_id", "comp_size"),
    )


def _weighted_survivor_from(docs: DataFrame, comps: DataFrame) -> DataFrame:
    """The post-draw pool over any (documents-shaped frame, component
    frame) pair — separated (r11) so the cross-version export delta can
    re-draw corpus v against v's OWN components (near-dup clusters gain
    members when a batch arrives, so v's weights differ from v+1's) with
    the same draw/weight rule, never a fork."""
    from kafka_exercise_spark.functions.text import tokens  # noqa: PLC0415
    from kafka_exercise_spark.operators.dedup import (  # noqa: PLC0415
        SOFT_WEIGHT_PPM_EXPR,
    )

    docs = docs.select(
        "source",
        "doc_id",
        F.size(tokens(F.col("text"))).cast("long").alias("n_tok"),
    )
    draw = F.pmod(
        md5_hash64(
            F.concat(F.lit("softdraw:"), F.col("doc_id").cast("string"))
        ),
        F.lit(1_000_000),
    )
    hk = md5_hash64(
        F.concat(F.lit("wbudget:"), F.col("doc_id").cast("string"))
    )
    return (
        docs.join(comps, "doc_id", "left")
        .withColumn(
            "weight_ppm", F.expr(SOFT_WEIGHT_PPM_EXPR).cast("long")
        )
        .filter(draw < F.col("weight_ppm"))
        .select("source", "doc_id", "n_tok", "weight_ppm", hk.alias("hk"))
    )


def _cumulated_survivor_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The survivor pool joined to its budgets with the greedy-fill
    running total: (source, doc_id, n_tok, weight_ppm, hk,
    budget_tokens, cum_tok). The ONE definition of the fill order
    ((hk, doc_id), prefix-before-the-doc rule) both the selection and
    its fill report consume — an edit to the tie-break or window frame
    cannot desynchronize them."""
    return _cumulate_fill(
        _weighted_survivor_frame(spark, sf_dir).join(
            F.broadcast(_source_budgets(spark, sf_dir)), "source"
        )
    )


def _cumulate_fill(s: DataFrame) -> DataFrame:
    """The greedy-fill running total ((hk, doc_id) order,
    prefix-before-the-doc rule) over any budget-joined survivor pool —
    the window itself, shared by the published selection and the
    cross-version delta's v-side rerun."""
    from pyspark.sql import Window  # noqa: PLC0415

    w = (
        Window.partitionBy("source")
        .orderBy("hk", "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return s.withColumn("cum_tok", F.sum("n_tok").over(w).cast("long"))


def token_budget_fill_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source utilization sheet for the weighted budget selection —
    the ``pack_efficiency_report`` of the capstone: what the post-draw
    pool offered (soft dedup SHRINKS the effective pool — a heavily
    duplicated source can under-supply its budget even when its raw
    token count looks ample), what the greedy fill realized against the
    temperature budget, and the two failure directions an owner acts
    on: ``unfilled_tokens`` (pool exhausted under budget → raise α,
    lower the budget, or source more data) and ``overshoot_tokens``
    (the one doc that straddles the boundary — bounded by max doc
    length by construction). fill_ppm is integer ``div``.

    Cost: ONE pass — the survivor frame (one tokenize scan + the
    soft-weight join), the selection's own per-source window, and one
    conditional groupBy(source) that computes the pool AND the kept
    side together (the keep decision is re-evaluated as a predicate on
    the running total, not re-joined) — strictly cheaper than running
    the selection and a second pool scan. Sources that keep nothing
    are filtered like the two-frame inner join would (also fences the
    budget=0 ⇒ fill_ppm division: n_kept > 0 implies budget > 0).
    """
    c = _cumulated_survivor_frame(spark, sf_dir)
    kept_cond = F.col("cum_tok") - F.col("n_tok") < F.col("budget_tokens")
    return (
        c.groupBy("source")
        .agg(
            F.min("budget_tokens").cast("long").alias("budget_tokens"),
            F.count("*").cast("long").alias("n_survivors"),
            F.sum("n_tok").cast("long").alias("survivor_tokens"),
            F.sum(kept_cond.cast("int")).cast("long").alias("n_kept"),
            F.coalesce(
                F.sum(F.when(kept_cond, F.col("n_tok"))), F.lit(0)
            )
            .cast("long")
            .alias("kept_tokens"),
        )
        .filter(F.col("n_kept") > 0)
        .select(
            "source",
            "budget_tokens",
            "n_survivors",
            "survivor_tokens",
            "n_kept",
            "kept_tokens",
            F.expr("(kept_tokens * 1000000) div budget_tokens")
            .cast("long")
            .alias("fill_ppm"),
            F.greatest(
                F.expr("budget_tokens - kept_tokens"), F.lit(0)
            )
            .cast("long")
            .alias("unfilled_tokens"),
            F.greatest(
                F.expr("kept_tokens - budget_tokens"), F.lit(0)
            )
            .cast("long")
            .alias("overshoot_tokens"),
        )
    )


#: Power-of-two length-bucket ladder for bucketed batching. Docs longer
#: than the top rung (= PACK_BUDGET_TOKENS, the trainer context length)
#: are truncated to it — the loader-side convention bucketed batching
#: shares with packing.
LENGTH_BUCKETS = tuple(
    1 << p for p in range(4, PACK_BUDGET_TOKENS.bit_length())
)
# the ladder's top rung must BE the packing budget, or the two layouts'
# shared truncation convention silently diverges (a non-power-of-two
# budget would top out one rung short). Explicit raise, not assert:
# this guard must survive `python -O`.
if LENGTH_BUCKETS[-1] != PACK_BUDGET_TOKENS:
    raise ValueError(
        "LENGTH_BUCKETS top rung "
        f"({LENGTH_BUCKETS[-1]}) != PACK_BUDGET_TOKENS "
        f"({PACK_BUDGET_TOKENS}): the packing budget must be a power of "
        "two so the bucket ladder tops out exactly at the trainer "
        "context length"
    )

#: Per-batch token budget of the bucketed loader: a batch holds
#: ``BUCKET_BATCH_TOKENS div bucket`` sequences of one bucket's length.
BUCKET_BATCH_TOKENS = 4096


def length_bucket_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed-batching economics sheet — the OTHER standard loader
    layout next to ``pack_sequences``: round every document's length up
    to a power-of-two bucket, batch same-bucket sequences together, and
    price the padding that packing avoids. Per bucket: document count,
    truncation count, real token mass, padded mass (every doc pays its
    bucket ceiling), batch shape at a fixed per-batch token budget, and
    the padding waste in integer ppm — the sheet a trainer owner reads
    to decide packing vs bucketing for a run (bucketing keeps document
    boundaries — no cross-doc attention contamination — at the cost of
    pad tokens; this prices that cost exactly).

    All exact integers: the bucket is a CASE ladder over the fixed
    ``LENGTH_BUCKETS`` rungs, truncation is ``least(n_tok, top rung)``,
    batches per bucket is a ceiling ``div``, and waste_ppm divides two
    exact sums. Cost: ONE tokenize scan + one |buckets|-row groupBy with
    map-side combine — at 100 TB a single map-reduce with an 8-row
    result, no window, no join.
    """
    from kafka_exercise_spark.functions.text import tokens  # noqa: PLC0415

    cap = LENGTH_BUCKETS[-1]
    docs = scale_partitions(load_table(spark, sf_dir, "documents"), spark)
    # TWO projection barriers (the quality_repetition lesson): tokenize
    # once per row, then reference the materialized eff_tok column from
    # the 8-rung CASE ladder — inlining would re-tokenize per rung
    base = docs.select(
        F.size(tokens(F.col("text"))).cast("long").alias("n_tok")
    )
    step = base.select(
        F.least(F.col("n_tok"), F.lit(cap)).alias("eff_tok"),
        (F.col("n_tok") > cap).cast("int").alias("truncated"),
    )
    bucket = F.lit(None).cast("long")
    for rung in reversed(LENGTH_BUCKETS):
        bucket = F.when(F.col("eff_tok") <= rung, F.lit(rung)).otherwise(
            bucket
        )
    per_doc = step.select(
        bucket.alias("bucket"), "eff_tok", "truncated"
    )
    spb = F.expr(f"{BUCKET_BATCH_TOKENS} div bucket")
    return (
        per_doc.groupBy("bucket")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("truncated").cast("long").alias("n_truncated"),
            F.sum("eff_tok").cast("long").alias("token_mass"),
        )
        .select(
            "bucket",
            "n_docs",
            "n_truncated",
            "token_mass",
            (F.col("n_docs") * F.col("bucket"))
            .cast("long")
            .alias("padded_mass"),
            spb.cast("long").alias("seqs_per_batch"),
            F.expr(
                f"(n_docs + ({BUCKET_BATCH_TOKENS} div bucket) - 1)"
                f" div ({BUCKET_BATCH_TOKENS} div bucket)"
            )
            .cast("long")
            .alias("n_batches"),
            F.expr(
                "((n_docs * bucket - token_mass) * 1000000)"
                " div (n_docs * bucket)"
            )
            .cast("long")
            .alias("pad_waste_ppm"),
        )
    )


def output_shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-FILE writer manifest of the packed layout — the companion
    ``pack_efficiency_report`` reads per SHARD: one row per (shard,
    seq_bin) output unit with document count, token mass, the doc-id
    range the assembler concatenates, and the bin's fill vs the
    sequence budget in ppm. This is the manifest a shard writer emits
    next to each output file (and what a resumable writer diffs against
    to skip completed bins) — the last planning sheet between
    ``pack_sequences``' per-doc layout and bytes on disk.

    Token mass attributes a boundary-crossing doc to the bin it STARTS
    in (the ``pack_sequences`` rule), so fill_ppm > 1 000 000 marks the
    bins whose tail doc overflows into the next sequence — exactly the
    bins an assembler must carry state across. All exact integers; the
    oracle is COMPOSED from the ``pack_sequences`` oracle so the two
    layouts can never drift. Cost: one groupBy over the packed frame,
    shuffle key = (shard, seq_bin) — at 100 TB this IS the output-file
    partitioning, so the manifest falls out of the write's own shuffle.
    """
    return _shard_manifest(pack_sequences(spark, sf_dir))


def packing_vs_bucketing_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The loader-layout DECISION sheet: packing vs bucketed batching on
    the same corpus, one row per strategy — emitted units (assembler
    sequences vs batches), real token mass, the capacity those units
    reserve, and the overhead in integer ppm. Packing's overhead is the
    per-shard last-sequence underfill (boundary-crossing docs overflow
    forward, so emitted sequences = ceil(shard tokens / budget) — the
    count an assembler actually writes); bucketing's is pad-to-bucket
    waste plus last-batch slack. This is the one-glance comparison the
    two audit sheets (``pack_efficiency_report``, ``length_bucket_plan``)
    exist to feed — the trade priced: packing wastes almost nothing but
    crosses document boundaries; bucketing preserves boundaries and
    pays the ppm printed here.

    All exact integers (ceiling ``div``s and two-sum ppm). Cost: reuses
    the two parents' single-scan plans and folds each to ONE row —
    strictly the parents' cost at 100 TB. Oracle COMPOSED from both
    parents' oracles, so the decision sheet can never drift from the
    layouts it compares.
    """
    budget = PACK_BUDGET_TOKENS
    packed = pack_sequences(spark, sf_dir)
    pk = (
        packed.groupBy("shard")
        .agg(
            F.sum("n_tok").cast("long").alias("tok"),
            F.count("*").cast("long").alias("docs"),
        )
        .agg(
            F.sum("docs").cast("long").alias("n_docs"),
            F.sum(F.expr(f"(tok + {budget} - 1) div {budget}"))
            .cast("long")
            .alias("n_units"),
            F.sum("tok").cast("long").alias("real_tokens"),
        )
        .select(
            F.lit("packing").alias("strategy"),
            "n_docs",
            "n_units",
            "real_tokens",
            (F.col("n_units") * budget)
            .cast("long")
            .alias("capacity_tokens"),
        )
    )
    bk = (
        length_bucket_plan(spark, sf_dir)
        .agg(
            F.sum("n_docs").cast("long").alias("n_docs"),
            F.sum("n_batches").cast("long").alias("n_units"),
            F.sum("token_mass").cast("long").alias("real_tokens"),
            F.sum(
                F.col("n_batches")
                * F.col("seqs_per_batch")
                * F.col("bucket")
            )
            .cast("long")
            .alias("capacity_tokens"),
        )
        .select(
            F.lit("bucketing").alias("strategy"),
            "n_docs",
            "n_units",
            "real_tokens",
            "capacity_tokens",
        )
    )
    # CASE-guard the ppm: on an empty corpus the no-groupBy aggs still
    # emit one row with NULL/0 sums, where Spark's `div` yields NULL but
    # DuckDB's `//` errors — the guard (mirrored in the oracle) keeps
    # engine and oracle identical on the degenerate input.
    return pk.unionByName(bk).withColumn(
        "overhead_ppm",
        F.expr(
            "CASE WHEN capacity_tokens > 0 THEN"
            " ((capacity_tokens - real_tokens) * 1000000)"
            " div capacity_tokens ELSE 0 END"
        ).cast("long"),
    )


def export_shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The END-TO-END export manifest — the one sheet a shard writer
    takes to disk: pack the SELECTED corpus (the soft-dedup ×
    temperature-budget survivors of ``token_budget_weighted``, i.e.
    what the pipeline actually kept) into training sequences and emit
    the per-(shard, seq_bin) writer manifest. This chains the whole
    engine — dedup components → soft weights → temperature budgets →
    greedy fill → contiguous packing → file manifest — into one
    executable plan; ``output_shard_manifest`` is the same sheet over
    the RAW corpus, so diffing the two prices what curation removed
    from every output file.

    The packed layout reuses the ``pack_sequences`` rules verbatim
    (pmod shard, doc_id order, start-bin attribution for
    boundary-crossers) over the MEMO-SERVED selection frame
    (``_selected_frame`` — the selection's one scan is the only corpus
    touch, paid once per session; at 100 TB the selected corpus
    checkpointed to the lake), then a per-shard window and the
    manifest groupBy, both keyed by the output partitioning. Oracle COMPOSED from the
    ``token_budget_weighted`` oracle plus the same window arithmetic,
    so selection and export can never drift.
    """
    return _shard_manifest(_packed_layout(_selected_frame(spark, sf_dir)))


def _selected_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The memoized, eagerly-persisted (doc_id, n_tok) weighted-selection
    survivor frame, shared by every export consumer (packed + bucketed
    manifests, their deltas, the selected decision sheet): without the
    memo, six entries each re-ran the full selection subtree (corpus scan
    + component join + per-source window). At 100 TB this IS the selected
    corpus, checkpointed to the lake once by the selection job and read
    by every downstream layout/export job.
    """

    def _build():
        out = (
            token_budget_weighted(spark, sf_dir)
            .select("doc_id", "n_tok")
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        out.count()
        return out

    return memo(
        spark, "selected_corpus", sf_dir, _build, cleanup=lambda df: df.unpersist()
    )


def _manifest_per_shard(manifest: DataFrame, prefix: str) -> DataFrame:
    """Fold a per-(shard, seq_bin) writer manifest to one row per shard:
    doc mass, token mass, and the file (bin) count — the granularity the
    raw/selected diff is taken at (seq_bin layouts are NOT comparable
    across the two corpora: removing docs re-flows every later bin)."""
    return manifest.groupBy("shard").agg(
        F.sum("n_docs").cast("long").alias(f"{prefix}_docs"),
        F.sum("bin_tokens").cast("long").alias(f"{prefix}_tokens"),
        F.count("*").cast("long").alias(f"{prefix}_bins"),
    )


def curation_export_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The diff ``export_shard_manifest``'s docstring promises: per
    output SHARD, what curation removed — raw-corpus mass
    (``output_shard_manifest``) vs selected-corpus mass
    (``export_shard_manifest``), removed docs/tokens, removal rate in
    integer ppm, and the output files (sequence bins) the selection
    saves. This prices the whole curation chain — dedup components →
    soft weights → temperature budgets → greedy fill — at the
    granularity a shard writer sees, closing the construction layer the
    way ``token_budget_fill_report`` closed the budget stage.

    The diff is taken per shard, not per (shard, seq_bin): the pmod
    doc_id shard is identical in both layouts, but bin boundaries
    re-flow when docs are removed, so bin-level rows compare different
    doc sets. Selected ⊆ raw doc-for-doc (same tokenizer, same shard
    rule), so removed_docs/removed_tokens are non-negative by
    construction; a shard whose every doc was removed coalesces to 0.

    Cost: the two parents' plans (each already a single corpus scan +
    the output write's own shuffle) folded to |shards| rows each, then
    one |shards|-row join — at 100 TB the diff itself touches only
    manifest-sized frames, never the corpus. Oracle COMPOSED from both
    manifests' oracles, so the delta can never drift from the
    manifests it prices.
    """
    raw = _manifest_per_shard(
        output_shard_manifest(spark, sf_dir), "raw"
    )
    sel = _manifest_per_shard(
        export_shard_manifest(spark, sf_dir), "sel"
    )
    return (
        raw.join(sel, "shard", "left")
        .select(
            F.col("shard").cast("long").alias("shard"),
            "raw_docs",
            "raw_tokens",
            "raw_bins",
            F.coalesce("sel_docs", F.lit(0)).cast("long").alias("sel_docs"),
            F.coalesce("sel_tokens", F.lit(0))
            .cast("long")
            .alias("sel_tokens"),
            F.coalesce("sel_bins", F.lit(0)).cast("long").alias("sel_bins"),
        )
        .select(
            "shard",
            "raw_docs",
            "raw_tokens",
            "raw_bins",
            "sel_docs",
            "sel_tokens",
            "sel_bins",
            (F.col("raw_docs") - F.col("sel_docs"))
            .cast("long")
            .alias("removed_docs"),
            (F.col("raw_tokens") - F.col("sel_tokens"))
            .cast("long")
            .alias("removed_tokens"),
            # CASE-guarded like overhead_ppm: an all-empty-doc shard has
            # raw_tokens = 0, where Spark div yields NULL but DuckDB //
            # errors
            F.expr(
                "CASE WHEN raw_tokens > 0 THEN"
                " ((raw_tokens - sel_tokens) * 1000000) div raw_tokens"
                " ELSE 0 END"
            )
            .cast("long")
            .alias("removed_ppm"),
            (F.col("raw_bins") - F.col("sel_bins"))
            .cast("long")
            .alias("bins_saved"),
        )
    )


def bucket_batch_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-BATCH writer manifest of the bucketed-batching layout — the
    ``output_shard_manifest`` twin for the OTHER loader layout, closing
    the symmetry: packing has layout (``pack_sequences``) + manifest
    (+ export capstone); bucketing had only the economics sheet
    (``length_bucket_plan``). One row per (bucket, batch_idx) batch a
    bucketed loader emits: sequence count, real token mass, the padded
    mass the batch reserves (n_seqs × bucket — every doc pays its
    bucket ceiling), pad waste in integer ppm, and the doc-id range the
    loader reads — what a resumable bucketed writer diffs against, like
    the packing manifest.

    Batch assignment is the deterministic rule the economics sheet
    already prices: docs ordered by doc_id within their bucket,
    batch_idx = rank div seqs_per_batch (seqs_per_batch =
    ``BUCKET_BATCH_TOKENS div bucket``) — the same doc_id-order
    convention as ``pack_sequences``, so the two layouts are
    order-comparable. All exact integers. Counts reconcile with
    ``length_bucket_plan`` by construction: per bucket, Σ n_seqs =
    n_docs and max(batch_idx)+1 = n_batches.

    Cost: ONE tokenize scan behind the same projection barriers, a
    window partitioned by bucket, and the per-(bucket, batch) groupBy —
    at 100 TB the 8-rung bucket key is too coarse for one window task
    each, so the production form shards as (bucket, H(doc) mod S) with
    per-shard batch numbering (batches never span shards — the same
    two-level extension every window op in this module documents);
    the manifest then falls out of the loader's own write partitioning.
    """
    from kafka_exercise_spark.functions.text import tokens  # noqa: PLC0415

    docs = scale_partitions(load_table(spark, sf_dir, "documents"), spark)
    base = docs.select(
        "doc_id",
        F.size(tokens(F.col("text"))).cast("long").alias("n_tok"),
    )
    return _bucket_batch_layout(base)


def _eff_bucket(per_doc: DataFrame) -> DataFrame:
    """(doc_id, n_tok) → (doc_id, bucket, eff_tok): THE capped
    CASE-ladder bucket rule, factored out of ``_bucket_batch_layout``
    (r11) so the cross-version bucket delta's membership-churn folds
    bucket docs with the SAME rule the manifests use — the bucket of a
    doc is version-stable (same tokenizer, same rungs), which is what
    makes the per-bucket diff grain valid."""
    cap = LENGTH_BUCKETS[-1]
    step = per_doc.select(
        "doc_id",
        F.least(F.col("n_tok"), F.lit(cap)).alias("eff_tok"),
    )
    bucket = F.lit(None).cast("long")
    for rung in reversed(LENGTH_BUCKETS):
        bucket = F.when(F.col("eff_tok") <= rung, F.lit(rung)).otherwise(
            bucket
        )
    return step.select("doc_id", bucket.alias("bucket"), "eff_tok")


def _bucket_batch_layout(per_doc: DataFrame) -> DataFrame:
    """THE bucketed-batching writer-manifest rule, over any (doc_id,
    n_tok) frame — ONE definition shared by the raw corpus
    (``bucket_batch_manifest``) and the selected corpus
    (``bucket_export_manifest``), the ``_shard_manifest`` discipline
    applied to the other loader layout so raw and selected manifests
    can never disagree on the batching rule: cap at the top rung,
    CASE-ladder bucket, doc_id-order batch numbering at the bucket's
    ``seqs_per_batch``, per-(bucket, batch) rollup."""
    per_doc = _eff_bucket(per_doc)
    assigned = per_doc.withColumn(
        "batch_idx",
        F.expr(
            f"(row_number() OVER (PARTITION BY bucket ORDER BY doc_id)"
            f" - 1) div ({BUCKET_BATCH_TOKENS} div bucket)"
        ).cast("long"),
    )
    return (
        assigned.groupBy("bucket", "batch_idx")
        .agg(
            F.count("*").cast("long").alias("n_seqs"),
            F.sum("eff_tok").cast("long").alias("real_tokens"),
            F.min("doc_id").cast("long").alias("first_doc_id"),
            F.max("doc_id").cast("long").alias("last_doc_id"),
        )
        .select(
            F.col("bucket").cast("long").alias("bucket"),
            F.col("batch_idx").cast("long").alias("batch_idx"),
            "n_seqs",
            "real_tokens",
            (F.col("n_seqs") * F.col("bucket"))
            .cast("long")
            .alias("padded_tokens"),
            F.expr(
                "CASE WHEN n_seqs * bucket > 0 THEN"
                " ((n_seqs * bucket - real_tokens) * 1000000)"
                " div (n_seqs * bucket) ELSE 0 END"
            )
            .cast("long")
            .alias("pad_ppm"),
            "first_doc_id",
            "last_doc_id",
        )
    )


def bucket_export_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The bucketed layout's SELECTED-corpus manifest — the
    ``export_shard_manifest`` twin for the other loader layout, closing
    the layout symmetry the r9 raw manifest opened: the bucket-batch
    rule (``_bucket_batch_layout``, shared verbatim with
    ``bucket_batch_manifest``) applied to the weighted-selection
    survivors of ``token_budget_weighted`` — i.e. the batches a
    BUCKETED loader would actually emit after curation. One row per
    (bucket, batch_idx) with sequence count, real/padded token mass,
    pad waste in integer ppm, and the doc-id range the loader reads.

    Reads the same memo-served selection frame as the packing export
    capstone (``_selected_frame`` — already-computed token counts, no
    re-tokenize, one corpus scan per session); the layout adds a window
    partitioned by bucket and the manifest groupBy (the same two-level
    (bucket, H(doc) mod S) sharding note as the raw manifest applies
    at 100 TB). Oracle COMPOSED from the
    ``token_budget_weighted`` oracle plus the same CASE-ladder/window
    arithmetic as the raw-manifest oracle, so selection and bucketed
    export can never drift.
    """
    return _bucket_batch_layout(_selected_frame(spark, sf_dir))


def _bucket_manifest_per_bucket(manifest: DataFrame, prefix: str) -> DataFrame:
    """Fold a per-(bucket, batch_idx) manifest to one row per bucket:
    sequence (= doc) mass, real token mass, and the batch count — the
    granularity the raw/selected diff is taken at (batch boundaries are
    NOT comparable across the two corpora: removing docs renumbers
    every later batch, the same re-flow argument as
    ``_manifest_per_shard``)."""
    return manifest.groupBy("bucket").agg(
        F.sum("n_seqs").cast("long").alias(f"{prefix}_docs"),
        F.sum("real_tokens").cast("long").alias(f"{prefix}_tokens"),
        F.count("*").cast("long").alias(f"{prefix}_batches"),
    )


def bucket_export_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-BUCKET raw-vs-selected diff of the bucketed layout — the
    ``curation_export_delta`` twin for the other loader layout,
    completing the manifest → export → delta arc for BOTH layouts: what
    curation removed from every length bucket (docs, real tokens,
    removal rate in integer ppm) and the batches the selection saves.
    Read next to ``curation_export_delta``, a loader owner can now
    price the same curation run under either layout — including the
    layout-specific question this sheet answers and the shard delta
    can't: WHICH sequence lengths curation removes from (soft dedup
    hits boilerplate-heavy short buckets hardest).

    The diff is per bucket, not per (bucket, batch): the CASE-ladder
    bucket of a doc is identical in both corpora (same tokenizer, same
    rungs), but batch numbering re-flows under removal. Selected ⊆ raw
    doc-for-doc, so removed_* are non-negative by construction; a
    bucket whose every doc was removed coalesces to 0.

    Cost: the two parents' plans folded to |buckets| (≤ 8) rows each,
    then one 8-row join — the diff never touches the corpus. Oracle
    COMPOSED from both bucket-manifest oracles, so the delta can never
    drift from the manifests it prices.
    """
    raw = _bucket_manifest_per_bucket(
        bucket_batch_manifest(spark, sf_dir), "raw"
    )
    sel = _bucket_manifest_per_bucket(
        bucket_export_manifest(spark, sf_dir), "sel"
    )
    return (
        raw.join(sel, "bucket", "left")
        .select(
            F.col("bucket").cast("long").alias("bucket"),
            "raw_docs",
            "raw_tokens",
            "raw_batches",
            F.coalesce("sel_docs", F.lit(0)).cast("long").alias("sel_docs"),
            F.coalesce("sel_tokens", F.lit(0))
            .cast("long")
            .alias("sel_tokens"),
            F.coalesce("sel_batches", F.lit(0))
            .cast("long")
            .alias("sel_batches"),
        )
        .select(
            "bucket",
            "raw_docs",
            "raw_tokens",
            "raw_batches",
            "sel_docs",
            "sel_tokens",
            "sel_batches",
            (F.col("raw_docs") - F.col("sel_docs"))
            .cast("long")
            .alias("removed_docs"),
            (F.col("raw_tokens") - F.col("sel_tokens"))
            .cast("long")
            .alias("removed_tokens"),
            # CASE-guarded like curation_export_delta: an all-empty-doc
            # bucket has raw_tokens = 0, where Spark div yields NULL but
            # DuckDB // errors
            F.expr(
                "CASE WHEN raw_tokens > 0 THEN"
                " ((raw_tokens - sel_tokens) * 1000000) div raw_tokens"
                " ELSE 0 END"
            )
            .cast("long")
            .alias("removed_ppm"),
            (F.col("raw_batches") - F.col("sel_batches"))
            .cast("long")
            .alias("batches_saved"),
        )
    )


def packing_vs_bucketing_selected_report(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The loader-layout decision sheet over the SELECTED corpus — the
    sheet a loader owner actually decides on: ``packing_vs_bucketing_report``
    prices the two layouts on the RAW corpus, but the corpus a trainer
    reads is the weighted-selection survivor set, and curation shifts
    the answer (soft dedup removes boilerplate-heavy short docs, which
    changes bucket occupancy and therefore pad waste, while packing's
    underfill depends only on per-shard token mass). One row per
    strategy with the same columns as the raw sheet — emitted units,
    real token mass, reserved capacity, overhead ppm — so the raw and
    selected sheets diff column-for-column.

    Packing units are per-shard ceiling sequences over the selection's
    packed layout (``_packed_layout``, the rule shared with
    ``export_shard_manifest``); bucketing units/capacity fold the
    selected bucket manifest (``bucket_export_manifest`` — capacity =
    Σ batches × seqs_per_batch × bucket, every batch reserved full,
    the raw sheet's rule). All exact integers, ppm CASE-guarded like
    the raw sheet. Cost: both sides read the ONE memo-served selection
    frame (``_selected_frame``) + the two layout folds to one row
    each. Oracle COMPOSED from the selection and
    bucket-export-manifest oracles, so the decision sheet can never
    drift from the layouts it compares.
    """
    budget = PACK_BUDGET_TOKENS
    pk = (
        _packed_layout(_selected_frame(spark, sf_dir))
        .groupBy("shard")
        .agg(
            F.sum("n_tok").cast("long").alias("tok"),
            F.count("*").cast("long").alias("docs"),
        )
        .agg(
            F.sum("docs").cast("long").alias("n_docs"),
            F.sum(F.expr(f"(tok + {budget} - 1) div {budget}"))
            .cast("long")
            .alias("n_units"),
            F.sum("tok").cast("long").alias("real_tokens"),
        )
        .select(
            F.lit("packing").alias("strategy"),
            "n_docs",
            "n_units",
            "real_tokens",
            (F.col("n_units") * budget)
            .cast("long")
            .alias("capacity_tokens"),
        )
    )
    bk = (
        bucket_export_manifest(spark, sf_dir)
        .agg(
            F.sum("n_seqs").cast("long").alias("n_docs"),
            F.count("*").cast("long").alias("n_units"),
            F.sum("real_tokens").cast("long").alias("real_tokens"),
            F.sum(
                F.expr(
                    f"({BUCKET_BATCH_TOKENS} div bucket) * bucket"
                )
            )
            .cast("long")
            .alias("capacity_tokens"),
        )
        .select(
            F.lit("bucketing").alias("strategy"),
            "n_docs",
            "n_units",
            "real_tokens",
            "capacity_tokens",
        )
    )
    # same degenerate-input CASE guard as the raw sheet (empty selection
    # -> NULL/0 sums; Spark div NULL vs DuckDB // error)
    return pk.unionByName(bk).withColumn(
        "overhead_ppm",
        F.expr(
            "CASE WHEN capacity_tokens > 0 THEN"
            " ((capacity_tokens - real_tokens) * 1000000)"
            " div capacity_tokens ELSE 0 END"
        ).cast("long"),
    )


def _version_selected_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, n_tok) the weighted-budget selection WOULD have kept on
    corpus v — the corpus without the arriving
    ``INCREMENTAL_NEW_SOURCE`` batch — the previous-day side of the
    cross-version export delta. Everything corpus-dependent is re-run
    on v with the SAME shared rules the published selection uses
    (``_weighted_survivor_from`` / ``_source_budgets_from`` /
    ``_cumulate_fill``), because none of it is restriction-stable:
    budgets renormalize when a source appears, and near-dup components
    can MERGE when batch docs bridge two old clusters — so v's weights
    differ from v+1's for old docs too (that churn is exactly what the
    delta sheet exists to price).

    The one stage that IS restriction-stable is the pair list: a
    MinHash-LSH pair is a per-doc-pure function of its two endpoints
    (shingles → signatures → shared band key → exact Jaccard verify —
    no cross-doc state), so pairs(v) ≡ pairs(v+1) with both endpoints
    outside the batch. The v components therefore reuse the memo-served
    full pair frame through two broadcast anti-joins against the
    batch-id list — no second LSH run — and only the O(near-dup)
    contraction re-runs (on the FILTERED edge list, because removing a
    bridge doc can split a component: comp_size must come from v's own
    graph; since late r11 that graph is ``dedup.version_components``,
    itself memo-served and shared with the preference version delta). At 100 TB the v side of all of this is the previous day's
    persisted index/manifest, not a recompute; the fixture derives both
    sides from one corpus the way ``dedup_incremental`` does
    (dedup.py:945). Memo-served: the delta reads it twice (manifest
    fold + membership anti-join), one build per (application, sf_dir).
    """
    from kafka_exercise_spark.catalog import memo_frame  # noqa: PLC0415
    from kafka_exercise_spark.operators.dedup import (  # noqa: PLC0415
        INCREMENTAL_NEW_SOURCE,
        version_components,
    )

    def _build() -> DataFrame:
        docs = load_table(spark, sf_dir, "documents")
        is_batch = F.col("source") == INCREMENTAL_NEW_SOURCE
        docs_v = docs.filter(~is_batch)
        # v's component graph is the memo-served shared frame (one
        # contraction per session for ALL cross-version deltas — the
        # preference delta reads comp ids from the same graph)
        comps_v = version_components(spark, sf_dir).select(
            "doc_id", "comp_size"
        )
        filled = _cumulate_fill(
            _weighted_survivor_from(docs_v, comps_v).join(
                F.broadcast(_source_budgets_from(docs_v)), "source"
            )
        )
        return filled.filter(
            F.col("cum_tok") - F.col("n_tok") < F.col("budget_tokens")
        ).select("doc_id", "n_tok")

    return memo_frame(spark, "version_selected", sf_dir, _build)


def export_version_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-VERSION export delta — the sheet a daily 100 TB ingest
    actually ships (VERDICT r10 stretch ask #7): per output shard, what
    the arriving ``INCREMENTAL_NEW_SOURCE`` batch changes in the packed
    export manifest between corpus v (without the batch) and v+batch.
    ``curation_export_delta`` prices raw-vs-selected WITHIN one corpus
    version; this sheet prices version-vs-version, and its churn is NOT
    just the batch's own mass: the arrival shifts every source's
    temperature budget and fattens near-dup clusters, so previously
    exported docs get EVICTED (priced in ``removed_*``) while batch
    docs and re-admitted old docs enter (``added_*``). A writer diffs
    this sheet against its landed files to know which shards to
    rewrite.

    Grain: per shard (pmod doc_id — version-stable per doc), never per
    (shard, seq_bin): bin numbering re-flows under insertion/eviction,
    the ``_manifest_per_shard`` argument. Membership churn comes from
    two doc_id-keyed anti-joins of the two selection frames — the
    irreducible cost of "added/removed", and both frames are
    memo-served (v+1 by ``_selected_frame``, v by
    ``_version_selected_frame``), so no corpus re-scan. Fold-first
    discipline: all four inputs (two manifest folds, two churn folds)
    are ≤``PACK_SHARDS``-row frames BEFORE the final outer joins — the
    diff never touches the corpus. Reconciliation identities
    v1_docs − v_docs ≡ added_docs − removed_docs (and the token twin)
    hold per shard by construction and are pinned in pytest.
    churn_ppm = (added+removed tokens) ·1e6 div v_tokens, the
    previous-version base a capacity planner budgets rewrites against
    (0 when the shard had no v mass, the ``curation_export_delta``
    empty-cell convention). Oracle COMPOSED from the weighted-selection
    oracle run at BOTH versions (the v side re-derives budgets,
    components and the draw on v's own corpus with the same
    parameterized CTE builders), so the delta can never drift from the
    selections it diffs.
    """
    sel_v1 = _selected_frame(spark, sf_dir)
    sel_v = _version_selected_frame(spark, sf_dir)
    man_v1 = _manifest_per_shard(
        _shard_manifest(_packed_layout(sel_v1)), "v1"
    )
    man_v = _manifest_per_shard(_shard_manifest(_packed_layout(sel_v)), "v")

    def churn_fold(df: DataFrame, prefix: str) -> DataFrame:
        return df.groupBy(
            F.pmod(F.col("doc_id"), F.lit(PACK_SHARDS))
            .cast("long")
            .alias("shard")
        ).agg(
            F.count("*").cast("long").alias(f"{prefix}_docs"),
            F.sum("n_tok").cast("long").alias(f"{prefix}_tokens"),
        )

    added = churn_fold(
        sel_v1.join(sel_v.select("doc_id"), "doc_id", "left_anti"), "added"
    )
    removed = churn_fold(
        sel_v.join(sel_v1.select("doc_id"), "doc_id", "left_anti"),
        "removed",
    )
    j = (
        man_v.join(man_v1, "shard", "full_outer")
        .join(added, "shard", "full_outer")
        .join(removed, "shard", "full_outer")
    )
    z = [
        "v_docs", "v_tokens", "v_bins",
        "v1_docs", "v1_tokens", "v1_bins",
        "added_docs", "added_tokens", "removed_docs", "removed_tokens",
    ]
    j = j.select(
        F.col("shard").cast("long").alias("shard"),
        *[
            F.coalesce(F.col(c), F.lit(0)).cast("long").alias(c)
            for c in z
        ],
    )
    return j.withColumn(
        "churn_ppm",
        F.expr(
            "CASE WHEN v_tokens > 0 THEN"
            " ((added_tokens + removed_tokens) * 1000000) div v_tokens"
            " ELSE 0 END"
        ).cast("long"),
    )


def bucket_version_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``export_version_delta``'s twin for the BUCKETED loader layout —
    completing the cross-version arc for BOTH layouts the way r10's
    deltas completed the raw-vs-selected arc: per length bucket, what
    the arriving ``INCREMENTAL_NEW_SOURCE`` batch changes in the
    bucketed export manifest between corpus v and v+batch. The two
    sheets answer different operational questions from the same
    arrival: the shard delta says WHICH OUTPUT FILES to rewrite; this
    one says WHICH SEQUENCE LENGTHS the arrival lands in and evicts
    from — a batch of short boilerplate fattens the bottom rungs' pad
    waste while its near-dup pressure evicts old short docs, and THIS
    sheet is where that shows.

    Grain: per bucket, never per (bucket, batch): batch numbering
    re-flows under insertion/eviction, but the capped CASE-ladder
    bucket of a doc is version-stable (``_eff_bucket`` — the SAME rule
    the manifests use, shared verbatim). Token masses are eff_tok
    (capped) on BOTH the manifest and churn sides, so the
    reconciliation identities v1 − v ≡ added − removed hold per bucket
    in docs AND tokens by construction (pinned in pytest). Both
    selection frames are memo-served (no corpus re-scan); all four
    diff inputs fold to ≤|buckets| (≤8) rows before the outer joins.
    Oracle COMPOSED from the selection oracle run at both versions
    (the same parameterized builders as the shard delta) under the
    manifest oracle's own bucket/batch arithmetic.
    """
    sel_v1 = _selected_frame(spark, sf_dir)
    sel_v = _version_selected_frame(spark, sf_dir)
    man_v1 = _bucket_manifest_per_bucket(
        _bucket_batch_layout(sel_v1), "v1"
    )
    man_v = _bucket_manifest_per_bucket(_bucket_batch_layout(sel_v), "v")

    def churn_fold(df: DataFrame, prefix: str) -> DataFrame:
        return _eff_bucket(df).groupBy("bucket").agg(
            F.count("*").cast("long").alias(f"{prefix}_docs"),
            F.sum("eff_tok").cast("long").alias(f"{prefix}_tokens"),
        )

    added = churn_fold(
        sel_v1.join(sel_v.select("doc_id"), "doc_id", "left_anti"), "added"
    )
    removed = churn_fold(
        sel_v.join(sel_v1.select("doc_id"), "doc_id", "left_anti"),
        "removed",
    )
    j = (
        man_v.join(man_v1, "bucket", "full_outer")
        .join(added, "bucket", "full_outer")
        .join(removed, "bucket", "full_outer")
    )
    z = [
        "v_docs", "v_tokens", "v_batches",
        "v1_docs", "v1_tokens", "v1_batches",
        "added_docs", "added_tokens", "removed_docs", "removed_tokens",
    ]
    j = j.select(
        F.col("bucket").cast("long").alias("bucket"),
        *[
            F.coalesce(F.col(c), F.lit(0)).cast("long").alias(c)
            for c in z
        ],
    )
    return j.withColumn(
        "churn_ppm",
        F.expr(
            "CASE WHEN v_tokens > 0 THEN"
            " ((added_tokens + removed_tokens) * 1000000) div v_tokens"
            " ELSE 0 END"
        ).cast("long"),
    )
