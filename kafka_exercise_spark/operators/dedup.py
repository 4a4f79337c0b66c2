"""Deduplication operators over ``documents`` / ``embeddings`` (north star).

Five dedup families, each expressed for 100 TB first and demonstrated on the
fixtures:

- **Exact** — hash-groupBy on a canonical-form fingerprint. One shuffle on a
  60-bit int key; survivors = min(doc_id) per group.
- **MinHash signatures + LSH banding** — per-doc signatures are a pure map
  (array ops, no shuffle); banding turns near-dup search from O(n²) into a
  groupBy on (band, band-key): only docs sharing a band key ever meet. The
  candidate pairs are then *verified* with exact Jaccard, so false positives
  from banding never escape.
- **SimHash** — 60-bit rotation-tolerant fingerprint; Hamming-adjacent
  buckets via band keys of the simhash. Here: per-doc simhash as a pure map.
- **n-gram Jaccard** — exact pairwise similarity over the whole corpus.
  Naively the inverted-index self-join is O(Σ df²); the standalone query
  bounds it by letting only shingles with df ≤ ``NGRAM_DF_MAX`` generate
  candidates (expansion linear in corpus size) and verifying exact Jaccard
  on each candidate's full shingle sets — emitted values stay exact.
- **Embedding cosine** — near-dup by semantic similarity. Standalone form
  scopes one label bucket (the IVF cell shape); the ANN module owns the
  general path.

All hashes are md5-derived (functions/text.py) so every stage is
value-reproducible in the DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from kafka_exercise_spark.catalog import (
    load_table,
    memo,
    memo_frame,
    scale_partitions,
)
from kafka_exercise_spark.functions.text import (
    MINHASH_MOD,
    md5_hash64,
    minhash_derive,
    normalized_text,
    shingles,
    tokens,
)


N_MINHASH = 8  # signature length
LSH_BANDS = 4  # bands of r = N_MINHASH / LSH_BANDS rows
SHINGLE_N = 2  # bigram shingles (fixture vocab is tiny; prose would use 5)
JACCARD_THRESHOLD = 0.08  # fixtures top out ≈0.12 — keeps the result non-empty
COSINE_DUP_THRESHOLD = 0.25  # fixture label-0 bucket tops out ≈0.38


def _verify_jaccard(joined: DataFrame, left: str, right: str) -> DataFrame:
    """THE exact-Jaccard verify: (n_common, jaccard) from two hashed-
    shingle set columns, thresholded — one definition shared by the LSH
    pair plan, the df-bounded n-gram join, and the incremental/streaming
    probe so the verify math can never drift between consumers."""
    return (
        joined.withColumn(
            "n_common", F.size(F.array_intersect(left, right)).cast("long")
        )
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_common")
                / (F.size(left) + F.size(right) - F.col("n_common")),
                6,
            ),
        )
        .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
    )


def _with_shingles(docs: DataFrame) -> DataFrame:
    # token array materialized behind a projection barrier BEFORE the
    # index-based shingle transform: inlined, tokens(text) re-evaluates
    # once per shingle index — O(len²) per doc (measured 18.6 s → 1.2 s
    # for the sf0.1 hashed-shingle build, the hub frame of the family)
    with_tok = docs.select("doc_id", tokens(F.col("text")).alias("tok"))
    return with_tok.withColumn("sh", shingles(F.col("tok"), SHINGLE_N))


def _with_hashed_shingles(docs: DataFrame) -> DataFrame:
    """(doc_id, hb): per-doc distinct shingles reduced to 60-bit hashes.

    Everything downstream of shingling (signatures, band keys, inverted
    indexes, exact-Jaccard verification) only needs set identity, never the
    shingle text — so the ~40-byte strings are hashed to 8-byte longs at the
    scan and all joins/shuffles/intersections run on longs. The DuckDB
    oracles apply the identical md5 reduction, so results match exactly even
    in the (negligible, 60-bit) collision case.
    """
    # unary lambda on purpose: transform would otherwise bind the array
    # index to md5_hash64's seed parameter
    return _with_shingles(docs).select(
        "doc_id", F.transform(F.col("sh"), lambda s: md5_hash64(s)).alias("hb")
    )


def _hashed_shingles_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The memoized, eagerly-persisted (doc_id, hb) frame for ``sf_dir``,
    shared by the whole shingle family (LSH pairs, n-gram Jaccard, …):
    shingling is the dominant scan-side cost at 100 TB, so every consumer
    reads the same materialization instead of re-running
    scan→tokenize→shingle→hash.

    SERIALIZED persist: long arrays store ~5× denser than the shingle
    strings they replace. The eager count stops concurrent subtrees from
    racing the lazy cache fill. At 100 TB this is the hashed-shingle /
    signature table checkpointed to the lake once and read by every dedup
    consumer (the incremental path included).
    """

    def _build():
        out = _with_hashed_shingles(
            scale_partitions(load_table(spark, sf_dir, "documents"), spark)
        ).persist(StorageLevel.MEMORY_AND_DISK)
        out.count()
        return out

    return memo(
        spark, "hashed_shingles", sf_dir, _build, cleanup=lambda df: df.unpersist()
    )


def _fp_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, fp): THE canonical fingerprint projection — one definition
    shared by ``dedup_exact`` and ``dedup_savings_report`` so the two can
    never disagree on what an exact duplicate is."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", md5_hash64(normalized_text(F.col("text"))).alias("fp")
    )


def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup groups: canonical fingerprint → min(doc_id) survivor +
    duplicate count. (Fixture texts are all unique, so every group has
    n_copies = 1 — the oracle still checks all 500 fingerprint values.)"""
    return (
        _fp_frame(spark, sf_dir)
        .groupBy("fp")
        .agg(
            F.min("doc_id").alias("survivor_doc_id"),
            F.count("*").alias("n_copies"),
        )
    )


def _signatures_from(hashed: DataFrame) -> DataFrame:
    """MinHash signature columns from a hashed-shingle frame (map-only).

    ONE md5 per shingle (already paid in ``hb``), k cheap universal-hash
    derivations off the 31-bit base (functions/text.py MINHASH_*) — an 8×
    cut of the dominant hash cost vs k md5 calls.
    NB: lambdas passed to transform must be unary — pyspark binds a second
    lambda parameter to the array index.
    """
    based = hashed.withColumn(
        "mb", F.transform(F.col("hb"), lambda h: h.bitwiseAND(F.lit(MINHASH_MOD)))
    )

    def derive(i: int):
        return lambda b: minhash_derive(b, i)

    sig_cols = [
        F.array_min(F.transform(F.col("mb"), derive(i))).alias(f"mh{i}")
        for i in range(N_MINHASH)
    ]
    return based.select("doc_id", *sig_cols)


def minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document MinHash signature, one column per seed.

    Pure map-side: ``array_min(transform(shingles, s → H(seed:s)))`` — no
    explode, no shuffle, codegen'd. At 100 TB this is a single scan.
    """
    return _signatures_from(
        _with_hashed_shingles(
            scale_partitions(load_table(spark, sf_dir, "documents"), spark)
        )
    )


def _band_keys(sig: DataFrame) -> DataFrame:
    """Signature → (doc_id, band, key) rows.

    The band key packs the band's r=2 31-bit minhash rows into ONE long
    (``mh0·2³¹ + mh1`` — injective, ≤ 62 bits): the self-join shuffles and
    compares 8-byte integers instead of concatenated strings.
    """
    r = N_MINHASH // LSH_BANDS
    assert r == 2, "numeric band key packs exactly two 31-bit rows"
    # The generator's child is a LITERAL band-index array; the key is
    # computed after the explode from pass-through mh columns. Exploding an
    # array built over the signature expressions instead would inline their
    # higher-order lambdas into the generate, where they evaluate
    # interpreted per output row.
    exploded = sig.withColumn(
        "band", F.explode(F.array(*[F.lit(b) for b in range(LSH_BANDS)]))
    )
    key = F.lit(None).cast("long")
    for b in range(LSH_BANDS - 1, -1, -1):
        key = F.when(
            F.col("band") == b,
            F.col(f"mh{b * r}") * F.lit(1 << 31) + F.col(f"mh{b * r + 1}"),
        ).otherwise(key)
    return exploded.select("doc_id", "band", key.alias("key"))


def _lsh_pairs_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The un-materialized LSH pair plan (see dedup_minhash_lsh).

    Candidates come from a self-join on (band, key) — the shuffle is on the
    band key, never all-pairs. Verification joins the two shingle sets back
    and computes exact Jaccard; only pairs ≥ threshold survive. Distinct
    de-dups pairs that collide in several bands.

    The hashed-shingle frame (doc_id, array<long>) feeds FOUR subtrees (both
    self-join sides, both verify sides). Persisting it — SERIALIZED —
    executes the scan+tokenize+hash pipeline once instead of four times, and
    long arrays store ~5× denser than the shingle strings they replace.
    Verification intersects the 8-byte hashes, not strings: same Jaccard
    (the oracle hashes identically), a fraction of the compare cost. The
    persist is lazy and the cache entry is keyed by canonical plan, so
    repeated calls reuse one entry per sf_dir rather than accumulating. At
    100 TB the same design holds: persist (or checkpoint to the lake) the
    hashed-shingle/signature table, which is also what incremental dedup
    reuses.
    """
    docs = _hashed_shingles_frame(spark, sf_dir)
    sig = _signatures_from(docs)
    bands = _band_keys(sig)
    a, b = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
        .distinct()
    )
    # The hashed-shingle lookup joins into both verify sides UNHINTED:
    # while it fits AQE's 64 MB runtime check it broadcasts (candidate
    # pairs never shuffle, the doc→hashes map ships once per executor);
    # at 100 TB it outgrows broadcast and AQE degrades these to shuffled
    # hash joins on doc_id — still no re-scan thanks to the persist. A
    # forced hint would override that size check and OOM instead.
    sh = docs
    return _verify_jaccard(
        cand.join(sh.withColumnsRenamed({"doc_id": "id_a", "hb": "hb_a"}), "id_a")
        .join(sh.withColumnsRenamed({"doc_id": "id_b", "hb": "hb_b"}), "id_b"),
        "hb_a",
        "hb_b",
    ).select("id_a", "id_b", "n_common", "jaccard")


def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH near-dup pairs, verified with exact Jaccard — MATERIALIZED.

    The verified pair set is the hub of the dedup family: connected
    components consumes it, incremental dedup diffs against it, reporting
    reads it. So the first call per (session, sf_dir) executes
    ``_lsh_pairs_plan`` (the real distributed pipeline — see its docstring
    for the shuffle story) and pins the result via eager localCheckpoint;
    later calls reuse the materialization instead of re-running the
    scan→shingle→band→join→verify chain. At 100 TB the checkpoint goes to
    the lake (a ``pairs`` table) rather than executor memory — same
    contract: pay pair generation once, serve every consumer from it.
    """
    return memo_frame(
        spark, "lsh_pairs", sf_dir, lambda: _lsh_pairs_plan(spark, sf_dir)
    )


def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """60-bit SimHash per document from distinct-token hashes.

    Expressed without explode: for each bit, count tokens with that bit set
    via a codegen'd array fold; bit goes 1 if set-count > half the tokens
    (majority vote — equivalent to the ±1 sum formulation). One scan, no
    shuffle.
    """
    docs = scale_partitions(load_table(spark, sf_dir, "documents"), spark)
    tok = F.array_distinct(tokens(F.col("text")))
    hashed = docs.select(
        "doc_id", F.transform(tok, lambda t: md5_hash64(t)).alias("hs")
    )
    # majority-vote each of the 60 bits, folded by a runtime loop over
    # sequence(0,59) — a compact expression tree. (The unrolled 60-term
    # alternative compiles a huge plan; the loop form plans in milliseconds
    # and runs the same arithmetic.)
    simhash = F.expr(
        """
        aggregate(
            sequence(0, 59),
            0L,
            (acc, b) -> acc + IF(
                size(filter(hs, h -> (shiftright(h, b) & 1) = 1)) * 2 > size(hs),
                shiftleft(1L, b), 0L))
        """
    )
    return hashed.select(
        "doc_id",
        simhash.alias("simhash"),
        F.size("hs").cast("long").alias("n_tokens"),
    )


SIMHASH_BANDS = 4  # 15 bits each over the 60-bit fingerprint
# Near-dup cut: the fixtures' tiny vocabulary compresses Hamming space
# (prose-scale corpora would use ~3-8 of 64 bits), so the demo threshold is
# tight to keep precision meaningful.
HAMMING_MAX = 2


def _simhash_sig_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The memoized, eagerly-persisted (doc_id, simhash) fingerprint frame,
    shared by the detector and its threshold sweep — without the memo a
    session exercising both entries pins two copies of the sig frame in
    the cache (ADVICE r9 #2).

    Persisted before banding: without the boundary Catalyst inlines the
    60-bit fold expression into every downstream use — including the
    per-join-row popcount over the band collisions — which measures ~10×
    slower than computing the fingerprints once.
    """

    def _build():
        out = (
            dedup_simhash(spark, sf_dir)
            .select("doc_id", "simhash")
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        out.count()
        return out

    return memo(
        spark, "simhash_sig", sf_dir, _build, cleanup=lambda df: df.unpersist()
    )


def _simhash_scored_pairs(
    spark: SparkSession, sf_dir: str, hmax: int
) -> DataFrame:
    """THE simhash pair plan, cutoff-parametrized: banded candidates
    verified with exact popcount-of-xor, distinct survivors with
    ``hamming <= hmax``. ``dedup_simhash_pairs`` (hmax = HAMMING_MAX)
    and ``simhash_threshold_sweep`` (hmax = SIMHASH_SWEEP_MAX, the d<=3
    pigeonhole recall bound of 4 bands) share this single definition so
    the sweep can never disagree with the detector it tunes.

    The fingerprint frame is memo-served per (application, sf_dir)
    (``_simhash_sig_frame``) so the detector and the sweep share ONE
    persisted copy instead of pinning one each.
    """
    sig = _simhash_sig_frame(spark, sf_dir)
    band_structs = [
        F.struct(
            F.lit(b).alias("band"),
            F.shiftright(F.col("simhash"), b * 15)
            .bitwiseAND(F.lit((1 << 15) - 1))
            .alias("key"),
        )
        for b in range(SIMHASH_BANDS)
    ]
    bands = sig.select(
        "doc_id",
        "simhash",
        F.explode(F.array(*band_structs)).alias("bk"),
    ).select("doc_id", "simhash", F.col("bk.band").alias("band"), F.col("bk.key").alias("key"))
    a, b = bands.alias("a"), bands.alias("b")
    # Verify INLINE at the join output: popcount-of-xor is a few cycles, so
    # filter the (possibly huge) collision stream before the distinct —
    # de-duplicating survivors is orders of magnitude cheaper than
    # de-duplicating candidates. (MinHash-LSH does the opposite because its
    # verification joins arrays back in — there dedup-before-verify wins.)
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
            F.bit_count(
                F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
            ).cast("long").alias("hamming"),
        )
        .filter(F.col("hamming") <= F.lit(hmax))
        .distinct()
    )


def dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup PAIRS via Hamming-band blocking.

    A pair within Hamming distance d of a 60-bit simhash agrees exactly on
    ≥ (bands − d) of 4 15-bit bands for d < 4... more usefully: any pair
    with d ≤ 3 collides on at least one band (pigeonhole), so banding the
    fingerprint into 4 keys turns near-dup search into an equi-join, same
    shape as the MinHash LSH path. Collided candidates are then verified
    with the exact popcount of XOR; the band stage only bounds recall for
    d > 3, never precision. One fingerprint scan, one band self-join
    (plan shared with the threshold sweep: ``_simhash_scored_pairs``).
    """
    return _simhash_scored_pairs(spark, sf_dir, HAMMING_MAX)


#: Sweep ceiling = the 4-band pigeonhole recall bound: every pair with
#: Hamming distance <= 3 is guaranteed to band-collide, so sweeping past
#: 3 would silently under-count (banding bounds recall above d=3).
SIMHASH_SWEEP_MAX = 3


def simhash_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Threshold-tuning report for the SimHash detector — the sheet the
    other three near-dup families already have (``minhash_s_curve`` /
    ``dedup_threshold_sweep`` / ``winnow_threshold_sweep``), closing the
    ensemble's tuning symmetry: pair and affected-doc counts at every
    Hamming cutoff 0..SIMHASH_SWEEP_MAX, from ONE pass over the banded
    pair plan scored at the recall-complete d<=3 bound. Each row answers
    "how much would HAMMING_MAX = t flag?" before committing a cutoff to
    a full dedup run — on 60-bit fingerprints of prose-scale corpora the
    same sweep spans ~3-8 bits; the shape, one scored frame exploded
    over a constant threshold ladder, is identical at any width.

    Cost: the pair join ``dedup_simhash_pairs`` already pays (one
    fingerprint scan + one band self-join, candidate mass measured
    exactly linear in corpus size with tools/detector_scale_probe.py,
    since removed: ``git show c974e43:tools/detector_scale_probe.py``),
    a constant <=4-way explode of the O(pairs) survivor frame, and two
    |thresholds|-row aggregates. Thresholds with zero surviving pairs
    emit no row — identically in both engines (groupBy drops empty
    groups). Oracle mirrors the pair oracle's CTE chain at the sweep
    cutoff.
    """
    scored = _simhash_scored_pairs(spark, sf_dir, SIMHASH_SWEEP_MAX)
    swept = scored.select(
        "id_a",
        "id_b",
        F.explode(
            F.lit(list(range(SIMHASH_SWEEP_MAX + 1)))
        ).alias("threshold"),
        "hamming",
    ).where(F.col("hamming") <= F.col("threshold"))
    n_pairs = swept.groupBy("threshold").agg(
        F.count("*").cast("long").alias("n_pairs")
    )
    ids = swept.select(
        "threshold",
        F.explode(F.array(F.col("id_a"), F.col("id_b"))).alias("id"),
    )
    n_docs = ids.groupBy("threshold").agg(
        F.count_distinct("id").cast("long").alias("n_docs")
    )
    return n_pairs.join(n_docs, "threshold").select(
        F.col("threshold").cast("long").alias("threshold"),
        "n_pairs",
        "n_docs",
    )


#: Document-frequency ceiling for candidate-generating shingles. A shingle
#: appearing in more than this many documents contributes df² candidate
#: pairs while carrying almost no discriminative signal — boilerplate.
NGRAM_DF_MAX = 100


def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact pairwise n-gram Jaccard over the WHOLE corpus, with candidate
    generation bounded by shingle document frequency.

    The naive inverted-index self-join is O(Σ df²) over all shingles — one
    boilerplate shingle shared by 10⁶ documents alone yields 10¹² pairs.
    The standard fix (common-crawl-style dedup): only shingles with
    df ≤ ``NGRAM_DF_MAX`` GENERATE candidates (expansion per shingle is
    ≤ DF_MAX², total ≤ DF_MAX × Σ df — linear in corpus size), then the
    VERIFY step computes the exact Jaccard on the pairs' full shingle sets,
    so emitted values are exact. The documented recall trade: a pair
    sharing only ubiquitous shingles is never proposed — at threshold-level
    Jaccard such pairs are boilerplate collisions, exactly what dedup
    should not link. The DuckDB oracle mirrors the same df bound, so the
    driver hash-checks this semantics precisely.
    """
    # Hash inside _with_hashed_shingles (flat codegen), not per exploded
    # row; hb arrays are distinct-element sets, so |array_intersect| is the
    # true shared-shingle count. The frame comes from the family-shared
    # persisted materialization — this query's 4 subtrees (inverted index,
    # both candidate sides, both verify sides) all read the SAME cached
    # scan instead of re-shingling `documents` per branch (the r3 plan
    # audit counted 6 document scans here; now ≤ 1 + cache reads).
    docs = _hashed_shingles_frame(spark, sf_dir).select("doc_id", "hb")
    inv = docs.select("doc_id", F.explode("hb").alias("s"))
    dfc = inv.groupBy("s").agg(F.count("*").alias("df"))
    rare = inv.join(dfc.filter(F.col("df") <= NGRAM_DF_MAX), "s")
    # shuffle_hash pinned: the candidate self-join must partition by
    # shingle so the bounded df² expansion runs parallel per shingle
    # bucket; the index could never broadcast at 100 TB.
    a, b = rare.alias("a"), rare.hint("shuffle_hash").alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.s") == F.col("b.s")) & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
        .distinct()
    )
    ha = docs.withColumnsRenamed({"doc_id": "id_a", "hb": "hb_a"})
    hb = docs.withColumnsRenamed({"doc_id": "id_b", "hb": "hb_b"})
    return _verify_jaccard(
        cand.join(ha, "id_a").join(hb, "id_b"), "hb_a", "hb_b"
    ).select("id_a", "id_b", "n_common", "jaccard")


def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs within one label bucket (IVF-cell shape).

    The bucket restriction is the scale story: cosine dedup over 100 TB is
    always bucketed (IVF/LSH) so each cell's pairwise check is bounded; the
    unbucketed form would be a cross join.
    """
    from kafka_exercise_spark.operators.similarity import (  # noqa: PLC0415
        int_cos_e6,
        quantized_vec,
    )

    # exact integer micro-cosine over fixed-point vectors: a float cosine
    # fold here is the 1-ulp cross-engine flake class that hit
    # dedup_semantic at sf0.1 (threshold-pair entries emit thousands of
    # rounded values — boundary hits are a matter of time)
    emb = (
        load_table(spark, sf_dir, "embeddings")
        .filter(F.col("label") == 0)
        .select(
            "vec_id",
            quantized_vec(F.col("embedding").cast("array<double>")).alias("ei"),
        )
    )
    a = emb.select(F.col("vec_id").alias("id_a"), F.col("ei").alias("ei_a"))
    b = emb.select(F.col("vec_id").alias("id_b"), F.col("ei").alias("ei_b"))
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .withColumn("cos_e6", int_cos_e6(F.col("ei_a"), F.col("ei_b")))
        .filter(
            F.col("cos_e6") >= int(round(COSINE_DUP_THRESHOLD * 1_000_000))
        )
        .select(
            "id_a", "id_b", (F.col("cos_e6") / 1_000_000).alias("cos")
        )
    )


BENCHMARK_MAX_DOC_ID = 50  # fixture stand-in for the eval/benchmark set
DECONTAM_MIN_SHARED = 8  # shared distinct shingles to flag contamination


def decontaminate_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: corpus docs sharing n-gram evidence with
    an eval set.

    The training-data op every pretraining pipeline runs before training:
    find corpus documents that overlap a benchmark/eval suite so they can be
    dropped. Docs with doc_id < 50 stand in for the benchmark; a corpus doc
    is flagged when it shares ≥ 8 distinct shingles with a benchmark doc.

    Scale shape: the benchmark inverted index (shingle → bench doc) is tiny
    — eval suites are thousands of docs, not billions — so it BROADCASTS,
    and the corpus side is one scan + explode + broadcast-hash join + one
    agg shuffle on (doc_id, bench_id). The corpus is never self-joined and
    never shuffled by shingle; the index and probe side carry 8-byte
    shingle hashes, not strings.
    """
    docs = _hashed_shingles_frame(spark, sf_dir)
    bench_inv = (
        docs.filter(F.col("doc_id") < BENCHMARK_MAX_DOC_ID)
        .select(F.col("doc_id").alias("bench_id"), F.explode("hb").alias("sg"))
    )
    corpus_inv = docs.filter(F.col("doc_id") >= BENCHMARK_MAX_DOC_ID).select(
        "doc_id", F.explode("hb").alias("sg")
    )
    return (
        corpus_inv.join(F.broadcast(bench_inv), "sg")
        .groupBy("doc_id", "bench_id")
        .agg(F.count("*").alias("n_shared"))
        .filter(F.col("n_shared") >= DECONTAM_MIN_SHARED)
    )


#: Bloom prefilter geometry for decontaminate_bloom: 2^17 bits (16 KB as
#: 2048 longs) × 4 probes. At ~15k eval shingles the load factor is ~0.45
#: → ~2% false-positive rate, i.e. the explode+join below the filter sees
#: ~2% of corpus shingles plus true hits instead of all of them.
BLOOM_BITS = 1 << 17
BLOOM_K = 4


def _bloom_probe_positions(h: int) -> list[int]:
    """Kirsch-Mitzenmacher double hashing: k positions from one 60-bit
    shingle hash. Twin of the JVM-side expressions in decontaminate_bloom —
    the two MUST stay identical or the prefilter drops true hits."""
    h1 = h & 0xFFFFFFFF
    h2 = ((h >> 28) | 1) & 0xFFFFFFFF
    return [(h1 + i * h2) % BLOOM_BITS for i in range(BLOOM_K)]


def decontaminate_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc eval contamination via a broadcast Bloom prefilter + exact
    verify — the production decontamination shape at corpus scale.

    decontaminate_ngram (above) broadcast-joins EVERY corpus shingle
    against the exact eval inverted index — fine while that index is
    small enough to broadcast. Here the eval set is folded into a 16 KB
    bit set shipped inside the plan as an array<bigint> literal, and a
    JVM-side WHERE on the exploded shingle column drops ~98% of corpus
    shingles before the broadcast join — plain integer math (pmod /
    element_at / bit_get against the literal) that stays inside
    whole-stage codegen. (A higher-order ``filter(hb, lambda)`` before
    the explode was measured 2x slower: lambda bodies evaluate
    interpreted, outside codegen.) Survivors (true hits + ~2% false
    positives) are exact-verified with the broadcast eval-shingle join,
    so the OUTPUT is exact — the Bloom stage changes cost, never
    results, which is what makes a plain-SQL oracle possible. The
    100 TB story: the exact index grows with the eval suite and can
    stop fitting a comfortable broadcast; the bit set stays 16 KB, and
    join/shuffle pressure drops by the pass rate.

    Driver-side bound: the distinct eval shingle hashes are collected once
    to build the bit set — bounded by the eval suite's size (thousands of
    docs by definition, same bound decontaminate_ngram's broadcast relies
    on), never by corpus size.

    Output: one row per contaminated-or-touching corpus doc — distinct
    eval-shingle hits, its shingle count, the hit ratio, and the
    contamination flag at the DECONTAM_MIN_SHARED threshold.
    """
    raw = load_table(spark, sf_dir, "documents")

    # Driver-resident eval-suite Bloom state: (distinct eval shingle hashes,
    # 16 KB bit set). The eval suite is fixed for a deployment, so
    # collecting it once per session is the honest cost.
    def _build():
        # split BEFORE shingling so each side's doc_id predicate reaches the
        # parquet scan — filtering the shingled+repartitioned frame instead
        # costs a full corpus shingle pass per eval-side use (measured: 2x
        # the whole query)
        eval_plan = (
            _with_hashed_shingles(raw.filter(F.col("doc_id") < BENCHMARK_MAX_DOC_ID))
            .select(F.explode("hb").alias("sg"))
            .distinct()
        )
        # The eval side is ~50 docs; its wall time is pure expression-codegen
        # compile (lambda-variable ExprIds make the generated source
        # uncacheable — measured 3.4s compiled vs 0.14s interpreted for this
        # exact subtree). Interpreted mode is strictly right for a 50-row job.
        prev_mode = spark.conf.get("spark.sql.codegen.factoryMode", "FALLBACK")
        spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
        try:
            eval_hashes = [h for (h,) in eval_plan.collect()]
        finally:
            spark.conf.set("spark.sql.codegen.factoryMode", prev_mode)
        # Build the bit set (driver-side, eval-suite-bounded) and ship it as
        # ONE BinaryType literal (byte-per-bit). The representation matters
        # twice over:
        # - an array<bigint> literal via lit(list) lowers to CreateArray with
        #   2048 child nodes; referenced once per probe that puts ~8k nodes in
        #   the tree and every optimizer rule walks them all — measured ~5s of
        #   driver-side planning per call;
        # - a STRING literal is a single node, but UTF8String.substring scans
        #   from offset 0 to find codepoint boundaries — O(position) per probe,
        #   measured 20s+ on the corpus.
        # substr on BINARY indexes bytes directly (no codepoints): one plan
        # node, O(1) probes.
        bits = bytearray(b"\x00" * BLOOM_BITS)
        for h in eval_hashes:
            for p in _bloom_probe_positions(h):
                bits[p] = 1
        return eval_hashes, bytes(bits)

    eval_hashes, bits_bytes = memo(spark, "bloom_eval", sf_dir, _build)
    # verify side reuses the driver-resident hashes as a local relation —
    # re-deriving it from `raw` would compile (another ~3s) and execute the
    # eval shingle pipeline a second time inside the main job
    eval_sh = spark.createDataFrame(
        [(h,) for h in eval_hashes], "sg long"
    )
    bf = F.lit(bits_bytes)

    def bloom_pass(sg):
        h1 = sg.bitwiseAND(F.lit(0xFFFFFFFF))
        h2 = F.shiftrightunsigned(sg, 28).bitwiseOR(F.lit(1)).bitwiseAND(
            F.lit(0xFFFFFFFF)
        )
        ok = F.lit(True)
        for i in range(BLOOM_K):
            p = F.pmod(h1 + F.lit(i) * h2, F.lit(BLOOM_BITS))
            ok = ok & (
                bf.substr(p.cast("int") + F.lit(1), F.lit(1)) == F.lit(b"\x01")
            )
        return ok

    # corpus side filters AFTER shingling, deliberately: it reads the
    # family-shared persisted hashed-shingle frame directly (guaranteed
    # reuse, not just canonical-plan cache luck) — the corpus is ~90% of
    # the table and shingling it is the dominant cost.
    corpus = (
        _hashed_shingles_frame(spark, sf_dir)
        .filter(F.col("doc_id") >= BENCHMARK_MAX_DOC_ID)
        .select(
            "doc_id",
            F.size("hb").cast("bigint").alias("n_shingles"),
            F.explode("hb").alias("sg"),
        )
        .where(bloom_pass(F.col("sg")))
    )
    return (
        corpus.join(F.broadcast(eval_sh), "sg")  # exact verify: kills FPs
        .groupBy("doc_id", "n_shingles")
        .agg(F.count("*").alias("n_eval_hits"))
        .select(
            "doc_id",
            "n_shingles",
            "n_eval_hits",
            F.round(F.col("n_eval_hits") / F.col("n_shingles"), 6).alias(
                "eval_ratio"
            ),
            (F.col("n_eval_hits") >= DECONTAM_MIN_SHARED).alias("contaminated"),
        )
    )


#: Contraction passes before declaring non-convergence. Each pass shrinks
#: the edge list to ≤ one spanning-forest edge per node per partition, so
#: even a pathological graph collapses within a few passes.
CC_MAX_ITERS = 25

#: Forest-edge count below which a single task finishes the job exactly.
#: At 4M forest edges (one per node) that task's union-find dict and set hold
#: ~0.7 GB of Python objects (~180 B per node, measured with tracemalloc).
CC_SINGLE_TASK_EDGES = 4_000_000


def _forest_contract_fn():
    """Union-find spanning-forest contraction over a partition's (src, dst)
    edges, read by column name, as a NESTED closure for ``mapInArrow``:
    emits one (node → local min-root) edge per node. Union-by-min keeps
    every root the smallest id in its local tree, so labels only ever
    decrease.

    Closure + Arrow (r12, guide §4.5/§4.1, same rationale as the
    Misra-Gries sketch in textops): Spark hard-kills idle Python workers
    after 60 s, and a module-level function pickled by reference forces
    every fresh worker to import this package from the shipped zip plus
    pandas — seconds of sum_cpu≈0 worker wait per cold fleet inside a
    long session. The closure pickles by value and the Arrow path needs
    only pyarrow, so the per-invocation contraction passes
    (winnow/semantic components run one per call) stay at the fork floor
    even on a cold pool.
    """

    def contract(batches):
        import pyarrow as pa  # noqa: PLC0415

        parent: dict = {}
        seen: set = set()

        def find(x):
            r = x
            while parent.get(r, r) != r:
                r = parent[r]
            while parent.get(x, x) != r:  # path compression
                parent[x], x = r, parent[x]
            return r

        for b in batches:
            for s, d in zip(
                b.column("src").to_pylist(), b.column("dst").to_pylist()
            ):
                seen.add(s)
                seen.add(d)
                rs, rd = find(s), find(d)
                if rs != rd:
                    lo, hi = (rs, rd) if rs < rd else (rd, rs)
                    parent[hi] = lo
        if seen:
            # roots emit self-edges so every node survives the next pass
            nodes = list(seen)
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(nodes, type=pa.int64()),
                    pa.array([find(n) for n in nodes], type=pa.int64()),
                ],
                names=["src", "dst"],
            )

    return contract


def dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over the near-dup pair graph: pairs → duplicate
    GROUPS → survivor choice — the step that turns pairwise LSH output into
    an actionable keep/drop list.

    Partition-local union-find contraction (Borůvka-style), not label
    propagation: each partition reduces its slice of the edge list to a
    spanning forest — ≤ one (node, local-min-root) edge per node — in ONE
    pass, connectivity preserved; passes repeat (repartitioning down) until
    the forest fits a single task, which finishes with an exact union-find.
    Two passes end-to-end on any realistic near-dup graph vs the
    O(diameter) rounds label propagation needs (17 rounds on the sf0.1
    fixture's template chains). Arrow-batched ``mapInArrow`` — per-
    partition imperative state is exactly what union-find is. At 100 TB the
    same shape holds: the edge list is O(near-dup pairs), orders of
    magnitude smaller than the corpus, each pass shrinks it to ≤ #distinct
    nodes per partition, and the single-task finish is guarded by an edge-
    count threshold — more passes kick in automatically for bigger graphs.

    Output: one row per document that appears in ≥1 near-dup pair, its
    component id (= min doc_id in the component), the component size, and
    is_survivor (true for the canonical doc kept per group). Singleton docs
    are excluded (they are trivially their own survivors).

    Served via ``memo_frame`` (r8): the contraction is an eager
    iterative job (localCheckpoint + counts per pass), and five
    consumers read its O(near-dup) output (canonicals, soft weights,
    the budget capstone pair, the manifest chain) — one build per
    (application, sf_dir), every later call reads the stored frame.
    """
    return memo_frame(
        spark,
        "dedup_components",
        sf_dir,
        lambda: _components_from_pairs(
            spark,
            dedup_minhash_lsh(spark, sf_dir).select("id_a", "id_b"),
            id_name="doc_id",
        ),
    )


def dedup_semantic_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup end-to-end: semantic pair graph → duplicate groups →
    survivors. Composes ``similarity.dedup_semantic`` (IVF-clustered
    within-cell cosine pairs) with the same union-find contraction the
    text-dedup family uses — the final keep/drop list a semantic dedup
    run feeds back into the corpus. Rows-only for the driver (the pair
    source is k-means-derived); group/survivor invariants are pinned in
    pytest alongside the pair invariants."""
    from kafka_exercise_spark.operators.similarity import (  # noqa: PLC0415
        dedup_semantic,
    )

    pairs = dedup_semantic(spark, sf_dir).select("id_a", "id_b")
    return _components_from_pairs(spark, pairs, id_name="vec_id")


def _components_from_pairs(
    spark: SparkSession, pairs: DataFrame, id_name: str
) -> DataFrame:
    """Shared contraction driver: (id_a, id_b) pair frame → per-node
    (id, comp, comp_size, is_survivor). See dedup_components for the
    algorithm and scale story."""
    # the contraction closure pickles by value (see _forest_contract_fn):
    # no package ship, no package import on fresh Python workers
    contract = _forest_contract_fn()
    # Materialize the PAIR plan once, then build the symmetric edge list
    # as a narrow double-read of the checkpointed blocks (guide §2.4 —
    # remove work, not just shuffles): checkpointing the union instead
    # would execute the (often join-heavy) pair plan twice, once per
    # union branch, and store a second full copy of every edge. Measured
    # on winnow_components (sf0.1, isolated): 2.78 s → ~1.6 s.
    p = pairs.toDF("src", "dst").localCheckpoint()
    edges = p.union(p.select(F.col("dst"), F.col("src")))
    schema = "src long, dst long"
    n_edges = edges.count()
    for _ in range(CC_MAX_ITERS):
        # Finish when the forest fits one comfortable task OR when the
        # halving has already concentrated every edge in one partition —
        # contraction emits one (node, root) row per node, so n_edges is
        # floored at the distinct-node count and can never drop below the
        # task threshold on a graph with more nodes than that; the
        # single-partition state is then the exact-finish condition (the
        # final pass sees the whole, already-minimal forest).
        if (
            n_edges <= CC_SINGLE_TASK_EDGES
            or edges.rdd.getNumPartitions() <= 1
        ):
            break
        # shrink: one spanning-forest pass per partition, then merge the
        # forests at ~half the parallelism so components coalesce
        nparts = max(1, edges.rdd.getNumPartitions() // 2)
        edges = (
            edges.mapInArrow(contract, schema)
            .repartition(nparts)
            .localCheckpoint()
        )
        n_edges = edges.count()
    else:
        raise RuntimeError(
            f"dedup_components: no convergence in {CC_MAX_ITERS} passes"
        )
    labels = (
        edges.repartition(1)
        .mapInArrow(contract, schema)
        .toDF("id", "comp")
        .localCheckpoint()
    )
    sizes = labels.groupBy("comp").agg(F.count("*").alias("comp_size"))
    return (
        labels.join(sizes, "comp")
        .select(
            F.col("id").alias(id_name),
            "comp",
            "comp_size",
            (F.col("id") == F.col("comp")).alias("is_survivor"),
        )
    )


#: The fixture source treated as the "incoming batch" for incremental dedup.
INCREMENTAL_NEW_SOURCE = "src0"


def version_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup component frame of corpus v — the corpus WITHOUT the
    arriving ``INCREMENTAL_NEW_SOURCE`` batch — shared by every
    cross-version delta's v side (the packed/bucketed selection deltas
    in sampling.py and the preference delta in textops.py), ONE
    contraction per (application, sf_dir) instead of one per consumer.

    Exact by restriction: a MinHash-LSH pair is a per-doc-pure function
    of its two endpoints, so pairs(v) is the memo-served full pair
    frame with both endpoints outside the batch (two broadcast
    anti-joins — no second LSH run). Only the O(near-dup) contraction
    re-runs, on the FILTERED edge list, because removing a bridge doc
    can split a component — comp ids and sizes must come from v's own
    graph. At 100 TB this frame is the previous day's persisted
    component table, not a recompute; memo-served here the way
    ``_selected_frame`` serves the selection."""
    from kafka_exercise_spark.catalog import memo_frame  # noqa: PLC0415

    def _build() -> DataFrame:
        docs = load_table(spark, sf_dir, "documents")
        batch_ids = docs.filter(
            F.col("source") == INCREMENTAL_NEW_SOURCE
        ).select("doc_id")
        pairs_v = (
            dedup_minhash_lsh(spark, sf_dir)
            .select("id_a", "id_b")
            .join(
                F.broadcast(batch_ids.withColumnRenamed("doc_id", "id_a")),
                "id_a",
                "left_anti",
            )
            .join(
                F.broadcast(batch_ids.withColumnRenamed("doc_id", "id_b")),
                "id_b",
                "left_anti",
            )
        )
        return _components_from_pairs(spark, pairs_v, id_name="doc_id")

    return memo_frame(spark, "version_comps", sf_dir, _build)


def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental near-dup check: an INCOMING batch against the EXISTING
    corpus — the shape every continuously-ingesting 100 TB pipeline actually
    runs (the full self-join happens once; every day after is this).

    Both sides get the same shingle→signature→band treatment, but the join
    is new-bands × old-bands on (band, key) — the corpus NEVER self-joins,
    so cost is O(batch) probes into the band index, not O(corpus²). In
    production the old side's bands/shingles are a persisted index table
    (the materialization dedup_minhash_lsh already demonstrates); here both
    sides derive from the fixture split by ``source``. Verification is
    exact Jaccard on the hashed shingle sets, new side broadcast (a daily
    batch is orders smaller than the corpus).

    Output: (new_doc_id, old_doc_id, n_common, jaccard) — the reject/link
    list for the incoming batch.
    """
    docs = scale_partitions(load_table(spark, sf_dir, "documents"), spark)
    is_new = F.col("source") == INCREMENTAL_NEW_SOURCE
    new_h = _with_hashed_shingles(docs.filter(is_new))
    old_bands, old_sets = corpus_probe_sides(docs.filter(~is_new))
    return probe_index(new_h, old_bands, old_sets)


def corpus_probe_sides(docs_old: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(old_bands, old_sets): the corpus half of the admission-control
    index — ONE builder shared by the batch operator and the streaming
    replay so the index construction (band layout, renames) can never
    drift between the two. Callers that reuse the index across probes
    materialize the returned frames (localCheckpoint / lake table)."""
    old_h = _with_hashed_shingles(docs_old)
    old_bands = _band_keys(_signatures_from(old_h)).withColumnsRenamed(
        {"doc_id": "old_doc_id"}
    )
    old_sets = old_h.withColumnsRenamed({"doc_id": "old_doc_id", "hb": "hb_old"})
    return old_bands, old_sets


def probe_index(
    new_h: DataFrame, old_bands: DataFrame, old_sets: DataFrame
) -> DataFrame:
    """Band probe + exact-Jaccard verify of an incoming batch against a
    corpus index — THE admission-control primitive, shared verbatim by the
    batch operator (``dedup_incremental``) and its streaming twin
    (streaming/stateful.streaming_neardup_replay's per-micro-batch probe),
    so the verify math can never drift between the two.

    ``new_h``: incoming (doc_id, hb) hashed-shingle frame (batch-sized —
    both its band keys and shingle sets broadcast). ``old_bands``:
    (band, key, old_doc_id) corpus band index; ``old_sets``:
    (old_doc_id, hb_old) corpus shingle sets — both typically prebuilt and
    materialized once (the lake-resident index), which is why they are
    taken as frames rather than rebuilt here.
    """
    new_bands = _band_keys(_signatures_from(new_h)).withColumnsRenamed(
        {"doc_id": "new_doc_id"}
    )
    cand = (
        F.broadcast(new_bands)
        .join(old_bands, ["band", "key"])
        .select("new_doc_id", "old_doc_id")
        .distinct()
    )
    return _verify_jaccard(
        cand.join(
            F.broadcast(
                new_h.withColumnsRenamed({"doc_id": "new_doc_id", "hb": "hb_new"})
            ),
            "new_doc_id",
        ).join(old_sets, "old_doc_id"),
        "hb_new",
        "hb_old",
    ).select("new_doc_id", "old_doc_id", "n_common", "jaccard")


#: Passage length (in tokens) for cross-document duplicated-span removal.
#: Lee et al. (ACL 2022, "Deduplicating Training Data Makes Language Models
#: Better") cut exact duplicated substrings of >= 50 tokens; the fixture
#: docs are ~50 words total, so 8 tokens plays the same role here (and
#: matches the decontamination n-gram order).
PASSAGE_N = 8


def dedup_passages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document duplicated-passage removal: cut every token span that
    occurs (at PASSAGE_N-gram granularity) more than once in the corpus,
    keeping the rest of each document.

    This is the span-level complement of the doc-level near-dup family:
    near-dup dedup drops whole documents, passage dedup surgically removes
    the boilerplate/quotation spans that survive doc-level dedup (Lee et
    al. 2022 report ~3 % of tokens in C4 sit in >=50-token exact dupes).

    Plan shape, all JVM-side:
      1. tokenize; explode one 60-bit hash per n-gram *start position*
         (map-only; the n-gram string never leaves the scan stage),
      2. groupBy(gram-hash) -> df; duplicated keys = df > 1 (one shuffle
         on a long key, map-side partial agg),
      3. join gram occurrences to the duplicated-key set (key-partitioned
         join; at 100 TB the duplicated set is the small side - dups are
         the exception - so AQE broadcasts it),
      4. expand each duplicated start i to covered positions [i, i+n-1],
         distinct, re-aggregate per doc into a covered-position list,
      5. rebuild the kept text with a positional array filter and
         fingerprint it (map-only).

    Output per doc: token counts before/after the cut, the first covered
    position, and the md5 fingerprint of the cleaned text - a value-level
    proof that the *membership* of every cut span matches the oracle, not
    just the counts.
    """
    n = PASSAGE_N
    docs = scale_partitions(load_table(spark, sf_dir, "documents"), spark)
    toks = docs.select("doc_id", tokens(F.col("text")).alias("w"))

    starts = F.sequence(F.lit(0), F.size("w") - n)
    grams = (
        toks.filter(F.size("w") >= n)
        .select(
            "doc_id",
            F.explode(
                F.transform(
                    starts,
                    lambda i: F.struct(
                        i.alias("i"),
                        md5_hash64(F.concat_ws(" ", F.slice("w", i + 1, n))).alias(
                            "g"
                        ),
                    ),
                )
            ).alias("s"),
        )
        .select("doc_id", "s.i", "s.g")
    )
    dup_keys = grams.groupBy("g").count().filter(F.col("count") > 1).select("g")
    # collect_set both de-dups overlapping spans AND builds the per-doc
    # position list in ONE doc_id shuffle (a separate .distinct() before
    # the groupBy would shuffle the exploded positions twice)
    cov = (
        grams.join(dup_keys, "g")
        .select(
            "doc_id",
            F.explode(F.sequence(F.col("i"), F.col("i") + n - 1)).alias("pos"),
        )
        .groupBy("doc_id")
        .agg(
            F.collect_set("pos").alias("cl"),
            F.min("pos").alias("first_dup_pos"),
        )
    )
    kept = F.filter(
        F.col("w"),
        lambda x, i: F.coalesce(~F.array_contains(F.col("cl"), i), F.lit(True)),
    )
    return (
        toks.join(cov, "doc_id", "left")
        .select(
            "doc_id",
            F.size("w").cast("long").alias("n_words"),
            F.coalesce(F.size("cl"), F.lit(0)).cast("long").alias("n_dup_positions"),
            F.col("first_dup_pos").cast("long").alias("first_dup_pos"),
            F.size(kept).cast("long").alias("n_kept_words"),
            md5_hash64(F.concat_ws(" ", kept)).alias("clean_fp"),
        )
    )


def contamination_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source contamination data card: how much of each source is
    flagged by n-gram decontamination, by semantic (embedding-space)
    decontamination, and by either — the rollup a curation run publishes
    before deciding which sources need requarantine. Composes the two
    decontamination operators (their index builds are memoized/shared), so
    this is genuinely the pipeline's own outputs being audited, not a
    re-derivation. All exact integers (counts + floor-ppm rates).
    """
    from kafka_exercise_spark.operators.similarity import (  # noqa: PLC0415
        decontaminate_semantic,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    corpus = docs.filter(F.col("doc_id") >= BENCHMARK_MAX_DOC_ID)
    # decontaminate_ngram rows are already thresholded flags
    ngram_ids = (
        decontaminate_ngram(spark, sf_dir)
        .select("doc_id")
        .distinct()
        .withColumn("ngram_hit", F.lit(1))
    )
    sem_ids = (
        decontaminate_semantic(spark, sf_dir)
        .select(F.col("vec_id").alias("doc_id"))
        .distinct()
        .withColumn("sem_hit", F.lit(1))
    )
    flagged = (
        corpus.join(ngram_ids, "doc_id", "left")
        .join(sem_ids, "doc_id", "left")
        .select(
            "source",
            F.coalesce("ngram_hit", F.lit(0)).alias("ngram_hit"),
            F.coalesce("sem_hit", F.lit(0)).alias("sem_hit"),
        )
    )
    return (
        flagged.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("ngram_hit").cast("long").alias("n_ngram_flagged"),
            F.sum("sem_hit").cast("long").alias("n_sem_flagged"),
            F.sum(
                F.when((F.col("ngram_hit") + F.col("sem_hit")) > 0, 1).otherwise(0)
            )
            .cast("long")
            .alias("n_any_flagged"),
        )
        .withColumn(
            "ngram_ppm",
            F.expr("(n_ngram_flagged * 1000000) div n_docs"),
        )
        .withColumn(
            "sem_ppm",
            F.expr("(n_sem_flagged * 1000000) div n_docs"),
        )
        .withColumn(
            "any_ppm",
            F.expr("(n_any_flagged * 1000000) div n_docs"),
        )
    )


#: Cosine thresholds swept (µ-cosine units), highest → loosest. The floor
#: (last entry) bounds the pair frame: pairs below it are never needed.
#: Ladder centered on the fixture's regime (the synthetic embeddings are
#: diffuse — within-label pairs top out ≈0.47, and the production dup
#: threshold here is COSINE_DUP_THRESHOLD = 0.25); on a real corpus the
#: same ladder sits at 0.9+.
SWEEP_THRESHOLDS_E6 = (450_000, 400_000, 350_000, 300_000, 250_000, 200_000)


def dedup_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Threshold-tuning report for embedding dedup: pair and affected-doc
    counts at a ladder of cosine cutoffs, from ONE pass over the
    within-bucket pairs — the artifact you stare at before committing a
    semantic-dedup threshold at 100 TB (each row answers "how much would
    this cutoff remove?").

    The pair frame (per-label buckets, exact integer micro-cosine — the
    same Σ|cell|² shape and exactness as ``dedup_embedding_cosine``) is
    computed once, floored at the loosest threshold, and served via the
    shared memo; the sweep itself is an explode over the literal ladder +
    one aggregation per statistic. Both statistics are exact integers, so
    the report hash-checks in any engine.
    """
    from kafka_exercise_spark.operators.similarity import (  # noqa: PLC0415
        int_cos_e6,
        quantized_vec,
    )

    def _build_pairs() -> DataFrame:
        emb = load_table(spark, sf_dir, "embeddings").select(
            "label",
            "vec_id",
            quantized_vec(F.col("embedding").cast("array<double>")).alias("ei"),
        )
        a = emb.select(
            "label", F.col("vec_id").alias("id_a"), F.col("ei").alias("ei_a")
        )
        b = emb.select(
            "label", F.col("vec_id").alias("id_b"), F.col("ei").alias("ei_b")
        )
        return (
            a.join(b, "label")
            .where(F.col("id_a") < F.col("id_b"))
            .withColumn("cos_e6", int_cos_e6(F.col("ei_a"), F.col("ei_b")))
            .where(F.col("cos_e6") >= min(SWEEP_THRESHOLDS_E6))
            .select("id_a", "id_b", "cos_e6")
        )

    pairs = memo_frame(spark, "cos_sweep_pairs", sf_dir, _build_pairs)
    swept = pairs.select(
        "id_a",
        "id_b",
        F.explode(F.lit(list(SWEEP_THRESHOLDS_E6))).alias("threshold_e6"),
        "cos_e6",
    ).where(F.col("cos_e6") >= F.col("threshold_e6"))
    n_pairs = swept.groupBy("threshold_e6").agg(
        F.count("*").alias("n_pairs")
    )
    ids = swept.select(
        "threshold_e6",
        F.explode(F.array(F.col("id_a"), F.col("id_b"))).alias("id"),
    )
    n_docs = ids.groupBy("threshold_e6").agg(
        F.count_distinct("id").alias("n_docs")
    )
    return n_pairs.join(n_docs, "threshold_e6")


def dedup_cluster_canonicals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware survivor selection — the last step of the dedup loop:
    pairs → components → WHICH copy to keep. ``dedup_components`` keeps
    the min-id member (arbitrary); a real curation pipeline keeps the
    BEST copy, because near-dup clusters routinely mix a clean original
    with truncated/boilerplate-wrapped variants. Rule: per cluster, keep
    the copy that passes the Gopher battery, largest word count first,
    doc_id as the final tie-break — "the largest clean copy survives".

    All selection keys are exact integers/booleans (the Gopher signals),
    so the argmax is engine-deterministic — no float score can strand the
    tie on an ulp (the q15 lesson). Scale shape: the cluster frame is
    O(near-dup docs) — orders smaller than the corpus — and the quality
    columns arrive by ONE equi-join on doc_id; the rank window partitions
    by component (bounded groups). The corpus itself is scanned only by
    the memoized pair pass and the map-only Gopher scan.
    """
    from pyspark.sql import Window  # noqa: PLC0415

    from kafka_exercise_spark.operators.textops import (  # noqa: PLC0415
        gopher_quality_filter,
    )

    comps = dedup_components(spark, sf_dir).select(
        "doc_id", "comp", "comp_size"
    )
    q = gopher_quality_filter(spark, sf_dir).select(
        "doc_id", F.col("keep").alias("clean"), "n_words"
    )
    j = comps.join(q, "doc_id")
    w = Window.partitionBy("comp").orderBy(
        F.desc("clean"), F.desc("n_words"), F.asc("doc_id")
    )
    return (
        j.withColumn("rk", F.row_number().over(w))
        .select(
            "doc_id",
            "comp",
            "comp_size",
            "clean",
            F.col("n_words").cast("long").alias("n_words"),
            (F.col("rk") == 1).alias("is_canonical"),
            F.when(F.col("rk") == 1, F.lit("keep"))
            .otherwise(F.lit("drop"))
            .alias("action"),
        )
    )


def dedup_source_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source×source near-dup contamination matrix — WHO copies from
    WHOM: every verified near-dup pair mapped to its (source, source)
    cell, unordered (least/greatest canonicalization), with pair counts
    and the number of distinct documents touched. The diagonal is
    within-source duplication (template churn); off-diagonal cells are
    cross-source syndication — the artifact that decides which feed gets
    de-prioritized at the crawler, not just which doc gets dropped.

    Cost: two equi-joins of the MEMOIZED pair frame (O(near-dup pairs),
    orders smaller than the corpus) against the 2-column doc→source
    projection, then ONE aggregation over the pair-member explode —
    n_pairs falls out as count/2 (every pair contributes exactly two
    member rows), so both outputs share a single join tree and a single
    shuffle; the corpus is never rescanned.
    """
    pairs = dedup_minhash_lsh(spark, sf_dir).select("id_a", "id_b")
    src = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    j = (
        pairs.join(
            src.withColumnsRenamed({"doc_id": "id_a", "source": "src_a"}),
            "id_a",
        )
        .join(
            src.withColumnsRenamed({"doc_id": "id_b", "source": "src_b"}),
            "id_b",
        )
        .select(
            F.least("src_a", "src_b").alias("source_a"),
            F.greatest("src_a", "src_b").alias("source_b"),
            "id_a",
            "id_b",
        )
    )
    exploded = j.select(
        "source_a", "source_b", F.explode(F.array("id_a", "id_b")).alias("d")
    )
    return (
        exploded.groupBy("source_a", "source_b")
        .agg(
            F.expr("count(*) div 2").alias("n_pairs"),
            F.count_distinct("d").alias("n_docs"),
        )
        .select("source_a", "source_b", "n_pairs", "n_docs")
    )


def minhash_s_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The LSH S-curve, theory against measurement: for each similarity
    grid point s (5..95 centi), the analytic candidate probability
    1−(1−s^r)^b of the deployed (bands=LSH_BANDS, rows=r) configuration,
    next to the ACTUAL verified-pair count observed in that similarity
    band — the tuning artifact that justifies a banding choice before a
    100 TB run (too-steep = missed near-dups, too-flat = candidate
    explosion), with the corpus's own pair mass as ground truth.

    The theory column is a same-formula double on both engines (the
    proven cross-engine float pattern) rounded once to ppm; the measured
    column buckets the memoized pair frame's hash-stable jaccard values
    with floor(j·20) — identical doubles in, identical band out. Cost:
    a 19-row literal grid joined against one tiny aggregate of the
    served pair frame; nothing rescans the corpus.
    """
    r = N_MINHASH // LSH_BANDS
    grid = spark.range(1, 20).select((F.col("id") * 5).alias("s_centi"))
    s = F.col("s_centi") / F.lit(100.0)
    p = F.lit(1.0) - F.pow(
        F.lit(1.0) - F.pow(s, F.lit(float(r))), F.lit(float(LSH_BANDS))
    )
    theory = grid.select(
        F.col("s_centi").cast("long").alias("s_centi"),
        F.round(p * 1_000_000).cast("long").alias("p_collision_ppm"),
    )
    measured = (
        dedup_minhash_lsh(spark, sf_dir)
        .select(
            F.least(F.floor(F.col("jaccard") * 20) * 5, F.lit(95))
            .cast("long")
            .alias("s_centi")
        )
        .groupBy("s_centi")
        .agg(F.count("*").alias("n_pairs_in_band"))
    )
    return theory.join(measured, "s_centi", "left").select(
        "s_centi",
        "p_collision_ppm",
        F.coalesce("n_pairs_in_band", F.lit(0))
        .cast("long")
        .alias("n_pairs_in_band"),
    )


#: Winnowing (Schleimer-Wilkerson-Aiken, SIGMOD'03) parameters: character
#: k-gram length over the canonical form, window width w (the scheme
#: guarantees at least one selected fingerprint per w consecutive k-grams,
#: so any shared substring of length >= k + w - 1 is always detected), the
#: document-frequency ceiling that keeps candidate generation linear (the
#: same bound and rationale as NGRAM_DF_MAX: ubiquitous fingerprints are
#: boilerplate, not signal — MOSS itself drops them), and the emit floors.
WINNOW_K = 16
WINNOW_W = 4
WINNOW_DF_MAX = 50
WINNOW_MIN_SHARED = 8
WINNOW_MIN_PPM = 500_000


def winnow_selected(docs: DataFrame) -> DataFrame:
    """Winnowing fingerprint selection for a (doc_id, text) frame:
    canonical form → char ``WINNOW_K``-gram md5 hashes → window-minimum
    selection over every ``WINNOW_W`` consecutive hashes → distinct
    selected fingerprints, exploded to a (doc_id, fp) posting frame.

    ONE primitive shared by the corpus index build (``_winnow_rare_frame``)
    and the streaming admission probe (streaming_winnow_replay's
    per-micro-batch fingerprinting of arriving text), so the selection
    scheme can never drift between index and probe — the same
    shared-primitive contract as ``probe_index`` in the MinHash tier.
    All map-side codegen HOFs; no shuffle, no Python.
    """
    # materialize canon behind a projection barrier BEFORE the k-gram
    # fan-out: inlined, the full normalize (lower + regexp + trim)
    # re-evaluates once per transform element — O(len²) per doc,
    # measured 10× slower on the fixture (5.2 s → 0.5 s per build)
    canoned = docs.select(
        "doc_id", normalized_text(F.col("text")).alias("canon")
    )
    canon = F.col("canon")
    n_grams = F.length(canon) - WINNOW_K + 1

    def gram_hash(g):
        return F.conv(F.substring(F.md5(g), 1, 15), 16, 10).cast("long")

    hashed = canoned.select(
        "doc_id",
        F.when(
            n_grams >= 1,
            F.transform(
                F.sequence(F.lit(1), n_grams),
                lambda i: gram_hash(F.substr(canon, i, F.lit(WINNOW_K))),
            ),
        )
        .otherwise(F.array().cast("array<bigint>"))
        .alias("hs"),
    )
    n_wins = F.size(F.col("hs")) - WINNOW_W + 1
    selected = hashed.select(
        "doc_id",
        F.when(
            n_wins >= 1,
            F.array_distinct(
                F.transform(
                    F.sequence(F.lit(1), n_wins),
                    lambda j: F.array_min(
                        F.slice(F.col("hs"), j, WINNOW_W)
                    ),
                )
            ),
        )
        .when(F.size(F.col("hs")) >= 1, F.array(F.array_min(F.col("hs"))))
        .otherwise(F.array().cast("array<bigint>"))
        .alias("sel"),
    )
    return selected.select("doc_id", F.explode("sel").alias("fp"))


def _winnow_rare_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Memoized (doc_id, fp) posting frame of df-bounded winnowed
    fingerprints — the winnowing analog of ``_hashed_shingles_frame``.

    Built in two memo steps so each plan materializes exactly once per
    application: the full posting list first (fingerprinting is the
    CPU-heavy map side — one md5 per character k-gram), then the
    df-filtered postings the consumers join on. Without the memo the
    operator's four consuming subtrees (df census, both self-join sides,
    per-doc counts) each re-fingerprint the corpus — the exact repeated-
    subtree defect the r3 plan audit caught on ngram-Jaccard. At 100 TB
    both frames are the fingerprint index tables checkpointed to the
    lake once and shared by every overlap consumer.
    """

    def build_inv() -> DataFrame:
        docs = scale_partitions(load_table(spark, sf_dir, "documents"), spark)
        return winnow_selected(docs)

    inv = memo_frame(spark, "winnow_inv", sf_dir, build_inv)

    def build_rare() -> DataFrame:
        dfc = inv.groupBy("fp").agg(F.count("*").alias("df"))
        return inv.join(dfc.filter(F.col("df") <= WINNOW_DF_MAX), "fp").select(
            "doc_id", "fp"
        )

    return memo_frame(spark, "winnow_rare", sf_dir, build_rare)


def winnowing_overlap_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MOSS-style winnowing fingerprint overlap: document pairs whose
    selected (window-minimum) fingerprint sets overlap heavily.

    The third fingerprinting scheme in the dedup family, orthogonal to
    MinHash (set-resemblance estimate) and SimHash (rotation-tolerant
    bit signature): winnowing selects the MINIMUM k-gram hash in every
    sliding window of ``WINNOW_W`` consecutive character k-grams, which
    yields a position-robust ~2/(w+1) sample of each document with the
    published guarantee that any shared substring of length
    ``k + w - 1`` or more contributes at least one COMMON selected
    fingerprint — insertion/reorder-tolerant overlap detection, the
    scheme plagiarism detectors run at corpus scale.

    Overlap is counted on *discriminative* fingerprints only (document
    frequency <= ``WINNOW_DF_MAX``) — dropping ubiquitous fingerprints is
    part of the published scheme, and it is also the scale bound: the
    inverted-index self-join expands at most DF_MAX per posting, so total
    candidate work is <= DF_MAX x Sigma(df) — linear in corpus size, never
    all-pairs. Emitted: pair, shared-fingerprint count, and containment
    (shared / smaller set) in ppm via integer ``div`` == the oracle's
    ``//`` at any magnitude.

    Plan shape at 100 TB: one pruned scan -> map-only fingerprinting
    (codegen HOFs, one md5 per k-gram) -> explode -> one groupBy(fp) for
    df -> df-bounded equi-self-join partitioned by fp (shuffle_hash: the
    posting index could never broadcast) -> pair groupBy. No driver
    collect, no cartesian.
    """
    return _winnow_scored_pairs(spark, sf_dir).filter(
        F.col("overlap_ppm") >= WINNOW_MIN_PPM
    )


def _winnow_scored_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scored winnow pairs (id_a, id_b, n_shared, overlap_ppm) floored at
    ``WINNOW_MIN_SHARED`` only — ONE plan serving both the production
    overlap entry (which applies the ``WINNOW_MIN_PPM`` emit floor) and
    the threshold sweep (which ladders over ppm cutoffs)."""
    rare = _winnow_rare_frame(spark, sf_dir)
    rn = rare.groupBy("doc_id").agg(F.count("*").alias("n_fp"))
    a, b = rare.alias("a"), rare.hint("shuffle_hash").alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.fp") == F.col("b.fp"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b")
        )
        .agg(F.count("*").alias("n_shared"))
        .filter(F.col("n_shared") >= WINNOW_MIN_SHARED)
    )
    na = rn.withColumnsRenamed({"doc_id": "id_a", "n_fp": "n_a"})
    nb = rn.withColumnsRenamed({"doc_id": "id_b", "n_fp": "n_b"})
    return (
        pairs.join(na, "id_a")
        .join(nb, "id_b")
        .withColumn(
            "overlap_ppm",
            F.expr("(n_shared * 1000000) div least(n_a, n_b)"),
        )
        .select("id_a", "id_b", "n_shared", "overlap_ppm")
    )


#: Winnow sweep ladder (overlap ppm cutoffs, loosest first).
WINNOW_SWEEP_PPM = (
    200_000, 300_000, 400_000, 500_000, 600_000, 800_000, 950_000,
)


def winnow_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Threshold-tuning report for the winnowing detector — the same
    artifact ``dedup_threshold_sweep`` gives embedding dedup: pair and
    affected-doc counts at a ladder of overlap-ppm cutoffs, from ONE
    memoized pass over the scored pair frame. Each row answers "how much
    would this containment cutoff flag?" before committing
    ``WINNOW_MIN_PPM`` to a full run. All counts exact integers.
    """
    pairs = memo_frame(
        spark,
        "winnow_sweep_pairs",
        sf_dir,
        lambda: _winnow_scored_pairs(spark, sf_dir).filter(
            F.col("overlap_ppm") >= min(WINNOW_SWEEP_PPM)
        ),
    )
    swept = pairs.select(
        "id_a",
        "id_b",
        F.explode(F.lit(list(WINNOW_SWEEP_PPM))).alias("threshold_ppm"),
        "overlap_ppm",
    ).where(F.col("overlap_ppm") >= F.col("threshold_ppm"))
    n_pairs = swept.groupBy("threshold_ppm").agg(F.count("*").alias("n_pairs"))
    ids = swept.select(
        "threshold_ppm",
        F.explode(F.array(F.col("id_a"), F.col("id_b"))).alias("id"),
    )
    n_docs = ids.groupBy("threshold_ppm").agg(
        F.count_distinct("id").alias("n_docs")
    )
    return n_pairs.join(n_docs, "threshold_ppm").select(
        F.col("threshold_ppm").cast("long").alias("threshold_ppm"),
        "n_pairs",
        "n_docs",
    )


def winnow_corpus_sides(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """(old_rare, old_counts, fp_domain): the corpus half of winnow-tier
    admission control — ONE builder shared by the batch operator
    (``winnow_incremental``) and the streaming replay so the index layout
    can never drift between the two (the ``corpus_probe_sides`` contract,
    ported to the winnowing tier).

    All three frames derive from the session-memoized
    ``_winnow_rare_frame`` (df-bounded full-corpus posting index), so
    building them adds NO new corpus scan. The df census is therefore the
    post-ingest corpus census — the lake index refreshed before admission
    control runs, which is the conservative choice: a fingerprint the
    arriving batch itself makes ubiquitous stops scoring on BOTH sides.
    The batch/old split is two joins against the broadcast batch id list
    (batch-bounded by the incremental contract) — the corpus posting
    frame is never shuffled on doc_id.

    - ``old_rare``: (doc_id, fp) postings of the existing corpus;
    - ``old_counts``: (old_doc_id, n_old) rare-fingerprint count per
      existing doc — the containment denominator's corpus side;
    - ``fp_domain``: distinct df-bounded fingerprints — what an arriving
      batch's freshly-computed fingerprints are filtered against before
      probing (the streaming replay's admission filter).
    """
    rare = _winnow_rare_frame(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents")
    new_ids = docs.filter(F.col("source") == INCREMENTAL_NEW_SOURCE).select(
        "doc_id"
    )
    old_rare = rare.join(F.broadcast(new_ids), "doc_id", "left_anti")
    old_counts = old_rare.groupBy("doc_id").agg(
        F.count("*").alias("n_old")
    ).withColumnsRenamed({"doc_id": "old_doc_id"})
    fp_domain = rare.select("fp").distinct()
    return old_rare, old_counts, fp_domain


def winnow_probe_index(
    new_rare: DataFrame, old_rare: DataFrame, old_counts: DataFrame
) -> DataFrame:
    """Probe an incoming batch's df-bounded winnow fingerprints against
    the corpus posting index — THE winnow-tier admission-control
    primitive, shared verbatim by ``winnow_incremental`` and the
    streaming replay's per-micro-batch probe so the containment math can
    never drift between the two.

    ``new_rare``: incoming (doc_id, fp) rare-fingerprint postings
    (batch-sized — broadcasts). ``old_rare`` / ``old_counts``: the
    corpus side, typically prebuilt and materialized once
    (``winnow_corpus_sides``). The posting join broadcasts the batch
    side, so the corpus postings stream through map-side — no corpus
    shuffle, no self-join; candidate fan-out is bounded by
    ``WINNOW_DF_MAX`` per batch posting.
    """
    nr = new_rare.withColumnsRenamed({"doc_id": "new_doc_id"})
    new_counts = nr.groupBy("new_doc_id").agg(F.count("*").alias("n_new"))
    pairs = (
        old_rare.withColumnsRenamed({"doc_id": "old_doc_id"})
        .join(F.broadcast(nr), "fp")
        .groupBy("new_doc_id", "old_doc_id")
        .agg(F.count("*").alias("n_shared"))
        .filter(F.col("n_shared") >= WINNOW_MIN_SHARED)
    )
    return (
        pairs.join(F.broadcast(new_counts), "new_doc_id")
        .join(old_counts, "old_doc_id")
        .withColumn(
            "overlap_ppm",
            F.expr("(n_shared * 1000000) div least(n_new, n_old)"),
        )
        .filter(F.col("overlap_ppm") >= WINNOW_MIN_PPM)
        .select("new_doc_id", "old_doc_id", "n_shared", "overlap_ppm")
    )


def winnow_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental winnow-tier check: the INCOMING batch's winnowed
    fingerprints probed against the EXISTING corpus posting index — the
    winnowing analog of ``dedup_incremental``, closing the family gap the
    r5 detector matrix exposed (simhash/winnow contribute unique recall,
    so an online curation gate needs a winnow probe too, not just the
    MinHash band probe).

    The corpus NEVER self-joins: the batch posting frame (bounded by
    batch size) broadcasts against the df-bounded corpus postings, so
    per-day cost is O(batch × WINNOW_DF_MAX) probes into the served lake
    index regardless of corpus size. Containment uses the same integer
    ppm ``div`` and the same ``least(n_new, n_old)`` denominator as
    ``winnowing_overlap_pairs``, so the emitted pairs are EXACTLY the
    batch-crossing subset of that operator's output (the composition the
    oracle checks).

    Output: (new_doc_id, old_doc_id, n_shared, overlap_ppm) — the
    admission reject/link list for the incoming batch.
    """
    rare = _winnow_rare_frame(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents")
    new_ids = docs.filter(F.col("source") == INCREMENTAL_NEW_SOURCE).select(
        "doc_id"
    )
    # batch postings = the memoized full-corpus rare frame restricted to
    # the batch — identical to fingerprinting the batch text and keeping
    # fps inside the census domain (what the streaming twin does live)
    new_rare = rare.join(F.broadcast(new_ids), "doc_id")
    old_rare, old_counts, _ = winnow_corpus_sides(spark, sf_dir)
    return winnow_probe_index(new_rare, old_rare, old_counts)


#: Winnow-tier leak dose: an eval doc counts as leaked when at least this
#: fraction (ppm) of its df-bounded winnowed fingerprints already occur in
#: train — i.e. train contains the majority of the doc's substring content.
SPLIT_LEAK_WINNOW_PPM = 500_000


def _split_of(doc_id: F.Column) -> F.Column:
    """The 80/10/10 salted-hash split — the SAME assignment expression as
    ``sampling.split_train_valid_test`` (salt 'split'), so this report
    audits exactly the splits that operator ships."""
    from kafka_exercise_spark.operators.sampling import _hash_bucket  # noqa: PLC0415

    b = _hash_bucket(doc_id, "split")
    return F.when(b < 80, "train").when(b < 90, "valid").otherwise("test")


def split_leakage_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train→eval contamination census across the train/valid/test split —
    the check every pretraining pipeline runs before trusting held-out
    loss: how many valid/test documents are reachable from the train set
    at each of three detection strengths?

    - ``n_exact_leak``: eval docs whose canonical fingerprint also occurs
      in train (verbatim copies crossing the split boundary);
    - ``n_neardup_leak``: eval docs linked to a train doc by a VERIFIED
      MinHash-LSH near-dup pair (the materialized pair table
      ``dedup_minhash_lsh`` — paid once per session, shared here);
    - ``n_winnow_leak``: eval docs MORE THAN HALF of whose df-bounded
      winnowed fingerprints (``_winnow_rare_frame`` — char 16-gram
      window minima, the substring-level detector) also occur in train.
      The dose threshold matters: a token-shingle "any shared n-gram"
      criterion is vacuous on a small shared vocabulary (every doc shares
      SOME bigram with train), while "≥ ``SPLIT_LEAK_WINNOW_PPM`` of the
      doc's selected fingerprints" measures how much of the document's
      *substring content* the train set already contains — near-verbatim
      leakage scores ~10⁶, topically-similar background ~2.5·10⁵.

    Plan at 100 TB: split assignment is a pure map-side expression (no
    split manifest to join); the exact tier is one semi-join on the 8-byte
    fingerprint; the near-dup tier reads the already-materialized pair
    table plus two slim (doc_id → split) joins; the winnow tier reuses the
    memoized fingerprint posting frame, so the only new work is one
    broadcast-or-shuffle join on fp + a per-doc count. Leak rates ship as
    integer ppm (``div`` ≡ the oracle's ``//`` at any magnitude).
    """
    docs = load_table(spark, sf_dir, "documents")
    assign = docs.select(
        "doc_id",
        _split_of(F.col("doc_id")).alias("split"),
        md5_hash64(normalized_text(F.col("text"))).alias("fp"),
    )
    sp = assign.select("doc_id", "split")

    # exact tier in ONE text scan: group by fingerprint, flag train
    # presence, and carry per-split eval counts — the semi-join
    # formulation reads `text` twice (train side + eval side); this
    # reads it once and reduces to the fp domain immediately
    fpagg = assign.groupBy("fp").agg(
        F.max(F.when(F.col("split") == "train", 1).otherwise(0)).alias(
            "in_train"
        ),
        F.sum(F.when(F.col("split") == "valid", 1).otherwise(0)).alias(
            "n_valid"
        ),
        F.sum(F.when(F.col("split") == "test", 1).otherwise(0)).alias("n_test"),
    )
    exact = (
        fpagg.filter(F.col("in_train") == 1)
        .agg(
            F.sum("n_valid").alias("valid"),
            F.sum("n_test").alias("test"),
        )
        .select(
            F.explode(
                F.create_map(
                    F.lit("valid"), F.col("valid"), F.lit("test"), F.col("test")
                )
            ).alias("split", "n_exact_leak")
        )
    )

    pairs = dedup_minhash_lsh(spark, sf_dir).select("id_a", "id_b")
    lab = pairs.join(
        sp.withColumnsRenamed({"doc_id": "id_a", "split": "split_a"}), "id_a"
    ).join(sp.withColumnsRenamed({"doc_id": "id_b", "split": "split_b"}), "id_b")
    near_docs = (
        lab.filter((F.col("split_a") == "train") & (F.col("split_b") != "train"))
        .select(F.col("id_b").alias("doc_id"), F.col("split_b").alias("split"))
        .union(
            lab.filter(
                (F.col("split_b") == "train") & (F.col("split_a") != "train")
            ).select(F.col("id_a").alias("doc_id"), F.col("split_a").alias("split"))
        )
        .distinct()
    )
    near = near_docs.groupBy("split").agg(F.count("*").alias("n_neardup_leak"))

    rare = _winnow_rare_frame(spark, sf_dir).join(sp, "doc_id")
    train_fps = (
        rare.filter(F.col("split") == "train")
        .select("fp")
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    per_doc = (
        rare.filter(F.col("split") != "train")
        .join(train_fps, "fp", "left")
        .groupBy("doc_id", "split")
        .agg(
            F.count("*").alias("n_rare"),
            F.sum(F.coalesce("hit", F.lit(0))).alias("n_hit"),
        )
    )
    winnow = (
        per_doc.filter(
            F.expr("(n_hit * 1000000) div n_rare") >= SPLIT_LEAK_WINNOW_PPM
        )
        .groupBy("split")
        .agg(F.count("*").alias("n_winnow_leak"))
    )

    totals = sp.filter(F.col("split") != "train").groupBy("split").agg(
        F.count("*").alias("n_docs")
    )
    out = (
        totals.join(exact, "split", "left")
        .join(near, "split", "left")
        .join(winnow, "split", "left")
        .select(
            "split",
            "n_docs",
            F.coalesce("n_exact_leak", F.lit(0)).cast("long").alias("n_exact_leak"),
            F.coalesce("n_neardup_leak", F.lit(0))
            .cast("long")
            .alias("n_neardup_leak"),
            F.coalesce("n_winnow_leak", F.lit(0))
            .cast("long")
            .alias("n_winnow_leak"),
        )
    )
    return out.select(
        "split",
        "n_docs",
        "n_exact_leak",
        "n_neardup_leak",
        "n_winnow_leak",
        F.expr("(n_neardup_leak * 1000000) div n_docs").alias("neardup_ppm"),
        F.expr("(n_winnow_leak * 1000000) div n_docs").alias("winnow_ppm"),
    )


#: Detector bits for the ensemble matrix.
DETECTOR_BITS = (
    ("minhash", 1),
    ("simhash", 2),
    ("ngram", 4),
    ("winnow", 8),
)


def _tier_pairs_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Memoized (tier, id_a, id_b) union of all four detector families'
    verified pairs — materialized ONCE per (session, corpus) and served
    to every ensemble consumer (``dedup_detector_matrix``,
    ``dedup_pair_audit_sample``), which previously each re-ran the four
    pair joins per call (~3–5 s each at sf0.1 even with the family
    frames memoized, because the ngram/simhash/winnow JOINS themselves
    re-executed). At 100 TB this union IS the per-tier pair table a
    dedup run writes to the lake before any ensemble analysis reads it.
    """

    def build() -> DataFrame:
        frames = {
            "minhash": dedup_minhash_lsh(spark, sf_dir),
            "simhash": dedup_simhash_pairs(spark, sf_dir),
            "ngram": dedup_ngram_jaccard(spark, sf_dir),
            "winnow": winnowing_overlap_pairs(spark, sf_dir),
        }
        u = None
        for name, _bit in DETECTOR_BITS:
            part = frames[name].select(
                F.lit(name).alias("tier"), "id_a", "id_b"
            )
            u = part if u is None else u.union(part)
        return u

    return memo_frame(spark, "tier_pairs", sf_dir, build)


def dedup_detector_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup detector ENSEMBLE audit: which of the four fingerprinting
    families (MinHash-LSH set resemblance, SimHash bit signature,
    df-bounded n-gram Jaccard, winnowing substring overlap) surfaces
    which verified pairs — the coverage/agreement matrix an owner reads
    before deciding which detectors a 100 TB dedup run actually needs
    (pairs only one family finds are that family's unique recall;
    all-four pairs are budget spent four times).

    One row per detector-combination bitmask with the pair count and
    decoded membership flags. Cost: the four pair pipelines — every one
    of which reads session-memoized frames (LSH pair table, hashed
    shingles, winnow postings, persisted simhash signatures), so the
    matrix adds only the union + two small groupBys on top of work the
    dedup family has already paid. All counts exact integers.
    """
    bit_expr = F.lit(None).cast("long")
    for name, bit in DETECTOR_BITS:
        bit_expr = F.when(F.col("tier") == name, F.lit(bit)).otherwise(
            bit_expr
        )
    u = _tier_pairs_frame(spark, sf_dir).select(
        "id_a", "id_b", bit_expr.alias("bit")
    )
    mask = u.groupBy("id_a", "id_b").agg(F.sum("bit").alias("mask"))
    flags = [
        (F.col("mask").bitwiseAND(F.lit(bit)) > 0).alias(f"in_{name}")
        for name, bit in DETECTOR_BITS
    ]
    n_det = None
    for name, bit in DETECTOR_BITS:
        c = (F.col("mask").bitwiseAND(F.lit(bit)) > 0).cast("int")
        n_det = c if n_det is None else n_det + c
    return (
        mask.groupBy("mask")
        .agg(F.count("*").alias("n_pairs"))
        .select(
            F.col("mask").cast("long").alias("mask"),
            *flags,
            n_det.cast("long").alias("n_detectors"),
            "n_pairs",
        )
    )


def text_novelty_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level novelty/boilerplate signals per document — the
    complement of the within-doc repetition filters: how COMMON is this
    doc's content across the whole corpus? High mean shingle document
    frequency = templated/boilerplate text (candidate for down-weighting
    or dedup); a high unique-shingle fraction = content the corpus has
    nowhere else (fresh signal — or noise worth a quality look).

    Signals per doc, all exact integers: distinct-shingle count, summed
    corpus df over those shingles, mean df in centi (``div``), count of
    corpus-unique shingles (df = 1), and the unique fraction in ppm.

    Plan: the family-shared persisted hashed-shingle frame feeds both
    the df census and the per-doc rollup — the corpus is NOT rescanned;
    the only new work is one explode + groupBy(shingle) + join back on
    the 8-byte hash + groupBy(doc). At 100 TB the df census is the same
    artifact the n-gram dedup path already materializes.
    """
    docs = _hashed_shingles_frame(spark, sf_dir).select("doc_id", "hb")
    inv = docs.select("doc_id", F.explode("hb").alias("s"))
    dfc = inv.groupBy("s").agg(F.count("*").alias("df"))
    per_doc = (
        inv.join(dfc, "s")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_shingles"),
            F.sum("df").alias("sum_df"),
            F.sum(F.when(F.col("df") == 1, 1).otherwise(0))
            .cast("long")
            .alias("n_unique"),
        )
    )
    return per_doc.select(
        "doc_id",
        F.col("n_shingles").cast("long").alias("n_shingles"),
        F.col("sum_df").cast("long").alias("sum_df"),
        F.expr("(sum_df * 100) div n_shingles").alias("mean_df_c100"),
        "n_unique",
        F.expr("(n_unique * 1000000) div n_shingles").alias("unique_ppm"),
    )


def winnow_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate groups over the WINNOWING pair graph — the same
    union-find contraction the MinHash and SemDeDup families feed,
    applied to the substring-overlap detector: syndication chains (A
    quotes B quotes C) become one component even when the chain's ends
    share too little for a direct pair. Completes the detector-family
    symmetry: every pair generator here ends in the same groups →
    survivors step. Composition only — the pair frame is the memoized
    winnow join, the contraction is ``_components_from_pairs``."""
    pairs = winnowing_overlap_pairs(spark, sf_dir).select("id_a", "id_b")
    return _components_from_pairs(spark, pairs, id_name="doc_id")


def dedup_savings_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The executive dedup sheet: what does each tier BUY? Per tier
    (exact fingerprints / MinHash-LSH components / winnowing
    components): duplicate-group count, documents involved, documents
    removable (everything but each group's survivor), the removable
    TOKEN mass, and that mass as ppm of the corpus — the number that
    decides whether a 100 TB dedup pass pays for itself.

    Pure composition: exact groups from the fingerprint aggregate, the
    two component tiers from the memoized pair frames via the shared
    contraction; per-doc token counts are one map-only scan joined to
    the (tiny) non-survivor lists. All integers, ppm via ``div``.
    """
    # per-doc token counts MEMOIZED (memo_frame house pattern): the frame
    # feeds both the removable join and the total aggregate — without the
    # memo those are two full tokenize scans in one plan
    tok_counts = memo_frame(
        spark,
        "tok_counts",
        sf_dir,
        lambda: load_table(spark, sf_dir, "documents").select(
            "doc_id",
            F.size(tokens(F.col("text"))).cast("long").alias("n_tok"),
        ),
    )
    total = tok_counts.agg(F.sum("n_tok").alias("total_tok"))

    # exact tier derives from THE shared fingerprint projection
    # (_fp_frame — the same frame dedup_exact aggregates)
    fp = _fp_frame(spark, sf_dir)
    from pyspark.sql import Window  # noqa: PLC0415

    fpw = Window.partitionBy("fp")
    exact_marked = fp.withColumn("survivor", F.min("doc_id").over(fpw)).withColumn(
        "gsize", F.count("*").over(fpw)
    )
    exact = exact_marked.filter(F.col("gsize") > 1).select(
        F.lit("exact").alias("tier"),
        F.col("fp").cast("string").alias("comp"),
        "doc_id",
        (F.col("doc_id") != F.col("survivor")).alias("removable"),
    )

    def comp_tier(name: str, comps: DataFrame) -> DataFrame:
        return comps.select(
            F.lit(name).alias("tier"),
            F.col("comp").cast("string").alias("comp"),
            "doc_id",
            (~F.col("is_survivor")).alias("removable"),
        )

    tiers = (
        exact.union(comp_tier("minhash", dedup_components(spark, sf_dir)))
        .union(comp_tier("winnow", winnow_components(spark, sf_dir)))
        .join(tok_counts, "doc_id")
    )
    agg = tiers.groupBy("tier").agg(
        F.count_distinct("comp").alias("n_groups"),
        F.count("*").alias("n_docs_in_groups"),
        F.sum(F.col("removable").cast("int")).cast("long").alias("n_removable"),
        F.sum(F.when(F.col("removable"), F.col("n_tok")).otherwise(0))
        .cast("long")
        .alias("tokens_removable"),
    )
    # fixed tier grid so a tier with zero groups (the fixture's exact
    # tier — all texts unique) still reports a zero row
    grid = spark.createDataFrame(
        [("exact",), ("minhash",), ("winnow",)], "tier string"
    )
    return (
        grid.join(agg, "tier", "left")
        .crossJoin(F.broadcast(total))
        .select(
            "tier",
            F.coalesce("n_groups", F.lit(0)).cast("long").alias("n_groups"),
            F.coalesce("n_docs_in_groups", F.lit(0))
            .cast("long")
            .alias("n_docs_in_groups"),
            F.coalesce("n_removable", F.lit(0)).cast("long").alias("n_removable"),
            F.coalesce("tokens_removable", F.lit(0))
            .cast("long")
            .alias("tokens_removable"),
            F.when(
                F.col("total_tok") > 0,
                F.expr("(coalesce(tokens_removable, 0) * 1000000) div total_tok"),
            )
            .otherwise(F.lit(0))
            .cast("long")
            .alias("removable_token_ppm"),
        )
    )


#: Pairs pulled per detector tier for the human-QA audit sheet.
AUDIT_SAMPLE_N = 10


def dedup_pair_audit_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic human-QA sample of near-dup pairs, per detector tier
    — the review sheet a curation owner pulls before trusting a detector
    at 100 TB: ``AUDIT_SAMPLE_N`` pairs from each family, chosen by a
    salted pair hash (uniform over the tier's output, reproducible in
    any engine — the repo's no-RNG sampling rule), each annotated with
    how many OTHER tiers also flag it (a pair only one family finds is
    exactly the kind a human should look at).

    Cost: reads the session-memoized per-tier pair table
    (``_tier_pairs_frame`` — the lake artifact every ensemble consumer
    shares), so this adds one agreement groupBy and a per-tier top-N
    window over tier-bounded groups — the window is partitioned by tier
    and capped at ``AUDIT_SAMPLE_N`` (WindowGroupLimit pushes the cap
    map-side), never a global sort.
    """
    from pyspark.sql import Window  # noqa: PLC0415

    u = _tier_pairs_frame(spark, sf_dir)
    n_det = u.groupBy("id_a", "id_b").agg(
        F.count("*").cast("long").alias("n_detectors")
    )
    h = md5_hash64(
        F.concat(
            F.lit("audit:"),
            F.col("id_a").cast("string"),
            F.lit(":"),
            F.col("id_b").cast("string"),
        )
    )
    w = Window.partitionBy("tier").orderBy(
        F.asc("h"), F.asc("id_a"), F.asc("id_b")
    )
    sampled = (
        u.withColumn("h", h)
        .withColumn("sample_rank", F.row_number().over(w).cast("long"))
        .filter(F.col("sample_rank") <= AUDIT_SAMPLE_N)
    )
    return sampled.join(n_det, ["id_a", "id_b"]).select(
        "tier", "sample_rank", "id_a", "id_b", "n_detectors"
    )


#: The soft-dedup weight as a SQL fragment over a (possibly NULL)
#: comp_size column — 1/|cluster| in integer ppm, singletons exactly 1e6.
#: ONE definition shared by ``dedup_soft_weights`` and the weighted
#: budget selection's survivor frame (sampling.py) so the draw can never
#: use a different weight than the published sheet.
SOFT_WEIGHT_PPM_EXPR = "1000000 div coalesce(comp_size, 1)"


def dedup_soft_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SOFT dedup — per-document sampling weights instead of removal:
    every member of a near-dup cluster gets weight 1/|cluster| (integer
    ppm), singletons keep weight 1. The "count each duplicated document
    once in expectation" alternative to hard removal (discussed next to
    hard dedup in Lee et al. 2022): a sampler that draws by these
    weights sees the same content distribution hard dedup produces while
    keeping every copy available (useful when copies differ in
    formatting and a random representative beats a fixed canonical).
    This is the weight column a token-budget selection stage consumes
    next to the mixture rates.

    Cost: one doc_id-only corpus scan left-joined to the near-dup
    component frame (O(near-dup docs), orders smaller than the corpus —
    unhinted, AQE picks the strategy). Weight in integer ppm via ``div``
    ≡ the oracle's ``//`` at any magnitude.
    """
    docs = scale_partitions(
        load_table(spark, sf_dir, "documents"), spark
    ).select("doc_id")
    comps = dedup_components(spark, sf_dir).select(
        "doc_id", "comp", "comp_size"
    )
    return docs.join(comps, "doc_id", "left").select(
        "doc_id",
        F.coalesce(F.col("comp"), F.col("doc_id")).cast("long").alias("comp"),
        F.coalesce(F.col("comp_size"), F.lit(1))
        .cast("long")
        .alias("cluster_size"),
        F.expr(SOFT_WEIGHT_PPM_EXPR).cast("long").alias("weight_ppm"),
    )


def split_repair_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document REPAIR plan for train→eval contamination — the
    action sheet `split_leakage_report`'s census exists to trigger
    (detect → repair, the same loop-closing the model and dedup
    families got): every valid/test document flagged by any of the
    three detection tiers, with its tier flags, its winnow substring
    dose, and the deterministic action a pretraining pipeline takes
    (the GPT-3 appendix-C practice: contaminated eval examples are
    REMOVED from eval — held-out loss on a memorized document measures
    memory, not generalization):

    - ``drop_from_eval``: the doc is an exact fingerprint copy of a
      train doc OR a verified MinHash near-dup of one — the eval row
      is unusable as held-out signal;
    - ``flag_review``: winnow dose ≥ ``SPLIT_LEAK_WINNOW_PPM`` only
      (substantial substring overlap without a verified doc-level
      match — quote-heavy or boilerplate cases a human adjudicates).

    Never reassigns docs INTO train: that would condition the training
    set on the eval sets' contents (the split stays a pure function of
    doc_id). Counts reconcile with the census by construction: the
    report's three tiers are this frame's three flags aggregated.

    Plan: the same three tiers the census pays — the exact tier as ONE
    text scan with a max-over-fp window (per-doc form of the census's
    one-scan rule), the memoized LSH pair frame with two slim split
    joins, the memoized winnow posting frame with one per-doc dose
    aggregate — then one left-join assembly; everything doc_id-keyed,
    no second text scan anywhere. Output is O(contaminated eval docs).
    """
    from pyspark.sql import Window  # noqa: PLC0415

    docs = load_table(spark, sf_dir, "documents")
    assign = docs.select(
        "doc_id",
        _split_of(F.col("doc_id")).alias("split"),
        md5_hash64(normalized_text(F.col("text"))).alias("fp"),
    )
    # exact tier in ONE text scan (the census's one-scan rule, in
    # per-doc form): a max-over-fp window flags train presence on every
    # row of the same subtree — the semi-join formulation would
    # evaluate md5(normalized_text(text)) in TWO full scans (duplicated
    # computed subtrees are not deduped; the pinned r7 plan finding)
    in_train = F.max(
        (F.col("split") == "train").cast("int")
    ).over(Window.partitionBy("fp"))
    evals = (
        assign.withColumn("exact_leak", in_train == 1)
        .filter(F.col("split") != "train")
        .select("doc_id", "split", "exact_leak")
    )
    # (doc_id, split) for the pair/posting tiers: fp prunes out, so
    # this is a doc_id-only scan, not a second text read
    sp = docs.select("doc_id", _split_of(F.col("doc_id")).alias("split"))

    pairs = dedup_minhash_lsh(spark, sf_dir).select("id_a", "id_b")
    lab = pairs.join(
        sp.withColumnsRenamed({"doc_id": "id_a", "split": "split_a"}), "id_a"
    ).join(sp.withColumnsRenamed({"doc_id": "id_b", "split": "split_b"}), "id_b")
    near = (
        lab.filter((F.col("split_a") == "train") & (F.col("split_b") != "train"))
        .select(F.col("id_b").alias("doc_id"))
        .union(
            lab.filter(
                (F.col("split_b") == "train") & (F.col("split_a") != "train")
            ).select(F.col("id_a").alias("doc_id"))
        )
        .distinct()
        .withColumn("neardup_leak", F.lit(True))
    )

    rare = _winnow_rare_frame(spark, sf_dir).join(sp, "doc_id")
    train_fps = (
        rare.filter(F.col("split") == "train")
        .select("fp")
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    dose = (
        rare.filter(F.col("split") != "train")
        .join(train_fps, "fp", "left")
        .groupBy("doc_id")
        .agg(
            F.expr(
                "(sum(coalesce(hit, 0)) * 1000000) div count(*)"
            )
            .cast("long")
            .alias("winnow_ppm")
        )
    )

    j = (
        evals.join(near, "doc_id", "left")
        .join(dose, "doc_id", "left")
        .select(
            "doc_id",
            "split",
            "exact_leak",
            F.coalesce("neardup_leak", F.lit(False)).alias("neardup_leak"),
            F.coalesce("winnow_ppm", F.lit(0)).cast("long").alias("winnow_ppm"),
        )
    )
    return (
        j.filter(
            F.col("exact_leak")
            | F.col("neardup_leak")
            | (F.col("winnow_ppm") >= SPLIT_LEAK_WINNOW_PPM)
        )
        .withColumn(
            "action",
            F.when(
                F.col("exact_leak") | F.col("neardup_leak"),
                F.lit("drop_from_eval"),
            ).otherwise(F.lit("flag_review")),
        )
    )
