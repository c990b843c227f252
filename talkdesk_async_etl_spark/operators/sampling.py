"""Dataset sampling and mixture weighting for training-data curation.

The two operations every large-scale pretraining pipeline runs after
dedup/quality filtering: (a) deterministic subsampling at per-source
rates, (b) epoch-weighted upsampling to hit a target source mixture.
Both are expressed so the SAME row is kept/repeated on every run and on
every engine — no RNG, no ``df.sample`` (whose Bernoulli draws are
partition-order-dependent and unreproducible across engines).

Scale notes: both operators are zero-shuffle row-local transforms — a
pure filter and a pure explode over the scan. At 100 TB that matters:
sampling 10% of a corpus costs one scan with the predicate pushed to
the reader, and upsampling never materializes the repeats until the
downstream consumer (the repeat factor rides along as metadata until
``explode``, which generates rows pipeline-locally inside the same
stage — no exchange).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from talkdesk_async_etl_spark.operators.dedup import _duck_hex15, _hex15_col
from talkdesk_async_etl_spark.plans.cache import cache_scope, scoped_persist
from talkdesk_async_etl_spark.plans.registry import query
from talkdesk_async_etl_spark.session import single_partition_loop
from talkdesk_async_etl_spark.sources.io import read_table as t

# Knuth's multiplicative-hash constant (2^32 / phi). doc_id * K mod 100
# scatters consecutive ids across buckets; int64 cannot overflow until
# doc_id ~ 9.2e18/2.65e9 ≈ 3.5e9 docs — beyond any fixture and checked
# by the ANSI overflow guard Spark 4 runs by default.
_HASH_K = 2654435761
_N_BUCKETS = 100


@query(
    "sample_deterministic",
    oracle=f"""
        SELECT doc_id, source,
               (doc_id * {_HASH_K}) % {_N_BUCKETS} AS bucket,
               ((CAST(substr(source, 4) AS INT) % 4) + 1) * 20 AS rate_pct
        FROM documents
        WHERE (doc_id * {_HASH_K}) % {_N_BUCKETS} <
              ((CAST(substr(source, 4) AS INT) % 4) + 1) * 20
    """,
    tags=("sampling", "curation"),
)
def sample_deterministic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-source stratified sampling: each source gets a
    rate (here 20/40/60/80% derived from the source id; in production a
    broadcast rate table), and a document survives iff its
    multiplicative-hash bucket falls under the rate. Reproducible
    across runs, engines, and repartitionings — the keep-decision is a
    pure function of (doc_id, source).

    Plan: one scan, one row-local predicate, zero shuffle, zero RNG
    state. The hash-bucket trick also gives consistent nested samples:
    the 20% sample is a strict subset of the 40% sample, which lets a
    pipeline carve train/val/test or progressive scaling subsets from
    one pass."""
    return (
        t(spark, sf_dir, "documents", spread=True)
        .withColumn(
            "rate_pct",
            (F.substring("source", 4, 10).cast("int") % 4 + 1) * 20,
        )
        .withColumn("bucket", F.pmod(F.col("doc_id") * _HASH_K, _N_BUCKETS))
        .filter(F.col("bucket") < F.col("rate_pct"))
        .select("doc_id", "source", "bucket", "rate_pct")
    )


@query(
    "text_mixture_upsample",
    oracle="""
        WITH weighted AS (
            SELECT doc_id, source, n_chars,
                   (CAST(substr(source, 4) AS INT) % 3) + 1 AS weight
            FROM documents
        )
        SELECT doc_id, source,
               unnest(generate_series(1, weight)) AS epoch,
               n_chars
        FROM weighted
    """,
    tags=("sampling", "curation"),
)
def text_mixture_upsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Epoch-weighted dataset mixing: repeat each document ``weight``
    times (here 1–3× derived from the source id; in production the
    weight column comes from a broadcast mixture table solving for a
    target token distribution), tagging each copy with its epoch index
    so a downstream shuffle-shard step can interleave epochs.

    Plan: ``explode(sequence(1, weight))`` generates the repeat rows
    inside the scan stage — row-local, no exchange, and the text column
    is carried by reference until the explode, so a 3× upsample does
    not triple the scan. Contrast with the naive ``unionAll`` of w
    self-reads, which is w scans."""
    return (
        t(spark, sf_dir, "documents", spread=True)
        .withColumn("weight", F.substring("source", 4, 10).cast("int") % 3 + 1)
        .select(
            "doc_id",
            "source",
            F.explode(F.sequence(F.lit(1), F.col("weight"))).alias("epoch"),
            "n_chars",
        )
    )


@query(
    "sample_shuffle_shards",
    oracle="""
        SELECT substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) AS shard,
               CAST(count(*) AS BIGINT) AS n_docs,
               min(md5(CAST(doc_id AS VARCHAR))) AS first_pos,
               max(md5(CAST(doc_id AS VARCHAR))) AS last_pos,
               CAST(sum(n_chars) AS BIGINT) AS sum_chars
        FROM documents GROUP BY shard
    """,
    tags=("sampling", "curation"),
)
def sample_shuffle_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global shuffle for training export: every document
    gets a position key ``md5(doc_id)`` — a cryptographic hash, so the
    induced order is indistinguishable from random yet identical on
    every run and every engine (Spark and DuckDB md5 agree byte-for-
    byte, making this hash-checkable end-to-end, unlike rand()) — and a
    shard = the first hex nibble of that key (16 shards). The export
    write is ``repartitionByRange(shard, position).sortWithinPartitions``
    so each shard file is internally shuffled but reproducible; this
    query returns the per-shard manifest (count, position bounds, token
    checksum) that ships with the export.

    Scale shape: one range-partitioned exchange — exactly the shuffle a
    training-data writer must pay to break source/time locality before
    the model sees the stream (upstream tables are clustered by source;
    feeding them in storage order skews every batch). The hash is
    computed in-scan; nothing else is touched until the exchange, and
    the manifest aggregate folds map-side."""
    pos = F.md5(F.encode(F.col("doc_id").cast("string"), "UTF-8"))
    return (
        t(spark, sf_dir, "documents", spread=True)
        .select("doc_id", "n_chars", pos.alias("pos"))
        .groupBy(F.substring("pos", 1, 1).alias("shard"))
        .agg(
            F.count("*").alias("n_docs"),
            F.min("pos").alias("first_pos"),
            F.max("pos").alias("last_pos"),
            F.sum("n_chars").alias("sum_chars"),
        )
    )


_STRAT_K = 50  # exact per-stratum sample size

_STRAT_ORACLE = f"""
    WITH ranked AS (
        SELECT lang, doc_id, n_chars,
               row_number() OVER (PARTITION BY lang
                                  ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id)
                   AS rn
        FROM documents
    )
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_sampled,
           CAST(bit_xor(doc_id) AS BIGINT) AS sample_xor,
           CAST(sum(n_chars) AS BIGINT) AS sample_chars
    FROM ranked
    WHERE rn <= {_STRAT_K}
    GROUP BY lang
"""


@query("sample_stratified_exact", oracle=_STRAT_ORACLE, tags=("sampling", "d7"))
def sample_stratified_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D7 depth: EXACT-COUNT stratified sampling — exactly
    min(K, |stratum|) documents per language, vs the rate-based
    `sample_deterministic` whose per-stratum counts are only
    binomially close to the rate. Exact counts are what eval-set and
    few-shot-pool construction need ("100 per language, every run,
    byte-identical"). Selection is deterministic with no RNG: rank by
    md5 of the doc id (both engines' md5 agree byte-for-byte —
    established by the shuffle-shard exporter) and keep rank ≤ K; the
    doc-id tie-break makes even a collision deterministic. The
    attestation hashes the XOR and char-total of the CHOSEN ids, so
    both engines must select the identical document set, not just the
    same counts. Scale: rank-≤-K over a stratum window plans as
    partial WindowGroupLimit — every map task forwards at most K rows
    per stratum before the one lang-key exchange, so a 100 TB corpus
    ships |langs|×K×|tasks| rows at worst, not the corpus; the final
    per-stratum aggregate reuses the same clustering."""
    docs = t(spark, sf_dir, "documents", spread=True).select("doc_id", "lang", "n_chars")
    w = Window.partitionBy("lang").orderBy(
        F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
    )
    return (
        docs.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _STRAT_K)
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_sampled"),
            F.expr("CAST(bit_xor(doc_id) AS BIGINT)").alias("sample_xor"),
            F.sum("n_chars").alias("sample_chars"),
        )
    )


# Engine-agreeing uniform draw in micro-units: the shared md5-60-bit
# fold (dedup._hex15_col / dedup._duck_hex15 — ONE implementation per
# engine) reduced mod 1e6. Same hash-not-RNG principle as
# sample_deterministic, with enough entropy bits that the acceptance
# test is exact integer arithmetic on both engines (no float
# comparison can sit on a boundary).
_IW_MICRO = 1_000_000
_IW_DUCK_U = f"({_duck_hex15('md5(CAST(doc_id AS VARCHAR))')} % {_IW_MICRO})"

_IW_ORACLE = f"""
    WITH scored AS (
        SELECT doc_id, lang,
               greatest(100000, least({_IW_MICRO},
                   len(string_split(coalesce(text, ''), ' ')) * 10000)) AS p_micro,
               {_IW_DUCK_U} AS u_micro
        FROM documents
    )
    SELECT doc_id, lang, CAST(p_micro AS BIGINT) AS p_micro,
           round({_IW_MICRO} * 1.0 / p_micro, 6) AS weight
    FROM scored WHERE u_micro < p_micro
"""


@query("sample_importance_weighted", oracle=_IW_ORACLE, tags=("sampling",))
def sample_importance_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D7 completion: quality-PROPORTIONAL deterministic sampling with
    Horvitz-Thompson reweighting — keep each document with probability
    p proportional to a quality score, and carry weight 1/p so any
    downstream aggregate over the sample is unbiased for the corpus.
    This is how a curated pretraining mixture keeps more of the good
    data without silently biasing corpus statistics (the flat-rate
    sample_deterministic can't vary p per doc; mixture upsampling
    repeats rows instead of dropping them).

    The score here is a token-length proxy quantized to exact
    micro-units (p_micro = clamp(n_tokens·10⁴, 10⁵, 10⁶)) — swap in
    any engine-agreeing score (ml_logreg_score's micro-quantized
    probability is the drop-in) without touching the plan. Acceptance
    is pure integer arithmetic: u_micro = md5-60-bit(doc_id) mod 10⁶ <
    p_micro, so Spark and DuckDB keep the IDENTICAL row set — no RNG,
    no float boundary, stable under reprocessing and repartitioning.

    Scale shape: zero-shuffle row-local scan (hash, clamp, compare,
    one division for the weight) — the predicate sampling 100 TB pays
    exactly one read."""
    d = t(spark, sf_dir, "documents", spread=True)
    # coalesce pins the NULL-text seam (ADVICE r9): Spark's non-ANSI
    # size(split(NULL)) = -1 clamps to the floor while DuckDB's
    # NULL-skipping least/greatest yields the ceiling — with
    # coalesce(text, '') both engines score an empty doc at the floor.
    p_micro = F.greatest(
        F.lit(100_000),
        F.least(
            F.lit(_IW_MICRO),
            F.size(F.split(F.coalesce(F.col("text"), F.lit("")), " ")) * 10_000,
        ),
    ).cast("long")
    u_micro = _hex15_col(F.col("doc_id").cast("string")) % _IW_MICRO
    return (
        d.select("doc_id", "lang", p_micro.alias("p_micro"), u_micro.alias("u_micro"))
        .filter(F.col("u_micro") < F.col("p_micro"))
        .select(
            "doc_id",
            "lang",
            "p_micro",
            F.round(F.lit(_IW_MICRO) / F.col("p_micro"), 6).alias("weight"),
        )
    )


# Mixture-flattening exponent alpha = 0.7 (XLM's language-sampling
# rule: share proportional to n_tokens^0.7 — alpha < 1 FLATTENS the raw
# token distribution, boosting low-resource languages; "temperature"
# tau = 1/alpha ~ 1.43). The exponent must be the same IEEE DOUBLE on
# both engines — Spark parses bare decimal literals in expr() as
# DECIMAL (a first `1.0/0.7` formulation truncated the exponent to 6
# digits and pow drifted in the 7th digit), so the SQL spells the cast
# out and the Python side passes the float literal.
_TEMP_ALPHA = "CAST(0.7 AS DOUBLE)"
_TEMP_ALPHA_F = 0.7
_TEMP_MICRO = 1_000_000  # pow values are O(10..10^4): micro-scale
# before the floor so the exact-integer quantization keeps ~10 digits


_TEMP_ORACLE = f"""
    WITH per_lang AS MATERIALIZED (
        SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(len(string_split(coalesce(text, ''), ' '))) AS BIGINT)
                 AS n_tokens,
               CAST(floor(pow(sum(len(string_split(coalesce(text, ''), ' '))),
                              {_TEMP_ALPHA}) * {_TEMP_MICRO}) AS BIGINT) AS s
        FROM documents GROUP BY lang
    )
    SELECT lang, n_docs, n_tokens,
           round(n_tokens * 1.0 / sum(n_tokens) OVER (), 6) AS raw_share,
           round(s * 1.0 / sum(s) OVER (), 6) AS weight_t07,
           round((s * 1.0 / sum(s) OVER ())
                 / (n_tokens * 1.0 / sum(n_tokens) OVER ()), 6) AS boost
    FROM per_lang
"""


@query("sample_temperature_mixture", oracle=_TEMP_ORACLE, tags=("sampling",))
def sample_temperature_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D7t: temperature-scaled language mixture weights (XLM's
    language-sampling rule, the UniMax/mT5 family): a language's
    sampling share is proportional to ``n_tokens^alpha`` with
    alpha = 0.7 < 1 — flatter than the raw token distribution, so
    low-resource languages are upsampled (boost > 1) without letting
    any one language's epoch count explode. Emits per language the raw
    corpus share, the temperature-scaled weight, and the boost factor
    (weight / raw share) a mixture scheduler feeds to
    ``text_mixture_upsample``.

    Cross-engine float seam: ``pow`` is the one non-exact step — Java's
    and C's implementations differ by ~1 ulp, and a first formulation
    that divided two raw-pow ratios (the boost) amplified exactly that
    ulp onto a 6-dp rounding boundary at two of three SFs. The fix is
    the repo's micro-quantization rule: micro-scale and FLOOR the pow
    to an exact BIGINT (a boundary hit now needs pow to land within
    ~1e-10 of a micro-unit); every downstream ratio then divides
    identical exact integers — correctly-rounded IEEE on both engines,
    bit-identical before AND after round(6).

    Scale shape: one map-side-combinable groupBy(lang) aggregate over
    the scan; the normalizing totals ride a single-partition window
    over the LANGUAGE-count-sized relation (a handful of rows), so the
    corpus is read once and shuffled once."""
    per_lang = (
        t(spark, sf_dir, "documents", spread=True)
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.size(F.split(F.coalesce(F.col("text"), F.lit("")), " ")))
            .cast("long")
            .alias("n_tokens"),
        )
        .withColumn(
            "s",
            F.floor(
                F.pow(F.col("n_tokens"), F.lit(_TEMP_ALPHA_F)) * _TEMP_MICRO
            ).cast("long"),
        )
    )
    all_w = Window.partitionBy()
    raw_share = F.col("n_tokens") / F.sum("n_tokens").over(all_w)
    weight = F.col("s") / F.sum("s").over(all_w)
    return per_lang.select(
        "lang",
        "n_docs",
        "n_tokens",
        F.round(raw_share, 6).alias("raw_share"),
        F.round(weight, 6).alias("weight_t07"),
        F.round(weight / raw_share, 6).alias("boost"),
    )


_KC_STEPS = 8  # coreset size beyond the seed
_KC_Q = 1000  # component quantization: floor(x * 1000) -> exact BIGINT


def _kcenter_oracle() -> str:
    ctes = [
        f"""qemb AS MATERIALIZED (
        SELECT vec_id, list_transform(CAST(embedding AS DOUBLE[]),
                                      x -> CAST(floor(x * {_KC_Q}) AS BIGINT)) AS qv
        FROM embeddings)""",
        "c0 AS MATERIALIZED (SELECT 0 AS step, CAST(0 AS BIGINT) AS vec_id,"
        " CAST(0 AS BIGINT) AS dist_sq)",
    ]
    for k in range(1, _KC_STEPS + 1):
        prev = " UNION ALL ".join(f"SELECT vec_id FROM c{j}" for j in range(k))
        ctes.append(
            f"""d{k} AS MATERIALIZED (
            SELECT x.vec_id,
                   min((SELECT sum((x.qv[CAST(i AS INT)] - c.qv[CAST(i AS INT)])
                                   * (x.qv[CAST(i AS INT)] - c.qv[CAST(i AS INT)]))
                        FROM range(1, 65) r(i))) AS dist_sq
            FROM qemb x JOIN qemb c ON c.vec_id IN ({prev})
            WHERE x.vec_id NOT IN ({prev})
            GROUP BY x.vec_id)"""
        )
        ctes.append(
            f"""c{k} AS MATERIALIZED (
            SELECT {k} AS step, vec_id, CAST(dist_sq AS BIGINT) AS dist_sq
            FROM d{k} ORDER BY dist_sq DESC, vec_id ASC LIMIT 1)"""
        )
    union = " UNION ALL ".join(f"SELECT * FROM c{k}" for k in range(_KC_STEPS + 1))
    return "WITH " + ",\n".join(ctes) + "\n" + union


@query(
    "sample_kcenter_coreset",
    oracle=_kcenter_oracle(),
    tags=("sampling", "similarity"),
)
def sample_kcenter_coreset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D7k: greedy k-CENTER coreset selection over the embedding
    corpus — the coverage-maximizing data-pruning rule (pick the point
    FARTHEST from everything already chosen, repeat): the selected set
    2-approximates the optimal k-center cover, which is why it anchors
    embedding-based training-set pruning and active-learning seeds.
    Emits (step, vec_id, dist_sq) per selection — dist_sq is the
    chosen point's distance to the previously-selected set, the
    monotonically shrinking "coverage radius" curve a pruning run
    reads to decide when the corpus is covered.

    Exactness: embedding components quantize to integers
    (floor(x·1000)) BEFORE any arithmetic, so every distance is an
    exact BIGINT squared-L2 and the argmax (tie-broken by vec_id) is
    engine-identical by construction — the metric is DEFINED in
    quantized space, trading 1e-3 component resolution for zero float
    seams (the temperature-mixture lesson applied to geometry).

    Scale shape: the quantized corpus persists once; each of the k
    rounds is ONE full scan computing least-of-k literal-vector fold
    distances (the chosen set rides into the executors as a parsed
    literal expression, k·32 ints — no join, no shuffle) and a
    TakeOrdered top-1. k passes over 100 TB is the honest cost of
    greedy k-center; production scales by running it per
    IVF/LSH partition (same code, partition-local chosen sets)."""
    qv_expr = F.expr(
        f"transform(embedding, x -> CAST(floor(x * {_KC_Q}) AS BIGINT))"
    )
    n_vecs = t(spark, sf_dir, "embeddings").count()  # metadata count
    emb = t(spark, sf_dir, "embeddings", spread=True).select(
        "vec_id", qv_expr.alias("qv")
    )
    # Cache partitioning sized for COMPUTE density, not bytes: each
    # round's scan folds k·64 multiply-adds per row, so the byte rule
    # the text caches use (~100k rows/partition) single-threads a
    # 20k-vector corpus for 8 straight rounds (measured 3.98x for 10x
    # data at sf1). ~10k vectors/partition keeps per-task work at a
    # few ms while the defaultParallelism cap stops the rule from
    # scheduling 100k tasks per round at 10^9 vectors (the scan is
    # shuffle-free, so extra partitions buy nothing past the core
    # count).
    n_parts = min(
        max(1, n_vecs // 10_000),
        emb.sparkSession.sparkContext.defaultParallelism,
    )
    # The window takes the vector count itself, not the cache
    # partitioning above: that is a compute-density choice, and its
    # defaultParallelism cap would pin AQE off for an arbitrarily large
    # corpus whenever defaultParallelism == 1 (ADVICE r15).
    with single_partition_loop(emb.sparkSession, n_vecs), cache_scope():
        q = scoped_persist(emb.repartition(n_parts))
        seed_rows = q.filter(F.col("vec_id") == 0).collect()
        if not seed_rows:
            raise ValueError("kcenter: seed vec_id 0 missing from embeddings")
        chosen: list[tuple[int, int, int]] = [(0, 0, 0)]
        chosen_vecs: list[list[int]] = [list(seed_rows[0]["qv"])]
        for step in range(1, _KC_STEPS + 1):
            dists = [
                f"aggregate(zip_with(qv, array({', '.join(str(v) + 'L' for v in cv)}),"
                f" (u, v) -> (u - v) * (u - v)), 0L, (s, x) -> s + x)"
                for cv in chosen_vecs
            ]
            dist = F.expr(
                dists[0] if len(dists) == 1 else f"least({', '.join(dists)})"
            )
            top = (
                q.filter(~F.col("vec_id").isin([c[1] for c in chosen]))
                .select("vec_id", dist.alias("dist_sq"), "qv")
                .orderBy(F.desc("dist_sq"), F.asc("vec_id"))
                .limit(1)
                .collect()
            )
            if not top:
                # corpus exhausted before k selections (tiny inputs):
                # the oracle's d_k CTE is empty past this point too
                break
            winner = top[0]
            chosen.append((step, int(winner["vec_id"]), int(winner["dist_sq"])))
            chosen_vecs.append(list(winner["qv"]))
    return spark.createDataFrame(
        chosen, "step int, vec_id long, dist_sq long"
    )


_NEYMAN_B = 1000  # total sample budget across strata

_NEYMAN_ORACLE = f"""
    WITH c AS (
        SELECT event_type, event_id,
               CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
        FROM events
    ),
    st AS (
        SELECT event_type,
               CAST(count(*) AS BIGINT) AS n_rows,
               CAST(sum(cents) AS BIGINT) AS s1,
               CAST(sum(cents * cents) AS BIGINT) AS s2
        FROM c GROUP BY event_type
    ),
    wgt AS (
        SELECT event_type, n_rows,
               CAST(floor(sqrt(CAST(n_rows * s2 - s1 * s1 AS DOUBLE)))
                    AS BIGINT) AS neyman_w
        FROM st
    ),
    alloc AS (
        SELECT event_type, n_rows, neyman_w,
               ({_NEYMAN_B} * neyman_w) // (SELECT sum(neyman_w) FROM wgt)
                   AS alloc
        FROM wgt
    ),
    ranked AS (
        SELECT event_type, event_id,
               row_number() OVER (PARTITION BY event_type
                                  ORDER BY md5(CAST(event_id AS VARCHAR)),
                                           event_id) AS rn
        FROM c
    ),
    taken AS (
        SELECT r.event_type,
               CAST(count(*) AS BIGINT) AS n_taken,
               CAST(bit_xor(r.event_id) AS BIGINT) AS sample_xor
        FROM ranked r JOIN alloc a ON r.event_type = a.event_type
        WHERE r.rn <= a.alloc
        GROUP BY r.event_type
    )
    SELECT a.event_type, a.n_rows, a.neyman_w,
           CAST(a.alloc AS BIGINT) AS alloc,
           coalesce(t.n_taken, 0) AS n_taken,
           coalesce(t.sample_xor, 0) AS sample_xor
    FROM alloc a LEFT JOIN taken t ON a.event_type = t.event_type
"""


@query("sample_stratified_neyman", oracle=_NEYMAN_ORACLE, tags=("sampling", "d7"))
def sample_stratified_neyman(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D7 depth: NEYMAN-allocation stratified sampling — the budget
    split that minimizes estimator variance: stratum h gets
    B·(N_h·S_h)/Σ(N_g·S_g) of the total budget, so volatile strata are
    oversampled and near-constant ones barely sampled (vs the exact-K
    and rate-based samplers, which ignore variance entirely). The
    cross-engine trick: N_h·S_h (population sd) collapses to
    √(N_h·Σx² − (Σx)²) over exact BIGINT cent sums — one
    correctly-rounded sqrt per stratum (IEEE 754 guarantees sqrt and
    int→double conversion round identically on both engines), floored
    to BIGINT before the pure-integer budget division, so the
    allocation is engine-identical by construction. Selection within a
    stratum is the established md5-rank determinism; the attestation
    XORs the CHOSEN ids, so both engines must pick the identical
    sample, not just the same sizes. At larger-than-2^63 cent-square
    sums the s2 accumulator moves to DECIMAL(38,0) — the seam is the
    accumulator type, not the algorithm.

    Scale shape: moment sums are one map-side-combinable exchange; the
    per-stratum rank caps at the CONSTANT budget B first (plans as
    WindowGroupLimit — map tasks forward ≤B rows per stratum, never
    the corpus), then the per-stratum alloc (≤B by construction)
    filters after a broadcast join of the |strata|-row alloc table."""
    e = t(spark, sf_dir, "events", spread=True).select(
        "event_type",
        "event_id",
        F.floor(F.col("value") * 100 + 0.5).cast("long").alias("cents"),
    )
    st = e.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("cents").alias("s1"),
        F.sum(F.col("cents") * F.col("cents")).alias("s2"),
    )
    wgt = st.select(
        "event_type",
        "n_rows",
        F.floor(
            F.sqrt((F.col("n_rows") * F.col("s2") - F.col("s1") * F.col("s1")).cast("double"))
        )
        .cast("long")
        .alias("neyman_w"),
    )
    total = wgt.agg(F.sum("neyman_w").alias("tw"))
    alloc = wgt.crossJoin(F.broadcast(total)).select(
        "event_type",
        "n_rows",
        "neyman_w",
        F.expr(f"({_NEYMAN_B} * neyman_w) div tw").alias("alloc"),
    )
    w = Window.partitionBy("event_type").orderBy(
        F.md5(F.col("event_id").cast("string")), F.col("event_id")
    )
    taken = (
        e.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _NEYMAN_B)  # constant cap -> WindowGroupLimit
        .join(F.broadcast(alloc.select("event_type", "alloc")), "event_type")
        .filter(F.col("rn") <= F.col("alloc"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_taken"),
            F.expr("CAST(bit_xor(event_id) AS BIGINT)").alias("sample_xor"),
        )
    )
    return (
        alloc.join(taken, "event_type", "left")
        .select(
            "event_type",
            "n_rows",
            "neyman_w",
            F.col("alloc").cast("long").alias("alloc"),
            F.coalesce("n_taken", F.lit(0)).cast("long").alias("n_taken"),
            F.coalesce("sample_xor", F.lit(0)).cast("long").alias("sample_xor"),
        )
    )


_BALANCED_ORACLE = """
    WITH c AS (
        SELECT label, CAST(count(*) AS BIGINT) AS n
        FROM embeddings GROUP BY label
    ),
    k AS (SELECT min(n) AS k FROM c),
    r AS (
        SELECT label, vec_id,
               row_number() OVER (PARTITION BY label
                                  ORDER BY md5(CAST(vec_id AS VARCHAR)),
                                           vec_id) AS rn
        FROM embeddings
    )
    SELECT r.label, c.n AS n_rows,
           CAST(count(*) AS BIGINT) AS n_sampled,
           CAST(bit_xor(r.vec_id) AS BIGINT) AS sample_xor
    FROM r JOIN c USING (label) CROSS JOIN k
    WHERE r.rn <= k.k
    GROUP BY r.label, c.n
"""


@query("sample_balanced_classes", oracle=_BALANCED_ORACLE, tags=("sampling", "d7"))
def sample_balanced_classes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D7 depth: CLASS-BALANCED downsampling — every label class cut
    to the MINORITY class's count, the standard prep for classifier
    training on skewed labels (the kNN/logreg ops upstream consume
    exactly this shape). The per-class quota is DATA-dependent —
    min over class counts — unlike the fixed-K stratified sampler;
    selection within a class is the established md5-rank determinism,
    and the per-class XOR attests the exact chosen set on both
    engines.

    Scale shape: the minority count is a bounded driver fetch (one
    BIGINT — same boundedness class as the iterative trainers' argmax
    collects) deliberately re-entered as a LITERAL so the rank filter
    plans as WindowGroupLimit: map tasks forward at most k rows per
    class instead of the whole corpus. One label-keyed exchange serves
    the rank window and the final aggregate; the class-count relation
    broadcasts."""
    emb = t(spark, sf_dir, "embeddings", spread=True).select("vec_id", "label")
    counts = emb.groupBy("label").agg(F.count(F.lit(1)).alias("n_rows"))
    k_row = counts.agg(F.min("n_rows").alias("k")).collect()  # 1 bounded value
    k = int(k_row[0]["k"]) if k_row and k_row[0]["k"] is not None else 0
    w = Window.partitionBy("label").orderBy(
        F.md5(F.col("vec_id").cast("string")), F.col("vec_id")
    )
    return (
        emb.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= F.lit(k))
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_sampled"),
            F.expr("CAST(bit_xor(vec_id) AS BIGINT)").alias("sample_xor"),
        )
        .join(F.broadcast(counts), "label")
        .select("label", "n_rows", "n_sampled", "sample_xor")
    )


_KFOLD_K = 5

_KFOLD_ORACLE = f"""
    WITH per_user AS MATERIALIZED (
        SELECT user_id,
               CAST(count(*) AS BIGINT) AS n_events,
               CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_purchases,
               CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))
                    AS BIGINT) AS uh
        FROM events GROUP BY user_id
    )
    SELECT CAST(uh % {_KFOLD_K} AS INTEGER) AS fold,
           CAST(count(*) AS BIGINT) AS n_users,
           CAST(sum(n_events) AS BIGINT) AS n_events,
           CAST(sum(n_purchases) AS BIGINT) AS n_purchases,
           CAST(bit_xor(uh) AS BIGINT) AS users_xor
    FROM per_user GROUP BY 1
"""


@query("sample_group_kfold", oracle=_KFOLD_ORACLE, tags=("sampling", "ml"))
def sample_group_kfold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D7 depth: GROUP-integral k-fold assignment — the cross-
    validation split that never leaks a user across folds (row-level
    random splits put one user's events in both train and test, which
    inflates every per-user feature): fold = md5-60-bit(user_id) mod
    {_KFOLD_K}, a pure function of the GROUP key, so group integrity
    holds by construction, reruns and engines agree exactly, and
    adding events never moves a user. Emits per fold the user count,
    event mass, and label (purchase) mass — the balance diagnostics a
    modeler checks before trusting the split — plus the XOR of member
    user-hashes, so fold MEMBERSHIP is attested, not just sizes.

    Scale shape: one map-side-combinable groupBy(user) over the scan
    collapses events to user grain; the fold rollup then aggregates
    |users| rows into {_KFOLD_K}. No RNG, no shuffle beyond the two
    keyed aggregates; the same expression assigns folds in any later
    pipeline without a join back to a split table."""
    from talkdesk_async_etl_spark.operators.dedup import _hex15_col

    e = t(spark, sf_dir, "events", spread=True)
    per_user = e.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum((F.col("event_type") == "purchase").cast("long")).alias("n_purchases"),
    ).withColumn("uh", _hex15_col(F.col("user_id").cast("string")))
    return per_user.groupBy(
        (F.col("uh") % _KFOLD_K).cast("int").alias("fold")
    ).agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum("n_events").cast("long").alias("n_events"),
        F.sum("n_purchases").cast("long").alias("n_purchases"),
        F.bit_xor("uh").alias("users_xor"),
    )


# --- Deterministic bootstrap (round 13) ---------------------------------
# Poisson(1) bootstrap weights derived from md5 — the streaming/
# distributed bootstrap (each row draws its replicate multiplicity
# independently, no global resample pass), made fully deterministic by
# replacing the RNG with the family's md5-60-bit fold on (doc_id |
# replicate). The five cumulative-pmf thresholds are floor(1e6 ·
# P(X<=k)) for Poisson(1), frozen as literals shared by both engines
# (unit-pinned against math.exp so a typo cannot skew every weight);
# mass past k=4 (~0.37%) draws weight 5 — the truncation is part of
# the deterministic contract, identical on both engines.
_BOOT_B = 16
_BOOT_MICRO = 1_000_000
_BOOT_THRESH = (367879, 735758, 919698, 981011, 996340)


def _boot_weight_sql(u: str) -> str:
    """Weight from a uniform micro-draw ``u`` — shared SQL template
    (pure CASE over the frozen thresholds, dialect-free)."""
    branches = " ".join(
        f"WHEN {u} < {t} THEN {k}" for k, t in enumerate(_BOOT_THRESH)
    )
    return f"CASE {branches} ELSE 5 END"


_BOOT_ORACLE = f"""
    WITH draws AS (
        SELECT r.r AS replicate, d.n_chars,
               {_boot_weight_sql(
                   "(" + _duck_hex15(
                       "md5(CAST(doc_id AS VARCHAR) || '|' || CAST(r.r AS VARCHAR))"
                   ) + f" % {_BOOT_MICRO})"
               )} AS w
        FROM documents d, range(0, {_BOOT_B}) r(r)
    )
    SELECT CAST(replicate AS INTEGER) AS replicate,
           CAST(sum(w) AS BIGINT) AS n_draws,
           CAST(sum(CAST(w AS HUGEINT) * n_chars) AS BIGINT) AS chars_total,
           CAST(sum(CAST(w AS HUGEINT) * n_chars) * 1000000
                // CAST(sum(w) AS HUGEINT) AS BIGINT) AS mean_chars_micro
    FROM draws GROUP BY replicate
"""


@query("sample_bootstrap_replicates", oracle=_BOOT_ORACLE, tags=("sample", "stats"))
def sample_bootstrap_replicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D7 depth: deterministic POISSON BOOTSTRAP over the corpus — 16
    resampling replicates of the mean-document-length statistic, the
    uncertainty bar a curation dashboard should put next to every
    corpus-level number (the spread of the 16 means IS the bootstrap
    standard error). The classic streaming bootstrap (Poisson(1)
    multiplicities per row, no global resample) with the RNG replaced
    by the family's md5-60-bit fold on (doc_id | replicate), so both
    engines draw the IDENTICAL resamples and the per-replicate sums
    hash-match exactly; the replicate mean is micro-quantized floor
    division over DECIMAL(38,0)/HUGEINT sums.

    Plan: ONE corpus scan with an in-scan 16-way explode (the weight
    is a pure projection — no join, no shuffle of documents); the only
    exchange carries 16 map-side-combined partial rows per task. At
    100 TB: identical — B·corpus weight draws all inside the scan
    task, the reduction is 16 groups wide. Memory-free versus the
    naive "materialize B resampled corpora" formulation."""
    d = t(spark, sf_dir, "documents", spread=True).select("doc_id", "n_chars")
    drawn = d.select(
        "doc_id",
        "n_chars",
        F.explode(F.array(*[F.lit(r) for r in range(_BOOT_B)])).alias("replicate"),
    ).withColumn(
        "w",
        F.expr(
            _boot_weight_sql(
                # Explicit BIGINT cast on conv()'s STRING result: the
                # 60-bit value must enter pmod as exact integer math,
                # not via version/ANSI-dependent string->numeric
                # coercion (which could route through DOUBLE and lose
                # precision above 2^53). Matches _hex15_col's
                # .cast('long').
                "pmod(CAST(conv(substring(md5(concat(CAST(doc_id AS STRING),"
                " '|', CAST(replicate AS STRING))), 1, 15), 16, 10) AS"
                f" BIGINT), {_BOOT_MICRO})"
            )
        ),
    )
    return (
        drawn.groupBy(F.col("replicate").cast("int").alias("replicate"))
        .agg(
            F.sum("w").cast("long").alias("n_draws"),
            F.sum(F.col("w").cast("decimal(19,0)") * F.col("n_chars"))
            .cast("long")
            .alias("chars_total"),
            F.expr(
                "CAST((sum(CAST(w AS DECIMAL(19,0)) * n_chars) * 1000000"
                " - (sum(CAST(w AS DECIMAL(19,0)) * n_chars) * 1000000)"
                "   % sum(CAST(w AS DECIMAL(19,0))))"
                " / sum(CAST(w AS DECIMAL(19,0))) AS BIGINT)"
            ).alias("mean_chars_micro"),
        )
    )


# Experiment-allocation contract: salt isolates experiments (the same
# user lands independently across experiments), buckets are permille,
# ramp thresholds are cumulative permille cuts.
_AB_SALT = "exp1"
_AB_CONTROL_P, _AB_TREAT_P = 500, 900  # 50% control, 40% treatment, 10% holdout


@query(
    "sample_ab_allocation",
    oracle=f"""
        WITH u AS (SELECT DISTINCT user_id FROM events),
        b AS (
            SELECT user_id,
                   CAST(('0x' || substr(md5('{_AB_SALT}|'
                        || CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT)
                       % 1000 AS bucket
            FROM u
        )
        SELECT CASE WHEN bucket < {_AB_CONTROL_P} THEN 'control'
                    WHEN bucket < {_AB_TREAT_P} THEN 'treatment'
                    ELSE 'holdout' END AS arm,
               CAST(count(*) AS BIGINT) AS n_users,
               CAST(bit_xor(user_id) AS BIGINT) AS users_xor,
               CAST(min(bucket) AS BIGINT) AS min_bucket,
               CAST(max(bucket) AS BIGINT) AS max_bucket
        FROM b GROUP BY arm
    """,
    tags=("sampling", "experiment"),
)
def sample_ab_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D7 depth: DETERMINISTIC experiment-arm allocation — the
    hash-bucket A/B assignment every ramped experiment runs on:
    bucket = md5(salt|user) mod 1000 (permille), arms cut at
    cumulative ramp thresholds (50/40/10 here). Hash assignment is
    the load-bearing property: stable under reprocessing and joins
    (rand() is neither), per-experiment SALT decorrelates arms across
    experiments (the same user must land independently in experiment
    2 — unsalted buckets would reuse experiment 1's split, the
    classic carryover bug), and ramping UP from 10%→40% keeps every
    earlier treatment user in treatment (thresholds are cumulative
    cuts of the same bucket). The xor-of-user-ids checksum makes the
    EXACT membership hash-attested, not just the counts.

    Plan: distinct user collapse (the one corpus-sized exchange),
    in-scan md5 bucketing, 3-group map-side-combinable aggregate.
    Composes with agg_ab_significance, which consumes exactly this
    assignment's arm sizes."""
    u = (
        t(spark, sf_dir, "events", spread=True)
        .select("user_id")
        .distinct()
    )
    bucket = F.pmod(
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit(_AB_SALT + "|"), F.col("user_id").cast("string"))),
                1,
                15,
            ),
            16,
            10,
        ).cast("long"),
        F.lit(1000),
    )
    arm = (
        F.when(F.col("bucket") < _AB_CONTROL_P, "control")
        .when(F.col("bucket") < _AB_TREAT_P, "treatment")
        .otherwise("holdout")
    )
    return (
        u.withColumn("bucket", bucket)
        .groupBy(arm.alias("arm"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_users"),
            F.expr("CAST(bit_xor(user_id) AS BIGINT)").alias("users_xor"),
            F.min("bucket").cast("long").alias("min_bucket"),
            F.max("bucket").cast("long").alias("max_bucket"),
        )
    )


# k-fold cross-validation assignment contract: salted md5 permille-free
# direct mod-k bucketing (the ab_allocation device with a 'fold' salt
# so CV folds decorrelate from any experiment's arms).
_KFOLD_SALT = "fold"
_KFOLD_K = 5

_KFOLD_ORACLE = f"""
    WITH assigned AS (
        SELECT CAST(('0x' || substr(md5('{_KFOLD_SALT}|'
                    || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
                   % {_KFOLD_K} AS fold,
               lang, doc_id
        FROM documents
    ),
    per AS (
        SELECT fold, lang,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(bit_xor(doc_id) AS BIGINT) AS docs_xor
        FROM assigned GROUP BY 1, 2
    ),
    lt AS (
        SELECT lang, CAST(sum(n_docs) AS BIGINT) AS lang_total
        FROM per GROUP BY 1
    )
    SELECT p.fold, p.lang, p.n_docs, p.docs_xor, l.lang_total,
           CAST(p.n_docs * 1000000 // l.lang_total AS BIGINT) AS fold_share_micro
    FROM per p JOIN lt l ON p.lang = l.lang
"""


@query("sample_kfold_assign", oracle=_KFOLD_ORACLE, tags=("sampling", "ml"))
def sample_kfold_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D7/D10 depth: DETERMINISTIC k-fold cross-validation assignment
    with a stratification audit — the split every honest offline eval
    of the D10 shelf (logreg/stump scoring, PR/ROC/calibration) needs
    before its metrics mean anything. fold = md5('fold'|doc) mod k:
    stable under reprocessing (rand() is neither), salted so folds
    decorrelate from the A/B allocation and the train/val/test split
    (same device, different salt ⇒ independent assignment — the
    sample_ab_allocation carryover argument), and the per-(fold, lang)
    xor-of-doc-ids checksum attests the EXACT membership, not just
    counts. The published fold_share_micro per language IS the
    stratification audit: a fold whose share of a class strays from
    1/k flags skew before it biases a CV estimate.

    Plan: one in-scan md5 bucketing + one (fold × lang)-key map-side
    combinable aggregate (the single corpus exchange); the language
    totals re-aggregate the |k|·|langs| relation and equi-join back —
    domain-bounded at any corpus size."""
    d = t(spark, sf_dir, "documents", spread=True)
    fold = F.pmod(
        F.conv(
            F.substring(
                F.md5(
                    F.concat(F.lit(_KFOLD_SALT + "|"), F.col("doc_id").cast("string"))
                ),
                1,
                15,
            ),
            16,
            10,
        ).cast("long"),
        F.lit(_KFOLD_K),
    )
    per = scoped_persist(
        d.select(fold.alias("fold"), "lang", "doc_id")
        .groupBy("fold", "lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.expr("CAST(bit_xor(doc_id) AS BIGINT)").alias("docs_xor"),
        )
    )
    lt = per.groupBy("lang").agg(F.sum("n_docs").cast("long").alias("lang_total"))
    return per.join(lt, "lang").select(
        "fold",
        "lang",
        "n_docs",
        "docs_xor",
        "lang_total",
        F.expr(
            "CAST((n_docs * 1000000 - (n_docs * 1000000) % lang_total)"
            " / lang_total AS BIGINT)"
        ).alias("fold_share_micro"),
    )


# Contrastive negative-sampling contract: salted md5 fold on
# (anchor | slot) mod corpus size — same family as the k-fold /
# bootstrap devices, independent salt.
_NEG_SALT = "neg"
_NEG_K = 4

_NEG_ORACLE = f"""
    WITH n_ AS (SELECT CAST(count(*) AS BIGINT) AS n FROM embeddings),
    anchors AS (
        SELECT e.vec_id, e.label AS anchor_label, s.slot, n_.n
        FROM embeddings e
        CROSS JOIN (SELECT unnest(range(1, {_NEG_K} + 1)) AS slot) s
        CROSS JOIN n_
    ),
    drawn AS (
        SELECT vec_id, anchor_label, CAST(slot AS INTEGER) AS slot,
               CAST(('0x' || substr(md5('{_NEG_SALT}|'
                    || CAST(vec_id AS VARCHAR) || '|'
                    || CAST(slot AS VARCHAR)), 1, 15)) AS BIGINT)
                   % n AS neg_id
        FROM anchors
    )
    SELECT d.vec_id, d.slot, d.neg_id,
           CAST(d.neg_id = d.vec_id AS INTEGER) AS is_self,
           CAST(e.label = d.anchor_label AS INTEGER) AS label_collision
    FROM drawn d JOIN embeddings e ON e.vec_id = d.neg_id
"""


@query("sample_negative_pairs", oracle=_NEG_ORACLE, tags=("sampling", "ml"))
def sample_negative_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D7/D10 depth: DETERMINISTIC NEGATIVE SAMPLING for contrastive
    training — k pseudo-random negatives per anchor embedding, drawn
    by the family's salted md5 fold (neg = md5('neg'|anchor|slot) mod
    N) so the pairing is stable under reprocessing, reproducible
    across engines, and decorrelated from every other md5-device
    assignment by its salt. The published flags are the quality
    audit in-batch samplers need: is_self marks the hash landing on
    the anchor itself, label_collision marks FALSE negatives (the
    drawn negative shares the anchor's class — the known bias of
    uniform negative sampling that debiased-contrastive corrections
    estimate from exactly this rate).

    Exact: the 60-bit hex fold, the mod-N draw, and both flags are
    pure integer functions of ids; the inner join on neg_id keeps
    the output deterministic even against sparse id spaces.

    Plan: one in-scan slot explode (k rows per anchor), the
    allowlisted 1-row corpus-count broadcast, and ONE shuffle — the
    neg_id equi-join that gathers each negative's label; at 100 TB
    that join is the unavoidable gather and everything else is
    row-local."""
    e = t(spark, sf_dir, "embeddings", spread=True)
    n1 = e.agg(F.count(F.lit(1)).cast("long").alias("n"))
    anchors = (
        e.select("vec_id", F.col("label").alias("anchor_label"))
        .crossJoin(F.broadcast(n1))
        .select(
            "vec_id",
            "anchor_label",
            "n",
            F.explode(F.array(*[F.lit(j) for j in range(1, _NEG_K + 1)])).alias(
                "slot"
            ),
        )
    )
    drawn = anchors.select(
        "vec_id",
        "anchor_label",
        F.col("slot").cast("int").alias("slot"),
        F.pmod(
            F.conv(
                F.substring(
                    F.md5(
                        F.concat(
                            F.lit(_NEG_SALT + "|"),
                            F.col("vec_id").cast("string"),
                            F.lit("|"),
                            F.col("slot").cast("string"),
                        )
                    ),
                    1,
                    15,
                ),
                16,
                10,
            ).cast("long"),
            F.col("n"),
        ).alias("neg_id"),
    )
    lab = e.select(F.col("vec_id").alias("neg_id"), F.col("label").alias("neg_label"))
    return drawn.join(lab, "neg_id").select(
        "vec_id",
        "slot",
        "neg_id",
        (F.col("neg_id") == F.col("vec_id")).cast("int").alias("is_self"),
        (F.col("neg_label") == F.col("anchor_label"))
        .cast("int")
        .alias("label_collision"),
    )
