"""Duplicate-cluster resolution and incremental dedup (SURVEY.md
§2.10 D2 second half): connected components (min-label propagation AND
the skew-safe large-star/small-star contraction), canonical-doc
resolution, semantic components over the embedding pair graph,
incremental new-batch-vs-corpus dedup (exact and LSH), blocked edit
distance, and the MinHash estimator-accuracy attestation.

Split out of dedup.py in round 9 (VERDICT r8 task 6) — same query
ids, same plans; the signature/pair-generation primitives stay in
dedup.py and are imported here.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from talkdesk_async_etl_spark.operators.dedup import (
    _COSINE_THRESHOLD,
    _HOT_KEY_CAP,
    _JACCARD_CTES,
    _MINHASH_PERMS,
    _band_keys_expr,
    _minhash_sig_expr,
    _shingle_hashes,
    dedup_embedding_cosine,
    dedup_near_jaccard,
)
from talkdesk_async_etl_spark.plans.cache import (
    cache_scope,
    scoped_persist,
)
from talkdesk_async_etl_spark.plans.registry import query
from talkdesk_async_etl_spark.session import partitions_for, single_partition_loop
from talkdesk_async_etl_spark.sources.io import read_table as t

_COMPONENTS_ORACLE = f"""
    WITH RECURSIVE {_JACCARD_CTES},
    edges AS (
        SELECT doc_a AS a, doc_b AS b FROM jpairs
        UNION ALL
        SELECT doc_b, doc_a FROM jpairs
    ),
    reach(src, dst) AS (
        SELECT a, b FROM edges
        UNION
        SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a
    )
    SELECT src AS doc_id,
           CAST(least(src, min(dst)) AS BIGINT) AS component_id
    FROM reach GROUP BY src
"""


def propagate_min_labels(pairs: DataFrame) -> DataFrame:
    """Min-label propagation to fixpoint over an undirected pair graph
    (columns ``doc_a``, ``doc_b``): each round every node takes the min
    of its own and its neighbors' labels — converges in ≤ graph
    diameter rounds (dup clusters are tiny, so 2-4). Returns
    ``(doc_id, component_id)`` for every node that appears in a pair.

    Scale shape: one shuffle (join + groupBy on the edge key) per
    round on the PAIRS table only — never the corpus; lineage is cut
    per round with localCheckpoint so plans don't nest. Callers must
    hold an active cache_scope (the pairs persist registered here is
    released by the caller's scope exit)."""
    pairs = scoped_persist(pairs.select("doc_a", "doc_b"))
    # The iteration works on the PAIRS graph, which is orders of
    # magnitude smaller than the corpus — partition for its size,
    # not the session default (32 shuffle partitions over a few
    # hundred label rows makes every round
    # scheduling-overhead-dominated).
    n_pairs = pairs.count()
    n_parts = partitions_for(n_pairs)
    with single_partition_loop(pairs.sparkSession, n_pairs):
        edges = scoped_persist(
            pairs.union(pairs.select(F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b")))
            .repartition(n_parts, "doc_b")
        )
        labels = (
            edges.select(F.col("doc_a").alias("doc_id")).distinct().withColumn("label", F.col("doc_id"))
        ).localCheckpoint()
        while True:
            neighbor_min = (
                edges.join(labels, edges.doc_b == labels.doc_id)
                .groupBy("doc_a")
                .agg(F.min("label").alias("nmin"))
            )
            # ONE job per round: the convergence flag rides the label
            # row, the checkpoint is lazy, and the count() both
            # materializes the checkpointed round and returns how many
            # labels moved — no second labels-vs-labels join/action.
            flagged = (
                labels.join(neighbor_min, labels.doc_id == neighbor_min.doc_a, "left")
                .select(
                    "doc_id",
                    F.least(F.col("label"), F.coalesce(F.col("nmin"), F.col("label"))).alias("label"),
                    F.coalesce(F.col("nmin") < F.col("label"), F.lit(False)).alias("chg"),
                )
                .localCheckpoint(eager=False)
            )
            changed = flagged.filter("chg").count()
            labels = flagged.drop("chg")
            if changed == 0:
                break
    return labels.select("doc_id", F.col("label").alias("component_id"))


@query("dedup_components", oracle=_COMPONENTS_ORACLE, tags=("dedup", "graph"))
def dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D2 completion: duplicate-CLUSTER resolution. Near-dup pairs form
    a graph; the canonical document per cluster is the component
    minimum, not the pair minimum (a~b, b~c must keep ONE of {a,b,c}).
    See propagate_min_labels for the iteration; the oracle is DuckDB's
    recursive-CTE transitive closure over the same pairs."""
    with cache_scope():
        # Labels are checkpointed (materialized) inside the helper —
        # every scoped cache this pipeline creates (edges, pairs, and
        # near_jaccard's shingle set) is dead weight on return; the
        # scope exit frees them (and ONLY them — an outer pipeline's
        # caches survive) so a long-lived session doesn't carry every
        # past run's blocks.
        return propagate_min_labels(dedup_near_jaccard(spark, sf_dir))


_RESOLVE_ORACLE = f"""
    WITH RECURSIVE {_JACCARD_CTES},
    edges AS (
        SELECT doc_a AS a, doc_b AS b FROM jpairs
        UNION ALL
        SELECT doc_b, doc_a FROM jpairs
    ),
    reach(src, dst) AS (
        SELECT a, b FROM edges
        UNION
        SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a
    ),
    labels AS (
        SELECT src AS doc_id, least(src, min(dst)) AS component_id
        FROM reach GROUP BY src
    )
    SELECT doc_id FROM documents d
    WHERE NOT EXISTS (SELECT 1 FROM labels l
                      WHERE l.component_id < l.doc_id AND l.doc_id = d.doc_id)
"""


@query("dedup_resolve_canonical", oracle=_RESOLVE_ORACLE, tags=("dedup",))
def dedup_resolve_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D2 end state: the SURVIVING corpus after near-dup removal — every
    document not in a duplicate cluster, plus exactly one canonical
    (minimum doc_id) per cluster. This is the row a training pipeline
    actually keeps; pairs (dedup_near_jaccard) and cluster labels
    (dedup_components) are its intermediates.

    Scale shape: the anti-join's right side is only the REMOVED set
    (cluster members minus canonicals — tiny relative to the corpus),
    so the corpus streams through one broadcast-able anti-join and
    never shuffles."""
    labels = dedup_components(spark, sf_dir)
    removed = labels.filter(F.col("doc_id") != F.col("component_id")).select("doc_id")
    docs = t(spark, sf_dir, "documents").select("doc_id")
    return docs.join(F.broadcast(removed), "doc_id", "left_anti")


_SEMANTIC_COMPONENTS_ORACLE = f"""
    WITH RECURSIVE cpairs AS (
        SELECT a.vec_id AS doc_a, b.vec_id AS doc_b
        FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                     CAST(b.embedding AS DOUBLE[])) >= {_COSINE_THRESHOLD}
    ),
    edges AS (
        SELECT doc_a AS a, doc_b AS b FROM cpairs
        UNION ALL
        SELECT doc_b, doc_a FROM cpairs
    ),
    reach(src, dst) AS (
        SELECT a, b FROM edges
        UNION
        SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a
    )
    SELECT CAST(src AS BIGINT) AS vec_id,
           CAST(least(src, min(dst)) AS BIGINT) AS component_id
    FROM reach GROUP BY src
"""


@query(
    "dedup_semantic_components",
    oracle=_SEMANTIC_COMPONENTS_ORACLE,
    tags=("dedup", "graph", "similarity"),
)
def dedup_semantic_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D2/D3 composition: SEMANTIC duplicate clusters — connected
    components over the embedding-cosine near-dup graph (pairs from
    dedup_embedding_cosine, iteration from propagate_min_labels). The
    end-to-end shape a training pipeline runs to collapse paraphrase
    clusters that text-level Jaccard never pairs: embed → cosine pairs
    → components → keep the canonical member per cluster.

    Scale: the pair generator is the O(n²) oracle twin here; at corpus
    scale the same components run consumes sim_topk_ivf's LSH-bucketed
    candidate pairs instead — the iteration is pair-count-bound either
    way."""
    with cache_scope():
        pairs = dedup_embedding_cosine(spark, sf_dir).select(
            F.col("vec_a").alias("doc_a"), F.col("vec_b").alias("doc_b")
        )
        labels = propagate_min_labels(pairs)
        return labels.select(F.col("doc_id").alias("vec_id"), "component_id")


_INCR_JACCARD_ORACLE = f"""
    WITH {_JACCARD_CTES}
    SELECT doc_a, doc_b, jaccard FROM jpairs
    WHERE doc_a % 2 = 1 OR doc_b % 2 = 1
"""


@query("dedup_incremental_jaccard", oracle=_INCR_JACCARD_ORACLE, tags=("dedup", "incremental"))
def dedup_incremental_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D2 incremental formulation: dedup an INCOMING batch against the
    existing corpus without recomputing corpus x corpus — the shape a
    daily-ingestion pipeline actually runs. The probe side of the
    shared-shingle join is restricted to new documents, so candidate
    work is new x bucket, not corpus x bucket; existing-vs-existing
    pairs (already resolved by previous runs) are never regenerated.

    The batch split is doc_id parity (odd = new) so the DuckDB oracle
    can re-derive exactly the pairs that involve a new document. At
    production scale the 'old' side reads a persisted shingle/signature
    table instead of recomputing — same join, and the incremental win
    grows as new << corpus (here the 50/50 split halves the probe
    side). The LSH variant is ``incremental_lsh_pairs_for`` below:
    band the new batch, probe the corpus's banded signatures, gate
    pair emission on the bucket holding a new doc — its equality with
    this exact operator is driver-attested by
    ``dedup_incremental_lsh_ok``."""
    docs = t(spark, sf_dir, "documents", spread=True).select(
        "doc_id", _shingle_hashes(F.col("text")).alias("shs")
    )
    sh = scoped_persist(
        docs.select(
            "doc_id",
            (F.col("doc_id") % 2 == 1).alias("is_new"),
            F.size("shs").alias("n"),
            F.explode("shs").alias("h"),
        )
    )
    new_side = sh.filter(F.col("is_new"))
    a, b = sh.alias("a"), new_side.alias("b")
    # Probe direction: the b-side is new-only, so an (old,new) pair can
    # only surface as (a=old, b=new) — no ordering constraint needed;
    # a (new,new) pair surfaces in both orderings, so when the a-side
    # is ALSO new the id inequality keeps exactly one. Each pair is
    # emitted once per shared shingle (arrays are distinct per doc),
    # so the Jaccard count needs no dedup pass — the earlier
    # least/greatest + distinct formulation paid a full extra shuffle
    # over the candidate x shingle relation just to collapse the
    # double-emitted (new,new) orientation.
    emit_once = F.when(
        F.col("a.is_new"), F.col("a.doc_id") < F.col("b.doc_id")
    ).otherwise(F.col("a.doc_id") != F.col("b.doc_id"))
    pairs = (
        a.join(b, (F.col("a.h") == F.col("b.h")) & emit_once)
        .select(
            F.least(F.col("a.doc_id"), F.col("b.doc_id")).alias("doc_a"),
            F.greatest(F.col("a.doc_id"), F.col("b.doc_id")).alias("doc_b"),
            F.when(F.col("a.doc_id") < F.col("b.doc_id"), F.col("a.n")).otherwise(F.col("b.n")).alias("na"),
            F.when(F.col("a.doc_id") < F.col("b.doc_id"), F.col("b.n")).otherwise(F.col("a.n")).alias("nb"),
        )
        .groupBy("doc_a", "doc_b", "na", "nb")
        .agg(F.count("*").alias("c"))
    )
    jac = F.col("c") / (F.col("na") + F.col("nb") - F.col("c"))
    return pairs.filter(jac >= 0.6).select("doc_a", "doc_b", F.round(jac, 6).alias("jaccard"))


def incremental_lsh_pairs_for(docs: DataFrame) -> DataFrame:
    """LSH variant of the incremental new-batch-vs-corpus dedup — the
    shape dedup_incremental_jaccard's docstring promises at corpus
    scale: sign, band, and generate candidates ONLY for pairs that
    involve a new document, then verify candidates with exact Jaccard
    on the shingle-hash sets. Input: ``(doc_id, text, is_new)``.

    Here both sides are signed in one pass for simplicity; in
    production the corpus side reads its checkpointed signature table
    and only the incoming batch computes signatures fresh — the band
    groupBy then touches (corpus bands ∪ new bands) but pair emission
    is gated on the bucket containing a new doc, so candidate work
    tracks the NEW batch's bucket overlaps, not corpus × corpus.
    Same single band shuffle as dedup_minhash_lsh (_bucket_pairs
    shape) with the bucket's (doc_id, is_new) structs sorted by
    doc_id; the any-new gate evaluates inside the pair expression, so
    old×old pairs are never materialized."""
    signed = scoped_persist(
        docs.withColumn("hs", _shingle_hashes(F.col("text")))
        .withColumn("sig", _minhash_sig_expr())
        .select("doc_id", "is_new", "hs", "sig")
    )
    bands = signed.select(
        F.struct("doc_id", "is_new").alias("dn"),
        F.explode(_band_keys_expr()).alias("band_key"),
    )
    # Struct array sorts by its first field (doc_id, unique) — same
    # ordered-pair guarantee as _bucket_lists.
    grouped = (
        bands.filter(F.col("band_key").isNotNull())
        .groupBy("band_key")
        .agg(F.array_sort(F.collect_list("dn")).alias("ds"))
        .filter((F.size("ds") >= 2) & (F.size("ds") <= _HOT_KEY_CAP))
    )
    pair_arr = F.flatten(
        F.transform(
            "ds",
            lambda x, i: F.transform(
                F.slice("ds", i + 2, F.size("ds")),
                lambda y: F.struct(
                    x["doc_id"].alias("doc_a"),
                    y["doc_id"].alias("doc_b"),
                    (x["is_new"] | y["is_new"]).alias("any_new"),
                ),
            ),
        )
    )
    candidates = (
        grouped.select(F.explode(pair_arr).alias("p"))
        .filter(F.col("p.any_new"))
        .select("p.doc_a", "p.doc_b")
        .distinct()
    )
    sa = signed.select(F.col("doc_id").alias("doc_a"), F.col("hs").alias("hs_a"))
    sb = signed.select(F.col("doc_id").alias("doc_b"), F.col("hs").alias("hs_b"))
    jac = F.size(F.array_intersect("hs_a", "hs_b")) / F.size(F.array_union("hs_a", "hs_b"))
    return (
        candidates.join(sa, "doc_a")
        .join(sb, "doc_b")
        .filter(jac >= 0.6)
        .select("doc_a", "doc_b", F.round(jac, 6).alias("jaccard"))
    )


@query(
    "dedup_incremental_lsh_ok",
    # Nonempty one-row invariant: the LSH incremental path must return
    # EXACTLY the exact incremental answer at fixture scale (banding's
    # P(miss) ≈ 10⁻⁷ per pair and is deterministic under the pinned
    # seeds, so equality is stable until a signature/banding/gate bug
    # breaks it — then n_pairs or matches_exact flips and the driver
    # hash mismatches). The oracle pins the exact pair COUNT from the
    # same recursive shingle SQL dedup_incremental_jaccard checks
    # against, so the row can never pass vacuously.
    oracle=f"""
        WITH {_JACCARD_CTES}
        SELECT CAST(count(*) AS BIGINT) AS n_pairs,
               CAST(1 AS BOOLEAN) AS matches_exact
        FROM jpairs WHERE doc_a % 2 = 1 OR doc_b % 2 = 1
    """,
    tags=("dedup", "incremental", "lsh", "invariant"),
)
def dedup_incremental_lsh_ok(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-attestable equivalence invariant for the incremental LSH
    path: ``incremental_lsh_pairs_for`` (band the batch, probe the
    corpus, verify candidates) must produce exactly the pairs the
    exact incremental operator produces. Counts are driver-side over
    two bounded pair sets (both persisted in the scope); the returned
    row is (n_pairs, matches_exact)."""
    with cache_scope():
        docs = t(spark, sf_dir, "documents", spread=True).select(
            "doc_id", "text", (F.col("doc_id") % 2 == 1).alias("is_new")
        )
        lsh = scoped_persist(incremental_lsh_pairs_for(docs).select("doc_a", "doc_b"))
        exact = scoped_persist(
            dedup_incremental_jaccard(spark, sf_dir).select("doc_a", "doc_b")
        )
        n_pairs = lsh.count()
        missing = exact.join(lsh, ["doc_a", "doc_b"], "left_anti").count()
        extra = lsh.join(exact, ["doc_a", "doc_b"], "left_anti").count()
    return spark.createDataFrame(
        [(n_pairs, missing == 0 and extra == 0)],
        "n_pairs long, matches_exact boolean",
    )


# Edit-distance near-dup: short-field entity resolution. The length
# band is a TRUE blocking key for the threshold below: same-band docs
# differ by < _LEV_BAND chars, and cross-band pairs with dist <= 48
# can only hide across one boundary — production runs the standard
# two offset bandings (bkt and bkt+band/2) to close that; the oracle
# mirrors the single banding so semantics stay hash-checkable.
_LEV_MAX_CHARS = 256
_LEV_BAND = 32
_LEV_THRESHOLD = 48

_LEVENSHTEIN_ORACLE = f"""
    WITH d AS (
        SELECT doc_id, text, lang, n_chars // {_LEV_BAND} AS bkt
        FROM documents
        WHERE n_chars <= {_LEV_MAX_CHARS} AND strlen(text) = length(text)
    )
    SELECT a.doc_id AS doc_a, x.doc_id AS doc_b,
           CAST(levenshtein(a.text, x.text) AS BIGINT) AS edit_dist
    FROM d a JOIN d x
      ON a.lang = x.lang AND a.bkt = x.bkt AND a.doc_id < x.doc_id
    WHERE levenshtein(a.text, x.text) <= {_LEV_THRESHOLD}
"""


@query("dedup_levenshtein", oracle=_LEVENSHTEIN_ORACLE, tags=("dedup", "editdist"))
def dedup_levenshtein(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked edit-distance near-dup pairs over short documents —
    the entity-resolution flavor of dedup (titles, names, short
    records) where character edits, not shingle overlap, define
    similarity. Both engines implement classic Wagner-Fischer
    Levenshtein, so the pair set AND the distances hash-match exactly.

    Plan: block on (lang, 32-char length band) — an admissible prune,
    since edit distance >= length difference — then equality-join
    within blocks and score each candidate with Spark's THRESHOLDED
    ``levenshtein(l, r, k)``, which runs the banded O(k·n) DP and
    bails to -1 past k instead of filling the O(n·m) matrix. At
    100 TB on short fields the block sizes are bounded by the key
    cardinality; for skewed blocks apply the same hot-bucket cap as
    the LSH family (_bucket_lists) before pairing. Long-document
    near-dup belongs to the minhash/winnow operators, not here.

    The oracle twin is restricted to single-byte text on BOTH sides
    (octet_length = char_length): Spark's levenshtein counts CODE
    POINTS while DuckDB's counts BYTES, so they diverge on multi-byte
    UTF-8 ('café' vs 'cafe' is 1 in Spark, 2 in DuckDB —
    test_levenshtein_semantics_pin_cross_engine pins both). Spark's
    codepoint semantics are the ones a production caller gets on
    unrestricted text."""
    d = (
        t(spark, sf_dir, "documents", spread=True)
        .where(
            (F.col("n_chars") <= _LEV_MAX_CHARS)
            & (F.octet_length("text") == F.char_length("text"))
        )
        .select(
            "doc_id",
            "text",
            "lang",
            F.expr(f"CAST(n_chars div {_LEV_BAND} AS BIGINT)").alias("bkt"),
        )
    )
    a, x = d.alias("a"), d.alias("x")
    return (
        a.join(
            x,
            on=[
                F.col("a.lang") == F.col("x.lang"),
                F.col("a.bkt") == F.col("x.bkt"),
                F.col("a.doc_id") < F.col("x.doc_id"),
            ],
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("x.doc_id").alias("doc_b"),
            F.expr(f"levenshtein(a.text, x.text, {_LEV_THRESHOLD})")
            .cast("long")
            .alias("edit_dist"),
        )
        .where((F.col("edit_dist") >= 0) & (F.col("edit_dist") <= _LEV_THRESHOLD))
    )


def components_large_small_star(pairs: DataFrame) -> DataFrame:
    """Connected components via alternating LARGE-STAR / SMALL-STAR
    contraction (Kiveris et al., "Connected Components in MapReduce
    and Beyond") — the skew-safe alternative to
    :func:`propagate_min_labels` this module's scaling notes promise.
    Each half-round is ONE map-side-combinable min-aggregate plus ONE
    equi-join fan-out of O(1) per edge: a hub node with 10^8
    neighbors contributes a single (key → min) row to the aggregate
    and each of its edges is rewritten independently — no per-node
    neighbor list is ever collected, which is exactly where
    label-propagation's groupBy state concentrates under power-law
    skew. Converges in O(log n) rounds (vs diameter rounds), so it
    also wins on long path-shaped components. Returns
    ``(doc_id, component_id)`` for every node in ``pairs`` with
    component_id = component minimum — identical output contract to
    propagate_min_labels. Caller must hold an active cache_scope.

    The pairs input persists here (mirroring propagate_min_labels):
    without it the node materialization and the round-0 edge
    checkpoint each rebuild the caller's pair join once PER UNION
    BRANCH — up to four pair builds before the first round starts.
    Measured at sf0.1 (quiet host, min-of-5): 5.04 s → 4.54 s, and
    the run-to-run spread collapses 2.1 s → 0.3 s because the repeated
    join no longer re-races the shuffle."""
    pairs = scoped_persist(pairs.select("doc_a", "doc_b"))
    sym = pairs.select(F.col("doc_a").alias("u"), F.col("doc_b").alias("v")).union(
        pairs.select(F.col("doc_b").alias("u"), F.col("doc_a").alias("v"))
    )
    nodes = scoped_persist(sym.select(F.col("u").alias("doc_id")).distinct())
    n_nodes = nodes.count()
    with single_partition_loop(pairs.sparkSession, n_nodes):
        return _star_rounds(pairs, sym, nodes, partitions_for(n_nodes))


def _star_rounds(pairs: DataFrame, sym: DataFrame, nodes: DataFrame, n_parts: int) -> DataFrame:
    """The alternating contraction rounds of
    :func:`components_large_small_star` (split out so the whole loop
    runs under the caller's execution-conf window)."""
    # Canonical orientation (hi → lo) between rounds. The u-key
    # repartition feeds the round joins at scale; at n_parts == 1 the
    # distinct already leaves ONE partition (the caller's conf window
    # pins shuffle.partitions), so the extra exchange is skipped.
    edges = sym.filter(F.col("u") > F.col("v")).distinct()
    if n_parts > 1:
        edges = edges.repartition(n_parts, "u")
    edges = edges.localCheckpoint()
    # Convergence detection: an order-independent, collision-resistant
    # signature of the edge set — (count, bit_xor(xxhash64(u, v))).
    # The previous (count, sum(u·1000003 + v)) form was commutatively
    # COLLIDING: {(5,1),(3,2)} and {(5,2),(3,1)} share count and sum,
    # so a round that reshuffles parents while preserving the sum could
    # terminate early with wrong labels. xxhash64 over the (u, v) pair
    # makes each edge's contribution non-linear in its endpoints, and
    # bit_xor keeps the fold order-independent; a collision now needs
    # the XOR of two 64-bit avalanche-hash sets to match (~2^-64).
    # Star contraction converges in O(log n) half-round pairs; the
    # explicit cap turns any (theoretically impossible, but previously
    # unguarded) signature oscillation into a loud failure instead of
    # an infinite loop.
    _MAX_ROUNDS = 64
    prev_sig = None
    for _round in range(_MAX_ROUNDS):
        # LARGE-STAR: per node u over SYMMETRIC edges, m = min(N(u) ∪ u);
        # every neighbor v > u re-attaches to m: emit (v, m).
        s = edges.union(
            edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        mins = s.groupBy("u").agg(F.min("v").alias("mv"))
        m = F.least(F.col("u"), F.col("mv"))
        # No distinct here (r16): duplicate (v, m) rows — one per
        # symmetric edge of v — are absorbed by smins' min-aggregate
        # and by small's final distinct, so the OUTPUT SET is
        # identical while each round drops one exchange + hash
        # aggregate; the duplicates that do flow on are collapsed
        # map-side by small's partial distinct before its exchange.
        large = (
            s.join(mins, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), m.alias("v"))
        )
        # SMALL-STAR: per hi endpoint u over canonical edges,
        # m = min of its lo-neighbors; u AND every other lo-neighbor
        # attach to m: emit (u, m) ∪ {(w, m) : w ∈ N_lo(u) \ {m}}.
        smins = large.groupBy("u").agg(F.min("v").alias("mv"))
        small = (
            large.join(smins, "u")
            .select(
                F.explode(
                    F.array(
                        F.struct(F.col("u").alias("a"), F.col("mv").alias("b")),
                        F.struct(F.col("v").alias("a"), F.col("mv").alias("b")),
                    )
                ).alias("e")
            )
            .select(F.col("e.a").alias("u"), F.col("e.b").alias("v"))
            .filter(F.col("u") > F.col("v"))
            .distinct()
        )
        if n_parts > 1:
            small = small.repartition(n_parts, "u")
        small = small.localCheckpoint(eager=False)
        sig = small.agg(
            F.count(F.lit(1)).alias("n"),
            F.bit_xor(F.xxhash64(F.col("u"), F.col("v"))).alias("h"),
        ).collect()[0]
        edges = small
        if prev_sig == (sig["n"], sig["h"]):
            break
        prev_sig = (sig["n"], sig["h"])
    else:
        raise RuntimeError(
            f"components_large_small_star did not converge in {_MAX_ROUNDS} rounds"
        )
    roots = edges.select(F.col("u").alias("doc_id"), F.col("v").alias("component_id"))
    return nodes.join(roots, "doc_id", "left").select(
        "doc_id", F.coalesce(F.col("component_id"), F.col("doc_id")).alias("component_id")
    )


@query("dedup_components_star", oracle=_COMPONENTS_ORACLE, tags=("dedup", "graph"))
def dedup_components_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D2 completion, skew-safe variant: the SAME duplicate-cluster
    labels as dedup_components, computed by large-star/small-star
    contraction instead of min-label propagation — and checked against
    the SAME recursive-CTE transitive-closure oracle, so three
    independent algorithms (label propagation, star contraction,
    DuckDB closure) must agree on every label. Label propagation
    shuffles each round's labels through a groupBy whose per-key cost
    follows node degree (a power-law hub concentrates its whole
    neighborhood); star contraction's per-round cost is degree-flat
    (min-aggregate + O(1)-per-edge rewrite) and its round count is
    O(log n) instead of O(diameter) — this is the variant to run when
    the pair graph has celebrity nodes or long chains."""
    with cache_scope():
        return components_large_small_star(dedup_near_jaccard(spark, sf_dir))


_MINHASH_EST_TOL = 0.30  # ≈5σ for 64 permutations at J≈0.6

_MINHASH_EST_ORACLE = (
    f"WITH {_JACCARD_CTES} SELECT doc_a, doc_b, jaccard,"
    " CAST(TRUE AS BOOLEAN) AS est_ok FROM jpairs"
)


@query("dedup_minhash_jaccard_est", oracle=_MINHASH_EST_ORACLE, tags=("dedup", "sketch"))
def dedup_minhash_jaccard_est(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D2e: MinHash as a Jaccard ESTIMATOR, accuracy-attested — the
    sketch claim underneath dedup_minhash_lsh made checkable: for every
    exact-Jaccard pair (deterministic ground truth), the fraction of
    agreeing signature minima must sit within ±0.30 of the true
    Jaccard (≈5σ for 64 permutations at J≥0.6; the estimator's std is
    √(J(1−J)/64) ≤ 0.0625). The exact Jaccard value is a hash-checked
    output column, the tolerance flag must be TRUE on every row — so a
    broken permutation fold, a signature truncation, or a band/row
    mixup fails the driver check rather than silently degrading
    recall. Scale: signatures are the SAME in-scan fold the LSH path
    uses; the pair relation is candidate-sized, so the two signature
    joins broadcast the pairs, never the corpus."""
    pairs = dedup_near_jaccard(spark, sf_dir)
    sigs = scoped_persist(
        t(spark, sf_dir, "documents", spread=True).select(
            "doc_id",
            _shingle_hashes(F.col("text")).alias("hs"),
        ).select("doc_id", _minhash_sig_expr().alias("sig"))
    )
    sa = sigs.select(F.col("doc_id").alias("doc_a"), F.col("sig").alias("sig_a"))
    sb = sigs.select(F.col("doc_id").alias("doc_b"), F.col("sig").alias("sig_b"))
    est = (
        F.size(
            F.filter(
                F.zip_with("sig_a", "sig_b", lambda x, y: x == y), lambda m: m
            )
        )
        / F.lit(float(_MINHASH_PERMS))
    )
    return (
        sa.join(F.broadcast(pairs), "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            "jaccard",
            (F.abs(est - F.col("jaccard")) <= _MINHASH_EST_TOL).alias("est_ok"),
        )
    )



_CLUSTER_SIZES_ORACLE = f"""
    WITH RECURSIVE {_JACCARD_CTES},
    edges AS (
        SELECT doc_a AS a, doc_b AS b FROM jpairs
        UNION ALL
        SELECT doc_b, doc_a FROM jpairs
    ),
    reach(src, dst) AS (
        SELECT a, b FROM edges
        UNION
        SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a
    ),
    labels AS (
        SELECT src AS doc_id, least(src, min(dst)) AS component_id
        FROM reach GROUP BY src
    ),
    sizes AS (SELECT component_id, count(*) AS sz FROM labels GROUP BY component_id)
    SELECT CAST(sz AS BIGINT) AS cluster_size,
           CAST(count(*) AS BIGINT) AS n_clusters,
           CAST(sz * count(*) AS BIGINT) AS n_docs,
           CAST(sum(CAST(sz - 1 AS BIGINT)) AS BIGINT) AS n_removable
    FROM sizes GROUP BY sz
"""


@query("dedup_cluster_sizes", oracle=_CLUSTER_SIZES_ORACLE, tags=("dedup", "report"))
def dedup_cluster_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D2 reporting: the duplicate-CLUSTER SIZE distribution — per
    cluster size: how many clusters, how many documents they hold, and
    how many of those a canonical-keep dedup would remove (size − 1
    each). This is the dashboard number a curation run reports before
    committing a delete ("dedup will drop N docs, mostly from 2-doc
    clusters; the 400-doc cluster is boilerplate — inspect it"), and
    the skew signal for the components run itself: a heavy tail here
    is exactly when the large/small-star algorithm
    (dedup_components_star) should replace plain label propagation.

    Scale shape: one groupBy over the components OUTPUT (node-sized)
    then one over the (tiny) per-cluster sizes — both map-side
    combinable; the cost is the attested components run it composes."""
    labels = dedup_components(spark, sf_dir)
    sizes = labels.groupBy("component_id").agg(F.count("*").alias("sz"))
    return (
        sizes.groupBy("sz")
        .agg(F.count("*").alias("n_clusters"))
        .select(
            F.col("sz").alias("cluster_size"),
            "n_clusters",
            (F.col("sz") * F.col("n_clusters")).alias("n_docs"),
            ((F.col("sz") - 1) * F.col("n_clusters")).alias("n_removable"),
        )
    )


@query(
    "dedup_incremental_components",
    oracle=_COMPONENTS_ORACLE,
    tags=("dedup", "incremental", "graph"),
)
def dedup_incremental_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D2 incremental completion: maintain duplicate-CLUSTER labels
    under an incoming batch WITHOUT re-running components on the full
    pair graph — the missing third leg of the incremental family
    (pairs: ``dedup_incremental_jaccard``; candidate generation:
    ``dedup_incremental_lsh_ok``; this: cluster maintenance). The
    batch split is the family's doc_id parity (odd = new).

    Algorithm (quotient-graph contraction): existing labels L map each
    old document to its cluster minimum; each new-batch edge (u, v)
    projects through L to a QUOTIENT edge (L[u] or u, L[v] or v);
    components run on that quotient graph — whose node set is cluster
    LABELS plus new docs, orders of magnitude smaller than the corpus
    pair graph — and compose back: an old doc's final label is its
    cluster label's quotient label; quotient nodes that are not old
    docs (new docs, previously-isolated docs) emit directly. Because an
    old label IS its cluster's minimum doc_id, the quotient minimum is
    the true global minimum, so the composition is EXACTLY the
    from-scratch answer — which is what the oracle checks: the
    recursive-closure label over the FULL pair graph, making this the
    fourth independent algorithm that must agree with label
    propagation, star contraction, and the DuckDB closure.

    Scale shape: the expensive relation (the shingle self-join) is
    built ONCE and persisted; both pair sides are filters over it. In
    production L and the corpus signature table are READ from the
    previous run's checkpoint, old x old pairs are never regenerated,
    and the iterative contraction touches only the quotient graph —
    per-increment cost follows the BATCH's connectivity, not corpus
    size."""
    with cache_scope():
        pairs = scoped_persist(
            dedup_near_jaccard(spark, sf_dir).select("doc_a", "doc_b")
        )
        return incremental_components_from(pairs)


def incremental_components_from(pairs: DataFrame, is_old=None) -> DataFrame:
    """The quotient-graph composition behind
    :func:`dedup_incremental_components`, over a ``(doc_a, doc_b)``
    pair graph. ``is_old`` maps a doc-id column to a boolean "was in
    the previous run's corpus" predicate; the default is the family's
    parity split (odd doc_id = new). pipeline_incremental_e2e passes
    its landing-file split instead, so the composed demonstrator
    reuses this exact composition rather than copying it. Factored
    out so the constructed-graph unit test can drive every branch
    (old-cluster merge through new docs, untouched old cluster,
    previously-isolated old doc, new-new pair) on hand-built pairs.
    Caller must hold an active cache_scope."""
    if is_old is None:
        def is_old(c):
            return c % 2 == 0

    old_pairs = pairs.filter(
        is_old(F.col("doc_a")) & is_old(F.col("doc_b"))
    )
    new_edges = pairs.filter(
        ~is_old(F.col("doc_a")) | ~is_old(F.col("doc_b"))
    )
    l_old = scoped_persist(propagate_min_labels(old_pairs))
    la = l_old.select(
        F.col("doc_id").alias("doc_a"), F.col("component_id").alias("ca")
    )
    lb = l_old.select(
        F.col("doc_id").alias("doc_b"), F.col("component_id").alias("cb")
    )
    quotient = (
        new_edges.join(la, "doc_a", "left")
        .join(lb, "doc_b", "left")
        .select(
            F.coalesce(F.col("ca"), F.col("doc_a")).alias("u"),
            F.coalesce(F.col("cb"), F.col("doc_b")).alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .select(
            F.least("u", "v").alias("doc_a"),
            F.greatest("u", "v").alias("doc_b"),
        )
        .distinct()
    )
    q = scoped_persist(propagate_min_labels(quotient))
    qn = q.select(F.col("doc_id").alias("node"), F.col("component_id").alias("qc"))
    # old docs: expand their cluster label's quotient label (if any)
    part1 = (
        l_old.join(qn, l_old.component_id == qn.node, "left")
        .select(
            "doc_id",
            F.coalesce(F.col("qc"), F.col("component_id")).alias("component_id"),
        )
    )
    # quotient nodes that are NOT old docs: new docs and
    # previously-isolated olds emit their quotient label directly.
    # Both label relations are localCheckpointed inside
    # propagate_min_labels, so the lazy return stays cheap after
    # the scope exit frees the interim caches (dedup_components
    # precedent).
    part2 = (
        qn.join(l_old, qn.node == l_old.doc_id, "left_anti")
        .select(F.col("node").alias("doc_id"), F.col("qc").alias("component_id"))
    )
    return part1.union(part2)


# --- Soundex blocking (round 12) ---------------------------------------
# American Soundex with H/W-transparency, hand-rolled IDENTICALLY on
# both engines (Spark ships a soundex() builtin but DuckDB does not —
# a builtin on one side and a hand-roll on the other is exactly the
# drift this repo avoids). Frozen letter→code tables; the only
# regexes are per-digit run collapses, so the RE2/Java seam never
# sees a backreference (RE2 has none).
_SDX_ALPHA = "ABCDEFGHIJKLMNOPQRSTUVWXYZ"
_SDX_TAIL = ".123.12-.22455.12623.1-2.2"   # H,W → '-' (transparent)
_SDX_FIRST = ".123.12..22455.12623.1.2.2"  # pos 1: H,W → '.' (separator)


def _soundex_sql(col: str, dialect: str) -> str:
    """The full soundex chain as one SQL expression over ``col`` —
    shared template, dialect only picks the regexp flavor args."""
    g = ", 'g'" if dialect == "duck" else ""
    u = f"upper(regexp_replace({col}, '[^A-Za-z]', ''{g}))"
    t = (
        f"concat(translate(substr({u}, 1, 1), '{_SDX_ALPHA}', '{_SDX_FIRST}'),"
        f" translate(substr({u}, 2), '{_SDX_ALPHA}', '{_SDX_TAIL}'))"
    )
    t = f"replace({t}, '-', '')"
    for d in range(1, 7):
        t = f"regexp_replace({t}, '{d}{{2,}}', '{d}'{g})"
    rest = f"replace(substr({t}, 2), '.', '')"
    return (
        f"CASE WHEN length({u}) = 0 THEN NULL "
        f"ELSE concat(substr({u}, 1, 1), substr(concat({rest}, '000'), 1, 3)) END"
    )


_SOUNDEX_ORACLE = f"""
    WITH words AS (
        SELECT DISTINCT p_partkey, unnest(string_split(p_name, ' ')) AS w
        FROM part
    ),
    coded AS (
        SELECT p_partkey, w, {_soundex_sql("w", "duck")} AS code FROM words
    )
    SELECT code,
           CAST(count(DISTINCT w) AS BIGINT) AS n_words,
           CAST(count(*) AS BIGINT) AS n_occurrences,
           min(w) AS first_word,
           max(w) AS last_word
    FROM coded WHERE code IS NOT NULL
    GROUP BY code
"""


@query("dedup_soundex_blocking", oracle=_SOUNDEX_ORACLE, tags=("dedup", "er"))
def dedup_soundex_blocking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D2/ER depth: PHONETIC BLOCKING — American Soundex (with the
    standard H/W-transparency rule) as the blocking key for fuzzy
    entity resolution: names that sound alike land in one block, and
    the expensive pair scorer (dedup_levenshtein) runs within blocks
    instead of across the corpus. Hand-rolled identically on BOTH
    engines from frozen letter→code tables (Spark has a soundex()
    builtin; DuckDB does not — one builtin + one hand-roll is drift
    by construction, so neither side uses it), with per-digit run
    collapses instead of a backreference (RE2 has none). The 12
    canonical test vectors (Robert/Rupert → R163, Ashcraft → A261,
    Tymczak → T522, Wright → W623, …) are unit-pinned.

    Per block: distinct words, occurrence mass (how much pair work the
    block concentrates), and the lexical extremes as samples. The
    fixture vocabulary yields a real multi-word block at every SF
    (R300), so the merge behavior is attested, not hypothetical.

    Scale shape: the code is a row-local in-scan expression (translate
    + bounded regexp chain, whole-stage codegen); one keyed aggregate
    on the block code. Blocking keys at 100 TB are exactly this —
    a cheap scan-side expression whose aggregate bounds the quadratic
    stage."""
    words = (
        t(spark, sf_dir, "part", spread=True)
        .select("p_partkey", F.explode(F.split("p_name", " ")).alias("w"))
        .distinct()
    )
    coded = words.withColumn("code", F.expr(_soundex_sql("w", "spark")))
    return (
        coded.filter(F.col("code").isNotNull())
        .groupBy("code")
        .agg(
            F.countDistinct("w").alias("n_words"),
            F.count(F.lit(1)).alias("n_occurrences"),
            F.min("w").alias("first_word"),
            F.max("w").alias("last_word"),
        )
    )
