"""Composed end-to-end curation pipeline (VERDICT r11 task 4).

The engine's answer to the reference's end-to-end identity (the
reference's whole existence is a composed pipeline: fetch -> land ->
monitor, DB:479-568): every curation stage this repo already ships as
a tested core — quality gate, exact dedup, near dedup, benchmark
decontamination, temperature mixture, sequence packing — chained as
ONE registered relation that emits a per-stage audit row
(docs_in, docs_out, docs_dropped, tokens_out). Each stage is
deterministic, so the DuckDB oracle predicts every count by replaying
the identical chain in CTEs: the audit itself is hash-attested, not
just row-counted.

Stage semantics (each mirrors its standalone registered operator —
file:line cites in the docstring below):

1. quality_filter    — n_chars in [60,400], >=15 tokens, lang en/de
                       (text_quality.py text_quality_filter).
2. exact_dedup       — keep min doc_id per identical text
                       (dedup.py dedup_exact).
3. near_dedup        — drop the LARGER id of any 3-shingle-Jaccard
                       >= 0.6 pair (dedup.py dedup_near_jaccard's
                       pair rule; single-pass pairwise drop, NOT the
                       transitive closure — dedup_components owns
                       closure semantics).
4. decontaminate     — drop the eval slice (doc_id % 11 == 0) and any
                       doc sharing a word 4-gram with it
                       (text_quality.py text_decontaminate).
5. temperature_mixture — per-language epoch counts from the alpha=0.7
                       UniMax/XLM rule (sampling.py
                       sample_temperature_mixture): epochs =
                       max(1, floor(boost)), boost computed as a
                       ratio of exact integers.
6. pack_sequences    — greedy first-fit packing of the upsampled
                       stream into 256-token budget sequences, 8
                       deterministic shards (text.py
                       text_pack_sequences).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from talkdesk_async_etl_spark.plans.cache import (
    cache_scope,
    collect_release,
    scoped_persist,
)
from talkdesk_async_etl_spark.plans.registry import query
from talkdesk_async_etl_spark.session import single_partition_loop
from talkdesk_async_etl_spark.sources.io import read_table as t

# Stage constants are IMPORTED from the standalone operators, so the
# composed pipeline can never drift from the attested cores.
from talkdesk_async_etl_spark.operators.dedup import near_jaccard_pairs
from talkdesk_async_etl_spark.operators.sampling import _TEMP_ALPHA, _TEMP_ALPHA_F, _TEMP_MICRO
from talkdesk_async_etl_spark.operators.text import _PACK_BUDGET, _PACK_SHARDS
from talkdesk_async_etl_spark.operators.text_quality import _DECON_MOD, _DECON_N

_JACC_T = "0.6"  # near-dup Jaccard threshold (dedup_near_jaccard's)

_CURATION_ORACLE = f"""
    WITH RECURSIVE base AS MATERIALIZED (
        SELECT doc_id, lang, n_chars, text,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        FROM documents
    ),
    s1 AS MATERIALIZED (
        SELECT * FROM base
        WHERE n_chars BETWEEN 60 AND 400 AND n_tokens >= 15
          AND lang IN ('en', 'de')
    ),
    s2 AS MATERIALIZED (
        SELECT * FROM (
            SELECT *, min(doc_id) OVER (PARTITION BY text) AS m FROM s1
        ) WHERE doc_id = m
    ),
    sh AS MATERIALIZED (
        SELECT DISTINCT doc_id, array_to_string(tk[i:i+2], ' ') AS sh
        FROM (SELECT doc_id, string_split(text, ' ') AS tk FROM s2),
             range(1, 2000) r(i)
        WHERE i + 2 <= len(tk)
    ),
    cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
    near_drop AS MATERIALIZED (
        SELECT DISTINCT doc_b FROM (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS c
            FROM sh a JOIN sh b USING (sh)
            WHERE a.doc_id < b.doc_id
            GROUP BY 1, 2
        ) p
        JOIN cnt ca ON ca.doc_id = p.doc_a
        JOIN cnt cb ON cb.doc_id = p.doc_b
        WHERE c * 1.0 / (ca.n + cb.n - c) >= {_JACC_T}
    ),
    s3 AS MATERIALIZED (
        SELECT * FROM s2 WHERE doc_id NOT IN (SELECT doc_b FROM near_drop)
    ),
    eval_grams AS MATERIALIZED (
        SELECT DISTINCT array_to_string(w[i:i+{_DECON_N - 1}], ' ') AS gram
        FROM (SELECT string_split(text, ' ') AS w FROM base
              WHERE doc_id % {_DECON_MOD} = 0),
             range(1, 2000) r(i)
        WHERE i + {_DECON_N - 1} <= len(w)
    ),
    hit AS MATERIALIZED (
        SELECT DISTINCT doc_id FROM (
            SELECT doc_id, array_to_string(w[i:i+{_DECON_N - 1}], ' ') AS gram
            FROM (SELECT doc_id, string_split(text, ' ') AS w FROM s3),
                 range(1, 2000) r(i)
            WHERE i + {_DECON_N - 1} <= len(w)
        ) g JOIN eval_grams USING (gram)
    ),
    s4 AS MATERIALIZED (
        SELECT * FROM s3
        WHERE doc_id % {_DECON_MOD} != 0
          AND doc_id NOT IN (SELECT doc_id FROM hit)
    ),
    lang_stats AS MATERIALIZED (
        SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(n_tokens) AS BIGINT) AS n_tok,
               CAST(floor(pow(CAST(sum(n_tokens) AS DOUBLE), {_TEMP_ALPHA})
                          * {_TEMP_MICRO}) AS BIGINT) AS s
        FROM s4 GROUP BY lang
    ),
    lang_epochs AS MATERIALIZED (
        SELECT lang, n_docs, n_tok,
               CAST(greatest(1,
                   (CAST(s AS HUGEINT) * (SELECT sum(n_tok) FROM lang_stats)
                    + CAST((SELECT sum(s) FROM lang_stats) AS HUGEINT)
                      * n_tok - 1)
                   // (CAST((SELECT sum(s) FROM lang_stats) AS HUGEINT)
                       * n_tok)) AS BIGINT) AS epochs
        FROM lang_stats
    ),
    d AS MATERIALIZED (
        SELECT u.doc_id, u.k,
               CAST(u.doc_id % {_PACK_SHARDS} AS INTEGER) AS shard,
               CAST(u.n_tokens AS INTEGER) AS n_tokens,
               row_number() OVER (PARTITION BY u.doc_id % {_PACK_SHARDS}
                                  ORDER BY u.doc_id, u.k) AS rn
        FROM (
            SELECT s4.doc_id, s4.n_tokens,
                   unnest(range(1, le.epochs + 1)) AS k
            FROM s4 JOIN lang_epochs le USING (lang)
        ) u
    ),
    packed(shard, rn, pack_no, fill) AS (
        SELECT shard, rn, CAST(0 AS BIGINT), n_tokens
        FROM d WHERE rn = 1
        UNION ALL
        SELECT d.shard, d.rn,
               CASE WHEN p.fill + d.n_tokens <= {_PACK_BUDGET}
                    THEN p.pack_no ELSE p.pack_no + 1 END,
               CASE WHEN p.fill + d.n_tokens <= {_PACK_BUDGET}
                    THEN p.fill + d.n_tokens ELSE d.n_tokens END
        FROM packed p JOIN d ON d.shard = p.shard AND d.rn = p.rn + 1
    ),
    audit AS (
        SELECT 1 AS stage, 'quality_filter' AS name,
               (SELECT count(*) FROM base) AS docs_in,
               (SELECT count(*) FROM s1) AS docs_out,
               (SELECT coalesce(sum(n_tokens), 0) FROM s1) AS tokens_out
        UNION ALL
        SELECT 2, 'exact_dedup',
               (SELECT count(*) FROM s1), (SELECT count(*) FROM s2),
               (SELECT coalesce(sum(n_tokens), 0) FROM s2)
        UNION ALL
        SELECT 3, 'near_dedup',
               (SELECT count(*) FROM s2), (SELECT count(*) FROM s3),
               (SELECT coalesce(sum(n_tokens), 0) FROM s3)
        UNION ALL
        SELECT 4, 'decontaminate',
               (SELECT count(*) FROM s3), (SELECT count(*) FROM s4),
               (SELECT coalesce(sum(n_tokens), 0) FROM s4)
        UNION ALL
        SELECT 5, 'temperature_mixture',
               (SELECT count(*) FROM s4),
               (SELECT coalesce(sum(n_docs * epochs), 0) FROM lang_epochs),
               (SELECT coalesce(sum(n_tok * epochs), 0) FROM lang_epochs)
        UNION ALL
        SELECT 6, 'pack_sequences',
               (SELECT coalesce(sum(n_docs * epochs), 0) FROM lang_epochs),
               (SELECT coalesce(sum(mx + 1), 0) FROM
                   (SELECT shard, max(pack_no) AS mx FROM packed
                    GROUP BY shard)),
               (SELECT coalesce(sum(n_tok * epochs), 0) FROM lang_epochs)
    )
    SELECT CAST(stage AS INTEGER) AS stage, name,
           CAST(docs_in AS BIGINT) AS docs_in,
           CAST(docs_out AS BIGINT) AS docs_out,
           CAST(docs_in - docs_out AS BIGINT) AS docs_dropped,
           CAST(tokens_out AS BIGINT) AS tokens_out
    FROM audit
"""


def _audit_row(
    stage: int, name: str, docs_in: DataFrame, docs_out_tokens: DataFrame
) -> DataFrame:
    """One audit row: docs_in is a 1-row (n) aggregate, docs_out_tokens
    a 1-row (n, tok) aggregate; both read persisted stage relations."""
    return (
        docs_in.crossJoin(docs_out_tokens)
        .select(
            F.lit(stage).cast("int").alias("stage"),
            F.lit(name).alias("name"),
            F.col("n_in").cast("long").alias("docs_in"),
            F.col("n_out").cast("long").alias("docs_out"),
            (F.col("n_in") - F.col("n_out")).cast("long").alias("docs_dropped"),
            F.col("tok").cast("long").alias("tokens_out"),
        )
    )


def _count_in(df: DataFrame) -> DataFrame:
    return df.agg(F.count(F.lit(1)).alias("n_in"))


def _count_out(df: DataFrame) -> DataFrame:
    return df.agg(
        F.count(F.lit(1)).alias("n_out"),
        F.coalesce(F.sum("n_tokens"), F.lit(0)).cast("long").alias("tok"),
    )


def curation_audit_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """North-star demonstrator: the WHOLE curation pipeline as one
    relation — quality filter -> exact dedup -> near dedup ->
    decontaminate -> temperature mixture -> greedy packing — emitting
    one audit row per stage with (docs_in, docs_out, docs_dropped,
    tokens_out). Every stage reuses the exact semantics of its
    standalone attested operator (constants imported, not copied), and
    the oracle replays the chain in DuckDB CTEs, so the per-stage
    counts are value-hash-checked end to end.

    Audit conventions: ``docs_dropped = docs_in - docs_out`` uniformly
    — NEGATIVE for the mixture stage (upsampling grows the stream; the
    sign is the signal) and positive for packing (docs collapse into
    packs; tokens_out shows packing conserved every token). On the
    shipped fixtures the exact-dedup stage passes everything through
    (no byte-identical texts survive the quality gate — true of the
    data, not a bug); the constructed-fixture unit test drives every
    stage, including exact dupes, so the stage logic is attested even
    where the fixture is clean.

    Scale/plan shape: the corpus parquet is scanned ONCE into a
    persisted base projection (at 100 TB each scoped_persist below is
    a staged table write between pipeline runs — the lineage is the
    same); every later stage and every audit aggregate reads a
    persisted parent, so no stage re-scans the corpus (pinned by the
    plan test counting Scan parquet nodes). The expensive middle —
    the shingle self-join — runs on the post-quality-filter,
    post-exact-dedup SURVIVORS, which is the point of running the
    cheap gates first. The mixture stage collapses to a
    language-grain aggregate BEFORE any row is replicated (docs_out
    is Σ n_docs·epochs, computed without materializing copies); only
    the pack stage materializes the upsampled stream, shuffles it
    once on the shard key, and walks each shard in a grouped pandas
    UDF (the documented order-dependent-logic slow path, same as
    text_pack_sequences). Output is 6 rows — collect_release frees
    every stage cache on materialization."""
    import pandas as pd

    base = scoped_persist(
        t(spark, sf_dir, "documents", spread=True).select(
            "doc_id",
            "lang",
            "n_chars",
            "text",
            F.size(F.split("text", " ")).cast("long").alias("n_tokens"),
        )
    )

    # stage 1: quality gates (text_quality_filter semantics)
    s1 = scoped_persist(
        base.filter(
            F.col("n_chars").between(60, 400)
            & (F.col("n_tokens") >= 15)
            & F.col("lang").isin("en", "de")
        )
    )

    # stage 2: exact dedup — keep min doc_id per identical text
    s2 = scoped_persist(
        s1.withColumn("m", F.min("doc_id").over(Window.partitionBy("text")))
        .filter(F.col("doc_id") == F.col("m"))
        .drop("m")
    )

    # stage 3: near dedup — 3-shingle Jaccard >= 0.6, larger id drops
    near_drop = (
        near_jaccard_pairs(s2.select("doc_id", "text"))
        .select(F.col("doc_b").alias("doc_id"))
        .distinct()
    )
    s3 = scoped_persist(s2.join(near_drop, "doc_id", "left_anti"))

    # stage 4: decontamination — eval slice + any 4-gram overlap drops
    words = F.split("text", " ")
    n = F.size(words)
    grams = F.when(
        n >= _DECON_N,
        F.transform(
            F.sequence(F.lit(1), n - (_DECON_N - 1)),
            lambda i: F.array_join(F.slice(words, i, _DECON_N), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))
    gram = F.explode(F.array_distinct(grams)).alias("gram")
    eval_grams = base.filter(F.col("doc_id") % _DECON_MOD == 0).select(gram).distinct()
    hit = (
        s3.select("doc_id", gram)
        .join(F.broadcast(eval_grams), "gram")
        .select("doc_id")
        .distinct()
    )
    s4 = scoped_persist(
        s3.filter(F.col("doc_id") % _DECON_MOD != 0).join(hit, "doc_id", "left_anti")
    )

    # stage 5: temperature mixture — per-lang epochs, exact-integer boost
    all_w = Window.partitionBy()
    lang_epochs = scoped_persist(
        s4.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("n_tok"),
        )
        .withColumn(
            "s",
            F.floor(
                F.pow(F.col("n_tok").cast("double"), F.lit(_TEMP_ALPHA_F)) * _TEMP_MICRO
            ).cast("long"),
        )
        .withColumn("n_tot", F.sum("n_tok").over(all_w))
        .withColumn("s_tot", F.sum("s").over(all_w))
        .withColumn(
            # epochs = ceil(boost): the UniMax/XLM intent — a language
            # whose temperature share exceeds its raw share upsamples
            # (ceil, so any boost > 1 earns a second epoch); dominant
            # languages stay at 1 (never downsampled here — quota
            # enforcement is text_lang_quota's job). Ceil-div of exact
            # integers: (num + den - 1) div den, bit-identical across
            # engines at any corpus size (38-digit accumulators).
            "epochs",
            F.expr(
                "greatest(CAST(1 AS BIGINT),"
                " (CAST(s AS DECIMAL(38,0)) * n_tot"
                "  + CAST(s_tot AS DECIMAL(38,0)) * n_tok - 1)"
                " div (CAST(s_tot AS DECIMAL(38,0)) * n_tok))"
            ),
        )
        .select("lang", "n_docs", "n_tok", "epochs")
    )
    s5_stats = lang_epochs.agg(
        F.coalesce(F.sum(F.col("n_docs") * F.col("epochs")), F.lit(0))
        .cast("long")
        .alias("n_out"),
        F.coalesce(F.sum(F.col("n_tok") * F.col("epochs")), F.lit(0))
        .cast("long")
        .alias("tok"),
    )

    # stage 6: pack the upsampled stream (text_pack_sequences walk)
    upsampled = (
        s4.join(F.broadcast(lang_epochs.select("lang", "epochs")), "lang")
        .select(
            "doc_id",
            F.col("n_tokens").cast("int").alias("n_tokens"),
            F.explode(F.sequence(F.lit(1), F.col("epochs"))).alias("k"),
            F.pmod("doc_id", F.lit(_PACK_SHARDS)).cast("int").alias("shard"),
        )
    )

    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["doc_id", "k"]).reset_index(drop=True)
        packs = []
        fill, pack_no = 0, 0
        first = True
        for nt in pdf["n_tokens"]:
            nt = int(nt)
            if first:
                fill, first = nt, False
            elif fill + nt <= _PACK_BUDGET:
                fill += nt
            else:
                pack_no += 1
                fill = nt
            packs.append(pack_no)
        pdf["pack_no"] = packs
        return pdf[["shard", "pack_no"]]

    packed = upsampled.groupBy("shard").applyInPandas(
        pack, schema="shard int, pack_no bigint"
    )
    n_packs = packed.groupBy("shard").agg(F.max("pack_no").alias("mx")).agg(
        F.coalesce(F.sum(F.col("mx") + 1), F.lit(0)).cast("long").alias("n_out")
    )

    audit = (
        _audit_row(1, "quality_filter", _count_in(base), _count_out(s1))
        .unionByName(_audit_row(2, "exact_dedup", _count_in(s1), _count_out(s2)))
        .unionByName(_audit_row(3, "near_dedup", _count_in(s2), _count_out(s3)))
        .unionByName(_audit_row(4, "decontaminate", _count_in(s3), _count_out(s4)))
        .unionByName(
            _audit_row(
                5,
                "temperature_mixture",
                _count_in(s4),
                s5_stats,
            )
        )
        .unionByName(
            s5_stats.crossJoin(n_packs.select(F.col("n_out").alias("n_packs")))
            .select(
                F.lit(6).cast("int").alias("stage"),
                F.lit("pack_sequences").alias("name"),
                F.col("n_out").cast("long").alias("docs_in"),
                F.col("n_packs").cast("long").alias("docs_out"),
                (F.col("n_out") - F.col("n_packs")).cast("long").alias("docs_dropped"),
                F.col("tok").cast("long").alias("tokens_out"),
            )
        )
    )
    return audit.orderBy("stage")


@query("pipeline_curation_e2e", oracle=_CURATION_ORACLE, tags=("pipeline", "curation"))
def pipeline_curation_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materializing wrapper around :func:`curation_audit_plan` (the
    lazy core the plan test pins — the keyed_table_diff precedent):
    the audit is 6 rows by construction, so collect_release frees
    every stage cache on the way out. Same conf window as
    pipeline_incremental_e2e: every post-scan stage relation is
    survivor-/language-/pair-sized, so when the corpus fits one
    partition the per-stage AQE re-planning is pure overhead."""
    n_docs = t(spark, sf_dir, "documents").count()  # metadata count
    with single_partition_loop(spark, n_docs):
        return collect_release(curation_audit_plan(spark, sf_dir))


# --- Entity-resolution composition (round 12) ---------------------------
_ER_LEV_K = 2  # within-block edit-distance threshold


def _er_oracle() -> str:
    from talkdesk_async_etl_spark.operators.dedup_clusters import _soundex_sql

    block_key = _soundex_sql("list_extract(string_split(nm, ' '), -1)", "duck")
    return f"""
    WITH RECURSIVE norm AS (
        SELECT p_partkey,
               regexp_replace(trim(lower(p_name)), ' +', ' ', 'g') AS nm
        FROM part
    ),
    names AS (SELECT DISTINCT nm FROM norm),
    keyed AS (SELECT nm, {block_key} AS bk FROM names),
    pairs AS (
        SELECT a.nm AS doc_a, b.nm AS doc_b
        FROM keyed a JOIN keyed b
          ON a.bk = b.bk AND a.nm < b.nm
        WHERE levenshtein(a.nm, b.nm) <= {_ER_LEV_K}
    ),
    edges AS (
        SELECT doc_a AS a, doc_b AS b FROM pairs
        UNION ALL SELECT doc_b, doc_a FROM pairs
    ),
    reach(src, dst) AS (
        SELECT a, b FROM edges
        UNION
        SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a
    ),
    labels AS (
        SELECT src AS nm, least(src, min(dst)) AS component_id
        FROM reach GROUP BY src
    ),
    entities AS (
        SELECT n.nm, coalesce(l.component_id, n.nm) AS entity
        FROM names n LEFT JOIN labels l ON l.nm = n.nm
    ),
    mapback AS (
        SELECT o.p_partkey, e.entity
        FROM norm o JOIN entities e ON e.nm = o.nm
    )
    SELECT * FROM (
        SELECT 1 AS stage_no, 'normalize' AS stage,
               CAST(count(*) AS BIGINT) AS rows_out,
               CAST(0 AS BIGINT) AS checksum
        FROM norm
        UNION ALL
        SELECT 2, 'collapse_exact', CAST(count(*) AS BIGINT), 0 FROM names
        UNION ALL
        SELECT 3, 'block_pairs', CAST(count(*) AS BIGINT), 0 FROM pairs
        UNION ALL
        SELECT 4, 'components',
               CAST(count(DISTINCT component_id) AS BIGINT), 0 FROM labels
        UNION ALL
        SELECT 5, 'resolve', CAST(count(DISTINCT entity) AS BIGINT), 0
        FROM entities
        UNION ALL
        SELECT 6, 'map_back', CAST(count(*) AS BIGINT),
               CAST(bit_xor(CAST(('0x' || substr(md5(concat_ws('|',
                   CAST(p_partkey AS VARCHAR), entity)), 1, 15)) AS BIGINT))
                   AS BIGINT)
        FROM mapback
    ) ORDER BY stage_no
    """


@query("pipeline_entity_resolution_e2e", oracle=_er_oracle(), tags=("pipeline", "er"))
def pipeline_entity_resolution_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The second composed demonstrator next to pipeline_curation_e2e:
    END-TO-END ENTITY RESOLUTION — normalize → exact collapse →
    phonetic blocking → edit-distance match → connected components →
    canonical resolution → map-back, as ONE registered relation
    emitting a per-stage audit row, with the final stage carrying a
    bit_xor-of-md5 checksum of the ENTIRE (record → entity) mapping
    so the hash pins every resolution decision, not just the counts.

    The scale move is stage 2: ER runs on the DISTINCT-VALUE grain
    (the names), not the record grain — the vocabulary is orders of
    magnitude smaller than the table and bounded by the domain, so
    blocking, pairing (thresholded banded Levenshtein within
    soundex-of-head-noun blocks), and label propagation all cost
    vocabulary-sized work at ANY corpus size; records only pay the
    final broadcast-shaped map-back join. Stage machinery is the
    attested parts reused: ``_soundex_sql`` (dedup_soundex_blocking),
    thresholded ``levenshtein`` (dedup_levenshtein),
    ``propagate_min_labels`` (dedup_components); the DuckDB oracle
    replays the identical chain with a recursive-CTE closure, so a
    blocking key that drops a true pair, a mis-propagated label, or
    one mis-mapped record each break the hash. The fixture's
    cold-X/old-X name family yields a stable nonzero pair set at
    every SF (vacuity-checked).

    Degenerate-domain caveat (SCALING.md r13): the vocabulary-grain
    premise assumes a bounded name domain. On a serial-number-dense
    domain (every record a unique 'part_<n> <color>' name) the lev<=2
    pair graph is NEAR-COMPLETE per block — measured 339 s at sf1 on
    such a fixture, and exact-recall rare-gram prefix filtering does
    not help because the TRUE answer itself is millions of edges
    collapsing to a handful of entities. The mitigation there is a
    block-size cap (the `_bucket_pairs` hot-key move) or a stricter
    key — a semantic tuning choice, not a join optimization."""
    from talkdesk_async_etl_spark.operators.dedup_clusters import (
        _soundex_sql,
        propagate_min_labels,
    )

    p = t(spark, sf_dir, "part", spread=True)
    # Every stage past the scan is vocabulary- or block-pair-sized, so
    # the window is bounded by the part table's metadata count.
    n_recs = t(spark, sf_dir, "part").count()  # metadata count
    with single_partition_loop(spark, n_recs), cache_scope():
        norm = scoped_persist(
            p.select(
                "p_partkey",
                F.regexp_replace(F.trim(F.lower(F.col("p_name"))), " +", " ").alias("nm"),
            )
        )
        names = scoped_persist(norm.select("nm").distinct())
        block_key = _soundex_sql("element_at(split(nm, ' '), -1)", "spark")
        keyed = names.withColumn("bk", F.expr(block_key))
        a, b = keyed.alias("a"), keyed.alias("b")
        pairs = scoped_persist(
            a.join(b, on=[F.col("a.bk") == F.col("b.bk"), F.col("a.nm") < F.col("b.nm")])
            .where(F.expr(f"levenshtein(a.nm, b.nm, {_ER_LEV_K})").between(0, _ER_LEV_K))
            .select(F.col("a.nm").alias("doc_a"), F.col("b.nm").alias("doc_b"))
        )
        labels = scoped_persist(propagate_min_labels(pairs))
        entities = scoped_persist(
            names.join(
                labels.select(F.col("doc_id").alias("nm"), "component_id"), "nm", "left"
            ).select("nm", F.coalesce("component_id", "nm").alias("entity"))
        )
        mapback = norm.join(entities, "nm")

        def row(no: int, stage: str, df: DataFrame, cnt, checksum=None):
            cs = checksum if checksum is not None else F.lit(0).cast("long")
            return df.agg(
                F.lit(no).cast("int").alias("stage_no"),
                F.lit(stage).alias("stage"),
                cnt.cast("long").alias("rows_out"),
                cs.alias("checksum"),
            )

        h = F.conv(
            F.substring(
                F.md5(F.concat_ws("|", F.col("p_partkey").cast("string"), F.col("entity"))),
                1,
                15,
            ),
            16,
            10,
        ).cast("long")
        audit = (
            row(1, "normalize", norm, F.count(F.lit(1)))
            .unionAll(row(2, "collapse_exact", names, F.count(F.lit(1))))
            .unionAll(row(3, "block_pairs", pairs, F.count(F.lit(1))))
            .unionAll(row(4, "components", labels, F.count_distinct("component_id")))
            .unionAll(row(5, "resolve", entities, F.count_distinct("entity")))
            .unionAll(
                row(6, "map_back", mapback, F.count(F.lit(1)), F.bit_xor(h))
            )
        )
        return collect_release(audit.orderBy("stage_no"))


# --- Incremental-ingest composition (round 13, VERDICT r12 task 3) ------
# The reference's identity loop — download report files, track
# completion in the monitoring table, append-only apply (DB:206-253) —
# composed on the analytics side: partitioned landing → manifest
# delta → CDC latest-wins+tombstone apply → incremental aggregate
# maintenance → incremental cluster maintenance, as ONE audited
# relation. Every stage reuses its standalone attested machinery:
# the landing/manifest shape is scan_file_manifest_delta's
# (ingest.py), the apply window is cdc_latest_wins /
# cdc_tombstone_deletes' (relational.py), the view merge is
# cdc_incremental_agg's union-of-partials (ingest.py) extended with
# retractions, and the cluster stage is dedup_incremental_components'
# quotient composition (dedup_clusters.py, incremental_components_from)
# over near_jaccard_pairs (dedup.py). The DuckDB oracle replays the
# chain from scratch — maintain(snapshot, delta) == recompute(all) is
# the S7i contract, and every stage checksum pins full stage CONTENT
# (bit_xor of md5 over every row), not just counts.

_INC_FILES = 8   # landing files: doc_id % _INC_FILES
_INC_DONE = 5    # files 0..4 were processed by the previous run
_INC_UPD_MOD = 5   # re-crawled old docs: doc_id % 5 == 0 (op U, v2)
_INC_DEL_MOD = 3   # tombstoned old docs: doc_id % 3 == 0 (op D, v3)
_INC_RECRAWL = "recrawl"  # the source updated docs move to


def _inc_hex15(*cols) -> object:
    from talkdesk_async_etl_spark.operators.dedup import _hex15_col

    return _hex15_col(F.concat_ws("|", *cols))


def _inc_oracle() -> str:
    duck_hex = "CAST(('0x' || substr(md5({s}), 1, 15)) AS BIGINT)"

    def h(s: str) -> str:
        return duck_hex.format(s=s)

    return f"""
    WITH RECURSIVE filed AS MATERIALIZED (
        SELECT doc_id, text, lang, source, n_chars,
               CAST(doc_id % {_INC_FILES} AS INT) AS file_id
        FROM documents
    ),
    ops AS (
        SELECT doc_id, 'I' AS op, source, lang, n_chars, text, 1 AS version
        FROM filed WHERE file_id < {_INC_DONE}
        UNION ALL
        SELECT doc_id, 'I', source, lang, n_chars, text, 2
        FROM filed WHERE file_id >= {_INC_DONE}
        UNION ALL
        SELECT doc_id, 'U', '{_INC_RECRAWL}', lang, n_chars, text, 2
        FROM filed WHERE file_id < {_INC_DONE} AND doc_id % {_INC_UPD_MOD} = 0
        UNION ALL
        SELECT doc_id, 'D', NULL, NULL, NULL, NULL, 3
        FROM filed WHERE file_id < {_INC_DONE} AND doc_id % {_INC_DEL_MOD} = 0
    ),
    live AS MATERIALIZED (
        SELECT doc_id, source, lang, n_chars, text FROM (
            SELECT *, row_number() OVER (PARTITION BY doc_id
                                         ORDER BY version DESC) AS rn
            FROM ops
        ) WHERE rn = 1 AND op <> 'D'
    ),
    fstats AS MATERIALIZED (
        SELECT file_id, CAST(count(*) AS BIGINT) AS n_rows,
               bit_xor({h("CAST(doc_id AS VARCHAR)")}) AS content_xor
        FROM filed GROUP BY file_id
    ),
    manifest AS (
        SELECT file_id,
               CASE WHEN file_id < {_INC_DONE} THEN 'done' ELSE 'new' END
                   AS status,
               n_rows, content_xor
        FROM fstats
    ),
    view_src AS MATERIALIZED (
        SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(n_chars) AS BIGINT) AS total_chars
        FROM live GROUP BY source
    ),
    toks AS (SELECT doc_id, string_split(text, ' ') AS tk FROM live),
    sh AS (
        SELECT DISTINCT doc_id, array_to_string(tk[i:i+2], ' ') AS sh
        FROM toks, range(1, 2000) r(i) WHERE i + 2 <= len(tk)
    ),
    cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
    common AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS c
        FROM sh a JOIN sh b USING (sh)
        WHERE a.doc_id < b.doc_id GROUP BY 1, 2
    ),
    jpairs AS MATERIALIZED (
        SELECT doc_a, doc_b
        FROM common
        JOIN cnt ca ON ca.doc_id = doc_a
        JOIN cnt cb ON cb.doc_id = doc_b
        WHERE c * 1.0 / (ca.n + cb.n - c) >= 0.6
    ),
    edges AS (
        SELECT doc_a AS a, doc_b AS b FROM jpairs
        UNION ALL SELECT doc_b, doc_a FROM jpairs
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
    audit AS (
        SELECT 1 AS stage_no, 'land_manifest' AS stage,
               (SELECT count(*) FROM manifest) AS rows_out,
               (SELECT bit_xor({h("concat_ws('|', CAST(file_id AS VARCHAR), status, CAST(n_rows AS VARCHAR), CAST(content_xor AS VARCHAR))")})
                FROM manifest) AS checksum
        UNION ALL
        SELECT 2, 'cdc_apply', (SELECT count(*) FROM live),
               (SELECT bit_xor({h("concat_ws('|', CAST(doc_id AS VARCHAR), source, lang)")})
                FROM live)
        UNION ALL
        SELECT 3, 'ivm_source_stats', (SELECT count(*) FROM view_src),
               (SELECT bit_xor({h("concat_ws('|', source, CAST(n_docs AS VARCHAR), CAST(total_chars AS VARCHAR))")})
                FROM view_src)
        UNION ALL
        SELECT 4, 'inc_clusters',
               (SELECT count(DISTINCT component_id) FROM labels),
               (SELECT bit_xor({h("concat_ws('|', CAST(doc_id AS VARCHAR), CAST(component_id AS VARCHAR))")})
                FROM labels)
        UNION ALL
        SELECT 5, 'idempotence_recheck', (SELECT count(*) FROM fstats),
               (SELECT bit_xor({h("concat_ws('|', CAST(file_id AS VARCHAR), CAST(n_rows AS VARCHAR), CAST(content_xor AS VARCHAR))")})
                FROM fstats)
    )
    SELECT CAST(stage_no AS INTEGER) AS stage_no, stage,
           CAST(rows_out AS BIGINT) AS rows_out,
           CAST(checksum AS BIGINT) AS checksum
    FROM audit ORDER BY stage_no
    """


def incremental_audit_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The third composed demonstrator (next to pipeline_curation_e2e
    and pipeline_entity_resolution_e2e): END-TO-END INCREMENTAL INGEST
    over a partitioned landing of document files, as ONE relation with
    a per-stage audit row (stage_no, stage, rows_out, checksum).

    1. land_manifest — the corpus lands partitioned by
       file_id = doc_id % {files}; the previous run's manifest holds
       files 0..{done-1} ('done', stats as recorded), the diff
       discovers the rest ('new', stats freshly computed) — the
       scan_file_manifest_delta shape (ingest.py:945). Both passes are
       PARTITION-PRUNED scans of the landing.
    2. cdc_apply — the delta batch carries op I for new docs plus a
       deterministic re-crawl feed against old docs (op U v2 moves
       doc_id%5==0 to source='recrawl'; op D v3 tombstones
       doc_id%3==0; a %15 key sees both and the tombstone wins).
       Live state = stored snapshot (epoch-1 live, localCheckpoint'd,
       i.e. the previous run's table) unioned with the DELTA ops only,
       resolved by the cdc_latest_wins/cdc_tombstone_deletes window —
       O(snapshot + delta), never a history rescan.
    3. ivm_source_stats — the per-source (n_docs, total_chars) view is
       maintained by cdc_incremental_agg's union-of-partials extended
       with RETRACTIONS: the delta's net per-key effect joins the
       snapshot on the DELTA's keys (O(delta) probe of a stored keyed
       table), emits (-1, -chars) for each replaced/deleted key and
       (+1, +chars) for each insert/new version, and re-aggregates
       with the snapshot partials; sources retracted to zero drop out.
       The oracle recomputes the view from the final live state, so
       the hash attests maintain == recompute.
    4. inc_clusters — near-dup cluster labels over the LIVE corpus,
       maintained by dedup_incremental_components' quotient-graph
       composition (old = surviving docs from processed files, new =
       delta docs) over near_jaccard_pairs' attested pair build; the
       checksum pins EVERY (doc_id, component_id) label. Deletions are
       handled at the pair grain — tombstoned docs leave the live set
       before pair generation, so the previous labels are re-derived
       over survivors (in production: only for deletion-touched
       clusters); the quotient minimum is then exactly the
       from-scratch minimum, which is what the oracle checks.
    5. idempotence_recheck — the manifest pass re-runs as if the new
       files had been appended to the manifest: every file's
       recomputed (n_rows, content_xor) must MATCH the first pass
       (rows_out counts matches, = n files), and the checksum is the
       status-independent stat fold — re-running changes statuses,
       never stats.

    Scale/plan shape: the landing is written once, partitioned by
    file_id (at 100 TB: the object-store layout, one directory per
    arrival batch); the done/new scans are partition-pruned; the
    snapshot and its aggregate view are localCheckpoint'd (stored
    tables — the merge plans provably cannot reach into the epoch-1
    scan); the expensive stage (the shingle self-join) runs on the
    live SURVIVORS only; every audit aggregate reads a persisted
    parent. Output is 5 rows by construction — the registered wrapper
    collect_releases every stage cache."""
    from talkdesk_async_etl_spark.operators.dedup_clusters import (
        incremental_components_from,
    )
    from talkdesk_async_etl_spark.sources.io import session_scratch_path

    landing = session_scratch_path(spark, sf_dir, "tde_inc_landing")
    (
        t(spark, sf_dir, "documents", spread=True)
        .withColumn("file_id", (F.col("doc_id") % _INC_FILES).cast("int"))
        .write.mode("overwrite")
        .partitionBy("file_id")
        .parquet(landing)
    )
    land = spark.read.parquet(landing)
    old = scoped_persist(land.filter(F.col("file_id") < _INC_DONE))
    new = scoped_persist(land.filter(F.col("file_id") >= _INC_DONE))

    def fstats(df: DataFrame) -> DataFrame:
        return df.groupBy(F.col("file_id").cast("int").alias("file_id")).agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.bit_xor(_inc_hex15(F.col("doc_id").cast("string"))).alias(
                "content_xor"
            ),
        )

    # stage 1: the previous run's recorded stats re-emit as 'done';
    # the delta files are discovered and freshly computed as 'new'.
    pass1 = scoped_persist(
        fstats(old)
        .select("file_id", F.lit("done").alias("status"), "n_rows", "content_xor")
        .unionByName(
            fstats(new).select(
                "file_id", F.lit("new").alias("status"), "n_rows", "content_xor"
            )
        )
    )

    # stage 2: CDC apply. The stored snapshot is epoch-1 live state;
    # localCheckpoint cuts lineage (a stored table behaves the same).
    cols = ("doc_id", "source", "lang", "n_chars", "text")
    snapshot_live = old.select(*cols).localCheckpoint()

    def op_rows(df, op, source_col, version):
        return df.select(
            "doc_id",
            F.lit(op).alias("op"),
            source_col.alias("source"),
            (F.lit(None).cast("string") if op == "D" else F.col("lang")).alias("lang"),
            (F.lit(None).cast("long") if op == "D" else F.col("n_chars")).alias(
                "n_chars"
            ),
            (F.lit(None).cast("string") if op == "D" else F.col("text")).alias("text"),
            F.lit(version).alias("version"),
        )

    ins = op_rows(new, "I", F.col("source"), 2)
    upd = op_rows(
        old.filter(F.col("doc_id") % _INC_UPD_MOD == 0),
        "U",
        F.lit(_INC_RECRAWL),
        2,
    )
    dele = op_rows(
        old.filter(F.col("doc_id") % _INC_DEL_MOD == 0),
        "D",
        F.lit(None).cast("string"),
        3,
    )
    delta_ops = ins.unionByName(upd).unionByName(dele)
    snap_ops = snapshot_live.select(
        "doc_id",
        F.lit("I").alias("op"),
        "source",
        "lang",
        "n_chars",
        "text",
        F.lit(1).alias("version"),
    )
    w_key = Window.partitionBy("doc_id").orderBy(F.col("version").desc())
    live = scoped_persist(
        snap_ops.unionByName(delta_ops)
        .withColumn("rn", F.row_number().over(w_key))
        .filter((F.col("rn") == 1) & (F.col("op") != "D"))
        .select(*cols)
    )

    # stage 3: IVM with retractions. The stored view is the epoch-1
    # aggregate; the delta's NET per-key effect joins the snapshot on
    # the delta's keys only.
    snapshot_agg = (
        snapshot_live.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("dn"),
            F.sum("n_chars").alias("dchars"),
        )
        .localCheckpoint()
    )
    delta_latest = (
        delta_ops.withColumn("rn", F.row_number().over(w_key))
        .filter(F.col("rn") == 1)
        .select("doc_id", "op", "source", "n_chars")
    )
    old_vals = snapshot_live.select(
        "doc_id",
        F.col("source").alias("old_source"),
        F.col("n_chars").alias("old_chars"),
    )
    adj = scoped_persist(delta_latest.join(old_vals, "doc_id", "left"))
    retract = adj.filter(F.col("old_source").isNotNull()).select(
        F.col("old_source").alias("source"),
        F.lit(-1).cast("long").alias("dn"),
        (-F.col("old_chars")).alias("dchars"),
    )
    addnew = adj.filter(F.col("op") != "D").select(
        "source",
        F.lit(1).cast("long").alias("dn"),
        F.col("n_chars").alias("dchars"),
    )
    view_src = scoped_persist(
        snapshot_agg.unionByName(retract)
        .unionByName(addnew)
        .groupBy("source")
        .agg(
            F.sum("dn").cast("long").alias("n_docs"),
            F.sum("dchars").cast("long").alias("total_chars"),
        )
        .filter(F.col("n_docs") > 0)
    )

    # stage 4: incremental cluster maintenance over the live corpus.
    pairs = scoped_persist(
        near_jaccard_pairs(live.select("doc_id", "text")).select("doc_a", "doc_b")
    )
    labels = scoped_persist(
        incremental_components_from(
            pairs, is_old=lambda c: (c % _INC_FILES) < _INC_DONE
        )
    )

    # stage 5: idempotence — re-run the stat pass over ALL files and
    # compare to the first pass.
    pass2 = scoped_persist(fstats(land))
    matched = pass2.join(
        pass1.select("file_id", "n_rows", "content_xor"),
        ["file_id", "n_rows", "content_xor"],
    )

    def row(no: int, stage: str, df: DataFrame, cnt, checksum) -> DataFrame:
        return df.agg(
            F.lit(no).cast("int").alias("stage_no"),
            F.lit(stage).alias("stage"),
            cnt.cast("long").alias("rows_out"),
            checksum.alias("checksum"),
        )

    return (
        row(
            1,
            "land_manifest",
            pass1,
            F.count(F.lit(1)),
            F.bit_xor(
                _inc_hex15(
                    F.col("file_id").cast("string"),
                    F.col("status"),
                    F.col("n_rows").cast("string"),
                    F.col("content_xor").cast("string"),
                )
            ),
        )
        .unionAll(
            row(
                2,
                "cdc_apply",
                live,
                F.count(F.lit(1)),
                F.bit_xor(
                    _inc_hex15(
                        F.col("doc_id").cast("string"),
                        F.col("source"),
                        F.col("lang"),
                    )
                ),
            )
        )
        .unionAll(
            row(
                3,
                "ivm_source_stats",
                view_src,
                F.count(F.lit(1)),
                F.bit_xor(
                    _inc_hex15(
                        F.col("source"),
                        F.col("n_docs").cast("string"),
                        F.col("total_chars").cast("string"),
                    )
                ),
            )
        )
        .unionAll(
            row(
                4,
                "inc_clusters",
                labels,
                F.count_distinct("component_id"),
                F.bit_xor(
                    _inc_hex15(
                        F.col("doc_id").cast("string"),
                        F.col("component_id").cast("string"),
                    )
                ),
            )
        )
        .unionAll(
            row(
                5,
                "idempotence_recheck",
                matched,
                F.count(F.lit(1)),
                F.bit_xor(
                    _inc_hex15(
                        F.col("file_id").cast("string"),
                        F.col("n_rows").cast("string"),
                        F.col("content_xor").cast("string"),
                    )
                ),
            )
        )
        .orderBy("stage_no")
    )


@query(
    "pipeline_incremental_e2e",
    oracle=_inc_oracle(),
    tags=("pipeline", "cdc", "incremental"),
)
def pipeline_incremental_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materializing wrapper around :func:`incremental_audit_plan` (the
    lazy core the plan test pins): the audit is 5 rows by
    construction, so collect_release frees every stage cache on the
    way out.

    Like the fixpoint loops, the composed audit is ~30 SMALL stages
    (every post-landing relation is file-count-, source-count- or
    pair-graph-sized); when the corpus itself fits one partition the
    per-stage AQE re-planning across all of them is pure overhead, so
    the conf window applies, bounded by the parquet metadata row
    count. The window covers construction
    too — construction executes the landing write, the shingle-pair
    build and the label loops eagerly, and an opening-after-
    construction variant measured WORSE (7.26 vs 5.79 s min-of-4:
    the pair build's lost parallelism at one partition costs less
    than the construction stages' AQE re-planning)."""
    n_docs = t(spark, sf_dir, "documents").count()  # metadata count
    with single_partition_loop(spark, n_docs):
        with cache_scope():
            return collect_release(incremental_audit_plan(spark, sf_dir))


# --- Training-export composition (round 14, VERDICT r13 task 4) --------

# Split thresholds are text_split_assign's md5-nibble cuts
# (text.py:187): 0-b -> train (12/16), c-d -> val, e-f -> test.
_SPLIT_TRAIN_MAX = "b"
_SPLIT_VAL_MAX = "d"
# Position-key salt: the shuffle-shard key must be INDEPENDENT of the
# split key (both are md5(doc_id)-derived; unsalted they would be the
# SAME hash, so every train doc would land in export shards 0-b and
# the export "shuffle" would replay the split assignment).
_EXPORT_POS_SALT = "pos|"


def _texp_oracle() -> str:
    duck_hex = "CAST(('0x' || substr(md5({s}), 1, 15)) AS BIGINT)"

    def h(s: str) -> str:
        return duck_hex.format(s=s)

    return f"""
    WITH RECURSIVE base AS MATERIALIZED (
        SELECT doc_id, lang, n_chars, text,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        FROM documents
    ),
    s1 AS MATERIALIZED (
        SELECT * FROM base
        WHERE n_chars BETWEEN 60 AND 400 AND n_tokens >= 15
          AND lang IN ('en', 'de')
    ),
    eval_grams AS MATERIALIZED (
        SELECT DISTINCT array_to_string(w[i:i+{_DECON_N - 1}], ' ') AS gram
        FROM (SELECT string_split(text, ' ') AS w FROM base
              WHERE doc_id % {_DECON_MOD} = 0),
             range(1, 2000) r(i)
        WHERE i + {_DECON_N - 1} <= len(w)
    ),
    hit AS MATERIALIZED (
        SELECT DISTINCT doc_id FROM (
            SELECT doc_id, array_to_string(w[i:i+{_DECON_N - 1}], ' ') AS gram
            FROM (SELECT doc_id, string_split(text, ' ') AS w FROM s1),
                 range(1, 2000) r(i)
            WHERE i + {_DECON_N - 1} <= len(w)
        ) g JOIN eval_grams USING (gram)
    ),
    s2 AS MATERIALIZED (
        SELECT * FROM s1
        WHERE doc_id % {_DECON_MOD} != 0
          AND doc_id NOT IN (SELECT doc_id FROM hit)
    ),
    s3all AS MATERIALIZED (
        SELECT *,
               CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)
                        <= '{_SPLIT_TRAIN_MAX}' THEN 'train'
                    WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)
                        <= '{_SPLIT_VAL_MAX}' THEN 'val'
                    ELSE 'test' END AS split
        FROM s2
    ),
    s3 AS MATERIALIZED (SELECT * FROM s3all WHERE split = 'train'),
    d AS MATERIALIZED (
        SELECT doc_id, CAST(doc_id % {_PACK_SHARDS} AS INT) AS pack_shard,
               CAST(n_tokens AS INT) AS n_tokens,
               row_number() OVER (PARTITION BY doc_id % {_PACK_SHARDS}
                                  ORDER BY doc_id) AS rn
        FROM s3
    ),
    packed(pack_shard, rn, pack_no, fill) AS (
        SELECT pack_shard, rn, CAST(0 AS BIGINT), n_tokens
        FROM d WHERE rn = 1
        UNION ALL
        SELECT d.pack_shard, d.rn,
               CASE WHEN p.fill + d.n_tokens <= {_PACK_BUDGET}
                    THEN p.pack_no ELSE p.pack_no + 1 END,
               CASE WHEN p.fill + d.n_tokens <= {_PACK_BUDGET}
                    THEN p.fill + d.n_tokens ELSE d.n_tokens END
        FROM packed p JOIN d ON d.pack_shard = p.pack_shard
                            AND d.rn = p.rn + 1
    ),
    s4 AS MATERIALIZED (
        SELECT d.doc_id, d.pack_shard, CAST(p.pack_no AS BIGINT) AS pack_no
        FROM d JOIN packed p ON p.pack_shard = d.pack_shard AND p.rn = d.rn
    ),
    s5 AS MATERIALIZED (
        SELECT s3.doc_id, s3.lang, s3.text, s3.n_tokens,
               s4.pack_shard, s4.pack_no,
               md5('{_EXPORT_POS_SALT}' || CAST(s3.doc_id AS VARCHAR)) AS pos
        FROM s3 JOIN s4 USING (doc_id)
    ),
    audit AS (
        SELECT 1 AS stage_no, 'quality_filter' AS stage,
               (SELECT count(*) FROM base) AS docs_in,
               (SELECT count(*) FROM s1) AS docs_out,
               (SELECT coalesce(sum(n_tokens), 0) FROM s1) AS tokens_out,
               (SELECT coalesce(bit_xor({h("concat_ws('|', CAST(doc_id AS VARCHAR), CAST(n_tokens AS VARCHAR))")}), 0)
                FROM s1) AS checksum
        UNION ALL
        SELECT 2, 'decontaminate',
               (SELECT count(*) FROM s1), (SELECT count(*) FROM s2),
               (SELECT coalesce(sum(n_tokens), 0) FROM s2),
               (SELECT coalesce(bit_xor({h("concat_ws('|', CAST(doc_id AS VARCHAR), CAST(n_tokens AS VARCHAR))")}), 0)
                FROM s2)
        UNION ALL
        SELECT 3, 'split_assign',
               (SELECT count(*) FROM s2), (SELECT count(*) FROM s3),
               (SELECT coalesce(sum(n_tokens), 0) FROM s3),
               (SELECT coalesce(bit_xor({h("concat_ws('|', CAST(doc_id AS VARCHAR), split)")}), 0)
                FROM s3all)
        UNION ALL
        SELECT 4, 'pack_sequences',
               (SELECT count(*) FROM s3),
               (SELECT coalesce(count(DISTINCT pack_shard || '#' || CAST(pack_no AS VARCHAR)), 0) FROM s4),
               (SELECT coalesce(sum(s3.n_tokens), 0)
                FROM s4 JOIN s3 USING (doc_id)),
               (SELECT coalesce(bit_xor({h("concat_ws('|', CAST(doc_id AS VARCHAR), CAST(pack_shard AS VARCHAR), CAST(pack_no AS VARCHAR))")}), 0)
                FROM s4)
        UNION ALL
        SELECT 5, 'shuffle_shards',
               (SELECT count(*) FROM s4), (SELECT count(*) FROM s5),
               (SELECT coalesce(sum(n_tokens), 0) FROM s5),
               (SELECT coalesce(bit_xor({h("concat_ws('|', CAST(doc_id AS VARCHAR), pos)")}), 0)
                FROM s5)
        UNION ALL
        SELECT 6, 'jsonl_export',
               (SELECT count(*) FROM s5), (SELECT count(*) FROM s5),
               (SELECT coalesce(sum(n_tokens), 0) FROM s5),
               (SELECT coalesce(bit_xor({h("concat_ws('|', CAST(doc_id AS VARCHAR), substr(pos, 1, 1), CAST(pack_no AS VARCHAR), CAST(n_tokens AS VARCHAR), md5(text))")}), 0)
                FROM s5)
    )
    SELECT CAST(stage_no AS INTEGER) AS stage_no, stage,
           CAST(docs_in AS BIGINT) AS docs_in,
           CAST(docs_out AS BIGINT) AS docs_out,
           CAST(docs_in - docs_out AS BIGINT) AS docs_dropped,
           CAST(tokens_out AS BIGINT) AS tokens_out,
           CAST(checksum AS BIGINT) AS checksum
    FROM audit
    """


def training_export_audit_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fourth composed demonstrator (VERDICT r13 task 4): the TERMINAL
    stage of the LLM-data-pipeline brief — everything between a raw
    corpus and the files a trainer reads — as ONE relation with a
    per-stage audit row (stage_no, stage, docs_in, docs_out,
    docs_dropped, tokens_out, checksum). Every stage reuses the exact
    semantics of its standalone attested operator (constants imported
    or cited, never copied):

    1. quality_filter — n_chars in [60,400], >=15 tokens, lang en/de
       (text_quality.py:36 text_quality_filter).
    2. decontaminate — drop the eval slice (doc_id % 11 == 0) and any
       doc sharing a word 4-gram with it (text_quality.py:202
       text_decontaminate).
    3. split_assign — md5-nibble train/val/test; the TRAIN slice
       continues downstream; the checksum binds the FULL assignment
       over all three splits (text.py:187 text_split_assign).
    4. pack_sequences — greedy first-fit into 256-token sequences over
       8 deterministic doc_id%8 shards (text.py text_pack_sequences's
       walk, applyInPandas per shard — the documented grouped-UDF
       slow path for genuinely order-dependent logic).
    5. shuffle_shards — position = md5('pos|'||doc_id), export shard =
       first hex nibble (sampling.py:125 sample_shuffle_shards). The
       salt keeps the shuffle key INDEPENDENT of the split key, which
       is the same md5 unsalted.
    6. jsonl_export — hive-partitioned JSON LINES write + READ BACK
       (ingest.py sink_jsonl_export_ok's attestation shape): the
       stage-6 audit row is computed from the ROUND-TRIPPED files —
       its checksum folds md5(text) per doc, so a dropped row, shard
       misroute, or lossy JSON escape breaks the hash against the
       oracle's source-replay prediction.

    Checksums are bit_xor folds of the engine-agreeing 60-bit
    md5-hex15 hash over each stage's binding columns (the
    pipeline_incremental_e2e convention), so the audit attests stage
    CONTENT, not just counts. docs_dropped = docs_in - docs_out
    uniformly (negative is impossible here — every stage filters or
    collapses).

    Scale/plan shape: the corpus parquet is scanned ONCE into the
    persisted base projection; every later stage and every audit
    aggregate reads a persisted parent (pinned by the plan test: one
    Scan parquet + one Scan json for the round-trip, zero NLJ, zero
    row-Python). The expensive gram explode runs on quality SURVIVORS
    against a broadcast eval-gram set; packing shuffles once on the
    shard key; the export pays one hash exchange on the export shard
    (16 here; 2-3 nibbles at production scale) plus the read-back,
    which is the attestation cost, not the operator cost. At 100 TB
    each scoped_persist is a staged table write between pipeline
    runs — the lineage is identical."""
    import pandas as pd

    from talkdesk_async_etl_spark.sources.io import session_scratch_path

    base = scoped_persist(
        t(spark, sf_dir, "documents", spread=True).select(
            "doc_id",
            "lang",
            "n_chars",
            "text",
            F.size(F.split("text", " ")).cast("long").alias("n_tokens"),
        )
    )

    # stage 1: quality gates (text_quality_filter semantics)
    s1 = scoped_persist(
        base.filter(
            F.col("n_chars").between(60, 400)
            & (F.col("n_tokens") >= 15)
            & F.col("lang").isin("en", "de")
        )
    )

    # stage 2: decontamination — eval slice + any 4-gram overlap drops
    words = F.split("text", " ")
    nw = F.size(words)
    grams = F.when(
        nw >= _DECON_N,
        F.transform(
            F.sequence(F.lit(1), nw - (_DECON_N - 1)),
            lambda i: F.array_join(F.slice(words, i, _DECON_N), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))
    gram = F.explode(F.array_distinct(grams)).alias("gram")
    eval_grams = base.filter(F.col("doc_id") % _DECON_MOD == 0).select(gram).distinct()
    hit = (
        s1.select("doc_id", gram)
        .join(F.broadcast(eval_grams), "gram")
        .select("doc_id")
        .distinct()
    )
    s2 = scoped_persist(
        s1.filter(F.col("doc_id") % _DECON_MOD != 0).join(hit, "doc_id", "left_anti")
    )

    # stage 3: deterministic split; the train slice continues
    bucket = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1)
    s3all = scoped_persist(
        s2.withColumn(
            "split",
            F.when(bucket <= _SPLIT_TRAIN_MAX, "train")
            .when(bucket <= _SPLIT_VAL_MAX, "val")
            .otherwise("test"),
        )
    )
    s3 = scoped_persist(s3all.filter(F.col("split") == "train").drop("split"))

    # stage 4: greedy first-fit packing per doc_id%8 shard
    dd = s3.select(
        "doc_id",
        F.pmod("doc_id", F.lit(_PACK_SHARDS)).cast("int").alias("pack_shard"),
        F.col("n_tokens").cast("int").alias("n_tokens"),
    )

    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("doc_id").reset_index(drop=True)
        packs = []
        fill, pack_no = 0, 0
        first = True
        for nt in pdf["n_tokens"]:
            nt = int(nt)
            if first:
                fill, first = nt, False
            elif fill + nt <= _PACK_BUDGET:
                fill += nt
            else:
                pack_no += 1
                fill = nt
            packs.append(pack_no)
        pdf["pack_no"] = packs
        return pdf[["doc_id", "pack_shard", "pack_no"]]

    s4 = scoped_persist(
        dd.groupBy("pack_shard").applyInPandas(
            pack, schema="doc_id long, pack_shard int, pack_no long"
        )
    )

    # stage 5: salted shuffle position + export shard
    pos = F.md5(F.concat(F.lit(_EXPORT_POS_SALT), F.col("doc_id").cast("string")))
    s5 = scoped_persist(
        s3.join(s4.select("doc_id", "pack_shard", "pack_no"), "doc_id")
        .withColumn("pos", pos)
        .withColumn("export_shard", F.substring("pos", 1, 1))
    )

    # stage 6: JSONL export + round-trip read-back
    out = session_scratch_path(spark, sf_dir, "tde_train_export")
    (
        s5.select(
            "doc_id", "lang", "text", "n_tokens",
            "pack_shard", "pack_no", "pos", "export_shard",
        )
        .repartition("export_shard")
        .write.mode("overwrite")
        .partitionBy("export_shard")
        .json(out)
    )
    back = scoped_persist(
        spark.read.schema(
            "doc_id long, lang string, text string, n_tokens long,"
            " pack_shard int, pack_no long, pos string, export_shard string"
        ).json(out)
    )

    def cin(df: DataFrame) -> DataFrame:
        return df.agg(F.count(F.lit(1)).alias("n_in"))

    def cout(df: DataFrame, chk) -> DataFrame:
        return df.withColumn("_chk", chk).agg(
            F.count(F.lit(1)).alias("n_out"),
            F.coalesce(F.sum("n_tokens"), F.lit(0)).cast("long").alias("tok"),
            F.coalesce(F.expr("bit_xor(_chk)"), F.lit(0)).cast("long").alias("chk"),
        )

    def arow(no: int, name: str, din: DataFrame, dout: DataFrame) -> DataFrame:
        return din.crossJoin(dout).select(
            F.lit(no).cast("int").alias("stage_no"),
            F.lit(name).alias("stage"),
            F.col("n_in").cast("long").alias("docs_in"),
            F.col("n_out").cast("long").alias("docs_out"),
            (F.col("n_in") - F.col("n_out")).cast("long").alias("docs_dropped"),
            F.col("tok").cast("long").alias("tokens_out"),
            F.col("chk").cast("long").alias("checksum"),
        )

    chk_membership = _inc_hex15(
        F.col("doc_id").cast("string"), F.col("n_tokens").cast("string")
    )
    # stage 3: counts/tokens from the train slice, checksum over the
    # FULL three-way assignment
    out3 = (
        s3.agg(
            F.count(F.lit(1)).alias("n_out"),
            F.coalesce(F.sum("n_tokens"), F.lit(0)).cast("long").alias("tok"),
        ).crossJoin(
            s3all.withColumn(
                "_chk", _inc_hex15(F.col("doc_id").cast("string"), F.col("split"))
            ).agg(
                F.coalesce(F.expr("bit_xor(_chk)"), F.lit(0)).cast("long").alias("chk")
            )
        )
    )
    # stage 4: docs_out = distinct packs; tokens/conservation from the
    # joined relation; checksum binds the packing assignment
    out4 = (
        s4.agg(
            F.countDistinct("pack_shard", "pack_no").cast("long").alias("n_out")
        )
        .crossJoin(
            s5.agg(
                F.coalesce(F.sum("n_tokens"), F.lit(0)).cast("long").alias("tok")
            )
        )
        .crossJoin(
            s4.withColumn(
                "_chk",
                _inc_hex15(
                    F.col("doc_id").cast("string"),
                    F.col("pack_shard").cast("string"),
                    F.col("pack_no").cast("string"),
                ),
            ).agg(
                F.coalesce(F.expr("bit_xor(_chk)"), F.lit(0)).cast("long").alias("chk")
            )
        )
    )
    audit = (
        arow(1, "quality_filter", cin(base), cout(s1, chk_membership))
        .unionByName(arow(2, "decontaminate", cin(s1), cout(s2, chk_membership)))
        .unionByName(arow(3, "split_assign", cin(s2), out3))
        .unionByName(arow(4, "pack_sequences", cin(s3), out4))
        .unionByName(
            arow(
                5,
                "shuffle_shards",
                cin(s4),
                cout(
                    s5,
                    _inc_hex15(F.col("doc_id").cast("string"), F.col("pos")),
                ),
            )
        )
        .unionByName(
            arow(
                6,
                "jsonl_export",
                cin(s5),
                cout(
                    back,
                    _inc_hex15(
                        F.col("doc_id").cast("string"),
                        F.col("export_shard"),
                        F.col("pack_no").cast("string"),
                        F.col("n_tokens").cast("string"),
                        F.md5("text"),
                    ),
                ),
            )
        )
    )
    return audit.orderBy("stage_no")


@query(
    "pipeline_training_export_e2e",
    oracle=_texp_oracle(),
    tags=("pipeline", "export", "curation"),
)
def pipeline_training_export_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materializing wrapper around :func:`training_export_audit_plan`
    (the lazy core the plan test pins): the audit is 6 rows by
    construction, so collect_release frees every stage cache on the
    way out. Same conf window as pipeline_incremental_e2e."""
    n_docs = t(spark, sf_dir, "documents").count()  # metadata count
    with single_partition_loop(spark, n_docs):
        with cache_scope():
            return collect_release(training_export_audit_plan(spark, sf_dir))
