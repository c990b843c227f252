"""Per-operator unit tests on tiny inline DataFrames (SURVEY.md §5.2)
plus dedup idempotence/consistency properties (§5.5) and the
multimodal plumbing checks."""

from __future__ import annotations

from pyspark.sql import functions as F

from talkdesk_async_etl_spark.functions.expressions import (
    charge,
    cosine,
    count_if,
    dot,
    normalized_text,
    revenue,
)
from talkdesk_async_etl_spark.operators.multimodal import (
    decode_image_fake,
    extract_image_features,
    sample_video_frames,
    synthetic_media_df,
)
from talkdesk_async_etl_spark.plans.registry import load_all
from tests.conftest import SF_SMALL


def test_dedup_exact_idempotent(spark):
    """op(op(x)) == op(x): dedup output re-deduped is unchanged."""
    fn = load_all()["dedup_exact"].fn
    once = fn(spark, SF_SMALL)
    again = (
        once.groupBy("text")
        .agg(
            F.min("canonical_doc_id").alias("canonical_doc_id"),
            F.count("*").alias("n_copies"),
        )
    )
    assert once.count() == again.count()
    assert again.filter(F.col("n_copies") > 1).count() == 0


def test_minhash_lsh_subset_of_exact(spark):
    """LSH candidates verified with exact Jaccard must be ⊆ the exact
    operator's answer — and at this scale equal (miss prob ≈ 1e-7)."""
    reg = load_all()
    exact = {
        (r["doc_a"], r["doc_b"]) for r in reg["dedup_near_jaccard"].fn(spark, SF_SMALL).collect()
    }
    lsh = {
        (r["doc_a"], r["doc_b"]) for r in reg["dedup_minhash_lsh"].fn(spark, SF_SMALL).collect()
    }
    assert lsh <= exact
    assert lsh == exact  # banding should not miss at j >= 0.6


def test_simhash_pairs_symmetric_and_verified(spark):
    rows = load_all()["dedup_simhash"].fn(spark, SF_SMALL).collect()
    for r in rows:
        assert r["doc_a"] < r["doc_b"]
        assert 0 <= r["hamming"] <= 3


def test_ivf_recall_against_brute_force(spark):
    """sim_topk_ivf is approximate; measure recall vs the exact top-k
    at test scale (multi-probe over 2^8 buckets on word-soup vectors
    is lossy — the point is the mechanism + a recall floor)."""
    reg = load_all()
    exact = {
        (r["q_id"], r["neighbor_id"]) for r in reg["sim_topk_cosine"].fn(spark, SF_SMALL).collect()
    }
    approx = {
        (r["q_id"], r["neighbor_id"]) for r in reg["sim_topk_ivf"].fn(spark, SF_SMALL).collect()
    }
    recall = len(exact & approx) / len(exact)
    # 16 tables × 5 bits measures 0.72-0.80 recall@10 on this corpus
    # (near-orthogonal word-soup vectors — the hard case for LSH).
    assert recall >= 0.7, f"recall collapsed: {recall}"


def test_expression_library_values(spark):
    df = spark.createDataFrame(
        [(100.0, 0.1, 0.05)], "l_extendedprice double, l_discount double, l_tax double"
    )
    row = df.select(revenue().alias("rev"), charge().alias("chg")).first()
    assert abs(row["rev"] - 90.0) < 1e-9
    assert abs(row["chg"] - 94.5) < 1e-9
    assert df.agg(count_if(F.col("l_discount") > 0).alias("cnt")).first()["cnt"] == 1


def test_vector_expressions(spark):
    df = spark.createDataFrame([([1.0, 2.0, 2.0], [2.0, 4.0, 4.0])], "a array<double>, b array<double>")
    row = df.select(dot("a", "b").alias("d"), cosine("a", "b").alias("c")).first()
    assert abs(row["d"] - 18.0) < 1e-9
    assert abs(row["c"] - 1.0) < 1e-9  # parallel vectors


def test_normalized_text(spark):
    df = spark.createDataFrame([("  A  b\t\tC  ",)], "t string")
    assert df.select(normalized_text("t").alias("n")).first()["n"] == "a b c"


def test_multimodal_feature_plumbing(spark):
    media = synthetic_media_df(spark, n=30)
    feats = extract_image_features(media)
    rows = feats.collect()
    assert len(rows) == 10  # i % 3 == 0 → images
    assert set(feats.columns) == {"media_id", "n_bytes", "px_mean", "px_std", "width", "height"}
    by_id = {r["media_id"]: r for r in rows}
    assert by_id[0]["n_bytes"] == 128
    # Deterministic fake decoder → stable stats across runs.
    px = decode_image_fake(bytes(range(128)), 32, 16)
    assert px.shape == (16, 32)
    assert (px == decode_image_fake(bytes(range(128)), 32, 16)).all()


def test_multimodal_frame_grid(spark):
    media = synthetic_media_df(spark, n=9)
    frames = sample_video_frames(media, every_ms=500)
    got = {(r["media_id"], r["frame_ts_ms"]) for r in frames.collect()}
    expected = set()
    for i in (2, 5, 8):  # kind == video
        dur = 1000 * (1 + i % 5)
        expected |= {(i, ts) for ts in range(0, dur + 1, 500)}
    assert got == expected


def test_csv_text_ingestion(spark):
    from talkdesk_async_etl_spark.sources.io import csv_from_text

    df = csv_from_text(spark, "a,b\n1,x\n2,y\n")
    assert df.count() == 2 and set(df.columns) == {"a", "b"}


def test_secrets_provider_fail_fast(monkeypatch):
    import pytest

    from talkdesk_async_etl_spark.sources.secrets import EnvSecretsProvider, MissingSecretError

    monkeypatch.setenv("TDE_CLIENT_ID", "abc")
    p = EnvSecretsProvider()
    assert p.get("client-id") == "abc"
    with pytest.raises(MissingSecretError):
        p.get("nonexistent_key")
    with pytest.raises(MissingSecretError, match="client-id.*nope|nope"):
        p.load_required(("client-id", "nope"))


def test_bucketed_join_skips_shuffle(spark, tmp_path):
    """Two tables bucketed on the join key join WITHOUT an Exchange on
    either side — the write-time co-location contract of
    sources.io.write_bucketed."""
    import contextlib
    import io as _io

    from talkdesk_async_etl_spark.sources.io import read_table, write_bucketed

    orders = read_table(spark, SF_SMALL, "orders").select("o_orderkey", "o_custkey", "o_totalprice")
    li = read_table(spark, SF_SMALL, "lineitem").select("l_orderkey", "l_quantity")
    write_bucketed(orders, "b_orders", "o_orderkey", n_buckets=8, sort_col="o_orderkey")
    write_bucketed(
        li.withColumnRenamed("l_orderkey", "o_orderkey"), "b_lineitem", "o_orderkey",
        n_buckets=8, sort_col="o_orderkey",
    )
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")  # force SMJ path
        joined = spark.table("b_orders").join(spark.table("b_lineitem"), "o_orderkey")
        buf = _io.StringIO()
        with contextlib.redirect_stdout(buf):
            joined.explain("formatted")
        plan = buf.getvalue()
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan, "bucketed join should not shuffle"
        assert joined.count() == li.count()
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_lineitem")


def test_salted_join_same_answer(spark):
    """Salting must not change the join result — only its shuffle-key
    distribution."""
    from talkdesk_async_etl_spark.functions.expressions import salted_join
    from talkdesk_async_etl_spark.sources.io import read_table

    li = read_table(spark, SF_SMALL, "lineitem").selectExpr("l_orderkey as k", "l_quantity")
    o = read_table(spark, SF_SMALL, "orders").selectExpr("o_orderkey as k", "o_orderstatus")
    plain = li.join(o, "k").groupBy("o_orderstatus").count()
    salted = salted_join(li, o, "k").groupBy("o_orderstatus").count()
    assert {tuple(r) for r in plain.collect()} == {tuple(r) for r in salted.collect()}


def test_partitioned_sink_prunes(spark, tmp_path):
    """Date-partitioned sink (the reference's {report}/{date} path
    layout as REAL partition columns): a date-filtered read must show a
    partition filter and touch only matching partition directories."""
    import contextlib
    import io as _io

    from pyspark.sql import functions as F

    from talkdesk_async_etl_spark.sources.io import append_parquet, read_table

    events = read_table(spark, SF_SMALL, "events").withColumn(
        "event_date", F.to_date("ts")
    )
    out = str(tmp_path / "part_events")
    append_parquet(events, out, partition_by=("event_date",))
    back = spark.read.parquet(out).filter(F.col("event_date") == "2024-01-03")
    buf = _io.StringIO()
    with contextlib.redirect_stdout(buf):
        back.explain("formatted")
    plan = buf.getvalue()
    assert "PartitionFilters" in plan and "event_date" in plan
    n_days = events.select("event_date").distinct().count()
    assert back.count() == events.filter(F.col("event_date") == "2024-01-03").count()
    assert back.count() > 0 and n_days > 1


def test_blocked_topk_matches_exact(spark):
    """The block-scan id returns exactly sim_topk_cosine's answer: the
    same rows, cos_sim and rank included."""
    reg = load_all()
    exact = reg["sim_topk_cosine"].fn(spark, SF_SMALL).collect()
    blocked = reg["sim_topk_blocked"].fn(spark, SF_SMALL).collect()
    assert len(exact) > 0
    assert sorted(blocked) == sorted(exact)


def _topk_join_form(emb):
    """The declarative reference for exact_topk_neighbors: a broadcast
    nested-loop join of the query set onto the corpus with JVM
    ``aggregate(zip_with(...))`` dot products, ranked by a window."""
    from pyspark.sql import Window

    from talkdesk_async_etl_spark.functions.expressions import l2_norm
    from talkdesk_async_etl_spark.operators.similarity import _N_QUERIES, _TOP_K

    with_norm = emb.withColumn("norm", l2_norm("v"))
    q = with_norm.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("q_id"), F.col("v").alias("qv"), F.col("norm").alias("qn")
    )
    c = with_norm.select(
        F.col("vec_id").alias("neighbor_id"), F.col("v").alias("cv"), F.col("norm").alias("cn")
    )
    scored = c.join(F.broadcast(q), F.col("neighbor_id") != F.col("q_id")).withColumn(
        "sim", dot("qv", "cv") / (F.col("qn") * F.col("cn"))
    )
    w = Window.partitionBy("q_id").orderBy(F.col("sim").desc(), F.col("neighbor_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _TOP_K)
        .select("q_id", "neighbor_id", "sim", "rank")
    )


def test_embedding_cosine_block_kernel_bitwise_equals_join_form(spark):
    """The exact-cosine Arrow kernel must give the same answer as the
    declarative JVM form, for both reducers: dedup_embedding_cosine's
    threshold pairs (against _cosine_pairs_joined) and
    exact_topk_neighbors' top-k (against _topk_join_form). Rows match
    bit for bit — the kernel's dimension-order fold replays the
    ``aggregate(zip_with(...))`` float sequence exactly and Spark does
    the division, filter, ranking and rounding in both forms.

    Covers the fixture corpus plus degenerate inputs — an empty table,
    a NULL array, a NULL element, ragged lengths (two rows share an
    off-size length), a zero vector and a NaN element — with
    ``spark.sql.ansi.enabled`` true and false. Under ANSI a zero
    denominator under a non-NULL dot raises DIVIDE_BY_ZERO in both
    forms; without ANSI Spark returns NULL for ``x / 0.0`` (a NULL sim
    fails the threshold and ranks last), while a NaN sim passes
    ``>=`` and ranks first under Spark's NaN-is-largest order."""
    import struct

    from pyspark.errors import PySparkException

    from talkdesk_async_etl_spark.operators.cosine import cosine_candidates, fetch_small
    from talkdesk_async_etl_spark.operators.dedup import (
        _COSINE_THRESHOLD,
        _cosine_pairs_joined,
        _over_threshold,
    )
    from talkdesk_async_etl_spark.operators.similarity import exact_topk_neighbors
    from talkdesk_async_etl_spark.plans.cache import cache_scope
    from talkdesk_async_etl_spark.sources.io import read_table

    def bits(x):
        # NaN payload bits may legitimately differ between the JVM's
        # canonical NaN and x86's default quiet NaN, so NaN collapses
        # to a presence marker; every other double compares bitwise
        if x is None:
            return b"null"
        return b"nan" if x != x else struct.pack("<d", x)

    def run(build):
        """Rows (canonical, sorted) or the Spark error condition."""
        try:
            with cache_scope():
                rows = build().collect()
        except PySparkException as exc:
            return ("error", exc.getCondition())
        return sorted(tuple(v if isinstance(v, int) else bits(v) for v in r) for r in rows)

    def forms(emb):
        return {
            "pairs": (
                lambda: _over_threshold(
                    cosine_candidates(emb, fetch_small(emb), min_sim=_COSINE_THRESHOLD)
                ),
                lambda: _cosine_pairs_joined(emb),
            ),
            "topk": (lambda: exact_topk_neighbors(emb), lambda: _topk_join_form(emb)),
        }

    emb = read_table(spark, SF_SMALL, "embeddings", spread=True).select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("v")
    )
    for name, (kernel, join) in forms(emb).items():
        got = run(kernel)
        assert got and got[0] != "error" and got == run(join), name

    nan = float("nan")
    base = [
        (0, [1.0, 0.0, 0.0]),
        (2, [0.6, 0.8, 0.0]),   # sim 0.6 to vec 0 → a kept pair
        (3, [0.0, 3.0, 0.0]),   # ⊥ to vec 0 → sim 0.0, dropped
        (5, [2.0, 0.1, 0.0]),
        (6, [0.5, 0.5, 0.5]),
        (7, [-1.0, 0.2, 0.3]),
    ]
    cases = {
        "empty": [],
        "null_array": base + [(1, None), (8, None)],
        "null_element": base + [(1, [1.0, None, 0.5])],
        "ragged": base + [(1, [1.0, 0.5]), (8, [0.9, 0.4]), (9, [1.0, 0.0, 0.0, 1.0])],
        "zero_vector": base + [(1, [0.0, 0.0, 0.0])],
        "nan_element": base + [(1, [1.0, nan, 0.0])],
    }
    key = "spark.sql.ansi.enabled"
    saved = spark.conf.get(key, None)
    try:
        for ansi in ("true", "false"):
            spark.conf.set(key, ansi)
            for case, rows in cases.items():
                frame = spark.createDataFrame(rows, "vec_id long, v array<double>")
                for name, (kernel, join) in forms(frame).items():
                    want = run(join)
                    assert run(kernel) == want, (ansi, case, name, want)
                    if case == "zero_vector":
                        assert (want[0] == "error") == (ansi == "true"), (case, name, want)
    finally:
        if saved is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, saved)


def test_cosine_kernel_broadcast_released_with_scope(spark):
    """The kernel's broadcast joins the query's cache scope: nothing the
    query registered is left in the scoped list after the scope exits,
    and the still-lazy plan re-sends the released broadcast instead of
    failing."""
    from pyspark.broadcast import Broadcast

    from talkdesk_async_etl_spark.plans import cache

    reg = load_all()
    before = list(cache._SCOPED)
    with cache.cache_scope():
        df = reg["dedup_embedding_cosine"].fn(spark, SF_SMALL)
        inside = cache._SCOPED[len(before):]
        rows = df.collect()
    assert any(isinstance(x, Broadcast) for x in inside)
    assert cache._SCOPED == before
    assert sorted(df.collect()) == sorted(rows)


def test_shingles_short_docs_yield_empty(spark):
    """Docs shorter than k tokens must produce an EMPTY shingle set —
    not crash slice() or emit bogus short shingles (the oracle's
    range() join correctly yields none for them)."""
    from talkdesk_async_etl_spark.operators.dedup import _shingle_hashes, _shingles

    df = spark.createDataFrame(
        [("", ), ("one", ), ("one two", ), ("one two three", ), ("one two three four", )],
        ["text"],
    )
    rows = df.select(
        F.size(_shingles(F.col("text"))).alias("n_sh"),
        F.size(_shingle_hashes(F.col("text"))).alias("n_h"),
    ).collect()
    assert [r.n_sh for r in rows] == [0, 0, 0, 1, 2]
    assert [r.n_h for r in rows] == [0, 0, 0, 1, 2]


def test_multimodal_audio_features(spark):
    """Audio path mirrors the image plumbing: Arrow batches of blobs
    in, scalar feature rows out; deterministic under the seeded fake."""
    from talkdesk_async_etl_spark.operators.multimodal import (
        extract_audio_features,
        synthetic_media_df,
    )

    media = synthetic_media_df(spark, n=30)
    rows = {r["media_id"]: r for r in extract_audio_features(media).collect()}
    n_audio = media.filter("kind = 'audio'").count()
    assert len(rows) == n_audio
    for r in rows.values():
        assert r["n_samples"] >= 1
        assert 0.0 < r["rms"] < 1.0  # uniform[-1,1] waveform
        assert 0.0 <= r["zero_crossing_rate"] <= 1.0
        assert r["duration_s"] >= 0.0
    again = {r["media_id"]: r for r in extract_audio_features(media).collect()}
    assert {k: v["rms"] for k, v in rows.items()} == {k: v["rms"] for k, v in again.items()}


def test_multimodal_resize_fixed_grid(spark):
    """Resize emits fixed-size binary payloads with updated meta —
    uniform downstream batch shapes regardless of source dims."""
    from talkdesk_async_etl_spark.operators.multimodal import (
        resize_images,
        synthetic_media_df,
    )

    media = synthetic_media_df(spark, n=30)
    out = resize_images(media, target_w=8, target_h=4).collect()
    assert len(out) == media.filter("kind = 'image'").count()
    for r in out:
        assert (r["width"], r["height"]) == (8, 4)
        assert len(bytes(r["content"])) == 8 * 4  # uint8 grid


def test_chunking_covers_every_token(spark):
    """Chunk contract over doc lengths 0..130: contiguous chunk ids,
    stride-48 starts, every token in some chunk, last chunk reaches the
    end, and full reconstruction from stride-aligned pieces."""
    from talkdesk_async_etl_spark.operators.text import _CHUNK_SIZE, _CHUNK_STRIDE, text_chunk
    import pandas as pd

    docs = spark.createDataFrame(
        [(n, " ".join(f"t{i}" for i in range(n)) if n else "") for n in range(0, 131)],
        "doc_id long, text string",
    )
    docs.createOrReplaceTempView("documents_chunktest")

    # Reuse the operator's expression path via a monkeypatched reader.
    import talkdesk_async_etl_spark.operators.text as text_mod

    orig = text_mod.t
    text_mod.t = lambda _spark, _sf, _name, **kw: docs
    try:
        out = text_chunk(spark, "ignored").toPandas()
    finally:
        text_mod.t = orig

    for doc_id, grp in out.groupby("doc_id"):
        n = int(doc_id)  # doc_id == token count by construction
        toks = [f"t{i}" for i in range(n)]
        grp = grp.sort_values("chunk_id").reset_index(drop=True)
        assert list(grp["chunk_id"]) == list(range(len(grp)))
        covered = set()
        for _, row in grp.iterrows():
            start = int(row["chunk_id"]) * _CHUNK_STRIDE
            expect = toks[start : start + _CHUNK_SIZE]
            got = row["chunk_text"].split(" ") if row["chunk_text"] else []
            # split("") quirk: empty text tokenizes to [''] on both engines
            if n == 0:
                assert row["n_tokens"] == 1
                continue
            assert got == expect, (n, start)
            assert int(row["n_tokens"]) == len(expect)
            covered.update(range(start, start + len(expect)))
        if n > 0:
            assert covered == set(range(n))  # no token dropped


def test_kmeans_refine_inertia_non_increasing(spark):
    """Lloyd rounds must not increase inertia (assign-then-update each
    weakly improve the objective) and every vector stays assigned."""
    from talkdesk_async_etl_spark.operators.similarity import _as_double, kmeans_refine
    from talkdesk_async_etl_spark.sources.io import read_table

    emb = read_table(spark, SF_SMALL, "embeddings").select(
        "vec_id", _as_double("embedding").alias("v")
    )
    assigned, centroids, history = kmeans_refine(emb, n_centroids=8, rounds=3)
    assert len(history) == 3
    assert all(b <= a * (1 + 1e-9) for a, b in zip(history, history[1:])), history
    assert assigned.count() == emb.count()
    assert assigned.select("centroid_id").distinct().count() <= 8
    assert len(centroids) == 8 and len(centroids[0]) == 64
    # Returned assignments are AGAINST the returned (post-update)
    # centroids: their inertia continues the non-increasing sequence
    # (the half-step-stale pairing would generally break this).
    from pyspark.sql import functions as F

    final_inertia = assigned.agg(F.sum("sq_dist")).first()[0]
    assert final_inertia <= history[-1] * (1 + 1e-9)

    import pytest

    with pytest.raises(ValueError, match="rounds"):
        kmeans_refine(emb, n_centroids=8, rounds=0)


def test_winnowing_fingerprint_properties(spark):
    """Winnowing guarantees: fingerprints ⊆ rolling k-gram hashes, at
    least one per window, and docs sharing a long substring share a
    fingerprint even when their prefixes differ (local-edit
    robustness the whole-document md5 digest lacks)."""
    from talkdesk_async_etl_spark.operators.dedup import _shingle_hashes, winnow_fingerprints

    shared = " ".join(f"s{i}" for i in range(20))
    rows = [
        (1, "aa bb cc " + shared),
        (2, "xx yy zz qq " + shared),
        (3, "totally different words entirely here now"),
        (4, "one two"),  # shorter than k tokens
        (5, ""),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: (set(r["fp"]), set(r["sh"]), r["n_toks"])
        for r in df.select(
            "doc_id",
            winnow_fingerprints(F.col("text")).alias("fp"),
            _shingle_hashes(F.col("text")).alias("sh"),
            F.size(F.split("text", " ")).alias("n_toks"),
        ).collect()
    }
    for doc_id, (fp, sh, n_toks) in got.items():
        assert fp <= sh, doc_id  # fingerprints come from the k-gram hashes
        if n_toks >= 3:
            assert fp, doc_id  # every doc with >= k tokens has >= 1 fp
    # density: ≥ one fingerprint per `window` k-grams.
    n_grams_1 = got[1][2] - 2
    assert len(got[1][0]) >= n_grams_1 // 4
    # docs 1 and 2 share a 20-token substring → must share fingerprints.
    assert got[1][0] & got[2][0]
    # unrelated docs share nothing.
    assert not (got[1][0] & got[3][0])
    assert got[4][0] == set() or got[4][0] <= got[4][1]
    assert got[5][0] == set()


def test_cap_hot_keys_drops_only_hot_keys(spark):
    """The stop-shingle skew guard: keys above the document-frequency
    cap vanish before the self-join; everything else is untouched."""
    from talkdesk_async_etl_spark.operators.dedup import _cap_hot_keys

    rows = [(i, "hot") for i in range(12)] + [(100, "cold"), (101, "cold")]
    df = spark.createDataFrame(rows, "doc_id long, fp string")
    kept = _cap_hot_keys(df, "fp", cap=5).collect()
    assert {r["fp"] for r in kept} == {"cold"}
    assert len(kept) == 2
    # cap >= max frequency is a no-op
    assert _cap_hot_keys(df, "fp", cap=12).count() == 14


def test_bucket_pairs_matches_selfjoin_and_guards_edges(spark):
    """_bucket_pairs (the single-shuffle pair generator behind minhash
    banding and winnowing) must emit exactly the pairs the capped
    self-join form emitted: ordered (doc_a < doc_b), one row per
    (bucket, pair), buckets above the cap skipped, NULL keys producing
    no pairs (a NULL matches nothing in a join)."""
    from pyspark.sql import functions as F

    from talkdesk_async_etl_spark.operators.dedup import _bucket_pairs, _cap_hot_keys

    rows = (
        [(i, "hot") for i in range(6)]          # above cap=5 → dropped
        + [(10, "warm"), (11, "warm"), (12, "warm")]  # C(3,2)=3 pairs
        + [(20, "pair"), (21, "pair")]           # 1 pair
        + [(30, "lone")]                          # no pair
        + [(40, None), (41, None)]                # NULL: no pairs
    )
    df = spark.createDataFrame(rows, "doc_id long, k string")
    got = sorted(tuple(r) for r in _bucket_pairs(df, "k", cap=5).collect())
    assert got == [(10, 11), (10, 12), (11, 12), (20, 21)]
    # Equivalence with the anti-join-cap + self-join formulation.
    capped = _cap_hot_keys(df.filter(F.col("k").isNotNull()), "k", cap=5)
    a, b = capped.alias("a"), capped.alias("b")
    ref = sorted(
        tuple(r)
        for r in a.join(
            b, (F.col("a.k") == F.col("b.k")) & (F.col("a.doc_id") < F.col("b.doc_id"))
        )
        .select(F.col("a.doc_id"), F.col("b.doc_id"))
        .collect()
    )
    assert got == ref
    # A bucket of exactly cap docs survives.
    assert _bucket_pairs(df, "k", cap=3).count() == 3 + 1  # warm C(3,2) + pair


def test_incremental_lsh_gates_old_old_pairs(spark):
    """The incremental LSH path must pair new-vs-any but NEVER emit an
    old-vs-old pair, even when two old documents are near-identical —
    that's the entire incremental contract (old pairs were resolved by
    previous runs)."""
    from pyspark.sql import functions as F

    from talkdesk_async_etl_spark.operators.dedup_clusters import incremental_lsh_pairs_for
    from talkdesk_async_etl_spark.plans.cache import cache_scope

    base = " ".join(f"w{i}" for i in range(40))
    rows = [
        (0, base + " old_a", False),          # old near-dup of 1
        (1, base + " old_b", False),          # old near-dup of 0
        (2, base + " new_c", True),           # new near-dup of both
        (3, " ".join(f"z{i}" for i in range(40)), True),  # new, unrelated
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, is_new boolean")
    with cache_scope():
        got = {
            (r["doc_a"], r["doc_b"])
            for r in incremental_lsh_pairs_for(docs).collect()
        }
    assert (0, 1) not in got          # old x old gated out
    assert (0, 2) in got and (1, 2) in got  # new vs old both found
    assert all(3 not in p for p in got)     # unrelated new pairs nothing


def test_pack_sequences_invariants(spark):
    """Packing must cover every document exactly once, never overfill a
    pack (except a pack holding one over-budget document alone), and
    number packs contiguously from 0 per shard in doc_id order."""
    from collections import defaultdict

    from talkdesk_async_etl_spark.operators.text import (
        _PACK_BUDGET,
        text_pack_sequences,
    )

    rows = text_pack_sequences(spark, SF_SMALL).collect()
    docs = [r["doc_id"] for r in rows]
    assert len(docs) == len(set(docs)) == 500  # every doc exactly once
    fills, members = defaultdict(int), defaultdict(list)
    for r in rows:
        fills[(r["shard"], r["pack_no"])] += r["n_tokens"]
        members[(r["shard"], r["pack_no"])].append(r["n_tokens"])
    for key, fill in fills.items():
        assert fill <= _PACK_BUDGET or len(members[key]) == 1, key
    per_shard = defaultdict(set)
    for shard, pack_no in fills:
        per_shard[shard].add(pack_no)
    for shard, packs in per_shard.items():
        assert packs == set(range(len(packs))), (shard, sorted(packs))


def test_winnow_hot_fingerprint_cap_bounds_candidates(spark):
    """A boilerplate phrase shared by every document (the classic
    stop-shingle) makes the uncapped fingerprint join quadratic; with
    the cap below its document frequency the boilerplate fingerprints
    are dropped and the unique tails share nothing — zero pairs instead
    of all-pairs."""
    from talkdesk_async_etl_spark.operators.dedup import winnow_pairs_for

    boiler = " ".join(f"b{i}" for i in range(30))
    rows = [
        (d, boiler + " " + " ".join(f"u{d}x{i}" for i in range(10)))
        for d in range(12)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    uncapped = winnow_pairs_for(docs, cap=10**9).count()
    capped = winnow_pairs_for(docs, cap=5).count()
    assert uncapped == 12 * 11 // 2  # every pair shares the boilerplate
    assert capped == 0


def test_constructed_dupe_invariants_nonvacuous(spark):
    """The two round-4 driver invariants construct their own duplicate
    pairs (the testdata has none); assert the construction is real:
    simhash finds every constructed pair at hamming 0, and the winnow
    gate (>= 2 distinct fingerprints) keeps most of its candidate
    docs — an empty gated set would make the containment check
    vacuous."""
    from talkdesk_async_etl_spark.operators.dedup import (
        _N_SIMHASH_DUPES,
        _N_WINNOW_DUPES,
        winnow_fingerprints,
    )
    from talkdesk_async_etl_spark.sources.io import read_table

    reg = load_all()
    found = reg["dedup_simhash_dupes_ok"].fn(spark, SF_SMALL).collect()
    assert len(found) == _N_SIMHASH_DUPES
    assert all(r["hamming"] == 0 for r in found)

    docs = read_table(spark, SF_SMALL, "documents")
    gated = (
        docs.filter(F.col("doc_id") < _N_WINNOW_DUPES)
        .select(F.size(winnow_fingerprints(F.col("text"))).alias("nfp"))
        .filter(F.col("nfp") >= 2)
        .count()
    )
    assert gated >= _N_WINNOW_DUPES // 2
    assert reg["dedup_winnow_containment"].fn(spark, SF_SMALL).count() == 0


def test_scoped_cache_hygiene(spark):
    """Composed invariant queries must leave ZERO cached relations
    behind (collect_release), and plain operators' scoped persists are
    reclaimed by release_scoped — the long-lived-session contract."""
    from talkdesk_async_etl_spark.plans.cache import release_scoped

    reg = load_all()
    spark.catalog.clearCache()
    release_scoped()
    cm = spark._jsparkSession.sharedState().cacheManager()
    for name in ("dedup_lsh_containment", "sim_blocked_topk_ok"):
        reg[name].fn(spark, SF_SMALL).count()
        assert cm.isEmpty(), f"{name} left cached relations behind"
    reg["sim_topk_ivf"].fn(spark, SF_SMALL).count()
    assert not cm.isEmpty()  # plain operator: cache tracked, not leaked
    assert release_scoped() >= 1
    assert cm.isEmpty()


def test_cache_scope_releases_only_inner_persists(spark):
    """A composed invariant's eager release must not evict an OUTER
    pipeline's caches: release_scoped/collect_release stop at the
    innermost cache_scope floor, and scope exit cleans up exactly its
    own persists."""
    from talkdesk_async_etl_spark.plans.cache import (
        cache_scope,
        release_scoped,
        scoped_persist,
    )

    spark.catalog.clearCache()
    release_scoped()
    cm = spark._jsparkSession.sharedState().cacheManager()
    outer = scoped_persist(spark.range(10))
    outer.count()
    with cache_scope():
        inner = scoped_persist(spark.range(20))
        inner.count()
        assert release_scoped() == 1  # inner only — outer survives
    assert not cm.isEmpty(), "outer cache must survive the inner scope"
    assert release_scoped() == 1  # now the outer one
    assert cm.isEmpty()


def test_winnow_pairs_inclusion_invariants(spark, tmp_path):
    """Invariants behind dedup_winnow_pairs' rows-only check, on a
    constructed corpus (the testdata has near-dups but no exact dups):
    identical documents share ALL fingerprints so they must pair; a
    document that copies a long paragraph must pair with its source
    despite different surrounding text (the substring-reuse signal
    whole-document Jaccard misses); token-disjoint documents share no
    k-grams and must not pair."""
    from talkdesk_async_etl_spark.operators.dedup import dedup_winnow_pairs

    para = " ".join(f"p{i}" for i in range(15))
    rows = [
        (1, " ".join(f"a{i}" for i in range(10)) + " " + para),
        (2, " ".join(f"a{i}" for i in range(10)) + " " + para),  # exact dup of 1
        (3, " ".join(f"z{i}" for i in range(20)) + " " + para),  # copied paragraph
        (4, " ".join(f"q{i}" for i in range(40))),  # token-disjoint
        (5, "tiny doc"),
    ]
    spark.createDataFrame(rows, "doc_id long, text string").write.parquet(
        str(tmp_path / "documents.parquet")
    )
    pairs = {
        (r["doc_a"], r["doc_b"]): r["n_shared_fps"]
        for r in dedup_winnow_pairs(spark, str(tmp_path)).collect()
    }
    assert (1, 2) in pairs  # exact duplicates always pair
    assert (1, 3) in pairs and (2, 3) in pairs  # paragraph reuse detected
    assert not any(4 in p or 5 in p for p in pairs)  # disjoint/tiny: no pairs
    # Exact dup shares every fingerprint; the paragraph pair only the
    # paragraph's — strictly fewer.
    assert pairs[(1, 2)] > pairs[(1, 3)]


def test_decontaminate_never_flags_eval_docs(spark):
    """The contamination report covers TRAIN docs only (eval docs
    trivially 'contaminate' themselves) and every reported doc matched
    at least one eval 4-gram."""
    from talkdesk_async_etl_spark.operators.text_quality import _DECON_MOD

    out = load_all()["text_decontaminate"].fn(spark, SF_SMALL)
    rows = out.collect()
    assert rows, "decontamination must be non-vacuous on the fixture"
    assert all(r.doc_id % _DECON_MOD != 0 for r in rows)
    assert all(r.n_hit_grams >= 1 for r in rows)


def test_decontaminate_flags_a_planted_overlap(spark, tmp_path):
    """End-to-end on a constructed corpus: a train doc that copies an
    eval doc's 4-gram is flagged with the exact distinct-gram count; a
    disjoint doc is not; short (<4 words) docs never crash."""
    import os

    from talkdesk_async_etl_spark.operators.text_quality import text_decontaminate

    docs = spark.createDataFrame(
        [
            # eval doc (id 0 % 11 == 0): grams 'a b c d', 'b c d e'
            (0, "a b c d e", "en", "s", 9),
            # train doc repeating 'a b c d' twice -> ONE distinct hit
            (1, "a b c d x a b c d", "en", "s", 17),
            # train doc sharing no 4-gram
            (2, "p q r s t u", "en", "s", 11),
            # short doc: no 4-grams at all
            (3, "x y z", "en", "s", 5),
        ],
        "doc_id bigint, text string, lang string, source string, n_chars bigint",
    )
    sf_dir = str(tmp_path / "sf")
    os.makedirs(sf_dir)
    docs.coalesce(1).write.parquet(os.path.join(sf_dir, "documents.parquet"))
    got = {r.doc_id: r.n_hit_grams for r in text_decontaminate(spark, sf_dir).collect()}
    assert got == {1: 1}


def test_repetition_score_on_constructed_docs(spark, tmp_path):
    """A fully-repetitive doc scores dup fractions near 1 and is
    flagged; an all-distinct doc scores 0 everywhere and is not."""
    import os

    from talkdesk_async_etl_spark.operators.text_quality import text_repetition_score

    docs = spark.createDataFrame(
        [
            (1, "spam spam spam spam spam spam", "en", "s", 29),
            (2, "one two three four five six", "en", "s", 27),
        ],
        "doc_id bigint, text string, lang string, source string, n_chars bigint",
    )
    sf_dir = str(tmp_path / "sf")
    os.makedirs(sf_dir)
    docs.coalesce(1).write.parquet(os.path.join(sf_dir, "documents.parquet"))
    got = {r.doc_id: r for r in text_repetition_score(spark, sf_dir).collect()}
    spam, prose = got[1], got[2]
    assert spam.n_uniq_words == 1 and spam.n_uniq_bigrams == 1 and spam.n_uniq_trigrams == 1
    assert spam.dup_trigram_frac == 0.75 and spam.flagged  # (4-1)/4 repeats
    assert prose.dup_word_frac == 0.0 == prose.dup_bigram_frac == prose.dup_trigram_frac
    assert not prose.flagged


def test_quantize_int8_roundtrip_exact(spark):
    """The registered summary query asserts the half-step bound; here
    the actual int8 array round-trips: q in [-127,127] and
    dequantized values match the summary's max_err."""
    out = load_all()["sim_quantize_int8"].fn(spark, SF_SMALL)
    rows = out.collect()
    assert rows
    assert all(r.within_half_step for r in rows)
    assert all(0 < r.scale_q and 0 <= r.max_err <= r.scale_q / 2 + 1e-6 for r in rows)


def test_random_projection_preserves_distances_on_average(spark):
    """JL sanity: over many vector pairs the mean ratio of projected to
    original squared distance is near 1 (k=4 gives high per-pair
    variance ~sqrt(2/k), so assert the MEAN over ~250 consecutive-id
    pairs within a generous band)."""
    from pyspark.sql import functions as F2

    from talkdesk_async_etl_spark.operators.similarity import _as_double
    from talkdesk_async_etl_spark.sources.io import read_table

    proj = load_all()["sim_random_projection"].fn(spark, SF_SMALL)
    orig = read_table(spark, SF_SMALL, "embeddings").select(
        "vec_id", _as_double("embedding").alias("v")
    )
    both = orig.join(proj, "vec_id")
    a = both.alias("a")
    b = both.alias("b")
    pairs = a.join(b, F2.col("a.vec_id") + 1 == F2.col("b.vec_id"))
    d_orig = F2.aggregate(
        F2.zip_with("a.v", "b.v", lambda x, y: (x - y) * (x - y)),
        F2.lit(0.0),
        lambda s, x: s + x,
    )
    d_proj = sum(
        (F2.col(f"a.p{j}") - F2.col(f"b.p{j}")) * (F2.col(f"a.p{j}") - F2.col(f"b.p{j}"))
        for j in range(4)
    )
    row = pairs.agg(
        F2.avg(d_proj / d_orig).alias("mean_ratio"), F2.count("*").alias("n")
    ).collect()[0]
    assert row.n >= 200
    assert 0.7 <= row.mean_ratio <= 1.3, row.mean_ratio


def test_sample_deterministic_nested_and_reproducible(spark):
    """The hash-bucket sampler gives (a) nested samples — every row kept
    at rate r is kept at every rate > r — and (b) the same keep set
    regardless of physical partitioning."""
    from talkdesk_async_etl_spark.operators.sampling import sample_deterministic

    out = sample_deterministic(spark, SF_SMALL)
    rows = {(r.doc_id, r.bucket, r.rate_pct) for r in out.collect()}
    assert rows, "sampler must be non-vacuous on the fixture"
    # every kept row's bucket is under its rate (the filter's contract)
    assert all(b < rate for _, b, rate in rows)
    # nesting: the kept set at 20% is a subset of what ANY higher rate
    # keeps — equivalently, buckets < 20 appear for every rate tier
    low = {d for d, b, _ in rows if b < 20}
    assert low <= {d for d, b, _ in rows}
    # physical-layout independence: repartitioning the input cannot
    # change the decision (pure function of doc_id/source)
    again = {(r.doc_id, r.bucket, r.rate_pct) for r in out.repartition(7).collect()}
    assert rows == again


def test_mixture_upsample_exact_epoch_counts(spark):
    """Each document appears exactly ``weight`` times with contiguous
    epochs 1..weight."""
    from talkdesk_async_etl_spark.operators.sampling import text_mixture_upsample

    out = text_mixture_upsample(spark, SF_SMALL).collect()
    by_doc: dict[int, list[int]] = {}
    weight: dict[int, int] = {}
    for r in out:
        by_doc.setdefault(r.doc_id, []).append(r.epoch)
        weight[r.doc_id] = int(r.source[3:]) % 3 + 1
    assert by_doc, "upsample must be non-vacuous"
    for doc_id, epochs in by_doc.items():
        assert sorted(epochs) == list(range(1, weight[doc_id] + 1)), doc_id


def test_winsorize_bounds_and_clip_count(spark, tmp_path):
    """On a constructed distribution with one huge outlier per group:
    the outlier is clipped to p95 (max_clip < raw max), the clipped
    mean sits inside [min_clip, max_clip], and n_clipped counts only
    rows outside [p05, p95]."""
    import os

    from talkdesk_async_etl_spark.operators.stats import window_winsorize

    rows = [(i, "2024-01-01 00:00:00", i % 7, "a", float(v), "{}")
            for i, v in enumerate([1, 2, 3, 4, 5, 6, 7, 8, 9, 1000])]
    ev = spark.createDataFrame(
        rows,
        "event_id bigint, ts string, user_id bigint, event_type string, value double, props string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    sf_dir = str(tmp_path / "sf")
    os.makedirs(sf_dir)
    ev.coalesce(1).write.parquet(os.path.join(sf_dir, "events.parquet"))
    got = window_winsorize(spark, sf_dir).collect()
    assert len(got) == 1
    r = got[0]
    assert r.n == 10
    assert r.max_clip < 1000  # the outlier was clipped to p95
    assert r.min_clip <= r.avg_clip <= r.max_clip
    assert r.n_clipped == 2  # one row under p05, one over p95


def test_unigram_logprob_orders_common_above_rare(spark, tmp_path):
    """A doc of corpus-frequent words must out-score a doc of hapax
    words (the signal quality bucketing keys on), and every score is
    a finite negative number."""
    import math
    import os

    from talkdesk_async_etl_spark.operators.text_quality import text_unigram_logprob

    docs = spark.createDataFrame(
        [
            (1, "the the the the", "en", "s", 15),
            (2, "zyx wvu tsr qpo", "en", "s", 15),
        ],
        "doc_id bigint, text string, lang string, source string, n_chars bigint",
    )
    sf_dir = str(tmp_path / "sf")
    os.makedirs(sf_dir)
    docs.coalesce(1).write.parquet(os.path.join(sf_dir, "documents.parquet"))
    got = {r.doc_id: r.avg_logprob for r in text_unigram_logprob(spark, sf_dir).collect()}
    assert got[1] > got[2]
    assert all(math.isfinite(v) and v < 0 for v in got.values())


def test_write_partitioned_layout(spark, tmp_path):
    """The partitioned sink produces one hive directory per key with NO
    top-level data files (every row lives under a partition), and the
    reread equals the source."""
    import os

    from talkdesk_async_etl_spark.sources.io import read_table, write_partitioned

    d = read_table(spark, SF_SMALL, "documents")
    out = str(tmp_path / "ds")
    write_partitioned(d, out, partition_by=("lang",), sort_by=("doc_id",))
    entries = os.listdir(out)
    langs = {e for e in entries if e.startswith("lang=")}
    assert langs == {
        f"lang={r.lang}" for r in d.select("lang").distinct().collect()
    }
    assert not any(e.startswith("part-") for e in entries)
    back = spark.read.parquet(out)
    assert back.count() == d.count()
    # sortWithinPartitions: each file's doc_ids are non-decreasing
    import pyarrow.parquet as pq

    lang_dir = os.path.join(out, sorted(langs)[0])
    f = next(f for f in os.listdir(lang_dir) if f.endswith(".parquet"))
    ids = pq.read_table(os.path.join(lang_dir, f), columns=["doc_id"])["doc_id"].to_pylist()
    assert ids == sorted(ids)


def test_corrupt_recovery_quarantines_raw_lines(spark):
    """Beyond the oracle's counts: corrupt rows must carry the ORIGINAL
    line in ``_corrupt_record`` with every data column null (the replay
    contract), and good rows must parse with the corrupt column null."""
    import os

    from talkdesk_async_etl_spark.operators.ingest import (
        _CORRUPT_MOD,
        scan_corrupt_recovery,
    )
    from talkdesk_async_etl_spark.sources.io import session_scratch_path

    agg = scan_corrupt_recovery(spark, SF_SMALL).collect()[0]
    total = spark.read.parquet(os.path.join(SF_SMALL, "documents.parquet")).count()
    assert agg.n_good + agg.n_corrupt == total
    assert agg.n_corrupt > 0, "fixture must exercise the quarantine path"

    parsed = (
        spark.read.schema(
            "doc_id bigint, source string, n_chars bigint, _corrupt_record string"
        )
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        # the landing is session-keyed now (tempdir-race fix) — derive
        # the same path the operator wrote
        .json(session_scratch_path(spark, SF_SMALL, "tde_dirty_jsonl"))
    )
    bad = parsed.filter(parsed._corrupt_record.isNotNull()).collect()
    assert len(bad) == agg.n_corrupt
    for r in bad:
        assert r.source is None and r.n_chars is None
        assert r._corrupt_record.startswith('{"doc_id": ')
        # the raw line names the quarantined doc — replay is possible
        assert int(r._corrupt_record.split(":")[1].split(",")[0]) % _CORRUPT_MOD == 0


def test_schema_evolution_nullfill_matches_batches(spark):
    """mergeSchema must null-fill exactly the old batch: totals and the
    old-batch checksum recompute from the source table."""
    import os

    from pyspark.sql import functions as F

    from talkdesk_async_etl_spark.operators.ingest import scan_schema_evolution

    got = scan_schema_evolution(spark, SF_SMALL).collect()[0]
    d = spark.read.parquet(os.path.join(SF_SMALL, "documents.parquet"))
    old = d.filter(F.col("doc_id") % 2 == 0)
    assert got.n_total == d.count()
    assert got.n_lang_null == old.count()
    assert got.sum_old_batch_ids == old.agg(F.sum("doc_id")).collect()[0][0]


def test_compaction_lossless_and_fewer_files(spark):
    """The compaction rewrite must reduce file count from a genuinely
    fragmented state without losing or duplicating a row."""
    import os

    from talkdesk_async_etl_spark.operators.ingest import sink_compaction_ok

    got = sink_compaction_ok(spark, SF_SMALL).collect()[0]
    assert got.compacted_ok and got.many_before_ok
    assert got.n_rows == spark.read.parquet(
        os.path.join(SF_SMALL, "documents.parquet")
    ).count()


def test_shuffle_shards_partition_the_corpus(spark):
    """Shard manifest structure: every doc lands in exactly one shard
    (counts sum to the corpus), position bounds are consistent with the
    shard prefix, and the assignment is layout-independent."""
    import os

    from talkdesk_async_etl_spark.operators.sampling import sample_shuffle_shards

    rows = sample_shuffle_shards(spark, SF_SMALL).collect()
    total = spark.read.parquet(os.path.join(SF_SMALL, "documents.parquet")).count()
    assert sum(r.n_docs for r in rows) == total
    assert {r.shard for r in rows} <= set("0123456789abcdef")
    for r in rows:
        assert r.first_pos <= r.last_pos
        assert r.first_pos.startswith(r.shard) and r.last_pos.startswith(r.shard)


def test_event_transitions_account_for_every_nonfirst_event(spark):
    """Structural invariant the hash can't see alone: each user's first
    event has no predecessor, so transition count == events − users;
    every gap is non-negative (the order really was time-ascending)."""
    import os

    from pyspark.sql import functions as F

    from talkdesk_async_etl_spark.operators.windows import window_event_transitions

    out = window_event_transitions(spark, SF_SMALL).collect()
    ev = spark.read.parquet(os.path.join(SF_SMALL, "events.parquet"))
    n_events = ev.count()
    n_users = ev.select("user_id").distinct().count()
    assert sum(r.n_transitions for r in out) == n_events - n_users
    assert all(r.total_gap_us >= 0 for r in out)


def test_cohort_retention_week_zero_is_full_cohort(spark):
    """Every user is by definition active in their first week, so the
    offset-0 cell of each cohort equals the cohort's size, offsets are
    non-negative, and cohort sizes sum to the distinct user count."""
    import os

    from talkdesk_async_etl_spark.operators.stats import agg_cohort_retention

    rows = agg_cohort_retention(spark, SF_SMALL).collect()
    ev = spark.read.parquet(os.path.join(SF_SMALL, "events.parquet"))
    assert all(r.week_offset >= 0 for r in rows)
    zero = {r.cohort_week: r.active_users for r in rows if r.week_offset == 0}
    later = {
        (r.cohort_week, r.week_offset): r.active_users
        for r in rows
        if r.week_offset > 0
    }
    assert sum(zero.values()) == ev.select("user_id").distinct().count()
    # retention can never exceed the cohort's size
    assert all(n <= zero[cw] for (cw, _), n in later.items())


def test_histogram_covers_all_rows_in_range(spark):
    """Bucket counts partition the table: they sum to the row count,
    every bucket index is in [0, 16), and the extreme values land in
    the extreme buckets (min → 0, max → 15)."""
    import os

    from pyspark.sql import functions as F

    from talkdesk_async_etl_spark.operators.stats import _HIST_BUCKETS, agg_histogram

    rows = agg_histogram(spark, SF_SMALL).collect()
    ev = spark.read.parquet(os.path.join(SF_SMALL, "events.parquet"))
    assert sum(r.n_events for r in rows) == ev.count()
    assert all(0 <= r.bucket < _HIST_BUCKETS for r in rows)
    by_type = {}
    for r in rows:
        by_type.setdefault(r.event_type, set()).add(r.bucket)
    for buckets in by_type.values():
        assert 0 in buckets and (_HIST_BUCKETS - 1) in buckets


def test_knn_label_vote_predicts_once_per_query(spark):
    """The confusion matrix must account for every query exactly once,
    with predictions drawn from the real label vocabulary."""
    import os

    from talkdesk_async_etl_spark.operators.similarity import _N_QUERIES, sim_knn_label_vote

    rows = sim_knn_label_vote(spark, SF_SMALL).collect()
    assert sum(r.n_queries for r in rows) == _N_QUERIES
    emb = spark.read.parquet(os.path.join(SF_SMALL, "embeddings.parquet"))
    labels = {r[0] for r in emb.select("label").distinct().collect()}
    assert all(r.pred_label in labels and r.true_label in labels for r in rows)


def test_levenshtein_semantics_pin_cross_engine(spark):
    """dedup_levenshtein's hash-check rests on Spark and DuckDB
    computing the SAME edit distance. Pin the semantics both ways on
    constructed cases — classic, empty, unicode, and the thresholded
    variant's -1 bail-out — so an engine-side change surfaces here
    before the driver gate.

    The unicode case pins the KNOWN divergence: Spark counts code
    points (café→cafe = 1), DuckDB counts bytes (= 2) — which is why
    the registered query restricts its oracle twin to single-byte
    text on both sides."""
    import duckdb
    from pyspark.sql import functions as F

    cases = [
        ("kitten", "sitting"),  # classic: 3
        ("", "abc"),  # insertion-only: 3
        ("abc", "abc"),  # identical: 0
        ("café", "cafe"),  # unicode substitution: 1
        ("ab", "ba"),  # two substitutions (no transposition op): 2
    ]
    df = spark.createDataFrame(cases, "l string, r string")
    got = {
        (r.l, r.r): (r.d, r.dt)
        for r in df.select(
            "l",
            "r",
            F.levenshtein("l", "r").alias("d"),
            F.expr("levenshtein(l, r, 2)").alias("dt"),
        ).collect()
    }
    con = duckdb.connect()
    for l, r in cases:
        (want,) = con.execute("SELECT levenshtein(?, ?)", [l, r]).fetchone()
        d, dt = got[(l, r)]
        if (l, r) == ("café", "cafe"):
            assert d == 1, "Spark counts code points"
            assert want == 2, "DuckDB counts bytes"
            continue
        assert d == want, (l, r, d, want)
        # thresholded form agrees below the threshold, bails to -1 above
        assert dt == (want if want <= 2 else -1), (l, r, dt, want)
    con.close()
    assert got[("kitten", "sitting")][0] == 3


def test_pagerank_constructed_graphs(spark):
    """Pin the PageRank core's arithmetic on graphs with known
    solutions: a symmetric 3-cycle stays at the uniform fixpoint
    exactly, and a 2-node chain matches the hand-iterated recurrence
    (including the dropped-dangling-mass convention)."""
    from pyspark.sql import functions as F

    from talkdesk_async_etl_spark.operators.graph import pagerank_from_edges
    from talkdesk_async_etl_spark.plans.cache import cache_scope

    cycle = spark.createDataFrame(
        [(0, 1, 1.0), (1, 2, 1.0), (2, 0, 1.0)], "src int, dst int, w double"
    )
    with cache_scope():
        got = {r.node: r.pr for r in pagerank_from_edges(cycle, iters=5).collect()}
    assert all(abs(pr - 1 / 3) < 1e-12 for pr in got.values()), got

    chain = spark.createDataFrame([(0, 1, 2.0)], "src int, dst int, w double")
    with cache_scope():
        got = {r.node: r.pr for r in pagerank_from_edges(chain, iters=5).collect()}
    # Hand-iterate: node 1 is dangling, so its mass is dropped each
    # round; node 0 never receives, settling at (1-d)/2 immediately.
    d, pr0, pr1 = 0.85, 0.5, 0.5
    for _ in range(5):
        pr0, pr1 = (1 - d) / 2, (1 - d) / 2 + d * pr0
    assert abs(got[0] - pr0) < 1e-12 and abs(got[1] - pr1) < 1e-12, got


def test_gap_fill_spans_are_dense_and_zero_filled(spark):
    """Constructed sparse series: each user's output must cover every
    day of their own [min, max] span exactly once, with 0 on the gap
    days and the original counts elsewhere."""
    import datetime as dt

    from talkdesk_async_etl_spark.operators.stats import agg_gap_fill_daily
    from tests.conftest import SF_SMALL

    out = agg_gap_fill_daily(spark, SF_SMALL).collect()
    by_user: dict[int, dict] = {}
    for r in out:
        by_user.setdefault(r.user_id, {})[r.day] = r.n_events
    assert by_user
    for user, days in by_user.items():
        d0, d1 = min(days), max(days)
        span = (d1 - d0).days + 1
        assert len(days) == span, (user, len(days), span)  # dense, no dup days
        assert all(
            d0 + dt.timedelta(days=i) in days for i in range(span)
        ), user
        assert days[d0] > 0 and days[d1] > 0, (user, "span endpoints active")


def test_wav_decoder_is_real():
    """decode_wav_real must be an actual RIFF/PCM parser: exact
    round-trip of encoded samples AND codec-like failure on garbage —
    the two properties a deterministic fake can't have."""
    import numpy as np
    import pytest as _pytest

    from talkdesk_async_etl_spark.operators.multimodal import (
        _wav_pcm,
        decode_wav_real,
        encode_wav,
    )

    pcm = _wav_pcm(5)
    blob = encode_wav(pcm, sample_rate=8000)
    assert blob[:4] == b"RIFF" and blob[8:12] == b"WAVE"  # spec container
    samples, rate = decode_wav_real(blob)
    assert rate == 8000
    assert np.array_equal(samples, pcm)  # bit-exact PCM recovery
    with _pytest.raises(Exception):
        decode_wav_real(b"\x00" * 64)  # garbage must fail, not fake out


def test_wav_stats_from_real_bytes(spark):
    """End-to-end real-codec path: WAV blobs through mapInPandas →
    stats must equal numpy's answer on the formula-generated PCM."""
    import numpy as np

    from talkdesk_async_etl_spark.operators.multimodal import (
        _wav_pcm,
        extract_wav_stats,
        synthetic_wav_df,
    )

    got = {r["media_id"]: r for r in extract_wav_stats(synthetic_wav_df(spark, 6)).collect()}
    assert len(got) == 6
    for i in range(6):
        s = _wav_pcm(i).astype(np.int64)
        r = got[i]
        assert r["n_samples"] == len(s)
        assert r["amp_min"] == int(s.min()) and r["amp_max"] == int(s.max())
        assert r["amp_mean"] == round(float(s.sum()) / len(s), 6)


def test_ppm_decoder_is_real():
    """decode_ppm_real must be an actual P6 parser: bit-exact pixel
    round-trip (incl. a comment in the header, which the spec allows)
    and codec-like failure on garbage/truncation."""
    import numpy as np
    import pytest as _pytest

    from talkdesk_async_etl_spark.operators.multimodal import (
        _ppm_pixels,
        decode_ppm_real,
        encode_ppm,
    )

    px = _ppm_pixels(4)
    blob = encode_ppm(px)
    assert blob.startswith(b"P6\n")
    assert np.array_equal(decode_ppm_real(blob), px)
    # spec allows comments between header fields
    commented = blob.replace(b"P6\n", b"P6\n# a comment\n", 1)
    assert np.array_equal(decode_ppm_real(commented), px)
    with _pytest.raises(Exception):
        decode_ppm_real(b"JUNK" + blob[4:])
    with _pytest.raises(Exception):
        decode_ppm_real(blob[:-5])  # truncated raster


def test_fill_forward_leading_nulls_and_carry(spark):
    """Constructed frame: leading NULLs stay NULL (no value to carry),
    interior gaps carry the LAST defined value, and the per-user
    rollup counts both behaviors."""
    import datetime as dt

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    base = dt.datetime(2024, 1, 1)
    rows = [
        # user 1: starts undefined (event_id 0 divisible by 3 → NULL)
        (1, 0, base, 10.0),
        (1, 1, base + dt.timedelta(minutes=1), 20.0),
        (1, 3, base + dt.timedelta(minutes=2), 30.0),  # NULLed, carries 20.0
        # user 2: fully defined
        (2, 1, base, 5.0),
        (2, 2, base + dt.timedelta(minutes=1), 7.0),
    ]
    df = spark.createDataFrame(rows, "user_id long, event_id long, ts timestamp, value double")
    v = F.when(F.col("event_id") % 3 == 0, F.lit(None)).otherwise(F.col("value"))
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    got = {
        r["user_id"]: r
        for r in df.withColumn("fv", F.last(v, ignorenulls=True).over(w))
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.count("fv").alias("n_def"),
            F.sum(F.floor(F.col("fv") * 1e6 + F.lit(0.5)).cast("bigint")).alias("s"),
        )
        .collect()
    }
    assert got[1]["n"] == 3 and got[1]["n_def"] == 2  # leading NULL not filled
    assert got[1]["s"] == 40_000_000  # 20.0 (defined) + 20.0 (carried)
    assert got[2]["n_def"] == 2 and got[2]["s"] == 12_000_000


def test_cogroup_asof_bucket_edges():
    """The cogroup kernel handles: empty click side (all unmatched),
    exact-timestamp match (<= semantics), out-of-tolerance gap, and
    multiple users in one bucket."""
    import pandas as pd

    from talkdesk_async_etl_spark.operators.udfs import (
        _ASOF_TOL_US,
        _cogroup_asof_bucket,
    )

    t0 = pd.Timestamp("2024-01-01")
    left = pd.DataFrame(
        {
            "user_id": [1, 1, 2],
            "ts": [t0, t0 + pd.Timedelta(hours=5), t0 + pd.Timedelta(hours=1)],
        }
    )
    right = pd.DataFrame(
        {
            "user_id": [1, 2],
            # user 1: click EXACTLY at the first purchase (gap 0, <= matches);
            # it is also the latest click before the +5h purchase but 5h > 2h tol.
            "ts": [t0, t0 + pd.Timedelta(minutes=30)],
        }
    )
    res = _cogroup_asof_bucket(left, right).set_index("user_id")
    assert res.loc[1, "n_purchases"] == 2 and res.loc[1, "n_matched"] == 1
    assert res.loc[1, "gap_sum_micros"] == 0  # exact-ts match
    assert res.loc[2, "n_matched"] == 1
    assert res.loc[2, "gap_sum_micros"] == 30 * 60 * 1_000_000
    assert 5 * 3600 * 1_000_000 > _ASOF_TOL_US  # the unmatched case is real
    # empty right side: every purchase unmatched, zero gaps
    empty = _cogroup_asof_bucket(left, right.iloc[0:0]).set_index("user_id")
    assert int(empty["n_matched"].sum()) == 0
    assert int(empty.loc[1, "n_purchases"]) == 2
    # empty left side: typed empty result
    none = _cogroup_asof_bucket(left.iloc[0:0], right)
    assert none.empty and list(none.columns) == [
        "user_id", "n_purchases", "n_matched", "gap_sum_micros",
    ]


def test_sessionize_gap_islands(spark):
    """Constructed stream: events 10 min apart share a session; a
    31-min gap opens a new one; session ordinals are per-user."""
    import datetime as dt

    from talkdesk_async_etl_spark.operators.windows import window_sessionize_gap

    base = dt.datetime(2024, 1, 1)
    rows = []
    # user 1: 3 events in session 1 (gaps 10 min), then +31 min -> session 2
    for i, mins in enumerate([0, 10, 20, 51]):
        rows.append((1, i, base + dt.timedelta(minutes=mins)))
    # user 2: single event
    rows.append((2, 9, base))
    df = spark.createDataFrame(rows, "user_id long, event_id long, ts timestamp")
    src = df.sparkSession  # reuse the session fixture's catalog
    import tempfile

    with tempfile.TemporaryDirectory() as d:
        df.write.parquet(d + "/events.parquet")
        got = {
            (r["user_id"], r["session_no"]): r
            for r in window_sessionize_gap(src, d).collect()
        }
    assert got[(1, 1)]["n_events"] == 3
    assert got[(1, 1)]["dur_micros"] == 20 * 60 * 1_000_000
    assert got[(1, 2)]["n_events"] == 1 and got[(1, 2)]["dur_micros"] == 0
    assert got[(2, 1)]["n_events"] == 1


def _events_dir(spark, rows, tmp):
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, ts timestamp, event_type string, value double"
    )
    df.write.mode("overwrite").parquet(tmp + "/events.parquet")
    return tmp


def test_match_pattern_latest_click_governs(spark, tmp_path):
    """The sentinel carry must evaluate the LATEST click: a click with
    no prior view blocks the pattern even when an OLDER click did have
    a view (the bug a naive last-non-null view-at-click carry has)."""
    import datetime as dt

    from talkdesk_async_etl_spark.operators.windows import window_match_pattern

    base = dt.datetime(2024, 1, 1)
    h = dt.timedelta(hours=1)
    rows = [
        # user 1: view -> click -> purchase, all within bounds: MATCH
        (1, 1, base, "view", 0.0),
        (2, 1, base + h, "click", 0.0),
        (3, 1, base + 2 * h, "purchase", 0.0),
        # user 2: view -> click(ok) ... then a NEW user-2 view-less
        # click right before the purchase: latest click has a view 100
        # days back -> its gap blows the bound: NO MATCH
        (4, 2, base - dt.timedelta(days=100), "view", 0.0),
        (5, 2, base, "click", 0.0),  # gap to view: 100 d > 48 h
        (6, 2, base + h, "purchase", 0.0),
        # user 3: click with NO view ever, then purchase: NO MATCH
        (7, 3, base, "click", 0.0),
        (8, 3, base + h, "purchase", 0.0),
    ]
    d = _events_dir(spark, rows, str(tmp_path))
    got = {r["user_id"]: r for r in window_match_pattern(spark, d).collect()}
    assert got[1]["n_pattern"] == 1
    assert got[2]["n_pattern"] == 0
    assert got[3]["n_pattern"] == 0


def test_scd2_versions_and_prefix_facts(spark, tmp_path):
    """SCD2 semantics: a purchase before any signup stays NULL; later
    purchases pick the version open at their event time; a same-instant
    signup is visible to the purchase."""
    import datetime as dt

    from talkdesk_async_etl_spark.operators.asof import join_scd2_point_in_time

    base = dt.datetime(2024, 1, 1)
    d1 = dt.timedelta(days=1)
    rows = [
        (1, 1, base + d1, "purchase", 0.0),          # before any version -> NULL
        (2, 1, base + 2 * d1, "signup", 10.9),       # v1, plan 10
        (3, 1, base + 3 * d1, "purchase", 0.0),      # v1
        (4, 1, base + 4 * d1, "signup", 20.2),       # v2, plan 20
        (5, 1, base + 4 * d1, "purchase", 0.0),      # same instant -> v2
        (6, 1, base + 5 * d1, "purchase", 0.0),      # v2
    ]
    d = _events_dir(spark, rows, str(tmp_path))
    got = {r["event_id"]: r for r in join_scd2_point_in_time(spark, d).collect()}
    assert got[1]["version_no"] is None and got[1]["plan_level"] is None
    assert got[3]["version_no"] == 1 and got[3]["plan_level"] == 10
    assert got[5]["version_no"] == 2 and got[5]["plan_level"] == 20
    assert got[6]["version_no"] == 2 and got[6]["plan_level"] == 20


def test_star_contraction_matches_label_propagation(spark):
    """Both components algorithms must produce identical labels on the
    shapes where they differ most: a long chain (diameter >> log n), a
    hub star, and a mixed component with a non-minimal hub."""
    from talkdesk_async_etl_spark.operators.dedup_clusters import (
        components_large_small_star,
        propagate_min_labels,
    )
    from talkdesk_async_etl_spark.plans.cache import cache_scope

    pairs = [
        # chain 1-2-3-4-5-6-7-8 (diameter 7)
        (1, 2), (2, 3), (3, 4), (4, 5), (5, 6), (6, 7), (7, 8),
        # star hubbed at 100 (hub is NOT the component min: 50 < 100)
        (100, 50), (100, 101), (100, 102), (100, 103),
        # two-node component
        (200, 201),
    ]
    df = spark.createDataFrame(pairs, "doc_a long, doc_b long")
    with cache_scope():
        star = {r["doc_id"]: r["component_id"]
                for r in components_large_small_star(df).collect()}
    with cache_scope():
        prop = {r["doc_id"]: r["component_id"]
                for r in propagate_min_labels(df).collect()}
    assert star == prop
    assert star[8] == 1 and star[103] == 50 and star[201] == 200


def test_pq_returns_full_ranked_topk(spark):
    """PQ output contract: a full, densely-ranked top-10 per query —
    a lost shortlist block or a rerank join that drops vectors shows
    up as a short or gapped ranking."""
    from pyspark.sql import functions as F

    from talkdesk_async_etl_spark.operators.similarity import sim_topk_pq

    df = sim_topk_pq(spark, SF_SMALL)
    assert df.count() == 50  # 5 queries x top-10
    ranks = df.groupBy("q_id").agg(F.max("rank").alias("mx"), F.count("*").alias("n")).collect()
    for r in ranks:
        assert r["mx"] == 10 and r["n"] == 10


def test_star_contraction_matches_union_find_random_graphs(spark):
    """Randomized (fixed-seed) equivalence: on three random graph
    shapes — sparse, clustered, and preferential-attachment-ish — the
    star-contraction labels must equal a python union-find reference
    relabeled to component minima."""
    import random

    from talkdesk_async_etl_spark.operators.dedup_clusters import components_large_small_star
    from talkdesk_async_etl_spark.plans.cache import cache_scope

    def union_find_labels(pairs):
        parent = {}

        def find(x):
            parent.setdefault(x, x)
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in pairs:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        comp = {}
        for n in list(parent):
            comp.setdefault(find(n), []).append(n)
        return {n: min(members) for members in comp.values() for n in members}

    for seed, n_nodes, n_edges in ((1, 40, 30), (2, 60, 80), (3, 50, 49)):
        rng = random.Random(seed)
        pairs = set()
        while len(pairs) < n_edges:
            a, b = rng.randrange(n_nodes), rng.randrange(n_nodes)
            if a != b:
                pairs.add((min(a, b) + 1000, max(a, b) + 1000))
        pairs = sorted(pairs)
        df = spark.createDataFrame(pairs, "doc_a long, doc_b long")
        with cache_scope():
            got = {r["doc_id"]: r["component_id"]
                   for r in components_large_small_star(df).collect()}
        assert got == union_find_labels(pairs), f"seed {seed} mismatch"


def test_kcore_peels_chain_keeps_clique(spark, tmp_path):
    """Constructed check of the peel loop itself (the registered query
    derives its graph from the trade tables; here we drive the same
    loop body over a known shape): a 6-clique plus a pendant chain —
    the chain must peel away round by round, the clique must survive
    with degree 5."""
    from pyspark.sql import functions as F

    k = 5
    clique = [(a, b) for a in range(6) for b in range(a + 1, 6)]
    chain = [(5, 10), (10, 11), (11, 12)]
    edges = spark.createDataFrame(clique + chain, "a long, b long").localCheckpoint()
    n_edges = edges.count()
    for _ in range(8):
        deg = (
            edges.select(F.col("a").alias("node"))
            .union(edges.select(F.col("b").alias("node")))
            .groupBy("node").agg(F.count(F.lit(1)).alias("deg"))
        )
        keep = F.broadcast(deg.filter(F.col("deg") >= k).select("node"))
        pruned = (
            edges.join(keep, edges.a == keep.node, "left_semi")
            .join(keep, edges.b == keep.node, "left_semi")
            .localCheckpoint()
        )
        n_pruned = pruned.count()
        edges, stable = pruned, n_pruned == n_edges
        n_edges = n_pruned
        if stable:
            break
    survivors = {
        r["node"]
        for r in edges.select(F.col("a").alias("node"))
        .union(edges.select(F.col("b").alias("node")))
        .distinct()
        .collect()
    }
    assert survivors == {0, 1, 2, 3, 4, 5}
    assert n_edges == 15  # the clique's edges, chain fully peeled


def test_arrow_norm_batches_empty_lists():
    """ADVICE fix pin: _arrow_norm_batches must survive every empty-list
    placement — interior, trailing (start offset == len(values), which
    reduceat rejects), and an all-empty batch (reduceat index 0 on an
    empty array) — and emit 0 for each, not a neighbour's sum."""
    import pyarrow as pa

    from talkdesk_async_etl_spark.operators.udfs import _arrow_norm_batches

    def run(lists):
        batch = pa.RecordBatch.from_arrays(
            [
                pa.array(list(range(len(lists))), type=pa.int64()),
                pa.array(lists, type=pa.list_(pa.float32())),
            ],
            names=["vec_id", "embedding"],
        )
        (out,) = list(_arrow_norm_batches([batch]))
        return out.column(1).to_pylist(), out.column(2).to_pylist()

    # interior + trailing empties
    dims, norms = run([[0.5, 0.5], [], [0.5], []])
    assert dims == [2, 0, 1, 0]
    assert norms == [500_000_000_000, 0, 250_000_000_000, 0]
    # all-empty batch
    dims, norms = run([[], [], []])
    assert dims == [0, 0, 0] and norms == [0, 0, 0]
    # leading empty
    dims, norms = run([[], [1.0]])
    assert dims == [0, 1] and norms == [0, 1_000_000_000_000]


def test_star_contraction_signature_not_commutative_collision(spark):
    """ADVICE fix pin: the convergence signature must distinguish the
    documented collision class of the old (count, sum(u*1000003+v))
    form — {(5,1),(3,2)} vs {(5,2),(3,1)} share count and linear sum
    but are different edge sets."""
    from pyspark.sql import functions as F

    def sig(pairs):
        df = spark.createDataFrame(pairs, "u long, v long")
        row = df.agg(
            F.count(F.lit(1)).alias("n"),
            F.bit_xor(F.xxhash64(F.col("u"), F.col("v"))).alias("h"),
        ).collect()[0]
        return (row["n"], row["h"])

    a, b = [(5, 1), (3, 2)], [(5, 2), (3, 1)]
    # the old linear form collides on exactly this pair of sets
    assert 5 * 1_000_003 + 1 + 3 * 1_000_003 + 2 == 5 * 1_000_003 + 2 + 3 * 1_000_003 + 1
    assert sig(a) != sig(b)
    assert sig(a) == sig(list(reversed(a)))  # still order-independent


def test_python_datasource_remainder_rows_exact(spark):
    """Split planning must emit every id exactly once even when the
    row count does not divide the partition count (remainder rows land
    in the last split) — an off-by-one drops or doubles ids."""
    from pyspark.sql import functions as F

    from talkdesk_async_etl_spark.operators.engine_api import SynthRowsDataSource

    spark.dataSource.register(SynthRowsDataSource)
    df = (
        spark.read.format("synthrows")
        .option("n_rows", 103)  # 103 = 3*34 + 1: remainder forced
        .option("partitions", 3)
        .load()
    )
    got = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("id").alias("nd"),
        F.sum("id").alias("s"),
    ).collect()[0]
    assert (got["n"], got["nd"], got["s"]) == (103, 103, 103 * 102 // 2)


def test_transpose_report_shape(spark):
    """scan_transpose output contract: one row per metric, one column
    per order status, BIGINT-lossless."""
    df = load_all()["scan_transpose"].fn(spark, SF_SMALL)
    rows = {r["key"]: r for r in df.collect()}
    assert set(rows) == {"n_orders", "total_cents"}
    assert set(df.columns) == {"key", "F", "O", "P"}
    for r in rows.values():
        assert all(isinstance(r[c], int) for c in ("F", "O", "P"))


def test_apply_in_arrow_group_stats_quantized():
    """The Arrow group kernel quantizes per element BEFORE summing —
    constructed values whose float sum is order-dependent must still
    produce the exact integer total."""
    import pyarrow as pa

    from talkdesk_async_etl_spark.operators.engine_api import _arrow_group_stats

    tbl = pa.table(
        {
            "event_type": ["x"] * 4,
            "user_id": [7, 3, 9, 5],
            "value": [0.1, 0.2, 0.0000005, 1e6],
        }
    )
    out = _arrow_group_stats(tbl).to_pydict()
    # floor-half-up per element: 100000 + 200000 + 1 (0.5 rounds up) + 1e12
    assert out["value_sum_micros"] == [100_000 + 200_000 + 1 + 10**12]
    assert out["n"] == [4] and out["min_user"] == [3] and out["max_user"] == [9]


def test_spatial_grid_equals_brute_force(spark, tmp_path):
    """Grid join vs a python brute-force reference on constructed key
    sets: the 3x3 neighborhood must find EVERY pair within r (incl.
    exact-boundary d2 == r^2 and cross-cell diagonals) and nothing
    beyond."""
    from talkdesk_async_etl_spark.operators.spatial import (
        _R,
        _SPACE,
        join_spatial_grid,
    )

    ckeys = list(range(1, 120))
    skeys = list(range(1, 25))
    spark.createDataFrame([(k,) for k in ckeys], "c_custkey long").write.parquet(
        str(tmp_path / "customer.parquet")
    )
    spark.createDataFrame([(k,) for k in skeys], "s_suppkey long").write.parquet(
        str(tmp_path / "supplier.parquet")
    )

    def cpos(k):
        return ((k * 48271) % _SPACE, (k * 69621 + 12345) % _SPACE)

    def spos(k):
        return ((k * 16807 + 333333) % _SPACE, (k * 65539 + 777777) % _SPACE)

    expect = {}
    for ck in ckeys:
        cx, cy = cpos(ck)
        d2s = []
        for sk in skeys:
            sx, sy = spos(sk)
            d2 = (cx - sx) ** 2 + (cy - sy) ** 2
            if d2 <= _R * _R:
                d2s.append(d2)
        if d2s:
            expect[ck] = (len(d2s), min(d2s), sum(d2s))
    got = {
        r["c_custkey"]: (r["n_within"], r["min_d2"], r["sum_d2"])
        for r in join_spatial_grid(spark, str(tmp_path)).collect()
    }
    assert expect, "constructed fixture must be non-vacuous"
    assert got == expect


def test_cooccurrence_support_threshold(spark, tmp_path):
    """Constructed journeys: a pair shared by 6 users survives the
    support-5 cut, a pair shared by 2 users does not; repeated events
    of one type for one user count ONCE."""
    from talkdesk_async_etl_spark.operators.mining import agg_cooccurrence_pairs

    import datetime

    ts = datetime.datetime(2024, 1, 1)  # read_table probes events.ts
    rows = []
    for u in range(6):  # users 0-5: {click, view} — click repeated
        rows += [(u, "click", ts), (u, "click", ts), (u, "view", ts)]
    for u in (10, 11):  # only 2 users: {click, error}
        rows += [(u, "click", ts), (u, "error", ts)]
    spark.createDataFrame(
        rows, "user_id long, event_type string, ts timestamp"
    ).write.parquet(str(tmp_path / "events.parquet"))
    got = {
        (r["et_a"], r["et_b"]): r["n_users"]
        for r in agg_cooccurrence_pairs(spark, str(tmp_path)).collect()
    }
    assert got == {("click", "view"): 6}


def test_logreg_flag_consistent_with_probability(spark):
    """is_quality must be decided on the margin (z >= 0 <=> p >= 0.5):
    every flagged doc has p_micro >= 500000 and both classes occur."""
    from pyspark.sql import functions as F

    df = load_all()["ml_logreg_score"].fn(spark, SF_SMALL)
    bad = df.filter(
        (F.col("is_quality") == 1) != (F.col("p_micro") >= 500_000)
    ).count()
    assert bad == 0
    classes = {r["is_quality"] for r in df.select("is_quality").distinct().collect()}
    assert classes == {0, 1}  # non-vacuous split


def test_incremental_agg_merges_disjoint_and_overlapping_keys(spark, tmp_path):
    """Constructed snapshot/delta straddle: a key only in history, a
    key only in the delta, and a key in both must all merge exactly."""
    import datetime

    from talkdesk_async_etl_spark.operators.ingest import cdc_incremental_agg

    old = datetime.datetime(1996, 5, 1)
    new = datetime.datetime(1997, 5, 1)
    rows = [
        (1, 10.0, old),          # key 1: history only
        (2, 20.0, new),          # key 2: delta only
        (3, 30.0, old), (3, 40.005, new),  # key 3: both (cents round)
    ]
    spark.createDataFrame(
        rows, "o_custkey long, o_totalprice double, o_orderdate timestamp"
    ).write.parquet(str(tmp_path / "orders.parquet"))
    got = {
        r["o_custkey"]: (r["n_orders"], r["total_cents"])
        for r in cdc_incremental_agg(spark, str(tmp_path)).collect()
    }
    assert got == {1: (1, 1000), 2: (1, 2000), 3: (2, 3000 + 4001)}


def test_aes_wrong_key_does_not_roundtrip(spark):
    """Decrypting with a different key must fail (padding error) —
    ECB round-trip identity is only meaningful if the key matters."""
    import pyspark.errors

    df = spark.range(1).selectExpr(
        "CAST(try_aes_decrypt(aes_encrypt('secret text', '0123456789abcdef', 'ECB'),"
        " 'ffffffffffffffff', 'ECB') AS STRING) AS wrong"
    )
    row = df.collect()[0]
    assert row["wrong"] != "secret text"  # wrong key never round-trips


def test_mask_preserves_shape(spark):
    """mask() contract on a constructed string: classes swap, other
    chars and length survive."""
    from pyspark.sql import functions as F

    row = spark.range(1).select(
        F.mask(F.lit("Ab3-Z z9")).alias("m"),
        F.mask(F.lit("Ab3"), F.lit("#"), F.lit("*"), F.lit("0")).alias("c"),
    ).collect()[0]
    assert row["m"] == "Xxn-X xn"
    assert row["c"] == "#*0"


def test_sssp_relaxation_beats_direct_edge(spark, tmp_path):
    """Constructed trade graph where the 2-hop path (w=2+2) is cheaper
    than the direct edge (w=97): the relaxation must return the 2-hop
    distance — a frontier/BFS-style first-touch would lock in 97."""
    import datetime

    from talkdesk_async_etl_spark.operators.graph import graph_sssp_weighted

    ts = datetime.datetime(1995, 1, 1)
    # one supplier/customer per nation; one order+lineitem per edge
    # edge(src → dst, price): price 0.01 → w = 1%97+1 = 2; 0.96 → 97
    edges = [(3, 4, 0.01), (4, 5, 0.01), (3, 5, 0.96)]
    suppliers = {u for u, _, _ in edges}
    customers = {v for _, v, _ in edges}
    spark.createDataFrame(
        [(n, f"N{n}") for n in (3, 4, 5, 6)], "n_nationkey int, n_name string"
    ).write.parquet(str(tmp_path / "nation.parquet"))
    spark.createDataFrame(
        [(100 + n, n) for n in suppliers], "s_suppkey long, s_nationkey int"
    ).write.parquet(str(tmp_path / "supplier.parquet"))
    spark.createDataFrame(
        [(200 + n, n) for n in customers], "c_custkey long, c_nationkey int"
    ).write.parquet(str(tmp_path / "customer.parquet"))
    spark.createDataFrame(
        [(i, 200 + v, ts) for i, (_, v, _) in enumerate(edges)],
        "o_orderkey long, o_custkey long, o_orderdate timestamp",
    ).write.parquet(str(tmp_path / "orders.parquet"))
    spark.createDataFrame(
        [(i, 100 + u, p) for i, (u, _, p) in enumerate(edges)],
        "l_orderkey long, l_suppkey long, l_extendedprice double",
    ).write.parquet(str(tmp_path / "lineitem.parquet"))

    got = {r["nation"]: r["dist"] for r in graph_sssp_weighted(spark, str(tmp_path)).collect()}
    assert got == {"N3": 0, "N4": 2, "N5": 4}  # N6 isolated → absent


def test_dq_expectations_counts_each_violation(spark, tmp_path):
    """Constructed feed with exactly one violation per rule: the audit
    must attribute each to the right rule."""
    import datetime

    from talkdesk_async_etl_spark.operators.ingest import dq_expectations

    ts = datetime.datetime(1995, 6, 1)
    rows = [
        (1, 10, "F", 100.0, ts),                            # clean
        (2, None, "O", 100.0, ts),                          # r1 null custkey
        (3, 10, "P", 100.0, ts), (3, 10, "P", 100.0, ts),   # r2 dup orderkey
        (4, 10, "X", 100.0, ts),                            # r3 bad status
        (5, 10, "F", -5.0, ts),                             # r4 non-positive
        (6, 10, "F", 300001.0, ts),                         # r5 over threshold
        (7, 10, "F", 100.0, datetime.datetime(1890, 1, 1)), # r6 out of range
        (8, 999, "F", 100.0, ts),                           # r7 orphan key
    ]
    spark.createDataFrame(
        rows,
        "o_orderkey long, o_custkey long, o_orderstatus string,"
        " o_totalprice double, o_orderdate timestamp",
    ).write.parquet(str(tmp_path / "orders.parquet"))
    spark.createDataFrame([(10,)], "c_custkey long").write.parquet(
        str(tmp_path / "customer.parquet")
    )
    got = {
        r["rule"]: (r["n_checked"], r["n_violations"])
        for r in dq_expectations(spark, str(tmp_path)).collect()
    }
    assert got == {
        "r1_custkey_not_null": (9, 1),
        "r2_orderkey_unique": (9, 1),
        "r3_status_in_domain": (9, 1),
        "r4_price_positive": (9, 1),
        "r5_price_under_300k": (9, 1),
        "r6_date_in_range": (9, 1),
        # r7: NULL custkey doesn't join → also orphaned by anti-join
        "r7_custkey_references_customer": (9, 2),
    }


def test_bpe_merge_order_matters(spark, tmp_path):
    """Constructed doc: 'the' must collapse via t h → th then th e →
    the (priority order). A reversed table would leave 't h e'
    unmerged — the encoded prefix pins the order."""
    spark.createDataFrame(
        [(1, "the thin and"), (2, "???")],  # doc 2 normalizes to empty → dropped
        "doc_id long, text string",
    ).write.parquet(str(tmp_path / "documents.parquet"))
    from talkdesk_async_etl_spark.operators.text import text_bpe_apply

    rows = {r["doc_id"]: r for r in text_bpe_apply(spark, str(tmp_path)).collect()}
    assert set(rows) == {1}
    # 'thethinand' → chars → merges: th+e→the, th+i stays 'th i',
    # a n→an, an d→and
    assert rows[1]["encoded_prefix"] == "the th in and"
    assert rows[1]["n_tokens"] == 4


def test_bpe_train_learns_constructed_merges(spark, tmp_path):
    """Hand-computable 8-round BPE training run exercising every rule:
    round 1's winner by plain majority; round 2's winner is a pair of
    MERGED symbols that only exists because round 1 was applied first,
    AND it ties doc3's 'c d' at count 2 — 'ab ab' < 'c d' pins the
    pair-ascending tie-break; rounds 5-8 cascade through the filler
    doc one count-1 merge per round (again tie-broken by string
    order). Any mis-ordered apply, wrong tie-break, or stale count
    shifts a row."""
    spark.createDataFrame(
        [
            (1, "ab ab!"),   # normalizes to abab -> a b a b
            (2, "ABAB"),     # same
            (3, "cd-cd"),    # -> c d c d
            (4, "pqrstuvw"),  # 7 distinct count-1 pairs, merge fodder
        ],
        "doc_id long, text string",
    ).write.parquet(str(tmp_path / "documents.parquet"))
    from talkdesk_async_etl_spark.operators.text import text_bpe_train

    got = [
        (r["step"], r["pair"], r["merged"], r["pair_count"])
        for r in text_bpe_train(spark, str(tmp_path)).orderBy("step").collect()
    ]
    assert got == [
        (1, "a b", "ab", 4),
        (2, "ab ab", "abab", 2),  # tie with 'c d' (2) -> pair ASC wins
        (3, "c d", "cd", 2),
        (4, "cd cd", "cdcd", 1),
        (5, "p q", "pq", 1),
        (6, "pq r", "pqr", 1),
        (7, "pqr s", "pqrs", 1),
        (8, "pqrs t", "pqrst", 1),
    ]


def test_substring_spans_constructed(spark, tmp_path):
    """Hand-computed exact-substring spans (k=8): docs 1/2 share a
    verbatim 10-token run at different offsets — three consecutive dup
    grams each, merging into ONE 10-token span; doc 3 repeats an
    8-token run WITHIN itself with an 11-token gap (> k) — two
    separate 8-token spans; doc 4 is clean and doc 5 too short to
    gram — both absent."""
    run = "a b c d e f g h i j"
    r8 = " ".join(f"r{i}" for i in range(1, 9))
    spark.createDataFrame(
        [
            (1, f"{run} q1 q2"),
            (2, f"z9 {run} z8"),
            (3, f"{r8} x1 x2 x3 {r8} y1"),
            (4, " ".join(f"u{i}" for i in range(12))),
            (5, "s1 s2 s3"),
        ],
        "doc_id long, text string",
    ).write.parquet(str(tmp_path / "documents.parquet"))
    from talkdesk_async_etl_spark.operators.text_quality import dedup_substring_spans

    got = {
        r["doc_id"]: (r["n_tokens"], r["n_spans"], r["dup_tokens"], r["dup_fraction"])
        for r in dedup_substring_spans(spark, str(tmp_path)).collect()
    }
    assert got == {
        1: (12, 1, 10, 0.833333),
        2: (12, 1, 10, 0.833333),
        3: (20, 2, 16, 0.8),
    }


def test_temperature_mixture_constructed(spark, tmp_path):
    """Constructed two-language corpus: 'aa' holds 8 tokens, 'bb' 64.
    Expected values recomputed with Python's IEEE pow/floor (the same
    doubles both engines produce); semantically the low-resource lang
    must be boosted above 1 and the high-resource one below."""
    import math

    docs = [
        (1, "aa", "t1 t2 t3 t4"),
        (2, "aa", "u1 u2 u3 u4"),
        (3, "bb", " ".join(f"w{i}" for i in range(64))),
    ]
    spark.createDataFrame(docs, "doc_id long, lang string, text string").write.parquet(
        str(tmp_path / "documents.parquet")
    )
    from talkdesk_async_etl_spark.operators.sampling import sample_temperature_mixture

    got = {
        r["lang"]: r.asDict() for r in sample_temperature_mixture(spark, str(tmp_path)).collect()
    }
    s = {
        lang: math.floor(math.pow(n, 0.7) * 1_000_000)
        for lang, n in (("aa", 8), ("bb", 64))
    }
    tot_s, tot_n = sum(s.values()), 72
    for lang, n in (("aa", 8), ("bb", 64)):
        assert got[lang]["n_tokens"] == n
        assert got[lang]["weight_t07"] == round(s[lang] / tot_s, 6)
        assert got[lang]["boost"] == round((s[lang] / tot_s) / (n / tot_n), 6)
    assert got["aa"]["boost"] > 1 > got["bb"]["boost"]
    assert got["aa"]["n_docs"] == 2 and got["bb"]["n_docs"] == 1


def test_incremental_components_quotient_branches(spark):
    """Hand-built pair graph driving every quotient-composition branch
    (odd doc_id = new): old clusters {2,4} (label 2) and {6,8} (label
    6) merge through the new-doc chain 1-2, 1-3, 3-6 → every member
    relabels to the global min 1; untouched old cluster {12,14} keeps
    label 12 (no quotient node); previously-ISOLATED old doc 20 (no
    old-old pair, so absent from L_old) joins new doc 17 via the raw
    quotient edge → label 17; pure new-new pair {21,23} → label 21."""
    from talkdesk_async_etl_spark.operators.dedup_clusters import (
        incremental_components_from,
    )
    from talkdesk_async_etl_spark.plans.cache import cache_scope

    pairs = spark.createDataFrame(
        [(2, 4), (6, 8), (1, 2), (1, 3), (3, 6), (12, 14), (17, 20), (21, 23)],
        "doc_a long, doc_b long",
    )
    with cache_scope():
        got = {
            r["doc_id"]: r["component_id"]
            for r in incremental_components_from(pairs).collect()
        }
    assert got == {
        1: 1, 2: 1, 3: 1, 4: 1, 6: 1, 8: 1,
        12: 12, 14: 12,
        17: 17, 20: 17,
        21: 21, 23: 21,
    }


def test_tombstone_precedence_branches(spark, tmp_path):
    """Six hand-picked keys drive every CDC-delete precedence branch:
    key 1 plain insert; keys 5/10 update-beats-insert; keys 3/6
    delete-hides-key; key 15 delete-then-REVIVE (I1,U2,D3,I4 → alive
    at v4 — the sequence that breaks 'filter any key that ever saw a
    D'). version_sum pins which version won per class."""
    spark.createDataFrame(
        [(1, "O"), (3, "O"), (5, "O"), (6, "F"), (10, "F"), (15, "P")],
        "o_orderkey long, o_orderstatus string",
    ).write.parquet(str(tmp_path / "orders.parquet"))
    from talkdesk_async_etl_spark.operators.relational import cdc_tombstone_deletes

    got = {
        r["state"]: (r["n_keys"], r["version_sum"])
        for r in cdc_tombstone_deletes(spark, str(tmp_path)).collect()
    }
    assert got == {
        "O": (1, 1),          # key 1: plain insert
        "U2": (2, 4),         # keys 5, 10: update wins at v2
        "__DELETED__": (2, 6),  # keys 3, 6: tombstone wins at v3
        "R4": (1, 4),         # key 15: revived after delete, v4
    }


def test_shot_boundaries_match_python_replica(spark):
    """Third-engine attestation for the shot-boundary pipeline: re-derive
    media 2's frame grid, fake luminance (md5-60-bit mod 1000), and
    cut decisions in pure Python (hashlib) and compare count/sum
    against the operator's row — independent of both Spark and
    DuckDB. Media 2 is the first video (2 % 3 == video slot): 3000 ms
    duration → 7 frames at 500 ms."""
    import hashlib

    from talkdesk_async_etl_spark.operators.multimodal import (
        _SHOT_CUT_DELTA,
        _SHOT_LUM_MOD,
        multimodal_shot_boundaries,
    )

    lums = [
        int(hashlib.md5(f"2:{ts}".encode()).hexdigest()[:15], 16) % _SHOT_LUM_MOD
        for ts in range(0, 3001, 500)
    ]
    cuts = [
        ts
        for i, ts in enumerate(range(0, 3001, 500))
        if i == 0 or abs(lums[i] - lums[i - 1]) > _SHOT_CUT_DELTA
    ]
    row = next(
        r
        for r in multimodal_shot_boundaries(spark, "unused").collect()
        if r["media_id"] == 2
    )
    assert row["n_frames"] == 7
    assert row["n_shots"] == len(cuts)
    assert row["shot_start_sum"] == sum(cuts)
    assert row["n_shots"] >= 1  # the first frame always opens a shot


def test_anomaly_days_constructed_spike(spark, tmp_path):
    """Constructed daily series: type x runs a noisy-but-stable
    baseline then spikes 3x on day 8; type y is perfectly constant
    (zero variance — the strict inequality must NOT flag an on-mean
    day). Expected flags re-derived by a pure-Python replica of the
    exact-integer test, so the fixture can exercise small-n baseline
    edges without hand-arithmetic."""
    import datetime as dt

    counts = {"x": [10, 11, 10, 9, 10, 11, 9, 30], "y": [5] * 8}
    rows, eid = [], 0
    base = dt.datetime(2024, 6, 1, 12, 0)
    for etype, per_day in counts.items():
        for d, c in enumerate(per_day):
            for _ in range(c):
                rows.append((eid, base + dt.timedelta(days=d), 1, etype, 0.0, "{}"))
                eid += 1
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, value double, props string",
    ).write.parquet(str(tmp_path / "events.parquet"))

    def replica(per_day):
        flags = []
        for i, c in enumerate(per_day):
            tail = per_day[max(0, i - 7):i]
            n, s1, s2 = len(tail), sum(tail), sum(v * v for v in tail)
            flags.append(
                n >= 3 and (c * n - s1) ** 2 > 4 * (n * s2 - s1 * s1)
            )
        return flags

    from talkdesk_async_etl_spark.operators.stats import events_anomaly_days

    got = {
        r["event_type"]: (r["n_days"], r["n_anomalies"], r["anom_day_sum"])
        for r in events_anomaly_days(spark, str(tmp_path)).collect()
    }
    epoch = dt.date(1970, 1, 1)
    for etype, per_day in counts.items():
        flags = replica(per_day)
        want_days = [
            (base + dt.timedelta(days=d)).date() for d, f in enumerate(flags) if f
        ]
        assert got[etype] == (
            len(per_day),
            len(want_days),
            sum((d - epoch).days for d in want_days),
        ), (etype, flags)
    assert got["x"][1] >= 1  # the spike fired
    assert got["y"][1] == 0  # zero-variance constant never fires


def test_matryoshka_recall_identity_when_tail_zero(spark, tmp_path):
    """When every embedding carries all its information in the first 8
    dims (tail dims exactly zero), the prefix ranking must equal the
    full ranking — recall 1.0 with n_overlap == k for every query. A
    slice off-by-one, a norm over the wrong vector, or a broken
    overlap join all break the identity."""
    rows = [
        (
            i,
            [float((i * 7 + d * 13) % 11 - 5) for d in range(8)] + [0.0] * 8,
        )
        for i in range(20)
    ]
    spark.createDataFrame(rows, "vec_id long, embedding array<float>").write.parquet(
        str(tmp_path / "embeddings.parquet")
    )
    from talkdesk_async_etl_spark.operators.similarity import (
        _N_QUERIES,
        _TOP_K,
        sim_matryoshka_recall,
    )

    got = sim_matryoshka_recall(spark, str(tmp_path)).collect()
    assert len(got) == _N_QUERIES
    for r in got:
        assert r["n_overlap"] == _TOP_K and r["recall"] == 1.0, r


def test_attribution_skips_intervening_purchases(spark, tmp_path):
    """Constructed journey pinning each attribution rule: u1's two
    consecutive purchases BOTH credit the original 'view' (the second
    must skip backward over the first purchase — an unconditioned
    lag(1) credits 'purchase'); u2's first event is a purchase →
    '(direct)'; u2's second purchase credits the 'click' between; u3
    has a same-timestamp tie where event_id order decides the touch."""
    import datetime as dt

    base = dt.datetime(2024, 6, 1, 12, 0)

    def at(m):
        return base + dt.timedelta(minutes=m)

    rows = [
        # u1: view -> purchase -> purchase (both credit view)
        (1, at(0), 1, "view", 0.0, "{}"),
        (2, at(1), 1, "purchase", 10.0, "{}"),
        (3, at(2), 1, "purchase", 20.0, "{}"),
        # u2: purchase (direct) -> click -> purchase (click)
        (4, at(0), 2, "purchase", 5.0, "{}"),
        (5, at(1), 2, "click", 0.0, "{}"),
        (6, at(2), 2, "purchase", 7.5, "{}"),
        # u3: signup and view at the SAME ts (eids 7 < 8 -> view is
        # later in (ts, event_id) order), then purchase credits view
        (7, at(0), 3, "signup", 0.0, "{}"),
        (8, at(0), 3, "view", 0.0, "{}"),
        (9, at(1), 3, "purchase", 2.25, "{}"),
    ]
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, value double, props string",
    ).write.parquet(str(tmp_path / "events.parquet"))
    from talkdesk_async_etl_spark.operators.windows import (
        window_attribution_last_touch,
    )

    got = {
        r["channel"]: (r["n_purchases"], r["revenue_cents"])
        for r in window_attribution_last_touch(spark, str(tmp_path)).collect()
    }
    assert got == {
        "view": (3, 3225),     # u1's two purchases + u3's (225 cents)
        "(direct)": (1, 500),
        "click": (1, 750),
    }


def test_bpe_train_early_stops_when_corpus_dries(spark, tmp_path):
    """Degenerate corpus (seen on the sf1 synthetic fixture's wNNNN
    tokens): every doc collapses to a single symbol before the 8
    rounds finish. The trainer must STOP and return the merges learned
    so far — two here ('a b' count 4, then 'ab ab' count 2) — not
    raise; the DuckDB oracle behaves identically by construction
    (empty pair CTE → empty winner → NULL next encoding)."""
    spark.createDataFrame(
        [(1, "abab"), (2, "abab")], "doc_id long, text string"
    ).write.parquet(str(tmp_path / "documents.parquet"))
    from talkdesk_async_etl_spark.operators.text import text_bpe_train

    got = [
        (r["step"], r["pair"], r["merged"], r["pair_count"])
        for r in text_bpe_train(spark, str(tmp_path)).orderBy("step").collect()
    ]
    assert got == [(1, "a b", "ab", 4), (2, "ab ab", "abab", 2)]


def test_activity_streaks_islands(spark, tmp_path):
    """Constructed calendars: u1 active days {1,2,3, 7,8, 20} → three
    streaks (3, 2, 1), longest 3; duplicate same-day events must
    collapse before islanding (u1 day 2 has two events); u2's single
    day → one streak of 1."""
    import datetime as dt

    base = dt.datetime(2024, 6, 1, 12, 0)
    days = {1: [1, 2, 2, 3, 7, 8, 20], 2: [5]}
    rows = [
        (i, base + dt.timedelta(days=d), u, "view", 0.0, "{}")
        for i, (u, d) in enumerate(
            (u, d) for u, ds in days.items() for d in ds
        )
    ]
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, value double, props string",
    ).write.parquet(str(tmp_path / "events.parquet"))
    from talkdesk_async_etl_spark.operators.windows import window_activity_streaks

    got = {
        r["user_id"]: (r["n_active_days"], r["longest_streak"], r["n_streaks"])
        for r in window_activity_streaks(spark, str(tmp_path)).collect()
    }
    assert got == {1: (6, 3, 3), 2: (1, 1, 1)}


def test_ab_significance_both_verdicts(spark, tmp_path):
    """Constructed experiment: 40 users per arm; 'lift' converts 30/40
    in arm 0 vs 10/40 in arm 1 (z >> 2 → significant); 'flat'
    converts 20/40 in both arms (z = 0 → not significant). Integer
    replica: lift diff²·N = (30·40−10·40)²·80 vs 4·40·40·80·40 —
    flagged; flat diff = 0 — not."""
    import datetime as dt

    base = dt.datetime(2024, 6, 1, 12, 0)
    rows, eid = [], 0
    # users 0..79: arm = user_id % 2; arm0 = evens, arm1 = odds
    evens = [u for u in range(80) if u % 2 == 0]
    odds = [u for u in range(80) if u % 2 == 1]
    for u in range(80):  # every user emits a 'base' event (denominator)
        rows.append((eid := eid + 1, base, u, "base", 0.0, "{}"))
    for u in evens[:30] + odds[:10]:
        rows.append((eid := eid + 1, base, u, "lift", 0.0, "{}"))
    for u in evens[:20] + odds[:20]:
        rows.append((eid := eid + 1, base, u, "flat", 0.0, "{}"))
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, value double, props string",
    ).write.parquet(str(tmp_path / "events.parquet"))
    from talkdesk_async_etl_spark.operators.stats import agg_ab_significance

    got = {
        r["event_type"]: (r["n0"], r["c0"], r["n1"], r["c1"], r["significant"])
        for r in agg_ab_significance(spark, str(tmp_path)).collect()
    }
    assert got["lift"] == (40, 30, 40, 10, True)
    assert got["flat"] == (40, 20, 40, 20, False)
    assert got["base"] == (40, 40, 40, 40, False)  # everyone converts


def test_kcenter_greedy_order_and_early_stop(spark, tmp_path):
    """Hand-computable farthest-point order on a 1-D corpus embedded
    in 64 dims: seed 0 at the origin, points at x = 10, 3, -8. Greedy
    k-center picks 10 first (1e8 quantized-squared), then -8 (its
    min-dist to {0, 10} is 6.4e7, beating 3's 9e6), then 3 (9e6,
    min-dist to the CLOSEST chosen point — a max-dist bug would report
    vs the seed). With only 3 candidates the 8-step loop must stop
    early, not crash."""
    rows = [
        (0, [0.0] * 64),
        (1, [10.0] + [0.0] * 63),
        (2, [3.0] + [0.0] * 63),
        (3, [-8.0] + [0.0] * 63),
    ]
    spark.createDataFrame(rows, "vec_id long, embedding array<float>").write.parquet(
        str(tmp_path / "embeddings.parquet")
    )
    from talkdesk_async_etl_spark.operators.sampling import sample_kcenter_coreset

    got = [
        (r["step"], r["vec_id"], r["dist_sq"])
        for r in sample_kcenter_coreset(spark, str(tmp_path)).orderBy("step").collect()
    ]
    assert got == [
        (0, 0, 0),
        (1, 1, 10_000**2),
        (2, 3, 8_000**2),
        (3, 2, 3_000**2),
    ]


def test_weighted_median_lower_pick(spark, tmp_path):
    """Constructed weights: values 1,2,3 with weights 1,1,4 — the
    cumulative half (total 6, half 3) is first reached AT value 3
    (cw=2 at value 2 < 3); a >-only or interpolating pick would
    differ."""
    from talkdesk_async_etl_spark.operators.stats import agg_weighted_median

    # wt = c_custkey % 5 + 1 → choose keys to force weights 1,1,4
    rows = [("S", 1.0, 5), ("S", 2.0, 10), ("S", 3.0, 3)]  # wts 1,1,4
    spark.createDataFrame(
        rows, "c_mktsegment string, c_acctbal double, c_custkey long"
    ).write.parquet(str(tmp_path / "customer.parquet"))
    got = agg_weighted_median(spark, str(tmp_path)).collect()
    assert len(got) == 1
    assert got[0]["weighted_median"] == 3.0 and got[0]["total_weight"] == 6


def test_set_ops_all_keeps_multiplicities(spark, tmp_path):
    """Constructed bags: key 1 appears 3x in 1995 and 1x in 1996 →
    intersect_all 1, except_all 2. Distinct set ops would report 1/0."""
    import datetime

    from talkdesk_async_etl_spark.operators.relational import set_ops_all

    d95 = datetime.datetime(1995, 6, 1)
    d96 = datetime.datetime(1996, 6, 1)
    rows = [(1, d95), (1, d95), (1, d95), (1, d96), (2, d96)]
    spark.createDataFrame(
        [(i, k, d) for i, (k, d) in enumerate(rows)],
        "o_orderkey long, o_custkey long, o_orderdate timestamp",
    ).write.parquet(str(tmp_path / "orders.parquet"))
    got = {(r["op"], r["o_custkey"]): r["n"] for r in set_ops_all(spark, str(tmp_path)).collect()}
    assert got == {("intersect_all", 1): 1, ("except_all", 1): 2}


def test_url_canonicalize_drops_tracking_sorts_params(spark, tmp_path):
    """Canonical form contract: utm_* params gone, survivors sorted,
    host lowercased, default port stripped, fragment absent."""
    from talkdesk_async_etl_spark.operators.text import text_url_canonicalize

    spark.createDataFrame([(13,)], "c_custkey long").write.parquet(
        str(tmp_path / "customer.parquet")
    )
    # custkey 13: b=13%7=6, a=13%3=1 → sorted to a=1&b=6; utm_ dropped
    got = text_url_canonicalize(spark, str(tmp_path)).collect()[0]
    assert got["canonical_url"] == "https://talkdesk.example.com/reports/view?a=1&b=6"


def test_bigram_logprob_known_counts(spark, tmp_path):
    """Constructed 2-doc corpus with hand-computable bigram counts:
    doc 1 = 'a b a b' (bigrams ab, ba, ab), doc 2 = 'a b' (ab).
    Corpus: c(a,b)=3, c(b,a)=1, c1(a)=3, c1(b)=1, vocab(w2)={a,b}=2.
    lp(ab) = ln(4/5), lp(ba) = ln(2/3)."""
    import math

    from talkdesk_async_etl_spark.operators.text_quality import text_bigram_logprob

    spark.createDataFrame(
        [(1, "a b a b"), (2, "a b")], "doc_id long, text string"
    ).write.parquet(str(tmp_path / "documents.parquet"))
    got = {r["doc_id"]: r for r in text_bigram_logprob(spark, str(tmp_path)).collect()}
    q = lambda x: math.floor(x * 1_000_000 + 0.5)
    lp_ab, lp_ba = q(math.log(4 / 5)), q(math.log(2 / 3))
    assert (got[1]["n_bigrams"], got[1]["logprob_sum_micro"]) == (3, 2 * lp_ab + lp_ba)
    assert (got[2]["n_bigrams"], got[2]["logprob_sum_micro"]) == (1, lp_ab)


def test_image_phash_matches_numpy_reference(spark):
    """The 13 near-dup image pairs (hamming <= 10) computed through
    the REAL decode path must equal a numpy reference computed from
    the pixel formula — bit order (row-major), strict threshold, and
    62-bit fold all pinned."""
    import numpy as np

    from talkdesk_async_etl_spark.operators.multimodal import (
        _PHASH_BITS,
        _PHASH_HAMMING_MAX,
        _PPM_A,
        _PPM_B,
        _PPM_C,
        _PPM_D,
        _PPM_H_BASE,
        _PPM_H_MOD,
        _PPM_N,
        _PPM_W_BASE,
        _PPM_W_MOD,
        multimodal_image_phash,
    )

    sigs = {}
    for i in range(_PPM_N):
        w, h = _PPM_W_BASE + i % _PPM_W_MOD, _PPM_H_BASE + i % _PPM_H_MOD
        y, x, c = np.meshgrid(np.arange(h), np.arange(w), np.arange(3), indexing="ij")
        px = (i * _PPM_A + y * _PPM_B + x * _PPM_C + c * _PPM_D) % 256
        g = px.sum(axis=2)
        tot, n = int(g.sum()), g.size
        bits = (g.flatten() * n > tot).astype(int)
        sigs[i] = sum(int(b) << k for k, b in enumerate(bits[:_PHASH_BITS]))
    expect = {
        (i, j): bin(sigs[i] ^ sigs[j]).count("1")
        for i in range(_PPM_N)
        for j in range(i + 1, _PPM_N)
        if bin(sigs[i] ^ sigs[j]).count("1") <= _PHASH_HAMMING_MAX
    }
    got = {
        (r["img_a"], r["img_b"]): r["hamming"]
        for r in multimodal_image_phash(spark, SF_SMALL).collect()
    }
    assert got == expect and len(got) >= 5


def test_containment_catches_doc_inside_doc(spark, tmp_path):
    """dedup_containment_pairs' reason to exist: a short doc fully
    embedded in a long one has containment 1.0 but Jaccard well below
    the 0.6 near-dup threshold — the pair Jaccard misses by design.
    Token-disjoint docs must not pair."""
    from talkdesk_async_etl_spark.operators.dedup import dedup_containment_pairs

    small = " ".join(f"p{i}" for i in range(12))
    big = " ".join(f"z{i}" for i in range(40)) + " " + small
    rows = [
        (1, small),
        (2, big),  # contains all of doc 1's shingles plus 4x more
        (3, " ".join(f"q{i}" for i in range(30))),  # disjoint
    ]
    spark.createDataFrame(rows, "doc_id long, text string").write.parquet(
        str(tmp_path / "documents.parquet")
    )
    pairs = {
        (r["doc_a"], r["doc_b"]): r
        for r in dedup_containment_pairs(spark, str(tmp_path)).collect()
    }
    assert (1, 2) in pairs
    assert pairs[(1, 2)]["containment"] == 1.0  # every small-doc shingle shared
    assert pairs[(1, 2)]["jaccard"] < 0.6  # ...yet Jaccard misses it
    assert not any(3 in p for p in pairs)


def test_novelty_scores_first_occurrence(spark, tmp_path):
    """text_novelty_shingles: the first owner of a shingle set scores
    1.0, an exact later copy scores 0.0, and a doc sharing half its
    shingles scores the exact shared fraction."""
    from talkdesk_async_etl_spark.operators.text import text_novelty_shingles

    base = " ".join(f"w{i}" for i in range(10))  # 8 shingles, owner doc 1
    rows = [
        (1, base),
        (2, base),  # exact copy: zero novel shingles
        # shares base's tail 4 tokens -> 2 shared shingles (w8 w9 n0 is
        # new); 10 tokens -> 8 shingles, 6 novel
        (3, " ".join(f"w{i}" for i in range(6, 10)) + " " + " ".join(f"n{i}" for i in range(6))),
    ]
    spark.createDataFrame(rows, "doc_id long, text string").write.parquet(
        str(tmp_path / "documents.parquet")
    )
    got = {r["doc_id"]: r for r in text_novelty_shingles(spark, str(tmp_path)).collect()}
    assert got[1]["novelty"] == 1.0 and got[1]["n_shingles"] == 8
    assert got[2]["novelty"] == 0.0 and got[2]["n_novel"] == 0
    assert got[3]["n_shingles"] == 8 and got[3]["n_novel"] == 6


def test_importance_sampling_is_deterministic_and_unbiased_shaped(spark, tmp_path):
    """sample_importance_weighted: p_micro = 1e6 rows (>=100 tokens)
    are ALWAYS kept with weight 1.0 (u < 1e6 by construction); the kept
    set is identical across runs; every weight is exactly 1e6/p_micro."""
    from talkdesk_async_etl_spark.operators.sampling import sample_importance_weighted

    rows = [(i, " ".join(f"w{j}" for j in range(100)), "en") for i in range(5)]
    rows += [(100 + i, " ".join(f"w{j}" for j in range(30)), "de") for i in range(40)]
    spark.createDataFrame(rows, "doc_id long, text string, lang string").write.parquet(
        str(tmp_path / "documents.parquet")
    )
    first = sorted(
        (r["doc_id"], r["p_micro"], r["weight"])
        for r in sample_importance_weighted(spark, str(tmp_path)).collect()
    )
    again = sorted(
        (r["doc_id"], r["p_micro"], r["weight"])
        for r in sample_importance_weighted(spark, str(tmp_path)).collect()
    )
    assert first == again  # hash-of-id, not RNG
    kept_ids = {d for d, _, _ in first}
    assert set(range(5)) <= kept_ids  # p = 1.0 rows can never be dropped
    for _, p, w in first:
        assert w == round(1_000_000 / p, 6)
    # the 30-token stratum (p = 0.3) must be a strict subset, not all
    assert 0 < len(kept_ids - set(range(5))) < 40


def test_scd2_build_collapses_runs_and_closes_intervals(spark, tmp_path):
    """cdc_scd2_build: consecutive same-attribute events collapse into
    one version; each change closes the previous interval at its ts;
    the last version per key is open and flagged is_current."""
    import datetime as dt

    from talkdesk_async_etl_spark.operators.ingest import cdc_scd2_build

    t0 = dt.datetime(2024, 1, 1)
    ev = [
        # user 1: A A B A  -> versions A[t0,t2) B[t2,t3) A[t3,inf)
        (1, 1, t0, "A"), (2, 1, t0 + dt.timedelta(hours=1), "A"),
        (3, 1, t0 + dt.timedelta(hours=2), "B"), (4, 1, t0 + dt.timedelta(hours=3), "A"),
        # user 2: single event -> one current version
        (5, 2, t0, "C"),
    ]
    spark.createDataFrame(
        ev, "event_id long, user_id long, ts timestamp, event_type string"
    ).write.parquet(str(tmp_path / "events.parquet"))
    got = sorted(
        (r["user_id"], r["attr"], r["valid_from"], r["valid_to"], r["is_current"])
        for r in cdc_scd2_build(spark, str(tmp_path)).collect()
    )
    h = dt.timedelta(hours=1)
    assert got == [
        (1, "A", t0, t0 + 2 * h, False),
        (1, "A", t0 + 3 * h, None, True),
        (1, "B", t0 + 2 * h, t0 + 3 * h, False),
        (2, "C", t0, None, True),
    ]


def test_png_decoder_is_real():
    """decode_png_real must be an actual PNG codec: bit-exact pixel
    round-trip through zlib-DEFLATEd, per-scanline-filtered data; the
    encoded stream must actually USE all five filter types; and it
    must fail like a codec on bad signature, corrupted CRC, and
    truncated IDAT — properties a deterministic fake can't have."""
    import zlib

    import numpy as np
    import pytest as _pytest

    from talkdesk_async_etl_spark.operators.multimodal import (
        _PNG_BPP,
        _png_pixels,
        decode_png_real,
        encode_png,
    )

    px = _png_pixels(4)
    blob = encode_png(px)
    assert blob.startswith(b"\x89PNG\r\n\x1a\n")
    assert np.array_equal(decode_png_real(blob), px)
    # the filtered scanlines must exercise every filter type 0..4
    import struct

    pos, idat = 8, b""
    while pos < len(blob):
        (length,) = struct.unpack(">I", blob[pos : pos + 4])
        tag = blob[pos + 4 : pos + 8]
        if tag == b"IDAT":
            idat += blob[pos + 8 : pos + 8 + length]
        pos += 12 + length
    raw = zlib.decompress(idat)
    stride = px.shape[1] * _PNG_BPP
    filters = {raw[y * (stride + 1)] for y in range(px.shape[0])}
    assert filters == {0, 1, 2, 3, 4}, filters
    # codec-like failures
    with _pytest.raises(Exception):
        decode_png_real(b"JUNK" + blob[4:])  # bad signature
    corrupt = bytearray(blob)
    corrupt[-5] ^= 0xFF  # flip a bit inside IEND's CRC
    with _pytest.raises(Exception):
        decode_png_real(bytes(corrupt))
    with _pytest.raises(Exception):
        decode_png_real(blob[:-30])  # truncated


def test_png_stats_from_real_bytes(spark):
    """End-to-end real-codec path: PNG blobs through mapInPandas →
    stats must equal numpy's answer on the formula-generated pixels."""
    import numpy as np

    from talkdesk_async_etl_spark.operators.multimodal import (
        _png_pixels,
        extract_png_stats,
        synthetic_png_df,
    )

    got = {r["media_id"]: r for r in extract_png_stats(synthetic_png_df(spark, 6)).collect()}
    assert len(got) == 6
    for i in range(6):
        px = _png_pixels(i).astype(np.int64)
        r = got[i]
        assert (r["width"], r["height"]) == (px.shape[1], px.shape[0])
        assert r["px_min"] == int(px.min()) and r["px_max"] == int(px.max())
        assert r["r_mean"] == round(float(px[:, :, 0].sum()) / px[:, :, 0].size, 6)
        assert r["b_mean"] == round(float(px[:, :, 2].sum()) / px[:, :, 2].size, 6)


def test_keyed_table_diff_all_classes(spark):
    """Constructed frame driving every verdict class and the per-column
    attribution: key 1 unchanged (must NOT appear), key 2 price-changed,
    key 3 status-changed, key 4 both-changed, key 5 removed, key 6
    added, key 7 NULL->value change (null-safe compare must flag it),
    keys 10..16 all removed (sample must cap at 5 smallest)."""
    from talkdesk_async_etl_spark.operators.relational import keyed_table_diff

    left = spark.createDataFrame(
        [(1, "a", 100), (2, "a", 100), (3, "a", 100), (4, "a", 100),
         (5, "a", 100), (7, None, 100)]
        + [(k, "a", 100) for k in range(10, 17)],
        "k long, st string, pc long",
    )
    right = spark.createDataFrame(
        [(1, "a", 100), (2, "a", 999), (3, "X", 100), (4, "X", 999),
         (6, "a", 100), (7, "b", 100)],
        "k long, st string, pc long",
    )
    rows = {
        r["verdict"]: r
        for r in keyed_table_diff(
            left, right, "k", [("st", "status"), ("pc", "price")]
        ).collect()
    }
    assert set(rows) == {"added", "removed", "changed"}
    assert rows["added"]["n_keys"] == 1
    assert rows["added"]["sample_keys"] == "6"
    assert rows["added"]["n_status_changed"] == 0  # no compare on added
    assert rows["removed"]["n_keys"] == 8  # key 5 + 10..16
    assert rows["removed"]["sample_keys"] == "5,10,11,12,13"  # capped at 5
    ch = rows["changed"]
    assert ch["n_keys"] == 4  # keys 2,3,4,7 — key 1 equal, excluded
    assert ch["sample_keys"] == "2,3,4,7"
    assert ch["n_price_changed"] == 2   # keys 2,4
    assert ch["n_status_changed"] == 3  # keys 3,4,7 (NULL->b via null-safe)


def test_cumulative_distinct_first_seen_only(spark, tmp_path):
    """Constructed frame: u1 active on days 0 and 2 (second day must
    NOT count again), u2 on day 0, u3 first appears day 2 → n_new
    (2, 1), cumulative (2, 3); day 1 has no first-seen users and no
    events, so it emits no row (the gap-fill operator is separate)."""
    import datetime as dt

    base = dt.datetime(1970, 1, 1, 6, 0)
    rows = [
        (1, base, 1, "view", 0.0, "{}"),
        (2, base + dt.timedelta(days=2), 1, "view", 0.0, "{}"),
        (3, base, 2, "view", 0.0, "{}"),
        (4, base + dt.timedelta(days=2), 3, "view", 0.0, "{}"),
    ]
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, value double, props string",
    ).write.parquet(str(tmp_path / "events.parquet"))
    from talkdesk_async_etl_spark.operators.windows import window_cumulative_distinct

    got = [
        (r["epoch_day"], r["n_new"], r["cum_users"])
        for r in window_cumulative_distinct(spark, str(tmp_path))
        .orderBy("epoch_day")
        .collect()
    ]
    assert got == [(0, 2, 2), (2, 1, 3)]


def test_user_path_topk_prefix_and_ties(spark, tmp_path):
    """Constructed journeys: two users share path a>b (rank 1), one
    user has b>a (rank 2, count tie broken by path string vs c>c's
    absence), one user has 6 events — only the first 5 form the path —
    and one user has a same-timestamp tie decided by event_id."""
    import datetime as dt

    base = dt.datetime(2024, 6, 1)

    def ev(eid, minute, user, et):
        return (eid, base + dt.timedelta(minutes=minute), user, et, 0.0, "{}")

    rows = [
        ev(1, 0, 1, "a"), ev(2, 1, 1, "b"),
        ev(3, 0, 2, "a"), ev(4, 1, 2, "b"),
        ev(5, 0, 3, "b"), ev(6, 1, 3, "a"),
        # u4: 6 events; the 6th ('z') must NOT appear in the path
        *[ev(7 + i, i, 4, et) for i, et in enumerate("cccccz")],
        # u5: same-ts pair — event_id 13 < 14 orders 'x' before 'y'
        ev(13, 0, 5, "x"), ev(14, 0, 5, "y"),
    ]
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, value double, props string",
    ).write.parquet(str(tmp_path / "events.parquet"))
    from talkdesk_async_etl_spark.operators.stats import agg_user_path_topk

    got = [
        (r["path"], r["n_users"], r["rank"])
        for r in agg_user_path_topk(spark, str(tmp_path)).orderBy("rank").collect()
    ]
    assert got == [
        ("a>b", 2, 1),
        ("b>a", 1, 2),
        ("c>c>c>c>c", 1, 3),
        ("x>y", 1, 4),
    ]


def test_neyman_allocation_variance_proportional(spark, tmp_path):
    """Constructed strata: 'flat' has constant value (population sd 0
    → Neyman weight 0, allocation 0, nothing sampled) while 'wild'
    alternates 0.00/2.00 (N·S = sqrt(10·200000·100 − 1000²·100) ...
    exactly 10000 in cent units) and therefore receives the WHOLE
    budget; its 10 rows all fit, and the xor attests the exact chosen
    set (= all of them)."""
    import datetime as dt
    from functools import reduce

    base = dt.datetime(2024, 6, 1)
    rows = [(i, base, 1, "flat", 1.0, "{}") for i in range(10)] + [
        (100 + i, base, 1, "wild", float(2 * (i % 2)), "{}") for i in range(10)
    ]
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, value double, props string",
    ).write.parquet(str(tmp_path / "events.parquet"))
    from talkdesk_async_etl_spark.operators.sampling import sample_stratified_neyman

    got = {
        r["event_type"]: r
        for r in sample_stratified_neyman(spark, str(tmp_path)).collect()
    }
    assert got["flat"]["neyman_w"] == 0
    assert got["flat"]["alloc"] == 0 and got["flat"]["n_taken"] == 0
    assert got["wild"]["alloc"] == 1000  # the whole budget
    assert got["wild"]["n_taken"] == 10  # capped by the stratum size
    assert got["wild"]["sample_xor"] == reduce(
        lambda a, b: a ^ b, range(100, 110)
    )


def test_cdc_chunking_matches_python_replica(spark, tmp_path):
    """Pure-Python third engine: recompute every cut position with
    hashlib over the same 60-bit md5 leaf and verify chunk count,
    boundary checksum, and max chunk length for each constructed doc —
    including a shorter-than-k doc (one whole-doc chunk, no grams)."""
    import hashlib

    from talkdesk_async_etl_spark.operators.text import _CDC_K, _CDC_MOD, text_cdc_chunking

    texts = {
        1: " ".join(f"w{(i * 7) % 23}" for i in range(80)),
        2: " ".join(f"t{(i * 11) % 19}" for i in range(50)),
        3: "a b c",  # shorter than k -> single chunk of 3
    }
    spark.createDataFrame(
        [(k, v) for k, v in texts.items()], "doc_id long, text string"
    ).write.parquet(str(tmp_path / "documents.parquet"))

    def replica(text):
        tk = text.split(" ")
        n = len(tk)
        cuts = []
        for i in range(1, n - _CDC_K + 2):
            g = " ".join(tk[i - 1 : i - 1 + _CDC_K])
            h = int(hashlib.md5(g.encode()).hexdigest()[:15], 16)
            c = i + _CDC_K - 1
            if h % _CDC_MOD == 0 and c < n:
                cuts.append(c)
        bounds = cuts + [n]
        lens = [b - a for a, b in zip([0] + bounds[:-1], bounds)]
        return (n, len(bounds), sum(cuts), max(lens))

    got = {
        r["doc_id"]: (r["n_tokens"], r["n_chunks"], r["boundary_sum"], r["max_chunk_len"])
        for r in text_cdc_chunking(spark, str(tmp_path)).collect()
    }
    want = {k: replica(v) for k, v in texts.items()}
    assert got == want
    assert want[3][1] == 1  # the short doc really is the no-gram branch
    assert want[1][1] > 1   # and the long docs actually produced cuts


def test_mmr_rerank_demotes_near_duplicates(spark, tmp_path):
    """Constructed pool where MMR visibly disagrees with pure
    relevance: vec 1 and vec 2 are IDENTICAL high-relevance vectors
    (rel rank would return 1, 2, 3); after picking 1, the duplicate's
    huge self-similarity penalty (3·16,515,625) drives its score
    negative, so the less relevant but diverse vec 3 takes step 2 and
    the duplicate drops to last. All components are float32-exact
    (powers of two), so the quantized integers — and therefore every
    score — are asserted exactly."""
    a = [0.875] + [0.5] * 63          # vecs 1 and 2 (identical)
    c = [0.75] + [0.0] * 63           # vec 3: diverse, lower relevance
    q = [1.0] + [0.0] * 63            # the query (vec 0)
    spark.createDataFrame(
        [(0, q, 0), (1, a, 0), (2, a, 0), (3, c, 0)],
        "vec_id long, embedding array<float>, label int",
    ).write.parquet(str(tmp_path / "embeddings.parquet"))
    from talkdesk_async_etl_spark.operators.similarity import sim_mmr_rerank

    got = [
        (r["step"], r["vec_id"], r["score_x10"], r["rel"])
        for r in sim_mmr_rerank(spark, str(tmp_path)).orderBy("step").collect()
    ]
    assert got == [
        (1, 1, 7 * 875000, 875000),
        (2, 3, 7 * 750000 - 3 * 656250, 750000),
        (3, 2, 7 * 875000 - 3 * 16515625, 875000),
    ]


def test_common_neighbors_scores(spark):
    """Constructed graph: path 1-2-3 plus 3-4 and a pendant 2-5.
    Non-adjacent pairs with common neighbors: (1,3) via 2 (Jaccard
    1/(2+2-1)), (2,4) via 3 (1/(3+2-1)), (1,5)/(3,5) via 2
    (1/(2+1-1) and 1/(3+1-1)... degrees: d1=1? edges 1-2, 2-3, 3-4,
    2-5 -> deg: 1:1, 2:3, 3:2, 4:1, 5:1. (1,3): common {2}, J =
    1/(1+2-1) = 1/2; (1,5): {2}, 1/(1+1-1) = 1; (3,5): {2},
    1/(2+1-1) = 1/2; (2,4): {3}, 1/(3+1-1) = 1/3. Adjacent pairs and
    pairs without wedges must be absent."""
    from talkdesk_async_etl_spark.operators.graph import common_neighbors_from
    from talkdesk_async_etl_spark.plans.cache import cache_scope, scoped_persist

    with cache_scope():
        und = scoped_persist(
            spark.createDataFrame(
                [(1, 2), (2, 3), (3, 4), (2, 5)], "a int, b int"
            )
        )
        got = {
            (r["a"], r["b"]): (r["n_common"], r["jaccard_micro"])
            for r in common_neighbors_from(und).collect()
        }
    assert got == {
        (1, 3): (1, 500000),
        (1, 5): (1, 1000000),
        (3, 5): (1, 500000),
        (2, 4): (1, 333333),
    }


def test_pmi_collocations_lift_and_support(spark, tmp_path):
    """Constructed corpus where the collocation is obvious: 'new york'
    always co-occurs (perfect association) while 'the cat' pairs are
    diluted by 'the' appearing everywhere. Verified against a
    pure-Python replica of the exact-integer lift, including the
    min-support filter dropping rare pairs."""
    from collections import Counter

    from talkdesk_async_etl_spark.operators.text import (
        _COLL_MICRO,
        _COLL_MIN_SUPPORT,
        text_pmi_collocations,
    )

    docs = [
        (i, "the cat sat on the mat near new york today") for i in range(5)
    ] + [(10 + i, "a dog in new york saw the cat") for i in range(5)]
    spark.createDataFrame(docs, "doc_id long, text string").write.parquet(
        str(tmp_path / "documents.parquet")
    )

    uni, pairs = Counter(), Counter()
    for _, text in docs:
        tk = text.split(" ")
        uni.update(tk)
        pairs.update(zip(tk, tk[1:]))
    nt = sum(uni.values())
    want = sorted(
        (
            ((nt * c * _COLL_MICRO) // (uni[w1] * uni[w2]), w1, w2, c)
            for (w1, w2), c in pairs.items()
            if c >= _COLL_MIN_SUPPORT
        ),
        key=lambda r: (-r[0], r[1], r[2]),
    )
    got = [
        (r["lift_micro"], r["w1"], r["w2"], r["n_pair"])
        for r in text_pmi_collocations(spark, str(tmp_path)).collect()
    ]
    assert got == want[:50]
    assert ("new", "york") in [(w1, w2) for _, w1, w2, _ in got]
    # perfect collocation ranks above the diluted 'the cat'
    ny = next(r for r in got if r[1:3] == ("new", "york"))
    tc = next(r for r in got if r[1:3] == ("the", "cat"))
    assert ny[0] > tc[0]


def test_rolling_median_robust_to_outlier(spark, tmp_path):
    """Constructed series: u1's values are a flat 10.00 with one 9999
    spike — a 7-row rolling MEAN would smear the spike across 7 rows,
    the rolling MEDIAN must swallow it entirely (med_max stays 1000
    cents); u2 has two events so its medians interpolate to a half
    (1.00, 2.00 -> 150.0 cents exactly)."""
    import datetime as dt

    base = dt.datetime(2024, 6, 1)
    rows = [
        (i, base + dt.timedelta(minutes=i), 1,
         "view", 9999.0 if i == 5 else 10.0, "{}")
        for i in range(11)
    ] + [
        (100, base, 2, "view", 1.0, "{}"),
        (101, base + dt.timedelta(minutes=1), 2, "view", 2.0, "{}"),
    ]
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, value double, props string",
    ).write.parquet(str(tmp_path / "events.parquet"))
    from talkdesk_async_etl_spark.operators.windows import window_rolling_median

    got = {
        r["user_id"]: (r["n_events"], r["med_max"], r["med_last"])
        for r in window_rolling_median(spark, str(tmp_path)).collect()
    }
    assert got[1] == (11, 1000.0, 1000.0)  # spike never reaches the median
    assert got[2] == (2, 150.0, 150.0)     # even-count interpolation, exact


def test_balanced_classes_minority_quota(spark, tmp_path):
    """Constructed labels: class 0 has 3 vectors, class 1 has 7,
    class 2 has 5 — every class must sample exactly 3 (the minority
    count), and class 0's xor must cover ALL of its ids (it IS the
    minority)."""
    from functools import reduce

    rows = (
        [(i, [0.0] * 64, 0) for i in range(3)]
        + [(10 + i, [0.0] * 64, 1) for i in range(7)]
        + [(100 + i, [0.0] * 64, 2) for i in range(5)]
    )
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    ).write.parquet(str(tmp_path / "embeddings.parquet"))
    from talkdesk_async_etl_spark.operators.sampling import sample_balanced_classes

    got = {
        r["label"]: (r["n_rows"], r["n_sampled"], r["sample_xor"])
        for r in sample_balanced_classes(spark, str(tmp_path)).collect()
    }
    assert {k: v[:2] for k, v in got.items()} == {
        0: (3, 3), 1: (7, 3), 2: (5, 3)
    }
    assert got[0][2] == reduce(lambda a, b: a ^ b, range(3))


def test_time_to_event_bands_and_preconverted(spark, tmp_path):
    """Constructed journeys: u1 converts in 30 min (lt_1h), u2 in 2
    days (lt_7d), u3 purchased BEFORE any view (pre-converted — must
    be excluded), u4 never purchases (excluded), u5's SECOND view is
    after the purchase but the FIRST is before (counts, from the
    first view)."""
    import datetime as dt

    base = dt.datetime(2024, 6, 1)

    def ev(eid, minutes, user, et):
        return (eid, base + dt.timedelta(minutes=minutes), user, et, 0.0, "{}")

    rows = [
        ev(1, 0, 1, "view"), ev(2, 30, 1, "purchase"),
        ev(3, 0, 2, "view"), ev(4, 2 * 1440, 2, "purchase"),
        ev(5, 0, 3, "purchase"), ev(6, 10, 3, "view"),
        ev(7, 0, 4, "view"),
        ev(8, 0, 5, "view"), ev(9, 60, 5, "purchase"), ev(10, 90, 5, "view"),
    ]
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, value double, props string",
    ).write.parquet(str(tmp_path / "events.parquet"))
    from talkdesk_async_etl_spark.operators.stats import window_time_to_event

    got = {
        r["band"]: (r["n_users"], r["total_latency_s"])
        for r in window_time_to_event(spark, str(tmp_path)).collect()
    }
    assert got == {
        "lt_1h": (1, 1800),            # u1
        "lt_1d": (1, 3600),            # u5 (60 min from FIRST view)
        "lt_7d": (1, 2 * 86400),       # u2
    }


def test_decay_lookup_equals_pow_formula():
    """The pow-free weight (frozen 7-entry lookup M[r] shifted right
    by the 7-day block count q) must equal floor(1e6 * 0.5^(age/7))
    for EVERY age, not just half-life multiples — the nested-floor
    identity floor(x/2^q) = floor(floor(x)/2^q) is what licensed
    removing pow from both engines (ADVICE r11). Checked against
    60-digit Decimal arithmetic (not float pow, which is the 1-ulp
    seam being eliminated) over 20 years of ages."""
    import math
    from decimal import Decimal, getcontext

    from talkdesk_async_etl_spark.operators.stats import _DECAY_FRAC

    getcontext().prec = 60
    for age in range(0, 7305):
        q, r = divmod(age, 7)
        got = _DECAY_FRAC[r] >> q if q < 20 else 0
        exact = Decimal(1_000_000) * Decimal(2) ** (
            -Decimal(age) / Decimal(7)
        )
        assert got == math.floor(exact), f"age={age}: {got} != floor({exact})"


def test_decay_weighted_halflife(spark, tmp_path):
    """Constructed ages hitting exact half-life multiples: an event
    exactly at the anchor decays by 1.0 (1e6 micro), 7 days before by
    exactly 0.5 (500000), 14 days by 0.25 — powers of two, so pow is
    exact and the floors are unambiguous. Revenue weighting checked
    against the hand sum."""
    import datetime as dt

    from talkdesk_async_etl_spark.operators.stats import (
        _DECAY_ANCHOR_DAY,
        agg_decay_weighted,
    )

    anchor = dt.datetime(1970, 1, 1) + dt.timedelta(days=_DECAY_ANCHOR_DAY)
    rows = [
        (1, anchor, 1, "view", 2.00, "{}"),                       # w = 1e6
        (2, anchor - dt.timedelta(days=7), 1, "view", 4.00, "{}"),  # 5e5
        (3, anchor - dt.timedelta(days=14), 1, "view", 8.00, "{}"),  # 25e4
    ]
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, value double, props string",
    ).write.parquet(str(tmp_path / "events.parquet"))
    got = agg_decay_weighted(spark, str(tmp_path)).collect()[0]
    assert got["n_events"] == 3
    assert got["recency_score"] == 1_000_000 + 500_000 + 250_000
    assert got["weighted_cents_micro"] == (
        200 * 1_000_000 + 400 * 500_000 + 800 * 250_000
    )


def test_dow_chi2_flags_concentration(spark, tmp_path):
    """Constructed weekday distributions: 'uniform' puts exactly 10
    events on each of the 7 weekdays (chi2 = 0, not flagged);
    'spiky' puts all 70 on one weekday — chi2 numerator
    6·70² + (7·70−70)² = 382200, and 100·382200 > 1259·7·70 → flagged.
    Also pins the missing-cell arithmetic: spiky has 6 absent weekday
    cells whose (7·0−n)² contribution is what the inequality needs —
    both engines aggregate only present cells, so equality of flags
    across engines plus THIS test's raw numbers prove the present-cell
    formulation is the intended statistic."""
    import datetime as dt

    base = dt.datetime(2024, 6, 3)  # a Monday
    rows = [
        (i, base + dt.timedelta(days=i % 7), 1, "uniform", 0.0, "{}")
        for i in range(70)
    ] + [
        (100 + i, base, 1, "spiky", 0.0, "{}") for i in range(70)
    ]
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, value double, props string",
    ).write.parquet(str(tmp_path / "events.parquet"))
    from talkdesk_async_etl_spark.operators.stats import events_dow_chi2

    got = {
        r["event_type"]: (r["n"], r["chi2_numer"], r["is_nonuniform"])
        for r in events_dow_chi2(spark, str(tmp_path)).collect()
    }
    assert got["uniform"] == (70, 0, 0)
    # present-cell sum: one cell with o=70, n=70 -> (490-70)^2 = 176400
    assert got["spiky"] == (70, 176400, 1)


def test_first_touch_diverges_from_last_touch(spark, tmp_path):
    """Constructed journey where the two attribution rules disagree:
    u1 view -> click -> purchase credits 'view' under FIRST-touch but
    'click' under last-touch; u2's purchase-before-any-touch stays
    '(direct)'; u3's two purchases both credit the single first touch."""
    import datetime as dt

    base = dt.datetime(2024, 6, 1)

    def ev(eid, m, u, et, v=0.0):
        return (eid, base + dt.timedelta(minutes=m), u, et, v, "{}")

    rows = [
        ev(1, 0, 1, "view"), ev(2, 1, 1, "click"), ev(3, 2, 1, "purchase", 10.0),
        ev(4, 0, 2, "purchase", 5.0),
        ev(5, 0, 3, "signup"), ev(6, 1, 3, "purchase", 1.0), ev(7, 2, 3, "purchase", 2.0),
    ]
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, value double, props string",
    ).write.parquet(str(tmp_path / "events.parquet"))
    from talkdesk_async_etl_spark.operators.windows import (
        window_attribution_first_touch,
        window_attribution_last_touch,
    )

    first = {
        r["channel"]: (r["n_purchases"], r["revenue_cents"])
        for r in window_attribution_first_touch(spark, str(tmp_path)).collect()
    }
    last = {
        r["channel"]: (r["n_purchases"], r["revenue_cents"])
        for r in window_attribution_last_touch(spark, str(tmp_path)).collect()
    }
    assert first == {"view": (1, 1000), "(direct)": (1, 500), "signup": (2, 300)}
    assert last["click"] == (1, 1000)  # the divergence first-touch must not show
    assert "click" not in first


def test_cluster_purity_majority_and_ties(spark, tmp_path):
    """Constructed clusters: all six vectors are seeds (vec_id < 8),
    four at the origin and two far away — identical positions tie on
    distance 0 and the cid tie-break collapses them onto the SMALLEST
    seed id, so cluster 0 holds labels {5,5,5,7} (majority 5, purity
    750000) and cluster 1 holds a LABEL TIE {2,1} where the smallest
    label wins (top_label 1, purity 500000). Pins both tie-breaks:
    assignment by (dist, cid) and majority by (count desc, label)."""
    far = [10.0] + [0.0] * 63
    origin = [0.0] * 64
    rows = [
        (0, origin, 5), (1, far, 2),
        (2, origin, 5), (3, origin, 5), (4, origin, 7),
        (5, far, 1),
    ]
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    ).write.parquet(str(tmp_path / "embeddings.parquet"))
    from talkdesk_async_etl_spark.operators.similarity import sim_cluster_purity

    got = {
        r["cluster_id"]: (r["n_vecs"], r["top_label"], r["top_count"], r["purity_micro"])
        for r in sim_cluster_purity(spark, str(tmp_path)).collect()
    }
    assert got[0] == (4, 5, 3, 750000)
    assert got[1] == (2, 1, 1, 500000)


def test_chunk_level_dedup_matches_python_replica(spark, tmp_path):
    """Two documents share a verbatim 40-token run inside otherwise
    different text; a third is unrelated. A pure-Python replica
    recomputes CDC cuts, chunk hashes, and corpus-wide occurrence
    counts — the shared run must surface as duplicated chunks in BOTH
    carriers and the unrelated doc must report zero."""
    import hashlib
    from collections import Counter

    from talkdesk_async_etl_spark.operators.text import (
        _CDC_K,
        _CDC_MOD,
        dedup_chunk_level,
    )

    # Long enough to contain >= 2 interior cuts (avg chunk ~ MOD
    # tokens), so at least one chunk falls FULLY inside the shared run
    # in both carriers — the edit-stability property under test.
    shared = " ".join(f"s{(i * 13) % 29}" for i in range(200))
    texts = {
        1: " ".join(f"a{i % 7}" for i in range(30)) + " " + shared,
        2: shared + " " + " ".join(f"b{i % 5}" for i in range(25)),
        3: " ".join(f"z{i}" for i in range(60)),  # all-unique: no self-dups
    }
    spark.createDataFrame(
        [(k, v) for k, v in texts.items()], "doc_id long, text string"
    ).write.parquet(str(tmp_path / "documents.parquet"))

    def h60(s):
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

    def chunks(text):
        tk = text.split(" ")
        n = len(tk)
        cuts = [
            i + _CDC_K - 1
            for i in range(1, n - _CDC_K + 2)
            if h60(" ".join(tk[i - 1 : i - 1 + _CDC_K])) % _CDC_MOD == 0
            and i + _CDC_K - 1 < n
        ] + [n]
        out, prev = [], 0
        for c in cuts:
            out.append((" ".join(tk[prev:c]), c - prev))
            prev = c
        return n, out

    per_doc = {k: chunks(v) for k, v in texts.items()}
    occ = Counter(h60(c) for _, cs in per_doc.values() for c, _ in cs)
    want = {
        k: (
            n,
            len(cs),
            sum(1 for c, _ in cs if occ[h60(c)] >= 2),
            sum(l for c, l in cs if occ[h60(c)] >= 2),
        )
        for k, (n, cs) in per_doc.items()
    }
    got = {
        r["doc_id"]: (r["n_tokens"], r["n_chunks"], r["n_dup_chunks"], r["dup_tokens"])
        for r in dedup_chunk_level(spark, str(tmp_path)).collect()
    }
    assert got == want
    assert got[1][2] > 0 and got[2][2] > 0  # the shared run was caught
    assert got[3][2] == 0                   # the unrelated doc is clean


def test_rfm_scores_quintiles(spark, tmp_path):
    """Five constructed users with strictly ordered recency, frequency,
    and monetary — each ntile(5) bucket holds exactly one user, so the
    expected scores are unambiguous: user k (k=1..5) is the k-th most
    recent, k-th most frequent, k-th biggest spender → all three
    scores equal k... inverted: the BEST user gets 5."""
    import datetime as dt

    from talkdesk_async_etl_spark.operators.stats import (
        _RFM_ANCHOR_DAY,
        window_rfm_scores,
    )

    anchor = dt.datetime(1970, 1, 1) + dt.timedelta(days=_RFM_ANCHOR_DAY)
    rows = []
    eid = 0
    for u in range(1, 6):
        # user u: u events (frequency), most recent event u*10 days ago,
        # each worth u dollars (monetary) -> user 5 is best on all axes
        for j in range(u):
            eid += 1
            rows.append(
                (eid, anchor - dt.timedelta(days=(6 - u) * 10 + j), u,
                 "purchase", float(u), "{}")
            )
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, value double, props string",
    ).write.parquet(str(tmp_path / "events.parquet"))
    got = {
        r["user_id"]: (r["r_score"], r["f_score"], r["m_score"],
                       r["recency_d"], r["frequency"], r["monetary_cents"])
        for r in window_rfm_scores(spark, str(tmp_path)).collect()
    }
    for u in range(1, 6):
        r, f, m, rec, freq, mon = got[u]
        assert (r, f, m) == (u, u, u), (u, got[u])
        assert rec == (6 - u) * 10 and freq == u and mon == u * 100 * u


def test_manifest_delta_statuses_and_pruning(spark, tmp_path):
    """Constructed orders: statuses split done (file_id < 5) vs new,
    every file's checksum equals a direct recomputation (the
    idempotence contract — promoting 'new' to 'done' changes only the
    status), and the delta scan's plan carries a PartitionFilter on
    file_id (processed files are never read)."""
    import datetime as dt

    rows = [
        (k, 1, "O", 10.0, dt.datetime(2024, 1, 1), "1-URGENT") for k in range(64)
    ]
    spark.createDataFrame(
        rows,
        "o_orderkey long, o_custkey long, o_orderstatus string, "
        "o_totalprice double, o_orderdate timestamp, o_orderpriority string",
    ).write.parquet(str(tmp_path / "orders.parquet"))
    from talkdesk_async_etl_spark.operators.ingest import (
        _MANIFEST_DONE,
        _MANIFEST_FILES,
        scan_file_manifest_delta,
    )

    df = scan_file_manifest_delta(spark, str(tmp_path))
    got = {r["file_id"]: r for r in df.collect()}
    assert set(got) == set(range(_MANIFEST_FILES))
    for fid, r in got.items():
        assert r["status"] == ("done" if fid < _MANIFEST_DONE else "new")
        assert r["n_rows"] == 8  # 64 keys spread over 8 files
    # idempotence: recomputing any file's checksum from source agrees
    import hashlib

    def h60(s):
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

    from functools import reduce

    for fid in (0, 7):
        want = reduce(
            lambda a, b: a ^ b,
            (h60(str(k)) for k in range(64) if k % _MANIFEST_FILES == fid),
        )
        assert got[fid]["checksum"] == want


def test_mad_ignores_outlier(spark, tmp_path):
    """Constructed frame: 'steady' holds [1,2,3,4,100] dollars — the
    stddev is outlier-dominated but median=3.00 and MAD=1.00 exactly
    (deviations [2,1,0,1,97] -> median 1); 'pairs' holds [1,3] whose
    median interpolates to the exact half 2.00 and MAD to 1.00."""
    import datetime as dt

    base = dt.datetime(2024, 6, 1)
    rows = [
        (i, base, 1, "steady", float(v), "{}")
        for i, v in enumerate([1, 2, 3, 4, 100])
    ] + [
        (10, base, 1, "pairs", 1.0, "{}"),
        (11, base, 1, "pairs", 3.0, "{}"),
    ]
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, value double, props string",
    ).write.parquet(str(tmp_path / "events.parquet"))
    from talkdesk_async_etl_spark.operators.stats import agg_mad_robust

    got = {
        r["event_type"]: (r["n"], r["median_cents"], r["mad_cents"])
        for r in agg_mad_robust(spark, str(tmp_path)).collect()
    }
    assert got["steady"] == (5, 300.0, 100.0)
    assert got["pairs"] == (2, 200.0, 100.0)


def test_ip_cidr_parse_and_blocks(spark, tmp_path):
    """Constructed user ids chosen so the derived ips land in known
    blocks: uid 147 -> (147*7)%224+1 = 133... pick uids by searching
    the formula in-test so the expectation is self-derived, then
    verify block assignment and the exact uint32 sum per block."""
    import datetime as dt

    def ip_u32(uid):
        a = (uid * 3) % 224 + 1
        b = (uid * 13) % 256
        c = (uid * 17) % 256
        d = (uid * 19) % 254 + 1
        return (a << 24) + (b << 16) + (c << 8) + d

    def block(u):
        if (u >> 24) == 10:
            return "10.0.0.0/8"
        if (u >> 20) == (172 << 4) + 1:  # 172.16/12: top 12 bits
            return "172.16.0.0/12"
        if (u >> 16) == (192 << 8) + 168:
            return "192.168.0.0/16"
        return "public"

    uids = [1, 2, 3] + [u for u in range(1, 3000) if block(ip_u32(u)) != "public"][:5]
    base = dt.datetime(2024, 6, 1)
    rows = [(i, base, u, "view", 0.0, "{}") for i, u in enumerate(uids)]
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, value double, props string",
    ).write.parquet(str(tmp_path / "events.parquet"))
    from collections import defaultdict

    want = defaultdict(lambda: [0, 0])
    for u in set(uids):
        b = block(ip_u32(u))
        want[b][0] += 1
        want[b][1] += ip_u32(u)
    from talkdesk_async_etl_spark.operators.scalars import scalar_ip_cidr

    got = {
        r["block"]: [r["n_users"], r["ip_sum"]]
        for r in scalar_ip_cidr(spark, str(tmp_path)).collect()
    }
    assert got == dict(want)
    assert any(b != "public" for b in got), got  # a private block was hit


def test_gap_distribution_bands(spark, tmp_path):
    """Constructed gaps: u1's events land 30 s, 5 min, and 2 h apart →
    one gap in each of lt_1m / lt_10m / ge_1h attributed to the
    FOLLOWING event's type; a user's first event produces no gap."""
    import datetime as dt

    base = dt.datetime(2024, 6, 1)
    rows = [
        (1, base, 1, "a", 0.0, "{}"),
        (2, base + dt.timedelta(seconds=30), 1, "b", 0.0, "{}"),
        (3, base + dt.timedelta(seconds=30 + 300), 1, "c", 0.0, "{}"),
        (4, base + dt.timedelta(seconds=30 + 300 + 7200), 1, "d", 0.0, "{}"),
        (5, base, 2, "e", 0.0, "{}"),  # single event: no gap row
    ]
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, value double, props string",
    ).write.parquet(str(tmp_path / "events.parquet"))
    from talkdesk_async_etl_spark.operators.windows import window_gap_distribution

    got = {
        (r["event_type"], r["band"]): (r["n_gaps"], r["total_gap_s"])
        for r in window_gap_distribution(spark, str(tmp_path)).collect()
    }
    assert got == {
        ("b", "lt_1m"): (1, 30),
        ("c", "lt_10m"): (1, 300),
        ("d", "ge_1h"): (1, 7200),
    }


def test_unicode_normalize_constructed(spark, tmp_path):
    """Constructed docs through the full canonicalization contract:
    width variants (fullwidth letters/digits/colon), a zero-width
    joiner, NBSP, a decomposed combining acute that NFC must compose,
    a soft hyphen, an ideographic space, whitespace runs, and case.
    Expected strings are written out BY HAND (not via the operator's
    own helpers), so a fold-order regression can't self-certify."""
    import unicodedata

    from talkdesk_async_etl_spark.operators.text import (
        text_unicode_normalize,
    )

    rows = [(0, "Hello  World", "en", "web", 12), (1, "", "en", "web", 0)]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars int"
    ).write.parquet(str(tmp_path / "documents.parquet"))
    got = {
        r["doc_id"]: r
        for r in text_unicode_normalize(spark, str(tmp_path)).collect()
    }

    # doc 0: template + upcased head, hand-normalized
    assert got[0]["norm_head"] == "doc0: café hello world"
    assert got[0]["changed"] == 1
    # composed é is ONE codepoint — NFC ran (decomposed would be 2)
    assert "café" in got[0]["norm_head"]
    assert "́" not in got[0]["norm_head"]
    # zero-width / ignorables gone, width variants folded
    for ch in ("​", "‍", "­", "﻿", "Ｄ", "　", " "):
        assert ch not in got[0]["norm_head"]
    # empty doc: template-only normalization
    assert got[1]["norm_head"] == "doc1: café"
    assert got[1]["changed"] == 1
    # dirty is longer than norm (strips + collapses always shrink)
    for r in got.values():
        assert r["dirty_len"] > r["norm_len"] > 0

    # cross-check the FULL normalized string (not just the head)
    # against an independent pure-Python replica of the contract
    from talkdesk_async_etl_spark.operators.text import (
        _UNI_FW_DIGITS,
        _UNI_HEAD,
        _UNI_WF_FROM,
        _UNI_WF_TO,
    )
    import re

    wf = str.maketrans(_UNI_WF_FROM, _UNI_WF_TO)
    for doc_id, text, *_ in rows:
        fw_id = str(doc_id).translate(str.maketrans("0123456789", _UNI_FW_DIGITS))
        dirty = (
            "Ｄｏｃ‍" + fw_id
            + "： Café­\t　"
            + (text or "")[:_UNI_HEAD].upper()
            + " ​ "
        )
        expect = dirty.translate(wf)
        expect = re.sub("[​‌‍﻿­]", "", expect)
        expect = unicodedata.normalize("NFC", expect)
        expect = re.sub(r"[ \t\n\r]+", " ", expect).strip().lower()
        assert got[doc_id]["norm_head"] == expect[:80]
        assert got[doc_id]["norm_len"] == len(expect)


def test_pipeline_curation_e2e_constructed(spark, tmp_path):
    """Constructed corpus where EVERY stage fires (the shipped fixture
    has no exact dupes among quality survivors, so this is where the
    exact-dedup arm is attested): quality drops (lang/short/chars),
    an exact duplicate, a near duplicate (17/19 shared 3-shingles),
    an eval-slice doc plus a training doc contaminated by its 4-gram,
    a minority language that must upsample under ceil(boost), and a
    shard whose doc stream overflows the 256-token pack budget."""
    import math

    from talkdesk_async_etl_spark.operators.curation import (
        pipeline_curation_e2e,
    )

    A = ["t%02d" % i for i in range(20)]
    docs = [
        (1, " ".join(A), "en", "web", 100),                     # survivor
        (2, " ".join(A), "en", "web", 100),                     # exact dup
        (3, " ".join(A[:19] + ["zz"]), "en", "web", 100),       # near dup
        (4, " ".join(["u%02d" % i for i in range(11)]
                     + ["alpha", "beta", "gamma", "delta"]),
         "en", "web", 100),                                     # contaminated
        (5, " ".join(["d%02d" % i for i in range(15)]),
         "de", "web", 100),                                     # minority de
        (7, " ".join(["v%03d" % i for i in range(300)]),
         "en", "web", 100),                                     # big: own pack
        (8, " ".join(["x%02d" % i for i in range(20)]),
         "xx", "web", 100),                                     # lang drop
        (9, "a b c d e", "en", "web", 100),                     # tokens drop
        (10, " ".join(["y%02d" % i for i in range(20)]),
         "en", "web", 10),                                      # chars drop
        (11, " ".join(["e%02d" % i for i in range(11)]
                      + ["alpha", "beta", "gamma", "delta"]),
         "en", "web", 100),                                     # eval slice
        (17, " ".join(["w%03d" % i for i in range(250)]),
         "en", "web", 100),                                     # pack overflow
    ]
    spark.createDataFrame(
        docs, "doc_id long, text string, lang string, source string, n_chars int"
    ).write.parquet(str(tmp_path / "documents.parquet"))

    got = {r["stage"]: r for r in pipeline_curation_e2e(spark, str(tmp_path)).collect()}
    assert [got[s]["name"] for s in range(1, 7)] == [
        "quality_filter", "exact_dedup", "near_dedup", "decontaminate",
        "temperature_mixture", "pack_sequences",
    ]
    assert (got[1]["docs_in"], got[1]["docs_out"]) == (11, 8)   # 8,9,10 drop
    assert (got[2]["docs_in"], got[2]["docs_out"]) == (8, 7)    # 2 drops
    assert (got[3]["docs_in"], got[3]["docs_out"]) == (7, 6)    # 3 drops
    assert (got[4]["docs_in"], got[4]["docs_out"]) == (6, 4)    # 4, 11 drop
    assert got[4]["tokens_out"] == 20 + 15 + 300 + 250

    # stage 5: replicate the exact-integer ceil(boost) rule
    n_en, n_de = 570, 15
    N = n_en + n_de
    s_en = math.floor(pow(float(n_en), 0.7) * 1_000_000)
    s_de = math.floor(pow(float(n_de), 0.7) * 1_000_000)
    S = s_en + s_de
    e_en = max(1, (s_en * N + S * n_en - 1) // (S * n_en))
    e_de = max(1, (s_de * N + S * n_de - 1) // (S * n_de))
    assert e_en == 1 and e_de >= 2  # the minority language upsamples
    assert got[5]["docs_out"] == 3 * e_en + 1 * e_de
    assert got[5]["tokens_out"] == n_en * e_en + n_de * e_de
    assert got[5]["docs_dropped"] == got[5]["docs_in"] - got[5]["docs_out"] < 0

    # stage 6: shard1 = doc1(20)+doc17(250) -> 2 packs (270 > 256);
    # shard5 = doc5 x e_de (15 each, fits one pack); shard7 = doc7 alone
    assert got[6]["docs_in"] == got[5]["docs_out"]
    assert got[6]["docs_out"] == 2 + 1 + 1
    assert got[6]["tokens_out"] == got[5]["tokens_out"]


def test_dedup_exact_normalized_merges_variants(spark, tmp_path):
    """Docs that are Unicode RENDERINGS of one another — precomposed
    vs decomposed accents, case, width, zero-width junk — must land in
    one canonical cluster (plus each doc's deterministic fullwidth
    twin), while a genuinely different doc stays separate."""
    from talkdesk_async_etl_spark.operators.text import (
        _UNI_TWIN_OFFSET,
        dedup_exact_normalized,
    )

    rows = [
        (0, "café latte menu price list today ok", "fr", "web", 40),
        # decomposed e + U+0301, upper case, zero-width space inside
        (1, "Café LATTE​ menu  price list today ok", "fr", "web", 40),
        (2, "completely different text body here now", "en", "web", 40),
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars int"
    ).write.parquet(str(tmp_path / "documents.parquet"))
    got = sorted(
        dedup_exact_normalized(spark, str(tmp_path)).collect(),
        key=lambda r: r["canonical_doc_id"],
    )
    # cluster A: docs 0,1 + both twins (4 members, 4 distinct raws);
    # cluster B: doc 2 + its twin (2 members, 2 distinct raws)
    assert len(got) == 2
    assert (got[0]["canonical_doc_id"], got[0]["n_copies"], got[0]["n_raw_distinct"]) == (0, 4, 4)
    assert (got[1]["canonical_doc_id"], got[1]["n_copies"], got[1]["n_raw_distinct"]) == (2, 2, 2)
    assert _UNI_TWIN_OFFSET > 2  # twins can never shadow a canonical id


def test_eval_contamination_rate_constructed(spark, tmp_path):
    """Eval docs (id % 11 == 0): one fully leaked (a training doc
    contains its whole text), one half leaked (shares its first 4
    tokens only), one clean, and one too short to gram — checked
    against hand-computed rates."""
    from talkdesk_async_etl_spark.operators.text_quality import (
        text_eval_contamination_rate,
    )

    rows = [
        # eval 0: 5 tokens -> 2 grams, both inside train doc 1
        (0, "a b c d e", "en", "web", 9),
        (1, "x a b c d e y z w q", "en", "web", 19),        # train superset
        # eval 11: 8 tokens -> 5 grams; train doc 3 shares ONLY g h i j
        (11, "g h i j k l m n", "en", "web", 15),
        (3, "g h i j zz yy xx ww", "en", "web", 15),
        # eval 22: clean
        (22, "p1 p2 p3 p4 p5 p6", "en", "web", 17),
        # eval 33: too short for a 4-gram
        (33, "s1 s2 s3", "en", "web", 8),
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars int"
    ).write.parquet(str(tmp_path / "documents.parquet"))
    got = {r["doc_id"]: r for r in text_eval_contamination_rate(spark, str(tmp_path)).collect()}
    assert set(got) == {0, 11, 22}  # 33 has no grams
    assert (got[0]["n_grams"], got[0]["n_leaked"], got[0]["leak_rate"]) == (2, 2, 1.0)
    assert (got[11]["n_grams"], got[11]["n_leaked"]) == (5, 1)
    assert got[11]["leak_rate"] == 0.2
    assert (got[22]["n_grams"], got[22]["n_leaked"], got[22]["leak_rate"]) == (3, 0, 0.0)


def test_ccnet_buckets_constructed(spark, tmp_path):
    """Six docs in one language with engineered score separation: the
    three built from the most frequent terms must land in 'head', the
    rare-token docs in 'tail', and the ntile remainder rule (earlier
    buckets absorb) decides the 6->(2,2,2) split deterministically."""
    from talkdesk_async_etl_spark.operators.text_quality import text_ccnet_buckets

    common = "c c c c c c c c"          # 'c' dominates the corpus
    rows = [
        (0, common, "en", "web", 10),
        (1, common, "en", "web", 10),
        (2, "c c c c m1 m1 m2 m2", "en", "web", 10),
        (3, "c c m1 m2 m3 m3 m4 m4", "en", "web", 10),
        (4, "r1 r2 r3 r4 r5 r6 r7 r8", "en", "web", 10),
        (5, "q1 q2 q3 q4 q5 q6 q7 q8", "en", "web", 10),
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars int"
    ).write.parquet(str(tmp_path / "documents.parquet"))
    got = {r["bucket"]: r for r in text_ccnet_buckets(spark, str(tmp_path)).collect()}
    assert set(got) == {"head", "middle", "tail"}
    assert all(got[b]["n_docs"] == 2 for b in got)
    assert got["head"]["sum_tokens"] == 16
    # scores rank head > middle > tail by construction
    assert (
        got["head"]["sum_score_micro"]
        > got["middle"]["sum_score_micro"]
        > got["tail"]["sum_score_micro"]
    )


def test_pca_power_iter_finds_dominant_direction(spark, tmp_path):
    """Embeddings whose variance is overwhelmingly along axis 3 (64
    vectors at ±spread on dim 3, tiny jitter on dim 7): the 8th power
    iterate must concentrate on dim 3 — |component| at the renorm
    scale there, near-zero everywhere else — and centering must kill
    the constant offset on dim 1."""
    from talkdesk_async_etl_spark.operators.similarity import (
        _PCA_VSCALE,
        sim_pca_power_iter,
    )

    rows = []
    for i in range(64):
        v = [0.0] * 64
        v[0] = 0.25                          # constant offset: centering removes
        v[2] = 0.25 if i % 2 == 0 else -0.25  # dominant axis (dim 3, 1-based)
        v[6] = 0.002 if i % 4 == 0 else 0.0   # faint second axis
        rows.append((i, v))
    spark.createDataFrame(rows, "vec_id long, embedding array<float>").write.parquet(
        str(tmp_path / "embeddings.parquet")
    )
    got = {r["dim"]: r["component"] for r in sim_pca_power_iter(spark, str(tmp_path)).collect()}
    assert len(got) == 64
    top = max(got, key=lambda d: abs(got[d]))
    assert top == 3
    assert abs(got[3]) == _PCA_VSCALE  # renormalized to full scale
    assert abs(got[1]) < _PCA_VSCALE // 100  # centered away
    for d in got:
        if d not in (3, 7):
            assert abs(got[d]) < _PCA_VSCALE // 100


def test_pca_tdiv_matches_sql_semantics(spark):
    """The driver-side renormalization divide must truncate toward
    zero exactly like Spark's div and DuckDB's // (Python's // floors,
    which differs on negatives)."""
    import duckdb

    def tdiv(a, b):
        q = abs(a) // abs(b)
        return q if (a >= 0) == (b >= 0) else -q

    con = duckdb.connect()
    for a, b in [(-7, 2), (7, 2), (-7, -2), (7, -2), (-1, 3), (1, 3)]:
        duck = con.execute(f"select CAST({a} AS HUGEINT) // CAST({b} AS HUGEINT)").fetchone()[0]
        sp = spark.sql(f"select CAST({a} AS DECIMAL(38,0)) div {b}").collect()[0][0]
        assert tdiv(a, b) == int(duck) == int(sp), (a, b)


def test_pitch_autocorr_detects_generating_period(spark):
    """Every synthetic tone's detected period equals its generating
    period P(i) = 6 + (i % 8) * 2, the peak is the exact closed form
    (n-P)*A^2, and a corrupted blob fails like a codec."""
    import pytest

    from talkdesk_async_etl_spark.operators.multimodal import (
        _TONE_A_BASE, _TONE_A_MOD, _TONE_A_STEP,
        _TONE_P_BASE, _TONE_P_MOD, _TONE_P_STEP,
        _TONE_S_BASE, _TONE_S_MOD,
        DecodeNotAvailableError,
        decode_wav_real,
        extract_pitch_autocorr,
        multimodal_pitch_autocorr,
        synthetic_tone_df,
    )

    got = {r["media_id"]: r for r in multimodal_pitch_autocorr(spark, "unused").collect()}
    assert len(got) == 40
    for i, r in got.items():
        p = _TONE_P_BASE + (i % _TONE_P_MOD) * _TONE_P_STEP
        a = _TONE_A_BASE + (i % _TONE_A_MOD) * _TONE_A_STEP
        n = _TONE_S_BASE + i % _TONE_S_MOD
        assert r["period_detected"] == p, i
        assert r["n_samples"] == n
        assert r["r0"] == n * a * a
        assert r["r_peak"] == (n - p) * a * a

    # codec honesty: garbage bytes raise, not silently feature-ize
    with pytest.raises(Exception):
        decode_wav_real(b"not a wav at all")


def test_prefix_filter_join_completeness_and_pruning(spark, tmp_path):
    """Prefix filtering must (a) find EXACTLY the pairs the exhaustive
    join finds — including a pair exactly AT the 0.6 threshold — and
    (b) generate strictly fewer candidates than all-pairs."""
    from pyspark.sql import functions as F

    from talkdesk_async_etl_spark.operators.dedup import (
        _bucket_pairs,
        _shingle_hashes,
        dedup_near_jaccard,
        dedup_prefix_filter_join,
    )
    from talkdesk_async_etl_spark.sources.io import read_table

    A = ["t%02d" % i for i in range(20)]
    rows = [
        (1, " ".join(A), "en", "web", 100),
        (2, " ".join(A[:19] + ["zz"]), "en", "web", 100),   # ~0.89 jaccard
        # doc 3 shares exactly 12 of 18+18 shingles with doc 4:
        # jaccard 12/(18+18-12) = 0.5 -> below threshold, must NOT pair
        (3, " ".join(["a%02d" % i for i in range(20)]), "en", "web", 100),
        (4, " ".join(["a%02d" % i for i in range(14)] + ["b%02d" % i for i in range(6)]),
         "en", "web", 100),
        (5, " ".join(["u%02d" % i for i in range(20)]), "en", "web", 100),
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars int"
    ).write.parquet(str(tmp_path / "documents.parquet"))

    exact = {(r["doc_a"], r["doc_b"], r["jaccard"])
             for r in dedup_near_jaccard(spark, str(tmp_path)).collect()}
    pf = {(r["doc_a"], r["doc_b"], r["jaccard"])
          for r in dedup_prefix_filter_join(spark, str(tmp_path)).collect()}
    assert pf == exact and (1, 2) in {(a, b) for a, b, _ in pf}
    assert (3, 4) not in {(a, b) for a, b, _ in pf}

    # pruning: prefix candidates strictly fewer than exhaustive
    docs = read_table(spark, str(tmp_path), "documents").select(
        "doc_id", _shingle_hashes(F.col("text")).alias("shs")
    )
    full = docs.select("doc_id", F.size("shs").alias("n"), F.explode("shs").alias("h"))
    freq = full.groupBy("h").agg(F.count(F.lit(1)).alias("f"))
    from pyspark.sql import Window
    w = Window.partitionBy("doc_id").orderBy("f", "h")
    prefix = (
        full.join(freq, "h").withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= F.col("n") - F.expr("(3 * n + 4) div 5") + 1)
        .select("doc_id", "h")
    )
    n_pf = _bucket_pairs(prefix, "h").distinct().count()
    n_all = _bucket_pairs(full.select("doc_id", "h"), "h").distinct().count()
    # toy corpora may not prune (every shared shingle is rare enough to
    # land in a prefix); never MORE candidates, and completeness above
    assert 0 < n_pf <= n_all

    # strict pruning shows on the real fixture's frequency skew
    docs = read_table(spark, "/root/testdata/sf0.001", "documents").select(
        "doc_id", _shingle_hashes(F.col("text")).alias("shs")
    )
    full = docs.select("doc_id", F.size("shs").alias("n"), F.explode("shs").alias("h"))
    freq = full.groupBy("h").agg(F.count(F.lit(1)).alias("f"))
    prefix = (
        full.join(freq, "h").withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= F.col("n") - F.expr("(3 * n + 4) div 5") + 1)
        .select("doc_id", "h")
    )
    n_pf = _bucket_pairs(prefix, "h").distinct().count()
    n_all = _bucket_pairs(full.select("doc_id", "h"), "h").distinct().count()
    assert 0 < n_pf < n_all


def test_file_metadata_cols_pinned_single_file(spark, tmp_path):
    """One file per status directory by construction, counts/checksum
    lossless through the write/read round-trip, nonempty witness."""
    from talkdesk_async_etl_spark.operators.ingest import scan_file_metadata_cols

    rows = [(i, "F" if i % 3 == 0 else ("O" if i % 3 == 1 else "P"),
             float(i), "1995-01-01", "c") for i in range(30)]
    spark.createDataFrame(
        rows,
        "o_orderkey long, o_orderstatus string, o_totalprice double, "
        "o_orderdate string, o_comment string",
    ).write.parquet(str(tmp_path / "orders.parquet"))
    got = {r["status"]: r for r in scan_file_metadata_cols(spark, str(tmp_path)).collect()}
    assert set(got) == {"F", "O", "P"}
    for st, r in got.items():
        assert r["n_files"] == 1
        assert r["n_rows"] == 10
        assert r["files_nonempty"] == 1


def test_group_kfold_never_splits_a_user(spark, tmp_path):
    """Every user's events land in exactly one fold (group integrity
    by construction), fold ids cover 0..k-1 on a large-enough corpus,
    and the per-fold user XOR recomputes from the assignment."""
    import datetime as dt
    from functools import reduce

    from talkdesk_async_etl_spark.operators.dedup import _hex15_col
    from talkdesk_async_etl_spark.operators.sampling import (
        _KFOLD_K,
        sample_group_kfold,
    )
    from pyspark.sql import functions as F

    base = dt.datetime(2024, 1, 1)
    rows = [
        (i, base + dt.timedelta(minutes=i), i % 40, "purchase" if i % 7 == 0 else "view",
         1.0, "{}")
        for i in range(400)
    ]
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    ).write.parquet(str(tmp_path / "events.parquet"))
    got = sample_group_kfold(spark, str(tmp_path)).collect()
    assert {r["fold"] for r in got} == set(range(_KFOLD_K))
    assert sum(r["n_users"] for r in got) == 40
    assert sum(r["n_events"] for r in got) == 400

    # recompute membership xor independently
    users = (
        spark.read.parquet(str(tmp_path / "events.parquet"))
        .select("user_id").distinct()
        .withColumn("uh", _hex15_col(F.col("user_id").cast("string")))
        .withColumn("fold", (F.col("uh") % _KFOLD_K).cast("int"))
        .collect()
    )
    expect = {}
    for u in users:
        expect[u["fold"]] = expect.get(u["fold"], 0) ^ u["uh"]
    for r in got:
        assert r["users_xor"] == expect[r["fold"]]


def test_soundex_canonical_vectors(spark):
    """The hand-rolled soundex must reproduce the canonical test
    vectors (H/W-transparency cases included) on BOTH engines."""
    import duckdb

    from talkdesk_async_etl_spark.operators.dedup_clusters import _soundex_sql

    vectors = {
        "Robert": "R163", "Rupert": "R163", "Ashcraft": "A261",
        "Ashcroft": "A261", "Tymczak": "T522", "Pfister": "P236",
        "Honeyman": "H555", "Wright": "W623", "Hughes": "H220",
        "Washington": "W252", "Jackson": "J250", "White": "W300",
        "o'Brien": "O165",  # punctuation stripped before coding
    }
    df = spark.createDataFrame([(w,) for w in vectors], "w string")
    got_spark = {
        r["w"]: r["code"]
        for r in df.selectExpr("w", _soundex_sql("w", "spark") + " AS code").collect()
    }
    con = duckdb.connect()
    got_duck = {
        w: con.execute(
            "select " + _soundex_sql("'" + w.replace("'", "''") + "'", "duck")
        ).fetchone()[0]
        for w in vectors
    }
    for w, want in vectors.items():
        assert got_spark[w] == want, (w, got_spark[w])
        assert got_duck[w] == want, (w, got_duck[w])



def test_gif_real_codec_roundtrip_and_failures():
    """Bit-exact pixel round-trip through real GIF87a encode/decode,
    including a worst-case random raster that forces a mid-stream LZW
    table reset; wrong magic, truncation, and raster/size mismatch
    all fail like a codec."""
    import numpy as np
    import pytest

    from talkdesk_async_etl_spark.operators.multimodal import (
        DecodeNotAvailableError,
        _gif_pixels,
        _lzw_decode,
        _lzw_encode,
        decode_gif_real,
        encode_gif,
    )

    for i in (0, 7, 29):
        px = _gif_pixels(i)
        assert np.array_equal(decode_gif_real(encode_gif(px)), px)

    # worst-case: large random raster -> LZW table overflow + reset
    rng = np.random.RandomState(3)
    big = rng.randint(0, 256, size=(120, 200), dtype=np.uint8)
    assert np.array_equal(decode_gif_real(encode_gif(big)), big)
    raw = big.tobytes()
    assert _lzw_decode(_lzw_encode(raw)) == raw
    flat = np.tile(np.arange(200, dtype=np.uint8), (40, 1))
    assert len(_lzw_encode(flat.tobytes())) < flat.size  # repetitive rows compress

    with pytest.raises(DecodeNotAvailableError):
        decode_gif_real(b"JUNKJUNKJUNK")
    blob = encode_gif(_gif_pixels(1))
    with pytest.raises(Exception):
        decode_gif_real(blob[: len(blob) // 2])


def test_gini_known_values(spark):
    """Gini ground truths: equal masses -> 0; a two-member group where
    one holds everything -> (n-1)/n = 0.5; the 1-2-3 triangle ->
    2/9 = 0.222222 floored to micro units. Also pins the DECIMAL
    scale-up path against a direct Python computation on a group big
    enough that BIGINT*1e6 would overflow if applied to sf1-scale
    masses."""
    from talkdesk_async_etl_spark.operators.stats import gini_per_group

    rows = (
        [("eq", i, 100) for i in range(4)]
        + [("one", 0, 0), ("one", 1, 7_000)]
        + [("tri", 0, 100), ("tri", 1, 200), ("tri", 2, 300)]
    )
    df = spark.createDataFrame(rows, "g string, k long, cents long")
    got = {
        r["g"]: (r["n_members"], r["gini_micro"])
        for r in gini_per_group(df, "g", "k", "cents").collect()
    }
    assert got["eq"] == (4, 0)
    assert got["one"] == (2, 500_000)
    assert got["tri"] == (3, 222_222)

    # big-mass group: numerator*1e6 exceeds int64; DECIMAL path must
    # still produce the exact floor the Python integers give.
    big = [("big", i, (i + 1) * 3_000_000_000_000) for i in range(10)]
    xs = sorted(c for _, _, c in big)
    n, tot = len(xs), sum(xs)
    num = sum((2 * (i + 1) - n - 1) * x for i, x in enumerate(xs))
    want = num * 1_000_000 // (n * tot)
    bdf = spark.createDataFrame(big, "g string, k long, cents long")
    r = gini_per_group(bdf, "g", "k", "cents").collect()[0]
    assert r["gini_micro"] == want
    assert num * 1_000_000 > 2**63  # the case BIGINT arithmetic would lose


def test_cusum_window_form_equals_recurrence(spark):
    """The window form S_i - min(0, min_{j<=i} S_j) must equal the
    textbook recurrence c_i = max(0, c_{i-1} + dev_i) on a constructed
    series with a sustained small drift, and the drift day must fire
    where the accumulated excess (not any single day) crosses one
    average day's mass."""
    import datetime as dt

    from pyspark.sql import functions as F

    # 10 quiet days of 100, then 10 drifted days of 130: no day is
    # individually extreme vs the overall mean 115.
    xs = [100] * 10 + [130] * 10
    n, tot = len(xs), sum(xs)
    devs = [n * x - tot for x in xs]
    c, expect = 0, []
    for d in devs:
        c = max(0, c + d)
        expect.append(c)

    base = dt.date(2024, 1, 1)
    rows = []
    eid = 0
    for i, x in enumerate(xs):
        for _ in range(x):
            rows.append((eid, dt.datetime.combine(base + dt.timedelta(days=i), dt.time(12)), "t"))
            eid += 1
    ev = spark.createDataFrame(rows, "event_id long, ts timestamp, event_type string")

    import tempfile

    with tempfile.TemporaryDirectory() as d:
        ev.write.parquet(d + "/events.parquet")
        # reuse the registered query against the constructed fixture
        from talkdesk_async_etl_spark.plans.registry import load_all

        out = load_all()["events_cusum_drift"].fn(spark, d).collect()[0]
    assert out["n_days"] == n
    assert out["total_events"] == tot
    assert out["peak_cusum_scaled"] == max(expect)
    assert out["peak_day"] == base + dt.timedelta(days=expect.index(max(expect)))
    assert out["drift_days"] == sum(1 for v in expect if v > tot)
    assert out["drift_days"] > 0  # the sustained drift DID fire


def test_hamming_signature_fold_and_topk(spark):
    """The sign-bit signature fold must agree between Spark and DuckDB
    on vectors with mixed signs and zeros (zero is NOT positive ->
    bit 0), self-distance is 0, and a constructed pair differing in
    exactly 3 sign dims is Hamming-3."""
    import duckdb

    from talkdesk_async_etl_spark.operators.similarity import (
        _HAM_BITS,
        _sign_sig_sql,
    )

    base = [1.0 if i % 3 else -1.0 for i in range(64)]
    flipped = list(base)
    for i in (2, 5, 9):
        flipped[i] = -flipped[i]
    zeros = [0.0] * 64
    rows = [(0, base), (1, flipped), (2, zeros)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = {
        r["vec_id"]: r["sig"]
        for r in df.selectExpr(
            "vec_id", _sign_sig_sql("embedding", False) + " AS sig"
        ).collect()
    }
    con = duckdb.connect()
    for vid, vec in rows:
        duck_sig = con.execute(
            "WITH t AS (SELECT CAST(? AS FLOAT[]) AS v) SELECT "
            + _sign_sig_sql("v", True) + " FROM t",
            [vec],
        ).fetchone()[0]
        assert duck_sig == got[vid], (vid, duck_sig, got[vid])

    assert got[2] == 0  # zeros contribute no bits
    want = sum(1 << i for i in range(_HAM_BITS) if base[i] > 0)
    assert got[0] == want
    assert bin(got[0] ^ got[1]).count("1") == 3


def test_bmp_rle_codec_roundtrip_delta_and_failures():
    """Bit-exact round-trips through real BI_RLE8 encode/decode for
    the fixture formula (mixed encoded-run / absolute-mode texture),
    a worst-case random raster, and a pure-run constant raster that
    must actually compress; a handcrafted stream proves the decoder's
    delta-escape path (zero fill); wrong magic, truncation, non-RLE8
    tags, and row overruns fail like a codec."""
    import struct

    import numpy as np
    import pytest

    from talkdesk_async_etl_spark.operators.multimodal import (
        DecodeNotAvailableError,
        _bmp_pixels,
        decode_bmp_rle,
        encode_bmp_rle,
    )

    for i in (0, 3, 17, 29):
        px = _bmp_pixels(i)
        assert np.array_equal(decode_bmp_rle(encode_bmp_rle(px)), px)

    rng = np.random.RandomState(11)
    noisy = rng.randint(0, 256, size=(40, 77), dtype=np.uint8)  # odd width: pad path
    assert np.array_equal(decode_bmp_rle(encode_bmp_rle(noisy)), noisy)

    flat = np.full((20, 100), 9, dtype=np.uint8)
    blob = encode_bmp_rle(flat)
    assert len(blob) - 1078 < flat.size // 10  # RLE really compresses runs

    # handcrafted delta escape: 4x4, bottom row = two 7s, delta skips
    # 1 right and 1 row up, then one 5 — everything skipped stays 0.
    palette = b"".join(bytes((g, g, g, 0)) for g in range(256))
    rle = bytes((2, 7)) + b"\x00\x02" + bytes((1, 1)) + bytes((1, 5)) + b"\x00\x01"
    head = struct.pack("<2sIHHI", b"BM", 1078 + len(rle), 0, 0, 1078)
    info = struct.pack("<IiiHHIIiiII", 40, 4, 4, 1, 8, 1, len(rle), 0, 0, 256, 0)
    got = decode_bmp_rle(head + info + palette + rle)
    want = np.zeros((4, 4), dtype=np.uint8)
    want[3, 0] = want[3, 1] = 7  # bottom row (bottom-up y=0)
    want[2, 3] = 5  # delta lands at x=2+1=3, one row up
    assert np.array_equal(got, want)

    with pytest.raises(DecodeNotAvailableError):
        decode_bmp_rle(b"NOPE" + bytes(60))
    good = encode_bmp_rle(_bmp_pixels(1))
    with pytest.raises(DecodeNotAvailableError):
        decode_bmp_rle(good[: len(good) // 2])
    bad = bytearray(good)
    struct.pack_into("<I", bad, 30, 0)  # biCompression -> BI_RGB
    with pytest.raises(DecodeNotAvailableError):
        decode_bmp_rle(bytes(bad))


def test_benford_constants_and_digit_extraction(spark):
    """The nine frozen log10(1+1/d) micro constants must sum to
    exactly 1e6 (a typo would skew every deviation), agree with
    Python's log10 to the microunit, and the digit extraction must
    read the FIRST significant digit of cents, not of the dollar
    string."""
    import math

    from talkdesk_async_etl_spark.operators.stats import _BENFORD_MICRO

    assert sum(_BENFORD_MICRO) == 1_000_000
    for d, micro in enumerate(_BENFORD_MICRO, start=1):
        assert abs(micro - round(math.log10(1 + 1 / d) * 1e6)) <= 1, d

    from pyspark.sql import functions as F

    df = spark.createDataFrame([(9.99,), (100.0,), (0.07,)], "v double")
    got = [
        r[0]
        for r in df.select(
            F.substring(
                F.floor(F.col("v") * 100 + 0.5).cast("long").cast("string"), 1, 1
            ).cast("int")
        ).collect()
    ]
    assert got == [9, 1, 7]  # 999 cents, 10000 cents, 7 cents


def test_degree_assortativity_constructed_graphs(spark):
    """Star graph -> r = -1 (perfectly disassortative); k-regular
    ring -> zero-variance guard returns 0; two hubs joined through
    their own cliques -> positive r. Values checked against a plain
    Python Pearson over the directed edge list."""
    from talkdesk_async_etl_spark.operators.graph import degree_assortativity_from
    from talkdesk_async_etl_spark.plans.cache import cache_scope

    def run(edges):
        df = spark.createDataFrame(edges, "a int, b int")
        with cache_scope():
            return degree_assortativity_from(df).collect()[0]

    def python_r(edges):
        from collections import Counter

        deg = Counter()
        for a, b in edges:
            deg[a] += 1
            deg[b] += 1
        dir_edges = [(a, b) for a, b in edges] + [(b, a) for a, b in edges]
        m = len(dir_edges)
        sj = sum(deg[a] for a, _ in dir_edges)
        sjk = sum(deg[a] * deg[b] for a, b in dir_edges)
        sj2 = sum(deg[a] ** 2 for a, _ in dir_edges)
        num, den = m * sjk - sj * sj, m * sj2 - sj * sj
        if den == 0:
            return 0
        q = (abs(num) * 1_000_000) // den
        return -q if num < 0 else q

    star = [(0, i) for i in range(1, 6)]
    r = run(star)
    assert r["assortativity_micro"] == python_r(star) == -1_000_000

    ring = [(i, (i + 1) % 6) for i in range(6)]  # 2-regular: variance 0
    assert run(ring)["assortativity_micro"] == python_r(ring) == 0

    # two 4-cliques bridged by an edge between two degree-4 hubs:
    # high-degree nodes attach to high-degree nodes -> r > 0... the
    # bridge makes its endpoints degree-4 vs clique-internal degree-3;
    # exact value pinned by the Python replica either way.
    clique1 = [(a, b) for a in range(4) for b in range(a + 1, 4)]
    clique2 = [(a + 4, b + 4) for a, b in clique1]
    bridged = clique1 + clique2 + [(0, 4)]
    assert run(bridged)["assortativity_micro"] == python_r(bridged)


def test_readability_counts_and_bands(spark):
    """Known word/sentence/syllable counts through the frozen
    vowel-group heuristic, and the exact micro Flesch that follows;
    a long-sentence polysyllabic doc must band 'hard', a terse one
    'easy'; zero-word docs are excluded."""
    import tempfile

    from talkdesk_async_etl_spark.plans.registry import load_all

    QUERIES = load_all()
    docs = [
        (1, "the cat sat. it ran!", "en", "t", 0),  # 5 words, 2 sentences
        (2, "incomprehensibility necessitates extraordinary perseverance "
            "notwithstanding considerable organizational complexity "
            "throughout multinational bureaucracies everywhere", "en", "t", 0),
        (3, "", "en", "t", 0),  # excluded: zero words
    ]
    df = spark.createDataFrame(
        docs, "doc_id long, text string, lang string, source string, n_chars long"
    )
    with tempfile.TemporaryDirectory() as d:
        df.write.parquet(d + "/documents.parquet")
        rows = {r["doc_id"]: r for r in QUERIES["text_readability_score"].fn(spark, d).collect()}

    assert set(rows) == {1, 2}
    r1 = rows[1]
    assert r1["n_words"] == 5 and r1["n_sentences"] == 2
    # the(1) cat(1) sat.(1) it(1) ran!(1) -> 5 syllables
    assert r1["n_syllables"] == 5
    want1 = 206_835_000 - (1_015_000 * 5) // 2 - (84_600_000 * 5) // 5
    assert r1["flesch_micro"] == want1 and r1["band"] == "easy"
    assert rows[2]["band"] == "hard" and rows[2]["n_sentences"] == 1


def test_decile_shares_constructed(spark):
    """20 customers with known spends -> 2 per decile; shares and the
    Lorenz cumulative must match exact integer expectations, with the
    whale pair carrying the top decile."""
    import tempfile
    import datetime as dt

    from talkdesk_async_etl_spark.plans.registry import load_all

    QUERIES = load_all()
    # customer k spends (k+1)*100 cents; customers 18,19 are whales.
    spends = {k: (k + 1) * 100 for k in range(18)}
    spends[18], spends[19] = 50_000, 150_000
    rows = []
    oid = 0
    for k, cents in spends.items():
        rows.append((oid, k, "F", cents / 100.0, dt.datetime(2024, 1, 1), "1-URGENT"))
        oid += 1
    df = spark.createDataFrame(
        rows,
        "o_orderkey long, o_custkey long, o_orderstatus string,"
        " o_totalprice double, o_orderdate timestamp, o_orderpriority string",
    )
    with tempfile.TemporaryDirectory() as d:
        df.write.parquet(d + "/orders.parquet")
        # r16: the operator reads the customer FK-domain table's parquet
        # METADATA count as the two_pass_ntile size hint.
        spark.createDataFrame(
            [(k,) for k in spends], "c_custkey long"
        ).write.parquet(d + "/customer.parquet")
        got = {r["decile"]: r for r in QUERIES["agg_decile_shares"].fn(spark, d).collect()}

    total = sum(spends.values())
    assert len(got) == 10 and all(got[i]["n_customers"] == 2 for i in got)
    assert got[10]["decile_cents"] == 200_000
    assert got[10]["share_micro"] == 200_000 * 1_000_000 // total
    assert got[10]["cum_share_micro"] == 1_000_000  # Lorenz ends at 1
    running = 0
    for i in range(1, 11):
        running += got[i]["decile_cents"]
        assert got[i]["cum_share_micro"] == running * 1_000_000 // total


def test_decision_stump_separable_and_replica(spark):
    """A constructed perfectly-separable fixture must put impurity 0
    at the separating split and rank it 1; every candidate's
    impurity_micro must equal a pure-Python integer replica; splits
    that send everything one way pin the 1e6 sentinel."""
    import tempfile

    from talkdesk_async_etl_spark.operators.mining import (
        _STUMP_DIMS,
        _STUMP_THRESHOLDS,
    )
    from talkdesk_async_etl_spark.plans.registry import load_all

    QUERIES = load_all()
    # dim 0 separates at 0: negatives are label 0, positives label 1.
    # Values sit at ±0.25 so the 0-threshold is the clean cut. Other
    # dims are constant 0.4 -> every split on them is one-sided.
    rows = []
    for k in range(40):
        y = k % 2
        v0 = 0.25 if y else -0.25
        emb = [v0, 0.4, 0.4, 0.4] + [0.0] * 60
        rows.append((k, emb, y))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    with tempfile.TemporaryDirectory() as d:
        df.write.parquet(d + "/embeddings.parquet")
        got = QUERIES["ml_decision_stump"].fn(spark, d).collect()

    import math

    import numpy as np

    def replica(dim, thr):
        # identical quantization path: float32 storage, *1e6, floor
        quant = lambda x: math.floor(float(np.float32(x)) * 1_000_000 + 0.5)
        n = len(rows)
        pos = sum(y for _, _, y in rows)
        n_l = sum(1 for _, e, _ in rows if quant(e[dim]) <= thr)
        pos_l = sum(y for _, e, y in rows if quant(e[dim]) <= thr)
        if n_l == 0 or n_l == n:
            return n_l, pos_l, 1_000_000
        n_r, pos_r = n - n_l, pos - pos_l
        num = n_r * (n_l * n_l - pos_l * pos_l - (n_l - pos_l) ** 2) + n_l * (
            n_r * n_r - pos_r * pos_r - (n_r - pos_r) ** 2
        )
        return n_l, pos_l, (num * 1_000_000) // (n * n_l * n_r)

    by_split = {(r["dim"], r["threshold_micro"]): r for r in got}
    assert len(by_split) == len(_STUMP_DIMS) * len(_STUMP_THRESHOLDS)
    for dim in _STUMP_DIMS:
        for thr in _STUMP_THRESHOLDS:
            n_l, pos_l, imp = replica(dim, thr)
            r = by_split[(dim, thr)]
            assert (r["n_left"], r["pos_left"], r["impurity_micro"]) == (
                n_l,
                pos_l,
                imp,
            ), (dim, thr)
    best = next(r for r in got if r["rank"] == 1)
    assert best["dim"] == 0 and best["impurity_micro"] == 0
    # constant dims: every threshold one-sided -> sentinel
    assert all(
        by_split[(d, t)]["impurity_micro"] == 1_000_000
        for d in (1, 2, 3)
        for t in _STUMP_THRESHOLDS
    )


def test_clustering_coeff_constructed_graphs(spark):
    """Triangle-plus-pendant: the two pure-triangle nodes get cc = 1,
    the shared node deg 3 with one triangle gets 2/6, the pendant 0;
    a 4-clique is cc = 1 everywhere; a star is 0 everywhere."""
    from talkdesk_async_etl_spark.operators.graph import clustering_coeff_from
    from talkdesk_async_etl_spark.plans.cache import cache_scope

    def run(edges):
        df = spark.createDataFrame(edges, "a int, b int")
        with cache_scope():
            return {
                r["node"]: (r["deg"], r["triangles"], r["cc_micro"])
                for r in clustering_coeff_from(df).collect()
            }

    tri_pendant = [(0, 1), (0, 2), (1, 2), (0, 3)]
    got = run(tri_pendant)
    assert got[1] == (2, 1, 1_000_000) and got[2] == (2, 1, 1_000_000)
    assert got[0] == (3, 1, 333_333)
    assert got[3] == (1, 0, 0)

    clique4 = [(a, b) for a in range(4) for b in range(a + 1, 4)]
    assert all(v == (3, 3, 1_000_000) for v in run(clique4).values())

    star = [(0, i) for i in range(1, 6)]
    got = run(star)
    assert got[0] == (5, 0, 0) and all(got[i] == (1, 0, 0) for i in range(1, 6))


def test_seasonal_dow_baseline_constructed(spark):
    """Three identical weeks except one inflated Tuesday: its cell
    must keep the median at the quiet level, report the inflated
    residual, and name the exact day; the dow key must be the
    engine-agnostic (epoch_day + 4) % 7 arithmetic (1970-01-01 was a
    Thursday -> dow 0), not a builtin's numbering."""
    import datetime as dt
    import tempfile

    from talkdesk_async_etl_spark.plans.registry import load_all

    base = dt.date(2024, 1, 1)  # a Monday; (epoch+4)%7 -> 4
    counts = {}
    for week in range(3):
        for d in range(7):
            day = base + dt.timedelta(days=week * 7 + d)
            counts[day] = 10
    spike = base + dt.timedelta(days=8)  # second Tuesday
    counts[spike] = 25

    rows = []
    eid = 0
    for day, n in counts.items():
        for _ in range(n):
            rows.append((eid, dt.datetime.combine(day, dt.time(9)), "t"))
            eid += 1
    ev = spark.createDataFrame(rows, "event_id long, ts timestamp, event_type string")
    with tempfile.TemporaryDirectory() as d:
        ev.write.parquet(d + "/events.parquet")
        got = {
            r["dow"]: r
            for r in load_all()["window_seasonal_dow_baseline"].fn(spark, d).collect()
        }

    assert set(got) == set(range(7))
    assert got[4]["n_days"] == 3  # Mondays: (19723+4)%7 == 4
    tuesday_dow = ((spike - dt.date(1970, 1, 1)).days + 4) % 7
    cell = got[tuesday_dow]
    assert cell["median_count"] == 10.0
    assert cell["max_residual"] == 15.0
    assert cell["worst_day"] == spike
    quiet = [got[w] for w in got if w != tuesday_dow]
    assert all(c["max_residual"] == 0.0 for c in quiet)


def test_base64_wrap_seam_pinned(spark):
    """Spark's base64 is the MIME variant (CRLF wrap every 76 chars);
    DuckDB emits unwrapped RFC 4648. The operator's contract is the
    UNWRAPPED form — pin the raw wrap so a future Spark change
    surfaces here, and pin that stripping CRLF equals DuckDB."""
    import duckdb

    payload = "x" * 300
    raw = spark.sql(
        f"SELECT base64(encode('{payload}', 'UTF-8')) AS b"
    ).collect()[0]["b"]
    assert "\r\n" in raw  # the MIME wrap is real
    duck = duckdb.sql(f"select base64(encode('{payload}'))").fetchone()[0]
    assert raw.replace("\r", "").replace("\n", "") == duck
    assert "\n" not in duck


def test_csv_failfast_raises_and_modes_agree(spark, tmp_path):
    """FAILFAST must raise on the corrupted landing (the third mode of
    the matrix, pinned here because a registered query can't return a
    raise); PERMISSIVE must keep the corrupt line whole in
    _corrupt_record with null data columns."""
    import pytest

    lines = ["1,100,OK", "2,abc,BAD", "3,300,OK"]
    p = tmp_path / "csv_landing"
    p.mkdir()
    (p / "part-0.txt").write_text("\n".join(lines) + "\n")

    schema = "k bigint, cents bigint, s string, _corrupt_record string"
    perm = (
        spark.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .csv(str(p))
    )
    rows = {r["k"]: r for r in perm.collect()}
    assert rows[1]["cents"] == 100 and rows[1]["_corrupt_record"] is None
    corrupt = [r for r in rows.values() if r["_corrupt_record"] is not None]
    assert len(corrupt) == 1 and corrupt[0]["_corrupt_record"] == "2,abc,BAD"
    assert corrupt[0]["cents"] is None

    ff = (
        spark.read.schema("k bigint, cents bigint, s string")
        .option("mode", "FAILFAST")
        .csv(str(p))
    )
    with pytest.raises(Exception) as ei:
        ff.collect()
    assert "Malformed" in str(ei.value) or "FAILFAST" in str(ei.value)


def test_max_drawdown_replica_and_nonvacuous(spark):
    """The two stacked windows must equal the textbook peak-to-trough
    walk on a constructed boom-slump-recover series (pure-Python
    replica), the trough day must land at the slump bottom, and the
    statistic must be NON-vacuous (raw cumulative revenue is monotone;
    the centered series is the point)."""
    import datetime as dt
    import tempfile

    from talkdesk_async_etl_spark.plans.registry import load_all

    # one nation; daily cents: strong start, sustained slump, recovery
    cents = [500, 500, 500, 100, 100, 100, 100, 600, 600, 600]
    n, tot = len(cents), sum(cents)
    devs = [n * x - tot for x in cents]
    cum = peak = 0
    best = (0, None)
    cums = []
    for i, d in enumerate(devs):
        cum += d
        peak = max(peak, cum)
        cums.append(cum)
        ddn = peak - cum
        if ddn > best[0]:
            best = (ddn, i)
    assert best[0] > 0  # the slump is real in centered units

    base = dt.date(2024, 3, 1)
    orders = []
    oid = 0
    for i, x in enumerate(cents):
        orders.append(
            (oid, 7, "F", x / 100.0,
             dt.datetime.combine(base + dt.timedelta(days=i), dt.time(0)), "1-URGENT")
        )
        oid += 1
    odf = spark.createDataFrame(
        orders,
        "o_orderkey long, o_custkey long, o_orderstatus string,"
        " o_totalprice double, o_orderdate timestamp, o_orderpriority string",
    )
    cdf = spark.createDataFrame(
        [(7, "c7", 3, 0.0, "SEG")],
        "c_custkey long, c_name string, c_nationkey int, c_acctbal double,"
        " c_mktsegment string",
    )
    ndf = spark.createDataFrame(
        [(3, "NATION_3", 0)], "n_nationkey int, n_name string, n_regionkey int"
    )
    with tempfile.TemporaryDirectory() as d:
        odf.write.parquet(d + "/orders.parquet")
        cdf.write.parquet(d + "/customer.parquet")
        ndf.write.parquet(d + "/nation.parquet")
        out = load_all()["window_max_drawdown"].fn(spark, d).collect()[0]

    assert out["n_days"] == n
    assert out["max_drawdown_scaled"] == best[0]
    assert out["trough_day"] == base + dt.timedelta(days=best[1])


def test_session_bounce_constructed(spark):
    """Three sessions for one user (bounce, 2-event, bounce) with
    distinct entry types plus a second user's single long session:
    counts, entry attribution, and the exact micro rate."""
    import datetime as dt
    import tempfile

    from talkdesk_async_etl_spark.plans.registry import load_all

    t0 = dt.datetime(2024, 5, 1, 9, 0, 0)
    m = dt.timedelta(minutes=1)
    h = dt.timedelta(hours=2)
    rows = [
        # user 1: bounce (view), then [click, purchase], then bounce (view)
        (1, t0, 1, "view"),
        (2, t0 + h, 1, "click"),
        (3, t0 + h + m, 1, "purchase"),
        (4, t0 + 2 * h + h, 1, "view"),
        # user 2: one 3-event session entered via click
        (5, t0, 2, "click"),
        (6, t0 + m, 2, "view"),
        (7, t0 + 2 * m, 2, "view"),
    ]
    ev = spark.createDataFrame(
        [(eid, ts, uid, et) for eid, ts, uid, et in rows],
        "event_id long, ts timestamp, user_id long, event_type string",
    )
    with tempfile.TemporaryDirectory() as d:
        ev.write.parquet(d + "/events.parquet")
        got = {
            r["entry_type"]: r
            for r in load_all()["window_session_bounce"].fn(spark, d).collect()
        }

    assert got["view"]["n_sessions"] == 2 and got["view"]["n_bounce"] == 2
    assert got["view"]["bounce_micro"] == 1_000_000
    assert got["click"]["n_sessions"] == 2 and got["click"]["n_bounce"] == 0
    assert got["click"]["bounce_micro"] == 0


def test_source_rollup_cross_source_dup(spark):
    """A text duplicated ACROSS two sources must count as dup in both
    (mirror-site detection); unique docs don't; token mass exact."""
    import tempfile

    from talkdesk_async_etl_spark.plans.registry import load_all

    docs = [
        (1, "shared mirror text", "en", "src_a", 0),
        (2, "shared mirror text", "en", "src_b", 0),
        (3, "unique a", "en", "src_a", 0),
        (4, "one two three four", "en", "src_b", 0),
    ]
    df = spark.createDataFrame(
        docs, "doc_id long, text string, lang string, source string, n_chars long"
    )
    with tempfile.TemporaryDirectory() as d:
        df.write.parquet(d + "/documents.parquet")
        got = {
            r["source"]: r
            for r in load_all()["text_source_quality_rollup"].fn(spark, d).collect()
        }

    assert got["src_a"]["n_docs"] == 2 and got["src_a"]["dup_docs"] == 1
    assert got["src_b"]["n_docs"] == 2 and got["src_b"]["dup_docs"] == 1
    assert got["src_a"]["total_tokens"] == 3 + 2
    assert got["src_b"]["total_tokens"] == 3 + 4
    assert got["src_a"]["dup_micro"] == 500_000


def test_ams_signs_cross_engine_and_merge(spark):
    """The ±1 sign hashes must agree between Spark and DuckDB for
    every counter (a single disagreement flips a Z), the sketch must
    detect a hot-key F2 explosion a distinct-count cannot see, and
    sketches must MERGE: Z over a union equals the sum of the parts'
    Z's (the per-batch rollup property)."""
    import duckdb

    from talkdesk_async_etl_spark.operators.sketches import _AMS_K, _ams_sign_sql

    keys = list(range(40))
    exprs = [
        _ams_sign_sql("id", i, "spark") + f" AS s{i}" for i in range(_AMS_K)
    ]
    sdf = spark.range(40).selectExpr("id", *exprs).collect()
    con = duckdb.connect()
    for row in sdf:
        duck = con.execute(
            "SELECT "
            + ", ".join(_ams_sign_sql(str(row["id"]), i, "duck") for i in range(_AMS_K))
        ).fetchone()
        assert tuple(duck) == tuple(row[f"s{i}"] for i in range(_AMS_K)), row["id"]

    # hot-key F2: one key with multiplicity 100 among 40 singletons.
    def z(counts, i):
        sign = {
            k: con.execute("SELECT " + _ams_sign_sql(str(k), i, "duck")).fetchone()[0]
            for k in counts
        }
        return sum(c * sign[k] for k, c in counts.items())

    flat = {k: 1 for k in keys}
    hot = dict(flat)
    hot[7] = 100
    f2_hot = sum(c * c for c in hot.values())
    est = sum(z(hot, i) ** 2 for i in range(_AMS_K)) // _AMS_K
    assert abs(est - f2_hot) * 2 <= f2_hot  # skew detected within tol

    # mergeability: Z(a ⊎ b) == Z(a) + Z(b) for every counter
    a = {k: 2 for k in keys[:20]}
    b = {k: 3 for k in keys[10:]}
    union = {k: a.get(k, 0) + b.get(k, 0) for k in set(a) | set(b)}
    for i in range(_AMS_K):
        assert z(union, i) == z(a, i) + z(b, i)


def test_seasonal_backtest_replica(spark):
    """A constructed strongly-weekly series must pick seasonal_naive
    with the exact MASE a pure-Python replica computes; a trendy
    non-seasonal series must pick naive."""
    import datetime as dt
    import tempfile

    from talkdesk_async_etl_spark.plans.registry import load_all

    base = dt.date(2024, 1, 1)
    weekly = [100, 50, 50, 50, 50, 50, 80] * 4          # strong weekly shape
    trendy = [100 + 5 * i for i in range(28)]            # pure trend

    rows = []
    eid = 0
    for et, series in (("wk", weekly), ("tr", trendy)):
        for i, x in enumerate(series):
            for _ in range(x):
                rows.append(
                    (eid, dt.datetime.combine(base + dt.timedelta(days=i), dt.time(6)), et)
                )
                eid += 1
    ev = spark.createDataFrame(rows, "event_id long, ts timestamp, event_type string")

    def replica(series):
        mae7 = sum(abs(series[i] - series[i - 7]) for i in range(7, len(series)))
        mae1 = sum(abs(series[i] - series[i - 1]) for i in range(7, len(series)))
        mase = 0 if mae1 == 0 else mae7 * 1_000_000 // mae1
        return mae7, mae1, mase

    with tempfile.TemporaryDirectory() as d:
        ev.write.parquet(d + "/events.parquet")
        got = {
            r["event_type"]: r
            for r in load_all()["window_seasonal_naive_backtest"].fn(spark, d).collect()
        }

    for et, series in (("wk", weekly), ("tr", trendy)):
        mae7, mae1, mase = replica(series)
        r = got[et]
        assert (r["mae7_sum"], r["mae1_sum"], r["mase_micro"]) == (mae7, mae1, mase), et
        assert r["n_scored"] == len(series) - 7
    assert got["wk"]["best_model"] == "seasonal_naive"
    assert got["wk"]["mase_micro"] == 0  # perfect weekly repetition
    assert got["tr"]["best_model"] == "naive"


def test_entity_resolution_e2e_constructed(spark):
    """A three-name edit chain (bold/cold/old anvil) must merge
    TRANSITIVELY into one entity with the lexicographic-min canonical;
    exact-dup records collapse at stage 2; an unrelated name stays its
    own entity; every audit count matches hand arithmetic."""
    import tempfile

    from talkdesk_async_etl_spark.plans.registry import load_all

    parts = [
        (1, "cold anvil"),
        (2, "old anvil"),
        (3, "bold anvil"),
        (4, "cold anvil"),     # exact dup record
        (5, "red widget"),
        (6, "  Red   Widget "),  # normalization dup of 5
    ]
    df = spark.createDataFrame(parts, "p_partkey long, p_name string")
    with tempfile.TemporaryDirectory() as d:
        df.write.parquet(d + "/part.parquet")
        rows = {
            r["stage"]: r
            for r in load_all()["pipeline_entity_resolution_e2e"].fn(spark, d).collect()
        }

    assert rows["normalize"]["rows_out"] == 6
    # distinct normalized names: {cold,old,bold} anvil + red widget -> 4
    assert rows["collapse_exact"]["rows_out"] == 4
    # pairs within the anvil block: (bold,cold)=2? b<c<o lexicographic:
    # bold-cold 2 edits, bold-old 1, cold-old 1 -> 3 pairs
    assert rows["block_pairs"]["rows_out"] == 3
    assert rows["components"]["rows_out"] == 1  # one merged cluster
    assert rows["resolve"]["rows_out"] == 2  # anvil entity + red widget
    assert rows["map_back"]["rows_out"] == 6
    assert rows["map_back"]["checksum"] != 0


def test_pipeline_incremental_e2e_constructed(spark, tmp_path):
    """Constructed landing where EVERY CDC/maintenance branch fires:
    an untouched old survivor, an updated old doc (source moves to
    'recrawl'), a deleted old doc whose near-dup pair must vanish, an
    update-then-delete key (%15 — the tombstone must win), new
    inserts, a source fully retracted from the maintained view, an
    old↔new quotient merge, an untouched old-old cluster, and a
    new-new cluster."""
    from talkdesk_async_etl_spark.operators.curation import (
        pipeline_incremental_e2e,
    )

    A = ["t%02d" % i for i in range(20)]
    B = ["b%02d" % i for i in range(20)]
    C = ["c%02d" % i for i in range(20)]
    docs = [
        # old files (doc_id % 8 < 5)
        (1, " ".join(A), "en", "src_a", 100),                   # survivor
        (2, " ".join(B), "en", "src_d", 100),                   # old-old pair a
        (4, " ".join(B[:19] + ["zz"]), "en", "src_d", 100),     # old-old pair b
        (9, " ".join(A[:19] + ["yy"]), "en", "src_gone", 50),   # deleted (%3)
        (10, " ".join(["u%02d" % i for i in range(20)]),
         "en", "src_b", 70),                                    # updated (%5)
        (60, " ".join(["q%02d" % i for i in range(20)]),
         "en", "src_c", 30),                                    # upd+del (%15)
        # new files (doc_id % 8 >= 5)
        (13, " ".join(A[:19] + ["ww"]), "en", "src_a", 100),    # pairs w/ doc 1
        (5, " ".join(C), "en", "src_n1", 100),                  # new-new pair a
        (7, " ".join(C[:19] + ["vv"]), "en", "src_n1", 100),    # new-new pair b
        (6, " ".join(["n%02d" % i for i in range(20)]),
         "en", "src_n1", 100),                                  # new singleton
    ]
    spark.createDataFrame(
        docs, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.parquet(str(tmp_path / "documents.parquet"))

    got = {r["stage_no"]: r for r in pipeline_incremental_e2e(spark, str(tmp_path)).collect()}
    assert [got[s]["stage"] for s in range(1, 6)] == [
        "land_manifest", "cdc_apply", "ivm_source_stats",
        "inc_clusters", "idempotence_recheck",
    ]
    # files present: {1,2,4} done + {5,6,7} new
    assert got[1]["rows_out"] == 6
    # live: old 1,2,4,10 (9 and 60 tombstoned) + new 5,6,7,13
    assert got[2]["rows_out"] == 8
    # view: src_a{1,13}, src_d{2,4}, recrawl{10}, src_n1{5,6,7};
    # src_gone and src_c fully retracted -> dropped
    assert got[3]["rows_out"] == 4
    # clusters: {1,13} old<->new quotient merge, {2,4} old-old,
    # {5,7} new-new; doc 9's A-variant is dead so no fourth cluster
    assert got[4]["rows_out"] == 3
    # idempotence: every file's recomputed stats match the first pass
    assert got[5]["rows_out"] == got[1]["rows_out"] == 6
    for s in range(1, 6):
        assert got[s]["checksum"] is not None


def test_ivfpq_full_ranked_topk_and_recall(spark):
    """IVF-PQ output contract: a full, densely-ranked top-10 per query
    (a probe list that starves a query, a lost shortlist block, or a
    rerank join that drops vectors shows up as a short or gapped
    ranking), and recall@10 against the exact operator clears the
    documented 0.7 floor with margin."""
    from pyspark.sql import functions as F

    from talkdesk_async_etl_spark.operators.similarity import (
        sim_topk_cosine,
        sim_topk_ivfpq,
    )
    from talkdesk_async_etl_spark.plans.cache import cache_scope

    with cache_scope():
        df = sim_topk_ivfpq(spark, SF_SMALL)
        assert df.count() == 50  # 5 queries x top-10
        ranks = df.groupBy("q_id").agg(
            F.max("rank").alias("mx"), F.count("*").alias("n")
        ).collect()
        for r in ranks:
            assert r["mx"] == 10 and r["n"] == 10
        exact = {(r.q_id, r.neighbor_id)
                 for r in sim_topk_cosine(spark, SF_SMALL).collect()}
        got = {(r.q_id, r.neighbor_id) for r in df.collect()}
    assert len(exact & got) / len(exact) >= 0.7


def test_ks_source_drift_constructed(spark, tmp_path):
    """Two-source corpus with hand-computable ecdfs: disjoint value
    ranges give KS = 1e6 exactly (attained at the boundary value), and
    the statistic is symmetric between the two sources (each is the
    other's 'rest')."""
    from talkdesk_async_etl_spark.operators.stats import agg_ks_source_drift

    rows = [(i, "t", "en", "A", v) for i, v in enumerate([10, 10, 20])] + [
        (10 + i, "t", "en", "B", v) for i, v in enumerate([30, 30, 40])
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.parquet(str(tmp_path / "documents.parquet"))
    got = {r["source"]: r for r in agg_ks_source_drift(spark, str(tmp_path)).collect()}
    for s in ("A", "B"):
        assert got[s]["n_src"] == 3 and got[s]["n_rest"] == 3
        assert got[s]["ks_micro"] == 1_000_000
        assert got[s]["ks_at_value"] == 20  # smallest argmax value


def test_mann_whitney_midranks_constructed(spark, tmp_path):
    """Tie handling: one en doc and one de doc with the SAME length
    must midrank to AUC exactly 0.5; a clean separation gives AUC 0."""
    from talkdesk_async_etl_spark.operators.stats import agg_mann_whitney_auc

    tied = [(1, "t", "en", "w", 100), (2, "t", "de", "w", 100)]
    spark.createDataFrame(
        tied, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.parquet(str(tmp_path / "documents.parquet"))
    r = agg_mann_whitney_auc(spark, str(tmp_path)).collect()[0]
    assert (r["n_en"], r["n_de"]) == (1, 1)
    assert r["u_twice"] == 1  # 2*midrank(1.5) - n1(n1+1) = 3 - 2
    assert r["auc_micro"] == 500_000
    assert r["tie_cubes"] == 2 * 2 * 2 - 2

    sep = [(1, "t", "en", "w", 10), (2, "t", "en", "w", 20),
           (3, "t", "de", "w", 30), (4, "t", "de", "w", 40)]
    import shutil
    shutil.rmtree(str(tmp_path / "documents.parquet"))
    spark.createDataFrame(
        sep, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.parquet(str(tmp_path / "documents.parquet"))
    r = agg_mann_whitney_auc(spark, str(tmp_path)).collect()[0]
    assert r["u_twice"] == 0 and r["auc_micro"] == 0


def test_autocorr_periodic_series(spark, tmp_path):
    """A strictly 7-periodic daily series must read acf(7) ~ 1.0 (the
    integer-sqrt floor can only push the micro value a hair ABOVE 1e6,
    never below) and acf(1) well under acf(7)."""
    import datetime

    from talkdesk_async_etl_spark.operators.stats import events_autocorr_lag

    rows = []
    eid = 0
    base = datetime.datetime(2024, 1, 1)
    pattern = [1, 5, 2, 7, 3, 9, 4]  # weekly cycle, aperiodic at lag 1
    for d in range(35):
        for _ in range(pattern[d % 7]):
            rows.append((eid, base + datetime.timedelta(days=d), 1, "click",
                         1.0, "{}"))
            eid += 1
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    ).write.parquet(str(tmp_path / "events.parquet"))
    got = {r["lag"]: r for r in events_autocorr_lag(spark, str(tmp_path)).collect()}
    assert got[7]["n_pairs"] == 28 and got[1]["n_pairs"] == 34
    # floor(sqrt) in each denominator biases the micro value UP by at
    # most (1 + 1/sqrt(D))^2 ~ 1 + 2/sqrt(D); D = 5344 here, so the
    # exact value is 5344e6 // 73^2 = 1_002_814 — never below 1e6.
    assert 1_000_000 <= got[7]["acf_micro"] <= 1_003_000
    assert got[1]["acf_micro"] < 0  # the sawtooth anti-correlates at lag 1


def test_bootstrap_replicates_match_python_replay(spark, tmp_path):
    """The frozen Poisson(1) thresholds must equal floor(1e6·cdf) from
    math.exp, and every replicate's (n_draws, chars_total) must equal a
    pure-python replay of the md5 weight rule — the determinism that
    makes the bootstrap oracle-checkable."""
    import hashlib
    import math

    from talkdesk_async_etl_spark.operators.sampling import (
        _BOOT_B,
        _BOOT_THRESH,
        sample_bootstrap_replicates,
    )

    cdf = 0.0
    for k, t in enumerate(_BOOT_THRESH):
        cdf += math.exp(-1) / math.factorial(k)
        assert t == math.floor(cdf * 1_000_000)

    docs = [(i, "t", "en", "w", 50 + 7 * i) for i in range(40)]
    spark.createDataFrame(
        docs, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.parquet(str(tmp_path / "documents.parquet"))

    def weight(doc_id, r):
        u = int(hashlib.md5(f"{doc_id}|{r}".encode()).hexdigest()[:15], 16) % 1_000_000
        for k, t in enumerate(_BOOT_THRESH):
            if u < t:
                return k
        return 5

    expect = {}
    for r in range(_BOOT_B):
        ws = [(weight(d, r), nc) for d, _, _, _, nc in docs]
        expect[r] = (sum(w for w, _ in ws), sum(w * nc for w, nc in ws))
    got = {r["replicate"]: r for r in
           sample_bootstrap_replicates(spark, str(tmp_path)).collect()}
    assert set(got) == set(range(_BOOT_B))
    for r, (nd, ct) in expect.items():
        assert (got[r]["n_draws"], got[r]["chars_total"]) == (nd, ct)
        if nd:
            assert got[r]["mean_chars_micro"] == ct * 1_000_000 // nd


def test_tukey_fences_constructed(spark, tmp_path):
    """Hand-computable quartiles and fences: n=8 values with one far
    outlier — q1 at rank ceil(8/4)=2, q3 at rank ceil(24/4)=6, only the
    extreme value clears the high fence, nothing clears the low one."""
    from talkdesk_async_etl_spark.operators.stats import agg_tukey_outlier_fences

    vals = [1.00, 2.00, 3.00, 4.00, 5.00, 6.00, 7.00, 1000.00]
    spark.createDataFrame(
        [(i, 1, v, "1996-01-01") for i, v in enumerate(vals)],
        "o_orderkey long, o_custkey long, o_totalprice double, o_orderdate string",
    ).write.parquet(str(tmp_path / "orders.parquet"))
    spark.createDataFrame(
        [(1, 0)], "c_custkey long, c_nationkey long"
    ).write.parquet(str(tmp_path / "customer.parquet"))
    spark.createDataFrame(
        [(0, "N0")], "n_nationkey long, n_name string"
    ).write.parquet(str(tmp_path / "nation.parquet"))
    r = agg_tukey_outlier_fences(spark, str(tmp_path)).collect()[0]
    assert r["nation"] == "N0" and r["n_orders"] == 8
    assert (r["q1_cents"], r["q3_cents"]) == (200, 600)
    assert (r["n_low_outliers"], r["n_high_outliers"]) == (0, 1)


def test_chi2_independence_constructed(spark, tmp_path):
    """2x2 contingency extremes: a perfectly independent table reads
    chi2 = 0; a perfectly associated one reads chi2 = n (the 2x2
    identity), both exactly in micro units."""
    from talkdesk_async_etl_spark.operators.stats import agg_chi2_independence

    indep = [(i, "t", ["x", "y"][i % 2], ["A", "B"][(i // 2) % 2], 100)
             for i in range(20)]
    spark.createDataFrame(
        indep, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.parquet(str(tmp_path / "documents.parquet"))
    r = agg_chi2_independence(spark, str(tmp_path)).collect()[0]
    assert (r["n_rows"], r["dof"]) == (20, 1)
    assert r["chi2_micro"] == 0

    import shutil
    shutil.rmtree(str(tmp_path / "documents.parquet"))
    assoc = [(i, "t", "x", "A", 100) for i in range(10)] + [
        (10 + i, "t", "y", "B", 100) for i in range(10)
    ]
    spark.createDataFrame(
        assoc, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.parquet(str(tmp_path / "documents.parquet"))
    r = agg_chi2_independence(spark, str(tmp_path)).collect()[0]
    assert r["chi2_micro"] == 20 * 1_000_000  # chi2 == n for a perfect 2x2
    assert (r["top_source"], r["top_lang"]) == ("A", "x")  # tie-break


def test_dispersion_dp_constructed(spark, tmp_path):
    """A term spread exactly proportionally to the source mix reads
    DP = 0; a term living in one source reads DP = 1 - t_s/T."""
    from talkdesk_async_etl_spark.operators.stats import agg_chi2_independence  # noqa: F401
    from talkdesk_async_etl_spark.operators.text import text_dispersion_dp

    # source A: 6 tokens; source B: 3 tokens (T=9, t_A=6, t_B=3)
    docs = [
        (1, "even even solo solo solo solo", "en", "A", 30),
        (2, "even pad pad", "en", "B", 12),
    ]
    spark.createDataFrame(
        docs, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.parquet(str(tmp_path / "documents.parquet"))
    got = {r["term"]: r for r in text_dispersion_dp(spark, str(tmp_path)).collect()}
    # 'even': f_A=2 of F=3 -> |2*9-6*3|=0; B: |1*9-3*3|=0 -> DP=0
    assert got["even"]["dp_micro"] == 0
    # 'solo': only in A -> DP = 1 - 6/9 = 1/3
    assert got["solo"]["dp_micro"] == 333_333
    assert got["solo"]["corpus_freq"] == 4


def test_rake_keywords_constructed(spark, tmp_path):
    """Hand-computed RAKE scores: 'the quick brown fox and lazy dog
    the fox' -> phrases [quick brown fox][lazy dog][fox]; degree
    rewards phrase length, the top-k tie-breaks alphabetically."""
    from talkdesk_async_etl_spark.operators.text import text_rake_keywords

    docs = [(1, "the quick brown fox and lazy dog the fox", "en", "w", 40)]
    spark.createDataFrame(
        docs, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.parquet(str(tmp_path / "documents.parquet"))
    rows = text_rake_keywords(spark, str(tmp_path)).collect()
    assert [(r["term"], r["freq"], r["degree"], r["score_micro"]) for r in rows] == [
        ("brown", 1, 3, 3_000_000),
        ("quick", 1, 3, 3_000_000),
        ("dog", 1, 2, 2_000_000),
        ("fox", 2, 4, 2_000_000),
        ("lazy", 1, 2, 2_000_000),
    ]


def test_lexical_richness_constructed(spark, tmp_path):
    """Hand-computed frequency spectra: a source of 4 identical tokens
    reads Simpson = 1 and Yule's K = 10^4 * (16-4)/16; a source of 4
    distinct tokens reads Simpson = 0 and K = 0; a 1-token source
    pins the degenerate guard to 0."""
    from talkdesk_async_etl_spark.operators.text import text_lexical_richness

    docs = [
        (1, "x x x x", "en", "dup", 7),
        (2, "a b c d", "en", "uni", 7),
        (3, "solo", "en", "tiny", 4),
    ]
    spark.createDataFrame(
        docs, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.parquet(str(tmp_path / "documents.parquet"))
    got = {r["source"]: r for r in text_lexical_richness(spark, str(tmp_path)).collect()}
    assert (got["dup"]["n_tokens"], got["dup"]["n_types"]) == (4, 1)
    assert got["dup"]["simpson_micro"] == 1_000_000
    assert got["dup"]["yule_k_micro"] == 10_000 * 1_000_000 * 12 // 16
    assert got["uni"]["simpson_micro"] == 0 and got["uni"]["yule_k_micro"] == 0
    assert got["tiny"]["simpson_micro"] == 0 and got["tiny"]["yule_k_micro"] == 0


def test_binary_files_glob_and_content(spark, tmp_path):
    """The binaryFile read must exclude the decoy via pathGlobFilter
    and report per-file lengths/content hashes matching a pure-python
    replay of the landing derivation."""
    import hashlib

    from talkdesk_async_etl_spark.operators.ingest import (
        _BINFILES_N,
        scan_binary_files,
    )

    docs = [(i, "t", "en", "w", 10) for i in range(40)]
    spark.createDataFrame(
        docs, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.parquet(str(tmp_path / "documents.parquet"))
    rows = {r["file_id"]: r for r in scan_binary_files(spark, str(tmp_path)).collect()}
    assert set(rows) == set(range(_BINFILES_N))  # decoy excluded

    def hex15(s):
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

    for fid in range(_BINFILES_N):
        x = 0
        for i in range(fid, 40, _BINFILES_N):
            x ^= hex15(str(i))
        content = hashlib.md5(str(x).encode()).hexdigest()
        assert rows[fid]["n_bytes"] == 32
        assert rows[fid]["content_h"] == hex15(content)


def test_two_pass_ntile_matches_builtin_ntile(spark):
    """two_pass_ntile's closed-form remainder formula must reproduce
    F.ntile bit-for-bit over the same total order, across the three
    regimes: n divisible by k, n % k != 0 (the first buckets absorb
    one extra row each), and n < k (row-per-bucket, high buckets
    empty). Values are deliberately adversarial: duplicates in the
    score column so the unique tie-break does the ordering work."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from talkdesk_async_etl_spark.operators.stats import two_pass_ntile

    for n, k in ((20, 5), (23, 5), (7, 10), (3, 10), (1, 5)):
        df = spark.createDataFrame(
            [(i, (i * 7) % 4) for i in range(n)], "id long, score long"
        )
        order = [F.col("score").desc(), F.col("id")]
        want = {
            r["id"]: r["b"]
            for r in df.select(
                "id", F.ntile(k).over(Window.orderBy(*order)).alias("b")
            ).collect()
        }
        got = {
            r["id"]: r["b"]
            for r in two_pass_ntile(df, order, k, "b").collect()
        }
        assert got == want, (n, k)


def test_pipeline_training_export_e2e_constructed(spark, tmp_path):
    """Constructed corpus where EVERY training-export stage fires:
    quality drops (lang/short/chars), an eval-slice doc plus a train
    doc contaminated by its 4-gram, all three md5-nibble splits
    populated, a pack shard whose doc stream overflows the 256-token
    budget twice, and a JSON-hostile text (quotes, backslash, unicode)
    whose byte-exact round trip the stage-6 checksum replica attests
    against a pure-Python md5 fold."""
    import hashlib

    from talkdesk_async_etl_spark.operators.curation import (
        pipeline_training_export_e2e,
    )

    def md5(s: str) -> str:
        return hashlib.md5(s.encode()).hexdigest()

    # md5-nibble facts (computed, stable): 1->'c' val, 3->'e' test,
    # 4/6/7/9/17/20/25 -> train; 11 is the eval slice (11 % 11 == 0).
    texts = {
        1: " ".join("a%02d" % i for i in range(20)),    # val survivor
        3: " ".join("b%02d" % i for i in range(20)),    # test survivor
        4: " ".join("t%02d" % i for i in range(20)),    # train, shard 4
        6: " ".join(["u%02d" % i for i in range(11)]
                    + ["alpha", "beta", "gamma", "delta"]),  # contaminated
        7: " ".join("v%03d" % i for i in range(300)),   # train, own pack
        8: " ".join("x%02d" % i for i in range(20)),    # lang drop
        9: " ".join("y%02d" % i for i in range(20)),    # train, shard 1
        11: " ".join(["e%02d" % i for i in range(11)]
                     + ["alpha", "beta", "gamma", "delta"]),  # eval slice
        12: "a b c d e",                                 # tokens drop
        13: " ".join("z%02d" % i for i in range(20)),    # chars drop
        17: " ".join("w%03d" % i for i in range(250)),   # shard 1 overflow
        20: " ".join("q%02d" % i for i in range(30)),    # shard 4, fits
        25: 'héllo "quoted" back\\slash '
            + " ".join("k%02d" % i for i in range(13)),  # shard 1, hostile
    }
    langs = {8: "xx"}
    chars = {13: 10}
    rows = [
        (i, txt, langs.get(i, "en"), "web", chars.get(i, 100))
        for i, txt in texts.items()
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars int"
    ).write.parquet(str(tmp_path / "documents.parquet"))

    got = {
        r["stage_no"]: r
        for r in pipeline_training_export_e2e(spark, str(tmp_path)).collect()
    }
    assert [got[s]["stage"] for s in range(1, 7)] == [
        "quality_filter", "decontaminate", "split_assign",
        "pack_sequences", "shuffle_shards", "jsonl_export",
    ]
    assert (got[1]["docs_in"], got[1]["docs_out"]) == (13, 10)  # 8,12,13 drop
    assert (got[2]["docs_in"], got[2]["docs_out"]) == (10, 8)   # 6,11 drop
    assert (got[3]["docs_in"], got[3]["docs_out"]) == (8, 6)    # 1 val, 3 test
    assert got[3]["tokens_out"] == 636
    # shard 4: doc4(20)+doc20(30) share a pack; shard 7: doc7(300);
    # shard 1: doc9(20) | doc17(250) overflows | doc25(16) overflows
    assert (got[4]["docs_in"], got[4]["docs_out"]) == (6, 5)
    assert got[4]["tokens_out"] == 636                          # conserved
    assert (got[5]["docs_in"], got[5]["docs_out"]) == (6, 6)
    assert (got[6]["docs_in"], got[6]["docs_out"]) == (6, 6)
    assert got[6]["tokens_out"] == 636

    # Stage-6 checksum replica: the bit_xor hex15 fold over the
    # ROUND-TRIPPED rows, recomputed in pure Python — binds doc set,
    # export shards, pack assignment, token counts, and text BYTES.
    packs = {4: 0, 20: 0, 7: 0, 9: 0, 17: 1, 25: 2}
    chk = 0
    for i, p in packs.items():
        shard = md5("pos|%d" % i)[0]
        nt = len(texts[i].split(" "))
        payload = "|".join([str(i), shard, str(p), str(nt), md5(texts[i])])
        chk ^= int(md5(payload)[:15], 16)
    assert got[6]["checksum"] == chk


def test_spearman_constructed(spark, tmp_path):
    """Four languages pin the four regimes: a perfectly monotone pair
    (rho = 1 even though the relation is nonlinear — the point of rank
    correlation), a perfectly inverse pair (rho = -1), a tied sample
    whose midrank rho matches a pure-Python replica, and a
    zero-variance group (guard -> 0)."""
    import math

    from talkdesk_async_etl_spark.plans.registry import load_all

    rows = []
    # mono: x = 100+i, tokens = i+16 (nonlinear-free monotone)
    for i in range(6):
        rows.append((100 + i, " ".join("a%02d" % j for j in range(16 + i)), "mono", "s", 100 + i))
    # anti: x grows, tokens shrink
    for i in range(6):
        rows.append((200 + i, " ".join("b%02d" % j for j in range(26 - i)), "anti", "s", 100 + i))
    # tied: x values [1,1,2,2,3,3] via n_chars, y tokens [15,16,16,17,17,18]
    ys = [15, 16, 16, 17, 17, 18]
    xs = [61, 61, 62, 62, 63, 63]
    for i, (x, y) in enumerate(zip(xs, ys)):
        rows.append((300 + i, " ".join("c%02d" % j for j in range(y)), "tied", "s", x))
    # flat: every doc identical length (zero variance in x) -> 0
    for i in range(4):
        rows.append((400 + i, " ".join("d%02d" % j for j in range(15 + i)), "flat", "s", 90))
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars int"
    ).write.parquet(str(tmp_path / "documents.parquet"))

    got = {
        r["lang"]: r
        for r in load_all()["agg_spearman_corr"].fn(spark, str(tmp_path)).collect()
    }
    assert got["mono"]["rho_spearman"] == 1.0
    assert got["anti"]["rho_spearman"] == -1.0
    assert got["flat"]["rho_spearman"] == 0.0

    # midrank replica for the tied group
    def ranks(vals):
        out = []
        for v in vals:
            below = sum(1 for u in vals if u < v)
            ties = sum(1 for u in vals if u == v)
            out.append(below + (ties + 1) / 2.0)
        return out

    rx, ry = ranks(xs), ranks(ys)
    n = len(xs)
    mx, my = sum(rx) / n, sum(ry) / n
    num = sum((a - mx) * (b - my) for a, b in zip(rx, ry))
    den = math.sqrt(
        sum((a - mx) ** 2 for a in rx) * sum((b - my) ** 2 for b in ry)
    )
    assert got["tied"]["rho_spearman"] == round(num / den, 6)
    assert got["tied"]["n_docs"] == 6


def test_contingency_residuals_constructed(spark, tmp_path):
    """A 2x2 table with a known association: expected counts, each
    cell's standardized residual, and Cramér's V must match a
    pure-Python integer/micro replica — including the zero-filled cell
    that never appears in the data."""
    import math

    from talkdesk_async_etl_spark.plans.registry import load_all

    # srcA: 30 en, 10 de; srcB: 10 en, 0 de (the zero cell)
    counts = {("srcA", "en"): 30, ("srcA", "de"): 10, ("srcB", "en"): 10}
    rows = []
    did = 0
    for (src, lang), k in counts.items():
        for _ in range(k):
            did += 1
            rows.append((did, " ".join("w%02d" % j for j in range(15)), lang, src, 100))
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars int"
    ).write.parquet(str(tmp_path / "documents.parquet"))

    got = {
        (r["source"], r["lang"]): r
        for r in load_all()["agg_contingency_residuals"].fn(spark, str(tmp_path)).collect()
    }
    assert len(got) == 4  # zero-filled grid
    n = 50
    r_ = {"srcA": 40, "srcB": 10}
    c_ = {"en": 40, "de": 10}
    chi2_micro = 0
    for src in r_:
        for lang in c_:
            o = counts.get((src, lang), 0)
            num = o * n - r_[src] * c_[lang]
            den = n * r_[src] * c_[lang]
            exp_micro = r_[src] * c_[lang] * 1_000_000 // n
            resid = round(num / math.sqrt(den), 6)
            chi2_micro += num * num * 1_000_000 // den
            row = got[(src, lang)]
            assert row["o"] == o
            assert row["expected_micro"] == exp_micro
            assert row["resid"] == resid
    v = round(math.sqrt(chi2_micro / 1_000_000 / (n * 1)), 6)
    assert all(row["cramers_v"] == v for row in got.values())
    # the zero cell is the most under-represented one
    assert got[("srcB", "de")]["o"] == 0 and got[("srcB", "de")]["resid"] < 0


def test_weighted_percentile_whale(spark, tmp_path):
    """A whale document holding over half of a language's tokens must
    pull the token-weighted median to ITS length (the unweighted
    median stays low) — plus exact quartile checks on a uniform
    group."""
    from talkdesk_async_etl_spark.plans.registry import load_all

    rows = []
    # en: 9 docs of 20 tokens at lengths 100..108, one whale of 300
    # tokens at length 400 -> W = 480, half = 240 -> wp50 = 400.
    for i in range(9):
        rows.append((i + 1, " ".join("a%02d" % j for j in range(20)), "en", "s", 100 + i))
    rows.append((10, " ".join("b%03d" % j for j in range(300)), "en", "s", 400))
    # de: 4 docs, 15 tokens each, lengths 60/70/80/90 -> cum 15/30/45/60:
    # wp25 -> first cum>=15 -> 60; wp50 -> first cum>=30 -> 70;
    # wp75 -> first 4cum>=180 -> 80.
    for i, L in enumerate((60, 70, 80, 90)):
        rows.append((20 + i, " ".join("c%02d" % j for j in range(15)), "de", "s", L))
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars int"
    ).write.parquet(str(tmp_path / "documents.parquet"))

    got = {
        r["lang"]: r
        for r in load_all()["agg_weighted_percentile"].fn(spark, str(tmp_path)).collect()
    }
    assert got["en"]["total_tokens"] == 480
    assert got["en"]["wp50"] == 400 and got["en"]["wp75"] == 400
    assert got["en"]["wp25"] == 105  # cum at 105: 6*20 = 120 >= 120
    assert (got["de"]["wp25"], got["de"]["wp50"], got["de"]["wp75"]) == (60, 70, 80)


def test_heaps_law_constructed(spark, tmp_path):
    """Ten docs -> one per decile; a saturating vocabulary (every
    term reused after doc 3) must show new_terms dropping to 0 while
    docs_seen/tokens_seen keep climbing — and the curve's invariants
    hold (vocab_size = Σ new_terms, final vocab = |distinct terms|)."""
    from talkdesk_async_etl_spark.plans.registry import load_all

    vocab = ["w%02d" % i for i in range(9)]
    rows = []
    for i in range(10):
        if i < 3:  # three novel terms per early doc
            toks = vocab[3 * i : 3 * i + 3] * 5
        else:      # later docs only reuse
            toks = vocab[:5] * 3
        rows.append((i + 1, " ".join(toks), "en", "s", 100))
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars int"
    ).write.parquet(str(tmp_path / "documents.parquet"))

    got = {r["decile"]: r for r in load_all()["text_heaps_law"].fn(spark, str(tmp_path)).collect()}
    assert len(got) == 10
    assert [got[d]["new_terms"] for d in range(1, 11)] == [3, 3, 3, 0, 0, 0, 0, 0, 0, 0]
    assert got[10]["vocab_size"] == 9
    assert got[10]["docs_seen"] == 10
    assert [got[d]["docs_seen"] for d in range(1, 11)] == list(range(1, 11))
    assert got[3]["tokens_seen"] == 45 and got[10]["tokens_seen"] == 45 + 7 * 15


def test_burstiness_constructed(spark, tmp_path):
    """A bursty term (all mass in one doc) vs a uniform term (once per
    doc): VMR must be (N·Σx²−tf²)/(N·tf) exactly — high for the burst,
    exactly 0 for the uniform spread — replicated in pure Python."""
    from talkdesk_async_etl_spark.plans.registry import load_all

    n = 10
    rows = []
    for i in range(n):
        toks = ["base"] * 1  # uniform: once per doc
        if i == 0:
            toks += ["burst"] * 30  # all burst mass in doc 0
        toks += ["f%02d" % i] * 1  # unique singletons (stay out of top by tf)
        rows.append((i + 1, " ".join(toks), "en", "s", 100))
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars int"
    ).write.parquet(str(tmp_path / "documents.parquet"))

    got = {r["term"]: r for r in load_all()["text_burstiness"].fn(spark, str(tmp_path)).collect()}
    assert got["base"]["tf"] == 10 and got["base"]["df"] == 10
    assert got["base"]["vmr_micro"] == 0  # exactly Poisson-degenerate
    b = got["burst"]
    assert (b["tf"], b["df"]) == (30, 1)
    assert b["vmr_micro"] == (n * 900 - 900) * 1_000_000 // (n * 30)


def test_range_bucket_equi_boundaries(spark, tmp_path):
    """Constructed purchases/views pin the bucketed range join's
    boundary semantics: a view exactly AT the purchase instant counts
    (<=), one exactly 30 minutes before does NOT (strict >), one 29:59
    before counts even when it lives in the NEIGHBOR time slot (the
    exploded b-1 probe row), and views by OTHER users count (no
    equality key)."""
    import datetime as dt

    from talkdesk_async_etl_spark.plans.registry import load_all

    base = dt.datetime(2024, 3, 1, 12, 0, 0)  # 12:00 -> slot boundary at 12:00
    rows = [
        # purchase at 12:10 (slot of 12:00-12:30)
        (1, base + dt.timedelta(minutes=10), 100, "purchase", 1.0, "{}"),
        # views: at purchase instant (counts), 29:59 before (counts,
        # lives in the 11:30 slot), exactly 30:00 before (excluded),
        # 31 min before (excluded), 5 min after (excluded)
        (2, base + dt.timedelta(minutes=10), 200, "view", 1.0, "{}"),
        (3, base + dt.timedelta(minutes=10) - dt.timedelta(minutes=29, seconds=59), 201, "view", 1.0, "{}"),
        (4, base + dt.timedelta(minutes=10) - dt.timedelta(minutes=30), 202, "view", 1.0, "{}"),
        (5, base + dt.timedelta(minutes=10) - dt.timedelta(minutes=31), 203, "view", 1.0, "{}"),
        (6, base + dt.timedelta(minutes=15), 204, "view", 1.0, "{}"),
        # purchase with no views in range
        (7, base + dt.timedelta(hours=6), 100, "purchase", 1.0, "{}"),
    ]
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    ).write.parquet(str(tmp_path / "events.parquet"))
    got = {
        r["event_id"]: r["n_nearby_views"]
        for r in load_all()["join_range_bucket_equi"].fn(spark, str(tmp_path)).collect()
    }
    assert got == {1: 2, 7: 0}


def test_jsonl_gzip_real_codec_roundtrip(spark, tmp_path):
    """The landing must be REAL gzip (magic bytes + decompressible with
    Python's gzip), and the operator's checksum must equal a
    pure-Python md5-hex15 fold over the source docs — including a
    JSON-hostile text."""
    import glob
    import gzip
    import hashlib
    import json

    from talkdesk_async_etl_spark.plans.registry import load_all

    texts = {
        1: 'héllo "quoted" back\\slash plus plain words here',
        2: "two plain docs share this language",
        3: "drittes deutsches dokument",
    }
    langs = {1: "en", 2: "en", 3: "de"}
    rows = [(i, t_, langs[i], "s", len(t_)) for i, t_ in texts.items()]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars int"
    ).write.parquet(str(tmp_path / "documents.parquet"))

    got = {r["lang"]: r for r in load_all()["scan_jsonl_gzip"].fn(spark, str(tmp_path)).collect()}

    # the landing really is gzip JSONL
    from talkdesk_async_etl_spark.sources.io import session_scratch_path

    out = session_scratch_path(spark, str(tmp_path), "tde_jsonl_gz")
    gz = sorted(glob.glob(out + "/*.json.gz"))
    assert gz, "no .json.gz files written"
    seen = {}
    for f in gz:
        with gzip.open(f, "rt", encoding="utf-8") as fh:
            for line in fh:
                rec = json.loads(line)
                seen[rec["doc_id"]] = rec["text"]
    assert seen == texts  # byte-exact through the codec

    def h15(s: str) -> int:
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

    for lang in ("en", "de"):
        ids = [i for i in texts if langs[i] == lang]
        chk = 0
        for i in ids:
            payload = "%d|%s" % (i, hashlib.md5(texts[i].encode()).hexdigest())
            chk ^= h15(payload)
        assert got[lang]["n_docs"] == len(ids)
        assert got[lang]["content_xor"] == chk


def test_hits_star_graph_exact_micro(spark):
    """Directed star 0->{1,2,3}: every round, all hub mass sits on the
    center and authority splits 1/3 each — with the exact truncation
    (1e6 div 3 = 333333) the micro contract pins. A second asymmetric
    graph replicates the full 4-round integer walk in pure Python."""
    from pyspark.sql import functions as F

    from talkdesk_async_etl_spark.operators.graph import (
        _HITS_ITERS,
        hits_from_edges,
    )
    from talkdesk_async_etl_spark.plans.cache import cache_scope

    star = spark.createDataFrame(
        [(0, 1, 1), (0, 2, 1), (0, 3, 1)], "src long, dst long, w long"
    )
    with cache_scope():
        got = {r["node"]: (r["hub"], r["auth"]) for r in hits_from_edges(star).collect()}
    assert got[0] == (1_000_000, 0)
    for v in (1, 2, 3):
        assert got[v] == (0, 333_333)

    # asymmetric: 0->2 (w2), 1->2 (w1), 1->3 (w1)
    edges = [(0, 2, 2), (1, 2, 1), (1, 3, 1)]
    py_h = {n: 1_000_000 for n in (0, 1, 2, 3)}
    py_a = {}
    for _ in range(_HITS_ITERS):
        raw_a = {}
        for s, d, w in edges:
            raw_a[d] = raw_a.get(d, 0) + py_h[s] * w
        tot = sum(raw_a.values())
        py_a = {n: (raw_a.get(n, 0) * 1_000_000 // tot if tot else 0) for n in (0, 1, 2, 3)}
        raw_h = {}
        for s, d, w in edges:
            raw_h[s] = raw_h.get(s, 0) + py_a[d] * w
        tot = sum(raw_h.values())
        py_h = {n: (raw_h.get(n, 0) * 1_000_000 // tot if tot else 0) for n in (0, 1, 2, 3)}
    df = spark.createDataFrame(edges, "src long, dst long, w long")
    with cache_scope():
        got2 = {r["node"]: (r["hub"], r["auth"]) for r in hits_from_edges(df).collect()}
    assert got2 == {n: (py_h[n], py_a[n]) for n in (0, 1, 2, 3)}


def test_graph_kernels_build_their_edge_list_once(spark, monkeypatch):
    """pagerank_from_edges, hits_from_edges and graph_bfs_distance size
    their partitions from the count that materializes the persisted
    edge list they then read, never from a count run only for sizing:
    a filter UDF that counts its calls in an accumulator sees each
    input row exactly once over the whole kernel."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import BooleanType

    from talkdesk_async_etl_spark.operators import graph
    from talkdesk_async_etl_spark.plans.cache import cache_scope

    def counted(df):
        acc = spark.sparkContext.accumulator(0)

        def seen(_v):
            acc.add(1)
            return True

        return df.filter(F.udf(seen, BooleanType())(df.columns[0])), acc

    rows = [(0, 1, 1), (1, 2, 1), (2, 0, 1), (2, 3, 2), (3, 1, 1)]
    for core, w in ((graph.pagerank_from_edges, "double"), (graph.hits_from_edges, "long")):
        typed = [(a, b, float(x) if w == "double" else x) for a, b, x in rows]
        edges, acc = counted(spark.createDataFrame(typed, f"src long, dst long, w {w}"))
        with cache_scope():
            assert len(core(edges, iters=2).collect()) == 4
        assert acc.value == len(rows), core.__name__

    und, acc = counted(spark.createDataFrame([(a, b) for a, b, _ in rows[:4]], "a int, b int"))
    monkeypatch.setattr(graph, "_trade_und", lambda spark, sf_dir: und)
    assert graph.graph_bfs_distance(spark, SF_SMALL).count() == 4
    assert acc.value == 4


def test_silhouette_constructed(spark, tmp_path):
    """Two tight orthogonal clusters around centroids 0/1 -> mean
    silhouette near 1 in both cells; values replicated in pure Python
    with the exact simplified-silhouette formula and tie-break."""
    import math

    from talkdesk_async_etl_spark.plans.registry import load_all

    def vec(i, j, a=1.0, b=0.0):
        v = [0.0] * 8
        v[i], v[j] = a, b
        return v

    rows = []
    # 8 centroid slots (vec_id < 8): two real centroids on axes 0/1,
    # six far-away parked on distinct axes so they never win.
    rows.append((0, vec(0, 1), 0))
    rows.append((1, vec(1, 0), 0))
    for k in range(2, 8):
        rows.append((k, vec(k, 0), 0))
    # members: near axis 0 and near axis 1
    members = {
        10: [1.0, 0.1] + [0.0] * 6,
        11: [1.0, 0.2] + [0.0] * 6,
        12: [0.1, 1.0] + [0.0] * 6,
        13: [0.2, 1.0] + [0.0] * 6,
    }
    for vid, v in members.items():
        rows.append((vid, v, 1))
    spark.createDataFrame(rows, "vec_id long, embedding array<double>, label int").write.parquet(
        str(tmp_path / "embeddings.parquet")
    )

    got = {
        r["centroid_id"]: r
        for r in load_all()["sim_silhouette_centroid"].fn(spark, str(tmp_path)).collect()
    }

    def cos(a, b):
        num = sum(x * y for x, y in zip(a, b))
        return num / math.sqrt(sum(x * x for x in a) * sum(y * y for y in b))

    cents = {cid: r[1] for cid, r in zip(range(8), rows[:8])}
    per_cluster = {}
    all_vecs = {r[0]: r[1] for r in rows}
    for vid, v in all_vecs.items():
        sims = sorted(
            ((cos(v, cents[c]), -c) for c in range(8)), reverse=True
        )
        s1, c1 = sims[0][0], -sims[0][1]
        s2 = sims[1][0]
        a, b = 1 - s1, 1 - s2
        s = 0.0 if b <= 0 else (b - a) / max(a, b)
        per_cluster.setdefault(c1, []).append(s)
    for cid, vals in per_cluster.items():
        if cid in got:
            assert got[cid]["n_members"] == len(vals)
            assert abs(got[cid]["mean_silhouette"] - round(sum(vals) / len(vals), 6)) <= 1e-6
    # the two real clusters picked up their members and read tight
    assert got[0]["n_members"] == 3 and got[1]["n_members"] == 3
    assert got[0]["mean_silhouette"] > 0.5 and got[1]["mean_silhouette"] > 0.5


def test_markov_stationary_constructed(spark, tmp_path):
    """A deterministic 2-cycle (view->buy->view->...) must reach the
    exact (500000, 500000) stationary split; a biased 3-state chain is
    replicated in pure Python with the SAME quantized integer walk
    (per-edge floor + truncating renormalization)."""
    import datetime as dt

    from talkdesk_async_etl_spark.operators.windows import (
        _MARKOV_ITERS,
        _MARKOV_MICRO,
    )
    from talkdesk_async_etl_spark.plans.registry import load_all

    base = dt.datetime(2024, 1, 1)
    rows = []
    eid = 0
    # user 1: strict alternation view/buy x 8
    for k in range(8):
        eid += 1
        rows.append((eid, base + dt.timedelta(minutes=k), 1,
                     "view" if k % 2 == 0 else "buy", 1.0, "{}"))
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    ).write.parquet(str(tmp_path / "events.parquet"))
    got = {
        r["event_type"]: r
        for r in load_all()["events_markov_stationary"].fn(spark, str(tmp_path)).collect()
    }
    assert got["view"]["stationary_micro"] == 500_000
    assert got["buy"]["stationary_micro"] == 500_000
    assert got["view"]["n_out"] == 4 and got["buy"]["n_out"] == 3

    # biased chain: a->a (2), a->b (1), b->a (1) — replicate the walk
    trans = {("a", "a"): 2, ("a", "b"): 1, ("b", "a"): 1}
    rows2 = []
    eid = 0
    # user 2 path: a a a b a  (edges: a->a, a->a, a->b, b->a)
    for k, tpe in enumerate(["a", "a", "a", "b", "a"]):
        eid += 1
        rows2.append((eid, base + dt.timedelta(minutes=k), 2, tpe, 1.0, "{}"))
    import tempfile

    with tempfile.TemporaryDirectory() as d2:
        spark.createDataFrame(
            rows2,
            "event_id long, ts timestamp, user_id long, event_type string,"
            " value double, props string",
        ).write.parquet(d2 + "/events.parquet")
        got2 = {
            r["event_type"]: r["stationary_micro"]
            for r in load_all()["events_markov_stationary"].fn(spark, d2).collect()
        }
    rowsum = {"a": 3, "b": 1}
    pi = {"a": _MARKOV_MICRO, "b": _MARKOV_MICRO}
    for _ in range(_MARKOV_ITERS):
        raw = {}
        for (i, j), c in trans.items():
            raw[j] = raw.get(j, 0) + pi[i] * c // rowsum[i]
        tot = sum(raw.values())
        pi = {s: (raw.get(s, 0) * _MARKOV_MICRO // tot if tot else 0) for s in ("a", "b")}
    assert got2 == pi


def test_welch_ttest_constructed(spark, tmp_path):
    """Two small groups with hand-computable moments: t and the
    Welch–Satterthwaite df must match a pure-Python replica computed
    from the same exact integer sums; the mean difference is the exact
    micro integer."""
    import math

    from talkdesk_async_etl_spark.plans.registry import load_all

    en = [100, 102, 104, 106, 118]
    de = [90, 92, 94, 96]
    rows = []
    did = 0
    for L in en:
        did += 1
        rows.append((did, " ".join("a%02d" % j for j in range(15)), "en", "s", L))
    for L in de:
        did += 1
        rows.append((did, " ".join("b%02d" % j for j in range(15)), "de", "s", L))
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars int"
    ).write.parquet(str(tmp_path / "documents.parquet"))

    r = load_all()["agg_welch_ttest"].fn(spark, str(tmp_path)).collect()[0]
    n1, n2 = len(en), len(de)
    a1, a2 = sum(en), sum(de)
    b1, b2 = sum(x * x for x in en), sum(x * x for x in de)
    se1 = (n1 * b1 - a1 * a1) / (n1 * n1 * (n1 - 1))
    se2 = (n2 * b2 - a2 * a2) / (n2 * n2 * (n2 - 1))
    md = a1 / n1 - a2 / n2
    assert (r["n_en"], r["n_de"]) == (n1, n2)
    assert r["mean_diff_micro"] == (a1 * n2 - a2 * n1) * 1_000_000 // (n1 * n2)
    assert r["t_welch"] == round(md / math.sqrt(se1 + se2), 6)
    assert r["df_welch"] == round(
        (se1 + se2) ** 2 / (se1 ** 2 / (n1 - 1) + se2 ** 2 / (n2 - 1)), 6
    )


def test_ab_allocation_replica_and_ramp(spark, tmp_path):
    """The arm assignment must equal a pure-Python md5 replica user by
    user (salt included), arms must partition the user set, and every
    arm's bucket range must sit inside its ramp cut — the cumulative-
    threshold property that makes ramp-ups sticky."""
    import datetime as dt
    import hashlib

    from talkdesk_async_etl_spark.operators.sampling import (
        _AB_CONTROL_P,
        _AB_SALT,
        _AB_TREAT_P,
    )
    from talkdesk_async_etl_spark.plans.registry import load_all

    users = list(range(1, 301))
    rows = [
        (i, dt.datetime(2024, 1, 1) + dt.timedelta(minutes=i), u, "view", 1.0, "{}")
        for i, u in enumerate(users)
    ]
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    ).write.parquet(str(tmp_path / "events.parquet"))

    got = {r["arm"]: r for r in load_all()["sample_ab_allocation"].fn(spark, str(tmp_path)).collect()}

    def bucket(u: int) -> int:
        return int(hashlib.md5(f"{_AB_SALT}|{u}".encode()).hexdigest()[:15], 16) % 1000

    arms = {"control": [], "treatment": [], "holdout": []}
    for u in users:
        b = bucket(u)
        arm = "control" if b < _AB_CONTROL_P else ("treatment" if b < _AB_TREAT_P else "holdout")
        arms[arm].append(u)
    for arm, members in arms.items():
        x = 0
        for u in members:
            x ^= u
        assert got[arm]["n_users"] == len(members), arm
        assert got[arm]["users_xor"] == x, arm
    assert got["control"]["max_bucket"] < _AB_CONTROL_P
    assert _AB_CONTROL_P <= got["treatment"]["min_bucket"]
    assert got["treatment"]["max_bucket"] < _AB_TREAT_P
    assert got["holdout"]["min_bucket"] >= _AB_TREAT_P
    assert sum(g["n_users"] for g in got.values()) == len(users)


def test_vocab_overlap_constructed(spark, tmp_path):
    """Three sources with hand-built vocabularies: a near-mirror pair
    (high Jaccard), a disjoint pair (no row — inner intersection), and
    exact intersection/union arithmetic including a term shared via
    MULTIPLE docs counting once (distinct grain)."""
    from talkdesk_async_etl_spark.plans.registry import load_all

    rows = [
        (1, "alpha beta gamma delta", "srcA", "en", 100),
        (2, "alpha beta gamma delta epsilon", "srcB", "en", 100),
        (3, "alpha alpha beta", "srcA", "en", 100),      # dups count once
        (4, "zeta eta theta", "srcC", "en", 100),        # disjoint
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, source string, lang string, n_chars int"
    ).write.parquet(str(tmp_path / "documents.parquet"))
    got = {
        (r["source_a"], r["source_b"]): r
        for r in load_all()["text_source_vocab_overlap"].fn(spark, str(tmp_path)).collect()
    }
    ab = got[("srcA", "srcB")]
    assert (ab["vocab_a"], ab["vocab_b"], ab["n_common"]) == (4, 5, 4)
    assert ab["jaccard_micro"] == 4 * 1_000_000 // 5
    assert ("srcA", "srcC") not in got and ("srcB", "srcC") not in got


def test_runs_test_constructed(spark, tmp_path):
    """Two constructed daily series: a perfectly alternating one
    (maximum runs -> strongly positive z) and a two-block trending one
    (minimum runs R=2 -> strongly negative z); values, median drops,
    and z replicated in pure Python."""
    import datetime as dt
    import math

    from talkdesk_async_etl_spark.plans.registry import load_all

    base = dt.date(2024, 1, 1)
    rows = []
    eid = 0

    def day_events(tpe, day_i, k):
        nonlocal eid
        for _ in range(k):
            eid += 1
            rows.append(
                (eid, dt.datetime.combine(base + dt.timedelta(days=day_i),
                                          dt.time(12)), 1, tpe, 1.0, "{}")
            )

    # alt: 10 days alternating 1/5 events (median 3, no ties) -> R = 10
    for i in range(10):
        day_events("alt", i, 1 if i % 2 == 0 else 5)
    # trend: 5 low days then 5 high days -> R = 2
    for i in range(10):
        day_events("trend", i, 1 if i < 5 else 5)
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    ).write.parquet(str(tmp_path / "events.parquet"))

    got = {r["event_type"]: r for r in load_all()["agg_runs_test"].fn(spark, str(tmp_path)).collect()}

    def z(n1, n2, r):
        mu = 2 * n1 * n2 / (n1 + n2) + 1
        var = (2 * n1 * n2 * (2 * n1 * n2 - n1 - n2)
               / ((n1 + n2) ** 2 * (n1 + n2 - 1)))
        return round((r - mu) / math.sqrt(var), 6)

    assert (got["alt"]["n1"], got["alt"]["n2"], got["alt"]["n_runs"]) == (5, 5, 10)
    assert got["alt"]["z_runs"] == z(5, 5, 10) and got["alt"]["z_runs"] > 2
    assert (got["trend"]["n1"], got["trend"]["n2"], got["trend"]["n_runs"]) == (5, 5, 2)
    assert got["trend"]["z_runs"] == z(5, 5, 2) and got["trend"]["z_runs"] < -2


def test_ab_power_mde_constructed(spark, tmp_path):
    """Constructed events with a known variance: arm counts must equal
    the allocation replica, and var/MDE must match a pure-Python
    computation from the exact cent moments."""
    import datetime as dt
    import hashlib
    import math

    from talkdesk_async_etl_spark.operators.sampling import (
        _AB_CONTROL_P,
        _AB_SALT,
        _AB_TREAT_P,
    )
    from talkdesk_async_etl_spark.plans.registry import load_all

    users = list(range(1, 101))
    values = [float(v) for v in (1, 2, 3, 4, 5) * 20]  # var known
    rows = [
        (i, dt.datetime(2024, 1, 1) + dt.timedelta(minutes=i), u, "buy", v, "{}")
        for i, (u, v) in enumerate(zip(users, values))
    ]
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    ).write.parquet(str(tmp_path / "events.parquet"))

    r = load_all()["agg_ab_power_mde"].fn(spark, str(tmp_path)).collect()[0]

    def bucket(u):
        return int(hashlib.md5(f"{_AB_SALT}|{u}".encode()).hexdigest()[:15], 16) % 1000

    n_c = sum(1 for u in users if bucket(u) < _AB_CONTROL_P)
    n_t = sum(1 for u in users if _AB_CONTROL_P <= bucket(u) < _AB_TREAT_P)
    cents = [round(v * 100) for v in values]
    n = len(cents)
    s1, s2 = sum(cents), sum(x * x for x in cents)
    var = (n * s2 - s1 * s1) / (n * (n - 1))
    mde = 2.8 * math.sqrt(var * (1 / n_c + 1 / n_t))
    assert (r["n_control"], r["n_treatment"]) == (n_c, n_t)
    assert r["var_cents"] == round(var, 6)
    assert abs(r["mde_cents"] - round(mde, 6)) <= 1e-6


def test_streak_days_constructed(spark, tmp_path):
    """Hand-built calendars: a 4-day run beats two 2-day runs; equal
    longest streaks resolve to the LATEST start; multiple events on
    one day collapse before the walk."""
    import datetime as dt

    from talkdesk_async_etl_spark.plans.registry import load_all

    base = dt.date(2024, 3, 1)
    rows, eid = [], 0

    def on(u, day_i, times=1):
        nonlocal eid
        for k in range(times):
            eid += 1
            rows.append((eid, dt.datetime.combine(base + dt.timedelta(days=day_i),
                                                  dt.time(10 + k)), u, "view", 1.0, "{}"))

    # user 1: days 0-3 (len 4, two events day 0), gap, days 6-7 (len 2)
    for d in range(4):
        on(1, d, times=2 if d == 0 else 1)
    on(1, 6); on(1, 7)
    # user 2: two equal 2-day streaks -> best_start = the LATER one
    on(2, 0); on(2, 1); on(2, 5); on(2, 6)
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    ).write.parquet(str(tmp_path / "events.parquet"))

    got = {r["user_id"]: r for r in load_all()["window_streak_days"].fn(spark, str(tmp_path)).collect()}
    u1 = got[1]
    assert (u1["n_streaks"], u1["longest_streak"], u1["active_days"]) == (2, 4, 6)
    assert u1["best_start"] == base
    u2 = got[2]
    assert (u2["n_streaks"], u2["longest_streak"]) == (2, 2)
    assert u2["best_start"] == base + dt.timedelta(days=5)


def test_interval_merge_constructed(spark, tmp_path):
    """Three regimes per the sweep's contract: overlapping intervals
    merge (covered = span, not sum), TOUCHING intervals merge (strict
    s > prev_end), and a gap opens a new interval; exact microsecond
    coverage replicated by hand."""
    import datetime as dt

    from talkdesk_async_etl_spark.plans.registry import load_all

    base = dt.datetime(2024, 3, 1, 12, 0, 0)
    rows = [
        # user 1: events at 0 and 3 min (overlap -> one 8-min span),
        # then at 8 min (touches the 0-5..3-8 span end -> still merges),
        # then at 30 min (gap -> new span)
        (1, base, 1, "view", 1.0, "{}"),
        (2, base + dt.timedelta(minutes=3), 1, "view", 1.0, "{}"),
        (3, base + dt.timedelta(minutes=8), 1, "view", 1.0, "{}"),
        (4, base + dt.timedelta(minutes=30), 1, "view", 1.0, "{}"),
    ]
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    ).write.parquet(str(tmp_path / "events.parquet"))
    r = load_all()["join_interval_merge"].fn(spark, str(tmp_path)).collect()[0]
    # span 1: [0, 13) minutes (0..5, 3..8 overlap; 8..13 touches) = 13 min
    # span 2: [30, 35) = 5 min
    assert (r["n_events"], r["n_intervals"]) == (4, 2)
    assert r["covered_us"] == (13 + 5) * 60 * 1_000_000
    assert r["densest_interval"] == 3


def test_pr_curve_constructed_fixture_and_replica(spark):
    """ml_eval_pr_curve on a constructed 6-doc fixture whose scores
    land mid-bucket (no threshold-boundary ulp risk): confusion
    counts, precision/recall/F1 and the trapezoid PR-AUC must equal a
    pure-Python integer replica at every cut; a document without a
    label row and an orphan label are both excluded by the join; the
    fixture is non-vacuous (tp sweeps 3..0 across the grid)."""
    import math
    import tempfile

    from talkdesk_async_etl_spark.operators.mining import (
        _PR_THR_STEP,
        _PR_THRESHOLDS,
        _W0,
        _W_CHARS,
        _W_SPACES,
    )
    from talkdesk_async_etl_spark.plans.registry import load_all

    QUERIES = load_all()
    # (doc_id, plain_chars, spaces, label): z = w0 + 0.004*n + 0.01*sp
    # -> p = 0.858/0.858/0.574/0.354/0.198/0.168 — all >4e3 micro from
    # the nearest 50e3 cut, so a JVM-vs-CPython exp() ulp cannot flip
    # bucket membership.
    specs = [
        (0, 900, 0, 1),
        (1, 900, 0, 0),
        (2, 490, 10, 1),
        (3, 300, 0, 0),
        (4, 100, 0, 1),
        (5, 50, 0, 0),
        (6, 700, 0, None),  # no embedding row -> dropped by the join
    ]
    docs, embs = [], [(7, [0.0] * 4, 3)]  # orphan label -> dropped
    for did, chars, spaces, label in specs:
        text = "a" * chars + " " * spaces
        docs.append((did, text, "en", "src", len(text)))
        if label is not None:
            embs.append((did, [0.0] * 4, label))
    ddf = spark.createDataFrame(
        docs, "doc_id long, text string, lang string, source string, n_chars long"
    )
    edf = spark.createDataFrame(embs, "vec_id long, embedding array<float>, label int")
    with tempfile.TemporaryDirectory() as d:
        ddf.write.parquet(d + "/documents.parquet")
        edf.write.parquet(d + "/embeddings.parquet")
        got = {
            r["thr_micro"]: r
            for r in QUERIES["ml_eval_pr_curve"].fn(spark, d).collect()
        }

    scored = []
    for _, chars, spaces, label in specs:
        if label is None:
            continue
        n_chars = chars + spaces
        z = _W0 + n_chars * _W_CHARS + spaces * _W_SPACES
        scored.append(
            (math.floor(1 / (1 + math.exp(-z)) * 1_000_000 + 0.5), label % 2)
        )
    pos = sum(y for _, y in scored)
    neg = len(scored) - pos
    exp_rows = {}
    for thr in _PR_THRESHOLDS:
        tp = sum(1 for p, y in scored if p >= thr and y == 1)
        fp = sum(1 for p, y in scored if p >= thr and y == 0)
        prec = 1_000_000 if tp + fp == 0 else tp * 1_000_000 // (tp + fp)
        rec = 0 if pos == 0 else tp * 1_000_000 // pos
        f1 = 0 if tp + fp + pos == 0 else 2 * tp * 1_000_000 // (tp + fp + pos)
        exp_rows[thr] = (tp, fp, pos - tp, neg - fp, prec, rec, f1)
    auc = (
        sum(
            (exp_rows[t][5] - exp_rows[t + _PR_THR_STEP][5])
            * (exp_rows[t][4] + exp_rows[t + _PR_THR_STEP][4])
            for t in _PR_THRESHOLDS[:-1]
        )
        // 2_000_000
    )

    assert len(got) == len(_PR_THRESHOLDS)
    for thr, (tp, fp, fn, tn, prec, rec, f1) in exp_rows.items():
        r = got[thr]
        assert (r["tp"], r["fp"], r["fn"], r["tn"]) == (tp, fp, fn, tn), thr
        assert (r["precision_micro"], r["recall_micro"], r["f1_micro"]) == (
            prec,
            rec,
            f1,
        ), thr
        assert r["pr_auc_micro"] == auc
    assert {v[0] for v in exp_rows.values()} == {0, 1, 2, 3}


def _eval_fixture_dir(spark, tmpdir, specs):
    """Write the constructed documents+embeddings eval fixture shared
    by the classifier-evaluation tests: specs = (doc_id, plain_chars,
    spaces, label-or-None)."""
    docs, embs = [], []
    for did, chars, spaces, label in specs:
        text = "a" * chars + " " * spaces
        docs.append((did, text, "en", "src", len(text)))
        if label is not None:
            embs.append((did, [0.0] * 4, label))
    spark.createDataFrame(
        docs, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.parquet(tmpdir + "/documents.parquet")
    spark.createDataFrame(
        embs, "vec_id long, embedding array<float>, label int"
    ).write.parquet(tmpdir + "/embeddings.parquet")


def _eval_fixture_scores(specs):
    """Pure-Python replica of the shared scorer: (p_micro, y) pairs."""
    import math

    from talkdesk_async_etl_spark.operators.mining import _W0, _W_CHARS, _W_SPACES

    out = []
    for _, chars, spaces, label in specs:
        if label is None:
            continue
        z = _W0 + (chars + spaces) * _W_CHARS + spaces * _W_SPACES
        out.append(
            (math.floor(1 / (1 + math.exp(-z)) * 1_000_000 + 0.5), label % 2)
        )
    return out


def test_roc_auc_constructed_and_replica(spark):
    """ml_eval_roc_auc on constructed fixtures: a perfectly-ordered
    set pins AUC to exactly 1e6 (and Gini to 1e6); a tie pair gets
    exact half-credit; the general case equals a pure-Python
    pair-counting replica."""
    import tempfile

    from talkdesk_async_etl_spark.plans.registry import load_all

    QUERIES = load_all()

    def run(specs):
        with tempfile.TemporaryDirectory() as d:
            _eval_fixture_dir(spark, d, specs)
            return QUERIES["ml_eval_roc_auc"].fn(spark, d).collect()[0]

    def replica(specs):
        scored = _eval_fixture_scores(specs)
        pos = [p for p, y in scored if y == 1]
        neg = [p for p, y in scored if y == 0]
        num2 = sum(
            2 if pp > pn else (1 if pp == pn else 0) for pp in pos for pn in neg
        )
        return num2 * 1_000_000 // (2 * len(pos) * len(neg))

    # Perfect ordering: every positive above every negative.
    perfect = [(0, 900, 0, 1), (1, 800, 0, 1), (2, 300, 0, 0), (3, 100, 0, 0)]
    r = run(perfect)
    assert (r["n_pos"], r["n_neg"]) == (2, 2)
    assert r["auc_micro"] == 1_000_000 == replica(perfect)
    assert r["gini_micro"] == 1_000_000

    # One tied (pos, neg) pair, one concordant pair each way:
    # pairs = tie(1) + 2 wins(4) + 1 loss(0) -> AUC = 5/8.
    tied = [(0, 900, 0, 1), (1, 900, 0, 0), (2, 500, 0, 1), (3, 100, 0, 0)]
    r = run(tied)
    assert r["auc_micro"] == replica(tied) == 5 * 1_000_000 // 8
    assert r["gini_micro"] == 2 * r["auc_micro"] - 1_000_000

    # Inverted ordering: AUC 0, Gini -1e6.
    inverted = [(0, 100, 0, 1), (1, 900, 0, 0)]
    r = run(inverted)
    assert r["auc_micro"] == 0 and r["gini_micro"] == -1_000_000


def test_calibration_bins_constructed_and_replica(spark):
    """ml_calibration_bins on a constructed fixture: exact bin
    membership (top bin closed), exact integer mean-predicted vs
    observed rate per bin, and the n-weighted ECE replica; empty bins
    are absent and contribute zero."""
    import tempfile

    from talkdesk_async_etl_spark.operators.mining import _CAL_BIN_MICRO
    from talkdesk_async_etl_spark.plans.registry import load_all

    QUERIES = load_all()
    specs = [
        (0, 900, 0, 1),  # p=0.858 -> bin 8
        (1, 900, 0, 0),  # bin 8
        (2, 490, 10, 1),  # p=0.574 -> bin 5
        (3, 300, 0, 0),  # p=0.354 -> bin 3
        (4, 100, 0, 1),  # p=0.198 -> bin 1
        (5, 50, 0, 0),  # p=0.168 -> bin 1
    ]
    with tempfile.TemporaryDirectory() as d:
        _eval_fixture_dir(spark, d, specs)
        got = {
            r["bin"]: r for r in QUERIES["ml_calibration_bins"].fn(spark, d).collect()
        }

    scored = _eval_fixture_scores(specs)
    bins: dict[int, list] = {}
    for p, y in scored:
        bins.setdefault(min(p // _CAL_BIN_MICRO, 9), []).append((p, y))
    exp = {}
    for b, rows in bins.items():
        n = len(rows)
        pos = sum(y for _, y in rows)
        mean_pred = sum(p for p, _ in rows) // n
        obs = pos * 1_000_000 // n
        exp[b] = (n, pos, mean_pred, obs, abs(mean_pred - obs))
    ece = sum(n * gap for n, _, _, _, gap in exp.values()) // sum(
        n for n, *_ in exp.values()
    )
    assert set(got) == set(exp) == {1, 3, 5, 8}
    for b, (n, pos, mean_pred, obs, gap) in exp.items():
        r = got[b]
        assert (r["n"], r["pos"]) == (n, pos), b
        assert r["mean_pred_micro"] == mean_pred, b
        assert r["obs_rate_micro"] == obs, b
        assert r["gap_micro"] == gap and r["ece_micro"] == ece, b
        assert r["bin_lo_micro"] == b * _CAL_BIN_MICRO


def test_ols_trend_exact_line_flat_and_replica(spark):
    """events_ols_trend on constructed daily counts: an exact line
    y = 2x + 3 pins slope_nano to exactly 2e9 and R² to exactly 1e6;
    a flat series pins both to 0 (zero y-variance guard); a single-day
    type pins both to 0 (zero x-variance guard); a noisy series
    equals the pure-Python exact-rational replica including the
    signed truncation direction."""
    import datetime as dt
    import tempfile

    from talkdesk_async_etl_spark.operators.stats import _OLS_EPOCH
    from talkdesk_async_etl_spark.plans.registry import load_all

    QUERIES = load_all()
    epoch = dt.date.fromisoformat(_OLS_EPOCH)
    series = {
        "line": {x: 2 * x + 3 for x in range(10)},
        "flat": {x: 7 for x in range(10)},
        "oneday": {4: 5},
        "noisy": {0: 9, 1: 4, 2: 7, 3: 1, 5: 2},  # negative slope, gap day
    }
    rows = []
    eid = 0
    for et, days in series.items():
        for x, count in days.items():
            for _ in range(count):
                ts = dt.datetime.combine(epoch + dt.timedelta(days=x), dt.time(12))
                rows.append((eid, ts, eid % 7, et, 1.0))
                eid += 1
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double",
    )
    with tempfile.TemporaryDirectory() as d:
        df.write.parquet(d + "/events.parquet")
        got = {
            r["event_type"]: r
            for r in QUERIES["events_ols_trend"].fn(spark, d).collect()
        }

    def replica(days):
        n = len(days)
        sx = sum(days)
        sy = sum(days.values())
        sxx = sum(x * x for x in days)
        sxy = sum(x * y for x, y in days.items())
        syy = sum(y * y for y in days.values())
        sxx_c, sxy_c, syy_c = n * sxx - sx * sx, n * sxy - sx * sy, n * syy - sy * sy
        if sxx_c == 0:
            return 0, 0
        # int() truncates toward zero — both engines' division does.
        slope = int(sxy_c * 1_000_000_000 / sxx_c) if sxx_c else 0
        slope = (
            abs(sxy_c) * 1_000_000_000 // sxx_c * (1 if sxy_c >= 0 else -1)
        )
        r2 = 0 if syy_c == 0 else sxy_c * sxy_c * 1_000_000 // (sxx_c * syy_c)
        return slope, r2

    assert got["line"]["slope_nano"] == 2_000_000_000
    assert got["line"]["r2_micro"] == 1_000_000
    assert got["flat"]["slope_nano"] == 0 and got["flat"]["r2_micro"] == 0
    assert got["oneday"]["slope_nano"] == 0 and got["oneday"]["r2_micro"] == 0
    s, r2 = replica(series["noisy"])
    assert s < 0 and (got["noisy"]["slope_nano"], got["noisy"]["r2_micro"]) == (s, r2)
    assert got["noisy"]["n_days"] == 5 and got["noisy"]["total_events"] == 23


def test_cuped_constructed_sticky_metric_and_replica(spark):
    """agg_ab_cuped on a constructed sticky metric (post ≈ pre per
    user): theta and the adjusted means must equal the pure-Python
    replica (same md5 buckets, same pooled co-moments), holdout users
    must be excluded, and CUPED must shrink the control-vs-treatment
    gap on a fixture whose arms differ only through their pre-period
    mix (no true treatment effect)."""
    import datetime as dt
    import hashlib
    import tempfile

    from talkdesk_async_etl_spark.operators.sampling import (
        _AB_CONTROL_P,
        _AB_SALT,
        _AB_TREAT_P,
    )
    from talkdesk_async_etl_spark.operators.stats import _CUPED_CUT
    from talkdesk_async_etl_spark.plans.registry import load_all

    QUERIES = load_all()
    cut = dt.date.fromisoformat(_CUPED_CUT)
    pre_ts = dt.datetime.combine(cut - dt.timedelta(days=5), dt.time(9))
    post_ts = dt.datetime.combine(cut + dt.timedelta(days=5), dt.time(9))

    def bucket(uid):
        return int(
            hashlib.md5(f"{_AB_SALT}|{uid}".encode()).hexdigest()[:15], 16
        ) % 1000

    rows, eid = [], 0
    per_user = {}
    for uid in range(400):
        pre_cents = (uid % 50 + 1) * 100
        post_cents = pre_cents + 40  # sticky: post = pre + constant
        per_user[uid] = (pre_cents, post_cents)
        rows.append((eid, pre_ts, uid, "view", pre_cents / 100.0))
        eid += 1
        rows.append((eid, post_ts, uid, "purchase", post_cents / 100.0))
        eid += 1
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double",
    )
    with tempfile.TemporaryDirectory() as d:
        df.write.parquet(d + "/events.parquet")
        got = {r["arm"]: r for r in QUERIES["agg_ab_cuped"].fn(spark, d).collect()}

    armed = {
        uid: pc
        for uid, pc in per_user.items()
        if bucket(uid) < _AB_TREAT_P
    }
    n = len(armed)
    sp = sum(p for p, _ in armed.values())
    so = sum(o for _, o in armed.values())
    spp = sum(p * p for p, _ in armed.values())
    spo = sum(p * o for p, o in armed.values())
    theta = (n * spo - sp * so) / (n * spp - sp * sp)
    mean_pre_all = sp / n
    assert round(theta, 6) == got["control"]["theta"] == got["treatment"]["theta"]
    # post = pre + 40 exactly -> theta is exactly 1 up to rounding.
    assert abs(theta - 1.0) < 1e-9

    raw_gap = 0.0
    adj_gap = 0.0
    for arm_name, pick in (
        ("control", lambda b: b < _AB_CONTROL_P),
        ("treatment", lambda b: _AB_CONTROL_P <= b < _AB_TREAT_P),
    ):
        members = [pc for uid, pc in armed.items() if pick(bucket(uid))]
        n_a = len(members)
        a_pre = sum(p for p, _ in members)
        a_post = sum(o for _, o in members)
        r = got[arm_name]
        assert (r["n_users"], r["sum_pre_cents"], r["sum_post_cents"]) == (
            n_a,
            a_pre,
            a_post,
        )
        assert r["mean_post_cents"] == round(a_post / n_a, 6)
        adj = a_post / n_a - theta * (a_pre / n_a - mean_pre_all)
        assert r["cuped_mean_cents"] == round(adj, 6)
        raw_gap = abs(raw_gap - a_post / n_a)
        adj_gap = abs(adj_gap - adj)
    # No true effect + sticky metric: CUPED shrinks the arm gap.
    assert adj_gap < raw_gap
    # Holdout exclusion: armed users < all users.
    assert got["control"]["n_users"] + got["treatment"]["n_users"] < 400


def test_assoc_rules_constructed_and_replica(spark):
    """agg_assoc_rules on a constructed basket fixture: perfect
    containment pins confidence to exactly 1e6, lift is the exact
    independence ratio (sub-support pairs are absent), and every
    surviving rule matches a pure-Python integer replica."""
    import datetime as dt
    import tempfile

    from talkdesk_async_etl_spark.operators.mining import _MIN_SUPPORT
    from talkdesk_async_etl_spark.plans.registry import load_all

    QUERIES = load_all()
    # 12 users: all do A; users 0-5 do B; users 0-4 do C; users 0-3 do
    # D (support 4 < MIN_SUPPORT -> no D rules survive).
    baskets = {u: {"A"} for u in range(12)}
    for u in range(6):
        baskets[u].add("B")
    for u in range(5):
        baskets[u].add("C")
    for u in range(4):
        baskets[u].add("D")
    rows, eid = [], 0
    ts = dt.datetime(2024, 1, 5, 12)
    for u, items in baskets.items():
        for it in sorted(items):
            rows.append((eid, ts, u, it, 1.0))
            eid += 1
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double",
    )
    with tempfile.TemporaryDirectory() as d:
        df.write.parquet(d + "/events.parquet")
        got = {
            (r["antecedent"], r["consequent"]): r
            for r in QUERIES["agg_assoc_rules"].fn(spark, d).collect()
        }

    n_users = len(baskets)
    supp: dict = {}
    pair: dict = {}
    for items in baskets.values():
        for a in items:
            supp[a] = supp.get(a, 0) + 1
        for a in items:
            for b in items:
                if a < b:
                    pair[(a, b)] = pair.get((a, b), 0) + 1
    exp = {}
    for (a, b), s_ab in pair.items():
        if s_ab < _MIN_SUPPORT:
            continue
        for ant, con in ((a, b), (b, a)):
            exp[(ant, con)] = (
                s_ab,
                supp[ant],
                supp[con],
                s_ab * 1_000_000 // supp[ant],
                s_ab * n_users * 1_000_000 // (supp[ant] * supp[con]),
            )
    assert set(got) == set(exp)
    assert not any("D" in k for k in got)  # sub-support pair absent
    for key, (s_ab, sa, sc, conf, lift) in exp.items():
        r = got[key]
        assert (r["n_both"], r["n_antecedent"], r["n_consequent"]) == (s_ab, sa, sc)
        assert (r["confidence_micro"], r["lift_micro"]) == (conf, lift), key
    # Spot values: B -> A containment = certainty; C -> B enrichment.
    assert got[("B", "A")]["confidence_micro"] == 1_000_000
    assert got[("B", "A")]["lift_micro"] == 1_000_000  # P(A)=1 -> lift 1
    assert got[("C", "B")]["confidence_micro"] == 1_000_000
    assert got[("C", "B")]["lift_micro"] == 5 * 12 * 1_000_000 // (5 * 6)


def test_adamic_adar_constructed_and_boundary_audit(spark):
    """adamic_adar_from on hand-built graphs vs a pure-Python replica
    (path -> single 1/ln(2) term; shared-hub star vs tight pair), and
    the floor-boundary audit: 1e6/ln(k) sits >= 5e-5 from every
    integer for all k <= 4096, so a 2-ulp cross-engine ln difference
    (~3e-10 here) can never flip a per-term floor."""
    import math

    from talkdesk_async_etl_spark.operators.graph import adamic_adar_from
    from talkdesk_async_etl_spark.plans.cache import cache_scope, scoped_persist

    def run(edges):
        with cache_scope():
            und = scoped_persist(
                spark.createDataFrame(sorted(edges), "a int, b int")
            )
            return {
                (r["a"], r["b"]): (r["n_common"], r["aa_micro"])
                for r in adamic_adar_from(und).collect()
            }

    def term(deg):
        return math.floor(1_000_000 / math.log(deg))

    # Path 1-2-3: non-adjacent (1,3) share center 2 with deg 2.
    assert run([(1, 2), (2, 3)]) == {(1, 3): (1, term(2))}

    # Hub 0 connected to 1..4 (deg 4), plus selective center 5 joining
    # 1 and 2 (deg 2): pair (1,2) scores hub term + selective term and
    # the selective term dominates the hub's.
    star = [(0, 1), (0, 2), (0, 3), (0, 4), (1, 5), (2, 5)]
    got = run(star)
    assert got[(1, 2)] == (2, term(4) + term(2))
    assert got[(3, 4)] == (1, term(4))
    assert term(2) > term(4)  # the Adamic-Adar point: hubs certify less
    # adjacent pairs never appear
    assert (0, 1) not in got

    worst = min(
        abs(1_000_000 / math.log(k) - round(1_000_000 / math.log(k)))
        for k in range(2, 4097)
    )
    assert worst > 5e-5, worst


def test_conversion_latency_constructed(spark):
    """window_conversion_latency on a hand-built funnel: exact
    microsecond latencies, odd cohort doubles the middle value, even
    cohort sums the two middles, purchase-before-signup users count
    as signups but never converters, and purchase-only users are
    excluded entirely."""
    import datetime as dt
    import tempfile

    from talkdesk_async_etl_spark.plans.registry import load_all

    QUERIES = load_all()
    d1 = dt.datetime(2024, 1, 10, 10)
    d2 = dt.datetime(2024, 1, 11, 10)
    rows = [
        # cohort d1: u1 converts in 30 min; u2 purchased BEFORE signup
        # (excluded from converters); u3 never purchases.
        (0, d1, 1, "signup", 1.0),
        (1, d1 + dt.timedelta(minutes=30), 1, "purchase", 1.0),
        (2, d1, 2, "signup", 1.0),
        (3, d1 - dt.timedelta(minutes=5), 2, "purchase", 1.0),
        (4, d1, 3, "signup", 1.0),
        # cohort d2: u4 converts in 10 s, u5 in 20 s (even median).
        (5, d2, 4, "signup", 1.0),
        (6, d2 + dt.timedelta(seconds=10), 4, "purchase", 1.0),
        (7, d2, 5, "signup", 1.0),
        (8, d2 + dt.timedelta(seconds=20), 5, "purchase", 1.0),
        # u6 purchases but never signs up: not in any cohort.
        (9, d2, 6, "purchase", 1.0),
    ]
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double",
    )
    with tempfile.TemporaryDirectory() as tmp:
        df.write.parquet(tmp + "/events.parquet")
        got = {
            str(r["cohort_day"]): r
            for r in QUERIES["window_conversion_latency"].fn(spark, tmp).collect()
        }
    assert set(got) == {"2024-01-10", "2024-01-11"}
    r1 = got["2024-01-10"]
    assert (r1["n_signups"], r1["n_converted"]) == (3, 1)
    assert r1["conv_rate_micro"] == 1_000_000 // 3
    assert r1["median_latency_us_x2"] == 2 * 30 * 60 * 1_000_000  # odd: 2x mid
    r2 = got["2024-01-11"]
    assert (r2["n_signups"], r2["n_converted"]) == (2, 2)
    assert r2["conv_rate_micro"] == 1_000_000
    assert r2["median_latency_us_x2"] == (10 + 20) * 1_000_000  # even: sum


def test_zipf_slope_power_law_and_replica(spark):
    """text_zipf_slope on a constructed power-law corpus (count(r) =
    6000//r over 40 terms): the result equals a pure-Python replica
    of the quantized-log integer OLS exactly, the slope lands within
    1e-3 of −1, and the 1e6·ln(k) floor-boundary audit holds for
    every audited k (ranks and the constructed counts)."""
    import math
    import tempfile

    from talkdesk_async_etl_spark.operators.text import _ZIPF_TOP_K
    from talkdesk_async_etl_spark.plans.registry import load_all

    QUERIES = load_all()
    counts = {f"w{r:03d}": 6000 // r for r in range(1, 41)}
    # one doc per token occurrence keeps every count exact
    texts, bag = [], []
    for term, c in counts.items():
        bag.extend([term] * c)
    chunk = 500
    for i in range(0, len(bag), chunk):
        texts.append(" ".join(bag[i : i + chunk]))
    df = spark.createDataFrame(
        [(i, txt, "en", "src", len(txt)) for i, txt in enumerate(texts)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    with tempfile.TemporaryDirectory() as d:
        df.write.parquet(d + "/documents.parquet")
        r = QUERIES["text_zipf_slope"].fn(spark, d).collect()[0]

    ranked = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[:_ZIPF_TOP_K]
    pts = [
        (
            math.floor(math.log(i + 1) * 1_000_000),
            math.floor(math.log(c) * 1_000_000),
        )
        for i, (_, c) in enumerate(ranked)
    ]
    n = len(pts)
    sx = sum(x for x, _ in pts)
    sy = sum(y for _, y in pts)
    sxx = sum(x * x for x, _ in pts)
    sxy = sum(x * y for x, y in pts)
    syy = sum(y * y for _, y in pts)
    sxx_c, sxy_c, syy_c = n * sxx - sx * sx, n * sxy - sx * sy, n * syy - sy * sy
    slope = abs(sxy_c) * 1_000_000_000 // sxx_c * (1 if sxy_c >= 0 else -1)
    r2 = round(sxy_c * sxy_c / (sxx_c * syy_c), 6)
    assert r["n_terms"] == n == 40
    assert r["slope_nano"] == slope
    assert abs(r["slope_nano"] + 1_000_000_000) < 5_000_000  # within 5e-3 of -1
    assert r["r2"] == r2 and r["r2"] > 0.99
    audited = set(range(1, n + 1)) | set(counts.values())
    worst = min(
        abs(math.log(k) * 1_000_000 - round(math.log(k) * 1_000_000))
        for k in audited
        if k > 1
    )
    assert worst > 1e-6, worst


def test_funnel_steps_constructed(spark):
    """events_funnel_steps on a hand-built journey set: ordered users
    advance, out-of-order firsts stop at the violated step, repeat
    events only count through their FIRST timestamp, and the two
    conversion-rate columns are the exact truncating ratios."""
    import datetime as dt
    import tempfile

    from talkdesk_async_etl_spark.plans.registry import load_all

    QUERIES = load_all()
    t0 = dt.datetime(2024, 1, 10, 9)

    def ev(uid, offsets):
        return [
            (uid * 10 + i, t0 + dt.timedelta(minutes=m), uid, et, 1.0)
            for i, (et, m) in enumerate(offsets)
        ]

    rows = []
    # u1: full ordered funnel. u2: view+click ordered, no purchase.
    # u3: click BEFORE first view -> stops at step 1. u4: full funnel
    # but purchase before click -> stops at step 2. u5: never views
    # (click+purchase only) -> contributes to NO step. u6: view only.
    rows += ev(1, [("view", 0), ("click", 5), ("purchase", 10)])
    rows += ev(2, [("view", 0), ("click", 5)])
    rows += ev(3, [("click", 0), ("view", 5), ("purchase", 10)])
    rows += ev(4, [("view", 0), ("purchase", 3), ("click", 6)])
    rows += ev(5, [("click", 0), ("purchase", 5)])
    rows += ev(6, [("view", 0)])
    # u1 also re-views later: firsts are what count.
    rows += ev(7, [("view", 0), ("view", 20), ("click", 5), ("purchase", 10)])
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double",
    )
    with tempfile.TemporaryDirectory() as d:
        df.write.parquet(d + "/events.parquet")
        got = {
            r["step"]: r for r in QUERIES["events_funnel_steps"].fn(spark, d).collect()
        }
    # viewers: u1,u2,u3,u4,u6,u7 = 6; clicked-after-view: u1,u2,u4,u7 = 4
    # (u3's first click precedes its first view); purchased-after-click:
    # u1,u7 = 2 (u4's first purchase precedes its first click).
    assert (got[1]["n_users"], got[2]["n_users"], got[3]["n_users"]) == (6, 4, 2)
    assert got[1]["conv_from_prev_micro"] == 1_000_000
    assert got[2]["conv_from_prev_micro"] == 4 * 1_000_000 // 6
    assert got[3]["conv_from_prev_micro"] == 2 * 1_000_000 // 4
    assert got[3]["conv_from_first_micro"] == 2 * 1_000_000 // 6
    assert [got[i]["step_name"] for i in (1, 2, 3)] == ["view", "click", "purchase"]


def test_wow_change_constructed(spark):
    """events_wow_change on hand-built weekly volumes: exact signed
    micro ratios (growth, decline — truncation toward zero), the
    first week pins 0 with prev_n = 0, and weeks bucket on ISO Monday
    boundaries identically to the oracle's date_trunc."""
    import datetime as dt
    import tempfile

    from talkdesk_async_etl_spark.plans.registry import load_all

    QUERIES = load_all()
    # Mondays: 2024-01-01, 01-08, 01-15. Counts 4 -> 6 -> 3.
    weeks = {dt.date(2024, 1, 1): 4, dt.date(2024, 1, 8): 6, dt.date(2024, 1, 15): 3}
    rows, eid = [], 0
    for monday, count in weeks.items():
        for i in range(count):
            ts = dt.datetime.combine(
                monday + dt.timedelta(days=i % 7), dt.time(8)
            )
            rows.append((eid, ts, eid % 5, "view", 2.0))
            eid += 1
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double",
    )
    with tempfile.TemporaryDirectory() as d:
        df.write.parquet(d + "/events.parquet")
        got = {
            str(r["week"]): r
            for r in QUERIES["events_wow_change"].fn(spark, d).collect()
        }
    assert set(got) == {"2024-01-01", "2024-01-08", "2024-01-15"}
    w1, w2, w3 = got["2024-01-01"], got["2024-01-08"], got["2024-01-15"]
    assert (w1["n"], w1["prev_n"], w1["n_wow_micro"]) == (4, 0, 0)
    assert (w2["n"], w2["prev_n"]) == (6, 4)
    assert w2["n_wow_micro"] == 2 * 1_000_000 // 4  # +50%
    assert (w3["n"], w3["prev_n"]) == (3, 6)
    # -50% exactly; truncation toward zero on both engines.
    assert w3["n_wow_micro"] == -500_000
    # cents = 200 per event -> same ratios on the cents column.
    assert w2["cents_wow_micro"] == 500_000 and w3["cents_wow_micro"] == -500_000


# --- round-15 wave D ------------------------------------------------


def _write_events(spark, tmp, rows):
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double",
    ).write.parquet(tmp + "/events.parquet")


def test_kendall_tau_constructed(spark):
    """agg_kendall_tau on hand-built daily counts: a strictly rising
    metric pins tau to +1e6, strictly falling to -1e6, constant to 0
    (ties contribute nothing under tau-a), and a mixed series matches
    the pure-Python pair loop exactly, including the signed
    truncation toward zero."""
    import datetime as dt
    import tempfile

    from talkdesk_async_etl_spark.plans.registry import load_all

    QUERIES = load_all()
    base = dt.datetime(2024, 1, 10, 12)
    counts = {
        "up": [1, 2, 3, 4],
        "down": [4, 3, 2, 1],
        "flat": [2, 2, 2, 2],
        "mixed": [3, 1, 4, 1, 5],
    }
    rows, eid = [], 0
    for et, ys in counts.items():
        for day, y in enumerate(ys):
            for _ in range(y):
                rows.append((eid, base + dt.timedelta(days=day), 1, et, 1.0))
                eid += 1
    with tempfile.TemporaryDirectory() as tmp:
        _write_events(spark, tmp, rows)
        got = {
            r["event_type"]: r
            for r in QUERIES["agg_kendall_tau"].fn(spark, tmp).collect()
        }
    for et, ys in counts.items():
        n = len(ys)
        pairs = [(i, j) for i in range(n) for j in range(i + 1, n)]
        s = sum((ys[j] > ys[i]) - (ys[j] < ys[i]) for i, j in pairs)
        r = got[et]
        assert (r["n_days"], r["n_pairs"], r["s_statistic"]) == (
            n,
            len(pairs),
            s,
        )
        q, rem = divmod(abs(s) * 1_000_000, len(pairs))
        assert r["tau_micro"] == (q if s >= 0 else -q)
    assert got["up"]["tau_micro"] == 1_000_000
    assert got["down"]["tau_micro"] == -1_000_000
    assert got["flat"]["tau_micro"] == 0


def test_changepoint_binary_constructed(spark):
    """events_changepoint_binary on a hand-built level shift: the
    argmax split lands exactly at the shift (verified against a
    brute-force Python scan of every candidate split), the earliest
    day wins gain ties, and the published segment means are the exact
    micro floors."""
    import datetime as dt
    import tempfile

    from talkdesk_async_etl_spark.plans.registry import load_all

    QUERIES = load_all()
    base = dt.datetime(2024, 1, 10, 12)
    series = {
        "shift": [10, 10, 10, 100, 100, 100],
        "flat": [7, 7, 7, 7],  # d = 0 at every split: tie -> earliest day
    }
    rows, eid = [], 0
    for et, ys in series.items():
        for day, y in enumerate(ys):
            for _ in range(y):
                rows.append((eid, base + dt.timedelta(days=day), 1, et, 1.0))
                eid += 1
    with tempfile.TemporaryDirectory() as tmp:
        _write_events(spark, tmp, rows)
        got = {
            r["event_type"]: r
            for r in QUERIES["events_changepoint_binary"].fn(spark, tmp).collect()
        }

    def brute(ys):
        n, s = len(ys), sum(ys)
        best = None
        for nl in range(1, n):
            sl = sum(ys[:nl])
            d = sl * (n - nl) - (s - sl) * nl
            gain = (d * d) // (nl * (n - nl) * n)
            if best is None or gain > best[0]:
                best = (gain, nl)
        return best

    x0 = 9  # 2024-01-10 is day-index 9 from the 2024-01-01 epoch
    for et, ys in series.items():
        gain, nl = brute(ys)
        r = got[et]
        assert r["n_days"] == len(ys)
        assert (r["gain"], r["n_left"]) == (gain, nl)
        assert r["split_day_x"] == x0 + nl - 1
        sl, sr = sum(ys[:nl]), sum(ys[nl:])
        assert r["mean_left_micro"] == sl * 1_000_000 // nl
        assert r["mean_right_micro"] == sr * 1_000_000 // (len(ys) - nl)
    assert got["shift"]["n_left"] == 3
    assert got["flat"]["n_left"] == 1  # all-tie: earliest split day


def test_ewma_smooth_weights_and_replica(spark):
    """events_ewma_smooth: the frozen weight table equals the exact
    integer floor of 1e9·α(1−α)^j (Fraction audit, strictly
    decreasing), and on a gappy constructed series every published
    level equals the pure-Python present-weight renormalized floor."""
    import datetime as dt
    import tempfile
    from fractions import Fraction

    from talkdesk_async_etl_spark.operators.stats import _EWMA_LOOKBACK, _EWMA_W
    from talkdesk_async_etl_spark.plans.registry import load_all

    for j, w in enumerate(_EWMA_W):
        exact = Fraction(3, 10) * Fraction(7, 10) ** j * 10**9
        assert w == exact.numerator // exact.denominator
    assert len(_EWMA_W) == _EWMA_LOOKBACK == 28
    assert all(a > b for a, b in zip(_EWMA_W, _EWMA_W[1:]))
    assert _EWMA_W[0] == 300_000_000

    QUERIES = load_all()
    base = dt.datetime(2024, 1, 10, 12)
    days_counts = [(0, 5), (1, 8), (3, 2), (31, 4)]  # gap at 2, far tail
    rows, eid = [], 0
    for day, y in days_counts:
        for _ in range(y):
            rows.append((eid, base + dt.timedelta(days=day), 1, "m", 1.0))
            eid += 1
    with tempfile.TemporaryDirectory() as tmp:
        _write_events(spark, tmp, rows)
        got = {
            r["day_x"]: r
            for r in QUERIES["events_ewma_smooth"].fn(spark, tmp).collect()
        }
    x0 = 9
    present = {x0 + d: y for d, y in days_counts}
    for x, r in got.items():
        num = den = 0
        for xb, yb in present.items():
            gap = x - xb
            if 0 <= gap < _EWMA_LOOKBACK:
                num += yb * _EWMA_W[gap]
                den += _EWMA_W[gap]
        assert r["ewma_micro"] == num * 1_000_000 // den
        assert r["n_present"] == sum(
            1 for xb in present if 0 <= x - xb < _EWMA_LOOKBACK
        )
    # the far-tail day sits outside every earlier day's lookback
    assert got[x0 + 31]["n_present"] == 1
    assert got[x0 + 31]["ewma_micro"] == 4_000_000


def test_seasonal_decompose_constructed(spark):
    """events_seasonal_decompose on two constructed weeks with a
    Monday spike: dow is the engine-neutral day-index mod 7 (the
    2024-01-01 epoch is a Monday, so 2024-01-08 maps to dow 0), the
    Monday index is positive, every other active dow is negative, and
    every value matches the exact rational replica."""
    import datetime as dt
    import tempfile

    from talkdesk_async_etl_spark.plans.registry import load_all

    QUERIES = load_all()
    monday = dt.datetime(2024, 1, 8, 12)  # day-index 7 -> dow 0
    per_day = {0: 90, 1: 10, 2: 10, 7: 70, 8: 10, 9: 10}  # two Mondays spike
    rows, eid = [], 0
    for d, y in per_day.items():
        for _ in range(y):
            rows.append((eid, monday + dt.timedelta(days=d), 1, "m", 1.0))
            eid += 1
    with tempfile.TemporaryDirectory() as tmp:
        _write_events(spark, tmp, rows)
        got = {
            r["dow"]: r
            for r in QUERIES["events_seasonal_decompose"].fn(spark, tmp).collect()
        }
    assert set(got) == {0, 1, 2}
    n, s = 6, sum(per_day.values())
    by_dow = {0: (2, 160), 1: (2, 20), 2: (2, 20)}
    for dow, (nd, sd) in by_dow.items():
        r = got[dow]
        assert (r["n_days"], r["dow_events"]) == (nd, sd)
        assert r["mean_micro"] == sd * 1_000_000 // nd
        num = (sd * n - s * nd) * 1_000_000
        den = nd * n
        q, rem = divmod(abs(num), den)
        assert r["seasonal_idx_micro"] == (q if num >= 0 else -q)
    assert got[0]["seasonal_idx_micro"] > 0 > got[1]["seasonal_idx_micro"]


def test_confusion_multiclass_constructed(spark):
    """ml_eval_confusion_multiclass on a hand-built corpus: the
    per-source majority prior (alphabetical tie-break), a class that
    is never predicted (recall 0, fp 0), and every published count
    and micro metric matching the pure-Python replica."""
    import tempfile

    from talkdesk_async_etl_spark.plans.registry import load_all

    QUERIES = load_all()
    # srcA: 3 en + 1 fr -> predicts en; srcB: 2 fr + 2 de (tie) ->
    # alphabetical min 'de'; srcC: 1 zh -> zh.  'fr' never predicted.
    docs = (
        [("srcA", "en")] * 3
        + [("srcA", "fr")]
        + [("srcB", "fr")] * 2
        + [("srcB", "de")] * 2
        + [("srcC", "zh")]
    )
    rows = [(i, "t", lang, src, 1) for i, (src, lang) in enumerate(docs)]
    with tempfile.TemporaryDirectory() as tmp:
        spark.createDataFrame(
            rows, "doc_id long, text string, lang string, source string,"
            " n_chars long"
        ).write.parquet(tmp + "/documents.parquet")
        got = {
            r["class"]: r
            for r in QUERIES["ml_eval_confusion_multiclass"].fn(spark, tmp).collect()
        }
    pred_by_src = {"srcA": "en", "srcB": "de", "srcC": "zh"}
    pairs = [(lang, pred_by_src[src]) for src, lang in docs]
    classes = {a for a, _ in pairs} | {p for _, p in pairs}
    assert set(got) == classes
    for cls in classes:
        n_a = sum(1 for a, _ in pairs if a == cls)
        n_p = sum(1 for _, p in pairs if p == cls)
        tp = sum(1 for a, p in pairs if a == p == cls)
        r = got[cls]
        assert (r["n_actual"], r["n_predicted"], r["tp"]) == (n_a, n_p, tp)
        assert (r["fp"], r["fn"]) == (n_p - tp, n_a - tp)
        assert r["prec_micro"] == (tp * 1_000_000 // n_p if n_p else 0)
        assert r["rec_micro"] == (tp * 1_000_000 // n_a if n_a else 0)
        assert r["f1_micro"] == 2 * tp * 1_000_000 // (n_a + n_p)
    assert got["fr"]["n_predicted"] == 0 and got["fr"]["rec_micro"] == 0
    assert got["zh"]["f1_micro"] == 1_000_000  # the singleton source is exact


def test_ndcg_constructed_and_discount_table(spark):
    """ml_eval_ndcg: the frozen discount table is the exact floor of
    1e9/log2(r+1) with its prefix sums, and on a constructed
    embedding set where query 0's same-label vectors occupy exactly
    the top ranks the score pins to 1e6, while an interleaved query
    matches the pure-Python replica."""
    import math
    import tempfile

    from talkdesk_async_etl_spark.operators.mining import _NDCG_D, _NDCG_K, _NDCG_P
    from talkdesk_async_etl_spark.plans.registry import load_all

    assert len(_NDCG_D) == _NDCG_K == 10
    for r, d in enumerate(_NDCG_D, start=1):
        assert d == int(10**9 / math.log2(r + 1))
    assert list(_NDCG_P) == [sum(_NDCG_D[: k + 1]) for k in range(10)]
    assert _NDCG_D[0] == 10**9

    QUERIES = load_all()
    # 2-d vectors on distinct angles: cosine to q decreases with index
    # distance. Queries are vec_id < 5; give label 1 to {0 (q), 5, 6}
    # so q0's two relevant vectors sit at ranks 1-2 (angles nearest).
    import math as m

    def vec(deg):
        return [float(m.cos(m.radians(deg))), float(m.sin(m.radians(deg)))]

    rows = [
        (0, vec(0), 1),    # query
        (5, vec(2), 1),    # nearest
        (6, vec(4), 1),    # second
        (7, vec(30), 0),
        (8, vec(40), 0),
        (1, vec(90), 2),   # query: its only twin (9) is NOT nearest
        (9, vec(160), 2),
        (10, vec(95), 0),
        (2, vec(200), 3), (3, vec(230), 4), (4, vec(260), 5),
    ]
    with tempfile.TemporaryDirectory() as tmp:
        spark.createDataFrame(
            rows, "vec_id long, embedding array<float>, label int"
        ).write.parquet(tmp + "/embeddings.parquet")
        got = {
            r["q_id"]: r for r in QUERIES["ml_eval_ndcg"].fn(spark, tmp).collect()
        }

    r0 = got[0]
    assert (r0["n_rel_corpus"], r0["n_rel_topk"]) == (2, 2)
    assert r0["dcg_nano"] == _NDCG_D[0] + _NDCG_D[1]
    assert r0["idcg_nano"] == _NDCG_P[1]
    assert r0["ndcg_micro"] == 1_000_000  # perfect ranking

    # replica for q1: rank all others by cosine to vec(90), tie-free.
    def cos(u, v):
        dot = u[0] * v[0] + u[1] * v[1]
        nu = m.hypot(*u) * m.hypot(*v)
        return dot / nu

    by_id = {vid: v for vid, v, _ in rows}
    labs = {vid: lab for vid, _, lab in rows}
    order = sorted(
        (vid for vid in by_id if vid != 1),
        key=lambda vid: (-cos(by_id[1], by_id[vid]), vid),
    )
    dcg = sum(
        _NDCG_D[r]
        for r, vid in enumerate(order[:10])
        if labs[vid] == labs[1]
    )
    r1 = got[1]
    assert r1["n_rel_corpus"] == 1 and r1["idcg_nano"] == _NDCG_P[0]
    assert r1["dcg_nano"] == dcg
    assert r1["ndcg_micro"] == dcg * 1_000_000 // _NDCG_P[0]
    assert 0 < r1["ndcg_micro"] < 1_000_000  # twin present but misranked


def test_jaccard_linkpred_constructed(spark):
    """jaccard_linkpred_from on hand-built graphs vs the set replica:
    a path endpoints pair with identical singleton neighborhoods pins
    to 1e6; on the star-plus-pair graph hub endpoints dilute the
    union exactly as |union| says; adjacent pairs never appear."""
    from talkdesk_async_etl_spark.operators.graph import jaccard_linkpred_from
    from talkdesk_async_etl_spark.plans.cache import cache_scope, scoped_persist

    def run(edges):
        with cache_scope():
            und = scoped_persist(
                spark.createDataFrame(sorted(edges), "a int, b int")
            )
            return {
                (r["a"], r["b"]): r for r in jaccard_linkpred_from(und).collect()
            }

    def replica(edges):
        nbr = {}
        for a, b in edges:
            nbr.setdefault(a, set()).add(b)
            nbr.setdefault(b, set()).add(a)
        out = {}
        for a in nbr:
            for b in nbr:
                if a < b and b not in nbr[a]:
                    inter = len(nbr[a] & nbr[b])
                    if inter:
                        un = len(nbr[a] | nbr[b])
                        out[(a, b)] = (inter, un)
        return out

    path = [(1, 2), (2, 3)]
    got = run(path)
    assert set(got) == {(1, 3)}
    assert got[(1, 3)]["jaccard_micro"] == 1_000_000

    star = [(0, 1), (0, 2), (0, 3), (0, 4), (1, 5), (2, 5)]
    got = run(star)
    rep = replica(star)
    assert set(got) == set(rep)
    for (a, b), (inter, un) in rep.items():
        r = got[(a, b)]
        assert r["n_common"] == inter
        assert r["jaccard_micro"] == inter * 1_000_000 // un
    # (1,2) share their whole neighborhoods {0,5} -> 1e6; a mixed pair
    # like (1,3) shares 1 of union 2 -> exactly half.
    assert got[(1, 2)]["jaccard_micro"] == 1_000_000
    assert got[(1, 3)]["jaccard_micro"] == 500_000
    assert (0, 1) not in got  # adjacent


def test_kfold_assign_determinism_and_replica(spark):
    """sample_kfold_assign: the fold of every document equals the
    Python hashlib replica of the salted-md5 contract, xor checksums
    attest exact membership, per-language shares sum back to the
    language totals, and a re-run is bit-identical (determinism)."""
    import hashlib
    import tempfile

    from talkdesk_async_etl_spark.operators.sampling import _KFOLD_K, _KFOLD_SALT
    from talkdesk_async_etl_spark.plans.registry import load_all

    QUERIES = load_all()

    def fold_of(doc_id):
        h = hashlib.md5(f"{_KFOLD_SALT}|{doc_id}".encode()).hexdigest()
        return int(h[:15], 16) % _KFOLD_K

    rows = [(i, "t", ["en", "fr"][i % 2], "s", 1) for i in range(40)]
    with tempfile.TemporaryDirectory() as tmp:
        spark.createDataFrame(
            rows, "doc_id long, text string, lang string, source string,"
            " n_chars long"
        ).write.parquet(tmp + "/documents.parquet")
        got1 = sorted(
            tuple(r) for r in QUERIES["sample_kfold_assign"].fn(spark, tmp).collect()
        )
        got2 = sorted(
            tuple(r) for r in QUERIES["sample_kfold_assign"].fn(spark, tmp).collect()
        )
    assert got1 == got2  # deterministic under reprocessing

    exp = {}
    for i, _, lang, _, _ in rows:
        f = fold_of(i)
        n, x = exp.get((f, lang), (0, 0))
        exp[(f, lang)] = (n + 1, x ^ i)
    by_key = {(r[0], r[1]): r for r in got1}
    assert set(by_key) == set(exp)
    lang_tot = {}
    for (_, lang), (n, _) in exp.items():
        lang_tot[lang] = lang_tot.get(lang, 0) + n
    for (f, lang), (n, x) in exp.items():
        r = by_key[(f, lang)]
        # (fold, lang, n_docs, docs_xor, lang_total, fold_share_micro)
        assert (r[2], r[3], r[4]) == (n, x, lang_tot[lang])
        assert r[5] == n * 1_000_000 // lang_tot[lang]


# --- round-15 wave E ------------------------------------------------


def test_brier_constructed(spark):
    """ml_eval_brier on a constructed corpus where the logreg score is
    solvable by hand is overkill (the weights are calibrated for the
    fixture corpus) — instead pin the CONTRACT on real sf0.001 data:
    per-class rows exist for both outcomes, every value matches a
    pure-Python replica over the (p_micro, y) relation, and the class
    Brier is the exact truncated mean of (p − y·1e6)²."""
    from talkdesk_async_etl_spark.operators.mining import _scored_labels
    from talkdesk_async_etl_spark.plans.registry import load_all

    QUERIES = load_all()
    sf = "/root/testdata/sf0.001"
    scored = [
        (r["p_micro"], r["y"]) for r in _scored_labels(spark, sf).collect()
    ]
    got = {r["y"]: r for r in QUERIES["ml_eval_brier"].fn(spark, sf).collect()}
    assert set(got) == {0, 1}
    for y in (0, 1):
        ps = [p for p, yy in scored if yy == y]
        assert got[y]["n"] == len(ps)
        assert got[y]["mean_p_micro"] == sum(ps) // len(ps)
        assert got[y]["brier_micro2"] == sum(
            (p - y * 1_000_000) ** 2 for p in ps
        ) // len(ps)
    # a useful scorer: positives predicted higher on average
    assert got[1]["mean_p_micro"] != got[0]["mean_p_micro"]


def test_mrr_constructed(spark):
    """ml_eval_mrr on the wave-D NDCG fixture: a query whose twin
    ranks first pins rr to 1e6, a query whose only twin is misranked
    publishes the exact 1e6 div rank, and a query with no same-label
    vector in the top-k pins both fields to 0."""
    import math as m
    import tempfile

    from talkdesk_async_etl_spark.plans.registry import load_all

    QUERIES = load_all()

    def vec(deg):
        return [float(m.cos(m.radians(deg))), float(m.sin(m.radians(deg)))]

    rows = [
        (0, vec(0), 1), (5, vec(2), 1), (6, vec(4), 1),
        (7, vec(30), 0), (8, vec(40), 0),
        (1, vec(90), 2), (9, vec(160), 2), (10, vec(95), 0),
        (2, vec(200), 3),  # label 3 appears once: no relevant neighbor
        (3, vec(230), 4), (4, vec(260), 5),
    ]
    with tempfile.TemporaryDirectory() as tmp:
        spark.createDataFrame(
            rows, "vec_id long, embedding array<float>, label int"
        ).write.parquet(tmp + "/embeddings.parquet")
        got = {r["q_id"]: r for r in QUERIES["ml_eval_mrr"].fn(spark, tmp).collect()}

    assert got[0]["first_rel_rank"] == 1 and got[0]["rr_micro"] == 1_000_000

    def cos(u, v):
        return (u[0] * v[0] + u[1] * v[1]) / (m.hypot(*u) * m.hypot(*v))

    by_id = {vid: v for vid, v, _ in rows}
    order = sorted(
        (vid for vid in by_id if vid != 1),
        key=lambda vid: (-cos(by_id[1], by_id[vid]), vid),
    )
    r9 = order.index(9) + 1
    assert got[1]["first_rel_rank"] == r9
    assert got[1]["rr_micro"] == 1_000_000 // r9

    assert got[2]["first_rel_rank"] == 0 and got[2]["rr_micro"] == 0


def test_hhi_concentration_constructed(spark):
    """agg_hhi_concentration on hand-built volumes: a monopoly metric
    pins HHI and its normalization to 1e6, perfectly equal users pin
    HHI to 1e6/n and the normalization to 0, and a skewed metric
    matches the exact replica including the quantized-normalization
    contract (norm computed FROM the published micro value)."""
    import datetime as dt
    import tempfile

    from talkdesk_async_etl_spark.plans.registry import load_all

    QUERIES = load_all()
    ts = dt.datetime(2024, 1, 10, 12)
    per_user = {
        "mono": {1: 7},
        "equal": {1: 3, 2: 3, 3: 3, 4: 3},
        "skew": {1: 8, 2: 1, 3: 1},
    }
    rows, eid = [], 0
    for et, users in per_user.items():
        for u, k in users.items():
            for _ in range(k):
                rows.append((eid, ts, u, et, 1.0))
                eid += 1
    with tempfile.TemporaryDirectory() as tmp:
        _write_events(spark, tmp, rows)
        got = {
            r["event_type"]: r
            for r in QUERIES["agg_hhi_concentration"].fn(spark, tmp).collect()
        }
    for et, users in per_user.items():
        s = sum(users.values())
        s2 = sum(c * c for c in users.values())
        n = len(users)
        hhi = s2 * 1_000_000 // (s * s)
        r = got[et]
        assert (r["n_users"], r["n_events"], r["hhi_micro"]) == (n, s, hhi)
        exp_norm = 0 if n <= 1 else (hhi * n - 1_000_000) // (n - 1)
        assert r["hhi_norm_micro"] == exp_norm
    assert got["mono"]["hhi_micro"] == 1_000_000
    assert got["mono"]["hhi_norm_micro"] == 0  # single user: pinned
    assert got["equal"]["hhi_micro"] == 250_000
    assert got["equal"]["hhi_norm_micro"] == 0
    assert got["skew"]["hhi_micro"] > 250_000


def test_seasonality_strength_constructed(spark):
    """events_seasonality_strength on constructed series: a purely
    weekday-driven metric (two identical weeks) scores ~1e6, a
    constant metric scores 0 with sst = 0, and the quantized
    per-term replica matches exactly."""
    import datetime as dt
    import tempfile

    from talkdesk_async_etl_spark.plans.registry import load_all

    QUERIES = load_all()
    monday = dt.datetime(2024, 1, 8, 12)  # day-index 7, dow 0
    series = {
        "seasonal": [50, 10, 20, 30, 40, 5, 15] * 2,  # exact weekly repeat
        "flat": [9] * 14,
    }
    rows, eid = [], 0
    for et, ys in series.items():
        for d, y in enumerate(ys):
            for _ in range(y):
                rows.append((eid, monday + dt.timedelta(days=d), 1, et, 1.0))
                eid += 1
    with tempfile.TemporaryDirectory() as tmp:
        _write_events(spark, tmp, rows)
        got = {
            r["event_type"]: r
            for r in QUERIES["events_seasonality_strength"].fn(spark, tmp).collect()
        }

    def replica(ys):
        n, s = len(ys), sum(ys)
        syy = sum(y * y for y in ys)
        by_dow = {}
        for d, y in enumerate(ys):
            nd, sd = by_dow.get((7 + d) % 7, (0, 0))
            by_dow[(7 + d) % 7] = (nd + 1, sd + y)
        ssb = sum(
            (sd * n - s * nd) ** 2 // (nd * n * n) for nd, sd in by_dow.values()
        )
        sst = (n * syy - s * s) // n
        return ssb, sst, (0 if sst == 0 else ssb * 1_000_000 // sst)

    for et, ys in series.items():
        ssb, sst, strength = replica(ys)
        r = got[et]
        assert (r["ssb"], r["sst"], r["strength_micro"]) == (ssb, sst, strength)
    assert got["flat"]["strength_micro"] == 0
    assert got["seasonal"]["strength_micro"] >= 990_000  # ~all variance is dow


def test_user_churn_weekly_constructed(spark):
    """events_user_churn_weekly on a three-week hand-built population:
    week 1 is all-new, week 2 splits retained/new with the churned
    user counted against week 1's base, and the post-data week
    reports the users who went silent at the edge."""
    import datetime as dt
    import tempfile

    from talkdesk_async_etl_spark.plans.registry import load_all

    QUERIES = load_all()
    w1 = dt.datetime(2024, 1, 8, 12)  # a Monday
    w2, w3 = w1 + dt.timedelta(days=7), dt.timedelta(days=14) + w1
    acts = [
        (1, w1), (2, w1), (3, w1),       # week 1: users 1-3
        (1, w2), (2, w2), (4, w2),       # week 2: 3 churns, 4 is new
        (1, w3),                          # week 3: only 1 stays
    ]
    rows = [
        (i, ts, u, "click", 1.0) for i, (u, ts) in enumerate(acts)
    ]
    with tempfile.TemporaryDirectory() as tmp:
        _write_events(spark, tmp, rows)
        got = {
            str(r["week"]): r
            for r in QUERIES["events_user_churn_weekly"].fn(spark, tmp).collect()
        }
    assert set(got) == {"2024-01-08", "2024-01-15", "2024-01-22", "2024-01-29"}
    r = got["2024-01-08"]
    assert (r["n_active"], r["n_new"], r["n_retained"], r["n_churned"]) == (3, 3, 0, 0)
    assert r["churn_rate_micro"] == 0
    r = got["2024-01-15"]
    assert (r["n_active"], r["n_new"], r["n_retained"], r["n_churned"]) == (3, 1, 2, 1)
    assert r["churn_rate_micro"] == 1_000_000 // 3
    r = got["2024-01-22"]
    assert (r["n_active"], r["n_new"], r["n_retained"], r["n_churned"]) == (1, 0, 1, 2)
    assert r["churn_rate_micro"] == 2 * 1_000_000 // 3
    r = got["2024-01-29"]  # the edge week: 1 went silent, nobody active
    assert (r["n_active"], r["n_churned"]) == (0, 1)
    assert r["churn_rate_micro"] == 1_000_000


def test_tv_distance_and_hapax_constructed(spark):
    """text_tv_distance_sources + text_hapax_share on a hand-built
    two-source corpus: a source distributed exactly like the corpus
    scores TV 0 against itself-dominated mixtures per the replica,
    the disjoint-vocabulary source approaches its closed form, and
    hapax counting matches the singleton tail exactly."""
    import tempfile
    from collections import Counter

    from talkdesk_async_etl_spark.plans.registry import load_all

    QUERIES = load_all()
    src_text = {
        "sA": "a a a b b c",      # 6 tokens
        "sB": "a b x y z z",      # 6 tokens, 3 unique-to-B terms
    }
    rows = [
        (i, txt, "en", src, len(txt))
        for i, (src, txt) in enumerate(src_text.items())
    ]
    with tempfile.TemporaryDirectory() as tmp:
        spark.createDataFrame(
            rows, "doc_id long, text string, lang string, source string,"
            " n_chars long"
        ).write.parquet(tmp + "/documents.parquet")
        tv = {
            r["source"]: r
            for r in QUERIES["text_tv_distance_sources"].fn(spark, tmp).collect()
        }
        hx = {
            r["source"]: r
            for r in QUERIES["text_hapax_share"].fn(spark, tmp).collect()
        }

    corpus = Counter()
    per_src = {}
    for src, txt in src_text.items():
        c = Counter(txt.split())
        per_src[src] = c
        corpus.update(c)
    n = sum(corpus.values())
    for src, c in per_src.items():
        ns = sum(c.values())
        num = sum(
            abs(c.get(w, 0) * n - corpus[w] * ns) for w in corpus
        )
        exp = num * 1_000_000 // (2 * ns * n)
        r = tv[src]
        assert (r["n_tokens"], r["n_terms"]) == (ns, len(c))
        assert r["tv_micro"] == exp
        hapax = [w for w in c if corpus[w] == 1]
        h = hx[src]
        assert h["n_hapax"] == len(hapax)
        assert h["hapax_share_micro"] == len(hapax) * 1_000_000 // ns
    assert hx["sA"]["n_hapax"] == 1  # 'c'
    assert hx["sB"]["n_hapax"] == 2  # 'x', 'y' ('z' repeats)
    # two equal-mass sources sit symmetrically around their mixture:
    # |p_A − p| = |p_A − p_B|/2 = |p_B − p| termwise, so TV must agree
    assert tv["sA"]["tv_micro"] == tv["sB"]["tv_micro"] == 333_333


def test_two_hop_reach_constructed(spark):
    """two_hop_reach_from on hand-built graphs vs the BFS replica:
    path, star (hub reaches everyone in 1, leaves reach all in 2),
    and two triangles sharing a vertex."""
    from talkdesk_async_etl_spark.operators.graph import two_hop_reach_from
    from talkdesk_async_etl_spark.plans.cache import cache_scope, scoped_persist

    def run(edges):
        with cache_scope():
            und = scoped_persist(
                spark.createDataFrame(sorted(edges), "a int, b int")
            )
            return {
                r["node"]: (r["deg"], r["n_reach2"])
                for r in two_hop_reach_from(und).collect()
            }

    def replica(edges):
        nbr = {}
        for a, b in edges:
            nbr.setdefault(a, set()).add(b)
            nbr.setdefault(b, set()).add(a)
        out = {}
        for v in nbr:
            ball = set(nbr[v])
            for u in nbr[v]:
                ball |= nbr[u]
            ball.discard(v)
            out[v] = (len(nbr[v]), len(ball))
        return out

    for edges in (
        [(1, 2), (2, 3), (3, 4), (4, 5)],          # path
        [(0, 1), (0, 2), (0, 3), (0, 4)],          # star
        [(0, 1), (1, 2), (0, 2), (2, 3), (3, 4), (2, 4)],  # bowtie
    ):
        assert run(edges) == replica(edges)


# --- round-15 wave F ------------------------------------------------


def test_levenshtein_verify_constructed(spark):
    """dedup_levenshtein_verify on hand-built near-dups: a one-word
    substitution passes the shingle stage and its edit distance +
    normalized similarity match the pure-Python Wagner-Fischer
    replica; an unrelated doc never reaches the verify stage."""
    import tempfile

    from talkdesk_async_etl_spark.plans.registry import load_all

    QUERIES = load_all()
    base = (
        "the quick brown fox jumps over the lazy dog while the calm cat"
        " naps near the warm stove and the old owl watches from the tall"
        " oak tree until dawn arrives"
    )
    near = base.replace("lazy", "hazy")
    rows = [
        (1, base, "en", "s", len(base)),
        (2, near, "en", "s", len(near)),
        (3, "completely different text with no shared shingles at all x y z",
         "en", "s", 60),
    ]
    with tempfile.TemporaryDirectory() as tmp:
        spark.createDataFrame(
            rows, "doc_id long, text string, lang string, source string,"
            " n_chars long"
        ).write.parquet(tmp + "/documents.parquet")
        got = {
            (r["doc_a"], r["doc_b"]): r
            for r in QUERIES["dedup_levenshtein_verify"].fn(spark, tmp).collect()
        }

    def lev(a, b):
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(min(prev[j] + 1, cur[j - 1] + 1,
                               prev[j - 1] + (ca != cb)))
            prev = cur
        return prev[-1]

    assert set(got) == {(1, 2)}
    r = got[(1, 2)]
    d = lev(base, near)
    assert r["lev_distance"] == d == 1
    ml = max(len(base), len(near))
    assert (r["len_a"], r["len_b"]) == (len(base), len(near))
    assert r["lev_sim_micro"] == (ml - d) * 1_000_000 // ml


def test_length_quartiles_constructed(spark):
    """text_length_quartiles on odd/even/singleton sources vs the
    positional replica: odd counts double the middle, even counts sum
    the two positions, a singleton pins all three to 2x its value."""
    import tempfile

    from talkdesk_async_etl_spark.plans.registry import load_all

    QUERIES = load_all()
    lengths = {
        "odd": [10, 20, 30, 40, 50],
        "even": [1, 2, 3, 4],
        "one": [77],
    }
    rows, did = [], 0
    for src, ls in lengths.items():
        for ln in ls:
            rows.append((did, "t", "en", src, ln))
            did += 1
    with tempfile.TemporaryDirectory() as tmp:
        spark.createDataFrame(
            rows, "doc_id long, text string, lang string, source string,"
            " n_chars long"
        ).write.parquet(tmp + "/documents.parquet")
        got = {
            r["source"]: r
            for r in QUERIES["text_length_quartiles"].fn(spark, tmp).collect()
        }

    def q_x2(vals, num, den):
        s, n = sorted(vals), len(vals)
        lo = (n - 1) * num // den
        hi = -((-(n - 1) * num) // den)  # ceil
        return s[lo] + s[hi]

    for src, ls in lengths.items():
        r = got[src]
        assert r["n_docs"] == len(ls)
        assert r["q1_x2"] == q_x2(ls, 1, 4)
        assert r["median_x2"] == q_x2(ls, 1, 2)
        assert r["q3_x2"] == q_x2(ls, 3, 4)
    assert got["odd"]["median_x2"] == 60  # 2 x 30
    assert got["even"]["median_x2"] == 5  # 2 + 3
    assert got["one"]["q1_x2"] == got["one"]["q3_x2"] == 154


def test_negative_pairs_replica(spark):
    """sample_negative_pairs on a dense constructed id space: every
    draw equals the hashlib fold replica, each anchor emits exactly k
    slots, and the collision flags match the label table."""
    import hashlib
    import tempfile

    from talkdesk_async_etl_spark.operators.sampling import _NEG_K, _NEG_SALT
    from talkdesk_async_etl_spark.plans.registry import load_all

    QUERIES = load_all()
    n = 12
    rows = [(i, [float(i), 1.0], i % 3) for i in range(n)]
    with tempfile.TemporaryDirectory() as tmp:
        spark.createDataFrame(
            rows, "vec_id long, embedding array<float>, label int"
        ).write.parquet(tmp + "/embeddings.parquet")
        got = {
            (r["vec_id"], r["slot"]): r
            for r in QUERIES["sample_negative_pairs"].fn(spark, tmp).collect()
        }

    def draw(vid, slot):
        h = hashlib.md5(f"{_NEG_SALT}|{vid}|{slot}".encode()).hexdigest()
        return int(h[:15], 16) % n

    assert len(got) == n * _NEG_K
    for vid in range(n):
        for slot in range(1, _NEG_K + 1):
            neg = draw(vid, slot)
            r = got[(vid, slot)]
            assert r["neg_id"] == neg
            assert r["is_self"] == int(neg == vid)
            assert r["label_collision"] == int(neg % 3 == vid % 3)


def test_lift_table_replica(spark):
    """ml_eval_lift_table vs a pure-Python replica of the ntile
    convention over the real sf0.001 scored relation: deciles are
    population-equal with the first n%10 absorbing one extra, the
    cumulative gains are monotone to 1e6, and the final decile's
    lift is exactly 1e6 (the whole population is 1x random)."""
    from talkdesk_async_etl_spark.operators.mining import _scored_labels
    from talkdesk_async_etl_spark.plans.registry import load_all

    QUERIES = load_all()
    sf = "/root/testdata/sf0.001"
    scored = sorted(
        ((r["p_micro"], r["doc_id"], r["y"])
         for r in _scored_labels(spark, sf).collect()),
        key=lambda t: (-t[0], t[1]),
    )
    got = {
        r["decile"]: r
        for r in QUERIES["ml_eval_lift_table"].fn(spark, sf).collect()
    }
    n, k = len(scored), 10
    base, rem = divmod(n, k)
    bounds, start = [], 0
    for d in range(1, k + 1):
        size = base + (1 if d <= rem else 0)
        bounds.append((d, start, start + size))
        start += size
    big_p = sum(y for _, _, y in scored)
    cum_n = cum_pos = 0
    for d, lo, hi in bounds:
        rows = scored[lo:hi]
        pos = sum(y for _, _, y in rows)
        cum_n += len(rows)
        cum_pos += pos
        r = got[d]
        assert (r["n"], r["n_pos"], r["cum_n"], r["cum_pos"]) == (
            len(rows), pos, cum_n, cum_pos,
        )
        assert r["gain_micro"] == cum_pos * 1_000_000 // big_p
        assert r["lift_micro"] == cum_pos * n * 1_000_000 // (cum_n * big_p)
    assert got[10]["gain_micro"] == 1_000_000
    assert got[10]["lift_micro"] == 1_000_000
    gains = [got[d]["gain_micro"] for d in range(1, 11)]
    assert gains == sorted(gains)


def test_hour_profile_constructed(spark):
    """events_hour_profile on hand-placed UTC hours: integer shares,
    the peak argmax with the hour-ascending tie-break, and the
    epoch-micros device mapping midnight UTC to hour 0."""
    import datetime as dt
    import tempfile

    from talkdesk_async_etl_spark.plans.registry import load_all

    QUERIES = load_all()
    day = dt.datetime(2024, 1, 10)
    per_hour = {0: 5, 9: 3, 17: 3, 23: 1}  # 9 and 17 tie below the peak
    rows, eid = [], 0
    for h, k in per_hour.items():
        for _ in range(k):
            rows.append((eid, day + dt.timedelta(hours=h), 1, "m", 1.0))
            eid += 1
    with tempfile.TemporaryDirectory() as tmp:
        _write_events(spark, tmp, rows)
        got = {
            r["hour"]: r
            for r in QUERIES["events_hour_profile"].fn(spark, tmp).collect()
        }
    assert set(got) == set(per_hour)
    total = sum(per_hour.values())
    for h, k in per_hour.items():
        assert got[h]["n"] == k
        assert got[h]["share_micro"] == k * 1_000_000 // total
    assert got[0]["is_peak"] == 1  # midnight UTC -> hour 0, the max
    assert got[9]["is_peak"] == got[17]["is_peak"] == got[23]["is_peak"] == 0
