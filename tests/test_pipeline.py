"""Data-pipeline operators: dedup, similarity, text analysis, multimodal."""

from __future__ import annotations

import pytest

from snappy_aqp_spark.dialect import DUCKDB, SPARK
from snappy_aqp_spark.fixtures import PIPELINE_FIXTURES
from snappy_aqp_spark.pipeline import multimodal as mm
from snappy_aqp_spark.pipeline.dual import run_stages, stages_sql
from snappy_aqp_spark.pipeline.text import text_features, text_features_oracle
from tests.conftest import SF_SMALL, compare_frames


@pytest.fixture(scope="module")
def views(spark):
    for t in ("documents", "embeddings", "events", "lineitem", "orders",
              "customer"):
        spark.read.parquet(f"{SF_SMALL}/{t}.parquet").createOrReplaceTempView(t)
    return spark


@pytest.mark.slow
@pytest.mark.parametrize("name", sorted(PIPELINE_FIXTURES))
def test_pipeline_matches_oracle(views, duck, name):
    fx = PIPELINE_FIXTURES[name]
    stages, final = fx["builder"](SPARK, **fx["kw"])
    sp = run_stages(views, stages, final)
    stages2, final2 = fx["builder"](DUCKDB, **fx["kw"])
    compare_frames(sp, duck.sql(stages_sql(stages2, final2)))


# default-run smoke subset (round 11): every 4th pipeline fixture. The
# full sweep is behind the slow marker so the driver's bounded pytest
# window can finish — the driver's own CORRECTNESS gate and
# scripts/verify_entry.py cover every fixture independently at round
# boundaries; `pytest -m ""` runs the full sweep.
@pytest.mark.parametrize("name", sorted(PIPELINE_FIXTURES)[::4])
def test_pipeline_oracle_smoke(views, duck, name):
    fx = PIPELINE_FIXTURES[name]
    stages, final = fx["builder"](SPARK, **fx["kw"])
    sp = run_stages(views, stages, final)
    stages2, final2 = fx["builder"](DUCKDB, **fx["kw"])
    compare_frames(sp, duck.sql(stages_sql(stages2, final2)))


def test_minhash_recall_equals_exact_ngram(views):
    """LSH with these band parameters finds every true pair on the test
    corpus (completeness critic for the approximate path)."""
    from snappy_aqp_spark.pipeline import dedup
    st1, f1 = dedup.ngram_jaccard_stages(SPARK, threshold=0.5, k=7)
    st2, f2 = dedup.minhash_lsh_stages(SPARK, threshold=0.5, k=7)
    exact = {(r.ida, r.idb) for r in run_stages(views, st1, f1).collect()}
    lsh = {(r.ida, r.idb) for r in run_stages(views, st2, f2).collect()}
    assert lsh == exact


def test_simhash_banding_equals_all_pairs(views):
    """Pigeonhole banding is *provably* complete: any pair within Hamming
    max_hamming agrees exactly on one of max_hamming+1 disjoint segments.
    Assert the banded plan reproduces the brute-force all-pairs result."""
    from snappy_aqp_spark.pipeline import dedup, dual
    stages, final = dedup.simhash_stages(SPARK, max_hamming=3)
    banded = {(r.ida, r.idb, r.hamming)
              for r in run_stages(views, stages, final).collect()}
    ham = f"bit_count({dual.xor(SPARK, 'a.sig', 'b.sig')})"
    brute_final = (f"SELECT a.doc_id AS ida, b.doc_id AS idb, "
                   f"CAST({ham} AS BIGINT) AS hamming "
                   f"FROM __sig a JOIN __sig b ON a.doc_id < b.doc_id "
                   f"WHERE {ham} <= 3")
    brute = {(r.ida, r.idb, r.hamming)
             for r in run_stages(views, stages[:1], brute_final).collect()}
    assert banded == brute


def test_embedding_lsh_candidates_cover_true_pairs(views):
    """The multi-table LSH candidate set contains every brute-force
    cosine >= threshold pair on the test corpus (recall = 1)."""
    from snappy_aqp_spark.pipeline import similarity
    st1, f1 = similarity.cosine_pairs_stages(SPARK, threshold=0.9)
    st2, f2 = similarity.near_dup_pairs_stages(SPARK, threshold=0.9)
    brute = {(r.ida, r.idb) for r in run_stages(views, st1, f1).collect()}
    lsh = {(r.ida, r.idb) for r in run_stages(views, st2, f2).collect()}
    assert brute  # planted near-dups exist
    assert brute == lsh


def test_ivf_finds_planted_neighbors(views):
    """IVF probing must route each query to the cluster holding its planted
    near-duplicate (cos ~ 1): rank-1 hit for every planted query. Random
    background neighbors (max cos ~ 0.37 on this corpus) are allowed to
    straddle cluster boundaries; genuinely-similar vectors are not."""
    from snappy_aqp_spark.pipeline import similarity
    st, fin = similarity.ivf_topk_stages(SPARK, plant_rate=10)
    rows = run_stages(views, st, fin).collect()
    got = {(r.qid, r.vid): r.rank for r in rows}
    planted = [q for q in range(20) if q % 10 == 0]
    assert planted
    for q in planted:
        assert got.get((q, q + 10_000_000)) == 1


@pytest.mark.slow
def test_text_features_match(views, duck):
    docs = views.read.parquet(f"{SF_SMALL}/documents.parquet")
    compare_frames(text_features(docs), duck.sql(text_features_oracle()))


def test_multimodal_pipeline_shapes_and_determinism(spark):
    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet").limit(20)
    media = mm.synthesize_media(docs, n_frames=4, width=16, height=16)
    decoded = mm.decode_media(media, decode_fn="fake", sample_every=2)
    rows = decoded.collect()
    assert len(rows) == 40            # 20 docs x frames {0, 2}
    assert all(len(r.pixels) == 256 for r in rows)
    resized = mm.resize_pixels(decoded, factor=2)
    r2 = resized.collect()
    assert all(len(r.pixels) == 64 and r.width == 8 for r in r2)
    feats = mm.extract_features(resized).orderBy("id", "frame").toPandas()
    feats2 = mm.extract_features(mm.resize_pixels(
        mm.decode_media(media, decode_fn="fake", sample_every=2),
        factor=2)).orderBy("id", "frame").toPandas()
    assert feats.equals(feats2)
    assert ((feats["mean_px"] > 0) & (feats["mean_px"] < 255)).all()


def test_multimodal_features_match_oracle(spark, duck):
    """The fake codec is SQL-computable: the DuckDB replay of decode ->
    resize -> features is bit-identical to the mapInPandas pipeline."""
    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet")
    media = mm.synthesize_media(docs, n_frames=4, width=16, height=16)
    feats = mm.extract_features(mm.resize_pixels(
        mm.decode_media(media, sample_every=2), factor=2))
    compare_frames(feats.orderBy("id", "frame"),
                   duck.sql(mm.multimodal_oracle_sql()))


def test_multimodal_real_decode_is_stubbed(spark):
    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet").limit(1)
    media = mm.synthesize_media(docs)
    with pytest.raises(Exception):    # NotImplementedError inside the task
        mm.decode_media(media, decode_fn="real").collect()


def test_multimodal_ppm_real_codec_matches_oracle(spark, duck):
    """The REAL registered codec (stdlib binary-PPM parse): encode actual
    P6 bytes, decode through decode_media(decode_fn='ppm'), and the full
    round trip replays bit-exactly in DuckDB."""
    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet")
    media = mm.encode_ppm_media(docs, width=8, height=8)
    feats = mm.extract_features(mm.decode_media(media, decode_fn="ppm"))
    compare_frames(feats.orderBy("id"),
                   duck.sql(mm.multimodal_ppm_oracle_sql()))


def test_multimodal_ppm_video_stride_matches_oracle(spark, duck):
    """The REAL codec's FRAME-STRIDE branch: a 6-frame concatenated-PPM
    container decoded with sample_every=2 keeps container frames 0/2/4,
    and the whole round trip replays bit-exactly in DuckDB."""
    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet")
    media = mm.encode_ppm_media(docs, width=8, height=8, n_frames=6)
    feats = mm.extract_features(
        mm.decode_media(media, decode_fn="ppm", sample_every=2))
    got = feats.orderBy("id", "frame")
    compare_frames(got, duck.sql(mm.multimodal_ppm_oracle_sql(
        n_frames=6, sample_every=2)))


def test_ppm_decoder_multiframe_stride_unit():
    """unit: multi-frame container decode honors stride and keeps the
    container frame index on emitted rows; stride=1 keeps all frames."""
    import numpy as np
    import pandas as pd
    frames = [np.full(4, 10 * f, dtype=np.uint8) for f in range(5)]
    blob = b"".join(b"P5\n2 2\n255\n" + f.tobytes() for f in frames)
    pdf = pd.DataFrame({"id": [7], "content": [blob]})
    out = mm.ppm_image_decoder(pdf, 2)
    assert list(out["frame"]) == [0, 2, 4]
    assert [p[0] for p in out["pixels"]] == [0, 20, 40]
    assert list(mm.ppm_image_decoder(pdf, 1)["frame"]) == [0, 1, 2, 3, 4]


def test_ppm_decoder_parses_real_headers():
    """unit: the PPM/PGM parser handles comments, multi-whitespace headers,
    P5 grayscale, and rejects non-PPM bytes and 16-bit maxval."""
    import numpy as np
    import pandas as pd
    px = np.arange(12, dtype=np.uint8)
    p6 = (b"P6\n# a comment\n 4\t3 #c\n255\n"
          + np.repeat(px, 3).tobytes())     # r=g=b -> luma == px
    p5 = b"P5\n4 3\n255\n" + px.tobytes()
    pdf = pd.DataFrame({"id": [1, 2], "content": [p6, p5]})
    out = mm.ppm_image_decoder(pdf, 1)
    assert list(out["width"]) == [4, 4] and list(out["height"]) == [3, 3]
    assert out["pixels"][0] == list(range(12))
    assert out["pixels"][1] == list(range(12))
    with pytest.raises(ValueError, match="magic"):
        mm.ppm_image_decoder(
            pd.DataFrame({"id": [1], "content": [b"JFIF...."]}), 1)
    with pytest.raises(ValueError, match="16-bit"):
        mm.ppm_image_decoder(
            pd.DataFrame({"id": [1],
                          "content": [b"P5\n1 1\n65535\n\0\0"]}), 1)


# --- connected-components cluster assignment ---------------------------------

def test_connected_components_unit(spark):
    from snappy_aqp_spark.pipeline.clusters import connected_components
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 6), (9, 3)], "ida long, idb long")
    got = {(r.doc_id, r.cluster_id)
           for r in connected_components(pairs).collect()}
    assert got == {(1, 1), (2, 1), (3, 1), (9, 1), (5, 5), (6, 5)}


def test_connected_components_long_chain(spark):
    """pointer doubling converges on a diameter-63 path well inside the
    iteration cap (plain propagation would need 63 rounds)."""
    from snappy_aqp_spark.pipeline.clusters import connected_components
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(63)], "ida long, idb long")
    lab = connected_components(pairs, max_iter=10).collect()
    assert len(lab) == 64
    assert all(r.cluster_id == 0 for r in lab)


def test_dedup_clusters_matches_oracle(views, duck):
    from snappy_aqp_spark.pipeline.clusters import (dedup_clusters,
                                                    dedup_clusters_oracle_sql)
    sp = dedup_clusters(views)
    compare_frames(sp, duck.sql(dedup_clusters_oracle_sql()))


def test_dedup_clusters_consistent_with_pairs(views):
    """every near-dup pair lands in one cluster; cluster_id is the member
    minimum; docs in no pair are singletons."""
    from snappy_aqp_spark.pipeline import dedup
    from snappy_aqp_spark.pipeline.clusters import dedup_clusters
    st, fin = dedup.minhash_lsh_stages(SPARK, threshold=0.5, k=7)
    pairs = [(r.ida, r.idb) for r in run_stages(views, st, fin).collect()]
    lab = {r.doc_id: r.cluster_id for r in dedup_clusters(views).collect()}
    for a, b in pairs:
        assert lab[a] == lab[b]
    by_cluster: dict = {}
    for d, c in lab.items():
        by_cluster.setdefault(c, []).append(d)
    for c, members in by_cluster.items():
        assert c == min(members)
    paired = {d for p in pairs for d in p}
    for d, c in lab.items():
        if d not in paired:
            assert c == d and len(by_cluster[c]) == 1


def test_clean_corpus_matches_oracle(views, duck):
    from snappy_aqp_spark.pipeline.clusters import (clean_corpus,
                                                    clean_corpus_oracle_sql)
    compare_frames(clean_corpus(views), duck.sql(clean_corpus_oracle_sql()))


def test_clean_corpus_policy(views):
    """precedence + keep-list invariants: every near-dup cluster keeps
    exactly its canonical (unless quality-dropped), keep == (reason='ok')."""
    from snappy_aqp_spark.pipeline.clusters import clean_corpus
    rows = clean_corpus(views).collect()
    assert all((r.keep == 1) == (r.reason == "ok") for r in rows)
    reasons = {r.reason for r in rows}
    assert reasons <= {"ok", "low_quality", "exact_dup", "near_dup"}
    assert "ok" in reasons and "near_dup" in reasons


def test_embedding_clusters_matches_oracle(views, duck):
    from snappy_aqp_spark.pipeline.clusters import (
        embedding_clusters, embedding_clusters_oracle_sql)
    compare_frames(embedding_clusters(views),
                   duck.sql(embedding_clusters_oracle_sql()))


def test_embedding_clusters_cover_planted_pairs(views):
    """every planted (id, id+10M) near-dup lands in one cluster with its
    source as the canonical member."""
    from snappy_aqp_spark.pipeline.clusters import embedding_clusters
    rows = {r.vec_id: r.cluster_id for r in embedding_clusters(views).collect()}
    planted = [v for v in rows if v >= 10_000_000]
    assert planted
    for v in planted:
        assert rows[v] == rows[v - 10_000_000] == v - 10_000_000


# --- round-3: real-codec plug point ------------------------------------------

def test_multimodal_unknown_decoder_fails_at_plan_time(spark):
    from snappy_aqp_spark.pipeline import multimodal as mm
    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet").limit(5)
    media = mm.synthesize_media(docs)
    with pytest.raises(RuntimeError) as ei:
        mm.decode_media(media, decode_fn="real")
    msg = str(ei.value)
    assert "register_real_decoder" in msg and "Detected media" in msg


def test_multimodal_custom_decoder_contract(spark):
    """a callable decoder flows through the mapInPandas plumbing unchanged."""
    import numpy as np
    import pandas as pd
    from snappy_aqp_spark.pipeline import multimodal as mm

    def const_decoder(pdf: pd.DataFrame, stride: int) -> pd.DataFrame:
        rows = []
        for _, r in pdf.iterrows():
            for f in range(0, int(r["n_frames"]), stride):
                rows.append({"id": int(r["id"]), "frame": f,
                             "width": int(r["width"]),
                             "height": int(r["height"]),
                             "pixels": [7] * (int(r["width"]) * int(r["height"]))})
        return pd.DataFrame(rows, columns=["id", "frame", "width", "height",
                                           "pixels"])

    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet").limit(4)
    media = mm.synthesize_media(docs, n_frames=4, width=4, height=4)
    decoded = mm.decode_media(media, decode_fn=const_decoder, sample_every=2)
    feats = mm.extract_features(decoded).toPandas()
    assert len(feats) == 8                       # 4 docs x 2 sampled frames
    assert (feats["mean_px"] == 7.0).all()
    assert (feats["std_px"] == 0.0).all()
    # registry path resolves by name too
    mm.register_real_decoder("const", const_decoder)
    try:
        decoded2 = mm.decode_media(media, decode_fn="const", sample_every=2)
        assert decoded2.count() == 8
    finally:
        mm._REAL_DECODERS.pop("const", None)


def _pil_available() -> bool:
    try:
        import PIL  # noqa: F401
        return True
    except ImportError:
        return False


@pytest.mark.skipif(not _pil_available(),
                    reason="PIL not installed in this container; the test "
                           "runs unchanged in the first env with codecs")
def test_multimodal_pil_decoder_roundtrip(spark):
    """REAL codec path: PNG bytes -> pil_image_decoder through the same
    mapInPandas plumbing as the fake codec; decoded pixels must equal the
    source array and downstream resize/features must run unchanged."""
    import io
    import numpy as np
    from PIL import Image
    from snappy_aqp_spark.pipeline import multimodal as mm
    rng = np.random.default_rng(7)
    rows = []
    for i in range(3):
        arr = rng.integers(0, 256, size=(8, 8), dtype=np.uint8)
        buf = io.BytesIO()
        Image.fromarray(arr, mode="L").save(buf, format="PNG")
        rows.append((i, bytearray(buf.getvalue()), "png", 8, 8, 1, arr))
    media = spark.createDataFrame(
        [r[:6] for r in rows], mm.MEDIA_SCHEMA)
    mm.register_real_decoder("pil", mm.pil_image_decoder)
    try:
        decoded = mm.decode_media(media, decode_fn="pil").toPandas()
        assert len(decoded) == 3
        for i, *_rest, arr in rows:
            got = decoded.loc[decoded["id"] == i, "pixels"].iloc[0]
            assert list(got) == arr.reshape(-1).tolist()
        feats = mm.extract_features(
            mm.decode_media(media, decode_fn="pil")).toPandas()
        assert len(feats) == 3 and (feats["mean_px"] >= 0).all()
    finally:
        mm._REAL_DECODERS.pop("pil", None)


def test_line_dedup_planted_boilerplate(spark):
    """RefinedWeb line dedup on a planted corpus: a boilerplate line in 3
    docs is removed from ALL of them at min_count=3; a line shared by only
    2 docs survives; order and blank lines behave per the recipe."""
    from snappy_aqp_spark.pipeline.dedup import line_dedup_stages

    boiler = "subscribe to our newsletter"
    rows = [
        (1, f"alpha unique one\n{boiler}\nbody text a"),
        (2, f"{boiler}\nbody text b\nshared pair line"),
        (3, f"body text c\n{boiler}"),
        (4, "shared pair line\n\n  \nonly doc four"),   # blanks dropped
        (5, "totally unique document"),
    ]
    spark.createDataFrame(rows, ["doc_id", "text"]) \
         .createOrReplaceTempView("planted_docs")
    st, fin = line_dedup_stages(SPARK, min_count=3, table="planted_docs")
    out = {r["doc_id"]: r for r in run_stages(spark, st, fin).collect()}
    assert out[1]["clean_text"] == "alpha unique one\nbody text a"
    assert out[2]["clean_text"] == "body text b\nshared pair line"
    assert out[3]["clean_text"] == "body text c"
    assert (out[1]["n_removed"], out[2]["n_removed"],
            out[3]["n_removed"]) == (1, 1, 1)
    # blank/whitespace lines are excluded from counting AND output
    assert out[4]["n_lines"] == 2 and out[4]["n_removed"] == 0
    assert out[4]["clean_text"] == "shared pair line\nonly doc four"
    assert out[5]["n_removed"] == 0
    # at min_count=2 the pair-shared line goes too, everywhere
    st2, fin2 = line_dedup_stages(SPARK, min_count=2, table="planted_docs")
    out2 = {r["doc_id"]: r for r in run_stages(spark, st2, fin2).collect()}
    assert out2[2]["clean_text"] == "body text b"
    assert out2[4]["clean_text"] == "only doc four"


@pytest.mark.slow
def test_ngram_jaccard_prefix_filter_is_lossless(views, duck):
    """the prefix-filtered join must return EXACTLY the pairs of the
    brute-force all-co-shingled-pairs baseline (prefix filtering + size
    ratio pruning are candidate-complete for Jaccard >= t), at several
    thresholds, on both engines."""
    from snappy_aqp_spark.pipeline.dedup import ngram_jaccard_stages

    def brute(th):
        return duck.sql(
            "WITH g AS (SELECT doc_id, unnest(list_distinct("
            "  [hash(substr(text, i, 5)) FOR i IN "
            "   range(1, length(text) - 3)])) AS sh FROM documents), "
            "sz AS (SELECT doc_id, COUNT(*) AS n FROM g GROUP BY doc_id), "
            "p AS (SELECT a.doc_id ida, b.doc_id idb, COUNT(*) c FROM g a "
            "JOIN g b ON a.sh = b.sh AND a.doc_id < b.doc_id "
            "GROUP BY 1, 2) "
            "SELECT ida, idb FROM p JOIN sz sa ON ida = sa.doc_id "
            "JOIN sz sb ON idb = sb.doc_id "
            f"WHERE CAST(c AS DOUBLE) / (sa.n + sb.n - c) >= {th} "
            "ORDER BY ida, idb").df()

    for th in (0.3, 0.5, 0.8):
        st, fin = ngram_jaccard_stages(SPARK, threshold=th)
        sp = run_stages(views, st, fin).toPandas()
        st_d, fin_d = ngram_jaccard_stages(DUCKDB, threshold=th)
        dk = duck.sql(stages_sql(st_d, fin_d)).df()
        # Spark == DuckDB replay, bit-exact
        assert sp["jaccard"].tolist() == dk["jaccard"].tolist(), th
        assert sp[["ida", "idb"]].values.tolist() == \
            dk[["ida", "idb"]].values.tolist(), th
        # prefix-filtered == brute force pair set (different shingle hash
        # in the brute oracle, but the PAIR SET at threshold must agree)
        bf = brute(th)
        assert sp[["ida", "idb"]].values.tolist() == \
            bf[["ida", "idb"]].values.tolist(), th


# --- round-3: deterministic HyperLogLog --------------------------------------

def test_hll_distinct_accuracy_and_oracle(views, duck):
    """both hash paths: 'bigint' (Mersenne-61 avalanche — the fixture
    path for int64 doc_id, round-9) and 'string' (md5 — any key type)
    estimate within the envelope AND replay bit-exactly on DuckDB."""
    from snappy_aqp_spark.pipeline.distinct import hll_distinct_stages
    for kind in ("bigint", "string"):
        stages, final = hll_distinct_stages(SPARK, p=6, key_kind=kind)
        est = run_stages(views, stages, final).first()["approx_distinct"]
        # documents has exactly 500 distinct doc_ids; m=64 -> ~13% error
        assert abs(est - 500) / 500 < 0.4, (kind, est)
        # bit-exact DuckDB replay (integer-register design)
        stages_d, final_d = hll_distinct_stages(DUCKDB, p=6, key_kind=kind)
        dk = duck.sql(stages_sql(stages_d, final_d)).df()
        assert dk["approx_distinct"][0] == est, kind


def test_hll_avalanche_negative_and_temporal_keys(views, duck):
    """the integer avalanche path folds arbitrary BIGINT keys (negative
    included) and temporal keys into the Mersenne field identically on
    both engines."""
    from snappy_aqp_spark.pipeline.distinct import hll_distinct_stages
    views.sql("SELECT CAST(doc_id * 7919 - 2000000 AS BIGINT) AS k "
              "FROM documents").createOrReplaceTempView("hll_negk")
    try:
        duck.sql("CREATE OR REPLACE VIEW hll_negk AS SELECT "
                 "CAST(doc_id * 7919 - 2000000 AS BIGINT) AS k "
                 "FROM documents")
        st, fin = hll_distinct_stages(SPARK, col="k", table="hll_negk",
                                      p=6, key_kind="bigint")
        est = run_stages(views, st, fin).first()["approx_distinct"]
        assert abs(est - 500) / 500 < 0.4, est
        st_d, fin_d = hll_distinct_stages(DUCKDB, col="k",
                                          table="hll_negk", p=6,
                                          key_kind="bigint")
        assert duck.sql(stages_sql(st_d, fin_d)).df(
        )["approx_distinct"][0] == est
        # timestamp_ntz (the testdata parquet timestamps): epoch-micros
        # fold, timezone-independent on both engines
        st, fin = hll_distinct_stages(SPARK, col="ts", table="events",
                                      p=6, key_kind="timestamp_ntz")
        est_t = run_stages(views, st, fin).first()["approx_distinct"]
        st_d, fin_d = hll_distinct_stages(DUCKDB, col="ts", table="events",
                                          p=6, key_kind="timestamp_ntz")
        assert duck.sql(stages_sql(st_d, fin_d)).df(
        )["approx_distinct"][0] == est_t
    finally:
        duck.sql("DROP VIEW IF EXISTS hll_negk")


def test_hll_linear_counting_small_range(views, duck):
    """tiny cardinality triggers the linear-counting branch — since
    round 10 a driver-computed literal lookup (distinct._lc_lookup), so
    it replays bit-exactly on the oracle too (the round-9 VERDICT #1
    close; it used to be a Spark-side-only accuracy check because the
    engine-side ln() was libm-dependent)."""
    from snappy_aqp_spark.pipeline import dual
    from snappy_aqp_spark.pipeline.distinct import hll_distinct_stages
    spark = views
    spark.sql("SELECT doc_id % 7 AS small_key FROM documents") \
        .createOrReplaceTempView("small_card")
    stages, final = hll_distinct_stages(SPARK, col="small_key",
                                        table="small_card", p=8)
    est = run_stages(spark, stages, final).first()["approx_distinct"]
    assert abs(est - 7) < 1.0, est            # LC is near-exact here
    duck.sql("CREATE OR REPLACE VIEW small_card AS "
             "SELECT doc_id % 7 AS small_key FROM documents")
    try:
        std, find = hll_distinct_stages(DUCKDB, col="small_key",
                                        table="small_card", p=8)
        assert duck.sql(dual.stages_sql(std, find)).fetchone()[0] == est
    finally:
        duck.sql("DROP VIEW IF EXISTS small_card")


def test_hll_grouped(views, duck):
    from snappy_aqp_spark.pipeline.distinct import hll_distinct_stages
    stages, final = hll_distinct_stages(SPARK, p=6, group_by="lang",
                                        key_kind="bigint")
    sp = run_stages(views, stages, final).toPandas()
    assert len(sp) >= 2                       # one row per language
    exact = views.sql("SELECT lang, count(DISTINCT doc_id) AS n "
                      "FROM documents GROUP BY lang").toPandas()
    truth = dict(zip(exact["lang"], exact["n"]))
    for _, r in sp.iterrows():
        t = truth[r["lang"]]
        assert abs(r["approx_distinct"] - t) / max(t, 1) < 0.5


def test_pq_recall_vs_exact(views):
    """PQ shortlist + exact re-rank recalls most true neighbors even on the
    worst-case (clusterless random) corpus; deterministic — no luck."""
    import numpy as np
    from snappy_aqp_spark.pipeline.similarity import (brute_force_topk_stages,
                                                      pq_topk_stages)
    st_e, fin_e = brute_force_topk_stages(SPARK, k=3)
    exact = (run_stages(views, st_e, fin_e).toPandas()
             .groupby("qid")["vid"].apply(set))
    st, fin = pq_topk_stages(SPARK, n_sub=16, refine=20)
    got = (run_stages(views, st, fin).toPandas()
           .groupby("qid")["vid"].apply(set))
    rec = np.mean([len(exact[q] & got.get(q, set())) / 3
                   for q in exact.index])
    assert rec >= 0.85, rec


def test_uniform_quantile_ci_covers_truth(views, duck):
    """the binomial order-statistic interval must cover the TRUE quantile
    (computed exactly on the full table) for the mid quantiles, and the
    Spark/DuckDB results must be bit-identical."""
    from snappy_aqp_spark.pipeline.quantiles import uniform_quantile_stages
    stages, final = uniform_quantile_stages(SPARK, qs=(0.25, 0.5, 0.75, 0.9))
    sp = run_stages(views, stages, final).toPandas()
    stages_d, final_d = uniform_quantile_stages(DUCKDB,
                                                qs=(0.25, 0.5, 0.75, 0.9))
    compare_frames(run_stages(views, stages, final),
                   duck.sql(stages_sql(stages_d, final_d)))
    truth = views.sql(
        "SELECT percentile_cont(array(0.25, 0.5, 0.75, 0.9)) "
        "WITHIN GROUP (ORDER BY length(text)) AS t FROM documents"
    ).first()["t"]
    for (_, r), t in zip(sp.iterrows(), truth):
        assert r["lower_bound"] <= t <= r["upper_bound"], (r["q"], t, dict(r))


def test_asof_join_equals_correlated_truth(views):
    """the union+window merge-join formulation must reproduce the
    correlated-subquery definition of as-of exactly (incl. the pinned
    largest-event_id tiebreak)."""
    from snappy_aqp_spark.pipeline.temporal import asof_join_stages
    st, fin = asof_join_stages(SPARK)
    got = {r.event_id: r.matched_event_id
           for r in run_stages(views, st, fin).collect()}
    truth = {r.event_id: r.m for r in views.sql(
        "SELECT p.event_id, "
        "(SELECT b.event_id FROM events b WHERE b.event_type = 'click' "
        " AND b.user_id = p.user_id AND b.ts <= p.ts "
        " ORDER BY b.ts DESC, b.event_id DESC LIMIT 1) AS m "
        "FROM events p WHERE p.event_type = 'purchase'").collect()}
    assert got == truth
    assert sum(v is not None for v in got.values()) > len(got) // 2


def test_range_join_equals_inequality_truth(views):
    """bucketed interval join == brute-force inequality join (candidate
    completeness: one bucket per event, all covered buckets per interval)."""
    from snappy_aqp_spark.pipeline.temporal import range_join_stages
    st, fin = range_join_stages(SPARK)
    got = {r.event_id: (r.n_follow, r.value_cents)
           for r in run_stages(views, st, fin).collect()}
    truth = {r.event_id: (r.n, r.cents) for r in views.sql(
        "SELECT a.event_id, COUNT(e.event_id) AS n, "
        "COALESCE(SUM(CAST(ROUND(e.value * 100) AS BIGINT)), 0) AS cents "
        "FROM (SELECT * FROM events WHERE event_type = 'error') a "
        "LEFT JOIN events e ON e.user_id = a.user_id AND e.ts >= a.ts "
        " AND timestampdiff(MICROSECOND, a.ts, e.ts) < 86400000000 "
        "GROUP BY a.event_id").collect()}
    assert got == truth
    assert sum(n for n, _ in got.values()) > len(got)    # non-degenerate


def test_sessionize_invariants(views):
    """sessions partition each user's events; inside a session consecutive
    gaps are <= G, across session boundaries > G."""
    from snappy_aqp_spark.pipeline.sessions import sessionize_stages
    st, fin = sessionize_stages(SPARK, gap_minutes=720)
    sp = run_stages(views, st, fin).toPandas()
    gap_us = 720 * 60 * 1_000_000
    n_events = views.sql("SELECT COUNT(*) AS n FROM events").first()["n"]
    assert sp["n_events"].sum() == n_events
    assert (sp["duration_us"] >= 0).all()
    for _, g in sp.groupby("user_id"):
        g = g.sort_values("session_seq")
        assert list(g["session_seq"]) == list(range(1, len(g) + 1))
        # consecutive sessions of one user are separated by > gap
        nxt = g["start_us"].shift(-1).dropna()
        assert ((nxt.values - g["end_us"].values[:-1]) > gap_us).all()


def test_sessionize_single_shuffle_plan(views):
    """the window and the rollup must reuse ONE exchange on user_id —
    hashpartitioning(user_id) satisfies every downstream clustering that
    contains user_id, so sessionization is one-shuffle at any scale.
    Since round 11 the rollup is the materialized ``__ssa_mz`` stage (the
    presentation ORDER BY reads it), so the property is asserted on the
    COMPUTING stage's plan — the final's plan would print the cached
    child's AQE initial+final sections and double-count the exchange."""
    from snappy_aqp_spark.pipeline.dual import stages_sql
    from snappy_aqp_spark.pipeline.sessions import sessionize_stages
    st, fin = sessionize_stages(SPARK)
    assert st[-1][0] == "__ssa_mz"
    plan = views.sql(stages_sql(st[:-1], st[-1][1])) \
        ._jdf.queryExecution().executedPlan().toString()
    import re
    n_hash_exchanges = len(re.findall(r"Exchange hashpartitioning", plan))
    assert n_hash_exchanges == 1, plan


def test_bloom_semi_join_is_exact(views):
    """bloom pruning + exact join == plain join (no false negatives by
    construction; FPs removed by the join)."""
    from snappy_aqp_spark.pipeline.bloom import bloom_semi_join_stages
    st, fin = bloom_semi_join_stages(SPARK)
    got = run_stages(views, st, fin).toPandas()
    truth = views.sql(
        "SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS n_rows, "
        "CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS BIGINT) "
        "  AS revenue_cents "
        "FROM lineitem JOIN (SELECT o_orderkey FROM orders "
        "  WHERE o_orderpriority LIKE '1%') d ON l_orderkey = o_orderkey "
        "GROUP BY l_returnflag ORDER BY l_returnflag").toPandas()
    assert got.reset_index(drop=True).equals(truth.reset_index(drop=True))


def test_bloom_filter_prunes_with_low_fp_rate(views):
    """the filter must actually prune: survivors ~= true matches + a small
    false-positive tail (theory: (1-e^(-kn/m))^k ~ 7% at this load)."""
    from snappy_aqp_spark.pipeline.bloom import bloom_prune_count_stages
    st, fin = bloom_prune_count_stages(SPARK)
    surv = run_stages(views, st, fin).first()["survivors"]
    total = views.sql("SELECT COUNT(*) AS n FROM lineitem").first()["n"]
    true = views.sql(
        "SELECT COUNT(*) AS n FROM lineitem WHERE l_orderkey IN "
        "(SELECT o_orderkey FROM orders WHERE o_orderpriority LIKE '1%')"
    ).first()["n"]
    assert true <= surv            # no false negatives
    fp = (surv - true) / max(total - true, 1)
    assert fp < 0.15, fp


def test_stratified_split_exact_quotas_and_determinism(views):
    from snappy_aqp_spark.pipeline.split import split_assign_stages
    st, fin = split_assign_stages(SPARK)
    sp = run_stages(views, st, fin).toPandas()
    assert len(sp) == 500 and sp["doc_id"].is_unique
    for _, g in sp.groupby("stratum"):
        n = len(g)
        counts = g["split"].value_counts()
        assert counts.get("train", 0) == int(n * 0.8)
        assert counts.get("val", 0) == int(n * 0.9) - int(n * 0.8)
    # rerun is bit-identical (seeded hash, no engine randomness)
    sp2 = run_stages(views, st, fin).toPandas()
    assert sp.equals(sp2)
    # different seed reassigns some rows but keeps quotas
    st3, fin3 = split_assign_stages(SPARK, seed=7)
    sp3 = run_stages(views, st3, fin3).toPandas()
    assert not sp3["split"].equals(sp["split"])


def test_hash_threshold_split_is_projection_only(views):
    """the zero-shuffle variant must contain no Exchange before the
    presentation sort — the assignment happens inside the scan stage."""
    from snappy_aqp_spark.pipeline.split import split_assign_stages
    st, fin = split_assign_stages(SPARK, exact_quotas=False)
    df = run_stages(views, st, fin)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange hashpartitioning" not in plan, plan
    sp = df.toPandas()
    frac = (sp["split"] == "train").mean()
    assert 0.7 < frac < 0.9        # binomial, not exact


def test_top_terms_ranking_contract(views):
    from snappy_aqp_spark.pipeline.terms import top_terms_stages
    st, fin = top_terms_stages(SPARK, k=3)
    sp = run_stages(views, st, fin).toPandas()
    assert set(sp["rank"]) == {1, 2, 3}
    for _, g in sp.groupby("doc_id"):
        g = g.sort_values("rank")
        keys = list(zip(-g["tf"], g["df"], g["term"]))
        assert keys == sorted(keys)          # (tf desc, df asc, term asc)
    assert (sp["df"] >= 1).all() and (sp["tf"] >= 1).all()


def test_grouped_quantile_ci_covers_truth(views, duck):
    """per-group CIs must cover the group's true quantile, and Spark and
    DuckDB must agree bit-for-bit."""
    from snappy_aqp_spark.pipeline.quantiles import grouped_quantile_stages
    st, fin = grouped_quantile_stages(SPARK)
    sp = run_stages(views, st, fin).toPandas()
    st2, fin2 = grouped_quantile_stages(DUCKDB)
    compare_frames(run_stages(views, st, fin),
                   duck.sql(stages_sql(st2, fin2)))
    truth = {(r.lang, q): t for r in views.sql(
        "SELECT lang, percentile_cont(array(0.5, 0.9)) "
        "WITHIN GROUP (ORDER BY length(text)) AS t "
        "FROM documents GROUP BY lang").collect()
        for q, t in zip((0.5, 0.9), r.t)}
    covered = sum(
        r["lower_bound"] <= truth[(r["stratum"], r["q"])] <= r["upper_bound"]
        for _, r in sp.iterrows())
    assert covered >= len(sp) - 1, (covered, len(sp))


def test_pps_sample_contract(views):
    """systematic PPS: heavy rows always kept, expected mass ~ total/stride,
    and the Horvitz-Thompson total estimate lands within the systematic-
    sampling boundary error (one stride)."""
    from snappy_aqp_spark.pipeline.weighted import pps_sample_stages
    stride = 2500
    st, fin = pps_sample_stages(SPARK, stride=stride)
    sp = run_stages(views, st, fin).toPandas()
    tot = views.sql(
        "SELECT SUM(GREATEST(n_chars, 1)) AS t FROM documents").first()["t"]
    assert abs(len(sp) - tot / stride) <= 2
    est = (sp["ht_weight"] * sp["w"]).sum()
    assert abs(est - tot) <= stride
    assert (sp["ht_num"] == stride).all()
    assert (sp["ht_den"] == sp[["w"]].clip(upper=stride)["w"]).all()
    heavy = {r.doc_id for r in views.sql(
        "SELECT doc_id FROM documents "
        f"WHERE GREATEST(n_chars, 1) >= {stride}").collect()}
    assert heavy <= set(sp["doc_id"])


def test_histogram_dense_and_total(views):
    from snappy_aqp_spark.pipeline.histogram import histogram_stages
    st, fin = histogram_stages(SPARK, width=200)
    sp = run_stages(views, st, fin).toPandas()
    # dense spine: consecutive bins, no holes
    assert list(sp["bin"]) == list(range(sp["bin"].min(), sp["bin"].max() + 1))
    assert sp["n"].sum() == 500
    assert ((sp["hi"] - sp["lo"]) == 200).all()


def test_quota_cap_contract(views):
    from snappy_aqp_spark.pipeline.histogram import quota_cap_stages
    st, fin = quota_cap_stages(SPARK, cap=60)
    sp = run_stages(views, st, fin).toPandas()
    sizes = views.sql("SELECT source, COUNT(*) AS n FROM documents "
                      "GROUP BY source").toPandas()
    truth = dict(zip(sizes["source"], sizes["n"]))
    got = sp.groupby("grp").size().to_dict()
    for g, n in truth.items():
        assert got.get(g, 0) == min(n, 60), (g, n, got.get(g))
    # deterministic pick
    sp2 = run_stages(views, st, fin).toPandas()
    assert sp.equals(sp2)


def test_chunking_reconstructs_documents(views):
    """chunks cover every char: stripping the overlap from chunk i>0 and
    concatenating reconstructs the original text exactly."""
    from snappy_aqp_spark.pipeline.chunking import chunk_documents_stages
    st, fin = chunk_documents_stages(SPARK, window=400, overlap=50)
    sp = run_stages(views, st, fin).toPandas()
    docs = {r.doc_id: r.text for r in views.sql(
        "SELECT doc_id, text FROM documents").collect()}
    assert set(sp["doc_id"]) == set(docs)
    for doc_id, g in sp.groupby("doc_id"):
        g = g.sort_values("chunk_idx")
        rebuilt = "".join(
            t if i == 0 else t[50:]
            for i, t in enumerate(g["chunk_text"]))
        assert rebuilt == docs[doc_id], doc_id
        assert (g["chunk_len"] == g["chunk_text"].str.len()).all()


def test_contamination_finds_planted_near_dups(views):
    """the corpus's planted near-duplicates straddle the train/eval split
    for some pairs; those must surface with high overlap, and every
    reported pair keeps train and eval disjoint."""
    from snappy_aqp_spark.pipeline.contamination import contamination_stages
    st, fin = contamination_stages(SPARK)
    sp = run_stages(views, st, fin).toPandas()
    assert len(sp) > 0
    assert (sp["eval_id"] % 17 == 0).all()
    assert (sp["train_id"] % 17 != 0).all()
    assert (sp["shared_grams"] >= 100).all()
    assert (sp["shared_grams"] <= sp[["train_grams", "eval_grams"]]
            .min(axis=1)).all()


def test_contamination_train_df_cap_drops_ubiquitous_grams(spark):
    """the symmetric skew guard: a gram present in more train docs than
    max_train_gram_df is excluded from the overlap join on BOTH engines —
    a planted boilerplate string shared by every train doc must not
    produce contamination pairs once the cap triggers, and must when the
    cap is above the train df."""
    import duckdb
    from snappy_aqp_spark.pipeline.contamination import contamination_stages
    from snappy_aqp_spark.pipeline.dual import stages_sql
    boiler = "the quick brown fox jumps over the lazy dog again and again"
    rows = [(i, boiler + f" unique filler {i} " * 3) for i in range(1, 6)]
    rows.append((17, boiler + " eval side text"))
    spark.createDataFrame(rows, "doc_id long, text string") \
        .createOrReplaceTempView("cap_docs")
    con = duckdb.connect()
    con.sql("CREATE TABLE cap_docs(doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO cap_docs VALUES (?, ?)", rows)
    for cap, expect_pairs in ((2, 0), (1000, 5)):
        st, fin = contamination_stages(SPARK, k=7, min_shared=10,
                                       table="cap_docs",
                                       max_train_gram_df=cap)
        sp = run_stages(spark, st, fin).toPandas()
        assert len(sp) == expect_pairs, (cap, len(sp))
        st_d, fin_d = contamination_stages(DUCKDB, k=7, min_shared=10,
                                           table="cap_docs",
                                           max_train_gram_df=cap)
        dk = con.sql(stages_sql(st_d, fin_d)).df()
        assert len(dk) == expect_pairs, (cap, len(dk))


def test_join_cardinality_matches_actual_join(views):
    from snappy_aqp_spark.pipeline.diagnostics import join_cardinality_stages
    st, fin = join_cardinality_stages(SPARK)
    r = run_stages(views, st, fin).first()
    actual = views.sql(
        "SELECT COUNT(*) AS n FROM lineitem JOIN orders "
        "ON l_orderkey = o_orderkey").first()["n"]
    assert r["join_rows"] == actual
    assert r["max_key_output"] <= r["join_rows"]
    assert r["left_rows"] == views.table("lineitem").count()


def test_skew_report_shares(views):
    from snappy_aqp_spark.pipeline.diagnostics import skew_report_stages
    st, fin = skew_report_stages(SPARK, top=5)
    sp = run_stages(views, st, fin).toPandas()
    assert len(sp) == 5
    assert (sp["n"].diff().dropna() <= 0).all()      # descending
    total = views.table("events").count()
    assert (sp["share_bp"] == sp["n"] * 10000 // total).all()


def test_histogram_floor_bins_negative_values(spark, duck):
    """negative values must land in the bin whose [lo, hi) contains them
    (floor division, not truncation) — identically in both engines."""
    from snappy_aqp_spark.pipeline.histogram import histogram_stages
    spark.sql("SELECT * FROM VALUES (-250), (-150), (-1), (0), (150), (250) "
              "AS t(v)").createOrReplaceTempView("neg_vals")
    duck.sql("CREATE OR REPLACE VIEW neg_vals AS "
             "SELECT * FROM (VALUES (-250), (-150), (-1), (0), (150), (250)) "
             "t(v)")
    st, fin = histogram_stages(SPARK, col="v", width=200, table="neg_vals")
    sp = run_stages(spark, st, fin).toPandas()
    st2, fin2 = histogram_stages(DUCKDB, col="v", width=200, table="neg_vals")
    compare_frames(run_stages(spark, st, fin), duck.sql(stages_sql(st2, fin2)))
    by_bin = dict(zip(sp["bin"], sp["n"]))
    assert by_bin[-2] == 1            # -250 in [-400, -200)
    assert by_bin[-1] == 2            # -150, -1 in [-200, 0)
    assert by_bin[0] == 2             # 0, 150 in [0, 200)
    assert by_bin[1] == 1             # 250 in [200, 400)


def test_temporal_plan_shapes(views):
    """lock the scale-critical plan properties: as-of = ONE hash exchange
    (union+window merge-join), range join contains NO nested-loop join,
    bloom's only nested-loop join is the 1-row packed-filter broadcast."""
    import re
    from snappy_aqp_spark.pipeline.bloom import bloom_semi_join_stages
    from snappy_aqp_spark.pipeline.temporal import (asof_join_stages,
                                                    range_join_stages)

    def plan_of(st, fin):
        return run_stages(views, st, fin)._jdf.queryExecution() \
            .executedPlan().toString()

    p = plan_of(*asof_join_stages(SPARK))
    assert len(re.findall(r"Exchange hashpartitioning", p)) == 1, p
    assert "BroadcastNestedLoopJoin" not in p

    p = plan_of(*range_join_stages(SPARK))
    assert "BroadcastNestedLoopJoin" not in p

    p = plan_of(*bloom_semi_join_stages(SPARK))
    assert p.count("BroadcastNestedLoopJoin") <= 1   # the 1-row constant


def test_quantiles_exclude_null_measures_and_groups(spark, duck):
    """NULL measures rank NULLS FIRST on Spark but NULLS LAST on DuckDB —
    the sampler must exclude them (and NULL groups) up front; both
    engines then agree and bounds are never NULL."""
    from snappy_aqp_spark.pipeline.quantiles import (grouped_quantile_stages,
                                                     uniform_quantile_stages)
    spark.sql("SELECT * FROM VALUES (1, 10.0, 'a'), (2, 2.0, 'a'), "
              "(3, CAST(NULL AS DOUBLE), 'a'), (4, 7.0, NULL) "
              "AS t(k, v, g)").createOrReplaceTempView("nullq")
    duck.sql("CREATE OR REPLACE VIEW nullq AS SELECT * FROM (VALUES "
             "(1, 10.0, 'a'), (2, 2.0, 'a'), (3, CAST(NULL AS DOUBLE), 'a'), "
             "(4, 7.0, NULL)) t(k, v, g)")
    kw = dict(col="v", key_cols=("k",), table="nullq", qs=(0.5,),
              fraction=1.0)
    st, fin = uniform_quantile_stages(SPARK, **kw)
    sp = run_stages(spark, st, fin).toPandas()
    assert sp["n_sample"].iloc[0] == 3          # NULL measure excluded
    assert sp.notna().all().all()
    st2, fin2 = uniform_quantile_stages(DUCKDB, **kw)
    compare_frames(run_stages(spark, st, fin), duck.sql(stages_sql(st2, fin2)))
    st, fin = grouped_quantile_stages(SPARK, group_by="g", **kw)
    gp = run_stages(spark, st, fin).toPandas()
    assert list(gp["stratum"]) == ["a"]          # NULL group excluded
    assert gp["n_sample"].iloc[0] == 2


def test_funnel_matches_brute_force(views):
    """the conditional-MIN cascade equals the brute-force ordered-triple
    definition, and stage counts are monotone non-increasing."""
    from snappy_aqp_spark.pipeline.funnel import funnel_stages
    st, fin = funnel_stages(SPARK, within_days=2)
    got = {r.stage: r.n_users for r in run_stages(views, st, fin).collect()}
    assert got[1] >= got[2] >= got[3]
    assert got[2] > got[3] > 0           # discriminating on this corpus
    brute = views.sql("""
        WITH s AS (SELECT user_id, MIN(ts) AS t1 FROM events
                   WHERE event_type = 'signup' GROUP BY user_id)
        SELECT COUNT(DISTINCT s.user_id) AS n FROM s
        JOIN events c ON c.user_id = s.user_id AND c.event_type = 'click'
          AND c.ts >= s.t1
          AND timestampdiff(MICROSECOND, s.t1, c.ts) < 172800000000
        JOIN events p ON p.user_id = s.user_id AND p.event_type = 'purchase'
          AND p.ts >= c.ts
          AND timestampdiff(MICROSECOND, s.t1, p.ts) < 172800000000
    """).first()["n"]
    assert got[3] == brute


def test_cohort_retention_invariants(views):
    from snappy_aqp_spark.pipeline.funnel import cohort_retention_stages
    st, fin = cohort_retention_stages(SPARK)
    sp = run_stages(views, st, fin).toPandas()
    for _, g in sp.groupby("cohort_period"):
        g = g.sort_values("period_offset")
        assert g["period_offset"].iloc[0] == 0
        assert g["n_active"].iloc[0] == g["cohort_size"].iloc[0]
        assert (g["n_active"] <= g["cohort_size"]).all()


def test_leakage_safe_split_keeps_clusters_together(views, duck):
    """every near-dup pair shares a split (no train/test contamination),
    and the result matches the recursive-CTE + hash-case oracle."""
    from snappy_aqp_spark.pipeline import dedup
    from snappy_aqp_spark.pipeline.clusters import (
        leakage_safe_split, leakage_safe_split_oracle_sql)
    sp = leakage_safe_split(views)
    compare_frames(sp, duck.sql(leakage_safe_split_oracle_sql()))
    split_of = {r.doc_id: r.split for r in sp.collect()}
    st, fin = dedup.minhash_lsh_stages(SPARK, threshold=0.5, k=7)
    pairs = [(r.ida, r.idb) for r in run_stages(views, st, fin).collect()]
    assert pairs
    for a, b in pairs:
        assert split_of[a] == split_of[b], (a, b)
    assert len(set(split_of.values())) == 3      # all three splits used


def test_sequence_pack_invariants(views):
    """segments partition every document's token span; every sequence
    except the stream's last is exactly seq_len tokens; a document's
    segments are contiguous across consecutive sequences."""
    from snappy_aqp_spark.pipeline.packing import sequence_pack_stages
    L = 128
    st, fin = sequence_pack_stages(SPARK, seq_len=L)
    rows = run_stages(views, st, fin).toPandas()
    ntok = {r.doc_id: r.n for r in views.sql(
        "SELECT doc_id, CAST(length(text) - length(replace(text, ' ', '')) "
        "+ 1 AS BIGINT) AS n FROM documents").collect()}
    # per document: segment doc_tok_start ranges tile [0, doc_ntok)
    for doc_id, g in rows.groupby("doc_id"):
        g = g.sort_values("seq_id")
        assert g["doc_ntok"].iloc[0] == ntok[doc_id]
        assert g["doc_tok_start"].iloc[0] == 0
        assert (g["doc_tok_start"] + g["n_tok"]).iloc[-1] == ntok[doc_id]
        assert ((g["doc_tok_start"] + g["n_tok"]).iloc[:-1].values
                == g["doc_tok_start"].iloc[1:].values).all()
        # doc spans CONSECUTIVE sequences
        assert (g["seq_id"].diff().dropna() == 1).all()
    # per sequence: full except the last
    per_seq = rows.groupby("seq_id")["n_tok"].sum()
    assert (per_seq.iloc[:-1] == L).all()
    assert 0 < per_seq.iloc[-1] <= L
    # multi-doc sequences and multi-sequence docs both exercised
    assert (rows.groupby("seq_id").size() > 1).any()
    assert (rows.groupby("doc_id").size() > 1).any()


def test_mixture_resample_hits_target_shares(views):
    """quotas realize the requested mixture exactly (up to the integer
    floor), never upsample, and the pick is deterministic."""
    from snappy_aqp_spark.pipeline.packing import mixture_resample_stages
    targets = {"src0": 3000, "src1": 3000, "src2": 2000,
               "src3": 1000, "src4": 1000}
    st, fin = mixture_resample_stages(SPARK, targets=targets)
    rows = run_stages(views, st, fin).toPandas()
    counts = {r.source: r.n for r in views.sql(
        "SELECT source, COUNT(*) AS n FROM documents "
        "GROUP BY source").collect()}
    t = min(counts[s] * 10000 // bp for s, bp in targets.items())
    got = rows.groupby("source").size().to_dict()
    for s, bp in targets.items():
        assert got.get(s, 0) == bp * t // 10000, s
        assert got.get(s, 0) <= counts[s]            # never upsampled
    assert set(got) <= set(targets)                  # others dropped
    # upweight rational is exact: n_source / quota
    for _, r in rows.iterrows():
        assert r.up_num == counts[r.source] and r.up_den == got[r.source]
    again = run_stages(views, st, fin).toPandas()
    assert rows.equals(again)


def test_repetition_signals_on_crafted_docs(spark):
    """hand-computable documents pin the three signals."""
    from snappy_aqp_spark.pipeline.packing import default_ntok_sql  # noqa: F401
    from snappy_aqp_spark.pipeline.repetition import repetition_signals_stages
    docs = [
        (1, "spam spam spam spam"),           # all dup words, one bigram
        (2, "a b c d"),                       # no repetition at all
        (3, "x y x y x y"),                   # alternating pair
        (4, "one"),                           # shorter than any gram
        (5, ""),                              # empty
    ]
    spark.createDataFrame(docs, "doc_id long, text string") \
        .createOrReplaceTempView("__rep_docs")
    st, fin = repetition_signals_stages(SPARK, table="__rep_docs")
    got = {r.doc_id: r for r in run_stages(spark, st, fin).collect()}
    r1 = got[1]       # 4 words, all dup; top bigram 'spam spam' x3 of 3
    assert (r1.n_words, r1.n_distinct_words) == (4, 1)
    assert r1.dup_word_bp == 10000
    assert r1.top_bigram_bp == 3 * 2 * 10000 // 4
    assert r1.dup_trigram_bp == 10000         # 'spam spam spam' x2 of 2
    r2 = got[2]
    assert (r2.dup_word_bp, r2.top_bigram_bp, r2.dup_trigram_bp) == \
        (0, 1 * 2 * 10000 // 4, 0)            # unique bigrams: top count 1
    r3 = got[3]       # 6 words: x*3 y*3; 'x y' x3, 'y x' x2 of 5 bigrams
    assert r3.dup_word_bp == 10000
    assert r3.top_bigram_bp == 3 * 2 * 10000 // 6
    assert r3.dup_trigram_bp == 10000         # both trigrams repeat
    r4 = got[4]
    assert (r4.n_words, r4.top_bigram_bp, r4.dup_trigram_bp) == (1, 0, 0)
    r5 = got[5]
    assert (r5.n_words, r5.n_distinct_words, r5.dup_word_bp) == (0, 0, 0)


def test_duplicate_spans_on_crafted_docs(spark):
    """a planted shared passage is found as one maximal span in both
    documents; unique text yields no rows; within-doc repetition counts."""
    from snappy_aqp_spark.pipeline.spans import duplicate_spans_stages
    passage = "alpha beta gamma delta epsilon zeta eta"      # 7 tokens
    docs = [
        (1, f"one two three {passage} four five"),           # span at tok 3
        (2, f"{passage} six seven eight nine ten"),          # span at tok 0
        (3, "unique words only here nothing shared at all"),
        (4, "rep rep rep rep rep rep rep rep"),              # 8x within-doc
        (5, "tiny doc"),                                     # < k tokens
    ]
    spark.createDataFrame(docs, "doc_id long, text string") \
        .createOrReplaceTempView("__span_docs")
    st, fin = duplicate_spans_stages(SPARK, k=5, table="__span_docs")
    rows = run_stages(spark, st, fin).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(r)
    # the shared passage: 7 tokens -> 3 dup 5-gram positions, one run
    (s1,) = by_doc[1]
    assert (s1.tok_start, s1.span_ntok, s1.n_dup_grams) == (3, 7, 3)
    (s2,) = by_doc[2]
    assert (s2.tok_start, s2.span_ntok, s2.n_dup_grams) == (0, 7, 3)
    assert 3 not in by_doc and 5 not in by_doc
    # within-document repetition: all 4 gram positions duplicated
    (s4,) = by_doc[4]
    assert (s4.tok_start, s4.span_ntok, s4.n_dup_grams) == (0, 8, 4)


def test_duplicate_spans_invariants(views, duck):
    """span arithmetic holds and spans are disjoint, maximal runs; the
    DuckDB replay is bit-identical on the real corpus."""
    from snappy_aqp_spark.pipeline.spans import duplicate_spans_stages
    st, fin = duplicate_spans_stages(SPARK, k=5)
    sp_df = run_stages(views, st, fin)
    std, find = duplicate_spans_stages(DUCKDB, k=5)
    dk = duck.sql(stages_sql(std, find)).df()
    sp = sp_df.toPandas()
    assert len(sp) > 0
    compare_frames(sp_df, dk)
    assert (sp.span_ntok == sp.n_dup_grams + 4).all()
    for doc_id, g in sp.groupby("doc_id"):
        g = g.sort_values("tok_start")
        ends = g.tok_start + g.span_ntok
        # disjoint AND maximal: next span starts strictly after this span's
        # last covered gram position (a touching span would have merged)
        assert (g.tok_start.iloc[1:].values > ends.iloc[:-1].values - 4).all()


def test_cross_corpus_dedup_statuses(spark):
    """all three tiers classify correctly; within-batch duplicates stay
    'unique' (incremental dedup screens against the corpus only)."""
    from snappy_aqp_spark.pipeline.incremental import cross_corpus_dedup_stages
    base = ("alpha beta gamma delta epsilon zeta eta theta iota kappa "
            "lam mu nu xi omicron pi rho sigma tau upsilon")
    docs = [
        # corpus side
        (1, base, "old"),
        (2, "completely different corpus text about other things entirely "
            "with many words not shared", "old"),
        # new side
        (10, base, "new"),                                   # exact dup of 1
        (11, base + " extra trailing words appended here", "new"),  # near 1
        (12, "novel content nothing like anything else in this tiny "
             "corpus at all whatsoever", "new"),             # unique
        (13, "novel content nothing like anything else in this tiny "
             "corpus at all whatsoever", "new"),             # within-batch dup
    ]
    spark.createDataFrame(docs, "doc_id long, text string, source string") \
        .createOrReplaceTempView("__inc_docs")
    st, fin = cross_corpus_dedup_stages(
        SPARK, new_pred="source = 'new'", threshold=0.3, k=5,
        table="__inc_docs")
    got = {r.doc_id: r for r in run_stages(spark, st, fin).collect()}
    assert set(got) == {10, 11, 12, 13}
    assert (got[10].status, got[10].match_id, got[10].jaccard) == \
        ("exact", 1, 1.0)
    assert (got[11].status, got[11].match_id) == ("near", 1)
    assert 0.3 <= got[11].jaccard < 1.0
    assert (got[12].status, got[12].match_id) == ("unique", None)
    # 12 and 13 are byte-identical but both in the batch -> both unique
    assert got[13].status == "unique"


def test_cross_corpus_dedup_matches_oracle_and_is_asymmetric(views, duck):
    """DuckDB replay is bit-identical on the real corpus; near matches
    agree with the symmetric pair detector restricted to cross pairs."""
    from snappy_aqp_spark.pipeline.dedup import minhash_lsh_stages
    from snappy_aqp_spark.pipeline.incremental import cross_corpus_dedup_stages
    pred = "source IN ('src18', 'src19')"
    st, fin = cross_corpus_dedup_stages(SPARK, new_pred=pred, threshold=0.5)
    sp_df = run_stages(views, st, fin)
    std, find = cross_corpus_dedup_stages(DUCKDB, new_pred=pred,
                                          threshold=0.5)
    compare_frames(sp_df, duck.sql(stages_sql(std, find)).df())
    got = {r.doc_id: r for r in sp_df.collect()}
    # every near match must appear in the symmetric detector's pairs
    ps, pf = minhash_lsh_stages(SPARK, threshold=0.5)
    pairs = {(r.ida, r.idb) for r in run_stages(views, ps, pf).collect()}
    near = {d: r.match_id for d, r in got.items() if r.status == "near"}
    assert near, "fixture should exercise the near tier"
    for d, m in near.items():
        assert (min(d, m), max(d, m)) in pairs, (d, m)


def test_cross_corpus_verify_budget_is_semantics_free_at_fixture_scale(
        views, duck):
    """round-8 VERDICT #4: the per-new-doc verify budget (top-C candidates
    by band agreement) must leave fixture-scale semantics untouched —
    the fixtures' explicit cap (24, snappy_aqp_spark/fixtures.py) ==
    uncapped (None, the public default since round-9 ADVICE) row-for-row
    — and the capped form must still replay bit-exactly on DuckDB. The
    cap exists for pathological duplication DENSITY (100-way families in
    the 100x stress), not for these corpora."""
    from snappy_aqp_spark.pipeline.incremental import \
        cross_corpus_dedup_stages
    pred = "source IN ('src18', 'src19')"
    st_c, fin_c = cross_corpus_dedup_stages(SPARK, new_pred=pred,
                                            threshold=0.5,
                                            max_candidates_per_doc=24)
    st_u, fin_u = cross_corpus_dedup_stages(SPARK, new_pred=pred,
                                            threshold=0.5,
                                            max_candidates_per_doc=None)
    import pandas.testing as pdt
    capped = run_stages(views, st_c, fin_c).toPandas()
    uncapped = run_stages(views, st_u, fin_u).toPandas()
    pdt.assert_frame_equal(capped, uncapped)     # NaN-aware row equality
    # a tight budget IS allowed to change matches but must stay
    # deterministic and engine-identical
    st_d, fin_d = cross_corpus_dedup_stages(DUCKDB, new_pred=pred,
                                            threshold=0.5,
                                            max_candidates_per_doc=1)
    st_1, fin_1 = cross_corpus_dedup_stages(SPARK, new_pred=pred,
                                            threshold=0.5,
                                            max_candidates_per_doc=1)
    compare_frames(run_stages(views, st_1, fin_1),
                   duck.sql(stages_sql(st_d, fin_d)).df())


def _over_budget_family():
    """(docs, C): a duplicate family larger than the verify budget C
    where every candidate ties on band agreement (nb=1) and the ONLY
    >= threshold corpus match has the LARGEST doc_id, so the
    deterministic (nb DESC, idc ASC) rank places it just past the
    budget. Corpus docs 1..6 are supersets of the new doc's text diluted
    below threshold by long distinct junk tails (their junk steals most
    band minima -> nb=1); doc 50 replaces a 9-token window of the base
    (jaccard 0.618 >= 0.5 but only one agreeing band). Hash-determined
    and frozen: no RNG anywhere in the lineage."""
    base_toks = [f"tok{i:03d}" for i in range(40)]
    base = " ".join(base_toks)
    docs = [(j + 1,
             base + " " + " ".join(f"junk{j}x{i:03d}" for i in range(60)),
             "old") for j in range(6)]
    repl = set(range(5, 14))
    docs.append((50, " ".join(f"new{i:03d}" if i in repl else t
                              for i, t in enumerate(base_toks)), "old"))
    docs.append((100, base, "new"))
    return docs, 4


def test_cross_corpus_over_budget_family_flips_to_unique(spark, duck):
    """round-9 VERDICT #3: the documented top-C recall trade, pinned on
    an adversarial >C-way candidate family — under the budget the true
    near-duplicate's rank falls past C, so the new doc classifies
    'unique'; uncapped it classifies 'near'. Both engines replay the
    capped form bit-exactly (the trade is deterministic, not a
    heuristic), and the cap REPORT quantifies exactly what was dropped —
    the no-silent-caps observability half of the contract."""
    from snappy_aqp_spark.pipeline.incremental import (
        cross_corpus_cap_report_stages, cross_corpus_dedup_stages)
    docs, C = _over_budget_family()
    spark.createDataFrame(docs, "doc_id long, text string, source string") \
        .createOrReplaceTempView("__obf_docs")
    duck.sql("CREATE OR REPLACE TABLE __obf_docs AS SELECT * FROM (VALUES "
             + ", ".join(f"({d}, '{t}', '{s}')" for d, t, s in docs)
             + ") v(doc_id, text, source)")
    kw = dict(new_pred="source = 'new'", threshold=0.5,
              table="__obf_docs")
    try:
        st_u, fin_u = cross_corpus_dedup_stages(SPARK, **kw)
        row = run_stages(spark, st_u, fin_u).collect()[0]
        assert (row.status, row.match_id) == ("near", 50)   # uncapped
        st_c, fin_c = cross_corpus_dedup_stages(
            SPARK, max_candidates_per_doc=C, **kw)
        capped_df = run_stages(spark, st_c, fin_c)
        row = capped_df.collect()[0]
        assert (row.status, row.match_id) == ("unique", None)  # the trade
        std, find = cross_corpus_dedup_stages(
            DUCKDB, max_candidates_per_doc=C, **kw)
        compare_frames(capped_df, duck.sql(stages_sql(std, find)).df())
        # observability: the report counts the dropped candidate on BOTH
        # engines (1 of 5 candidates past the budget, 1 new doc affected)
        rp_s, rp_f = cross_corpus_cap_report_stages(
            SPARK, max_candidates_per_doc=C, **kw)
        rep = run_stages(spark, rp_s, rp_f).collect()[0]
        assert (rep.capped_candidates, rep.affected_new_docs,
                rep.total_candidates) == (1, 1, 5)
        rp_d, rp_df = cross_corpus_cap_report_stages(
            DUCKDB, max_candidates_per_doc=C, **kw)
        assert duck.sql(stages_sql(rp_d, rp_df)).fetchone() == (1, 1, 5)
        # a report of an uncapped run is meaningless — must raise, not
        # interpolate 'rk > None' into the SQL
        with pytest.raises(ValueError, match="finite"):
            cross_corpus_cap_report_stages(
                SPARK, max_candidates_per_doc=None, **kw)
    finally:
        duck.sql("DROP TABLE IF EXISTS __obf_docs")
        spark.catalog.dropTempView("__obf_docs")


def test_cross_corpus_cap_report_clean_at_fixture_scale(views, duck):
    """the fixtures' explicit budget (24) drops NOTHING on the real
    corpus — the observable counterpart of the capped==uncapped equality
    above (a zero report is what LICENSES the fixture cap), and the
    report itself replays bit-exactly."""
    from snappy_aqp_spark.pipeline.incremental import (
        cross_corpus_cap_report_stages)
    kw = dict(new_pred="source IN ('src18', 'src19')", threshold=0.5,
              max_candidates_per_doc=24)
    st, fin = cross_corpus_cap_report_stages(SPARK, **kw)
    rep = run_stages(views, st, fin).collect()[0]
    assert rep.capped_candidates == 0 and rep.affected_new_docs == 0
    assert rep.total_candidates > 0
    std, find = cross_corpus_cap_report_stages(DUCKDB, **kw)
    assert duck.sql(stages_sql(std, find)).fetchone() == (
        0, 0, rep.total_candidates)


def test_bm25_retrieval_matches_reference_scoring(spark):
    """a from-scratch Python reimplementation of the integer BM25 formula
    reproduces every (query, doc, score) row; ranking prefers rare shared
    terms over common ones."""
    import re as _re
    from collections import Counter
    from snappy_aqp_spark.pipeline.retrieval import bm25_topk_stages, K1_C, B_C
    docs = [
        (1, "zephyr quark boson lepton hadron"),            # query doc
        (10, "zephyr appears here once among other words"), # rare term hit
        (11, "quark boson quark boson quark boson"),        # multi rare hits
        (12, "common words only appear here and there"),
        (13, "other words appear once more and again"),
        (14, "zephyr quark boson lepton hadron"),           # identical to q
    ]
    spark.createDataFrame(docs, "doc_id long, text string") \
        .createOrReplaceTempView("__bm_docs")
    st, fin = bm25_topk_stages(SPARK, query_pred="doc_id = 1", topk=10,
                               table="__bm_docs")
    got = {(r.qid, r.doc_id): (r.rank, r.score_bp)
           for r in run_stages(spark, st, fin).collect()}

    # corpus statistics over the WHOLE indexed table (standard BM25 — the
    # index is query-independent); query docs are excluded from RESULTS
    toks = {d: [t for t in _re.split(r"[^a-z0-9]+", txt.lower()) if t]
            for d, txt in docs}
    qterms = set(t for t in _re.split(
        r"[^a-z0-9]+", docs[0][1].lower()) if t)
    tf = {d: Counter(ts) for d, ts in toks.items()}
    dl = {d: len(ts) for d, ts in toks.items()}
    n_docs, tot = len(toks), sum(dl.values())
    df = Counter(t for d in toks for t in set(toks[d]))
    corpus = {d: ts for d, ts in toks.items() if d != 1}
    expect = {}
    for d in corpus:
        s = 0
        for t in qterms & set(tf[d]):
            idf_bp = (n_docs - df[t]) * 10000 // df[t]
            norm = 10000 - B_C * 100 + (B_C * 100 * dl[d] * n_docs) // tot
            sat = (tf[d][t] * (100 + K1_C) * 100 * 10000) // \
                (tf[d][t] * 10000 + (K1_C * norm) // 100)
            s += idf_bp * sat
        if s > 0:
            expect[d] = s
    assert {d: s for (_, d), (_, s) in got.items()} == expect
    # the identical doc wins; the multi-rare-term doc beats the single hit
    ranks = {d: rk for (_, d), (rk, _) in got.items()}
    assert ranks[14] == 1
    assert ranks[11] < ranks[10]
    assert 12 not in ranks            # shares no query term


def test_token_stats_on_crafted_docs(spark, duck):
    """punctuation, contractions, and digits separate the three counters;
    both engines agree on the crafted strings too."""
    from snappy_aqp_spark.pipeline.text import token_stats_stages
    docs = [
        (1, "It's 42 well-known cases, don't you think?"),
        (2, "hello world"),
        (3, ""),
        (4, "a-b-c"),
    ]
    spark.createDataFrame(docs, "doc_id long, text string") \
        .createOrReplaceTempView("__tok_docs")
    st, fin = token_stats_stages(SPARK, table="__tok_docs")
    got = {r.doc_id: r for r in run_stages(spark, st, fin).collect()}
    # "It's 42 well-known cases, don't you think?"
    #   ws: 7 space-runs; alnum: it s 42 well known cases don t you think=10
    #   bpe: it 's 42 well - known cases , don 't you think ? = 13
    assert (got[1].n_ws_tokens, got[1].n_alnum_tokens,
            got[1].n_bpe_tokens) == (7, 10, 13)
    assert (got[2].n_ws_tokens, got[2].n_alnum_tokens,
            got[2].n_bpe_tokens) == (2, 2, 2)
    assert (got[3].n_ws_tokens, got[3].n_alnum_tokens,
            got[3].n_bpe_tokens) == (0, 0, 0)
    assert (got[4].n_ws_tokens, got[4].n_alnum_tokens,
            got[4].n_bpe_tokens) == (1, 3, 5)
    duck.sql("CREATE OR REPLACE TABLE __tok_docs AS SELECT * FROM (VALUES "
             "(1, 'It''s 42 well-known cases, don''t you think?'), "
             "(2, 'hello world'), (3, ''), (4, 'a-b-c')) t(doc_id, text)")
    std, find = token_stats_stages(DUCKDB, table="__tok_docs")
    dk = {int(r.doc_id): r
          for _, r in duck.sql(stages_sql(std, find)).df().iterrows()}
    for d in (1, 2, 3, 4):
        assert (dk[d].n_ws_tokens, dk[d].n_alnum_tokens,
                dk[d].n_bpe_tokens) == \
            (got[d].n_ws_tokens, got[d].n_alnum_tokens, got[d].n_bpe_tokens)


def test_lm_surprise_on_crafted_docs(spark, duck):
    """formulaic transitions score 0 bits; a one-off transition out of a
    frequent left word scores blog(c_uni) - blog(1) bits."""
    from snappy_aqp_spark.pipeline.lm import lm_surprise_stages
    # corpus: 'a b' appears 8x (docs 1-2), 'a z' once (doc 3)
    docs = [
        (1, "a b a b a b a b"),
        (2, "a b a b a b a b"),
        (3, "a z"),
        (4, "q"),                            # < 2 tokens -> zero row
    ]
    for eng in ("spark", "duck"):
        if eng == "spark":
            spark.createDataFrame(docs, "doc_id long, text string") \
                .createOrReplaceTempView("documents")
            st, fin = lm_surprise_stages("spark")
            rows = {r.doc_id: r for r in run_stages(spark, st, fin).collect()}
        else:
            import pandas as pd
            duck.register("documents",
                          pd.DataFrame(docs, columns=["doc_id", "text"]))
            st, fin = lm_surprise_stages("duckdb")
            out = duck.sql(stages_sql(st, fin)).df()
            rows = {int(r.doc_id): r for _, r in out.iterrows()}
        # corpus stats: c(a)=9, c(b)=8, c('a b')=8, c('b a')=6, c('a z')=1
        # doc1: 4x 'a b' (blog9-blog8=0) + 3x 'b a' (blog8-blog6=1) -> 3
        assert rows[1].surprise_bits == 3 and rows[1].n_bigrams == 7
        # doc3: 'a z': blog(9)-blog(1) = 3 - 0 = 3
        assert rows[3].surprise_bits == 3 and rows[3].n_bigrams == 1
        # avg: doc3 3 bits/1 pos = 30000bp >> doc1 3/7 = 4285bp
        assert rows[3].avg_surprise_bp > rows[1].avg_surprise_bp
        assert rows[4].n_bigrams == 0 and rows[4].surprise_bits == 0
        if eng == "duck":
            # a registered python object SHADOWS the catalog view for
            # every later test on the shared session-scoped connection
            duck.unregister("documents")
        duck_done = eng == "duck"
    assert duck_done


def test_dsir_select_prefers_target_like_docs(spark):
    """a document written in the target domain's vocabulary outranks one
    written in the background vocabulary."""
    from snappy_aqp_spark.pipeline.lm import dsir_select_stages
    target = [(i, "alpha beta gamma alpha beta", "tgt") for i in range(20)]
    like = [(100, "alpha beta alpha beta", "other")]
    unlike = [(101, "zeta eta theta zeta", "other")]
    mid = [(102, "alpha zeta beta eta", "other")]
    docs = target + like + unlike + mid
    spark.createDataFrame(docs, "doc_id long, text string, source string") \
        .createOrReplaceTempView("documents")
    st, fin = dsir_select_stages("spark", target_source="tgt", k=3)
    rows = run_stages(spark, st, fin).collect()
    assert [r.doc_id for r in rows] == [100, 102, 101]
    assert rows[0].weight_bits > rows[1].weight_bits > rows[2].weight_bits
    assert rows[0].rank == 1
    # target docs never selected
    assert all(r.source == "other" for r in rows)


def test_hard_negative_mining_excludes_dups_and_ranks(views, duck):
    """hard negatives are the most-similar NON-near-dup items: planted
    near-dups (cos ~ 0.997) never appear, every mined negative is below
    the dup threshold, and within the LSH candidate set the ranking
    equals the brute-force cosine order."""
    from snappy_aqp_spark.pipeline.similarity import (
        hard_negative_mining_stages, near_dup_pairs_stages)
    st, fin = hard_negative_mining_stages("spark", dup_threshold=0.9, k=3)
    mined = run_stages(views, st, fin).toPandas()
    assert (mined["cos"] < 0.9).all()
    # planted near-dup pairs are exactly the exclusions
    st2, f2 = near_dup_pairs_stages("spark", threshold=0.9)
    dups = {(r.ida, r.idb) for r in run_stages(views, st2, f2).collect()}
    mined_pairs = {(min(r.qid, r.vid), max(r.qid, r.vid))
                   for r in mined.itertuples()}
    assert not (mined_pairs & dups)
    # per query: ranks are 1..k with non-increasing cosine
    for qid, grp in mined.groupby("qid"):
        g = grp.sort_values("rank")
        assert list(g["rank"]) == list(range(1, len(g) + 1))
        assert (g["cos"].diff().dropna() <= 1e-12).all()


def test_semantic_dedup_drops_one_per_planted_pair(views):
    """SemDeDup contract on the planted corpus: each (original, planted
    near-dup) pair (cos ~ 0.997 >> eps=0.95) loses EXACTLY one member, and
    no un-planted vector is dropped (random background max cos ~ 0.6)."""
    from snappy_aqp_spark.pipeline import similarity
    st, fin = similarity.semantic_dedup_stages(SPARK, eps=0.95)
    rows = run_stages(views, st, fin).collect()
    kept = {r.vec_id for r in rows if r.kept == 1}
    dropped = {r.vec_id for r in rows if r.kept == 0}
    planted = {r.vec_id - 10_000_000 for r in rows
               if r.vec_id >= 10_000_000}
    assert planted
    for src in planted:
        # one survivor per pair — unless k-means split the pair across
        # clusters, in which case both survive (the paper's known recall
        # cost); NEVER both dropped
        assert not (src in dropped and src + 10_000_000 in dropped)
    # every dropped vector belongs to a planted pair
    for d in dropped:
        assert d in planted or d - 10_000_000 in planted
    # pairs co-located in one cluster lose exactly one member
    cid = {r.vec_id: r.cid for r in rows}
    colocated = [s for s in planted if cid[s] == cid[s + 10_000_000]]
    assert colocated, "planted pairs should mostly share a cluster"
    for s in colocated:
        assert (s in dropped) != (s + 10_000_000 in dropped)


def test_gopher_quality_rule_semantics(views):
    """Gopher-rule invariants: keep == AND of all flags; word-count flag
    agrees with n_words; the drop branch fires on this corpus."""
    views.read.parquet(f"{SF_SMALL}/documents.parquet") \
        .createOrReplaceTempView("documents")   # earlier tests clobber it
    from snappy_aqp_spark.fixtures import PIPELINE_FIXTURES
    fx = PIPELINE_FIXTURES["gopher_quality"]
    st, fin = fx["builder"](SPARK, **fx["kw"])
    rows = run_stages(views, st, fin).collect()
    assert rows and any(r.keep == 0 for r in rows) \
        and any(r.keep == 1 for r in rows)
    for r in rows:
        flags = [r.ok_word_count, r.ok_mean_word_len, r.ok_symbol_ratio,
                 r.ok_bullet_lines, r.ok_ellipsis_lines, r.ok_alpha_words,
                 r.ok_stopwords]
        assert r.keep == int(all(flags))
        assert r.ok_word_count == int(20 <= r.n_words <= 100_000)


def test_c4_filters_injection_semantics(views):
    """C4-rule invariants on the injected corpus: %4=1 docs carry braces
    (ok_no_braces=0), %4=2 docs hit the blocklist, %4=0 docs end with a
    terminal period; keep == AND of flags, and some docs survive."""
    views.read.parquet(f"{SF_SMALL}/documents.parquet") \
        .createOrReplaceTempView("documents")   # earlier tests clobber it
    from snappy_aqp_spark.fixtures import PIPELINE_FIXTURES
    fx = PIPELINE_FIXTURES["c4_filters"]
    st, fin = fx["builder"](SPARK, **fx["kw"])
    rows = run_stages(views, st, fin).collect()
    assert any(r.keep == 1 for r in rows)
    for r in rows:
        flags = [r.ok_min_sentences, r.ok_terminal_punct, r.ok_no_braces,
                 r.ok_blocklist]
        assert r.keep == int(all(flags))
        if r.doc_id % 4 == 1:
            assert r.ok_no_braces == 0
        if r.doc_id % 4 == 2:
            assert r.ok_blocklist == 0
        if r.doc_id % 4 == 0:
            assert r.ok_terminal_punct == 1


def test_bpe_pair_counts_semantics(views, duck):
    """BPE pair counts: rank is dense over DESC counts; the top pair's
    count equals a direct python recount on the corpus."""
    views.read.parquet(f"{SF_SMALL}/documents.parquet") \
        .createOrReplaceTempView("documents")   # earlier tests clobber it
    from snappy_aqp_spark.fixtures import PIPELINE_FIXTURES
    import re as _re
    from collections import Counter
    fx = PIPELINE_FIXTURES["bpe_pair_counts"]
    st, fin = fx["builder"](SPARK, **fx["kw"])
    rows = run_stages(views, st, fin).collect()
    assert [r.rank for r in rows] == list(range(1, len(rows) + 1))
    assert all(rows[i].n >= rows[i + 1].n for i in range(len(rows) - 1))
    texts = [r.text for r in views.sql("SELECT text FROM documents").collect()]
    counts = Counter()
    for t in texts:
        for w in _re.split(r"[^A-Za-z0-9]+", t):
            if w:
                w = w.lower()
                for i in range(len(w) - 1):
                    counts[w[i:i + 2]] += 1
    top = rows[0]
    assert counts[top.pair] == top.n
    assert top.n == max(counts.values())


def test_salted_join_equals_plain_join(views):
    """Salting is semantics-preserving: the salted (key, salt) equi-join
    aggregates to exactly the plain join's answer, and the heavy branch is
    actually exercised (non-empty heavy-key relation at this SF)."""
    from snappy_aqp_spark.pipeline import salting
    stages, final = salting.salted_join_stages(SPARK)
    salted = run_stages(views, stages, final)
    compare_frames(salted, views.sql(salting.plain_join_sql()).toPandas())
    heavy = views.sql(stages_sql(stages[:1], "SELECT COUNT(*) AS n FROM __hv"))
    assert heavy.collect()[0]["n"] > 0


def test_grouped_topk_plan_has_window_group_limit(views):
    """the rank-limit must be pushed into the shuffle (WindowGroupLimit),
    not evaluated as filter-after-full-window-sort."""
    from snappy_aqp_spark.pipeline import grouped_topk
    stages, final = grouped_topk.grouped_topk_stages(SPARK)
    df = run_stages(views, stages, final)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in plan, plan


def test_corpus_diversity_invariants(views):
    """Source-level diversity rollup: ratios live in their ranges (TTR and
    unique-trigram fraction in (0, 10000]; mean per-word df >= 1 means
    docs_per_word_bp >= 10000) and vocabulary is strictly smaller than the
    token stream on natural text."""
    views.read.parquet(f"{SF_SMALL}/documents.parquet") \
        .createOrReplaceTempView("documents")   # earlier tests clobber it
    from snappy_aqp_spark.fixtures import PIPELINE_FIXTURES
    from snappy_aqp_spark.pipeline.dual import run_stages
    fx = PIPELINE_FIXTURES["corpus_diversity"]
    st, fin = fx["builder"](SPARK, **fx["kw"])
    rows = run_stages(views, st, fin).collect()
    assert len(rows) == 20                      # one row per source
    for r in rows:
        assert 0 < r.ttr_bp <= 10000
        assert 0 < r.uniq_trigram_bp <= 10000
        assert r.docs_per_word_bp >= 10000
        assert r.n_distinct_words < r.n_words
        assert r.n_docs > 0


def test_hll_set_ops_accuracy(views, duck):
    """inclusion-exclusion estimates track the exact set sizes within the
    m=32 sketch's error envelope (rel err ~ 1.04/sqrt(32) ~ 18%; the
    derived intersection compounds to ~3x that in the worst case)."""
    from snappy_aqp_spark.pipeline.distinct import hll_set_ops_stages
    st, fin = hll_set_ops_stages(SPARK, key_kind="bigint")
    est = run_stages(views, st, fin).collect()[0]
    truth = duck.sql(
        "SELECT count(DISTINCT CASE WHEN n_chars < 300 THEN doc_id END) a, "
        "count(DISTINCT CASE WHEN n_chars >= 200 THEN doc_id END) b, "
        "count(DISTINCT CASE WHEN n_chars < 300 OR n_chars >= 200 "
        "THEN doc_id END) u, "
        "count(DISTINCT CASE WHEN n_chars >= 200 AND n_chars < 300 "
        "THEN doc_id END) i FROM documents").df().iloc[0]
    assert abs(est["est_a"] - truth["a"]) / truth["a"] < 0.40
    assert abs(est["est_b"] - truth["b"]) / truth["b"] < 0.40
    assert abs(est["est_union"] - truth["u"]) / truth["u"] < 0.40
    assert abs(est["est_intersect"] - truth["i"]) / truth["i"] < 0.60
    assert 0.0 <= est["jaccard"] <= 1.0


def test_hll_set_ops_small_range_lc_consistent(spark, duck):
    """set algebra in the linear-counting regime (round 10: LC applies
    to ALL THREE base estimates consistently before inclusion-exclusion)
    — tiny disjoint-ish populations land within a fraction of a key per
    side, the derived intersection tracks the exact overlap, and the
    whole statement still replays bit-exactly on DuckDB."""
    from snappy_aqp_spark.pipeline import dual
    from snappy_aqp_spark.pipeline.distinct import hll_set_ops_stages
    spark.sql("SELECT id % 8 AS k, id % 12 AS g FROM range(600)") \
        .createOrReplaceTempView("__so_small")
    duck.sql("CREATE OR REPLACE VIEW __so_small AS "
             "SELECT range % 8 AS k, range % 12 AS g FROM range(600)")
    try:
        kw = dict(col="k", table="__so_small", filter_a="g < 8",
                  filter_b="g >= 4", p=8, key_kind="bigint")
        st, fin = hll_set_ops_stages(SPARK, **kw)
        row = run_stages(spark, st, fin).collect()[0]
        # exact: a = keys with any g<8 row, b = any g>=4 row, both 8
        # (k and g cycle coprime-ish over 600 rows -> all pairs hit)
        assert abs(row["est_a"] - 8) < 0.5
        assert abs(row["est_b"] - 8) < 0.5
        assert abs(row["est_union"] - 8) < 0.5
        assert abs(row["est_intersect"] - 8) < 1.0
        std, find = hll_set_ops_stages(DUCKDB, **kw)
        dk = duck.sql(stages_sql(std, find)).df().iloc[0]
        for c in ("est_a", "est_b", "est_union", "est_intersect",
                  "jaccard"):
            assert row[c] == dk[c], c
    finally:
        duck.sql("DROP VIEW IF EXISTS __so_small")
        spark.catalog.dropTempView("__so_small")


def test_histogram_quantile_brackets_truth(views, duck):
    """every histogram-quantile estimate's [lo, hi) bin contains the exact
    quantile — the deterministic error envelope the operator promises."""
    from snappy_aqp_spark.pipeline.quantiles import histogram_quantile_stages
    st, fin = histogram_quantile_stages(SPARK)
    rows = {r["q"]: r for r in run_stages(views, st, fin).collect()}
    for q in (0.5, 0.9, 0.99):
        exact = duck.sql(
            f"SELECT quantile_disc(n_chars, {q}) v FROM documents"
        ).df().iloc[0, 0]
        assert rows[q]["lo"] <= exact < rows[q]["hi"], (q, exact, rows[q])


def test_quantile_null_group_contracts(spark):
    """round-8 VERDICT #4 (NULL-group consistency): the mergeable
    histogram KEEPS a NULL-keyed group (nothing joins on the key — same
    contract as the SQL route and the exact answer), bit-exact on DuckDB
    with NULLS FIRST pinned; the sampling-based grouped quantiles EXCLUDE
    it, as their docstring now documents (the rank equi-join can never
    match NULL)."""
    import duckdb
    import pandas as pd
    from snappy_aqp_spark.pipeline.quantiles import (
        grouped_quantile_stages, histogram_quantile_stages)
    pdf = pd.DataFrame({
        "doc_id": list(range(12)),
        "g": (["a"] * 4 + [None] * 4 + ["b"] * 4),
        "v": [10, 20, 30, 40, 15, 25, 35, 45, 12, 22, 32, 42]})
    spark.createDataFrame(pdf).createOrReplaceTempView("nullg_t")
    con = duckdb.connect()
    con.register("nullg_t", pdf)
    st, fin = histogram_quantile_stages(SPARK, col="v", width=10,
                                        qs=(0.5,), table="nullg_t",
                                        group_by="g")
    sp = run_stages(spark, st, fin).toPandas()
    assert sp["g"].isna().sum() == 1          # the NULL stratum is a row
    assert set(sp["g"].dropna()) == {"a", "b"}
    std, find = histogram_quantile_stages(DUCKDB, col="v", width=10,
                                          qs=(0.5,), table="nullg_t",
                                          group_by="g")
    dk = con.sql(stages_sql(std, find)).df()
    a = sp.fillna({"g": ""}).values.tolist()
    b = dk.fillna({"g": ""}).values.tolist()
    assert a == b                              # incl. identical row ORDER
    # sampling path: NULL group excluded by documented contract
    st, fin = grouped_quantile_stages(SPARK, col="v", group_by="g",
                                      key_cols=("doc_id",),
                                      table="nullg_t", qs=(0.5,),
                                      fraction=1.0)
    sp2 = run_stages(spark, st, fin).toPandas()
    assert set(sp2["stratum"]) == {"a", "b"}


def test_column_correlation_tracks_exact_pearson(views, duck):
    """lattice-quantized correlation lands within the documented 2^-21
    per-term perturbation of the exact double-precision Pearson."""
    from snappy_aqp_spark.pipeline.diagnostics import correlation_stages
    st, fin = correlation_stages(SPARK)
    got = {(r["x"], r["y"]): r["corr"] for r in
           run_stages(views, st, fin).collect()}
    for x, y in (("l_quantity", "l_extendedprice"),
                 ("l_quantity", "l_discount"),
                 ("l_extendedprice", "l_tax")):
        exact = duck.sql(f"SELECT corr({x}, {y}) v FROM lineitem"
                         ).df().iloc[0, 0]
        assert abs(got[(x, y)] - exact) < 2e-3, (x, y, got[(x, y)], exact)


def test_uniform_quantile_sample_cap_bounds_rank_sort(views, duck):
    """the max_sample_rows cap (VERDICT r6 #2): the planned sample —
    input to the ungrouped form's single-partition ROW_NUMBER sort —
    is absolutely bounded, the capped run stays Spark/DuckDB bit-exact,
    and a non-binding cap leaves the text's effective threshold exactly
    at the uncapped value (FLOOR(thr * 1.0) == thr)."""
    from snappy_aqp_spark.detrng import threshold_for_fraction
    from snappy_aqp_spark.pipeline.quantiles import uniform_quantile_stages

    # binding cap: documents sf0.001 has 500 rows; fraction 0.5 would
    # plan ~250 — cap at 40
    kw = dict(qs=(0.5, 0.9), fraction=0.5, max_sample_rows=40)
    st, fin = uniform_quantile_stages(SPARK, **kw)
    sp = run_stages(views, st, fin)
    pdf = sp.toPandas()
    # hash thresholding is binomial around the target: allow 2.5 sigma
    assert (pdf["n_sample"] <= 40 + 2.5 * (40 * 0.92) ** 0.5).all(), \
        pdf["n_sample"].tolist()
    assert (pdf["n_sample"] >= 40 - 2.5 * (40 * 0.92) ** 0.5).all()
    st2, fin2 = uniform_quantile_stages(DUCKDB, **kw)
    compare_frames(sp, duck.sql(stages_sql(st2, fin2)))

    # non-binding cap: effective threshold == uncapped integer threshold
    st3, fin3 = uniform_quantile_stages(DUCKDB, fraction=0.2)
    thr_sql = stages_sql(st3[:2], "SELECT athr FROM __uqthr")
    assert duck.sql(thr_sql).fetchone()[0] == threshold_for_fraction(0.2)

    # plan shape: the ONLY single-partition exchange feeding a sort is
    # the rank window over the capped sample (never the raw table scan)
    plan = sp._jdf.queryExecution().executedPlan().toString()
    assert "SinglePartition" in plan     # the rank window, by design
    scan_lines = [ln for ln in plan.splitlines()
                  if "Scan" in ln and "documents" in ln]
    assert scan_lines, "expected a documents scan in the plan"


def test_hll_register_finalize_equals_batch_in_both_regimes(views, duck):
    """hll_estimate_sql (the register-relation finalize behind the
    streaming merge contract) must equal the batch estimator bit-for-bit
    by CONSISTENCY OF FORM — round 10 gave both the same deterministic
    linear-counting branch, so the equality holds in the raw regime AND
    below the 2.5*m cutoff (the pre-round-10 policy of sizing p to keep
    the LC branch dead is retired)."""
    from snappy_aqp_spark.pipeline.distinct import (hll_distinct_stages,
                                                    hll_estimate_sql,
                                                    hll_registers_sql)

    def both(table: str, col: str, p: int) -> tuple[float, float]:
        st, fin = hll_distinct_stages(SPARK, col=col, table=table,
                                      p=p, key_kind="bigint")
        est = run_stages(views, st, fin).collect()[0]["approx_distinct"]
        # key_kind must match the stage builder's — same hash, registers
        views.sql(hll_registers_sql(SPARK, col=col, table=table,
                                    p=p, key_kind="bigint")
                  ).createOrReplaceTempView("__lcck")
        est2 = views.sql(
            hll_estimate_sql("__lcck", p=p)).collect()[0]["approx_distinct"]
        return est, est2

    # raw regime: events at p=6 sits far above the cutoff
    est, est2 = both("events", "event_id", 6)
    assert est > 2.5 * 64 and est2 == est
    # LC regime: a 5-value key at p=8 (cutoff 640) — the branch FIRES on
    # both forms and they still agree exactly
    views.sql("SELECT event_id % 5 AS k5 FROM events") \
        .createOrReplaceTempView("__lc5")
    try:
        est, est2 = both("__lc5", "k5", 8)
        assert abs(est - 5.0) < 0.2 and est2 == est
    finally:
        for v in ("__lc5", "__lcck"):
            views.catalog.dropTempView(v)


def test_bm25_index_stages_survive_new_queries(spark):
    """The *_ix postings/df/length stages are query-independent, so a NEW
    query_pred must reuse the persisted index (round-8 ADVICE: the
    whole-pipeline cache key evicted them on every new query), and the
    reused-index answer must equal a cold-cache answer bit for bit."""
    import pandas as pd
    from snappy_aqp_spark.pipeline import dual
    from snappy_aqp_spark.pipeline.retrieval import bm25_topk_stages
    from snappy_aqp_spark.stage_cache import StageCache

    docs = [(i, f"alpha beta gamma token{i % 7} token{i % 3} delta")
            for i in range(40)]
    spark.createDataFrame(docs, "doc_id long, text string") \
        .createOrReplaceTempView("__bm_reuse_docs")

    def run(pred):
        st, fin = bm25_topk_stages("spark", query_pred=pred, topk=3,
                                   table="__bm_reuse_docs")
        return dual.run_stages(spark, st, fin).toPandas()

    cache = StageCache.of(spark)
    run("doc_id = 0")
    cached = {n: id(e[1]) for n, e in cache.entries("index").items()
              if "__bm" in n}
    assert cached                                   # index stages cached
    warm = run("doc_id = 5")                        # DIFFERENT query
    after = {n: id(e[1]) for n, e in cache.entries("index").items()
             if "__bm" in n}
    assert after == cached                          # reused, not rebuilt
    # cold control: drop the index cache and recompute from scratch
    cache.clear("index")
    cold = run("doc_id = 5")
    pd.testing.assert_frame_equal(warm, cold)


def test_bm25_index_cache_is_binding_sensitive(spark):
    """Same stage TEXT over a rebound source table must MISS the index
    cache (semanticHash keys resolve through the current view bindings),
    never serve rows from the previous table."""
    from snappy_aqp_spark.pipeline import dual
    from snappy_aqp_spark.pipeline.retrieval import bm25_topk_stages

    def load(docs, view):
        spark.createDataFrame(docs, "doc_id long, text string") \
            .createOrReplaceTempView(view)

    def run():
        st, fin = bm25_topk_stages("spark", query_pred="doc_id = 0",
                                   topk=5, table="__bm_bind_docs")
        return {r.doc_id for r in dual.run_stages(spark, st, fin).collect()}

    load([(0, "rare zebra quark"), (1, "rare zebra quark boson"),
          (2, "other words entirely")], "__bm_bind_docs")
    assert run() == {1}
    # rebind the SAME view name to different rows: doc 2 now matches
    load([(0, "rare zebra quark"), (2, "rare zebra quark lepton"),
          (3, "unrelated text")], "__bm_bind_docs")
    assert run() == {2}
