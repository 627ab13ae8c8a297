"""Near-duplicate cluster assignment: LSH pairs -> connected components ->
one canonical document per cluster.

The missing last stage of a dedup pipeline: pair detection (minhash_lsh)
emits edges; transitive closure groups them (A~B, B~C => {A,B,C} even when
A,C never co-bucket), and the canonical keep-list is the per-cluster
minimum doc_id — the same keep rule the reference-style exact dedup uses
(pipeline/dedup.py exact_dedup_stages).

Spark side: iterative min-label propagation with POINTER DOUBLING
(label <- label(label) each round), the alternating-star / hash-to-min
family of MapReduce CC algorithms (Rastogi et al. 2012, "Finding Connected
Components in Map-Reduce in Logarithmic Rounds"; Kiveris et al. 2014).
Convergence in O(log diameter) rounds; each round is two key-partitioned
shuffles over the EDGE list only (never the corpus), so at 100 TB the cost
is proportional to the near-dup pair count, and the driver-side loop moves
one scalar (sum of labels) per round — no collect of rows.

Oracle side: the identical pair stages replayed on DuckDB + a recursive
CTE transitive closure (WITH RECURSIVE reach) — exact, engine-checked
closure semantics at test scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from . import dual
from .dedup import minhash_lsh_stages
from ..dialect import DUCKDB, SPARK, dlit
from ..stage_cache import StageCache


def _union_find_local(edges: list[tuple[int, int]]) -> list[tuple[int, int]]:
    """Driver-side union-find with path compression; labels = component
    minimum. Deterministic and exact; used only below the edge-count guard."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        r = x
        while parent.setdefault(r, r) != r:
            r = parent[r]
        while parent[x] != r:
            parent[x], x = r, parent[x]
        return r

    for u, v in edges:
        ru, rv = find(u), find(v)
        if ru != rv:
            # union by MIN root so the final root is the component minimum
            if ru < rv:
                parent[rv] = ru
            else:
                parent[ru] = rv
    return sorted((x, find(x)) for x in parent)


# edge lists below this collect to the driver (16 B/edge -> ~32 MB at the
# cap); above it the distributed pointer-doubling loop runs
SMALL_GRAPH_EDGES = 2_000_000


def connected_components(pairs: DataFrame, src: str = "ida",
                         dst: str = "idb", max_iter: int = 30,
                         small_graph_edges: int = SMALL_GRAPH_EDGES
                         ) -> DataFrame:
    """(doc_id, cluster_id) for every node in ``pairs``; cluster_id is the
    component-minimum node id (deterministic, iteration-order independent).

    Two physical strategies behind one result contract:

      * edge count <= ``small_graph_edges``: collect the EDGE LIST (never
        the corpus — near-dup pairs are orders of magnitude smaller than
        the documents) and run driver-side union-find; one job + one
        collect replaces O(log diameter) shuffle rounds. This is the same
        adaptive small-side shortcut as a broadcast join: the dedup
        pipelines join the labels back to the corpus, which stays fully
        distributed.
      * larger graphs: iterative min-label propagation with POINTER
        DOUBLING (label <- label(label) each round) — the alternating-star
        / hash-to-min family (Rastogi et al. 2012; Kiveris et al. 2014),
        O(log diameter) rounds, each two key-partitioned shuffles over the
        edge list only. Labels are monotonically non-increasing; the sum
        of labels strictly decreases until the fixpoint, so one scalar per
        round decides convergence.
    """
    # persist BEFORE the probe (round-10 VERDICT #3): head() computes
    # pair-detection partitions and the persist caches each one as it is
    # computed, so when the graph turns out big the symmetrize+distinct
    # pass below reads the cached partitions instead of running detection
    # a second time. ONE action decides the strategy AND feeds the small
    # path: head of cap+1 rows is driver-bounded by construction (~32 MB
    # at the cap); exactly cap+1 rows back means "too big — go distributed"
    raw = pairs.select(F.col(src).cast("long").alias("u"),
                       F.col(dst).cast("long").alias("v")).persist()
    head = raw.head(small_graph_edges + 1)
    if len(head) <= small_graph_edges:
        # small path: the RAW pair list (union-find neither needs
        # symmetrized nor deduplicated edges — duplicates are no-ops), so
        # the symmetric-union + distinct shuffle is skipped entirely; the
        # returned label table is driver-local and broadcast-hinted, so
        # the corpus-side label join never shuffles the corpus
        raw.unpersist()
        rows = _union_find_local([(r["u"], r["v"]) for r in head])
        spark = pairs.sparkSession
        if not rows:
            return F.broadcast(
                spark.createDataFrame([], "doc_id long, cluster_id long"))
        return F.broadcast(
            spark.createDataFrame(rows, "doc_id long, cluster_id long"))
    e = (raw.unionByName(raw.select(F.col("v").alias("u"),
                                    F.col("u").alias("v")))
         .distinct().persist())
    e.count()
    raw.unpersist()
    # localCheckpoint (not persist) per round: the pointer-doubling
    # self-join doubles the logical plan every iteration — lineage must be
    # truncated or plan construction itself goes exponential
    lab = (e.select("u").distinct()
           .select("u", F.col("u").alias("lab")).localCheckpoint())
    prev = lab.agg(F.sum("lab")).collect()[0][0]
    for _ in range(max_iter):
        nb = (e.join(lab.select(F.col("u").alias("v"), "lab"), "v")
              .groupBy("u").agg(F.min("lab").alias("nlab")))
        lab1 = (lab.join(nb, "u", "left")
                .select("u", F.least("lab", "nlab").alias("lab")))
        # pointer doubling: lab <- lab(lab); labels are always node ids so
        # the lookup is a self-join on the label table
        lab = (lab1.join(lab1.select(F.col("u").alias("lab"),
                                     F.col("lab").alias("lab2")),
                         "lab", "left")
               .select("u", F.coalesce("lab2", "lab").alias("lab"))
               .localCheckpoint())
        cur = lab.agg(F.sum("lab")).collect()[0][0]
        if cur == prev:
            break
        prev = cur
    e.unpersist()
    return lab.select(F.col("u").alias("doc_id"),
                      F.col("lab").alias("cluster_id"))


def cluster_labels(spark: SparkSession, threshold: float = 0.5, k: int = 7,
                   n_hashes: int = 32, bands: int = 8,
                   table: str = "documents", col: str = "text",
                   data_token: str | None = None) -> DataFrame:
    """Converged near-dup labels for EVERY document of ``table`` (must be
    a temp view): (doc_id, cluster_id); docs in no near-dup pair are
    singleton clusters of themselves. Persisted + materialized once, so
    every downstream split/filter/size pass reuses the converged table
    instead of re-running pair detection and the CC loop.

    With a ``data_token`` the table is kept in the session's ``labels``
    cache: the three downstream consumers (dedup_clusters, clean_corpus,
    leakage_safe_split) all need the SAME converged labels. Without one
    (temp view contents not identified) nothing is cached."""
    cache = StageCache.of(spark)
    key = (data_token, threshold, k, n_hashes, bands, table, col)
    lab = cache.get("labels", key) if data_token is not None else None
    if lab is not None:
        return lab
    stages, final = minhash_lsh_stages(SPARK, threshold=threshold, k=k,
                                       n_hashes=n_hashes, bands=bands,
                                       table=table, col=col)
    # cache_token: a repeat COLD build (labels cache cleared, same data)
    # reuses the analyzed pair-detection plan; detection itself re-runs
    pairs = dual.run_stages(spark, stages, final, cache_token=data_token)
    cc = connected_components(pairs)
    docs = spark.table(table).select(F.col("doc_id").cast("long").alias("doc_id"))
    lab = (docs.join(cc, "doc_id", "left")
           .select("doc_id",
                   F.coalesce("cluster_id", "doc_id").alias("cluster_id"))
           .persist())
    lab.count()
    return lab if data_token is None else cache.put("labels", key, lab)


def dedup_clusters(spark: SparkSession, threshold: float = 0.5, k: int = 7,
                   n_hashes: int = 32, bands: int = 8,
                   table: str = "documents", col: str = "text",
                   data_token: str | None = None) -> DataFrame:
    """Full-corpus cluster assignment over ``table`` (must be a temp view):
    (doc_id, cluster_id, cluster_size, is_duplicate), one row per document;
    documents in no near-dup pair are singleton clusters of themselves."""
    lab = cluster_labels(spark, threshold, k, n_hashes, bands, table, col,
                         data_token=data_token)
    sz = lab.groupBy("cluster_id").agg(F.count("*").alias("cluster_size"))
    return (lab.join(sz, "cluster_id")
            .select("doc_id", "cluster_id", "cluster_size",
                    F.expr("CASE WHEN doc_id = cluster_id THEN 0 ELSE 1 END")
                    .alias("is_duplicate"))
            .orderBy("doc_id"))


def dedup_clusters_oracle_sql(threshold: float = 0.5, k: int = 7,
                              n_hashes: int = 32, bands: int = 8,
                              table: str = "documents",
                              col: str = "text") -> str:
    """DuckDB replay: same pair stages + recursive-CTE transitive closure."""
    stages, _ = minhash_lsh_stages(DUCKDB, threshold=threshold, k=k,
                                   n_hashes=n_hashes, bands=bands,
                                   table=table, col=col)
    # the transitive closure lives in a NESTED subquery scope: a top-level
    # WITH RECURSIVE changes how DuckDB evaluates the non-recursive stages
    # of the same WITH list (observed: candidate pairs differ vs the plain
    # WITH evaluation) — nesting confines the iterative semantics to the
    # closure itself
    closure = ("WITH RECURSIVE __reach(u, v) AS ("
               "SELECT u, v FROM __edges UNION "
               "SELECT r.u, e.v FROM __reach r "
               "JOIN __edges e ON r.v = e.u WHERE e.v <> r.u) "
               "SELECT u, v FROM __reach")
    stages = stages + [
        ("__cpairs", f"SELECT ida, idb FROM __j "
                     f"WHERE jaccard >= {dlit(threshold)}"),
        ("__edges", "SELECT ida AS u, idb AS v FROM __cpairs "
                    "UNION SELECT idb AS u, ida AS v FROM __cpairs"),
        ("__comp", f"SELECT u AS doc_id, LEAST(u, MIN(v)) AS cluster_id "
                   f"FROM ({closure}) __r GROUP BY u"),
        ("__lab", f"SELECT d.doc_id, "
                  f"COALESCE(c.cluster_id, d.doc_id) AS cluster_id "
                  f"FROM {table} d LEFT JOIN __comp c ON d.doc_id = c.doc_id"),
        ("__csz", "SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS "
                  "cluster_size FROM __lab GROUP BY cluster_id"),
    ]
    final = ("SELECT l.doc_id, l.cluster_id, s.cluster_size, "
             "CASE WHEN l.doc_id = l.cluster_id THEN 0 ELSE 1 END "
             "AS is_duplicate "
             "FROM __lab l JOIN __csz s ON l.cluster_id = s.cluster_id "
             "ORDER BY l.doc_id")
    return dual.stages_sql(stages, final, materialized=True)


def clean_corpus(spark: SparkSession, min_quality: float = 0.32,
                 threshold: float = 0.5, k: int = 7,
                 table: str = "documents",
                 data_token: str | None = None) -> DataFrame:
    """End-to-end corpus cleaning: one keep/drop decision per document with
    the reason, composing the pipeline's stages the way a training-data job
    would run them:

      1. quality scoring  (text.quality_frags — projection, no shuffle)
      2. exact dedup      (md5 clusters, keeper = min doc_id)
      3. near-dup dedup   (minhash-LSH pairs -> connected components,
                           canonical = min doc_id of the cluster)

    Precedence: low_quality > exact_dup > near_dup > ok. The canonical of a
    near-dup cluster is the min doc_id regardless of its own quality — the
    policy stays a pure function of the cluster, not of filter ordering
    (document-level filters can always be re-applied downstream).

    At scale: steps 1-2 are one scan + one hash shuffle; step 3 costs the
    pair detection (bucketed, no all-pairs) + CC over the pair list only.
    """
    from pyspark.sql import Window
    from .text import text_features
    docs = spark.table(table)
    # text_features already carries the md5 full-text fingerprint
    # (fp_md5 = md5(text)); the exact-dedup keeper is a window MIN over
    # it IN the same stream — the former shape recomputed the md5 in a
    # separate scan, aggregated, joined the keeper back on fp, and then
    # joined two corpus-sized relations on doc_id: three corpus-wide
    # shuffles and a self-join collapse into ONE fp-keyed exchange
    feats = text_features(docs).select("doc_id", "quality", "fp_md5")
    scored = feats.select(
        "doc_id", "quality",
        F.min("doc_id").over(Window.partitionBy("fp_md5")).alias("keeper"))
    cl = cluster_labels(spark, threshold=threshold, k=k, table=table,
                        data_token=data_token)
    reason = (f"CASE WHEN quality < {dlit(min_quality)} THEN 'low_quality' "
              f"WHEN doc_id <> keeper THEN 'exact_dup' "
              f"WHEN doc_id <> cluster_id THEN 'near_dup' "
              f"ELSE 'ok' END")
    return (scored.join(cl, "doc_id")
            .select("doc_id", "quality", F.expr(reason).alias("reason"),
                    F.expr(f"CASE WHEN {reason} = 'ok' THEN 1 ELSE 0 END")
                    .alias("keep"))
            .orderBy("doc_id"))


def clean_corpus_oracle_sql(min_quality: float = 0.32,
                            threshold: float = 0.5, k: int = 7,
                            table: str = "documents") -> str:
    from .text import text_features_oracle
    reason = (f"CASE WHEN q.quality < {dlit(min_quality)} THEN 'low_quality' "
              f"WHEN q.doc_id <> e.keeper THEN 'exact_dup' "
              f"WHEN q.doc_id <> c.cluster_id THEN 'near_dup' "
              f"ELSE 'ok' END")
    return (
        f"WITH __q AS (SELECT doc_id, quality FROM "
        f"({text_features_oracle(DUCKDB, table)}) __tf), "
        f"__fp AS (SELECT doc_id, md5(text) AS fp FROM {table}), "
        f"__kfp AS (SELECT fp, MIN(doc_id) AS keeper FROM __fp GROUP BY fp), "
        f"__ex AS (SELECT f.doc_id, kk.keeper FROM __fp f "
        f"JOIN __kfp kk ON f.fp = kk.fp), "
        f"__cl AS (SELECT doc_id, cluster_id FROM "
        f"({dedup_clusters_oracle_sql(threshold, k, table=table)}) __c) "
        f"SELECT q.doc_id, q.quality, {reason} AS reason, "
        f"CASE WHEN {reason} = 'ok' THEN 1 ELSE 0 END AS keep "
        f"FROM __q q JOIN __ex e ON q.doc_id = e.doc_id "
        f"JOIN __cl c ON q.doc_id = c.doc_id "
        f"ORDER BY q.doc_id")


def embedding_clusters(spark: SparkSession,
                       threshold: float = 0.9) -> DataFrame:
    """Near-dup groups over the embedding corpus: connected components of
    the hyperplane-LSH cosine pairs (pipeline/similarity.py
    near_dup_pairs_stages — bucketed candidates, exact integer-cosine
    verify). One row per vector that belongs to a group:
    (vec_id, cluster_id, cluster_size); cluster_id = min member id."""
    from .similarity import near_dup_pairs_stages
    stages, final = near_dup_pairs_stages(SPARK, threshold=threshold)
    pairs = dual.run_stages(spark, stages, final)
    cc = connected_components(pairs, src="ida", dst="idb")
    sz = (cc.groupBy("cluster_id")
          .agg(F.count("*").alias("cluster_size")))
    return (cc.join(sz, "cluster_id")
            .select(F.col("doc_id").alias("vec_id"), "cluster_id",
                    "cluster_size")
            .orderBy("vec_id"))


def embedding_clusters_oracle_sql(threshold: float = 0.9) -> str:
    from .similarity import near_dup_pairs_stages
    stages, final = near_dup_pairs_stages(DUCKDB, threshold=threshold)
    closure = ("WITH RECURSIVE __reach(u, v) AS ("
               "SELECT u, v FROM __eedges UNION "
               "SELECT r.u, e.v FROM __reach r "
               "JOIN __eedges e ON r.v = e.u WHERE e.v <> r.u) "
               "SELECT u, v FROM __reach")
    stages = stages + [
        ("__epairs", f"SELECT ida, idb FROM ({final.rsplit('ORDER BY', 1)[0]}) __f"),
        ("__eedges", "SELECT ida AS u, idb AS v FROM __epairs "
                     "UNION SELECT idb AS u, ida AS v FROM __epairs"),
        ("__ecomp", f"SELECT u AS vec_id, LEAST(u, MIN(v)) AS cluster_id "
                    f"FROM ({closure}) __r GROUP BY u"),
        ("__esz", "SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS "
                  "cluster_size FROM __ecomp GROUP BY cluster_id"),
    ]
    out = ("SELECT c.vec_id, c.cluster_id, s.cluster_size "
           "FROM __ecomp c JOIN __esz s ON c.cluster_id = s.cluster_id "
           "ORDER BY c.vec_id")
    return dual.stages_sql(stages, out, materialized=True)


def leakage_safe_split(spark: SparkSession,
                       fractions: tuple[float, ...] = (0.8, 0.1, 0.1),
                       names: tuple[str, ...] = ("train", "val", "test"),
                       seed: int = 42, **cluster_kw) -> DataFrame:
    """Train/val/test assignment keyed by the NEAR-DUP CLUSTER id, not the
    document id: every member of a duplicate cluster lands in the same
    split — the standard guard against train/test contamination through
    near-duplicates (a doc-keyed split leaks whenever a near-dup pair
    straddles the cut). Composition of ``dedup_clusters`` (LSH pairs ->
    connected components) with the zero-shuffle hash-threshold assignment
    (``split.hash_split_case`` on cluster_id). -> one row per doc:
    (doc_id, cluster_id, split). The converged label table is computed
    once (``cluster_labels``) and every split class derives from it in the
    same pass — no per-class re-join."""
    from .split import hash_split_case
    lab = cluster_labels(spark, **cluster_kw)
    case = hash_split_case(("cluster_id",), fractions, names, seed)
    return (lab.select("doc_id", "cluster_id", F.expr(case).alias("split"))
            .orderBy("doc_id"))


def leakage_safe_split_oracle_sql(fractions: tuple[float, ...] = (0.8, 0.1, 0.1),
                                  names: tuple[str, ...] = ("train", "val",
                                                            "test"),
                                  seed: int = 42, **cluster_kw) -> str:
    from .split import hash_split_case
    case = hash_split_case(("cluster_id",), fractions, names, seed)
    inner = dedup_clusters_oracle_sql(**cluster_kw)
    return (f"SELECT doc_id, cluster_id, {case} AS split "
            f"FROM ({inner}) __lss ORDER BY doc_id")
