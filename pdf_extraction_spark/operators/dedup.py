"""Deduplication operators for large-scale training-data pipelines.

All four families are implemented Spark-first (declarative DataFrame ops,
no Python in the hot path) and designed for 100 TB scale:

* exact:          one shuffle on the content hash, map-side partial agg.
* MinHash + LSH:  signatures/bands are per-row JVM expressions (no
                  shuffle); the candidate join shuffles on band keys only.
                  Bucket sizes are NOT naturally bounded — short or highly
                  similar documents can collapse one band onto thousands of
                  docs (measured: one bucket held 834 of 10k docs = 85% of
                  all candidate pairs), so `max_bucket` drops degenerate
                  buckets before the self-join; their members are still
                  covered by the other bands and by exact dedup.
                  Verification runs only on candidates, never all pairs.
* SimHash:        per-row 60-bit fingerprint (functions/text.py,
                  ``simhash_from_hashes`` over ``hash60`` token hashes);
                  near-dup = same fingerprint bucket (or small Hamming
                  radius via banding).
* n-gram Jaccard: exact pairwise check, to be used only inside a blocking
                  key (LSH candidates or small blocks) — the quadratic path
                  is the verifier, not the discovery mechanism.
* embedding cosine: see operators/similarity.py (shared kernels).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pdf_extraction_spark.functions.text import (
    band_keys,
    hash32,
    minhash_signature,
    tokens,
    word_ngrams,
)
from pdf_extraction_spark.functions.vectors import cosine


def exact_dedup(
    df: DataFrame, id_col: str, key
) -> DataFrame:
    """Exact dedup on a content key: one row per key, keep min(id).

    Returns (dedup_key, keep_id, dup_count).  Single hash-shuffle on the
    key; Catalyst does map-side partial aggregation automatically.
    """
    return (
        df.select(F.col(id_col).alias("_id"), key.alias("dedup_key"))
        .groupBy("dedup_key")
        .agg(
            F.min("_id").alias("keep_id"),
            F.count("*").alias("dup_count"),
        )
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    n: int = 3,
    block_cols: list[str] | None = None,
    num_threshold: int = 1,
    den_threshold: int = 2,
) -> DataFrame:
    """All pairs (within blocking keys) with n-gram Jaccard >= num/den.

    The threshold is a rational (integer) comparison —
        den * |A ∩ B|  >=  num * |A ∪ B|
    — so there is no float anywhere; results are engine-exact.
    Output: (id_a, id_b, inter_size, union_size), id_a < id_b.
    """
    grams = df.select(
        F.col(id_col).alias("_id"),
        *(block_cols or []),
        word_ngrams(tokens(F.col(text_col)), n).alias("grams"),
        F.size(word_ngrams(tokens(F.col(text_col)), n)).alias("_sz"),
    ).filter(F.col("_sz") > 0)

    a = grams.alias("a")
    b = grams.alias("b")
    cond = F.col(f"a._id") < F.col("b._id")
    for c in block_cols or []:
        cond = cond & (F.col(f"a.{c}") == F.col(f"b.{c}"))
    pairs = a.join(b, cond)
    # grams are distinct sets, so |A∪B| = |A| + |B| - |A∩B| — one array
    # pass per pair instead of two (the pair count is the quadratic term)
    inter = F.size(F.array_intersect(F.col("a.grams"), F.col("b.grams")))
    return (
        pairs.select(
            F.col("a._id").alias("id_a"),
            F.col("b._id").alias("id_b"),
            inter.alias("inter_size"),
            (F.col("a._sz") + F.col("b._sz") - inter).alias("union_size"),
        )
        .filter(
            F.col("inter_size") * den_threshold >= F.col("union_size") * num_threshold
        )
    )


def _hashed_grams(df: DataFrame, id_col: str, text_col: str, n: int) -> DataFrame:
    """(_id, hs) — distinct n-gram set as ``array<long>`` md5-prefix hashes.

    Each gram is hashed ONCE; everything downstream (signatures, Jaccard
    verify) runs on long arithmetic.  Longs also shrink any downstream
    shuffle payload vs shipping the gram strings (~8 bytes vs ~n words).

    The empty-gram guard is expressed as ``size(tokens) >= n`` — exactly
    equivalent to ``size(grams) > 0`` (word_ngrams emits size-n+1 >= 1
    grams iff the doc has >= n tokens) but free of md5: predicate pushdown
    clones the filter condition into the scan, so a guard written over
    ``grams`` would re-evaluate the entire md5-gram pipeline once per row
    just to test emptiness (measured: ~2x the stage cost)."""
    grams = df.filter(F.size(tokens(F.col(text_col))) >= n).select(
        F.col(id_col).alias("_id"),
        word_ngrams(tokens(F.col(text_col)), n).alias("grams"),
    )
    return grams.select(
        "_id", F.array_distinct(F.transform("grams", hash32)).alias("hs")
    )


def minhash_lsh_candidates(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    n: int = 3,
    num_perms: int = 16,
    bands: int = 4,
    max_bucket: int | None = 256,
    stats: dict | None = None,
) -> DataFrame:
    """MinHash-LSH near-dup candidate pairs: (id_a, id_b), id_a < id_b.

    ``max_bucket`` defaults to 256 (pass ``None`` to disable): a
    degenerate band bucket of k docs emits k^2/2 pairs, so an uncapped
    call can quadratically amplify one hot bucket into the whole query's
    runtime — the cap bounds worst-case work per bucket by construction.

    Capped recall is observable, not silent (round-5 ADVICE): pass a
    ``stats`` dict and the call records ``stats['dropped_buckets']`` and
    ``stats['dropped_pairs_upper_bound']`` (sum of k*(k-1)/2 over dropped
    buckets) for the hot buckets the cap removed.  The probe is a
    separate aggregate-only job over the same single-shuffle bucket plan,
    run eagerly at call time — opt-in, so the default path stays lazy.

    shingle -> minhash -> band -> bucket -> in-bucket pair expansion.
    At scale: signatures and band keys are per-row JVM expressions (no
    shuffle); candidates come from ONE shuffle — groupBy(band_key) with a
    collect_list of doc ids — after which the pairs are expanded inside
    the JVM from each bucket's sorted id array.  ``max_bucket`` (strongly
    recommended at scale) drops degenerate buckets right at the aggregate:
    a bucket of k docs otherwise emits k^2/2 pairs.  distinct() collapses
    pairs that collide in several bands (second, pair-sized shuffle).
    """
    return _lsh_candidates_from_hashes(
        _hashed_grams(df, id_col, text_col, n), num_perms, bands, max_bucket,
        stats=stats,
    )


def _lsh_candidates_from_hashes(
    hashed: DataFrame,
    num_perms: int,
    bands: int,
    max_bucket: int | None = None,
    stats: dict | None = None,
) -> DataFrame:
    rows_per_band = num_perms // bands
    sig = hashed.select(
        "_id",
        F.explode(
            band_keys(
                minhash_signature(F.col("hs"), num_perms), bands, rows_per_band
            )
        ).alias("band_key"),
    )
    buckets = (
        sig.groupBy("band_key")
        .agg(F.array_sort(F.collect_list("_id")).alias("ids"))
        .filter(F.size("ids") >= 2)
    )
    if max_bucket is not None:
        if stats is not None:
            k = F.size("ids").cast("long")
            row = (
                buckets.filter(F.size("ids") > max_bucket)
                .agg(
                    F.count("*").alias("b"),
                    F.coalesce(F.sum(k * (k - 1) / 2), F.lit(0.0)).alias("p"),
                )
                .collect()[0]
            )
            stats["dropped_buckets"] = int(row["b"])
            stats["dropped_pairs_upper_bound"] = int(row["p"])
        buckets = buckets.filter(F.size("ids") <= max_bucket)
    elif stats is not None:
        stats["dropped_buckets"] = 0
        stats["dropped_pairs_upper_bound"] = 0
    # expand each bucket's sorted ids to (id_a < id_b) pairs JVM-side; the
    # single-branch plan computes signatures exactly once (the former
    # self-join evaluated them per side or needed a persist+leak)
    ids = F.col("ids")
    pairs = F.flatten(
        F.transform(
            ids,
            lambda x, i: F.transform(
                F.slice(ids, i + 2, F.size(ids)),
                lambda y: F.struct(x.alias("id_a"), y.alias("id_b")),
            ),
        )
    )
    return (
        buckets.select(F.explode(pairs).alias("p"))
        .select(F.col("p.id_a").alias("id_a"), F.col("p.id_b").alias("id_b"))
        .distinct()
    )


def minhash_lsh_dedup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    n: int = 3,
    num_perms: int = 16,
    bands: int = 4,
    num_threshold: int = 1,
    den_threshold: int = 2,
    max_bucket: int | None = 256,
    stats: dict | None = None,
) -> DataFrame:
    """Full near-dup pipeline: LSH candidates verified by exact Jaccard.

    ``max_bucket`` defaults to 256 (``None`` disables): without the cap a
    single degenerate band bucket pays a quadratic pair expansion AND a
    quadratic exact-Jaccard verify — see minhash_lsh_candidates, including
    the opt-in ``stats`` dropped-bucket observability contract.

    SCAN-ONCE shape: the hashed gram set rides along into the band-bucket
    aggregate (collect_list of (id, hs) structs) and the exact-Jaccard
    verify is computed inline during in-bucket pair expansion — no join
    back to the corpus.  The round-1/round-2 join-back shape read and
    re-gram-hashed the input three times (candidate branch + both join
    sides; the join-induced IsNotNull filters made the subtrees unequal,
    defeating exchange reuse) and paid two extra shuffles.  Cost of the
    carry: each doc ships its hs array `bands` times through the one
    groupBy(band_key) shuffle — bounded, linear, and strictly cheaper at
    scale than 3 scans + 3 gram-hash passes + 2 join shuffles.  A pair
    colliding in several bands is verified once per collision (identical
    rows) and collapsed by the final distinct — redundancy bounded by
    `bands`, on candidate pairs only.
    """
    hashed = _hashed_grams(df, id_col, text_col, n)
    rows_per_band = num_perms // bands
    sig = hashed.select(
        "_id",
        "hs",
        F.explode(
            band_keys(minhash_signature(F.col("hs"), num_perms), bands, rows_per_band)
        ).alias("band_key"),
    )
    buckets = (
        sig.groupBy("band_key")
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col("_id").alias("id"), F.col("hs").alias("hs")))
            ).alias("docs")
        )
        .filter(F.size("docs") >= 2)
    )
    if max_bucket is not None:
        if stats is not None:
            k = F.size("docs").cast("long")
            row = (
                buckets.filter(F.size("docs") > max_bucket)
                .agg(
                    F.count("*").alias("b"),
                    F.coalesce(F.sum(k * (k - 1) / 2), F.lit(0.0)).alias("p"),
                )
                .collect()[0]
            )
            stats["dropped_buckets"] = int(row["b"])
            stats["dropped_pairs_upper_bound"] = int(row["p"])
        buckets = buckets.filter(F.size("docs") <= max_bucket)
    elif stats is not None:
        stats["dropped_buckets"] = 0
        stats["dropped_pairs_upper_bound"] = 0
    docs = F.col("docs")
    # hash sets are distinct, so |A∪B| = |A| + |B| - |A∩B| — one array pass
    pairs = F.flatten(
        F.transform(
            docs,
            lambda x, i: F.transform(
                F.slice(docs, i + 2, F.size(docs)),
                lambda y: F.struct(
                    x["id"].alias("id_a"),
                    y["id"].alias("id_b"),
                    F.size(F.array_intersect(x["hs"], y["hs"])).alias("inter_size"),
                    (F.size(x["hs"]) + F.size(y["hs"])).alias("sz_sum"),
                ),
            ),
        )
    )
    return (
        buckets.select(F.explode(pairs).alias("p"))
        .select(
            "p.id_a",
            "p.id_b",
            "p.inter_size",
            (F.col("p.sz_sum") - F.col("p.inter_size")).alias("union_size"),
        )
        .filter(
            F.col("inter_size") * den_threshold >= F.col("union_size") * num_threshold
        )
        .distinct()
    )


def embedding_near_dup_pairs(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    *,
    threshold: float = 0.9,
    block_col: str | None = None,
) -> DataFrame:
    """Embedding-cosine near-dup pairs >= threshold (within optional block).

    The blocked join is the scale path: at 100 TB, `block_col` is a coarse
    quantizer (IVF cell / LSH bucket); unblocked all-pairs is test-only.
    """
    cols = [F.col(id_col).alias("_id"), F.col(vec_col).alias("_vec")]
    if block_col:
        cols.append(F.col(block_col).alias("_blk"))
    v = df.select(*cols)
    a, b = v.alias("a"), v.alias("b")
    cond = F.col("a._id") < F.col("b._id")
    if block_col:
        cond = cond & (F.col("a._blk") == F.col("b._blk"))
    return (
        a.join(b, cond)
        .select(
            F.col("a._id").alias("id_a"),
            F.col("b._id").alias("id_b"),
            cosine(F.col("a._vec"), F.col("b._vec")).alias("cos"),
        )
        .filter(F.col("cos") >= threshold)
        .select("id_a", "id_b")
    )


def dedup_components(pairs: DataFrame, *, max_iter: int = 25) -> DataFrame:
    """Canonical-id assignment over the near-dup pair graph: every doc that
    appears in a pair is mapped to the MINIMUM doc id reachable from it —
    the last step of dedup, turning pairwise matches into keep/drop sets.

    Iterative min-label propagation: each round every node takes the min
    of its own label and its neighbors' labels; converges in <= graph
    diameter rounds (near-dup clusters are shallow — a handful of rounds).
    Per round: one join (edges x labels) + one groupBy(node) — both
    shuffles keyed on node id.  ``localCheckpoint`` truncates the lineage
    each round so the plan does not grow with the iteration count (the
    classic Spark iterative-algorithm trap).  At 10^12 docs the same loop
    holds; the alternating small-star/large-star variant (Kiveris et al.,
    "Connected Components in MapReduce") halves the round count but the
    per-round plan is identical.

    Output: (doc_id, cluster_id), one row per node in the pair graph.
    """
    # materialize the edge list ONCE — `pairs` is typically the tail of an
    # expensive discovery pipeline (LSH + verify), and the per-round join
    # would otherwise re-evaluate that whole pipeline every iteration
    edges = (
        pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
        .unionByName(
            pairs.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst"))
        )
        .localCheckpoint(eager=True)
    )
    labels = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
        .localCheckpoint(eager=True)
    )
    # labels only ever DECREASE under min-propagation, so sum(label)
    # strictly drops on any change — a 1-row aggregate is the convergence
    # test (no join against the previous round needed)
    prev_sum = labels.agg(F.sum("label")).collect()[0][0]
    converged = False
    for _ in range(max_iter):
        nbr = edges.join(
            labels.withColumnRenamed("node", "dst"), "dst"
        ).select(F.col("src").alias("node"), "label")
        labels = (
            labels.unionByName(nbr)
            .groupBy("node")
            .agg(F.min("label").alias("label"))
            .localCheckpoint(eager=True)
        )
        cur_sum = labels.agg(F.sum("label")).collect()[0][0]
        if cur_sum == prev_sum:
            converged = True
            break
        prev_sum = cur_sum
    if not converged:
        # a truncated fixpoint silently returns WRONG cluster ids (a long
        # pair chain still propagating); callers could not tell it apart
        # from a converged one — fail instead.  max_iter bounds rounds by
        # the component diameter; for corpora with chain-shaped near-dup
        # graphs use ``dedup_components_star`` (O(log n) rounds).
        raise RuntimeError(
            f"dedup_components did not converge within max_iter={max_iter} "
            "rounds; cluster ids would be incorrect for long pair chains "
            "(use dedup_components_star for high-diameter graphs)"
        )
    return labels.select(
        F.col("node").alias("doc_id"), F.col("label").alias("cluster_id")
    )


def dedup_components_star(
    pairs: DataFrame, *, max_iter: int = 30, stats: dict | None = None
) -> DataFrame:
    """Connected components by alternating LARGE-STAR / SMALL-STAR rounds
    (Kiveris et al., "Connected Components in MapReduce and Beyond",
    SoCC 2014): converges in O(log n) rounds regardless of component
    DIAMETER — the variant for corpora whose near-dup graphs contain long
    pair chains, where plain min-label propagation (``dedup_components``)
    needs diameter-many rounds.

    Per round, with edges held canonically as (a < b):

      * large-star: for each center u, m = min over u and its neighbors;
        every LARGER neighbor v re-attaches as (v, m);
      * small-star: orient edges larger -> smaller (center = larger
        endpoint), m = min over the center's smaller neighbors; the
        center and every other smaller neighbor re-attach to m.

    Both steps are per-center min + JOIN — never a collect_list — so a
    high-degree star node never materializes a neighbor array in one
    task.  Each round is two keyed aggregates + two joins over the
    (shrinking) edge list; ``localCheckpoint`` truncates lineage.
    Convergence = the canonical edge set is identical two rounds running
    ((count, order-insensitive xxhash) fixpoint); at that point every
    edge connects a node directly to its component minimum.

    Output: (doc_id, cluster_id), one row per node of the pair graph —
    same contract as ``dedup_components``.  If ``stats`` is given, the
    executed contraction-round count is recorded under ``stats['rounds']``
    (the O(log n) bound is test-asserted on a 10k-degree power-law graph).
    """
    e = (
        pairs.select(
            F.least("id_a", "id_b").alias("a"), F.greatest("id_a", "id_b").alias("b")
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    # every input node must appear in the output even if star contraction
    # quickly reduces it to a center with no surviving edge row
    all_nodes = (
        pairs.select(F.col("id_a").alias("u"))
        .unionByName(pairs.select(F.col("id_b").alias("u")))
        .distinct()
        .localCheckpoint(eager=True)
    )

    def _canon(df):
        return (
            df.select(F.least("a", "b").alias("a"), F.greatest("a", "b").alias("b"))
            .filter(F.col("a") != F.col("b"))
            .distinct()
        )

    prev = None
    converged = False
    for _ in range(max_iter):
        # ---- large-star ----
        und = e.select(F.col("a").alias("u"), F.col("b").alias("v")).unionByName(
            e.select(F.col("b").alias("u"), F.col("a").alias("v"))
        )
        m = und.groupBy("u").agg(F.least(F.min("v"), F.first("u")).alias("m"))
        e1 = _canon(
            und.join(m, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("a"), F.col("m").alias("b"))
        )
        # ---- small-star (center = larger endpoint; a < b canonically) ----
        dire = e1.select(F.col("b").alias("u"), F.col("a").alias("v"))
        m2 = dire.groupBy("u").agg(F.min("v").alias("m"))  # m < u by construction
        reattached = (
            dire.join(m2, "u")
            .filter(F.col("v") != F.col("m"))
            .select(F.col("v").alias("a"), F.col("m").alias("b"))
        )
        centers = m2.select(F.col("u").alias("a"), F.col("m").alias("b"))
        e = _canon(reattached.unionByName(centers)).localCheckpoint(eager=True)

        row = e.agg(
            F.count(F.lit(1)).alias("n"), F.bit_xor(F.xxhash64("a", "b")).alias("h")
        ).collect()[0]
        cur = (int(row["n"]), int(row["h"] or 0))
        if stats is not None:
            stats["rounds"] = stats.get("rounds", 0) + 1
        if cur == prev:
            converged = True
            break
        prev = cur
    if not converged:
        raise RuntimeError(
            f"dedup_components_star did not converge within max_iter={max_iter} "
            "rounds (expected O(log n) — is the input astronomically large "
            "or max_iter tiny?)"
        )
    und = e.select(F.col("a").alias("u"), F.col("b").alias("v")).unionByName(
        e.select(F.col("b").alias("u"), F.col("a").alias("v"))
    )
    labels = und.groupBy("u").agg(F.least(F.min("v"), F.first("u")).alias("label"))
    return (
        all_nodes.join(labels, "u", "left")
        .select(
            F.col("u").alias("doc_id"),
            F.coalesce("label", F.col("u")).alias("cluster_id"),
        )
    )


def incremental_new_docs(
    batch: DataFrame,
    seen_fingerprints: DataFrame,
    id_col: str,
    text_col: str,
) -> DataFrame:
    """Incremental-ingest dedup: rows of ``batch`` whose normalized-text
    fingerprint is NOT in ``seen_fingerprints`` (one column named
    ``fingerprint``) — the daily-crawl pattern where each increment is
    deduped against the accumulated corpus.

    LEFT ANTI join on the fingerprint: one shuffle keyed on the md5
    fingerprint (uniform, never skewed).  At 10^12 accumulated docs the
    seen-side is a bucketed table on `fingerprint`, making the anti-join
    co-partitioned and shuffle-free on the big side.
    """
    from pdf_extraction_spark.functions.text import content_fingerprint

    fp = batch.withColumn("fingerprint", content_fingerprint(text_col))
    return fp.join(seen_fingerprints, "fingerprint", "left_anti")


def write_fingerprint_corpus(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    table: str,
    path: str,
    buckets: int = 256,
) -> None:
    """Materialize the seen-fingerprint corpus as a Spark table BUCKETED
    on ``fingerprint`` — the layout that makes ``incremental_new_docs``
    co-partitioned at 10^12 accumulated docs: the corpus side of the
    anti-join scans its buckets in place (NO Exchange on the big side —
    plan-asserted in tests/test_dedup.py) and only the much smaller daily
    batch shuffles to ``buckets`` partitions.

    The Iceberg analogue is a ``bucket(N, fingerprint)`` partition
    transform on the table spec; this is the built-in-catalog fallback
    (external table at ``path`` so nothing lands in a warehouse dir).
    """
    from pdf_extraction_spark.functions.text import content_fingerprint

    fp = df.select(
        F.col(id_col), content_fingerprint(text_col).alias("fingerprint")
    )
    (
        fp.write.mode("overwrite")
        .bucketBy(buckets, "fingerprint")
        .sortBy("fingerprint")
        .option("path", path)
        .saveAsTable(table)
    )
