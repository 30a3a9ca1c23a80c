"""Deduplication operators — LLM-data-pipeline extensions (SURVEY.md §2.8 V6).

The reference only dedups on exact primary key (insert-if-absent,
/root/reference/src/coldata/crawler/crawler.py:39-50).  A training-data
pipeline needs content-level dedup; this module provides the ladder:

  exact_dedup        — hash-groupBy on raw text (one shuffle, map-side combine)
  fingerprint_dedup  — md5 of canonicalized text (case/punct/ws-insensitive)
  minhash_signatures — k independent min-hashes over character shingles
  minhash_neardup    — LSH banding: docs sharing a band bucket are candidate
                       near-dups; verified pairs returned
  embedding_neardup  — cosine >= threshold pairs over an embedding column

Scale notes: shingle explode is a flatMap (no shuffle); signatures reduce via
min() with map-side partial aggregation; LSH banding turns the O(n^2) pair
problem into groupBy(band_hash) + within-bucket joins — the standard
MinHash-LSH shape.  The hash family is md5-based (one digest per shingle,
seed variants derived arithmetically) because md5 is identical across
engines, keeping every stage oracle-checkable in DuckDB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from coldata_spark.functions.text import fingerprint

# Hyperplane-LSH verify joins are quadratic in bucket occupancy
# (n / 2^band_size rows per band bucket); above this the banding is too
# narrow for the corpus and the call refuses with the resizing rule.
# Sized so the sf0.1 base fixture (~130 rows/bucket at 4-bit bands) and
# the 16x tier at 8-bit bands (~127) pass with headroom.
MAX_LSH_BUCKET_OCCUPANCY = 192

N_HASHES = 8  # minhash signature length
BAND_SIZE = 2  # hashes per LSH band -> N_HASHES/BAND_SIZE bands
SHINGLE_LEN = 5  # character shingle width


def exact_dedup(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Exact duplicate groups: keeper = min id per identical text."""
    return (
        df.groupBy(F.md5(F.col(text_col)).alias("text_hash"))
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count("*").alias("n_dups"),
        )
    )


def fingerprint_dedup(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Near-exact dedup on the canonical fingerprint (case/punct/ws folded)."""
    return (
        df.groupBy(fingerprint(F.col(text_col)).alias("fp"))
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count("*").alias("n_dups"),
        )
    )


def shingles(
    df: DataFrame,
    text_col: str,
    id_col: str,
    width: int = SHINGLE_LEN,
    distinct: bool = False,
) -> DataFrame:
    """Explode each document into its character shingles (flatMap; the
    shingle array is built in-expression per row, then exploded).

    ``distinct`` applies array_distinct per doc BEFORE the explode — true
    per-doc set semantics with no shuffle.  On natural text it also cuts
    downstream hashing substantially, which is why minhash turns it on.
    """
    from coldata_spark.tables import fan_out

    shingle_array = F.expr(
        f"transform(sequence(1, greatest(1, length({text_col}) - {width - 1})),"
        f" i -> substring({text_col}, i, {width}))"
    )
    if distinct:
        shingle_array = F.array_distinct(shingle_array)
    return fan_out(df).select(
        F.col(id_col).alias("doc_id"), F.explode(shingle_array).alias("shingle")
    )


def minhash_signatures_wide(
    df: DataFrame, text_col: str, id_col: str, n_hashes: int = N_HASHES
) -> DataFrame:
    """(doc_id, h0..h{k-1}): one row per document with its k seeded
    min-hashes as COLUMNS — the layout to PERSIST for incremental dedup:
    band keys and signature-agreement verification both derive from it
    map-side (concat / column compares), so matching a new batch against
    a billion-document corpus never shuffles the corpus signatures."""
    sh = shingles(df, text_col, id_col, distinct=True)
    h1 = F.expr("cast(conv(substring(md5(shingle), 1, 8), 16, 10) as bigint)")
    h2 = F.expr("cast(conv(substring(md5(shingle), 9, 8), 16, 10) as bigint)")
    hashed = sh.select(
        "doc_id",
        *[
            ((h1 + F.lit(s) * h2) % F.lit(4294967296)).alias(f"h{s}")
            for s in range(n_hashes)
        ],
    )
    return hashed.groupBy("doc_id").agg(
        *[F.min(f"h{s}").alias(f"h{s}") for s in range(n_hashes)]
    )


def minhash_signatures(
    df: DataFrame, text_col: str, id_col: str, n_hashes: int = N_HASHES
) -> DataFrame:
    """(doc_id, seed, minhash): for each of ``n_hashes`` seeded hash
    functions, the minimum hash value over the document's shingle set.
    """
    # Shingles are DISTINCT-per-doc here: min-hash is set-insensitive, and
    # on natural-language text the per-doc array_distinct cuts the number
    # of digests substantially for free (no shuffle — it's in-expression).
    # Hash each shingle ONCE (md5), then derive the k seeded hash values
    # arithmetically (Kirsch-Mitzenmacher: g_i = (h1 + i*h2) mod 2^32 from
    # two 32-bit halves of the digest) — k times fewer digest computations,
    # and the min-reduction runs over LONGS in k columns, map-side, so the
    # shuffle carries only #docs x k longs.  Engine-independent: DuckDB
    # reproduces h1/h2 with ('0x' || substr(md5, ..)) casts.
    mins = minhash_signatures_wide(df, text_col, id_col, n_hashes)
    stack = ", ".join(f"{s}, h{s}" for s in range(n_hashes))
    return mins.select(
        "doc_id",
        F.expr(f"stack({n_hashes}, {stack}) AS (seed, minhash)"),
    )


def minhash_neardup_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n_hashes: int = N_HASHES,
    band_size: int = BAND_SIZE,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Candidate near-dup pairs via LSH banding: two docs collide if any
    band (concatenation of ``band_size`` consecutive minhashes) matches.

    Returns distinct (doc_a, doc_b) with doc_a < doc_b plus the estimated
    jaccard = fraction of matching minhash positions.

    ``max_bucket_size`` bounds the within-bucket self-join, which is
    quadratic in bucket population: a degenerate band key (think millions
    of empty or boilerplate documents hashing identically) would otherwise
    schedule bucket_size^2 candidate pairs — the one place this plan can
    blow up at 100 TB.  Buckets above the cap are skipped ENTIRELY (their
    members still pair through their other, non-degenerate bands), which
    is the standard production mitigation; audit what a cap would drop
    with the q143 bucket-balance diagnostic before choosing one.

    Plan shape (round-14 rewrite): the signature pipeline (shingle explode
    -> per-shingle md5 -> per-doc min-reduction) runs ONCE.  Band rows are
    derived map-side from the wide signature frame CARRYING the h-columns
    (the same carry_sigs layout the incremental matcher persists), so
    signature-agreement verification happens IN the band self-join as
    column compares — no per-seed explode, no join back to the signature
    table.  The previous shape referenced the signature pipeline four
    times in one plan (banded a/b + verification sa/sb), and Spark
    re-scanned + re-aggregated the corpus for each: 4 parquet scans and
    4 shingle explodes where one suffices (OPTIMIZATION_r14.md §
    q26/q25/q29).  The self-join's two sides are byte-identical subtrees,
    so the band exchange plans once and the second side reads it as
    ReusedExchange."""
    wide = minhash_signatures_wide(df, text_col, id_col, n_hashes)
    banded = _banded_from_wide(wide, n_hashes, band_size, carry_sigs=True)
    if max_bucket_size is not None:
        # one count window on the join key itself (the exchange is shared
        # with the self-join below), then drop oversized buckets pre-join
        from pyspark.sql import Window as W

        wcnt = W.partitionBy("band", "band_key")
        banded = (
            banded.withColumn("_bucket_n", F.count("*").over(wcnt))
            .filter(F.col("_bucket_n") <= max_bucket_size)
            .drop("_bucket_n")
        )
    # the merge hint pins the self-join to sort-merge at EVERY scale: both
    # sides are byte-identical subtrees whose exchange (shared with the
    # bucket-cap window above) plans once and is read back as
    # ReusedExchange — a broadcast pick (tiny inputs) would instead build
    # the whole signature pipeline twice, once per side
    a = banded.hint("merge").alias("a")
    b = banded.hint("merge").alias("b")
    # estimated jaccard = matching minhash positions / k, straight off the
    # carried h-columns of the two joined band rows (identical for every
    # band a pair collides in, so dropDuplicates keeps one row per pair)
    agree = sum(
        (F.col(f"a.h{s}") == F.col(f"b.h{s}")).cast("int")
        for s in range(n_hashes)
    )
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.round(agree / F.lit(float(n_hashes)), 6).alias("est_jaccard"),
        )
        .dropDuplicates(["doc_a", "doc_b"])
    )


def _banded_from_wide(
    wide: DataFrame,
    n_hashes: int = N_HASHES,
    band_size: int = BAND_SIZE,
    carry_sigs: bool = False,
) -> DataFrame:
    """(doc_id, band, band_key) derived from a wide signature frame with a
    map-side explode — no shuffle, which is what lets incremental matching
    read the persisted corpus signatures without re-aggregating them.
    ``carry_sigs`` keeps the h0..h{k-1} columns alongside each banded row
    (map-side column copies, no extra scan or shuffle) so signature
    verification can happen IN the band join itself instead of a second
    join back to the wide table."""
    n_bands = n_hashes // band_size
    rows = ", ".join(
        "{b}, concat_ws('|', {hs})".format(
            b=b,
            hs=", ".join(
                f"h{s}" for s in range(b * band_size, (b + 1) * band_size)
            ),
        )
        for b in range(n_bands)
    )
    extra = [f"h{s}" for s in range(n_hashes)] if carry_sigs else []
    return wide.select(
        "doc_id",
        *extra,
        F.expr(f"stack({n_bands}, {rows}) AS (band, band_key)"),
    )


def minhash_neardup_incremental(
    new_docs: DataFrame,
    corpus_wide: DataFrame,
    text_col: str,
    id_col: str,
    n_hashes: int = N_HASHES,
    band_size: int = BAND_SIZE,
    max_bucket_size: int | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Incremental near-dup: match a NEW document batch against an
    already-signed corpus without recomputing or reshuffling the corpus —
    the shape periodic re-crawls actually need at 100 TB (the batch-global
    minhash_neardup_pairs would re-pair the entire corpus every run).

    ``corpus_wide`` is the persisted wide signature table
    (minhash_signatures_wide output).  Returns ``(pairs, new_wide)``:

      * ``pairs``: (doc_a, doc_b, est_jaccard, pair_type) where doc_a is
        always the NEW doc; pair_type is 'new_corpus' or 'new_new'
        (within-batch pairs use doc_a < doc_b so each appears once);
      * ``new_wide``: the new batch's wide signatures — fold them into the
        corpus table afterwards (streaming/neardup.py does this with the
        crash-safe fold protocol) so the next batch matches against them.
        It comes back CACHED (referenced three times inside the fold);
        long-running callers should ``unpersist()`` it once folded.

    Scale shape: new-batch signatures cost one shuffle of #new x k longs;
    banding on BOTH sides is a map-side explode; the bucket join touches
    only buckets the new batch collides with (the corpus side is filtered
    by the join itself), and verification compares h-columns of the two
    wide rows — no per-seed explode, no corpus aggregation anywhere.
    ``max_bucket_size`` caps degenerate buckets by TOTAL population
    (corpus + new), same contract as the batch operator.

    Precondition: new-batch ids are disjoint from the corpus (the crawl's
    upsert-if-absent anti-join guarantees this; streaming/neardup.py also
    anti-joins the corpus table defensively so replays after a completed
    fold stay deterministic) — an id on both sides would duplicate its
    verification rows.

    Scale discipline: the ONLY broadcast side is the new batch's banded
    signatures (bounded by the batch contract — a batch ≪ corpus), and
    signature verification happens IN the band join itself: both banded
    streams carry their h-columns map-side (carry_sigs), so the corpus is
    scanned exactly once per fold and there is no join back to the
    corpus∪new wide table (the earlier shape let Spark broadcast that
    billion-row side at fixture scale, and at real scale the same join
    would degrade to a corpus-hashing sort-merge).  tests/test_plans.py
    gates that no corpus scan has an Exchange between it and its consuming
    join."""
    new_wide = minhash_signatures_wide(
        new_docs, text_col, id_col, n_hashes
    ).cache()  # referenced below (banded broadcast, touched-bucket keys)
    # and returned for the caller's fold; uncached, the shingle explode +
    # signature aggregation of the batch would run per reference
    new_banded = _banded_from_wide(
        new_wide, n_hashes, band_size, carry_sigs=True
    )
    both = _banded_from_wide(
        corpus_wide, n_hashes, band_size, carry_sigs=True
    ).withColumn("_new", F.lit(False)).unionByName(
        new_banded.withColumn("_new", F.lit(True))
    )
    if max_bucket_size is not None:
        from pyspark.sql import Window as W

        # Candidates need a collision with the NEW batch, so only buckets
        # the batch touches can matter: semi-join to the (broadcast) new
        # band keys FIRST, then count populations inside those buckets
        # only.  The previous shape windowed over ALL corpus band rows —
        # an Exchange of the entire corpus per fold, exactly what this
        # operator promises not to do.  Bucket populations are unchanged
        # (every member of a touched bucket passes the semi-join), so
        # results are identical.
        touched = new_banded.select("band", "band_key").distinct()
        both = both.join(
            F.broadcast(touched), ["band", "band_key"], "left_semi"
        )
        wcnt = W.partitionBy("band", "band_key")
        both = (
            both.withColumn("_bucket_n", F.count("*").over(wcnt))
            .filter(F.col("_bucket_n") <= max_bucket_size)
            .drop("_bucket_n")
        )
    a = F.broadcast(new_banded).alias("a")
    b = both.alias("b")
    # signature agreement straight off the joined banded rows: map-side
    # column compares, no second join, no broadcast of anything unbounded
    agree = sum(
        (F.col(f"a.h{s}") == F.col(f"b.h{s}")).cast("int")
        for s in range(n_hashes)
    )
    pairs = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            # corpus partners always pair; new partners only once (a < b)
            & (
                (~F.col("b._new"))
                | (F.col("a.doc_id") < F.col("b.doc_id"))
            )
            & (F.col("a.doc_id") != F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.round(agree / F.lit(float(n_hashes)), 6).alias("est_jaccard"),
            F.col("b._new"),
        )
        # one row per pair regardless of how many bands collided; the
        # shuffle carries only (ids, est, flag) — collision-bounded
        .dropDuplicates(["doc_a", "doc_b"])
        .select(
            "doc_a",
            "doc_b",
            "est_jaccard",
            F.when(F.col("_new"), F.lit("new_new"))
            .otherwise(F.lit("new_corpus"))
            .alias("pair_type"),
        )
    )
    return pairs, new_wide


def repeated_ngram_windows(
    df: DataFrame, text_col: str, id_col: str, window: int = 8
) -> DataFrame:
    """Cross-document EXACT-SUBSTRING duplication at n-token granularity —
    the remaining rung of the dedup ladder (Lee et al. 2022, "Deduplicating
    Training Data Makes Language Models Better", which removes repeated
    ~50-token spans; the public suffix-array recipe is single-node, this is
    the distributed n-gram-anchor equivalent).

    Every ``window``-token sliding window is hashed (md5 of the
    space-joined tokens — engine-portable, oracle-checkable); a window is
    DUPLICATED when its exact token sequence appears in more than one
    document.  Returns one row per window:

        (doc_id, pos, gram_hash, dup)    pos = 1-based token offset

    so callers can either clip the flagged spans (pos..pos+window-1) or
    aggregate a per-document duplication ratio to filter on (q160 does the
    latter).

    Scale shape: the window explode is a flatMap (~1 row per token, no
    shuffle); the duplicate decision is ONE hash-groupBy over window
    hashes with map-side partial distinct — linear shuffle in corpus
    token count, which is the accepted distributed cost of exact-substring
    dedup (a suffix array would be cheaper per query but needs global
    sorted construction).  The mark-back join is a plain equi-join on the
    hash, co-partitioned with the groupBy's own exchange."""
    _words, grams = _token_windows(df, text_col, id_col, window)
    rep = (
        grams.groupBy("gram_hash")
        .agg(F.count_distinct("doc_id").alias("_nd"))
        .filter(F.col("_nd") > 1)
        .select("gram_hash", F.lit(True).alias("_dup"))
    )
    return grams.join(rep, "gram_hash", "left").select(
        "doc_id",
        "pos",
        "gram_hash",
        F.coalesce(F.col("_dup"), F.lit(False)).alias("dup"),
    )


def _token_windows(
    df: DataFrame, text_col: str, id_col: str, window: int
) -> tuple[DataFrame, DataFrame]:
    """Shared tokenizer for the exact-substring operators: returns
    ``(words, grams)`` where words = (doc_id, w array<string>) for EVERY
    document and grams = (doc_id, pos, gram_hash) for each ``window``-token
    sliding window (1-based pos; docs shorter than the window emit none).
    The whitespace class is explicit, NOT \\s: Java's \\s matches vertical
    tab (\\x0B) but DuckDB's RE2 \\s does not — a crawled document
    containing one would tokenize differently across engines and fail the
    oracle.  Empty tokens are filtered AFTER the split (instead of trim
    before it): split keeps a leading/trailing '' token when the text
    starts/ends with whitespace trim() doesn't strip (\\n, \\t), and that
    phantom token would otherwise count toward window positions and hash
    into the grams."""
    w = F.filter(
        F.split(F.col(text_col), r"[ \t\n\r\f\x0B]+"),
        lambda x: x != F.lit(""),
    )
    words = df.select(F.col(id_col).alias("doc_id"), w.alias("w"))
    grams = (
        words.filter(F.size("w") >= window)
        .select(
            "doc_id",
            F.posexplode(
                F.expr(
                    f"transform(sequence(1, size(w) - {window - 1}), "
                    f"i -> md5(array_join(slice(w, i, {window}), ' ')))"
                )
            ).alias("pos0", "gram_hash"),
        )
        .select("doc_id", (F.col("pos0") + 1).alias("pos"), "gram_hash")
    )
    return words, grams


def clip_repeated_spans(
    df: DataFrame, text_col: str, id_col: str, window: int = 8
) -> DataFrame:
    """Remove cross-document repeated spans from the corpus — the CLEANING
    half of Lee et al. 2022's exact-substring dedup (repeated_ngram_windows
    is the report).  For every window whose exact token sequence appears in
    more than one document, the document with the smallest id keeps its
    text (the canonical occurrence) and every other occurrence is clipped:
    all tokens covered by a non-canonical duplicated window are dropped and
    the text rebuilt from the survivors.

    Returns (doc_id, clean_text, n_tokens_removed).  clean_text is
    WHITESPACE-NORMALIZED (tokens re-joined with single spaces) for every
    document, clipped or not — the operator's output is a uniform corpus,
    not a mix of raw and rebuilt strings.

    Scale shape: everything up to the flagged windows is the
    repeated_ngram_windows pipeline (flatMap explode + one linear
    hash-groupBy); the clip itself is a per-doc collect of covered token
    indices (bounded by the doc's own length) and one in-expression
    rebuild — no extra corpus-wide shuffle beyond the report's."""
    words, grams = _token_windows(df, text_col, id_col, window)
    rep = (
        grams.groupBy("gram_hash")
        .agg(
            F.count_distinct("doc_id").alias("_nd"),
            F.min("doc_id").alias("_canon"),
        )
        .filter(F.col("_nd") > 1)
        .select("gram_hash", "_canon")
    )
    flagged = grams.join(rep, "gram_hash").filter(
        F.col("doc_id") != F.col("_canon")
    )
    covered = (
        flagged.select(
            "doc_id",
            F.explode(F.expr(f"sequence(pos, pos + {window - 1})")).alias("i"),
        )
        .groupBy("doc_id")
        .agg(F.collect_set("i").alias("cov"))
    )
    # clean_text coalesces to '' so NULL-text documents come out as empty
    # strings like everything else (the uniform-corpus contract); the
    # cov-isNull guard (not size+coalesce) keeps n_tokens_removed correct
    # on Spark 3.x clusters where legacy sizeOfNull makes size(NULL) = -1.
    return words.join(covered, "doc_id", "left").select(
        "doc_id",
        F.coalesce(
            F.expr(
                "array_join(filter(transform(w, (x, i0) -> "
                "CASE WHEN array_contains(coalesce(cov, array()), i0 + 1) "
                "THEN NULL ELSE x END), x -> x IS NOT NULL), ' ')"
            ),
            F.lit(""),
        ).alias("clean_text"),
        F.when(F.col("cov").isNull(), F.lit(0))
        .otherwise(F.size("cov"))
        .cast("long")
        .alias("n_tokens_removed"),
    )


def connected_components(
    pairs: DataFrame,
    a_col: str = "doc_a",
    b_col: str = "doc_b",
    max_iters: int = 20,
) -> DataFrame:
    """Connected components over a near-dup pair graph -> (doc_id,
    component) where component = min doc_id reachable.  Turns pairwise
    near-dup evidence (minhash_neardup_pairs / embedding_neardup_pairs)
    into DEDUP GROUPS: keep component, drop the rest.

    Algorithm: iterative min-label propagation (each round joins labels
    across edges and keeps the min; converges in O(diameter) rounds —
    near-dup graphs are almost always tiny cliques, so 2-3 rounds).  Each
    round is one join + one aggregate, so the driver never touches row
    data.  (GraphFrames' CC is the same loop minus the library dependency.)

    Round-14 plan-shape rewrite: each round's frame is materialized with
    ``localCheckpoint`` so its LINEAGE is truncated.  The previous
    cache()-based loop kept the full logical tree — ``new_labels``
    references ``labels`` twice (union + neighbor join), so the plan
    DOUBLED per round, and although the cache kept row data warm, every
    per-round convergence count re-analyzed and re-optimized the whole
    exponentially-grown tree driver-side: q59's explain carried 1,877
    Exchange nodes (OPTIMIZATION_r14.md § q59_dedup_groups) and q59/q140
    spent 28/47 s at the 16x tier almost entirely in the optimizer.
    Checkpointing keeps every round's plan constant-size (guide §3.3 /
    §7.3 — very large plans make planning itself the bottleneck).  The
    convergence count rides the ``_old`` column carried through the
    aggregate (min ignores NULLs; each id has exactly one labels row) —
    no per-round join against the previous labels, one cheap action on
    the already-materialized round result.
    """
    edges = pairs.select(
        F.col(a_col).alias("src"), F.col(b_col).alias("dst")
    )
    # undirected: propagate both ways
    edges = edges.union(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    # materialize the pair graph ONCE: every round below re-reads it, and
    # its upstream (the LSH pair pipeline) is the expensive part
    edges = edges.localCheckpoint(eager=True)
    labels = (
        edges.select(F.col("src").alias("id"))
        .distinct()
        .withColumn("component", F.col("id"))
        .localCheckpoint(eager=True)
    )
    id_type = labels.schema["component"].dataType
    changed = -1
    for _ in range(max_iters):
        # neighbor labels: for each node, min label among itself + neighbors
        neighbor = (
            edges.join(labels, edges.dst == labels.id)
            .select(
                F.col("src").alias("id"),
                "component",
                F.lit(None).cast(id_type).alias("_old"),
            )
        )
        new_labels = (
            labels.select("id", "component", F.col("component").alias("_old"))
            .union(neighbor)
            .groupBy("id")
            .agg(
                F.min("component").alias("component"),
                F.min("_old").alias("_old"),
            )
            .localCheckpoint(eager=True)
        )
        changed = new_labels.filter(
            F.col("component") != F.col("_old")
        ).count()
        labels = new_labels.drop("_old")
        if changed == 0:
            break
    if changed != 0:
        # silently returning half-propagated labels would make
        # dedup_keepers keep several "keepers" per real group — fail loud
        # (a >max_iters-diameter chain means raise max_iters, not trust
        # whatever the last round produced)
        raise RuntimeError(
            f"connected_components did not converge in {max_iters} rounds "
            f"({changed} labels still moving) — the pair graph has a "
            f"longer chain than max_iters; raise max_iters"
        )
    return labels


def dedup_keepers(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    a_col: str = "doc_a",
    b_col: str = "doc_b",
) -> DataFrame:
    """Collapse near-dup groups: every doc in a component except the min-id
    keeper is dropped.  Docs in no component survive untouched.
    ``a_col``/``b_col`` name the pair columns (doc_a/doc_b for the text
    operators, id_a/id_b for the embedding ones)."""
    comp = connected_components(pairs, a_col=a_col, b_col=b_col)
    drop = comp.filter(F.col("id") != F.col("component")).select(
        F.col("id").alias(id_col)
    )
    return df.join(drop, id_col, "left_anti")


def embedding_neardup_lsh(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    n_planes: int = 16,
    band_size: int = 4,
    seed: int = 42,
) -> DataFrame:
    """Embedding near-dup via random-hyperplane LSH blocking: exact cosine
    is computed ONLY within candidate buckets, never across the full n^2.

    sign(v . h_j) over n_planes hyperplanes -> bit signature; signatures
    split into bands of band_size bits; vectors sharing any band bucket are
    candidates.  P(bit agrees) = 1 - angle/pi, so cos >= 0.95 pairs agree
    per bit with p ~ 0.9 and collide on some 4-bit band with p ~ 0.94 at 4
    bands.  Shapes: vectors x planes flatMap (no shuffle), band groupBy,
    within-bucket join — the same topology as MinHash-LSH, on embeddings.
    """
    import numpy as np

    from coldata_spark.functions import vector as V
    from coldata_spark.tables import fan_out

    rng = np.random.default_rng(seed)
    spark = emb.sparkSession
    first = emb.select(vec_col).first()
    if first is None or first[0] is None:
        # empty input (or null leading vector): no pairs, not a crash
        return spark.createDataFrame(
            [], f"id_a {emb.schema[id_col].dataType.simpleString()}, "
            f"id_b {emb.schema[id_col].dataType.simpleString()}, "
            "cos_sim double",
        )
    dim = len(first[0])
    planes = [
        (j, [float(x) for x in rng.standard_normal(dim)]) for j in range(n_planes)
    ]
    pdf = spark.createDataFrame(planes, ["plane_id", "pvec"]).coalesce(1)

    vec = fan_out(emb).select(
        F.col(id_col).alias("vid"), V.as_double(F.col(vec_col)).alias("v")
    )
    bits = (
        vec.join(F.broadcast(pdf))
        .select(
            "vid",
            "plane_id",
            F.when(V.dot(F.col("v"), F.col("pvec")) >= 0, "1").otherwise("0").alias("bit"),
        )
    )
    sigs = (
        bits.withColumn("band", (F.col("plane_id") / band_size).cast("int"))
        .groupBy("vid", "band")
        .agg(
            F.concat_ws(
                "",
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct(F.col("plane_id"), F.col("bit")))
                    ),
                    lambda s: s.bit,
                ),
            ).alias("band_key")
        )
    )
    a = sigs.select(F.col("vid").alias("id_a"), "band", "band_key")
    b = sigs.select(F.col("vid").alias("id_b"), "band", "band_key")
    cand = (
        a.join(b, ["band", "band_key"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    va = emb.select(
        F.col(id_col).alias("id_a"), V.as_double(F.col(vec_col)).alias("va")
    )
    vb = emb.select(
        F.col(id_col).alias("id_b"), V.as_double(F.col(vec_col)).alias("vb")
    )
    cos = F.round(V.cosine(F.col("va"), F.col("vb")), 6)
    return (
        cand.join(va, "id_a")
        .join(vb, "id_b")
        .select("id_a", "id_b", cos.alias("cos_sim"))
        .filter(F.col("cos_sim") >= threshold)
    )


def _idot(a, b):
    """Integer dot product of two bigint arrays as a column expression."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )


def embedding_neardup_lsh_exact(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    thresh_num: int = 95,
    thresh_den: int = 100,
    n_planes: int = 16,
    band_size: int = 4,
    quant: int = 1000,
    seed: int = 0,
    dim: int = 64,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Banded hyperplane-LSH near-dup with a bit-exact cross-engine
    contract (the hash-verified twin of embedding_neardup_lsh; pair with
    ``lsh_exact_sql`` for the DuckDB oracle):

      * vectors quantize to ``floor(x * quant)`` int64 components (floor,
        not round — no tie-break divergence between engines);
      * the hyperplanes derive from ``md5((j + seed) || '_' || i)`` —
        the conv(substring(md5..)) twin family (ORACLE_PARITY.md) —
        giving integer weights in [-1000, 1000]; ``seed`` selects an
        independent plane family;
      * signature bits are signs of INTEGER plane dots, banded into
        ``band_size``-bit integer band keys; candidates pair on shared
        band buckets (never all-pairs — quadratic only within buckets);
      * ``cosine >= thresh_num/thresh_den`` is cross-multiplied into pure
        integers: dot > 0 AND dot^2 * den^2 >= norm_a * norm_b * num^2,
        evaluated in decimal(38,0) headroom — no sqrt, no float anywhere
        after quantization.

    Output (id_a, id_b, dot_q, norm_a, norm_b) is bit-exact on any
    engine.  Scale shape: plane scoring broadcasts ``n_planes`` constant
    rows, banding is one #vectors x (n_planes/band_size) shuffle, the
    verify join touches only bucket-collided pairs — QUADRATIC in bucket
    occupancy n / 2^band_size, which is why band width is a function of
    corpus size, not a constant: an occupancy gate below refuses configs
    whose bands are too narrow for the input (the round-13 lesson: the
    4x4-bit q152/q39 points, sized for the sf0.01/sf0.1 checks, ground
    for 17+ minutes at the 16x tier — ~2040 rows/bucket, 266M candidate
    pairs — even after the replica-isometry fix removed the verbatim-clone
    artifact; the tier-sized operating point runs as
    q182_embedding_neardup_lsh_scaled with 8-bit bands).
    """
    from coldata_spark.functions import vector as V
    from coldata_spark.operators.joins import _estimated_bytes
    from coldata_spark.operators.similarity import (
        _UNKNOWN_STATS_FLOOR,
        _estimated_rows,
    )
    from coldata_spark.tables import fan_out

    # row estimate: prefer the plan's row-count statistic when CBO has
    # one; otherwise derive rows from the optimizer size (a dim-element
    # double/bigint array row is ~dim*8 B + overhead — callers should
    # pass a projection of only (id, vec), since extra columns inflate
    # the byte heuristic and over-fire the gate).  Occupancy above ~192
    # rows/bucket makes the verify join's within-bucket pair count the
    # dominant term.
    est_rows = _estimated_rows(emb)
    est = _estimated_bytes(emb)
    if est_rows > 0 or 0 < est < _UNKNOWN_STATS_FLOOR:
        rows = est_rows if est_rows > 0 else est / (dim * 8 + 16)
        occupancy = rows / (1 << band_size)
        if occupancy > MAX_LSH_BUCKET_OCCUPANCY:
            raise ValueError(
                f"embedding_neardup_lsh_exact: estimated bucket occupancy "
                f"{occupancy:.0f} rows "
                f"({'row-stat ' + str(est_rows) if est_rows > 0 else f'est {est / 1e6:.0f} MB'} / "
                f"2^{band_size} buckets) exceeds "
                f"{MAX_LSH_BUCKET_OCCUPANCY} — the verify join is "
                f"quadratic in occupancy.  Widen the bands so "
                f"n/2^band_size stays bounded (band_size ~ log2(n) - 7; "
                f"the 8-bit q182 operating point covers the 16x tier), "
                f"the same way SemDeDup scales n_clusters with n."
            )

    spark = emb.sparkSession
    quantized = F.transform(
        V.as_double(F.col(vec_col)),
        lambda x: F.floor(x * F.lit(quant)).cast("bigint"),
    )
    qv = fan_out(emb).select(
        F.col(id_col).alias("vec_id"),
        # fail loud on a vector whose length differs from ``dim``: the
        # plane dot would zip_with-pad with NULLs, silently turning every
        # signature bit to 0 (one degenerate bucket) and every verify dot
        # to NULL (zero pairs returned)
        F.when(F.size(F.col(vec_col)) == dim, quantized)
        .otherwise(
            F.raise_error(
                F.concat(
                    F.lit(
                        "embedding_neardup_lsh_exact: vector length "
                    ),
                    F.size(F.col(vec_col)).cast("string"),
                    F.lit(f" != dim={dim}"),
                )
            )
        )
        .alias("q"),
    )
    planes = spark.range(n_planes).select(
        F.col("id").cast("int").alias("j"),
        F.expr(
            f"transform(sequence(1, {dim}), i -> "
            f"(cast(conv(substring(md5(concat(cast(id + {seed} as string), "
            "'_', cast(i as string))), 1, 8), 16, 10) as bigint)"
            " % 2001) - 1000)"
        ).alias("w"),
    )
    bits = qv.join(F.broadcast(planes)).select(
        "vec_id",
        "j",
        F.when(_idot(F.col("q"), F.col("w")) >= 0, F.lit(1))
        .otherwise(F.lit(0))
        .alias("bit"),
    )
    bands = (
        bits.withColumn("band", (F.col("j") / band_size).cast("int"))
        .groupBy("vec_id", "band")
        .agg(
            F.sum(
                F.col("bit") * F.expr(f"shiftleft(1, j % {band_size})")
            ).alias("band_key")
        )
    )
    if max_bucket_size is not None:
        # hot-bucket cap, same contract as minhash_neardup_pairs: the
        # within-bucket join is quadratic in bucket population, and a
        # 4-bit band key has only 16 buckets per band — a corpus of
        # near-identical vectors (the replicated tier fixture is the
        # degenerate case: replicas are EXACT copies) multiplies every
        # bucket and squares the verify join.  Oracle twin: the QUALIFY
        # clause lsh_exact_sql emits from the same parameter.
        kept = (
            bands.groupBy("band", "band_key")
            .agg(F.count(F.lit(1)).alias("_n"))
            .filter(F.col("_n") <= max_bucket_size)
            .drop("_n")
        )
        bands = bands.join(kept, ["band", "band_key"])
    # Verify join, vectorized (round 13 — the q164 lesson applied here
    # too): instead of materializing every bucket-collided pair as a
    # Spark row and folding three 64-element zip_with aggregates per
    # pair, each (band, band_key) bucket group computes ONE BLAS gram
    # matmul (exact integer dots in float64 — products and 64-term sums
    # sit far under 2^53) and emits only the pairs that pass the exact
    # cross-multiplied test (_np_dup_mask's float screen + Python-int
    # band recheck).  A pair colliding in several bands is scored in
    # each and deduped by the final distinct — identical output set to
    # the old cand.distinct()-then-score plan, measured 29 s -> ~5 s on
    # q182's 16x point.
    import numpy as np
    import pandas as pd

    num2, den2 = thresh_num * thresh_num, thresh_den * thresh_den
    banded = bands.join(qv, "vec_id")

    def bucket_pairs(pdf: "pd.DataFrame") -> "pd.DataFrame":
        empty = pd.DataFrame(
            {
                "id_a": np.empty(0, dtype=np.int64),
                "id_b": np.empty(0, dtype=np.int64),
                "dot_q": np.empty(0, dtype=np.int64),
                "norm_a": np.empty(0, dtype=np.int64),
                "norm_b": np.empty(0, dtype=np.int64),
            }
        )
        if len(pdf) < 2:
            return empty
        pdf = pdf.sort_values("vec_id").reset_index(drop=True)
        ids = pdf["vec_id"].to_numpy(dtype=np.int64)
        Q = np.array(
            [np.asarray(v, dtype=np.float64) for v in pdf["q"]]
        )
        _np_exact_guard(Q, "embedding_neardup_lsh_exact.bucket_pairs")
        G = Q @ Q.T
        norms = np.einsum("ij,ij->i", Q, Q)
        mask = _np_cand_mask(G, norms, norms, num2, den2)
        mask &= np.arange(len(ids))[None, :] > np.arange(len(ids))[:, None]
        i, j = np.nonzero(mask)
        if not len(i):
            return empty
        dab, na, nb = G[i, j], norms[i], norms[j]
        dup = _np_dup_mask(dab, na, nb, num2, den2)
        i, j, dab = i[dup], j[dup], dab[dup]
        return pd.DataFrame(
            {
                "id_a": ids[i],
                "id_b": ids[j],
                "dot_q": dab.astype(np.int64),
                "norm_a": norms[i].astype(np.int64),
                "norm_b": norms[j].astype(np.int64),
            }
        )

    return (
        banded.groupBy("band", "band_key")
        .applyInPandas(
            bucket_pairs,
            "id_a bigint, id_b bigint, dot_q bigint, "
            "norm_a bigint, norm_b bigint",
        )
        .distinct()
    )


def lsh_exact_sql(
    base_cte: str,
    thresh_num: int = 95,
    thresh_den: int = 100,
    n_planes: int = 16,
    band_size: int = 4,
    quant: int = 1000,
    seed: int = 0,
    dim: int = 64,
    max_bucket_size: int | None = None,
) -> str:
    """DuckDB oracle for embedding_neardup_lsh_exact, generated from the
    SAME parameters so the two engines cannot drift.  ``base_cte`` must
    select (vec_id, e DOUBLE[])."""
    num2, den2 = thresh_num * thresh_num, thresh_den * thresh_den
    cap_clause = (
        ""
        if max_bucket_size is None
        else (
            "\n        QUALIFY count(*) OVER (PARTITION BY band, band_key)"
            f" <= {max_bucket_size}"
        )
    )
    return f"""
    WITH base AS ({base_cte}),
    qv AS (
        SELECT vec_id,
               list_transform(e, x -> CAST(floor(x * {quant}) AS BIGINT)) AS q
        FROM base
    ),
    planes AS (
        SELECT j,
               list_transform(generate_series(1, {dim}), i ->
                   ((('0x' || substring(md5((j + {seed})::VARCHAR || '_'
                                        || i::VARCHAR),
                                        1, 8))::BIGINT % 2001) - 1000)
               ) AS w
        FROM generate_series(0, {n_planes - 1}) t(j)
    ),
    bits AS (
        SELECT vec_id, j,
               CASE WHEN CAST(list_dot_product(q, w) AS BIGINT) >= 0
                    THEN 1 ELSE 0 END AS bit
        FROM qv, planes
    ),
    bands AS (
        SELECT vec_id, band, band_key FROM (
            SELECT vec_id, j // {band_size} AS band,
                   CAST(sum(bit * (1 << (j % {band_size}))) AS BIGINT)
                       AS band_key
            FROM bits GROUP BY vec_id, j // {band_size}
        ){cap_clause}
    ),
    cand AS (
        SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
        FROM bands a JOIN bands b USING (band, band_key)
        WHERE a.vec_id < b.vec_id
    ),
    scored AS (
        SELECT id_a, id_b,
               CAST(list_dot_product(qa.q, qb.q) AS BIGINT) AS dot_q,
               CAST(list_dot_product(qa.q, qa.q) AS BIGINT) AS norm_a,
               CAST(list_dot_product(qb.q, qb.q) AS BIGINT) AS norm_b
        FROM cand
        JOIN qv qa ON qa.vec_id = cand.id_a
        JOIN qv qb ON qb.vec_id = cand.id_b
    )
    SELECT id_a, id_b, dot_q, norm_a, norm_b
    FROM scored
    WHERE dot_q > 0
      AND CAST(dot_q AS HUGEINT) * dot_q * {den2}
          >= CAST(norm_a AS HUGEINT) * norm_b * {num2}
    """


def simhash_signatures(
    df: DataFrame, text_col: str, id_col: str, bits: int = 32
) -> DataFrame:
    """32-bit SimHash per document: each whitespace token hashes to a
    32-bit value (md5 prefix); bit j of the signature is the sign of the
    sum of +-1 contributions across tokens.

    Shape: token explode (flatMap) -> 32 conditional partial sums map-side
    -> one small shuffle (#docs groups) -> bit-pack projection.  Near-dup
    docs land within a small hamming distance; pairing at scale buckets on
    signature bands like MinHash-LSH.
    """
    from coldata_spark.tables import fan_out

    toks = fan_out(df).select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.split(F.trim(F.col(text_col)), r"\s+")).alias("tok"),
    )
    h = F.expr("cast(conv(substring(md5(tok), 1, 8), 16, 10) as bigint)")
    hashed = toks.withColumn("h", h).select(
        "doc_id",
        *[
            F.when((F.shiftright(F.col("h"), j) % 2) == 1, 1)
            .otherwise(-1)
            .alias(f"b{j}")
            for j in range(bits)
        ],
    )
    sums = hashed.groupBy("doc_id").agg(
        *[F.sum(f"b{j}").alias(f"b{j}") for j in range(bits)]
    )
    sig = None
    for j in range(bits):
        term = F.when(F.col(f"b{j}") > 0, F.lit(1 << j)).otherwise(0)
        sig = term if sig is None else sig + term
    return sums.select("doc_id", sig.cast("bigint").alias("simhash"))


def hamming32(a, b):
    """Column expr: hamming distance between two 32-bit signatures."""
    return F.bit_count(a.bitwiseXOR(b))


def embedding_neardup_pairs(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    force: bool = False,
) -> DataFrame:
    """All (a, b) pairs with cosine >= threshold, a < b — brute-force exact.

    O(n^2): correct at verification scale; the 100 TB path blocks by LSH or
    IVF centroid first (see operators.similarity / queries.vector_queries)
    so only within-bucket pairs are scored.  A size gate refuses inputs
    whose optimizer estimate makes the pair count explode, unless forced.
    """
    from coldata_spark.functions import vector as V
    from coldata_spark.operators.similarity import (
        PAIR_GATE_BYTES,
        refuse_at_scale,
    )
    from coldata_spark.tables import fan_out

    refuse_at_scale(
        emb,
        "embedding_neardup_pairs",
        "This is the O(n^2) verification baseline — use "
        "embedding_neardup_lsh for the production near-dup path.",
        force,
        PAIR_GATE_BYTES,
    )
    emb = fan_out(emb)
    a = emb.select(
        F.col(id_col).alias("id_a"), V.as_double(F.col(vec_col)).alias("va")
    )
    b = emb.select(
        F.col(id_col).alias("id_b"), V.as_double(F.col(vec_col)).alias("vb")
    )
    pairs = a.join(b, F.col("id_a") < F.col("id_b"))
    cos = F.round(V.cosine(F.col("va"), F.col("vb")), 6)
    return (
        pairs.select("id_a", "id_b", cos.alias("cos_sim"))
        .filter(F.col("cos_sim") >= threshold)
    )


def semantic_dedup_exact(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_clusters: int = 16,
    thresh_num: int = 80,
    thresh_den: int = 100,
    quant: int = 1000,
    seed: int = 7,
    dim: int = 64,
    force: bool = False,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient learning at
    web-scale through semantic deduplication") with a bit-exact
    cross-engine contract (pair with ``semdedup_sql`` for the oracle):
    cluster embeddings, compare pairs ONLY within a cluster, and for every
    pair above the cosine threshold keep the member with the LOWEST
    similarity to its cluster centroid (the paper's keep-the-outlier rule
    — the retained example carries the most marginal information),
    dropping the other.

    Determinism choices, mirroring embedding_neardup_lsh_exact:
      * vectors quantize to ``floor(x * quant)`` int64;
      * centroids are the md5-derived integer direction family
        (``seed`` selects it) rather than k-means iterates — the operator
        is the within-cluster prune; any centroid table (e.g. build_ivf's
        k-means output) can replace them in production, this fixed family
        is what makes the oracle reproducible;
      * assignment = argmax_j dot_int(q, c_j), ties to the smaller j;
      * the cosine >= thresh test and the lower-centroid-similarity
        keep rule are cross-multiplied into pure integers (decimal(38,0)
        headroom), sign-split so negative dots order correctly;
      * cos ties inside a dup pair keep the smaller vec_id.

    Returns every input row as (vec_id, cell, cdot, norm_q, kept 0/1) —
    the full census, so the oracle checks both survivors and drops.

    Scale shape: centroid scoring broadcasts ``n_clusters`` constant rows
    (one pass, no shuffle); the prune joins pairs within cells only —
    quadratic in the CELL size, which is the SemDeDup design point (the
    paper runs k ~ n/5000 so cells stay bounded; the refuse_at_scale gate
    scales with n_clusters accordingly)."""
    from coldata_spark.operators.similarity import (
        QUADRATIC_GATE_BYTES,
        refuse_at_scale,
    )

    refuse_at_scale(
        emb,
        "semantic_dedup_exact",
        "Raise n_clusters so the per-cell pair count stays bounded "
        "(the paper's k ~ n/5000).",
        force,
        QUADRATIC_GATE_BYTES * n_clusters,
    )
    assigned = _semdedup_assign(
        emb, id_col, vec_col, n_clusters, quant, seed, dim
    )
    losers = _self_losers_grouped(assigned, thresh_num, thresh_den)
    return _apply_losers(assigned, losers)


_DEC = "decimal(38,0)"


def _semdedup_assign(
    emb: DataFrame,
    id_col: str,
    vec_col: str,
    n_clusters: int,
    quant: int,
    seed: int,
    dim: int,
) -> DataFrame:
    """(vec_id, q, cell, cdot, norm_q): quantize + shuffle-free centroid
    assignment.  Centroids are md5-derived, so they can be computed
    DRIVER-SIDE (the same arithmetic hashlib.md5 / Spark md5 / DuckDB md5
    all agree on) and inlined as n_clusters x dim integer literals:
    assignment is one map-side projection — no join, no n x k explode, no
    per-vector window."""
    import hashlib

    from coldata_spark.functions import vector as V
    from coldata_spark.tables import fan_out

    quantized = F.transform(
        V.as_double(F.col(vec_col)),
        lambda x: F.floor(x * F.lit(quant)).cast("bigint"),
    )
    qv = fan_out(emb).select(
        F.col(id_col).alias("vec_id"),
        F.when(F.size(F.col(vec_col)) == dim, quantized)
        .otherwise(
            F.raise_error(
                F.concat(
                    F.lit("semantic_dedup: vector length "),
                    F.size(F.col(vec_col)).cast("string"),
                    F.lit(f" != dim={dim}"),
                )
            )
        )
        .alias("q"),
    )
    cent_lits = []
    for j in range(n_clusters):
        w = [
            (
                int(
                    hashlib.md5(f"{j + seed}_{i}".encode()).hexdigest()[:8],
                    16,
                )
                % 2001
            )
            - 1000
            for i in range(1, dim + 1)
        ]
        cent_lits.append(
            F.struct(
                F.lit(j).alias("j"),
                F.array(*[F.lit(x).cast("bigint") for x in w]).alias("c"),
            )
        )
    arr = F.array(*cent_lits)
    # struct max orders by (dc, -j): highest dot, ties to the smallest j
    scored = F.transform(
        arr,
        lambda c: F.struct(
            _idot(F.col("q"), c["c"]).alias("dc"), (-c["j"]).alias("t")
        ),
    )
    best = F.array_max(scored)
    return qv.select(
        "vec_id",
        "q",
        (-best["t"]).cast("int").alias("cell"),
        best["dc"].alias("cdot"),
        _idot(F.col("q"), F.col("q")).alias("norm_q"),
    )


def _np_cross_mul(x, y, z):
    """Exact-integer float64 product screen: x*y*z with inputs that are
    exact integers in float64.  Callers compare two such products with
    ``_np_cmp`` (clear-margin float verdicts + Python-int recheck in the
    rounding band), which keeps the arithmetic bit-exact without
    decimal(38) columns."""
    return x * y * z


def _np_cmp(lhs, rhs, li, ri):
    """(ge, gt) boolean arrays for lhs vs rhs where both sides are float64
    products of exact integers and ``li``/``ri`` return the PYTHON-INT
    value of side k for index i (the exact recheck).  Float products of
    three <2^53 ints carry <= ~7e-16 relative error; outside a 1e-9
    relative band the float verdict is certain, inside it the Python-int
    comparison decides."""
    import numpy as np

    scale = np.maximum(np.maximum(np.abs(lhs), np.abs(rhs)), 1.0)
    band = np.abs(lhs - rhs) <= 1e-9 * scale
    ge = lhs >= rhs
    gt = lhs > rhs
    for k in np.nonzero(band)[0]:
        le, re_ = li(int(k)), ri(int(k))
        ge[k] = le >= re_
        gt[k] = le > re_
    return ge, gt


def _np_dup_mask(dab, na, nb, num2, den2):
    """Exact boolean mask of above-threshold pairs: ``dab > 0 AND
    dab^2*den2 >= na*nb*num2`` with _np_cmp's screen+recheck — the numpy
    twin of the cross-multiplied cosine test every SQL oracle replays."""
    ge, _ = _np_cmp(
        _np_cross_mul(dab, dab, float(den2)),
        _np_cross_mul(na, nb, float(num2)),
        lambda k: int(dab[k]) * int(dab[k]) * den2,
        lambda k: int(na[k]) * int(nb[k]) * num2,
    )
    return (dab > 0) & ge


def _np_pair_losers(ia, ib, dab, na, nb, ca, cb, num2, den2):
    """Loser vec_ids among candidate pairs — the EXACT numpy twin of
    the retired ``_semdedup_losers`` expression chain (same dup test,
    same sign-split keep-the-outlier rule, same greatest-id tie), used by
    the vectorized cell engines below.  All value inputs are float64
    holding exact integers; comparisons go through _np_cmp's
    screen+recheck."""
    import numpy as np

    dup = _np_dup_mask(dab, na, nb, num2, den2)
    if not dup.any():
        return np.empty(0, dtype=np.int64)
    ia, ib = ia[dup], ib[dup]
    na, nb, ca, cb = na[dup], nb[dup], ca[dup], cb[dup]
    a_pos, b_pos = ca >= 0, cb >= 0
    _, a2_gt = _np_cmp(
        _np_cross_mul(ca, ca, nb),
        _np_cross_mul(cb, cb, na),
        lambda k: int(ca[k]) * int(ca[k]) * int(nb[k]),
        lambda k: int(cb[k]) * int(cb[k]) * int(na[k]),
    )
    _, b2_gt = _np_cmp(
        _np_cross_mul(cb, cb, na),
        _np_cross_mul(ca, ca, nb),
        lambda k: int(cb[k]) * int(cb[k]) * int(na[k]),
        lambda k: int(ca[k]) * int(ca[k]) * int(nb[k]),
    )
    loser = np.maximum(ia, ib)  # the .otherwise(greatest) tie default
    both_pos, both_neg = a_pos & b_pos, ~a_pos & ~b_pos
    loser = np.where(a_pos & ~b_pos, ia, loser)
    loser = np.where(b_pos & ~a_pos, ib, loser)
    loser = np.where(both_pos & a2_gt, ia, loser)
    loser = np.where(both_pos & b2_gt, ib, loser)
    loser = np.where(both_neg & b2_gt, ia, loser)
    loser = np.where(both_neg & a2_gt, ib, loser)
    return np.unique(loser)


def _np_exact_guard(Q, where: str) -> None:
    """Fail LOUD when quantized components are too large for the float64
    BLAS path to stay exact (round-14 advice): a dim-term integer dot is
    exactly representable in float64 only while every partial sum stays
    under 2^53, i.e. ``|component| <= sqrt(2^53 / dim)`` (~3.4e7 at
    dim=64).  The retired decimal(38) expression path was exact for ANY
    int64 component; the matmul engines are not — and the _np_cmp
    integer recheck cannot recover, because it re-derives its Python
    ints from the already-rounded float dots.  Vectors quantized at
    quant=1000 from unit-ish embeddings sit 4 orders of magnitude under
    the bound; anything above it must resize quant, not silently lose
    threshold-edge pairs."""
    import math

    import numpy as np

    if Q.size == 0:
        return
    dim = Q.shape[-1]
    limit = math.floor(math.sqrt((1 << 53) / max(dim, 1)))
    mx = float(np.abs(Q).max())
    if mx > limit:
        raise ValueError(
            f"{where}: quantized component magnitude {mx:.3g} exceeds "
            f"{limit} = floor(sqrt(2^53/{dim})) — the float64 gram "
            "matmul would round integer dots and silently mis-score "
            "threshold-edge pairs.  Lower `quant` (component bound "
            "scales linearly with it) or reduce `dim` so every "
            "dim-term dot stays under 2^53."
        )


def _np_block(pdf, col_q: str = "q"):
    """(ids, Q, cdots, norms) numpy views of a census frame.  Q is
    float64 — EXACT for quantized components (products <= ~4e8 and
    64-term sums <= ~3e10 stay far under 2^53, so BLAS matmul returns
    the exact integer dot), which is what makes the vectorized engine
    bit-identical to the decimal expression path it replaced.  The
    exactness precondition is ENFORCED (_np_exact_guard), not assumed."""
    import numpy as np

    ids = pdf["vec_id"].to_numpy(dtype=np.int64)
    Q = np.array([np.asarray(v, dtype=np.float64) for v in pdf[col_q]])
    _np_exact_guard(Q, "_np_block")
    cd = pdf["cdot"].to_numpy(dtype=np.float64)
    nq = pdf["norm_q"].to_numpy(dtype=np.float64)
    return ids, Q, cd, nq


_LOSER_SCHEMA = "vec_id bigint"
_SELF_BLOCK = 1024  # row-block for the within-cell gram matmul


def _np_cand_mask(G, na, nb, num2, den2):
    """Boolean (len(na), len(nb)) SUPERSET mask of above-threshold pairs —
    the vectorized pre-filter that keeps pair-index extraction linear in
    the DUP count, not the pair count.  Slightly generous (1e-9 slack +
    an absolute guard) so no band-edge pair is lost; _np_pair_losers
    re-tests every candidate exactly."""
    import numpy as np

    lhs = (G * G) * float(den2)
    rhs = np.outer(na, nb) * float(num2)
    return (G > 0) & (lhs >= rhs * (1 - 1e-9) - 1.0)


def _cell_self_losers(pdf, num2: int, den2: int):
    """Per-cell loser ids for SELF pairs (id_a < id_b) — the q164 rebuild
    engine: one BLAS gram matmul per row-block instead of 33M decimal
    expression rows (round-13: the round-12 'fixture artifact' read on
    q164's 93 s was wrong — the cost was the pair JOIN materializing two
    64-element arrays per pair and folding them in decimal(38); the
    matmul computes the same exact integers ~25x faster)."""
    import numpy as np
    import pandas as pd

    if len(pdf) < 2:
        return pd.DataFrame({"vec_id": np.empty(0, dtype=np.int64)})
    pdf = pdf.sort_values("vec_id").reset_index(drop=True)
    ids, Q, cd, nq = _np_block(pdf)
    n = len(ids)
    out = []
    for s in range(0, n, _SELF_BLOCK):
        e = min(s + _SELF_BLOCK, n)
        G = Q[s:e] @ Q.T  # exact integer dots in float64
        # pairs (i, j) with i in [s, e), j > i (ids sorted, so index
        # order IS vec_id order), pre-screened to candidate dups
        mask = _np_cand_mask(G, nq[s:e], nq, num2, den2)
        mask &= np.arange(n)[None, :] > np.arange(s, e)[:, None]
        bi, bj = np.nonzero(mask)
        if not len(bi):
            continue
        gi = bi + s
        out.append(
            _np_pair_losers(
                ids[gi], ids[bj], G[bi, bj],
                nq[gi], nq[bj], cd[gi], cd[bj], num2, den2,
            )
        )
    losers = (
        np.unique(np.concatenate(out)) if out else np.empty(0, dtype=np.int64)
    )
    return pd.DataFrame({"vec_id": losers})


def _self_losers_grouped(
    assigned: DataFrame, thresh_num: int, thresh_den: int
) -> DataFrame:
    """Distinct loser ids of all within-cell self pairs: ONE exchange on
    cell + a vectorized Arrow group engine.  Global uniqueness holds
    without a distinct: each vec lives in exactly one cell and each cell
    emits a unique set."""
    num2, den2 = thresh_num * thresh_num, thresh_den * thresh_den
    return (
        assigned.select("vec_id", "q", "cell", "cdot", "norm_q")
        .groupBy("cell")
        .applyInPandas(
            lambda pdf: _cell_self_losers(pdf, num2, den2), _LOSER_SCHEMA
        )
    )


def _apply_losers(assigned: DataFrame, losers: DataFrame) -> DataFrame:
    # plain left join: the loser set can be a large fraction of the corpus
    # (near-dup-heavy crawls), so forcing a broadcast here would be wrong —
    # AQE picks one when the set is actually small
    return assigned.join(
        losers.select("vec_id", F.lit(1).alias("_drop")), "vec_id", "left"
    ).select(
        "vec_id",
        "cell",
        "cdot",
        "norm_q",
        F.when(F.col("_drop").isNull(), 1).otherwise(0).cast("int").alias("kept"),
    )


def semdedup_census(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_clusters: int = 16,
    thresh_num: int = 80,
    thresh_den: int = 100,
    quant: int = 1000,
    seed: int = 7,
    dim: int = 64,
    force: bool = False,
) -> DataFrame:
    """semantic_dedup_exact WITH the quantized vector column retained —
    (vec_id, q, cell, cdot, norm_q, kept).  This is the layout to PERSIST
    (partitioned by cell) as the corpus state that
    ``semantic_dedup_incremental`` folds new batches against: the pair
    dots of future folds need ``q``, and cell-partitioned storage keeps
    the fold's corpus side shuffle-free."""
    from coldata_spark.operators.similarity import (
        QUADRATIC_GATE_BYTES,
        refuse_at_scale,
    )

    refuse_at_scale(
        emb,
        "semdedup_census",
        "Raise n_clusters so the per-cell pair count stays bounded "
        "(the paper's k ~ n/5000).",
        force,
        QUADRATIC_GATE_BYTES * n_clusters,
    )
    assigned = _semdedup_assign(
        emb, id_col, vec_col, n_clusters, quant, seed, dim
    )
    losers = _self_losers_grouped(assigned, thresh_num, thresh_den)
    return assigned.join(
        losers.select("vec_id", F.lit(1).alias("_drop")), "vec_id", "left"
    ).select(
        "vec_id",
        "q",
        "cell",
        "cdot",
        "norm_q",
        F.when(F.col("_drop").isNull(), 1).otherwise(0).cast("int").alias("kept"),
    )


def semantic_dedup_incremental(
    corpus: DataFrame,
    batch: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_clusters: int = 16,
    thresh_num: int = 80,
    thresh_den: int = 100,
    quant: int = 1000,
    seed: int = 7,
    dim: int = 64,
) -> DataFrame:
    """Fold a NEW BATCH of vectors into a persisted SemDeDup corpus
    census (``semdedup_census`` output: vec_id, q, cell, cdot, norm_q,
    kept) and return the updated census of corpus + batch — PROVABLY
    identical to rerunning ``semantic_dedup_exact`` on the union.

    Why the equivalence is exact: the keep rule is pairwise (x drops iff
    it loses ANY above-threshold pair, regardless of whether its beater
    itself survives), so the union's loser set decomposes into
    corpus-internal losers (already recorded in the persisted census —
    unchanged by the batch) plus losers of the NEW pairs (batch x corpus
    and batch x batch).  The fold therefore only scores new pairs:
      * batch vec_ids must be disjoint from corpus vec_ids;
      * batch docs pair against ALL corpus rows in their cell — including
        already-dropped ones, which can still beat a batch doc (dropping
        them from the join would diverge from the rebuild);
      * a KEPT corpus row that loses to a batch doc flips to kept=0
        (the batch "displaces" it, exactly as a rebuild would).

    Scale shape (the q159 incremental-near-dup contract, semantic rung):
    the batch assigns cells in one shuffle-free map pass, then BROADCASTS
    into the corpus's cells — the billion-vector corpus is scanned once
    and NEVER re-shuffled (plan-gated in tests/test_plans.py); batch-
    internal pairs are a self-join of the small side only."""
    import numpy as np
    import pandas as pd

    from coldata_spark.operators.similarity import (
        QUADRATIC_GATE_BYTES,
        refuse_at_scale,
    )

    batch_assigned = _semdedup_assign(
        batch, id_col, vec_col, n_clusters, quant, seed, dim
    )
    # The fold's whole design premise is a broadcast-sized batch (a day's
    # ingest vs a billion-vector corpus); materializing it as a plain
    # broadcast for the vectorized cross engine below needs the same
    # bound made explicit — chunk bigger folds.
    refuse_at_scale(
        batch,
        "semantic_dedup_incremental(batch)",
        "The fold broadcasts the batch into the corpus's cells; chunk "
        "batches above broadcast size into multiple folds.",
        False,
        QUADRATIC_GATE_BYTES,
    )
    # refuse_at_scale passes silently when Catalyst stats are unknown
    # (est >= _UNKNOWN_STATS_FLOOR — e.g. a batch downstream of
    # mapInPandas), but THIS path then collect()s the batch to the
    # driver, so an unknown-stats oversized batch would OOM the driver
    # where the old executor-side broadcast join merely degraded.
    # Round-14 advice: when stats are unknown, enforce a driver-side ROW
    # cap with a bounded count before collecting.
    from coldata_spark.operators.joins import _estimated_bytes
    from coldata_spark.operators.similarity import _UNKNOWN_STATS_FLOOR

    est = _estimated_bytes(batch)
    if not (0 < est < _UNKNOWN_STATS_FLOOR):
        max_rows = max(1, QUADRATIC_GATE_BYTES // (dim * 8 + 64))
        if batch_assigned.limit(max_rows + 1).count() > max_rows:
            raise ValueError(
                "semantic_dedup_incremental(batch): batch exceeds "
                f"{max_rows} rows (~{QUADRATIC_GATE_BYTES / 1e6:.0f} MB at "
                f"dim={dim}) and Catalyst has no size estimate for it — "
                "refusing to collect it to the driver.  Chunk the fold "
                "into multiple smaller batches."
            )
    by_cell: dict[int, tuple] = {}
    for r in batch_assigned.collect():
        by_cell.setdefault(int(r["cell"]), []).append(r)
    by_cell = {
        c: (
            np.array([r["vec_id"] for r in rows], dtype=np.int64),
            np.array(
                [np.asarray(r["q"], dtype=np.float64) for r in rows]
            ),
            np.array([r["cdot"] for r in rows], dtype=np.float64),
            np.array([r["norm_q"] for r in rows], dtype=np.float64),
        )
        for c, rows in by_cell.items()
    }
    for c, blk in by_cell.items():
        _np_exact_guard(blk[1], "semantic_dedup_incremental(batch block)")
    spark = corpus.sparkSession
    bc = spark.sparkContext.broadcast(by_cell)
    num2, den2 = thresh_num * thresh_num, thresh_den * thresh_den

    def cross_losers(batches):
        """Corpus scanned ONCE, never exchanged: each Arrow chunk matmuls
        against its cells' broadcast batch blocks; loser ids from cross
        pairs can be on EITHER side (a kept corpus row displaced by a
        batch doc, or a batch doc beaten by the corpus)."""
        cells = bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            out = []
            for c, sub in pdf.groupby("cell"):
                blk = cells.get(int(c))
                if blk is None:
                    continue
                b_ids, b_q, b_cd, b_nq = blk
                ids, Q, cd, nq = _np_block(sub)
                G = Q @ b_q.T  # (corpus_chunk, batch) exact int dots
                ci, bi = np.nonzero(
                    _np_cand_mask(G, nq, b_nq, num2, den2)
                )
                if not len(ci):
                    continue
                out.append(
                    _np_pair_losers(
                        ids[ci], b_ids[bi], G[ci, bi],
                        nq[ci], b_nq[bi], cd[ci], b_cd[bi], num2, den2,
                    )
                )
            losers_np = (
                np.unique(np.concatenate(out))
                if out
                else np.empty(0, dtype=np.int64)
            )
            yield pd.DataFrame({"vec_id": losers_np})

    cross = corpus.select("vec_id", "q", "cell", "cdot", "norm_q").mapInPandas(
        cross_losers, _LOSER_SCHEMA
    )
    batch_self = _self_losers_grouped(batch_assigned, thresh_num, thresh_den)
    # new-pair losers are bounded by batch-adjacent pairs (each involves a
    # batch row), so unlike the full-rebuild path they are always small
    # relative to the corpus — broadcast them so the kept-flag update joins
    # never exchange the census
    losers = F.broadcast(cross.unionByName(batch_self).distinct())
    updated_corpus = corpus.join(
        losers.select("vec_id", F.lit(1).alias("_drop")), "vec_id", "left"
    ).select(
        "vec_id",
        "cell",
        "cdot",
        "norm_q",
        F.when(F.col("_drop").isNotNull(), 0)
        .otherwise(F.col("kept"))
        .cast("int")
        .alias("kept"),
    )
    return updated_corpus.unionByName(_apply_losers(batch_assigned, losers))


def semdedup_sql(
    base_cte: str,
    n_clusters: int = 16,
    thresh_num: int = 80,
    thresh_den: int = 100,
    quant: int = 1000,
    seed: int = 7,
    dim: int = 64,
) -> str:
    """DuckDB oracle for semantic_dedup_exact, generated from the SAME
    parameters so the two engines cannot drift.  ``base_cte`` must select
    (vec_id, e DOUBLE[])."""
    num2, den2 = thresh_num * thresh_num, thresh_den * thresh_den
    return f"""
    WITH base AS ({base_cte}),
    qv AS (
        SELECT vec_id,
               list_transform(e, x -> CAST(floor(x * {quant}) AS BIGINT)) AS q
        FROM base
    ),
    cent AS (
        SELECT CAST(j AS INTEGER) AS j,
               list_transform(generate_series(1, {dim}), i ->
                   ((('0x' || substring(md5((j + {seed})::VARCHAR || '_'
                                        || i::VARCHAR),
                                        1, 8))::BIGINT % 2001) - 1000)
               ) AS c
        FROM generate_series(0, {n_clusters - 1}) t(j)
    ),
    scored AS (
        SELECT vec_id, j,
               CAST(list_dot_product(q, c) AS BIGINT) AS dc,
               CAST(list_dot_product(q, q) AS BIGINT) AS nq
        FROM qv, cent
    ),
    assigned AS (
        SELECT vec_id, j AS cell, dc AS cdot, nq AS norm_q
        FROM (SELECT *, row_number() OVER (PARTITION BY vec_id
                                           ORDER BY dc DESC, j) AS rn
              FROM scored)
        WHERE rn = 1
    ),
    pairs AS (
        SELECT a.vec_id AS ia, b.vec_id AS ib,
               a.cdot AS ca, b.cdot AS cb,
               a.norm_q AS na, b.norm_q AS nb,
               CAST(list_dot_product(qa.q, qb.q) AS BIGINT) AS dab
        FROM assigned a
        JOIN assigned b ON a.cell = b.cell AND a.vec_id < b.vec_id
        JOIN qv qa ON qa.vec_id = a.vec_id
        JOIN qv qb ON qb.vec_id = b.vec_id
    ),
    dups AS (
        SELECT * FROM pairs
        WHERE dab > 0
          AND CAST(dab AS HUGEINT) * dab * {den2}
              >= CAST(na AS HUGEINT) * nb * {num2}
    ),
    losers AS (
        SELECT DISTINCT CASE
            WHEN ca >= 0 AND cb < 0 THEN ia
            WHEN cb >= 0 AND ca < 0 THEN ib
            WHEN ca >= 0 AND cb >= 0
                 AND CAST(ca AS HUGEINT) * ca * nb
                     > CAST(cb AS HUGEINT) * cb * na THEN ia
            WHEN ca >= 0 AND cb >= 0
                 AND CAST(ca AS HUGEINT) * ca * nb
                     < CAST(cb AS HUGEINT) * cb * na THEN ib
            WHEN ca < 0 AND cb < 0
                 AND CAST(ca AS HUGEINT) * ca * nb
                     < CAST(cb AS HUGEINT) * cb * na THEN ia
            WHEN ca < 0 AND cb < 0
                 AND CAST(ca AS HUGEINT) * ca * nb
                     > CAST(cb AS HUGEINT) * cb * na THEN ib
            ELSE greatest(ia, ib) END AS vec_id
        FROM dups
    )
    SELECT a.vec_id, a.cell, a.cdot, a.norm_q,
           CAST(CASE WHEN l.vec_id IS NULL THEN 1 ELSE 0 END AS INTEGER)
               AS kept
    FROM assigned a LEFT JOIN losers l USING (vec_id)
    """
