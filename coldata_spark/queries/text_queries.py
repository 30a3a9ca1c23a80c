"""Text layer queries: cleaning, chunking, analysis, dedup
(SURVEY.md §2.8 T1-T13, V6 + north-star text-analysis extensions).

Every query here runs on the ``documents`` fixture and is paired with a
DuckDB oracle computing the identical formula, so chunk boundaries, hashes
and scores are bit-reproducible across engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from coldata_spark.functions import text as TX
from coldata_spark.operators import dedup as DD
from coldata_spark.registry import register
from coldata_spark.tables import load


@register(
    "q20_chunk_documents",
    survey="T5,W2",
    sql="""
    SELECT doc_id,
           concat(cast(doc_id AS VARCHAR), '_', cast(i AS VARCHAR)) AS chunk_id,
           i AS chunk_pos,
           substring(text, 1 + i*64, 128) AS chunk_text,
           length(substring(text, 1 + i*64, 128)) AS chunk_len
    FROM read_parquet_documents, unnest(generate_series(0,
         cast(ceil(greatest(0, length(text) - 128) / 64.0) AS INT))) AS t(i)
    """.replace("read_parquet_documents", "documents"),
)
def q20_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-stride chunking with overlap (T5): size 128 / overlap 64 as in
    the reference config (config.yml:88-91); chunk ids concat(index,'_',pos)
    exactly like vdb.py:70.  posexplode = UDTF-style 1->N expansion, a pure
    flatMap — no shuffle at any scale."""
    from coldata_spark.tables import fan_out

    docs = fan_out(load(spark, sf_dir, "documents"))
    starts = TX.chunk_starts(F.length("text"))
    return (
        docs.select("doc_id", "text", F.posexplode(starts).alias("pos", "i"))
        .select(
            "doc_id",
            F.concat_ws("_", F.col("doc_id"), F.col("i")).alias("chunk_id"),
            F.col("i").alias("chunk_pos"),
            F.expr("substring(text, 1 + i*64, 128)").alias("chunk_text"),
            F.length(F.expr("substring(text, 1 + i*64, 128)")).alias("chunk_len"),
        )
    )


@register(
    "q21_text_stats",
    survey="T1,T7,ext-tokens,ext-quality",
    sql="""
    SELECT doc_id,
           CASE WHEN length(trim(text)) = 0 THEN 0
                ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS n_tokens,
           length(text) AS n_chars_computed,
           round(CASE WHEN length(text) = 0 THEN 0.0
                 ELSE (length(text) - length(regexp_replace(text, '[A-Za-z]', '', 'g')))
                      / cast(length(text) AS DOUBLE) END, 6) AS alpha_ratio,
           round(0.5 * least(1.0,
                     (CASE WHEN length(trim(text)) = 0 THEN 0
                      ELSE len(regexp_split_to_array(trim(text), '\\s+')) END) / 64.0)
               + 0.5 * (CASE WHEN length(text) = 0 THEN 0.0
                 ELSE (length(text) - length(regexp_replace(text, '[A-Za-z]', '', 'g')))
                      / cast(length(text) AS DOUBLE) END), 6) AS quality,
           concat(substring(replace(replace(text, chr(10), ' '), '###', ''), 1, 50), '...') AS preview
    FROM documents
    """,
)
def q21_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text analysis: token count, alpha ratio, composite quality score
    (C4/Gopher-style filters as expressions), preview (T7)."""
    docs = load(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        TX.token_count(F.col("text")).alias("n_tokens"),
        F.length("text").alias("n_chars_computed"),
        F.round(TX.alpha_ratio(F.col("text")), 6).alias("alpha_ratio"),
        TX.quality_score(F.col("text")).alias("quality"),
        TX.preview(F.col("text"), 50).alias("preview"),
    )


@register(
    "q22_lang_id",
    survey="ext-langid",
    sql="""
    SELECT doc_id,
           en_hits, fr_hits, es_hits, de_hits,
           CASE greatest(en_hits, fr_hits, es_hits, de_hits)
                WHEN en_hits THEN 'en'
                WHEN fr_hits THEN 'fr'
                WHEN es_hits THEN 'es'
                ELSE 'de' END AS lang_guess
    FROM (
        SELECT doc_id,
            len(regexp_split_to_array(t, ' the ')) - 1
          + len(regexp_split_to_array(t, ' and ')) - 1
          + len(regexp_split_to_array(t, ' of ')) - 1
          + len(regexp_split_to_array(t, ' to ')) - 1
          + len(regexp_split_to_array(t, ' is ')) - 1 AS en_hits,
            len(regexp_split_to_array(t, ' le ')) - 1
          + len(regexp_split_to_array(t, ' la ')) - 1
          + len(regexp_split_to_array(t, ' et ')) - 1
          + len(regexp_split_to_array(t, ' les ')) - 1
          + len(regexp_split_to_array(t, ' des ')) - 1 AS fr_hits,
            len(regexp_split_to_array(t, ' el ')) - 1
          + len(regexp_split_to_array(t, ' los ')) - 1
          + len(regexp_split_to_array(t, ' de ')) - 1
          + len(regexp_split_to_array(t, ' que ')) - 1
          + len(regexp_split_to_array(t, ' y ')) - 1 AS es_hits,
            len(regexp_split_to_array(t, ' der ')) - 1
          + len(regexp_split_to_array(t, ' die ')) - 1
          + len(regexp_split_to_array(t, ' und ')) - 1
          + len(regexp_split_to_array(t, ' das ')) - 1
          + len(regexp_split_to_array(t, ' ist ')) - 1 AS de_hits
        FROM (SELECT doc_id, concat(' ', lower(text), ' ') AS t FROM documents)
    )
    """,
)
def q22_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic marker-vocabulary language ID (n-gram heuristic
    baseline).  Argmax with fixed precedence en>fr>es>de on ties."""
    docs = load(spark, sf_dir, "documents")
    scores = TX.lang_scores(F.col("text"))
    hit_cols = {f"{lang}_hits": expr for lang, expr in scores.items()}
    df = docs.select("doc_id", *[e.alias(n) for n, e in hit_cols.items()])
    best = F.greatest(*[F.col(n) for n in hit_cols])
    guess = (
        F.when(F.col("en_hits") == best, "en")
        .when(F.col("fr_hits") == best, "fr")
        .when(F.col("es_hits") == best, "es")
        .otherwise("de")
    )
    return df.withColumn("lang_guess", guess)


@register(
    "q27_clean_text",
    survey="T1,T8",
    sql="""
    SELECT doc_id,
           trim(regexp_replace(regexp_replace(
                concat('  ', text, chr(9), chr(13), chr(10), 'x', chr(7)),
                '[^\\x20-\\x7E]', ' ', 'g'), '\\s+', ' ', 'g')) AS cleaned
    FROM documents
    """,
)
def q27_clean_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T1 (crawler/utils.py:5-18): non-printable strip + whitespace
    normalize + trim, exercised on deliberately-messed-up input (the
    fixture text is already clean) — tabs/CR/LF/BEL injected then removed."""
    docs = load(spark, sf_dir, "documents")
    messy = F.concat(
        F.lit("  "), F.col("text"), F.lit("\t\r\n"), F.lit("x"), F.lit("\x07")
    )
    return docs.select("doc_id", TX.clean_text(messy).alias("cleaned"))


@register(
    "q28_join_content",
    survey="T2,A1,O2",
    sql="""
    SELECT source,
           string_agg(
               CASE WHEN frag LIKE '%.' THEN frag ELSE concat(frag, '.') END,
               ' ' ORDER BY doc_id) AS content
    FROM (
        SELECT source, doc_id, substring(text, 1, 40) AS frag,
               row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn
        FROM documents
    )
    WHERE rn <= 3
    GROUP BY source
    """,
)
def q28_join_content(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T2 (crawler/utils.py:21-36 join_content): clean fragments, append a
    terminal period when missing, space-join — per source over its first
    three documents (deterministic order)."""
    docs = load(spark, sf_dir, "documents")
    w = W.partitionBy("source").orderBy("doc_id")
    frag = F.substring("text", 1, 40)
    punct = F.when(frag.endswith("."), frag).otherwise(F.concat(frag, F.lit(".")))
    return (
        docs.select("source", "doc_id", punct.alias("frag"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .groupBy("source")
        .agg(
            F.concat_ws(
                " ",
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct(F.col("doc_id"), F.col("frag")))
                    ),
                    lambda s: s.frag,
                ),
            ).alias("content")
        )
    )


@register(
    "q29_ngram_jaccard",
    survey="V6,ext-ngram-jaccard",
    sql="""
    WITH sh AS (
        SELECT DISTINCT doc_id, substring(text, i, 3) AS shingle
        FROM documents, unnest(generate_series(1, greatest(1, length(text) - 2))) AS t(i)
        WHERE doc_id < 20
    ),
    sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
    inter AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
    )
    SELECT i.doc_a, i.doc_b,
           round(cast(i.n_inter AS DOUBLE) / (sa.n + sb.n - i.n_inter), 6) AS jaccard
    FROM inter i
    JOIN sizes sa ON sa.doc_id = i.doc_a
    JOIN sizes sb ON sb.doc_id = i.doc_b
    WHERE cast(i.n_inter AS DOUBLE) / (sa.n + sb.n - i.n_inter) >= 0.3
    """,
)
def q29_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram (3-char) Jaccard similarity over a bounded doc subset —
    the ground-truth near-dup measure MinHash approximates.  The shingle
    equi-join + group count is the set-intersection; at scale the MinHash/
    LSH path (q25/q26) replaces the quadratic join and this exact form runs
    only within LSH candidate buckets."""
    docs = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 20)
    sh = DD.shingles(docs, "text", "doc_id", width=3, distinct=True)
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n"))
    a = sh.select(F.col("doc_id").alias("doc_a"), "shingle")
    b = sh.select(F.col("doc_id").alias("doc_b"), "shingle")
    inter = (
        a.join(b, "shingle")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("n_inter"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
    jac = F.col("n_inter").cast("double") / (
        F.col("na") + F.col("nb") - F.col("n_inter")
    )
    return (
        inter.join(F.broadcast(sa), "doc_a")
        .join(F.broadcast(sb), "doc_b")
        .filter(jac >= 0.3)
        .select("doc_a", "doc_b", F.round(jac, 6).alias("jaccard"))
    )


@register(
    "q45_html_extract",
    survey="T3",
    # The oracle computes what a CORRECT main-content extractor must return
    # for the synthesized page: the h1 as a markdown heading plus the two
    # article paragraphs (the second only when it survives the extractor's
    # 25-char prose floor) — nav/sidebar/footer/script never appear.  Any
    # boilerplate leakage or dropped content hash-mismatches.
    sql="""
    SELECT doc_id,
           concat('# Document ', CAST(doc_id AS VARCHAR), chr(10), chr(10), p1,
                  CASE WHEN length(p2) >= 25
                       THEN concat(chr(10), chr(10), p2) ELSE '' END)
               AS extracted
    FROM (
        SELECT doc_id,
               trim(regexp_replace(substring(text, 1, 200), '\\s+', ' ', 'g')) AS p1,
               trim(regexp_replace(substring(text, 201, 200), '\\s+', ' ', 'g')) AS p2
        FROM documents
    )
    """,
)
def q45_html_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T3 (reference uci.py:56 etc.: trafilatura html->markdown): builds a
    realistic page around each document — nav bar, link-heavy sidebar,
    article with h1 + paragraphs, comments div, footer, script — then runs
    the readability-style extractor (functions/html_extract.py) through an
    Arrow-batched pandas UDF.  The oracle knows exactly which blocks a
    correct extractor keeps, so this is an end-to-end hash check on
    boilerplate removal, not just tag-stripping."""
    from coldata_spark.functions.html_extract import escape_html_text, html_to_text
    from coldata_spark.tables import fan_out

    docs = fan_out(load(spark, sf_dir, "documents"))
    html = F.concat(
        F.lit(
            "<html><head><title>Synth</title><script>var nav=1;</script>"
            "</head><body><nav><a href='/'>Home</a> <a href='/a'>About</a>"
            "</nav><div class='sidebar'><a href='/l1'>First long link</a>"
            "<a href='/l2'>Second long link</a></div><article><h1>Document "
        ),
        F.col("doc_id").cast("string"),
        F.lit("</h1><p>"),
        escape_html_text(F.substring("text", 1, 200)),
        F.lit("</p><p>"),
        escape_html_text(F.substring("text", 201, 200)),
        F.lit(
            "</p></article><div id='comments'><p>Totally agree with all of "
            "this, great post friend!</p></div><footer>Copyright 2026 "
            "Example Corp. All rights reserved.</footer></body></html>"
        ),
    )
    return docs.select(
        "doc_id", html_to_text(html).alias("extracted")
    )


@register(
    "q46_record_to_text",
    survey="T4,P1",
    sql="""
    SELECT c_custkey,
           concat_ws(chr(10),
               concat('name: ', c_name),
               concat('segment: ', c_mktsegment),
               CASE WHEN c_acctbal IS NOT NULL
                    THEN concat('balance: ', cast(round(c_acctbal, 2) AS VARCHAR))
               END) AS flat_text
    FROM customer
    """,
)
def q46_record_to_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T4 (vdb.py:139-145, kaggle.py:100-104): record -> newline-joined
    'key: value' text, skipping null fields (P4's if-value guard) — the
    projection that feeds the embedding stage."""
    cust = load(spark, sf_dir, "customer")
    return cust.select(
        "c_custkey",
        F.concat_ws(
            "\n",
            F.concat(F.lit("name: "), F.col("c_name")),
            F.concat(F.lit("segment: "), F.col("c_mktsegment")),
            F.when(
                F.col("c_acctbal").isNotNull(),
                F.concat(
                    F.lit("balance: "),
                    F.round(F.col("c_acctbal"), 2).cast("string"),
                ),
            ),
        ).alias("flat_text"),
    )


@register(
    "q47_simhash",
    survey="V6,ext-simhash",
    sql="""
    WITH toks AS (
        SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok
        FROM documents
    ),
    bits AS (
        SELECT doc_id, j,
               sum(CASE WHEN ((('0x' || substring(md5(tok), 1, 8))::BIGINT >> j) & 1) = 1
                        THEN 1 ELSE -1 END) AS s
        FROM toks, unnest(generate_series(0, 31)) AS g(j)
        GROUP BY doc_id, j
    )
    SELECT doc_id,
           CAST(sum(CASE WHEN s > 0 THEN (1::BIGINT << j) ELSE 0 END) AS BIGINT)
               AS simhash
    FROM bits GROUP BY doc_id
    """,
)
def q47_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash document signatures.  Per token: md5 -> 32-bit value; bit j
    contributes +1/-1; signature bit j = sign of the sum.  All JVM
    expressions: explode -> conditional sums -> bit pack; one shuffle with
    map-side partials.  The oracle rebuilds the same bit math with DuckDB
    integer shifts over an unnested (token x bit) grid."""
    from coldata_spark.operators.dedup import simhash_signatures

    return simhash_signatures(load(spark, sf_dir, "documents"), "text", "doc_id")


@register(
    "q55_chunk_parent_roundtrip",
    survey="T9,O2,T5",
    sql="""
    SELECT chunk_id,
           cast(string_split(chunk_id, '_')[1] AS BIGINT) AS parent_id,
           string_split(url, '/')[-1] AS url_tail
    FROM (
        SELECT concat(cast(doc_id AS VARCHAR), '_', cast(i AS VARCHAR)) AS chunk_id,
               concat('https://example.org/', source, '/',
                      cast(doc_id AS VARCHAR)) AS url
        FROM documents, unnest(generate_series(0,
             cast(ceil(greatest(0, length(text) - 128) / 64.0) AS INT))) AS t(i)
    )
    """,
)
def q55_chunk_parent_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T9 (vdb.py:188-190): recover the parent key from a chunk id via
    split('_')[0], and O2 (uci.py:46 etc.): extract the URL tail segment —
    the two string-surgery idioms of the reference.  (The engine normally
    carries parent_id as a real column — q20 — but the split path is part
    of the declared surface.)"""
    from coldata_spark.tables import fan_out

    docs = fan_out(load(spark, sf_dir, "documents"))
    starts = TX.chunk_starts(F.length("text"))
    chunks = docs.select(
        "doc_id",
        "source",
        F.posexplode(starts).alias("_p", "i"),
    ).select(
        F.concat_ws("_", F.col("doc_id"), F.col("i")).alias("chunk_id"),
        F.concat(
            F.lit("https://example.org/"), F.col("source"), F.lit("/"), F.col("doc_id")
        ).alias("url"),
    )
    return chunks.select(
        "chunk_id",
        F.split(F.col("chunk_id"), "_")[0].cast("bigint").alias("parent_id"),
        F.element_at(F.split(F.col("url"), "/"), -1).alias("url_tail"),
    )


@register(
    "q59_dedup_groups",
    survey="V6,ext-minhash-lsh",
    sql="""
    WITH RECURSIVE sig AS (
        SELECT doc_id, seed,
               min((h1 + seed * h2) % 4294967296) AS minhash
        FROM (
            SELECT doc_id,
                   ('0x' || substring(md5(shingle), 1, 8))::BIGINT AS h1,
                   ('0x' || substring(md5(shingle), 9, 8))::BIGINT AS h2
            FROM (
                SELECT DISTINCT doc_id, substring(text, i, 5) AS shingle
                FROM documents, unnest(generate_series(1,
                     greatest(1, length(text) - 4))) AS t(i)
            )
        ), unnest(generate_series(0, 7)) AS s(seed)
        GROUP BY doc_id, seed
    ),
    banded AS (
        SELECT doc_id, band, band_key FROM (
            SELECT doc_id, cast(floor(seed / 2) AS INT) AS band,
                   string_agg(cast(minhash AS VARCHAR), '|' ORDER BY seed)
                       AS band_key
            FROM sig GROUP BY doc_id, cast(floor(seed / 2) AS INT)
        )
        -- hot-bucket cap (64), matching the Spark plan's max_bucket_size
        QUALIFY count(*) OVER (PARTITION BY band, band_key) <= 64
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM banded a JOIN banded b
          ON a.band = b.band AND a.band_key = b.band_key
         AND a.doc_id < b.doc_id
    ),
    est AS (
        SELECT c.doc_a, c.doc_b,
               round(avg(CASE WHEN sa.minhash = sb.minhash THEN 1.0 ELSE 0.0 END), 6)
                   AS est_jaccard
        FROM cand c
        JOIN sig sa ON sa.doc_id = c.doc_a
        JOIN sig sb ON sb.doc_id = c.doc_b AND sb.seed = sa.seed
        GROUP BY c.doc_a, c.doc_b
    ),
    edges AS (
        SELECT doc_a AS a, doc_b AS b FROM est WHERE est_jaccard >= 0.75
        UNION
        SELECT doc_b, doc_a FROM est WHERE est_jaccard >= 0.75
    ),
    reach(src, dst) AS (
        SELECT a, b FROM edges
        UNION
        SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a
    ),
    labels AS (
        SELECT src AS id, least(src, min(dst)) AS component
        FROM reach GROUP BY src
    )
    SELECT doc_id, source, n_chars
    FROM documents
    WHERE doc_id NOT IN (SELECT id FROM labels WHERE id > component)
    """,
)
def q59_dedup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full near-dup dedup pipeline: minhash-LSH candidate pairs
    -> min-label-propagation components -> corpus with dup groups collapsed
    to their keeper.  The Spark side iterates label propagation to a
    fixpoint (one shuffle per round, O(diameter) rounds); the oracle
    reaches the same fixpoint declaratively with a recursive CTE computing
    min reachable id per member.  max_bucket_size=64 on the pair
    generation (QUALIFY twin in the SQL): the round-12 registry sweep
    caught this call site UNCAPPED at the 16x tier — the same
    within-bucket quadratic the round-11 stress caught in q26, hiding in
    a different caller."""
    from coldata_spark.operators.dedup import dedup_keepers

    docs = load(spark, sf_dir, "documents")
    pairs = DD.minhash_neardup_pairs(
        docs, "text", "doc_id", max_bucket_size=64
    ).filter(
        F.col("est_jaccard") >= 0.75
    )
    kept = dedup_keepers(docs, pairs)
    return kept.select("doc_id", "source", "n_chars").orderBy("doc_id")


@register(
    "q63_top_terms",
    survey="ext-wordcount,A5,W1",
    sql="""
    SELECT term, n, rk
    FROM (
        SELECT term, n,
               row_number() OVER (ORDER BY n DESC, term) AS rk
        FROM (
            SELECT term, count(*) AS n
            FROM (
                SELECT unnest(regexp_split_to_array(trim(text), '\\s+')) AS term
                FROM documents
                WHERE length(trim(text)) > 0
            )
            GROUP BY term
        )
    )
    WHERE rk <= 20
    """,
)
def q63_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus term frequencies, global top-20 — the canonical wordcount:
    token explode (flatMap) -> count with map-side partials -> global top-k
    via TakeOrdered on the (tiny) distinct-term aggregate."""
    from coldata_spark.tables import fan_out

    docs = fan_out(load(spark, sf_dir, "documents")).filter(
        F.length(F.trim("text")) > 0
    )
    counts = (
        docs.select(F.explode(F.split(F.trim("text"), r"\s+")).alias("term"))
        .groupBy("term")
        .agg(F.count("*").alias("n"))
    )
    # top-20 via TakeOrderedAndProject FIRST, then rank the 20 survivors
    # (the window is over a driver-bounded set, not the full vocabulary)
    w = W.orderBy(F.col("n").desc(), F.col("term"))
    return (
        counts.orderBy(F.col("n").desc(), F.col("term"))
        .limit(20)
        .withColumn("rk", F.row_number().over(w))
        .select("term", "n", "rk")
    )


@register(
    "q23_exact_dedup",
    survey="V6,A1,T6",
    sql="""
    SELECT md5(text) AS text_hash, min(doc_id) AS keep_id, count(*) AS n_dups
    FROM documents
    GROUP BY md5(text)
    """,
)
def q23_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact content dedup: hash-groupBy, keeper = min doc_id.  One shuffle
    with map-side combine; the Spark shape of insert-if-absent
    (crawler.py:39-50) applied to content instead of pk."""
    return DD.exact_dedup(load(spark, sf_dir, "documents"), "text", "doc_id")


@register(
    "q24_fingerprint_dedup",
    survey="V6,ext-fingerprint",
    sql="""
    SELECT fp, min(doc_id) AS keep_id, count(*) AS n_dups
    FROM (
        SELECT doc_id,
               md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),
                                       ' +', ' ', 'g'))) AS fp
        FROM documents
    )
    GROUP BY fp
    """,
)
def q24_fingerprint_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-exact dedup on canonicalized-text fingerprint (case/punct/ws
    folded, rolling-hash-style document fingerprinting)."""
    return DD.fingerprint_dedup(load(spark, sf_dir, "documents"), "text", "doc_id")


@register(
    "q25_minhash_signatures",
    survey="V6,ext-minhash",
    sql="""
    SELECT doc_id, seed,
           min((h1 + seed * h2) % 4294967296) AS minhash
    FROM (
        SELECT doc_id,
               ('0x' || substring(md5(shingle), 1, 8))::BIGINT AS h1,
               ('0x' || substring(md5(shingle), 9, 8))::BIGINT AS h2
        FROM (
            SELECT DISTINCT doc_id, substring(text, i, 5) AS shingle
            FROM documents, unnest(generate_series(1,
                 greatest(1, length(text) - 4))) AS t(i)
        )
    ), unnest(generate_series(0, 7)) AS s(seed)
    GROUP BY doc_id, seed
    """,
)
def q25_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash signatures: 8 seeded min-hashes over 5-char shingles.
    One md5 per shingle; the seed family is derived arithmetically
    (Kirsch-Mitzenmacher) so DuckDB reproduces it exactly."""
    return DD.minhash_signatures(load(spark, sf_dir, "documents"), "text", "doc_id")


@register(
    "q26_minhash_neardup_pairs",
    survey="V6,ext-minhash-lsh",
    sql="""
    WITH sig AS (
        SELECT doc_id, seed,
               min((h1 + seed * h2) % 4294967296) AS minhash
        FROM (
            SELECT doc_id,
                   ('0x' || substring(md5(shingle), 1, 8))::BIGINT AS h1,
                   ('0x' || substring(md5(shingle), 9, 8))::BIGINT AS h2
            FROM (
                SELECT DISTINCT doc_id, substring(text, i, 5) AS shingle
                FROM documents, unnest(generate_series(1,
                     greatest(1, length(text) - 4))) AS t(i)
            )
        ), unnest(generate_series(0, 7)) AS s(seed)
        GROUP BY doc_id, seed
    ),
    banded AS (
        SELECT doc_id, band, band_key FROM (
            SELECT doc_id, cast(floor(seed / 2) AS INT) AS band,
                   string_agg(cast(minhash AS VARCHAR), '|' ORDER BY seed)
                       AS band_key
            FROM sig GROUP BY doc_id, cast(floor(seed / 2) AS INT)
        )
        -- hot-bucket cap (64), matching the Spark plan's max_bucket_size
        QUALIFY count(*) OVER (PARTITION BY band, band_key) <= 64
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM banded a JOIN banded b
          ON a.band = b.band AND a.band_key = b.band_key
         AND a.doc_id < b.doc_id
    )
    SELECT c.doc_a, c.doc_b,
           round(avg(CASE WHEN sa.minhash = sb.minhash THEN 1.0 ELSE 0.0 END), 6)
               AS est_jaccard
    FROM cand c
    JOIN sig sa ON sa.doc_id = c.doc_a
    JOIN sig sb ON sb.doc_id = c.doc_b AND sb.seed = sa.seed
    GROUP BY c.doc_a, c.doc_b
    """,
)
def q26_minhash_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup candidate pairs (band collision) verified by
    signature agreement.  Banding turns O(n^2) into groupBy(band_key) +
    within-bucket join — the scale path for 100 TB dedup.

    max_bucket_size=64 (the curation ladder's production cap, mirrored
    by QUALIFY in the twin): round 11's spill stress caught this query
    UNCAPPED at the 16x replicated tier — the regenerated corpus's
    boilerplate band keys made the within-bucket self-join spill 37 GB
    and take 152 s at 16x, and fill the disk at 64x (STRESS.md).  The
    oracle fixtures' buckets sit far below 64, so the hash check is
    unchanged; the cap exists exactly for the tiers where it fired."""
    return DD.minhash_neardup_pairs(
        load(spark, sf_dir, "documents"), "text", "doc_id",
        max_bucket_size=64,
    )


@register(
    "q159_incremental_neardup",
    survey="V6,R2,ext-minhash-lsh",
    sql="""
    WITH corpus AS (
        SELECT doc_id, text FROM documents WHERE doc_id % 10 <> 9
    ),
    newb AS (
        SELECT doc_id, text FROM documents WHERE doc_id % 10 = 9
        UNION ALL
        SELECT doc_id + 1000000 AS doc_id, text
        FROM documents WHERE doc_id % 20 = 3
    ),
    allb AS (
        SELECT doc_id, text, FALSE AS is_new FROM corpus
        UNION ALL
        SELECT doc_id, text, TRUE AS is_new FROM newb
    ),
    sig AS (
        SELECT doc_id, seed,
               min((h1 + seed * h2) % 4294967296) AS minhash
        FROM (
            SELECT doc_id,
                   ('0x' || substring(md5(shingle), 1, 8))::BIGINT AS h1,
                   ('0x' || substring(md5(shingle), 9, 8))::BIGINT AS h2
            FROM (
                SELECT DISTINCT doc_id, substring(text, i, 5) AS shingle
                FROM allb, unnest(generate_series(1,
                     greatest(1, length(text) - 4))) AS t(i)
            )
        ), unnest(generate_series(0, 7)) AS s(seed)
        GROUP BY doc_id, seed
    ),
    banded AS (
        SELECT doc_id, band, band_key FROM (
            SELECT doc_id, cast(floor(seed / 2) AS INT) AS band,
                   string_agg(cast(minhash AS VARCHAR), '|' ORDER BY seed)
                       AS band_key
            FROM sig GROUP BY doc_id, cast(floor(seed / 2) AS INT)
        )
        -- hot-bucket cap by TOTAL population (corpus + new), matching the
        -- incremental operator's max_bucket_size contract
        QUALIFY count(*) OVER (PARTITION BY band, band_key) <= 64
    ),
    flags AS (SELECT doc_id, is_new FROM allb),
    cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
                        fb.is_new AS b_new
        FROM banded a
        JOIN flags fa ON fa.doc_id = a.doc_id AND fa.is_new
        JOIN banded b ON a.band = b.band AND a.band_key = b.band_key
                      AND a.doc_id <> b.doc_id
        JOIN flags fb ON fb.doc_id = b.doc_id
        WHERE (NOT fb.is_new) OR a.doc_id < b.doc_id
    )
    SELECT c.doc_a, c.doc_b,
           round(avg(CASE WHEN sa.minhash = sb.minhash
                          THEN 1.0 ELSE 0.0 END), 6) AS est_jaccard,
           CASE WHEN c.b_new THEN 'new_new' ELSE 'new_corpus' END
               AS pair_type
    FROM cand c
    JOIN sig sa ON sa.doc_id = c.doc_a
    JOIN sig sb ON sb.doc_id = c.doc_b AND sb.seed = sa.seed
    GROUP BY c.doc_a, c.doc_b, c.b_new
    """,
)
def q159_incremental_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental near-dup: a NEW crawl batch matched against the
    already-signed corpus (operators/dedup.py minhash_neardup_incremental)
    — the periodic-re-crawl shape: the corpus signatures are read, never
    recomputed or reshuffled; only buckets the new batch collides with are
    joined.  The batch here is the doc_id%10==9 slice plus planted exact
    re-crawls of corpus docs (doc_id%20==3 under shifted ids), so
    new-corpus pairs at est_jaccard 1.0 are guaranteed regardless of
    fixture randomness; pair_type separates new-vs-corpus from
    within-batch pairs.  Streaming maintainer: streaming/neardup.py."""
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    corpus = docs.filter(F.expr("doc_id % 10 <> 9"))
    newb = docs.filter(F.expr("doc_id % 10 = 9")).unionByName(
        docs.filter(F.expr("doc_id % 20 = 3")).select(
            (F.col("doc_id") + 1000000).alias("doc_id"), "text"
        )
    )
    corpus_wide = DD.minhash_signatures_wide(corpus, "text", "doc_id")
    # cap=64 like q26/the ladder: round 11's spill stress showed the
    # regenerated corpus's boilerplate band keys blow the bucket join up
    # at replicated tiers (q26 uncapped: 37 GB spill at 16x) — the
    # incremental shape bounds batch x bucket instead of bucket^2, but a
    # hot corpus bucket would still dominate every fold that touches it
    pairs, new_wide = DD.minhash_neardup_incremental(
        newb, corpus_wide, "text", "doc_id", max_bucket_size=64
    )
    # drop the operator's cache hint right away: this query path never
    # folds new_wide, and driver/oracle harnesses run it repeatedly — an
    # orphaned cached relation per run would pile up in executor storage
    # (the plan simply recomputes the batch signatures where referenced)
    new_wide.unpersist()
    return pairs


@register(
    "q79_bpe_token_estimate",
    survey="ext-langid,T1",
    sql="""
    SELECT doc_id,
           len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]+'))
               AS bpe_tokens,
           CASE WHEN length(trim(text)) = 0 THEN 0
                ELSE len(regexp_split_to_array(trim(text), '\\s+')) END
               AS ws_tokens,
           n_chars
    FROM documents
    """,
)
def q79_bpe_token_estimate(spark, sf_dir):
    """BPE-ish token counting: a GPT-2-style pre-tokenizer approximation
    (letter runs | digit runs | punctuation runs) vs plain whitespace
    tokens.  Pure JVM regex per row — no UDF, no shuffle; at 100 TB this is
    a map-only pass whose cost is the scan itself.  Token counts drive
    quality filtering and cost estimation in training-data pipelines.
    """
    docs = load(spark, sf_dir, "documents")
    bpe = F.size(F.expr(r"regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]+', 0)"))
    ws = F.when(F.length(F.trim("text")) == 0, F.lit(0)).otherwise(
        F.size(F.split(F.trim(F.col("text")), r"\s+"))
    )
    return docs.select(
        "doc_id",
        bpe.cast("long").alias("bpe_tokens"),
        ws.cast("long").alias("ws_tokens"),
        "n_chars",
    )


@register(
    "q81_train_test_split",
    survey="A5,ext-fingerprint",
    sql="""
    SELECT split, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS total_chars
    FROM (
        SELECT CASE WHEN ('0x' || substring(md5(cast(doc_id AS VARCHAR)), 1, 8))::BIGINT
                         % 100 < 90
                    THEN 'train' ELSE 'test' END AS split,
               n_chars
        FROM documents
    )
    GROUP BY split
    """,
)
def q81_train_test_split(spark, sf_dir):
    """Deterministic 90/10 train/test split by content-independent key hash
    (md5 of the doc id) — the reproducible-split primitive every training
    pipeline needs: stable across runs, engines, and partitionings, unlike
    sample()/rand() which depend on partition layout.

    Map-only expression work + one tiny 2-group aggregation; at 100 TB the
    split column is computed inline during the scan and never shuffled.
    """
    docs = load(spark, sf_dir, "documents")
    bucket = F.expr(
        "cast(conv(substring(md5(cast(doc_id as string)), 1, 8), 16, 10) as bigint) % 100"
    )
    split = F.when(bucket < 90, "train").otherwise("test")
    return (
        docs.select(split.alias("split"), "n_chars")
        .groupBy("split")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("total_chars"),
        )
    )


@register(
    "q82_stratified_cap",
    survey="W1,A5",
    sql="""
    SELECT source, count(*) AS n_kept, CAST(sum(n_chars) AS BIGINT) AS kept_chars
    FROM (
        SELECT source, n_chars,
               row_number() OVER (
                   PARTITION BY source
                   ORDER BY ('0x' || substring(md5(cast(doc_id AS VARCHAR)), 1, 8))::BIGINT,
                            doc_id
               ) AS rn
        FROM documents
    )
    WHERE rn <= 50
    GROUP BY source
    """,
)
def q82_stratified_cap(spark, sf_dir):
    """Stratified downsampling: cap each source at 50 documents, chosen by
    deterministic hash order (a seeded uniform draw that is reproducible
    across engines and partitionings).  Domain-balancing a web corpus —
    capping over-represented sources — is exactly this plan at 100 TB: one
    shuffle on the stratum key, per-partition local sort, no global sort.
    """
    docs = load(spark, sf_dir, "documents")
    h = F.expr(
        "cast(conv(substring(md5(cast(doc_id as string)), 1, 8), 16, 10) as bigint)"
    )
    w = W.partitionBy("source").orderBy(h, F.col("doc_id"))
    return (
        docs.select("source", "n_chars", F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") <= 50)
        .groupBy("source")
        .agg(
            F.count("*").alias("n_kept"),
            F.sum("n_chars").cast("long").alias("kept_chars"),
        )
    )


@register(
    "q84_tfidf_top_terms",
    survey="W1,A5,T1",
    sql="""
    WITH tokens AS (
        SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z]+')) AS term
        FROM documents
    ),
    tf AS (SELECT doc_id, term, count(*) AS tf FROM tokens GROUP BY doc_id, term),
    df AS (SELECT term, count(*) AS df FROM tf GROUP BY term)
    SELECT doc_id, term, tf, df, rnk
    FROM (
        SELECT tf.doc_id, tf.term, tf.tf, df.df,
               CAST(row_number() OVER (
                   PARTITION BY tf.doc_id
                   ORDER BY tf.tf DESC, df.df ASC, tf.term) AS BIGINT) AS rnk
        FROM tf JOIN df USING (term)
    )
    WHERE rnk <= 3
    """,
)
def q84_tfidf_top_terms(spark, sf_dir):
    """TF-IDF-style salient terms: top-3 terms per document ranked by
    (tf DESC, df ASC) — for a fixed corpus, ln(N/df) is strictly monotone
    in -df, so this integer ranking IS the tf-idf order without computing
    a logarithm (whose last-ulp differs between libm implementations,
    breaking cross-engine ties nondeterministically).

    Plan: explode -> per-doc tf agg (shuffle on doc+term), df agg from tf
    (shuffle on term), term-keyed join back, per-doc window top-k.  At
    100 TB the df side is the corpus vocabulary — heavy-tailed, so AQE
    skew-join (or frequency-capped broadcast of the head) handles the
    'the'/'and' hot keys.
    """
    docs = load(spark, sf_dir, "documents")
    from coldata_spark.tables import fan_out

    tokens = fan_out(docs).select(
        "doc_id",
        F.explode(
            F.expr("regexp_extract_all(lower(text), '[a-z]+', 0)")
        ).alias("term"),
    )
    tf = tokens.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    df = tf.groupBy("term").agg(F.count("*").alias("df"))
    w = W.partitionBy("doc_id").orderBy(
        F.col("tf").desc(), F.col("df").asc(), F.col("term")
    )
    return (
        tf.join(df, "term")
        .select(
            "doc_id", "term", "tf", "df",
            F.row_number().over(w).cast("long").alias("rnk"),
        )
        .filter(F.col("rnk") <= 3)
    )


@register(
    "q87_corpus_curation",
    survey="V6,A1,A5,ext-quality,ext-langid,ext-curation",
    sql="""
    WITH scored AS (
        SELECT doc_id, source, lang, n_chars, text,
               0.5 * least(1.0,
                     (CASE WHEN length(trim(text)) = 0 THEN 0
                      ELSE len(regexp_split_to_array(trim(text), '\\s+')) END) / 64.0)
             + 0.5 * (CASE WHEN length(text) = 0 THEN 0.0
                      ELSE (length(text) - length(regexp_replace(text, '[A-Za-z]', '', 'g')))
                           / cast(length(text) AS DOUBLE) END) AS quality
        FROM documents
    ),
    keepers AS (
        SELECT min(doc_id) AS doc_id FROM scored GROUP BY text
    )
    SELECT source, lang,
           count(*) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars
    FROM scored
    JOIN keepers USING (doc_id)
    WHERE quality >= 0.5
    GROUP BY source, lang
    """,
)
def q87_corpus_curation(spark, sf_dir):
    """End-to-end corpus curation in one plan — the composition every
    training-data pipeline runs nightly: quality scoring (Gopher-style
    expression filters) -> exact dedup (keep min doc_id per identical
    text) -> per-(source, lang) accounting of the surviving corpus.

    The quality score and filter are scan-side expressions (no shuffle);
    dedup is one groupBy on the text hash; the final accounting aggregates
    the survivors.  Quality threshold 0.5 is compared on the UNROUNDED
    score — both engines compute the identical double expression, and no
    fixture score sits within fp distance of 0.5.
    """
    docs = load(spark, sf_dir, "documents")
    scored = docs.select(
        "doc_id", "source", "lang", "n_chars", "text",
        TX.quality_score_raw(F.col("text")).alias("quality"),
    )
    keepers = scored.groupBy("text").agg(F.min("doc_id").alias("doc_id")).select(
        "doc_id"
    )
    return (
        scored.join(keepers, "doc_id")
        .filter(F.col("quality") >= 0.5)
        .groupBy("source", "lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("total_chars"),
        )
    )


@register(
    "q88_token_freq_histogram",
    survey="A5,ext-tokens",
    sql="""
    WITH df AS (
        SELECT term, count(*) AS doc_freq
        FROM (
            SELECT DISTINCT doc_id,
                   unnest(regexp_extract_all(lower(text), '[a-z]+')) AS term
            FROM documents
        )
        GROUP BY term
    )
    SELECT CAST(floor(log2(doc_freq)) AS BIGINT) AS freq_bucket,
           count(*) AS n_terms,
           min(doc_freq) AS min_df,
           max(doc_freq) AS max_df
    FROM df
    GROUP BY freq_bucket
    """,
)
def q88_token_freq_histogram(spark, sf_dir):
    """Zipf-style vocabulary histogram: terms bucketed by floor(log2(doc
    frequency)) — the corpus statistic behind vocabulary pruning and
    stopword discovery.  log2 is exact on powers of two in IEEE, so bucket
    boundaries agree across engines; everything else is integer.

    Plan: explode -> distinct (doc,term) -> term agg -> tiny bucket agg.
    The vocabulary shuffle is the heavy stage at scale; its key space is
    the vocabulary (bounded by Heaps' law), not the corpus.
    """
    from coldata_spark.tables import fan_out

    docs = fan_out(load(spark, sf_dir, "documents"))
    tokens = docs.select(
        "doc_id",
        F.explode(F.expr("regexp_extract_all(lower(text), '[a-z]+', 0)")).alias(
            "term"
        ),
    ).distinct()
    df = tokens.groupBy("term").agg(F.count("*").alias("doc_freq"))
    bucket = F.floor(F.log2("doc_freq")).cast("long")
    return (
        df.groupBy(bucket.alias("freq_bucket"))
        .agg(
            F.count("*").alias("n_terms"),
            F.min("doc_freq").alias("min_df"),
            F.max("doc_freq").alias("max_df"),
        )
    )


Q108_CAP = 64  # max docs per (lang, pos, chunk) signature bucket


@register(
    "q108_fuzzy_match",
    survey="V6,A2",
    sql=f"""
    WITH titles AS (
        SELECT doc_id AS title_doc, lang,
               replace(substring(text, 1, 30), 'a', '@') AS title
        FROM documents WHERE doc_id % 10 = 0
    ),
    pref AS (
        SELECT doc_id, lang, substring(text, 1, 30) AS s FROM documents
    ),
    dch AS (
        SELECT doc_id, lang, p.p AS pos,
               substring(s, p.p * 4 + 1, 4) AS chunk
        FROM pref, unnest(generate_series(0, 6)) AS p(p)
    ),
    keep AS (
        SELECT lang, pos, chunk FROM dch
        GROUP BY lang, pos, chunk HAVING count(*) <= {Q108_CAP}
    ),
    dk AS (
        SELECT d.doc_id, d.lang, d.pos, d.chunk
        FROM dch d JOIN keep k
          ON d.lang = k.lang AND d.pos = k.pos AND d.chunk = k.chunk
    ),
    tch AS (
        SELECT title_doc, lang, p.p AS pos,
               substring(title, p.p * 4 + 1, 4) AS chunk
        FROM titles, unnest(generate_series(0, 6)) AS p(p)
    ),
    cand AS (
        SELECT DISTINCT t.title_doc, d.doc_id
        FROM tch t JOIN dk d
          ON t.lang = d.lang AND t.pos = d.pos AND t.chunk = d.chunk
    ),
    scored AS (
        SELECT c.title_doc, c.doc_id, levenshtein(t.title, p.s) AS dist
        FROM cand c
        JOIN titles t ON t.title_doc = c.title_doc
        JOIN pref p ON p.doc_id = c.doc_id
    )
    SELECT title_doc,
           CAST(doc_id AS BIGINT) AS matched_doc,
           CAST(dist AS BIGINT) AS best_dist
    FROM (
        SELECT *, row_number() OVER (PARTITION BY title_doc
                                     ORDER BY dist, doc_id) AS rn
        FROM scored
    )
    WHERE rn = 1
    """,
)
def q108_fuzzy_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy entity matching (typo-tolerant lookup): corrupted titles
    (every 'a' replaced) matched back to their documents by minimum
    Levenshtein distance among PIGEONHOLE candidates.  The standard
    dedup/entity-resolution flavor the exact/minhash/simhash ladder lacks
    — edit distance catches char-level noise n-gram sets miss.

    Candidate generation (Ed-Join-style signature blocking): both sides
    cut their 30-char prefix into 7 aligned 4-char chunks; a (title,
    doc) pair is scored iff it shares >= 1 (lang, pos, chunk) signature
    whose bucket holds <= Q108_CAP docs.  Pigeonhole guarantee: a true
    source within 6 SUBSTITUTIONS leaves >= 1 of the 7 chunks untouched
    (indel-shifted matches and all-chunks-corrupted titles can drop —
    the documented approximation, standard for signature schemes).  The
    bucket cap is MANDATORY, not tuning: the round-12 full-registry
    sweep caught the original lang-only blocking at 167M levenshtein
    pairs on the 16x tier (quadratic in replication — the q26 uncapped-
    LSH lesson verbatim, found by the same kind of tier run), while
    chunk blocking scores ~5.6M; popular-chunk buckets (shared
    boilerplate prefixes) are dropped deterministically, exactly like
    minhash_neardup's max_bucket_size.

    Plan: chunk explode (7x rows, map-side), one count aggregate for the
    cap, equi-join on (lang, pos, chunk), distinct pairs, join back for
    the two strings, levenshtein on candidates only; argmin via one
    min(struct) aggregation — no window over the full corpus, no n^2
    block join.  At 100 TB the chunk width/count sharpen with the
    distance bound k (k+1 chunks) and the same plan holds."""
    docs = load(spark, sf_dir, "documents")
    titles = docs.filter(F.col("doc_id") % 10 == 0).select(
        F.col("doc_id").alias("title_doc"),
        "lang",
        F.replace(F.substring("text", 1, 30), F.lit("a"), F.lit("@")).alias("title"),
    )
    pref = docs.select(
        "doc_id", "lang", F.substring("text", 1, 30).alias("s")
    )
    pos = F.explode(F.sequence(F.lit(0), F.lit(6))).alias("pos")

    def chunks(df, id_col, s_col):
        return df.select(id_col, "lang", pos, F.col(s_col).alias("_s")).select(
            id_col,
            "lang",
            "pos",
            F.expr("substring(_s, pos * 4 + 1, 4)").alias("chunk"),
        )

    dch = chunks(pref, "doc_id", "s")
    # bucket cap as a COUNT WINDOW on the blocking key (q26's
    # max_bucket_size shape): the previous groupBy + join-back referenced
    # dch twice, so the doc-side chunk explode ran twice and paid an extra
    # join; the window shares the exchange the candidate join needs anyway
    # (OPTIMIZATION_r14.md § q108_fuzzy_match)
    from pyspark.sql import Window as _W

    dk = (
        dch.withColumn(
            "_n", F.count("*").over(_W.partitionBy("lang", "pos", "chunk"))
        )
        .filter(F.col("_n") <= Q108_CAP)
        .drop("_n")
    )
    cand = (
        chunks(titles, "title_doc", "title")
        .join(dk, ["lang", "pos", "chunk"])
        .select("title_doc", "doc_id")
        .distinct()
    )
    scored = (
        cand.join(titles.select("title_doc", "title"), "title_doc")
        .join(pref.select("doc_id", "s"), "doc_id")
        .select(
            "title_doc",
            "doc_id",
            F.levenshtein("title", "s").alias("dist"),
        )
    )
    best = (
        scored.groupBy("title_doc")
        .agg(F.min(F.struct("dist", "doc_id")).alias("b"))
        .select(
            "title_doc",
            F.col("b.doc_id").cast("long").alias("matched_doc"),
            F.col("b.dist").cast("long").alias("best_dist"),
        )
    )
    return best


@register(
    "q120_bm25_search",
    survey="W1,A5,T1,J1",
    sql="""
    WITH toks AS (
        SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z]+')) AS term
        FROM documents
    ),
    dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id),
    scalars AS (
        SELECT (SELECT count(*) FROM documents) AS n_docs,
               (SELECT (sum(dl) * 1000000) //
                       (SELECT count(*) FROM documents) FROM dl) AS avgdl_micro
    ),
    tf AS (
        SELECT doc_id, term, count(*) AS tf FROM toks
        WHERE term IN ('scan', 'window', 'merge')
        GROUP BY doc_id, term
    ),
    df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
    scored AS (
        SELECT tf.doc_id,
               sum(((1000 * (2 * s.n_docs - 2 * df.df + 1)) // (2 * df.df + 1)
                    * (tf.tf * 2200000))
                   // (tf.tf * 1000000 + 300000 +
                       (900000 * ((dl.dl * 1000000) // s.avgdl_micro)) // 1000000)
                  ) AS score_milli
        FROM tf JOIN df USING (term) JOIN dl USING (doc_id) CROSS JOIN scalars s
        GROUP BY tf.doc_id
    )
    SELECT doc_id, CAST(score_milli AS BIGINT) AS score_milli,
           CAST(row_number() OVER (ORDER BY score_milli DESC, doc_id) AS BIGINT)
               AS rank
    FROM scored
    QUALIFY rank <= 10
    """,
)
def q120_bm25_search(spark, sf_dir):
    """BM25-scored keyword search over an inverted index built in-plan —
    the lexical ranking the reference's search surface implies, next to
    the vector side (q30/q90).  BM25's constants are kept as integer
    ratios (k1 = 12/10, b = 3/4) and the idf uses the exact rational form
    (2N - 2df + 1)/(2df + 1) — the argument of BM25's log, which is
    strictly monotone in it, so the ranking is the BM25 ranking while
    every term score stays a bit-exact integer in milli-units (libm log
    last-ulp differences can't flip cross-engine ties).  Fixed-point
    scale notes: idf in milli keeps idf*tf*2.2e6 under int64 through
    N ~ 1e6 docs per partition-corpus; rescale before a trillion-doc
    global idf.

    Plan: tokenize -> per-doc length agg; the tf aggregation filters to
    QUERY terms BEFORE the shuffle, so the posting list materialized is
    queries x matched docs, not the full vocabulary.  df and the two
    corpus scalars broadcast (1-row / #terms-row sides); the only big
    shuffles are the two token aggs, both map-side combinable.  Top-10 is
    TakeOrdered, no global sort."""
    from coldata_spark.tables import fan_out

    docs = load(spark, sf_dir, "documents")
    toks = fan_out(docs).select(
        "doc_id",
        F.explode(F.expr("regexp_extract_all(lower(text), '[a-z]+', 0)")).alias(
            "term"
        ),
    )
    # Round 14: doc length = size of the match array, computed map-side in
    # ONE expression — the explode+groupBy form multiplied the corpus into
    # a token stream and paid a doc-keyed combine shuffle just to count
    # rows per doc.  size() emits dl=0/NULL rows for token-less docs where
    # the explode form emitted none — harmless: such docs have no tf rows
    # to join and contribute nothing to sum_dl.  The two dl consumers each
    # re-run the (map-only, stage-fused) expression; materializing it was
    # measured slower than recomputing
    # (OPTIMIZATION_r14.md § q120_bm25_search).
    dl = fan_out(docs).select(
        "doc_id",
        F.expr(
            "size(regexp_extract_all(lower(text), '[a-z]+', 0))"
        ).cast("long").alias("dl"),
    )
    nd = docs.agg(F.count("*").alias("n_docs"))
    scalars = (
        dl.agg(F.sum("dl").alias("sum_dl"))
        .crossJoin(F.broadcast(nd))
        .select("n_docs", F.expr("(sum_dl * 1000000) div n_docs").alias("avgdl_micro"))
    )
    tf = (
        toks.filter(F.col("term").isin("scan", "window", "merge"))
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"))
    )
    dfreq = tf.groupBy("term").agg(F.count("*").alias("df"))
    term_score = (
        "((1000 * (2 * n_docs - 2 * df + 1)) div (2 * df + 1)"
        " * (tf * 2200000))"
        " div (tf * 1000000 + 300000 +"
        " (900000 * ((dl * 1000000) div avgdl_micro)) div 1000000)"
    )
    scored = (
        tf.join(F.broadcast(dfreq), "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(scalars))
        .select("doc_id", F.expr(term_score).alias("sterm"))
        .groupBy("doc_id")
        .agg(F.sum("sterm").alias("score_milli"))
    )
    top = scored.orderBy(F.col("score_milli").desc(), "doc_id").limit(10)
    return top.select(
        "doc_id",
        F.col("score_milli").cast("long").alias("score_milli"),
        F.row_number()
        .over(W.orderBy(F.col("score_milli").desc(), "doc_id"))
        .cast("long")
        .alias("rank"),
    )


@register(
    "q132_source_keyness",
    survey="T1,A5,W1",
    sql="""
    WITH toks AS (
        SELECT source, unnest(regexp_extract_all(lower(text), '[a-z]+')) AS term
        FROM documents
    ),
    tf AS (SELECT source, term, CAST(count(*) AS BIGINT) AS tf
           FROM toks GROUP BY source, term),
    totals AS (SELECT source, CAST(sum(tf) AS BIGINT) AS n_src FROM tf GROUP BY source),
    term_tot AS (SELECT term, CAST(sum(tf) AS BIGINT) AS tf_all FROM tf GROUP BY term),
    grand AS (SELECT CAST(sum(tf) AS BIGINT) AS n_all FROM tf),
    scored AS (
        SELECT tf.source, tf.term, tf.tf,
               CAST((1000000 * (tf.tf + 1) * (g.n_all - t.n_src + 1000))
                    // ((tt.tf_all - tf.tf + 1) * (t.n_src + 1000)) AS BIGINT)
                   AS keyness_micro
        FROM tf
        JOIN totals t USING (source)
        JOIN term_tot tt USING (term)
        CROSS JOIN grand g
    )
    SELECT source, term, tf, keyness_micro, rnk
    FROM (
        SELECT source, term, tf, keyness_micro,
               CAST(row_number() OVER (PARTITION BY source
                    ORDER BY keyness_micro DESC, term) AS BIGINT) AS rnk
        FROM scored
    )
    WHERE rnk <= 5
    """,
)
def q132_source_keyness(spark, sf_dir):
    """Corpus-comparison keyness: the terms most distinctive of each source
    vs the rest of the corpus, scored by a smoothed relative-rate ratio
    ((tf_s+1)/(n_s+V)) / ((tf_rest+1)/(n_rest+V)) kept entirely in integer
    micro-units — the log-odds keyness ranking without the log (monotone
    transform, rule 21), so top-5 per source is bit-exact cross-engine.

    Plan: token tf (one combine-agg shuffle on (source, term)), term and
    source totals derived FROM the tf table (tiny re-aggs, no second scan
    of documents), a broadcast of the scalar grand total, then a per-source
    window over the scored vocabulary.  At 100 TB the vocabulary table is
    the only wide intermediate, and it is heavy-tail-skewed exactly like
    q84 — same AQE skew-join note applies."""
    from coldata_spark.tables import fan_out

    docs = load(spark, sf_dir, "documents")
    toks = fan_out(docs).select(
        "source",
        F.explode(F.expr("regexp_extract_all(lower(text), '[a-z]+', 0)")).alias(
            "term"
        ),
    )
    tf = toks.groupBy("source", "term").agg(F.count("*").cast("long").alias("tf"))
    # materialize the vocabulary table ONCE: tf is referenced four times
    # below (totals, term_tot, grand, scored) and Spark re-ran the corpus
    # regexp-explode for each — 4 scans + 4 explodes where one suffices
    # (OPTIMIZATION_r14.md § q132_source_keyness).  tf is the
    # rolled-up (source x term) table, orders of magnitude smaller than the
    # token stream, so checkpointing it is the scale-correct trade
    # (localCheckpoint spills to disk past memory).
    tf = tf.localCheckpoint(eager=True)
    totals = tf.groupBy("source").agg(F.sum("tf").cast("long").alias("n_src"))
    term_tot = tf.groupBy("term").agg(F.sum("tf").cast("long").alias("tf_all"))
    grand = tf.agg(F.sum("tf").cast("long").alias("n_all"))
    scored = (
        tf.join(F.broadcast(totals), "source")
        .join(term_tot, "term")
        .crossJoin(F.broadcast(grand))
        .select(
            "source",
            "term",
            "tf",
            F.expr(
                "CAST((1000000 * (tf + 1) * (n_all - n_src + 1000))"
                " div ((tf_all - tf + 1) * (n_src + 1000)) AS BIGINT)"
            ).alias("keyness_micro"),
        )
    )
    w = W.partitionBy("source").orderBy(F.col("keyness_micro").desc(), "term")
    return (
        scored.select(
            "source", "term", "tf", "keyness_micro",
            F.row_number().over(w).cast("long").alias("rnk"),
        )
        .filter(F.col("rnk") <= 5)
    )


@register(
    "q134_length_deciles",
    survey="A5,W2,ext-quality",
    sql="""
    WITH banded AS (
        SELECT n_chars,
               CAST(ntile(10) OVER (ORDER BY n_chars, doc_id) AS BIGINT) AS decile
        FROM documents
    )
    SELECT decile,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(min(n_chars) AS BIGINT) AS min_chars,
           CAST(max(n_chars) AS BIGINT) AS max_chars,
           CAST(sum(n_chars) AS BIGINT) AS total_chars
    FROM banded GROUP BY decile
    """,
)
def q134_length_deciles(spark, sf_dir):
    """Exact decile bands over document length — the curation profile that
    decides truncation/packing policies.  ntile under a fully tie-broken
    total order distributes rows identically in both engines (same
    floor-division bucket rule), so band boundaries and per-band stats are
    bit-exact with zero percentile interpolation.

    Plan: the global-order window is the honest cost here and is the point
    of the query (deciles need a total order once); at 100 TB the same
    output comes from a 2-pass approximate-boundaries + bucket-assign
    plan, with this exact form as its oracle at test scale."""
    docs = load(spark, sf_dir, "documents")
    w = W.orderBy("n_chars", "doc_id")
    banded = docs.select(
        "n_chars", F.ntile(10).over(w).cast("long").alias("decile")
    )
    return banded.groupBy("decile").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.min("n_chars").cast("long").alias("min_chars"),
        F.max("n_chars").cast("long").alias("max_chars"),
        F.sum("n_chars").cast("long").alias("total_chars"),
    )


@register(
    "q140_cluster_aware_split",
    survey="V6,A5,ext-fingerprint",
    sql="""
    WITH RECURSIVE sig AS (
        SELECT doc_id, seed,
               min((h1 + seed * h2) % 4294967296) AS minhash
        FROM (
            SELECT doc_id,
                   ('0x' || substring(md5(shingle), 1, 8))::BIGINT AS h1,
                   ('0x' || substring(md5(shingle), 9, 8))::BIGINT AS h2
            FROM (
                SELECT DISTINCT doc_id, substring(text, i, 5) AS shingle
                FROM documents, unnest(generate_series(1,
                     greatest(1, length(text) - 4))) AS t(i)
            )
        ), unnest(generate_series(0, 7)) AS s(seed)
        GROUP BY doc_id, seed
    ),
    banded AS (
        SELECT doc_id, band, band_key FROM (
            SELECT doc_id, cast(floor(seed / 2) AS INT) AS band,
                   string_agg(cast(minhash AS VARCHAR), '|' ORDER BY seed)
                       AS band_key
            FROM sig GROUP BY doc_id, cast(floor(seed / 2) AS INT)
        )
        -- hot-bucket cap (64), matching the Spark plan's max_bucket_size
        QUALIFY count(*) OVER (PARTITION BY band, band_key) <= 64
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM banded a JOIN banded b
          ON a.band = b.band AND a.band_key = b.band_key
         AND a.doc_id < b.doc_id
    ),
    est AS (
        SELECT c.doc_a, c.doc_b,
               round(avg(CASE WHEN sa.minhash = sb.minhash THEN 1.0 ELSE 0.0 END), 6)
                   AS est_jaccard
        FROM cand c
        JOIN sig sa ON sa.doc_id = c.doc_a
        JOIN sig sb ON sb.doc_id = c.doc_b AND sb.seed = sa.seed
        GROUP BY c.doc_a, c.doc_b
    ),
    edges AS (
        SELECT doc_a AS a, doc_b AS b FROM est WHERE est_jaccard >= 0.75
        UNION
        SELECT doc_b, doc_a FROM est WHERE est_jaccard >= 0.75
    ),
    reach(src, dst) AS (
        SELECT a, b FROM edges
        UNION
        SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a
    ),
    labels AS (
        SELECT src AS id, least(src, min(dst)) AS component
        FROM reach GROUP BY src
    ),
    grp AS (
        SELECT d.doc_id, d.n_chars, coalesce(l.component, d.doc_id) AS g
        FROM documents d LEFT JOIN labels l ON l.id = d.doc_id
    ),
    splits AS (
        SELECT g, n_chars,
               CASE WHEN ('0x' || substring(md5(CAST(g AS VARCHAR)), 1, 8))::BIGINT
                         % 100 < 80 THEN 'train'
                    WHEN ('0x' || substring(md5(CAST(g AS VARCHAR)), 1, 8))::BIGINT
                         % 100 < 90 THEN 'val'
                    ELSE 'test' END AS split
        FROM grp
    )
    SELECT split,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(DISTINCT g) AS BIGINT) AS n_groups,
           CAST(sum(n_chars) AS BIGINT) AS total_chars
    FROM splits GROUP BY split
    """,
)
def q140_cluster_aware_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-aware train/val/test split — the leakage guard q81's plain
    hash split lacks: near-duplicate documents land in the SAME split
    because the split hash is computed on the dedup-GROUP label (connected
    component of the minhash-LSH pair graph), not the document id.  A
    test-set document can therefore never have a near-dup twin in train —
    the contamination that inflates eval scores in dedup-naive pipelines.
    80/10/10 by md5 of the group label, identical integer rule on both
    engines; every group lands in exactly one split by construction
    (n_groups per split sums to total groups).

    Plan: the pair graph + O(diameter) label propagation from q59, then
    one map-side hash and a 3-group combine agg — the split itself adds
    no shuffle beyond the dedup pipeline it reuses.  max_bucket_size=64
    on the pair generation (QUALIFY twin in the SQL): caught uncapped by
    the round-12 registry sweep at 16x, q26's lesson at a third call
    site — 20+ minutes of spill-bound wall clock restored to seconds."""
    from coldata_spark.operators.dedup import connected_components

    docs = load(spark, sf_dir, "documents")
    pairs = DD.minhash_neardup_pairs(
        docs, "text", "doc_id", max_bucket_size=64
    ).filter(
        F.col("est_jaccard") >= 0.75
    )
    comp = connected_components(pairs)
    grp = docs.join(
        comp.withColumnRenamed("id", "doc_id"), "doc_id", "left"
    ).select(
        "n_chars",
        F.coalesce("component", "doc_id").alias("g"),
    )
    bucket = F.expr(
        "cast(conv(substring(md5(cast(g as string)), 1, 8), 16, 10) as bigint) % 100"
    )
    split = (
        F.when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test")
    )
    return (
        grp.select(split.alias("split"), "g", "n_chars")
        .groupBy("split")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.countDistinct("g").cast("long").alias("n_groups"),
            F.sum("n_chars").cast("long").alias("total_chars"),
        )
    )


def _q141_capped_buckets(sh0: DataFrame) -> DataFrame:
    """q141's bucket build, pre-checkpoint (module-level so the plan dumps
    can show the count-prefilter feeding the collect — the checkpoint in
    the query body truncates it out of the final explain).  Input: the
    per-doc distinct (doc_id, shingle) stream; output: one row per KEPT
    shingle (doc frequency <= 64) with its complete doc list — every
    collect_list group provably bounded by the cap.

    Shape: a window count over the shingle partition decides the kept
    shingles, then the collect_list aggregation REUSES that partitioning
    (no second exchange).  The probed alternative — count aggregate +
    left-semi join back — was 39% slower at the 16x tier (7.64 vs 5.53 s)
    because the shingle pipeline (the expensive transform/array_distinct
    explode) ran twice: ReuseExchange cannot collapse the two references
    (the join branch's exchange is rewritten to ENSURE_REQUIREMENTS, and
    exchanges with different shuffleOrigins never canonicalize equal).
    The hot-key buffer here is WindowExec's ExternalAppendOnlyUnsafeRowArray
    — it SPILLS TO DISK past the in-memory threshold, unlike a collect_list
    aggregation buffer which must hold the whole group on heap."""
    w = W.partitionBy("shingle")
    return (
        # the isNotNull filter mirrors the oracle's `sh0 JOIN keep` (an
        # equality join never passes null shingles); shingles are
        # substrings of non-null text so it filters nothing on real data
        sh0.filter(F.col("shingle").isNotNull())
        .withColumn("df", F.count("doc_id").over(w))
        .filter(F.col("df") <= 64)
        .groupBy("shingle")
        .agg(F.collect_list("doc_id").alias("ds"))
    )


@register(
    "q141_shingle_containment",
    survey="V6,A5,J5",
    sql="""
    WITH sh0 AS (
        SELECT DISTINCT doc_id, substring(text, i, 5) AS shingle
        FROM documents, unnest(generate_series(1,
             greatest(1, length(text) - 4))) AS t(i)
    ),
    -- stop-shingle cap (64): a shingle seen in more docs is boilerplate,
    -- not containment evidence, and its pair fan-out is quadratic
    keep AS (
        SELECT shingle FROM sh0 GROUP BY shingle HAVING count(*) <= 64
    ),
    sh AS (
        SELECT s.doc_id, s.shingle
        FROM sh0 s JOIN keep k ON s.shingle = k.shingle
    ),
    sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_sh FROM sh GROUP BY doc_id),
    inter AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               CAST(count(*) AS BIGINT) AS n_common
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id <> b.doc_id
        GROUP BY a.doc_id, b.doc_id
    )
    SELECT i.doc_a, i.doc_b, i.n_common,
           CAST((1000000 * i.n_common) // sa.n_sh AS BIGINT)
               AS containment_ppm
    FROM inter i JOIN sizes sa ON sa.doc_id = i.doc_a
    WHERE (1000000 * i.n_common) // sa.n_sh >= 800000
    """,
)
def q141_shingle_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric containment dedup: |shingles(A) ∩ shingles(B)| /
    |shingles(A)| ≥ 0.8 flags documents mostly CONTAINED in another —
    quote/subset duplication that symmetric Jaccard under-scores (a short
    doc inside a long one has low Jaccard but containment ~1).  Exact
    integer ppm ratio, ordered pairs (A-in-B and B-in-A are different
    findings).

    Plan: distinct shingles per doc (one combine shuffle), the
    intersection via a shingle-keyed self-join with map-side combine on
    the (a, b) pair.  Stop-shingle capping is IMPLEMENTED, not just
    documented (round-12 registry sweep: the uncapped self-join's pair
    fan-out is sum over shingles of df^2 — boilerplate shingles made it
    grind at the 16x tier): shingles with doc-frequency > 64 are dropped
    before the join on BOTH sides and excluded from the denominator, so
    containment reads "share of A's informative shingles found in B" —
    self-consistent, and the pair space is bounded by 64 x kept-shingle
    count."""
    from coldata_spark.tables import fan_out

    docs = load(spark, sf_dir, "documents")
    # per-doc shingle SET built in-expression (array_distinct before the
    # explode — true set semantics with NO distinct shuffle; doc_id makes
    # the per-doc distinct global, exactly DD.shingles(distinct=True))
    sh0 = fan_out(docs).select(
        "doc_id",
        F.explode(
            F.array_distinct(
                F.expr(
                    "transform(sequence(1, greatest(1, length(text) - 4)),"
                    " i -> substring(text, i, 5))"
                )
            )
        ).alias("shingle"),
    )
    # Round-14 one-shuffle rewrite (guide §2.3/§2.4): the previous shape —
    # explode -> row distinct -> count-cap join-back -> shingle self-join —
    # referenced the shingle pipeline four times, so the corpus was
    # exploded + distinct-shuffled repeatedly (14.2 s at the 16x tier).
    # Collect each kept shingle's doc list ONCE (the LSH bucket shape the
    # dedup engines already use), materialize the capped buckets, and
    # generate the ordered co-occurrence pairs in-expression: per-bucket
    # fan-out is bounded by the 64-doc cap (<= 4032 pairs per bucket), the
    # per-bucket array by the same cap times 8 bytes.  One corpus pass, one
    # wide exchange (OPTIMIZATION_r14.md § q141_shingle_containment).
    #
    # Round 15 (guide §5 / §2.5 — bounded per-key state): r14 collected
    # every shingle's FULL doc list before the <=64 cap filter, so one
    # boilerplate shingle at 100 TB would buffer its entire doc list in a
    # single in-memory aggregation buffer before being discarded.  Now a
    # window count over the shingle partition decides the kept shingles
    # FIRST, and only their rows reach collect_list (every group provably
    # <=64 elements); the hot-key state during the count is WindowExec's
    # disk-spillable row array, and the collect aggregation reuses the
    # window's partitioning — still ONE corpus pass and ONE wide exchange
    # (see _q141_capped_buckets for the probed-and-rejected alternatives).
    b = _q141_capped_buckets(sh0).localCheckpoint(eager=True)
    sizes = (
        b.select(F.explode("ds").alias("doc_id"))
        .groupBy("doc_id")
        .agg(F.count("*").cast("long").alias("n_sh"))
    )
    inter = (
        b.select(
            F.explode(
                F.expr(
                    "flatten(transform(ds, x ->"
                    " transform(filter(ds, y -> y != x),"
                    " y -> struct(x AS doc_a, y AS doc_b))))"
                )
            ).alias("p")
        )
        .select("p.doc_a", "p.doc_b")
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").cast("long").alias("n_common"))
    )
    # plain key join, NOT broadcast: sizes is one row per corpus document
    # (unbounded), unlike q29's capped probe side — broadcasting it would
    # OOM at the scale this query documents
    out = inter.join(
        sizes.withColumnRenamed("doc_id", "doc_a"), "doc_a"
    ).select(
        "doc_a",
        "doc_b",
        "n_common",
        F.expr("CAST((1000000 * n_common) div n_sh AS BIGINT)").alias(
            "containment_ppm"
        ),
    )
    return out.filter(F.col("containment_ppm") >= 800000)


@register(
    "q143_lsh_bucket_balance",
    survey="A5,V6,ext-quality",
    sql="""
    WITH sig AS (
        SELECT doc_id, seed,
               min((h1 + seed * h2) % 4294967296) AS minhash
        FROM (
            SELECT doc_id,
                   ('0x' || substring(md5(shingle), 1, 8))::BIGINT AS h1,
                   ('0x' || substring(md5(shingle), 9, 8))::BIGINT AS h2
            FROM (
                SELECT DISTINCT doc_id, substring(text, i, 5) AS shingle
                FROM documents, unnest(generate_series(1,
                     greatest(1, length(text) - 4))) AS t(i)
            )
        ), unnest(generate_series(0, 7)) AS s(seed)
        GROUP BY doc_id, seed
    ),
    banded AS (
        SELECT doc_id, cast(floor(seed / 2) AS INT) AS band,
               string_agg(cast(minhash AS VARCHAR), '|' ORDER BY seed) AS band_key
        FROM sig GROUP BY doc_id, cast(floor(seed / 2) AS INT)
    ),
    buckets AS (
        SELECT band, band_key, CAST(count(*) AS BIGINT) AS sz
        FROM banded GROUP BY band, band_key
    )
    SELECT band,
           CAST(count(*) AS BIGINT) AS n_buckets,
           CAST(max(sz) AS BIGINT) AS max_bucket,
           CAST(sum(sz * (sz - 1) // 2) AS BIGINT) AS candidate_pairs
    FROM buckets GROUP BY band
    """,
)
def q143_lsh_bucket_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH bucket-balance diagnostic: per band, how many buckets the
    corpus hashes into, the hottest bucket's size, and the candidate-pair
    work sum(s*(s-1)/2) the within-bucket join will do — the number that
    says whether the banding parameters keep the quadratic term bounded
    BEFORE running the join (the q133 skew profile, specialized to the
    dedup pipeline's own shuffle key).

    Plan (round 14): the minhash signature build (1 md5 per distinct
    shingle), then band keys derived MAP-SIDE from the wide signature
    frame (_banded_from_wide — the q26 engine's layout): the long-form
    stack + groupBy(doc_id, band) + collect_list/array_sort re-aggregation
    paid a #docs x 8-row shuffle just to re-concatenate columns that sit
    side by side in the wide frame.  band_key = concat_ws('|', h_{2b},
    h_{2b+1}) is exactly the seed-ordered string_agg (the h-columns ARE
    the per-seed minhashes in seed order), so the bucket populations are
    string-identical.  2 shuffles -> 1 (the bucket-size combine agg); one
    tiny per-band agg on top
    (OPTIMIZATION_r14.md § q143_lsh_bucket_balance)."""
    docs = load(spark, sf_dir, "documents")
    wide = DD.minhash_signatures_wide(docs, "text", "doc_id")
    banded = DD._banded_from_wide(wide, DD.N_HASHES, DD.BAND_SIZE)
    buckets = banded.groupBy("band", "band_key").agg(
        F.count("*").cast("long").alias("sz")
    )
    return buckets.groupBy("band").agg(
        F.count("*").cast("long").alias("n_buckets"),
        F.max("sz").cast("long").alias("max_bucket"),
        F.sum(F.expr("sz * (sz - 1) div 2")).cast("long").alias("candidate_pairs"),
    )


@register(
    "q153_unigram_logprob_quality",
    survey="ext-quality,A5,J1,O1",
    sql="""
    WITH toks AS (
        SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS term
        FROM documents WHERE length(trim(text)) > 0
    ),
    vocab AS (SELECT term, count(*) AS cnt FROM toks GROUP BY term),
    tot AS (SELECT count(*) AS n FROM toks),
    scored AS (
        SELECT t.doc_id,
               count(*) AS n_tokens,
               avg(-ln(v.cnt / (SELECT n FROM tot))) AS nll
        FROM toks t JOIN vocab v USING (term)
        GROUP BY t.doc_id
    )
    SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
           round(nll, 4) AS avg_nll
    FROM scored
    ORDER BY avg_nll DESC, doc_id
    LIMIT 25
    """,
)
def q153_unigram_logprob_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram language-model surprisal scoring — the cheapest member of
    the perplexity-filter family (CCNet/RedPajama score documents with a
    KenLM n-gram model; the unigram case is exactly expressible in both
    engines): build corpus unigram frequencies, score each document by its
    mean token negative log-probability, surface the most surprising
    (likely junk or off-distribution) documents.

    Plan: one token explode feeding BOTH the vocabulary aggregate and the
    per-doc join probe; the corpus total joins in as a broadcast 1-row
    scalar.  The vocab join shuffles on term — at 100 TB the vocabulary is
    the heavy side and this is the standard frequency-join; per-doc
    aggregation reuses nothing exotic.  Top-k via TakeOrdered.  Float
    parity note: ln() is the one libm call in the oracle surface; the
    4 dp round makes cross-engine ulp drift a ~1e-9 event per row."""
    from coldata_spark.tables import fan_out

    docs = fan_out(load(spark, sf_dir, "documents")).filter(
        F.length(F.trim("text")) > 0
    )
    toks = docs.select(
        "doc_id", F.explode(F.split(F.trim("text"), r"\s+")).alias("term")
    )
    vocab = toks.groupBy("term").agg(F.count("*").alias("cnt"))
    # corpus token total = sum of the vocabulary counts — an exact integer
    # identity, so deriving it from the (tiny) vocab aggregate instead of a
    # third scan+explode of the corpus cannot move a single bit of the nll
    # arithmetic; this drops the token pipeline from 3 runs per query to 2
    # (OPTIMIZATION_r14.md § q153_unigram_logprob_quality)
    total = vocab.agg(F.sum("cnt").alias("n"))
    scored = (
        toks.join(vocab, "term")
        .join(F.broadcast(total))
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_tokens"),
            F.round(F.avg(-F.log(F.col("cnt") / F.col("n"))), 4).alias("avg_nll"),
        )
    )
    # TakeOrderedAndProject, not a global row_number window (which would
    # single-partition every scored doc)
    return scored.orderBy(
        F.col("avg_nll").desc(), F.col("doc_id")
    ).limit(25)


@register(
    "q160_repeated_ngram_spans",
    survey="V6,T1",
    sql=r"""
    WITH words AS (
        SELECT doc_id,
               list_filter(regexp_split_to_array(text, '[ \t\n\r\f\x0B]+'),
                           x -> x <> '') AS w
        FROM documents
    ),
    grams AS (
        SELECT doc_id, i AS pos,
               md5(array_to_string(list_slice(w, i, i + 7), ' ')) AS h
        FROM words, LATERAL unnest(generate_series(1, len(w) - 7)) AS t(i)
        WHERE len(w) >= 8
    ),
    rep AS (
        SELECT h FROM grams GROUP BY h HAVING count(DISTINCT doc_id) > 1
    )
    SELECT g.doc_id,
           count(*) AS n_windows,
           CAST(count(*) FILTER (WHERE r.h IS NOT NULL) AS BIGINT)
               AS n_dup_windows,
           round(count(*) FILTER (WHERE r.h IS NOT NULL) * 1.0 / count(*), 6)
               AS dup_ratio
    FROM grams g LEFT JOIN rep r ON g.h = r.h
    GROUP BY g.doc_id
    ORDER BY g.doc_id
    """,
)
def q160_repeated_ngram_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document exact-substring duplication report: per document, how
    many of its 8-token sliding windows appear verbatim in ANOTHER document
    (operators/dedup.py repeated_ngram_windows — the distributed n-gram
    form of Lee et al. 2022's repeated-span removal; the reference dedups
    on primary key only, crawler.py:39-50).  ``dup_ratio`` is the signal a
    curation pipeline thresholds to drop boilerplate-heavy documents, and
    the window-level operator output carries the exact positions for span
    CLIPPING instead of whole-doc dropping."""
    wins = DD.repeated_ngram_windows(
        load(spark, sf_dir, "documents"), "text", "doc_id"
    )
    return (
        wins.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_windows"),
            F.sum(F.when(F.col("dup"), 1).otherwise(0)).alias("n_dup_windows"),
        )
        .select(
            "doc_id",
            "n_windows",
            "n_dup_windows",
            F.round(F.col("n_dup_windows") / F.col("n_windows"), 6).alias(
                "dup_ratio"
            ),
        )
        .orderBy("doc_id")
    )


@register(
    "q161_clip_repeated_spans",
    survey="V6,T1,T8",
    sql=r"""
    WITH words AS (
        SELECT doc_id,
               list_filter(regexp_split_to_array(text, '[ \t\n\r\f\x0B]+'),
                           x -> x <> '') AS w
        FROM documents
    ),
    grams AS (
        SELECT doc_id, i AS pos,
               md5(array_to_string(list_slice(w, i, i + 7), ' ')) AS h
        FROM words, LATERAL unnest(generate_series(1, len(w) - 7)) AS t(i)
        WHERE len(w) >= 8
    ),
    rep AS (
        SELECT h, min(doc_id) AS canon
        FROM grams GROUP BY h HAVING count(DISTINCT doc_id) > 1
    ),
    flagged AS (
        SELECT g.doc_id, g.pos
        FROM grams g JOIN rep r ON g.h = r.h
        WHERE g.doc_id <> r.canon
    ),
    covered AS (
        SELECT doc_id, list(DISTINCT i) AS cov
        FROM flagged, LATERAL unnest(generate_series(pos, pos + 7)) AS t(i)
        GROUP BY doc_id
    )
    SELECT w.doc_id,
           coalesce(
               array_to_string(
                   [w.w[i] FOR i IN generate_series(1, len(w.w))
                    IF NOT list_contains(coalesce(c.cov, []), i)], ' '),
               '') AS clean_text,
           CAST(len(coalesce(c.cov, [])) AS BIGINT) AS n_tokens_removed
    FROM words w LEFT JOIN covered c USING (doc_id)
    ORDER BY w.doc_id
    """,
)
def q161_clip_repeated_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repeated-span CLIPPING (operators/dedup.py clip_repeated_spans): the
    cleaning half of Lee et al. 2022's exact-substring dedup — every
    cross-document duplicated 8-token window keeps its smallest-doc-id
    occurrence and is clipped everywhere else, texts rebuilt from the
    surviving tokens.  The full rebuilt strings are value-hashed against
    the DuckDB twin, so the byte-level clip semantics (not just counts)
    are oracle-checked."""
    return DD.clip_repeated_spans(
        load(spark, sf_dir, "documents"), "text", "doc_id"
    ).orderBy("doc_id")
