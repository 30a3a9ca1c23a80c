"""Training-data curation queries beyond the reference's surface: PII
redaction, benchmark decontamination, repetition-based quality (the Gopher/
C4-style filter family).  All pure column expressions / joins — no UDFs —
with exact DuckDB oracles.

Scale shapes: q94 is a per-row expression map (no shuffle); q95 is a
broadcast-able join on n-gram keys (benchmark side is tiny by construction,
like real decontamination where the benchmark suite is fixed); q96 is one
groupBy(doc, bigram) with map-side combine.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from coldata_spark.registry import register
from coldata_spark.tables import load

_EMAIL = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+"
_PHONE = "555-[0-9]{4}"
_IP = "[0-9]+\\.[0-9]+\\.[0-9]+\\.[0-9]+"


@register(
    "q94_pii_redact",
    survey="T1,T8,ext-quality",
    sql=f"""
    WITH messy AS (
        SELECT doc_id,
               concat(substring(text, 1, 80),
                      ' Contact user', CAST(doc_id AS VARCHAR(20)),
                      '@mail.example.com or 555-',
                      lpad(CAST(doc_id % 10000 AS VARCHAR(20)), 4, '0'),
                      ' from 10.', CAST(doc_id % 256 AS VARCHAR(20)), '.0.',
                      CAST(doc_id % 100 AS VARCHAR(20))) AS t
        FROM documents
    )
    SELECT doc_id,
           len(regexp_split_to_array(t, '{_EMAIL}')) - 1 AS n_emails,
           len(regexp_split_to_array(t, '{_PHONE}')) - 1 AS n_phones,
           len(regexp_split_to_array(
               regexp_replace(t, '{_EMAIL}', '[EMAIL]', 'g'), '{_IP}')) - 1 AS n_ips,
           regexp_replace(regexp_replace(regexp_replace(
               t, '{_EMAIL}', '[EMAIL]', 'g'),
                  '{_IP}', '[IP]', 'g'),
                  '{_PHONE}', '[PHONE]', 'g') AS redacted
    FROM messy
    """,
)
def q94_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII detection + redaction (emails / phone / IPv4) as pure JVM regex
    expressions.  The fixture text is PII-free, so deterministic PII is
    injected per doc, then counted and masked — counts via split-cardinality
    so both engines agree exactly.  IPs are counted AFTER email masking so
    an address's host octets can't double-count."""
    docs = load(spark, sf_dir, "documents")
    t = F.concat(
        F.substring("text", 1, 80),
        F.lit(" Contact user"), F.col("doc_id").cast("string"),
        F.lit("@mail.example.com or 555-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
        F.lit(" from 10."), (F.col("doc_id") % 256).cast("string"),
        F.lit(".0."), (F.col("doc_id") % 100).cast("string"),
    )

    def n_matches(col, pat):
        return (F.size(F.split(col, pat)) - 1).cast("long")

    no_email = F.regexp_replace(t, _EMAIL, "[EMAIL]")
    redacted = F.regexp_replace(
        F.regexp_replace(no_email, _IP, "[IP]"), _PHONE, "[PHONE]"
    )
    return docs.select(
        "doc_id",
        n_matches(t, _EMAIL).alias("n_emails"),
        n_matches(t, _PHONE).alias("n_phones"),
        n_matches(no_email, _IP).alias("n_ips"),
        redacted.alias("redacted"),
    )


@register(
    "q95_decontaminate",
    survey="V6,ext-ngram-jaccard,ext-quality",
    sql="""
    WITH bench AS (
        SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS w
        FROM documents WHERE doc_id < 20
    ),
    cand AS (
        SELECT c.doc_id,
               CASE WHEN c.doc_id % 7 = 3
                    THEN concat(c.text, ' ', array_to_string(b.w[1:8], ' '))
                    ELSE c.text END AS t
        FROM documents c JOIN bench b ON b.doc_id = c.doc_id % 20
        WHERE c.doc_id >= 20
    ),
    bench_grams AS (
        SELECT DISTINCT array_to_string(w[i:i+7], ' ') AS gram
        FROM bench, unnest(generate_series(1, greatest(0, len(w) - 7))) AS s(i)
    ),
    cand_grams AS (
        SELECT DISTINCT doc_id, array_to_string(w[i:i+7], ' ') AS gram
        FROM (SELECT doc_id, regexp_split_to_array(trim(t), '\\s+') AS w FROM cand),
             unnest(generate_series(1, greatest(0, len(w) - 7))) AS s(i)
    )
    SELECT c.doc_id, count(*) AS n_shared_ngrams
    FROM cand_grams c JOIN bench_grams b ON c.gram = b.gram
    GROUP BY c.doc_id
    """,
)
def q95_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag training docs sharing any word 8-gram
    with a (fixed, small) benchmark set — the standard eval-leak filter for
    LLM corpora.  Contamination is injected by construction (docs ≡3 mod 7
    get the first 8 benchmark words appended) so the filter provably fires.

    Plan: benchmark gram set is tiny and broadcast; candidates explode to
    grams map-side and hash-join — at 100 TB this is one scan + broadcast
    join, no big-side shuffle before the per-doc count."""
    from coldata_spark.tables import fan_out

    docs = load(spark, sf_dir, "documents")
    words = F.split(F.trim(F.col("text")), r"\s+")
    bench = docs.filter(F.col("doc_id") < 20).select("doc_id", words.alias("w"))

    # Spark's sequence(1, 0) yields [1, 0] (descending), unlike DuckDB's
    # empty series — filter sub-8-word docs out before the transform (they
    # produce no grams in either engine).
    gram_expr = (
        "transform(sequence(1, size(w) - 7),"
        " i -> array_join(slice(w, i, 8), ' '))"
    )
    bench_grams = (
        bench.filter(F.size("w") >= 8)
        .select(F.explode(F.expr(gram_expr)).alias("gram"))
        .distinct()
    )

    cand = (
        fan_out(docs.filter(F.col("doc_id") >= 20))
        .join(
            F.broadcast(bench.select((F.col("doc_id")).alias("b_id"), "w")),
            F.col("doc_id") % 20 == F.col("b_id"),
        )
        .select(
            "doc_id",
            F.when(
                F.col("doc_id") % 7 == 3,
                F.concat(
                    F.col("text"), F.lit(" "),
                    F.array_join(F.slice(F.col("w"), 1, 8), " "),
                ),
            ).otherwise(F.col("text")).alias("t"),
        )
    )
    cand_grams = (
        cand.select("doc_id", F.split(F.trim(F.col("t")), r"\s+").alias("w"))
        .filter(F.size("w") >= 8)
        .select("doc_id", F.explode(F.expr(gram_expr)).alias("gram"))
        .distinct()
    )
    return (
        cand_grams.join(F.broadcast(bench_grams), "gram")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_shared_ngrams"))
    )


@register(
    "q96_repetition_quality",
    survey="ext-quality,ext-tokens,A5",
    sql="""
    WITH w AS (
        SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS words
        FROM documents
    ),
    bi AS (
        SELECT doc_id,
               concat(words[i], ' ', words[i+1]) AS bigram
        FROM w, unnest(generate_series(1, greatest(0, len(words) - 1))) AS s(i)
    ),
    counts AS (
        SELECT doc_id, bigram, count(*) AS n FROM bi GROUP BY doc_id, bigram
    ),
    top AS (
        SELECT doc_id, CAST(sum(n) AS BIGINT) AS n_bigrams,
               CAST(max(n) AS BIGINT) AS top_bigram_n
        FROM counts GROUP BY doc_id
    ),
    ttr AS (
        SELECT doc_id,
               CAST(len(words) AS BIGINT) AS n_words,
               CAST(len(list_distinct(words)) AS BIGINT) AS n_distinct_words
        FROM w
    )
    SELECT t.doc_id, ttr.n_words, ttr.n_distinct_words, t.n_bigrams, t.top_bigram_n,
           floor(t.top_bigram_n * 1e6 / t.n_bigrams) / 1e6 AS top_bigram_frac,
           floor(ttr.n_distinct_words * 1e6 / ttr.n_words) / 1e6 AS type_token_ratio
    FROM top t JOIN ttr ON t.doc_id = ttr.doc_id
    """,
)
def q96_repetition_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition-based quality signals (the Gopher filter family): most
    frequent word-bigram share and type-token ratio per document.  Fractions
    use floor-truncation (IEEE-identical across engines) per the repo's
    oracle-parity rules.  One groupBy(doc, bigram) shuffle with map-side
    combine; the TTR side is pure in-expression (array_distinct)."""
    docs = load(spark, sf_dir, "documents")
    words = F.split(F.trim(F.col("text")), r"\s+")
    w = docs.select("doc_id", words.alias("words"))
    bi = w.filter(F.size("words") >= 2).select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(1, size(words) - 1),"
                " i -> concat(words[i-1], ' ', words[i]))"
            )
        ).alias("bigram"),
    )
    top = (
        bi.groupBy("doc_id", "bigram")
        .agg(F.count("*").alias("n"))
        .groupBy("doc_id")
        .agg(
            F.sum("n").cast("long").alias("n_bigrams"),
            F.max("n").cast("long").alias("top_bigram_n"),
        )
    )
    ttr = w.select(
        "doc_id",
        F.size("words").cast("long").alias("n_words"),
        F.size(F.array_distinct("words")).cast("long").alias("n_distinct_words"),
    )
    frac = F.floor(F.col("top_bigram_n") * 1e6 / F.col("n_bigrams")) / 1e6
    tt = F.floor(F.col("n_distinct_words") * 1e6 / F.col("n_words")) / 1e6
    return (
        top.join(ttr, "doc_id")
        .select(
            "doc_id", "n_words", "n_distinct_words", "n_bigrams", "top_bigram_n",
            frac.alias("top_bigram_frac"),
            tt.alias("type_token_ratio"),
        )
    )


# ---------------------------------------------------------------------------
# URL canonicalization + crawl-frontier dedup
# ---------------------------------------------------------------------------

# Deterministic messy-URL synthesis: the fixture has no URL column, so each
# doc derives one from (doc_id, source) with case-variant scheme/host, a
# default port, tracking params in varying order, an optional trailing slash
# and an optional fragment — every variant class canonicalize_url() must
# collapse.  Docs sharing (source, doc_id % 40) collapse to one canonical URL.
_MESSY_URL_SQL = """
    concat(
        CASE WHEN doc_id % 5 = 0 THEN 'HTTPS' ELSE 'https' END, '://',
        CASE WHEN doc_id % 2 = 0 THEN upper(source) ELSE source END,
        '.Example.com',
        CASE WHEN doc_id % 3 = 0 THEN ':443' ELSE '' END,
        '/Docs/', CAST(doc_id % 40 AS VARCHAR(20)),
        CASE WHEN doc_id % 4 = 1 THEN '/' ELSE '' END,
        CASE doc_id % 3
             WHEN 0 THEN concat('?utm_source=feed&id=', CAST(doc_id % 40 AS VARCHAR(20)))
             WHEN 1 THEN concat('?id=', CAST(doc_id % 40 AS VARCHAR(20)), '&utm_campaign=x')
             ELSE concat('?id=', CAST(doc_id % 40 AS VARCHAR(20))) END,
        CASE WHEN doc_id % 4 = 1 THEN '#section-2' ELSE '' END
    )
"""


def _q101_sql() -> str:
    from coldata_spark.functions.url import canonicalize_url_sql

    return f"""
    WITH urls AS (
        SELECT doc_id, source, {_MESSY_URL_SQL} AS url FROM documents
    )
    SELECT {canonicalize_url_sql("url")} AS canonical_url,
           CAST(count(*) AS BIGINT) AS n_urls,
           CAST(count(DISTINCT url) AS BIGINT) AS n_variants,
           CAST(min(doc_id) AS BIGINT) AS keep_doc
    FROM urls
    GROUP BY 1
    """


@register("q101_url_canonical_dedup", survey="S1,A1,ext-url-dedup", sql=_q101_sql())
def q101_url_canonical_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl-frontier URL dedup: canonicalize (case, default port, fragment,
    tracking params, param order, trailing slash) then group — the equality
    dedup the reference crawler does on raw link strings
    (reference crawler.py:39-50), made safe for web-scale variant URLs.

    Plan: canonicalization is pure map-side codegen; the groupBy(canonical)
    is the only shuffle, with map-side combine.  At 100 TB the frontier
    dedup becomes exactly this shape plus a bloom/state store."""
    from coldata_spark.functions.url import canonicalize_url

    docs = load(spark, sf_dir, "documents")
    urls = docs.select(
        "doc_id", "source", F.expr(_MESSY_URL_SQL).alias("url")
    )
    return (
        urls.select("doc_id", "url", canonicalize_url(F.col("url")).alias("canonical_url"))
        .groupBy("canonical_url")
        .agg(
            F.count("*").cast("long").alias("n_urls"),
            F.count_distinct("url").cast("long").alias("n_variants"),
            F.min("doc_id").cast("long").alias("keep_doc"),
        )
    )


_BLOCKED_SOURCES = ("src3", "src7", "src11", "src15")


@register(
    "q102_domain_blocklist",
    survey="J3,A5,ext-quality",
    sql=f"""
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars
    FROM documents
    WHERE source NOT IN {_BLOCKED_SOURCES!r}
    GROUP BY lang
    """,
)
def q102_domain_blocklist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain blocklist filter: drop documents whose source domain is on a
    curated blocklist (spam/adult/boilerplate domains in a real pipeline),
    then summarize the surviving corpus per language.

    Plan: the blocklist is a tiny dimension — broadcast LEFT ANTI join, so
    the 100 TB fact side never shuffles; the per-lang rollup has map-side
    combine.  A real deployment swaps the inline list for a table scan of
    the same shape."""
    docs = load(spark, sf_dir, "documents")
    blocklist = spark.createDataFrame(
        [(s,) for s in _BLOCKED_SOURCES], "source string"
    )
    return (
        docs.join(F.broadcast(blocklist), "source", "left_anti")
        .groupBy("lang")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("total_chars"),
        )
    )


_STOPWORDS = "('the','a','of','and','to','in','is','it')"


@register(
    "q103_quality_classifier",
    survey="ext-quality,A5",
    sql=f"""
    WITH feat AS (
        SELECT doc_id,
               greatest(len(regexp_split_to_array(trim(text), '\\s+')), 1) AS n_words,
               len(list_filter(regexp_split_to_array(trim(text), '\\s+'),
                               w -> w IN {_STOPWORDS})) AS n_stop,
               length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS n_digits,
               greatest(length(text), 1) AS n_chars_txt
        FROM documents
    )
    SELECT doc_id,
           CAST(n_words AS BIGINT) AS n_words,
           CAST(n_stop * 1000000 // n_words AS BIGINT) AS stop_micro,
           CAST(n_digits * 1000000 // n_chars_txt AS BIGINT) AS digit_micro,
           CAST(-800000 + 3 * (n_stop * 1000000 // n_words)
                - 2 * (n_digits * 1000000 // n_chars_txt)
                + least(n_words, 1000) * 500 AS BIGINT) AS logit_micro,
           (-800000 + 3 * (n_stop * 1000000 // n_words)
                - 2 * (n_digits * 1000000 // n_chars_txt)
                + least(n_words, 1000) * 500) > 0 AS kept
    FROM feat
    """,
)
def q103_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear quality classifier (fastText-style score, integer-quantized):
    stopword fraction, digit fraction and length feed fixed micro-unit
    weights; docs with positive logit are kept.  All-integer arithmetic so
    both engines agree bit-exactly (no libm, no fp association drift).

    Plan: pure per-row expressions, zero shuffle — at 100 TB this is a
    map-only scan whose predicate (kept) pushes into downstream filters.
    Real model weights would arrive as a broadcast array with the same
    shape."""
    docs = load(spark, sf_dir, "documents")
    feat = docs.selectExpr(
        "doc_id",
        "greatest(size(split(trim(text), '\\\\s+')), 1) AS n_words",
        f"size(filter(split(trim(text), '\\\\s+'), w -> w IN {_STOPWORDS})) AS n_stop",
        "length(text) - length(regexp_replace(text, '[0-9]', '')) AS n_digits",
        "greatest(length(text), 1) AS n_chars_txt",
    )
    return feat.selectExpr(
        "doc_id",
        "CAST(n_words AS BIGINT) AS n_words",
        "CAST(n_stop * 1000000 div n_words AS BIGINT) AS stop_micro",
        "CAST(n_digits * 1000000 div n_chars_txt AS BIGINT) AS digit_micro",
        "CAST(-800000 + 3 * (n_stop * 1000000 div n_words)"
        " - 2 * (n_digits * 1000000 div n_chars_txt)"
        " + least(n_words, 1000) * 500 AS BIGINT) AS logit_micro",
        "(-800000 + 3 * (n_stop * 1000000 div n_words)"
        " - 2 * (n_digits * 1000000 div n_chars_txt)"
        " + least(n_words, 1000) * 500) > 0 AS kept",
    )


_PACK_CAP = 4096  # tokens per training sequence
_PACK_GROUPS = 32  # parallel packing streams


@register(
    "q104_sequence_packing",
    survey="W2,ext-tokens",
    sql=f"""
    WITH toks AS (
        SELECT doc_id,
               doc_id % {_PACK_GROUPS} AS pack_group,
               len(regexp_split_to_array(trim(text), '\\s+')) AS n_tokens
        FROM documents
    )
    SELECT doc_id,
           CAST(pack_group AS BIGINT) AS pack_group,
           CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(coalesce(sum(n_tokens) OVER (
               PARTITION BY pack_group ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
               AS start_tok,
           CAST(coalesce(sum(n_tokens) OVER (
               PARTITION BY pack_group ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               // {_PACK_CAP} AS BIGINT) AS pack_id
    FROM toks
    """,
)
def q104_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GPT-style sequence packing: concatenate documents in deterministic
    order and split the token stream into fixed-capacity training sequences
    (docs may span a boundary, as in standard concat-and-chunk pretraining).
    Each doc gets its global start offset and the pack (sequence) its first
    token lands in.

    Plan: packing runs in {_PACK_GROUPS} independent hash-bucketed streams —
    the running-sum window partitions by pack_group, so no global ordering
    bottleneck; at 100 TB pack_group scales with the cluster and each stream
    stays a single-pass window."""
    from pyspark.sql import Window

    docs = load(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        (F.col("doc_id") % _PACK_GROUPS).alias("pack_group"),
        F.size(F.split(F.trim(F.col("text")), r"\s+")).alias("n_tokens"),
    )
    w = (
        Window.partitionBy("pack_group")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    start = F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
    return toks.select(
        "doc_id",
        F.col("pack_group").cast("long").alias("pack_group"),
        F.col("n_tokens").cast("long").alias("n_tokens"),
        start.cast("long").alias("start_tok"),
        F.expr(
            f"CAST(coalesce(sum(n_tokens) OVER ("
            f"  PARTITION BY pack_group ORDER BY doc_id"
            f"  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)"
            f"  div {_PACK_CAP} AS BIGINT)"
        ).alias("pack_id"),
    )


_RESAMPLE_C = 0.2  # base acceptance rate; scaled by p_lang^-0.5


@register(
    "q105_temperature_resample",
    survey="A5,ext-quality",
    sql=f"""
    WITH stats AS (
        SELECT lang, count(*) AS n_lang,
               (SELECT count(*) FROM documents) AS n_total
        FROM documents GROUP BY lang
    ),
    rates AS (
        SELECT lang, n_lang,
               CAST(floor(least(
                   1.0, {_RESAMPLE_C} * sqrt(CAST(n_total AS DOUBLE) / n_lang)
               ) * 1000000) AS BIGINT) AS keep_micro
        FROM stats
    )
    SELECT d.lang,
           CAST(r.keep_micro AS BIGINT) AS keep_micro,
           CAST(count(*) AS BIGINT) AS n_orig,
           CAST(count(*) FILTER (
               WHERE ('0x' || substring(md5(CAST(d.doc_id AS VARCHAR(20))), 1, 8))::BIGINT
                     % 1000000 < r.keep_micro) AS BIGINT) AS n_kept
    FROM documents d JOIN rates r ON d.lang = r.lang
    GROUP BY d.lang, r.keep_micro
    """,
)
def q105_temperature_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multilingual temperature resampling (alpha = 0.5): accept each doc
    with rate C * p_lang^-0.5, flattening the language distribution the way
    multilingual pretraining corpora are rebalanced.  Acceptance is a
    deterministic md5-bucket threshold (stable across runs/engines/
    partitionings); sqrt is IEEE-correctly-rounded in both engines, and the
    rate is floor-quantized to integer micro-units before comparison.

    Plan: per-lang rates are a tiny aggregate — broadcast-joined back, so
    the 100 TB side computes hash + compare map-side; the only wide op is
    the per-lang rollup with map-side combine."""
    docs = load(spark, sf_dir, "documents")
    total = docs.agg(F.count("*").alias("n_total"))  # 1-row scalar, broadcast
    rates = (
        docs.groupBy("lang")
        .agg(F.count("*").alias("n_lang"))
        .crossJoin(F.broadcast(total))
        .select(
            "lang",
            F.floor(
                F.least(
                    F.lit(1.0),
                    _RESAMPLE_C
                    * F.sqrt(F.col("n_total").cast("double") / F.col("n_lang")),
                )
                * 1000000
            )
            .cast("long")
            .alias("keep_micro"),
        )
    )
    h = F.expr(
        "cast(conv(substring(md5(cast(doc_id as string)), 1, 8), 16, 10) as bigint)"
        " % 1000000"
    )
    return (
        docs.join(F.broadcast(rates), "lang")
        .select("lang", "keep_micro", (h < F.col("keep_micro")).alias("keep"))
        .groupBy("lang", "keep_micro")
        .agg(
            F.count("*").cast("long").alias("n_orig"),
            F.sum(F.when(F.col("keep"), 1).otherwise(0)).cast("long").alias("n_kept"),
        )
        .select("lang", "keep_micro", "n_orig", "n_kept")
    )


_N_SHARDS = 16


@register(
    "q106_shard_assignment",
    survey="A5",
    sql=f"""
    SELECT ('0x' || substring(md5(CAST(doc_id AS VARCHAR(20))), 1, 8))::BIGINT
               % {_N_SHARDS} AS shard,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars,
           CAST(min(doc_id) AS BIGINT) AS min_doc,
           CAST(max(doc_id) AS BIGINT) AS max_doc
    FROM documents
    GROUP BY 1
    """,
)
def q106_shard_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delivery-shard audit: the md5-bucket shard assignment used by
    export_jsonl_shards (sources/io.py), summarized per shard.  Because the
    assignment is a deterministic key hash, any engine can recompute shard
    membership — this query IS that audit, and its oracle proves the
    cross-engine agreement.

    Plan: map-side hash + one combine-aggregated groupBy over n_shards
    groups; at 100 TB the shuffle carries n_shards rows per task."""
    docs = load(spark, sf_dir, "documents")
    shard = F.expr(
        f"cast(conv(substring(md5(cast(doc_id as string)), 1, 8), 16, 10)"
        f" as bigint) % {_N_SHARDS}"
    )
    return (
        docs.select(shard.alias("shard"), "doc_id", "n_chars")
        .groupBy("shard")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("total_chars"),
            F.min("doc_id").cast("long").alias("min_doc"),
            F.max("doc_id").cast("long").alias("max_doc"),
        )
    )


_PR_ITER_SQL = """
    SELECT d.doc_id,
           CAST(150000 + (850000 * coalesce(sum(p.r // (1 + p.doc_id % 4)), 0))
                // 1000000 AS BIGINT) AS r
    FROM documents d
    LEFT JOIN edges e ON e.dst = d.doc_id
    LEFT JOIN {prev} p ON p.doc_id = e.src
    GROUP BY d.doc_id
"""


@register(
    "q110_pagerank",
    survey="A5,ext-quality",
    sql=f"""
    WITH n AS (SELECT count(*) AS n_docs FROM documents),
    edges AS (
        SELECT d.doc_id AS src, (d.doc_id * 31 + k) % n.n_docs AS dst
        FROM documents d, n, unnest([1, 2, 3, 4]) AS t(k)
        WHERE k <= 1 + d.doc_id % 4
    ),
    r0 AS (SELECT doc_id, CAST(1000000 AS BIGINT) AS r FROM documents),
    r1 AS ({_PR_ITER_SQL.format(prev="r0")}),
    r2 AS ({_PR_ITER_SQL.format(prev="r1")}),
    r3 AS ({_PR_ITER_SQL.format(prev="r2")})
    SELECT doc_id, r AS rank_micro FROM r3
    """,
)
def q110_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link-graph PageRank as a crawl-quality signal (the centrality score
    web-corpus pipelines attach to every page), integer-quantized so three
    power iterations are bit-exact across engines: rank in micro-units,
    damping 0.85, contribution = rank div out_degree.  The link graph is
    synthesized deterministically from doc ids (out-degree 1-4).

    Plan: each iteration is edges ⋈ ranks (shuffle on src) then a dst
    aggregation with map-side combine — the canonical iterative-join shape;
    at 100 TB ranks and edges co-partition on the join key so per-iteration
    cost is one co-located shuffle, and iterations stop at convergence
    (fixed 3 here for the oracle)."""
    docs = load(spark, sf_dir, "documents")
    total = docs.agg(F.count("*").alias("n_docs"))
    edges = (
        docs.crossJoin(F.broadcast(total))
        .select(
            F.col("doc_id").alias("src"),
            F.explode(F.expr("sequence(1, 1 + doc_id % 4)")).alias("k"),
            "n_docs",
        )
        .select("src", ((F.col("src") * 31 + F.col("k")) % F.col("n_docs")).alias("dst"))
    )
    # materialize the synthesized link graph ONCE: the three unrolled
    # iterations each referenced the edges subtree (docs scan + count +
    # explode), so the corpus was re-scanned and the graph re-generated per
    # round; checkpointed, every round's edges⋈ranks exchange on src is
    # byte-identical and plans as ReusedExchange
    # (OPTIMIZATION_r14.md § q110_pagerank)
    edges = edges.localCheckpoint(eager=True)
    ids = docs.select("doc_id").localCheckpoint(eager=True)
    ranks = ids.select("doc_id", F.lit(1000000).cast("long").alias("r"))
    for _ in range(3):
        contribs = (
            edges.join(ranks.withColumnRenamed("doc_id", "src"), "src")
            .select("dst", F.expr("r div (1 + src % 4)").alias("c"))
            .groupBy("dst")
            .agg(F.sum("c").alias("in_sum"))
        )
        ranks = (
            ids
            .join(contribs, ids.doc_id == contribs.dst, "left")
            .select(
                "doc_id",
                F.expr(
                    "CAST(150000 + (850000 * coalesce(in_sum, 0)) div 1000000"
                    " AS BIGINT)"
                ).alias("r"),
            )
        )
    return ranks.select("doc_id", F.col("r").alias("rank_micro"))


@register(
    "q154_mixture_allocation",
    survey="ext-curation,A5,W3,J1",
    sql="""
    WITH weights(lang, w) AS (
        VALUES ('en', 50), ('zh', 20), ('es', 15), ('fr', 10), ('de', 5)
    ),
    avail AS (SELECT lang, count(*) AS n_docs FROM documents GROUP BY lang),
    base AS (
        SELECT w.lang, coalesce(a.n_docs, 0) AS n_docs, w.w,
               (10000 * w.w) // (SELECT sum(w) FROM weights) AS floor_alloc,
               (10000 * w.w) % (SELECT sum(w) FROM weights) AS rem
        FROM weights w LEFT JOIN avail a USING (lang)
    ),
    ranked AS (
        SELECT *, row_number() OVER (ORDER BY rem DESC, lang) AS rk,
               (SELECT 10000 - sum(floor_alloc) FROM base) AS leftover
        FROM base
    )
    SELECT lang,
           CAST(n_docs AS BIGINT) AS n_docs,
           CAST(w AS BIGINT) AS weight,
           CAST(floor_alloc + CASE WHEN rk <= leftover THEN 1 ELSE 0 END
                AS BIGINT) AS allocation,
           CAST(CASE WHEN n_docs = 0 THEN NULL
                ELSE ((floor_alloc + CASE WHEN rk <= leftover THEN 1 ELSE 0
                       END) + n_docs - 1) // n_docs END
                AS BIGINT) AS epochs_needed
    FROM ranked
    """,
)
def q154_mixture_allocation(spark, sf_dir):
    """Training-mixture budget allocation by the largest-remainder method:
    given target language weights and a total document budget, compute each
    language's exact integer allocation (floor share, then +1 to the
    largest remainders until the budget is spent) and how many epochs over
    the available corpus that allocation implies (the up-sampling factor a
    mixture like The Pile / Dolma publishes per source).  All integer
    arithmetic — allocations sum EXACTLY to the budget on any engine.

    Plan: per-language counts are one map-side-combinable agg (bounded
    groups); weights broadcast from a literal frame; the remainder ranking
    is a window over #languages rows — everything after the count is
    driver-scale tiny, which is the point: mixture math never touches the
    corpus again."""
    from pyspark.sql import Window as W

    BUDGET = 10_000
    weights = [("en", 50), ("zh", 20), ("es", 15), ("fr", 10), ("de", 5)]
    total_w = sum(w for _, w in weights)
    wdf = spark.createDataFrame(weights, ["lang", "w"])
    avail = (
        load(spark, sf_dir, "documents")
        .groupBy("lang")
        .agg(F.count("*").alias("n_docs"))
    )
    # drive from the WEIGHTS: an inner join silently dropped any weighted
    # language absent from the corpus, under-allocating the budget (the
    # docstring's sums-exactly guarantee); a missing language allocates
    # its full share with epochs_needed NULL (nothing to up-sample)
    base = (
        wdf.join(avail, "lang", "left")
        .withColumn("n_docs", F.coalesce("n_docs", F.lit(0)))
        .withColumn("floor_alloc", F.expr(f"({BUDGET} * w) div {total_w}"))
        .withColumn("rem", F.expr(f"({BUDGET} * w) % {total_w}"))
    )
    leftover = F.lit(BUDGET) - F.sum("floor_alloc").over(W.partitionBy())
    rk = F.row_number().over(W.orderBy(F.col("rem").desc(), F.col("lang")))
    ranked = base.select(
        "lang", "n_docs", "w", "floor_alloc",
        rk.alias("rk"), leftover.alias("leftover"),
    ).withColumn(
        "allocation",
        F.col("floor_alloc") + (F.col("rk") <= F.col("leftover")).cast("long"),
    )
    return ranked.select(
        "lang",
        F.col("n_docs").cast("long").alias("n_docs"),
        F.col("w").cast("long").alias("weight"),
        F.col("allocation").cast("long").alias("allocation"),
        F.expr(
            "CASE WHEN n_docs = 0 THEN NULL"
            " ELSE (allocation + n_docs - 1) div n_docs END"
        )
        .cast("long")
        .alias("epochs_needed"),
    )


@register(
    "q162_dsir_importance",
    survey="ext-quality,ext-dsir,A5,J1,O1",
    sql=r"""
    WITH words AS (
        SELECT doc_id, lang,
               regexp_split_to_array(trim(text), '\s+') AS w
        FROM documents WHERE length(trim(text)) > 0
    ),
    big AS (
        SELECT doc_id, lang,
               ('0x' || substring(md5(w[i] || ' ' || w[i+1]), 1, 8))::BIGINT
                   % 4096 AS bucket
        FROM words, LATERAL unnest(generate_series(1, len(w) - 1)) AS t(i)
        WHERE len(w) >= 2
    ),
    bucket_cnt AS (
        SELECT bucket,
               count(*) AS cr,
               count(*) FILTER (WHERE lang = 'en') AS ct
        FROM big GROUP BY bucket
    ),
    tot AS (
        SELECT count(*) AS nr,
               count(*) FILTER (WHERE lang = 'en') AS nt
        FROM big
    ),
    wt AS (
        SELECT bucket,
               ln(((ct + 1) / (nt + 4096)) / ((cr + 1) / (nr + 4096))) AS lw
        FROM bucket_cnt, tot
    )
    SELECT b.doc_id,
           CAST(count(*) AS BIGINT) AS n_bigrams,
           round(avg(w.lw), 4) AS dsir_weight
    FROM big b JOIN wt w USING (bucket)
    GROUP BY b.doc_id
    ORDER BY dsir_weight DESC, b.doc_id
    LIMIT 50
    """,
)
def q162_dsir_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR data selection (Xie et al. 2023, "Data Selection for Language
    Models via Importance Resampling"): score every raw document by the
    log-likelihood ratio of a hashed-bigram bag-of-words model fit on a
    TARGET domain (here lang='en', standing in for the paper's
    Wikipedia+books target) vs the full RAW corpus, then keep the
    top-weight documents.  The published recipe hashes n-gram features into
    a fixed bucket table — that bound is what makes it a 100 TB operator:
    however large the corpus, the model is B=4096 rows.

    Plan shape: one bigram explode feeds a single conditional aggregate
    (count + count-if-target per bucket — the corpus is scanned ONCE, not
    once per distribution); the resulting <=4096-row weight table joins
    back as a BROADCAST, so the per-doc scoring pass adds no shuffle beyond
    the doc_id aggregate.  add-1 smoothing keeps unseen buckets finite.
    Float discipline per ORACLE_PARITY.md: ln() of identically-formed
    double ratios, rounded to 4 dp on both engines; tie-broken top-k.

    Distinct from q132 (term-level keyness report) and q153 (single-corpus
    surprisal): this is the two-distribution document-level importance
    weight the paper resamples with."""
    from pyspark.sql import Window as W

    from coldata_spark.tables import fan_out

    B = 4096
    words = (
        fan_out(load(spark, sf_dir, "documents"))
        .filter(F.length(F.trim("text")) > 0)
        .select(
            "doc_id", "lang", F.split(F.trim("text"), r"\s+").alias("w")
        )
        .filter(F.size("w") >= 2)
    )
    big = words.select(
        "doc_id",
        "lang",
        F.explode(
            F.expr(
                "transform(sequence(1, size(w) - 1), i -> "
                "concat(element_at(w, i), ' ', element_at(w, i + 1)))"
            )
        ).alias("bg"),
    ).select(
        "doc_id",
        "lang",
        (
            F.conv(F.substring(F.md5("bg"), 1, 8), 16, 10).cast("bigint")
            % B
        ).alias("bucket"),
    )
    is_t = F.when(F.col("lang") == "en", 1).otherwise(0)
    bucket_cnt = big.groupBy("bucket").agg(
        F.count("*").alias("cr"), F.sum(is_t).alias("ct")
    )
    tot = big.agg(F.count("*").alias("nr"), F.sum(is_t).alias("nt"))
    wt = bucket_cnt.join(F.broadcast(tot)).select(
        "bucket",
        F.log(
            ((F.col("ct") + 1) / (F.col("nt") + B))
            / ((F.col("cr") + 1) / (F.col("nr") + B))
        ).alias("lw"),
    )
    scored = (
        big.join(F.broadcast(wt), "bucket")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_bigrams"),
            F.round(F.avg("lw"), 4).alias("dsir_weight"),
        )
    )
    # orderBy+limit compiles to TakeOrderedAndProject (per-partition top-50
    # + driver merge) — a global row_number window would funnel every doc
    # through ONE partition at 100 TB
    return scored.orderBy(
        F.col("dsir_weight").desc(), F.col("doc_id")
    ).limit(50)


from coldata_spark.functions.text import eight_gram_md5s as _eight_gram_md5s


@register(
    "q163_bloom_decontaminate",
    survey="ext-quality,ext-bloom,V6,A5,J1",
    sql=r"""
    WITH bench AS (
        SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w
        FROM documents WHERE doc_id < 20
    ),
    cand AS (
        SELECT c.doc_id,
               CASE WHEN c.doc_id % 7 = 3
                    THEN concat(c.text, ' ', array_to_string(b.w[1:8], ' '))
                    ELSE c.text END AS t
        FROM documents c JOIN bench b ON b.doc_id = c.doc_id % 20
        WHERE c.doc_id >= 20
    ),
    bench_grams AS (
        SELECT DISTINCT md5(array_to_string(w[i:i+7], ' ')) AS g
        FROM bench, unnest(generate_series(1, greatest(0, len(w) - 7))) AS s(i)
    ),
    bloom AS (
        SELECT DISTINCT
               (('0x' || substring(g, 1, 8))::BIGINT
                + i * ('0x' || substring(g, 9, 8))::BIGINT) % 262144 AS pos
        FROM bench_grams, unnest([0, 1, 2]) AS t(i)
    ),
    cand_grams AS (
        SELECT DISTINCT doc_id, md5(array_to_string(w[i:i+7], ' ')) AS g
        FROM (SELECT doc_id, regexp_split_to_array(trim(t), '\s+') AS w
              FROM cand),
             unnest(generate_series(1, greatest(0, len(w) - 7))) AS s(i)
    ),
    probed AS (
        SELECT cg.doc_id, cg.g
        FROM (
            SELECT doc_id, g,
                   (('0x' || substring(g, 1, 8))::BIGINT
                    + i * ('0x' || substring(g, 9, 8))::BIGINT) % 262144 AS pos
            FROM cand_grams, unnest([0, 1, 2]) AS t(i)
        ) cg JOIN bloom USING (pos)
        GROUP BY cg.doc_id, cg.g
        HAVING count(*) = 3
    )
    SELECT p.doc_id,
           CAST(count(*) AS BIGINT) AS n_flagged_grams,
           CAST(count(*) FILTER (WHERE b.g IS NOT NULL) AS BIGINT)
               AS n_exact_grams,
           CAST(count(*) FILTER (WHERE b.g IS NULL) AS BIGINT)
               AS n_false_pos
    FROM probed p LEFT JOIN bench_grams b USING (g)
    GROUP BY p.doc_id
    """,
)
def q163_bloom_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination through a BLOOM FILTER instead of q95's
    direct n-gram join — the 100 TB shape: the benchmark suite's 8-gram
    set compresses to an m=2^18-bit filter with k=3 Kirsch-Mitzenmacher
    hash functions (pos_i = h1 + i*h2 mod m, the same double-hash family
    the MinHash operator uses), and the corpus probe is then a
    BROADCAST-side lookup — no shuffle of the 100 TB side on gram keys,
    which is what q95's equi-join costs when the benchmark set is large.

    A gram is flagged iff ALL k positions hit; the report splits flags
    into exact matches vs Bloom FALSE POSITIVES (n_false_pos), which is
    both the operator's acceptance test and the capacity-planning signal
    (FP rate ~ (1 - e^{-kn/m})^k).  Everything is integer md5 arithmetic,
    so the false-positive set itself is bit-exact across engines — the
    oracle checks the filter's actual collision behavior, not just its
    happy path.  Contaminated candidates are planted like q95 (doc_id%7==3
    gets a benchmark 8-token span appended).

    Round 6: the probe ships as a literal long[] bitmap (4096 longs =
    2^18 bits, the representation Spark's own BloomFilterAggregate uses)
    tested with pure bit arithmetic inside one codegen'd filter — no
    K-way position explode, no probe join, no count-K re-aggregation.
    The exact-match classification join (tiny benchmark gram set) remains
    the only broadcast join on the candidate stream."""
    from coldata_spark.tables import fan_out

    M, K = 262144, 3
    docs = fan_out(load(spark, sf_dir, "documents"))
    bench = docs.filter(F.col("doc_id") < 20).select(
        "doc_id", F.split(F.trim("text"), r"\s+").alias("w")
    )
    cand = (
        docs.filter(F.col("doc_id") >= 20)
        .join(
            bench.select(
                F.col("doc_id").alias("_bid"),
                F.concat_ws(" ", F.slice("w", 1, 8)).alias("_span"),
            ),
            F.col("_bid") == F.col("doc_id") % 20,
        )
        .select(
            "doc_id",
            F.when(
                F.col("doc_id") % 7 == 3,
                F.concat_ws(" ", F.col("text"), F.col("_span")),
            )
            .otherwise(F.col("text"))
            .alias("t"),
        )
    )

    bench_grams = _eight_gram_md5s(
        bench.select("doc_id", F.concat_ws(" ", "w").alias("t")), "t"
    ).select("g").distinct()
    h1 = F.conv(F.substring("g", 1, 8), 16, 10).cast("bigint")
    h2 = F.conv(F.substring("g", 9, 8), 16, 10).cast("bigint")
    ks = F.explode(F.array(*[F.lit(i) for i in range(K)])).alias("i")
    bloom = (
        bench_grams.select("g", ks)
        .select(((h1 + F.col("i") * h2) % M).alias("pos"))
        .distinct()
    )
    # Bloom probe as a LITERAL long[] bitmap — the docstring's production
    # upgrade, made real in round 6: the <= K*|bench grams| distinct
    # positions (bounded: the benchmark suite is fixed and tiny) fold into
    # 2^18 bits = 4096 longs shipped as one array literal, and each gram
    # tests its K positions with pure bit arithmetic.  This removes the
    # K-way position explode (3x the candidate gram stream), the probe
    # join AND the (doc_id, gram) count-K re-aggregation — and because
    # the probe is now a row-level predicate it runs BEFORE the distinct,
    # fused into the gram-generation stage's codegen: the expensive
    # de-duplication shuffle sees only the flagged survivors (planted
    # spans + Bloom false positives), not the full 100x-larger gram
    # stream.  distinct-of-filtered == filtered-of-distinct, so the
    # oracle is unchanged and still hash-matches, false positives
    # included (measured at the 64x tier: 17.8 s -> 11.5-13.9 s =
    # 1.4-1.7x hot-hot vs DuckDB; STRESS.md has the spreads).
    bits = [0] * (M // 64)
    for (pos,) in bloom.collect():
        bits[pos >> 6] |= 1 << (pos & 63)
    # reinterpret as signed so every word fits Spark's LongType; bit tests
    # are unaffected (shiftright sign-extends but bit k is still bit k).
    # Round 14: the literal is built as ONE parsed SQL array expression —
    # F.lit(list) constructs a 4096-child CreateArray through per-element
    # py4j calls and measured 6-14 s of pure DRIVER time per q163 call
    # (the single biggest term in the query); the parser does the same in
    # ~5 ms and constant-folds to the identical array literal.  LONG_MIN
    # has no direct literal form (the parser rejects -2^63L), so that word
    # is emitted as an overflow-free subtraction.
    _MIN = -(1 << 63)
    words = ",".join(
        "(-9223372036854775807L - 1L)" if w == _MIN else f"{w}L"
        for w in (x - (1 << 64) if x >= (1 << 63) else x for x in bits)
    )
    bm = F.expr(f"array({words})")
    hit = None
    for i in range(K):
        test = F.expr(
            f"(shiftright(element_at(_bm, cast(shiftright("
            f"(_h1 + {i} * _h2) % {M}, 6) as int) + 1), "
            f"cast(((_h1 + {i} * _h2) % {M}) % 64 as int)) & 1) = 1"
        )
        hit = test if hit is None else (hit & test)
    probed = (
        _eight_gram_md5s(cand, "t")
        .select("doc_id", "g", h1.alias("_h1"), h2.alias("_h2"))
        .withColumn("_bm", bm)
        .filter(hit)
        .select("doc_id", "g")
        .distinct()
    )
    exact = bench_grams.select("g", F.lit(1).alias("_ex"))
    return (
        probed.join(F.broadcast(exact), "g", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_flagged_grams"),
            F.sum(F.when(F.col("_ex").isNotNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_exact_grams"),
            F.sum(F.when(F.col("_ex").isNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_false_pos"),
        )
    )


_CCNET_B = 4096


def ccnet_bigrams(docs: DataFrame) -> DataFrame:
    """(doc_id, lang, u, b) hashed bigram stream — the shared front half of
    the CCNet quality ops (q166/q168)."""
    from coldata_spark.tables import fan_out

    B = _CCNET_B
    words = (
        fan_out(docs)
        .filter(F.length(F.trim("text")) > 0)
        .select("doc_id", "lang", F.split(F.trim("text"), r"\s+").alias("w"))
        .filter(F.size("w") >= 2)
    )
    pair = F.explode(
        F.expr(
            "transform(sequence(1, size(w) - 1), i -> "
            "struct(element_at(w, i) AS w1, "
            "concat(element_at(w, i), ' ', element_at(w, i + 1)) AS w12))"
        )
    ).alias("p")

    def h(col):
        return (
            F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("bigint") % B
        )

    return words.select("doc_id", "lang", pair).select(
        "doc_id", "lang", h(F.col("p.w1")).alias("u"), h(F.col("p.w12")).alias("b")
    )


def ccnet_lm_census(ref_bigrams: DataFrame) -> DataFrame:
    """The bounded LM state: one row per live hash bucket, kind 'u'
    (unigram-context counts) or 'b' (bigram counts) — <= 2*B rows total,
    the artifact a production pipeline persists between folds."""
    u = ref_bigrams.groupBy("u").agg(F.count("*").alias("c")).select(
        F.lit("u").alias("kind"), F.col("u").alias("bucket"), "c"
    )
    b = ref_bigrams.groupBy("b").agg(F.count("*").alias("c")).select(
        F.lit("b").alias("kind"), F.col("b").alias("bucket"), "c"
    )
    return u.unionByName(b)


def ccnet_lm_fold(census: DataFrame, batch_bigrams: DataFrame) -> DataFrame:
    """Fold a new reference batch into a persisted census WITHOUT
    rescanning the old reference corpus: the batch aggregates to its own
    <=2*B-row census map-side, and the merge is a count-sum over the two
    tiny censuses.  Bucket counts are associative sums, so
    fold(census(A), B) == census(A ∪ B) exactly — the property test
    proves it and q168's oracle (the full-rebuild SQL) enforces it
    end-to-end."""
    return (
        census.unionByName(ccnet_lm_census(batch_bigrams))
        .groupBy("kind", "bucket")
        .agg(F.sum("c").alias("c"))
    )


# Hoisted to functions/intmath.py in round 11 (operators/drift.py's PSI
# shares the one implementation); these aliases keep q166/q168's call
# sites and docs stable.  This is what makes q166/q168
# exact-by-construction (ORACLE_PARITY.md rule 5): no libm call appears
# anywhere in the score.
from coldata_spark.functions.intmath import (  # noqa: E402
    INTLOG2_SCALE as _INTLOG2_SCALE,
    intlog2_fp as _intlog2_fp,
)


def _ccnet_term_sql(dialect: str) -> str:
    """Per-bigram integer surprisal: L(cu + B) - L(cb + 1), clipped at 0
    (add-1 smoothing guarantees P <= 1 in the true LM; hash collisions can
    break that, and the clip keeps 'probability capped at 1' semantics and
    every partial sum non-negative so integer division truncation agrees
    across engines)."""
    B = _CCNET_B
    lcu = _intlog2_fp(f"coalesce(cu, 0) + {B}", dialect)
    lcb = _intlog2_fp("coalesce(cb, 0) + 1", dialect)
    zero = "cast(0 as bigint)" if dialect == "spark" else "0::BIGINT"
    return f"greatest({lcu} - {lcb}, {zero})"


def ccnet_score_and_bucket(big: DataFrame, census: DataFrame) -> DataFrame:
    """Back half of q166: score every doc's quantized nll under the census
    LM and assign head/middle/tail by discrete tercile cutoffs.  The score
    ``nll_q`` is sum-of-integer-surprisals div n_bigrams — pure int64
    arithmetic end to end (see _intlog2_fp), so the oracle match is
    by-construction, not probabilistic."""
    from pyspark.sql import Window as W

    uni_lm = census.filter(F.col("kind") == "u").select(
        F.col("bucket").alias("u"), F.col("c").alias("cu")
    )
    big_lm = census.filter(F.col("kind") == "b").select(
        F.col("bucket").alias("b"), F.col("c").alias("cb")
    )
    scored = (
        big.join(F.broadcast(uni_lm), "u", "left")
        .join(F.broadcast(big_lm), "b", "left")
        .select("doc_id", F.expr(_ccnet_term_sql("spark")).alias("t"))
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_bigrams"),
            F.expr("sum(t) div count(*)").cast("long").alias("nll_q"),
        )
    )
    wr = W.orderBy("nll_q", "doc_id")
    ranked = scored.select(
        "nll_q",
        F.row_number().over(wr).alias("rn"),
        F.count("*").over(W.partitionBy()).alias("n"),
    )
    cuts = ranked.agg(
        F.max(
            F.when(F.col("rn") == F.expr("(n + 2) div 3"), F.col("nll_q"))
        ).alias("c1"),
        F.max(
            F.when(F.col("rn") == F.expr("(2 * n + 2) div 3"), F.col("nll_q"))
        ).alias("c2"),
    )
    return scored.join(F.broadcast(cuts)).select(
        "doc_id",
        "n_bigrams",
        "nll_q",
        F.when(F.col("nll_q") <= F.col("c1"), "head")
        .when(F.col("nll_q") <= F.col("c2"), "middle")
        .otherwise("tail")
        .alias("bucket"),
    )



_CCNET_SQL = r"""
    WITH words AS (
        SELECT doc_id, lang,
               regexp_split_to_array(trim(text), '\s+') AS w
        FROM documents WHERE length(trim(text)) > 0
    ),
    big AS (
        SELECT doc_id, lang,
               ('0x' || substring(md5(w[i]), 1, 8))::BIGINT % 4096 AS u,
               ('0x' || substring(md5(w[i] || ' ' || w[i+1]), 1, 8))::BIGINT
                   % 4096 AS b
        FROM words, LATERAL unnest(generate_series(1, len(w) - 1)) AS t(i)
        WHERE len(w) >= 2
    ),
    uni_lm AS (
        SELECT u, count(*) AS cu FROM big WHERE lang = 'en' GROUP BY u
    ),
    big_lm AS (
        SELECT b, count(*) AS cb FROM big WHERE lang = 'en' GROUP BY b
    ),
    scored AS (
        SELECT big.doc_id,
               CAST(count(*) AS BIGINT) AS n_bigrams,
               CAST(sum(__TERM__) // count(*) AS BIGINT) AS nll_q
        FROM big
        LEFT JOIN uni_lm USING (u)
        LEFT JOIN big_lm USING (b)
        GROUP BY big.doc_id
    ),
    ranked AS (
        SELECT *,
               row_number() OVER (ORDER BY nll_q, doc_id) AS rn,
               count(*) OVER () AS n
        FROM scored
    ),
    cuts AS (
        SELECT max(CASE WHEN rn = (n + 2) // 3 THEN nll_q END) AS c1,
               max(CASE WHEN rn = (2 * n + 2) // 3 THEN nll_q END) AS c2
        FROM ranked
    )
    SELECT doc_id, n_bigrams, nll_q,
           CASE WHEN nll_q <= c1 THEN 'head'
                WHEN nll_q <= c2 THEN 'middle'
                ELSE 'tail' END AS bucket
    FROM scored, cuts
    """.replace("__TERM__", _ccnet_term_sql("duckdb"))


@register(
    "q166_ccnet_perplexity_buckets",
    survey="ext-quality,A5,J1,W1",
    sql=_CCNET_SQL,
)
def q166_ccnet_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style language-model quality bucketing (Wenzek et al. 2020,
    "CCNet: Extracting High Quality Monolingual Datasets from Web Crawl
    Data"): score every document by its negative log-likelihood under a
    hashed-BIGRAM language model trained on a high-quality reference slice
    (lang='en' standing in for the paper's Wikipedia KenLM), then split the
    corpus into the paper's head / middle / tail perplexity terciles —
    head feeds training as-is, middle gets a second look, tail is dropped.

    The LM is two hashed count tables (4096-row unigram-context and bigram
    tables, add-1 smoothed: P(w2|w1) ~ (c_big+1)/(c_uni+B)) — bounded like
    q162's DSIR model, which is what makes it a 100 TB operator: the
    reference slice is aggregated ONCE into <=8192 rows that broadcast to
    the scoring pass, so the corpus-side plan is explode -> two broadcast
    joins -> one per-doc aggregate, no corpus shuffle on gram keys.

    Tercile cutoffs are the q131-style DISCRETE rank picks (rows
    ceil(n/3), ceil(2n/3) under a tie-broken order) over the DOC-LEVEL
    score table — bounded by #docs, not tokens; at 100 TB the cutoffs fit
    on a sample exactly as the paper does per-language.  Exactness is
    BY CONSTRUCTION (round 7, closing the one probabilistic oracle the
    repo had): the per-bigram surprisal is the integer fixed-point log2
    ``L(cu+B) - L(cb+1)`` (see _intlog2_fp — bit-length exponent +
    interpolated mantissa, 2^-20 units, zero libm calls), the per-doc
    score ``nll_q`` is an int64 sum div count, and buckets compare
    integers against integer rank-picked cutoffs — no float appears
    anywhere in either engine's plan, so a last-ulp ln divergence flipping
    a tercile is structurally impossible, not just unobserved."""
    big = ccnet_bigrams(load(spark, sf_dir, "documents"))
    census = ccnet_lm_census(big.filter(F.col("lang") == "en"))
    return ccnet_score_and_bucket(big, census)


@register(
    "q167_deterministic_shuffle",
    survey="W2,O2,A5",
    sql="""
    SELECT doc_id,
           CAST(row_number() OVER (
               ORDER BY md5('r6|' || CAST(doc_id AS VARCHAR(20))), doc_id
           ) - 1 AS BIGINT) AS seq,
           CAST((row_number() OVER (
               ORDER BY md5('r6|' || CAST(doc_id AS VARCHAR(20))), doc_id
           ) - 1) % 8 AS BIGINT) AS shard
    FROM documents
    """,
)
def q167_deterministic_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reproducible global training-order shuffle + contiguous sequence
    numbering + round-robin shard assignment — what a data loader consumes.
    The oracle is the semantic spec (a GLOBAL row_number over the seeded
    md5 permutation); the Spark plan is operators/ordering.py's
    deterministic_shuffle, which produces the IDENTICAL numbering with no
    global window: static md5-prefix range buckets, a P-long count
    collect, broadcast offsets, and a partition-local row_number.  The
    driver's value hash proves the distributed form reproduces the global
    spec bit-for-bit."""
    from coldata_spark.operators.ordering import deterministic_shuffle

    docs = load(spark, sf_dir, "documents").select("doc_id")
    out = deterministic_shuffle(docs, "doc_id", seed="r6")
    return out.select(
        "doc_id",
        F.col("seq").cast("long").alias("seq"),
        (F.col("seq") % 8).cast("long").alias("shard"),
    )


@register(
    "q168_ccnet_lm_incremental",
    survey="ext-quality,R2,A5,J1",
    sql=_CCNET_SQL,
)
def q168_ccnet_lm_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental CCNet LM maintenance — the daily-production form of
    q166: new reference documents FOLD into a persisted <=2*4096-row LM
    census (ccnet_lm_fold) without rescanning the reference corpus, the
    semantic-rung counterpart of q159's incremental near-dup and q165's
    incremental SemDeDup.  Bucket counts are associative sums, so
    fold(census(A), B) == census(A ∪ B) bit-for-bit — here the reference
    slice arrives as two batches (doc_id parity halves) and the oracle is
    q166's FULL-REBUILD SQL: the driver hash-checks that the folded census
    scores and buckets every document exactly like a from-scratch rebuild.

    Scale contract: each batch aggregates map-side into its own bounded
    census; the merge touches <= 2*B rows; the scoring pass is unchanged
    (two broadcast joins, no corpus shuffle).  The census is the artifact
    a pipeline persists between folds (like the near-dup corpus and the
    SemDeDup census, via the same staged-swap protocol)."""
    big = ccnet_bigrams(load(spark, sf_dir, "documents"))
    ref = big.filter(F.col("lang") == "en")
    census0 = ccnet_lm_census(ref.filter(F.col("doc_id") % 2 == 0))
    census = ccnet_lm_fold(census0, ref.filter(F.col("doc_id") % 2 == 1))
    return ccnet_score_and_bucket(big, census)


@register(
    "q169_curation_pipeline",
    survey="V6,A1,A5,T1,W2,O2,ext-quality,ext-langid,ext-curation,ext-minhash-lsh",
    sql=r"""
    WITH cleaned AS (
        SELECT doc_id,
               trim(regexp_replace(regexp_replace(text,
                    '[^\x20-\x7E]', ' ', 'g'), '\s+', ' ', 'g')) AS t
        FROM documents WHERE doc_id >= 20
    ),
    lang AS (
        SELECT doc_id, t,
            len(regexp_split_to_array(p, ' the ')) - 1
          + len(regexp_split_to_array(p, ' and ')) - 1
          + len(regexp_split_to_array(p, ' of ')) - 1
          + len(regexp_split_to_array(p, ' to ')) - 1
          + len(regexp_split_to_array(p, ' is ')) - 1 AS en_hits,
            len(regexp_split_to_array(p, ' le ')) - 1
          + len(regexp_split_to_array(p, ' la ')) - 1
          + len(regexp_split_to_array(p, ' et ')) - 1
          + len(regexp_split_to_array(p, ' les ')) - 1
          + len(regexp_split_to_array(p, ' des ')) - 1 AS fr_hits,
            len(regexp_split_to_array(p, ' el ')) - 1
          + len(regexp_split_to_array(p, ' los ')) - 1
          + len(regexp_split_to_array(p, ' de ')) - 1
          + len(regexp_split_to_array(p, ' que ')) - 1
          + len(regexp_split_to_array(p, ' y ')) - 1 AS es_hits,
            len(regexp_split_to_array(p, ' der ')) - 1
          + len(regexp_split_to_array(p, ' die ')) - 1
          + len(regexp_split_to_array(p, ' und ')) - 1
          + len(regexp_split_to_array(p, ' das ')) - 1
          + len(regexp_split_to_array(p, ' ist ')) - 1 AS de_hits
        FROM (SELECT doc_id, t, concat(' ', lower(t), ' ') AS p FROM cleaned)
    ),
    gated AS MATERIALIZED (
        SELECT doc_id, t FROM lang
        WHERE en_hits = greatest(en_hits, fr_hits, es_hits, de_hits)
          AND 0.5 * least(1.0,
                  (CASE WHEN length(trim(t)) = 0 THEN 0
                   ELSE len(regexp_split_to_array(trim(t), '\s+')) END) / 64.0)
            + 0.5 * (CASE WHEN length(t) = 0 THEN 0.0
                     ELSE (length(t) - length(regexp_replace(t, '[A-Za-z]', '', 'g')))
                          / cast(length(t) AS DOUBLE) END) >= 0.5
    ),
    keepers AS (SELECT min(doc_id) AS doc_id FROM gated GROUP BY t),
    deduped AS MATERIALIZED (SELECT g.doc_id, g.t FROM gated g JOIN keepers USING (doc_id)),
    bench AS (
        SELECT regexp_split_to_array(trim(regexp_replace(regexp_replace(text,
                   '[^\x20-\x7E]', ' ', 'g'), '\s+', ' ', 'g')), '\s+') AS w
        FROM documents WHERE doc_id < 20
    ),
    bench_grams AS (
        SELECT DISTINCT md5(array_to_string(w[i:i+7], ' ')) AS g
        FROM bench, unnest(generate_series(1, greatest(0, len(w) - 7))) AS s(i)
    ),
    contaminated AS (
        SELECT DISTINCT doc_id
        FROM (SELECT doc_id, regexp_split_to_array(trim(t), '\s+') AS w
              FROM deduped),
             unnest(generate_series(1, greatest(0, len(w) - 7))) AS s(i)
        WHERE md5(array_to_string(w[i:i+7], ' ')) IN (SELECT g FROM bench_grams)
    ),
    clean_docs AS MATERIALIZED (
        SELECT doc_id, t FROM deduped
        WHERE doc_id NOT IN (SELECT doc_id FROM contaminated)
    ),
    sig AS MATERIALIZED (
        SELECT doc_id, seed,
               min((h1 + seed * h2) % 4294967296) AS minhash
        FROM (
            SELECT doc_id,
                   ('0x' || substring(md5(shingle), 1, 8))::BIGINT AS h1,
                   ('0x' || substring(md5(shingle), 9, 8))::BIGINT AS h2
            FROM (
                SELECT DISTINCT doc_id, substring(t, i, 5) AS shingle
                FROM clean_docs, unnest(generate_series(1,
                     greatest(1, length(t) - 4))) AS sh(i)
            )
        ), unnest(generate_series(0, 7)) AS sd(seed)
        GROUP BY doc_id, seed
    ),
    banded AS MATERIALIZED (
        SELECT doc_id, band, band_key FROM (
            SELECT doc_id, cast(floor(seed / 2) AS INT) AS band,
                   string_agg(cast(minhash AS VARCHAR), '|' ORDER BY seed)
                       AS band_key
            FROM sig GROUP BY doc_id, cast(floor(seed / 2) AS INT)
        )
        -- hot-bucket cap (64): a boilerplate band key is quadratic in its
        -- bucket population; capped buckets are skipped entirely, matching
        -- the Spark plan's max_bucket_size
        QUALIFY count(*) OVER (PARTITION BY band, band_key) <= 64
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM banded a JOIN banded b
          ON a.band = b.band AND a.band_key = b.band_key
         AND a.doc_id < b.doc_id
    ),
    drops AS (
        SELECT DISTINCT doc_b AS doc_id FROM (
            SELECT c.doc_a, c.doc_b
            FROM cand c
            JOIN sig sa ON sa.doc_id = c.doc_a
            JOIN sig sb ON sb.doc_id = c.doc_b AND sb.seed = sa.seed
            GROUP BY c.doc_a, c.doc_b
            HAVING avg(CASE WHEN sa.minhash = sb.minhash THEN 1.0 ELSE 0.0 END)
                   >= 0.5
        )
    ),
    final AS (
        SELECT doc_id, t FROM clean_docs
        WHERE doc_id NOT IN (SELECT doc_id FROM drops)
    )
    SELECT doc_id,
           round(0.5 * least(1.0,
                   (CASE WHEN length(trim(t)) = 0 THEN 0
                    ELSE len(regexp_split_to_array(trim(t), '\s+')) END) / 64.0)
               + 0.5 * (CASE WHEN length(t) = 0 THEN 0.0
                        ELSE (length(t) - length(regexp_replace(t, '[A-Za-z]', '', 'g')))
                             / cast(length(t) AS DOUBLE) END), 6) AS quality,
           CAST(CASE WHEN length(trim(t)) = 0 THEN 0
                ELSE len(regexp_split_to_array(trim(t), '\s+')) END AS BIGINT)
               AS n_tokens,
           CAST(row_number() OVER (
               ORDER BY md5('pipe|' || CAST(doc_id AS VARCHAR(20))), doc_id
           ) - 1 AS BIGINT) AS seq,
           CAST((row_number() OVER (
               ORDER BY md5('pipe|' || CAST(doc_id AS VARCHAR(20))), doc_id
           ) - 1) % 8 AS BIGINT) AS shard
    FROM final
    """,
)
def q169_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The WHOLE nightly curation ladder as one hash-checked plan —
    pipeline.curate_corpus: clean -> language gate -> quality gate ->
    exact dedup -> benchmark decontamination (8-gram) -> MinHash-LSH
    near-dup drop -> deterministic training-order shuffle + shard
    assignment.  Docs with id < 20 play the held-out benchmark set; the
    rest are the training corpus.  The manifest (doc_id, quality,
    n_tokens, seq, shard) hashes which documents survive the entire
    composition AND the exact reproducible order they'd be served in —
    end-to-end bit-parity across engines, not per-rung parity.

    Every rung is individually oracle-checked elsewhere (q27/q22/q87/
    q23/q95/q26/q167); this query checks their COMPOSITION — filter
    ordering, survivor-set threading, and the no-global-window shuffle
    over the final survivor set.  Scale: expression gates run scan-side
    before any shuffle; the gram set and drop lists broadcast; the corpus
    shuffles only for its own groupBys (text, signatures)."""
    from coldata_spark.pipeline import curate_corpus

    docs = load(spark, sf_dir, "documents")
    return curate_corpus(
        docs.filter(F.col("doc_id") >= 20),
        bench=docs.filter(F.col("doc_id") < 20),
        seed="pipe",
    )


@register(
    "q170_curation_pipeline_incremental",
    survey="V6,R2,A1,A5,T1,W2,O2,ext-quality,ext-langid,ext-curation,ext-minhash-lsh",
    sql=r"""
    WITH c_cleaned AS (
        SELECT doc_id,
               trim(regexp_replace(regexp_replace(text,
                    '[^\x20-\x7E]', ' ', 'g'), '\s+', ' ', 'g')) AS t
        FROM documents WHERE doc_id >= 20 AND doc_id % 10 <> 9
    ),
    b_cleaned AS (
        SELECT doc_id,
               trim(regexp_replace(regexp_replace(text,
                    '[^\x20-\x7E]', ' ', 'g'), '\s+', ' ', 'g')) AS t
        FROM documents WHERE doc_id >= 20 AND doc_id % 10 = 9
    ),
    c_gated AS MATERIALIZED (
        SELECT doc_id, t FROM (
            SELECT doc_id, t, concat(' ', lower(t), ' ') AS p FROM c_cleaned
        )
        WHERE len(regexp_split_to_array(p, ' the ')) - 1
            + len(regexp_split_to_array(p, ' and ')) - 1
            + len(regexp_split_to_array(p, ' of ')) - 1
            + len(regexp_split_to_array(p, ' to ')) - 1
            + len(regexp_split_to_array(p, ' is ')) - 1
            >= greatest(
              len(regexp_split_to_array(p, ' le ')) - 1
            + len(regexp_split_to_array(p, ' la ')) - 1
            + len(regexp_split_to_array(p, ' et ')) - 1
            + len(regexp_split_to_array(p, ' les ')) - 1
            + len(regexp_split_to_array(p, ' des ')) - 1,
              len(regexp_split_to_array(p, ' el ')) - 1
            + len(regexp_split_to_array(p, ' los ')) - 1
            + len(regexp_split_to_array(p, ' de ')) - 1
            + len(regexp_split_to_array(p, ' que ')) - 1
            + len(regexp_split_to_array(p, ' y ')) - 1,
              len(regexp_split_to_array(p, ' der ')) - 1
            + len(regexp_split_to_array(p, ' die ')) - 1
            + len(regexp_split_to_array(p, ' und ')) - 1
            + len(regexp_split_to_array(p, ' das ')) - 1
            + len(regexp_split_to_array(p, ' ist ')) - 1)
          AND 0.5 * least(1.0,
                  (CASE WHEN length(trim(t)) = 0 THEN 0
                   ELSE len(regexp_split_to_array(trim(t), '\s+')) END) / 64.0)
            + 0.5 * (CASE WHEN length(t) = 0 THEN 0.0
                     ELSE (length(t) - length(regexp_replace(t, '[A-Za-z]', '', 'g')))
                          / cast(length(t) AS DOUBLE) END) >= 0.5
    ),
    b_gated AS MATERIALIZED (
        SELECT doc_id, t FROM (
            SELECT doc_id, t, concat(' ', lower(t), ' ') AS p FROM b_cleaned
        )
        WHERE len(regexp_split_to_array(p, ' the ')) - 1
            + len(regexp_split_to_array(p, ' and ')) - 1
            + len(regexp_split_to_array(p, ' of ')) - 1
            + len(regexp_split_to_array(p, ' to ')) - 1
            + len(regexp_split_to_array(p, ' is ')) - 1
            >= greatest(
              len(regexp_split_to_array(p, ' le ')) - 1
            + len(regexp_split_to_array(p, ' la ')) - 1
            + len(regexp_split_to_array(p, ' et ')) - 1
            + len(regexp_split_to_array(p, ' les ')) - 1
            + len(regexp_split_to_array(p, ' des ')) - 1,
              len(regexp_split_to_array(p, ' el ')) - 1
            + len(regexp_split_to_array(p, ' los ')) - 1
            + len(regexp_split_to_array(p, ' de ')) - 1
            + len(regexp_split_to_array(p, ' que ')) - 1
            + len(regexp_split_to_array(p, ' y ')) - 1,
              len(regexp_split_to_array(p, ' der ')) - 1
            + len(regexp_split_to_array(p, ' die ')) - 1
            + len(regexp_split_to_array(p, ' und ')) - 1
            + len(regexp_split_to_array(p, ' das ')) - 1
            + len(regexp_split_to_array(p, ' ist ')) - 1)
          AND 0.5 * least(1.0,
                  (CASE WHEN length(trim(t)) = 0 THEN 0
                   ELSE len(regexp_split_to_array(trim(t), '\s+')) END) / 64.0)
            + 0.5 * (CASE WHEN length(t) = 0 THEN 0.0
                     ELSE (length(t) - length(regexp_replace(t, '[A-Za-z]', '', 'g')))
                          / cast(length(t) AS DOUBLE) END) >= 0.5
    ),
    c_keepers AS (SELECT min(doc_id) AS doc_id FROM c_gated GROUP BY t),
    c_deduped AS MATERIALIZED (
        SELECT g.doc_id, g.t FROM c_gated g JOIN c_keepers USING (doc_id)
    ),
    bench AS (
        SELECT regexp_split_to_array(trim(regexp_replace(regexp_replace(text,
                   '[^\x20-\x7E]', ' ', 'g'), '\s+', ' ', 'g')), '\s+') AS w
        FROM documents WHERE doc_id < 20
    ),
    bench_grams AS MATERIALIZED (
        SELECT DISTINCT md5(array_to_string(w[i:i+7], ' ')) AS g
        FROM bench, unnest(generate_series(1, greatest(0, len(w) - 7))) AS s(i)
    ),
    c_clean AS MATERIALIZED (
        SELECT doc_id, t FROM c_deduped
        WHERE doc_id NOT IN (
            SELECT DISTINCT doc_id
            FROM (SELECT doc_id, regexp_split_to_array(trim(t), '\s+') AS w
                  FROM c_deduped),
                 unnest(generate_series(1, greatest(0, len(w) - 7))) AS s(i)
            WHERE md5(array_to_string(w[i:i+7], ' ')) IN (SELECT g FROM bench_grams)
        )
    ),
    c_sig AS MATERIALIZED (
        SELECT doc_id, seed,
               min((h1 + seed * h2) % 4294967296) AS minhash
        FROM (
            SELECT doc_id,
                   ('0x' || substring(md5(shingle), 1, 8))::BIGINT AS h1,
                   ('0x' || substring(md5(shingle), 9, 8))::BIGINT AS h2
            FROM (
                SELECT DISTINCT doc_id, substring(t, i, 5) AS shingle
                FROM c_clean, unnest(generate_series(1,
                     greatest(1, length(t) - 4))) AS sh(i)
            )
        ), unnest(generate_series(0, 7)) AS sd(seed)
        GROUP BY doc_id, seed
    ),
    c_banded AS MATERIALIZED (
        SELECT doc_id, band, band_key FROM (
            SELECT doc_id, cast(floor(seed / 2) AS INT) AS band,
                   string_agg(cast(minhash AS VARCHAR), '|' ORDER BY seed)
                       AS band_key
            FROM c_sig GROUP BY doc_id, cast(floor(seed / 2) AS INT)
        )
        QUALIFY count(*) OVER (PARTITION BY band, band_key) <= 64
    ),
    c_final AS MATERIALIZED (
        SELECT doc_id, t FROM c_clean
        WHERE doc_id NOT IN (
            SELECT DISTINCT doc_b FROM (
                SELECT c.doc_a, c.doc_b
                FROM (
                    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
                    FROM c_banded a JOIN c_banded b
                      ON a.band = b.band AND a.band_key = b.band_key
                     AND a.doc_id < b.doc_id
                ) c
                JOIN c_sig sa ON sa.doc_id = c.doc_a
                JOIN c_sig sb ON sb.doc_id = c.doc_b AND sb.seed = sa.seed
                GROUP BY c.doc_a, c.doc_b
                HAVING avg(CASE WHEN sa.minhash = sb.minhash
                           THEN 1.0 ELSE 0.0 END) >= 0.5
            )
        )
    ),
    b_fresh AS (
        SELECT doc_id, t FROM b_gated
        WHERE t NOT IN (SELECT t FROM c_final)
    ),
    b_keepers AS (SELECT min(doc_id) AS doc_id FROM b_fresh GROUP BY t),
    b_deduped AS MATERIALIZED (
        SELECT f.doc_id, f.t FROM b_fresh f JOIN b_keepers USING (doc_id)
    ),
    b_clean AS MATERIALIZED (
        SELECT doc_id, t FROM b_deduped
        WHERE doc_id NOT IN (
            SELECT DISTINCT doc_id
            FROM (SELECT doc_id, regexp_split_to_array(trim(t), '\s+') AS w
                  FROM b_deduped),
                 unnest(generate_series(1, greatest(0, len(w) - 7))) AS s(i)
            WHERE md5(array_to_string(w[i:i+7], ' ')) IN (SELECT g FROM bench_grams)
        )
    ),
    b_sig AS MATERIALIZED (
        SELECT doc_id, seed,
               min((h1 + seed * h2) % 4294967296) AS minhash
        FROM (
            SELECT doc_id,
                   ('0x' || substring(md5(shingle), 1, 8))::BIGINT AS h1,
                   ('0x' || substring(md5(shingle), 9, 8))::BIGINT AS h2
            FROM (
                SELECT DISTINCT doc_id, substring(t, i, 5) AS shingle
                FROM b_clean, unnest(generate_series(1,
                     greatest(1, length(t) - 4))) AS sh(i)
            )
        ), unnest(generate_series(0, 7)) AS sd(seed)
        GROUP BY doc_id, seed
    ),
    all_sig AS MATERIALIZED (
        SELECT doc_id, seed, minhash, FALSE AS is_new
        FROM c_sig WHERE doc_id IN (SELECT doc_id FROM c_final)
        UNION ALL
        SELECT doc_id, seed, minhash, TRUE AS is_new FROM b_sig
    ),
    all_banded AS MATERIALIZED (
        SELECT doc_id, is_new, band, band_key FROM (
            SELECT doc_id, is_new, cast(floor(seed / 2) AS INT) AS band,
                   string_agg(cast(minhash AS VARCHAR), '|' ORDER BY seed)
                       AS band_key
            FROM all_sig GROUP BY doc_id, is_new, cast(floor(seed / 2) AS INT)
        )
        QUALIFY count(*) OVER (PARTITION BY band, band_key) <= 64
    ),
    i_drops AS (
        SELECT DISTINCT CASE WHEN b_new THEN doc_b ELSE doc_a END AS doc_id
        FROM (
            SELECT c.doc_a, c.doc_b, c.b_new
            FROM (
                SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
                                b.is_new AS b_new
                FROM all_banded a JOIN all_banded b
                  ON a.band = b.band AND a.band_key = b.band_key
                 AND a.doc_id <> b.doc_id
                 AND (NOT b.is_new OR a.doc_id < b.doc_id)
                WHERE a.is_new
            ) c
            JOIN all_sig sa ON sa.doc_id = c.doc_a
            JOIN all_sig sb ON sb.doc_id = c.doc_b AND sb.seed = sa.seed
            GROUP BY c.doc_a, c.doc_b, c.b_new
            HAVING avg(CASE WHEN sa.minhash = sb.minhash
                       THEN 1.0 ELSE 0.0 END) >= 0.5
        )
    ),
    b_final AS (
        SELECT doc_id, t FROM b_clean
        WHERE doc_id NOT IN (SELECT doc_id FROM i_drops)
    )
    SELECT doc_id,
           round(0.5 * least(1.0,
                   (CASE WHEN length(trim(t)) = 0 THEN 0
                    ELSE len(regexp_split_to_array(trim(t), '\s+')) END) / 64.0)
               + 0.5 * (CASE WHEN length(t) = 0 THEN 0.0
                        ELSE (length(t) - length(regexp_replace(t, '[A-Za-z]', '', 'g')))
                             / cast(length(t) AS DOUBLE) END), 6) AS quality,
           CAST(CASE WHEN length(trim(t)) = 0 THEN 0
                ELSE len(regexp_split_to_array(trim(t), '\s+')) END AS BIGINT)
               AS n_tokens,
           CAST((SELECT count(*) FROM c_final) + row_number() OVER (
               ORDER BY md5('pipe|' || CAST(doc_id AS VARCHAR(20))), doc_id
           ) - 1 AS BIGINT) AS seq,
           CAST(((SELECT count(*) FROM c_final) + row_number() OVER (
               ORDER BY md5('pipe|' || CAST(doc_id AS VARCHAR(20))), doc_id
           ) - 1) % 8 AS BIGINT) AS shard
    FROM b_final
    """,
)
def q170_curation_pipeline_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The DAILY FOLD of q169's ladder: a new batch (doc_id % 10 == 9)
    runs through every rung against the PERSISTED state of the already-
    curated corpus (the other 9/10) — pipeline.fold_corpus_batch.  The
    corpus is exact-dedup-checked by membership (anti-join on curated
    text), decontaminated against the same static benchmark set, and
    near-dup-matched through minhash_neardup_incremental, whose corpus
    signatures are scanned once and never shuffled (the operator's plan
    gate).  Surviving batch docs APPEND to the training order: seq
    continues from the corpus survivor count, so history is never
    renumbered and data loaders resume in place.

    The oracle recomputes both the corpus curation and the fold from
    scratch in SQL — the driver hash checks that Spark's incremental
    path (persisted signatures, broadcast batch, append-only numbering)
    lands on the exact manifest the from-scratch semantics define.  The
    fold is deliberately NOT rebuild-identical: the persisted corpus is
    immutable (a rebuild could elect a smaller-id batch doc as a
    dup-group keeper), which is the production contract — same stance
    as q159.

    Note the language gate here keys on en_hits >= greatest(others) —
    identical to q22/q169's argmax-with-en-precedence semantics."""
    from coldata_spark.operators.dedup import minhash_signatures_wide
    from coldata_spark.pipeline import (
        curate_corpus,
        fold_corpus_batch,
        gate_documents,
    )

    docs = load(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") < 20)
    corpus_raw = docs.filter(
        (F.col("doc_id") >= 20) & (F.col("doc_id") % 10 != 9)
    )
    batch_raw = docs.filter(
        (F.col("doc_id") >= 20) & (F.col("doc_id") % 10 == 9)
    )
    # persisted state, derived in-plan so the oracle can recompute it:
    # the curated manifest, the survivors' texts, their wide signatures.
    # localCheckpoint (not persist) is load-bearing here: these artifacts
    # are TABLES in production (read back as plain scans), and carrying
    # their full lineage instead makes the fold's logical plan explode
    # combinatorially — measured: the composed plan reached 283 MB of
    # plan text / 111k parquet-scan nodes and Catalyst spent ~90 s per
    # collect ANALYZING it; cutting lineage at the state artifacts
    # restores a bounded plan, exactly like reading the real tables.
    c_manifest = curate_corpus(
        corpus_raw, bench=bench, seed="pipe"
    ).localCheckpoint(eager=True)
    corpus_count = c_manifest.count()
    corpus_texts = (
        gate_documents(corpus_raw)
        .join(c_manifest.select("doc_id"), "doc_id")
        .localCheckpoint(eager=True)
    )
    corpus_wide = minhash_signatures_wide(
        corpus_texts, "t", "doc_id"
    ).localCheckpoint(eager=True)
    return fold_corpus_batch(
        batch_raw,
        corpus_texts,
        corpus_wide,
        corpus_count,
        bench,
        seed="pipe",
    )


@register(
    "q174_quality_audit",
    survey="ext-constraints,A5,J3",
    sql="""
    WITH n AS (SELECT CAST(count(*) AS BIGINT) AS checked FROM lineitem)
    SELECT 'not_null(l_orderkey)' AS rule,
           CAST(sum(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS violations,
           (SELECT checked FROM n) AS checked
    FROM lineitem
    UNION ALL
    SELECT 'in_range(l_quantity,1,25)',
           CAST(sum(CASE WHEN l_quantity IS NOT NULL
                          AND NOT (l_quantity >= 1 AND l_quantity <= 25)
                     THEN 1 ELSE 0 END) AS BIGINT),
           (SELECT checked FROM n)
    FROM lineitem
    UNION ALL
    SELECT 'in_set(l_returnflag)',
           CAST(sum(CASE WHEN l_returnflag IS NOT NULL
                          AND l_returnflag NOT IN ('A', 'N')
                     THEN 1 ELSE 0 END) AS BIGINT),
           (SELECT checked FROM n)
    FROM lineitem
    UNION ALL
    SELECT 'matches(l_linestatus)',
           CAST(sum(CASE WHEN l_linestatus IS NOT NULL
                          AND NOT regexp_matches(l_linestatus, '^[OF]$')
                     THEN 1 ELSE 0 END) AS BIGINT),
           (SELECT checked FROM n)
    FROM lineitem
    UNION ALL
    SELECT 'unique(l_orderkey,l_linenumber)',
           CAST(coalesce(sum(c), 0) AS BIGINT),
           (SELECT checked FROM n)
    FROM (SELECT count(*) AS c FROM lineitem
          GROUP BY l_orderkey, l_linenumber) WHERE c > 1
    UNION ALL
    SELECT 'unique(l_orderkey)',
           CAST(coalesce(sum(c), 0) AS BIGINT),
           (SELECT checked FROM n)
    FROM (SELECT count(*) AS c FROM lineitem GROUP BY l_orderkey)
    WHERE c > 1
    UNION ALL
    SELECT 'fk(l_suppkey->s_suppkey)',
           CAST(sum(CASE WHEN l_suppkey IS NOT NULL AND l_suppkey NOT IN
                          (SELECT s_suppkey FROM supplier)
                     THEN 1 ELSE 0 END) AS BIGINT),
           (SELECT checked FROM n)
    FROM lineitem
    """,
)
def q174_quality_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative constraints audit (operators/quality.py) over lineitem:
    one row per rule with its violation count.  Mixes passing rules
    (not_null on the pk, the real fk, the linestatus regex) with
    violating ones (a tightened quantity range, a flag whitelist missing
    'R', unique keys) so both verdicts are value-checked.  The composite
    unique(l_orderkey,l_linenumber) — TPC-H's pk — FIRES on the synthetic
    fixtures (the generator assigns line numbers independently, ~26k of
    60k rows at sf0.01 share a pair): the audit surfacing a genuine
    fixture defect is the op doing its job, and the count is
    hash-checked either way.  Plan: all four row rules share ONE scan+aggregate
    (stack over a single wide row), each unique rule is one bounded
    hash-agg, the fk is a broadcast anti-join — adding row rules never
    adds a scan.  Reference basis: crawler.py's imperative pre-insert
    field validation, set-oriented."""
    from coldata_spark.operators import quality as Q

    li = load(spark, sf_dir, "lineitem")
    sup = load(spark, sf_dir, "supplier")
    return Q.audit(
        li,
        [
            Q.not_null("l_orderkey"),
            Q.in_range("l_quantity", 1, 25),
            Q.in_set("l_returnflag", ["A", "N"]),
            Q.matches("l_linestatus", "^[OF]$"),
            Q.unique(["l_orderkey", "l_linenumber"]),
            Q.unique(["l_orderkey"]),
            Q.foreign_key("l_suppkey", sup, "s_suppkey"),
        ],
    )


@register(
    "q175_quality_quarantine",
    survey="ext-constraints,T11",
    sql="""
    SELECT doc_id,
           concat_ws(';',
               CASE WHEN text IS NULL THEN 'not_null(text)' END,
               CASE WHEN n_chars IS NOT NULL AND NOT (n_chars >= 200)
                    THEN 'min_length' END,
               CASE WHEN lang IS NOT NULL AND lang NOT IN ('en', 'de', 'fr')
                    THEN 'in_set(lang)' END,
               CASE WHEN source IS NOT NULL
                     AND NOT regexp_matches(source, '^src[0-9]+$')
                    THEN 'matches(source)' END
           ) AS _violations
    FROM documents
    WHERE concat_ws(';',
               CASE WHEN text IS NULL THEN 'not_null(text)' END,
               CASE WHEN n_chars IS NOT NULL AND NOT (n_chars >= 200)
                    THEN 'min_length' END,
               CASE WHEN lang IS NOT NULL AND lang NOT IN ('en', 'de', 'fr')
                    THEN 'in_set(lang)' END,
               CASE WHEN source IS NOT NULL
                     AND NOT regexp_matches(source, '^src[0-9]+$')
                    THEN 'matches(source)' END
           ) <> ''
    """,
)
def q175_quality_quarantine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The enforce side of the constraints engine: quarantine() splits
    documents on four row rules evaluated in ONE projection; this query
    returns the BAD side with its ';'-joined failed-rule list (a
    string, not an array — arrays stringify differently between pandas
    paths, strings hash identically; ';' because generated rule names
    legally contain commas).  The clean side is the same plan
    filtered the other way (asserted complementary in
    tests/test_quality.py).  NULL semantics are SQL CHECK-constraint
    3VL: a NULL operand passes every rule except not_null — identical
    CASE/when skip behavior on both engines."""
    from coldata_spark.operators import quality as Q

    docs = load(spark, sf_dir, "documents")
    rules = [
        Q.not_null("text"),
        Q.expr_rule("min_length", "n_chars >= 200"),
        Q.in_set("lang", ["en", "de", "fr"]),
        Q.matches("source", "^src[0-9]+$"),
    ]
    _clean, bad = Q.quarantine(docs, rules)
    return bad.select("doc_id", "_violations")


@register(
    "q176_dataset_expectations",
    survey="ext-constraints,A5,A3",
    sql="""
    WITH m AS (
        SELECT CAST(count(1) AS BIGINT) AS n,
               CAST(sum(CASE WHEN text IS NULL THEN 1 ELSE 0 END)
                    AS BIGINT) AS nn_text,
               CAST(count(DISTINCT doc_id) AS BIGINT) AS nd_id,
               CAST(count(DISTINCT lang) AS BIGINT) AS nd_lang
        FROM documents
    )
    SELECT 'not_null(text)' AS rule, nn_text AS violations, n AS checked
    FROM m
    UNION ALL
    SELECT 'row_count(100,10000000)',
           CAST(CASE WHEN n < 100 OR n > 10000000 THEN 1 ELSE 0 END
                AS BIGINT), n
    FROM m
    UNION ALL
    SELECT 'row_count(1,100)',
           CAST(CASE WHEN n < 1 OR n > 100 THEN 1 ELSE 0 END AS BIGINT), n
    FROM m
    UNION ALL
    SELECT 'null_ppm(text,0)',
           CAST(CASE WHEN (CASE WHEN n = 0 THEN 0
                           ELSE (1000000 * nn_text) // n END) > 0
                THEN 1 ELSE 0 END AS BIGINT),
           CAST(CASE WHEN n = 0 THEN 0
                ELSE (1000000 * nn_text) // n END AS BIGINT)
    FROM m
    UNION ALL
    SELECT 'distinct_ppm(doc_id,1000000,1000000)',
           CAST(CASE WHEN (CASE WHEN n = 0 THEN 0
                           ELSE (1000000 * nd_id) // n END) <> 1000000
                THEN 1 ELSE 0 END AS BIGINT),
           CAST(CASE WHEN n = 0 THEN 0
                ELSE (1000000 * nd_id) // n END AS BIGINT)
    FROM m
    UNION ALL
    SELECT 'distinct_ppm(lang,100000,900000)',
           CAST(CASE WHEN (CASE WHEN n = 0 THEN 0
                           ELSE (1000000 * nd_lang) // n END) < 100000
                      OR (CASE WHEN n = 0 THEN 0
                          ELSE (1000000 * nd_lang) // n END) > 900000
                THEN 1 ELSE 0 END AS BIGINT),
           CAST(CASE WHEN n = 0 THEN 0
                ELSE (1000000 * nd_lang) // n END AS BIGINT)
    FROM m
    """,
)
def q176_dataset_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset-level expectations (round-11 extension of the constraints
    engine): table-scope rules — row_count in range, null fraction and
    distinct ratio in integer ppm — folded into the SAME single
    scan+aggregate as the row rules (operators/quality.py audit();
    distinct_ppm routes the one pass through Spark's multi-distinct
    Expand, exactly like q123's profile).  Mixes passing expectations
    (broad row_count, zero text nulls, a fully-distinct pk) with
    deliberately failing ones (a 100-row cap, a 10%-90% distinct band
    for a 1% column) so BOTH verdicts and all measurements are
    value-hash-checked.  Dataset rows report (verdict 0/1, measurement)
    — the measurement rides the same tiny audit row as the verdict.
    Reference basis: the monitoring the reference's blind daily re-crawl
    lacks (scheduler.py:21-33 re-runs with no quality gate)."""
    from coldata_spark.operators import quality as Q

    docs = load(spark, sf_dir, "documents")
    return Q.audit(
        docs,
        [
            Q.not_null("text"),
            Q.row_count_between(100, 10_000_000),
            Q.row_count_between(1, 100),
            Q.null_fraction_ppm_max("text", 0),
            Q.distinct_ratio_ppm_between("doc_id", 1_000_000, 1_000_000),
            Q.distinct_ratio_ppm_between("lang", 100_000, 900_000),
        ],
    )


def _q177_snapshots_sql() -> tuple[str, str]:
    """The two deterministic snapshot subqueries q177 derives from orders
    (q127's device: versions synthesized from a fixture table so the
    oracle can see them) — v1 drops every 10th key; v2 drops a different
    10th and shifts a third of the prices up by 15000, a clean
    right-shift of the distribution for PSI to catch."""
    a = (
        "SELECT o_totalprice AS x FROM orders WHERE o_orderkey % 10 <> 0"
    )
    b = (
        "SELECT o_totalprice + (CASE WHEN o_orderkey % 3 = 0 "
        "THEN 15000 ELSE 0 END) AS x "
        "FROM orders WHERE o_orderkey % 10 <> 1"
    )
    return a, b


def _q177_sql() -> str:
    from coldata_spark.operators.drift import drift_sql

    a, b = _q177_snapshots_sql()
    return drift_sql(a, b, "x", nbins=16, dialect="duckdb")


@register(
    "q177_snapshot_drift",
    survey="ext-constraints,A5,R6",
    sql=_q177_sql(),
)
def q177_snapshot_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-snapshot distribution drift (operators/drift.py): PSI in
    integer fixed-point over 16 shared equi-width bins between two
    synthesized order snapshots — v2 shifts a third of the prices up by
    15000, and the per-bin psi_term_fp values light up exactly where the
    mass moved.  Bin arithmetic is q122's; the log-ratio is the q166
    intlog2 surrogate in SUM form (int64-safe to ~8.7e12 rows); the
    oracle SQL is GENERATED from the same term builder
    (drift.drift_sql), so the two dialects cannot drift apart.  The
    VersionedTable entry point (drift.snapshot_drift over time-travel
    reads) is lifecycle-tested in tests/test_drift.py; this query
    value-checks the statistic itself.

    Plan: one union scan with a 2x16-group combine agg + one broadcast
    1-row stats agg — no window, no join, no per-row Python."""
    from coldata_spark.operators.drift import distribution_drift

    o = load(spark, sf_dir, "orders")
    v1 = o.filter("o_orderkey % 10 <> 0").select(
        F.col("o_totalprice").alias("x")
    )
    v2 = o.filter("o_orderkey % 10 <> 1").select(
        F.expr(
            "o_totalprice + (CASE WHEN o_orderkey % 3 = 0 "
            "THEN 15000 ELSE 0 END)"
        ).alias("x")
    )
    return distribution_drift(v1, v2, "x", nbins=16)


def _q178_snapshots_sql() -> tuple[str, str]:
    """q178's deterministic snapshot subqueries over documents.lang: v2
    drops every 10th doc and re-labels every 7th into a NEW category —
    both a mix shift and a novel-category appearance for the drift to
    surface (the '<other>' bucket absorbs whatever falls off the top-k)."""
    a = "SELECT lang AS x FROM documents"
    b = (
        "SELECT CASE WHEN doc_id % 7 = 0 THEN 'zz' ELSE lang END AS x "
        "FROM documents WHERE doc_id % 10 <> 1"
    )
    return a, b


def _q178_sql() -> str:
    from coldata_spark.operators.drift import categorical_drift_sql

    a, b = _q178_snapshots_sql()
    return categorical_drift_sql(a, b, top_k=4, dialect="duckdb")


@register(
    "q178_categorical_drift",
    survey="ext-constraints,A5,W1",
    sql=_q178_sql(),
)
def q178_categorical_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Categorical drift between snapshots (operators/drift.py
    categorical_drift) — the string-column half of the monitoring story
    q177 opened: cells are the top-4 lang values by combined count plus
    '<other>', proportions in Laplace-smoothed integer ppm, the same
    intlog2 PSI term as the numeric path.  v2 re-labels every 7th doc
    into a NEW category ('zz') and drops every 10th doc, so the result
    shows mass leaving the incumbent cells and arriving in a cell that
    did not exist in v1 — the re-crawl regression a blind scheduler
    never notices.  Oracle SQL GENERATED from the same term builder
    (categorical_drift_sql).

    Plan: one union scan -> distinct-value count table (map-side
    combine), a single bounded window over that COUNT table for top-k,
    one broadcast totals row — no per-row window, no join wider than
    the cell list."""
    from coldata_spark.operators.drift import categorical_drift

    docs = load(spark, sf_dir, "documents")
    v1 = docs.select(F.col("lang").alias("x"))
    v2 = docs.filter("doc_id % 10 <> 1").select(
        F.expr(
            "CASE WHEN doc_id % 7 = 0 THEN 'zz' ELSE lang END"
        ).alias("x")
    )
    return categorical_drift(v1, v2, "x", top_k=4)


def _q179_sql() -> str:
    from coldata_spark.operators import sketches as SK

    return (
        "WITH "
        + SK.hll_h32_sql("documents", "1 AS g", "doc_id")
        + f""",
    b AS (SELECT h // {SK._W_MOD} AS idx, h % {SK._W_MOD} AS w24 FROM m5),
    r AS (
        SELECT idx,
               max(CASE WHEN w24 = 0 THEN {SK._MAX_RANK}
                        ELSE {SK._MAX_RANK - 1}
                             - CAST(floor(log2(w24)) AS INT) END) AS mx
        FROM b GROUP BY idx
    ),
    s AS (
        SELECT count(*) AS n_used,
               sum((1::BIGINT) << ({SK._MAX_RANK} - mx)) AS s_present
        FROM r
    ),
    n AS (SELECT CAST(count(1) AS BIGINT) AS nn FROM documents),
    est AS (
        SELECT CAST(coalesce({SK.HLL_C} // (s_present
                    + ({SK.HLL_M} - n_used) * {1 << SK._MAX_RANK}), 0)
               AS BIGINT) AS e
        FROM s
    ),
    m AS (
        SELECT CAST(CASE WHEN nn = 0 THEN 0
                    ELSE (1000000 * e) // nn END AS BIGINT) AS ratio, nn
        FROM est, n
    )
    SELECT 'row_count(1,100)' AS rule,
           CAST(CASE WHEN nn < 1 OR nn > 100 THEN 1 ELSE 0 END AS BIGINT)
               AS violations,
           nn AS checked
    FROM m
    UNION ALL
    SELECT 'distinct_hll(doc_id,800000,1200000)',
           CAST(CASE WHEN ratio < 800000 OR ratio > 1200000
                THEN 1 ELSE 0 END AS BIGINT),
           ratio
    FROM m
    """
    )


@register(
    "q179_distinct_hll_expectation",
    survey="ext-constraints,ext-sketch,A5",
    sql=_q179_sql(),
)
def q179_distinct_hll_expectation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SKETCHED distinct-ratio expectation
    (quality.distinct_ratio_ppm_hll): the dataset rule whose register
    build shuffles <= 256 rows at any cardinality — the scale answer to
    q176's exact-distinct engine constant (SCALE.md decomposes that to
    ~0.9 s/1.28 M keys at 256x), and the ONE distinct expectation the
    streaming monitor can fold (per-batch registers max-merge exactly;
    hll_partial/fold_into_quality_hll/hll_verdicts, stream == batch
    bit-for-bit in tests/test_quality.py).  The estimate is q114's
    integer fixed-point formula, so the MEASUREMENT hash-checks against
    the DuckDB twin (same portable murmur fold, same register math);
    the failing row_count companion value-checks both verdict polarities.

    Plan: one register pass (map-side fold+mix hash, groupBy(idx) max,
    shuffle <= 256 rows) + the shared count — no hash table of the key
    set anywhere."""
    from coldata_spark.operators import quality as Q

    docs = load(spark, sf_dir, "documents")
    return Q.audit(
        docs,
        [
            Q.row_count_between(1, 100),
            Q.distinct_ratio_ppm_hll("doc_id", 800_000, 1_200_000),
        ],
    )


def _q180_snapshots_sql() -> tuple[str, str]:
    """q180's snapshot subqueries: q177's synthesized-version device,
    but projecting THREE numeric columns — a shifted one
    (o_totalprice), an unshifted high-cardinality one (o_custkey), and
    a constant one (o_shippriority, exercising the mx == mn bin
    guard)."""
    a = (
        "SELECT o_totalprice, o_custkey, 0 AS o_flat "
        "FROM orders WHERE o_orderkey % 10 <> 0"
    )
    b = (
        "SELECT o_totalprice + (CASE WHEN o_orderkey % 3 = 0 "
        "THEN 15000 ELSE 0 END) AS o_totalprice, "
        "o_custkey, 0 AS o_flat "
        "FROM orders WHERE o_orderkey % 10 <> 1"
    )
    return a, b


_Q180_COLS = ["o_totalprice", "o_custkey", "o_flat"]


def _q180_sql() -> str:
    from coldata_spark.operators.drift import drift_many_sql

    a, b = _q180_snapshots_sql()
    return drift_many_sql(a, b, _Q180_COLS, nbins=16, dialect="duckdb")


@register(
    "q180_drift_many_columns",
    survey="ext-constraints,A5,R6",
    sql=_q180_sql(),
)
def q180_drift_many_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-column drift in TWO passes TOTAL (drift.drift_many): the
    nightly-gate shape — k columns watched for the price of one, where
    q177's single-column operator would rescan the snapshot pair per
    column (2k scans for k columns).  Per-column rows are defined (and
    plan-tested, tests/test_drift.py) to equal distribution_drift's;
    the oracle is therefore GENERATED as a UNION ALL of the
    already-verified per-column twins (drift_many_sql) — simple on the
    oracle side, 2-scans-total on the Spark side, identical values.
    o_totalprice lights up where v2 shifted mass; o_custkey stays
    flat; o_flat (a projected constant) exercises the mx == mn guard.

    Plan: ONE wide stats agg (4k scalars, one broadcast row) + ONE
    stack()-unpivoted combine agg — shuffle bounded by k x 2 x nbins
    groups; scans of each snapshot: exactly 2, independent of k."""
    from coldata_spark.operators.drift import drift_many

    o = load(spark, sf_dir, "orders")
    v1 = o.filter("o_orderkey % 10 <> 0").select(
        "o_totalprice", "o_custkey", F.lit(0).alias("o_flat")
    )
    v2 = o.filter("o_orderkey % 10 <> 1").select(
        F.expr(
            "o_totalprice + (CASE WHEN o_orderkey % 3 = 0 "
            "THEN 15000 ELSE 0 END)"
        ).alias("o_totalprice"),
        "o_custkey",
        F.lit(0).alias("o_flat"),
    )
    return drift_many(v1, v2, _Q180_COLS, nbins=16)
