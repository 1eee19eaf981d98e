"""Training-data curation operators over ``documents``: deterministic
sampling (Bernoulli / stratified / fixed-N), per-source quotas, quantile
filtering, benchmark-contamination detection, and sequence packing
(driver contract "large-scale training-data pipeline" extensions;
SURVEY.md §2.6 rows 10-13 are the sibling dedup/text families).

Every "random" choice is a deterministic md5-hash draw so the DuckDB
oracle reproduces it bit-for-bit — the same trick production pipelines
use for *reproducible* sampling (a re-run of the pipeline must sample
the same documents, or downstream dedup/eval splits churn).

Scale notes (100 TB posture):
  * Hash sampling is a narrow map+filter — no shuffle, no state; it
    composes with partition pruning and column pruning at the scan.
  * The quota / quantile ops shuffle once on their grouping key; the
    per-group reduction (row_number / percentile) is bounded by group
    size, not corpus size.
  * Contamination broadcasts the benchmark side: eval suites are MBs
    while the corpus is TBs, so the corpus never shuffles — each task
    checks its rows against the broadcast trigram set.
  * Packing windows are partitioned by source (never a global window):
    each shard packs independently, which is exactly how distributed
    sequence-packing runs in practice.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from trike_spark.io import load_table
from trike_spark.queries.dedup import (
    _SQL_JACCARD_PAIRS,
    _SQL_TRIGRAMS,
    _h60,
    _sql_h60,
    _trigrams,
)
from trike_spark.registry import register

PACK_BUDGET = 512  # tokens per packed sequence bin


def _draw(c: Column) -> Column:
    """Deterministic uniform draw in [0, 100) from a document id."""
    return _h60(c.cast("string")) % 100


def _sql_draw(expr: str) -> str:
    return f"({_sql_h60(f'CAST({expr} AS VARCHAR)')} % 100)"


@register(
    "curation_hash_sample",
    f"""
    SELECT doc_id, lang, source, n_chars
    FROM documents
    WHERE {_sql_draw('doc_id')} < 10
    """,
    doc="Deterministic 10% Bernoulli sample via md5 draw — reproducible across runs.",
)
def curation_hash_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reproducible sampling: ``md5(doc_id) % 100 < 10`` instead of
    ``df.sample()`` (whose output depends on partitioning and seed
    plumbing). Pure narrow filter — scan-adjacent, zero shuffle."""
    d = load_table(spark, sf_dir, "documents")
    return d.filter(_draw(F.col("doc_id")) < 10).select("doc_id", "lang", "source", "n_chars")


@register(
    "curation_stratified_sample",
    f"""
    SELECT lang, COUNT(*) AS n_sampled,
           CAST(SUM(n_chars) AS BIGINT) AS sampled_chars
    FROM documents
    WHERE {_sql_draw('doc_id')} <
          CASE lang WHEN 'en' THEN 60 WHEN 'de' THEN 30 ELSE 15 END
    GROUP BY lang
    """,
    doc="Stratified sampling: per-language keep-rates from one deterministic draw.",
)
def curation_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-stratum rates (en 60%, de 30%, rest 15%) applied to the same
    deterministic draw — the Spark-native ``sampleBy`` shape, made
    reproducible. Still a narrow filter; the only shuffle is the final
    tiny per-lang count."""
    d = load_table(spark, sf_dir, "documents")
    rate = F.when(F.col("lang") == "en", 60).when(F.col("lang") == "de", 30).otherwise(15)
    return (
        d.filter(_draw(F.col("doc_id")) < rate)
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_sampled"),
            F.sum("n_chars").alias("sampled_chars"),
        )
    )


@register(
    "curation_uniform_fixed_n",
    """
    SELECT doc_id, lang, source
    FROM documents
    ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
    LIMIT 64
    """,
    doc="Exactly-N uniform sample: order by hash, take N (TakeOrdered, not full sort).",
)
def curation_uniform_fixed_n(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-size uniform sample without a global shuffle: ordering by a
    hash of the id is a random permutation, and Spark executes
    orderBy+limit as TakeOrderedAndProject — each partition keeps its
    local top-64, the driver merges 64·p candidate rows, never the
    corpus."""
    d = load_table(spark, sf_dir, "documents")
    return (
        d.orderBy(F.md5(F.col("doc_id").cast("string")), "doc_id")
        .limit(64)
        .select("doc_id", "lang", "source")
    )


@register(
    "curation_source_quota",
    """
    SELECT source, doc_id, n_chars, rk FROM (
      SELECT source, doc_id, n_chars,
             ROW_NUMBER() OVER (PARTITION BY source
                                ORDER BY n_chars DESC, doc_id) AS rk
      FROM documents)
    WHERE rk <= 10
    """,
    doc="Per-source quota: keep the 10 largest documents per source (domain caps).",
)
def curation_source_quota(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain balancing: cap every source at its k best documents so no
    single crawl domain dominates the mixture. One shuffle on source;
    row_number is rank-limited per group (Spark pushes a per-partition
    top-k filter below the final sort when the predicate is rk <= k)."""
    d = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy(F.col("n_chars").desc(), "doc_id")
    return (
        d.select("source", "doc_id", "n_chars", F.row_number().over(w).alias("rk"))
        .filter(F.col("rk") <= 10)
    )


@register(
    "curation_lang_median_filter",
    """
    WITH med AS (
      SELECT lang, quantile_cont(n_chars, 0.5) AS median_chars
      FROM documents GROUP BY lang)
    SELECT d.lang, COUNT(*) AS n_kept,
           CAST(ROUND(ANY_VALUE(med.median_chars), 1) AS DOUBLE) AS median_chars
    FROM documents d JOIN med ON d.lang = med.lang
    WHERE d.n_chars > med.median_chars
    GROUP BY d.lang
    """,
    doc="Quantile filter: keep documents above their language's median length.",
)
def curation_lang_median_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language median cutoff. The medians table is |langs| rows —
    broadcast back onto the corpus, so the only corpus-wide shuffle is
    the exact-percentile aggregation itself (at 100 TB swap in
    approx_percentile, which is a fixed-size sketch with map-side
    combine; exact interpolated percentile is kept here because the
    oracle must match bit-for-bit)."""
    d = load_table(spark, sf_dir, "documents")
    med = d.groupBy("lang").agg(F.percentile("n_chars", 0.5).alias("median_chars"))
    return (
        d.join(F.broadcast(med), "lang")
        .filter(F.col("n_chars") > F.col("median_chars"))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.round(F.any_value("median_chars"), 1).alias("median_chars"),
        )
    )


@register(
    "curation_contamination_trigram",
    f"""
    WITH tg AS (
      SELECT doc_id, {_sql_draw('doc_id')} < 5 AS is_bench,
             unnest({_SQL_TRIGRAMS}) AS shingle
      FROM (SELECT doc_id, string_split(text, ' ') AS l FROM documents)),
    bench AS (SELECT DISTINCT shingle FROM tg WHERE is_bench),
    train AS (SELECT doc_id, shingle FROM tg WHERE NOT is_bench)
    SELECT train.doc_id, COUNT(DISTINCT train.shingle) AS n_shared_trigrams
    FROM train JOIN bench ON train.shingle = bench.shingle
    GROUP BY train.doc_id
    """,
    doc="Benchmark contamination: training docs sharing token-trigrams with a held-out set.",
)
def curation_contamination_trigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decontamination: flag training documents that share any token
    trigram with the benchmark set (here: a deterministic 5% hash split
    standing in for an eval suite). The benchmark trigram set is
    broadcast — eval suites are MBs against a TB corpus — so the corpus
    side never shuffles; each task probes the broadcast hash set."""
    d = load_table(spark, sf_dir, "documents")
    # Split BEFORE exploding: the two join branches share no plan (Spark
    # does not CSE across branches), so deriving them from the exploded
    # trigram stream would run the full-corpus explode twice. Filtering
    # first means the bench branch explodes only the 5 % split and the
    # train branch the 95 % — 1× corpus total instead of 2×.
    is_bench = _draw(F.col("doc_id")) < 5
    bench = (
        d.filter(is_bench)
        .select(F.explode(_trigrams()).alias("shingle"))
        .distinct()
    )
    train = d.filter(~is_bench).select(
        "doc_id", F.explode(_trigrams()).alias("shingle")
    )
    return (
        train.join(F.broadcast(bench), "shingle")
        .groupBy("doc_id")
        .agg(F.count_distinct("shingle").alias("n_shared_trigrams"))
    )


@register(
    "curation_pack_sequences",
    f"""
    SELECT source, bin_id, COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS bin_tokens
    FROM (
      SELECT source, (cum_tokens - n_tokens) // {PACK_BUDGET} AS bin_id, n_tokens
      FROM (
        SELECT source, n_tokens,
               CAST(SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
                 AS cum_tokens
        FROM (SELECT source, doc_id,
                     CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
              FROM documents)))
    GROUP BY source, bin_id
    """,
    doc="Sequence packing: contiguous token-budget bins per source shard.",
)
def curation_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pack documents into ~{PACK_BUDGET}-token training sequences: a
    running token count per source assigns each document to the bin its
    start offset falls in. The window is partitioned by source — every
    shard packs independently, so no global ordering/single-reducer
    window exists and the op scales with the number of shards."""
    d = load_table(spark, sf_dir, "documents")
    n_tokens = F.size(F.split(F.col("text"), " ")).cast("bigint")
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    toks = d.select("source", "doc_id", n_tokens.alias("n_tokens"))
    binned = toks.withColumn("cum_tokens", F.sum("n_tokens").over(w)).select(
        "source",
        F.expr(f"(cum_tokens - n_tokens) div {PACK_BUDGET}").alias("bin_id"),
        "n_tokens",
    )
    return binned.groupBy("source", "bin_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("bin_tokens"),
    )


@register(
    "curation_mixture_reweight",
    """
    WITH tok AS (
      SELECT lang, CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS lang_tokens
      FROM documents GROUP BY lang),
    tot AS (SELECT CAST(SUM(lang_tokens) AS BIGINT) AS total_tokens FROM tok)
    SELECT lang, lang_tokens,
           ROUND(CAST(lang_tokens AS DOUBLE) / tot.total_tokens, 6) AS actual_frac,
           CAST(CASE lang WHEN 'en' THEN 0.5 ELSE 0.125 END AS DOUBLE) AS target_frac,
           ROUND(CAST(CASE lang WHEN 'en' THEN 0.5 ELSE 0.125 END AS DOUBLE)
                 / (CAST(lang_tokens AS DOUBLE) / tot.total_tokens), 6) AS repeat_factor
    FROM tok CROSS JOIN tot
    """,
    doc="Data-mixture reweighting: per-language repeat factors toward a target token mix.",
)
def curation_mixture_reweight(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixture balancing: compare each language's actual token share with
    a target mixture (en 50%, others 12.5%) and emit the repeat/downsample
    factor a sampler would apply. One corpus aggregation; the 1-row total
    joins back via broadcast — the per-lang table is |langs| rows, so the
    op's cost is the token count scan regardless of corpus size."""
    d = load_table(spark, sf_dir, "documents")
    tok = d.groupBy("lang").agg(
        F.sum(F.size(F.split(F.col("text"), " "))).alias("lang_tokens")
    )
    tot = tok.agg(F.sum("lang_tokens").alias("total_tokens"))
    actual = F.col("lang_tokens").cast("double") / F.col("total_tokens")
    target = F.when(F.col("lang") == "en", 0.5).otherwise(0.125)
    return tok.crossJoin(F.broadcast(tot)).select(
        "lang",
        "lang_tokens",
        F.round(actual, 6).alias("actual_frac"),
        target.alias("target_frac"),
        F.round(target / actual, 6).alias("repeat_factor"),
    )


CHUNK_TOKENS = 32  # chunk size for the RAG-style splitter
CHUNK_STRIDE = 24  # stride (=> 8-token overlap between neighbours)


@register(
    "curation_chunk_overlap",
    f"""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS t,
             len(string_split(text, ' ')) AS n
      FROM documents),
    idx AS (
      SELECT doc_id, t, n,
             unnest(generate_series(0,
               CAST(CEIL(CAST(GREATEST(n - {CHUNK_TOKENS}, 0) AS DOUBLE)
                         / {CHUNK_STRIDE}) AS BIGINT))) AS chunk_idx
      FROM toks)
    SELECT doc_id, chunk_idx,
           len(t[chunk_idx * {CHUNK_STRIDE} + 1 :
                 chunk_idx * {CHUNK_STRIDE} + {CHUNK_TOKENS}]) AS n_chunk_tokens,
           md5(array_to_string(
               t[chunk_idx * {CHUNK_STRIDE} + 1 :
                 chunk_idx * {CHUNK_STRIDE} + {CHUNK_TOKENS}], ' ')) AS chunk_md5
    FROM idx
    """,
    doc=(
        f"RAG-style chunking: {CHUNK_TOKENS}-token windows with stride "
        f"{CHUNK_STRIDE} (8-token overlap); emits per-chunk token count + md5."
    ),
)
def curation_chunk_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping-window chunker — the retrieval/packing preprocessor.
    Entirely row-local: tokenize once, derive the chunk index range from
    the token count, posexplode, slice. No shuffle at all (the chunk fan-
    out is a generator inside the scan stage), so at 100 TB this runs at
    scan speed and the downstream chunk-level dedup/embedding stages key
    off the emitted md5 fingerprint instead of re-shipping chunk text."""
    d = load_table(spark, sf_dir, "documents")
    t = F.split(F.col("text"), " ")
    n = F.size(t)
    n_chunks_minus1 = F.ceil(
        F.greatest(n - CHUNK_TOKENS, F.lit(0)).cast("double") / CHUNK_STRIDE
    ).cast("int")
    toks = d.select("doc_id", t.alias("t"), n_chunks_minus1.alias("m"))
    idx = toks.select(
        "doc_id", "t", F.explode(F.sequence(F.lit(0), F.col("m"))).alias("chunk_idx")
    )
    chunk = F.slice(F.col("t"), F.col("chunk_idx") * CHUNK_STRIDE + 1, CHUNK_TOKENS)
    return idx.select(
        "doc_id",
        F.col("chunk_idx").cast("bigint").alias("chunk_idx"),
        F.size(chunk).cast("bigint").alias("n_chunk_tokens"),
        F.md5(F.array_join(chunk, " ")).alias("chunk_md5"),
    )


MIX_TEMPERATURE = 0.7  # alpha for temperature-scaled mixture sampling


@register(
    "curation_temperature_mix",
    f"""
    WITH tok AS (
      SELECT source, CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS src_tokens
      FROM documents GROUP BY source),
    tot AS (SELECT CAST(SUM(src_tokens) AS BIGINT) AS total_tokens FROM tok),
    p AS (SELECT source, src_tokens,
                 CAST(src_tokens AS DOUBLE) / tot.total_tokens AS p
          FROM tok CROSS JOIN tot),
    z AS (SELECT SUM(POWER(p, {MIX_TEMPERATURE})) AS z FROM p)
    SELECT source, src_tokens,
           ROUND(p, 6) AS actual_frac,
           ROUND(POWER(p, {MIX_TEMPERATURE}) / z.z, 6) AS temp_frac,
           ROUND((POWER(p, {MIX_TEMPERATURE}) / z.z) / p, 6) AS repeat_factor
    FROM p CROSS JOIN z
    """,
    doc=(
        f"Temperature-scaled mixture sampling (alpha={MIX_TEMPERATURE}): "
        "per-source sampling weights p^alpha renormalized, plus repeat factors."
    ),
)
def curation_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The standard multilingual/multi-source mixing rule: raise each
    source's natural share to alpha<1 and renormalize, boosting the tail
    without flattening it. Unlike curation_mixture_reweight (explicit
    target mix), the targets here derive from the corpus itself. Cost is
    one token-count scan; the per-source table (|sources| rows) and the
    two scalar aggregates (total, normalizer) broadcast back — nothing
    wide ever carries more than |sources| rows."""
    d = load_table(spark, sf_dir, "documents")
    tok = d.groupBy("source").agg(
        F.sum(F.size(F.split(F.col("text"), " "))).alias("src_tokens")
    )
    tot = tok.agg(F.sum("src_tokens").alias("total_tokens"))
    p_df = tok.crossJoin(F.broadcast(tot)).select(
        "source",
        "src_tokens",
        (F.col("src_tokens").cast("double") / F.col("total_tokens")).alias("p"),
    )
    z = p_df.agg(F.sum(F.pow("p", MIX_TEMPERATURE)).alias("z"))
    temp = F.pow("p", MIX_TEMPERATURE) / F.col("z")
    return p_df.crossJoin(F.broadcast(z)).select(
        "source",
        "src_tokens",
        F.round("p", 6).alias("actual_frac"),
        F.round(temp, 6).alias("temp_frac"),
        F.round(temp / F.col("p"), 6).alias("repeat_factor"),
    )


@register(
    "curation_train_val_test_split",
    f"""
    WITH assigned AS (
      SELECT lang,
             CASE WHEN {_sql_draw('doc_id')} < 80 THEN 'train'
                  WHEN {_sql_draw('doc_id')} < 90 THEN 'val'
                  ELSE 'test' END AS split,
             len(string_split(text, ' ')) AS n_tokens
      FROM documents)
    SELECT lang, split, COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS split_tokens
    FROM assigned GROUP BY lang, split
    """,
    doc=(
        "Deterministic 80/10/10 train/val/test split via the md5 draw, "
        "reported per language — replay-stable eval splits."
    ),
)
def curation_train_val_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The split every training run needs, made replay-stable: membership
    is a pure function of doc_id (md5 draw), so re-running the pipeline —
    or running it on a differently-partitioned copy of the corpus — keeps
    every document in the same split, which is what keeps eval sets
    uncontaminated across reprocessings. Narrow assignment + one small
    (lang, split) aggregation."""
    d = load_table(spark, sf_dir, "documents")
    draw = _draw(F.col("doc_id"))
    split = (
        F.when(draw < 80, "train").when(draw < 90, "val").otherwise("test")
    )
    return (
        d.select("lang", split.alias("split"), F.size(F.split("text", " ")).alias("n_tokens"))
        .groupBy("lang", "split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("split_tokens"),
        )
    )


# --- weighted sampling without replacement (exact, replay-stable) -----------

WEIGHTED_SAMPLE_K = 25


@register(
    "curation_weighted_sample",
    f"""
    WITH w AS (
      SELECT doc_id, lang, length(string_split(text, ' ')) AS n_tokens
      FROM documents),
    t AS (
      SELECT doc_id, lang, n_tokens,
             MIN(md5(CAST(doc_id AS VARCHAR) || ':' || CAST(i AS VARCHAR))) AS draw
      FROM (SELECT doc_id, lang, n_tokens,
                   unnest(generate_series(1, n_tokens)) AS i
            FROM w)
      GROUP BY doc_id, lang, n_tokens)
    SELECT doc_id, lang, n_tokens, draw
    FROM t ORDER BY draw, doc_id LIMIT {WEIGHTED_SAMPLE_K}
    """,
    doc=(
        "Token-weighted sampling without replacement via the min-ticket "
        "draw: P(doc is next pick) = w/Σw, fully deterministic (md5 "
        "tickets), so the sample is replay-stable."
    ),
)
def curation_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling without replacement, exactly and with integer-only
    randomness: each document gets w tickets (w = token count), ticket i's
    value is md5(doc_id:i), and a document's draw key is its MINIMUM
    ticket. The min of w iid uniforms beats the min of v iid uniforms with
    probability w/(w+v), so ordering docs by their min ticket IS the
    Efraimidis–Spirakis weighted without-replacement order — but with md5
    string comparisons instead of u^(1/w) floats, which is what makes the
    sample bit-reproducible across engines, partitionings and replays.

    Scale: the ticket explode is Σw rows — the same cardinality as
    tokenizing the corpus, the pipeline's baseline cost — and the top-k by
    draw is TakeOrdered (per-partition heads, no global sort). For corpora
    where Σw is prohibitive, the float A-ES key (md5-seeded u^(1/w)) cuts
    it to one row per doc at the cost of float determinism."""
    d = load_table(spark, sf_dir, "documents")
    w = d.select("doc_id", "lang", F.size(F.split("text", " ")).alias("n_tokens"))
    tickets = w.select(
        "doc_id",
        "lang",
        "n_tokens",
        F.explode(F.sequence(F.lit(1), F.col("n_tokens"))).alias("i"),
    )
    draws = (
        tickets.select(
            "doc_id",
            "lang",
            "n_tokens",
            F.md5(F.concat_ws(":", F.col("doc_id"), F.col("i"))).alias("ticket"),
        )
        .groupBy("doc_id", "lang", "n_tokens")
        .agg(F.min("ticket").alias("draw"))
    )
    return draws.orderBy("draw", "doc_id").limit(WEIGHTED_SAMPLE_K)


STRAT_SAMPLE_K = 5


@register(
    "curation_weighted_sample_per_lang",
    f"""
    WITH w AS (
      SELECT doc_id, lang, length(string_split(text, ' ')) AS n_tokens
      FROM documents),
    t AS (
      SELECT doc_id, lang, n_tokens,
             MIN(md5(CAST(doc_id AS VARCHAR) || ':' || CAST(i AS VARCHAR))) AS draw
      FROM (SELECT doc_id, lang, n_tokens,
                   unnest(generate_series(1, n_tokens)) AS i
            FROM w)
      GROUP BY doc_id, lang, n_tokens),
    ranked AS (
      SELECT doc_id, lang, n_tokens, draw,
             ROW_NUMBER() OVER (PARTITION BY lang ORDER BY draw, doc_id) AS rk
      FROM t)
    SELECT doc_id, lang, n_tokens, draw FROM ranked WHERE rk <= {STRAT_SAMPLE_K}
    """,
    doc=(
        f"Stratified token-weighted sampling: top-{STRAT_SAMPLE_K} "
        "min-ticket draws PER LANGUAGE — per-stratum weighted samples "
        "from one global pass."
    ),
)
def curation_weighted_sample_per_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified + weighted sampling combined (the eval-set recipe:
    'K docs per language, drawn proportional to token count'): identical
    min-ticket draws to ``curation_weighted_sample`` — same tickets, same
    bits, so a doc's draw agrees across both faces — but ranked within
    language by a window instead of a global TakeOrdered. One ticket
    pass serves every stratum; the per-lang window shuffles once on
    lang (bounded stratum count ⇒ consider salting only if one stratum
    dominates, which the skew report would show)."""
    d = load_table(spark, sf_dir, "documents")
    w = d.select("doc_id", "lang", F.size(F.split("text", " ")).alias("n_tokens"))
    tickets = w.select(
        "doc_id",
        "lang",
        "n_tokens",
        F.explode(F.sequence(F.lit(1), F.col("n_tokens"))).alias("i"),
    )
    draws = (
        tickets.select(
            "doc_id",
            "lang",
            "n_tokens",
            F.md5(F.concat_ws(":", F.col("doc_id"), F.col("i"))).alias("ticket"),
        )
        .groupBy("doc_id", "lang", "n_tokens")
        .agg(F.min("ticket").alias("draw"))
    )
    wl = Window.partitionBy("lang").orderBy("draw", "doc_id")
    return (
        draws.withColumn("rk", F.row_number().over(wl))
        .filter(F.col("rk") <= STRAT_SAMPLE_K)
        .select("doc_id", "lang", "n_tokens", "draw")
    )


# --- k-anonymity audit ------------------------------------------------------

KANON_K = 5  # suppression threshold: QI groups smaller than this leak
KANON_BAND_CENTS = 200_000  # acctbal generalization: $2000 bands
KANON_OFFSET_CENTS = 100_000  # shift past the -999.99 floor so integer
# division truncation == floor division in both engines (nonneg operands).


@register(
    "curation_kanonymity_audit",
    f"""
    SELECT c_nationkey AS nationkey, c_mktsegment AS mktsegment,
           (CAST(CAST(c_acctbal AS DECIMAL(38,4)) * 100 AS BIGINT)
            + {KANON_OFFSET_CENTS}) // {KANON_BAND_CENTS} AS bal_band,
           COUNT(*) AS k,
           COUNT(*) < {KANON_K} AS suppressed
    FROM customer
    GROUP BY 1, 2, 3
    ORDER BY 1, 2, 3
    """,
    doc=(
        "k-anonymity audit of the customer quasi-identifier tuple "
        "(nation, segment, $2000 balance band): group sizes k, with "
        f"k < {KANON_K} flagged for suppression before release."
    ),
)
def curation_kanonymity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Privacy gate for releasing tabular training data: generalize the
    direct value (acctbal → $2000 band, the banding IS the anonymization
    step) and measure every quasi-identifier combination's group size k.
    Groups below k={KANON_K} are re-identifiable by linkage and get the
    suppressed flag — the release job drops or coarsens them. One
    aggregation on the QI tuple; at 100 TB that is a single shuffle whose
    key cardinality is |nations|·|segments|·|bands| (tiny), so partial
    aggregation collapses almost everything map-side. Banding arithmetic
    is BIGINT end-to-end (cents, offset past the negative floor so
    truncating division equals floor division in both engines)."""
    c = load_table(spark, sf_dir, "customer")
    band = F.expr(
        f"(cast(cast(c_acctbal as decimal(38,4)) * 100 as bigint)"
        f" + {KANON_OFFSET_CENTS}) div {KANON_BAND_CENTS}"
    )
    return (
        c.select(
            F.col("c_nationkey").alias("nationkey"),
            F.col("c_mktsegment").alias("mktsegment"),
            band.alias("bal_band"),
        )
        .groupBy("nationkey", "mktsegment", "bal_band")
        .agg(F.count(F.lit(1)).alias("k"))
        .select(
            "nationkey",
            "mktsegment",
            "bal_band",
            "k",
            (F.col("k") < KANON_K).alias("suppressed"),
        )
        .orderBy("nationkey", "mktsegment", "bal_band")
    )


# --- differentially-private count release (deterministic noise) -------------

DP_U_SCALE = 1_000_000  # uniform-draw resolution for the inverse CDF
# Laplace scale b = sensitivity / epsilon = 1 / 1 (one doc changes one
# cell count by 1; epsilon = 1).


@register(
    "curation_dp_count_release",
    f"""
    WITH c AS (
      SELECT lang, source, COUNT(*) AS n FROM documents GROUP BY 1, 2),
    u AS (
      SELECT lang, source, n,
             (({_sql_h60("lang || '|' || source")} % {DP_U_SCALE}) + 0.5)
               / {DP_U_SCALE}.0 AS u
      FROM c)
    SELECT lang, source,
           ROUND(n + (CASE WHEN u >= 0.5 THEN 1 ELSE -1 END)
                     * (-ROUND(LN(1 - 2 * ABS(u - 0.5)), 6)), 4) AS released_n
    FROM u
    ORDER BY lang, source
    """,
    doc=(
        "Differentially-private (lang, source) histogram release: "
        "Laplace(b=1) noise via the inverse CDF over a deterministic "
        "md5 uniform draw — replayable, engine-exact noise."
    ),
)
def curation_dp_count_release(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Noisy-count release for corpus composition stats — the governance
    counterpart to the k-anonymity audit: publish per-(lang, source) doc
    counts with Laplace(sensitivity/ε = 1/1) noise so no single document's
    presence is inferable. The twist that makes it verifiable: the
    uniform draw is a deterministic md5 hash of the CELL KEY (not an RNG),
    so the 'noise' is replayable and the DuckDB oracle reproduces it
    bit-for-bit — same inverse-CDF transform, same pinned rounding. (In a
    production release the draw would key on a secret salt; the mechanism
    and plan are identical.) Scale: one groupBy on the release cells plus
    narrow per-row math — the noise costs nothing at any scale. True
    counts are deliberately NOT in the output schema."""
    d = load_table(spark, sf_dir, "documents")
    c = d.groupBy("lang", "source").agg(F.count(F.lit(1)).alias("n"))
    u = (
        (_h60(F.concat_ws("|", F.col("lang"), F.col("source"))) % DP_U_SCALE)
        + 0.5
    ) / DP_U_SCALE
    cu = c.withColumn("u", u)
    noise = F.when(F.col("u") >= 0.5, F.lit(1)).otherwise(F.lit(-1)) * (
        -F.round(F.log(1 - 2 * F.abs(F.col("u") - 0.5)), 6)
    )
    return (
        cu.select(
            "lang",
            "source",
            F.round(F.col("n") + noise, 4).alias("released_n"),
        )
        .orderBy("lang", "source")
    )


# --- row-level pseudonymization (release transform) -------------------------


@register(
    "curation_pseudonymize_customers",
    f"""
    SELECT sha256(CAST(c_custkey AS VARCHAR) || ':cust') AS pseudo_id,
           regexp_replace(c_name, '[0-9]', '#', 'g') AS masked_name,
           c_nationkey AS nationkey, c_mktsegment AS mktsegment,
           (CAST(CAST(c_acctbal AS DECIMAL(38,4)) * 100 AS BIGINT)
            + {KANON_OFFSET_CENTS}) // {KANON_BAND_CENTS} AS bal_band
    FROM customer
    ORDER BY pseudo_id
    """,
    doc=(
        "Row-level release transform: sha256 pseudonym key, digit-masked "
        "name, acctbal generalized to the k-anonymity band — the record "
        "form the audit face green-lights."
    ),
)
def curation_pseudonymize_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The transform the k-anonymity audit gates: direct identifiers
    become a keyed sha256 pseudonym (joinable across released tables,
    irreversible without the key — production would append a secret salt,
    same plan), quasi-identifying digits in the name are masked, and the
    balance is released only at the audit's band granularity. Entirely
    narrow per-row expressions — zero shuffle beyond the presentation
    sort, so the release transform is scan-speed at 100 TB. Composes with
    ``curation_kanonymity_audit``: suppress-flagged bands would be
    dropped by the release job filtering on the audit output."""
    c = load_table(spark, sf_dir, "customer")
    band = F.expr(
        f"(cast(cast(c_acctbal as decimal(38,4)) * 100 as bigint)"
        f" + {KANON_OFFSET_CENTS}) div {KANON_BAND_CENTS}"
    )
    return c.select(
        F.sha2(F.concat(F.col("c_custkey").cast("string"), F.lit(":cust")), 256).alias(
            "pseudo_id"
        ),
        F.regexp_replace("c_name", "[0-9]", "#").alias("masked_name"),
        F.col("c_nationkey").alias("nationkey"),
        F.col("c_mktsegment").alias("mktsegment"),
        band.alias("bal_band"),
    ).orderBy("pseudo_id")


# --- split-leakage measurement + cluster-safe split --------------------------
#
# The doc-level train/val/test split above is replay-stable but NOT
# leakage-safe: two near-duplicate documents can land in different splits,
# contaminating eval. These two faces are the measurement and the fix:
#   * split_leakage_report — count near-dup pairs (exact n-gram Jaccard
#     >= 0.3, same pair set as dedup_ngram_jaccard_pairs) that straddle the
#     naive doc-keyed split. Off-diagonal rows ARE the leakage.
#   * split_cluster_safe — key the draw on the near-dup CLUSTER label
#     (connected components over the pair graph) instead of the doc_id, so
#     a whole near-dup cluster moves as one unit and cross-split pairs are
#     provably zero; the face carries the (re-computed, not assumed)
#     cross_split_pairs column as the proof.
#
# 100 TB posture: both reuse the bounded pair pipeline (60-bit shingle
# keys, DF hot-key guard) and the shared CC operator; the split
# assignment itself is a narrow map keyed on the group label, and the
# leak-count join carries (doc_id, split) pairs only.

_SQL_SPLIT_CASE_DOC = (
    f"CASE WHEN {_sql_draw('doc_id')} < 80 THEN 'train' "
    f"WHEN {_sql_draw('doc_id')} < 90 THEN 'val' ELSE 'test' END"
)


def _split_col(c: Column) -> Column:
    draw = _draw(c)
    return F.when(draw < 80, "train").when(draw < 90, "val").otherwise("test")


@register(
    "curation_split_leakage_report",
    _SQL_JACCARD_PAIRS
    + f""",
    asg AS (SELECT doc_id, {_SQL_SPLIT_CASE_DOC} AS split FROM documents)
    SELECT a.split AS split_a, b.split AS split_b, COUNT(*) AS n_pairs,
           a.split <> b.split AS leaking
    FROM pairs p JOIN asg a ON p.doc_a = a.doc_id
                 JOIN asg b ON p.doc_b = b.doc_id
    GROUP BY a.split, b.split
    """,
    doc=(
        "Eval-leakage audit: near-dup pairs (Jaccard >= 0.3) that straddle "
        "the naive doc-keyed train/val/test split."
    ),
)
def curation_split_leakage_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Measures what the doc-keyed split leaks. The pair set is the exact
    Jaccard pipeline (dedup_ngram_jaccard_pairs — shared shape, same
    oracle fragment); the split side is a narrow (doc_id, split) map, so
    the only added shuffle is the pairs⨝assignment hash join on doc ids."""
    from trike_spark.queries.dedup import dedup_ngram_jaccard_pairs

    pairs = dedup_ngram_jaccard_pairs(spark, sf_dir).select("doc_a", "doc_b")
    asg = load_table(spark, sf_dir, "documents").select(
        "doc_id", _split_col(F.col("doc_id")).alias("split")
    )
    a = asg.alias("a")
    b = asg.alias("b")
    return (
        pairs.join(a, F.col("doc_a") == F.col("a.doc_id"))
        .join(b, F.col("doc_b") == F.col("b.doc_id"))
        .groupBy(
            F.col("a.split").alias("split_a"), F.col("b.split").alias("split_b")
        )
        .agg(F.count(F.lit(1)).alias("n_pairs"))
        .select(
            "split_a",
            "split_b",
            "n_pairs",
            (F.col("split_a") != F.col("split_b")).alias("leaking"),
        )
    )


@register(
    "curation_split_cluster_safe",
    _SQL_JACCARD_PAIRS
    + f""",
    nodes AS (SELECT DISTINCT doc FROM
              (SELECT doc_a AS doc FROM pairs UNION ALL SELECT doc_b FROM pairs)),
    edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
              UNION ALL SELECT doc_b, doc_a FROM pairs),
    reach AS (
      WITH RECURSIVE r(doc, lbl) AS (
        SELECT doc, doc FROM nodes
        UNION
        SELECT e.dst, r.lbl FROM r JOIN edges e ON e.src = r.doc)
      SELECT doc, MIN(lbl) AS canonical_id FROM r GROUP BY doc),
    asg AS (
      SELECT d.doc_id,
             COALESCE(r.canonical_id, d.doc_id) AS group_id,
             CASE WHEN {_sql_draw('COALESCE(r.canonical_id, d.doc_id)')} < 80 THEN 'train'
                  WHEN {_sql_draw('COALESCE(r.canonical_id, d.doc_id)')} < 90 THEN 'val'
                  ELSE 'test' END AS split
      FROM documents d LEFT JOIN reach r ON d.doc_id = r.doc),
    leak AS (SELECT COUNT(*) AS cross_split_pairs
             FROM pairs p JOIN asg a ON p.doc_a = a.doc_id
                          JOIN asg b ON p.doc_b = b.doc_id
             WHERE a.split <> b.split)
    SELECT split, COUNT(*) AS n_docs, COUNT(DISTINCT group_id) AS n_groups,
           cross_split_pairs
    FROM asg CROSS JOIN leak
    GROUP BY split, cross_split_pairs
    """,
    doc=(
        "Leakage-safe train/val/test split keyed on the near-dup cluster "
        "label; cross_split_pairs is re-counted (not assumed) and must be 0."
    ),
)
def curation_split_cluster_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The fix for what split_leakage_report measures: the md5 draw is
    keyed on the connected-component label of the near-dup graph (CC,
    operators/graph.py), so every near-dup cluster lands in ONE split.
    Singleton docs (no near-dup edge) use their own doc_id as the group
    key — same distribution, no join fan-out. The face re-counts
    cross-split pairs as its own proof column instead of asserting zero.
    """
    from trike_spark import cache
    from trike_spark.operators.graph import connected_components
    from trike_spark.queries.dedup import dedup_ngram_jaccard_pairs

    # the leak join below reads pairs again, so materialize it once here
    pairs = cache.checkpoint(
        dedup_ngram_jaccard_pairs(spark, sf_dir).select("doc_a", "doc_b")
    )
    labels = connected_components(pairs, src="doc_a", dst="doc_b")
    d = load_table(spark, sf_dir, "documents").select("doc_id")
    group = F.coalesce(F.col("lbl"), F.col("doc_id")).alias("group_id")
    # assigned is consumed by three plan branches (summary + both sides of
    # the leak join); checkpoint so the CC labels aren't derived thrice.
    asg = cache.checkpoint(
        d.join(labels, d["doc_id"] == labels["node"], "left")
        .select("doc_id", group)
        .select("doc_id", "group_id", _split_col(F.col("group_id")).alias("split"))
    )
    a = asg.alias("a")
    b = asg.alias("b")
    leak = (
        pairs.join(a, F.col("doc_a") == F.col("a.doc_id"))
        .join(b, F.col("doc_b") == F.col("b.doc_id"))
        .filter(F.col("a.split") != F.col("b.split"))
        .agg(F.count(F.lit(1)).alias("cross_split_pairs"))
    )
    from pyspark.sql.functions import broadcast

    return (
        asg.groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("group_id").alias("n_groups"),
        )
        .crossJoin(broadcast(leak))
    )


# --- DSIR-style importance selection -----------------------------------------

DSIR_TARGET_LANG = "en"
DSIR_TOPK = 25


def _dsir_scored_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared DSIR scoring plan: (doc_id, sum_llr, n_tokens). Both LMs are
    vocabulary-sized aggregates whose OUTPUT is |V| rows; the per-token
    log-ratio table broadcasts, so scoring is a narrow map + one
    doc_id-keyed partial agg — the token stream itself never shuffles."""
    from pyspark.sql.functions import broadcast

    d = load_table(spark, sf_dir, "documents")
    tok = d.select("doc_id", "lang", F.explode(F.split("text", " ")).alias("t"))
    raw_c = tok.groupBy("t").agg(F.count(F.lit(1)).alias("c_raw"))
    tgt_c = (
        tok.filter(F.col("lang") == DSIR_TARGET_LANG)
        .groupBy("t")
        .agg(F.count(F.lit(1)).alias("c_tgt"))
    )
    vocab = raw_c.join(tgt_c, "t", "left").select(
        "t", "c_raw", F.coalesce("c_tgt", F.lit(0)).alias("c_tgt")
    )
    tot = vocab.agg(
        F.sum("c_raw").cast("double").alias("n_raw"),
        F.sum("c_tgt").cast("double").alias("n_tgt"),
        F.count(F.lit(1)).cast("double").alias("v"),
    )
    p_tgt = (F.col("c_tgt") + 1.0) / (F.col("n_tgt") + F.col("v"))
    p_raw = (F.col("c_raw") + 1.0) / (F.col("n_raw") + F.col("v"))
    lr = vocab.crossJoin(broadcast(tot)).select(
        "t", F.round(F.log(p_tgt / p_raw), 6).alias("llr")
    )
    return (
        tok.join(broadcast(lr), "t")
        .groupBy("doc_id")
        .agg(
            F.sum(F.col("llr").cast("decimal(18,6)")).cast("double").alias("sum_llr"),
            F.count(F.lit(1)).alias("n_tokens"),
        )
    )


# CTE chain shared by the deterministic top-k face and the Gumbel
# resampling face: ends at `scored` (doc_id, sum_llr, n_tokens).
_SQL_DSIR_SCORED = f"""
    WITH tok AS (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS t
                 FROM documents),
    raw_c AS (SELECT t, COUNT(*) AS c_raw FROM tok GROUP BY t),
    tgt_c AS (SELECT t, COUNT(*) AS c_tgt FROM tok
              WHERE lang = '{DSIR_TARGET_LANG}' GROUP BY t),
    vocab AS (SELECT r.t, r.c_raw, COALESCE(g.c_tgt, 0) AS c_tgt
              FROM raw_c r LEFT JOIN tgt_c g ON r.t = g.t),
    tot AS (SELECT CAST(SUM(c_raw) AS DOUBLE) AS n_raw,
                   CAST(SUM(c_tgt) AS DOUBLE) AS n_tgt,
                   CAST(COUNT(*) AS DOUBLE) AS v
            FROM vocab),
    lr AS (SELECT t,
                  ROUND(LN(((c_tgt + 1.0) / (n_tgt + v)) /
                           ((c_raw + 1.0) / (n_raw + v))), 6) AS llr
           FROM vocab CROSS JOIN tot),
    scored AS (
      SELECT tok.doc_id,
             CAST(SUM(CAST(lr.llr AS DECIMAL(18,6))) AS DOUBLE) AS sum_llr,
             COUNT(*) AS n_tokens
      FROM tok JOIN lr ON tok.t = lr.t GROUP BY tok.doc_id)"""


@register(
    "curation_dsir_topk",
    _SQL_DSIR_SCORED
    + f"""
    SELECT doc_id, ROUND(sum_llr / n_tokens, 6) AS dsir_score, n_tokens
    FROM scored ORDER BY dsir_score DESC, doc_id LIMIT {DSIR_TOPK}
    """,
    doc=(
        f"DSIR importance selection: per-token log-likelihood ratio between a "
        f"'{DSIR_TARGET_LANG}'-target unigram LM and the raw-corpus LM "
        f"(Laplace-smoothed), mean per doc, top-{DSIR_TOPK}."
    ),
)
def curation_dsir_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data Selection via Importance Resampling (Xie et al. 2023), the
    hashed-n-gram variant collapsed to unigrams: score(doc) = mean over
    tokens of ln(p_target(t) / p_raw(t)), both Laplace-smoothed, and keep
    the top-k highest-scoring documents — the standard cheap way to skim
    target-domain-looking data out of a raw crawl.

    Scale shape: both LMs are vocabulary-sized aggregates (two token-keyed
    shuffles whose OUTPUT is |V| rows); the per-token log-ratio table is
    broadcast, so scoring the corpus is a narrow map + one doc_id-keyed
    partial agg — the token stream itself never shuffles. Per-token ratios
    are rounded then summed in exact DECIMAL (order-independent); the one
    mean division is pinned at the end (driver hash contract)."""
    return (
        _dsir_scored_df(spark, sf_dir).select(
            "doc_id",
            F.round(F.col("sum_llr") / F.col("n_tokens"), 6).alias("dsir_score"),
            "n_tokens",
        )
        .orderBy(F.col("dsir_score").desc(), "doc_id")
        .limit(DSIR_TOPK)
    )


# --- embedding-space diversification -----------------------------------------

DIVERSIFY_KEEP = 5


@register(
    "curation_embedding_diversify",
    f"""
    WITH ex AS (SELECT label, unnest(embedding) AS x,
                       generate_subscripts(embedding, 1) AS i
                FROM embeddings),
    cent AS (SELECT label, i,
                    CAST(SUM(CAST(x AS DECIMAL(20,10))) AS DOUBLE) / COUNT(*) AS v
             FROM ex GROUP BY label, i),
    cvecs AS (SELECT label, list(v ORDER BY i) AS cvec FROM cent GROUP BY label),
    scored AS (
      SELECT e.vec_id, e.label,
             ROUND((list_aggregate(list_transform(list_zip(e.embedding, c.cvec),
                      p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)), 'sum') /
                    (SQRT(list_aggregate(list_transform(e.embedding,
                       x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum'))
                     * SQRT(list_aggregate(list_transform(c.cvec,
                         x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum')))), 6)
               AS cos_centroid
      FROM embeddings e JOIN cvecs c ON c.label = e.label)
    SELECT vec_id, label, cos_centroid, rk FROM (
      SELECT vec_id, label, cos_centroid,
             ROW_NUMBER() OVER (PARTITION BY label
                                ORDER BY cos_centroid ASC, vec_id) AS rk
      FROM scored) WHERE rk <= {DIVERSIFY_KEEP}
    """,
    doc=(
        f"Diversity-preserving selection: per semantic cluster, the "
        f"{DIVERSIFY_KEEP} members FARTHEST from their own centroid "
        "(lowest cosine) — the D4-style anti-redundancy pick."
    ),
)
def curation_embedding_diversify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-balanced diversification (the D4 recipe's second leg, after
    SemDeDup removes near-identical cores): within each semantic cluster,
    keep the members least similar to the cluster centroid — the
    periphery that carries the cluster's diversity — capped per cluster
    so no cluster dominates the kept set.

    Scale shape: centroids are exact-DECIMAL per-(label, dim) means — a
    (K·dim)-row shuffle, the same state size as the k-means face; the
    K centroid vectors broadcast; scoring is a narrow map over the
    embedding scan and only the per-cluster window (bounded by cell
    occupancy, not corpus size) ranks the members."""
    from pyspark.sql.functions import broadcast

    from trike_spark.queries.vectors import cosine

    emb = load_table(spark, sf_dir, "embeddings")
    ex = emb.select("label", F.posexplode("embedding").alias("i", "x"))
    cent = ex.groupBy("label", "i").agg(
        (
            F.sum(F.col("x").cast("decimal(20,10)")).cast("double")
            / F.count(F.lit(1))
        ).alias("v")
    )
    cvecs = (
        cent.groupBy("label")
        .agg(F.array_sort(F.collect_list(F.struct("i", "v"))).alias("iv"))
        .select("label", F.transform("iv", lambda e: e["v"]).alias("cvec"))
    )
    scored = emb.join(broadcast(cvecs), "label").select(
        "vec_id",
        "label",
        F.round(cosine(F.col("embedding"), F.col("cvec")), 6).alias("cos_centroid"),
    )
    w = Window.partitionBy("label").orderBy(F.col("cos_centroid").asc(), F.col("vec_id"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= DIVERSIFY_KEEP)
        .select("vec_id", "label", "cos_centroid", "rk")
    )


# --- DSIR Gumbel-top-k resampling --------------------------------------------

DSIR_SAMPLE_K = 20
_H60_RANGE = float(1 << 60)


@register(
    "curation_dsir_gumbel_sample",
    _SQL_DSIR_SCORED
    + f""",
    keyed AS (
      SELECT doc_id,
             ROUND(sum_llr / n_tokens, 6) AS dsir_score,
             ROUND(-LN(-LN((CAST({_sql_h60("CAST(doc_id AS VARCHAR)")} AS DOUBLE) + 0.5)
                           / {_H60_RANGE})), 6) AS gumbel
      FROM scored)
    SELECT doc_id, dsir_score, gumbel,
           ROUND(dsir_score + gumbel, 6) AS sample_key
    FROM keyed
    ORDER BY sample_key DESC, doc_id LIMIT {DSIR_SAMPLE_K}
    """,
    doc=(
        f"DSIR resampling proper: Gumbel-top-{DSIR_SAMPLE_K} over the "
        "importance scores (sample ∝ exp(score) without replacement), "
        "noise derived from the md5 draw so the sample is replay-stable."
    ),
)
def curation_dsir_gumbel_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The RESAMPLING step the DSIR paper actually prescribes (top-k
    selection over-concentrates on one mode; sampling ∝ exp(score)
    preserves diversity): the Gumbel-top-k trick — add g = -ln(-ln(u)) to
    each score and take the k largest keys, which is exactly a weighted
    sample without replacement. u comes from the md5 draw on doc_id, so
    unlike rand()-based sampling the selected set survives replays,
    repartitioning, and speculative re-execution bit-for-bit.

    Scale shape: identical to the top-k face (shared scoring plan) plus a
    narrow per-row key computation; the final top-k is
    TakeOrderedAndProject."""
    scored = _dsir_scored_df(spark, sf_dir)
    u = (_h60(F.col("doc_id").cast("string")).cast("double") + 0.5) / F.lit(_H60_RANGE)
    return (
        scored.select(
            "doc_id",
            F.round(F.col("sum_llr") / F.col("n_tokens"), 6).alias("dsir_score"),
            F.round(-F.log(-F.log(u)), 6).alias("gumbel"),
        )
        .select(
            "doc_id",
            "dsir_score",
            "gumbel",
            F.round(F.col("dsir_score") + F.col("gumbel"), 6).alias("sample_key"),
        )
        .orderBy(F.col("sample_key").desc(), "doc_id")
        .limit(DSIR_SAMPLE_K)
    )


# --- survivorship (golden record) merge --------------------------------------


@register(
    "curation_dedup_survivorship",
    _SQL_JACCARD_PAIRS
    + """,
    nodes AS (SELECT DISTINCT doc FROM
              (SELECT doc_a AS doc FROM pairs UNION ALL SELECT doc_b FROM pairs)),
    edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
              UNION ALL SELECT doc_b, doc_a FROM pairs),
    reach AS (
      WITH RECURSIVE r(doc, lbl) AS (
        SELECT doc, doc FROM nodes
        UNION
        SELECT e.dst, r.lbl FROM r JOIN edges e ON e.src = r.doc)
      SELECT doc, MIN(lbl) AS canonical_id FROM r GROUP BY doc)
    SELECT r.canonical_id,
           MIN(d.doc_id) AS survivor_doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_merged,
           string_agg(DISTINCT d.source, ',' ORDER BY d.source) AS sources,
           string_agg(DISTINCT d.lang, ',' ORDER BY d.lang) AS langs,
           MAX(d.n_chars) AS max_chars
    FROM reach r JOIN documents d ON d.doc_id = r.doc
    GROUP BY r.canonical_id
    HAVING COUNT(*) > 1
    """,
    doc=(
        "Survivorship merge over near-dup clusters: each cluster collapses "
        "to a golden record keeping min doc_id, the union of sources/langs "
        "seen across its members, and the max length."
    ),
)
def curation_dedup_survivorship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup's second half: dropping duplicates loses their metadata — the
    survivor should carry the UNION of where its copies were seen (source
    attribution drives mixture weights and licensing audits; max length
    picks the least-truncated copy). Keyed on the near-dup CLUSTER (CC
    over the exact-Jaccard pair graph) because this corpus, like most
    crawls post-normalization, has few byte-exact copies but real
    near-dup families.

    Scale shape: composes the audited pair + CC chain; the merge itself
    is one cluster-keyed aggregation over the clustered docs only (pair
    participants, a small fraction of the corpus), with sorted-distinct
    list merges (collect_set is arrival-ordered; sort_array restores the
    canonical form — the string_agg determinism rule)."""
    from trike_spark.operators.graph import connected_components
    from trike_spark.queries.dedup import dedup_ngram_jaccard_pairs

    pairs = dedup_ngram_jaccard_pairs(spark, sf_dir).select("doc_a", "doc_b")
    labels = connected_components(pairs, src="doc_a", dst="doc_b")
    d = load_table(spark, sf_dir, "documents")
    return (
        d.join(labels, d["doc_id"] == labels["node"])
        .groupBy(F.col("lbl").alias("canonical_id"))
        .agg(
            F.min("doc_id").alias("survivor_doc_id"),
            F.count(F.lit(1)).cast("bigint").alias("n_merged"),
            F.array_join(F.sort_array(F.collect_set("source")), ",").alias("sources"),
            F.array_join(F.sort_array(F.collect_set("lang")), ",").alias("langs"),
            F.max("n_chars").alias("max_chars"),
        )
        .filter(F.col("n_merged") > 1)
    )


@register(
    "curation_quality_lr_score",
    f"""
    WITH t AS (
      SELECT doc_id, lang,
             len(string_split(text, ' ')) AS n_tokens,
             list_sum(list_transform(string_split(text, ' '),
               tok -> ({_sql_h60('tok')} % 1024) % 13 - 6)) AS w_sum
      FROM documents)
    SELECT doc_id, lang, n_tokens,
           ROUND(CAST(w_sum AS DOUBLE) / (10.0 * n_tokens), 6) AS logit,
           (w_sum > 0) AS keep
    FROM t
    """,
    doc=(
        "Hashed-feature linear quality scorer (fastText-style): md5 token "
        "buckets -> fixed integer weights -> per-doc mean logit + keep flag, "
        "entirely JVM-side with zero shuffles."
    ),
)
def curation_quality_lr_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The shape of a learned quality filter (hash tokens into a small
    weight table, average the weights, threshold) with deterministic
    stand-in weights: bucket = md5_60(token) % 1024, weight 10× an
    integer in [-6, 6] derived from the bucket. A real model would
    broadcast its weight vector; the execution shape is identical.

    Engine notes: the whole scorer is ONE narrow projection —
    split → transform (per-token bucket+weight) → aggregate (BIGINT fold)
    — no explode, no shuffle, no Python. Integer weight sums are
    order-independent, and the single final division is a pinned double
    expression, so the oracle hash matches exactly. At 100 TB this is
    scan-speed document scoring, the cheapest possible quality gate."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    weights = F.transform(
        toks,
        lambda t: (
            F.conv(F.substring(F.md5(t), 1, 15), 16, 10).cast("bigint") % 1024
        ) % 13 - 6,
    )
    w_sum = F.aggregate(weights, F.lit(0).cast("bigint"), lambda acc, x: acc + x)
    return d.select(
        "doc_id",
        "lang",
        F.size(toks).alias("n_tokens"),
        F.round(w_sum.cast("double") / (F.lit(10.0) * F.size(toks)), 6).alias("logit"),
        (w_sum > 0).alias("keep"),
    )


@register(
    "curation_winsorized_stats",
    """
    WITH cuts AS (
      SELECT lang,
             quantile_cont(n_chars, 0.05) AS p05,
             quantile_cont(n_chars, 0.95) AS p95
      FROM documents GROUP BY lang),
    clamped AS (
      SELECT d.lang,
             CAST(d.n_chars AS DOUBLE) AS raw,
             ROUND(CASE WHEN d.n_chars < c.p05 THEN c.p05
                        WHEN d.n_chars > c.p95 THEN c.p95
                        ELSE CAST(d.n_chars AS DOUBLE) END, 6) AS w
      FROM documents d JOIN cuts c ON c.lang = d.lang)
    SELECT lang, COUNT(*) AS n_docs,
           ROUND(CAST(SUM(CAST(raw AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*), 6)
             AS raw_mean,
           ROUND(CAST(SUM(CAST(w AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*), 6)
             AS winsorized_mean,
           CAST(SUM(CASE WHEN w <> raw THEN 1 ELSE 0 END) AS BIGINT) AS n_clamped
    FROM clamped GROUP BY lang
    """,
    doc=(
        "Winsorized per-language length stats: clamp n_chars to the exact "
        "[p05, p95] band, compare robust vs raw mean — the outlier-"
        "resistant corpus-shape report."
    ),
)
def curation_winsorized_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorization, the data-cleaning middle ground between trusting
    outliers and dropping them: values outside the exact per-language
    [p05, p95] band are clamped to the boundary, so a handful of
    megadocuments can't drag the mean a quality threshold is tuned on.
    The raw-vs-winsorized gap plus the clamp count IS the outlier report.

    Determinism: exact interpolated percentiles (Spark ``percentile`` ↔
    DuckDB ``quantile_cont``, bit-identical); clamped values rounded to 6
    then DECIMAL-summed so the mean folds order-independently. Scale
    shape: one |langs|-row percentile pass broadcast back onto the scan,
    one grouped rollup — the clamp itself is a narrow map."""
    from pyspark.sql.functions import broadcast

    d = load_table(spark, sf_dir, "documents")
    cuts = d.groupBy("lang").agg(
        F.expr("percentile(n_chars, 0.05)").alias("p05"),
        F.expr("percentile(n_chars, 0.95)").alias("p95"),
    )
    raw = F.col("n_chars").cast("double")
    w = F.round(
        F.when(F.col("n_chars") < F.col("p05"), F.col("p05"))
        .when(F.col("n_chars") > F.col("p95"), F.col("p95"))
        .otherwise(raw),
        6,
    )
    clamped = d.join(broadcast(cuts), "lang").select(
        "lang", raw.alias("raw"), w.alias("w")
    )
    return clamped.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(
            F.sum(F.col("raw").cast("decimal(18,6)")).cast("double") / F.count(F.lit(1)), 6
        ).alias("raw_mean"),
        F.round(
            F.sum(F.col("w").cast("decimal(18,6)")).cast("double") / F.count(F.lit(1)), 6
        ).alias("winsorized_mean"),
        F.sum(F.when(F.col("w") != F.col("raw"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_clamped"),
    )


def _sql_diversify() -> str:
    from trike_spark.registry import REGISTRY

    return REGISTRY["curation_embedding_diversify"].oracle


_SQL_COV_COS = (
    "ROUND(list_aggregate(list_transform(list_zip(c.embedding, s.embedding), "
    "p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)), 'sum') / "
    "(SQRT(list_aggregate(list_transform(c.embedding, "
    "x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum')) * "
    "SQRT(list_aggregate(list_transform(s.embedding, "
    "x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum'))), 6)"
)


@register(
    "curation_diversify_coverage",
    f"""
    WITH sel AS (
      SELECT e.vec_id, e.embedding
      FROM ({_sql_diversify()}) d JOIN embeddings e ON e.vec_id = d.vec_id),
    cov AS (
      SELECT c.vec_id, c.label, MAX({_SQL_COV_COS}) AS coverage
      FROM embeddings c CROSS JOIN sel s
      GROUP BY c.vec_id, c.label)
    SELECT label, COUNT(*) AS n_members,
           ROUND(CAST(SUM(CAST(coverage AS DECIMAL(18,6))) AS DOUBLE)
                 / COUNT(*), 6) AS mean_coverage,
           MIN(coverage) AS min_coverage
    FROM cov GROUP BY label
    """,
    doc=(
        "Facility-location coverage of the diversified coreset: per "
        "cluster, the mean and worst max-similarity of members to the "
        "selected set — the measure-the-curation gate for diversification."
    ),
)
def curation_diversify_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The evaluation the diversify face needs (the same measure-before-
    you-trust discipline as recall@k for ANN): facility-location
    coverage f(S) = mean over the corpus of max-similarity to the kept
    set S. High mean = the coreset represents the corpus; a low MIN
    exposes the uncovered pocket a cluster-capped selection can leave.
    Selecting FOR this objective greedily is the k-center/facility
    route — measuring it is how you'd justify that extra work.

    Scale shape: |S| is cluster-capped (≤5·K vectors), so the coverage
    pass is a broadcast of S against one corpus scan — candidates scale
    with |corpus|·|S|, the same budget the brute-force query faces pay;
    per-vector max then a |labels|-row rollup. Coverages are rounded-6
    then DECIMAL-summed for the mean (order-free)."""
    from pyspark.sql.functions import broadcast

    from trike_spark.queries.vectors import cosine

    emb = load_table(spark, sf_dir, "embeddings")
    sel = (
        curation_embedding_diversify(spark, sf_dir)
        .select("vec_id")
        .join(emb.select("vec_id", F.col("embedding").alias("s_emb")), "vec_id")
        .select(F.col("s_emb"))
    )
    cov = (
        emb.crossJoin(broadcast(sel))
        .select(
            "vec_id",
            "label",
            F.round(cosine(F.col("embedding"), F.col("s_emb")), 6).alias("cos"),
        )
        .groupBy("vec_id", "label")
        .agg(F.max("cos").alias("coverage"))
    )
    return cov.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_members"),
        F.round(
            F.sum(F.col("coverage").cast("decimal(18,6)")).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("mean_coverage"),
        F.min("coverage").alias("min_coverage"),
    )


@register(
    "curation_oversample_balance",
    """
    WITH counts AS (
      SELECT lang, COUNT(*) AS n FROM documents GROUP BY lang),
    mx AS (SELECT MAX(n) AS max_n FROM counts),
    factors AS (
      SELECT c.lang, c.n, CAST(m.max_n // c.n AS INT) AS rep
      FROM counts c CROSS JOIN mx m),
    expanded AS (
      SELECT d.lang, f.rep
      FROM documents d
      JOIN factors f ON f.lang = d.lang
      CROSS JOIN (SELECT unnest(generate_series(1, 1000)) AS i) g
      WHERE g.i <= f.rep)
    SELECT f.lang, CAST(f.n AS BIGINT) AS n_before, f.rep,
           CAST((SELECT COUNT(*) FROM expanded e WHERE e.lang = f.lang) AS BIGINT)
             AS n_after
    FROM factors f
    """,
    doc=(
        "Class-balancing oversampling: minority languages replicated by "
        "floor(max/n) — deterministic integer factors, counts before and "
        "after; the epoch-weighting move for skewed training mixes."
    ),
)
def curation_oversample_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integer oversampling toward the majority class: each language's
    documents repeat floor(max_n/n) times — the 'see minority data more
    epochs' recipe (Llama-style mixture up-weighting uses fractional
    epochs; the integer floor is its deterministic batch form, and the
    temperature-mix face is the probabilistic alternative). The face
    reports the replication factors and the materialized post-balance
    counts — n_after/n_before = rep exactly, which the hash proves.

    Scale shape: replication is explode(sequence(1, rep)) — a narrow
    1:rep expansion with NO shuffle (the expanded rows inherit their
    input partition); factors are a |langs|-row broadcast. At 100 TB
    you'd write the expanded set partitioned by epoch slice instead of
    counting it, same plan."""
    from pyspark.sql.functions import broadcast

    d = load_table(spark, sf_dir, "documents")
    counts = d.groupBy("lang").agg(F.count(F.lit(1)).alias("n"))
    mx = counts.agg(F.max("n").alias("max_n"))
    factors = counts.crossJoin(broadcast(mx)).select(
        "lang", "n", F.floor(F.col("max_n") / F.col("n")).cast("int").alias("rep")
    )
    expanded = (
        d.select("lang")
        .join(broadcast(factors), "lang")
        .select("lang", F.explode(F.sequence(F.lit(1), F.col("rep"))).alias("i"))
    )
    after = expanded.groupBy("lang").agg(F.count(F.lit(1)).alias("n_after"))
    return factors.join(after, "lang").select(
        "lang",
        F.col("n").cast("bigint").alias("n_before"),
        "rep",
        F.col("n_after").cast("bigint").alias("n_after"),
    )


PSI_BUCKETS = 8


@register(
    "curation_psi_drift",
    f"""
    WITH cuts AS (
      SELECT {', '.join(f'quantile_cont(n_chars, {(i + 1) / 8}) AS c{i}' for i in range(7))}
      FROM documents),
    tagged AS (
      SELECT CASE WHEN {_sql_draw('doc_id')} < 50 THEN 'a' ELSE 'b' END AS half,
             CASE WHEN n_chars <= c0 THEN 0 WHEN n_chars <= c1 THEN 1
                  WHEN n_chars <= c2 THEN 2 WHEN n_chars <= c3 THEN 3
                  WHEN n_chars <= c4 THEN 4 WHEN n_chars <= c5 THEN 5
                  WHEN n_chars <= c6 THEN 6 ELSE 7 END AS bucket
      FROM documents CROSS JOIN cuts),
    dist AS (
      SELECT bucket,
             CAST(SUM(CASE WHEN half = 'a' THEN 1 ELSE 0 END) AS DOUBLE) AS na,
             CAST(SUM(CASE WHEN half = 'b' THEN 1 ELSE 0 END) AS DOUBLE) AS nb
      FROM tagged GROUP BY bucket),
    tot AS (SELECT SUM(na) AS ta, SUM(nb) AS tb FROM dist),
    terms AS (
      SELECT d.bucket, d.na, d.nb,
             ROUND(((d.na + 0.5) / (t.ta + 4.0) - (d.nb + 0.5) / (t.tb + 4.0))
                   * LN(((d.na + 0.5) / (t.ta + 4.0))
                        / ((d.nb + 0.5) / (t.tb + 4.0))), 8) AS term
      FROM dist d CROSS JOIN tot t)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_buckets,
           CAST(SUM(CAST(na AS BIGINT)) AS BIGINT) AS n_a,
           CAST(SUM(CAST(nb AS BIGINT)) AS BIGINT) AS n_b,
           ROUND(CAST(SUM(CAST(term AS DECIMAL(18,8))) AS DOUBLE), 6) AS psi
    FROM terms
    """,
    doc=(
        "Population stability index between two deterministic corpus "
        "halves over octile length buckets (smoothed, DECIMAL-folded) — "
        "the standard drift alarm, here wired as an A/A so near-zero PSI "
        "is itself the plumbing check."
    ),
)
def curation_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PSI, the industry drift metric (< 0.1 stable, 0.1–0.25 watch,
    > 0.25 act): symmetric KL-style divergence between two populations'
    bucket shares. Buckets are corpus octiles of n_chars (fixed
    cutpoints from exact percentiles, so both populations are measured
    against the SAME grid — the mistake PSI implementations make is
    re-bucketing each side); shares are Laplace-smoothed so an empty
    bucket can't produce ln(0). Split here is the md5 A/A — near-zero
    PSI proves the harness; in production side B is the new batch and
    side A the reference window.

    Determinism: per-bucket terms are single pinned expressions rounded
    then DECIMAL-summed (8 terms, order-free). Scale shape: one
    percentile pass, one bucketed rollup with map-side combine, 1-row
    output."""
    from pyspark.sql.functions import broadcast

    d = load_table(spark, sf_dir, "documents")
    cuts = d.agg(
        *[
            F.expr(f"percentile(n_chars, {(i + 1) / 8})").alias(f"c{i}")
            for i in range(7)
        ]
    )
    bucket = F.when(F.col("n_chars") <= F.col("c0"), 0)
    for i in range(1, 7):
        bucket = bucket.when(F.col("n_chars") <= F.col(f"c{i}"), i)
    bucket = bucket.otherwise(7)
    tagged = d.crossJoin(broadcast(cuts)).select(
        F.when(_draw(F.col("doc_id")) < 50, "a").otherwise("b").alias("half"),
        bucket.alias("bucket"),
    )
    dist = tagged.groupBy("bucket").agg(
        F.sum(F.when(F.col("half") == "a", 1).otherwise(0))
        .cast("double")
        .alias("na"),
        F.sum(F.when(F.col("half") == "b", 1).otherwise(0))
        .cast("double")
        .alias("nb"),
    )
    tot = dist.agg(F.sum("na").alias("ta"), F.sum("nb").alias("tb"))
    pa = (F.col("na") + 0.5) / (F.col("ta") + 4.0)
    pb = (F.col("nb") + 0.5) / (F.col("tb") + 4.0)
    terms = dist.crossJoin(broadcast(tot)).select(
        "na", "nb", F.round((pa - pb) * F.log(pa / pb), 8).alias("term")
    )
    return terms.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_buckets"),
        F.sum(F.col("na").cast("bigint")).cast("bigint").alias("n_a"),
        F.sum(F.col("nb").cast("bigint")).cast("bigint").alias("n_b"),
        F.round(F.sum(F.col("term").cast("decimal(18,8)")).cast("double"), 6).alias(
            "psi"
        ),
    )


# --- IPF raking (reweight to target marginals) ------------------------------------

IPF_ROUNDS = 2


def _sql_ipf_step(prev: str, out: str, margin: str, denom: str) -> str:
    """One IPF proportional-fitting step on the {margin} marginal."""
    return f"""
    {out} AS (
      SELECT lang, source, n, nl, ns,
             CAST(ROUND(
               CAST(w AS DOUBLE)
               * (CAST(SUM(n * w) OVER () AS DOUBLE)
                  / ({denom} * CAST(SUM(n * w) OVER (PARTITION BY {margin})
                               AS DOUBLE))),
               12) AS DECIMAL(18,12)) AS w
      FROM {prev})
    """


def _ipf_sql_chain() -> str:
    steps = []
    prev = "w0"
    for r in range(IPF_ROUNDS):
        steps.append(_sql_ipf_step(prev, f"l{r}", "lang", "nl"))
        steps.append(_sql_ipf_step(f"l{r}", f"s{r}", "source", "ns"))
        prev = f"s{r}"
    return ",".join(steps)


@register(
    "curation_raking_ipf",
    f"""
    WITH cell AS (
      SELECT lang, source, CAST(COUNT(*) AS DECIMAL(10,0)) AS n
      FROM documents GROUP BY lang, source),
    t AS (SELECT CAST(COUNT(DISTINCT lang) AS DOUBLE) AS nl,
                 CAST(COUNT(DISTINCT source) AS DOUBLE) AS ns
          FROM documents),
    w0 AS (SELECT lang, source, n, nl, ns,
                  CAST(1 AS DECIMAL(18,12)) AS w
           FROM cell CROSS JOIN t),
    {_ipf_sql_chain()}
    SELECT lang, source, CAST(n AS BIGINT) AS n_docs,
           ROUND(CAST(w AS DOUBLE), 8) AS weight,
           ROUND(CAST(SUM(n * w) OVER (PARTITION BY lang) AS DOUBLE)
                 / CAST(SUM(n * w) OVER () AS DOUBLE), 6) AS lang_share,
           ROUND(CAST(SUM(n * w) OVER (PARTITION BY source) AS DOUBLE)
                 / CAST(SUM(n * w) OVER () AS DOUBLE), 6) AS source_share
    FROM s{IPF_ROUNDS - 1}
    """,
    doc=(
        f"IPF raking ({IPF_ROUNDS} rounds): per-(lang, source) sampling "
        "weights fitted so BOTH marginals match uniform targets — the "
        "survey-statistics reweighting that turns an as-crawled mix into "
        "a target mix without dropping data."
    ),
)
def curation_raking_ipf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iterative proportional fitting (Deming–Stephan raking): alternately
    scale cell weights so the language marginal, then the source
    marginal, matches its target; converges geometrically to the
    max-entropy reweighting consistent with both. The curation reading:
    the mixture-reweight face fixes ONE dimension, but a real corpus has
    a lang × source grid whose both margins drift — raking fits them
    JOINTLY from cell counts alone, emitting per-cell sampling weights
    the temperature/quota samplers consume directly.

    Determinism: cell counts are exact; each step's weights quantize to
    DECIMAL(18,12) before the next step's marginal sums, so every
    window SUM folds exact decimals (order-free) and every division is
    one pinned double expression — the iterative fit hash-matches the
    unrolled oracle.

    Scale shape: after ONE map-side-combined groupBy over the corpus,
    everything operates on the |langs|·|sources| cell table (~10² rows)
    — windows, steps, and the final report are dimension-sized; rounds
    add plan depth on kilobytes, never another corpus pass."""
    d = load_table(spark, sf_dir, "documents")
    cell = d.groupBy("lang", "source").agg(
        F.count(F.lit(1)).cast("decimal(10,0)").alias("n")
    )
    t = d.agg(
        F.count_distinct("lang").cast("double").alias("nl"),
        F.count_distinct("source").cast("double").alias("ns"),
    )
    cur = cell.crossJoin(F.broadcast(t)).withColumn(
        "w", F.lit(1).cast("decimal(18,12)")
    )
    w_all = Window.partitionBy()
    for margin, denom in [("lang", "nl"), ("source", "ns")] * IPF_ROUNDS:
        w_m = Window.partitionBy(margin)
        ratio = F.sum(F.col("n") * F.col("w")).over(w_all).cast("double") / (
            F.col(denom)
            * F.sum(F.col("n") * F.col("w")).over(w_m).cast("double")
        )
        cur = cur.withColumn(
            "w",
            F.round(F.col("w").cast("double") * ratio, 12).cast(
                "decimal(18,12)"
            ),
        )
    return cur.select(
        "lang",
        "source",
        F.col("n").cast("bigint").alias("n_docs"),
        F.round(F.col("w").cast("double"), 8).alias("weight"),
        F.round(
            F.sum(F.col("n") * F.col("w")).over(Window.partitionBy("lang")).cast("double")
            / F.sum(F.col("n") * F.col("w")).over(w_all).cast("double"),
            6,
        ).alias("lang_share"),
        F.round(
            F.sum(F.col("n") * F.col("w")).over(Window.partitionBy("source")).cast("double")
            / F.sum(F.col("n") * F.col("w")).over(w_all).cast("double"),
            6,
        ).alias("source_share"),
    )


# --- URL canonicalization dedup ----------------------------------------------------

URL_N = 50  # customers emitting variant pairs


@register(
    "curation_url_canonical_dedup",
    f"""
    WITH raw AS (
      SELECT c_custkey,
             'https://' || UPPER(substr(c_mktsegment, 1, 1))
               || LOWER(substr(c_mktsegment, 2)) || '.Example.COM/customer/'
               || CAST(c_custkey AS VARCHAR) || '?b=2&a=1#frag' AS url
      FROM customer WHERE c_custkey <= {URL_N}
      UNION ALL
      SELECT c_custkey,
             'https://' || LOWER(c_mktsegment) || '.example.com/customer/'
               || CAST(c_custkey AS VARCHAR)
               || '/?a=1&utm_source=mail&b=2' AS url
      FROM customer WHERE c_custkey <= {URL_N}),
    parts AS (
      SELECT c_custkey, url,
             LOWER(REGEXP_EXTRACT(url, '^([a-z]+)://', 1)) AS proto,
             LOWER(REGEXP_EXTRACT(url, '://([^:/?#]+)', 1)) AS host,
             REGEXP_REPLACE(REGEXP_EXTRACT(url, '://[^/?#]+(/[^?#]*)', 1),
                            '/$', '') AS path,
             REGEXP_EXTRACT(url, '\\?([^#]*)', 1) AS query
      FROM raw),
    canon AS (
      SELECT c_custkey, url,
             proto || '://' || host || path ||
             CASE WHEN cq = '' THEN '' ELSE '?' || cq END AS canonical_url
      FROM (
        SELECT c_custkey, url, proto, host, path,
               array_to_string(
                 list_sort(list_filter(string_split(query, '&'),
                                       p -> NOT regexp_matches(p, '^utm_'))),
                 '&') AS cq
        FROM parts))
    SELECT canonical_url,
           CAST(COUNT(*) AS BIGINT) AS n_variants,
           MIN(url) AS sample_variant
    FROM canon
    GROUP BY canonical_url
    """,
    doc=(
        "URL canonicalization dedup: lowercase host, strip fragment and "
        "trailing slash, drop utm_* tracking params, sort the query "
        "string — variant spellings of one logical URL collapse to one "
        "canonical key (the crawl-frontier dedup step)."
    ),
)
def curation_url_canonical_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A crawl sees the same logical page under many spellings — case in
    the host, tracking params, param order, trailing slashes, fragments —
    and fetching each spelling wastes the crawl budget and double-counts
    the page in dedup stats. Canonicalization is the cheap fix: normalize
    BEFORE hashing/frontier-keying so the exact-dedup and per-domain
    quota faces key on the logical page. The rules here (lowercase
    scheme+host, strip fragment, strip trailing slash, drop utm_*, sort
    remaining params) are the standard safe subset — aggressive rules
    (dropping ALL params, resolving redirects) trade correctness for
    recall and stay out.

    Determinism: pure string/array expressions (split → filter → sort →
    join) in both engines; variants are synthesized deterministically
    from customer rows (two spellings per logical URL) so the collapse
    2→1 is hash-verified.

    Scale shape: canonicalization is a narrow scan-fused projection — at
    crawl scale it runs at read speed; the collapse is ONE groupBy on the
    canonical key, same cost as exact dedup."""
    c = load_table(spark, sf_dir, "customer").filter(F.col("c_custkey") <= URL_N)
    seg_title = F.concat(
        F.upper(F.substring("c_mktsegment", 1, 1)),
        F.lower(F.expr("substr(c_mktsegment, 2)")),
    )
    v1 = c.select(
        "c_custkey",
        F.concat(
            F.lit("https://"),
            seg_title,
            F.lit(".Example.COM/customer/"),
            F.col("c_custkey").cast("string"),
            F.lit("?b=2&a=1#frag"),
        ).alias("url"),
    )
    v2 = c.select(
        "c_custkey",
        F.concat(
            F.lit("https://"),
            F.lower("c_mktsegment"),
            F.lit(".example.com/customer/"),
            F.col("c_custkey").cast("string"),
            F.lit("/?a=1&utm_source=mail&b=2"),
        ).alias("url"),
    )
    raw = v1.unionAll(v2)
    parts = raw.select(
        "c_custkey",
        "url",
        F.lower(F.regexp_extract("url", r"^([a-z]+)://", 1)).alias("proto"),
        F.lower(F.regexp_extract("url", r"://([^:/?#]+)", 1)).alias("host"),
        F.regexp_replace(
            F.regexp_extract("url", r"://[^/?#]+(/[^?#]*)", 1), r"/$", ""
        ).alias("path"),
        F.regexp_extract("url", r"\?([^#]*)", 1).alias("query"),
    )
    cq = F.array_join(
        F.array_sort(
            F.filter(
                F.split("query", "&"),
                lambda p: ~p.startswith("utm_"),
            )
        ),
        "&",
    )
    canon = parts.select(
        "url",
        F.concat(
            F.col("proto"),
            F.lit("://"),
            F.col("host"),
            F.col("path"),
            F.when(cq == "", "").otherwise(F.concat(F.lit("?"), cq)),
        ).alias("canonical_url"),
    )
    return canon.groupBy("canonical_url").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_variants"),
        F.min("url").alias("sample_variant"),
    )


# --- Neyman optimal sampling allocation ---------------------------------------------

NEYMAN_BUDGET = 1000


@register(
    "curation_neyman_allocation",
    f"""
    WITH per AS (
      SELECT lang,
             CAST(COUNT(*) AS DOUBLE) AS nh,
             CAST(SUM(CAST(n_chars AS DECIMAL(28,4))) AS DOUBLE) AS sx,
             CAST(SUM(CAST(n_chars AS DECIMAL(28,4))
                      * CAST(n_chars AS DECIMAL(28,4))) AS DOUBLE) AS sxx
      FROM documents GROUP BY lang),
    sig AS (
      SELECT lang, nh,
             SQRT(sxx / nh - (sx / nh) * (sx / nh)) AS sigma
      FROM per),
    tot AS (
      SELECT SUM(CAST(ROUND(nh * sigma, 6) AS DECIMAL(28,6))) AS denom,
             SUM(CAST(nh AS DECIMAL(28,6))) AS n_all
      FROM sig)
    SELECT s.lang,
           CAST(s.nh AS BIGINT) AS n_docs,
           ROUND(s.sigma, 4) AS sigma_chars,
           CAST(ROUND({NEYMAN_BUDGET} * s.nh * s.sigma
                      / CAST(t.denom AS DOUBLE), 0) AS BIGINT)
             AS alloc_neyman,
           CAST(ROUND({NEYMAN_BUDGET} * s.nh / CAST(t.n_all AS DOUBLE), 0)
                AS BIGINT) AS alloc_proportional
    FROM sig s CROSS JOIN tot t
    """,
    doc=(
        f"Neyman optimal allocation of a {NEYMAN_BUDGET}-doc annotation "
        "budget across language strata: n_h ∝ N_h·σ_h (size × spread), "
        "beside the proportional allocation it dominates — the "
        "survey-design answer to 'which slices get the labeling budget'."
    ),
)
def curation_neyman_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed labeling/eval budgets are the scarcest resource in a
    training-data pipeline; proportional sampling wastes them on large
    uniform strata. Neyman (1934): variance of the stratified estimator
    is minimized at n_h ∝ N_h·σ_h — big AND internally-diverse strata
    get the annotators, tight strata get almost none regardless of size.
    This face emits both allocations so the trade is a read-off; the
    stratified/quota sampler faces consume the per-stratum counts
    directly.

    Determinism: per-stratum moments fold in exact DECIMAL; σ_h is one
    pinned sqrt; the denominator Σ N_h σ_h quantizes each term to
    DECIMAL(28,6) before the exact fold (order-free); allocations are
    pinned ROUND(…, 0) casts.

    Scale shape: ONE map-side-combined |langs|-row moment aggregation
    over the corpus, then arithmetic on ≤|langs| rows — optimal design
    for free next to any corpus scan."""
    d = load_table(spark, sf_dir, "documents")
    nch = F.col("n_chars").cast("decimal(28,4)")
    per = d.groupBy("lang").agg(
        F.count(F.lit(1)).cast("double").alias("nh"),
        F.sum(nch).cast("double").alias("sx"),
        F.sum(nch * nch).cast("double").alias("sxx"),
    )
    sig = per.select(
        "lang",
        "nh",
        F.sqrt(
            F.col("sxx") / F.col("nh")
            - (F.col("sx") / F.col("nh")) * (F.col("sx") / F.col("nh"))
        ).alias("sigma"),
    )
    tot = sig.agg(
        F.sum(
            F.round(F.col("nh") * F.col("sigma"), 6).cast("decimal(28,6)")
        ).alias("denom"),
        F.sum(F.col("nh").cast("decimal(28,6)")).alias("n_all"),
    )
    return sig.crossJoin(F.broadcast(tot)).select(
        "lang",
        F.col("nh").cast("bigint").alias("n_docs"),
        F.round("sigma", 4).alias("sigma_chars"),
        F.round(
            NEYMAN_BUDGET
            * F.col("nh")
            * F.col("sigma")
            / F.col("denom").cast("double"),
            0,
        )
        .cast("bigint")
        .alias("alloc_neyman"),
        F.round(
            NEYMAN_BUDGET * F.col("nh") / F.col("n_all").cast("double"), 0
        )
        .cast("bigint")
        .alias("alloc_proportional"),
    )


# --- uncertainty sampling (active-learning batch selection) --------------------------

AL_BATCH_K = 40


@register(
    "curation_uncertainty_sample",
    f"""
    WITH t AS (
      SELECT doc_id, lang,
             len(string_split(text, ' ')) AS n_tokens,
             list_sum(list_transform(string_split(text, ' '),
               tok -> ({_sql_h60('tok')} % 1024) % 13 - 6)) AS w_sum
      FROM documents),
    scored AS (
      SELECT doc_id, lang,
             ROUND(CAST(w_sum AS DOUBLE) / (10.0 * n_tokens), 6) AS logit,
             ABS(w_sum) AS dist_num, n_tokens
      FROM t)
    SELECT doc_id, lang, logit,
           ROUND(ABS(logit), 6) AS boundary_distance,
           rk AS al_rank
    FROM (
      SELECT doc_id, lang, logit,
             ROW_NUMBER() OVER (
               ORDER BY CAST(dist_num AS DOUBLE) / n_tokens, doc_id) AS rk
      FROM scored)
    WHERE rk <= {AL_BATCH_K}
    """,
    doc=(
        f"Uncertainty sampling: the {AL_BATCH_K} docs the quality scorer "
        "is LEAST sure about (|logit| closest to the decision boundary) — "
        "the active-learning batch that buys the most model improvement "
        "per label."
    ),
)
def curation_uncertainty_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Labels are the scarce resource (the Neyman face allocates them
    across strata; this one picks the individual DOCUMENTS): random
    labeling mostly confirms what the quality scorer already knows, while
    margin/uncertainty sampling — label the points nearest the decision
    boundary — is the classic active-learning strategy that improves the
    filter fastest per annotation. Scores come from the same hashed-
    feature scorer face, composed unchanged; boundary distance is |logit|
    with the ranking done on the exact integer numerator over tokens
    (|Σw| / n), doc_id tie-break.

    Determinism: the ranking key is an exact-integer ratio evaluated as
    one pinned double; ties break on doc_id; top-K is rank ≤ K.

    Scale shape: the scorer is the audited zero-shuffle projection; the
    only wide operation is a top-K by smallest distance, planned as
    TakeOrderedAndProject (``orderBy(...).limit(K)`` — per-partition
    heads, never a global sort); the rank window that numbers the batch
    runs over the K surviving rows only (the bounded-pool pattern the
    RRF face uses)."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    w_sum = F.aggregate(
        F.transform(toks, lambda t: (_h60(t) % 1024) % 13 - 6),
        F.lit(0).cast("bigint"),
        lambda acc, v: acc + v,
    )
    scored = d.select(
        "doc_id",
        "lang",
        F.size(toks).alias("n_tokens"),
        w_sum.alias("w_sum"),
    ).select(
        "doc_id",
        "lang",
        F.round(F.col("w_sum").cast("double") / (10.0 * F.col("n_tokens")), 6).alias(
            "logit"
        ),
        (F.abs(F.col("w_sum")).cast("double") / F.col("n_tokens")).alias("dist"),
    )
    pool = scored.orderBy(F.col("dist"), "doc_id").limit(AL_BATCH_K)
    w = Window.orderBy(F.col("dist"), "doc_id")
    return (
        pool.withColumn("rk", F.row_number().over(w))
        .select(
            "doc_id",
            "lang",
            "logit",
            F.round(F.abs(F.col("logit")), 6).alias("boundary_distance"),
            F.col("rk").alias("al_rank"),
        )
    )


# --- PII detection + redaction --------------------------------------------------

PII_N = 60  # customers emitting synthetic contact lines
# conservative regex subset that parses identically under Java regex
# (Spark) and RE2-ish DuckDB: no lookarounds, no backrefs
PII_EMAIL_RE = "[a-z0-9]+@[a-z]+\\.com"
PII_PHONE_RE = "\\+1-555-[0-9]{4}"


@register(
    "curation_pii_redact",
    f"""
    WITH raw AS (
      SELECT c_custkey, c_mktsegment,
             'reach rep at user' || CAST(c_custkey AS VARCHAR) || '@example.com'
             || CASE WHEN c_custkey % 2 = 0
                     THEN ' or +1-555-' || lpad(CAST(c_custkey % 10000 AS VARCHAR), 4, '0')
                     ELSE '' END
             || CASE WHEN c_custkey % 5 = 0 THEN ' cc admin@example.com' ELSE '' END
             || ' re ' || c_name AS text
      FROM customer WHERE c_custkey <= {PII_N}),
    scanned AS (
      SELECT c_mktsegment,
             len(regexp_extract_all(text, '{PII_EMAIL_RE}')) AS n_emails,
             len(regexp_extract_all(text, '{PII_PHONE_RE}')) AS n_phones,
             regexp_replace(regexp_replace(text, '{PII_EMAIL_RE}', '[EMAIL]', 'g'),
                            '{PII_PHONE_RE}', '[PHONE]', 'g') AS redacted
      FROM raw)
    SELECT c_mktsegment AS segment,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_emails) AS BIGINT) AS emails_found,
           CAST(SUM(n_phones) AS BIGINT) AS phones_found,
           CAST(SUM(CASE WHEN regexp_matches(redacted, '{PII_EMAIL_RE}')
                           OR regexp_matches(redacted, '{PII_PHONE_RE}')
                    THEN 1 ELSE 0 END) AS BIGINT) AS residual_pii,
           MIN(redacted) AS sample_redacted
    FROM scanned GROUP BY 1
    """,
    doc=(
        "PII detect + redact report: per segment, emails/phones found by "
        "the regex scanners, a sample redacted line, and the residual-PII "
        "audit column (re-scan of the redacted text — must be 0) that "
        "makes the scrub self-verifying."
    ),
)
def curation_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The privacy scrub every training-data pipeline runs before text
    leaves the raw zone: detect contact-information spans, replace them
    with typed placeholders, and — the part reviews actually care about —
    RE-SCAN the redacted output so the report carries its own proof that
    nothing survived (``residual_pii`` must read 0; a regex that loses a
    corner case shows up as a nonzero audit cell, not a silent leak).
    Synthetic contact lines are manufactured deterministically from
    customer rows (emails always, phones on even keys, a cc on every
    fifth) because the synthetic corpus carries no real PII — the
    OPERATOR under test is the scan/replace/re-scan pipeline, the same
    pattern as the URL-canonicalization face. Completes the privacy
    family: k-anonymity audit (group sizes), DP release (noisy counts),
    pseudonymization (key replacement), redaction (span replacement).

    Determinism: a conservative regex subset (no lookarounds, no
    backrefs) parses identically under Java regex and DuckDB's RE2;
    counts are exact integers; the sample line is a MIN over strings.

    Scale shape: detection and redaction are narrow scan-fused string
    expressions (regexp_extract_all / regexp_replace run at read speed,
    whole-stage codegen); the report is one tiny keyed rollup — at
    100 TB the scrub costs exactly one pass, which is why it rides the
    ingest scan rather than running as its own job."""
    c = load_table(spark, sf_dir, "customer").filter(F.col("c_custkey") <= PII_N)
    phone_part = F.when(
        F.col("c_custkey") % 2 == 0,
        F.concat(
            F.lit(" or +1-555-"),
            F.lpad((F.col("c_custkey") % 10000).cast("string"), 4, "0"),
        ),
    ).otherwise(F.lit(""))
    cc_part = F.when(
        F.col("c_custkey") % 5 == 0, F.lit(" cc admin@example.com")
    ).otherwise(F.lit(""))
    text = F.concat(
        F.lit("reach rep at user"),
        F.col("c_custkey").cast("string"),
        F.lit("@example.com"),
        phone_part,
        cc_part,
        F.lit(" re "),
        F.col("c_name"),
    )
    email, phone = F.lit(PII_EMAIL_RE), F.lit(PII_PHONE_RE)
    scanned = c.select(
        "c_mktsegment",
        F.size(F.regexp_extract_all(text, email, F.lit(0))).alias("n_emails"),
        F.size(F.regexp_extract_all(text, phone, F.lit(0))).alias("n_phones"),
        F.regexp_replace(
            F.regexp_replace(text, email, F.lit("[EMAIL]")), phone, F.lit("[PHONE]")
        ).alias("redacted"),
    )
    residual = (
        F.when(
            F.regexp_like(F.col("redacted"), email)
            | F.regexp_like(F.col("redacted"), phone),
            1,
        )
        .otherwise(0)
    )
    return scanned.groupBy(F.col("c_mktsegment").alias("segment")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_emails").cast("bigint").alias("emails_found"),
        F.sum("n_phones").cast("bigint").alias("phones_found"),
        F.sum(residual).cast("bigint").alias("residual_pii"),
        F.min("redacted").alias("sample_redacted"),
    )


# --- epoch shuffle + token-budget selection ------------------------------------

EPOCH_SEED = "epoch1"  # a new seed per epoch re-permutes the whole corpus
N_EPOCH_SHARDS = 8  # training readers; shard = rank-round-robin
TOKEN_BUDGET = 4000  # whitespace tokens the selection may spend


@register(
    "curation_epoch_shuffle",
    f"""
    WITH keyed AS (
      SELECT doc_id, lang,
             md5(CONCAT('{EPOCH_SEED}:', CAST(doc_id AS VARCHAR))) AS k
      FROM documents),
    ranked AS (
      SELECT doc_id, lang,
             ROW_NUMBER() OVER (ORDER BY k, doc_id) AS rk
      FROM keyed)
    SELECT doc_id, lang,
           CAST(rk AS BIGINT) AS shuffle_rank,
           CAST((rk - 1) % {N_EPOCH_SHARDS} AS BIGINT) AS shard
    FROM ranked
    """,
    doc=(
        "Deterministic epoch shuffle: md5(seed:doc_id) permutation rank "
        "plus round-robin shard assignment — reproducible training-epoch "
        "order with no RNG state."
    ),
)
def curation_epoch_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The training-epoch layout op: every epoch a trainer needs the
    corpus in a fresh, REPRODUCIBLE global random order, split round-robin
    across reader shards. ``md5(seed || ':' || doc_id)`` is that order —
    a keyed permutation any re-run (or the DuckDB oracle) reproduces
    bit-for-bit, with a new seed per epoch re-permuting everything and no
    RNG state to checkpoint.

    Scale shape: the permutation rank is a global ``row_number`` over the
    hash key, which runs BANDED (operators/banded.banded_rank — band =
    the key's first two hex chars, trivially monotone in the key order),
    so ranking a billion documents is 256-way parallel and the only
    unpartitioned window sees the 256-row band-stats table. At 100 TB the
    rank itself is optional — ``io.write_epoch_shards`` is the real
    writer form (one ``repartitionByRange`` on the same key, hash-ranged
    shard partition column; same-seed rewrite proven membership-identical) —
    but the rank is what makes the permutation auditable (and
    driver-hashable) here."""
    from trike_spark.operators.banded import banded_rank

    d = load_table(spark, sf_dir, "documents")
    key = F.md5(F.concat(F.lit(f"{EPOCH_SEED}:"), F.col("doc_id").cast("string")))
    keyed = d.select("doc_id", "lang", key.alias("_k"))
    ranked = banded_rank(
        keyed,
        F.substring(F.col("_k"), 1, 2),
        [F.col("_k"), F.col("doc_id")],
        out="shuffle_rank",
    )
    return ranked.select(
        "doc_id",
        "lang",
        F.col("shuffle_rank").cast("bigint").alias("shuffle_rank"),
        ((F.col("shuffle_rank") - 1) % N_EPOCH_SHARDS).cast("bigint").alias("shard"),
    )


@register(
    "curation_token_budget_select",
    f"""
    WITH scored AS (
      SELECT doc_id, lang,
             len(string_split(text, ' ')) AS toks,
             CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
               / len(string_split(text, ' ')) AS ttr
      FROM documents),
    ranked AS (
      SELECT lang, toks, ttr,
             SUM(toks) OVER (ORDER BY ttr DESC, doc_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      FROM scored)
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(toks) AS BIGINT) AS tokens_selected,
           ROUND(MIN(ttr), 6) AS cut_ttr
    FROM ranked WHERE cum <= {TOKEN_BUDGET}
    GROUP BY lang
    """,
    doc=(
        "Token-budget selection: spend a fixed token budget on the "
        "highest-lexical-diversity documents (global running token sum, "
        "banded), reported per language."
    ),
)
def curation_token_budget_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 'fill the training budget best-first' op: rank the corpus by a
    quality priority (type-token ratio here — any score column slots in)
    and keep documents until their cumulative whitespace-token count
    exhausts a fixed budget. The report is per-language docs/tokens taken
    plus the cut quality — the number a data-mixture owner actually reads
    (how deep into the quality distribution did the budget reach?).

    Scale shape: the priority and token count are per-row array
    expressions (zero shuffle); the running token sum over the global
    quality order runs BANDED (operators/banded.banded_cumsum — band =
    negated TTR octile, monotone along the DESC order), so the selection
    scan is band-parallel and only the one-row-per-band stats table
    crosses an unpartitioned window. At a billion documents this is the
    same two-pass cutpoint search as agg_pareto_revenue_share: the stats
    pass finds the crossing band, the in-band window finds the exact
    crossing row."""
    from trike_spark.operators.banded import banded_cumsum

    d = load_table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    n_tok = F.size(toks)
    ttr = F.size(F.array_distinct(toks)).cast("double") / n_tok
    scored = d.select("doc_id", "lang", n_tok.alias("toks"), ttr.alias("ttr"))
    ranked = banded_cumsum(
        scored,
        -F.floor(F.col("ttr") * 8),
        [F.col("ttr").desc(), F.col("doc_id")],
        {"cum": "toks"},
    )
    return (
        ranked.filter(F.col("cum") <= TOKEN_BUDGET)
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("toks").cast("bigint").alias("tokens_selected"),
            F.round(F.min("ttr"), 6).alias("cut_ttr"),
        )
    )
