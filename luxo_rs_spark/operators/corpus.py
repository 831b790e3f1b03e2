"""Corpus-management operators for training-data pipelines (SURVEY.md
§2.2-K extension): deterministic splits, stratified sampling,
incremental dedup, benchmark-contamination checks, and vocabulary /
TF-IDF / inverted-index construction.

Everything is declarative DataFrame composition (joins / aggs / windows
— Catalyst plans them with partial aggregation and AQE); the only
Python is the reference-exact ``fnv1a64`` hash (vectorized pandas UDF,
reference src/algo/fnv1a.rs:4-95) used where the contract wants a
content-stable hash.

Scale notes (100 TB):
- ``hash_split`` is a pure map-side projection — no shuffle, stable
  under re-runs and resharding, which is the whole point of hash
  splits over ``rand()``.
- ``stratified_sample`` shuffles once on the stratum key; the
  deterministic rank key avoids ``rand()``'s re-run instability.
- ``contamination_pairs`` joins on n-gram shingles; the hot-shingle
  guard (drop shingles above a document-frequency ceiling) bounds the
  join fan-out exactly like the LSH band trick bounds near-dup — a
  boilerplate 8-gram appearing in half the corpus must not produce a
  |corpus| x |eval| blowup.
- ``incremental_dedup`` is one anti-join (new vs corpus) + one
  group-min (within-batch) — the streaming-friendly formulation of
  exact dedup.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from luxo_rs_spark.functions.fnv1a import fnv1a64_col
from luxo_rs_spark.functions.spread import spread
from luxo_rs_spark.functions.text import words
from luxo_rs_spark.sources.registry import local_frame

#: 2^64 as a decimal literal — for reinterpreting the signed fnv1a64
#: LongType output as its unsigned value (SURVEY.md §7 u64 note)
_TWO64 = "18446744073709551616"


def unsigned_hash(col) -> F.Column:
    """The u64 value of a signed fnv1a64 LongType as DECIMAL(21,0)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.when(
        c < 0, c.cast("decimal(20,0)") + F.lit(_TWO64).cast("decimal(21,0)")
    ).otherwise(c.cast("decimal(21,0)"))


def hash_split(
    df: DataFrame,
    id_col: str = "doc_id",
    train_buckets: int = 8,
    val_buckets: int = 1,
    n_buckets: int = 10,
    out_col: str = "split",
) -> DataFrame:
    """Assign a deterministic train/val/test split by content-stable
    hash: bucket = fnv1a64(id) as u64 mod n_buckets.

    Hash-based (not ``rand()``) so the assignment is reproducible
    across runs, engines, and repartitioning — any row's split can be
    recomputed from its id alone. Reference-exact hash semantics
    (little-endian i64 bytes, src/algo/fnv1a.rs:68-95).
    """
    h = fnv1a64_col(F.col(id_col), kinds=("bigint",))
    bucket = F.pmod(unsigned_hash(h), F.lit(n_buckets)).cast("int")
    split = (
        F.when(bucket < train_buckets, "train")
        .when(bucket < train_buckets + val_buckets, "val")
        .otherwise("test")
    )
    return df.withColumn(out_col, split)


def stratified_sample(
    df: DataFrame,
    strata_col: str,
    k: int,
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic top-k-per-stratum sample.

    Rank key is a fixed LCG scramble of the id ((id * 48271) mod 65536
    — Park-Miller multiplier), NOT ``rand()``: the sample is stable
    across runs and engines, and is SQL-expressible for the oracle.
    One shuffle on the stratum key; the window top-k avoids a global
    sort.
    """
    rank_key = (F.col(id_col) * F.lit(48271)) % F.lit(65536)
    w = Window.partitionBy(strata_col).orderBy(rank_key.asc(), F.col(id_col).asc())
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .drop("__rn")
    )


def incremental_dedup(
    new_batch: DataFrame,
    corpus: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Rows of `new_batch` that survive exact dedup against an existing
    corpus AND within the batch itself (min-id survivor per content).

    Plan shape: one left-anti join on the text key (new vs corpus),
    then one group-min + semi-join for within-batch winners. At scale
    both joins key on the content hash, and the corpus side is a
    bucketed/Bloom-indexed table rather than a full scan.
    """
    fresh = new_batch.join(
        corpus.select(F.col(text_col)).distinct(), text_col, "left_anti"
    )
    winners = (
        fresh.groupBy(text_col)
        .agg(F.min(id_col).alias(id_col))
        .select(id_col)
    )
    return new_batch.join(winners, id_col, "left_semi")


def contamination_pairs(
    corpus: DataFrame,
    eval_set: DataFrame,
    n: int = 8,
    max_shingle_df: int = 100,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(corpus_id, eval_id, n_shared): corpus documents sharing at
    least one rare word n-gram with an eval/benchmark document — the
    standard decontamination primitive for training corpora.

    ``max_shingle_df`` drops shingles whose corpus-wide document
    frequency exceeds the ceiling BEFORE the pair join: boilerplate
    n-grams otherwise fan out to |corpus| x |eval| pairs. That guard is
    what makes the operator viable at 100 TB (same role as LSH
    banding in near-dup).
    """
    def _sh(df: DataFrame, out_id: str) -> DataFrame:
        w = F.col("__w")
        idx = F.sequence(F.lit(1), F.size(w) - F.lit(n - 1))
        gram = F.transform(idx, lambda i: F.array_join(F.slice(w, i, n), " "))
        sh = F.when(F.size(w) >= n, F.array_distinct(gram)).otherwise(
            F.array().cast("array<string>")
        )
        # spread before the explode: the fixture scan is one parquet
        # row group -> one task, and the n-gram explode is the heavy
        # map work (guide §2.5); the shuffle moves only (id, text)
        return _spread_corpus(
            df.select(F.col(id_col).alias(out_id), F.col(text_col)), out_id
        ).select(
            F.col(out_id), words(text_col).alias("__w")
        ).select(out_id, F.explode(sh).alias("shingle"))

    corpus_sh = _sh(corpus, "corpus_id")
    hot = (
        corpus_sh.groupBy("shingle")
        .agg(F.countDistinct("corpus_id").alias("__df"))
        .filter(F.col("__df") > max_shingle_df)
        .select("shingle")
    )
    cold = corpus_sh.join(hot, "shingle", "left_anti")
    eval_sh = _sh(eval_set, "eval_id")
    return (
        cold.join(eval_sh, "shingle")
        .filter(F.col("corpus_id") != F.col("eval_id"))
        .groupBy("corpus_id", "eval_id")
        .agg(F.countDistinct("shingle").alias("n_shared"))
    )


def token_table(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(id, token) whitespace tokens, lowercased, empties dropped."""
    return (
        df.select(F.col(id_col).alias("doc_id"), F.explode(words(text_col)).alias("token"))
        .filter(F.col("token") != "")
    )


def vocabulary(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(token, doc_freq, total_count): corpus vocabulary statistics.

    One explode + one groupBy — partial aggregation map-side; at scale
    this is the canonical word-count shuffle keyed by token (AQE skew
    handling covers stopword-scale hot keys).
    """
    return token_table(df, id_col, text_col).groupBy("token").agg(
        F.countDistinct("doc_id").alias("doc_freq"),
        F.count(F.lit(1)).alias("total_count"),
    )


def tfidf_topk(
    df: DataFrame,
    k: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(doc_id, token, tfidf, rn): top-k tokens per document by
    smoothed TF-IDF: tf = count/doc_len, idf = ln((N+1)/(df+1)).

    N (corpus size) joins in as a broadcast single-row aggregate — no
    driver-side collect, the plan stays fully lazy.
    """
    toks = token_table(df, id_col, text_col)
    tf = toks.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("cnt"))
    doc_len = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("doc_len"))
    dfreq = toks.select("doc_id", "token").distinct().groupBy("token").agg(
        F.count(F.lit(1)).alias("df")
    )
    n_docs = df.agg(F.countDistinct(id_col).alias("n_docs"))
    scored = (
        tf.join(doc_len, "doc_id")
        .join(dfreq, "token")
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "tfidf",
            (F.col("cnt") / F.col("doc_len"))
            * F.log((F.col("n_docs") + 1.0) / (F.col("df") + 1.0)),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("tfidf").desc(), F.col("token").asc()
    )
    return (
        scored.withColumn("rn", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rn") <= k)
        .select("doc_id", "token", "tfidf", "rn")
    )


def inverted_index(
    df: DataFrame,
    min_df_frac: float = 0.04,
    max_df_frac: float = 0.79,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(token, doc_freq, postings): posting lists for mid-frequency
    tokens, ids sorted ascending and comma-joined.

    The df band is FRACTIONAL (default 4%..79% of corpus size) so the
    retrieval window scales with the corpus — near-singletons are
    noise, near-universal tokens are scanned not indexed. The corpus
    size joins in as a broadcast single-row aggregate (no driver
    collect). At scale postings become ARRAY<BIGINT> bucketed by
    token; the string join here is for the oracle contract.
    """
    toks = token_table(df, id_col, text_col).select("doc_id", "token").distinct()
    n_docs = df.agg(F.countDistinct(id_col).alias("n_docs"))
    return (
        toks.groupBy("token")
        .agg(
            F.count(F.lit(1)).alias("doc_freq"),
            F.array_join(
                F.transform(
                    F.sort_array(F.collect_list("doc_id")),
                    lambda x: x.cast("string"),
                ),
                ",",
            ).alias("postings"),
        )
        .crossJoin(F.broadcast(n_docs))
        .filter(
            (F.col("doc_freq") >= F.col("n_docs") * min_df_frac)
            & (F.col("doc_freq") <= F.col("n_docs") * max_df_frac)
        )
        .select("token", "doc_freq", "postings")
    )


def pmi_pairs(
    df: DataFrame,
    min_df: int = 30,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(ta, tb, n_pair, pmi): pointwise mutual information of token
    pairs co-occurring in documents, restricted to tokens with
    document frequency >= min_df (bounds the per-doc pair fan-out,
    same scale guard as contamination's hot-shingle ceiling — but
    inverted: PMI wants informative COMMON tokens, so the floor drops
    the long singleton tail instead).

    pmi = ln(n_pair * N / (df_a * df_b)) over document incidence.
    """
    toks = token_table(df, id_col, text_col).select("doc_id", "token").distinct()
    dfreq = toks.groupBy("token").agg(F.count(F.lit(1)).alias("df")).filter(
        F.col("df") >= min_df
    )
    kept = toks.join(F.broadcast(dfreq), "token")
    a = kept.select("doc_id", F.col("token").alias("ta"), F.col("df").alias("dfa"))
    b = kept.select("doc_id", F.col("token").alias("tb"), F.col("df").alias("dfb"))
    n_docs = df.agg(F.countDistinct(id_col).alias("n_docs"))
    return (
        a.join(b, "doc_id")
        .filter(F.col("ta") < F.col("tb"))
        .groupBy("ta", "tb", "dfa", "dfb")
        .agg(F.count(F.lit(1)).alias("n_pair"))
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "__ratio",
            F.col("n_pair") * F.col("n_docs") / (F.col("dfa") * F.col("dfb")),
        )
        .withColumn("pmi", F.log("__ratio"))
        .select("ta", "tb", "n_pair", "pmi", "__ratio")
    )


def sequence_packing(
    df: DataFrame,
    budget: int = 2048,
    by: str | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Assign each document to a fixed-token-budget training sequence:
    docs are laid out in id order (optionally within `by` groups) and
    seq_id = which budget-sized bin the document's FIRST token lands in
    (standard contiguous packing — documents may straddle bins, exactly
    like real sequence packing splits documents across context windows).

    One window running-sum per group — a single shuffle on the group
    key (or one global ordered window over the per-group pre-aggregated
    stream when `by` is None; at 100 TB you always pack within shards,
    i.e. `by` = shard key, keeping every window partition-local).
    Returns (id, n_tokens, tok_offset, seq_id).
    """
    from luxo_rs_spark.functions.text import token_count

    part = [by] if by else []
    w = (
        Window.partitionBy(*part).orderBy(id_col)
        if part
        else Window.orderBy(id_col)
    )
    toks = df.select(
        *part, F.col(id_col), token_count(text_col).alias("n_tokens")
    )
    return (
        toks.withColumn(
            "tok_offset", F.sum("n_tokens").over(w) - F.col("n_tokens")
        )
        .withColumn(
            "seq_id", F.floor(F.col("tok_offset") / F.lit(budget)).cast("bigint")
        )
        .select(*part, id_col, "n_tokens", "tok_offset", "seq_id")
    )


def filter_funnel(
    df: DataFrame,
    min_chars: int = 200,
    min_quality: float = 0.5,
    langs: tuple[str, ...] = ("en", "de", "es", "fr"),
    text_col: str = "text",
) -> DataFrame:
    """Curation-funnel summary: how many documents survive each stage
    of the standard quality-filter chain (length -> language -> quality
    score). One conditional-aggregation pass — the funnel is computed
    in a single scan, not one job per stage.

    Returns one row: (n_total, n_len_ok, n_lang_ok, n_quality_ok) where
    each stage counts docs passing it AND all previous stages.
    """
    from luxo_rs_spark.functions.text import lang_id, quality_metrics

    q = quality_metrics(text_col)
    len_ok = F.length(text_col) >= min_chars
    lang_ok = len_ok & lang_id(text_col).isin(*langs)
    qual_ok = lang_ok & (q["quality"] >= min_quality)
    flag = lambda c: F.sum(F.when(c, 1).otherwise(0)).cast("bigint")
    return df.agg(
        F.count(F.lit(1)).alias("n_total"),
        flag(len_ok).alias("n_len_ok"),
        flag(lang_ok).alias("n_lang_ok"),
        flag(qual_ok).alias("n_quality_ok"),
    )


def mixture_weights(
    df: DataFrame,
    targets: dict[str, float],
    by: str = "source",
    id_col: str = "doc_id",
) -> DataFrame:
    """Domain-mixture reweighting: per-domain sampling factor that
    reshapes the corpus's actual domain distribution into `targets`
    (fractions summing to 1): factor = target_frac / actual_frac.

    factor > 1 means upsample (repeat docs ~factor times), < 1 means
    downsample. One aggregation + a broadcast of the (tiny) targets
    table; the corpus-total scalar joins in as a broadcast single-row
    aggregate — the plan stays lazy, nothing collects.
    Returns (domain, n_docs, actual_frac, target_frac, factor).
    """
    spark = df.sparkSession
    tgt = local_frame(
        spark, [(k, float(v)) for k, v in targets.items()],
        f"{by} string, target_frac double",
    )
    counts = df.groupBy(by).agg(F.count(F.lit(1)).alias("n_docs"))
    total = df.agg(F.count(F.lit(1)).alias("n_total"))
    return (
        counts.crossJoin(F.broadcast(total))
        .join(F.broadcast(tgt), by, "left")
        .withColumn("target_frac", F.coalesce("target_frac", F.lit(0.0)))
        .withColumn("actual_frac", F.col("n_docs") / F.col("n_total"))
        .withColumn("factor", F.col("target_frac") / F.col("actual_frac"))
        .select(
            F.col(by).alias("domain"),
            "n_docs",
            "actual_frac",
            "target_frac",
            "factor",
        )
    )


def _spread_corpus(df: DataFrame, *keys) -> DataFrame:
    """Guarded keyed spread before a compute-heavy stage (the
    one-row-group fixture trap — see SCALING.md round-2 notes; at real
    scale the scan already has thousands of splits and the guard makes
    this a no-op instead of a full shuffle of the text payloads)."""
    return spread(df, *keys)


def substring_dup_coverage(
    df: DataFrame,
    n: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document duplicated-substring coverage — the exact-substring
    dedup DECISION from Lee et al. 2022 ("Deduplicating Training Data
    Makes Language Models Better"): for each doc, what fraction of its
    word n-gram positions carries a gram that also appears in ANOTHER
    document. A doc whose coverage exceeds a policy threshold is mostly
    boilerplate/copy and gets dropped or trimmed; q135 surfaces the
    shared passages themselves, this operator scores the documents.

    Returns (id, n_grams, n_dup_grams, dup_bps) with
    ``dup_bps = floor(10000 * n_dup_grams / n_grams)`` — integer basis
    points, exact across engines (no float hashing hazard). Docs with
    fewer than ``n`` words have no grams and are absent.

    Scale shape (100 TB): gram rows are reduced map-side by the
    (doc, gram) pre-aggregation before the per-gram window, so the
    shuffled key space is |distinct grams per doc|, not positions; the
    suffix-array formulation of the paper is replaced by the
    shuffle-friendly fixed-n gram join, which is the standard
    distributed approximation (it detects any duplicated span >= n
    words, positionally, which is what the coverage score needs).
    """
    docs = _spread_corpus(df, id_col).withColumn("__w", F.split(text_col, " "))
    grams = F.expr(
        f"case when size(__w) < {n} then array() else"
        f" transform(sequence(1, size(__w) - {n - 1}),"
        f" i -> xxhash64(array_join(slice(__w, i, {n}), ' '))) end"
    )
    g = docs.select(F.col(id_col).alias("id"), F.explode(grams).alias("gh"))
    # partial map-side agg on (doc, gram) collapses within-doc repeats
    per_doc_gram = g.groupBy("id", "gh").agg(
        F.count(F.lit(1)).alias("n_pos")
    )
    # one row per (doc, gram) -> COUNT(*) over the gram partition IS the
    # distinct-doc count; no second self-join over the gram table
    n_docs = F.count(F.lit(1)).over(Window.partitionBy("gh"))
    return (
        per_doc_gram.withColumn("n_docs", n_docs)
        .groupBy("id")
        .agg(
            F.sum("n_pos").cast("bigint").alias("n_grams"),
            F.coalesce(
                F.sum(F.when(F.col("n_docs") > 1, F.col("n_pos"))), F.lit(0)
            )
            .cast("bigint")
            .alias("n_dup_grams"),
        )
        .withColumn(
            "dup_bps",
            F.floor(F.col("n_dup_grams") * 10000 / F.col("n_grams")).cast(
                "bigint"
            ),
        )
        .withColumnRenamed("id", id_col)
    )


def chunk_documents(
    docs: DataFrame,
    chunk_tokens: int = 64,
    overlap: int = 16,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Sliding-window token chunking (the RAG / training-sequence
    prep step): whitespace tokens packed into windows of
    ``chunk_tokens`` advancing by ``chunk_tokens - overlap``, the last
    window keeping its tail remainder. Pure row-local array algebra —
    split once, slice per window index — so the operator is a map
    stage with zero shuffle; chunk ids are (doc, window ordinal).

    Returns (id, chunk_idx, n_tokens, chunk_text, chunk_md5); the md5
    pins the exact reconstruction for the oracle."""
    if overlap >= chunk_tokens:
        raise ValueError("overlap must be smaller than chunk_tokens")
    step = chunk_tokens - overlap
    toks = F.filter(
        F.split(F.col(text_col), r"\s+"), lambda t: t != ""
    )
    n = F.size(toks)
    # window count: 1 + ceil(max(n - chunk, 0) / step); empty docs -> 0
    n_win = F.when(n <= 0, F.lit(0)).otherwise(
        1 + F.ceil((F.greatest(n - chunk_tokens, F.lit(0))) / F.lit(step))
    )
    win = F.explode(
        F.when(
            n_win > 0, F.sequence(F.lit(0), (n_win - 1).cast("int"))
        ).otherwise(F.array().cast("array<int>"))
    )
    staged = docs.select(
        id_col, toks.alias("__t"), win.alias("chunk_idx")
    )
    piece = F.slice(
        F.col("__t"), F.col("chunk_idx") * step + 1, chunk_tokens
    )
    chunk = F.concat_ws(" ", piece)
    return staged.select(
        id_col,
        F.col("chunk_idx").cast("bigint").alias("chunk_idx"),
        F.size(piece).cast("bigint").alias("n_tokens"),
        chunk.alias("chunk_text"),
        F.md5(chunk).alias("chunk_md5"),
    )
