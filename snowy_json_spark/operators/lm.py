"""Corpus language-model scoring: CCNet-style perplexity filtering.

No Snow analog — training-data-pipeline capability: CCNet (Wenzek et
al. 2020) ranks web pages by the perplexity of a language model
trained on a trusted corpus; pages whose perplexity is far above the
reference distribution are boilerplate/gibberish, far below are
degenerate repetition.  This module implements the Spark-native form:

- :func:`train_word_lm` — a unigram word LM with Laplace smoothing
  over the top-V vocabulary.  One wordcount aggregation (explode →
  groupBy — map-side partial combine, the canonical scalable shape)
  plus one TakeOrdered for the vocabulary cut.  The model is a
  (word, logp) table of at most ``vocab_size`` rows — broadcastable
  by construction, independent of corpus size.
- :func:`score_documents` — per-document log-probability via explode
  → broadcast join → re-aggregate, all JVM-side; out-of-vocabulary
  words take the smoothed OOV mass.  Emits cross-entropy (mean
  negative logp per word) and perplexity (its exp).
- :func:`perplexity_filter` — the curation gate: keep documents
  inside a [min, max] perplexity band.

A unigram LM is deliberately chosen over KenLM-style n-grams: the
model table stays tiny and exactly reproducible in SQL (the DuckDB
oracle recomputes training AND scoring end-to-end), while already
separating gibberish from text — the CCNet paper's own head/middle/
tail buckets are coarse.  The n-gram extension is the same plan shape
with ``word_ngrams`` keys and a larger-but-still-capped table.

Scale: training shuffles (word, count) pairs — bounded by vocabulary
(heavy hitters combine map-side), not corpus size.  Scoring shuffles
one (doc_id, logp_sum, n) row per document after a broadcast hash
join; document text never moves twice.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .text import words


def train_word_lm(
    df: DataFrame,
    text_col: str,
    vocab_size: int = 100_000,
    alpha: float = 1.0,
) -> tuple[DataFrame, dict]:
    """Unigram Laplace LM over the corpus: returns ``(vocab, meta)``
    where ``vocab`` is a DataFrame ``(word, logp)`` of the top
    ``vocab_size`` words (ties broken by word so the cut is
    deterministic) and ``meta`` carries ``n_tokens`` (corpus total,
    in AND out of vocabulary), ``vocab_size`` (actual V ≤ requested),
    ``alpha`` and ``oov_logp``.

    ``logp(w) = ln((c_w + α) / (N + α·(V+1)))``; the single OOV type
    shares ``ln(α / (N + α·(V+1)))``.  Probabilities are with respect
    to the V+1-way event space (vocab words + one unknown type), the
    standard Laplace formulation."""
    if vocab_size < 1:
        raise ValueError(f"vocab_size must be >= 1, got {vocab_size}")
    if alpha <= 0:
        raise ValueError(f"alpha must be > 0, got {alpha}")
    counts = (
        df.select(F.explode(words(F.col(text_col))).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    # ONE corpus wordcount: persist the (word, count) table for the two
    # reads (total + top-V), then materialize the ≤ vocab_size model on
    # the driver as a LOCAL DataFrame — scoring never re-triggers the
    # corpus scan through the model's lineage, and the broadcast side
    # is a parallelized local table by construction.
    counts = counts.persist()
    try:
        n_tokens = counts.agg(F.sum("c")).first()[0] or 0
        top_rows = (
            counts.orderBy(F.col("c").desc(), F.col("word").asc())
            .limit(vocab_size)
            .collect()
        )
    finally:
        counts.unpersist()
    v = len(top_rows)
    denom = float(n_tokens) + alpha * (v + 1)
    vocab = df.sparkSession.createDataFrame(
        [(r["word"], math.log((r["c"] + alpha) / denom)) for r in top_rows],
        "word string, logp double",
    )
    meta = {
        "n_tokens": int(n_tokens),
        "vocab_size": int(v),
        "alpha": float(alpha),
        "oov_logp": math.log(alpha / denom) if denom > 0 else float("-inf"),
    }
    return vocab, meta


def score_documents(
    df: DataFrame,
    id_col: str,
    text_col: str,
    vocab: DataFrame,
    oov_logp: float,
) -> DataFrame:
    """Per-document LM score: ``(id, n_words, logprob, cross_entropy,
    perplexity)``.  Documents with no words (null/empty text) keep a
    row with ``n_words = 0`` and null entropy/perplexity — a filter
    must see them, not lose them.

    Plan: explode words → broadcast hash join against the ≤ V-row
    model → one partial-aggregating groupBy per document → left join
    back onto the id spine.  Everything JVM-side; no UDF."""
    spine = df.select(F.col(id_col))
    scored = (
        df.select(F.col(id_col), F.explode(words(F.col(text_col))).alias("word"))
        .join(F.broadcast(vocab), "word", "left")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum(F.coalesce(F.col("logp"), F.lit(oov_logp))).alias("logprob"),
        )
    )
    out = (
        spine.join(scored, id_col, "left")
        .withColumn("n_words", F.coalesce(F.col("n_words"), F.lit(0)))
        .withColumn(
            "cross_entropy",
            F.when(F.col("n_words") > 0, -F.col("logprob") / F.col("n_words")),
        )
        .withColumn("perplexity", F.exp(F.col("cross_entropy")))
    )
    return out


def log_likelihood_ratio(
    df: DataFrame,
    id_col: str,
    text_col: str,
    target_vocab: DataFrame,
    target_oov_logp: float,
    corpus_vocab: DataFrame,
    corpus_oov_logp: float,
) -> DataFrame:
    """DSIR-style importance score (Xie et al. 2023, "Data Selection
    for Language Models via Importance Resampling"): per document,
    ``log_ratio = log p_target(doc) - log p_corpus(doc)`` under two
    unigram models — one trained on a trusted/target corpus, one on
    the raw crawl.  High ratios mean "looks like the target
    distribution"; selecting by ratio reweights the crawl toward it.

    Emits ``(id, n_words, target_logprob, corpus_logprob,
    log_ratio)``; empty documents keep rows with nulls.

    Plan: ONE explode feeding TWO broadcast model joins (both models
    are ≤ V rows) and one per-doc aggregate — document text moves
    once regardless of how many models score it."""
    spine = df.select(F.col(id_col))
    t = target_vocab.select(
        F.col("word"), F.col("logp").alias("_lp_t")
    )
    c = corpus_vocab.select(
        F.col("word"), F.col("logp").alias("_lp_c")
    )
    scored = (
        df.select(F.col(id_col), F.explode(words(F.col(text_col))).alias("word"))
        .join(F.broadcast(t), "word", "left")
        .join(F.broadcast(c), "word", "left")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum(F.coalesce(F.col("_lp_t"), F.lit(target_oov_logp))).alias(
                "target_logprob"
            ),
            F.sum(F.coalesce(F.col("_lp_c"), F.lit(corpus_oov_logp))).alias(
                "corpus_logprob"
            ),
        )
    )
    return (
        spine.join(scored, id_col, "left")
        .withColumn("n_words", F.coalesce(F.col("n_words"), F.lit(0)))
        .withColumn(
            "log_ratio", F.col("target_logprob") - F.col("corpus_logprob")
        )
    )


def dsir_select(
    df: DataFrame,
    id_col: str,
    text_col: str,
    target_vocab: DataFrame,
    target_oov_logp: float,
    corpus_vocab: DataFrame,
    corpus_oov_logp: float,
    min_log_ratio: float,
    keep_empty: bool = False,
) -> DataFrame:
    """The selection gate: input rows plus ``log_ratio`` and ``keep``
    (true iff ``log_ratio >= min_log_ratio``; empty documents keep
    ``keep_empty``, never null).  A deterministic-threshold variant of
    DSIR's importance resampling — thresholding is reproducible and
    resumable where Gumbel sampling is not, and the threshold is the
    quantile knob: pick it from :mod:`drift`'s quantiles over
    ``log_ratio`` to hit a token budget."""
    scores = log_likelihood_ratio(
        df, id_col, text_col, target_vocab, target_oov_logp,
        corpus_vocab, corpus_oov_logp,
    ).select(id_col, "log_ratio")
    return df.join(scores, id_col, "left").withColumn(
        "keep",
        F.when(F.col("log_ratio").isNull(), F.lit(keep_empty)).otherwise(
            F.col("log_ratio") >= min_log_ratio
        ),
    )


def perplexity_filter(
    df: DataFrame,
    id_col: str,
    text_col: str,
    vocab: DataFrame,
    oov_logp: float,
    max_perplexity: float,
    min_perplexity: float = 0.0,
    keep_empty: bool = False,
) -> DataFrame:
    """The curation gate: input rows plus ``perplexity`` and a
    ``keep`` flag — true iff the document scores inside
    ``[min_perplexity, max_perplexity]``; empty documents keep
    ``keep = keep_empty`` (never null, so ``~keep`` is safe)."""
    scores = score_documents(df, id_col, text_col, vocab, oov_logp).select(
        id_col, "perplexity"
    )
    return df.join(scores, id_col, "left").withColumn(
        "keep",
        F.when(F.col("perplexity").isNull(), F.lit(keep_empty)).otherwise(
            (F.col("perplexity") >= min_perplexity)
            & (F.col("perplexity") <= max_perplexity)
        ),
    )
