"""Importance-weighted data selection (DSIR-style) for training
corpora.

Public method: hashed n-gram importance resampling — score every raw
document by how target-like its hashed n-gram bag is (log-ratio of a
target vs a raw unigram/bigram distribution over hash buckets), then
sample proportionally to the weights with the Gumbel-top-k trick
(Xie et al., "Data Selection for Language Models via Importance
Resampling", NeurIPS 2023 — the method is public; this is an
independent Spark-native implementation).

Reference parity: the reference engine has no data-selection surface
(its reads are keyed scans — src/matdb.rs); this module belongs to
the training-data-pipeline layer the rebuild adds on top.

100 TB design
-------------
- The two distribution passes are ``groupBy(bucket)`` counts over
  exploded n-grams: map-side combined, so the shuffle carries
  ``num_buckets`` partial rows per task, never data rows.
- The per-bucket log-ratio table is bounded by ``num_buckets`` and is
  collected to the driver once (a few KB), then re-enters the scoring
  pass as ONE array literal — scoring is a single exchange-free scan
  (no join, no shuffle): each document folds its bucket array over the
  literal with an exact BIGINT sum.
- Quantization: log-ratios are fixed to integer micro-nats
  (``floor(lr * 1e6 + 0.5)``, half-away rounding — the same
  cross-engine convention as the codec paths). Integer sums are
  associative, so per-document weights are bit-identical across Spark,
  the DuckDB oracle, and any partitioning/accumulation order; the
  1e-6-nat-per-gram quantization error is far below the sampling noise
  the method tolerates by construction.
- Gumbel keys are derived from md5 of a seeded id (deterministic,
  engine-independent uniform bits) and quantized the same way; the
  final top-k is a ``TakeOrderedAndProject`` (per-partition heaps, no
  global sort).
"""

from __future__ import annotations

import json
import math

from pyspark.sql import Column, DataFrame, functions as F

from matdb_spark.functions.text import hash_hex, normalize

DEFAULT_NUM_BUCKETS = 4096
UNIT = 1_000_000  # micro-nats: the fixed-point grid for log quantities


def _const_array(values: list[int]) -> Column:
    """A bounded int table as ONE constant array expression.
    ``F.lit(list)`` builds a CreateArray with len(values) literal
    children, which whole-stage codegen re-materializes per evaluation
    — measured 3× slower under a higher-order-function lambda than
    this from_json literal, which Catalyst folds to a single
    ArrayData constant."""
    return F.from_json(F.lit(json.dumps(values)), "array<bigint>")


def _with_grams(
    df: DataFrame, carry: list[str], text_col: str, ns: tuple[int, ...]
) -> DataFrame:
    """carry… + ``__g array<string>``: ALL n-gram occurrences (bag
    semantics — unlike dedup's shingles_from_words, no dedup) for each
    n in ``ns``, over whitespace tokens of the normalized text.

    Two-phase projection (see dedup.shingle_rows): the token array is a
    materialized attribute so split/normalize run once per row, not per
    lambda element. NULL/empty text yields an empty gram array."""
    words = df.select(
        *carry,
        F.filter(
            F.split(normalize(F.coalesce(F.col(text_col), F.lit(""))), " "),
            lambda x: x != F.lit(""),
        ).alias("__w"),
    )
    empty = F.array().cast("array<string>")

    def gram_fn(n: int):
        # closure, NOT a default-arg lambda: pyspark infers lambda
        # arity from the signature, and a second parameter would make
        # transform() pass the array INDEX into it (see simhash64)
        return lambda i: F.concat_ws(
            " ", *[F.get(F.col("__w"), i + j) for j in range(n)]
        )

    parts = []
    for n in ns:
        count = F.greatest(F.size("__w") - (n - 1), F.lit(0))
        idx = F.sequence(F.lit(0), count - 1)
        parts.append(F.when(count > 0, F.transform(idx, gram_fn(n))).otherwise(empty))
    combined = parts[0] if len(parts) == 1 else F.concat(*parts)
    return words.select(*carry, combined.alias("__g"))


def _bucket(gram: Column, num_buckets: int) -> Column:
    # hash_hex is non-negative (60-bit), so % is a true modulus
    return hash_hex(gram, 15) % num_buckets


def _tagged_counts(
    frames: list[tuple[int, DataFrame, tuple[int, ...]]],
    text_col: str,
    num_buckets: int,
) -> list[dict[int, int]]:
    """Bucket-count maps for several (tag, df, ns) gram streams in ONE
    Spark job: the streams union with a side tag, aggregate map-side
    combined on (tag, bucket), and one bounded collect (≤ #tags ×
    num_buckets rows) feeds every table. Separate jobs per table
    would pay the fixed scan/shuffle/collect latency per pass — at
    small scale that latency dominates, at 100 TB it re-reads the
    corpus."""
    parts = []
    for tag, df, ns in frames:
        g = _with_grams(df, [], text_col, ns)
        parts.append(
            g.select(
                F.lit(tag).alias("tag"),
                F.explode(
                    F.transform("__g", lambda x: _bucket(x, num_buckets))
                ).alias("bucket"),
            )
        )
    u = parts[0]
    for p in parts[1:]:
        u = u.unionByName(p)
    rows = u.groupBy("tag", "bucket").agg(F.count(F.lit(1)).alias("cnt")).collect()
    out: list[dict[int, int]] = [dict() for _ in frames]
    for r in rows:
        out[r["tag"]][r["bucket"]] = r["cnt"]
    return out


def _log_ratio_list(
    c: dict[int, int], t: dict[int, int], num_buckets: int, alpha: float
) -> list[int]:
    s_tot = sum(c.values()) + alpha * num_buckets
    t_tot = sum(t.values()) + alpha * num_buckets
    ls, lt = math.log(s_tot), math.log(t_tot)
    # left-to-right association on purpose — the SAME float op order
    # as the DuckDB oracle's `ln(t+a) - ln(c+a) + ln(s) - ln(t)`
    # expression; pre-summing ls-lt associates differently and can
    # land 1 ulp away, flipping a quantized entry at a grid boundary
    return [
        math.floor(
            (math.log(t.get(b, 0) + alpha) - math.log(c.get(b, 0) + alpha) + ls - lt)
            * UNIT
            + 0.5
        )
        for b in range(num_buckets)
    ]


def importance_weights(
    corpus: DataFrame,
    target: DataFrame,
    id_col: str,
    text_col: str,
    ns: tuple[int, ...] = (1, 2),
    num_buckets: int = DEFAULT_NUM_BUCKETS,
    alpha: float = 1.0,
) -> DataFrame:
    """(id, n_grams, weight_unats) for every corpus document:
    ``weight_unats`` is the quantized log importance weight
    Σ_grams round(1e6 · ln(p_target/p_corpus)) — exact integer
    arithmetic per document (see module docstring). Documents with no
    grams (empty/NULL text) score 0 over 0 grams.

    The returned plan is a single exchange-free scan of ``corpus``;
    the bounded distribution aggregation runs eagerly inside this
    call (one tagged-union job, collected into the literal table)."""
    c, t = _tagged_counts(
        [(0, corpus, ns), (1, target, ns)], text_col, num_buckets
    )
    lr = _log_ratio_list(c, t, num_buckets, alpha)
    lr_lit = _const_array(lr)
    g = _with_grams(corpus, [id_col], text_col, ns)
    b = g.select(
        id_col,
        F.transform("__g", lambda x: _bucket(x, num_buckets)).alias("__b"),
    )
    return b.select(
        id_col,
        F.size("__b").cast("long").alias("n_grams"),
        F.aggregate(
            "__b",
            F.lit(0).cast("long"),
            lambda acc, x: acc + F.element_at(lr_lit, x.cast("int") + 1),
        ).alias("weight_unats"),
    )


def _keep_expr(
    text_col: str,
    lr_lit: Column,
    min_unats_per_gram: int,
    ns: tuple[int, ...],
    num_buckets: int,
) -> Column:
    """The boolean ``weight_unats > min_unats_per_gram * n_grams`` as
    ONE collapse-safe expression: every intermediate (word array, gram
    array, bucket array) is bound as a HIGHER-ORDER-FUNCTION lambda
    variable, so the pipeline evaluates exactly once per row no matter
    where the optimizer moves the predicate.

    Why this exists: ``importance_weights(...).filter(...)`` stages the
    word/gram/bucket arrays as projected attributes — optimal as a
    standalone scan — but PushDownPredicates substitutes those aliases
    into the pushed filter CONDITION unconditionally, inlining the
    ``split`` back inside the per-gram lambda: O(doc_len²)
    re-evaluation. Measured on q_llm_pipeline's keep branch at sf0.1:
    the scoring scan alone is ~0.2 s, the same scan collapsed into a
    pushed filter is ~2.2 s. Same operators, same fold order, same
    integer arithmetic as importance_weights — only the binding
    structure differs, so the verdict is bit-identical
    (tests/test_opt_r10.py pins this)."""
    words = F.filter(
        F.split(normalize(F.coalesce(F.col(text_col), F.lit(""))), " "),
        lambda x: x != F.lit(""),
    )
    empty = F.array().cast("array<string>")

    def verdict(w: Column) -> Column:
        def gram_fn(n: int):
            return lambda i: F.concat_ws(
                " ", *[F.get(w, i + j) for j in range(n)]
            )

        parts = []
        for n in ns:
            count = F.greatest(F.size(w) - (n - 1), F.lit(0))
            idx = F.sequence(F.lit(0), count - 1)
            parts.append(
                F.when(count > 0, F.transform(idx, gram_fn(n))).otherwise(empty)
            )
        g = parts[0] if len(parts) == 1 else F.concat(*parts)
        buckets = F.transform(g, lambda x: _bucket(x, num_buckets))

        def score(b: Column) -> Column:
            w_unats = F.aggregate(
                b,
                F.lit(0).cast("long"),
                lambda acc, x: acc + F.element_at(lr_lit, x.cast("int") + 1),
            )
            return w_unats > F.lit(min_unats_per_gram) * F.size(b).cast("long")

        return F.get(F.transform(F.array(buckets), score), 0)

    return F.get(F.transform(F.array(words), verdict), 0)


def importance_filter(
    corpus: DataFrame,
    target: DataFrame,
    id_col: str,
    text_col: str,
    min_unats_per_gram: int,
    ns: tuple[int, ...] = (1, 2),
    num_buckets: int = DEFAULT_NUM_BUCKETS,
    alpha: float = 1.0,
) -> DataFrame:
    """``corpus`` rows whose importance weight clears a per-gram
    floor — exactly ``importance_weights(corpus, target, …)`` filtered
    on ``weight_unats > min_unats_per_gram * n_grams`` and semi-joined
    back, but as ONE exchange-free filtered scan of ``corpus`` (all
    original columns kept).

    This is the selection shape a pipeline should compose with a
    downstream consumer: the two-step form re-scans the corpus for the
    semi-join probe side and, worse, hands the optimizer a predicate
    over staged projections that filter-pushdown re-inlines
    quadratically (see _keep_expr). Documents with no grams score 0
    over 0 grams, so their verdict is ``0 > 0`` — always dropped, the
    same verdict the two-step form computes."""
    c, t = _tagged_counts(
        [(0, corpus, ns), (1, target, ns)], text_col, num_buckets
    )
    lr = _log_ratio_list(c, t, num_buckets, alpha)
    return corpus.filter(
        _keep_expr(text_col, _const_array(lr), min_unats_per_gram, ns, num_buckets)
    )


def bigram_lm_scores(
    corpus: DataFrame,
    reference: DataFrame,
    id_col: str,
    text_col: str,
    num_buckets: int = DEFAULT_NUM_BUCKETS,
    alpha: float = 1.0,
) -> DataFrame:
    """(id, n_pairs, logprob_unats) — hashed bigram language-model
    score of every corpus document under a model trained on
    ``reference``: Σ over adjacent token pairs of
    ``ln((cnt2[b(prev cur)] + α) / (cnt1[b(prev)] + α·B))``, the
    add-alpha bigram conditional with both the context and the bigram
    hashed into ``num_buckets`` buckets (a hashed-feature LM — an
    un-normalized surrogate for the KenLM-style perplexity filter of
    CCNet/C4, trading exactness for two bounded count tables).
    Lower (more negative) scores per pair ≈ higher perplexity ≈ less
    reference-like text.

    Same exactness contract as importance_weights: the two per-bucket
    log terms are quantized to integer micro-nats BEFORE the
    subtraction and per-document sum, so scores are exact BIGINT
    arithmetic — engine- and order-identical. The scoring pass is one
    exchange-free scan (both bounded tables ride along as array
    literals); training is two map-combined bucket aggregations.
    Consumers filter on ``logprob_unats / n_pairs`` (average log-prob;
    documents with < 2 tokens have n_pairs = 0 and score 0)."""
    m1, m2 = _tagged_counts(
        [(0, reference, (1,)), (1, reference, (2,))], text_col, num_buckets
    )
    l1 = [
        math.floor(math.log(m1.get(b, 0) + alpha * num_buckets) * UNIT + 0.5)
        for b in range(num_buckets)
    ]
    l2 = [
        math.floor(math.log(m2.get(b, 0) + alpha) * UNIT + 0.5)
        for b in range(num_buckets)
    ]
    l1_lit, l2_lit = _const_array(l1), _const_array(l2)
    words = corpus.select(
        F.col(id_col),
        F.filter(
            F.split(normalize(F.coalesce(F.col(text_col), F.lit(""))), " "),
            lambda x: x != F.lit(""),
        ).alias("__w"),
    )
    n_pairs = F.greatest(F.size("__w") - 1, F.lit(0))
    idx = F.sequence(F.lit(0), n_pairs - 1)
    ctx_b = F.transform(idx, lambda i: _bucket(F.get(F.col("__w"), i), num_buckets))
    big_b = F.transform(
        idx,
        lambda i: _bucket(
            F.concat_ws(
                " ", F.get(F.col("__w"), i), F.get(F.col("__w"), i + 1)
            ),
            num_buckets,
        ),
    )
    terms = F.zip_with(
        ctx_b,
        big_b,
        lambda a, b: F.element_at(l2_lit, b.cast("int") + 1)
        - F.element_at(l1_lit, a.cast("int") + 1),
    )
    score = F.aggregate(
        F.when(n_pairs > 0, terms).otherwise(F.array().cast("array<bigint>")),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    return words.select(
        id_col,
        n_pairs.cast("long").alias("n_pairs"),
        score.alias("logprob_unats"),
    )


def gumbel_key_unats(id_expr: Column, weight_unats: Column, seed: int) -> Column:
    """Quantized Gumbel-perturbed log-weight: ``weight_unats +
    round(1e6 · (-ln(-ln(u))))`` with u ∈ (0,1) from 52 deterministic
    md5 bits of ``seed:id``. Sorting by this key descending and taking
    k rows samples k documents ∝ exp(weight) without replacement (the
    Gumbel-top-k trick) — reproducibly, on any engine."""
    u = (hash_hex(F.concat_ws(":", F.lit(str(seed)), id_expr.cast("string")), 13) + F.lit(0.5)) / F.lit(
        float(1 << 52)
    )
    gumbel = -F.log(-F.log(u))
    return weight_unats + F.floor(gumbel * UNIT + F.lit(0.5)).cast("long")


def importance_resample(
    weights: DataFrame,
    id_col: str,
    k: int,
    seed: int = 42,
    weight_col: str = "weight_unats",
) -> DataFrame:
    """Top-k Gumbel resample over an importance_weights result:
    weights columns + ``key_unats``, the k highest keys (ties broken
    by id for determinism). Executes as TakeOrderedAndProject —
    per-partition heaps of k, no global sort."""
    keyed = weights.withColumn(
        "key_unats", gumbel_key_unats(F.col(id_col), F.col(weight_col), seed)
    )
    return keyed.orderBy(F.col("key_unats").desc(), F.col(id_col)).limit(k)
