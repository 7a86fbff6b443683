"""Training-data pipeline plumbing: deterministic sampling and
token-budget shard packing.

Beyond-reference surface (BASELINE.json north star). Both operators are
pure native-Column plans designed for the 100 TB shape:

- `deterministic_sample` is a map-side filter on a hash of the key — no
  shuffle, no RNG state, reproducible across runs/engines/partitionings
  (the property `df.sample()` does NOT have), and composable: the same
  threshold always selects the same rows, so incremental reruns of a
  pipeline keep their sample stable.
- `pack_shards` assigns documents to fixed-token-budget shards (the
  "pack the corpus into ~1B-token training shards" step). The global
  running sum is computed scalably: range-repartition on the order key,
  per-partition local cumulative sums, then a driver-side prefix of the
  P per-partition totals (P rows — trivially small) broadcast back as
  offsets. No single-partition global window, no full sort on one core.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from .util import TOKEN_SPLIT_RE, spread


def deterministic_sample(
    df: DataFrame,
    fraction: float,
    key_col: str = "doc_id",
) -> DataFrame:
    """Keep ~`fraction` of rows, chosen by md5(key): a row is kept iff
    the first 8 hex chars of md5(CAST(key AS STRING)) fall below the
    fraction-scaled threshold. Stateless, shuffle-free, and engine-
    portable (any system with md5 reproduces the exact membership)."""
    if not 0.0 <= fraction <= 1.0:
        raise ValueError(f"fraction must be in [0, 1], got {fraction}")
    threshold = format(int(fraction * 0xFFFFFFFF), "08x")
    return df.filter(
        F.substring(F.md5(F.col(key_col).cast("string")), 1, 8) <= F.lit(threshold)
    )


def domain_cap(
    df: DataFrame,
    cap: int,
    domain_col: str = "source",
    key_col: str = "doc_id",
    salt_partitions: int | None = None,
) -> DataFrame:
    """Keep at most `cap` rows per domain, chosen deterministically by
    md5(key) rank within the domain — the "no single domain dominates
    the corpus" quota step of a web-crawl pipeline.

    Deterministic: the same rows survive on any cluster/partitioning,
    and the selection is engine-portable (md5 rank, no RNG).

    Skew path for 100 TB (``salt_partitions=S``): a mega-domain
    concentrates its rows on ONE window partition, and AQE skew
    handling does not apply to windows. With salting the cap runs in
    two phases: rank within (domain, md5-salt-of-key) keeping `cap`
    per salt cell — the hot domain spreads over S cells — then rank
    the at-most S*cap survivors per domain once more. The final
    selection is IDENTICAL to the unsalted cap (the domain's true
    top-cap by md5 order is contained in the union of per-cell
    top-caps), so callers can flip the flag without changing output."""
    if cap < 1:
        raise ValueError(f"cap must be >= 1, got {cap}")
    order = [F.md5(F.col(key_col).cast("string")), F.col(key_col)]
    if salt_partitions and salt_partitions > 1:
        salt = F.pmod(F.crc32(F.col(key_col).cast("string")), F.lit(salt_partitions))
        w1 = Window.partitionBy(F.col(domain_col), salt).orderBy(*order)
        df = (
            df.withColumn("__rk1", F.row_number().over(w1))
            .filter(F.col("__rk1") <= cap)
            .drop("__rk1")
        )
    w = Window.partitionBy(domain_col).orderBy(*order)
    return (
        df.withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") <= cap)
        .drop("__rk")
    )


def stratified_sample(
    df: DataFrame,
    fractions: dict,
    stratum_col: str = "lang",
    key_col: str = "doc_id",
    default_fraction: float = 0.0,
) -> DataFrame:
    """Per-stratum deterministic sampling: each stratum keeps its own
    md5-threshold fraction (e.g. downsample English, keep all of a rare
    language — the standard corpus-rebalancing step). Same map-side,
    shuffle-free, engine-portable selection as `deterministic_sample`;
    the per-stratum threshold is a small CASE chain, so this stays a
    single codegen'd filter at any scale."""
    for f in list(fractions.values()) + [default_fraction]:
        if not 0.0 <= f <= 1.0:
            raise ValueError(f"fractions must be in [0, 1], got {f}")
    expr = F.lit(format(int(default_fraction * 0xFFFFFFFF), "08x"))
    for stratum, frac in sorted(fractions.items()):
        expr = F.when(
            F.col(stratum_col) == F.lit(stratum),
            F.lit(format(int(frac * 0xFFFFFFFF), "08x")),
        ).otherwise(expr)
    return df.filter(
        F.substring(F.md5(F.col(key_col).cast("string")), 1, 8) <= expr
    )


def filter_blocklist(
    docs: DataFrame,
    blocklist: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    digest_col: str = "digest",
    broadcast: bool = True,
) -> DataFrame:
    """Drop documents whose content digest appears in a blocklist — the
    decontamination / known-bad-content removal step (held-out eval
    sets, opted-out content, previously flagged documents).

    Beyond-reference surface. The blocklist is a digest set (md5 of
    text), so membership is exact and the list stays tiny relative to
    the corpus. With ``broadcast=True`` (the common case: eval suites
    and removal lists are thousands-to-millions of 32-hex rows) the
    corpus is filtered in a single map-side anti hash-join — zero
    corpus shuffle at any scale. Flip to ``broadcast=False`` for a
    blocklist too large to broadcast; the anti-join then shuffles both
    sides on the digest, never the text."""
    dg = F.md5(F.col(text_col))
    bl = blocklist.select(F.col(digest_col).alias("__bd")).distinct()
    if broadcast:
        bl = F.broadcast(bl)
    return docs.join(bl, dg == F.col("__bd"), "left_anti")


def mixture_sample(
    docs: DataFrame,
    weights: dict,
    budget_tokens: int,
    stratum_col: str = "lang",
    key_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Weighted data mixing: downsample each stratum so its token mass
    approximates ``weights[s] * budget_tokens`` — the "mix N sources to
    a target token budget with fixed proportions" step of assembling a
    training mixture (strata with weight 0 or absent are dropped).

    Two phases, both scale-safe: (1) per-stratum token totals — one
    map-side-combined aggregate collected to the driver (P rows, P =
    number of strata); (2) the same deterministic md5-threshold filter
    as ``stratified_sample`` with fraction ``min(1, w*B/T_s)`` — a
    map-side codegen'd filter, no shuffle of the corpus, reproducible
    across runs/engines/partitionings.

    The achieved mass approximates the target in expectation (md5 is a
    uniform hash); exact-budget packing would need a sort —
    ``pack_shards`` is that operator."""
    for s, w in weights.items():
        if w < 0:
            raise ValueError(f"weight for {s!r} must be >= 0, got {w}")
    toks = F.filter(
        F.split(F.trim(F.lower(F.col(text_col))), TOKEN_SPLIT_RE),
        lambda t: t != "",
    )
    with_tokens = docs.withColumn("__nt", F.size(toks))
    totals = {
        r[stratum_col]: r["t"]
        for r in with_tokens.groupBy(stratum_col)
        .agg(F.sum("__nt").alias("t"))
        .collect()
    }
    fractions = {
        s: min(1.0, weights[s] * budget_tokens / totals[s])
        for s in weights
        if s in totals and totals[s] and weights[s] > 0
    }
    return stratified_sample(
        docs, fractions, stratum_col, key_col, default_fraction=0.0
    )


def topk_per_group(
    df: DataFrame,
    k: int,
    group_col: str = "source",
    order_col: str = "n_chars",
    key_col: str = "doc_id",
) -> DataFrame:
    """Keep the top-`k` rows per group ranked by `order_col` descending
    (ties broken by `key_col` ascending for determinism) — "best N
    documents per domain" curation. One shuffle on the group key; the
    rank is a running row_number, so each group streams through its
    window without materializing. At 100 TB with a skewed mega-group,
    pre-aggregate with a per-partition partial top-k (groupBy +
    `max_by`-style slicing) before the window if profiling shows one
    straggler partition; the final selection is identical."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    w = Window.partitionBy(group_col).orderBy(
        F.col(order_col).desc(), F.col(key_col)
    )
    return (
        df.withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") <= k)
        .drop("__rk")
    )


def chunk_documents(
    docs: DataFrame,
    chunk_chars: int = 256,
    overlap: int = 32,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Split each document into fixed-size character windows with
    `overlap` characters of context carried between consecutive chunks —
    the context-window packing step before tokenization/embedding.
    Pure narrow plan: `posexplode(sequence(...))` + `substring`; no
    shuffle, no Python, and chunk boundaries are a deterministic
    function of (doc, offsets) so reruns produce identical chunk ids.
    Output: (id, chunk_idx, chunk_text, chunk_chars_actual)."""
    if chunk_chars <= overlap:
        raise ValueError(
            f"chunk_chars ({chunk_chars}) must exceed overlap ({overlap})"
        )
    step = chunk_chars - overlap
    n = F.length(F.col(text_col))
    starts = F.sequence(F.lit(0), F.greatest(n - 1, F.lit(0)), F.lit(step))
    return (
        docs.select(
            F.col(id_col),
            F.col(text_col),
            F.posexplode(starts).alias("chunk_idx", "__start"),
        )
        .select(
            F.col(id_col),
            F.col("chunk_idx"),
            # substring is 1-based
            F.col(text_col)
            .substr(F.col("__start") + 1, F.lit(chunk_chars))
            .alias("chunk_text"),
        )
        .withColumn("chunk_len", F.length("chunk_text"))
    )


def corpus_stats(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-source corpus data card: document/token/char volumes, the
    distinct-content count (its gap to n_docs IS the exact-dup rate),
    English share by stopword vote, and mean tokens per doc in integer
    micro-units — the summary table every dataset release ships.

    One groupBy(source): every signal is a map-side Column expression
    (token split, stopword votes, md5) feeding partially-aggregated
    counts, so the shuffle moves a handful of longs per source. All
    outputs exact integers (COVERAGE.md hash discipline)."""
    from .textstats import EN_STOPWORDS, ES_STOPWORDS

    toks = F.filter(
        F.split(F.trim(F.lower(F.col(text_col))), TOKEN_SPLIT_RE),
        lambda t: t != "",
    )
    en = F.size(F.filter(toks, lambda t: t.isin(EN_STOPWORDS)))
    es = F.size(F.filter(toks, lambda t: t.isin(ES_STOPWORDS)))
    base = docs.select(
        F.col("source"),
        F.size(toks).cast("bigint").alias("__nt"),
        F.length(F.col(text_col)).cast("bigint").alias("__nc"),
        F.md5(F.col(text_col)).alias("__dg"),
        (en > es).cast("bigint").alias("__is_en"),
    )
    out = base.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum("__nt").alias("n_tokens"),
        F.sum("__nc").alias("n_chars"),
        F.count_distinct("__dg").alias("n_distinct_docs"),
        F.sum("__is_en").alias("n_english"),
    )
    return out.withColumn(
        "mean_tokens_micro",
        F.expr("(n_tokens * CAST(1000000 AS BIGINT)) DIV n_docs"),
    )


def filter_funnel(
    docs: DataFrame,
    min_tokens: int = 10,
    langs: tuple = ("en",),
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Observability for the cleaning pass: how many documents (and
    tokens) survive each stage of the clean_corpus composition —
    input -> language filter -> length filter -> exact dedup. Four
    rows: (stage_idx, stage, n_docs, n_tokens).

    Stages 0-2 are conditional sums in ONE global aggregate (no keyed
    shuffle — partial aggregation reduces each partition to three
    counters); the dedup stage needs the one digest-keyed shuffle the
    dedup itself needs (representative = lowest id per digest, token
    count of the kept row). Exact integers throughout."""
    from .textstats import EN_STOPWORDS, ES_STOPWORDS

    toks = F.filter(
        F.split(F.trim(F.lower(F.col(text_col))), TOKEN_SPLIT_RE),
        lambda t: t != "",
    )
    en = F.size(F.filter(toks, lambda t: t.isin(EN_STOPWORDS)))
    es = F.size(F.filter(toks, lambda t: t.isin(ES_STOPWORDS)))
    lang_pred = (
        F.when(en > es, F.lit("en"))
        .when(es > en, F.lit("es"))
        .otherwise(F.lit("unknown"))
    )
    base = docs.select(
        F.col(id_col),
        F.size(toks).cast("bigint").alias("__nt"),
        F.md5(F.col(text_col)).alias("__dg"),
        lang_pred.isin(list(langs)).alias("__lang_ok"),
    ).withColumn("__len_ok", F.col("__lang_ok") & (F.col("__nt") >= min_tokens))
    agg = base.agg(
        F.count("*").alias("n0"),
        F.sum("__nt").alias("t0"),
        F.sum(F.when(F.col("__lang_ok"), 1).otherwise(0)).alias("n1"),
        F.sum(F.when(F.col("__lang_ok"), F.col("__nt")).otherwise(0)).alias("t1"),
        F.sum(F.when(F.col("__len_ok"), 1).otherwise(0)).alias("n2"),
        F.sum(F.when(F.col("__len_ok"), F.col("__nt")).otherwise(0)).alias("t2"),
    )
    stages = agg.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit(0).cast("bigint").alias("stage_idx"),
                    F.lit("input").alias("stage"),
                    F.col("n0").cast("bigint").alias("n_docs"),
                    F.col("t0").cast("bigint").alias("n_tokens"),
                ),
                F.struct(
                    F.lit(1).cast("bigint").alias("stage_idx"),
                    F.lit("lang").alias("stage"),
                    F.col("n1").cast("bigint").alias("n_docs"),
                    F.col("t1").cast("bigint").alias("n_tokens"),
                ),
                F.struct(
                    F.lit(2).cast("bigint").alias("stage_idx"),
                    F.lit("length").alias("stage"),
                    F.col("n2").cast("bigint").alias("n_docs"),
                    F.col("t2").cast("bigint").alias("n_tokens"),
                ),
            )
        ).alias("s")
    ).select("s.*")
    kept = (
        base.filter(F.col("__len_ok"))
        .groupBy("__dg")
        .agg(F.min_by("__nt", F.col(id_col)).alias("__nt"))
        .agg(
            F.count("*").alias("n_docs"),
            F.coalesce(F.sum("__nt"), F.lit(0)).alias("n_tokens"),
        )
        .select(
            F.lit(3).cast("bigint").alias("stage_idx"),
            F.lit("dedup").alias("stage"),
            F.col("n_docs").cast("bigint"),
            F.col("n_tokens").cast("bigint"),
        )
    )
    return stages.unionByName(kept)


def clean_corpus(
    docs: DataFrame,
    min_tokens: int = 10,
    langs: tuple = ("en",),
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """One-pass C4-style corpus cleaning (Raffel et al. 2020 §2.2
    composition): language filter -> length filter -> exact dedup
    (keep lowest id per content digest) -> PII redaction, composed as a
    single DataFrame plan so Catalyst fuses every per-row step into one
    codegen stage around the one unavoidable shuffle (the digest
    window).

    Beyond-reference surface: the composition entry — each stage exists
    standalone in textstats/dedup, this is the "run the whole cleaning
    pass" operator a pipeline user actually calls. The lang-ID vote,
    the whitespace token count AND the email redaction are the SAME
    shared expressions the standalone operators project
    (textstats.lang_pred_expr / _tokens / redact_email_expr), so this
    entry's driver hash gates them too.

    Scale design (100 TB): lang-ID, token count and the digest are
    map-side Column expressions evaluated BEFORE the shuffle, so the
    exchange carries only survivors of the cheap filters; the dedup is
    one row_number window over md5(text) (same key discipline as
    exact_dedup — the 32-hex digest shuffles, the text rides compressed
    with its row); redaction happens after the filter so regex work is
    spent only on kept rows.

    Output: (id, source, lang_pred, n_tokens, clean_text)."""
    from .textstats import _tokens, lang_pred_expr, redact_email_expr

    toks = _tokens(F.col(text_col))
    lang_pred = lang_pred_expr(toks)
    staged = docs.select(
        F.col(id_col),
        F.col("source"),
        F.col(text_col),
        lang_pred.alias("lang_pred"),
        F.size(toks).alias("n_tokens"),
    ).filter(
        F.col("lang_pred").isin(list(langs)) & (F.col("n_tokens") >= min_tokens)
    )
    w = Window.partitionBy(F.md5(F.col(text_col))).orderBy(F.col(id_col))
    return (
        staged.withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") == 1)
        .select(
            F.col(id_col),
            F.col("source"),
            F.col("lang_pred"),
            F.col("n_tokens"),
            redact_email_expr(F.col(text_col)).alias("clean_text"),
        )
    )


def global_prefix_sum(
    df: DataFrame,
    value_col: str,
    order_col: str = "doc_id",
    num_ranges: int = 32,
) -> DataFrame:
    """Input columns plus ``__before`` = the sum of `value_col` over all
    rows strictly earlier in `order_col` order.

    Scalable prefix-sum (no single-partition global window): range-
    partition by the order key, local window-cumsum within each range,
    then offset every range by the driver-computed prefix of per-range
    totals (collect of `num_ranges` rows, not data)."""
    parts = spread(df).repartitionByRange(num_ranges, F.col(order_col)).withColumn(
        "__pid", F.spark_partition_id()
    )
    w = (
        Window.partitionBy("__pid")
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    local = parts.withColumn("__cum", F.sum(value_col).over(w))
    totals = {
        r["__pid"]: r["t"]
        for r in local.groupBy("__pid").agg(F.max("__cum").alias("t")).collect()
    }
    offsets, acc = {}, 0
    for pid in sorted(totals):
        offsets[pid] = acc
        acc += totals[pid]
    offset_col = F.coalesce(
        *[
            F.when(F.col("__pid") == pid, F.lit(off))
            for pid, off in sorted(offsets.items())
        ],
        F.lit(0),
    ) if offsets else F.lit(0)
    return local.withColumn(
        "__before", (F.col("__cum") + offset_col - F.col(value_col)).cast("bigint")
    ).drop("__pid", "__cum")


def pack_shards(
    docs: DataFrame,
    budget: int,
    n_tokens_col: str = "n_tokens",
    order_col: str = "doc_id",
    num_ranges: int = 32,
) -> DataFrame:
    """Assign each document a shard id so consecutive documents (in
    `order_col` order) accumulate into shards of ~`budget` tokens:
    ``shard = floor(tokens_before_this_doc / budget)`` — see
    global_prefix_sum for the scalable prefix-sum plan."""
    pre = global_prefix_sum(docs, n_tokens_col, order_col, num_ranges)
    return pre.select(
        F.col(order_col),
        F.col(n_tokens_col),
        F.floor(F.col("__before") / F.lit(budget)).alias("shard"),
    )


def pack_sequences(
    docs: DataFrame,
    seq_len: int,
    n_tokens_col: str = "n_tokens",
    order_col: str = "doc_id",
    num_ranges: int = 32,
) -> DataFrame:
    """Fixed-length training-sequence packing: documents concatenate in
    `order_col` order into back-to-back contexts of exactly `seq_len`
    tokens (no padding between docs — the GPT-style packed-pretraining
    layout), and each document learns WHERE it landed: its global token
    offset, the first/last sequence it touches, its offset inside that
    first sequence, and how many sequences it spans. Downstream, the
    (seq_first, offset_in_seq) pairs are exactly the index a packed-
    example writer or an attention-boundary mask builder needs.

    One scalable prefix sum (global_prefix_sum) + pure integer
    arithmetic: every output is an exact BIGINT (hash-safe)."""
    pre = global_prefix_sum(docs, n_tokens_col, order_col, num_ranges)
    n = F.col(n_tokens_col)
    first = F.expr(f"__before DIV {seq_len}")
    last = F.expr(
        f"CASE WHEN {n_tokens_col} > 0"
        f" THEN (__before + {n_tokens_col} - 1) DIV {seq_len}"
        f" ELSE __before DIV {seq_len} END"
    )
    return pre.select(
        F.col(order_col),
        n.cast("bigint").alias(n_tokens_col),
        F.col("__before").alias("tok_offset"),
        first.cast("bigint").alias("seq_first"),
        last.cast("bigint").alias("seq_last"),
        (F.col("__before") % seq_len).cast("bigint").alias("offset_in_seq"),
        F.expr(
            f"CASE WHEN {n_tokens_col} > 0 THEN "
            f"((__before + {n_tokens_col} - 1) DIV {seq_len}) - (__before DIV {seq_len}) + 1 "
            f"ELSE CAST(0 AS BIGINT) END"
        ).cast("bigint").alias("n_seqs"),
    )


def write_bucketed(
    df,
    table_name: str,
    path: str,
    key: str = "doc_id",
    buckets: int = 8,
):
    """Persist `df` as a bucketed+sorted parquet table: rows are hash-
    partitioned into `buckets` files by `key` and sorted by it within
    each bucket, and the layout is recorded in the session catalog.

    This is THE storage-side lever for repeated large-scale joins: two
    tables bucketed the same way join with ZERO shuffle (Spark plans a
    SortMergeJoin whose children are bare bucketed scans — no Exchange
    node), so at 100 TB the join cost is a co-located merge instead of
    re-shuffling both sides every query. The plan shape is locked by
    test_bucketed_join_has_no_shuffle_exchange.

    `path` makes it an external table (data lives where the caller
    says); mode("overwrite") keeps the entry re-runnable."""
    (
        df.write.mode("overwrite")
        .bucketBy(buckets, key)
        .sortBy(key)
        .option("path", path)
        .format("parquet")
        .saveAsTable(table_name)
    )
    return df.sparkSession.table(table_name)
