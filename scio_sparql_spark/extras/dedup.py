"""Deduplication operators for large-scale text corpora.

Beyond-reference surface (BASELINE.json north star): exact dedup,
n-gram Jaccard near-dup, MinHash+LSH banding, SimHash. All pure
DataFrame/native-function plans — no Python in the row path.

Scale notes (100 TB):
- exact: one hash-groupBy shuffle on a 16-byte digest, map-side combine.
- minhash_lsh: signatures are computed per-row map-side (zero shuffle —
  the shingle explode + 64-way min-agg alternative produced identical
  values but paid a full O(docs x shingles) shuffle); the only shuffles
  left are the (band, bucket) bucket join and the final pair distinct.
  Signatures ride through the band join (~8 KB/doc for 64 hashes x 16
  bands), which beats re-joining a cached signature table twice: no
  cache/checkpoint dependency at 100 TB and two fewer shuffles.
- simhash: also per-row map-side (hash each token once, 64 bit-votes via
  array aggregates) — no shuffle at all before the blocking join.
- ngram_jaccard_pairs is the *exact* quadratic baseline for oracle
  verification at small SF; use the LSH path at scale.
- all operators `spread()` their input first: a single-row-group parquet
  of long documents otherwise serializes the map work onto one core.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

from ..checkpoints import CheckpointScope
from .util import TOKEN_SPLIT_RE, spread, spread_pinned

TOKEN_RE = TOKEN_SPLIT_RE  # r16: explicit RE2-equal whitespace class


# r18 (guide §2.3 "shuffle keys and metadata instead of payloads",
# VERDICT r17 Next #1): the prefix-filtered candidate machinery in
# ngram_jaccard_pairs / containment_pairs runs entirely on an 8-byte
# hash of each shingle instead of the ~20-60 B shingle string — the
# df aggregate, the df join, the per-doc (df, g) struct sort, and the
# postings self-join all shuffle and compare longs. Module-level (not
# inlined) so the collision-tolerance test can swap in a deliberately
# colliding hash and prove the output is hash-independent.
#
# EXACTNESS (why collisions cannot change output rows): the prefix
# filter is correct under ANY global total order of the element
# universe. Model the hashed universe as hash OCCURRENCES (each
# distinct shingle of a doc contributes one posting whose key is its
# hash): a true pair with string intersection C has hash-occurrence
# matching of size >= |C| (every common string contributes one
# matched occurrence on each side), the (df, hash) order is a
# function of the hash so it is globally consistent, and equal-key
# occurrences are interchangeable (their structs are identical, so
# array_sort placement cannot matter). The order-preserving matching
# of common occurrences has a minimal matched pair (i, j); all other
# matched pairs rank after it on BOTH sides, so the prefix bound
# (i <= |A| - |C| + 1) and the positional bound
# (1 + min(|A|-i, |B|-j) >= |C|) hold at a join row the hash-equality
# candidate join emits. Collisions therefore only ADD candidate rows
# (hash equality is a superset of string equality) and only RELAX the
# effective prune (df of a collided hash is the sum of its strings'
# dfs, which just reorders/extends prefixes within a still-consistent
# order); the final verify recomputes the measure on the FULL STRING
# shingle sets, so every extra candidate is filtered exactly and the
# output bag is identical for any hash function — locked by
# test_dedup_proxy_hash_collisions.
_PROXY_HASH = F.xxhash64


def _hashed_posts(sh: DataFrame):
    """(id, ns, g) postings with g = _PROXY_HASH(shingle) — the narrow
    proxy every candidate-side shuffle carries (8 B vs the string)."""
    return sh.select(
        "id", F.size("sh").alias("ns"), F.explode("sh").alias("g0")
    ).select("id", "ns", _PROXY_HASH("g0").alias("g"))


def _tokens(col):
    # Filter empties so a whitespace-only / empty document tokenizes to
    # [] (n_tokens=0), matching the DuckDB oracles' list_filter(...,
    # t -> t <> '') and textstats._tokens — a bare split yields one
    # empty-string token on such docs (latent hash mismatch; ADVICE r5).
    return F.filter(F.split(F.trim(F.lower(col)), TOKEN_RE), lambda t: t != "")


def exact_dedup(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep one representative (min id) per exact text. Hash-groupBy on
    md5(text) — the digest, not the full text, shuffles."""
    return (
        docs.select(F.col(id_col), F.md5(F.col(text_col)).alias("__h"))
        .groupBy("__h")
        .agg(F.min(id_col).alias(id_col))
        .select(id_col)
    )


def token_ngrams(col, n: int = 3):
    """Array of word n-grams (shingles) from a text column.

    Documents with fewer than ``n`` tokens yield an EMPTY array — no
    truncated sub-n-gram window. (Through round 4 a short doc emitted
    one whole-doc window, which made "n_windows=1 for a 2-token doc
    under n=3" a semantic trap for callers; VERDICT r4 item 3.)"""
    toks = _tokens(col)
    grams = F.transform(
        F.sequence(F.lit(0), F.size(toks) - n),
        lambda i: F.array_join(F.slice(toks, i + 1, n), " "),
    )
    return F.when(F.size(toks) >= n, grams).otherwise(
        F.array().cast("array<string>")
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    threshold: float = 0.6,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    prefix_filter: str = "auto",
) -> DataFrame:
    """EXACT all-pairs n-gram Jaccard >= threshold (a < b).

    Three plan shapes, all producing identical rows (r11, VERDICT r10
    missing #2):

    - threshold <= 0: the cartesian (non-overlapping pairs must be
      emitted too).
    - 0 < threshold < 0.4 under ``prefix_filter='auto'``: the plain
      inverted-index postings self-join (explode shingles, join on the
      shingle, count shared per pair) — exact for any positive
      threshold, quadratic in per-shingle document frequency. At low
      thresholds the ppjoin prefix is (1-t)|sh|+1 long — nearly the
      whole set — so prefix filtering prunes almost nothing and its
      machinery is pure overhead (measured 1.7s -> 5.3s at sf0.1,
      t=0.2); the plain join is the right plan UNLESS the corpus has
      adversarial shingle-frequency skew, in which case pass
      ``prefix_filter='always'``.
    - threshold >= 0.4 (or 'always'): the PREFIX-FILTERED similarity
      join (the classic all-pairs/ppjoin filters — Bayardo et al.
      WWW'07 "Scaling Up All Pairs Similarity Search", Xiao et al.
      WWW'08 "Efficient Similarity Joins for Near Duplicate
      Detection"): shingles get a global total order (ascending
      document frequency, ties by shingle value), each document
      indexes only its FIRST |sh| - ceil(t*|sh|) + 1 shingles in that
      order, candidates come from the prefix-postings self-join
      pruned by the length filter (t*|A| <= |B| <= |A|/t) and the
      positional filter (1 + min(|A|-i, |B|-j) >=
      ceil(t/(1+t)*(|A|+|B|)) at meet positions i, j), and an exact
      array-intersect Jaccard verifies each candidate.

    Prefix-filter exactness: if J(A,B) >= t then |A∩B| >=
    ceil(t*max(|A|,|B|)), and the smallest-ordered common shingle sits
    inside BOTH prefixes (its rank in A is at most |A| - |A∩B| + 1 <=
    |A| - ceil(t*|A|) + 1, symmetrically for B); at that minimal meet
    every other common element lies after both positions, so the
    positional bound also holds there and no true pair is dropped.
    The skew win: the candidate join is quadratic in per-shingle
    PREFIX frequency, not raw document frequency — a stopword-like
    shingle (global df ~ corpus size) sorts LAST in the df order and
    enters a document's prefix only when the document has fewer than
    1/t shingles, so the high-df blowup the plain join's r10
    docstring conceded cannot happen (measured 9.5s -> 1.5s, 6.5x, on
    a 4k-doc corpus sharing a universal 4-token prefix; the fuzz
    family covers it vs brute force). All pruning bounds run on
    t_eff = t - 1e-6 with a further (value - 1e-9) ceil guard: float
    error AND the final filter's ROUND(J, 6) boundary can only
    LENGTHEN a prefix or RELAX a prune (more candidates, still exact)
    — a pair whose raw J sits just under t but rounds up to t is
    covered by the t_eff proofs, so the three plan shapes stay
    row-identical even at the rounding boundary (r11 review finding).
    Thresholds above 1 give an empty prefix and the correct empty
    result (r10's postings form returned empty there too).

    spread_pinned (not plain spread): joining on the exploded shingle
    makes Catalyst infer isnotnull/size filters containing the whole
    shingle derivation and push them below the repartition — the
    shingle HOF then evaluates twice on the input's original (single)
    partition, measured 6.2s of the sf0.1 join; the nondeterministic
    fence keeps the derivation above the Exchange."""
    if prefix_filter not in ("auto", "always", "never"):
        raise ValueError(
            f"prefix_filter must be auto|always|never, got {prefix_filter!r}"
        )
    sh = spread_pinned(docs).select(
        F.col(id_col).alias("id"),
        F.array_distinct(token_ngrams(F.col(text_col), n)).alias("sh"),
    )
    if threshold <= 0:
        a = sh.alias("a")
        b = sh.alias("b")
        inter = F.size(F.array_intersect(F.col("a.sh"), F.col("b.sh")))
        union = F.size(F.array_union(F.col("a.sh"), F.col("b.sh")))
        jac = inter / union
        return (
            a.join(b, F.col("a.id") < F.col("b.id"))
            .select(
                F.col("a.id").alias("id_a"),
                F.col("b.id").alias("id_b"),
                F.round(jac, 6).alias("jaccard"),
            )
            .filter(F.col("jaccard") >= threshold)
        )
    use_prefix = prefix_filter == "always" or (
        prefix_filter == "auto" and threshold >= 0.4
    )
    if not use_prefix:
        # r17 (guide §2.2 project-early / fewer joins): the set sizes
        # ride THROUGH the postings join as two int columns and come
        # back out of the pair aggregate via first() — ns is a function
        # of the group key, so first() is deterministic-by-value —
        # instead of two post-agg joins against a sizes frame that
        # re-derived the whole tokenize+shingle chain per side
        # (measured 2.46s -> 1.92s at sf0.1, row-identical).
        posts = sh.select("id", F.size("sh").alias("ns"), F.explode("sh").alias("g"))
        inter = (
            posts.alias("a")
            .join(
                posts.alias("b"),
                (F.col("a.g") == F.col("b.g")) & (F.col("a.id") < F.col("b.id")),
            )
            .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
            .agg(
                F.count(F.lit(1)).alias("__i"),
                F.first(F.col("a.ns")).alias("__na"),
                F.first(F.col("b.ns")).alias("__nb"),
            )
        )
        jac = F.col("__i") / (F.col("__na") + F.col("__nb") - F.col("__i"))
        return (
            inter.select("id_a", "id_b", F.round(jac, 6).alias("jaccard"))
            .filter(F.col("jaccard") >= threshold)
        )
    # r18: the candidate machinery below runs on _PROXY_HASH(shingle)
    # longs, not shingle strings — see the _PROXY_HASH exactness note
    # (any consistent order works for the prefix proofs; collisions
    # only add candidates; the verify below is exact on strings).
    posts = _hashed_posts(sh)
    # global document frequency per shingle hash: one partial-agg
    # shuffle of 8-byte keys (at 100 TB this is the corpus vocabulary —
    # big, so a plain shuffle join, never a driver collect; AQE
    # broadcasts it at small SF on its own)
    freq = posts.groupBy("g").agg(F.count(F.lit(1)).alias("__df"))
    # The FINAL filter tests the ROUNDED Jaccard (round(J,6) >= t), so
    # a pair with raw J in [t - 5e-7, t) still belongs in the output.
    # All candidate-pruning bounds therefore use t_eff = t - 1e-6: the
    # prefix/length/positional exactness proofs then cover every pair
    # with raw J >= t_eff, a superset of everything that can round up
    # to >= t — keeping the three plan shapes row-identical even at the
    # rounding boundary (r11 review finding).
    t_eff = max(threshold - 1e-6, 1e-12)
    # per-document prefix in the global (df, g) order, built with array
    # ops after ONE groupBy(id): collect the doc's (df, g) structs
    # (bounded by document length, never corpus size), sort, slice the
    # prefix, re-explode with positions. greatest(.., 0): thresholds
    # above 1 drive p_len negative — an empty prefix (no candidates,
    # empty result) is the correct degeneration, not a slice() error.
    arr = posts.join(freq, on="g").groupBy("id").agg(
        F.first("ns").alias("ns"),
        F.collect_list(F.struct(F.col("__df"), F.col("g"))).alias("__sg"),
    )
    p_len = F.greatest(
        (
            F.col("ns") - F.ceil(F.lit(t_eff) * F.col("ns") - F.lit(1e-9)) + 1
        ).cast("int"),
        F.lit(0),
    )
    pre = arr.select(
        "id",
        "ns",
        F.posexplode(F.slice(F.array_sort("__sg"), F.lit(1), p_len)).alias(
            "__pos", "__e"
        ),
    ).select("id", "ns", (F.col("__pos") + 1).alias("rn"), F.col("__e.g").alias("g"))
    # required overlap for J >= t is ceil(t/(1+t) * (|A|+|B|)); the
    # positional bound at a meet (i, j) is 1 + min(|A|-i, |B|-j) —
    # valid at the pair's minimal-order meet, which is the row that
    # keeps any true pair alive through the filter
    req = F.ceil(
        F.lit(t_eff / (1.0 + t_eff)) * (F.col("a.ns") + F.col("b.ns"))
        - F.lit(1e-9)
    )
    bound = 1 + F.least(
        F.col("a.ns") - F.col("a.rn"), F.col("b.ns") - F.col("b.rn")
    )
    cand = (
        pre.alias("a")
        .join(
            pre.alias("b"),
            (F.col("a.g") == F.col("b.g"))
            & (F.col("a.id") < F.col("b.id"))
            & (F.lit(t_eff) * F.col("a.ns") - F.lit(1e-9) <= F.col("b.ns"))
            & (F.lit(t_eff) * F.col("b.ns") - F.lit(1e-9) <= F.col("a.ns"))
            & (bound >= req),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )
    # exact verify on the full shingle sets; |A|+|B|-i == |A∪B| for
    # distinct arrays, so the division (and the round) is bit-identical
    # to the counting form above
    jac = F.size(F.array_intersect(F.col("a.sh"), F.col("b.sh"))) / F.size(
        F.array_union(F.col("a.sh"), F.col("b.sh"))
    )
    return (
        cand.join(sh.alias("a"), cand["id_a"] == F.col("a.id"))
        .join(sh.alias("b"), cand["id_b"] == F.col("b.id"))
        .select("id_a", "id_b", F.round(jac, 6).alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def containment_pairs(
    docs: DataFrame,
    threshold: float = 0.8,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    prefix_filter: str = "auto",
) -> DataFrame:
    """DIRECTED exact containment pairs: (id_a, id_b, containment)
    where containment = |A∩B| / |A| >= threshold — "document A's
    shingles are mostly inside document B". The asymmetric complement
    to ngram_jaccard_pairs: an excerpt, quote, or partial copy of a
    much longer document has containment ~1 toward its source while
    its Jaccard is tiny (bounded by |A|/|B|), so symmetric near-dup
    passes never see it. Both directions are emitted independently
    (identical docs contain each other).

    Two plan shapes, identical rows (r12, VERDICT r11 wrong #2):

    - threshold < 0.4 under ``prefix_filter='auto'`` (or 'never'):
      the plain inverted-index postings self-join (a.id != b.id, one
      count per directed pair, divide by |A|). Exact for any positive
      threshold; work quadratic in per-shingle document frequency —
      fine at benign df, the oracle baseline.
    - threshold >= 0.4 (or 'always'): the ASYMMETRIC prefix-filtered
      join. C(A,B) >= t forces |A∩B| >= ceil(t*|A|), so the
      smallest-ordered common shingle (global ascending-df order, ties
      by value) has rank in A at most |A| - ceil(t*|A|) + 1: index
      only that PREFIX of A. The probe (B) side stays full — unlike
      Jaccard, containment imposes NO length constraint on B (a
      3-gram excerpt can be contained in a book), so there is no
      symmetric length filter and B must expose every shingle. The
      positional filter still applies at the minimal meet (i = rank
      in A, j = rank in B): every other common element sorts after
      both positions, so |A∩B| <= 1 + min(|A|-i, |B|-j), pruned
      against ceil(t*|A|). An exact array-intersect verify on the
      full sets finishes each candidate.

    The skew win is the same as ppjoin's but one-sided: candidate work
    per shingle is prefix_df(g) * df(g), not df(g)^2 — a boilerplate
    shingle (license header, template line; global df ~ corpus size)
    sorts LAST in the df order and enters a document's prefix only
    when the document has fewer than ~1/(1-t) shingles, so the blowup
    the plain join concedes cannot happen (measured 37.3s -> 4.1s,
    9x, on a 4k-doc corpus sharing a universal 4-shingle boilerplate
    header at t=0.8; the fuzz family locks exactness on the same
    corpus shape). Rounding boundary: the
    final filter tests ROUND(C, 6) >= t, so all pruning bounds run on
    t_eff = t - 1e-6 with the -1e-9 ceil guard — float error and the
    round can only LENGTHEN the prefix or RELAX a prune (more
    candidates, still exact), keeping the two shapes row-identical
    even for a pair whose raw C sits just under t but rounds up.
    Thresholds above 1 give an empty prefix and the correct empty
    result. Empty shingle sets (docs shorter than n tokens) produce
    no postings and never appear — 0/0 is excluded, matching the
    Jaccard operator's NULL-drop discipline."""
    if prefix_filter not in ("auto", "always", "never"):
        raise ValueError(
            f"prefix_filter must be auto|always|never, got {prefix_filter!r}"
        )
    sh = spread_pinned(docs).select(
        F.col(id_col).alias("id"),
        F.array_distinct(token_ngrams(F.col(text_col), n)).alias("sh"),
    )
    if threshold <= 0:
        raise ValueError("containment threshold must be > 0")
    use_prefix = prefix_filter == "always" or (
        prefix_filter == "auto" and threshold >= 0.4
    )
    containment = F.col("__i") / F.col("__na")
    if not use_prefix:
        # r17: |A| rides through the postings join and out of the pair
        # aggregate via first() (deterministic: ns is a function of
        # id_a) instead of a post-agg join against a sizes frame that
        # re-derives the shingle chain — the ngram_jaccard_pairs plain
        # path's measured restructure, one-sided here.
        posts = sh.select("id", F.size("sh").alias("ns"), F.explode("sh").alias("g"))
        inter = (
            posts.alias("a")
            .join(
                posts.alias("b"),
                (F.col("a.g") == F.col("b.g")) & (F.col("a.id") != F.col("b.id")),
            )
            .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
            .agg(
                F.count(F.lit(1)).alias("__i"),
                F.first(F.col("a.ns")).alias("__na"),
            )
        )
        return (
            inter.select("id_a", "id_b", F.round(containment, 6).alias("containment"))
            .filter(F.col("containment") >= threshold)
        )
    # r18: candidate machinery on _PROXY_HASH(shingle) longs — see the
    # module-level exactness note (the asymmetric prefix/positional
    # proofs hold under any consistent order; collisions only add
    # candidates; the verify below is exact on strings).
    posts = _hashed_posts(sh)
    # global document frequency per shingle hash: one partial-agg
    # shuffle of 8-byte keys (corpus vocabulary at 100 TB — a shuffle
    # join, never a collect)
    freq = posts.groupBy("g").agg(F.count(F.lit(1)).alias("__df"))
    t_eff = max(threshold - 1e-6, 1e-12)
    # per-document (df, g)-sorted shingle structs, built once per doc
    # after ONE groupBy(id); bounded by document length, never corpus
    # size. The A side slices the containment prefix; the B side
    # re-explodes the FULL sorted array (positions needed for the
    # positional bound, and B has no length filter to hide behind).
    arr = posts.join(freq, on="g").groupBy("id").agg(
        F.first("ns").alias("ns"),
        F.collect_list(F.struct(F.col("__df"), F.col("g"))).alias("__sg"),
    )
    sorted_sg = F.array_sort("__sg")
    p_len = F.greatest(
        (
            F.col("ns") - F.ceil(F.lit(t_eff) * F.col("ns") - F.lit(1e-9)) + 1
        ).cast("int"),
        F.lit(0),
    )
    pre_a = arr.select(
        "id",
        "ns",
        F.posexplode(F.slice(sorted_sg, F.lit(1), p_len)).alias("__pos", "__e"),
    ).select("id", "ns", (F.col("__pos") + 1).alias("rn"), F.col("__e.g").alias("g"))
    full_b = arr.select(
        "id",
        "ns",
        F.posexplode(sorted_sg).alias("__pos", "__e"),
    ).select("id", "ns", (F.col("__pos") + 1).alias("rn"), F.col("__e.g").alias("g"))
    # required overlap is ceil(t*|A|) — containment's denominator is
    # |A| alone, so the bound has no (|A|+|B|) form and no B filter.
    # (An A-side-only positional variant probing raw B postings was
    # prototyped in r12 and measured WORSE on both the adversarial and
    # the benign corpus — the B-side rank term carries real pruning —
    # so both terms stay.)
    req = F.ceil(F.lit(t_eff) * F.col("a.ns") - F.lit(1e-9))
    bound = 1 + F.least(
        F.col("a.ns") - F.col("a.rn"), F.col("b.ns") - F.col("b.rn")
    )
    cand = (
        pre_a.alias("a")
        .join(
            full_b.alias("b"),
            (F.col("a.g") == F.col("b.g"))
            & (F.col("a.id") != F.col("b.id"))
            & (bound >= req),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )
    # exact verify on the full shingle sets; the division is the same
    # |A∩B| / |A| expression as the counting form, so ROUND(.,6) is
    # bit-identical between the two plan shapes
    ver = F.size(F.array_intersect(F.col("a.sh"), F.col("b.sh"))) / F.size(
        F.col("a.sh")
    )
    return (
        cand.join(sh.alias("a"), cand["id_a"] == F.col("a.id"))
        .join(sh.alias("b"), cand["id_b"] == F.col("b.id"))
        .select("id_a", "id_b", F.round(ver, 6).alias("containment"))
        .filter(F.col("containment") >= threshold)
    )


def minhash_signatures(
    docs: DataFrame,
    num_hashes: int = 64,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(id, sig) MinHash signatures: shingles exploded once, then
    num_hashes MIN aggregates in a single groupBy — whole-stage-
    codegen'd partial aggregation does the per-hash work map-side
    before the shuffle. A per-row higher-order-function variant
    (transform/array_min, zero shuffle) benchmarked ~4x SLOWER: HOF
    lambdas evaluate interpreted, outside codegen.

    Each shingle STRING is hashed exactly once (xxhash64) down to a
    LONG; the num_hashes seeded re-hashes then run over those 8 bytes
    instead of the ~80-char shingle — the variable-length string walk
    was the map-side hot loop (4.9s at sf0.1 before, re-hashing every
    string 64x). A multiply-add permutation family would be cheaper
    still but overflows ANSI-mode (Spark 4 default) 64-bit arithmetic,
    which raises rather than wraps."""
    sh = (
        spread(docs)
        .select(
            F.col(id_col).alias("id"),
            F.explode(F.array_distinct(token_ngrams(F.col(text_col), n))).alias("g"),
        )
        .select("id", F.xxhash64("g").alias("s"))
    )
    aggs = [
        F.min(F.xxhash64("s", F.lit(i))).alias(f"h{i}") for i in range(num_hashes)
    ]
    return (
        sh.groupBy("id")
        .agg(*aggs)
        .select("id", F.array(*[F.col(f"h{i}") for i in range(num_hashes)]).alias("sig"))
    )


def minhash_lsh_pairs(
    docs: DataFrame,
    num_hashes: int = 64,
    bands: int = 16,
    threshold: float = 0.6,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """MinHash + LSH banding near-dup candidates, verified by estimated
    Jaccard (signature agreement). shingle -> minhash -> band -> bucket
    join: only same-bucket docs ever meet (no quadratic blowup).

    r11 claw-back (VERDICT r10 #4): the bucket self-join previously
    carried the full 64-long signature array through the band explode
    (16 array copies per doc through the shuffle; 2.18s (r8) -> 3.91s
    at sf0.1). Now the self-join runs on narrow (id, band, bucket)
    rows via _band_candidates, and the estimate fetches each side's
    signature by ONE id-equi-join against the signature table — whose
    groupBy(id) output partitioning the joins reuse (ReuseExchange
    dedups the identical sig subtrees, so signatures compute once).
    Output rows are unchanged: same candidates, same estimates."""
    rows = num_hashes // bands
    sig = minhash_signatures(docs, num_hashes, n, text_col, id_col)
    cand = _band_candidates(sig, bands, rows, bucket_cap=None)
    est = (
        F.aggregate(
            F.zip_with(
                F.col("a.sig"),
                F.col("b.sig"),
                lambda x, y: F.when(x == y, 1).otherwise(0),
            ),
            F.lit(0),
            lambda acc, v: acc + v,
        )
        / num_hashes
    )
    return (
        cand.join(sig.alias("a"), cand["id_a"] == F.col("a.id"))
        .join(sig.alias("b"), cand["id_b"] == F.col("b.id"))
        .select("id_a", "id_b", est.alias("est_jaccard"))
        .filter(F.col("est_jaccard") >= threshold)
    )


def simhash(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id", bits: int = 64) -> DataFrame:
    """64-bit SimHash per document: per-token xxhash64, bit-wise majority
    vote (term-frequency weighted — duplicate tokens vote repeatedly).
    explode -> 64 codegen'd conditional sums in one groupBy; the partial
    aggregation runs map-side (see minhash_signatures on why this beats
    an interpreted per-row HOF formulation)."""
    toks = (
        spread(docs)
        .select(F.col(id_col), F.explode(_tokens(F.col(text_col))).alias("tok"))
        .filter(F.col("tok") != "")
        # hash once per token occurrence, BEFORE the 64 vote exprs —
        # referencing xxhash64(tok) inside each aggregate re-evaluates
        # the string hash per bit (no CSE across aggregate exprs)
        .select(F.col(id_col), F.xxhash64("tok").alias("h"))
    )
    h = F.col("h")
    votes = [
        F.sum(
            F.shiftrightunsigned(h, i).bitwiseAND(F.lit(1).cast("long")) * 2 - 1
        ).alias(f"b{i}")
        for i in range(bits)
    ]
    agg = toks.groupBy(id_col).agg(*votes)
    sh = None
    for i in range(bits):
        bit = F.when(
            F.col(f"b{i}") > 0, F.shiftleft(F.lit(1).cast("long"), i)
        ).otherwise(F.lit(0).cast("long"))
        sh = bit if sh is None else sh.bitwiseOR(bit)
    return agg.select(F.col(id_col), sh.alias("simhash"))


def simhash_dup_pairs(docs: DataFrame, max_hamming: int = 3, **kw) -> DataFrame:
    """Near-dup pairs by SimHash hamming distance, blocked on 16-bit
    chunks (a pair within hamming<=3 shares at least one of 4 chunks)."""
    sh = simhash(docs, **kw).localCheckpoint()
    chunks = sh.select(
        F.col("doc_id").alias("id"),
        F.col("simhash"),
        F.posexplode(
            F.array(
                *[
                    F.shiftrightunsigned(F.col("simhash"), i * 16).bitwiseAND(
                        F.lit(0xFFFF).cast("long")
                    )
                    for i in range(4)
                ]
            )
        ).alias("chunk_idx", "chunk"),
    )
    cand = (
        chunks.alias("x")
        .join(
            chunks.alias("y"),
            (F.col("x.chunk_idx") == F.col("y.chunk_idx"))
            & (F.col("x.chunk") == F.col("y.chunk"))
            & (F.col("x.id") < F.col("y.id")),
        )
        .select(
            F.col("x.id").alias("id_a"),
            F.col("y.id").alias("id_b"),
            F.col("x.simhash").alias("ha"),
            F.col("y.simhash").alias("hb"),
        )
        .distinct()
    )
    ham = F.bit_count(F.col("ha").bitwiseXOR(F.col("hb")))
    return cand.select("id_a", "id_b", ham.alias("hamming")).filter(
        F.col("hamming") <= max_hamming
    )


def connected_components(
    edges: DataFrame,
    src_col: str = "id_a",
    dst_col: str = "id_b",
    max_iter: int = 25,
    stats: dict | None = None,
) -> DataFrame:
    """Connected components over an undirected edge list -> (node,
    label) where label = the minimum node id reachable in the component.
    The step dedup clustering needs after candidate-pair generation
    (LSH/Jaccard emits PAIRS; keeping one doc per duplicate CLUSTER
    requires the transitive closure of those pairs).

    Hash-min label propagation, SEMI-NAIVE (VERDICT r8 item 4): only
    nodes whose label improved last round push their label to
    neighbors — min is idempotent, so a label pushed when it last
    changed never needs re-pushing, and the per-round join shrinks
    with the frontier instead of rescanning every (node, label). Each
    round is one job: frontier-push join + groupBy(node) min + merge +
    a label-SHORTCUT join, materialized by localCheckpoint (truncates
    the growing lineage — same pattern as the `p*`/`p+` property-path
    fixpoint, compiler.py); convergence is a ``changed``-flag scan
    over the already-materialized result.

    The shortcut (r13, VERDICT r12 next #1) is pointer doubling in the
    Shiloach–Vishkin sense: after the one-hop merge gives node v the
    candidate label m, v also adopts PREVIOUS-round label of m itself
    (a self-join of the label table, valid because labels are node ids
    and min-reachable is transitive). One-hop reach r becomes 2r+1 per
    round, so a diameter-d component converges in ceil(log2(d)) + 1
    rounds instead of d — pytest-locked on a path graph
    (test_dedup.py). Each round is one driver barrier either way, so
    halving-to-log the round count is exactly what cuts both the
    shuffle count at 100x scale and the noise amplification a
    driver-synchronous loop suffers under co-tenant load (VERDICT r12
    wrong #1). Skew note: the shortcut join keys on the CURRENT label,
    which concentrates a giant component's rows on one key late in the
    fixpoint — the lookup side is one row per key so AQE skew-split
    handles it; for adversarial giant-diameter graphs large-star/
    small-star remains the alternative shape. ``stats``, when passed,
    records {"rounds": n} for tests/telemetry."""
    with CheckpointScope(edges.sparkSession) as cp:
        # Materialize ONCE: sym joins into every iteration, and without
        # the checkpoint each round re-executes the upstream pair
        # generation (for the exact-Jaccard caller that's the full
        # quadratic candidate pass, re-run per iteration — measured 5x
        # the whole operator's runtime at sf0.01).
        sym = cp.checkpoint(
            edges.select(F.col(src_col).alias("node"), F.col(dst_col).alias("nbr"))
            .union(
                edges.select(F.col(dst_col).alias("node"), F.col(src_col).alias("nbr"))
            )
        )
        labels = cp.checkpoint(
            sym.select("node").distinct().withColumn("label", F.col("node"))
        )
        frontier = labels  # round 1: every node announces its own id
        rounds = 0
        for _ in range(max_iter):
            rounds += 1
            nbr_min = (
                sym.join(
                    frontier.select(
                        F.col("node").alias("nbr"), F.col("label").alias("flabel")
                    ),
                    on="nbr",
                )
                .groupBy("node")
                .agg(F.min("flabel").alias("nbr_label"))
            )
            hop = labels.join(nbr_min, on="node", how="left").select(
                "node",
                F.col("label").alias("old"),
                F.least(
                    F.col("label"), F.coalesce("nbr_label", F.col("label"))
                ).alias("hlabel"),
            )
            if rounds == 1:
                # round 1's shortcut is provably a no-op (the previous
                # label table is the identity, L_0(m) = m) — skip the
                # join entirely; shallow dedup graphs converge in 2-3
                # rounds, so a wasted round-1 join would eat most of
                # the doubling's win there
                merged = hop.select(
                    "node",
                    F.col("hlabel").alias("label"),
                    (F.col("hlabel") < F.col("old")).alias("__changed"),
                )
            else:
                # pointer doubling: adopt L_prev(hlabel) — `labels` is
                # the PREVIOUS round's checkpointed table, so the
                # lookup side costs no recompute and `hop` appears
                # exactly once in the plan
                short = labels.select(
                    F.col("node").alias("hlabel"), F.col("label").alias("slabel")
                )
                merged = hop.join(short, on="hlabel", how="left").select(
                    "node",
                    F.least(
                        F.col("hlabel"), F.coalesce("slabel", F.col("hlabel"))
                    ).alias("label"),
                    (
                        F.least(
                            F.col("hlabel"), F.coalesce("slabel", F.col("hlabel"))
                        )
                        < F.col("old")
                    ).alias("__changed"),
                )
            new = cp.checkpoint(merged)
            # the eager checkpoint consumed the previous round's label
            # table (labels AND frontier both project from it)
            cp.retain(sym, new)
            frontier = new.filter("__changed").select("node", "label")
            labels = new.select("node", "label")
            if not frontier.take(1):  # scan of checkpointed rows, no shuffle
                break
        cp.retain(labels)
    if stats is not None:
        stats["rounds"] = rounds
    return labels


def cluster_ids(
    docs: DataFrame,
    edges: DataFrame,
    id_col: str = "doc_id",
    src_col: str = "id_a",
    dst_col: str = "id_b",
) -> DataFrame:
    """(doc_id, cluster_id) for EVERY document: the component label for
    docs that appear in a duplicate pair, the doc's own id for
    singletons. Downstream dedup keeps `doc_id == cluster_id` rows."""
    labels = connected_components(edges, src_col, dst_col)
    return docs.select(id_col).join(
        labels.withColumnRenamed("node", id_col), on=id_col, how="left"
    ).select(
        F.col(id_col),
        F.coalesce("label", F.col(id_col)).alias("cluster_id"),
    )


def contamination_hits(
    corpus: DataFrame,
    benchmark: DataFrame,
    n: int = 13,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Train/test contamination check: for each corpus document, count
    its distinct word ``n``-grams that also occur anywhere in the
    benchmark set (the standard n-gram-overlap decontamination test —
    only documents with at least one hit are returned; drop them, or
    inspect ``n_hits`` for severity).

    Beyond-reference surface (no counterpart in the reference engine).

    Scale design (100 TB corpus, small benchmark): the benchmark side —
    an eval suite, thousands of docs — collapses to a DISTINCT shingle
    set and is explicitly broadcast, so the corpus side is a single
    map-side pass: explode shingles, hash-join against the broadcast
    set, one groupBy on doc id (partial count map-side). The corpus is
    never shuffled by shingle; the only shuffle is the per-doc count on
    ``id_col``.
    """
    bench_sh = (
        spread(benchmark)
        .select(F.explode(F.array_distinct(token_ngrams(F.col(text_col), n))).alias("g"))
        .distinct()
    )
    corpus_sh = spread(corpus).select(
        F.col(id_col),
        F.explode(F.array_distinct(token_ngrams(F.col(text_col), n))).alias("g"),
    )
    return (
        corpus_sh.join(F.broadcast(bench_sh), on="g")
        .groupBy(id_col)
        .agg(F.count("*").alias("n_hits"))
    )


def bloom_contamination_hits(
    corpus: DataFrame,
    benchmark: DataFrame,
    n: int = 13,
    m_bits: int = 1 << 20,
    k: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """contamination_hits with a Bloom-filter prefilter: identical
    output (a Bloom filter has NO false negatives, and every candidate
    is exactly verified), but the corpus-side map carries a 2^m_bits
    BITMAP (128 KB at the default) instead of the benchmark's full
    shingle-string set. That is the 100-TB shape: the broadcast is
    constant-size no matter how large the eval suite grows, the
    corpus-side test is k integer probes per shingle, and only the
    candidate sliver (true hits + ~|corpus shingles| * fp-rate) ever
    reaches the exact string join. With the defaults and a 100k-
    shingle benchmark the false-positive rate is ~(k*n/m)^k ~ 2e-6.

    Bit positions are k seeded xxhash64 probes (`bloom:{j}` chained
    seed — the derivation tests/test_xxh.py proves replicable outside
    Spark). The verify step makes the output EQUAL contamination_hits,
    so the same exact DuckDB oracle gates this entry — the two-phase
    pattern dedup_minhash_verified established.
    """
    from pyspark.sql.functions import pandas_udf

    bench_sh = (
        spread(benchmark)
        .select(F.explode(F.array_distinct(token_ngrams(F.col(text_col), n))).alias("g"))
        .distinct()
    )
    pos_cols = [
        F.pmod(F.xxhash64(F.lit(f"bloom:{j}"), F.col("g")), F.lit(m_bits)).alias(
            f"p{j}"
        )
        for j in range(k)
    ]
    # build: benchmark is small by contract (an eval suite) — collect
    # its k*|shingles| bit positions and set them in a bit-PACKED numpy
    # bitmap (np.packbits: m_bits/8 bytes — 128 KB at the default — in
    # every task closure, not the 1 MB a bool-per-bit array costs).
    # (At a larger benchmark, swap in a mapInPandas OR-reduce of
    # per-partition bitmaps — the gram_matrix_micro pattern.)
    bits = np.zeros(m_bits, dtype=bool)
    for row in bench_sh.select(*pos_cols).collect():
        for j in range(k):
            bits[row[f"p{j}"]] = True
    bitmap = np.packbits(bits)  # big-endian within each byte

    @pandas_udf("boolean")
    def _maybe(*pos: pd.Series) -> pd.Series:
        def probe(p: pd.Series) -> np.ndarray:
            idx = p.to_numpy()
            # packbits is MSB-first: bit i lives in byte i>>3 at
            # position 7 - (i & 7) from the LSB
            return (bitmap[idx >> 3] >> (7 - (idx & 7)) & 1).astype(bool)

        hit = probe(pos[0])
        for p in pos[1:]:
            hit &= probe(p)
        return pd.Series(hit)

    corpus_sh = spread(corpus).select(
        F.col(id_col),
        F.explode(F.array_distinct(token_ngrams(F.col(text_col), n))).alias("g"),
    )
    cand = corpus_sh.filter(
        _maybe(*[c for c in pos_cols])
    )
    # exact verify on the candidate sliver only
    return (
        cand.join(F.broadcast(bench_sh), on="g")
        .groupBy(id_col)
        .agg(F.count("*").alias("n_hits"))
    )


def dup_span_coverage(
    docs: DataFrame,
    n: int = 13,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document duplicated-substring signal: what fraction of the
    document's distinct word ``n``-gram windows also occur in at least
    one OTHER document. The window-level (substring) complement to
    whole-document MinHash — high coverage means the doc is largely
    assembled from text that exists elsewhere in the corpus (the signal
    behind suffix-array substring dedup, Lee et al. 2022, approximated
    here at n-gram granularity so it stays a relational plan).

    Beyond-reference surface (no counterpart in the reference engine).

    Output: (id, n_windows, n_dup_windows, dup_ratio_micro) for EVERY
    document (docs too short to form a window get 0/0/0). The ratio is
    BIGINT micro-units — ``(n_dup_windows * 1e6) div n_windows`` by pure
    integer division — because a rounded real (DOUBLE in r3,
    DECIMAL(38,6) in r4) serializes differently across engines even
    when every value compares equal; integer division is bit-identical
    everywhere (VERDICT r4 item 1).

    Scale design (100 TB): windows are hashed to 64-bit xxhash64 before
    any shuffle, so the two shuffles — groupBy window-hash for the
    corpus-wide count, then groupBy doc for the ratio — move 8-byte
    keys, never 13-gram strings. Both aggregations combine map-side.
    64-bit collisions mis-mark a window as duplicated at odds ~m^2/2^64
    (m = distinct windows): irrelevant below ~10^8 windows and an
    accepted false-positive rate above, like any fingerprint dedup."""
    sh = (
        spread(docs)
        .select(
            F.col(id_col),
            F.explode(F.array_distinct(token_ngrams(F.col(text_col), n))).alias("g"),
        )
        .select(F.col(id_col), F.xxhash64("g").alias("gh"))
    )
    # (id, gh) pairs are distinct per doc, so count(*) per gh = number of
    # docs containing the window (modulo hash collisions, see docstring)
    counts = sh.groupBy("gh").agg(F.count("*").alias("__ndocs"))
    per_doc = (
        sh.join(counts, on="gh")
        .groupBy(id_col)
        .agg(
            F.count("*").alias("n_windows"),
            F.sum(F.when(F.col("__ndocs") > 1, 1).otherwise(0)).alias(
                "n_dup_windows"
            ),
        )
    )
    out = (
        docs.select(id_col)
        .join(per_doc, on=id_col, how="left")
        .select(
            F.col(id_col),
            F.coalesce(F.col("n_windows"), F.lit(0)).cast("bigint").alias("n_windows"),
            F.coalesce(F.col("n_dup_windows"), F.lit(0)).cast("bigint").alias(
                "n_dup_windows"
            ),
        )
    )
    return out.withColumn(
        "dup_ratio_micro",
        F.expr(
            "CASE WHEN n_windows > 0"
            " THEN n_dup_windows * CAST(1000000 AS BIGINT) DIV n_windows"
            " ELSE CAST(0 AS BIGINT) END"
        ),
    )


def remove_dup_spans(
    docs: DataFrame,
    n: int = 3,
    min_docs: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Substring-level deduplication, the actual REMOVAL step of Lee et
    al. 2022 (dup_span_coverage above is the measurement step): drop
    every token covered by a word n-gram window that occurs in >=
    ``min_docs`` distinct documents, and emit the cleaned document's
    token counts + content digest.

    Beyond-reference surface. Plan shape (100 TB): window occurrences
    carry (doc_id, start, xxhash64(gram)) — 8-byte keys, never gram
    strings — through two shuffles (corpus-wide distinct-doc count per
    window hash, then dup-window starts regrouped per doc). The
    covered-token marking is a per-doc array expression (F.exists over
    the doc's dup starts), map-side codegen: per-doc cost is
    O(tokens x dup-windows-in-doc), zero extra shuffle."""
    toks = _tokens(F.col(text_col))
    base = docs.select(F.col(id_col), toks.alias("__toks"))
    sz = F.size(F.col("__toks"))
    win_structs = F.when(
        sz >= n,
        F.transform(
            F.sequence(F.lit(0), sz - n),
            lambda i: F.struct(
                i.cast("int").alias("start"),
                F.xxhash64(F.array_join(F.slice(F.col("__toks"), i + 1, n), " ")).alias(
                    "gh"
                ),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<start:int,gh:bigint>>"))
    wins = spread(base).select(
        F.col(id_col), F.explode(win_structs).alias("w")
    ).select(F.col(id_col), F.col("w.start").alias("start"), F.col("w.gh").alias("gh"))
    dup_keys = (
        wins.groupBy("gh")
        .agg(F.count_distinct(F.col(id_col)).alias("__nd"))
        .filter(F.col("__nd") >= min_docs)
        .select("gh")
    )
    dup_starts = (
        wins.join(dup_keys, on="gh")
        .groupBy(id_col)
        .agg(F.collect_list("start").alias("__starts"))
    )
    joined = base.join(dup_starts, on=id_col, how="left").withColumn(
        "__starts", F.coalesce(F.col("__starts"), F.array().cast("array<int>"))
    )
    starts = F.col("__starts")
    kept_idx = F.when(
        sz > 0,
        F.filter(
            F.sequence(F.lit(0), sz - 1),
            lambda i: ~F.exists(starts, lambda s: (s <= i) & (i <= s + n - 1)),
        ),
    ).otherwise(F.array().cast("array<int>"))
    kept_toks = F.transform(kept_idx, lambda i: F.element_at(F.col("__toks"), i + 1))
    return joined.select(
        F.col(id_col),
        sz.cast("bigint").alias("n_tokens"),
        (sz - F.size(kept_idx)).cast("bigint").alias("n_removed"),
        F.md5(F.array_join(kept_toks, " ")).alias("cleaned_digest"),
    )


def dedup_against_store(
    batch: DataFrame,
    store_digests: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    digest_col: str = "digest",
) -> DataFrame:
    """Incremental (cross-run) exact dedup: drop batch documents whose
    content digest already exists in a persisted digest store — the
    "don't re-ingest what previous pipeline runs already kept" step.
    Returns the surviving batch rows unchanged.

    Beyond-reference surface. The store side is the accumulated history
    (potentially corpus-sized), so it is NOT broadcast: the anti-join
    shuffles both sides on the 16-byte digest — the batch's text rides
    compressed with its row, the store ships digests only. After a run,
    append the survivors' digests to the store (one narrow write) to
    keep the loop incremental."""
    b = batch.withColumn("__dg", F.md5(F.col(text_col)))
    s = store_digests.select(F.col(digest_col).alias("__dg")).distinct()
    return b.join(s, on="__dg", how="left_anti").drop("__dg")


def keep_best_per_cluster(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    score_col: str = "n_chars",
) -> DataFrame:
    """Canonical-document selection: group exact-content duplicates (by
    content digest) and keep the highest-`score_col` doc from each group
    (ties → lowest id), i.e. "of N copies, keep the best-scored one" —
    the final step of a dedup pass, where quality signals decide which
    copy survives.

    Beyond-reference surface. One shuffle on the 16-byte digest (never
    the text); the per-group argmax is a single `max_by` aggregate with
    map-side partial combine, so a 100 TB corpus reduces to one
    digest-keyed exchange of (digest, score, id) triples."""
    digest = F.md5(F.col(text_col))
    best = F.max_by(
        F.struct(F.col(id_col), F.col(score_col)),
        # order: score desc, then id asc — negate id for a single max_by
        F.struct(F.col(score_col), (-F.col(id_col)).alias("neg_id")),
    )
    return (
        docs.select(digest.alias("__digest"), F.col(id_col), F.col(score_col))
        .groupBy("__digest")
        .agg(best.alias("__best"), F.count("*").alias("n_copies"))
        .select(
            F.col("__best")[id_col].alias(id_col),
            F.col("__best")[score_col].alias(score_col),
            F.col("n_copies"),
        )
    )


def _banded(sig: DataFrame, bands: int, rows: int) -> DataFrame:
    """(id, sig) -> (id, band, bucket): one row per band, bucket = the
    xxhash64 of that band's signature slice (band index salted in so
    identical slices in different bands land in distinct buckets)."""
    return sig.select(
        "id",
        F.posexplode(
            F.array(
                *[
                    F.xxhash64(
                        F.array_join(F.slice("sig", b * rows + 1, rows), ","),
                        F.lit(b),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("band", "bucket"),
    )


def _band_candidates(
    sig: DataFrame, bands: int, rows: int, bucket_cap: int | None
) -> DataFrame:
    """(id, sig) -> candidate (id_a, id_b) pairs from LSH banding, with
    a per-(band, bucket) membership cap (``bucket_cap=None`` disables
    the cap: full recall, full skew exposure). Within each bucket the
    ``bucket_cap`` LOWEST ids participate (deterministic: the same docs
    survive on every run and engine); the rest are dropped FROM THAT
    BUCKET only — they still pair up in every other band where their
    bucket is under the cap. Callers collapse exact duplicates before
    banding (minhash_verified_pairs), so a bucket over the cap means
    >cap DISTINCT texts sharing a band signature — at the default
    (4-row bands, 512 cap) that is adversarial, not organic, data, and
    the cap turns the O(d^2)-per-bucket join into O(cap^2) while
    keeping the standard LSH property that recall degrades gracefully
    rather than one task OOMing."""
    from pyspark.sql import Window

    banded = _banded(sig, bands, rows)
    if bucket_cap is not None:
        w = Window.partitionBy("band", "bucket").orderBy("id")
        banded = (
            banded.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") <= bucket_cap)
            .drop("__rn")
        )
    return (
        banded.alias("x")
        .join(
            banded.alias("y"),
            (F.col("x.band") == F.col("y.band"))
            & (F.col("x.bucket") == F.col("y.bucket"))
            & (F.col("x.id") < F.col("y.id")),
        )
        .select(F.col("x.id").alias("id_a"), F.col("y.id").alias("id_b"))
        .distinct()
    )


def minhash_verified_pairs(
    docs: DataFrame,
    threshold: float = 0.6,
    num_hashes: int = 64,
    bands: int = 16,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    bucket_cap: int | None = 512,
    collapse_threshold: int = 64,
    collapse: str = "auto",
) -> DataFrame:
    """MinHash-LSH candidate generation + EXACT Jaccard verification —
    the standard two-phase production dedup (candidates from banding,
    then the exact measure only on candidate pairs).

    EAGER under ``collapse='auto'`` (the default): building the
    returned DataFrame runs one Spark job NOW — a digest groupBy +
    max-class-size probe over the full input — to decide whether the
    duplicate-class collapse machinery is needed, and that decision is
    FROZEN into the returned plan (stale if the underlying source
    changes before the action). Callers composing lazy plans or on
    known-clean corpora can pass ``collapse='never'`` (skip the probe
    and the collapse — the r8-shaped plan, correct but O(d^2 x bands)
    banded blowup if a d-sized duplicate class exists) or
    ``collapse='always'`` (skip the probe, always pay the collapse
    joins) to stay fully lazy (ADVICE r10 #3). Output is identical
    for all three modes. Output (id_a,
    id_b, jaccard) is bit-identical to ngram_jaccard_pairs whenever
    banding recall reaches every true pair, which makes the LSH path
    oracle-checkable against the quadratic exact baseline (VERDICT r5
    item 6) instead of rows-only. Note the recall caveat: when a
    (band, bucket) holds more than ``bucket_cap`` DISTINCT texts, the
    over-cap members lose that band's candidates (graceful LSH recall
    degradation, see _band_candidates), so exact-baseline equality is
    guaranteed only while every bucket stays under the cap — pass
    ``bucket_cap=None`` to disable the cap and restore unconditional
    recall at the cost of the O(bucket^2) skew exposure.

    bands=16 (4 rows/band) by default. Measured on the sf0.1 corpus:
    2-row bands produced 3,860 candidates for 256 true pairs (common
    min-values collide across unrelated docs) and the verify pass took
    45s; 4-row bands produce EXACTLY the 256 true pairs (the fixture's
    near-dup pairs all have J>=0.8, where per-pair miss probability is
    (1-J^4)^16 ~ 2e-4) and the whole operator runs in ~4s. The catalog
    entry pins fixture-verified equality at sf0.001/sf0.01 via the
    driver hash.

    Skew hardening (VERDICT r8 item 1): exact-duplicate texts are
    COLLAPSED to one representative (min id per md5(text) class) before
    signatures/banding, then the verified rep-level pairs are EXPANDED
    back over class members. d copies of a viral page previously filled
    every band bucket and produced O(d^2) candidate rows x 16 bands plus
    O(d^2) shingle-array verifications; now they contribute ONE banded
    doc, and the d(d-1)/2 true output pairs (identical text => Jaccard
    exactly 1.0, and cos-class members share the rep's Jaccard to every
    other doc) are generated by a narrow array expansion — quadratic
    only in the unavoidable OUTPUT, never in the banded join, the
    shuffle, or the verify arithmetic. Output is bit-identical to the
    uncollapsed form: recall is unchanged (copies share the rep's
    signature, so a member pair collides in a band iff the rep pair
    does), and tokenless classes (< n tokens => empty shingle set,
    NULL Jaccard) are excluded from expansion exactly as the verify
    filter drops them. Residual skew of DISTINCT near-identical texts
    is bounded by ``bucket_cap`` (see _band_candidates).

    The collapse engages ONLY when a probe (one digest-agg job) finds
    a class larger than ``collapse_threshold`` (VERDICT r9 item 5a):
    below it the d^2 banded blowup is negligible (~2k candidate pairs
    at the default 64) and the uncollapsed plan — provably the same
    output, see above — skips the semi-join, both expansion joins, and
    the within-class generator.

    Scale shape (100 TB): banding join is bucket-pruned as in
    minhash_lsh_pairs (never all-pairs); the verify join fetches the
    two shingle sets per CANDIDATE pair only — cost is
    O(candidates x shingles), not O(docs^2)."""
    base = spread(docs).select(
        F.col(id_col).alias("id"), F.col(text_col).alias("__text")
    )
    dg = base.select("id", F.md5("__text").alias("__digest"))
    classes = dg.groupBy("__digest").agg(
        F.min("id").alias("rep"), F.count(F.lit(1)).alias("csize")
    )
    # Fast-path probe (VERDICT r9 item 5a): ONE cheap scalar agg — a
    # digest groupBy with map-side combine, shuffling 16-byte digests
    # only. The collapse machinery (semi-join + two expansion joins +
    # the within-class generator) exists to kill the O(d^2 x bands)
    # banded blowup of a LARGE duplicate class; when the biggest class
    # is small (<= collapse_threshold) the uncollapsed r8-shaped plan
    # is both safe — d copies contribute at most d^2/2 ~ 2k candidate
    # pairs at the default 64 — and bit-identical in output (identical
    # texts share signatures, so banding emits every within-class pair
    # and the exact verify scores it 1.0), so skip the whole apparatus.
    # collapse='always'/'never' skips the eager probe entirely (lazy
    # plan; ADVICE r10 #3).
    if collapse not in ("auto", "always", "never"):
        raise ValueError(f"collapse must be auto|always|never, got {collapse!r}")
    if collapse == "auto":
        row = classes.agg(F.max("csize").alias("m")).first()
        small = row is None or row["m"] is None or row["m"] <= collapse_threshold
    else:
        small = collapse == "never"

    if small:
        reps = base.select(
            F.col("id").alias(id_col), F.col("__text").alias(text_col)
        )
    else:
        # representatives carry the text forward; a semi-join keeps the
        # text off the digest shuffle above (exact_dedup's discipline)
        reps = base.join(
            classes.select(F.col("rep").alias("id")), on="id", how="left_semi"
        ).select(F.col("id").alias(id_col), F.col("__text").alias(text_col))

    sig = minhash_signatures(reps, num_hashes, n, text_col, id_col)
    cand = _band_candidates(sig, bands, num_hashes // bands, bucket_cap)

    # exact verify: identical arithmetic to ngram_jaccard_pairs so the
    # two entries agree bit-for-bit on shared pairs
    sh = reps.select(
        F.col(id_col).alias("id"),
        F.array_distinct(token_ngrams(F.col(text_col), n)).alias("sh"),
    )
    jac = F.size(F.array_intersect(F.col("a.sh"), F.col("b.sh"))) / F.size(
        F.array_union(F.col("a.sh"), F.col("b.sh"))
    )
    rep_pairs = (
        cand.join(sh.alias("a"), cand["id_a"] == F.col("a.id"))
        .join(sh.alias("b"), cand["id_b"] == F.col("b.id"))
        .select(
            "id_a",
            "id_b",
            F.round(jac, 6).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )

    if small:
        return rep_pairs

    # expand rep pairs across both classes' members: identical text has
    # identical shingles, so every member pair shares the reps' Jaccard.
    # Member rows, NOT a collect_list array (VERDICT r9 item 7): a
    # 10^7-copy class must never become one ~80 MB array row pinned to
    # one task — (rep, member) rows shuffle and stream like any other
    # join side, so the only quadratic stage left is the unavoidable
    # OUTPUT expansion, which streams out of the join rather than being
    # held in memory.
    mem = dg.join(classes.select("__digest", "rep"), on="__digest").select(
        "rep", F.col("id").alias("member")
    )
    cross = (
        rep_pairs.join(mem.alias("ma"), rep_pairs["id_a"] == F.col("ma.rep"))
        .join(mem.alias("mb"), rep_pairs["id_b"] == F.col("mb.rep"))
        .select(
            F.least("ma.member", "mb.member").alias("id_a"),
            F.greatest("ma.member", "mb.member").alias("id_b"),
            "jaccard",
        )
    )
    if threshold > 1.0:
        return cross
    # within-class pairs: Jaccard exactly 1.0 (round(1.0, 6) == 1.0),
    # except tokenless classes whose NULL Jaccard the verify path drops
    tokenized = reps.filter(F.size(token_ngrams(F.col(text_col), n)) > 0).select(
        F.col(id_col).alias("rep")
    )
    big = (
        classes.filter(F.col("csize") >= 2)
        .join(tokenized, on="rep", how="left_semi")
        .select("rep")
    )
    m2 = mem.join(big, on="rep", how="left_semi")
    within = (
        m2.alias("wa")
        .join(
            m2.alias("wb"),
            (F.col("wa.rep") == F.col("wb.rep"))
            & (F.col("wa.member") < F.col("wb.member")),
        )
        .select(
            F.col("wa.member").alias("id_a"),
            F.col("wb.member").alias("id_b"),
            F.lit(1.0).alias("jaccard"),
        )
    )
    return cross.unionByName(within)


def cross_corpus_minhash_pairs(
    corpus: DataFrame,
    benchmark: DataFrame,
    threshold: float = 0.6,
    num_hashes: int = 64,
    bands: int = 16,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    bucket_cap: int | None = 512,
) -> DataFrame:
    """NEAR-duplicate cross-corpus decontamination: MinHash-LSH
    candidates BETWEEN a training corpus and a benchmark set, then
    exact n-gram Jaccard verification on the candidates — the
    production complement to contamination_hits (which catches exact
    n-gram overlap but misses paraphrased/partially-rewritten eval
    leakage that still shares most shingles).

    Beyond-reference surface. Output (id_a = corpus doc, id_b =
    benchmark doc, jaccard); drop every corpus doc that appears.

    Scale shape (100 TB corpus, eval-suite benchmark): both sides are
    banded (one narrow signature pass each); the benchmark's banded
    rows — |bench| x bands tiny (band, bucket) rows — are explicitly
    BROADCAST, so the corpus is never shuffled by bucket and candidate
    generation is map-side. The exact verify fetches the two shingle
    sets per candidate pair only. Corpus-side bucket skew (a viral
    page sharing a band signature millions of times) is capped by
    ``bucket_cap`` exactly as in _band_candidates — the same graceful
    recall degradation, None to disable. Banding recall follows the
    usual (1-J^r)^b curve, so exact-baseline equality (the catalog
    hash gate vs an inverted-index cross Jaccard oracle) holds while
    every true pair clears the banding — same contract as
    minhash_verified_pairs."""
    from pyspark.sql import Window

    rows = num_hashes // bands
    sc = spread_pinned(corpus).select(
        F.col(id_col).alias("id"), F.col(text_col).alias("__text")
    )
    sb = benchmark.select(
        F.col(id_col).alias("id"), F.col(text_col).alias("__text")
    )
    sig_c = minhash_signatures(
        sc, num_hashes, n, text_col="__text", id_col="id"
    )
    sig_b = minhash_signatures(
        sb, num_hashes, n, text_col="__text", id_col="id"
    )
    banded_c = _banded(sig_c, bands, rows)
    if bucket_cap is not None:
        w = Window.partitionBy("band", "bucket").orderBy("id")
        banded_c = (
            banded_c.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") <= bucket_cap)
            .drop("__rn")
        )
    banded_b = _banded(sig_b, bands, rows)
    cand = (
        banded_c.alias("c")
        .join(
            F.broadcast(banded_b.alias("b")),
            (F.col("c.band") == F.col("b.band"))
            & (F.col("c.bucket") == F.col("b.bucket")),
        )
        .select(F.col("c.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )
    sh_c = sc.select(
        "id", F.array_distinct(token_ngrams(F.col("__text"), n)).alias("sh")
    )
    sh_b = sb.select(
        "id", F.array_distinct(token_ngrams(F.col("__text"), n)).alias("sh")
    )
    jac = F.size(F.array_intersect(F.col("a.sh"), F.col("b.sh"))) / F.size(
        F.array_union(F.col("a.sh"), F.col("b.sh"))
    )
    return (
        cand.join(sh_c.alias("a"), cand["id_a"] == F.col("a.id"))
        .join(sh_b.alias("b"), cand["id_b"] == F.col("b.id"))
        .select("id_a", "id_b", F.round(jac, 6).alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def simhash_exact_dup_check(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    id_offset: int = 1_000_000,
) -> DataFrame:
    """Invariant projection that makes the SimHash pipeline
    oracle-checkable (VERDICT r5 item 6). The corpus fixtures contain
    no exact duplicates, so the check MANUFACTURES them: every document
    (with >= 1 token — tokenless docs produce no simhash row) is
    mirrored under ``id + id_offset`` and the full pipeline
    (simhash -> 16-bit chunk blocking -> hamming filter) must recover
    every mirror pair at hamming 0 — identical text guarantees an
    identical 64-bit simhash and coinciding chunks, so blocking recall
    at distance 0 is exact, not probabilistic. A DuckDB oracle
    reproduces the expected output without computing any hash:
    (doc_id, doc_id+offset, 0) for every tokenized doc. Any regression
    in the token hashing, vote arithmetic, chunk extraction, or the
    blocking join surfaces as a missing pair (row mismatch) or nonzero
    hamming (hash mismatch). Non-mirror hamming-0 pairs (distinct docs
    with colliding simhashes, e.g. same token multiset) are filtered
    out — they are legitimate near-dup output, not part of the
    invariant."""
    base = spread(docs).select(F.col(id_col), F.col(text_col)).filter(
        F.size(_tokens(F.col(text_col))) > 0
    )
    mirrored = base.unionByName(
        base.withColumn(id_col, F.col(id_col) + F.lit(id_offset))
    )
    pairs = simhash_dup_pairs(
        mirrored, max_hamming=0, text_col=text_col, id_col=id_col
    )
    return pairs.filter(F.col("id_b") == F.col("id_a") + F.lit(id_offset)).select(
        "id_a", "id_b", F.col("hamming").cast("bigint").alias("hamming")
    )


def normalized_dedup(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Normalization-canonical dedup: documents that differ only in
    case, punctuation, or whitespace collapse to one canonical form
    (lowercase, punctuation stripped, runs of whitespace folded to a
    single space, trimmed) and are grouped by the md5 of that form —
    the standard "fuzzy-exact" pass between exact dedup and MinHash in
    an LLM cleaning pipeline (catches 'Hello,  World!' == 'hello
    world').

    Output: one row per canonical group — (norm_digest, n_docs,
    keep_id) with keep_id = min id, the group's survivor.

    Scale: normalization is per-row codegen; only the 16-byte digest
    and the id shuffle (never the text), one groupBy with map-side
    combine — identical cost profile to exact_dedup."""
    # explicit classes == the oracle's RE2 [^\w\s] / \s+ (r16)
    norm = F.trim(
        F.regexp_replace(
            F.regexp_replace(
                F.lower(F.col(text_col)), r"[^0-9A-Za-z_ \t\n\f\r]", ""
            ),
            TOKEN_SPLIT_RE,
            " ",
        )
    )
    return (
        docs.select(F.col(id_col), F.md5(norm).alias("norm_digest"))
        .groupBy("norm_digest")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min(id_col).alias("keep_id"),
        )
    )


def line_dedup(
    docs: DataFrame,
    min_docs: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Line-level boilerplate removal across the corpus (the RefinedWeb
    §3.1 / CCNet paragraph-dedup pass): a line whose trimmed content
    appears in >= ``min_docs`` DISTINCT documents is chrome (nav bars,
    cookie banners, footers) and is removed from EVERY document; the
    surviving lines are rejoined in order. The natural stage after
    extras/html.html_extract (whose block-close -> newline rule exists
    precisely so this pass sees real lines).

    Semantics (deterministic, engine-replicable):
    - line key = md5(trim(line)) where trim strips ASCII SPACES only
      (the SQL-standard trim both engines share — r15, found by the
      model fuzz): a space-only line is never counted/removed, but a
      tab-only line is an ordinary line. html_extract's whitespace
      normalization collapses tabs/CRs upstream, so crawl-pipeline
      input never hits the distinction;
    - a repeated line within ONE doc counts once toward min_docs, but
      removal strips all its occurrences;
    - output: (id, text, n_lines, n_removed) — text may become ''.

    Scale design (100 TB):
    - Two shuffles: the (key -> distinct-doc count) aggregation — keys
      are 32-hex digests, the text itself never shuffles with them —
      and the per-doc reassembly groupBy. The boilerplate-key join is
      df-filtered to the >= min_docs sliver; deliberately NO broadcast
      hint (r15, ADVICE r14): the sliver is tiny at test scale and AQE
      broadcasts it there (plan-locked), but at 100 TB with a small
      min_docs the >= min_docs key set is bounded only by
      line-universe/min_docs — a forced broadcast would OOM exactly
      where a plain join lets AQE fall back to shuffle.
    - Reassembly order rides a (pos, line) struct sort inside
      collect_list -> deterministic without a window function.
    """
    lines = docs.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), "\n")).alias("pos", "line"),
    ).select(
        id_col,
        "pos",
        "line",
        F.when(F.trim("line") != "", F.md5(F.trim("line"))).alias("key"),
    )
    bl = (
        lines.filter(F.col("key").isNotNull())
        .groupBy("key")
        .agg(F.count_distinct(id_col).alias("n_docs"))
        .filter(F.col("n_docs") >= min_docs)
        .select("key")
    )
    kept_or_removed = lines.join(
        bl.withColumn("__bl", F.lit(1)), on="key", how="left"
    )
    return (
        kept_or_removed.groupBy(id_col)
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(
                                F.col("__bl").isNull(),
                                F.struct(F.col("pos"), F.col("line")),
                            )
                        )
                    ),
                    lambda s: s["line"],
                ),
                "\n",
            ).alias(text_col),
            F.count(F.lit(1)).cast("bigint").alias("n_lines"),
            F.sum(F.when(F.col("__bl").isNotNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("n_removed"),
        )
    )


def line_dedup_oracle_sql(
    min_docs: int = 5,
    table: str = "docs",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> str:
    """DuckDB twin of line_dedup over ``table`` (id, text)."""
    return f"""WITH l AS (
          SELECT {id_col}, pos, line,
                 CASE WHEN trim(line) <> '' THEN md5(trim(line)) END AS key
          FROM (
            SELECT {id_col},
                   generate_subscripts(ls, 1) AS pos, unnest(ls) AS line
            FROM (SELECT {id_col}, string_split({text_col}, chr(10)) AS ls
                  FROM {table}))),
        bl AS (
          SELECT key FROM (
            SELECT key, COUNT(DISTINCT {id_col}) AS n_docs
            FROM l WHERE key IS NOT NULL GROUP BY key)
          WHERE n_docs >= {min_docs}),
        m AS (
          SELECT l.{id_col}, l.pos, l.line,
                 (bl.key IS NOT NULL) AS removed
          FROM l LEFT JOIN bl ON l.key = bl.key)
        SELECT {id_col},
               COALESCE(array_to_string(
                 list(line ORDER BY pos) FILTER (WHERE NOT removed), chr(10)),
                 '') AS {text_col},
               CAST(COUNT(*) AS BIGINT) AS n_lines,
               CAST(SUM(CASE WHEN removed THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_removed
        FROM m GROUP BY {id_col}"""
