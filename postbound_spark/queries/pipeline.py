"""Training-data pipeline queries: text analysis, deduplication, similarity
search, time-window analytics (the extension surface beyond the reference's
batch-SQL world — SURVEY.md §2.8 note; the reference itself has none of
these, they are what makes the engine useful on a 100 TB corpus).

Scale design notes (each query's docstring adds specifics):

- Per-document transforms (tokenize, hash, signature, quality) are pure
  higher-order column expressions (``postbound_spark.functions.text``) —
  they run inside whole-stage codegen, shuffle-free, and scale linearly
  with executor count.
- Dedup has two tiers: the *exact* O(n²) pairwise tier (correct on any
  candidate set, used here as the verifier) and the *LSH* tier whose only
  shuffle is an equi-join on a band/bucket key. At 100 TB you never run
  the pairwise tier globally — LSH proposes, pairwise verifies within
  buckets. Both tiers are represented and oracle-checked.
- Similarity search: brute-force top-k broadcasts the query vector and
  uses Spark's TakeOrderedAndProject (no global sort); the LSH variant
  prunes candidates by bucket equi-join first.
- All hashing is md5-based and all vector math is integer-quantized so the
  DuckDB oracle reproduces results bit-for-bit (see functions/vectors.py).
- Stage boundaries use ``persist()`` (measured equal to a repartition's
  warm time with no shuffle), registered through :func:`stage_cache`.
  Cached state has two lifetimes, each with one owner:

  - *per query*: the persisted stages and the :func:`stage_frame` plan
    handles. The registry owns them: building a different registry query
    than the last one first calls :func:`release_stage_caches`, which
    returns the storage memory (at 100 TB a permanently pinned stage cache
    is an executor-memory leak). Repeated runs of the SAME query stay warm
    (Spark's CacheManager matches rebuilt identical plans to existing
    entries), so no harness releases by hand;
  - *per session*: what is derived from the fixture data — table handles,
    :class:`MeasuredBuildSide` measurements and measured join decisions —
    lives in the session memo (``catalog.session_memo``) and dies with the
    session; ``catalog.clear_table_cache`` drops it after a fixture rewrite.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from postbound_spark.catalog import load_table
from postbound_spark.functions.exprcache import expr_memo
from postbound_spark.functions import text as T
from postbound_spark.functions import vectors as V
from postbound_spark.operators import densepair
from postbound_spark.operators.graph import min_label_components
from postbound_spark.operators.skew import salted_join
from postbound_spark.optimizer.selection import MeasuredBuildSide
from postbound_spark.queries import query

#: stage caches created since the last release (per-query lifecycle)
_STAGE_CACHES: list[DataFrame] = []

#: stage FRAME memo, same lifecycle as the stage caches: a persist()ed
#: stage's DataFrame handle, keyed by (stage, sf_dir, session id). Reps of
#: one query already share the persisted DATA (CacheManager matches the
#: rebuilt identical plan); this also shares the plan HANDLE, skipping the
#: driver-side py4j/analysis cost of recomposing a wide expression tree
#: per repetition (measured 0.3-0.5 s/rep on the MinHash path — eager
#: Dataset analysis per select/join). Cleared by release_stage_caches()
#: when the registry moves to another query, and by
#: catalog.clear_table_cache() on fixture rewrite.
#: This memoizes PLANS, never results: every run still computes from the
#: parquet inputs (the persisted data itself is released per query).
_STAGE_FRAMES: dict[tuple, DataFrame] = {}


def stage_cache(df: DataFrame) -> DataFrame:
    """``persist()`` a stage boundary and register it for
    :func:`release_stage_caches`."""
    df = df.persist()
    _STAGE_CACHES.append(df)
    return df


def stage_frame(spark, name: str, sf_dir: str, build) -> DataFrame:
    """Memoized shared stage frame: ``build()`` once per
    (stage, fixture dir, session) until the next cache release.

    The session key is the session's UUID, not ``id(spark)`` — CPython
    reuses object ids after garbage collection, so a fresh SparkSession
    created after an old one died could otherwise be handed stage frames
    bound to the stopped session (r11 advisor finding)."""
    try:
        session_key = spark._jsparkSession.sessionUUID()
    except Exception:  # noqa: BLE001 — connect mode: no JVM handle
        session_key = id(spark)
    key = (name, sf_dir, session_key)
    df = _STAGE_FRAMES.get(key)
    if df is None:
        df = build()
        _STAGE_FRAMES[key] = df
    return df


def spread_stream_side(df: DataFrame) -> DataFrame:
    """Spread the STREAM side of an all-pairs nested-loop join across the
    available cores. A tiny fixture frame arrives as ONE partition (single
    parquet file → single scan task, preserved through ``persist()``), and a
    BroadcastNestedLoopJoin's parallelism IS its stream side's partition
    count — without this the O(n²) verifier-tier compare runs on one core
    while the rest idle. Round-robin to ``defaultParallelism`` (total cores
    at any scale, via the driver's ``local[$SPARK_GRAFT_CPUS]`` contract);
    an explicit-number repartition is not re-coalesced by AQE, so the
    parallelism survives adaptive replanning. Row-set unchanged — only the
    partitioning of the probe side moves.

    Call sites hold a measured fits-broadcast verdict on the pair space's
    build side, so the stream frame is at most broadcast-sized and a flat
    repartition to the core count is always a widening — r12 drops the
    former ``df.rdd.getNumPartitions()`` monotone floor, which forced a
    second physical planning of the frame (plan→RDD conversion) on every
    build just to read a partition count the verdict already bounds
    (r11 advisor finding)."""
    return df.repartition(df.sparkSession.sparkContext.defaultParallelism)


def bounded_sort(df: DataFrame, *keys) -> DataFrame:
    """A query's final ordering, sorted inside ONE partition instead of
    through a range exchange.

    Use it only for the last ``ORDER BY`` of a result whose row count has
    a bound that does not grow with the fact tables (a fixed domain such
    as nations or flag × status, or a dimension key such as the supplier);
    every call site names that bound in a comment. A result without such
    a bound keeps ``orderBy``.

    An unlimited ``orderBy`` plans a range exchange: a sampling job that
    computes the whole input once more, a second shuffle, and one more
    AQE stage round. ``coalesce(1)`` is a narrow dependency, so it runs
    the whole stage that feeds it, everything above the last shuffle, in
    one task: the bound must cover that stage's input, not only the
    result. Over an aggregate that stage is the post-shuffle final
    aggregate, whose input the group bound keeps small at any scale.
    ``collect()`` concatenates partitions in order, so one sorted
    partition returns the rows in the order ``orderBy`` would."""
    return df.coalesce(1).sortWithinPartitions(*keys)


def release_stage_caches() -> int:
    """Unpersist every registered stage cache (non-blocking), drop the
    stage frames, and return how many caches were released. The registry
    builders call it when a different query starts building; a caller
    that builds stages outside the registry calls it between queries,
    never mid-query."""
    n = len(_STAGE_CACHES)
    for df in _STAGE_CACHES:
        df.unpersist()
    _STAGE_CACHES.clear()
    _STAGE_FRAMES.clear()
    return n

# ---------------------------------------------------------------------------
# shared SQL fragments for the DuckDB oracles
# ---------------------------------------------------------------------------

_WS_TOKS = r"string_split_regex(text, '\s+')"
# distinct word 3-gram shingles over ws-token list `ws`
_SHINGLES = (
    "CASE WHEN len(ws) >= 3 THEN list_distinct(list_transform("
    "generate_series(1, len(ws) - 2), i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]"
    ")) ELSE [] END"
)
_QUANT = (
    "list_transform(embedding, x -> "
    "CAST(floor(CAST(x AS DOUBLE) * 1000000 + 0.5) AS BIGINT))"
)


def _cos_sql(a: str, b: str) -> str:
    """Cosine of two quantized BIGINT lists — mirrors vectors.cosine_q."""
    return (
        f"CAST(list_sum(list_transform(generate_series(1, len({a})), i -> {a}[i] * {b}[i])) AS DOUBLE)"
        f" / (sqrt(CAST(list_sum(list_transform({a}, x -> x * x)) AS DOUBLE))"
        f" * sqrt(CAST(list_sum(list_transform({b}, x -> x * x)) AS DOUBLE)))"
    )


# ---------------------------------------------------------------------------
# text analysis
# ---------------------------------------------------------------------------


@query(
    "text_token_stats",
    oracle=f"""
SELECT doc_id,
       len({_WS_TOKS}) AS n_ws_tokens,
       len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]')) AS n_bpe_tokens,
       n_chars,
       round(CAST(list_sum(list_transform({_WS_TOKS}, t -> len(t))) AS DOUBLE)
             / len({_WS_TOKS}), 6) AS avg_token_len
FROM documents
""",
)
def text_token_stats(spark, sf_dir):
    """Token counting: whitespace tokens + BPE-ish subword tokens per doc.

    One narrow projection over the corpus — at scale this is a single
    columnar scan (only ``doc_id, text, n_chars`` are read; column pruning
    reaches the parquet scan) with zero shuffles.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = T.tokens(F.col("text"))
    tok_len_sum = F.aggregate(
        F.transform(toks, F.length), F.lit(0), lambda acc, x: acc + x
    )
    return docs.select(
        "doc_id",
        F.size(toks).alias("n_ws_tokens"),
        F.size(T.bpe_ish_tokens("text")).alias("n_bpe_tokens"),
        "n_chars",
        F.round(tok_len_sum / F.size(toks), 6).alias("avg_token_len"),
    )


@query(
    "text_quality_score",
    oracle=f"""
WITH t AS (SELECT doc_id, {_WS_TOKS} AS toks FROM documents)
SELECT doc_id,
       len(toks) AS n_tokens,
       round(CAST(len(list_filter(toks, w -> w IN ('the','a','of','and','to','in','is','for'))) AS DOUBLE)
             / len(toks), 6) AS stop_ratio,
       round((len(toks) / (len(toks) + 100.0))
             * (1 - CAST(len(list_filter(toks, w -> w IN ('the','a','of','and','to','in','is','for'))) AS DOUBLE)
                 / len(toks)), 6) AS quality
FROM t
""",
)
def text_quality_score(spark, sf_dir):
    """Document quality scoring from length + stopword density.

    The score is rational arithmetic only (no transcendentals), so it is
    bit-reproducible across engines — the pattern to follow for any
    quality filter that must behave identically between the sampling run
    and the full-corpus run.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = T.tokens(F.col("text"))
    n = F.size(toks)
    stop_ratio = T.stopword_count(toks).cast("double") / n
    return docs.select(
        "doc_id",
        n.alias("n_tokens"),
        F.round(stop_ratio, 6).alias("stop_ratio"),
        F.round((n / (n + F.lit(100.0))) * (1 - stop_ratio), 6).alias("quality"),
    )


@query(
    "text_lang_id",
    oracle="""
WITH v AS (
  SELECT doc_id, lang,
         CAST(len(text) - len(regexp_replace(text, '[aeiou]', '', 'g')) AS DOUBLE)
           / len(text) AS vr
  FROM documents
)
SELECT doc_id, lang,
       CASE WHEN vr >= 0.40 THEN 'es'
            WHEN vr >= 0.37 THEN 'en'
            WHEN vr >= 0.34 THEN 'fr'
            WHEN vr >= 0.31 THEN 'de'
            ELSE 'zh' END AS lang_pred,
       round(vr, 6) AS vowel_ratio
FROM v
""",
)
def text_lang_id(spark, sf_dir):
    """Language-ID heuristic: vowel-density n-gram proxy.

    The fixture corpus shares one vocabulary across langs, so no lexical
    marker separates them — the point here is the *shape* of a scalable
    lang-ID stage: a per-row character-statistics expression feeding a
    decision list, shuffle-free and deterministic. A production lang-ID
    (fastText et al.) slots in as a Pandas UDF behind the same projection.
    """
    docs = load_table(spark, sf_dir, "documents")
    vr = T.vowel_count("text").cast("double") / F.length("text")
    pred = (
        F.when(vr >= 0.40, "es")
        .when(vr >= 0.37, "en")
        .when(vr >= 0.34, "fr")
        .when(vr >= 0.31, "de")
        .otherwise("zh")
    )
    return docs.select(
        "doc_id",
        "lang",
        pred.alias("lang_pred"),
        F.round(vr, 6).alias("vowel_ratio"),
    )


@query(
    "text_fingerprint",
    oracle=f"""
WITH f AS (
  SELECT md5(array_to_string(list_sort(list_distinct({_WS_TOKS})), ' ')) AS fingerprint,
         doc_id
  FROM documents
)
SELECT fingerprint, count(*) AS n_docs, min(doc_id) AS min_doc_id
FROM f GROUP BY fingerprint
ORDER BY n_docs DESC, fingerprint
LIMIT 100
""",
)
def text_fingerprint(spark, sf_dir):
    """Bag-of-words document fingerprint + collision groups.

    The fingerprint is a single md5 over the sorted vocabulary — the
    cheapest dedup bucket key. The groupBy shuffles only the 32-char
    fingerprint + doc_id (not the text), which is the partitioning you
    want at 100 TB: shuffle keys, never payloads.
    """
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(
            T.bow_fingerprint(T.tokens(F.col("text"))).alias("fingerprint"), "doc_id"
        )
        .groupBy("fingerprint")
        .agg(F.count("*").alias("n_docs"), F.min("doc_id").alias("min_doc_id"))
        .orderBy(F.desc("n_docs"), "fingerprint")
        .limit(100)
    )


_WINNOW_ORACLE = f"""
WITH t AS (
  SELECT doc_id,
         list_transform({_WS_TOKS}, x ->
           CAST(concat('0x', substr(md5(x), 1, 15)) AS BIGINT)) AS th
  FROM documents
),
rh AS (
  SELECT doc_id,
         unnest(list_transform(generate_series(1, len(th) - 2), i ->
           (((th[i] % 1000000007) * 17161)
            + ((th[i+1] % 1000000007) * 131)
            + (th[i+2] % 1000000007)) % 1000000007)) AS h
  FROM t WHERE len(th) >= 3
)
SELECT h AS segment_hash,
       count(DISTINCT doc_id) AS n_docs,
       CAST(count(*) AS BIGINT) AS n_occurrences
FROM rh WHERE h % 16 = 0
GROUP BY h HAVING count(DISTINCT doc_id) >= 2
ORDER BY n_docs DESC, segment_hash
LIMIT 100
"""


@query("text_winnow_segments", oracle=_WINNOW_ORACLE)
def text_winnow_segments(spark, sf_dir):
    """Rolling-hash document fingerprinting (winnowing-style): a polynomial
    rolling hash over token 3-grams, keeping only anchor positions
    (``h % 16 == 0`` — a content-defined ~1/16 sample, the Schleimer et
    al. winnowing idea), then grouping anchors shared by >= 2 docs. This
    is the segment-level dedup/decontamination primitive: two documents
    sharing a long passage collide on its anchors even when the documents
    differ elsewhere — the case whole-doc fingerprints and MinHash-over-
    full-doc both miss.

    Scale shape: hash + anchor selection are map-only column expressions
    (mod arithmetic keeps every product inside 64-bit — exact on both
    engines); the only shuffle carries (anchor_hash, doc_id) pairs,
    already ~1/16th of the token stream. At 100 TB the anchor density
    knob (the modulus) directly trades recall for shuffle volume.
    """
    docs = load_table(spark, sf_dir, "documents")
    M = 1_000_000_007
    toks = (
        docs.select("doc_id", F.transform(T.tokens(F.col("text")), T.token_hash64).alias("th"))
        .filter(F.size("th") >= 3)
        .transform(stage_cache)
    )
    th = F.col("th")
    rolled = toks.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.size(th) - 3),
                lambda i: (
                    (th[i] % M) * 17161 + (th[i + 1] % M) * 131 + (th[i + 2] % M)
                ) % M,
            )
        ).alias("h"),
    )
    return (
        rolled.filter(F.col("h") % 16 == 0)
        .groupBy(F.col("h").alias("segment_hash"))
        .agg(
            F.countDistinct("doc_id").alias("n_docs"),
            F.count("*").alias("n_occurrences"),
        )
        .filter(F.col("n_docs") >= 2)
        .orderBy(F.desc("n_docs"), "segment_hash")
        .limit(100)
    )


# ---------------------------------------------------------------------------
# deduplication
# ---------------------------------------------------------------------------


def _shingle_sets(spark, sf_dir):
    """documents -> (doc_id, sh) with a materialization boundary after
    tokenization.

    Staging matters: ``element_at(tokens, i)`` would otherwise inline the
    regex split of the whole text into *every* shingle position (~3 splits
    per shingle — measured ~10× slowdown at fixture scale). ``persist()``
    of the narrow token array buys shingle construction from a
    materialized array WITHOUT a shuffle — the round-2 A/B (repartition vs
    persist vs localCheckpoint vs none at sf0.1) measured persist ==
    repartition warm-time while skipping the exchange entirely, and at
    100 TB a full shuffle of token arrays is exactly the cost to avoid.
    Same discipline at scale: materialize reused derived columns at stage
    boundaries; never let a scan-side expression fan out into a
    per-position recompute.
    """
    def build():
        docs = load_table(spark, sf_dir, "documents")
        toks = (
            docs.select("doc_id", T.tokens(F.col("text")).alias("toks"))
            # "has ≥1 shingle" expressed on the *input* (≥ n tokens):
            # filtering on size(sh) would push the predicate below the
            # projection and substitute the whole shingle expression into
            # it (measured 18× slower than this equivalent pre-filter)
            .filter(F.size(F.col("toks")) >= 3)
            .transform(stage_cache)
        )
        return toks.select("doc_id", T.word_shingles(F.col("toks")).alias("sh"))

    return stage_frame(spark, "shingle_sets", sf_dir, build)


@query(
    "dedup_exact",
    oracle=r"""
WITH h AS (
  SELECT lang, md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS th
  FROM documents
)
SELECT lang, count(*) AS n_docs, count(DISTINCT th) AS n_unique,
       count(*) - count(DISTINCT th) AS n_dups
FROM h GROUP BY lang ORDER BY lang
""",
)
def dedup_exact(spark, sf_dir):
    """Exact dedup: hash-groupBy on whitespace-normalized lowered text.

    The canonical first dedup pass: one scan + one shuffle of 128-bit
    hashes. At 100 TB the hash (not the document) is the shuffle payload,
    and the groupBy gets map-side partial aggregation for free.
    """
    docs = load_table(spark, sf_dir, "documents")
    th = F.md5(F.lower(F.trim(F.regexp_replace("text", r"\s+", " "))))
    return (
        docs.select("lang", th.alias("th"))
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.countDistinct("th").alias("n_unique"),
            (F.count("*") - F.countDistinct("th")).alias("n_dups"),
        )
        .orderBy("lang")
    )


_JACCARD_ORACLE = f"""
WITH s AS (
  SELECT doc_id, {_SHINGLES} AS sh
  FROM (SELECT doc_id, {_WS_TOKS} AS ws FROM documents)
),
p AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
           / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) AS j
  FROM s a JOIN s b ON a.doc_id < b.doc_id
)
SELECT doc_a, doc_b, round(j, 6) AS jaccard FROM p WHERE j >= 0.3
"""


def _shingle_pair_overlap(spark, sf_dir):
    """(doc_a, doc_b, inter, la, lb) for every document pair sharing at
    least one word-3-shingle (doc_a < doc_b), with the EXACT intersection
    size — the shared overlap stage of the exact pair verifiers
    (``dedup_ngram_jaccard``, ``dedup_shingle_containment``).

    r12-opt: computed via the inverted shingle index (the classic exact
    all-pairs similarity shape — explode to a posting list, self-join on
    the shingle, count matches per pair) instead of the broadcast
    nested-loop over whole shingle ARRAYS. Exactness is unchanged —
    shingle sets are distinct per document, so the match count per pair
    IS ``|A∩B|``, and any pair the nested loop would emit (Jaccard > 0 or
    containment ≥ ½, both of which require a shared shingle) shares at
    least one posting. What changes is the growth law: the nested loop
    evaluates an array intersection for all n²/2 ordered pairs regardless
    of similarity (measured 14.4 s / 27.8 s warm for the two verifiers at
    sf0.1 = 5000 docs, after full parallelization), while the index path
    does work proportional to the posting-list collision mass — the
    output-sensitive bound that holds on a real corpus — and shuffles
    16-byte id pairs with map-side partial aggregation, never the
    shingle arrays themselves (guide §2.3: shuffle keys, not payloads).
    The per-pair lengths attach from a measured broadcast of the tiny
    (doc_id, |sh|) table; above its threshold the attach degrades to a
    keyed shuffle join, and the posting self-join is a plain equi-join
    the AQE skew machinery can re-split at scale.
    """

    def build():
        d = _shingle_sets(spark, sf_dir).transform(stage_cache)
        posting = d.select("doc_id", F.explode("sh").alias("g"))
        pairs = (
            posting.select(F.col("doc_id").alias("doc_a"), "g")
            .join(posting.select(F.col("doc_id").alias("doc_b"), "g"), on=["g"])
            .filter(F.col("doc_a") < F.col("doc_b"))
        )
        inter = pairs.groupBy("doc_a", "doc_b").agg(F.count(F.lit(1)).alias("inter"))
        lens = d.select("doc_id", F.size("sh").alias("ln"))
        mb = MeasuredBuildSide(spark)
        la = mb.build_side(
            lens.select(F.col("doc_id").alias("doc_a"), F.col("ln").alias("la")),
            f"shingle_lens_a@{sf_dir}",
        )
        lb = mb.build_side(
            lens.select(F.col("doc_id").alias("doc_b"), F.col("ln").alias("lb")),
            f"shingle_lens_b@{sf_dir}",
        )
        return inter.join(la, "doc_a").join(lb, "doc_b")

    return stage_frame(spark, "shingle_pair_overlap", sf_dir, build)


@query("dedup_ngram_jaccard", oracle=_JACCARD_ORACLE)
def dedup_ngram_jaccard(spark, sf_dir):
    """Exact n-gram Jaccard near-dup pairs (the *verifier* tier).

    Ground truth that LSH candidates are verified against: every pair
    with exact Jaccard ≥ 0.3 over distinct word-3-shingle sets. r12-opt:
    executed through the inverted shingle index
    (:func:`_shingle_pair_overlap`) — |A∩B| is a posting-list match
    count, |A∪B| = la + lb − inter, so the pair set and every ratio are
    bit-identical to the former all-pairs nested loop (oracle-gated at
    sf0.001/0.01/0.1) while the work is output-sensitive instead of
    O(n²) and no nested-loop join remains in the plan at any scale.
    """
    ov = _shingle_pair_overlap(spark, sf_dir)
    j = F.col("inter").cast("double") / (
        F.col("la") + F.col("lb") - F.col("inter")
    )
    return ov.filter(j >= 0.3).select(
        "doc_a", "doc_b", F.round(j, 6).alias("jaccard")
    )


_MINHASH_PAIRS_CTE = f"""
WITH d AS (
  SELECT doc_id, {_SHINGLES} AS sh
  FROM (SELECT doc_id, {_WS_TOKS} AS ws FROM documents)
),
dd AS (SELECT * FROM d WHERE len(sh) >= 1),
hh AS (
  SELECT doc_id, sh,
         list_transform(sh, x ->
           CAST(concat('0x', substr(md5(x), 1, 15)) AS BIGINT) % 2147483647) AS hs
  FROM dd
),
sg AS (
  SELECT doc_id, sh,
         list_transform(generate_series(1, 8), s ->
           list_min(list_transform(hs, h ->
             ([{", ".join(str(x) for x in T.MINHASH_A)}][s] * h
              + [{", ".join(str(x) for x in T.MINHASH_B)}][s])
             % {T.MINHASH_P}))) AS sig
  FROM hh
),
bk AS (
  SELECT doc_id,
         unnest(list_transform(generate_series(0, 3), b ->
           md5(b::VARCHAR || ':' || sig[2*b+1] || ':' || sig[2*b+2]))) AS bkey
  FROM sg
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bk a JOIN bk b ON a.bkey = b.bkey AND a.doc_id < b.doc_id
),
verified AS (
  SELECT doc_a, doc_b,
         CAST(len(list_intersect(x.sh, y.sh)) AS DOUBLE)
           / (len(x.sh) + len(y.sh) - len(list_intersect(x.sh, y.sh))) AS j
  FROM cand JOIN dd x ON x.doc_id = doc_a JOIN dd y ON y.doc_id = doc_b
)"""

_MINHASH_ORACLE = f"""{_MINHASH_PAIRS_CTE}
SELECT doc_a, doc_b, round(j, 6) AS jaccard FROM verified WHERE j >= 0.3
"""


def _lsh_candidates(spark, sf_dir):
    """LSH band-colliding candidate pairs, joined back to both shingle
    sets: (doc_a, doc_b, sh_a, sh_b) with doc_a < doc_b — the shared
    candidate-generation stage of every bucket-local dedup tier
    (Jaccard verification in ``_minhash_pairs``, asymmetric containment
    in ``dedup_containment_lsh``)."""
    return stage_frame(
        spark, "lsh_candidates", sf_dir, lambda: _build_lsh_candidates(spark, sf_dir)
    )


def _build_lsh_candidates(spark, sf_dir):
    # shingle sets + their 31-bit hashes with staged materialization (see
    # _shingle_sets): the persist makes the ONE md5 kernel per shingle a
    # materialized array, so all 8 MinHash permutations run as pure
    # integer multiply/mod over it (functions/text.py universal family)
    d = (
        _shingle_sets(spark, sf_dir)
        .withColumn("hs", T.shingle_hashes31(F.col("sh")))
        .transform(stage_cache)
    )
    # materialize signatures too: band-key extraction reads each signature
    # element individually and would otherwise inline (and recompute) the
    # full k-permutation MinHash per band
    sig = d.select(
        "doc_id", T.minhash_signature_from_hashes(F.col("hs"), 8).alias("sig")
    ).transform(stage_cache)
    exploded = sig.select(
        "doc_id", F.explode(T.lsh_band_keys(F.col("sig"), 4, 2)).alias("bkey")
    )
    # hot band keys (boilerplate-heavy corpora collapse many docs onto one
    # band) would land a quadratic candidate block on a single reducer;
    # salting spreads each band's pair generation across 8 tasks by
    # construction (operators/skew.py — AQE skew-join can't split the
    # build side of this self-join). Salting only matters when the join
    # SHUFFLES: a broadcast join has no reducer, hence no reducer skew,
    # and the salt explode would just inflate the broadcast 8× (measured
    # 32 MB vs 4 MB at sf0.1) — so when the band table provably fits the
    # broadcast threshold (bounded limit-probe, memoized) the join goes
    # unsalted with a pinned broadcast build; past the threshold the
    # salted shuffle path engages unchanged. Identical candidate pairs
    # either way (salting never changes results).
    a = exploded.select(F.col("doc_id").alias("doc_a"), "bkey")
    b = exploded.select(F.col("doc_id").alias("doc_b"), "bkey")
    if MeasuredBuildSide(spark).fits_broadcast(b, f"lsh_bands@{sf_dir}"):
        paired = a.join(b.hint("broadcast"), on=["bkey"])
    else:
        paired = salted_join(a, b, on=["bkey"], salt=8, salt_on=["doc_a", "bkey"])
    cand = (
        paired
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
        .transform(stage_cache)
    )
    # verify ONLY colliding docs' shingles: semi-join the shingle store
    # down to candidate members before the pair join. Without this, the
    # x100 shuffle-volume stress caught the verify join moving the FULL
    # shingle table twice (412 MB x 2 for 139k candidate pairs) once it
    # outgrew auto-broadcast — the prefilter keeps shingle movement
    # proportional to the COLLIDING set. The candidate doc list's own
    # broadcast is a MEASURED decision (capped limit-probe): a heavily
    # duplicated corpus can make the candidate set itself too big to
    # broadcast, in which case the semi-join correctly falls back to a
    # keyed shuffle and costs what the unfiltered join cost before.
    cand_docs = MeasuredBuildSide(spark).build_side(
        cand.select(F.col("doc_a").alias("doc_id"))
        .unionByName(cand.select(F.col("doc_b").alias("doc_id")))
        .distinct(),
        f"lsh_cand_docs@{sf_dir}",
    )
    live = d.join(cand_docs, "doc_id", "leftsemi")
    x = live.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a"))
    y = live.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b"))
    return cand.join(x, "doc_a").join(y, "doc_b")


def _minhash_pairs(spark, sf_dir):
    """Verified near-dup pairs (doc_a < doc_b, exact Jaccard >= 0.3) via
    the MinHash-LSH pipeline — shared by the pair listing
    (``dedup_minhash_lsh``) and the cluster builder (``dedup_components``)."""

    def build():
        cand = _lsh_candidates(spark, sf_dir)
        inter = F.size(F.array_intersect("sh_a", "sh_b"))
        j = inter.cast("double") / (F.size("sh_a") + F.size("sh_b") - inter)
        return cand.select("doc_a", "doc_b", j.alias("j")).filter(F.col("j") >= 0.3)

    return stage_frame(spark, "minhash_pairs", sf_dir, build)


@query("dedup_minhash_lsh", oracle=_MINHASH_ORACLE)
def dedup_minhash_lsh(spark, sf_dir):
    """MinHash + LSH near-dup detection (the *scale* tier).

    shingle -> 8-hash MinHash signature -> 4 bands × 2 rows -> band-key
    equi-join for candidates -> exact Jaccard verification within
    candidates. The only shuffles are (1) the explode+equi-join on band
    keys and (2) the join back to shingle sets — both keyed joins, no
    cross product anywhere. This is the pipeline shape that holds at
    100 TB: signature computation is map-only; candidate generation
    touches each doc ``bands`` times; verification touches only
    colliding pairs.
    """
    return _minhash_pairs(spark, sf_dir).select(
        "doc_a", "doc_b", F.round("j", 6).alias("jaccard")
    )


_CONTAINMENT_LSH_ORACLE = f"""{_MINHASH_PAIRS_CTE},
cont AS (
  SELECT doc_a, doc_b,
         CAST(len(list_intersect(x.sh, y.sh)) AS BIGINT) AS inter,
         CAST(len(x.sh) AS BIGINT) AS la,
         CAST(len(y.sh) AS BIGINT) AS lb
  FROM cand JOIN dd x ON x.doc_id = doc_a JOIN dd y ON y.doc_id = doc_b
)
SELECT doc_a, doc_b,
       round(CAST(inter AS DOUBLE) / la, 6) AS cont_a_in_b,
       round(CAST(inter AS DOUBLE) / lb, 6) AS cont_b_in_a,
       round(CAST(inter AS DOUBLE) / (la + lb - inter), 6) AS jaccard
FROM cont
WHERE inter * 2 >= la OR inter * 2 >= lb
ORDER BY doc_a, doc_b
"""


@query("dedup_containment_lsh", oracle=_CONTAINMENT_LSH_ORACLE)
def dedup_containment_lsh(spark, sf_dir):
    """Asymmetric shingle containment (Broder's C(A,B) = |A∩B| / |A|)
    evaluated ONLY over MinHash-LSH candidate pairs — the *scale* tier
    of ``dedup_shingle_containment``, realizing the bucket-local
    contract that entry documents (quote/superset relations within
    band-colliding documents; keep the containing doc, drop the
    contained). The keep threshold (max containment >= 1/2) is an exact
    integer cross-multiplication; ratios round only in the output.

    Scale shape: identical to ``dedup_minhash_lsh`` — map-only MinHash
    signatures, salted band equi-join for candidates, then containment
    arithmetic touches ONLY colliding pairs (never an all-pairs theta
    self-join; the plan gate pins zero nested-loop joins). The recall
    caveat is inherent to the measure: LSH bands key on *Jaccard*
    resemblance, so a tiny doc fully contained in a huge one can miss
    candidacy — production pipelines catch that tail with the
    substring-span tier (``dedup_substring_spans``), which shares no
    resemblance assumption.
    """
    cand = _lsh_candidates(spark, sf_dir)
    inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("long")
    la = F.size("sh_a").cast("long")
    lb = F.size("sh_b").cast("long")
    return (
        cand.select(
            "doc_a",
            "doc_b",
            inter.alias("inter"),
            la.alias("la"),
            lb.alias("lb"),
        )
        .filter(
            (F.col("inter") * 2 >= F.col("la"))
            | (F.col("inter") * 2 >= F.col("lb"))
        )
        .select(
            "doc_a",
            "doc_b",
            F.round(F.col("inter").cast("double") / F.col("la"), 6).alias(
                "cont_a_in_b"
            ),
            F.round(F.col("inter").cast("double") / F.col("lb"), 6).alias(
                "cont_b_in_a"
            ),
            F.round(
                F.col("inter").cast("double")
                / (F.col("la") + F.col("lb") - F.col("inter")),
                6,
            ).alias("jaccard"),
        )
        .orderBy("doc_a", "doc_b")
    )


# the recursive reach CTE needs the RECURSIVE keyword on the WITH that
# opens the whole chain (DuckDB binder rule)
_COMPONENTS_ORACLE = f"""{_MINHASH_PAIRS_CTE.replace("WITH d AS", "WITH RECURSIVE d AS", 1)},
pairs AS (SELECT doc_a, doc_b FROM verified WHERE j >= 0.3),
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION SELECT doc_b, doc_a FROM pairs
),
nodes AS (SELECT DISTINCT src AS node FROM edges),
reach(node, lbl) AS (
  SELECT node, node FROM nodes
  UNION
  SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.node
)
SELECT node AS doc_id, CAST(min(lbl) AS BIGINT) AS component
FROM reach GROUP BY node ORDER BY doc_id
"""


def _duplicate_components(spark, sf_dir):
    """(doc_id, component) labels via min-label propagation over the
    MinHash-verified pair graph — shared by the per-doc listing
    (``dedup_components``) and the canonical-selection rollup
    (``dedup_canonical``)."""
    return stage_frame(
        spark, "duplicate_components", sf_dir,
        lambda: _build_duplicate_components(spark, sf_dir),
    )


def _build_duplicate_components(spark, sf_dir):
    pairs = _minhash_pairs(spark, sf_dir).select("doc_a", "doc_b")
    # both edge directions EXPLODE from one pair row (r12-opt: the former
    # self-union evaluated the whole LSH-candidate + exact-verify subtree
    # once per branch — the checkpoint job paid the pair kernel twice)
    edges = pairs.select(
        F.explode(
            F.array(
                F.struct(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")),
                F.struct(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst")),
            )
        ).alias("e")
    ).select("e.src", "e.dst")
    # lazy checkpoint: the kernel's convergence aggregate is the first
    # action on the frame, so it materializes the checkpoint in the SAME
    # job (one job per round; lineage truncation unchanged)
    edges = edges.localCheckpoint(eager=False)
    # r12-opt: shared pointer-doubling kernel (operators/graph.py) —
    # O(log diameter) rounds instead of O(diameter), identical labels
    # (min doc_id per component), same monotone-DECIMAL-sum convergence
    return min_label_components(edges)


@query("dedup_components", oracle=_COMPONENTS_ORACLE)
def dedup_components(spark, sf_dir):
    """Duplicate *clusters* from near-dup pairs: connected components via
    iterative min-label propagation (each doc labeled with the smallest
    doc_id in its component — the canonical-representative choice a dedup
    pipeline keeps).

    The loop is the standard distributed CC pattern (Pregel-style): per
    round one edge⋈label join + one min-groupBy — two keyed shuffles —
    with ``localCheckpoint`` truncating lineage so round N's plan does not
    replay rounds 1..N-1 (THE failure mode of naive iterative DataFrame
    code at scale). Convergence in O(component diameter) rounds; near-dup
    components are shallow (cliques + short chains), so the 15-round cap
    is far above anything real. The driver sees only a per-round changed
    count, never data. Oracle: DuckDB computes the same components with a
    recursive CTE over the same pairs.
    """
    labels = _duplicate_components(spark, sf_dir)
    return labels.select(
        F.col("node").alias("doc_id"), F.col("lbl").alias("component")
    ).orderBy("doc_id")


_CANONICAL_ORACLE = f"""{_MINHASH_PAIRS_CTE.replace("WITH d AS", "WITH RECURSIVE d AS", 1)},
pairs AS (SELECT doc_a, doc_b FROM verified WHERE j >= 0.3),
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION SELECT doc_b, doc_a FROM pairs
),
nodes AS (SELECT DISTINCT src AS node FROM edges),
reach(node, lbl) AS (
  SELECT node, node FROM nodes
  UNION
  SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.node
),
comp AS (SELECT node, min(lbl) AS component FROM reach GROUP BY node)
SELECT CAST(component AS BIGINT) AS canonical_doc_id,
       CAST(count(*) AS BIGINT) AS n_members,
       CAST(count(*) - 1 AS BIGINT) AS n_removed
FROM comp GROUP BY component ORDER BY canonical_doc_id
"""


@query("dedup_canonical", oracle=_CANONICAL_ORACLE)
def dedup_canonical(spark, sf_dir):
    """The dedup pipeline's final deliverable: one row per duplicate
    cluster with its canonical representative (the smallest doc_id — the
    doc a training corpus KEEPS) and how many near-duplicates drop. This
    closes the pairs → clusters → keep/drop decision chain; the actual
    corpus filter is then one broadcast anti-join of documents against
    (member minus canonical) ids. Same iterative CC core as
    dedup_components; the rollup adds one tiny keyed aggregation."""
    labels = _duplicate_components(spark, sf_dir)
    return (
        labels.groupBy(F.col("lbl").alias("canonical_doc_id"))
        .agg(
            F.count("*").alias("n_members"),
            (F.count("*") - 1).alias("n_removed"),
        )
        .orderBy("canonical_doc_id")
    )


@query(
    "dedup_simhash",
    oracle=f"""
WITH t AS (SELECT doc_id, list_distinct({_WS_TOKS}) AS toks FROM documents),
h AS (
  SELECT doc_id,
         list_transform(toks, x -> CAST(concat('0x', substr(md5(x), 1, 15)) AS BIGINT)) AS th
  FROM t
)
SELECT doc_id,
       CAST(list_sum(list_transform(generate_series(0, 15), b ->
         CASE WHEN 2 * len(list_filter(th, x -> (x & (1::BIGINT << b)) != 0)) >= len(th)
              THEN (1::BIGINT << b) ELSE 0 END)) AS BIGINT) AS simhash
FROM h
""",
)
def dedup_simhash(spark, sf_dir):
    """SimHash (16-bit) per document.

    Near-dup docs land on nearby hashes (small Hamming distance); at scale
    you bucket by hash prefix and verify within buckets, same pattern as
    MinHash-LSH but with a single integer as the signature. Map-only.
    """
    # materialize the token-hash array so the 16 unrolled bit-tests read
    # it instead of re-hashing per bit
    hashed = stage_frame(
        spark, "simhash_token_hashes", sf_dir,
        lambda: load_table(spark, sf_dir, "documents").select(
            "doc_id", T.token_hashes(T.tokens(F.col("text"))).alias("th")
        ).transform(stage_cache),
    )
    return hashed.select(
        "doc_id", T.simhash16_from_hashes(F.col("th")).alias("simhash")
    )


@query(
    "dedup_embedding_cosine",
    oracle=f"""
WITH q AS (SELECT vec_id, {_QUANT} AS qv FROM embeddings),
p AS (
  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, {_cos_sql("a.qv", "b.qv")} AS c
  FROM q a JOIN q b ON a.vec_id < b.vec_id
)
SELECT vec_a, vec_b, round(c, 6) AS cosine FROM p WHERE c >= 0.35
""",
)
def dedup_embedding_cosine(spark, sf_dir):
    """Embedding-cosine near-dup pairs (semantic dedup).

    Pairwise over quantized integer vectors — exact and deterministic.
    This is the verifier tier; ann_lsh_topk shows the bucketed candidate
    generation that replaces the O(n²) join at scale.
    """
    # quantize + norm once per row behind a persist boundary; the join
    # then only pays one integer dot product + one divide per pair.
    q = stage_frame(
        spark, "embedding_cosine_q", sf_dir,
        lambda: load_table(spark, sf_dir, "embeddings")
        .select("vec_id", V.quantize(F.col("embedding")).alias("qv"))
        .select("vec_id", "qv", V.norm_q(F.col("qv")).alias("nrm"))
        .transform(stage_cache),
    )
    # measured dense-tier budget (r12, VERDICT item 2): the all-JVM pair
    # join is the right plan only while the pair space is small; above
    # DENSE_PAIR_MAX_VECTORS the per-pair interpreted dot fold dominates
    # and the block GEMM kernel computes bit-identical cosines (integer
    # dots are exact in float64 under any summation order) without any
    # nested-loop join — see operators/densepair.py.
    mb = MeasuredBuildSide(spark)
    key = f"embedding_cosine_q@{sf_dir}"
    if mb.rows_capped(q, key, densepair.DENSE_PAIR_MAX_VECTORS) == float("inf"):
        pairs = densepair.dense_pair_threshold(spark, q, q.count(), 0.35)
        return pairs.select(
            "vec_a", "vec_b", F.round(F.col("cos"), 6).alias("cosine")
        )
    # below the budget: while the vector set provably fits the broadcast
    # threshold, pin the build side and spread the stream side (a
    # single-file fixture scan is ONE partition, and a BNLJ's parallelism
    # IS its stream side's width). Past the threshold neither hint
    # applies and the planner picks the pair strategy from runtime sizes.
    if mb.fits_broadcast(q, key):
        a, b = spread_stream_side(q).alias("a"), q.hint("broadcast").alias("b")
    else:
        a, b = q.alias("a"), q.alias("b")
    c = V.dot_q(F.col("a.qv"), F.col("b.qv")).cast("double") / (
        F.col("a.nrm") * F.col("b.nrm")
    )
    # id test first in the join condition so the dot product short-circuits
    # for the vec_id >= vec_id half (see dedup_ngram_jaccard)
    return (
        a.join(b, (F.col("a.vec_id") < F.col("b.vec_id")) & (c >= 0.35))
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            F.round(c, 6).alias("cosine"),
        )
    )


# ---------------------------------------------------------------------------
# similarity search
# ---------------------------------------------------------------------------


def _quantized_embeddings(spark, sf_dir):
    """(vec_id, label, qv, nrm) with a persist boundary — the shared
    quantize+norm stage of the ANN entries (norms are a per-row property,
    computed once per row, never per candidate pair)."""
    return stage_frame(
        spark, "quantized_embeddings", sf_dir,
        lambda: load_table(spark, sf_dir, "embeddings")
        .select("vec_id", "label", V.quantize(F.col("embedding")).alias("qv"))
        .withColumn("nrm", V.norm_q(F.col("qv")))
        .transform(stage_cache),
    )


@query(
    "ann_cosine_topk",
    oracle=f"""
WITH q AS (SELECT vec_id, label, {_QUANT} AS qv FROM embeddings),
qq AS (SELECT qv FROM q WHERE vec_id = 0)
SELECT a.vec_id, a.label, round({_cos_sql("a.qv", "qq.qv")}, 6) AS cosine
FROM q a, qq
WHERE a.vec_id != 0
ORDER BY {_cos_sql("a.qv", "qq.qv")} DESC, a.vec_id
LIMIT 10
""",
)
def ann_cosine_topk(spark, sf_dir):
    """Brute-force cosine top-k (the ANN baseline).

    The query vector is broadcast (a 1-row dimension side); ranking uses
    ``orderBy(...).limit(k)`` which Spark executes as
    TakeOrderedAndProject — per-partition top-k then a k-row merge on the
    driver, never a full global sort. This is the correct brute-force
    shape at any scale; the LSH variant below prunes candidates first.
    """
    q = _quantized_embeddings(spark, sf_dir)
    qvec = q.filter(F.col("vec_id") == 0).select(
        F.col("qv").alias("query_qv"), F.col("nrm").alias("query_nrm")
    )
    c = V.dot_q(F.col("qv"), F.col("query_qv")).cast("double") / (
        F.col("nrm") * F.col("query_nrm")
    )
    return (
        q.crossJoin(F.broadcast(qvec))
        .filter(F.col("vec_id") != 0)
        .select("vec_id", "label", c.alias("c"))
        .orderBy(F.desc("c"), "vec_id")
        .limit(10)
        .select("vec_id", "label", F.round("c", 6).alias("cosine"))
    )


def _bucket_sql(planes: list[list[int]]) -> str:
    """DuckDB SQL for the hyperplane LSH bucket of quantized list ``qv``."""
    parts = []
    for p, signs in enumerate(planes):
        dot = " + ".join(f"({s})*qv[{d + 1}]" for d, s in enumerate(signs))
        parts.append(f"CASE WHEN ({dot}) >= 0 THEN {1 << p} ELSE 0 END")
    return " + ".join(parts)


_PLANES = V.plane_signs_sql(dims=64, n_planes=8)

_LSH_HIST_ORACLE = f"""
WITH q AS (SELECT vec_id, {_QUANT} AS qv FROM embeddings)
SELECT CAST({_bucket_sql(_PLANES)} AS BIGINT) AS bucket, count(*) AS n_vecs
FROM q GROUP BY 1 ORDER BY 1
"""


@query("ann_lsh_bucket_histogram", oracle=_LSH_HIST_ORACLE)
def ann_lsh_bucket_histogram(spark, sf_dir):
    """Sign-random-projection LSH bucket histogram.

    The bucket id is 8 exact integer sign tests per row (map-only); the
    histogram is one shuffle of (bucket, 1) pairs. Bucket-size skew read
    off this histogram is exactly what you'd use to decide salting before
    the candidate join at scale.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    # exchange boundary: the 8×64-term unrolled sign tests read a
    # materialized quantized array instead of inlining quantization 512×
    q = emb.select(
        "vec_id", V.quantize(F.col("embedding")).alias("qv")
    ).transform(stage_cache)
    return (
        q.select(V.hyperplane_bucket(F.col("qv"), dims=64, n_planes=8).alias("bucket"))
        .groupBy("bucket")
        .agg(F.count("*").alias("n_vecs"))
        .orderBy("bucket")
    )


_PROBE_MASKS = [0] + [1 << p for p in range(8)]  # Hamming distance ≤ 1


@expr_memo
def _probe_bucket_array(bucket, cast_long: bool = True):
    """The multi-probe bucket list (query bucket + its 8 one-bit flips) as
    one array expression — 27 py4j round trips, composed once per process
    instead of on every query build (the memo key covers ``cast_long``)."""
    flips = [bucket.bitwiseXOR(F.lit(m)) for m in _PROBE_MASKS]
    return F.array(*[c.cast("long") for c in flips] if cast_long else flips)


_LSH_TOPK_ORACLE = f"""
WITH q AS (SELECT vec_id, label, {_QUANT} AS qv FROM embeddings),
b AS (SELECT vec_id, label, qv, CAST({_bucket_sql(_PLANES)} AS BIGINT) AS bucket FROM q),
qb AS (SELECT qv, bucket FROM b WHERE vec_id = 0),
probes AS (
  SELECT xor(qb.bucket, m.m) AS probe_bucket, qb.qv
  FROM qb, (SELECT unnest({_PROBE_MASKS}) AS m) m
)
SELECT a.vec_id, a.label, a.bucket, round({_cos_sql("a.qv", "p.qv")}, 6) AS cosine
FROM b a JOIN probes p ON a.bucket = p.probe_bucket
WHERE a.vec_id != 0
ORDER BY {_cos_sql("a.qv", "p.qv")} DESC, a.vec_id
LIMIT 5
"""


@query("ann_lsh_topk", oracle=_LSH_TOPK_ORACLE)
def ann_lsh_topk(spark, sf_dir):
    """Multi-probe LSH ANN: candidates come from every bucket within
    Hamming distance 1 of the query's bucket, then exact cosine ranks
    them.

    The candidate filter is an equi-join on the bucket key against a
    broadcast 9-row probe list (query bucket + 8 one-bit flips) — at
    scale this prunes ~247/256 of the corpus before any vector math runs,
    and multi-probe recovers most of the recall a single-bucket lookup
    loses to near-boundary sign flips (Lv et al., multi-probe LSH,
    VLDB'07). Probe buckets are distinct by construction, so no candidate
    dedup step is needed.
    """
    # materialization boundary before the wide bucket expression (see
    # histogram); the quantize+norm stage is shared with ann_cosine_topk
    q = _quantized_embeddings(spark, sf_dir)
    b = q.withColumn("bucket", V.hyperplane_bucket(F.col("qv"), dims=64, n_planes=8))
    qb = b.filter(F.col("vec_id") == 0).select(
        F.col("qv").alias("query_qv"),
        F.col("nrm").alias("query_nrm"),
        F.explode(_probe_bucket_array(F.col("bucket"))).alias("probe_bucket"),
    )
    c = V.dot_q(F.col("qv"), F.col("query_qv")).cast("double") / (
        F.col("nrm") * F.col("query_nrm")
    )
    return (
        b.join(F.broadcast(qb), F.col("bucket") == F.col("probe_bucket"))
        .filter(F.col("vec_id") != 0)
        .select("vec_id", "label", "bucket", c.alias("c"))
        .orderBy(F.desc("c"), "vec_id")
        .limit(5)
        .select("vec_id", "label", "bucket", F.round("c", 6).alias("cosine"))
    )


_HUBNESS_CAND_ORACLE = f"""
WITH q AS (SELECT vec_id, {_QUANT} AS qv FROM embeddings),
b AS (
  SELECT vec_id, qv, CAST({_bucket_sql(_PLANES)} AS BIGINT) AS bucket FROM q
),
pr AS (
  SELECT vec_id AS src, qv AS src_qv, xor(bucket, m.m) AS probe_bucket
  FROM b, (SELECT unnest({_PROBE_MASKS}) AS m) m
),
pairs AS (
  SELECT pr.src, d.vec_id AS dst, {_cos_sql("pr.src_qv", "d.qv")} AS cos
  FROM pr JOIN b d ON d.bucket = pr.probe_bucket AND d.vec_id <> pr.src
),
knn AS (
  SELECT src, dst
  FROM (
    SELECT src, dst,
           row_number() OVER (PARTITION BY src ORDER BY cos DESC, dst) AS rnk
    FROM pairs
  )
  WHERE rnk <= 5
),
indeg AS (
  SELECT dst, CAST(count(*) AS BIGINT) AS in_degree
  FROM knn GROUP BY dst
)
SELECT in_degree,
       CAST(count(*) AS BIGINT) AS n_vectors
FROM indeg
GROUP BY in_degree
ORDER BY in_degree
"""


def hubness_candidate_histogram(spark, sf_dir, n_planes: int):
    """The candidate-graph hubness pipeline with a parametric plane
    count — shared kernel of ``ann_hubness_candidates`` (pinned
    ``n_planes=8`` for its static oracle) and ``ann_hubness_adaptive``
    (plane count from the measured contract). One definition, so the
    parity tier and the scale tier cannot drift."""
    probe_masks = [0] + [1 << p for p in range(n_planes)]
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.select(
        "vec_id", V.quantize(F.col("embedding")).alias("qv")
    ).transform(stage_cache)
    # norms are a per-row property: compute them ONCE on the n-row frame
    # (norm_q's own contract), never per candidate pair — cosine_q's
    # inline form re-runs BOTH 64-element norm folds for every pair,
    # which at the ×100 candidate volume (~68M pairs) is 2/3 of the
    # pair-scoring compute for identical results (round-9 ×100 cut)
    b = q.withColumn(
        "bucket", V.hyperplane_bucket(F.col("qv"), dims=64, n_planes=n_planes)
    ).withColumn("nrm", V.norm_q(F.col("qv"))).transform(stage_cache)
    pr = b.select(
        F.col("vec_id").alias("src"),
        F.col("qv").alias("src_qv"),
        F.col("nrm").alias("src_nrm"),
        F.explode(
            F.array(
                *[
                    F.col("bucket").bitwiseXOR(F.lit(m)).cast("long")
                    for m in probe_masks
                ]
            )
        ).alias("bucket"),
    )
    d = b.select(
        F.col("vec_id").alias("dst"),
        F.col("qv").alias("dst_qv"),
        F.col("nrm").alias("dst_nrm"),
        F.col("bucket").cast("long").alias("bucket"),
    )
    # hot buckets (sign-projection buckets skew on clustered embeddings)
    # would serialize one reducer; the salted equi-join spreads each
    # bucket's pair generation across 8 tasks (same discipline as the
    # MinHash band join)
    pairs = (
        salted_join(pr, d, on=["bucket"], salt=8, salt_on=["src", "bucket"])
        .filter(F.col("dst") != F.col("src"))
        .select(
            "src",
            "dst",
            # dot/(sqrt(na)*sqrt(nb)) with the sqrts precomputed — the
            # identical IEEE expression cosine_q evaluates, so values
            # stay bit-deterministic vs the DuckDB oracle
            (
                V.dot_q(F.col("src_qv"), F.col("dst_qv")).cast("double")
                / (F.col("src_nrm") * F.col("dst_nrm"))
            ).alias("cos"),
        )
    )
    w = Window.partitionBy("src").orderBy(F.desc("cos"), F.asc("dst"))
    knn = (
        pairs.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= 5)
        .select("src", "dst")
    )
    indeg = knn.groupBy("dst").agg(F.count(F.lit(1)).alias("in_degree"))
    return (
        indeg.groupBy("in_degree")
        .agg(F.count(F.lit(1)).alias("n_vectors"))
        .orderBy("in_degree")
    )


@query("ann_hubness_candidates", oracle=_HUBNESS_CAND_ORACLE)
def ann_hubness_candidates(spark, sf_dir):
    """Hubness in-degree histogram over the multi-probe LSH *candidate*
    graph — the scale tier of ``ann_hubness_indegree``. Every vector's
    neighbor candidates are the vectors in buckets within Hamming
    distance <= 1 of its own sign-random-projection bucket (the same
    9-probe scheme ``ann_lsh_topk`` uses for queries, applied
    all-sources); the 5-NN cut and the in-degree histogram then read
    exactly like the ground-truth tier, just over bucket-local pairs.
    Cosines are exact integer-quantized and the k-NN cut ties on dst,
    so the graph is deterministic cross-engine.

    Scale shape: candidate generation is a bucket-keyed EQUI-join (9
    probe rows per vector against the bucket-keyed table — salted, since
    projection buckets skew), never an all-pairs theta join; pair volume
    is n x avg-bucket-size x 9 where bucket size is the tunable knob.
    THIS entry pins ``n_planes=8`` so its oracle stays a static literal-
    plane SQL string; ``ann_hubness_adaptive`` is the production mode
    whose plane count follows the measured contract
    (experiments/results/hubness_plane_scaling.json). The top-5 executes
    as a per-src WindowGroupLimit inside the bucket-local pair stream,
    and both final aggregates are vector-bounded. Hub scores read off a
    candidate graph are the production-honest measure anyway: ANN serves
    from the same buckets, so candidate-graph in-degree is what actually
    poisons recall.
    """
    return hubness_candidate_histogram(spark, sf_dir, n_planes=8)


def adaptive_plane_count(n_vectors: int, target_bucket: int = 32) -> int:
    """The measured plane-count contract (experiments/results/
    hubness_plane_scaling.json: fixed 8 planes -> x10 wall exponent 0.81;
    contract-following planes -> -0.02): the smallest k in [4, 20] with
    ``target_bucket * 2^k >= n`` — i.e. ~log2(n / target_bucket) planes,
    holding the expected bucket population ~constant as the corpus
    grows. Pure integer arithmetic so the DuckDB oracle can reproduce it
    bit-exactly (its SQL spells the identical min-k scan, with the same
    clamp). Clamped to 20 above ~33.5M vectors (32 * 2^20) — without the
    default, next() raised StopIteration exactly at production scale
    (advisor-found, round 8)."""
    return next(
        (k for k in range(4, 21) if (target_bucket << k) >= n_vectors), 20
    )


_HUBNESS_ADAPTIVE_ORACLE = f"""
WITH params AS (
  SELECT coalesce((SELECT min(k) FROM range(4, 21) t(k)
          WHERE (32::BIGINT << k) >= (SELECT count(*) FROM embeddings)), 20) AS np
),
q AS (SELECT vec_id, {_QUANT} AS qv FROM embeddings),
planes AS (
  SELECT CAST(p.p AS INT) AS p, CAST(d.d AS INT) AS d,
         CASE WHEN CAST(concat('0x', substr(md5(p.p || '-' || d.d), 1, 1)) AS INT) % 2 = 0
              THEN 1 ELSE -1 END AS s
  FROM (SELECT unnest(range((SELECT np FROM params))) AS p) p,
       (SELECT unnest(range(64)) AS d) d
),
dots AS (
  SELECT q.vec_id, pl.p,
         CAST(sum(pl.s * q.qv[pl.d + 1]) AS BIGINT) AS dot
  FROM q CROSS JOIN planes pl
  GROUP BY q.vec_id, pl.p
),
bk AS (
  SELECT vec_id,
         CAST(sum(CASE WHEN dot >= 0 THEN (1::BIGINT << p) ELSE 0 END) AS BIGINT) AS bucket
  FROM dots GROUP BY vec_id
),
b AS (SELECT q.vec_id, q.qv, bk.bucket FROM q JOIN bk USING (vec_id)),
masks AS (
  SELECT CAST(0 AS BIGINT) AS m
  UNION ALL
  SELECT (1::BIGINT << CAST(p AS INT))
  FROM (SELECT unnest(range((SELECT np FROM params))) AS p) t
),
pr AS (
  SELECT vec_id AS src, qv AS src_qv, xor(bucket, m.m) AS probe_bucket
  FROM b, masks m
),
pairs AS (
  SELECT pr.src, d.vec_id AS dst, {_cos_sql("pr.src_qv", "d.qv")} AS cos
  FROM pr JOIN b d ON d.bucket = pr.probe_bucket AND d.vec_id <> pr.src
),
knn AS (
  SELECT src, dst
  FROM (
    SELECT src, dst,
           row_number() OVER (PARTITION BY src ORDER BY cos DESC, dst) AS rnk
    FROM pairs
  )
  WHERE rnk <= 5
),
indeg AS (
  SELECT dst, CAST(count(*) AS BIGINT) AS in_degree
  FROM knn GROUP BY dst
)
SELECT in_degree,
       CAST(count(*) AS BIGINT) AS n_vectors
FROM indeg
GROUP BY in_degree
ORDER BY in_degree
"""


@query("ann_hubness_adaptive", oracle=_HUBNESS_ADAPTIVE_ORACLE)
def ann_hubness_adaptive(spark, sf_dir):
    """``ann_hubness_candidates`` in its PRODUCTION mode: the plane
    count follows the measured scale contract instead of a constant —
    smallest k with ``32 * 2^k >= n`` (``adaptive_plane_count``), so the
    expected bucket population stays ~32 as the corpus grows and pair
    volume stays ~linear in n. Round-7 verdict: "the scale contract
    lives in the experiment, not the registry entry" — this entry closes
    that gap WITH a full value oracle: the DuckDB SQL derives the same
    plane count from count(*) and the same ±1 planes from md5 parity
    (``vectors.plane_signs_sql``'s construction, spelled in SQL), so the
    adaptive mode is hash-checked end to end, not rows-only.

    Scale shape: one count() action to size the knob (scalar stat read,
    same discipline as MeasuredBuildSide), then exactly the
    ``hubness_candidate_histogram`` pipeline — salted bucket equi-join,
    per-src WindowGroupLimit, vector-bounded aggregates. Measured: ×10
    wall exponent -0.02 at the contract's plane count vs 0.81 fixed
    (experiments/results/hubness_plane_scaling.json)."""
    emb = load_table(spark, sf_dir, "embeddings")
    n_planes = adaptive_plane_count(emb.count())
    return hubness_candidate_histogram(spark, sf_dir, n_planes=n_planes)


# ---------------------------------------------------------------------------
# time-window analytics over the events table
# ---------------------------------------------------------------------------


@query(
    "events_window_agg",
    oracle="""
SELECT strftime(time_bucket(INTERVAL '10 minutes', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
       event_type,
       count(*) AS n_events,
       round(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2) AS total_value
FROM events
GROUP BY 1, 2
""",
)
def events_window_agg(spark, sf_dir):
    """Tumbling 10-minute window aggregation (batch ``F.window``).

    The same plan shape Structured Streaming uses for windowed aggs —
    grouping on (window, type) shuffles only the group keys; the decimal
    cast makes the sum exact (order-independent), which matters once the
    sum is computed across thousands of partial aggregates.
    """
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "10 minutes").alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.round(
                F.sum(F.col("value").cast("decimal(18,2)")).cast("double"), 2
            ).alias("total_value"),
        )
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


@query(
    "events_sessionize",
    oracle="""
WITH x AS (
  SELECT user_id,
         CASE WHEN lag(ts) OVER w IS NULL
                   OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
              THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
)
SELECT user_id, count(*) AS n_events, CAST(sum(new_session) AS BIGINT) AS n_sessions
FROM x GROUP BY user_id ORDER BY user_id
""",
)
def events_sessionize(spark, sf_dir):
    """Sessionization: 30-minute-gap session boundaries per user.

    lag() over (user, time) — one shuffle on user_id, then linear-time
    per-partition window evaluation. Gap math is integer microseconds
    (no float time arithmetic). This is the batch analog of
    ``applyInPandasWithState`` sessionization in streaming mode.
    """
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_us = F.unix_micros(F.col("ts")) - F.unix_micros(F.lag("ts").over(w))
    new_session = F.when(
        F.lag("ts").over(w).isNull() | (gap_us > 1800 * 1_000_000), 1
    ).otherwise(0)
    return (
        ev.select("user_id", new_session.alias("new_session"))
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.sum("new_session").cast("long").alias("n_sessions"),
        )
        .orderBy("user_id")
    )


def countmin_coords(token) -> "F.Column":
    """d=4 (row, bucket) coordinates of a token in the count-min sketch
    (universal-hash family ``text.MINHASH_A/B``) as one array expression
    — shared by the sketch build, the top-k readback, and the streaming
    drain so the three can never hash apart."""
    P = 2147483647
    h = T.token_hash64(token) % P
    return F.array(
        *[
            F.struct(
                F.lit(i).alias("i"),
                (((F.lit(T.MINHASH_A[i]) * h + F.lit(T.MINHASH_B[i])) % P) % 256).alias(
                    "bucket"
                ),
            )
            for i in range(4)
        ]
    )


def countmin_cells(tok: DataFrame) -> DataFrame:
    """(i, bucket) → count cells of the 4×256 count-min sketch over a
    token stream — the shared kernel of ``sketch_countmin_tokens`` and
    the incremental drain (``streaming.sketches.countmin_cell_stream``).
    count() partial-aggregates per cell, and cell-wise SUM is the sketch
    merge, so on a streaming input the identical expression is a bounded
    stateful aggregation: d×w = 1024 counters of state forever."""
    return (
        tok.select(F.explode(countmin_coords(F.col("token"))).alias("c"))
        .select("c.i", "c.bucket")
        .groupBy("i", "bucket")
        .agg(F.count(F.lit(1)).alias("c"))
    )


_BLOOM_M = 256


def _bloom_bit(col, start: int):
    """One Bloom bit position of string column ``col``: the 8 hex digits
    of its md5 from ``start`` (1 or 9, the two disjoint hashes), as an
    integer mod m — the oracles' ``CAST(concat('0x', substr(md5(..),
    start, 8)) AS BIGINT) % m``."""
    return F.conv(F.substring(F.md5(col), start, 8), 16, 10).cast("long") % _BLOOM_M


def bloom_bit_stream(tok: DataFrame, keep_token: bool = False) -> DataFrame:
    """Raw (bit) stream — both md5-derived positions per token — shared
    by ``sketch_bloom_tokens`` (one-pass aggregate → the filter) and the
    incremental drain (groupBy-count → the same bit set, merged by
    bit-OR which the grouped count subsumes). State on a stream is
    bounded by m=256 bits by construction. The two positions EXPLODE
    from one row (r12-opt: the former self-union re-scanned the token
    source — 2 input passes per consumer — for the identical multiset);
    ``keep_token=True`` carries the token alongside its bits so a
    consumer can fold token- and bit-level aggregates into one pass."""
    token = F.col("token")
    cols = (["token"] if keep_token else []) + [
        F.explode(F.array(_bloom_bit(token, 1), _bloom_bit(token, 9))).alias("bit")
    ]
    return tok.select(*cols)


_CM_A = ", ".join(str(x) for x in T.MINHASH_A[:4])
_CM_B = ", ".join(str(x) for x in T.MINHASH_B[:4])
_CM_H = "CAST(concat('0x', substr(md5({t}), 1, 15)) AS BIGINT) % 2147483647"
_CM_BUCKET = (
    f"((([{_CM_A}])[{{i}} + 1] * ({_CM_H.format(t='{t}')})"
    f" + ([{_CM_B}])[{{i}} + 1]) % 2147483647) % 256"
)


@query(
    "sketch_countmin_tokens",
    oracle=f"""
WITH tok AS (SELECT unnest({_WS_TOKS}) AS token FROM documents),
rows_ AS (
  SELECT d.i, {_CM_BUCKET.format(i="d.i", t="tok.token")} AS bucket
  FROM tok, (SELECT unnest([0, 1, 2, 3]) AS i) d
),
sketch AS (
  SELECT i, bucket, CAST(count(*) AS BIGINT) AS c
  FROM rows_ GROUP BY i, bucket
),
top20 AS (
  SELECT token, CAST(count(*) AS BIGINT) AS true_cnt
  FROM tok GROUP BY token ORDER BY true_cnt DESC, token LIMIT 20
),
coords AS (
  SELECT t.token, t.true_cnt, d.i,
         {_CM_BUCKET.format(i="d.i", t="t.token")} AS bucket
  FROM top20 t, (SELECT unnest([0, 1, 2, 3]) AS i) d
)
SELECT coords.token, coords.true_cnt, CAST(min(s.c) AS BIGINT) AS cm_est
FROM coords JOIN sketch s USING (i, bucket)
GROUP BY coords.token, coords.true_cnt
ORDER BY true_cnt DESC, token
""",
)
def sketch_countmin_tokens(spark, sf_dir):
    """Count-min sketch of the corpus token stream (Cormode & Muthu-
    krishnan 2005): depth 4 × width 256 with the repo's universal-hash
    family (``text.MINHASH_A/B`` — one source of truth, the oracle's
    array literals are f-stringed from the same constants), then the
    top-20 true tokens estimated back from the sketch. Output carries
    (true_cnt, cm_est) so the defining overestimate property
    ``cm_est ≥ true_cnt`` is visible in the result and pinned in tests.

    The sketch IS the scale story: a heavy-hitter histogram whose state is
    d×w = 1024 counters regardless of corpus size — built here with one
    map-side-combined shuffle of (row, bucket) pairs (4 per token
    occurrence), exactly how you'd sketch per partition and merge by cell
    at 100 TB. The exploded token stream is staged so the sketch build
    and the top-20 truth read one tokenization; the md5 per (token, row)
    re-inlines under projection collapse (4 kernels/token) — acceptable
    for a sketch build."""
    docs = load_table(spark, sf_dir, "documents")
    # sketch build and top-20 truth both consume the exploded stream —
    # stage it so the corpus is tokenized and scanned once
    tok = stage_cache(
        docs.select(F.explode(T.tokens(F.col("text"))).alias("token"))
    )
    sketch = countmin_cells(tok)
    top20 = (
        tok.groupBy("token")
        .agg(F.count(F.lit(1)).alias("true_cnt"))
        .orderBy(F.desc("true_cnt"), F.asc("token"))
        .limit(20)
    )
    coords = top20.select(
        "token", "true_cnt", F.explode(countmin_coords(F.col("token"))).alias("c")
    ).select("token", "true_cnt", "c.i", "c.bucket")
    return (
        coords.join(sketch, ["i", "bucket"])
        .groupBy("token", "true_cnt")
        .agg(F.min("c").alias("cm_est"))
        .orderBy(F.desc("true_cnt"), F.asc("token"))
    )


@query(
    "corpus_chunk_windows",
    oracle=f"""
WITH t AS (SELECT doc_id, {_WS_TOKS} AS ws FROM documents),
c AS (
  SELECT doc_id,
         CAST(g.i AS INT) AS chunk_idx,
         ws[(g.i*16 + 1):(g.i*16 + 32)] AS chunk
  FROM t, LATERAL (
    SELECT unnest(generate_series(0,
        CAST(greatest(ceil((len(ws) - 32) / 16.0), 0) AS BIGINT))) AS i
  ) g
)
SELECT doc_id, chunk_idx,
       CAST(len(chunk) AS INT) AS n_tokens,
       md5(array_to_string(chunk, ' ')) AS chunk_hash
FROM c
ORDER BY doc_id, chunk_idx
""",
)
def corpus_chunk_windows(spark, sf_dir):
    """Sliding-window document chunking: 32-token windows with stride 16
    (50% overlap) — the chunker every RAG index and long-document
    pretraining pipeline runs before embedding/packing. Emits one row per
    chunk with a content digest; the final (ragged) window keeps its
    partial length.

    Map-only 1→N expansion: the window count is ceil((n-32)/16)+1 per
    doc, produced by a ``sequence``+``transform`` explode over slices of
    the materialized token array — no shuffle (the output ORDER BY is
    presentation-only and prunes to a range partition at most). At 100 TB
    chunking is exactly this: a scan that emits ~n/stride rows per doc,
    embarrassingly parallel."""
    docs = load_table(spark, sf_dir, "documents")
    toks = T.tokens(F.col("text"))
    n = F.size(toks)
    n_chunks = F.greatest(F.ceil((n - 32) / F.lit(16.0)), F.lit(0)).cast("int") + 1
    staged = docs.select("doc_id", toks.alias("ws"), n_chunks.alias("nc"))
    chunk = F.slice(F.col("ws"), F.col("i") * 16 + 1, 32)
    return (
        staged.select(
            "doc_id",
            F.explode(F.sequence(F.lit(0), F.col("nc") - 1)).alias("i"),
            "ws",
        )
        .select(
            "doc_id",
            F.col("i").cast("int").alias("chunk_idx"),
            F.size(chunk).alias("n_tokens"),
            F.md5(F.concat_ws(" ", chunk)).alias("chunk_hash"),
        )
        .orderBy("doc_id", "chunk_idx")
    )


@query(
    "events_funnel",
    oracle="""
WITH s1 AS (
  SELECT user_id, min(ts) AS t1 FROM events
  WHERE event_type = 'view' GROUP BY user_id
),
s2 AS (
  SELECT e.user_id, min(e.ts) AS t2
  FROM events e JOIN s1 USING (user_id)
  WHERE e.event_type = 'click' AND e.ts > s1.t1
  GROUP BY e.user_id
),
s3 AS (
  SELECT e.user_id, min(e.ts) AS t3
  FROM events e JOIN s2 USING (user_id)
  WHERE e.event_type = 'purchase' AND e.ts > s2.t2
  GROUP BY e.user_id
)
SELECT step_no, step, n_users FROM (
  SELECT 1 AS step_no, 'view' AS step, CAST(count(*) AS BIGINT) AS n_users FROM s1
  UNION ALL
  SELECT 2, 'view>click', CAST(count(*) AS BIGINT) FROM s2
  UNION ALL
  SELECT 3, 'view>click>purchase', CAST(count(*) AS BIGINT) FROM s3
) ORDER BY step_no
""",
)
def events_funnel(spark, sf_dir):
    """Ordered conversion funnel: users whose first 'view' precedes a
    'click' that precedes a 'purchase' — strict temporal order, the
    event-analytics staple (the min-milestone formulation: each step's
    timestamp is the EARLIEST occurrence after the previous step, which
    makes the result order-insensitive to event duplication and
    deterministic across engines).

    Per step: one user-keyed aggregation plus a join of the event scan
    against the previous step's (user, milestone) pairs — every shuffle
    is on user_id, so at scale the three steps reuse one co-partitioning
    and never move the event log by anything else. Step frames shrink
    monotonically (funnel!), so the later joins are the cheap side."""
    ev = load_table(spark, sf_dir, "events").select("user_id", "event_type", "ts")

    # fold the step chain: each stage keeps (user_id, milestone ts) for
    # users whose first qualifying event follows the previous milestone
    step = None
    frames = []
    for event_type in ("view", "click", "purchase"):
        nxt = ev.filter(F.col("event_type") == event_type)
        if step is not None:
            nxt = nxt.join(step, "user_id").filter(F.col("ts") > F.col("milestone"))
        step = nxt.groupBy("user_id").agg(F.min("ts").alias("milestone"))
        frames.append(step)

    names = ("view", "view>click", "view>click>purchase")
    levels = [
        frame.agg(
            F.lit(no).alias("step_no"),
            F.lit(name).alias("step"),
            F.count(F.lit(1)).alias("n_users"),
        )
        for no, (name, frame) in enumerate(zip(names, frames), start=1)
    ]
    out = levels[0]
    for lvl in levels[1:]:
        out = out.unionByName(lvl)
    return out.orderBy("step_no")


def _token_counts(spark, sf_dir):
    """(doc_id, token, tf) postings frame behind a stage cache — ONE
    tokenization + one (doc, token) shuffle shared by the TF-IDF and
    BM25 retrieval builds (the `_ws_bigram_projection` discipline: a
    frame two operators claim to share is defined once)."""
    docs = load_table(spark, sf_dir, "documents")
    return stage_cache(
        docs.select("doc_id", F.explode(T.tokens(F.col("text"))).alias("token"))
        .groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).alias("tf"))
    )


@query(
    "text_tfidf_topk",
    oracle=f"""
WITH t AS (SELECT doc_id, unnest({_WS_TOKS}) AS token FROM documents),
tf AS (
  SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf
  FROM t GROUP BY doc_id, token
),
df AS (
  SELECT token, CAST(count(*) AS BIGINT) AS df
  FROM tf GROUP BY token
),
n AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
scored AS (
  SELECT tf.doc_id, tf.token,
         round(tf.tf * (CAST(n.n_docs AS DOUBLE) / df.df), 6) AS tfidf
  FROM tf JOIN df USING (token) CROSS JOIN n
)
SELECT doc_id, token, tfidf FROM (
  SELECT doc_id, token, tfidf,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY tfidf DESC, token) AS rn
  FROM scored
)
WHERE rn <= 3
ORDER BY doc_id, tfidf DESC, token
""",
)
def text_tfidf_topk(spark, sf_dir):
    """Top-3 terms per document by TF-IDF with a rational idf surrogate
    (``n_docs / df`` — no logarithm, so both engines agree bit-for-bit
    before the single documented round; the log damps RANKING only when
    candidates differ by idf alone, which the tf factor already
    dominates here).

    The inverted-index build every retrieval/keyword system runs: one
    (doc, token) count shuffle, document frequencies as a map-side
    partial agg OVER that frame (no second corpus scan), the df table
    joined back by token, and a per-doc top-k window. At 100 TB the df
    table is vocabulary-sized — orders smaller than the corpus — and
    everything else is keyed on doc or token.

    The df side's broadcast decision is MEASURED (capped limit-probe,
    the flagship pattern): Catalyst's plan-time estimate for an
    aggregate over the cached tf inflates with the corpus and flipped
    this join to a SortMergeJoin at the ×100 stress point, adding a
    full tf-sized re-shuffle (143 MB for a 3.35 MB actual build side —
    the per-stage breakdown in BASELINE.md §F). The probe broadcasts a
    vocabulary that truly fits and leaves a genuinely large one to the
    shuffle family, which is the correct call at real 100-TB vocabulary
    sizes."""
    docs = load_table(spark, sf_dir, "documents")
    tf = _token_counts(spark, sf_dir)
    df = MeasuredBuildSide(spark).build_side(
        tf.groupBy("token").agg(F.count(F.lit(1)).alias("df")),
        f"tfidf_df@{sf_dir}",
    )
    n = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(df, "token")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "token",
            F.round(
                F.col("tf") * (F.col("n_docs").cast("double") / F.col("df")), 6
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("token"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("doc_id", "token", "tfidf")
        .orderBy("doc_id", F.desc("tfidf"), "token")
    )


@query(
    "text_bm25_topk",
    oracle=f"""
WITH t AS (SELECT doc_id, unnest({_WS_TOKS}) AS token FROM documents),
tf AS (
  SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf
  FROM t GROUP BY doc_id, token
),
dl AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS dl FROM t GROUP BY doc_id),
stats AS (
  SELECT CAST(count(*) AS BIGINT) AS n_docs,
         avg(CAST(dl AS DOUBLE)) AS avgdl
  FROM dl
),
qterm AS (SELECT unnest(['table', 'scan', 'fast']) AS token),
df AS (
  SELECT tf.token, CAST(count(*) AS BIGINT) AS df
  FROM tf JOIN qterm USING (token) GROUP BY tf.token
),
scored AS (
  SELECT tf.doc_id,
         sum(CAST((stats.n_docs - df.df + 0.5) AS DOUBLE) / (df.df + 0.5)
             * (tf.tf * 2.2)
             / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / stats.avgdl))) AS s
  FROM tf
  JOIN df USING (token)
  JOIN dl USING (doc_id)
  CROSS JOIN stats
  GROUP BY tf.doc_id
)
SELECT doc_id, round(s, 6) AS bm25
FROM scored
ORDER BY bm25 DESC, doc_id
LIMIT 10
""",
)
def text_bm25_topk(spark, sf_dir):
    """BM25 retrieval (Robertson–Sparck Jones) for a fixed keyword query
    — k1=1.2, b=0.75, and the RATIONAL idf variant
    ``(N - df + 0.5)/(df + 0.5)`` (the log in standard BM25 is a
    monotone damp; dropping it preserves per-term ranking and keeps the
    arithmetic transcendental-free, so both engines agree to the last
    bit before the single round).

    The search-engine scoring shape at scale: the query's 3 terms prune
    the df build to a broadcast-sized table, document lengths and the
    (n_docs, avgdl) scalar broadcast alongside, and scoring touches only
    postings of query terms — one (doc, token) count shuffle + one
    per-doc sum, TakeOrdered for the top-10."""
    tf = _token_counts(spark, sf_dir)
    dl = tf.groupBy("doc_id").agg(F.sum("tf").cast("long").alias("dl"))
    stats = dl.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.avg(F.col("dl").cast("double")).alias("avgdl"),
    )
    qterm = spark.range(1).select(
        F.explode(F.array(F.lit("table"), F.lit("scan"), F.lit("fast"))).alias("token")
    )
    df = tf.join(F.broadcast(qterm), "token").groupBy("token").agg(
        F.count(F.lit(1)).alias("df")
    )
    idf = (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
    term_score = (
        idf
        * (F.col("tf") * 2.2)
        / (F.col("tf") + 1.2 * (0.25 + 0.75 * F.col("dl") / F.col("avgdl")))
    )
    return (
        tf.join(F.broadcast(df), "token")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .groupBy("doc_id")
        .agg(F.sum(term_score).alias("s"))
        .select("doc_id", F.round("s", 6).alias("bm25"))
        .orderBy(F.desc("bm25"), "doc_id")
        .limit(10)
    )


@query(
    "events_cohort_retention",
    oracle="""
WITH first_seen AS (
  SELECT user_id,
         CAST(floor(epoch_us(min(ts)) / 604800000000) AS BIGINT) AS cohort_week
  FROM events GROUP BY user_id
),
activity AS (
  SELECT DISTINCT user_id,
         CAST(floor(epoch_us(ts) / 604800000000) AS BIGINT) AS active_week
  FROM events
)
SELECT f.cohort_week,
       CAST(a.active_week - f.cohort_week AS BIGINT) AS week_offset,
       CAST(count(*) AS BIGINT) AS n_users
FROM first_seen f JOIN activity a USING (user_id)
GROUP BY f.cohort_week, week_offset
ORDER BY cohort_week, week_offset
""",
)
def events_cohort_retention(spark, sf_dir):
    """Cohort retention matrix: users grouped by first-seen week, counted
    in each later week they were active — the (cohort, offset, n_users)
    triangle behind every retention curve. Weeks are integer epoch-week
    buckets (floor of epoch microseconds / one week), so bucket math is
    exact and engine-independent.

    Scale shape: both the first-seen aggregate and the distinct activity
    set shuffle once on user_id, the join reuses that co-partitioning,
    and the final (cohort, offset) rollup is a partial-agg shuffle over a
    tiny key space. The event log is never moved by anything except
    user_id."""
    ev = load_table(spark, sf_dir, "events").select("user_id", "ts")
    week = F.floor(F.unix_micros(F.col("ts")) / F.lit(604800000000)).cast("long")
    first_seen = ev.groupBy("user_id").agg(F.min(week).alias("cohort_week"))
    activity = ev.select("user_id", week.alias("active_week")).distinct()
    return (
        first_seen.join(activity, "user_id")
        .groupBy(
            "cohort_week",
            (F.col("active_week") - F.col("cohort_week")).alias("week_offset"),
        )
        .agg(F.count(F.lit(1)).alias("n_users"))
        .orderBy("cohort_week", "week_offset")
    )


@query(
    "profile_key_skew",
    oracle="""
WITH kv AS (
  SELECT u.join_col,
         CASE u.join_col WHEN 'l_orderkey' THEN l_orderkey
                         WHEN 'l_partkey' THEN l_partkey
                         ELSE l_suppkey END AS key
  FROM lineitem,
       (SELECT unnest(['l_orderkey', 'l_partkey', 'l_suppkey']) AS join_col) u
),
hist AS (
  SELECT join_col, CAST(key AS BIGINT) AS key, CAST(count(*) AS BIGINT) AS cnt
  FROM kv GROUP BY join_col, key
),
total AS (SELECT CAST(count(*) AS BIGINT) AS n FROM lineitem),
ranked AS (
  SELECT join_col, key, cnt,
         row_number() OVER (PARTITION BY join_col ORDER BY cnt DESC, key) AS rn
  FROM hist
)
SELECT r.join_col, r.key, r.cnt,
       CAST(floor(r.cnt * 1000000.0 / CAST(t.n AS DOUBLE)) AS BIGINT) AS share_ppm
FROM ranked r CROSS JOIN total t
WHERE r.rn <= 5
ORDER BY r.join_col, r.cnt DESC, r.key
""",
)
def profile_key_skew(spark, sf_dir):
    """Join-key skew profile: the 5 heaviest keys of each lineitem join
    column with their row counts and corpus share (ppm) — the diagnostic
    a salting/AQE-skew decision is made from (`operators/skew.py` docs:
    salt when one key's share makes a single reducer the critical path).

    Single fact scan: the three columns melt into (join_col, key) pairs
    map-side (explode of a 3-struct array — 3× rows, zero extra scans),
    one partial-agg shuffle on the pair builds all histograms at once,
    and the rank filter sits DIRECTLY on the window so WindowGroupLimit
    cuts each partition to its top 5 before the 3-partition rank
    exchange — no per-column-total window that would funnel every
    distinct key through one task (the share denominator is the corpus
    row count, one broadcast scalar)."""
    li = load_table(spark, sf_dir, "lineitem")
    cols = ("l_orderkey", "l_partkey", "l_suppkey")
    kv = li.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("join_col"),
                        F.col(c).cast("long").alias("key"),
                    )
                    for c in cols
                ]
            )
        ).alias("e")
    ).select("e.join_col", "e.key")
    hist = kv.groupBy("join_col", "key").agg(F.count(F.lit(1)).alias("cnt"))
    total = li.agg(F.count(F.lit(1)).alias("n"))
    rank_w = Window.partitionBy("join_col").orderBy(F.desc("cnt"), F.asc("key"))
    return (
        hist.withColumn("rn", F.row_number().over(rank_w))
        .filter(F.col("rn") <= 5)
        .crossJoin(F.broadcast(total))
        .select(
            "join_col",
            "key",
            "cnt",
            F.floor(F.col("cnt") * 1000000.0 / F.col("n").cast("double"))
            .cast("long")
            .alias("share_ppm"),
        )
        .orderBy("join_col", F.desc("cnt"), "key")
    )


# ---------------------------------------------------------------------------
# multimodal binary plumbing
# ---------------------------------------------------------------------------


@query(
    "mm_binary_features",
    oracle="""
SELECT doc_id,
       16 AS byte_len,
       CAST(CAST(concat('0x', substr(md5(text), 1, 2)) AS BIGINT) AS INT) AS first_byte,
       CAST(list_sum(list_transform(generate_series(0, 15), i ->
         CAST(concat('0x', substr(md5(text), 2*i + 1, 2)) AS BIGINT))) AS BIGINT) AS checksum
FROM documents
""",
)
def mm_binary_features(spark, sf_dir):
    """Binary-payload feature extraction through the multimodal path.

    Builds an opaque binary column (md5 bytes of the text — a stand-in for
    an image payload), then runs the Arrow-batched ``mapInPandas``
    extractor from ``functions.multimodal``. The oracle recomputes the
    same byte arithmetic from the md5 hex in SQL, proving the Python side
    round-trips bytes losslessly through Arrow. At scale this stage is
    map-only: partition boundaries are preserved, no shuffle, and batch
    size (not row count) governs memory.
    """
    from postbound_spark.functions.multimodal import binary_features

    docs = load_table(spark, sf_dir, "documents")
    payloads = docs.select("doc_id", F.unhex(F.md5("text")).alias("payload"))
    return binary_features(payloads, payload_col="payload", id_col="doc_id")


@query(
    "events_json_props",
    oracle="""
SELECT event_type,
       count(*) AS n_events,
       CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS k_sum,
       CAST(min(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS k_min,
       CAST(max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS k_max
FROM events
GROUP BY event_type
ORDER BY event_type
""",
)
def events_json_props(spark, sf_dir):
    """Semi-structured JSON property extraction over the event stream
    (``get_json_object`` — JVM-side JSON path, no UDF). The scan reads only
    (event_type, props); at scale you'd persist hot JSON fields as real
    columns, but ad-hoc extraction must stay a one-scan operation."""
    ev = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    return (
        ev.groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(k).alias("k_sum"),
            F.min(k).alias("k_min"),
            F.max(k).alias("k_max"),
        )
        .orderBy("event_type")
    )


_IVF_ORACLE = f"""
WITH q AS (SELECT vec_id, label, {_QUANT} AS qv FROM embeddings),
cents AS (SELECT vec_id AS cid, qv AS cqv FROM q WHERE vec_id < 16),
assign AS (
  SELECT vec_id, label, qv, cid,
         row_number() OVER (
           PARTITION BY vec_id
           ORDER BY list_sum(list_transform(generate_series(1, len(qv)),
                                            i -> (qv[i] - cqv[i]) * (qv[i] - cqv[i]))),
                    cid
         ) AS rn
  FROM q, cents
),
clustered AS (SELECT vec_id, label, qv, cid AS cluster FROM assign WHERE rn = 1),
probe AS (SELECT cluster, qv AS query_qv FROM clustered WHERE vec_id = 0)
SELECT c.vec_id, c.label, c.cluster,
       round({_cos_sql("c.qv", "p.query_qv")}, 6) AS cosine
FROM clustered c JOIN probe p ON c.cluster = p.cluster
WHERE c.vec_id != 0
ORDER BY {_cos_sql("c.qv", "p.query_qv")} DESC, c.vec_id
LIMIT 5
"""


@query("ann_ivf_topk", oracle=_IVF_ORACLE)
def ann_ivf_topk(spark, sf_dir):
    """IVF-style ANN: coarse quantizer (16 deterministic centroids — the
    first 16 vectors; a k-means refinement drops in without changing the
    dataflow) assigns every vector to its nearest cluster; the query
    probes only its own cluster, then exact cosine ranks candidates.

    All assignment math is exact integer arithmetic (squared L2 on
    quantized vectors), so the partition is bit-identical across engines.
    Scale shape: the 16 centroids collapse to ONE row (an array of
    structs) broadcast onto every vector, and the argmin is an
    ``F.aggregate`` fold over that array — strictly map-only, no row
    expansion and no window shuffle (the round-1 plan expanded 16x and
    ran row_number over 16n rows). The probe stays an equi-join on the
    cluster id — the same candidate-pruning skeleton as the LSH variant
    but with data-adaptive regions instead of random hyperplanes.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    q = (
        emb.select("vec_id", "label", V.quantize(F.col("embedding")).alias("qv"))
        .transform(stage_cache)
    )
    cents = q.filter(F.col("vec_id") < 16).select(
        F.col("vec_id").alias("cid"), F.col("qv").alias("cqv")
    )
    # one row: centroids ordered by cid ascending, so a strict-< fold
    # keeps the smallest cid on distance ties (same tie-break as the old
    # row_number ordering)
    cent_arr = cents.agg(
        F.sort_array(F.collect_list(F.struct("cid", "cqv"))).alias("cents")
    )
    clustered = _assign_to_centroids(q, cent_arr, extra_cols=("label",)).select(
        "vec_id", "label", "qv", "cluster"
    )
    probe = clustered.filter(F.col("vec_id") == 0).select(
        F.col("cluster").alias("query_cluster"), F.col("qv").alias("query_qv")
    )
    nrm = V.norm_q(F.col("qv"))
    qnrm = V.norm_q(F.col("query_qv"))
    c = V.dot_q(F.col("qv"), F.col("query_qv")).cast("double") / (nrm * qnrm)
    return (
        clustered.join(F.broadcast(probe), F.col("cluster") == F.col("query_cluster"))
        .filter(F.col("vec_id") != 0)
        .select("vec_id", "label", "cluster", c.alias("c"))
        .orderBy(F.desc("c"), "vec_id")
        .limit(5)
        .select("vec_id", "label", "cluster", F.round("c", 6).alias("cosine"))
    )


def _assign_to_centroids(q, cent_arr, extra_cols=()):
    """Map-only nearest-centroid assignment, shared by the static IVF probe
    and the k-means refinement: score every centroid ONCE via a transform
    (struct of d2 + cid), then fold with strict-< so the smallest cid wins
    distance ties. ``extra_cols`` pass through unchanged."""

    def _d2(c):
        return F.aggregate(
            F.zip_with(F.col("qv"), c["cqv"], lambda x, y: (x - y) * (x - y)),
            F.lit(0).cast("long"),
            lambda acc, v: acc + v,
        )

    scored = F.transform(
        F.col("cents"),
        lambda c: F.struct(_d2(c).alias("d2"), c["cid"].alias("cid")),
    )
    argmin = F.aggregate(
        scored,
        F.struct(
            F.lit(1 << 62).cast("long").alias("d2"),
            F.lit(-1).cast("long").alias("cid"),
        ),
        lambda acc, s: F.when(s["d2"] < acc["d2"], s).otherwise(acc),
    )
    return (
        q.crossJoin(F.broadcast(cent_arr))
        .select("vec_id", *extra_cols, "qv", argmin["cid"].alias("cluster"))
    )


_KMEANS_ORACLE = """
WITH RECURSIVE qv AS (
  SELECT vec_id,
         generate_subscripts(embedding, 1) AS pos,
         CAST(floor(unnest(embedding)::DOUBLE * 1000000 + 0.5) AS BIGINT) AS val
  FROM embeddings
),
state(iter, cid, pos, val) AS (
  SELECT 0, vec_id, pos, val FROM qv WHERE vec_id < 16
  UNION ALL
  SELECT t.iter + 1, t.cluster, t.pos, t.val
  FROM (
    SELECT a.iter, a.cluster, v2.pos,
           CAST(floor(CAST(CAST(sum(v2.val) AS BIGINT) AS DOUBLE) / count(*)) AS BIGINT) AS val
    FROM (
      SELECT iter, vec_id, cid AS cluster
      FROM (
        SELECT s.iter, v.vec_id, s.cid,
               CAST(sum((v.val - s.val) * (v.val - s.val)) AS BIGINT) AS d2
        FROM state s JOIN qv v USING (pos)
        GROUP BY s.iter, v.vec_id, s.cid
      ) scored
      QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) = 1
    ) a
    JOIN qv v2 ON a.vec_id = v2.vec_id
    GROUP BY a.iter, a.cluster, v2.pos
  ) t
  WHERE t.iter < 3
),
final_cent AS (SELECT cid, pos, val FROM state WHERE iter = 3),
scored_f AS (
  SELECT v.vec_id, c.cid, CAST(sum((v.val - c.val) * (v.val - c.val)) AS BIGINT) AS d2
  FROM qv v JOIN final_cent c USING (pos)
  GROUP BY v.vec_id, c.cid
),
assigned AS (
  SELECT vec_id, cid AS cluster, d2
  FROM scored_f
  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) = 1
)
SELECT cluster, count(*) AS n_vectors,
       round(avg(sqrt(CAST(d2 AS DOUBLE))), 2) AS avg_dist
FROM assigned GROUP BY cluster ORDER BY cluster
"""


@query("ann_ivf_kmeans", oracle=_KMEANS_ORACLE)
def ann_ivf_kmeans(spark, sf_dir):
    """K-means refinement of the IVF coarse quantizer (Lloyd iterations) —
    the "drops in without changing the dataflow" step ann_ivf_topk's
    docstring promises.

    Per iteration: (1) nearest-centroid assignment — map-only fold over
    the ONE broadcast centroid row (identical plan to the static IVF
    assignment); (2) centroid recomputation — posexplode the 16-dim
    quantized vectors and average per (cluster, dimension), then
    collect back to arrays: two keyed shuffles of (cluster, pos, val)
    triples, never of documents. ``localCheckpoint`` truncates lineage per
    round (iterative-DataFrame discipline). 3 iterations from the
    deterministic seed (first 16 vectors); k-means over integer-quantized
    vectors with floor-mean keeps every iteration exactly reproducible.
    Output: per-cluster population + mean within-cluster distance, the
    quantizer-quality metric an IVF index build reports. The DuckDB
    oracle replays the identical Lloyd iterations as a recursive CTE
    (per-step working table = current centroid triples): deterministic
    seeding (first 16 vectors) + all-integer quantized arithmetic +
    floor-mean make every iteration exactly reproducible across engines,
    so even the iterative path gets full result-set verification.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    q = (
        emb.select("vec_id", V.quantize(F.col("embedding")).alias("qv"))
        .localCheckpoint()
    )
    cents = q.filter(F.col("vec_id") < 16).select(
        F.col("vec_id").alias("cid"), F.col("qv").alias("cqv")
    )
    cent_arr = cents.agg(
        F.sort_array(F.collect_list(F.struct("cid", "cqv"))).alias("cents")
    )
    for _ in range(3):
        assigned = _assign_to_centroids(q, cent_arr)
        # elementwise floor-mean per cluster: (cluster, pos, val) triples
        new_cents = (
            assigned.select("cluster", F.posexplode("qv").alias("pos", "val"))
            .groupBy("cluster", "pos")
            .agg(F.floor(F.avg("val")).cast("long").alias("mean"))
            .groupBy("cluster")
            .agg(
                F.array_sort(
                    F.collect_list(F.struct("pos", "mean"))
                ).alias("dims")
            )
            .select(
                F.col("cluster").alias("cid"),
                F.transform(F.col("dims"), lambda s: s["mean"]).alias("cqv"),
            )
        )
        cent_arr = new_cents.agg(
            F.sort_array(F.collect_list(F.struct("cid", "cqv"))).alias("cents")
        ).localCheckpoint()

    final = _assign_to_centroids(q, cent_arr)
    d2 = F.aggregate(
        F.zip_with(F.col("qv"), F.col("cqv"), lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    cents_flat = cent_arr.select(
        F.explode("cents").alias("c")
    ).select(F.col("c.cid").alias("ccid"), F.col("c.cqv").alias("cqv"))
    return (
        final.join(F.broadcast(cents_flat), F.col("cluster") == F.col("ccid"))
        .select("cluster", d2.alias("d2"))
        .groupBy("cluster")
        .agg(
            F.count("*").alias("n_vectors"),
            F.round(F.avg(F.sqrt(F.col("d2").cast("double"))), 2).alias("avg_dist"),
        )
        .orderBy("cluster")
    )


@query(
    "mm_frame_sample",
    oracle="""
SELECT d.doc_id,
       CAST(f.i AS INT) AS frame_idx,
       CAST(f.i * 250 AS BIGINT) AS frame_ts_ms,
       CAST(CAST(concat('0x', substr(md5(d.text), 1, 14)) AS BIGINT) % 1000000007 + f.i AS BIGINT) AS frame_checksum
FROM documents d,
     LATERAL (SELECT unnest(generate_series(0,
                CAST(ceil(greatest(d.n_chars, 1) / 250.0) AS BIGINT) - 1)) AS i) f
WHERE d.doc_id < 500
""",
)
def mm_frame_sample(spark, sf_dir):
    """Video frame-sampling plumbing: documents stand in for videos
    (payload = md5 bytes of the text, duration_ms = n_chars), and the
    mapInPandas stage expands each row into one row per 250 ms frame —
    the 1→N expansion pattern with a STUBBED decoder
    (functions/multimodal.sample_frames). The oracle reproduces the exact
    expansion and per-frame checksums with generate_series over the same
    md5 arithmetic — the Python batch loop is fully pinned by SQL.
    ``mm_video_decode`` is the genuine-decode sibling: real PNG frames,
    real spec-compliant decode, pixel digests under the same oracle
    discipline."""
    from postbound_spark.functions.multimodal import sample_frames

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 500)
    videos = docs.select(
        "doc_id",
        F.unhex(F.md5("text")).alias("payload"),
        F.greatest(F.col("n_chars"), F.lit(1)).cast("long").alias("duration_ms"),
    )
    return sample_frames(videos, interval_ms=250)


_VIDEO_DECODE_ORACLE = """
WITH d AS (
  SELECT doc_id, text, n_chars FROM documents WHERE doc_id < 200
),
f AS (
  SELECT doc_id, text,
         unnest(generate_series(0, n_chars % 3)) AS frame_idx
  FROM d
),
sampled AS (SELECT * FROM f WHERE frame_idx % 2 = 0),
b AS (
  SELECT doc_id, frame_idx, text,
         unnest(generate_series(0, 191)) AS s
  FROM sampled
),
vals AS (
  SELECT doc_id, frame_idx, s,
         CAST(concat('0x', substr(
           md5(text || '|' || CAST(frame_idx AS VARCHAR)
                    || '|' || CAST(s // 16 AS VARCHAR)),
           (s % 16) * 2 + 1, 2)) AS BIGINT) AS byte
  FROM b
)
SELECT doc_id, frame_idx,
       CAST(8 AS INT) AS width, CAST(8 AS INT) AS height,
       CAST(sum(byte) AS BIGINT) AS pixel_sum,
       CAST(count(*) AS BIGINT) AS pixel_count,
       CAST(max(CASE WHEN s = 0 THEN byte END) AS INT) AS first_pixel,
       CAST(max(CASE WHEN s = 191 THEN byte END) AS INT) AS last_pixel
FROM vals
GROUP BY doc_id, frame_idx
ORDER BY doc_id, frame_idx
"""


@query("mm_video_decode", oracle=_VIDEO_DECODE_ORACLE)
def mm_video_decode(spark, sf_dir):
    """GENUINE video-frame decode (closing the round-6 stub flag on
    mm_frame_sample): each document becomes a video CONTAINER of 1-3
    real PNG frames (8x8 RGB, pixels drawn from an md5 chain over the
    text, encoded by the stdlib PNG writer), and the decode stage
    splits the container, runs the spec-compliant stdlib PNG decoder
    (zlib inflate + scanline unfiltering) on every 2nd frame inside
    mapInPandas, and digests the DECODED pixel array (sum / count /
    first / last byte).

    The DuckDB oracle reproduces the digests from the SAME md5 chain
    directly — so the entry hashes green only if encode -> container ->
    split -> PNG decode is the pixel-exact identity. A corrupted IDAT,
    a broken unfilter branch, or an off-by-one in the container walk
    all surface as value mismatches, not just row counts. Pillow-free
    by construction.

    Scale shape: two chained mapInPandas UDFs (encode, decode), both
    map-only over Arrow batches, and no shuffle: the frame digest
    aggregate happens inside the decode batch loop, bounded by frames
    per batch, and the final ordering is a :func:`bounded_sort` in one
    partition, so the UDF chain runs once per collect. (A range-exchange
    ``orderBy`` ran the chain twice: once for its sampling job, once for
    the shuffle.) Production swaps the PNG codec for an ffmpeg batch call
    with the identical dataflow and oracle discipline (digests of
    decoded pixels, engine-independent).
    """
    import hashlib
    import struct as _struct
    from collections.abc import Iterator as _Iterator

    import numpy as _np
    import pandas as _pd
    from pyspark.sql.types import (
        BinaryType,
        LongType,
        StructField,
        StructType,
    )

    from postbound_spark.functions.multimodal import (
        decode_video_frames,
        encode_png,
    )

    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") < 200
    ).select("doc_id", "text", "n_chars")

    container_schema = StructType(
        [
            StructField("doc_id", LongType()),
            StructField("payload", BinaryType()),
        ]
    )

    def build_containers(batches: "_Iterator[_pd.DataFrame]"):
        for pdf in batches:
            ids, payloads = [], []
            for doc_id, text, n_chars in zip(
                pdf["doc_id"], pdf["text"], pdf["n_chars"]
            ):
                text = text or ""
                n_frames = 1 + int(n_chars) % 3
                parts = []
                for i in range(n_frames):
                    raw = b"".join(
                        hashlib.md5(
                            f"{text}|{i}|{j}".encode()
                        ).digest()
                        for j in range(12)
                    )
                    png = encode_png(
                        _np.frombuffer(raw, dtype=_np.uint8).reshape(8, 8, 3)
                    )
                    parts.append(_struct.pack(">I", len(png)) + png)
                ids.append(int(doc_id))
                payloads.append(b"".join(parts))
            yield _pd.DataFrame(
                {
                    "doc_id": _pd.Series(ids, dtype="int64"),
                    "payload": payloads,
                }
            )

    videos = docs.mapInPandas(build_containers, schema=container_schema)
    # bound: doc_id < 200, at most 3 frames per document, every 2nd decoded
    # -> at most 400 rows at any scale
    return bounded_sort(
        decode_video_frames(videos, stride=2), "doc_id", "frame_idx"
    )


# ---------------------------------------------------------------------------
# temporal joins (engine extensions: as-of + binned range join)
# ---------------------------------------------------------------------------


@query(
    "events_asof_join",
    oracle="""
SELECT a.event_id,
       CAST(round(a.value, 4) AS DOUBLE) AS click_value,
       b.event_id AS prior_view_id,
       CAST(round(b.value, 4) AS DOUBLE) AS prior_view_value
FROM (SELECT * FROM events WHERE event_type = 'click') a
ASOF LEFT JOIN (
  SELECT * FROM events WHERE event_type = 'view'
  QUALIFY row_number() OVER (PARTITION BY user_id, ts ORDER BY event_id DESC) = 1
) b
  ON a.user_id = b.user_id AND a.ts >= b.ts
ORDER BY a.event_id
""",
)
def events_asof_join(spark, sf_dir):
    """As-of join: every click paired with the user's most recent prior
    view (ASOF semantics — DuckDB runs its native ASOF JOIN as the
    oracle). Spark lacks the operator; the engine composes it as
    union → per-key window → last(payload, ignorenulls)
    (operators/temporal.py): ONE shuffle on user_id, no inequality BNLJ,
    O(n log n) per partition — the join that stays feasible when both
    sides are billions of rows."""
    from postbound_spark.operators.temporal import asof_join

    ev = load_table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts", "value"
    )
    views = ev.filter(F.col("event_type") == "view").select(
        "event_id", "user_id", "ts", "value"
    )
    # make same-(user, ts) ties well-defined on BOTH engines: keep the
    # max event_id per instant (DuckDB's native ASOF otherwise picks a
    # scan-order-dependent row — measured — and the engines could disagree
    # the day a fixture carries a duplicate pair)
    tie = Window.partitionBy("user_id", "ts").orderBy(F.desc("event_id"))
    views = (
        views.withColumn("__rn", F.row_number().over(tie))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
    out = asof_join(
        clicks, views, keys=["user_id"], right_cols=["event_id", "value"],
        prefix="prior_",
    )
    return out.select(
        "event_id",
        F.round("value", 4).alias("click_value"),
        F.col("prior_event_id").alias("prior_view_id"),
        F.round("prior_value", 4).alias("prior_view_value"),
    ).orderBy("event_id")


@query(
    "events_range_join_binned",
    oracle="""
SELECT p.event_id AS purchase_id,
       count(v.event_id) AS views_in_window,
       CAST(round(sum(CAST(v.value AS DOUBLE)), 4) AS DOUBLE) AS viewed_value
FROM (SELECT * FROM events WHERE event_type = 'purchase') p
LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') v
  ON v.user_id = p.user_id
 AND v.ts >= p.ts - INTERVAL 30 MINUTE
 AND v.ts <= p.ts
GROUP BY p.event_id
ORDER BY p.event_id
""",
)
def events_range_join_binned(spark, sf_dir):
    """Range join (views within the 30 min before each purchase, per
    user) via time-axis binning (operators/temporal.py): the interval
    explodes onto its covered 30-min bins, the point maps to one bin, and
    the join is an equi-join on (user, bin) + residual BETWEEN — no
    BroadcastNestedLoop anywhere. The oracle is the plain inequality
    join. Bin width == interval length ⇒ ≤2 bins per interval, so the
    shuffle stays ~2× the interval count at any scale."""
    from postbound_spark.operators.temporal import range_join_binned

    ev = load_table(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts"))
    views = ev.filter(F.col("event_type") == "view").select(
        "user_id", F.col("event_id").alias("view_id"),
        F.col("value").alias("view_value"), us.alias("point_us"),
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("event_id").alias("purchase_id"),
        (us - 30 * 60 * 1_000_000).alias("lo_us"), us.alias("hi_us"),
    )
    joined = range_join_binned(
        views, purchases, keys=["user_id"], point_col="point_us",
        lo_col="lo_us", hi_col="hi_us", bin_width=30 * 60 * 1_000_000,
    )
    per_purchase = joined.groupBy("purchase_id").agg(
        F.count("view_id").alias("views_in_window"),
        F.round(F.sum("view_value"), 4).alias("viewed_value"),
    )
    # LEFT semantics: purchases with no views still appear
    all_purchases = purchases.select("purchase_id")
    return (
        all_purchases.join(per_purchase, "purchase_id", "left")
        .select(
            "purchase_id",
            F.coalesce("views_in_window", F.lit(0)).alias("views_in_window"),
            "viewed_value",
        )
        .orderBy("purchase_id")
    )

# ---------------------------------------------------------------------------
# corpus curation operators (round 3): repetition filters, vocabulary,
# deterministic sampling, quantization, decontamination, mixture weights
# ---------------------------------------------------------------------------

# whitespace-token bigram list over token list `ws` (guarded for short docs)
_BIGRAMS = (
    "CASE WHEN len(ws) >= 2 THEN list_transform("
    "generate_series(1, len(ws) - 1), i -> ws[i] || ' ' || ws[i+1]"
    ") ELSE [] END"
)


def _ws_bigram_projection(docs: DataFrame, *extra) -> DataFrame:
    """(extra..., ws, bg) projection — whitespace tokens + guarded bigram
    list. Shared by the repetition filter and the keep list so the
    tokenization cannot drift between the standalone operator and the
    composite that claims to include it."""
    toks = T.tokens(F.col("text"))
    n = F.size(toks)
    # zip_with over two slices, NOT transform(element_at(toks, i)): the
    # element_at form re-inlines the whole tokenization expression per
    # position under projection collapse (BASELINE.md pitfall #1 — ~2
    # regex splits per bigram, ~200 per doc); the slice form references
    # the token array a constant number of times per row
    bigrams = F.when(
        n >= 2,
        F.zip_with(
            F.slice(toks, 1, n - 1),
            F.slice(toks, 2, n - 1),
            lambda a, b: F.concat_ws(" ", a, b),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return docs.select(*extra, toks.alias("ws"), bigrams.alias("bg"))


def _repetition_metrics():
    """(n_tokens, top_token_count, n_bigrams, dup_bigrams, repetitive)
    column expressions over the ``ws``/``bg`` columns of
    :func:`_ws_bigram_projection` — ONE definition of the Gopher-filter
    thresholds for every consumer (and mirrored by the shared DuckDB
    fragments)."""
    n = F.size("ws")
    # max token multiplicity via sort + one run-length pass: O(n log n)
    # per doc instead of the O(n x distinct) transform-filter quadratic
    # (≈100x less work at the fixture's 100-token docs; same value, and
    # the same NULL on an empty array as array_max-over-empty produced)
    run_best = F.aggregate(
        F.array_sort("ws"),
        F.struct(
            F.lit("").alias("prev"),
            F.lit(0).alias("run"),
            F.lit(0).alias("best"),
        ),
        lambda acc, x: F.struct(
            x.alias("prev"),
            F.when(x == acc.prev, acc.run + 1).otherwise(F.lit(1)).alias("run"),
            F.greatest(
                acc.best,
                F.when(x == acc.prev, acc.run + 1).otherwise(F.lit(1)),
            ).alias("best"),
        ),
        lambda acc: acc.best,
    )
    top_cnt = F.when(n > 0, run_best)
    n_bg = F.size("bg")
    dup_bg = n_bg - F.size(F.array_distinct("bg"))
    # n_bg > 0 guard: 0 >= 0 is vacuously true, which would flag every
    # doc too short to have bigrams as "repetitive"
    repetitive = (top_cnt * 8 >= n) | ((n_bg > 0) & (dup_bg * 10 >= n_bg))
    return n, top_cnt, n_bg, dup_bg, repetitive


@query(
    "text_repetition_filter",
    oracle=f"""
WITH t AS (SELECT doc_id, {_WS_TOKS} AS ws FROM documents),
g AS (SELECT doc_id, ws, {_BIGRAMS} AS bg FROM t)
SELECT doc_id,
       len(ws) AS n_tokens,
       list_max(list_transform(list_distinct(ws),
                               u -> len(list_filter(ws, x -> x = u)))) AS top_token_count,
       len(bg) AS n_bigrams,
       len(bg) - len(list_distinct(bg)) AS dup_bigrams,
       CASE WHEN list_max(list_transform(list_distinct(ws),
                                         u -> len(list_filter(ws, x -> x = u)))) * 8 >= len(ws)
              OR (len(bg) > 0
                  AND (len(bg) - len(list_distinct(bg))) * 10 >= len(bg))
            THEN 1 ELSE 0 END AS flagged
FROM g
""",
)
def text_repetition_filter(spark, sf_dir):
    """Gopher-style repetition quality filter: most-frequent-token share and
    duplicate-bigram share per document, with an integer-arithmetic flag.

    All counting is per-row higher-order column math (no explode, no
    shuffle): the top-token count is a nested transform/filter over the
    token list, O(distinct x total) per doc - bounded by document length,
    embarrassingly parallel, and entirely inside whole-stage codegen. The
    flag rule uses integer cross-multiplication (count * 8 >= n) instead of
    float ratios so both engines agree bit-for-bit. At 100 TB this is a
    single corpus scan emitting one narrow row per document."""
    docs = load_table(spark, sf_dir, "documents")
    w = _ws_bigram_projection(docs, "doc_id")
    n, top_cnt, n_bg, dup_bg, repetitive = _repetition_metrics()
    return w.select(
        "doc_id",
        n.alias("n_tokens"),
        top_cnt.alias("top_token_count"),
        n_bg.alias("n_bigrams"),
        dup_bg.alias("dup_bigrams"),
        F.when(repetitive, 1).otherwise(0).alias("flagged"),
    )


@query(
    "corpus_vocab_topk",
    oracle=f"""
SELECT token, count(*) AS cnt
FROM (SELECT unnest({_WS_TOKS}) AS token FROM documents)
GROUP BY token
ORDER BY cnt DESC, token
LIMIT 50
""",
)
def corpus_vocab_topk(spark, sf_dir):
    """Corpus vocabulary: global token histogram, top 50 by frequency with a
    lexicographic tie-break (a deterministic cutoff - ties at the boundary
    cannot flip rows between engines).

    The classic wordcount shape: explode + groupBy(token).count() runs with
    map-side partial aggregation, so the shuffle carries one row per
    distinct token per partition, not one per token occurrence; the top-50
    is TakeOrdered (per-partition heaps + driver merge), never a global
    sort. This is the vocabulary-building primitive for tokenizer training
    at corpus scale."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(F.explode(T.tokens(F.col("text"))).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("token"))
        .limit(50)
    )


@query(
    "sample_stratified",
    oracle="""
WITH s AS (
  SELECT lang,
         CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 6)) AS BIGINT) % 100 AS bucket
  FROM documents
)
SELECT lang,
       count(*) AS total_docs,
       CAST(sum(CASE WHEN bucket < (CASE lang WHEN 'en' THEN 40
                                              WHEN 'de' THEN 20
                                              WHEN 'fr' THEN 20
                                              ELSE 10 END)
                     THEN 1 ELSE 0 END) AS BIGINT) AS sampled_docs
FROM s
GROUP BY lang
ORDER BY lang
""",
)
def sample_stratified(spark, sf_dir):
    """Stratified corpus sampling with per-language rates (en 40%, de/fr
    20%, rest 10%) using a *deterministic* md5 hash bucket per doc_id
    instead of a seeded RNG.

    Hash-bucket sampling is the scalable idiom for training-data mixture
    construction: it is reproducible across runs/engines (a seeded
    ``sample()`` is not oracle-checkable), stable under repartitioning, and
    pure map-side - rate changes re-select a superset/subset instead of an
    unrelated sample. The query reports per-language selected counts; the
    production variant keeps the rows where ``bucket < rate``."""
    docs = load_table(spark, sf_dir, "documents")
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 6), 16, 10)
        .cast("long") % 100
    )
    rate = (
        F.when(F.col("lang") == "en", 40)
        .when(F.col("lang").isin("de", "fr"), 20)
        .otherwise(10)
    )
    return (
        docs.select("lang", bucket.alias("bucket"), rate.alias("rate"))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("total_docs"),
            F.sum(F.when(F.col("bucket") < F.col("rate"), 1).otherwise(0))
            .cast("long")
            .alias("sampled_docs"),
        )
        .orderBy("lang")
    )


def _int8_quantized(emb: DataFrame, *extra, alias: str = "q8") -> DataFrame:
    """(extra..., <alias>) — int8 quantization of ``embedding`` against the
    broadcast global max-abs scale, floor(x + 0.5) half-up rounding. ONE
    definition of the quantization recipe for every consumer (the rounding
    and cast discipline is load-bearing for oracle parity)."""
    absmax = F.array_max(F.transform("embedding", lambda x: F.abs(x.cast("double"))))
    # greatest(·, tiny) guards the degenerate all-zero fixture: without it
    # 127/s is NULL/NaN and the digests go silently NULL on both engines
    scale = emb.agg(F.greatest(F.max(absmax), F.lit(1e-30)).alias("s"))
    q8 = F.transform(
        "embedding",
        lambda x: F.floor(x.cast("double") * 127 / F.col("s") + F.lit(0.5)).cast(
            "long"
        ),
    )
    return emb.crossJoin(F.broadcast(scale)).select(*extra, q8.alias(alias))


@query(
    "emb_quantize_int8",
    oracle="""
WITH scale AS (
  SELECT greatest(max(list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE))))),
                  1e-30) AS s
  FROM embeddings
),
q AS (
  SELECT vec_id,
         list_transform(embedding,
                        x -> CAST(floor(CAST(x AS DOUBLE) * 127 / scale.s + 0.5) AS BIGINT)) AS qv
  FROM embeddings, scale
)
SELECT vec_id,
       CAST(list_sum(qv) AS BIGINT) AS q_sum,
       list_min(qv) AS q_min,
       list_max(qv) AS q_max,
       CAST(list_sum(list_transform(qv, v -> v * v)) AS BIGINT) AS q_sqnorm
FROM q
""",
)
def emb_quantize_int8(spark, sf_dir):
    """Int8 scalar quantization of the embedding column: symmetric global
    max-abs scale, values mapped to round(x * 127 / scale).

    Two passes over the vectors: a tiny global-max aggregate (one scalar)
    broadcast back onto a map-only quantization pass - the standard recipe
    for shrinking an ANN index 4x before shipping it to a vector store. The
    result reports integer per-vector digests (sum / min / max / squared
    norm) rather than the raw array because the verification harness
    hash-compares scalar columns; the production variant keeps ``qv``.
    Rounding is floor(x + 0.5) - identical half-up behavior in both
    engines, where round() half-even would diverge."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = _int8_quantized(emb, "vec_id", alias="qv")
    zero = F.lit(0).cast("long")
    return q.select(
        "vec_id",
        F.aggregate("qv", zero, lambda acc, v: acc + v).alias("q_sum"),
        F.array_min("qv").alias("q_min"),
        F.array_max("qv").alias("q_max"),
        F.aggregate("qv", zero, lambda acc, v: acc + v * v).alias("q_sqnorm"),
    )


@query(
    "contamination_ngram_overlap",
    oracle=f"""
WITH t AS (SELECT doc_id, {_WS_TOKS} AS ws FROM documents),
sh AS (SELECT doc_id, {_SHINGLES} AS shingles FROM t),
bench AS (
  SELECT DISTINCT unnest(shingles) AS shingle FROM sh WHERE doc_id % 97 = 0
),
corpus AS (
  SELECT doc_id, unnest(shingles) AS shingle FROM sh WHERE doc_id % 97 <> 0
)
SELECT c.doc_id, count(DISTINCT c.shingle) AS shared_shingles
FROM corpus c JOIN bench b ON c.shingle = b.shingle
GROUP BY c.doc_id
""",
)
def contamination_ngram_overlap(spark, sf_dir):
    """Benchmark decontamination: find corpus documents sharing word-3-gram
    shingles with a held-out benchmark set (here: every 97th document
    stands in for the benchmark).

    The benchmark shingle vocabulary is small by construction, so it is
    collected into a broadcast hash side; the corpus side explodes shingles
    and probes map-side - no shuffle touches the full corpus, and the only
    exchange is the per-contaminated-doc count aggregate (partial-agg
    combined). This is the shape that decontaminates a 100 TB crawl against
    a benchmark suite in one scan."""
    docs = load_table(spark, sf_dir, "documents")
    shingles = T.word_shingles(T.tokens(F.col("text")), 3)
    sh = docs.select("doc_id", shingles.alias("shingles"))
    is_bench = F.col("doc_id") % 97 == 0
    bench = (
        sh.filter(is_bench)
        .select(F.explode("shingles").alias("shingle"))
        .distinct()
    )
    corpus = sh.filter(~is_bench).select(
        "doc_id", F.explode("shingles").alias("shingle")
    )
    return (
        corpus.join(F.broadcast(bench), "shingle")
        .groupBy("doc_id")
        .agg(F.count_distinct("shingle").alias("shared_shingles"))
    )


@query(
    "sample_domain_cap",
    oracle="""
SELECT doc_id, source, rn
FROM (SELECT doc_id, source,
             row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn
      FROM documents)
WHERE rn <= 10
""",
)
def sample_domain_cap(spark, sf_dir):
    """Per-source document cap (keep the 10 smallest doc_ids per source) -
    the domain-balancing primitive that stops one crawl domain from
    dominating a training mixture.

    One hash shuffle on ``source`` feeding a per-partition window rank;
    rows beyond the cap are dropped before anything downstream reads them.
    At 100 TB the win is pushing the cap *before* expensive per-doc
    featurization; for a skewed domain distribution the same cap can run as
    a two-phase rank (cap within partition-local groups first) - noted
    here, unnecessary at fixture scale."""
    docs = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy("doc_id")
    return (
        docs.select(
            "doc_id",
            "source",
            F.row_number().over(w).cast("long").alias("rn"),
        )
        .filter(F.col("rn") <= 10)
    )


@query(
    "corpus_mix_weights",
    oracle=f"""
WITH per_doc AS (SELECT lang, source, len({_WS_TOKS}) AS n_toks FROM documents),
grp AS (
  SELECT lang, source, count(*) AS n_docs,
         CAST(sum(n_toks) AS BIGINT) AS tok_total
  FROM per_doc GROUP BY lang, source
),
tot AS (SELECT CAST(sum(n_toks) AS BIGINT) AS grand FROM per_doc)
SELECT lang, source, n_docs, tok_total,
       CAST(floor(tok_total * 1000000.0 / tot.grand) AS BIGINT) AS share_ppm
FROM grp, tot
ORDER BY lang, source
""",
)
def corpus_mix_weights(spark, sf_dir):
    """Training-mixture weights: per (lang, source) token totals and their
    parts-per-million share of the corpus.

    Two aggregates: the grouped token totals (one partial-agg shuffle on a
    low-cardinality key) and a one-row grand total derived from the grouped
    result (not a second corpus scan), broadcast back for the share
    division. Shares are floored ppm integers, so engine float formatting
    cannot flip the hash. This is the table a data-mixing run consumes to
    set per-domain sampling temperatures."""
    docs = load_table(spark, sf_dir, "documents")
    n_toks = F.size(T.tokens(F.col("text")))
    grp = (
        docs.select("lang", "source", n_toks.alias("n_toks"))
        .groupBy("lang", "source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_toks").cast("long").alias("tok_total"),
        )
    )
    grp = stage_cache(grp)
    tot = grp.agg(F.sum("tok_total").cast("long").alias("grand"))
    return (
        grp.crossJoin(F.broadcast(tot))
        .select(
            "lang",
            "source",
            "n_docs",
            "tok_total",
            F.floor(F.col("tok_total") * 1000000.0 / F.col("grand"))
            .cast("long")
            .alias("share_ppm"),
        )
        .orderBy("lang", "source")
    )


@query(
    "ann_quantized_rescore_topk",
    oracle=f"""
WITH scale AS (
  SELECT greatest(max(list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE))))),
                  1e-30) AS s
  FROM embeddings
),
b AS (
  SELECT vec_id, label, embedding,
         list_transform(embedding,
                        x -> CAST(floor(CAST(x AS DOUBLE) * 127 / scale.s + 0.5) AS BIGINT)) AS q8
  FROM embeddings, scale
),
qq AS (SELECT q8, embedding AS qemb FROM b WHERE vec_id = 0),
short AS (
  SELECT b.vec_id, b.label, b.embedding, qq.qemb,
         CAST(list_sum(list_transform(generate_series(1, len(b.q8)),
                                      i -> b.q8[i] * qq.q8[i])) AS BIGINT) AS score8
  FROM b, qq
  WHERE b.vec_id <> 0
  ORDER BY score8 DESC, b.vec_id
  LIMIT 50
),
resc AS (
  SELECT vec_id, label, score8, {_cos_sql(_QUANT, _QUANT.replace("embedding", "qemb"))} AS c
  FROM short
)
SELECT vec_id, label, score8, round(c, 6) AS cosine
FROM resc
ORDER BY c DESC, vec_id
LIMIT 10
""",
)
def ann_quantized_rescore_topk(spark, sf_dir):
    """Two-stage retrieval: int8 coarse scoring + exact rescoring — the
    standard shape of a production vector index (quantized shortlist scan,
    full-precision re-rank of the survivors).

    Stage 1 quantizes every vector to int8 against a broadcast global
    max-abs scale and ranks by exact integer dot product with the query
    vector — 4x less data scanned than float32 and still TakeOrdered (no
    global sort). Stage 2 re-scores only the 50 shortlist rows with the
    micro-quantized cosine and keeps the top 10. Both stages are
    deterministic integer math with vec_id tie-breaks, so the DuckDB
    oracle reproduces the exact shortlist boundary."""
    emb = load_table(spark, sf_dir, "embeddings")
    base = stage_cache(_int8_quantized(emb, "vec_id", "label", "embedding"))
    qrow = base.filter(F.col("vec_id") == 0).select(
        F.col("q8").alias("query_q8"), F.col("embedding").alias("qemb")
    )
    shortlist = (
        base.crossJoin(F.broadcast(qrow))
        .filter(F.col("vec_id") != 0)
        .select(
            "vec_id",
            "label",
            "embedding",
            "qemb",
            V.dot_q(F.col("q8"), F.col("query_q8")).alias("score8"),
        )
        .orderBy(F.desc("score8"), "vec_id")
        .limit(50)
    )
    qv, qqv = V.quantize(F.col("embedding")), V.quantize(F.col("qemb"))
    c = V.dot_q(qv, qqv).cast("double") / (V.norm_q(qv) * V.norm_q(qqv))
    return (
        shortlist.select("vec_id", "label", "score8", c.alias("c"))
        .orderBy(F.desc("c"), "vec_id")
        .limit(10)
        .select("vec_id", "label", "score8", F.round("c", 6).alias("cosine"))
    )


@query(
    "pipeline_keep_list",
    oracle=f"""
WITH t AS (
  SELECT doc_id, lang, source, md5(text) AS th, {_WS_TOKS} AS ws
  FROM documents
),
g AS (
  SELECT *, {_BIGRAMS} AS bg,
         row_number() OVER (PARTITION BY th ORDER BY doc_id) AS dup_rn
  FROM t
),
survivors AS (
  SELECT doc_id, lang, source
  FROM g
  WHERE dup_rn = 1
    AND NOT (
      list_max(list_transform(list_distinct(ws),
                              u -> len(list_filter(ws, x -> x = u)))) * 8 >= len(ws)
      OR (len(bg) > 0 AND (len(bg) - len(list_distinct(bg))) * 10 >= len(bg))
    )
),
capped AS (
  SELECT doc_id, lang, source,
         row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn
  FROM survivors
)
SELECT doc_id, lang, source FROM capped WHERE rn <= 15
""",
)
def pipeline_keep_list(spark, sf_dir):
    """End-to-end curation keep list: exact dedup (keep the smallest
    doc_id per content hash) → Gopher repetition filter → per-source cap
    of 15 — the composite a real training-data pipeline materializes
    before tokenization.

    Three stages, three narrow shuffles (content-hash window, then the
    source-cap window; the repetition filter is map-only in between), and
    every intermediate column is dropped before the next exchange so the
    shuffles carry only ids + keys. The stages are the same logic as the
    individually-verified dedup_exact / text_repetition_filter /
    sample_domain_cap operators — this query proves they COMPOSE, which
    is what a user actually runs."""
    docs = load_table(spark, sf_dir, "documents")
    base = _ws_bigram_projection(
        docs, "doc_id", "lang", "source", F.md5("text").alias("th")
    )
    _n, _top, _nbg, _dbg, repetitive = _repetition_metrics()
    # repetition filter BEFORE the dedup window: identical texts share the
    # flag, so the keep list is unchanged — but the content-hash exchange
    # then carries (id, lang, source, th) instead of the token/bigram
    # arrays (the BASELINE.md "narrow the shuffle" discipline, enforced by
    # the plan gate)
    dup_w = Window.partitionBy("th").orderBy("doc_id")
    survivors = (
        base.filter(~repetitive)
        .select("doc_id", "lang", "source", "th")
        .withColumn("dup_rn", F.row_number().over(dup_w))
        .filter(F.col("dup_rn") == 1)
        .select("doc_id", "lang", "source")
    )
    cap_w = Window.partitionBy("source").orderBy("doc_id")
    return (
        survivors.withColumn("rn", F.row_number().over(cap_w))
        .filter(F.col("rn") <= 15)
        .select("doc_id", "lang", "source")
    )


# ---------------------------------------------------------------------------
# round 4: scrubbing, boilerplate mining, sequence packing, commonness score
# ---------------------------------------------------------------------------

#: blocklisted terms for the scrub demo — the production variant swaps in
#: PII regexes (emails/phones/IPs); the plumbing is identical
_SCRUB_PATTERN = r"\b(customer|query|vector)\b"


@query(
    "text_pattern_scrub",
    oracle=f"""
SELECT doc_id,
       len(regexp_extract_all(text, '{_SCRUB_PATTERN}')) AS n_redactions,
       md5(regexp_replace(text, '{_SCRUB_PATTERN}', '<TERM>', 'g')) AS scrub_hash,
       len(regexp_replace(text, '{_SCRUB_PATTERN}', '<TERM>', 'g')) AS n_chars_clean
FROM documents
""",
)
def text_pattern_scrub(spark, sf_dir):
    """Pattern scrubbing: redact blocklisted terms, reporting the redaction
    count and a digest of the cleaned text. Stands in for PII removal
    (emails/phone numbers/IP addresses) — swap ``_SCRUB_PATTERN`` for the
    PII regexes and the operator is unchanged.

    Map-only: one ``regexp_replace`` + one ``regexp_count`` per row inside
    whole-stage codegen, zero shuffles — at 100 TB this is a pure scan
    whose cost is the regex engine, which is why the pattern is a single
    alternation (one automaton pass) instead of one replace per term."""
    docs = load_table(spark, sf_dir, "documents")
    clean = F.regexp_replace(F.col("text"), _SCRUB_PATTERN, "<TERM>")
    return docs.select(
        "doc_id",
        F.regexp_count(F.col("text"), F.lit(_SCRUB_PATTERN)).alias("n_redactions"),
        F.md5(clean).alias("scrub_hash"),
        F.length(clean).alias("n_chars_clean"),
    )


_FIVEGRAMS_SQL = (
    "CASE WHEN len(ws) >= 5 THEN list_distinct(list_transform("
    "generate_series(1, len(ws) - 4), i -> "
    "ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3] || ' ' || ws[i+4]"
    ")) ELSE [] END"
)


@query(
    "text_boilerplate_ngrams",
    oracle=f"""
WITH t AS (SELECT doc_id, {_WS_TOKS} AS ws FROM documents),
g AS (SELECT doc_id, unnest({_FIVEGRAMS_SQL}) AS ngram FROM t)
SELECT ngram, count(*) AS n_docs
FROM g
GROUP BY ngram
HAVING count(*) >= 2
ORDER BY n_docs DESC, ngram
LIMIT 100
""",
)
def text_boilerplate_ngrams(spark, sf_dir):
    """Boilerplate mining: token 5-grams shared by >= 2 distinct documents
    (headers, footers, license blocks, templated spans) — the C4-style
    precursor to boilerplate-span removal, at n-gram granularity because
    the corpus has no line structure.

    Per-doc 5-grams are deduplicated BEFORE the explode (``array_distinct``
    on the map side), so ``count(*)`` after the shuffle counts *distinct
    documents* without a count-distinct aggregate, and a doc repeating its
    own template never inflates the result. One wordcount-shaped shuffle
    with map-side partial aggregation + TakeOrdered for the top slice; the
    5-gram build zips five slices of the token array (constant references
    per row — the projection-collapse discipline from BASELINE.md)."""
    docs = load_table(spark, sf_dir, "documents")
    toks = T.tokens(F.col("text"))
    n = F.size(toks)
    s = [F.slice(toks, i + 1, n - 4) for i in range(5)]
    z = F.zip_with(s[0], s[1], lambda a, b: F.concat_ws(" ", a, b))
    for nxt in s[2:]:
        z = F.zip_with(z, nxt, lambda a, b: F.concat_ws(" ", a, b))
    grams = F.when(n >= 5, F.array_distinct(z)).otherwise(
        F.array().cast("array<string>")
    )
    return (
        docs.select(F.explode(grams).alias("ngram"))
        .groupBy("ngram")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .filter(F.col("n_docs") >= 2)
        .orderBy(F.desc("n_docs"), F.asc("ngram"))
        .limit(100)
    )


@query(
    "corpus_seq_packing",
    oracle=f"""
WITH t AS (SELECT doc_id, source, len({_WS_TOKS}) AS n_tok FROM documents),
o AS (
  SELECT source, doc_id, n_tok,
         COALESCE(CAST(sum(n_tok) OVER (PARTITION BY source ORDER BY doc_id
                                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                       AS BIGINT),
                  0) AS start_off
  FROM t
)
SELECT source,
       CAST(floor(start_off / 512) AS BIGINT) AS seq_id,
       count(*) AS n_docs,
       CAST(sum(n_tok) AS BIGINT) AS n_tokens
FROM o
GROUP BY source, seq_id
ORDER BY source, seq_id
""",
)
def corpus_seq_packing(spark, sf_dir):
    """Training-sequence packing: concatenate each source's documents in
    doc_id order into a token stream and cut it into 512-token sequences
    (documents may straddle a boundary — the GPT-style pack-then-split
    regime). Reports docs-started and tokens contributed per sequence.

    One shuffle: the running-offset window and the (source, seq_id)
    aggregation share the same source partitioning, so the groupBy reuses
    the window's exchange. Sequences are deterministic (doc_id order, not
    arrival order) — re-runs and engines agree. At 100 TB you pack per
    (source, shard) with shard = a hash of doc_id ranges to bound any one
    window partition; the fixture's 20 sources stand in for those
    shards."""
    docs = load_table(spark, sf_dir, "documents")
    n_tok = F.size(T.tokens(F.col("text")))
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    staged = docs.select("doc_id", "source", n_tok.alias("n_tok")).withColumn(
        "start_off", F.coalesce(F.sum("n_tok").over(w), F.lit(0))
    )
    return (
        staged.groupBy(
            "source",
            F.floor(F.col("start_off") / 512).cast("long").alias("seq_id"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").cast("long").alias("n_tokens"),
        )
        .orderBy("source", "seq_id")
    )


@query(
    "quality_common_token_ratio",
    oracle=f"""
WITH t AS (SELECT doc_id, {_WS_TOKS} AS ws FROM documents),
hist AS (
  SELECT token, count(*) AS cnt
  FROM (SELECT unnest(ws) AS token FROM t)
  GROUP BY token
),
v AS (
  SELECT list(token) AS lst
  FROM (SELECT token FROM hist ORDER BY cnt DESC, token LIMIT 25)
)
SELECT doc_id,
       len(ws) AS n_tokens,
       len(list_filter(ws, x -> list_contains(v.lst, x))) AS n_common,
       CASE WHEN len(ws) = 0 THEN 0.0
            ELSE round(CAST(len(list_filter(ws, x -> list_contains(v.lst, x))) AS DOUBLE)
                       / len(ws), 6) END AS common_ratio
FROM t, v
""",
)
def quality_common_token_ratio(spark, sf_dir):
    """Corpus-relative quality scoring: the fraction of each document's
    tokens drawn from the corpus's own top-25 vocabulary — the
    rational-arithmetic stand-in for an LM perplexity filter (CCNet-style:
    documents made of globally common tokens score high, gibberish scores
    low), computed against the corpus itself so no external model ships.

    Two-phase plan that scales: (1) the wordcount histogram (map-side
    partial agg, one shuffle on token) reduced to a 25-token top-k; (2) the
    vocabulary collapses to a single-row array broadcast to a map-only
    scoring pass (``filter`` + ``array_contains`` in codegen). The corpus
    is scanned twice but shuffled only by token histogram — never by
    document."""
    docs = load_table(spark, sf_dir, "documents")
    toks = T.tokens(F.col("text"))
    vocab = (
        docs.select(F.explode(toks).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("token"))
        .limit(25)
    )
    vrow = vocab.agg(F.collect_set("token").alias("vset"))
    ws = toks
    n = F.size(ws)
    n_common = F.size(F.filter(ws, lambda x: F.array_contains(F.col("vset"), x)))
    return (
        docs.crossJoin(F.broadcast(vrow))
        .select(
            "doc_id",
            n.alias("n_tokens"),
            n_common.alias("n_common"),
            F.when(n == 0, F.lit(0.0))
            .otherwise(F.round(n_common.cast("double") / n, 6))
            .alias("common_ratio"),
        )
    )


_PQ_D2_16 = (
    "CAST(list_sum(list_transform(generate_series(1, 16), "
    "i -> ({a}[i] - {b}[i]) * ({a}[i] - {b}[i]))) AS BIGINT)"
)
_PQ_D2_64 = (
    "CAST(list_sum(list_transform(generate_series(1, 64), "
    "i -> ({a}[i] - {b}[i]) * ({a}[i] - {b}[i]))) AS BIGINT)"
)


@query(
    "ann_pq_adc_topk",
    oracle=f"""
WITH q AS (SELECT vec_id, label, {_QUANT} AS qv FROM embeddings),
subs AS (
  SELECT vec_id, label, sp.s AS s, qv[(sp.s*16+1):(sp.s*16+16)] AS sub
  FROM q, (SELECT unnest([0, 1, 2, 3]) AS s) sp
),
cb AS (SELECT vec_id AS cid, s, sub AS csub FROM subs WHERE vec_id < 8),
qsub AS (SELECT s, sub AS qs FROM subs WHERE vec_id = 0),
adc AS (
  SELECT c.s, c.cid, {_PQ_D2_16.format(a="c.csub", b="k.qs")} AS ad2
  FROM cb c JOIN qsub k USING (s)
),
enc AS (
  SELECT v.vec_id, v.label, v.s, c.cid AS code
  FROM subs v JOIN cb c USING (s)
  QUALIFY row_number() OVER (
    PARTITION BY v.vec_id, v.s
    ORDER BY {_PQ_D2_16.format(a="v.sub", b="c.csub")}, c.cid
  ) = 1
),
approx AS (
  SELECT e.vec_id, e.label, CAST(sum(a.ad2) AS BIGINT) AS adc_d2
  FROM enc e JOIN adc a ON e.s = a.s AND e.code = a.cid
  GROUP BY e.vec_id, e.label
),
short AS (
  SELECT vec_id, label, adc_d2 FROM approx
  WHERE vec_id <> 0
  ORDER BY adc_d2, vec_id
  LIMIT 50
)
SELECT sh.vec_id, sh.label, sh.adc_d2,
       {_PQ_D2_64.format(a="v.qv", b="q0.qv")} AS exact_d2
FROM short sh
JOIN q v USING (vec_id)
CROSS JOIN (SELECT qv FROM q WHERE vec_id = 0) q0
ORDER BY exact_d2, sh.vec_id
LIMIT 10
""",
)
def ann_pq_adc_topk(spark, sf_dir):
    """Product-quantization retrieval with asymmetric distance computation
    (ADC), the Jegou/Douze/Schmid PQ index shape: 64-dim vectors split
    into m=4 subspaces of 16 dims, each subspace coded against an 8-entry
    codebook, queries scored by a per-subspace lookup table instead of
    full-precision math, and the shortlist exactly re-ranked.

    The codebooks here are deterministically seeded (subvectors of the 8
    smallest vec_ids) so the oracle can replay them; the Lloyd-iteration
    refinement that production trains per subspace is exactly
    ``ann_ivf_kmeans``'s loop and drops in without changing this dataflow.

    Scale shape: the codebook + ADC table is ONE broadcast row (m*k = 32
    entries — in production, 256 entries/subspace is still kilobytes);
    encoding and ADC scoring are a map-only fold per vector (the scan
    reads 4 codes' worth of work per row, the PQ promise of ~d/m
    compression in compute); the shortlist is TakeOrdered (no global
    sort); the exact re-rank touches 50 rows. Nothing shuffles by vector:
    at 100 TB this is a single pass over the embedding shards plus a
    driver-side top-k merge."""
    emb = load_table(spark, sf_dir, "embeddings")
    qv = V.quantize(F.col("embedding"))
    base = emb.select("vec_id", "label", qv.alias("qv"))

    def d2(a, b):
        return F.aggregate(
            F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
            F.lit(0).cast("long"),
            lambda acc, v: acc + v,
        )

    # codebook: (s, cid, csub) from the 8 seed vectors, 4 subspaces each;
    # the query's subvectors join on s so each entry carries its ADC cell
    seeds = base.filter(F.col("vec_id") < 8)
    spaces = F.array(*[F.lit(i) for i in range(4)])
    cb = seeds.select(
        F.col("vec_id").alias("cid"),
        F.explode(spaces).alias("s"),
        F.col("qv"),
    ).select("cid", "s", F.expr("slice(qv, s*16+1, 16)").alias("csub"))
    qsub = (
        base.filter(F.col("vec_id") == 0)
        .select(F.explode(spaces).alias("s"), F.col("qv"))
        .select("s", F.expr("slice(qv, s*16+1, 16)").alias("qs"))
    )
    cb_row = (
        cb.join(qsub, "s")
        .select("s", "cid", "csub", d2(F.col("csub"), F.col("qs")).alias("ad2"))
        .agg(F.sort_array(F.collect_list(F.struct("s", "cid", "csub", "ad2"))).alias("pq"))
    )

    # encode + ADC in one map pass: per subspace, fold the 8 codebook
    # entries to the nearest one (strict < keeps the smallest cid on
    # ties, matching the oracle's ORDER BY d2, cid) and take its ADC cell
    def best_ad2(s: int):
        sub = F.slice(F.col("qv"), s * 16 + 1, 16)
        entries = F.filter(F.col("pq"), lambda e: e["s"] == F.lit(s))
        scored = F.transform(
            entries,
            lambda e: F.struct(d2(sub, e["csub"]).alias("d2"), e["ad2"].alias("ad2")),
        )
        return F.aggregate(
            scored,
            F.struct(
                F.lit(1 << 62).cast("long").alias("d2"),
                F.lit(0).cast("long").alias("ad2"),
            ),
            lambda acc, x: F.when(x["d2"] < acc["d2"], x).otherwise(acc),
        )["ad2"]

    adc_d2 = sum(best_ad2(s) for s in range(4))
    shortlist = (
        base.crossJoin(F.broadcast(cb_row))
        .filter(F.col("vec_id") != 0)
        .select("vec_id", "label", "qv", adc_d2.alias("adc_d2"))
        .orderBy("adc_d2", "vec_id")
        .limit(50)
    )
    q0 = base.filter(F.col("vec_id") == 0).select(F.col("qv").alias("q0v"))
    return (
        shortlist.crossJoin(F.broadcast(q0))
        .select(
            "vec_id",
            "label",
            "adc_d2",
            d2(F.col("qv"), F.col("q0v")).alias("exact_d2"),
        )
        .orderBy("exact_d2", "vec_id")
        .limit(10)
    )



# ---------------------------------------------------------------------------
# round 5: LM-based quality filtering + ANN quality measurement
# ---------------------------------------------------------------------------

_LM_SCORE_ORACLE = f"""
WITH t AS (
  SELECT doc_id, {_WS_TOKS} AS ws,
         CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 6)) AS BIGINT) % 5 AS bucket
  FROM documents
),
doc_bi AS (
  SELECT doc_id, bucket,
         unnest(CASE WHEN len(ws) >= 2
                     THEN list_transform(generate_series(1, len(ws) - 1),
                                         i -> ws[i] || ' ' || ws[i+1])
                     ELSE [] END) AS bg
  FROM t
),
ref_bi AS (
  SELECT bg, CAST(count(*) AS BIGINT) AS c2
  FROM doc_bi WHERE bucket = 0 GROUP BY bg
  ORDER BY c2 DESC, bg LIMIT {T.LM_VOCAB_K}
),
ref_uni AS (
  SELECT split_part(bg, ' ', 1) AS w1, CAST(sum(c2) AS BIGINT) AS c1
  FROM ref_bi GROUP BY 1
)
SELECT d.doc_id,
       CAST(count(*) AS BIGINT) AS n_bigrams,
       round(sum(COALESCE(CAST(r.c2 AS DOUBLE) / CAST(u.c1 AS DOUBLE), 0.0))
             / count(*), 6) AS lm_score
FROM doc_bi d
LEFT JOIN ref_bi r ON d.bg = r.bg
LEFT JOIN ref_uni u ON split_part(d.bg, ' ', 1) = u.w1
GROUP BY d.doc_id
ORDER BY d.doc_id
"""


@query("quality_lm_score", oracle=_LM_SCORE_ORACLE)
def quality_lm_score(spark, sf_dir):
    """CCNet-style language-model quality scoring: train a bigram LM on a
    reference slice of the corpus, score every document by its mean
    in-LM bigram probability (Wenzek et al., "CCNet: Extracting High
    Quality Monolingual Datasets from Web Crawl Data", LREC 2020 — there
    a KenLM 5-gram; here a bigram continuation model whose arithmetic is
    rational, so the DuckDB oracle reproduces it exactly: no logs, no
    perplexity transcendentals, just c(w1,w2)/c(w1,*) averaged per doc;
    unseen bigrams contribute 0, which preserves the ranking a perplexity
    would give).

    Scale shape (the CCNet deployment pattern): the reference slice is a
    DETERMINISTIC md5 hash bucket (20% — reproducible across engines and
    runs, unlike a seeded sample), and the LM is PRUNED to the top-K
    bigrams by count (``T.LM_VOCAB_K``, deterministic count-then-text
    tie-break) — CCNet's own model pruning, and the property that makes
    the broadcast safe at ANY corpus size: without the cap the distinct-
    bigram vocabulary of a web-scale crawl is billions of rows and the
    broadcast would OOM long before 100 TB. The top-K is a
    TakeOrderedAndProject (per-partition heads merged on the driver — K
    rows, never a global sort), the continuation counts are derived from
    the pruned table, both LM tables are BROADCAST, and scoring the full
    corpus is map-only — one shuffle to build the LM, one partial-
    aggregated doc_id shuffle for the per-doc mean, and nothing that
    grows with corpus size on the scoring path."""
    docs = load_table(spark, sf_dir, "documents")
    ws = T.tokens(F.col("text"))
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 6), 16, 10)
        .cast("long") % 5
    )
    bigrams = F.when(
        F.size(ws) >= 2,
        F.zip_with(
            F.slice(ws, 1, F.size(ws) - 1),
            F.slice(ws, 2, F.size(ws) - 1),
            lambda a, b: F.concat(a, F.lit(" "), b),
        ),
    ).otherwise(F.array().cast("array<string>"))
    doc_bi = docs.select(
        "doc_id", bucket.alias("bucket"), F.explode(bigrams).alias("bg")
    ).transform(stage_cache)
    ref_bi = (
        doc_bi.filter(F.col("bucket") == 0)
        .groupBy("bg")
        .agg(F.count(F.lit(1)).alias("c2"))
        .orderBy(F.col("c2").desc(), "bg")
        .limit(T.LM_VOCAB_K)
    )
    ref_uni = (
        ref_bi.groupBy(F.substring_index("bg", " ", 1).alias("w1"))
        .agg(F.sum("c2").cast("long").alias("c1"))
    )
    prob = F.coalesce(
        F.col("c2").cast("double") / F.col("c1").cast("double"), F.lit(0.0)
    )
    return (
        doc_bi.join(F.broadcast(ref_bi), "bg", "left")
        .join(
            F.broadcast(ref_uni),
            F.substring_index(F.col("bg"), " ", 1) == F.col("w1"),
            "left",
        )
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_bigrams"),
            F.round(F.sum(prob) / F.count(F.lit(1)), 6).alias("lm_score"),
        )
        .orderBy("doc_id")
    )


_RECALL_ORACLE = f"""
WITH q AS (SELECT vec_id, {_QUANT} AS qv FROM embeddings),
b AS (SELECT vec_id, qv, CAST({_bucket_sql(_PLANES)} AS BIGINT) AS bucket FROM q),
qs AS (SELECT vec_id AS query_id, qv AS q_qv, bucket AS q_bucket FROM b WHERE vec_id < 5),
exact AS (
  SELECT query_id, vec_id FROM (
    SELECT qs.query_id, a.vec_id,
           row_number() OVER (PARTITION BY qs.query_id
                              ORDER BY {_cos_sql("a.qv", "qs.q_qv")} DESC, a.vec_id) AS rn
    FROM b a, qs WHERE a.vec_id != qs.query_id)
  WHERE rn <= 10),
probes AS (
  SELECT query_id, q_qv, xor(q_bucket, m.m) AS bucket
  FROM qs, (SELECT unnest({_PROBE_MASKS}) AS m) m),
lsh AS (
  SELECT query_id, vec_id FROM (
    SELECT p.query_id, a.vec_id,
           row_number() OVER (PARTITION BY p.query_id
                              ORDER BY {_cos_sql("a.qv", "p.q_qv")} DESC, a.vec_id) AS rn
    FROM b a JOIN probes p ON a.bucket = p.bucket
    WHERE a.vec_id != p.query_id)
  WHERE rn <= 10)
SELECT e.query_id,
       CAST(count(l.vec_id) AS BIGINT) AS n_hits,
       round(count(l.vec_id) / 10.0, 6) AS recall_at_10
FROM exact e LEFT JOIN lsh l ON e.query_id = l.query_id AND e.vec_id = l.vec_id
GROUP BY e.query_id
ORDER BY e.query_id
"""


@query("ann_recall_at_k", oracle=_RECALL_ORACLE)
def ann_recall_at_k(spark, sf_dir):
    """Recall@10 of the multi-probe LSH ANN against exact brute force,
    per query vector — the measurement that tunes every approximate
    index (band count, probe radius, nlist) before it ships: an ANN
    variant without a recall gauge is a guess, not an operator.

    Both rankings share one cached (qv, norm, bucket) pass. Exact top-10
    per query is a crossJoin against the 5-row BROADCAST query set +
    per-query window top-k (WindowGroupLimit cuts partitions before the
    rank exchange — never a global sort); the LSH side joins the
    corpus's bucket column against a 45-row broadcast probe list
    (Hamming ≤ 1), so at scale it touches ~9/256 of the corpus. Recall
    is a left-semi-style count of the overlap keyed on (query_id,
    vec_id) — top-k frames are k x queries rows, trivially small."""
    emb = load_table(spark, sf_dir, "embeddings")
    base = (
        emb.select("vec_id", V.quantize(F.col("embedding")).alias("qv"))
        .withColumn("nrm", V.norm_q(F.col("qv")))
        .withColumn(
            "bucket", V.hyperplane_bucket(F.col("qv"), dims=64, n_planes=8)
        )
        .transform(stage_cache)
    )
    queries = base.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"),
        F.col("qv").alias("q_qv"),
        F.col("nrm").alias("q_nrm"),
        F.col("bucket").alias("q_bucket"),
    )
    cos = V.dot_q(F.col("qv"), F.col("q_qv")).cast("double") / (
        F.col("nrm") * F.col("q_nrm")
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("c"), F.asc("vec_id"))
    exact = (
        base.crossJoin(F.broadcast(queries))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id", cos.alias("c"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 10)
        .select("query_id", "vec_id")
    )
    probes = queries.select(
        "query_id",
        "q_qv",
        "q_nrm",
        F.explode(
            _probe_bucket_array(F.col("q_bucket"), cast_long=False)
        ).alias("bucket"),
    )
    lsh = (
        base.join(F.broadcast(probes), on="bucket")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id", cos.alias("c"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 10)
        .select("query_id", "vec_id")
    )
    return (
        exact.join(lsh.withColumnRenamed("vec_id", "lsh_vec_id"),
                   on=["query_id"], how="left")
        .groupBy("query_id")
        .agg(
            F.sum(
                F.when(F.col("vec_id") == F.col("lsh_vec_id"), 1).otherwise(0)
            )
            .cast("long")
            .alias("n_hits"),
        )
        .select(
            "query_id",
            "n_hits",
            F.round(F.col("n_hits") / 10.0, 6).alias("recall_at_10"),
        )
        .orderBy("query_id")
    )


_JL_PLANES = V.plane_signs_sql(dims=64, n_planes=16)
_JL_MAT = (
    "["
    + ", ".join("[" + ", ".join(str(s) for s in row) + "]" for row in _JL_PLANES)
    + "]"
)
_JL_SHORTLIST = 50

_JL_ORACLE = f"""
WITH q AS (SELECT vec_id, label, {_QUANT} AS qv FROM embeddings),
p AS (
  SELECT vec_id, label, qv,
         list_transform({_JL_MAT}, row ->
             CAST(list_sum(list_transform(generate_series(1, 64),
                                          i -> row[i] * qv[i])) AS BIGINT)) AS pv
  FROM q
),
qq AS (SELECT qv, pv FROM p WHERE vec_id = 0),
coarse AS (
  SELECT a.vec_id, a.label, a.qv, {_cos_sql("a.pv", "qq.pv")} AS c_coarse, qq.qv AS q_qv
  FROM p a, qq
  WHERE a.vec_id != 0
  ORDER BY c_coarse DESC, a.vec_id
  LIMIT {_JL_SHORTLIST}
)
SELECT vec_id, label, round({_cos_sql("qv", "q_qv")}, 6) AS cosine
FROM coarse
ORDER BY {_cos_sql("qv", "q_qv")} DESC, vec_id
LIMIT 10
"""


@query("ann_jl_rescore_topk", oracle=_JL_ORACLE)
def ann_jl_rescore_topk(spark, sf_dir):
    """Two-stage ANN via Johnson-Lindenstrauss dimensionality reduction:
    coarse ranking in a ±1-projected 16-dim space (Achlioptas 2003 —
    database-friendly projections; the 64→16 reduction cuts per-pair
    math 4× while approximately preserving angles), then EXACT cosine
    rescoring of the 50-vector shortlist. The dim-reduction counterpart
    of the int8 (`ann_quantized_rescore_topk`) and PQ/ADC
    (`ann_pq_adc_topk`) two-stage indexes — the three standard coarse
    representations, all with the same rescore discipline.

    Scale shape: the projection is map-only (one array-literal matrix,
    HOF zip-sum — exact integer dot products, so both engines agree
    bit-for-bit before any division), the coarse top-50 is
    TakeOrdered (never a global sort), and the shortlist carries its own
    full-precision vectors so the rescore needs no join back to the
    corpus — zero vector shuffles end to end."""
    emb = load_table(spark, sf_dir, "embeddings")
    p = (
        emb.select(
            "vec_id", "label", V.quantize(F.col("embedding")).alias("qv")
        )
        .withColumn("pv", V.signed_projection(F.col("qv"), dims=64, n_planes=16))
        .transform(stage_cache)
    )
    qvec = p.filter(F.col("vec_id") == 0).select(
        F.col("qv").alias("q_qv"),
        F.col("pv").alias("q_pv"),
        V.norm_q(F.col("qv")).alias("q_nrm"),
        V.norm_q(F.col("pv")).alias("q_pnrm"),
    )
    coarse_cos = V.dot_q(F.col("pv"), F.col("q_pv")).cast("double") / (
        V.norm_q(F.col("pv")) * F.col("q_pnrm")
    )
    shortlist = (
        p.crossJoin(F.broadcast(qvec))
        .filter(F.col("vec_id") != 0)
        .select("vec_id", "label", "qv", "q_qv", "q_nrm", coarse_cos.alias("c_coarse"))
        .orderBy(F.desc("c_coarse"), "vec_id")
        .limit(_JL_SHORTLIST)
    )
    exact_cos = V.dot_q(F.col("qv"), F.col("q_qv")).cast("double") / (
        V.norm_q(F.col("qv")) * F.col("q_nrm")
    )
    return (
        shortlist.select("vec_id", "label", exact_cos.alias("c"))
        .orderBy(F.desc("c"), "vec_id")
        .limit(10)
        .select("vec_id", "label", F.round("c", 6).alias("cosine"))
    )


_HLL_M = 64  # registers (b = 6 bucket bits of the 60-bit md5 token hash)

_HLL_ORACLE = f"""
WITH toks AS (
  SELECT DISTINCT unnest({_WS_TOKS}) AS tok FROM documents
),
hashed AS (
  SELECT CAST(concat('0x', substr(md5(tok), 1, 15)) AS BIGINT) AS th FROM toks
),
registers AS (
  SELECT th % {_HLL_M} AS bucket,
         max(CASE WHEN th // {_HLL_M} = 0 THEN 55
                  ELSE 55 - length(bin(th // {_HLL_M})) END) AS r
  FROM hashed GROUP BY 1
),
summary AS (
  SELECT CAST(sum(power(2.0, -r)) AS DOUBLE) AS sum_observed,
         CAST(count(*) AS BIGINT) AS n_observed
  FROM registers
),
exact AS (SELECT CAST(count(*) AS BIGINT) AS n_exact FROM hashed)
SELECT {_HLL_M} AS m,
       ({_HLL_M} - n_observed) AS zero_registers,
       round(sum_observed + ({_HLL_M} - n_observed), 6) AS sum_inv,
       round(CASE WHEN n_observed < {_HLL_M}
                   AND 0.709 * {_HLL_M} * {_HLL_M}
                       / (sum_observed + ({_HLL_M} - n_observed))
                       <= 2.5 * {_HLL_M}
             THEN {_HLL_M} * ln(CAST({_HLL_M} AS DOUBLE)
                                / ({_HLL_M} - n_observed))
             ELSE 0.709 * {_HLL_M} * {_HLL_M}
                  / (sum_observed + ({_HLL_M} - n_observed)) END, 2)
           AS est_distinct,
       n_exact AS exact_distinct
FROM summary, exact
"""


@query("sketch_hll_distinct_tokens", oracle=_HLL_ORACLE)
def sketch_hll_distinct_tokens(spark, sf_dir):
    """HyperLogLog distinct-token estimate with DETERMINISTIC registers
    (Flajolet et al., AofA 2007): bucket = low 6 bits of the 60-bit md5
    token hash, register = leading-zero rank of the remaining 54 bits
    (computed as 55 - length(bin(w)) — an exact string-length identity
    both engines share, instead of a float log2 whose boundary rounding
    could differ). Engine-native approx_count_distinct sketches are NOT
    cross-engine comparable; building the registers from the shared md5
    idiom makes the estimate itself oracle-checkable, alongside the
    exact count for the error readout.

    Scale shape: the only state is 64 registers — constant at any corpus
    size, merged associatively (max per bucket survives partial
    aggregation), which is the entire point of HLL at 100 TB: the
    distinct count of a petabyte token stream costs one 64-row
    aggregate. Register sums are dyadic rationals (2^-r), so the
    harmonic mean is exact until the final division; the standard
    small-range linear-counting correction kicks in below 2.5m (the
    synthetic corpus has a tiny vocabulary, squarely in that regime —
    estimate within a few % of exact instead of the raw 2x)."""
    docs = load_table(spark, sf_dir, "documents")
    th = F.conv(F.substring(F.md5(F.col("tok")), 1, 15), 16, 10).cast("long")
    hashed = (
        docs.select(F.explode(T.tokens(F.col("text"))).alias("tok"))
        .distinct()
        .select(th.alias("th"))
        .transform(stage_cache)
    )
    w = F.expr(f"th div {_HLL_M}")
    rank = F.when(w == 0, F.lit(55)).otherwise(
        F.lit(55) - F.length(F.bin(w))
    )
    registers = (
        hashed.select((F.col("th") % _HLL_M).alias("bucket"), rank.alias("r"))
        .groupBy("bucket")
        .agg(F.max("r").alias("r"))
    )
    summary = registers.agg(
        F.sum(F.pow(F.lit(2.0), -F.col("r"))).cast("double").alias("sum_observed"),
        F.count(F.lit(1)).cast("long").alias("n_observed"),
    )
    exact = hashed.agg(F.count(F.lit(1)).cast("long").alias("n_exact"))
    sum_inv = F.col("sum_observed") + (_HLL_M - F.col("n_observed"))
    raw = 0.709 * _HLL_M * _HLL_M / sum_inv
    zeros = _HLL_M - F.col("n_observed")
    # standard small-range correction: linear counting over the empty
    # registers when the raw estimate is under 2.5m. ln() of the few
    # rationals 64/zeros rounds identically on both engines at the 2dp
    # the result keeps (libm log agrees to <1 ulp; 2dp needs ~8e-5).
    est = F.when(
        (zeros > 0) & (raw <= 2.5 * _HLL_M),
        _HLL_M * F.log(F.lit(float(_HLL_M)) / zeros),
    ).otherwise(raw)
    return (
        summary.crossJoin(exact)
        .select(
            F.lit(_HLL_M).cast("int").alias("m"),
            zeros.cast("long").alias("zero_registers"),
            F.round(sum_inv, 6).alias("sum_inv"),
            F.round(est, 2).alias("est_distinct"),
            F.col("n_exact").alias("exact_distinct"),
        )
    )


_HLL_ESTIMATE_ORACLE = f"""
WITH hashed AS (
  SELECT CAST(concat('0x', substr(md5(tok), 1, 15)) AS BIGINT) AS th
  FROM (SELECT unnest({_WS_TOKS}) AS tok FROM documents)
),
registers AS (
  SELECT th % {_HLL_M} AS bucket,
         max(CASE WHEN th // {_HLL_M} = 0 THEN 55
                  ELSE 55 - length(bin(th // {_HLL_M})) END) AS r
  FROM hashed GROUP BY 1
),
summary AS (
  SELECT CAST(sum(power(2.0, -r)) AS DOUBLE) AS sum_observed,
         CAST(count(*) AS BIGINT) AS n_observed
  FROM registers
)
SELECT {_HLL_M} AS m,
       ({_HLL_M} - n_observed) AS zero_registers,
       round(sum_observed + ({_HLL_M} - n_observed), 6) AS sum_inv,
       round(CASE WHEN n_observed < {_HLL_M}
                   AND 0.709 * {_HLL_M} * {_HLL_M}
                       / (sum_observed + ({_HLL_M} - n_observed))
                       <= 2.5 * {_HLL_M}
             THEN {_HLL_M} * ln(CAST({_HLL_M} AS DOUBLE)
                                / ({_HLL_M} - n_observed))
             ELSE 0.709 * {_HLL_M} * {_HLL_M}
                  / (sum_observed + ({_HLL_M} - n_observed)) END, 2)
           AS est_distinct
FROM summary
"""


def hll_token_registers(docs: DataFrame) -> DataFrame:
    """(bucket, r) HLL registers over a documents relation's raw token
    stream — the shared kernel of ``sketch_hll_estimate_only`` and the
    streaming register drain (``streaming.windows.hll_register_stream``):
    one definition, so the batch sketch and the incremental sketch can
    never drift. Works on batch AND streaming inputs because every step
    is a narrow projection until the single max-aggregate (whose partial
    max is exactly the streaming state update)."""
    th = F.conv(F.substring(F.md5(F.col("tok")), 1, 15), 16, 10).cast("long")
    hashed = docs.select(F.explode(T.tokens(F.col("text"))).alias("tok")).select(
        th.alias("th")
    )
    w = F.expr(f"th div {_HLL_M}")
    rank = F.when(w == 0, F.lit(55)).otherwise(F.lit(55) - F.length(F.bin(w)))
    return (
        hashed.select((F.col("th") % _HLL_M).alias("bucket"), rank.alias("r"))
        .groupBy("bucket")
        .agg(F.max("r").alias("r"))
    )


@query("sketch_hll_estimate_only", oracle=_HLL_ESTIMATE_ORACLE)
def sketch_hll_estimate_only(spark, sf_dir):
    """The production form of the HLL distinct-token sketch: registers
    built from the RAW token stream — no ``.distinct()``, no exact
    companion count, and therefore provably NO distinct exchange in the
    plan (``sketch_hll_distinct_tokens`` stays as the accuracy gauge; a
    round-5 audit flagged its full distinct-token shuffle as the wrong
    default for a production caller).

    Correctness rests on max() idempotence: duplicate tokens hash to the
    same (bucket, rank), so register maxima over the raw stream equal
    maxima over the distinct set — which is the entire point of HLL. The
    plan is one map-side partial max per partition (64 registers of
    state), one 64-key exchange, one single-row summary: a petabyte
    token stream's distinct estimate costs 64 longs per partition and
    two exchanges, nothing keyed by token."""
    docs = load_table(spark, sf_dir, "documents")
    registers = hll_token_registers(docs)
    summary = registers.agg(
        F.sum(F.pow(F.lit(2.0), -F.col("r"))).cast("double").alias("sum_observed"),
        F.count(F.lit(1)).cast("long").alias("n_observed"),
    )
    sum_inv = F.col("sum_observed") + (_HLL_M - F.col("n_observed"))
    raw = 0.709 * _HLL_M * _HLL_M / sum_inv
    zeros = _HLL_M - F.col("n_observed")
    est = F.when(
        (zeros > 0) & (raw <= 2.5 * _HLL_M),
        _HLL_M * F.log(F.lit(float(_HLL_M)) / zeros),
    ).otherwise(raw)
    return summary.select(
        F.lit(_HLL_M).cast("int").alias("m"),
        zeros.cast("long").alias("zero_registers"),
        F.round(sum_inv, 6).alias("sum_inv"),
        F.round(est, 2).alias("est_distinct"),
    )


_BPE_ORACLE = f"""
WITH words AS (
  SELECT unnest({_WS_TOKS}) AS w FROM documents
),
vocab AS (
  SELECT w, CAST(count(*) AS BIGINT) AS freq
  FROM words WHERE len(w) >= 2 GROUP BY w
),
pairs AS (
  SELECT unnest(list_transform(generate_series(1, len(w) - 1),
                               i -> substr(w, i, 2))) AS pair,
         freq
  FROM vocab
)
SELECT pair, CAST(sum(freq) AS BIGINT) AS n_occurrences
FROM pairs
GROUP BY pair
ORDER BY n_occurrences DESC, pair
LIMIT 20
"""


#: adjacent-symbol 2-gram projection over a word column — shared by both
#: BPE stages so pair semantics can never drift between them
_TWO_GRAMS = "transform(sequence(1, length({0}) - 1), i -> substring({0}, i, 2))"


@query("tokenizer_bpe_pair_counts", oracle=_BPE_ORACLE)
def tokenizer_bpe_pair_counts(spark, sf_dir):
    """The first step of BPE tokenizer training: adjacent-symbol pair
    counts over the corpus (Sennrich et al., "Neural Machine Translation
    of Rare Words with Subword Units", ACL 2016) — the top pair is the
    first merge rule; production trainers iterate this loop.

    Scale shape is the classic BPE trick: counting pairs directly over
    the corpus would explode every document, so the corpus reduces to
    the (word, frequency) VOCABULARY first (one wordcount shuffle,
    vocab-bounded output), and pair extraction + weighting by frequency
    runs over the vocabulary — at 100 TB the second stage touches
    millions of rows, not trillions of tokens. Top-20 is TakeOrdered."""
    docs = load_table(spark, sf_dir, "documents")
    vocab = (
        docs.select(F.explode(T.tokens(F.col("text"))).alias("w"))
        .filter(F.length("w") >= 2)
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    pairs = vocab.select(
        F.explode(F.expr(_TWO_GRAMS.format("w"))).alias("pair"),
        "freq",
    )
    return (
        pairs.groupBy("pair")
        .agg(F.sum("freq").cast("long").alias("n_occurrences"))
        .orderBy(F.desc("n_occurrences"), "pair")
        .limit(20)
    )


_BPE_MERGE_ORACLE = f"""
WITH words AS (
  SELECT unnest({_WS_TOKS}) AS w FROM documents
),
vocab AS (
  SELECT w, CAST(count(*) AS BIGINT) AS freq
  FROM words WHERE len(w) >= 2 AND w NOT LIKE '%0%' GROUP BY w
),
p1 AS (
  SELECT unnest(list_transform(generate_series(1, len(w) - 1),
                               i -> substr(w, i, 2))) AS pair,
         freq
  FROM vocab
),
best AS (
  SELECT pair AS rule, CAST(sum(freq) AS BIGINT) AS n
  FROM p1 GROUP BY pair ORDER BY n DESC, pair LIMIT 1
),
merged AS (
  SELECT replace(v.w, best.rule, '0') AS w2, v.freq, best.rule
  FROM vocab v, best
),
p2 AS (
  SELECT rule,
         unnest(list_transform(generate_series(1, len(w2) - 1),
                               i -> substr(w2, i, 2))) AS pair,
         freq
  FROM merged WHERE len(w2) >= 2
)
SELECT rule AS merge_rule,
       CASE WHEN substr(pair, 1, 1) = '0' THEN rule
            ELSE substr(pair, 1, 1) END AS pair_left,
       CASE WHEN substr(pair, 2, 1) = '0' THEN rule
            ELSE substr(pair, 2, 1) END AS pair_right,
       CAST(sum(freq) AS BIGINT) AS n_occurrences
FROM p2
GROUP BY rule, pair
ORDER BY n_occurrences DESC, pair_left, pair_right
LIMIT 20
"""


@query("tokenizer_bpe_merge_round", oracle=_BPE_MERGE_ORACLE)
def tokenizer_bpe_merge_round(spark, sf_dir):
    """One full BPE training iteration (Sennrich et al. 2016): pick the
    most frequent adjacent pair, APPLY the merge across the vocabulary,
    and recount pairs over the merged symbol sequences — the loop body a
    production tokenizer trainer repeats ~50k times; the sibling
    `tokenizer_bpe_pair_counts` is its first half only.

    The merge is greedy leftmost non-overlapping, exactly ``replace()``'s
    contract in both engines (a run 'aaa' under rule 'aa' yields one
    merged symbol + one leftover 'a'); the merged symbol is rewritten to
    the single placeholder char '0' (never in the corpus alphabet, and
    guarded by the vocab filter) so round-2 symbols stay width-1 and the
    pair recount is the same two-char substring projection as round 1 —
    output maps the placeholder back via pair_left/pair_right, which is
    injective per position, so no two symbol pairs ever collapse.

    Scale shape is the BPE trick twice over: both counting rounds and
    the merge application run on the (word, freq) VOCABULARY (corpus
    reduces once through a wordcount shuffle into a reused cached
    stage), the argmax rule is a 1-row TakeOrdered broadcast onto the
    vocab, and the merge itself is a map-only string rewrite — per
    iteration at 100 TB the corpus is touched zero times; only
    vocab-bounded stages repeat."""
    docs = load_table(spark, sf_dir, "documents")
    vocab = (
        docs.select(F.explode(T.tokens(F.col("text"))).alias("w"))
        .filter((F.length("w") >= 2) & (~F.col("w").contains("0")))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    vocab = stage_cache(vocab)
    best = (
        vocab.select(
            F.explode(F.expr(_TWO_GRAMS.format("w"))).alias("pair"), "freq"
        )
        .groupBy("pair")
        .agg(F.sum("freq").cast("long").alias("n"))
        .orderBy(F.desc("n"), "pair")
        .limit(1)
        .select(F.col("pair").alias("rule"))
    )
    merged = vocab.crossJoin(F.broadcast(best)).select(
        F.expr("replace(w, rule, '0')").alias("w2"), "freq", "rule"
    )
    p2 = merged.filter(F.length("w2") >= 2).select(
        "rule", F.explode(F.expr(_TWO_GRAMS.format("w2"))).alias("pair"), "freq"
    )

    def disp(i: int):
        sym = F.substring(F.col("pair"), i, 1)
        return F.when(sym == "0", F.col("rule")).otherwise(sym)

    return (
        p2.groupBy("rule", "pair")
        .agg(F.sum("freq").cast("long").alias("n_occurrences"))
        .select(
            F.col("rule").alias("merge_rule"),
            disp(1).alias("pair_left"),
            disp(2).alias("pair_right"),
            "n_occurrences",
        )
        .orderBy(F.desc("n_occurrences"), "pair_left", "pair_right")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# round 6: semantic dedup, importance resampling, entropy filtering
# ---------------------------------------------------------------------------

_SEMDEDUP_TAU = 0.35  # intra-cluster cosine threshold (mirrored in oracle)
#: target mean cluster population: K = max(16, ceil(n / _SEMDEDUP_CSIZE))
#: clusters. Scaling K WITH the corpus (SemDeDup uses ~100k clusters for
#: LAION) is what keeps the intra-cluster pair search linear in n — a
#: fixed K would make cluster sizes grow with the corpus and the
#: cluster-local O(|c|^2) verify quadratic again.
_SEMDEDUP_CSIZE = 64

_SEMDEDUP_ORACLE = f"""
WITH q AS (SELECT vec_id, {_QUANT} AS qv FROM embeddings),
k AS (SELECT greatest(16, CAST(ceil(count(*) / {_SEMDEDUP_CSIZE}.0) AS BIGINT)) AS k
      FROM embeddings),
cents AS (SELECT vec_id AS cid, qv AS cqv FROM q, k WHERE vec_id < k.k),
assigned AS (
  SELECT vec_id, qv, cid AS cluster FROM (
    SELECT v.vec_id, v.qv, c.cid,
           row_number() OVER (PARTITION BY v.vec_id ORDER BY
             list_sum(list_transform(generate_series(1, len(v.qv)),
               i -> (v.qv[i] - c.cqv[i]) * (v.qv[i] - c.cqv[i]))), c.cid) AS rn
    FROM q v, cents c) s
  WHERE rn = 1
),
dropped AS (
  SELECT DISTINCT b.vec_id
  FROM assigned a JOIN assigned b
    ON a.cluster = b.cluster AND a.vec_id < b.vec_id
  WHERE {_cos_sql("a.qv", "b.qv")} >= {_SEMDEDUP_TAU}
)
SELECT a.cluster, CAST(count(*) AS BIGINT) AS n_members,
       CAST(count(d.vec_id) AS BIGINT) AS n_dropped
FROM assigned a LEFT JOIN dropped d ON a.vec_id = d.vec_id
GROUP BY a.cluster ORDER BY a.cluster
"""


@query("dedup_semantic_clusters", oracle=_SEMDEDUP_ORACLE)
def dedup_semantic_clusters(spark, sf_dir):
    """SemDeDup-style semantic deduplication (Abbas et al., "SemDeDup:
    Data-efficient learning at web-scale through semantic deduplication",
    2023): cluster the embedding space, then call two documents semantic
    duplicates only if they land in the SAME cluster and their cosine
    exceeds tau — the clustering is what turns an O(n^2) corpus problem
    into sum-of-squares-of-cluster-sizes. Keep-one rule: the smallest
    vec_id of a duplicate pair survives (min-id canonicalization, same
    convention as dedup_canonical). Output is the per-cluster audit a
    pipeline run reports: members vs semantically-dropped.

    Scale shape: centroids collapse to ONE broadcast row and assignment
    is a map-only ``F.aggregate`` argmin fold (the ann_ivf_topk skeleton
    — a k-means refinement drops in via ann_ivf_kmeans's loop without
    changing this dataflow); the pair search is an EQUI-join on the
    cluster id, so candidate pairs are cluster-local — never all-pairs
    (dedup_embedding_cosine is the O(n^2) verifier tier this replaces at
    scale). The cluster count scales WITH the corpus (K = n/64, sized
    from one plan-time count — SemDeDup itself uses ~100k clusters for
    LAION), so mean cluster population is constant and the cluster-local
    O(|c|^2) verify stays linear in n; a hot cluster would take the
    salted-join path (operators/skew.py). Past ~10M rows the flat argmin
    over K centroids wants the two-level (coarse-then-fine) assignment
    of a real IVF build — ann_ivf_kmeans's loop is that refinement.

    All assignment math is exact integer arithmetic on quantized vectors
    (squared L2, strict-< fold = smallest-cid tie-break), so the
    partition — and therefore the duplicate census — is bit-identical in
    the DuckDB oracle.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.select(
        "vec_id", V.quantize(F.col("embedding")).alias("qv")
    ).transform(stage_cache)
    # plan-time statistic (one metadata-cheap count): size the cluster
    # count WITH the corpus so mean cluster population stays ~_SEMDEDUP_CSIZE
    n = q.count()
    k = max(16, -(-n // _SEMDEDUP_CSIZE))
    cents = q.filter(F.col("vec_id") < k).select(
        F.col("vec_id").alias("cid"), F.col("qv").alias("cqv")
    )
    cent_arr = cents.agg(
        F.sort_array(F.collect_list(F.struct("cid", "cqv"))).alias("cents")
    )
    assigned = (
        _assign_to_centroids(q, cent_arr)
        .withColumn("nrm", V.norm_q(F.col("qv")))
        .transform(stage_cache)
    )
    a, b = assigned.alias("a"), assigned.alias("b")
    cos = V.dot_q(F.col("a.qv"), F.col("b.qv")).cast("double") / (
        F.col("a.nrm") * F.col("b.nrm")
    )
    dropped = (
        a.join(
            b,
            (F.col("a.cluster") == F.col("b.cluster"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .filter(cos >= _SEMDEDUP_TAU)
        .select(F.col("b.vec_id").alias("vec_id"))
        .distinct()
    )
    return (
        assigned.join(
            dropped.withColumn("is_dup", F.lit(1)), "vec_id", "left"
        )
        .groupBy("cluster")
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.count("is_dup").alias("n_dropped"),
        )
        .orderBy("cluster")
    )


_DSIR_B = 256  # hashed-feature buckets (bounds both model tables)

_DSIR_BIGRAMS = (
    "CASE WHEN len(ws) >= 2 THEN list_transform("
    "generate_series(1, len(ws) - 1), i -> ws[i] || ' ' || ws[i+1]"
    ") ELSE [] END"
)

_DSIR_ORACLE = f"""
WITH bg AS (
  SELECT doc_id, lang, unnest({_DSIR_BIGRAMS}) AS b
  FROM (SELECT doc_id, lang, {_WS_TOKS} AS ws FROM documents)
),
feat AS (
  SELECT doc_id, lang,
         CAST(concat('0x', substr(md5(b), 1, 15)) AS BIGINT) % {_DSIR_B} AS bucket
  FROM bg
),
raw AS (SELECT bucket, CAST(count(*) AS BIGINT) AS cr FROM feat GROUP BY bucket),
tgt AS (SELECT bucket, CAST(count(*) AS BIGINT) AS ct
        FROM feat WHERE lang = 'en' GROUP BY bucket),
tot AS (SELECT CAST(count(*) AS BIGINT) AS tr,
               CAST(count(*) FILTER (WHERE lang = 'en') AS BIGINT) AS tt
        FROM feat),
score AS (
  SELECT r.bucket, COALESCE(t.ct, 0) AS ct, r.cr AS cr
  FROM raw r LEFT JOIN tgt t ON r.bucket = t.bucket
),
mass AS (
  SELECT f.doc_id, min(f.lang) AS lang,
         CAST(count(*) AS BIGINT) AS n_feats,
         CAST(sum(s.ct) AS BIGINT) AS tgt_mass,
         CAST(sum(s.cr) AS BIGINT) AS raw_mass
  FROM feat f JOIN score s ON f.bucket = s.bucket
  GROUP BY f.doc_id
)
SELECT doc_id, lang, n_feats, tgt_mass, raw_mass,
       round(CAST(tgt_mass AS DOUBLE) / tot.tt
             - CAST(raw_mass AS DOUBLE) / tot.tr, 12) AS weight
FROM mass, tot
ORDER BY CAST(tgt_mass AS DOUBLE) / tot.tt
         - CAST(raw_mass AS DOUBLE) / tot.tr DESC, doc_id
LIMIT 20
"""


@query("sample_importance_dsir", oracle=_DSIR_ORACLE)
def sample_importance_dsir(spark, sf_dir):
    """DSIR-style importance resampling (Xie et al., "Data Selection for
    Language Models via Importance Resampling", NeurIPS 2023): score raw
    documents by how target-like their hashed n-gram features are, then
    keep the top of the ranking. Features are word bigrams hashed into
    B={_DSIR_B} buckets; the target distribution comes from the lang='en'
    slice, the raw distribution from the whole corpus. DSIR's weight is
    a log-likelihood ratio; here the ranking key is its linear form —
    the per-doc probability-mass difference sum_b n[b]*(ct[b]/T_tgt -
    cr[b]/T_raw), positive exactly when the doc's features skew
    target-ward. The per-doc masses sum(n*ct) / sum(n*cr) are exact
    BIGINT, bounded by n_feats * T — no overflow at any corpus size
    (the cross-multiplied ct*T_raw - cr*T_tgt form would grow as T^2
    and wrap int64 silently past ~3e9 features); the final key is one
    division per total plus one subtraction on identical integer
    operands — each IEEE-correctly-rounded, so both engines produce the
    bit-identical double with NO float accumulation order anywhere.

    Scale shape (the property that makes DSIR deployable at 100 TB): BOTH
    model tables are bounded by construction at B buckets regardless of
    corpus size — no vocabulary ever materializes. Building them is two
    B-bounded partial-aggregated shuffles over the feature stream; the
    totals are one scalar row; scoring joins the BROADCAST score table
    onto the feature stream map-side, and the only corpus-sized shuffle
    is the per-doc partial-agg sum. Final top-20 is TakeOrdered (k-row
    driver merge, never a global sort).
    """
    docs = load_table(spark, sf_dir, "documents")
    ws = T.tokens(F.col("text"))
    bigrams = F.when(
        F.size(ws) >= 2,
        F.zip_with(
            F.slice(ws, 1, F.size(ws) - 1),
            F.slice(ws, 2, F.size(ws) - 1),
            lambda x, y: F.concat(x, F.lit(" "), y),
        ),
    ).otherwise(F.array().cast("array<string>"))
    feat = (
        docs.select("doc_id", "lang", F.explode(bigrams).alias("bg"))
        .select(
            "doc_id",
            "lang",
            (T.token_hash64(F.col("bg")) % _DSIR_B).alias("bucket"),
        )
        .transform(stage_cache)
    )
    raw = feat.groupBy("bucket").agg(F.count(F.lit(1)).alias("cr"))
    tgt = (
        feat.filter(F.col("lang") == "en")
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("ct"))
    )
    tot = feat.agg(
        F.count(F.lit(1)).alias("tr"),
        F.count(F.when(F.col("lang") == "en", 1)).alias("tt"),
    )
    score = raw.join(tgt, "bucket", "left").select(
        "bucket", F.coalesce(F.col("ct"), F.lit(0)).alias("ct"), "cr"
    )
    # per-doc feature masses stay exact BIGINT (bounded by n_feats * T,
    # safe at any corpus size); the ratio difference is ONE division per
    # total + one subtraction on identical operands — deterministic IEEE,
    # no float accumulation order anywhere
    w = F.col("tgt_mass").cast("double") / F.col("tt") - F.col(
        "raw_mass"
    ).cast("double") / F.col("tr")
    return (
        feat.join(F.broadcast(score), "bucket")
        .groupBy("doc_id")
        .agg(
            F.min("lang").alias("lang"),
            F.count(F.lit(1)).alias("n_feats"),
            F.sum("ct").cast("long").alias("tgt_mass"),
            F.sum("cr").cast("long").alias("raw_mass"),
        )
        .crossJoin(F.broadcast(tot))
        .orderBy(F.desc(w), "doc_id")
        .limit(20)
        .select(
            "doc_id", "lang", "n_feats", "tgt_mass", "raw_mass",
            F.round(w, 12).alias("weight"),
        )
    )


_ENTROPY_ORACLE = """
WITH ch AS (
  SELECT doc_id,
         unnest(list_transform(generate_series(1, len(text)), i -> text[i])) AS c
  FROM documents
),
hist AS (
  SELECT doc_id, c, CAST(count(*) AS BIGINT) AS n
  FROM ch GROUP BY doc_id, c
)
SELECT doc_id,
       CAST(sum(n) AS BIGINT) AS n_chars_seen,
       CAST(count(*) AS BIGINT) AS n_distinct_chars,
       round(log2(CAST(CAST(sum(n) AS BIGINT) AS DOUBLE))
             - sum(n * log2(CAST(n AS DOUBLE))) / CAST(CAST(sum(n) AS BIGINT) AS DOUBLE),
             4) AS entropy,
       CAST(round(log2(CAST(CAST(sum(n) AS BIGINT) AS DOUBLE))
             - sum(n * log2(CAST(n AS DOUBLE))) / CAST(CAST(sum(n) AS BIGINT) AS DOUBLE),
             4) >= 3.5 AS INT) AS keep
FROM hist
GROUP BY doc_id
ORDER BY doc_id
"""


@query("quality_char_entropy", oracle=_ENTROPY_ORACLE)
def quality_char_entropy(spark, sf_dir):
    """Character-entropy quality filter: per-document Shannon entropy of
    the character distribution — the classic cheap signal for boiler-
    plate, key-mash, and encoding garbage (low-entropy docs repeat a few
    symbols; natural language sits around 4 bits/char). The keep flag
    applies the threshold to the ROUNDED entropy so the boolean is
    decided on a value both engines agree on bit-for-bit, never on a
    raw-double boundary.

    Entropy is computed in the algebraically stable form
    H = log2(n) - sum(c*log2(c))/n over the per-(doc, char) histogram —
    log2 of INTEGERS only, so the only float work is one product+sum per
    distinct character. Scale shape: the explode is immediately partial-
    aggregated map-side, so the (doc_id, char) shuffle carries at most
    alphabet-size rows per document (~100), NOT one row per character —
    the corpus-sized token stream never crosses the network; the second
    doc_id-keyed agg is alphabet-bounded per doc. Map-only end to end
    otherwise, no joins, no broadcast state.
    """
    docs = load_table(spark, sf_dir, "documents")
    # Spark's sequence(1, stop) runs DESCENDING when stop < 1 (same trap
    # functions/text.py:65 guards): an empty text would yield ['', '']
    # instead of no rows, diverging from the oracle's empty
    # generate_series — short-circuit to an empty char array explicitly
    chars = F.expr(
        "CASE WHEN length(text) >= 1 THEN "
        "transform(sequence(1, length(text)), i -> substring(text, i, 1)) "
        "ELSE CAST(array() AS array<string>) END"
    )
    hist = (
        docs.select("doc_id", F.explode(chars).alias("c"))
        .groupBy("doc_id", "c")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    n_tot = F.sum("n").cast("long")
    ent = F.round(
        F.log2(n_tot.cast("double"))
        - F.sum(F.col("n") * F.log2(F.col("n").cast("double")))
        / n_tot.cast("double"),
        4,
    )
    return hist.groupBy("doc_id").agg(
        n_tot.alias("n_chars_seen"),
        F.count(F.lit(1)).alias("n_distinct_chars"),
        ent.alias("entropy"),
        (ent >= 3.5).cast("int").alias("keep"),
    ).orderBy("doc_id")


_SPAN_K = 4  #: span width in tokens (production: ~50, per Lee et al. 2022)

_SPANS_SQL = (
    f"CASE WHEN len(ws) >= {_SPAN_K} THEN "
    f"list_transform(generate_series(1, len(ws) - {_SPAN_K - 1}), i -> "
    "{'pos': i, 'gram': "
    + " || ' ' || ".join(f"ws[i+{j}]" for j in range(_SPAN_K))
    + "}) ELSE [] END"
)

_SUBSTRING_SPANS_ORACLE = f"""
WITH t AS (SELECT doc_id, {_WS_TOKS} AS ws FROM documents),
spans AS (
  SELECT doc_id, unnest({_SPANS_SQL}, recursive := true) FROM t
),
occ AS (
  SELECT doc_id, pos, count(*) OVER (PARTITION BY gram) AS n_occ FROM spans
),
covered AS (
  SELECT DISTINCT o.doc_id, o.pos + u.o AS p
  FROM occ o, UNNEST(generate_series(0, {_SPAN_K - 1})) AS u(o)
  WHERE o.n_occ >= 2
),
per_doc AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS dup_tokens
            FROM covered GROUP BY doc_id),
base AS (SELECT doc_id, CAST(len({_WS_TOKS}) AS BIGINT) AS n_tokens
         FROM documents)
SELECT base.doc_id, base.n_tokens,
       COALESCE(per_doc.dup_tokens, 0) AS dup_tokens,
       CAST(COALESCE(per_doc.dup_tokens, 0) * 2 >= base.n_tokens AS INT)
         AS flagged
FROM base LEFT JOIN per_doc USING (doc_id)
ORDER BY doc_id
"""


@query("dedup_substring_spans", oracle=_SUBSTRING_SPANS_ORACLE)
def dedup_substring_spans(spark, sf_dir):
    """Exact substring-span dedup (Lee et al. 2022, "Deduplicating
    Training Data Makes Language Models Better"): a token span is
    *duplicated* when its k-gram occurs at least twice anywhere in the
    corpus (across documents or repeated within one); each document
    reports how many of its token positions are covered by at least one
    duplicated span, plus a flag when half or more of the document is
    duplicated material. k=4 here so the fixture corpus exercises every
    branch; production uses k≈50 — the operator is unchanged.

    The reference paper builds a corpus-wide suffix array; the
    distributed re-expression is span hashing: positional k-grams from a
    single higher-order projection (no per-token explode — one struct
    array per row), a window ``count() OVER (PARTITION BY gram)`` so the
    occurrence census and the span stream share ONE gram-keyed shuffle
    (no second corpus scan, no gram self-join, nothing cached), then
    position-coverage union as a (doc_id, pos) distinct — the span→
    position explode is a constant k× of the *surviving* duplicated
    spans only. Every shuffle is keyed (gram, then doc_id); nothing is
    ever all-pairs, and the gram key space shards arbitrarily wide at
    100 TB. Matches the scale contract of `dedup_minhash_lsh` (near-dup
    tier) with exact-substring semantics instead."""
    docs = load_table(spark, sf_dir, "documents")
    toks = T.tokens(F.col("text"))
    n = F.size(toks)
    structs = F.transform(
        F.sequence(F.lit(1), n - (_SPAN_K - 1)),
        lambda i: F.struct(
            i.alias("pos"),
            F.concat_ws(
                " ", *[F.element_at(toks, i + j) for j in range(_SPAN_K)]
            ).alias("gram"),
        ),
    )
    # sequence(1, stop) runs DESCENDING when stop < 1 — short docs must
    # short-circuit to an empty span set (same trap as word_shingles)
    spans = docs.select(
        "doc_id",
        F.explode(
            F.when(n >= _SPAN_K, structs).otherwise(
                F.array().cast("array<struct<pos:int,gram:string>>")
            )
        ).alias("s"),
    ).select("doc_id", "s.pos", "s.gram")
    occ = spans.withColumn(
        "n_occ", F.count(F.lit(1)).over(Window.partitionBy("gram"))
    )
    covered = (
        occ.filter(F.col("n_occ") >= 2)
        .select(
            "doc_id",
            F.explode(
                F.sequence(F.col("pos"), F.col("pos") + (_SPAN_K - 1))
            ).alias("p"),
        )
        .distinct()
    )
    per_doc = covered.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("dup_tokens")
    )
    base = docs.select("doc_id", n.cast("long").alias("n_tokens"))
    dup = F.coalesce(F.col("dup_tokens"), F.lit(0).cast("long"))
    return (
        base.join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            dup.alias("dup_tokens"),
            (dup * 2 >= F.col("n_tokens")).cast("int").alias("flagged"),
        )
        .orderBy("doc_id")
    )


_TEMPERATURE_ORACLE = f"""
WITH grp AS (
  SELECT source, count(*) AS n_docs,
         CAST(sum(len({_WS_TOKS})) AS BIGINT) AS tok_total
  FROM documents GROUP BY source
),
w AS (
  SELECT source, n_docs, tok_total,
         CAST(floor(sqrt(CAST(tok_total AS DOUBLE))) AS BIGINT) AS temp_weight
  FROM grp
),
tot AS (
  SELECT CAST(sum(temp_weight) AS BIGINT) AS wsum,
         CAST(sum(tok_total) AS BIGINT) AS grand
  FROM w
)
SELECT w.source, w.n_docs, w.tok_total, w.temp_weight,
       (w.tok_total * 1000000) // tot.grand AS raw_share_ppm,
       (w.temp_weight * 1000000) // tot.wsum AS temp_share_ppm,
       (w.temp_weight * 100000) // tot.wsum AS sampled_docs_per_100k
FROM w, tot
ORDER BY w.source
"""


@query("sample_temperature_mix", oracle=_TEMPERATURE_ORACLE)
def sample_temperature_mix(spark, sf_dir):
    """Temperature-scaled mixture sampling (Lample & Conneau 2019, XLM
    §3.1; the multilingual-sampling rule q_i ∝ p_i^α): per-source
    sampling shares at temperature α=1/2, flattening the raw token-mass
    distribution toward uniform so low-resource sources are not drowned
    out. The companion to `corpus_mix_weights` (α=1, the raw shares) —
    a mixing run reads both to pick its per-domain rates.

    α is fixed at 1/2 because p^0.5 is ``sqrt``, the one power IEEE-754
    guarantees correctly rounded — both engines agree bit-for-bit with
    no rounding escape hatch. The weight is then *floored to BIGINT*
    (integer square root) and every share is BIGINT-multiplied and
    integer-divided, so the whole operator is exact integer arithmetic
    after one deterministic sqrt per source. Shape: one partial-agg
    shuffle on the low-cardinality source key, a one-row total derived
    from the grouped result (not a second corpus scan) broadcast back —
    identical to the `corpus_mix_weights` scale contract."""
    docs = load_table(spark, sf_dir, "documents")
    grp = (
        docs.select("source", F.size(T.tokens(F.col("text"))).alias("n_toks"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_toks").cast("long").alias("tok_total"),
        )
        .withColumn(
            "temp_weight",
            F.floor(F.sqrt(F.col("tok_total").cast("double"))).cast("long"),
        )
    )
    grp = stage_cache(grp)
    tot = grp.agg(
        F.sum("temp_weight").cast("long").alias("wsum"),
        F.sum("tok_total").cast("long").alias("grand"),
    )
    return (
        grp.crossJoin(F.broadcast(tot))
        .select(
            "source",
            "n_docs",
            "tok_total",
            "temp_weight",
            F.expr("tok_total * 1000000 div grand").alias("raw_share_ppm"),
            F.expr("temp_weight * 1000000 div wsum").alias("temp_share_ppm"),
            F.expr("temp_weight * 100000 div wsum").alias(
                "sampled_docs_per_100k"
            ),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# cross-source duplication, token-budget fill, tokenizer fertility
# ---------------------------------------------------------------------------

_CLUSTER_SOURCES_ORACLE = f"""{_MINHASH_PAIRS_CTE.replace("WITH d AS", "WITH RECURSIVE d AS", 1)},
pairs AS (SELECT doc_a, doc_b FROM verified WHERE j >= 0.3),
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION SELECT doc_b, doc_a FROM pairs
),
nodes AS (SELECT DISTINCT src AS node FROM edges),
reach(node, lbl) AS (
  SELECT node, node FROM nodes
  UNION
  SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.node
),
comp AS (SELECT node, min(lbl) AS component FROM reach GROUP BY node),
ms AS (
  SELECT DISTINCT c.component, d.source
  FROM comp c JOIN documents d ON d.doc_id = c.node
)
SELECT a.source AS source_a, b.source AS source_b,
       CAST(count(*) AS BIGINT) AS n_clusters
FROM ms a JOIN ms b ON a.component = b.component AND a.source < b.source
GROUP BY a.source, b.source
ORDER BY source_a, source_b
"""


@query("dedup_cluster_sources", oracle=_CLUSTER_SOURCES_ORACLE)
def dedup_cluster_sources(spark, sf_dir):
    """Cross-source duplication matrix: for every unordered pair of
    sources, how many near-duplicate clusters span both — the overlap
    census a corpus team runs before mixing snapshots (e.g. two crawl
    dumps or a curated set vs a crawl: high overlap means the second
    source adds duplicates, not data). Builds on the same MinHash-
    verified connected components as ``dedup_components``.

    Scale shape: the component labels join ``documents`` on doc_id (a
    keyed shuffle over only the LABELED docs — near-duplicates, a small
    fraction of any corpus), then one DISTINCT bounded by
    clusters x sources, a self-join keyed on component whose per-key
    fan-out is capped at C(n_sources, 2) — source count, never corpus
    size — and a final aggregate bounded at n_sources^2 rows. No step
    carries corpus-sized data past the first projection."""
    labels = _duplicate_components(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    member_src = (
        labels.join(docs, labels["node"] == docs["doc_id"])
        .select(F.col("lbl").alias("component"), "source")
        .distinct()
    )
    member_src = stage_cache(member_src)
    return (
        member_src.alias("a")
        .join(
            member_src.alias("b"),
            (F.col("a.component") == F.col("b.component"))
            & (F.col("a.source") < F.col("b.source")),
        )
        .groupBy(
            F.col("a.source").alias("source_a"),
            F.col("b.source").alias("source_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_clusters"))
        .orderBy("source_a", "source_b")
    )


_BUDGET_BUCKET = 64  #: docs per prefix-scan bucket (tune up at scale)

_BUDGET_ORACLE = f"""
WITH t AS (
  SELECT source, doc_id, len({_WS_TOKS}) AS n_toks FROM documents
),
a AS (
  SELECT source,
         CAST(sum(n_toks) AS BIGINT) AS tok_total,
         (CAST(sum(n_toks) AS BIGINT) * 2) // 5 AS alloc_tokens
  FROM t GROUP BY source
),
c AS (
  SELECT source, doc_id, n_toks,
         CAST(sum(n_toks) OVER (
           PARTITION BY source ORDER BY doc_id ROWS UNBOUNDED PRECEDING
         ) AS BIGINT) AS cum
  FROM t
)
SELECT c.source, a.tok_total, a.alloc_tokens,
       CAST(count(CASE WHEN cum <= alloc_tokens THEN 1 END) AS BIGINT)
         AS n_docs_kept,
       CAST(sum(CASE WHEN cum <= alloc_tokens THEN n_toks ELSE 0 END)
         AS BIGINT) AS tokens_kept,
       CASE WHEN a.alloc_tokens = 0 THEN 0
            ELSE (CAST(sum(CASE WHEN cum <= alloc_tokens THEN n_toks
                              ELSE 0 END) AS BIGINT) * 1000000)
                 // a.alloc_tokens END AS fill_ppm
FROM c JOIN a USING (source)
GROUP BY c.source, a.tok_total, a.alloc_tokens
ORDER BY source
"""


@query("sample_token_budget_fill", oracle=_BUDGET_ORACLE)
def sample_token_budget_fill(spark, sf_dir):
    """Token-budget fill: give every source a 2/5 token allocation and
    keep documents greedily in doc_id order until the allocation is
    exhausted — the operation that packs a fixed training-token budget
    from an over-sized corpus (the per-source rates come from a mixing
    policy like ``sample_temperature_mix``; the fraction is fixed at an
    exact integer 2/5 here so both engines agree bit-for-bit).

    The greedy cut needs a per-source RUNNING token sum, and the naive
    ``Window.partitionBy(source)`` puts an entire source — terabytes —
    into one task. This implements the distributed two-level prefix
    scan instead: docs bucket by ``doc_id div 64``; bucket token sums
    aggregate map-side; each bucket's OFFSET (sum of all earlier
    buckets) comes from a window over the bucket-level rows (metadata:
    three longs per 64 docs, 10^6 rows where the naive window carries
    10^8 documents); the within-bucket running sum is a window whose
    partitions are 64 rows by construction. Every per-doc step is
    keyed on (source, bucket) — parallelism scales with corpus size,
    not source count. Allocations are a broadcast source-level table;
    arithmetic is exact BIGINT (`* 2 div 5`, ppm by integer division),
    no float anywhere."""
    docs = load_table(spark, sf_dir, "documents")
    per_doc = stage_cache(
        docs.select(
            "source",
            "doc_id",
            F.size(T.tokens(F.col("text"))).alias("n_toks"),
            F.expr(f"doc_id div {_BUDGET_BUCKET}").alias("bucket"),
        )
    )
    bkt = per_doc.groupBy("source", "bucket").agg(
        F.sum("n_toks").cast("long").alias("bt")
    )
    off_win = (
        Window.partitionBy("source")
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offs = bkt.select(
        "source",
        "bucket",
        F.coalesce(F.sum("bt").over(off_win), F.lit(0)).cast("long").alias("off"),
    )
    alloc = bkt.groupBy("source").agg(
        F.sum("bt").cast("long").alias("tok_total")
    ).withColumn("alloc_tokens", F.expr("tok_total * 2 div 5"))
    cum_win = (
        Window.partitionBy("source", "bucket")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = (
        per_doc.join(offs, ["source", "bucket"])
        .withColumn(
            "cum",
            (F.col("off") + F.sum("n_toks").over(cum_win)).cast("long"),
        )
        .join(F.broadcast(alloc), "source")
    )
    kept = F.col("cum") <= F.col("alloc_tokens")
    return (
        cum.groupBy("source", "tok_total", "alloc_tokens")
        .agg(
            F.count(F.when(kept, 1)).alias("n_docs_kept"),
            F.sum(F.when(kept, F.col("n_toks")).otherwise(0))
            .cast("long")
            .alias("tokens_kept"),
        )
        .withColumn(
            # BIGINT-exact; the x1e6 product overflows past 9.2e12 kept
            # tokens PER SOURCE — and NOT symmetrically: DuckDB raises
            # OutOfRange while Spark's non-ANSI long multiply wraps
            # silently. Switch to per-mille (or pre-divide alloc)
            # before running a >9-trillion-token single source
            "fill_ppm",
            F.expr(
                "CASE WHEN alloc_tokens = 0 THEN 0 "
                "ELSE tokens_kept * 1000000 div alloc_tokens END"
            ).cast("long"),
        )
        .orderBy("source")
    )


_FERTILITY_ORACLE = f"""
WITH t AS (
  SELECT lang,
         len({_WS_TOKS}) AS nws,
         len(regexp_extract_all(text,
             '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]')) AS nbpe,
         strlen(text) AS nbytes
  FROM documents
)
SELECT lang,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(nws) AS BIGINT) AS n_ws_tokens,
       CAST(sum(nbpe) AS BIGINT) AS n_bpe_tokens,
       round(CAST(CAST(sum(nbpe) AS BIGINT) AS DOUBLE)
             / CAST(sum(nws) AS BIGINT), 6) AS fertility,
       round(CAST(CAST(sum(nbytes) AS BIGINT) AS DOUBLE)
             / CAST(sum(nbpe) AS BIGINT), 6) AS bytes_per_bpe_token
FROM t GROUP BY lang ORDER BY lang
"""


@query("tokenizer_fertility", oracle=_FERTILITY_ORACLE)
def tokenizer_fertility(spark, sf_dir):
    """Tokenizer fertility by language: subword tokens per word
    (fertility — THE standard metric for how well a tokenizer fits a
    language; multilingual BPE papers report it per language) and UTF-8
    bytes per subword token, over the BPE-ish segmentation the token
    counter uses. High fertility = the tokenizer shreds that language
    into fragments; bytes/token gauges compression.

    Shape: one narrow corpus scan (lang, text), all counting inside
    whole-stage codegen, one partial-aggregated shuffle on the
    low-cardinality lang key. The only float work is two divisions of
    exact BIGINTs per output row, rounded identically on both engines."""
    docs = load_table(spark, sf_dir, "documents")
    base = docs.select(
        "lang",
        F.size(T.tokens(F.col("text"))).alias("nws"),
        F.size(T.bpe_ish_tokens(F.col("text"))).alias("nbpe"),
        F.octet_length("text").alias("nbytes"),
    )
    nws = F.sum("nws").cast("long")
    nbpe = F.sum("nbpe").cast("long")
    nbytes = F.sum("nbytes").cast("long")
    return base.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        nws.alias("n_ws_tokens"),
        nbpe.alias("n_bpe_tokens"),
        F.round(nbpe.cast("double") / nws, 6).alias("fertility"),
        F.round(nbytes.cast("double") / nbpe, 6).alias("bytes_per_bpe_token"),
    ).orderBy("lang")


_ANOMALY_ORACLE = """
WITH c AS (
  SELECT event_type,
         strftime(time_bucket(INTERVAL '1 hour', ts),
                  '%Y-%m-%d %H:%M:%S') AS window_start,
         CAST(count(*) AS BIGINT) AS n_events
  FROM events GROUP BY 1, 2
),
m AS (
  SELECT event_type,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(n_events) AS BIGINT) AS s,
         CAST(sum(n_events * n_events) AS BIGINT) AS ss
  FROM c GROUP BY event_type
)
SELECT c.event_type, c.window_start, c.n_events,
       round(CASE WHEN m.ss * m.n - m.s * m.s <= 0 THEN 0
                  ELSE (c.n_events * m.n - m.s)
                       / sqrt(CAST(m.ss * m.n - m.s * m.s AS DOUBLE)) END,
             4) AS zscore,
       CAST(abs(round(CASE WHEN m.ss * m.n - m.s * m.s <= 0 THEN 0
                  ELSE (c.n_events * m.n - m.s)
                       / sqrt(CAST(m.ss * m.n - m.s * m.s AS DOUBLE)) END,
             4)) >= 2 AS INT) AS is_anomaly
FROM c JOIN m USING (event_type)
ORDER BY event_type, window_start
"""


@query("events_anomaly_zscore", oracle=_ANOMALY_ORACLE)
def events_anomaly_zscore(spark, sf_dir):
    """Volume-anomaly detection: hourly event counts z-scored against
    each event type's own hourly distribution, |z| >= 2 flagged — the
    monitoring query every event pipeline runs (traffic spikes, outage
    troughs).

    The z-score is computed in the algebraically exact form
    z = (x*n - s) / sqrt(ss*n - s^2) over the per-type moment triple
    (n, s=Σx, ss=Σx²) — every term is exact BIGINT, the sqrt is the one
    float op IEEE guarantees correctly rounded, and there is ONE
    division, so both engines agree bit-for-bit (no mean/stddev
    accumulation-order drift). The flag thresholds the ROUNDED z.
    Shape: one partial-aggregated (type, hour) count shuffle; the moment
    table is one row per event type, broadcast back onto the hourly
    counts; at 100 TB the hourly-count relation is time-bounded (rows =
    types x hours), never event-bounded."""
    ev = load_table(spark, sf_dir, "events")
    counts = (
        ev.groupBy(
            "event_type",
            F.date_format(
                F.window("ts", "1 hour").getField("start"),
                "yyyy-MM-dd HH:mm:ss",
            ).alias("window_start"),
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    return anomaly_zscores_over_counts(stage_cache(counts))


def anomaly_zscores_over_counts(counts: DataFrame) -> DataFrame:
    """z-score readout over an (event_type, window_start, n_events)
    relation — shared by the batch query above and the streaming path
    (``streaming/windows.py``), so the exact-moment formula and the
    anomaly threshold can never drift between the two.

    The moments side re-keys its grouping column (``mtype``) so the
    self-join never emits overlapping attribute ids — plain-named
    grouping keeps the child's attribute, and on view-backed inputs
    (the streaming memory sink) Catalyst's relation dedup does not fire,
    failing analysis with "conflicting references"."""
    moments = counts.groupBy(
        F.col("event_type").alias("mtype")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("n_events").cast("long").alias("s"),
        F.sum(F.col("n_events") * F.col("n_events")).cast("long").alias("ss"),
    )
    z = F.round(
        F.when(F.col("ss") * F.col("n") - F.col("s") * F.col("s") <= 0, F.lit(0.0))
        .otherwise(
            (F.col("n_events") * F.col("n") - F.col("s"))
            / F.sqrt((F.col("ss") * F.col("n") - F.col("s") * F.col("s")).cast("double"))
        ),
        4,
    )
    return (
        counts.join(
            F.broadcast(moments), F.col("event_type") == F.col("mtype")
        )
        .select(
            "event_type",
            "window_start",
            "n_events",
            z.alias("zscore"),
            (F.abs(z) >= 2).cast("int").alias("is_anomaly"),
        )
        .orderBy("event_type", "window_start")
    )


_TOPK_WINDOW_ORACLE = """
WITH per_user AS (
  SELECT strftime(time_bucket(INTERVAL '1 hour', ts),
                  '%Y-%m-%d %H:%M:%S') AS window_start,
         user_id,
         sum(CAST(value AS DECIMAL(18,2))) AS total
  FROM events GROUP BY 1, 2
)
SELECT window_start, user_id,
       round(CAST(total AS DOUBLE), 2) AS total_value,
       CAST(rnk AS BIGINT) AS rnk
FROM (
  SELECT *, row_number() OVER (
    PARTITION BY window_start ORDER BY total DESC, user_id
  ) AS rnk
  FROM per_user
)
WHERE rnk <= 3
ORDER BY window_start, rnk
"""


@query("events_topk_per_window", oracle=_TOPK_WINDOW_ORACLE)
def events_topk_per_window(spark, sf_dir):
    """Per-window leaderboard: top-3 users by spend inside every hourly
    window — the group-wise top-k every analytics surface serves.

    Ranking floats is a cross-engine trap (summation order can flip
    near-ties), so the per-(window, user) totals accumulate in exact
    DECIMAL(18,2) and the rank orders on the exact value with a user_id
    tie-break. Shape: one partial-aggregated (window, user) shuffle,
    then a rank-filter the optimizer executes as WindowGroupLimit —
    each window partition keeps 3 rows per partial sort, no global
    sort, no per-window full materialization (gated in
    test_plan_quality.py)."""
    ev = load_table(spark, sf_dir, "events")
    per_user = ev.groupBy(
        F.date_format(
            F.window("ts", "1 hour").getField("start"),
            "yyyy-MM-dd HH:mm:ss",
        ).alias("window_start"),
        "user_id",
    ).agg(F.sum(F.col("value").cast("decimal(18,2)")).alias("total"))
    w = Window.partitionBy("window_start").orderBy(
        F.desc("total"), F.asc("user_id")
    )
    return (
        per_user.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select(
            "window_start",
            "user_id",
            F.round(F.col("total").cast("double"), 2).alias("total_value"),
            F.col("rnk").cast("long").alias("rnk"),
        )
        .orderBy("window_start", "rnk")
    )


_EPOCH_ORACLE = f"""
WITH g AS (
  SELECT source,
         CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(len({_WS_TOKS})) AS BIGINT) AS tok_total
  FROM documents GROUP BY source
),
w AS (
  SELECT *,
         CAST(floor(sqrt(CAST(tok_total AS DOUBLE))) AS BIGINT) AS temp_weight
  FROM g
),
t AS (
  SELECT CAST(sum(temp_weight) AS BIGINT) AS wsum,
         CAST(sum(tok_total) AS BIGINT) * 2 AS budget
  FROM w
)
SELECT w.source, w.n_docs, w.tok_total,
       (t.budget // t.wsum) * w.temp_weight AS target_tokens,
       CASE WHEN w.tok_total = 0 THEN 0
            ELSE ((t.budget // t.wsum) * w.temp_weight * 1000)
                 // w.tok_total END AS epochs_permille
FROM w CROSS JOIN t
ORDER BY w.source
"""


@query("sample_epoch_schedule", oracle=_EPOCH_ORACLE)
def sample_epoch_schedule(spark, sf_dir):
    """Epoch scheduling: turn temperature-mix shares plus a global token
    budget (2x the corpus here) into per-source repeat factors — "how
    many epochs of each source does this run see?", the upsampling
    counterpart of ``sample_token_budget_fill``'s truncation
    (multilingual pretraining runs low-resource sources for >1 epoch,
    epochs_permille > 1000, and big sources fractionally).

    Arithmetic is exact and overflow-safe BY ORDERING: budget x weight
    would overflow BIGINT at web scale, so both engines compute
    ``(budget div wsum) * weight`` — the division first, the identical
    expression on both sides, so the floor losses agree bit-for-bit.
    Shape: the same one-shuffle + broadcast-totals contract as
    ``sample_temperature_mix`` (grouped source stats, a one-row total
    derived from the grouped result, never a second corpus scan)."""
    docs = load_table(spark, sf_dir, "documents")
    grp = (
        docs.select("source", F.size(T.tokens(F.col("text"))).alias("n_toks"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_toks").cast("long").alias("tok_total"),
        )
        .withColumn(
            "temp_weight",
            F.floor(F.sqrt(F.col("tok_total").cast("double"))).cast("long"),
        )
    )
    grp = stage_cache(grp)
    tot = grp.agg(
        F.sum("temp_weight").cast("long").alias("wsum"),
        (F.sum("tok_total").cast("long") * 2).alias("budget"),
    )
    target = F.expr("(budget div wsum) * temp_weight")
    return (
        grp.crossJoin(F.broadcast(tot))
        .select(
            "source",
            "n_docs",
            "tok_total",
            target.alias("target_tokens"),
            F.expr(
                "CASE WHEN tok_total = 0 THEN 0 "
                "ELSE ((budget div wsum) * temp_weight * 1000) div tok_total "
                "END"
            ).alias("epochs_permille"),
        )
        .orderBy("source")
    )


_SUMMARY_CARD_ORACLE = f"""
SELECT base.n_docs, base.n_tokens, base.n_sources, base.n_langs,
       base.exact_dup_docs, nd.near_dup_docs, nd.near_dup_removable,
       q.low_entropy_docs, src.top_source_token_ppm
FROM (
  SELECT CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(len({_WS_TOKS})) AS BIGINT) AS n_tokens,
         CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
         CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
         CAST(count(*) AS BIGINT)
           - CAST(count(DISTINCT md5(lower(trim(regexp_replace(text,
                 '\\s+', ' ', 'g'))))) AS BIGINT) AS exact_dup_docs
  FROM documents
) base
CROSS JOIN (
  SELECT (CAST(max(st) AS BIGINT) * 1000000) // CAST(sum(st) AS BIGINT)
           AS top_source_token_ppm
  FROM (
    SELECT CAST(sum(len({_WS_TOKS})) AS BIGINT) AS st
    FROM documents GROUP BY source
  )
) src
CROSS JOIN (
  SELECT CAST(count(*) AS BIGINT) AS near_dup_docs,
         CAST(count(*) AS BIGINT)
           - CAST(count(DISTINCT component) AS BIGINT) AS near_dup_removable
  FROM ({_COMPONENTS_ORACLE}) comp
) nd
CROSS JOIN (
  SELECT CAST(count(CASE WHEN keep = 0 THEN 1 END) AS BIGINT)
           AS low_entropy_docs
  FROM ({_ENTROPY_ORACLE}) ent
) q
"""


@query("corpus_summary_card", oracle=_SUMMARY_CARD_ORACLE)
def corpus_summary_card(spark, sf_dir):
    """The dataset datasheet in one row: corpus size (docs, tokens,
    sources, languages), exact- and near-duplicate exposure, the
    low-entropy quality-fail count, and source concentration (top
    source's token share) — the stats card every corpus release ships
    and every curation run reads first.

    Composition discipline: the near-dup and entropy counts aggregate
    the REGISTERED builders' own outputs (``_duplicate_components``,
    ``quality_char_entropy``) and the oracle embeds those entries'
    oracle texts as subqueries, so the card can never drift from the
    operators it summarizes. Shape: four independent single-row
    aggregates cross-joined as broadcasts — each component keeps its
    own documented scale contract; the card adds zero new shuffles of
    corpus-sized data."""
    docs = load_table(spark, sf_dir, "documents")
    th = F.md5(F.lower(F.trim(F.regexp_replace("text", r"\s+", " "))))
    base = docs.select(
        "source", "lang",
        F.size(T.tokens(F.col("text"))).alias("n_toks"),
        th.alias("th"),
    ).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_toks").cast("long").alias("n_tokens"),
        F.countDistinct("source").alias("n_sources"),
        F.countDistinct("lang").alias("n_langs"),
        (F.count(F.lit(1)) - F.countDistinct("th")).alias("exact_dup_docs"),
    )
    src = (
        docs.select("source", F.size(T.tokens(F.col("text"))).alias("n_toks"))
        .groupBy("source")
        .agg(F.sum("n_toks").cast("long").alias("st"))
        .agg(
            F.expr("(max(st) * 1000000) div CAST(sum(st) AS BIGINT)").alias(
                "top_source_token_ppm"
            )
        )
    )
    labels = _duplicate_components(spark, sf_dir)
    nd = labels.agg(
        F.count(F.lit(1)).alias("near_dup_docs"),
        (F.count(F.lit(1)) - F.countDistinct("lbl")).alias(
            "near_dup_removable"
        ),
    )
    q = quality_char_entropy(spark, sf_dir).agg(
        F.count(F.when(F.col("keep") == 0, 1)).alias("low_entropy_docs")
    )
    return (
        base.crossJoin(F.broadcast(src))
        .crossJoin(F.broadcast(nd))
        .crossJoin(F.broadcast(q))
        .select(
            "n_docs", "n_tokens", "n_sources", "n_langs", "exact_dup_docs",
            "near_dup_docs", "near_dup_removable", "low_entropy_docs",
            "top_source_token_ppm",
        )
    )


_CONFUSION_ORACLE = """
WITH v AS (
  SELECT lang,
         CASE WHEN vr >= 0.40 THEN 'es'
              WHEN vr >= 0.37 THEN 'en'
              WHEN vr >= 0.34 THEN 'fr'
              WHEN vr >= 0.31 THEN 'de'
              ELSE 'zh' END AS lang_pred
  FROM (
    SELECT lang,
           CAST(len(text) - len(regexp_replace(text, '[aeiou]', '', 'g'))
                AS DOUBLE) / len(text) AS vr
    FROM documents
  )
),
cells AS (
  SELECT lang, lang_pred, CAST(count(*) AS BIGINT) AS n
  FROM v GROUP BY lang, lang_pred
),
tot AS (SELECT lang, CAST(sum(n) AS BIGINT) AS lang_total FROM cells GROUP BY lang)
SELECT c.lang, c.lang_pred, c.n,
       (c.n * 1000000) // t.lang_total AS cell_ppm,
       CAST(c.lang = c.lang_pred AS INT) AS is_correct
FROM cells c JOIN tot t USING (lang)
ORDER BY lang, lang_pred
"""


@query("text_lang_confusion", oracle=_CONFUSION_ORACLE)
def text_lang_confusion(spark, sf_dir):
    """Classifier evaluation primitive: the confusion matrix of the
    lang-ID heuristic against the labeled language — per (labeled,
    predicted) cell count and its row-normalized share. Every model
    swap in a curation pipeline reads this table first (which languages
    leak into which); the diagonal's cell_ppm is per-language recall.

    Uses the SAME decision-list expression as ``text_lang_id`` (one
    per-row character statistic, shuffle-free), then one partial-
    aggregated (lang, pred) shuffle — the matrix is bounded at
    n_langs², never corpus-sized — and a broadcast of the per-lang
    totals for the exact-integer ppm normalization."""
    docs = load_table(spark, sf_dir, "documents")
    vr = T.vowel_count("text").cast("double") / F.length("text")
    pred = (
        F.when(vr >= 0.40, "es")
        .when(vr >= 0.37, "en")
        .when(vr >= 0.34, "fr")
        .when(vr >= 0.31, "de")
        .otherwise("zh")
    )
    cells = (
        docs.select("lang", pred.alias("lang_pred"))
        .groupBy("lang", "lang_pred")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    cells = stage_cache(cells)
    tot = cells.groupBy(F.col("lang").alias("tlang")).agg(
        F.sum("n").cast("long").alias("lang_total")
    )
    return (
        cells.join(F.broadcast(tot), F.col("lang") == F.col("tlang"))
        .select(
            "lang",
            "lang_pred",
            "n",
            F.expr("(n * 1000000) div lang_total").alias("cell_ppm"),
            (F.col("lang") == F.col("lang_pred")).cast("int").alias(
                "is_correct"
            ),
        )
        .orderBy("lang", "lang_pred")
    )

_SPLIT_ORACLE = f"""
WITH d AS (
  SELECT source,
         CAST(concat('0x', substr(md5(source), 1, 6)) AS BIGINT) % 100 AS bucket,
         len({_WS_TOKS}) AS nws
  FROM documents
),
a AS (
  SELECT CASE WHEN bucket < 60 THEN 'train'
              WHEN bucket < 90 THEN 'valid'
              ELSE 'test' END AS split,
         source, nws
  FROM d
)
SELECT split,
       CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(nws) AS BIGINT) AS n_ws_tokens,
       (count(*) * 1000000) // (SELECT count(*) FROM documents) AS doc_ppm
FROM a
GROUP BY split
ORDER BY split
"""


@query("sample_split_assign", oracle=_SPLIT_ORACLE)
def sample_split_assign(spark, sf_dir):
    """Leakage-safe train/valid/test split assignment: every document is
    routed by a deterministic md5 bucket of its LEAKAGE GROUP (here
    ``source`` — in a web corpus, the registered domain), never of the
    document itself, so near-duplicates that share a group can never
    straddle the split boundary and leak evaluation data into training
    (the failure mode behind benchmark contamination). The 60/30/10 cut
    is a configuration choice; the mechanism (group-hash mod 100 against
    fixed thresholds) is the operator.

    Scale shape: the bucket is one md5 per row computed map-side (no
    dictionary of groups is ever materialized or broadcast — the hash IS
    the routing table, which is what makes this work when the group key
    has billions of distinct values); the only shuffle is the final
    3-row aggregate with map-side partials. COUNT(DISTINCT source)
    expands within that bounded aggregate only. The total-doc count for
    the ppm share is a 1-row broadcast.

    Reference anchor: splits/keep-lists live in the reference's workload
    tooling (``workloads.py`` filters); the group-hash split is the
    LLM-pipeline extension of the same deterministic-routing idea as
    ``sample_stratified``.
    """
    docs = load_table(spark, sf_dir, "documents")
    bucket = F.conv(F.substring(F.md5("source"), 1, 6), 16, 10).cast("long") % 100
    split = (
        F.when(bucket < 60, "train").when(bucket < 90, "valid").otherwise("test")
    )
    per_split = (
        docs.select(
            split.alias("split"),
            "source",
            F.size(T.tokens(F.col("text"))).alias("nws"),
        )
        .groupBy("split")
        .agg(
            F.countDistinct("source").alias("n_sources"),
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("nws").cast("long").alias("n_ws_tokens"),
        )
    )
    total = docs.agg(F.count(F.lit(1)).alias("total_docs"))
    return (
        per_split.crossJoin(F.broadcast(total))
        .select(
            "split",
            "n_sources",
            "n_docs",
            "n_ws_tokens",
            F.expr("(n_docs * 1000000) div total_docs").alias("doc_ppm"),
        )
        .orderBy("split")
    )


_KL_K = 32

_SOURCE_KL_ORACLE = f"""
WITH tok AS (
  SELECT source, unnest({_WS_TOKS}) AS token FROM documents
),
sc AS (
  SELECT source, token, CAST(count(*) AS BIGINT) AS c FROM tok GROUP BY source, token
),
corpus AS (SELECT token, CAST(sum(c) AS BIGINT) AS cc FROM sc GROUP BY token),
topk AS (SELECT token, cc FROM corpus ORDER BY cc DESC, token LIMIT {_KL_K}),
ctot AS (SELECT CAST(sum(cc) AS BIGINT) AS nc FROM topk),
grid AS (
  SELECT s.source, t.token, t.cc, COALESCE(sc.c, 0) AS c
  FROM (SELECT DISTINCT source FROM sc) s
  CROSS JOIN topk t
  LEFT JOIN sc ON sc.source = s.source AND sc.token = t.token
),
stot AS (SELECT source, CAST(sum(c) AS BIGINT) AS ns FROM grid GROUP BY source)
SELECT g.source,
       st.ns AS n_tokens_topk,
       round(CAST(sum(((g.c + 1.0) / (st.ns + {_KL_K}.0))
                 * log2(((g.c + 1.0) / (st.ns + {_KL_K}.0))
                        / ((g.cc + 1.0) / (ct.nc + {_KL_K}.0)))) AS DOUBLE), 6) AS kl_bits
FROM grid g JOIN stot st USING (source) CROSS JOIN ctot ct
GROUP BY g.source, st.ns
ORDER BY source
"""


@query("corpus_source_kl", oracle=_SOURCE_KL_ORACLE)
def corpus_source_kl(spark, sf_dir):
    """Domain-shift scoring for data mixing: per-source KL divergence of
    the source's token distribution from the corpus-wide distribution,
    restricted to the corpus top-K (K=32) vocabulary with add-one
    smoothing. This is the signal a mixture designer reads to decide
    which sources are interchangeable and which are genuinely novel
    (high-KL sources carry distribution mass the rest of the corpus
    lacks); restricting support to the shared top-K head is what CCNet /
    DSIR-style pipelines do to keep the statistic stable across corpora
    of very different sizes.

    Scale shape: one (source, token) wordcount shuffle with map-side
    partials (never one row per occurrence over the wire), then
    EVERYTHING downstream is bounded by construction — the top-K head is
    a TakeOrdered (per-partition heaps, no global sort), the per-source
    restricted counts come from a broadcast semi-join against the K-row
    head (so the n_sources x vocab table is cut to n_sources x K BEFORE
    any further joins), and the dense source x K grid is a crossJoin of
    two broadcast-small sides. No corpus-sized state ever reaches the
    driver or a broadcast.
    """
    docs = load_table(spark, sf_dir, "documents")
    sc = (
        docs.select("source", F.explode(T.tokens(F.col("text"))).alias("token"))
        .groupBy("source", "token")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    sc = stage_cache(sc)
    corpus = sc.groupBy("token").agg(F.sum("c").cast("long").alias("cc"))
    topk = corpus.orderBy(F.desc("cc"), F.asc("token")).limit(_KL_K)
    topk = stage_cache(topk)
    nc = topk.agg(F.sum("cc").cast("long").alias("nc"))
    # cut the (source, token) table to the K-token head FIRST (broadcast
    # semi-join) so every later join handles n_sources x K rows at most
    sck = sc.join(F.broadcast(topk.select("token")), "token")
    sources = sc.select("source").distinct()
    grid = sources.crossJoin(F.broadcast(topk))
    g = (
        grid.join(F.broadcast(sck.select("source", "token", "c")),
                  ["source", "token"], "left")
        .na.fill({"c": 0})
        .crossJoin(F.broadcast(nc))
    )
    w = Window.partitionBy("source")
    g = g.withColumn("ns", F.sum("c").over(w).cast("long"))
    p_s = (F.col("c") + F.lit(1.0)) / (F.col("ns") + F.lit(float(_KL_K)))
    p_c = (F.col("cc") + F.lit(1.0)) / (F.col("nc") + F.lit(float(_KL_K)))
    term = p_s * F.log2(p_s / p_c)
    return (
        g.groupBy("source", "ns")
        .agg(F.round(F.sum(term), 6).alias("kl_bits"))
        .select("source", F.col("ns").alias("n_tokens_topk"), "kl_bits")
        .orderBy("source")
    )


_ZIPF_N = 100

_ZIPF_ORACLE = f"""
WITH tok AS (SELECT unnest({_WS_TOKS}) AS token FROM documents),
cnt AS (SELECT token, CAST(count(*) AS BIGINT) AS c FROM tok GROUP BY token),
ranked AS (
  SELECT row_number() OVER (ORDER BY c DESC, token) AS r, c
  FROM cnt ORDER BY c DESC, token LIMIT {_ZIPF_N}
),
pts AS (SELECT ln(CAST(r AS DOUBLE)) AS x, ln(CAST(c AS DOUBLE)) AS y FROM ranked),
s AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(x) AS DOUBLE) AS sx, CAST(sum(y) AS DOUBLE) AS sy,
         CAST(sum(x*x) AS DOUBLE) AS sxx, CAST(sum(y*y) AS DOUBLE) AS syy,
         CAST(sum(x*y) AS DOUBLE) AS sxy
  FROM pts
)
SELECT n AS n_points,
       round((n*sxy - sx*sy) / (n*sxx - sx*sx), 6) AS zipf_slope,
       round((sy - ((n*sxy - sx*sy) / (n*sxx - sx*sx)) * sx) / n, 6) AS intercept,
       round(((n*sxy - sx*sy) * (n*sxy - sx*sy))
             / ((n*sxx - sx*sx) * (n*syy - sy*sy)), 6) AS r2
FROM s
"""


@query("text_zipf_fit", oracle=_ZIPF_ORACLE)
def text_zipf_fit(spark, sf_dir):
    """Vocabulary-shape diagnostic: least-squares fit of log-frequency
    against log-rank over the top-100 tokens — the Zipf slope.
    Natural-language corpora sit near slope -1 with r² close to 1;
    machine-generated or template-heavy corpora flatten the head or
    break the linearity, so (slope, r²) is a two-number corpus
    fingerprint used to compare crawls and spot synthetic contamination.

    Both engines compute the IDENTICAL closed-form normal equations
    (slope = (nΣxy-ΣxΣy)/(nΣxx-Σx²), r² = Pearson²) over ln() of
    integers, rounded at 6 dp — no engine-specific regression function
    is trusted on either side.

    Scale shape: the wordcount shuffle is the only corpus-sized stage
    (map-side partials), the top-100 cut is TakeOrdered, and the
    regression runs over 100 rows in a single reduce — constant
    state regardless of corpus size.
    """
    docs = load_table(spark, sf_dir, "documents")
    cnt = (
        docs.select(F.explode(T.tokens(F.col("text"))).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    ranked = (
        cnt.orderBy(F.desc("c"), F.asc("token"))
        .limit(_ZIPF_N)
        .select(
            F.row_number()
            .over(Window.orderBy(F.desc("c"), F.asc("token")))
            .alias("r"),
            "c",
        )
    )
    pts = ranked.select(
        F.log(F.col("r").cast("double")).alias("x"),
        F.log(F.col("c").cast("double")).alias("y"),
    )
    s = pts.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    slope = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    return s.select(
        F.col("n").alias("n_points"),
        F.round(slope, 6).alias("zipf_slope"),
        F.round((F.col("sy") - slope * F.col("sx")) / F.col("n"), 6).alias(
            "intercept"
        ),
        F.round(
            (
                (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
                * (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
            )
            / (
                (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
                * (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy"))
            ),
            6,
        ).alias("r2"),
    )


_OUTLIER_BOTTOM = 5

_EMB_OUTLIER_ORACLE = f"""
WITH qv AS (
  SELECT vec_id, label,
         generate_subscripts(embedding, 1) AS pos,
         CAST(floor(unnest(embedding)::DOUBLE * 1000000 + 0.5) AS BIGINT) AS val
  FROM embeddings
),
cent AS (
  SELECT label, pos,
         CAST(floor(CAST(CAST(sum(val) AS BIGINT) AS DOUBLE) / count(*)) AS BIGINT) AS cval
  FROM qv GROUP BY label, pos
),
scored AS (
  SELECT v.vec_id, v.label,
         CAST(sum(v.val * c.cval) AS BIGINT) AS dot,
         CAST(sum(v.val * v.val) AS BIGINT) AS n2v,
         CAST(sum(c.cval * c.cval) AS BIGINT) AS n2c
  FROM qv v JOIN cent c ON v.label = c.label AND v.pos = c.pos
  GROUP BY v.vec_id, v.label
),
cos AS (
  SELECT vec_id, label,
         CAST(dot AS DOUBLE)
           / (sqrt(CAST(n2v AS DOUBLE)) * sqrt(CAST(n2c AS DOUBLE))) AS cos_raw
  FROM scored
)
SELECT label, vec_id, round(cos_raw, 6) AS centroid_cos, rnk
FROM (
  SELECT *, row_number() OVER (PARTITION BY label ORDER BY cos_raw, vec_id) AS rnk
  FROM cos
)
WHERE rnk <= {_OUTLIER_BOTTOM}
ORDER BY label, rnk
"""


@query("emb_outlier_centroid", oracle=_EMB_OUTLIER_ORACLE)
def emb_outlier_centroid(spark, sf_dir):
    """Embedding-quality screening: the bottom-5 vectors per label by
    cosine similarity to their label centroid — the standard first pass
    for mislabeled rows, encoder failures, and garbage inputs before a
    corpus's embeddings are trusted for semantic dedup or retrieval
    (SemDeDup-style pipelines run exactly this screen per cluster).

    Determinism contract: vectors are integer-quantized (x1e6) and the
    centroid is the FLOOR-OF-MEAN integer vector (floor of a double
    division — identical in both engines, unlike `div`'s truncation
    toward zero on negatives), so every dot product and norm is exact
    integer arithmetic and the one cosine double is bit-identical across
    engines — safe to ORDER BY raw, rounded only in the output column.
    Using the mean rather than the raw centroid SUM also bounds the
    per-dimension magnitude at quantization scale regardless of label
    group size (a billion-vector label cannot overflow int64 products).

    Scale shape: the centroid is a (label, pos) partial-agg shuffle
    bounded at n_labels x dim rows; the assembled centroid table
    (n_labels rows) broadcasts onto a map-only scoring pass over the
    vectors; the bottom-5 executes as a per-label WindowGroupLimit —
    no global sort, no pairwise joins, no driver-side state.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.select("vec_id", "label", V.quantize(F.col("embedding")).alias("qv"))
    q = stage_cache(q)
    ex = q.select("label", F.posexplode("qv").alias("pos", "val"))
    cent = ex.groupBy("label", "pos").agg(
        F.floor(
            F.sum("val").cast("double") / F.count(F.lit(1))
        ).cast("long").alias("cval")
    )
    cent_arr = cent.groupBy("label").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "cval"))),
            lambda s: s["cval"],
        ).alias("cvec")
    )
    scored = q.join(F.broadcast(cent_arr), "label").select(
        "label",
        "vec_id",
        V.cosine_q(F.col("qv"), F.col("cvec")).alias("cos_raw"),
    )
    w = Window.partitionBy("label").orderBy(F.asc("cos_raw"), F.asc("vec_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= _OUTLIER_BOTTOM)
        .select(
            "label",
            "vec_id",
            F.round("cos_raw", 6).alias("centroid_cos"),
            "rnk",
        )
        .orderBy("label", "rnk")
    )


_BURST_N = 20

_BURSTINESS_ORACLE = f"""
WITH dt AS (
  SELECT doc_id, token, CAST(count(*) AS BIGINT) AS c
  FROM (SELECT doc_id, unnest({_WS_TOKS}) AS token FROM documents)
  GROUP BY doc_id, token
),
tok AS (
  SELECT token,
         CAST(sum(c) AS BIGINT) AS cf,
         CAST(count(*) AS BIGINT) AS df,
         CAST(max(c) AS BIGINT) AS max_in_doc
  FROM dt GROUP BY token
)
SELECT token, cf, df, max_in_doc,
       round(CAST(cf AS DOUBLE) / df, 6) AS burstiness
FROM tok
ORDER BY cf DESC, token
LIMIT {_BURST_N}
"""


@query("corpus_burstiness", oracle=_BURSTINESS_ORACLE)
def corpus_burstiness(spark, sf_dir):
    """Token burstiness over the vocabulary head: collection frequency
    (total occurrences), document frequency (documents containing the
    token), their ratio (mean occurrences per containing document — the
    classic Church/Gale burstiness statistic), and the single-document
    maximum. Natural function words spread evenly (ratio near cf/n_docs);
    templated or spammy tokens concentrate (high ratio, high max_in_doc)
    — the per-token companion to the per-document repetition filter.

    Scale shape: the (doc_id, token) histogram partial-aggregates
    map-side before its one shuffle (at most distinct-tokens-per-doc
    rows per document, never one row per occurrence), the per-token
    rollup is vocabulary-bounded, and the head cut is TakeOrdered.
    Everything after the first aggregate is exact integer arithmetic;
    the one division happens in the output row.
    """
    docs = load_table(spark, sf_dir, "documents")
    dt = (
        docs.select("doc_id", F.explode(T.tokens(F.col("text"))).alias("token"))
        .groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    tok = dt.groupBy("token").agg(
        F.sum("c").cast("long").alias("cf"),
        F.count(F.lit(1)).cast("long").alias("df"),
        F.max("c").cast("long").alias("max_in_doc"),
    )
    return (
        tok.orderBy(F.desc("cf"), F.asc("token"))
        .limit(_BURST_N)
        .select(
            "token", "cf", "df", "max_in_doc",
            F.round(F.col("cf").cast("double") / F.col("df"), 6).alias(
                "burstiness"
            ),
        )
    )


_RFM_ORACLE = """
WITH p AS (
  SELECT user_id,
         max(ts) AS last_ts,
         CAST(count(*) AS BIGINT) AS freq,
         CAST(sum(CAST(value AS DECIMAL(18,6))) AS DECIMAL(38,6)) AS monetary
  FROM events WHERE event_type = 'purchase'
  GROUP BY user_id
),
q AS (
  SELECT user_id,
         ntile(4) OVER (ORDER BY last_ts DESC, user_id) AS r_q,
         ntile(4) OVER (ORDER BY freq DESC, user_id) AS f_q,
         ntile(4) OVER (ORDER BY monetary DESC, user_id) AS m_q
  FROM p
)
SELECT CAST(r_q AS INT) AS r_q, CAST(f_q AS INT) AS f_q,
       CAST(m_q AS INT) AS m_q,
       CAST(count(*) AS BIGINT) AS n_users
FROM q
GROUP BY r_q, f_q, m_q
ORDER BY r_q, f_q, m_q
"""


@query("events_rfm_segments", oracle=_RFM_ORACLE)
def events_rfm_segments(spark, sf_dir):
    """RFM segmentation — the classic recency/frequency/monetary customer
    quartiles, reported as the 4x4x4 segment census (quartile 1 = most
    recent / most frequent / highest spend). Determinism contract:
    monetary totals accumulate in exact DECIMAL (float summation order
    can flip near-tie quartile boundaries between engines) and every
    ntile ordering carries user_id as the total tiebreak.

    Scale shape: the corpus-sized stage is the event->user aggregate
    (one user-keyed shuffle with map-side partials); the ntile windows
    then run over the USER relation — many orders of magnitude smaller
    than the event stream — and the final census is bounded at 64 rows.
    At truly extreme user counts the exact global ntile becomes the
    bottleneck and a production caller would switch to approx-percentile
    boundaries; the exact form is what an oracle can verify.
    """
    ev = load_table(spark, sf_dir, "events").where(
        F.col("event_type") == "purchase"
    )
    per_user = ev.groupBy("user_id").agg(
        F.max("ts").alias("last_ts"),
        F.count(F.lit(1)).alias("freq"),
        F.sum(F.col("value").cast("decimal(18,6)")).alias("monetary"),
    )
    q = per_user.select(
        F.ntile(4)
        .over(Window.orderBy(F.desc("last_ts"), F.asc("user_id")))
        .cast("int")
        .alias("r_q"),
        F.ntile(4)
        .over(Window.orderBy(F.desc("freq"), F.asc("user_id")))
        .cast("int")
        .alias("f_q"),
        F.ntile(4)
        .over(Window.orderBy(F.desc("monetary"), F.asc("user_id")))
        .cast("int")
        .alias("m_q"),
    )
    return (
        q.groupBy("r_q", "f_q", "m_q")
        .agg(F.count(F.lit(1)).alias("n_users"))
        .orderBy("r_q", "f_q", "m_q")
    )


_LEN_PCTL_ORACLE = """
WITH h AS (
  SELECT n_chars, CAST(count(*) AS BIGINT) AS c
  FROM documents GROUP BY n_chars
),
cum AS (
  SELECT n_chars, c,
         CAST(sum(c) OVER (ORDER BY n_chars) AS BIGINT) AS cum_c,
         (SELECT CAST(sum(c) AS BIGINT) FROM h) AS total
  FROM h
)
SELECT
  CAST((SELECT count(*) FROM documents) AS BIGINT) AS n_docs,
  CAST((SELECT min(n_chars) FROM documents) AS BIGINT) AS min_chars,
  CAST(min(CASE WHEN cum_c * 10 >= total THEN n_chars END) AS BIGINT) AS p10,
  CAST(min(CASE WHEN cum_c * 2 >= total THEN n_chars END) AS BIGINT) AS p50,
  CAST(min(CASE WHEN cum_c * 10 >= total * 9 THEN n_chars END) AS BIGINT) AS p90,
  CAST(min(CASE WHEN cum_c * 100 >= total * 99 THEN n_chars END) AS BIGINT) AS p99,
  CAST((SELECT max(n_chars) FROM documents) AS BIGINT) AS max_chars
FROM cum
"""


@query("corpus_length_percentiles", oracle=_LEN_PCTL_ORACLE)
def corpus_length_percentiles(spark, sf_dir):
    """Exact document-length percentiles (p10/p50/p90/p99 with min/max)
    by the HISTOGRAM method — the length-distribution row of a dataset
    datasheet, and the filter-threshold source for length-based quality
    cuts. The percentile definition is the discrete lower bound
    (smallest length whose cumulative count reaches the rank), stated in
    exact integer cross-multiplication (``cum*10 >= total`` etc.) so
    both engines agree bit-for-bit with no float rank arithmetic.

    Scale shape: the corpus reduces to a (n_chars, count) histogram
    with map-side partials — bounded by the number of DISTINCT lengths,
    not documents — and the cumulative walk + percentile picks run over
    that bounded histogram (the window is a single partition of
    histogram rows, never of documents). The classic way percentiles
    stay exact AND cheap at any corpus size when the value domain is
    bounded; for unbounded domains the production fallback is
    approx_percentile, which an oracle cannot pin."""
    docs = load_table(spark, sf_dir, "documents")
    h = docs.groupBy("n_chars").agg(F.count(F.lit(1)).alias("c"))
    h = h.withColumn(
        "cum_c", F.sum("c").over(Window.orderBy("n_chars")).cast("long")
    )
    tot = docs.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.min("n_chars").cast("long").alias("min_chars"),
        F.max("n_chars").cast("long").alias("max_chars"),
    )
    cum = h.crossJoin(F.broadcast(tot))

    def pick(cond):
        return F.min(F.when(cond, F.col("n_chars"))).cast("long")

    total = F.col("n_docs")
    return cum.groupBy().agg(
        F.first("n_docs").alias("nd"),
        F.first("min_chars").alias("mn"),
        pick(F.col("cum_c") * 10 >= total).alias("p10"),
        pick(F.col("cum_c") * 2 >= total).alias("p50"),
        pick(F.col("cum_c") * 10 >= total * 9).alias("p90"),
        pick(F.col("cum_c") * 100 >= total * 99).alias("p99"),
        F.first("max_chars").alias("mx"),
    ).select(
        F.col("nd").alias("n_docs"),
        F.col("mn").alias("min_chars"),
        "p10", "p50", "p90", "p99",
        F.col("mx").alias("max_chars"),
    )


_CONTAINMENT_ORACLE = f"""
WITH s AS (
  SELECT doc_id, {_SHINGLES} AS sh
  FROM (SELECT doc_id, {_WS_TOKS} AS ws FROM documents)
),
ss AS (SELECT * FROM s WHERE len(sh) >= 1),
p AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         CAST(len(list_intersect(a.sh, b.sh)) AS BIGINT) AS inter,
         CAST(len(a.sh) AS BIGINT) AS la,
         CAST(len(b.sh) AS BIGINT) AS lb
  FROM ss a JOIN ss b ON a.doc_id < b.doc_id
)
SELECT doc_a, doc_b,
       round(CAST(inter AS DOUBLE) / la, 6) AS cont_a_in_b,
       round(CAST(inter AS DOUBLE) / lb, 6) AS cont_b_in_a,
       round(CAST(inter AS DOUBLE) / (la + lb - inter), 6) AS jaccard
FROM p
WHERE inter * 2 >= la OR inter * 2 >= lb
ORDER BY doc_a, doc_b
"""


@query("dedup_shingle_containment", oracle=_CONTAINMENT_ORACLE)
def dedup_shingle_containment(spark, sf_dir):
    """Asymmetric near-dup detection via shingle CONTAINMENT (Broder's
    second resemblance measure): C(A,B) = |A∩B| / |A| — how much of
    document A lives inside document B. Jaccard misses the
    quote/aggregate/superset relations a crawl is full of (a short doc
    fully quoted inside a long one can have Jaccard ~0.1 but containment
    1.0); dedup pipelines keep the containing doc and drop the
    contained. Reports both directions plus the Jaccard for contrast;
    the keep threshold (max containment >= 1/2) is an exact integer
    cross-multiplication, so the pair set is bit-identical across
    engines, and the ratios are rounded only in the output.

    Scale shape: verifier-tier contract shared with dedup_ngram_jaccard.
    r12-opt: executed through the inverted shingle index
    (:func:`_shingle_pair_overlap`) — a pair can only satisfy
    max-containment ≥ ½ if it shares a shingle (inter ≥ 1 since
    |A| ≥ 1), so the posting-join candidate set provably covers the
    output and the former all-pairs nested loop (27.8 s warm at sf0.1)
    is gone from the plan at every scale; the ×10 pair space now costs
    collision mass, not n².
    """
    ov = _shingle_pair_overlap(spark, sf_dir)
    inter = F.col("inter").cast("long")
    la = F.col("la").cast("long")
    lb = F.col("lb").cast("long")
    return (
        ov.filter((inter * 2 >= la) | (inter * 2 >= lb))
        .select(
            "doc_a",
            "doc_b",
            F.round(inter.cast("double") / la, 6).alias("cont_a_in_b"),
            F.round(inter.cast("double") / lb, 6).alias("cont_b_in_a"),
            F.round(inter.cast("double") / (la + lb - inter), 6).alias("jaccard"),
        )
        .orderBy("doc_a", "doc_b")
    )


_MARKOV_ORACLE = """
WITH seq AS (
  SELECT event_type,
         lead(event_type) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
         ) AS next_type
  FROM events
),
cells AS (
  SELECT event_type AS from_type, next_type AS to_type,
         CAST(count(*) AS BIGINT) AS n
  FROM seq WHERE next_type IS NOT NULL
  GROUP BY event_type, next_type
),
tot AS (
  SELECT from_type, CAST(sum(n) AS BIGINT) AS row_total
  FROM cells GROUP BY from_type
)
SELECT c.from_type, c.to_type, c.n,
       (c.n * 1000000) // t.row_total AS p_ppm
FROM cells c JOIN tot t USING (from_type)
ORDER BY from_type, to_type
"""


@query("events_markov_transitions", oracle=_MARKOV_ORACLE)
def events_markov_transitions(spark, sf_dir):
    """First-order event-flow model: the per-user event-type transition
    matrix — count and exact-integer ppm probability of each (from, to)
    step over every user's time-ordered stream. The flow map behind
    funnels (which steps actually follow which), churn analysis (what
    precedes 'error'), and next-event prediction baselines. Ordering
    carries event_id as the within-timestamp tiebreak so consecutive
    pairs are identical across engines; normalization is integer div,
    rounded nowhere.

    Scale shape: one user-keyed shuffle for the lead() window (the same
    partitioning sessionization uses — state per user, never global),
    then the matrix partial-aggregates to at most n_types² rows and the
    row totals derive from the bounded matrix itself. At 100 TB the only
    corpus-sized stage is the per-user sort inside the exchange.
    """
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        F.col("event_type").alias("from_type"),
        F.lead("event_type").over(w).alias("to_type"),
    ).where(F.col("to_type").isNotNull())
    cells = (
        seq.groupBy("from_type", "to_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    cells = stage_cache(cells)
    tot = cells.groupBy(F.col("from_type").alias("ft")).agg(
        F.sum("n").cast("long").alias("row_total")
    )
    return (
        cells.join(F.broadcast(tot), F.col("from_type") == F.col("ft"))
        .select(
            "from_type",
            "to_type",
            "n",
            F.expr("(n * 1000000) div row_total").alias("p_ppm"),
        )
        .orderBy("from_type", "to_type")
    )


_LEN_BUCKET_ORACLE = f"""
WITH d AS (
  SELECT len({_WS_TOKS}) AS n_tok FROM documents
),
b AS (
  SELECT n_tok,
         CAST(CASE WHEN n_tok <= 1 THEN 1
              ELSE (1 << length(bin(n_tok - 1))) END
              AS BIGINT) AS bucket
  FROM d
)
SELECT bucket,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_tok) AS BIGINT) AS real_tokens,
       CAST(count(*) AS BIGINT) * bucket AS padded_tokens,
       (CAST(count(*) AS BIGINT) * bucket - CAST(sum(n_tok) AS BIGINT))
         * 1000000 // (CAST(count(*) AS BIGINT) * bucket) AS waste_ppm
FROM b
GROUP BY bucket
ORDER BY bucket
"""


@query("corpus_length_buckets", oracle=_LEN_BUCKET_ORACLE)
def corpus_length_buckets(spark, sf_dir):
    """Batch-packing efficiency census: documents bucketed by the
    power-of-two token-length ceiling (the standard length-bucketing
    scheme for padded batching), with per-bucket real vs padded token
    counts and the exact padding-waste ppm — the number that decides
    between pad-to-bucket batching and ``corpus_seq_packing``-style
    concatenation for a given corpus.

    Determinism contract: the bucket is the smallest power of two
    >= n, computed in EXACT integer arithmetic as 1 << bit_length(n-1)
    (Spark ``shiftleft(1, length(bin(n-1)))`` == DuckDB
    ``1 << length(bin(n-1))``) — no floating log whose 1-ulp
    cross-libm wobble could flip the ceil at exact powers of two —
    and the waste share is integer cross-multiplied ppm.

    Scale shape: one map-only projection (token count per doc, no
    explode) into a partial-aggregated shuffle bounded by the number of
    DISTINCT buckets (~log2(max_len) rows) — constant output at any
    corpus size.
    """
    docs = load_table(spark, sf_dir, "documents")
    n_tok = F.size(T.tokens(F.col("text")))
    bucket = (
        F.when(n_tok <= 1, F.lit(1))
        .otherwise(
            F.call_function(
                "shiftleft", F.lit(1), F.length(F.bin((n_tok - 1).cast("long")))
            )
        )
        .cast("long")
    )
    padded = F.col("n_docs") * F.col("bucket")
    return (
        docs.select(bucket.alias("bucket"), n_tok.alias("n_tok"))
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").cast("long").alias("real_tokens"),
        )
        .select(
            "bucket",
            "n_docs",
            "real_tokens",
            padded.alias("padded_tokens"),
            F.expr(
                "(n_docs * bucket - real_tokens) * 1000000 div (n_docs * bucket)"
            ).alias("waste_ppm"),
        )
        .orderBy("bucket")
    )


_HUBNESS_ORACLE = f"""
WITH qv AS (
  SELECT vec_id, {_QUANT} AS q FROM embeddings
),
pairs AS (
  SELECT a.vec_id AS src, b.vec_id AS dst,
         {_cos_sql("a.q", "b.q")} AS cos
  FROM qv a JOIN qv b ON a.vec_id <> b.vec_id
),
knn AS (
  SELECT src, dst
  FROM (
    SELECT src, dst,
           row_number() OVER (PARTITION BY src ORDER BY cos DESC, dst) AS rnk
    FROM pairs
  )
  WHERE rnk <= 5
),
indeg AS (
  SELECT dst, CAST(count(*) AS BIGINT) AS in_degree
  FROM knn GROUP BY dst
)
SELECT in_degree,
       CAST(count(*) AS BIGINT) AS n_vectors
FROM indeg
GROUP BY in_degree
ORDER BY in_degree
"""


@query("ann_hubness_indegree", oracle=_HUBNESS_ORACLE)
def ann_hubness_indegree(spark, sf_dir):
    """Hubness diagnostic for the embedding space: the in-degree
    histogram of the exact 5-NN graph. In healthy geometry in-degrees
    concentrate near k; heavy right tails ("hub" vectors that appear in
    everyone's neighbor list) are the classic symptom of degraded
    high-dimensional embeddings and poison both ANN recall and
    semantic-dedup precision — this histogram is the first thing to
    read before trusting either. Cosines are exact integer-quantized
    (bit-identical across engines) and the k-NN cut ties on dst, so the
    graph — not just the histogram — is deterministic.

    Scale shape: the pairwise join is the exact ground-truth tier
    (verifier contract, like dedup_ngram_jaccard) — at corpus scale the
    same diagnostic runs over an LSH/IVF candidate graph instead of
    all pairs; the top-k executes as a per-src WindowGroupLimit, and
    both the in-degree aggregate and the final histogram are
    vector-bounded, never pair-bounded.
    """
    # r12-opt: ride the shared quantize+norm stage — ``cosine_q`` per pair
    # re-derives BOTH operands' norms (three interpreted higher-order dot
    # products per pair; measured 3.6 s for the cosine projection alone vs
    # 1.7 s for one dot at sf0.1's 4M pairs), but a norm is a per-row
    # property: precomputed once per vector, each pair pays one dot and
    # one divide on identical IEEE doubles (same sqrt, same product, same
    # division — bit-identical cosines, oracle-gated). An r12 experiment
    # that replaced the window with a per-row broadcast-array top-k
    # expression (array_sort over 2000 structs per row) measured ~43 ms/row
    # of interpreted struct machinery — WORSE than shuffling the pair rows
    # — and was discarded; the committed profile is in OPTIMIZATION_r12.md.
    qn = _quantized_embeddings(spark, sf_dir).select("vec_id", "qv", "nrm")
    # measured dense-tier budget (r12, VERDICT item 2): above
    # DENSE_PAIR_MAX_VECTORS the block GEMM kernel generates per-tile
    # top-5 candidates (bit-identical cosines, provable top-5 coverage —
    # operators/densepair.py) and the SAME window below merges them; the
    # all-pairs join never exists above the budget.
    mb = MeasuredBuildSide(spark)
    key = f"hubness_vectors@{sf_dir}"
    if mb.rows_capped(qn, key, densepair.DENSE_PAIR_MAX_VECTORS) == float("inf"):
        pairs = densepair.dense_pair_topk_candidates(spark, qn, qn.count(), 5)
    else:
        # below the budget (see dedup_embedding_cosine): while the vector
        # set fits the broadcast threshold, pin the build side and spread
        # the single-file stream scan across the cores
        if mb.fits_broadcast(qn, key):
            a, b = (
                spread_stream_side(qn).alias("a"),
                qn.hint("broadcast").alias("b"),
            )
        else:
            a, b = qn.alias("a"), qn.alias("b")
        pairs = a.join(b, F.col("a.vec_id") != F.col("b.vec_id")).select(
            F.col("a.vec_id").alias("src"),
            F.col("b.vec_id").alias("dst"),
            (
                V.dot_q(F.col("a.qv"), F.col("b.qv")).cast("double")
                / (F.col("a.nrm") * F.col("b.nrm"))
            ).alias("cos"),
        )
    w = Window.partitionBy("src").orderBy(F.desc("cos"), F.asc("dst"))
    knn = (
        pairs.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= 5)
        .select("src", "dst")
    )
    indeg = knn.groupBy("dst").agg(F.count(F.lit(1)).alias("in_degree"))
    return (
        indeg.groupBy("in_degree")
        .agg(F.count(F.lit(1)).alias("n_vectors"))
        .orderBy("in_degree")
    )


_PARETO_ORACLE = """
WITH u AS (
  SELECT user_id, CAST(count(*) AS BIGINT) AS n_events
  FROM events GROUP BY user_id
),
ranked AS (
  SELECT user_id, n_events,
         CAST(sum(n_events) OVER (
           ORDER BY n_events DESC, user_id
         ) AS BIGINT) AS cum_events,
         row_number() OVER (ORDER BY n_events DESC, user_id) AS rnk,
         (SELECT CAST(sum(n_events) AS BIGINT) FROM u) AS total_events,
         (SELECT CAST(count(*) AS BIGINT) FROM u) AS n_users
  FROM u
)
SELECT
  CAST(max(n_users) AS BIGINT) AS n_users,
  CAST(max(total_events) AS BIGINT) AS total_events,
  CAST(min(CASE WHEN cum_events * 10 >= total_events * 5 THEN rnk END) AS BIGINT)
    AS users_for_50pct,
  CAST(min(CASE WHEN cum_events * 10 >= total_events * 8 THEN rnk END) AS BIGINT)
    AS users_for_80pct,
  CAST(min(CASE WHEN cum_events * 100 >= total_events * 95 THEN rnk END) AS BIGINT)
    AS users_for_95pct,
  (CAST(min(CASE WHEN cum_events * 10 >= total_events * 8 THEN rnk END) AS BIGINT)
     * 1000000) // CAST(max(n_users) AS BIGINT) AS share_80pct_ppm
FROM ranked
"""


@query("events_pareto_concentration", oracle=_PARETO_ORACLE)
def events_pareto_concentration(spark, sf_dir):
    """Activity concentration (the Pareto/Lorenz readout): how many of
    the heaviest users account for 50% / 80% / 95% of all events, and
    the 80%-cohort's share of the user base in exact ppm — the
    "does 20% of the base generate 80% of the load" number that sizes
    rate limits, hot-key mitigations, and per-user state budgets.
    Thresholds are exact integer cross-multiplications on the cumulative
    walk (ORDER BY count DESC with user_id tiebreak), so every cutoff
    rank is bit-identical across engines.

    Scale shape: the event stream reduces user-keyed with map-side
    partials (the only corpus-sized stage); the cumulative window and
    the threshold picks run over the USER relation. For extreme user
    counts the same statistic comes from a count-histogram walk (the
    corpus_length_percentiles pattern) — the user-relation window is the
    exactness tier an oracle can pin.
    """
    ev = load_table(spark, sf_dir, "events")
    u = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("n_events"))
    u = stage_cache(u)
    tot = u.agg(
        F.count(F.lit(1)).cast("long").alias("n_users"),
        F.sum("n_events").cast("long").alias("total_events"),
    )
    w = Window.orderBy(F.desc("n_events"), F.asc("user_id"))
    ranked = (
        u.withColumn("cum_events", F.sum("n_events").over(w).cast("long"))
        .withColumn("rnk", F.row_number().over(w))
        .crossJoin(F.broadcast(tot))
    )

    def cutoff(mul_c: int, mul_t: int):
        return F.min(
            F.when(
                F.col("cum_events") * mul_c >= F.col("total_events") * mul_t,
                F.col("rnk"),
            )
        ).cast("long")

    return ranked.groupBy().agg(
        F.max("n_users").cast("long").alias("n_users"),
        F.max("total_events").cast("long").alias("total_events"),
        cutoff(10, 5).alias("users_for_50pct"),
        cutoff(10, 8).alias("users_for_80pct"),
        cutoff(100, 95).alias("users_for_95pct"),
    ).select(
        "n_users",
        "total_events",
        "users_for_50pct",
        "users_for_80pct",
        "users_for_95pct",
        F.expr("(users_for_80pct * 1000000) div n_users").alias(
            "share_80pct_ppm"
        ),
    )


_INTERARRIVAL_ORACLE = """
WITH g AS (
  SELECT CAST(date_diff('second',
              lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id),
              ts) AS BIGINT) AS gap_s
  FROM events
),
h AS (
  SELECT gap_s, CAST(count(*) AS BIGINT) AS c
  FROM g WHERE gap_s IS NOT NULL GROUP BY gap_s
),
cum AS (
  SELECT gap_s, c,
         CAST(sum(c) OVER (ORDER BY gap_s) AS BIGINT) AS cum_c,
         (SELECT CAST(sum(c) AS BIGINT) FROM h) AS total
  FROM h
)
SELECT
  CAST(max(total) AS BIGINT) AS n_gaps,
  CAST(min(CASE WHEN cum_c * 2 >= total THEN gap_s END) AS BIGINT) AS p50_s,
  CAST(min(CASE WHEN cum_c * 10 >= total * 9 THEN gap_s END) AS BIGINT) AS p90_s,
  CAST(min(CASE WHEN cum_c * 100 >= total * 99 THEN gap_s END) AS BIGINT) AS p99_s,
  CAST(max(gap_s) AS BIGINT) AS max_s
FROM cum
"""


@query("events_interarrival_gaps", oracle=_INTERARRIVAL_ORACLE)
def events_interarrival_gaps(spark, sf_dir):
    """Per-user inter-event gap percentiles (p50/p90/p99/max, whole
    seconds) — the distribution a team reads to CHOOSE the
    sessionization gap threshold instead of cargo-culting 30 minutes:
    the session boundary belongs in the valley past p99 of within-user
    gaps. Gaps are exact integer seconds and the percentiles use the
    histogram method with integer cross-multiplied ranks (the
    corpus_length_percentiles pattern), so every statistic is
    bit-identical across engines.

    Scale shape: one user-keyed window exchange for lag() (the same
    partitioning sessionize itself uses), then the gap stream reduces
    map-side to a (gap, count) histogram bounded by distinct gap values
    and the cumulative walk runs over that bounded histogram only.
    """
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gaps = (
        ev.select(
            (
                F.col("ts").cast("long") - F.lag(F.col("ts").cast("long")).over(w)
            ).alias("gap_s")
        )
        .where(F.col("gap_s").isNotNull())
    )
    h = gaps.groupBy("gap_s").agg(F.count(F.lit(1)).alias("c"))
    h = h.withColumn(
        "cum_c", F.sum("c").over(Window.orderBy("gap_s")).cast("long")
    )
    tot = h.agg(F.sum("c").cast("long").alias("total"))
    cum = h.crossJoin(F.broadcast(tot))

    def pick(cond):
        return F.min(F.when(cond, F.col("gap_s"))).cast("long")

    total = F.col("total")
    return cum.groupBy().agg(
        F.max("total").cast("long").alias("n_gaps"),
        pick(F.col("cum_c") * 2 >= total).alias("p50_s"),
        pick(F.col("cum_c") * 10 >= total * 9).alias("p90_s"),
        pick(F.col("cum_c") * 100 >= total * 99).alias("p99_s"),
        F.max("gap_s").cast("long").alias("max_s"),
    )


_HEAPS_POINTS = 8

_HEAPS_ORACLE = f"""
WITH t AS (
  SELECT doc_id, {_WS_TOKS} AS ws FROM documents
),
g AS (
  SELECT doc_id,
         unnest(list_transform(generate_series(1, len(ws) - 2),
                i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS tg
  FROM t WHERE len(ws) >= 3
),
mx AS (SELECT CAST(max(doc_id) AS BIGINT) AS mxid FROM g),
first_occ AS (
  SELECT tg, CAST(min(doc_id) AS BIGINT) AS fd FROM g GROUP BY tg
),
per_doc AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tg FROM g GROUP BY doc_id
),
pts AS (
  SELECT k,
         (SELECT CAST(sum(n_tg) AS BIGINT) FROM per_doc, mx
          WHERE doc_id <= (mxid * k) // {_HEAPS_POINTS}) AS n_tokens,
         (SELECT CAST(count(*) AS BIGINT) FROM first_occ, mx
          WHERE fd <= (mxid * k) // {_HEAPS_POINTS}) AS v_types
  FROM generate_series(1, {_HEAPS_POINTS}) AS s(k)
),
l AS (
  -- prefix points with zero tokens/types (tiny corpora whose first
  -- doc_id fraction holds no >=3-token doc) are dropped on BOTH
  -- engines: DuckDB would raise on ln(0) where Spark yields NULL
  SELECT ln(CAST(n_tokens AS DOUBLE)) AS x, ln(CAST(v_types AS DOUBLE)) AS y
  FROM pts
  WHERE coalesce(n_tokens, 0) > 0 AND coalesce(v_types, 0) > 0
),
s AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(x) AS DOUBLE) AS sx, CAST(sum(y) AS DOUBLE) AS sy,
         CAST(sum(x*x) AS DOUBLE) AS sxx, CAST(sum(y*y) AS DOUBLE) AS syy,
         CAST(sum(x*y) AS DOUBLE) AS sxy
  FROM l
)
SELECT n AS n_points,
       (SELECT CAST(max(n_tokens) AS BIGINT) FROM pts) AS n_tokens_full,
       (SELECT CAST(max(v_types) AS BIGINT) FROM pts) AS v_types_full,
       round((n*sxy - sx*sy) / (n*sxx - sx*sx), 6) AS heaps_beta,
       round((sy - ((n*sxy - sx*sy) / (n*sxx - sx*sx)) * sx) / n, 6) AS heaps_logk,
       round(((n*sxy - sx*sy) * (n*sxy - sx*sy))
             / ((n*sxx - sx*sx) * (n*syy - sy*sy)), 6) AS r2
FROM s
"""


@query("corpus_heaps_fit", oracle=_HEAPS_ORACLE)
def corpus_heaps_fit(spark, sf_dir):
    """Heaps'-law vocabulary-growth fit over word-3-gram types:
    V(N) = k·N^β estimated by closed-form least squares on 8 exact
    corpus-prefix points — the companion diagnostic to text_zipf_fit
    (natural language grows β≈0.5-0.7; a saturating β→0 means the
    corpus is template/vocabulary-bounded, a β→1 means near-total
    novelty, e.g. serial numbers). Prefixes are doc_id thresholds at
    exact integer fractions of max(doc_id).

    The scale trick: vocabulary growth needs NO cumulative pass over
    the corpus — V(T) is just a conditional count over each type's
    FIRST-OCCURRENCE doc (one type-keyed min aggregate, vocab-bounded
    forever after) and N(T) a conditional sum over per-doc counts
    (doc-bounded). Both engines fit identical normal equations on ln()
    of exact integers, rounded only in the output row.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", T.tokens(F.col("text")).alias("ws")).filter(
        F.size("ws") >= 3
    )
    # NON-distinct trigram occurrences (unlike T.word_shingles' distinct
    # sets): Heaps' N(T) counts every occurrence, V(T) every type
    g = toks.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.size("ws") - 3),
                lambda i: F.concat_ws(
                    " ",
                    F.element_at("ws", i + 1),
                    F.element_at("ws", i + 2),
                    F.element_at("ws", i + 3),
                ),
            )
        ).alias("tg"),
    )
    g = stage_cache(g)
    mxid = g.agg(F.max("doc_id").cast("long").alias("mxid"))
    first_occ = g.groupBy("tg").agg(F.min("doc_id").cast("long").alias("fd"))
    per_doc = g.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_tg"))
    ks = list(range(1, _HEAPS_POINTS + 1))
    v_aggs = first_occ.crossJoin(F.broadcast(mxid)).agg(
        *[
            F.count(
                F.when(
                    F.col("fd") <= F.expr(f"(mxid * {k}) div {_HEAPS_POINTS}"), 1
                )
            ).cast("long").alias(f"v{k}")
            for k in ks
        ]
    )
    n_aggs = per_doc.crossJoin(F.broadcast(mxid)).agg(
        *[
            F.sum(
                F.when(
                    F.col("doc_id") <= F.expr(f"(mxid * {k}) div {_HEAPS_POINTS}"),
                    F.col("n_tg"),
                )
            ).cast("long").alias(f"n{k}")
            for k in ks
        ]
    )
    wide = v_aggs.crossJoin(F.broadcast(n_aggs))
    pts = wide.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.log(F.col(f"n{k}").cast("double")).alias("x"),
                        F.log(F.col(f"v{k}").cast("double")).alias("y"),
                        F.col(f"n{k}").alias("nt"),
                        F.col(f"v{k}").alias("vt"),
                    )
                    for k in ks
                ]
            )
        ).alias("p")
    ).select("p.x", "p.y", "p.nt", "p.vt")
    # mirror the oracle's zero-point guard: drop prefix points with no
    # tokens/types instead of letting log(0)→NULL skew the sums
    pts = pts.filter(
        (F.coalesce(F.col("nt"), F.lit(0)) > 0)
        & (F.coalesce(F.col("vt"), F.lit(0)) > 0)
    )
    s = pts.agg(
        F.count(F.lit(1)).alias("n"),
        F.max("nt").cast("long").alias("n_tokens_full"),
        F.max("vt").cast("long").alias("v_types_full"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    slope = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    return s.select(
        F.col("n").alias("n_points"),
        "n_tokens_full",
        "v_types_full",
        F.round(slope, 6).alias("heaps_beta"),
        F.round((F.col("sy") - slope * F.col("sx")) / F.col("n"), 6).alias(
            "heaps_logk"
        ),
        F.round(
            (
                (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
                * (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
            )
            / (
                (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
                * (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy"))
            ),
            6,
        ).alias("r2"),
    )


_BLOOM_PROBES = ("query", "vector", "zzz_absent", "table", "nonsense_tok")

_BLOOM_ORACLE = f"""
WITH tok AS (
  SELECT DISTINCT unnest({_WS_TOKS}) AS token FROM documents
),
bits AS (
  SELECT DISTINCT bit FROM (
    SELECT CAST(concat('0x', substr(md5(token), 1, 8)) AS BIGINT) % {_BLOOM_M} AS bit FROM tok
    UNION
    SELECT CAST(concat('0x', substr(md5(token), 9, 8)) AS BIGINT) % {_BLOOM_M} AS bit FROM tok
  )
),
fill AS (SELECT CAST(count(*) AS BIGINT) AS n_set FROM bits),
probes AS (
  SELECT p.token,
         CAST(
           EXISTS (SELECT 1 FROM bits WHERE bit =
             CAST(concat('0x', substr(md5(p.token), 1, 8)) AS BIGINT) % {_BLOOM_M})
           AND EXISTS (SELECT 1 FROM bits WHERE bit =
             CAST(concat('0x', substr(md5(p.token), 9, 8)) AS BIGINT) % {_BLOOM_M})
         AS INT) AS maybe_member,
         CAST(EXISTS (SELECT 1 FROM tok t WHERE t.token = p.token) AS INT)
           AS truly_member
  FROM (VALUES {", ".join(f"('{p}')" for p in _BLOOM_PROBES)}) AS p(token)
)
SELECT pr.token, pr.maybe_member, pr.truly_member,
       f.n_set AS bits_set,
       (f.n_set * 1000000) // {_BLOOM_M} AS fill_ppm
FROM probes pr CROSS JOIN fill f
ORDER BY pr.token
"""


@query("sketch_bloom_tokens", oracle=_BLOOM_ORACLE)
def sketch_bloom_tokens(spark, sf_dir):
    """Bloom-filter membership sketch over the corpus vocabulary
    (m=256 bits, k=2 md5-derived hashes) probed with a fixed
    5-token list — the approximate-membership companion to the count-min
    (frequency) and HLL (cardinality) sketches: no false negatives
    (every truly_member token reads maybe_member=1), false positives at
    a rate set by the fill. The bit positions derive from two disjoint
    md5 substrings, so the filter — not just its summary — is
    bit-identical across engines, and the fill share is exact integer
    ppm.

    Scale shape (r12-opt, ONE corpus pass): the (token, bit) stream from
    the shared ``bloom_bit_stream`` kernel folds into a single global
    aggregate — ``collect_set(bit)`` (bounded by m=256 by construction,
    so the partial-aggregation state per task IS the production m-bit
    array, merged set-wise exactly like bit-OR) plus one conditional
    max flag per probe for ground truth. Probe hash positions are
    constant-folded literals tested against the collected set, so
    nothing token-keyed ever shuffles and the only exchange carries one
    ≤256-element row. The r11 form paid THREE corpus passes (a
    self-union for the two bit positions + a probe semi-join pass) and
    a persisted bit set; same rows out, bit-identical."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(F.explode(T.tokens(F.col("text"))).alias("token"))
    row = bloom_bit_stream(tok, keep_token=True).agg(
        F.collect_set("bit").alias("bset"),
        *[
            F.max(F.when(F.col("token") == p, 1)).alias(f"t{i}")
            for i, p in enumerate(_BLOOM_PROBES)
        ],
    )
    probe_structs = F.array(
        *[
            F.struct(
                F.lit(p).alias("token"),
                (
                    F.array_contains("bset", _bloom_bit(F.lit(p), 1))
                    & F.array_contains("bset", _bloom_bit(F.lit(p), 9))
                )
                .cast("int")
                .alias("maybe_member"),
                F.coalesce(F.col(f"t{i}"), F.lit(0))
                .cast("int")
                .alias("truly_member"),
            )
            for i, p in enumerate(_BLOOM_PROBES)
        ]
    )
    return (
        row.select(
            F.size("bset").cast("long").alias("n_set"),
            F.explode(probe_structs).alias("pr"),
        )
        .select(
            F.col("pr.token").alias("token"),
            F.col("pr.maybe_member").alias("maybe_member"),
            F.col("pr.truly_member").alias("truly_member"),
            F.col("n_set").alias("bits_set"),
            F.expr(f"(n_set * 1000000) div {_BLOOM_M}").alias("fill_ppm"),
        )
        .orderBy("token")
    )


_G5 = (
    "CASE WHEN len(ws) >= 5 THEN list_distinct(list_transform("
    "generate_series(1, len(ws) - 4), i -> "
    "ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3]"
    " || ' ' || ws[i+4])) ELSE [] END"
)

_CONTAMINATION_ORACLE = f"""
WITH d AS (
  SELECT doc_id, {_WS_TOKS} AS ws FROM documents
),
g5 AS (SELECT doc_id, {_G5} AS gs FROM d),
test AS (SELECT doc_id, gs FROM g5 WHERE doc_id % 17 = 0 AND len(gs) >= 1),
train_grams AS (
  SELECT DISTINCT unnest(gs) AS gram FROM g5 WHERE doc_id % 17 <> 0
),
tg AS (SELECT doc_id, unnest(gs) AS gram FROM test),
-- membership on the 60-bit md5 gram hash, not the gram string: the
-- exchanges carry 8-byte longs instead of ~30-byte 5-gram strings (the
-- engine does the same; both engines hash identically, so a collision —
-- P ~ 1e-9 — is counted the same on both sides)
shared AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_shared
  FROM tg WHERE CAST(concat('0x', substr(md5(gram), 1, 15)) AS BIGINT) IN (
    SELECT DISTINCT CAST(concat('0x', substr(md5(gram), 1, 15)) AS BIGINT)
    FROM train_grams
  )
  GROUP BY doc_id
)
SELECT t.doc_id,
       CAST(len(t.gs) AS BIGINT) AS n_grams,
       CAST(coalesce(s.n_shared, 0) AS BIGINT) AS n_shared,
       (CAST(coalesce(s.n_shared, 0) AS BIGINT) * 1000000)
         // CAST(len(t.gs) AS BIGINT) AS shared_ppm,
       CAST(CASE WHEN coalesce(s.n_shared, 0) > 0 THEN 1 ELSE 0 END AS INT)
         AS contaminated
FROM test t LEFT JOIN shared s USING (doc_id)
ORDER BY t.doc_id
"""


@query("sample_contamination_check", oracle=_CONTAMINATION_ORACLE)
def sample_contamination_check(spark, sf_dir):
    """Train/test contamination detection (the GPT-3-appendix
    decontamination pattern, Brown et al. 2020: benchmark examples whose
    n-grams appear in the training corpus poison evaluation): every
    held-out document (deterministic pseudo-split ``doc_id % 17 = 0``)
    is scored by how many of its distinct word-5-grams appear ANYWHERE
    in the training split — exact counts, integer-ppm share, and a
    contaminated flag per held-out doc. Real pipelines run exactly this
    before reporting benchmark numbers, with the benchmark set as the
    held-out side.

    Determinism contract: gram sets are distinct-by-construction
    (shingle helper), counts and the ppm share are exact integers,
    split membership is integer modulo — nothing floats.

    Scale shape: the train side reduces to its DISTINCT gram vocabulary
    (one gram-keyed partial-agg shuffle — the same wordcount shape every
    sketch op uses), then membership is a gram-keyed LEFT SEMI join of
    the (much smaller) held-out gram stream against it — linear in
    corpus size, never pairwise in documents. At 100 TB the benchmark
    side is tiny (thousands of eval docs), so the semi-join probes are
    broadcast-bounded while the train vocabulary never leaves its
    partitions.
    """
    docs = load_table(spark, sf_dir, "documents")
    g5 = docs.select(
        "doc_id",
        T.word_shingles(T.tokens(F.col("text")), 5).alias("gs"),
    ).transform(stage_cache)
    test = g5.filter((F.col("doc_id") % 17 == 0) & (F.size("gs") >= 1))
    # the vocabulary exchange and the membership join run on the 60-bit
    # md5 gram HASH (the KMV convention), not the gram string: 8-byte
    # longs instead of ~30-byte 5-grams through BOTH shuffles — the
    # round-8 ×30 point showed this operator is shuffle-throughput-bound
    # once the fixed overhead amortizes, and bytes are the knob. The
    # oracle hashes identically, so the astronomically rare collision
    # (P ~ 1e-9) is counted the same on both engines.
    gh = F.conv(F.substring(F.md5(F.col("gram")), 1, 15), 16, 10).cast("long")
    train_grams = (
        g5.filter(F.col("doc_id") % 17 != 0)
        .select(F.explode("gs").alias("gram"))
        .select(gh.alias("gh"))
        .distinct()
    )
    # the vocabulary's Catalyst estimate comes in DEFLATED (a distinct of
    # an exploded stream, sized from the input's compressed bytes) — at
    # ×100 the static planner broadcast an 80M-gram vocabulary and died.
    # Measured decision, with the large verdict PINNING the shuffle
    # family so the estimate cannot flip the semi-join back to broadcast.
    train_grams = MeasuredBuildSide(spark).build_side(
        train_grams, f"contam_vocab@{sf_dir}", pin_shuffle=True
    )
    tg = test.select("doc_id", F.explode("gs").alias("gram")).select(
        "doc_id", gh.alias("gh")
    )
    shared = (
        tg.join(train_grams, "gh", "left_semi")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared"))
    )
    return (
        test.select("doc_id", F.size("gs").cast("long").alias("n_grams"))
        .join(shared, "doc_id", "left")
        .select(
            "doc_id",
            "n_grams",
            F.coalesce(F.col("n_shared"), F.lit(0)).cast("long").alias(
                "n_shared"
            ),
            F.expr(
                "(CAST(coalesce(n_shared, 0) AS BIGINT) * 1000000)"
                " div n_grams"
            ).alias("shared_ppm"),
            (F.coalesce(F.col("n_shared"), F.lit(0)) > 0)
            .cast("int")
            .alias("contaminated"),
        )
        .orderBy("doc_id")
    )


_SPLIT_LEAKAGE_ORACLE = f"""{_MINHASH_PAIRS_CTE.replace("WITH d AS", "WITH RECURSIVE d AS", 1)},
pairs AS (SELECT doc_a, doc_b FROM verified WHERE j >= 0.3),
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION SELECT doc_b, doc_a FROM pairs
),
nodes AS (SELECT DISTINCT src AS node FROM edges),
reach(node, lbl) AS (
  SELECT node, node FROM nodes
  UNION
  SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.node
),
comp AS (SELECT node, min(lbl) AS component FROM reach GROUP BY node),
assigned AS (
  SELECT component,
         CASE WHEN CAST(concat('0x', substr(md5(CAST(node AS VARCHAR)), 1, 6))
                   AS BIGINT) % 100 < 60 THEN 'train'
              WHEN CAST(concat('0x', substr(md5(CAST(node AS VARCHAR)), 1, 6))
                   AS BIGINT) % 100 < 90 THEN 'valid'
              ELSE 'test' END AS split
  FROM comp
),
per_c AS (
  SELECT component,
         CAST(count(*) AS BIGINT) AS n_members,
         CAST(count(DISTINCT split) AS BIGINT) AS n_splits
  FROM assigned GROUP BY component
)
SELECT CAST(count(*) AS BIGINT) AS n_clusters,
       CAST(sum(CASE WHEN n_splits > 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_straddling,
       (CAST(sum(CASE WHEN n_splits > 1 THEN 1 ELSE 0 END) AS BIGINT)
         * 1000000) // CAST(count(*) AS BIGINT) AS straddle_ppm,
       CAST(sum(CASE WHEN n_splits > 1 THEN n_members ELSE 0 END) AS BIGINT)
         AS n_leaky_docs
FROM per_c
"""


@query("sample_split_leakage", oracle=_SPLIT_LEAKAGE_ORACLE)
def sample_split_leakage(spark, sf_dir):
    """Split-leakage audit: how many near-duplicate CLUSTERS straddle a
    train/valid/test boundary under naive PER-DOCUMENT hash routing —
    the number that justifies ``sample_split_assign``'s group-hash
    design (a cluster with members in both train and test leaks
    evaluation content into training even after within-split dedup).
    Composes the MinHash-LSH component labels (``dedup_components``)
    with the md5-bucket split rule applied per doc_id; reports cluster
    count, straddling clusters, their exact-integer ppm share, and the
    total documents inside leaky clusters.

    Scale shape: rides the components pipeline (salted band join +
    bounded label propagation), then ONE component-keyed partial-agg
    shuffle over the (clusters-only) label table and a single-row
    readout — nothing new at scale beyond what dedup_components already
    pays. The audit's answer at 100 TB is the go/no-go for shipping a
    split: a nonzero straddle count means re-route by leakage group.
    """
    labels = _duplicate_components(spark, sf_dir)
    bucket = (
        F.conv(
            F.substring(F.md5(F.col("node").cast("string")), 1, 6), 16, 10
        ).cast("long")
        % 100
    )
    split = (
        F.when(bucket < 60, "train").when(bucket < 90, "valid").otherwise("test")
    )
    per_c = (
        labels.select(F.col("lbl").alias("component"), split.alias("split"))
        .groupBy("component")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_members"),
            F.countDistinct("split").cast("long").alias("n_splits"),
        )
    )
    straddling = F.sum((F.col("n_splits") > 1).cast("long")).cast("long")
    return per_c.agg(
        F.count(F.lit(1)).cast("long").alias("n_clusters"),
        straddling.alias("n_straddling"),
        F.expr(
            "(CAST(sum(CASE WHEN n_splits > 1 THEN 1 ELSE 0 END) AS BIGINT)"
            " * 1000000) div count(*)"
        ).alias("straddle_ppm"),
        F.sum(
            F.when(F.col("n_splits") > 1, F.col("n_members")).otherwise(0)
        ).cast("long").alias("n_leaky_docs"),
    )


_DEDUP_CURVE_ORACLE = f"""{_MINHASH_PAIRS_CTE},
cont AS (
  SELECT CAST(len(list_intersect(x.sh, y.sh)) AS BIGINT) AS inter,
         CAST(len(x.sh) + len(y.sh) - len(list_intersect(x.sh, y.sh))
              AS BIGINT) AS un
  FROM cand JOIN dd x ON x.doc_id = doc_a JOIN dd y ON y.doc_id = doc_b
),
b AS (
  SELECT CASE WHEN inter = un THEN 9 ELSE (inter * 10) // un END AS decile
  FROM cont WHERE inter * 10 >= un * 3
)
SELECT CAST(decile AS BIGINT) AS jaccard_decile,
       CAST(count(*) AS BIGINT) AS n_pairs,
       CAST(sum(count(*)) OVER (ORDER BY decile DESC) AS BIGINT)
         AS pairs_at_or_above
FROM b GROUP BY decile ORDER BY decile
"""


@query("dedup_rate_curve", oracle=_DEDUP_CURVE_ORACLE)
def dedup_rate_curve(spark, sf_dir):
    """Dedup-threshold tuning curve: LSH-candidate pair counts per exact
    Jaccard DECILE plus the cumulative pairs-at-or-above count — the
    curve a pipeline reads to pick its near-dup threshold (0.8 for
    conservative, 0.5 aggressive; the knee is corpus-specific). Deciles
    come from EXACT integer cross-multiplication ((inter*10) div union,
    with the j=1.0 edge folded into the top decile), never from
    float-bucketing a ratio whose last ulp differs across engines.

    Scale shape: rides the MinHash-LSH candidate stream
    (``_lsh_candidates`` — salted band equi-join, colliding pairs only),
    then one 7-row aggregate; the cumulative readout is a window over
    the decile table, not the pair stream.
    """
    cand = _lsh_candidates(spark, sf_dir)
    inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("long")
    un = (
        F.size("sh_a") + F.size("sh_b")
        - F.size(F.array_intersect("sh_a", "sh_b"))
    ).cast("long")
    b = (
        cand.select(inter.alias("inter"), un.alias("un"))
        .filter(F.col("inter") * 10 >= F.col("un") * 3)
        .select(
            F.when(F.col("inter") == F.col("un"), F.lit(9))
            .otherwise(F.expr("(inter * 10) div un"))
            .cast("long")
            .alias("jaccard_decile")
        )
    )
    per = b.groupBy("jaccard_decile").agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs")
    )
    w = Window.orderBy(F.desc("jaccard_decile")).rangeBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return per.select(
        "jaccard_decile",
        "n_pairs",
        F.sum("n_pairs").over(w).cast("long").alias("pairs_at_or_above"),
    ).orderBy("jaccard_decile")


_SEASONALITY_ORACLE = """
WITH e AS (
  SELECT isodow(ts) - 1 AS dow, hour(ts) AS hod FROM events
),
cells AS (
  SELECT dow, hod, CAST(count(*) AS BIGINT) AS n_events
  FROM e GROUP BY dow, hod
)
SELECT CAST(dow AS BIGINT) AS dow, CAST(hod AS BIGINT) AS hod, n_events,
       (n_events * 1000000) // (SELECT CAST(count(*) AS BIGINT) FROM events)
         AS share_ppm
FROM cells ORDER BY dow, hod
"""


@query("events_seasonality_profile", oracle=_SEASONALITY_ORACLE)
def events_seasonality_profile(spark, sf_dir):
    """Weekly seasonality heat-map: event volume per (day-of-week,
    hour-of-day) cell with exact-integer ppm shares — the load profile
    behind capacity planning, anomaly baselines (events_anomaly_zscore
    normalizes against it at scale), and bot detection (human traffic
    has a diurnal shape; uniform cells scream automation). Day-of-week
    is Monday=0 on both engines (Spark ``weekday()`` == DuckDB
    ``isodow()-1`` — Spark's ``dayofweek`` and DuckDB's ``dayofweek``
    disagree on the week start, the cross-engine trap this entry pins).

    Scale shape: map-only (dow, hod) projection into a partial-agg
    shuffle bounded at 168 cells forever; the total broadcasts from a
    1-row aggregate. Nothing grows with the corpus but the map side.
    """
    ev = load_table(spark, sf_dir, "events")
    cells = (
        ev.select(
            F.weekday("ts").cast("long").alias("dow"),
            F.hour("ts").cast("long").alias("hod"),
        )
        .groupBy("dow", "hod")
        .agg(F.count(F.lit(1)).cast("long").alias("n_events"))
    )
    total = ev.agg(F.count(F.lit(1)).cast("long").alias("total"))
    return (
        cells.crossJoin(F.broadcast(total))
        .select(
            "dow",
            "hod",
            "n_events",
            F.expr("(n_events * 1000000) div total").alias("share_ppm"),
        )
        .orderBy("dow", "hod")
    )


_DIM_HEALTH_ORACLE = f"""
WITH q AS (SELECT {_QUANT} AS qv FROM embeddings),
d AS (
  SELECT unnest(generate_series(1, 64)) AS dim, qv FROM q
),
v AS (SELECT dim, qv[dim] AS val FROM d),
s AS (
  SELECT dim,
         CAST(count(*) AS BIGINT) AS n_vecs,
         CAST(sum(val) AS BIGINT) AS sum_q,
         CAST(sum(val * val) AS BIGINT) AS sumsq_q,
         CAST(min(val) AS BIGINT) AS min_q,
         CAST(max(val) AS BIGINT) AS max_q
  FROM v GROUP BY dim
)
SELECT CAST(dim AS BIGINT) AS dim, n_vecs, sum_q, sumsq_q, min_q, max_q,
       round(CAST(sum_q AS DOUBLE) / n_vecs, 6) AS mean_q,
       round(CAST(sumsq_q AS DOUBLE) / n_vecs
             - (CAST(sum_q AS DOUBLE) / n_vecs)
               * (CAST(sum_q AS DOUBLE) / n_vecs), 4) AS var_q
FROM s ORDER BY dim
"""


@query("emb_dim_health", oracle=_DIM_HEALTH_ORACLE)
def emb_dim_health(spark, sf_dir):
    """Per-dimension embedding health: exact integer moments (sum, sum
    of squares, min/max over the quantized values) plus derived mean and
    variance for each of the 64 dimensions — the "dead dimension"
    screen (variance ~ 0 means the dimension carries no signal;
    grossly unequal variances mean the space needs whitening before
    cosine ANN is trustworthy). Moment sums are exact BIGINT arithmetic
    over quantized integers, so the histogram is bit-identical across
    engines; mean/variance are single IEEE divisions of exact sums,
    rounded only in the output.

    Scale shape: posexplode is map-side (64 rows per vector, no data
    movement), then ONE dimension-keyed partial-agg shuffle bounded at
    64 groups forever — per-executor state is 64 accumulator rows no
    matter the corpus size.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.select(V.quantize(F.col("embedding")).alias("qv"))
    v = q.select(F.posexplode("qv").alias("pos", "val")).select(
        (F.col("pos") + 1).cast("long").alias("dim"),
        F.col("val").cast("long").alias("val"),
    )
    s = v.groupBy("dim").agg(
        F.count(F.lit(1)).cast("long").alias("n_vecs"),
        F.sum("val").cast("long").alias("sum_q"),
        F.sum(F.col("val") * F.col("val")).cast("long").alias("sumsq_q"),
        F.min("val").cast("long").alias("min_q"),
        F.max("val").cast("long").alias("max_q"),
    )
    mean = F.col("sum_q").cast("double") / F.col("n_vecs")
    return s.select(
        "dim",
        "n_vecs",
        "sum_q",
        "sumsq_q",
        "min_q",
        "max_q",
        F.round(mean, 6).alias("mean_q"),
        F.round(
            F.col("sumsq_q").cast("double") / F.col("n_vecs") - mean * mean, 4
        ).alias("var_q"),
    ).orderBy("dim")


_KMV_K = 16  #: sketch size; a power of two keeps matches/k dyadic-exact

_KMV_ORACLE = f"""
WITH tok AS (
  SELECT source, unnest({_WS_TOKS}) AS token FROM documents
),
hashed AS (
  -- DISTINCT on the hash, matching kmv_source_hashes' set semantics
  SELECT DISTINCT source,
         CAST(concat('0x', substr(md5(token), 1, 15)) AS BIGINT) AS th
  FROM tok
),
sk AS (
  SELECT source, th FROM (
    SELECT source, th,
           row_number() OVER (PARTITION BY source ORDER BY th) AS rn
    FROM hashed)
  WHERE rn <= {_KMV_K}
),
stats AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_sk, max(th) AS vk
  FROM sk GROUP BY source
),
est AS (
  SELECT source,
         CASE WHEN n_sk < {_KMV_K} THEN CAST(n_sk AS DOUBLE)
              ELSE ({_KMV_K} - 1) * 1152921504606846976.0 / vk END AS est_d
  FROM stats
),
mem AS (
  SELECT least(s.source, o.source) AS src_a,
         greatest(s.source, o.source) AS src_b,
         s.source AS source, s.th
  FROM sk s CROSS JOIN (SELECT DISTINCT source FROM hashed) o(source)
  WHERE s.source <> o.source
),
g AS (
  SELECT src_a, src_b, th,
         max(CASE WHEN source = src_a THEN 1 ELSE 0 END) AS in_a,
         max(CASE WHEN source = src_b THEN 1 ELSE 0 END) AS in_b
  FROM mem GROUP BY 1, 2, 3
),
usk AS (
  SELECT src_a, src_b, th, in_a, in_b,
         row_number() OVER (PARTITION BY src_a, src_b ORDER BY th) AS rn
  FROM g
),
pstats AS (
  SELECT src_a, src_b,
         CAST(count(*) AS BIGINT) AS n_union_sketch,
         max(th) AS uvk,
         CAST(sum(in_a * in_b) AS BIGINT) AS matches
  FROM usk WHERE rn <= {_KMV_K} GROUP BY 1, 2
),
pe AS (
  SELECT src_a, src_b, n_union_sketch, matches,
         CASE WHEN n_union_sketch < {_KMV_K}
              THEN CAST(n_union_sketch AS DOUBLE)
              ELSE ({_KMV_K} - 1) * 1152921504606846976.0 / uvk END AS est_u
  FROM pstats
),
exact AS (
  SELECT a.source AS src_a, b.source AS src_b,
         CAST(count(*) AS BIGINT) AS exact_overlap
  FROM hashed a JOIN hashed b ON a.th = b.th AND a.source < b.source
  GROUP BY 1, 2
)
SELECT p.src_a, p.src_b, p.n_union_sketch, p.matches,
       (p.matches * 1000000) // p.n_union_sketch AS jaccard_ppm,
       round(ea.est_d, 2) AS est_a,
       round(eb.est_d, 2) AS est_b,
       round(p.est_u, 2) AS est_union,
       round(p.est_u * p.matches / p.n_union_sketch, 2) AS est_overlap,
       CAST(coalesce(x.exact_overlap, 0) AS BIGINT) AS exact_overlap
FROM pe p
JOIN est ea ON ea.source = p.src_a
JOIN est eb ON eb.source = p.src_b
LEFT JOIN exact x ON x.src_a = p.src_a AND x.src_b = p.src_b
ORDER BY p.src_a, p.src_b
"""


def kmv_source_hashes(docs: DataFrame) -> DataFrame:
    """(source, th) DISTINCT 60-bit md5 token hashes per source — the
    shared kernel of ``sketch_kmv_source_overlap`` and the incremental
    sketch maintainer (``streaming.sketches.StreamingKmvSketch``): one
    definition, so the batch sketch and the streamed sketch cannot
    drift. Distinctness is on the HASH, not the token: the streaming
    merge must dedupe (source, th) for replay idempotence, so the batch
    kernel shares exactly that set semantics (two tokens colliding on
    60 bits — P ≈ 4e-9 at a 10^5 vocabulary — count once on BOTH
    surfaces). One exchange: hashing happens before the single distinct,
    instead of a token-level distinct followed by a second hash-level
    one."""
    th = F.conv(F.substring(F.md5(F.col("token")), 1, 15), 16, 10).cast("long")
    return (
        docs.select("source", F.explode(T.tokens(F.col("text"))).alias("token"))
        .select("source", th.alias("th"))
        .distinct()
    )


def kmv_bottom_k(hashed: DataFrame, k: int = _KMV_K) -> DataFrame:
    """Per-source bottom-k of (source, th) — the KMV sketch itself. The
    rank-filtered window executes as WindowGroupLimit (partial per input
    partition before the exchange). bottom-k over a union of inputs is
    associative, commutative, and idempotent, which is exactly the merge
    the incremental maintainer replays per micro-batch."""
    w = Window.partitionBy("source").orderBy("th")
    return (
        hashed.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .drop("rn")
    )


@query("sketch_kmv_source_overlap", oracle=_KMV_ORACLE)
def sketch_kmv_source_overlap(spark, sf_dir):
    """KMV (bottom-k / theta) sketch set operations across sources: for
    every unordered source pair, estimate the vocabulary overlap from
    k=16-minimum-value sketches alone — distinct estimate per source
    ((k-1)/v_k, Bar-Yossef et al. RANDOM 2002), union estimate from the
    combined sketch, Jaccard from the match share inside the union
    sketch, and the intersection as their product (the multiset-
    operation synopsis of Beyer et al. SIGMOD 2007). This is the
    capability HLL does NOT have — HLL registers estimate one set's
    cardinality; KMV sketches COMPOSE under union/intersection, which is
    what a corpus team needs to size cross-snapshot vocabulary overlap
    without a distinct-join. The exact overlap rides along as the
    accuracy gauge (same pattern as ``sketch_hll_distinct_tokens``; a
    production caller drops the exact companion and keeps only
    sketch-space arithmetic).

    Determinism: hashes are the shared 60-bit md5 idiom, estimates are
    single IEEE divisions of exact integers rounded only in the output,
    and the Jaccard share is exact integer ppm over the union-sketch
    count (k is a power of two, and the full-sketch case divides by a
    dyadic denominator).

    Scale shape: the per-source bottom-k is a rank-filtered window that
    Spark executes as WindowGroupLimit — PARTIAL per input partition
    before the exchange, which is precisely the sketch's mergeability
    realized by the engine (each partition keeps its own k smallest,
    the final pass merges k-lists; the token stream itself shuffles
    once, token-distinct). Everything after lives in sketch space:
    S*k rows fanned out by a broadcast of the S-row source list (S =
    source count, never corpus size), window-limited per pair, and
    joined to the k-bounded per-source stats — at 100 TB the pairwise
    overlap matrix costs S*k*(S-1) tiny rows regardless of data volume.
    The exact-overlap gauge is the one corpus-sized step (a token-keyed
    equi-join), exactly what the sketch exists to replace."""
    hashed, estimates = _kmv_overlap_estimates(spark, sf_dir)
    exact = (
        hashed.select(F.col("source").alias("xa"), "th")
        .join(
            hashed.select(F.col("source").alias("xb"), F.col("th").alias("thb")),
            (F.col("th") == F.col("thb")) & (F.col("xa") < F.col("xb")),
        )
        .groupBy(F.col("xa"), F.col("xb"))
        .agg(F.count(F.lit(1)).cast("long").alias("x_overlap"))
    )
    return (
        estimates.join(
            F.broadcast(exact),
            (F.col("src_a") == F.col("xa")) & (F.col("src_b") == F.col("xb")),
            "left",
        )
        .select(
            *_KMV_EST_COLS,
            F.coalesce(F.col("x_overlap"), F.lit(0)).cast("long").alias(
                "exact_overlap"
            ),
        )
        .orderBy("src_a", "src_b")
    )


#: the estimate columns both KMV entries emit, in oracle order
_KMV_EST_COLS = (
    "src_a",
    "src_b",
    "n_union_sketch",
    "matches",
    "jaccard_ppm",
    "est_a",
    "est_b",
    "est_union",
    "est_overlap",
)


def _kmv_overlap_estimates(spark, sf_dir):
    """The sketch-space overlap pipeline shared by the gauge and
    production KMV entries: per-source bottom-k sketches, pairwise
    union sketches, and every estimate column — everything except the
    gauge's exact companion. Returns ``(hashed, estimates)`` so the
    gauge can build its exact join from the same cached hash frame."""
    docs = load_table(spark, sf_dir, "documents")
    hashed = kmv_source_hashes(docs).transform(stage_cache)
    sk = kmv_bottom_k(hashed, _KMV_K).transform(stage_cache)
    est_expr = F.when(
        F.col("n_sk") < _KMV_K, F.col("n_sk").cast("double")
    ).otherwise(F.lit(float(_KMV_K - 1)) * F.lit(2.0**60) / F.col("vk"))
    est = sk.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_sk"),
        F.max("th").alias("vk"),
    ).select("source", est_expr.alias("est_d"))
    other = hashed.select("source").distinct().select(
        F.col("source").alias("other")
    )
    mem = (
        sk.crossJoin(F.broadcast(other))
        .filter(F.col("source") != F.col("other"))
        .select(
            F.least("source", "other").alias("src_a"),
            F.greatest("source", "other").alias("src_b"),
            "source",
            "th",
        )
    )
    g = mem.groupBy("src_a", "src_b", "th").agg(
        F.max((F.col("source") == F.col("src_a")).cast("int")).alias("in_a"),
        F.max((F.col("source") == F.col("src_b")).cast("int")).alias("in_b"),
    )
    wu = Window.partitionBy("src_a", "src_b").orderBy("th")
    usk = g.withColumn("rn", F.row_number().over(wu)).filter(
        F.col("rn") <= _KMV_K
    )
    pstats = usk.groupBy("src_a", "src_b").agg(
        F.count(F.lit(1)).cast("long").alias("n_union_sketch"),
        F.max("th").alias("uvk"),
        F.sum(F.col("in_a") * F.col("in_b")).cast("long").alias("matches"),
    )
    est_u = F.when(
        F.col("n_union_sketch") < _KMV_K,
        F.col("n_union_sketch").cast("double"),
    ).otherwise(F.lit(float(_KMV_K - 1)) * F.lit(2.0**60) / F.col("uvk"))
    pe = pstats.select(
        "src_a", "src_b", "n_union_sketch", "matches", est_u.alias("est_u")
    )
    ea = est.select(F.col("source").alias("ea_src"), F.col("est_d").alias("ea_d"))
    eb = est.select(F.col("source").alias("eb_src"), F.col("est_d").alias("eb_d"))
    estimates = (
        pe.join(F.broadcast(ea), F.col("src_a") == F.col("ea_src"))
        .join(F.broadcast(eb), F.col("src_b") == F.col("eb_src"))
        .select(
            "src_a",
            "src_b",
            "n_union_sketch",
            "matches",
            F.expr("(matches * 1000000) div n_union_sketch").alias(
                "jaccard_ppm"
            ),
            F.round(F.col("ea_d"), 2).alias("est_a"),
            F.round(F.col("eb_d"), 2).alias("est_b"),
            F.round(F.col("est_u"), 2).alias("est_union"),
            F.round(
                F.col("est_u") * F.col("matches") / F.col("n_union_sketch"), 2
            ).alias("est_overlap"),
        )
    )
    return hashed, estimates


_KMV_ESTIMATE_ORACLE = f"""
WITH tok AS (
  SELECT source, unnest({_WS_TOKS}) AS token FROM documents
),
hashed AS (
  -- DISTINCT on the hash, matching kmv_source_hashes' set semantics
  SELECT DISTINCT source,
         CAST(concat('0x', substr(md5(token), 1, 15)) AS BIGINT) AS th
  FROM tok
),
sk AS (
  SELECT source, th FROM (
    SELECT source, th,
           row_number() OVER (PARTITION BY source ORDER BY th) AS rn
    FROM hashed)
  WHERE rn <= {_KMV_K}
),
stats AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_sk, max(th) AS vk
  FROM sk GROUP BY source
),
est AS (
  SELECT source,
         CASE WHEN n_sk < {_KMV_K} THEN CAST(n_sk AS DOUBLE)
              ELSE ({_KMV_K} - 1) * 1152921504606846976.0 / vk END AS est_d
  FROM stats
),
mem AS (
  SELECT least(s.source, o.source) AS src_a,
         greatest(s.source, o.source) AS src_b,
         s.source AS source, s.th
  FROM sk s CROSS JOIN (SELECT DISTINCT source FROM hashed) o(source)
  WHERE s.source <> o.source
),
g AS (
  SELECT src_a, src_b, th,
         max(CASE WHEN source = src_a THEN 1 ELSE 0 END) AS in_a,
         max(CASE WHEN source = src_b THEN 1 ELSE 0 END) AS in_b
  FROM mem GROUP BY 1, 2, 3
),
usk AS (
  SELECT src_a, src_b, th, in_a, in_b,
         row_number() OVER (PARTITION BY src_a, src_b ORDER BY th) AS rn
  FROM g
),
pstats AS (
  SELECT src_a, src_b,
         CAST(count(*) AS BIGINT) AS n_union_sketch,
         max(th) AS uvk,
         CAST(sum(in_a * in_b) AS BIGINT) AS matches
  FROM usk WHERE rn <= {_KMV_K} GROUP BY 1, 2
),
pe AS (
  SELECT src_a, src_b, n_union_sketch, matches,
         CASE WHEN n_union_sketch < {_KMV_K}
              THEN CAST(n_union_sketch AS DOUBLE)
              ELSE ({_KMV_K} - 1) * 1152921504606846976.0 / uvk END AS est_u
  FROM pstats
)
SELECT p.src_a, p.src_b, p.n_union_sketch, p.matches,
       (p.matches * 1000000) // p.n_union_sketch AS jaccard_ppm,
       round(ea.est_d, 2) AS est_a,
       round(eb.est_d, 2) AS est_b,
       round(p.est_u, 2) AS est_union,
       round(p.est_u * p.matches / p.n_union_sketch, 2) AS est_overlap
FROM pe p
JOIN est ea ON ea.source = p.src_a
JOIN est eb ON eb.source = p.src_b
ORDER BY p.src_a, p.src_b
"""


@query("sketch_kmv_estimate_only", oracle=_KMV_ESTIMATE_ORACLE)
def sketch_kmv_estimate_only(spark, sf_dir):
    """The production form of the KMV overlap matrix: every estimate of
    ``sketch_kmv_source_overlap`` WITHOUT the exact-overlap companion —
    and therefore provably no corpus-sized token equi-join anywhere in
    the plan (the gauge entry keeps the exact column for accuracy
    readout, same division of labor as ``sketch_hll_distinct_tokens``
    vs ``sketch_hll_estimate_only``). After the WindowGroupLimit
    bottom-k, every operator touches only sketch-space rows (S·k), so
    this is the form a 100-TB caller runs: the full pairwise vocabulary
    overlap matrix for the cost of one token-distinct pass plus
    metadata-sized arithmetic. A plan gate pins that this plan is
    strictly smaller than the gauge's (fewer exchanges — the exact
    join's shuffles are gone)."""
    _, estimates = _kmv_overlap_estimates(spark, sf_dir)
    return estimates.select(*_KMV_EST_COLS).orderBy("src_a", "src_b")


_PRIORITY_K = 3  #: docs kept per source
_POW60 = "1152921504606846976.0"  # 2^60, exactly representable

_PRIORITY_ORACLE = f"""
WITH d AS (
  SELECT source, doc_id,
         CAST(len({_WS_TOKS}) AS BIGINT) AS n_toks,
         CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
              AS BIGINT) AS th
  FROM documents
),
p AS (
  SELECT source, doc_id, n_toks,
         n_toks * {_POW60} / th AS priority
  FROM d WHERE th > 0
),
r AS (
  SELECT source, doc_id, n_toks, priority,
         row_number() OVER (
           PARTITION BY source ORDER BY priority DESC, doc_id
         ) AS rn
  FROM p
)
SELECT source, doc_id, n_toks, round(priority, 4) AS priority
FROM r WHERE rn <= {_PRIORITY_K}
ORDER BY source, doc_id
"""


@query("sample_priority_weighted", oracle=_PRIORITY_ORACLE)
def sample_priority_weighted(spark, sf_dir):
    """Priority sampling (Duffield, Lund & Thorup, JACM 2007): keep, per
    source, the k documents with the largest priority w/u — w the
    document's token count (longer docs carry more training signal), u a
    deterministic md5-uniform in (0,1]. Priority sampling is THE
    weighted without-replacement scheme with near-optimal variance for
    subset-sum estimation, and the deterministic-u variant makes the
    "random" subset reproducible across runs and engines — the property
    a training-data pipeline needs for auditable sampling decisions
    (complements the family: stratified = per-group uniform counts, DSIR
    = distribution matching, temperature mix = source rates; this is
    importance-weighted row SELECTION).

    Determinism: u derives from the 60-bit md5 of doc_id, so the
    priority w·2⁶⁰/u_int is one IEEE division of exact integers —
    identical on both engines — ordered under a doc_id tiebreak and
    rounded only in the output. The th>0 guard excludes the 2⁻⁶⁰
    zero-hash corner symmetrically rather than diverging on a division
    by zero.

    Scale shape: map-only weight/hash projection, then ONE source-keyed
    exchange whose rank cut runs as WindowGroupLimit (k per source per
    partition pre-exchange) — the same mergeable top-k execution as the
    KMV sketch; state is k rows per source forever."""
    docs = load_table(spark, sf_dir, "documents")
    th = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 15), 16, 10
    ).cast("long")
    d = docs.select(
        "source",
        "doc_id",
        F.size(T.tokens(F.col("text"))).cast("long").alias("n_toks"),
        th.alias("th"),
    ).filter(F.col("th") > 0)
    priority = F.col("n_toks") * F.lit(float(2**60)) / F.col("th")
    w = Window.partitionBy("source").orderBy(
        F.desc("priority"), F.asc("doc_id")
    )
    return (
        d.select("source", "doc_id", "n_toks", priority.alias("priority"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _PRIORITY_K)
        .select("source", "doc_id", "n_toks", F.round("priority", 4).alias("priority"))
        .orderBy("source", "doc_id")
    )
