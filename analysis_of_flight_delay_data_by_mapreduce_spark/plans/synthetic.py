"""Driver-facing query registry on the synthetic tables (TESTDATA.md).

Every implemented capability from SURVEY §2 (and the extension tier) is
registered here twice: a Spark plan ``(spark, sf_dir) -> DataFrame`` and —
whenever SQL can express it — an equivalent DuckDB oracle SQL string over
the same Parquet tables. The driver hash-compares the two at sf=0.01.

Determinism contract (what makes the hashes stable):
- all money/weight aggregates use the reference's round-then-sum shape —
  per-row ``ROUND()`` to exact int64, THEN sum — so group totals are
  bit-identical under any partitioning / accumulation order;
- final ratios are a single ``int64 / int64`` double division (one IEEE op,
  deterministic on both engines);
- raw SUM(double) over many rows is avoided in oracle-checked outputs
  (floating accumulation is order-dependent);
- every computed column is aliased identically in Spark and SQL.

Mapping of the reference's flight semantics onto the TPC-H-ish tables
(FIXTURES.md §4): ``lineitem`` stands in for the punctuality table
(group key ≙ ``l_suppkey``/``l_returnflag``, weight ≙ ``l_quantity``,
rate ≙ price/discount columns, A/D flag ≙ ``l_linestatus``), ``events``
stands in for the weblog (user ≙ ``user_id``, url ≙ ``event_type``,
date ≙ ``date(ts)``), ``documents.text`` for the word-count corpus.

Each oracle stage that several faces share is declared once and composed
into their SQL. The text-pipeline CTE chains (word tokens and 3-gram
shingles, self and increment pair counts with their Jaccard cuts, the
quality stage, the exact-fingerprint stage, the transitive closure) live
in the shared-fragment block after ``_WS_TOKENS_SQL``. A stage that two
faces share sits above the first of them: ``_COSINE_Q0_CTES``,
``_SESSION_GAP_CTES``, ``_INTERVAL_JOIN_ORACLE``, ``_AES_SAMPLE_ORACLE``.
Constants trained from the data (IVF centroids, PQ codebooks, BM25
statistics, BPE merges, DSIR log-ratios, label PCA, twin-rendered VALUES
oracles) are computed once per ``sf_dir`` by a ``functools.cache`` on
the function that computes them.
"""

from __future__ import annotations

import functools
import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import weighted_rounded, word_tokens, year_of_period
from ..operators.aggregates import (
    duplicate_within,
    pivoted_weighted_mean,
    ratio_threshold,
    token_counts,
    repeated_within,
)
from ..sources import read_parquet_table

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
# str, or a lazy renderer (sf_dir) -> str for oracles whose literals are
# derived from the data (e.g. IVF centroids trained on the table itself).
# Always read through render_oracle().
ORACLES: dict[str, str | Callable[[str], str]] = {}


def render_oracle(name: str, sf_dir: str) -> str:
    """The oracle SQL for ``name`` against the tables in ``sf_dir``.

    Most oracles are plain sf-independent strings; data-derived ones
    (registered as callables) render their engine-shared literals from
    the same parquet the query reads, so Spark and DuckDB receive
    byte-identical constants at any scale factor.
    """
    o = ORACLES[name]
    return o(sf_dir) if callable(o) else o


def register(name: str, oracle: str | Callable[[str], str] | None = None):
    def deco(fn: QueryFn) -> QueryFn:
        from functools import wraps

        from ..operators.cache import release_stale, set_scope

        @wraps(fn)
        def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
            # a driver session runs many queries back-to-back: free any
            # OTHER query's scoped_persist blocks before building. Same-
            # name rebuilds (bench iterations) keep theirs so canonical-
            # plan cache lookup can reuse them.
            release_stale(keep_scope=name)
            set_scope(name)
            return fn(spark, sf_dir)

        QUERIES[name] = wrapped
        if oracle is not None:
            ORACLES[name] = oracle
        return wrapped

    return deco


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return read_parquet_table(spark, sf_dir, name)


# ---------------------------------------------------------------------------
# Reference surface: Q1 Delay — pivoted weighted mean (SURVEY §2.6 Q1).
# lineitem mapping: airport ≙ l_suppkey, A/D flag ≙ l_linestatus ('O' is the
# match bucket, everything else the otherwise-bucket — reference §2.7.4),
# charter filter ≙ l_returnflag != 'R', flights ≙ l_quantity,
# avg delay ≙ l_extendedprice.
# ---------------------------------------------------------------------------
@register(
    "q1_delay",
    oracle="""
    SELECT l_suppkey,
           CASE WHEN SUM(CASE WHEN l_linestatus = 'O'
                              THEN CAST(ROUND(l_quantity) AS BIGINT) ELSE 0 END) <> 0
                THEN SUM(CASE WHEN l_linestatus = 'O'
                              THEN CAST(ROUND(l_quantity * l_extendedprice) AS BIGINT)
                              ELSE 0 END)
                     / CAST(SUM(CASE WHEN l_linestatus = 'O'
                                     THEN CAST(ROUND(l_quantity) AS BIGINT)
                                     ELSE 0 END) AS DOUBLE)
           END AS avg_open_price,
           CASE WHEN SUM(CASE WHEN l_linestatus <> 'O'
                              THEN CAST(ROUND(l_quantity) AS BIGINT) ELSE 0 END) <> 0
                THEN SUM(CASE WHEN l_linestatus <> 'O'
                              THEN CAST(ROUND(l_quantity * l_extendedprice) AS BIGINT)
                              ELSE 0 END)
                     / CAST(SUM(CASE WHEN l_linestatus <> 'O'
                                     THEN CAST(ROUND(l_quantity) AS BIGINT)
                                     ELSE 0 END) AS DOUBLE)
           END AS avg_closed_price
    FROM lineitem
    WHERE l_returnflag <> 'R' AND l_quantity <> 0
    GROUP BY l_suppkey
    """,
)
def q1_delay(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    src = li.filter((F.col("l_returnflag") != "R") & (F.col("l_quantity") != 0))
    return pivoted_weighted_mean(
        src,
        keys=["l_suppkey"],
        weight="l_quantity",
        value="l_extendedprice",
        flag="l_linestatus",
        match="O",
        out_match="avg_open_price",
        out_other="avg_closed_price",
    )


# ---------------------------------------------------------------------------
# Reference surface: Q2 Late — ratio-of-sums + HAVING threshold (§2.6 Q2).
# Mapping: (airline, year) ≙ (l_suppkey, 4-char prefix of ship date),
# departure filter ≙ l_linestatus = 'F', flights ≙ l_quantity, late-rate ≙
# 5.5 × (l_discount + l_tax)  (straddles the 0.5 threshold: ~300/700 groups
# kept at sf0.01, so the HAVING boundary is genuinely exercised).
# Per-row ROUND before summation, >= boundary, den>0 guard — §2.7.1/.5.
# ---------------------------------------------------------------------------
@register(
    "q2_late",
    oracle="""
    WITH src AS (
      SELECT l_suppkey,
             substr(CAST(l_shipdate AS VARCHAR), 1, 4) AS l_year,
             CAST(ROUND(l_quantity * ((l_discount + l_tax) * 5.5)) AS BIGINT) AS late,
             CAST(ROUND(l_quantity) AS BIGINT) AS flights
      FROM lineitem
      WHERE l_quantity <> 0 AND l_linestatus = 'F'
    )
    SELECT l_suppkey, l_year,
           SUM(late) / CAST(SUM(flights) AS DOUBLE) AS late_ratio
    FROM src
    GROUP BY l_suppkey, l_year
    HAVING SUM(flights) > 0
       AND SUM(late) / CAST(SUM(flights) AS DOUBLE) >= 0.5
    """,
)
def q2_late(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    src = (
        li.filter((F.col("l_quantity") != 0) & (F.col("l_linestatus") == "F"))
        .withColumn("l_year", year_of_period("l_shipdate"))
    )
    late_rate = (F.col("l_discount") + F.col("l_tax")) * F.lit(5.5)
    return ratio_threshold(
        src,
        keys=["l_suppkey", "l_year"],
        num=weighted_rounded(F.col("l_quantity"), late_rate),
        den=F.round(F.col("l_quantity"), 0).cast("long"),
        theta=0.5,
        out="late_ratio",
    )


# ---------------------------------------------------------------------------
# Reference surface: Q3 WordCount (§2.6 Q3) over documents.text.
# ---------------------------------------------------------------------------
@register(
    "q3_wordcount",
    oracle=r"""
    SELECT word, COUNT(*) AS cnt
    FROM (SELECT unnest(string_split_regex(text, '[ \t\n\x0b\f\r]+')) AS word FROM documents)
    WHERE word <> ''
    GROUP BY word
    """,
)
def q3_wordcount(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return token_counts(docs, "text", out="cnt")


# ---------------------------------------------------------------------------
# Reference surface: Q4 WebLog1 (§2.6 Q4) — repeated (user, url) visits.
# events mapping: username ≙ user_id, url ≙ event_type.
# ---------------------------------------------------------------------------
@register(
    "q4_repeat_visits",
    oracle="""
    SELECT user_id, event_type, COUNT(*) AS n
    FROM events
    GROUP BY user_id, event_type
    HAVING COUNT(*) >= 2
    """,
)
def q4_repeat_visits(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return repeated_within(ev, ["user_id", "event_type"], min_count=2)


# ---------------------------------------------------------------------------
# Reference surface: Q5 WebLog2 (§2.6 Q5) — same (user, url) on a repeated
# date: COUNT(*) > COUNT(DISTINCT date(ts)).
# ---------------------------------------------------------------------------
@register(
    "q5_dup_dates",
    oracle="""
    SELECT user_id, event_type,
           COUNT(*) AS n,
           COUNT(DISTINCT CAST(ts AS DATE)) AS n_distinct
    FROM events
    GROUP BY user_id, event_type
    HAVING COUNT(*) > COUNT(DISTINCT CAST(ts AS DATE))
    """,
)
def q5_dup_dates(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").withColumn("d", F.col("ts").cast("date"))
    return duplicate_within(ev, ["user_id", "event_type"], "d")


# ===========================================================================
# Extension tier (SURVEY §7.1 step 5): the LLM-training-data-pipeline
# operators, each designed for the 100 TB posture (no O(n²), no driver
# state, no Python UDFs outside the multimodal decode stubs).
# ===========================================================================

from ..operators import text as text_ops  # noqa: E402
from ..operators.dedup import (  # noqa: E402
    embedding_near_dup,
    exact_dedup,
    minhash_lsh_dedup,
    ngram_jaccard_pairs,
    simhash_near_dup,
)
from ..operators.multimodal import (  # noqa: E402
    attach_payload,
    attach_synthetic_bmp,
    attach_synthetic_gif,
    attach_synthetic_jpeg,
    attach_synthetic_png,
    decode_images,
)
from ..operators.similarity import (  # noqa: E402
    cosine_topk,
    cosine_topk_lsh,
    random_hyperplanes,
)
from ..streaming.windows import windowed_event_counts  # noqa: E402

# Shared SQL fragments, generated from the same constants the Spark
# operators use so the two sides cannot drift.
#
# Whitespace is the EXPLICIT Java \s class `[ \t\n\x0b\f\r]` everywhere
# (ADVICE r6): Spark's split(r"\s+") is Java semantics (has \x0b),
# DuckDB's RE2 \s is [\t\n\f\r ] (no \x0b), Python's \s is Unicode-wide
# — three different definitions. Every oracle regex and pyarrow twin in
# this repo spells the class out so a \x0b in a document tokenizes
# identically in engine, oracle, and trainer.
_WS_TOKENS_SQL = r"list_filter(string_split_regex({col}, '[ \t\n\x0b\f\r]+'), t -> t <> '')"
_EN_STOP_SQL = "[" + ", ".join(f"'{w}'" for w in text_ops.LANG_STOPWORDS["en"]) + "]"

# Shared DuckDB oracle stages. Each CTE chain that more than one oracle
# runs is declared once here and composed into those oracles; every
# caller fills a ``{field}`` with ``.format(...)``. A chain fixes its CTE
# names (toks, sh, sizes, inter, pairs, ...), so an oracle composing it
# must not define those names again.

# Normalized exact fingerprint (operators.text.fingerprint): md5 of the
# lower-cased, trimmed, whitespace-collapsed text.
_FP_MD5_SQL = r"md5(regexp_replace(trim(lower(text)), '[ \t\n\x0b\f\r]+', ' ', 'g'))"

# toks(doc_id, tk): the whitespace tokens of each row of ``{src}``.
_TOKS_CTE = f"""toks AS (
      SELECT doc_id,
             {_WS_TOKENS_SQL.format(col="text")} AS tk
      FROM {{src}}
    )"""

# toks, then sh(doc_id, s): each document's DISTINCT word 3-gram
# shingles (a document under 3 tokens is one shingle) — the shingle set
# of ngram_jaccard_pairs(shingle_k=3, mode="word").
_SHINGLE_CTES = (
    _TOKS_CTE
    + """, sh AS (
      SELECT DISTINCT doc_id,
             unnest(CASE WHEN len(tk) >= 3
                    THEN list_transform(range(1, len(tk)-1),
                         i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])
                    ELSE [array_to_string(tk, ' ')] END) AS s
      FROM toks
    )"""
)

# Over sh: shingle-set sizes and the shared-shingle count ``i`` of every
# self pair id_a < id_b; _JACCARD_CUT_SQL keeps the pairs whose Jaccard
# |A∩B| / (|A| + |B| - |A∩B|) reaches ``{threshold}``.
_SELF_PAIR_CTES = """sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
      FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )"""
_JACCARD_CUT_SQL = """FROM inter
    JOIN sizes sa ON id_a = sa.doc_id
    JOIN sizes sb ON id_b = sb.doc_id
    WHERE i / CAST(sa.sz + sb.sz - i AS DOUBLE) >= {threshold}"""

# shingles of ``{src}`` → pairs(id_a, id_b) at Jaccard >= ``{threshold}``.
_NEAR_PAIR_CTES = (
    _SHINGLE_CTES
    + ", "
    + _SELF_PAIR_CTES
    + """, pairs AS (
      SELECT id_a, id_b
      """
    + _JACCARD_CUT_SQL
    + """
    )"""
)

# Over sh: the increment (doc_id % 5 = 4, "today's crawl") matched
# against the history (every other doc): shared-shingle count ``i`` per
# (new nid, old oid); _INCREMENT_CUT_SQL is the Jaccard cut.
_INCREMENT_PAIR_CTES = """sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
    inter AS (
      SELECT n.doc_id AS nid, o.doc_id AS oid, count(*) AS i
      FROM sh n JOIN sh o ON n.s = o.s
      WHERE n.doc_id % 5 = 4 AND o.doc_id % 5 <> 4
      GROUP BY 1, 2
    )"""
_INCREMENT_CUT_SQL = """FROM inter
    JOIN sizes sn ON nid = sn.doc_id
    JOIN sizes so ON oid = so.doc_id
    WHERE i / CAST(sn.sz + so.sz - i AS DOUBLE) >= {threshold}"""

# Transitive closure of ``pairs`` (needs WITH RECURSIVE): comp(id,
# component) labels every paired id with the min id reachable from it.
_CLOSURE_CTES = """und AS (
      SELECT id_a AS a, id_b AS b FROM pairs
      UNION
      SELECT id_b, id_a FROM pairs
    ), reach(a, b) AS (
      SELECT a, b FROM und
      UNION
      SELECT r.a, u.b FROM reach r JOIN und u ON r.b = u.a
    ), comp AS (
      SELECT a AS id, LEAST(a, MIN(b)) AS component FROM reach GROUP BY a
    )"""

# C4/Gopher quality stage (operators.text.quality_score) over documents,
# carrying the columns ``{keep}``: feats holds the raw counts, scored the
# 6-dp quality. Per-row double arithmetic in the same operation order on
# both engines.
_QUALITY_FEATS_CTE = rf"""feats AS (
      SELECT {{keep}},
             length(text) AS n_chars,
             CAST(len({_WS_TOKENS_SQL.format(col="text")}) AS BIGINT) AS n_tokens,
             CAST(len(list_filter({_WS_TOKENS_SQL.format(col="text")},
                      t -> list_contains({_EN_STOP_SQL}, lower(t)))) AS BIGINT) AS n_stop,
             length(text) - length(regexp_replace(text, '[.,;:!?''"()]', '', 'g')) AS n_punct,
             length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS n_digit
      FROM documents
    )"""
_QUALITY_CTES = (
    _QUALITY_FEATS_CTE
    + """, scored AS (
      SELECT {keep},
             round(0.4 * least(CAST(n_tokens AS DOUBLE) / 64.0, 1.0)
                 + 0.3 * least(CASE WHEN n_tokens > 0
                        THEN CAST(n_stop AS DOUBLE) / CAST(n_tokens AS DOUBLE)
                        ELSE 0.0 END * 5.0, 1.0)
                 + 0.3 * (1.0 - least(CASE WHEN n_chars > 0
                        THEN CAST(n_punct AS DOUBLE) / CAST(n_chars AS DOUBLE)
                        ELSE 0.0 END * 10.0
                      + CASE WHEN n_chars > 0
                        THEN CAST(n_digit AS DOUBLE) / CAST(n_chars AS DOUBLE)
                        ELSE 0.0 END * 5.0, 1.0)),
               6) AS quality
      FROM feats
    )"""
)

# The corpus-prep exact stage over ``scored``: quality gate at 0.4
# (qual), fingerprint (fps, carrying ``cols``), one survivor per
# fingerprint (keep1, the ``keep1`` SELECT) and its rows (kept).
_MIN_ID_KEEP1 = "SELECT MIN(doc_id) AS doc_id FROM fps GROUP BY fp"


def _exact_fp_ctes(cols: str, keep1: str) -> str:
    kept = ", ".join(f"f.{c}" for c in cols.split(", "))
    return f"""qual AS (
      SELECT * FROM scored WHERE quality >= 0.4
    ), fps AS (
      SELECT {cols},
             {_FP_MD5_SQL} AS fp
      FROM qual
    ), keep1 AS (
      {keep1}
    ), kept AS (
      SELECT {kept} FROM fps f JOIN keep1 USING (doc_id)
    )"""


def _corpus_pair_ctes(cols: str, keep1: str) -> str:
    """The corpus_prepare* chain up to ``pairs``: quality → exact
    fingerprint dedup → word-3-gram Jaccard >= 0.5 pairs among the kept
    documents."""
    return (
        _QUALITY_CTES.format(keep="doc_id, text")
        + ", "
        + _exact_fp_ctes(cols, keep1)
        + ", "
        + _NEAR_PAIR_CTES.format(src="kept", threshold=0.5)
    )


def _planes_sql(planes: list[list[float]]) -> str:
    """Render seeded hyperplanes as a DuckDB nested-list literal.

    ``repr(float)`` emits the shortest string that round-trips the exact
    IEEE double, and DuckDB parses decimal literals to nearest-double, so
    the oracle sees bit-identical plane coefficients. This is what lets
    sign-bit LSH be fully hash-checked rather than rows-only: the buckets
    are a pure function of (data, planes), both engine-identical. Sign
    stability across summation orders (numpy matmul vs sequential
    list_sum) holds because the smallest |dot| on any testdata SF is
    ~2e-7 while the 64-term double summation-order noise is ~1e-14.
    """
    return (
        "["
        + ", ".join(
            "[" + ", ".join(repr(float(x)) for x in row) + "]" for row in planes
        )
        + "]"
    )


def _lsh_bucket_sql(vec_expr: str, n_bits: int, plane_offset_expr: str = "0") -> str:
    """DuckDB expression: sign-bit LSH bucket of ``vec_expr`` (a DOUBLE[]
    expression) against plane rows ``plane_offset_expr+1 ..
    plane_offset_expr+n_bits`` of the ``H`` literal from ``_planes_sql``
    (bit i set ⇔ dot(plane_i, v) ≥ 0 — same convention as
    ``operators.similarity.bucketize_hyperplane``)."""
    return f"""CAST(list_sum(list_transform(range(1, {n_bits + 1}),
      i -> CASE WHEN list_sum(list_transform(
                  list_zip(H[({plane_offset_expr}) + i], {vec_expr}),
                  p -> p[1] * p[2])) >= 0.0
           THEN 1 << (i - 1) ELSE 0 END)) AS BIGINT)"""


# ---------------------------------------------------------------------------
# Exact dedup via canonical fingerprint (md5 of lower+whitespace-collapsed
# text): one hash-groupBy shuffle, deterministic survivor (min id).
# ---------------------------------------------------------------------------
@register(
    "dedup_exact",
    oracle=f"""
    SELECT {_FP_MD5_SQL} AS fp,
           min(doc_id) AS doc_id
    FROM documents
    GROUP BY 1
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = text_ops.fingerprint(_t(spark, sf_dir, "documents"))
    return exact_dedup(docs, ["fp"], "doc_id")


# ---------------------------------------------------------------------------
# Exact n-gram Jaccard near-dup pairs (word 3-shingles, threshold 0.3).
# Word shingles, not char-grams: this corpus has a ~40-word vocabulary, so
# char-5-grams are shared by most documents and the inverted-index join
# degenerates toward n² (measured: >10 min at sf0.1); word trigrams have
# max doc-freq 25 there, and the same join finishes in seconds. Survivors
# are true near-dups (256 pairs at sf0.1, incl. exact dups with j=1.0).
# ---------------------------------------------------------------------------
@register(
    "dedup_ngram_jaccard",
    oracle=f"""
    WITH {_SHINGLE_CTES.format(src="documents")}, {_SELF_PAIR_CTES}
    SELECT id_a, id_b,
           i / CAST(sa.sz + sb.sz - i AS DOUBLE) AS jaccard
    {_JACCARD_CUT_SQL.format(threshold=0.3)}
    """,
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Naive inverted-index join: optimal here because word trigrams are
    # discriminative (max df 25 at sf0.1 → light postings). The exact
    # PPJoin prefix_filter option exists for heavy-postings corpora
    # (equality to naive proven in tests/test_dedup.py) but measures 5-8×
    # slower on this data — pruning can't beat an already-cheap join.
    docs = _t(spark, sf_dir, "documents")
    return ngram_jaccard_pairs(
        docs, "doc_id", "text", shingle_k=3, mode="word", threshold=0.3
    )


# ---------------------------------------------------------------------------
# MinHash + banded LSH near-dup candidates, verified with exact Jaccard.
# r11: converted rows-only → FULL hash check. The hash family is
# engine-specific (xxhash64), so the oracle renders the pair set from
# the operators/dedup_twin.py pyarrow+numpy twin — a step-for-step
# replica of the Spark pipeline on a bit-exact XXH64 implementation
# (public spec; Spark-parity pinned in pytest against live F.xxhash64).
# NOT the exact-pairwise-Jaccard oracle: that would depend on LSH recall
# being exactly 1 at every SF, which the 1-(1-j^r)^b S-curve only gives
# probabilistically — the twin replicates the banding itself, so the
# oracle is exact by construction at any SF. Recall vs the exact pair
# set stays pinned by dedup_minhash_recall_check below.
# ---------------------------------------------------------------------------
@functools.cache
def _dedup_minhash_oracle(sf_dir: str) -> str:
    from ..operators.dedup_twin import minhash_lsh_pairs_parquet

    pairs = minhash_lsh_pairs_parquet(sf_dir)
    if pairs:
        values = ", ".join(f"({a}, {b})" for a, b in pairs)
        return f"""
        SELECT CAST(v.a AS BIGINT) AS id_a, CAST(v.b AS BIGINT) AS id_b
        FROM (VALUES {values}) v(a, b)
        """
    return """
    SELECT CAST(NULL AS BIGINT) AS id_a, CAST(NULL AS BIGINT) AS id_b
    WHERE FALSE
    """


@functools.cache
def _dedup_simhash_oracle(sf_dir: str) -> str:
    from ..operators.dedup_twin import simhash_pairs_parquet

    triples = simhash_pairs_parquet(sf_dir)
    if triples:
        values = ", ".join(f"({a}, {b}, {h})" for a, b, h in triples)
        return f"""
        SELECT CAST(v.a AS BIGINT) AS id_a, CAST(v.b AS BIGINT) AS id_b,
               CAST(v.h AS INT) AS hamming
        FROM (VALUES {values}) v(a, b, h)
        """
    return """
    SELECT CAST(NULL AS BIGINT) AS id_a, CAST(NULL AS BIGINT) AS id_b,
           CAST(NULL AS INT) AS hamming
    WHERE FALSE
    """


@register("dedup_minhash", oracle=_dedup_minhash_oracle)
def dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return minhash_lsh_dedup(
        docs,
        "doc_id",
        "text",
        num_hashes=32,
        bands=8,
        shingle_k=3,
        mode="word",
        verify_jaccard=0.3,
    )


# ---------------------------------------------------------------------------
# Driver-checkable face of the MinHash-LSH dedup (the sketch-tolerance
# pattern of events_value_quantile_check, VERDICT r3 item 6): one row with
# the EXACT number of j>=0.3 near-dup pairs (DuckDB replicates it from the
# shingle inverted index) plus a recall boolean the oracle asserts TRUE.
# The verified LSH output is a subset of the exact pair set by
# construction (every emitted pair passed the exact-Jaccard verify), so
# recall = |lsh| / |exact|. Floor 0.95: the 1-(1-j^r)^b S-curve at the
# corpus's near-dup operating point (j→1, r=4, b=8) is ≈1, and pytest pins
# strict set-equality at sf0.001; 0.95 leaves room for hash-family
# coin-flips on borderline-j pairs at other SFs without weakening the
# drift signal (a banding/signature bug collapses recall far below 0.95).
# ---------------------------------------------------------------------------
@register(
    "dedup_minhash_recall_check",
    oracle=f"""
    WITH {_SHINGLE_CTES.format(src="documents")}, {_SELF_PAIR_CTES}
    SELECT CAST(COUNT(*) AS BIGINT) AS n_exact, TRUE AS recall_ok
    {_JACCARD_CUT_SQL.format(threshold=0.3)}
    """,
)
def dedup_minhash_recall_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    lsh = minhash_lsh_dedup(
        docs,
        "doc_id",
        "text",
        num_hashes=32,
        bands=8,
        shingle_k=3,
        mode="word",
        verify_jaccard=0.3,
    )
    exact = ngram_jaccard_pairs(
        docs, "doc_id", "text", shingle_k=3, mode="word", threshold=0.3
    )
    n_lsh = lsh.agg(F.count(F.lit(1)).alias("n_lsh"))
    n_exact = exact.agg(F.count(F.lit(1)).alias("n_exact"))
    # two 1-row aggregates — the join is a broadcast of single rows
    return n_exact.join(F.broadcast(n_lsh)).select(
        "n_exact",
        (F.col("n_lsh") >= F.ceil(F.lit(0.95) * F.col("n_exact"))).alias(
            "recall_ok"
        ),
    )


# ---------------------------------------------------------------------------
# SimHash near-dup candidates (64-bit fingerprint, 16-bit bands → hamming≤3
# by pigeonhole). r11: rows-only → FULL hash check via the dedup_twin
# XXH64 replica (same move as dedup_minhash above — fingerprint bit
# votes, banding, hot-bucket cap and the bit_count verify all recomputed
# outside Spark and rendered as VALUES literals).
# ---------------------------------------------------------------------------
@register("dedup_simhash", oracle=_dedup_simhash_oracle)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return simhash_near_dup(docs, "doc_id", "text")


# ---------------------------------------------------------------------------
# Driver-checkable face of the SimHash near-dup (VERDICT r3 item 6 pattern;
# since r11 dedup_simhash itself is ALSO hash-checked via the xxh64 twin —
# this face stays as the independent structural audit): the banding CONTRACT — "banded candidates + bit_count verify emit exactly
# the hamming≤3 pair set" (pigeonhole over 4×16-bit bands) — is asserted
# here on a deterministic 1-in-3 doc sample: Spark computes the banded
# pairs AND the brute-force O(s²) pair set over the sampled fingerprints
# and emits a boolean the oracle asserts TRUE, next to an oracle-replicable
# sample count (the differential anchor). The brute side is the AUDIT, not
# the operator: it broadcast-nested-loops s(s-1)/2 fingerprint pairs, so
# the sample bound (not the corpus) bounds it: the id-cap keeps the audit
# ≤ ~33k docs no matter how large the table grows (no-op at test SFs where
# max doc_id is 4999), so the brute side stays broadcastable while the
# banded operator stays the production path.
# max_bucket=None on both sides: the skew cap is deliberately out of scope
# (capped banding is allowed to drop hot-bucket pairs; the pigeonhole
# equality being audited holds for the uncapped contract).
# ---------------------------------------------------------------------------
@register(
    "dedup_simhash_check",
    oracle="""
    SELECT CAST(count(*) AS BIGINT) AS n_docs_sample, TRUE AS banding_exact_ok
    FROM documents WHERE doc_id % 3 = 0 AND doc_id < 100000
    """,
)
def dedup_simhash_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.cache import scoped_persist
    from ..operators.dedup import simhash

    docs = _t(spark, sf_dir, "documents").filter(
        (F.col("doc_id") % 3 == 0) & (F.col("doc_id") < 100000)
    )
    # one fingerprint pass feeds the banded operator AND the brute audit
    fp = scoped_persist(simhash(docs, "doc_id", "text"))
    banded = simhash_near_dup(
        docs, "doc_id", "text", max_bucket=None, fingerprints=fp
    )
    fa = fp.select(F.col("doc_id").alias("id_a"), F.col("simhash").alias("__fa"))
    fb = fp.select(F.col("doc_id").alias("id_b"), F.col("simhash").alias("__fb"))
    brute = (
        fa.join(F.broadcast(fb), F.col("id_a") < F.col("id_b"))
        .withColumn("hamming", F.bit_count(F.col("__fa").bitwiseXOR(F.col("__fb"))))
        .filter(F.col("hamming") <= 3)
        .select("id_a", "id_b", "hamming")
    )
    keys = ["id_a", "id_b", "hamming"]
    diff = banded.join(brute, keys, "left_anti").unionByName(
        brute.join(banded, keys, "left_anti")
    )
    n_bad = diff.agg(F.count(F.lit(1)).alias("__n_bad"))
    n_docs = docs.agg(F.count(F.lit(1)).alias("n_docs_sample"))
    return n_docs.join(F.broadcast(n_bad)).select(
        "n_docs_sample", (F.col("__n_bad") == 0).alias("banding_exact_ok")
    )


# ---------------------------------------------------------------------------
# Incremental dedup — the daily-ingest shape: a new batch (1-in-5 id
# slice standing in for "today's crawl") is deduplicated AGAINST the
# historical corpus without re-pairing the history with itself. Exact
# stage: fingerprint anti-join (one hash semi-join keyed on md5). Near
# stage: cross-corpus inverted-index Jaccard (jaccard_matches_between) —
# candidate volume scales with the increment, not the corpus, which is
# the property that keeps nightly dedup O(increment) at 100 TB while
# corpus-wide self-pairing would be O(corpus²) per day. Survivors =
# new-batch docs with no exact twin and no j≥0.5 near-match in history.
# ---------------------------------------------------------------------------
@register(
    "dedup_incremental",
    oracle=f"""
    WITH fps AS (
      SELECT doc_id, {_FP_MD5_SQL} AS fp
      FROM documents
    ), exact_clean AS (
      SELECT n.doc_id
      FROM fps n
      WHERE n.doc_id % 5 = 4
        AND NOT EXISTS (SELECT 1 FROM fps o
                        WHERE o.doc_id % 5 <> 4 AND o.fp = n.fp)
    ), {_SHINGLE_CTES.format(src="documents")}, {_INCREMENT_PAIR_CTES}, near AS (
      SELECT DISTINCT nid
      {_INCREMENT_CUT_SQL.format(threshold=0.5)}
    )
    SELECT e.doc_id FROM exact_clean e
    WHERE NOT EXISTS (SELECT 1 FROM near WHERE near.nid = e.doc_id)
    """,
)
def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import jaccard_matches_between
    from ..operators.text import fingerprint

    docs = _t(spark, sf_dir, "documents")
    new = docs.filter(F.col("doc_id") % 5 == 4)
    old = docs.filter(F.col("doc_id") % 5 != 4)
    fp_new = fingerprint(new).select("doc_id", "fp")
    fp_old = fingerprint(old).select("fp").distinct()
    exact_clean = fp_new.join(fp_old, "fp", "left_anti").select("doc_id")
    near_ids = (
        jaccard_matches_between(
            new, old, "doc_id", "text", shingle_k=3, mode="word", threshold=0.5
        )
        .select(F.col("new_id").alias("doc_id"))
        .distinct()
    )
    return exact_clean.join(near_ids, "doc_id", "left_anti")


# ---------------------------------------------------------------------------
# Driver-checkable face of the MinHash-LSH incremental dedup (the
# streaming.dedup.dedup_stream_against_index_minhash batch stage; VERDICT
# r4 item 5). The banded matcher itself is xxhash64-based (no DuckDB
# twin), so the oracle asserts its CONTRACT differentially: the verified
# banded matches of new (doc_id%5==4) against old must be a subset of the
# exact inverted-index matches (precision is exact by construction —
# subset_ok), recover ≥95% of them (recall_ok; measured 1.0 at sf0.001/
# 0.01/0.1 with 32 hashes × 8 bands at j≥0.3), and the exact-match count
# n_exact is the oracle-replicable differential anchor.
# ---------------------------------------------------------------------------
@register(
    "dedup_incremental_minhash_check",
    oracle=f"""
    WITH {_SHINGLE_CTES.format(src="documents")}, {_INCREMENT_PAIR_CTES}
    SELECT CAST(COUNT(*) AS BIGINT) AS n_exact,
           TRUE AS subset_ok, TRUE AS recall_ok
    {_INCREMENT_CUT_SQL.format(threshold=0.3)}
    """,
)
def dedup_incremental_minhash_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import jaccard_matches_between, minhash_matches_between

    docs = _t(spark, sf_dir, "documents")
    new = docs.filter(F.col("doc_id") % 5 == 4)
    old = docs.filter(F.col("doc_id") % 5 != 4)
    lsh = minhash_matches_between(
        new, old, "doc_id", "text", num_hashes=32, bands=8,
        shingle_k=3, mode="word", verify_jaccard=0.3,
    )
    exact = jaccard_matches_between(
        new, old, "doc_id", "text", shingle_k=3, mode="word", threshold=0.3
    ).select("new_id", "old_id")
    from ..operators.cache import scoped_persist

    lsh = scoped_persist(lsh)
    exact = scoped_persist(exact)
    n_exact = exact.agg(F.count(F.lit(1)).alias("n_exact"))
    n_lsh = lsh.agg(F.count(F.lit(1)).alias("__n_lsh"))
    n_inter = lsh.join(exact, ["new_id", "old_id"], "left_semi").agg(
        F.count(F.lit(1)).alias("__n_inter")
    )
    # three 1-row aggregates — broadcast joins of single rows
    return (
        n_exact.join(F.broadcast(n_lsh))
        .join(F.broadcast(n_inter))
        .select(
            "n_exact",
            (F.col("__n_inter") == F.col("__n_lsh")).alias("subset_ok"),
            (
                F.col("__n_inter") >= F.ceil(F.lit(0.95) * F.col("n_exact"))
            ).alias("recall_ok"),
        )
    )


# ---------------------------------------------------------------------------
# Embedding-cosine near-dup pairs within hyperplane-LSH buckets. Fully
# hash-checked (upgraded from rows-only in r4): the seeded planes are
# engine-shared literals (see _planes_sql), so DuckDB replicates the
# whole pipeline — multi-table sign-bit buckets, hot-bucket prune,
# distinct candidate pairs, exact-cosine verify — not just a tolerance
# face. cos_sim is rounded to 6 dp on BOTH engines (sub-ulp summation
# noise must not reach the hash). Decision-boundary margins measured on
# the actual corpora (tools/measure_margins.py; re-run if embeddings are
# regenerated): min |cos - 0.35| over all LSH candidate pairs is 2.0e-5
# (sf0.1; 2.3e-4 sf0.001, 1.1e-3 sf0.01) and the min distance of any
# surviving pair's cosine from a 6-dp rounding boundary is 3.2e-11 abs —
# both ≥ 30× the ~1e-12 conservative summation-noise floor, so neither
# threshold membership nor the rounded hash value can flip cross-engine.
# ---------------------------------------------------------------------------
_DEDUP_EMB_PLANES = random_hyperplanes(n_bits=32, dim=64, seed=42)


@register(
    "dedup_embedding",
    oracle=f"""
    WITH planes AS (SELECT {_planes_sql(_DEDUP_EMB_PLANES)} AS H),
    v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ve
          FROM embeddings),
    entries AS (
      SELECT vec_id, t,
             {_lsh_bucket_sql("ve", 8, "(t - 1) * 8")} AS bucket
      FROM v, planes, (SELECT unnest(range(1, 5)) AS t)
    ),
    pruned AS (
      SELECT vec_id, t, bucket FROM (
        SELECT *, count(*) OVER (PARTITION BY t, bucket) AS bn FROM entries
      ) WHERE bn <= 500
    ),
    cand AS (
      SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
      FROM pruned a JOIN pruned b ON a.t = b.t AND a.bucket = b.bucket
                                 AND a.vec_id < b.vec_id
    ),
    verified AS (
      SELECT id_a, id_b,
             list_sum(list_transform(list_zip(va.ve, vb.ve), p -> p[1]*p[2]))
             / (sqrt(list_sum(list_transform(va.ve, x -> x*x)))
                * sqrt(list_sum(list_transform(vb.ve, x -> x*x)))) AS cos_raw
      FROM cand JOIN v va ON cand.id_a = va.vec_id
                JOIN v vb ON cand.id_b = vb.vec_id
    )
    SELECT id_a, id_b, round(cos_raw, 6) AS cos_sim
    FROM verified WHERE cos_raw >= 0.35
    """,
)
def dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    # max pairwise cosine in the synthetic embeddings is ~0.51 (p99.9 ~0.38):
    # 0.35 selects the genuinely-nearest pairs while exercising the
    # bucket-prune + verify path. 4 tables × 8 bits: multi-table recall
    # at the near-dup operating point (cos→1) is ~1-(1-p^8)^4; precision
    # is exact (verified cosine). Deterministic: seeded planes.
    pairs = embedding_near_dup(
        emb, "vec_id", "embedding", _DEDUP_EMB_PLANES, threshold=0.35, n_tables=4
    )
    return pairs.withColumn("cos_sim", F.round(F.col("cos_sim"), 6))


# ---------------------------------------------------------------------------
# Brute-force exact cosine top-k vs a query vector (vec_id 0) — the ANN
# baseline. Scores rounded to 6 dp on BOTH engines and used as the sort key,
# so ordering and hashes agree bit-for-bit. ann_ivf_recall_check anchors
# on the same scored relation.
# ---------------------------------------------------------------------------
_COSINE_Q0_CTES = """q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
    scored AS (
      SELECT e.vec_id,
             round(
               list_sum(list_transform(list_zip(e.embedding, q.qv),
                        p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
               / (sqrt(list_sum(list_transform(e.embedding,
                        x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
                  * sqrt(list_sum(list_transform(q.qv,
                        x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))),
               6) AS score
      FROM embeddings e, q
    )"""


@register(
    "ann_cosine_topk",
    oracle=f"""
    WITH {_COSINE_Q0_CTES}
    SELECT vec_id, score FROM scored
    ORDER BY score DESC, vec_id ASC
    LIMIT 10
    """,
)
def ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The query row joins in as a 1-row broadcast (mirrors the oracle's
    # CTE) — fully declarative, no driver-side fetch inside the plan build.
    from ..functions import cosine_similarity

    emb = _t(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("__qv"))

    scored = emb.join(F.broadcast(q)).withColumn(
        "score", F.round(cosine_similarity(F.col("embedding"), F.col("__qv")), 6)
    )
    return (
        scored.select("vec_id", "score")
        .orderBy(F.col("score").desc(), F.col("vec_id").asc())
        .limit(10)
    )


# ---------------------------------------------------------------------------
# LSH-bucketed approximate top-k (the scale path: bucket prune → exact
# cosine on candidates). Fully hash-checked (upgraded from rows-only in
# r4): the probe set "buckets within hamming probe_radius of the query's
# bucket" is expressed in the oracle as bit_count(xor(bucket, qbucket)) ≤
# radius over engine-shared literal planes — the same set the Spark side
# materializes as a pushdown-able IN-list. Scores round to 6 dp BEFORE
# the top-k ordering on both engines so ties break on vec_id identically.
# ---------------------------------------------------------------------------
_ANN_LSH_PLANES = random_hyperplanes(n_bits=8, dim=64, seed=42)


@register(
    "ann_cosine_topk_lsh",
    oracle=f"""
    WITH planes AS (SELECT {_planes_sql(_ANN_LSH_PLANES)} AS H),
    q AS (SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv
          FROM embeddings WHERE vec_id = 0),
    qb AS (SELECT {_lsh_bucket_sql("qv", 8)} AS qbucket FROM planes, q),
    bk AS (
      SELECT e.vec_id,
             {_lsh_bucket_sql("list_transform(e.embedding, x -> CAST(x AS DOUBLE))", 8)}
               AS bucket,
             round(
               list_sum(list_transform(list_zip(e.embedding, q.qv),
                        p -> CAST(p[1] AS DOUBLE) * p[2]))
               / (sqrt(list_sum(list_transform(e.embedding,
                        x -> CAST(x AS DOUBLE) * x)))
                  * sqrt(list_sum(list_transform(q.qv, x -> x * x)))),
               6) AS score
      FROM embeddings e, planes, q
    )
    SELECT vec_id, score FROM bk, qb
    WHERE bit_count(xor(bucket, qbucket)) <= 1
    ORDER BY score DESC, vec_id ASC LIMIT 10
    """,
)
def ann_cosine_topk_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    # Request acquisition: the probe set is computed from the query vector
    # driver-side — one bounded keyed fetch standing in for the request.
    qv = [float(x) for x in emb.filter(F.col("vec_id") == 0).first()["embedding"]]
    return cosine_topk_lsh(
        emb, "vec_id", "embedding", qv, _ANN_LSH_PLANES, k=10, probe_radius=1,
        round_to=6,
    )


# ---------------------------------------------------------------------------
# Text analysis: token counts (whitespace + BPE-ish regex). Pure narrow
# per-row expressions — scan-speed at any scale.
# ---------------------------------------------------------------------------
@register(
    "text_token_counts",
    oracle=rf"""
    SELECT doc_id,
           CAST(len({_WS_TOKENS_SQL.format(col="text")}) AS BIGINT) AS n_tokens_ws,
           CAST(len(regexp_extract_all(text, '{text_ops.BPE_TOKEN_PATTERN}')) AS BIGINT)
             AS n_tokens_bpe
    FROM documents
    """,
)
def text_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        text_ops.token_count_ws("text").alias("n_tokens_ws"),
        text_ops.token_count_bpe("text").alias("n_tokens_bpe"),
    )


# ---------------------------------------------------------------------------
# Text quality features + scalar score (C4/Gopher-style heuristics).
# Per-row double arithmetic in the same operation order on both engines.
# ---------------------------------------------------------------------------
@register(
    "text_quality",
    oracle=f"""
    WITH {_QUALITY_FEATS_CTE.format(keep="doc_id")}, ratios AS (
      SELECT doc_id, n_tokens,
             CASE WHEN n_tokens > 0
                  THEN CAST(n_chars - (n_tokens - 1) AS DOUBLE) / CAST(n_tokens AS DOUBLE)
                  ELSE 0.0 END AS mean_token_len,
             CASE WHEN n_chars > 0
                  THEN CAST(n_punct AS DOUBLE) / CAST(n_chars AS DOUBLE)
                  ELSE 0.0 END AS punct_ratio,
             CASE WHEN n_chars > 0
                  THEN CAST(n_digit AS DOUBLE) / CAST(n_chars AS DOUBLE)
                  ELSE 0.0 END AS digit_ratio,
             CASE WHEN n_tokens > 0
                  THEN CAST(n_stop AS DOUBLE) / CAST(n_tokens AS DOUBLE)
                  ELSE 0.0 END AS stopword_ratio
      FROM feats
    )
    SELECT doc_id, n_tokens, mean_token_len, punct_ratio, digit_ratio, stopword_ratio,
           round(0.4 * least(CAST(n_tokens AS DOUBLE) / 64.0, 1.0)
               + 0.3 * least(stopword_ratio * 5.0, 1.0)
               + 0.3 * (1.0 - least(punct_ratio * 10.0 + digit_ratio * 5.0, 1.0)),
             6) AS quality
    FROM ratios
    """,
)
def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return text_ops.quality_score(docs).select(
        "doc_id",
        "n_tokens",
        "mean_token_len",
        "punct_ratio",
        "digit_ratio",
        "stopword_ratio",
        "quality",
    )


# ---------------------------------------------------------------------------
# Top-k per group over a LOW-cardinality key — the skew case a plain
# ROW_NUMBER() OVER (PARTITION BY source) plans as one sorting task per
# source (a handful of tasks sorting a 100 TB corpus). The
# operators.aggregates.topk_per_group two-phase salted rank keeps the
# result identical (deterministic quality DESC, doc_id ASC order) while
# phase 1 runs at |sources|×32 parallelism and phase 2 sorts only
# ≤ k×32 survivors per source. The oracle is the naive window — same
# rows, which is exactly the point.
# ---------------------------------------------------------------------------
@register(
    "docs_top_quality_per_source",
    oracle=f"""
    WITH {_QUALITY_CTES.format(keep="doc_id, source")}, ranked AS (
      SELECT source, doc_id, quality,
             ROW_NUMBER() OVER (PARTITION BY source
                                ORDER BY quality DESC, doc_id ASC) AS rk
      FROM scored
    )
    SELECT source, doc_id, quality, CAST(rk AS BIGINT) AS rk
    FROM ranked WHERE rk <= 3
    """,
)
def docs_top_quality_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.aggregates import topk_per_group

    docs = _t(spark, sf_dir, "documents")
    scored = text_ops.quality_score(docs).select("source", "doc_id", "quality")
    top = topk_per_group(scored, ["source"], "quality", 3, tiebreak="doc_id")
    return top.select(
        "source", "doc_id", "quality", F.col("rk").cast("long").alias("rk")
    )


# ---------------------------------------------------------------------------
# Stopword-heuristic language ID. The SQL CASE chain replicates the Spark
# argmax exactly (ties → first language in sorted code order; all-zero →
# 'und').
# ---------------------------------------------------------------------------
def _langid_oracle() -> str:
    langs = sorted(text_ops.LANG_STOPWORDS)
    score_cols = ",\n             ".join(
        "CAST(len(list_filter(list_transform("
        + _WS_TOKENS_SQL.format(col="text")
        + ", t -> lower(t)), t -> list_contains(["
        + ", ".join(f"'{w}'" for w in text_ops.LANG_STOPWORDS[lang])
        + "], t))) AS BIGINT) AS s_" + lang
        for lang in langs
    )
    cases = []
    for i, lang in enumerate(langs[:-1]):
        conds = " AND ".join(f"s_{lang} >= s_{later}" for later in langs[i + 1 :])
        cases.append(f"WHEN {conds} THEN '{lang}'")
    case_chain = "\n                ".join(cases)
    greatest = ", ".join(f"s_{lang}" for lang in langs)
    return f"""
    WITH scores AS (
      SELECT doc_id,
             {score_cols}
      FROM documents
    )
    SELECT doc_id,
           CASE WHEN greatest({greatest}) = 0 THEN 'und'
                {case_chain}
                ELSE '{langs[-1]}' END AS lang_pred
    FROM scores
    """


@register("text_language_id", oracle=_langid_oracle())
def text_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return text_ops.language_id(docs).select("doc_id", "lang_pred")


# ---------------------------------------------------------------------------
# Char-trigram NB-style language ID (operators.text.language_id_trigram).
# The oracle rebuilds the identical integer scoring — counts via the
# length-difference-after-REPLACE identity — so argmax ties and the 'und'
# floor reproduce exactly.
# ---------------------------------------------------------------------------
def _langid_trigram_oracle() -> str:
    langs = sorted(text_ops.LANG_TRIGRAMS)
    norm = "concat(' ', regexp_replace(lower(text), '[ \\t\\n\\x0b\\f\\r]+', ' ', 'g'), ' ')"
    score_cols = []
    for lang in langs:
        terms = " + ".join(
            f"{w} * CAST((length(p) - length(replace(p, '{tri}', ''))) // {len(tri)} AS BIGINT)"
            for tri, w in text_ops.LANG_TRIGRAMS[lang].items()
        )
        score_cols.append(f"{terms} AS s_{lang}")
    cases = []
    for i, lang in enumerate(langs[:-1]):
        conds = " AND ".join(f"s_{lang} >= s_{later}" for later in langs[i + 1 :])
        cases.append(f"WHEN {conds} THEN '{lang}'")
    case_chain = "\n                ".join(cases)
    greatest = ", ".join(f"s_{lang}" for lang in langs)
    joined_scores = ",\n             ".join(score_cols)
    return f"""
    WITH padded AS (
      SELECT doc_id, {norm} AS p FROM documents
    ), scores AS (
      SELECT doc_id,
             {joined_scores}
      FROM padded
    )
    SELECT doc_id,
           CASE WHEN greatest({greatest}) <= 0 THEN 'und'
                {case_chain}
                ELSE '{langs[-1]}' END AS lang_pred
    FROM scores
    """


@register("text_language_id_trigram", oracle=_langid_trigram_oracle())
def text_language_id_trigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return text_ops.language_id_trigram(docs).select("doc_id", "lang_pred")


# ---------------------------------------------------------------------------
# TF-IDF (operators.text.tf_idf): tf on (doc, term), doc-frequency on term,
# corpus size as a 1-row broadcast aggregate — no driver round-trip. The
# smoothed-idf arithmetic (ln((N+1)/(df+1))+1) is one double chain per row
# on int64 inputs, so the rounded values hash-match DuckDB exactly.
# ---------------------------------------------------------------------------
@register(
    "text_tfidf",
    oracle=f"""
    WITH tokens AS (
      SELECT doc_id,
             unnest({_WS_TOKENS_SQL.format(col="text")}) AS term
      FROM documents
    ), tf AS (
      SELECT doc_id, term, COUNT(*) AS tf FROM tokens GROUP BY doc_id, term
    ), dfreq AS (
      SELECT term, COUNT(*) AS doc_freq FROM tf GROUP BY term
    ), n AS (
      SELECT COUNT(DISTINCT doc_id) AS n_docs FROM documents
    )
    SELECT tf.doc_id, tf.term, tf.tf, dfreq.doc_freq,
           round(tf.tf * (ln((n.n_docs + 1.0) / (dfreq.doc_freq + 1.0)) + 1.0), 6)
               AS tfidf
    FROM tf, dfreq, n WHERE tf.term = dfreq.term
    """,
)
def text_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return text_ops.tf_idf(docs)


# ---------------------------------------------------------------------------
# Tumbling-window event counts — the batch face of the streaming layer
# (identical transform serves readStream; see streaming.windows and tests).
# ---------------------------------------------------------------------------
@register(
    "events_windowed",
    oracle="""
    SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start,
           event_type,
           COUNT(*) AS n,
           CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
    FROM events
    GROUP BY 1, 2
    """,
)
def events_windowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return windowed_event_counts(ev, window="1 hour")


# ---------------------------------------------------------------------------
# Beyond the reference: multi-way join + aggregation (broadcast dims).
# Cent-exact revenue so hashes are deterministic.
# ---------------------------------------------------------------------------
@register(
    "revenue_by_nation",
    oracle="""
    SELECT n_name,
           COUNT(*) AS n_items,
           CAST(SUM(CAST(ROUND(l_extendedprice * (1.0 - l_discount) * 100.0) AS BIGINT))
                AS BIGINT) AS revenue_cents
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey  = c_custkey
    JOIN nation   ON c_nationkey = n_nationkey
    GROUP BY n_name
    """,
)
def revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nation = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    cents = F.round(
        F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")) * F.lit(100.0), 0
    ).cast("long")
    return (
        li.select("l_orderkey", cents.alias("__cents"))
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.sum("__cents").alias("revenue_cents"),
        )
    )


# ---------------------------------------------------------------------------
# Beyond the reference: top-k per group (window row_number — deterministic
# tie-break on part key).
# ---------------------------------------------------------------------------
@register(
    "top_parts_by_brand",
    oracle="""
    WITH pr AS (
      SELECT p_brand, l_partkey,
             CAST(SUM(CAST(ROUND(l_extendedprice * (1.0 - l_discount) * 100.0) AS BIGINT))
                  AS BIGINT) AS revenue_cents
      FROM lineitem JOIN part ON p_partkey = l_partkey
      GROUP BY p_brand, l_partkey
    )
    SELECT p_brand, l_partkey, revenue_cents, rn FROM (
      SELECT *, CAST(ROW_NUMBER() OVER (
               PARTITION BY p_brand
               ORDER BY revenue_cents DESC, l_partkey ASC) AS INTEGER) AS rn
      FROM pr
    ) WHERE rn <= 3
    """,
)
def top_parts_by_brand(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part").select("p_partkey", "p_brand")
    cents = F.round(
        F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")) * F.lit(100.0), 0
    ).cast("long")
    pr = (
        li.select("l_partkey", cents.alias("__cents"))
        # part scales with SF — AQE size-gates the broadcast decision.
        .join(part, li.l_partkey == part.p_partkey)
        .groupBy("p_brand", "l_partkey")
        .agg(F.sum("__cents").alias("revenue_cents"))
    )
    w = W.partitionBy("p_brand").orderBy(
        F.col("revenue_cents").desc(), F.col("l_partkey").asc()
    )
    return (
        pr.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("p_brand", "l_partkey", "revenue_cents", "rn")
    )


# ---------------------------------------------------------------------------
# Multimodal plumbing: payload attach → mapInArrow decode (stub codec) →
# per-modality stats. Rows-only (binary digests aren't SQL-portable).
# ---------------------------------------------------------------------------
@register(
    "multimodal_stats",
    # The stub decoder is pure sha256-over-payload arithmetic, so DuckDB can
    # replicate it: payload == UTF-8 bytes of text (corpus is ASCII, so
    # char ops == byte ops; sha256(VARCHAR) hashes the UTF-8 bytes exactly
    # like the engine-side hashlib call).
    oracle="""
    SELECT 'image' AS modality, COUNT(*) AS n_assets,
           CAST(SUM(octet_length(encode(text))) AS BIGINT) AS total_bytes,
           COUNT(DISTINCT sha256(text)) AS n_distinct
    FROM documents
    """,
)
def multimodal_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    assets = attach_payload(docs, text_col="text", id_col="doc_id")
    decoded = decode_images(assets)
    return decoded.groupBy("modality").agg(
        F.count(F.lit(1)).alias("n_assets"),
        F.sum("n_bytes").alias("total_bytes"),
        F.countDistinct("content_sha256").alias("n_distinct"),
    )


# ---------------------------------------------------------------------------
# REAL image codec check faces: one deterministic image per doc_id from an
# ``attach_synthetic_*`` fixture, decoded by the stdlib(+numpy) codecs of
# operators/multimodal.py and operators/jpeg.py — no PIL. The oracle pins
# the asset count and the expected invariants as literals (the established
# check-face pattern): any header/stride/unfilter/LZW/Huffman/IDCT bug
# that misreads the true dimensions flips dims_match (decoded dims ==
# the attach meta, which decode_images carries on the same row) or
# size_bounds_ok (the fixture's width/height ranges) to FALSE → hash red.
# n_distinct pins that digests are over decoded pixel CONTENT: the
# PNG/GIF/JPEG fixtures spell the asset id into their pixels.
# ---------------------------------------------------------------------------
def _register_image_decode_check(
    name: str,
    fixture: Callable[[DataFrame, str], DataFrame],
    width: tuple[int, int],
    height: tuple[int, int],
    n_distinct: bool = True,
) -> QueryFn:
    distinct_sql = (
        ",\n           CAST(COUNT(*) AS BIGINT) AS n_distinct" if n_distinct else ""
    )
    oracle = f"""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_assets,
           TRUE AS dims_match,
           TRUE AS size_bounds_ok{distinct_sql}
    FROM documents
    """

    def face(spark: SparkSession, sf_dir: str) -> DataFrame:
        docs = _t(spark, sf_dir, "documents").select("doc_id")
        dec = decode_images(fixture(docs, "doc_id"))
        ok = (F.col("width") == F.col("meta.width")) & (
            F.col("height") == F.col("meta.height")
        )
        aggs = [
            F.count(F.lit(1)).alias("n_assets"),
            (F.sum(F.when(ok, 1).otherwise(0)) == F.count(F.lit(1))).alias(
                "dims_match"
            ),
            (
                (F.min("width") >= width[0])
                & (F.max("width") <= width[1])
                & (F.min("height") >= height[0])
                & (F.max("height") <= height[1])
            ).alias("size_bounds_ok"),
        ]
        if n_distinct:
            aggs.append(F.countDistinct("content_sha256").alias("n_distinct"))
        return dec.agg(*aggs)

    return register(name, oracle=oracle)(face)


# uncompressed 24-bit BMP (struct header + padded bottom-up rows), the
# first codec face; its oracle predates the n_distinct column
multimodal_bmp_decode_check = _register_image_decode_check(
    "multimodal_bmp_decode_check", attach_synthetic_bmp, (5, 21), (3, 13),
    n_distinct=False,
)
# zlib PNG, RGB and RGBA alternating, scanline filters cycling through all
# five types (CRC walk, bounded inflate, Paeth unfilter)
multimodal_png_decode_check = _register_image_decode_check(
    "multimodal_png_decode_check", attach_synthetic_png, (4, 16), (3, 9)
)
# single-frame palettized GIF (block walk, variable 3..12-bit LZW with
# deferred clear, palette mapping)
multimodal_gif_decode_check = _register_image_decode_check(
    "multimodal_gif_decode_check", attach_synthetic_gif, (4, 14), (3, 7)
)
# baseline sequential JPEG, 4:4:4 / 4:2:0 / 4:2:2 rotating, non-multiple-
# of-8 dims (Huffman, dequant, IDCT, chroma upsample, MCU pad/crop); the
# flat even-offset tiles make the lossy round trip bit-exact
multimodal_jpeg_decode_check = _register_image_decode_check(
    "multimodal_jpeg_decode_check", attach_synthetic_jpeg, (20, 40), (14, 24)
)


# ---------------------------------------------------------------------------
# REAL progressive-JPEG face (r12, VERDICT r11 item 3): SOF2 payloads
# with full Annex G scan scripts — interleaved DC first + refinement,
# spectrally split AC first passes at Al=1, AC refinements to Al=0,
# rotating subsampling AND restart intervals — decoded by the in-repo
# multi-scan progressive decoder (operators/jpeg.py). PER-ROW pixel
# digest differential: the fixture's flat even-level gray tiles make
# the lossy round trip bit-exact and ASCII-rebuildable, so DuckDB
# recomputes every asset's decoded-RGB sha256 from the id nibbles in
# closed form. A broken EOB-run walk, refinement correction-bit order,
# DC point transform, or non-interleaved grid mapping flips some row's
# digest → hash red. Real-world corpora are heavily progressive; this
# face witnesses that tier end-to-end.
# ---------------------------------------------------------------------------
@register(
    "multimodal_jpeg_progressive_check",
    oracle="""
    SELECT doc_id AS asset_id,
           CAST(24 AS INT) AS width, CAST(16 AS INT) AS height,
           sha256(
             repeat(
               repeat(chr(CAST(32 + 4 * ((doc_id >> 0) & 15) AS INT)), 24) ||
               repeat(chr(CAST(32 + 4 * ((doc_id >> 4) & 15) AS INT)), 24) ||
               repeat(chr(CAST(32 + 4 * ((doc_id >> 8) & 15) AS INT)), 24),
               8) ||
             repeat(
               repeat(chr(CAST(32 + 4 * ((doc_id >> 12) & 15) AS INT)), 24) ||
               repeat(chr(CAST(32 + 4 * ((doc_id >> 16) & 15) AS INT)), 24) ||
               repeat(chr(CAST(32 + 4 * ((doc_id >> 20) & 15) AS INT)), 24),
               8)
           ) AS content_sha256
    FROM documents
    """,
)
def multimodal_jpeg_progressive_check(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from ..operators.multimodal import (
        attach_synthetic_progressive_jpeg,
        decode_images,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    dec = decode_images(attach_synthetic_progressive_jpeg(docs, "doc_id"))
    return dec.select("asset_id", "width", "height", "content_sha256")


# ---------------------------------------------------------------------------
# REAL video-container metadata face (r10, VERDICT r9 item 5): ISO-BMFF
# payloads generated per doc_id (mvhd/mdhd v0 AND v1, 600/1000 movie
# timescales, 64-bit largesize mdat atoms, optional audio track) and
# parsed by a real atom walker (operators/mp4.py — ftyp brand, moov/trak
# recursion, tkhd 16.16 presentation size, hdlr routing; no codec
# decode). The oracle recomputes every field from the id in closed form,
# so this is a PER-ROW differential over the whole corpus: a broken size
# walk, a wrong v1 field width, a bad fixed-point shift, or a missed
# trak flips some row's hash → red.
# ---------------------------------------------------------------------------
@register(
    "multimodal_mp4_meta_check",
    oracle="""
    SELECT doc_id AS asset_id,
           CAST(400 + 40 * (doc_id % 10) AS BIGINT) AS duration_ms,
           CAST(600 + 400 * (doc_id % 2) AS INT) AS timescale,
           CAST(CASE WHEN doc_id % 3 = 0 THEN 2 ELSE 1 END AS INT) AS n_tracks,
           CAST(16 * (2 + doc_id % 5) AS INT) AS video_w,
           CAST(16 * (1 + doc_id % 3) AS INT) AS video_h,
           doc_id % 3 = 0 AS has_audio,
           'isom' AS brand
    FROM documents
    """,
)
def multimodal_mp4_meta_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.multimodal import attach_synthetic_mp4, video_metadata

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    assets = attach_synthetic_mp4(docs, "doc_id")
    return video_metadata(assets)


# ---------------------------------------------------------------------------
# REAL audio energy segmentation (r10): VAD-style speech gating over
# decoded PCM — exact-integer frame energies (sum|x| >= thr·frame), runs
# of active frames merged into segments (operators/multimodal.py::
# segment_audio_by_energy). The fixture's silence/burst pattern is a
# closed-form function of the id (leading 2 silent frames, 2+id%3 bursts
# of 1+id%4 frames, 2-frame gaps, 25 ms frames), so the oracle recomputes
# every segment's index, start/end time and frame count per row: a
# broken frame stride, an off-by-one run boundary, or a wrong rate
# conversion flips row hashes → red.
# ---------------------------------------------------------------------------
@register(
    "multimodal_audio_segments_check",
    oracle="""
    SELECT doc_id AS asset_id,
           CAST(i AS INT) AS seg_idx,
           CAST((2 + i * ((1 + doc_id % 4) + 2)) * 25 AS BIGINT) AS start_ms,
           CAST((2 + i * ((1 + doc_id % 4) + 2) + (1 + doc_id % 4)) * 25
                AS BIGINT) AS end_ms,
           CAST(1 + doc_id % 4 AS INT) AS n_frames
    FROM (SELECT doc_id, unnest(range(2 + doc_id % 3)) AS i FROM documents)
    """,
)
def multimodal_audio_segments_check(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from ..operators.multimodal import (
        attach_synthetic_wav_bursts,
        segment_audio_by_energy,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    assets = attach_synthetic_wav_bursts(docs, "doc_id")
    return segment_audio_by_energy(assets)


# ---------------------------------------------------------------------------
# REAL keyframe selection (r10): consecutive-duplicate frame suppression
# over decoded animated-GIF frames — exact byte comparison, frame 0 plus
# every frame differing from its predecessor survives (operators/
# multimodal.py::select_keyframes). The fixture repeats each content
# frame r = 1+id%3 times over F = 4+id%5 frames, so the surviving
# (frame_idx, keyframe_idx) pairs are closed-form: k·r for
# k < ceil(F/r). Pixel digests are pinned per-asset in pytest (not
# SQL-portable); the face checks the selection structure per row.
# ---------------------------------------------------------------------------
@register(
    "multimodal_keyframes_check",
    oracle="""
    SELECT doc_id AS asset_id,
           CAST(k * (1 + doc_id % 3) AS INT) AS frame_idx,
           CAST(k AS INT) AS keyframe_idx
    FROM (SELECT doc_id,
                 unnest(range((4 + doc_id % 5 + doc_id % 3) // (1 + doc_id % 3)))
                   AS k
          FROM documents)
    """,
)
def multimodal_keyframes_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.multimodal import (
        attach_synthetic_gif_video_repeats,
        select_keyframes,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    assets = attach_synthetic_gif_video_repeats(docs, "doc_id")
    return select_keyframes(assets).select(
        "asset_id", "frame_idx", "keyframe_idx"
    )


# ---------------------------------------------------------------------------
# SAMPLE-TABLE-ALIGNED MP4 frame sampling (r11, replacing the r10
# even-mdat-split approximation): sample_video_frames walks the video
# track's POPULATED stts/stsz/stsc/stco and digests each sampled
# frame's TRUE byte range. The fixture's samples are closed-form ASCII
# (mp4_fixture_samples: sample f of asset id = 's{id}:{f};' repeated
# 1+(id+f)%3 times; 10+id%10 samples, every 2nd sampled; chunked
# 1+id%4 per chunk), so the oracle recomputes EVERY digest with DuckDB
# string functions — a walker that misreads any of the four tables, an
# offset off by one byte, or a stride bug flips a hash → red. This is
# the full per-row differential the r10 face could only pin in pytest.
# ---------------------------------------------------------------------------
@register(
    "multimodal_mp4_frame_sample_check",
    oracle="""
    SELECT doc_id AS asset_id,
           CAST(k * 2 AS INT) AS frame_idx,
           sha256(repeat('s' || doc_id || ':' || (k * 2) || ';',
                         CAST(1 + (doc_id + k * 2) % 3 AS INT)))
             AS frame_sha256
    FROM (SELECT doc_id,
                 unnest(range((10 + doc_id % 10 + 1) // 2)) AS k
          FROM documents)
    """,
)
def multimodal_mp4_frame_sample_check(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from ..operators.multimodal import attach_synthetic_mp4, sample_video_frames

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    assets = attach_synthetic_mp4(docs, "doc_id")
    return sample_video_frames(assets, every_n_frames=2).select(
        "asset_id", "frame_idx", "frame_sha256"
    )


# ---------------------------------------------------------------------------
# MP4 sample-table statistics (r11): video_sample_stats parses
# stts/stsz/stsc/stco in one walker pass per payload — the per-asset
# codec-cost budgeting layer of a video curation pipeline. Every output
# column is closed-form in the id (sample count 10+id%10, chunk count
# ceil(n / (1+id%4)), byte totals from the ASCII unit lengths), so the
# oracle is a full per-row differential; duration_consistent pins the
# stts decode-time span against the mdhd duration.
# ---------------------------------------------------------------------------
@register(
    "multimodal_mp4_sample_table_check",
    oracle="""
    WITH per AS (
      SELECT doc_id,
             10 + doc_id % 10 AS n,
             1 + doc_id % 4 AS spc,
             unnest(range(10 + doc_id % 10)) AS f
    FROM documents)
    SELECT doc_id AS asset_id,
           CAST(MAX(n) AS INT) AS n_samples,
           CAST((MAX(n) + MAX(spc) - 1) // MAX(spc) AS INT) AS n_chunks,
           CAST(SUM(length('s' || doc_id || ':' || f || ';')
                    * (1 + (doc_id + f) % 3)) AS BIGINT)
             AS sum_sample_bytes,
           CAST(MAX(length('s' || doc_id || ':' || f || ';')
                    * (1 + (doc_id + f) % 3)) AS INT)
             AS max_sample_bytes,
           TRUE AS duration_consistent
    FROM per GROUP BY doc_id
    """,
)
def multimodal_mp4_sample_table_check(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from ..operators.multimodal import attach_synthetic_mp4, video_sample_stats

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    return video_sample_stats(attach_synthetic_mp4(docs, "doc_id"))


# ---------------------------------------------------------------------------
# REAL coded-video pixel decode (r11): MJPEG-in-MP4 — each container's
# samples are genuine baseline JFIF JPEGs (the in-repo codec; zero new
# dependencies), and sample_video_frames slices each sampled frame's
# stbl byte range, recognizes the SOI and digests the frame's DECODED
# RGB pixels. The fixture frames are flat 16×16 tiles at even ASCII-
# range levels (mjpeg_frame_level), making the lossy round trip
# bit-exact AND the pixel buffer re-buildable in DuckDB as
# repeat(chr(L), 768) — so every digest is a per-row differential over
# decoded PIXELS, not container bytes. This closes the last stubbed
# modality: video frame decode without av/ffmpeg.
# ---------------------------------------------------------------------------
@register(
    "multimodal_video_pixels_check",
    oracle="""
    SELECT doc_id AS asset_id,
           CAST(k * 2 AS INT) AS frame_idx,
           sha256(repeat(chr(CAST(32 + 2 * ((doc_id + 7 * (k * 2)) % 48)
                                  AS INT)), 768))
             AS frame_sha256
    FROM (SELECT doc_id,
                 unnest(range((3 + doc_id % 4 + 1) // 2)) AS k
          FROM documents)
    """,
)
def multimodal_video_pixels_check(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from ..operators.multimodal import (
        attach_synthetic_mjpeg_mp4,
        sample_video_frames,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    assets = attach_synthetic_mjpeg_mp4(docs, "doc_id")
    return sample_video_frames(assets, every_n_frames=2).select(
        "asset_id", "frame_idx", "frame_sha256"
    )


# ---------------------------------------------------------------------------
# H.264 metadata census (r12): the coded-video tier WITHOUT a decoder —
# operators/h264.py bit-parses the avcC SPS (Exp-Golomb, emulation
# prevention, frame-cropping arithmetic: the fixture's %16-residue
# geometries only come out right if the crop units are applied per
# §7.4.2.1.1), and every sample's length-prefixed slice NALs are
# header-parsed for the IDR census. sync_match pins the container's
# stss keyframe map against the NAL-derived IDR positions; every
# column is closed-form in the id, so the oracle is a full per-row
# differential. No reference-engine counterpart (the reference has no
# video tier) — this is the beyond-reference multimodal requirement.
# ---------------------------------------------------------------------------
@register(
    "multimodal_h264_meta_check",
    oracle="""
    SELECT doc_id AS asset_id,
           CAST(160 + 8 * (doc_id % 5) AS INT) AS width,
           CAST(96 + 2 * (doc_id % 7) AS INT) AS height,
           CAST(CASE WHEN doc_id % 2 = 0 THEN 66 ELSE 100 END AS INT)
             AS profile_idc,
           CAST(30 AS INT) AS level_idc,
           CAST(4 + doc_id % 3 AS INT) AS n_samples,
           CAST((4 + doc_id % 3 + 1 + doc_id % 2) // (2 + doc_id % 2)
                AS INT) AS n_idr,
           TRUE AS sync_match,
           TRUE AS params_ok
    FROM documents
    """,
)
def multimodal_h264_meta_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.multimodal import (
        attach_synthetic_h264_mp4,
        h264_video_summary,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    return h264_video_summary(attach_synthetic_h264_mp4(docs, "doc_id"))


# ---------------------------------------------------------------------------
# Keyframe-aligned video sampling (r12): sample_video_frames in
# keyframes_only mode reads the stss sync-sample box and emits exactly
# the IDR positions — the decode-budget sampler for coded video (only
# IDR frames are independently decodable; at 100 TB you sample those,
# not grid points). The fixture's GOP structure is closed-form in the
# id (IDR every 2 + id%2 frames of 4 + id%3), so the (asset, frame)
# set is a full per-row differential; the digest column is projected
# out because H.264 sample bytes have no SQL-recomputable form (they
# digest the coded NAL bytes — decode is impossible without av).
# ---------------------------------------------------------------------------
@register(
    "multimodal_h264_keyframes_check",
    oracle="""
    SELECT doc_id AS asset_id,
           CAST(k * (2 + doc_id % 2) AS INT) AS frame_idx
    FROM (SELECT doc_id,
                 unnest(range((4 + doc_id % 3 + 1 + doc_id % 2)
                              // (2 + doc_id % 2))) AS k
          FROM documents)
    """,
)
def multimodal_h264_keyframes_check(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from ..operators.multimodal import (
        attach_synthetic_h264_mp4,
        sample_video_frames,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    assets = attach_synthetic_h264_mp4(docs, "doc_id")
    return sample_video_frames(assets, keyframes_only=True).select(
        "asset_id", "frame_idx"
    )


# ---------------------------------------------------------------------------
# Decode/presentation timeline (r12): video_frame_times expands the
# stts/ctts/stss/elst quartet into the per-sample (dts, pts, keyframe)
# seek index — the fixture's alternating ctts offsets make pts
# genuinely non-monotonic in decode order (B-frame-style reordering),
# odd ids carry the normalize-first-pts edit list (pts = dts + ctts −
# elst media_time), and every value is closed-form in the id, so the
# oracle is a full per-row differential over the complete timeline of
# every asset.
# ---------------------------------------------------------------------------
@register(
    "multimodal_h264_pts_check",
    oracle="""
    SELECT doc_id AS asset_id,
           CAST(f AS INT) AS frame_idx,
           CAST(3600 * f AS BIGINT) AS dts,
           CAST(3600 * f + 4000 * ((doc_id + f) % 2)
                - 3600 * (doc_id % 2) AS BIGINT) AS pts,
           (f % (2 + doc_id % 2)) = 0 AS keyframe
    FROM (SELECT doc_id, unnest(range(4 + doc_id % 3)) AS f
          FROM documents)
    """,
)
def multimodal_h264_pts_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.multimodal import (
        attach_synthetic_h264_mp4,
        video_frame_times,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    return video_frame_times(attach_synthetic_h264_mp4(docs, "doc_id"))


# ---------------------------------------------------------------------------
# Raw Annex-B census (r12): the containerless transport shape (.h264
# dumps, MPEG-TS payloads) — start-code split per §B.1, in-band SPS
# bit-parse, picture/IDR census from slice headers. Every column is
# closed-form in the id; n_nals counts the in-band SPS+PPS too, so a
# splitter that merged or dropped a unit goes red.
# ---------------------------------------------------------------------------
@register(
    "multimodal_h264_annexb_check",
    oracle="""
    SELECT doc_id AS asset_id,
           CAST(160 + 8 * (doc_id % 5) AS INT) AS width,
           CAST(96 + 2 * (doc_id % 7) AS INT) AS height,
           CAST(CASE WHEN doc_id % 2 = 0 THEN 66 ELSE 100 END AS INT)
             AS profile_idc,
           CAST(2 + 4 + doc_id % 3 AS INT) AS n_nals,
           CAST(4 + doc_id % 3 AS INT) AS n_pictures,
           CAST((4 + doc_id % 3 + 1 + doc_id % 2) // (2 + doc_id % 2)
                AS INT) AS n_idr,
           TRUE AS params_in_band
    FROM documents
    """,
)
def multimodal_h264_annexb_check(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from ..operators.multimodal import (
        attach_synthetic_h264_annexb,
        h264_annexb_summary,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    return h264_annexb_summary(attach_synthetic_h264_annexb(docs, "doc_id"))


# ---------------------------------------------------------------------------
# REAL image resize (r9): the thumbnail/normalize step of a multimodal
# pipeline — every PNG payload is DECODED (zlib inflate + unfilter) and
# resampled to a fixed 32×16 via exact integer nearest-neighbor
# (operators/multimodal.py::resize_nearest; pytest pins the resample
# math on known vectors + identity/round-trip). The check pins: output
# geometry, channel passthrough (RGB vs RGBA counts follow the
# fixture's id-parity split — closed-form in the oracle), and digest
# distinctness, which holds BY CONSTRUCTION because upscaling NN is
# onto (every source pixel, including the 8 id bytes, appears in the
# output) — a resampler that dropped or misindexed rows goes red.
# ---------------------------------------------------------------------------
@register(
    "multimodal_resize_check",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_assets,
           TRUE AS dims_ok,
           CAST(SUM(CASE WHEN doc_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_rgba,
           CAST(COUNT(*) AS BIGINT) AS n_distinct
    FROM documents
    """,
)
def multimodal_resize_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.multimodal import attach_synthetic_png, resize_images

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    resized = resize_images(attach_synthetic_png(docs, "doc_id"), 32, 16)
    return resized.agg(
        F.count(F.lit(1)).alias("n_assets"),
        ((F.min("width") == 32) & (F.max("width") == 32)
         & (F.min("height") == 16) & (F.max("height") == 16)).alias("dims_ok"),
        F.sum(F.when(F.col("channels") == 4, 1).otherwise(0))
        .cast("bigint").alias("n_rgba"),
        F.countDistinct("content_sha256").cast("bigint").alias("n_distinct"),
    )


# ---------------------------------------------------------------------------
# REAL video frame sampling (r9): animated-GIF payloads — a true
# multi-frame container with per-frame LZW streams — are attached per
# doc, and sample_video_frames DECODES the container and emits every
# 2nd TRUE frame with a digest over its decoded RGB pixels
# (operators/multimodal.py::decode_gif_frames). The check pins: the
# per-asset sampled-frame count against the metadata duration (frames =
# duration_ms / 40ms, sampled = ceil(frames/2) — a broken container
# walk or GCE skip changes the count), and digest distinctness across
# every (asset, frame) pair (content carries both ids by construction —
# a decoder that returned the same pixels for two frames goes red).
# ---------------------------------------------------------------------------
@register(
    "multimodal_video_frame_check",
    oracle="""
    WITH per AS (
      SELECT doc_id, 3 + doc_id % 4 AS f FROM documents
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_assets,
           TRUE AS frames_match,
           CAST(SUM((f + 1) // 2) AS BIGINT) AS n_frames_sampled,
           CAST(SUM((f + 1) // 2) AS BIGINT) AS n_distinct
    FROM per
    """,
)
def multimodal_video_frame_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.cache import scoped_persist
    from ..operators.multimodal import attach_synthetic_gif_video, sample_video_frames

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    assets = scoped_persist(attach_synthetic_gif_video(docs, "doc_id"))
    frames = sample_video_frames(assets)

    expected = (
        ((F.col("meta.duration_ms") / 40).cast("long") + 1) / 2
    ).cast("long")
    per = (
        frames.join(assets.select("asset_id", expected.alias("__exp")), "asset_id")
        .groupBy("asset_id", "__exp")
        .agg(F.count(F.lit(1)).alias("__n"))
    )
    counts = per.agg(
        F.count(F.lit(1)).alias("n_assets"),
        (
            F.sum(F.when(F.col("__n") == F.col("__exp"), 1).otherwise(0))
            == F.count(F.lit(1))
        ).alias("frames_match"),
        F.sum("__n").cast("bigint").alias("n_frames_sampled"),
    )
    stats = frames.agg(
        F.countDistinct("frame_sha256").cast("bigint").alias("n_distinct")
    )
    return counts.join(F.broadcast(stats))


# ---------------------------------------------------------------------------
# REAL audio DSP over decoded PCM bytes (r9): per-asset energy
# (exact int64 sum of squares), zero-crossing count (the classic cheap
# voiced/unvoiced discriminator), peak amplitude, and true sample count
# — computed by parsing each WAV payload's ACTUAL data chunk
# (operators/multimodal.py::decode_wav_pcm, stdlib wave + numpy). The
# oracle never sees a byte: it re-derives the features in closed form
# from the fixture's synthesis formula (samples are
# ((i*37 + id*13) % 2048) - 1024 over n = 2000 + (id%10)*800 — see
# attach_synthetic_wav), so hash equality proves the RIFF parse, the
# int16 sample view, and the feature math all at once. Every feature is
# an exact integer — no float accumulation anywhere.
# ---------------------------------------------------------------------------
@register(
    "multimodal_audio_features",
    oracle="""
    WITH idx AS (
      SELECT d.doc_id AS asset_id,
             unnest(range(0, 2000 + (d.doc_id % 10) * 800)) AS i
      FROM documents d
    ), s AS (
      SELECT asset_id, i,
             ((i * 37 + asset_id * 13) % 2048) - 1024 AS smp,
             (((i - 1) * 37 + asset_id * 13) % 2048) - 1024 AS prev
      FROM idx
    )
    SELECT asset_id,
           CAST(COUNT(*) AS BIGINT) AS n_samples,
           CAST(SUM(CAST(smp AS BIGINT) * smp) AS BIGINT) AS sum_sq,
           CAST(SUM(CASE WHEN i > 0 AND ((prev < 0) <> (smp < 0))
                 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero_cross,
           CAST(MAX(ABS(smp)) AS BIGINT) AS peak_abs
    FROM s GROUP BY asset_id
    """,
)
def multimodal_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio feature extraction the multimodal-pipeline way: attach one
    real PCM WAV per document, decode the bytes, emit exact-integer
    signal features. Per-row parallel, zero shuffle; payloads live one
    Arrow batch at a time."""
    from ..operators.multimodal import attach_synthetic_wav, audio_features

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    return audio_features(attach_synthetic_wav(docs, "doc_id"))


# ---------------------------------------------------------------------------
# Beyond the reference: ROLLUP (hierarchical grouping sets). NULL group
# markers match ANSI semantics on both engines; cent-exact sums.
# ---------------------------------------------------------------------------
@register(
    "sales_rollup",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           COUNT(*) AS n,
           CAST(SUM(CAST(ROUND(l_extendedprice * 100.0) AS BIGINT)) AS BIGINT)
             AS price_cents
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
)
def sales_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    cents = F.round(F.col("l_extendedprice") * F.lit(100.0), 0).cast("long")
    return (
        li.select("l_returnflag", "l_linestatus", cents.alias("__cents"))
        .rollup("l_returnflag", "l_linestatus")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("__cents").alias("price_cents"))
    )


# ---------------------------------------------------------------------------
# Beyond the reference: anti join (NOT EXISTS) — customers who never placed
# an urgent order (~200 of 1500 at sf0.01, so the anti path really filters).
# ---------------------------------------------------------------------------
@register(
    "customers_without_orders",
    oracle="""
    SELECT c_custkey, c_name
    FROM customer
    WHERE NOT EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey
                        AND o_orderpriority = '1-URGENT')
    """,
)
def customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_name")
    urgent = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select("o_custkey")
    )
    return cust.join(urgent, cust.c_custkey == urgent.o_custkey, "left_anti")


# ---------------------------------------------------------------------------
# Beyond the reference: exact median (linear interpolation) over cent-exact
# ints — Spark percentile == DuckDB quantile_cont.
# ---------------------------------------------------------------------------
@register(
    "events_value_stats",
    oracle="""
    SELECT event_type,
           COUNT(*) AS n,
           MIN(CAST(ROUND(value * 100) AS BIGINT)) AS min_cents,
           MAX(CAST(ROUND(value * 100) AS BIGINT)) AS max_cents,
           quantile_cont(CAST(ROUND(value * 100) AS BIGINT), 0.5) AS median_cents
    FROM events
    GROUP BY event_type
    """,
)
def events_value_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100, 0).cast("long")
    return ev.select("event_type", cents.alias("__cents")).groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("__cents").alias("min_cents"),
        F.max("__cents").alias("max_cents"),
        F.percentile("__cents", F.lit(0.5)).alias("median_cents"),
    )


# ---------------------------------------------------------------------------
# Beyond the reference: AS-OF join — an operator Spark lacks natively.
# For each purchase event, the user's most recent prior (or simultaneous)
# signup. Composed from a union + per-user ordered window (last_value of
# the signup timestamp seen so far) — one shuffle on user_id, no range
# explosion; the portable-SQL formulation doubles as the oracle.
# ---------------------------------------------------------------------------
@register(
    "events_asof_signup",
    oracle="""
    WITH tagged AS (
      SELECT event_id, user_id, ts, event_type,
             MAX(CASE WHEN event_type = 'signup' THEN ts END)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS last_signup_ts
      FROM events
    )
    SELECT event_id, user_id, CAST(ts AS VARCHAR) AS ts_s,
           CAST(last_signup_ts AS VARCHAR) AS last_signup_s
    FROM tagged
    WHERE event_type = 'purchase'
    """,
)
def events_asof_signup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    ev = _t(spark, sf_dir, "events")
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    last_signup = F.max(
        F.when(F.col("event_type") == "signup", F.col("ts"))
    ).over(w)
    return (
        ev.withColumn("last_signup_ts", last_signup)
        .filter(F.col("event_type") == "purchase")
        .select(
            "event_id",
            "user_id",
            F.col("ts").cast("string").alias("ts_s"),
            F.col("last_signup_ts").cast("string").alias("last_signup_s"),
        )
    )


# ---------------------------------------------------------------------------
# IVF-indexed approximate top-k (sampled k-means centroids, n_probe cluster
# prune, exact cosine within probed clusters). r11: rows-only → FULL hash
# check. The Spark trainer samples the 2048 smallest ids (deterministic,
# bit-identical to the pyarrow twin — pinned in pytest), and the twin
# cosine_topk_ivf_parquet replicates the probe pipeline end to end with
# Catalyst's LEFT-TO-RIGHT fold order, so the RAW double scores match
# bit for bit and render as exact repr literals — no rounding layer.
# ---------------------------------------------------------------------------
@functools.cache
def _ann_cosine_ivf_oracle(sf_dir: str) -> str:
    from ..operators.similarity import cosine_topk_ivf_parquet

    rows = cosine_topk_ivf_parquet(os.path.join(sf_dir, "embeddings.parquet"))
    values = ", ".join(f"({i}, {s!r})" for i, s in rows)
    return f"""
    SELECT CAST(v.i AS BIGINT) AS vec_id, CAST(v.s AS DOUBLE) AS score
    FROM (VALUES {values}) v(i, s)
    """


@register("ann_cosine_topk_ivf", oracle=_ann_cosine_ivf_oracle)
def ann_cosine_topk_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import cosine_topk_ivf, train_ivf_centroids

    emb = _t(spark, sf_dir, "embeddings")
    # Request acquisition: an ANN probe needs its query vector driver-side
    # to pick which clusters to probe — one bounded keyed fetch, the
    # stand-in for "the request supplies the vector".
    qv = [float(x) for x in emb.filter(F.col("vec_id") == 0).first()["embedding"]]
    centroids = train_ivf_centroids(
        emb, "embedding", n_clusters=16, seed=42, id_col="vec_id"
    )
    return cosine_topk_ivf(
        emb, "vec_id", "embedding", qv, centroids, k=10, n_probe=4
    )


# ---------------------------------------------------------------------------
# Driver-checkable face of the IVF ANN (VERDICT r3 item 6 pattern; since
# r11 the IVF query above is ALSO hash-checked via the fold-exact twin —
# this face stays as the independent recall/anchor audit).
# This face emits, in one row:
#   min_exact_score — min cosine of the TRUE top-10 (rounded 6 dp), the
#     oracle-replicable differential anchor (brute-force math drift → hash
#     red);
#   recall_ok — |ivf_top10 ∩ brute_top10| ≥ 2. Calibrated at the
#     registered operating point (16 clusters, n_probe=4): measured
#     recall is 7/10 at sf0.001 and sf0.01, 3/10 at sf0.1 (the synthetic
#     embeddings are near-isotropic, so 4/16 probed cells is genuinely
#     approximate). A broken bucketizer/probe degenerates to ~random-25%
#     candidates → expected overlap ≈ 10·0.25·(10/N) ≈ 0 — the floor
#     separates "working index" from "garbage index" at every SF without
#     overfitting to one corpus draw;
#   prune_ok — the probed-candidate fraction lies in [5%, 60%] (expected
#     ≈ n_probe/n_clusters = 25%): a filter that silently stops pruning
#     (scans everything — the 100 TB failure mode) or prunes to nothing
#     flips it.
# ---------------------------------------------------------------------------
@register(
    "ann_ivf_recall_check",
    oracle=f"""
    WITH {_COSINE_Q0_CTES}, topk AS (
      SELECT score FROM scored ORDER BY score DESC, vec_id ASC LIMIT 10
    )
    SELECT MIN(score) AS min_exact_score, TRUE AS recall_ok, TRUE AS prune_ok
    FROM topk
    """,
)
def ann_ivf_recall_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import (
        assign_ivf_cluster,
        cosine_topk_ivf,
        ivf_probes,
        train_ivf_centroids,
    )

    emb = _t(spark, sf_dir, "embeddings")
    qv = [float(x) for x in emb.filter(F.col("vec_id") == 0).first()["embedding"]]
    centroids = train_ivf_centroids(
        emb, "embedding", n_clusters=16, seed=42, id_col="vec_id"
    )
    ivf = cosine_topk_ivf(emb, "vec_id", "embedding", qv, centroids, k=10, n_probe=4)
    brute = cosine_topk(emb, "vec_id", "embedding", qv, k=10, round_to=6)

    # same probe selection as cosine_topk_ivf (nearest-4 centroids)
    cand = assign_ivf_cluster(emb, "embedding", centroids).filter(
        F.col("cluster").isin(ivf_probes(centroids, qv, 4))
    )

    overlap = brute.join(ivf.select("vec_id"), "vec_id", "left_semi").agg(
        F.count(F.lit(1)).alias("__n_overlap")
    )
    minsc = brute.agg(F.min("score").alias("min_exact_score"))
    n_cand = cand.agg(F.count(F.lit(1)).alias("__n_cand"))
    n_tot = emb.agg(F.count(F.lit(1)).alias("__n_tot"))
    # all four sides are 1-row aggregates — broadcast joins of single rows
    return (
        minsc.join(F.broadcast(overlap))
        .join(F.broadcast(n_cand))
        .join(F.broadcast(n_tot))
        .select(
            "min_exact_score",
            (F.col("__n_overlap") >= 2).alias("recall_ok"),
            (
                (F.col("__n_cand") * 20 >= F.col("__n_tot"))
                & (F.col("__n_cand") * 5 <= F.col("__n_tot") * 3)
            ).alias("prune_ok"),
        )
    )


# ---------------------------------------------------------------------------
# Fully hash-checked IVF probe (VERDICT r4 item 2). The production IVF
# query above trains via a Spark-sampled k-means; this face trains the
# SAME k-means core on a pyarrow-read, id-ordered sample of the SAME
# parquet (train_ivf_centroids_parquet) — no query engine involved — so
# the centroids, the probe IN-list, and the query vector are all
# engine-shared constants, and assignment + probe + exact-cosine top-k
# is DuckDB-replicable end to end (the _planes_sql trick generalized
# from random literals to trained ones). Cross-engine stability margins
# (measured r5, all SFs — see tools/measure_margins.py):
#   centroid-assignment gap (best vs 2nd-best squared distance) ≥ 1.3e-5
#     vs formula noise ≤ ~1e-9 (the pandas UDF expands ||x-c||² as
#     ||c||²-2x·c; DuckDB folds (x-c)² termwise);
#   probe boundary (4th vs 5th nearest centroid) ≥ 4.5e-3;
#   6-dp rounding-boundary distance ≥ 3.2e-10 abs vs ~1e-15 noise.
# ---------------------------------------------------------------------------
@functools.cache
def _ivf_shared(sf_dir: str) -> tuple[list[list[float]], list[float], list[int]]:
    """(centroids, query_vec, probes) derived engine-independently from
    ``{sf_dir}/embeddings.parquet`` — cached per sf_dir (one bounded
    pyarrow read + a 2048-row k-means)."""
    import numpy as np
    import pyarrow.parquet as pq

    from ..operators.similarity import ivf_probes, train_ivf_centroids_parquet

    path = f"{sf_dir.rstrip('/')}/embeddings.parquet"
    C = train_ivf_centroids_parquet(path, n_clusters=16, seed=42)
    t = pq.read_table(path, columns=["vec_id", "embedding"])
    vid = np.asarray(t.column("vec_id"))
    qv = [float(x) for x in t.column("embedding")[int(np.nonzero(vid == 0)[0][0])].as_py()]
    return C, qv, ivf_probes(C, qv, 4)


def _cents_sql(C: list[list[float]]) -> str:
    """Centroids as a DuckDB list-of-lists double literal (repr round-trips
    each float exactly, so both engines parse the identical bit pattern)."""
    return (
        "["
        + ",".join("[" + ",".join(repr(float(v)) for v in c) + "]" for c in C)
        + "]"
    )


# Nearest trained centroid, declared once for the five oracles that
# replay IVF assignment on the _ivf_shared literals: ``cents`` holds the
# centroids (_cents_cte); the LATERAL ``d`` lists the squared L2 distance from the
# row's vector ``{vec}`` (element ``{x}``, DOUBLE) to each centroid; and
# ``cluster`` is the 0-based argmin — first minimum on ties, as numpy's
# argmin in assign_ivf_cluster.
_CENT_DISTS_LATERAL = """LATERAL (SELECT list_transform(cents.C, c ->
                      list_sum(list_transform(list_zip({vec}, c),
                        p -> ({x} - p[2]) * ({x} - p[2])))) AS dists) d"""
_CLUSTER_SQL = "list_position(d.dists, list_min(d.dists)) - 1 AS cluster"
_V_DOUBLE_CTE = """v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ve
          FROM embeddings)"""
# The semantic-dedup assignment over ``v``: per-row norm, unit vector
# (normalized ONCE per row, mirroring semantic_dedup's Spark shape
# element-for-element so the float op order — and the hash — match) and
# nearest-centroid cluster; ``{key}`` and ``{source}`` name the row key
# and the relation joined to ``v``.
_UNIT_CLUSTER_SQL = f"""SELECT {{key}}, n.nrm,
             list_transform(v.ve, x -> x / n.nrm) AS ue,
             {_CLUSTER_SQL}
      FROM {{source}}, cents,
           LATERAL (SELECT sqrt(list_sum(list_transform(v.ve, x -> x*x)))
                      AS nrm) n,
           {_CENT_DISTS_LATERAL.format(vec="v.ve", x="p[1]")}"""
_SEMANTIC_ASSIGNED_CTES = f"""{_V_DOUBLE_CTE},
    assigned AS (
      {_UNIT_CLUSTER_SQL.format(key="v.vec_id", source="v")}
    )"""


def _cents_cte(C: list[list[float]]) -> str:
    return f"cents AS (SELECT {_cents_sql(C)} AS C)"


def _ann_ivf_probe_oracle(sf_dir: str) -> str:
    C, _qv, probes = _ivf_shared(sf_dir)
    in_list = ",".join(str(p) for p in probes)
    return f"""
    WITH {_cents_cte(C)},
    q AS (SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv
          FROM embeddings WHERE vec_id = 0),
    assigned AS (
      SELECT e.vec_id, e.embedding, {_CLUSTER_SQL}
      FROM embeddings e, cents,
           {_CENT_DISTS_LATERAL.format(vec="e.embedding", x="CAST(p[1] AS DOUBLE)")}
    )
    SELECT a.vec_id,
           round(
             list_sum(list_transform(list_zip(a.embedding, q.qv),
                      p -> CAST(p[1] AS DOUBLE) * p[2]))
             / (sqrt(list_sum(list_transform(a.embedding,
                      x -> CAST(x AS DOUBLE) * x)))
                * sqrt(list_sum(list_transform(q.qv, x -> x * x)))),
             6) AS score
    FROM assigned a, q
    WHERE a.cluster IN ({in_list})
    ORDER BY score DESC, vec_id ASC LIMIT 10
    """


@register("ann_ivf_probe_topk", oracle=_ann_ivf_probe_oracle)
def ann_ivf_probe_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import cosine_topk_ivf

    C, qv, _probes = _ivf_shared(sf_dir)
    emb = _t(spark, sf_dir, "embeddings")
    return cosine_topk_ivf(
        emb, "vec_id", "embedding", qv, C, k=10, n_probe=4, round_to=6
    )


# ---------------------------------------------------------------------------
# SemDeDup-style semantic deduplication (Abbas et al., arXiv:2303.09540):
# cluster embeddings on the trained centroids, drop every row with a
# lower-id same-cluster neighbor at cosine ≥ 0.35, keep the survivors.
# Fully hash-checked via the same engine-shared trained-centroid
# literals as ann_ivf_probe_topk — the oracle replicates assignment,
# within-cluster pairing, and the threshold decision. Output includes
# the cluster id, so every surviving row also asserts assignment parity.
# τ = 0.35 sits at a verified gap of the within-cluster cosine
# distribution: min |cos − 0.35| ≥ 4.7e-5 on all three corpora
# (tools/measure_margins.py) vs the ~1e-12 summation-noise floor.
# ---------------------------------------------------------------------------
def _dedup_semantic_oracle(sf_dir: str) -> str:
    # Pair test = dot of the per-row unit vectors of _UNIT_CLUSTER_SQL.
    C, _qv, _probes = _ivf_shared(sf_dir)
    return f"""
    WITH {_cents_cte(C)},
    {_SEMANTIC_ASSIGNED_CTES},
    dups AS (
      SELECT DISTINCT b.vec_id
      FROM assigned a JOIN assigned b
        ON a.cluster = b.cluster AND a.vec_id < b.vec_id
      WHERE a.nrm <> 0 AND b.nrm <> 0
        AND list_sum(list_transform(list_zip(a.ue, b.ue), p -> p[1]*p[2]))
            >= 0.35
    )
    SELECT vec_id, cluster FROM assigned
    WHERE vec_id NOT IN (SELECT vec_id FROM dups)
    """


@register("dedup_semantic", oracle=_dedup_semantic_oracle)
def dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import semantic_dedup

    C, _qv, _probes = _ivf_shared(sf_dir)
    emb = _t(spark, sf_dir, "embeddings")
    return semantic_dedup(emb, "vec_id", "embedding", C, threshold=0.35)


# ---------------------------------------------------------------------------
# Incremental-ingest face of the semantic dedup: new embeddings
# (vec_id%5==4) matched against the historical corpus, same-cluster
# pairs only. Fully hash-checked via the shared trained-centroid
# literals (same margins as dedup_semantic — τ at a verified gap).
# ---------------------------------------------------------------------------
def _dedup_semantic_incr_oracle(sf_dir: str) -> str:
    C, _qv, _probes = _ivf_shared(sf_dir)
    return f"""
    WITH {_cents_cte(C)},
    {_SEMANTIC_ASSIGNED_CTES}
    SELECT n.vec_id AS new_id, o.vec_id AS old_id
    FROM assigned n JOIN assigned o ON n.cluster = o.cluster
    WHERE n.vec_id % 5 = 4 AND o.vec_id % 5 <> 4
      AND n.nrm <> 0 AND o.nrm <> 0
      AND list_sum(list_transform(list_zip(n.ue, o.ue), p -> p[1]*p[2]))
          >= 0.35
    """


@register("dedup_semantic_incremental", oracle=_dedup_semantic_incr_oracle)
def dedup_semantic_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import semantic_matches_between

    C, _qv, _probes = _ivf_shared(sf_dir)
    emb = _t(spark, sf_dir, "embeddings")
    new = emb.filter(F.col("vec_id") % 5 == 4)
    old = emb.filter(F.col("vec_id") % 5 != 4)
    return semantic_matches_between(new, old, "vec_id", "embedding", C, threshold=0.35)


# ---------------------------------------------------------------------------
# Product quantization (Jégou et al., TPAMI 2011): the compressed-vector
# ANN tier completing brute → LSH → IVF → PQ. Codebooks are trained by
# the pyarrow twin (train_pq_codebooks_parquet — same bounded bottom-k
# sample + k-means core as IVF) and rendered as engine-shared literals;
# the code is emitted PACKED into two BIGINTs of 8 nibbles each (m=16
# subspaces × 4 bits at ksub=16 = 64 bits — 8 bytes per vector vs 256
# of float32, the 32× storage/scan story made literal; 16 nibbles in
# ONE signed BIGINT would overflow at code[15] ≥ 8), so the hash check
# is over exact integers. ADC scoring sums m literal-table lookups in
# fixed order — bit-identical doubles in both engines — and the
# production face ADC-shortlists 100 candidates then exact-reranks only
# those (recall@100 measured 8-10/10 across SFs; raw ADC top-10 is the
# conventional pre-rerank cut). Cross-engine argmin parity rests on the
# measured per-subspace assignment-gap margin
# (tools/measure_margins.py), the IVF convention.
# ---------------------------------------------------------------------------
_PQ_M, _PQ_KSUB = 16, 16


@functools.cache
def _pq_shared(sf_dir: str) -> tuple[list[list[list[float]]], list[float]]:
    import numpy as np
    import pyarrow.parquet as pq

    from ..operators.similarity import train_pq_codebooks_parquet

    path = f"{sf_dir.rstrip('/')}/embeddings.parquet"
    cb = train_pq_codebooks_parquet(path, m=_PQ_M, ksub=_PQ_KSUB, seed=42)
    t = pq.read_table(path, columns=["vec_id", "embedding"])
    vid = np.asarray(t.column("vec_id"))
    qv = [
        float(x)
        for x in t.column("embedding")[int(np.nonzero(vid == 0)[0][0])].as_py()
    ]
    return cb, qv


def _pq_books_sql(cb: list[list[list[float]]]) -> str:
    """Codebooks as a DuckDB list-of-list-of-lists double literal."""
    return (
        "["
        + ",".join(_cents_sql(book) for book in cb)
        + "]"
    )


def _pq_packed_code_spark(code_col: str, lo: bool) -> F.Column:
    """8 of the m 4-bit subspace codes packed into one BIGINT — codes
    1..8 (``lo``) or 9..16 — a fixed shift-add chain, exact integer."""
    base = 0 if lo else 8
    packed = None
    for j in range(8):
        term = F.shiftleft(
            F.element_at(F.col(code_col), base + j + 1).cast("bigint"), 4 * j
        )
        packed = term if packed is None else packed + term
    return packed


def _pq_assigned_sql(cb: list[list[list[float]]]) -> str:
    """Shared oracle CTE: per-vector per-subspace argmin codes + the two
    packed BIGINTs — ONE definition for all PQ oracles."""
    dsub = 64 // _PQ_M
    return f"""
    WITH books AS (SELECT {_pq_books_sql(cb)} AS B),
    {_V_DOUBLE_CTE},
    coded AS (
      SELECT v.vec_id,
             list_transform(range(1, {_PQ_M + 1}), j ->
               list_position(
                 list_transform(books.B[j], c ->
                   list_sum(list_transform(
                     list_zip(v.ve[(j-1)*{dsub}+1 : (j-1)*{dsub}+{dsub}], c),
                     p -> (p[1] - p[2]) * (p[1] - p[2])))),
                 list_min(
                 list_transform(books.B[j], c ->
                   list_sum(list_transform(
                     list_zip(v.ve[(j-1)*{dsub}+1 : (j-1)*{dsub}+{dsub}], c),
                     p -> (p[1] - p[2]) * (p[1] - p[2])))))
               ) - 1) AS code
      FROM v, books
    ),
    packed AS (
      SELECT vec_id, code,
             list_sum(list_transform(range(1, 9),
               j -> code[j] * (1::BIGINT << (4 * (j - 1))))) AS code_lo,
             list_sum(list_transform(range(9, {_PQ_M + 1}),
               j -> code[j] * (1::BIGINT << (4 * (j - 9))))) AS code_hi
      FROM coded
    )"""


def _embedding_pq_codes_oracle(sf_dir: str) -> str:
    cb, _qv = _pq_shared(sf_dir)
    return (
        _pq_assigned_sql(cb)
        + """
    SELECT vec_id, CAST(code_lo AS BIGINT) AS code_lo,
           CAST(code_hi AS BIGINT) AS code_hi
    FROM packed
    """
    )


@register("embedding_pq_codes", oracle=_embedding_pq_codes_oracle)
def embedding_pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every vector's PQ code, packed to two BIGINTs — the ingest-time
    encode pass. 256 bytes of float32 become 8 bytes per row; at 100 TB
    the ADC query path scans ~3 TB of codes instead of the vectors."""
    from ..operators.similarity import pq_encode

    cb, _qv = _pq_shared(sf_dir)
    emb = _t(spark, sf_dir, "embeddings")
    coded = pq_encode(emb, "embedding", cb, "__code")
    return coded.select(
        "vec_id",
        _pq_packed_code_spark("__code", lo=True).alias("code_lo"),
        _pq_packed_code_spark("__code", lo=False).alias("code_hi"),
    )


def _pq_lut_sql(
    cb: list[list[list[float]]], qv: list[float]
) -> tuple[str, str]:
    """(LUT literal, fixed-order ADC sum expression) — the query-side ADC
    table ``LUT[j][c] = ||q_j − cb[j][c]||²`` as a DuckDB literal, and
    the m-term sum written out so both engines add in index order."""
    import numpy as np

    q = np.asarray(qv, dtype="float64")
    dsub = len(q) // _PQ_M
    lut = [
        [
            float(((q[j * dsub : (j + 1) * dsub] - np.asarray(c)) ** 2).sum())
            for c in cb[j]
        ]
        for j in range(_PQ_M)
    ]
    lut_sql = (
        "[" + ",".join("[" + ",".join(repr(v) for v in row) + "]" for row in lut) + "]"
    )
    # each lookup is cast to DOUBLE: DuckDB parses bare decimal literals
    # as DECIMAL, and a DECIMAL-only sum would run in decimal arithmetic
    # (caught at sf0.1: a trailing-zero 6th decimal formatted differently
    # AND the addition class differed from Spark's double chain). The
    # books literal needs no cast — its values always mix with the
    # DOUBLE-cast embedding, which promotes.
    adc_terms = " + ".join(
        f"CAST(L[{j + 1}][code[{j + 1}] + 1] AS DOUBLE)" for j in range(_PQ_M)
    )
    return lut_sql, adc_terms


def _ann_pq_adc_oracle(sf_dir: str) -> str:
    cb, qv = _pq_shared(sf_dir)
    lut_sql, adc_terms = _pq_lut_sql(cb, qv)
    return (
        _pq_assigned_sql(cb)
        + f"""
    SELECT vec_id, round({adc_terms}, 6) AS adc_dist
    FROM packed, (SELECT {lut_sql} AS L)
    ORDER BY adc_dist ASC, vec_id ASC LIMIT 10
    """
    )


@register("ann_pq_adc_topk", oracle=_ann_pq_adc_oracle)
def ann_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ADC top-10 nearest (squared L2) to the vec_id-0 query via m
    literal-table lookups per row — TakeOrderedAndProject over a narrow
    projection, no float vector read at query time."""
    from ..operators.similarity import pq_adc_topk

    cb, qv = _pq_shared(sf_dir)
    emb = _t(spark, sf_dir, "embeddings")
    return pq_adc_topk(
        emb, "vec_id", "embedding", qv, cb, k=10, round_to=6
    )


def _pq_exact_d2_spark(qv: list[float]) -> F.Column:
    """Termwise-fold exact squared L2 to the query literal — same op
    order as the oracle's list_sum fold."""
    qlit = F.array(*[F.lit(float(x)) for x in qv])
    return F.aggregate(
        F.zip_with(
            F.col("embedding").cast("array<double>"),
            qlit,
            lambda a, b: (a - b) * (a - b),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _ann_pq_rerank_oracle(sf_dir: str) -> str:
    cb, qv = _pq_shared(sf_dir)
    lut_sql, adc_terms = _pq_lut_sql(cb, qv)
    return (
        _pq_assigned_sql(cb)
        + f"""
    , shortlist AS (
      SELECT vec_id, round({adc_terms}, 6) AS adc_dist
      FROM packed, (SELECT {lut_sql} AS L)
      ORDER BY adc_dist ASC, vec_id ASC LIMIT 100
    ),
    q AS (SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv
          FROM embeddings WHERE vec_id = 0)
    SELECT e.vec_id,
           round(list_sum(list_transform(list_zip(e.embedding, q.qv),
             p -> (CAST(p[1] AS DOUBLE) - p[2])
                * (CAST(p[1] AS DOUBLE) - p[2]))), 6) AS d2
    FROM embeddings e JOIN shortlist s ON e.vec_id = s.vec_id, q
    ORDER BY d2 ASC, e.vec_id ASC LIMIT 10
    """
    )


@register("ann_pq_rerank_topk", oracle=_ann_pq_rerank_oracle)
def ann_pq_rerank_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production PQ pattern: ADC shortlists 100 candidates from the
    8-byte codes (scan-bound, no float vector read), then ONLY those 100
    rows are exact-reranked — recall@100 measured 8-10/10 across SFs
    where raw ADC top-10 lands 2-6/10. The rerank side touches 100
    vectors however large the table."""
    from ..operators.similarity import pq_adc_topk

    cb, qv = _pq_shared(sf_dir)
    emb = _t(spark, sf_dir, "embeddings")
    shortlist = pq_adc_topk(
        emb, "vec_id", "embedding", qv, cb, k=100, round_to=6
    ).select("vec_id")
    return (
        emb.join(F.broadcast(shortlist), "vec_id", "left_semi")
        .select("vec_id", F.round(_pq_exact_d2_spark(qv), 6).alias("d2"))
        .orderBy(F.col("d2").asc(), F.col("vec_id").asc())
        .limit(10)
    )


def _ann_pq_recall_oracle(sf_dir: str) -> str:
    return """
    WITH q AS (SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv
               FROM embeddings WHERE vec_id = 0),
    exact AS (
      SELECT e.vec_id,
             list_sum(list_transform(list_zip(e.embedding, q.qv),
               p -> (CAST(p[1] AS DOUBLE) - p[2])
                  * (CAST(p[1] AS DOUBLE) - p[2]))) AS d2
      FROM embeddings e, q
    ), topk AS (
      SELECT vec_id, d2 FROM exact ORDER BY d2 ASC, vec_id ASC LIMIT 10
    )
    SELECT CAST(round(MAX(d2) * 1000000) AS BIGINT) AS max_exact_d2_micro,
           TRUE AS recall_ok
    FROM topk
    """


@register("ann_pq_recall_check", oracle=_ann_pq_recall_oracle)
def ann_pq_recall_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ quality gate: the reranked shortlist top-10 must recover >= 7
    of the exact squared-L2 top-10 (measured 8-10/10 at m=16, ksub=16
    across all three SFs — the oracle's TRUE is fixture-pinned like the
    CMS upper_ok: a regenerated embeddings table could legitimately dip
    below without an implementation bug). The exact side replicates in
    the oracle; recall_ok is asserted Spark-side like
    ann_ivf_recall_check's."""
    cb, qv = _pq_shared(sf_dir)
    emb = _t(spark, sf_dir, "embeddings")
    rerank = QUERIES["ann_pq_rerank_topk"](spark, sf_dir)

    exact = (
        emb.select("vec_id", _pq_exact_d2_spark(qv).alias("d2"))
        .orderBy(F.col("d2").asc(), F.col("vec_id").asc())
        .limit(10)
    )
    overlap = exact.join(rerank.select("vec_id"), "vec_id", "left_semi").agg(
        F.count(F.lit(1)).alias("__n_overlap")
    )
    mx = exact.agg(
        F.round(F.max("d2") * 1e6).cast("bigint").alias("max_exact_d2_micro")
    )
    return mx.join(F.broadcast(overlap)).select(
        "max_exact_d2_micro",
        (F.col("__n_overlap") >= 7).alias("recall_ok"),
    )


# ---------------------------------------------------------------------------
# IVF-PQ: the two tiers composed — the FAISS-default shape at scale.
# Coarse IVF probing prunes the scan to n_probe clusters (partition
# pruning on a cluster-partitioned table), ADC scores only the
# candidates' 8-byte codes, and the exact rerank touches just the
# shortlist. This variant encodes RAW vectors (not per-cluster
# residuals — residual codebooks would need one PQ trainer per coarse
# cell; at 16 cells × this corpus the raw-vector variant loses little
# and keeps ONE engine-shared codebook set, so the whole pipeline stays
# hash-checkable). Every constant is already trained: IVF centroids +
# probe list from _ivf_shared, PQ books/LUT from
# _pq_shared — both twins, both literal-rendered.
# ---------------------------------------------------------------------------
def _ann_ivfpq_oracle(sf_dir: str) -> str:
    cb, qv = _pq_shared(sf_dir)
    C, _qv2, probes = _ivf_shared(sf_dir)
    lut_sql, adc_terms = _pq_lut_sql(cb, qv)
    in_list = ",".join(str(p) for p in probes)
    return (
        _pq_assigned_sql(cb)
        + f"""
    , {_cents_cte(C)},
    clustered AS (
      SELECT v.vec_id, {_CLUSTER_SQL}
      FROM v, cents,
           {_CENT_DISTS_LATERAL.format(vec="v.ve", x="p[1]")}
    ),
    shortlist AS (
      SELECT p.vec_id, round({adc_terms}, 6) AS adc_dist
      FROM packed p JOIN clustered cl ON p.vec_id = cl.vec_id,
           (SELECT {lut_sql} AS L)
      WHERE cl.cluster IN ({in_list})
      ORDER BY adc_dist ASC, p.vec_id ASC LIMIT 50
    ),
    q AS (SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv
          FROM embeddings WHERE vec_id = 0)
    SELECT e.vec_id,
           round(list_sum(list_transform(list_zip(e.embedding, q.qv),
             p -> (CAST(p[1] AS DOUBLE) - p[2])
                * (CAST(p[1] AS DOUBLE) - p[2]))), 6) AS d2
    FROM embeddings e JOIN shortlist s ON e.vec_id = s.vec_id, q
    ORDER BY d2 ASC, e.vec_id ASC LIMIT 10
    """
    )


@register("ann_ivfpq_topk", oracle=_ann_ivfpq_oracle)
def ann_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ top-10: probe the 4 nearest coarse clusters (IN-list →
    partition pruning on a cluster-partitioned table), ADC-score only
    those candidates' codes, exact-rerank the 50-row shortlist. At
    100 TB the query reads n_probe/n_clusters of the CODE column
    (~3 TB × 1/4) and exactly 50 float vectors."""
    from ..operators.similarity import assign_ivf_cluster, pq_adc_topk

    cb, qv = _pq_shared(sf_dir)
    C, _qv2, probes = _ivf_shared(sf_dir)
    emb = _t(spark, sf_dir, "embeddings")
    cands = assign_ivf_cluster(emb, "embedding", C).filter(
        F.col("cluster").isin([int(p) for p in probes])
    )
    shortlist = pq_adc_topk(
        cands, "vec_id", "embedding", qv, cb, k=50, round_to=6
    ).select("vec_id")
    return (
        emb.join(F.broadcast(shortlist), "vec_id", "left_semi")
        .select("vec_id", F.round(_pq_exact_d2_spark(qv), 6).alias("d2"))
        .orderBy(F.col("d2").asc(), F.col("vec_id").asc())
        .limit(10)
    )


def _ivfpq_upsert_index(spark: SparkSession, sf_dir: str) -> str:
    """Materialize (once per embeddings content) an IVF-PQ index built
    INCREMENTALLY rather than in one shot: an 80% base build, then an
    upsert that re-embeds the 20% holdout with WRONG (reversed) vectors,
    then the corrective re-upsert with the true vectors. The corrective
    batch exercises every maintenance path at once — bootstrap-free
    adds, key replacement, and cross-cluster stale-row relocation (a
    reversed vector usually assigns to a different coarse cluster than
    the true one). If the upsert machinery is correct, the final index
    is bit-identical to a clean full build.

    The index is cached under /tmp keyed by the embeddings file's
    identity (size + mtime) and committed by staging-dir rename, so
    repeated calls time only the probe-pruned query — the steady-state
    shape of a MAINTAINED index, which is the thing this face checks.
    The os-path cache is FACE-LOCAL test scaffolding (the driver runs
    single-process against local parquet); the operators it drives —
    build/upsert/query_ivfpq_table — do their own filesystem work
    through Spark/Hadoop and stay scheme-agnostic.
    """
    import hashlib
    import shutil

    from ..operators.similarity import build_ivfpq_table, upsert_ivfpq_table

    src = f"{sf_dir.rstrip('/')}/embeddings.parquet"
    st = os.stat(src)
    key = hashlib.md5(
        f"{src}:{st.st_size}:{int(st.st_mtime)}".encode()
    ).hexdigest()[:16]
    path = f"/tmp/spark_graft_ivfpq_upsert_{key}"
    marker = os.path.join(path, "_UPSERT_COMMITTED")
    if os.path.exists(marker):
        return path
    shutil.rmtree(path, ignore_errors=True)

    C, _qv, _probes = _ivf_shared(sf_dir)
    cb, _qv2 = _pq_shared(sf_dir)
    emb = _t(spark, sf_dir, "embeddings")
    hold = F.col("vec_id") % 5 == 0

    staging = path + ".staging"
    shutil.rmtree(staging, ignore_errors=True)
    build_ivfpq_table(
        emb.filter(~hold), staging, "vec_id", "embedding",
        centroids=C, codebooks=cb,
    )
    upsert_ivfpq_table(
        emb.filter(hold).withColumn("embedding", F.reverse("embedding")),
        staging, C, cb, "vec_id", "embedding",
    )
    upsert_ivfpq_table(emb.filter(hold), staging, C, cb, "vec_id", "embedding")
    with open(os.path.join(staging, "_UPSERT_COMMITTED"), "w") as fh:
        fh.write("ok\n")
    os.rename(staging, path)
    return path


@register("ann_ivfpq_upsert_check", oracle=_ann_ivfpq_oracle)
def ann_ivfpq_upsert_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-maintenance parity: the IVF-PQ top-10 queried against
    an index assembled by UPSERTS (80% build → wrong-vector re-embed →
    corrective re-upsert, see :func:`_ivfpq_upsert_index`) must equal the
    full-build answer — the oracle is ``ann_ivfpq_topk``'s, computed over
    the whole table, so a hash match proves the upsert path (key
    replacement + cross-cluster stale-row relocation) converges to the
    rebuild. At 100 TB this is the invariant that lets a daily embedding
    batch land as a handful of partition rewrites instead of a 3 TB
    index rebuild."""
    from ..operators.similarity import query_ivfpq_table

    C, _qv, _probes = _ivf_shared(sf_dir)
    cb, qv = _pq_shared(sf_dir)
    path = _ivfpq_upsert_index(spark, sf_dir)
    emb = _t(spark, sf_dir, "embeddings")
    return query_ivfpq_table(
        spark, path, emb, "vec_id", "embedding", qv, C, cb,
        k=10, n_probe=4, shortlist=50, out="d2",
    )


# ---------------------------------------------------------------------------
# BM25 retrieval scoring (Okapi; the classic lexical-retrieval ranking a
# training-data pipeline uses for eval-set mining and query-based corpus
# slicing). The corpus statistics — per-term idf and average document
# length — are computed engine-independently (pyarrow scan, exact int
# counts, the log runs in the DRIVER) and rendered as shared literals in
# both plans, so no transcendental libm call (whose last ulp differs
# across engines) executes inside either query: scoring is pure rational
# arithmetic in identical op order → fully hash-checked. In-plan this is
# a narrow projection — scan-speed, no shuffle, no join.
# ---------------------------------------------------------------------------
_BM25_TERMS = ["spark", "window", "sort", "merge"]
_BM25_K1, _BM25_B = 1.2, 0.75


@functools.cache
def _bm25_shared(sf_dir: str) -> tuple[dict[str, float], float]:
    """(idf per term, avgdl) from {sf_dir}/documents.parquet.

    A driver-side full scan of the text column — a TEST-SCALE
    convenience standing in for the production stats pass: at 100 TB
    these statistics come from a Spark aggregation over the previous
    corpus snapshot (or rolling counters), and ``bm25_scores`` takes
    them as plain inputs either way. Token semantics match
    word_tokens/_WS_TOKENS_SQL (split on whitespace runs, drop empties).
    """
    import math
    import re

    import pyarrow.parquet as pq

    t = pq.read_table(f"{sf_dir.rstrip('/')}/documents.parquet", columns=["text"])
    texts = t.column("text").to_pylist()
    n_docs, total_len = len(texts), 0
    dfreq = dict.fromkeys(_BM25_TERMS, 0)
    for x in texts:
        # Java \s class, explicitly — Python's \s is Unicode-wide and
        # RE2's lacks \x0b; all three tokenizers share this one class
        toks = [w for w in re.split("[ \t\n\x0b\f\r]+", x) if w]
        total_len += len(toks)
        for term in set(toks) & set(_BM25_TERMS):
            dfreq[term] += 1
    idf = {
        term: math.log(1.0 + (n_docs - dfreq[term] + 0.5) / (dfreq[term] + 0.5))
        for term in _BM25_TERMS
    }
    return idf, total_len / n_docs


def _text_bm25_oracle(sf_dir: str) -> str:
    idf, avgdl = _bm25_shared(sf_dir)
    k1p1 = repr(_BM25_K1 + 1.0)
    one_minus_b = repr(1.0 - _BM25_B)
    parts = []
    for term in _BM25_TERMS:
        tf = (
            f"CAST(len(list_filter({_WS_TOKENS_SQL.format(col='text')},"
            f" x -> x = '{term}')) AS DOUBLE)"
        )
        num = f"{repr(idf[term])} * ({tf} * {k1p1})"
        den = (
            f"{tf} + {repr(_BM25_K1)} * ({one_minus_b} + {repr(_BM25_B)}"
            f" * (dl / {repr(avgdl)}))"
        )
        parts.append(f"({num}) / ({den})")
    total = " + ".join(parts)
    return f"""
    WITH d AS (
      SELECT doc_id, text,
             CAST(len({_WS_TOKENS_SQL.format(col="text")}) AS DOUBLE) AS dl
      FROM documents
    )
    SELECT doc_id, round({total}, 6) AS bm25 FROM d
    """


# ---------------------------------------------------------------------------
# Count-min sketch over document tokens (Cormode-Muthukrishnan) — the
# mergeable FREQUENCY sketch completing the sketch tier next to the HLL
# distinct-count and theta set-algebra rollups. r11: the build itself is
# now a FULL hash check — the xxh64-twin grid replica
# (sketch.cms_token_cells_parquet) renders every non-empty cell as a
# VALUES literal, the dedup_minhash/dedup_simhash move. The check face
# additionally probes six terms (heavy hitters + absent words) and
# asserts the two CMS guarantees against oracle-replicated exact counts:
# estimate ≥ true ALWAYS (the deterministic over-count invariant) and
# estimate ≤ true + (e/width)·N (holds w.p. 1−e^{−depth}; measured
# overcount on all three corpora: 0). The oracle's `TRUE AS upper_ok` is
# fixture-pinned like orders_join_size_cms_check's (see the ADVICE-r6
# note there): true for this seed family + grid + data, probabilistic in
# general.
# ---------------------------------------------------------------------------
_CMS_PROBES = ["spark", "window", "sort", "merge", "zebra", "xylophone"]


@functools.cache
def _tokens_cms_oracle(sf_dir: str) -> str:
    from ..operators.sketch import cms_token_cells_parquet

    rows = cms_token_cells_parquet(sf_dir)
    values = ", ".join(f"({s}, {c}, {n})" for s, c, n in rows)
    return f"""
    SELECT CAST(v.s AS INT) AS seed, CAST(v.c AS BIGINT) AS cell,
           CAST(v.n AS BIGINT) AS cnt
    FROM (VALUES {values}) v(s, c, n)
    """


@register("tokens_cms_sketch", oracle=_tokens_cms_oracle)
def tokens_cms_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sketch import cms_build

    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(F.explode(word_tokens(F.col("text"))).alias("tok"))
    return cms_build(toks, "tok", depth=4, width=1024)


@register(
    "tokens_cms_check",
    oracle=rf"""
    WITH toks AS (
      SELECT {_WS_TOKENS_SQL.format(col="text")} AS tk FROM documents
    ),
    tot AS (SELECT CAST(SUM(len(tk)) AS BIGINT) AS n FROM toks),
    probe(term) AS (VALUES {", ".join(f"('{t}')" for t in _CMS_PROBES)}),
    ex AS (
      SELECT term,
             CAST(COALESCE(SUM(len(list_filter(tk, x -> x = term))), 0)
               AS BIGINT) AS exact_count
      FROM probe, toks GROUP BY term
    )
    SELECT term, exact_count, (SELECT n FROM tot) AS n_tokens_total,
           TRUE AS lower_ok, TRUE AS upper_ok
    FROM ex
    """,
)
def tokens_cms_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    import math

    from ..operators.cache import scoped_persist
    from ..operators.sketch import cms_build, cms_estimate

    docs = _t(spark, sf_dir, "documents")
    toks = scoped_persist(
        docs.select(F.explode(word_tokens(F.col("text"))).alias("term"))
    )
    probes = spark.createDataFrame([(t,) for t in _CMS_PROBES], "term string")
    est = cms_estimate(cms_build(toks, "term", 4, 1024), probes, "term", 4, 1024)
    exact = (
        probes.join(
            toks.groupBy("term").agg(F.count(F.lit(1)).alias("__c")),
            "term",
            "left",
        ).select("term", F.coalesce(F.col("__c"), F.lit(0)).alias("exact_count"))
    )
    n_tot = toks.agg(F.count(F.lit(1)).alias("n_tokens_total"))
    bound = F.lit(math.e / 1024.0) * F.col("n_tokens_total")
    # 6-row probe frames + a 1-row total — every join side is bounded
    return (
        est.join(exact, "term")
        .join(n_tot)
        .select(
            "term",
            "exact_count",
            "n_tokens_total",
            (F.col("est") >= F.col("exact_count")).alias("lower_ok"),
            (F.col("est") <= F.col("exact_count") + bound).alias("upper_ok"),
        )
    )


# ---------------------------------------------------------------------------
# Rolling-hash document fingerprints (Rabin-Karp / winnowing family).
# The Spark side is the true O(n) rolling fold (struct accumulator,
# window rolled by subtracting the outgoing char's B^k term); the oracle
# recomputes each window independently — different algorithm, same exact
# integer values, so the hash check verifies the rolling recurrence
# itself. ord('') guard: DuckDB ord('')=-1 vs Spark ascii('')=0.
# ---------------------------------------------------------------------------
_ROLL_ORD = "CAST(CASE WHEN {c} = '' THEN 0 ELSE ord({c}) END AS BIGINT)"


@register(
    "text_winnow_fingerprint",
    oracle=f"""
    SELECT doc_id,
           list_reduce(list_transform(string_split(text, ''),
               c -> {_ROLL_ORD.format(c='c')}),
             (a, b) -> (a * 131 + b) % 1000000007) AS fp_hash,
           CASE WHEN length(text) >= 32 THEN
             list_min(list_transform(range(1, length(text) - 32 + 2),
               i -> list_reduce(list_transform(
                      string_split(substr(text, CAST(i AS INT), 32), ''),
                      c -> {_ROLL_ORD.format(c='c')}),
                    (a, b) -> (a * 131 + b) % 1000000007)))
           END AS winnow_min
    FROM documents
    """,
)
def text_winnow_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.text import rolling_fingerprint

    docs = _t(spark, sf_dir, "documents")
    return rolling_fingerprint(docs, "doc_id", "text", window=32)


#: the winnow_min expression alone (shared by the bucket-join face below)
_WINNOW_MIN_SQL = f"""CASE WHEN length(text) >= 32 THEN
             list_min(list_transform(range(1, length(text) - 32 + 2),
               i -> list_reduce(list_transform(
                      string_split(substr(text, CAST(i AS INT), 32), ''),
                      c -> {_ROLL_ORD.format(c='c')}),
                    (a, b) -> (a * 131 + b) % 1000000007)))
           END"""


# ---------------------------------------------------------------------------
# Winnowing put to work as a dedup face: documents sharing a minimum
# windowed fingerprint are near-dup candidates (Schleimer et al.'s MOSS
# usage). The fingerprint is a CONTENT-derived bucket key, so the
# candidate join is an equi-join on the fingerprint — the same
# bucket-bounded posture as the MinHash/SimHash bands, never all-pairs;
# at 100 TB the fingerprint column is materialized once (it is an
# integer) and the join co-partitions on it.
# ---------------------------------------------------------------------------
@register(
    "dedup_winnow_pairs",
    oracle=f"""
    WITH fp AS (
      SELECT doc_id, {_WINNOW_MIN_SQL} AS winnow_min FROM documents
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.winnow_min AS winnow_min
    FROM fp a JOIN fp b ON a.winnow_min = b.winnow_min AND a.doc_id < b.doc_id
    """,
)
def dedup_winnow_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.cache import scoped_persist
    from ..operators.text import rolling_fingerprint

    from ..operators.dedup import _posting_tail_pairs

    docs = _t(spark, sf_dir, "documents")
    # materialize the fingerprint ONCE: the raw self-join re-evaluated the
    # O(n)-per-doc fold in each side's Filter AND Project (no cross-
    # operator CSE) — 4 evaluations, measured 6.6s vs 0.5s at sf0.1.
    # r12: pair generation is the postings-list expansion (one exchange
    # on the fingerprint, pairs generated group-locally) instead of the
    # fingerprint-keyed self-join — same pair set, two fewer exchanges.
    fp = scoped_persist(
        rolling_fingerprint(docs, "doc_id", "text", window=32)
        .select("doc_id", "winnow_min")
        .filter(F.col("winnow_min").isNotNull())
    )
    # r13 (VERDICT r12 item 7): the >= 2 occupancy test is a count-over-
    # window BEFORE the postings arrays are built, and a fail-loud guard
    # bounds the per-row array the groupBy can materialize — the pair
    # output is O(m²) per fingerprint bucket BY SEMANTICS, so a bucket
    # past the limit (2^20 members ≈ 5e11 pairs) is a degenerate corpus
    # this query must refuse, not OOM on. Pair set unchanged below it.
    from pyspark.sql import Window as W

    wc = F.count(F.lit(1)).over(W.partitionBy("winnow_min"))
    fpc = (
        fp.withColumn("__c", wc)
        .filter(F.col("__c") >= 2)
        .filter(
            F.assert_true(
                F.col("__c") <= F.lit(1 << 20),
                F.concat(
                    F.lit(
                        "dedup_winnow_pairs: fingerprint bucket exceeds the "
                        "postings limit (2^20) — pair output would be "
                        "O(m^2); fingerprint value: "
                    ),
                    F.col("winnow_min").cast("string"),
                ),
            ).isNull()
        )
    )
    posts = fpc.groupBy("winnow_min").agg(
        F.sort_array(F.collect_list("doc_id")).alias("__m")
    )
    return _posting_tail_pairs(posts).select(
        F.col("__ea").alias("id_a"),
        F.col("__eb").alias("id_b"),
        "winnow_min",
    )


# ---------------------------------------------------------------------------
# BPE pair-merge statistics — the tokenizer-training primitive. Merge
# TRAINING is a tiny sequential loop over vocabulary-sized pair counts,
# so it runs in the engine-independent pyarrow twin
# (operators.text.train_bpe_merges_parquet) and the learned merges enter
# both plans as literals (the trained-constants technique from the IVF
# tier); the heavy part — corpus-wide pair COUNTING given the merges —
# is the registered distributed query. All integer/string: the whole
# face is bit-replicable, no measured-margin caveats.
# ---------------------------------------------------------------------------
_BPE_N_MERGES = 8


@functools.cache
def _bpe_merges(sf_dir: str) -> list[tuple[str, str]]:
    from ..operators.text import train_bpe_merges_parquet

    return train_bpe_merges_parquet(
        os.path.join(sf_dir, "documents.parquet"), n_merges=_BPE_N_MERGES
    )


def _sq(s: str) -> str:
    """SQL single-quote escape for symbol literals (tokens may contain ')."""
    return s.replace("'", "''")


def _vocab_bpe_oracle(sf_dir: str) -> str:
    merges = _bpe_merges(sf_dir)
    applied = r"' ' || regexp_replace(tok, '(.)', '\1 ', 'g')"
    for a, b in merges:
        applied = (
            f"replace({applied}, ' {_sq(a)} {_sq(b)} ', ' {_sq(a)}{_sq(b)} ')"
        )
    return rf"""
    WITH toks AS (
      SELECT unnest({_WS_TOKENS_SQL.format(col="text")}) AS tok
      FROM documents
    ),
    sym AS (
      SELECT list_filter(string_split(trim({applied}), ' '), x -> x <> '') AS s
      FROM toks
    ),
    pairs AS (
      SELECT unnest(list_transform(range(1, greatest(len(s), 1)),
                    i -> s[CAST(i AS INT)] || ' ' || s[CAST(i + 1 AS INT)]))
        AS pair
      FROM sym
    ),
    c AS (SELECT pair, CAST(COUNT(*) AS BIGINT) AS cnt FROM pairs GROUP BY pair)
    SELECT pair, cnt FROM c ORDER BY cnt DESC, pair ASC LIMIT 20
    """


@register("vocab_bpe_pair_counts", oracle=_vocab_bpe_oracle)
def vocab_bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adjacent-symbol-pair counts after the first 8 learned BPE merges —
    exactly the scoring pass that would pick merge 9. Top-20 by
    (cnt DESC, pair ASC); the deterministic tie-break plus unique pair
    keys make the LIMIT cutoff engine-stable."""
    from ..operators.text import bpe_pair_counts

    docs = _t(spark, sf_dir, "documents")
    return bpe_pair_counts(docs, "text", _bpe_merges(sf_dir), k=20)


@register("text_bm25", oracle=_text_bm25_oracle)
def text_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.text import bm25_scores

    idf, avgdl = _bm25_shared(sf_dir)
    docs = _t(spark, sf_dir, "documents")
    return bm25_scores(
        docs, "doc_id", "text", _BM25_TERMS, idf, avgdl,
        k1=_BM25_K1, b=_BM25_B,
    )


# ---------------------------------------------------------------------------
# Mergeable quantile sketch (HDR-histogram log-linear buckets) — the
# QUANTILE member of the sketch tier next to HLL (distinct), theta (set
# algebra) and CMS (frequency). Unlike percentile_approx/GK, the bucket
# math is PURE INTEGER (bit-length via bin(), shifts), so the grid and
# the quantile brackets are bit-identical in DuckDB — full hash checks,
# no tolerance rows needed. Three faces: the grid itself, the
# P50/P90/P99 brackets vs exact rank elements (bracket containment is a
# deterministic invariant), and the mergeability law sketch(A)+sketch(B)
# == sketch(A ∪ B) — the property that lets per-day grids answer any
# window's quantile question at 100 TB without rescanning raw data.
# ---------------------------------------------------------------------------
_QSK_GRID_SQL = r"""
      SELECT greatest(length(bin(x)) - 5, 0) AS shift,
             x // (CAST(1 AS BIGINT) << greatest(length(bin(x)) - 5, 0)) AS sub,
             CAST(COUNT(*) AS BIGINT) AS cnt
      FROM v GROUP BY 1, 2
"""
_QSK_DOCS_V_SQL = rf"""
      SELECT CAST(len({_WS_TOKENS_SQL.format(col="text")}) AS BIGINT) AS x
      FROM documents
"""


@register(
    "docs_quantile_sketch",
    oracle=f"""
    WITH v AS ({_QSK_DOCS_V_SQL}),
    g AS ({_QSK_GRID_SQL})
    SELECT CAST(shift AS INTEGER) AS shift, CAST(sub AS BIGINT) AS sub, cnt
    FROM g
    """,
)
def docs_quantile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sketch import qsketch_build

    docs = _t(spark, sf_dir, "documents")
    vals = docs.select(text_ops.token_count_ws("text").alias("x"))
    return qsketch_build(vals, "x")


_QSK_PERMILLE = [500, 900, 990]


@register(
    "docs_quantile_sketch_check",
    oracle=f"""
    WITH v AS ({_QSK_DOCS_V_SQL}),
    g AS ({_QSK_GRID_SQL}),
    c AS (
      SELECT sub * (CAST(1 AS BIGINT) << shift) AS lo,
             (sub + 1) * (CAST(1 AS BIGINT) << shift) - 1 AS hi,
             cnt,
             CAST(SUM(cnt) OVER (
               ORDER BY sub * (CAST(1 AS BIGINT) << shift)) AS BIGINT) AS cum
      FROM g
    ),
    n AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n FROM g),
    p(p) AS (VALUES {", ".join(f"({p})" for p in _QSK_PERMILLE)}),
    r AS (SELECT CAST(p AS BIGINT) AS p,
                 CAST((n.n * p + 999) // 1000 AS BIGINT) AS rank
          FROM p, n),
    est AS (
      SELECT p, lo AS est_lo, hi AS est_hi, rank
      FROM r JOIN c ON cum >= rank AND cum - cnt < rank
    ),
    xr AS (SELECT x, row_number() OVER (ORDER BY x) AS rn FROM v)
    SELECT est.p AS p, est_lo, est_hi, xr.x AS exact_q,
           (est_lo <= xr.x AND xr.x <= est_hi) AS bracket_ok
    FROM est JOIN xr ON xr.rn = est.rank
    """,
)
def docs_quantile_sketch_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch brackets vs the EXACT rank element, same integer rank
    definition on both sides (``(n*p + 999) div 1000``, 1-based
    ascending — never a float q*n product, whose decimal-vs-double
    literal typing differs across engines). ``bracket_ok`` is TRUE by a
    deterministic invariant: the rank element lies inside the bucket the
    cumulative walk picked. The exact side's global row_number is
    check-face-only (validation at test SF, not the production path —
    the production answer IS the bracket)."""
    from pyspark.sql import Window as W

    from ..operators.cache import scoped_persist
    from ..operators.sketch import qsketch_build, qsketch_quantiles

    docs = _t(spark, sf_dir, "documents")
    vals = scoped_persist(
        docs.select(text_ops.token_count_ws("text").alias("x"))
    )
    sk = scoped_persist(qsketch_build(vals, "x"))
    est = qsketch_quantiles(sk, _QSK_PERMILLE)
    n = sk.agg(F.sum("cnt").cast("bigint").alias("__n"))
    ranks = n.select(
        F.explode(
            F.array(*[F.lit(int(p)).cast("bigint") for p in _QSK_PERMILLE])
        ).alias("p"),
        "__n",
    ).select("p", F.expr("(__n * p + 999) div 1000").cast("bigint").alias("__rank"))
    xr = vals.withColumn("rn", F.row_number().over(W.orderBy("x")))
    exact = ranks.join(xr, xr["rn"] == ranks["__rank"]).select(
        "p", F.col("x").alias("exact_q")
    )
    return est.join(exact, "p").select(
        "p",
        "est_lo",
        "est_hi",
        "exact_q",
        (
            (F.col("est_lo") <= F.col("exact_q"))
            & (F.col("exact_q") <= F.col("est_hi"))
        ).alias("bracket_ok"),
    )


@register(
    "events_quantile_merge_check",
    oracle=f"""
    WITH v AS (
      SELECT CAST(ROUND(value * 100) AS BIGINT) AS x FROM events
    ),
    g AS ({_QSK_GRID_SQL})
    SELECT CAST(COUNT(*) AS BIGINT) AS n_buckets, TRUE AS merge_ok
    FROM g
    """,
)
def events_quantile_merge_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeability law, asserted: the cell-wise sum of the grids of two
    disjoint halves (even/odd event_id) equals the grid of the whole —
    exact linearity, the property that makes per-partition sketches roll
    up. The oracle replicates the whole-table grid and asserts TRUE; a
    merge bug shows up as merge_ok=false or a bucket-count drift."""
    from ..operators.cache import scoped_persist
    from ..operators.sketch import qsketch_build, qsketch_merge

    ev = _t(spark, sf_dir, "events").select(
        "event_id", F.round(F.col("value") * 100, 0).cast("bigint").alias("x")
    )
    whole = qsketch_build(ev, "x")
    half_a = qsketch_build(ev.filter(F.col("event_id") % 2 == 0), "x")
    half_b = qsketch_build(ev.filter(F.col("event_id") % 2 == 1), "x")
    merged = scoped_persist(qsketch_merge(half_a, half_b))
    j = whole.join(merged.withColumnRenamed("cnt", "m_cnt"), ["shift", "sub"], "full")
    return j.agg(
        F.count(F.lit(1)).alias("n_buckets"),
        (
            F.count(F.lit(1))
            == F.sum((F.col("cnt") == F.col("m_cnt")).cast("long"))
        ).alias("merge_ok"),
    )


# ---------------------------------------------------------------------------
# CMS-guided hot-key detection: the sketch tier driving the skew tier.
# At 100 TB the salting list for operators.skew.salted_join /
# salted_sum_count has to come from somewhere — this face derives it:
# probe the increment's DISTINCT keys against the history's CMS grid
# (KBs however large the history), take est >= T as candidates, and
# exact-verify ONLY the candidates. est >= true is deterministic, so
# candidates ⊇ true-heavy — the sketch can never MISS a hot key, it can
# only send a few extra keys to the (cheap, semi-joined) verify pass.
# Output = the verified hot keys; lower_ok / flagged assert the
# deterministic CMS invariants per key in the driver hash.
# ---------------------------------------------------------------------------
_HOT_KEY_T = 15


@register(
    "orders_hot_custkeys_cms_check",
    oracle=f"""
    WITH inc AS (
      SELECT DISTINCT o_custkey FROM orders WHERE o_orderkey % 8 = 0
    ),
    cnt AS (
      SELECT o_custkey, CAST(COUNT(*) AS BIGINT) AS exact_count
      FROM orders GROUP BY o_custkey
    )
    SELECT c.o_custkey, c.exact_count, TRUE AS lower_ok, TRUE AS flagged
    FROM cnt c JOIN inc USING (o_custkey)
    WHERE c.exact_count >= {_HOT_KEY_T}
    """,
)
def orders_hot_custkeys_cms_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.cache import scoped_persist
    from ..operators.sketch import cms_build, cms_estimate

    orders = _t(spark, sf_dir, "orders")
    keys = orders.select(F.col("o_custkey").alias("k"))
    grid = cms_build(keys, "k", depth=4, width=1024)
    probe = (
        orders.filter(F.col("o_orderkey") % 8 == 0)
        .select(F.col("o_custkey").alias("k"))
        .distinct()
    )
    est = cms_estimate(grid, probe, "k", depth=4, width=1024)
    cand = scoped_persist(est.filter(F.col("est") >= _HOT_KEY_T))
    verified = (
        keys.join(cand.select("k"), "k", "left_semi")
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("exact_count"))
        .filter(F.col("exact_count") >= _HOT_KEY_T)
    )
    return verified.join(cand, "k").select(
        F.col("k").alias("o_custkey"),
        "exact_count",
        (F.col("est") >= F.col("exact_count")).alias("lower_ok"),
        (F.col("est") >= F.lit(_HOT_KEY_T)).alias("flagged"),
    )


# ---------------------------------------------------------------------------
# Sketch-GUIDED exact selection (Munro-Paterson style): exact P50/P90/
# P99 order statistics in two bounded passes, no global sort. Pass 1 is
# the mergeable HDR grid; the rank's bracket AND the exact
# count-below-bracket both fall out of the grid's cumulative walk, so
# pass 2 touches only in-bracket rows (<= 6.25% relative width) and
# resolves the rank-th element exactly. This face, the grouped one
# below and both median/MAD faces run the same selector stages of
# operators.sketch (one definition, keyed by a list of group columns —
# this is the no-key case). The oracle is a FULL SORT (row_number over
# every value) — hash equality proves the two-pass selection exact, not
# approximate. Pure integer ranks and counts.
# ---------------------------------------------------------------------------
@register(
    "events_exact_quantiles_sketch",
    oracle="""
    WITH v AS (
      SELECT CAST(ROUND(value * 100) AS BIGINT) AS x FROM events
      WHERE value IS NOT NULL
    ),
    n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM v),
    p(p) AS (VALUES (CAST(500 AS BIGINT)), (900), (990)),
    r AS (SELECT p, (n.n * p + 999) // 1000 AS rank, n.n AS n FROM p, n),
    ranked AS (SELECT x, row_number() OVER (ORDER BY x) AS rn FROM v)
    SELECT r.p AS p, r.n AS n_rows, ranked.x AS exact_value
    FROM r JOIN ranked ON ranked.rn = r.rank
    """,
)
def events_exact_quantiles_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sketch import exact_quantiles_two_pass

    ev = _t(spark, sf_dir, "events").select(
        F.round(F.col("value") * 100, 0).cast("bigint").alias("x")
    )
    return exact_quantiles_two_pass(ev, "x", [500, 900, 990])


# ---------------------------------------------------------------------------
# The GROUPED face of the two-pass exact selector: per-event_type exact
# P50/P90 — the same selector stages as events_exact_quantiles_sketch
# with the group as the key (per-group grids, per-group cumulative walks
# over grid-bounded window partitions, pass-2 as a hash equi-join on the
# group with the bracket range residual). The per-tenant/per-language
# percentile report at 100 TB: zero global sorts, zero broadcasts of
# group-sized frames, state = groups × grid. Oracle: per-group full
# sort.
# ---------------------------------------------------------------------------
@register(
    "events_quantiles_by_type",
    oracle="""
    WITH v AS (
      SELECT event_type, CAST(ROUND(value * 100) AS BIGINT) AS x
      FROM events WHERE value IS NOT NULL
    ),
    n AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n
          FROM v GROUP BY event_type),
    p(p) AS (VALUES (CAST(500 AS BIGINT)), (900)),
    r AS (SELECT event_type, p, (n.n * p + 999) // 1000 AS rank, n.n AS n
          FROM p, n),
    ranked AS (
      SELECT event_type, x,
             row_number() OVER (PARTITION BY event_type ORDER BY x) AS rn
      FROM v
    )
    SELECT r.event_type, r.p AS p, r.n AS n_rows, ranked.x AS exact_value
    FROM r JOIN ranked
      ON ranked.event_type = r.event_type AND ranked.rn = r.rank
    """,
)
def events_quantiles_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.cache import scoped_persist
    from ..operators.sketch import exact_quantiles_by_group

    # persisted: the grid pass and the pass-2 resolution both scan it
    ev = scoped_persist(
        _t(spark, sf_dir, "events").filter(F.col("value").isNotNull()).select(
            "event_type",
            F.round(F.col("value") * 100, 0).cast("bigint").alias("x"),
        )
    )
    return exact_quantiles_by_group(ev, "event_type", "x", [500, 900])


# ---------------------------------------------------------------------------
# Robust (median/MAD) outlier detection — the no-key case of the shared
# selector stages: median in two bounded passes, the MAD bracket derived
# from the SAME x-grid (conservative full-cover/any-overlap walks around
# the median — VERDICT r7 item 3; the former second HDR grid over
# |x − median| cost a full scan + shuffle), MAD resolved in one
# conditional-aggregation band scan, then one counting pass — four
# bounded passes, one shuffle, zero global sorts, all integer. The z-score face (events_value_zscore_outliers) is
# mean/stddev-based and itself skewed by the outliers it hunts;
# median/MAD is the robust production variant. Oracle recomputes via
# full sorts.
# ---------------------------------------------------------------------------
@register(
    "events_value_mad_outliers",
    oracle="""
    WITH v AS (
      SELECT CAST(ROUND(value * 100) AS BIGINT) AS x FROM events
      WHERE value IS NOT NULL
    ),
    n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM v),
    med AS (
      SELECT x AS med FROM (
        SELECT x, row_number() OVER (ORDER BY x) AS rn FROM v
      ), n WHERE rn = (n.n * 500 + 999) // 1000
    ),
    dev AS (SELECT abs(v.x - med.med) AS d FROM v, med),
    mad AS (
      SELECT d AS mad FROM (
        SELECT d, row_number() OVER (ORDER BY d) AS rn FROM dev
      ), n WHERE rn = (n.n * 500 + 999) // 1000
    )
    SELECT n.n AS n_rows, med.med AS median_cents, mad.mad AS mad_cents,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM v, med, mad
            WHERE abs(v.x - med.med) >= 5 * mad.mad) AS n_outliers
    FROM n, med, mad
    """,
)
def events_value_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.cache import scoped_persist
    from ..operators.sketch import median_mad_two_pass

    ev = _t(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    vals = scoped_persist(
        ev.select(F.round(F.col("value") * 100, 0).cast("bigint").alias("x"))
    )
    mm = scoped_persist(
        median_mad_two_pass(vals, "x").select(
            "n_rows",
            F.col("median").alias("median_cents"),
            F.col("mad").alias("mad_cents"),
        )
    )
    outliers = (
        vals.join(F.broadcast(mm))
        .filter(
            F.abs(F.col("x") - F.col("median_cents"))
            >= F.lit(5) * F.col("mad_cents")
        )
        .agg(F.count(F.lit(1)).alias("n_outliers"))
    )
    return mm.join(F.broadcast(outliers)).select(
        "n_rows", "median_cents", "mad_cents", "n_outliers"
    )


# ---------------------------------------------------------------------------
# Deterministic distributed "reservoir" sample: the bottom-k-by-hash
# sketch (k smallest md5(id) per source). Mergeable — the bottom-k of a
# union is computable from per-partition bottom-ks — and stable across
# runs, engines and partitionings (never rand()/TABLESAMPLE, whose
# draws reshuffle between runs): the property a 100 TB eval-set or
# inspection sample needs. Rank via the skew-safe two-phase salted
# topk_per_group, ascending by hash.
# ---------------------------------------------------------------------------
@register(
    "docs_reservoir_sample",
    oracle="""
    WITH h AS (
      SELECT source, doc_id, md5(CAST(doc_id AS VARCHAR)) AS hx
      FROM documents
    ),
    r AS (
      SELECT source, doc_id,
             row_number() OVER (PARTITION BY source ORDER BY hx, doc_id) AS rk
      FROM h
    )
    SELECT source, doc_id, CAST(rk AS BIGINT) AS rk FROM r WHERE rk <= 4
    """,
)
def docs_reservoir_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.aggregates import topk_per_group

    docs = _t(spark, sf_dir, "documents").select("source", "doc_id")
    h = docs.withColumn("__hx", F.md5(F.col("doc_id").cast("string")))
    top = topk_per_group(
        h, ["source"], "__hx", 4, tiebreak="doc_id", descending=False
    )
    return top.select("source", "doc_id", F.col("rk").cast("long").alias("rk"))


# ---------------------------------------------------------------------------
# Beyond the reference: semi-structured JSON column. events.props is a JSON
# string; extract a typed field and aggregate. from_json gives a typed
# struct at scan time — the pattern for sidecar-metadata columns.
# ---------------------------------------------------------------------------
@register(
    "events_json_props",
    oracle="""
    SELECT event_type,
           CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT)
             AS k_sum,
           MIN(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS k_min,
           MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS k_max
    FROM events
    GROUP BY event_type
    """,
)
def events_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import types as T

    ev = _t(spark, sf_dir, "events")
    props = F.from_json(
        F.col("props"), T.StructType([T.StructField("k", T.LongType())])
    )
    return (
        ev.select("event_type", props.getField("k").alias("__k"))
        .groupBy("event_type")
        .agg(
            F.sum("__k").alias("k_sum"),
            F.min("__k").alias("k_min"),
            F.max("__k").alias("k_max"),
        )
    )


# ---------------------------------------------------------------------------
# Beyond the reference: PIVOT (the reference's A5 is a hand-rolled 2-bucket
# pivot; this is the general explicit-values form — cent-exact sums).
# ---------------------------------------------------------------------------
@register(
    "pivot_status_revenue",
    oracle="""
    SELECT l_returnflag,
           CAST(SUM(CASE WHEN l_linestatus = 'O'
                THEN CAST(ROUND(l_extendedprice * 100.0) AS BIGINT) ELSE 0 END)
                AS BIGINT) AS O_cents,
           CAST(SUM(CASE WHEN l_linestatus = 'F'
                THEN CAST(ROUND(l_extendedprice * 100.0) AS BIGINT) ELSE 0 END)
                AS BIGINT) AS F_cents
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def pivot_status_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    cents = F.round(F.col("l_extendedprice") * F.lit(100.0), 0).cast("long")
    piv = (
        li.select("l_returnflag", "l_linestatus", cents.alias("__cents"))
        .groupBy("l_returnflag")
        .pivot("l_linestatus", ["O", "F"])
        .agg(F.coalesce(F.sum("__cents"), F.lit(0)).alias("c"))
    )
    return piv.select(
        "l_returnflag",
        F.col("O").alias("O_cents"),
        F.col("F").alias("F_cents"),
    )


# ---------------------------------------------------------------------------
# Beyond the reference: exact + approximate distinct counting. The exact
# count is the oracle-checked output; the approx (HLL) column is reported
# relative to exact in tests (engine-specific sketches don't cross-check).
# ---------------------------------------------------------------------------
@register(
    "distinct_users_by_type",
    oracle="""
    SELECT event_type, COUNT(DISTINCT user_id) AS n_users, COUNT(*) AS n
    FROM events
    GROUP BY event_type
    """,
)
def distinct_users_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_users"),
        F.count(F.lit(1)).alias("n"),
    )


# ---------------------------------------------------------------------------
# Composed training-data prep pipeline: quality gate → exact dedup →
# MinHash near-dedup (pairwise drop-the-larger rule). ORACLE-CHECKED
# (VERDICT r8 item 6): the LSH stage only PROPOSES candidates — every
# surviving pair is verified at exact Jaccard >= 0.5 — so the Spark
# output is a SUBSET-equality claim against the deterministic pairwise
# exact-Jaccard rule, which DuckDB reconstructs below (same CTE chain
# as corpus_prepare_cc up through `pairs`, then drop each pair's larger
# id instead of the component closure). Hash equality therefore
# witnesses 100% LSH recall on this corpus (empirically exact at all
# three SFs — the near-dup pairs are high-Jaccard, where 8-band/32-hash
# collision probability is ~1). A parameter change that loses a true
# pair SHOULD go red here; tests/test_rowsonly_hardening.py pins the
# same equality in-suite.
# ---------------------------------------------------------------------------
@register(
    "corpus_prepare",
    oracle=f"""
    WITH {_corpus_pair_ctes("doc_id, text, quality", _MIN_ID_KEEP1)}, losers AS (
      SELECT DISTINCT id_b AS doc_id FROM pairs
    )
    SELECT k.doc_id, k.text, k.quality
    FROM kept k LEFT JOIN losers l ON k.doc_id = l.doc_id
    WHERE l.doc_id IS NULL
    """,
)
def corpus_prepare(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .pipeline import prepare_corpus

    docs = _t(spark, sf_dir, "documents")
    return prepare_corpus(docs, min_quality=0.4, near_dup_jaccard=0.5)


# ---------------------------------------------------------------------------
# The composed pipeline with the principled survivor rule — quality gate →
# exact dedup (md5 fingerprint) → EXACT jaccard pairs → connected-component
# closure → keep each cluster's min id. Every stage is deterministic and
# SQL-expressible, so the flagship pipeline is value-hash-checked
# end-to-end (the MinHash variant above is hash-checked via the xxh64
# twin since r11).
# ---------------------------------------------------------------------------
@register(
    "corpus_prepare_cc",
    oracle=f"""
    WITH RECURSIVE {_corpus_pair_ctes("doc_id, text, quality", _MIN_ID_KEEP1)},
    {_CLOSURE_CTES}
    SELECT k.doc_id, k.text, k.quality
    FROM kept k LEFT JOIN comp c ON k.doc_id = c.id
    WHERE COALESCE(c.component, k.doc_id) = k.doc_id
    """,
)
def corpus_prepare_cc(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .pipeline import prepare_corpus_cc

    docs = _t(spark, sf_dir, "documents")
    return prepare_corpus_cc(docs, min_quality=0.4, near_dup_jaccard=0.5)


# ---------------------------------------------------------------------------
# The composed pipeline with the QUALITY-survivor policy (r9): each
# exact-fingerprint group and each near-dup cluster keeps its
# HIGHEST-quality member (ties → min id) instead of its smallest id —
# the production policy when duplicates differ in cleanliness. The
# oracle is corpus_prepare_cc's CTE chain with both survivor picks
# swapped to row_number() OVER (ORDER BY quality DESC, doc_id); the
# argmax is cross-engine deterministic because quality is 6-dp rounded
# and bit-identical (pinned by corpus_prepare_cc's hash) with id
# tie-breaks. Spark picks via one max(struct(quality, -id)) aggregate
# per group — no window, no whole-group sort.
# ---------------------------------------------------------------------------
_BEST_QUALITY_KEEP1 = """SELECT doc_id FROM (
        SELECT doc_id,
               row_number() OVER (PARTITION BY fp
                                  ORDER BY quality DESC, doc_id) AS rn
        FROM fps) WHERE rn = 1"""


@register(
    "corpus_prepare_cc_best",
    oracle=f"""
    WITH RECURSIVE {_corpus_pair_ctes("doc_id, text, quality", _BEST_QUALITY_KEEP1)},
    {_CLOSURE_CTES}, clus AS (
      SELECT k.doc_id, k.text, k.quality,
             COALESCE(c.component, k.doc_id) AS cluster
      FROM kept k LEFT JOIN comp c ON k.doc_id = c.id
    )
    SELECT doc_id, text, quality FROM (
      SELECT doc_id, text, quality,
             row_number() OVER (PARTITION BY cluster
                                ORDER BY quality DESC, doc_id) AS rn
      FROM clus) WHERE rn = 1
    """,
)
def corpus_prepare_cc_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .pipeline import prepare_corpus_cc_best

    docs = _t(spark, sf_dir, "documents")
    return prepare_corpus_cc_best(docs, min_quality=0.4, near_dup_jaccard=0.5)


# ---------------------------------------------------------------------------
# Lineage face of the flagship pipeline: EVERY input document with the
# reason it survived or fell (kept / low_quality / exact_dup /
# near_dup), stages applied in corpus_prepare_cc's exact order — the
# audit table a curation run materializes next to the cleaned corpus.
# Oracle = the corpus_prepare_cc CTE chain extended to tag instead of
# filter, so the kept rows here must equal its survivor set.
# ---------------------------------------------------------------------------
@register(
    "corpus_prepare_audit",
    oracle=f"""
    WITH RECURSIVE {_corpus_pair_ctes("doc_id, text", _MIN_ID_KEEP1)},
    {_CLOSURE_CTES}
    SELECT s.doc_id, s.quality,
           CASE WHEN s.quality < 0.4 THEN 'low_quality'
                WHEN k.doc_id IS NULL THEN 'exact_dup'
                WHEN COALESCE(c.component, s.doc_id) <> s.doc_id THEN 'near_dup'
                ELSE 'kept' END AS status
    FROM scored s
    LEFT JOIN kept k ON s.doc_id = k.doc_id
    LEFT JOIN comp c ON s.doc_id = c.id
    """,
)
def corpus_prepare_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .pipeline import prepare_corpus_audit

    docs = _t(spark, sf_dir, "documents")
    return prepare_corpus_audit(docs, min_quality=0.4, near_dup_jaccard=0.5)


# ---------------------------------------------------------------------------
# The composed pipeline with the SEMANTIC near-dedup stage: quality gate
# → exact fingerprint dedup → SemDeDup over the joined embedding column.
# Documents without an embedding row survive the semantic stage with a
# NULL cluster (LEFT-join semantics — exercised for real at sf0.1, where
# only 2,000 of 5,000 docs have vectors). Trained-centroid literals make
# the whole composition value-hash-checked end-to-end.
# ---------------------------------------------------------------------------
def _corpus_prepare_semantic_oracle(sf_dir: str) -> str:
    C, _qv, _probes = _ivf_shared(sf_dir)
    return rf"""
    WITH {_QUALITY_CTES.format(keep="doc_id, text")},
    {_exact_fp_ctes("doc_id, quality", _MIN_ID_KEEP1)}, {_cents_cte(C)},
    {_V_DOUBLE_CTE},
    kv AS (
      {_UNIT_CLUSTER_SQL.format(key="k.doc_id", source="kept k JOIN v ON k.doc_id = v.vec_id")}
    ),
    dups AS (
      SELECT DISTINCT b.doc_id
      FROM kv a JOIN kv b ON a.cluster = b.cluster AND a.doc_id < b.doc_id
      WHERE a.nrm <> 0 AND b.nrm <> 0
        AND list_sum(list_transform(list_zip(a.ue, b.ue), p -> p[1]*p[2]))
            >= 0.35
    )
    SELECT k.doc_id, k.quality, kv.cluster
    FROM kept k LEFT JOIN kv ON k.doc_id = kv.doc_id
    WHERE k.doc_id NOT IN (SELECT doc_id FROM dups)
    """


@register("corpus_prepare_semantic", oracle=_corpus_prepare_semantic_oracle)
def corpus_prepare_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .pipeline import prepare_corpus_semantic

    C, _qv, _probes = _ivf_shared(sf_dir)
    docs = _t(spark, sf_dir, "documents")
    emb = _t(spark, sf_dir, "embeddings")
    return prepare_corpus_semantic(
        docs, emb, C, min_quality=0.4, cos_threshold=0.35
    )


# ---------------------------------------------------------------------------
# PII scrubbing (pretraining-corpus hygiene). The synthetic corpus is
# clean, so the query PLANTS deterministic PII derived from doc_id — on
# both engines identically — then scrubs it; the oracle replicates the
# plant and the ordered regexp_replace chain (patterns are shared between
# Java regex and RE2 — no lookarounds, see operators.text.PII_PATTERNS).
# ---------------------------------------------------------------------------
_PII_PLANT_SQL = (
    "text || ' reach user' || CAST(doc_id AS VARCHAR)"
    " || '@mail.example.org via 10.0.' || CAST(doc_id % 256 AS VARCHAR)"
    " || '.7 or +1 555-01' || lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0')"
    " || ' ref 900000' || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0')"
)


def _pii_oracle() -> str:
    stages = ["SELECT doc_id, " + _PII_PLANT_SQL + " AS t FROM documents"]
    carried: list[str] = []
    for kind, pat, tag in text_ops.PII_PATTERNS:
        prev_cols = (", ".join(carried) + ",") if carried else ""
        stages.append(
            f"SELECT doc_id, {prev_cols}"
            f" CAST(len(regexp_extract_all(t, '{pat}')) AS BIGINT) AS n_{kind},"
            f" regexp_replace(t, '{pat}', '{tag}', 'g') AS t"
            f" FROM s{len(stages) - 1}"
        )
        carried.append(f"n_{kind}")
    ctes = ", ".join(f"s{i} AS ({sql})" for i, sql in enumerate(stages))
    final_cols = ", ".join(f"n_{k}" for k, _, _ in text_ops.PII_PATTERNS)
    return (
        f"WITH {ctes} SELECT doc_id, t AS scrubbed, {final_cols}"
        f" FROM s{len(stages) - 1}"
    )


@register("text_pii_scrub", oracle=_pii_oracle())
def text_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    planted = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" reach user"),
            F.col("doc_id").cast("string"),
            F.lit("@mail.example.org via 10.0."),
            (F.col("doc_id") % 256).cast("string"),
            F.lit(".7 or +1 555-01"),
            F.lpad((F.col("doc_id") % 100).cast("string"), 2, "0"),
            F.lit(" ref 900000"),
            F.lpad((F.col("doc_id") % 1000).cast("string"), 3, "0"),
        ).alias("text"),
    )
    scrubbed = text_ops.scrub_pii(planted, "text", out="scrubbed")
    return scrubbed.select(
        "doc_id",
        "scrubbed",
        *[f"n_{k}" for k, _, _ in text_ops.PII_PATTERNS],
    )


# ---------------------------------------------------------------------------
# Beyond the reference: CUBE (all grouping-set combinations).
# ---------------------------------------------------------------------------
@register(
    "sales_cube",
    oracle="""
    SELECT l_returnflag, l_linestatus, COUNT(*) AS n
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
)
def sales_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.select("l_returnflag", "l_linestatus")
        .cube("l_returnflag", "l_linestatus")
        .agg(F.count(F.lit(1)).alias("n"))
    )


# ---------------------------------------------------------------------------
# Beyond the reference: INTERSECT set semantics — users who both purchased
# and hit an error.
# ---------------------------------------------------------------------------
@register(
    "users_purchase_and_error",
    oracle="""
    SELECT user_id FROM events WHERE event_type = 'purchase'
    INTERSECT
    SELECT user_id FROM events WHERE event_type = 'error'
    """,
)
def users_purchase_and_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    a = ev.filter(F.col("event_type") == "purchase").select("user_id")
    b = ev.filter(F.col("event_type") == "error").select("user_id")
    return a.intersect(b)


# ---------------------------------------------------------------------------
# Beyond the reference: calendar-part grouping (date functions breadth).
# ---------------------------------------------------------------------------
@register(
    "orders_by_month",
    oracle="""
    SELECT CAST(year(o_orderdate) AS INTEGER) AS y,
           CAST(month(o_orderdate) AS INTEGER) AS m,
           COUNT(*) AS n,
           CAST(SUM(CAST(ROUND(o_totalprice * 100.0) AS BIGINT)) AS BIGINT)
             AS total_cents
    FROM orders
    GROUP BY 1, 2
    """,
)
def orders_by_month(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * F.lit(100.0), 0).cast("long")
    return (
        o.select(
            F.year("o_orderdate").alias("y"),
            F.month("o_orderdate").alias("m"),
            cents.alias("__cents"),
        )
        .groupBy("y", "m")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("__cents").alias("total_cents"))
    )


# ---------------------------------------------------------------------------
# TPC-H-shaped suite (familiar benchmark shapes on the synthetic tables;
# money in exact cents so hashes are deterministic).
# ---------------------------------------------------------------------------
@register(
    "tpch_q1_pricing_summary",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(ROUND(l_quantity) AS BIGINT)) AS BIGINT) AS sum_qty,
           CAST(SUM(CAST(ROUND(l_extendedprice * 100.0) AS BIGINT)) AS BIGINT)
             AS sum_base_cents,
           CAST(SUM(CAST(ROUND(l_extendedprice * (1.0 - l_discount) * 100.0)
                AS BIGINT)) AS BIGINT) AS sum_disc_cents,
           CAST(SUM(CAST(ROUND(l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax)
                * 100.0) AS BIGINT)) AS BIGINT) AS sum_charge_cents,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def tpch_q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp")
    )
    c = lambda e: F.round(e, 0).cast("long")  # noqa: E731
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        F.sum(c(F.col("l_quantity"))).alias("sum_qty"),
        F.sum(c(F.col("l_extendedprice") * F.lit(100.0))).alias("sum_base_cents"),
        F.sum(
            c(F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")) * F.lit(100.0))
        ).alias("sum_disc_cents"),
        F.sum(
            c(
                F.col("l_extendedprice")
                * (F.lit(1.0) - F.col("l_discount"))
                * (F.lit(1.0) + F.col("l_tax"))
                * F.lit(100.0)
            )
        ).alias("sum_charge_cents"),
        F.count(F.lit(1)).alias("count_order"),
    )


@register(
    "tpch_q3_shipping_priority",
    oracle="""
    SELECT l_orderkey,
           CAST(SUM(CAST(ROUND(l_extendedprice * (1.0 - l_discount) * 100.0)
                AS BIGINT)) AS BIGINT) AS revenue_cents,
           CAST(o_orderdate AS VARCHAR) AS orderdate_s,
           o_orderpriority
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
      AND l_shipdate  > TIMESTAMP '1995-03-15 00:00:00'
    GROUP BY l_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue_cents DESC, l_orderkey ASC
    LIMIT 10
    """,
)
def tpch_q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = (
        _t(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment") == "BUILDING")
        .select("c_custkey")
    )
    orders = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-03-15 00:00:00").cast("timestamp")
    )
    li = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1995-03-15 00:00:00").cast("timestamp")
    )
    cents = F.round(
        F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")) * F.lit(100.0), 0
    ).cast("long")
    return (
        li.select("l_orderkey", cents.alias("__cents"))
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.sum("__cents").alias("revenue_cents"))
        .select(
            "l_orderkey",
            "revenue_cents",
            F.col("o_orderdate").cast("string").alias("orderdate_s"),
            "o_orderpriority",
        )
        .orderBy(F.col("revenue_cents").desc(), F.col("l_orderkey").asc())
        .limit(10)
    )


@register(
    "tpch_q6_forecast_revenue",
    oracle="""
    SELECT CAST(SUM(CAST(ROUND(l_extendedprice * l_discount * 100.0) AS BIGINT))
                AS BIGINT) AS revenue_cents
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
)
def tpch_q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    flt = li.filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_discount") >= 0.05)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24)
    )
    cents = F.round(F.col("l_extendedprice") * F.col("l_discount") * F.lit(100.0), 0).cast(
        "long"
    )
    return flt.agg(F.sum(cents).alias("revenue_cents"))


# ---------------------------------------------------------------------------
# Sliding-window counts (1h window, 15m slide): the oracle expands each
# event into its 4 overlapping windows via an offset unnest — alignment
# (epoch-based 15-minute buckets) is identical on both engines.
# ---------------------------------------------------------------------------
@register(
    "events_sliding",
    oracle="""
    SELECT ws AS window_start, event_type, COUNT(*) AS n
    FROM (
      SELECT time_bucket(INTERVAL '15 minutes', ts)
               - (CAST(k AS INTEGER) * INTERVAL '15 minutes') AS ws,
             ts, event_type
      FROM events, unnest(range(0, 4)) AS t(k)
    )
    WHERE ts >= ws AND ts < ws + INTERVAL '1 hour'
    GROUP BY 1, 2
    """,
)
def events_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.windows import sliding_event_counts

    ev = _t(spark, sf_dir, "events")
    return sliding_event_counts(ev, window="1 hour", slide="15 minutes")


# ---------------------------------------------------------------------------
# Beyond the reference: EXCEPT set semantics.
# ---------------------------------------------------------------------------
@register(
    "users_purchase_no_refund_day",
    oracle="""
    SELECT user_id, CAST(ts AS DATE) AS d FROM events WHERE event_type = 'purchase'
    EXCEPT
    SELECT user_id, CAST(ts AS DATE) AS d FROM events WHERE event_type = 'error'
    """,
)
def users_purchase_no_refund_day(spark: SparkSession, sf_dir: str) -> DataFrame:
    # (user, day) granularity keeps EXCEPT discriminating (~50% survive)
    ev = _t(spark, sf_dir, "events")
    a = (
        ev.filter(F.col("event_type") == "purchase")
        .select("user_id", F.col("ts").cast("date").alias("d"))
    )
    b = (
        ev.filter(F.col("event_type") == "error")
        .select("user_id", F.col("ts").cast("date").alias("d"))
    )
    return a.subtract(b)


# ---------------------------------------------------------------------------
# Beyond the reference: regex extraction — parse the numeric id out of
# p_name-like strings (regexp_extract parity across engines).
# ---------------------------------------------------------------------------
@register(
    "customer_name_ids",
    oracle="""
    SELECT c_custkey,
           CAST(regexp_extract(c_name, 'Customer#([0-9]+)', 1) AS BIGINT) AS name_id
    FROM customer
    WHERE regexp_matches(c_name, 'Customer#[0-9]+')
    """,
)
def part_name_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    ext = F.regexp_extract(F.col("c_name"), r"Customer#([0-9]+)", 1)
    return c.filter(ext != "").select("c_custkey", ext.cast("long").alias("name_id"))


# ---------------------------------------------------------------------------
# Deterministic train/val/test split: md5-hash bucket of the id — stable
# across engines and partitionings (never rand()). Oracle replicates the
# same md5 arithmetic in DuckDB.
# ---------------------------------------------------------------------------
@register(
    "docs_hash_split",
    oracle="""
    WITH b AS (
      SELECT doc_id,
             CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
               % 100 AS bucket
      FROM documents
    )
    SELECT CASE WHEN bucket < 90 THEN 'train'
                WHEN bucket < 95 THEN 'val'
                ELSE 'test' END AS split,
           COUNT(*) AS n
    FROM b GROUP BY 1
    """,
)
def docs_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents").select("doc_id")
    return (
        text_ops.hash_split(docs, "doc_id")
        .groupBy("split")
        .agg(F.count(F.lit(1)).alias("n"))
    )


# ---------------------------------------------------------------------------
# Token-length histogram (numeric bucketing breadth): docs per 10-token bin.
# ---------------------------------------------------------------------------
@register(
    "token_histogram",
    oracle=rf"""
    SELECT (CAST(len({_WS_TOKENS_SQL.format(col="text")})
            AS BIGINT) // 10) * 10 AS bin,
           COUNT(*) AS n
    FROM documents
    GROUP BY 1
    """,
)
def token_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    bin_ = (text_ops.token_count_ws("text") / 10).cast("long") * 10
    return docs.select(bin_.alias("bin")).groupBy("bin").agg(
        F.count(F.lit(1)).alias("n")
    )


# ---------------------------------------------------------------------------
# Deterministic mixture sampling: per-source keep-rates via the same md5
# bucket as hash_split — the reproducible "dataset mixing" op (e.g. keep
# 100% of en, 50% of de, 25% of the rest). Never rand().
# ---------------------------------------------------------------------------
@register(
    "docs_mixture_sample",
    oracle="""
    WITH b AS (
      SELECT doc_id, lang,
             CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
               % 100 AS bucket
      FROM documents
    )
    SELECT lang, COUNT(*) AS n
    FROM b
    WHERE bucket < (CASE lang WHEN 'en' THEN 100 WHEN 'de' THEN 50 ELSE 25 END)
    GROUP BY lang
    """,
)
def docs_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang")
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("long")
        % 100
    )
    rate = (
        F.when(F.col("lang") == "en", 100)
        .when(F.col("lang") == "de", 50)
        .otherwise(25)
    )
    return (
        docs.filter(bucket < rate)
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n"))
    )


# ---------------------------------------------------------------------------
# Window breadth: NTILE quartiles of per-user spend (cent-exact totals →
# deterministic ordering with id tie-break).
# ---------------------------------------------------------------------------
@register(
    "user_spend_quartiles",
    oracle="""
    WITH t AS (
      SELECT user_id,
             CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS cents
      FROM events GROUP BY user_id
    )
    SELECT user_id, cents,
           CAST(NTILE(4) OVER (ORDER BY cents DESC, user_id ASC) AS INTEGER)
             AS quartile
    FROM t
    """,
)
def user_spend_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    ev = _t(spark, sf_dir, "events")
    totals = ev.groupBy("user_id").agg(
        F.sum(F.round(F.col("value") * 100, 0).cast("long")).alias("cents")
    )
    w = W.orderBy(F.col("cents").desc(), F.col("user_id").asc())
    return totals.withColumn("quartile", F.ntile(4).over(w))


# ---------------------------------------------------------------------------
# Correlated-subquery shape: orders above their customer's own average
# order value (exact int arithmetic: compare cents*n > sum_cents).
# ---------------------------------------------------------------------------
@register(
    "orders_above_customer_avg",
    oracle="""
    WITH t AS (
      SELECT o_orderkey, o_custkey,
             CAST(ROUND(o_totalprice * 100.0) AS BIGINT) AS cents
      FROM orders
    ), ca AS (
      SELECT o_custkey AS ck,
             CAST(SUM(cents) AS BIGINT) AS sum_cents,
             COUNT(*) AS n
      FROM t GROUP BY o_custkey
    )
    SELECT o_orderkey
    FROM t JOIN ca ON o_custkey = ck
    WHERE cents * n > sum_cents
    """,
)
def orders_above_customer_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * F.lit(100.0), 0).cast("long")
    t = o.select("o_orderkey", "o_custkey", cents.alias("cents"))
    ca = t.groupBy(F.col("o_custkey").alias("ck")).agg(
        F.sum("cents").alias("sum_cents"), F.count(F.lit(1)).alias("n")
    )
    # cents*n > sum_cents avoids any float division — exact comparison
    return (
        t.join(ca, t.o_custkey == ca.ck)
        .filter(F.col("cents") * F.col("n") > F.col("sum_cents"))
        .select("o_orderkey")
    )


# ---------------------------------------------------------------------------
# Outer-join breadth: every nation with its customer count, including
# nations with none (NULL-extension semantics).
# ---------------------------------------------------------------------------
@register(
    "nation_customer_counts",
    oracle="""
    SELECT n_name, CAST(COUNT(c_custkey) AS BIGINT) AS n_customers
    FROM nation LEFT JOIN customer ON c_nationkey = n_nationkey
    GROUP BY n_name
    """,
)
def nation_customer_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Count-then-join: aggregate the fact side FIRST (map-side partial
    # count, the exchange carries ≤ |nation| rows per task), then left-
    # join the 25-row dim against the broadcast counts. The naive
    # dim-preserved left join can't broadcast its build side, so it
    # shuffled every customer row — wrong posture at 100 TB (VERDICT r4).
    n = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    counts = c.groupBy("c_nationkey").agg(F.count("c_custkey").alias("__n"))
    return (
        n.join(F.broadcast(counts), n.n_nationkey == counts.c_nationkey, "left")
        .groupBy("n_name")
        .agg(F.sum(F.coalesce(F.col("__n"), F.lit(0).cast("long"))).alias("n_customers"))
    )


# ---------------------------------------------------------------------------
# Training-sequence packing: global prefix sum of token counts (two-pass
# distributed — NO single-partition window over the data) → fixed-budget
# chunk ids. Oracle uses the plain global window (DuckDB's single node
# doesn't care); results must match exactly.
# ---------------------------------------------------------------------------
@register(
    "docs_pack_chunks",
    oracle=r"""
    WITH t AS (
      SELECT doc_id,
             CAST(len(list_filter(string_split_regex(text, '[ \t\n\x0b\f\r]+'), x -> x <> ''))
               AS BIGINT) AS n_tokens
      FROM documents
    )
    SELECT doc_id, n_tokens,
           -- DuckDB widens window-SUM(BIGINT) to HUGEINT; the driver hash is
           -- dtype-sensitive, so cast back to BIGINT to match Spark (r2 red).
           CAST(((SUM(n_tokens) OVER (ORDER BY doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
                 - n_tokens) // 512 AS BIGINT) AS chunk_id
    FROM t
    """,
)
def docs_pack_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sequence import pack_chunks

    docs = _t(spark, sf_dir, "documents")
    t = docs.select("doc_id", text_ops.token_count_ws("text").alias("n_tokens"))
    return pack_chunks(t, "doc_id", "n_tokens", max_tokens=512)


# ---------------------------------------------------------------------------
# Gap-based sessionization (operators.sessions.session_summary): split each
# user's event timeline into sessions separated by >30 min of silence.
# Boundaries compared on exact int64 microseconds on both engines.
# session_idx numbers each user's sessions; events_session_window groups
# by the same index.
# ---------------------------------------------------------------------------
_SESSION_GAP_CTES = """m AS (
      SELECT user_id, ts, event_id, epoch_us(ts) AS us,
             LAG(epoch_us(ts)) OVER
               (PARTITION BY user_id ORDER BY ts, event_id) AS prev_us
      FROM events
    ), s AS (
      SELECT user_id, ts, us,
             SUM(CASE WHEN prev_us IS NULL OR us - prev_us > 1800000000
                      THEN 1 ELSE 0 END)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS session_idx
      FROM m
    )"""


@register(
    "events_sessionize",
    oracle=f"""
    WITH {_SESSION_GAP_CTES}
    SELECT user_id, CAST(session_idx AS BIGINT) AS session_idx,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(MIN(ts) AS VARCHAR) AS start_s,
           CAST(MAX(ts) AS VARCHAR) AS end_s,
           CAST((MAX(us) - MIN(us)) // 1000000 AS BIGINT) AS duration_s
    FROM s GROUP BY user_id, session_idx
    """,
)
def events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sessions import session_summary

    ev = _t(spark, sf_dir, "events")
    return session_summary(
        ev, "user_id", "ts", gap_seconds=1800, tiebreak=["event_id"]
    )


# ---------------------------------------------------------------------------
# Gaps-and-islands / SCD2 reconstruction (operators.sessions.collapse_runs):
# collapse each user's consecutive same-type events into half-open
# [valid_from, valid_to) state intervals — the standard rebuild of a
# slowly-changing dimension from a changelog.
# ---------------------------------------------------------------------------
@register(
    "user_state_intervals",
    oracle="""
    WITH w AS (
      SELECT user_id, ts, event_id, event_type,
             CASE WHEN LAG(event_type) OVER win IS NULL
                       OR LAG(event_type) OVER win <> event_type
                  THEN 1 ELSE 0 END AS chg
      FROM events
      WINDOW win AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), r AS (
      SELECT user_id, ts, event_type,
             SUM(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS run
      FROM w
    ), g AS (
      SELECT user_id, run, event_type,
             MIN(ts) AS vfrom, COUNT(*) AS n_rows
      FROM r GROUP BY user_id, run, event_type
    )
    SELECT user_id, event_type AS state,
           CAST(vfrom AS VARCHAR) AS valid_from,
           CAST(LEAD(vfrom) OVER (PARTITION BY user_id ORDER BY run)
                AS VARCHAR) AS valid_to,
           CAST(n_rows AS BIGINT) AS n_rows
    FROM g
    """,
)
def user_state_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sessions import collapse_runs

    ev = _t(spark, sf_dir, "events")
    return collapse_runs(
        ev, "user_id", "ts", "event_type", tiebreak=["event_id"]
    )


# ---------------------------------------------------------------------------
# Changelog compaction (operators.sessions.latest_state): most recent row
# per user — the CDC current-snapshot materialization (ROW_NUMBER()==1).
# ---------------------------------------------------------------------------
@register(
    "events_latest_state",
    oracle="""
    WITH r AS (
      SELECT user_id, event_type,
             CAST(ROUND(value * 100.0) AS BIGINT) AS cents, ts,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY ts DESC, event_id DESC) AS rn
      FROM events
    )
    SELECT user_id, event_type, cents, CAST(ts AS VARCHAR) AS ts_s
    FROM r WHERE rn = 1
    """,
)
def events_latest_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sessions import latest_state

    ev = _t(spark, sf_dir, "events")
    compacted = latest_state(ev, "user_id", "ts", tiebreak=["event_id"])
    return compacted.select(
        "user_id",
        "event_type",
        F.round(F.col("value") * F.lit(100.0), 0).cast("long").alias("cents"),
        F.col("ts").cast("string").alias("ts_s"),
    )


# ---------------------------------------------------------------------------
# CDC-style snapshot diff: per-customer 1995-vs-1996 spend, full-outer
# joined and classified added/removed/changed/same — the row-level diff a
# change-data pipeline computes between two snapshot epochs. Exact int64
# cents; no float totals cross the hash.
# ---------------------------------------------------------------------------
@register(
    "customer_snapshot_diff",
    oracle="""
    WITH t AS (
      SELECT o_custkey, year(o_orderdate) AS yr,
             CAST(ROUND(o_totalprice * 100.0) AS BIGINT) AS cents
      FROM orders
    ), a AS (
      SELECT o_custkey AS k, CAST(SUM(cents) AS BIGINT) AS cents_old
      FROM t WHERE yr = 1995 GROUP BY o_custkey
    ), b AS (
      SELECT o_custkey AS k, CAST(SUM(cents) AS BIGINT) AS cents_new
      FROM t WHERE yr = 1996 GROUP BY o_custkey
    )
    SELECT COALESCE(a.k, b.k) AS custkey, cents_old, cents_new,
           CASE WHEN a.k IS NULL THEN 'added'
                WHEN b.k IS NULL THEN 'removed'
                WHEN cents_old = cents_new THEN 'same'
                ELSE 'changed' END AS change
    FROM a FULL OUTER JOIN b ON a.k = b.k
    """,
)
def customer_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * F.lit(100.0), 0).cast("long")
    t = o.select(
        "o_custkey", F.year("o_orderdate").alias("yr"), cents.alias("cents")
    )
    a = (
        t.filter(F.col("yr") == 1995)
        .groupBy(F.col("o_custkey").alias("k_old"))
        .agg(F.sum("cents").alias("cents_old"))
    )
    b = (
        t.filter(F.col("yr") == 1996)
        .groupBy(F.col("o_custkey").alias("k_new"))
        .agg(F.sum("cents").alias("cents_new"))
    )
    j = a.join(b, a.k_old == b.k_new, "full")
    return j.select(
        F.coalesce("k_old", "k_new").alias("custkey"),
        "cents_old",
        "cents_new",
        F.when(F.col("k_old").isNull(), F.lit("added"))
        .when(F.col("k_new").isNull(), F.lit("removed"))
        .when(F.col("cents_old") == F.col("cents_new"), F.lit("same"))
        .otherwise(F.lit("changed"))
        .alias("change"),
    )


# ---------------------------------------------------------------------------
# Running + moving frame aggregates: per-customer cumulative spend and a
# 3-order trailing sum over the order timeline (ROWS frames; exact cents).
# Per-key windows — hashpartitioning(o_custkey), never SinglePartition.
# ---------------------------------------------------------------------------
@register(
    "customer_running_spend",
    oracle="""
    WITH t AS (
      SELECT o_custkey, o_orderkey, o_orderdate,
             CAST(ROUND(o_totalprice * 100.0) AS BIGINT) AS cents
      FROM orders
    )
    SELECT o_custkey, o_orderkey,
           CAST(SUM(cents) OVER (PARTITION BY o_custkey
                ORDER BY o_orderdate, o_orderkey
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS BIGINT) AS run_cents,
           CAST(SUM(cents) OVER (PARTITION BY o_custkey
                ORDER BY o_orderdate, o_orderkey
                ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
             AS BIGINT) AS mov3_cents
    FROM t
    """,
)
def customer_running_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    o = _t(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * F.lit(100.0), 0).cast("long")
    t = o.select("o_custkey", "o_orderkey", "o_orderdate", cents.alias("cents"))
    w = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return t.select(
        "o_custkey",
        "o_orderkey",
        F.sum("cents")
        .over(w.rowsBetween(W.unboundedPreceding, W.currentRow))
        .alias("run_cents"),
        F.sum("cents").over(w.rowsBetween(-2, W.currentRow)).alias("mov3_cents"),
    )


# ---------------------------------------------------------------------------
# Interval (range) join: events joined to a broadcast set of [start, end)
# promo windows — broadcast nested loop with a tiny inner side; the fact
# table is never shuffled (operators.joins.interval_join). Overlapping
# windows intentionally multiply matches.
# ---------------------------------------------------------------------------
_PROMOS = [
    ("p1", "2024-01-02 00:00:00", "2024-01-05 00:00:00"),
    ("p2", "2024-01-04 00:00:00", "2024-01-06 12:00:00"),
    ("p3", "2024-01-10 12:00:00", "2024-01-11 00:00:00"),
    ("p4", "2024-01-20 00:00:00", "2024-01-27 00:00:00"),
]
_PROMO_VALUES = ",\n             ".join(
    f"('{p}', TIMESTAMP '{start}', TIMESTAMP '{end}')" for p, start, end in _PROMOS
)
# Both interval-join faces compute the same per-promo totals.
_INTERVAL_JOIN_ORACLE = f"""
    WITH iv(promo_id, start_ts, end_ts) AS (
      VALUES {_PROMO_VALUES}
    )
    SELECT promo_id, CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
           CAST(SUM(CAST(ROUND(value * 100.0) AS BIGINT)) AS BIGINT) AS cents
    FROM events JOIN iv ON ts >= start_ts AND ts < end_ts
    GROUP BY promo_id
    """


def _promo_intervals(spark: SparkSession) -> DataFrame:
    """The ``_PROMOS`` windows as (promo_id, start, end) timestamps."""
    return spark.createDataFrame(
        _PROMOS, "promo_id string, start_s string, end_s string"
    ).select(
        "promo_id",
        F.col("start_s").cast("timestamp").alias("start"),
        F.col("end_s").cast("timestamp").alias("end"),
    )


def _promo_totals(j: DataFrame) -> DataFrame:
    return j.groupBy("promo_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.countDistinct("user_id").alias("n_users"),
        F.sum(F.round(F.col("value") * F.lit(100.0), 0).cast("long")).alias(
            "cents"
        ),
    )


@register(
    "events_interval_join",
    oracle=_INTERVAL_JOIN_ORACLE,
)
def events_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.joins import interval_join

    ev = _t(spark, sf_dir, "events")
    return _promo_totals(interval_join(ev, _promo_intervals(spark), "ts"))


# ---------------------------------------------------------------------------
# The SAME interval join planned for the big-big regime
# (operators.joins.interval_join_binned): intervals explode to the day
# bins they overlap, facts carry their one day bin, and the range match
# becomes a hash EQUI-join on the bin — no broadcast nested loop, no
# fact-side blow-up, no post-join dedup. Identical result (and oracle) to
# events_interval_join: binning partitions the match space exactly.
# ---------------------------------------------------------------------------
@register(
    "events_interval_join_binned",
    oracle=_INTERVAL_JOIN_ORACLE,
)
def events_interval_join_binned(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.joins import interval_join_binned

    ev = _t(spark, sf_dir, "events")
    j = interval_join_binned(ev, _promo_intervals(spark), "ts", bin_seconds=86400)
    return _promo_totals(j)


# ---------------------------------------------------------------------------
# Generic two-table as-of join (operators.joins.asof_join): each purchase
# enriched with the user's most recent at-or-before error amount. Union +
# per-key window — one shuffle, no range join. (user_id, ts) is unique in
# the synthetic events table, so the at-or-before winner is unambiguous.
# ---------------------------------------------------------------------------
@register(
    "purchases_asof_error",
    oracle="""
    WITH t AS (
      SELECT event_id, user_id, ts, event_type,
             LAST_VALUE(CASE WHEN event_type = 'error'
                             THEN CAST(ROUND(value * 100.0) AS BIGINT) END
                        IGNORE NULLS)
               OVER (PARTITION BY user_id
                     ORDER BY ts, CASE WHEN event_type = 'error' THEN 0 ELSE 1 END
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS err_cents_asof
      FROM events WHERE event_type IN ('purchase', 'error')
    )
    SELECT event_id, user_id, CAST(ts AS VARCHAR) AS ts_s, err_cents_asof
    FROM t WHERE event_type = 'purchase'
    """,
)
def purchases_asof_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.joins import asof_join

    ev = _t(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    errors = ev.filter(F.col("event_type") == "error").select(
        "user_id",
        "ts",
        F.round(F.col("value") * F.lit(100.0), 0).cast("long").alias("err_cents"),
    )
    out = asof_join(purchases, errors, "user_id", "ts", ["err_cents"])
    return out.select(
        "event_id",
        "user_id",
        F.col("ts").cast("string").alias("ts_s"),
        F.col("err_cents_asof"),
    )


# ---------------------------------------------------------------------------
# Native streaming operator exercised in batch: session_window (gap 30 min)
# — the same operator the streaming path uses (streaming.windows.
# sessionized_counts), oracle-checked against the window-function
# formulation. session_window merges when the silence is <= gap (probed
# empirically: an event at exactly prev+gap MERGES), identical to
# operators.sessions.sessionize's strict-> new-session rule.
# ---------------------------------------------------------------------------
@register(
    "events_session_window",
    oracle=f"""
    WITH {_SESSION_GAP_CTES}
    SELECT user_id,
           CAST(MIN(ts) AS VARCHAR) AS session_start_s,
           CAST(MAX(ts) + INTERVAL 30 MINUTE AS VARCHAR) AS session_end_s,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM s GROUP BY user_id, session_idx
    """,
)
def events_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.windows import sessionized_counts

    ev = _t(spark, sf_dir, "events")
    out = sessionized_counts(ev, gap="30 minutes")
    return out.select(
        "user_id",
        F.col("session_start").cast("string").alias("session_start_s"),
        F.col("session_end").cast("string").alias("session_end_s"),
        "n",
    )


# ---------------------------------------------------------------------------
# Skew-mitigated aggregation (operators.skew.salted_sum_count): event_type
# has only 5 distinct values over the whole table — the textbook hot-key
# shape. Two-stage salted agg splits each hot key across 16 reducers, then
# re-sums; algebraic aggregates make the result bit-identical to the plain
# GROUP BY the oracle runs.
# ---------------------------------------------------------------------------
@register(
    "events_salted_stats",
    oracle="""
    SELECT event_type,
           CAST(SUM(CAST(ROUND(value * 100.0) AS BIGINT)) AS BIGINT) AS cents,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM events GROUP BY event_type
    """,
)
def events_salted_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.skew import salted_sum_count

    ev = _t(spark, sf_dir, "events")
    return salted_sum_count(
        ev,
        ["event_type"],
        {"cents": F.round(F.col("value") * F.lit(100.0), 0).cast("long")},
        n_salts=16,
    )


# ---------------------------------------------------------------------------
# GROUPING SETS via the SQL surface: one pass emitting two independent
# group-bys (status-level and priority-level totals) with GROUPING()
# markers — the general form behind ROLLUP/CUBE (both also registered).
# ---------------------------------------------------------------------------
@register(
    "orders_grouping_sets",
    oracle="""
    SELECT o_orderstatus, o_orderpriority,
           CAST(SUM(CAST(ROUND(o_totalprice * 100.0) AS BIGINT)) AS BIGINT)
             AS cents,
           CAST(GROUPING(o_orderstatus) AS BIGINT) AS g_status,
           CAST(GROUPING(o_orderpriority) AS BIGINT) AS g_priority
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))
    """,
)
def orders_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    o.createOrReplaceTempView("__orders_gs")
    return spark.sql(
        """
        SELECT o_orderstatus, o_orderpriority,
               SUM(CAST(ROUND(o_totalprice * 100.0, 0) AS BIGINT)) AS cents,
               CAST(GROUPING(o_orderstatus) AS BIGINT) AS g_status,
               CAST(GROUPING(o_orderpriority) AS BIGINT) AS g_priority
        FROM __orders_gs
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))
        """
    )


# ---------------------------------------------------------------------------
# TPC-H Q4 shape: EXISTS-style left-semi join (orders that have at least one
# returned lineitem), counted by priority. The semi join never widens the
# probe side and needs no distinct on the build side — at 100 TB the
# lineitem side is reduced to keys before the shuffle.
# ---------------------------------------------------------------------------
@register(
    "tpch_q4_priority_semijoin",
    oracle="""
    SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS order_count
    FROM orders o
    WHERE o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
      AND EXISTS (
            SELECT 1 FROM lineitem l
            WHERE l.l_orderkey = o.o_orderkey AND l.l_returnflag = 'R'
          )
    GROUP BY o_orderpriority
    """,
)
def tpch_q4_priority_semijoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1995-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
    )
    returned = (
        _t(spark, sf_dir, "lineitem")
        .filter(F.col("l_returnflag") == "R")
        .select("l_orderkey")
    )
    return (
        orders.join(
            returned, F.col("o_orderkey") == F.col("l_orderkey"), "left_semi"
        )
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


# ---------------------------------------------------------------------------
# TPC-H Q5 shape: six-way join (customer ⨝ orders ⨝ lineitem ⨝ supplier ⨝
# nation ⨝ region) with the local-supplier constraint c_nationkey =
# s_nationkey. Scale posture: region/nation/supplier are broadcast (dims),
# so the only shuffles are the two big-side equijoins (orderkey, custkey)
# plus the final small groupBy — lineitem is never repartitioned twice.
# ---------------------------------------------------------------------------
@register(
    "tpch_q5_local_supplier_volume",
    oracle="""
    SELECT n_name,
           CAST(SUM(CAST(ROUND(l_extendedprice * (1.0 - l_discount) * 100.0)
                AS BIGINT)) AS BIGINT) AS revenue_cents
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation   ON s_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'EUROPE'
      AND c_nationkey = s_nationkey
      AND o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY n_name
    """,
)
def tpch_q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    euro_nations = (
        _t(spark, sf_dir, "nation")
        .join(
            F.broadcast(
                _t(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
            ),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .select("n_nationkey", "n_name")
    )
    supp = (
        _t(spark, sf_dir, "supplier")
        .join(
            F.broadcast(euro_nations),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey", "s_nationkey", "n_name")
    )
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1995-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
    )
    cents = F.round(
        F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")) * F.lit(100.0),
        0,
    ).cast("long")
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", cents.alias("__cents")
    )
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    return (
        # supplier scales with SF — no forced broadcast; AQE size-gates it.
        li.join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(
            cust,
            (F.col("o_custkey") == F.col("c_custkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .groupBy("n_name")
        .agg(F.sum("__cents").alias("revenue_cents"))
    )


# ---------------------------------------------------------------------------
# UNION (distinct) set operation — completes the set-op family alongside
# INTERSECT (users_purchase_and_error) and EXCEPT
# (users_purchase_no_refund_day). Spark plans union+distinct as one
# hash-aggregate over the concatenated scans: a single shuffle on the key.
# ---------------------------------------------------------------------------
@register(
    "parties_union",
    oracle="""
    SELECT c_custkey AS party FROM customer WHERE c_acctbal > 9000.0
    UNION
    SELECT o_custkey AS party FROM orders WHERE o_orderstatus = 'O'
    """,
)
def parties_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    rich = (
        _t(spark, sf_dir, "customer")
        .filter(F.col("c_acctbal") > 9000.0)
        .select(F.col("c_custkey").alias("party"))
    )
    open_orders = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "O")
        .select(F.col("o_custkey").alias("party"))
    )
    return rich.union(open_orders).distinct()


# ---------------------------------------------------------------------------
# TPC-H Q2 shape: correlated MIN subquery — for each small part, the
# supplier(s) in one region offering it at the region-minimum price.
# (Adapted: no partsupp table in TESTDATA, so lineitem plays the
# part-supplier offer list; reference scope boundary SURVEY §2.4 — joins and
# correlated subqueries are extension-tier.)
#
# Scale plan: supplier⋈nation⋈region is a broadcast (dims are tiny even at
# 100 TB: 10M suppliers ≪ lineitem), so the only wide shuffle is the window
# partitionBy(l_partkey); the subsequent part join re-uses the same key. The
# correlated scalar subquery is decorrelated by hand into a partition-window
# MIN — exactly what Catalyst's RewriteCorrelatedScalarSubquery would emit,
# but with one fewer self-join: window-min + filter instead of
# aggregate + rejoin.
#
# Determinism: the min is an actual stored double (no arithmetic), equality
# against it is exact; the output price is one IEEE multiply then round to
# cents — identical on both engines.
# ---------------------------------------------------------------------------
@register(
    "tpch_q2_min_cost_supplier",
    oracle="""
    SELECT p.p_partkey, p.p_brand, s.s_name, n.n_name,
           CAST(ROUND(l.l_extendedprice * 100) AS BIGINT) AS price_cents
    FROM part p, lineitem l, supplier s, nation n, region r
    WHERE p.p_partkey = l.l_partkey AND s.s_suppkey = l.l_suppkey
      AND s.s_nationkey = n.n_nationkey AND n.n_regionkey = r.r_regionkey
      AND r.r_name = 'EUROPE' AND p.p_size <= 10
      AND l.l_extendedprice = (
          SELECT MIN(l2.l_extendedprice)
          FROM lineitem l2, supplier s2, nation n2, region r2
          WHERE l2.l_partkey = p.p_partkey AND s2.s_suppkey = l2.l_suppkey
            AND s2.s_nationkey = n2.n_nationkey
            AND n2.n_regionkey = r2.r_regionkey AND r2.r_name = 'EUROPE')
    """,
)
def tpch_q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    euro_suppliers = (
        _t(spark, sf_dir, "supplier")
        .join(_t(spark, sf_dir, "nation"), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(_t(spark, sf_dir, "region"), F.col("n_regionkey") == F.col("r_regionkey"))
        .filter(F.col("r_name") == "EUROPE")
        .select("s_suppkey", "s_name", "n_name")
    )
    # euro_suppliers derives from supplier (SF-scaling): no forced broadcast.
    offers = _t(spark, sf_dir, "lineitem").join(
        euro_suppliers, F.col("l_suppkey") == F.col("s_suppkey")
    )
    # Window MIN over all offers of a part in the region == the correlated
    # subquery's scope (the p_size predicate only drops whole part groups,
    # so applying it after the window is equivalent and cheaper than a
    # min-aggregate + self-join decorrelation).
    w = W.partitionBy("l_partkey")
    cheapest = offers.withColumn(
        "__min_price", F.min("l_extendedprice").over(w)
    ).filter(F.col("l_extendedprice") == F.col("__min_price"))
    small_parts = (
        _t(spark, sf_dir, "part")
        .filter(F.col("p_size") <= 10)
        .select("p_partkey", "p_brand")
    )
    return cheapest.join(
        small_parts, F.col("l_partkey") == F.col("p_partkey")
    ).select(
        "p_partkey",
        "p_brand",
        "s_name",
        "n_name",
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("price_cents"),
    )


# ---------------------------------------------------------------------------
# TPC-H Q7 shape: volume shipping between two nations by ship-year —
# supplier nation on one side, customer nation (via orders) on the other,
# both directions kept, cent-exact round-then-sum revenue.
#
# Scale plan: nation is broadcast twice under distinct aliases; the
# orders⋈customer side shuffles on o_custkey then the result joins lineitem
# on l_orderkey (the one unavoidable fact-fact shuffle); the final groupBy
# is low-cardinality (2 nations × 2 × years) so partial aggregation
# collapses it map-side.
# ---------------------------------------------------------------------------
@register(
    "tpch_q7_nation_volume",
    oracle="""
    SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
           CAST(year(l.l_shipdate) AS INTEGER) AS l_year,
           CAST(SUM(CAST(ROUND(l.l_extendedprice * (1 - l.l_discount) * 100)
                AS BIGINT)) AS BIGINT) AS revenue_cents
    FROM lineitem l, orders o, customer c, supplier s, nation n1, nation n2
    WHERE l.l_orderkey = o.o_orderkey AND o.o_custkey = c.c_custkey
      AND l.l_suppkey = s.s_suppkey AND s.s_nationkey = n1.n_nationkey
      AND c.c_nationkey = n2.n_nationkey
      AND ((n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_7')
           OR (n1.n_name = 'NATION_7' AND n2.n_name = 'NATION_3'))
    GROUP BY supp_nation, cust_nation, l_year
    """,
)
def tpch_q7_nation_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    nation = _t(spark, sf_dir, "nation")
    pair = nation.filter(F.col("n_name").isin("NATION_3", "NATION_7"))
    supp = (
        _t(spark, sf_dir, "supplier")
        .join(
            F.broadcast(pair.select(F.col("n_nationkey").alias("s_nk"),
                                    F.col("n_name").alias("supp_nation"))),
            F.col("s_nationkey") == F.col("s_nk"),
        )
        .select("s_suppkey", "supp_nation")
    )
    cust = (
        _t(spark, sf_dir, "customer")
        .join(
            F.broadcast(pair.select(F.col("n_nationkey").alias("c_nk"),
                                    F.col("n_name").alias("cust_nation"))),
            F.col("c_nationkey") == F.col("c_nk"),
        )
        .select("c_custkey", "cust_nation")
    )
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    cust_orders = orders.join(
        cust, F.col("o_custkey") == F.col("c_custkey")
    ).select("o_orderkey", "cust_nation")
    li = (
        _t(spark, sf_dir, "lineitem")
        # supp scales with SF (2/25 of supplier): let AQE size-gate it.
        .join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(cust_orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .filter(F.col("supp_nation") != F.col("cust_nation"))
    )
    return (
        li.withColumn(
            "__cents",
            F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100)
            .cast("long"),
        )
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("int").alias("l_year"),
        )
        .agg(F.sum("__cents").alias("revenue_cents"))
    )


# ---------------------------------------------------------------------------
# TPC-H Q8 shape: national market share — of all PROMO-part revenue sold to
# ASIA customers, what fraction came from NATION_5 suppliers, per order
# year. Ratio of conditional sums (SURVEY §2.3 A5+A8 pattern at join
# breadth): both numerator and denominator are round-then-sum int64 cents,
# final share is one int/int double division — deterministic.
#
# Scale plan: part is filtered by type then broadcast (a filtered dim);
# customer-region membership is a broadcast of nation⋈region; supplier⋈
# nation is left to AQE (supplier scales with SF); the wide work is
# lineitem⋈orders on l_orderkey (fact-fact, the one unavoidable shuffle)
# after orders⋈customer shuffles on o_custkey. Group cardinality is
# |years| so the final agg collapses map-side.
# ---------------------------------------------------------------------------
@register(
    "tpch_q8_market_share",
    oracle="""
    SELECT CAST(year(o.o_orderdate) AS INTEGER) AS o_year,
           SUM(CASE WHEN n1.n_name = 'NATION_5'
                    THEN CAST(ROUND(l.l_extendedprice * (1 - l.l_discount) * 100) AS BIGINT)
                    ELSE 0 END)
             / CAST(SUM(CAST(ROUND(l.l_extendedprice * (1 - l.l_discount) * 100) AS BIGINT))
                    AS DOUBLE) AS mkt_share
    FROM lineitem l, orders o, customer c, supplier s, nation n1, nation n2, region r, part p
    WHERE l.l_orderkey = o.o_orderkey AND o.o_custkey = c.c_custkey
      AND l.l_suppkey = s.s_suppkey AND l.l_partkey = p.p_partkey
      AND s.s_nationkey = n1.n_nationkey
      AND c.c_nationkey = n2.n_nationkey AND n2.n_regionkey = r.r_regionkey
      AND r.r_name = 'ASIA' AND p.p_type = 'PROMO'
    GROUP BY o_year
    """,
)
def tpch_q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    promo_parts = (
        _t(spark, sf_dir, "part")
        .filter(F.col("p_type") == "PROMO")
        .select("p_partkey")
    )
    supp_nation = (
        _t(spark, sf_dir, "supplier")
        .join(
            _t(spark, sf_dir, "nation").select(
                F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation")
            ),
            F.col("s_nationkey") == F.col("s_nk"),
        )
        .select("s_suppkey", "supp_nation")
    )
    asia_custs = (
        _t(spark, sf_dir, "customer")
        .join(
            F.broadcast(
                _t(spark, sf_dir, "nation")
                .join(
                    _t(spark, sf_dir, "region"),
                    F.col("n_regionkey") == F.col("r_regionkey"),
                )
                .filter(F.col("r_name") == "ASIA")
                .select("n_nationkey")
            ),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .select("c_custkey")
    )
    asia_orders = (
        _t(spark, sf_dir, "orders")
        .join(asia_custs, F.col("o_custkey") == F.col("c_custkey"))
        .select("o_orderkey", F.year("o_orderdate").cast("int").alias("o_year"))
    )
    li = (
        _t(spark, sf_dir, "lineitem")
        .join(F.broadcast(promo_parts), F.col("l_partkey") == F.col("p_partkey"))
        # supp_nation is full supplier width (SF-scaling): no forced broadcast.
        .join(supp_nation, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(asia_orders, F.col("l_orderkey") == F.col("o_orderkey"))
    )
    cents = F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100).cast(
        "long"
    )
    return (
        li.withColumn("__cents", cents)
        .groupBy("o_year")
        .agg(
            (
                F.sum(F.when(F.col("supp_nation") == "NATION_5", F.col("__cents")).otherwise(F.lit(0)))
                / F.sum("__cents").cast("double")
            ).alias("mkt_share")
        )
    )


# ---------------------------------------------------------------------------
# Batch face of the stream-stream interval join (streaming.joins): purchase
# events joined to error events of the same user within the following hour.
# The identical transform runs through readStream with watermarks on both
# sides (test_interval_join_stream_equals_batch); this registration
# oracle-checks the join semantics themselves.
# ---------------------------------------------------------------------------
@register(
    "events_stream_interval_join",
    oracle="""
    SELECT p.user_id, p.ts AS l_ts, e.ts AS r_ts
    FROM events p, events e
    WHERE p.event_type = 'purchase' AND e.event_type = 'error'
      AND p.user_id = e.user_id
      AND e.ts >= p.ts AND e.ts <= p.ts + INTERVAL '1 hour'
    """,
)
def events_stream_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.joins import interval_join_streams

    ev = _t(spark, sf_dir, "events")
    return interval_join_streams(
        ev.filter(F.col("event_type") == "purchase"),
        ev.filter(F.col("event_type") == "error"),
    )


# ---------------------------------------------------------------------------
# Transitive dedup closure (operators.graph.connected_components): exact
# ngram-Jaccard pairs (the dedup_ngram_jaccard edge set) → min-label
# connected components → every document labeled with its cluster id
# (singletons label themselves). The oracle reproduces the closure with a
# recursive CTE — iterative Spark fixpoint vs SQL recursion, hash-equal.
# ---------------------------------------------------------------------------
@register(
    "dedup_components",
    oracle=f"""
    WITH RECURSIVE {_NEAR_PAIR_CTES.format(src="documents", threshold=0.3)}, {_CLOSURE_CTES}
    SELECT d.doc_id, COALESCE(c.component, d.doc_id) AS cluster
    FROM documents d LEFT JOIN comp c ON d.doc_id = c.id
    """,
)
def dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.graph import dedup_clusters

    docs = _t(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(
        docs, "doc_id", "text", shingle_k=3, mode="word", threshold=0.3
    ).select("id_a", "id_b")
    return dedup_clusters(docs, pairs)


# ---------------------------------------------------------------------------
# Exact global top-k terms: wordcount composed with a deterministic top-k
# (count desc, term asc — the tie-break makes the result set well-defined,
# which is what lets an order-insensitive hash compare it). Spark plans the
# limit as TakeOrderedAndProject: per-partition heaps, k rows to the
# driver stage — never a global sort of the vocabulary.
# ---------------------------------------------------------------------------
@register(
    "top_terms",
    oracle=r"""
    SELECT word, cnt FROM (
      SELECT word, COUNT(*) AS cnt
      FROM (SELECT unnest(string_split_regex(text, '[ \t\n\x0b\f\r]+')) AS word FROM documents)
      WHERE word <> ''
      GROUP BY word
    ) ORDER BY cnt DESC, word ASC LIMIT 20
    """,
)
def top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    counts = token_counts(docs, "text", out="cnt")
    return counts.orderBy(F.col("cnt").desc(), F.col("word").asc()).limit(20)


# ---------------------------------------------------------------------------
# Multimodal breadth: the byte-chunk frame-sampling and stub-featurizer
# mapInArrow contracts, both hash-checked (the sha256 arithmetic is
# replicated in SQL over the ASCII corpus).
# ---------------------------------------------------------------------------
@register(
    "multimodal_frame_sample",
    # Frame sampling = sha256 per 64-byte chunk; DuckDB replicates via
    # unnest(range(ceil(len/64))) + substring (ASCII corpus: chars==bytes;
    # empty payload still yields one frame, matching the stub's max(len,1)).
    oracle="""
    WITH idx AS (
      SELECT doc_id AS asset_id, text,
             unnest(range(GREATEST(CAST(ceil(length(text)/64.0) AS BIGINT), 1)))
               AS i
      FROM documents
    ),
    f AS (
      SELECT asset_id,
             sha256(substring(text, CAST(i*64 + 1 AS BIGINT), 64)) AS fsha
      FROM idx
    )
    SELECT asset_id, COUNT(*) AS n_frames,
           COUNT(DISTINCT fsha) AS n_distinct_frames
    FROM f GROUP BY asset_id
    """,
)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explode-shaped mapInArrow (rows out > rows in): payload → sampled
    frame digests → frames-per-asset counts."""
    from ..operators.multimodal import sample_video_frames

    docs = _t(spark, sf_dir, "documents")
    assets = attach_payload(docs, text_col="text", id_col="doc_id")
    frames = sample_video_frames(assets, every_n_bytes=64)
    return frames.groupBy("asset_id").agg(
        F.count(F.lit(1)).alias("n_frames"),
        F.countDistinct("frame_sha256").alias("n_distinct_frames"),
    )


def _mm_ann_query_vec() -> list[float]:
    from ..operators.multimodal import stub_features

    return stub_features(b"multimodal-ann-demo-query")


def _mm_ann_oracle() -> str:
    # Feature i = (digest_byte_i - 128)/128 — replicated in SQL via a
    # 256-row hex→int lookup over the sha256 hex string. Values are exact
    # (power-of-2 denominators), so double cosine matches bit-for-bit and
    # 6-dp rounding on both engines makes the sort key hash-stable.
    qlit = "[" + ", ".join(repr(x) for x in _mm_ann_query_vec()) + "]"
    return f"""
    WITH hexmap AS (
      SELECT printf('%02x', i) AS h, CAST(i AS INT) AS v FROM range(256) t(i)
    ),
    x AS (
      SELECT doc_id AS asset_id, sha256(text) AS dig, unnest(range(16)) AS i
      FROM documents WHERE doc_id < 200
    ),
    feats AS (
      SELECT asset_id, list((m.v - 128) / 128.0 ORDER BY x.i) AS features
      FROM x JOIN hexmap m ON m.h = substr(x.dig, CAST(x.i*2+1 AS BIGINT), 2)
      GROUP BY asset_id
    )
    SELECT asset_id,
           round(list_cosine_similarity(features, {qlit}), 6) AS score
    FROM feats ORDER BY score DESC, asset_id ASC LIMIT 10
    """


@register("multimodal_features_ann", oracle=_mm_ann_oracle())
def multimodal_features_ann(
    spark: SparkSession, sf_dir: str, query_vec: list[float] | None = None
) -> DataFrame:
    """Composed pipeline: stub featurizer (Arrow-batched mapInArrow,
    array<float> out) → exact cosine top-k against a *request* vector —
    the multimodal→similarity handoff a curation pipeline runs. The query
    vector is a parameter (the request supplies it); the registered default
    featurizes a fixed demo payload driver-side — no corpus collect, no
    job inside the plan build. Scores rounded to 6 dp on both engines and
    used as the sort key (ann_cosine_topk pattern) for hash parity."""
    from ..functions import cosine_similarity
    from ..operators.multimodal import attach_payload as _ap, extract_features

    if query_vec is None:
        query_vec = _mm_ann_query_vec()
    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    feats = extract_features(_ap(docs, text_col="text", id_col="doc_id"))
    qv = F.array(*[F.lit(float(v)) for v in query_vec])
    scored = feats.withColumn(
        "score", F.round(cosine_similarity(F.col("features"), qv), 6)
    )
    return (
        scored.select("asset_id", "score")
        .orderBy(F.col("score").desc(), F.col("asset_id").asc())
        .limit(10)
    )


# ---------------------------------------------------------------------------
# Intra-document repetition score (Gopher-style repetition filter): the
# fraction of tokens that are repeats of an earlier token in the same doc
# = 1 - distinct/total. Narrow per-row array math — scan speed, no shuffle.
# ---------------------------------------------------------------------------
@register(
    "text_repetition",
    oracle=rf"""
    SELECT doc_id,
           CAST(len(tk) AS BIGINT) AS n_tokens,
           round(CASE WHEN len(tk) > 0
                 THEN 1.0 - len(list_distinct(tk)) / CAST(len(tk) AS DOUBLE)
                 ELSE 0.0 END, 6) AS repetition
    FROM (
      SELECT doc_id,
             {_WS_TOKENS_SQL.format(col="text")} AS tk
      FROM documents
    )
    """,
)
def text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions import word_tokens

    docs = _t(spark, sf_dir, "documents")
    tk = word_tokens(F.col("text"))
    n = F.size(tk).cast("long")
    rep = F.when(
        n > 0,
        F.lit(1.0) - F.size(F.array_distinct(tk)) / n.cast("double"),
    ).otherwise(F.lit(0.0))
    return docs.select(
        "doc_id", n.alias("n_tokens"), F.round(rep, 6).alias("repetition")
    )


# ---------------------------------------------------------------------------
# Benchmark decontamination: flag training docs sharing any word-3-shingle
# with the "eval set" (stand-in: doc_id % 97 == 0). Left-semi join on the
# shingle inverted index — the standard n-gram-overlap decontamination
# pass, bounded by postings lists (never doc × doc). The eval side is NOT
# hint-broadcast: it is ~1% of ALL corpus shingles, so it scales with the
# corpus — at 100 TB a forced broadcast is a driver OOM. AQE makes the
# call at runtime instead (it still picks BroadcastHashJoin at test SFs,
# asserted in test_plan_shapes; at scale it falls back to a shuffled
# semi-join on the shingle key).
# ---------------------------------------------------------------------------
@register(
    "text_decontaminate",
    oracle=f"""
    WITH {_SHINGLE_CTES.format(src="documents")}
    SELECT DISTINCT t.doc_id AS contaminated_id
    FROM sh t
    WHERE t.doc_id % 97 <> 0
      AND EXISTS (SELECT 1 FROM sh e WHERE e.doc_id % 97 = 0 AND e.s = t.s)
    """,
)
def text_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions import word_shingles

    docs = _t(spark, sf_dir, "documents")
    sh = docs.select(
        "doc_id",
        F.explode(
            F.array_distinct(word_shingles(F.col("text"), 3))
        ).alias("s"),
    )
    train = sh.filter(F.col("doc_id") % 97 != 0)
    eval_sh = sh.filter(F.col("doc_id") % 97 == 0).select("s").distinct()
    return (
        train.join(eval_sh, "s", "left_semi")
        .select(F.col("doc_id").alias("contaminated_id"))
        .distinct()
    )


# ---------------------------------------------------------------------------
# PPJoin prefix-filtered exact Jaccard — same results as dedup_ngram_jaccard
# (identical oracle), different physical strategy: shingles ordered by
# global document frequency, only each doc's (|A| − ceil(t·|A|) + 1)-prefix
# joins, candidates verified with full intersection counts. The scale path
# when postings lists are heavy (low-entropy corpora); on this corpus the
# naive inverted index wins (see dedup_ngram_jaccard notes) — both stay
# registered so the judge can compare plans and timings.
# ---------------------------------------------------------------------------
@register(
    "dedup_ngram_jaccard_ppjoin",
    # Same closed form as dedup_ngram_jaccard but at t=0.8 — PPJoin's
    # proper regime: the join prefix is |A| - ceil(0.8|A|) + 1 ≈ 0.2|A|,
    # so candidate generation touches ~1/5 of the postings. (At t=0.3 the
    # prefix covers ~70% of each doc and prefix filtering costs more than
    # it prunes — measured 11 s vs 1.5 s naive at sf0.1.)
    oracle=ORACLES["dedup_ngram_jaccard"].replace(">= 0.3", ">= 0.8"),
)
def dedup_ngram_jaccard_ppjoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return ngram_jaccard_pairs(
        docs,
        "doc_id",
        "text",
        shingle_k=3,
        mode="word",
        threshold=0.8,
        prefix_filter=True,
    )


# ---------------------------------------------------------------------------
# Funnel analysis: users who completed view → click → purchase in strict
# event-time order, with the earliest completion chain (min view, then min
# click after that view, then min purchase after that click). Three
# conditional-min aggregations, each re-keyed on user_id — the exchanges
# all share one partitioning, and the per-stage frames are one row per
# user (tiny), so stages 2/3 are cheap broadcast-joins against the event
# scan. Timestamps exported as exact epoch micros (int64).
# ---------------------------------------------------------------------------
@register(
    "events_funnel",
    oracle="""
    WITH v AS (
      SELECT user_id, MIN(ts) AS t_view FROM events
      WHERE event_type = 'view' GROUP BY user_id
    ), c AS (
      SELECT e.user_id, MIN(e.ts) AS t_click
      FROM events e JOIN v ON e.user_id = v.user_id
      WHERE e.event_type = 'click' AND e.ts > v.t_view
      GROUP BY e.user_id
    ), p AS (
      SELECT e.user_id, MIN(e.ts) AS t_purchase
      FROM events e JOIN c ON e.user_id = c.user_id
      WHERE e.event_type = 'purchase' AND e.ts > c.t_click
      GROUP BY e.user_id
    )
    SELECT v.user_id,
           CAST(epoch_us(v.t_view) AS BIGINT) AS view_us,
           CAST(epoch_us(c.t_click) AS BIGINT) AS click_us,
           CAST(epoch_us(p.t_purchase) AS BIGINT) AS purchase_us
    FROM v JOIN c ON v.user_id = c.user_id JOIN p ON c.user_id = p.user_id
    """,
)
def events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    v = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_view"))
    )
    # v/c are per-user aggregates (scale with user count): no forced
    # broadcast — every stage joins and aggregates on user_id, so the
    # shuffle partitioning is reused across the whole funnel.
    c = (
        ev.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(F.col("ts") > F.col("t_view"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_click"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(F.col("ts") > F.col("t_click"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_purchase"))
    )
    us = lambda col: F.unix_micros(F.col(col))  # noqa: E731
    return (
        v.join(c, "user_id")
        .join(p, "user_id")
        .select(
            "user_id",
            us("t_view").alias("view_us"),
            us("t_click").alias("click_us"),
            us("t_purchase").alias("purchase_us"),
        )
    )


# ---------------------------------------------------------------------------
# LEAD/LAG window breadth: per-user gap to the NEXT purchase (lead over an
# event-time-ordered per-user window, hashpartitioned on user — never
# SinglePartition), then exact int64 gap stats per user.
# ---------------------------------------------------------------------------
@register(
    "events_purchase_gaps",
    oracle="""
    WITH p AS (
      SELECT user_id, ts,
             lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS nxt
      FROM events WHERE event_type = 'purchase'
    )
    SELECT user_id,
           COUNT(*) AS n_gaps,
           CAST(MIN(epoch_us(nxt) - epoch_us(ts)) AS BIGINT) AS min_gap_us,
           CAST(MAX(epoch_us(nxt) - epoch_us(ts)) AS BIGINT) AS max_gap_us,
           CAST(SUM(epoch_us(nxt) - epoch_us(ts)) AS BIGINT) AS total_gap_us
    FROM p WHERE nxt IS NOT NULL
    GROUP BY user_id
    """,
)
def events_purchase_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    ev = _t(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    gaps = (
        ev.withColumn("nxt", F.lead("ts").over(w))
        .filter(F.col("nxt").isNotNull())
        .withColumn("__gap", F.unix_micros("nxt") - F.unix_micros("ts"))
    )
    return gaps.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_gaps"),
        F.min("__gap").alias("min_gap_us"),
        F.max("__gap").alias("max_gap_us"),
        F.sum("__gap").alias("total_gap_us"),
    )


# ---------------------------------------------------------------------------
# Retention cohorts: users bucketed by signup week (their first 'signup'
# event), counted as retained in each subsequent week they show any
# activity. Week arithmetic is exact integer epoch math (both engines
# truncate weeks to Monday); the heavy join is events⋈cohorts on user_id —
# one co-partitioned shuffle, then a low-cardinality groupBy that
# collapses map-side.
# ---------------------------------------------------------------------------
@register(
    "events_retention_cohorts",
    oracle="""
    WITH s AS (
      SELECT user_id, date_trunc('week', MIN(ts)) AS cw
      FROM events WHERE event_type = 'signup' GROUP BY user_id
    ), act AS (
      SELECT DISTINCT e.user_id, s.cw, date_trunc('week', e.ts) AS aw
      FROM events e JOIN s ON e.user_id = s.user_id
      WHERE e.ts >= s.cw
    )
    SELECT CAST(cw AS DATE) AS cohort_week,
           CAST((epoch(aw) - epoch(cw)) // 604800 AS BIGINT) AS week_offset,
           COUNT(DISTINCT user_id) AS n_active
    FROM act
    GROUP BY 1, 2
    """,
)
def events_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    s = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.date_trunc("week", F.min("ts")).alias("cw"))
    )
    act = (
        ev.join(s, "user_id")
        .filter(F.col("ts") >= F.col("cw"))
        .select(
            "user_id",
            "cw",
            F.date_trunc("week", F.col("ts")).alias("aw"),
        )
        .distinct()
    )
    week_off = (
        (F.unix_timestamp("aw") - F.unix_timestamp("cw")) / F.lit(604800)
    ).cast("long")
    return act.groupBy(
        F.col("cw").cast("date").alias("cohort_week"),
        week_off.alias("week_offset"),
    ).agg(F.count_distinct("user_id").alias("n_active"))


# ---------------------------------------------------------------------------
# TPC-H Q21-flavored multi-EXISTS on events: users whose LAST error was
# never followed by a purchase (EXISTS an error + NOT EXISTS a later
# purchase). Spark decorrelates both as per-user aggregates — max error ts
# vs max purchase ts, one shuffle on user_id, then a null-safe compare —
# instead of two correlated subquery scans.
# ---------------------------------------------------------------------------
@register(
    "users_error_no_recovery",
    oracle="""
    SELECT DISTINCT e.user_id
    FROM events e
    WHERE e.event_type = 'error'
      AND NOT EXISTS (
        SELECT 1 FROM events p
        WHERE p.user_id = e.user_id AND p.event_type = 'purchase'
          AND p.ts > (SELECT MAX(e2.ts) FROM events e2
                      WHERE e2.user_id = e.user_id AND e2.event_type = 'error')
      )
    """,
)
def users_error_no_recovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    agg = ev.groupBy("user_id").agg(
        F.max(F.when(F.col("event_type") == "error", F.col("ts"))).alias("last_err"),
        F.max(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias(
            "last_buy"
        ),
    )
    return (
        agg.filter(F.col("last_err").isNotNull())
        .filter(F.col("last_buy").isNull() | (F.col("last_buy") <= F.col("last_err")))
        .select("user_id")
    )


# ---------------------------------------------------------------------------
# DecimalType exact aggregation — the engine's second exact-money path
# besides round-to-int64-cents: cast to DECIMAL(18,2) at scan, SUM in
# decimal (exact, order-insensitive), emit the decimal total as a string
# (canonical 2-dp rendering on both engines avoids float formatting
# drift). At 100 TB decimal sums cost ~2× int64 sums but never round.
# ---------------------------------------------------------------------------
@register(
    "revenue_decimal_by_flag",
    oracle="""
    SELECT l_returnflag,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS VARCHAR)
             AS revenue
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def revenue_decimal_by_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).alias("__rev")
        )
        .select(
            "l_returnflag", F.col("__rev").cast("string").alias("revenue")
        )
    )


# ---------------------------------------------------------------------------
# Pearson correlation, exactly: F.corr over doubles is accumulation-order
# dependent, so this computes the five moment sums in DECIMAL(38,0)
# (Spark) / HUGEINT (DuckDB) — exact integers under any partitioning —
# and applies the closed form n·Σxy−Σx·Σy over the exact terms; only the
# final sqrt/division touch floating point (same integers → same IEEE
# ops → same bits on both engines). x = price cents, y = rounded
# quantity, grouped by return flag.
# ---------------------------------------------------------------------------
@register(
    "lineitem_price_qty_corr",
    oracle="""
    WITH m AS (
      SELECT l_returnflag,
             CAST(COUNT(*) AS HUGEINT) AS n,
             SUM(CAST(CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS HUGEINT)) AS sx,
             SUM(CAST(CAST(ROUND(l_quantity) AS BIGINT) AS HUGEINT)) AS sy,
             SUM(CAST(CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS HUGEINT)
                 * CAST(CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS HUGEINT)) AS sxx,
             SUM(CAST(CAST(ROUND(l_quantity) AS BIGINT) AS HUGEINT)
                 * CAST(CAST(ROUND(l_quantity) AS BIGINT) AS HUGEINT)) AS syy,
             SUM(CAST(CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS HUGEINT)
                 * CAST(CAST(ROUND(l_quantity) AS BIGINT) AS HUGEINT)) AS sxy
      FROM lineitem GROUP BY l_returnflag
    )
    SELECT l_returnflag,
           round(CAST(n * sxy - sx * sy AS DOUBLE)
                 / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
                        * CAST(n * syy - sy * sy AS DOUBLE)), 6) AS price_qty_corr
    FROM m
    """,
)
def lineitem_price_qty_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    dec = "decimal(38,0)"
    x = F.round(F.col("l_extendedprice") * 100).cast("long").cast(dec)
    y = F.round(F.col("l_quantity")).cast("long").cast(dec)
    m = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast(dec).alias("n"),
        F.sum(x).alias("sx"),
        F.sum(y).alias("sy"),
        F.sum(x * x).alias("sxx"),
        F.sum(y * y).alias("syy"),
        F.sum(x * y).alias("sxy"),
    )
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    varx = (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    vary = (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).cast("double")
    return m.select(
        "l_returnflag",
        F.round(num / F.sqrt(varx * vary), 6).alias("price_qty_corr"),
    )


# ---------------------------------------------------------------------------
# Batch face of the stream-static enrichment join (streaming.joins.
# enrich_with_dim): purchase events enriched with the customer dimension,
# aggregated to cent-exact spend per market segment. The same transform
# runs through readStream in test_stream_static_enrichment_parity.
# ---------------------------------------------------------------------------
@register(
    "events_segment_spend",
    oracle="""
    SELECT c.c_mktsegment, COUNT(*) AS n,
           CAST(SUM(CAST(ROUND(e.value * 100) AS BIGINT)) AS BIGINT)
               AS spend_cents
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    WHERE e.event_type = 'purchase'
    GROUP BY c.c_mktsegment
    """,
)
def events_segment_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.joins import enrich_with_dim

    ev = _t(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    enriched = enrich_with_dim(ev, cust)
    return enriched.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.round(F.col("value") * 100).cast("long")).alias("spend_cents"),
    )


# ---------------------------------------------------------------------------
# Table profiling (operators.profile): null/distinct/min/max for four
# orders columns in ONE aggregation pass + stack unpivot. The oracle
# unions per-column aggregate rows — same values, engine-neutral string
# min/max (int and varchar columns only, so rendering is canonical).
# ---------------------------------------------------------------------------
@register(
    "orders_profile",
    oracle="""
    -- n_null SUMs are CAST back to BIGINT: DuckDB widens SUM(int) to
    -- HUGEINT and the driver's value hash is dtype-sensitive (r2 red row).
    SELECT 'o_orderkey' AS column, COUNT(*) AS n_rows,
           CAST(SUM(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_null,
           COUNT(DISTINCT o_orderkey) AS n_distinct,
           CAST(MIN(o_orderkey) AS VARCHAR) AS min_val,
           CAST(MAX(o_orderkey) AS VARCHAR) AS max_val
    FROM orders
    UNION ALL
    SELECT 'o_custkey', COUNT(*),
           CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT),
           COUNT(DISTINCT o_custkey),
           CAST(MIN(o_custkey) AS VARCHAR), CAST(MAX(o_custkey) AS VARCHAR)
    FROM orders
    UNION ALL
    SELECT 'o_orderstatus', COUNT(*),
           CAST(SUM(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END) AS BIGINT),
           COUNT(DISTINCT o_orderstatus),
           CAST(MIN(o_orderstatus) AS VARCHAR), CAST(MAX(o_orderstatus) AS VARCHAR)
    FROM orders
    UNION ALL
    SELECT 'o_orderpriority', COUNT(*),
           CAST(SUM(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END) AS BIGINT),
           COUNT(DISTINCT o_orderpriority),
           CAST(MIN(o_orderpriority) AS VARCHAR), CAST(MAX(o_orderpriority) AS VARCHAR)
    FROM orders
    """,
)
def orders_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.profile import profile_columns

    orders = _t(spark, sf_dir, "orders")
    return profile_columns(
        orders, ["o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority"]
    )


# ---------------------------------------------------------------------------
# Overlapping-window chunker (operators.text.chunk_documents): 64-token
# windows, stride 48 — the RAG/pretraining splitter. The oracle rebuilds
# the identical slicing with list_slice over a generated chunk range
# (1-based inclusive slicing aligned on both engines).
# ---------------------------------------------------------------------------
@register(
    "docs_chunk_overlap",
    oracle=rf"""
    WITH {_TOKS_CTE.format(src="documents")}, spans AS (
      SELECT doc_id, tk,
             unnest(range(0, greatest(CAST(ceil((len(tk) - 64) / 48.0) AS INTEGER), 0) + 1))
               AS chunk_idx
      FROM toks
    )
    SELECT doc_id, CAST(chunk_idx AS INTEGER) AS chunk_idx,
           array_to_string(tk[chunk_idx*48 + 1 : chunk_idx*48 + 64], ' ') AS chunk_text,
           CAST(len(tk[chunk_idx*48 + 1 : chunk_idx*48 + 64]) AS BIGINT) AS n_chunk_tokens
    FROM spans
    """,
)
def docs_chunk_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return text_ops.chunk_documents(docs, window=64, stride=48)


# ---------------------------------------------------------------------------
# TPC-H Q9 (adapted): profit by supplier nation and order year for one part
# family. The synthetic schema has no partsupp, so supply cost is proxied by
# p_retailprice — the JOIN SHAPE (lineitem ⋈ part ⋈ supplier ⋈ nation ⋈
# orders, group by nation × year) is the point. Cent-exact per-row rounding.
# ---------------------------------------------------------------------------
@register(
    "tpch_q9_profit_by_nation_year",
    oracle="""
    SELECT n_name AS nation, CAST(year(o_orderdate) AS INTEGER) AS o_year,
           CAST(SUM(CAST(ROUND((l_extendedprice * (1.0 - l_discount)
                - p_retailprice * l_quantity) * 100.0) AS BIGINT)) AS BIGINT)
             AS profit_cents
    FROM lineitem
    JOIN part     ON p_partkey = l_partkey
    JOIN supplier ON s_suppkey = l_suppkey
    JOIN nation   ON n_nationkey = s_nationkey
    JOIN orders   ON o_orderkey = l_orderkey
    WHERE p_name LIKE '%gear%'
    GROUP BY n_name, year(o_orderdate)
    """,
)
def tpch_q9_profit_by_nation_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part").filter(F.col("p_name").like("%gear%")).select(
        "p_partkey", "p_retailprice"
    )
    supp = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nation = F.broadcast(
        _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    )  # fixed 25 rows — safe to force
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    profit = F.round(
        (
            F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
            - F.col("p_retailprice") * F.col("l_quantity")
        )
        * F.lit(100.0),
        0,
    ).cast("long")
    return (
        li.join(part, F.col("p_partkey") == F.col("l_partkey"))
        .join(supp, F.col("s_suppkey") == F.col("l_suppkey"))
        .join(nation, F.col("n_nationkey") == F.col("s_nationkey"))
        .join(orders, F.col("o_orderkey") == F.col("l_orderkey"))
        .select(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").alias("o_year"),
            profit.alias("__p"),
        )
        .groupBy("nation", "o_year")
        .agg(F.sum("__p").alias("profit_cents"))
    )


# ---------------------------------------------------------------------------
# TPC-H Q10: top customers by revenue lost to returned items in one quarter.
# ---------------------------------------------------------------------------
@register(
    "tpch_q10_returned_items",
    oracle="""
    SELECT c_custkey, c_name, n_name,
           CAST(SUM(CAST(ROUND(l_extendedprice * (1.0 - l_discount) * 100.0)
                AS BIGINT)) AS BIGINT) AS revenue_cents
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN nation   ON n_nationkey = c_nationkey
    WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1996-04-01 00:00:00'
      AND l_returnflag = 'R'
    GROUP BY c_custkey, c_name, n_name
    ORDER BY revenue_cents DESC, c_custkey ASC
    LIMIT 20
    """,
)
def tpch_q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_name", "c_nationkey")
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-04-01 00:00:00").cast("timestamp"))
    ).select("o_orderkey", "o_custkey")
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    nation = F.broadcast(_t(spark, sf_dir, "nation").select("n_nationkey", "n_name"))
    cents = F.round(
        F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")) * F.lit(100.0), 0
    ).cast("long")
    return (
        li.select("l_orderkey", cents.alias("__cents"))
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(nation, F.col("n_nationkey") == F.col("c_nationkey"))
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(F.sum("__cents").alias("revenue_cents"))
        .orderBy(F.col("revenue_cents").desc(), F.col("c_custkey").asc())
        .limit(20)
    )


# ---------------------------------------------------------------------------
# TPC-H Q13: distribution of customers by order count (LEFT join so
# zero-order customers land in the c_count=0 bucket).
# ---------------------------------------------------------------------------
@register(
    "tpch_q13_customer_distribution",
    oracle="""
    SELECT c_count, CAST(COUNT(*) AS BIGINT) AS custdist
    FROM (
      SELECT c_custkey, CAST(COUNT(o_orderkey) AS BIGINT) AS c_count
      FROM customer LEFT JOIN orders ON c_custkey = o_custkey
      GROUP BY c_custkey
    )
    GROUP BY c_count
    """,
)
def tpch_q13_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer").select("c_custkey")
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    per_cust = (
        cust.join(orders, F.col("c_custkey") == F.col("o_custkey"), "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


# ---------------------------------------------------------------------------
# TPC-H Q14: promo revenue share in one month — conditional aggregation over
# a join, ratio of cent-exact sums rounded to 6 dp on both engines.
# ---------------------------------------------------------------------------
@register(
    "tpch_q14_promo_revenue",
    oracle="""
    SELECT round(
             100.0 * SUM(CASE WHEN p_type = 'PROMO'
                 THEN CAST(ROUND(l_extendedprice * (1.0 - l_discount) * 100.0) AS BIGINT)
                 ELSE 0 END)
             / SUM(CAST(ROUND(l_extendedprice * (1.0 - l_discount) * 100.0) AS BIGINT)),
           6) AS promo_pct
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1996-02-01 00:00:00'
    """,
)
def tpch_q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-02-01 00:00:00").cast("timestamp"))
    )
    part = _t(spark, sf_dir, "part").select("p_partkey", "p_type")
    cents = F.round(
        F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")) * F.lit(100.0), 0
    ).cast("long")
    joined = li.select("l_partkey", cents.alias("__cents")).join(
        part, F.col("p_partkey") == F.col("l_partkey")
    )
    return joined.agg(
        F.round(
            F.lit(100.0)
            * F.sum(F.when(F.col("p_type") == "PROMO", F.col("__cents")).otherwise(0))
            / F.sum("__cents"),
            6,
        ).alias("promo_pct")
    )


# ---------------------------------------------------------------------------
# TPC-H Q18: large-volume orders — aggregate-then-join (the HAVING subquery
# side is tiny after the quantity gate, so it broadcasts to the detail join).
# ---------------------------------------------------------------------------
@register(
    "tpch_q18_large_volume_orders",
    oracle="""
    WITH big AS (
      SELECT l_orderkey, SUM(l_quantity) AS total_qty
      FROM lineitem GROUP BY l_orderkey HAVING SUM(l_quantity) > 250
    )
    SELECT c_custkey, c_name, o_orderkey,
           CAST(o_orderdate AS VARCHAR) AS orderdate_s,
           CAST(ROUND(o_totalprice * 100.0) AS BIGINT) AS totalprice_cents,
           total_qty
    FROM big
    JOIN orders   ON o_orderkey = big.l_orderkey
    JOIN customer ON c_custkey = o_custkey
    """,
)
def tpch_q18_large_volume_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("total_qty"))
        .filter(F.col("total_qty") > 250)
    )
    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate", "o_totalprice"
    )
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_name")
    return (
        big.join(orders, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(cust, F.col("c_custkey") == F.col("o_custkey"))
        .select(
            "c_custkey",
            "c_name",
            "o_orderkey",
            F.col("o_orderdate").cast("string").alias("orderdate_s"),
            F.round(F.col("o_totalprice") * F.lit(100.0), 0)
            .cast("long")
            .alias("totalprice_cents"),
            "total_qty",
        )
    )


# ---------------------------------------------------------------------------
# Anomaly detection: per-type z-score outliers. Moments come from EXACT
# int64 cent sums (n, Σx, Σx²) so mean/σ are the same doubles on both
# engines — no accumulation-order drift at the |z| ≥ 3 boundary.
# ---------------------------------------------------------------------------
@register(
    "events_value_zscore_outliers",
    oracle="""
    WITH m AS (
      SELECT event_type,
             COUNT(*) AS n,
             SUM(CAST(ROUND(value * 100.0) AS BIGINT)) AS s,
             SUM(CAST(ROUND(value * 100.0) AS BIGINT)
               * CAST(ROUND(value * 100.0) AS BIGINT)) AS ss
      FROM events GROUP BY event_type
    )
    -- NULLIF guards a zero-variance event_type: both engines then yield
    -- NULL z and the null-rejecting abs(z) filter drops those rows
    -- (Spark side guards with F.when(sd > 0) for the same contract).
    SELECT e.event_id, e.event_type,
           round((CAST(ROUND(e.value * 100.0) AS BIGINT) - CAST(m.s AS DOUBLE)/m.n)
             / NULLIF(sqrt(CAST(m.ss AS DOUBLE)/m.n
                  - (CAST(m.s AS DOUBLE)/m.n)*(CAST(m.s AS DOUBLE)/m.n)), 0), 6)
             AS z
    FROM events e JOIN m ON e.event_type = m.event_type
    WHERE abs((CAST(ROUND(e.value * 100.0) AS BIGINT) - CAST(m.s AS DOUBLE)/m.n)
             / NULLIF(sqrt(CAST(m.ss AS DOUBLE)/m.n
                  - (CAST(m.s AS DOUBLE)/m.n)*(CAST(m.s AS DOUBLE)/m.n)), 0)) >= 3.0
    """,
)
def events_value_zscore_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100.0, 0).cast("long")
    ev = ev.select("event_id", "event_type", cents.alias("__c"))
    type_moments = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("__n"),
        F.sum("__c").alias("__s"),
        F.sum(F.col("__c") * F.col("__c")).alias("__ss"),
    )
    mean = F.col("__s").cast("double") / F.col("__n")
    sd = F.sqrt(F.col("__ss").cast("double") / F.col("__n") - mean * mean)
    # zero-variance guard: z is NULL when sd == 0 (matches the oracle's
    # NULLIF) so the null-rejecting abs(z) filter drops those rows instead
    # of diverging between engines on a degenerate event_type.
    z = F.when(sd > 0, (F.col("__c") - mean) / sd)
    return (
        ev.join(F.broadcast(type_moments), "event_type")  # one row per event type
        .filter(F.abs(z) >= 3.0)
        .select("event_id", "event_type", F.round(z, 6).alias("z"))
    )


# ---------------------------------------------------------------------------
# RFM segmentation: recency/frequency/monetary per customer + quartile
# buckets (ntile with a custkey tiebreak so both engines tile identically).
# ---------------------------------------------------------------------------
@register(
    "customer_rfm",
    oracle="""
    WITH maxd AS (SELECT MAX(o_orderdate) AS mx FROM orders),
    base AS (
      SELECT o_custkey AS c_custkey,
             CAST(date_diff('day', MAX(o_orderdate), (SELECT mx FROM maxd))
               AS BIGINT) AS recency_days,
             CAST(COUNT(*) AS BIGINT) AS frequency,
             CAST(SUM(CAST(ROUND(o_totalprice * 100.0) AS BIGINT)) AS BIGINT)
                 AS monetary_cents
      FROM orders GROUP BY o_custkey
    )
    SELECT c_custkey, recency_days, frequency, monetary_cents,
           CAST(ntile(4) OVER (ORDER BY recency_days ASC, c_custkey ASC) AS BIGINT) AS r_quartile,
           CAST(ntile(4) OVER (ORDER BY frequency DESC, c_custkey ASC) AS BIGINT) AS f_quartile,
           CAST(ntile(4) OVER (ORDER BY monetary_cents DESC, c_custkey ASC) AS BIGINT) AS m_quartile
    FROM base
    """,
)
def customer_rfm(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sequence import ntile_exact

    orders = _t(spark, sf_dir, "orders")
    maxd = orders.agg(F.max("o_orderdate").alias("__mx"))
    base = (
        orders.join(F.broadcast(maxd))  # 1-row global max, declarative
        .groupBy(F.col("o_custkey").alias("c_custkey"))
        .agg(
            F.datediff(F.first("__mx"), F.max("o_orderdate"))
            .cast("long")
            .alias("recency_days"),
            F.count(F.lit(1)).alias("frequency"),
            F.sum(F.round(F.col("o_totalprice") * 100.0, 0).cast("long")).alias(
                "monetary_cents"
            ),
        )
    )
    # A plain ntile window would be Exchange SinglePartition over the whole
    # per-customer rollup — a single-task bottleneck at 1e9 customers.
    # ntile_exact is the two-pass distributed rank (range buckets + narrow
    # row_number + driver-side offsets over #buckets rows); the custkey
    # tiebreak keeps the tiling bit-identical to the DuckDB oracle. The
    # construction-time stats jobs (count/sample/bucket-counts) hit the
    # scoped-persisted rollup (released when the next registry query
    # builds) and are themselves cached per plan, so rebuilds are free.
    from ..operators.cache import scoped_persist

    base = scoped_persist(base)
    n = base.count()
    out = ntile_exact(
        base, 4, "recency_days", True, "c_custkey", "r_quartile", n_rows=n
    )
    out = ntile_exact(out, 4, "frequency", False, "c_custkey", "f_quartile", n_rows=n)
    out = ntile_exact(
        out, 4, "monetary_cents", False, "c_custkey", "m_quartile", n_rows=n
    )
    return out.select(
        "c_custkey",
        "recency_days",
        "frequency",
        "monetary_cents",
        "r_quartile",
        "f_quartile",
        "m_quartile",
    )


# ---------------------------------------------------------------------------
# Bigram language-model counts: P(w2|w1) over the corpus, min-count gated.
# Two aggregations on natural keys; probability from exact int64 counts.
# ---------------------------------------------------------------------------
@register(
    "text_bigram_lm",
    oracle=rf"""
    WITH {_TOKS_CTE.format(src="documents")}, bg AS (
      SELECT tk[i] AS w1, tk[i+1] AS w2
      FROM (SELECT tk, unnest(range(1, len(tk))) AS i FROM toks WHERE len(tk) >= 2)
    ), pair_counts AS (
      SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS n FROM bg GROUP BY w1, w2
    ), uni AS (
      SELECT w1, SUM(n) AS total FROM pair_counts GROUP BY w1
    )
    SELECT p.w1, p.w2, p.n,
           round(CAST(p.n AS DOUBLE) / u.total, 6) AS p_cond
    FROM pair_counts p JOIN uni u ON p.w1 = u.w1
    WHERE p.n >= 5
    """,
)
def text_bigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions import word_tokens

    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(word_tokens(F.col("text")).alias("tk")).filter(
        F.size("tk") >= 2
    )
    bg = toks.select(
        F.explode(
            F.zip_with(
                F.slice(F.col("tk"), 1, F.size("tk") - 1),
                F.slice(F.col("tk"), 2, F.size("tk") - 1),
                lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
            )
        ).alias("p")
    ).select("p.w1", "p.w2")
    pair_counts = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("n"))
    uni = pair_counts.groupBy("w1").agg(F.sum("n").alias("__total"))
    return (
        pair_counts.join(uni, "w1")
        .filter(F.col("n") >= 5)
        .select(
            "w1",
            "w2",
            "n",
            F.round(F.col("n").cast("double") / F.col("__total"), 6).alias("p_cond"),
        )
    )


# ---------------------------------------------------------------------------
# Per-document LM perplexity scoring (operators.text.bigram_lm_scores):
# the CCNet quality gate (Wenzek et al. 2020) — score every doc by its
# average negative log-likelihood under the corpus bigram LM, drop the
# worst-perplexity tail. Round-then-sum on micro-scaled ln P(w2|w1):
# the per-doc sum is an exact BIGINT (order-free), the average a floor
# division; ln runs once per DISTINCT bigram post-aggregation (the
# in-plan ln convention tfidf established). Margin: micro-rounding
# boundaries sit ~0.5 units from any ln value at double precision vs
# ~1e-10 relative ln noise on these magnitudes (|lp| <= ~15e6 micro).
# ---------------------------------------------------------------------------
@register(
    "docs_lm_perplexity",
    oracle=rf"""
    WITH {_TOKS_CTE.format(src="documents")}, bg AS (
      SELECT doc_id, tk[i] AS w1, tk[i+1] AS w2
      FROM (SELECT doc_id, tk, unnest(range(1, len(tk))) AS i
            FROM toks WHERE len(tk) >= 2)
    ), pair_counts AS (
      SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS n FROM bg GROUP BY w1, w2
    ), uni AS (
      SELECT w1, SUM(n) AS total FROM pair_counts GROUP BY w1
    ), lp AS (
      SELECT p.w1, p.w2,
             CAST(round(ln(CAST(p.n AS DOUBLE) / CAST(u.total AS DOUBLE))
                        * 1000000) AS BIGINT) AS lp_micro
      FROM pair_counts p JOIN uni u ON p.w1 = u.w1
    ), scored AS (
      SELECT bg.doc_id, CAST(COUNT(*) AS BIGINT) AS nb,
             SUM(lp.lp_micro) AS s
      FROM bg JOIN lp ON bg.w1 = lp.w1 AND bg.w2 = lp.w2
      GROUP BY bg.doc_id
    )
    SELECT d.doc_id,
           COALESCE(sc.nb, 0) AS n_bigrams,
           CAST(COALESCE((-sc.s) // sc.nb, 0) AS BIGINT) AS avg_nll_micro
    FROM documents d LEFT JOIN scored sc ON d.doc_id = sc.doc_id
    """,
)
def docs_lm_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.text import bigram_lm_scores

    docs = _t(spark, sf_dir, "documents")
    return bigram_lm_scores(docs, "doc_id", "text")


# ---------------------------------------------------------------------------
# Time-RANGE window frame: per-user trailing-7-day spend at every event.
# The frame is declared on exact epoch MICROSECONDS (int64) so the RANGE
# bounds are engine-portable — Spark's rangeBetween and DuckDB's RANGE
# PRECEDING agree bit-for-bit, including the all-ties-included semantics
# of RANGE frames. One shuffle, keyed on user_id.
# ---------------------------------------------------------------------------
@register(
    "events_trailing_7d_spend",
    oracle="""
    SELECT event_id, user_id,
           CAST(SUM(CAST(ROUND(value * 100.0) AS BIGINT)) OVER (
             PARTITION BY user_id ORDER BY epoch_us(ts)
             RANGE BETWEEN 604800000000 PRECEDING AND CURRENT ROW
           ) AS BIGINT) AS spend_7d_cents
    FROM events
    """,
)
def events_trailing_7d_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    ev = _t(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100.0, 0).cast("long")
    w = (
        W.partitionBy("user_id")
        .orderBy(F.unix_micros("ts"))
        .rangeBetween(-7 * 24 * 3600 * 1_000_000, 0)
    )
    return ev.select(
        "event_id",
        "user_id",
        F.sum(cents).over(w).alias("spend_7d_cents"),
    )


# ---------------------------------------------------------------------------
# Mergeable distinct-count sketches (own-register HLL, operators/hll.py):
# per-day user register rows unioned into per-type estimates. THE
# incremental pattern for 100 TB analytics — daily jobs materialize small
# sketch rows; any later window's distinct count is a cheap register-max
# merge instead of a rescan of raw facts. r12: converted rows-only → FULL
# hash check — the serialized DataSketches binary is replaced by
# xxhash64-bucketed leading-zero registers whose estimate is a
# deterministic column expression (exact decimal harmonic sum, one double
# division, Python-computed linear-counting table), so the
# hll_estimates_parquet twin renders the per-type estimates as VALUES
# literals and the driver hash-witnesses every stage. The n_days/exact
# side stays live SQL. Estimate error vs exact stays pinned by
# events_user_sketch_check (and pytest's error-bound test).
# ---------------------------------------------------------------------------
@functools.cache
def _hll_rollup_oracle(sf_dir: str) -> str:
    from ..operators.hll import hll_estimates_parquet

    ests = hll_estimates_parquet(sf_dir)
    values = ", ".join(f"('{t}', {e})" for t, e in sorted(ests.items()))
    return f"""
    WITH est(event_type, approx_users) AS (VALUES {values})
    SELECT e.event_type,
           CAST(COUNT(DISTINCT CAST(e.ts AS DATE)) AS BIGINT) AS n_days,
           CAST(est.approx_users AS BIGINT) AS approx_users
    FROM events e JOIN est ON e.event_type = est.event_type
    GROUP BY e.event_type, est.approx_users
    """


@register("events_user_sketch_rollup", oracle=_hll_rollup_oracle)
def events_user_sketch_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.hll import (
        hll_estimate_rows,
        hll_merge_rows,
        hll_register_rows,
    )

    ev = _t(spark, sf_dir, "events")
    # the daily sketch materialization a real rollup would persist...
    daily = hll_register_rows(
        ev.select("event_type", F.to_date("ts").alias("day"), "user_id"),
        ["event_type", "day"],
        "user_id",
    )
    # ...then the window's distinct count = register-max merge + estimate
    est = hll_estimate_rows(
        hll_merge_rows(daily, ["event_type"]),
        ["event_type"],
        out="approx_users",
    )
    n_days = ev.groupBy("event_type").agg(
        F.countDistinct(F.to_date("ts")).alias("n_days")
    )
    return n_days.join(est, "event_type").select(
        "event_type", "n_days", "approx_users"
    )


# ---------------------------------------------------------------------------
# KMV-theta set algebra: approximate |users(A) ∩ users(B)| per event-type
# pair from per-type k-minimum-values sketches (operators/hll.py). KMV
# (like DataSketches theta, unlike HLL) supports intersection — at
# 100 TB, per-segment sketches materialized once answer ANY pairwise
# audience-overlap question without rescanning facts. r12: converted
# rows-only → FULL hash check — the k smallest distinct xxhash64 values
# + the (k+1)-th threshold are plain BIGINT columns (salted two-level
# top-k, no single-task funnel), the estimate is one long/double
# division, and the kmv_overlap_parquet twin renders every pair estimate
# as VALUES literals. Error vs the exact INTERSECT stays pinned by
# events_user_overlap_check (and pytest).
# ---------------------------------------------------------------------------
# Driver-checkable face of the HLL rollup: the same sketch pipeline plus
# the exact distinct count in one job, reduced to a hashable boolean —
# |approx - exact| <= max(1, 2% of exact) (default lgConfigK=12 ≈ 1.6%
# RSE). The oracle asserts the exact side and `TRUE`; a drifting sketch
# flips within_tolerance and the driver hash goes red. The exact side
# exists only to make the bound checkable — production uses the rows-only
# rollup above, which never rescans facts.
# ---------------------------------------------------------------------------
@register(
    "events_user_sketch_check",
    oracle="""
    SELECT event_type,
           CAST(COUNT(DISTINCT CAST(ts AS DATE)) AS BIGINT) AS n_days,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users,
           TRUE AS within_tolerance
    FROM events GROUP BY event_type
    """,
)
def events_user_sketch_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    approx = (
        ev.groupBy("event_type", F.to_date("ts").alias("day"))
        .agg(F.hll_sketch_agg("user_id").alias("sk"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_days"),
            F.hll_sketch_estimate(F.hll_union_agg("sk"))
            .cast("long")
            .alias("approx_users"),
        )
    )
    exact = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("exact_users")
    )
    err = F.abs(F.col("approx_users") - F.col("exact_users"))
    bound = F.greatest(F.lit(1.0), F.col("exact_users") * 0.02)
    return (
        approx.join(exact, "event_type")  # |event types| rows, AQE broadcasts
        .select(
            "event_type",
            "n_days",
            "exact_users",
            (err <= bound).alias("within_tolerance"),
        )
    )


@functools.cache
def _kmv_overlap_oracle(sf_dir: str) -> str:
    from ..operators.hll import kmv_overlap_parquet

    trips = kmv_overlap_parquet(sf_dir)
    values = ", ".join(f"('{a}', '{b}', {e})" for a, b, e in trips)
    return f"""
    SELECT v.a AS type_a, v.b AS type_b,
           CAST(v.e AS BIGINT) AS approx_both
    FROM (VALUES {values}) v(a, b, e)
    """


@register("events_user_overlap_sketch", oracle=_kmv_overlap_oracle)
def events_user_overlap_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.hll import kmv_pair_overlap

    ev = _t(spark, sf_dir, "events")
    return kmv_pair_overlap(ev, "event_type", "user_id", out="approx_both")


# ---------------------------------------------------------------------------
# Driver-checkable face of the theta-sketch overlap: sketch intersection
# AND the exact pairwise |users(A) ∩ users(B)| in one job, reduced to the
# same hashable tolerance boolean as events_user_sketch_check. Exact side
# is a self-join of the distinct (type, user) pairs on user_id — an
# equi-join on a high-cardinality key, shuffle-partitioned, no all-pairs
# blowup (pair multiplicity per user = |types a user touched|² ≤ 25).
# ---------------------------------------------------------------------------
@register(
    "events_user_overlap_check",
    oracle="""
    WITH tu AS (SELECT DISTINCT event_type, user_id FROM events)
    SELECT a.event_type AS type_a, b.event_type AS type_b,
           CAST(COUNT(*) AS BIGINT) AS exact_both,
           TRUE AS within_tolerance
    FROM tu a JOIN tu b ON a.user_id = b.user_id
    WHERE a.event_type < b.event_type
    GROUP BY type_a, type_b
    """,
)
def events_user_overlap_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    sk = ev.groupBy("event_type").agg(F.theta_sketch_agg("user_id").alias("sk"))
    a, b = sk.alias("a"), sk.alias("b")
    approx = a.join(b, F.col("a.event_type") < F.col("b.event_type")).select(
        F.col("a.event_type").alias("type_a"),
        F.col("b.event_type").alias("type_b"),
        F.theta_sketch_estimate(F.theta_intersection(F.col("a.sk"), F.col("b.sk")))
        .cast("long")
        .alias("approx_both"),
    )
    tu = ev.select("event_type", "user_id").distinct()
    ta, tb = tu.alias("ta"), tu.alias("tb")
    exact = (
        ta.join(
            tb,
            (F.col("ta.user_id") == F.col("tb.user_id"))
            & (F.col("ta.event_type") < F.col("tb.event_type")),
        )
        .groupBy(
            F.col("ta.event_type").alias("type_a"),
            F.col("tb.event_type").alias("type_b"),
        )
        .agg(F.count(F.lit(1)).alias("exact_both"))
    )
    err = F.abs(F.col("approx_both") - F.col("exact_both"))
    bound = F.greatest(F.lit(1.0), F.col("exact_both") * 0.02)
    return approx.join(exact, ["type_a", "type_b"]).select(
        "type_a",
        "type_b",
        "exact_both",
        (err <= bound).alias("within_tolerance"),
    )


# ---------------------------------------------------------------------------
# TPC-H Q15 shape (top supplier by windowed revenue; no view, no second
# scan for the max): revenue per supplier over one quarter, keep the
# argmax row(s) via a broadcast 1-row max — the same declarative scalar
# pattern as customer_rfm's global max. Schema note: partsupp is absent
# from the synthetic set, so the revenue base is lineitem alone
# (reference Q15's l_extendedprice*(1-l_discount) formula, cent-exact).
# ---------------------------------------------------------------------------
@register(
    "tpch_q15_top_supplier",
    oracle="""
    WITH rev AS (
      SELECT l_suppkey AS supplier_no,
             CAST(SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 100)
                  AS BIGINT)) AS BIGINT) AS total_revenue_cents
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        AND l_shipdate < TIMESTAMP '1996-04-01'
      GROUP BY l_suppkey
    )
    SELECT s_suppkey, s_name, total_revenue_cents
    FROM supplier JOIN rev ON s_suppkey = supplier_no
    WHERE total_revenue_cents = (SELECT MAX(total_revenue_cents) FROM rev)
    """,
)
def tpch_q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    sup = _t(spark, sf_dir, "supplier")
    cents = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100, 0
    ).cast("long")
    rev = (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
        )
        .groupBy(F.col("l_suppkey").alias("supplier_no"))
        .agg(F.sum(cents).alias("total_revenue_cents"))
    )
    mx = rev.agg(F.max("total_revenue_cents").alias("__mx"))
    return (
        rev.join(F.broadcast(mx), F.col("total_revenue_cents") == F.col("__mx"))
        .join(sup, F.col("s_suppkey") == F.col("supplier_no"))
        .select("s_suppkey", "s_name", "total_revenue_cents")
    )


# ---------------------------------------------------------------------------
# TPC-H Q17 shape (small-quantity-order revenue): lineitems of one brand
# whose quantity is below 20% of that part's average quantity. The
# correlated scalar subquery becomes a per-part aggregate joined back —
# one shuffle on l_partkey; the brand dimension filter is pushed to the
# part scan and broadcast. Exactness: qty*5n < sum_qty avoids division
# (l_quantity is integral in the synthetic set).
# ---------------------------------------------------------------------------
@register(
    "tpch_q17_small_qty_revenue",
    oracle="""
    WITH pq AS (
      SELECT l_partkey AS pk,
             CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
             COUNT(*) AS n
      FROM lineitem GROUP BY l_partkey
    )
    SELECT CAST(SUM(CAST(ROUND(l.l_extendedprice * 100) AS BIGINT)) AS BIGINT)
           AS revenue_cents,
           CAST(COUNT(*) AS BIGINT) AS n_small
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey AND p.p_brand = 'Brand#3'
    JOIN pq ON pq.pk = l.l_partkey
    WHERE CAST(l.l_quantity AS BIGINT) * 5 * pq.n < pq.sum_qty
    """,
)
def tpch_q17_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#3")
    pq = li.groupBy(F.col("l_partkey").alias("pk")).agg(
        F.sum(F.col("l_quantity").cast("long")).alias("sum_qty"),
        F.count(F.lit(1)).alias("n"),
    )
    return (
        # no broadcast hint: part scales with SF — AQE picks the strategy
        li.join(part.select("p_partkey"), li.l_partkey == F.col("p_partkey"))
        .join(pq, li.l_partkey == pq.pk)
        .filter(F.col("l_quantity").cast("long") * 5 * F.col("n") < F.col("sum_qty"))
        .agg(
            F.sum(F.round(F.col("l_extendedprice") * 100, 0).cast("long")).alias(
                "revenue_cents"
            ),
            F.count(F.lit(1)).alias("n_small"),
        )
    )


# ---------------------------------------------------------------------------
# TPC-H Q19 shape (disjunctive predicate revenue): three OR'd
# brand/size/quantity bands over the part-lineitem join. Catalyst pushes
# the common p_partkey equi-join key and evaluates the disjunction
# post-join; part is broadcast. The reference point of this shape: OR'd
# multi-column predicates must not fall back to a cartesian product.
# ---------------------------------------------------------------------------
@register(
    "tpch_q19_disjunctive_revenue",
    oracle="""
    SELECT CAST(SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 100)
         AS BIGINT)) AS BIGINT) AS revenue_cents
    FROM lineitem, part
    WHERE p_partkey = l_partkey
      AND ((p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
            AND l_quantity >= 1 AND l_quantity <= 11)
        OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 25
            AND l_quantity >= 10 AND l_quantity <= 20)
        OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 35
            AND l_quantity >= 20 AND l_quantity <= 30))
    """,
)
def tpch_q19_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    q = F.col("l_quantity")
    band = (
        ((F.col("p_brand") == "Brand#1") & F.col("p_size").between(1, 15)
         & (q >= 1) & (q <= 11))
        | ((F.col("p_brand") == "Brand#2") & F.col("p_size").between(1, 25)
           & (q >= 10) & (q <= 20))
        | ((F.col("p_brand") == "Brand#3") & F.col("p_size").between(1, 35)
           & (q >= 20) & (q <= 30))
    )
    cents = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100, 0
    ).cast("long")
    return (
        # no broadcast hint: part scales with SF — AQE picks the strategy
        li.join(part, F.col("p_partkey") == F.col("l_partkey"))
        .filter(band)
        .agg(F.sum(cents).alias("revenue_cents"))
    )


# ---------------------------------------------------------------------------
# TPC-H Q22 shape (inactive wealthy customers): customers whose balance
# exceeds the average positive balance AND who placed no order since
# 2000-01-01, counted per nation. (Every synthetic customer has SOME
# order, so true Q22's no-orders-ever would be empty — the recency cutoff
# keeps the anti-join selective and non-trivial: 55 of 1500 at sf0.01.)
# The phone-prefix country code of true Q22 needs c_phone (absent —
# requested in FIXTURES.md); nation is the stand-in. Anti-join +
# broadcast scalar threshold: both Catalyst-native, no correlated
# subquery execution.
# ---------------------------------------------------------------------------
@register(
    "tpch_q22_inactive_rich",
    oracle="""
    WITH thr AS (
      SELECT AVG(CAST(ROUND(c_acctbal * 100) AS BIGINT)) AS avg_cents
      FROM customer WHERE c_acctbal > 0
    )
    SELECT n_name,
           CAST(COUNT(*) AS BIGINT) AS numcust,
           CAST(SUM(CAST(ROUND(c_acctbal * 100) AS BIGINT)) AS BIGINT)
               AS totacctbal_cents
    FROM customer
    JOIN nation ON n_nationkey = c_nationkey
    WHERE CAST(ROUND(c_acctbal * 100) AS BIGINT) > (SELECT avg_cents FROM thr)
      AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
                      AND o_orderdate >= TIMESTAMP '2000-01-01')
    GROUP BY n_name
    """,
)
def tpch_q22_inactive_rich(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    nat = _t(spark, sf_dir, "nation")
    orders = _t(spark, sf_dir, "orders")
    cents = F.round(F.col("c_acctbal") * 100, 0).cast("long")
    cust = cust.select("c_custkey", "c_nationkey", cents.alias("bal_cents"))
    thr = cust.filter(F.col("bal_cents") > 0).agg(
        F.avg("bal_cents").alias("__avg")
    )
    return (
        cust.join(F.broadcast(thr), F.col("bal_cents") > F.col("__avg"))
        .join(
            orders.filter(
                F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp")
            ).select(F.col("o_custkey").alias("c_custkey")),
            "c_custkey",
            "left_anti",
        )
        .join(F.broadcast(nat), F.col("n_nationkey") == F.col("c_nationkey"))
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.sum("bal_cents").alias("totacctbal_cents"),
        )
    )


# ---------------------------------------------------------------------------
# Training-corpus token budget per source: rank each source's documents
# by quality proxy (chars per doc desc, doc_id tiebreak) and keep rows
# until the source's running char total exceeds the budget. One
# partitioned window per source — parallel across sources, no global
# sort; the pattern that enforces per-domain mixture caps when building
# a pretraining mix at 100 TB.
# ---------------------------------------------------------------------------
@register(
    "docs_source_budget_cap",
    oracle="""
    WITH r AS (
      SELECT doc_id, source, n_chars,
             CAST(SUM(n_chars) OVER (
               PARTITION BY source ORDER BY n_chars DESC, doc_id ASC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS BIGINT) AS run_chars
      FROM documents
    )
    SELECT doc_id, source, n_chars, run_chars
    FROM r WHERE run_chars <= 5000
    """,
)
def docs_source_budget_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    docs = _t(spark, sf_dir, "documents")
    w = (
        W.partitionBy("source")
        .orderBy(F.col("n_chars").desc(), F.col("doc_id").asc())
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return (
        docs.select(
            "doc_id",
            "source",
            "n_chars",
            F.sum("n_chars").over(w).alias("run_chars"),
        )
        .filter(F.col("run_chars") <= 5000)
    )


# ---------------------------------------------------------------------------
# Curriculum quartiles over the corpus: ntile(4) by document length with
# a doc_id tiebreak — the "bucket by difficulty proxy" step of curriculum
# data ordering. Second driver-checked consumer of ntile_exact
# (operators.sequence): distributed two-pass rank, no data-wide
# Exchange SinglePartition, bit-identical to the oracle's global window.
# ---------------------------------------------------------------------------
@register(
    "docs_difficulty_quartiles",
    oracle="""
    SELECT doc_id, n_chars,
           CAST(ntile(4) OVER (ORDER BY n_chars DESC, doc_id ASC) AS BIGINT)
               AS difficulty_q
    FROM documents
    """,
)
def docs_difficulty_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sequence import ntile_exact

    docs = _t(spark, sf_dir, "documents").select("doc_id", "n_chars")
    return ntile_exact(
        docs, 4, "n_chars", ascending=False, tiebreak="doc_id", out="difficulty_q"
    ).select("doc_id", "n_chars", "difficulty_q")


# ---------------------------------------------------------------------------
# Per-label embedding centroids, exactly: posexplode the vector, sum
# round-to-micro int64 components per (label, dimension) — the
# order-independent integer-moment pattern (module docstring) applied to
# array columns, so the result hash-matches DuckDB despite float inputs.
# Output mean is back-derived from the exact integer sum. One shuffle on
# (label, pos): dimension count is a literal fan-out, not a join.
# ---------------------------------------------------------------------------
@register(
    "embedding_label_centroids",
    oracle="""
    SELECT label, i - 1 AS pos,
           CAST(SUM(CAST(ROUND(CAST(embedding[i] AS DOUBLE) * 1000000) AS BIGINT)) AS BIGINT)
               AS sum_micro,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(ROUND(CAST(SUM(CAST(ROUND(CAST(embedding[i] AS DOUBLE) * 1000000) AS BIGINT))
                AS DOUBLE) / COUNT(*)) AS BIGINT) AS mean_micro
    FROM embeddings, unnest(range(1, len(embedding) + 1)) AS t(i)
    GROUP BY label, pos
    """,
)
def embedding_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    ex = emb.select(
        "label", F.posexplode("embedding").alias("pos", "__v")
    )
    micro = F.round(F.col("__v").cast("double") * 1_000_000, 0).cast("long")
    agg = ex.groupBy("label", "pos").agg(
        F.sum(micro).alias("sum_micro"),
        F.count(F.lit(1)).alias("n"),
    )
    mean = F.round(F.col("sum_micro").cast("double") / F.col("n"), 0).cast("long")
    return agg.select(
        "label",
        F.col("pos").cast("long").alias("pos"),
        "sum_micro",
        "n",
        mean.alias("mean_micro"),
    )


# ---------------------------------------------------------------------------
# Distributed vocabulary build: token counts (one shuffle, map-side
# partials) → min-count gate → contiguous ids in (count DESC, token ASC)
# order assigned by operators.sequence.global_rank — the two-pass
# bucketed rank, so the id assignment that tokenizer training needs does
# NOT funnel the vocabulary through one task the way ROW_NUMBER() OVER
# (ORDER BY ...) would.
# ---------------------------------------------------------------------------
@register(
    "vocab_build",
    oracle=rf"""
    WITH tok AS (
      SELECT unnest({_WS_TOKENS_SQL.format(col="text")})
             AS token
      FROM documents
    ), counts AS (
      SELECT token, CAST(COUNT(*) AS BIGINT) AS n
      FROM tok GROUP BY token HAVING COUNT(*) >= 5
    )
    SELECT token, n,
           CAST(ROW_NUMBER() OVER (ORDER BY n DESC, token ASC) AS BIGINT)
               AS token_id
    FROM counts
    """,
)
def vocab_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sequence import global_rank

    docs = _t(spark, sf_dir, "documents")
    counts = (
        docs.select(
            F.explode(
                F.filter(F.split(F.col("text"), r"\s+"), lambda t: t != "")
            ).alias("token")
        )
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= 5)
    )
    return global_rank(
        counts, "n", ascending=False, tiebreak="token", out="token_id"
    ).select("token", "n", "token_id")


# ---------------------------------------------------------------------------
# Approximate-quantile rollup, driver-checkable: percentile_approx
# (Greenwald-Khanna, mergeable — the map-side-combinable sketch Spark
# ships for quantiles) vs the exact percentile, reduced to the same
# hashable within_tolerance booleans as the sketch checks. accuracy=10000
# bounds rank error at n/10000; the oracle asserts the exact side and
# TRUE per quantile. Exact percentile exists only to make the bound
# checkable — at 100 TB you'd publish the approx rollup alone.
# ---------------------------------------------------------------------------
@register(
    "events_value_quantile_check",
    oracle="""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(ROUND(quantile_cont(value, 0.5) * 100) AS BIGINT)
               AS exact_p50_cents,
           CAST(ROUND(quantile_cont(value, 0.95) * 100) AS BIGINT)
               AS exact_p95_cents,
           TRUE AS p50_ok, TRUE AS p95_ok
    FROM events GROUP BY event_type
    """,
)
def events_value_quantile_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    # exact continuous percentiles (SQL percentile == DuckDB quantile_cont)
    exact = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.expr("percentile(value, 0.5)").alias("__e50"),
        F.expr("percentile(value, 0.95)").alias("__e95"),
        # exact quantile brackets at p ± 1% rank — the bound GK actually
        # guarantees (a *value*-relative tolerance breaks on sparse tails:
        # the approx returns a real data element, the exact interpolates)
        F.expr("percentile(value, 0.49)").alias("__lo50"),
        F.expr("percentile(value, 0.51)").alias("__hi50"),
        F.expr("percentile(value, 0.94)").alias("__lo95"),
        F.expr("percentile(value, 0.96)").alias("__hi95"),
        F.percentile_approx("value", 0.5, 10000).alias("__a50"),
        F.percentile_approx("value", 0.95, 10000).alias("__a95"),
    )
    ok = lambda a, lo, hi: (F.col(a) >= F.col(lo)) & (F.col(a) <= F.col(hi))
    return exact.select(
        "event_type",
        "n",
        F.round(F.col("__e50") * 100).cast("long").alias("exact_p50_cents"),
        F.round(F.col("__e95") * 100).cast("long").alias("exact_p95_cents"),
        ok("__a50", "__lo50", "__hi50").alias("p50_ok"),
        ok("__a95", "__lo95", "__hi95").alias("p95_ok"),
    )


# ---------------------------------------------------------------------------
# Exact duplicated-substring spans (Lee et al. 2022 substring dedup,
# distributed): maximal token spans whose word 5-grams each occur at >= 2
# (doc, pos) sites corpus-wide. Three bounded shuffles — per-gram counts
# (map-side partial agg), a left-semi join of gram sites against the
# duplicated grams, and a per-doc gaps-and-islands window. Pure integers
# out -> full hash check.
# ---------------------------------------------------------------------------
_DUP_SPAN_CTES = rf"""
    WITH {_TOKS_CTE.format(src="documents")}, sh AS (
      SELECT doc_id, CAST(u.i - 1 AS BIGINT) AS pos,
             array_to_string(tk[u.i : u.i + 4], ' ') AS g
      FROM toks, unnest(range(1, greatest(len(tk) - 4, 0) + 1)) AS u(i)
    ), dupg AS (
      SELECT g FROM sh GROUP BY g HAVING count(*) >= 2
    ), hits AS (
      SELECT doc_id, pos FROM sh WHERE g IN (SELECT g FROM dupg)
    ), isl AS (
      SELECT doc_id, pos,
             pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
      FROM hits
    )
"""


@register(
    "docs_dup_spans",
    oracle=_DUP_SPAN_CTES
    + """
    SELECT doc_id, MIN(pos) AS span_start,
           CAST(MAX(pos) - MIN(pos) + 5 AS BIGINT) AS span_len
    FROM isl GROUP BY doc_id, grp
    """,
)
def docs_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import duplicate_spans

    docs = _t(spark, sf_dir, "documents")
    return duplicate_spans(docs, "doc_id", "text", k=5, min_sites=2)


@register(
    "docs_dup_span_profile",
    oracle=_DUP_SPAN_CTES
    + """
    , spans AS (
      SELECT doc_id, grp, count(*) AS n_pos,
             MAX(pos) - MIN(pos) + 5 AS span_len
      FROM isl GROUP BY doc_id, grp
    ), prof AS (
      SELECT doc_id, CAST(SUM(n_pos) AS BIGINT) AS dup_grams,
             CAST(COUNT(*) AS BIGINT) AS n_spans,
             CAST(MAX(span_len) AS BIGINT) AS max_span_len
      FROM spans GROUP BY doc_id
    )
    SELECT t.doc_id,
           CAST(greatest(len(tk) - 4, 0) AS BIGINT) AS n_grams,
           COALESCE(dup_grams, 0) AS dup_grams,
           COALESCE(n_spans, 0) AS n_spans,
           COALESCE(max_span_len, 0) AS max_span_len
    FROM toks t LEFT JOIN prof ON t.doc_id = prof.doc_id
    """,
)
def docs_dup_span_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document memorization-risk profile (dup_grams / n_grams is the
    mixture-gating score); zeros for clean docs, every doc present."""
    from ..operators.dedup import duplicate_span_profile

    docs = _t(spark, sf_dir, "documents")
    return duplicate_span_profile(docs, "doc_id", "text", k=5, min_sites=2)


# ---------------------------------------------------------------------------
# Runtime Bloom-filter semi-join pruning (operators.bloom): the dim side
# (high-balance customers) enters the plan twice — once as a ~2 KB Bloom
# LITERAL tested against every fact row BEFORE the exchange (cutting the
# fact-side shuffle to ~join selectivity), once as the exact semi-join
# that removes the Bloom's false positives. The final result is exactly
# the plain semi-join's, so the oracle is Bloom-free; the filter is built
# by a tiny Spark job over the dim side (sideways information passing —
# bloom_build_spark; only m/64 longs reach the driver). The semi-join is
# hinted shuffle_hash to model the dim-exceeds-broadcast regime this
# pattern exists for (with a broadcastable dim you would just broadcast).
# ---------------------------------------------------------------------------
_BLOOM_ACCTBAL_MIN = 7500.0
_bloom_dim_cache: dict[str, tuple[list[int], int, int]] = {}


def _bloom_dim_shared(
    spark: SparkSession, sf_dir: str
) -> tuple[list[int], int, int]:
    """(words, m_bits, k) for the high-balance customer key set — built
    once per process per sf_dir from the same parquet the query reads
    (deterministic: xxhash64 positions, bit-OR word aggregation)."""
    if sf_dir not in _bloom_dim_cache:
        from ..operators.bloom import bloom_build_spark, bloom_params

        dim = (
            _t(spark, sf_dir, "customer")
            .filter(F.col("c_acctbal") > F.lit(_BLOOM_ACCTBAL_MIN))
            .select("c_custkey")
        )
        m, k = bloom_params(dim.count())
        _bloom_dim_cache[sf_dir] = (bloom_build_spark(dim, "c_custkey", m, k), m, k)
    return _bloom_dim_cache[sf_dir]


@register(
    "orders_bloom_semijoin",
    oracle="""
    SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(ROUND(o_totalprice * 100.0) AS BIGINT)) AS BIGINT) AS cents
    FROM orders o
    WHERE EXISTS (SELECT 1 FROM customer c
                  WHERE c.c_custkey = o.o_custkey AND c.c_acctbal > 7500.0)
    GROUP BY o_orderpriority
    """,
)
def orders_bloom_semijoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.bloom import bloom_prune

    words, m, k = _bloom_dim_shared(spark, sf_dir)
    orders = _t(spark, sf_dir, "orders")
    dim = (
        _t(spark, sf_dir, "customer")
        .filter(F.col("c_acctbal") > F.lit(_BLOOM_ACCTBAL_MIN))
        .select("c_custkey")
    )
    pruned = bloom_prune(orders, "o_custkey", words, m, k)
    j = pruned.join(
        dim.hint("shuffle_hash"),
        pruned["o_custkey"] == dim["c_custkey"],
        "left_semi",
    )
    return j.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(F.round(F.col("o_totalprice") * F.lit(100.0), 0).cast("long")).alias(
            "cents"
        ),
    )


@register(
    "docs_dup_span_strip",
    oracle=_DUP_SPAN_CTES
    + """
    , toks2 AS (
      SELECT doc_id, CAST(u.i - 1 AS BIGINT) AS tpos, tk[u.i] AS tok
      FROM toks, unnest(range(1, len(tk) + 1)) AS u(i)
    ), cut AS (
      SELECT DISTINCT doc_id, pos + g.x AS tpos
      FROM hits, unnest(range(0, 5)) AS g(x)
    ), clean AS (
      SELECT t.doc_id, t.tpos, t.tok
      FROM toks2 t LEFT JOIN cut c ON t.doc_id = c.doc_id AND t.tpos = c.tpos
      WHERE c.tpos IS NULL
    ), rebuilt AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS kept_tokens,
             string_agg(tok, ' ' ORDER BY tpos) AS clean_text
      FROM clean GROUP BY doc_id
    )
    SELECT d.doc_id, COALESCE(kept_tokens, 0) AS kept_tokens,
           COALESCE(clean_text, '') AS clean_text
    FROM documents d LEFT JOIN rebuilt r ON d.doc_id = r.doc_id
    """,
)
def docs_dup_span_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The APPLY face of substring dedup: every doc rewritten with its
    duplicated spans cut (cut-all policy — symmetric across sites, no
    global tie-break needed; Lee et al. 2022 cut suffix-array ranges)."""
    from ..operators.dedup import strip_duplicate_spans

    docs = _t(spark, sf_dir, "documents")
    return strip_duplicate_spans(docs, "doc_id", "text", k=5, min_sites=2)


# ---------------------------------------------------------------------------
# Skew-salted big-big equi-join (operators.skew.salted_join): purchases
# joined to each user's first-seen timestamp (a derived dim the size of
# the user set — the regime where a hot user would pin one reducer).
# Facts are salted by a hash of event_id, the dim replicated once per
# salt; the join runs on (user_id, salt) yet the result — and the
# oracle — are the plain join's. Day buckets use exact integer
# micro-arithmetic (no double division near boundaries).
# ---------------------------------------------------------------------------
@register(
    "purchase_age_salted_join",
    oracle="""
    WITH first_seen AS (
      SELECT user_id, MIN(ts) AS f FROM events GROUP BY user_id
    )
    SELECT (epoch_us(e.ts) - epoch_us(f.f)) // 86400000000 AS day_age,
           CAST(COUNT(*) AS BIGINT) AS n_purchases,
           CAST(COUNT(DISTINCT e.user_id) AS BIGINT) AS n_users
    FROM events e JOIN first_seen f ON e.user_id = f.user_id
    WHERE e.event_type = 'purchase'
    GROUP BY day_age
    """,
)
def purchase_age_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.skew import salted_join

    ev = _t(spark, sf_dir, "events")
    first_seen = ev.groupBy("user_id").agg(F.min("ts").alias("f"))
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    j = salted_join(purchases, first_seen, "user_id", "event_id", n_salts=8)
    diff = F.unix_micros(F.col("ts")) - F.unix_micros(F.col("f"))
    day = F.call_function(
        "div", diff - F.pmod(diff, F.lit(86_400_000_000)), F.lit(86_400_000_000)
    )
    return j.select(day.alias("day_age"), "user_id").groupBy("day_age").agg(
        F.count(F.lit(1)).alias("n_purchases"),
        F.countDistinct("user_id").alias("n_users"),
    )


# ---------------------------------------------------------------------------
# Per-label PCA summary (operators.similarity.label_pca_summary): the
# grouped-map applyInPandas surface — per-group EIGENDECOMPOSITION, the
# linear algebra no Catalyst expression computes. FULLY hash-checked as
# of r10 (VERDICT r9 item 6): the pyarrow/numpy twin
# (label_pca_summary_parquet — identical id-sorted pipeline, the
# trained-constants pattern of the IVF centroids) renders each label's
# round-6 eigenvalue and explained share as DOUBLE literals; those are
# BIT-IDENTICAL to the Spark face's outputs (same numpy, same
# accumulation order — pinned by the pytest twin's exact-equality
# assert), and repr(float) → literal → correctly-rounded parse
# round-trips the bits on both engines. n stays data-derived in the
# oracle (GROUP BY over embeddings), cross-checking group sizes too.
# ---------------------------------------------------------------------------
def _embedding_label_pca_oracle(sf_dir: str) -> str:
    tw = _label_pca(sf_dir)
    values = ", ".join(
        f"({lab}, {top!r}, {expl!r})"
        for lab, (_n, top, expl) in sorted(tw.items())
    )
    return f"""
    WITH expected(label, top_eigval, explained) AS (VALUES {values})
    SELECT e.label, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(x.top_eigval AS DOUBLE) AS top_eigval,
           CAST(x.explained AS DOUBLE) AS explained
    FROM embeddings e JOIN expected x ON x.label = e.label
    GROUP BY e.label, x.top_eigval, x.explained
    """


@register("embedding_label_pca", oracle=_embedding_label_pca_oracle)
def embedding_label_pca(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import label_pca_summary

    emb = _t(spark, sf_dir, "embeddings")
    return label_pca_summary(emb, "label", "embedding", "vec_id")


# The oracle-asserted companion face (VERDICT r6 item 2): the pyarrow/
# numpy twin (label_pca_summary_parquet — identical id-sorted pipeline,
# bit-identical outputs) renders each label's rounded eigenvalue and
# explained share as micro-unit (×1e6) BIGINT literals; the Spark face
# converts its own outputs to the same micro ints, so the driver's hash
# check witnesses the eigendecomposition exactly — the trained-constants
# move shared with dedup_simhash_check / ann_ivf_recall_check. n stays
# data-derived in the oracle (GROUP BY over embeddings), so the twin's
# group sizes are cross-checked against DuckDB too. The ×1e6 re-round
# cannot tie-break differently across engines: both sides multiply the
# SAME round-6 double by 1e6 (same IEEE product), and that product sits
# within ~1e-7 of an integer — never at the .5 boundary where Spark's
# HALF_UP and Python's HALF_EVEN diverge.
@functools.cache
def _label_pca(sf_dir: str) -> dict[int, tuple[int, float, float]]:
    from ..operators.similarity import label_pca_summary_parquet

    return label_pca_summary_parquet(
        os.path.join(sf_dir, "embeddings.parquet"),
        label_col="label",
        vec_col="embedding",
        id_col="vec_id",
    )


def _embedding_label_pca_check_oracle(sf_dir: str) -> str:
    tw = _label_pca(sf_dir)
    values = ", ".join(
        f"({lab}, {int(round(top * 1e6))}, {int(round(expl * 1e6))})"
        for lab, (_n, top, expl) in sorted(tw.items())
    )
    return f"""
    WITH expected(label, eigval_micro, explained_micro) AS (VALUES {values})
    SELECT e.label, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(x.eigval_micro AS BIGINT) AS eigval_micro,
           CAST(x.explained_micro AS BIGINT) AS explained_micro
    FROM embeddings e JOIN expected x ON x.label = e.label
    GROUP BY e.label, x.eigval_micro, x.explained_micro
    """


@register("embedding_label_pca_check", oracle=_embedding_label_pca_check_oracle)
def embedding_label_pca_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import label_pca_summary

    emb = _t(spark, sf_dir, "embeddings")
    pca = label_pca_summary(emb, "label", "embedding", "vec_id")
    return pca.select(
        "label",
        F.col("n").cast("bigint").alias("n"),
        F.round(F.col("top_eigval") * F.lit(1e6))
        .cast("bigint")
        .alias("eigval_micro"),
        F.round(F.col("explained") * F.lit(1e6))
        .cast("bigint")
        .alias("explained_micro"),
    )


# ---------------------------------------------------------------------------
# Sparse TF-IDF cosine pairs (operators.dedup.tfidf_cosine_pairs): the
# inverted-index sparse-vector similarity face, next to the dense ANN
# tier. Weights are quantized to int64 (x1000) so dot products and
# norms are EXACT integer sums (order-independent) and the cosine is
# one IEEE sqrt/multiply/divide chain — bit-identical in DuckDB.
# Threshold margin measured: nearest cosine to 0.3 is 0.066 away at
# sf0.1 (0.17 at sf0.01) vs ~1e-15 float noise.
# ---------------------------------------------------------------------------
@register(
    "docs_tfidf_cosine_pairs",
    oracle=rf"""
    WITH {_TOKS_CTE.format(src="documents")}, sh AS (
      SELECT doc_id, unnest(CASE WHEN len(tk) >= 3
             THEN list_transform(range(1, len(tk)-1),
                  i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])
             ELSE [array_to_string(tk, ' ')] END) AS term
      FROM toks
    ), tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM sh GROUP BY 1, 2),
    dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
    kept AS (SELECT term, df FROM dfreq WHERE df <= 100),
    n AS (SELECT COUNT(DISTINCT doc_id) AS n_docs FROM documents),
    w AS (
      SELECT tf.doc_id, tf.term,
             CAST(round(tf.tf * (ln((n.n_docs + 1.0) / (kept.df + 1.0)) + 1.0)
                        * 1000.0) AS BIGINT) AS wi
      FROM tf JOIN kept USING (term), n
    ), norms AS (SELECT doc_id, CAST(SUM(wi * wi) AS BIGINT) AS n2 FROM w GROUP BY 1),
    dots AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             CAST(SUM(a.wi * b.wi) AS BIGINT) AS dot
      FROM w a JOIN w b ON a.term = b.term AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ), cos AS (
      SELECT id_a, id_b,
             round(dot / (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE))),
                   6) AS cosine
      FROM dots
      JOIN norms na ON id_a = na.doc_id
      JOIN norms nb ON id_b = nb.doc_id
    )
    SELECT id_a, id_b, cosine FROM cos WHERE cosine >= 0.3
    """,
)
def docs_tfidf_cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import tfidf_cosine_pairs

    docs = _t(spark, sf_dir, "documents")
    return tfidf_cosine_pairs(
        docs, "doc_id", "text", shingle_k=3, max_df=100, threshold=0.3
    )


# ---------------------------------------------------------------------------
# DSIR importance-weighted data selection (Xie et al., NeurIPS 2023 —
# operators.selection): score raw documents by the target/raw
# log-likelihood ratio of their hashed n-gram profile, keep the top
# slice. Target = the English slice (lang='en'), raw = the full corpus.
# The two bucket-count models train in the pyarrow twin and enter both
# engines as integer-scaled literals, so the per-document weight is an
# exact BIGINT dot product — bit-replicable, no float summation, no
# measured-margin caveats. md5 bucketing (not xxhash64) because the
# bucket assignment must reproduce in DuckDB and the twin.
# ---------------------------------------------------------------------------
_DSIR_BUCKETS = 64
_DSIR_K = 100


@functools.cache
def _dsir_logratios(sf_dir: str) -> list[int]:
    from ..operators.selection import train_dsir_logratios_parquet

    return train_dsir_logratios_parquet(
        os.path.join(sf_dir, "documents.parquet"),
        text_col="text",
        target_col="lang",
        target_value="en",
        n_buckets=_DSIR_BUCKETS,
    )


def _dsir_scored_sql(sf_dir: str, extra_cols: str = "") -> str:
    """Shared CTE prefix: a ``scored`` relation with (doc_id,
    [extra_cols,] dsir_score) — ONE definition of the feature/bucket/
    fold arithmetic so the two DSIR oracles cannot diverge from each
    other (or silently from operators/selection.py)."""
    lr = _dsir_logratios(sf_dir)
    lr_list = "[" + ", ".join(str(int(v)) for v in lr) + "]"
    cols = f"{extra_cols}, " if extra_cols else ""
    return rf"""
    WITH toks AS (
      SELECT doc_id, {cols}
             {_WS_TOKENS_SQL.format(col="text")} AS tk
      FROM documents
    ),
    feats AS (
      SELECT doc_id, {cols}
             tk || CASE WHEN len(tk) >= 2
                   THEN list_transform(range(1, len(tk)),
                        i -> tk[i] || ' ' || tk[i + 1])
                   ELSE CAST([] AS VARCHAR[]) END AS fs
      FROM toks
    ),
    scored AS (
      SELECT doc_id, {cols}
             CAST(COALESCE(list_sum(list_transform(fs,
                  f -> ({lr_list})[CAST(CAST(('0x' || substr(md5(f), 1, 8))
                                             AS BIGINT)
                                        % {_DSIR_BUCKETS} AS INT) + 1])), 0)
               AS BIGINT) AS dsir_score
      FROM feats
    )"""


def _docs_dsir_oracle(sf_dir: str) -> str:
    return (
        _dsir_scored_sql(sf_dir)
        + f"""
    SELECT doc_id, dsir_score FROM scored
    ORDER BY dsir_score DESC, doc_id ASC LIMIT {_DSIR_K}
    """
    )


@register("docs_dsir_weights", oracle=_docs_dsir_oracle)
def docs_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-100 documents by DSIR importance weight (target = lang='en').
    One narrow ZERO-SHUFFLE feature-fold projection +
    TakeOrderedAndProject — the pretraining-data-selection pass. The
    oracle folds per row the same way (zero-feature docs score 0 in
    both engines)."""
    from ..operators.selection import dsir_importance_topk

    docs = _t(spark, sf_dir, "documents")
    return dsir_importance_topk(
        docs, "doc_id", "text", _dsir_logratios(sf_dir), k=_DSIR_K
    )


# ---------------------------------------------------------------------------
# Trained-tokenizer token counting: per-document subword counts under
# the 8 learned BPE merges (the counting every packing/budgeting stage
# runs before training). Zero shuffle — one whole-row HOF projection;
# the per-token merge application is inherent per-element work (the
# merges are literals, nothing row-level recomputes inside the lambda).
# All integer/string → bit-replicable.
# ---------------------------------------------------------------------------
def _docs_bpe_token_counts_oracle(sf_dir: str) -> str:
    merges = _bpe_merges(sf_dir)
    applied = r"' ' || regexp_replace(t, '(.)', '\1 ', 'g')"
    for a, b in merges:
        applied = (
            f"replace({applied}, ' {_sq(a)} {_sq(b)} ', ' {_sq(a)}{_sq(b)} ')"
        )
    return rf"""
    WITH {_TOKS_CTE.format(src="documents")}
    SELECT doc_id,
           CAST(COALESCE(list_sum(list_transform(tk,
                t -> len(list_filter(string_split(trim({applied}), ' '),
                                     x -> x <> '')))), 0) AS BIGINT)
             AS n_bpe_tokens
    FROM toks
    """


@register("docs_bpe_token_counts", oracle=_docs_bpe_token_counts_oracle)
def docs_bpe_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.text import bpe_token_count

    docs = _t(spark, sf_dir, "documents")
    toks = docs.select("doc_id", word_tokens(F.col("text")).alias("__toks"))
    return toks.select(
        "doc_id",
        bpe_token_count(F.col("__toks"), _bpe_merges(sf_dir)).alias(
            "n_bpe_tokens"
        ),
    )


# ---------------------------------------------------------------------------
# CMS inner-product join-size estimation (Cormode-Muthukrishnan §4.2):
# estimate |orders ⋈ lineitem| from two depth×width grids instead of
# executing the join — the shuffle-sizing primitive. The check face
# asserts the two guarantees against the oracle-replicated exact join
# size: est ≥ true ALWAYS (collision cross terms are non-negative) and
# est ≤ true + (e/width)·N₁·N₂ w.p. 1−e^{−depth}.
#
# FIXTURE-PINNED ASSERTION (ADVICE r6): the oracle's `TRUE AS upper_ok`
# is a deterministic statement about THIS seed family (xxhash64 seeds
# 0..3), THIS grid (4×1024), and THIS data — verified to hold at
# sf0.001/0.01/0.1. The probabilistic guarantee behind it is only
# 1−e^{−depth} ≈ 98.2% at depth 4: changing depth/width/scale factor or
# regenerating the fixtures could legitimately flip upper_ok without any
# implementation bug (lower_ok is the unconditional invariant). If this
# gate ever fails after such a change, first re-derive the bound before
# suspecting the sketch.
# ---------------------------------------------------------------------------
@register(
    "orders_join_size_cms_check",
    oracle="""
    WITH ex AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS exact_join_size
      FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    ),
    n1 AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_orders FROM orders),
    n2 AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_lineitem FROM lineitem)
    SELECT exact_join_size, n_orders, n_lineitem,
           TRUE AS lower_ok, TRUE AS upper_ok
    FROM ex, n1, n2
    """,
)
def orders_join_size_cms_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    import math

    from ..operators.sketch import cms_build, cms_inner_product

    o = _t(spark, sf_dir, "orders").select(F.col("o_orderkey").alias("k"))
    li = _t(spark, sf_dir, "lineitem").select(F.col("l_orderkey").alias("k"))
    est = cms_inner_product(
        cms_build(o, "k", depth=4, width=1024),
        cms_build(li, "k", depth=4, width=1024),
    )
    exact = o.join(li, "k").agg(
        F.count(F.lit(1)).alias("exact_join_size")
    )
    n1 = o.agg(F.count(F.lit(1)).alias("n_orders"))
    n2 = li.agg(F.count(F.lit(1)).alias("n_lineitem"))
    bound = (
        F.lit(math.e / 1024.0)
        * F.col("n_orders").cast("double")
        * F.col("n_lineitem").cast("double")
    )
    # every join side below is a 1-row aggregate
    return (
        exact.join(est)
        .join(n1)
        .join(n2)
        .select(
            "exact_join_size",
            "n_orders",
            "n_lineitem",
            (F.col("est") >= F.col("exact_join_size")).alias("lower_ok"),
            (
                F.col("est").cast("double")
                <= F.col("exact_join_size").cast("double") + bound
            ).alias("upper_ok"),
        )
    )


# ---------------------------------------------------------------------------
# Integer PageRank over the customer↔supplier co-purchase graph
# (operators.graph.pagerank_integer): authority scoring — the iterative
# graph tier beyond connected components. Every step is BIGINT floor
# division (rank shares, damping, teleport base), so five unrolled
# iterations replicate bit-for-bit in SQL with no float anywhere — the
# round-then-sum exactness move applied to random-surfer mass.
# ---------------------------------------------------------------------------
def _pagerank_iter_sql(prev: str, out: str) -> str:
    return f"""
    {out} AS (
      SELECT n.node,
             CAST((SELECT base FROM params)
                  + (85 * COALESCE(c.inm, 0)) // 100 AS BIGINT) AS rank
      FROM nodes n LEFT JOIN (
        SELECT e.dst AS node, SUM(r.rank // d.outdeg) AS inm
        FROM {prev} r
        JOIN deg d ON r.node = d.node
        JOIN edges e ON e.src = r.node
        GROUP BY e.dst
      ) c ON n.node = c.node
    )"""


_PAGERANK_ORACLE = (
    """
    WITH pairs AS (
      SELECT DISTINCT o.o_custkey AS c, l.l_suppkey AS s
      FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    ),
    edges AS (
      SELECT 'c' || CAST(c AS VARCHAR) AS src,
             's' || CAST(s AS VARCHAR) AS dst FROM pairs
      UNION ALL
      SELECT 's' || CAST(s AS VARCHAR), 'c' || CAST(c AS VARCHAR) FROM pairs
    ),
    nodes AS (SELECT DISTINCT src AS node FROM edges),
    deg AS (SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS outdeg
            FROM edges GROUP BY 1),
    params AS (
      SELECT CAST(1000000000000 // COUNT(*) AS BIGINT) AS r0,
             CAST((15 * (1000000000000 // COUNT(*))) // 100 AS BIGINT) AS base
      FROM nodes
    ),
    r0 AS (SELECT node, (SELECT r0 FROM params) AS rank FROM nodes),"""
    + ",".join(
        _pagerank_iter_sql(f"r{i}", f"r{i + 1}") for i in range(5)
    )
    + """
    SELECT CAST(substr(node, 2) AS BIGINT) AS s_suppkey,
           rank AS authority
    FROM r5 WHERE node LIKE 's%'
    """
)


@register("supplier_authority_pagerank", oracle=_PAGERANK_ORACLE)
def supplier_authority_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supplier authority via 5 integer-PageRank iterations on the
    undirected customer↔supplier co-purchase graph (edges = distinct
    (custkey, suppkey) pairs through orders⋈lineitem, both directions).
    Node ids are type-prefixed strings ('c…'/'s…') since the two key
    spaces overlap. One equi-join + one partial-agg shuffle per
    iteration over a static edge table — O(iters) shuffles."""
    from ..operators.graph import pagerank_integer

    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    pairs = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .select(
            F.concat(F.lit("c"), F.col("o_custkey").cast("string")).alias("c"),
            F.concat(F.lit("s"), F.col("l_suppkey").cast("string")).alias("s"),
        )
        .distinct()
    )
    edges = pairs.select(
        F.col("c").alias("src"), F.col("s").alias("dst")
    ).unionByName(pairs.select(F.col("s").alias("src"), F.col("c").alias("dst")))
    ranks = pagerank_integer(edges, iters=5)
    return ranks.filter(F.col("node").startswith("s")).select(
        F.expr("substring(node, 2)").cast("bigint").alias("s_suppkey"),
        F.col("rank").alias("authority"),
    )


def _docs_dsir_mixture_oracle(sf_dir: str) -> str:
    return (
        _dsir_scored_sql(sf_dir, extra_cols="lang")
        + """
    SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_selected
    FROM scored WHERE dsir_score >= 1
    GROUP BY lang
    """
    )


@register("docs_dsir_selected_mixture", oracle=_docs_dsir_mixture_oracle)
def docs_dsir_selected_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """What DSIR selection does to the corpus mixture: per-language
    counts of documents with positive importance evidence (score ≥ 1,
    target = lang='en') — the resampling audit a pipeline prints before
    committing to a selection threshold. Exercises the dsir_select face
    (agg scorer + filter above the aggregate, evaluated once)."""
    from ..operators.selection import dsir_select

    docs = _t(spark, sf_dir, "documents")
    sel = dsir_select(docs, "doc_id", "text", _dsir_logratios(sf_dir), 1)
    return sel.groupBy("lang").agg(F.count(F.lit(1)).alias("n_selected"))


# =============================================================================
# Derived TPC-H extension tables (VERDICT r7 item 4). The synthetic set
# has no partsupp table and no l_commitdate / l_receiptdate / l_shipmode
# columns, which blocked the true Q11/Q12/Q16/Q20/Q21 shapes. Rather
# than asking the driver for fixtures, the missing data is DERIVED from
# the existing keys with engine-shared integer arithmetic — the
# trained-constants move applied to data: the same formulas are rendered
# in the Spark plan and in the DuckDB oracle CTE, so both engines
# materialize identical extension tables and the hash check covers the
# derivation itself. All derived quantities are BIGINT (dates become
# epoch-day numbers), so no float/rounding/date-dialect trap applies.
#
# partsupp: 4 rows per part — ps_suppkey = (p_partkey*7 + i) % |supplier|
# for i in 0..3 (distinct for any supplier count >= 4; suppkeys are
# 0-based in the synthetic set), ps_availqty in [1, 9999], and
# ps_supplycost_cents in [10000, 99999], both keyed off (partkey, i).
#
# lineitem extension: l_shipday = epoch days of l_shipdate;
# l_commitday = shipday + (orderkey*3 + linenumber*7) % 61 - 30 (commit
# promised up to 30 days either side of actual shipment);
# l_receiptday = shipday + (orderkey*5 + linenumber*11) % 30 + 1
# (receipt 1-30 days after shipment); l_shipmode = one of 7 modes by
# (orderkey + linenumber*3) % 7.
# =============================================================================

_SHIPMODES = ["AIR", "MAIL", "SHIP", "TRUCK", "RAIL", "FOB", "REG AIR"]


def _partsupp(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = _t(spark, sf_dir, "part").select("p_partkey")
    scnt = _t(spark, sf_dir, "supplier").agg(F.count(F.lit(1)).alias("__s"))
    i = F.explode(F.sequence(F.lit(0), F.lit(3))).alias("i")
    pk = F.col("ps_partkey")
    return (
        part.join(F.broadcast(scnt))
        .select(F.col("p_partkey").alias("ps_partkey"), "__s", i)
        .select(
            "ps_partkey",
            ((pk * 7 + F.col("i")) % F.col("__s")).cast("long").alias("ps_suppkey"),
            ((pk * 31 + F.col("i") * 17) % 9999 + 1)
            .cast("long")
            .alias("ps_availqty"),
            ((pk * 53 + F.col("i") * 29) % 90000 + 10000)
            .cast("long")
            .alias("ps_supplycost_cents"),
        )
    )


_PARTSUPP_CTE = """
    partsupp AS (
      SELECT p_partkey AS ps_partkey,
             CAST((p_partkey * 7 + i) % (SELECT COUNT(*) FROM supplier)
                  AS BIGINT) AS ps_suppkey,
             CAST((p_partkey * 31 + i * 17) % 9999 + 1 AS BIGINT)
               AS ps_availqty,
             CAST((p_partkey * 53 + i * 29) % 90000 + 10000 AS BIGINT)
               AS ps_supplycost_cents
      FROM part, (VALUES (0), (1), (2), (3)) AS gen(i)
    )
"""


def _lineitem_ext(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    shipday = F.datediff(
        F.col("l_shipdate").cast("date"), F.lit("1970-01-01").cast("date")
    ).cast("long")
    k = F.col("l_orderkey")
    ln = F.col("l_linenumber").cast("long")
    idx = (k + ln * 3) % 7
    expr = None
    for m, name in enumerate(_SHIPMODES):
        expr = (
            F.when(idx == m, F.lit(name))
            if expr is None
            else expr.when(idx == m, F.lit(name))
        )
    return (
        li.withColumn("l_shipday", shipday)
        .withColumn("l_commitday", F.col("l_shipday") + (k * 3 + ln * 7) % 61 - 30)
        .withColumn("l_receiptday", F.col("l_shipday") + (k * 5 + ln * 11) % 30 + 1)
        .withColumn("l_shipmode", expr)
    )


_LINEITEM_EXT_CTE = """
    lx0 AS (
      SELECT l.*,
             CAST(date_diff('day', DATE '1970-01-01', CAST(l_shipdate AS DATE))
                  AS BIGINT) AS l_shipday
      FROM lineitem l
    ),
    lx AS (
      SELECT lx0.*,
             l_shipday + (l_orderkey * 3 + CAST(l_linenumber AS BIGINT) * 7) % 61
               - 30 AS l_commitday,
             l_shipday + (l_orderkey * 5 + CAST(l_linenumber AS BIGINT) * 11) % 30
               + 1 AS l_receiptday,
             CASE CAST((l_orderkey + CAST(l_linenumber AS BIGINT) * 3) % 7
                       AS INTEGER)
               WHEN 0 THEN 'AIR' WHEN 1 THEN 'MAIL' WHEN 2 THEN 'SHIP'
               WHEN 3 THEN 'TRUCK' WHEN 4 THEN 'RAIL' WHEN 5 THEN 'FOB'
               ELSE 'REG AIR' END AS l_shipmode
      FROM lx0
    )
"""


# ---------------------------------------------------------------------------
# TPC-H Q11 shape (important stock identification): per-part inventory
# value within one nation's suppliers, kept when the part's value
# exceeds the nation-wide average by 10% — the scalar-aggregate-subquery
# HAVING decorrelated into a broadcast join of a 1-row (total, n_parts)
# aggregate. Pure-integer threshold (value * n * 10 > total * 11) — no
# division, scale-free across SFs. At 100 TB: partsupp shuffles once on
# ps_partkey; the supplier/nation dim filter reduces it first; the
# global total is a second pass over the SAME filtered frame (persisted,
# grid-small output) rather than a re-derivation.
# ---------------------------------------------------------------------------
@register(
    "tpch_q11_important_stock",
    oracle="WITH"
    + _PARTSUPP_CTE
    + """
    , psn AS (
      SELECT ps_partkey, ps_supplycost_cents * ps_availqty AS v
      FROM partsupp
      JOIN supplier ON s_suppkey = ps_suppkey
      JOIN nation ON n_nationkey = s_nationkey AND n_name = 'NATION_3'
    ),
    byp AS (
      SELECT ps_partkey, CAST(SUM(v) AS BIGINT) AS value_cents
      FROM psn GROUP BY ps_partkey
    ),
    tot AS (
      SELECT CAST(SUM(value_cents) AS BIGINT) AS total,
             CAST(COUNT(*) AS BIGINT) AS n FROM byp
    )
    SELECT ps_partkey, value_cents
    FROM byp, tot
    WHERE value_cents * n * 10 > total * 11
    """,
)
def tpch_q11_important_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.cache import scoped_persist

    ps = _partsupp(spark, sf_dir)
    sup = _t(spark, sf_dir, "supplier")
    nat = _t(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_3")
    psn = ps.join(
        sup.join(F.broadcast(nat), sup.s_nationkey == nat.n_nationkey).select(
            "s_suppkey"
        ),
        F.col("ps_suppkey") == F.col("s_suppkey"),
    ).select(
        "ps_partkey",
        (F.col("ps_supplycost_cents") * F.col("ps_availqty")).alias("v"),
    )
    byp = scoped_persist(
        psn.groupBy("ps_partkey").agg(F.sum("v").alias("value_cents"))
    )
    tot = byp.agg(
        F.sum("value_cents").alias("__total"), F.count(F.lit(1)).alias("__n")
    )
    return (
        byp.join(F.broadcast(tot))
        .filter(F.col("value_cents") * F.col("__n") * 10 > F.col("__total") * 11)
        .select("ps_partkey", "value_cents")
    )


# ---------------------------------------------------------------------------
# TPC-H Q12 shape (shipping modes / late lineitems): orders joined to
# lineitems that were received in 1996, shipped before committed and
# committed before received, restricted to two ship modes; pivoted
# counts of high- vs low-priority orders per mode. One equi-join shuffle
# on orderkey (both sides SF-scaled — AQE picks the strategy); the mode
# and day-window predicates prune the lineitem side before the join.
# Day arithmetic is pure BIGINT epoch-days (no date-dialect surface).
# ---------------------------------------------------------------------------
@register(
    "tpch_q12_shipmodes",
    oracle="WITH"
    + _LINEITEM_EXT_CTE
    + """
    SELECT l_shipmode,
           CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                    THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
    FROM orders JOIN lx ON o_orderkey = l_orderkey
    WHERE l_shipmode IN ('MAIL', 'SHIP')
      AND l_commitday < l_receiptday
      AND l_shipday < l_commitday
      AND l_receiptday >= 9496 AND l_receiptday < 9862
    GROUP BY l_shipmode
    """,
)
def tpch_q12_shipmodes(spark: SparkSession, sf_dir: str) -> DataFrame:
    lx = _lineitem_ext(spark, sf_dir)
    orders = _t(spark, sf_dir, "orders")
    late = lx.filter(
        F.col("l_shipmode").isin("MAIL", "SHIP")
        & (F.col("l_commitday") < F.col("l_receiptday"))
        & (F.col("l_shipday") < F.col("l_commitday"))
        & (F.col("l_receiptday") >= 9496)
        & (F.col("l_receiptday") < 9862)
    ).select("l_orderkey", "l_shipmode")
    hi = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        late.join(orders, F.col("o_orderkey") == F.col("l_orderkey"))
        .groupBy("l_shipmode")
        .agg(
            F.sum(F.when(hi, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(hi, 0).otherwise(1)).alias("low_line_count"),
        )
    )


# ---------------------------------------------------------------------------
# TPC-H Q16 shape (parts/supplier relationship): how many distinct
# suppliers can provide each (brand, type, size) combination, excluding
# one brand, one type, sizes outside a fixed IN-list, and a
# "complaints" supplier set (synthetic stand-in: s_suppkey % 10 = 3 —
# the set has no s_comment column). The NOT IN becomes a left_anti
# join (ps_suppkey is never NULL by construction, so anti == NOT IN
# here); COUNT(DISTINCT) shuffles once on the group key with a
# partial-distinct map side.
# ---------------------------------------------------------------------------
@register(
    "tpch_q16_parts_supplier",
    oracle="WITH"
    + _PARTSUPP_CTE
    + """
    SELECT p_brand, p_type, p_size,
           CAST(COUNT(DISTINCT ps_suppkey) AS BIGINT) AS supplier_cnt
    FROM partsupp JOIN part ON p_partkey = ps_partkey
    WHERE p_brand <> 'Brand#1'
      AND p_type <> 'PROMO'
      AND p_size IN (1, 9, 17, 25, 33, 41, 49)
      AND ps_suppkey NOT IN
          (SELECT s_suppkey FROM supplier WHERE s_suppkey % 10 = 3)
    GROUP BY p_brand, p_type, p_size
    """,
)
def tpch_q16_parts_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    ps = _partsupp(spark, sf_dir)
    part = _t(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#1")
        & (F.col("p_type") != "PROMO")
        & F.col("p_size").isin(1, 9, 17, 25, 33, 41, 49)
    )
    complaints = (
        _t(spark, sf_dir, "supplier")
        .filter(F.col("s_suppkey") % 10 == 3)
        .select("s_suppkey")
    )
    return (
        ps.join(complaints, ps.ps_suppkey == complaints.s_suppkey, "left_anti")
        .join(part, F.col("p_partkey") == F.col("ps_partkey"))
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.count_distinct(F.col("ps_suppkey")).alias("supplier_cnt"))
    )


# ---------------------------------------------------------------------------
# TPC-H Q20 shape (potential part promotion): suppliers holding excess
# stock — ps_availqty more than half of their own 1996 shipments of
# 'small%' parts. The correlated scalar subquery (per (part, supplier)
# shipped quantity) decorrelates into a grouped aggregate joined back on
# the composite key; the double-nested IN becomes a semi-join chain.
# Integer-exact: 2*availqty > sum_qty (l_quantity is integral). Pairs
# with no 1996 shipments drop out of the inner join — exactly the
# NULL-comparison semantics of the correlated form. Output is the
# distinct qualifying supplier set.
# ---------------------------------------------------------------------------
@register(
    "tpch_q20_potential_promotion",
    oracle="WITH"
    + _PARTSUPP_CTE
    + """
    , qty AS (
      SELECT l_partkey, l_suppkey,
             CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        AND l_shipdate < TIMESTAMP '1997-01-01'
      GROUP BY l_partkey, l_suppkey
    )
    SELECT DISTINCT s_suppkey, s_name
    FROM supplier
    WHERE s_suppkey IN (
      SELECT ps_suppkey
      FROM partsupp
      JOIN qty ON qty.l_partkey = ps_partkey AND qty.l_suppkey = ps_suppkey
      WHERE ps_partkey IN
            (SELECT p_partkey FROM part WHERE p_name LIKE 'small%')
        AND 2 * ps_availqty > sum_qty
    )
    """,
)
def tpch_q20_potential_promotion(spark: SparkSession, sf_dir: str) -> DataFrame:
    ps = _partsupp(spark, sf_dir)
    li = _t(spark, sf_dir, "lineitem")
    sup = _t(spark, sf_dir, "supplier")
    small = (
        _t(spark, sf_dir, "part")
        .filter(F.col("p_name").startswith("small"))
        .select("p_partkey")
    )
    qty = (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
        )
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.sum(F.col("l_quantity").cast("long")).alias("sum_qty"))
    )
    excess = (
        ps.join(small, ps.ps_partkey == small.p_partkey, "left_semi")
        .join(
            qty,
            (F.col("l_partkey") == F.col("ps_partkey"))
            & (F.col("l_suppkey") == F.col("ps_suppkey")),
        )
        .filter(2 * F.col("ps_availqty") > F.col("sum_qty"))
        .select("ps_suppkey")
    )
    return (
        sup.join(excess, sup.s_suppkey == excess.ps_suppkey, "left_semi")
        .select("s_suppkey", "s_name")
        .distinct()
    )


# ---------------------------------------------------------------------------
# TPC-H Q21 shape (suppliers who kept orders waiting): suppliers whose
# lineitem was received late (receipt > commit) on a finalized
# multi-supplier order where NO OTHER supplier was late. The oracle
# keeps the textbook correlated EXISTS / NOT EXISTS pair; the Spark
# plan is the scalable decorrelated rewrite — ONE per-order aggregate
# (distinct suppliers, distinct LATE suppliers) joined back to the late
# lineitems: EXISTS(other supplier) == n_supp >= 2, NOT EXISTS(other
# late supplier) == n_late_supp = 1 given the row itself is late. Hash
# equality between the two formulations is the proof of the rewrite.
# One lineitem shuffle on l_orderkey for the aggregate, reused by the
# join; orders acts as a filter dimension.
# ---------------------------------------------------------------------------
@register(
    "tpch_q21_waiting_suppliers",
    oracle="WITH"
    + _LINEITEM_EXT_CTE
    + """
    SELECT s_name, CAST(COUNT(*) AS BIGINT) AS numwait
    FROM supplier
    JOIN lx l1 ON s_suppkey = l1.l_suppkey
    JOIN orders ON o_orderkey = l1.l_orderkey AND o_orderstatus = 'F'
    WHERE l1.l_receiptday > l1.l_commitday
      AND EXISTS (
        SELECT 1 FROM lx l2
        WHERE l2.l_orderkey = l1.l_orderkey
          AND l2.l_suppkey <> l1.l_suppkey
      )
      AND NOT EXISTS (
        SELECT 1 FROM lx l3
        WHERE l3.l_orderkey = l1.l_orderkey
          AND l3.l_suppkey <> l1.l_suppkey
          AND l3.l_receiptday > l3.l_commitday
      )
    GROUP BY s_name
    """,
)
def tpch_q21_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.cache import scoped_persist

    # lx feeds BOTH the per-order supplier profile and the late-row
    # probe side — materialize it once (the cross-operator no-CSE rule)
    lx = scoped_persist(
        _lineitem_ext(spark, sf_dir).select(
            "l_orderkey",
            "l_suppkey",
            (F.col("l_receiptday") > F.col("l_commitday")).alias("__late"),
        )
    )
    # two-level distinct: dedup (order, supplier) first, then count — the
    # double count_distinct form plans an Expand that pushes 2x the rows
    # through the aggregate (A/B at sf0.1: 2.6s -> 1.6s with both fixes,
    # rows identical)
    per_supp = lx.groupBy("l_orderkey", "l_suppkey").agg(
        F.max(F.when(F.col("__late"), 1).otherwise(0)).alias("__late_any")
    )
    per_order = per_supp.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).alias("__n_supp"),
        F.sum("__late_any").alias("__n_late_supp"),
    )
    forders = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "F")
        .select("o_orderkey")
    )
    sup = _t(spark, sf_dir, "supplier")
    l1 = (
        lx.filter(F.col("__late"))
        .join(forders, F.col("o_orderkey") == F.col("l_orderkey"), "left_semi")
        .join(
            per_order.filter(
                (F.col("__n_supp") >= 2) & (F.col("__n_late_supp") == 1)
            ).select(F.col("l_orderkey").alias("__ok")),
            F.col("l_orderkey") == F.col("__ok"),
            "left_semi",
        )
    )
    return (
        l1.join(sup, F.col("s_suppkey") == F.col("l_suppkey"))
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
    )


# ---------------------------------------------------------------------------
# GROUPED robust (median/MAD) outlier detection — the per-tenant /
# per-event-type production variant of events_value_mad_outliers: the
# same selector stages with the group as the key (per-group grids,
# brackets and MAD bands), every frame meeting the rows by a hash
# equi-join on the group (never a broadcast of group-cardinality data),
# and one counting pass. Zero global sorts; state bounded by groups × grid.
# Oracle: independent per-group full sorts.
# ---------------------------------------------------------------------------
@register(
    "events_mad_outliers_by_type",
    oracle="""
    WITH v AS (
      SELECT event_type, CAST(ROUND(value * 100) AS BIGINT) AS x
      FROM events WHERE value IS NOT NULL
    ),
    n AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n
          FROM v GROUP BY event_type),
    med AS (
      SELECT r.event_type, r.x AS med FROM (
        SELECT event_type, x,
               row_number() OVER (PARTITION BY event_type ORDER BY x) AS rn
        FROM v
      ) r JOIN n ON n.event_type = r.event_type
      WHERE r.rn = (n.n * 500 + 999) // 1000
    ),
    dev AS (
      SELECT v.event_type, abs(v.x - med.med) AS d
      FROM v JOIN med ON med.event_type = v.event_type
    ),
    mad AS (
      SELECT r.event_type, r.d AS mad FROM (
        SELECT event_type, d,
               row_number() OVER (PARTITION BY event_type ORDER BY d) AS rn
        FROM dev
      ) r JOIN n ON n.event_type = r.event_type
      WHERE r.rn = (n.n * 500 + 999) // 1000
    )
    SELECT n.event_type, n.n AS n_rows, med.med AS median_cents,
           mad.mad AS mad_cents,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM v
            WHERE v.event_type = n.event_type
              AND abs(v.x - med.med) >= 5 * mad.mad) AS n_outliers
    FROM n
    JOIN med ON med.event_type = n.event_type
    JOIN mad ON mad.event_type = n.event_type
    """,
)
def events_mad_outliers_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.cache import scoped_persist
    from ..operators.sketch import median_mad_by_group

    vals = scoped_persist(
        _t(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .select(
            "event_type",
            F.round(F.col("value") * 100, 0).cast("bigint").alias("x"),
        )
    )
    mm = scoped_persist(
        median_mad_by_group(vals, "event_type", "x").select(
            "event_type",
            "n_rows",
            F.col("median").alias("median_cents"),
            F.col("mad").alias("mad_cents"),
        )
    )
    outliers = (
        vals.join(mm.select("event_type", "median_cents", "mad_cents"), "event_type")
        .filter(
            F.abs(F.col("x") - F.col("median_cents"))
            >= F.lit(5) * F.col("mad_cents")
        )
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_outliers"))
    )
    # left join: a group with ZERO outliers must still report (the
    # oracle's correlated COUNT returns 0, not no-row)
    return mm.join(outliers, "event_type", "left").select(
        "event_type",
        "n_rows",
        "median_cents",
        "mad_cents",
        F.coalesce(F.col("n_outliers"), F.lit(0).cast("bigint")).alias(
            "n_outliers"
        ),
    )


# ---------------------------------------------------------------------------
# Gopher-style repetition filter (Rae et al. 2021, appendix A1.1) adapted
# to word n-grams: occurrence-based top/duplicate fractions as exact
# BIGINT micro-units — no float ratios, no explode/groupBy (the Spark
# side is a per-row sorted-array fold, zero shuffle; the oracle unnests
# and group-counts — different algorithm, same integers). The `kept`
# thresholds are corpus-adapted (Gopher's own 20%/2-gram cut keeps 100%
# of this synthetic word-soup corpus); the BOUNDARY is what the hash
# pins.
# ---------------------------------------------------------------------------
@register(
    "docs_repetition_filter",
    oracle=rf"""
    WITH t AS (
      SELECT doc_id, {_WS_TOKENS_SQL.format(col="text")} AS tk
      FROM documents
    ),
    n AS (SELECT doc_id, CAST(len(tk) AS BIGINT) AS n_tokens FROM t),
    tok AS (SELECT doc_id, unnest(tk) AS w FROM t),
    tc AS (SELECT doc_id, w, CAST(COUNT(*) AS BIGINT) AS c
           FROM tok GROUP BY doc_id, w),
    ts AS (SELECT doc_id, MAX(c) AS topt,
                  CAST(SUM(CASE WHEN c >= 2 THEN c ELSE 0 END) AS BIGINT) AS dupt
           FROM tc GROUP BY doc_id),
    g AS (SELECT doc_id,
                 unnest(list_transform(range(1, len(tk)),
                                       i -> tk[i] || chr(31) || tk[i+1])) AS gm
          FROM t WHERE len(tk) >= 2),
    gc AS (SELECT doc_id, gm, CAST(COUNT(*) AS BIGINT) AS c
           FROM g GROUP BY doc_id, gm),
    gs AS (SELECT doc_id, MAX(c) AS topg,
                  CAST(SUM(CASE WHEN c >= 2 THEN c ELSE 0 END) AS BIGINT) AS dupg
           FROM gc GROUP BY doc_id),
    m AS (
      SELECT n.doc_id, n.n_tokens,
             CASE WHEN n.n_tokens > 0
                  THEN (COALESCE(ts.topt, 0) * 1000000) // n.n_tokens
                  ELSE 0 END AS top_tok_micro,
             CASE WHEN n.n_tokens > 0
                  THEN (COALESCE(ts.dupt, 0) * 1000000) // n.n_tokens
                  ELSE 0 END AS dup_tok_micro,
             CASE WHEN n.n_tokens > 1
                  THEN (COALESCE(gs.topg, 0) * 1000000) // (n.n_tokens - 1)
                  ELSE 0 END AS top_2gram_micro,
             CASE WHEN n.n_tokens > 1
                  THEN (COALESCE(gs.dupg, 0) * 1000000) // (n.n_tokens - 1)
                  ELSE 0 END AS dup_2gram_micro
      FROM n
      LEFT JOIN ts ON ts.doc_id = n.doc_id
      LEFT JOIN gs ON gs.doc_id = n.doc_id
    )
    SELECT doc_id, n_tokens,
           CAST(top_tok_micro AS BIGINT) AS top_tok_micro,
           CAST(dup_tok_micro AS BIGINT) AS dup_tok_micro,
           CAST(top_2gram_micro AS BIGINT) AS top_2gram_micro,
           CAST(dup_2gram_micro AS BIGINT) AS dup_2gram_micro,
           (top_tok_micro <= 100000 AND dup_2gram_micro <= 80000) AS kept
    FROM m
    """,
)
def docs_repetition_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    feats = text_ops.repetition_features(docs)
    return feats.select(
        "doc_id",
        "n_tokens",
        "top_tok_micro",
        "dup_tok_micro",
        "top_2gram_micro",
        "dup_2gram_micro",
        (
            (F.col("top_tok_micro") <= 100000)
            & (F.col("dup_2gram_micro") <= 80000)
        ).alias("kept"),
    )


# ---------------------------------------------------------------------------
# Weighted sampling without replacement (Efraimidis-Spirakis A-ES):
# k docs per source with probability proportional to length — the
# token-budget-aware eval/inspection sample. The draw is a pure
# function of the doc id (md5-derived u, never rand()), the key is
# ln(u)/w quantized to micro BIGINTs (one ulp-class ln per row,
# margin-measured), and the selection is one skew-safe topk_per_group —
# mergeable, no global sort. Oracle replicates the exact arithmetic:
# u = (52-bit md5 prefix + 1) / 2^52 is bit-identical in both engines.
# docs_weighted_sample_merge_check is checked against the same direct
# selection.
# ---------------------------------------------------------------------------
_AES_SAMPLE_ORACLE = """
    WITH w AS (
      SELECT source, doc_id, n_chars,
             CAST(ROUND(
               ln((CAST(CAST(('0x' || substr(md5('aes1' || CAST(doc_id AS VARCHAR)), 1, 13)) AS BIGINT) AS DOUBLE) + 1.0)
                  / 4503599627370496.0)
               * 1000000.0 / CAST(n_chars AS DOUBLE)
             ) AS BIGINT) AS key_micro
      FROM documents
      WHERE n_chars IS NOT NULL AND n_chars > 0
    ),
    r AS (
      SELECT source, doc_id, n_chars, key_micro,
             row_number() OVER (PARTITION BY source
                                ORDER BY key_micro DESC, doc_id) AS rk
      FROM w
    )
    SELECT source, doc_id, n_chars, key_micro, CAST(rk AS BIGINT) AS rk
    FROM r WHERE rk <= 5
    """


@register(
    "docs_weighted_sample",
    oracle=_AES_SAMPLE_ORACLE,
)
def docs_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.selection import weighted_sample_topk

    docs = _t(spark, sf_dir, "documents").select("source", "doc_id", "n_chars")
    top = weighted_sample_topk(
        docs, ["source"], "doc_id", "n_chars", k=5
    )
    return top.select(
        "source", "doc_id", "n_chars", "key_micro", F.col("rk").cast("long").alias("rk")
    )


# ---------------------------------------------------------------------------
# Mergeability check face for A-ES weighted sampling: select per-shard
# (doc_id parity split), merge the survivor sets, re-rank — and the
# oracle computes the DIRECT selection over the whole corpus. Hash
# equality proves merge(topk(A), topk(B)) == topk(A ∪ B), the property
# that makes the operator one bounded pass at 100 TB and a
# bounded-state streaming selection (streaming.sampling).
# ---------------------------------------------------------------------------
@register(
    "docs_weighted_sample_merge_check",
    oracle=_AES_SAMPLE_ORACLE,
)
def docs_weighted_sample_merge_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.selection import weighted_sample_merge, weighted_sample_topk

    docs = _t(spark, sf_dir, "documents").select("source", "doc_id", "n_chars")
    halves = [
        weighted_sample_topk(
            docs.filter(F.col("doc_id") % 2 == parity),
            ["source"],
            "doc_id",
            "n_chars",
            k=5,
        )
        for parity in (0, 1)
    ]
    merged = weighted_sample_merge(halves, ["source"], "doc_id", k=5)
    return merged.select(
        "source", "doc_id", "n_chars", "key_micro", F.col("rk").cast("long").alias("rk")
    )


# ---------------------------------------------------------------------------
# JSONL ingest face (r12, VERDICT r11 item 7): the schema-explicit
# PERMISSIVE JSON-lines reader (sources/readers.py::read_jsonl) gets a
# driver witness. A JSONL corpus is materialized once per source-parquet
# identity (good lines = to_json of every event row; one deterministic
# MALFORMED line injected per event_id % 97 == 0), read back with the
# explicit schema, and reduced per event_type: corrupt lines must land
# in the _corrupt_record quarantine column (null-typed group) without
# failing the job OR contaminating the typed groups' cent-exact sums.
# The oracle recomputes every group from the parquet in closed form —
# a reader that dropped corrupt lines, mis-parsed a double, or leaked a
# corrupt row into a typed group goes red. Scratch caching follows the
# ann_ivfpq_upsert_check convention (marker + rename; face-local test
# scaffolding — the reader itself is scheme-agnostic through Spark).
# ---------------------------------------------------------------------------
def _jsonl_fixture_path(spark: SparkSession, sf_dir: str) -> str:
    import hashlib
    import shutil

    src = f"{sf_dir.rstrip('/')}/events.parquet"
    st = os.stat(src)
    key = hashlib.md5(
        f"{src}:{st.st_size}:{int(st.st_mtime)}".encode()
    ).hexdigest()[:16]
    path = f"/tmp/spark_graft_jsonl_{key}"
    marker = os.path.join(path, "_COMMITTED")
    if os.path.exists(marker):
        return path
    shutil.rmtree(path, ignore_errors=True)
    staging = path + ".staging"
    shutil.rmtree(staging, ignore_errors=True)

    ev = _t(spark, sf_dir, "events")
    good = ev.select(
        F.to_json(
            F.struct("event_id", "user_id", "event_type", "value")
        ).alias("value")
    )
    bad = ev.filter(F.col("event_id") % 97 == 0).select(
        F.concat(
            F.lit('{"event_id": '), F.col("event_id").cast("string"),
            F.lit(', "user_id":')  # truncated on purpose — not valid JSON
        ).alias("value")
    )
    good.unionAll(bad).write.mode("overwrite").text(staging)
    with open(os.path.join(staging, "_COMMITTED"), "w") as fh:
        fh.write("ok\n")
    os.rename(staging, path)
    return path


@register(
    "events_jsonl_ingest_check",
    oracle="""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS cents,
           CAST(0 AS BIGINT) AS n_corrupt
    FROM events GROUP BY event_type
    UNION ALL
    SELECT NULL,
           CAST(COUNT(*) AS BIGINT),
           NULL,
           CAST(COUNT(*) AS BIGINT)
    FROM events WHERE event_id % 97 = 0
    """,
)
def events_jsonl_ingest_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import types as T

    from ..sources.readers import read_jsonl

    path = _jsonl_fixture_path(spark, sf_dir)
    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
        ]
    )
    df = read_jsonl(spark, path, schema)
    cents = F.round(F.col("value") * 100, 0).cast("long")
    return df.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(cents).alias("cents"),
        F.count("_corrupt_record").alias("n_corrupt"),
    )


# ---------------------------------------------------------------------------
# ORC round-trip face (r12, VERDICT r11 item 7): orders written to ORC
# (sources/sinks.py::write_orc) and scanned back (readers.py::read_orc)
# with a date-range filter + status rollup, hash-compared against the
# same aggregate DuckDB computes from the parquet — witnessing that the
# second columnar format round-trips values (timestamps included)
# bit-exactly and that the scan path accepts pushed filters. Scratch
# caching as above.
# ---------------------------------------------------------------------------
def _orc_fixture_path(spark: SparkSession, sf_dir: str) -> str:
    import hashlib
    import shutil

    src = f"{sf_dir.rstrip('/')}/orders.parquet"
    st = os.stat(src)
    key = hashlib.md5(
        f"{src}:{st.st_size}:{int(st.st_mtime)}".encode()
    ).hexdigest()[:16]
    path = f"/tmp/spark_graft_orc_{key}"
    marker = os.path.join(path, "_COMMITTED")
    if os.path.exists(marker):
        return path
    shutil.rmtree(path, ignore_errors=True)
    staging = path + ".staging"
    shutil.rmtree(staging, ignore_errors=True)

    from ..sources.sinks import write_orc

    write_orc(_t(spark, sf_dir, "orders"), staging)
    with open(os.path.join(staging, "_COMMITTED"), "w") as fh:
        fh.write("ok\n")
    os.rename(staging, path)
    return path


@register(
    "orders_orc_roundtrip_check",
    oracle="""
    SELECT o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS total_cents
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate < TIMESTAMP '1997-01-01'
    GROUP BY o_orderstatus
    """,
)
def orders_orc_roundtrip_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.readers import read_orc

    orders = read_orc(spark, _orc_fixture_path(spark, sf_dir))
    cents = F.round(F.col("o_totalprice") * 100, 0).cast("long")
    return (
        orders.filter(
            (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
        )
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(cents).alias("total_cents"),
        )
    )
