"""End-to-end corpus-prep pipeline — the composition every training-data
build actually runs, as ONE registered query: Gopher quality filter →
near-dup pairs (bottom-k Jaccard) → transitive groups (large-star/small-star
closure) → one survivor per group → cleaned corpus → per-language yield
accounting.

The individual stages are each gated on their own (text_gopher_rules,
dedup_bottomk_jaccard, dedup_components, dedup_survivors); this query gates
their COMPOSITION, which is where real pipelines break: the dedup stage must
run on the FILTERED corpus (filter-first shrinks the pair join's input and
changes which pairs exist), survivor selection must use the filtered
universe, and the yield numbers must reconcile (n_raw ≥ n_quality ≥ n_kept,
per language).

100-TB shape: the quality filter is a pure map stage (no shuffle, no UDF)
that runs FIRST so every downstream shuffle sees only surviving rows; pairs
come from the prefix-filtered sketch equi-join (never all-pairs); the
closure is O(log n) rounds of two hash shuffles over (bigint, bigint)
edges; survivor selection is one map-side-combinable struct-min groupBy;
the cleaned corpus is a broadcast-able anti-join (drop set ≪ corpus); the
final per-language rollup is a partial-aggregated groupBy on a
low-cardinality key.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from dblink_spark.queries import load, owns_caches, register
from dblink_spark.queries.dedup import _BOTTOMK_PAIRS_CTE
from dblink_spark.queries.text import _STOPWORDS

# Stopword list rendered for the oracle (same set text_gopher_rules uses).
_STOP_SQL = ", ".join("'" + w + "'" for w in _STOPWORDS)


@register(
    "pipeline_corpus_prep",
    oracle=f"""
WITH RECURSIVE feats AS (
  SELECT doc_id, COALESCE(lang, '') AS lang, text,
    COALESCE(n_chars, 0) AS len,
    len(string_split(text, ' ')) AS n_words,
    CAST(length(replace(text, ' ', '')) AS DOUBLE)
      / len(string_split(text, ' ')) AS mean_word_len,
    len(list_filter([{_STOP_SQL}],
        s -> list_contains(string_split(text, ' '), s))) AS stop_hits,
    CAST(length(text) - length(replace(text, '#', '')) AS DOUBLE)
      / len(string_split(text, ' ')) AS symbol_ratio
  FROM documents
),
pass AS (
  SELECT * FROM feats
  WHERE n_words BETWEEN 20 AND 100000
    AND mean_word_len BETWEEN 3.0 AND 10.0
    AND stop_hits >= 2
    AND symbol_ratio < 0.1
),
{_BOTTOMK_PAIRS_CTE.format(src="pass", k=8, t=0.99)},
surv AS (
  SELECT g.component,
    (ARRAY_AGG(g.doc_id ORDER BY p.len DESC, g.doc_id ASC))[1] AS survivor
  FROM grp g JOIN pass p ON p.doc_id = g.doc_id
  GROUP BY g.component
),
drops AS (
  SELECT g.doc_id
  FROM grp g JOIN surv s ON s.component = g.component
  WHERE g.doc_id <> s.survivor
),
kept AS (
  SELECT * FROM pass WHERE doc_id NOT IN (SELECT doc_id FROM drops)
),
raw AS (
  SELECT COALESCE(lang, '') AS lang, COUNT(*) AS n_raw
  FROM documents GROUP BY 1
),
q AS (SELECT lang, COUNT(*) AS n_quality FROM pass GROUP BY lang),
k AS (
  SELECT lang, COUNT(*) AS n_kept,
    SUM(n_words) AS words_kept
  FROM kept GROUP BY lang
)
SELECT r.lang,
  CAST(r.n_raw AS BIGINT) AS n_raw,
  CAST(COALESCE(q.n_quality, 0) AS BIGINT) AS n_quality,
  CAST(COALESCE(k.n_kept, 0) AS BIGINT) AS n_kept,
  CAST(COALESCE(q.n_quality, 0) - COALESCE(k.n_kept, 0) AS BIGINT)
    AS n_dupes_dropped,
  CAST(COALESCE(k.words_kept, 0) AS BIGINT) AS words_kept
FROM raw r
LEFT JOIN q ON q.lang = r.lang
LEFT JOIN k ON k.lang = r.lang
""",
    survey_ref=(
        "beyond-reference: end-to-end corpus-prep composition "
        "(quality filter -> near-dup closure -> survivor -> cleaned-corpus "
        "yield); composes text_gopher_rules + dedup_survivors filter-first"
    ),
)
def pipeline_corpus_prep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language yield of the full corpus-prep pipeline:
    ``(lang, n_raw, n_quality, n_kept, n_dupes_dropped, words_kept)``.

    Stages: Gopher rules drop low-quality docs FIRST (pure map — at 100 TB
    this is the cheapest place to shrink the corpus, and it changes which
    near-dup pairs exist, so the composition is a distinct behavior from
    running the stages independently); bottom-k sketch pairs + transitive
    closure group the survivors' near-duplicates; the longest doc per group
    (smallest doc_id on ties) survives; everything else anti-joins away.
    ``lang`` is null-safe (NULL groups as '') so the three yield aggregates
    join consistently in both engines.
    """
    from dblink_spark.queries.dedup import bottomk_components

    d = load(spark, sf_dir, "documents")
    w = F.split("text", " ")
    n_words = F.size(w)
    mean_word_len = (
        F.length(F.regexp_replace("text", " ", "")).cast("double") / n_words
    )
    stop_hits = F.size(
        F.filter(
            F.array(*[F.lit(s) for s in _STOPWORDS]),
            lambda s: F.array_contains(w, s),
        )
    )
    symbol_ratio = (
        F.length("text") - F.length(F.regexp_replace("text", "#", ""))
    ).cast("double") / n_words
    feats = d.select(
        "doc_id",
        F.coalesce("lang", F.lit("")).alias("lang"),
        "text",
        F.coalesce("n_chars", F.lit(0)).cast("long").alias("len"),
        n_words.alias("n_words"),
        mean_word_len.alias("mean_word_len"),
        stop_hits.alias("stop_hits"),
        symbol_ratio.alias("symbol_ratio"),
    )
    passing = feats.filter(
        F.col("n_words").between(20, 100000)
        & F.col("mean_word_len").between(3.0, 10.0)
        & (F.col("stop_hits") >= 2)
        & (F.col("symbol_ratio") < 0.1)
    )
    # only the pair build needs text; everything downstream (survivor
    # lengths, both yield aggregates, the anti-join) reads these four
    # narrow columns — so THIS is what gets cached, not the full corpus
    # (at 100 TB the text-bearing frame must never be pinned in memory)
    passing_meta = passing.select("doc_id", "lang", "len", "n_words").persist()

    # near-dup closure over the FILTERED corpus only (within-lang blocking
    # inside the pair build matches the oracle's a.lang = b.lang); r16:
    # identical-sketch contraction before the pair build + closure (see
    # bottomk_components — materialized eagerly, owns nothing)
    comps = bottomk_components(passing, k=8, threshold=0.99)

    surv = (
        comps.join(passing_meta.select(F.col("doc_id").alias("node"), "len"), "node")
        .groupBy("component")
        .agg(
            # survivor = argmax(len, tie: min doc_id) as a struct-min —
            # map-side combinable, no window over the group
            F.min(
                F.struct(
                    (-F.col("len")).alias("neg_len"), F.col("node").alias("d")
                )
            )["d"].alias("survivor")
        )
    )
    drops = (
        comps.join(surv, "component")
        .filter(F.col("node") != F.col("survivor"))
        .select(F.col("node").alias("doc_id"))
    )
    kept = passing_meta.join(drops, "doc_id", "left_anti")

    raw = d.groupBy(F.coalesce("lang", F.lit("")).alias("lang")).agg(
        F.count("*").cast("long").alias("n_raw")
    )
    qual = passing_meta.groupBy("lang").agg(
        F.count("*").cast("long").alias("n_quality")
    )
    keep = kept.groupBy("lang").agg(
        F.count("*").cast("long").alias("n_kept"),
        F.sum("n_words").cast("long").alias("words_kept"),
    )
    out = (
        raw.join(qual, "lang", "left")
        .join(keep, "lang", "left")
        .select(
            "lang",
            "n_raw",
            F.coalesce("n_quality", F.lit(0)).cast("long").alias("n_quality"),
            F.coalesce("n_kept", F.lit(0)).cast("long").alias("n_kept"),
            (
                F.coalesce("n_quality", F.lit(0)) - F.coalesce("n_kept", F.lit(0))
            )
            .cast("long")
            .alias("n_dupes_dropped"),
            F.coalesce("words_kept", F.lit(0)).cast("long").alias("words_kept"),
        )
    )
    return owns_caches(out, passing_meta)


# ONE spec for the quality-scored relation (doc_id, {key}, n_tokens,
# quality_score) — the scoring block all three mixing knobs (top-k per
# lang, per-source cap, token-budget mix) share; parameterized on the
# grouping column so a heuristic change cannot drift between them (the
# _BOTTOMK_PAIRS_CTE single-spec discipline).
def _scored_cte_sql(key: str) -> str:
    return f"""feats AS (
  SELECT doc_id, {key},
    len(string_split(text, ' ')) AS n_tokens,
    length(text) AS n_chars_m,
    len(list_filter(string_split(text, ' '),
        x -> x IN ({_STOP_SQL}))) AS n_stop
  FROM documents
),
scored AS (
  SELECT doc_id, {key}, n_tokens,
    (CASE WHEN n_tokens >= 10 THEN 0.5 ELSE 0.0 END)
      + (CASE WHEN CAST(n_stop AS DOUBLE) / n_tokens >= 0.05
              THEN 0.3 ELSE 0.0 END)
      + (CASE WHEN CAST(n_chars_m AS DOUBLE) / n_tokens BETWEEN 3.0 AND 12.0
              THEN 0.2 ELSE 0.0 END) AS quality_score
  FROM feats
)"""


def _quality_scored(d: DataFrame, key: str) -> DataFrame:
    """Spark twin of :func:`_scored_cte_sql` — row-local scoring, no
    shuffle, reads only (doc_id, {key}, text)."""
    toks = F.split("text", " ")
    n_tokens = F.size(toks)
    n_stop = F.size(F.filter(toks, lambda x: x.isin(*_STOPWORDS)))
    feats = d.select(
        "doc_id",
        key,
        n_tokens.alias("n_tokens"),
        F.length("text").alias("n_chars_m"),
        n_stop.alias("n_stop"),
    )
    stop_ratio = F.col("n_stop").cast("double") / F.col("n_tokens")
    avg_len = F.col("n_chars_m").cast("double") / F.col("n_tokens")
    score = (
        F.when(F.col("n_tokens") >= 10, 0.5).otherwise(0.0)
        + F.when(stop_ratio >= 0.05, 0.3).otherwise(0.0)
        + F.when((avg_len >= 3.0) & (avg_len <= 12.0), 0.2).otherwise(0.0)
    )
    return feats.select(
        "doc_id", key, "n_tokens", score.alias("quality_score")
    )


@register(
    "q_docs_top_quality_per_lang",
    oracle=f"""
WITH {_scored_cte_sql("lang")},
ranked AS (
  SELECT doc_id, lang, n_tokens, quality_score,
    ROW_NUMBER() OVER (
      PARTITION BY lang
      ORDER BY quality_score DESC, n_tokens DESC, doc_id ASC
    ) AS rnk
  FROM scored
)
SELECT lang, CAST(rnk AS INT) AS rnk, doc_id, quality_score,
  CAST(n_tokens AS INT) AS n_tokens
FROM ranked WHERE rnk <= 25
""",
    survey_ref=(
        "beyond-reference: per-group top-k curation (best-N docs per "
        "language by quality score) — the selection step after scoring"
    ),
)
def q_docs_top_quality_per_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-25 documents per language by quality score (same heuristic as
    text_quality_score), deterministic tie-breaks (score DESC, n_tokens
    DESC, doc_id ASC) so both engines rank identically.

    100-TB shape: a rank-limited window is NOT a full per-partition sort —
    Spark's WindowGroupLimit optimization (pinned in
    tests/test_plan_audit.py) pushes the rank<=k predicate below the
    window, keeping only k rows per group on each map task before the
    shuffle, so the exchanged data is bounded by k*|langs| per task, not
    the corpus."""
    from pyspark.sql import Window

    d = load(spark, sf_dir, "documents")
    scored = _quality_scored(d, "lang")
    w = Window.partitionBy("lang").orderBy(
        F.col("quality_score").desc(), F.col("n_tokens").desc(), F.col("doc_id").asc()
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter("rnk <= 25")
        .select("lang", "rnk", "doc_id", "quality_score", "n_tokens")
    )


_SOURCE_CAP_K = 10


@register(
    "q_docs_source_cap",
    oracle=f"""
WITH {_scored_cte_sql("source")},
ranked AS (
  SELECT doc_id, source, n_tokens, quality_score,
    ROW_NUMBER() OVER (
      PARTITION BY source
      ORDER BY quality_score DESC, n_tokens DESC, doc_id ASC
    ) AS rnk
  FROM scored
)
SELECT source, CAST(rnk AS INT) AS rnk, doc_id, quality_score,
  CAST(n_tokens AS INT) AS n_tokens
FROM ranked WHERE rnk <= {_SOURCE_CAP_K}
""",
    survey_ref=(
        "beyond-reference: exact-k per-source cap (data-mixing curation "
        "twin of q_docs_lang_rebalance) — hard cap of k best docs per "
        "source domain, WindowGroupLimit map-side prune"
    ),
)
def q_docs_source_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The OTHER standard mixing knob (VERDICT r8 gap #4): where
    `q_docs_lang_rebalance` downsamples strata at a RATE (deterministic
    hash threshold, binomial counts), this caps every source domain at
    EXACTLY k = {k} documents chosen by quality score — the curation shape
    for over-represented domains (one spammy site must not dominate the
    mix no matter how many pages it contributes). Deterministic tie-break
    (score DESC, n_tokens DESC, doc_id ASC) so both engines keep the same
    k.

    100-TB shape: `source` has million-scale cardinality, which is exactly
    when the rank-limited window must NOT be a full per-partition sort —
    Spark's WindowGroupLimit pushes rank <= k below the window, keeping k
    rows per source per map task before the shuffle (plan-pinned, same
    path as `q_docs_top_quality_per_lang`); exchanged bytes are bounded by
    k x |sources| per task, not the corpus. The rate-based rebalance stays
    the right tool when approximate proportions suffice (pure narrow
    filter, no shuffle at all) — this query is what EXACT-k costs.
    """
    from pyspark.sql import Window

    d = load(spark, sf_dir, "documents")
    scored = _quality_scored(d, "source")
    w = Window.partitionBy("source").orderBy(
        F.col("quality_score").desc(),
        F.col("n_tokens").desc(),
        F.col("doc_id").asc(),
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= _SOURCE_CAP_K)
        .select(
            "source",
            F.col("rnk").cast("int").alias("rnk"),
            "doc_id",
            "quality_score",
            F.col("n_tokens").cast("int").alias("n_tokens"),
        )
    )


q_docs_source_cap.__doc__ = q_docs_source_cap.__doc__.format(k=_SOURCE_CAP_K)


#: per-language token budget: sized to BITE at gate scale (sf0.01 languages
#: hold ~3-6k tokens each, so some docs are excluded) while still selecting
#: a nonempty prefix everywhere — and kept UNDER Spark's
#: spark.sql.optimizer.windowGroupLimitThreshold (1000), above which the
#: rank<=B map-side prune is not inserted
_MIX_TOKEN_BUDGET = 800


@register(
    "q_docs_token_budget_mix",
    oracle=f"""
WITH {_scored_cte_sql("lang")},
ranked AS (
  SELECT doc_id, lang, n_tokens, quality_score,
    ROW_NUMBER() OVER (
      PARTITION BY lang
      ORDER BY quality_score DESC, n_tokens DESC, doc_id ASC
    ) AS rnk
  FROM scored
),
capped AS (SELECT * FROM ranked WHERE rnk <= {_MIX_TOKEN_BUDGET}),
cum AS (
  SELECT lang, rnk, doc_id, quality_score, n_tokens,
    SUM(n_tokens) OVER (
      PARTITION BY lang ORDER BY rnk
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
    ) AS cum_tokens
  FROM capped
)
SELECT lang, CAST(rnk AS INT) AS rnk, doc_id, quality_score,
  CAST(n_tokens AS BIGINT) AS n_tokens,
  CAST(cum_tokens AS BIGINT) AS cum_tokens
FROM cum WHERE cum_tokens - n_tokens < {_MIX_TOKEN_BUDGET}
""",
    survey_ref=(
        "beyond-reference: token-budget mixture sampling — per-language "
        "greedy best-quality selection until a token budget (the THIRD "
        "mixing knob: rate-based rebalance / exact-k cap / token budget)"
    ),
)
def q_docs_token_budget_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The third standard mixing knob (VERDICT r9 task 4): each language
    greedily takes its best documents (quality DESC, n_tokens DESC,
    doc_id ASC — the shared deterministic order) until a TOKEN budget of
    {b} is exhausted: a doc is selected iff the tokens of its selected
    predecessors haven't filled the budget (the last pick may overshoot —
    the standard greedy-prefix contract, so the budget check is
    ``cum - n_tokens < B`` on the inclusive running sum). Where
    `q_docs_lang_rebalance` fixes PROPORTIONS and `q_docs_source_cap`
    fixes DOCUMENT counts, this fixes the unit training actually consumes:
    tokens.

    100-TB shape — two stacked windows over ONE exchange:
    - stage 1 ranks and immediately caps at rank <= B, a SEMANTIC NO-OP
      (every doc has >= 1 token, so at most B docs can ever fit the
      budget) whose sole purpose is enabling Spark's WindowGroupLimit:
      the corpus is pruned to B rows per language ON EACH MAP TASK before
      the shuffle — no full-corpus sort ever forms (plan-pinned);
    - stage 2 computes the running token sum over the pruned relation
      with the SAME partitioning (no second exchange — the plan pin
      asserts one) and applies the budget predicate;
    - output is bounded by B docs per language regardless of corpus size."""
    from pyspark.sql import Window

    d = load(spark, sf_dir, "documents")
    scored = _quality_scored(d, "lang")
    order = [
        F.col("quality_score").desc(),
        F.col("n_tokens").desc(),
        F.col("doc_id").asc(),
    ]
    w_rank = Window.partitionBy("lang").orderBy(*order)
    capped = (
        scored.withColumn("rnk", F.row_number().over(w_rank))
        .filter(F.col("rnk") <= _MIX_TOKEN_BUDGET)
    )
    w_cum = (
        Window.partitionBy("lang")
        .orderBy("rnk")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = capped.withColumn(
        "cum_tokens", F.sum("n_tokens").over(w_cum).cast("long")
    )
    return cum.filter(
        F.col("cum_tokens") - F.col("n_tokens") < _MIX_TOKEN_BUDGET
    ).select(
        "lang",
        F.col("rnk").cast("int").alias("rnk"),
        "doc_id",
        "quality_score",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        "cum_tokens",
    )


q_docs_token_budget_mix.__doc__ = q_docs_token_budget_mix.__doc__.format(
    b=_MIX_TOKEN_BUDGET
)


# --- r10: incremental-pipeline front door (snapshot diff) -------------------
#
# Snapshot derivation spec, shared verbatim by the Spark query and the
# DuckDB oracle: two overlapping 90% hash-selections of the corpus stand in
# for consecutive crawl snapshots, and a 10% hash-selection of the new side
# carries a deterministic ASCII revision marker (simulated in-place edit).
# All three memberships are md5-prefix thresholds on doc_id (the
# q_docs_sample_split discipline) so the fixture snapshots are identical in
# any engine, under any partitioning.
_SNAP_RATE_HEX = "e6666666"  # 90% keep rate per snapshot
_SNAP_REV_HEX = "1999999a"  # 10% of surviving new-side docs are revised


def _snap_key_sql(salt: str) -> str:
    return f"substr(md5('{salt}|' || CAST(doc_id AS VARCHAR)), 1, 8)"


def _snap_key(salt: str):
    return F.substring(
        F.md5(F.concat(F.lit(salt + "|"), F.col("doc_id").cast("string"))), 1, 8
    )


# --- r11: snapshot drift monitor (distribution shift between crawls) -------
#
# The monitoring companion of q_docs_snapshot_diff: before the delta feeds
# training, compare the STRATUM DISTRIBUTION of the two snapshots — a crawl
# whose language/source mix shifted (a big site went dark, a spam network
# appeared) should page a human even when every individual document is
# valid. Shares and the total-variation distance are exact integer milli
# units (1000*n // tot), so the whole report replays engine-for-engine
# with no float anywhere.
_DRIFT_FLAG_MILLI = 20  # page at > 2.0 percentage points of stratum shift


@register(
    "q_docs_snapshot_drift",
    oracle=f"""
WITH old_counts AS (
  SELECT COALESCE(lang, 'und') AS lang_k, COUNT(*) AS n_old
  FROM documents WHERE {{snapold}} < '{_SNAP_RATE_HEX}' GROUP BY 1
),
new_counts AS (
  SELECT COALESCE(lang, 'und') AS lang_k, COUNT(*) AS n_new
  FROM documents WHERE {{snapnew}} < '{_SNAP_RATE_HEX}' GROUP BY 1
),
joined AS (
  SELECT COALESCE(o.lang_k, n.lang_k) AS lang,
    COALESCE(o.n_old, 0) AS n_old, COALESCE(n.n_new, 0) AS n_new
  FROM old_counts o FULL OUTER JOIN new_counts n ON o.lang_k = n.lang_k
),
tot AS (SELECT SUM(n_old) AS t_old, SUM(n_new) AS t_new FROM joined),
shares AS (
  SELECT j.lang, j.n_old, j.n_new,
    CASE WHEN t.t_old > 0 THEN (1000 * j.n_old) // t.t_old ELSE 0 END
      AS share_old_milli,
    CASE WHEN t.t_new > 0 THEN (1000 * j.n_new) // t.t_new ELSE 0 END
      AS share_new_milli
  FROM joined j CROSS JOIN tot t
),
tv AS (
  SELECT SUM(ABS(share_new_milli - share_old_milli)) // 2 AS tv_milli
  FROM shares
)
SELECT s.lang, CAST(s.n_old AS BIGINT) AS n_old,
  CAST(s.n_new AS BIGINT) AS n_new,
  CAST(s.share_old_milli AS BIGINT) AS share_old_milli,
  CAST(s.share_new_milli AS BIGINT) AS share_new_milli,
  CAST(ABS(s.share_new_milli - s.share_old_milli) AS BIGINT) AS drift_milli,
  ABS(s.share_new_milli - s.share_old_milli) > {_DRIFT_FLAG_MILLI}
    AS drifted,
  CAST(t.tv_milli AS BIGINT) AS tv_milli
FROM shares s CROSS JOIN tv t
""".format(snapold=_snap_key_sql("snapold"), snapnew=_snap_key_sql("snapnew")),
    survey_ref=(
        "beyond-reference: snapshot drift monitor — per-stratum share "
        "shift and total-variation distance between two crawl snapshots, "
        "exact integer milli units; the monitoring companion of "
        "q_docs_snapshot_diff"
    ),
)
def q_docs_snapshot_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-shift report between two corpus snapshots (the same
    hash-derived pair as `q_docs_snapshot_diff` — in production, two
    parquet roots): one row per language stratum with old/new counts,
    exact milli shares (``1000*n // total``), the per-stratum drift
    magnitude, a page-worthy flag at > {flag} milli (2 percentage
    points), and the corpus-level total-variation distance carried on
    every row. All integer arithmetic — no float enters the report.

    100-TB shape: two narrow hash filters feed two tiny
    partial-aggregating groupBys (bounded lang domain — L rows cross the
    exchange, never documents); the stratum join, totals and TV are
    L-row operations; nothing else touches the corpus, and only
    (doc_id, lang) is ever read."""
    d = load(spark, sf_dir, "documents").select("doc_id", "lang")
    lang_k = F.coalesce(F.col("lang"), F.lit("und"))
    old = (
        d.filter(_snap_key("snapold") < _SNAP_RATE_HEX)
        .groupBy(lang_k.alias("lang_k"))
        .agg(F.count("*").alias("n_old"))
    )
    new = (
        d.filter(_snap_key("snapnew") < _SNAP_RATE_HEX)
        .groupBy(lang_k.alias("lang_k"))
        .agg(F.count("*").alias("n_new"))
    )
    joined = old.join(new, "lang_k", "full").select(
        F.col("lang_k").alias("lang"),
        F.coalesce("n_old", F.lit(0)).alias("n_old"),
        F.coalesce("n_new", F.lit(0)).alias("n_new"),
    )
    tot = joined.agg(
        F.sum("n_old").alias("t_old"), F.sum("n_new").alias("t_new")
    ).limit(1)
    # integer DIV, not double `/`+cast: at stratum totals beyond ~2^40 a
    # correctly-rounded double quotient can land one ulp above an integer
    # and truncate differently from the oracle's exact `//`
    share = lambda n, t: F.when(  # noqa: E731
        F.col(t) > 0, F.expr(f"(1000 * {n}) DIV {t}")
    ).otherwise(F.lit(0).cast("bigint"))
    shares = joined.crossJoin(F.broadcast(tot)).select(
        "lang",
        "n_old",
        "n_new",
        share("n_old", "t_old").alias("share_old_milli"),
        share("n_new", "t_new").alias("share_new_milli"),
    )
    tv = shares.agg(
        F.expr(
            "SUM(ABS(share_new_milli - share_old_milli)) DIV 2"
        ).alias("tv_milli")
    ).limit(1)
    drift = F.abs(F.col("share_new_milli") - F.col("share_old_milli"))
    return shares.crossJoin(F.broadcast(tv)).select(
        "lang",
        F.col("n_old").cast("bigint").alias("n_old"),
        F.col("n_new").cast("bigint").alias("n_new"),
        F.col("share_old_milli").cast("bigint").alias("share_old_milli"),
        F.col("share_new_milli").cast("bigint").alias("share_new_milli"),
        drift.cast("bigint").alias("drift_milli"),
        (drift > _DRIFT_FLAG_MILLI).alias("drifted"),
        "tv_milli",
    )


q_docs_snapshot_drift.__doc__ = q_docs_snapshot_drift.__doc__.format(
    flag=_DRIFT_FLAG_MILLI
)


@register(
    "q_docs_snapshot_diff",
    oracle=f"""
WITH old_snap AS (
  SELECT doc_id, COALESCE(md5(text), '<NULL>') AS fp
  FROM documents
  WHERE {_snap_key_sql("snapold")} < '{_SNAP_RATE_HEX}'
),
new_snap AS (
  SELECT doc_id,
    COALESCE(md5(CASE WHEN {_snap_key_sql("snaprev")} < '{_SNAP_REV_HEX}'
                      THEN text || ' [rev2]' ELSE text END),
             '<NULL>') AS fp
  FROM documents
  WHERE {_snap_key_sql("snapnew")} < '{_SNAP_RATE_HEX}'
)
SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id,
  CASE WHEN o.doc_id IS NULL THEN 'added'
       WHEN n.doc_id IS NULL THEN 'removed'
       ELSE 'changed' END AS status,
  o.fp AS old_fp, n.fp AS new_fp
FROM old_snap o FULL OUTER JOIN new_snap n ON o.doc_id = n.doc_id
WHERE o.doc_id IS NULL OR n.doc_id IS NULL OR o.fp <> n.fp
""",
    survey_ref=(
        "beyond-reference: snapshot diff (crawl delta) — the incremental "
        "pipeline's front door: added/removed/changed docs between two "
        "corpus snapshots, emitting ONLY the delta; feeds "
        "dedup_incremental_minhash's new-batch side"
    ),
)
def q_docs_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl-delta extraction: given two corpus snapshots, emit one row per
    doc that was ``added`` (new only), ``removed`` (old only), or
    ``changed`` (both sides, content fingerprint differs) — and NOTHING
    for unchanged docs, so the output is Δ-sized, not corpus-sized. This
    is the front door of every incremental pipeline: the delta (added +
    changed) is exactly what `dedup_incremental_minhash` / incremental
    scoring consume, and `removed` drives index retirement. Fingerprints
    are null-safe (``md5(text)`` coalesced to a sentinel), so a doc whose
    text is NULL in both snapshots is never spuriously 'changed'.

    The two snapshots are hash-derived from the one fixture corpus (spec
    shared with the oracle: `_snap_key_sql`/`_snap_key`); in production
    they are two parquet roots and the derivation filters disappear —
    the OPERATOR under test is the delta join.

    100-TB shape: fingerprints are computed in the SCAN stage (map-side
    md5), so the full-outer sort-merge join moves (bigint, 32-byte fp)
    pairs — the text column never shuffles; the join key (doc_id) is
    unique on both sides, so no skew is possible; the unchanged-row
    filter sits directly on the join so the Δ-sized result is what hits
    downstream; scans read only (doc_id, text)."""
    d = load(spark, sf_dir, "documents").select("doc_id", "text")
    old = d.filter(_snap_key("snapold") < _SNAP_RATE_HEX).select(
        "doc_id", F.coalesce(F.md5("text"), F.lit("<NULL>")).alias("fp")
    )
    revised = _snap_key("snaprev") < _SNAP_REV_HEX
    new_text = F.when(
        revised, F.concat(F.col("text"), F.lit(" [rev2]"))
    ).otherwise(F.col("text"))
    new = d.filter(_snap_key("snapnew") < _SNAP_RATE_HEX).select(
        "doc_id", F.coalesce(F.md5(new_text), F.lit("<NULL>")).alias("fp")
    )
    j = old.alias("o").join(
        new.alias("n"), F.col("o.doc_id") == F.col("n.doc_id"), "full_outer"
    )
    return j.filter(
        F.col("o.doc_id").isNull()
        | F.col("n.doc_id").isNull()
        | (F.col("o.fp") != F.col("n.fp"))
    ).select(
        F.coalesce("o.doc_id", "n.doc_id").alias("doc_id"),
        F.when(F.col("o.doc_id").isNull(), "added")
        .when(F.col("n.doc_id").isNull(), "removed")
        .otherwise("changed")
        .alias("status"),
        F.col("o.fp").alias("old_fp"),
        F.col("n.fp").alias("new_fp"),
    )


# --- r10: deterministic global shuffle (training order) ---------------------

#: shard count for the training-order shuffle. At gate scale 8 keeps every
#: shard non-trivially populated; in production this is sized to the target
#: output-file count (e.g. corpus_bytes / 1 GB), which is what bounds the
#: per-shard sort.
_ORDER_SHARDS = 8


@register(
    "q_docs_training_order",
    oracle=f"""
WITH keyed AS (
  SELECT doc_id,
    ('0x' || substr(md5('order|' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
      % {_ORDER_SHARDS} AS shard_id,
    substr(md5('order|' || CAST(doc_id AS VARCHAR)), 9, 16) AS ord_key
  FROM documents
)
SELECT CAST(shard_id AS INT) AS shard_id,
  CAST(ROW_NUMBER() OVER (
    PARTITION BY shard_id ORDER BY ord_key, doc_id
  ) AS INT) AS pos,
  doc_id, ord_key
FROM keyed
""",
    survey_ref=(
        "beyond-reference: deterministic global shuffle — reproducible "
        "training order (shard assignment + within-shard position) as a "
        "pure function of doc identity"
    ),
)
def q_docs_training_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reproducible training-order shuffle: every doc gets a shard and a
    position within that shard, both pure functions of ``doc_id`` — the
    SAME order regardless of partitioning, cluster size, retries, or
    engine (the oracle replays it bit-for-bit). One md5 supplies both
    coordinates (hex 1-8 → shard, hex 9-24 → within-shard sort key), so
    the order is uncorrelated with ingest order, doc_id locality, or any
    content column — the 'global shuffle' guarantee training-data builds
    need before sharded sequential reads. ``rand()``-based shuffles give
    none of that (non-reproducible across retries; seed-per-partition
    pitfalls).

    100-TB shape: exactly ONE exchange (hash on shard_id) followed by an
    in-partition sort — i.e. a sorted shuffle write, the minimum any
    global shuffle must pay; `_ORDER_SHARDS` is sized to the output-file
    count in production (corpus_bytes / file_size), which bounds each
    per-shard sort to one file's worth of (bigint, 16-byte key) pairs —
    the text itself never moves until the final write joins it back by
    doc_id within the already-sharded files; scans read only doc_id."""
    d = load(spark, sf_dir, "documents")
    h = F.md5(F.concat(F.lit("order|"), F.col("doc_id").cast("string")))
    keyed = d.select(
        "doc_id",
        (F.conv(F.substring(h, 1, 8), 16, 10).cast("bigint") % _ORDER_SHARDS)
        .cast("int")
        .alias("shard_id"),
        F.substring(h, 9, 16).alias("ord_key"),
    )
    from pyspark.sql import Window

    w = Window.partitionBy("shard_id").orderBy("ord_key", "doc_id")
    return keyed.select(
        "shard_id",
        F.row_number().over(w).cast("int").alias("pos"),
        "doc_id",
        "ord_key",
    )


# --- r10: corpus-level quality-quantile gate --------------------------------
#
# "Keep the best 30% of the corpus" — a GLOBAL quantile threshold, the
# complement of the per-group knobs (top-k per lang, per-source cap,
# token-budget mix). Selection key and quality conditions mirror
# `_scored_cte_sql` exactly (same three heuristics), expressed as integer
# POINTS (5/3/2) so the histogram key is an exact integer in both engines;
# the secondary length coordinate makes the threshold fine-grained without
# a global sort: rank_key = pts * 1000 + min(n_tokens, 999).
_GATE_KEEP_NUM, _GATE_KEEP_DEN = 3, 10  # keep fraction as exact integers


def _pts_cte_sql(key: str) -> str:
    """Integer-points twin of :func:`_scored_cte_sql` (same three
    heuristics, 5/3/2 points instead of 0.5/0.3/0.2) — shared by the
    quantile gate and the domain filter so "quality" means ONE thing
    across every knob that thresholds it exactly."""
    return f"""feats AS (
  SELECT doc_id, {key},
    len(string_split(text, ' ')) AS n_tokens,
    length(text) AS n_chars_m,
    len(list_filter(string_split(text, ' '),
        x -> x IN ({_STOP_SQL}))) AS n_stop
  FROM documents
),
gscored AS (
  SELECT doc_id, {key}, n_tokens,
    (CASE WHEN n_tokens >= 10 THEN 5 ELSE 0 END)
      + (CASE WHEN CAST(n_stop AS DOUBLE) / n_tokens >= 0.05
              THEN 3 ELSE 0 END)
      + (CASE WHEN CAST(n_chars_m AS DOUBLE) / n_tokens BETWEEN 3.0 AND 12.0
              THEN 2 ELSE 0 END) AS pts
  FROM feats
)"""


def _pts_scored(d: DataFrame, key: str) -> DataFrame:
    """Spark twin of :func:`_pts_cte_sql` — row-local integer scoring, no
    shuffle, reads only (doc_id, {key}, text)."""
    toks = F.split("text", " ")
    n_tokens = F.size(toks)
    n_stop = F.size(F.filter(toks, lambda x: x.isin(*_STOPWORDS)))
    feats = d.select(
        "doc_id",
        key,
        n_tokens.alias("n_tokens"),
        F.length("text").alias("n_chars_m"),
        n_stop.alias("n_stop"),
    )
    stop_ratio = F.col("n_stop").cast("double") / F.col("n_tokens")
    avg_len = F.col("n_chars_m").cast("double") / F.col("n_tokens")
    pts = (
        F.when(F.col("n_tokens") >= 10, 5).otherwise(0)
        + F.when(stop_ratio >= 0.05, 3).otherwise(0)
        + F.when((avg_len >= 3.0) & (avg_len <= 12.0), 2).otherwise(0)
    )
    return feats.select("doc_id", key, "n_tokens", pts.alias("pts"))


_GATE_SCORED_SQL = f"""{_pts_cte_sql("lang")},
keyed AS (
  SELECT doc_id, lang, n_tokens, pts,
    pts * 1000 + LEAST(n_tokens, 999) AS rank_key
  FROM gscored
)"""


@register(
    "q_docs_quality_quantile_gate",
    oracle=f"""
WITH {_GATE_SCORED_SQL},
hist AS (SELECT rank_key, COUNT(*) AS cnt FROM keyed GROUP BY rank_key),
cum AS (
  SELECT rank_key,
    SUM(cnt) OVER (ORDER BY rank_key DESC ROWS UNBOUNDED PRECEDING) AS cum,
    SUM(cnt) OVER () AS tot
  FROM hist
),
thr AS (
  SELECT MIN(rank_key) AS threshold_key FROM cum
  WHERE cum <= ({_GATE_KEEP_NUM} * tot) // {_GATE_KEEP_DEN}
)
SELECT k.doc_id, k.lang, CAST(k.n_tokens AS INT) AS n_tokens,
  CAST(k.pts AS INT) AS pts, CAST(k.rank_key AS INT) AS rank_key,
  CAST(t.threshold_key AS INT) AS threshold_key
FROM keyed k, thr t WHERE k.rank_key >= t.threshold_key
""",
    survey_ref=(
        "beyond-reference: corpus-level quality-quantile gate — keep the "
        "globally best fraction by an exact histogram-CDF threshold, no "
        "global sort"
    ),
)
def q_docs_quality_quantile_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global quantile gate: keep the best ~{num}/{den} of the corpus by
    quality, where the selection key is (quality points, doc length) —
    exact and integer-valued, so both engines derive the identical
    threshold. The threshold is the smallest ``rank_key`` whose
    top-down cumulative count fits the budget ``(3 * n) div 10``; every
    doc at-or-above it survives (bucket-granular — never splits a tie
    bucket, so the kept set is a pure function of the data, not of row
    order). If even the top bucket exceeds the budget the gate keeps
    nothing (degenerate all-identical corpus; the edge suite pins it).

    100-TB shape: NO global sort — the CDF comes from a histogram
    groupBy over the bounded integer key domain (<= ~11k buckets:
    points x capped length), which partial-aggregates map-side to
    near-nothing; the single-partition cumulative window runs over that
    bounded histogram, never over rows; the 1-row threshold broadcasts
    back (explicit `.limit(1)` documents the fixed cardinality) and the
    keep pass is a narrow filter. Two corpus scans total (score-for-
    histogram, score-for-filter) — the irreducible cost of any global
    threshold; at scale the scored relation is typically already
    materialized by the scoring stage."""
    d = load(spark, sf_dir, "documents")
    keyed = _pts_scored(d, "lang").select(
        "doc_id",
        "lang",
        "n_tokens",
        "pts",
        (F.col("pts") * 1000 + F.least(F.col("n_tokens"), F.lit(999))).alias(
            "rank_key"
        ),
    )
    from pyspark.sql import Window

    hist = keyed.groupBy("rank_key").agg(F.count("*").alias("cnt"))
    w_cum = (
        Window.orderBy(F.col("rank_key").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_all = Window.partitionBy()
    thr = (
        hist.select(
            "rank_key",
            F.sum("cnt").over(w_cum).alias("cum"),
            F.sum("cnt").over(w_all).alias("tot"),
        )
        .filter(
            F.col("cum")
            <= F.expr(f"({_GATE_KEEP_NUM} * tot) div {_GATE_KEEP_DEN}")
        )
        .agg(F.min("rank_key").alias("threshold_key"))
        .limit(1)
    )
    return (
        keyed.crossJoin(F.broadcast(thr))
        .filter(F.col("rank_key") >= F.col("threshold_key"))
        .select(
            "doc_id",
            "lang",
            F.col("n_tokens").cast("int").alias("n_tokens"),
            F.col("pts").cast("int").alias("pts"),
            F.col("rank_key").cast("int").alias("rank_key"),
            F.col("threshold_key").cast("int").alias("threshold_key"),
        )
    )


q_docs_quality_quantile_gate.__doc__ = q_docs_quality_quantile_gate.__doc__.format(
    num=_GATE_KEEP_NUM, den=_GATE_KEEP_DEN
)


# --- r10: source-level (domain) filtering -----------------------------------
#
# The RefinedWeb/C4-family domain blocklist pass: aggregate doc-level
# quality per SOURCE, then keep or drop whole sources — the complement of
# every per-doc knob above (a doc from a spam farm is dropped even when it
# individually scores well, because curation trusts provenance statistics
# over single-doc heuristics). The verdict is pure integer arithmetic
# (sum_pts * DEN >= THRESH_NUM * n_docs), so no double comparison ever
# sits near a tie.
_DOMAIN_MIN_DOCS = 5  # below this, a source has too little evidence: drop
_DOMAIN_MEAN_NUM, _DOMAIN_MEAN_DEN = 89, 10  # keep iff mean pts >= 8.9


@register(
    "q_docs_domain_filter",
    oracle=f"""
WITH {_pts_cte_sql("source")},
card AS (
  SELECT source, COUNT(*) AS src_n_docs, SUM(pts) AS src_sum_pts
  FROM gscored GROUP BY source
)
SELECT g.doc_id, g.source,
  CAST(c.src_n_docs AS BIGINT) AS src_n_docs,
  CAST(c.src_sum_pts AS DOUBLE) / c.src_n_docs AS src_mean_pts,
  (c.src_n_docs >= {_DOMAIN_MIN_DOCS}
   AND c.src_sum_pts * {_DOMAIN_MEAN_DEN}
       >= {_DOMAIN_MEAN_NUM} * c.src_n_docs) AS src_kept
FROM gscored g JOIN card c USING (source)
""",
    survey_ref=(
        "beyond-reference: source-level filtering — per-domain quality "
        "scorecard drives a whole-source keep/drop verdict (the "
        "RefinedWeb-family blocklist pass)"
    ),
)
def q_docs_domain_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-level curation: score every doc (the shared integer-points
    spec), aggregate a per-source scorecard (doc count, mean points), and
    emit one verdict row per doc — ``src_kept`` is true iff the doc's
    source has enough evidence (>= {min_docs} docs) AND a mean score of
    at least {num}/{den} points. Downstream drops with
    ``WHERE src_kept`` or audits the scorecard columns directly.

    100-TB shape: the scorecard is a partial-aggregating groupBy — the
    shuffle carries (source, count, sum) triples, one per source per map
    task, never rows; the corpus side of the verdict join carries only
    (doc_id, source) — text is scanned once, in the scorecard pass, and
    never moves; the scorecard side is domains-sized (millions of rows at
    web scale, KB-to-MB serialized), so AQE picks a broadcast join at
    runtime — the plan pins that neither side ever carries text. The
    keep/drop rule is exact integer arithmetic, identical in any engine.
    """
    d = load(spark, sf_dir, "documents")
    scored = _pts_scored(d, "source")
    card = scored.groupBy("source").agg(
        F.count("*").alias("src_n_docs"),
        F.sum("pts").alias("src_sum_pts"),
    )
    kept = (F.col("src_n_docs") >= _DOMAIN_MIN_DOCS) & (
        F.col("src_sum_pts") * _DOMAIN_MEAN_DEN
        >= F.col("src_n_docs") * _DOMAIN_MEAN_NUM
    )
    return (
        d.select("doc_id", "source")
        .join(card, "source")
        .select(
            "doc_id",
            "source",
            F.col("src_n_docs").cast("bigint").alias("src_n_docs"),
            (
                F.col("src_sum_pts").cast("double") / F.col("src_n_docs")
            ).alias("src_mean_pts"),
            kept.alias("src_kept"),
        )
    )


q_docs_domain_filter.__doc__ = q_docs_domain_filter.__doc__.format(
    min_docs=_DOMAIN_MIN_DOCS, num=_DOMAIN_MEAN_NUM, den=_DOMAIN_MEAN_DEN
)


# --- r10: mixture recipe (epoch scheduling) ---------------------------------
#
# The data-recipe computation every epoch-weighted training run performs
# BEFORE sampling: given per-stratum token inventories and target mixture
# weights, how large can the total token budget be before some stratum
# exceeds its repetition cap, and how many epochs of each stratum does the
# chosen budget imply? Uniform target weights keep the whole computation
# data-derived and exact-integer (weight 1/L each, L = #strata); the cap
# is {_RECIPE_MAX_EPOCHS} epochs (the "repeat small high-quality subsets
# up to ~4x" rule of thumb).
_RECIPE_MAX_EPOCHS = 4


@register(
    "q_docs_mixture_recipe",
    oracle=f"""
WITH avail AS (
  SELECT COALESCE(lang, 'und') AS stratum,
    SUM(len(string_split(text, ' '))) AS avail_tokens
  FROM documents GROUP BY 1
),
counted AS (
  SELECT stratum, avail_tokens, COUNT(*) OVER () AS n_strata FROM avail
),
sized AS (
  SELECT stratum, avail_tokens, n_strata,
    MIN(avail_tokens * {_RECIPE_MAX_EPOCHS} * n_strata) OVER ()
      AS budget_total
  FROM counted
)
SELECT stratum, CAST(avail_tokens AS BIGINT) AS avail_tokens,
  CAST(n_strata AS INT) AS n_strata,
  CAST(budget_total AS BIGINT) AS budget_total,
  CAST(budget_total // n_strata AS BIGINT) AS target_tokens,
  CAST((budget_total // n_strata) * 1000 // avail_tokens AS BIGINT)
    AS epochs_milli
FROM sized
""",
    survey_ref=(
        "beyond-reference: mixture recipe / epoch scheduling — per-stratum "
        "token targets and repetition factors for a uniform target mix "
        "under a max-epochs cap"
    ),
)
def q_docs_mixture_recipe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Epoch-weighted data recipe: per language stratum (NULL -> 'und'),
    the available token inventory, the largest total budget for which no
    stratum under a uniform target mix repeats more than
    {max_epochs} epochs (``budget_total = min_l(avail_l * E * L)``), the
    implied per-stratum token target (``budget_total div L``) and the
    repetition factor in milli-epochs (``target * 1000 div avail``) —
    every derived column is integer arithmetic on exact token counts, so
    the recipe is engine-identical and auditable.

    100-TB shape: the corpus collapses to L rows in ONE partial-
    aggregating groupBy (the shuffle carries per-task (lang, count)
    partials); all recipe math then runs on the L-row relation — the
    windows are single-partition by construction but over L rows, never
    the corpus (the plan pin asserts exactly one corpus-wide exchange).
    """
    d = load(spark, sf_dir, "documents")
    from pyspark.sql import Window

    avail = (
        d.select(
            F.coalesce("lang", F.lit("und")).alias("stratum"),
            F.size(F.split("text", " ")).alias("n_tokens"),
        )
        .groupBy("stratum")
        .agg(F.sum("n_tokens").alias("avail_tokens"))
    )
    w = Window.partitionBy()
    counted = avail.select(
        "stratum",
        "avail_tokens",
        F.count("*").over(w).alias("n_strata"),
    )
    sized = counted.select(
        "stratum",
        "avail_tokens",
        "n_strata",
        F.min(
            F.col("avail_tokens") * _RECIPE_MAX_EPOCHS * F.col("n_strata")
        ).over(w).alias("budget_total"),
    )
    target = F.expr("budget_total div n_strata")
    return sized.select(
        "stratum",
        F.col("avail_tokens").cast("bigint").alias("avail_tokens"),
        F.col("n_strata").cast("int").alias("n_strata"),
        F.col("budget_total").cast("bigint").alias("budget_total"),
        target.cast("bigint").alias("target_tokens"),
        F.expr(
            "(budget_total div n_strata) * 1000 div avail_tokens"
        ).cast("bigint").alias("epochs_milli"),
    )


q_docs_mixture_recipe.__doc__ = q_docs_mixture_recipe.__doc__.format(
    max_epochs=_RECIPE_MAX_EPOCHS
)


# --- r11: eval-budget allocation + drill-down inventory ---------------------


@register(
    "q_docs_neyman_allocation",
    oracle=f"""
WITH {{pts}},
strata AS (
  SELECT COALESCE(lang, 'und') AS stratum,
         COUNT(*) AS n_docs,
         SUM(CAST(pts AS BIGINT)) AS s1,
         SUM(CAST(pts AS BIGINT) * CAST(pts AS BIGINT)) AS s2
  FROM gscored GROUP BY 1
),
wts AS (
  SELECT stratum, n_docs,
         CAST(floor(sqrt(CAST(n_docs * s2 - s1 * s1 AS DOUBLE))) AS BIGINT) AS w
  FROM strata
),
tot AS (SELECT SUM(w) AS tw FROM wts),
base AS (
  SELECT stratum, n_docs, w,
         CASE WHEN tw > 0 THEN (1000 * w) // tw ELSE 0 END AS a0,
         CASE WHEN tw > 0 THEN (1000 * w) % tw ELSE 0 END AS rem,
         tw
  FROM wts, tot
),
ranked AS (
  SELECT *,
         ROW_NUMBER() OVER (ORDER BY rem DESC, stratum ASC) AS rk,
         CASE WHEN tw > 0 THEN 1000 - SUM(a0) OVER () ELSE 0 END AS leftover
  FROM base
)
SELECT stratum, CAST(n_docs AS BIGINT) AS n_docs, w AS sigma_w,
       CAST(LEAST(a0 + CASE WHEN rk <= leftover THEN 1 ELSE 0 END,
                  n_docs) AS BIGINT) AS alloc
FROM ranked
""".format(pts=_pts_cte_sql("lang")),
    survey_ref=(
        "beyond-reference: Neyman eval/labeling-budget allocation — "
        "per-stratum n*sigma weights from exact integer moments, "
        "largest-remainder integer apportionment"
    ),
)
def q_docs_neyman_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neyman allocation of a 1000-sample labeling/eval budget across
    language strata: stratum l gets budget ∝ n_l·σ_l of its integer
    quality points — the minimum-variance allocation for stratified
    estimation, the budget knob an annotation or eval pipeline runs
    before sampling. n_l·σ_l = sqrt(n·Σx² − (Σx)²) folds BOTH stats into
    ONE square root of an exact BIGINT: the moments are exact integer
    sums, the lone sqrt is IEEE-correctly-rounded in both engines (the
    `q_docs_alpha_mixture` discipline — no exp/log ever runs), and
    apportionment is pure integer largest-remainder with a deterministic
    (remainder DESC, stratum ASC) tie-break. A zero-variance corpus
    allocates nothing (w ≡ 0 ⇒ no stratum earns samples — pinned); a
    stratum is capped at its own size with no reallocation (documented:
    the cap binding means the budget exceeds the stratum, a config
    smell surfaced by alloc < a0+carry in the result).

    100-TB shape: one narrow map-stage scoring pass (the shared
    `_pts_scored` spec — row-local, no UDF) into a partial-aggregating
    groupBy on the language key: ONE corpus exchange producing L rows.
    The total/rank/leftover windows run over those L rows only —
    single-partition by construction and ~|languages| in size, never
    corpus-sized."""
    from pyspark.sql import Window

    scored = _pts_scored(load(spark, sf_dir, "documents"), "lang")
    strata = (
        scored.groupBy(
            F.coalesce("lang", F.lit("und")).alias("stratum")
        ).agg(
            F.count("*").alias("n_docs"),
            F.sum(F.col("pts").cast("bigint")).alias("s1"),
            F.sum(
                F.col("pts").cast("bigint") * F.col("pts").cast("bigint")
            ).alias("s2"),
        )
    )
    wts = strata.select(
        "stratum",
        "n_docs",
        F.floor(
            F.sqrt(
                (F.col("n_docs") * F.col("s2") - F.col("s1") * F.col("s1"))
                .cast("double")
            )
        ).cast("bigint").alias("w"),
    )
    all_w = Window.partitionBy()
    base = wts.select(
        "stratum",
        "n_docs",
        "w",
        F.sum("w").over(all_w).alias("tw"),
    ).select(
        "stratum",
        "n_docs",
        "w",
        "tw",
        F.when(F.col("tw") > 0, F.expr("(1000 * w) div tw"))
        .otherwise(F.lit(0)).cast("bigint").alias("a0"),
        F.when(F.col("tw") > 0, F.expr("(1000 * w) % tw"))
        .otherwise(F.lit(0)).cast("bigint").alias("rem"),
    )
    rk_w = Window.orderBy(F.col("rem").desc(), F.col("stratum").asc())
    ranked = base.select(
        "stratum",
        "n_docs",
        "w",
        "a0",
        F.row_number().over(rk_w).alias("rk"),
        F.when(
            F.col("tw") > 0, F.lit(1000) - F.sum("a0").over(all_w)
        ).otherwise(F.lit(0)).alias("leftover"),
    )
    return ranked.select(
        "stratum",
        F.col("n_docs").cast("bigint").alias("n_docs"),
        F.col("w").alias("sigma_w"),
        F.least(
            F.col("a0")
            + F.when(F.col("rk") <= F.col("leftover"), 1).otherwise(0),
            F.col("n_docs"),
        ).cast("bigint").alias("alloc"),
    )


@register(
    "q_docs_inventory_cube",
    oracle="""
SELECT CAST(GROUPING(stratum) * 2 + GROUPING(src) AS INTEGER) AS gid,
       stratum, src,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS total_tokens
FROM (
  SELECT COALESCE(lang, 'und') AS stratum,
         COALESCE(source, 'unk') AS src,
         len(string_split(text, ' ')) AS n_tokens
  FROM documents
)
GROUP BY CUBE (stratum, src)
""",
    survey_ref=(
        "beyond-reference: CUBE drill-down inventory (grouping-sets "
        "family; rollup's sibling q_orders_rollup)"
    ),
)
def q_docs_inventory_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus inventory at every drill-down level in one pass:
    CUBE(lang, source) emits the (lang,source) cells, both marginals, and
    the grand total — the report a mixture design reads before setting
    rates. The grouping_id column disambiguates a data value that is
    genuinely NULL from a CUBE subtotal row (and NULL data keys are
    additionally coalesced to 'und'/'unk' first, so no ambiguity
    survives either way).

    100-TB shape: Spark expands the cube map-side and partial-aggregates
    all 4 grouping sets in one exchange whose key domain is
    |langs|·|sources| + |langs| + |sources| + 1 — bounded by metadata
    cardinality, not corpus size; token counting is the shared
    whitespace spec, row-local."""
    d = load(spark, sf_dir, "documents").select(
        F.coalesce("lang", F.lit("und")).alias("stratum"),
        F.coalesce("source", F.lit("unk")).alias("src"),
        F.size(F.split("text", " ")).alias("n_tokens"),
    )
    return (
        d.cube("stratum", "src")
        .agg(
            F.grouping_id().cast("int").alias("gid"),
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("total_tokens"),
        )
        .select("gid", "stratum", "src", "n_docs", "total_tokens")
    )


# --- r11: quality-proportional deterministic sampling -----------------------

#: keep-probability per integer quality score: p = pts²/100 (quadratic
#: up-weighting of high-quality docs, the DSIR-flavoured knob), rendered
#: once in Python as the exact floor(p * 2^32) 8-hex-digit thresholds BOTH
#: engines compare against — the `q_docs_alpha_mixture` discipline. pts=10
#: (p=1) keeps unconditionally via an explicit branch so the top stratum
#: is exactly-all, not all-but-2^-32.
_QWS_SALT = "qws|"
_QWS_PTS = [0, 2, 3, 5, 7, 8, 10]
_QWS_THRESHOLDS = {
    p: format((p * p * (1 << 32)) // 100, "08x") for p in _QWS_PTS if p < 10
}


def _qws_case_sql() -> str:
    arms = " ".join(
        f"WHEN pts = {p} THEN sample_key < '{t}'"
        for p, t in sorted(_QWS_THRESHOLDS.items())
    )
    return f"CASE WHEN pts = 10 THEN TRUE {arms} ELSE FALSE END"


@register(
    "q_docs_quality_weighted_sample",
    oracle=f"""
WITH {_pts_cte_sql("lang")},
keyed AS (
  SELECT doc_id, lang, pts,
    substr(md5('{_QWS_SALT}' || CAST(doc_id AS VARCHAR)), 1, 8) AS sample_key
  FROM gscored
)
SELECT doc_id, lang, CAST(pts AS INTEGER) AS pts, sample_key
FROM keyed
WHERE {_qws_case_sql()}
""",
    survey_ref=(
        "beyond-reference: quality-proportional deterministic sampling — "
        "keep probability pts²/100 via exact hex hash thresholds, "
        "zero-exchange row-local membership"
    ),
)
def q_docs_quality_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-PROPORTIONAL sampling (the DSIR-flavoured knob): instead
    of a hard quality cutoff, every document keeps a chance proportional
    to pts² — high-quality docs dominate the sample while mid-quality
    mass still contributes diversity. Membership is the hash-threshold
    discipline (`q_docs_sample_split`): doc-keyed md5 under a
    domain-separated salt, compared against per-score thresholds
    rendered ONCE in Python as exact floor(pts²/100 · 2^32) hex literals
    baked into BOTH engines — reproducible under any partitioning,
    retry, cluster size, or engine; pts=0 can never enter, pts=10
    always does (an explicit branch, so the top stratum is exactly-all).

    100-TB shape: ZERO exchanges — the score is the shared row-local
    `_pts_scored` spec, the key is one md5, membership one string
    compare; the pass composes map-side with any downstream consumer,
    exactly like the rebalance/split knobs. Plan-pinned narrow."""
    scored = _pts_scored(load(spark, sf_dir, "documents"), "lang")
    sample_key = F.substring(
        F.md5(F.concat(F.lit(_QWS_SALT), F.col("doc_id").cast("string"))),
        1,
        8,
    )
    keep = F.when(F.col("pts") == 10, F.lit(True))
    for p, t in sorted(_QWS_THRESHOLDS.items()):
        keep = keep.when(F.col("pts") == p, F.col("sample_key") < F.lit(t))
    return (
        scored.select(
            "doc_id",
            "lang",
            F.col("pts").cast("int").alias("pts"),
            sample_key.alias("sample_key"),
        )
        .filter(keep.otherwise(F.lit(False)))
    )


# --- r11: dedup survivorship-bias audit -------------------------------------


@register(
    "q_docs_dedup_bias_audit",
    oracle=f"""
WITH RECURSIVE {{pairs}},
surv AS (
  SELECT g.component,
    (ARRAY_AGG(g.doc_id ORDER BY COALESCE(d.n_chars, 0) DESC,
               g.doc_id ASC))[1] AS survivor
  FROM grp g JOIN documents d ON d.doc_id = g.doc_id
  GROUP BY g.component
),
verdicts AS (
  SELECT g.doc_id,
    CASE WHEN g.doc_id = s.survivor THEN 'kept' ELSE 'dropped' END AS verdict
  FROM grp g JOIN surv s USING (component)
),
{{pts}},
classed AS (
  SELECT sc.doc_id, COALESCE(sc.lang, 'und') AS stratum, sc.pts,
    COALESCE(v.verdict, 'unique') AS verdict
  FROM gscored sc LEFT JOIN verdicts v USING (doc_id)
)
SELECT stratum, verdict,
  CAST(COUNT(*) AS BIGINT) AS n_docs,
  CAST(SUM(CAST(pts AS BIGINT)) AS BIGINT) AS sum_pts,
  CAST((1000 * SUM(CAST(pts AS BIGINT))) // COUNT(*) AS BIGINT)
    AS mean_pts_milli
FROM classed
GROUP BY stratum, verdict
""".format(
        pairs=_BOTTOMK_PAIRS_CTE.format(src="documents", k=8, t=0.99),
        pts=_pts_cte_sql("lang"),
    ),
    survey_ref=(
        "beyond-reference: dedup survivorship-bias audit — per-stratum "
        "quality of kept vs dropped vs unique docs; composes the closure "
        "pipeline with the shared quality spec"
    ),
)
def q_docs_dedup_bias_audit(
    spark: SparkSession,
    sf_dir: str,
    pairs: DataFrame | None = None,
    comps: DataFrame | None = None,
) -> DataFrame:
    """Is dedup deleting the good copies? Near-dup survivor selection
    keeps the LONGEST document — a heuristic, not a quality judgement —
    so this audit reports, per language stratum, the exact mean quality
    (integer milli-points) of the docs dedup KEPT, the near-duplicates it
    DROPPED, and the UNIQUE remainder. A kept-mean materially below the
    dropped-mean is the signal to flip the survivor rule (e.g. to the
    `q_docs_quality_quantile_gate` points the audit itself uses — one
    shared `_pts_scored` spec, so the audit and the gate agree on what
    quality means). The edge suite constructs exactly that pathology: a
    longer-but-lower-quality duplicate wins, and the audit exposes it.

    100-TB shape: verdicts live on the Δ-sized dup-group relation (pairs
    from banded equi-joins, O(log n) closure rounds — the
    `dedup_survivors` machinery, same pair spec); quality is one
    row-local scoring pass; the only corpus-sized exchanges are the pair
    build and the final left join onto the scored corpus, and the report
    itself collapses to |strata|×3 rows under map-side combine. ``pairs``
    is the amortization seam shared with `dedup_components` /
    `dedup_survivors` (see the former's docstring): pass one persisted
    pair table (`sources.dedup_index.load_pair_table`) and the sweep this
    audit would otherwise re-run is a parquet scan instead; ``comps``
    (r13) shares the CLOSURE too (`load_comps_table`) — the bench showed
    the closure, not the pair build, dominates once pairs are shared."""
    from dblink_spark.operators.components import connected_components
    from dblink_spark.queries.dedup import bottomk_components

    d = load(spark, sf_dir, "documents")
    if comps is None:
        if pairs is None:
            # contraction arm (r16) — see bottomk_components
            comps = bottomk_components(d, k=8, threshold=0.99)
        else:
            # seam arm: saved pair tables round-trip the distinct output
            # a pre-closure min-neighbor contraction measured slower here (1b2312a)
            comps = connected_components(
                pairs, "doc1", "doc2", assume_distinct=True
            )
    docs = d.select(
        "doc_id",
        F.coalesce(F.col("n_chars"), F.lit(0)).cast("long").alias("len"),
    )
    surv = (
        comps.join(docs, comps["node"] == docs["doc_id"])
        .groupBy("component")
        .agg(
            F.min(
                F.struct(
                    (-F.col("len")).alias("neg_len"),
                    F.col("doc_id").alias("dd"),
                )
            ).getField("dd").alias("survivor")
        )
    )
    verdicts = comps.join(surv, "component").select(
        F.col("node").alias("doc_id"),
        F.when(F.col("node") == F.col("survivor"), F.lit("kept"))
        .otherwise(F.lit("dropped"))
        .alias("verdict"),
    )
    scored = _pts_scored(d, "lang")
    classed = scored.join(verdicts, "doc_id", "left").select(
        F.coalesce("lang", F.lit("und")).alias("stratum"),
        F.col("pts").cast("bigint").alias("pts"),
        F.coalesce("verdict", F.lit("unique")).alias("verdict"),
    )
    return classed.groupBy("stratum", "verdict").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("pts").cast("bigint").alias("sum_pts"),
        F.expr("(1000 * sum(pts)) div count(*)").cast("bigint").alias(
            "mean_pts_milli"
        ),
    )
